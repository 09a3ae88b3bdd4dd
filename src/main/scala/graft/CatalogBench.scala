package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.control.NonFatal

/** Catalog-only bench: exactly [[Bench]]'s warm-up + min-of-two per-query
  * timing — the two share [[warmUp]] and [[timeCatalog]] — WITHOUT the probe
  * / streaming / governance sections: the fast inner loop for optimization
  * rounds (a full [[Bench]] run costs ~30 min of wall; the catalog pass
  * costs ~6). Prints the same `"queries"` / `total` fields so before/after
  * diffs line up field-for-field.
  *
  * `runMain graft.CatalogBench [q_a q_b …]` times the named queries (all of
  * the catalog when none are named). Env: SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_CPUS.
  */
object CatalogBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.isEmpty) SparkEntry.queries.keys.toSeq else args.toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = GraftSession.create("graft-catalogbench")
    warmUp(spark, sfDir)
    val results = timeCatalog(spark, sfDir, names) { (name, t) =>
      System.err.println(s"[catbench] $name FAILED: $t")
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    println(s"""{"catalog_total":$total,"n":${results.size},"queries":$qs}""")
    spark.stop()
  }

  /** Touch every table and exercise scan→shuffle→join→agg codegen, so the
    * first timed query doesn't absorb JVM/codegen/session initialization.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    try {
      import org.apache.spark.sql.functions._
      Tables.AllTables.foreach(t => Tables.read(spark, sfDir, t).count())
      val o = Tables.orders(spark, sfDir).groupBy("o_custkey").count()
      Tables.customer(spark, sfDir)
        .join(o, col("c_custkey") === col("o_custkey"), "left").count()
    } catch { case NonFatal(_) => () }

  /** One timed `fn(spark, dir).count()` in seconds; -1.0 when it fails, so a
    * fast failure never reads as a timing.
    */
  def timeOnce(spark: SparkSession, dir: String, fn: (SparkSession, String) => DataFrame)(
      onError: Throwable => Unit = _ => ()): Double = {
    val t0 = System.nanoTime()
    try { fn(spark, dir).count(); (System.nanoTime() - t0) / 1e9 }
    catch { case NonFatal(t) => onError(t); -1.0 }
  }

  /** The faster of two runs; -1.0 if either failed. */
  def minOfTwo(a: Double, b: Double): Double =
    if (a < 0 || b < 0) -1.0 else math.min(a, b)

  /** Min-of-two per catalog query, in name order. Two executions per query,
    * report the faster: the first pays one-off whole-stage-codegen JIT
    * (~0.3-1 s/plan), which amortizes to nothing on a long-running engine —
    * steady-state plan cost is the comparable number. Each failed run is
    * reported to `onError`.
    */
  def timeCatalog(spark: SparkSession, sfDir: String, names: Seq[String])(
      onError: (String, Throwable) => Unit): Seq[(String, Double)] =
    names.sorted.map { name =>
      val fn = SparkEntry.queries(name)
      def once(): Double = timeOnce(spark, sfDir, fn)(onError(name, _))
      val a = once(); val b = once()
      name -> minOfTwo(a, b)
    }
}
