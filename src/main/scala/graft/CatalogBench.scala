package graft

import scala.util.control.NonFatal

/** Builder-side catalog-only bench: exactly [[Bench]]'s warmup + min-of-two
  * per-query timing over the full declared catalog, WITHOUT the probe /
  * streaming / governance sections — the fast inner loop for optimization
  * rounds (a full [[Bench]] run costs ~30 min of wall; the catalog pass the
  * driver compares totals on costs ~6). Prints the same `"queries"` /
  * `total` fields so before/after diffs line up field-for-field.
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, GRAFT_ONLY (comma-separated
  * query subset, optional).
  */
object CatalogBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val only: Option[Set[String]] =
      sys.env.get("GRAFT_ONLY").map(_.split(",").toSet)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.tune(spark)
    try {
      import org.apache.spark.sql.functions._
      val tables = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
      tables.foreach(t => Tables.read(spark, sfDir, t).count())
      val o = Tables.orders(spark, sfDir).groupBy("o_custkey").count()
      Tables.customer(spark, sfDir)
        .join(o, col("c_custkey") === col("o_custkey"), "left").count()
    } catch { case NonFatal(_) => () }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
        def once(): Double = {
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
          catch { case NonFatal(t) =>
            System.err.println(s"[catbench] $name FAILED: $t"); -1.0 }
        }
        val a = once(); val b = once()
        name -> (if (a < 0 || b < 0) -1.0 else math.min(a, b))
      }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    println(s"""{"catalog_total":$total,"n":${results.size},"queries":$qs}""")
    spark.stop()
  }
}
