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
  *
  * With `CONF` set it is the developer-side interleaved A/B for that
  * plan-time boolean conf instead: the key alternates on/off within ONE
  * session (the conf is read at plan time), timing each named query once
  * per mode per round, `ROUNDS` rounds (default 3) — the same-JVM
  * interleaving that cancels the box's minute-scale load drift, which
  * single whole-catalog runs cannot (observed swings of 3× per query
  * between back-to-back runs). Prints one `[ab]` line of min-per-mode per
  * query.
  *
  * Every timed region of the harness mains goes through [[timed]], the one
  * clock.
  */
object CatalogBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.isEmpty) SparkEntry.queries.keys.toSeq else args.toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = GraftSession.create("graft-catalogbench")
    warmUp(spark, sfDir)
    sys.env.get("CONF") match {
      case Some(confKey) =>
        abRounds(spark, sfDir, names, confKey, sys.env.getOrElse("ROUNDS", "3").toInt)
      case None =>
        val results = timeCatalog(spark, sfDir, names) { (name, t) =>
          System.err.println(s"[catbench] $name FAILED: $t")
        }
        println(Json.write(Json.obj("catalog_total" -> Bench.catalogTotal(results),
          "n" -> results.size, "queries" -> Json.obj(results: _*))))
    }
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

  /** `body`'s value and the wall seconds it took: the one clock. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** The wall seconds `body` took. */
  def secs(body: => Any): Double = timed(body)._2

  /** The faster of two runs of `body`, in seconds. */
  def bestOfTwo(body: => Any): Double = math.min(secs(body), secs(body))

  /** One timed `fn(spark, dir).count()` in seconds; -1.0 when it fails, so a
    * fast failure never reads as a timing.
    */
  def timeOnce(spark: SparkSession, dir: String, fn: (SparkSession, String) => DataFrame)(
      onError: Throwable => Unit = _ => ()): Double =
    try secs(fn(spark, dir).count())
    catch { case NonFatal(t) => onError(t); -1.0 }

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

  /** The interleaved A/B rounds: `confKey` on, then off, over `names`, for
    * `rounds` rounds; a failed run is reported and left out of its mode.
    */
  private def abRounds(spark: SparkSession, sfDir: String, names: Seq[String],
      confKey: String, rounds: Int): Unit = {
    val acc = scala.collection.mutable.Map
      .empty[(String, Boolean), List[Double]].withDefaultValue(Nil)
    for (_ <- 1 to rounds; fan <- Seq(true, false); name <- names) {
      spark.conf.set(confKey, fan.toString)
      val t = timeOnce(spark, sfDir, SparkEntry.queries(name))(e =>
        System.err.println(s"[ab] $name fan=$fan FAILED: $e"))
      if (t >= 0) acc((name, fan)) ::= t
    }
    names.foreach { n =>
      val on = acc((n, true)); val off = acc((n, false))
      if (on.nonEmpty && off.nonEmpty) {
        val (mOn, mOff) = (on.min, off.min)
        println(f"[ab] $n%-28s on=$mOn%7.3f off=$mOff%7.3f  on/off=${mOn / mOff}%5.2f" +
          s"  onAll=${on.map(x => f"$x%.2f").mkString(",")} offAll=${off.map(x => f"$x%.2f").mkString(",")}")
      }
    }
  }
}
