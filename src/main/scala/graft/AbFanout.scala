package graft

import scala.util.control.NonFatal

/** Developer-side interleaved A/B for a plan-time boolean conf: alternates the
  * `CONF` key on/off within ONE session (the conf is read at plan time),
  * timing each named query once per mode
  * per round — the same-JVM interleaving that cancels the box's minute-scale
  * load drift, which single whole-catalog runs cannot (observed swings of 3×
  * per query between back-to-back runs). Prints min-per-mode per query.
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, ROUNDS,
  * CONF (required: plan-time boolean conf key to flip); args = query names.
  */
object AbFanout {
  def main(args: Array[String]): Unit = {
    val confKey = sys.env.getOrElse("CONF",
      sys.error("CONF is required: the plan-time boolean conf key to flip on/off"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rounds = sys.env.getOrElse("ROUNDS", "3").toInt
    val spark = GraftSession.create("graft-abfanout")
    CatalogBench.warmUp(spark, sfDir)
    val names = args.toSeq
    val acc = scala.collection.mutable.Map
      .empty[(String, Boolean), List[Double]].withDefaultValue(Nil)
    for (r <- 1 to rounds; fan <- Seq(true, false); name <- names) {
      spark.conf.set(confKey, fan.toString)
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir).count()
        acc((name, fan)) ::= (System.nanoTime() - t0) / 1e9
      } catch { case NonFatal(t) =>
        System.err.println(s"[ab] $name fan=$fan FAILED: $t") }
    }
    names.foreach { n =>
      val on = acc((n, true)); val off = acc((n, false))
      if (on.nonEmpty && off.nonEmpty) {
        val (mOn, mOff) = (on.min, off.min)
        println(f"[ab] $n%-28s on=$mOn%7.3f off=$mOff%7.3f  on/off=${mOn / mOff}%5.2f" +
          s"  onAll=${on.map(x => f"$x%.2f").mkString(",")} offAll=${off.map(x => f"$x%.2f").mkString(",")}")
      }
    }
    spark.stop()
  }
}
