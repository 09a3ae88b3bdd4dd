package graft

/** Builder-side micro-timer: run named catalog queries N times each and print
  * per-run wall times. Narrower and faster than a full [[Bench]] sweep when
  * iterating on one query's plan (`runMain graft.TimeQueries q_rfm q_substr_dup`;
  * env: SF_DIR, RUNS, SPARK_GRAFT_CPUS).
  */
object TimeQueries {
  def main(a: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.tune(spark)
    val sfDir = sys.env.getOrElse("SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("RUNS", "3").toInt
    val names = if (a.isEmpty) Seq("q_rfm") else a.toSeq
    for (n <- names; i <- 1 to runs) {
      val t0 = System.nanoTime()
      val c = SparkEntry.queries(n)(spark, sfDir).count()
      println(s"[time] $n run$i $c rows ${(System.nanoTime() - t0) / 1e9}s")
    }
    spark.stop()
  }
}
