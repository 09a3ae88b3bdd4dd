package graft

/** Builder-side plan dumper: write `.explain("formatted")` for named catalog
  * queries to `OUT_DIR/<name><SUFFIX>.txt` — the before/after plan evidence
  * the optimization rounds commit under `plans/`. No timing, no actions (the
  * formatted plan is the pre-execution adaptive plan, same as an `explain`
  * call before the first action).
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, OUT_DIR (default plans),
  * SUFFIX (default `_after`), CONFS (comma-separated `key=value` session
  * confs set before planning); args = query names (empty = whole catalog).
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("OUT_DIR", "plans")
    val suffix = sys.env.getOrElse("SUFFIX", "_after")
    val confs = sys.env.get("CONFS").toSeq.flatMap(_.split(',').filter(_.nonEmpty)).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k -> v
        case _ => sys.error(s"CONFS entry '$kv' is not key=value")
      }
    }
    val spark = GraftSession.create("graft-dumpplans")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    new java.io.File(outDir).mkdirs()
    val names = if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.toSeq
    // fail fast on unknown names BEFORE writing any file (ADVICE r16 #3: a
    // raw NoSuchElementException mid-loop left a partial dump)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    names.foreach { n =>
      val plan = SparkEntry.queries(n)(spark, sfDir)
        .queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/$n$suffix.txt"), plan)
      println(s"[plans] wrote $outDir/$n$suffix.txt")
    }
    spark.stop()
  }
}
