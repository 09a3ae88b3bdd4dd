package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name subset (builder-local
    // iteration aid; the driver always calls with exactly 2 args)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.create("graft-verify")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Loud one-line verdict on BOTH streams: a query that fails here simply
    // has no output dir, so it silently vanishes from the driver's
    // correctness table (round 6 lost 34 rows to a testdata dtype change
    // with zero surfaced signal). The summary makes a partial run
    // self-identifying in any captured log.
    val ran = SparkEntry.queries.count { case (n, _) => only.forall(_.contains(n)) }
    val verdict =
      s"[verify] SUMMARY: ${ran - failed.size}/$ran ok" +
        (if (failed.isEmpty) "" else s"; FAILED: ${failed.sorted.mkString(",")}")
    println(verdict)
    System.err.println(verdict)
    // the harness's one writer escapes backslash, quote and ALL control chars (<0x20) — a tab or CR in builder-authored SQL would
    // otherwise make the driver's json.load fail and silently zero the
    // round's correctness.
    val json = Json.write(Json.obj(SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }.toSeq: _*))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
