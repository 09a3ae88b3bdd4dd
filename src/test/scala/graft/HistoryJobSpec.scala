package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.RollupTable
import graft.streaming.{HistoryJob, StreamingDutyCycle}

class HistoryJobSpec extends AnyFunSuite with SharedSpark {

  test("streaming rollup job maintains the partitioned table incrementally") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val src = java.nio.file.Files.createTempDirectory("rsj_src").toString
    val table = java.nio.file.Files.createTempDirectory("rsj_tbl").toString
    val ckpt = java.nio.file.Files.createTempDirectory("rsj_ckpt").toString
    def rd(sec: Long, p: Double) = StreamingDutyCycle.PowerReading(
      new java.sql.Timestamp(sec * 1000L), "h0", "lamp", "h0_a0", p)
    spark.createDataset(Seq(rd(10, 1.0), rd(10, 2.0), rd(11, 3.0), rd(5000, 0.0)))
      .toDF().write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    def run(): Unit = RollupTable
      .streamingWriter(
        StreamingDutyCycle.rollupPlanFull(spark.readStream.schema(schema).parquet(src)),
        table, ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination(60000)
    run()
    // second increment: new data closes more buckets; restart resumes
    spark.createDataset(Seq(rd(5001, 7.0), rd(9999, 0.0)))
      .toDF().write.mode("append").parquet(src)
    run()
    val out = RollupTable.readSegments(spark, table)
      .select("epoch_s", "cnt", "sum_power_dec").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).doubleValue))
      .toSeq
    // each closed bucket lands once across the restart
    Seq((10L, 2L, 3.0), (11L, 1L, 3.0), (5001L, 1L, 7.0)).foreach { b =>
      assert(out.count(_ == b) == 1, s"bucket $b in $out")
    }
    // (date, hour) layout inside the segments
    val segs = new java.io.File(table).listFiles().filter(_.getName.startsWith("batch="))
    assert(segs.exists(_.list().exists(_.startsWith("date="))))
  }

  test("history run emits keyed JSON with the reference's field order and injected clock") {
    val jobTime = 1706572800123L
    val rows = HistoryJob.run(spark, sfDir, jobTime).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val key = r.getString(0)
      val json = r.getString(1)
      assert(json.startsWith("""{"house_id":"""))
      assert(json.contains(s""""timestamp":$jobTime"""))
      // field order pinned: house_id, appliance_id, avg_power, timestamp
      val idx = Seq("house_id", "appliance_id", "avg_power", "timestamp").map(json.indexOf)
      assert(idx == idx.sorted && idx.forall(_ >= 0))
      assert(json.contains(s""""house_id":"$key""""))
    }
  }

  test("retry policy: one retry recovers a flaky run, final failure alerts once") {
    // flaky: first attempt throws, retry succeeds — no alert
    var attempts = 0
    var alerts = List.empty[(Int, String)]
    val out = HistoryJob.withRetry(retries = 1, retryDelayMillis = 1L,
      onFailure = (n, e) => alerts ::= (n, e.getMessage)) {
      attempts += 1
      if (attempts < 2) sys.error("transient") else "ok"
    }
    assert(out == "ok" && attempts == 2 && alerts.isEmpty)
    // persistent: retries exhausted — alert fires once with the attempt
    // count, exception propagates
    var attempts2 = 0
    val thrown = intercept[RuntimeException] {
      HistoryJob.withRetry(retries = 1, retryDelayMillis = 1L,
        onFailure = (n, e) => alerts ::= (n, e.getMessage)) {
        attempts2 += 1
        sys.error("permanent")
      }
    }
    assert(thrown.getMessage == "permanent" && attempts2 == 2 &&
      alerts == List((2, "permanent")))
  }

  test("failure ledger: one row per exhausted policy, none on success (VERDICT r10 #5)") {
    // the email_on_failure artifact: exhausting the retry policy writes one
    // (job, batch_id, attempts, error, alert_ts) row; success and a
    // recovered retry write nothing
    val ledger = java.nio.file.Files.createTempDirectory("history_ledger").toString + "/rows"
    val alert = HistoryJob.failureLedger(spark, ledger, "history_avg", clock = () => 42L)
    // success path — no ledger rows (the path does not even exist)
    HistoryJob.withRetry(retries = 1, retryDelayMillis = 1L,
      (n, e) => alert(7L, n, e)) { "ok" }
    // recovered retry — still nothing
    var flaky = 0
    HistoryJob.withRetry(retries = 1, retryDelayMillis = 1L,
      (n, e) => alert(7L, n, e)) {
      flaky += 1; if (flaky < 2) sys.error("transient") else "ok"
    }
    assert(!new java.io.File(ledger).exists(), "ledger written without an exhausted policy")
    // exhaustion — exactly one row carrying the policy's full story
    intercept[RuntimeException] {
      HistoryJob.withRetry(retries = 1, retryDelayMillis = 1L,
        (n, e) => alert(7L, n, e)) { sys.error("permanent") }
    }
    val rows = spark.read.parquet(ledger).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("job") == "history_avg")
    assert(r.getAs[Long]("batch_id") == 7L)
    assert(r.getAs[Int]("attempts") == 2)
    assert(r.getAs[String]("error").contains("permanent"))
    assert(r.getAs[Long]("alert_ts") == 42L)
    // a second exhausted run APPENDS (the ledger is a history, not a flag)
    intercept[RuntimeException] {
      HistoryJob.withRetry(retries = 0, retryDelayMillis = 1L,
        (n, e) => alert(8L, n, e)) { sys.error("again") }
    }
    assert(spark.read.parquet(ledger).count() == 2)
  }

  test("batch write is idempotent under retry: no duplicated rows after re-run") {
    // simulate attempt 1 leaving committed part-files, then a full retry
    val out = java.nio.file.Files.createTempDirectory("history_retry").toString
    val df = HistoryJob.run(spark, sfDir, 42L)
    df.write.mode("overwrite").json(s"$out/batch_0")
    val once = spark.read.json(s"$out/batch_0").count()
    df.write.mode("overwrite").json(s"$out/batch_0") // the retry
    assert(spark.read.json(s"$out/batch_0").count() == once,
      "retrying the batch write must not duplicate rows")
  }

  test("scheduled run executes under AvailableNow and writes one batch") {
    val out = java.nio.file.Files.createTempDirectory("history").toString
    val q = HistoryJob.scheduled(spark, sfDir, out, clock = () => 42L)
    q.awaitTermination(60000)
    val batches = new java.io.File(out).listFiles().filter(_.getName.startsWith("batch_"))
    assert(batches.nonEmpty)
    val raw = spark.read.json(batches.head.getPath) // columns: key, value(json string)
    assert(raw.count() > 0)
    import spark.implicits._
    val inner = spark.read.json(raw.select("value").as[String])
    assert(inner.select("timestamp").distinct().head().getLong(0) == 42L)
  }
}
