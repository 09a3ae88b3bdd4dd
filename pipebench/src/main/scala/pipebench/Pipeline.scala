package pipebench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.GraftSession
import graft.operators.Dashboard
import graft.sources.RollupTable
import graft.streaming.{HistoryJob, KafkaWire, StreamingDutyCycle}

/** A workload. `ingest` drives the stream path (wire decode, both
  * streaming queries, the segment sink); `dashboard` drives the serving
  * path (lattice build and maintenance, routed tiles, the history job).
  * `rate` also sets the key count (see [[Shape]]); `overloadRows` is the
  * size of one backlog round. `idleLayers` are the
  * prefixes of the per-layer metrics the workload does not drive: a traced
  * run reports them as 0, and any other absent metric as missing.
  */
final case class Profile(name: String, rate: Int, overloadRows: Int, archiveRows: Int,
    idleLayers: Seq[String]) {
  def streams: Boolean = overloadRows > 0
}

object Profile {
  val all: Seq[Profile] = Seq(
    Profile("ingest", rate = 2400, overloadRows = 40000, archiveRows = 0, idleLayers = Seq(
      "graftsession.", "rolluprewrite.", "dashboard.", "historyjob.", "selftime.graftsession_",
      "selftime.rolluprewrite_", "selftime.dashboard_", "selftime.historyjob_", "selftime.spark_")),
    Profile("dashboard", rate = 24000, overloadRows = 0, archiveRows = 60000, idleLayers = Seq(
      "avrowire.", "dutycycle.", "rollupstream.", "rolluptable.", "ingest.", "generator.release_lag_",
      "generator.rows_offered", "selftime.avrowire_", "selftime.dutycycle_", "selftime.rolluptable_")))

  def named(n: String): Profile = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $n; known: ${all.map(_.name).mkString(", ")}"))
}

final case class RunArgs(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, overloadOnly: Boolean = false)

final case class Outcome(attempted: Long, failed: Long, errors: Seq[String],
    endToEnd: Map[String, Double], perLayer: Map[String, Double], idleLayers: Seq[String],
    detail: Map[String, Any])

/** One benchmark run: stage the inputs, set the engine up, drive the
  * workload's path for the measured span, then check every output.
  */
final class Pipeline(args: RunArgs) {
  import Pipeline._

  private val profile = Profile.named(args.workload)
  private val backlogRounds = if (args.overloadOnly) 1 else BacklogRounds
  private val shape = Shape(
    rate = profile.rate,
    fixedSeconds =
      if (!profile.streams) 0
      else if (args.overloadOnly) OneCoreWarmupSeconds
      else WarmupSeconds + args.seconds + 1,
    overloadRows = profile.overloadRows * backlogRounds,
    backlogRounds = backlogRounds,
    archiveRows = profile.archiveRows)
  private val layout = Layout(args.work)
  private val archive = layout.archive.toString
  private val rollupPath = layout.root.resolve("lattice/powerraw").toString
  private val tracer = new Tracer(args.trace, s"${profile.name}-${args.seed}-${System.currentTimeMillis()}")
  private val attempted = new AtomicLong
  private val errors = new ConcurrentLinkedQueue[String]()
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private val marks = mutable.LinkedHashMap.empty[String, Double]
  /** Figures kept for reading a run's report, not as metrics. */
  private val details = mutable.LinkedHashMap.empty[String, Any]
  private val startNs = System.nanoTime()
  private def mark(name: String): Unit = marks(name) = (System.nanoTime() - startNs) / 1e9

  private def attempt[T](what: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(body)
    catch { case NonFatal(e) => errors.add(s"$what: ${e.toString.take(300)}"); None }
  }

  private def check(what: String)(body: => Seq[String]): Unit =
    tracer.span(s"check.$what")(attempt(s"check $what")(body)).foreach { bad =>
      if (bad.nonEmpty) errors.add(bad.mkString("; "))
    }

  def run(): Outcome = {
    val processStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = loadAvg()
    // staging overlaps the Spark context's start; set-up counts only the
    // wait for staging left after it
    val staging = java.util.concurrent.Executors.newSingleThreadExecutor()
    val stagedF = staging.submit(() => tracer.span("generator.stage")(
      new Generator(args.seed, shape).stage(layout.root, Runtime.getRuntime.availableProcessors())))
    staging.shutdown()
    val base = GraftSession.create(s"pipebench-${profile.name}")
    val sentinelStart = sentinelSec(base)
    val waitT0 = System.nanoTime()
    val staged = stagedF.get()
    val stagingWaitS = (System.nanoTime() - waitT0) / 1e9
    val counters = new SparkCounters
    base.sparkContext.addSparkListener(counters)
    layers("generator.prepare_s") = staged.prepareSec
    mark("staged")

    val e2e =
      if (profile.streams) ingest(base, staged, processStartMs, sentinelStart + stagingWaitS)
      else serve(base, processStartMs, sentinelStart + stagingWaitS)
    mark("done")

    if (args.trace && !args.overloadOnly) traceLayers(base, counters)
    val health = Map(
      "run.load_avg_start" -> loadStart, "run.load_avg_end" -> loadAvg(),
      "run.sentinel_start_s" -> sentinelStart, "run.sentinel_end_s" -> sentinelSec(base),
      "run.error_rate" -> errors.size.toDouble / math.max(1L, attempted.get))
    layers ++= health
    if (args.trace) Files.writeString(layout.root.resolve("trace.json"), tracer.toJson)
    Outcome(attempted.get, errors.size, errors.asScala.toSeq, e2e, layers.toMap, profile.idleLayers,
      Map("workload" -> profile.name, "seed" -> args.seed, "seconds" -> args.seconds,
        "offered_rate_rows_per_s" -> profile.rate, "backlog_rows" -> staged.backlogRows,
        "archive_rows" -> profile.archiveRows, "prepare_s" -> staged.prepareSec,
        "health" -> health, "marks_s" -> marks,
        "samples" -> layers.filter(_._1.endsWith("_samples"))) ++ details)
  }

  // ---------------------------------------------------------------------------
  // ingest: the Avro stream through both streaming queries
  // ---------------------------------------------------------------------------

  /** Set-up is the session plus both streams started. The fixed offered
    * rate then runs through a warm-up and the measured span; once every duty
    * window and rollup bucket ending inside the span has committed and the
    * streams are idle, the overload backlog goes out in [[BacklogRounds]]
    * rounds, each at once into idle streams, and drains at capacity.
    */
  private def ingest(base: SparkSession, staged: Staged, processStartMs: Long,
      excludedS: Double): Map[String, Double] = {
    val spark = base.newSession()
    val progress = new StreamProgress
    spark.streams.addListener(progress)
    val queries = tracer.span("streams.start")(startStreams(spark))
    val setupS = (System.currentTimeMillis() - processStartMs) / 1000.0 - excludedS
    mark("setup")

    val releaser = new Releaser(staged.stream)
    val measuredEndMs = Timeline.EventBaseMs + (WarmupSeconds + args.seconds) * 1000L * Timeline.Playback
    def committed(q: String) =
      progress.batches(q).flatMap(StreamProgress.watermarkMs).exists(_ >= measuredEndMs)
    // the fixed rate runs a second past the measured span, enough to carry
    // the watermark past it; the streams then settle: every window ending in
    // the span committed, every row processed and both queries idle
    def committedSpan = args.overloadOnly || (committed(DutyQuery) && committed(RollupQuery))
    releaser.startFixed()
    val deadline = System.currentTimeMillis() + (shape.fixedSeconds + MaxTailSeconds).toLong * 1000L
    while ((releaser.fixedRunning || !committedSpan) && System.currentTimeMillis() < deadline &&
      progress.failures.isEmpty) Thread.sleep(20)
    if (!(committedSpan && awaitIdle(queries, progress, releaser.releasedRows, deadline)))
      errors.add("the fixed-rate phase did not settle")
    mark("fixed_rate")
    // released into idle streams, a round is all either one drains; its
    // drain ends when both are idle again, every window and bucket it closed
    // written
    val drains = (1 to backlogRounds).map { k =>
      val wall = releaser.releaseBacklog(k)
      val rows = staged.round(k).map(_.rows.toLong).sum
      if (!awaitIdle(queries, progress, releaser.releasedRows, System.currentTimeMillis() + DrainTimeoutMs))
        errors.add(s"streams did not drain a $rows-row backlog round")
      (wall, drainRate(Seq(DutyQuery, RollupQuery).map(progress.batches), rows, wall))
    }
    queries.foreach(_.stop())
    progress.failures.asScala.foreach(f => errors.add(s"stream terminated: $f"))
    mark("overload")
    val duty = progress.batches(DutyQuery)
    val roll = progress.batches(RollupQuery)
    attempted.addAndGet(duty.size + roll.size)
    details("batches") = Seq(DutyQuery -> duty, RollupQuery -> roll).toMap.map { case (q, bs) =>
      q -> bs.map(b => Seq(b.batchId, StreamProgress.startMs(b) - drains.head._1,
        StreamProgress.duration(b, "triggerExecution"), b.numInputRows))
    }
    details("backlog_rounds_rows_per_s") = drains.map(_._2)
    val rowsPerS = Stats.median(drains.map(_._2))
    if (args.overloadOnly) return Map("throughput_per_s" -> rowsPerS)

    val dutyL = Stats.summarize(latencies(duty, releaser, dutyResults(spark)))
    val rollL = Stats.summarize(latencies(roll, releaser, rollupResults(spark)))
    val lags = releaser.releaseLagsMs
    layers ++= Map(
      "generator.release_lag_ms_p50" -> Stats.percentile(lags, 50),
      "generator.release_lag_ms_p99" -> Stats.percentile(lags, 99),
      "generator.rows_offered" -> releaser.releasedRows.toDouble,
      "dutycycle.latency_p50_ms" -> dutyL.p50, "dutycycle.latency_p90_ms" -> dutyL.p90,
      "dutycycle.latency_samples" -> dutyL.n.toDouble,
      "rollupstream.latency_p50_ms" -> rollL.p50, "rollupstream.latency_p90_ms" -> rollL.p90,
      "rollupstream.latency_samples" -> rollL.n.toDouble,
      "ingest.rows_per_s_4core" -> rowsPerS)
    layers ++= streamLayer("dutycycle", duty) ++ streamLayer("rollupstream", roll)
    // the rollup query's sink is RollupTable.streamingWriter, whose batch
    // body is writeSegment: each addBatch is one segment write
    layers ++= Seq(50, 90).map(q => s"rolluptable.write_segment_ms_p$q" ->
      Stats.percentile(roll.map(b => StreamProgress.duration(b, "addBatch").toDouble), q))

    val dutyWm = duty.flatMap(StreamProgress.watermarkMs).lastOption.getOrElse(0L)
    val rollWm = roll.flatMap(StreamProgress.watermarkMs).lastOption.getOrElse(0L)
    // one of the five houses per run, by seed: the checks' batch plans
    // would otherwise cost as much as the run's whole fixed-rate phase
    val house = s"1_1_${Math.floorMod(args.seed, 5L)}"
    val released = Checks.releasedReadings(spark, layout).cache()
    check("duty")(Checks.dutyCycle(spark, released, layout, house, staged.late, dutyWm))
    check("rollup")(Checks.rollup(spark, released, layout, house, staged.late, rollWm))
    released.unpersist()
    mark("checks")
    Map(
      "setup_s" -> setupS,
      "latency_p50_ms" -> dutyL.p50,
      "latency_p90_ms" -> dutyL.p90,
      "throughput_per_s" -> rowsPerS)
  }

  private def startStreams(spark: SparkSession): Seq[StreamingQuery] = {
    // a backlog round arrives as one directory, so the source looks below the top level
    def readings: DataFrame = KafkaWire.decode(
      spark.readStream.schema(Checks.FrameSchema).option("recursiveFileLookup", "true")
        .parquet(layout.incoming.toString)).toDF()
    val dutyOut = layout.out("duty").toString
    val duty = StreamingDutyCycle.planAuto(readings).writeStream
      .queryName(DutyQuery)
      .option("checkpointLocation", layout.out("checkpoint/duty").toString)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        tracer.span("dutycycle.sink") {
          StreamingDutyCycle.toKeyedRecords(batch).write.mode("overwrite").parquet(s"$dutyOut/batch=$id")
        }
      }
    val rollup = RollupTable.streamingWriter(StreamingDutyCycle.rollupPlanFull(readings),
      layout.out("segments").toString, layout.out("checkpoint/rollup").toString)
    Seq(duty.start(), rollup.queryName(RollupQuery).start())
  }

  /** (batch id, window end ms, result rows) of every duty-cycle row written. */
  private def dutyResults(spark: SparkSession): Seq[(Long, Long, Long)] =
    spark.read.parquet(layout.out("duty").toString)
      .select(col("batch"),
        from_json(col("value"), graft.streaming.TopicCodecs.DutyCycleSchema)("time_end").as("end"))
      .groupBy("batch", "end").count()
      .collect().toSeq.map(r => (r.getAs[Number](0).longValue, r.getTimestamp(1).getTime, r.getLong(2)))

  /** (batch id, bucket end ms, 1) of every 1 s bucket in the segment store. */
  private def rollupResults(spark: SparkSession): Seq[(Long, Long, Long)] = {
    val seg = layout.out("segments").toString
    spark.read.option("basePath", seg).parquet(seg)
      .select(col("batch"), col("bucket")).distinct()
      .collect().toSeq.map(r => (r.getAs[Number](0).longValue, r.getTimestamp(1).getTime + 1000L, 1L))
  }

  /** Commit wall time minus the due wall time of the result's window end,
    * weighted by result rows, for windows ending inside the measured span.
    */
  private def latencies(batches: Seq[StreamingQueryProgress], releaser: Releaser,
      results: Seq[(Long, Long, Long)]): Seq[(Double, Long)] = {
    val commit = batches.map(b => b.batchId -> StreamProgress.commitMs(b)).toMap
    val fromMs = Timeline.EventBaseMs + WarmupSeconds * 1000L * Timeline.Playback
    val toMs = fromMs + args.seconds * 1000L * Timeline.Playback
    results.flatMap { case (batch, end, n) =>
      commit.get(batch).filter(_ => end > fromMs && end <= toMs)
        .map(c => (c - releaser.dueWallMs(Timeline.dueOffsetMs(end)), n))
    }
  }

  private def streamLayer(prefix: String, bs: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def p(key: String, q: Double) =
      if (bs.isEmpty) 0.0 else Stats.percentile(bs.map(b => StreamProgress.duration(b, key).toDouble), q)
    val ops = bs.flatMap(_.stateOperators.headOption)
    Map(
      s"$prefix.trigger_ms_p50" -> p("triggerExecution", 50),
      s"$prefix.trigger_ms_p90" -> p("triggerExecution", 90),
      s"$prefix.add_batch_ms_p50" -> p("addBatch", 50),
      s"$prefix.get_batch_ms_p50" -> p("getBatch", 50),
      s"$prefix.query_planning_ms_p50" -> p("queryPlanning", 50),
      s"$prefix.wal_commit_ms_p50" -> p("walCommit", 50),
      s"$prefix.batches" -> bs.size.toDouble,
      s"$prefix.input_rows" -> bs.map(_.numInputRows).sum.toDouble,
      s"$prefix.state_rows" -> ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      s"$prefix.state_bytes" -> ops.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      s"$prefix.late_rows_dropped" -> ops.map(_.numRowsDroppedByWatermark).sum.toDouble)
  }

  // ---------------------------------------------------------------------------
  // dashboard: the lattice, maintained and served
  // ---------------------------------------------------------------------------

  /** Set-up is the session plus `GraftSession.open` building the lattice
    * (1 s, 60 s and 3600 s levels). `GraftSession.maintain` then refreshes
    * the archive's open hour, and the closed-loop client cycles through the
    * dashboard's tiles, a tile the rewrite cannot route and the history job
    * for the measured span and at least [[MinCycles]] whole cycles.
    */
  private def serve(base: SparkSession, processStartMs: Long, excludedS: Double): Map[String, Double] = {
    val openT0 = System.nanoTime()
    val spark = tracer.span("graftsession.open")(
      GraftSession.open(archive, rollupPath, s"pipebench-${profile.name}", Seq(60L, 3600L)))
    val openS = (System.nanoTime() - openT0) / 1e9
    Dashboard.registerViews(spark, archive)
    val setupS = (System.currentTimeMillis() - processStartMs) / 1000.0 - excludedS
    mark("setup")

    group(spark, "maintain")
    val maintainS = attempt("maintain")(time(tracer.span("graftsession.maintain")(
      GraftSession.maintain(spark, archive, rollupPath, OpenHourS))))
    mark("maintain")

    val runs = mutable.ArrayBuffer.empty[TileRun]
    val routed = mutable.LinkedHashMap.empty[String, Seq[Row]]
    val historyS = mutable.ArrayBuffer.empty[Double]
    var lastHistory = Seq.empty[Row]
    val ops = AllTiles.keys.toSeq.sorted :+ "history"
    val spanT0 = System.nanoTime()
    val spanEnd = spanT0 + args.seconds * 1000000000L
    var i = 0
    while (i % ops.size != 0 || i < MinCycles * ops.size || System.nanoTime() < spanEnd) {
      ops(i % ops.size) match {
        case "history" =>
          group(spark, "history")
          val t0 = System.nanoTime()
          attempt("history job")(tracer.span("historyjob.run")(
            HistoryJob.run(spark, archive, JobTimeMillis).collect())).foreach { rows =>
            historyS += (System.nanoTime() - t0) / 1e9
            lastHistory = rows.toSeq
          }
        case name =>
          group(spark, s"tile:$name")
          val t0 = System.nanoTime()
          attempt(s"tile $name")(tracer.span("dashboard.tile") {
            val df = tracer.span("rolluprewrite.optimize") {
              val d = spark.sql(AllTiles(name)); d.queryExecution.optimizedPlan; d
            }
            (df, tracer.span("spark.collect")(df.collect().toSeq))
          }).foreach { case (df, rows) =>
            val ms = (System.nanoTime() - t0) / 1e6
            val phases = df.queryExecution.tracker.phases
            def phase(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
            val served = readsLattice(df.queryExecution.optimizedPlan)
            runs += TileRun(name, ms, served, phase("analysis"), phase("optimization"), phase("planning"))
            if (served) routed(name) = rows
          }
      }
      i += 1
    }
    val spanS = (System.nanoTime() - spanT0) / 1e9
    mark("serve")

    check("history")(Checks.history(spark, lastHistory, rollupPath))
    check("tiles")(Checks.tiles(spark,
      DashboardTiles.flatMap { case (n, sql) => routed.get(n).map(r => (n, sql, r)) }))
    if (runs.exists(t => t.name == UnroutableTile && t.served))
      errors.add("the unroutable tile was served from the rollup")
    mark("checks")

    val all = runs.toSeq
    val tile = Stats.summarize(all.map(t => (t.ms, 1L)))
    layers ++= Map(
      "graftsession.open_s" -> openS,
      "graftsession.maintain_s" -> maintainS.getOrElse(0.0),
      "rolluprewrite.analysis_ms_p50" -> Stats.percentile(all.map(_.analysisMs), 50),
      "rolluprewrite.optimization_ms_p50" -> Stats.percentile(all.map(_.optimizationMs), 50),
      "rolluprewrite.planning_ms_p50" -> Stats.percentile(all.map(_.planningMs), 50),
      "rolluprewrite.served_frac" -> all.count(_.served).toDouble / math.max(1, all.size),
      "dashboard.tile_latency_p99_ms" -> tile.p99,
      "dashboard.tile_samples" -> tile.n.toDouble,
      "historyjob.run_s" -> (if (historyS.isEmpty) 0.0 else Stats.median(historyS.toSeq))) ++
      AllTiles.keys.toSeq.sorted.map { t =>
        s"dashboard.${t}_ms_p50" -> Stats.percentile(all.filter(_.name == t).map(_.ms), 50)
      }
    Map(
      "setup_s" -> setupS,
      "latency_p50_ms" -> tile.p50,
      "latency_p90_ms" -> tile.p90,
      "throughput_per_s" -> (all.size + historyS.size) / spanS)
  }

  // ---------------------------------------------------------------------------
  // the traced run's extra per-layer figures
  // ---------------------------------------------------------------------------

  private def traceLayers(spark: SparkSession, counters: SparkCounters): Unit = {
    if (profile.streams) {
      // the wire decode alone, over every released frame
      group(spark, "decode")
      val decodeS = time(tracer.span("avrowire.decode")(
        Checks.releasedReadings(spark, layout).select(sum(length(col("appliance_id")))).head()))
      val segDir = layout.out("segments")
      val segFiles = Files.walk(segDir).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).toSeq
      val segBytes = segFiles.map(Files.size).sum.toDouble
      val segRows = RollupTable.readSegments(spark, segDir.toString).count().toDouble
      val segments = Files.list(segDir).iterator().asScala.count(_.getFileName.toString.startsWith("batch="))
      val compactS = time(tracer.span("rolluptable.compact")(
        RollupTable.compactSegments(spark, segDir.toString)))
      layers ++= Map(
        "avrowire.decode_rows_per_s" -> layers("generator.rows_offered") / decodeS,
        "dutycycle.output_rows" -> spark.read.parquet(layout.out("duty").toString).count().toDouble,
        "rollupstream.output_rows" -> segRows,
        "rolluptable.segments_written" -> segments.toDouble,
        "rolluptable.files_written" -> segFiles.size.toDouble,
        "rolluptable.bytes_written" -> segBytes,
        "rolluptable.bytes_per_input_row" -> segBytes / math.max(1.0, layers("rollupstream.input_rows")),
        "rolluptable.compact_s" -> compactS)
    }
    Thread.sleep(1000) // listener events arrive asynchronously
    val tiles = counters.sum(_.startsWith("tile:"))
    val tileRuns = math.max(1.0, layers.getOrElse("dashboard.tile_samples", 0.0))
    val hist = counters.sum(_ == "history")
    val all = counters.sum(_ => true)
    val tasks = counters.taskDurationsMs
    layers ++= Map(
      "avrowire.decode_busy_s" -> counters.sum(_ == "decode").runMs / 1000.0,
      "dashboard.jobs_per_tile" -> tiles.jobs / tileRuns,
      "dashboard.tasks_per_tile" -> tiles.tasks / tileRuns,
      "dashboard.rows_scanned_per_tile" -> tiles.recordsRead / tileRuns,
      "historyjob.stages" -> hist.stages.toDouble,
      "historyjob.shuffle_bytes" -> hist.shuffleWriteBytes.toDouble,
      "spark.jobs" -> all.jobs.toDouble,
      "spark.stages" -> all.stages.toDouble,
      "spark.tasks" -> all.tasks.toDouble,
      "spark.task_ms_p50" -> Stats.percentile(tasks, 50),
      "spark.task_ms_max" -> tasks.max,
      "spark.shuffle_write_bytes" -> all.shuffleWriteBytes.toDouble,
      "spark.spill_bytes" -> all.spillBytes.toDouble,
      "spark.gc_ms" -> all.gcMs.toDouble,
      "jvm.heap_peak_mb" -> ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0)
    layers ++= Tracer.selfTimeSec(tracer.all).collect {
      case (layer, s) if SelfTimeLayers(layer) => s"selftime.${layer}_s" -> s
    }
  }
}

final case class TileRun(name: String, ms: Double, served: Boolean,
    analysisMs: Double, optimizationMs: Double, planningMs: Double)

object Pipeline {
  val DutyQuery = "dutycycle"
  val RollupQuery = "rollupstream"
  /** Longest the streams may take, after the fixed rate's last file, to
    * commit the span's windows.
    */
  val MaxTailSeconds = 60
  /** Wall seconds of fixed rate before the measured span: the first
    * triggers of a fresh process compile and load what they run.
    */
  val WarmupSeconds = 4
  /** Wall seconds of fixed rate before the single-core leg's backlog. */
  val OneCoreWarmupSeconds = 2
  /** Backlog rounds in a run; the run reports their median drain rate. */
  val BacklogRounds = 2
  val DrainTimeoutMs = 120000L
  val IdlePauseMs = 200L
  /** Whole client cycles a dashboard run makes at least (ten operations
    * each), so its tile-latency percentiles rest on 27 tiles or more.
    */
  val MinCycles = 3
  val OpenHourS: Long = Timeline.EventBaseMs / 1000L
  val JobTimeMillis = 1706572800000L // Grid.NowEpoch, the tiles' fixed "now"

  val DashboardTiles: Seq[(String, String)] = Dashboard.tiles.toSeq.sortBy(_._1)
  /** A predicate on the measure: the rewrite must leave it on the raw scan. */
  val UnroutableTile = "unroutable_power_filter"
  val UnroutableSql = "SELECT house_id, count(*) AS n FROM power WHERE power > 100 GROUP BY house_id"
  val AllTiles: Map[String, String] = (DashboardTiles :+ (UnroutableTile -> UnroutableSql)).toMap
  val SelfTimeLayers: Set[String] = Set("generator", "graftsession", "dashboard", "rolluprewrite",
    "spark", "historyjob", "rolluptable", "dutycycle", "avrowire", "check")

  def group(spark: SparkSession, g: String): Unit = spark.sparkContext.setJobGroup(g, g)

  def readsLattice(plan: LogicalPlan): Boolean = plan.collectLeaves().exists {
    case l: LogicalRelation => l.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths.exists(_.toString.contains("/lattice/powerraw"))
      case _ => false
    }
    case _ => false
  }

  def time(body: => Any): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }

  def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** A fixed amount of CPU work (the same in every run and every version):
    * a slow reading next to a normal run identifies a contended box.
    */
  def sentinelSec(spark: SparkSession): Double = {
    def once(): Double = time(spark.range(40L * 1000 * 1000).select(sum(col("id") % 7)).head())
    math.min(once(), once())
  }

  /** Backlog rows per second of wall time from their release until the
    * last batch either stream started after it committed: the batches that
    * read the rows and those their watermark advance ran.
    */
  def drainRate(queries: Seq[Seq[StreamingQueryProgress]], rows: Long, releaseWallMs: Long): Double = {
    val done = queries.flatten.filter(b => StreamProgress.startMs(b) >= releaseWallMs).map(StreamProgress.commitMs)
    if (done.isEmpty) Double.NaN else rows / ((done.max - releaseWallMs) / 1000.0)
  }

  /** Waits until both queries have read `rows` input rows and stay idle:
    * no trigger active and no batch reported across [[IdlePauseMs]] (a
    * watermark advance runs one more batch right after a commit).
    */
  def awaitIdle(queries: Seq[StreamingQuery], progress: StreamProgress, rows: Long, deadlineMs: Long): Boolean = {
    def batches = Seq(DutyQuery, RollupQuery).map(progress.batches)
    def idle = batches.forall(_.map(_.numInputRows).sum >= rows) && queries.forall(!_.status.isTriggerActive)
    while (System.currentTimeMillis() < deadlineMs && progress.failures.isEmpty) {
      if (idle) {
        val seen = batches.map(_.size)
        Thread.sleep(IdlePauseMs)
        if (idle && batches.map(_.size) == seen) return true
      } else Thread.sleep(20)
    }
    false
  }
}
