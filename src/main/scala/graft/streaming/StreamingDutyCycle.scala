package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The reference's flagship streaming computation — per-appliance duty cycle
  * over a sliding event-time window — as a Structured Streaming plan
  * (`/root/reference/stream_processing/duty_cycle_avro.py:72-89`).
  *
  * The plan is source-agnostic: it transforms any streaming (or batch)
  * DataFrame with the PowerReading schema, so production wires it to a Kafka
  * source (`readStream.format("kafka")` + [[AvroWire.decodeReadings]]) while
  * tests drive it from `MemoryStream[PowerReading]`. Micro-batch execution
  * plans partial aggregation before the state-store shuffle, so at cluster
  * scale each trigger shuffles one row per (window × appliance) per input
  * partition — not raw readings. State is bounded by the watermark (T1).
  * The engine sets no state-store provider, so queries run on Spark's
  * default HDFS-backed store (state in executor memory, delta files in the
  * checkpoint). On a local checkpoint each trigger writes a delta file and
  * its `.crc` per shuffle partition, plus offset and commit log entries;
  * the `file` scheme [[graft.GraftSession]] installs writes and renames them
  * in-process, where Hadoop's stock local filesystem forked a `chmod` per
  * file and a `readlink` per link lookup. A deployment that needs bounded
  * memory at 10k+ appliances × 5 live windows sets
  * `spark.sql.streaming.stateStore.providerClass` to RocksDB, and
  * ScaleSpec/RecoverySpec run the same plans on it.
  */
object StreamingDutyCycle {

  /** The reference's wire record (`ingestion/schema.avsc:1-27`), with event
    * time already decoded from epoch millis to a timestamp.
    */
  case class PowerReading(
      time: Timestamp,
      house_id: String,
      appliance_name: String,
      appliance_id: String,
      power: Double)

  /** Windowed duty-cycle plan — identical shape for stream and batch inputs.
    *
    * Mirrors duty_cycle_avro.py: watermark (`:75`), sliding window + grouped
    * conditional count (`:76-77`), ratio + window-end projection (`:78-79`).
    * Defaults are the reference's scaled values: 10 min window / 24x playback
    * → 25 s window, 5 s slide, 2 s watermark, 5.0 W threshold
    * (`example config/config.ini:8-12`).
    */
  def plan(
      readings: DataFrame,
      conf: GridConfig = GridConfig()): DataFrame =
    readings
      .withWatermark("time", s"${conf.watermarkSec} seconds")
      .groupBy(
        window(col("time"), s"${conf.windowSec} seconds", s"${conf.slideSec} seconds"),
        col("house_id"),
        col("appliance_id"))
      .agg(
        count("power").as("c_all"),
        count(when(col("power") > conf.powerThreshold, true)).as("c_duty"))
      .withColumn("duty_cycle", col("c_duty") / col("c_all"))
      .withColumn("time_end", col("window.end"))
      .drop("window", "c_all", "c_duty")

  /** [[plan]] with the rollup discipline applied INSIDE the stream: a
    * 1-second tumbling pre-aggregate (the Druid-style ingest rollup) feeds
    * the sliding window — chained stateful aggregations, which Spark plans
    * natively in append mode. The ×(window/slide) fan-out and the sliding
    * window's state store then see one row per appliance-second instead of
    * every raw reading — the streaming twin of `Grid.dutyCyclePrerolled`.
    * Exact: every 1 s bucket [s, s+1) lies wholly inside each sliding window
    * containing s (all bounds second-aligned), so per-second counts sum to
    * exactly the sliding window's counts, threshold leg included (the
    * comparison runs per reading, before the pre-aggregate).
    */
  def planPrerolled(
      readings: DataFrame,
      conf: GridConfig = GridConfig()): DataFrame =
    readings
      .withWatermark("time", s"${conf.watermarkSec} seconds")
      .groupBy(
        window(col("time"), "1 second"),
        col("house_id"),
        col("appliance_id"))
      .agg(
        count("power").as("s_all"),
        count(when(col("power") > conf.powerThreshold, true)).as("s_duty"))
      .groupBy(
        window(col("window"), s"${conf.windowSec} seconds", s"${conf.slideSec} seconds"),
        col("house_id"),
        col("appliance_id"))
      .agg(sum("s_all").as("c_all"), sum("s_duty").as("c_duty"))
      .withColumn("duty_cycle", col("c_duty") / col("c_all"))
      .withColumn("time_end", col("window.end"))
      .drop("window", "c_all", "c_duty")

  /** Pane-count threshold at which [[planAuto]] switches to
    * [[planPrerolled]]. The measured curve (1M-row file source, local[32];
    * prerolled/plain rows-per-second ratio): plain wins while panes are few
    * — 0.73 at 5 panes, 0.77 at 8, 0.86 at 12 (the pre-roll's second
    * stateful exchange buys nothing the map-side partial agg doesn't
    * already do) — the two plans are PARITY at 25 panes (0.85–1.06 across
    * r14's six clean runs and r15; r13's 3.9 reading there was a contended
    * box, retired), and the pre-roll decisively wins by 60 panes (1.85 —
    * the expansion asymmetry finally dominates: plain copies every RAW row
    * once per pane into the stateful shuffle, the pre-roll only per-second
    * rows). The crossover therefore sits in (25, 60]; the threshold sits
    * just ABOVE the measured parity band's top: parity at 25 means
    * switching there costs only noise, and plain's per-pane copy cost is
    * monotone in the pane count while the pre-roll's is flat, so past the
    * last point where plain ever measured ahead the pre-roll is the safe
    * choice — collapse protection engages well before the measured 60-pane
    * win. Between 26 and 59 panes either plan is within ~2× and the choice
    * is cost-tilted, not correctness-relevant. Rows-per-key density does
    * NOT move the choice — partial aggregation absorbs it on both plans.
    */
  val PrerollPaneThreshold = 26

  /** [[plan]] or [[planPrerolled]], chosen by the measured pane-count rule —
    * the crossover evidence as an operational policy instead of a bench
    * footnote. Both plans are exact (the pre-roll's 1 s buckets are wholly
    * contained in every second-aligned sliding window), so the choice is
    * purely a cost decision.
    */
  def planAuto(
      readings: DataFrame,
      conf: GridConfig = GridConfig()): DataFrame =
    if (conf.windowSec / conf.slideSec >= PrerollPaneThreshold)
      planPrerolled(readings, conf)
    else plan(readings, conf)

  /** JSON sink projection (`duty_cycle_avro.py:83`): field order pinned to the
    * reference's struct order for byte-compatible downstream consumers.
    */
  def toJsonRecords(dutyCycle: DataFrame): DataFrame =
    dutyCycle.select(
      to_json(struct(
        col("time_end"),
        col("house_id"),
        col("appliance_id"),
        col("duty_cycle"))).as("value"))

  /** Kafka-keyed sink projection (key = house_id, the reference's
    * co-partitioning scheme, `producer_REDD_avro.py:172-173`): the (key,
    * value) shape `writeStream.format("kafka")` expects — see
    * [[KafkaWire.dutyCycleSink]] — or any key/value sink.
    */
  def toKeyedRecords(dutyCycle: DataFrame): DataFrame =
    dutyCycle.select(
      col("house_id").as("key"),
      to_json(struct(
        col("time_end"),
        col("house_id"),
        col("appliance_id"),
        col("duty_cycle"))).as("value"))

  /** The second-granularity rollup (A4, `Druid_conf_power_raw_avro:8-26`) as
    * a streaming aggregate over the FULL serving-lattice measure set — the
    * exact aggregate columns [[graft.operators.Grid.rollup1s]] materializes
    * batch-side (null-safe measure count, extrema, DECIMAL(18,2)-exact sum,
    * [[graft.functions.PowerHist]] quantile sketch). Written by
    * [[graft.sources.RollupTable.streamingWriter]], its segments are
    * bit-compatible with the batch lattice store:
    * [[graft.sources.RollupTable.coarsen]] re-aggregates them
    * (sketch bins merge by sum), percentile tiles serve from their merged
    * histograms, and every value equals the batch rollup over the same rows
    * (spec-pinned). This is the Druid ingest-time-sketch discipline
    * (`database/Druid_conf_power_raw_avro`) in Structured Streaming: the
    * sketch is built ONCE at ingest, inside the same watermarked stateful
    * aggregation as the additive measures — never a post-hoc raw re-scan.
    * State per open (second × appliance) group is the bounded histogram map
    * plus five scalars, so state size scales with active keys, not rows.
    */
  def rollupPlanFull(readings: DataFrame, watermarkSec: Int = 2): DataFrame =
    readings
      .withWatermark("time", s"$watermarkSec seconds")
      .groupBy(
        window(col("time"), "1 second"),
        col("house_id"),
        col("appliance_id"),
        col("appliance_name"))
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
      .withColumn("bucket", col("window.start"))
      .withColumn("epoch_s", col("window.start").cast("long"))
      .drop("window")
}

/** Tunables mirroring `example config/config.ini` with the reference's
  * playback-speed scaling already applied (integer division, exactly like
  * `duty_cycle_avro.py:59`: `window_min * 60 // playback`).
  */
case class GridConfig(
    windowMin: Int = 10,
    playbackSpeed: Int = 24,
    watermarkSec: Int = 2,
    powerThreshold: Double = 5.0,
    slideOverrideSec: Option[Int] = None) {
  val windowSec: Int = windowMin * 60 / playbackSpeed // 25 s at defaults
  // slide = window/5 (duty_cycle_avro.py:76) unless a dashboard wants a
  // finer refresh: the PANE COUNT (window/slide) is the variable that
  // decides plan() vs planPrerolled() — plain expands every RAW row once
  // per pane, the 1 s pre-roll expands only per-second rows, so the
  // pre-roll's second stateful exchange pays for itself once panes are
  // plentiful (bench-measured: parity at 25 panes, decisive pre-roll win
  // at 60 — see PrerollPaneThreshold; the pre-roll's exactness needs
  // slide ≥ 1 s so 1 s buckets stay window-aligned).
  val slideSec: Int = slideOverrideSec.getOrElse(windowSec / 5)
  require(slideSec >= 1, s"slide must be >= 1 s, got $slideSec")
}
