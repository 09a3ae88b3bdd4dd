package graft.sources

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import scala.util.control.NonFatal

import graft.operators.Grid

/** The durable SECOND-granularity rollup table — our materialization of the
  * Druid ingest-time rollup (`Druid_conf_power_raw_avro:8-26`, SURVEY.md A4).
  *
  * Layout mirrors Druid's segment discipline: parquet partitioned by
  * `date/hour` (HOUR segmentGranularity), so every dashboard/history query
  * with a time predicate prunes partitions at planning time. The streaming
  * writer is [[streamingWriter]] over `StreamingDutyCycle.rollupPlanFull`
  * (one replay-safe segment per micro-batch) with periodic compaction; the
  * batch twin [[materialize]] builds the identical measure set. On local
  * disk, segment and checkpoint files and their `.crc` siblings land
  * through the `file` scheme [[graft.GraftSession]] installs
  * ([[NioLocalFileSystem]], [[NioLocalFs]]), which sets their modes without
  * forking a `chmod` per file.
  */
object RollupTable {

  /** Build and persist the rollup, partitioned by (date, hour). Keeps BOTH
    * the exact decimal sum (re-aggregation and the RollupRewrite rule stay
    * exact) and its double rendering (presentation queries). Writes ONE row
    * per (epoch_s, house_id, appliance_id, appliance_name) — the contract
    * [[graft.plans.RollupRewrite.install]] serves under, which
    * [[materializeIncrement]] keeps by replacing whole hour segments.
    */
  def materialize(spark: SparkSession, sfDir: String, outPath: String): Unit =
    writeSegmented(Grid.rollup1s(spark, sfDir, withHist = true), outPath)

  /** A coarser granularity of the rollup lattice, built by re-aggregating a
    * STORED finer rollup — never the raw events (the Druid multi-granularity
    * discipline: each coarser segment derives from a finer one, so the build
    * cost scales with rollup rows, not raw rows). `epoch_s` keeps its name and
    * unit but holds g-floored seconds; counts/extrema/decimal sums re-aggregate
    * exactly, so [[graft.plans.RollupRewrite]] can serve any query whose time
    * expressions are g-invariant from this table with the same rule logic.
    * Granularity must divide the hour so (date, hour) segments stay aligned,
    * and the SOURCE table's granularity must divide g (floor composition) —
    * the 1 s table trivially qualifies as a source for any g.
    */
  def materializeCoarse(
      spark: SparkSession, rollupPath: String, outPath: String, granularitySec: Long): Unit = {
    requireSegmentAligned(granularitySec)
    writeSegmented(coarsen(read(spark, rollupPath), granularitySec), outPath)
  }

  /** The exact re-aggregation one lattice step performs: g-floor `epoch_s`,
    * sum counts and decimal sums, min/max the extrema. Algebraic in the
    * measure set (every output is a function of finer-level aggregates, never
    * raw rows), which is what makes the lattice exact at any composition of
    * granularities — and what `q_rollup_60s`'s DuckDB oracle pins by grouping
    * the raw events at the minute directly. Groups on the full key, so the
    * level keeps ONE row per (g-floored epoch_s, house_id, appliance_id,
    * appliance_name) — the contract [[graft.plans.RollupRewrite.install]]
    * serves under.
    */
  def coarsen(rollup: DataFrame, granularitySec: Long): DataFrame = {
    val base = Seq(
      sum("cnt").as("cnt"),
      sum("cnt_power").as("cnt_power"),
      min("min_power").as("min_power"),
      max("max_power").as("max_power"),
      sum("sum_power_dec").as("sum_power_dec"))
    // optional measures ride when the source level carries them: the
    // quantile sketch merges bin-wise (sum of counts) and the filtered
    // duty count is additive — both lossless at any composition of
    // granularities, like every other measure here
    val opt =
      (if (rollup.columns.contains("cnt_duty"))
        Seq(sum("cnt_duty").as("cnt_duty")) else Nil) ++
      (if (rollup.columns.contains("hist_power"))
        Seq(graft.functions.PowerHist.merge(col("hist_power")).as("hist_power")) else Nil)
    val aggs = base ++ opt
    rollup
      .groupBy(
        (expr(s"epoch_s div $granularitySec") * granularitySec).as("epoch_s"),
        col("house_id"), col("appliance_id"), col("appliance_name"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Incremental lattice maintenance: after [[materializeIncrement]] refreshes
    * the 1 s table's hour segments at/after `sinceEpochS`, this cascades the
    * refresh one lattice level up — re-deriving ONLY the affected coarse hour
    * segments from the finer table, via the same dynamic partition-overwrite
    * upsert. Exact because the boundary is hour-aligned and every lattice
    * granularity divides the hour: a g-floored group never straddles the
    * boundary, so the increment's groups are complete and disjoint from the
    * untouched segments. The finer-side scan prunes to the new (date, hour)
    * partitions through the partition-column filter.
    */
  def materializeCoarseIncrement(
      spark: SparkSession, rollupPath: String, outPath: String,
      granularitySec: Long, sinceEpochS: Long): Unit = {
    requireSegmentAligned(granularitySec)
    require(sinceEpochS % 3600 == 0,
      s"increment boundary must be hour-aligned, got $sinceEpochS")
    if (schemaDrifted(spark, outPath,
        coarsen(read(spark, rollupPath), granularitySec).columns.toSeq)) {
      // same mixed-generation hazard as materializeIncrement, one level up:
      // a coarse store from an older measure set must rebuild whole, not
      // upsert — absent additive columns would read NULL in old segments
      materializeCoarse(spark, rollupPath, outPath, granularitySec)
      return
    }
    val sinceDate = java.time.Instant.ofEpochSecond(sinceEpochS)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
    withDynamicOverwrite(spark) {
      writeSegmented(
        coarsen(
          read(spark, rollupPath)
            .filter(col("date") >= lit(sinceDate)) // partition pruning
            .filter(col("epoch_s") >= sinceEpochS), // boundary-day hours
          granularitySec),
        outPath)
    }
  }

  private def requireSegmentAligned(granularitySec: Long): Unit =
    require(granularitySec > 1 && 3600 % granularitySec == 0,
      s"granularity must be >1 and divide the 3600 s segment, got $granularitySec")

  /** Render + persist a rollup frame in the segment layout: double view of
    * the decimal sum, (date, hour) partition columns, one file per segment.
    */
  private def writeSegmented(rollup: DataFrame, outPath: String): Unit =
    rollup
      .withColumn("sum_power", col("sum_power_dec").cast(DoubleType))
      .withColumn("date", to_date(timestamp_seconds(col("epoch_s"))))
      .withColumn("hour", (expr("epoch_s div 3600") % 24).cast("int"))
      .repartition(col("date"))
      .write
      .mode("overwrite")
      .partitionBy("date", "hour")
      .parquet(outPath)

  private def withDynamicOverwrite(spark: SparkSession)(body: => Unit): Unit = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Incremental maintenance: rebuild ONLY the hour segments at/after
    * `sinceEpochS` (hour-aligned, enforced — a mid-hour cut would replace a
    * full segment with a partial one). Partition-level upsert via dynamic
    * `partitionOverwriteMode`: the write replaces exactly the (date, hour)
    * directories present in the increment and leaves every earlier segment's
    * files untouched — idempotent on re-run (same input → same partitions →
    * same content), and safe against the double-counting a blind append
    * would cause. This is the batch form of the compaction/catch-up job a
    * 100 TB deployment runs beside the streaming writer; the raw-side
    * `epoch_s` filter is phrased on the scan so only the new raw partitions
    * are read.
    */
  def materializeIncrement(
      spark: SparkSession, sfDir: String, outPath: String, sinceEpochS: Long): Unit = {
    require(sinceEpochS % 3600 == 0,
      s"increment boundary must be hour-aligned, got $sinceEpochS")
    if (schemaDrifted(spark, outPath,
        Grid.rollup1s(spark, sfDir, withHist = true).columns.toSeq)) {
      // the store was materialized by an earlier engine generation with a
      // different measure set — a partition-level upsert would leave MIXED
      // schemas, and an additive measure absent from old segments reads as
      // NULL there, silently undercounting every tile served from it.
      // Rebuild the whole store at the current schema instead.
      materialize(spark, sfDir, outPath)
    } else withDynamicOverwrite(spark) {
      writeSegmented(
        Grid.rollup1s(spark, sfDir, withHist = true).filter(col("epoch_s") >= sinceEpochS),
        outPath)
    }
  }

  /** The existing store's columns differ from what the current engine
    * materializes (ignoring the derived segment-layout columns). A missing
    * store is NOT drift — the increment write creates it. Any other read
    * failure (e.g. a corrupt footer) propagates: upserting partitions into
    * a store whose schema could not be read would hide the damage.
    */
  private def schemaDrifted(
      spark: SparkSession, outPath: String, currentCols: Seq[String]): Boolean = {
    val layoutCols = Set("sum_power", "date", "hour")
    try {
      val stored = spark.read.parquet(outPath).columns.toSet -- layoutCols
      stored != currentCols.toSet
    } catch { case e: AnalysisException if NoStoreYet(e.getCondition) => false }
  }

  /** One streaming micro-batch of finalized rollup groups written as a
    * segment: a DETERMINISTIC per-batch directory (`batch=<id>`), overwritten
    * whole. Checkpoint-recovery replays of a batch rewrite the same segment
    * with the same content instead of appending duplicates — the same
    * file-level idempotency discipline as [[graft.streaming.HistoryJob]]'s
    * producer, in Druid terms one segment per ingest task.
    */
  def writeSegment(batch: DataFrame, outPath: String, batchId: Long): Unit = {
    // A streaming store cannot heal like the batch one (no raw history to
    // rebuild from), so appending a batch whose measure set differs from the
    // existing segments — e.g. a store written before a measure was added —
    // must fail FAST: a mixed store would read the absent
    // additive columns as NULL in old segments and silently undercount
    // every tile served from them. Checked once per store per JVM (the
    // first micro-batch), not per trigger. Only a store that does not exist
    // yet (no path, or no files to infer a schema from) skips the check; an
    // unreadable one fails the batch.
    val storeKey = outPath + "|" + batch.columns.sorted.mkString(",")
    if (checkedSegmentStores.add(storeKey)) {
      try {
        val stored = batch.sparkSession.read
          .option("basePath", outPath).parquet(outPath)
          .columns.toSet -- Set("batch", "date", "hour")
        val incoming = batch.columns.toSet
        if (stored != incoming)
          throw new IllegalStateException(
            s"segment store $outPath holds measure set ${stored.toSeq.sorted.mkString(",")} " +
              s"but this writer emits ${incoming.toSeq.sorted.mkString(",")} — a mixed " +
              "store under-counts absent additive measures; write to a new path " +
              "or migrate the store offline")
      } catch {
        case e: AnalysisException if NoStoreYet(e.getCondition) => () // this batch creates it
        case NonFatal(e) => checkedSegmentStores.remove(storeKey); throw e
      }
    }
    batch
      .withColumn("date", to_date(col("bucket")))
      .withColumn("hour", hour(col("bucket")))
      .write.mode("overwrite")
      .partitionBy("date", "hour")
      .parquet(s"$outPath/batch=$batchId")
  }

  private val NoStoreYet = Set("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")

  private val checkedSegmentStores =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The streaming counterpart of [[materialize]]: append-mode finalized 1 s
    * groups from [[graft.streaming.StreamingDutyCycle.rollupPlanFull]] land
    * in the same (date, hour) layout, one replay-safe segment per micro-batch.
    * The exactly-once story is (watermarked append output) × (deterministic
    * segment overwrite); periodic compaction of old `batch=` dirs into the
    * batch table is [[materializeIncrement]].
    */
  def streamingWriter(
      rollup: DataFrame, outPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rollup.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeSegment(batch, outPath, batchId)
      }

  /** Read the streaming segment table (all segments, segment column dropped). */
  def readSegments(spark: SparkSession, path: String): DataFrame =
    spark.read.option("basePath", path).parquet(path).drop("batch")

  /** Segment compaction — the maintenance job the Druid discipline pairs
    * with ingest (`Druid_conf_power_raw_avro:136-140` maxRowsPerSegment): a
    * day of 5 s triggers accretes ~17k small files per (date, hour); this
    * rewrites all segments into one file per hour dir. Protocol and crash
    * recovery live in [[Segments.compact]]; results identical before and
    * after — pinned by IngestSpec.
    */
  def compactSegments(
      spark: SparkSession, path: String, protectLatest: Boolean = true): Int =
    Segments.compact(spark, path, Seq("date", "hour"), protectLatest)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The history batch query (A5+A6) served from the materialized rollup —
    * the reference's Druid-query path collapsed to one partition-pruned scan.
    * Result is identical to [[Grid.historyAvg]] computed from raw events.
    */
  def historyFromRollup(spark: SparkSession, path: String): DataFrame = {
    val inInterval = Grid.historyIntervals
      .map { case (s, e) => col("epoch_s") >= s && col("epoch_s") < e }
      .reduce(_ || _)
    // partition-level predicate so pruning needs no per-row epoch_s scan.
    // The `date` partition column was derived under session timezone UTC, so
    // the predicate must render in UTC too — java.sql.Date#toString uses the
    // JVM default zone and shifts a day on UTC+12..+14 hosts.
    val dates = Grid.historyIntervals
      .map { case (s, _) =>
        java.time.Instant.ofEpochSecond(s).atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
      }
    read(spark, path)
      .filter(col("date").isin(dates: _*))
      .filter(inInterval)
      .groupBy("house_id", "appliance_id")
      .agg(
        sum("cnt").as("count_w"),
        sum("sum_power_dec").cast("double").as("sum_power_w"))
      .select(
        col("house_id"),
        col("appliance_id"),
        col("count_w"),
        col("sum_power_w"),
        (col("sum_power_w") / col("count_w")).as("avg_power"))
      .orderBy("appliance_id")
  }
}
