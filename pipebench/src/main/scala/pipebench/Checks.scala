package pipebench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.RollupRewrite
import graft.sources.RollupTable
import graft.streaming.{GridConfig, KafkaWire, StreamingDutyCycle, TopicCodecs}

/** Output checks. Each returns the mismatches it found (empty = pass). */
object Checks {

  /** The Kafka source's columns, as the staged stream files carry them. */
  val FrameSchema: StructType = StructType(Seq(
    StructField("key", BinaryType), StructField("value", BinaryType),
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("timestamp", TimestampType)))

  /** Every reading the generator released, decoded by the program. The
    * backlog rounds sit in directories of their own under the stream's.
    */
  def releasedReadings(spark: SparkSession, layout: Layout): DataFrame =
    KafkaWire.decode(spark.read.schema(FrameSchema).option("recursiveFileLookup", "true")
      .parquet(layout.incoming.toString)).toDF()

  /** The duty-cycle stream's sliding window and slide, at the program's defaults. */
  val DutyWindowMs: Long = GridConfig().windowSec * 1000L
  val DutySlideMs: Long = GridConfig().slideSec * 1000L

  /** End times (ms) of the duty windows that contain `eventMs`. */
  def windowEndsMs(eventMs: Long): Seq[Long] = {
    val first = Math.floorDiv(eventMs, DutySlideMs) * DutySlideMs + DutySlideMs
    (first to eventMs + DutyWindowMs by DutySlideMs)
  }

  /** Streamed duty rows of `house` equal the batch plan over the same
    * readings, on windows closed by the final watermark that no
    * beyond-watermark reading touched (whether Spark dropped such a reading
    * depends on batch timing). House is a group key, so one house's rows
    * come from that house's readings alone.
    */
  def dutyCycle(spark: SparkSession, released: DataFrame, layout: Layout, house: String,
      late: Seq[(String, Long)], watermarkMs: Long): Seq[String] = {
    import spark.implicits._
    val touched = late.flatMap { case (app, ms) => windowEndsMs(ms).map(e => (app, new Timestamp(e))) }
      .distinct.toDF("appliance_id", "time_end")
    def closed(df: DataFrame): DataFrame =
      df.select("time_end", "house_id", "appliance_id", "duty_cycle")
        .filter(col("house_id") === house && col("time_end") <= lit(new Timestamp(watermarkMs)))
        .join(touched, Seq("appliance_id", "time_end"), "left_anti")
    // the record key is the house: decode only the checked house's records
    val records = spark.read.parquet(layout.out("duty").toString).filter(col("key") === house)
    val streamed = fingerprints(closed(TopicCodecs.decodeDutyCycle(records)))
    val batch = fingerprints(closed(StreamingDutyCycle.plan(released.filter(col("house_id") === house))))
    val (extra, missing) = (multisetMinus(streamed, batch), multisetMinus(batch, streamed))
    Seq(
      if (extra > 0) Some(s"duty-cycle rows: $extra streamed rows not in the batch result") else None,
      if (missing > 0) Some(s"duty-cycle rows: $missing batch rows not streamed") else None,
      if (streamed.isEmpty) Some("duty-cycle rows: nothing to compare") else None).flatten
  }

  /** The segment store's totals for every closed 1 s bucket of `house` equal the batch
    * `rollupPlanFull` of the readings it admitted: every on-time group, plus
    * those beyond-watermark groups Spark did not drop. (The quantile sketch
    * is left out: the batch side then skips its aggregator.)
    */
  def rollup(spark: SparkSession, released: DataFrame, layout: Layout, house: String,
      late: Seq[(String, Long)], watermarkMs: Long): Seq[String] = {
    import spark.implicits._
    val lateGroups = late.map { case (app, ms) => (app, new Timestamp(Math.floorDiv(ms, 1000L) * 1000L)) }
      .distinct.toDF("appliance_id", "bucket")
    def closed(df: DataFrame): DataFrame =
      df.filter(col("house_id") === house && col("bucket") <= lit(new Timestamp(watermarkMs - 1000L)))
        .select(Columns.map(col): _*)
    val store = fingerprints(closed(RollupTable.readSegments(spark, layout.out("segments").toString)))
    val batch = closed(StreamingDutyCycle.rollupPlanFull(released.filter(col("house_id") === house)))
      .join(lateGroups.withColumn("late", lit(true)), Seq("appliance_id", "bucket"), "left")
    val rows = batch.select(xxhash64(Columns.map(col): _*), col("late").isNotNull).collect()
    val all = rows.map(_.getLong(0)).sorted
    val onTime = rows.filterNot(_.getBoolean(1)).map(_.getLong(0)).sorted
    val (extra, missing) = (multisetMinus(store, all), multisetMinus(onTime, store))
    Seq(
      if (extra > 0) Some(s"rollup segments: $extra groups differ from the batch rollup") else None,
      if (missing > 0) Some(s"rollup segments: $missing on-time groups missing") else None,
      if (store.isEmpty) Some("rollup segments: no closed bucket to check") else None).flatten
  }

  private val Columns = Seq("house_id", "appliance_id", "appliance_name", "bucket", "cnt",
    "cnt_power", "min_power", "max_power", "sum_power_dec", "cnt_duty")

  /** Each routed tile result equals the same SQL with the rewrite
    * uninstalled (the archive has not changed since). Leaves the rule
    * uninstalled.
    */
  def tiles(spark: SparkSession, routed: Seq[(String, String, Seq[Row])]): Seq[String] = {
    RollupRewrite.uninstall(spark)
    routed.flatMap { case (n, sql, rows) =>
      if (sameRows(rows, spark.sql(sql).collect().toSeq)) None
      else Some(s"tile $n: routed result differs from the unrouted one")
    }
  }

  /** A `HistoryJob.run` result agrees with `RollupTable.historyFromRollup`. */
  def history(spark: SparkSession, jobRows: Seq[Row], rollupPath: String): Seq[String] = {
    def byKey(df: DataFrame): Map[(String, String), Double] =
      df.select("house_id", "appliance_id", "avg_power").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val records = spark.createDataFrame(java.util.Arrays.asList(jobRows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        StructField("key", StringType), StructField("value", StringType))))
    val job = byKey(TopicCodecs.decodeHistory(records))
    val roll = byKey(RollupTable.historyFromRollup(spark, rollupPath))
    if (job.isEmpty) Seq("history: empty result")
    else if (job.keySet != roll.keySet) Seq(s"history: ${(job.keySet diff roll.keySet).size} keys " +
      s"only in HistoryJob, ${(roll.keySet diff job.keySet).size} only in the rollup")
    else job.collect { case (k, v) if !close(v, roll(k)) => s"history $k: $v vs ${roll(k)}" }.toSeq.take(3)
  }

  /** Sorted 64-bit hashes of whole rows: equal multisets of rows give
    * equal arrays, and one job per side replaces a shuffle per difference.
    */
  def fingerprints(df: DataFrame): Array[Long] =
    df.select(xxhash64(df.columns.map(col).toSeq: _*)).collect().map(_.getLong(0)).sorted

  /** Size of the multiset difference `a - b` of two sorted arrays. */
  def multisetMinus(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length) {
      if (j >= b.length || a(i) < b(j)) { n += 1; i += 1 }
      else if (a(i) == b(j)) { i += 1; j += 1 }
      else j += 1
    }
    n
  }

  /** Row-wise equality; doubles agree to 1e-9 relative (a routed sum adds
    * exact decimals, the raw one adds doubles).
    */
  def sameRows(a: Seq[Row], b: Seq[Row]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x.length == y.length && (0 until x.length).forall { i =>
        (x.get(i), y.get(i)) match {
          case (p: Double, q: Double) => close(p, q)
          case (p, q) => p == q
        }
      }
    }

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
}
