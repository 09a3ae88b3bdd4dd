package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Grid

/** The reference's scheduled history batch job (`batch/druid_batch.py` driven
  * by `batch/airflow_DAG.py`) as one Spark job: re-aggregate the rollup over
  * the lookback intervals, stamp the job time, serialize JSON — no Druid HTTP
  * hop, no pandas client-side loop, no Airflow.
  *
  * The clock is injected (SURVEY.md §7.4): callers pass `jobTimeMillis`, so
  * runs are deterministic and testable.
  */
object HistoryJob {

  /** One run of the history query as keyed JSON records. Field order matches
    * the reference's spliced output (`druid_batch.py:110-113`: row fields then
    * the appended job timestamp). Records come in no particular order: the
    * topic is keyed, and no reader keeps arrival order, so the job plans no
    * sort.
    */
  def run(spark: SparkSession, sfDir: String, jobTimeMillis: Long): DataFrame =
    Grid.historyAvgView(spark, sfDir)
      .withColumn("timestamp", lit(jobTimeMillis))
      .select(
        col("house_id").as("key"),
        to_json(struct(
          col("house_id"),
          col("appliance_id"),
          col("avg_power"),
          col("timestamp"))).as("value"))

  /** The DAG's operational policy (the reference's Airflow default_args,
    * `airflow_DAG.py:15-31`: retries=1, retry_delay=5 s, email_on_failure):
    * run `body`, retry up to `retries` times after `retryDelayMillis`, and on
    * FINAL failure invoke the alert hook — with the total attempt count —
    * before rethrowing (Airflow then marks the task failed). The alert
    * transport (the DAG's email) is deployment wiring; [[failureLedger]] is
    * the engine-native artifact form of it.
    */
  def withRetry[T](
      retries: Int,
      retryDelayMillis: Long,
      onFailure: (Int, Throwable) => Unit)(body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case scala.util.control.NonFatal(e) if attempt < retries =>
          attempt += 1
          Thread.sleep(retryDelayMillis)
        case scala.util.control.NonFatal(e) =>
          try onFailure(attempt + 1, e) catch { case scala.util.control.NonFatal(_) => () }
          throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The engine-native form of the DAG's `email_on_failure`
    * (`airflow_DAG.py:15-22`): an alert hook that appends one ledger row —
    * (job, batch_id, attempts, error, alert time) — to a parquet table an
    * operator (or a downstream monitor query) watches. Written per EXHAUSTED
    * policy only, never on success or a recovered retry; append-mode with a
    * single driver-side row, so a ledger write can itself fail without
    * masking the job's own exception ([[withRetry]] swallows hook errors
    * after the real failure is already decided).
    */
  def failureLedger(
      spark: SparkSession, ledgerPath: String, job: String,
      clock: () => Long = () => System.currentTimeMillis())
      : (Long, Int, Throwable) => Unit =
    (batchId, attempts, error) => {
      import spark.implicits._
      Seq((job, batchId, attempts, String.valueOf(error).take(1000), clock()))
        .toDF("job", "batch_id", "attempts", "error", "alert_ts")
        .coalesce(1)
        .write.mode("append").parquet(ledgerPath)
    }

  /** The Airflow cadence (`airflow_DAG.py:9-11`: every half-window of scaled
    * wall time) as a ProcessingTime-triggered stream: a rate source ticks the
    * schedule, foreachBatch executes one batch run per tick (with the DAG's
    * retry-once/alert policy) and appends to `outPath`.
    * `Trigger.AvailableNow` (one tick, then stop) makes it a cron-style
    * single run.
    */
  def scheduled(
      spark: SparkSession,
      sfDir: String,
      outPath: String,
      cadence: Trigger = Trigger.AvailableNow(),
      clock: () => Long = () => System.currentTimeMillis(),
      retries: Int = 1,
      retryDelayMillis: Long = 5000L,
      alert: (Long, Int, Throwable) => Unit = (_, _, _) => ()): StreamingQuery =
    spark.readStream
      .format("rate")
      .option("rowsPerSecond", 1)
      .load()
      .writeStream
      .trigger(cadence)
      .option("checkpointLocation", s"$outPath/_checkpoints")
      .foreachBatch { (_: DataFrame, batchId: Long) =>
        withRetry(retries, retryDelayMillis,
          (attempts, e) => alert(batchId, attempts, e)) {
          // overwrite, not append: each batch owns its directory, and a retry
          // after a partial first attempt must replace any part-files that
          // already committed — append would duplicate them silently
          run(spark, sfDir, clock())
            .write.mode("overwrite").json(s"$outPath/batch_$batchId")
        }
        ()
      }
      .start()
}
