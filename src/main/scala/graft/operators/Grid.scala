package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Smart-grid operator surface re-expressed Spark-first.
  *
  * The reference (`/root/reference`) computes a sliding-window duty cycle
  * (`stream_processing/duty_cycle_avro.py:72-79`), a SECOND-granularity rollup
  * (`database/Druid_conf_power_raw_avro:8-26`), a historical
  * average-power-at-time-of-day batch metric (`batch/druid_batch.py:84-113`)
  * and six dashboard tile queries (`frontend/dashboard-iGridDemo.json`). Here
  * each is a declarative DataFrame pipeline over the TESTDATA `events` table,
  * viewed through the reference's power-reading data model (SURVEY.md §1.6).
  *
  * Determinism notes for the DuckDB oracle: double sums go through
  * DECIMAL(18,2) so the aggregation is exact (order-independent) and the final
  * cast to double is bit-identical in both engines.
  */
object Grid {

  val PowerThreshold = 5.0

  /** Exact, order-independent sum of a 2-dp double column, returned as double. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** SQL twin of [[dsum]]. */
  def dsumSql(col: String): String = s"CAST(SUM(CAST($col AS DECIMAL(18,2))) AS DOUBLE)"

  /** TESTDATA `events` viewed as the reference's `powerraw.valueall` records
    * (SURVEY.md §1.1): house = user bucket, appliance = user, power = value.
    * `ts` arrives as epoch-nanosecond long (see [[Tables.tune]]).
    */
  def powerReadings(spark: SparkSession, sfDir: String): DataFrame =
    powerReadings(spark, sfDir, Nil)

  /** [[powerReadings]] with epoch-second `[start, end)` intervals pushed onto
    * the NATIVE `ts` scan column (parquet row-group / partition pruning) —
    * see [[graft.Tables.events]]. Time-filtered queries use this instead of a
    * post-projection predicate so the filter reaches the scan.
    */
  def powerReadings(
      spark: SparkSession, sfDir: String, tsIntervals: Seq[(Long, Long)]): DataFrame = {
    val house = concat(lit("1_1_"), (col("user_id") % 5).cast("string"))
    Tables
      .events(spark, sfDir, tsIntervals)
      .select(
        col("event_id"),
        col("ts").as("ts_ns"),
        expr("ts div 1000000000").as("epoch_s"),
        timestamp_micros(expr("ts div 1000")).as("time"),
        house.as("house_id"),
        concat(house, lit("_"), col("user_id").cast("string")).as("appliance_id"),
        col("event_type").as("appliance_name"),
        col("value").as("power")
      )
  }

  /** DuckDB view of [[powerReadings]] — prepend as a CTE to every oracle. */
  val PowerCte: String =
    """power AS (
      |  SELECT event_id,
      |         epoch_ns(ts) AS ts_ns,
      |         epoch_ns(ts) // 1000000000 AS epoch_s,
      |         '1_1_' || CAST(user_id % 5 AS VARCHAR) AS house_id,
      |         '1_1_' || CAST(user_id % 5 AS VARCHAR) || '_' || CAST(user_id AS VARCHAR) AS appliance_id,
      |         event_type AS appliance_name,
      |         value AS power
      |  FROM events)""".stripMargin

  // -------------------------------------------------------------------------
  // Duty cycle — sliding event-time window (W1 + A1-A3, duty_cycle_avro.py:72-79)
  // -------------------------------------------------------------------------

  /** Fraction of readings above [[PowerThreshold]] per sliding 25s/5s window
    * per appliance — the reference's core streaming metric, batch-planned.
    * At cluster scale the shuffle keys are (window, house, appliance); Spark
    * plans partial aggregation before the exchange so the shuffle carries one
    * row per group per input partition, not raw readings.
    */
  def dutyCycle(spark: SparkSession, sfDir: String): DataFrame =
    dutyCycleView(spark, sfDir).orderBy("window_start", "appliance_id")

  /** [[dutyCycle]] without its presentation order: the `dutycycle`
    * datasource [[Dashboard.registerViews]] registers. A view that kept the
    * sort would make every tile over it pay a range-partition sampling job,
    * a range exchange and a sort that the tile's own ORDER BY discards —
    * Spark's EliminateSorts keeps a Sort under `sum(double)`, whose result
    * depends on input order.
    */
  def dutyCycleView(spark: SparkSession, sfDir: String): DataFrame =
    powerReadings(spark, sfDir)
      .groupBy(
        window(col("time"), "25 seconds", "5 seconds"),
        col("house_id"),
        col("appliance_id"))
      .agg(
        count("power").as("c_all"),
        count(when(col("power") > PowerThreshold, true)).as("c_duty"))
      .withColumn("duty_cycle", col("c_duty") / col("c_all"))
      .withColumn("window_start", col("window.start").cast("long"))
      .drop("window")
      .select("window_start", "house_id", "appliance_id", "c_all", "c_duty", "duty_cycle")

  val dutyCycleSql: String =
    s"""WITH $PowerCte,
       |exploded AS (
       |  SELECT p.*, (p.epoch_s // 5) * 5 - k.i * 5 AS window_start
       |  FROM power p CROSS JOIN (VALUES (0),(1),(2),(3),(4)) AS k(i))
       |SELECT window_start, house_id, appliance_id,
       |       count(power) AS c_all,
       |       count(CASE WHEN power > $PowerThreshold THEN 1 END) AS c_duty,
       |       count(CASE WHEN power > $PowerThreshold THEN 1 END) / count(power) AS duty_cycle
       |FROM exploded
       |GROUP BY 1, 2, 3
       |ORDER BY window_start, appliance_id""".stripMargin

  /** The duty cycle computed through the 1-second rollup (A4 + A5 composed
    * with W1): aggregate raw readings to per-second partials FIRST — the
    * per-reading threshold is applied here, before any fan-out — then explode
    * each second to the 5 sliding windows containing it and re-aggregate.
    * Results are identical to [[dutyCycle]]; the plan is what survives 100 TB:
    * the ×5 window fan-out and the (window, house, appliance) shuffle see one
    * row per (second, appliance) instead of every raw reading, so Expand and
    * exchange volume drop by the readings-per-second factor. This is the same
    * discipline [[graft.plans.RollupRewrite]] applies automatically to
    * windowed aggregates — including, since the rollup carries the
    * pre-aggregated `cnt_duty` filtered metric, this exact conditional-count
    * shape (an installed lattice serves [[dutyCycle]] itself; this explicit
    * twin remains the no-lattice-session form and the plan-shape document).
    */
  def dutyCyclePrerolled(spark: SparkSession, sfDir: String): DataFrame = {
    val perSec = powerReadings(spark, sfDir)
      .groupBy(col("epoch_s"), col("house_id"), col("appliance_id"))
      .agg(
        count("power").as("s_all"),
        count(when(col("power") > PowerThreshold, true)).as("s_duty"))
    val lastStart = expr("(epoch_s div 5) * 5")
    perSec
      .select(col("*"),
        explode(array((0 to 4).map(i => (lastStart - lit(i * 5L)).as(s"w$i")): _*))
          .as("window_start"))
      .groupBy("window_start", "house_id", "appliance_id")
      .agg(sum("s_all").as("c_all"), sum("s_duty").as("c_duty"))
      .withColumn("duty_cycle", col("c_duty") / col("c_all"))
      .select("window_start", "house_id", "appliance_id", "c_all", "c_duty", "duty_cycle")
      .orderBy("window_start", "appliance_id")
  }

  val dutyCyclePrerolledSql: String =
    s"""WITH $PowerCte,
       |persec AS (
       |  SELECT epoch_s, house_id, appliance_id,
       |         count(power) AS s_all,
       |         count(CASE WHEN power > $PowerThreshold THEN 1 END) AS s_duty
       |  FROM power GROUP BY 1, 2, 3),
       |exploded AS (
       |  SELECT p.*, (p.epoch_s // 5) * 5 - k.i * 5 AS window_start
       |  FROM persec p CROSS JOIN (VALUES (0),(1),(2),(3),(4)) AS k(i))
       |SELECT window_start, house_id, appliance_id,
       |       CAST(SUM(s_all) AS BIGINT) AS c_all,
       |       CAST(SUM(s_duty) AS BIGINT) AS c_duty,
       |       CAST(SUM(s_duty) AS BIGINT) / CAST(SUM(s_all) AS BIGINT) AS duty_cycle
       |FROM exploded GROUP BY 1, 2, 3
       |ORDER BY window_start, appliance_id""".stripMargin

  /** The same metric through the typed [[graft.functions.DutyCycleAggregator]]
    * UDAF — identical results, alternative API packaging (SURVEY.md §7.3).
    */
  def dutyCycleUdaf(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.DutyCycleAgg.register(spark, PowerThreshold)
    powerReadings(spark, sfDir)
      .groupBy(
        window(col("time"), "25 seconds", "5 seconds"),
        col("house_id"),
        col("appliance_id"))
      .agg(expr("duty_cycle_agg(power)").as("duty_cycle"))
      .withColumn("window_start", col("window.start").cast("long"))
      .drop("window")
      .select("window_start", "house_id", "appliance_id", "duty_cycle")
      .orderBy("window_start", "appliance_id")
  }

  val dutyCycleUdafSql: String =
    s"""WITH $PowerCte,
       |exploded AS (
       |  SELECT p.*, (p.epoch_s // 5) * 5 - k.i * 5 AS window_start
       |  FROM power p CROSS JOIN (VALUES (0),(1),(2),(3),(4)) AS k(i))
       |SELECT window_start, house_id, appliance_id,
       |       count(CASE WHEN power > $PowerThreshold THEN 1 END) / count(power) AS duty_cycle
       |FROM exploded
       |GROUP BY 1, 2, 3
       |ORDER BY window_start, appliance_id""".stripMargin

  // -------------------------------------------------------------------------
  // SECOND rollup — A4, Druid_conf_power_raw_avro:8-26
  // -------------------------------------------------------------------------

  /** The Druid ingest-time rollup as a Spark aggregate: one row per second per
    * appliance with count + exact sum. This is the materialized table every
    * dashboard query would read; at 100 TB it is written partitioned by
    * date/hour so downstream time filters prune partitions.
    * `sum_power` stays DECIMAL here so re-aggregation (A5) remains exact.
    *
    * `withHist` adds the [[graft.functions.PowerHist]] quantile sketch
    * (`hist_power: map<bin, count>`) — the column that lets the lattice
    * serve percentile tiles. Opt-in: the purely additive/extremal queries
    * never pay for it (the sketch would survive column pruning only as a
    * dropped-join artifact otherwise).
    */
  def rollup1s(
      spark: SparkSession,
      sfDir: String,
      preFilter: Option[Column] = None,
      withHist: Boolean = false,
      tsIntervals: Seq[(Long, Long)] = Nil): DataFrame = {
    val readings = powerReadings(spark, sfDir, tsIntervals)
    val base = Seq(
      count(lit(1)).as("cnt"),
      // count/min/max of the measure ride along so the RollupRewrite rule
      // can serve count(power) null-safely and min/max(power) exactly
      count(col("power")).as("cnt_power"),
      min(col("power")).as("min_power"),
      max(col("power")).as("max_power"),
      sum(col("power").cast(DecimalType(18, 2))).as("sum_power_dec"),
      // pre-aggregated FILTERED metric (Druid's filtered-aggregator
      // discipline): readings above the engine's duty threshold, counted at
      // ingest so the duty-cycle tile — the reference's core metric — can
      // serve entirely from the lattice (count(when(power > thr, true)) →
      // sum(cnt_duty) when thr matches this materialized constant)
      count(when(col("power") > PowerThreshold, true)).as("cnt_duty"))
    val aggs =
      if (withHist) base :+ graft.functions.PowerHist.hist(col("power")).as("hist_power")
      else base
    preFilter.fold(readings)(readings.filter)
      .groupBy(col("epoch_s"), col("house_id"), col("appliance_id"), col("appliance_name"))
      .agg(aggs.head, aggs.tail: _*)
  }

  def qRollup1s(spark: SparkSession, sfDir: String): DataFrame =
    rollup1sView(spark, sfDir)
      // appliance_name is part of the key: one appliance can emit two event
      // types in the same second, so (epoch_s, appliance_id) alone ties
      .orderBy("epoch_s", "appliance_id", "appliance_name")

  /** The presentation columns of [[rollup1s]] (count and the double sum)
    * without [[qRollup1s]]'s order: the `powerraw` datasource
    * [[Dashboard.registerViews]] registers. Unsorted for the reason given at
    * [[dutyCycleView]]; its aggregate sits at the lattice's own grain, so an
    * installed [[graft.plans.RollupRewrite]] reads it as a projection of the
    * 1 s level.
    */
  def rollup1sView(spark: SparkSession, sfDir: String): DataFrame =
    rollup1s(spark, sfDir)
      .withColumn("sum_power", col("sum_power_dec").cast(DoubleType))
      .drop("sum_power_dec", "cnt_power", "min_power", "max_power", "cnt_duty")

  val rollup1sSql: String =
    s"""WITH $PowerCte
       |SELECT epoch_s, house_id, appliance_id, appliance_name,
       |       count(*) AS cnt, ${dsumSql("power")} AS sum_power
       |FROM power
       |GROUP BY 1, 2, 3, 4
       |ORDER BY epoch_s, appliance_id, appliance_name""".stripMargin

  /** The 60 s lattice level DERIVED FROM the 1 s rollup (sums of sums, min of
    * mins — [[graft.sources.RollupTable.coarsen]]); the oracle groups raw
    * events at the minute directly, pinning the lattice's exactness claim:
    * re-aggregating stored aggregates equals aggregating raw.
    */
  def qRollup60s(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.RollupTable.coarsen(rollup1s(spark, sfDir), 60L)
      .withColumn("sum_power", col("sum_power_dec").cast(DoubleType))
      .drop("sum_power_dec", "cnt_power", "min_power", "max_power", "cnt_duty")
      .orderBy("epoch_s", "appliance_id", "appliance_name")

  val rollup60sSql: String =
    s"""WITH $PowerCte
       |SELECT (epoch_s // 60) * 60 AS epoch_s, house_id, appliance_id, appliance_name,
       |       count(*) AS cnt, ${dsumSql("power")} AS sum_power
       |FROM power
       |GROUP BY 1, 2, 3, 4
       |ORDER BY epoch_s, appliance_id, appliance_name""".stripMargin

  // -------------------------------------------------------------------------
  // Percentile tiles served from the histogram lattice (VERDICT r5 #2)
  // -------------------------------------------------------------------------

  /** Percentile tiles computed from MERGED histogram sketches, never from raw
    * rows — the serving path a 100 TB lattice needs (exact quantiles over raw
    * would be a global sort per tile). One merge aggregate per group (maps
    * bounded by value-range/BinWidth, with map-side partial merge), then the
    * inverse CDF over the exploded bins: smallest bin whose cumulative count
    * reaches `ceil(p·n)` — a rule DuckDB states verbatim, so the result is
    * EXACTLY the percentile of the quantized measure at any lattice depth.
    */
  def percentilesFromHist(
      hists: DataFrame, groupCol: String, ps: Seq[(String, Double)]): DataFrame = {
    import graft.functions.PowerHist
    val merged = hists.groupBy(col(groupCol))
      .agg(PowerHist.merge(col("hist_power")).as("h"))
    val byGroup = Window.partitionBy(groupCol)
    val cum = merged
      .select(col(groupCol), explode(col("h")).as(Seq("bin", "c")))
      .withColumn("cum", sum("c").over(byGroup.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("c").over(byGroup))
    val picks = ps.map { case (name, p) =>
      (min(when(col("cum") >= ceil(lit(p) * col("n")), col("bin")))
        * PowerHist.BinWidth).as(name)
    }
    cum.groupBy(col(groupCol))
      .agg(max("n").as("n_power"), picks: _*)
      .orderBy(groupCol)
  }

  private val TilePs = Seq("p50_w" -> 0.5, "p90_w" -> 0.9, "p99_w" -> 0.99)

  /** Per-house p50/p90/p99 of (quantized) power from the 1 s rollup's
    * sketches — raw rows are touched once, by the rollup build itself.
    */
  def percentileTile(spark: SparkSession, sfDir: String): DataFrame =
    percentilesFromHist(rollup1s(spark, sfDir, withHist = true), "house_id", TilePs)

  /** The same tiles from the 60 s lattice level — bit-identical to
    * [[percentileTile]] under the SAME oracle, pinning that the sketch
    * merges losslessly through `coarsen` (no decay with lattice depth).
    */
  def percentileTile60s(spark: SparkSession, sfDir: String): DataFrame =
    percentilesFromHist(
      graft.sources.RollupTable.coarsen(rollup1s(spark, sfDir, withHist = true), 60L),
      "house_id", TilePs)

  val percentileTileSql: String = {
    val w = graft.functions.PowerHist.BinWidth
    val picks = TilePs.map { case (name, p) =>
      s"       min(CASE WHEN cum >= ceil($p * n) THEN bin END) * $w AS $name"
    }.mkString(",\n")
    s"""WITH $PowerCte,
       |b AS (SELECT house_id, CAST(floor(power / $w) AS BIGINT) AS bin
       |      FROM power WHERE power IS NOT NULL),
       |g AS (SELECT house_id, bin, count(*) AS c FROM b GROUP BY 1, 2),
       |cum AS (SELECT house_id, bin,
       |               SUM(c) OVER (PARTITION BY house_id ORDER BY bin) AS cum,
       |               SUM(c) OVER (PARTITION BY house_id) AS n
       |        FROM g)
       |SELECT house_id, CAST(max(n) AS BIGINT) AS n_power,
       |$picks
       |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // -------------------------------------------------------------------------
  // History — time-of-day lookback average (W4 + A5 + A6, druid_batch.py:84-113)
  // -------------------------------------------------------------------------

  /** Five daily 12:00-12:20 UTC intervals over the fixed TESTDATA date range
    * (2024-01-01..30) — the deterministic stand-in for druid_batch.py's
    * `utcnow()`-derived lookback list (SURVEY.md §7.4 requires an injected
    * clock). Epoch seconds, half-open [start, end).
    */
  val historyIntervals: Seq[(Long, Long)] = {
    val base = 1704067200L // 2024-01-01T00:00:00Z
    (1 to 5).map { d =>
      val start = base + (d - 1) * 86400L + 43200L
      (start, start + 1200L)
    }
  }

  /** Epoch-second interval predicate phrased on the normalized nanosecond
    * `ts_ns`. Row-equivalent to the native-column intervals that
    * [[powerReadings]]/[[graft.Tables.events]] push to the scan, and still
    * understood by [[graft.plans.RollupRewrite]]'s ts-range mapping — but it
    * evaluates post-scan, so prefer the `tsIntervals` parameter for queries
    * that should prune parquet row groups.
    */
  def tsIntervalPredicate(intervals: Seq[(Long, Long)]): Column =
    intervals
      .map { case (s, e) =>
        col("ts_ns") >= s * 1000000000L && col("ts_ns") < e * 1000000000L
      }
      .reduce(_ || _)

  /** Average power per appliance across the lookback intervals, computed as
    * sum-of-sums over the rollup (A5) then an algebraic average (A6) — the
    * partial/final split the reference spreads across Druid ingest + broker,
    * here one Catalyst plan. The interval filter is on the rollup's grouping
    * key so Catalyst pushes it below the first aggregate into the scan.
    */
  def historyAvg(spark: SparkSession, sfDir: String): DataFrame =
    historyAvgView(spark, sfDir).orderBy("appliance_id")

  /** [[historyAvg]] without its presentation order: the `history`
    * datasource [[Dashboard.registerViews]] registers, unsorted for the
    * reason given at [[dutyCycleView]]. Its inner rollup sits at the
    * lattice's own grain, so an installed [[graft.plans.RollupRewrite]]
    * reads it as a projection of the 1 s level.
    */
  def historyAvgView(spark: SparkSession, sfDir: String): DataFrame =
    rollup1s(spark, sfDir, tsIntervals = historyIntervals)
      .groupBy("house_id", "appliance_id")
      .agg(
        sum("cnt").as("count_w"),
        sum("sum_power_dec").as("sum_power_dec"))
      .select(
        col("house_id"),
        col("appliance_id"),
        col("count_w"),
        col("sum_power_dec").cast(DoubleType).as("sum_power_w"),
        (col("sum_power_dec").cast(DoubleType) / col("count_w")).as("avg_power"))

  val historyAvgSql: String = {
    val pred = historyIntervals
      .map { case (s, e) => s"(epoch_s >= $s AND epoch_s < $e)" }
      .mkString(" OR ")
    s"""WITH $PowerCte,
       |rollup AS (
       |  SELECT epoch_s, house_id, appliance_id,
       |         count(*) AS cnt, SUM(CAST(power AS DECIMAL(18,2))) AS sp
       |  FROM power GROUP BY 1, 2, 3)
       |SELECT house_id, appliance_id,
       |       CAST(SUM(cnt) AS BIGINT) AS count_w,
       |       CAST(SUM(sp) AS DOUBLE) AS sum_power_w,
       |       CAST(SUM(sp) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT) AS avg_power
       |FROM rollup
       |WHERE $pred
       |GROUP BY 1, 2
       |ORDER BY appliance_id""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Dashboard tiles — A7-A11, W3, W5, O1-O3, P11-P12 (dashboard-iGridDemo.json)
  // -------------------------------------------------------------------------

  /** A7 "Current Total Power": global ungrouped aggregate. */
  def totalPower(spark: SparkSession, sfDir: String): DataFrame =
    powerReadings(spark, sfDir)
      .agg(count("power").as("n"), dsum(col("power")).as("total_power"))

  val totalPowerSql: String =
    s"""WITH $PowerCte
       |SELECT count(power) AS n, ${dsumSql("power")} AS total_power FROM power""".stripMargin

  /** A8: sum of power by one dimension. */
  def powerByDim(spark: SparkSession, sfDir: String, dim: String): DataFrame =
    powerReadings(spark, sfDir)
      .groupBy(dim)
      .agg(count(lit(1)).as("n"), dsum(col("power")).as("sum_power"))
      .orderBy(dim)

  def powerByDimSql(dim: String): String =
    s"""WITH $PowerCte
       |SELECT $dim, count(*) AS n, ${dsumSql("power")} AS sum_power
       |FROM power GROUP BY 1 ORDER BY 1""".stripMargin

  /** W5 + O1 + O3: top-10 appliances by total power (TakeOrderedAndProject —
    * per-partition top-k then a single merge on the driver, no full sort).
    */
  def top10Appliances(spark: SparkSession, sfDir: String): DataFrame =
    powerReadings(spark, sfDir)
      .groupBy("appliance_id")
      .agg(dsum(col("power")).as("sum_power"))
      .orderBy(desc("sum_power"), asc("appliance_id"))
      .limit(10)

  val top10AppliancesSql: String =
    s"""WITH $PowerCte
       |SELECT appliance_id, ${dsumSql("power")} AS sum_power
       |FROM power GROUP BY 1
       |ORDER BY sum_power DESC, appliance_id LIMIT 10""".stripMargin

  /** A11 + W3 + O2: global 5-second time series. */
  def timeseries5s(spark: SparkSession, sfDir: String): DataFrame =
    powerReadings(spark, sfDir)
      .groupBy((expr("epoch_s div 5") * 5).as("bucket_s"))
      .agg(count(lit(1)).as("n"), dsum(col("power")).as("sum_power"))
      .orderBy("bucket_s")

  val timeseries5sSql: String =
    s"""WITH $PowerCte
       |SELECT (epoch_s // 5) * 5 AS bucket_s, count(*) AS n, ${dsumSql("power")} AS sum_power
       |FROM power GROUP BY 1 ORDER BY 1""".stripMargin

  /** A11 per-house tile: 1-second buckets × appliance for one house (P12 filter). */
  def timeseries1sHouse(spark: SparkSession, sfDir: String, houseId: String = "1_1_0"): DataFrame =
    powerReadings(spark, sfDir)
      .filter(col("house_id") === houseId)
      .groupBy("epoch_s", "appliance_id")
      .agg(dsum(col("power")).as("sum_power"))
      .orderBy("epoch_s", "appliance_id")

  val timeseries1sHouseSql: String =
    s"""WITH $PowerCte
       |SELECT epoch_s, appliance_id, ${dsumSql("power")} AS sum_power
       |FROM power WHERE house_id = '1_1_0'
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Time-series gap filling: resample one house's appliances onto a dense
    * 1-second grid and forward-fill the seconds with no readings — the
    * regularization step between an event stream and any fixed-step consumer
    * (Druid serves its rollup sparse; a forecasting or display layer needs
    * the dense series). The window start is a driver-less scalar (1-row min
    * aggregate, broadcast crossJoin); the grid is appliances × sequence()
    * (bounded: windowSec rows per appliance); the fill is one
    * last-non-null window per appliance — a single sort per partition, after
    * one shuffle on the appliance key. Per-second values are decimal-exact
    * rollup sums, so the filled series is engine-exact including NULLs
    * before an appliance's first reading.
    */
  def gapFill(
      spark: SparkSession,
      sfDir: String,
      maxUser: Int = 50,
      windowSec: Int = 600): DataFrame = {
    val f = powerReadings(spark, sfDir)
      .filter(col("house_id") === "1_1_0" &&
        element_at(split(col("appliance_id"), "_"), 4).cast("int") < maxUser)
    val st = f.agg(min("epoch_s").as("start_s"))
    val r = f.join(broadcast(st))
      .filter(col("epoch_s") >= col("start_s") &&
        col("epoch_s") < col("start_s") + windowSec)
      .groupBy(col("appliance_id"), col("epoch_s").as("s"))
      .agg(dsum(col("power")).as("p"))
    val grid = f.select("appliance_id").distinct()
      .join(broadcast(st))
      .select(
        col("appliance_id"),
        explode(sequence(col("start_s"), col("start_s") + windowSec - 1)).as("s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("appliance_id").orderBy("s")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    grid.join(r, Seq("appliance_id", "s"), "left")
      .select(
        col("appliance_id"),
        col("s"),
        col("p").isNull.as("filled"),
        last(col("p"), ignoreNulls = true).over(w).as("power_1s"))
      .orderBy("appliance_id", "s")
  }

  def gapFillSql(maxUser: Int = 50, windowSec: Int = 600): String =
    s"""WITH $PowerCte,
       |f AS (
       |  SELECT * FROM power
       |  WHERE house_id = '1_1_0'
       |    AND CAST(string_split(appliance_id, '_')[4] AS INT) < $maxUser),
       |st AS (SELECT min(epoch_s) AS start_s FROM f),
       |r AS (
       |  SELECT appliance_id, epoch_s AS s, ${dsumSql("power")} AS p
       |  FROM f, st
       |  WHERE epoch_s >= start_s AND epoch_s < start_s + $windowSec
       |  GROUP BY 1, 2),
       |grid AS (
       |  SELECT appliance_id, unnest(generate_series(start_s, start_s + ${windowSec - 1})) AS s
       |  FROM (SELECT DISTINCT appliance_id FROM f), st)
       |SELECT g.appliance_id, CAST(g.s AS BIGINT) AS s,
       |       r.p IS NULL AS filled,
       |       last_value(r.p IGNORE NULLS) OVER (
       |         PARTITION BY g.appliance_id ORDER BY g.s
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS power_1s
       |FROM grid g LEFT JOIN r ON g.appliance_id = r.appliance_id AND g.s = r.s
       |ORDER BY g.appliance_id, g.s""".stripMargin

  /** P11: relative time-range filter with a fixed "now" (last 24h before
    * 2024-01-30T00:00:00Z). At scale this predicate prunes date/hour
    * partitions of the rollup table.
    */
  val NowEpoch = 1706572800L // 2024-01-30T00:00:00Z

  def recentRange(spark: SparkSession, sfDir: String): DataFrame =
    powerReadings(spark, sfDir, Seq((NowEpoch - 86400L, NowEpoch)))
      .select("event_id", "house_id", "appliance_id", "power")
      .orderBy("event_id")

  val recentRangeSql: String =
    s"""WITH $PowerCte
       |SELECT event_id, house_id, appliance_id, power
       |FROM power
       |WHERE epoch_s >= ${NowEpoch - 86400L} AND epoch_s < $NowEpoch
       |ORDER BY event_id""".stripMargin

  /** P12: IN-set (degenerate semi-join) filter. */
  def houseInFilter(spark: SparkSession, sfDir: String): DataFrame =
    powerReadings(spark, sfDir)
      .filter(
        col("house_id").isin("1_1_0", "1_1_2") &&
          col("appliance_name").isin("click", "purchase"))
      .groupBy("house_id", "appliance_name")
      .agg(count(lit(1)).as("n"), dsum(col("power")).as("sum_power"))
      .orderBy("house_id", "appliance_name")

  val houseInFilterSql: String =
    s"""WITH $PowerCte
       |SELECT house_id, appliance_name, count(*) AS n, ${dsumSql("power")} AS sum_power
       |FROM power
       |WHERE house_id IN ('1_1_0', '1_1_2') AND appliance_name IN ('click', 'purchase')
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** P13: OR-of-disjoint-intervals predicate (the batch job's 5-interval
    * filter) — partition-prunable at scale.
    */
  def intervalUnionFilter(spark: SparkSession, sfDir: String): DataFrame = {
    powerReadings(spark, sfDir, historyIntervals)
      .groupBy("appliance_name")
      .agg(count(lit(1)).as("n"), dsum(col("power")).as("sum_power"))
      .orderBy("appliance_name")
  }

  val intervalUnionFilterSql: String = {
    val pred = historyIntervals
      .map { case (s, e) => s"(epoch_s >= $s AND epoch_s < $e)" }
      .mkString(" OR ")
    s"""WITH $PowerCte
       |SELECT appliance_name, count(*) AS n, ${dsumSql("power")} AS sum_power
       |FROM power WHERE $pred
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** A9-flavored composition: sum of duty_cycle per appliance for one house —
    * a dashboard tile reading the duty-cycle output, expressed by stacking a
    * second aggregate on the same Catalyst plan.
    */
  def dutySumByAppliance(spark: SparkSession, sfDir: String): DataFrame =
    dutyCycleView(spark, sfDir)
      .filter(col("house_id") === "1_1_0")
      .groupBy("appliance_id")
      .agg(
        count(lit(1)).as("n_windows"),
        sum("duty_cycle").as("sum_duty_cycle"))
      .orderBy("appliance_id")

  val dutySumByApplianceSql: String =
    s"""WITH $PowerCte,
       |exploded AS (
       |  SELECT p.*, (p.epoch_s // 5) * 5 - k.i * 5 AS window_start
       |  FROM power p CROSS JOIN (VALUES (0),(1),(2),(3),(4)) AS k(i)),
       |dc AS (
       |  SELECT window_start, house_id, appliance_id,
       |         count(CASE WHEN power > $PowerThreshold THEN 1 END) / count(power) AS duty_cycle
       |  FROM exploded GROUP BY 1, 2, 3)
       |SELECT appliance_id, count(*) AS n_windows, SUM(duty_cycle) AS sum_duty_cycle
       |FROM dc WHERE house_id = '1_1_0'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------------
  // Union of replay sources — O4 (REDD ∥ GREEND normalized to one schema)
  // -------------------------------------------------------------------------

  /** Two differently-shaped loaders normalized to the PowerReading schema and
    * UNION ALL'd — the REDD/GREEND dual-producer pattern
    * (`producer_REDD_avro.py:170` / `producer_GREEND_avro.py:197`). The GREEND
    * side exercises null-coercion (P8, `coalesce → 0.0`).
    */
  def unionReplay(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val redd = ev
      .filter(col("user_id") % 2 === 0)
      .select(
        concat(lit("1_"), (col("user_id") % 5).cast("string")).as("house_id"),
        col("event_type").as("appliance_name"),
        col("value").as("power"))
    val greend = ev
      .filter(col("user_id") % 2 === 1)
      .select(
        concat(lit("2_"), (col("user_id") % 5).cast("string")).as("house_id"),
        col("event_type").as("appliance_name"),
        coalesce(col("value"), lit(0.0)).as("power"))
    redd
      .unionByName(greend)
      .groupBy(substring(col("house_id"), 1, 1).as("dataset"))
      .agg(count(lit(1)).as("n"), dsum(col("power")).as("sum_power"))
      .orderBy("dataset")
  }

  val unionReplaySql: String =
    s"""WITH u AS (
       |  SELECT '1_' || CAST(user_id % 5 AS VARCHAR) AS house_id, value AS power
       |  FROM events WHERE user_id % 2 = 0
       |  UNION ALL
       |  SELECT '2_' || CAST(user_id % 5 AS VARCHAR) AS house_id, COALESCE(value, 0.0) AS power
       |  FROM events WHERE user_id % 2 = 1)
       |SELECT substr(house_id, 1, 1) AS dataset, count(*) AS n, ${dsumSql("power")} AS sum_power
       |FROM u GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------------
  // Label enrichment — J1 (broadcast hash join with 'unknown' fallback)
  // -------------------------------------------------------------------------

  /** The labels.dat/labels.json enrichment join: a small dimension broadcast
    * to every executor (no shuffle of the fact side), with the reference's
    * `"unknown"` fallback for unlabeled appliances
    * (`producer_GREEND_avro.py:199`).
    */
  def labelJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val readings = powerReadings(spark, sfDir)
    val labels = readings
      .filter(col("appliance_name") =!= "error")
      .select(col("appliance_name"))
      .distinct()
      .withColumn("label", upper(col("appliance_name")))
    readings
      .join(broadcast(labels), Seq("appliance_name"), "left")
      .na.fill("unknown", Seq("label"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), dsum(col("power")).as("sum_power"))
      .orderBy("label")
  }

  val labelJoinSql: String =
    s"""WITH $PowerCte,
       |labels AS (
       |  SELECT DISTINCT appliance_name, upper(appliance_name) AS label
       |  FROM power WHERE appliance_name <> 'error')
       |SELECT COALESCE(l.label, 'unknown') AS label, count(*) AS n, ${dsumSql("p.power")} AS sum_power
       |FROM power p LEFT JOIN labels l ON p.appliance_name = l.appliance_name
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------------
  // Analytic windows — beyond-parity (SURVEY.md §2.5 north-star)
  // -------------------------------------------------------------------------

  /** Per-appliance power delta via lag() — the analytic-window extension the
    * reference lacks. One shuffle on appliance_id; the sort within partitions
    * is local.
    */
  /** `ts_us` (not ns) on the output: DuckDB reads the parquet TIMESTAMP_NS
    * column at microsecond resolution, so µs is the finest oracle-comparable
    * granularity. Ordering ties at µs break on event_id in both engines.
    */
  def powerDeltas(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("appliance_id").orderBy("ts_us", "event_id")
    powerReadings(spark, sfDir)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .select(col("event_id"), col("appliance_id"), col("ts_us"), col("power"))
      .withColumn("prev_power", lag("power", 1).over(w))
      .withColumn("delta", col("power") - col("prev_power"))
      .orderBy("appliance_id", "ts_us", "event_id")
  }

  val powerDeltasSql: String =
    s"""WITH $PowerCte
       |SELECT event_id, appliance_id, ts_ns // 1000 AS ts_us, power,
       |       lag(power) OVER (PARTITION BY appliance_id ORDER BY ts_ns // 1000, event_id) AS prev_power,
       |       power - lag(power) OVER (PARTITION BY appliance_id ORDER BY ts_ns // 1000, event_id) AS delta
       |FROM power
       |ORDER BY appliance_id, ts_us, event_id""".stripMargin

  /** Per-group top-k (row_number ≤ 3): top appliances per house by exact total
    * power — the per-group variant of the dashboard's global top-10.
    */
  def topkPerHouse(spark: SparkSession, sfDir: String): DataFrame = {
    val totals = powerReadings(spark, sfDir)
      .groupBy("house_id", "appliance_id")
      .agg(dsum(col("power")).as("sum_power"))
    val w = Window.partitionBy("house_id").orderBy(desc("sum_power"), asc("appliance_id"))
    totals
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .orderBy("house_id", "rank")
  }

  val topkPerHouseSql: String =
    s"""WITH $PowerCte,
       |totals AS (
       |  SELECT house_id, appliance_id, ${dsumSql("power")} AS sum_power
       |  FROM power GROUP BY 1, 2)
       |SELECT * FROM (
       |  SELECT house_id, appliance_id, sum_power,
       |         CAST(row_number() OVER (PARTITION BY house_id ORDER BY sum_power DESC, appliance_id) AS INT) AS rank
       |  FROM totals)
       |WHERE rank <= 3
       |ORDER BY house_id, rank""".stripMargin

  // -------------------------------------------------------------------------
  // Registry
  // -------------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_duty_cycle" -> (dutyCycle(_, _)),
    "q_duty_cycle_prerolled" -> (dutyCyclePrerolled(_, _)),
    "q_duty_cycle_udaf" -> (dutyCycleUdaf(_, _)),
    "q_rollup_1s" -> (qRollup1s(_, _)),
    "q_rollup_60s" -> (qRollup60s(_, _)),
    "q_percentile_tile" -> (percentileTile(_, _)),
    "q_percentile_tile_60s" -> (percentileTile60s(_, _)),
    "q_history_avg" -> (historyAvg(_, _)),
    "q_total_power" -> (totalPower(_, _)),
    "q_power_by_appliance" -> (powerByDim(_, _, "appliance_name")),
    "q_power_by_house" -> (powerByDim(_, _, "house_id")),
    "q_top10_appliances" -> (top10Appliances(_, _)),
    "q_timeseries_5s" -> (timeseries5s(_, _)),
    "q_timeseries_1s_house" -> (timeseries1sHouse(_, _)),
    "q_gap_fill" -> (gapFill(_, _)),
    "q_recent_range" -> (recentRange(_, _)),
    "q_house_in_filter" -> (houseInFilter(_, _)),
    "q_interval_union_filter" -> (intervalUnionFilter(_, _)),
    "q_duty_sum_by_appliance" -> (dutySumByAppliance(_, _)),
    "q_union_replay" -> (unionReplay(_, _)),
    "q_label_join" -> (labelJoin(_, _)),
    "q_power_deltas" -> (powerDeltas(_, _)),
    "q_topk_per_house" -> (topkPerHouse(_, _))
  )

  def oracle: Map[String, String] = Map(
    "q_duty_cycle" -> dutyCycleSql,
    "q_duty_cycle_prerolled" -> dutyCyclePrerolledSql,
    "q_duty_cycle_udaf" -> dutyCycleUdafSql,
    "q_rollup_1s" -> rollup1sSql,
    "q_rollup_60s" -> rollup60sSql,
    "q_percentile_tile" -> percentileTileSql,
    "q_percentile_tile_60s" -> percentileTileSql,
    "q_history_avg" -> historyAvgSql,
    "q_total_power" -> totalPowerSql,
    "q_power_by_appliance" -> powerByDimSql("appliance_name"),
    "q_power_by_house" -> powerByDimSql("house_id"),
    "q_top10_appliances" -> top10AppliancesSql,
    "q_timeseries_5s" -> timeseries5sSql,
    "q_gap_fill" -> gapFillSql(),
    "q_timeseries_1s_house" -> timeseries1sHouseSql,
    "q_recent_range" -> recentRangeSql,
    "q_house_in_filter" -> houseInFilterSql,
    "q_interval_union_filter" -> intervalUnionFilterSql,
    "q_duty_sum_by_appliance" -> dutySumByApplianceSql,
    "q_union_replay" -> unionReplaySql,
    "q_label_join" -> labelJoinSql,
    "q_power_deltas" -> powerDeltasSql,
    "q_topk_per_house" -> topkPerHouseSql
  )
}
