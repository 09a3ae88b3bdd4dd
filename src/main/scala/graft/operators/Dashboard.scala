package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The Imply-Pivot dashboard (`frontend/dashboard-iGridDemo.json`) as a Spark
  * SQL layer: the three datasources become temp views and every tile is a
  * plain `spark.sql` query — the same Catalyst plans as the DataFrame
  * versions in [[Grid]], entered through SQL text (SURVEY.md §3.3).
  *
  * The views are unsorted: order belongs to the tile. A datasource that
  * kept its catalog query's ORDER BY would make every tile re-sort its
  * input (a sampling job, a range exchange and a sort, kept by Spark under
  * a double sum) only for the tile's own ORDER BY to discard the order.
  * With the lattice installed, `powerraw` is a projection of the 1 s level
  * ([[graft.plans.RollupRewrite]]'s same-grain case), so a tile's own
  * GROUP BY is the only aggregation it runs.
  */
object Dashboard {

  /** Register the dashboard datasources for a scale-factor directory:
    * `powerraw` (the SECOND rollup), `dutycycle`, `history` — the unsorted
    * forms of [[Grid.qRollup1s]], [[Grid.dutyCycle]] and [[Grid.historyAvg]].
    */
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    Grid.rollup1sView(spark, sfDir).createOrReplaceTempView("powerraw")
    Grid.dutyCycleView(spark, sfDir).createOrReplaceTempView("dutycycle")
    Grid.historyAvgView(spark, sfDir).createOrReplaceTempView("history")
  }

  /** The six tiles (dashboard-iGridDemo.json), keyed by tile name. Relative
    * time filters use the deterministic `now` (Grid.NowEpoch).
    */
  val tiles: Map[String, String] = Map(
    // :19-41 "Current Total Power" — A7
    "total_power" ->
      "SELECT sum(sum_power) AS total_power FROM powerraw",
    // :42-72 "Top 10 appliance category" — A8+W5
    "top10_appliance_names" ->
      """SELECT appliance_name, sum(sum_power) AS p FROM powerraw
        |GROUP BY 1 ORDER BY p DESC, appliance_name LIMIT 10""".stripMargin,
    // :73-104 "Top 10 households" — A8+W5
    "top10_houses" ->
      """SELECT house_id, sum(sum_power) AS p FROM powerraw
        |GROUP BY 1 ORDER BY p DESC, house_id LIMIT 10""".stripMargin,
    // :105-136 "Top 10 appliances" — A8+W5
    "top10_appliances" ->
      """SELECT appliance_id, sum(sum_power) AS p FROM powerraw
        |GROUP BY 1 ORDER BY p DESC, appliance_id LIMIT 10""".stripMargin,
    // :137-193 duty cycle per appliance, one house, recent window — A9+P11+P12
    "duty_cycle_house" ->
      s"""SELECT appliance_id, sum(duty_cycle) AS sum_duty_cycle FROM dutycycle
         |WHERE house_id = '1_1_0' AND window_start >= ${Grid.NowEpoch - 86400L}
         |GROUP BY 1 ORDER BY sum_duty_cycle DESC, appliance_id""".stripMargin,
    // :194-230 global power trend, PT5S buckets — A11+W3
    "power_trend_5s" ->
      """SELECT (epoch_s div 5) * 5 AS bucket_s, sum(sum_power) AS p FROM powerraw
        |GROUP BY 1 ORDER BY bucket_s""".stripMargin,
    // :231-287 history avg power per appliance, one house — A10
    "history_house" ->
      """SELECT appliance_id, sum(avg_power) AS sum_avg_power FROM history
        |WHERE house_id = '1_1_0'
        |GROUP BY 1 ORDER BY sum_avg_power DESC, appliance_id""".stripMargin,
    // :329-394 per-house per-appliance PT1S series — A11
    "house_series_1s" ->
      """SELECT epoch_s, appliance_id, sum(sum_power) AS p FROM powerraw
        |WHERE house_id = '1_1_0'
        |GROUP BY 1, 2 ORDER BY epoch_s, appliance_id""".stripMargin
  )

  def tile(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    registerViews(spark, sfDir)
    spark.sql(tiles(name))
  }

  // -------------------------------------------------------------------------
  // Oracle-backed tiles (VERDICT r5 #4): the dutycycle/history datasources
  // derived inline as CTEs so the last two SURVEY §2 aggregate rows (A9/A10
  // house tiles) get CORRECTNESS entries instead of spec-only round-trips.
  // -------------------------------------------------------------------------

  /** dashboard-iGridDemo.json:137-193 — duty-cycle sum per appliance for one
    * house over the trailing day, through the SQL tile surface.
    */
  val dutyCycleHouseSql: String =
    s"""WITH ${Grid.PowerCte},
       |exploded AS (
       |  SELECT p.*, (p.epoch_s // 5) * 5 - k.i * 5 AS window_start
       |  FROM power p CROSS JOIN (VALUES (0),(1),(2),(3),(4)) AS k(i)),
       |dutycycle AS (
       |  SELECT window_start, house_id, appliance_id,
       |         count(CASE WHEN power > ${Grid.PowerThreshold} THEN 1 END)
       |           / count(power) AS duty_cycle
       |  FROM exploded GROUP BY 1, 2, 3)
       |SELECT appliance_id, SUM(duty_cycle) AS sum_duty_cycle
       |FROM dutycycle
       |WHERE house_id = '1_1_0' AND window_start >= ${Grid.NowEpoch - 86400L}
       |GROUP BY 1 ORDER BY sum_duty_cycle DESC, appliance_id""".stripMargin

  /** dashboard-iGridDemo.json:231-287 — history average power per appliance
    * for one house (A10), through the SQL tile surface.
    */
  val historyHouseSql: String = {
    val pred = Grid.historyIntervals
      .map { case (s, e) => s"(epoch_s >= $s AND epoch_s < $e)" }
      .mkString(" OR ")
    s"""WITH ${Grid.PowerCte},
       |rollup AS (
       |  SELECT epoch_s, house_id, appliance_id,
       |         count(*) AS cnt, SUM(CAST(power AS DECIMAL(18,2))) AS sp
       |  FROM power GROUP BY 1, 2, 3),
       |history AS (
       |  SELECT house_id, appliance_id,
       |         CAST(SUM(sp) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT) AS avg_power
       |  FROM rollup WHERE $pred GROUP BY 1, 2)
       |SELECT appliance_id, SUM(avg_power) AS sum_avg_power
       |FROM history WHERE house_id = '1_1_0'
       |GROUP BY 1 ORDER BY sum_avg_power DESC, appliance_id""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dash_duty_house" -> (tile(_, _, "duty_cycle_house")),
    "q_dash_history_house" -> (tile(_, _, "history_house"))
  )

  def oracle: Map[String, String] = Map(
    "q_dash_duty_house" -> dutyCycleHouseSql,
    "q_dash_history_house" -> historyHouseSql
  )
}
