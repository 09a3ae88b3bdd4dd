package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import scala.util.control.NonFatal

import graft.Tables
import Grid.{dsum, dsumSql}

/** Join / set-op / unpivot surface over the TESTDATA star schema.
  *
  * The reference contains no runtime join (SURVEY.md §2.3) — these queries are
  * the engine's first-class join coverage: broadcast dimension joins, a
  * shuffled fact-fact star join, semi/anti joins, unpivot (the GREEND
  * wide→long shape, G1) and multi-level aggregation.
  *
  * Scale posture: dimension tables (region/nation/supplier/customer at any SF)
  * broadcast; the orders⋈lineitem join shuffles on the order key — at 100 TB
  * both sides would be bucketed by orderkey so the exchange disappears.
  */
object Relational {

  /** TPC-H Q3-flavored star join: revenue of BUILDING-segment orders shipped
    * in a date window, top 10. Exact DECIMAL revenue so the oracle matches
    * bit-for-bit.
    */
  def starJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, sfDir)
    val l = Tables.lineitem(spark, sfDir)
    val revenue = sum(
      col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
      .cast(DoubleType)
    // SIZE-GATED pre-aggregation (r17, guide §2.3/§2.5): when `orders`
    // broadcasts, the fact side never shuffles and the map-side partial agg
    // after the join collapses any hot orderkey, so pre-aggregating only adds
    // an exchange (measured 1.74× slower at sf0.1). When it cannot, the
    // shuffled join lands a hot orderkey on ONE task — so group lineitem by
    // its own join key first: the exchange carries ≤ one row per
    // (task × orderkey) and the join becomes 1:1 (row-identical, o_orderkey
    // is unique). The size is Spark's own estimate: file bytes ×
    // fileCompressionFactor against the broadcast threshold.
    val broadcastThreshold =
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10m").toLowerCase)
      catch { case NonFatal(_) => -1L } // "-1" (disabled) or unparseable
    val compressionFactor =
      spark.conf.get("spark.sql.sources.fileCompressionFactor", "1.0").toDouble
    val ordersBroadcastable = broadcastThreshold > 0 &&
      Tables.tableBytes(spark, sfDir, "orders") * compressionFactor < broadcastThreshold
    if (ordersBroadcastable)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderkey")
        .agg(revenue.as("revenue"), count(lit(1)).as("n_lines"))
        .orderBy(desc("revenue"), asc("o_orderkey"))
        .limit(10)
    else
      l.groupBy(col("l_orderkey"))
        .agg(revenue.as("revenue"), count(lit(1)).as("n_lines"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("revenue"), col("n_lines"))
        .orderBy(desc("revenue"), asc("o_orderkey"))
        .limit(10)
  }

  val starJoinSql: String =
    """SELECT o_orderkey,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |       count(*) AS n_lines
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY o_orderkey
      |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin

  /** Full outer join: year-over-year customer activity (churn analysis).
    * Each side is a pre-aggregated per-customer order count — a customer
    * ordering in only one of the two years survives as an unmatched row, so
    * all three null regions of the full outer are exercised and checked. At
    * scale both sides shuffle on the same key and the aggregates are
    * count-rows-per-key (bounded), so the join never carries raw orders.
    */
  def fullOuterChurn(spark: SparkSession, sfDir: String): DataFrame = {
    def yearly(y: Int) = Tables.orders(spark, sfDir)
      .filter(year(col("o_orderdate")) === y)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as(s"n_$y"))
    yearly(1995).withColumnRenamed("o_custkey", "ck_a")
      .join(yearly(1996).withColumnRenamed("o_custkey", "ck_b"),
        col("ck_a") === col("ck_b"), "full_outer")
      .select(
        coalesce(col("ck_a"), col("ck_b")).as("custkey"),
        coalesce(col("n_1995"), lit(0L)).as("n_1995"),
        coalesce(col("n_1996"), lit(0L)).as("n_1996"),
        when(col("ck_a").isNull, "gained")
          .when(col("ck_b").isNull, "churned")
          .otherwise("retained").as("status"))
      .orderBy("custkey")
  }

  val fullOuterChurnSql: String =
    """WITH a AS (
      |  SELECT o_custkey, count(*) AS n_1995 FROM orders
      |  WHERE year(o_orderdate) = 1995 GROUP BY 1),
      |b AS (
      |  SELECT o_custkey, count(*) AS n_1996 FROM orders
      |  WHERE year(o_orderdate) = 1996 GROUP BY 1)
      |SELECT coalesce(a.o_custkey, b.o_custkey) AS custkey,
      |       coalesce(n_1995, 0) AS n_1995,
      |       coalesce(n_1996, 0) AS n_1996,
      |       CASE WHEN a.o_custkey IS NULL THEN 'gained'
      |            WHEN b.o_custkey IS NULL THEN 'churned'
      |            ELSE 'retained' END AS status
      |FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
      |ORDER BY custkey""".stripMargin

  /** Left-semi join (EXISTS): customers having a large order. */
  def semiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val big = Tables.orders(spark, sfDir).filter(col("o_totalprice") > 300000.0)
    c.join(big, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  val semiJoinSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
      |ORDER BY c_custkey""".stripMargin

  /** Left-anti join (NOT EXISTS): customers with no large order. */
  def antiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val big = Tables.orders(spark, sfDir).filter(col("o_totalprice") > 300000.0)
    c.join(big, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  val antiJoinSql: String =
    """SELECT c_custkey, c_name
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
      |ORDER BY c_custkey""".stripMargin

  /** Snowflake dimension chain supplier→nation→region, both joins broadcast. */
  def dimJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.supplier(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    val r = Tables.region(spark, sfDir)
    s.join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_suppliers"), dsum(col("s_acctbal")).as("sum_acctbal"))
      .orderBy("r_name")
  }

  val dimJoinSql: String =
    s"""SELECT r_name, count(*) AS n_suppliers, ${dsumSql("s_acctbal")} AS sum_acctbal
       |FROM supplier
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** G1 unpivot: lineitem measure columns wide→long via stack(), then
    * re-aggregated — the GREEND `timestamp,p0..pN` fan-out shape.
    */
  def unpivotMetrics(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(
        expr("""stack(4,
                'quantity', l_quantity,
                'extendedprice', l_extendedprice,
                'discount', l_discount,
                'tax', l_tax) AS (metric, value)"""))
      .groupBy("metric")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("metric")

  val unpivotMetricsSql: String =
    s"""WITH u AS (
       |  SELECT 'quantity' AS metric, l_quantity AS value FROM lineitem
       |  UNION ALL SELECT 'extendedprice', l_extendedprice FROM lineitem
       |  UNION ALL SELECT 'discount', l_discount FROM lineitem
       |  UNION ALL SELECT 'tax', l_tax FROM lineitem)
       |SELECT metric, count(*) AS n, ${dsumSql("value")} AS sum_value
       |FROM u GROUP BY 1 ORDER BY 1""".stripMargin

  /** Grouped statistics incl. distinct aggregation (SURVEY.md §2.4 notes the
    * reference has none — Spark built-ins cover it).
    */
  def groupStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n"),
        min("l_quantity").as("min_qty"),
        max("l_quantity").as("max_qty"),
        dsum(col("l_quantity")).as("sum_qty"),
        countDistinct("l_orderkey").as("n_orders"))
      .orderBy("l_returnflag", "l_linestatus")

  val groupStatsSql: String =
    s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
       |       min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
       |       ${dsumSql("l_quantity")} AS sum_qty,
       |       count(DISTINCT l_orderkey) AS n_orders
       |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** ANSI ROLLUP grouping sets (subtotals + grand total). Spark emits NULL for
    * rolled-up keys; the oracle must order NULLS FIRST to match Spark's
    * default ascending null ordering.
    */
  def rollupSets(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(
        col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  val rollupSetsSql: String =
    s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n, ${dsumSql("o_totalprice")} AS sum_price
       |FROM orders
       |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
       |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** Explicit GROUPING SETS — the general form ROLLUP/CUBE special-case:
    * per-status totals, per-priority totals, and the grand total in ONE pass
    * (Spark expands the sets into a single Expand+Aggregate, so the input
    * scans once however many sets are requested). `grouping()` flags
    * disambiguate a NULL group key from a rolled-up one.
    */
  def groupingSetsAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_priority"),
        count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(
        col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  val groupingSetsAggSql: String =
    s"""SELECT o_orderstatus, o_orderpriority,
       |       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       |       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
       |       count(*) AS n, ${dsumSql("o_totalprice")} AS sum_price
       |FROM orders
       |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
       |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** As-of join: for every error event, the most recent purchase by the same
    * user strictly before it. Spark lacks a native as-of join; rather than a
    * custom SparkPlan, this composes built-ins (preference (a) of the build
    * rules): tag both sides, one shuffle on the key, then an
    * ignore-nulls last_value over an exclusive-preceding frame. Wall-clock is
    * one sort per user partition — the same cost profile as a merge-based
    * as-of join, with Catalyst handling spill and codegen.
    */
  def asofPrevPurchase(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("purchase", "error"))
      .select(col("user_id"), col("event_id"), col("ts").as("ts_ns"), col("event_type"))
    val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn(
        "prev_purchase",
        last(when(col("event_type") === "purchase", col("event_id")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("error_id"), col("prev_purchase"))
      .orderBy("error_id")
  }

  val asofPrevPurchaseSql: String =
    """WITH t AS (
      |  SELECT user_id, event_id, epoch_ns(ts) AS tns, event_type
      |  FROM events WHERE event_type IN ('purchase', 'error')),
      |m AS (
      |  SELECT user_id, event_id, event_type,
      |         last_value(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY tns, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_purchase
      |  FROM t)
      |SELECT user_id, event_id AS error_id, prev_purchase
      |FROM m WHERE event_type = 'error'
      |ORDER BY error_id""".stripMargin

  /** The same prev-purchase-before-error semantics through the NATIVE as-of
    * operator ([[graft.plans.AsOf]]: custom logical node + strategy +
    * merge-join SparkPlan) instead of the union+window composition above —
    * both formulations are oracle-checked against independently-written SQL,
    * and RelationalSpec pins them equal row-for-row. Each side keeps its own
    * projection; the physical plan is two key-partitioned sorts and a
    * single-pass merge with one row of state.
    */
  def asofNative(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("error_id"), col("ts").as("err_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    graft.plans.AsOf.join(
        errors, purchases,
        keys = Seq("user_id" -> "p_user"),
        leftTime = "err_ts", rightTime = "p_ts",
        rightTiebreak = Seq("purchase_id"), strict = true)
      .select(col("user_id"), col("error_id"), col("purchase_id").as("prev_purchase"))
      .orderBy("error_id")
  }

  /** Oracle written as a correlated lateral (a different formulation than
    * both Spark plans AND the window-based q_asof_join oracle — three
    * independent derivations of the same semantics).
    */
  val asofNativeSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id AS error_id, epoch_ns(ts) AS tns
      |  FROM events WHERE event_type = 'error'),
      |p AS (
      |  SELECT user_id, event_id AS purchase_id, epoch_ns(ts) AS tns
      |  FROM events WHERE event_type = 'purchase')
      |SELECT e.user_id, e.error_id,
      |       (SELECT p.purchase_id FROM p
      |        WHERE p.user_id = e.user_id AND p.tns < e.tns
      |        ORDER BY p.tns DESC, p.purchase_id DESC LIMIT 1) AS prev_purchase
      |FROM e
      |ORDER BY error_id""".stripMargin

  /** The forward direction of the native as-of operator: for every error
    * event, the EARLIEST purchase by the same user strictly after it — the
    * "recovery conversion" attribution query. Same merge exec on a reversed
    * time axis (see [[graft.plans.AsOfJoinExec]]).
    */
  def asofForward(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("error_id"), col("ts").as("err_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    graft.plans.AsOf.join(
        errors, purchases,
        keys = Seq("user_id" -> "p_user"),
        leftTime = "err_ts", rightTime = "p_ts",
        rightTiebreak = Seq("purchase_id"), strict = true, forward = true)
      .select(col("user_id"), col("error_id"), col("purchase_id").as("next_purchase"))
      .orderBy("error_id")
  }

  val asofForwardSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id AS error_id, epoch_ns(ts) AS tns
      |  FROM events WHERE event_type = 'error'),
      |p AS (
      |  SELECT user_id, event_id AS purchase_id, epoch_ns(ts) AS tns
      |  FROM events WHERE event_type = 'purchase')
      |SELECT e.user_id, e.error_id,
      |       (SELECT p.purchase_id FROM p
      |        WHERE p.user_id = e.user_id AND p.tns > e.tns
      |        ORDER BY p.tns ASC, p.purchase_id ASC LIMIT 1) AS next_purchase
      |FROM e
      |ORDER BY error_id""".stripMargin

  /** Set operations (SURVEY §2.6 notes the reference has none — Spark
    * built-ins): buyers who also clicked, and buyers who never clicked.
    */
  def setOps(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    def users(t: String) =
      ev.filter(col("event_type") === t).select("user_id").distinct()
    val both = users("purchase").intersect(users("click"))
      .withColumn("relation", lit("purchase_and_click"))
    val onlyBuy = users("purchase").except(users("click"))
      .withColumn("relation", lit("purchase_no_click"))
    both.unionByName(onlyBuy).orderBy("relation", "user_id")
  }

  val setOpsSql: String =
    """WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
      |u AS (
      |  SELECT user_id, 'purchase_and_click' AS relation FROM (SELECT user_id FROM p INTERSECT SELECT user_id FROM c)
      |  UNION ALL
      |  SELECT user_id, 'purchase_no_click' AS relation FROM (SELECT user_id FROM p EXCEPT SELECT user_id FROM c))
      |SELECT user_id, relation FROM u ORDER BY relation, user_id""".stripMargin

  /** Full CUBE over two dimensions (all four grouping sets). */
  def cubeSets(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(
        col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  val cubeSetsSql: String =
    s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n, ${dsumSql("o_totalprice")} AS sum_price
       |FROM orders
       |GROUP BY CUBE(o_orderstatus, o_orderpriority)
       |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** first_value / last_value over an ordered full-partition frame: each
    * customer's first and latest order keys.
    */
  def firstLastOrders(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, sfDir)
      .select(
        col("o_custkey"),
        first("o_orderkey").over(w).as("first_order"),
        last("o_orderkey").over(w).as("last_order"),
        count(lit(1)).over(w).as("n_orders"))
      .distinct()
      .orderBy("o_custkey")
  }

  val firstLastOrdersSql: String =
    """SELECT DISTINCT o_custkey,
      |       first_value(o_orderkey) OVER w AS first_order,
      |       last_value(o_orderkey) OVER w AS last_order,
      |       count(*) OVER w AS n_orders
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey""".stripMargin

  // -------------------------------------------------------------------------
  // SCD type-2 dimension merge (CDC upsert)
  // -------------------------------------------------------------------------

  /** Deterministic change batch synthesized from the dimension itself:
    * every 7th customer gets a balance adjustment.
    */
  private[graft] val ScdUpdateMod = 7

  /** Slowly-changing-dimension type-2 merge — the warehouse upsert: apply a
    * change batch to a versioned dimension, closing the current version of
    * each changed key (valid_to = batch epoch) and appending the new version
    * (valid_from = batch epoch, open-ended). Spark has no MERGE INTO on plain
    * parquet, so the operator is the canonical plan shape a lakehouse MERGE
    * lowers to: one left join of the dimension against the (much smaller,
    * broadcast) change batch deciding close/keep, plus a union of the
    * appended versions. Everything shuffles at most once on the dimension
    * key; balances ride as DECIMAL(18,2) for engine-exact comparison.
    */
  def scd2Merge(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = Tables.customer(spark, sfDir)
      .select(
        col("c_custkey").as("custkey"),
        col("c_acctbal").cast(DecimalType(18, 2)).as("acctbal"))
    val updates = dim
      .filter(col("custkey") % ScdUpdateMod === 0)
      .select(col("custkey"), (col("acctbal") + lit(100)).cast(DecimalType(18, 2)).as("acctbal"))
    val joined = dim.join(broadcast(updates.select(col("custkey").as("u_key"))),
      col("custkey") === col("u_key"), "left")
    // final balances leave as DOUBLE: exact at scale 2, and both engines'
    // parquet/pandas decimal renderings diverge (STATE.md decimal contract)
    val closedOrOpen = joined.select(
      col("custkey"),
      col("acctbal").cast(DoubleType).as("acctbal"),
      lit(0L).as("valid_from"),
      when(col("u_key").isNotNull, lit(1L)).as("valid_to"))
    val appended = updates.select(
      col("custkey"), col("acctbal").cast(DoubleType).as("acctbal"),
      lit(1L).as("valid_from"),
      lit(null).cast("long").as("valid_to"))
    closedOrOpen.union(appended)
      .orderBy(col("custkey"), col("valid_from"))
  }

  val scd2MergeSql: String =
    s"""WITH dim AS (
       |  SELECT c_custkey AS custkey, CAST(c_acctbal AS DECIMAL(18,2)) AS acctbal
       |  FROM customer),
       |updates AS (
       |  SELECT custkey, CAST(acctbal + 100 AS DECIMAL(18,2)) AS acctbal
       |  FROM dim WHERE custkey % $ScdUpdateMod = 0)
       |SELECT d.custkey, CAST(d.acctbal AS DOUBLE) AS acctbal,
       |       CAST(0 AS BIGINT) AS valid_from,
       |       CASE WHEN u.custkey IS NOT NULL THEN CAST(1 AS BIGINT) END AS valid_to
       |FROM dim d LEFT JOIN updates u ON d.custkey = u.custkey
       |UNION ALL
       |SELECT custkey, CAST(acctbal AS DOUBLE), CAST(1 AS BIGINT), CAST(NULL AS BIGINT)
       |FROM updates
       |ORDER BY custkey, valid_from""".stripMargin

  // -------------------------------------------------------------------------
  // Interval-overlap join (keyed)
  // -------------------------------------------------------------------------

  /** Overlapping-interval pairs, keyed: each order's fulfillment span is
    * [o_orderdate, max(l_shipdate)]; two orders of the SAME customer overlap
    * when each starts before the other ends. The join is an equi-join on the
    * customer key with the overlap predicate as a residual — per-key fanout
    * is bounded by orders-per-customer, so the pair space never goes
    * quadratic in the table. (An UNKEYED interval join would use the
    * [[graft.ann.SimilarityOps]] block-grid pattern on interval buckets.)
    */
  def orderOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val spans = Tables.orders(spark, sfDir)
      .join(
        Tables.lineitem(spark, sfDir)
          .groupBy("l_orderkey").agg(max("l_shipdate").as("ship_end")),
        col("o_orderkey") === col("l_orderkey"))
      .select(
        col("o_custkey").as("custkey"), col("o_orderkey").as("okey"),
        col("o_orderdate").as("start"), col("ship_end").as("end"))
    val a = spans.as("a")
    val b = spans.as("b")
    a.join(b,
        col("a.custkey") === col("b.custkey") &&
          col("a.okey") < col("b.okey") &&
          col("a.start") <= col("b.end") && col("b.start") <= col("a.end"))
      .groupBy(col("a.custkey").as("custkey"))
      .agg(count(lit(1)).as("n_overlap_pairs"))
      .orderBy("custkey")
  }

  val orderOverlapSql: String =
    """WITH spans AS (
      |  SELECT o.o_custkey AS custkey, o.o_orderkey AS okey,
      |         o.o_orderdate AS s, m.ship_end AS e
      |  FROM orders o
      |  JOIN (SELECT l_orderkey, max(l_shipdate) AS ship_end
      |        FROM lineitem GROUP BY 1) m
      |    ON o.o_orderkey = m.l_orderkey)
      |SELECT a.custkey, count(*) AS n_overlap_pairs
      |FROM spans a JOIN spans b
      |  ON a.custkey = b.custkey AND a.okey < b.okey
      | AND a.s <= b.e AND b.s <= a.e
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The same fulfillment-span relation through the NATIVE interval join
    * ([[graft.plans.IntervalJoin]]: sweep-line merge, buffer bounded by the
    * per-customer interval concurrency) under half-open overlap semantics,
    * deduplicated to unordered pairs post-join. The composed
    * [[orderOverlap]] (equi-join + range filter) stays as the preference-(a)
    * form; this is the plan a purpose-built temporal engine runs.
    */
  def intervalNative(spark: SparkSession, sfDir: String): DataFrame = {
    val spans = Tables.orders(spark, sfDir)
      .join(
        Tables.lineitem(spark, sfDir)
          .groupBy("l_orderkey").agg(max("l_shipdate").as("ship_end")),
        col("o_orderkey") === col("l_orderkey"))
      .select(
        col("o_custkey").as("custkey"), col("o_orderkey").as("okey"),
        col("o_orderdate").as("start"), col("ship_end").as("end"))
    val r = spans.select(
      col("custkey").as("r_custkey"), col("okey").as("r_okey"),
      col("start").as("r_start"), col("end").as("r_end"))
    graft.plans.IntervalJoin.join(
        spans, r,
        keys = Seq("custkey" -> "r_custkey"),
        leftRange = ("start", "end"), rightRange = ("r_start", "r_end"))
      .filter(col("okey") < col("r_okey"))
      .groupBy("custkey")
      .agg(count(lit(1)).as("n_overlap_pairs"))
      .orderBy("custkey")
  }

  val intervalNativeSql: String =
    """WITH spans AS (
      |  SELECT o.o_custkey AS custkey, o.o_orderkey AS okey,
      |         o.o_orderdate AS s, m.ship_end AS e
      |  FROM orders o
      |  JOIN (SELECT l_orderkey, max(l_shipdate) AS ship_end
      |        FROM lineitem GROUP BY 1) m
      |    ON o.o_orderkey = m.l_orderkey)
      |SELECT a.custkey, count(*) AS n_overlap_pairs
      |FROM spans a JOIN spans b
      |  ON a.custkey = b.custkey AND a.okey < b.okey
      | AND a.s < b.e AND b.s < a.e
      |GROUP BY 1 ORDER BY 1""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_order_overlap" -> (orderOverlap(_, _)),
    "q_interval_native" -> (intervalNative(_, _)),
    "q_scd2_merge" -> (scd2Merge(_, _)),
    "q_cube_sets" -> (cubeSets(_, _)),
    "q_first_last_orders" -> (firstLastOrders(_, _)),
    "q_set_ops" -> (setOps(_, _)),
    "q_asof_join" -> (asofPrevPurchase(_, _)),
    "q_asof_native" -> (asofNative(_, _)),
    "q_asof_forward" -> (asofForward(_, _)),
    "q_star_join" -> (starJoin(_, _)),
    "q_semi_join" -> (semiJoin(_, _)),
    "q_full_outer" -> (fullOuterChurn(_, _)),
    "q_anti_join" -> (antiJoin(_, _)),
    "q_dim_join" -> (dimJoin(_, _)),
    "q_unpivot_metrics" -> (unpivotMetrics(_, _)),
    "q_group_stats" -> (groupStats(_, _)),
    "q_rollup_sets" -> (rollupSets(_, _)),
    "q_grouping_sets" -> (groupingSetsAgg(_, _))
  )

  def oracle: Map[String, String] = Map(
    "q_order_overlap" -> orderOverlapSql,
    "q_interval_native" -> intervalNativeSql,
    "q_scd2_merge" -> scd2MergeSql,
    "q_cube_sets" -> cubeSetsSql,
    "q_first_last_orders" -> firstLastOrdersSql,
    "q_set_ops" -> setOpsSql,
    "q_asof_join" -> asofPrevPurchaseSql,
    "q_asof_native" -> asofNativeSql,
    "q_asof_forward" -> asofForwardSql,
    "q_star_join" -> starJoinSql,
    "q_semi_join" -> semiJoinSql,
    "q_full_outer" -> fullOuterChurnSql,
    "q_anti_join" -> antiJoinSql,
    "q_dim_join" -> dimJoinSql,
    "q_unpivot_metrics" -> unpivotMetricsSql,
    "q_group_stats" -> groupStatsSql,
    "q_rollup_sets" -> rollupSetsSql,
    "q_grouping_sets" -> groupingSetsAggSql
  )
}
