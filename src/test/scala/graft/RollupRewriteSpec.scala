package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Grid
import graft.plans.RollupRewrite
import graft.sources.RollupTable

class RollupRewriteSpec extends AnyFunSuite with SharedSpark {

  private lazy val rollupDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("rw_rollup").toString
    RollupTable.materialize(spark, sfDir, dir)
    dir
  }

  private def raw = Grid.powerReadings(spark, sfDir)

  private def install(): Unit = RollupRewrite.install(spark, rollupDir, raw)

  private def routed(df: org.apache.spark.sql.DataFrame): Boolean = {
    val plan = df.queryExecution.optimizedPlan.toString
    plan.contains("sum_power_dec") && !plan.contains("user_id")
  }

  test("aggregates over the raw view are routed to the rollup scan") {
    install()
    try {
      val q = raw.groupBy("house_id")
        .agg(count(lit(1)).as("n"), sum("power").as("p"))
        .orderBy("house_id")
      assert(routed(q), s"expected rollup routing, got:\n${q.queryExecution.optimizedPlan}")
      // results identical to the unrewritten query
      val rewritten = q.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      RollupRewrite.uninstall(spark)
      val direct = raw.groupBy("house_id")
        .agg(count(lit(1)).as("n"), sum("power").as("p"))
        .orderBy("house_id")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      assert(rewritten.map(t => (t._1, t._2)).sameElements(direct.map(t => (t._1, t._2))))
      rewritten.zip(direct).foreach { case (a, b) =>
        assert(math.abs(a._3 - b._3) < 1e-6 * math.max(1.0, math.abs(b._3)))
      }
    } finally RollupRewrite.uninstall(spark)
  }

  test("filtered dashboard tiles route to the rollup (house, IN-set, time range)") {
    install()
    try {
      // the dashboard's most common shapes: served-key filters + aggregate
      val tiles = Seq(
        raw.filter(col("house_id") === "1_1_0")
          .groupBy("appliance_id").agg(sum("power").as("p"), count(lit(1)).as("n")),
        raw.filter(col("house_id").isin("1_1_0", "1_1_2") &&
            col("appliance_name").isin("click", "purchase"))
          .groupBy("house_id", "appliance_name").agg(count(lit(1)).as("n")),
        raw.filter(Grid.tsIntervalPredicate(Grid.historyIntervals))
          .groupBy("appliance_name").agg(count(lit(1)).as("n"), sum("power").as("p")),
        raw.filter(col("epoch_s") >= 1704067200L && col("epoch_s") < 1704067500L)
          .groupBy("house_id").agg(max("power").as("mx"), min("power").as("mn")))
      tiles.foreach { q =>
        assert(routed(q), s"expected rollup routing, got:\n${q.queryExecution.optimizedPlan}")
        val viaRollup = q.orderBy(q.columns.map(col).toSeq: _*).collect().map(_.toSeq)
        RollupRewrite.uninstall(spark)
        val direct = q.orderBy(q.columns.map(col).toSeq: _*).collect().map(_.toSeq)
        install()
        assert(viaRollup.length == direct.length, s"row count differs for:\n$q")
        viaRollup.zip(direct).foreach { case (a, b) =>
          a.zip(b).foreach {
            // double sums: rollup path is exact-decimal, direct is raw double
            // accumulation — identical up to the double sum's own order noise
            case (x: Double, y: Double) =>
              assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)), s"$x vs $y in:\n$q")
            case (x, y) => assert(x == y, s"$x vs $y in:\n$q")
          }
        }
      }
    } finally RollupRewrite.uninstall(spark)
  }

  test("queries outside the proven mapping are left untouched") {
    install()
    try {
      // a filter on the measure → no rewrite (raw scan remains)
      val filtered = raw.filter(col("power") > 100)
        .groupBy("house_id").agg(count(lit(1)).as("n"))
      assert(filtered.queryExecution.optimizedPlan.toString.contains("user_id"))
      // an aggregate the rollup can't serve (exact percentile) → no rewrite
      val pctq = raw.groupBy("house_id").agg(expr("percentile(power, 0.5)").as("m"))
      assert(pctq.queryExecution.optimizedPlan.toString.contains("user_id"))
      // grouping by a non-rollup column → no rewrite
      val byEvent = raw.groupBy("event_id").agg(count(lit(1)).as("n"))
      assert(byEvent.queryExecution.optimizedPlan.toString.contains("event_id#"))
      assert(!byEvent.queryExecution.optimizedPlan.toString.contains("cnt"))
      // a sub-second time bound epoch_s cannot express → no rewrite
      val subSec = raw.filter(col("ts_ns") >= 1704067200L * 1000000000L + 1L)
        .groupBy("house_id").agg(count(lit(1)).as("n"))
      assert(subSec.queryExecution.optimizedPlan.toString.contains("user_id"))
    } finally RollupRewrite.uninstall(spark)
  }

  test("same-named projections with different expressions are NOT rewritten") {
    install()
    try {
      // reuses every PowerReading column name but redefines the measure —
      // the structural check must reject it (name-match alone would silently
      // halve every sum)
      val imposter = Tables.events(spark, sfDir)
        .select(
          concat(lit("1_1_"), (col("user_id") % 5).cast("string")).as("house_id"),
          (col("value") * 2).as("power"))
        .groupBy("house_id").agg(sum("power").as("p"))
      assert(imposter.queryExecution.optimizedPlan.toString.contains("user_id"),
        s"imposter projection was rewritten:\n${imposter.queryExecution.optimizedPlan}")
      // and a redefined group key must also reject
      val imposterKey = Tables.events(spark, sfDir)
        .select(
          concat(lit("1_1_"), (col("user_id") % 7).cast("string")).as("house_id"),
          col("value").as("power"))
        .groupBy("house_id").agg(sum("power").as("p"))
      assert(imposterKey.queryExecution.optimizedPlan.toString.contains("user_id"))
    } finally RollupRewrite.uninstall(spark)
  }

  test("avg(power) routes to the rollup as decimal-sum over null-safe count") {
    install()
    try {
      val q = raw.groupBy("appliance_name")
        .agg(avg("power").as("p_avg"), count(lit(1)).as("n"))
        .orderBy("appliance_name")
      assert(routed(q), s"expected rollup routing, got:\n${q.queryExecution.optimizedPlan}")
      val rewritten = q.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      RollupRewrite.uninstall(spark)
      val direct = raw.groupBy("appliance_name")
        .agg(avg("power").as("p_avg"), count(lit(1)).as("n"))
        .orderBy("appliance_name")
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      assert(rewritten.map(t => (t._1, t._3)).sameElements(direct.map(t => (t._1, t._3))))
      rewritten.zip(direct).foreach { case (a, b) =>
        assert(math.abs(a._2 - b._2) < 1e-9 * math.max(1.0, math.abs(b._2)), s"${a._1}")
      }
      // empty-match global average must be NULL (Average semantics), not an
      // error and not 0
      install()
      val empty = raw.filter(col("house_id") === "no_such_house")
        .agg(avg("power").as("p_avg"))
      assert(!empty.queryExecution.optimizedPlan.toString.contains("user_id"))
      assert(empty.head().isNullAt(0), "avg over zero rollup rows must be NULL")
    } finally RollupRewrite.uninstall(spark)
  }

  test("global count with a no-match filter returns 0, not NULL (ADVICE r2 high)") {
    install()
    try {
      val q = raw.filter(col("house_id") === "no_such_house")
        .agg(count(lit(1)).as("n"), count(col("power")).as("np"))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(!plan.contains("user_id") && plan.contains("cnt"),
        s"expected rollup routing, got:\n$plan")
      val row = q.head()
      assert(!row.isNullAt(0) && row.getLong(0) == 0L, s"count(*) over empty filter: $row")
      assert(!row.isNullAt(1) && row.getLong(1) == 0L, s"count(power) over empty filter: $row")
    } finally RollupRewrite.uninstall(spark)
  }

  test("IsNotNull on a scan column maps only through PROVEN null-bijections") {
    install()
    try {
      // positive: the canonical view's defs are proven bijective, so a filter
      // on the raw scan's ts/user_id columns routes to the rollup
      val q = Tables.events(spark, sfDir)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(
          concat(lit("1_1_"), (col("user_id") % 5).cast("string")).as("house_id"),
          col("value").as("power"))
        .groupBy("house_id").agg(count(lit(1)).as("n"))
      assert(!q.queryExecution.optimizedPlan.toString.contains("user_id"),
        s"proven IsNotNull mapping should route:\n${q.queryExecution.optimizedPlan}")
    } finally RollupRewrite.uninstall(spark)
    // negative: a view whose house_id does NOT null-propagate from user_id
    // (coalesce) must leave IsNotNull(user_id) untranslatable → no rewrite
    val alt = Tables.events(spark, sfDir).select(
      expr("ts div 1000000000").as("epoch_s"),
      coalesce((col("user_id") % 5).cast("string"), lit("x")).as("house_id"),
      (col("user_id") % 5).cast("string").as("appliance_id"),
      col("event_type").as("appliance_name"),
      col("value").as("power"))
    RollupRewrite.install(spark, rollupDir, alt)
    try {
      val q = Tables.events(spark, sfDir)
        .filter(col("user_id").isNotNull)
        .select(
          coalesce((col("user_id") % 5).cast("string"), lit("x")).as("house_id"),
          col("value").as("power"))
        .groupBy("house_id").agg(count(lit(1)).as("n"))
      assert(q.queryExecution.optimizedPlan.toString.contains("user_id"),
        s"unproven IsNotNull mapping must reject:\n${q.queryExecution.optimizedPlan}")
    } finally RollupRewrite.uninstall(spark)
  }

  test("tumbling event-time windows route to the rollup (VERDICT r3 #4)") {
    install()
    try {
      // window == slide → TimeWindowing lowers to a Project computing the
      // struct from `time`; the struct matcher must recompute it from epoch_s
      val q = raw.groupBy(window(col("time"), "5 seconds"), col("house_id"))
        .agg(count(lit(1)).as("n"), sum("power").as("p"))
        .select(col("window.start").cast("long").as("ws"), col("house_id"), col("n"), col("p"))
        .orderBy("ws", "house_id")
      assert(routed(q), s"expected rollup routing, got:\n${q.queryExecution.optimizedPlan}")
      val viaRollup = q.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      RollupRewrite.uninstall(spark)
      val direct = raw.groupBy(window(col("time"), "5 seconds"), col("house_id"))
        .agg(count(lit(1)).as("n"), sum("power").as("p"))
        .select(col("window.start").cast("long").as("ws"), col("house_id"), col("n"), col("p"))
        .orderBy("ws", "house_id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(viaRollup.length == direct.length && viaRollup.length > 0)
      viaRollup.zip(direct).foreach { case (a, b) =>
        assert(a._1 == b._1 && a._2 == b._2 && a._3 == b._3, s"$a vs $b")
        assert(math.abs(a._4 - b._4) <= 1e-9 * math.max(1.0, math.abs(b._4)), s"$a vs $b")
      }
    } finally RollupRewrite.uninstall(spark)
  }

  test("sliding event-time windows replay the Expand over the rollup (VERDICT r3 #4)") {
    install()
    try {
      // the duty cycle's 25s/5s window: raw rows fan out ×5 through an
      // Expand; the rewrite must fan out ROLLUP GROUPS ×5 instead
      def windowed(src: org.apache.spark.sql.DataFrame) = src
        .groupBy(window(col("time"), "25 seconds", "5 seconds"),
          col("house_id"), col("appliance_id"))
        .agg(count("power").as("c_all"), sum("power").as("sum_p"))
        .select(col("window.start").cast("long").as("window_start"),
          col("house_id"), col("appliance_id"), col("c_all"), col("sum_p"))
        .orderBy("window_start", "appliance_id")
      val q = windowed(raw)
      val plan = q.queryExecution.optimizedPlan.toString
      assert(routed(q), s"expected rollup routing, got:\n$plan")
      assert(plan.contains("Expand"), s"sliding-window route must keep the Expand:\n$plan")
      val viaRollup = q.collect().map(_.toSeq)
      RollupRewrite.uninstall(spark)
      val direct = windowed(raw).collect().map(_.toSeq)
      assert(viaRollup.length == direct.length && viaRollup.length > 0)
      viaRollup.zip(direct).foreach { case (a, b) =>
        a.zip(b).foreach {
          case (x: Double, y: Double) =>
            assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)), s"$x vs $y")
          case (x, y) => assert(x == y, s"$x vs $y")
        }
      }
    } finally RollupRewrite.uninstall(spark)
  }

  test("grouping-functional filters above the Expand hoist onto the replay (VERDICT r10 #7)") {
    install()
    try {
      // the dashboard duty-cycle tile's shape: a bound on window.start sits
      // BETWEEN the windowed Aggregate and the Expand (the view's outer
      // WHERE pushed down) — branch-dependent in scan space, but a pure
      // function of the window grouping, so it commutes with the
      // aggregation and filters the replayed Expand instead
      val cut = graft.operators.Grid.NowEpoch - 86400L
      def tile(src: org.apache.spark.sql.DataFrame) = src
        .groupBy(window(col("time"), "25 seconds", "5 seconds"),
          col("house_id"), col("appliance_id"))
        .agg(count("power").as("c_all"))
        .filter(col("window.start").cast("long") >= cut)
        .select(col("window.start").cast("long").as("ws"),
          col("house_id"), col("appliance_id"), col("c_all"))
        .orderBy("ws", "house_id", "appliance_id")
      // NOTE: .filter ABOVE the agg here lands below it after optimization
      // only in the SQL-view form; build the below-agg form directly via sql
      graft.operators.Dashboard.registerViews(spark, sfDir)
      val q = spark.sql(
        s"""SELECT appliance_id, SUM(duty_cycle) AS s FROM dutycycle
           |WHERE house_id = '1_1_0' AND window_start >= $cut
           |GROUP BY 1 ORDER BY s DESC, appliance_id""".stripMargin)
      assert(routed(q), s"tile with a window_start bound must route:\n${q.queryExecution.optimizedPlan}")
      val viaRollup = q.collect().map(_.toSeq)
      val q2 = tile(raw)
      assert(routed(q2), s"window.start-filtered agg must route:\n${q2.queryExecution.optimizedPlan}")
      RollupRewrite.uninstall(spark)
      graft.operators.Dashboard.registerViews(spark, sfDir)
      val direct = spark.sql(
        s"""SELECT appliance_id, SUM(duty_cycle) AS s FROM dutycycle
           |WHERE house_id = '1_1_0' AND window_start >= $cut
           |GROUP BY 1 ORDER BY s DESC, appliance_id""".stripMargin)
        .collect().map(_.toSeq)
      assert(viaRollup.length == direct.length && viaRollup.nonEmpty)
      viaRollup.zip(direct).foreach { case (a, b) =>
        a.zip(b).foreach {
          case (x: Double, y: Double) =>
            assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)), s"$x vs $y")
          case (x, y) => assert(x == y, s"$x vs $y")
        }
      }
      // NEGATIVE: a filter above the Expand referencing the MEASURE is not
      // a function of the groupings — it must reject the rewrite (raw scan)
      RollupRewrite.install(spark, rollupDir, raw)
      val bad = raw
        .withColumn("w", window(col("time"), "25 seconds", "5 seconds"))
        .filter(col("w.start").cast("long") >= cut && col("power") > 3.0)
        .groupBy(col("w"), col("house_id"))
        .agg(count("power").as("c"))
      // (filter below the agg but above nothing — sits under the Expand? —
      // force the above-Expand shape via a post-window filter on both)
      val plan = bad.queryExecution.optimizedPlan.toString
      assert(plan.contains("user_id"),
        s"a measure-referencing filter must keep the raw plan:\n$plan")
      // NEGATIVE (ADVICE r12): a NON-DETERMINISTIC branch-dependent filter
      // must not hoist. `w.start >= cut AND rand() < 0.5` is one un-split
      // condition whose rand() conjunct carries no references, so the
      // residual-reference check alone would pass it — hoisted onto the
      // replayed Expand it becomes whole-GROUP keep/drop instead of
      // per-raw-row sampling, silently wrong aggregates.
      val sampled = raw
        .withColumn("w", window(col("time"), "25 seconds", "5 seconds"))
        .filter(col("w.start").cast("long") >= cut && rand() < lit(0.5))
        .groupBy(col("w"), col("house_id"))
        .agg(count("power").as("c"))
      val splan = sampled.queryExecution.optimizedPlan.toString
      assert(splan.contains("user_id"),
        s"a non-deterministic above-Expand filter must keep the raw plan:\n$splan")
    } finally RollupRewrite.uninstall(spark)
  }

  test("the duty-cycle tile routes end-to-end via the cnt_duty filtered metric") {
    install()
    try {
      // the reference's core metric, whole: sliding window + conditional
      // count at the MATERIALIZED threshold + post-aggregate ratio — every
      // piece must map (Expand replay, cnt_duty, nested arithmetic)
      def duty(src: org.apache.spark.sql.DataFrame) = src
        .groupBy(window(col("time"), "25 seconds", "5 seconds"),
          col("house_id"), col("appliance_id"))
        .agg(
          count("power").as("c_all"),
          count(when(col("power") > graft.operators.Grid.PowerThreshold, true)).as("c_duty"))
        .withColumn("duty_cycle", col("c_duty") / col("c_all"))
        .select(col("window.start").cast("long").as("window_start"),
          col("house_id"), col("appliance_id"), col("c_all"), col("c_duty"), col("duty_cycle"))
        .orderBy("window_start", "appliance_id")
      val q = duty(raw)
      val plan = q.queryExecution.optimizedPlan.toString
      assert(routed(q), s"duty-cycle tile must route, got:\n$plan")
      assert(plan.contains("cnt_duty"), s"route must read the filtered metric:\n$plan")
      val viaRollup = q.collect().map(_.toSeq)
      RollupRewrite.uninstall(spark)
      val direct = duty(raw).collect().map(_.toSeq)
      assert(viaRollup.length == direct.length && viaRollup.length > 0)
      viaRollup.zip(direct).foreach { case (a, b) =>
        a.zip(b).foreach {
          case (x: Double, y: Double) =>
            assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)), s"$x vs $y")
          case (x, y) => assert(x == y, s"$x vs $y")
        }
      }
    } finally RollupRewrite.uninstall(spark)
  }

  test("windowed aggregates outside the proven mapping are left on raw") {
    install()
    try {
      // a conditional count at a threshold the lattice did NOT materialize
      // needs per-reading data the rollup cannot serve — stays on raw
      // (the materialized Grid.PowerThreshold constant routes via cnt_duty;
      // see the duty-cycle tile test)
      val duty = raw
        .groupBy(window(col("time"), "25 seconds", "5 seconds"), col("house_id"))
        .agg(count(when(col("power") > 6.0, true)).as("c_duty"))
      assert(!routed(duty), "non-materialized threshold count must not route")
      assert(duty.queryExecution.optimizedPlan.toString.contains("user_id"))
      // sub-second window parameters epoch_s cannot express
      val subSec = raw
        .groupBy(window(col("time"), "2500 milliseconds", "500 milliseconds"))
        .agg(count(lit(1)).as("n"))
      assert(!routed(subSec), "sub-second windows must not route")
      // a window over a NON-canonical timestamp (shifted by 1ms) must reject
      val shifted = raw
        .withColumn("t2", timestamp_micros(expr("ts_ns div 1000 + 1000")))
        .groupBy(window(col("t2"), "5 seconds"))
        .agg(count(lit(1)).as("n"))
      assert(!routed(shifted), "non-canonical time column must not route")
    } finally RollupRewrite.uninstall(spark)
  }

  test("count(DISTINCT key) tiles route; count(DISTINCT power) stays on raw") {
    install()
    try {
      // "active appliances per house" — the distinct-count dashboard tile
      val q = raw.groupBy("house_id")
        .agg(countDistinct("appliance_id").as("nd"), count(lit(1)).as("n"))
        .orderBy("house_id")
      assert(routed(q), s"distinct-key tile must route:\n${q.queryExecution.optimizedPlan}")
      val via = q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      RollupRewrite.uninstall(spark)
      val direct = raw.groupBy("house_id")
        .agg(countDistinct("appliance_id").as("nd"), count(lit(1)).as("n"))
        .orderBy("house_id")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(via.sameElements(direct))
      install()
      // distinct over a derived key expression (epoch minutes seen per house)
      val qd = raw.groupBy("house_id")
        .agg(countDistinct(expr("epoch_s div 60")).as("nd_min"))
      assert(routed(qd), "distinct over a derived key expr must route")
      // distinct over the measure cannot be served by the rollup
      val qp = raw.groupBy("house_id").agg(countDistinct("power").as("ndp"))
      assert(!routed(qp), "count(DISTINCT power) must stay on raw")
      // approx_count_distinct over a key: HLL sketches are multiplicity-
      // insensitive, so the served estimate must be BIT-identical to raw
      val qh = raw.groupBy("house_id")
        .agg(approx_count_distinct("appliance_id").as("apx"))
        .orderBy("house_id")
      assert(routed(qh), s"approx-distinct key tile must route:\n${qh.queryExecution.optimizedPlan}")
      val viaH = qh.collect().map(r => (r.getString(0), r.getLong(1)))
      RollupRewrite.uninstall(spark)
      val directH = raw.groupBy("house_id")
        .agg(approx_count_distinct("appliance_id").as("apx"))
        .orderBy("house_id")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(viaH.sameElements(directH), "served HLL estimate diverged from raw")
      install()
      val qhp = raw.groupBy("house_id").agg(approx_count_distinct("power").as("apx"))
      assert(!routed(qhp), "approx_count_distinct(power) must stay on raw")
      // min/max over keys: the "first/last activity per house" tile
      val qmm = raw.groupBy("house_id")
        .agg(min("epoch_s").as("first_s"), max("epoch_s").as("last_s"),
          max("appliance_id").as("mx_app"), sum("power").as("p"))
        .orderBy("house_id")
      assert(routed(qmm), s"min/max key tile must route:\n${qmm.queryExecution.optimizedPlan}")
      val viaMm = qmm.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
      RollupRewrite.uninstall(spark)
      val directMm = raw.groupBy("house_id")
        .agg(min("epoch_s").as("first_s"), max("epoch_s").as("last_s"),
          max("appliance_id").as("mx_app"), sum("power").as("p"))
        .orderBy("house_id")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
      assert(viaMm.sameElements(directMm))
      install()
      // two different distinct sets: unservable post-RewriteDistinctAggregates
      val q2 = raw.groupBy("house_id")
        .agg(countDistinct("appliance_id").as("a"), countDistinct("appliance_name").as("b"))
      assert(!routed(q2), "multi-distinct must stay on raw")
      // and the raw fallback still computes it correctly (planner-safe)
      assert(q2.collect().length > 0)
    } finally RollupRewrite.uninstall(spark)
  }

  test("rollup lattice routes each query to the coarsest exact granularity") {
    val coarseDir = java.nio.file.Files.createTempDirectory("rw_rollup_60s").toString
    RollupTable.materializeCoarse(spark, rollupDir, coarseDir, 60L)
    RollupRewrite.install(spark, rollupDir, raw, Seq((coarseDir, 60L)))
    def scansCoarse(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains(
        new java.io.File(coarseDir).getName)
    def matchesRaw(mk: => org.apache.spark.sql.DataFrame): Unit = {
      val q = mk
      val via = q.orderBy(q.columns.map(col).toSeq: _*).collect().map(_.toSeq)
      RollupRewrite.uninstall(spark)
      val direct = mk.orderBy(mk.columns.map(col): _*).collect().map(_.toSeq)
      RollupRewrite.install(spark, rollupDir, raw, Seq((coarseDir, 60L)))
      assert(via.length == direct.length && via.length > 0)
      via.zip(direct).foreach { case (a, b) =>
        a.zip(b).foreach {
          case (x: Double, y: Double) =>
            assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)), s"$x vs $y")
          case (x, y) => assert(x == y, s"$x vs $y")
        }
      }
    }
    try {
      // minute buckets: 60 | 60 → the 60 s table answers exactly
      val qMin = raw.groupBy((expr("epoch_s div 60") * 60).as("minute_s"))
        .agg(count(lit(1)).as("n"), sum("power").as("p"), max("power").as("mx"))
      assert(routed(qMin), s"minute buckets must route:\n${qMin.queryExecution.optimizedPlan}")
      assert(scansCoarse(qMin), "minute buckets must read the 60s table")
      matchesRaw(raw.groupBy((expr("epoch_s div 60") * 60).as("minute_s"))
        .agg(count(lit(1)).as("n"), sum("power").as("p"), max("power").as("mx")))
      // 5 s buckets: 60 ∤ 5 → falls through to the 1 s table
      val q5 = raw.groupBy(expr("epoch_s div 5").as("b")).agg(count(lit(1)).as("n"))
      assert(routed(q5) && !scansCoarse(q5), "5s buckets must fall back to the 1s table")
      // bare epoch_s grouping needs full resolution
      val q1 = raw.groupBy("epoch_s").agg(count(lit(1)).as("n"))
      assert(routed(q1) && !scansCoarse(q1), "bare epoch_s must fall back to the 1s table")
      // minute-aligned half-open range + dimension grouping → 60 s table
      val lo = 1704067200L; val hi = lo + 86400L
      val qRange = raw.filter(col("epoch_s") >= lo && col("epoch_s") < hi)
        .groupBy("house_id").agg(count(lit(1)).as("n"))
      assert(routed(qRange) && scansCoarse(qRange), "aligned range must use the 60s table")
      matchesRaw(raw.filter(col("epoch_s") >= lo && col("epoch_s") < hi)
        .groupBy("house_id").agg(count(lit(1)).as("n")))
      // a second-aligned but not minute-aligned bound → 1 s table
      val qOff = raw.filter(col("epoch_s") >= lo + 30L && col("epoch_s") < hi)
        .groupBy("house_id").agg(count(lit(1)).as("n"))
      assert(routed(qOff) && !scansCoarse(qOff), "unaligned bound must use the 1s table")
      // sliding 120s/60s window → 60 s table (Expand replayed over minutes)
      val qWin = raw.groupBy(window(col("time"), "120 seconds", "60 seconds"), col("house_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("long").as("ws"), col("house_id"), col("n"))
      assert(routed(qWin), s"minute window must route:\n${qWin.queryExecution.optimizedPlan}")
      assert(scansCoarse(qWin), "minute window must read the 60s table")
      matchesRaw(raw.groupBy(window(col("time"), "120 seconds", "60 seconds"), col("house_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("long").as("ws"), col("house_id"), col("n")))
      // the 25s/5s duty window → 1 s table
      val qWin5 = raw.groupBy(window(col("time"), "25 seconds", "5 seconds"))
        .agg(count(lit(1)).as("n"))
      assert(routed(qWin5) && !scansCoarse(qWin5), "5s slide must use the 1s table")
      // distinct over a minute-invariant key expr → 60 s table ("active
      // minutes per house"); distinct over bare epoch_s → 1 s table
      val qd60 = raw.groupBy("house_id")
        .agg(countDistinct(expr("epoch_s div 60")).as("nd"))
      assert(routed(qd60) && scansCoarse(qd60), "minute-distinct must use the 60s table")
      matchesRaw(raw.groupBy("house_id")
        .agg(countDistinct(expr("epoch_s div 60")).as("nd")))
      val qd1 = raw.groupBy("house_id").agg(countDistinct("epoch_s").as("nd"))
      assert(routed(qd1) && !scansCoarse(qd1), "second-distinct must use the 1s table")
      // min over the minute floor → 60 s table; min over bare epoch_s needs
      // full resolution → 1 s table
      val qm60 = raw.groupBy("house_id")
        .agg(min(expr("(epoch_s div 60) * 60")).as("first_min"))
      assert(routed(qm60) && scansCoarse(qm60), "minute-floor min must use the 60s table")
      matchesRaw(raw.groupBy("house_id")
        .agg(min(expr("(epoch_s div 60) * 60")).as("first_min")))
      val qm1 = raw.groupBy("house_id").agg(min("epoch_s").as("first_s"))
      assert(routed(qm1) && !scansCoarse(qm1), "bare-epoch min must use the 1s table")
      // IsNotNull whose truth depends on epoch_s's VALUE (nullif goes null on
      // exact minutes) must NOT use the 60 s table — on g-floored seconds it
      // would drop every row instead of ~59/60 (ADVICE r4 high). The 1 s
      // table is exact (g=1 is the identity floor), so it still routes there.
      val qNullif = raw.filter(expr("nullif(epoch_s % 60, 0)").isNotNull)
        .groupBy("house_id").agg(count(lit(1)).as("n"))
      assert(!scansCoarse(qNullif),
        s"value-dependent IsNotNull must not coarsen:\n${qNullif.queryExecution.optimizedPlan}")
      matchesRaw(raw.filter(expr("nullif(epoch_s % 60, 0)").isNotNull)
        .groupBy("house_id").agg(count(lit(1)).as("n")))
      // while a bare IsNotNull(epoch_s) — null-both-ways through the floor —
      // still rides the coarse table
      val qPlain = raw.filter(col("epoch_s").isNotNull)
        .groupBy("house_id").agg(count(lit(1)).as("n"))
      assert(routed(qPlain) && scansCoarse(qPlain),
        s"plain IsNotNull(epoch_s) should coarsen:\n${qPlain.queryExecution.optimizedPlan}")
      matchesRaw(raw.filter(col("epoch_s").isNotNull)
        .groupBy("house_id").agg(count(lit(1)).as("n")))
    } finally RollupRewrite.uninstall(spark)
  }

  test("a dropped lattice view falls through to the next level, then to raw") {
    val coarseDir = java.nio.file.Files.createTempDirectory("rw_rollup_60s_drop").toString
    RollupTable.materializeCoarse(spark, rollupDir, coarseDir, 60L)
    RollupRewrite.install(spark, rollupDir, raw, Seq((coarseDir, 60L)))
    def tile = raw.groupBy((expr("epoch_s div 60") * 60).as("m"))
      .agg(count(lit(1)).as("n"), sum("power").as("p")).orderBy("m")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    try {
      val expected = { RollupRewrite.uninstall(spark); rows(tile) }
      RollupRewrite.install(spark, rollupDir, raw, Seq((coarseDir, 60L)))
      def close(got: Seq[(Long, Long, Double)]): Unit = {
        assert(got.map(t => (t._1, t._2)) == expected.map(t => (t._1, t._2)))
        got.zip(expected).foreach { case (a, b) =>
          assert(math.abs(a._3 - b._3) <= 1e-9 * math.max(1.0, math.abs(b._3)), s"$a vs $b")
        }
      }
      assert(tile.queryExecution.executedPlan.toString.contains(new java.io.File(coarseDir).getName))
      // a missing view means "this level does not route", never an error
      spark.catalog.dropTempView(RollupRewrite.viewName(60L))
      val fine = tile
      assert(routed(fine) &&
        !fine.queryExecution.executedPlan.toString.contains(new java.io.File(coarseDir).getName),
        s"without the 60 s view the tile must read the 1 s level:\n${fine.queryExecution.optimizedPlan}")
      close(rows(fine))
      spark.catalog.dropTempView(RollupRewrite.RollupViewName)
      val onRaw = tile
      assert(onRaw.queryExecution.optimizedPlan.toString.contains("user_id"),
        s"without any lattice view the tile must read raw:\n${onRaw.queryExecution.optimizedPlan}")
      close(rows(onRaw))
    } finally RollupRewrite.uninstall(spark)
  }

  test("percentile_approx(power) serves from the histogram sketch lattice (VERDICT r5 #2)") {
    val coarseDir = java.nio.file.Files.createTempDirectory("rw_rollup_60s_hist").toString
    RollupTable.materializeCoarse(spark, rollupDir, coarseDir, 60L)
    RollupRewrite.install(spark, rollupDir, raw, Seq((coarseDir, 60L)))
    def scansCoarse(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains(
        new java.io.File(coarseDir).getName)
    def histRouted(df: org.apache.spark.sql.DataFrame): Boolean = {
      val plan = df.queryExecution.optimizedPlan.toString
      plan.contains("hist_power") && !plan.contains("user_id")
    }
    try {
      // a quantile tile: no epoch reference → the COARSEST sketch answers
      def tile = raw.groupBy("house_id")
        .agg(expr("percentile_approx(power, 0.9, 10000)").as("p90"),
          sum("power").as("p"))
        .orderBy("house_id")
      val q = tile
      assert(histRouted(q), s"expected sketch routing:\n${q.queryExecution.optimizedPlan}")
      assert(scansCoarse(q), "dimension-only quantile tile must read the 60s table")
      val served = q.collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      RollupRewrite.uninstall(spark)
      // documented error model: exact over BinWidth-quantized values ⇒
      // within one BinWidth of the exact DISCRETE percentile (the value at
      // rank ceil(p·n) — what percentile_approx itself estimates; the
      // interpolating percentile() answers a different, continuous question)
      val exact = raw.groupBy("house_id")
        .agg(sort_array(collect_list("power")).as("vs"), sum("power").as("p"))
        .orderBy("house_id")
        .collect().map { r =>
          val vs = r.getSeq[Double](1)
          val disc = vs(math.ceil(0.9 * vs.length).toInt - 1)
          (r.getString(0), disc, r.getDouble(2))
        }
      assert(served.length == exact.length && served.nonEmpty)
      served.zip(exact).foreach { case ((h, p90, s), (hx, p90x, sx)) =>
        assert(h == hx)
        assert(p90 <= p90x && p90 > p90x - graft.functions.PowerHist.BinWidth,
          s"$h: served $p90 vs exact-disc $p90x")
        assert(math.abs(s - sx) <= 1e-9 * math.max(1.0, math.abs(sx))) // sums stay exact
      }
      RollupRewrite.install(spark, rollupDir, raw, Seq((coarseDir, 60L)))
      // a 5 s bucketed quantile: 60 ∤ 5 → falls through to the 1 s sketch
      val q5 = raw.groupBy(expr("epoch_s div 5").as("b"))
        .agg(expr("percentile_approx(power, 0.5, 100)").as("med"))
      assert(histRouted(q5) && !scansCoarse(q5),
        "5s quantile buckets must use the 1s sketch")
      // never routed: exact percentile, array percentages
      val qExact = raw.groupBy("house_id").agg(expr("percentile(power, 0.9)").as("x"))
      assert(qExact.queryExecution.optimizedPlan.toString.contains("user_id"),
        "exact percentile must stay on raw")
      val qArr = raw.groupBy("house_id")
        .agg(expr("percentile_approx(power, array(0.5, 0.9), 100)").as("x"))
      assert(qArr.queryExecution.optimizedPlan.toString.contains("user_id"),
        "array percentages must stay on raw")
    } finally RollupRewrite.uninstall(spark)
  }

  test("rewrite keeps exact sums (decimal-backed rollup)") {
    install()
    try {
      val total = raw.agg(sum("power").as("p")).head().getDouble(0)
      val expected = Grid.totalPower(spark, sfDir).head().getDouble(1)
      assert(total == expected) // exact: both paths sum DECIMAL(18,2)
    } finally RollupRewrite.uninstall(spark)
  }
  test("time-bucketed tiles (epoch_s div k groupings) route to the rollup") {
    install()
    try {
      val tiles = Seq(
        raw.groupBy(expr("epoch_s div 5").as("bucket_5s"))
          .agg(sum("power").as("p"), count(lit(1)).as("n")),
        raw.filter(col("house_id") === "1_1_0")
          .groupBy(expr("epoch_s div 60").as("bucket_1m"), col("appliance_id"))
          .agg(max("power").as("mx")),
        // a filter atom that is itself a function of a served key
        raw.filter(expr("epoch_s div 3600") === lit(Grid.historyIntervals.head._1 / 3600))
          .groupBy("house_id").agg(count(lit(1)).as("n")))
      tiles.foreach { q =>
        assert(routed(q), s"expected rollup routing, got:\n${q.queryExecution.optimizedPlan}")
        val viaRollup = q.orderBy(q.columns.map(col).toSeq: _*).collect().map(_.toSeq)
        RollupRewrite.uninstall(spark)
        val direct = q.orderBy(q.columns.map(col).toSeq: _*).collect().map(_.toSeq)
        install()
        assert(viaRollup.length == direct.length, s"row count differs for:\n$q")
        viaRollup.zip(direct).foreach { case (a, b) =>
          a.zip(b).foreach {
            case (x: Double, y: Double) =>
              assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)), s"$x vs $y in:\n$q")
            case (x, y) => assert(x == y, s"$x vs $y in:\n$q")
          }
        }
      }
      // a grouping on a NON-key column must still refuse the rewrite
      val reject = raw.groupBy(expr("cast(power as bigint)")).agg(count(lit(1)))
      assert(!routed(reject), "grouping by a measure function must not route")
      // aggregates nested in scalar arithmetic route through the mapped
      // aggregate VALUE (count(*)*2 = sum(cnt)*2 — the wrapper carries
      // over), never through the grouping-projection path (which would
      // count ROLLUP rows); values must equal the raw computation
      val arith = raw.groupBy("appliance_name")
        .agg((count(lit(1)) * 2).as("n2"))
      assert(routed(arith), "count(*)*2 must route via the mapped count value")
      val directArith = arith.orderBy("appliance_name")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      RollupRewrite.uninstall(spark)
      val expectArith = raw.groupBy("appliance_name")
        .agg((count(lit(1)) * 2).as("n2")).orderBy("appliance_name")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      install()
      assert(directArith.sameElements(expectArith))
      val rejectFilter = raw.groupBy("appliance_name")
        .agg(expr("count(*) FILTER (WHERE power > 5.0)").as("nf"))
      assert(!routed(rejectFilter), "FILTER-clause aggregate must not route")
    } finally RollupRewrite.uninstall(spark)
  }

}
