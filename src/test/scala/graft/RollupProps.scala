package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.operators.Grid
import graft.plans.RollupRewrite
import graft.sources.RollupTable

/** Property-based soundness of the rollup-routing rule: for RANDOM servable
  * queries (grouping sets drawn from served keys and derived time buckets,
  * aggregate sets drawn from the servable aggregates, optional served-key
  * filters), the rewritten plan must (a) actually route to the rollup and
  * (b) produce the same result as the direct raw-scan query — the
  * "exact or reject" contract, exercised over the query space instead of
  * hand-picked tiles.
  */
object RollupProps extends Properties("rollup") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = SharedSpark.spark
  private lazy val sfDir = SharedSpark.SfDir

  private lazy val rollupDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("props_rollup").toString
    RollupTable.materialize(spark, sfDir, dir)
    dir
  }

  private def raw = Grid.powerReadings(spark, sfDir)

  /** The lattice's own key: a group on it is one stored 1 s row. */
  private val FullKey = List("epoch_s", "house_id", "appliance_id", "appliance_name")

  private val genGroup: Gen[List[String]] = Gen.oneOf(
    Gen.someOf(List("house_id", "appliance_name", "epoch_s div 10", "epoch_s div 60"))
      .map(_.toList),
    Gen.const(FullKey))

  // exactly one distinct-set candidate: the rule serves at most one distinct
  // argument-set per aggregate (post-RewriteDistinctAggregates planability),
  // so a second countDistinct column here would break the always-routes
  // contract of the properties below
  private val genAggs: Gen[List[Column]] = Gen.atLeastOne(List(
    count(lit(1)).as("n"),
    sum("power").as("p"),
    min("power").as("mn"),
    max("power").as("mx"),
    avg("power").as("av"),
    countDistinct(col("appliance_id")).as("nd"),
    max(col("appliance_name")).as("mxa"), // key extremum, granularity-neutral
    // the late-r7 routable shapes: the engine's exact-sum convention,
    // aggregates nested in scalar arithmetic, the cnt_duty filtered metric
    Grid.dsum(col("power")).as("dsp"),
    (count(lit(1)) * 2 + 1).as("n2"),
    (sum("power") / count(lit(1))).as("ratio"),
    count(when(col("power") > Grid.PowerThreshold, true)).as("cd")
  )).map(_.toList)

  private val genFilter: Gen[Option[Column]] = Gen.oneOf(
    None,
    Some(col("house_id") === "1_1_0"),
    Some(col("house_id").isin("1_1_1", "1_1_3")),
    Some(col("epoch_s") >= 1704067200L && col("epoch_s") < 1704070000L),
    Some(expr("epoch_s div 3600") % 2 === 0))

  private def build(
      src: DataFrame, groups: List[String], aggs: List[Column], f: Option[Column]): DataFrame = {
    val base = f.fold(src)(src.filter)
    val df = if (groups.isEmpty) base.agg(aggs.head, aggs.tail: _*)
    else base.groupBy(groups.map(expr): _*).agg(aggs.head, aggs.tail: _*)
    df.orderBy(df.columns.map(col).toSeq: _*)
  }

  private def routed(df: DataFrame): Boolean = {
    val plan = df.queryExecution.optimizedPlan.toString
    plan.contains("sum_power_dec") && !plan.contains("user_id")
  }

  private def cells(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  /** Cell-wise equality with relative tolerance on doubles: the rollup path
    * is decimal-exact where the raw path accumulates doubles in partition
    * order, so low-bit noise (and exact-tie rounding artifacts) must not
    * falsify the property.
    */
  private def sameCells(a: Seq[Seq[Any]], b: Seq[Seq[Any]]): Boolean =
    a.length == b.length && a.zip(b).forall { case (ra, rb) =>
      ra.length == rb.length && ra.zip(rb).forall {
        case (x: Double, y: Double) =>
          math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
        case (x, y) => x == y
      }
    }

  property("every servable query routes and matches the raw-scan result") =
    forAll(genGroup, genAggs, genFilter) { (groups, aggs, f) =>
      RollupRewrite.install(spark, rollupDir, raw)
      try {
        val q = build(raw, groups, aggs, f)
        val isRouted = routed(q)
        val viaRollup = cells(q)
        RollupRewrite.uninstall(spark)
        val direct = cells(build(raw, groups, aggs, f))
        isRouted && sameCells(viaRollup, direct)
      } finally RollupRewrite.uninstall(spark)
    }

  // ---- lattice selection: tagged generators know whether every time
  // expression is minute-invariant, so the property can assert the rule
  // picks the 60 s level exactly when that holds (and never when it doesn't)

  private lazy val coarseDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("props_rollup_60s").toString
    RollupTable.materializeCoarse(spark, rollupDir, dir, 60L)
    dir
  }

  private val genGroupTagged: Gen[(List[String], Boolean)] = Gen.someOf(
    List(
      "house_id" -> true,
      "appliance_name" -> true,
      "epoch_s div 10" -> false,
      "epoch_s div 60" -> true)
  ).map(l => (l.map(_._1).toList, l.forall(_._2)))

  private val genFilterTagged: Gen[(Option[Column], Boolean)] = Gen.oneOf(
    (None: Option[Column]) -> true,
    (Some(col("house_id") === "1_1_0"): Option[Column]) -> true,
    (Some(col("house_id").isin("1_1_1", "1_1_3")): Option[Column]) -> true,
    // lower bound minute-aligned, upper bound only second-aligned
    (Some(col("epoch_s") >= 1704067200L && col("epoch_s") < 1704070000L): Option[Column]) -> false,
    (Some(expr("epoch_s div 3600") % 2 === 0): Option[Column]) -> true)

  property("lattice picks the 60s level exactly for minute-invariant queries") =
    forAll(genGroupTagged, genAggs, genFilterTagged) {
      case ((groups, groupsMinute), aggs, (f, filterMinute)) =>
        RollupRewrite.install(spark, rollupDir, raw, Seq((coarseDir, 60L)))
        try {
          val q = build(raw, groups, aggs, f)
          val isRouted = routed(q)
          val scansCoarse = q.queryExecution.executedPlan.toString
            .contains(new java.io.File(coarseDir).getName)
          val viaRollup = cells(q)
          RollupRewrite.uninstall(spark)
          val direct = cells(build(raw, groups, aggs, f))
          isRouted && sameCells(viaRollup, direct) &&
            scansCoarse == (groupsMinute && filterMinute)
        } finally RollupRewrite.uninstall(spark)
    }

  // ---- same grain: groups on the full key read the 1 s level as a
  // projection. The fixture plants an appliance whose readings in one second
  // are all null (sum, min and max must be null, as on raw) and a second
  // mixing a null with a value.

  private val PlantedAppliance = "1_1_1_1000001"

  private lazy val plantedDir: String = {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("props_planted").toString
    val events = graft.Tables.events(spark, sfDir) // ts as epoch-ns long
    val t0 = 1704103200L * 1000000000L // 2024-01-01T10:00:00Z
    val planted = spark.createDataFrame(Seq[(Long, Long, Long, String, Option[Double], String)](
      (2000001L, t0 + 100000000L, 1000001L, "reading", None, "{}"),
      (2000002L, t0 + 600000000L, 1000001L, "reading", None, "{}"),
      (2000003L, t0 + 5000000000L, 1000001L, "reading", None, "{}"),
      (2000004L, t0 + 5200000000L, 1000001L, "reading", Some(2.5), "{}")
    )).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    events.unionByName(planted).write.parquet(Paths.get(dir, "events.parquet").toString)
    dir
  }

  private lazy val plantedRollupDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("props_planted_rollup").toString
    RollupTable.materialize(spark, plantedDir, dir)
    dir
  }

  private def plantedRaw = Grid.powerReadings(spark, plantedDir)

  private def aggregates(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.size

  private def hasDistinct(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collect { case a: Aggregate => a }.exists(
      _.aggregateExpressions.exists(_.exists {
        case ae: AggregateExpression => ae.isDistinct
        case _ => false
      }))

  /** Run `q` routed over the planted lattice, then unrouted. */
  private def plantedRun(q: => DataFrame): (DataFrame, Seq[Seq[Any]], Seq[Seq[Any]]) = {
    RollupRewrite.install(spark, plantedRollupDir, plantedRaw)
    try {
      val routedQ = q
      val viaRollup = cells(routedQ)
      RollupRewrite.uninstall(spark)
      (routedQ, viaRollup, cells(q))
    } finally RollupRewrite.uninstall(spark)
  }

  private val genKeys: Gen[List[String]] =
    Gen.oneOf(Gen.const(FullKey), Gen.someOf(FullKey).map(_.toList))

  property("key groups read the 1 s level as a projection exactly at the full key") =
    forAll(genKeys, genAggs, genFilter) { (keys, aggs, f) =>
      val (q, viaRollup, direct) = plantedRun(build(plantedRaw, keys, aggs, f))
      // a group is one stored row only on the full key; count-distinct
      // keeps the Aggregate there too
      val projects = keys.toSet == FullKey.toSet && !hasDistinct(q)
      routed(q) && aggregates(q) == (if (projects) 0 else 1) && sameCells(viaRollup, direct)
    }

  private val genOuter: Gen[List[String]] = Gen.someOf(
    List("house_id", "appliance_id", "appliance_name", "epoch_s div 5")).map(_.toList)

  property("a tile over the unsorted powerraw view aggregates once") =
    forAll(genOuter, genFilter) { (outer, f) =>
      val aggs = List(sum("sum_power").as("p"), sum("cnt").as("n"), max("cnt").as("mx"))
      val (q, viaRollup, direct) = plantedRun(
        build(Grid.rollup1sView(spark, plantedDir), outer, aggs, f))
      routed(q) && aggregates(q) == 1 && sameCells(viaRollup, direct)
    }

  property("an all-null group projects null sum, min and max, as on raw") = {
    val (q, viaRollup, direct) = plantedRun(
      plantedRaw.filter(col("appliance_id") === PlantedAppliance)
        .groupBy(FullKey.map(col): _*)
        .agg(sum("power").as("p"), min("power").as("mn"), max("power").as("mx"),
          count("power").as("c"), avg("power").as("av"), Grid.dsum(col("power")).as("dsp"))
        .orderBy("epoch_s"))
    val allNull = viaRollup.headOption.map(_.drop(4))
    routed(q) && aggregates(q) == 0 && viaRollup.length == 2 && viaRollup == direct &&
      allNull.contains(Seq(null, null, null, 0L, null, null))
  }

  property("a full-key count-distinct routes through the Aggregate") = {
    val (q, viaRollup, direct) = plantedRun(
      plantedRaw.groupBy(FullKey.map(col): _*)
        .agg(countDistinct(col("house_id")).as("nd"), sum("power").as("p"))
        .orderBy(FullKey.map(col): _*))
    routed(q) && aggregates(q) == 1 && viaRollup.nonEmpty && sameCells(viaRollup, direct)
  }
}
