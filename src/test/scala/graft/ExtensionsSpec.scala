package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Grid
import graft.plans.RollupRewrite
import graft.sources.RollupTable

/** The deployment wiring: every `GraftSession.create` session is bootstrapped
  * with `spark.sql.extensions=graft.GraftExtensions`, so the engine surface
  * (native `dot_arrays`, the rollup-routing rule) exists in any session —
  * including `newSession()` children, which share no temp-function state —
  * with no runtime registration calls.
  */
class ExtensionsSpec extends AnyFunSuite with SharedSpark {

  test("engine sessions carry the extension conf") {
    assert(spark.conf.get("spark.sql.extensions") == "graft.GraftExtensions")
  }

  test("dot_arrays resolves in a fresh child session (injected, not temp-registered)") {
    // newSession() gets a fresh temp-function registry: anything resolvable
    // there came from the extension's injectFunction, not from a runtime
    // registration call some other suite made.
    val s2 = spark.newSession()
    val d = s2.sql("SELECT dot_arrays(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(d == 11.0)
  }

  test("registerViews makes the whole table set queryable through pure SQL") {
    val s2 = spark.newSession()
    Tables.tune(s2)
    Tables.registerViews(s2, sfDir)
    val n = s2.sql(
      """SELECT count(*) FROM power p
        |JOIN (SELECT house_id, count(*) AS n FROM power GROUP BY 1) t
        |  ON p.house_id = t.house_id""".stripMargin).head().getLong(0)
    assert(n > 0)
    val topCos = s2.sql(
      """SELECT a.vec_id, b.vec_id,
        |       dot_arrays(CAST(a.embedding AS ARRAY<DOUBLE>), CAST(b.embedding AS ARRAY<DOUBLE>)) AS dot
        |FROM embeddings a JOIN embeddings b ON a.vec_id = 0 AND b.vec_id = 1""".stripMargin)
      .head().getDouble(2)
    assert(!topCos.isNaN)
  }

  test("rollup routing activates through the injected delegate, not the experimental hook") {
    val s2 = spark.newSession()
    Tables.tune(s2)
    val dir = java.nio.file.Files.createTempDirectory("ext_rollup").toString
    try {
      RollupTable.materialize(s2, sfDir, dir)
      RollupRewrite.install(s2, dir, Grid.powerReadings(s2, sfDir))
      assert(s2.experimental.extraOptimizations.isEmpty,
        "extension-configured session must not fall back to the experimental hook")
      val q = Grid.powerReadings(s2, sfDir)
        .groupBy("house_id").agg(count(lit(1)).as("n")).orderBy("house_id")
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("cnt") && !plan.contains("user_id"),
        s"expected rollup routing via the injected rule, got:\n$plan")
      val routed = q.collect().map(_.toSeq).toSeq
      RollupRewrite.uninstall(s2)
      val direct = Grid.powerReadings(s2, sfDir)
        .groupBy("house_id").agg(count(lit(1)).as("n")).orderBy("house_id")
        .collect().map(_.toSeq).toSeq
      assert(routed == direct)
      // uninstalled: the delegate goes back to a no-op
      val after = Grid.powerReadings(s2, sfDir)
        .groupBy("house_id").agg(count(lit(1)).as("n"))
      assert(after.queryExecution.optimizedPlan.toString.contains("user_id"))
    } finally {
      RollupRewrite.uninstall(s2)
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }
  test("GraftSession.open boots a fully-armed engine in one call") {
    val dir = java.nio.file.Files.createTempDirectory("open_rollup").toString
    val s = GraftSession.open(sfDir, dir)
    try {
      // pure SQL over the registered views
      val n = s.sql("SELECT count(*) AS n FROM power").head().getLong(0)
      assert(n > 0)
      // a dashboard tile through spark.sql routes to the materialized rollup
      val tile = s.sql(
        """SELECT epoch_s div 5 AS bucket, sum(power) AS p
          |FROM power GROUP BY 1 ORDER BY 1""".stripMargin)
      val plan = tile.queryExecution.optimizedPlan.toString
      assert(plan.contains("sum_power_dec") && !plan.contains("user_id"),
        s"expected rollup routing through SQL, got:\n$plan")
      assert(tile.count() > 0)
    } finally graft.plans.RollupRewrite.uninstall(s)
  }

  test("native-timestamp interval filters route to the rollup (parquet-pushable phrasing)") {
    // Grid's time-filtered queries phrase their intervals on the NATIVE
    // events ts column (below the ns-normalizing Project) so the predicate
    // reaches the parquet scan — the rewrite must map those second-aligned
    // timestamp-literal comparisons onto epoch_s exactly like the long-ns
    // phrasing, or the pushdown-friendly form silently loses rollup serving.
    val dir = java.nio.file.Files.createTempDirectory("open_native_ts").toString
    val s = GraftSession.open(sfDir, dir)
    try {
      val q = graft.operators.Grid.intervalUnionFilter(s, sfDir)
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("sum_power_dec") && !plan.contains("user_id"),
        s"native-ts interval aggregate must route to the rollup, got:\n$plan")
      // and the routed result equals the raw computation bit-for-bit
      graft.plans.RollupRewrite.uninstall(s)
      val raw = graft.operators.Grid.intervalUnionFilter(s, sfDir).collect().toSeq
      assert(q.collect().toSeq == raw, "routed result must equal raw result")
    } finally graft.plans.RollupRewrite.uninstall(s)
  }

  test("maintain refreshes the FULL installed lattice even with default args (ADVICE r5)") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("maint_full").toString
    val raw = s"$base/raw"
    Files.createDirectory(Paths.get(raw))
    // a mutable copy of the raw dir: events is a real copy (it gets appended
    // to), the other tables symlink the shared fixtures
    Files.copy(Paths.get(s"$sfDir/events.parquet"), Paths.get(s"$raw/events.parquet"))
    new java.io.File(sfDir).listFiles().filter(_.getName != "events.parquet")
      .foreach(f => Files.createSymbolicLink(Paths.get(s"$raw/${f.getName}"), f.toPath))
    val dir = s"$base/r"
    val s = GraftSession.open(raw, dir, coarseGranularities = Seq(60L))
    try {
      def tile = s.sql(
        "SELECT (epoch_s div 60) * 60 AS m, count(*) AS n FROM power GROUP BY 1")
      val before = tile.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // raw grows: 7 fresh events land in a brand-new hour
      val old = graft.Tables.events(s, raw) // ts normalized to ns long
      val maxTs = old.agg(max("ts")).head().getLong(0)
      val newHourS = (maxTs / 1000000000L / 3600L + 2L) * 3600L
      val fresh = s.range(7).select(
        (col("id") + 1000000L).as("event_id"),
        (lit(newHourS * 1000000000L) + col("id") * 1000000000L).as("ts"),
        col("id").as("user_id"),
        lit("reading").as("event_type"),
        lit(1.5).as("value"),
        lit("{}").as("props"))
      val merged = old.unionByName(fresh).collect()
      val schema = old.schema
      deleteRec(new java.io.File(s"$raw/events.parquet"))
      s.createDataFrame(java.util.Arrays.asList(merged: _*), schema)
        .write.parquet(s"$raw/events.parquet")
      // a maintain call with DEFAULT granularities must still cascade into
      // the installed 60 s level — the rule keeps routing minute tiles there,
      // so a 1 s-only refresh would serve the pre-append aggregates forever
      GraftSession.maintain(s, raw, dir, newHourS)
      val t = tile
      val after = t.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(t.queryExecution.executedPlan.toString.contains("_60s"),
        "minute tile must still route to the 60 s level")
      val newMinutes = after.keySet -- before.keySet
      assert(newMinutes.nonEmpty && newMinutes.map(after).sum == 7,
        s"refreshed 60 s level must carry the 7 appended events; new buckets: $newMinutes")
      // a SUBSET refresh is exactly the stale-lattice hazard: reject it
      val ex = intercept[IllegalArgumentException](
        GraftSession.maintain(s, raw, dir, newHourS, Seq(30L)))
      assert(ex.getMessage.contains("installed lattice"))
    } finally graft.plans.RollupRewrite.uninstall(s)
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRec)
    f.delete(); ()
  }

  test("GraftSession.maintain cascades an incremental refresh through the lattice") {
    val dir = java.nio.file.Files.createTempDirectory("open_maint").toString + "/r"
    val s = GraftSession.open(sfDir, dir, coarseGranularities = Seq(60L))
    try {
      def tile = s.sql(
        "SELECT (epoch_s div 60) * 60 AS m, count(*) AS n FROM power GROUP BY 1 ORDER BY 1")
      val before = tile.collect().map(r => (r.getLong(0), r.getLong(1)))
      val lastHour = s.sql("SELECT max((epoch_s div 3600) * 3600) FROM power")
        .collect().head.getLong(0)
      // raw unchanged → the refresh must be a results no-op at every level
      GraftSession.maintain(s, sfDir, dir, lastHour, Seq(60L))
      val after = tile.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(after.sameElements(before), "maintain over unchanged raw changed results")
      assert(tile.queryExecution.executedPlan.toString.contains("_60s"),
        "minute tile must still read the refreshed 60 s level")
    } finally graft.plans.RollupRewrite.uninstall(s)
  }

  test("every lattice level keeps one row per key through open and repeated maintain") {
    // the contract RollupRewrite's same-grain projection serves under: a
    // group on (epoch_s, house_id, appliance_id, appliance_name) is ONE row
    val dir = java.nio.file.Files.createTempDirectory("open_unique").toString + "/r"
    val s = GraftSession.open(sfDir, dir, coarseGranularities = Seq(60L))
    val levels = Seq(dir, s"${dir}_60s")
    def assertUnique(when: String): Unit = levels.foreach { p =>
      val level = s.read.parquet(p)
      val rows = level.count()
      val keys = level.select("epoch_s", "house_id", "appliance_id", "appliance_name")
        .distinct().count()
      assert(rows > 0 && rows == keys, s"$when: $p holds $rows rows for $keys keys")
    }
    try {
      assertUnique("after open")
      val lastHour = s.sql("SELECT max((epoch_s div 3600) * 3600) FROM power")
        .collect().head.getLong(0)
      GraftSession.maintain(s, sfDir, dir, lastHour)
      assertUnique("after maintain")
      GraftSession.maintain(s, sfDir, dir, lastHour)
      assertUnique("after a second maintain at the same boundary")
    } finally graft.plans.RollupRewrite.uninstall(s)
  }

  test("GraftSession.open materializes and serves a rollup lattice") {
    val dir = java.nio.file.Files.createTempDirectory("open_lat").toString + "/r"
    // 300 s derives from the 60 s level (60 | 300), both from the 1 s table
    val s = GraftSession.open(sfDir, dir, coarseGranularities = Seq(60L, 300L))
    def fiveMin = s.sql(
      """SELECT (epoch_s div 300) * 300 AS b5m, count(*) AS n, sum(power) AS p
        |FROM power GROUP BY 1 ORDER BY 1""".stripMargin)
    try {
      val tile = fiveMin
      val plan = tile.queryExecution.executedPlan.toString
      assert(plan.contains("_300s"), s"5-minute tile must read the 300 s level:\n$plan")
      val served = tile.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val minuteTile = s.sql(
        "SELECT (epoch_s div 60) * 60 AS b1m, count(*) AS n FROM power GROUP BY 1")
      assert(minuteTile.queryExecution.executedPlan.toString.contains("_60s"),
        "minute tile must read the 60 s level")
      graft.plans.RollupRewrite.uninstall(s)
      val raw = fiveMin.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(served.length == raw.length && served.length > 0)
      served.zip(raw).foreach { case (a, b) =>
        assert(a._1 == b._1 && a._2 == b._2, s"$a vs $b")
        assert(math.abs(a._3 - b._3) <= 1e-9 * math.max(1.0, math.abs(b._3)), s"$a vs $b")
      }
    } finally graft.plans.RollupRewrite.uninstall(s)
  }

}
