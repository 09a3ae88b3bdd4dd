package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{GridConfig, StreamingDutyCycle}
import graft.streaming.StreamingDutyCycle.PowerReading

/** Scale-posture mechanics: bucketed co-located joins (no shuffle) and the
  * RocksDB state store (bounded-memory streaming state at 10k+ appliances).
  */
class ScaleSpec extends AnyFunSuite with SharedSpark {

  test("no query in the whole catalog plans a cartesian or corpus-sized BNLJ") {
    // crossJoin of a broadcast 1-row aggregate (the driver-less scalar
    // pattern) and bounded literal grids are legitimate; a BNLJ over two
    // unbounded relations or a CartesianProduct node is never acceptable
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      df.collect() // finalize the adaptive plan
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian:\n$plan")
      // BNLJ is acceptable only when the build side is bounded by
      // construction: the 1-row-scalar crossJoin shape, or the explicitly
      // bounded broadcast of a fixed query set (q_ann_topk broadcasts the
      // vec_id < nQueries side — constant-sized at any corpus scale)
      // all three broadcast a fixed query set (q_hybrid_rrf: one query vector)
      val boundedBnlj =
        Set("q_ann_topk", "q_ivf_recall", "q_ivf_adc_recall", "q_ivf_radc_recall",
          "q_ivf_recall_sweep", "q_hybrid_rrf")
      if (plan.contains("BroadcastNestedLoopJoin") && !boundedBnlj(name)) {
        assert(plan.contains("HashAggregate(keys=[], "),
          s"$name BNLJs a non-scalar build side:\n$plan")
      }
    }
  }

  test("catalog plan construction trains Lloyd at most once per recipe (VERDICT r11 #2.4)") {
    // the trained-codebook registry builders (q_pq_train,
    // q_ivf_radc_trained_topk) embed the codebook as plan literals, so
    // constructing their frames NEEDS the trained set — the memo must make
    // that at most one driver-side training per (corpus, recipe) per JVM,
    // never one per plan inspection (the sweep-harness cost r11 flagged)
    val before = graft.ann.SimilarityOps.trainingRuns.get()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) => fn(spark, sfDir) }
    val afterFirst = graft.ann.SimilarityOps.trainingRuns.get()
    assert(afterFirst - before <= 1,
      s"one catalog construction pass ran ${afterFirst - before} trainings — " +
        "the memo must collapse them to at most one per recipe")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) => fn(spark, sfDir) }
    val afterSecond = graft.ann.SimilarityOps.trainingRuns.get()
    assert(afterSecond == afterFirst,
      s"a REPEAT construction pass re-ran training ${afterSecond - afterFirst} time(s) " +
        "— the memo is not firing on plan inspection")
  }

  test("plan audit reports scans, joins and exchanges of the executed plan") {
    import graft.plans.PlanAudit
    val df = SparkEntry.queries("q_star_join")(spark, sfDir)
    df.collect() // finalize AQE so the audit sees the real strategies
    val audit = PlanAudit.audit(df).collect()
    val kinds = audit.map(_.getString(1))
    assert(kinds.contains("scan"), "no scan reported")
    assert(kinds.contains("join"), "no join reported")
    val s = PlanAudit.summary(df).head()
    assert(s.getInt(0) >= 2, "star join reads at least two tables")
    assert(s.getInt(3) == 0, "cartesian in the star join")
    assert(s.getInt(4) >= 1, "no whole-stage codegen span")
    // the audit sees pushdown: a time-filtered query's scan row carries the
    // pushed predicate, not just a post-scan Filter
    val recent = SparkEntry.queries("q_recent_range")(spark, sfDir)
    recent.collect()
    val scans = PlanAudit.audit(recent)
      .filter(col("kind") === "scan").collect().map(_.getString(2))
    assert(scans.exists(d => d.contains("IsNotNull(ts)") || d.contains("GreaterThan")),
      s"no pushed time predicate in: ${scans.mkString(" | ")}")
  }

  test("per-key top-k plans prune map-side via WindowGroupLimit (rank pushdown)") {
    // Catalyst's InferWindowGroupLimit turns Filter(rank <= k over w) into a
    // Partial WindowGroupLimit BELOW the shuffle: each input partition keeps
    // only its local top-k before exchanging — at 100 TB the shuffle carries
    // k rows per (partition, key), not the corpus. A regression to a plain
    // sort+filter window would silently shuffle everything; pin the shape.
    Seq(
      graft.operators.Grid.topkPerHouse(spark, sfDir),
      graft.ann.SimilarityOps.annTopK(spark, sfDir, nQueries = 4, k = 3)
    ).foreach { df =>
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
        s"expected partial WindowGroupLimit pruning:\n$plan")
    }
  }

  test("shingle-family plans compute the shingle lineage once, not per consumer") {
    // the r2 plans re-ran tokenize→shingle→explode for every aggregate joined
    // back (up to 9 parquet scans per query); the window-count shape caps the
    // scan count at the self-join's two sides. Count via PlanAudit, not the
    // plan STRING — AQE rendering duplicates stage sections, while the tree
    // walk sees each ReusedExchange subtree once.
    def scans(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect() // finalize the adaptive plan
      graft.plans.PlanAudit.summary(df).head().getAs[Int]("n_scans")
    }
    assert(scans(graft.text.CurationOps.sharedShingles(spark, sfDir)) <= 2)
    assert(scans(graft.dedup.DedupOps.ngramJaccardPairs(spark, sfDir)) <= 3)
    assert(scans(graft.dedup.DedupOps.jaccardCappedPairs(spark, sfDir)) <= 3)
    // the capped LSH rewrite (r10 verdict #1): occupancy count, cap scalar
    // and both self-join sides all reuse ONE exchange over the minhash chain
    assert(scans(graft.dedup.DedupOps.minhashLshPairs(spark, sfDir)) <= 2)
  }

  test("rollup routing sweep: every lattice-servable catalog query routes (VERDICT r10 #7)") {
    // With the rule installed, walk the WHOLE declared catalog and pin the
    // set of queries whose optimized plan serves from the rollup instead of
    // the raw events scan. Two regression directions are caught: a query in
    // the pinned set falling back to raw (a routing regression — the exact
    // silent cost creep this sweep exists for), and a new routable query
    // staying unpinned (the set must be updated CONSCIOUSLY, with the
    // routing verified). Queries not over the power-readings view (docs,
    // embeddings, TPC-H) can never route and are implicitly pinned absent.
    val rollupDir = java.nio.file.Files.createTempDirectory("sweep_rollup").toString
    graft.sources.RollupTable.materialize(spark, sfDir, rollupDir)
    graft.plans.RollupRewrite.install(
      spark, rollupDir, graft.operators.Grid.powerReadings(spark, sfDir))
    try {
      // rollup-only column names: any of them in the optimized plan means
      // the aggregate was rewritten onto the rollup (raw events has none)
      val marks = Seq("sum_power_dec", "cnt_power", "cnt_duty", "min_power",
        "max_power", "hist_power")
      val routed = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.optimizedPlan.toString
        if (marks.exists(plan.contains)) Some(name) else None
      }.toSet
      val expected = Set(
        "q_dash_duty_house", "q_dash_history_house", "q_duty_cycle",
        "q_duty_cycle_prerolled", "q_duty_sum_by_appliance", "q_gap_fill",
        "q_history_avg", "q_house_in_filter", "q_interval_union_filter",
        "q_label_join", "q_percentile_tile", "q_percentile_tile_60s",
        "q_pivot_power", "q_power_by_appliance", "q_power_by_house",
        "q_rank_functions", "q_rollup_1s", "q_rollup_60s",
        "q_timeseries_1s_house", "q_timeseries_5s", "q_top10_appliances",
        "q_topk_per_house", "q_total_power")
      assert(expected.subsetOf(routed),
        s"routing regressed — lattice-servable queries fell back to raw: " +
          s"${(expected -- routed).toSeq.sorted.mkString(", ")}")
      assert(routed.subsetOf(expected),
        s"newly-routed queries — verify results and add them to the pin: " +
          s"${(routed -- expected).toSeq.sorted.mkString(", ")}")
    } finally graft.plans.RollupRewrite.uninstall(spark)
  }

  test("rollup partition filters prune via dynamic partition pruning") {
    import graft.sources.RollupTable
    val dir = java.nio.file.Files.createTempDirectory("dpp_rollup").toString
    RollupTable.materialize(spark, sfDir, dir)
    val rollup = RollupTable.read(spark, dir)
    // a filtered dim joined on the PARTITION column: the partition set is
    // only known at runtime, so Catalyst must inject a dynamicpruning
    // subquery into the scan (Druid's segment pruning, done by Spark DPP).
    // The dim must be a SCAN with a surviving Filter node — a local Seq
    // would be constant-folded by ConvertToLocalRelation, erasing the
    // "selective predicate" DPP looks for.
    val keepDate = rollup.select(min("date")).head().getDate(0)
    rollup.select(col("date").as("d")).distinct()
      .withColumn("tag", when(col("d") === keepDate, "keep").otherwise("skip"))
      .write.parquet(s"$dir/dim")
    val dim = spark.read.parquet(s"$dir/dim").filter(col("tag") === "keep")
    val joined = rollup.join(dim, col("date") === col("d")).groupBy("house_id").count()
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("dynamicpruning"),
      "expected a dynamic partition pruning subquery in the rollup scan")
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    val o = Tables.orders(spark, sfDir).filter(col("o_custkey") === 7)
    val l = Tables.lineitem(spark, sfDir)
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      // local fixtures are below the 10 GB production default; lower the
      // probe-side floor so the rewrite fires as it would at 100 TB
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1")
      val j = l.join(o, col("l_orderkey") === col("o_orderkey")).groupBy("o_orderstatus").count()
      j.collect()
      val plan = j.queryExecution.executedPlan.toString.toLowerCase
      assert(plan.contains("bloomfilter") || plan.contains("bloom_filter") ||
        plan.contains("might_contain"),
        "expected a runtime bloom filter on the probe side")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    }
  }

  test("z-order layout tightens per-file bounding boxes vs arrival order") {
    import graft.sources.ZOrderLayout
    val ev = Tables.events(spark, sfDir).select(
      col("user_id").cast("long").as("u"),
      shiftright((expr("ts div 1000000000") - ZOrderLayout.Epoch0).cast("long"),
        ZOrderLayout.TimeShift).as("t16"))
    val nFiles = 8
    def totalBoxArea(path: String): Long = {
      val perFile = spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(
          (max("u") - min("u") + 1).as("du"),
          (max("t16") - min("t16") + 1).as("dt"))
      assert(perFile.count() == nFiles.toLong)
      perFile.agg(sum(col("du") * col("dt"))).first().getLong(0)
    }
    val base = java.nio.file.Files.createTempDirectory("zorder").toString
    ev.repartition(nFiles).write.parquet(s"$base/naive")
    ZOrderLayout.layout(ev, col("u"), col("t16"), nFiles).write.parquet(s"$base/zorder")
    val naive = totalBoxArea(s"$base/naive")
    val z = totalBoxArea(s"$base/zorder")
    // arrival-order files each span ~the full (u, t) rectangle; z-ordered
    // files cover disjoint curve segments — at least 4x tighter here
    assert(z * 4 <= naive, s"z-order boxes ($z) not tighter than naive ($naive)")
  }

  test("bucketed tables join with zero shuffle exchanges") {
    val o = Tables.orders(spark, sfDir)
    val l = Tables.lineitem(spark, sfDir)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
    l.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").count()
      joined.collect()
      val shuffles = joined.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      // the only exchange allowed is the final single-key aggregation; the
      // join itself must be co-located via bucket pruning
      assert(shuffles.size <= 1, s"expected bucketed join without shuffle, got ${shuffles.size} exchanges")
      val planStr = joined.queryExecution.executedPlan.toString
      assert(planStr.contains("SortMergeJoin"))
      // sanity: same result as the unbucketed join
      val direct = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val bucketed = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(bucketed == direct)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("duty-cycle stream runs identically on the RocksDB state store") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[PowerReading]
      val query = StreamingDutyCycle
        .plan(input.toDF(), GridConfig(windowMin = 2, playbackSpeed = 12, watermarkSec = 2))
        .writeStream
        .format("memory")
        .queryName("duty_rocks")
        .outputMode(OutputMode.Append)
        .start()
      try {
        def r(s: Long, p: Double) =
          PowerReading(new java.sql.Timestamp(s * 1000), "h0", "lamp", "h0_a0", p)
        input.addData(r(100, 10.0), r(102, 1.0))
        query.processAllAvailable()
        input.addData(r(400, 0.0))
        query.processAllAvailable()
        val out = spark.table("duty_rocks")
          .select("time_end", "duty_cycle").collect()
          .map(x => (x.getTimestamp(0).getTime / 1000, x.getDouble(1))).toSet
        // same windows as the HDFS-backed run in StreamingSpec:
        // [92,102) holds only t=100 (active) → 1.0; [96,106) holds both → 0.5
        assert(out.contains((102L, 1.0)))
        assert(out.contains((106L, 0.5)))
      } finally query.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
  test("time filters reach the parquet scan; unused columns are pruned") {
    // pushdown: the engine phrases time predicates on raw `ts` exactly so
    // they land in the scan's PushedFilters (not a post-scan Filter only)
    for (name <- Seq("q_recent_range", "q_interval_union_filter", "q_history_avg")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      val scan = plan.linesIterator.filter(l =>
        l.contains("FileScan") && l.contains("events.parquet")).mkString
      assert(scan.contains("PushedFilters: [IsNotNull(ts)") ||
        scan.contains("GreaterThanOrEqual(ts,"),
        s"$name: ts predicate not pushed to the scan:\n$scan")
    }
    // pruning: a 2-column projection reads a 2-column schema
    val tok = SparkEntry.queries("q_token_stats")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val docScan = tok.linesIterator.filter(l =>
      l.contains("FileScan") && l.contains("documents.parquet")).mkString
    assert(docScan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"token_stats reads more than (doc_id, text):\n$docScan")
    // and the event queries above never read the wide `props` column
    val rr = SparkEntry.queries("q_recent_range")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!rr.contains("props"), "recent_range reads the unused props column")
  }

  test("gopher rules run shuffle-free: the only exchange is the output sort") {
    import graft.plans.PlanAudit
    val df = SparkEntry.queries("q_gopher_rules")(spark, sfDir)
    df.collect()
    val s = PlanAudit.summary(df).head()
    // every statistic derives from per-row array work — a shuffle before
    // the final orderBy would mean the plan regressed to an explode+agg
    assert(s.getAs[Int]("n_shuffles") <= 1,
      s"gopher rules must not shuffle before the sort:\n${df.queryExecution.executedPlan}")
    assert(s.getAs[Int]("n_scans") == 1)
  }

}
