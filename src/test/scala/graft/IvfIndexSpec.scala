package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.{IvfIndex, SimilarityOps}

class IvfIndexSpec extends AnyFunSuite with SharedSpark {

  private def embs = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
  private def queries(n: Int) = embs.filter(col("vec_id") < n)

  private def rows(df: org.apache.spark.sql.DataFrame): Array[(Long, Int, Long)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))

  test("index search reproduces the one-shot multi-probe results exactly") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    IvfIndex.materialize(spark, embs, dir)
    val viaIndex = rows(IvfIndex.search(spark, dir, queries(10), k = 3, nprobe = 2))
    val oneShot = rows(SimilarityOps.ivfTopKMultiProbe(spark, sfDir, nQueries = 10, k = 3, nprobe = 2))
    assert(viaIndex.nonEmpty && viaIndex.sameElements(oneShot),
      s"index search diverged: ${viaIndex.take(3).mkString(",")} vs ${oneShot.take(3).mkString(",")}")
  }

  test("incrementally absorbed segments answer like a one-shot build") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx_inc").toString
    IvfIndex.materialize(spark, embs.filter(col("vec_id") % 4 =!= 0), dir)
    IvfIndex.appendBatch(spark, dir, embs.filter(col("vec_id") % 4 === 0), batchId = 1L)
    val viaSegments = rows(IvfIndex.search(spark, dir, queries(10), k = 3, nprobe = 2))
    val oneShot = rows(SimilarityOps.ivfTopKMultiProbe(spark, sfDir, nQueries = 10, k = 3, nprobe = 2))
    assert(viaSegments.sameElements(oneShot), "segmented index diverged from one-shot build")
    // replay of the increment is idempotent
    val n1 = IvfIndex.read(spark, dir).count()
    IvfIndex.appendBatch(spark, dir, embs.filter(col("vec_id") % 4 === 0), batchId = 1L)
    assert(IvfIndex.read(spark, dir).count() == n1, "replayed segment duplicated rows")
  }

  test("index compaction bounds files per cell and preserves search results") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx_compact").toString
    (0 until 3).foreach(i =>
      IvfIndex.appendBatch(spark, dir, embs.filter(col("vec_id") % 3 === i), i.toLong))
    val before = rows(IvfIndex.search(spark, dir, queries(10), k = 3, nprobe = 2))
    // replay-safe default: batches 0,1 fold into batch=1; the newest stays
    assert(IvfIndex.compactSegments(spark, dir) == 2)
    val seg = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(seg.map(_.getName).sorted.toSeq == Seq("batch=1", "batch=2"))
    // one file per centroid_id dir in the compacted segment
    seg.find(_.getName == "batch=1").get.listFiles().filter(_.isDirectory).foreach { cell =>
      assert(cell.listFiles().count(_.getName.endsWith(".parquet")) == 1,
        s"cell ${cell.getName} must hold one compacted file")
    }
    assert(rows(IvfIndex.search(spark, dir, queries(10), k = 3, nprobe = 2))
      .sameElements(before), "compaction changed search results")
  }

  test("streaming absorb: each batch's top-k equals a direct build over the corpus so far") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("ivf_stream").toString
    val (src, idx, out, ckpt) = (s"$base/src", s"$base/idx", s"$base/out", s"$base/ckpt")
    // bootstrap with the %4 >= 2 slice
    IvfIndex.materialize(spark, embs.filter(col("vec_id") % 4 >= 2), idx)
    docsToSrc(embs.filter(col("vec_id") % 4 === 0), src)
    val schema = spark.read.parquet(src).schema
    def start() = IvfIndex.streamingAbsorb(
      spark.readStream.schema(schema).parquet(src), idx, out, ckpt).start()
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    // reference: same probe computed against a one-shot index of the
    // bootstrap corpus only
    val refDir = Files.createTempDirectory("ivf_stream_ref").toString
    IvfIndex.materialize(spark, embs.filter(col("vec_id") % 4 >= 2), refDir)
    val seg0 = rows(spark.read
      .option("basePath", out).parquet(s"$out/batch=${IvfIndex.StreamingSegmentBase}")
      .drop("batch").orderBy("qid", "rank"))
    val ref0 = rows(IvfIndex.search(spark, refDir, embs.filter(col("vec_id") % 4 === 0)))
    assert(seg0.nonEmpty && seg0.sameElements(ref0), "batch-0 neighbors diverged")
    // second batch lands while the query is down; restart from checkpoint
    docsToSrc(embs.filter(col("vec_id") % 4 === 1), src)
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    // reference for batch 1: bootstrap ∪ batch-0 corpus
    val refDir2 = Files.createTempDirectory("ivf_stream_ref2").toString
    IvfIndex.materialize(spark, embs.filter(col("vec_id") % 4 =!= 1), refDir2)
    val seg1 = rows(spark.read
      .option("basePath", out).parquet(s"$out/batch=${IvfIndex.StreamingSegmentBase + 1}")
      .drop("batch").orderBy("qid", "rank"))
    val ref1 = rows(IvfIndex.search(spark, refDir2, embs.filter(col("vec_id") % 4 === 1)))
    assert(seg1.sameElements(ref1), "batch-1 neighbors diverged from direct build")
  }

  private def docsToSrc(df: org.apache.spark.sql.DataFrame, src: String): Unit =
    df.write.mode("append").parquet(src)

  test("streaming absorb can serve its per-batch probe via residual ADC (probe = radc)") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("ivf_stream_radc").toString
    val (src, idx, out, ckpt) = (s"$base/src", s"$base/idx", s"$base/out", s"$base/ckpt")
    IvfIndex.materialize(spark, embs.filter(col("vec_id") % 4 >= 2), idx)
    docsToSrc(embs.filter(col("vec_id") % 4 === 0), src)
    val schema = spark.read.parquet(src).schema
    val q1 = IvfIndex.streamingAbsorb(
      spark.readStream.schema(schema).parquet(src), idx, out, ckpt, probe = "radc").start()
    q1.processAllAvailable()
    q1.stop()
    // reference: searchRadc against a one-shot index of the bootstrap corpus
    val refDir = Files.createTempDirectory("ivf_stream_radc_ref").toString
    IvfIndex.materialize(spark, embs.filter(col("vec_id") % 4 >= 2), refDir)
    val seg0 = rows(spark.read
      .option("basePath", out).parquet(s"$out/batch=${IvfIndex.StreamingSegmentBase}")
      .drop("batch").orderBy("qid", "rank"))
    val ref0 = rows(IvfIndex.searchRadc(spark, refDir, embs.filter(col("vec_id") % 4 === 0)))
    assert(seg0.nonEmpty && seg0.sameElements(ref0),
      "radc-probed streaming neighbors diverged from the direct searchRadc")
    intercept[IllegalArgumentException] {
      IvfIndex.streamingAbsorb(
        spark.readStream.schema(schema).parquet(src), idx, out, ckpt, probe = "cosine")
    }
  }

  test("streaming absorb emits the drift metric; a shifted batch trips it mid-stream") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("ivf_stream_drift").toString
    val (src, idx, out, ckpt, met) =
      (s"$base/src", s"$base/idx", s"$base/out", s"$base/ckpt", s"$base/metrics")
    // empty-index bootstrap: the FIRST batch self-records the fit baseline
    docsToSrc(embs, src)
    val schema = spark.read.parquet(src).schema
    def start() = IvfIndex.streamingAbsorb(
      spark.readStream.schema(schema).parquet(src), idx, out, ckpt,
      driftMetricsOut = Some(met)).start()
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    def metric(segment: Long): Double = spark.read
      .option("basePath", met).parquet(s"$met/batch=$segment")
      .head().getAs[Double]("drift_ratio")
    val s0 = IvfIndex.StreamingSegmentBase
    assert(math.abs(metric(s0) - 1.0) < 1e-12,
      s"bootstrap batch must read as its own baseline, got ${metric(s0)}")
    // the occupancy-skew trip wire rides the same row (r12): max/mean over
    // occupied cells, ≥ 1 by construction, and it must equal the batch-side
    // statistic the grow-K policy reads
    val skew0 = spark.read.option("basePath", met).parquet(s"$met/batch=$s0")
      .head().getAs[Double]("occupancy_skew")
    assert(skew0 >= 1.0, s"occupancy skew must be >= 1, got $skew0")
    assert(math.abs(skew0 - IvfIndex.occupancySkew(spark, idx)) < 1e-9,
      "in-stream skew must equal the batch-side occupancySkew statistic")
    // a shifted second batch lands while the query is down
    docsToSrc(embs.select(
      (col("vec_id") + 100000L).as("vec_id"),
      // cast back to float: the file source pins the first batch's schema
      transform(col("embedding"), x => (x + lit(3.0)).cast("float")).as("embedding")), src)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    assert(metric(s0 + 1) >= 1.5,
      s"the shifted batch must trip the drift gate in-stream, got ${metric(s0 + 1)}")
    // the metric is the same statistic the batch-side policy reads: an
    // operator quiesces the stream and maintainIfDrifted reclusters
    val (ratio, ran) = IvfIndex.maintainIfDrifted(spark, idx)
    assert(ran && math.abs(ratio - metric(s0 + 1)) < 1e-12)
    assert(math.abs(IvfIndex.driftRatio(spark, idx) - 1.0) < 1e-12)
  }

  /** Brute-force cosine top-k over the STORED index (no cell restriction) —
    * the recall denominator for [[IvfIndex.search]].
    */
  private def bruteTopK(dir: String, qs: org.apache.spark.sql.DataFrame, k: Int)
      : Set[(Long, Long)] = {
    val idx = IvfIndex.read(spark, dir).select(
      col("vec_id").as("cid"), col("v").as("cv"), col("nn").as("cn"))
    val q = qs.select(
      col("vec_id").as("qid"),
      transform(col("embedding"), _.cast("double")).as("qv"))
      .withColumn("qn", expr("dot_arrays(qv, qv)"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("qid").orderBy(desc("cos"), asc("cid"))
    idx.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("cid"))
      .withColumn("cos", expr("dot_arrays(qv, cv)") / (sqrt(col("qn")) * sqrt(col("cn"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def recallAt(dir: String, qs: org.apache.spark.sql.DataFrame, k: Int): Double = {
    val truth = bruteTopK(dir, qs, k)
    val got = IvfIndex.search(spark, dir, qs, k = k, nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    got.intersect(truth).size.toDouble / truth.size
  }

  test("recluster absorbs distribution drift: recall recovers, swap is atomic (VERDICT r5 #1)") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_recluster").toString
    IvfIndex.materialize(spark, embs, dir)
    // a shifted population the install-time (md5-random) centroids never saw:
    // every coordinate offset by +3, far outside the original distribution
    val drifted = embs.select(
      (col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), x => x + lit(3.0)).as("embedding"))
    IvfIndex.appendBatch(spark, dir, drifted, batchId = 1L)
    // mixed query set: 10 original + 10 drifted identities
    val qs = embs.filter(col("vec_id") < 10)
      .unionByName(drifted.filter(col("vec_id") < 100010L))
    val before = recallAt(dir, qs, k = 3)
    val cellsBefore = IvfIndex.read(spark, dir)
      .groupBy("centroid_id").count().collect().map(_.getLong(1))
    val iters = IvfIndex.recluster(spark, dir)
    assert(iters >= 1)
    // the centroid set genuinely re-fit (no longer the md5 install set)...
    val refit = IvfIndex.currentCentroids(spark, dir)
    assert(refit.zip(SimilarityOps.centroids).exists { case (a, b) => !a.sameElements(b) })
    // ...rows survived the rewrite, in ONE segment carrying the new manifest
    assert(IvfIndex.read(spark, dir).count() == embs.count() * 2)
    val segs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName)
    assert(segs.length == 1, s"recluster must commit one segment, got ${segs.toSeq}")
    // recall at the fitted centroids is at least the drift-degraded recall
    val after = recallAt(dir, qs, k = 3)
    info(f"recall@3 nprobe=2: $before%.3f (drifted, install centroids) -> $after%.3f (refit)")
    assert(after >= before, s"recall fell after recluster: $before -> $after")
    // the drifted mass no longer crams into the install-time hot cell
    val cellsAfter = IvfIndex.read(spark, dir)
      .groupBy("centroid_id").count().collect().map(_.getLong(1))
    assert(cellsAfter.max <= cellsBefore.max,
      s"recluster grew the hottest cell: ${cellsBefore.max} -> ${cellsAfter.max}")
    // search keeps its scale shape: broadcast probes + DPP on centroid_id
    val q = IvfIndex.search(spark, dir, queries(5), k = 3, nprobe = 2)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"post-recluster search lost partition pruning:\n$plan")
    // appends after the swap assign under the FITTED set (segments agree)
    IvfIndex.appendBatch(spark, dir,
      embs.select((col("vec_id") + 200000L).as("vec_id"), col("embedding")), batchId = 2000L)
    assert(IvfIndex.currentCentroids(spark, dir).zip(refit)
      .forall { case (a, b) => a.sameElements(b) })
  }

  test("driftRatio detects a shifted corpus; maintainIfDrifted reclusters it away") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_drift").toString
    IvfIndex.materialize(spark, embs, dir)
    // a fresh fit baseline: the ratio starts at exactly 1 (same sample, same
    // centroids, same decimal-summed statistic)
    assert(math.abs(IvfIndex.driftRatio(spark, dir) - 1.0) < 1e-12)
    // a healthy maintenance pass is cheap and does NOT rewrite the index
    val (r0, ran0) = IvfIndex.maintainIfDrifted(spark, dir)
    assert(!ran0 && math.abs(r0 - 1.0) < 1e-12)
    // absorbing an in-distribution batch barely moves the ratio — the
    // baseline rides forward through appendBatch
    IvfIndex.appendBatch(spark, dir,
      embs.select((col("vec_id") + 50000L).as("vec_id"), col("embedding")), batchId = 1L)
    val inDist = IvfIndex.driftRatio(spark, dir)
    assert(inDist < 1.5, s"in-distribution growth must not read as drift: $inDist")
    // a shifted population the install-time centroids never saw
    val drifted = embs.select(
      (col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), x => x + lit(3.0)).as("embedding"))
    IvfIndex.appendBatch(spark, dir, drifted, batchId = 2L)
    val shifted = IvfIndex.driftRatio(spark, dir)
    assert(shifted >= 1.5, s"a +3-offset third of the corpus must trip the drift gate: $shifted")
    val (r2, ran2) = IvfIndex.maintainIfDrifted(spark, dir)
    assert(ran2 && r2 == shifted)
    // the recluster re-recorded the baseline: the index reads as healthy again
    val after = IvfIndex.driftRatio(spark, dir)
    assert(math.abs(after - 1.0) < 1e-12, s"post-recluster ratio must reset to 1, got $after")
  }

  test("as-of search pins corpus AND centroids; recluster collapses snapshot history") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_asof").toString
    IvfIndex.materialize(spark, embs.filter(col("vec_id") % 2 === 0), dir)
    val qs = queries(10)
    val runX = rows(IvfIndex.search(spark, dir, qs, k = 3, nprobe = 2))
    val runXAdc = rows(IvfIndex.searchAdc(spark, dir, qs, k = 3, nprobe = 2))
    IvfIndex.appendBatch(spark, dir, embs.filter(col("vec_id") % 2 === 1), batchId = 1L)
    // the pinned search replays run X bit-for-bit; unpinned sees the growth
    assert(rows(IvfIndex.search(spark, dir, qs, k = 3, nprobe = 2, asOf = Some(0L)))
      .sameElements(runX), "asOf=0 must reproduce the pre-absorb top-k")
    assert(!rows(IvfIndex.search(spark, dir, qs, k = 3, nprobe = 2)).sameElements(runX))
    // the ADC path honors the same pin (codes + cells + centroids snapshot)
    assert(rows(IvfIndex.searchAdc(spark, dir, qs, k = 3, nprobe = 2, asOf = Some(0L)))
      .sameElements(runXAdc), "asOf=0 must reproduce the pre-absorb ADC top-k")
    // recluster rewrites history into one segment: the old pin fails loudly,
    // and the pinned-centroid path is what kept pre-recluster pins honest
    IvfIndex.recluster(spark, dir)
    intercept[IllegalArgumentException](
      IvfIndex.search(spark, dir, qs, asOf = Some(0L)).collect())
    val liveId = graft.sources.Segments.segmentIds(spark, dir).max
    assert(rows(IvfIndex.search(spark, dir, qs, k = 3, nprobe = 2, asOf = Some(liveId)))
      .sameElements(rows(IvfIndex.search(spark, dir, qs, k = 3, nprobe = 2))),
      "a pin at the live frontier must equal the unpinned search")
  }

  test("re-emitted vec_id: self-exclusion hides every stored copy from that id's own queries (ADVICE r4)") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_reemit").toString
    IvfIndex.materialize(spark, embs, dir)
    // batch 1 re-emits id 7 carrying id 8's vector — a contract violation
    val reemitted = embs.filter(col("vec_id") === 8)
      .select(lit(7L).as("vec_id"), col("embedding"))
    IvfIndex.appendBatch(spark, dir, reemitted, batchId = 1L)
    // id 7's own query sees NEITHER copy (old vector nor impostor)
    val own = IvfIndex.search(spark, dir, queries(10).filter(col("vec_id") === 7), k = 5)
      .collect().map(_.getLong(2))
    assert(own.nonEmpty && !own.contains(7L),
      s"qid=7 must exclude every stored row with its id, got ${own.toSeq}")
    // every OTHER query still sees id-7 rows as candidates: querying with
    // id 8's exact vector under a fresh id ranks the impostor copy (cos=1)
    val probe = embs.filter(col("vec_id") === 8)
      .select(lit(999999L).as("vec_id"), col("embedding"))
    val other = IvfIndex.search(spark, dir, probe, k = 2)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(other.map(_._2).contains(7L),
      s"other queries must still see the re-emitted id-7 copy, got ${other.toSeq}")
  }

  test("search broadcasts the query cells and prunes index partitions") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx_plan").toString
    IvfIndex.materialize(spark, embs, dir)
    val q = IvfIndex.search(spark, dir, queries(5), k = 3, nprobe = 2)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"query cells must broadcast:\n$plan")
    // the index side must arrive partition-pruned: the probed cells are only
    // known at runtime, so the scan needs a dynamicpruning expression on the
    // centroid_id partition column
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected dynamic partition pruning on centroid_id:\n$plan")
  }

  test("searchAdc reproduces the one-shot IVFADC results; the code scan never reads the vectors") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_adc").toString
    IvfIndex.materialize(spark, embs, dir)
    val q = IvfIndex.searchAdc(spark, dir, queries(10), k = 3, nprobe = 2)
    val viaIndex = rows(q)
    val oneShot = rows(SimilarityOps.ivfAdcTopK(spark, sfDir, nQueries = 10, k = 3, nprobe = 2))
    assert(viaIndex.nonEmpty && viaIndex.sameElements(oneShot),
      s"index ADC search diverged: ${viaIndex.take(3).mkString(",")} vs ${oneShot.take(3).mkString(",")}")
    // the scale contract: the dominant (candidate) scan reads pq WITHOUT v —
    // column pruning is what makes ADC ~100× lighter on bytes than the float
    // probe; only the bounded rerank scan reads v
    val plan = q.queryExecution.executedPlan.toString
    val scanLines = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("ReadSchema")).toSeq
    assert(scanLines.exists(l => l.contains("pq") && !l.contains("v:array")),
      s"expected a pq-only candidate scan (no v), got:\n${scanLines.mkString("\n")}")
    // BOTH scans arrive partition-pruned: the candidate scan by the probed
    // cells and the exact-rerank scan by the pool's cells — without the
    // latter, the rerank re-reads every segment's full-width vectors
    val dppScans = scanLines.count(_.toLowerCase.contains("dynamicpruning"))
    assert(dppScans >= 2,
      s"expected dynamic partition pruning on candidate AND rerank scans, got $dppScans:\n$plan")
    // incremental absorbs carry codes too: results stay identical
    val dir2 = java.nio.file.Files.createTempDirectory("ivf_adc_inc").toString
    IvfIndex.materialize(spark, embs.filter(col("vec_id") % 4 =!= 0), dir2)
    IvfIndex.appendBatch(spark, dir2, embs.filter(col("vec_id") % 4 === 0), batchId = 1L)
    assert(rows(IvfIndex.searchAdc(spark, dir2, queries(10), k = 3, nprobe = 2))
      .sameElements(oneShot), "segmented ADC search diverged")
  }

  test("recluster carries PQ codes through the re-assignment; ADC search survives the swap") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_adc_recluster").toString
    IvfIndex.materialize(spark, embs, dir)
    val codesBefore = IvfIndex.read(spark, dir).select("vec_id", "pq")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toMap
    IvfIndex.recluster(spark, dir, maxIter = 2)
    val codesAfter = IvfIndex.read(spark, dir).select("vec_id", "pq")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toMap
    assert(codesAfter == codesBefore,
      "PQ codes are centroid-independent and must survive a recluster unchanged")
    // post-swap ADC search still ranks from stored codes under the NEW cells
    val got = rows(IvfIndex.searchAdc(spark, dir, queries(10), k = 3, nprobe = 2))
    assert(got.nonEmpty && got.map(_._1).distinct.length == 10)
  }

  test("recluster heartbeat outlives the TTL: absorbs keep failing for the WHOLE run (VERDICT r9 #7)") {
    // shrink the TTL so "a recluster longer than the TTL" fits in a test;
    // the heartbeat interval becomes TTL/4 = 250 ms
    System.setProperty("graft.ivf.leaseTtlMs", "1000")
    try {
      val dir = java.nio.file.Files.createTempDirectory("ivf_beat").toString
      IvfIndex.materialize(spark, embs, dir)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val lease = new org.apache.hadoop.fs.Path(dir, ".recluster_lease")
      // tol=0 forces every Lloyd round: the recluster runs many times the TTL
      val worker = new Thread(() => IvfIndex.recluster(spark, dir, maxIter = 30, tol = 0.0))
      worker.start()
      try {
        val deadline = System.currentTimeMillis() + 60000
        while (!fs.exists(lease) && System.currentTimeMillis() < deadline) Thread.sleep(20)
        assert(fs.exists(lease), "recluster never acquired its lease")
        // sleep PAST the TTL — an mtime-frozen lease would now read as crashed
        Thread.sleep(2500)
        assert(worker.isAlive, "recluster finished too fast to exercise the TTL window")
        val e = intercept[IllegalStateException] {
          IvfIndex.appendBatch(spark, dir,
            embs.select((col("vec_id") + 300000L).as("vec_id"), col("embedding")), batchId = 5L)
        }
        assert(e.getMessage.contains("recluster"), e.getMessage)
        assert(!graft.sources.Segments.segmentIds(spark, dir).contains(5L),
          "no segment may survive an absorb rejected mid-recluster")
      } finally worker.join(600000)
      // join must have COMPLETED before probing the lease: while the run is
      // live, the heartbeat's overwrite-create has a transient not-exists
      // window that would let the next assert pass spuriously (observed
      // under full-suite CPU contention with the old 120 s cap)
      assert(!worker.isAlive, "recluster did not finish within the join cap")
      // the completed run released the lease; ingest resumes
      assert(!fs.exists(lease))
      IvfIndex.appendBatch(spark, dir,
        embs.select((col("vec_id") + 300000L).as("vec_id"), col("embedding")), batchId = 5L)
    } finally System.clearProperty("graft.ivf.leaseTtlMs")
  }

  test("a lease appearing MID-WRITE: appendBatch deletes its own segment and fails (VERDICT r9 #7)") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_midwrite").toString
    IvfIndex.materialize(spark, embs, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(dir, ".recluster_lease")
    // a batch big enough that its parquet write leaves a raceable window
    val big = embs
      .withColumn("r", explode(sequence(lit(0), lit(59))))
      .select((col("vec_id") * 100 + col("r") + 1000000L).as("vec_id"), col("embedding"))
    val segDir = new org.apache.hadoop.fs.Path(dir, "batch=9")
    @volatile var thrown: Throwable = null
    val absorber = new Thread(() => {
      try IvfIndex.appendBatch(spark, dir, big, batchId = 9L)
      catch { case t: Throwable => thrown = t }
    })
    absorber.start()
    // wait until the write STARTED (entry check already passed), then land a
    // fresh lease — exactly the r8/r9 check-then-act window
    val deadline = System.currentTimeMillis() + 120000
    while (!fs.exists(segDir) && absorber.isAlive && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    assert(fs.exists(segDir), "absorb write never started")
    fs.create(lease, false).close()
    absorber.join(180000)
    fs.delete(lease, false)
    assert(thrown != null && thrown.isInstanceOf[IllegalStateException],
      s"absorb must fail when a recluster acquires mid-write, got $thrown")
    assert(!fs.exists(segDir),
      "the mid-write segment must be deleted — it was assigned under a set the recluster is replacing")
    assert(!graft.sources.Segments.segmentIds(spark, dir).contains(9L))
  }

  test("a recluster completing ENTIRELY inside the write window is detected by the manifest check (ADVICE r9)") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_manifest").toString
    IvfIndex.materialize(spark, embs, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val big = embs
      .withColumn("r", explode(sequence(lit(0), lit(59))))
      .select((col("vec_id") * 100 + col("r") + 2000000L).as("vec_id"), col("embedding"))
    val segDir = new org.apache.hadoop.fs.Path(dir, "batch=9")
    @volatile var thrown: Throwable = null
    val absorber = new Thread(() => {
      try IvfIndex.appendBatch(spark, dir, big, batchId = 9L)
      catch { case t: Throwable => thrown = t }
    })
    absorber.start()
    val deadline = System.currentTimeMillis() + 120000
    while (!fs.exists(segDir) && absorber.isAlive && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    assert(fs.exists(segDir), "absorb write never started")
    // simulate a recluster that acquired AND released within the window: no
    // lease remains, but a newer segment carries a DIFFERENT centroid set
    val swapped = IvfIndex.currentCentroids(spark, dir)
      .map(_.map(_ + 1.0))
    val manifest = swapped.map(_.mkString(",")).mkString("\n")
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir, "batch=999"))
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "batch=999/_CENTROIDS"), true)
    out.write(manifest.getBytes("UTF-8")); out.close()
    absorber.join(180000)
    assert(thrown != null && thrown.isInstanceOf[IllegalStateException],
      s"absorb must detect the swapped manifest, got $thrown")
    assert(!fs.exists(segDir), "the stale-assignment segment must be deleted")
  }

  test("absorb racing a recluster fails loudly; a completed or crashed recluster frees the index") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_lease").toString
    IvfIndex.materialize(spark, embs.filter(col("vec_id") % 4 =!= 0), dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(dir, ".recluster_lease")
    // a live recluster (fresh lease heartbeat) blocks the absorb — no
    // segment may land assigned under the outgoing centroid set
    fs.create(lease, false).close()
    val e = intercept[IllegalStateException] {
      IvfIndex.appendBatch(spark, dir, embs.filter(col("vec_id") % 4 === 0), batchId = 1L)
    }
    assert(e.getMessage.contains("recluster in progress"), e.getMessage)
    assert(graft.sources.Segments.segmentIds(spark, dir) == Seq(0L),
      "no segment may land under an active recluster lease")
    // a crashed recluster (heartbeat older than the TTL) must not wedge
    // ingest forever
    fs.setTimes(lease, System.currentTimeMillis() - IvfIndex.ReclusterLeaseTtlMs - 1000L, -1)
    IvfIndex.appendBatch(spark, dir, embs.filter(col("vec_id") % 4 === 0), batchId = 1L)
    fs.delete(lease, false)
    // a real recluster releases its lease and the absorbed rows search fine
    IvfIndex.recluster(spark, dir, maxIter = 2)
    assert(!fs.exists(lease), "recluster must release its lease")
    IvfIndex.appendBatch(spark, dir, embs.filter(col("vec_id") % 4 === 0), batchId = 2L)
    // every stored row's cell id agrees with the live centroid set — the
    // stale-cell corruption the lease exists to prevent
    val cents = IvfIndex.currentCentroids(spark, dir)
    val stored = IvfIndex.read(spark, dir).select("vec_id", "v", "centroid_id")
    val reassigned = graft.ann.SimilarityOps
      .withCentroidAssignment(stored.select(col("vec_id"), col("v")), "v", cents)
      .select(col("vec_id"), col("centroid_id").as("fresh_cid"))
    val mismatches = stored.join(reassigned, "vec_id")
      .filter(col("centroid_id") =!= col("fresh_cid")).count()
    assert(mismatches == 0L, s"$mismatches rows carry stale cell ids")
  }

  test("searchRadc reproduces the one-shot residual-IVFADC results; the code scan never reads the vectors") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_radc").toString
    IvfIndex.materialize(spark, embs, dir)
    val q = IvfIndex.searchRadc(spark, dir, queries(10), k = 3, nprobe = 2)
    val viaIndex = rows(q)
    val oneShot = rows(SimilarityOps.ivfRadcTopK(spark, sfDir, nQueries = 10, k = 3, nprobe = 2))
    assert(viaIndex.nonEmpty && viaIndex.sameElements(oneShot),
      s"index residual-ADC search diverged: ${viaIndex.take(3).mkString(",")} vs ${oneShot.take(3).mkString(",")}")
    // same byte economics as searchAdc: the candidate scan reads rpq, not v
    val plan = q.queryExecution.executedPlan.toString
    val scanLines = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("ReadSchema")).toSeq
    assert(scanLines.exists(l => l.contains("rpq") && !l.contains("v:array")),
      s"expected an rpq-only candidate scan (no v), got:\n${scanLines.mkString("\n")}")
    val dppScans = scanLines.count(_.toLowerCase.contains("dynamicpruning"))
    assert(dppScans >= 2,
      s"expected dynamic partition pruning on candidate AND rerank scans, got $dppScans:\n$plan")
    // incremental absorbs encode residual codes identically
    val dir2 = java.nio.file.Files.createTempDirectory("ivf_radc_inc").toString
    IvfIndex.materialize(spark, embs.filter(col("vec_id") % 4 =!= 0), dir2)
    IvfIndex.appendBatch(spark, dir2, embs.filter(col("vec_id") % 4 === 0), batchId = 1L)
    assert(rows(IvfIndex.searchRadc(spark, dir2, queries(10), k = 3, nprobe = 2))
      .sameElements(oneShot), "segmented residual-ADC search diverged")
  }

  test("recluster RE-ENCODES residual codes under the fitted centroids (unlike pq, which carries)") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_radc_recluster").toString
    IvfIndex.materialize(spark, embs, dir)
    val centsBefore = IvfIndex.currentCentroids(spark, dir)
    val rpqBefore = IvfIndex.read(spark, dir).select("vec_id", "rpq")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toMap
    IvfIndex.recluster(spark, dir, maxIter = 2)
    val centsAfter = IvfIndex.currentCentroids(spark, dir)
    assert(centsBefore.zip(centsAfter).exists { case (a, b) => !a.sameElements(b) },
      "recluster did not move the centroid set — the re-encode path is unexercised")
    val rpqAfter = IvfIndex.read(spark, dir).select("vec_id", "rpq")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toMap
    assert(rpqAfter != rpqBefore,
      "residual codes are centroid-dependent: a recluster that moves centroids must re-encode them")
    // the pinned equivalence: searchRadc over the re-fit index equals the
    // one-shot replayed under the index's NEW centroid set
    val got = rows(IvfIndex.searchRadc(spark, dir, queries(10), k = 3, nprobe = 2))
    val expected = rows(SimilarityOps.ivfRadcTopK(
      spark, sfDir, nQueries = 10, k = 3, nprobe = 2, cents = centsAfter))
    assert(got.sameElements(expected),
      "post-recluster searchRadc diverged from the one-shot under the fitted centroids")
  }

  test("a trained residual codebook installs at materialize, serves every path, and is install-once") {
    val cb = SimilarityOps.pqTrainCodebooks(spark, sfDir, rounds = 2, onResiduals = true)
    assert(cb.size == SimilarityOps.PqM && cb.forall(_.size == SimilarityOps.PqK))
    // training moved the seed (a no-op train would make the manifest pointless)
    assert(cb.zip(SimilarityOps.pqCodebook).exists { case (ts, ss) =>
      ts.zip(ss).exists { case (t, s) => !t.sameElements(s) } },
      "trained codebook is identical to the md5 seed")
    val dir = java.nio.file.Files.createTempDirectory("ivf_trained").toString
    IvfIndex.materialize(spark, embs, dir, codebook = Some(cb))
    assert(IvfIndex.currentPqCodebook(spark, dir).flatten.zip(cb.flatten)
      .forall { case (a, b) => a.sameElements(b) }, "manifest round-trip diverged")
    // searchRadc under the manifest ≡ the one-shot replayed under the same codebook
    val got = rows(IvfIndex.searchRadc(spark, dir, queries(10), k = 3, nprobe = 2))
    val oneShot = rows(SimilarityOps.ivfRadcTopK(spark, sfDir, 10, 3, 2, cb = cb))
    assert(got.nonEmpty && got.sameElements(oneShot),
      "trained-codebook searchRadc diverged from the one-shot under the same codebook")
    // absorbs encode under the manifest too: results stay identical
    val dir2 = java.nio.file.Files.createTempDirectory("ivf_trained_inc").toString
    IvfIndex.materialize(spark, embs.filter(col("vec_id") % 4 =!= 0), dir2, Some(cb))
    IvfIndex.appendBatch(spark, dir2, embs.filter(col("vec_id") % 4 === 0), batchId = 1L)
    assert(rows(IvfIndex.searchRadc(spark, dir2, queries(10), k = 3, nprobe = 2))
      .sameElements(oneShot), "absorbed segment encoded under a different codebook")
    // install-once: stored codes and a later codebook cannot coexist
    intercept[IllegalArgumentException] {
      IvfIndex.materialize(spark, embs, dir, codebook = Some(SimilarityOps.pqCodebook))
    }
    // the payoff training exists for: residual-ADC recall vs exact brute
    // force STRICTLY improves over the untrained seed (deterministic
    // trajectory — measured 3 → 6 hits of 30 at 2 rounds on this corpus,
    // 9 at 4 rounds, vs the nprobe=2 cell ceiling of 19)
    def hits(cbx: IndexedSeq[IndexedSeq[Array[Double]]]): Long = {
      val exact = SimilarityOps.annTopK(spark, sfDir, 10, 3).select(col("qid"), col("cid"))
      val ap = SimilarityOps.ivfRadcTopK(spark, sfDir, 10, 3, 2, cb = cbx)
        .select(col("qid").as("aq"), col("cid").as("ac"))
      exact.join(ap, col("qid") === col("aq") && col("cid") === col("ac")).count()
    }
    assert(hits(cb) > hits(SimilarityOps.pqCodebook),
      "training the residual codebook must lift residual-ADC recall over the md5 seed")
    // the root manifest survives a recluster's full-segment rewrite, and the
    // re-encoded residual codes still rank under it: post-swap searchRadc
    // equals the one-shot replayed under (fitted cells, SAME trained codebook)
    IvfIndex.recluster(spark, dir2, maxIter = 2)
    assert(IvfIndex.currentPqCodebook(spark, dir2).flatten.zip(cb.flatten)
      .forall { case (a, b) => a.sameElements(b) },
      "recluster must not touch the codebook manifest")
    val centsAfter = IvfIndex.currentCentroids(spark, dir2)
    assert(rows(IvfIndex.searchRadc(spark, dir2, queries(10), k = 3, nprobe = 2))
      .sameElements(rows(SimilarityOps.ivfRadcTopK(
        spark, sfDir, 10, 3, 2, cents = centsAfter, cb = cb))),
      "post-recluster searchRadc diverged under the trained codebook")
  }

  test("a pre-residual segment (rpq null) degrades to unranked — with a full-width rerank both ADC searches equal the float search") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_radc_legacy").toString
    IvfIndex.materialize(spark, embs.filter(col("vec_id") % 4 =!= 0), dir)
    // hand-land a LEGACY batch=1 segment: same rows a current absorb would
    // write, minus the rpq column — simulating an index grown by an engine
    // generation that predates residual codes (no _CENTROIDS either; readers
    // fall back to batch=0's manifest, which is the same default set)
    val scratch = java.nio.file.Files.createTempDirectory("ivf_radc_scratch").toString
    IvfIndex.materialize(spark, embs.filter(col("vec_id") % 4 === 0), scratch)
    spark.read.option("basePath", scratch).parquet(scratch)
      .drop("batch").drop("rpq")
      .write.mode("overwrite").partitionBy("centroid_id").parquet(s"$dir/batch=1")
    // the mixed index never crashes and fills every query's k
    val radc = rows(IvfIndex.searchRadc(spark, dir, queries(10), k = 3, nprobe = 2))
    assert(radc.map(_._1).distinct.length == 10, "every query must still fill its top-k")
    // degradation is EXACTLY 'not ADC-rankable': with a rerank pool wide
    // enough to hold every candidate, the ADC phase stops mattering and both
    // code paths must reduce to the exact float search — null codes included
    val exact = rows(IvfIndex.search(spark, dir, queries(10), k = 3, nprobe = 2))
    assert(rows(IvfIndex.searchRadc(spark, dir, queries(10), k = 3, nprobe = 2, rerank = 1000000))
      .sameElements(exact), "full-width searchRadc must equal the float search on a mixed index")
    assert(rows(IvfIndex.searchAdc(spark, dir, queries(10), k = 3, nprobe = 2, rerank = 1000000))
      .sameElements(exact), "full-width searchAdc must equal the float search on a mixed index")
    // COMPACTING the mixed index must not destroy the coded rows' codes: the
    // rewrite's source read needs the same schema-merge discipline as the
    // searches (single-footer inference sampled from the legacy segment
    // would infer a code-less schema, and compaction DELETES its sources
    // after the promote — the one path where the lottery is irreversible)
    val codedBefore = IvfIndex.read(spark, dir)
      .filter(col("rpq").isNotNull).count()
    assert(codedBefore > 0, "setup: expected coded rows in the mixed index")
    IvfIndex.compactSegments(spark, dir, protectLatest = false)
    val after = IvfIndex.read(spark, dir)
    assert(after.filter(col("rpq").isNotNull).count() == codedBefore,
      "compaction lost stored codes on a mixed-generation index")
    assert(after.filter(col("rpq").isNull).count() > 0,
      "legacy rows keep their null codes through a plain compaction (no re-encode)")
  }

  /** Residual-ADC recall vs exact brute force over the stored index. */
  private def radcRecallAt(dir: String, qs: org.apache.spark.sql.DataFrame, k: Int): Double = {
    val truth = bruteTopK(dir, qs, k)
    val got = IvfIndex.searchRadc(spark, dir, qs, k = k, nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    got.intersect(truth).size.toDouble / truth.size
  }

  /** Raw-ADC recall vs exact brute force over the stored index. */
  private def adcRecallAt(dir: String, qs: org.apache.spark.sql.DataFrame, k: Int): Double = {
    val truth = bruteTopK(dir, qs, k)
    val got = IvfIndex.searchAdc(spark, dir, qs, k = k, nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    got.intersect(truth).size.toDouble / truth.size
  }

  test("drift-triggered retrain: one atomic rewrite re-fits cells AND codebook (VERDICT r10 #6)") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_retrain").toString
    IvfIndex.materialize(spark, embs, dir)
    // a shifted population the md5 install centroids (and seed codebook's
    // residual scale) never saw
    val drifted = embs.select(
      (col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), x => x + lit(3.0)).as("embedding"))
    IvfIndex.appendBatch(spark, dir, drifted, batchId = 1L)
    assert(IvfIndex.driftRatio(spark, dir) >= 1.5, "setup: drift gate must trip")
    val qs = embs.filter(col("vec_id") < 10)
      .unionByName(drifted.filter(col("vec_id") < 100010L))
    val beforeRecall = radcRecallAt(dir, qs, k = 3)
    val beforeAdcRecall = adcRecallAt(dir, qs, k = 3)
    val beforeRows = rows(IvfIndex.searchRadc(spark, dir, qs, k = 3, nprobe = 2))

    // an IN-FLIGHT rebuild is invisible: the compactor's dot-prefixed temp
    // dir (complete copy, manifest not yet written) must not leak its
    // codebook or rows into reads — searches during the rebuild serve the
    // old generation until the atomic promote
    val tmp = new java.io.File(dir, ".compact_tmp.inflight-test")
    assert(tmp.mkdirs())
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(tmp.toString, "_PQ_CODEBOOK"), "9.9,9.9\n")
    assert(IvfIndex.currentPqCodebook(spark, dir).flatten.zip(SimilarityOps.pqCodebook.flatten)
      .forall { case (a, b) => a.sameElements(b) },
      "an in-flight rebuild's codebook leaked into reads")
    assert(rows(IvfIndex.searchRadc(spark, dir, qs, k = 3, nprobe = 2))
      .sameElements(beforeRows), "search saw the in-flight generation")
    assert(new scala.reflect.io.Directory(tmp).deleteRecursively())

    // the governed path: drift tripped → recluster + codebook retrain in one commit
    val (ratio, ran) = IvfIndex.maintainIfDriftedRetrain(spark, dir, codebookRounds = 2)
    assert(ran && ratio >= 1.5)
    // one segment; the trained codebook manifest committed WITH it as meta
    val segs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(segs.length == 1, s"retrain must commit one segment, got ${segs.map(_.getName).toSeq}")
    assert(new java.io.File(segs.head, "_PQ_CODEBOOK").exists(),
      "retrained codebook must commit as segment meta (atomic with the re-encoded rows)")
    assert(new java.io.File(segs.head, "_PQ_CODEBOOK_RAW").exists(),
      "retrain must commit a RAW-subvector codebook too — pq encoded under a " +
        "residual-trained set would silently collapse searchAdc quality")
    assert(new java.io.File(segs.head, "_CODED").exists(),
      "rewritten segment must carry the schema-generation marker")
    val trained = IvfIndex.currentPqCodebook(spark, dir)
    assert(trained.flatten.zip(SimilarityOps.pqCodebook.flatten)
      .exists { case (a, b) => !a.sameElements(b) },
      "retrain left the md5 seed codebook in place")
    // the two trained codebooks are genuinely different fits: residual
    // codewords live near 0, raw codewords at vector scale
    val trainedRaw = IvfIndex.currentPqCodebookRaw(spark, dir)
    assert(trainedRaw.flatten.zip(trained.flatten)
      .exists { case (a, b) => !a.sameElements(b) },
      "raw and residual codebooks must be independent fits")
    // drift baseline reset; NEITHER serving mode's recall regressed
    // (measured improvement on the shifted corpus: re-fit cells AND
    // scale-matched codewords both help)
    assert(math.abs(IvfIndex.driftRatio(spark, dir) - 1.0) < 1e-12)
    val afterRecall = radcRecallAt(dir, qs, k = 3)
    val afterAdcRecall = adcRecallAt(dir, qs, k = 3)
    info(f"residual-ADC recall@3: $beforeRecall%.3f (drifted, seed cb) -> $afterRecall%.3f (retrained)")
    info(f"raw-ADC recall@3: $beforeAdcRecall%.3f (drifted, seed cb) -> $afterAdcRecall%.3f (retrained)")
    assert(afterRecall >= beforeRecall,
      s"retrain regressed radc recall: $beforeRecall -> $afterRecall")
    // raw-ADC: the md5 seed is ALREADY at raw-vector scale, so a 2-round
    // raw retrain buys little and jitters at this corpus size — the pin is
    // against the COLLAPSE mode (pq encoded under residual-scale codewords
    // ranks near-randomly), not for strict improvement
    assert(afterAdcRecall >= 0.5 * beforeAdcRecall,
      s"retrain collapsed adc recall: $beforeAdcRecall -> $afterAdcRecall — " +
        "pq was likely encoded under the residual-trained codebook")
    // codes and LUTs agree end-to-end: a full-width rerank reduces searchRadc
    // to the float search, and every query still fills its k
    val exact = rows(IvfIndex.search(spark, dir, qs, k = 3, nprobe = 2))
    assert(rows(IvfIndex.searchRadc(spark, dir, qs, k = 3, nprobe = 2, rerank = 1000000))
      .sameElements(exact), "post-retrain full-width searchRadc must equal the float search")
    // a later absorb encodes under the retrained codebook and carries the
    // manifest forward as its own segment meta
    IvfIndex.appendBatch(spark, dir,
      embs.select((col("vec_id") + 200000L).as("vec_id"), col("embedding")), batchId = 5000L)
    assert(new java.io.File(s"$dir/batch=5000", "_PQ_CODEBOOK").exists(),
      "absorb after a retrain must carry the governing codebook manifest forward")
    assert(IvfIndex.currentPqCodebook(spark, dir).flatten.zip(trained.flatten)
      .forall { case (a, b) => a.sameElements(b) },
      "absorb changed the governing codebook")
  }

  test("full compaction carries the index manifests — centroids survive protectLatest=false (r11)") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_compact_meta").toString
    IvfIndex.materialize(spark, embs.filter(col("vec_id") % 2 === 0), dir)
    IvfIndex.recluster(spark, dir, maxIter = 2) // move off the md5 default set
    val refit = IvfIndex.currentCentroids(spark, dir)
    assert(refit.zip(SimilarityOps.centroids).exists { case (a, b) => !a.sameElements(b) },
      "setup: recluster must move the centroid set")
    IvfIndex.appendBatch(spark, dir, embs.filter(col("vec_id") % 2 === 1), batchId = 7000L)
    val before = rows(IvfIndex.search(spark, dir, queries(10), k = 3, nprobe = 2))
    // the quiesced full fold: every manifest-bearing source segment is
    // DELETED — before the r11 fix the index silently reverted to the
    // default centroid set (probes under default, stored cells under refit)
    IvfIndex.compactSegments(spark, dir, protectLatest = false)
    assert(IvfIndex.currentCentroids(spark, dir).zip(refit)
      .forall { case (a, b) => a.sameElements(b) },
      "full compaction lost the fitted centroid manifest")
    assert(IvfIndex.baselineResidual(spark, dir).nonEmpty,
      "full compaction lost the drift baseline")
    assert(rows(IvfIndex.search(spark, dir, queries(10), k = 3, nprobe = 2))
      .sameElements(before), "search results changed across a plain compaction")
    // both sources carried the coded marker, so the fold keeps it — the ADC
    // fast path (single-footer schema) stays available
    val seg = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(seg.forall(s => new java.io.File(s, "_CODED").exists()),
      "compaction dropped the schema-generation marker of all-coded sources")
  }

  test("dual-codebook install: raw manifest governs pq/searchAdc, residual governs rpq (r11)") {
    val cb = SimilarityOps.pqTrainCodebooks(spark, sfDir, rounds = 2, onResiduals = true)
    val cbRaw = SimilarityOps.pqTrainCodebooks(spark, sfDir, rounds = 2, onResiduals = false)
    assert(cb.flatten.zip(cbRaw.flatten).exists { case (a, b) => !a.sameElements(b) },
      "setup: residual and raw trainings must differ")
    val dir = java.nio.file.Files.createTempDirectory("ivf_dual").toString
    IvfIndex.materialize(spark, embs, dir, codebook = Some(cb), codebookRaw = Some(cbRaw))
    assert(IvfIndex.currentPqCodebook(spark, dir).flatten.zip(cb.flatten)
      .forall { case (a, b) => a.sameElements(b) }, "residual manifest round-trip diverged")
    assert(IvfIndex.currentPqCodebookRaw(spark, dir).flatten.zip(cbRaw.flatten)
      .forall { case (a, b) => a.sameElements(b) }, "raw manifest round-trip diverged")
    // both serving modes stay internally consistent (codes ≡ LUT codebooks):
    // a full-width rerank reduces each to the float search
    val exact = rows(IvfIndex.search(spark, dir, queries(10), k = 3, nprobe = 2))
    assert(rows(IvfIndex.searchAdc(spark, dir, queries(10), 3, 2, rerank = 1000000))
      .sameElements(exact), "dual-install searchAdc lost code/LUT agreement")
    assert(rows(IvfIndex.searchRadc(spark, dir, queries(10), 3, 2, rerank = 1000000))
      .sameElements(exact), "dual-install searchRadc lost code/LUT agreement")
    // absorbs carry BOTH manifests forward as their own segment meta
    IvfIndex.appendBatch(spark, dir,
      embs.select((col("vec_id") + 300000L).as("vec_id"), col("embedding")), batchId = 9L)
    assert(new java.io.File(s"$dir/batch=9", "_PQ_CODEBOOK").exists())
    assert(new java.io.File(s"$dir/batch=9", "_PQ_CODEBOOK_RAW").exists())
    // raw-only install is rejected loudly (rpq would silently stay on the seed)
    intercept[IllegalArgumentException] {
      IvfIndex.materialize(spark, embs,
        java.nio.file.Files.createTempDirectory("ivf_dual2").toString,
        codebookRaw = Some(cbRaw))
    }
  }

  test("minhash drop ledger reads (8, 0, 0) on a corpus with no signable docs (r11)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dedup_unsignable").toString
    // every text under ShingleK tokens → zero signatures, empty band table
    Seq((1L, "too short", "web"), (2L, "also short", "web"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = graft.dedup.DedupOps.minhashLshDropped(spark, dir).head()
    assert(r.getInt(0) == 8 && r.getLong(1) == 0L && r.getLong(2) == 0L,
      s"unsignable corpus must read (8, 0, 0), got $r")
    assert(graft.dedup.DedupOps.minhashLshPairs(spark, dir).count() == 0)
  }

  test("codebook install abort leaves no orphan manifest (ADVICE r10)") {
    val cb = SimilarityOps.pqTrainCodebooks(spark, sfDir, rounds = 2, onResiduals = true)
    val dir = java.nio.file.Files.createTempDirectory("ivf_install_abort").toString
    val boom = udf((_: Long) => {
      if (true) throw new RuntimeException("boom: injected absorb failure")
      Array(0.0f)
    })
    val failing = embs.withColumn("embedding", boom(col("vec_id")))
    intercept[Throwable] {
      IvfIndex.materialize(spark, failing, dir, codebook = Some(cb))
    }
    // the manifest written before the failed first absorb must be gone —
    // a later codebook-less materialize starts from the default seed, not a
    // silently inherited trained set with zero trained segments
    assert(!new java.io.File(dir, "_PQ_CODEBOOK").exists(),
      "aborted install left an orphan codebook manifest")
    assert(!new java.io.File(dir, ".recluster_lease").exists(),
      "aborted install left the lease held")
    IvfIndex.materialize(spark, embs, dir)
    assert(IvfIndex.currentPqCodebook(spark, dir).flatten.zip(SimilarityOps.pqCodebook.flatten)
      .forall { case (a, b) => a.sameElements(b) },
      "recovered index must serve under the default seed codebook")
  }

  test("grow-K maintenance: a breached cell budget re-fits at a larger K; full-probe search stays exact (r12)") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_growk").toString
    IvfIndex.materialize(spark, embs, dir)
    // sf0.001's natural assignment is skewed: the hottest seed-8 cell holds
    // ~214 of 500 vectors — past a 120-row budget, under the 500/120 ≈ 5
    // volume-derived K, so the doubling floor picks K = 16
    val (maxBefore, total) = IvfIndex.cellStats(spark, dir)
    assert(total == embs.count())
    assert(maxBefore > 120, s"fixture expectation: hottest cell $maxBefore should breach 120")
    val skewBefore = IvfIndex.occupancySkew(spark, dir)
    val (reported, ran) = IvfIndex.maintainCellBudget(spark, dir, targetCellRows = 120, maxIter = 5)
    assert(ran && reported == maxBefore)
    assert(IvfIndex.currentCentroids(spark, dir).size == 16,
      s"expected the doubling floor K=16, got ${IvfIndex.currentCentroids(spark, dir).size}")
    val (maxAfter, totalAfter) = IvfIndex.cellStats(spark, dir)
    assert(totalAfter == total, "re-fit must not add or drop rows")
    assert(maxAfter < maxBefore,
      s"re-fit at K=16 must shrink the hottest cell: $maxBefore -> $maxAfter")
    assert(IvfIndex.occupancySkew(spark, dir) <= skewBefore * 1.5,
      "occupancy skew should not blow up under the re-fit")
    // healthy index: a second maintenance call is a no-op (no rewrite)
    val segsNow = graft.sources.Segments.segmentIds(spark, dir)
    val (_, ranAgain) = IvfIndex.maintainCellBudget(spark, dir, targetCellRows = maxAfter + 1)
    assert(!ranAgain && graft.sources.Segments.segmentIds(spark, dir) == segsNow)
    // centroid-set independence at FULL probe: searching every cell is exact
    // brute force whatever the K, so the grown index must agree with an
    // unmaintained twin probed over all its seed-8 cells
    val twin = java.nio.file.Files.createTempDirectory("ivf_growk_twin").toString
    IvfIndex.materialize(spark, embs, twin)
    val got = rows(IvfIndex.search(spark, dir, queries(8), k = 3, nprobe = 16))
    val ref = rows(IvfIndex.search(spark, twin, queries(8), k = 3, nprobe = 8))
    assert(got.nonEmpty && got.sameElements(ref),
      "full-probe search diverged after the grow-K re-fit")
    // the ADC family serves the grown index too: codes re-encoded/carried
    // coherently (pq carries, rpq re-encodes under the K=16 set), and at
    // full probe + unbounded rerank both reduce to the exact ranking
    assert(rows(IvfIndex.searchAdc(spark, dir, queries(8), 3, 16, rerank = 1000000))
      .sameElements(ref), "full-width searchAdc diverged after grow-K")
    assert(rows(IvfIndex.searchRadc(spark, dir, queries(8), 3, 16, rerank = 1000000))
      .sameElements(ref), "full-width searchRadc diverged after grow-K")
  }

  test("grow-K makes no rewrite when the clamped K cannot exceed the current K (ADVICE r12)") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_growk_clamp").toString
    IvfIndex.materialize(spark, embs, dir)
    val (maxBefore, _) = IvfIndex.cellStats(spark, dir)
    assert(maxBefore > 120, s"fixture expectation: hottest cell $maxBefore should breach 120")
    val segsBefore = graft.sources.Segments.segmentIds(spark, dir)
    val kBefore = IvfIndex.currentCentroids(spark, dir).size
    // budget breached, but maxK == currentK clamps the grown K to no
    // progress: the policy must SKIP the full rewrite (a cron'd loop would
    // otherwise pay an endless recluster), not shrink or churn the index
    val (reported, ran) = IvfIndex.maintainCellBudget(
      spark, dir, targetCellRows = 120, maxK = kBefore)
    assert(reported == maxBefore, "breach must still be reported")
    assert(!ran, "a no-progress breach must not trigger a re-fit")
    assert(graft.sources.Segments.segmentIds(spark, dir) == segsBefore,
      "no-progress maintenance must leave the segment set untouched")
    assert(IvfIndex.currentCentroids(spark, dir).size == kBefore,
      "no-progress maintenance must leave K untouched")
    // a maxK BELOW the current K must never shrink the index either
    val (_, ranShrink) = IvfIndex.maintainCellBudget(
      spark, dir, targetCellRows = 120, maxK = math.max(1, kBefore - 2))
    assert(!ranShrink && IvfIndex.currentCentroids(spark, dir).size == kBefore,
      "maintenance must never shrink K through the clamp")
  }

  test("an empty index build fails loudly on both materialize branches (ADVICE r12)") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_empty_stats").toString
    // a zero-row FIRST build writes no parquet at all — every later read
    // would die on schema inference, so the build itself must refuse
    val e0 = intercept[IllegalArgumentException](
      IvfIndex.materialize(spark, embs.limit(0), dir))
    assert(e0.getMessage.contains("zero rows"), s"got: ${e0.getMessage}")
    // the refusal is judged from the WRITTEN segment (no pre-write plan
    // execution — ADVICE r13) and must leave no dataless segment behind: a
    // leftover batch=0 carrying only meta would read as a live segment
    assert(!new java.io.File(dir, "batch=0").exists(),
      "empty build must delete its dataless segment whole")
    // the codebook-install branch aborts and unwinds its manifests (an
    // empty install would strand a trained manifest on an unreadable index)
    val cb = SimilarityOps.pqCodebook
    val e1 = intercept[IllegalArgumentException](
      IvfIndex.materialize(spark, embs.limit(0), dir,
        codebook = Some(cb), codebookRaw = Some(cb)))
    assert(e1.getMessage.contains("zero rows"), s"got: ${e1.getMessage}")
    assert(!new java.io.File(dir, "_PQ_CODEBOOK").exists(),
      "empty install must not leave a codebook manifest behind")
    assert(!new java.io.File(dir, "batch=0").exists(),
      "empty install must delete its dataless segment whole")
    // a non-empty build on the same path still succeeds afterwards — the
    // refusal left nothing a real build trips on
    IvfIndex.materialize(spark, embs.limit(5), dir)
    assert(IvfIndex.read(spark, dir).count() == 5)
    // re-materializing ONTO the now-populated index with an empty frame
    // refuses BEFORE the overwrite (review r14: the post-write check alone
    // would delete the existing batch=0's files first and then "refuse") —
    // the stored rows must survive the refusal
    val e2 = intercept[IllegalArgumentException](
      IvfIndex.materialize(spark, embs.limit(0), dir))
    assert(e2.getMessage.contains("zero rows"), e2.getMessage)
    assert(IvfIndex.read(spark, dir).count() == 5,
      "empty re-materialize must leave the existing index untouched")
  }

  test("consecutive searchAdc constructions run no footer-merge job on an all-coded index (r11 verdict #2)") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_footer_jobs").toString
    IvfIndex.materialize(spark, embs.filter(col("vec_id") % 2 === 0), dir)
    IvfIndex.appendBatch(spark, dir, embs.filter(col("vec_id") % 2 === 1), batchId = 1L)
    // warm: the first call pays the coded-marker sweep, codebook parse, and
    // the one listing/footer read per segment-set generation
    val qs = queries(5)
    IvfIndex.searchAdc(spark, dir, qs, k = 3, nprobe = 2)
    // Count Spark JOBS whose stages touch the INDEX read site while only
    // CONSTRUCTING search plans: the per-query all-footers mergeSchema read
    // (and the file-listing job) fire at DataFrame-construction time; the
    // memoized live relation must make repeat constructions job-free. Other
    // jobs (the query-batch table read, the barrier's AQE jobs) are ignored
    // by name filter. Listener delivery is async but IN ORDER, so once the
    // barrier job is observed every earlier job-start was delivered too.
    val total = new java.util.concurrent.atomic.AtomicInteger(0)
    val indexJobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        total.incrementAndGet()
        val stages = js.stageInfos.map(_.name).mkString(";")
        if (stages.contains("IvfIndex")) indexJobs.add(stages)
        ()
      }
    }
    def indexReadJobs(body: => Unit): Seq[String] = {
      total.set(0); indexJobs.clear()
      spark.sparkContext.addSparkListener(listener)
      try {
        body
        val before = total.get()
        spark.range(1).count() // barrier: delivered after any earlier job-starts
        val deadline = System.currentTimeMillis() + 30000
        while (total.get() <= before && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        assert(total.get() > before, "barrier job never observed")
        indexJobs.toArray(Array.empty[String]).toSeq
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val coded = indexReadJobs {
      (0 until 3).foreach(_ => IvfIndex.searchAdc(spark, dir, qs, k = 3, nprobe = 2))
      (0 until 3).foreach(_ => IvfIndex.searchRadc(spark, dir, qs, k = 3, nprobe = 2))
    }
    assert(coded.isEmpty,
      s"all-coded index: 6 consecutive search constructions must launch no " +
        s"index-read job (memoized relation + single-footer inference), saw: " +
        coded.mkString(" | "))
    // NEGATIVE CONTROL: strip one segment's _CODED marker — the index now
    // reads as mixed-generation and construction must pay the listing +
    // distributed footer-merge once more (the metaStamp moves with the
    // segment dir's mtime, so the memoized relation and coded sweep
    // re-evaluate without an explicit invalidate)
    assert(new java.io.File(s"$dir/batch=1", "_CODED").delete(),
      "fixture: failed to strip the coded marker")
    val legacy = indexReadJobs {
      IvfIndex.searchAdc(spark, dir, qs, k = 3, nprobe = 2)
    }
    assert(legacy.nonEmpty,
      "legacy-mixed index must pay an index-read (footer-merge) job at construction")
  }

  test("pushed-rerank ADC searches equal the plain tail bit-for-bit and push the id set into the scan (r13 #3)") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_pushed").toString
    IvfIndex.materialize(spark, embs, dir)
    val qs = queries(5)
    val plainAdc = rows(IvfIndex.searchAdc(spark, dir, qs, k = 3, nprobe = 2))
    val pushedAdc = rows(IvfIndex.searchAdc(spark, dir, qs, k = 3, nprobe = 2,
      pushRerankIds = true))
    assert(plainAdc.nonEmpty && pushedAdc.sameElements(plainAdc),
      "pushed ADC rerank diverged from the plain tail")
    val plainRadc = rows(IvfIndex.searchRadc(spark, dir, qs, k = 3, nprobe = 2))
    val pushedRadc = rows(IvfIndex.searchRadc(spark, dir, qs, k = 3, nprobe = 2,
      pushRerankIds = true))
    assert(plainRadc.nonEmpty && pushedRadc.sameElements(plainRadc),
      "pushed RADC rerank diverged from the plain tail")
    // the rerank scan must carry the candidate ids as a DATA filter (pushed
    // to parquet) and the pooled cells as a STATIC partition filter — the
    // late-materialization shape: nothing outside the pooled candidates'
    // pages needs a float decode
    val plan = IvfIndex.searchAdc(spark, dir, qs, k = 3, nprobe = 2,
      pushRerankIds = true).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(vec_id"),
      s"the pooled vec_ids must reach the rerank scan as a parquet filter:\n$plan")
    assert(plan.split("\n").exists(l =>
        l.contains("PartitionFilters: [centroid_id") && l.contains(" IN (")),
      s"the pooled cells must prune the rerank scan statically:\n$plan")
    assert(!plan.contains("dynamicpruning"),
      s"pushed plan needs no DPP — the partition filter is static:\n$plan")
  }

  test("pushed-rerank pool past the id budget falls back to the plain DPP tail (ADVICE r14)") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_pushed_cap").toString
    IvfIndex.materialize(spark, embs, dir)
    // every vector queries with rerank = corpus size: the pool is the whole
    // per-query candidate set (~nprobe/K of the corpus × 500 queries), far
    // past PushedPoolIdCap — the collect must stay bounded (limit-guarded)
    // and the tail must degrade to the plain rerank, bit-identically
    val qs = queries(500)
    val nCand = IvfIndex.candidateRows(spark, dir, qs, 2)
    assert(nCand > IvfIndex.PushedPoolIdCap,
      s"fixture must overflow the pool budget: $nCand candidates vs cap ${IvfIndex.PushedPoolIdCap}")
    val plain = rows(IvfIndex.searchAdc(spark, dir, qs, k = 3, nprobe = 2, rerank = 500))
    val fell = IvfIndex.searchAdc(spark, dir, qs, k = 3, nprobe = 2, rerank = 500,
      pushRerankIds = true)
    assert(rows(fell).sameElements(plain),
      "over-budget pushed rerank must degrade to the plain tail's exact results")
    val plan = fell.queryExecution.executedPlan.toString
    assert(!plan.contains("PushedFilters: [In(vec_id"),
      s"an over-budget pool must NOT inflate the plan with pushed id literals:\n$plan")
  }

  test("in-stream drift policy: a shifted batch re-fits in-stream with a ledger row; a stable stream never rewrites") {
    import java.nio.file.Files
    // --- stable: the same-distribution second half arrives — drift stays
    // under the threshold, no rewrite, no ledger
    val okBase = Files.createTempDirectory("ivf_drift_ok").toString
    IvfIndex.materialize(spark, embs.filter(col("vec_id") % 2 === 0), s"$okBase/idx")
    docsToSrc(embs.filter(col("vec_id") % 2 === 1), s"$okBase/src")
    val schema = spark.read.parquet(s"$okBase/src").schema
    val kSeed = IvfIndex.currentCentroids(spark, s"$okBase/idx").size
    val qOk = IvfIndex.streamingAbsorb(
      spark.readStream.schema(schema).parquet(s"$okBase/src"),
      s"$okBase/idx", s"$okBase/out", s"$okBase/ckpt",
      driftRefitThreshold = Some(1.5),
      driftLedgerOut = Some(s"$okBase/driftledger")).start()
    qOk.processAllAvailable(); qOk.stop()
    assert(!new java.io.File(s"$okBase/driftledger").exists(),
      "a stable stream must emit no drift-refit ledger rows")
    // --- drifted: a +3.0-shifted batch lands; the in-stream policy must
    // re-fit (retrain path) right there and record it
    val base = Files.createTempDirectory("ivf_drift_auto").toString
    IvfIndex.materialize(spark, embs, s"$base/idx")
    docsToSrc(embs.select(
      (col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), x => (x + lit(3.0)).cast("float")).as("embedding")),
      s"$base/src")
    def start() = IvfIndex.streamingAbsorb(
      spark.readStream.schema(schema).parquet(s"$base/src"),
      s"$base/idx", s"$base/out", s"$base/ckpt",
      driftRefitThreshold = Some(1.5),
      driftLedgerOut = Some(s"$base/driftledger")).start()
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    val led = spark.read.option("basePath", s"$base/driftledger")
      .parquet(s"$base/driftledger").drop("batch").collect()
    assert(led.length == 1, s"the shifted batch must trip exactly one re-fit, got ${led.length}")
    assert(led.head.getAs[Double]("drift_ratio") >= 1.5,
      "the ledger must record the tripping ratio")
    // the re-fit healed the drift: the post-stream ratio sits under the gate
    val healed = IvfIndex.driftRatio(spark, s"$base/idx")
    assert(healed < 1.5, s"in-stream re-fit must restore the fit, ratio $healed")
    // every absorbed row survived the mid-stream rewrite
    assert(IvfIndex.read(spark, s"$base/idx").count() == 2 * embs.count())
    assert(kSeed == SimilarityOps.NumCentroids) // fixture sanity
  }

  test("in-stream grow-K policy: a healthy stream never rewrites; a breach re-fits exactly once with a ledger row") {
    import java.nio.file.Files
    // --- healthy: an unreachable budget — the policy's per-batch check runs
    // and nothing else happens: K stays at the seed, no ledger dir appears
    val okBase = Files.createTempDirectory("ivf_auto_ok").toString
    IvfIndex.materialize(spark, embs.filter(col("vec_id") % 2 === 0), s"$okBase/idx")
    docsToSrc(embs.filter(col("vec_id") % 2 === 1), s"$okBase/src")
    val schema = spark.read.parquet(s"$okBase/src").schema
    val qOk = IvfIndex.streamingAbsorb(
      spark.readStream.schema(schema).parquet(s"$okBase/src"),
      s"$okBase/idx", s"$okBase/out", s"$okBase/ckpt",
      cellBudget = Some(1000000L), maintainCooldownBatches = 1,
      maintainLedgerOut = Some(s"$okBase/ledger")).start()
    qOk.processAllAvailable(); qOk.stop()
    assert(IvfIndex.currentCentroids(spark, s"$okBase/idx").size ==
      SimilarityOps.NumCentroids, "healthy stream must never re-fit")
    assert(!new java.io.File(s"$okBase/ledger").exists(),
      "healthy stream must emit no maintenance ledger rows")
    // --- breaching: a budget the bootstrap corpus already violates — the
    // FIRST absorbed batch triggers the grow-K re-fit in-stream; the default
    // cooldown then spaces any further attempt past this feed, so exactly
    // one ledger row exists and K has grown
    val base = Files.createTempDirectory("ivf_auto_grow").toString
    IvfIndex.materialize(spark, embs.filter(col("vec_id") % 4 >= 2), s"$base/idx")
    val (maxCell0, total0) = IvfIndex.cellStats(spark, s"$base/idx")
    val target = maxCell0 / 2
    assert(target >= 1, s"fixture: bootstrap hottest cell too small ($maxCell0)")
    docsToSrc(embs.filter(col("vec_id") % 4 === 0), s"$base/src")
    def start() = IvfIndex.streamingAbsorb(
      spark.readStream.schema(schema).parquet(s"$base/src"),
      s"$base/idx", s"$base/out", s"$base/ckpt",
      cellBudget = Some(target),
      maintainLedgerOut = Some(s"$base/ledger")).start()
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // a second batch lands and absorbs under the grown index — still inside
    // the cooldown window, so no second rewrite regardless of occupancy
    docsToSrc(embs.filter(col("vec_id") % 4 === 1), s"$base/src")
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val ledger = spark.read.option("basePath", s"$base/ledger")
      .parquet(s"$base/ledger").drop("batch").collect()
    assert(ledger.length == 1,
      s"exactly one re-fit must run (cooldown spaces retries), got ${ledger.length}")
    val row = ledger.head
    assert(row.getAs[Long]("max_cell_before") > target,
      "ledger must record the breaching occupancy")
    assert(row.getAs[Int]("k_after") > row.getAs[Int]("k_before"),
      "the re-fit must GROW K")
    assert(IvfIndex.currentCentroids(spark, s"$base/idx").size ==
      row.getAs[Int]("k_after"), "index K must match the ledger's k_after")
    // every absorbed row survived the mid-stream rewrite and the later absorb
    val n = IvfIndex.read(spark, s"$base/idx").count()
    assert(n == embs.count(), s"rows lost across the in-stream re-fit: $n")
    // the grown index still answers: each query gets its full k
    val res = IvfIndex.search(spark, s"$base/idx", queries(5), k = 3, nprobe = 2)
      .groupBy("qid").count().collect()
    assert(res.nonEmpty && res.forall(_.getLong(1) == 3L))
  }
}
