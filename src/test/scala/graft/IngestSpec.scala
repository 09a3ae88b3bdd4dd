package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Ingest, RollupTable}
import graft.operators.Grid

class IngestSpec extends AnyFunSuite with SharedSpark {

  private val fixtures = getClass.getResource("/fixtures").getPath

  test("REDD loader: id scheme, labels, millis timestamps") {
    val df = Ingest.loadRedd(spark, s"$fixtures/REDD").cache()
    assert(df.count() == 4 + 3 + 2 + 2) // channel files' row counts
    val r = df.filter(col("appliance_id") === "1_1_1_3").orderBy("timestamp").collect()
    assert(r.length == 3)
    assert(r.head.getAs[String]("house_id") == "1_1_1")
    assert(r.head.getAs[String]("appliance_name") == "oven")
    assert(r.head.getAs[Long]("timestamp") == 1303132964000L)
    assert(r(1).getAs[Double]("power") == 1850.25)
    // house 2 channel 2 labeled dishwasher
    val d = df.filter(col("appliance_id") === "1_1_2_2").select("appliance_name").distinct().collect()
    assert(d.map(_.getString(0)).toSeq == Seq("dishwasher"))
  }

  test("REDD loader: channel without a label falls back to unknown") {
    // house_1 has labels 1-4 but only channels 1,3 exist; fabricate by
    // checking the join is left: all rows labeled (1,3 both labeled here)
    val df = Ingest.loadRedd(spark, s"$fixtures/REDD")
    assert(df.filter(col("appliance_name").isNull).count() == 0)
  }

  test("GREEND loader: unpivot, header skip, zero coercion, unknown fallback") {
    val df = Ingest.loadGreend(spark, s"$fixtures/GREEND").cache()
    // building0: 4 data rows (1 stray header dropped, 0-byte file skipped)
    // × 4 channels + building1: 1 row × 2 channels
    assert(df.count() == 4 * 4 + 1 * 2)
    // NULL cell coerced to 0.0
    val nullCell = df.filter(
      col("appliance_id") === "2_1_0_2" && col("timestamp") === 1382392496204L)
    assert(nullCell.select("power").head().getDouble(0) == 0.0)
    // 4th column of building0 has no label → unknown
    val unk = df.filter(col("appliance_id") === "2_1_0_3")
      .select("appliance_name").distinct().collect()
    assert(unk.map(_.getString(0)).toSeq == Seq("unknown"))
    // labeled column
    val radio = df.filter(col("appliance_id") === "2_1_0_2")
      .select("appliance_name").distinct().head().getString(0)
    assert(radio == "radio")
    // building1 house id
    assert(df.filter(col("house_id") === "2_1_1").count() == 2)
  }

  test("REDD ∥ GREEND union normalizes to one schema with distinct tags") {
    val redd = Ingest.loadRedd(spark, s"$fixtures/REDD")
    val greend = Ingest.loadGreend(spark, s"$fixtures/GREEND")
    val all = redd.unionByName(greend)
    val tags = all.select(substring(col("house_id"), 1, 1)).distinct()
      .collect().map(_.getString(0)).toSet
    assert(tags == Set("1", "2"))
    assert(all.count() == redd.count() + greend.count())
  }

  test("perturbation stays within the reference's 0.8-1.2 band and is seeded") {
    val df = Ingest.loadRedd(spark, s"$fixtures/REDD").filter(col("power") > 0)
    val base = df.select("appliance_id", "timestamp", "power").cache()
    val p1 = Ingest.perturb(base, seed = 7).select("power").collect().map(_.getDouble(0))
    val p2 = Ingest.perturb(base, seed = 7).select("power").collect().map(_.getDouble(0))
    val orig = base.select("power").collect().map(_.getDouble(0))
    assert(p1.sameElements(p2)) // deterministic under a fixed seed
    p1.zip(orig).foreach { case (p, o) =>
      assert(p >= o * 0.8 - 1e-9 && p <= o * 1.2 + 1e-9)
    }
  }

  test("replay schedule compresses event time by the playback factor") {
    val df = Ingest.loadRedd(spark, s"$fixtures/REDD")
    val sched = Ingest.replaySchedule(df, playbackSpeed = 3, startWallMillis = 1000L)
    val rows = sched.select("timestamp", "emit_at_ms").orderBy("timestamp").collect()
    val t0 = rows.head.getLong(0)
    rows.foreach { r =>
      assert(r.getLong(1) == 1000L + (r.getLong(0) - t0) / 3)
    }
    // day-shifted instance replays one day later in event time
    val shifted = Ingest.replaySchedule(df, playbackSpeed = 3, instanceIdx = 1, startWallMillis = 1000L)
      .select("emit_at_ms").orderBy("emit_at_ms").head().getLong(0)
    assert(shifted == 1000L + 86400000L / 3)
  }

  test("materialized rollup serves history identically to the raw-path query") {
    val dir = java.nio.file.Files.createTempDirectory("rollup").toString
    RollupTable.materialize(spark, sfDir, dir)
    val fromRollup = RollupTable.historyFromRollup(spark, dir)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getDouble(4)))
    val fromRaw = Grid.historyAvg(spark, sfDir)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getDouble(4)))
    assert(fromRollup.sameElements(fromRaw))
  }

  test("rollup partition layout prunes to the queried dates") {
    val dir = java.nio.file.Files.createTempDirectory("rollup2").toString
    RollupTable.materialize(spark, sfDir, dir)
    val allFiles = RollupTable.read(spark, dir).inputFiles.length
    val pruned = RollupTable.read(spark, dir).filter(col("date") === "2024-01-03")
    assert(pruned.count() > 0)
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    // the date predicate must reach the scan as a partition filter...
    assert(scan.metadata("PartitionFilters").contains("2024-01-03"))
    // ...and the partition subtree holds strictly fewer files than the table
    val datePartFiles = new java.io.File(dir).listFiles()
      .filter(_.getName == "date=2024-01-03")
      .flatMap(d => d.listFiles().flatMap(_.listFiles()))
      .count(_.getName.endsWith(".parquet"))
    assert(datePartFiles > 0 && datePartFiles < allFiles)
  }
  test("incremental rollup replaces only the new hour segments, idempotently") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("rollup_inc").toString
    RollupTable.materialize(spark, sfDir, dir)
    val full = RollupTable.read(spark, dir)
    val hours = full.select((col("epoch_s") - col("epoch_s") % 3600).as("h"))
      .distinct().collect().map(_.getLong(0)).sorted
    assert(hours.length >= 2, "need at least two hour segments for the test")
    val since = hours.last // rebuild only the final hour
    def listing(): Map[String, Long] =
      Files.walk(Paths.get(dir)).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    def content(): Array[(Long, String, Long)] =
      RollupTable.read(spark, dir)
        .select(col("epoch_s"), col("appliance_id"), col("cnt"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    val before = listing()
    val fullContent = content()
    Thread.sleep(1100) // mtime granularity
    RollupTable.materializeIncrement(spark, sfDir, dir, since)
    val after = listing()
    // earlier segments: identical files, untouched mtimes
    before.foreach { case (p, t) =>
      val isFinalHour = inFinalHour(p, since)
      if (!isFinalHour) assert(after.get(p).contains(t), s"pre-boundary file rewritten: $p")
    }
    // table content unchanged by the rebuild (same input data)
    assert(content().sameElements(fullContent), "increment changed query results")
    // idempotent: a second identical increment leaves content identical again
    RollupTable.materializeIncrement(spark, sfDir, dir, since)
    assert(content().sameElements(fullContent), "re-run not idempotent")
    // the increment must refuse a non-hour-aligned boundary
    intercept[IllegalArgumentException] {
      RollupTable.materializeIncrement(spark, sfDir, dir, since + 1)
    }
  }

  test("an unreadable 1 s store fails the increment instead of upserting into it") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("rollup_corrupt").toString
    RollupTable.materialize(spark, sfDir, dir)
    val since = RollupTable.read(spark, dir)
      .agg(max(col("epoch_s") - col("epoch_s") % 3600)).head().getLong(0)
    // schema inference reads one sampled footer, so every data file is made
    // unreadable: the drift check then cannot tell what the store holds
    val junk = "not a parquet file"
    val files = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toList
    files.foreach(f => Files.write(f, junk.getBytes))
    intercept[org.apache.spark.SparkException] {
      RollupTable.materializeIncrement(spark, sfDir, dir, since)
    }
    // no partition was upserted past the damage: the same files, untouched
    val after = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toList
    assert(after.sortBy(_.toString) == files.sortBy(_.toString))
    files.foreach(f => assert(new String(Files.readAllBytes(f)) == junk, f))
  }

  test("incremental coarse-lattice cascade replaces only the new hour segments") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val fine = Files.createTempDirectory("rollup_casc_fine").toString
    val coarse = Files.createTempDirectory("rollup_casc_60s").toString
    RollupTable.materialize(spark, sfDir, fine)
    RollupTable.materializeCoarse(spark, fine, coarse, 60L)
    val hours = RollupTable.read(spark, fine)
      .select((col("epoch_s") - col("epoch_s") % 3600).as("h"))
      .distinct().collect().map(_.getLong(0)).sorted
    assert(hours.length >= 2, "need at least two hour segments for the test")
    val since = hours.last
    def listing(): Map[String, Long] =
      Files.walk(Paths.get(coarse)).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    def content(): Array[(Long, String, Long)] =
      RollupTable.read(spark, coarse)
        .select(col("epoch_s"), col("appliance_id"), col("cnt"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    val before = listing()
    val full = content()
    Thread.sleep(1100) // mtime granularity
    // the 1 s-side refresh, then the one-level cascade
    RollupTable.materializeIncrement(spark, sfDir, fine, since)
    RollupTable.materializeCoarseIncrement(spark, fine, coarse, 60L, since)
    val after = listing()
    before.foreach { case (p, t) =>
      if (!inFinalHour(p, since))
        assert(after.get(p).contains(t), s"pre-boundary coarse file rewritten: $p")
    }
    assert(content().sameElements(full), "cascade changed query results")
    // idempotent re-run
    RollupTable.materializeCoarseIncrement(spark, fine, coarse, 60L, since)
    assert(content().sameElements(full), "re-run not idempotent")
    intercept[IllegalArgumentException] {
      RollupTable.materializeCoarseIncrement(spark, fine, coarse, 60L, since + 7)
    }
    intercept[IllegalArgumentException] {
      RollupTable.materializeCoarseIncrement(spark, fine, coarse, 7L, since)
    }
  }

  private def inFinalHour(path: String, since: Long): Boolean = {
    val date = java.time.Instant.ofEpochSecond(since)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
    val hour = (since / 3600) % 24
    path.contains(s"date=$date") && path.contains(s"hour=$hour")
  }

  test("segment compaction bounds files per hour and preserves every query result") {
    import java.sql.Timestamp
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("seg_compact").toString
    // 8 micro-batch segments across two hours — the small-file accretion a
    // long-running stream produces (one dir, >=1 file per batch)
    (0 until 8).foreach { b =>
      val rows = (0 until 4).map { i =>
        (new Timestamp((b * 3600L / 4 + i) * 1000L),
          s"1_1_${i % 2}", s"1_1_${i % 2}_$i", "lamp", 2L, 3.5 * (b + 1))
      }
      val batch = rows.toDF("bucket", "house_id", "appliance_id",
        "appliance_name", "cnt", "sum_power")
      RollupTable.writeSegment(batch, dir, b.toLong)
    }
    def files(): Array[java.io.File] = {
      def walk(f: java.io.File): Array[java.io.File] =
        if (f.isDirectory) f.listFiles().flatMap(walk) else Array(f)
      walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
    }
    def snapshot(): Set[(Long, String, String, Long, Double)] =
      RollupTable.readSegments(spark, dir)
        .select("bucket", "house_id", "appliance_id", "cnt", "sum_power")
        .collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getString(2),
          r.getLong(3), r.getDouble(4))).toSet
    val before = snapshot()
    val filesBefore = files().length
    val hourDirs = RollupTable.readSegments(spark, dir)
      .select("date", "hour").distinct().count()
    // quiesced table (no stream attached): fold everything, tail included
    val absorbed = RollupTable.compactSegments(spark, dir, protectLatest = false)
    assert(absorbed == 8, s"expected 8 segments absorbed, got $absorbed")
    // one segment left, one file per (date, hour) directory
    val segDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("batch="))
    assert(segDirs.length == 1 && segDirs.head.getName == "batch=7")
    val filesAfter = files().length
    assert(filesAfter == hourDirs,
      s"expected $hourDirs files (one per hour dir), got $filesAfter (was $filesBefore)")
    assert(filesAfter < filesBefore)
    assert(snapshot() == before, "compaction changed query results")
    // idempotent: a second run has one segment and does nothing
    assert(RollupTable.compactSegments(spark, dir, protectLatest = false) == 0)
    assert(snapshot() == before)
  }

  test("jsonl corpus loader quarantines malformed lines, ingests the rest") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("jsonl")
    Files.writeString(dir.resolve("part0.jsonl"),
      """{"doc_id": 1, "text": "alpha beta", "lang": "en", "source": "s0"}
        |{"doc_id": 2, "text": "gamma", "lang": "de", "source": "s1"}
        |this line is not json at all
        |{"truncated": 
        |{"text": "no id field", "lang": "en", "source": "s2"}
        |""".stripMargin)
    val (clean, quarantine) = Ingest.loadJsonlCorpus(spark, dir.toString + "/*.jsonl")
    try {
      val rows = clean.orderBy("doc_id").collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
      assert(rows.head.getString(1) == "alpha beta")
      assert(clean.columns.toSeq == Seq("doc_id", "text", "lang", "source"))
      // 2 unparseable lines + 1 schema-valid-but-idless line
      assert(quarantine.count() == 3)
    } finally clean.unpersist()
  }

  test("maintaining an older-generation rollup store rebuilds it whole (schema drift)") {
    import java.nio.file.Files
    // simulate a store materialized before the cnt_duty measure existed:
    // same layout, one additive column missing
    val dir = Files.createTempDirectory("rollup_drift").toString
    RollupTable.materialize(spark, sfDir, dir)
    val old = RollupTable.read(spark, dir).drop("cnt_duty").localCheckpoint()
    deleteRec(new java.io.File(dir))
    old.write.mode("overwrite").partitionBy("date", "hour").parquet(dir)
    assert(!RollupTable.read(spark, dir).columns.contains("cnt_duty"))
    // an hour-aligned increment against the drifted store must NOT leave a
    // mixed-schema table (old segments would read cnt_duty as NULL and
    // every duty tile served from them would silently undercount) — it
    // rebuilds the whole store at the current schema
    val anyHour = RollupTable.read(spark, dir)
      .agg(org.apache.spark.sql.functions.max(
        (col("epoch_s") - col("epoch_s") % 3600))).head().getLong(0)
    RollupTable.materializeIncrement(spark, sfDir, dir, anyHour)
    val healed = RollupTable.read(spark, dir)
    assert(healed.columns.contains("cnt_duty"), "store must heal to the full measure set")
    // no NULL cnt_duty anywhere — including segments BEFORE the boundary
    assert(healed.filter(col("cnt_duty").isNull).count() == 0,
      "pre-boundary segments must carry the new measure too")
    // and the values equal a fresh materialization
    val fresh = Files.createTempDirectory("rollup_fresh").toString
    RollupTable.materialize(spark, sfDir, fresh)
    def rows(p: String) = RollupTable.read(spark, p)
      .select("epoch_s", "appliance_id", "appliance_name", "cnt", "cnt_duty")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(rows(dir).sameElements(rows(fresh)))
    // the coarse level heals the same way
    val coarseDir = Files.createTempDirectory("coarse_drift").toString
    RollupTable.materializeCoarse(spark, dir, coarseDir, 60L)
    val oldCoarse = RollupTable.read(spark, coarseDir).drop("cnt_duty").localCheckpoint()
    deleteRec(new java.io.File(coarseDir))
    oldCoarse.write.mode("overwrite").partitionBy("date", "hour").parquet(coarseDir)
    RollupTable.materializeCoarseIncrement(spark, dir, coarseDir, 60L, anyHour)
    val healedCoarse = RollupTable.read(spark, coarseDir)
    assert(healedCoarse.columns.contains("cnt_duty") &&
      healedCoarse.filter(col("cnt_duty").isNull).count() == 0,
      "coarse store must heal whole, not upsert into a mixed schema")
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRec)
    f.delete(); ()
  }

}
