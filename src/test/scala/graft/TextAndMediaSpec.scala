package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.text.TextOps
import graft.multimodal.{MediaCodec, MediaOps}

class TextAndMediaSpec extends AnyFunSuite with SharedSpark {

  test("token stats agree with a driver-side recount on a sample") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .limit(20).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val stats = TextOps.tokenStats(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("doc_id") < 20)
      .collect()
    stats.foreach { r =>
      val text = docs(r.getLong(0))
      assert(r.getInt(1) == text.split(" ").length)
      assert(r.getInt(2) == text.split(" ").distinct.length)
      assert(r.getInt(3) == text.length)
    }
  }

  test("tfidf top terms match a driver-side recompute on sample docs") {
    val rows = TextOps.tfidfTopTerms(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // ranks are contiguous from 1, at most k per doc
    rows.groupBy(_.getLong(0)).foreach { case (id, rs) =>
      val ranks = rs.map(_.getInt(1)).sorted
      assert(ranks.sameElements(1 to ranks.length) && ranks.length <= 3, s"doc $id ranks: ${ranks.toSeq}")
    }
    // recompute scores for a few docs: rank order must match tf*N/df desc, term asc
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val n = docs.size.toLong
    val dfMap = docs.values.flatMap(_.split(" ").distinct).groupBy(identity)
      .map { case (t, occ) => t -> occ.size.toLong }
    docs.take(5).foreach { case (id, text) =>
      val tf = text.split(" ").groupBy(identity).map { case (t, o) => t -> o.length.toLong }
      val expected = tf.toSeq
        .map { case (t, f) => (t, f * n / dfMap(t).toDouble) }
        .sortBy { case (t, s) => (-s, t) }
        .take(3).map(_._1)
      val got = rows.filter(_.getLong(0) == id).sortBy(_.getInt(1)).map(_.getString(2)).toSeq
      assert(got == expected, s"doc $id: got $got expected $expected")
    }
  }

  test("dup ratio by source is consistent and bounded") {
    val rows = TextOps.dupRatioBySource(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), s"unique > total: $r")
      val ppm = r.getLong(3)
      assert(ppm >= 0 && ppm < 1000000, s"dup_ppm out of range: $r")
    }
    val total = Tables.documents(spark, sfDir).count()
    assert(rows.map(_.getLong(1)).sum == total)
  }

  test("quality score stays in (0, 1]") {
    TextOps.qualityScore(spark, sfDir).collect().foreach { r =>
      val q = r.getDouble(4)
      assert(q > 0.0 && q <= 1.0)
    }
  }

  test("lang id is deterministic and total") {
    val n = Tables.documents(spark, sfDir).count()
    val preds = TextOps.langId(spark, sfDir).collect()
    assert(preds.length == n)
    val langs = TextOps.LangMarkers.map(_._1).toSet
    preds.foreach(r => assert(langs.contains(r.getString(2))))
  }

  test("bag fingerprint is word-order insensitive, content fingerprint is not") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, "alpha beta gamma"),
      (2L, "gamma beta alpha"),
      (3L, "alpha beta delta")).toDF("doc_id", "text")
    df.createOrReplaceTempView("tmp_docs")
    val fps = df.select(
      col("doc_id"),
      md5(col("text")).as("content_fp"),
      md5(array_join(array_sort(array_distinct(split(col("text"), " "))), " ")).as("bag_fp"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(fps(1L)._2 == fps(2L)._2)
    assert(fps(1L)._1 != fps(2L)._1)
    assert(fps(1L)._2 != fps(3L)._2)
  }

  test("bpe merge step equals a driver-side weighted pair count") {
    val texts = Tables.documents(spark, sfDir).select("text")
      .collect().map(_.getString(0))
    val wordFreq = texts.flatMap(_.split(" ")).filter(_.length >= 2)
      .groupBy(identity).view.mapValues(_.length.toLong)
    val pairCounts = scala.collection.mutable.Map.empty[String, Long]
    wordFreq.foreach { case (w, f) =>
      w.sliding(2).foreach(p => pairCounts(p) = pairCounts.getOrElse(p, 0L) + f)
    }
    val expected = pairCounts.toSeq.sortBy { case (p, c) => (-c, p) }.take(20)
    val got = graft.text.TextOps.bpeMergeStep(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got == expected)
  }

  test("token rarity: mean df is the df-weighted token average, bounded by corpus size") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val df = docs.flatMap { case (id, t) => t.split(" ").distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val nDocs = docs.length
    val rows = graft.text.TextOps.tokenRarity(spark, sfDir).collect()
    assert(rows.length == nDocs)
    rows.take(25).foreach { r =>
      val text = docs.toMap.apply(r.getLong(0))
      val toks = text.split(" ")
      val sumDf = toks.map(df).sum
      assert(r.getLong(1) == toks.length)
      assert(r.getLong(2) == sumDf)
      assert(r.getDouble(3) == sumDf.toDouble / toks.length)
      assert(r.getDouble(3) <= nDocs.toDouble)
    }
  }

  test("media decode stage is deterministic and schema-complete") {
    val a = MediaOps.mediaFeatures(spark, sfDir).collect()
    val b = MediaOps.mediaFeatures(spark, sfDir).collect()
    assert(a.sameElements(b))
    assert(a.nonEmpty)
    a.foreach { r =>
      val (w, h, dur) = (r.getInt(3), r.getInt(4), r.getDouble(5))
      r.getString(1) match {
        case "image" =>
          assert(w >= 16 && w < 64 && h >= 16 && h < 48 && dur == 0.0, s"$r")
        case "audio" =>
          assert(w == 0 && h == 0 && dur > 0 && dur <= 2.4, s"$r")
        case "video" =>
          assert(w % 2 == 0 && h % 2 == 0 && w >= 16 && h >= 16, s"$r")
          assert(dur > 0 && dur <= 0.6 && math.abs(dur * 10 - math.round(dur * 10)) < 1e-9, s"$r")
      }
    }
  }

  test("resize plan fits the long side exactly to the box, preserving aspect") {
    MediaOps.mediaResize(spark, sfDir).collect().foreach { r =>
      val (w, h, ow, oh) = (r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))
      assert(math.max(ow, oh) == MediaOps.ResizeBox, s"long side must hit the box: $r")
      assert(ow <= MediaOps.ResizeBox && oh <= MediaOps.ResizeBox)
      // integer-floor aspect preservation: out ratio within one unit step
      assert(math.abs(ow.toDouble / oh - w.toDouble / h) <=
        (1.0 / oh) * (w.toDouble / h + 1), s"aspect drift: $r")
      assert(r.getInt(6) == ow * oh * 3)
    }
  }

  test("frame sampling keeps at most MaxFrames stride-spaced in-range frames per video") {
    val rows = MediaOps.frameSample(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (id, fs) =>
      val n = fs.head._2
      assert(fs.length <= MediaOps.MaxFrames, s"doc $id sampled ${fs.length}")
      val idxs = fs.map(_._3).sorted
      assert(idxs.head == 0 && idxs.last < n, s"doc $id range")
      val stride = (n + MediaOps.MaxFrames - 1) / MediaOps.MaxFrames
      assert(idxs.toSeq == (0 until n by stride).toSeq, s"doc $id stride")
    }
    // only video rows (doc_id % 3 == 2) produce frames
    assert(rows.forall(_._1 % 3 == 2))
  }

  test("audio segments tile each clip exactly: full coverage, pad only on the last") {
    import graft.multimodal.MediaOps
    val rows = MediaOps.audioSegments(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.foreach { case (id, segs) =>
      val ordered = segs.sortBy(_.getInt(1))
      // contiguous indices and 30 s starts
      ordered.zipWithIndex.foreach { case (r, i) =>
        assert(r.getInt(1) == i && r.getInt(2) == i * MediaOps.SegmentSec)
      }
      // every segment but the last is full; padding appears only on the last
      ordered.init.foreach { r =>
        assert(r.getLong(3) == MediaOps.AudioRate.toLong * MediaOps.SegmentSec && r.getLong(4) == 0L,
          s"doc $id: non-final segment padded: $r")
      }
      val last = ordered.last
      assert(last.getLong(3) + last.getLong(4) == MediaOps.AudioRate.toLong * MediaOps.SegmentSec)
      assert(last.getLong(3) >= 1)
    }
  }

  test("media table partitioning survives the decode stage (narrow map, no shuffle)") {
    val media = MediaOps.encodedMediaTable(spark, sfDir)
    val decoded = MediaOps.decodeFeatures(media)
    assert(decoded.rdd.getNumPartitions == media.rdd.getNumPartitions)
  }

  test("media codecs round-trip and the decoder rejects tampered bytes (VERDICT r5 #9)") {
    import graft.multimodal.MediaCodec
    // round-trips: every feature is recovered from the bytes alone
    val ppm = MediaCodec.encodePpm(33, 21, seed = 7L)
    assert(MediaCodec.decode(ppm) == MediaCodec.Decoded(33, 21, 0.0))
    val wav = MediaCodec.encodeWav(12000, seed = 7L)
    assert(MediaCodec.decode(wav) == MediaCodec.Decoded(0, 0, 1.5))
    val y4m = MediaCodec.encodeY4m(32, 24, 4, seed = 7L)
    assert(MediaCodec.decode(y4m) == MediaCodec.Decoded(32, 24, 0.4))
    // strictness: a parser that ignored the bytes would accept all of these
    assert(intercept[IllegalArgumentException](
      MediaCodec.decode(ppm.dropRight(1))).getMessage.contains("PPM"))
    val badRiff = wav.clone(); badRiff(4) = (badRiff(4) + 1).toByte // RIFF size field
    assert(intercept[IllegalArgumentException](
      MediaCodec.decode(badRiff)).getMessage.contains("WAV"))
    val badFrame = y4m.clone()
    val frameAt = new String(y4m, "ISO-8859-1").indexOf("FRAME")
    badFrame(frameAt) = 'G'.toByte
    assert(intercept[IllegalArgumentException](
      MediaCodec.decode(badFrame)).getMessage.contains("Y4M"))
    assert(intercept[IllegalArgumentException](
      MediaCodec.decode("not media".getBytes)).getMessage.contains("unrecognized"))
    // and the pipeline's features equal a direct parse of the same payloads
    val enc = MediaOps.encodedMediaTable(spark, sfDir).collect()
    assert(enc.length > 0)
    val feats = MediaOps.mediaFeatures(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(3), r.getInt(4), r.getDouble(5)))).toMap
    enc.take(50).foreach { r =>
      val d = MediaCodec.decode(r.content)
      assert(feats(r.doc_id) == ((d.width, d.height, d.durationS)), s"doc ${r.doc_id}")
    }
  }
  test("count-min sketch never under-counts and is exact-consistent") {
    val rows = graft.text.TextOps.cmsTopK(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) >= 0L, s"CMS under-counted: $r")
      assert(r.getLong(2) == r.getLong(1) + r.getLong(3))
    }
    // exact column really is the exact grouped count
    import org.apache.spark.sql.functions.{col, explode, split}
    val exact = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("t"))
      .groupBy("t").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(exact(r.getString(0)) == r.getLong(1)))
  }

  test("streaming model scoring equals the batch distillation and replays idempotently") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("qc_stream").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    val m = graft.text.QualityClassifier.train(spark, sfDir)
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    docs.filter(col("doc_id") < 250).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    def start() = graft.text.QualityClassifier.scoringSink(
      spark.readStream.schema(schema).parquet(src), m, out, ckpt).start()
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // second file lands while the query is down; restart resumes from ckpt
    docs.filter(col("doc_id") >= 250).write.mode("append").parquet(src)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val got = spark.read.option("basePath", out).parquet(out)
      .select("doc_id", "score_ppm", "pred_hi").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    val want = graft.text.QualityClassifier.distillAndScore(spark, sfDir)
      .select("doc_id", "score_ppm", "pred_hi").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(got == want, "streamed scores diverged from the batch distillation")
  }

  test("iterated BPE training matches a driver-side greedy reference merge-for-merge") {
    val got = graft.text.TextOps.bpeTrain(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getString(2), r.getLong(3)))
    assert(got.length == graft.text.TextOps.BpeTrainIters)
    // reference: single-threaded greedy BPE over the same word-frequency table
    import org.apache.spark.sql.functions.{col, explode, length, split}
    val words = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    var syms: Map[String, Vector[String]] = words.map { case (w, _) => w -> w.map(_.toString).toVector }.toMap
    val freq = words.toMap
    val ref = (1 to graft.text.TextOps.BpeTrainIters).map { it =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      syms.foreach { case (w, s) =>
        s.sliding(2).filter(_.length == 2).foreach { p =>
          val k = (p(0), p(1)); counts(k) = counts.getOrElse(k, 0L) + freq(w)
        }
      }
      val ((a, b), c) = counts.minBy { case ((x, y), n) => (-n, s"[$x][$y]") }
      syms = syms.map { case (w, s) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < s.length) {
          if (i + 1 < s.length && s(i) == a && s(i + 1) == b) { out += (a + b); i += 2 }
          else { out += s(i); i += 1 }
        }
        w -> out.result()
      }
      (it, a + b, c)
    }
    assert(got.toSeq == ref, s"ladder diverged:\n got ${got.toSeq}\n ref $ref")
  }

  test("batched BPE matches a driver-side batched-greedy reference; rounds accept disjoint merges (VERDICT r8 #5)") {
    import graft.text.TextOps
    val got = TextOps.bpeTrainBatched(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(got.nonEmpty && got.map(_._1).toSeq == (1 to got.length),
      "iter must be the contiguous application order")
    assert(got.map(_._2).distinct.length <= TextOps.BpeBatchRounds)
    // batching must beat one-merge-per-round: more merges than driver rounds
    assert(got.length > got.map(_._2).distinct.length,
      s"batched rounds should accept >1 merge somewhere: $got")
    // within a round, accepted pairs are pairwise symbol-disjoint (the
    // condition that makes their recorded counts the TRUE corpus counts)
    def syms(p: String) = p.substring(1, p.length - 1).split("\\]\\[").toSet
    got.groupBy(_._2).values.foreach { rnd =>
      rnd.combinations(2).foreach { case Array(a, b) =>
        assert(syms(a._3).intersect(syms(b._3)).isEmpty,
          s"round ${a._2} accepted overlapping pairs ${a._3} / ${b._3}")
      }
    }
    // driver-side batched-greedy reference, word table as in the sequential test
    import org.apache.spark.sql.functions.{col, explode, length, split}
    val words = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    var sy: Map[String, Vector[String]] = words.map { case (w, _) => w -> w.map(_.toString).toVector }.toMap
    val freq = words.toMap
    val ref = Seq.newBuilder[(Int, String, Long)]
    var iter = 0
    for (r <- 1 to TextOps.BpeBatchRounds) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      sy.foreach { case (w, s) =>
        s.sliding(2).filter(_.length == 2).foreach { p =>
          val k = (p(0), p(1)); counts(k) = counts.getOrElse(k, 0L) + freq(w)
        }
      }
      val window = counts.toSeq
        .sortBy { case ((x, y), n) => (-n, s"[$x][$y]") }.take(TextOps.BpeBatchSize)
      val accepted = window.zipWithIndex.collect {
        case (((a, b), n), i)
            if window.take(i).forall { case ((x, y), _) =>
              Set(a, b).intersect(Set(x, y)).isEmpty } => ((a, b), n)
      }
      accepted.foreach { case ((a, b), n) =>
        iter += 1; ref += ((r, a + b, n))
        sy = sy.map { case (w, s) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < s.length) {
            if (i + 1 < s.length && s(i) == a && s(i + 1) == b) { out += (a + b); i += 2 }
            else { out += s(i); i += 1 }
          }
          w -> out.result()
        }
      }
    }
    assert(got.map(t => (t._2, t._4, t._5)).toSeq == ref.result(),
      "batched ladder diverged from the driver-side reference")
  }

  test("aHash of a flat image is all-zero; a half-bright image sets exactly the bottom rows") {
    // uniform pixels: no block strictly exceeds the mean -> hash 0
    val w = 16; val h = 16
    val flat = s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ Array.fill(w * h * 3)(77.toByte)
    assert(MediaOps.aHashOf(flat) == ((w, h, 0L, 0L)))
    // top half black, bottom half white: block rows 4..7 (bit indices 32..63)
    // are exactly the above-mean blocks
    val half = s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++
      Array.tabulate(w * h * 3)(i => if ((i / 3) / w < h / 2) 0.toByte else 255.toByte)
    assert(MediaOps.aHashOf(half) == ((w, h, 0xFFFFFFFFL, 0L)))
    // tampered payload (padded body) must be rejected, not silently hashed
    intercept[IllegalArgumentException](MediaOps.aHashOf(flat :+ 0.toByte))
  }

  test("audio fingerprint reads real PCM: silence is all-zero, a loud half sets its windows") {
    // synthesize a valid WAV, then patch the PCM body through the strict
    // parser's own offset: first half silence (128), second half full-swing
    val bytes = MediaCodec.encodeWav(1600, seed = 9L)
    val (_, _, _, off, n) = MediaCodec.decodeWavBody(bytes)
    java.util.Arrays.fill(bytes, off, off + n / 2, 128.toByte)
    (n / 2 until n).foreach(i => bytes(off + i) = (if (i % 2 == 0) 0 else 255).toByte)
    val (ns, hi, lo) = MediaOps.audioFpOf(bytes)
    assert(ns == 1600L && hi == 0xFFFFFFFFL && lo == 0L)
    // all-silence track: no window exceeds the mean
    java.util.Arrays.fill(bytes, off, off + n, 128.toByte)
    assert(MediaOps.audioFpOf(bytes) == ((1600L, 0L, 0L)))
    // tampered container (truncated) must be rejected, not silently hashed
    intercept[IllegalArgumentException](MediaOps.audioFpOf(bytes.dropRight(1)))
  }

  test("banded audio near-dup equals the all-pairs answer") {
    val dir = "/root/testdata/sf0.01"
    val fps = MediaOps.audioFingerprints(spark, dir).collect()
    val brute = (for {
      a <- fps; b <- fps if a.doc_id < b.doc_id
      d = java.lang.Long.bitCount(a.fp_hi ^ b.fp_hi) + java.lang.Long.bitCount(a.fp_lo ^ b.fp_lo)
      if d <= MediaOps.AHashMaxDist
    } yield (a.doc_id, b.doc_id, d)).toSet
    val banded = MediaOps.audioNearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(brute.nonEmpty && banded == brute)
  }

  test("banded image near-dup equals the all-pairs answer (pigeonhole exactness)") {
    // sf0.01 has a non-empty pair set; sf0.001's images are all far apart
    val dir = "/root/testdata/sf0.01"
    val hashes = MediaOps.imageAHash(spark, dir).collect()
    val brute = (for {
      a <- hashes; b <- hashes if a.doc_id < b.doc_id
      d = java.lang.Long.bitCount(a.ahash_hi ^ b.ahash_hi) +
        java.lang.Long.bitCount(a.ahash_lo ^ b.ahash_lo)
      if d <= MediaOps.AHashMaxDist
    } yield (a.doc_id, b.doc_id, d)).toSet
    val banded = MediaOps.imageNearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(brute.nonEmpty, "test corpus should contain near-dup images")
    assert(banded == brute)
  }

  test("wide-band (256-bit, 16-bit bands) image near-dup equals the all-pairs answer") {
    val dir = "/root/testdata/sf0.01"
    val hashes = MediaOps.imageWideHash(spark, dir).collect()
    def words(h: MediaOps.ImageWideHash) =
      Array(h.fp_w0, h.fp_w1, h.fp_w2, h.fp_w3, h.fp_w4, h.fp_w5, h.fp_w6, h.fp_w7)
    val brute = (for {
      a <- hashes; b <- hashes if a.doc_id < b.doc_id
      d = words(a).zip(words(b)).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
      if d <= MediaOps.WideMaxDist
    } yield (a.doc_id, b.doc_id, d)).toSet
    val banded = MediaOps.imageNearDupWideband(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(brute.nonEmpty, "test corpus should contain wide-hash near-dup images")
    assert(banded == brute)
    // every 32-bit word stays sign-safe (the DuckDB BIGINT bit-63 gotcha)
    hashes.foreach(h => words(h).foreach(w => assert(w >= 0L && w <= 0xffffffffL)))
  }

  test("distilled quality classifier tracks its weak label far above the base rate") {
    val rows = graft.text.QualityClassifier.distillAndScore(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val n = rows.length.toDouble
    val acc = rows.count(r => r.getInt(3) == r.getInt(4)) / n
    val base = math.max(rows.count(_.getInt(3) == 1), rows.count(_.getInt(3) == 0)) / n
    // non-degenerate predictions on both sides of the trained threshold
    assert(rows.exists(_.getInt(4) == 1) && rows.exists(_.getInt(4) == 0))
    assert(acc >= 0.9, s"accuracy $acc")
    assert(acc > base, s"accuracy $acc does not beat majority vote $base")
  }

  test("BPE encode applies the trained ladder: per-word symbols match a driver-side re-merge") {
    import org.apache.spark.sql.functions.col
    // reference: apply the reported merge ladder greedily to each word
    val merges = graft.text.TextOps.bpeTrain(spark, sfDir).collect()
      .map(r => (r.getString(1), r.getString(2))) // bracketed pair -> merged
    def encodeWord(w: String): Vector[String] = {
      if (w.length < 2 || w.contains("[") || w.contains("]"))
        return w.map(_.toString).toVector
      var s = w.map(c => s"[$c]").mkString
      merges.foreach { case (pair, fused) => s = s.replace(pair, s"[$fused]") }
      s.substring(1, s.length - 1).split("\\]\\[").toVector
    }
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = graft.text.TextOps.bpeEncode(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.keySet == docs.keySet)
    docs.foreach { case (id, text) =>
      val want = text.split(" ", -1).map(w => encodeWord(w).length.toLong).sum
      assert(got(id) == want, s"doc $id: got ${got(id)} tokens, reference $want")
    }
    // merges genuinely compress: fewer BPE tokens than characters overall
    val totalTok = got.values.sum
    val totalChars = docs.values.map(t => t.count(_ != ' ').toLong).sum
    assert(totalTok < totalChars, s"$totalTok tokens vs $totalChars chars — no merge applied?")
  }

  test("gopher rules: clean docs pass, planted degenerate docs fail the right rule") {
    val dir = writeDocs(Seq(
      1L -> "a perfectly ordinary document with enough distinct tokens here",
      2L -> "spam spam spam spam spam spam spam spam spam spam",     // top-token + distinct
      3L -> "ok",                                                     // too few words
      4L -> "supercalifragilisticexpialidocious anotherextremelylongtokenhere thirdoverlongtokens fourthgigantictokenx fifthelongatedtoken"))
    val rows = graft.text.FilterRules.gopherRules(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getBoolean(6), "clean doc must keep")
    assert(!rows(2L).getBoolean(4) && !rows(2L).getBoolean(6), "repeated token must fail ok_top_token")
    assert(!rows(3L).getBoolean(2) && !rows(3L).getBoolean(6), "short doc must fail ok_words")
    assert(!rows(4L).getBoolean(3) && !rows(4L).getBoolean(6), "overlong words must fail ok_word_len")
  }

  test("lm transition score: corpus-typical text outscores a shuffled-vocabulary doc") {
    // 20 docs share the same phrasing (high-probability transitions); one
    // doc uses the same vocabulary in a scrambled, never-seen order
    val common = (1L to 20L).map(i => i -> "the power grid reports a steady load today")
    val scrambled = Seq(21L -> "load the today grid steady a power reports")
    val dir = writeDocs(common ++ scrambled)
    val rows = graft.text.FilterRules.lmTransitionScore(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    val typical = rows(1L)
    val odd = rows(21L)
    assert(typical > odd * 5,
      s"typical doc ppm $typical must dwarf scrambled $odd")
  }

  test("dup-ngram coverage: repeated spans cover the union of their positions, clean docs read 0") {
    val dir = writeDocs(Seq(
      // "a b c" occurs at positions 0 and 5 -> covers {0,1,2} ∪ {5,6,7} = 6 of 8
      1L -> "a b c x y a b c",
      2L -> "all tokens here are fully distinct everywhere",
      // overlapping duplicated trigrams ("a a a" at 0,1,2,3): union is all 6
      3L -> "a a a a a a"))
    val rows = graft.text.FilterRules.dupNgramCoverage(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows(1L) == ((8L, 6L, 750000L)), s"${rows(1L)}")
    assert(rows(2L)._2 == 0L && rows(2L)._3 == 0L)
    assert(rows(3L) == ((6L, 6L, 1000000L)), s"${rows(3L)}")
  }

  test("streaming LM scoring equals the batch query and resumes from checkpoint") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("lm_stream").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    val model = graft.text.FilterRules.lmModel(spark, sfDir)
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    docs.filter(col("doc_id") < 250).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    def start() = graft.text.FilterRules.lmScoringSink(
      spark.readStream.schema(schema).parquet(src), model, out, ckpt).start()
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    docs.filter(col("doc_id") >= 250).write.mode("append").parquet(src)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val got = spark.read.option("basePath", out).parquet(out)
      .select("doc_id", "n_transitions", "score_ppm").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val want = graft.text.FilterRules.lmTransitionScore(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == want, "streamed LM scores diverged from the batch query")
  }

  /** A minimal documents table for corpus-content edge cases. */
  private def writeDocs(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length, lit}
    val dir = java.nio.file.Files.createTempDirectory("graft_docs").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("BPE training treats corpus content as data: quotes/backslashes merge, brackets are excluded") {
    // "don't"-style tokens crashed the r7 trainer (merge pair spliced into
    // SQL text); bracket tokens could forge the symbol delimiters
    val dir = writeDocs(Seq(
      1L -> "don't don't don't can't can't it's",
      2L -> "back\\slash back\\slash don't it's we[ird] we]ird[",
      3L -> "don't can't back\\slash plain words here"))
    val ladder = TextOps.bpeTrain(spark, dir, k = 3).collect()
    assert(ladder.length == 3)
    // the top merge comes from the quoted tokens; bracket tokens never enter
    ladder.foreach { r =>
      val merged = r.getString(2)
      assert(!merged.contains("w") || !merged.contains("d"), s"bracket token leaked: $merged")
    }
    assert(ladder.map(_.getLong(3)).forall(_ > 0))
  }

  test("classifier feature extraction survives empty and single-token documents") {
    // sequence(1, 0) used to yield [1, 0] and element_at(toks, 0) threw;
    // both engines must now emit zero bigrams for these docs
    val dir = writeDocs(Seq(
      1L -> "solo",
      2L -> "",
      3L -> "the a the a the a filler rows here",
      4L -> "dense informative varied tokens without stopwords mostly",
      5L -> "the a the a the a more filler",
      6L -> "other crisp varied informative prose tokens"))
    val rows = graft.text.QualityClassifier.distillAndScore(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    // the single-token doc carries exactly its one unigram feature
    assert(rows.find(_.getLong(0) == 1L).get.getInt(1) == 1)
  }

  test("classifier training fails loudly on a single-class corpus") {
    val dir = writeDocs(Seq(
      1L -> "the a the a the a filler",
      2L -> "the a the a the a more filler"))
    val e = intercept[IllegalArgumentException] {
      graft.text.QualityClassifier.train(spark, dir)
    }
    assert(e.getMessage.contains("degenerate corpus"), e.getMessage)
  }

  test("negative sampling emits only ids of documents that exist (sparse id space)") {
    // doc ids with gaps: hash % count lands on nonexistent ids, which the
    // join-back must reject (r7 emitted them as phantom negatives)
    val ids = (0L until 48L by 3L).toSeq
    val dir = writeDocs(ids.map(i => i -> s"document number $i with some shared filler tokens"))
    val got = graft.text.CurationOps.negativeSamples(spark, dir).collect()
    assert(got.nonEmpty)
    val idSet = ids.toSet
    assert(got.forall(r => idSet.contains(r.getLong(2))),
      s"phantom neg_id in ${got.map(_.getLong(2)).toSet -- idSet}")
  }

}
