package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.dedup.DedupOps.{shinglesFromToks, shinglesSql, ShingleK}

/** Data-curation operators a large-scale pretraining pipeline needs beyond
  * dedup/quality/language-ID: PII scrubbing, repetition analysis
  * (Gopher-style), cross-document duplication signals (CCNet-style),
  * benchmark-contamination detection, sequence packing and stratified
  * sampling. All column-arithmetic / equi-join shaped — no UDFs, no
  * driver-side loops, nothing all-pairs — so every operator here survives a
  * 1000-executor scale-up: per-doc ops are narrow maps, cross-doc ops shuffle
  * on high-cardinality keys (shingle, token), and packing is windowed per
  * shard (`source`), the unit a real pipeline packs within.
  */
object CurationOps {

  // -------------------------------------------------------------------------
  // PII scrub
  // -------------------------------------------------------------------------

  /** Java-regex AND RE2-compatible patterns (no lookarounds/backrefs). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "555-[0-9]{3}-[0-9]{4}"

  /** PII detection + redaction counts. The synthetic corpus carries no PII,
    * so the query plants deterministic emails/phones first (same CASE in the
    * oracle) — the operator under test is the detect/redact stage: count
    * matches per pattern and emit the fingerprint of the scrubbed text
    * (fingerprint, not the text, keeps the compared columns small).
    */
  def piiScrub(spark: SparkSession, sfDir: String): DataFrame = {
    val planted = when(
        col("doc_id") % 3 === 0,
        concat(col("text"), lit(" reach user"), col("doc_id").cast("string"),
          lit("@example.com ok")))
      .otherwise(col("text"))
    val planted2 = when(
        col("doc_id") % 4 === 0,
        concat(planted, lit(" dial 555-"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .otherwise(planted)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), planted2.as("t"))
      .select(
        col("doc_id"),
        regexp_count(col("t"), lit(EmailPattern)).cast("int").as("n_emails"),
        regexp_count(col("t"), lit(PhonePattern)).cast("int").as("n_phones"),
        md5(regexp_replace(regexp_replace(col("t"), EmailPattern, "<EMAIL>"),
          PhonePattern, "<PHONE>")).as("scrubbed_fp"))
      .orderBy("doc_id")
  }

  val piiScrubSql: String =
    s"""WITH planted AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 4 = 0 THEN base || ' dial 555-' ||
       |                lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
       |                lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |              ELSE base END AS t
       |  FROM (
       |    SELECT doc_id,
       |           CASE WHEN doc_id % 3 = 0
       |                THEN text || ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com ok'
       |                ELSE text END AS base
       |    FROM documents))
       |SELECT doc_id,
       |       CAST(len(regexp_extract_all(t, '$EmailPattern')) AS INT) AS n_emails,
       |       CAST(len(regexp_extract_all(t, '$PhonePattern')) AS INT) AS n_phones,
       |       md5(regexp_replace(regexp_replace(t, '$EmailPattern', '<EMAIL>', 'g'),
       |                          '$PhonePattern', '<PHONE>', 'g')) AS scrubbed_fp
       |FROM planted ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Repetition stats (Gopher-style quality rules)
  // -------------------------------------------------------------------------

  /** Per-document repetition profile: total/distinct token counts, the top
    * single-token frequency and the top bigram frequency — integer
    * numerators of the Gopher repetition filters ("fraction of characters in
    * the most common n-gram"), kept as exact counts so the oracle hash is
    * float-free. Both branches are explode → count aggregations with map-side
    * combine; docs with fewer than 2 tokens are out of domain.
    */
  def repetitionStats(spark: SparkSession, sfDir: String): DataFrame = {
    // NOT fanned (r16, measured): unigram+bigram explode is the cheap
    // class — interleaved A/B on/off = 1.29; exchange overhead dominates
    val toksDf = Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    val tok = toksDf
      .select(col("doc_id"), explode(col("toks")).as("tk"))
      .groupBy("doc_id", "tk").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum("c").cast("int").as("n_tokens"),
        count(lit(1)).cast("int").as("n_distinct"),
        max("c").cast("int").as("top_tok_cnt"))
    // toks[i] is 0-based in Spark, 1-based in DuckDB — ranges shifted to match
    val bg = toksDf
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))")).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        max("c").cast("int").as("top_bigram_cnt"),
        count(lit(1)).cast("int").as("n_distinct_bigrams"))
    tok.join(bg, "doc_id").orderBy("doc_id")
  }

  val repetitionStatsSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks
      |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
      |tokc AS (
      |  SELECT doc_id, tk, count(*) AS c
      |  FROM (SELECT doc_id, unnest(toks) AS tk FROM t) GROUP BY 1, 2),
      |tokstats AS (
      |  SELECT doc_id, CAST(sum(c) AS INT) AS n_tokens,
      |         CAST(count(*) AS INT) AS n_distinct, CAST(max(c) AS INT) AS top_tok_cnt
      |  FROM tokc GROUP BY 1),
      |bgc AS (
      |  SELECT doc_id, b, count(*) AS c
      |  FROM (SELECT doc_id,
      |               unnest(list_transform(generate_series(1, len(toks) - 1),
      |                                     i -> toks[i] || ' ' || toks[i + 1])) AS b
      |        FROM t) GROUP BY 1, 2),
      |bgstats AS (
      |  SELECT doc_id, CAST(max(c) AS INT) AS top_bigram_cnt,
      |         CAST(count(*) AS INT) AS n_distinct_bigrams
      |  FROM bgc GROUP BY 1)
      |SELECT tokstats.doc_id, n_tokens, n_distinct, top_tok_cnt,
      |       top_bigram_cnt, n_distinct_bigrams
      |FROM tokstats JOIN bgstats USING (doc_id) ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Cross-document duplication signal (CCNet-style)
  // -------------------------------------------------------------------------

  /** Exploded (doc_id, s) shingle stream of a (doc_id, text) relation, with
    * the r16 shuffle-key narrowing applied (guide §2.3, the
    * [[graft.dedup.DedupOps]] live-family trade): every consumer here
    * uses the shingle ONLY as a grouping/join key — never as output — so
    * keying on `xxhash64(s)` (8 bytes vs the ~30-byte 5-gram) shrinks every
    * downstream exchange, identical results up to a 64-bit collision (the
    * oracle keeps the string form and pins equality at every test SF).
    */
  private def shingleKeyed(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= ShingleK)
      .select(col("doc_id"), explode(shinglesFromToks(col("toks"))).as("s0"))
      .select(col("doc_id"), xxhash64(col("s0")).as("s"))

  /** Per-document count of shingles shared with ANY other document — the
    * cross-doc duplication signal CCNet computes per paragraph. Shingle
    * document-frequency is one grouped count; the per-doc rollup joins back
    * on the (high-cardinality) shingle key. Never all-pairs.
    */
  def sharedShingles(spark: SparkSession, sfDir: String): DataFrame = {
    // doc_freq as a two-stage aggregate (groupBy + join back on s) rather
    // than count().over(Window.partitionBy(s)): the window form routes EVERY
    // row of a shingle into one partition and sorts them there, so a single
    // boilerplate shingle present in a third of the corpus serializes a
    // third of the data through one task at 100 TB. Additionally the
    // occurrence stream is compressed to (doc_id, s, c) FIRST — a doc's
    // shingles sit in one input partition, so within-doc repeats collapse in
    // the map-side partial agg and the df computation plus the join back
    // both run over the compressed relation. Measured vs the uncompressed
    // two-scan form at sf0.1: 1.7 s vs 1.9 s base, 8.1 s vs 11.3 s with a
    // planted hot shingle in 30% of a 10× corpus. The join is on s alone, so
    // as a shuffle join AQE cannot split a hot shingle's partition (see
    // [[graft.dedup.DedupOps.joinPerShingle]]); the (s, hash) key that would
    // let it costs an exchange of this unfiltered, vocabulary-sized df side,
    // measured 1.36-1.38 s → 1.67-1.83 s at sf0.1 on 4 cores, so it stays.
    val perDoc = shingleKeyed(Tables.documentsDerive(spark, sfDir))
      .groupBy(col("doc_id"), col("s"))
      .agg(count(lit(1)).as("c"))
    val df = perDoc.groupBy("s").agg(sum("c").as("doc_freq"))
    perDoc.join(df, "s")
      .groupBy("doc_id")
      .agg(
        sum("c").cast("int").as("n_shingles"),
        sum(when(col("doc_freq") >= 2, col("c")).otherwise(0)).cast("int").as("n_shared"))
      .orderBy("doc_id")
  }

  val sharedShinglesSql: String =
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(${shinglesSql("text")}) AS s
       |  FROM documents WHERE len(string_split(text, ' ')) >= $ShingleK),
       |df AS (SELECT s, count(*) AS doc_freq FROM sh GROUP BY 1)
       |SELECT doc_id, CAST(count(*) AS INT) AS n_shingles,
       |       CAST(sum(CASE WHEN doc_freq >= 2 THEN 1 ELSE 0 END) AS INT) AS n_shared
       |FROM sh JOIN df USING (s)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Benchmark contamination
  // -------------------------------------------------------------------------

  val BenchmarkMaxId = 20
  val ContaminationMinOverlap = 3

  /** Training↔benchmark contamination: corpus documents sharing ≥ k distinct
    * shingles with any "benchmark" document (stand-in: doc_id < 20 from the
    * same table — at deployment the benchmark side is the eval suite). The
    * candidate join is on the shingle key; the benchmark side is tiny and
    * broadcast, so the corpus side never shuffles.
    */
  def contamination(spark: SparkSession, sfDir: String): DataFrame = {
    // NOT shingleKeyed (r16, measured): the corpus side here joins a
    // BROADCAST bench side — no shuffle ever carries the shingle, so the
    // narrowing has no exchange bytes to save and its xxhash64 per shingle
    // is pure cost (interleaved A/B on/off = 1.19).
    val sh = Tables.documentsDerive(spark, sfDir) // fan-out (r16)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= ShingleK)
      .select(col("doc_id"), explode(shinglesFromToks(col("toks"))).as("s"))
    val bench = broadcast(
      sh.filter(col("doc_id") < BenchmarkMaxId)
        .select(col("doc_id").as("bench_id"), col("s")))
    sh.filter(col("doc_id") >= BenchmarkMaxId)
      .join(bench, "s")
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).cast("int").as("n_overlap"))
      .filter(col("n_overlap") >= ContaminationMinOverlap)
      .orderBy("doc_id", "bench_id")
  }

  val contaminationSql: String =
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(${shinglesSql("text")}) AS s
       |  FROM documents WHERE len(string_split(text, ' ')) >= $ShingleK)
       |SELECT c.doc_id AS doc_id, b.doc_id AS bench_id, CAST(count(*) AS INT) AS n_overlap
       |FROM sh c JOIN sh b ON c.s = b.s
       |WHERE c.doc_id >= $BenchmarkMaxId AND b.doc_id < $BenchmarkMaxId
       |GROUP BY 1, 2
       |HAVING count(*) >= $ContaminationMinOverlap
       |ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------------
  // Sequence packing
  // -------------------------------------------------------------------------

  val PackBinTokens = 512

  /** Greedy sequence packing: within each shard (`source`), documents stream
    * in doc_id order and a doc opens a new bin when the running token total
    * crosses the bin size — bin = prefix-sum-before ÷ bin-size. The window is
    * PARTITIONED by shard, so parallelism is per shard exactly like the
    * packing step of a real pipeline (a global pack would serialize).
    */
  def seqPacking(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n"))
      .withColumn("cum", sum("n").over(w))
      .withColumn("bin_id", expr(s"(cum - n) div $PackBinTokens"))
      .groupBy("source", "bin_id")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("bin_tokens"))
      .orderBy("source", "bin_id")
  }

  val seqPackingSql: String =
    s"""WITH d AS (
       |  SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
       |  FROM documents),
       |c AS (
       |  SELECT source, doc_id, n,
       |         sum(n) OVER (PARTITION BY source ORDER BY doc_id
       |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM d)
       |SELECT source, CAST((cum - n) // $PackBinTokens AS BIGINT) AS bin_id,
       |       count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS bin_tokens
       |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------------
  // Data-mixture weights (domain balancing)
  // -------------------------------------------------------------------------

  /** Per-domain (`source`) sampling weights that rebalance the corpus to a
    * uniform token mixture — the reweighting ledger a pretraining run feeds
    * its sampler (weight = target share ÷ actual share). One grouped count
    * plus a broadcast 1-row total (no driver action, no second scan —
    * the corpus-wide total rides a crossJoin of a 1-row aggregate). Weights
    * are emitted in parts-per-million via integer division, so both engines
    * produce bit-identical values with no float rounding in the compare.
    */
  def mixtureWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val per = Tables.documents(spark, sfDir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(TextOps.tokens(col("text"))).cast("long")).as("n_tokens"))
    val tot = per.agg(
      sum("n_tokens").as("t_total"),
      count(lit(1)).as("n_sources"))
    per.crossJoin(broadcast(tot))
      .withColumn("weight_ppm",
        expr("(t_total * 1000000L) div (n_sources * n_tokens)"))
      .select("source", "n_docs", "n_tokens", "weight_ppm")
      .orderBy("source")
  }

  val mixtureWeightsSql: String =
    """WITH per AS (
      |  SELECT source, count(*) AS n_docs,
      |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(n_tokens) AS BIGINT) AS t_total,
      |         count(*) AS n_sources
      |  FROM per)
      |SELECT source, n_docs, n_tokens,
      |       (t_total * 1000000) // (n_sources * n_tokens) AS weight_ppm
      |FROM per CROSS JOIN tot
      |ORDER BY source""".stripMargin

  // -------------------------------------------------------------------------
  // Incremental corpus delta (new batch vs historical corpus)
  // -------------------------------------------------------------------------

  val DeltaSplitId = 400L

  /** Incremental ingest dedup: the daily-crawl pattern where a NEW batch
    * (here: doc_id ≥ split, standing in for today's partition) is admitted
    * only if it is neither an exact copy (anti-join on content hash) nor a
    * near-duplicate (shared-shingle candidate join) of the HISTORICAL corpus.
    * Emits the admission ledger per new doc. Both checks are equi-joins
    * keyed on hash/shingle — the historical side at 100 TB is the big one,
    * and neither check scans it beyond the hash/shingle indexes a real
    * deployment materializes (here: the shuffled join builds them on the
    * fly).
    */
  def corpusDelta(spark: SparkSession, sfDir: String, split: Long = DeltaSplitId,
      minOverlap: Int = 3): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val hist = docs.filter(col("doc_id") < split)
    val fresh = docs.filter(col("doc_id") >= split)
    val exactDup = fresh.alias("f")
      .join(hist.alias("h"), md5(col("f.text")) === md5(col("h.text")), "left_semi")
      .select(col("doc_id"))
    def sh(df: DataFrame) = df
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= ShingleK)
      .select(col("doc_id"), explode(shinglesFromToks(col("toks"))).as("s"))
    val nearDup = sh(fresh).alias("f")
      .join(sh(hist).select(col("s")).alias("h"), "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
      .select(col("doc_id"))
    fresh.select("doc_id")
      .join(exactDup.withColumn("is_exact_dup", lit(1)), Seq("doc_id"), "left")
      .join(nearDup.withColumn("is_near_dup", lit(1)), Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("is_exact_dup"), lit(0)).as("is_exact_dup"),
        coalesce(col("is_near_dup"), lit(0)).as("is_near_dup"))
      .withColumn("admitted",
        when(col("is_exact_dup") === 0 && col("is_near_dup") === 0, 1).otherwise(0))
      .orderBy("doc_id")
  }

  def corpusDeltaSql(split: Long = DeltaSplitId, minOverlap: Int = 3): String =
    s"""WITH hist AS (SELECT * FROM documents WHERE doc_id < $split),
       |fresh AS (SELECT * FROM documents WHERE doc_id >= $split),
       |exact_dup AS (
       |  SELECT DISTINCT f.doc_id FROM fresh f JOIN hist h ON md5(f.text) = md5(h.text)),
       |fsh AS (
       |  SELECT doc_id, unnest(${shinglesSql("text")}) AS s
       |  FROM fresh WHERE len(string_split(text, ' ')) >= $ShingleK),
       |hsh AS (
       |  SELECT doc_id, unnest(${shinglesSql("text")}) AS s
       |  FROM hist WHERE len(string_split(text, ' ')) >= $ShingleK),
       |near_dup AS (
       |  SELECT f.doc_id FROM fsh f JOIN hsh h ON f.s = h.s
       |  GROUP BY 1 HAVING count(*) >= $minOverlap)
       |SELECT fresh.doc_id,
       |       CASE WHEN e.doc_id IS NULL THEN 0 ELSE 1 END AS is_exact_dup,
       |       CASE WHEN n.doc_id IS NULL THEN 0 ELSE 1 END AS is_near_dup,
       |       CASE WHEN e.doc_id IS NULL AND n.doc_id IS NULL THEN 1 ELSE 0 END AS admitted
       |FROM fresh
       |LEFT JOIN exact_dup e ON fresh.doc_id = e.doc_id
       |LEFT JOIN near_dup n ON fresh.doc_id = n.doc_id
       |ORDER BY fresh.doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Vocabulary drift (corpus monitoring)
  // -------------------------------------------------------------------------

  /** Vocabulary drift between two corpus halves (older vs newer doc ids —
    * the proxy for yesterday-vs-today partitions): per-token total-variation
    * contribution as the INTEGER |c1·N2 − c2·N1| (the TV distance numerator
    * scaled by N1·N2 — exact, no float division), emitting the top drifting
    * tokens. This is the monitoring signal a pipeline alarms on when a crawl
    * source shifts. One grouped count per half over the token explode; the
    * scale-up cost is the token shuffle, same as every counting operator
    * here.
    */
  def vocabDrift(spark: SparkSession, sfDir: String, split: Long = DeltaSplitId,
      topK: Int = 25): DataFrame = {
    val tok = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("t"))
    val counts = tok
      .groupBy("t")
      .agg(
        sum(when(col("doc_id") < split, 1L).otherwise(0L)).as("c1"),
        sum(when(col("doc_id") >= split, 1L).otherwise(0L)).as("c2"))
    val tot = counts.agg(
      sum("c1").as("n1"), sum("c2").as("n2"))
    counts.crossJoin(broadcast(tot))
      .withColumn("drift_num", abs(col("c1") * col("n2") - col("c2") * col("n1")))
      .select("t", "c1", "c2", "drift_num")
      .orderBy(desc("drift_num"), asc("t"))
      .limit(topK)
  }

  def vocabDriftSql(split: Long = DeltaSplitId, topK: Int = 25): String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       |counts AS (
       |  SELECT t,
       |         CAST(sum(CASE WHEN doc_id < $split THEN 1 ELSE 0 END) AS BIGINT) AS c1,
       |         CAST(sum(CASE WHEN doc_id >= $split THEN 1 ELSE 0 END) AS BIGINT) AS c2
       |  FROM tok GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM counts)
       |SELECT t, c1, c2, abs(c1 * n2 - c2 * n1) AS drift_num
       |FROM counts CROSS JOIN tot
       |ORDER BY drift_num DESC, t
       |LIMIT $topK""".stripMargin

  // -------------------------------------------------------------------------
  // Deterministic global shuffle (training-order randomization)
  // -------------------------------------------------------------------------

  /** Training-order randomization: a total order by md5(doc_id) — effectively
    * a seeded permutation that any engine reproduces (no `rand()`, which is
    * neither engine-portable nor retry-stable on a cluster; a task retry
    * re-rolling rand() silently reorders an epoch). At 100 TB this is the
    * write-side sort of the shuffled epoch: `repartitionByRange` on the hash
    * + in-partition sort, exactly the [[graft.sources.ZOrderLayout.layout]]
    * shape with the hash as the clustering key. The oracle-checked output
    * pins the head of the permutation.
    */
  def globalShuffle(spark: SparkSession, sfDir: String, n: Int = 20): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("shuffle_key"))
      .orderBy("shuffle_key")
      .limit(n)

  def globalShuffleSql(n: Int = 20): String =
    s"""SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS shuffle_key
       |FROM documents
       |ORDER BY shuffle_key
       |LIMIT $n""".stripMargin

  // -------------------------------------------------------------------------
  // Stratified sampling
  // -------------------------------------------------------------------------

  /** Deterministic stratified sampling: per-language keep rates applied by
    * thresholding an md5-derived uniform per doc — engine-independent,
    * leak-proof (membership depends only on doc_id), and a narrow map at any
    * scale. Output is the per-stratum keep ledger.
    */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 100
    val rate = when(col("lang") === "en", 50).otherwise(90)
    Tables.documents(spark, sfDir)
      .select(col("lang"), when(u < rate, 1).otherwise(0).as("keep"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"), sum("keep").as("n_kept"))
      .orderBy("lang")
  }

  val stratifiedSampleSql: String =
    """SELECT lang, count(*) AS n_total,
      |       CAST(sum(CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100
      |                          < CASE WHEN lang = 'en' THEN 50 ELSE 90 END
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin

  // -------------------------------------------------------------------------
  // Sliding-window chunking
  // -------------------------------------------------------------------------

  val ChunkSize = 64
  val ChunkStride = 48

  /** Fixed-size token-window chunking with stride overlap — the segmentation
    * step ahead of embedding generation or context-window packing. Chunk
    * starts are `1, 1+stride, 1+2·stride, …` up to the document's token
    * count (tail chunks run short; the 16-token overlap preserves context
    * across cuts). One `sequence`→`explode`→`slice` pass per document — a
    * narrow map whose fanout is ~n_tokens/stride, no shuffle until the final
    * presentation sort — so chunking 100 TB is scan-bound. Chunk text is
    * emitted as an md5 fingerprint: the compared surface stays 3 scalars per
    * chunk regardless of chunk size.
    */
  def chunkDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        col("text"),
        explode(sequence(lit(1), size(toks), lit(ChunkStride))).as("start"))
      .select(
        col("doc_id"),
        ((col("start") - 1) / ChunkStride).cast("int").as("chunk_idx"),
        slice(TextOps.tokens(col("text")), col("start"), lit(ChunkSize)).as("chunk"))
      .select(
        col("doc_id"),
        col("chunk_idx"),
        size(col("chunk")).as("n_chunk_tokens"),
        md5(array_join(col("chunk"), " ")).as("chunk_fp"))
      .orderBy("doc_id", "chunk_idx")
  }

  val chunkDocsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |starts AS (
       |  SELECT doc_id, toks, unnest(generate_series(1, len(toks), $ChunkStride)) AS start
       |  FROM t),
       |chunks AS (
       |  SELECT doc_id,
       |         CAST((start - 1) // $ChunkStride AS INT) AS chunk_idx,
       |         list_slice(toks, start, start + ${ChunkSize - 1}) AS chunk
       |  FROM starts)
       |SELECT doc_id, chunk_idx,
       |       CAST(len(chunk) AS INT) AS n_chunk_tokens,
       |       md5(array_to_string(chunk, ' ')) AS chunk_fp
       |FROM chunks
       |ORDER BY doc_id, chunk_idx""".stripMargin

  // -------------------------------------------------------------------------
  // Importance sampling by quality
  // -------------------------------------------------------------------------

  /** Quality-weighted importance sampling (the RHO-style "sample good data
    * harder" selection step): each document is kept with probability equal to
    * its quality score, decided by thresholding the same md5-derived uniform
    * [[stratifiedSample]] uses — deterministic, engine-independent, and a
    * narrow map at any scale. The ledger pins membership with an
    * order-independent bounded checksum (sum of a per-doc 32-bit hash over
    * the kept set) instead of an id list, so no group ever materializes
    * corpus-sized state.
    */
  def importanceSample(spark: SparkSession, sfDir: String): DataFrame = {
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long").cast("double") / lit(4294967296.0)
    val ck = conv(substring(md5(concat(lit("is_"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long")
    val keep = (u < TextOps.qualityCol(col("text"))).cast("long")
    Tables.documents(spark, sfDir)
      .select(col("lang"), keep.as("keep"), ck.as("ck"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_total"),
        sum("keep").as("n_kept"),
        sum(col("keep") * col("ck")).as("kept_checksum"))
      .orderBy("lang")
  }

  val importanceSampleSql: String =
    """WITH d AS (
      |  SELECT lang,
      |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) / 4294967296.0 AS u,
      |         CAST('0x' || substr(md5('is_' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS ck,
      |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |           / len(string_split(text, ' ')) * 0.7 +
      |         (1.0 - CAST(len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a')) AS DOUBLE)
      |           / len(string_split(text, ' '))) * 0.3 AS quality
      |  FROM documents)
      |SELECT lang, count(*) AS n_total,
      |       CAST(sum(CASE WHEN u < quality THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |       CAST(sum(CASE WHEN u < quality THEN ck ELSE 0 END) AS BIGINT) AS kept_checksum
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------------
  // Tokenizer vocabulary coverage (OOV rate)
  // -------------------------------------------------------------------------

  /** Size of the "learned" vocabulary: top tokens by corpus frequency. */
  val OovVocabSize = 10

  /** Out-of-vocabulary rate per document against a frequency-learned
    * vocabulary — the tokenizer-coverage check run before committing a corpus
    * to a trained tokenizer. Two aggregates: the vocabulary (top-V tokens by
    * corpus frequency — vocabulary-sized, broadcast after the grouped count)
    * and the per-document OOV tally from a left join of the exploded token
    * stream against it. Rates are ppm integers (determinism contract).
    */
  def oovRate(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir) // NOT fanned (r16): A/B 1.43
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("t"))
    val vocab = toks.groupBy("t").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("t"))
      .limit(OovVocabSize)
      .select(col("t").as("v"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), toks("t") === vocab("v"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        count(when(col("in_vocab").isNull, 1)).as("n_oov"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_oov"),
        expr("(n_oov * 1000000) div n_tokens").as("oov_ppm"))
      .orderBy("doc_id")
  }

  val oovRateSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       |vocab AS (
       |  SELECT t AS v, 1 AS in_vocab FROM toks
       |  GROUP BY t ORDER BY count(*) DESC, t LIMIT $OovVocabSize)
       |SELECT doc_id,
       |       count(*) AS n_tokens,
       |       count(CASE WHEN in_vocab IS NULL THEN 1 END) AS n_oov,
       |       count(CASE WHEN in_vocab IS NULL THEN 1 END) * 1000000 // count(*) AS oov_ppm
       |FROM toks LEFT JOIN vocab ON toks.t = vocab.v
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Intra-document duplicate-chunk removal
  // -------------------------------------------------------------------------

  /** Non-overlapping window size for intra-doc dedup (tokens). */
  val LineChunk = 10

  /** Intra-document repetition REMOVAL (the transform counterpart of
    * [[repetitionStats]]' measurements): the document is cut into
    * non-overlapping [[LineChunk]]-token windows — the stand-in for lines in
    * this newline-free corpus — duplicate windows after the first occurrence
    * are dropped, and the survivors are reassembled in order. Emits counts
    * plus the fingerprint of the deduplicated text, not the text itself. The
    * whole operator is per-document (explode → window over (doc, chunk) →
    * re-aggregate), so it shuffles on `doc_id`-derived keys only and scales
    * as a narrow pipeline.
    */
  def dedupLines(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val firstSeen = Window.partitionBy("doc_id", "chunk").orderBy("chunk_idx")
    Tables.documents(spark, sfDir) // NOT fanned (r16): A/B 1.24
      .select(
        col("doc_id"),
        col("text"),
        explode(sequence(lit(1), size(toks), lit(LineChunk))).as("start"))
      .select(
        col("doc_id"),
        ((col("start") - 1) / LineChunk).cast("int").as("chunk_idx"),
        array_join(slice(TextOps.tokens(col("text")), col("start"), lit(LineChunk)), " ")
          .as("chunk"))
      .withColumn("occ", row_number().over(firstSeen))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        count(when(col("occ") === 1, 1)).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("occ") === 1,
              struct(col("chunk_idx"), col("chunk"))))),
            s => s.getField("chunk")),
          " ")).as("dedup_fp"))
      .orderBy("doc_id")
  }

  val dedupLinesSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |chunks AS (
       |  SELECT doc_id,
       |         CAST((start - 1) // $LineChunk AS INT) AS chunk_idx,
       |         array_to_string(list_slice(toks, start, start + ${LineChunk - 1}), ' ') AS chunk
       |  FROM (SELECT doc_id, toks,
       |               unnest(generate_series(1, len(toks), $LineChunk)) AS start
       |        FROM t)),
       |occ AS (
       |  SELECT doc_id, chunk_idx, chunk,
       |         row_number() OVER (PARTITION BY doc_id, chunk ORDER BY chunk_idx) AS occ
       |  FROM chunks)
       |SELECT doc_id,
       |       count(*) AS n_chunks,
       |       count(CASE WHEN occ = 1 THEN 1 END) AS n_kept,
       |       md5(string_agg(CASE WHEN occ = 1 THEN chunk END, ' ' ORDER BY chunk_idx))
       |         AS dedup_fp
       |FROM occ
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** CROSS-document chunk dedup (the C4/CCNet corpus discipline, where
    * [[dedupLines]] is the intra-document form): a chunk that occurs
    * anywhere else in the corpus survives only at its globally first
    * occurrence — ordered by (doc_id, chunk_idx), carried as a STRUCT key so
    * lexicographic min is exact at any chunk count (a packed
    * doc_id·10⁶+idx integer would silently corrupt ordering past 10⁶
    * chunks/doc). The first-occurrence table is a grouped `min` —
    * map-side combinable, one row per DISTINCT chunk — joined back on the
    * chunk text: the same compress-then-join shape as the two-stage df
    * rework, so a corpus-dominating boilerplate chunk becomes one dimension
    * row and an AQE-splittable probe side, never a single hot window
    * partition. Emits per-doc survivor counts and the fingerprint of the
    * reassembled text.
    */
  def lineDedupCross(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val chunks = Tables.documentsDerive(spark, sfDir) // fan-out (r16)
      .select(
        col("doc_id"),
        col("text"),
        explode(sequence(lit(1), size(toks), lit(LineChunk))).as("start"))
      .select(
        col("doc_id"),
        ((col("start") - 1) / LineChunk).cast("int").as("chunk_idx"),
        array_join(slice(TextOps.tokens(col("text")), col("start"), lit(LineChunk)), " ")
          .as("chunk"))
    val firsts = chunks
      .groupBy("chunk")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("first_key"))
    chunks.join(firsts, Seq("chunk"))
      .withColumn("kept", struct(col("doc_id"), col("chunk_idx")) === col("first_key"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        count(when(col("kept"), 1)).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("kept"),
              struct(col("chunk_idx"), col("chunk"))))),
            s => s.getField("chunk")),
          " ")).as("kept_fp"))
      .orderBy("doc_id")
  }

  val lineDedupCrossSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |chunks AS (
       |  SELECT doc_id,
       |         CAST((start - 1) // $LineChunk AS INT) AS chunk_idx,
       |         array_to_string(list_slice(toks, start, start + ${LineChunk - 1}), ' ') AS chunk
       |  FROM (SELECT doc_id, toks,
       |               unnest(generate_series(1, len(toks), $LineChunk)) AS start
       |        FROM t)),
       |firsts AS (
       |  SELECT chunk, min({'d': doc_id, 'c': chunk_idx}) AS first_key
       |  FROM chunks GROUP BY chunk)
       |SELECT c.doc_id,
       |       count(*) AS n_chunks,
       |       count(CASE WHEN {'d': c.doc_id, 'c': c.chunk_idx} = f.first_key THEN 1 END) AS n_kept,
       |       md5(coalesce(string_agg(
       |         CASE WHEN {'d': c.doc_id, 'c': c.chunk_idx} = f.first_key THEN c.chunk END,
       |         ' ' ORDER BY c.chunk_idx), '')) AS kept_fp
       |FROM chunks c JOIN firsts f USING (chunk)
       |GROUP BY c.doc_id
       |ORDER BY c.doc_id""".stripMargin

  /** Negatives drawn per anchor and the anchor slice bound. */
  val NegSamplesPerAnchor = 4
  val NegAnchorMaxId = 50L

  /** Deterministic negative sampling for contrastive training: each anchor
    * document draws [[NegSamplesPerAnchor]] candidate ids from an
    * md5-uniform hash of (anchor, draw index) over the dense doc-id space,
    * then drops self-draws and — the part plain random sampling gets wrong —
    * any candidate that is a NEAR-DUPLICATE of its anchor (anti-join against
    * the symmetric jaccard pair set), so a "negative" is never secretly a
    * positive. Draws are pure column arithmetic (reproducible across runs,
    * engines and cluster layouts); the anti-join keys on (anchor, candidate)
    * — pair-set sized, broadcastable at corpus scale since near-dup pairs
    * are sparse. Survivor count per anchor varies (that is the honest
    * contract of rejection sampling; a training loader draws more rounds as
    * needed).
    */
  def negativeSamples(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val pairs = graft.dedup.PairStore.pairsFor(spark, sfDir)
      .select(col("id_a"), col("id_b"))
    val sym = pairs.unionByName(
      pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    val drawn = docs.filter(col("doc_id") < NegAnchorMaxId)
      .select(col("doc_id").as("anchor_id"))
      .crossJoin(broadcast(nDocs))
      .select(col("anchor_id"), explode(sequence(lit(1), lit(NegSamplesPerAnchor))).as("j"),
        col("n_docs"))
      .withColumn("neg_id",
        conv(substring(md5(concat(lit("neg_"), col("anchor_id").cast("string"),
          lit("_"), col("j").cast("string"))), 1, 8), 16, 10).cast("long") % col("n_docs"))
      .filter(col("neg_id") =!= col("anchor_id"))
    // hash % count is a valid document reference ONLY on a dense id space;
    // the join back to `documents` makes the contract structural — on a
    // sparse space a drawn id that references no real document is rejected
    // here instead of silently reaching the training loader. The drawn side
    // is anchors × draws (tiny), so it broadcasts against the corpus scan.
    val real = broadcast(drawn)
      .join(docs.select(col("doc_id").as("neg_id")), Seq("neg_id"))
    real.join(sym,
        real("anchor_id") === sym("id_a") && real("neg_id") === sym("id_b"),
        "left_anti")
      .select(col("anchor_id"), col("j").cast("int").as("j"), col("neg_id"))
      .orderBy("anchor_id", "j")
  }

  val negativeSamplesSql: String =
    s"""WITH ${graft.dedup.DedupOps.jaccardCtes(0.6)},
       |sym AS (
       |  SELECT id_a, id_b FROM pairs
       |  UNION ALL
       |  SELECT id_b, id_a FROM pairs),
       |nd AS (SELECT count(*) AS n_docs FROM documents),
       |drawn AS (
       |  SELECT d.doc_id AS anchor_id, j.j,
       |         CAST('0x' || substr(md5('neg_' || CAST(d.doc_id AS VARCHAR) || '_' || CAST(j.j AS VARCHAR)), 1, 8) AS BIGINT)
       |           % (SELECT n_docs FROM nd) AS neg_id
       |  FROM documents d,
       |       (SELECT unnest(generate_series(1, $NegSamplesPerAnchor)) AS j) j
       |  WHERE d.doc_id < $NegAnchorMaxId)
       |SELECT anchor_id, CAST(j AS INT) AS j, neg_id
       |FROM drawn dr
       |WHERE dr.neg_id != dr.anchor_id
       |  AND EXISTS (SELECT 1 FROM documents dd WHERE dd.doc_id = dr.neg_id)
       |  AND NOT EXISTS (SELECT 1 FROM sym s
       |                  WHERE s.id_a = dr.anchor_id AND s.id_b = dr.neg_id)
       |ORDER BY anchor_id, j""".stripMargin

  // -------------------------------------------------------------------------
  // Per-source quota capping
  // -------------------------------------------------------------------------

  /** Max documents admitted per source. */
  val SourceCap = 15

  /** Domain quota capping: no source may contribute more than [[SourceCap]]
    * documents, the selection within a source decided by a deterministic
    * md5-uniform draw (not doc order — recency or id order would bias the
    * sample). The window is partitioned by `source`, so Spark's
    * WindowGroupLimit pushes the rank limit ahead of the full sort at scale;
    * membership is pinned by the order-independent bounded checksum, never an
    * id list.
    */
  def sourceCap(spark: SparkSession, sfDir: String): DataFrame = {
    val u = conv(substring(md5(concat(lit("cap_"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long")
    val w = Window.partitionBy("source").orderBy(col("u"), col("doc_id"))
    Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), u.as("u"))
      .withColumn("rn", row_number().over(w))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_total"),
        count(when(col("rn") <= SourceCap, 1)).as("n_kept"),
        sum(when(col("rn") <= SourceCap, col("u"))).as("kept_checksum"))
      .orderBy("source")
  }

  val sourceCapSql: String =
    s"""WITH d AS (
       |  SELECT source, doc_id,
       |         CAST('0x' || substr(md5('cap_' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS u
       |  FROM documents),
       |r AS (
       |  SELECT source, u,
       |         row_number() OVER (PARTITION BY source ORDER BY u, doc_id) AS rn
       |  FROM d)
       |SELECT source, count(*) AS n_total,
       |       count(CASE WHEN rn <= $SourceCap THEN 1 END) AS n_kept,
       |       CAST(sum(CASE WHEN rn <= $SourceCap THEN u END) AS BIGINT) AS kept_checksum
       |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------------
  // Token-budget-constrained selection
  // -------------------------------------------------------------------------

  /** Token budget per source. */
  val TokenBudget = 2000L

  /** Best-first selection under a token budget: within each source, documents
    * are taken in quality order (ties to the smaller id) until the running
    * token total would exceed [[TokenBudget]] — the data-selection step of a
    * budgeted pretraining mix. The cumulative sum is a per-source window
    * (never global), so the operator distributes by source; counts and token
    * totals are integers, quality only ORDERS (the shared engine-exact
    * formula), so the oracle hash is float-free.
    */
  def budgetSelect(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(desc("quality"), asc("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, sfDir)
      .select(
        col("source"), col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
        TextOps.qualityCol(col("text")).as("quality"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("cum_tokens") <= TokenBudget, 1)).as("n_kept"),
        sum(when(col("cum_tokens") <= TokenBudget, col("n_tokens"))).as("kept_tokens"))
      .orderBy("source")
  }

  val budgetSelectSql: String =
    s"""WITH d AS (
       |  SELECT source, doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |           / len(string_split(text, ' ')) * 0.7 +
       |         (1.0 - CAST(len(list_filter(string_split(text, ' '),
       |                                     t -> t = 'the' OR t = 'a')) AS DOUBLE)
       |           / len(string_split(text, ' '))) * 0.3 AS quality
       |  FROM documents),
       |c AS (
       |  SELECT source, n_tokens,
       |         sum(n_tokens) OVER (PARTITION BY source ORDER BY quality DESC, doc_id
       |                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
       |  FROM d)
       |SELECT source, count(*) AS n_docs,
       |       count(CASE WHEN cum_tokens <= $TokenBudget THEN 1 END) AS n_kept,
       |       CAST(sum(CASE WHEN cum_tokens <= $TokenBudget THEN n_tokens END) AS BIGINT)
       |         AS kept_tokens
       |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------------
  // N-gram novelty scoring
  // -------------------------------------------------------------------------

  /** Per-document n-gram novelty against everything that came before it in
    * ingestion (doc_id) order: the fraction of the document's shingles whose
    * FIRST corpus occurrence is this document. High-novelty docs add new
    * content; near-zero novelty marks recombinations of already-seen text —
    * the streaming-ingest complement of pairwise near-dup detection. First
    * occurrence per shingle is a two-stage grouped min joined back — the
    * same compress-then-groupBy discipline as [[sharedShingles]], not
    * `min().over(Window.partitionBy(s))`, which would drain every posting of
    * a hot boilerplate shingle through one un-splittable window task (the
    * exact straggler the raw dedup family shed in VERDICT r4 #1). Ratios
    * are ppm integers.
    */
  def noveltyScore(spark: SparkSession, sfDir: String): DataFrame = {
    val perDoc = shingleKeyed(Tables.documentsDerive(spark, sfDir)) // fan-out (r16)
      .groupBy("doc_id", "s")
      .agg(count(lit(1)).as("c"))
    val firstDoc = perDoc.groupBy("s").agg(min("doc_id").as("first_doc"))
    perDoc.join(firstDoc, "s")
      .groupBy("doc_id")
      .agg(
        sum("c").as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), col("c")).otherwise(0L)).as("n_novel"))
      .select(
        col("doc_id"), col("n_shingles"), col("n_novel"),
        expr("(n_novel * 1000000) div n_shingles").as("novelty_ppm"))
      .orderBy("doc_id")
  }

  val noveltyScoreSql: String =
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(${shinglesSql("text")}) AS s
       |  FROM documents WHERE len(string_split(text, ' ')) >= $ShingleK),
       |f AS (
       |  SELECT doc_id, min(doc_id) OVER (PARTITION BY s) AS first_doc FROM sh)
       |SELECT doc_id,
       |       count(*) AS n_shingles,
       |       count(CASE WHEN first_doc = doc_id THEN 1 END) AS n_novel,
       |       count(CASE WHEN first_doc = doc_id THEN 1 END) * 1000000 // count(*)
       |         AS novelty_ppm
       |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_novelty" -> (noveltyScore(_, _)),
    "q_source_cap" -> (sourceCap(_, _)),
    "q_budget_select" -> (budgetSelect(_, _)),
    "q_pii_scrub" -> (piiScrub(_, _)),
    "q_repetition_stats" -> (repetitionStats(_, _)),
    "q_shared_shingles" -> (sharedShingles(_, _)),
    "q_contamination" -> (contamination(_, _)),
    "q_seq_packing" -> (seqPacking(_, _)),
    "q_stratified_sample" -> (stratifiedSample(_, _)),
    "q_importance_sample" -> (importanceSample(_, _)),
    "q_chunking" -> (chunkDocs(_, _)),
    "q_mixture_weights" -> (mixtureWeights(_, _)),
    "q_global_shuffle" -> (globalShuffle(_, _)),
    "q_corpus_delta" -> (corpusDelta(_, _)),
    "q_vocab_drift" -> (vocabDrift(_, _)),
    "q_oov_rate" -> (oovRate(_, _)),
    "q_dedup_lines" -> (dedupLines(_, _)),
    "q_line_dedup_cross" -> (lineDedupCross(_, _)),
    "q_negative_samples" -> (negativeSamples(_, _))
  )

  def oracle: Map[String, String] = Map(
    "q_novelty" -> noveltyScoreSql,
    "q_source_cap" -> sourceCapSql,
    "q_budget_select" -> budgetSelectSql,
    "q_pii_scrub" -> piiScrubSql,
    "q_repetition_stats" -> repetitionStatsSql,
    "q_shared_shingles" -> sharedShinglesSql,
    "q_contamination" -> contaminationSql,
    "q_seq_packing" -> seqPackingSql,
    "q_stratified_sample" -> stratifiedSampleSql,
    "q_importance_sample" -> importanceSampleSql,
    "q_chunking" -> chunkDocsSql,
    "q_mixture_weights" -> mixtureWeightsSql,
    "q_global_shuffle" -> globalShuffleSql(),
    "q_corpus_delta" -> corpusDeltaSql(),
    "q_vocab_drift" -> vocabDriftSql(),
    "q_oov_rate" -> oovRateSql,
    "q_dedup_lines" -> dedupLinesSql,
    "q_line_dedup_cross" -> lineDedupCrossSql,
    "q_negative_samples" -> negativeSamplesSql
  )
}
