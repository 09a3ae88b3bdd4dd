package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-analysis operators for the training-data pipeline over the
  * `documents` table: token counting, quality scoring, language-ID and
  * document fingerprinting. Everything is built from codegen'd
  * `org.apache.spark.sql.functions` (split / higher-order lambdas / md5) — no
  * UDFs, so the whole pipeline stays inside whole-stage codegen and scales
  * linearly with input splits.
  */
object TextOps {

  def tokens(c: Column): Column = split(c, " ")

  /** The quality formula as a reusable Column — type-token ratio blended with
    * inverse stopword density. Single definition shared by the batch
    * [[qualityScore]] and the streaming gate
    * ([[graft.streaming.StreamingCuration]]) so the two can never drift.
    */
  def qualityCol(content: Column): Column = {
    val toks = tokens(content)
    val nTok = size(toks).cast("double")
    val nDis = size(array_distinct(toks)).cast("double")
    val nStop = size(filter(toks, t => t === "the" || t === "a")).cast("double")
    (nDis / nTok) * 0.7 + (lit(1.0) - nStop / nTok) * 0.3
  }

  /** Per-document token statistics (whitespace tokenization). */
  def tokenStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        size(tokens(col("text"))).as("n_tokens"),
        size(array_distinct(tokens(col("text")))).as("n_distinct"),
        length(col("text")).as("n_chars_measured"),
        (length(regexp_replace(col("text"), " ", "")).cast("double") /
          size(tokens(col("text")))).as("avg_token_len"))
      .orderBy("doc_id")

  val tokenStatsSql: String =
    """SELECT doc_id,
      |       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      |       CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
      |       CAST(length(text) AS INT) AS n_chars_measured,
      |       CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len
      |FROM documents ORDER BY doc_id""".stripMargin

  /** GPT-2-style pre-tokenizer pattern, RE2-compatible (no lookarounds, so
    * Spark's Java regex and DuckDB's RE2 match identically): an optional
    * leading space glued to a letter run, digit run, or punctuation run —
    * the segmentation BPE merges start from. Trailing-space handling (the
    * lookahead in the original GPT-2 pattern) is dropped; this corpus is
    * single-spaced so the class split is what matters.
    */
  val BpePattern = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"

  /** Token-budget estimation under a BPE-ish pre-tokenizer vs whitespace —
    * the counts a pipeline uses to cost a corpus in model tokens (whitespace
    * undercounts code/punctuation-heavy text badly). Mixed-class tokens
    * ("user7@example.com") split into several pre-tokens, so bpe ≥ ws on
    * exactly the docs where whitespace counting lies.
    */
  def bpeTokenCount(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        size(tokens(col("text"))).as("ws_tokens"),
        regexp_count(col("text"), lit(BpePattern)).cast("int").as("bpe_tokens"))
      .orderBy("doc_id")

  val bpeTokenCountSql: String =
    s"""SELECT doc_id,
       |       CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
       |       CAST(len(regexp_extract_all(text, '$BpePattern')) AS INT) AS bpe_tokens
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Heuristic quality score: type-token ratio, stopword ratio and a combined
    * score — the length/punct/stopword-ratio family of pretraining quality
    * filters, as pure column arithmetic.
    */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val nDis = size(array_distinct(toks)).cast("double")
    val nStop = size(filter(toks, t => t === "the" || t === "a")).cast("double")
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        nTok.cast("int").as("n_tokens"),
        (nDis / nTok).as("ttr"),
        (nStop / nTok).as("stop_ratio"),
        qualityCol(col("text")).as("quality"))
      .orderBy("doc_id")
  }

  val qualityScoreSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
      |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS n_dis,
      |         CAST(len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a')) AS DOUBLE) AS n_stop
      |  FROM documents)
      |SELECT doc_id,
      |       CAST(n_tok AS INT) AS n_tokens,
      |       n_dis / n_tok AS ttr,
      |       n_stop / n_tok AS stop_ratio,
      |       (n_dis / n_tok) * 0.7 + (1.0 - n_stop / n_tok) * 0.3 AS quality
      |FROM t ORDER BY doc_id""".stripMargin

  /** Marker-token language scorer (n-gram-heuristic stand-in): count hits per
    * language marker set, argmax with a fixed priority order. Deterministic by
    * construction; `hit` compares against the table's labeled `lang`.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a"),
    "de" -> Seq("window", "column"),
    "es" -> Seq("scan", "sort"),
    "fr" -> Seq("join", "merge"),
    "zh" -> Seq("spark", "query")
  )

  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = tokens(col("text"))
    val scores = LangMarkers.map { case (lang, markers) =>
      lang -> size(filter(toks, t => markers.map(t === _).reduce(_ || _)))
    }
    val scored = Tables.documents(spark, sfDir)
      .select(col("doc_id") +: col("lang") +: scores.map { case (l, c) => c.as(s"s_$l") }: _*)
    // argmax with priority = declaration order (en > de > es > fr > zh on ties)
    val langs = LangMarkers.map(_._1)
    val pred = langs.zipWithIndex.init.foldRight(lit(langs.last)) { case ((l, i), elseCol) =>
      val geAll = langs.drop(i + 1).map(o => col(s"s_$l") >= col(s"s_$o")).reduce(_ && _)
      when(geAll, lit(l)).otherwise(elseCol)
    }
    scored
      .withColumn("pred_lang", pred)
      .withColumn("hit", col("pred_lang") === col("lang"))
      .select("doc_id", "lang", "pred_lang", "hit")
      .orderBy("doc_id")
  }

  val langIdSql: String = {
    val scoreCols = LangMarkers.map { case (l, ms) =>
      val cond = ms.map(m => s"t = '$m'").mkString(" OR ")
      s"CAST(len(list_filter(string_split(text, ' '), t -> $cond)) AS INT) AS s_$l"
    }.mkString(",\n         ")
    val langs = LangMarkers.map(_._1)
    val cases = langs.zipWithIndex.init.map { case (l, i) =>
      val ge = langs.drop(i + 1).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $ge THEN '$l'"
    }.mkString("\n         ")
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |         $scoreCols
       |  FROM documents)
       |SELECT doc_id, lang,
       |       CASE $cases ELSE '${langs.last}' END AS pred_lang,
       |       CASE $cases ELSE '${langs.last}' END = lang AS hit
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** Document fingerprints: exact content hash plus an order-insensitive
    * bag-of-words hash (sorted distinct tokens) — the cheap canonical forms
    * used upstream of dedup.
    */
  def fingerprints(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        md5(col("text")).as("content_fp"),
        md5(array_join(array_sort(array_distinct(tokens(col("text")))), " ")).as("bag_fp"))
      .orderBy("doc_id")

  val fingerprintsSql: String =
    """SELECT doc_id,
      |       md5(text) AS content_fp,
      |       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bag_fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Corpus profile: per (source, lang) counts and char totals. */
  def corpusProfile(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy("source", "lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        (sum("n_chars") / count(lit(1))).as("avg_chars"))
      .orderBy("source", "lang")

  val corpusProfileSql: String =
    """SELECT source, lang, count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |       CAST(sum(n_chars) AS BIGINT) / count(*) AS avg_chars
      |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** One merge iteration of BPE vocabulary induction, distributed: the
    * symbol-pair statistics a tokenizer trainer computes over the whole
    * corpus before each merge. Plan shape is the one that makes BPE training
    * feasible at 100 TB: collapse the corpus to a (distinct word, frequency)
    * table first — pair counting then runs over DISTINCT words only (a few
    * million rows regardless of corpus size), weighted by word frequency, so
    * the expensive per-character explode never touches the raw corpus twice.
    * Output: top-k adjacent character pairs by corpus frequency — the pair
    * the next merge would fuse, plus its runners-up.
    */
  def bpeMergeStep(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w")
      .agg(count(lit(1)).as("freq"))
      .select(
        col("freq"),
        explode(expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")).as("pair"))
      .groupBy("pair")
      .agg(sum("freq").as("pair_count"))
      .orderBy(desc("pair_count"), asc("pair"))
      .limit(k)

  def bpeMergeStepSql(k: Int = 20): String =
    s"""WITH words AS (
       |  SELECT w, count(*) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) >= 2
       |  GROUP BY w),
       |pairs AS (
       |  SELECT unnest(list_transform(generate_series(1, length(w) - 1),
       |                               i -> substr(w, i, 2))) AS pair,
       |         freq
       |  FROM words)
       |SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count
       |FROM pairs
       |GROUP BY pair
       |ORDER BY pair_count DESC, pair
       |LIMIT $k""".stripMargin

  /** Iterations of the full BPE trainer ([[bpeTrain]]). */
  val BpeTrainIters = 6

  /** FULL BPE vocabulary training, iterated: where [[bpeMergeStep]] reports
    * one round's raw character-pair statistics, this runs the actual greedy
    * merge loop a tokenizer trainer runs — each word held as a SEQUENCE OF
    * SYMBOLS, the corpus-max adjacent symbol pair fused everywhere
    * (left-to-right, non-overlapping), statistics recomputed over the merged
    * sequences, k rounds. Later rounds therefore merge multi-character
    * symbols (`m`+`er`→`mer`), which the single-step pair count can never
    * see.
    *
    * Distributed shape: the corpus collapses once to the (distinct word,
    * freq) table — vocabulary-sized regardless of corpus size — and every
    * round is one grouped aggregate over it plus a narrow map. Symbol
    * sequences ride in a bracket-delimited string (`low` → `[l][o][w]`), so
    * the merge is a literal `replace(s, '[a][b]', '[ab]')`: leftmost
    * non-overlapping replacement IS greedy BPE merge order, bracket
    * alignment makes a cross-symbol false match impossible, and the engines
    * agree byte-for-byte. The driver sees exactly one row per round (the
    * argmax pair — the same scalar a single-node trainer materializes).
    * Only the starting word table ([[bpeWords0]]) is checkpointed: each
    * round adds one narrow `replace` map on top of it, so the lineage grows
    * linearly (k maps) and each round's argmax recomputes at most k cheap
    * vocabulary-sized string maps. Output: the learned merge ladder (iter,
    * pair, merged symbol, corpus count).
    */
  def bpeTrain(spark: SparkSession, sfDir: String, k: Int = BpeTrainIters): DataFrame = {
    import spark.implicits._
    bpeTrainLoop(spark, sfDir, k)._2
      .toDF("iter", "pair", "merged", "pair_count").orderBy("iter")
  }

  /** The shared trainer loop: returns the FINAL (w, freq, s) word table —
    * every learned merge applied — plus the merge ladder. [[bpeTrain]]
    * reports the ladder; [[bpeEncode]] applies the word table to the
    * corpus.
    */
  private def bpeTrainLoop(
      spark: SparkSession, sfDir: String, k: Int): (DataFrame, Seq[(Int, String, String, Long)]) = {
    var words = bpeWords0(spark, sfDir)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (i <- 1 to k) {
      val best = bpePairCounts(words)
        .orderBy(desc("pair_count"), asc("pair"))
        .limit(1).collect()(0)
      val pair = best.getString(0)
      val fused = pair.replace("][", "")
      merges += ((i, pair, fused.substring(1, fused.length - 1), best.getLong(1)))
      // pair/fused ride as literal Columns, never spliced into SQL text — a
      // corpus token containing a quote or backslash must not be able to
      // alter the expression (it is data, not syntax)
      // no per-round checkpoint: it was one extra job per round (A/B 0.87-0.92)
      words = words
        .withColumn("s", call_function("replace", col("s"), lit(pair), lit(fused)))
    }
    (words, merges.result())
  }

  /** The (distinct word, freq, symbol string) table every trainer round
    * iterates over. Tokens carrying '[' or ']' would forge the bracket
    * delimiters the merge invariant rests on (a corpus symbol
    * indistinguishable from a boundary), so they are excluded from the
    * vocabulary on BOTH engines.
    */
  private def bpeWords0(spark: SparkSession, sfDir: String): DataFrame =
    // NOT fanned (r16, measured): unigram explode — same class as
    // q_bpe_encode's A/B loss (on/off 1.17); exchange overhead dominates
    Tables.documents(spark, sfDir)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2 && !col("w").contains("[") && !col("w").contains("]"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .withColumn("s", regexp_replace(col("w"), "(.)", "[$1]"))
      .localCheckpoint()

  /** One round's adjacent-symbol-pair statistics over the word table —
    * `(pair, pair_count)`, corpus-frequency-weighted.
    */
  private def bpePairCounts(words: DataFrame): DataFrame =
    words
      .select(col("freq"),
        split(expr("substring(s, 2, length(s) - 2)"), "\\]\\[").as("syms"))
      .select(col("freq"), explode(expr(
        "transform(sequence(1, size(syms) - 1), " +
          "j -> concat('[', element_at(syms, j), '][', element_at(syms, j + 1), ']'))"))
        .as("pair"))
      .groupBy("pair").agg(sum("freq").as("pair_count"))

  /** Rounds / per-round candidate window of the BATCHED trainer. */
  val BpeBatchRounds = 3
  val BpeBatchSize = 3

  /** BATCHED BPE training (VERDICT r8 #5): [[bpeTrain]] pays one driver
    * round-trip per merge — a 32k-merge vocabulary would run 32k sequential
    * jobs. Here each round computes the pair statistics ONCE, takes the top
    * `batch` candidates by (count desc, pair asc), and applies every
    * candidate whose two symbols are disjoint from those of ALL
    * higher-ranked candidates in the window (the SentencePiece-style
    * compatibility rule): merging `[a][b]` cannot change the corpus count
    * of `[c][d]` when {a,b} ∩ {c,d} = ∅, so each accepted pair's recorded
    * count is its TRUE corpus count, and the disjoint replaces commute —
    * batched greedy is exact for the accepted set. Driver round-trips drop
    * from `vocab` to `vocab / ~batch` (rounds are FIXED, so the unrolled
    * oracle is static; a conflicted candidate simply waits for the next
    * round's fresh statistics, exactly as the sequential trainer would
    * re-rank it). Output: (iter, round, pair, merged, pair_count) — the
    * ladder in application order.
    */
  def bpeTrainBatched(
      spark: SparkSession, sfDir: String,
      rounds: Int = BpeBatchRounds, batch: Int = BpeBatchSize): DataFrame = {
    import spark.implicits._
    bpeTrainBatchedLoop(spark, sfDir, rounds, batch)._2
      .toDF("iter", "round", "pair", "merged", "pair_count").orderBy("iter")
  }

  private def bpeTrainBatchedLoop(
      spark: SparkSession, sfDir: String, rounds: Int, batch: Int)
      : (DataFrame, Seq[(Int, Int, String, String, Long)]) = {
    var words = bpeWords0(spark, sfDir)
    val merges = Seq.newBuilder[(Int, Int, String, String, Long)]
    var iter = 0
    for (r <- 1 to rounds) {
      // the candidate window is top-`batch` rows — bounded driver state
      val cands = bpePairCounts(words)
        .orderBy(desc("pair_count"), asc("pair"))
        .limit(batch).collect()
        .map(row => (row.getString(0), row.getLong(1)))
      def syms(p: String) = p.substring(1, p.length - 1).split("\\]\\[").toSet
      // accept a candidate iff disjoint from EVERY higher-ranked candidate
      // in the window (accepted or not — the conservative rule keeps the
      // oracle's NOT EXISTS self-join simple and is still always-progress:
      // rank 1 has no higher-ranked candidate)
      val accepted = cands.zipWithIndex.collect {
        case ((p, c), i)
            if cands.take(i).forall { case (q, _) => syms(p).intersect(syms(q)).isEmpty } =>
          (p, c)
      }
      accepted.foreach { case (p, c) =>
        iter += 1
        val fused = p.replace("][", "")
        merges += ((iter, r, p, fused.substring(1, fused.length - 1), c))
      }
      if (accepted.nonEmpty) {
        // no per-round checkpoint, as in the sequential trainer (A/B 0.88-0.92)
        words = words.withColumn("s", accepted.foldLeft(col("s")) { case (cc, (p, _)) =>
          call_function("replace", cc, lit(p), lit(p.replace("][", "")))
        })
      }
    }
    (words, merges.result())
  }

  /** TOKENIZER APPLY — the stage [[bpeTrain]] feeds: encode every document
    * with the learned merge ladder. The trained word table (w → merged
    * symbol string, vocabulary-sized) joins against the corpus's exploded
    * tokens; words outside the trained vocabulary (length < 2 or carrying
    * the bracket delimiters) fall back to their raw character symbols —
    * they have no adjacent-pair statistics, so no merge could apply to
    * them. Output per document: the BPE token count (what sequence packing
    * and token-budget operators consume) and an order-pinned fingerprint of
    * the full symbol sequence (position rides a struct sort, not a window).
    *
    * Scale shape: explode → vocabulary-sized equi-join → grouped agg; the
    * word table is df-bounded and broadcasts when small, and the symbol
    * count per word is pure string arithmetic (count of '[').
    */
  def bpeEncode(spark: SparkSession, sfDir: String, k: Int = BpeTrainIters): DataFrame =
    bpeEncodeWith(spark, sfDir, bpeTrainLoop(spark, sfDir, k)._1.select("w", "s"))

  /** [[bpeEncode]] over the BATCHED trainer's word table — the proof the
    * encoder consumes either ladder unchanged (the word table contract is
    * identical: w → fully-merged symbol string).
    */
  def bpeEncodeBatched(spark: SparkSession, sfDir: String): DataFrame =
    bpeEncodeWith(spark, sfDir,
      bpeTrainBatchedLoop(spark, sfDir, BpeBatchRounds, BpeBatchSize)._1.select("w", "s"))

  private def bpeEncodeWith(spark: SparkSession, sfDir: String, vocab: DataFrame): DataFrame = {
    // NOT fanned (r16, measured): unigram posexplode + broadcast join is
    // cheap per byte — A/B on/off = 1.17 (encode) / 1.21 (fertility)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w")))
    docs.join(vocab, Seq("w"), "left")
      .withColumn("s", coalesce(col("s"), regexp_replace(col("w"), "(.)", "[$1]")))
      .withColumn("n_sym",
        length(col("s")) - length(call_function("replace", col("s"), lit("["), lit(""))))
      .groupBy("doc_id")
      .agg(
        sum("n_sym").cast("long").as("n_bpe_tokens"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("s")))),
            x => x.getField("s")), "")).as("tokens_fp"))
      .orderBy("doc_id")
  }

  /** Tokenizer FERTILITY by source — BPE tokens emitted per whitespace
    * token, the diagnostic that tells a pipeline whether its tokenizer
    * serves each domain equally (a source whose fertility is far above the
    * corpus mean is paying more sequence length per word — classic symptom
    * of a vocabulary trained on a different register). Rides [[bpeEncode]]'s
    * per-document counts joined back to the document dimension; integer ppm
    * so the engines agree exactly.
    */
  def tokenizerFertility(spark: SparkSession, sfDir: String): DataFrame = {
    val perDoc = bpeEncode(spark, sfDir)
      .select(col("doc_id"), col("n_bpe_tokens"))
    val dims = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_words"))
    perDoc.join(dims, "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_bpe_tokens").as("n_bpe_tokens"),
        expr("(1000000 * sum(n_bpe_tokens)) div sum(n_words)").as("fertility_ppm"))
      .orderBy("source")
  }

  def tokenizerFertilitySql(k: Int = BpeTrainIters): String = {
    val (ctes, _) = bpeCtes(k)
    s"""WITH $ctes,
       |doctoks AS (
       |  SELECT doc_id, o.ord, toks[o.ord] AS w
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |       LATERAL (SELECT unnest(generate_series(1, len(toks))) AS ord) o),
       |enc AS (
       |  SELECT d.doc_id,
       |         coalesce(v.s, regexp_replace(d.w, '(.)', '[\\1]', 'g')) AS s
       |  FROM doctoks d LEFT JOIN w$k v ON d.w = v.w),
       |perdoc AS (
       |  SELECT doc_id,
       |         CAST(sum(length(s) - length(replace(s, '[', ''))) AS BIGINT) AS n_bpe_tokens
       |  FROM enc GROUP BY doc_id)
       |SELECT dd.source, count(*) AS n_docs,
       |       CAST(sum(len(string_split(dd.text, ' '))) AS BIGINT) AS n_words,
       |       CAST(sum(p.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
       |       CAST((1000000 * sum(p.n_bpe_tokens)) // sum(len(string_split(dd.text, ' '))) AS BIGINT) AS fertility_ppm
       |FROM perdoc p JOIN documents dd ON p.doc_id = dd.doc_id
       |GROUP BY dd.source ORDER BY dd.source""".stripMargin
  }

  /** Unrolled k-round oracle — an independent DuckDB derivation of the same
    * merge ladder.
    */
  /** The unrolled k-round trainer CTE chain (ending in table `w<k>`, the
    * fully-merged word table) plus the per-round ladder SELECTs — shared by
    * the train and encode oracles.
    */
  private def bpeCtes(k: Int): (String, Seq[String]) = {
    val cte = Seq.newBuilder[String]
    cte += """w0 AS (
      |  SELECT w, count(*) AS freq, regexp_replace(w, '(.)', '[\1]', 'g') AS s
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE length(w) >= 2 AND w NOT LIKE '%[%' AND w NOT LIKE '%]%'
      |  GROUP BY w)""".stripMargin
    val sels = (1 to k).map { i =>
      cte += s"""p$i AS (
        |  SELECT '[' || syms[j] || '][' || syms[j+1] || ']' AS pair,
        |         CAST(sum(freq) AS BIGINT) AS pair_count
        |  FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), '][') AS syms FROM w${i - 1}),
        |       LATERAL (SELECT unnest(generate_series(1, len(syms) - 1)) AS j) t
        |  GROUP BY 1)""".stripMargin
      cte += s"""b$i AS (
        |  SELECT pair, pair_count FROM p$i ORDER BY pair_count DESC, pair LIMIT 1)""".stripMargin
      cte += s"""w$i AS (
        |  SELECT w, freq, replace(s, b.pair, replace(b.pair, '][', '')) AS s
        |  FROM w${i - 1}, b$i b)""".stripMargin
      s"SELECT $i AS iter, pair, " +
        s"replace(replace(replace(pair, '][', ''), '[', ''), ']', '') AS merged, pair_count FROM b$i"
    }
    (cte.result().mkString(",\n"), sels)
  }

  def bpeTrainSql(k: Int = BpeTrainIters): String = {
    val (ctes, sels) = bpeCtes(k)
    "WITH " + ctes + "\n" + sels.mkString("\nUNION ALL\n") + "\nORDER BY iter"
  }

  /** The unrolled BATCHED-trainer CTE chain (ending in the fully-merged word
    * table `w<rounds>`): per round, the top-`batch` candidate window `c<r>`
    * (rank = (count desc, pair asc)), the disjointness-accepted subset
    * `a<r>` (NOT EXISTS a higher-ranked window candidate sharing a symbol),
    * and the word table with every accepted merge applied via a
    * `list_reduce` fold — the same commuting-replace composition the engine
    * runs.
    */
  private def bpeBatchedCtes(rounds: Int, batch: Int): String = {
    val cte = Seq.newBuilder[String]
    cte += """w0 AS (
      |  SELECT w, count(*) AS freq, regexp_replace(w, '(.)', '[\1]', 'g') AS s
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE length(w) >= 2 AND w NOT LIKE '%[%' AND w NOT LIKE '%]%'
      |  GROUP BY w)""".stripMargin
    def symsOf(a: String) =
      s"string_split(substr($a.pair, 2, length($a.pair) - 2), '][')"
    (1 to rounds).foreach { r =>
      cte += s"""p$r AS (
        |  SELECT '[' || syms[j] || '][' || syms[j+1] || ']' AS pair,
        |         CAST(sum(freq) AS BIGINT) AS pair_count
        |  FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), '][') AS syms FROM w${r - 1}),
        |       LATERAL (SELECT unnest(generate_series(1, len(syms) - 1)) AS j) t
        |  GROUP BY 1)""".stripMargin
      cte += s"""c$r AS (
        |  SELECT pair, pair_count,
        |         row_number() OVER (ORDER BY pair_count DESC, pair) AS rn
        |  FROM p$r ORDER BY pair_count DESC, pair LIMIT $batch)""".stripMargin
      cte += s"""a$r AS (
        |  SELECT c1.pair, c1.pair_count, c1.rn FROM c$r c1
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM c$r c2 WHERE c2.rn < c1.rn
        |      AND len(list_intersect(${symsOf("c1")}, ${symsOf("c2")})) > 0))""".stripMargin
      cte += s"""w$r AS (
        |  SELECT ww.w, ww.freq,
        |         list_reduce(list_prepend(ww.s, ps.l),
        |                     (acc, p) -> replace(acc, p, replace(p, '][', ''))) AS s
        |  FROM w${r - 1} ww CROSS JOIN
        |       (SELECT coalesce(list(pair ORDER BY rn), []) AS l FROM a$r) ps)""".stripMargin
    }
    cte.result().mkString(",\n")
  }

  def bpeTrainBatchedSql(
      rounds: Int = BpeBatchRounds, batch: Int = BpeBatchSize): String = {
    val ladder = (1 to rounds)
      .map(r => s"SELECT $r AS round, rn, pair, " +
        "replace(replace(replace(pair, '][', ''), '[', ''), ']', '') AS merged, " +
        s"pair_count FROM a$r")
      .mkString("\nUNION ALL\n")
    s"""WITH ${bpeBatchedCtes(rounds, batch)}
       |SELECT CAST(row_number() OVER (ORDER BY round, rn) AS INT) AS iter,
       |       round, pair, merged, pair_count
       |FROM ($ladder)
       |ORDER BY iter""".stripMargin
  }

  /** Encode oracle over the batched trainer's final word table. */
  def bpeEncodeBatchedSql(
      rounds: Int = BpeBatchRounds, batch: Int = BpeBatchSize): String =
    s"""WITH ${bpeBatchedCtes(rounds, batch)},
       |doctoks AS (
       |  SELECT doc_id, o.ord, toks[o.ord] AS w
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |       LATERAL (SELECT unnest(generate_series(1, len(toks))) AS ord) o),
       |enc AS (
       |  SELECT d.doc_id, d.ord,
       |         coalesce(v.s, regexp_replace(d.w, '(.)', '[\\1]', 'g')) AS s
       |  FROM doctoks d LEFT JOIN w$rounds v ON d.w = v.w)
       |SELECT doc_id,
       |       CAST(sum(length(s) - length(replace(s, '[', ''))) AS BIGINT) AS n_bpe_tokens,
       |       md5(string_agg(s, '' ORDER BY ord)) AS tokens_fp
       |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Encode oracle: the same unrolled trainer chain, with the final word
    * table applied to every document's token stream (out-of-vocabulary
    * words fall back to raw character symbols, exactly as the engine does).
    */
  def bpeEncodeSql(k: Int = BpeTrainIters): String = {
    val (ctes, _) = bpeCtes(k)
    s"""WITH $ctes,
       |doctoks AS (
       |  SELECT doc_id, o.ord, toks[o.ord] AS w
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |       LATERAL (SELECT unnest(generate_series(1, len(toks))) AS ord) o),
       |enc AS (
       |  SELECT d.doc_id, d.ord,
       |         coalesce(v.s, regexp_replace(d.w, '(.)', '[\\1]', 'g')) AS s
       |  FROM doctoks d LEFT JOIN w$k v ON d.w = v.w)
       |SELECT doc_id,
       |       CAST(sum(length(s) - length(replace(s, '[', ''))) AS BIGINT) AS n_bpe_tokens,
       |       md5(string_agg(s, '' ORDER BY ord)) AS tokens_fp
       |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** CCNet-style rarity scoring: how common is this document's vocabulary in
    * the corpus? Token document-frequencies are computed once (distinct
    * (doc, token) explode → grouped count — never a per-token id list), then
    * joined back to each document's token stream and averaged. Documents of
    * rare vocabulary (low mean df) are the tail a curation pipeline either
    * up-samples (diversity) or drops (noise); the integer sum and count are
    * engine-exact, and their IEEE double quotient is bit-identical in both
    * engines. The join back is shuffle-on-token — at 100 TB the df side is
    * vocabulary-sized (millions), broadcast-able after the grouped count.
    */
  def tokenRarity(spark: SparkSession, sfDir: String): DataFrame = {
    // NOT fanned (r16, measured): unigram explode is cheap per byte —
    // A/B on/off = 1.89 against the fan-out; the exchange is pure overhead
    val docs = Tables.documents(spark, sfDir)
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
    val df = toks.groupBy("t").agg(countDistinct("doc_id").as("df"))
    toks
      .join(df, "t")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tok"),
        sum("df").as("sum_df"))
      .withColumn("mean_df", col("sum_df").cast("double") / col("n_tok"))
      .select("doc_id", "n_tok", "sum_df", "mean_df")
      .orderBy("doc_id")
  }

  val tokenRaritySql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |dfreq AS (
      |  SELECT t, count(DISTINCT doc_id) AS df FROM toks GROUP BY t)
      |SELECT doc_id,
      |       count(*) AS n_tok,
      |       CAST(sum(df) AS BIGINT) AS sum_df,
      |       CAST(sum(df) AS DOUBLE) / count(*) AS mean_df
      |FROM toks JOIN dfreq USING (t)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Retrieval-shaped scoring for curation: rank documents against a fixed
    * term set by (distinct terms matched, total term frequency) — the
    * integer-exact core of BM25-style relevance (the log-idf weighting is
    * deliberately absent: libm `log` isn't bit-pinned across engines, and
    * the INTEGER pair ordering is). Plan shape is the inverted-index build:
    * explode to postings, filter to the query terms (pushed to a tiny subset
    * immediately), one grouped count per doc — at 100 TB the posting filter
    * makes this a sparse scan, never a full-corpus aggregate.
    */
  val QueryTerms: Seq[String] = Seq("table", "join", "window", "stream", "hash")

  def termMatchRank(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .filter(col("t").isin(QueryTerms: _*))
      .groupBy("doc_id")
      .agg(
        countDistinct("t").as("n_matched"),
        count(lit(1)).as("total_tf"))
      .orderBy(desc("n_matched"), desc("total_tf"), asc("doc_id"))
      .limit(k)

  def termMatchRankSql(k: Int = 20): String = {
    val inList = QueryTerms.map(t => s"'$t'").mkString(", ")
    s"""SELECT doc_id, count(DISTINCT t) AS n_matched, count(*) AS total_tf
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
       |WHERE t IN ($inList)
       |GROUP BY doc_id
       |ORDER BY n_matched DESC, total_tf DESC, doc_id
       |LIMIT $k""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Count-min sketch heavy hitters
  // -------------------------------------------------------------------------

  /** CMS geometry: 4 rows × 16 columns — deliberately NARROW so collisions
    * (and the est ≥ exact overcount the ledger reports) actually occur on
    * this small vocabulary; column index = the row-salted 16-bit md5 segment
    * of the token mod width, deterministic in both engines.
    */
  val CmsRows = 4
  val CmsWidth = 16

  /** Count-min sketch (Cormode & Muthukrishnan 2005) heavy hitters, built
    * distributed and verified against exact counts: token counts fold into a
    * [[CmsRows]]×[[CmsWidth]] cell table (constant size whatever the vocabulary — the reason a
    * 100 TB pipeline sketches instead of materializing the long tail), the
    * estimate is the min over a token's 4 cells, and the output ledger shows
    * `est ≥ exact` (CMS never under-counts) with the collision overestimate
    * per top token. Everything is integer; the cell table broadcasts back
    * as one map.
    */
  def cmsTopK(spark: SparkSession, sfDir: String, k: Int = 15): DataFrame = {
    val exact = Tables.documents(spark, sfDir) // NOT fanned (r16): A/B 1.26
      .select(explode(tokens(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("exact"))
    def colAt(j: Int, tok: Column): Column =
      (conv(substring(md5(concat(lit(s"${j}_"), tok)), 1, 4), 16, 10).cast("int")
        % CmsWidth).as(s"c_$j")
    val withCols = exact.select(
      (col("t") +: col("exact") +: (0 until CmsRows).map(j => colAt(j, col("t")))): _*)
    // one grouped aggregate over (row, col, weight) triples and one
    // single-row broadcast map, not one groupBy + broadcast join per sketch
    // row (A/B 0.36); cell sums keyed (j*CmsWidth + c_j), so est is an in-row
    // map lookup
    val cells = withCols
      .select(explode(array((0 until CmsRows).map(j =>
        struct(lit(j).as("r"), col(s"c_$j").as("c"), col("exact").as("x"))): _*)).as("e"))
      .groupBy(col("e.r").as("r"), col("e.c").as("c"))
      .agg(sum(col("e.x")).as("cell"))
    val cellMap = cells.agg(
      map_from_arrays(
        collect_list(col("r") * CmsWidth + col("c")),
        collect_list(col("cell"))).as("m"))
    withCols.crossJoin(broadcast(cellMap))
      .select(
        col("t").as("token"), col("exact"),
        least((0 until CmsRows).map(j =>
          element_at(col("m"), lit(j * CmsWidth) + col(s"c_$j"))): _*).as("est"))
      .withColumn("overcount", col("est") - col("exact"))
      .orderBy(desc("exact"), asc("token"))
      .limit(k)
  }

  def cmsTopKSql(k: Int = 15): String = {
    val colDefs = (0 until CmsRows)
      .map(j => s"CAST('0x' || substr(md5('${j}_' || t), 1, 4) AS INT) % $CmsWidth AS c_$j")
      .mkString(",\n       |         ")
    val cellCtes = (0 until CmsRows)
      .map(j => s"cells_$j AS (SELECT c_$j, sum(exact) AS cell_$j FROM e GROUP BY 1)")
      .mkString(",\n       |")
    val joins = (0 until CmsRows)
      .map(j => s"JOIN cells_$j USING (c_$j)")
      .mkString("\n       |  ")
    val leastArgs = (0 until CmsRows).map(j => s"cell_$j").mkString(", ")
    s"""WITH e AS (
       |  SELECT t, count(*) AS exact,
       |         $colDefs
       |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
       |  GROUP BY 1),
       |$cellCtes
       |SELECT t AS token, exact,
       |       CAST(least($leastArgs) AS BIGINT) AS est,
       |       CAST(least($leastArgs) - exact AS BIGINT) AS overcount
       |FROM e
       |  $joins
       |ORDER BY exact DESC, token
       |LIMIT $k""".stripMargin
  }

  /** Per-document TF-IDF top terms — the classic retrieval weighting
    * (Salton & Buckley 1988), ln-free: the idf factor is the rational
    * `N/df` so the score `tf·N/df` is an exact integer ratio both engines
    * turn into the same IEEE double (a log would diverge in the last ulp).
    * Scale shape: one tokenize→explode pass feeds two grouped aggregates
    * (tf by (doc, term) and df by term — map-side combined), an equi-join on
    * `term` (high-cardinality key, even shuffle), the corpus size as the
    * broadcast 1-row-aggregate scalar, and a per-doc rank window that
    * InferWindowGroupLimit prunes map-side to k rows per doc.
    */
  def tfidfTopTerms(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir) // NOT fanned (r16): A/B 1.33
    val total = docs.agg(count(lit(1)).as("n_total"))
    val terms = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // r17: tried and REVERTED (measured) — deriving df FROM tf
    // (`tf.groupBy("term").agg(count(*))`, value-identical since tf has one
    // row per (doc_id, term)) to share the tokenize→explode pass. The shared
    // exchange NEVER materializes: column pruning strips the unused `tf`
    // count from the df-side aggregate, so the two tf subtrees are not
    // canonically equal and AQE stage reuse cannot fire (an explicit
    // isnotnull(term) on both sides — the r11 minhash fix — did not help;
    // the pruned aggregate list is the blocker). Without reuse the shared
    // form runs the explode twice PLUS a stage dependency: interleaved A/B
    // on/off 1.05 / 1.06 / 1.09 (min-of-4/6/6, sf0.1). The countDistinct
    // form keeps the same pass count with independent (overlappable)
    // subtrees.
    val idf = terms.groupBy("term").agg(countDistinct("doc_id").as("df"))
    val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("term"))
    tf.join(idf, "term")
      .crossJoin(broadcast(total))
      .withColumn("score", col("tf") * col("n_total") / col("df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"))
      .orderBy("doc_id", "rank")
  }

  def tfidfTopTermsSql(k: Int = 3): String =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
       |idf AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
       |n AS (SELECT count(*) AS n_total FROM documents)
       |SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df FROM (
       |  SELECT tf.doc_id, tf.term, tf.tf, idf.df,
       |         row_number() OVER (PARTITION BY tf.doc_id
       |           ORDER BY tf.tf * (SELECT n_total FROM n) / idf.df DESC, tf.term) AS rank
       |  FROM tf JOIN idf USING (term))
       |WHERE rank <= $k
       |ORDER BY doc_id, rank""".stripMargin

  /** Duplication ratio per source — the per-domain quality dashboard a crawl
    * curation pipeline watches (a domain whose pages are mostly copies gets
    * down-weighted or dropped before training). Exact-dedup's content hash
    * grouped twice: distinct hashes per source vs total docs, dup share in
    * ppm (integer floor both engines). One aggregate over the corpus; the
    * source key is low-cardinality so the final rollup is a broadcast-sized
    * relation at any corpus scale.
    */
  def dupRatioBySource(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_unique"))
      .withColumn("dup_ppm",
        expr("((n_docs - n_unique) * 1000000) div n_docs"))
      .orderBy("source")

  val dupRatioBySourceSql: String =
    """SELECT source, count(*) AS n_docs,
      |       count(DISTINCT md5(text)) AS n_unique,
      |       CAST(((count(*) - count(DISTINCT md5(text))) * 1000000) // count(*) AS BIGINT) AS dup_ppm
      |FROM documents
      |GROUP BY 1 ORDER BY source""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_tfidf_topterms" -> (tfidfTopTerms(_, _)),
    "q_dup_by_source" -> (dupRatioBySource(_, _)),
    "q_cms_topk" -> (cmsTopK(_, _)),
    "q_term_match_rank" -> (termMatchRank(_, _)),
    "q_bpe_merge_step" -> (bpeMergeStep(_, _)),
    "q_bpe_train" -> (bpeTrain(_, _)),
    "q_bpe_train_batched" -> (bpeTrainBatched(_, _)),
    "q_bpe_encode" -> (bpeEncode(_, _)),
    "q_bpe_encode_batched" -> (bpeEncodeBatched(_, _)),
    "q_tokenizer_fertility" -> (tokenizerFertility(_, _)),
    "q_token_rarity" -> (tokenRarity(_, _)),
    "q_bpe_token_count" -> (bpeTokenCount(_, _)),
    "q_token_stats" -> (tokenStats(_, _)),
    "q_quality_score" -> (qualityScore(_, _)),
    "q_lang_id" -> (langId(_, _)),
    "q_fingerprints" -> (fingerprints(_, _)),
    "q_corpus_profile" -> (corpusProfile(_, _))
  )

  def oracle: Map[String, String] = Map(
    "q_tfidf_topterms" -> tfidfTopTermsSql(),
    "q_dup_by_source" -> dupRatioBySourceSql,
    "q_cms_topk" -> cmsTopKSql(),
    "q_term_match_rank" -> termMatchRankSql(),
    "q_bpe_merge_step" -> bpeMergeStepSql(),
    "q_bpe_train" -> bpeTrainSql(),
    "q_bpe_train_batched" -> bpeTrainBatchedSql(),
    "q_bpe_encode" -> bpeEncodeSql(),
    "q_bpe_encode_batched" -> bpeEncodeBatchedSql(),
    "q_tokenizer_fertility" -> tokenizerFertilitySql(),
    "q_token_rarity" -> tokenRaritySql,
    "q_bpe_token_count" -> bpeTokenCountSql,
    "q_token_stats" -> tokenStatsSql,
    "q_quality_score" -> qualityScoreSql,
    "q_lang_id" -> langIdSql,
    "q_fingerprints" -> fingerprintsSql,
    "q_corpus_profile" -> corpusProfileSql
  )
}
