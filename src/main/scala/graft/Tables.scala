package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, unix_micros}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import scala.util.control.NonFatal

/** Loaders for the driver-generated TESTDATA tables plus session tuning.
  *
  * [[tune]] runs once per session: [[GraftSession]] applies it to every
  * session it makes (and every main opens its session there). The loaders
  * never re-apply it, so a conf a caller sets on a tuned session
  * (a broadcast threshold, an AQE switch) holds for the queries it builds.
  */
object Tables {

  /** Runtime session tuning — all dynamic SQLConf keys, safe to set on an
    * already-built session. Scale posture: AQE on (runtime re-plan, skew-join
    * splitting, partition coalescing), generous broadcast threshold for the
    * small dimension tables of the star schema.
    */
  def tune(spark: SparkSession): SparkSession = {
    val c = spark.conf
    // TESTDATA events.parquet stores TIMESTAMP(NANOS) which Spark's parquet
    // reader rejects; read it as raw nanosecond longs instead (exact).
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    c.set("spark.sql.session.timeZone", "UTC")
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    c.set("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    spark
  }

  def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  // TPC-H-ish star schema
  def region(s: SparkSession, d: String): DataFrame   = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = read(s, d, "lineitem")

  /** Event stream table, normalized so `ts` is ALWAYS an epoch-nanosecond
    * LongType regardless of how the parquet stores it. Generations of the
    * TESTDATA have shipped `ts` as TIMESTAMP(NANOS) (which Spark's reader
    * surfaces as a raw long via [[tune]]'s `nanosAsLong`) and as
    * TIMESTAMP(MICROS) (surfaced as TIMESTAMP_NTZ). Downstream operators and
    * every DuckDB oracle (`epoch_ns(ts)`) assume the nanosecond instant, so
    * the micros case is widened here — exact, no precision caveat, and the
    * extra Project costs one codegen'd multiply per row. Queries that want a
    * parquet-pushable time-range filter should filter on the NATIVE column
    * first (see [[graft.operators.Grid.recentRange]]) because a predicate on
    * the derived long cannot reach the scan.
    */
  def events(s: SparkSession, d: String): DataFrame = events(s, d, Nil)

  /** [[events]] with epoch-second `[start, end)` intervals applied to the
    * NATIVE `ts` column — the predicate sits below the normalizing Project,
    * so it reaches the parquet scan as a pushed filter (row-group min/max
    * pruning; at cluster scale, partition pruning) in every storage
    * generation. A predicate on the derived nanosecond long is row-equivalent
    * but can never push past the `unix_micros` compute.
    */
  def events(s: SparkSession, d: String, tsIntervals: Seq[(Long, Long)]): DataFrame = {
    val df = read(s, d, "events")
    def filtered(tsLit: Long => Column): DataFrame =
      if (tsIntervals.isEmpty) df
      else df.filter(tsIntervals.map { case (a, b) =>
        col("ts") >= tsLit(a) && col("ts") < tsLit(b)
      }.reduce(_ || _))
    df.schema("ts").dataType match {
      case TimestampNTZType =>
        filtered(sec => lit(java.time.LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC)))
          .withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case TimestampType =>
        filtered(sec => lit(java.time.Instant.ofEpochSecond(sec)))
          .withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case _ => filtered(sec => lit(sec * 1000000000L))
    }
  }

  // LLM-pipeline tables
  def documents(s: SparkSession, d: String): DataFrame  = read(s, d, "documents")

  // embeddings deliberately NOT fanned (r16, measured): the whole ANN/PQ
  // family reads 2 000 × 64-float vectors against broadcast queries or
  // centroids — ~10⁷ FLOPs, trivial next to one extra exchange + 32-task
  // stage. Interleaved A/B (CatalogBench CONF, min-of-3): fan-out LOST on all 11
  // embeddings queries tried (on/off 1.06–2.05, e.g. q_cosine_pairs 2.05,
  // q_ann_topk 1.66, q_kmeans_iter 1.24). Fan-out pays only where per-row
  // derivation dominates (5-gram shingles, md5 chains, media decode).
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")

  /** Total bytes of a table's parquet (file or directory); `Long.MaxValue`
    * when the size cannot be determined, so an unknown input is never
    * treated as "small" by [[deriveFanOut]].
    */
  def tableBytes(spark: SparkSession, sfDir: String, name: String): Long =
    pathBytes(spark, s"$sfDir/$name.parquet")

  /** Total bytes under an arbitrary file/directory path; `Long.MaxValue`
    * when the size cannot be determined (same never-assume-small rule).
    */
  def pathBytes(spark: SparkSession, path: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getContentSummary(p).getLength
    } catch { case NonFatal(_) => Long.MaxValue }

  /** True when `name`'s scan cannot fill even a quarter of the session's
    * cores from its natural splits — the size gate [[deriveFanOut]] fires on,
    * and the regime where parallel duplicate subtrees are cheaper than a
    * shared (serializing) derivation. At cluster scale
    * (bytes ≫ cores × maxPartitionBytes) this is always false.
    */
  def scanIsTiny(spark: SparkSession, sfDir: String, name: String): Boolean =
    pathScanIsTiny(spark, s"$sfDir/$name.parquet")

  /** [[scanIsTiny]] for an arbitrary path (e.g. a posting-store directory). */
  def pathScanIsTiny(spark: SparkSession, path: String): Boolean = {
    val p = spark.sparkContext.defaultParallelism
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m").stripSuffix("b"))
    val bytes = pathBytes(spark, path)
    val naturalTasks = math.max(1L, (bytes + maxSplit - 1) / maxSplit)
    naturalTasks * 4 <= p
  }

  /** Size-gated fan-out for CPU-heavy derivation stages (explode → shingle /
    * md5 / levenshtein chains, ~10²–10³ CPU per input byte vs a plain scan).
    *
    * A scan parallelizes at `maxPartitionBytes` splits and a parquet file
    * never splits below one row group, so a small table (locally: one tiny
    * single-row-group file) feeds its ENTIRE derivation chain — until the
    * first exchange — to a single task while the rest of the box idles.
    * When the scan's natural split count cannot fill even a quarter of the
    * session's cores, repartition to `defaultParallelism` before deriving:
    * the repartition moves only the small raw table (cheap by the same gate
    * that fired it), and every downstream consumer reuses the one exchange.
    * At cluster scale (bytes ≫ cores × maxPartitionBytes) the gate makes
    * this a NO-OP — the scan's own splits carry the parallelism, and a
    * corpus-sized repartition (a full shuffle of the payload) is never paid.
    * The driver's lower-core bench runs keep their meaning: the fan-out
    * width follows `defaultParallelism`, not a constant.
    *
    * `keys` chooses hash partitioning (e.g. `doc_id` when a groupBy(doc_id)
    * immediately follows — the exchange then ALSO satisfies the aggregate's
    * distribution, saving the post-agg shuffle, the [[graft.dedup.DedupOps]]
    * simhash precedent); empty = round-robin, which preserves every
    * downstream exchange exactly as unfanned plans had them.
    */
  def deriveFanOut(
      spark: SparkSession,
      sfDir: String,
      name: String,
      df: DataFrame,
      keys: Seq[Column] = Nil): DataFrame =
    if (scanIsTiny(spark, sfDir, name)) {
      val p = spark.sparkContext.defaultParallelism
      if (keys.nonEmpty) df.repartition(p, keys: _*) else df.repartition(p)
    } else df

  /** [[documents]] projected to (doc_id, text) — the derivation payload —
    * and fanned out for derivation-heavy consumers (project BEFORE the
    * exchange, guide §2.3; consumers needing more columns call
    * [[deriveFanOut]] with their own projection).
    */
  def documentsDerive(s: SparkSession, d: String, keys: Seq[Column] = Nil): DataFrame =
    deriveFanOut(s, d, "documents",
      documents(s, d).select(col("doc_id"), col("text")), keys)

  val AllTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  /** Register every table as a temp view plus the engine's canonical `power`
    * view, so a session is fully queryable through `spark.sql` — the pure-SQL
    * surface (with `dot_arrays` injected by [[GraftSession]]'s extensions,
    * the whole oracle dialect minus DuckDB-isms runs as-is).
    */
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    AllTables.foreach(t => read(spark, sfDir, t).createOrReplaceTempView(t))
    graft.operators.Grid.powerReadings(spark, sfDir).createOrReplaceTempView("power")
  }
}
