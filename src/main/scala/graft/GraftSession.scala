package graft

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine — the one way a session is
  * opened: every main, the tests and the pipeline benchmark start here, and
  * every session it returns carries [[GraftExtensions]].
  *
  * The master defaults to `local[N]`, N = `SPARK_GRAFT_CPUS` if set, else
  * the JVM's available processors; on a real cluster the same factory is
  * used with that cluster's master. Every session it returns
  * runs `spark.sql.shuffle.partitions` = the core count of its context
  * (Spark's `defaultParallelism`, so `local[N]` gives N), and children made
  * with `newSession()` inherit it. Batch queries would tolerate a larger
  * count — AQE coalesces their shuffle partitions at run time — but
  * stateful streams cannot: Spark disables AQE for stateful workloads, so
  * the duty-cycle and rollup streams run one state-store task per partition
  * on every trigger, each committing its own delta and checksum files
  * whether or not the trigger read any rows. The checkpoint's offset log
  * then fixes the count for the life of the query, so it must be right when
  * the query first starts. Nothing in the engine assumes single-JVM
  * execution.
  *
  * The `file` scheme is served by [[sources.NioLocalFileSystem]] (FileSystem
  * API) and [[sources.NioLocalFs]] (FileContext API). Without Hadoop's
  * native library the stock local filesystem forks `chmod` for every file it
  * writes and `readlink` about eight times per checkpoint rename: one 8 s
  * pipeline-bench `ingest` run on 4 cores started 3,110 processes (2,112
  * `readlink`, 996 `chmod`, on checkpoint, segment and duty-sink files), and
  * each stream's offset-log commit took ~70 ms instead of ~4 ms. The
  * replacement does the same chmod and link lookup in-process; files, `.crc`
  * siblings and rename semantics are unchanged, and other schemes keep their
  * own filesystems. The confs go on the `SparkConf` before the context
  * starts because Hadoop caches one filesystem per scheme whatever its
  * class: a conf set on a running context would not reach the cached one.
  */
object GraftSession {

  /** The session over this JVM's context, started on `master` if none runs
    * yet. A context that already runs keeps its own cores, and so its own
    * shuffle-partition count: `master` only matters on first start. Fails
    * if this JVM already runs a session without [[GraftExtensions]] (e.g. a
    * `spark-shell` started without [[GraftExtensions.Conf]]): Spark would
    * hand that session back, and the extension cannot be added to it.
    */
  def create(
      appName: String = "graft",
      master: String = s"local[$defaultCpus]"): SparkSession = {
    val conf = new SparkConf()
      .setMaster(master)
      .setAppName(appName)
      // the engine's own surface (dot_arrays, rollup routing, the native
      // joins) arrives the way any Spark library's does: through
      // SparkSessionExtensions. A cluster deployment passes the same conf.
      .set("spark.sql.extensions", classOf[GraftExtensions].getName)
      .set("spark.hadoop.fs.file.impl", classOf[sources.NioLocalFileSystem].getName)
      .set("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[sources.NioLocalFs].getName)
      .set("spark.sql.session.timeZone", "UTC")
      .set("spark.ui.enabled", "false")
      .set("spark.sql.adaptive.enabled", "true")
    val sc = SparkContext.getOrCreate(conf)
    // a builder option, not a conf set afterwards: newSession() children
    // start from the builder options of the session that made the context
    val spark = SparkSession.builder()
      .config(conf)
      .config("spark.sql.shuffle.partitions", sc.defaultParallelism.toLong)
      .getOrCreate()
    if (!GraftExtensions.armed(spark))
      throw new IllegalStateException(
        "this JVM already runs a Spark session without the graft extension; " +
          s"start it with ${GraftExtensions.Conf}")
    sc.setLogLevel("WARN")
    Tables.tune(spark)
  }

  /** `SPARK_GRAFT_CPUS` if set, else the JVM's available processors. */
  private def defaultCpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  /** One-call engine bootstrap: a session (child of the JVM's context, so
    * repeated opens stay isolated) with every table registered as a view,
    * the canonical `power` view, the second-granularity rollup materialized
    * at `rollupPath`, and the rollup-routing rule installed. After this, the
    * full surface is available through plain `spark.sql` — dashboard tiles
    * included, served from the rollup where the rewrite proves it exact.
    *
    * `coarseGranularities` materializes additional lattice levels under
    * `rollupPath_<g>s` (each re-aggregated from the previous finer level) and
    * installs them: minute/hour tiles then read tables that are another
    * 60×/3600× smaller than the 1 s rollup.
    */
  def open(
      sfDir: String,
      rollupPath: String,
      appName: String = "graft",
      coarseGranularities: Seq[Long] = Nil): SparkSession = {
    val spark = create(appName).newSession()
    Tables.tune(spark)
    Tables.registerViews(spark, sfDir)
    sources.RollupTable.materialize(spark, sfDir, rollupPath)
    val coarse = latticeWalk(rollupPath, coarseGranularities) {
      case (src, path, g) => sources.RollupTable.materializeCoarse(spark, src, path, g)
    }
    plans.RollupRewrite.install(
      spark, rollupPath, operators.Grid.powerReadings(spark, sfDir), coarse)
    spark
  }

  /** One-call incremental maintenance for an [[open]]-built lattice: rebuild
    * the 1 s rollup's hour segments at/after `sinceEpochS` from raw, then
    * cascade the refresh through every coarse level in derivation order —
    * each level re-derived from the same finer table [[open]] built it from.
    * Hour-aligned partition upserts all the way down, so segments before the
    * boundary are untouched at every level and the whole call is idempotent.
    * The installed rule keeps serving throughout (temp views resolve the
    * refreshed parquet on next query).
    *
    * The lattice to refresh is read from the INSTALLED rule, so the cascade
    * always covers every level the router serves — a caller-supplied subset
    * would refresh the fine tables while minute tiles kept routing to stale
    * coarse views. `coarseGranularities` therefore only matters on a session
    * with no rule installed; against an installed lattice it is validated
    * (empty, or exactly the installed set) and otherwise rejected.
    */
  def maintain(
      spark: SparkSession,
      sfDir: String,
      rollupPath: String,
      sinceEpochS: Long,
      coarseGranularities: Seq[Long] = Nil): Unit = {
    val gs = plans.RollupRewrite.installedFor(spark).flatMap(_.lattice) match {
      case Some((installedPath, installedCoarse)) =>
        require(installedPath == rollupPath,
          s"maintain targets $rollupPath but the installed lattice roots at $installedPath")
        val installedGs = installedCoarse.map(_._2).distinct.sorted
        // the cascade below re-derives each level's path by the open()
        // convention — if the rule was installed directly over paths that
        // do not follow it, refreshing the conventional paths would leave
        // the ROUTED paths stale forever. Fail fast instead.
        val conventional = installedGs.map(g => (s"${rollupPath}_${g}s", g)).toSet
        require(installedCoarse.toSet == conventional,
          s"installed lattice paths ${installedCoarse.mkString(",")} do not follow " +
            s"the ${rollupPath}_<g>s convention maintain refreshes — refresh those " +
            "paths directly (or re-open the session) instead of calling maintain")
        require(
          coarseGranularities.isEmpty ||
            coarseGranularities.distinct.sorted == installedGs,
          s"maintain granularities ${coarseGranularities.sorted.mkString(",")} != " +
            s"installed lattice ${installedGs.mkString(",")} — a partial refresh " +
            "would leave routed coarse views stale")
        installedGs
      case None => coarseGranularities
    }
    sources.RollupTable.materializeIncrement(spark, sfDir, rollupPath, sinceEpochS)
    val levels = latticeWalk(rollupPath, gs) {
      case (src, path, g) =>
        // each level must read its refreshed source, not a cached listing
        spark.catalog.refreshByPath(src)
        sources.RollupTable.materializeCoarseIncrement(spark, src, path, g, sinceEpochS)
    }
    // the installed views hold LogicalRelations whose file indexes still
    // list the replaced segment files (refreshByPath only touches CACHED
    // plans) — re-register each view over a fresh read so the routing rule
    // resolves the new listing
    spark.read.parquet(rollupPath)
      .createOrReplaceTempView(plans.RollupRewrite.RollupViewName)
    levels.foreach { case (p, g) =>
      spark.read.parquet(p)
        .createOrReplaceTempView(plans.RollupRewrite.viewName(g))
    }
  }

  /** Visit the lattice levels finest-first, deriving each from the coarsest
    * already-visited level that divides it (floor composition needs prev | g;
    * falls back to the 1 s table). Returns (path, granularity) coarsest-first
    * — the shape [[plans.RollupRewrite.install]] takes.
    */
  private def latticeWalk(rollupPath: String, granularities: Seq[Long])(
      build: (String, String, Long) => Unit): List[(String, Long)] =
    granularities.distinct.sorted.foldLeft(List.empty[(String, Long)]) { (done, g) =>
      val src = done.collectFirst { case (p, pg) if g % pg == 0 => p }
        .getOrElse(rollupPath)
      val path = s"${rollupPath}_${g}s"
      build(src, path, g)
      (path, g) :: done
    }
}
