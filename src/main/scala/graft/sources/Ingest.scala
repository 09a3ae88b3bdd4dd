package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batch loaders for the reference's on-disk dataset layouts (SURVEY.md §2.1
  * S3-S6), set-oriented where the reference looped row-by-row in Python.
  *
  * REDD (`producer_REDD_avro.py:66-98`): per-house directories of
  * space-delimited `channel_<i>.dat` readings plus a `labels.dat` channel→name
  * table. GREEND (`producer_GREEND_avro.py:57-99`): per-building wide CSVs
  * (one power column per appliance) with a `labels.json` name list.
  *
  * Both normalize to the engine's PowerReading schema with the reference's
  * identity scheme (`§1.4`): `house_id = "<tag>_<batch>_<houseIdx>"`,
  * `appliance_id = house_id + "_" + channelIdx`, label fallback `"unknown"`,
  * epoch-millisecond timestamps. One `spark.read.csv` over a glob scales to
  * any number of houses — file-per-task parallelism, no driver loops.
  */
object Ingest {

  val ReddTag = "1" // producer_REDD_avro.py:170
  val GreendTag = "2" // producer_GREEND_avro.py:197

  /** REDD channel scan (S3) + label enrichment (S4/J1). */
  def loadRedd(spark: SparkSession, rootDir: String, batchNum: Int = 1): DataFrame = {
    val readings = spark.read
      .option("sep", " ")
      .schema(StructType(Seq(
        StructField("ts_s", LongType),
        StructField("power", DoubleType))))
      .csv(s"$rootDir/house_*/channel_*.dat")
      .withColumn("path", input_file_name())
      .withColumn("house_idx", regexp_extract(col("path"), "house_(\\d+)", 1))
      .withColumn("channel_idx", regexp_extract(col("path"), "channel_(\\d+)", 1))
      .drop("path")
    val labels = spark.read
      .option("sep", " ")
      .schema(StructType(Seq(
        StructField("channel_idx", StringType),
        StructField("appliance_name", StringType))))
      .csv(s"$rootDir/house_*/labels.dat")
      .withColumn("house_idx", regexp_extract(input_file_name(), "house_(\\d+)", 1))
    val house = concat_ws("_", lit(ReddTag), lit(batchNum), col("house_idx"))
    readings
      .join(broadcast(labels), Seq("house_idx", "channel_idx"), "left")
      .na.fill("unknown", Seq("appliance_name"))
      .select(
        house.as("house_id"),
        col("appliance_name"),
        concat_ws("_", house, col("channel_idx")).as("appliance_id"),
        (col("ts_s") * 1000L).as("timestamp"),
        col("power"))
  }

  /** GREEND building scan (S5) + unpivot (G1) + label join (S6/J1) + the
    * reference's data quirks: mid-file repeated header rows dropped (P9),
    * non-numeric cells coerced to 0.0 (P8), columns beyond the label list
    * named "unknown", zero-byte files skipped (they produce no rows).
    */
  def loadGreend(spark: SparkSession, rootDir: String, batchNum: Int = 1): DataFrame = {
    // building dirs can have different appliance counts — load each dir
    // (driver-side listing of a handful of dirs; file reading itself is
    // distributed) and union the normalized long forms.
    val fs = new java.io.File(rootDir)
    val buildings = fs.listFiles().filter(f => f.isDirectory && f.getName.startsWith("building"))
      .map(_.getName).sorted
    val labelMap = loadGreendLabels(spark, s"$rootDir/labels.json")
    val parts = buildings.map { b =>
      val df = spark.read
        .option("header", "true")
        .csv(s"$rootDir/$b/dataset_201*.csv")
      val powerCols = df.columns.filter(_ != "timestamp")
      val names = labelMap.getOrElse(b, Seq.empty)
      val entries = powerCols.zipWithIndex.map { case (c, i) =>
        struct(
          lit(i).as("channel_idx"),
          lit(names.lift(i).getOrElse("unknown")).as("appliance_name"),
          // try_cast: non-numeric cells (the reference's is_number guard,
          // producer_GREEND_avro.py:138-146) become 0.0 instead of ANSI errors
          coalesce(expr(s"try_cast(`$c` AS double)"), lit(0.0)).as("power"))
      }
      val house = concat_ws("_", lit(GreendTag), lit(batchNum), lit(b.stripPrefix("building")))
      df.filter(col("timestamp") =!= "timestamp") // stray mid-file headers
        .select(
          (col("timestamp").cast("double") * 1000).cast("long").as("timestamp"),
          explode(array(entries.toIndexedSeq: _*)).as("e"))
        .select(
          house.as("house_id"),
          col("e.appliance_name"),
          concat_ws("_", house, col("e.channel_idx")).as("appliance_id"),
          col("timestamp"),
          col("e.power"))
    }
    parts.reduce(_ unionByName _)
  }

  /** `labels.json` is a single tiny object `{building: [names]}` — parsed on
    * the driver (it rides along broadcast via the literals above).
    */
  def loadGreendLabels(spark: SparkSession, path: String): Map[String, Seq[String]] = {
    val df = spark.read.option("multiLine", "true").json(path)
    val row = df.head()
    df.columns.zipWithIndex.map { case (b, i) =>
      b -> row.getSeq[String](i)
    }.toMap
  }

  /** The `documents` schema as it arrives on the standard LLM-corpus wire
    * format (JSONL, one document object per line).
    */
  val JsonlCorpusSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("_corrupt_record", StringType)))

  /** JSONL corpus ingestion with malformed-record quarantine: PERMISSIVE
    * parsing routes every unparseable line into `_corrupt_record` instead of
    * failing the job (a 100 TB crawl always contains garbage lines), and the
    * loader splits the scan into (clean, quarantined) so the pipeline can
    * ingest the good rows while the quarantine feeds a repair/alert path.
    * One `spark.read.json` over the glob — file-per-task parallel, no
    * driver involvement; schema is explicit so a corrupt first file can
    * never poison inference.
    */
  def loadJsonlCorpus(spark: SparkSession, glob: String): (DataFrame, DataFrame) = {
    val raw = spark.read
      .schema(JsonlCorpusSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(glob)
      .cache() // one scan serves both splits; unpersisted by the caller
    val clean = raw.filter(col("_corrupt_record").isNull && col("doc_id").isNotNull)
      .drop("_corrupt_record")
    // schema-valid-but-idless lines have a NULL _corrupt_record; re-render
    // their parsed fields so the repair path always receives the line
    val quarantine = raw.filter(col("_corrupt_record").isNotNull || col("doc_id").isNull)
      .select(coalesce(
        col("_corrupt_record"),
        to_json(struct(col("doc_id"), col("text"), col("lang"), col("source"))))
        .as("raw_line"))
    (clean, quarantine)
  }

  /** P10: the per-producer-run uniform power perturbation
    * (`producer_REDD_avro.py:158-159`), seeded for determinism.
    */
  def perturb(readings: DataFrame, seed: Long): DataFrame =
    readings.withColumn("power", col("power") * (lit(0.8) + rand(seed) * 0.4))

  /** S14 replay pacing: wall-clock emission offsets at `playback`x
    * compression with the day-shift that simulates extra producer instances
    * (`producer_REDD_avro.py:80-86,161-188`). Pure column arithmetic — the
    * caller (a demo driver or a rate-limited source) decides how to consume
    * the schedule.
    */
  def replaySchedule(
      readings: DataFrame,
      playbackSpeed: Int,
      instanceIdx: Int = 0,
      startWallMillis: Long = 0L): DataFrame = {
    val dayShifted = col("timestamp") + lit(instanceIdx * 86400000L)
    // global min via a broadcast 1-row aggregate — no single-partition window
    val firstTs = readings.agg(min("timestamp").as("first_ts"))
    readings
      .crossJoin(broadcast(firstTs))
      .withColumn(
        "emit_at_ms",
        lit(startWallMillis) + ((dayShifted - col("first_ts")) / playbackSpeed).cast("long"))
      .drop("first_ts")
  }
}
