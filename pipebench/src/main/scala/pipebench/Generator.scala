package pipebench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

import graft.streaming.AvroWire
import graft.streaming.StreamingDutyCycle.PowerReading

/** What the generator offers. Keys follow `Grid.powerReadings`: appliance
  * `a` is `user_id = a` in house `1_1_<a % 5>`, and every appliance reports
  * once per event-second. The offered rate sets the key count: at
  * `rate` rows per wall second and [[Timeline.Playback]] event-seconds per
  * wall second there are `rate / Playback` appliances. The stream's
  * fixed-rate files come first, then the overload backlog, in
  * `backlogRounds` rounds of equal size; the archive has the same density.
  */
final case class Shape(rate: Int, fixedSeconds: Double, overloadRows: Int, backlogRounds: Int,
    archiveRows: Int) {
  val appliances: Int = math.max(1, rate / Timeline.Playback)
  /** Files staged for the fixed rate. */
  val fixedFiles: Int = math.ceil(fixedSeconds * Timeline.Playback / Generator.FileSeconds).toInt
  /** Files of the overload backlog. */
  val overloadFiles: Int =
    if (overloadRows <= 0) 0 else math.max(1, overloadRows / (appliances * Generator.FileSeconds))
  val files: Int = fixedFiles + overloadFiles
  require(overloadFiles == 0 || overloadFiles >= backlogRounds, "a backlog round without files")
  /** Backlog round of file `i`, from 1; 0 for a fixed-rate file. */
  def round(i: Int): Int =
    if (i < fixedFiles) 0 else 1 + (i - fixedFiles) * backlogRounds / overloadFiles
  /** Event-seconds in each archive block. */
  val archiveSeconds: Int = archiveRows / (Generator.ArchiveBlocks * appliances)
}

/** One file of the stream, staged at `stagePath` and released to
  * `livePath` by atomic rename: a fixed-rate file (`round` 0) on its own
  * `dueMs` wall ms after the fixed rate starts, a backlog file with the rest
  * of its round, by renaming the round's directory.
  */
final case class StagedFile(index: Int, round: Int, dueMs: Double, rows: Int,
    stagePath: Path, livePath: Path) {
  def backlog: Boolean = round > 0
}

final case class Staged(
    stream: IndexedSeq[StagedFile],
    /** (appliance_id, event ms) of every reading delivered beyond the watermark. */
    late: Seq[(String, Long)],
    prepareSec: Double) {
  def backlogRows: Long = stream.iterator.filter(_.backlog).map(_.rows.toLong).sum
  def round(k: Int): Seq[StagedFile] = stream.filter(_.round == k)
}

/** The benchmark's load generator. Every byte it stages is a function of
  * the seed: readings come from a counter-based hash of (seed, appliance,
  * event-second), never from shared random state, so files can be staged in
  * any order or in parallel.
  */
final class Generator(seed: Long, shape: Shape) {
  import Generator._

  private val names = ApplianceNames

  def applianceId(a: Int): String = s"1_1_${a % 5}_$a"
  def house(a: Int): String = s"1_1_${a % 5}"
  def applianceName(a: Int): String = names(floorMod(mix(seed, a, -1L, 7L), names.length))

  /** Power in watts with two decimals: appliances idle below the duty
    * threshold part of the time and draw a load above it otherwise.
    */
  private def power(a: Int, sec: Long): Double = {
    val h = mix(seed, a, sec, 1L)
    val onShare = 0.2 + 0.6 * unit(mix(seed, a, -2L, 3L))
    val cents =
      if (unit(h) < onShare) 500 + floorMod(h >>> 20, 40000) // 5.00 .. 404.99 W
      else floorMod(h >>> 20, 500)                           // 0.00 .. 4.99 W
    cents / 100.0
  }

  /** Readings of event-second `sec` (relative to the stream's base) and the
    * file each lands in. A reading goes out in the file that covers its
    * delivery time: its event time for most, up to 1.5 s later for a share
    * (out of order, within the 2 s watermark) and [[LateMs]] later for a
    * share (beyond it).
    */
  private def secondReadings(sec: Int): Iterator[(Int, Reading)] =
    Iterator.range(0, shape.appliances).map { a =>
      val offsetMs = sec * 1000L + floorMod(mix(seed, a, sec.toLong, 2L), 1000)
      val u = unit(mix(seed, a, sec.toLong, 4L))
      val delayMs =
        if (u < LateShare) LateMs
        else if (u < LateShare + OutOfOrderShare) 1 + floorMod(mix(seed, a, sec.toLong, 6L), 1500)
        else 0
      val file = math.min(shape.files - 1, ((offsetMs + delayMs) / (FileSeconds * 1000L)).toInt)
      (file, Reading(a, Timeline.EventBaseMs + offsetMs, power(a, sec.toLong), late = delayMs == LateMs))
    }

  /** Every reading of the stream grouped by the file that carries it,
    * each file sorted by event time then appliance.
    */
  def streamFiles(): Array[Array[Reading]] = {
    val byFile = Array.fill(shape.files)(Array.newBuilder[Reading])
    (0 until shape.files * FileSeconds).foreach { s =>
      secondReadings(s).foreach { case (f, r) => byFile(f) += r }
    }
    byFile.map(_.result().sortBy(r => (r.eventMs, r.appliance)))
  }

  /** Archive block `b`: 12:00 UTC on 2024-01-01..05 (inside the history
    * tiles' lookback intervals) for b < [[HistoryDays]], then the stream's
    * hour (inside the dashboard's trailing day).
    */
  def archiveBlock(b: Int): Iterator[Reading] = {
    val startS =
      if (b < HistoryDays) HistoryBaseEpochS + b * 86400L + 43200L
      else Timeline.EventBaseMs / 1000L
    Iterator.range(0, shape.archiveSeconds).flatMap { s =>
      val sec = startS + s
      Iterator.range(0, shape.appliances).map { a =>
        Reading(a, sec * 1000L + floorMod(mix(seed, a, sec, 5L), 1000), power(a, sec), late = false)
      }
    }
  }

  /** Write every input under `dir`, in parallel over files (the bytes do not
    * depend on the thread count): the stream's Kafka-shaped files, staged for
    * release, and the events archive an `sfDir` holds for
    * `GraftSession.open`.
    */
  def stage(dir: Path, threads: Int): Staged = {
    val t0 = System.nanoTime()
    val layout = Layout(dir)
    Seq(layout.streamStage, layout.incoming, layout.events).foreach(Files.createDirectories(_))
    val files = streamFiles()
    def placed(dir: Path, i: Int): Path = shape.round(i) match {
      case 0 => dir.resolve(fileName("f", i))
      case k => dir.resolve(s"round-$k").resolve(fileName("f", i))
    }
    // a file is due when the last event-second it covers is
    def due(i: Int): Double = (i + 1) * FileSeconds * 1000.0 / Timeline.Playback
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, threads))
    try {
      val jobs: Seq[() => Unit] =
        files.indices.map { i =>
          () => writeKafkaFile(placed(layout.streamStage, i), files(i), i)
        } ++ (if (shape.archiveSeconds == 0) Nil else (0 until ArchiveBlocks).map { b =>
          () => writeEventsFile(layout.events.resolve(fileName("block", b)), archiveBlock(b))
        } :+ (() => writeStubTables(layout.archive)))
      jobs.map(j => pool.submit(new Runnable { def run(): Unit = j() })).foreach(_.get())
    } finally pool.shutdown()
    val stream = files.indices.map { i =>
      StagedFile(i, shape.round(i), due(i), files(i).length, placed(layout.streamStage, i),
        placed(layout.incoming, i))
    }
    val late = files.iterator.flatten.filter(_.late).map(r => (applianceId(r.appliance), r.eventMs)).toSeq
    Staged(stream, late, (System.nanoTime() - t0) / 1e9)
  }

  private def writeKafkaFile(path: Path, rows: Array[Reading], fileIndex: Int): Unit = {
    val encode = AvroWire.partitionEncoder()
    val f = new SimpleGroupFactory(KafkaSchema)
    Files.createDirectories(path.getParent)
    withWriter(path, KafkaSchema) { w =>
      rows.iterator.zipWithIndex.foreach { case (r, i) =>
        val value = encode(PowerReading(new Timestamp(r.eventMs), house(r.appliance),
          applianceName(r.appliance), applianceId(r.appliance), r.power))
        w.write(f.newGroup()
          .append("key", Binary.fromConstantByteArray(house(r.appliance).getBytes("UTF-8")))
          .append("value", Binary.fromConstantByteArray(value))
          .append("topic", "power_raw")
          .append("partition", r.appliance % KafkaPartitions)
          .append("offset", fileIndex.toLong * 1000000L + i)
          .append("timestamp", r.eventMs))
      }
    }
  }

  private def writeEventsFile(path: Path, rows: Iterator[Reading]): Unit = {
    val f = new SimpleGroupFactory(EventsSchema)
    withWriter(path, EventsSchema) { w =>
      rows.foreach { r =>
        w.write(f.newGroup()
          .append("event_id", r.eventMs * 16384L + r.appliance)
          .append("ts", r.eventMs * 1000000L)
          .append("user_id", r.appliance.toLong)
          .append("event_type", applianceName(r.appliance))
          .append("value", r.power)
          .append("props", "{}"))
      }
    }
  }

  /** `GraftSession.open` registers every TESTDATA table as a view; the
    * pipeline reads only `events`, so the others are one-row placeholders.
    */
  private def writeStubTables(archive: Path): Unit =
    graft.Tables.AllTables.filterNot(_ == "events").foreach { t =>
      val f = new SimpleGroupFactory(StubSchema)
      withWriter(archive.resolve(s"$t.parquet"), StubSchema)(_.write(f.newGroup().append("id", 0L)))
    }

  private def withWriter(path: Path, schema: MessageType)(
      body: org.apache.parquet.hadoop.ParquetWriter[org.apache.parquet.example.data.Group] => Unit)
      : Unit = {
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withConf(new Configuration(false))
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try body(w) finally w.close()
  }
}

final case class Reading(appliance: Int, eventMs: Long, power: Double, late: Boolean)

/** Directory layout of one run's inputs and outputs. */
final case class Layout(root: Path) {
  val streamStage: Path = root.resolve("stage/stream")
  val incoming: Path = root.resolve("incoming")
  val archive: Path = root.resolve("archive")
  val events: Path = archive.resolve("events.parquet")
  def out(name: String): Path = root.resolve(s"out/$name")
}

object Generator {
  val HistoryDays = 5
  /** The history days plus the stream's hour. */
  val ArchiveBlocks: Int = HistoryDays + 1
  val HistoryBaseEpochS = 1704067200L // 2024-01-01T00:00:00Z, Grid.historyIntervals' base
  /** How late a beyond-watermark reading arrives, in event ms: 2 s of wall
    * time, far past the 2 s event-time watermark.
    */
  val LateMs = 48000L
  /** Share of readings delivered up to 1.5 s late: out of order, within
    * the 2 s watermark.
    */
  val OutOfOrderShare = 0.02
  /** Share of readings delivered [[LateMs]] late, beyond the watermark. */
  val LateShare = 0.002
  /** Event-seconds per stream file: 500 ms of wall time at 24x, the
    * reference producer's linger (`producer_REDD_avro.py`).
    */
  val FileSeconds = 12
  val KafkaPartitions = 6

  val ApplianceNames: Array[String] = Array(
    "refrigerator", "lighting", "dishwasher", "microwave", "washer_dryer",
    "electric_heat", "stove", "kitchen_outlets", "bathroom_gfi", "electronics")

  val KafkaSchema: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary key;
      |  optional binary value;
      |  optional binary topic (STRING);
      |  optional int32 partition;
      |  optional int64 offset;
      |  optional int64 timestamp (TIMESTAMP(MILLIS,true));
      |}""".stripMargin)

  /** TESTDATA's `events` with `ts` as an epoch-nanosecond long. */
  val EventsSchema: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional int64 event_id;
      |  optional int64 ts;
      |  optional int64 user_id;
      |  optional binary event_type (STRING);
      |  optional double value;
      |  optional binary props (STRING);
      |}""".stripMargin)

  val StubSchema: MessageType =
    MessageTypeParser.parseMessageType("message spark_schema { optional int64 id; }")

  def fileName(prefix: String, i: Int): String = f"$prefix-$i%06d.parquet"

  /** SplitMix64 finalizer over the combined key: a counter-based PRNG. */
  def mix(seed: Long, a: Long, b: Long, c: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L +
      b * 0x94D049BB133111EBL + c * 0x2545F4914F6CDD1DL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  def floorMod(h: Long, m: Int): Int = java.lang.Math.floorMod(h, m.toLong).toInt

  /** Atomic release of a staged file: a reader never sees it half-written. */
  def release(f: StagedFile): Unit =
    Files.move(f.stagePath, f.livePath, StandardCopyOption.ATOMIC_MOVE)

  /** Atomic release of a backlog round's directory: a stream lists the
    * whole round or none of it.
    */
  def releaseRound(files: Seq[StagedFile]): Unit =
    Files.move(files.head.stagePath.getParent, files.head.livePath.getParent, StandardCopyOption.ATOMIC_MOVE)

}
