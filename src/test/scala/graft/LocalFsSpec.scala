package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.{Event, Label, Name}
import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{NioLocalFileSystem, NioLocalFs, RollupTable}
import graft.streaming.StreamingDutyCycle
import graft.streaming.StreamingDutyCycle.PowerReading

object LocalFsSpec {
  /** Committed after the watched work: once the stream delivers it, every
    * process start that work made has been delivered too.
    */
  @Name("graft.LocalFsSpec.Done") @Label("done")
  class Done extends Event
}

/** The `file` scheme [[GraftSession]] installs: local files and checkpoints
  * without a process per file, and the same modes, links and statuses as
  * Hadoop's stock local filesystem.
  */
class LocalFsSpec extends AnyFunSuite with SharedSpark {

  private def conf(s: SparkSession = spark): Configuration = s.sessionState.newHadoopConf()

  private def stockFs(c: Configuration): LocalFileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(URI.create("file:///"), c)
    fs
  }

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** FileStatus equality compares paths only. */
  private def brief(s: org.apache.hadoop.fs.FileStatus) =
    (s.getPath, s.isDirectory, s.getLen, s.getModificationTime, s.isSymlink,
      if (s.isSymlink) Some(s.getSymlink) else None)

  private def tmp(prefix: String): java.nio.file.Path = Files.createTempDirectory(prefix)

  private def reading(sec: Long, power: Double, app: String = "h0_a0"): PowerReading =
    PowerReading(new Timestamp(sec * 1000L), "h0", "lamp", app, power)

  /** Every process this JVM starts while `body` runs: its command and the
    * top of the stack that started it.
    */
  private def processStarts(body: => Unit): Seq[String] = {
    val starts = new ConcurrentLinkedQueue[String]()
    val done = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.enable(classOf[LocalFsSpec.Done])
      rs.onEvent("jdk.ProcessStart", e => {
        val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala).take(12)
        starts.add(e.getString("command") + " at " + frames
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}").mkString(" < "))
      })
      rs.onEvent("graft.LocalFsSpec.Done", _ => done.countDown())
      rs.startAsync()
      body
      new LocalFsSpec.Done().commit()
      assert(done.await(60, TimeUnit.SECONDS), "the recording never delivered its end marker")
    } finally rs.close()
    starts.asScala.toSeq
  }

  test("checkpointed streams and a partitioned parquet write start no process") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val out = tmp("nofork")
    // once per JVM, not per file: Hadoop's Shell runs a command when its
    // class first loads, and the driver's first heartbeat, 10-20 s after the
    // context starts, runs `getconf PAGESIZE` for the process-tree metrics
    org.apache.hadoop.util.Shell.WINDOWS
    val sc = spark.sparkContext
    val firstBeat =
      sc.startTime + 2 * sc.getConf.getTimeAsMs("spark.executor.heartbeatInterval", "10s") + 5000
    Thread.sleep(math.max(0L, firstBeat - System.currentTimeMillis()))
    val starts = processStarts {
      val input = MemoryStream[PowerReading]
      val readings = input.toDF()
      val duty = StreamingDutyCycle.planAuto(readings).writeStream
        .format("parquet")
        .option("path", out.resolve("duty").toString)
        .option("checkpointLocation", out.resolve("checkpoint/duty").toString)
        .outputMode(OutputMode.Append)
        .start()
      val rollup = RollupTable.streamingWriter(StreamingDutyCycle.rollupPlanFull(readings),
        out.resolve("segments").toString, out.resolve("checkpoint/rollup").toString).start()
      try {
        Seq(
          Seq(reading(100, 10.0), reading(102, 1.0), reading(104, 10.0, "h0_a1")),
          Seq(reading(200, 3.0)), // advances the watermark: windows and buckets close
          Seq(reading(300, 3.0))).foreach { batch =>
          input.addData(batch)
          duty.processAllAvailable()
          rollup.processAllAvailable()
        }
      } finally { duty.stop(); rollup.stop() }
      RollupTable.materialize(spark, sfDir, out.resolve("rollup").toString)
    }
    assert(spark.read.parquet(out.resolve("duty").toString).count() > 0, "no window closed")
    assert(RollupTable.readSegments(spark, out.resolve("segments").toString).count() > 0,
      "no bucket closed")
    assert(Files.list(out.resolve("rollup")).iterator.asScala.exists(_.getFileName.toString
      .startsWith("date=")), "the parquet write is not partitioned")
    assert(starts.size == 0,
      s"${starts.size} process starts, e.g.\n${starts.distinct.take(5).mkString("\n")}")
    // the probe itself sees a fork: Hadoop's stock filesystem shells out to chmod
    val probe = new Path(out.resolve("probe").toUri)
    val forked = processStarts(stockFs(conf()).mkdirs(probe, FsPermission.getDirDefault))
    assert(forked.exists(_.startsWith("chmod")), forked)
  }

  test("create and mkdirs give the modes Hadoop's shell chmod gives, crc files included") {
    val c = conf()
    val graftFs = FileSystem.get(URI.create("file:///"), c)
    val stock = stockFs(c)
    val dir = tmp("modes")
    val restricted = new FsPermission(Integer.parseInt("640", 8).toShort)
    def layout(fs: FileSystem, side: String): Seq[String] = {
      val root = new Path(dir.resolve(side).toUri)
      fs.mkdirs(new Path(root, "a/b"))
      fs.mkdirs(new Path(root, "c"), new FsPermission(Integer.parseInt("750", 8).toShort))
      fs.create(new Path(root, "a/b/f")).close()
      fs.create(new Path(root, "g"), restricted, true, 4096, 1.toShort, 1L << 20, null).close()
      Seq("a", "a/b", "c", "a/b/f", "a/b/.f.crc", "g", ".g.crc")
        .map(dir.resolve(side).resolve(_))
        .map(p => if (Files.exists(p)) s"${dir.resolve(side).relativize(p)} ${mode(p)}" else "-")
    }
    assert(graftFs.isInstanceOf[NioLocalFileSystem])
    val graftModes = layout(graftFs, "graft")
    assert(graftModes == layout(stock, "stock"))
    assert(graftModes.contains("g rw-r-----"), graftModes)
  }

  test("a real symlink reports its target; a file or directory is its plain status") {
    val c = conf()
    val graftFs = FileSystem.get(URI.create("file:///"), c)
    val stock = stockFs(c)
    val dir = tmp("links")
    val target = Files.write(dir.resolve("target"), Array[Byte](1, 2, 3))
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    // Hadoop reads a link only by its plain path; a file: URI reads "not a link"
    val status = graftFs.getFileLinkStatus(new Path(link.toString))
    assert(status.isSymlink)
    assert(status.getSymlink == new Path(target.toUri))
    assert(brief(status) == brief(stock.getFileLinkStatus(new Path(link.toString))))
    Seq(new Path(target.toString), new Path(target.toUri), new Path(dir.toUri)).foreach { p =>
      val s = brief(graftFs.getFileLinkStatus(p))
      assert(!s._5 && s == brief(graftFs.getFileStatus(p)) && s == brief(stock.getFileLinkStatus(p)))
    }
    intercept[java.io.FileNotFoundException](
      graftFs.getFileLinkStatus(new Path(dir.resolve("absent").toUri)))
  }

  test("a rename onto an existing file fails and leaves both files") {
    val graftFs = FileSystem.get(URI.create("file:///"), conf())
    val dir = tmp("rename")
    val Seq(a, b, c) = Seq("a", "b", "c").map(n => new Path(dir.resolve(n).toUri))
    Seq(a -> "1", b -> "2").foreach { case (p, body) =>
      val out = graftFs.create(p)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    assert(!graftFs.rename(a, b))
    assert(Files.readString(dir.resolve("a")) == "1" && Files.readString(dir.resolve("b")) == "2")
    assert(graftFs.rename(a, c) && !graftFs.exists(a) && graftFs.exists(c))
  }

  test("a sticky-bit permission still lands") {
    val graftFs = FileSystem.get(URI.create("file:///"), conf())
    val dir = new Path(tmp("sticky").resolve("d").toUri)
    graftFs.mkdirs(dir)
    graftFs.setPermission(dir, new FsPermission(Integer.parseInt("1777", 8).toShort))
    val perm = graftFs.getFileStatus(dir).getPermission
    assert(perm.getStickyBit && perm.toShort == Integer.parseInt("1777", 8), perm)
  }

  test("the file scheme resolves to the graft classes in every session") {
    val rollup = tmp("fs_open").resolve("r").toString
    val opened = GraftSession.open(sfDir, rollup)
    try {
      Seq(GraftSession.create().newSession(), opened).foreach { s =>
        val c = conf(s)
        assert(FileSystem.get(URI.create("file:///"), c).isInstanceOf[NioLocalFileSystem])
        assert(FileSystem.getLocal(c).isInstanceOf[NioLocalFileSystem])
        assert(FileContext.getLocalFSFileContext(c).getDefaultFileSystem.isInstanceOf[NioLocalFs])
      }
    } finally graft.plans.RollupRewrite.uninstall(opened)
    assert(Paths.get(rollup).toFile.isDirectory)
  }
}
