package pipebench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {
  /** SHA-256 over every regular file under `dir`: relative path and bytes, in path order. */
  private def digest(dir: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString).foreach { p =>
      md.update(dir.relativize(p).toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(p))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private val shape = Shape(rate = 2400, fixedSeconds = 2, overloadRows = 2400, backlogRounds = 2,
    archiveRows = 6000)

  private def staged(seed: Long): (String, Staged) = {
    val dir = Files.createTempDirectory("pipebench-gen")
    val s = new Generator(seed, shape).stage(dir, threads = 3)
    (digest(dir), s)
  }

  test("the same seed stages byte-identical inputs; another seed does not") {
    val (a, sa) = staged(7L)
    val (b, _) = staged(7L)
    val (c, _) = staged(8L)
    assert(a == b)
    assert(a != c)
    assert(sa.stream.nonEmpty && sa.backlogRows > 0)
    // the backlog splits into equal rounds, each in a directory of its own
    assert(sa.round(1).nonEmpty && sa.round(1).size == sa.round(2).size)
    assert(sa.round(1).map(_.stagePath.getParent).distinct.size == 1)
    assert(sa.round(1).head.stagePath.getParent != sa.round(2).head.stagePath.getParent)
  }

  test("the thread count does not change the bytes") {
    val d1 = Files.createTempDirectory("pipebench-gen")
    val d2 = Files.createTempDirectory("pipebench-gen")
    new Generator(3L, shape).stage(d1, threads = 1)
    new Generator(3L, shape).stage(d2, threads = 4)
    assert(digest(d1) == digest(d2))
  }

  test("every appliance reports once per event-second; the rate sets the key count") {
    assert(shape.appliances == 2400 / Timeline.Playback)
    val all = new Generator(1L, shape).streamFiles().flatten
    assert(all.length == shape.files * Generator.FileSeconds * shape.appliances)
    val bySecond = all.groupBy(r => (r.eventMs - Timeline.EventBaseMs) / 1000)
    assert(bySecond.size == shape.files * Generator.FileSeconds)
    assert(bySecond.values.forall(_.map(_.appliance).sorted.toSeq == (0 until shape.appliances)))
  }

  test("readings arrive on time, out of order within the watermark, or far beyond it") {
    val files = new Generator(5L, shape).streamFiles()
    val fileMs = Generator.FileSeconds * 1000L
    val placed = files.zipWithIndex.flatMap { case (rs, f) => rs.map(r => (r, f)) }
    val delays = placed.map { case (r, f) =>
      val own = ((r.eventMs - Timeline.EventBaseMs) / fileMs).toInt
      (r, f - own)
    }
    val (late, rest) = delays.partition(_._1.late)
    assert(late.nonEmpty && rest.exists(_._2 == 1))
    // an out-of-order reading crosses at most into the next file
    assert(rest.forall { case (_, d) => d == 0 || d == 1 })
    // a beyond-watermark reading lands LateMs later (or in the last file)
    assert(late.forall { case (r, d) =>
      d >= 1 || placed.find(_._1 eq r).exists(_._2 == shape.files - 1)
    })
  }
}
