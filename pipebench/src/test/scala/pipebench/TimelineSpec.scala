package pipebench

import org.scalatest.funsuite.AnyFunSuite

class TimelineSpec extends AnyFunSuite {
  test("event time runs 24 times faster than due time") {
    assert(Timeline.dueOffsetMs(Timeline.EventBaseMs) == 0.0)
    assert(Timeline.dueOffsetMs(Timeline.EventBaseMs + 24000L) == 1000.0)
    assert(Timeline.eventMs(1000.0) == Timeline.EventBaseMs + 24000L)
    // a 25 s duty window is due over about a second of wall time
    assert(Timeline.dueOffsetMs(Timeline.EventBaseMs + 25000L) == 25000.0 / 24)
  }

  test("due time and event time map back and forth") {
    for (ms <- Seq(0L, 1L, 999L, 24000L, 3599999L)) {
      val e = Timeline.EventBaseMs + ms
      assert(Timeline.eventMs(Timeline.dueOffsetMs(e)) == e)
    }
  }

  test("a stream file is due when the last event-second it covers is") {
    val dir = java.nio.file.Files.createTempDirectory("pipebench-tl")
    val staged = new Generator(1L, Shape(rate = 240, fixedSeconds = 1, overloadRows = 0, backlogRounds = 0,
      archiveRows = 0))
      .stage(dir, threads = 1)
    staged.stream.foreach { f =>
      val lastEventMs = Timeline.EventBaseMs + (f.index + 1) * Generator.FileSeconds * 1000L
      assert(f.dueMs == Timeline.dueOffsetMs(lastEventMs))
    }
  }

  test("the stream's base is the hour before the tiles' fixed now") {
    assert(Timeline.EventBaseMs == (Pipeline.JobTimeMillis - 3600000L))
    assert(Timeline.EventBaseMs % 3600000L == 0)
  }
}
