package pipebench

import java.util.concurrent.locks.LockSupport

/** The generator's release side. The fixed-rate files go out from one
  * thread, each renamed into place at its due wall time; the schedule never
  * waits for Spark, so a slow pipeline sees a growing backlog rather than a
  * slower offer. The overload backlog then goes out in rounds, each at
  * once.
  */
final class Releaser(stream: IndexedSeq[StagedFile]) {
  private val fixed = stream.filterNot(_.backlog)
  private val lags = new Array[Double](fixed.length)
  @volatile private var fixedReleased = 0
  @volatile private var rows = 0L
  @volatile private var failure: Option[Throwable] = None
  @volatile private var fixedStartNanos = 0L
  @volatile private var fixedStartWall = 0L

  private def release(f: StagedFile): Unit = {
    Generator.release(f)
    rows += f.rows
  }

  private val thread = new Thread(() => {
    try {
      var k = 0
      while (k < fixed.length) {
        val dueNanos = fixedStartNanos + (fixed(k).dueMs * 1e6).toLong
        var now = System.nanoTime()
        while (now < dueNanos) {
          LockSupport.parkNanos(dueNanos - now)
          if (Thread.interrupted()) throw new InterruptedException
          now = System.nanoTime()
        }
        release(fixed(k))
        lags(k) = (System.nanoTime() - dueNanos) / 1e6
        k += 1
        fixedReleased = k
      }
    } catch {
      case _: InterruptedException => ()
      case e: Throwable => failure = Some(e)
    }
  }, "pipebench-generator")
  thread.setDaemon(true)

  /** Starts the fixed-rate schedule; due offsets count from this call. */
  def startFixed(): Unit = {
    fixedStartNanos = System.nanoTime()
    fixedStartWall = System.currentTimeMillis()
    thread.start()
  }

  /** Stops the fixed rate if it is still going (files not yet due stay
    * staged), then releases backlog round `k`; returns the wall clock
    * (epoch ms) of the release.
    */
  def releaseBacklog(k: Int): Long = {
    thread.interrupt()
    thread.join(10000)
    failure.foreach(e => throw new IllegalStateException("generator failed", e))
    val files = stream.filter(_.round == k)
    val wall = System.currentTimeMillis()
    Generator.releaseRound(files)
    rows += files.map(_.rows.toLong).sum
    wall
  }

  /** Epoch ms at which a fixed-rate due offset falls. */
  def dueWallMs(dueOffsetMs: Double): Double = fixedStartWall + dueOffsetMs

  def fixedRunning: Boolean = thread.isAlive

  /** Rows released so far. */
  def releasedRows: Long = rows

  /** How late each released fixed-rate file went out, in ms. */
  def releaseLagsMs: Seq[Double] = lags.take(fixedReleased).toSeq
}
