package pipebench

import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Totals of the Spark jobs one job group ran. */
final class GroupTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var recordsRead = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** The benchmark's own SparkListener: per job group, the jobs, stages and
  * tasks Spark ran and what they read, wrote and spilled. The benchmark
  * sets a named group around each of its operations.
  */
final class SparkCounters extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, GroupTotals]()
  private val taskMillis = new ConcurrentLinkedQueue[java.lang.Long]()

  private def totals(g: String): GroupTotals = groups.computeIfAbsent(g, _ => new GroupTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    val t = totals(g)
    t.synchronized(t.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val t = totals(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
    t.synchronized(t.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = totals(stageGroup.getOrDefault(e.stageId, ""))
    val m = e.taskMetrics
    taskMillis.add(e.taskInfo.duration)
    t.synchronized {
      t.tasks += 1
      if (m != null) {
        t.runMs += m.executorRunTime
        t.gcMs += m.jvmGCTime
        t.recordsRead += m.inputMetrics.recordsRead
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Sum over the groups whose id satisfies `p`. */
  def sum(p: String => Boolean): GroupTotals = {
    val out = new GroupTotals
    groups.asScala.foreach { case (g, t) =>
      if (p(g)) t.synchronized {
        out.jobs += t.jobs; out.stages += t.stages; out.tasks += t.tasks
        out.runMs += t.runMs; out.gcMs += t.gcMs
        out.recordsRead += t.recordsRead; out.shuffleWriteBytes += t.shuffleWriteBytes
        out.spillBytes += t.spillBytes
      }
    }
    out
  }

  def taskDurationsMs: Seq[Double] = taskMillis.asScala.map(_.toDouble).toSeq
}

/** Progress of every streaming query, by query name, from Spark's public
  * `StreamingQueryProgress`. Only triggers that ran a batch are kept.
  */
final class StreamProgress extends StreamingQueryListener {
  private val byName = new ConcurrentHashMap[String, ConcurrentLinkedQueue[StreamingQueryProgress]]()
  val failures = new ConcurrentLinkedQueue[String]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.durationMs.containsKey("addBatch"))
      byName.computeIfAbsent(Option(e.progress.name).getOrElse(""),
        _ => new ConcurrentLinkedQueue[StreamingQueryProgress]()).add(e.progress)

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach(x => failures.add(x.take(500)))

  def batches(name: String): Seq[StreamingQueryProgress] =
    Option(byName.get(name)).map(_.asScala.toSeq.sortBy(_.batchId)).getOrElse(Nil)
}

object StreamProgress {
  def startMs(p: StreamingQueryProgress): Long = Instant.parse(p.timestamp).toEpochMilli

  /** Wall clock at which the trigger finished, its commit log written. */
  def commitMs(p: StreamingQueryProgress): Long = startMs(p) + duration(p, "triggerExecution")

  def duration(p: StreamingQueryProgress, key: String): Long =
    Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)

  def watermarkMs(p: StreamingQueryProgress): Option[Long] =
    Option(p.eventTime.get("watermark")).map(w => Instant.parse(w).toEpochMilli)
}
