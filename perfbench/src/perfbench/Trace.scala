package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counts of the work Spark ran under one job group. */
final class GroupStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskFailures = 0L
  var taskNanos = 0L
  var gcMs = 0L
  var inputRows = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
}

/** Per-job-group listener counts, built only on Spark's public listener
  * API. The harness tags each query's construction and action with its
  * own job group; [[sync]] runs a one-task marker job and waits until its
  * end event arrives, so every event of the work before it has been
  * delivered (the listener bus keeps order per listener).
  */
final class Trace(sc: SparkContext) extends SparkListener {
  private val groups = mutable.Map.empty[String, GroupStats]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val lock = new Object
  @volatile private var markersSeen = 0L
  private var markersSent = 0L

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  private def statsFor(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val g = group(e.properties)
    jobGroup(e.jobId) = g
    statsFor(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    if (jobGroup.remove(e.jobId).contains(Trace.Marker)) markersSeen += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
    val g = group(e.properties)
    stageGroup(e.stageInfo.stageId) = g
    statsFor(g).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val s = statsFor(stageGroup.getOrElse(e.stageId, ""))
    s.tasks += 1
    if (!e.taskInfo.successful) s.taskFailures += 1
    s.taskNanos += e.taskInfo.duration * 1000000L
    Option(e.taskMetrics).foreach { m =>
      s.gcMs += m.jvmGCTime
      s.inputRows += m.inputMetrics.recordsRead
      s.inputBytes += m.inputMetrics.bytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Wait until every listener event posted before this call arrived. */
  def sync(): Unit = {
    sc.setJobGroup(Trace.Marker, Trace.Marker)
    sc.parallelize(Seq(1), 1).count(): Unit
    sc.clearJobGroup()
    markersSent += 1
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (markersSeen < markersSent && System.nanoTime() < deadline) Thread.sleep(1)
  }

  /** Remove and return the counts of job group `g`. */
  def take(g: String): GroupStats = lock.synchronized(groups.remove(g).getOrElse(new GroupStats))
}

object Trace {
  val Marker = "perfbench-sync"
}
