package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Scheduler and executor counters of one attribution group. */
final class Counters {
  val jobs, stages, tasks, tasksFailed = new AtomicLong
  val cpuNs, runMs, gcMs = new AtomicLong
  val shuffleWrite, shuffleRead, fetchWaitMs = new AtomicLong
  val spill, peakExec, inputBytes, inputRows = new AtomicLong
}

/** A job seen by the listener: its group, id and epoch-ms start/end. */
final case class JobRecord(group: String, id: Int, startMs: Long, endMs: Long)

/** The benchmark's own SparkListener. Every job, stage and task is added
  * once to the run totals and once to the counters of its job group (the
  * benchmark sets one group per query phase; jobs outside any group count
  * under [[Meter.NoGroup]]).
  */
final class Meter extends SparkListener {
  val total = new Counters
  val groups = TrieMap.empty[String, Counters]
  val jobs = new ConcurrentLinkedQueue[JobRecord]
  /** (launch, finish) epoch ms of every finished task. */
  val taskSpans = new ConcurrentLinkedQueue[(Long, Long)]
  private val stageGroup = TrieMap.empty[Int, String]
  private val jobStart = TrieMap.empty[Int, (String, Long)]

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse(Meter.NoGroup)

  private def both(g: String)(f: Counters => Unit): Unit = {
    f(total); f(groups.getOrElseUpdate(g, new Counters))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    jobStart.put(e.jobId, (g, e.time))
    both(g)(_.jobs.incrementAndGet())
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (g, t0) => jobs.add(JobRecord(g, e.jobId, t0, e.time)) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = groupOf(e.properties)
    stageGroup.put(e.stageInfo.stageId, g)
    both(g)(_.stages.incrementAndGet())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrElse(e.stageId, Meter.NoGroup)
    val m = e.taskMetrics
    both(g) { c =>
      c.tasks.incrementAndGet()
      if (e.reason != Success) c.tasksFailed.incrementAndGet()
      if (m != null) {
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.runMs.addAndGet(m.executorRunTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.shuffleRead.addAndGet(
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        c.fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
        c.spill.addAndGet(m.diskBytesSpilled)
        c.peakExec.accumulateAndGet(m.peakExecutionMemory, math.max)
        c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        c.inputRows.addAndGet(m.inputMetrics.recordsRead)
      }
    }
    if (e.taskInfo != null) taskSpans.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
  }
}

object Meter {
  val NoGroup = "-"
}

/** Process-level probes read straight from the JVM and the OS. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Host-wide hypervisor steal in ms (USER_HZ = 100), 0 off Linux. */
  def stealMs: Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().find(_.startsWith("cpu ")).getOrElse("").trim.split("\\s+")
        if (f.length > 8) f(8).toLong * 10 else 0L
      } finally src.close()
    } catch { case _: Exception => 0L }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  /** Highest heap occupancy right after a collection, over the windows
    * where [[watch]] is on; -1 until a collection ends inside one.
    */
  private val peak = new AtomicLong(-1L)
  @volatile private var watching = false

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter =>
      em.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, hb: Any): Unit =
          if (watching && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            peak.accumulateAndGet(after, math.max)
          }
      }, null, null)
    case _ =>
  }

  def watch(on: Boolean): Unit = watching = on
  def heapLivePeak: Long = peak.get
}
