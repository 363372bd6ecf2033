package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Totals of the Spark work attributed to one key (a pass or a span). */
final class Totals {
  var jobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var busyMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var maxTaskReadRows = 0L
  /** task durations (ms) per stage, for the skew of the largest stage */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val stageBusy = mutable.Map.empty[Int, Long]

  /** max / median task duration of the stage with the most executor time */
  def taskSkew: Double =
    if (stageBusy.isEmpty) 1.0
    else {
      val ds = stageTasks(stageBusy.maxBy(_._2)._1).sorted
      val med = ds(ds.length / 2)
      ds.last.toDouble / math.max(med, 1L)
    }
}

/** The benchmark's own SparkListener. Jobs are keyed by their job group (set
  * around each traced layer call); jobs without a group go to the current
  * window key (an untraced pass). Events arrive asynchronously: call
  * [[drain]] before reading a key's totals. */
final class LayerListener(sc: SparkContext) extends SparkListener {
  @volatile var window: String = "idle"
  private val stageKey = new ConcurrentHashMap[Int, String]
  private val totals = new ConcurrentHashMap[String, Totals]

  private def of(key: String) = totals.computeIfAbsent(key, _ => new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val key = group.getOrElse(window)
    e.stageIds.foreach(s => stageKey.put(s, key))
    val t = of(key)
    t.synchronized { t.jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = of(Option(stageKey.get(e.stageId)).getOrElse(window))
    t.synchronized {
      t.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) t.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        t.busyMs += m.executorRunTime
        t.gcMs += m.jvmGCTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.diskBytesSpilled
        t.maxTaskReadRows = math.max(t.maxTaskReadRows,
          m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead)
        t.stageBusy(e.stageId) = t.stageBusy.getOrElse(e.stageId, 0L) + m.executorRunTime
      }
      t.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }

  def drain(): Unit = org.apache.spark.perfbenchshim.BusShim.drain(sc)

  def take(key: String): Totals = { drain(); Option(totals.remove(key)).getOrElse(new Totals) }
}

/** Process and machine counters sampled around every pass. */
object Env {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  final case class Sample(nanos: Long, cpuNs: Long, gcMs: Long, jitMs: Long, steal: Long, iowait: Long)

  /** /proc/stat aggregate cpu line: (steal, iowait) in clock ticks. */
  private def procStat(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val c = f.getLines().next().trim.split("\\s+")
        (c(8).toLong, c(5).toLong)
      } finally f.close()
    } catch { case _: Exception => (0L, 0L) }

  def sample(): Sample = {
    val (st, io) = procStat()
    Sample(System.nanoTime(), os.getProcessCpuTime, gcs.map(_.getCollectionTime).sum,
      jit.getTotalCompilationTime, st, io)
  }

  def loadAvg(): String =
    try { val f = scala.io.Source.fromFile("/proc/loadavg"); try f.mkString.trim finally f.close() }
    catch { case _: Exception => "" }

  /** Max heap occupancy after any GC while [[recording]]: the retained heap a
    * pass needs, read from the collectors' own notifications. */
  object PeakHeap {
    @volatile var recording = false
    val peak = new AtomicLong
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: javax.management.NotificationEmitter =>
        em.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (recording && n.getType ==
              com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            peak.accumulateAndGet(used, (a, b) => math.max(a, b))
          }
        }, null, null)
      case _ =>
    }
  }
}
