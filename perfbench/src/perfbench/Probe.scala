package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** One finished task, as the listener saw it. Times in ms since the epoch
  * (launch/finish) or in the unit named. */
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long, runMs: Long,
                         cpuNs: Long, gcMs: Long, shuffleReadRecords: Long,
                         shuffleWriteBytes: Long, shuffleWriteRecords: Long,
                         spillDiskBytes: Long, peakMemBytes: Long)

/** Counters of the tasks one action ran. A stage that read shuffle input is
  * a reduce stage; every other stage reads the source and is a map stage. */
final case class Counters(tasks: Seq[TaskRec]) {
  private val reduceStages =
    tasks.filter(_.shuffleReadRecords > 0).map(_.stageId).toSet
  val mapTasks: Seq[TaskRec] = tasks.filterNot(t => reduceStages(t.stageId))
  val reduceTasks: Seq[TaskRec] = tasks.filter(t => reduceStages(t.stageId))

  def cpuS: Double = tasks.map(_.cpuNs).sum / 1e9
  def gcS: Double = tasks.map(_.gcMs).sum / 1e3
  def mapCpuS: Double = mapTasks.map(_.cpuNs).sum / 1e9
  def reduceCpuS: Double = reduceTasks.map(_.cpuNs).sum / 1e9
  def shuffleWriteMb: Double = tasks.map(_.shuffleWriteBytes).sum / Mb
  def spillMb: Double = tasks.map(_.spillDiskBytes).sum / Mb
  def peakTaskMemMb: Double =
    if (tasks.isEmpty) 0.0 else tasks.map(_.peakMemBytes).max / Mb
  /** Records the widest shuffle wrote: the map-side output of the
    * aggregate, when the action ran one. */
  def maxShuffleRecords: Long =
    tasks.groupBy(_.stageId).values.map(_.map(_.shuffleWriteRecords).sum)
      .foldLeft(0L)(math.max)
  /** Slowest map task over the median map task, by run time. */
  def mapMaxOverMedian: Double = {
    val runs = mapTasks.map(_.runMs.toDouble).sorted
    if (runs.isEmpty) 1.0 else runs.last / math.max(Stats.median(runs), 1.0)
  }

  private def Mb = 1024.0 * 1024.0
}

/** Task listener of the traced run, registered on the session while
  * [[attach]]ed. Actions run one at a time: [[reset]] before an action,
  * [[take]] after it. */
final class Probe(sc: SparkContext) extends SparkListener {
  private val done = new ConcurrentLinkedQueue[TaskRec]

  def attach(): Unit = sc.addSparkListener(this)

  def detach(): Unit = { BusDrain(sc); sc.removeSparkListener(this) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) done.add(TaskRec(e.stageId, i.launchTime, i.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleWriteMetrics.recordsWritten, m.diskBytesSpilled,
      m.peakExecutionMemory))
  }

  def reset(): Unit = { BusDrain(sc); done.clear() }

  def take(): Counters = {
    BusDrain(sc)
    val out = Vector.newBuilder[TaskRec]
    var t = done.poll()
    while (t != null) { out += t; t = done.poll() }
    Counters(out.result())
  }
}

/** Peak heap in use after any collection since the last [[reset]]: the
  * live set, which does not depend on when the collector chose to run. */
object HeapProbe {
  @volatile private var peakBytes = 0L
  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (used > peakBytes) peakBytes = used
      }
  }

  lazy val install: Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }

  def reset(): Unit = { install; peakBytes = 0L }

  def peakMb: Double = peakBytes / (1024.0 * 1024.0)
}

/** A timed interval of the traced run. `parent` is the id of the span
  * that caused it (0 for none); times are ms since the epoch. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "name" -> name,
    "start_ms" -> startMs, "end_ms" -> endMs)
}

/** Spans held in memory and written out once, when the benchmark ends. */
final class Tracer {
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]

  private def nowMs: Double = System.currentTimeMillis().toDouble

  def start(parent: Int, name: String): Int = {
    spans += Span(spans.size + 1, parent, name, nowMs, Double.NaN)
    spans.size
  }

  def end(id: Int): Unit = spans(id - 1) = spans(id - 1).copy(endMs = nowMs)

  /** Stage and task spans below `parent`, from the listener's records. */
  def addTasks(parent: Int, c: Counters): Unit =
    c.tasks.groupBy(_.stageId).toSeq.sortBy(_._1).foreach { case (stage, ts) =>
      val sid = spans.size + 1
      spans += Span(sid, parent, s"stage-$stage",
        ts.map(_.launchMs).min.toDouble, ts.map(_.finishMs).max.toDouble)
      ts.foreach(t => spans += Span(spans.size + 1, sid, "task", t.launchMs.toDouble, t.finishMs.toDouble))
    }

  def all: Seq[Span] = spans.toSeq
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
