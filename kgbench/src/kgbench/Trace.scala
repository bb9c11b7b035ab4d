package kgbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._

/** Epoch milliseconds with sub-millisecond resolution, on the same base
  * as the times Spark stamps on listener events.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One closed span: `parent` is the id of the enclosing span (-1 at the
  * root), `op` the operation it belongs to, `tag` a free label (the query
  * name in the sweep).
  */
final case class Span(id: Int, name: String, parent: Int, op: Int, tag: String, startMs: Double, endMs: Double)

/** In-memory span recorder. Spans nest and never overlap one another, so
  * a Spark job belongs to the innermost span open when it was submitted,
  * whichever thread submitted it. Disabled, `apply` only runs the body.
  */
final class Spans(val enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  var op = 0

  def apply[T](name: String, tag: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = Clock.nowMs
      try body
      finally {
        open = open.tail
        done += Span(id, name, parent, op, tag, t0, Clock.nowMs)
      }
    }

  def all: Seq[Span] = done.toSeq
}

/** The benchmark's one SparkListener: job windows, the stage ids of each
  * job, and task metrics rolled up per stage attempt.
  */
final class TaskRollup extends SparkListener {
  final class StageAgg {
    var tasks = 0
    var cpuNs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var peakMemBytes = 0L
    val durationsMs = ArrayBuffer.empty[Long]
  }
  /** `site` is where the job was called from: the call site of its SQL
    * execution when it has one (jobs that adaptive execution submits
    * from its own threads carry only their execution's), else of its
    * result stage, e.g. "head at ConnectedComponents.scala:95".
    */
  final case class Job(id: Int, submitMs: Long, stageIds: Seq[Int], site: String, var endMs: Long = -1L)

  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
  private val stages = scala.collection.mutable.LinkedHashMap.empty[(Int, Int), StageAgg]
  private val executionSites = scala.collection.mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { executionSites(s.executionId) = s.description + "\n" + s.details }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val stageSite = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val execSite = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executionSites.get(id.toLong))
    jobs(e.jobId) = Job(e.jobId, e.time, e.stageIds, execSite.getOrElse(stageSite))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg)
    a.tasks += 1
    a.durationsMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      a.peakMemBytes = math.max(a.peakMemBytes, m.peakExecutionMemory)
    }
  }

  def jobsJson: Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.map(j =>
      Map("id" -> j.id, "submit_ms" -> j.submitMs, "end_ms" -> j.endMs, "stage_ids" -> j.stageIds,
        "site" -> j.site))
  }

  def stagesJson: Seq[Map[String, Any]] = synchronized {
    stages.toSeq.map { case ((id, attempt), a) =>
      Map(
        "id" -> id,
        "attempt" -> attempt,
        "tasks" -> a.tasks,
        "cpu_ns" -> a.cpuNs,
        "shuffle_write_bytes" -> a.shuffleWriteBytes,
        "spill_bytes" -> a.spillBytes,
        "peak_mem_bytes" -> a.peakMemBytes,
        "durations_ms" -> a.durationsMs.toSeq
      )
    }
  }
}

/** Highest heap occupancy seen right after any GC, from the JMX GC
  * notifications, since the last `reset`.
  */
object HeapPeak {
  @volatile private var peak = 0L
  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: javax.management.Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        synchronized { if (used > peak) peak = used }
      }
  }

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _                      =>
    }

  def reset(): Unit = synchronized { peak = 0L }
  def peakMb: Double = synchronized { peak / 1048576.0 }
}

/** CPU time of the whole machine in clock ticks, from the first line of
  * /proc/stat: `busy` is time spent running (user, nice, system, irq,
  * softirq), `stolen` time runnable virtual CPUs waited for the host.
  * Zeros where there is no /proc/stat.
  */
final case class CpuTicks(busy: Long, stolen: Long) {
  def -(o: CpuTicks): CpuTicks = CpuTicks(busy - o.busy, stolen - o.stolen)
}

object CpuTicks {
  def now(): CpuTicks =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val v = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      CpuTicks(v(0) + v(1) + v(2) + v(5) + v(6), v(7))
    } catch { case _: Exception => CpuTicks(0L, 0L) }
}
