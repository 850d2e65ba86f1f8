package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One finished task's counters, as Spark's public listener reports them. */
final case class TaskRec(endMs: Long, cpuNs: Long, gcMs: Long,
                         bytesRead: Long, recordsRead: Long,
                         shuffleRead: Long, shuffleWritten: Long,
                         spill: Long, bytesWritten: Long)

/** Per-layer counters read from outside the program: a SparkListener
  * keeps every task, job and stage end in memory, and windows of wall
  * time are summed after the run. Attached only in traced runs.
  */
final class Trace extends SparkListener {
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobs = new ConcurrentLinkedQueue[(Long, Long)]()
  private val stages = new ConcurrentLinkedQueue[Long]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.taskInfo.finishTime,
      m.executorCpuTime + m.executorDeserializeCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, e.time): Unit

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = Option(jobStarts.remove(e.jobId)).getOrElse(e.time)
    jobs.add((s, e.time)): Unit
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())): Unit

  /** Counters of everything that ended in [fromMs, toMs). */
  def window(fromMs: Long, toMs: Long): Map[String, Double] = {
    def in(t: Long) = t >= fromMs && t < toMs
    val ts = tasks.asScala.filter(t => in(t.endMs)).toSeq
    val js = jobs.asScala.filter(j => in(j._2)).toSeq
    Map(
      "tasks" -> ts.size.toDouble,
      "cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "bytes_read" -> ts.map(_.bytesRead).sum.toDouble,
      "records_read" -> ts.map(_.recordsRead).sum.toDouble,
      "shuffle_read" -> ts.map(_.shuffleRead).sum.toDouble,
      "shuffle_written" -> ts.map(_.shuffleWritten).sum.toDouble,
      "spill" -> ts.map(_.spill).sum.toDouble,
      "bytes_written" -> ts.map(_.bytesWritten).sum.toDouble,
      "jobs" -> js.size.toDouble,
      "stages" -> stages.asScala.count(in).toDouble,
      "job_busy_s" -> Trace.unionMs(js, fromMs, toMs) / 1e3)
  }
}

object Trace {
  /** Length of the union of [start, end) intervals, clipped to a window. */
  def unionMs(iv: Seq[(Long, Long)], fromMs: Long, toMs: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
      .foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Blocks until every posted listener event has been delivered
    * (LiveListenerBus.waitUntilEmpty is not public; reflection, with a
    * short sleep when it is unavailable).
    */
  def drain(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .fold(Thread.sleep(200))(m => m.invoke(bus): Unit)
    } catch { case _: Exception => Thread.sleep(200) }
}

/** Spans kept in memory and written out when the run ends. */
final class Spans {
  private val buf = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)

  def add(name: String, startMs: Long, endMs: Long, parent: Long = 0,
          attrs: Map[String, Any] = Map.empty): Long = {
    val id = ids.incrementAndGet()
    buf.add(Json.obj("id" -> id, "parent" -> parent, "name" -> name,
      "start_ms" -> startMs, "end_ms" -> endMs) ++ attrs)
    id
  }

  def timed[T](name: String, parent: Long = 0)(f: => T): (T, Long) = {
    val s = System.currentTimeMillis()
    val r = f
    (r, add(name, s, System.currentTimeMillis(), parent))
  }

  def all: Seq[Map[String, Any]] = buf.asScala.toSeq
}
