package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as the listener timestamps Spark reports.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. `op` is shared by every span of one append,
  * trigger, batch or row; `parent` is the enclosing span (0 = root).
  */
final case class Span(id: Long, parent: Long, op: String, kind: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span store; written out once at exit. Disabled tracers
  * record nothing, so the untraced run pays only a branch.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  def newId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time of every span: its duration minus the union of its
    * children's intervals clipped to it. Returns kind -> (count, total
    * self ms).
    */
  def selfTimes: Map[String, (Int, Double)] = {
    val byParent = all.groupBy(_.parent)
    all.groupBy(_.kind).map { case (kind, ss) =>
      val self = ss.map { s =>
        val kids = byParent.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startMs, s.startMs),
            math.min(k.endMs, s.endMs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0
        var curA = Double.NaN; var curB = Double.NaN
        kids.foreach { case (a, b) =>
          if (curA.isNaN || a > curB) {
            if (!curA.isNaN) covered += curB - curA
            curA = a; curB = b
          } else curB = math.max(curB, b)
        }
        if (!curA.isNaN) covered += curB - curA
        math.max(0.0, s.durMs - covered)
      }
      kind -> (ss.size, self.sum)
    }
  }

  def writeJson(path: String): Unit = {
    val body = all.sortBy(_.startMs).map { s =>
      Stats.json(mutable.LinkedHashMap("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "kind" -> s.kind, "start_ms" -> s.startMs,
        "dur_ms" -> s.durMs))
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }
}

/** Task- and job-level data from Spark's public listener events. Jobs
  * are attributed to the harness operation through the local
  * properties the harness sets on its calling thread, or to a
  * streaming trigger through the batch id Spark sets on its own.
  */
final class SparkStats extends SparkListener {
  import SparkStats.{Job, Task}

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val j = Job(e.jobId, e.time, e.stageIds,
      prop(SparkStats.OpKey).getOrElse(""),
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L))
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val info = e.taskInfo
    def acc(name: String): Long = info.accumulables.iterator
      .filter(_.name.contains(name))
      .flatMap(_.update).map {
        case l: Long => l
        case i: Int => i.toLong
        case other => scala.util.Try(other.toString.toLong).getOrElse(0L)
      }.sum
    val dur = info.duration
    val sched = math.max(0L, dur - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime -
      info.gettingResultTime)
    tasks.add(Task(e.stageId, dur, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.executorDeserializeTime + sched,
      acc("containers opened"), acc("records decoded"),
      acc("records block-skipped (no decode)")))
  }

  def jobOf(stage: Int): Option[Job] =
    Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j)))

  /** Aggregates over the tasks whose job passes `keep`. */
  def summary(keep: Job => Boolean): SparkStats.Summary = {
    val ts = tasks.asScala.toSeq.filter(t => jobOf(t.stage).exists(keep))
    val stageSkew = ts.groupBy(_.stage).values.filter(_.size > 1).map { g =>
      val d = g.map(_.durMs.toDouble)
      d.max / math.max(1.0, Stats.median(d))
    }.toSeq
    SparkStats.Summary(
      stages = ts.map(_.stage).distinct.size,
      tasks = ts.size,
      taskMs = ts.map(_.durMs).sum.toDouble,
      cpuMs = ts.map(_.cpuNs).sum / 1e6,
      gcMs = ts.map(_.gcMs).sum.toDouble,
      shuffleWrite = ts.map(_.shuffleWrite).sum.toDouble,
      shuffleRead = ts.map(_.shuffleRead).sum.toDouble,
      spill = ts.map(_.spill).sum.toDouble,
      overheadMs = ts.map(_.overheadMs).sum.toDouble,
      skewP90 = if (stageSkew.isEmpty) 1.0 else Stats.pct(stageSkew, 0.9),
      ocfOpened = ts.map(_.ocfOpened).sum.toDouble,
      ocfDecoded = ts.map(_.ocfDecoded).sum.toDouble,
      ocfSkipped = ts.map(_.ocfSkipped).sum.toDouble)
  }
}

object SparkStats {
  final case class Job(id: Int, startMs: Long, stages: Seq[Int],
                       op: String, batchId: Long) {
    @volatile var endMs: Long = -1L
    @volatile var ok: Boolean = false
  }
  final case class Task(stage: Int, durMs: Long, cpuNs: Long, gcMs: Long,
                        shuffleWrite: Long, shuffleRead: Long, spill: Long,
                        overheadMs: Long, ocfOpened: Long,
                        ocfDecoded: Long, ocfSkipped: Long)

  /** Local property naming the harness operation a job belongs to. */
  val OpKey = "perfbench.op"

  final case class Summary(stages: Int, tasks: Int,
                           taskMs: Double, cpuMs: Double, gcMs: Double,
                           shuffleWrite: Double, shuffleRead: Double,
                           spill: Double, overheadMs: Double,
                           skewP90: Double, ocfOpened: Double,
                           ocfDecoded: Double, ocfSkipped: Double)
}
