package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with nanosecond resolution, so the
  * runner's own spans line up with the scheduler's job timestamps.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval: `parent` is 0 for the run's root span. */
final case class Span(id: Long, parent: Long, name: String,
                      startMs: Double, endMs: Double,
                      attrs: Map[String, Any])

/** In-memory span log, written out once when the run ends. Disabled
  * tracers hand out ids but record nothing.
  */
final class Tracer(var enabled: Boolean) {
  private val ids = new AtomicLong(0)
  val spans = mutable.ArrayBuffer.empty[Span]
  def nextId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = if (enabled) spans.synchronized { spans += s; () }

  /** Run `body` as a span named `name` under `parent`. */
  def span[T](name: String, parent: Long, attrs: Map[String, Any] = Map.empty)
             (body: Long => T): T = {
    val id = nextId()
    val t0 = Clock.now()
    try body(id)
    finally record(Span(id, parent, name, t0, Clock.now(), attrs))
  }
}

/** The one listener every run keeps: summed executor CPU from task-end
  * metrics, the source of `cpu_s`.
  */
final class CpuCounter extends SparkListener {
  val cpuNs = new AtomicLong(0)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) { cpuNs.addAndGet(e.taskMetrics.executorCpuTime); () }
}

/** Per-job-group totals of the task metrics the exec and shuffle layers
  * report.
  */
final class GroupAgg {
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
}

final case class JobRec(jobId: Int, group: String, startMs: Double,
                        var endMs: Double)

/** Traced runs only: every job with its group and interval, and task
  * metrics summed per job group. The runner sets one job group per
  * query, so jobs fired inside a query builder land on that query.
  */
final class JobRecorder extends SparkListener {
  @volatile var enabled = false
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val byJob = mutable.HashMap.empty[Int, JobRec]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  val groups = mutable.HashMap.empty[String, GroupAgg]

  private def agg(g: String): GroupAgg = groups.getOrElseUpdate(g, new GroupAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (enabled) {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val rec = JobRec(e.jobId, group, e.time.toDouble, Double.NaN)
      jobs += rec
      byJob(e.jobId) = rec
      e.stageIds.foreach(stageGroup(_) = group)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byJob.remove(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => agg(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageGroup.get(e.stageId).filter(_ => m != null).foreach { g =>
      val a = agg(g)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
    }
  }

  def jobsOf(group: String): Seq[JobRec] = synchronized { jobs.filter(_.group == group).toSeq }
  def aggOf(group: String): GroupAgg = synchronized { groups.getOrElse(group, new GroupAgg) }
}

object Intervals {
  /** Length of the union of `[start, end)` intervals clipped to `[lo, hi)`. */
  def unionMs(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
