package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** A timed operation: `name`, wall seconds, and why it failed, if it did. */
final case class Op(name: String, var seconds: Double, var failure: Option[String],
    var cpuSeconds: Double = Double.NaN)

final case class JobRec(id: Int, submit: Long, var end: Long, stages: Seq[Int],
    callSites: Seq[String])
final case class TaskRec(stage: Int, millis: Long, runMs: Long, cpuNs: Long,
    gcMs: Long, shuffleWrite: Long, shuffleWriteRecs: Long,
    shuffleRead: Long, shuffleReadRecs: Long, memSpill: Long,
    diskSpill: Long)

/** One span around a call into a graft layer. Times are epoch ms, the
  * clock Spark stamps its listener events with. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    start: Long, var end: Long = -1L)

/** Operations, spans and failures of one benchmark run, kept in memory and
  * written out once at exit. Spans nest by call: a span opened while
  * another is open is its child. */
final class Recorder(val runId: String, sc: () => SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  def span[A](name: String)(f: => A): A = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
      runId, System.currentTimeMillis())
    spans += s
    open = s :: open
    // the job-group label names the layer in Spark's own event log
    sc().setJobGroup(name, name, interruptOnCancel = false)
    try f
    finally {
      s.end = System.currentTimeMillis()
      open = open.tail
      open.headOption match {
        case Some(p) => sc().setJobGroup(p.name, p.name, interruptOnCancel = false)
        case None    => sc().clearJobGroup()
      }
    }
  }

  val ops = ArrayBuffer.empty[Op]

  /** Time `f` as one attempted operation inside a span of the same name.
    * A thrown exception fails the operation and yields None; it is never
    * timed as a success. */
  def op[A](name: String)(f: => A): Option[(A, Op)] = {
    val o = Op(name, Double.NaN, None)
    ops += o
    val t0 = System.nanoTime()
    val c0 = Recorder.processCpuNs()
    try {
      val r = span(name)(f)
      o.seconds = (System.nanoTime() - t0) / 1e9
      o.cpuSeconds = (Recorder.processCpuNs() - c0) / 1e9
      Some((r, o))
    } catch {
      case e: Throwable =>
        o.failure = Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        None
    }
  }

  def fail(o: Op, why: String): Unit =
    if (o.failure.isEmpty) o.failure = Some(why)
}

object Recorder {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole JVM: every thread, the JIT and GC included. */
  def processCpuNs(): Long = os.getProcessCpuTime
}

/** Task and job totals of one Spark application, collected by a listener
  * that the benchmark registers itself. */
final class TaskListener extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRec(e.jobId, e.time, -1L, e.stageIds, e.stageInfos.map(_.name))
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.duration,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
      m.memoryBytesSpilled, m.diskBytesSpilled)
  }

  def jobOfStage(stage: Int): Option[Int] = synchronized(stageJob.get(stage))
}

/** Per-span sums of the listener's task metrics. A job belongs to the
  * innermost span open when it was submitted (the harness drives Spark from
  * one thread, so that span is unique); a span's totals include its
  * children's. */
final class Attribution(rec: Recorder, l: TaskListener) {
  private val byId = rec.spans.map(s => s.id -> s).toMap

  private def innermost(t: Long): Option[Span] =
    rec.spans.filter(s => s.start <= t && t <= s.end)
      .sortBy(s => (s.end - s.start, -s.id)).headOption

  /** Job id → the span it is charged to, if any. */
  val jobSpan: Map[Int, Option[Int]] =
    l.jobs.map(j => j.id -> innermost(j.submit).map(_.id)).toMap

  private def ancestors(id: Int): List[Int] =
    if (id < 0) Nil else id :: ancestors(byId(id).parent)

  private def jobsUnderIds(roots: Set[Int]): Seq[JobRec] =
    l.jobs.filter(j => jobSpan(j.id).exists(s => ancestors(s).exists(roots))).toSeq

  private def tasksOf(jobs: Seq[JobRec]): Seq[TaskRec] = {
    val js = jobs.map(_.id).toSet
    l.tasks.filter(t => l.jobOfStage(t.stage).exists(js)).toSeq
  }

  /** Jobs charged to spans named `name` or to their descendants. */
  def jobsUnder(name: String): Seq[JobRec] =
    jobsUnderIds(rec.spans.filter(_.name == name).map(_.id).toSet)

  def tasksUnder(name: String): Seq[TaskRec] = tasksOf(jobsUnder(name))

  /** Task totals of span `id`, its descendants included. */
  def totals(id: Int): Map[String, Double] = {
    val jobs = jobsUnderIds(Set(id))
    val ts = tasksOf(jobs)
    def sum(f: TaskRec => Double) = ts.map(f).sum
    val ms = ts.map(_.millis.toDouble)
    Map("jobs" -> jobs.size.toDouble, "tasks" -> ts.size.toDouble,
      "run_ms" -> sum(_.runMs.toDouble), "cpu_ms" -> sum(_.cpuNs / 1e6),
      "gc_ms" -> sum(_.gcMs.toDouble),
      "shuffle_write_bytes" -> sum(_.shuffleWrite.toDouble),
      "shuffle_write_records" -> sum(_.shuffleWriteRecs.toDouble),
      "shuffle_read_bytes" -> sum(_.shuffleRead.toDouble),
      "shuffle_read_records" -> sum(_.shuffleReadRecs.toDouble),
      "memory_spill_bytes" -> sum(_.memSpill.toDouble),
      "disk_spill_bytes" -> sum(_.diskSpill.toDouble),
      "task_ms_max" -> (if (ms.isEmpty) 0.0 else ms.max),
      "task_ms_median" -> (if (ms.isEmpty) 0.0 else Stats.median(ms)))
  }

  /** Job milliseconds in total and in jobs charged to no span. */
  def jobMillis: (Double, Double) = {
    val dur = l.jobs.filter(_.end >= 0).map(j => j.id -> (j.end - j.submit).toDouble)
    (dur.map(_._2).sum, dur.filter(d => jobSpan(d._1).isEmpty).map(_._2).sum)
  }

  /** Median over stages (with at least two tasks) of max / median task
    * time: how much longer a stage's slowest task ran than its typical
    * one. */
  def taskSkew(name: String): Double = {
    val ratios = tasksUnder(name).groupBy(_.stage).values
      .map(_.map(_.millis.toDouble).sorted)
      .filter(_.size >= 2)
      .map(ts => ts.last / math.max(1.0, Stats.median(ts)))
      .toSeq
    if (ratios.isEmpty) 1.0 else Stats.median(ratios)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile, q in [0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
