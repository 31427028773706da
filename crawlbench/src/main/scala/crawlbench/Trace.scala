package crawlbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One traced interval. Times are epoch milliseconds (fractional), the
 * clock Spark's listener events use. `parent` is -1 for a root span. */
final case class Span(id: Long, parent: Long, name: String,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span recorder: spans are kept until the run ends and written
 * out then. The benchmark opens a root span per workload pass and a child
 * span around each call it makes into a layer; `JobTracer` hangs Spark
 * jobs and stages under them. */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()

  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6
  def newId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = synchronized { done += s }
  def spans: Seq[Span] = synchronized(done.toVector)

  /** The innermost span open on this thread, or -1. */
  def current: Long = stack.get.headOption.getOrElse(-1L)

  /** Run `f` inside a span named `name`, child of the current one. */
  def span[T](name: String)(f: Long => T): T = {
    val id = newId()
    val parent = current
    val t0 = nowMs
    stack.set(id :: stack.get)
    try f(id)
    finally {
      stack.set(stack.get.tail)
      record(Span(id, parent, name, t0, nowMs))
    }
  }

}

object Tracer {

  /** Spans as a JSON array, each with its self time. */
  def toJson(spans: Seq[Span]): String = {
    val children = spans.groupBy(_.parent)
    spans.sortBy(_.startMs).map { s =>
      val self = selfTimeMs(s, children.getOrElse(s.id, Nil))
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"self_ms":$self%.3f}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }

  /** A span's self time: its duration minus the part of its interval that
   * its direct children cover (overlapping children count once). */
  def selfTimeMs(parent: Span, children: Seq[Span]): Double =
    parent.durMs - coveredMs(children.map(c => (c.startMs, c.endMs)),
      parent.startMs, parent.endMs)

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def coveredMs(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** Per-job record kept by `JobTracer`. */
final case class JobRec(jobId: Int, runSpan: Long, label: String,
    startMs: Double, var endMs: Double, stageIds: Seq[Int])

/** Per-stage record: task count, summed metrics, and every task's run time. */
final class StageRec(val stageId: Int, val jobId: Int) {
  var startMs: Double = Double.NaN
  var endMs: Double = Double.NaN
  var tasks: Long = 0
  var runMs: Long = 0
  var gcMs: Long = 0
  var shuffleReadBytes: Long = 0
  var shuffleWriteBytes: Long = 0
  var spillBytes: Long = 0
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
}

/** Benchmark-side SparkListener. Jobs are attributed to the benchmark span
 * named by the `RunKey` local property set before a layer call (the crawl
 * loop's write-pool threads inherit it) and grouped by the crawl loop's own
 * `graft.metrics.label` (`gen:action`) property. */
final class JobTracer(sc: SparkContext, tracer: Tracer) extends SparkListener {
  import JobTracer._

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]

  override def onJobStart(ev: SparkListenerJobStart): Unit = synchronized {
    val props = ev.properties
    def prop(k: String): Option[String] =
      Option(props).flatMap(p => Option(p.getProperty(k)))
    val run = prop(RunKey).map(_.toLong).getOrElse(-1L)
    val label = prop(LabelKey).getOrElse("unlabelled")
    prop(MarkerKey).foreach(markerJobs(ev.jobId) = _)
    jobs(ev.jobId) = JobRec(ev.jobId, run, label, ev.time.toDouble, Double.NaN,
      ev.stageIds)
    ev.stageIds.foreach(sid => stages.getOrElseUpdate(sid, new StageRec(sid, ev.jobId)))
  }

  override def onJobEnd(ev: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(ev.jobId).foreach(_.endMs = ev.time.toDouble)
    markerJobs.remove(ev.jobId).foreach(settled += _)
  }

  private val markerJobs = mutable.Map.empty[Int, String]
  private val settled = mutable.Set.empty[String]

  /** Waits until every event posted before now has reached this listener:
   * runs a marker job and waits for its end event (the bus is one ordered
   * queue). */
  def settle(timeoutMs: Long = 10000): Unit = {
    val tok = java.util.UUID.randomUUID().toString
    sc.setLocalProperty(MarkerKey, tok)
    try sc.parallelize(Seq(0), 1).count() finally sc.setLocalProperty(MarkerKey, null)
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (!synchronized(settled.remove(tok)) && System.nanoTime() < deadline)
      Thread.sleep(1)
  }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = synchronized {
    val si = ev.stageInfo
    stages.get(si.stageId).foreach { st =>
      si.submissionTime.foreach(t => st.startMs = t.toDouble)
      si.completionTime.foreach(t => st.endMs = t.toDouble)
    }
  }

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = synchronized {
    val m = ev.taskMetrics
    if (m != null) stages.get(ev.stageId).foreach { st =>
      st.tasks += 1
      st.runMs += m.executorRunTime
      st.taskMs += m.executorRunTime
      st.gcMs += m.jvmGCTime
      st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      st.spillBytes += m.diskBytesSpilled
    }
  }

  /** Jobs attributed to `run`, with their stages (completed ones only). */
  def jobsOf(run: Long): Seq[JobRec] = synchronized(jobs.values.filter(_.runSpan == run).toVector)
  def stagesOf(run: Long): Seq[StageRec] = synchronized {
    val js = jobs.values.filter(_.runSpan == run).map(_.jobId).toSet
    stages.values.filter(s => js.contains(s.jobId) && !s.endMs.isNaN).toVector
  }

  /** Turn the jobs attributed to span `layer` and their stages into spans:
   * one per job label under `layer`, jobs under their label, stages under
   * their job. */
  def emitSpans(layer: Long): Unit = synchronized {
    val js = jobsOf(layer).filterNot(_.endMs.isNaN)
    js.groupBy(_.label).foreach { case (label, group) =>
      val labelId = tracer.newId()
      tracer.record(Span(labelId, layer, s"spark $label",
        group.map(_.startMs).min, group.map(_.endMs).max))
      group.foreach { j =>
        val jobSpan = tracer.newId()
        tracer.record(Span(jobSpan, labelId, s"job ${j.jobId}", j.startMs, j.endMs))
        j.stageIds.flatMap(stages.get).filterNot(_.endMs.isNaN).foreach { st =>
          tracer.record(Span(tracer.newId(), jobSpan, s"stage ${st.stageId}",
            st.startMs, st.endMs))
        }
      }
    }
  }
}

object JobTracer {
  val RunKey = "crawlbench.run"
  val LabelKey = "graft.metrics.label"
  val MarkerKey = "crawlbench.marker"

  /** Run `f` with `run` as the job-attribution property of this thread
   * (and of threads it creates). */
  def attributed[T](sc: SparkContext, run: Long)(f: => T): T = {
    sc.setLocalProperty(RunKey, run.toString)
    try f finally sc.setLocalProperty(RunKey, null)
  }
}
