package etlbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: `name` is the layer key the per-layer
  * metrics aggregate by (e.g. `sources.txlog.merge`), `label` says which
  * call it was. Times are nanoTime for durations, epoch ms for lining up
  * with Spark's job events. */
final class Span(val id: Long, val name: String, val label: String, val parent: Long,
    val op: Long, val t0: Long, val ms0: Long) {
  var t1: Long = t0
  var ms1: Long = ms0
  var childNs: Long = 0L
  def ns: Long = t1 - t0
  def selfNs: Long = ns - childNs
}

/** Spark-side totals of the jobs one span launched. */
final class SparkAgg {
  var jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, result = 0L
}

/** In-memory span recorder plus the two Spark listeners of the traced run.
  * Spans nest per thread; the innermost open span's id rides on the Spark
  * local property [[Tracer.Prop]], so every job (and its stages and tasks)
  * is attributed to the span that launched it. Nothing is recorded while
  * `enabled` is false, so the untraced passes pay only a flag check. */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  @volatile var enabled = false
  private var nextId = 0L
  private val stack = mutable.Stack.empty[Span]
  val spans = mutable.ArrayBuffer.empty[Span]
  val counts = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)

  private val stageSpan = TrieMap.empty[Int, Long]
  private val jobSpan = TrieMap.empty[Int, Long]
  private val jobStart = TrieMap.empty[Int, Long]
  val aggs = TrieMap.empty[Long, SparkAgg]
  val jobIntervals = TrieMap.empty[Int, (Long, Long, Long)] // job -> (span, startMs, endMs)
  val stageTaskMs = TrieMap.empty[Int, mutable.ArrayBuffer[Long]]
  @volatile var planMs = 0L

  def count(key: String, v: Double): Unit = if (enabled) counts(key) += v

  def span[T](name: String, label: String = "")(body: => T): T = {
    if (!enabled) return body
    nextId += 1
    val parent = stack.headOption
    val s = new Span(nextId, name, label, parent.fold(0L)(_.id),
      parent.fold(nextId)(_.op), System.nanoTime(), System.currentTimeMillis())
    stack.push(s)
    sc.setLocalProperty(Tracer.Prop, s.id.toString)
    try body
    finally {
      s.t1 = System.nanoTime(); s.ms1 = System.currentTimeMillis()
      stack.pop()
      parent.foreach(_.childNs += s.ns)
      sc.setLocalProperty(Tracer.Prop, parent.map(_.id.toString).orNull)
      spans += s
    }
  }

  private def agg(span: Long): SparkAgg = aggs.getOrElseUpdate(span, new SparkAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop))).foreach { id =>
      val span = id.toLong
      jobSpan(e.jobId) = span
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageSpan(_) = span)
      agg(span).synchronized(agg(span).jobs += 1)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobSpan.get(e.jobId).foreach(s => jobIntervals(e.jobId) = (s, jobStart(e.jobId), e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageSpan.get(e.stageInfo.stageId).foreach { s => val a = agg(s); a.synchronized(a.stages += 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = agg(s)
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.result += m.resultSize
      }
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long])
        .synchronized(stageTaskMs(e.stageId) += e.taskInfo.duration)
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (enabled) planMs += qe.tracker.phases.values.map(_.durationMs).sum

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Per-layer metrics of everything recorded, divided by `passes` so runs
    * of different length compare. Call after [[org.apache.spark.BusDrain]]. */
  def metrics(passes: Int): Map[String, Double] = {
    val per = 1.0 / math.max(1, passes)
    val out = mutable.LinkedHashMap.empty[String, Double]
    val all = aggs.values
    def tot(f: SparkAgg => Long) = all.map(f).sum.toDouble * per
    out("spark.plan_ms") = planMs * per
    out("spark.jobs") = tot(_.jobs)
    out("spark.stages") = tot(_.stages)
    out("spark.tasks") = tot(_.tasks)
    out("spark.executor_run_ms") = tot(_.runMs)
    out("spark.executor_cpu_ms") = tot(_.cpuNs) / 1e6
    out("spark.gc_ms") = tot(_.gcMs)
    out("spark.shuffle_read_bytes") = tot(_.shuffleRead)
    out("spark.shuffle_write_bytes") = tot(_.shuffleWrite)
    out("spark.spill_bytes") = tot(_.spill)
    out("spark.result_bytes") = tot(_.result)
    val skew = stageTaskMs.values.map(_.sorted).filter(_.size >= 2)
      .map(d => d.last.toDouble / math.max(1L, d(d.size / 2))).toVector.sorted
    out("spark.task_max_over_median") = if (skew.isEmpty) 0.0 else skew(skew.size / 2)
    // driver time outside jobs: each root span minus the union of its jobs
    val byOp = jobIntervals.values.groupBy { case (s, _, _) => spans.find(_.id == s).fold(s)(_.op) }
    val outside = spans.filter(_.parent == 0L).map { r =>
      val iv = byOp.getOrElse(r.id, Nil).map { case (_, a, b) => (a max r.ms0, b min r.ms1) }
        .filter { case (a, b) => b > a }.toVector.sortBy(_._1)
      var covered = 0L
      var cur = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > cur) { covered += b - a; cur = b } else if (b > cur) { covered += b - cur; cur = b }
      }
      math.max(0L, (r.ms1 - r.ms0) - covered)
    }
    out("driver.outside_jobs_ms") = outside.sum * per
    spans.groupBy(_.name).foreach { case (name, ss) =>
      out(s"$name.self_ms") = ss.map(_.selfNs).sum / 1e6 * per
      if (name.startsWith("sources.txlog.")) out(s"${name}_ms") = ss.map(_.ns).sum / 1e6 * per
      out(s"$name.jobs") = ss.map(s => aggs.get(s.id).fold(0L)(_.jobs)).sum * per
    }
    counts.foreach { case (k, v) => out(k) = v * per }
    out.toMap
  }
}

object Tracer {
  val Prop = "etlbench.span"
}
