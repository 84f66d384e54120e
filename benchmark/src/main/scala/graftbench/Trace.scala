package graftbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call: a name, its parent span and both clocks (nanoTime for
  * durations, epoch millis to line up with Spark's event timestamps). */
final class Span(val id: Int, val name: String, val parent: Int,
    val t0Ns: Long, val t0Ms: Long) {
  var t1Ns: Long = t0Ns
  var t1Ms: Long = t0Ms
  def seconds: Double = (t1Ns - t0Ns) / 1e9
}

/** Counters of one Spark job, summed over its tasks by the listener. */
final class JobAcc(val span: Int, val submitMs: Long) {
  var tasks = 0L
  var cpuNs = 0L
  var bytesWritten = 0L
}

/** One Catalyst query execution: when it started and its phase times. */
final case class PlanEvent(node: String, startMs: Long,
    analysisMs: Long, optimizationMs: Long, planningMs: Long) {
  def planMs: Long = analysisMs + optimizationMs + planningMs
}

/** Counters over a set of jobs and query executions. */
final case class Counters(jobs: Long, tasks: Long, cpuNs: Long,
    bytesWritten: Long, planMs: Long, plans: Seq[PlanEvent]) {
  /** Executor CPU as a share of every core for `wallS` seconds. */
  def cpuUtil(wallS: Double, cores: Int): Double =
    if (wallS <= 0) 0.0 else cpuNs / 1e9 / (wallS * cores)
}

/** Spans around the benchmark's calls into the program, always on (two
  * clock reads each). With `traced`, a SparkListener attributes every
  * job — and through its stages every task's CPU time and output bytes —
  * to the span that was open on the submitting thread when the job was
  * submitted (a local property carries the span id, so late bus delivery
  * cannot misattribute) and sums shuffle and spill bytes over the run,
  * and a QueryExecutionListener keeps each query's analysis /
  * optimization / planning times. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  import Tracer._
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val jobs = new ConcurrentHashMap[Int, JobAcc]()
  private val stageJob = new ConcurrentHashMap[Int, JobAcc]()
  private val planEvents = new ConcurrentLinkedQueue[PlanEvent]()
  /** Whole-run totals, never forgotten. */
  @volatile var shuffleBytes = 0L
  @volatile var spillBytes = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      val acc = new JobAcc(span, e.time)
      jobs.put(e.jobId, acc)
      e.stageIds.foreach(s => stageJob.put(s, acc))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val acc = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (acc != null && m != null) {
        acc.tasks += 1
        acc.cpuNs += m.executorCpuTime
        acc.bytesWritten += m.outputMetrics.bytesWritten
      }
      if (m != null) {
        shuffleBytes += m.shuffleReadMetrics.totalBytesRead
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = if (ph.isEmpty) System.currentTimeMillis()
        else ph.values.map(_.startTimeMs).min
      planEvents.add(PlanEvent(qe.logical.nodeName, start,
        ms("analysis"), ms("optimization"), ms("planning")))
    }
  }

  if (traced) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Time `body` as a span named `name`, nested in the open one. */
  def span[A](name: String)(body: => A): A = {
    val s = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    open = s :: open
    if (traced) sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.t1Ns = System.nanoTime()
      s.t1Ms = System.currentTimeMillis()
      open = open.tail
      if (traced)
        sc.setLocalProperty(SpanKey, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Waits until the listeners have seen every event queued so far. */
  def settle(): Unit = if (traced) org.apache.spark.graftbench.Bus.drain(sc)

  /** `s` and every span opened inside it. */
  def within(s: Span): Set[Int] = {
    val out = mutable.Set(s.id)
    spans.iterator.drop(s.id + 1).foreach(c => if (out(c.parent)) out += c.id)
    out.toSet
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Counters of the jobs submitted inside `s` — optionally only those
    * submitted in [fromMs, toMs) — and of the queries planned there. */
  def counters(s: Span, fromMs: Long = Long.MinValue,
      toMs: Long = Long.MaxValue): Counters = {
    val ids = within(s)
    val js = jobs.values.asScala.filter(j => ids(j.span) &&
      j.submitMs >= fromMs && j.submitMs < toMs).toSeq
    val lo = math.max(fromMs, s.t0Ms)
    val hi = math.min(toMs, s.t1Ms + 1)
    val ps = planEvents.asScala.filter(p => p.startMs >= lo && p.startMs < hi)
      .toSeq.sortBy(_.startMs)
    Counters(js.size, js.map(_.tasks).sum, js.map(_.cpuNs).sum,
      js.map(_.bytesWritten).sum, ps.map(_.planMs).sum, ps)
  }

  /** Drops the recorded jobs and plans (between operations of a long
    * run, so the maps stay small). Spans are kept. */
  def forgetEvents(): Unit = {
    jobs.clear()
    stageJob.clear()
    planEvents.clear()
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
}
