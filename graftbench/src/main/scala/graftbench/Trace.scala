package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** One timed call into a layer: `parent` is the index of the enclosing
  * span (-1 at the top), `op` the operation it belongs to.
  */
final case class Span(name: String, startNs: Long, var endNs: Long,
                      parent: Int, op: Long)

/** Scheduler counters of the jobs one span submitted. */
final class SparkWork {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskCpuNs = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L
  var inputBytes = 0L
}

/** In-memory span recorder plus the Spark-side counters the traced run
  * attributes to spans. Everything here uses public hooks only: a
  * [[SparkListener]] for jobs, stages and task metrics, the local
  * property every job inherits from the submitting thread to attribute
  * jobs to the innermost open span, and executed plans' SQL metrics.
  * With `enabled = false` a span is just the call: no listener is
  * registered and nothing is recorded.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var op = 0L
  private val SpanProp = "graftbench.span"

  /** Scheduler work per span index, filled by the listener thread. */
  private val work = new java.util.concurrent.ConcurrentHashMap[Int, SparkWork]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  @volatile private var jobsStarted = 0L
  @volatile private var jobsEnded = 0L

  private def workOf(span: Int): SparkWork =
    work.computeIfAbsent(span, _ => new SparkWork)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsStarted += 1
      val s = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      s.map(_.toInt).foreach { span =>
        val w = workOf(span)
        w.synchronized { w.jobs += 1; w.stages += e.stageIds.size }
        e.stageIds.foreach(id => stageSpan.put(id, span))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (span != null && m != null) {
        val w = workOf(span)
        w.synchronized {
          w.tasks += 1
          w.taskCpuNs += m.executorCpuTime
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          w.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }
  }
  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Starts a new operation; spans opened until the next call share its id. */
  def nextOp(): Long = { op += 1; op }

  /** Operations from here on belong to the timed phase. */
  private var timedFrom = Long.MaxValue
  def startTimed(): Unit = timedFrom = op + 1

  /** Indices of the timed phase's spans named `name`. */
  def timed(name: String): Seq[Int] =
    spans.indices.filter(i => spans(i).name == name && spans(i).op >= timedFrom)

  /** Summed wall seconds of the timed phase's spans named `name`. */
  def timedSeconds(name: String): Double =
    timed(name).map(i => (spans(i).endNs - spans(i).startNs) / 1e9).sum

  /** Summed scheduler work of the timed phase's spans named `name`,
    * nested spans included.
    */
  def timedWork(name: String)(f: SparkWork => Long): Double =
    timed(name).map(i => f(workWithin(i))).sum.toDouble

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.length
      spans += Span(name, System.nanoTime(), 0L,
        if (open.isEmpty) -1 else open.top, op)
      open.push(idx)
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, idx.toString)
      try body
      finally {
        spans(idx).endNs = System.nanoTime()
        open.pop()
        sc.setLocalProperty(SpanProp, prev)
      }
    }

  /** Waits until the listener has seen the end of every job it saw start,
    * so counters read afterwards are complete.
    */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10_000_000_000L
    while (jobsEnded < jobsStarted && System.nanoTime() < deadline)
      Thread.sleep(5)
    Thread.sleep(50) // task-end events of the last stage trail its job end
  }

  def stop(): Unit = if (enabled) spark.sparkContext.removeSparkListener(listener)

  /** Scheduler work of span `idx` and every span nested in it. */
  def workWithin(idx: Int): SparkWork = {
    val total = new SparkWork
    spans.indices.filter(i => i == idx || within(i, idx)).foreach { i =>
      Option(work.get(i)).foreach { w =>
        total.jobs += w.jobs; total.stages += w.stages; total.tasks += w.tasks
        total.taskCpuNs += w.taskCpuNs
        total.shuffleWriteBytes += w.shuffleWriteBytes
        total.spillBytes += w.spillBytes
        total.inputBytes += w.inputBytes
      }
    }
    total
  }

  private def within(i: Int, ancestor: Int): Boolean = {
    var p = spans(i).parent
    while (p >= 0 && p != ancestor) p = spans(p).parent
    p == ancestor
  }

  /** Self time per span name: each span minus the part its children cover
    * (children of one span never overlap: the client is single-threaded).
    */
  def selfSeconds: Map[String, Double] = {
    val childNs = Array.fill(spans.length)(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.indices.groupBy(i => spans(i).name).map { case (n, is) =>
      n -> is.map(i => (spans(i).endNs - spans(i).startNs - childNs(i)) / 1e9).sum
    }
  }
}

/** Reads SQL metrics off an executed plan, descending through adaptive
  * query stages and reused exchanges.
  */
object PlanMetrics {
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case p => p +: p.children.flatMap(nodes)
  }

  def metric(p: SparkPlan, key: String): Long =
    p.metrics.get(key).map(_.value).getOrElse(0L)
}
