package vecbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds with sub-millisecond
  * precision, the clock Spark's listener events use. `req` is the id of
  * the request (or setup phase) the span belongs to; 0 = none.
  */
final case class Span(
    id: Long, parent: Long, req: Long, name: String, start: Double, end: Double,
    attrs: Map[String, Double] = Map.empty) {
  def dur: Double = end - start
}

/** In-memory span collector. Spans opened by the benchmark around calls
  * into graft, plus Spark job and stage spans recorded by [[Listener]] and
  * attributed to requests through the [[Tracer.ReqProperty]] local
  * property. Nothing is written until [[Tracer.json]] at the end.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val current = new ThreadLocal[(Long, Long)] { // (span id, req id)
    override def initialValue(): (Long, Long) = (0L, 0L)
  }

  /** Id of the request the calling thread is inside (0 = none). */
  def currentReq: Long = current.get()._2

  def now(): Double = epochMs + (System.nanoTime() - nano0) / 1e6
  def nextId(): Long = ids.incrementAndGet()

  /** The context whose jobs the spans adopt; set once the session exists. */
  @volatile var sc: SparkContext = null

  /** Times `body` as a child of the thread's current span. A span with
    * `request = true` starts a new request. Jobs launched inside a span
    * carry its id and its request's id through Spark local properties.
    */
  def span[T](name: String, request: Boolean = false)(body: => T): T = {
    if (!enabled) return body
    val id = nextId()
    val (parent, outerReq) = current.get()
    val req = if (request) id else outerReq
    current.set((id, req))
    val ctx = sc
    val prev = if (ctx == null) null else
      (ctx.getLocalProperty(Tracer.ReqProperty), ctx.getLocalProperty(Tracer.SpanProperty))
    if (ctx != null) {
      ctx.setLocalProperty(Tracer.ReqProperty, req.toString)
      ctx.setLocalProperty(Tracer.SpanProperty, id.toString)
    }
    val t0 = now()
    try body
    finally {
      val t1 = now()
      if (ctx != null) {
        ctx.setLocalProperty(Tracer.ReqProperty, prev._1)
        ctx.setLocalProperty(Tracer.SpanProperty, prev._2)
      }
      current.set((parent, outerReq))
      spans.add(Span(id, parent, req, name, t0, t1))
    }
  }

  def add(s: Span): Unit = if (enabled) spans.add(s)

  // query executions started inside a request, for the phase listener
  private val owners = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[QueryExecution, java.lang.Long]())
  def own(qe: QueryExecution): Unit = if (enabled && currentReq != 0L) owners.put(qe, currentReq)
  def ownerOf(qe: QueryExecution): Long = Option(owners.get(qe)).map(_.longValue).getOrElse(0L)

  def all: Seq[Span] = spans.asScala.toSeq

  def json(derived: String): String = {
    val body = all.sortBy(s => (s.start, s.id)).map { s =>
      val a = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":${Json.str(s.name)},""" +
        s""""start":${Json.num(s.start)},"end":${Json.num(s.end)},"attrs":{$a}}"""
    }
    s"""{"derived":$derived,"spans":[\n${body.mkString(",\n")}\n]}"""
  }
}

object Tracer {
  val ReqProperty = "vecbench.req"
  val SpanProperty = "vecbench.span"

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Self time per span: its duration minus the part its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> (s.dur - covered(c, s.start, s.end))
    }.toMap
  }
}

/** Spark job, stage and task accounting for traced requests. Jobs are
  * tied to a request and to the span that submitted them by the
  * [[Tracer.ReqProperty]] and [[Tracer.SpanProperty]] local properties of
  * the submitting thread; stage and task events follow their job.
  */
final class Listener(tracer: Tracer) extends SparkListener {
  import Listener.Job
  final class TaskSums {
    var tasks = 0L; var cpuNs = 0L; var inputBytes = 0L
    var shuffleBytes = 0L; var waitMs = 0L
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  val perReq = new java.util.concurrent.ConcurrentHashMap[Long, TaskSums]()
  val jobsEnded = new AtomicLong(0)
  val jobsStarted = new AtomicLong(0)

  private def prop(props: java.util.Properties, key: String): Long =
    Option(props).flatMap(p => Option(p.getProperty(key))).flatMap(_.toLongOption).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val req = prop(e.properties, Tracer.ReqProperty)
    if (req != 0L) {
      jobsStarted.incrementAndGet()
      val job = Job(tracer.nextId(), prop(e.properties, Tracer.SpanProperty), req, e.time.toDouble, e.stageIds)
      jobs.put(e.jobId, job)
      e.stageIds.foreach(s => stageJob.put(s, job))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { j =>
      tracer.add(Span(j.span, j.parent, j.req, "spark.job", j.start, e.time.toDouble,
        Map("job" -> e.jobId.toDouble, "stages" -> j.stages.size.toDouble)))
      jobsEnded.incrementAndGet()
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageJob.get(info.stageId)).foreach { job =>
      for (s <- info.submissionTime; c <- info.completionTime)
        tracer.add(Span(tracer.nextId(), job.span, job.req, "spark.stage", s.toDouble, c.toDouble,
          Map("stage" -> info.stageId.toDouble, "tasks" -> info.numTasks.toDouble)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { job =>
      val sums = perReq.computeIfAbsent(job.req, _ => new TaskSums)
      val m = e.taskMetrics
      sums.synchronized {
        sums.tasks += 1
        if (m != null) {
          sums.cpuNs += m.executorCpuTime
          sums.inputBytes += m.inputMetrics.bytesRead
          sums.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        }
        Option(stageSubmit.get(e.stageId)).foreach { s =>
          sums.waitMs += math.max(0L, e.taskInfo.launchTime - s)
        }
      }
    }

  /** Waits (bounded) for the asynchronous listener bus to deliver the end
    * of every job it saw start.
    */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobsEnded.get() < jobsStarted.get() && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200) // trailing stage/task events of the last job
  }
}

object Listener {
  final case class Job(span: Long, parent: Long, req: Long, start: Double, stages: Seq[Int])
}

/** Records the planning phases Spark itself tracks for every query
  * execution of the session (parsing, analysis, optimization, planning),
  * as a span of the request that started the execution.
  */
final class PhaseListener(tracer: Tracer) extends QueryExecutionListener {
  private def record(fn: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) {
      val start = phases.values.map(_.startTimeMs).min.toDouble
      val end = phases.values.map(_.endTimeMs).max.toDouble
      val req = tracer.ownerOf(qe)
      tracer.add(Span(tracer.nextId(), req, req, s"spark.sql.$fn", start, end,
        phases.map { case (k, v) => s"${k}_ms" -> v.durationMs.toDouble }.toMap))
    }
  }
  override def onSuccess(fn: String, qe: QueryExecution, durationNs: Long): Unit = record(fn, qe)
  override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = record(fn, qe)
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}
