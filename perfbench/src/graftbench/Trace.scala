package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` is 0 for a root span;
  * every span caused by one request, flush, compaction or analytics query
  * shares the root's id as `req`. */
final case class Span(id: Long, parent: Long, req: Long, name: String, thread: String,
                      startNs: Long, endNs: Long, key: String, attrs: Map[String, Any]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. All spans are recorded from the benchmark's
  * own code: client requests on the client threads, and storage/engine
  * calls through [[TracedTier]] on whatever program thread made them.
  *
  * A tier call on an HTTP handler thread belongs to one of the client
  * requests in flight for the same (container, session). The handler
  * thread's first tier call claims one that no other handler thread has
  * claimed yet, GETs first (every GET calls the tier, a POST only when
  * its buffer add crosses the flush size, which no workload here
  * reaches), and its later calls stay with that claim while the request
  * is in flight. When more than one unclaimed request of that method
  * could be the one, or none is left unclaimed, the choice is a guess:
  * that span is marked `ambiguous`, and the count is reported. Spark
  * jobs inherit the innermost span through a Spark local property, which
  * [[SparkTrace]] reads back from each job's properties. */
class Tracer(spark: SparkSession) {
  import Tracer._
  private val ids = new AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()
  private final case class Ctx(id: Long, req: Long)
  /** A client request in flight; `server` is the handler thread that
    * claimed it, if any. */
  private final class Live(val ctx: Ctx, val method: String, val startNs: Long) {
    var server: Thread = null
  }
  private val current = new ThreadLocal[Ctx]
  private val live = new ConcurrentHashMap[(String, String), java.util.ArrayList[Live]]()
  private val claimed = new ThreadLocal[Live]
  val sparkTrace = new SparkTrace

  spark.sparkContext.addSparkListener(sparkTrace)
  spark.listenerManager.register(sparkTrace)

  /** Client side of one HTTP request: storage and engine calls the server
    * makes for it become its children. */
  def request[T](method: String, c: String, s: String)(body: => T)(attrs: T => Map[String, Any]): T = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    val me = new Live(Ctx(id, id), method, t0)
    val list = live.computeIfAbsent((c, s), _ => new java.util.ArrayList[Live]())
    list.synchronized(list.add(me))
    var out: Option[T] = None
    try { out = Some(body); out.get }
    finally {
      val t1 = System.nanoTime()
      list.synchronized(list.remove(me))
      spans.add(Span(id, 0L, id, s"api.${method.toLowerCase}", Thread.currentThread.getName,
        t0, t1, s"$c/$s", out.map(attrs).getOrElse(Map("transport_error" -> true))))
    }
  }

  /** The in-flight request a handler thread's tier call belongs to (see
    * the class comment), and whether the choice was ambiguous. */
  private def claim(c: String, s: String): Option[(Ctx, Boolean)] =
    Option(live.get((c, s))).flatMap { list =>
      list.synchronized {
        val mine = claimed.get
        if (mine != null && list.contains(mine)) Some((mine.ctx, false))
        else {
          val all = list.asScala.toSeq
          val free = all.filter(_.server == null)
          val pool = if (free.nonEmpty) free else all
          pool.sortBy(l => (l.method != "GET", l.startNs)).headOption.map { l =>
            l.server = Thread.currentThread
            claimed.set(l)
            (l.ctx, free.isEmpty || free.count(_.method == l.method) > 1)
          }
        }
      }
    }

  /** A span around a call into a layer. Its parent is the thread's
    * current span, else the in-flight client request the handler thread
    * is serving, else none (a flush-timer or compactor-thread root). */
  def span[T](name: String, c: String, s: String)(body: => T)(attrs: T => Map[String, Any] = (_: T) => Map.empty[String, Any]): T = {
    val outer = current.get
    val served =
      if (outer == null && Thread.currentThread.getName.startsWith("graft-http")) claim(c, s)
      else None
    val parent = Option(outer).orElse(served.map(_._1))
    val ambiguous = served.exists(_._2)
    val id = ids.incrementAndGet()
    val ctx = Ctx(id, parent.map(_.req).getOrElse(id))
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(SpanProp)
    current.set(ctx)
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = System.nanoTime()
    var out: Option[T] = None
    try { out = Some(body); out.get }
    finally {
      val t1 = System.nanoTime()
      current.set(outer)
      sc.setLocalProperty(SpanProp, prevProp)
      spans.add(Span(id, parent.map(_.id).getOrElse(0L), ctx.req, name,
        Thread.currentThread.getName, t0, t1, s"$c/$s",
        out.map(attrs).getOrElse(Map("error" -> true)) ++
          (if (ambiguous) Map("ambiguous" -> true) else Map.empty)))
    }
  }

  /** Waits until every Spark listener event posted so far was handled. */
  def drain(): Unit = org.apache.spark.sql.graftbench.Shim.drain(spark.sparkContext)

  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkTrace)
    spark.listenerManager.unregister(sparkTrace)
  }

  /** Self time of each span: its duration minus the union of its direct
    * children's intervals (clipped to the span). */
  def selfMs(of: Seq[Span]): Seq[Double] = {
    val kids = spans.asScala.toSeq.groupBy(_.parent)
    of.map { sp =>
      val ivs = kids.getOrElse(sp.id, Nil)
        .map(k => (math.max(k.startNs, sp.startNs), math.min(k.endNs, sp.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a >= end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
      (sp.endNs - sp.startNs - covered) / 1e6
    }
  }

  /** Every span plus the Spark jobs and queries attributed to them, as
    * JSON lines. Spark job spans are children of the span whose local
    * property the job carried. */
  def writeJsonl(path: java.nio.file.Path, t0Ns: Long): Unit = {
    drain()
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      def line(fields: Map[String, Any]): Unit = {
        val n = m.createObjectNode()
        fields.foreach {
          case (k, v: Long) => n.put(k, v)
          case (k, v: Int) => n.put(k, v)
          case (k, v: Double) => n.put(k, v)
          case (k, v: Boolean) => n.put(k, v)
          case (k, v) => n.put(k, String.valueOf(v))
        }
        w.write(m.writeValueAsString(n)); w.newLine()
      }
      spans.asScala.toSeq.sortBy(_.startNs).foreach { sp =>
        line(Map("kind" -> "span", "id" -> sp.id, "parent" -> sp.parent, "req" -> sp.req,
          "name" -> sp.name, "thread" -> sp.thread, "key" -> sp.key,
          "start_us" -> (sp.startNs - t0Ns) / 1000, "end_us" -> (sp.endNs - t0Ns) / 1000) ++
          sp.attrs)
      }
      val reqOf = spans.asScala.iterator.map(sp => sp.id -> sp.req).toMap
      sparkTrace.jobs.asScala.values.toSeq.sortBy(_.jobId).foreach { j =>
        line(Map("kind" -> "spark.job", "job" -> j.jobId, "parent" -> j.span,
          "req" -> reqOf.getOrElse(j.span, 0L), "execution" -> j.execution,
          "stages" -> j.stageIds.size, "start_ms" -> j.startMs, "end_ms" -> j.endMs))
      }
      val execSpan = sparkTrace.executionSpans()
      sparkTrace.queries.asScala.foreach { q =>
        line(Map("kind" -> "spark.query", "execution" -> q.execution, "func" -> q.func,
          "parent" -> execSpan.getOrElse(q.execution, 0L),
          "exec_ms" -> q.execMs, "plan_ms" -> q.planMs, "fingerprint" -> q.fingerprint,
          "failed" -> q.failed))
      }
    } finally w.close()
  }
}

object Tracer {
  val SpanProp = "graftbench.span"
}

/** Spark-side statistics, gathered by listeners registered from the
  * benchmark: per-query phase times, duration and plan fingerprint
  * (QueryExecutionListener), and per-job stage/task counters
  * (SparkListener). Each job carries the span that caused it. */
final class SparkTrace extends SparkListener with QueryExecutionListener {
  final class Job(val jobId: Int, val span: Long, val execution: Long,
                  val startMs: Long, val stageIds: Seq[Int]) {
    @volatile var endMs: Long = 0L
  }
  final case class StageStats(tasks: Long, runMs: Long, cpuNs: Long, inputBytes: Long,
                              shuffleReadBytes: Long, shuffleWriteBytes: Long,
                              spillBytes: Long, gcMs: Long, outputBytes: Long)
  final case class Query(execution: Long, func: String, execMs: Double, planMs: Double,
                         fingerprint: String, failed: Boolean)

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, StageStats]()
  val queries = new ConcurrentLinkedQueue[Query]()
  // A QueryExecutionListener callback carries the query but not its SQL
  // execution id (the id jobs carry); the execution-end event carries
  // both. The two arrive in either order, so each waits here for the other.
  private val pending = new java.util.IdentityHashMap[QueryExecution, Either[Long, Long => Query]]()

  private def join(qe: QueryExecution, side: Either[Long, Long => Query]): Unit = {
    val done = pending.synchronized {
      Option(pending.remove(qe)) match {
        case Some(Left(id)) => side.toOption.map(_(id))
        case Some(Right(f)) => side.left.toOption.map(f)
        case None => pending.put(qe, side); None
      }
    }
    done.foreach(queries.add)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
      Option(org.apache.spark.sql.graftbench.Shim.queryOf(end)).foreach(qe => join(qe, Left(end.executionId)))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def long(k: String) = p.flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(0L)
    jobs.put(e.jobId, new Job(e.jobId, long(Tracer.SpanProp),
      p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L),
      e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val tm = si.taskMetrics
    if (tm != null)
      stages.merge(si.stageId, StageStats(si.numTasks, tm.executorRunTime, tm.executorCpuTime,
        tm.inputMetrics.bytesRead, tm.shuffleReadMetrics.totalBytesRead,
        tm.shuffleWriteMetrics.bytesWritten, tm.memoryBytesSpilled + tm.diskBytesSpilled,
        tm.jvmGCTime, tm.outputMetrics.bytesWritten), (a, b) => StageStats(
        a.tasks + b.tasks, a.runMs + b.runMs, a.cpuNs + b.cpuNs, a.inputBytes + b.inputBytes,
        a.shuffleReadBytes + b.shuffleReadBytes, a.shuffleWriteBytes + b.shuffleWriteBytes,
        a.spillBytes + b.spillBytes, a.gcMs + b.gcMs, a.outputBytes + b.outputBytes))
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
    val (plan, fp) = (planMs(qe), SparkTrace.fingerprint(qe))
    join(qe, Right(id => Query(id, func, durationNs / 1e6, plan, fp, failed = false)))
  }

  override def onFailure(func: String, qe: QueryExecution, error: Exception): Unit = {
    val plan = planMs(qe)
    join(qe, Right(id => Query(id, func, 0.0, plan, "", failed = true)))
  }

  private def planMs(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(_.durationMs).sum.toDouble

  /** Execution id -> the span its first job ran under. */
  def executionSpans(): Map[Long, Long] =
    jobs.asScala.values.toSeq.filter(_.execution >= 0).groupBy(_.execution)
      .map { case (e, js) => e -> js.minBy(_.jobId).span }

  def stagesOf(job: Job): Seq[StageStats] = job.stageIds.flatMap(s => Option(stages.get(s)))
}

object SparkTrace {
  /** Hash of the physical plan with expression ids, plan ids and file
    * locations normalised, so the same plan hashes the same across runs. */
  def fingerprint(qe: QueryExecution): String = {
    val text = qe.executedPlan.toString
      .replaceAll("#\\d+L?", "#")
      .replaceAll("plan_id=\\d+", "plan_id")
      .replaceAll("file:[^\\s,\\]]*", "file:")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(text.getBytes("UTF-8")).take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
