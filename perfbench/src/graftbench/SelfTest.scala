package graftbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.ingest.JsonIngest
import graft.storage.ManifestLog

/** The benchmark's own test: the traced tier must not change what the
  * program does. Two servers over identically loaded roots, one on the
  * plain manifest tier and one on [[TracedTier]], get the same sequence
  * of requests one at a time; every response (status and body) and the
  * number of Spark jobs each request ran must match. The sequence covers
  * settled and windowed reads, reads that flush buffered posts, empty
  * windows, rejected requests, compaction, and the engine entry points
  * that go through `statsAndRows` and `withReadSnapshot`. */
object SelfTest {

  def run(r: Run): Seq[String] = {
    val jobs = new AtomicLong(0L)
    r.spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    def drain(): Unit = org.apache.spark.sql.graftbench.Shim.drain(r.spark.sparkContext)
    /** Result of `f` and the Spark jobs it started. */
    def counted[T](f: => T): (T, Long) = {
      drain(); val j0 = jobs.get
      val out = f
      drain(); (out, jobs.get - j0)
    }

    val sessions = Seq("a", "b")
    val data = sessions.zipWithIndex.map { case (s, i) =>
      s -> new LogStream(r.rows, r.seed + i, s).take(3000) }.toMap
    // No interval flushes and no size-triggered compaction, so no Spark
    // job runs between steps and job counts are per step.
    val quiet = r.server.deepCopy().asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    quiet.put("flush_ms", 3600000L).put("rotation_bytes", 1L << 40)
    val sides = Seq(None, Some(new Tracer(r.spark))).map { tracer =>
      val root = s"${r.work}/selftest-${if (tracer.isDefined) "traced" else "plain"}"
      val log = new ManifestLog(r.spark, s"$root/data")
      data.foreach { case (s, rows) =>
        val (a, b) = rows.splitAt(rows.size / 2)
        log.append(JsonIngest.toDataFrame(r.spark, a.map(_.toSparkRow)), Service.Container, s)
        log.compact(Service.Container, s)
        log.append(JsonIngest.toDataFrame(r.spark, b.map(_.toSparkRow)), Service.Container, s)
      }
      val (server, token) = Service.start(r.copy(tracer = tracer, server = quiet), root)
      val http = new Http(server.boundPort, token)
      sessions.foreach(Service.createSession(http, _))
      (server, http)
    }

    val (a0, a1) = (data("a").head.tsUs, data("a").last.tsUs)
    val mid = (a0 + a1) / 2
    val extra = new LogStream(r.rows, r.seed + 99, "x").take(50)
      .map(x => x.copy(tsUs = x.tsUs - a0 + a1 + 1000000L))
    val post = extra.map(x =>
      s"""{"timestamp":"${Service.iso(x.tsUs)}","level":"${x.level}","message":"${x.message}"}""")
      .mkString("""{"logs":[""", ",", "]}")
    val base = s"/api/logs/${Service.Container}"
    type Step = ((graft.api.LogServer, Http)) => String
    def http(method: String, path: String, body: String = null): Step = { case (_, h) =>
      val resp = h.send(method, path, body); s"${resp.statusCode} ${resp.body}" }
    val steps: Seq[(String, Step)] = Seq(
      "whole" -> http("GET", s"$base/a"),
      "whole again" -> http("GET", s"$base/a"),
      "window" -> http("GET", s"$base/a?start_ts=${Service.iso(mid)}&end_ts=${Service.iso(mid + 600000000L)}"),
      "empty window" -> http("GET", s"$base/b?end_ts=${Service.iso(data("b").head.tsUs - 1)}"),
      // one step: the idle-flush timer or the read's own flush appends
      // the posted rows, whichever comes first, but always within the step
      "post, read own writes" -> { side =>
        http("POST", s"$base/a", post)(side) + "\n" + http("GET", s"$base/a?start_ts=${Service.iso(a1)}")(side) },
      "bad body" -> http("POST", s"$base/a", """{"logs":[{"level":"INFO"}]}"""),
      "no such session" -> http("GET", s"$base/zz"),
      "summary" -> { case (srv, _) => srv.engine.summary(Service.Container, "a").toString },
      "count" -> { case (srv, _) =>
        srv.engine.count(Service.Container, "b", start = Some(java.time.Instant.EPOCH)).toString },
      "compact" -> { case (srv, _) => srv.store.compact(Service.Container, "a").toString },
      "after compaction" -> http("GET", s"$base/a"))

    val problems = steps.flatMap { case (name, step) =>
      val Seq((plain, plainJobs), (traced, tracedJobs)) = sides.map(side => counted(step(side)))
      val out = Seq(
        if (plain != traced) Some(s"$name: responses differ:\n  plain  ${plain.take(300)}\n  traced ${traced.take(300)}") else None,
        if (plainJobs != tracedJobs) Some(s"$name: $plainJobs Spark jobs plain, $tracedJobs traced") else None).flatten
      System.err.println(s"selftest $name: ${if (out.isEmpty) "same" else "DIFFERENT"} " +
        s"(status ${plain.takeWhile(_ != ' ')}, $plainJobs jobs)")
      out
    }
    sides.foreach(_._1.close())
    problems
  }
}
