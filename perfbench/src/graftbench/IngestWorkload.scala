package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import graft.storage.ManifestLog

/** `ingest`: closed-loop writers, each POSTing seeded batches to its own
  * session, beside one fresh-reader client that GETs a recent time window
  * of a session being written. The small rotation threshold makes every
  * session compact many times per run.
  *
  * Correct when (1) every fresh read returns at least the rows acked in
  * its window before it was sent and at most the rows sent, and (2) after
  * shutdown a fresh ManifestLog over the root holds, per session, exactly
  * the multiset of rows acked with 201. */
object IngestWorkload {

  private def body(rows: Seq[LogRow]): String = rows.iterator.map(r =>
    s"""{"timestamp":"${Service.iso(r.tsUs)}","level":"${r.level}","message":"${r.message}"}""")
    .mkString("""{"logs":[""", ",", "]}")

  /** Rows sent to and acked by one session, in timestamp order. */
  private final class Ledger {
    val acked = ArrayBuffer.empty[LogRow]
    var sentTs = new Array[Long](1 << 12); var nSent = 0
    var ackedTs = new Array[Long](1 << 12); var nAcked = 0
    var lastAckedUs = 0L
    private def push(a: Array[Long], n: Int, xs: Seq[Long]): Array[Long] = {
      val out = if (n + xs.size > a.length) java.util.Arrays.copyOf(a, math.max(a.length * 2, n + xs.size)) else a
      xs.zipWithIndex.foreach { case (x, i) => out(n + i) = x }
      out
    }
    def sent(rows: Seq[LogRow]): Unit = synchronized {
      sentTs = push(sentTs, nSent, rows.map(_.tsUs)); nSent += rows.size
    }
    def ack(rows: Seq[LogRow]): Unit = synchronized {
      acked ++= rows
      ackedTs = push(ackedTs, nAcked, rows.map(_.tsUs)); nAcked += rows.size
      lastAckedUs = rows.last.tsUs
    }
    def ackedFrom(lo: Long): Int = synchronized { Stats.countIn(ackedTs, nAcked, lo, Long.MaxValue - 1) }
    def sentFrom(lo: Long): Int = synchronized { Stats.countIn(sentTs, nSent, lo, Long.MaxValue - 1) }
  }

  def run(r: Run): Outcome = {
    val cfg = r.cfg
    // writers plus the fresh reader stay within the core count
    val nWriters = math.max(1, math.min(cfg.path("writers").asInt(), r.cores - 1))
    val (server, token) = Service.start(r, s"${r.work}/ingest")
    val http = new Http(server.boundPort, token)
    val sessions = (1 to nWriters).map(w => s"w$w")
    val warmSessions = (1 to nWriters).map(w => s"warm$w")
    (sessions ++ warmSessions).foreach(Service.createSession(http, _))
    val ledgers = (sessions ++ warmSessions).map(_ -> new Ledger).toMap
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val non2xx = new AtomicLong(0L)
    val transportErrors = new AtomicLong(0L)
    val postsAcked = new AtomicLong(0L)

    def post(client: Http, session: String, rows: Seq[LogRow], lat: ArrayBuffer[(Long, Long)]): Unit = {
      val ledger = ledgers(session)
      ledger.sent(rows)
      val json = body(rows)
      val t0 = System.nanoTime()
      try {
        val code = r.tracer.fold(client.send("POST", s"/api/logs/${Service.Container}/$session", json).statusCode)(
          _.request("POST", Service.Container, session)(
            client.send("POST", s"/api/logs/${Service.Container}/$session", json).statusCode)(
            c => Map("status" -> c.toLong, "rows" -> rows.size.toLong)))
        lat += ((t0, System.nanoTime()))
        if (code == 201) { ledger.ack(rows); postsAcked.incrementAndGet() }
        else non2xx.incrementAndGet()
      } catch { case e: java.io.IOException =>
        lat += ((t0, System.nanoTime()))
        transportErrors.incrementAndGet()
        errors.add(s"POST $session: $e")
      }
    }

    /** One fresh read of the last `window_s` of session time. */
    def freshRead(client: Http, session: String, lat: ArrayBuffer[(Long, Long)]): Unit = {
      val ledger = ledgers(session)
      val lo = ledger.synchronized(ledger.lastAckedUs) - cfg.path("fresh_window_s").asLong() * 1000000L
      val mustSee = ledger.ackedFrom(lo)
      val path = s"/api/logs/${Service.Container}/$session?start_ts=${Service.iso(lo)}"
      val t0 = System.nanoTime()
      try {
        val resp = r.tracer.fold(client.send("GET", path))(
          _.request("GET", Service.Container, session)(client.send("GET", path))(
            x => Map("status" -> x.statusCode.toLong)))
        lat += ((t0, System.nanoTime()))
        if (resp.statusCode != 200) non2xx.incrementAndGet()
        else {
          val got = Service.totalRows(resp.body)
          val mayHave = ledger.sentFrom(lo)
          if (got < mustSee || got > mayHave)
            errors.add(s"fresh read $session from $lo: $got rows, acked $mustSee, sent $mayHave")
        }
      } catch { case e: java.io.IOException =>
        lat += ((t0, System.nanoTime()))
        transportErrors.incrementAndGet()
        errors.add(s"GET $session: $e")
      }
    }

    /** Runs the writers and the fresh reader until `until` (nanoTime) or,
      * for the warm-up, for a fixed number of operations each. */
    def phase(targets: Seq[String], until: Long, postsEach: Int, readsEach: Int,
              streams: Map[String, LogStream]): (Seq[ArrayBuffer[(Long, Long)]], ArrayBuffer[(Long, Long)], Long) = {
      val postLat = targets.map(_ => ArrayBuffer.empty[(Long, Long)])
      val readLat = ArrayBuffer.empty[(Long, Long)]
      val lastWriteEnd = new AtomicLong(0L)
      val writers = targets.zipWithIndex.map { case (s, i) =>
        new Thread(() => {
          val client = new Http(server.boundPort, token)
          var n = 0
          while (if (postsEach > 0) n < postsEach else System.nanoTime() < until) {
            post(client, s, streams(s).next(), postLat(i)); n += 1
          }
          lastWriteEnd.accumulateAndGet(System.nanoTime(), math.max)
        }, s"bench-writer-$s")
      }
      val reader = new Thread(() => {
        val client = new Http(server.boundPort, token)
        var n = 0
        while (if (readsEach > 0) n < readsEach else System.nanoTime() < until) {
          val s = targets(n % targets.size)
          if (ledgers(s).synchronized(ledgers(s).nAcked) > 0) freshRead(client, s, readLat)
          else Thread.sleep(5)
          n += 1
        }
      }, "bench-fresh-reader")
      (writers :+ reader).foreach(_.start())
      (writers :+ reader).foreach(_.join())
      (postLat, readLat, lastWriteEnd.get)
    }

    val streams = (sessions ++ warmSessions).zipWithIndex.map { case (s, i) =>
      s -> new LogStream(r.rows, r.seed * 1000003L + i, s)
    }.toMap
    phase(warmSessions, 0L, cfg.path("warmup_posts_per_writer").asInt(),
      cfg.path("warmup_reads").asInt(), streams)
    r.log("warm-up done")
    val (warmNon2xx, warmTransport, warmAcked) = (non2xx.get, transportErrors.get, postsAcked.get)
    val warmFailures = warmNon2xx + warmTransport
    r.markTimed()
    val w0 = System.nanoTime()
    val (postLat, readLat, lastWrite) = phase(sessions, w0 + (r.seconds * 1e9).toLong, 0, 0, streams)
    val w1 = System.nanoTime()
    r.markWindowEnd()
    server.close() // drains the ingest buffer and every pending compaction

    // exactly-once: reopen the root and compare each session's rows
    val log = new ManifestLog(r.spark, s"${r.work}/ingest/data")
    (sessions ++ warmSessions).foreach { s =>
      val got = log.read(Service.Container, s).select("timestamp", "level", "message").collect()
        .map { x =>
          val i = x.getTimestamp(0).toInstant
          LogRow(i.getEpochSecond * 1000000L + i.getNano / 1000, x.getString(1), x.getString(2))
        }
      val want = ledgers(s).acked
      def bag(xs: Iterable[LogRow]) = xs.groupBy(identity).view.mapValues(_.size).toMap
      if (got.length != want.size || bag(got) != bag(want))
        errors.add(s"session $s holds ${got.length} rows, ${want.size} acked (multisets differ)")
    }
    val ends = sessions.map(s => log.tierStats(Service.Container, s))
    val filesEnd = ends.map(e => e._1 + e._3).sum
    val bytesEnd = ends.map(e => e._2 + e._4).sum
    val rowsAcked = sessions.map(ledgers(_).acked.size.toLong).sum

    val posts = postLat.flatten
    val postMs = posts.map { case (a, b) => (b - a) / 1e6 }
    val readMs = readLat.map { case (a, b) => (b - a) / 1e6 }
    val writeS = (lastWrite - w0) / 1e9
    val okPosts = postsAcked.get - warmAcked
    val traced = r.tracer.map(t => Layers.of(t, w0, w1)).getOrElse(Map.empty)
    val flushes = traced.getOrElse("ingest.flushes", 0.0)
    val layers = traced ++ Map(
      "api.status_non2xx" -> (non2xx.get - warmNon2xx).toDouble,
      "api.transport_errors" -> (transportErrors.get - warmTransport).toDouble,
      "ingest.posts_per_flush" -> (if (flushes > 0) okPosts / flushes else 0.0),
      "storage.files_end" -> filesEnd.toDouble,
      "storage.bytes_end" -> bytesEnd.toDouble,
      "client.rows_per_s" -> rowsAcked / writeS,
      "client.fresh_read_ms_p50" -> Stats.median(readMs),
      "client.stored_bytes_per_row" -> bytesEnd.toDouble / math.max(1L, rowsAcked))
    Outcome(
      attempted = posts.size + readLat.size,
      failed = non2xx.get + transportErrors.get - warmFailures,
      errors = errors.asScala.toSeq ++
        (if (warmFailures > 0) Seq(s"$warmFailures warm-up requests failed") else Nil),
      e2e = Map(
        "ops_per_s" -> okPosts / writeS,
        "op_p50_ms" -> Stats.pct(postMs, 0.5),
        "op_p90_ms" -> Stats.pct(postMs, 0.9)),
      layers = layers,
      info = Map("posts" -> posts.size, "fresh_reads" -> readLat.size, "rows_acked" -> rowsAcked,
        "write_s" -> writeS, "fresh_read_p90_ms" -> Stats.pct(readMs, 0.9)))
  }
}
