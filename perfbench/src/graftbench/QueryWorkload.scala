package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import graft.ingest.JsonIngest
import graft.storage.ManifestLog

/** `query`: closed-loop readers over settled sessions, no writes.
  *
  * Set-up loads sessions of skewed size through the storage layer's own
  * `append`/`compact` (every third session keeps its last append hot),
  * then an untimed warm-up fills the plan cache and the JIT. Readers
  * draw from one schedule whose blocks each hold (session, range kind)
  * pairs in fixed shares: sessions Zipf-like by size rank, the largest
  * most read. So the read mix does not depend on the seed; the seed only
  * orders the GETs and places the windows. Readers take GETs in schedule
  * order, so several GETs for a hot session are often in flight at once.
  *
  * Correct when every response's `total_rows` equals the number of
  * generated rows in the requested range. */
object QueryWorkload {

  private final case class Get(session: String, path: String, expect: Long)

  def run(r: Run): Outcome = {
    val cfg = r.cfg
    val nSessions = cfg.path("sessions").asInt()
    val names = (0 until nSessions).map(i => f"s$i%02d")
    val sizes = (0 until nSessions).map(i =>
      math.max(cfg.path("min_rows").asInt(),
        math.round(cfg.path("max_rows").asInt() / math.pow(i + 1, cfg.path("size_skew").asDouble())).toInt))
    val data = names.zip(sizes).zipWithIndex.map { case ((s, n), i) =>
      s -> new LogStream(r.rows, r.seed * 1000003L + i, s).take(n).toArray
    }.toMap
    val tsOf = data.map { case (s, rows) => s -> rows.map(_.tsUs) }

    // load through the storage layer, one session per loader thread
    val root = s"${r.work}/query"
    val loader = new ManifestLog(r.spark, s"$root/data")
    val chunks = cfg.path("appends_per_session").asInt()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(r.cores)
    try {
      names.zipWithIndex.map { case (s, i) => pool.submit(new Runnable {
        def run(): Unit = {
          val rows = data(s)
          val parts = rows.grouped(math.max(1, (rows.length + chunks - 1) / chunks)).toSeq
          def append(part: Array[LogRow]): Unit =
            loader.append(JsonIngest.toDataFrame(r.spark, part.toSeq.map(_.toSparkRow)), Service.Container, s)
          if (i % 3 == 0) { parts.init.foreach(append); loader.compact(Service.Container, s); append(parts.last) }
          else { parts.foreach(append); loader.compact(Service.Container, s) }
        }
      }) }.foreach(_.get())
    } finally pool.shutdown()

    r.log("sessions loaded")
    val (server, token) = Service.start(r, root)
    val admin = new Http(server.boundPort, token)
    names.foreach(Service.createSession(admin, _))

    val nReaders = math.min(cfg.path("readers").asInt(), r.cores)
    val zipf = cfg.path("zipf_s").asDouble()
    val kinds = cfg.path("range_mix").fields().asScala.toSeq.map(e => e.getKey -> e.getValue.asDouble())
    val hourUs = 3600L * 1000000L
    val narrowUs = cfg.path("narrow_window_s").asLong() * 1000000L

    /** `n` items in the given proportions (largest remainder). */
    def quota[T](weights: Seq[(T, Double)], n: Int): Seq[T] = {
      val total = weights.map(_._2).sum
      val exact = weights.map { case (x, w) => (x, n * w / total) }
      val extra = exact.zipWithIndex.sortBy { case ((_, e), i) => (-(e - e.toInt), i) }
        .take(n - exact.map(_._2.toInt).sum).map(_._2).toSet
      exact.zipWithIndex.flatMap { case ((x, e), i) => Seq.fill(e.toInt + (if (extra(i)) 1 else 0))(x) }
    }
    // one block: (session, range kind) pairs, Zipf by size rank times the
    // kind's share. Popularity follows size: a session is large because
    // its service logs a lot, and busy services are the ones read most.
    val blockPairs = quota(for {
      (s, k) <- names.zipWithIndex
      (kind, share) <- kinds
    } yield ((s, kind), share / math.pow(k + 1, zipf)), cfg.path("block_reads").asInt())

    /** The GETs all readers draw from, in order: blocks that each hold
      * the same (session, range kind) pairs in seeded order. */
    final class Schedule(rng: java.util.Random) {
      private val queue = scala.collection.mutable.Queue.empty[Get]
      def take(): Get = synchronized {
        if (queue.isEmpty) {
          val pairs = ArrayBuffer.from(blockPairs)
          for (j <- pairs.indices.reverse.init) {
            val k = rng.nextInt(j + 1); val t = pairs(j); pairs(j) = pairs(k); pairs(k) = t
          }
          queue ++= pairs.map { case (s, kind) => get(rng, s, kind) }
        }
        queue.dequeue()
      }
    }

    def get(rng: java.util.Random, s: String, kind: String): Get = {
      val ts = tsOf(s)
      val (first, last) = (ts.head, ts.last)
      def window(len: Long): (Long, Long) = {
        val lo = first + (rng.nextDouble() * math.max(1L, last - first - len)).toLong
        (lo, lo + len)
      }
      val base = s"/api/logs/${Service.Container}/$s"
      def ranged(lo: Long, hi: Long) =
        Get(s, s"$base?start_ts=${Service.iso(lo)}&end_ts=${Service.iso(hi)}",
          Stats.countIn(ts, ts.length, lo, hi).toLong)
      kind match {
        case "whole" => Get(s, base, ts.length.toLong)
        case "hour" => val (lo, hi) = window(hourUs); ranged(lo, hi)
        case "narrow" => val (lo, hi) = window(narrowUs); ranged(lo, hi)
        case "empty" => ranged(first - 2 * hourUs, first - hourUs)
      }
    }

    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val non2xx = new AtomicLong(0L)
    val transportErrors = new AtomicLong(0L)
    val rowsServed = new AtomicLong(0L)

    /** Each reader issues GETs until `until` (nanoTime) or `count` GETs. */
    def phase(seed: Long, until: Long, count: Int): Seq[ArrayBuffer[Double]] = {
      val gets = new Schedule(new java.util.Random(seed))
      val lats = (0 until nReaders).map(_ => ArrayBuffer.empty[Double])
      val threads = (0 until nReaders).map { j =>
        new Thread(() => {
          val client = new Http(server.boundPort, token)
          var n = 0
          while (if (count > 0) n < count else System.nanoTime() < until) {
            val g = gets.take()
            val t0 = System.nanoTime()
            try {
              val resp = r.tracer.fold(client.send("GET", g.path))(
                _.request("GET", Service.Container, g.session)(client.send("GET", g.path))(
                  x => Map("status" -> x.statusCode.toLong)))
              lats(j) += (System.nanoTime() - t0) / 1e6
              if (resp.statusCode != 200) non2xx.incrementAndGet()
              else {
                val got = Service.totalRows(resp.body)
                rowsServed.addAndGet(got)
                if (got != g.expect) errors.add(s"GET ${g.path}: $got rows, expected ${g.expect}")
              }
            } catch { case e: java.io.IOException =>
              lats(j) += (System.nanoTime() - t0) / 1e6
              transportErrors.incrementAndGet()
              errors.add(s"GET ${g.path}: $e")
            }
            n += 1
          }
        }, s"bench-reader-$j")
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      lats
    }

    r.log("server up")
    phase(r.seed * 7919L + 1000, 0L, cfg.path("warmup_reads_per_reader").asInt())
    r.log("warm-up done")
    val (warmNon2xx, warmTransport) = (non2xx.get, transportErrors.get)
    val warmFailures = warmNon2xx + warmTransport
    rowsServed.set(0L)
    r.markTimed()
    val w0 = System.nanoTime()
    val lat = phase(r.seed * 7919L, w0 + (r.seconds * 1e9).toLong, 0).flatten
    val w1 = System.nanoTime()
    r.markWindowEnd()
    val windowS = (w1 - w0) / 1e9
    val failed = non2xx.get + transportErrors.get - warmFailures
    server.close()

    val ends = names.map(s => loader.tierStats(Service.Container, s))
    val layers = r.tracer.map(t => Layers.of(t, w0, w1)).getOrElse(Map.empty) ++ Map(
      "api.status_non2xx" -> (non2xx.get - warmNon2xx).toDouble,
      "api.transport_errors" -> (transportErrors.get - warmTransport).toDouble,
      "storage.files_end" -> ends.map(e => e._1 + e._3).sum.toDouble,
      "storage.bytes_end" -> ends.map(e => e._2 + e._4).sum.toDouble,
      "client.rows_per_s" -> rowsServed.get / windowS)
    Outcome(
      attempted = lat.size,
      failed = failed,
      errors = errors.asScala.toSeq ++
        (if (warmFailures > 0) Seq(s"$warmFailures warm-up requests failed") else Nil),
      e2e = Map(
        "ops_per_s" -> (lat.size - failed) / windowS,
        "op_p50_ms" -> Stats.pct(lat, 0.5),
        "op_p90_ms" -> Stats.pct(lat, 0.9)),
      layers = layers,
      info = Map("reads" -> lat.size, "rows_loaded" -> sizes.sum, "rows_served" -> rowsServed.get))
  }
}
