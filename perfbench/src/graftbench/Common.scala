package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import graft.api.LogServer
import graft.storage.{LogTier, ManifestLog}

/** Everything a workload needs from the command line and the config. */
final case class Run(spark: SparkSession, cfg: JsonNode, server: JsonNode, rows: JsonNode, seed: Long,
                     seconds: Double, cores: Int, work: String, tracer: Option[Tracer],
                     t0EpochUs: Long) {
  @volatile private var setupEndUs = 0L
  /** Called once, right before the first timed operation. */
  def markTimed(): Unit = if (setupEndUs == 0L) setupEndUs = Stats.epochUs()
  def setupS: Double = (setupEndUs - t0EpochUs) / 1e6
  @volatile private var liveMb = 0.0
  /** Called once, right after the timed window, before anything is shut
    * down: records the heap's live set then, once the Spark listener
    * events still queued (which hold their queries) were handled. */
  def markWindowEnd(): Unit = {
    org.apache.spark.sql.graftbench.Shim.drain(spark.sparkContext)
    liveMb = Stats.liveHeapMb()
  }
  def heapLiveMb: Double = liveMb
  /** Progress line for the JVM log, stamped with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[bench ${(Stats.epochUs() - t0EpochUs) / 1e6}%7.2fs] $msg")
}

/** A workload's numbers. `e2e` and `layers` are keyed by the metric
  * names BENCHMARK.json declares; `errors` lists every wrong output. */
final case class Outcome(attempted: Long, failed: Long, errors: Seq[String],
                         e2e: Map[String, Double], layers: Map[String, Double],
                         info: Map[String, Any])

object Stats {
  def epochUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** Nearest-rank percentile, q in (0, 1]; 0 for no samples. */
  def pct(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 0.5)

  /** Largest heap occupancy right after a collection, in MB, since
    * [[watchHeap]] was called. */
  private val heapAfterGcPeak = new java.util.concurrent.atomic.AtomicLong(0L)
  def heapAfterGcPeakMb: Double = heapAfterGcPeak.get / 1048576.0
  def watchHeap(): Unit = {
    import java.lang.management.{ManagementFactory, MemoryType}
    import com.sun.management.GarbageCollectionNotificationInfo
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case emitter: javax.management.NotificationEmitter =>
        emitter.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            heapAfterGcPeak.accumulateAndGet(used, math.max)
          }, null, null)
      case _ => ()
    }
  }

  /** Heap in use right after a full collection, in MB: the live set.
    * The first collection lets Spark's ContextCleaner drop the blocks and
    * broadcasts of unreachable plans; the second, a second later, takes
    * what it dropped. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM in MB (`VmHWM`). */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Number of values in [lo, hi] among the first `n` of an ascending
    * array; `hi` must be below Long.MaxValue. */
  def countIn(sorted: Array[Long], n: Int, lo: Long, hi: Long): Int = {
    def lowerBound(x: Long): Int = {
      var a = 0; var b = n
      while (a < b) { val m = (a + b) >>> 1; if (sorted(m) < x) a = m + 1 else b = m }
      a
    }
    if (hi < lo) 0 else lowerBound(hi + 1) - lowerBound(lo)
  }
}

/** One client connection to the server. */
final class Http(port: Int, token: String) {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val base = s"http://localhost:$port"

  def send(method: String, path: String, body: String = null): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
      .timeout(java.time.Duration.ofSeconds(120))
    if (token != null) b.header("Authorization", s"Bearer $token")
    if (body == null) b.method(method, BodyPublishers.noBody())
    else b.method(method, BodyPublishers.ofString(body)).header("Content-Type", "application/json")
    client.send(b.build(), BodyHandlers.ofString())
  }
}

/** Starts the log server pinned to the manifest tier, with the flush and
  * rotation policy from the config, and provisions one container. The
  * catalog is the shared one on the data root, which api.ServerMain pairs
  * with the manifest tier by default. */
object Service {
  val Container = "bench"

  def tier(r: Run): (SparkSession, String) => LogTier = r.tracer match {
    case None => LogServer.manifestTier
    case Some(t) => (sp, dir) => new TracedTier(new ManifestLog(sp, dir), t)
  }

  def start(r: Run, root: String): (LogServer, String) = {
    val server = new LogServer(r.spark, root,
      bufferSizeLimit = r.server.path("rotation_bytes").asLong(),
      ingestFlushBytes = r.server.path("flush_bytes").asLong(),
      ingestFlushMs = r.server.path("flush_ms").asLong(),
      makeTier = tier(r), makeCatalog = LogServer.sharedCatalog(s"$root/data")).start()
    val anon = new Http(server.boundPort, null)
    val login = anon.send("POST", "/api/auth/login", """{"username":"admin","password":"admin"}""")
    require(login.statusCode == 200, s"login failed: ${login.statusCode} ${login.body}")
    val token = """"token"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(login.body).get.group(1)
    val http = new Http(server.boundPort, token)
    val c = http.send("POST", "/api/containers", s"""{"container_id":"$Container"}""")
    require(c.statusCode == 201, s"container create failed: ${c.statusCode} ${c.body}")
    (server, token)
  }

  def createSession(http: Http, session: String): Unit = {
    val r = http.send("POST", s"/api/containers/$Container/sessions", s"""{"session_id":"$session"}""")
    require(r.statusCode == 201, s"session create failed: ${r.statusCode} ${r.body}")
  }

  /** `"total_rows":N` of a batch GET body; it follows the logs array. */
  def totalRows(body: String): Long = {
    val k = "\"total_rows\":"
    val i = body.lastIndexOf(k)
    require(i >= 0, "response has no total_rows")
    var j = i + k.length
    while (j < body.length && body.charAt(j).isDigit) j += 1
    body.substring(i + k.length, j).toLong
  }

  /** ISO-8601 with microseconds, as the API accepts it. */
  def iso(us: Long): String =
    java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L).toString
}
