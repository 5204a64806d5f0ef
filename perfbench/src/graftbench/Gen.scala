package graftbench

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.Row

/** One log row as the client sends it; `tsUs` is epoch microseconds. */
final case class LogRow(tsUs: Long, level: String, message: String) {
  def toSparkRow: Row = {
    val ts = new java.sql.Timestamp(Math.floorDiv(tsUs, 1000L))
    ts.setNanos((Math.floorMod(tsUs, 1000000L) * 1000L).toInt)
    Row(ts, level, message)
  }
}

/** A session's seeded row stream, shaped by the `rows` config: batch
  * sizes and message lengths are log-normal and capped, levels follow
  * the configured (INFO-heavy) mix, and timestamps rise by a uniform
  * random step. The distributions are fixed by the config; the seed
  * only draws from them. */
final class LogStream(cfg: JsonNode, seed: Long, tag: String) {
  private val rng = new java.util.Random(seed)
  private val text = {
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789     "
    val sb = new StringBuilder
    (1 to 8192).foreach(_ => sb += alphabet.charAt(rng.nextInt(alphabet.length)))
    sb.toString
  }
  private val levels = cfg.path("levels").fields().asScala.toSeq.map(e => e.getKey -> e.getValue.asDouble())
  private var clockUs = java.time.Instant.parse(cfg.path("start_ts").asText()).toEpochMilli * 1000L
  private var seq = 0L

  private def lognormal(node: String): Int = {
    val c = cfg.path(node)
    val v = math.exp(math.log(c.path("median").asDouble()) + c.path("sigma").asDouble() * rng.nextGaussian())
    math.max(1, math.min(c.path("max").asInt(), math.round(v).toInt))
  }

  private def level(): String = {
    var u = rng.nextDouble()
    levels.find { case (_, p) => u -= p; u < 0 }.map(_._1).getOrElse(levels.head._1)
  }

  def take(n: Int): Seq[LogRow] = Seq.fill(n) {
    clockUs += 1 + rng.nextInt(cfg.path("ts_step_ms_max").asInt() * 1000)
    seq += 1
    val len = lognormal("message_chars")
    val off = rng.nextInt(text.length - len)
    LogRow(clockUs, level(), s"$tag-$seq ${text.substring(off, off + len)}")
  }

  /** One POST's worth of rows. */
  def next(): Seq[LogRow] = take(lognormal("batch_rows"))
}
