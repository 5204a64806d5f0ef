package graftbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.DataFrame
import graft.storage.LogTier

/** Timing decorator over a [[LogTier]], passed to the server as its
  * `makeTier`. It forwards EVERY trait method, including the defaulted
  * ones the wrapped tier may override (`hotBytes`, `withReadSnapshot`,
  * `statsAndRows`): inheriting a default instead would silently change
  * what the program does (the default `statsAndRows` resolves the
  * manifest twice).
  *
  * Span names follow the layer that owns the call: `storage.*` for the
  * tier's own work, `ingest.flush` around each append, `engine.compact`
  * for the compactions the [[graft.engine.Compactor]] triggers, and
  * `engine.query` for the materializing action the server runs inside
  * `withReadSnapshot`. A read whose plan is the same instance as the
  * previous read of that session is marked `plan_reused`. */
final class TracedTier(inner: LogTier, t: Tracer) extends LogTier {
  private val lastPlan = new ConcurrentHashMap[(String, String), DataFrame]()

  def read(container: String, session: String): DataFrame =
    t.span("storage.read", container, session) {
      val df = inner.read(container, session)
      (df, lastPlan.put((container, session), df) eq df)
    } { case (_, reused) => Map("plan_reused" -> reused) }._1

  /** In the server every append is an ingest-buffer flush (the flush
    * callback is the only appender), so each one is also an
    * `ingest.flush` span: a root on the flush timer's thread, a child of
    * the GET whose read-your-writes flush ran it. */
  def append(df: DataFrame, container: String, session: String): Long =
    t.span("ingest.flush", container, session)(
      t.span("storage.append", container, session)(inner.append(df, container, session))(
        b => Map("bytes" -> b)))()

  def tierStats(container: String, session: String): (Long, Long, Long, Long) =
    t.span("storage.tier_stats", container, session)(inner.tierStats(container, session))()

  def sessions(): Seq[(String, String)] =
    t.span("storage.sessions", "", "")(inner.sessions())()

  override def hotBytes(container: String, session: String): Long =
    t.span("storage.hot_bytes", container, session)(inner.hotBytes(container, session))()

  def compact(container: String, session: String): Long =
    t.span("engine.compact", container, session)(inner.compact(container, session))(
      b => Map("bytes_retired" -> b))

  override def withReadSnapshot[T](container: String, session: String)(f: => T): T =
    t.span("engine.query", container, session)(inner.withReadSnapshot(container, session)(f))()

  override def statsAndRows(container: String, session: String)
      : ((Long, Long, Long, Long), Long) =
    t.span("storage.stats_and_rows", container, session)(inner.statsAndRows(container, session))()
}
