package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import graft.SparkEntry

/** `analytics`: one client running sequential passes over the
  * `SparkEntry.queries` entries whose only input is `events`, on a
  * seeded events table. Each query's result is materialised the way
  * `graft.Verify` does it (one parquet file per query), so the runner can
  * check the last pass against the DuckDB oracle afterwards. */
object AnalyticsWorkload {

  def run(r: Run, dataDir: String): Outcome = {
    val names = r.cfg.path("queries").elements().asScala.map(_.asText()).toSeq
    val out = s"${r.work}/analytics-out"
    val errors = ArrayBuffer.empty[String]
    val queryMs = names.map(_ -> ArrayBuffer.empty[Double]).toMap
    var failed = 0L

    def materialize(n: String): Unit =
      SparkEntry.queries(n)(r.spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"$out/$n")

    /** One pass; returns its wall time in seconds (the queries' own
      * times, without the cache clear and GC between them). */
    def pass(timed: Boolean): Double = names.map { n =>
      val t0 = System.nanoTime()
      try r.tracer match {
        case Some(t) => t.span(s"ops.$n", "", n)(materialize(n))()
        case None => materialize(n)
      } catch { case scala.util.control.NonFatal(e) =>
        if (timed) failed += 1
        errors += s"$n failed: ${e.getMessage}"
      }
      val ms = (System.nanoTime() - t0) / 1e6
      if (timed) queryMs(n) += ms
      r.spark.catalog.clearCache() // queries are independent, as in graft.Verify
      System.gc()
      ms / 1000.0
    }.sum

    (1 to r.cfg.path("warmup_passes").asInt()).foreach(_ => pass(timed = false))
    r.log("warm-up done")
    r.markTimed()
    val w0 = System.nanoTime()
    val passes = ArrayBuffer.empty[Double]
    while (passes.isEmpty || (System.nanoTime() - w0) / 1e9 + Stats.median(passes) <= r.seconds)
      passes += pass(timed = true)
    val w1 = System.nanoTime()
    r.markWindowEnd()

    val oracle = new com.fasterxml.jackson.databind.ObjectMapper().createObjectNode()
    names.foreach(n => oracle.put(n, SparkEntry.oracleSql(n)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"), oracle.toString)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/attempted.txt"), names.mkString("\n"))

    val all = queryMs.values.flatten
    val layers = r.tracer.map { t =>
      val common = Layers.of(t, w0, w1)
      t.drain()
      val st = t.sparkTrace
      val opsSpans = t.spans.asScala.toSeq.filter(sp => sp.parent == 0L && sp.startNs >= w0 && sp.startNs <= w1)
      val jobsBySpan = st.jobs.asScala.values.toSeq.groupBy(_.span)
      val execSpan = st.executionSpans()
      val qesBySpan = st.queries.asScala.toSeq.filter(!_.failed)
        .groupBy(q => execSpan.getOrElse(q.execution, 0L))
      val nPasses = passes.size.toDouble
      val perQuery = names.flatMap { n =>
        val mine = opsSpans.filter(_.name == s"ops.$n").map(_.id)
        val jobs = mine.flatMap(jobsBySpan.getOrElse(_, Nil))
        Seq(
          s"ops.$n.s" -> Stats.median(queryMs(n)) / 1000.0,
          s"ops.$n.plan_ms" -> mine.flatMap(qesBySpan.getOrElse(_, Nil)).map(_.planMs).sum / nPasses,
          s"ops.$n.jobs" -> jobs.size / nPasses,
          s"ops.$n.cpu_ms" -> jobs.flatMap(st.stagesOf).map(_.cpuNs).sum / 1e6 / nPasses)
      }
      common ++ perQuery
    }.getOrElse(Map.empty)
    Outcome(
      attempted = all.size.toLong,
      failed = failed,
      errors = errors.toSeq,
      // the client's operation is one pass over the queries
      e2e = Map(
        "ops_per_s" -> passes.size / passes.sum,
        "op_p50_ms" -> Stats.pct(passes, 0.5) * 1000.0,
        "op_p90_ms" -> Stats.pct(passes, 0.9) * 1000.0),
      layers = layers,
      info = Map("passes" -> passes.size, "pass_s" -> Stats.median(passes), "queries" -> names.size,
        "per_query_ms" -> names.map(n => s"$n=${Stats.median(queryMs(n)).round}").mkString(" ")))
  }
}
