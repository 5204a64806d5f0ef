package graftbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics from a traced run, over the spans whose root started
  * inside the timed window [w0, w1] (nanoTime). The names are the ones
  * BENCHMARK.json declares; metrics a workload cannot produce are left
  * out here and reported as 0 by the runner. */
object Layers {

  def of(t: Tracer, w0: Long, w1: Long): Map[String, Double] = {
    t.drain()
    val all = t.spans.asScala.toSeq
    val roots = all.filter(_.parent == 0L).map(sp => sp.id -> sp.startNs).toMap
    val inWindow = all.filter(sp => roots.get(sp.req).exists(s => s >= w0 && s <= w1))
    def named(n: String) = inWindow.filter(_.name == n)
    def p(xs: Seq[Double], q: Double) = Stats.pct(xs, q)

    val posts = named("api.post")
    val gets = named("api.get")
    val appends = named("storage.append")
    val reads = named("storage.read")
    val compacts = named("engine.compact")
    val queries = named("engine.query")
    val st = t.sparkTrace
    val spanRoot = all.iterator.map(sp => sp.id -> sp.req).toMap
    val liveRoots = inWindow.iterator.map(_.req).toSet
    val jobs = st.jobs.asScala.values.toSeq.filter(j => spanRoot.get(j.span).exists(liveRoots))
    val jobExec = jobs.map(_.execution).filter(_ >= 0).toSet
    val qes = st.queries.asScala.toSeq.filter(q => !q.failed && jobExec(q.execution))
    val stageStats = jobs.flatMap(st.stagesOf)
    // Spark execution time of each GET's query: the executions whose
    // jobs ran under that GET's engine.query span
    val execSpan = st.executionSpans()
    val execMsBySpan = qes.groupBy(q => execSpan.getOrElse(q.execution, 0L))
      .map { case (span, qs) => span -> qs.map(_.execMs).sum }
    val compactIvs = compacts.map(c => (c.startNs, c.endNs))
    val postsDuringCompaction = posts.filter(pp =>
      compactIvs.exists { case (a, b) => pp.startNs < b && pp.endNs > a })

    Map(
      "api.post.self_ms_p50" -> p(t.selfMs(posts), 0.5),
      "api.get.self_ms_p50" -> p(t.selfMs(gets), 0.5),
      "api.ambiguous_attributions" -> inWindow.count(_.attrs.contains("ambiguous")).toDouble,
      "ingest.flushes" -> appends.size.toDouble,
      "storage.append.busy_ms" -> appends.map(_.ms).sum,
      "storage.append.ms_p50" -> p(appends.map(_.ms), 0.5),
      "storage.append.ms_p99" -> p(appends.map(_.ms), 0.99),
      "storage.append.bytes" -> appends.map(_.attrs.getOrElse("bytes", 0L).asInstanceOf[Long]).sum.toDouble,
      "storage.read.calls" -> reads.size.toDouble,
      "storage.read.ms_p50" -> p(reads.map(_.ms), 0.5),
      "storage.read.plan_reuse_frac" -> (if (reads.isEmpty) 0.0 else
        reads.count(_.attrs.get("plan_reused").contains(true)).toDouble / reads.size),
      "storage.tier_stats.ms_p50" -> p(named("storage.tier_stats").map(_.ms), 0.5),
      "engine.compact.calls" -> compacts.size.toDouble,
      "engine.compact.busy_ms" -> compacts.map(_.ms).sum,
      "engine.compact.ms_p99" -> p(compacts.map(_.ms), 0.99),
      "engine.compact.bytes_retired" ->
        compacts.map(_.attrs.getOrElse("bytes_retired", 0L).asInstanceOf[Long]).sum.toDouble,
      "engine.compact.post_p99_during_ms" -> p(postsDuringCompaction.map(_.ms), 0.99),
      "engine.query.exec_ms_p50" -> p(queries.map(q => execMsBySpan.getOrElse(q.id, 0.0)), 0.5),
      "spark.queries" -> qes.size.toDouble,
      "spark.plan_ms" -> qes.map(_.planMs).sum,
      "spark.exec_ms" -> qes.map(_.execMs).sum,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stageStats.size.toDouble,
      "spark.tasks" -> stageStats.map(_.tasks).sum.toDouble,
      "spark.executor_run_ms" -> stageStats.map(_.runMs).sum.toDouble,
      "spark.executor_cpu_ms" -> stageStats.map(_.cpuNs).sum / 1e6,
      "spark.input_bytes" -> stageStats.map(_.inputBytes).sum.toDouble,
      "spark.shuffle_read_bytes" -> stageStats.map(_.shuffleReadBytes).sum.toDouble,
      "spark.shuffle_write_bytes" -> stageStats.map(_.shuffleWriteBytes).sum.toDouble,
      "spark.spill_bytes" -> stageStats.map(_.spillBytes).sum.toDouble,
      "spark.gc_ms" -> stageStats.map(_.gcMs).sum.toDouble,
      "spark.output_bytes" -> stageStats.map(_.outputBytes).sum.toDouble)
  }
}
