package graftbench

import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  * `--workload W --seed N --seconds S --trace 0|1 --cores N --work DIR
  *  --config FILE --t0-us EPOCH_US --result FILE`.
  * Writes the run's numbers to `--result`; the Python runner turns them
  * into the benchmark's output line. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val conf = new ObjectMapper().readTree(new java.io.File(opt("config")))
    val workload = opt("workload")
    val work = opt("work")
    val cores = opt("cores").toInt
    val trace = opt("trace") == "1"
    redirectScratch(s"$work/scratch")
    Stats.watchHeap()

    // Session settings follow the entry point each workload stands for:
    // the server's (api.ServerMain) for the HTTP workloads, graft.Verify's
    // for analytics, whose materialised results the oracle reads back.
    // One departure: both put shuffle, spill and the warehouse under
    // graft.Scratch.localDir (tmpfs when the host has one); the benchmark
    // keeps every file inside its run directory instead, and points
    // graft.Scratch.localDir there too.
    val builder = SparkSession.builder().master(s"local[$cores]").appName("graft-bench")
    if (workload == "analytics") builder.config("spark.sql.legacy.parquet.nanosAsLong", "true")
    else builder.config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val spark = builder
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val t0Ns = System.nanoTime()
    val run = Run(spark, conf.path("workloads").path(workload), conf.path("server"), conf.path("rows"),
      opt("seed").toLong, opt("seconds").toDouble, cores, work, tracer, opt("t0-us").toLong)
    run.log("spark up")
    val out = workload match {
      case "ingest" => IngestWorkload.run(run)
      case "query" => QueryWorkload.run(run)
      case "analytics" => AnalyticsWorkload.run(run, s"$work/events")
      case "selftest" =>
        val problems = SelfTest.run(run)
        Outcome(1, problems.size, problems, Map.empty, Map.empty, Map.empty)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    tracer.foreach { t =>
      t.writeJsonl(Paths.get(opt("spans")), t0Ns)
      t.close()
    }

    val m = new ObjectMapper()
    val res = m.createObjectNode()
    res.put("attempted", out.attempted)
    res.put("failed", out.failed)
    val errs = res.putArray("errors")
    out.errors.take(50).foreach(errs.add)
    res.put("error_count", out.errors.size)
    val e2e = res.putObject("e2e")
    (out.e2e ++ Map("setup_s" -> run.setupS, "rss_peak_mb" -> Stats.rssPeakMb(),
      "heap_live_mb" -> run.heapLiveMb))
      .foreach { case (k, v) => e2e.put(k, v) }
    val layers = res.putObject("layers")
    (out.layers + ("jvm.heap_after_gc_peak_mb" -> Stats.heapAfterGcPeakMb))
      .foreach { case (k, v) => layers.put(k, v) }
    val info = res.putObject("info")
    out.info.foreach { case (k, v) => info.put(k, String.valueOf(v)) }
    Files.writeString(Paths.get(opt("result")), m.writeValueAsString(res))
    spark.stop()
    sys.exit(0) // no lingering non-daemon thread may keep the JVM up
  }

  /** Points `graft.Scratch.localDir` (the program's scratch tier, which
    * some log queries write temporary stores under) at a directory of the
    * run, so the benchmark writes nothing outside its own tree. Must run
    * before anything reads the lazy value. */
  private def redirectScratch(dir: String): Unit = {
    new java.io.File(dir).mkdirs()
    val cls = graft.Scratch.getClass
    val f = cls.getDeclaredField("localDir"); f.setAccessible(true); f.set(null, dir)
    val b = cls.getDeclaredField("bitmap$0"); b.setAccessible(true); b.setBoolean(null, true)
    require(graft.Scratch.localDir == dir, "could not redirect graft.Scratch.localDir")
  }
}
