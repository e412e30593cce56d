package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, the report, its arguments,
  * a private work directory and, in a traced run, the tracer. */
final class Ctx(val spark: SparkSession, val report: Report, val seed: Long,
    val seconds: Double, val cores: Int, val work: Path,
    val tracer: Option[Tracer]) {
  /** Input-generation times; set-up time counts their median once. */
  val genMs = scala.collection.mutable.ArrayBuffer.empty[Double]

  private val started = System.nanoTime()
  /** Progress line on stderr, with seconds since the harness started. */
  def log(msg: String): Unit =
    System.err.println(f"[graftbench ${(System.nanoTime() - started) / 1e9}%7.2f s] $msg")

  def timeMs[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e6)
  }

  /** Generate inputs three times (each into a fresh directory from the
    * same seed), keep the last copy, and record each time. */
  def generate[T](dir: Path)(gen: Path => T): T = {
    var last: Option[T] = None
    (0 until 3).foreach { _ =>
      deleteTree(dir)
      val (r, ms) = timeMs(gen(dir))
      log(f"generated inputs in $ms%.0f ms")
      genMs += ms
      last = Some(r)
    }
    last.get
  }

  /** Between operations, untimed: collect the garbage of the last one
    * and give Spark's cleaner time to drop its shuffles and blocks, so
    * that the next operation does not share the machine with that
    * clean-up. Without it, curation run times alternated by ~15%. */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(300)
  }

  /** Run `op(i)` until `seconds` have passed and at least three
    * operations ran, settling after each. `op` returns its timed part,
    * or None when it failed. */
  def loop[T](op: Int => Option[T]): Seq[(Int, T)] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val times = scala.collection.mutable.ArrayBuffer.empty[(Int, T)]
    var i = 0
    while (System.nanoTime() < deadline || i < 3) {
      val t = System.nanoTime()
      op(i).foreach(ms => times += i -> ms)
      log(f"op $i done in ${(System.nanoTime() - t) / 1e6}%.0f ms")
      settle()
      i += 1
    }
    times.toVector
  }

  /** Put the end-to-end metrics of an operation-at-a-time workload:
    * `ops` holds each operation's time in ms and its units of work. */
  def putOps(ops: Seq[(Double, Double)], unitName: String): Unit =
    if (ops.nonEmpty) {
      val times = ops.map(_._1)
      report.put("op_p50_ms", Stats.median(times), "ms", ops.size)
      report.put("op_p95_ms", Stats.quantile(times, 0.95), "ms", ops.size)
      report.put("work_per_s", Stats.median(ops.map { case (ms, u) => u / (ms / 1000.0) }),
        "1/s", ops.size)
      report.info("work_unit") = unitName
    }

  /** Tracing-overhead share from alternating traced and untraced ops. */
  def putOverhead(traced: Seq[Double], untraced: Seq[Double]): Unit =
    tracer.foreach { t =>
      if (traced.nonEmpty && untraced.nonEmpty)
        t.count("trace.overhead_frac", Stats.median(traced) / Stats.median(untraced) - 1.0)
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
}

trait Workload {
  /** Generate inputs, start caches and warm up. */
  def setup(): Unit
  /** The timed part; puts the end-to-end metrics. */
  def measure(): Unit
  /** Traced runs only: one pass with every layer call persisted and
    * counted under its own span; puts layer-specific counts. */
  def layered(t: Tracer): Unit
}

object Main {
  val Workloads = Seq("etl_backfill", "etl_nightly", "serve_dashboard", "curate_corpus")

  /** Every per-layer metric name, in report order. Layers that do not
    * run on a workload report 0. */
  val SparkLayers = Seq("parse", "etl", "usage", "ingest", "sources", "serve",
    "functions", "operators")
  val LayerCounts: Seq[(String, String)] = Seq(
    "app.driver_s" -> "s",
    "parse.lines_in" -> "count", "parse.records_out" -> "count", "parse.yield" -> "ratio",
    "etl.jobs_out" -> "count",
    "usage.hourly_rows" -> "count", "usage.fanout" -> "ratio", "usage.combine_ratio" -> "ratio",
    "usage.files_written" -> "count", "usage.write_mb" -> "MB",
    "ingest.days_planned" -> "count", "ingest.days_skipped" -> "count",
    "ingest.sync_s" -> "s", "ingest.files_loaded" -> "count", "ingest.rows_loaded" -> "count",
    "serve.memo_hit_ratio" -> "ratio", "serve.memo_hit_ms_p50" -> "ms",
    "serve.cold_spark_ms_p50" -> "ms", "serve.cold_driver_ms_p50" -> "ms",
    "serve.jobs_per_cold" -> "count", "serve.queue_ms_p50" -> "ms",
    "serve.rows_examined_per_point" -> "ratio", "serve.recache_s" -> "s", "serve.cache_mb" -> "MB",
    "functions.signature.docs" -> "count", "functions.signature.band_rows" -> "count",
    "operators.candidates.pair_bound_per_doc" -> "ratio", "operators.candidates.route_groups" -> "count",
    "operators.verify.candidates" -> "count", "operators.verify.survivors" -> "count",
    "operators.verify.survivor_ratio" -> "ratio",
    "operators.cc.edges_in" -> "count", "operators.cc.shuffle_stages" -> "count",
    "operators.cc.driver_path" -> "count",
    "operators.quality.keep_ratio" -> "ratio", "operators.exact.dup_ratio" -> "ratio",
    "operators.decontam.flagged" -> "count", "operators.chunk.chunks" -> "count",
    "trace.overhead_frac" -> "ratio", "trace.unattributed_s" -> "s")

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = arg(args, "--workload").getOrElse("")
    require(Workloads.contains(workload),
      s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val work = Paths.get(arg(args, "--work").getOrElse("work")).toAbsolutePath
    val out = Paths.get(arg(args, "--out").getOrElse("result.json")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors

    val report = new Report
    val spark = graft.GraftSession.create("graftbench")
    spark.sparkContext.setLogLevel("WARN")
    val runId = s"$workload-s$seed-t${if (trace) 1 else 0}"
    val tracer = if (trace) Some(new Tracer(spark, cores, runId)) else None
    val ctx = new Ctx(spark, report, seed, seconds, cores, work.resolve(workload), tracer)
    ctx.deleteTree(ctx.work)
    Files.createDirectories(ctx.work)

    val w: Workload = workload match {
      case "etl_backfill" => new EtlBackfill(ctx)
      case "etl_nightly" => new EtlNightly(ctx)
      case "serve_dashboard" => new ServeDashboard(ctx)
      case "curate_corpus" => new CurateCorpusWorkload(ctx)
    }
    ctx.log("session started")
    w.setup()
    ctx.log("set up")
    val readyMs = System.currentTimeMillis()
    val genMs = ctx.genMs.toSeq
    val setupS = (readyMs - jvmStartMs - genMs.sum + (if (genMs.isEmpty) 0.0 else Stats.median(genMs))) / 1000.0
    report.put("setup_s", setupS, "s", math.max(1, genMs.size))
    ctx.settle()
    w.measure()
    ctx.log("measured")

    tracer.foreach { t =>
      val t0 = System.currentTimeMillis()
      w.layered(t)
      t.drain()
      SparkLayers.foreach(l => t.layerMetrics(l).foreach { case (n, v, u) => report.put(n, v, u) })
      val inLayers = t.allSpans.filter(_.startMs >= t0).map(_.ms).sum
      t.count("trace.unattributed_s",
        math.max(0.0, (System.currentTimeMillis() - t0 - inLayers) / 1000.0))
      val all = t.counted
      LayerCounts.foreach { case (n, u) => report.put(n, all.getOrElse(n, 0.0), u) }
      t.writeSpans(out.resolveSibling(out.getFileName.toString.stripSuffix(".json") + ".spans.jsonl"))
    }
    report.put("peak_rss_mb", Stats.peakRssMb(), "MB")
    report.put("failed_frac",
      if (report.nAttempted == 0) 1.0 else report.nFailed.toDouble / report.nAttempted, "ratio",
      report.nAttempted.toInt)

    report.info("nproc") = cores.toString
    report.info("max_heap_mb") = (Runtime.getRuntime.maxMemory / 1048576).toString
    spark.conf.getAll.toSeq.sorted.foreach { case (k, v) => report.info(k) = v }
    spark.stop()

    report.all.foreach { m =>
      println(s"metric ${m.name} ${Json.num(m.value)} ${m.unit} ${m.samples}")
    }
    val json = report.toJson(Seq("workload" -> Json.str(workload), "seed" -> seed.toString,
      "seconds" -> Json.num(seconds), "trace" -> (if (trace) "1" else "0")))
    Files.write(out, json.getBytes("UTF-8"))
    ctx.deleteTree(ctx.work)
    System.out.flush()
    // a lingering non-daemon thread must not keep the process alive
    System.exit(0)
  }
}
