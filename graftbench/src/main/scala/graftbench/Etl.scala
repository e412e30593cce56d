package graftbench

import graft.app.ProcessLogs
import graft.etl.JobAssembly
import graft.ingest.IncrementalPlanner
import graft.parse.{ConfParsing, LineParsing}
import graft.usage.UsageEtl
import java.nio.file.{Files, Path}
import java.time.LocalDate
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Output checks for the ETL workloads. Expected values come from the
  * generator's totals; the output is read back with plain Spark. */
object EtlCheck {
  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** Whole-output totals: job count, attempts started and finished,
    * elapsed minutes in the usage fact and in the job trees (proration
    * conserves runtime), and the conf count. */
  def totals(spark: SparkSession, c: OpCtx, out: Path, want: LogTotals): Unit = {
    val jobs = spark.read.parquet(out.resolve("jobs").toString)
    val nJobs = jobs.count()
    c.check(nJobs == want.jobs, s"jobs: got $nJobs, want ${want.jobs}")
    val u = spark.read.parquet(out.resolve("usage").toString)
      .agg(sum("started"), sum("finished"), sum("elapsedMinutes")).head()
    c.check(u.getLong(0) == want.attempts, s"usage started: got ${u.get(0)}, want ${want.attempts}")
    c.check(u.getLong(1) == want.attempts, s"usage finished: got ${u.get(1)}, want ${want.attempts}")
    c.check(close(u.getDouble(2), want.elapsedMinutes),
      s"usage elapsedMinutes: got ${u.get(2)}, want ${want.elapsedMinutes}")
    val a = jobs.select(explode(col("tasks")).as("t"))
      .select(explode(col("t.attempts")).as("a"))
      .agg(count(lit(1)), sum("a.minutes")).head()
    c.check(a.getLong(0) == want.attempts, s"job-tree attempts: got ${a.get(0)}, want ${want.attempts}")
    c.check(close(a.getDouble(1), want.elapsedMinutes),
      s"job-tree minutes: got ${a.get(1)}, want ${want.elapsedMinutes}")
    val nConfs = spark.read.parquet(out.resolve("confs").toString).count()
    c.check(nConfs == want.confs, s"confs: got $nConfs, want ${want.confs}")
  }

  /** Latest file mtime per partition directory of each output table. */
  def partitionMtimes(out: Path): Map[String, Long] =
    Seq("jobs", "usage", "confs").flatMap { tbl =>
      val base = out.resolve(tbl)
      if (!Files.exists(base)) Nil
      else Files.walk(base).iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith("."))
        .toSeq
        .groupBy(p => s"$tbl/${base.relativize(p.getParent)}")
        .view.mapValues(_.map(Files.getLastModifiedTime(_).toMillis).max).toSeq
    }.toMap

  def rewritten(before: Map[String, Long], after: Map[String, Long]): Set[String] =
    after.collect { case (k, m) if before.get(k).forall(_ < m) => k }.toSet
}

/** The ETL pipeline split into its layers, each call persisted and
  * counted under its own span (traced runs only). */
object EtlLayers {
  def run(ctx: Ctx, t: Tracer, logs: Path, out: Path, prior: Path,
      today: LocalDate, numDays: Int): Unit = {
    val spark = ctx.spark
    implicit val s: SparkSession = spark
    import spark.implicits._
    val pinned = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Dataset[_]]
    try {
      val plan = t.span("ingest", "IncrementalPlanner.plan") {
        val present = IncrementalPlanner.existingPartitions(spark, prior.resolve("usage").toString)
        LogGen.Clusters.flatMap(c =>
          IncrementalPlanner.plan(today, numDays, 5, d => present((c, d.toString))).map(c -> _.date))
      }
      t.count("ingest.days_planned", plan.size)
      t.count("ingest.days_skipped", LogGen.Clusters.size * numDays - plan.size)
      val dirs = plan.flatMap { case (c, d) =>
        LogGen.Queues.map(q => LogGen.dayDir(logs, c, q, d)).filter(Files.exists(_))
      }.map(_.toString)

      val lines = t.span("parse", "LineParsing.parseLine") {
        val tagged = spark.read.textFile(dirs.map(_ + "/*.log"): _*)
          .select(regexp_extract(input_file_name(), "([^/]+)/daily/", 1).as("_1"),
            col("value").as("_2"))
          .as[(String, String)].persist()
        pinned += tagged
        val nIn = tagged.count()
        val nOut = tagged.flatMap(r => LineParsing.parseLine(r._2).map(_ => 1)).count()
        t.add("parse.lines_in", nIn.toDouble)
        t.add("parse.records_out", nOut.toDouble)
        tagged
      }
      t.span("parse", "ConfParsing.parseConfDirsAuto") {
        val confs = ConfParsing.parseConfDirsAuto(dirs)
        val nFiles = spark.read.format("binaryFile").option("pathGlobFilter", "*.xml")
          .load(dirs: _*).select("path").count()
        t.add("parse.lines_in", nFiles.toDouble)
        t.add("parse.records_out", confs.count().toDouble)
      }
      val c = t.counted
      t.count("parse.yield", c("parse.records_out") / math.max(1.0, c("parse.lines_in")))

      val jobs = t.span("etl", "JobAssembly.assembleJobsMulti") {
        val j = JobAssembly.assembleJobsMulti(lines).persist()
        pinned += j
        t.count("etl.jobs_out", j.count().toDouble)
        j
      }
      val attempts = jobs.select(explode(col("tasks")).as("t"))
        .select(explode(col("t.attempts"))).count()
      val hourly = t.span("usage", "UsageEtl.hourlyRecords") {
        val h = UsageEtl.hourlyRecords(jobs).persist()
        pinned += h
        t.count("usage.hourly_rows", h.count().toDouble)
        h
      }
      val fact = t.span("usage", "UsageEtl.aggregate") {
        val f = UsageEtl.aggregate(hourly).persist()
        pinned += f
        f.count()
        f
      }
      val hourlyRows = t.counted("usage.hourly_rows")
      t.count("usage.fanout", hourlyRows / math.max(1L, attempts))
      t.count("usage.combine_ratio", hourlyRows / math.max(1L, fact.count()))
      val usageOut = out.resolve("usage")
      t.span("usage", "UsageEtl.writeFact") { UsageEtl.writeFact(fact, usageOut.toString) }
      val files = Files.walk(usageOut).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
      t.count("usage.files_written", files.size)
      t.count("usage.write_mb", files.map(Files.size(_)).sum / 1048576.0)
    } finally pinned.foreach(_.unpersist())
  }
}

/** `etl_backfill`: one `ProcessLogs.run` over a fresh output root. */
final class EtlBackfill(ctx: Ctx) extends Workload {
  import ctx._
  val NumDays = 7
  val JobsPerDay = 50
  val today: LocalDate = LocalDate.of(2024, 3, 14)
  private val days = (NumDays - 1 to 0 by -1).map(today.minusDays(_))
  private val logs = work.resolve("logs")
  private var want = LogTotals.Zero

  private def config(out: Path) = ProcessLogs.Config(logs.toString, out.toString,
    LogGen.Clusters, numDays = NumDays, numDaysForced = 5, today = today)

  def setup(): Unit = {
    want = generate(logs)(root =>
      LogGen.writeDays(root, days, JobsPerDay, seed).values.reduce(_ + _))
    report.info("input") = s"$NumDays days x ${LogGen.Clusters.size} clusters x $JobsPerDay jobs/day, " +
      s"${want.lines} lines, ${want.attempts} attempts, ${want.confs} conf files"
    val warm = work.resolve("warm")
    ProcessLogs.run(spark, config(warm))
    deleteTree(warm)
  }

  def measure(): Unit = {
    val runs = loop { i =>
      val out = work.resolve(s"out$i")
      val traced = tracer.isDefined && i % 2 == 0
      val r = report.op(s"backfill[$i]") { c =>
        val (_, ms) = timeMs {
          if (traced) tracer.get.span("app", "ProcessLogs.run")(ProcessLogs.run(spark, config(out)))
          else ProcessLogs.run(spark, config(out))
        }
        EtlCheck.totals(spark, c, out, want)
        if (c.ok) Some(ms) else None
      }.flatten
      deleteTree(out)
      r
    }
    val untraced = runs.filter(r => tracer.isEmpty || r._1 % 2 == 1).map(_._2)
    putOps(untraced.map(ms => (ms, want.lines.toDouble)), "log lines")
    untraced.headOption.foreach(_ =>
      report.put("etl_lines_per_s", want.lines / (Stats.median(untraced) / 1000.0), "1/s", untraced.size))
    putOverhead(runs.filter(_._1 % 2 == 0).map(_._2), untraced)
    tracer.foreach(_.putAppDriverTime())
  }

  def layered(t: Tracer): Unit =
    EtlLayers.run(ctx, t, logs, work.resolve("layered"), work.resolve("none"), today, NumDays)
}

/** `etl_nightly`: from a completed backfill, one new day lands per step
  * and `ProcessLogs.run` runs with `today` advanced. */
final class EtlNightly(ctx: Ctx) extends Workload {
  import ctx._
  val NumDays = 8
  val JobsPerDay = 60
  val Forced = 5
  val WarmSteps = 3
  val base: LocalDate = LocalDate.of(2024, 3, 14)
  private val logs = work.resolve("logs")
  private val out = work.resolve("out")
  private val perDay = scala.collection.mutable.Map.empty[LocalDate, LogTotals]
  private var today = base

  private def config(d: LocalDate) = ProcessLogs.Config(logs.toString, out.toString,
    LogGen.Clusters, numDays = NumDays, numDaysForced = Forced, today = d)

  def setup(): Unit = {
    val days = (NumDays - 1 to 0 by -1).map(base.minusDays(_))
    perDay ++= generate(logs)(root => LogGen.writeDays(root, days, JobsPerDay, seed))
    report.info("input") = s"$NumDays-day backfill x ${LogGen.Clusters.size} clusters x " +
      s"$JobsPerDay jobs/day, then one new day per step"
    ProcessLogs.run(spark, config(base))
    // untimed nightly steps, so timing starts past the steepest part
    // of the JIT warm-up
    (1 to WarmSteps).foreach { _ =>
      land()
      ProcessLogs.run(spark, config(today))
    }
  }

  /** The next day's logs land and `today` advances to it. */
  private def land(): Unit = {
    today = today.plusDays(1)
    perDay ++= LogGen.writeDays(logs, Seq(today), JobsPerDay, seed)
  }

  def measure(): Unit = {
    val runs = loop { i =>
      land()
      val window = (Forced - 1 to 0 by -1).map(today.minusDays(_))
      val traced = tracer.isDefined && i % 2 == 0
      val before = EtlCheck.partitionMtimes(out)
      report.op(s"nightly[$today]") { c =>
        val (_, ms) = timeMs {
          if (traced) tracer.get.span("app", "ProcessLogs.run")(ProcessLogs.run(spark, config(today)))
          else ProcessLogs.run(spark, config(today))
        }
        val got = EtlCheck.rewritten(before, EtlCheck.partitionMtimes(out))
        val want = for (tbl <- Seq("jobs", "usage", "confs"); cl <- LogGen.Clusters; d <- window)
          yield s"$tbl/cluster=$cl/date=$d"
        c.check(got == want.toSet,
          s"rewritten partitions ${(got -- want).toSeq.sorted.mkString(",")} beyond, " +
            s"${(want.toSet -- got).toSeq.sorted.mkString(",")} missing from the forced window")
        if (c.ok) Some((ms, window.map(perDay(_).lines).sum)) else None
      }.flatten
    }
    // the output accumulates every day, so one check of the final state
    // covers every step's totals
    report.op("nightly totals") { c =>
      EtlCheck.totals(spark, c, out, perDay.values.reduce(_ + _))
    }
    val untraced = runs.filter(r => tracer.isEmpty || r._1 % 2 == 1).map(_._2)
    putOps(untraced.map { case (ms, lines) => (ms, lines.toDouble) }, "log lines")
    untraced.headOption.foreach(_ =>
      report.put("nightly_run_s", Stats.median(untraced.map(_._1)) / 1000.0, "s", untraced.size))
    putOverhead(runs.filter(_._1 % 2 == 0).map(_._2._1), untraced.map(_._1))
    tracer.foreach(_.putAppDriverTime())
  }

  def layered(t: Tracer): Unit =
    EtlLayers.run(ctx, t, logs, work.resolve("layered"), out, today, NumDays)
}
