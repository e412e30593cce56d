package graft.app

import graft.etl.JobAssembly
import graft.ingest.IncrementalPlanner
import graft.model.Job
import graft.parse.ConfParsing
import graft.usage.UsageEtl
import java.time.LocalDate
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The batch-ETL entry point — the reference's `ProcessLogs.main`
  * (`hadoop/src/java/com/linkedin/whiteelephant/ProcessLogs.java:114-158`)
  * re-expressed as ONE Spark application per run instead of a 20-thread
  * pool of per-day MapReduce jobs: stage 1 runs beside the 2 → 3 chain.
  *
  *   1. parse job-conf XMLs          (ParseJobConfs)
  *   2. parse + assemble job trees   (ParseJobsFromLogs)
  *   3. hour-prorated usage cube     (ComputeUsagePerHour)
  *
  * One read covers all selected days, incremental skip is the
  * driver-side [[IncrementalPlanner]], and the staged-output atomic
  * rename is dynamic partition overwrite.
  *
  * Expected layout (reference `util/JobStatsProcessing.java:62`,
  * README "Hadoop Logs"): `<logsRoot>/<cluster>/daily/<queue>/<yyyy>/<MMdd>/` (files within).
  */
object ProcessLogs {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  final case class Config(
      logsRoot: String,
      outputRoot: String,
      clusters: Seq[String],
      numDays: Int = 100,       // base.properties:17
      numDaysForced: Int = 5,   // base.properties:21
      today: LocalDate = null,
      /** Output files per (cluster, date) dir of the jobs and confs
        * tables — the write-parallelism ↔ small-files dial. */
      filesPerDay: Int = 4)

  /** Rows written by one [[run]]: conf records, assembled jobs, hourly
    * usage rows before aggregation, usage fact rows. */
  final case class EtlCounts(confs: Long, jobs: Long, hourlyRows: Long, factRows: Long)

  /** The window's day dirs `<cluster>/daily/<queue>/<yyyy>/<MMdd>`, all
    * queues, listed ONCE: one globStatus whose pattern names the
    * window's clusters, years and days, so the globber lists per level,
    * not per (cluster, day); what the year × day cross product matches
    * outside the window is dropped. Absent (cluster, day)s are skipped
    * with a log line (as the reference, `JobStatsProcessing.java:69-90`). */
  private def windowDirs(spark: SparkSession, logsRoot: String,
      clusterDays: Seq[(String, LocalDate)]): Seq[String] =
    if (clusterDays.isEmpty) Nil else {
      def alt(xs: Seq[String]) = xs.distinct.mkString("{", ",", "}")
      def day(d: LocalDate) = f"${d.getYear}%04d/${d.getMonthValue}%02d${d.getDayOfMonth}%02d"
      val days = clusterDays.map(p => day(p._2))
      val pattern = new Path(s"$logsRoot/${alt(clusterDays.map(_._1))}/daily/*/" +
        s"${alt(days.map(_.take(4)))}/${alt(days.map(_.drop(5)))}")
      val found = Option(pattern.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .globStatus(pattern)).fold(Seq.empty[Path])(_.toSeq.map(_.getPath))
        .groupBy { p => val year = p.getParent
          (year.getParent.getParent.getParent.getName, s"${year.getName}/${p.getName}") }
      clusterDays.flatMap { case (c, d) =>
        val dirs = found.getOrElse((c, day(d)), Nil)
        if (dirs.isEmpty) log.info(s"skipping absent input: $logsRoot/$c/daily/*/${day(d)}")
        dirs.map(_.toString)
      }
    }

  /** `side` on a thread created here, `main` on the caller's: the
    * reference's fail-fast executor (`StagedOutputJobExecutor.java:38-66`)
    * for two independent stages. A new (not pooled) thread inherits the
    * caller's SparkContext local properties and session, so its jobs
    * keep the caller's job group. A failing `main` cancels the side's
    * jobs by tag; the side is joined before this returns or throws, and
    * `main`'s failure wins with the side's added as suppressed. A
    * failing side lets `main` finish, then fails the call. */
  private def beside[A](spark: SparkSession, name: String)(side: => Unit)(main: => A): A = {
    val sc = spark.sparkContext
    val tag = s"$name-${java.util.UUID.randomUUID()}"
    val sideError = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val thread = new Thread(() =>
      try { sc.addJobTag(tag); side } catch { case e: Throwable => sideError.set(e) }, name)
    thread.start()
    def join(): Unit = {
      var interrupted = false
      while (thread.isAlive)
        try thread.join() catch { case _: InterruptedException => interrupted = true }
      if (interrupted) Thread.currentThread.interrupt()
    }
    val result = try main catch {
      case e: Throwable =>
        sc.cancelJobsWithTag(tag)
        join()
        Option(sideError.get).foreach(e.addSuppressed)
        throw e
    }
    join()
    Option(sideError.get).foreach(e => throw e)
    result
  }

  /** One output table by cluster/date under DYNAMIC overwrite (the
    * staged-output rename: a forced-window re-run replaces its days, T5)
    * at filesPerDay files per day dir: unrepartitioned, every shuffle
    * task writes every day (6 040 files for 142 MB in the 100-day
    * rehearsal); the `salt` hash keeps a big day's write parallel. */
  private def writeDays(df: DataFrame, salt: String, cfg: Config, table: String): Unit =
    df.repartition(col("cluster"), col("date"), pmod(hash(col(salt)), lit(cfg.filesPerDay)))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cluster", "date")
      .parquet(s"${cfg.outputRoot}/$table")

  /** Full run — confs, jobs, usage — each written as parquet
    * partitioned by cluster/date with dynamic overwrite; returns the
    * rows written, observed on the writes themselves.
    *
    * Incremental planning stays PER CLUSTER (each cluster's output
    * state differs) but is driver-side metadata only; every Spark stage
    * covers the WHOLE fleet, with the cluster recovered from the input
    * file path (`<logsRoot>/<cluster>/daily/…`). */
  def run(spark: SparkSession, cfg: Config): EtlCounts = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val today = Option(cfg.today).getOrElse(LocalDate.now())
    val usageOut = s"${cfg.outputRoot}/usage"
    // ONE partition listing for the whole fleet, not clusters × days
    // sequential exists-RPCs
    val present = IncrementalPlanner.existingPartitions(spark, usageOut)
    val clusterDays: Seq[(String, LocalDate)] = cfg.clusters.flatMap { cluster =>
      IncrementalPlanner.plan(
        today, cfg.numDays, cfg.numDaysForced,
        d => present((cluster, d.toString)))
        .map(p => cluster -> p.date)
    }
    val dirs = windowDirs(spark, cfg.logsRoot, clusterDays)
    val counts = new StageCounter

    // stage 1: job confs, beside stages 2-3 (they share no input, output
    // or cache) — ONE binaryFile load for the fleet's window (a per-day
    // load() was ~2/3 of the 100-day rehearsal's conf-stage wall)
    beside(spark, "graft-process-logs-confs") {
      if (dirs.nonEmpty)
        writeDays(counts.observed(ConfParsing.parseConfDirsAuto(dirs).toDF(), "confs")
          .withColumn("date", to_date(regexp_extract(col("path"),
            "/(\\d{4})/(\\d{2})(\\d{2})/", 0), "/yyyy/MMdd/")), "path", cfg, "confs")
    } {
      // stage 2: merged job trees — one read of the window's `*.log` text,
      // ONE (cluster, jobId) shuffle, assembled once: the jobs write builds
      // the cache and stage 3 reads it (the reference's stage order)
      val jobs = (
        if (dirs.isEmpty) spark.emptyDataset[Job]
        else JobAssembly.assembleJobsMulti(
          spark.read.option("pathGlobFilter", "*.log").textFile(dirs: _*)
            .select(regexp_extract(input_file_name(),
              "([^/]+)/daily/", 1).as("_1"), col("value").as("_2"))
            .as[(String, String)])).persist()
      try {
        writeDays(counts.observed(jobs.toDF(), "jobs")
          .withColumn("date", to_date(timestamp_millis(
            coalesce(col("submitTime"), col("launchTime"), col("finishTime"))))),
          "jobId", cfg, "jobs")
        // stage 3: hourly usage cube (fleet-wide — the stats key
        // carries the cluster)
        UsageEtl.writeFact(counts.observed(UsageEtl.aggregate(
          counts.observed(UsageEtl.hourlyRecords(jobs), "hourlyRows")), "factRows"),
          usageOut)
      } finally jobs.unpersist()
    }
    EtlCounts(if (dirs.isEmpty) 0L else counts.countOf("confs"),
      counts.countOf("jobs"), counts.countOf("hourlyRows"), counts.countOf("factRows"))
  }

  /** S6 interop: write a usage fact ADDITIONALLY in the reference's
    * exact on-disk layout — Avro AttemptStatsKey/Value containers
    * under `<avroRoot>/<cluster>/<yyyy>/<MMdd>/`, the per-day output
    * dirs of `ComputeUsagePerHour.java:120-174` — so a LIVE
    * white-elephant server's loader ingests our output with no
    * changes. One Spark job for the whole window
    * ([[graft.sources.AvroKv.writeUsageFactByDay]]: shuffle on
    * (cluster, date), one committed container per day group). The
    * inverse (ingesting an existing deployment's history) is
    * [[graft.sources.AvroKv.readUsageFact]] on the same root. */
  def exportUsageAvro(fact: DataFrame, avroRoot: String): Unit =
    graft.sources.AvroKv.writeUsageFactByDay(
      fact.withColumn("date",
        to_date(timestamp_millis(col("time")))),
      avroRoot)

  /** J4: enrich merged jobs with their configuration (the latent join
    * the reference documents but never executes — README "Hadoop
    * Jobs"). Conf side is broadcast when small. */
  def jobsWithConfs(jobs: DataFrame, confs: DataFrame): DataFrame =
    jobs.join(
      broadcast(confs.select(
        col("jobId"), col("cluster"), col("configuration"))),
      Seq("jobId", "cluster"), "left")

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ProcessLogs <logsRoot> <outputRoot> <cluster[,cluster…]> [numDays] [numDaysForced]")
    val cfg = Config(
      logsRoot = args(0),
      outputRoot = args(1),
      clusters = args(2).split(',').toSeq,
      numDays = if (args.length > 3) args(3).toInt else 100,
      numDaysForced = if (args.length > 4) args(4).toInt else 5)
    val spark = graft.GraftSession.builder("graft-process-logs",
      graft.GraftSession.cores).getOrCreate()
    run(spark, cfg)
    spark.stop()
  }
}
