package graft.app

import graft.etl.JobAssembly
import graft.ingest.IncrementalPlanner
import graft.model.Job
import graft.parse.ConfParsing
import graft.usage.UsageEtl
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The batch-ETL entry point — the reference's `ProcessLogs.main`
  * (`hadoop/src/java/com/linkedin/whiteelephant/ProcessLogs.java:114-158`)
  * re-expressed as ONE Spark application per run instead of a 20-thread
  * pool of per-day MapReduce jobs:
  *
  *   1. parse job-conf XMLs          (ParseJobConfs)
  *   2. parse + assemble job trees   (ParseJobsFromLogs)
  *   3. hour-prorated usage cube     (ComputeUsagePerHour)
  *
  * The reference's per-day job fan-out existed to bound MR job size and
  * enable incremental skip; here a single partitioned read covers all
  * selected days (Catalyst prunes partitions), incremental skip is the
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
      /** Output files per (cluster, date) dir for the jobs table —
        * the write-parallelism ↔ small-files dial. 4 keeps a big
        * day's write parallel while bounding file count at
        * days × filesPerDay (vs days × shuffle-tasks without the
        * pre-write repartition). */
      filesPerDay: Int = 4)

  /** Day-partition glob for one cluster+date (all queues). */
  private def dayGlob(logsRoot: String, cluster: String, d: LocalDate): String =
    f"$logsRoot/$cluster/daily/*/${d.getYear}%04d/${d.getMonthValue}%02d${d.getDayOfMonth}%02d"

  /** Stage 2: parse+assemble the selected day-partitions of one
    * cluster into merged job trees. */
  def parseJobs(spark: SparkSession, cfg: Config, cluster: String,
      days: Seq[LocalDate]): Dataset[Job] = {
    implicit val s: SparkSession = spark
    val globs = days.map(d => dayGlob(cfg.logsRoot, cluster, d) + "/*.log")
    val existing = existingGlobs(spark, globs)
    if (existing.isEmpty) spark.emptyDataset[Job](jobEncoder(spark))
    else JobAssembly.assembleJobs(spark.read.textFile(existing: _*), cluster)
  }

  /** Globs that match at least one path — absent day dirs are skipped
    * with a log line (the reference skips absent inputs,
    * `JobStatsProcessing.java:69-90`). */
  private def existingGlobs(spark: SparkSession, globs: Seq[String]): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    globs.filter { g =>
      val p = new org.apache.hadoop.fs.Path(g)
      val found = p.getFileSystem(conf).globStatus(p) match {
        case null => false
        case st => st.nonEmpty
      }
      if (!found) log.info(s"skipping absent input: $g")
      found
    }
  }

  private def jobEncoder(spark: SparkSession) = {
    import spark.implicits._
    implicitly[org.apache.spark.sql.Encoder[Job]]
  }

  /** Full run — confs, jobs, usage — each written as parquet
    * partitioned by cluster/date with dynamic overwrite.
    *
    * Fleet shape: incremental planning stays PER CLUSTER (each
    * cluster's output state differs) but is driver-side metadata only;
    * every Spark stage below covers the WHOLE fleet in one job, with
    * the cluster recovered from the input file path
    * (`<logsRoot>/<cluster>/daily/…`). The earlier per-cluster loop
    * was an O(clusters) sequential driver cost — at fleet scale
    * (dozens of clusters) the fixed costs dominate exactly like the
    * per-day loops this round removed. */
  def run(spark: SparkSession, cfg: Config): Unit = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
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

    // stage 1: job confs — ONE multi-path binaryFile load for the
    // whole fleet's window (each separate load() costs a driver
    // analysis + listing + _spark_metadata probe, ~0.15 s — the
    // per-day form was ~2/3 of the 100-day rehearsal's conf-stage
    // wall). Written like jobs/usage: parquet partitioned by
    // cluster/date under DYNAMIC overwrite, so re-running the forced
    // trailing window (T5) replaces those day partitions instead of
    // appending duplicate conf rows.
    val confDirs = existingGlobs(spark,
      clusterDays.map { case (c, d) => dayGlob(cfg.logsRoot, c, d) })
    if (confDirs.nonEmpty) {
      ConfParsing.parseConfDirsAuto(confDirs).toDF()
        .withColumn("date", to_date(regexp_extract(col("path"),
          "/(\\d{4})/(\\d{2})(\\d{2})/", 0), "/yyyy/MMdd/"))
        // trade the reference's map-only shape for a cheap shuffle:
        // pins files/day-dir at filesPerDay instead of
        // read-tasks-touching-that-day (same small-files fix as the
        // jobs write below)
        .repartition(col("cluster"), col("date"),
          pmod(hash(col("path")), lit(cfg.filesPerDay)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cluster", "date")
        .parquet(s"${cfg.outputRoot}/confs")
    }

    // stage 2: merged job trees — one textFile read + ONE
    // (cluster, jobId) shuffle for every selected (cluster, day)
    val logGlobs = existingGlobs(spark,
      clusterDays.map { case (c, d) => dayGlob(cfg.logsRoot, c, d) + "/*.log" })
    val jobs =
      if (logGlobs.isEmpty) spark.emptyDataset[Job](jobEncoder(spark))
      else JobAssembly.assembleJobsMulti(
        spark.read.textFile(logGlobs: _*)
          .select(regexp_extract(input_file_name(),
            "([^/]+)/daily/", 1).as("_1"), col("value").as("_2"))
          .as[(String, String)])
    jobs.toDF()
      .withColumn("date", to_date(timestamp_millis(
        coalesce(col("submitTime"), col("launchTime"), col("finishTime")))))
      // pin files/day-dir: the assembly shuffle is keyed on jobId, so
      // without this every task holds every day and the write emits
      // tasks × days small files (measured 6 040 files for 142 MB in
      // the 100-day rehearsal — the dominant remaining fixed cost).
      // filesPerDay salts the repartition so a big day still writes
      // in parallel.
      .repartition(col("cluster"), col("date"),
        pmod(hash(col("jobId")), lit(cfg.filesPerDay)))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cluster", "date")
      .parquet(s"${cfg.outputRoot}/jobs")

    // stage 3: hourly usage cube (fleet-wide — the stats key carries
    // the cluster)
    val fact = UsageEtl.usageFact(jobs)
    UsageEtl.writeFact(fact, usageOut)
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
    // ONE Spark job for all (cluster, day) containers — the old
    // driver loop ran one full-fact-filter job per day (O(days × fact)
    // scans + ~0.3 s job fixed cost each: the measured ~60 s of the
    // 100-day rehearsal's 80 s wall, STRESS.md round 10)
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
