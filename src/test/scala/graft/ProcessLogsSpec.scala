package graft

import graft.app.{ProcessLogs, StageCounter}
import graft.serve.{QueryType, UsageQueries}
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** End-to-end: fixture log files on disk → ProcessLogs.run → partitioned
  * parquet outputs → serving query (SURVEY.md §7.2 full slice). */
class ProcessLogsSpec extends AnyFunSuite {

  lazy implicit val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("fixture logs → jobs + usage parquet → serving query") {
    val root = Files.createTempDirectory("graft_e2e")
    val logs = root.resolve("logs")
    val out = root.resolve("out")
    // 2024-01-10, cluster 'prod', queue 'default'
    val day = logs.resolve("prod/daily/default/2024/0110")
    Files.createDirectories(day)
    val jan10h8 = 1704873600000L // 2024-01-10 08:00 UTC
    val lines = Seq(
      s"""Job JOBID="job_42_1" JOBNAME="etl" USER="alice" SUBMIT_TIME="$jan10h8" JOB_QUEUE="default" .""",
      s"""Job JOBID="job_42_1" FINISH_TIME="${jan10h8 + 5400000}" JOB_STATUS="SUCCESS" .""",
      // attempt 08:00→09:30 (spans 2 hours: 60 + 30 minutes)
      s"""MapAttempt TASK_TYPE="MAP" TASKID="task_42_1_m_000000" TASK_ATTEMPT_ID="attempt_42_1_m_000000_0" START_TIME="$jan10h8" .""",
      s"""MapAttempt TASK_TYPE="MAP" TASKID="task_42_1_m_000000" TASK_ATTEMPT_ID="attempt_42_1_m_000000_0" TASK_STATUS="SUCCESS" FINISH_TIME="${jan10h8 + 5400000}" COUNTERS="[(CPU_MILLISECONDS)(cpu)(2700000)]" .""")
    Files.write(day.resolve("history.log"),
      String.join("\n", lines: _*).getBytes("UTF-8"))
    Files.write(day.resolve("job_42_1_conf.xml"),
      "<configuration><property><name>k</name><value>v</value></property></configuration>"
        .getBytes("UTF-8"))

    ProcessLogs.run(spark, ProcessLogs.Config(
      logsRoot = logs.toString,
      outputRoot = out.toString,
      clusters = Seq("prod"),
      numDays = 10, numDaysForced = 2,
      today = LocalDate.of(2024, 1, 15)))

    // jobs output: one assembled tree under cluster/date partitions
    val jobs = spark.read.parquet(s"$out/jobs")
    assert(jobs.count() == 1)
    val j = jobs.head()
    assert(j.getAs[String]("jobId") == "job_42_1")
    assert(j.getAs[String]("user") == "alice")

    // confs output: J4 enrichment joins
    val confs = spark.read.parquet(s"$out/confs")
    val enriched = ProcessLogs.jobsWithConfs(jobs, confs)
    assert(enriched.head().getAs[Map[String, String]]("configuration") ==
      Map("k" -> "v"))

    // usage fact: 2 hour-buckets, 60 + 30 minutes
    val usage = spark.read.parquet(s"$out/usage")
    val rows = usage.orderBy("time").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[Double]("elapsedMinutes")).toSeq == Seq(60.0, 30.0))
    // cpu prorated 45min total (2700000ms), split 30/15
    assert(rows.map(_.getAs[Double]("cpuMinutes")).toSeq == Seq(30.0, 15.0))

    // serving query over the written fact
    val series = UsageQueries.aggregated(
      usage, "prod", QueryType.All("minutesTotal"), "HOURS", "UTC")
    assert(series.agg(sum("value")).head().getDouble(0) == 90.0)

    // file-count pin: the pre-write repartition keys each (cluster,
    // date) to filesPerDay tasks — without it every shuffle task holds
    // every day and a day dir gets tasks× small files (6 040 files for
    // 142 MB in the 100-day rehearsal)
    for (tbl <- Seq("jobs", "usage", "confs")) {
      val dayDirs = Files.walk(out.resolve(tbl)).iterator()
        .asScala.filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("date=")).toList
      assert(dayDirs.nonEmpty, s"$tbl: no date partitions")
      dayDirs.foreach { d =>
        val n = d.toFile.listFiles().count(_.getName.endsWith(".parquet"))
        assert(n <= 4, s"$tbl/$d has $n part files (> filesPerDay)")
      }
    }
  }

  test("forced-window re-run is idempotent: no duplicate conf/job/usage rows") {
    // the reference skips already-processed days but always re-runs the
    // trailing numDaysForced days (JobStatsProcessing.java:69-90); a
    // re-run must REPLACE those partitions, not append to them
    val root = Files.createTempDirectory("graft_idem")
    val logs = root.resolve("logs")
    val out = root.resolve("out")
    val day = logs.resolve("prod/daily/default/2024/0110")
    Files.createDirectories(day)
    val jan10h8 = 1704873600000L
    Files.write(day.resolve("history.log"),
      (s"""Job JOBID="job_7_1" JOBNAME="etl" USER="bob" SUBMIT_TIME="$jan10h8" JOB_QUEUE="default" .""" + "\n" +
        s"""Job JOBID="job_7_1" FINISH_TIME="${jan10h8 + 3600000}" JOB_STATUS="SUCCESS" .""" + "\n" +
        s"""MapAttempt TASK_TYPE="MAP" TASKID="task_7_1_m_000000" TASK_ATTEMPT_ID="attempt_7_1_m_000000_0" START_TIME="$jan10h8" .""" + "\n" +
        s"""MapAttempt TASK_TYPE="MAP" TASKID="task_7_1_m_000000" TASK_ATTEMPT_ID="attempt_7_1_m_000000_0" TASK_STATUS="SUCCESS" FINISH_TIME="${jan10h8 + 3600000}" .""").getBytes("UTF-8"))
    Files.write(day.resolve("job_7_1_conf.xml"),
      "<configuration><property><name>k</name><value>v</value></property></configuration>"
        .getBytes("UTF-8"))

    // today = Jan 11, forced = 2 days → Jan 10 is re-parsed EVERY run
    val cfg = ProcessLogs.Config(
      logsRoot = logs.toString, outputRoot = out.toString,
      clusters = Seq("prod"), numDays = 10, numDaysForced = 2,
      today = LocalDate.of(2024, 1, 11))
    ProcessLogs.run(spark, cfg)
    ProcessLogs.run(spark, cfg)

    assert(spark.read.parquet(s"$out/confs").count() == 1)
    assert(spark.read.parquet(s"$out/jobs").count() == 1)
    assert(spark.read.parquet(s"$out/usage").count() == 1)
  }

  /** One cluster-day of the first case's fixture (one job, one conf,
    * an attempt spanning two hours) under a fresh root; returns the
    * output root and the run's config. */
  private def fixture(prefix: String): (Path, ProcessLogs.Config) = {
    val root = Files.createTempDirectory(prefix)
    val logs = root.resolve("logs")
    val out = root.resolve("out")
    val day = logs.resolve("prod/daily/default/2024/0110")
    Files.createDirectories(day)
    val h8 = 1704873600000L
    Files.write(day.resolve("history.log"), Seq(
      s"""Job JOBID="job_9_1" JOBNAME="etl" USER="carol" SUBMIT_TIME="$h8" JOB_QUEUE="default" .""",
      s"""Job JOBID="job_9_1" FINISH_TIME="${h8 + 5400000}" JOB_STATUS="SUCCESS" .""",
      s"""MapAttempt TASK_TYPE="MAP" TASKID="task_9_1_m_000000" TASK_ATTEMPT_ID="attempt_9_1_m_000000_0" START_TIME="$h8" .""",
      s"""MapAttempt TASK_TYPE="MAP" TASKID="task_9_1_m_000000" TASK_ATTEMPT_ID="attempt_9_1_m_000000_0" TASK_STATUS="SUCCESS" FINISH_TIME="${h8 + 5400000}" ."""
    ).mkString("\n").getBytes("UTF-8"))
    Files.write(day.resolve("job_9_1_conf.xml"),
      "<configuration><property><name>k</name><value>v</value></property></configuration>"
        .getBytes("UTF-8"))
    (out, ProcessLogs.Config(logs.toString, out.toString, Seq("prod"),
      numDays = 10, numDaysForced = 2, today = LocalDate.of(2024, 1, 15)))
  }

  /** Stages submitted by `body` whose RDDs include a scan of the text
    * source, counted by a listener under a job group of their own. */
  private def textScanStages(body: => Unit): Seq[String] = {
    val group = "process-logs-spec-scans"
    val scans = new ConcurrentLinkedQueue[String]
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          e.stageInfo.rddInfos.flatMap(_.scope).map(_.name)
            .find(_.toLowerCase.startsWith("scan text"))
            .foreach(n => scans.add(s"stage ${e.stageInfo.stageId}: $n"))
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "marker"))
          marker.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "counted run")
      try body finally spark.sparkContext.clearJobGroup()
      // the listener bus is FIFO: once the marker job's start arrives,
      // every stage of the counted run has been seen
      spark.sparkContext.setJobGroup("marker", "listener barrier")
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      assert(marker.await(60, TimeUnit.SECONDS))
      scans.asScala.toSeq
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("one run scans the log text once") {
    val (_, cfg) = fixture("graft_scans")
    val scans = textScanStages(ProcessLogs.run(spark, cfg))
    assert(scans.size == 1, scans.mkString("; "))
  }

  test("run returns the rows it wrote, leaves no cache and no session conf behind") {
    val (out, cfg) = fixture("graft_counts")
    spark.catalog.clearCache()
    val conf = spark.conf.getAll
    val counts = ProcessLogs.run(spark, cfg)
    assert(counts == ProcessLogs.EtlCounts(confs = 1, jobs = 1, hourlyRows = 2, factRows = 2))
    assert(spark.read.parquet(s"$out/jobs").count() == counts.jobs)
    assert(spark.read.parquet(s"$out/confs").count() == counts.confs)
    assert(spark.read.parquet(s"$out/usage").count() == counts.factRows)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(spark.conf.getAll == conf)
  }

  /** Runs `cfg` with the output table `table` blocked by a regular
    * file, so its write fails; returns the output root. */
  private def runBlocked(table: String): Path = {
    val (out, cfg) = fixture(s"graft_${table}_fail")
    Files.createDirectories(out)
    Files.write(out.resolve(table), "not a directory".getBytes("UTF-8"))
    intercept[Exception](ProcessLogs.run(spark, cfg))
    assert(!Thread.getAllStackTraces.keySet.asScala
      .exists(t => t.isAlive && t.getName.startsWith("graft-process-logs")))
    out
  }

  test("a failing conf stage fails the run after the job-log writes, with no thread left") {
    val out = runBlocked("confs")
    assert(spark.read.parquet(s"$out/jobs").count() == 1)
    assert(spark.read.parquet(s"$out/usage").count() == 2)
  }

  test("a failing jobs write fails the run, joins the conf stage and releases the cache") {
    spark.catalog.clearCache()
    val out = runBlocked("jobs")
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(!Files.exists(out.resolve("usage")))
  }

  test("a stage count read before its action fails in seconds, naming the stage") {
    val counts = new StageCounter
    counts.observed(spark.range(3).toDF(), "never-run")
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](counts.countOf("never-run"))
    assert((System.nanoTime() - t0) / 1e9 < 30.0)
    assert(e.getMessage.contains("never-run"))
  }
}
