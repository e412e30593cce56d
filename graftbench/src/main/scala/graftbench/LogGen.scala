package graftbench

import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

/** Closed-form totals of the generated input, summed by the generator
  * itself so the ETL output can be checked without graft. */
final case class LogTotals(lines: Long, jobs: Long, attempts: Long,
    elapsedMinutes: Double, confs: Long) {
  def +(o: LogTotals): LogTotals = LogTotals(lines + o.lines, jobs + o.jobs,
    attempts + o.attempts, elapsedMinutes + o.elapsedMinutes, confs + o.confs)
}
object LogTotals { val Zero: LogTotals = LogTotals(0, 0, 0, 0.0, 0) }

/** Seeded JobTracker history-log tree in the reference layout
  * `<root>/<cluster>/daily/<queue>/<yyyy>/<MMdd>/`, one history file per
  * queue and day plus job-conf XMLs for a share of jobs.
  *
  * Every job has 4-10 task attempts; some attempts fail or are killed
  * and are retried. Attempt spans cross hour boundaries but stay inside
  * the job's UTC day, so a day's usage lands only in that day's
  * partition. A small share of lines is unparseable. A day's content
  * depends only on (seed, cluster, date). */
object LogGen {
  val Clusters: Seq[String] = Seq("alpha", "beta")
  val Queues: Seq[String] = Seq("default", "adhoc")
  val ConfShare = 0.15
  val JunkShare = 0.005
  private val HourMs = 3600000L

  def dayDir(root: Path, cluster: String, queue: String, d: LocalDate): Path =
    root.resolve(cluster).resolve("daily").resolve(queue)
      .resolve(f"${d.getYear}%04d").resolve(f"${d.getMonthValue}%02d${d.getDayOfMonth}%02d")

  private def rng(seed: Long, cluster: String, d: LocalDate): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (cluster.hashCode.toLong << 32) ^ d.toEpochDay)

  /** Write one cluster-day of logs under `root`; returns its totals. */
  def writeDay(root: Path, cluster: String, d: LocalDate, jobsPerDay: Int,
      seed: Long): LogTotals = {
    val r = rng(seed, cluster, d)
    val dayMs = d.toEpochDay * 86400000L
    val stamp = f"${d.getYear}%04d${d.getMonthValue}%02d${d.getDayOfMonth}%02d0000"
    val out = Queues.map(q => q -> new StringBuilder).toMap
    var lines = 0L; var attempts = 0L; var minutes = 0.0; var confs = 0L
    def emit(q: String, s: String): Unit = {
      out(q).append(s).append('\n'); lines += 1
      if (r.nextDouble() < JunkShare) {
        // unparseable: a bare header, random bytes, a truncated attempt
        out(q).append(r.nextInt(3) match {
          case 0 => "Meta VERSION=\"1\" ."
          case 1 => s"@@ corrupt ${java.lang.Long.toHexString(r.nextLong())} @@"
          case _ => s"MapAttempt TASK_TYPE=\"MAP\" TASKID=\"task_${stamp}_00"
        }).append('\n')
        lines += 1
      }
    }
    for (j <- 0 until jobsPerDay) {
      val q = Queues(r.nextInt(Queues.size))
      val jobId = f"job_${stamp}_$j%04d"
      val user = f"u${r.nextInt(40)}%02d"
      val submit = dayMs + r.nextLong(17L * HourMs)
      val nAttempts = 4 + r.nextInt(7)
      emit(q, s"""Job JOBID="$jobId" JOBNAME="etl_${r.nextInt(500)}" USER="$user" SUBMIT_TIME="$submit" JOB_QUEUE="$q" .""")
      var t = 0; var a = 0; var maps = 0; var reduces = 0; var lastFinish = submit
      val taskLines = new StringBuilder
      while (a < nAttempts) {
        val reduce = r.nextDouble() < 0.3
        val (kind, tt, tc) = if (reduce) ("ReduceAttempt", "REDUCE", "r") else ("MapAttempt", "MAP", "m")
        if (reduce) reduces += 1 else maps += 1
        val taskId = f"task_${stamp}_$j%04d_${tc}_$t%06d"
        val retry = a + 1 < nAttempts && r.nextDouble() < 0.15
        val tries = if (retry) 2 else 1
        var start = submit + 30000L + r.nextLong(100L * 60000L)
        emit(q, s"""Task TASKID="$taskId" TASK_TYPE="$tt" START_TIME="$start" SPLITS="" .""")
        var k = 0
        var fin = start
        while (k < tries) {
          val attemptId = f"attempt_${stamp}_$j%04d_${tc}_$t%06d_$k"
          val dur = 20000L + r.nextLong(150L * 60000L)
          fin = start + dur
          val status =
            if (k + 1 < tries) (if (r.nextBoolean()) "FAILED" else "KILLED") else "SUCCESS"
          val cpu = dur / 2 + r.nextInt(1000)
          val spilled = r.nextInt(100000)
          val counters =
            s"{(org.apache.hadoop.mapred.Task$$Counter)(Map-Reduce Framework)[(CPU_MILLISECONDS)(CPU time spent)($cpu)][(SPILLED_RECORDS)(Spilled Records)($spilled)]" +
              (if (reduce) s"[(REDUCE_SHUFFLE_BYTES)(Reduce shuffle bytes)(${r.nextInt(1 << 24)})]" else "") + "}"
          emit(q, s"""$kind TASK_TYPE="$tt" TASKID="$taskId" TASK_ATTEMPT_ID="$attemptId" START_TIME="$start" TRACKER_NAME="tracker_h${r.nextInt(50)}" HTTP_PORT="50060" .""")
          val reduceTimes = if (reduce) s""" SHUFFLE_FINISHED="${start + dur / 3}" SORT_FINISHED="${start + dur / 2}"""" else ""
          val err = if (status != "SUCCESS") """ ERROR="java.io.IOException: lost tracker"""" else ""
          emit(q, s"""$kind TASK_TYPE="$tt" TASKID="$taskId" TASK_ATTEMPT_ID="$attemptId" TASK_STATUS="$status"$reduceTimes FINISH_TIME="$fin" HOSTNAME="h${r.nextInt(50)}"$err COUNTERS="$counters" .""")
          attempts += 1; a += 1
          minutes += dur / 60000.0
          lastFinish = math.max(lastFinish, fin)
          start = fin + 5000L
          k += 1
        }
        taskLines.append(s"""Task TASKID="$taskId" TASK_TYPE="$tt" TASK_STATUS="SUCCESS" FINISH_TIME="$fin" .""")
        t += 1
      }
      taskLines.toString.split('\n').foreach(l => emit(q, l))
      emit(q, s"""Job JOBID="$jobId" LAUNCH_TIME="${submit + 5000}" TOTAL_MAPS="$maps" TOTAL_REDUCES="$reduces" .""")
      emit(q, s"""Job JOBID="$jobId" FINISH_TIME="${lastFinish + 10000}" JOB_STATUS="SUCCESS" FINISHED_MAPS="$maps" FINISHED_REDUCES="$reduces" FAILED_MAPS="0" FAILED_REDUCES="0" .""")
      if (r.nextDouble() < ConfShare) {
        val dir = dayDir(root, cluster, q, d)
        Files.createDirectories(dir)
        val props = Seq("mapred.job.queue.name" -> q, "user.name" -> user,
          "mapred.reduce.tasks" -> reduces.toString, "mapred.map.tasks" -> maps.toString,
          "io.sort.mb" -> (100 + r.nextInt(400)).toString)
        val xml = "<?xml version=\"1.0\"?>\n<configuration>\n" +
          props.map { case (k, v) => s"<property><name>$k</name><value>$v</value></property>" }
            .mkString("\n") + "\n</configuration>\n"
        Files.write(dir.resolve(s"${jobId}_conf.xml"), xml.getBytes("UTF-8"))
        confs += 1
      }
    }
    out.foreach { case (q, sb) =>
      if (sb.nonEmpty) {
        val dir = dayDir(root, cluster, q, d)
        Files.createDirectories(dir)
        Files.write(dir.resolve("jobtracker_history.log"), sb.toString.getBytes("UTF-8"))
      }
    }
    LogTotals(lines, jobsPerDay.toLong, attempts, minutes, confs)
  }

  /** Write every cluster for each of `days`; returns per-day totals. */
  def writeDays(root: Path, days: Seq[LocalDate], jobsPerDay: Int,
      seed: Long): Map[LocalDate, LogTotals] =
    days.map { d =>
      d -> Clusters.map(c => writeDay(root, c, d, jobsPerDay, seed))
        .foldLeft(LogTotals.Zero)(_ + _)
    }.toMap
}
