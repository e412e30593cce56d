package graft.etl

import graft.model._
import graft.parse.LineParsing
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** Stage 1+2 of the pipeline: raw history-log lines → merged [[Job]] trees.
  *
  * The reference does this with a MapReduce shuffle on jobId and a
  * reducer that mutates a union of fragments
  * (`parsing/ParseJobsFromLogs.java:228-378`). Spark-first shape:
  * `Dataset[String].flatMap(parse)` → `groupByKey(_.jobId)` →
  * `mapGroups(assemble)`. One shuffle, typed the whole way (SURVEY.md §7.4).
  *
  * Determinism note: time merges are order-free (max), but the
  * overwrite-if-non-null fields are last-defined-wins over Spark's
  * unordered group iteration — when fragments carry CONFLICTING values
  * for the same field the winner is nondeterministic. This matches the
  * reference exactly (its reducer mutates in MR shuffle arrival order,
  * `ParseJobsFromLogs.java:380-456`); in practice fragments partition
  * the fields (submit line vs finish line), so conflicts don't arise in
  * well-formed logs. The final (status, finishTime) pair is anchored to
  * the unique fragment defining both, which IS order-free.
  *
  * Merge semantics reproduced:
  *  - Job fragments: status+finishTime only adopted together — the final
  *    state wins (`ParseJobsFromLogs.java:380-456`, A1); other fields
  *    overwrite-if-non-null.
  *  - Task fragments: overwrite-if-non-null per taskId, tasks sorted by
  *    taskId (`:458-527`, A2/O1).
  *  - Attempt fragments: MAX of start/finish/shuffle/sort times ("take
  *    the later"), last status, last non-empty counters (`:536-620`, A3).
  *  - Validity filter: drop attempts missing id/status/start/finish or
  *    with finish<start (`:622-669`, A4/F2).
  *  - Excess marking: SUCCESS attempts are non-excess; if a task has no
  *    successful attempt its earliest-started attempt is retroactively
  *    non-excess; final order by taskAttemptId (`:696-759`, A5 — the
  *    *intended* semantics, see SURVEY.md A5 parity note).
  *  - Derived metrics: minutes=(finish-start)/60000;
  *    cpuMinutes=CPU_MILLISECONDS/60000 (`:715-731`, P8).
  */
object JobAssembly {

  /** Merge many [[JobLine]] fragments into one (A1). */
  def mergeJobLines(lines: Seq[JobLine]): JobLine = {
    require(lines.nonEmpty, "mergeJobLines on empty group")
    def last[A](f: JobLine => Option[A]): Option[A] =
      lines.iterator.map(f).collect { case Some(v) => v }
        .foldLeft(Option.empty[A])((_, v) => Some(v))
    // Final (status, finishTime) pair: the fragment where both are set
    // (ParseJobsFromLogs.java:384-389 — "only final state has both").
    val fin = lines.reverseIterator
      .find(l => l.status.isDefined && l.finishTime.isDefined)
    JobLine(
      jobId = lines.head.jobId,
      user = last(_.user),
      jobName = last(_.jobName),
      jobQueue = last(_.jobQueue),
      status = fin.flatMap(_.status),
      submitTime = last(_.submitTime),
      launchTime = last(_.launchTime),
      finishTime = fin.flatMap(_.finishTime),
      totalMaps = last(_.totalMaps),
      totalReduces = last(_.totalReduces),
      finishedMaps = last(_.finishedMaps),
      finishedReduces = last(_.finishedReduces),
      failedMaps = last(_.failedMaps),
      failedReduces = last(_.failedReduces))
  }

  /** Merge attempt fragments per taskAttemptId (A3): max times, last
    * non-null status, last non-empty counters. */
  def mergeAttemptLines(frags: Seq[AttemptLine]): AttemptLine = {
    require(frags.nonEmpty, "mergeAttemptLines on empty group")
    def maxTime(f: AttemptLine => Option[Long]): Option[Long] = {
      val vs = frags.flatMap(f(_))
      if (vs.isEmpty) None else Some(vs.max)
    }
    def lastDefined[A](f: AttemptLine => Option[A]): Option[A] =
      frags.iterator.map(f).collect { case Some(v) => v }
        .foldLeft(Option.empty[A])((_, v) => Some(v))
    val ctrs = frags.iterator.map(_.counters).filter(_.nonEmpty)
      .foldLeft(Map.empty[String, Long])((_, m) => m)
    val h = frags.head
    AttemptLine(
      taskAttemptId = h.taskAttemptId,
      taskId = h.taskId,
      jobId = h.jobId,
      taskType = h.taskType,
      status = lastDefined(_.status),
      startTime = maxTime(_.startTime),
      finishTime = maxTime(_.finishTime),
      shuffleFinished = maxTime(_.shuffleFinished),
      sortFinished = maxTime(_.sortFinished),
      counters = ctrs)
  }

  /** Merge task fragments per taskId (A2). */
  def mergeTaskLines(frags: Seq[TaskLine]): TaskLine = {
    require(frags.nonEmpty, "mergeTaskLines on empty group")
    def lastDefined[A](f: TaskLine => Option[A]): Option[A] =
      frags.iterator.map(f).collect { case Some(v) => v }
        .foldLeft(Option.empty[A])((_, v) => Some(v))
    val h = frags.head
    TaskLine(
      taskId = h.taskId,
      jobId = h.jobId,
      taskType = h.taskType,
      status = lastDefined(_.status),
      startTime = lastDefined(_.startTime),
      finishTime = lastDefined(_.finishTime))
  }

  /** A4/F2: attempt validity. */
  def isValidAttempt(a: AttemptLine): Boolean =
    a.status.isDefined &&
      a.startTime.exists(_ > 0) &&
      a.finishTime.exists(_ > 0) &&
      a.finishTime.get >= a.startTime.get

  /** A5 excess marking over one task's (merged, valid) attempts.
    * Returns fully-derived [[Attempt]]s ordered by taskAttemptId. */
  def markExcess(merged: Seq[AttemptLine]): Seq[Attempt] = {
    if (merged.isEmpty) return Seq.empty
    val byStart = merged.sortBy(a => (a.startTime.get, a.taskAttemptId))
    val anySuccess = byStart.exists(_.status.contains(Status.Success))
    val earliestId = byStart.head.taskAttemptId
    byStart.map { a =>
      val success = a.status.contains(Status.Success)
      val excess = !(success || (!anySuccess && a.taskAttemptId == earliestId))
      val start = a.startTime.get
      val finish = a.finishTime.get
      Attempt(
        taskAttemptId = a.taskAttemptId,
        taskType = a.taskType,
        status = a.status.get,
        startTime = start,
        finishTime = finish,
        shuffleFinished = a.shuffleFinished,
        sortFinished = a.sortFinished,
        counters = a.counters,
        excess = excess,
        minutes = (finish - start) / 60000.0,
        cpuMinutes = a.counters.get("CPU_MILLISECONDS").map(_ / 60000.0))
    }.sortBy(_.taskAttemptId)
  }

  /** Assemble one job's fragments into the nested tree (J1/J2 + A1-A5). */
  def assemble(
      jobId: String,
      cluster: String,
      jobLines: Seq[JobLine],
      taskLines: Seq[TaskLine],
      attemptLines: Seq[AttemptLine]): Job = {
    val job =
      if (jobLines.nonEmpty) mergeJobLines(jobLines)
      else JobLine(jobId, None, None, None, None, None, None, None, None,
        None, None, None, None, None)

    val mergedAttempts = attemptLines
      .groupBy(_.taskAttemptId).values.map(mergeAttemptLines)
      .filter(isValidAttempt)
      .toSeq

    val mergedTasks = taskLines.groupBy(_.taskId).values.map(mergeTaskLines)
    val taskIndex: Map[String, TaskLine] =
      mergedTasks.map(t => t.taskId -> t).toMap

    val attemptsByTask = mergedAttempts.groupBy(_.taskId)
    // Every task that has either a Task line or at least one attempt.
    val taskIds = (taskIndex.keySet ++ attemptsByTask.keySet).toSeq.sorted
    val tasks = taskIds.map { tid =>
      val tl = taskIndex.get(tid)
      val atts = markExcess(attemptsByTask.getOrElse(tid, Seq.empty))
      val taskType = tl.map(_.taskType)
        .orElse(atts.headOption.map(_.taskType))
        .getOrElse(TaskType.Map)
      Task(
        taskId = tid,
        taskType = taskType,
        status = tl.flatMap(_.status),
        startTime = tl.flatMap(_.startTime),
        finishTime = tl.flatMap(_.finishTime),
        attempts = atts)
    }

    Job(
      jobId = jobId,
      cluster = cluster,
      user = job.user,
      jobName = job.jobName,
      jobQueue = job.jobQueue,
      status = job.status,
      submitTime = job.submitTime,
      launchTime = job.launchTime,
      finishTime = job.finishTime,
      totalMaps = job.totalMaps,
      totalReduces = job.totalReduces,
      finishedMaps = job.finishedMaps,
      finishedReduces = job.finishedReduces,
      failedMaps = job.failedMaps,
      failedReduces = job.failedReduces,
      tasks = tasks)
  }

  /** One cluster's lines: [[assembleJobsMulti]] with the cluster as a
    * constant tag. */
  def assembleJobs(lines: Dataset[String], cluster: String)(
      implicit spark: SparkSession): Dataset[Job] = {
    import spark.implicits._
    assembleJobsMulti(lines.toDF("_2")
      .select(lit(cluster).as("_1"), col("_2")).as[(String, String)])
  }

  /** Multi-cluster assembly in ONE shuffle: lines arrive tagged with
    * their cluster (derived from the input file path by the caller)
    * and the group key is (cluster, jobId) — jobIds are only unique
    * within a cluster (every Hadoop cluster counts `job_<ts>_<seq>`
    * from its own JobTracker epoch) — one Spark job for the whole
    * fleet's window, not one per cluster. Group size is bounded by
    * tasks-per-job (~100k attempts for a monster job fits an executor)
    * and jobIds are many, so the key has no skew to expect. */
  def assembleJobsMulti(lines: Dataset[(String, String)])(
      implicit spark: SparkSession): Dataset[Job] = {
    import spark.implicits._
    // A sealed-trait union has no Spark Encoder; shuffle a sparse
    // (key, Option×3) row instead — same heterogenous-cogroup shape as
    // the reference's Avro union (`LogData.avsc:30-139`), Encoder-native.
    val parsed: Dataset[(String, String, Option[JobLine], Option[TaskLine], Option[AttemptLine])] =
      lines.flatMap { case (cluster, raw) =>
        LineParsing.parseLine(raw).map {
          case LineParsing.PJob(j)     => (cluster, j.jobId, Some(j), None, None)
          case LineParsing.PTask(t)    => (cluster, t.jobId, None, Some(t), None)
          case LineParsing.PAttempt(a) => (cluster, a.jobId, None, None, Some(a))
        }
      }
    parsed
      .groupByKey(r => (r._1, r._2))
      .mapGroups { (key: (String, String), it) =>
        val (cluster, jobId) = key
        val js = Seq.newBuilder[JobLine]
        val ts = Seq.newBuilder[TaskLine]
        val as = Seq.newBuilder[AttemptLine]
        it.foreach {
          case (_, _, Some(j), _, _) => js += j
          case (_, _, _, Some(t), _) => ts += t
          case (_, _, _, _, Some(a)) => as += a
          case _                     => ()
        }
        assemble(jobId, cluster, js.result(), ts.result(), as.result())
      }
  }
}
