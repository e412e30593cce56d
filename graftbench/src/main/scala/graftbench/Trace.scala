package graftbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One Spark job as [[LayerListener]] saw it. Mutated only under the
  * listener's lock. */
final class JobRec(val id: Int, val group: String, val submitMs: Long) {
  var endMs: Long = -1L
  var firstLaunchMs: Long = Long.MaxValue
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var shuffleMapStages = 0
  var sqlExecutionId: Option[Long] = None
  def queueMs: Long =
    if (firstLaunchMs == Long.MaxValue) 0L else math.max(0L, firstLaunchMs - submitMs)
}

/** Turns Spark job, stage and task events into per-job records keyed by
  * the job group the benchmark set around each layer call. Jobs
  * without a group are ignored. */
final class LayerListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      val j = new JobRec(e.jobId, g, e.time)
      j.sqlExecutionId = props
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(_.toLongOption)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageToJob(_) = j)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    if (org.apache.spark.graftbench.BusAccess.isShuffleMapStage(si) && si.failureReason.isEmpty)
      stageToJob.get(si.stageId).foreach(_.shuffleMapStages += 1)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageToJob.get(e.stageId).foreach { j =>
      j.firstLaunchMs = math.min(j.firstLaunchMs, e.taskInfo.launchTime)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageToJob.get(e.stageId).foreach { j =>
      j.taskMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.diskBytesSpilled
    }
  }

  /** Jobs whose group matches, in submission order. */
  def jobsWhere(p: String => Boolean): Seq[JobRec] = synchronized {
    jobs.values.filter(j => p(j.group)).toVector
  }
}

/** A traced interval: one layer call, one request, or the whole run. */
final case class Span(name: String, layer: String, group: String,
    startMs: Long, endMs: Long, nanos: Long, parent: String, runId: String) {
  def ms: Double = nanos / 1e6
}

/** Spans, counts and the listener for one traced run. Spans stay in
  * memory and are written out when the run ends. Layer calls do not
  * nest, so a layer span's time is also its self time. */
final class Tracer(spark: SparkSession, val cores: Int, val runId: String) {
  val listener = new LayerListener
  spark.sparkContext.addSparkListener(listener)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.LinkedHashMap.empty[String, Double]
  private val seq = new AtomicLong()
  val t0: Long = System.currentTimeMillis()

  /** Run `body` as one call into `layer` under its own job group. */
  def span[T](layer: String, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val group = s"$layer|$name|${seq.incrementAndGet()}"
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val s = System.currentTimeMillis()
    val n = System.nanoTime()
    try body
    finally {
      val ns = System.nanoTime() - n
      sc.clearJobGroup()
      synchronized { spans += Span(name, layer, group, s, s + ns / 1000000, ns, "run", runId) }
    }
  }

  def count(name: String, v: Double): Unit = synchronized { counts(name) = v }
  def add(name: String, v: Double): Unit =
    synchronized { counts(name) = counts.getOrElse(name, 0.0) + v }
  def counted: Map[String, Double] = synchronized { counts.toMap }
  def allSpans: Seq[Span] = synchronized { spans.toVector }

  def drain(): Unit = org.apache.spark.graftbench.BusAccess.drain(spark.sparkContext)

  def jobsOf(span: Span): Seq[JobRec] = listener.jobsWhere(_ == span.group)

  /** Union length of the intervals during which at least one job of
    * `js` was running. */
  def jobActiveMs(js: Seq[JobRec]): Long = {
    val iv = js.filter(_.endMs >= 0).map(j => (j.submitMs, j.endMs)).sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** `app.driver_s`: median time of the traced application runs
    * (`layer == "app"`) with none of their Spark jobs running. */
  def putAppDriverTime(): Unit = {
    drain()
    val driver = allSpans.filter(_.layer == "app").map(s => (s.ms - jobActiveMs(jobsOf(s))) / 1000.0)
    if (driver.nonEmpty) count("app.driver_s", Stats.median(driver))
  }

  /** The seven Spark metrics of every layer, from the spans and jobs
    * recorded under it. */
  def layerMetrics(layer: String): Seq[(String, Double, String)] = {
    drain()
    val ss = allSpans.filter(_.layer == layer)
    val groups = ss.map(_.group).toSet
    val js = listener.jobsWhere(groups)
    val busyS = ss.map(_.ms).sum / 1000.0
    val taskS = js.map(_.taskMs).sum / 1000.0
    Seq(
      (s"$layer.busy_s", busyS, "s"),
      (s"$layer.task_s", taskS, "s"),
      (s"$layer.gc_s", js.map(_.gcMs).sum / 1000.0, "s"),
      (s"$layer.shuffle_write_mb", js.map(_.shuffleWriteBytes).sum / 1048576.0, "MB"),
      (s"$layer.spill_mb", js.map(_.spillBytes).sum / 1048576.0, "MB"),
      (s"$layer.queue_s", js.map(_.queueMs).sum / 1000.0, "s"),
      (s"$layer.par_eff", if (busyS > 0) taskS / (busyS * cores) else 0.0, "ratio"))
  }

  /** One JSON line per span, then one per Spark job with its group. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = allSpans.sortBy(_.startMs).map { s =>
      s"""{"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},"start_ms":${s.startMs - t0},""" +
        s""""end_ms":${s.endMs - t0},"parent":${Json.str(s.parent)},"run":${Json.str(s.runId)}}"""
    } ++ listener.jobsWhere(_ => true).map { j =>
      s"""{"job":${j.id},"group":${Json.str(j.group)},""" +
        s""""submit_ms":${j.submitMs - t0},"end_ms":${j.endMs - t0},"task_ms":${j.taskMs},""" +
        s""""shuffle_map_stages":${j.shuffleMapStages}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
