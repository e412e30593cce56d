package graft.ingest

import java.time.LocalDate
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Incremental day-partition planner — the reference's skip/force logic
  * (`util/JobStatsProcessing.java:37-96`, `ComputeUsagePerHour.java:121-158`,
  * S3/F7/T5): process the trailing `numDays` day-partitions, skipping
  * days whose output already exists, EXCEPT always reprocessing the
  * trailing `numDaysForced` days (the reference's late-data window —
  * its effective watermark).
  *
  * Pure driver-side logic (~no data movement): the day list prunes the
  * partitioned read, so Catalyst only scans selected partitions, and
  * output is written with dynamic partition overwrite (the staged-
  * commit analog, S7).
  */
final case class DayPlan(date: LocalDate, forced: Boolean)

object IncrementalPlanner {

  /** Enumerate days to process for `today` looking back `numDays`,
    * given a predicate telling whether output for a day already
    * exists. */
  def plan(today: LocalDate, numDays: Int, numDaysForced: Int,
      outputExists: LocalDate => Boolean): Seq[DayPlan] =
    (0 until numDays).reverseIterator.map(today.minusDays(_)).flatMap { d =>
      val forced = !d.isBefore(today.minusDays(numDaysForced - 1))
      if (forced) Some(DayPlan(d, forced = true))
      else if (!outputExists(d)) Some(DayPlan(d, forced = false))
      else None
    }.toSeq

  /** One-listing fleet form: a single two-level partition glob
    * (cluster=STAR/date=STAR) replaces
    * O(clusters × days) sequential `fs.exists` round-trips (each a
    * NameNode RPC — a 50-cluster × 100-day window is 5 000 serial RPCs
    * of driver time before any job starts). Returns the (cluster,
    * date-string) partitions present; feed
    * `d => present((cluster, d.toString))` to [[plan]]. */
  def existingPartitions(spark: SparkSession,
      outputRoot: String): Set[(String, String)] = {
    val fs = new Path(outputRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(new Path(outputRoot, "cluster=*/date=*")))
      .map(_.toSeq).getOrElse(Seq.empty)
      .map { st =>
        (st.getPath.getParent.getName.stripPrefix("cluster="),
          st.getPath.getName.stripPrefix("date="))
      }.toSet
  }
}
