package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected-components diagnostics (not part of the benchmark):
  * `ccscale` runs the distributed CC loop on a synthetic chain graph
  * with the event log on, so its runtime shuffles per round can be
  * counted; `ccplan` prints the executed plan of one fold round.
  *
  * Usage: runMain graft.tools.OptProbe <ignored> ccscale [nNodes] [famSize]
  *        runMain graft.tools.OptProbe <ignored> ccplan
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val what = if (args.length > 1) args(1) else "ccplan"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get("/tmp/optprobe-events"))
    val spark = graft.GraftSession.builder("graft-optprobe",
        graft.GraftSession.cores)
      .config("spark.eventLog.enabled", "true")
      .config("spark.eventLog.dir", "/tmp/optprobe-events")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    what match {
      case "ccscale" =>
        val n = if (args.length > 2) args(2).toLong else 2000000L
        val fam = if (args.length > 3) args(3).toInt else 8
        ccScale(spark, n, fam)
      case "ccplan" =>
        ccPlan(spark)
      case other => println(s"unknown probe '$other'")
    }
    spark.stop()
  }

  /** At-scale fixture for the r18 CC half-shuffle fold: a synthetic
    * graph big enough to force the DISTRIBUTED loop (smallGraphEdges
    * forced to -1 regardless) with chain families so the loop runs
    * several propagation rounds — the regime where the per-round
    * shuffle count is the cost. Read the runtime shuffles per round
    * from the event log. */
  def ccScale(spark: SparkSession, nNodes: Long, famSize: Int): Unit = {
    // chains of `famSize` nodes: (i, i+1) within each family — a
    // famSize-length chain needs ~famSize-1 plain propagation rounds
    // from the min end, so famSize 6-8 exercises 5-7 rounds without
    // tripping the pointer-jumping phase
    val edges = spark.range(nNodes)
      .filter(pmod(col("id"), lit(famSize)) =!= (famSize - 1))
      .select(col("id").as("a"), (col("id") + 1).as("b"))
    // the propagation loop runs EAGERLY inside the call (per-round
    // checkpoints + convergence probes)
    val out = graft.operators.Dedup.connectedComponents(
      edges, "a", "b", smallGraphEdges = -1L)
    println(s"[optprobe] ccscale n=$nNodes fam=$famSize labeled nodes: ${out.count()}")
  }

  /** One CC fold round in isolation, with the EXECUTED plan printed —
    * diagnoses whether the labels side of the foldMsgs join really
    * stays un-exchanged (the r18 half-shuffle claim). */
  def ccPlan(spark: SparkSession): Unit = {
    val edges = spark.range(200000L)
      .filter(pmod(col("id"), lit(8)) =!= 7)
      .select(col("id").as("a"), (col("id") + 1).as("b"))
    val sym = edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b")))
      .repartition(col("b")).cache()
    sym.count()
    val labels0 = sym.groupBy(col("a"))
      .agg(min("b").as("mb"))
      .select(col("a").as("id"), least(col("a"), col("mb")).as("component"))
    def round(labels: DataFrame, tag: String): Unit = {
      val msgs = sym.join(labels, sym("b") === labels("id"))
        .select(sym("a").as("id"), col("component"))
      val upd = msgs.groupBy("id").agg(min("component").as("mc"))
      val nextQ = labels.join(upd.hint("shuffle_hash"), Seq("id"), "left")
        .select(col("id"),
          least(col("component"), col("mc")).as("component"))
      nextQ.write.format("noop").mode("overwrite").save()
      val plan = nextQ.queryExecution.executedPlan.toString
      val nEx = "(?m)^.*Exchange hashpartitioning".r
        .findAllIn(plan).length
      println(s"[ccplan] $tag: runtime exchanges in round plan = $nEx")
      println(plan.split("\n").filter(l =>
        l.contains("Exchange") || l.contains("Scan ExistingRDD") ||
        l.contains("InMemoryTableScan") || l.contains("HashJoin") ||
        l.contains("AQEShuffleRead")).mkString("\n"))
    }
    val lazyCk = labels0.localCheckpoint(false)
    lazyCk.agg(sum("component")).first()
    round(lazyCk, "lazy-checkpoint labels")
    val cached = labels0.cache()
    cached.count()
    round(cached, "cached labels")
    cached.unpersist()
  }
}
