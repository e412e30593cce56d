package graft

import java.nio.file.{Files, Paths}

/** Per-query formatted-plan snapshots for the optimization rounds:
  * writes `<outDir>/<query>_<tag>.txt` for each selected query — the
  * before/after plan artifacts the round's judge diffs
  * (`plans/r17/<query>_before.txt` / `..._after.txt`).
  *
  * Usage: runMain graft.PlanSnap <sfDir> <outDir> <tag> [prefix,prefix,...]
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "plans/r17"
    val tag = if (args.length > 2) args(2) else "before"
    val prefixes = if (args.length > 3)
      args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    else Seq.empty
    // fixed width, so snapshots diff the same on any host
    val spark = GraftSession.builder("graft-plansnap", 4)
      .config("spark.sql.shuffle.partitions", "8")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) =>
        prefixes.isEmpty || prefixes.exists(n.startsWith) }
      .foreach { case (name, fn) =>
        val plan =
          try fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          catch { case e: Throwable => s"FAILED: ${e.getMessage}" }
        val p = Paths.get(outDir, s"${name}_$tag.txt")
        Files.writeString(p, plan)
        println(s"wrote $p")
      }
    spark.stop()
  }
}
