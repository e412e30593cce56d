package graft

import graft.serve.{QueryType, TimeBuckets, UsageQueries}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Differential fuzzer for the serving layer — the randomized sweep of
  * the (query type × unit × zone × user subset × range endpoint) space
  * that the fixed gate points (q26/q29/q30) and ServeSpec pin only at
  * parameter points.
  *
  * For each seeded case this main runs the REAL serve surface
  * ([[UsageQueries.perUserSeries]] / [[UsageQueries.aggregatedSeries]] /
  * [[UsageQueries.topNWithOther]]) and emits, alongside the parquet
  * result, an independently-derived DuckDB SQL oracle (bucketing, tick
  * spine derivation, densification, and top-N re-expressed in SQL from
  * the reference semantics — NOT by injecting Scala-computed ticks, so
  * the spine rules are genuinely cross-checked). The output directory
  * is `tools/check_oracle.py`-shaped: run
  *
  *   sbt "runMain graft.ServeFuzz 42 200 /root/testdata/sf0.001 /tmp/fuzz_out"
  *   python3 tools/check_oracle.py /root/testdata/sf0.001 /tmp/fuzz_out
  *
  * Facts fuzzed: the gate's events-analog hour fact (Jan-2024 window)
  * AND a synthetic fact spanning Feb–Dec 2024 — so DST spring-forward
  * and fall-back weeks (America/New_York Mar 10 / Nov 3, Santiago
  * Apr 7 / Sep 8, Lord Howe's half-hour shift Apr 7 / Oct 6) carry
  * data. Both facts are written into the out dir and the oracle reads
  * the SAME parquet, so the comparison isolates the serving layer
  * (the events→fact chain has its own gate, q26/q27).
  */
object ServeFuzz {

  def main(args: Array[String]): Unit = {
    val seed = if (args.nonEmpty) args(0).toLong else 42L
    val nCases = if (args.length > 1) args(1).toInt else 200
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 3) args(3) else "/tmp/fuzz_out"
    implicit val spark: SparkSession =
      GraftSession.builder("graft-servefuzz", GraftSession.cores)
        .config("spark.sql.shuffle.partitions", "16")
        .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    Files.createDirectories(Paths.get(outDir))

    // ---- fact 1: the gate's events-analog fact -------------------- //
    val realFactPath = s"$outDir/fuzz_fact_real.parquet"
    ServeQueries.analogFact(spark, sfDir)
      .withColumnRenamed("time", "hourMs")
      .write.mode("overwrite").parquet(realFactPath)

    // ---- fact 2: synthetic DST-spanning fact ---------------------- //
    // hour ticks every 3h, Feb 1 .. Dec 15 2024; deterministic integer
    // measures; users u0..u15, clusters east/west
    val dstFactPath = s"$outDir/fuzz_fact_dst.parquet"
    val feb1 = 1706745600000L // 2024-02-01T00:00:00Z
    val dec15 = 1734220800000L
    spark.range((dec15 - feb1) / (3 * 3600000L))
      .select((lit(feb1) + col("id") * 3 * 3600000L).as("hourMs"),
        col("id"))
      .select(
        concat(lit("u"), pmod(col("id"), lit(16))).as("user"),
        col("hourMs"),
        when(pmod(col("id"), lit(2)) === 0, "east").otherwise("west").as("cluster"),
        (pmod(col("id"), lit(5)) === 0).as("excess"),
        when(pmod(col("id"), lit(3)) === 0, "REDUCE").otherwise("MAP").as("taskType"),
        when(pmod(col("id"), lit(7)) === 0, "FAILED")
          .when(pmod(col("id"), lit(11)) === 0, "KILLED")
          .otherwise("SUCCESS").as("status"),
        (pmod(col("id") * 31, lit(5)) + 1).as("started"),
        pmod(col("id") * 17, lit(5)).as("finished"),
        (pmod(col("id") * 13, lit(90)) + 1).multiply(60000L).as("elapsedMs"))
      .write.mode("overwrite").parquet(dstFactPath)

    val facts = Map(
      "real" -> (realFactPath, spark.read.parquet(realFactPath).cache()),
      "dst" -> (dstFactPath, spark.read.parquet(dstFactPath).cache()))
    facts.values.foreach(_._2.count())

    val zones = Seq("UTC", "America/New_York", "America/Los_Angeles",
      "America/Santiago", "Australia/Lord_Howe", "Asia/Kathmandu")
    // DST-edge anchor instants (UTC ms) to pin range endpoints near
    val dstEdges = Seq(
      1710054000000L, // NY 2024-03-10 spring forward
      1730610000000L, // NY 2024-11-03 fall back
      1712458800000L, // Santiago 2024-04-07 fall back (southern)
      1725768000000L, // Santiago 2024-09-08 spring forward
      1712415600000L, // Lord Howe 2024-04-07 (30-min shift)
      1727966700000L) // Lord Howe 2024-10-06

    val qtNames = QueryType.All.keys.toSeq.sorted
    val rng = new scala.util.Random(seed)
    val oracles = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val params = scala.collection.mutable.ListBuffer.empty[String]
    var failures = 0

    (0 until nCases).foreach { i =>
      val name = f"fz$i%03d"
      val factKey = if (rng.nextBoolean()) "real" else "dst"
      val (factPath, fact) = facts(factKey)
      val cluster = if (rng.nextBoolean()) "east" else "west"
      val qt0 = QueryType.All(qtNames(rng.nextInt(qtNames.size)))
      // the analog fact carries integer measures only: minute/byte
      // measures map onto elapsedMs (exact-integer discipline, as q26)
      val measure = qt0.measure match {
        case "started" => "started"
        case "finished" => "finished"
        case _ => "elapsedMs"
      }
      val qt = qt0.copy(measure = measure)
      val unit = TimeBuckets.Units(rng.nextInt(TimeBuckets.Units.size))
      val zone = zones(rng.nextInt(zones.size))
      // "table" = the CSV-export route (`/api/table`, S12): pivoted
      // per-user series with minute→hour (/60) scaling — unpivoted
      // back to rows for the oracle compare, measure renamed to a
      // *Minutes column so the /60 branch genuinely engages
      val form = Seq("peruser", "agg", "topn", "table")(rng.nextInt(4))
      val (lo, hi) = UsageQueries.timeBounds(fact.withColumnRenamed("hourMs", "time"), cluster)
      // range endpoints: uniform in-bounds, occasionally pinned around
      // a DST edge (±10 days), occasionally out-of-bounds on purpose
      def rndPoint(): Long =
        if (factKey == "dst" && rng.nextInt(3) == 0)
          dstEdges(rng.nextInt(dstEdges.size)) +
            (rng.nextLong() % (10L * 86400000L))
        else lo + math.abs(rng.nextLong()) % math.max(hi - lo, 1L) +
          (if (rng.nextInt(5) == 0) -3L * 86400000L else 0L)
      val (p1, p2) = (rndPoint(), rndPoint())
      val startMs = math.min(p1, p2)
      val endMs = math.max(p1, p2)
      val allUsers = UsageQueries.users(
        fact.withColumnRenamed("hourMs", "time"), cluster)
      val users = rng.shuffle(allUsers).take(1 + rng.nextInt(math.min(8, math.max(allUsers.size, 1))))
        .sorted
      val topN = 1 + rng.nextInt(5)

      val factT = fact.withColumnRenamed("hourMs", "time")
      try {
        val result: DataFrame = form match {
          case "peruser" =>
            UsageQueries.perUserSeries(factT, cluster, users, qt, unit, zone,
              startMs, endMs, bounds = Some((lo, hi)))
              .select(col("user"), col("tick"), col("value").cast("long"))
          case "agg" =>
            UsageQueries.aggregatedSeries(factT, cluster, users, qt, unit,
              zone, startMs, endMs, bounds = Some((lo, hi)))
              .select(col("tick"), col("value").cast("long"))
          case "topn" =>
            UsageQueries.topNWithOther(factT, cluster, qt, unit, zone, topN)
              .select(col("who"), col("tick"), col("value").cast("long"))
          case "table" =>
            val isMin = measure == "elapsedMs"
            val (factM, qtT) =
              if (isMin)
                (factT.withColumnRenamed("elapsedMs", "elapsedMinutes"),
                  qt.copy(measure = "elapsedMinutes"))
              else (factT, qt)
            val piv = UsageQueries.exportTable(factM, cluster, users, qtT,
              unit, zone, startMs, endMs)
            val uv = users.map(u => struct(lit(u).as("user"),
              col(s"`$u`").cast("double").as("value")))
            piv.select(col("tick"), explode(array(uv: _*)).as("uv"))
              .select(col("tick"), col("uv.user").as("user"),
                col("uv.value").as("value"))
        }
        result.write.mode("overwrite").parquet(s"$outDir/$name")
        oracles(name) = oracleSql(factPath, cluster, qt, unit, zone,
          users, startMs, endMs, topN, form)
        params += s"""{"case":"$name","fact":"$factKey","form":"$form","cluster":"$cluster","type":"${qt.name}","measure":"$measure","unit":"$unit","zone":"$zone","users":${users.size},"start":$startMs,"end":$endMs,"topN":$topN}"""
      } catch {
        case e: Throwable =>
          failures += 1
          println(s"CASE $name FAILED TO RUN: ${e.getMessage}")
      }
      // long-lived session hygiene: free any operator-internal caches a
      // case created (the pinned fuzz facts are cached separately and
      // survive — releaseAll only touches registry-registered frames)
      graft.operators.OperatorCaches.releaseAll()
    }

    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracles.map { case (k, v) =>
        s""""$k": ${jsonStr(v)}"""
      }.mkString("{\n", ",\n", "\n}"))
    Files.writeString(Paths.get(s"$outDir/fuzz_params.jsonl"),
      params.mkString("\n") + "\n")
    println(s"wrote ${oracles.size} cases to $outDir (run failures: $failures)")
    require(failures == 0, s"$failures cases failed to execute")
    spark.stop()
  }

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n") + "\""

  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** DuckDB bucket expression for epoch-ms column `c` (the SQL twin of
    * [[TimeBuckets.bucket]]; WEEKS uses the q30-proven Sunday idiom). */
  private def bucketSql(c: String, unit: String, zone: String): String = {
    val lt = s"timezone(${sqlStr(zone)}, epoch_ms($c)::TIMESTAMPTZ)"
    unit match {
      case "HOURS" => s"($c // 3600000) * 3600000"
      case "DAYS" =>
        s"epoch_ms(timezone(${sqlStr(zone)}, date_trunc('day', $lt)))"
      case "MONTHS" =>
        s"epoch_ms(timezone(${sqlStr(zone)}, date_trunc('month', $lt)))"
      case "QUARTERS" =>
        s"epoch_ms(timezone(${sqlStr(zone)}, date_trunc('quarter', $lt)))"
      case "WEEKS" =>
        s"epoch_ms(timezone(${sqlStr(zone)}, CAST(date_trunc('week', CAST($lt AS DATE) + 1) - 1 AS TIMESTAMP)))"
    }
  }

  /** DuckDB tick-spine CTE body — an INDEPENDENT re-derivation of
    * [[TimeBuckets.ticks]] (usage_data.rb:291-440 semantics): HOURS
    * floors the requested range; the calendar units clamp to data
    * bounds, truncate in-zone, and shrink per-unit. */
  private def spineSql(unit: String, zone: String, startMs: Long,
      endMs: Long): String = {
    val z = sqlStr(zone)
    def locDate(ms: String) = s"CAST(timezone($z, epoch_ms($ms)::TIMESTAMPTZ) AS DATE)"
    val sClamp = s"GREATEST($startMs, (SELECT lo FROM bounds))"
    val eClamp = s"LEAST($endMs, (SELECT hi FROM bounds))"
    unit match {
      case "HOURS" =>
        s"""SELECT unnest(generate_series(
           |  ($startMs // 3600000) * 3600000,
           |  ($endMs // 3600000) * 3600000, 3600000)) AS tick""".stripMargin
      case "DAYS" =>
        s"""SELECT epoch_ms(timezone($z, CAST(d AS TIMESTAMP))) AS tick FROM (
           |  SELECT unnest(generate_series(
           |    CAST(${locDate(sClamp)} + 1 AS TIMESTAMP),
           |    CAST(${locDate(eClamp)} - 1 AS TIMESTAMP),
           |    INTERVAL 1 DAY)) AS d)""".stripMargin
      case "WEEKS" =>
        // toSunday(d) = d - dayofweek(d) (DuckDB dayofweek: Sunday=0)
        s"""SELECT epoch_ms(timezone($z, CAST(d AS TIMESTAMP))) AS tick FROM (
           |  SELECT unnest(generate_series(
           |    CAST((${locDate(sClamp)} - CAST(dayofweek(${locDate(sClamp)}) AS INTEGER)) + 7 AS TIMESTAMP),
           |    CAST((${locDate(eClamp)} - CAST(dayofweek(${locDate(eClamp)}) AS INTEGER)) - 7 AS TIMESTAMP),
           |    INTERVAL 7 DAY)) AS d)""".stripMargin
      case "MONTHS" =>
        s"""SELECT epoch_ms(timezone($z, CAST(d AS TIMESTAMP))) AS tick FROM (
           |  SELECT unnest(generate_series(
           |    CAST(date_trunc('month', ${locDate(sClamp)}) + INTERVAL 1 MONTH AS TIMESTAMP),
           |    CAST(date_trunc('month', ${locDate(eClamp)}) - INTERVAL 1 MONTH AS TIMESTAMP),
           |    INTERVAL 1 MONTH)) AS d)""".stripMargin
      case "QUARTERS" =>
        s"""SELECT epoch_ms(timezone($z, CAST(d AS TIMESTAMP))) AS tick FROM (
           |  SELECT unnest(generate_series(
           |    CAST(date_trunc('quarter', ${locDate(sClamp)}) AS TIMESTAMP),
           |    CAST(date_trunc('quarter', ${locDate(eClamp)}) - INTERVAL 3 MONTH AS TIMESTAMP),
           |    INTERVAL 3 MONTH)) AS d)""".stripMargin
    }
  }

  private def filterSql(cluster: String, qt: QueryType): String = {
    val parts = Seq(s"cluster = ${sqlStr(cluster)}") ++
      qt.taskType.map(t => s"taskType = ${sqlStr(t)}") ++
      qt.status.map(st => s"status = ${sqlStr(st)}") ++
      qt.excess.map(e => s"excess = $e")
    parts.mkString(" AND ")
  }

  private def oracleSql(factPath: String, cluster: String, qt: QueryType,
      unit: String, zone: String, users: Seq[String], startMs: Long,
      endMs: Long, topN: Int, form: String): String = {
    val b = bucketSql("hourMs", unit, zone)
    val userList = users.map(sqlStr).mkString(", ")
    val base =
      s"""WITH fact AS (SELECT * FROM read_parquet('$factPath/*.parquet')),
         |cf AS (SELECT * FROM fact WHERE cluster = ${sqlStr(cluster)}),
         |bounds AS (SELECT MIN(hourMs) AS lo, MAX(hourMs) AS hi FROM cf),
         |f AS (SELECT * FROM fact WHERE ${filterSql(cluster, qt)}),
         |spine AS (${spineSql(unit, zone, startMs, endMs)})""".stripMargin
    form match {
      case "peruser" =>
        s"""$base,
           |agg AS (SELECT "user", $b AS tick,
           |               CAST(SUM(${qt.measure}) AS BIGINT) AS v
           |        FROM f WHERE "user" IN ($userList) GROUP BY 1, 2),
           |grid AS (SELECT u."user", s.tick
           |         FROM (VALUES ${users.map(u => s"(${sqlStr(u)})").mkString(", ")}) u("user")
           |         CROSS JOIN spine s)
           |SELECT g."user" AS "user", g.tick AS tick,
           |       CAST(COALESCE(a.v, 0) AS BIGINT) AS value
           |FROM grid g LEFT JOIN agg a
           |  ON g."user" = a."user" AND g.tick = a.tick""".stripMargin
      case "agg" =>
        s"""$base,
           |agg AS (SELECT $b AS tick, CAST(SUM(${qt.measure}) AS BIGINT) AS v
           |        FROM f WHERE "user" IN ($userList) GROUP BY 1)
           |SELECT s.tick AS tick, CAST(COALESCE(a.v, 0) AS BIGINT) AS value
           |FROM spine s LEFT JOIN agg a ON s.tick = a.tick""".stripMargin
      case "topn" =>
        s"""$base,
           |agg AS (SELECT "user", $b AS tick,
           |               CAST(SUM(${qt.measure}) AS BIGINT) AS v
           |        FROM f GROUP BY 1, 2),
           |totals AS (SELECT "user", CAST(SUM(v) AS BIGINT) AS total
           |           FROM agg GROUP BY 1),
           |ranked AS (SELECT "user",
           |                  row_number() OVER (ORDER BY total DESC, "user") AS rk
           |           FROM totals)
           |SELECT CASE WHEN r.rk <= $topN THEN a."user" ELSE 'other' END AS who,
           |       a.tick AS tick, CAST(SUM(a.v) AS BIGINT) AS value
           |FROM agg a JOIN ranked r ON a."user" = r."user"
           |GROUP BY 1, 2""".stripMargin
      case "table" =>
        // CSV route: per-user grid with the /60 hour scaling. The
        // divisor is derived from the REFERENCE semantics, not the
        // implementation: server/app.rb:152 divides EVERY cell by 60.0
        // unconditionally (counters included — QUIRK 11), so the oracle
        // applies the unconditional /60 and would catch a regression to
        // measure-conditional scaling. Both engines divide the
        // identical BIGINT sum by the same double → bit-identical.
        val physMeasure = qt.measure
        val divisor = "60.0"
        s"""$base,
           |agg AS (SELECT "user", $b AS tick,
           |               CAST(SUM($physMeasure) AS BIGINT) AS v
           |        FROM f WHERE "user" IN ($userList) GROUP BY 1, 2),
           |grid AS (SELECT u."user", s.tick
           |         FROM (VALUES ${users.map(u => s"(${sqlStr(u)})").mkString(", ")}) u("user")
           |         CROSS JOIN spine s)
           |SELECT g."user" AS "user", g.tick AS tick,
           |       CAST(COALESCE(a.v, 0) AS DOUBLE) / $divisor AS value
           |FROM grid g LEFT JOIN agg a
           |  ON g."user" = a."user" AND g.tick = a.tick""".stripMargin
    }
  }
}
