package graft

import graft.serve.{UsageApi, UsageRequest, UsageServer}
import graft.streaming.StreamingUsage
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class UsageApiSpec extends AnyFunSuite {

  lazy implicit val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  val H = 3600000L
  val D = 86400000L
  val jan1 = 1704067200000L

  // c1 spans jan2 06:00 .. jan6 01:00 → DAYS ticks jan3..jan5
  lazy val fact = Seq(
    ("alice", jan1 + 1 * D + 6 * H, "c1", false, "MAP", "SUCCESS", 1, 1, 30.0),
    ("alice", jan1 + 2 * D + 3 * H, "c1", false, "MAP", "SUCCESS", 1, 1, 10.0),
    ("bob", jan1 + 2 * D + 5 * H, "c1", false, "REDUCE", "FAILED", 2, 2, 5.0),
    ("carol", jan1 + 3 * D + 4 * H, "c1", true, "REDUCE", "KILLED", 1, 0, 7.0),
    ("bob", jan1 + 5 * D + 1 * H, "c1", false, "MAP", "SUCCESS", 1, 1, 2.0))
    .toDF("user", "time", "cluster", "excess", "taskType", "status",
      "started", "finished", "elapsedMinutes")
    .withColumn("cpuMinutes", col("elapsedMinutes") / 2)
    .withColumn("reduceShuffleBytes",
      when(col("taskType") === "REDUCE", 100L))

  test("usage response: per-user series + aggregated remainder (app.rb parity)") {
    val api = new UsageApi(fact)
    val resp = api.usage(UsageRequest(
      cluster = "c1",
      users = Seq("alice", "bob"),
      usersToAggregate = Seq("carol"),
      queryType = "minutesTotal",
      unit = "DAYS", zone = "UTC",
      startMs = jan1, endMs = jan1 + 6 * D))
    assert(resp.times == Seq(jan1 + 2 * D, jan1 + 3 * D, jan1 + 4 * D))
    assert(resp.users.map(_.user) == Seq("alice", "bob"))
    assert(resp.users(0).data == Seq(10.0, 0.0, 0.0))
    assert(resp.users(1).data == Seq(5.0, 0.0, 0.0))
    assert(resp.usersAggregated == Seq(0.0, 7.0, 0.0)) // carol's killed run
    assert(resp.numAggregatedUsers == 1)
    assert(resp.cluster == "c1")
  }

  test("counter query types flow through usage() (long sums, app.rb numbers)") {
    // started/finished sum to LONG — the response extraction must be
    // numeric-type-agnostic (getDouble on a long sum throws; caught by
    // the round-10 latency harness running all 23 types)
    val api = new UsageApi(fact)
    val resp = api.usage(UsageRequest("c1", Seq("alice", "bob"),
      Seq("carol"), "totalStarted", "DAYS", "UTC", jan1, jan1 + 6 * D))
    assert(resp.users(0).data.sum > 0.0) // alice started jobs
    assert(resp.usersAggregated.sum > 0.0) // carol's counted too
  }

  test("default (clear) mode: invalidate drops the memo — reference clear_cache parity") {
    // usage_loader.rb:196 → UsageData.clear_cache → invalidate_all: the
    // reference serves fresh (cold) data after ingest, never stale
    val api = new UsageApi(fact)
    val req = UsageRequest("c1", Seq("alice"), Nil, "minutesTotal",
      "DAYS", "UTC", jan1, jan1 + 6 * D)
    val r1 = api.usage(req)
    val b1 = api.usageJson(req)
    assert(api.usage(req) eq r1)     // memo hit
    assert(api.usageJson(req) eq b1) // rendered-bytes memo hit
    api.invalidate()
    val r2 = api.usage(req)
    assert(!(r2 eq r1)) // recomputed cold, not served stale
    assert(r2 == r1)    // same underlying fact → same values
    assert(!(api.usageJson(req) eq b1)) // bytes re-rendered too
  }

  test("invalidate serves files synced after the api was built (clear and swr)") {
    // the ingest loop: FileLedger.sync lands a new file's rows as a new
    // file_id partition of the fact, then invalidate() — with no
    // catalog refresh by the caller, the new hour must be served. The
    // partition is committed by a rename into the fact root, as an
    // ingest process outside this session does (an in-session write
    // would refresh this session's cached plans by itself).
    import java.nio.file.{Files, Paths}
    val newHour = jan1 + 6 * D + 2 * H
    for (mode <- Seq("clear", "swr")) {
      val root = Files.createTempDirectory(s"usage_sync_$mode").toString
      val in = s"$root/in"; Files.createDirectories(Paths.get(in))
      val factDir = s"$root/fact"; val ledgerDir = s"$root/ledger"
      def land(name: String, rows: org.apache.spark.sql.DataFrame): Unit =
        Files.write(Paths.get(in, name),
          rows.toJSON.collect().mkString("\n").getBytes("UTF-8"))
      def sync(into: String) = graft.ingest.FileLedger.sync(spark, in, "*.json",
        into, ledgerDir, p => spark.read.schema(fact.schema).json(p))
      land("a.json", fact)
      sync(factDir)
      val api = new UsageApi(spark.read.parquet(factDir), refreshMode = mode)
      api.warm()
      val req = UsageRequest("c1", Seq("alice"), Nil, "minutesTotal",
        "HOURS", "UTC", jan1, jan1 + 7 * D)
      def at(r: graft.serve.UsageResponse, t: Long) =
        r.users.head.data(r.times.indexOf(t))
      assert(at(api.usage(req), newHour) == 0.0)
      land("b.json", fact.limit(1).withColumn("time", lit(newHour))
        .withColumn("elapsedMinutes", lit(42.0)))
      val d = sync(s"$root/staged")
      assert(d.added.size == 1)
      val part = s"file_id=${graft.ingest.FileLedger.fileId(d.added.head)}"
      Files.move(Paths.get(root, "staged", part), Paths.get(factDir, part))
      api.invalidate()
      if (mode == "swr") api.awaitRefresh()
      assert(at(api.usage(req), newHour) == 42.0, mode)
      assert(api.warm() == 6L, mode)
    }
  }

  test("swr mode: invalidate serves stale then swaps refreshed entry (reload semantics)") {
    val api = new UsageApi(fact, refreshMode = "swr")
    val req = UsageRequest("c1", Seq("alice"), Nil, "minutesTotal",
      "DAYS", "UTC", jan1, jan1 + 6 * D)
    val r1 = api.usage(req)
    val b1 = api.usageJson(req)
    val t1 = api.tableCsv(req)
    assert(api.usage(req) eq r1) // memo hit
    api.invalidate()
    // stale-while-revalidate: the request keeps being answered from
    // the memo (no cold window) while the background task recomputes
    assert(api.usage(req) == r1)
    api.awaitRefresh()
    val r2 = api.usage(req)
    assert(!(r2 eq r1)) // refreshed entry swapped in
    assert(r2 == r1)    // same underlying fact → same values
    // the rendered bytes were swapped by the SAME refresh pass — a
    // byte-memo hit never serves a response older than its entry
    val b2 = api.usageJson(req)
    assert(!(b2 eq b1) && java.util.Arrays.equals(b2, b1))
    val t2 = api.tableCsv(req)
    assert(!(t2 eq t1) && java.util.Arrays.equals(t2, t1))
  }

  test("rendered-bytes memo equals a fresh serialization of the response") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val api = new UsageApi(fact)
    val req = UsageRequest("c1", Seq("alice", "bob"), Seq("carol"),
      "minutesTotal", "DAYS", "UTC", jan1, jan1 + 6 * D)
    val viaBytes = new String(api.usageJson(req), "UTF-8")
    assert(viaBytes ==
      org.json4s.jackson.Serialization.write(api.usage(req)))
    assert(new String(api.tableCsv(req), "UTF-8") ==
      api.exportCsv(req).mkString("\n"))
  }

  test("all-null measure group densifies to the type default (nullable cpuMinutes)") {
    // cpuMinutes is nullable (UsageEtl SUMs skip nulls; the reference
    // emits null derived minutes) — a (user,tick) group whose inputs
    // are ALL null yields SUM=null, and the cold path must densify it
    // like an absent tick, not NPE (round-10 ADVICE finding)
    val nullFact = fact.withColumn("cpuMinutes",
      when(col("user") === "alice", lit(null).cast("double"))
        .otherwise(col("cpuMinutes")))
    val api = new UsageApi(nullFact)
    val resp = api.usage(UsageRequest("c1", Seq("alice", "bob"),
      Seq("alice"), "cpuTotal", "DAYS", "UTC", jan1, jan1 + 6 * D))
    assert(resp.users(0).data.forall(_ == 0.0)) // alice: all-null → default
    assert(resp.usersAggregated.forall(_ == 0.0))
    assert(resp.users(1).data.sum > 0.0) // bob's real cpu still flows
  }

  test("csv export: header + hours scaling") {
    val api = new UsageApi(fact)
    val csv = api.exportCsv(UsageRequest("c1", Seq("alice", "bob"), Nil,
      "minutesTotal", "DAYS", "UTC", jan1, jan1 + 6 * D))
    assert(csv.head == "time,alice,bob")
    val first = csv(1).split(',')
    assert(first(0) == (jan1 + 2 * D).toString)
    assert(first(1).toDouble == 10.0 / 60.0)
  }

  test("unknown query type → clear error") {
    val api = new UsageApi(fact)
    val e = intercept[IllegalArgumentException] {
      api.usage(UsageRequest("c1", Nil, Nil, "nope", "DAYS", "UTC", 0, 1))
    }
    assert(e.getMessage.contains("nope"))
  }

  test("uncached usage request costs at most 3 driver actions (meta + perUser + aggregate)") {
    val api = new UsageApi(fact)
    // warm the fact cache outside the measurement
    api.usage(UsageRequest("c1", Nil, Nil, "minutesTotal", "DAYS", "UTC",
      jan1, jan1 + 6 * D))
    // count SQL executions (1 per action; AQE splits each into many
    // scheduler jobs, so job count is not the round-trip metric)
    val execs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execs.incrementAndGet()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      api.usage(UsageRequest("c1", Seq("alice"), Seq("carol"), "minutesTotal",
        "DAYS", "UTC", jan1, jan1 + 6 * D))
      // listener delivery is async; wait for the count to settle
      var last = -1
      var spins = 0
      while (execs.get() != last && spins < 20) {
        last = execs.get(); spins += 1; Thread.sleep(100)
      }
      // bounds are computed once and forwarded — without forwarding this
      // request would run 4+ actions (timeBounds recomputed per series)
      assert(execs.get() <= 3, s"expected <=3 driver actions, got ${execs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("HTTP facade: clusters/users/usage/table round-trip (app.rb surface)") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    import org.json4s.jackson.Serialization
    val api = new UsageApi(fact)
    val server = new UsageServer(api)
    val port = server.start()
    try {
      def get(path: String): (Int, String) = {
        val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        val code = conn.getResponseCode
        val is = if (code < 400) conn.getInputStream else conn.getErrorStream
        (code, new String(is.readAllBytes(), "UTF-8"))
      }
      def post(path: String, payload: String): (Int, String) = {
        val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        conn.getOutputStream.write(payload.getBytes("UTF-8"))
        val code = conn.getResponseCode
        val is = if (code < 400) conn.getInputStream else conn.getErrorStream
        (code, new String(is.readAllBytes(), "UTF-8"))
      }

      assert(get("/api/clusters") == (200, """["c1"]"""))
      assert(get("/api/users?cluster=c1")._2.contains("alice"))
      assert(get("/api/users")._1 == 400) // missing param → client error

      val req = UsageRequest("c1", Seq("alice"), Seq("carol"),
        "minutesTotal", "DAYS", "UTC", jan1, jan1 + 6 * D)
      val (code, bodyJson) = post("/api/usage", Serialization.write(req))
      assert(code == 200)
      val resp = Serialization.read[graft.serve.UsageResponse](bodyJson)
      assert(resp == api.usage(req)) // HTTP result == programmatic result

      val (tcode, csv) = post("/api/table", Serialization.write(req))
      assert(tcode == 200 && csv.linesIterator.next() == "time,alice")

      val (bcode, berr) = post("/api/usage",
        Serialization.write(req.copy(queryType = "nope")))
      assert(bcode == 400 && berr.contains("nope"))
    } finally server.stop()
  }

  test("streaming late-data semantics: watermark admits in-window rows (T5)") {
    // the 5-day watermark means a row 4 days late still lands in its
    // hour bucket on reprocessing — batch equivalence check
    val attempts = Seq(
      ("u1", "c1", "MAP", "SUCCESS", false, 10 * H, 10 * H + 600000L),
      // "late" attempt: 4 days earlier event-time
      ("u1", "c1", "MAP", "SUCCESS", false, 10 * H - 4 * D, 10 * H - 4 * D + 600000L))
      .toDF("user", "cluster", "taskType", "status", "excess",
        "startMs", "finishMs")
    val agg = StreamingUsage.hourlyAgg(attempts).collect()
    assert(agg.length == 2)
    assert(agg.map(_.getAs[Long]("time")).toSet ==
      Set(10 * H, 10 * H - 4 * D))
  }
}
