package graftbench

import graft.ingest.FileLedger
import graft.serve.{UsageApi, UsageRequest, UsageResponse}
import graft.sources.AvroKv
import java.nio.file.{Files, Path}
import java.time.{Instant, ZoneId, ZonedDateTime}
import java.time.temporal.ChronoUnit
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.ReentrantReadWriteLock
import org.apache.avro.Schema
import org.apache.avro.file.{CodecFactory, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import scala.collection.mutable

/** One hourly usage-fact row as the generator wrote it. Optional
  * measures are NaN / -1 when absent. */
final case class FactRow(user: String, hourMs: Long, excess: Boolean, taskType: String,
    status: String, started: Int, finished: Int, elapsed: Double, cpu: Double,
    spilled: Long, shuffle: Long)

/** Seeded hourly usage in the reference's Avro KV layout
  * (AttemptStatsKey/AttemptStatsValue pairs under
  * `<root>/<cluster>/<yyyy>/<MMdd>/`), written with the Avro library.
  * An hour's rows depend only on (seed, cluster, hour). */
object UsageGen {
  val Clusters: Seq[String] = Seq("alpha", "beta")
  val Users = 120
  val HourMs = 3600000L

  private val KeyJson =
    """{"type":"record","name":"AttemptStatsKey","namespace":"com.linkedin.whiteelephant.analysis","fields":[
      |{"name":"user","type":"string"},{"name":"time","type":"long"},
      |{"name":"unit","type":{"type":"enum","name":"TimeUnit","symbols":["HOURS"]}},
      |{"name":"cluster","type":"string"},{"name":"excess","type":"boolean"},
      |{"name":"type","type":{"type":"enum","name":"TaskType","symbols":["MAP","REDUCE"]}},
      |{"name":"status","type":{"type":"enum","name":"TaskStatus","symbols":["SUCCESS","FAILED","KILLED"]}}]}""".stripMargin
  private val ValueJson =
    """{"type":"record","name":"AttemptStatsValue","namespace":"com.linkedin.whiteelephant.analysis","fields":[
      |{"name":"started","type":"int"},{"name":"finished","type":"int"},
      |{"name":"elapsedMinutes","type":"double"},{"name":"cpuMinutes","type":["double","null"]},
      |{"name":"spilledRecords","type":["long","null"]},{"name":"reduceShuffleBytes","type":["long","null"]}]}""".stripMargin

  /** Task type, status and excess flag of the row kinds a busy user
    * produces in an hour, with the chance of each. */
  private val Kinds = Seq(
    ("MAP", "SUCCESS", false, 1.0), ("REDUCE", "SUCCESS", false, 0.6),
    ("MAP", "FAILED", true, 0.12), ("MAP", "KILLED", true, 0.08),
    ("REDUCE", "KILLED", true, 0.05), ("MAP", "SUCCESS", true, 0.1))

  /** Users are active with Zipf-like weights, more by day than by night. */
  def hourRows(seed: Long, cluster: String, hourMs: Long): Seq[FactRow] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (cluster.hashCode.toLong << 40) ^ hourMs)
    val hourOfDay = ((hourMs / HourMs) % 24).toInt
    val diurnal = if (hourOfDay >= 8 && hourOfDay < 20) 1.0 else 0.45
    (0 until Users).flatMap { u =>
      val pActive = diurnal * math.min(1.0, 3.0 / math.sqrt(u + 1.0))
      if (r.nextDouble() >= pActive) Nil
      else Kinds.filter(k => r.nextDouble() < k._4).map { case (tt, st, ex, _) =>
        val started = 1 + r.nextInt(40)
        FactRow(f"u$u%03d", hourMs, ex, tt, st, started, started - r.nextInt(started),
          r.nextInt(2400) * 0.25,
          if (r.nextDouble() < 0.9) r.nextInt(4000) * 0.5 else Double.NaN,
          if (r.nextDouble() < 0.8) r.nextInt(1000000).toLong else -1L,
          if (tt == "REDUCE") r.nextInt(1 << 30).toLong else -1L)
      }
    }
  }

  def dayDir(root: Path, cluster: String, hourMs: Long): Path = {
    val d = Instant.ofEpochMilli(hourMs).atZone(ZoneId.of("UTC")).toLocalDate
    root.resolve(cluster).resolve(f"${d.getYear}%04d").resolve(f"${d.getMonthValue}%02d${d.getDayOfMonth}%02d")
  }

  /** Write `rows` of one cluster as one Avro container file. */
  def writeAvro(file: Path, cluster: String, rows: Seq[FactRow]): Unit = {
    val key = new Schema.Parser().parse(KeyJson)
    val value = new Schema.Parser().parse(ValueJson)
    val pair = org.apache.avro.hadoop.io.AvroKeyValue.getSchema(key, value)
    Files.createDirectories(file.getParent)
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](pair))
    w.setCodec(CodecFactory.deflateCodec(1))
    w.create(pair, file.toFile)
    def enum(s: Schema, v: String) = new GenericData.EnumSymbol(s, v)
    try rows.foreach { x =>
      val k = new GenericData.Record(key)
      k.put("user", x.user); k.put("time", x.hourMs)
      k.put("unit", enum(key.getField("unit").schema(), "HOURS"))
      k.put("cluster", cluster); k.put("excess", x.excess)
      k.put("type", enum(key.getField("type").schema(), x.taskType))
      k.put("status", enum(key.getField("status").schema(), x.status))
      val v = new GenericData.Record(value)
      v.put("started", x.started); v.put("finished", x.finished)
      v.put("elapsedMinutes", x.elapsed)
      v.put("cpuMinutes", if (x.cpu.isNaN) null else java.lang.Double.valueOf(x.cpu))
      v.put("spilledRecords", if (x.spilled < 0) null else java.lang.Long.valueOf(x.spilled))
      v.put("reduceShuffleBytes", if (x.shuffle < 0) null else java.lang.Long.valueOf(x.shuffle))
      val rec = new GenericData.Record(pair)
      rec.put("key", k); rec.put("value", v)
      w.append(rec)
    } finally w.close()
  }
}

/** The dashboard's view of the generated fact, for checking responses
  * without graft: per (cluster, user), the rows in arrival order. */
final class UsageModel {
  private val rows = mutable.HashMap.empty[(String, String), mutable.ArrayBuffer[FactRow]]
  def add(cluster: String, rs: Seq[FactRow]): Unit = synchronized {
    rs.foreach(r => rows.getOrElseUpdate((cluster, r.user), mutable.ArrayBuffer.empty) += r)
  }

  /** Query types: the measure and the filters on type, status and excess. */
  val Types: Map[String, (FactRow => Double, Option[String], Option[String], Option[Boolean])] = Map(
    "minutesTotal" -> ((r: FactRow) => r.elapsed, None, None, None),
    "minutesMap" -> ((r: FactRow) => r.elapsed, Some("MAP"), None, None),
    "minutesReduce" -> ((r: FactRow) => r.elapsed, Some("REDUCE"), None, None),
    "minutesExcessTotal" -> ((r: FactRow) => r.elapsed, None, None, Some(true)),
    "minutesFailed" -> ((r: FactRow) => r.elapsed, None, Some("FAILED"), None),
    "cpuTotal" -> ((r: FactRow) => if (r.cpu.isNaN) 0.0 else r.cpu, None, None, None),
    "reduceShuffleBytes" -> ((r: FactRow) => if (r.shuffle < 0) 0.0 else r.shuffle.toDouble,
      Some("REDUCE"), None, None),
    "totalStarted" -> ((r: FactRow) => r.started.toDouble, None, None, None),
    "successFinished" -> ((r: FactRow) => r.finished.toDouble, None, Some("SUCCESS"), None),
    "killedStarted" -> ((r: FactRow) => r.started.toDouble, None, Some("KILLED"), None))

  /** Start of the bucket holding `ms`: hours in UTC, longer units in
    * `zone`, weeks starting on Sunday. */
  def bucket(ms: Long, unit: String, zone: String): Long = {
    val z = ZonedDateTime.ofInstant(Instant.ofEpochMilli(ms), ZoneId.of(zone))
    val day = z.truncatedTo(ChronoUnit.DAYS).toLocalDate
    val start = unit match {
      case "HOURS" => return Math.floorDiv(ms, UsageGen.HourMs) * UsageGen.HourMs
      case "DAYS" => day
      case "WEEKS" => day.minusDays(day.getDayOfWeek.getValue % 7)
      case "MONTHS" => day.withDayOfMonth(1)
      case "QUARTERS" => day.withDayOfMonth(1).minusMonths((day.getMonthValue - 1) % 3)
    }
    start.atStartOfDay(ZoneId.of(zone)).toInstant.toEpochMilli
  }

  /** Expected value per tick for one user, from rows before `untilMs`. */
  def series(req: UsageRequest, user: String, untilMs: Long): Map[Long, Double] = {
    val (measure, tt, st, ex) = Types(req.queryType)
    val rs = synchronized { rows.get((req.cluster, user)).map(_.toVector).getOrElse(Vector.empty) }
    rs.iterator
      .filter(r => r.hourMs < untilMs && tt.forall(_ == r.taskType) &&
        st.forall(_ == r.status) && ex.forall(_ == r.excess))
      .toSeq.groupBy(r => bucket(r.hourMs, req.unit, req.zone))
      .view.mapValues(_.map(measure).sum).toMap
  }

  /** Differences between a response and the rows before `untilMs`. */
  def diff(req: UsageRequest, resp: UsageResponse, untilMs: Long): Seq[String] = {
    def same(a: Double, b: Double) = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))
    val bad = mutable.ArrayBuffer.empty[String]
    if (resp.cluster != req.cluster) bad += s"cluster ${resp.cluster}"
    if (resp.numAggregatedUsers != req.usersToAggregate.size) bad += s"numAggregatedUsers ${resp.numAggregatedUsers}"
    if (resp.users.map(_.user) != req.users) bad += s"users ${resp.users.map(_.user)}"
    val want = (req.users ++ req.usersToAggregate).distinct.map(u => u -> series(req, u, untilMs)).toMap
    resp.users.foreach { s =>
      s.data.zip(resp.times).foreach { case (v, t) =>
        val w = want.get(s.user).flatMap(_.get(t)).getOrElse(0.0)
        if (!same(v, w) && bad.size < 3) bad += s"${s.user}@$t: got $v want $w"
      }
    }
    resp.usersAggregated.zip(resp.times).foreach { case (v, t) =>
      val w = req.usersToAggregate.distinct.map(u => want(u).getOrElse(t, 0.0)).sum
      if (!same(v, w) && bad.size < 3) bad += s"aggregate@$t: got $v want $w"
    }
    bad.toSeq
  }
}

/** `serve_dashboard`: closed-loop dashboard clients against `UsageApi`
  * over a fact built by `FileLedger` from Avro files; every fixed
  * number of requests a new hour of Avro files lands and is ingested. */
final class ServeDashboard(ctx: Ctx) extends Workload {
  import ctx._
  val Days0 = 21
  val PoolSize = 600
  val ZipfS = 0.8
  val IngestEvery = 90
  val SampleEvery = 4
  val Clients = math.min(cores, 4)
  val WarmCycles = 1
  val MinCycles = 2
  val StagedHours = 24
  private val t0Ms = java.time.LocalDate.of(2024, 2, 1).toEpochDay * 86400000L
  private val firstNewHour = t0Ms + Days0 * 24 * UsageGen.HourMs
  private val avroRoot = work.resolve("avro")
  private val staged = work.resolve("staged")
  private val factDir = work.resolve("fact")
  private val ledgerDir = work.resolve("ledger")
  private val model = new UsageModel
  private val stagedRows = mutable.HashMap.empty[(String, Long), Seq[FactRow]]
  private var api: UsageApi = _
  private var pool: IndexedSeq[UsageRequest] = IndexedSeq.empty
  private var cdf: Array[Double] = Array.empty
  @volatile private var ingested = 0 // hours landed after the initial fact
  /** Response points (series x ticks) of each traced request. */
  private val points = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  private def untilMs: Long = firstNewHour + ingested * UsageGen.HourMs

  private def sync(): FileLedger.Diff =
    FileLedger.sync(spark, avroRoot.toString, "*/*/*/*.avro", factDir.toString,
      ledgerDir.toString, p => AvroKv.readUsageFact(spark, p))

  /** Request shapes: query type x unit x zone x user set x window. */
  private def makePool(): IndexedSeq[UsageRequest] = {
    val r = new SplittableRandom(seed * 31 + 7)
    val types = model.Types.keys.toVector.sorted
    val day = 24 * UsageGen.HourMs
    val windows = Seq(
      ("HOURS", "UTC", firstNewHour - 2 * day, firstNewHour + day),
      ("DAYS", "UTC", t0Ms, firstNewHour + 2 * day),
      ("DAYS", "America/Los_Angeles", firstNewHour - 10 * day, firstNewHour + 2 * day),
      ("DAYS", "Asia/Kolkata", t0Ms + 3 * day, firstNewHour + 2 * day),
      ("WEEKS", "America/Los_Angeles", t0Ms, firstNewHour + 2 * day))
    def user() = f"u${math.min(UsageGen.Users - 1, (math.pow(r.nextDouble(), 2) * UsageGen.Users).toInt)}%03d"
    (0 until PoolSize).map { _ =>
      val (unit, zone, s, e) = windows(r.nextInt(windows.size))
      val named = Seq.fill(1 + r.nextInt(4))(user()).distinct
      val agg = Seq.fill(r.nextInt(12))(user()).distinct.filterNot(named.contains)
      UsageRequest(UsageGen.Clusters(r.nextInt(2)), named, agg, types(r.nextInt(types.size)),
        unit, zone, s, e)
    }
  }

  def setup(): Unit = {
    val hours = (0 until Days0 * 24).map(h => t0Ms + h * UsageGen.HourMs)
    val rows = generate(avroRoot) { root =>
      // the initial window lands as one backfill container per cluster
      // in its first day's directory; later hours land one file each
      UsageGen.Clusters.map { c =>
        val rs = hours.flatMap(h => UsageGen.hourRows(seed, c, h))
        UsageGen.writeAvro(UsageGen.dayDir(root, c, t0Ms).resolve("part-r-00000.avro"), c, rs)
        c -> rs
      }
    }
    rows.foreach { case (c, rs) => model.add(c, rs) }
    log("model built")
    for (i <- 0 until StagedHours; c <- UsageGen.Clusters) {
      val h = firstNewHour + i * UsageGen.HourMs
      val rs = UsageGen.hourRows(seed, c, h)
      stagedRows((c, h)) = rs
      UsageGen.writeAvro(staged.resolve(s"$c-$i.avro"), c, rs)
    }
    val nRows = rows.map(_._2.size).sum
    report.info("input") = s"${UsageGen.Clusters.size} clusters x $Days0 days x ${UsageGen.Users} users, " +
      s"$nRows fact rows; $PoolSize request shapes, Zipf s=$ZipfS; ingest every $IngestEvery requests"
    sync()
    log("initial fact synced")
    api = new UsageApi(spark.read.parquet(factDir.toString))(spark)
    api.warm()
    log("cache warm")
    tracer.foreach(_.count("serve.cache_mb",
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0))
    pool = makePool()
    val w = (0 until PoolSize).map(k => 1.0 / math.pow(k + 1, ZipfS))
    cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    // whole untimed cycles, checked like the timed ones; the last
    // ingest event clears the memo, so timing starts with it empty
    runCycles(WarmCycles, 0L, tracing = false)
    log("requests warm")
  }

  private def ingest(i: Int, traced: Boolean): Option[Double] = report.op(s"ingest[$i]") { c =>
    val h = firstNewHour + i * UsageGen.HourMs
    UsageGen.Clusters.foreach { cl =>
      val dst = UsageGen.dayDir(avroRoot, cl, h).resolve(f"part-h${(h / UsageGen.HourMs) % 24}%02d.avro")
      Files.createDirectories(dst.getParent)
      Files.move(staged.resolve(s"$cl-$i.avro"), dst)
      model.add(cl, stagedRows((cl, h)))
    }
    val (d, ms) = timeMs {
      tracer.filter(_ => traced) match {
        case None =>
          val d = sync()
          spark.catalog.refreshByPath(factDir.toString)
          api.invalidate(); api.warm()
          d
        case Some(t) =>
          val files = UsageGen.Clusters.map(cl => UsageGen.dayDir(avroRoot, cl, h).toString)
          t.span("sources", "AvroKv.readUsageFact") {
            t.add("ingest.rows_loaded", files.map(f => AvroKv.readUsageFact(spark, s"$f/part-h*.avro")
              .filter(org.apache.spark.sql.functions.col("time") === h).count()).sum.toDouble)
          }
          val (d, syncMs) = timeMs(t.span("ingest", "FileLedger.sync")(sync()))
          t.add("ingest.sync_ms_total", syncMs)
          val (_, reMs) = timeMs(t.span("serve", "UsageApi.invalidate+warm") {
            spark.catalog.refreshByPath(factDir.toString)
            api.invalidate(); api.warm()
          })
          t.add("serve.recache_ms_total", reMs)
          t.add("ingest.files_loaded", d.toLoad.size)
          d
      }
    }
    c.check(d.toLoad.size == UsageGen.Clusters.size && d.toDrop.isEmpty,
      s"ledger diff loaded ${d.toLoad.size} and dropped ${d.toDrop.size} files")
    ingested = i + 1
    // probe: the new hour reads back as generated
    for (qt <- Seq("minutesTotal", "totalStarted")) {
      val users = stagedRows((UsageGen.Clusters.head, h)).map(_.user).distinct.take(3)
      val req = UsageRequest(UsageGen.Clusters.head, users, Nil, qt, "HOURS", "UTC", h, h)
      val resp = api.usage(req)
      c.check(resp.times == Seq(h), s"probe ticks ${resp.times}")
      val bad = model.diff(req, resp, untilMs)
      c.check(bad.isEmpty, s"probe $qt: ${bad.mkString("; ")}")
    }
    ms
  }

  /** What a series of request cycles recorded. */
  private final class Cycles {
    val lat = mutable.ArrayBuffer.empty[(Long, Double, Boolean)] // (index, ms, traced)
    val samples = mutable.ArrayBuffer.empty[(UsageRequest, UsageResponse, Long)]
    val ingestMs = mutable.ArrayBuffer.empty[Double]
    /** Requests per second of each cycle, its ingest event included. */
    val cycleRps = mutable.ArrayBuffer.empty[Double]
  }

  /** Cycles of `IngestEvery` requests from `Clients` closed-loop
    * clients, each ended by an ingest event. After `minCycles`, another
    * cycle starts only while one more like the average so far still
    * ends before `deadline`, so every run is a whole number of cycles.
    * Every `SampleEvery`-th response is checked afterwards. */
  private def runCycles(minCycles: Int, deadline: Long, tracing: Boolean): Cycles = {
    val rec = new Cycles
    import rec._
    val lock = new ReentrantReadWriteLock()
    val issued = new AtomicLong()
    @volatile var limit = IngestEvery.toLong
    @volatile var stopped = false
    val penaltyMs = seconds * 10000.0
    val start = System.nanoTime()
    var cycleStart = start
    val clients = (0 until Clients).map { k =>
      new Thread(() => {
        val r = new SplittableRandom(seed * 1000 + k + 100 * ingested)
        while (!stopped) {
          val n = issued.incrementAndGet()
          while (n > limit && !stopped) Thread.sleep(1)
          if (n <= limit) {
            val u = r.nextDouble()
            val q = pool(math.min(PoolSize - 1, java.util.Arrays.binarySearch(cdf, u) match {
              case i if i >= 0 => i
              case i => -i - 1
            }))
            val traced = tracing && n % 2 == 0
            lock.readLock().lock()
            val until = untilMs
            val t = System.nanoTime()
            val resp = try {
              report.op(s"request[$n]") { _ =>
                if (!traced) api.usage(q)
                else tracer.get.span("serve", "UsageApi.usage") {
                  val x = api.usage(q)
                  points.put(spark.sparkContext.getLocalProperty("spark.jobGroup.id"),
                    (x.users.size + 1.0) * x.times.size)
                  x
                }
              }
            } finally lock.readLock().unlock()
            val ms = (System.nanoTime() - t) / 1e6
            lat.synchronized {
              lat += ((n, if (resp.isDefined) ms else penaltyMs, traced))
              if (n % SampleEvery == 0) resp.foreach(x => samples += ((q, x, until)))
            }
            if (n == limit) {
              // the write lock waits for the cycle's requests in flight
              lock.writeLock().lock()
              try ingest(ingested, tracing).foreach(ms => ingestMs += ms)
              finally lock.writeLock().unlock()
              val now = System.nanoTime()
              cycleRps += IngestEvery / ((now - cycleStart) / 1e9)
              cycleStart = now
              val cycles = limit / IngestEvery
              val inCycle = lat.synchronized(lat.filter(_._1 > limit - IngestEvery).map(_._2).toSeq)
              log(f"cycle $cycles: request p50 ${Stats.median(inCycle)}%.0f ms")
              if (ingested < StagedHours &&
                  (cycles < minCycles || now + (now - start) / cycles <= deadline))
                limit += IngestEvery
              else stopped = true
            }
          }
        }
      }, s"dashboard-client-$k")
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    samples.foreach { case (q, resp, until) =>
      val bad = model.diff(q, resp, until)
      if (bad.nonEmpty) report.failOp(s"response to $q: ${bad.mkString("; ")}")
    }
    rec
  }

  def measure(): Unit = {
    val c = runCycles(MinCycles, System.nanoTime() + (seconds * 1e9).toLong, tracer.isDefined)
    val untraced = c.lat.filter(!_._3).map(_._2).toSeq
    val rps = Stats.median(c.cycleRps.toSeq)
    report.put("op_p50_ms", Stats.median(untraced), "ms", untraced.size)
    report.put("op_p95_ms", Stats.quantile(untraced, 0.95), "ms", untraced.size)
    report.put("work_per_s", rps, "1/s", c.cycleRps.size)
    report.info("work_unit") = "requests"
    report.put("serve_p50_ms", Stats.median(untraced), "ms", untraced.size)
    report.put("serve_p95_ms", Stats.quantile(untraced, 0.95), "ms", untraced.size)
    report.put("serve_rps", rps, "1/s", c.cycleRps.size)
    if (c.ingestMs.nonEmpty)
      report.put("serve_ingest_s", Stats.median(c.ingestMs.toSeq) / 1000.0, "s", c.ingestMs.size)
    putOverhead(c.lat.filter(_._3).map(_._2).toSeq, untraced)
    tracer.foreach(t => requestBreakdown(t, c.ingestMs.size))
  }

  /** Memo hits run no Spark job; cold requests split into Spark time
    * (any of their jobs running) and driver time (the rest). */
  private def requestBreakdown(t: Tracer, nIngest: Int): Unit = {
    t.drain()
    val reqs = t.allSpans.filter(s => s.layer == "serve" && s.name == "UsageApi.usage")
    val byReq = reqs.map(s => s -> t.jobsOf(s))
    val hits = byReq.filter(_._2.isEmpty).map(_._1.ms)
    val cold = byReq.filter(_._2.nonEmpty)
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    t.count("serve.memo_hit_ratio", hits.size.toDouble / math.max(1, reqs.size))
    t.count("serve.memo_hit_ms_p50", p50(hits))
    val spark = cold.map { case (_, js) => t.jobActiveMs(js).toDouble }
    t.count("serve.cold_spark_ms_p50", p50(spark))
    t.count("serve.cold_driver_ms_p50", p50(cold.zip(spark).map { case ((s, _), sp) => s.ms - sp }))
    t.count("serve.jobs_per_cold", p50(cold.map(_._2.size.toDouble)))
    t.count("serve.queue_ms_p50", p50(cold.map(_._2.map(_.queueMs).sum.toDouble)))
    t.count("serve.rows_examined_per_point", p50(cold.map { case (s, js) =>
      RowsExamined.of(ctx.spark, js) / math.max(1.0, points.getOrDefault(s.group, 1.0))
    }))
    val c = t.counted
    if (nIngest > 0) {
      t.count("ingest.sync_s", c.getOrElse("ingest.sync_ms_total", 0.0) / nIngest / 1000.0)
      t.count("serve.recache_s", c.getOrElse("serve.recache_ms_total", 0.0) / nIngest / 1000.0)
      t.count("ingest.files_loaded", c.getOrElse("ingest.files_loaded", 0.0) / nIngest)
      t.count("ingest.rows_loaded", c.getOrElse("ingest.rows_loaded", 0.0) / nIngest)
    }
  }

  def layered(t: Tracer): Unit = ()
}

/** Rows the cached-fact scans of a request's Spark jobs returned, from
  * the SQL metrics of their executions. */
object RowsExamined {
  def of(spark: org.apache.spark.sql.SparkSession, jobs: Seq[JobRec]): Double = {
    val store = spark.sharedState.statusStore
    jobs.flatMap(_.sqlExecutionId).distinct.map { id =>
      val values = store.executionMetrics(id)
      store.planGraph(id).allNodes
        .filter(_.name.contains("InMemoryTableScan"))
        .flatMap(_.metrics.filter(_.name == "number of output rows"))
        .flatMap(m => values.get(m.accumulatorId))
        .map(_.replaceAll("[^0-9]", "").toDoubleOption.getOrElse(0.0)).sum
    }.sum
  }
}
