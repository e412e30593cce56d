package graft

import graft.ingest.FileLedger
import graft.ingest.FileLedger.{Diff, FileState}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class MiscSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("driver contract: every oracle key has a query; names are sane") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"oracles without queries: ${os -- qs}")
    // every gate query has an exact DuckDB oracle (q25 via
    // polynomial-hash hyperplanes, q33 via the pinned centroid table)
    assert((qs -- os).isEmpty, s"queries without oracle: ${qs -- os}")
    assert(qs.forall(_.matches("q\\d{2,3}_[a-z][a-z0-9_]*"))) // q90_mp4_frames, q100_stream_embed_neardup
  }

  test("driver contract: entry() returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("sampleFrames: fixed frames, stride, truncated tail dropped") {
    import graft.operators.Multimodal
    implicit val s: SparkSession = spark
    import spark.implicits._
    val bytes = Array.tabulate[Byte](40)(_.toByte) // 2 full 16-byte frames
    val media = Seq((7L, bytes)).toDF("doc_id", "media")
    val got = Multimodal.sampleFrames(media, frameBytes = 16, stride = 1)
      .collect().sortBy(_.frame_idx)
    assert(got.length == 2) // 8-byte tail dropped
    assert(got.map(_.byte_off).toSeq == Seq(0L, 16L))
    assert(got(1).frame_hash ==
      Multimodal.byteFoldHash(bytes.slice(16, 32)))
    val strided = Multimodal.sampleFrames(media, frameBytes = 8, stride = 3)
      .collect().map(_.frame_idx).sorted
    assert(strided.toSeq == Seq(0L, 3L)) // frames 0..4, every 3rd
  }

  test("GraftSession.create registers functions on a tuned session") {
    val s = graft.GraftSession.create("misc-test")
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(s.sql("SELECT poly_hash('ab')").head().getLong(0) == 97L * 31 + 98)
  }

  test("GraftSession.coresOf: unset and * are every core, a positive integer as given, else an error") {
    val all = Runtime.getRuntime.availableProcessors
    assert(GraftSession.coresOf(None, all) == all)
    assert(GraftSession.coresOf(None, 32) == 32)
    assert(GraftSession.coresOf(Some("*"), 32) == all)
    assert(GraftSession.coresOf(Some("8"), 32) == 8)
    assert(GraftSession.coresOf(Some(" 8 "), 32) == 8)
    for (bad <- Seq("0", "-1", "x", "", "8x")) {
      val e = intercept[IllegalArgumentException](GraftSession.coresOf(Some(bad), 32))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
    }
  }

  test("every main-code session is built through GraftSession") {
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val walk = java.nio.file.Files.walk(root)
    val builders = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "GraftSession.scala")
      .filter(p => java.nio.file.Files.readString(p).contains("SparkSession.builder("))
      .toList finally walk.close()
    assert(builders.isEmpty, s"SparkSession.builder( outside GraftSession: $builders")
  }

  test("every strategy dispatch goes through Parallelism.pickStrategy") {
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val dispatch = "\\b(strategy|annMode|dedupMode)\\s+match\\b".r
    val walk = java.nio.file.Files.walk(root)
    val sites = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Parallelism.scala")
      .filter(p => dispatch.findFirstIn(java.nio.file.Files.readString(p)).isDefined)
      .toList finally walk.close()
    assert(sites.isEmpty, s"strategy match outside the picker: $sites")
  }

  test("ledger diff: added / changed-mtime / removed (T2/T3)") {
    val ledger = Seq(FileState("a", 1L), FileState("b", 1L), FileState("c", 1L))
    val current = Seq(FileState("a", 1L), FileState("b", 2L), FileState("d", 1L))
    val d = FileLedger.diff(current, ledger)
    assert(d.added == Seq("d"))
    assert(d.changed == Seq("b"))
    assert(d.removed == Seq("c"))
    assert(d.toDrop.toSet == Set("b", "c"))
    assert(d.toLoad.toSet == Set("b", "d"))
    // same mtime but different length: a rewrite within one mtime tick
    // is still caught by the size half of the check
    val d2 = FileLedger.diff(
      Seq(FileState("a", 1L, 10L)), Seq(FileState("a", 1L, 7L)))
    assert(d2.changed == Seq("a") && d2.added.isEmpty && d2.removed.isEmpty)
  }

  test("ledger reconcile: cascade-drop + reload keeps fact consistent (T4)") {
    val fact = Seq(
      ("a", 1L, 10.0), ("b", 2L, 20.0), ("b", 3L, 30.0), ("c", 4L, 40.0))
      .toDF("fileName", "k", "v")
    val d = Diff(added = Seq("d"), changed = Seq("b"), removed = Seq("c"))
    def load(path: String) =
      Seq((path, 99L, 9.0)).toDF("fileName", "k", "v")
    val out = FileLedger.reconcile(fact, d, load)
      .select("fileName", "k").as[(String, Long)].collect().toSet
    // old b rows gone, c purged, new b + d present, a untouched
    assert(out == Set(("a", 1L), ("b", 99L), ("d", 99L)))
  }

  test("ledger sync: out-of-window mtime change reloads exactly that file") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("ledger_sync").toString
    val in = s"$root/in"; Files.createDirectories(Paths.get(in))
    val factDir = s"$root/fact"; val ledgerDir = s"$root/ledger"
    def writeInput(name: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(in, name),
        lines.mkString("\n").getBytes("UTF-8"))
    def load(path: String) = spark.read.textFile(path).toDF("line")
      .withColumn("fileName", lit(path))
    def factRows() = spark.read.parquet(factDir)
      .select("fileName", "line").as[(String, String)].collect().toSet
    def freshFull() = FileLedger.listFiles(spark, in, "*.log")
      .map(f => load(f.path)).reduce(_ unionByName _)
      .select("fileName", "line").as[(String, String)].collect().toSet

    writeInput("a.log", Seq("a1", "a2"))
    writeInput("b.log", Seq("b1"))
    val d1 = FileLedger.sync(spark, in, "*.log", factDir, ledgerDir, load)
    assert(d1.added.size == 2 && d1.changed.isEmpty && d1.removed.isEmpty)
    assert(factRows() == freshFull())

    // a no-op pass loads nothing
    val d2 = FileLedger.sync(spark, in, "*.log", factDir, ledgerDir, load)
    assert(d2.toLoad.isEmpty && d2.toDrop.isEmpty)

    // modify an ALREADY-INGESTED file (mtime bumped well past any
    // forced reprocess window): next sync drops its old rows and
    // reloads — row set equals a fresh full load, no dupes, no stale
    writeInput("a.log", Seq("a1-v2", "a3-v2"))
    Paths.get(in, "a.log").toFile.setLastModified(
      System.currentTimeMillis() + 60000)
    val d3 = FileLedger.sync(spark, in, "*.log", factDir, ledgerDir, load)
    assert(d3.changed.map(p => p.substring(p.lastIndexOf('/') + 1)) == Seq("a.log"))
    assert(d3.added.isEmpty && d3.removed.isEmpty)
    assert(factRows() == freshFull())
    assert(factRows().map(_._2) == Set("a1-v2", "a3-v2", "b1"))

    // vanished file purges its rows (cascade delete)
    Files.delete(Paths.get(in, "a.log"))
    FileLedger.sync(spark, in, "*.log", factDir, ledgerDir, load)
    assert(factRows().map(_._2) == Set("b1"))
  }

  test("ledger syncAll: batched backfill — one scan, O(1) plan branches") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("ledger_syncall").toString
    val in = s"$root/in"; Files.createDirectories(Paths.get(in))
    val factDir = s"$root/fact"; val ledgerDir = s"$root/ledger"
    val n = 200
    def name(i: Int) = f"f$i%03d.log"
    (0 until n).foreach { i =>
      Files.write(Paths.get(in, name(i)), s"row-$i".getBytes("UTF-8"))
    }
    // production shape: ONE multi-path read for the whole batch;
    // attribution via input_file_name() inside attachFileId
    def loadAll(paths: Seq[String]) =
      spark.read.textFile(paths: _*).toDF("line")
    val d1 = FileLedger.syncAll(spark, in, "*.log", factDir, ledgerDir, loadAll)
    assert(d1.added.size == n && d1.changed.isEmpty && d1.removed.isEmpty)
    val fact = spark.read.parquet(factDir)
    assert(fact.count() == n)
    // every row landed in its own file's partition
    assert(fact.select("file_id").distinct().count() == n)
    val f7 = fact.filter(col("line") === "row-7")
      .select("file_id").as[String].head()
    assert(f7.startsWith("f007.log_"), f7)
    // the 200-file reload planned ZERO union branches: one scan plus
    // one literal-map projection (the round-6 scale seam, closed)
    val paths = FileLedger.listFiles(spark, in, "*.log").map(_.path)
    val attached = FileLedger.attachFileId(loadAll(paths), paths)
    assert(!attached.queryExecution.analyzed.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Union]))
    // mtime-changed file reloads through the same batched path
    Files.write(Paths.get(in, name(3)), "row-3-v2".getBytes("UTF-8"))
    Paths.get(in, name(3)).toFile.setLastModified(
      System.currentTimeMillis() + 60000)
    val d2 = FileLedger.syncAll(spark, in, "*.log", factDir, ledgerDir, loadAll)
    assert(d2.changed.map(p => p.substring(p.lastIndexOf('/') + 1)) == Seq(name(3)))
    val lines = spark.read.parquet(factDir).select("line").as[String]
      .collect().toSet
    assert(lines.contains("row-3-v2") && !lines.contains("row-3") &&
      lines.size == n)
  }

  test("ledger listFilesDs: distributed listing equals driver glob, incl. dir globs") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("ledger_listds").toString
    Files.createDirectories(Paths.get(s"$root/day=1"))
    Files.createDirectories(Paths.get(s"$root/day=2"))
    Files.write(Paths.get(root, "top.log"), "t".getBytes)
    Files.write(Paths.get(s"$root/day=1", "a.log"), "a".getBytes)
    Files.write(Paths.get(s"$root/day=1", "skip.txt"), "x".getBytes)
    Files.write(Paths.get(s"$root/day=2", "b.log"), "bb".getBytes)
    def paths(fs: Seq[FileState]) = fs.map(_.path).sorted
    // flat glob over one dir
    assert(paths(FileLedger.listFilesDs(spark, root, "*.log").collect().toSeq)
      == paths(FileLedger.listFiles(spark, root, "*.log")))
    // dir-component glob fans the listing out per matched directory
    assert(paths(FileLedger.listFilesDs(spark, root, "day=*/*.log").collect().toSeq)
      == paths(FileLedger.listFiles(spark, root, "day=*/*.log")))
    // mtime+size agree with the driver listing
    val ds = FileLedger.listFilesDs(spark, root, "day=*/*.log")
      .collect().sortBy(_.path).toSeq
    assert(ds == FileLedger.listFiles(spark, root, "day=*/*.log").sortBy(_.path))
  }

  test("ledger diffDs: 100k-file diff holds only O(changed) on the driver") {
    // both sides built cluster-side (spark.range) — the driver never
    // holds a 100k element listing; only the join's surviving diff
    // rows are collected
    val n = 100000L
    def states(range: org.apache.spark.sql.DataFrame) = range
      .select(concat(lit("/lake/f"), col("id")).as("path"),
        col("mtime"), col("size")).as[FileState]
    val ledger = states(spark.range(n).toDF("id")
      .withColumn("mtime", lit(1L)).withColumn("size", lit(10L)))
    // current: drop ids 0-2 (removed), bump mtime of 10-12 (changed),
    // add n..n+1 (added)
    val current = states(spark.range(3, n + 2).toDF("id")
      .withColumn("mtime", when(col("id").between(10, 12), 2L).otherwise(1L))
      .withColumn("size", lit(10L)))
    val d = FileLedger.diffDs(current, ledger)
      .as[(String, String)].collect().groupBy(_._2)
      .view.mapValues(_.map(_._1).toSet).toMap
    assert(d("removed") == Set("/lake/f0", "/lake/f1", "/lake/f2"))
    assert(d("changed") == Set("/lake/f10", "/lake/f11", "/lake/f12"))
    assert(d("added") == Set(s"/lake/f$n", s"/lake/f${n + 1}"))
    assert(d.values.map(_.size).sum == 8) // nothing else surfaced
  }

  test("attachFileId: uri-encoded input_file_name (space in path) still attributes; unknown path fails loudly") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("ledger_enc").toString
    val in = s"$root/in dir"; Files.createDirectories(Paths.get(in))
    Files.write(Paths.get(in, "a b.log"), "hello".getBytes("UTF-8"))
    val paths = FileLedger.listFiles(spark, in, "*.log").map(_.path)
    assert(paths.size == 1 && paths.head.contains("a b.log"))
    // input_file_name() reports file:///...%20... — the encoded-form
    // map entry must catch it (a silent null here corrupts the ledger)
    val attached = FileLedger.attachFileId(
      spark.read.textFile(paths: _*).toDF("line"), paths)
    val ids = attached.select("file_id").as[String].collect()
    assert(ids.length == 1 && ids.head.startsWith("a_b.log_"), ids.toSeq)
    // a row from a path NOT in the load set must raise, not null out
    val boom = intercept[Exception] {
      FileLedger.attachFileId(
        spark.read.textFile(paths: _*).toDF("line"),
        Seq("/somewhere/else.log")).collect()
    }
    assert(boom.getMessage != null)
  }

  test("events reader: unit sniff handles nanos AND micros encodings") {
    // The driver has regenerated events.parquet with different physical
    // timestamp units across rounds (nanos ≤ r7, micros at r8). The
    // reader takes raw int64 and magnitude-sniffs the unit; both
    // encodings of the same instant must decode identically.
    val instMs = 1704067200123L // 2024-01-01T00:00:00.123Z
    val dir = java.nio.file.Files.createTempDirectory("evsniff")
    def write(sub: String, raw: Long): String = {
      val p = s"$dir/$sub/events.parquet"
      spark.range(1).select(
        col("id").as("event_id"), lit(raw).as("ts"),
        lit(7L).as("user_id"), lit("click").as("event_type"),
        lit(1.0).as("value"), lit("{}").as("props"))
        .write.mode("overwrite").parquet(p)
      s"$dir/$sub"
    }
    val nanosDir = write("ns", instMs * 1000000L)
    val microsDir = write("us", instMs * 1000L)
    val msOf = (d: String) =>
      Tables.events(spark, d).select("tsMs").as[Long].head()
    assert(msOf(nanosDir) == instMs)
    assert(msOf(microsDir) == instMs)
  }

  test("sessionize: window-function and native session_window agree") {
    // boundary semantics differ only at EXACTLY-gap spacing (ours: same
    // session at ==gap; session_window: new) — absent in ms-random data
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val a = graft.operators.Sessionize
      .byWindowFunctions(ev, "user_id", "tsMs", "event_id", 1800000L)
      .groupBy("user_id", "sess_idx")
      .agg(count(lit(1)).as("n"), min("tsMs").as("start_ms"))
      .select("user_id", "start_ms", "n")
      .as[(Long, Long, Long)].collect().toSet
    val b = graft.operators.Sessionize
      .bySessionWindow(ev, "user_id", "ts", "30 minutes", Seq.empty)
      .select("user_id", "start_ms", "n_events")
      .as[(Long, Long, Long)].collect().toSet
    assert(a == b)
  }

  test("ticks across a DST spring-forward week (America/Los_Angeles)") {
    // 2024-03-10 02:00 PST does not exist; week/day ticks must still be
    // local-midnight instants
    val zone = "America/Los_Angeles"
    val feb25 = 1708819200000L // 2024-02-25 00:00 UTC (a Sunday)
    val end = feb25 + 35L * 86400000L
    val ticks = graft.serve.TimeBuckets.ticks(
      "DAYS", zone, feb25, end, feb25, end)
    val tz = java.time.ZoneId.of(zone)
    ticks.foreach { ms =>
      val zdt = java.time.Instant.ofEpochMilli(ms).atZone(tz)
      assert(zdt.toLocalTime == java.time.LocalTime.MIDNIGHT,
        s"tick $ms is ${zdt}")
    }
    // consecutive ticks differ by 23/24/25h around the transition, and
    // exactly one 23h gap exists (spring forward)
    val gaps = ticks.sliding(2).map { case Seq(a, b) => b - a }.toSeq
    assert(gaps.count(_ == 23L * 3600000L) == 1)
    assert(gaps.forall(g => g == 23L * 3600000L || g == 24L * 3600000L))
  }
}
