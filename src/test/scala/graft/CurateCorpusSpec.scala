package graft

import graft.app.CurateCorpus
import graft.app.CurateCorpus.StageCounts
import graft.operators.{Corpus, Dedup}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CurateCorpusSpec extends AnyFunSuite {

  lazy implicit val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  /** The curation chain as separate operator calls — each stage joined
    * back on doc_id, cached and counted — the shape `run` had before
    * its stage counts became observations: exactDupGroups,
    * minHashLshPairs / lshDupGroups / jaccardEdgesAuto + CC,
    * contaminationCheckBloom, hashStratifiedSample, shuffleRank and
    * chunkDocuments. Returns the stage counts and the chunk rows
    * (doc_id, chunk_idx, chunk_text, train_rank). */
  private def reference(docs: DataFrame, probes: DataFrame, dedupMode: String,
      sampleKeepOf: Map[String, Long], sampleDefaultKeep: Long,
      sampleMod: Long, chunkTokens: Int, chunkStride: Int): (StageCounts, Seq[Row]) = {
    val pinned = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def stage(df: DataFrame): (DataFrame, Long) = {
      val c = df.cache(); pinned += c; (c, c.count())
    }
    try {
      val input = docs.count()
      val (quality, nQuality) = stage(docs.join(Corpus.qualityFilter(docs)
        .filter(col("keep")).select("doc_id"), "doc_id"))
      val (exact, nExact) = stage(quality.join(Dedup.exactDupGroups(quality)
        .filter(col("doc_id") === col("canonical_id")).select("doc_id"), "doc_id"))
      val route = dedupMode match {
        case "auto" =>
          if (Dedup.lshPairBound(exact, pinned += _) > math.max(256L * nExact, 1000000L))
            "groups" else "pairs"
        case m => m
      }
      val (near, nNear) = stage(route match {
        case "pairs" => exact.join(Dedup.minHashLshPairs(exact, 0.6, pinned += _)
          .select(col("doc_b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
        case "groups" => exact.join(Dedup.lshDupGroups(exact, 0.6, pinned += _)
          .filter(col("doc_id") === col("canonical_id")).select("doc_id"), "doc_id")
        case "jaccard" =>
          val comp = Dedup.connectedComponents(Dedup.jaccardEdgesAuto(exact,
            Seq("lang", "source"), n = 3, threshold = 0.6, pin = pinned += _),
            "doc_a", "doc_b")
          exact.join(exact.select("doc_id")
            .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
            .filter(col("component").isNull || col("doc_id") === col("component"))
            .select("doc_id"), "doc_id")
      })
      val contaminated = Corpus.contaminationCheckBloom(near, probes, n = 5,
        minMatches = 1, pin = pinned += _).filter(col("contaminated")).select("doc_id")
      val (clean, nClean) = stage(near.join(contaminated, Seq("doc_id"), "left_anti"))
      val (sampled, nSampled) = stage(clean.join(Corpus.hashStratifiedSample(clean,
        "lang", sampleKeepOf, sampleDefaultKeep, sampleMod).select("doc_id"), "doc_id"))
      val order = Corpus.shuffleRank(sampled, seed = 42L)
        .select(col("doc_id"), col("rank").as("train_rank"))
      val chunks = Corpus.chunkDocuments(sampled, chunkTokens, chunkStride)
        .join(order, "doc_id")
        .select("doc_id", "chunk_idx", "chunk_text", "train_rank").collect().toSeq
      (StageCounts(input, nQuality, nExact, nNear, nClean, nSampled, chunks.size), chunks)
    } finally pinned.foreach(_.unpersist())
  }

  private def familyDocs: DataFrame = {
    // 1200 near-identical family docs (one LSH bucket per band, so the
    // candidate pair bound ≈ 4·C(1200,2) trips auto's groups route)
    // plus 50 docs of a second template, which near dedup collapses too
    val base = "the curious engineer walked across a long bridge and " +
      "noted every single data value detail about water flowing near town copy"
    ((1L to 1200L).map(i => (i, "en", "web", s"$base num$i")) ++
      (10001L to 10050L).map(i => (i, "de", "web",
        s"meanwhile a separate report number $i from the archive covers " +
          s"data value topics with plenty of varied wording on subject ${i * 7}")))
      .toDF("doc_id", "lang", "source", "text")
  }

  private case class Fixture(docs: () => DataFrame, probes: DataFrame => DataFrame,
      keepOf: Map[String, Long], defaultKeep: Long, mod: Long,
      chunkTokens: Int, chunkStride: Int)

  private val fixtures = Seq(
    "sf0.001" -> Fixture(() => Tables.documents(spark, "/root/testdata/sf0.001"),
      _.filter(col("doc_id") < 3), Map("en" -> 10L), 16L, 20L, 32, 24),
    "1200-member family" -> Fixture(() => familyDocs,
      _.filter(col("doc_id") === 10007L), Map.empty, 20L, 20L, 64, 48))

  /** `run` on `docs`/`probes` returns the reference's stage counts and
    * writes its chunk rows, with no cache left behind. */
  private def assertMatchesReference(docs: DataFrame, probes: DataFrame,
      f: Fixture, mode: String): Unit = {
    spark.sharedState.cacheManager.clearCache()
    val out = java.nio.file.Files.createTempDirectory("curate_ref").toString
    val got = CurateCorpus.run(docs, probes, out, sampleKeepOf = f.keepOf,
      sampleDefaultKeep = f.defaultKeep, sampleMod = f.mod,
      chunkTokens = f.chunkTokens, chunkStride = f.chunkStride, dedupMode = mode)
    assert(spark.sharedState.cacheManager.isEmpty, "run left cached data behind")
    val (want, wantRows) = reference(docs, probes, mode, f.keepOf, f.defaultKeep,
      f.mod, f.chunkTokens, f.chunkStride)
    assert(got == want)
    val gotRows = spark.read.parquet(out)
      .select("doc_id", "chunk_idx", "chunk_text", "train_rank").collect().toSeq
    def key(r: Row) = (r.getLong(0), r.getLong(1))
    assert(gotRows.sortBy(key) == wantRows.sortBy(key))
    assert(want.decontaminated < want.nearDedup) // the probe doc is dropped
  }

  for ((name, f) <- fixtures; mode <- Seq("auto", "pairs", "groups", "jaccard"))
    test(s"run equals the stage-by-stage reference and leaves no cache: $name, $mode") {
      val docs = f.docs()
      assertMatchesReference(docs, f.probes(docs), f, mode)
    }

  test("run equals the reference past the driver's probe-gram bound (> 10⁶ grams)") {
    // 1100 generated probes of 1000 distinct tokens each (~1.1×10⁶
    // distinct 5-grams) beside the planted probe doc: decontamination
    // leaves the in-row match for the bloom + confirm join, and the
    // near-dup count observed beneath that join must still be exact
    val f = fixtures.toMap.apply("1200-member family")
    val docs = f.docs()
    val filler = spark.range(1100).select(concat_ws(" ",
      transform(sequence(lit(1), lit(1000)), i => concat(lit("zq"),
        col("id").cast("string"), lit("x"), i.cast("string")))).as("text"))
    val probes = f.probes(docs).select("text").union(filler)
    assert(probes.select(explode(
      graft.functions.HashExpressions.tokenNGramHashes(col("text"), 5)))
      .count() > 1000000L)
    assertMatchesReference(docs, probes, f, "auto")
    // the bloom filter is sized for the probe set's distinct grams, so
    // it keeps its false-positive rate; the flagged ids are the exact
    // gram-join's
    val grams = (c: org.apache.spark.sql.Column) =>
      graft.functions.HashExpressions.tokenNGramHashes(c, 5)
    val bf = Corpus.probeBloom(Corpus.probeGramTable(probes, grams), 0.01)
    assert(bf.exists(_.expectedFpp() <= 0.02), bf.map(_.expectedFpp()))
    val flagged = Corpus.contaminationCheckBloom(docs, probes, n = 5, minMatches = 1)
      .filter(col("contaminated")).select("doc_id").as[Long].collect().toSet
    val exactIds = docs.select(col("doc_id"), explode(grams(col("text"))).as("g"))
      .join(Corpus.probeGramTable(probes, grams), "g")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(flagged.nonEmpty && flagged == exactIds)
  }

  /** Spark jobs of one `run` after a warm-up run, with its stage counts. */
  private def warmJobs(docs: DataFrame, probes: DataFrame,
      run: String => StageCounts): (StageCounts, Int) = {
    val group = "curate-corpus-spec-jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some("marker") => marker.countDown()
          case _ => ()
        }
    }
    def runOnce(): StageCounts =
      run(java.nio.file.Files.createTempDirectory("curate_jobs").toString)
    val warm = runOnce()
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "counted run")
      val counted = try runOnce() finally spark.sparkContext.clearJobGroup()
      // the listener bus is FIFO: once the marker job's start arrives,
      // every job of the counted run has been seen
      spark.sparkContext.setJobGroup("marker", "listener barrier")
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(counted == warm)
      (counted, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a warm run of the groups route takes at most 25 Spark jobs") {
    val docs = familyDocs
    val probes = docs.filter(col("doc_id") === 10007L)
    val (_, jobs) = warmJobs(docs, probes, CurateCorpus.run(docs, probes, _))
    assert(jobs <= 25, s"$jobs Spark jobs for one run")
  }

  test("auto's route bound shares the pairs route's bucket statistics: no more jobs than forced pairs") {
    val f = fixtures.toMap.apply("sf0.001")
    val docs = f.docs()
    val probes = f.probes(docs)
    def jobsOf(mode: String) = warmJobs(docs, probes,
      CurateCorpus.run(docs, probes, _, dedupMode = mode))
    val (autoCounts, autoJobs) = jobsOf("auto")
    val (pairsCounts, pairsJobs) = jobsOf("pairs")
    assert(autoCounts == pairsCounts) // sf0.001 is below auto's budget
    assert(autoJobs <= pairsJobs, s"auto $autoJobs jobs, pairs $pairsJobs")
  }

  test("full curation chain on the sf0.001 corpus: monotone stages, chunked output") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val probes = docs.filter(col("doc_id") < 3) // stand-in benchmark
    val out = java.nio.file.Files.createTempDirectory("curate_out").toString

    val c = CurateCorpus.run(docs, probes, out,
      sampleKeepOf = Map("en" -> 10L), sampleDefaultKeep = 16L,
      sampleMod = 20L, chunkTokens = 32, chunkStride = 24)

    // every doc-level stage can only shrink the set
    assert(c.input == 500)
    assert(c.quality <= c.input && c.quality > 0)
    assert(c.exactDedup <= c.quality)
    assert(c.nearDedup <= c.exactDedup)
    assert(c.decontaminated <= c.nearDedup)
    // the probe docs themselves overlap themselves → dropped (those
    // that survived to stage 4)
    assert(c.decontaminated < c.nearDedup)
    assert(c.sampled <= c.decontaminated && c.sampled > 0)
    assert(c.chunks >= c.sampled) // every surviving doc yields ≥1 chunk

    // output is lang-partitioned parquet; chunk sizes respect the cap
    val chunks = spark.read.parquet(out)
    assert(chunks.columns.toSet ==
      Set("doc_id", "chunk_idx", "chunk_text", "n_tokens", "lang", "train_rank"))
    // the training order is a bijection over surviving docs
    assert(chunks.select("doc_id", "train_rank").distinct().count() ==
      chunks.select("doc_id").distinct().count())
    assert(chunks.agg(max("n_tokens")).head().getLong(0) <= 32)
    assert(chunks.select("lang").distinct().count() >= 2)

    // reproducibility: the same inputs give the same survivor set
    val out2 = java.nio.file.Files.createTempDirectory("curate_out2").toString
    val c2 = CurateCorpus.run(docs, probes, out2,
      sampleKeepOf = Map("en" -> 10L), sampleDefaultKeep = 16L,
      sampleMod = 20L, chunkTokens = 32, chunkStride = 24)
    assert(c == c2)
  }

  test("fastGrams: xxhash64 decontamination gives the identical survivor set") {
    // parity at fixture scale — the 64-bit kernel's phantom-match risk
    // is ~2⁻⁶⁴ per gram pair, so on any fixture the stage counts must
    // be bit-identical to the oracle-exact polyhash path
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val probes = docs.filter(col("doc_id") < 3)
    val outS = java.nio.file.Files.createTempDirectory("curate_slow").toString
    val outF = java.nio.file.Files.createTempDirectory("curate_fast").toString
    val slow = CurateCorpus.run(docs, probes, outS,
      sampleKeepOf = Map("en" -> 10L), sampleDefaultKeep = 16L,
      sampleMod = 20L, chunkTokens = 32, chunkStride = 24)
    val fast = CurateCorpus.run(docs, probes, outF,
      sampleKeepOf = Map("en" -> 10L), sampleDefaultKeep = 16L,
      sampleMod = 20L, chunkTokens = 32, chunkStride = 24,
      fastGrams = true)
    assert(slow == fast)
    val a = spark.read.parquet(outS).select("doc_id", "chunk_idx", "chunk_text")
    val b = spark.read.parquet(outF).select("doc_id", "chunk_idx", "chunk_text")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("governance knobs: LM floor and per-source cap only shrink stages") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val probes = docs.filter(col("doc_id") < 0) // empty probe set
    val outA = java.nio.file.Files.createTempDirectory("curate_gA").toString
    val base = CurateCorpus.run(docs, probes, outA)
    val outB = java.nio.file.Files.createTempDirectory("curate_gB").toString
    val gated = CurateCorpus.run(docs, probes, outB,
      minLmScore = Some(1L), maxDocsPerSource = Some(3))
    assert(gated.quality <= base.quality)
    assert(gated.sampled <= base.sampled)
    // the cap binds per source: no source exceeds 3 docs in the output
    val perSource = spark.read.parquet(outB)
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source").agg(countDistinct("doc_id").as("n"))
    assert(perSource.agg(max("n")).head().getLong(0) <= 3)
  }

  test("dedupMode auto routes a quadratic duplicate family to the linear groups form") {
    // 1200 near-identical family docs (distinct texts → survive exact
    // dedup; near-identical shingle sets → one giant LSH bucket per
    // band) + 50 unique docs: candidate pair bound ≈ 4·C(1200,2) ≈
    // 2.9M, past auto's 10⁶ floor — enumerating those pairs is exactly
    // the quadratic-output regime the groups routing exists for
    val base = "the curious engineer walked across a long bridge and " +
      "noted every single data value detail about water flowing near town copy"
    val docs = ((1L to 1200L).map(i => (i, "en", s"$base num$i")) ++
      (10001L to 10050L).map(i => (i, "de",
        s"meanwhile a separate report number $i from the archive covers " +
          s"data value topics with plenty of varied wording on subject ${i * 7}")))
      .toDF("doc_id", "lang", "text")
    val probes = docs.filter(col("doc_id") < 0) // empty probe set
    // the routing statistic actually trips (auto ≡ groups is not
    // vacuous here — a pairs run would enumerate millions of rows)
    assert(graft.operators.Dedup.lshPairBound(docs) > 1000000L)
    spark.sharedState.cacheManager.clearCache()
    val outA = java.nio.file.Files.createTempDirectory("curate_auto").toString
    val outG = java.nio.file.Files.createTempDirectory("curate_grp").toString
    val auto = CurateCorpus.run(docs, probes, outA)
    val grp = CurateCorpus.run(docs, probes, outG, dedupMode = "groups")
    assert(auto == grp) // auto picked groups and matched it exactly
    // the family collapsed: survivors are ~the 50 uniques + canonicals
    assert(auto.nearDedup < auto.exactDedup / 5)
    assert(auto.nearDedup >= 1)
  }

  test("dedupMode jaccard: the edge family routes the quadratic block to star edges") {
    // same quadratic-family corpus shape as the auto test, but driven
    // through the exact blocked-jaccard EDGE surface: all 1200 family
    // docs share (lang, source) blocks, so the coarse-block candidate
    // bound (~1200² ≈ 1.4M) trips jaccardEdgesAuto's 10⁶ floor and the
    // refusal becomes a ROUTE (banded star edges), not an exception —
    // survivors still collapse the family to its min-id member
    val base = "the curious engineer walked across a long bridge and " +
      "noted every single data value detail about water flowing near town copy"
    val docs = ((1L to 1200L).map(i => (i, "en", "web", s"$base num$i")) ++
      (10001L to 10050L).map(i => (i, "de", "web",
        s"meanwhile a separate report number $i from the archive covers " +
          s"data value topics with plenty of varied wording on subject ${i * 7}")))
      .toDF("doc_id", "lang", "source", "text")
    val probes = docs.filter(col("doc_id") < 0)
    spark.sharedState.cacheManager.clearCache()
    val outJ = java.nio.file.Files.createTempDirectory("curate_jac").toString
    val jac = CurateCorpus.run(docs, probes, outJ, dedupMode = "jaccard")
    // the family collapsed through the routed star-edge path
    assert(jac.nearDedup < jac.exactDedup / 5)
    assert(jac.nearDedup >= 1)
    // below the budget the SAME surface returns the exact pair list's
    // edges — parity with ngramJaccardPairs on a small mutual family
    spark.sharedState.cacheManager.clearCache()
    val small = docs.filter(col("doc_id") <= 40 || col("doc_id") > 10000L)
    val exact = graft.operators.Dedup
      .ngramJaccardPairs(small, Seq("lang", "source"), 3, 0.6)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val routed = graft.operators.Dedup
      .jaccardEdgesAuto(small, Seq("lang", "source"), 3, 0.6)
      .as[(Long, Long)].collect().toSet
    assert(routed == exact && exact.nonEmpty)
  }
}
