package graft

import graft.operators.{Corpus, Dedup}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CurationOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  // ---------------------------------------------------------------- //
  //  Semantic dedup (SemDeDup)                                        //
  // ---------------------------------------------------------------- //

  /** Two hand centroids on the axes; two near-identical pairs, one per
    * cluster — assignment and pair pruning are exactly predictable. */
  private def semFixture = {
    val centroids = Seq(0 -> Seq(1.0, 0.0), 1 -> Seq(0.0, 1.0))
    val vecs = Seq(
      (0L, Array(1.0f, 0.01f)),  // cell 0, min id → keeper
      (1L, Array(1.0f, 0.011f)), // cell 0, ~parallel to 0 → dup
      (2L, Array(0.01f, 1.0f)),  // cell 1, min id → keeper
      (3L, Array(-0.01f, 1.0f)), // cell 1, cos≈0.9998 vs 2 → dup
      (4L, Array(0.7f, -0.7f))   // cell 0 but ~orthogonal to 0/1 → keeper
    ).toDF("vec_id", "embedding")
    (vecs, centroids)
  }

  test("semanticDedup: within-cell pruning with min-id-wins keep rule") {
    val (vecs, centroids) = semFixture
    val pinned = scala.collection.mutable.ListBuffer.empty[org.apache.spark.sql.DataFrame]
    val out = Dedup.semanticDedup(vecs, centroids, tau = 0.9, pin = pinned += _)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getBoolean(4))).toMap
    assert(out.size == 5)
    assert(out(0L) == ((0, 0L, false))) // cell-min id is never a dup
    assert(out(1L) == ((0, 1L, true)))
    assert(out(2L) == ((1, 0L, false)))
    assert(out(3L) == ((1, 1L, true)))
    assert(out(4L) == ((0, 0L, false))) // same cell, below tau
    pinned.foreach(_.unpersist()) // scoped buildIvfIndex pin — no global clear
  }

  test("semanticDedup: raising tau never increases the dup count") {
    val (vecs, centroids) = semFixture
    val dups = Seq(0.5, 0.9, 0.9999).map { tau =>
      val pinned = scala.collection.mutable.ListBuffer.empty[org.apache.spark.sql.DataFrame]
      val n = Dedup.semanticDedup(vecs, centroids, tau, pin = pinned += _)
        .filter(col("is_dup")).count()
      pinned.foreach(_.unpersist())
      n
    }
    assert(dups == dups.sorted.reverse, s"dup counts not monotone: $dups")
  }

  test("semanticDedup: pin scopes the index cache — repeated runs leave no residue") {
    val (vecs, centroids) = semFixture
    val cm = spark.sharedState.cacheManager
    def isCached(df: org.apache.spark.sql.DataFrame): Boolean =
      cm.lookupCachedData(
        df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined
    // an unrelated pinned cache must SURVIVE the operator's lifecycle
    val bystander = vecs.select(col("vec_id")).cache()
    bystander.count()
    (1 to 2).foreach { _ =>
      val pinned = scala.collection.mutable.ListBuffer.empty[org.apache.spark.sql.DataFrame]
      Dedup.semanticDedup(vecs, centroids, tau = 0.9, pin = pinned += _).count()
      assert(pinned.nonEmpty, "operator must hand its cache to pin")
      assert(pinned.forall(isCached))
      pinned.foreach(_.unpersist())
      assert(!pinned.exists(isCached),
        "pinned cache must be gone after the caller's unpersist")
    }
    assert(isCached(bystander), "scoped unpersist must not evict unrelated caches")
    bystander.unpersist()
  }

  // ---------------------------------------------------------------- //
  //  Bloom-prefiltered decontamination                                //
  // ---------------------------------------------------------------- //

  test("contaminationCheckBloom: identical to the exact-broadcast operator") {
    // the invariant that makes the bloom variant safe at 100 TB: bloom
    // has no false negatives and false positives die in the confirm
    // join, so the two operators agree row-for-row
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val probes = docs.filter(col("doc_id") < 8)
    val exact = Corpus.contaminationCheck(docs, probes, n = 5, minMatches = 1)
    val bloom = Corpus.contaminationCheckBloom(docs, probes, n = 5, minMatches = 1)
    assert(exact.exceptAll(bloom).isEmpty && bloom.exceptAll(exact).isEmpty)
    assert(exact.filter(col("contaminated")).count() > 0) // non-vacuous
    // decontaminate (in-row match below its driver bound) keeps exactly
    // the unflagged docs; its bloom path is pinned in CurateCorpusSpec
    val unflagged = docs.join(exact.filter(col("contaminated")).select("doc_id"),
      Seq("doc_id"), "left_anti")
    val kept = Corpus.decontaminate(docs, probes, n = 5, minMatches = 1)
    assert(kept.exceptAll(unflagged).isEmpty && unflagged.exceptAll(kept).isEmpty)
    assert(Corpus.decontaminate(docs, probes.limit(0), n = 5, minMatches = 1)
      .count() == docs.count()) // empty benchmark: nothing dropped
  }

  test("lshStarEdges: each doc to its bucket's min id, jaccard-verified, distinct") {
    // the expected edges computed on the driver from the collected band
    // rel: per (band_idx, band_hash) bucket, every member other than the
    // min id pairs with it when their shingle-set jaccard reaches 0.6
    val base = "a careful reader follows the long winding data value path " +
      "through the quiet old town and writes down every step"
    val docs = ((1L to 40L).map(i => (i, s"$base variant$i")) ++
      (101L to 120L).map(i => (i, s"unrelated note $i about data value " +
        s"with its own wording number ${i * 13} and more"))).toDF("doc_id", "text")
    val rel = Dedup.minHashBandRel(docs)
      .select("doc_id", "hs", "band_idx", "band_hash")
      .as[(Long, Array[Long], Int, Long)].collect()
    val hs = rel.map(r => r._1 -> r._2).toMap
    def jac(a: Array[Long], b: Array[Long]) =
      a.intersect(b).length.toDouble / (a ++ b).distinct.length
    val want: Set[(Long, Long)] = rel.groupBy(r => (r._3, r._4)).values
      .flatMap { members =>
        val rep = members.map(_._1).min
        members.map(_._1).filter(_ != rep).map(d => (d, rep))
      }.toSet
      .filter(e => jac(hs(e._1), hs(e._2)) >= 0.6)
    val got = Dedup.lshStarEdges(docs, 0.6).as[(Long, Long)].collect()
    assert(got.length == got.distinct.length)
    assert(got.toSet == want && want.size >= 30)
  }

  test("contaminationCheckBloom: zero-candidate docs survive with n_matched 0") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "totally disjoint vocabulary nothing shared here at all")
    ).toDF("doc_id", "text")
    val probes = Seq((9L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val out = Corpus.contaminationCheckBloom(docs, probes, n = 5, minMatches = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(out(1L)._1 > 0 && out(1L)._2)
    assert(out(2L) == ((0L, false)))
  }

  // ---------------------------------------------------------------- //
  //  Incremental near-dup                                             //
  // ---------------------------------------------------------------- //

  test("incrementalNearDupPairs: equals the full-batch pairs touching the increment") {
    // the invariant that makes incremental dedup sound: indexing the
    // corpus once and joining the new batch yields EXACTLY the
    // full-batch LSH pairs that involve a new document
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val cut = 150L
    val full = Dedup.minHashLshPairs(docs, 0.5)
      .filter(col("doc_a") >= cut || col("doc_b") >= cut)
      .select(least(col("doc_a"), col("doc_b")).as("lo"),
        greatest(col("doc_a"), col("doc_b")).as("hi"), col("jac"))
    val idx = Dedup.minHashBandRel(docs.filter(col("doc_id") < cut))
    val incr = Dedup.incrementalNearDupPairs(
        docs.filter(col("doc_id") >= cut), idx, 0.5)
      .select(least(col("doc_a"), col("doc_b")).as("lo"),
        greatest(col("doc_a"), col("doc_b")).as("hi"), col("jac"))
    assert(full.exceptAll(incr).isEmpty && incr.exceptAll(full).isEmpty)
    assert(incr.count() > 0) // non-vacuous at this threshold
    spark.sharedState.cacheManager.clearCache()
  }

  test("incrementalEmbeddingNearDupPairs: equals the full-batch pairs touching the increment") {
    // the embedding form of the invariant above (completes the
    // incremental family: text, edit, media, embeddings)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val full = graft.operators.Dedup
      .embeddingNearDupPairs(emb, "label", 0.4)
      .filter(col("vec_a") % 4 === 0 || col("vec_b") % 4 === 0)
      .select(least(col("vec_a"), col("vec_b")).as("lo"),
        greatest(col("vec_a"), col("vec_b")).as("hi"), col("cosine"))
    val incr = Dedup.incrementalEmbeddingNearDupPairs(
        emb.filter(col("vec_id") % 4 === 0),
        emb.filter(col("vec_id") % 4 =!= 0), "label", 0.4)
    val incrNorm = incr
      .select(least(col("vec_a"), col("vec_b")).as("lo"),
        greatest(col("vec_a"), col("vec_b")).as("hi"), col("cosine"))
    assert(full.exceptAll(incrNorm).isEmpty && incrNorm.exceptAll(full).isEmpty)
    assert(incrNorm.count() > 0)
    // flag contract: vs_corpus rows lead with the new vector; new-new
    // rows are ordered
    val flags = incr.select("vec_a", "vec_b", "vs_corpus")
      .as[(Long, Long, Boolean)].collect()
    assert(flags.filter(_._3).forall(_._1 % 4 == 0))
    assert(flags.filterNot(_._3).forall(f => f._1 < f._2 && f._2 % 4 == 0))
    assert(flags.exists(_._3) && flags.exists(!_._3))
    spark.sharedState.cacheManager.clearCache()
  }

  test("incrementalEmbeddingNearDupPairs: a label-bucketed corpus rel joins exchange-free") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("embidx").toString
    emb.filter(col("vec_id") % 4 =!= 0)
      .select("vec_id", "label", "embedding")
      .write.bucketBy(4, "label").sortBy("label")
      .option("path", s"$dir/emb_corpus_idx").format("parquet")
      .mode("overwrite").saveAsTable("emb_corpus_idx")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val abt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val res = Dedup.incrementalEmbeddingNearDupPairs(
        emb.filter(col("vec_id") % 4 === 0),
        spark.table("emb_corpus_idx"), "label", 0.4)
      val plan = res.queryExecution.executedPlan
      def scansIdx(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.collect { case sc: FileSourceScanExec => sc }
          .exists(_.metadata.get("Location").exists(_.contains("emb_corpus_idx")))
      // the corpus may sit on either join side (the skew-guarded dense
      // leg puts it on the salted/left side); find it by its scan
      val corpusSides = plan.collect {
        case j: SortMergeJoinExec
          if j.leftKeys.exists(_.toString.contains("blk")) =>
          Seq(j.left, j.right)
        case j: ShuffledHashJoinExec
          if j.leftKeys.exists(_.toString.contains("blk")) =>
          Seq(j.left, j.right)
      }.flatten.filter(scansIdx)
      assert(corpusSides.nonEmpty, plan.toString.take(3000))
      corpusSides.foreach { side =>
        assert(side.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          side.toString.take(3000))
      }
      // and the result equals the in-memory corpus path
      val inMem = Dedup.incrementalEmbeddingNearDupPairs(
        emb.filter(col("vec_id") % 4 === 0),
        emb.filter(col("vec_id") % 4 =!= 0), "label", 0.4)
      assert(res.exceptAll(inMem).isEmpty && inMem.exceptAll(res).isEmpty)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abt)
    }
  }

  test("incrementalEmbeddingNearDupPairs: radius-exact cell route equals the exact join at every threshold") {
    // the routed leg's correctness anchor: CellsWithinRadius probes
    // every cell the cosine-τ ball can touch (triangle bound on the
    // normalized sphere plus the per-cell max assignment distance), so
    // routed ≡ exact at ANY threshold — including the loose τ=0.4
    // where fixed-nProbe probing measurably lost pairs on clustered
    // corpora (the design this replaced)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val batch = emb.filter(col("vec_id") % 4 === 0)
    val corpus = emb.filter(col("vec_id") % 4 =!= 0)
    val cents = graft.operators.IvfCentroids.Centroids16
    Seq(0.4, 0.9).foreach { tau =>
      val exact = Dedup.incrementalEmbeddingNearDupPairs(
        batch, corpus, "label", tau, strategy = "exact")
      val routed = Dedup.incrementalEmbeddingNearDupPairs(
        batch, corpus, "label", tau, strategy = "cells",
        centroids = cents)
      assert(exact.exceptAll(routed).isEmpty &&
        routed.exceptAll(exact).isEmpty, s"tau=$tau")
      assert(tau > 0.4 || routed.filter(col("vs_corpus")).count() > 0)
    }
    // auto with a 1-pair bound prices both plans and still returns
    // identical rows whichever it picks; with the default bound the
    // gate stays on the exact plan
    val exact = Dedup.incrementalEmbeddingNearDupPairs(
      batch, corpus, "label", 0.4, strategy = "exact")
    val autoRouted = Dedup.incrementalEmbeddingNearDupPairs(
      batch, corpus, "label", 0.4, strategy = "auto", routeBound = 1L,
      centroids = cents)
    assert(exact.exceptAll(autoRouted).isEmpty &&
      autoRouted.exceptAll(exact).isEmpty)
    intercept[IllegalArgumentException] {
      Dedup.incrementalEmbeddingNearDupPairs(
        batch, corpus, "label", 0.4, strategy = "bogus")
    }
    // a cell rel without the cdist radius stat is refused, not trusted
    intercept[IllegalArgumentException] {
      Dedup.incrementalEmbeddingNearDupPairs(
        batch,
        Dedup.embedCellRel(corpus, "label", cents).drop("cdist"),
        "label", 0.4, strategy = "cells", centroids = cents).count()
    }
    graft.operators.OperatorCaches.releaseAll()
  }

  test("incrementalEmbeddingNearDupPairs: hot-block dense leg salts instead of serializing, identical rows") {
    // Under a CONSTANT block key (the unblocked-corpus shape) a plain
    // block equi-join lands the whole batch×corpus candidate volume on
    // ONE shuffle partition. The dense vs-corpus leg rides the salted
    // block join — corpus salted single-copy, small batch replicated —
    // which splits the hot block r-ways; forcing a tiny per-task
    // target on this fixture engages the salted branch (r > 1), and
    // the rows must be IDENTICAL to the unsalted escape and to the
    // routed path.
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .withColumn("one", lit(0)) // constant block: every row one key
    val batch = emb.filter(col("vec_id") % 20 === 0)
    val corpus = emb.filter(col("vec_id") % 20 =!= 0)
    val plain = Dedup.incrementalEmbeddingNearDupPairs(
      batch, corpus, "one", 0.4, strategy = "exact")
    val salted = Dedup.incrementalEmbeddingNearDupPairs(
      batch, corpus, "one", 0.4, strategy = "exact",
      densePairsPerTask = 1000L)
    assert(plain.exceptAll(salted).isEmpty &&
      salted.exceptAll(plain).isEmpty)
    assert(salted.count() > 0)
    val routed = Dedup.incrementalEmbeddingNearDupPairs(
      batch, corpus, "one", 0.4, strategy = "cells",
      centroids = graft.operators.IvfCentroids.Centroids16)
    assert(plain.exceptAll(routed).isEmpty &&
      routed.exceptAll(plain).isEmpty)
    graft.operators.OperatorCaches.releaseAll()
  }

  test("embedding near-dup: zero-norm rows never qualify, on every leg") {
    // A failed/zero embedding has cosine 0/0 = NaN against everything,
    // and Spark SQL (and the tile comparator) order NaN ABOVE any
    // number — unguarded, `cosine >= τ` is TRUE and the zero vector
    // spuriously pairs with its whole block on the dense legs while
    // the routed leg drops it (no probe cells), silently breaking
    // dense/routed row identity. The guard filters n > 0 on every
    // scoring leg, making "zero-norm never qualifies" real.
    val cents = graft.operators.IvfCentroids.Centroids16
    def vec(pos: Int, bump: Float = 0f): Array[Float] = {
      val a = Array.fill(64)(0.01f); a(pos) = 1f
      a((pos + 7) % 64) += bump; a
    }
    val zero = Array.fill(64)(0f)
    val corpus = Seq(
      (1L, 0, vec(3)), (2L, 0, vec(3, 0.02f)), (3L, 0, zero),
      (4L, 0, vec(40))).toDF("vec_id", "label", "embedding")
    val batch = Seq(
      (10L, 0, vec(3, 0.01f)), (11L, 0, zero))
      .toDF("vec_id", "label", "embedding")
    // one-shot operator: join and tiled paths agree, no zero-norm ids
    Seq("join", "tiled").foreach { s =>
      val pairs = Dedup.embeddingNearDupPairs(
          corpus, "label", 0.9, strategy = s)
        .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
      assert(pairs == Set((1L, 2L)), s"strategy=$s")
    }
    // incremental operator: dense ≡ routed, neither emits NaN pairs
    val expect = Set((10L, 1L, true), (10L, 2L, true))
    Seq("exact", "cells").foreach { s =>
      val got = Dedup.incrementalEmbeddingNearDupPairs(
          batch, corpus, "label", 0.9, strategy = s, centroids = cents)
        .select("vec_a", "vec_b", "vs_corpus")
        .as[(Long, Long, Boolean)].collect().toSet
      assert(got == expect, s"strategy=$s")
    }
    // streaming entries: dense and routed agree too
    val dense = graft.streaming.StreamingEmbedNearDup
      .embedNearDupAgainstIndex(batch, corpus, "label", 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val routed = graft.streaming.StreamingEmbedNearDup
      .embedNearDupAgainstCellIndex(batch,
        Dedup.embedCellRel(corpus, "label", cents), cents, "label", 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(dense == Set((10L, 1L), (10L, 2L)) && routed == dense)
    graft.operators.OperatorCaches.releaseAll()
  }

  test("incrementalEmbeddingNearDupPairs: a cell-bucketed corpus rel joins exchange-free on the routed path") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = graft.operators.IvfCentroids.Centroids16
    val dir = java.nio.file.Files.createTempDirectory("embcell").toString
    Dedup.writeEmbedCellRelBucketed(
      emb.filter(col("vec_id") % 4 =!= 0), "label", cents,
      "emb_cell_idx", 4, Some(s"$dir/emb_cell_idx"))
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val abt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val res = Dedup.incrementalEmbeddingNearDupPairs(
        emb.filter(col("vec_id") % 4 === 0),
        spark.table("emb_cell_idx"), "label", 0.4,
        strategy = "cells", centroids = cents)
      val plan = res.queryExecution.executedPlan
      def scansIdx(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.collect { case sc: FileSourceScanExec => sc }
          .exists(_.metadata.get("Location").exists(_.contains("emb_cell_idx")))
      val corpusSides = plan.collect {
        case j: SortMergeJoinExec
          if j.leftKeys.exists(_.toString.contains("cell")) => j.right
        case j: ShuffledHashJoinExec
          if j.leftKeys.exists(_.toString.contains("cell")) => j.right
      }.filter(scansIdx)
      assert(corpusSides.nonEmpty, plan.toString.take(3000))
      corpusSides.foreach { side =>
        assert(side.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          side.toString.take(3000))
      }
      // and the prebuilt-rel result equals the on-the-fly routed path
      val inMem = Dedup.incrementalEmbeddingNearDupPairs(
        emb.filter(col("vec_id") % 4 === 0),
        emb.filter(col("vec_id") % 4 =!= 0), "label", 0.4,
        strategy = "cells", centroids = cents)
      assert(res.exceptAll(inMem).isEmpty && inMem.exceptAll(res).isEmpty)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abt)
      spark.sql("DROP TABLE IF EXISTS emb_cell_idx")
    }
  }

  // ---------------------------------------------------------------- //
  //  Fuzzy edit-distance pairs                                        //
  // ---------------------------------------------------------------- //

  test("editDistancePairs: blocked, thresholded, exact distances") {
    val docs = Seq(
      (1L, "b1", "kitten sat here"),
      (2L, "b1", "sitten sat here"), // dist 1 from doc 1
      (3L, "b1", "totally different words"),
      (4L, "b2", "kitten sat here") // same text, other block → no pair
    ).toDF("doc_id", "blk", "text")
    val res = Dedup.editDistancePairs(docs, Seq("blk"), maxDist = 5)
    // r17 plan pin: the fused DP stage is fed by an explicit
    // AQE-exempt fixed-width repartition on doc_b (REPARTITION_BY_NUM),
    // not a coalescible planner exchange — the q72 width fix (AQE's
    // byte-based coalescing ran the 3 s-CPU DP on 3 tasks; see
    // OPTIMIZATION_r17.md).
    assert(res.queryExecution.executedPlan.toString
      .contains("REPARTITION_BY_NUM"),
      "DP attach join lost its AQE-exempt width repartition")
    val out = res.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 2L, 1L)))
  }

  test("incrementalEditDistancePairs: equals the full-batch pairs touching the increment") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val isNew = pmod(col("doc_id"), lit(3)) === 0
    val full = Dedup.editDistancePairs(docs, Seq("lang", "source"), 90)
    val fullIds = docs.filter(isNew).select(col("doc_id").as("nid"))
    val touching = full
      .join(fullIds, col("doc_a") === col("nid") || col("doc_b") === col("nid"), "leftsemi")
      .select(least(col("doc_a"), col("doc_b")).as("lo"),
        greatest(col("doc_a"), col("doc_b")).as("hi"), col("dist"))
      .distinct()
    val incr = Dedup.incrementalEditDistancePairs(
        docs.filter(isNew), docs.filter(!isNew), Seq("lang", "source"), 90)
      .select(least(col("doc_a"), col("doc_b")).as("lo"),
        greatest(col("doc_a"), col("doc_b")).as("hi"), col("dist"))
      .distinct()
    assert(touching.exceptAll(incr).isEmpty && incr.exceptAll(touching).isEmpty)
  }

  test("editDistancePairs: length band never drops a qualifying pair") {
    // |len_a - len_b| <= maxDist is a lower bound on edit distance, so
    // the prefilter is lossless — compare against the unfiltered form
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val brute = docs.select(col("doc_id").as("doc_a"), col("lang"),
        col("source"), col("text").as("t_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("lang"),
        col("source"), col("text").as("t_b")), Seq("lang", "source"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("dist", levenshtein(col("t_a"), col("t_b")).cast("long"))
      .filter(col("dist") <= 90)
      .select("doc_a", "doc_b", "dist")
    val fast = Dedup.editDistancePairs(docs, Seq("lang", "source"), 90)
    assert(fast.exceptAll(brute).isEmpty && brute.exceptAll(fast).isEmpty)
  }

  test("editDistancePairs: q-gram prefilter never drops a qualifying pair") {
    // dist ≤ k ⇒ the strings share ≥ max(|D_a|,|D_b|) − k·n distinct
    // n-grams (each edit destroys at most n), so the prune is lossless:
    // compare prefiltered output against the plain blocked form across
    // gram sizes and tight/loose thresholds
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    for (gram <- Seq(3, 4, 8); k <- Seq(30, 90)) {
      val plain = Dedup.editDistancePairs(docs, Seq("lang", "source"), k)
      val pruned = Dedup.editDistancePairs(docs, Seq("lang", "source"), k,
        prefilterGram = gram)
      assert(pruned.exceptAll(plain).isEmpty && plain.exceptAll(pruned).isEmpty,
        s"gram=$gram k=$k")
    }
    // synthetic exact-boundary case: dist == k with maximal gram damage
    val edge = Seq(
      (1L, "b", "abcdefghijklmnop"),
      (2L, "b", "Xbcdefghijklmnop"), // dist 1, head gram destroyed
      (3L, "b", "abcdXfghijklmnoY") // dist 2, spread damage
    ).toDF("doc_id", "blk", "text")
    val plainE = Dedup.editDistancePairs(edge, Seq("blk"), 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val prunedE = Dedup.editDistancePairs(edge, Seq("blk"), 2, prefilterGram = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(plainE == prunedE && plainE.contains((1L, 2L, 1L)))
  }

  // ---------------------------------------------------------------- //
  //  Random projection                                                //
  // ---------------------------------------------------------------- //

  test("randomProjection: JL norm preservation on real embeddings") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val stats = emb.join(Similarity.randomProjection(emb, 16), "vec_id")
      .select((sqrt(Similarity.dot(col("proj"), col("proj"))) /
        Similarity.l2Norm(col("embedding"))).as("ratio"))
      .agg(avg("ratio"), min("ratio"), max("ratio"), count(lit(1)))
      .first()
    assert(stats.getLong(3) > 0)
    assert(math.abs(stats.getDouble(0) - 1.0) < 0.15,
      s"mean ratio ${stats.getDouble(0)} drifted from 1")
    assert(stats.getDouble(1) > 0.3 && stats.getDouble(2) < 2.0,
      s"ratio range [${stats.getDouble(1)}, ${stats.getDouble(2)}] implausible for k=16")
  }

  test("randomProjection: linear (projection of a sum = sum of projections)") {
    import graft.operators.Similarity
    val vecs = Seq(
      (0L, Array.tabulate(8)(i => (i + 1).toFloat)),
      (1L, Array.tabulate(8)(i => (2 * i).toFloat)),
      (2L, Array.tabulate(8)(i => (3 * i + 1).toFloat)) // = v0 + v1
    ).toDF("vec_id", "embedding")
    val p = Similarity.randomProjection(vecs, 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val summed = p(0L).zip(p(1L)).map { case (a, b) => a + b }
    assert(summed.zip(p(2L)).forall { case (s, c) => math.abs(s - c) < 1e-9 })
  }

  // ---------------------------------------------------------------- //
  //  Sequence packing                                                 //
  // ---------------------------------------------------------------- //

  test("packSequences: contiguous budget bins in doc_id order") {
    // 5 docs × 100 tokens, budget 256, one shard: starts at 0, 100,
    // 200, 300, 400 → sequences {0,1,2} and {3,4}
    val word100 = Seq.fill(100)("w").mkString(" ")
    val docs = (0L until 5L).map(i => (i, "s", word100))
      .toDF("doc_id", "source", "text")
    val out = Corpus.packSequences(docs, budget = 256L, nShards = 1)
      .collect().map(r => r.getLong(2) ->
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(out(0L) == ((3L, 300L, 0L, 2L)))
    assert(out(1L) == ((2L, 200L, 3L, 4L)))
  }

  test("packSequences: shards partition the docs and conserve tokens") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Corpus.packSequences(docs, budget = 256L, nShards = 8)
    val totDocs = out.agg(sum("n_docs")).first().getLong(0)
    val totTok = out.agg(sum("seq_tokens")).first().getLong(0)
    val expTok = docs.select(size(graft.functions.TextFunctions.tokens(col("text")))
      .cast("long").as("n")).agg(sum("n")).first().getLong(0)
    assert(totDocs == docs.count())
    assert(totTok == expTok)
  }

  // ---------------------------------------------------------------- //
  //  Deterministic shuffle rank                                       //
  // ---------------------------------------------------------------- //

  test("shuffleRank: a bijective rank, invariant to input partitioning") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val r1 = Corpus.shuffleRank(docs, seed = 7L)
    val r2 = Corpus.shuffleRank(docs.repartition(13), seed = 7L)
    val n = docs.count()
    // ranks are exactly 1..n
    assert(r1.agg(min("rank"), max("rank"), countDistinct("rank"))
      .first().toSeq == Seq(1L, n, n))
    // same seed → identical permutation, regardless of partitioning
    assert(r1.exceptAll(r2).isEmpty && r2.exceptAll(r1).isEmpty)
    // different seed → different permutation
    val r3 = Corpus.shuffleRank(docs, seed = 8L)
    assert(r3.select("doc_id", "rank").exceptAll(
      r1.select("doc_id", "rank")).count() > 0)
  }

  // ---------------------------------------------------------------- //
  //  Importance weighting                                             //
  // ---------------------------------------------------------------- //

  test("importanceWeights: target == corpus is the neutral point") {
    val docs = Seq((1L, "a b c"), (2L, "c d"), (3L, "e"))
      .toDF("doc_id", "text")
    val out = Corpus.importanceWeights(docs, lit(true), scale = 1000000L)
      .collect()
    // tc == cc for every term → every weight is exactly `scale`, and
    // thr == scale → everything is (weakly) target-like
    assert(out.forall(_.getLong(3) == 1000000L))
    assert(out.forall(_.getBoolean(4)))
  }

  test("importanceWeights: target-exclusive vocabulary outranks corpus-common") {
    val docs = Seq(
      (1L, "quant quant quant quant"), // pure target vocabulary
      (2L, "common common common common"), // shared background
      (3L, "quant quant common common")
    ).toDF("doc_id", "text")
      .withColumn("is_t", col("doc_id") === 1L)
    val out = Corpus.importanceWeights(docs, col("is_t"))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out(1L) > out(3L) && out(3L) > out(2L))
  }

  // ---------------------------------------------------------------- //
  //  Per-source cap / bigram LM scoring                               //
  // ---------------------------------------------------------------- //

  test("perSourceCap: two-phase top-k equals the single source window") {
    // skewed fixture: source A has 30 docs, B has 3, C has 1
    val docs = ((1 to 30).map(i => (i.toLong, "A", "tok " * i)) ++
      Seq((101L, "B", "x y z"), (102L, "B", "x y"), (103L, "B", "x"),
        (201L, "C", "only one"))).toDF("doc_id", "source", "text")
    val got = Corpus.perSourceCap(docs, cap = 5, nShards = 4)
      .select("source", "doc_id", "rk")
      .as[(String, Long, Int)].collect().toSet
    val single = {
      import org.apache.spark.sql.expressions.Window
      docs.select(col("doc_id"), col("source"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("n_tok"))
        .withColumn("rk", row_number().over(Window.partitionBy("source")
          .orderBy(col("n_tok").desc, col("doc_id"))))
        .filter(col("rk") <= 5)
        .select("source", "doc_id", "rk")
        .as[(String, Long, Int)].collect().toSet
    }
    assert(got == single)
    assert(got.count(_._1 == "A") == 5) // the cap genuinely cuts A
    assert(got.count(_._1 == "B") == 3) // undersized sources kept whole
    assert(got.count(_._1 == "C") == 1)
  }

  test("tokenBudgetPrefix: exact boundary, shuffle-order prefix, stable across partitioning") {
    val docs = (1L to 50L).map(i => (i, ("tok " * i.toInt).trim))
      .toDF("doc_id", "text")
    val got = Corpus.tokenBudgetPrefix(docs, budget = 100L, seed = 7L)
      .orderBy("cum_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    // running total is consistent and the budget cut is exact: every
    // kept doc STARTS under the budget, the boundary doc crosses it
    got.foldLeft(0L) { case (prev, (_, n, cum)) =>
      assert(cum - n == prev, "cumsum must be gapless over the kept prefix")
      assert(cum - n < 100L)
      cum
    }
    assert(got.last._3 >= 100L, "boundary doc crossing the budget is kept")
    // the kept set is the prefix of shuffleRank's order
    val order = Corpus.shuffleRank(docs, seed = 7L)
      .orderBy("rank").select("doc_id").as[Long].collect()
    assert(got.map(_._1).toSeq == order.take(got.length).toSeq)
    // partitioning-invariant
    val got2 = Corpus.tokenBudgetPrefix(docs.repartition(7), 100L, 7L)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(got2 == got.map(t => (t._1, t._3)).toSet)
  }

  test("corpusDiff: added/removed/modified/unchanged classification") {
    val old = Seq((1L, "same"), (2L, "was this"), (3L, "gone")).toDF("doc_id", "text")
    val neu = Seq((1L, "same"), (2L, "now that"), (4L, "fresh")).toDF("doc_id", "text")
    val got = Corpus.corpusDiff(old, neu)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "modified",
      3L -> "removed", 4L -> "added"))
  }

  test("bigramLmScores: typical transitions outscore word salad; tiny docs 0") {
    val docs = Seq(
      (1L, "the data the data the data"),  // transitions repeated corpus-wide
      (2L, "the data the data the data"),
      (3L, "data the data the data the"),
      (4L, "the zebra zebra the"),         // "the"'s successor is rarely zebra
      (5L, "solo"),                        // < 2 tokens → no evidence
      (6L, "")
    ).toDF("doc_id", "text")
    val out = Corpus.bigramLmScores(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(out(1L)._2 > out(4L)._2)
    assert(out(5L) == ((0L, 0L)) && out(6L) == ((0L, 0L)))
    // identical docs score identically
    assert(out(1L) == out(2L))
    // scores are bounded by the scale (p(w2|w1) <= 1)
    assert(out.values.forall(_._2 <= 1000000L))
  }

  // ---------------------------------------------------------------- //
  //  Output-volume guard (the quadratic-pair-regime routing)          //
  // ---------------------------------------------------------------- //

  // one 40-member identical family (all band hashes collide → every
  // band is a 40-doc bucket) + a singleton: candidate bound is
  // 4 bands × C(40,2) = 3120
  private def familyDocs = ((1L to 40L).map(i =>
      (i, "the same boilerplate license text repeated across the family for dedup")) :+
      (100L, "one genuinely unique document about entirely different material"))
    .toDF("doc_id", "text")

  test("lshPairBound: exact Σ-bucket C(n,2) on a known family") {
    assert(Dedup.lshPairBound(familyDocs) == 4L * (40L * 39L / 2L))
    spark.sharedState.cacheManager.clearCache()
  }

  test("maxOutputPairs guard: refuses the quadratic regime, permissive bound is a no-op") {
    val e = intercept[IllegalStateException] {
      Dedup.minHashLshPairs(familyDocs, 0.6,
        graft.operators.OperatorCaches.register, "auto",
        maxOutputPairs = 100L)
    }
    assert(e.getMessage.contains("lshDupGroups")) // routing recommendation
    // the bound is lshPairBound's exact Σ C(n,2) = 3120: refused one
    // below it, admitted at it
    intercept[IllegalStateException] {
      Dedup.minHashLshPairs(familyDocs, 0.6,
        graft.operators.OperatorCaches.register, "carry",
        maxOutputPairs = 3119L)
    }
    val guarded = Dedup.minHashLshPairs(familyDocs, 0.6,
      graft.operators.OperatorCaches.register, "auto",
      maxOutputPairs = 3120L)
    val unguarded = Dedup.minHashLshPairs(familyDocs, 0.6)
    assert(guarded.exceptAll(unguarded).isEmpty &&
      unguarded.exceptAll(guarded).isEmpty)
    spark.sharedState.cacheManager.clearCache()
  }

  test("ngramJaccardPairs maxCandidatePairs guard: refuses the quadratic block join") {
    // familyDocs in one block: Σ n_b² = 40² = 1600 candidates
    val docs = familyDocs.withColumn("lang", lit("en"))
      .withColumn("source", lit("s"))
    val e = intercept[IllegalStateException] {
      Dedup.ngramJaccardPairs(docs, Seq("lang", "source"), 3, 0.5,
        maxCandidatePairs = 100L)
    }
    assert(e.getMessage.contains("lshDupGroups")) // routing recommendation
    val guarded = Dedup.ngramJaccardPairs(docs, Seq("lang", "source"), 3, 0.5,
      maxCandidatePairs = 100000L)
    val unguarded = Dedup.ngramJaccardPairs(docs, Seq("lang", "source"), 3, 0.5)
    assert(guarded.exceptAll(unguarded).isEmpty &&
      unguarded.exceptAll(guarded).isEmpty)
    spark.sharedState.cacheManager.clearCache()
  }

  test("incremental maxOutputPairs guard: bipartite bound, same contract") {
    val newDocs = familyDocs.filter(col("doc_id") > 20)
    val idx = Dedup.minHashBandRel(familyDocs.filter(col("doc_id") <= 20))
    val e = intercept[IllegalStateException] {
      Dedup.incrementalNearDupPairs(newDocs, idx, 0.6,
        maxOutputPairs = 100L)
    }
    assert(e.getMessage.contains("maxOutputPairs"))
    // 4 band buckets of 20 new + 20 indexed docs: 4·(20·20 + C(20,2))
    // = 2360 candidates, refused one below, admitted at it
    intercept[IllegalStateException] {
      Dedup.incrementalNearDupPairs(newDocs, idx, 0.6, strategy = "carry",
        maxOutputPairs = 2359L)
    }
    val guarded = Dedup.incrementalNearDupPairs(newDocs, idx, 0.6,
      maxOutputPairs = 2360L)
    val unguarded = Dedup.incrementalNearDupPairs(newDocs, idx, 0.6)
    assert(guarded.exceptAll(unguarded).isEmpty &&
      unguarded.exceptAll(guarded).isEmpty)
    spark.sharedState.cacheManager.clearCache()
  }
  // three 20-variant families (each variant swaps one word of its
  // template) beside 20 unrelated docs: near-dup pairs inside every
  // family, none across
  private def variantDocs = {
    val templates = Seq(
      "the quick brown fox jumps over the lazy dog near the quiet river bank today",
      "a data pipeline reads every log line parses the job tree and writes hourly usage",
      "near duplicate detection pairs documents whose shingle sets overlap above a bound")
    ((for ((t, ti) <- templates.zipWithIndex; v <- 0 until 20) yield {
      val w = t.split(" ")
      w(v % w.length) = s"w$v"
      ((ti * 100 + v).toLong, w.mkString(" "))
    }) ++ (0 until 20).map(i =>
      (1000L + i, s"unrelated note $i about topic ${i * 37} with words ${i * 11}")))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
  }

  test("minhash pairs: forced carry ≡ forced tiled ≡ auto, self-join and increment") {
    val docs = variantDocs
    val register = graft.operators.OperatorCaches.register _
    def same(runs: Seq[org.apache.spark.sql.DataFrame]): Unit = {
      assert(runs.head.count() > 0) // non-vacuous at this threshold
      runs.tail.foreach(r =>
        assert(runs.head.exceptAll(r).isEmpty && r.exceptAll(runs.head).isEmpty))
    }
    same(Seq("carry", "tiled", "auto").map(
      Dedup.minHashLshPairs(docs, 0.5, register, _)))
    val isNew = col("doc_id") % 100 >= 10
    val idx = Dedup.minHashBandRel(docs.filter(!isNew))
    same(Seq("carry", "tiled", "auto").map(st => Dedup.incrementalNearDupPairs(
      docs.filter(isNew), idx, 0.5, strategy = st)))
    spark.sharedState.cacheManager.clearCache()
  }

  test("every strategy dispatcher rejects an unknown strategy") {
    implicit val session: SparkSession = spark
    val docs = variantDocs
    val emb = Seq((1L, 0, Array(1.0f, 0.0f)), (2L, 0, Array(0.9f, 0.1f)),
      (3L, 1, Array(0.0f, 1.0f)), (4L, 1, Array(0.1f, 0.9f)))
      .toDF("vec_id", "label", "embedding")
    val isNew = col("doc_id") % 100 >= 10
    val (newDocs, oldDocs) = (docs.filter(isNew), docs.filter(!isNew))
    val dispatchers: Seq[(String, () => Any)] = Seq(
      "minHashLshPairs" -> (() => Dedup.minHashLshPairs(docs, 0.5,
        graft.operators.OperatorCaches.register, "bogus")),
      "incrementalNearDupPairs" -> (() => Dedup.incrementalNearDupPairs(
        newDocs, Dedup.minHashBandRel(oldDocs), 0.5, strategy = "bogus")),
      "ngramJaccardPairs" -> (() => Dedup.ngramJaccardPairs(docs,
        Seq("lang", "source"), 3, 0.5, strategy = "bogus")),
      "embeddingNearDupPairs" -> (() =>
        Dedup.embeddingNearDupPairs(emb, "label", 0.9, strategy = "bogus")),
      "incrementalEmbeddingNearDupPairs" -> (() =>
        Dedup.incrementalEmbeddingNearDupPairs(emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 =!= 0), "label", 0.9, strategy = "bogus")),
      "editDistancePairs" -> (() => Dedup.editDistancePairs(docs,
        Seq("lang", "source"), 5, strategy = "bogus")),
      "incrementalEditDistancePairs" -> (() => Dedup.incrementalEditDistancePairs(
        newDocs, oldDocs, Seq("lang", "source"), 5, strategy = "bogus")),
      "blockedNearestNeighbor" -> (() => graft.operators.Similarity
        .blockedNearestNeighbor(emb, "label", strategy = "bogus")),
      "lshTopKAuto" -> (() => graft.operators.Similarity.lshTopKAuto(emb,
        dim = 2, nBands = 4, k = 1, annMode = "bogus")),
      "CurateCorpus.nearDup" -> (() => graft.app.CurateCorpus.run(docs,
        docs.limit(1), java.nio.file.Files.createTempDirectory("bogus").toString,
        dedupMode = "bogus")))
    for ((op, call) <- dispatchers) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(s"unknown $op strategy 'bogus'"), op)
    }
    spark.sharedState.cacheManager.clearCache()
  }
}
