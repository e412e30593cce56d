package graft.app

import graft.operators.{Corpus, Dedup}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the operator family composed the way a
  * pretraining data pipeline actually runs it, documents in → training
  * chunks out:
  *
  *   1. quality filter (C4-style rule battery, keep only passing docs)
  *   2. exact dedup (keep the canonical min-id copy per content hash)
  *   3. minhash near-dup (drop the higher-id side of verified pairs)
  *   4. benchmark decontamination (drop docs overlapping the probe
  *      set — an in-row match against the collected probe grams, the
  *      bloom-prefiltered exact confirm past the driver bound)
  *   5. hash-stratified sampling (per-language rates, reproducible)
  *   6. context-window chunking + deterministic training-order rank
  *      (the training-ready output)
  *
  * Order matters and is load-bearing: exact dedup BEFORE similarity
  * (identical copies defeat LSH bucketing — measured in STRESS.md),
  * filters before pair generators (fewer candidates), sampling after
  * dedup (or the sample rate compounds with duplication), chunking
  * last.
  *
  * Every stage is a narrow filter or a bucket-join — the pipeline
  * inherits each operator's documented 100 TB posture. Stage counts
  * are returned for observability (a silent 90% drop is a data bug,
  * not a success); they are observed on the jobs the run executes
  * anyway, so counting adds no Spark job.
  */
object CurateCorpus {

  final case class StageCounts(
      input: Long, quality: Long, exactDedup: Long, nearDedup: Long,
      decontaminated: Long, sampled: Long, chunks: Long)

  /** Run the chain; write the chunk table to `outDir` partitioned by
    * language; return per-stage document counts. `probes` is the
    * held-out benchmark set for decontamination (pass an empty
    * DataFrame with a `text` column to skip). Optional governance
    * knobs: `minLmScore` drops documents under the corpus-bigram LM
    * quality score (joins the quality stage); `maxDocsPerSource` caps
    * each source's contribution after sampling (highest-token-count
    * docs win, [[Corpus.perSourceCap]]). */
  /** `fastGrams` switches the decontamination stage's gram hashing to
    * the native xxhash64 kernel ([[graft.functions.HashExpressions
    * .TokenNGramXxHashes]] — 3.5× the oracle-exact polyhash on the
    * hashing kernel, parity pinned in HashExprSpec at gate scale).
    *
    * Collision asymmetry, measured at 500 k docs / 2 k probes
    * (STRESS.md round 10): in EITHER family a gram-hash collision can
    * only ADD a phantom match (drop a clean doc as "contaminated"),
    * never leak a contaminated doc through — but the RATES differ by
    * ~2³⁴. The polyhash's oracle-SQL-expressible modulus (P = 1e9+7,
    * ~2³⁰ space) enters the birthday regime around 10⁵ probe grams:
    * with minMatches = 1 it phantom-flagged 1 786 clean docs (44 % of
    * its flags) where the 2⁶⁴ xxhash64 space flagged zero phantoms
    * (fast survivor set was a strict SUPERSET, confirmed by set
    * algebra: slow-only survivors = 0). At production scale the fast
    * path is therefore both faster AND more accurate; the polyhash
    * stays the default only because it is the DuckDB-mirrorable gate
    * shape (the small modulus is exactly what keeps the oracle SQL's
    * `(h*31+c) % P` inside BIGINT). */
  def run(docs: DataFrame, probes: DataFrame, outDir: String,
      sampleKeepOf: Map[String, Long] = Map.empty,
      sampleDefaultKeep: Long = 20L, sampleMod: Long = 20L,
      chunkTokens: Int = 64, chunkStride: Int = 48,
      minLmScore: Option[Long] = None,
      maxDocsPerSource: Option[Int] = None,
      fastGrams: Boolean = false,
      dedupMode: String = "auto")(
      implicit spark: SparkSession): StageCounts = {
    require(Set("pairs", "groups", "auto", "jaccard")(dedupMode),
      s"dedupMode must be pairs|groups|auto|jaccard, got $dedupMode")
    // Few Spark jobs per run (each costs driver planning and scheduling
    // latency that dominates at corpus sizes a driver can plan for):
    //  - every stage count is an Observation on a node that an action
    //    the run needs anyway executes exactly once — inside this run's
    //    own caches (built in full by their first reader) or on the
    //    final write — never a count() of its own. Nothing may call
    //    `.rdd` on an observed frame: that leaves its count at 0;
    //  - only what a later stage reads twice is cached: the exact
    //    survivors (signatures, the near-dup survivor filter), the
    //    signature rel (bound, edges) and the sample (the rank's
    //    bucket-count pass, then the chunking write);
    //  - every other stage is a filter on the rows themselves or an
    //    anti-join against a small id set, never a self-join back on
    //    doc_id. Caches are dropped once the chunks are written.
    val pinned = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = { val c = df.cache(); pinned += c; c }
    val counts = scala.collection.mutable.Map.empty[String, Observation]
    def observed(df: DataFrame, name: String): DataFrame = {
      val o = Observation()
      counts(name) = o
      df.observe(o, count(lit(1)).as("n"))
    }
    def countOf(name: String): Long =
      scala.concurrent.Await.result(counts(name).future,
        scala.concurrent.duration.Duration(5, "min")).getAs[Long]("n")
    try {
      // 1. quality: the rule battery is a per-doc predicate, filtered in
      // place; the optional LM gate composes here
      val flagged = observed(Corpus.qualityFlags(docs), "input")
      val passing = flagged.filter(col("keep")).select(docs.columns.map(col): _*)
      val quality = observed(minLmScore match {
        case Some(minScore) => passing.join(
          Corpus.bigramLmScores(docs)
            .filter(col("lm_score") >= minScore).select("doc_id"),
          "doc_id")
        case None => passing
      }, "quality")

      // 2. exact dedup: keep the canonical (min-id) copy per content
      // hash — [[Dedup.exactDupGroups]]'s survivor rule as one window
      // over the hash, so the rows never join back to their own ids
      val exact = pin(observed(quality
        .withColumn("canonical_id",
          min("doc_id").over(Window.partitionBy(sha2(col("text"), 256))))
        .filter(col("doc_id") === col("canonical_id"))
        .drop("canonical_id"), "exact"))

      // 3. near-dup. The pipeline only needs SURVIVORS, so the pair
      // list is an implementation detail — and its volume is
      // data-quadratic inside a duplicate family (Σ family²: one
      // 37 500-member gen_skew family is ~7×10⁸ true pairs). "auto"
      // routes on the measured candidate bound: the familiar verified-
      // pairs shape while the bound stays within budget (the gate
      // regime — small families, pair list ≈ linear), the star-edge
      // groups labeling ([[Dedup.lshDupGroups]], edge volume ≤
      // nBands·N) beyond it, so a skewed 100 TB corpus cannot
      // accidentally materialize a quadratic pair set on the way to a
      // survivor list. Budget: 256 candidate pairs/doc — a corpus
      // whose candidate mass is O(1) per doc is linear however big it
      // grows (the campaign's uniform corpus measures ~186/doc at
      // BOTH 50 k and 500 k docs: its boilerplate families replicate
      // per copy, so Σfamily² grows ∝ N), while quadratic families
      // push the per-doc rate unbounded (gen_skew: 94/doc at 50 k,
      // 938/doc at 500 k, ~10× per decade). 32/doc was measured too
      // tight — it flipped the linear uniform corpus too. Floor 10⁶
      // so tiny runs never flap. Both modes keep each family's
      // min-id member: pairs drops every verified doc_b (higher id),
      // groups keeps doc_id == canonical (component min) — identical
      // on mutually-similar families, divergent only on borderline
      // chains (lshDupGroups scaladoc documents the trade). One
      // signature cache serves the bound and the chosen operator; the
      // bound comes from auto's one bucket-statistics pass — the first
      // (single) scan of the signatures, which also builds the exact-
      // survivor cache and so completes its count — and the pairs
      // route's own carry/tiled pick reads the same statistics.
      lazy val sigs = Dedup.minHashSigs(exact, pinned += _, eager = false)
      val stats =
        if (dedupMode == "auto") Some(Dedup.bucketStatsOf(Dedup.bandRelOf(sigs)))
        else None
      val dedupChosen = stats match {
        case Some(st) =>
          val budget = math.max(256L * countOf("exact"), 1000000L)
          val pick = if (st.pairBound > budget) "groups" else "pairs"
          graft.operators.Parallelism.logDispatch("CurateCorpus.nearDup",
            s"candidatePairBound=${st.pairBound} budget=$budget -> $pick")
          pick
        case None => dedupMode
      }
      // the ids to drop: every non-canonical member of a near-dup
      // family — usually small next to the corpus, so the survivor
      // step is an anti-join the planner can broadcast
      val dropIds = dedupChosen match {
        case "pairs" =>
          Dedup.lshPairsFrom(Dedup.bandRelOf(sigs), 0.6, pinned += _,
            "auto", maxOutputPairs = -1L, stats)
            .select(col("doc_b").as("doc_id")).distinct()
        case route =>
          // groups: star edges over the signature cache (materialized
          // first unless the auto bound already scanned it — the edge
          // job reads the band rel on both sides of its join); jaccard:
          // the exact blocked n-gram jaccard EDGE family, routed by the
          // same measured-statistic discipline
          // ([[Dedup.jaccardEdgesAuto]]: exact block pairs within
          // budget, banded star edges beyond). Transitive labeling then
          // keeps each component's min-id member.
          val edges =
            if (route == "jaccard") Dedup.jaccardEdgesAuto(exact,
              Seq("lang", "source"), n = 3, threshold = 0.6, pin = pinned += _)
            else {
              if (stats.isEmpty) sigs.count()
              Dedup.lshStarEdgesFrom(sigs, 0.6)
            }
          Dedup.connectedComponents(edges, "doc_a", "doc_b")
            .filter(col("id") =!= col("component"))
            .select(col("id").as("doc_id"))
      }
      // spread over a fixed width for the gram hashing below: widen's
      // partition probe (`.rdd`) would run the drop-id stages once here
      // and again in the job that consumes them
      val near = observed(exact.join(dropIds, Seq("doc_id"), "left_anti")
        .repartition(graft.operators.Parallelism.wideN(spark)), "near")

      // 4. decontamination vs the probe set: one bounded collect of the
      // probe grams, then an in-row match per document
      // ([[Corpus.decontaminate]]; past its driver bound, an anti-join
      // against contaminationCheckBloom's bloom + confirm flags — both
      // paths pinned against that operator in CurateCorpusSpec)
      val clean = observed(Corpus.decontaminate(near, probes, n = 5,
        minMatches = 1, fastGrams = fastGrams, pin = pinned += _), "clean")

      // 5. reproducible stratified sample (an in-row hash predicate),
      // then the optional per-source cap (mixing governance — no
      // source may dominate the output)
      val sampledBase = clean.filter(Corpus.hashStratifiedKeep("lang",
        sampleKeepOf, sampleDefaultKeep, sampleMod))
      val sampled = pin(observed(maxDocsPerSource match {
        case Some(cap) =>
          val base = pin(sampledBase)
          base.join(Corpus.perSourceCap(base, cap).select("doc_id"), "doc_id")
        case None => sampledBase
      }, "sampled"))

      // 6. stamp the deterministic training order (same seed → same
      // permutation on any cluster; readers shuffle-free by sorting on
      // train_rank) with the text riding the rank's shuffle, chunk the
      // ranked rows, and write partitioned by language; the chunk count
      // is observed on the write itself
      val ranked = Corpus.shuffleRank(sampled, seed = 42L,
        carry = Seq("text", "lang"))
      val chunks = Corpus.chunkDocuments(ranked, chunkTokens, chunkStride,
        carry = Seq("lang", "rank"))
        .withColumnRenamed("rank", "train_rank")
      observed(chunks, "chunks").write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("lang")
        .parquet(outDir)

      StageCounts(countOf("input"), countOf("quality"), countOf("exact"),
        countOf("near"), countOf("clean"), countOf("sampled"),
        countOf("chunks"))
    } finally pinned.foreach(_.unpersist())
  }

  /** CLI: `runMain graft.app.CurateCorpus <docsPath> <outDir>
    * [probesPath]` — docs as parquet or .jsonl/.json (JSONL goes
    * through the quarantining reader); probes optional (parquet). */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: CurateCorpus <docsPath> <outDir> [probesPath]")
    implicit val spark: SparkSession = graft.GraftSession.create("curate-corpus")
    val docs =
      if (args(0).endsWith(".jsonl") || args(0).endsWith(".json")) {
        val (clean, quarantine) =
          graft.sources.CorpusSources.readJsonlDocs(spark, args(0))
        val nBad = quarantine.count()
        if (nBad > 0) println(s"[curate] quarantined $nBad malformed lines")
        clean
      } else spark.read.parquet(args(0))
    import spark.implicits._
    val probes =
      if (args.length > 2) spark.read.parquet(args(2))
      else Seq.empty[String].toDF("text")
    // Config-VERSIONED kernel selection (RELEASE_NOTES.md "curate v2"):
    // v2 (the default) hashes decontamination grams with xxhash64 —
    // at production scale both faster and phantom-free, while the v1
    // polyhash family's 2³⁰ modulus phantom-flags clean docs past
    // ~10⁵ probe grams (STRESS.md round 10). v2 output is NOT
    // byte-identical to v1: previously phantom-dropped docs survive,
    // so consumers expecting reproducible v1 corpora must pin
    // SPARK_GRAFT_CURATE_V=1 (or re-baseline). SPARK_GRAFT_FAST_GRAMS
    // (=0 oracle polyhash / =1 xxhash64) force-overrides either
    // version for parity debugging — the gate shape stays the
    // DuckDB-mirrorable polyhash path.
    val ver = sys.env.getOrElse("SPARK_GRAFT_CURATE_V", "2")
    require(ver == "1" || ver == "2", s"SPARK_GRAFT_CURATE_V must be 1 or 2, got $ver")
    val fast = sys.env.get("SPARK_GRAFT_FAST_GRAMS") match {
      case Some(v) => v != "0"
      case None    => ver != "1"
    }
    // SPARK_GRAFT_DEDUP=pairs|groups|auto|jaccard (default auto):
    // force the near-dup survivor strategy; auto routes on the
    // measured candidate-pair bound (see run()'s stage-3 comment);
    // jaccard switches to the exact blocked n-gram edge family,
    // itself auto-routed to banded star edges past its block bound
    val dedup = sys.env.getOrElse("SPARK_GRAFT_DEDUP", "auto")
    val counts = run(docs, probes, args(1), fastGrams = fast,
      dedupMode = dedup)
    println(s"[curate] $counts")
    spark.stop()
  }
}
