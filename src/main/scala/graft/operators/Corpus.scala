package graft.operators

import graft.functions.HashExpressions
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for a large-scale training-data pipeline:
  * repetition signals, composite quality filtering, TF-IDF term
  * extraction, reproducible stratified sampling, and sketch/ANN
  * accuracy evaluation. Everything is exact integer/rational
  * arithmetic (counts, and IEEE-correctly-rounded divisions of exact
  * integers), so every operator carries a bit-exact SQL oracle.
  *
  * Scale posture: per-document operators are narrow map-side work; the
  * corpus-wide ones (TF-IDF document frequency, bigram counting)
  * shuffle on (doc, term)/(term) keys with partial aggregation — never
  * a cross join, never a global window.
  */
object Corpus {

  /** Gopher-style repetition signals (Rae et al. 2021, "Scaling
    * Language Models", table A1 repetition filters): duplicate-word
    * fraction and most-frequent-bigram fraction per document.
    *
    * Counters are emitted as exact integers alongside the derived
    * fractions so downstream thresholds can re-derive any ratio
    * without re-tokenizing. Output: doc_id, n_words, n_distinct,
    * n_bigrams, top_bigram_cnt, dup_word_frac, top_bigram_frac. */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val base = docs
      .withColumn("tk", tokens(col("text")))
      .withColumn("n_words", size(col("tk")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("tk"))).cast("long"))
    // bigram top count: explode → two-level partial-agg count (the
    // max-of-counts collapses map-side; no per-doc array blowup).
    // Native one-pass bigram builder — no interpreted zip_with lambda
    // per position (HashExpressions.TokenBigrams, parity in spec)
    val top = base
      .select(col("doc_id"),
        explode(HashExpressions.tokenBigrams(col("text"))).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(max("cnt").as("top_bigram_cnt"))
    base.join(top, Seq("doc_id"), "left")
      .na.fill(0L, Seq("top_bigram_cnt"))
      .select(
        col("doc_id"), col("n_words"), col("n_distinct"),
        greatest(col("n_words") - 1, lit(0L)).as("n_bigrams"),
        col("top_bigram_cnt"),
        when(col("n_words") === 0, lit(0.0))
          .otherwise((col("n_words") - col("n_distinct")).cast("double") /
            col("n_words")).as("dup_word_frac"),
        when(col("n_words") <= 1, lit(0.0))
          .otherwise(col("top_bigram_cnt").cast("double") /
            (col("n_words") - 1)).as("top_bigram_frac"))
  }

  /** Reproducible hash-stratified sampling: bucket = polynomial
    * content hash mod `mod`; a document is kept iff its bucket falls
    * below its stratum's keep-count (so stratum s is sampled at rate
    * keepOf(s)/mod). Content-hash bucketing — not rand() — means the
    * sample is stable across runs, engines, and partitionings, and
    * exact duplicates land in the same bucket (sample-then-dedup and
    * dedup-then-sample agree). A pure narrow filter: pushes to the
    * scan, no shuffle, no state. */
  def hashStratifiedSample(docs: DataFrame, strataCol: String,
      keepOf: Map[String, Long], defaultKeep: Long, mod: Long): DataFrame =
    docs
      .withColumn("bucket", sampleBucket(mod))
      .filter(col("bucket") < sampleKeepCount(strataCol, keepOf, defaultKeep))
      .select(col("doc_id"), col(strataCol), col("bucket"))

  /** [[hashStratifiedSample]]'s keep decision as a row predicate over
    * `text` and `strataCol`, for callers that filter their own rows in
    * place instead of joining the sampled ids back. */
  def hashStratifiedKeep(strataCol: String, keepOf: Map[String, Long],
      defaultKeep: Long, mod: Long): Column =
    sampleBucket(mod) < sampleKeepCount(strataCol, keepOf, defaultKeep)

  private def sampleBucket(mod: Long): Column =
    pmod(HashExpressions.polyHash(col("text")), lit(mod))

  private def sampleKeepCount(strataCol: String, keepOf: Map[String, Long],
      defaultKeep: Long): Column =
    keepOf.foldLeft(lit(defaultKeep)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }

  /** Top-k characteristic terms per document by TF-IDF, with the IDF
    * kept RATIONAL: score = tf·N / df (one exact integer product, one
    * correctly-rounded division) instead of tf·ln(N/df). Monotone in
    * the usual log formulation for fixed tf, exactly reproducible
    * across engines (ln is not required to be correctly rounded), and
    * the integer numerators travel with the row. Output: doc_id, term,
    * tf, df, score, rk. */
  def tfIdfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(total))
      .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))))
      .filter(col("rk") <= k)
      .select("doc_id", "term", "tf", "df", "score", "rk")
  }

  /** Stopword set for [[qualityFilter]]'s has-common-words signal
    * (C4's "contains a stop word" heuristic, adapted to the corpus
    * vocabulary). */
  val StopWords: Seq[String] = Seq("the", "a", "join", "data", "value")

  /** C4-style composite quality filter (Raffel et al. 2020 §2.2's
    * heuristic battery): length bounds, mean-word-length bounds,
    * stopword presence, repetition bound — each emitted as its own
    * flag plus the conjunctive keep decision, so downstream can audit
    * which rule rejected a document. All signals are exact counts or
    * exact-integer ratios. */
  def qualityFilter(docs: DataFrame): DataFrame =
    qualityFlags(docs)
      .select("doc_id", "n_words", "mean_wl", "n_stop", "pass_len",
        "pass_word_len", "pass_stop", "pass_rep", "keep")

  /** [[qualityFilter]]'s signals appended to every column of `docs`,
    * so a caller can filter its own rows on `keep` in place. */
  def qualityFlags(docs: DataFrame): DataFrame = {
    val stops = array(StopWords.map(lit): _*)
    docs
      .withColumn("tk", tokens(col("text")))
      .withColumn("n_words", size(col("tk")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("tk"))).cast("long"))
      .withColumn("sum_wl", expr("aggregate(tk, 0L, (a, t) -> a + length(t))"))
      .withColumn("mean_wl", col("sum_wl").cast("double") / col("n_words"))
      .withColumn("n_stop",
        size(array_intersect(array_distinct(col("tk")), stops)).cast("long"))
      .withColumn("pass_len", col("n_words") >= 10 && col("n_words") <= 1000)
      .withColumn("pass_word_len", col("mean_wl") >= 2.0 && col("mean_wl") <= 8.0)
      .withColumn("pass_stop", col("n_stop") >= 2)
      .withColumn("pass_rep",
        (col("n_words") - col("n_distinct")) * 2 <= col("n_words"))
      .withColumn("keep",
        col("pass_len") && col("pass_word_len") && col("pass_stop") &&
          col("pass_rep"))
      .drop("tk", "n_distinct", "sum_wl")
  }

  /** Sketch-accuracy evaluation: minhash-estimated jaccard
    * (matching-signature-component fraction, the unbiased minhash
    * estimator) vs the true shingle-set jaccard, per candidate pair
    * inside explicit blocks. The evidence query for trusting the
    * minhash dedup path: est_sim is what LSH banding thresholds on,
    * jac is ground truth. Output: doc_a, doc_b, n_sig_match, est_sim,
    * jac. */
  def minHashAccuracyPairs(docs: DataFrame, blockCols: Seq[String]): DataFrame = {
    val sh = docs.select(
      (col("doc_id") +: blockCols.map(col)) :+
        HashExpressions.shingleHashes(col("text"), 5).as("hs"): _*)
      .withColumn("sig", HashExpressions.minHashSig(col("hs")))
    val a = sh.select(
      (col("doc_id").as("doc_a") +: blockCols.map(col)) :+
        col("hs").as("hs_a") :+ col("sig").as("sig_a"): _*)
    val b = sh.select(
      (col("doc_id").as("doc_b") +: blockCols.map(col)) :+
        col("hs").as("hs_b") :+ col("sig").as("sig_b"): _*)
    a.join(b, blockCols)
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("n_sig_match", expr(
        "aggregate(zip_with(sig_a, sig_b," +
          " (x, y) -> CASE WHEN x = y THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)," +
          " CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
      .withColumn("est_sim",
        col("n_sig_match").cast("double") / MinHashA.size)
      .withColumn("jac",
        HashExpressions.sortedJaccard(col("hs_a"), col("hs_b")))
      .select("doc_a", "doc_b", "n_sig_match", "est_sim", "jac")
  }

  /** Hybrid semantic+lexical near-dup detection — the two-stage
    * pipeline production dedup actually runs: (1) cheap LSH banding
    * over embeddings proposes candidate pairs (never all-pairs),
    * (2) an exact cosine gate keeps semantically-close pairs,
    * (3) the surviving pairs are verified LEXICALLY with true
    * token-set jaccard on the documents — embeddings find paraphrases
    * that shingles miss, the text check separates true duplicates from
    * mere topical neighbors. Only stage-3 touches document text, and
    * only for the (few) cosine-gated pairs. Output: doc_a, doc_b,
    * cosine, jac, is_dup (= jac ≥ jacThreshold). */
  def hybridNearDupPairs(docs: DataFrame, embeddings: DataFrame,
      nPlanes: Int, nBands: Int,
      cosineThreshold: Double, jacThreshold: Double): DataFrame = {
    val undirected = Similarity
      .lshCandidatePairs(embeddings, nPlanes, nBands)
      .filter(col("query_id") < col("neighbor_id"))
      .select(col("query_id").as("doc_a"), col("neighbor_id").as("doc_b"))
    val side = embeddings.select(col("vec_id"), col("embedding"),
      Similarity.l2Norm(col("embedding")).as("nrm"))
    val gated = undirected
      .join(side.select(col("vec_id").as("doc_a"),
        col("embedding").as("e_a"), col("nrm").as("n_a")), "doc_a")
      .join(side.select(col("vec_id").as("doc_b"),
        col("embedding").as("e_b"), col("nrm").as("n_b")), "doc_b")
      .withColumn("cosine",
        Similarity.dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")))
      .filter(col("cosine") >= cosineThreshold)
      .select("doc_a", "doc_b", "cosine")
    val toks = docs.select(col("doc_id"),
      array_sort(tokenHashes(tokenSet(col("text")))).as("hs"))
    gated
      .join(toks.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(toks.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
      .withColumn("jac",
        HashExpressions.sortedJaccard(col("hs_a"), col("hs_b")))
      .withColumn("is_dup", col("jac") >= jacThreshold)
      .select("doc_a", "doc_b", "cosine", "jac", "is_dup")
  }

  /** Split documents into fixed-size token windows with stride — the
    * training-prep chunking step (context-window packing). Chunk c
    * covers tokens [c·stride+1, c·stride+chunkTokens]; the tail chunk
    * is the possibly-short remainder; empty docs yield no chunks. A
    * pure narrow generate (explode of in-row slices): no shuffle, no
    * state, scales linearly. Output: doc_id, chunk_idx, chunk_text,
    * n_tokens, then the `carry` columns of `docs` copied onto each of
    * the document's chunks. */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int, stride: Int,
      carry: Seq[String] = Nil): DataFrame = {
    require(stride > 0 && chunkTokens > 0, "positive chunk/stride")
    docs
      .withColumn("tk", tokens(col("text")))
      .withColumn("start",
        explode(sequence(lit(0), greatest(size(col("tk")) - 1, lit(0)),
          lit(stride))))
      .withColumn("chunk_tk",
        slice(col("tk"), col("start") + 1, lit(chunkTokens)))
      .filter(size(col("chunk_tk")) > 0)
      .select(Seq(
        col("doc_id"),
        (col("start") / stride).cast("long").as("chunk_idx"),
        concat_ws(" ", col("chunk_tk")).as("chunk_text"),
        size(col("chunk_tk")).cast("long").as("n_tokens")) ++
        carry.map(col): _*)
  }

  /** Benchmark decontamination: flag corpus documents sharing ≥
    * `minMatches` distinct token n-grams with ANY document of a probe
    * set (the held-out benchmark). The standard pretraining hygiene
    * pass (GPT-3 appendix C uses 13-gram overlap; `n` here is a
    * parameter). Grams are polynomial-hashed token windows, the probe
    * gram set is collected once and broadcast (a benchmark is small by
    * definition — at 100 TB the corpus side stays a narrow scan +
    * broadcast semi-join, no shuffle of the corpus). Output: doc_id,
    * n_grams, n_matched, contaminated. */
  /** The SQL-HOF token-n-gram formulation — the cross-engine spec the
    * oracles mirror. The operators themselves use the native one-pass
    * [[HashExpressions.TokenNGramHashes]]; the two are cross-checked
    * bit-exact in HashExprSpec. */
  private[graft] def gramHashesHof(n: Int)(tk: org.apache.spark.sql.Column) =
    when(size(tk) < n, array().cast("array<bigint>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), size(tk) - (n - 1)),
        i => HashExpressions.polyHash(
          concat_ws(" ", slice(tk, i, lit(n)))))))

  def contaminationCheck(docs: DataFrame, probes: DataFrame, n: Int,
      minMatches: Int): DataFrame = {
    val probeGrams = probes
      .select(explode(HashExpressions.tokenNGramHashes(col("text"), n)).as("g"))
      .distinct()
      .agg(sort_array(collect_set("g")).as("pg"))
    docs
      .withColumn("grams", HashExpressions.tokenNGramHashes(col("text"), n))
      .crossJoin(broadcast(probeGrams))
      .select(
        col("doc_id"),
        size(col("grams")).cast("long").as("n_grams"),
        size(array_intersect(col("grams"), col("pg"))).cast("long")
          .as("n_matched"))
      .withColumn("contaminated", col("n_matched") >= minMatches)
  }

  /** Native bloom-membership probe for [[contaminationCheckBloom]]:
    * Spark's own `BloomFilterMightContain` (the expression its runtime
    * row-group filtering plans) over the serialized filter literal —
    * identical `mightContainLong` semantics to the Scala-UDF wrapper
    * this replaced, but codegen-capable and boxing-free per element. */
  private def bloomMightContain(bytes: Array[Byte], g: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(lit(bytes)),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(g)))

  /** Bloom-prefiltered decontamination — the 100 TB form of
    * [[contaminationCheck]]. That operator broadcasts the EXACT probe
    * gram set to every task; at a few hundred million benchmark grams
    * the broadcast is GBs. Here the corpus side sees only a bloom
    * filter (~9.6 bits/gram at 1% fpp — order-of-magnitude smaller),
    * keeps the grams that might be probe grams, and only those
    * candidate (doc, gram) pairs flow into an exact confirm join
    * against the probe gram table. The result is still EXACT: a bloom
    * filter has no false negatives, so every true match survives the
    * prefilter, and false positives are eliminated by the confirm join
    * (they cost shuffle bytes, never correctness) — which is why q68
    * shares the plain exact-overlap oracle shape with q43.
    *
    * The same pattern drives Spark's own runtime row-group filtering
    * (InjectRuntimeFilter): bloom where the exact set is too big to
    * ship, exact join where it matters. Output: doc_id, n_grams,
    * n_matched, contaminated. */
  def contaminationCheckBloom(docs: DataFrame, probes: DataFrame, n: Int,
      minMatches: Int, fpp: Double = 0.01,
      pin: DataFrame => Unit = OperatorCaches.register,
      fastGrams: Boolean = false): DataFrame = {
    def grams(c: Column) = gramHashesOf(c, n, fastGrams)
    val probeG = probeGramTable(probes, grams)
    probeBloom(probeG, fpp) match {
      case Some(bf) =>
        bloomConfirm(Parallelism.widen(docs), probeG, bf, grams, minMatches, pin)
      // empty benchmark ⇒ nothing can be contaminated (the documented
      // no-benchmark skip path in CurateCorpus)
      case None => docs.select(col("doc_id"),
          size(grams(col("text"))).cast("long").as("n_grams"))
        .withColumn("n_matched", lit(0L))
        .withColumn("contaminated", col("n_matched") >= minMatches)
    }
  }

  /** The documents of `docs` (all columns) that [[contaminationCheckBloom]]
    * does NOT flag — decontamination as a filter. A benchmark is small
    * by definition, so ONE bounded narrow scan usually collects its
    * whole gram set: empty ⇒ `docs` unchanged; otherwise every
    * document is matched in-row against the distinct set, with no
    * bloom filter and no join — one narrow pass over `docs` in its own
    * partitioning (callers spread a narrow input first). Past
    * 10⁶ probe grams (repeats included — 8 MB of longs, below Spark's
    * default broadcast and result-size limits), `docs` anti-joins the
    * flagged ids of [[contaminationCheckBloom]]'s bloom + confirm
    * path, run on `docs` as given: `Parallelism.widen` would call
    * `.rdd` on it, which leaves an Observation on `docs` reading 0. */
  def decontaminate(docs: DataFrame, probes: DataFrame, n: Int,
      minMatches: Int, fpp: Double = 0.01,
      pin: DataFrame => Unit = OperatorCaches.register,
      fastGrams: Boolean = false): DataFrame = {
    def grams(c: Column) = gramHashesOf(c, n, fastGrams)
    val spark = probes.sparkSession
    import spark.implicits._
    val raw = probes.select(explode(grams(col("text")))).as[Long]
      .limit(DriverProbeGrams + 1).collect()
    if (raw.isEmpty) docs
    else if (raw.length <= DriverProbeGrams)
      docs.filter(matchedGrams(grams(col("text")), raw.distinct) < minMatches)
    else {
      val probeG = probeGramTable(probes, grams)
      docs.join(
        bloomConfirm(docs, probeG, probeBloom(probeG, fpp).get, grams,
          minMatches, pin).filter(col("contaminated")).select("doc_id"),
        Seq("doc_id"), "left_anti")
    }
  }

  /** Most probe grams [[decontaminate]] holds on the driver. */
  private val DriverProbeGrams = 1000000

  /** Count of `grams` elements in `pg` (a hash-set lookup per element). */
  private def matchedGrams(grams: Column, pg: Array[Long]): Column = {
    val set: Set[Any] = pg.toSet
    size(filter(grams, g => org.apache.spark.sql.graftbridge.ColumnBridge
      .column(org.apache.spark.sql.catalyst.expressions.InSet(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(g), set))))
      .cast("long")
  }

  private[graft] def probeGramTable(probes: DataFrame,
      grams: Column => Column): DataFrame =
    probes.select(explode(grams(col("text"))).as("g")).distinct()

  /** The bloom filter over a probe gram table, sized for its distinct
    * gram count (a filter sized below its item count saturates and
    * passes nearly every corpus gram to the confirm join); None when
    * the table is empty, where Spark's `bloomFilter` would NPE. A
    * driver-side build over the benchmark side, small by definition. */
  private[graft] def probeBloom(probeG: DataFrame,
      fpp: Double): Option[org.apache.spark.util.sketch.BloomFilter] = {
    val n = probeG.count()
    if (n == 0) None else Some(probeG.stat.bloomFilter("g", n, fpp))
  }

  /** [[contaminationCheckBloom]] over a non-empty probe gram table
    * `probeG` and its [[probeBloom]] filter `bf`: the filter prefilters
    * the corpus grams, and an exact join confirms the candidates. */
  private def bloomConfirm(docs: DataFrame, probeG: DataFrame,
      bf: org.apache.spark.util.sketch.BloomFilter,
      grams: Column => Column, minMatches: Int,
      pin: DataFrame => Unit): DataFrame = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val bfBytes = bos.toByteArray
    // The gram table is computed ONCE, cached, and eagerly
    // materialized (lifecycle via `pin` as in Dedup.minHashBandRel):
    // the plan below reads `grams` three times (size, bloom filter,
    // explode), and projection collapse would otherwise inline the
    // expensive hash pipeline into every reference — measured 3×
    // the whole operator's cost. At 100 TB this intermediate is the
    // gram INDEX a pipeline materializes to disk once per corpus
    // version, exactly like the minhash band index.
    val g = docs
      .select(col("doc_id"), grams(col("text")).as("grams"))
      .cache()
    pin(g)
    g.count()
    val pruned = g.select(col("doc_id"),
      size(col("grams")).cast("long").as("n_grams"),
      filter(col("grams"), bloomMightContain(bfBytes, _)).as("cands"))
    // explode_outer keeps zero-candidate docs as one null-gram row, so
    // the whole corpus flows through ONE pass — no second scan to
    // recover the n_matched=0 docs
    val pairs = pruned.select(col("doc_id"), col("n_grams"),
      explode_outer(col("cands")).as("g"))
    pairs
      .join(probeG.withColumn("hit", lit(1L)), Seq("g"), "left")
      .groupBy("doc_id", "n_grams")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_matched"))
      .withColumn("contaminated", col("n_matched") >= minMatches)
      .select("doc_id", "n_grams", "n_matched", "contaminated")
  }

  /** Contiguous sequence packing (concat-and-chunk): assign documents
    * to fixed-token-budget training sequences by cumulative token
    * count, in deterministic doc_id order within (source, shard). The
    * standard pretraining batching step — documents are concatenated
    * into `budget`-token sequences; a document belongs to the sequence
    * its first token lands in.
    *
    * Contiguous packing is inherently sequential, so the scale-out form
    * packs within hash shards: the running sum is a window over
    * (source, shard) — `nShards`×|sources|-way parallel, never a global
    * single-partition window. Shard = doc_id mod nShards (integer,
    * engine-independent). Output per sequence: source, shard, seq_id,
    * n_docs, seq_tokens, first_doc, last_doc. */
  def packSequences(docs: DataFrame, budget: Long, nShards: Int): DataFrame = {
    val w = Window.partitionBy("source", "shard").orderBy("doc_id")
    docs
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("shard", pmod(col("doc_id"), lit(nShards.toLong)))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("seq_id", expr(s"(cum - n_tok) div $budget"))
      .groupBy("source", "shard", "seq_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("seq_tokens"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
  }

  /** Importance weighting against a target domain (the DSIR shape —
    * Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling" — with the log-likelihood ratio replaced by
    * an integer-rational ratio so the score is exact cross-engine):
    * per-token weight w(t) = ⌊scale·(tc+1)/(cc+1)⌋ where tc/cc are the
    * token's unigram counts in the target slice vs the whole corpus
    * (add-one smoothed); a document's score is the sum of w over its
    * token occurrences. avg_score ≈ scale·P_target/P_corpus, so
    * `target_like` (avg_score ≥ scale) marks documents whose unigram
    * profile leans toward the target domain — the resampling key for
    * domain upweighting.
    *
    * Shape: one token explode feeding both count tables (target counts
    * are a filtered re-aggregation, not a second scan of the corpus at
    * the engine level — Spark reuses the exchange), then a term-keyed
    * join back and a doc-keyed partial agg. Never a cross join; the
    * weight table is corpus-vocabulary-sized and shuffles on term.
    *
    * `target_like` compares a document's avg_score against the
    * corpus-wide target token rate thr = ⌊scale·T/C⌋ (T, C = total
    * target/corpus token counts): w(t) is ~scale·tc/cc, which scales
    * with the target fraction T/C, so the neutral point — "this
    * document's unigram profile is exactly corpus-average" — sits at
    * scale·T/C, not at scale. Documents above thr lean toward the
    * target domain. Output: doc_id, n_tokens, score_sum, avg_score,
    * target_like. */
  def importanceWeights(docs: DataFrame, targetPred: Column,
      scale: Long = 1000000L): DataFrame = {
    // occurrences collapse to per-(doc, term) counts before any join
    // (same move as bigramLmScores — measured 2.5× there): the weight
    // join scales with each document's distinct vocabulary, not its
    // length, and every downstream count is a sum of `n`
    val tokOcc = docs.select(col("doc_id"), targetPred.as("is_target"),
      explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "is_target", "term").agg(count(lit(1)).as("n"))
    val cc = tokOcc.groupBy("term").agg(sum("n").as("cc"))
    val tc = tokOcc.filter(col("is_target"))
      .groupBy("term").agg(sum("n").as("tc"))
    val w = cc.join(tc, Seq("term"), "left")
      .na.fill(0L, Seq("tc"))
      .withColumn("w", expr(s"($scale * (tc + 1)) div (cc + 1)"))
    val thr = tokOcc.agg(
      expr(s"($scale * sum(case when is_target then n else 0 end))" +
        " div sum(n)").as("thr"))
    val scored = tokOcc.join(w.select("term", "w"), "term")
      .groupBy("doc_id")
      .agg(sum("n").as("n_tokens"), sum(expr("n * w")).as("score_sum"))
    docs.select("doc_id").join(scored, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_tokens", "score_sum"))
      .crossJoin(broadcast(thr))
      .withColumn("avg_score",
        when(col("n_tokens") === 0, 0L)
          .otherwise(expr("score_sum div n_tokens")))
      .withColumn("target_like", col("avg_score") >= col("thr"))
      .select("doc_id", "n_tokens", "score_sum", "avg_score", "target_like")
  }

  /** Per-source document cap — the data-mixing governance step: no
    * single source (domain, crawl, feed) may contribute more than
    * `cap` documents, and within a source the KEPT set is the best
    * `cap` by a deterministic quality key (token count desc, doc_id
    * asc — swap in any scoring column the same way).
    *
    * Two-phase top-k (the q35 lesson): a single window partitioned by
    * `source` funnels every document of a source through one
    * partition — at 100 TB a big crawl source is billions of rows
    * through one task. Phase 1 ranks within (source, doc_id-hash
    * shard) and keeps `cap` per shard — `nShards`-way parallel; phase
    * 2 ranks the ≤ nShards·cap survivors per source — tiny by
    * construction. Identical result to the single window because any
    * source-wide top-`cap` row is also in its own shard's top-`cap`.
    * Output: source, doc_id, n_tok, rk (1..cap). */
  def perSourceCap(docs: DataFrame, cap: Int, nShards: Int = 64): DataFrame = {
    val scored = docs.select(col("doc_id"), col("source"),
      size(tokens(col("text"))).cast("long").as("n_tok"))
    val phase1 = scored
      .withColumn("shard", pmod(col("doc_id"), lit(nShards.toLong)))
      .withColumn("rk", row_number().over(
        Window.partitionBy("source", "shard")
          .orderBy(col("n_tok").desc, col("doc_id"))))
      .filter(col("rk") <= cap)
      .drop("rk", "shard")
    phase1
      .withColumn("rk", row_number().over(
        Window.partitionBy("source")
          .orderBy(col("n_tok").desc, col("doc_id"))))
      .filter(col("rk") <= cap)
      .select("source", "doc_id", "n_tok", "rk")
  }

  /** Corpus-bigram language-model scoring — the exact-arithmetic
    * analog of the CCNet/Wenzek-style LM-perplexity quality signal:
    * documents whose word transitions are typical of the corpus score
    * high, word-salad scores low. The conditional probability estimate
    * p(w2|w1) = cnt(w1 w2) / cnt(w1 ·) is kept RATIONAL (same
    * discipline as [[importanceWeights]]): per-bigram weight
    * ⌊scale·cb/cu⌋, per-document score the sum over its bigram
    * occurrences and the integer mean — bit-exact cross-engine, no
    * logs.
    *
    * Shape: one bigram explode feeds both count tables (the unigram
    * table is a re-aggregation of the same exchange), a bigram-keyed
    * join back, one doc-keyed partial agg. The LM "model" IS the
    * bigram count table — at 100 TB it is vocabulary²-bounded (far
    * below row count), shuffles on the bigram key, and would be
    * persisted once per corpus version exactly like the gram index.
    * Documents with < 2 tokens score 0 (no evidence). Output: doc_id,
    * n_bigrams, lm_sum, lm_score. */
  def bigramLmScores(docs: DataFrame, scale: Long = 1000000L): DataFrame = {
    // native one-pass bigram builder; tokens contain no whitespace, so
    // the space-joined "w1 w2" string is bijective with the pair and
    // serves as the single join/group key (w1 recovered by prefix).
    // Occurrences collapse to per-(doc, bigram) COUNTS before any join
    // — a repetitious document (the LLM-corpus norm) contributes one
    // weighted row per distinct bigram, not one per occurrence, so the
    // model joins scale with distinct structure, not text volume.
    val bgOcc = docs
      .select(col("doc_id"),
        explode(HashExpressions.tokenBigrams(col("text"))).as("bg"))
      .groupBy(col("doc_id"), col("bg"),
        substring_index(col("bg"), " ", 1).as("w1"))
      .agg(count(lit(1)).as("n"))
    val cb = bgOcc.groupBy("bg").agg(sum("n").as("cb"))
    val cu = bgOcc.groupBy("w1").agg(sum("n").as("cu"))
    val scored = bgOcc
      .join(cb, Seq("bg")).join(cu, Seq("w1"))
      .withColumn("p", expr(s"($scale * cb) div cu"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_bigrams"), sum(expr("n * p")).as("lm_sum"))
    docs.select("doc_id").join(scored, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_bigrams", "lm_sum"))
      .withColumn("lm_score",
        when(col("n_bigrams") === 0, 0L)
          .otherwise(expr("lm_sum div n_bigrams")))
      .select("doc_id", "n_bigrams", "lm_sum", "lm_score")
  }

  /** Corpus version diff — the audit step between two corpus
    * versions (yesterday's curated set vs today's): every doc_id is
    * classified added / removed / modified / unchanged by comparing
    * content FINGERPRINTS, so the join shuffles two longs per
    * document, never the text. At 100 TB this is one doc_id-keyed
    * full-outer hash join of two narrow (id, hash) projections — the
    * cheapest possible answer to "what did this pipeline change?",
    * and the input to incremental downstream work (only added/modified
    * docs re-enter dedup/index maintenance). Output: doc_id, status. */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(col("doc_id"),
      HashExpressions.polyHash(col("text")).as("h_old"))
    val n = newDocs.select(col("doc_id"),
      HashExpressions.polyHash(col("text")).as("h_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") === col("h_new"), "unchanged")
          .otherwise("modified").as("status"))
  }

  /** Deterministic training-order shuffle with a GLOBAL rank — the
    * export step of a curated corpus: training wants documents in a
    * reproducible pseudo-random order (same seed → same order, on any
    * cluster, any partitioning), with an explicit position so shards
    * and resume points are addressable.
    *
    * Order key: the polynomial hash of "seed:doc_id" alone is NOT a
    * shuffle — a base-31 polynomial is monotone in the trailing digits
    * for same-length ids (observed: near-identity permutations), so
    * the hash is scrambled by squaring mod P twice (the same
    * square-for-independence trick the LSH plane family uses; one
    * squaring still leaves adjacent runs when the hash lands near
    * P/2). All integer arithmetic — an external SQL engine reproduces
    * the permutation exactly (q74's oracle) — with doc_id as
    * tiebreak. The global rank is NOT a global window
    * (single-partition sort — the q04 anti-pattern): the key is
    * uniform on [0, P) with P < 2³⁰, so its top b bits split it into
    * ~0.93·2ᵇ ordered buckets of near-equal size, b sized to ~8
    * buckets per shuffle partition (2¹⁰ to 2¹⁶ buckets). One
    * aggregation counts rows per bucket and the driver prefix-sums
    * those counts (2ᵇ longs, not data); a row's rank is its bucket's
    * offset plus its row_number within the bucket in (key, doc_id)
    * order — a window partitioned by bucket, as wide as the session's
    * shuffle, so every stage stays parallel. Both passes
    * are SQL, so the count pass is an action that completes any
    * Observation on `docs`. Output: doc_id, shuffle_key, the `carry`
    * columns of `docs`, rank (1-based) — carrying the payload spares
    * a caller the join back on doc_id. */
  def shuffleRank(docs: DataFrame, seed: Long,
      carry: Seq[String] = Nil): DataFrame = {
    val P = 1000000007L
    val h = HashExpressions.polyHash(
      concat_ws(":", lit(seed.toString), col("doc_id").cast("string")))
    val h2 = pmod(h * h, lit(P))
    val width = 8L * Parallelism.wideN(docs.sparkSession)
    val bits = math.min(16, math.max(10,
      64 - java.lang.Long.numberOfLeadingZeros(width - 1))) // ⌈log₂ width⌉
    val bucketBits = 30 - bits // 30-bit key → 2^bits buckets
    val keyed = docs
      .select(Seq(col("doc_id"), pmod(h2 * h2, lit(P)).as("shuffle_key")) ++
        carry.map(col): _*)
      .withColumn("rank_bucket", shiftright(col("shuffle_key"), bucketBits))
    val perBucket = new Array[Long](1 << bits)
    keyed.groupBy("rank_bucket").count().collect()
      .foreach(r => perBucket(r.getLong(0).toInt) = r.getLong(1))
    val offsets = perBucket.scanLeft(0L)(_ + _).init
    keyed
      .withColumn("rank",
        element_at(typedLit(offsets), col("rank_bucket").cast("int") + 1) +
          row_number().over(Window.partitionBy("rank_bucket")
            .orderBy("shuffle_key", "doc_id")))
      .drop("rank_bucket")
  }

  /** Exact token-budget prefix of the deterministic shuffle order —
    * "give me exactly the first `budget` tokens' worth of this corpus,
    * reproducibly": the sampling step training runs when a corpus is
    * larger than the compute budget. Documents are ordered by the SAME
    * seeded shuffle key as [[shuffleRank]] (so the prefix is a stable,
    * addressable corpus slice) and kept while the running token total
    * BEFORE the document is under `budget` — the boundary doc that
    * crosses the budget is kept (truncate-in-training semantics).
    *
    * The global running sum is NOT a global window: rows are
    * range-partitioned on the key, per-partition token sums (one long
    * each) prefix-sum on the driver, and a second narrow pass adds
    * each partition's offset to its local cumsum — the `zipWithIndex`
    * trick generalized from counts to sums. One range shuffle total;
    * every stage parallel. Output
    * (selected docs only): doc_id, shuffle_key, n_tok, cum_tokens
    * (inclusive). */
  def tokenBudgetPrefix(docs: DataFrame, budget: Long, seed: Long): DataFrame = {
    val spark = docs.sparkSession
    val P = 1000000007L
    val h = HashExpressions.polyHash(
      concat_ws(":", lit(seed.toString), col("doc_id").cast("string")))
    val h2 = pmod(h * h, lit(P))
    val keyed = docs
      .select(col("doc_id"), pmod(h2 * h2, lit(P)).as("shuffle_key"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .repartitionByRange(col("shuffle_key"), col("doc_id"))
      .sortWithinPartitions("shuffle_key", "doc_id")
    val rdd = keyed.rdd
    // pass 1: one token-sum long per partition → driver prefix sums
    val partSums = rdd.mapPartitionsWithIndex { (pi, it) =>
      var s = 0L
      it.foreach(r => s += r.getLong(2))
      Iterator((pi, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partSums.scanLeft(0L)(_ + _) // offsets(pi) = tokens before partition pi
    // pass 2: local cumsum + offset; emit while the doc STARTS under budget
    val selected = rdd.mapPartitionsWithIndex { (pi, it) =>
      var cum = offsets(pi)
      it.flatMap { r =>
        val before = cum
        cum += r.getLong(2)
        if (before < budget)
          Some(org.apache.spark.sql.Row(r.getLong(0), r.getLong(1),
            r.getLong(2), cum))
        else None
      }
    }
    spark.createDataFrame(selected,
      org.apache.spark.sql.types.StructType(keyed.schema.fields :+
        org.apache.spark.sql.types.StructField("cum_tokens",
          org.apache.spark.sql.types.LongType, nullable = false)))
  }

  /** Gram-hash family selector: the 31-base polyhash is the
    * oracle-exact default (DuckDB can reproduce it); `fast` swaps in
    * [[HashExpressions.tokenNGramXxHashes]] — identical tokenization,
    * per-token xxhash64 + window combine, O(len + windows·n) instead
    * of O(len·n) — for production runs where the oracle isn't in the
    * loop. Operator OUTPUT is identical whenever neither family
    * collides (pinned by CorpusSpec parity tests). */
  private def gramHashesOf(c: Column, n: Int, fast: Boolean): Column =
    if (fast) HashExpressions.tokenNGramXxHashes(c, n)
    else HashExpressions.tokenNGramHashes(c, n)

  /** Sub-document duplication signal (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — the n-gram
    * approximation of their suffix-array ExactSubstr): for every
    * document, the fraction of its distinct token n-gram spans that
    * occur in at least `minDf` corpus documents. Exact-dedup finds
    * identical documents; THIS finds boilerplate — headers, license
    * blocks, templated text — repeated inside otherwise-unique docs.
    *
    * Shape: narrow gram hashing → one shuffle on gram hash for the
    * document-frequency count (partial-agg collapses heavy grams
    * map-side) → one shuffle back on doc_id. Never pairs, never N².
    * Output: doc_id, n_spans, n_dup_spans, dup_frac. */
  def duplicateSpanStats(docs: DataFrame, n: Int, minDf: Int = 2,
      fastGrams: Boolean = false): DataFrame = {
    val g = docs.select(col("doc_id"),
      explode(gramHashesOf(col("text"), n, fastGrams)).as("g"))
    // per-doc distinct grams ⇒ count(*) per gram = document frequency
    val dfreq = g.groupBy("g").agg(count(lit(1)).as("df"))
    val per = g.join(dfreq, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_dup_spans"))
    docs.select("doc_id").join(per, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_spans", "n_dup_spans"))
      .withColumn("dup_frac",
        when(col("n_spans") === 0, lit(0.0))
          .otherwise(col("n_dup_spans").cast("double") / col("n_spans")))
  }

  /** PII patterns for [[piiScan]], deliberately written in the common
    * subset of Java regex and RE2 so the operator is portable across
    * engines: email, IPv4, international-ish phone. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ipv4" -> "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b",
    "phone" -> "\\+[0-9][0-9 ()-]{6,}[0-9]")

  /** PII detection + redaction — the compliance pass a training corpus
    * runs before release: per-document match counts for each
    * [[PiiPatterns]] family plus a `redacted` text with every match
    * replaced by `[TYPE]`. Pure narrow regexp map (codegen'd
    * `regexp_count`/`regexp_replace`, no UDF); linear scan at any
    * scale. Output: doc_id, n_email, n_ipv4, n_phone, has_pii,
    * redacted. */
  def piiScan(docs: DataFrame): DataFrame = {
    val counted = PiiPatterns.foldLeft(docs) { case (df, (name, pat)) =>
      df.withColumn(s"n_$name", regexp_count(col("text"), lit(pat)).cast("long"))
    }
    val redacted = PiiPatterns.foldLeft(col("text")) { case (c, (name, pat)) =>
      regexp_replace(c, pat, s"[${name.toUpperCase}]")
    }
    counted
      .withColumn("has_pii",
        PiiPatterns.map { case (n, _) => col(s"n_$n") > 0 }.reduce(_ || _))
      .select(col("doc_id") +: PiiPatterns.map { case (n, _) => col(s"n_$n") } :+
        col("has_pii") :+ redacted.as("redacted"): _*)
  }

  /** Vocabulary coverage / out-of-vocabulary scoring — the rational
    * stand-in for a unigram-LM perplexity filter (CCNet, Wenzek et al.
    * 2020 §4.3 keeps documents whose tokens the reference LM knows):
    * the vocabulary is the top-`vocabSize` corpus terms by total count
    * (ties broken by term, so the cut is deterministic), and each
    * document is scored by its OOV-token rate plus the mean corpus
    * frequency of its tokens. All counts are exact integers; the two
    * rates are single correctly-rounded divisions of those integers,
    * so the operator carries a bit-exact SQL oracle (the same
    * no-transcendentals discipline as [[tfIdfTopTerms]]).
    *
    * Scale: one token-count shuffle (partial-agg collapses the heavy
    * head map-side), a distributed top-k (`orderBy.limit` —
    * TakeOrdered, never a global window), the tiny vocab broadcast
    * back, one shuffle to doc_id. Output: doc_id, n_tokens, n_oov,
    * oov_rate, avg_vocab_tf. */
  def vocabularyCoverage(docs: DataFrame, vocabSize: Int): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val counts = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
    val vocab = counts.orderBy(col("cnt").desc, col("term")).limit(vocabSize)
      .select(col("term"), col("cnt").as("vocab_cnt"))
    val per = toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("vocab_cnt").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(coalesce(col("vocab_cnt"), lit(0L))).as("sum_vocab_cnt"))
    docs.select("doc_id").join(per, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_tokens", "n_oov", "sum_vocab_cnt"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("n_oov").cast("double") / col("n_tokens"))
          .as("oov_rate"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("sum_vocab_cnt").cast("double") / col("n_tokens"))
          .as("avg_vocab_tf"))
  }

  /** Recall@k of the banded-LSH ANN against exact brute force, over
    * the query set `vec_id < nQueries`, at one or more (nPlanes,
    * nBands, probeBits) operating points — the evidence query for the
    * LSH bucketing knobs. Bits-per-band trades candidate volume (cost,
    * ∝ nBands·N²/2^bits) against exactly this recall number: for a
    * pair at angle θ each plane agrees with probability p = 1 − θ/π,
    * a band of b bits collides with p^b, and any-of-nBands gives
    * 1 − (1−p^b)^nBands — so wide bands are cheap and low-recall,
    * narrow bands expensive and high-recall. Multi-probe (probeBits,
    * see [[Similarity.lshCandidatePairs]]) is the third axis: recall
    * between those extremes at a fraction of narrow-band cost. One
    * summary row per config: config, n_queries, expected (= k per
    * query), hits (ANN pairs that are true top-k), recall. */
  def lshRecallAtK(embeddings: DataFrame, dim: Int,
      configs: Seq[(Int, Int, Int)], k: Int, nQueries: Int): DataFrame = {
    // the exact brute-force ranking is shared ground truth for every
    // config branch of the union — pin and materialize it eagerly
    // (branch stages run concurrently, so a lazy cache is missed by
    // all of them; lifecycle as in Dedup.minHashLshPairs)
    val exact = Similarity
      .bruteForceTopK(embeddings.filter(col("vec_id") < nQueries), embeddings, k)
      .select("query_id", "neighbor_id")
      .cache()
    OperatorCaches.register(exact)
    exact.count()
    // count once for all config branches: feeds each lshTopK's
    // zero-job bounded-escape decision (pairBound = n²)
    val nVecs = embeddings.count()
    configs.map { case (nPlanes, nBands, probeBits) =>
      val approx = Similarity
        .lshTopK(embeddings, dim, nPlanes, nBands, k, probeBits,
          nRows = nVecs)
        .filter(col("query_id") < nQueries)
        .select(col("query_id"), col("neighbor_id"), lit(true).as("found"))
      val label = s"${nPlanes}p${nBands}b" +
        (if (probeBits > 0) s"+mp$probeBits" else "")
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .agg(
          countDistinct("query_id").as("n_queries"),
          count(lit(1)).as("expected"),
          sum(when(col("found"), lit(1L)).otherwise(lit(0L))).as("hits"))
        .withColumn("recall", col("hits").cast("double") / col("expected"))
        .select(lit(label).as("config"),
          col("n_queries"), col("expected"), col("hits"), col("recall"))
    }.reduce(_ unionAll _)
  }

  /** Domain-mixture resampling: down-sample each stratum so the kept
    * corpus matches a target mixture EXACTLY (the "data recipe" step
    * of a training pipeline — e.g. 50% web / 30% wiki / 20% code).
    *
    * Weights are integer parts (e.g. 5/3/2 of 10) so every quantity
    * stays in exact integer arithmetic: with `W = Σ parts` and `n_d`
    * docs in stratum `d`, the largest total `T` hitting the mixture
    * without upsampling any stratum is `min_d ⌊n_d·W / part_d⌋`, and
    * stratum `d` keeps `⌊part_d·T / W⌋` docs. Selection within a
    * stratum is the repo's deterministic hash-rank sample (polynomial
    * content hash, doc_id tie break) — reproducible across runs,
    * engines, and cluster sizes, unlike `TABLESAMPLE`.
    *
    * Scale: one tiny per-stratum count aggregate broadcast back, one
    * per-stratum window. Strata counts are few (domains, not keys);
    * the window partitions by stratum, so a hot stratum bounds a
    * partition — at 100 TB swap the rank filter for the equivalent
    * `bucket < take_d·mod/n_d` hash-threshold predicate (no sort) once
    * exact take counts stop mattering. Output: doc_id, stratum, rk. */
  def mixtureResample(docs: DataFrame, strataCol: String,
      parts: Map[String, Long]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = parts.values.sum
    val part = parts.foldLeft(lit(null).cast("long")) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    val sized = docs
      .withColumn("part", part)
      .filter(col("part").isNotNull)
    val counts = sized.groupBy(col(strataCol), col("part"))
      .agg(count(lit(1)).as("n_d"))
    val t = counts
      .agg(min(floor(col("n_d") * w / col("part"))).as("t"))
    val takes = counts.crossJoin(broadcast(t))
      .select(col(strataCol),
        floor(col("part") * col("t") / w).as("take_d"))
    sized
      .withColumn("rk", row_number().over(
        Window.partitionBy(strataCol)
          .orderBy(HashExpressions.polyHash(col("text")), col("doc_id"))))
      .join(broadcast(takes), strataCol)
      .filter(col("rk") <= col("take_d"))
      .select(col("doc_id"), col(strataCol).as("stratum"), col("rk"))
  }

  /** Per-language adaptive quality threshold: instead of one global
    * cutoff (which over-prunes low-resource languages whose score
    * distribution sits lower), keep the top `keepPermille`‰ of each
    * language by lexical-diversity score. Score is integer-exact:
    * `⌊distinct_tokens·10000 / tokens⌋`; the cutoff is a rank
    * quantile (`percent_rank` with a full deterministic order —
    * score desc, doc_id asc — so ranks, and therefore the kept set,
    * are unique and engine-independent). Output: doc_id, lang,
    * score, pr, kept. */
  def adaptiveQualityFilter(docs: DataFrame, keepPermille: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs
      .withColumn("tk", tokens(col("text")))
      .withColumn("score",
        floor(size(array_distinct(col("tk"))).cast("long") * 10000L /
          greatest(size(col("tk")).cast("long"), lit(1L))))
      .withColumn("pr", percent_rank().over(
        Window.partitionBy("lang")
          .orderBy(col("score").desc, col("doc_id"))))
      .withColumn("kept", col("pr") * 1000 <= keepPermille)
      .select("doc_id", "lang", "score", "pr", "kept")
  }
}
