package graft.operators

import graft.functions.HashExpressions
import graft.functions.TextFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators over a documents table (`doc_id`, `text`,
  * blocking columns). Scale posture for every variant: never an
  * all-pairs cross join — pairs are generated through hash buckets
  * (exact), LSH bands (minhash), or explicit block columns (bounded
  * blocks), so the shuffle key is always a bucket id and the work is
  * Σ block² over small blocks, not N².
  */
object Dedup {

  /** Conservative bytes-per-row estimate for the minhash band relation
    * (the ~3.8 KB distinct-shingle hash array dominates; ids/hashes
    * are noise next to it) — input to [[Parallelism.hashBuildFits]]
    * when the carry join's unspillable hash build is sized. */
  private val SigRowBytes = 4096L

  /** Exact duplicate grouping. Groups by a 256-bit content hash (cheap
    * shuffle key vs shuffling full texts at 100 TB), keeps min(doc_id)
    * as the canonical representative, joins group info back to every
    * row. Output: doc_id, canonical_id, dup_count.
    */
  def exactDupGroups(docs: DataFrame): DataFrame = {
    val hashed = docs.select(col("doc_id"), sha2(col("text"), 256).as("h"))
    val groups = hashed.groupBy("h").agg(
      min("doc_id").as("canonical_id"),
      count(lit(1)).as("dup_count"))
    hashed.join(groups, "h")
      .select("doc_id", "canonical_id", "dup_count")
  }

  /** Canonical (min-id) survivor ids for EXACT payload dedup keyed on
    * an arbitrary-width hash, collision-proofed by equality
    * verification — the [[exactDupGroups]] discipline for payload
    * types `sha2` cannot take directly (float arrays and other
    * non-binary columns). Keying a dedup on a bare 64-bit hash
    * silently DROPS a non-duplicate on collision, and at multi-billion
    * rows the birthday bound makes that expected, not hypothetical —
    * so the hash is a PRE-FILTER only: phase 1 groups the slim
    * (id, hash) projection (payloads never shuffle), and ONLY rows in
    * multi-member hash groups (dup candidates — for real corpora a
    * tiny fraction) shuffle their payload for a byte-equality
    * `groupBy(hash, payload)`. A collision therefore costs one extra
    * comparison, never data loss. Output: one `idCol` row per DISTINCT
    * payload — the minimum id of each truly-equal group. */
  def exactCanonicalIdsVerified(rows: DataFrame, idCol: String,
      payloadCol: String,
      hashOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        xxhash64(_)): DataFrame = {
    val hashed = rows.select(col(idCol), hashOf(col(payloadCol)).as("ph"))
    val dupHashes = hashed.groupBy("ph").agg(count(lit(1)).as("nh"))
      .filter(col("nh") > 1).select("ph")
    val singles = hashed.join(dupHashes, Seq("ph"), "left_anti")
      .select(idCol)
    val verified = rows
      .select(col(idCol), col(payloadCol), hashOf(col(payloadCol)).as("ph"))
      .join(dupHashes, "ph")
      .groupBy(col("ph"), col(payloadCol))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    singles.unionByName(verified)
  }

  /** Exact-arithmetic MinHash+LSH near-duplicate pairs (the
    * oracle-checkable variant; see [[graft.functions.TextFunctions]]).
    *
    * shingle→minhash→band→bucket-join: docs sharing ≥1 of 4 band
    * hashes become candidates; candidates are verified with true
    * token-set jaccard ≥ `threshold`. Output: doc_a, doc_b, jac.
    *
    * Cache lifecycle: the returned plan pins the signature intermediate
    * via `.cache()` (both self-join sides read it; recomputing the
    * hashing pipeline per side would double the dominant cost). The
    * entry stays in the session's CacheManager until the caller drops
    * it — one-shot jobs get it freed with the session; long-lived
    * sessions use the `pin` overload below to take ownership and
    * unpersist after materializing (CurateCorpus does exactly this per
    * run; Bench clears the whole CacheManager between queries). */
  def minHashLshPairs(docs: DataFrame, threshold: Double): DataFrame =
    minHashLshPairs(docs, threshold, OperatorCaches.register)

  /** As above, with the internal signature cache handed to `pin` so the
    * caller controls when it is unpersisted. */
  def minHashLshPairs(docs: DataFrame, threshold: Double,
      pin: DataFrame => Unit): DataFrame =
    minHashLshPairs(docs, threshold, pin, "auto")

  /** Upper bound on the CANDIDATE (hence output) pair volume of
    * [[minHashLshPairs]] over `docs`: Σ over band buckets of
    * n·(n−1)/2. One narrow agg over the cached band rel; the rel is
    * plan-identical to the one a subsequent pairs/groups call builds,
    * so the session CacheManager shares the materialized signatures —
    * the estimate does not double the hashing cost. This is the
    * routing statistic for the quadratic-output regime: on Zipfian
    * duplicate families the TRUE pair set grows ~Σ family², so a
    * caller that only needs survivors/labels should switch to
    * [[lshDupGroups]] (edge volume ≤ nBands·N) when this bound blows
    * past its budget — see [[graft.app.CurateCorpus]] `dedupMode`. */
  def lshPairBound(docs: DataFrame,
      pin: DataFrame => Unit = OperatorCaches.register): Long =
    // lazy: the bound's one aggregation is a single scan of the rel,
    // which populates the signature cache for the caller's next step
    bucketStatsOf(minHashBandRel(docs, pin, eager = false)).pairBound

  /** The band-bucket statistics a minhash pair generator reads, all
    * from ONE aggregation per call: `pairBound` = Σ candidate pairs
    * (the `maxOutputPairs` guard, [[lshPairBound]]), `maxBucketPairs`
    * = the largest bucket's pair proxy (`auto`'s per-task test) and
    * `rows` = the hash-build rows (`auto`'s and a forced carry's fit
    * check). */
  private[graft] final case class BucketStats(pairBound: Long,
      maxBucketPairs: Long, rows: Long)

  /** [[BucketStats]] of a band rel (buckets of n docs: Σ n·(n−1)/2,
    * max n², Σ n). */
  private[graft] def bucketStatsOf(bandRel: DataFrame): BucketStats = {
    val st = bandRel.groupBy("band_idx", "band_hash")
      .agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(col("n") * (col("n") - 1) / 2), lit(0L)).cast("long"),
        coalesce(max(col("n") * col("n")), lit(0L)),
        coalesce(sum(col("n")), lit(0L))).head
    BucketStats(st.getLong(0), st.getLong(1), st.getLong(2))
  }

  /** `maxOutputPairs` (>0 to enable): refuse to run when the candidate
    * pair bound Σ_bucket n·(n−1)/2 exceeds it. The pair OUTPUT is
    * data-quadratic inside a duplicate family (a b-member family is
    * ~b²/2 true pairs — at the gen_skew campaign scale one 37 500-doc
    * family alone is ~7×10⁸ rows, unenumerable by ANY engine), so a
    * 100 TB caller that only needs survivors must not be able to
    * materialize it by accident: the guard throws with the routing
    * recommendation ([[lshDupGroups]], O(nBands·N) edges) instead of
    * launching the join. Left at −1 the operator runs unbounded (the
    * gate/analysis shape, where the pair list IS the product).
    * `strategy`: auto|carry|tiled (see [[minHashPairs]]). */
  def minHashLshPairs(docs: DataFrame, threshold: Double,
      pin: DataFrame => Unit, strategy: String,
      maxOutputPairs: Long = -1L): DataFrame =
    // lazy band rel: every path below starts with a single-job full
    // scan (guard bound / auto stats / forced-carry fit count / tiled
    // per-block counts) that populates the signature cache — the
    // eager count job is redundant here
    lshPairsFrom(minHashBandRel(docs, pin, eager = false), threshold, pin,
      strategy, maxOutputPairs)

  /** [[minHashLshPairs]] over an existing band rel (shared with a
    * caller that already scanned it), with its [[BucketStats]] when
    * that caller already computed them. */
  private[graft] def lshPairsFrom(bandRel: DataFrame, threshold: Double,
      pin: DataFrame => Unit, strategy: String,
      maxOutputPairs: Long, known: Option[BucketStats] = None): DataFrame =
    minHashPairs("minHashLshPairs", bandRel,
      bandRel.select(col("band_idx"), col("band_hash"),
        col("doc_id").as("doc_b"), col("hs").as("hs_b")),
      known.getOrElse(bucketStatsOf(bandRel)), threshold, pin, strategy,
      maxOutputPairs, col("doc_a") < col("doc_b"), Seq("doc_a", "doc_b", "jac"))(
      TiledKernels.blockJaccardPairs(_, threshold, pin = pin))

  /** The minhash pair body shared by [[minHashLshPairs]] and
    * [[incrementalNearDupPairs]]: the `maxOutputPairs` guard, the
    * carry/tiled pick, then the carry band join with its in-join verify
    * or the `tiled` kernel over the a side's tile rel. `aBands` is the
    * probe band rel (doc_id, hs, band_idx, band_hash); `b` carries
    * band_idx, band_hash, doc_b, hs_b and whatever else `outCols`
    * names; `pairPred` keeps each candidate pair once. `stats` is
    * evaluated at most once — by the guard, auto's pick or a forced
    * carry's fit check; a forced unguarded tiled call runs none.
    *
    * Strategy variant. `"carry"` — arrays carried through the band
    * join with IN-JOIN verification, re-proven three times as the
    * right join SHAPE (STRESS.md r7 negative result, the r8 sf10
    * post-mortem of the attach shape whose per-candidate bytes filled
    * the disk, and an r9 re-test of a dispatch-guarded slim variant:
    * 3.3 s vs carry's 2.7 s at sf0.1 — attach loses on stage count at
    * small scale and on bytes at large scale). `"tiled"` — the same
    * verify arithmetic inside grid tiles
    * ([[TiledKernels.blockJaccardPairs]] /
    * [[TiledKernels.bipartiteJaccardPairs]]). `"auto"` picks carry
    * while NO band bucket exceeds the per-task pair target and the
    * hash build fits (the gate/uniform regime: a plain hash join, no
    * salt machinery) and tiled otherwise.
    *
    * Why tiled, not salted-carry, above the bound (sf10skew
    * post-mortem, round 9): a salted shuffle-hash join splits only the
    * PROBE stream — every salted task still BUILDS the whole bucket's
    * b side as an unspillable hash relation, so task memory grows with
    * the largest bucket. The gen_skew 37.5k-member family made that
    * ~140 MB × 32 concurrent tasks and q21/q71 died on
    * UNABLE_TO_ACQUIRE_MEMORY; sort-merge would survive but sorts the
    * multi-KB arrays (243 s / 14 GB spilled, r8). Tile memory is
    * bounded by construction (~2·√target rows per tile) regardless of
    * bucket size, and the pair predicate + jaccard fold are
    * bit-identical. */
  private def minHashPairs(op: String, aBands: DataFrame, b: DataFrame,
      stats: => BucketStats, threshold: Double, pin: DataFrame => Unit,
      strategy: String, maxOutputPairs: Long,
      pairPred: org.apache.spark.sql.Column, outCols: Seq[String])(
      tiled: DataFrame => DataFrame): DataFrame = {
    lazy val st = stats
    guardPairs(op, "maxOutputPairs", maxOutputPairs, st.pairBound)
    // carry needs BOTH: pair volume under the per-task target AND the
    // unspillable per-partition hash build to fit the execution pool
    // (SigRowBytes ≈ the ~3.8 KB shingle array)
    def fits = Parallelism.hashBuildFits(st.rows, SigRowBytes,
      aBands.sparkSession)
    val chosen = Parallelism.pickStrategy(op, strategy, Seq("carry", "tiled")) {
      val f = fits
      (if (st.maxBucketPairs <= 2e7.toLong && f) "carry" else "tiled",
        s"maxBucketPairs=${st.maxBucketPairs} buildRows=${st.rows} buildFits=$f")
    }
    if (chosen == "tiled")
      // concat_ws, not to_json: band_idx/band_hash are never-null
      // numerics, so the cheap string key is just as unique and the
      // tile rel's groupBy/exchange hash it ~3× per row
      return tiled(aBands.select(bandKey, col("doc_id").as("id"),
          col("hs").as("sh")))
        .select(outCols.map(col): _*)
        .distinct()
    // carry: plain hash band join (auto proved every bucket under the
    // pair target, so saltedBlockJoin would degenerate to exactly this
    // plus a redundant count — the r7 gate-scale shape). A FORCED
    // "carry" skipped auto's fit check, so re-run it here: the
    // unspillable hash build is dropped (sort-merge spills and
    // survives) when it provably cannot fit — forcing the join SHAPE
    // must not force the OOM.
    val carryFits = strategy != "carry" || {
      val f = fits
      if (!f) Parallelism.logDispatch(op,
        s"forced carry: buildRows=${st.rows} won't fit — " +
          "shuffle_hash hint dropped (sort-merge spills)")
      f
    }
    val a = aBands.select(col("band_idx"), col("band_hash"),
      col("doc_id").as("doc_a"), col("hs").as("hs_a"))
    a.join(if (carryFits) b.hint("shuffle_hash") else b,
        Seq("band_idx", "band_hash"))
      .filter(pairPred)
      .withColumn("jac",
        HashExpressions.sortedJaccardGeq(col("hs_a"), col("hs_b"),
          threshold))
      .filter(col("jac") >= threshold)
      .select(outCols.map(col): _*)
      .distinct()
  }

  /** The tile-rel block key of a band bucket. */
  private def bandKey =
    concat_ws("#", col("band_idx"), col("band_hash")).as("bk")

  /** The refusal guard of the pair generators (`maxOutputPairs`,
    * `maxCandidatePairs`): when `limit` > 0 and the candidate-pair
    * `bound` exceeds it, throw with the routing recommendation instead
    * of launching the join. */
  private def guardPairs(op: String, limitName: String, limit: Long,
      bound: => Long): Unit =
    if (limit > 0L) {
      val b = bound
      if (b > limit) {
        Parallelism.logDispatch(op,
          s"candidatePairBound=$b > $limitName=$limit -> REFUSED " +
            "(quadratic pair output; route to lshDupGroups for " +
            "survivors/labels)")
        throw new IllegalStateException(
          s"$op: candidate pair volume ≈ $b exceeds $limitName=$limit. " +
            "The pair output grows with Σ duplicate-family² — if you " +
            "only need canonical labels/survivors, use " +
            "Dedup.lshDupGroups (linear edge volume); to enumerate " +
            "pairs anyway, raise or disable the bound.")
      }
      Parallelism.logDispatch(op,
        s"candidatePairBound=$b <= $limitName=$limit -> ok")
    }

  /** The minhash LSH band relation — (doc_id, hs, band_idx,
    * band_hash), one row per document per band. This IS the dedup
    * index: persist it partitioned/bucketed by (band_idx, band_hash)
    * and incremental batches join it without touching document text
    * (see [[incrementalNearDupPairs]]).
    *
    * 5-gram char shingles, not token sets: the synthetic corpus shares
    * one small vocabulary, so token-set jaccard is degenerately high
    * (~all pairs ≥0.4); shingles capture word order and separate real
    * near-dups (J≥0.6) from background (J<0.3). Jaccard downstream is
    * verified on the distinct HASH sets, not the string shingles —
    * integer arrays are ~2× lighter to shuffle/intersect, and (modulo
    * shared-by-both-engines hash collisions) the ratio is the same;
    * the oracle mirrors this exactly.
    *
    * The signature intermediate is computed ONCE, cached, and handed to
    * `pin` (a downstream self-join would otherwise re-run the hashing
    * pipeline per side); materialized eagerly by default because a
    * join's two input stages are scheduled concurrently and would both
    * miss a lazy cache (same race as Similarity's IVF index build).
    *
    * `eager = false` (r18) skips the materialization count for callers
    * whose FIRST action is a single-job full scan of the rel — the
    * strategy-dispatch stats pass of [[minHashLshPairs]] /
    * [[incrementalNearDupPairs]], a forced-carry fit count, or the
    * tiled kernels' per-block count pass all populate the cache in one
    * job, so the separate count job (plus one extra cached-scan pass)
    * is pure overhead. Callers whose first consumer schedules two
    * concurrent scan stages over the rel (e.g. [[lshDupGroups]]'s
    * star-edge join, which reads the rel on both sides) must keep the
    * eager default. */
  def minHashBandRel(docs: DataFrame,
      pin: DataFrame => Unit = OperatorCaches.register,
      eager: Boolean = true): DataFrame =
    bandRelOf(minHashSigs(docs, pin, eager))

  /** The cached signature intermediate behind [[minHashBandRel]]: one
    * row per document (doc_id, hs, bands); same `pin`/`eager`
    * contract. */
  private[graft] def minHashSigs(docs: DataFrame,
      pin: DataFrame => Unit = OperatorCaches.register,
      eager: Boolean = true): DataFrame = {
    val sigs = Parallelism.widen(docs)
      .select(col("doc_id"),
        HashExpressions.shingleHashes(col("text"), 5).as("hs"))
      .withColumn("bands", bandHashes(HashExpressions.minHashSig(col("hs"))))
      .cache()
    pin(sigs)
    if (eager) sigs.count()
    sigs
  }

  /** The band rel of a [[minHashSigs]] cache. */
  private[graft] def bandRelOf(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("hs"),
      posexplode(col("bands")).as(Seq("band_idx", "band_hash")))

  /** Incremental near-dup detection — the production shape of minhash
    * dedup at 100 TB: a daily increment must NOT re-pair the whole
    * corpus. New documents are signed and joined against the PERSISTED
    * corpus band index ([[minHashBandRel]] — at scale a bucketed table
    * on (band_idx, band_hash), making this join shuffle-free on the
    * corpus side), plus a self-join among the new batch itself; the
    * existing corpus is never re-paired against itself and its text is
    * never re-read.
    *
    * Output: doc_a, doc_b, jac, vs_corpus (true = the match is against
    * an indexed corpus doc; false = new-new). doc_a is always the new
    * document; id order within new-new pairs follows
    * [[minHashLshPairs]] (doc_a < doc_b). */
  def incrementalNearDupPairs(newDocs: DataFrame, corpusBands: DataFrame,
      threshold: Double, pin: DataFrame => Unit = OperatorCaches.register,
      strategy: String = "auto", maxOutputPairs: Long = -1L): DataFrame = {
    // Strategy as in [[minHashLshPairs]] (the shared [[minHashPairs]]
    // body), with [[TiledKernels.bipartiteJaccardPairs]] as the tiled
    // kernel and the increment as its probe side. The b side unions
    // the new batch's own index with the persisted corpus index — at
    // scale the corpus side is a bucketed table on (band_idx,
    // band_hash), and only buckets the increment actually touches
    // contribute join work; the increment is never paired against
    // corpus-corpus (the bipartite kernel keeps that property: corpus
    // rows are never probe-side).
    // lazy as in minHashLshPairs where the guard/stats/fit pass is the
    // first action (a single scan that populates the cache); a forced
    // "tiled" call without the guard goes straight to the bipartite
    // kernel, whose first job scans the increment on BOTH sides (a-rel
    // and the b-side union), so there the rel is materialized eagerly
    val newBands = minHashBandRel(newDocs, pin,
      eager = strategy == "tiled" && maxOutputPairs <= 0L)
    // [[BucketStats]] in bipartite form, from one union-tagged
    // aggregation per call: a bucket of na new and nb = na + nc docs
    // (nc indexed corpus) has na·nc + na·(na−1)/2 candidates, pair
    // proxy na·nb and nb build rows
    def stats = {
      val tagged = newBands.select(col("band_idx"), col("band_hash"))
        .withColumn("isNew", lit(1))
        .unionByName(corpusBands.select(col("band_idx"), col("band_hash"))
          .withColumn("isNew", lit(0)))
      val st = tagged.groupBy("band_idx", "band_hash")
        .agg(count(when(col("isNew") === 1, 1)).as("na"),
          count(lit(1)).as("nb"))
        .agg(coalesce(sum(col("na") * (col("nb") - col("na")) +
            col("na") * (col("na") - 1) / 2), lit(0L)).cast("long"),
          coalesce(max(col("na") * col("nb")), lit(0L)),
          coalesce(sum(col("nb")), lit(0L))).head
      BucketStats(st.getLong(0), st.getLong(1), st.getLong(2))
    }
    val bUnion = newBands.select(col("band_idx"), col("band_hash"),
        col("doc_id").as("doc_b"), col("hs").as("hs_b"))
        .withColumn("vs_corpus", lit(false))
      .unionByName(corpusBands.select(col("band_idx"), col("band_hash"),
        col("doc_id").as("doc_b"), col("hs").as("hs_b"))
        .withColumn("vs_corpus", lit(true)))
    minHashPairs("incrementalNearDupPairs", newBands, bUnion, stats,
      threshold, pin, strategy, maxOutputPairs,
      col("vs_corpus") || col("doc_a") < col("doc_b"),
      Seq("doc_a", "doc_b", "jac", "vs_corpus")) { aRel =>
      TiledKernels.bipartiteJaccardPairs(aRel,
        bUnion.select(bandKey, col("doc_b").as("id"), col("hs_b").as("sh"),
          col("vs_corpus").as("vs")), threshold, pin = pin)
    }
  }

  /** Skew-safe LSH dedup GROUPS — the linear-cost production shape of
    * minhash dedup under Zipfian duplicate families.
    *
    * [[minHashLshPairs]] enumerates every passing pair, which is
    * data-quadratic inside a large duplicate family: a boilerplate
    * family of b mutually-similar members contributes ~b²/2 TRUE pairs
    * (at the gen_skew stress scale, a 37 500-member family alone is
    * ~7×10⁸ pairs — unenumerable by any engine, because the OUTPUT is
    * quadratic, not the algorithm). Deduplication doesn't need the
    * pairs; it needs each document labeled with a canonical
    * representative.
    *
    * Star-edge construction: per (band_idx, band_hash) bucket, connect
    * every member to the bucket's MIN doc_id. A b-member bucket emits
    * b−1 edges instead of b²/2 candidate pairs, so total edge volume is
    * ≤ nBands · N regardless of skew. Edges are verified with exact
    * jaccard on the distinct shingle-hash sets (slim (doc_a, doc_b)
    * pairs first, arrays attached after the distinct — the q72
    * payload-attach lesson), then [[connectedComponents]] collapses
    * transitive chains; unmatched docs stay singletons.
    *
    * Semantics vs all-pairs+CC: the star skips member↔member edges, so
    * a member whose jaccard to every bucket REPRESENTATIVE it meets is
    * below threshold keeps its own label even when some other member is
    * within threshold. For real duplicate families (mutually similar by
    * construction) representatives are family members and the collapse
    * is identical; the difference surfaces only on borderline chains,
    * where the all-pairs pair set is itself threshold-brittle. That is
    * the documented trade for O(N·bands) vs Σ bucket².
    *
    * Output: (doc_id, canonical_id, cluster_size) — one row per input
    * document, singletons included (cluster_size 1).
    */
  def lshDupGroups(docs: DataFrame, threshold: Double,
      pin: DataFrame => Unit = OperatorCaches.register): DataFrame = {
    // eager: the star-edge job's first stages scan the band rel twice
    val edges = lshStarEdgesFrom(minHashSigs(docs, pin), threshold)
    val comp = connectedComponents(edges, "doc_a", "doc_b")
    val sizes = comp.groupBy("component")
      .agg(count(lit(1)).as("cluster_size"))
    docs.select("doc_id")
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .join(sizes, Seq("component"), "left")
      .withColumn("canonical_id", coalesce(col("component"), col("doc_id")))
      .na.fill(1L, Seq("cluster_size"))
      .select("doc_id", "canonical_id", "cluster_size")
  }

  /** The verified star-edge stage of [[lshDupGroups]], exposed for
    * callers that feed edges into their OWN labeling (the q48 shape:
    * union with exact-dup edges, then connected components): per
    * minhash band bucket, members connect to the bucket's min doc_id
    * (≤ nBands·N edges regardless of skew), verified with exact
    * jaccard on the distinct shingle-hash sets. Output: distinct
    * (doc_a, doc_b) directed high→low id. */
  def lshStarEdges(docs: DataFrame, threshold: Double,
      pin: DataFrame => Unit = OperatorCaches.register): DataFrame =
    lshStarEdgesFrom(minHashSigs(docs, pin), threshold)

  /** [[lshStarEdges]] over a [[minHashSigs]] cache. Each bucket's
    * representative travels with its shingle set — min over
    * (doc_id, hs) structs orders by doc_id first — so every member row
    * verifies against it right in the join, and no per-doc signature
    * lookup joins follow. A member meeting the same representative in
    * several bands is verified once per band; the distinct on the slim
    * verified pairs is the only other exchange. */
  private[graft] def lshStarEdgesFrom(sigs: DataFrame,
      threshold: Double): DataFrame = {
    val bandRel = bandRelOf(sigs)
    val reps = bandRel.groupBy("band_idx", "band_hash")
      .agg(min(struct(col("doc_id"), col("hs"))).as("rep"))
    bandRel.join(reps, Seq("band_idx", "band_hash"))
      .filter(col("doc_id") =!= col("rep.doc_id"))
      .filter(HashExpressions.sortedJaccardGeq(col("hs"), col("rep.hs"),
        threshold) >= threshold)
      .select(col("doc_id").as("doc_a"), col("rep.doc_id").as("doc_b"))
      .distinct()
  }

  /** Near-dup EDGES for transitive labeling, ROUTED — the q48-class
    * caller surface ([[ngramJaccardPairs]]'s refusal turned into a
    * route): one narrow block-col scan measures the coarse-block
    * all-pairs candidate volume Σ_b n_b², and
    *  - within [[Parallelism.routeBudget]] (the CurateCorpus auto
    *    convention): the EXACT blocked n-gram jaccard pair list,
    *  - beyond it: the banded star-edge generator ([[lshStarEdges]],
    *    ≤ nBands·N edges by construction) — the linear route the
    *    refusal message names, taken automatically.
    * The two edge sets differ (exact block pairs vs verified bucket
    * star edges — member↔member edges inside a family are skipped on
    * the routed path), but their TRANSITIVE CLOSURE agrees on
    * mutually-similar duplicate families, which is what a labeling /
    * survivor caller consumes — the documented [[lshDupGroups]] trade.
    * `threshold` applies to the exact path's char-n-gram jaccard and
    * the routed path's shingle-set jaccard verify. Block sizes grow
    * ∝ N under coarse block columns, so a skewed 100 TB corpus routes
    * itself off the quadratic edge generator instead of dying in the
    * exchange (the r12 sf100 DNF, measured: 3.2×10¹¹ candidates at
    * 5 M docs). Eager pre-pass contract as [[ngramJaccardPairs]]. */
  def jaccardEdgesAuto(docs: DataFrame, blockCols: Seq[String],
      n: Int, threshold: Double,
      pin: DataFrame => Unit = OperatorCaches.register): DataFrame = {
    val (bound, nDocs) = Parallelism.blockPairStats(docs, blockCols)
    val budget = Parallelism.routeBudget(nDocs)
    val pick = if (bound > budget) "starEdges" else "exactPairs"
    Parallelism.logDispatch("jaccardEdgesAuto",
      s"blockCandidateBound=$bound budget=$budget -> $pick")
    if (pick == "starEdges") lshStarEdges(docs, threshold, pin)
    else ngramJaccardPairs(docs, blockCols, n, threshold, pin = pin)
      .select("doc_a", "doc_b")
  }

  /** N-gram (character 3-shingle) jaccard near-dup pairs inside
    * explicit blocks (e.g. lang+source). Exact — every strategy below
    * produces the identical pair set; they differ only in how the
    * candidate space is enumerated.
    *
    * `strategy`:
    *  - `"allpairs"`: salted block equi-join, candidate volume
    *    Σ_b n_b² — fastest while the pair space fits one codegen
    *    pipeline pass without spilling.
    *  - `"tiled"`: the same candidate space through
    *    [[TiledKernels.blockJaccardPairs]] — grid-salted tiles scored
    *    in a tight merge loop with lossless size/threshold pruning;
    *    2.2× the join at sf10 (106 s vs 233 s) where sort-merge over
    *    wide shingle rows dominates the join shape.
    *  - `"prefix"`: lossless SSJoin/PPJoin rarity-prefix filter,
    *    candidate volume Σ_g df_prefix(g)².
    *  - `"auto"` (default): all-pairs join while Σ_b n_b² is small
    *    (≤ 2×10⁸); beyond that, prefix ONLY if a corpus sample shows a
    *    sparse gram universe (average df ≈ 1, i.e. the universe grows
    *    with N — word tokens, long shingles), else tiled. With a
    *    BOUNDED gram universe (character 3-grams: ≲ alphabet³ distinct
    *    values) every gram's df grows ∝ N, so the prefix index
    *    degenerates — measured 5× MORE candidates than all-pairs at
    *    10× bench scale and an executor OOM at 100×, while all-pairs
    *    completes. In that dense regime exact jaccard enumeration is
    *    Θ(N²) for ANY order-based filter; the scale path is
    *    [[minHashLshPairs]] (sub-linear, measured 7.9× at 10× data)
    *    when approximate candidates are acceptable.
    */
  /** `maxCandidatePairs` (>0 to enable): refuse to run when the
    * all-pairs candidate volume Σ_b n_b² exceeds it — the
    * [[minHashLshPairs]] `maxOutputPairs` contract, block-join form.
    * Block sizes grow ∝ N under coarse block columns (lang × source),
    * so the candidate volume is DATA-quadratic: the r12 sf100 run
    * measured 3.2×10¹¹ candidates at 5 M docs, whose tile payload
    * exchange is hundreds of GB on any engine that materializes it
    * (it filled this box's disk). A 100 TB caller that needs near-dup
    * EDGES should generate them through the banded route
    * ([[lshDupGroups]], O(nBands·N)); the guard names it instead of
    * launching the exchange. Left at −1 the operator runs unbounded
    * (the gate/oracle shape, where the exact pair list is the spec).
    *
    * NOTE: enabling the guard (and the `"auto"` strategy) runs an
    * EAGER narrow aggregation over `docs`' block columns at CALL time
    * — a deliberate departure from the otherwise-lazy contract (the
    * bound must exist before the plan is chosen). The pre-pass scans
    * block columns only (column-pruned at a columnar source) and is
    * computed ONCE, shared between the guard and the auto dispatch;
    * callers invoking this repeatedly over an uncached non-columnar
    * source should cache `docs` first. */
  def ngramJaccardPairs(docs: DataFrame, blockCols: Seq[String],
      n: Int, threshold: Double, strategy: String = "auto",
      pin: DataFrame => Unit = OperatorCaches.register,
      maxCandidatePairs: Long = -1L): DataFrame = {
    // intersect on hashed shingles (integer arrays), same rationale and
    // oracle-mirroring as minHashLshPairs; widen() because the shingle
    // hashing runs in the projection BEFORE the join exchange — on a
    // single-partition input both join sides would hash on one core
    require(threshold > 0.0, "prefix filter requires threshold > 0")
    // one narrow block-col scan serves BOTH the guard and the auto
    // dispatch (they need the same Σ_b n_b² statistic); lazy so the
    // forced-strategy unguarded paths stay zero-pre-pass
    lazy val blockPairBound: Long =
      Parallelism.blockPairStats(docs, blockCols)._1
    guardPairs("ngramJaccardPairs", "maxCandidatePairs", maxCandidatePairs,
      blockPairBound)
    val sh = Parallelism.widen(docs).select(
      (col("doc_id") +: blockCols.map(col)) :+
        HashExpressions.shingleHashes(col("text"), n).as("sh"): _*)
    val chosen = Parallelism.pickStrategy("ngramJaccardPairs", strategy,
        Seq("allpairs", "prefix", "tiled")) {
      // decision pass 1 (cheap, narrow scan of block cols only):
      // all-pairs candidate volume Σ_b n_b². Below the dispatch
      // bound the codegen'd salted join evaluates the whole pair
      // space faster than the tiled kernel's fixed stages (extra
      // count job, tile exchange, encoder decode — measured ~1.3 s
      // flat at sf0.1/sf1); above it the join's sort-merge over
      // wide shingle rows dominates (sf10: 233 s join vs 106 s
      // tiled) and the kernel's in-merge early-exit pays.
      val allPairsCands = blockPairBound
      if (allPairsCands <= 2e8.toLong) ("allpairs", s"cands=$allPairsCands")
      else {
        // decision pass 2 (4096-doc sample): average within-sample
        // gram df. A bounded universe is dense even in a small
        // sample (avg df ≫ 1 ⇒ df scales ∝ N ⇒ prefix degenerates);
        // a growing universe shows avg df ≈ 1. All branches are
        // exact, so the sample's file-order determinism only ever
        // affects the PLAN, never the result. Dense + big ⇒ the
        // tiled kernel (exact enumeration is Θ(Σ n_b²) for any
        // order-based filter there — see the prefix note below).
        val s = sh.select(explode(col("sh")).as("g")).limit(4096 * 256)
          .agg(count(lit(1)).cast("double").as("tot"),
            approx_count_distinct(col("g")).cast("double").as("uni"))
          .head
        val avgDf = s.getDouble(0) / math.max(s.getDouble(1), 1.0)
        (if (avgDf <= 2.0) "prefix" else "tiled",
          f"cands=$allPairsCands avgDf=$avgDf%.2f")
      }
    }
    if (chosen == "tiled") {
      // Tiled kernel, not a row join: in the salted-join shape every
      // candidate row carries both ~3.8 KB shingle arrays through the
      // join machinery (sort-merge must SORT those bytes; bytes
      // ∝ Σ_b n_b² — the whole reason q20 measured 64× at 10× data,
      // 233 s at sf10). The grid tiles keep the join's skew-proof task
      // split and exactly-once coverage, decode each tile's arrays
      // once, check id order BEFORE scoring (halves the merges) and
      // abort merges the threshold already excludes — all lossless,
      // identical survivor arithmetic
      // (see [[TiledKernels.blockJaccardPairs]]). Block-col values
      // re-attach by a slim doc_a join ∝ survivors.
      // A null block col never equi-joins, so such rows pair with
      // nothing — drop them before keying (to_json omits null fields,
      // which would otherwise merge distinct null-keyed blocks).
      val rel = sh
        .filter(blockCols.map(col(_).isNotNull).reduce(_ && _))
        .select(col("doc_id").as("id"),
          to_json(struct(blockCols.map(col): _*)).as("bk"), col("sh"))
      return TiledKernels.blockJaccardPairs(rel, threshold, pin = pin)
        .join(sh.select((col("doc_id").as("doc_a") +:
          blockCols.map(col)): _*), "doc_a")
        .select((col("doc_a") +: col("doc_b") +: blockCols.map(col)) :+
          col("jac"): _*)
    }
    if (chosen == "allpairs") {
      val a = sh.select(
        (col("doc_id").as("doc_a") +: blockCols.map(col)) :+
          col("sh").as("sh_a"): _*)
      val b = sh.select(
        (col("doc_id").as("doc_b") +: blockCols.map(col)) :+
          col("sh").as("sh_b"): _*)
      // salted: one 11 k-doc block is ~1.2×10⁸ jaccard evals — in a
      // plain block join that is ONE task (AQE can't see join-output
      // skew); see [[Parallelism.saltedBlockJoin]]
      return Parallelism.saltedBlockJoin(a, b, blockCols, "doc_a")
        .filter(col("doc_a") < col("doc_b"))
        // plain sortedJaccard, NOT the early-abandon Geq form: block
        // pairs share the block's vocabulary, so the optimistic bound
        // stays above t for most of the merge and the per-step
        // bookkeeping costs more than the rare abandon saves (q20
        // alternating A/B: Geq 1.71 s vs plain 1.58 s median-of-5);
        // LSH-band and prefix candidates abandon early and win there
        .withColumn("jac",
          HashExpressions.sortedJaccard(col("sh_a"), col("sh_b")))
        .filter(col("jac") >= threshold)
        .select((col("doc_a") +: col("doc_b") +: blockCols.map(col)) :+
          col("jac"): _*)
    }
    // LOSSLESS prefix filter (SSJoin/PPJoin — Chaudhuri, Ganti &
    // Kaushik ICDE 2006; Xiao et al. WWW 2008): jaccard(A,B) >= t
    // implies |A∩B| >= ceil(t·max(|A|,|B|)), so in ANY shared total
    // order of the gram universe, the pair must collide inside each
    // side's first (|X| - ceil(t·|X|) + 1) elements. The order chosen
    // here is RARITY (global df ascending, gram hash tiebreak) — the
    // PPJoin canonical order: each doc indexes only its rarest grams,
    // making candidate volume Σ_g df_prefix(g)², which tracks true
    // near-dup density instead of block volume (hash order measured
    // 9× worse: dense grams land in prefixes). A size filter
    // (t·|B| <= |A| <= |B|/t) prunes cross-size candidates before the
    // distinct. One extra prefix slot absorbs any fp-ceil edge; extra
    // candidates only cost the exact verify, never correctness.
    // Honest bound: a family of k mutually-similar docs has k²/2
    // OUTPUT pairs — no exact pair enumerator is sub-quadratic in
    // that family; run exactDupGroups first and collapse clusters
    // (connectedComponents) when families are big.
    //
    // r18 job-count fuse (this path's wall at gate scale was ~15
    // sequential 0.2–0.7 s jobs, not any one stage — three r17
    // reshapes that kept the stage structure all washed):
    //  - df comes from a COUNT WINDOW over the exploded gram rel
    //    (one exchange on g) instead of a groupBy(g) aggregate joined
    //    back (two exchanges + a join) — identical global df values;
    //  - the signature rel is NOT separately cached: its only consumer
    //    is now the single ranked-table build (the window df pass and
    //    the rank agg are one pipeline), so the hashing runs once
    //    without a cache;
    //  - verify is FOLDED INTO the candidate join (the q21 carry
    //    shape): each prefix side carries the doc's full sorted gram
    //    set, jaccard runs on the size-filtered collisions in the same
    //    codegen pass, and the pair-dedup distinct moves AFTER the
    //    threshold filter where survivors are tiny — the slim-candidate
    //    distinct plus two attach joins disappear. A pair colliding on
    //    k prefix grams pays k jaccard evals instead of 1; at gate
    //    scale that is 132 k cheap merge scans, and in the sparse-df
    //    regime prefix is FOR (auto routes dense corpora to tiled),
    //    collisions per pair are ≈1 by construction. The carried set
    //    is a second aggregate over the same grouped rows
    //    (array_sort(collect_list(g))) — bit-identical to the
    //    shingleHashes output (sorted distinct longs).
    // The ranked prefix table stays cached (it feeds both exploded
    // join sides); eager materialization (count) because a join's two
    // input stages schedule concurrently and would both miss a lazy
    // cache.
    val g = sh.select(
      (col("doc_id") +: blockCols.map(col)) :+
        size(col("sh")).as("sz") :+ explode(col("sh")).as("g"): _*)
    val ranked = g
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("g"))))
      .groupBy((col("doc_id") +: blockCols.map(col)) :+ col("sz"): _*)
      // two aggregates over the same grouped rows: the rarity-ordered
      // struct list (prefix source) AND the plain sorted gram array
      // (the carried verify set) — same exchange, and no interpreted
      // transform lambda to re-derive sh from ordered (PlanSpec pins a
      // zero-lambda budget on this plan)
      .agg(array_sort(collect_list(struct(col("df"), col("g"))))
        .as("ordered"),
        array_sort(collect_list(col("g"))).as("sh"))
      // prefix length only — the prefix GRAMS are extracted at explode
      // time below (explode the sliced struct array, then a native
      // GetStructField), which avoids a per-element transform lambda
      // in the plan entirely
      .withColumn("pfxn", expr(
        s"greatest(1, cast(sz - ceil($threshold * sz) + 2 as int))"))
      .cache()
    pin(ranked)
    ranked.count()
    // ONE prefix-side subtree, per-side renames ABOVE the join
    // (attempted ReuseExchange bait — with per-side aliases below the
    // join the planner's two exchanges differ in output names; written
    // this way the subtrees canonicalize equal, but the r18 event-log
    // check shows AQE still materializes BOTH ~52 MB exchange stages
    // at sf0.1, so the reuse does NOT fire under adaptive execution.
    // Kept: the single-subtree shape is simpler and measured neutral).
    //
    // posexplode, not explode: the prefix POSITION feeds the PPJoin
    // position filter below — for a collision at 0-based positions
    // (pa, pb) of the full rarity orders (the prefix IS the first pfxn
    // elements, so slice positions are full-array positions), the
    // overlap can not exceed min(sz_a − pa, sz_b − pb) when the
    // collision is the pair's FIRST common gram (everything common
    // sits at or after it on both sides). jaccard ≥ t needs overlap ≥
    // t/(1+t)·(sz_a+sz_b), so rows whose positional bound falls short
    // are dropped BEFORE the merge scan; every qualifying pair keeps
    // at least its first-collision row (where the bound is valid and
    // sufficient) and the trailing distinct collapses survivors as
    // before. The 1e-6 slack absorbs fp rounding of the bound — a
    // false KEEP costs one extra merge, a false drop would lose a
    // pair, so the inequality must be relaxed, never tightened.
    val pside = ranked.select(
      (col("doc_id") +: blockCols.map(col)) :+
        col("sz") :+ col("sh") :+
        posexplode(expr("slice(ordered, 1, pfxn)")).as(Seq("p", "pe")): _*)
      .withColumn("g", col("pe.g")).drop("pe")
    val pa = pside.as("pa")
    val pb = pside.as("pb")
    pa.join(pb, blockCols :+ "g")
      .filter(col("pa.doc_id") < col("pb.doc_id") &&
        col("pa.sz") * lit(threshold) <= col("pb.sz") + lit(1) &&
        col("pb.sz") * lit(threshold) <= col("pa.sz") + lit(1))
      .filter(least(col("pa.sz") - col("pa.p"), col("pb.sz") - col("pb.p"))
        >= lit(threshold / (1.0 + threshold)) *
           (col("pa.sz") + col("pb.sz")) - lit(1e-6))
      .withColumn("jac",
        HashExpressions.sortedJaccardGeq(col("pa.sh"), col("pb.sh"),
          threshold))
      .filter(col("jac") >= threshold)
      .select((col("pa.doc_id").as("doc_a") +: col("pb.doc_id").as("doc_b") +:
        blockCols.map(col)) :+ col("jac"): _*)
      .distinct()
  }

  /** Embedding-cosine near-duplicate pairs inside `blockCol` blocks:
    * semantic dedup — pairs with cosine ≥ threshold. Blocked self
    * pair space (no global N²); for unblocked corpora use
    * [[Similarity.ivfTopK]]/[[Similarity.lshTopK]] cells as the
    * blocking key instead.
    *
    * `strategy`: `"join"` = salted block equi-join; `"tiled"` =
    * [[TiledKernels.blockCosinePairs]] grid tiles (2.9× the join at
    * sf1 already — the id-order check before the dot halves the
    * scored pairs and nothing re-materializes the embeddings per
    * candidate — and 2× at sf10); `"auto"` (default) dispatches on
    * the Σ n_b² count from one narrow block-col scan, with a LOWER
    * crossover than the top-1 operator because the join shape's
    * a<b filter still pays for both orderings' rows. Identical
    * results on every path. */
  def embeddingNearDupPairs(embeddings: DataFrame, blockCol: String,
      threshold: Double, strategy: String = "auto"): DataFrame = {
    // "join-plain": the auto count just proved Σ n_b² ≤ 1e7 < the salt
    // target, so no block can need splitting — go straight to the
    // plain block join and skip saltedBlockJoin's own pre-pass (a
    // second identical count job). Forced "join" keeps the salted
    // form: a caller forcing it at scale still gets skew protection.
    val chosen = Parallelism.pickStrategy("embeddingNearDupPairs", strategy,
        Seq("join", "tiled")) {
      val cands = Parallelism.blockPairStats(embeddings, Seq(blockCol))._1
      (if (cands <= 1e7.toLong) "join-plain" else "tiled", s"cands=$cands")
    }
    if (chosen == "tiled") {
      val rel = embeddings.select(
        col("vec_id").as("id"), col(blockCol).cast("string").as("bk"),
        col("embedding").cast("array<double>").as("emb"),
        Similarity.l2Norm(col("embedding")).as("nrm"))
        // zero-norm rows never qualify a cosine threshold (cosine with
        // the zero vector is 0/0 = NaN, and both Spark SQL and the
        // tile comparator order NaN ABOVE any number — without this
        // filter a failed/zero embedding would spuriously pair with
        // its whole block); filtered on EVERY leg so dense ≡ tiled ≡
        // routed row identity holds with zero-norm rows present
        .filter(col("nrm") > 0.0)
      return TiledKernels.blockCosinePairs(rel, threshold)
        .select("vec_a", "vec_b", "cosine")
    }
    val base = embeddings.select(
      col("vec_id"), col(blockCol).as("blk"), col("embedding"),
      Similarity.l2Norm(col("embedding")).as("nrm"))
      .filter(col("nrm") > 0.0) // zero-norm never qualifies (NaN guard)
    val a = base.select(col("vec_id").as("vec_a"), col("blk"),
      col("embedding").as("e_a"), col("nrm").as("n_a"))
    val b = base.select(col("vec_id").as("vec_b"), col("blk"),
      col("embedding").as("e_b"), col("nrm").as("n_b"))
    (if (chosen == "join-plain") a.join(b, Seq("blk"))
     else Parallelism.saltedBlockJoin(a, b, Seq("blk"), "vec_a"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine",
        Similarity.dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")))
      .filter(col("cosine") >= threshold)
      .select("vec_a", "vec_b", "cosine")
  }

  /** Default routing bound for [[incrementalEmbeddingNearDupPairs]]'s
    * `auto` strategy: Σ over blocks of batch_b × corpus_b candidate
    * pairs above which the exact block join (linear in CORPUS per
    * batch) hands off to the cell-routed path (candidates ∝ probed
    * IVF cells). 10⁸ pairs ≈ the cost band where the dense join's
    * Σ dot flops start dominating the routed path's assignment +
    * rescore; every gate/spec scale sits far below it, so the
    * oracle-checked plans stay on the exact path. */
  val EmbedRouteBound: Long = 100000000L

  /** Measured per-candidate cost ratio of the cell-routed plan vs the
    * SALTED dense block join, used by the `auto` pricing: routed wins
    * only when `routedCandidates × RoutedCostFactor < denseCandidates`.
    * Why candidates alone mislead: a routed candidate pays the probe
    * explode, a wide (cell, blk) join row and skewed cell groups,
    * while a salted-dense candidate is one fused dot inside a
    * streaming merge group — measured at 2 M Zipf vectors (r17),
    * dense scores 28–79 M candidates/s against routed's 0.2–0.4 M/s,
    * so dense won the WALL in every cell of the shape×τ grid even at
    * a 50–88× candidate disadvantage (unblocked τ=0.9: dense 50.5 s
    * vs routed 263.1 s on 4.0×10⁹ vs 8.0×10⁷ candidates). 128 covers
    * the measured dense-win band with margin while still handing the
    * asymptotic regime to the routed plan — per-batch-row probed mass
    * stays ~flat as cells ∝ N, so the candidate ratio grows ∝ N and
    * crosses 128 around N ≈ 5–10 M vectors, exactly where a
    * linear-in-corpus dense scan should lose. Both plans are EXACT, so
    * a miscalibration costs wall, never rows. The STREAMING ingest
    * path is unaffected: a stream side cannot be counted or salted, so
    * [[graft.streaming.StreamingEmbedNearDup.embedNearDupAgainstCellIndex]]
    * remains the scale entry there regardless. */
  val RoutedCostFactor: Long = 128L

  /** Corpus-side CELL relation for the routed embedding-ingest path:
    * (vec_id, blk, cell, cdist, embedding, nrm) — each corpus vector's
    * HOME cell under `centroids`, assigned on the NORMALIZED vector
    * (cosine thresholds live on the unit sphere; assigning there keeps
    * each cell's radius stat tight), plus `cdist` = ‖v̂ − c_home‖ —
    * the normalized assignment distance whose per-cell MAX drives the
    * radius-exact probe bound ([[HashExpressions.CellsWithinRadius]]).
    * One narrow map, no exchange ([[Similarity.buildIvfIndex]]'s
    * assignment with the block column kept). This is the nightly
    * artifact the routed join consumes: persist it with
    * [[writeEmbedCellRelBucketed]] so the per-batch join's corpus side
    * scans back exchange-free. Zero-norm vectors carry cdist 0: they
    * can never qualify a cosine threshold (ENFORCED — every scoring
    * leg filters n > 0 before the cosine, so a NaN 0/0 cosine can
    * never ride Spark's NaN-above-everything ordering past `>= τ`),
    * so they must not inflate their cell's probe radius. */
  def embedCellRel(corpus: DataFrame, blockCol: String,
      centroids: Seq[(Int, Seq[Double])]): DataFrame = {
    require(centroids.nonEmpty, "embedCellRel needs centroids")
    val nrm = Similarity.l2Norm(col("embedding"))
    val normed = when(nrm === 0.0, col("embedding").cast("array<double>"))
      .otherwise(transform(col("embedding"), x => x.cast("double") / nrm))
    val assigned = element_at(
      HashExpressions.nearestCells(normed, centroids, 1), 1)
    // The rel is BOUND to the quantizer that assigned it: the
    // fingerprint rides the `cell` column as metadata (persisted
    // through parquet/catalog/views — the media build-stride
    // discipline) and [[cellProbeTable]] refuses probe-time centroids
    // from any other fit, because every radius bound is computed
    // against THIS quantizer's cell geometry and a newer fit would
    // silently lose pairs.
    val fp = IvfCentroids.quantizerFingerprint(centroids)
    val cellMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.quantizer.k", fp._1.toLong)
      .putLong("graft.quantizer.dim", fp._2.toLong)
      .putLong("graft.quantizer.hash", fp._3)
      .build()
    corpus.select(col("vec_id"), col(blockCol).as("blk"), col("embedding"),
      nrm.as("nrm"), assigned.getField("cell").as("cell", cellMeta),
      // NearestCells ranks by the surrogate −x̂·c + c·c/2; with
      // ‖x̂‖ = 1 the true distance is ‖x̂−c‖² = 1 + 2·surrogate
      when(nrm === 0.0, lit(0.0)).otherwise(
        sqrt(greatest(lit(1.0) + lit(2.0) * assigned.getField("dist"),
          lit(0.0)))).as("cdist"))
  }

  /** Per-cell (cellId, centroid, maxAssignRadius) probe table for
    * [[HashExpressions.CellsWithinRadius]], from one narrow agg over a
    * corpus [[embedCellRel]] (≤ K rows — driver-small by
    * construction). Cells with no corpus member get radius −1 (never
    * probed). */
  private[graft] def cellProbeTable(corpusCells: DataFrame,
      centroids: Seq[(Int, Seq[Double])]): Seq[(Int, Seq[Double], Double)] = {
    require(corpusCells.columns.contains("cdist"),
      "corpus cell rel lacks the cdist column — rebuild it with " +
        "embedCellRel/writeEmbedCellRelBucketed (the radius-exact probe " +
        "bound needs each cell's max normalized assignment distance)")
    // Quantizer binding: the rel records the fingerprint of the fit
    // that assigned its cells ([[embedCellRel]] stamps it); centroids
    // from any OTHER fit are REFUSED — their cell geometry disagrees
    // with the rel's recorded per-cell radii, so every probe bound
    // would be wrong and pairs would be LOST with no error (the
    // radius-exact route's one silent-wrong-answer hole; the media
    // family's build-stride refusal, quantizer form). Rels written
    // before fingerprints existed carry no metadata — those callers
    // own the must-match constraint, as documented on every entry.
    val m = corpusCells.schema("cell").metadata
    if (m.contains("graft.quantizer.hash")) {
      val rel = (m.getLong("graft.quantizer.k").toInt,
        m.getLong("graft.quantizer.dim").toInt,
        m.getLong("graft.quantizer.hash"))
      val cur = IvfCentroids.quantizerFingerprint(centroids)
      require(rel == cur,
        "cell rel / centroids quantizer mismatch: the corpus cell rel " +
          s"was assigned under ${IvfCentroids.fingerprintString(rel)} but " +
          s"the caller passed ${IvfCentroids.fingerprintString(cur)} — " +
          "probe bounds computed against the wrong cell geometry " +
          "silently LOSE pairs; pass the quantizer the rel was built " +
          "with, or rebuild the rel (embedCellRel/" +
          "writeEmbedCellRelBucketedVersioned) under the new fit")
    }
    val maxR = corpusCells.groupBy("cell")
      .agg(max(col("cdist")).as("r")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    centroids.map { case (id, c) => (id, c, maxR.getOrElse(id, -1.0)) }
  }

  /** Persist [[embedCellRel]] as a parquet table bucketed by
    * (`cell`, `blk`) — the [[Similarity.writeAdcIndexBucketed]] /
    * [[Multimodal.writeFramePostingsBucketed]] discipline in embedding
    * form. Both columns, not `cell` alone: Catalyst lifts the routed
    * join's block residual filter into the equi-join keys, and
    * co-partitioning requires the bucket keys to cover ALL join keys
    * (`spark.sql.requireAllClusterKeysForCoPartition`) — a cell-only
    * bucketing re-shuffles the corpus per batch (measured in the
    * CurationOpsSpec plan pin). Bucketed on both, the corpus side
    * feeds the join exchange-free: per batch, only the (small)
    * assigned batch side shuffles, into exactly `buckets`
    * partitions. */
  def writeEmbedCellRelBucketed(corpus: DataFrame, blockCol: String,
      centroids: Seq[(Int, Seq[Double])], table: String, buckets: Int,
      path: Option[String] = None): Unit = {
    val w = embedCellRel(corpus, blockCol, centroids)
      .repartition(buckets, col("cell"), col("blk"))
      .write.bucketBy(buckets, "cell", "blk").sortBy("cell", "blk")
      .mode("overwrite").format("parquet")
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Blue/green form of [[writeEmbedCellRelBucketed]] — the NIGHTLY
    * rebuild entry ([[VersionedTable.rebuild]]): the rel is consumed
    * by a RUNNING STREAM
    * ([[graft.streaming.StreamingEmbedNearDup.embedNearDupAgainstCellIndex]]),
    * so a direct overwrite of the serving name can hand its next
    * micro-batch a half-written table. The versioned write swaps the
    * serving view in one catalog operation; the previous version is
    * kept for in-flight readers (a restarted stream resolves the new
    * one and its quantizer binding — [[cellProbeTable]]'s fingerprint
    * refusal — rejects stale centroids loudly). Returns the versioned
    * table name written. */
  def writeEmbedCellRelBucketedVersioned(corpus: DataFrame,
      blockCol: String, centroids: Seq[(Int, Seq[Double])], table: String,
      buckets: Int, path: Option[String] = None): String =
    VersionedTable.rebuild(corpus.sparkSession, table, path) {
      (vTable, vPath) =>
        writeEmbedCellRelBucketed(corpus, blockCol, centroids, vTable,
          buckets, vPath)
    }

  /** The RADIUS-EXACT routed vs-corpus join shared by
    * [[incrementalEmbeddingNearDupPairs]] (`strategy="cells"`) and
    * [[graft.streaming.StreamingEmbedNearDup.embedNearDupAgainstCellIndex]]:
    * batch vectors probe every cell that can contain a cosine-τ
    * neighbor ([[HashExpressions.CellsWithinRadius]] — a stateless
    * per-row expression, streaming-safe: on the unit sphere
    * cos ≥ τ ⇔ ‖â−b̂‖ ≤ √(2−2τ), and the triangle inequality bounds a
    * qualifying b's home cell within that radius plus the cell's max
    * assignment distance) and join the corpus HOME-cell rel on `cell`
    * plus the block contract (`blk` equality — written as a residual
    * filter, lifted into the equi-keys by Catalyst; a corpus rel
    * bucketed on (cell, blk) via [[writeEmbedCellRelBucketed]] feeds
    * the join exchange-free). EXACT BY CONSTRUCTION — identical rows
    * to the dense block join at every threshold (spec-pinned), unlike
    * fixed-nProbe probing, whose recall collapses on clustered corpora
    * at loose thresholds (measured 0.17 at nProbe=8 on the sf10skew
    * corpus at τ=0.4 — the shape this design replaced). The exactness
    * costs adaptivity instead of recall: candidate volume is
    * Σ over PROBED cells of corpus-cell-size — small when the radius
    * ball is tight relative to the corpus spread (high τ, clustered
    * cells), approaching the dense join when τ is loose — which is a
    * COST property the dispatch statistic prices, not a correctness
    * one. Each surviving pair emits once (one home cell per corpus
    * vector). Output: (vec_a batch, vec_b corpus, cosine ≥ τ). */
  private[graft] def cellRoutedVsCorpusPairs(newVecs: DataFrame,
      corpusCells: DataFrame, blockCol: String, threshold: Double,
      centroids: Seq[(Int, Seq[Double])]): DataFrame = {
    require(centroids.nonEmpty, "cellRoutedVsCorpusPairs needs centroids")
    val probeTable = cellProbeTable(corpusCells, centroids)
    val r = math.sqrt(math.max(2.0 - 2.0 * threshold, 0.0))
    val a = newVecs.select(col("vec_id").as("vec_a"),
        col(blockCol).as("blk_a"), col("embedding").as("e_a"),
        Similarity.l2Norm(col("embedding")).as("n_a"),
        HashExpressions.cellsWithinRadius(
          col("embedding"), probeTable, r).as("cells"))
      .select(col("vec_a"), col("blk_a"), col("e_a"), col("n_a"),
        explode(col("cells")).as("cell"))
    val b = corpusCells.select(col("vec_id").as("vec_b"),
      col("blk").as("blk_b"), col("embedding").as("e_b"),
      col("nrm").as("n_b"), col("cell"))
    a.join(b, Seq("cell"))
      .filter(col("blk_a") === col("blk_b") && col("vec_a") =!= col("vec_b"))
      // n_b > 0: a zero-norm CORPUS row never qualifies (NaN cosine
      // would pass `>= τ` under Spark's NaN ordering whenever its cell
      // happens to be probed — the dense leg filters the same rows, so
      // routed ≡ dense holds with zero-norm rows present; zero-norm
      // BATCH rows already emit no probe cells)
      .filter(col("n_a") > 0.0 && col("n_b") > 0.0)
      .withColumn("cosine",
        Similarity.dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")))
      .filter(col("cosine") >= threshold)
      .select("vec_a", "vec_b", "cosine")
  }

  /** Incremental embedding-cosine near-dup — the production
    * maintenance path of [[embeddingNearDupPairs]] (the
    * [[incrementalNearDupPairs]] / [[incrementalEditDistancePairs]] /
    * [[Multimodal.incrementalFrameNearDupPairs]] discipline, embedding
    * form — this completes the family: every near-dup modality has a
    * daily-ingest form that never re-pairs the corpus). New vectors
    * join the PERSISTED corpus embedding rel — (vec_id, blockCol,
    * embedding) rows, at scale a parquet table bucketed by `blockCol`
    * so the corpus side of the block join reads exchange-free (the
    * [[Multimodal.writeFrameIndexBucketed]] discipline) — plus a self
    * block-join among the new batch; corpus embeddings are never
    * re-paired with each other. The vs-corpus join is SKEW-GUARDED
    * ([[Parallelism.saltedBlockJoin]], corpus on the salted side, the
    * small batch replicated per salt): under a constant or hot block
    * key a plain equi-join serializes the whole batch_b × corpus_b
    * candidate volume onto one shuffle partition (measured: 2 M
    * unblocked vectors, one core, 622 s), while with every block under
    * the per-task target the machinery escapes to the identical plain
    * join and the corpus bucketing survives untouched — "dense is
    * cheaper by flops" can never mean "one core does everything".
    *
    * batch_b × corpus_b is still LINEAR IN CORPUS per batch — dense
    * scan-and-score inside each block — so the operator carries the
    * family's dispatch discipline: `strategy="auto"` (default) prices
    * Σ batch_b × corpus_b from two narrow block-count scans, logs it,
    * and keeps the dense block join while the bound fits `routeBound`
    * ([[EmbedRouteBound]]); past it the ROUTED candidate volume is
    * priced too (batch probes × per-cell corpus counts, one narrow
    * agg) and the cheaper plan wins under the MEASURED cost model — a
    * routed candidate is ~two orders costlier than a salted-dense one
    * ([[RoutedCostFactor]]), so routed needs a >128× candidate
    * advantage, which the falling per-row probed mass delivers around
    * N ≈ 5–10 M corpus vectors. Both plans are EXACT
    * ([[cellRoutedVsCorpusPairs]] probes radius-complete cells and
    * rescores exactly; spec-pinned row identity at every threshold),
    * so routing is purely a cost decision and can never lose pairs.
    * `centroids` resolve artifact-or-fit via [[IvfCentroids.forCorpus]]
    * (session-memoized) when not passed. `strategy="exact"`/`"cells"`
    * force a path. The new-new self leg always runs the dense join
    * (batch² is small by definition). `corpus` may also be a prebuilt
    * [[embedCellRel]] (detected by its `cell` column — the nightly
    * artifact): the routed leg consumes it as-is, exchange-free when
    * bucketed, and nothing re-assigns the corpus per batch; a raw
    * corpus on the routed path is assigned on the fly and cached for
    * the stats + join passes (lifecycle via `pin`).
    *
    * Output: (vec_a, vec_b, cosine, vs_corpus) — vec_a is always the
    * new vector; new-new pairs are vec_a < vec_b (the family
    * contract). */
  def incrementalEmbeddingNearDupPairs(newVecs: DataFrame,
      corpus: DataFrame, blockCol: String, threshold: Double,
      strategy: String = "auto", routeBound: Long = EmbedRouteBound,
      centroids: Seq[(Int, Seq[Double])] = Nil,
      pin: DataFrame => Unit = OperatorCaches.register,
      densePairsPerTask: Long = Parallelism.DefaultTargetPairsPerTask)
      : DataFrame = {
    // a prebuilt cell rel names its block column "blk"
    def blkOf(df: DataFrame) =
      if (df.columns.contains(blockCol)) col(blockCol) else col("blk")
    def prep(df: DataFrame, side: String): DataFrame = df.select(
      col("vec_id").as(s"vec_$side"), blkOf(df).as("blk"),
      col("embedding").as(s"e_$side"),
      Similarity.l2Norm(col("embedding")).as(s"n_$side"))
    val a = prep(newVecs, "a")
    def scored(joined: DataFrame, pred: org.apache.spark.sql.Column,
        vsCorpus: Boolean): DataFrame =
      joined
        // zero-norm rows never qualify a cosine threshold (0/0 = NaN
        // passes `>= τ` under Spark's NaN ordering); filtered on BOTH
        // legs so dense ≡ routed row identity holds with zero-norm
        // (failed-embedding) rows present
        .filter(pred && col("n_a") > 0.0 && col("n_b") > 0.0)
        .withColumn("cosine",
          Similarity.dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")))
        .filter(col("cosine") >= threshold)
        .withColumn("vs_corpus", lit(vsCorpus))
        .select("vec_a", "vec_b", "cosine", "vs_corpus")
    // The dense vs-corpus join rides [[Parallelism.saltedBlockJoin]]
    // with the CORPUS on the salted (single-copy) side and the small
    // batch replicated per salt: under a constant or hot block key the
    // plain equi-join collapses onto ONE shuffle partition — measured
    // at 2 M unblocked vectors, the whole 4×10⁹-candidate scan
    // serialized on a single core — while the salted form splits the
    // block r-ways at the cost of replicating only the batch. When no
    // block's pair volume exceeds the per-task target the machinery
    // escapes to the identical plain join (the corpus bucketing, when
    // present, survives exactly when it should: salting only engages
    // where a re-shuffle is the cure, not the disease). `pairBound`
    // lets the auto branch reuse its already-computed Σ statistic to
    // take the escape with zero extra jobs at gate scale.
    def denseVsCorpus(pairBound: Long): DataFrame =
      scored(Parallelism.saltedBlockJoin(prep(corpus, "b"), a,
          Seq("blk"), "vec_b", targetPairsPerTask = densePairsPerTask,
          pairBound = pairBound),
        col("vec_a") =!= col("vec_b"), vsCorpus = true)
    // the routed machinery, resolved AT MOST ONCE and only when a
    // routed branch is reached (the exact path at gate scale stays
    // zero-extra-jobs beyond the dispatch stat); an on-the-fly cell
    // rel is cached — it feeds the stats aggs AND the join
    lazy val cents =
      if (centroids.nonEmpty) centroids
      else IvfCentroids.forCorpus(
        corpus.select(col("vec_id"), col("embedding")))
    lazy val cellRel =
      if (corpus.columns.contains("cell")) corpus
      else {
        val rel = embedCellRel(corpus, blockCol, cents).cache()
        pin(rel)
        rel
      }
    // Σ_blk batch_b × corpus_b from two narrow block-count scans — the
    // dispatch statistic every sibling pair generator logs
    // (lshPairBound / videoNearDupPairs' postings histogram)
    lazy val dense = Parallelism.bipartitePairCount(
      newVecs.select(blkOf(newVecs).as("blk")),
      corpus.select(blkOf(corpus).as("blk")), Seq("blk"))
    val chosen = Parallelism.pickStrategy("incrementalEmbeddingNearDupPairs",
        strategy, Seq("exact", "cells")) {
      if (dense <= routeBound)
        ("exact", s"denseCandidates=$dense (Σ batch_b×corpus_b) " +
          s"routeBound=$routeBound")
      else {
        // past the bound, price the routed volume too and take the
        // cheaper EXACT plan: Σ over the batch's radius-probed cells
        // of that cell's corpus count (one narrow assignment agg —
        // the batch side is small by the operator's own contract)
        val probeTable = cellProbeTable(cellRel, cents)
        val r = math.sqrt(math.max(2.0 - 2.0 * threshold, 0.0))
        val sizes = cellRel.groupBy("cell").agg(count(lit(1)).as("nc"))
        val routed = newVecs.select(explode(
            HashExpressions.cellsWithinRadius(
              col("embedding"), probeTable, r)).as("cell"))
          .join(sizes, "cell")
          .agg(coalesce(sum(col("nc")), lit(0L))).head.getLong(0)
        // candidates are not walls: a routed candidate is ~two
        // orders costlier than a salted-dense one (measured —
        // [[RoutedCostFactor]]), so the comparison is cost-weighted
        (if (routed * RoutedCostFactor < dense) "cells" else "exact",
          s"denseCandidates=$dense routedCandidates=$routed " +
            s"(radius-probed cells, cost factor $RoutedCostFactor) " +
            s"routeBound=$routeBound")
      }
    }
    // the auto statistic bounds every single block's na·nb, so the
    // dense leg's salted join takes its escape with no stats job;
    // −1 = unproven (a forced strategy), the salted join measures
    val denseBound = if (strategy == "auto") dense else -1L
    val vsCorpusLeg =
      if (chosen == "exact") denseVsCorpus(denseBound)
      else
        cellRoutedVsCorpusPairs(newVecs, cellRel, blockCol,
            threshold, cents)
          .withColumn("vs_corpus", lit(true))
    // the new-new self leg stays a plain block join: batch² is small
    // by the operator's own contract, never the hot-block exposure
    vsCorpusLeg.unionByName(
      scored(a.join(prep(newVecs, "b"), Seq("blk")),
        col("vec_a") < col("vec_b"), vsCorpus = false))
  }

  /** SimHash signatures (30-bit, exact-arithmetic family). Near-dup
    * detection at scale: split the signature into bands and bucket-join
    * like minhash; here we emit the signature per doc. Native one-pass
    * tokenize+hash ([[HashExpressions.TokenHashSet]] — one hash per
    * distinct token, so its size IS the distinct token count) and
    * native bit-vote fold ([[HashExpressions.SimHash30]]); both
    * cross-checked bit-exact against the HOF spec in HashExprSpec. */
  def simHashSignatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      HashExpressions.tokenHashSet(col("text")).as("hashes"))
      .select(col("doc_id"),
        HashExpressions.simHash30(col("hashes")).as("simhash"),
        size(col("hashes")).as("n_tokens"))

  /** Connected components over an undirected pair list — the step that
    * turns near-dup PAIRS into dedup CLUSTERS (a doc chain a~b~c must
    * collapse to one canonical even when a~c was never proposed).
    * Component label = min node id in the component.
    *
    * Iterative min-label propagation on the symmetrized edge list: each
    * round every node takes the min of its own label and its
    * neighbors'; converges in O(component diameter) rounds. Dedup
    * graphs are near-star-shaped (diameter 2–4), so this beats the
    * O(log n)-round large-star/small-star alternation (Kiveris et al.
    * 2014, "Connected Components in MapReduce") in constant factors
    * while shuffling the same (node, label) pairs.
    * Each round is one shuffle join + one partial-agg min — no driver
    * data, no collect. Every round's label table is (local)checkpointed:
    * the round's plan references the previous labels twice (messages +
    * union), so without lineage truncation the logical plan doubles per
    * round and the driver dies on plan explosion long before the data
    * does. On a real cluster set `spark.sparkContext.setCheckpointDir`
    * and swap `localCheckpoint()` for `checkpoint()` for
    * failure-tolerant lineage cuts.
    *
    * Adversarial long-diameter graphs (chains): if plain propagation
    * has not converged after `maxIter` rounds, the loop switches to a
    * pointer-jumping phase — each round propagates AND shortcuts
    * `L(id) := min(L(id), L(L(id)))`, halving the depth of every label
    * chain per round (Shiloach–Vishkin-style path doubling; the same
    * O(log n) round bound as the Kiveris star alternation, two shuffles
    * per round instead of one). `shortcutIter` extra rounds therefore
    * cover components up to ~`maxIter · 2^shortcutIter` in diameter —
    * the default 20 is unreachable by any terrestrial graph. If even
    * that cap is hit, the method THROWS rather than returning
    * wrong-but-plausible labels (a silently mislabeled component at
    * 100 TB poisons every downstream dedup decision; loud failure is
    * the only safe behavior).
    *
    * Output: one row per node appearing in `edges` — (id, component).
    * Node ids must be non-negative (the Σ-label convergence detector
    * relies on labels being bounded below by 0).
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25, shortcutIter: Int = 20,
      smallGraphEdges: Long = 200000L): DataFrame = {
    // symmetrize in ONE pass over the (possibly expensive-to-compute)
    // edge input — a union of e with e-reversed would scan it twice.
    // Null endpoints are dropped UP FRONT (ids are documented
    // non-negative): before r18 the two dispatch branches diverged on
    // out-of-contract input — the driver union-find unboxed a null id
    // to 0L (merging those rows into node 0's component) while the
    // distributed loop silently dropped null-keyed join messages.
    val symAll = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(explode(array(
        struct(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b")),
        struct(col(dstCol).cast("long").as("a"), col(srcCol).cast("long").as("b"))))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
      // cached so that the distributed path re-reads the edge set the
      // bounded collect below already computed, instead of recomputing
      // the (possibly expensive) edge input
      .cache()
    // Small-graph fast path (r17): the distributed loop costs ~2 s of
    // pure fixed latency at gate scale (6+ driver round-trips, 2
    // shuffles/round) on graphs of a few THOUSAND edges whose exact
    // min-label components a driver union-find computes in
    // milliseconds. The dispatch is scale-adaptive and BOUNDED — the
    // cellProbeTable discipline: ONE collect of at most
    // `smallGraphEdges` + 1 symmetrized rows (default 200 k — ~3 MB
    // serialized, the maxResultSize-relevant figure; the typed
    // driver-heap footprint is ~48 B/edge ≈ 10 MB of boxed tuples at
    // the bound) both decides the path and feeds it; past the bound the
    // distributed loop runs untouched (a 100 TB near-dup edge set is
    // O(nBands·N) and blows the bound immediately). Identical output by
    // construction: union-find with min-root labeling computes the same
    // (id, min id reachable) fixpoint the propagation loop converges
    // to, for every node appearing in `edges` — spec-pinned against the
    // forced distributed path (JoinOpsSpec "small-graph fast path ≡
    // forced distributed").
    if (smallGraphEdges > 0L) {
      // typed collect (primitive-pair encoder), not Row collect: the
      // serialized result is ~16 B/edge so the stated ~3 MB bound is
      // honest, and the driver holds tuples instead of heavier
      // InternalRow-backed Rows
      val spark0 = edges.sparkSession
      import spark0.implicits._
      val rows = symAll.as[(Long, Long)]
        .limit(math.min(smallGraphEdges, Int.MaxValue - 1L).toInt + 1)
        .collect()
      if (rows.length <= smallGraphEdges) {
        Parallelism.logDispatch("connectedComponents",
          s"symEdges=${rows.length} <= smallGraphEdges=$smallGraphEdges " +
            "-> driver union-find (bounded small-graph fast path)")
        symAll.unpersist()
        return spark0.createDataset(unionFindLabels(rows)).toDF("id", "component")
      }
    }
    // pin the cached edges on the join key: every round's
    // sym.b ⋈ labels.id then needs NO exchange on either side (the
    // cache reports hash(b) partitioning, the checkpointed labels
    // keep the hash(id) partitioning of the groupBy that built
    // them) — one shuffle per round (the message groupBy) instead
    // of three
    val sym = symAll.repartition(col("b")).cache()
    Parallelism.logDispatch("connectedComponents",
      s"symEdges > smallGraphEdges=$smallGraphEdges " +
        "-> distributed min-label propagation")
    // initial labels with the first propagation round folded in:
    // component₀ = min(self, neighbors) — same cost as the bare
    // distinct-nodes scan, one fewer loop round.
    //
    // localCheckpoint(eager = false) throughout the loop (r17): the
    // labelSum convergence probe right below is ALWAYS the next action
    // on a fresh label frame, so it materializes the checkpoint and
    // reads the sum in ONE job — the eager form paid a separate
    // materialization job per round (2 jobs/round -> 1; q48 runs 5–6
    // rounds plus init, each job ~80 ms of fixed scheduling latency at
    // gate scale). Single-consumer-first semantics are unchanged:
    // nothing touches `labels`/`next` before the sum runs.
    var labels = sym.groupBy(col("a"))
      .agg(min("b").as("mb"))
      .select(col("a").as("id"), least(col("a"), col("mb")).as("component"))
      .localCheckpoint(false)
    // convergence detector: labels only ever decrease, so Σcomponent
    // strictly decreases on any change — one cheap aggregate per round
    // instead of a full next-vs-previous anti-join
    def labelSum(df: DataFrame): Long =
      Option(df.agg(sum("component")).first().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
    var prevSum = labelSum(labels)
    // that probe built `sym` in full, so the unpartitioned copy goes
    // now instead of riding every propagation round
    symAll.unpersist()
    var converged = prevSum == 0L // empty edge set
    // Half-shuffle round (r18): the former labels.union(msgs).groupBy
    // shape re-shuffled the full label set alongside the messages
    // every round. Aggregating the messages alone (map-side partial
    // min, then one exchange on id) and folding them into labels with
    // a partition-colocated LEFT join keeps labels where they are.
    // min(labels ∪ msgs) ≡ least(label, min(msgs)) per id (least
    // ignores a null mc), and ids without messages keep their label
    // via the left join — same fixpoint, spec-pinned (JoinOpsSpec
    // forced-distributed ≡ fast path / long-chain / non-convergence).
    //
    // Label lifecycle — localCheckpoint(eager = false) every round.
    // Two findings from the r18 `OptProbe ccplan` executed-plan probe:
    // (1) a localCheckpoint under AQE stores UnknownPartitioning in
    // its LogicalRDD (the adaptive plan's partitioning is not final
    // when the checkpoint captures it), so consumer joins re-shuffle
    // the checkpointed labels — the per-round exchange count is 2
    // (msgs aggregate + labels), not the 1 the colocated shape aims
    // for; the fold still cuts per-round shuffle WRITES ~27% vs the
    // union (84 → 61 MB/round on the 2 M-node ccscale fixture: labels
    // no longer ride the union exchange alongside the messages).
    // (2) cached labels DO report hash(id, N) and stream into the fold
    // join with no exchange, but labels appear twice per round (msgs
    // join + fold join) so the LOGICAL plan doubles per round and
    // driver analysis time explodes — a cache-with-periodic-truncation
    // variant measured 21.5–24.8 s on the ccscale fixture vs 17.3–19.4
    // for checkpoint-every-round (jobs idle, driver planning hot).
    // Measured and rejected; checkpoint-every-round stands.
    def foldMsgs(msgs: DataFrame): DataFrame = {
      val upd = msgs.groupBy("id").agg(min("component").as("mc"))
      labels.join(upd.hint("shuffle_hash"), Seq("id"), "left")
        .select(col("id"),
          least(col("component"), col("mc")).as("component"))
    }
    var i = 0
    while (!converged && i < maxIter) {
      val msgs = sym.join(labels, sym("b") === labels("id"))
        .select(sym("a").as("id"), col("component"))
      val next = foldMsgs(msgs)
        .localCheckpoint(false) // materialized by the labelSum probe
      val nextSum = labelSum(next)
      labels.unpersist()
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      i += 1
    }
    // Pointer-jumping fallback for long-diameter graphs (see doc): the
    // shortcut self-join compresses label chains multiplicatively, so
    // a component that plain propagation would need O(diameter) rounds
    // for finishes in O(log diameter) extra rounds. Labels still only
    // decrease, so the Σ-label detector carries over unchanged.
    var j = 0
    while (!converged && j < shortcutIter) {
      val msgs = sym.join(labels, sym("b") === labels("id"))
        .select(sym("a").as("id"), col("component"))
      val prop = foldMsgs(msgs) // same half-shuffle fold as the main loop
        .localCheckpoint() // referenced twice below (base + parent side)
      val parents = prop.select(col("id").as("pid"),
        col("component").as("pcomp"))
      val next = prop.join(parents, prop("component") === parents("pid"),
          "left")
        .select(prop("id"),
          least(prop("component"),
            coalesce(col("pcomp"), prop("component"))).as("component"))
        .localCheckpoint(false) // materialized by the labelSum probe
      val nextSum = labelSum(next)
      labels.unpersist()
      prop.unpersist()
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      j += 1
    }
    sym.unpersist()
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge after $maxIter propagation + " +
        s"$shortcutIter pointer-jumping rounds — refusing to return " +
        "possibly-mislabeled components")
    labels
  }

  /** (id, min id reachable) for every node of a symmetrized edge list,
    * by union-find on the driver — [[connectedComponents]]' small-graph
    * path. */
  private def unionFindLabels(rows: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    var ri = 0
    while (ri < rows.length) {
      val (a, b) = rows(ri); ri += 1
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val (ra, rb) = (find(a), find(b))
      // min root wins, so the final root of every tree IS the
      // component's min id (roots only ever decrease)
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
    val ks = parent.keySet().iterator()
    while (ks.hasNext) { val k = ks.next(); out += ((k, find(k))) }
    out.toSeq
  }

  /** Fuzzy duplicate pairs by bounded edit distance — the
    * entity-resolution flavor of near-dup: catches small in-place
    * edits (typo fixes, template variable substitutions) that shingle
    * jaccard under-weights and token sets miss entirely.
    *
    * Cost discipline: Levenshtein is O(len²) PER PAIR, so the operator
    * never runs it on an unbounded pair set — candidates come from an
    * explicit block equi-join, a length band (|len_a − len_b| ≤ maxDist
    * is a lower bound on edit distance, so the prefilter is lossless)
    * cuts the survivors, and the distance itself runs with Spark's
    * early-abandon threshold form (`levenshtein(a, b, k)` returns −1
    * past k, abandoning the DP row scan early). Output: doc_a, doc_b,
    * dist — exactly the pairs at distance ≤ maxDist.
    *
    * `prefilterGram` > 0 adds a LOSSLESS q-gram count prune between
    * the length band and the DP: a single edit destroys at most `n`
    * of a string's distinct character n-grams, so dist(a,b) ≤ k ⇒
    * |D(a) ∩ D(b)| ≥ max(|D(a)|, |D(b)|) − k·n (Gravano et al. 2001,
    * "Approximate String Joins in a Database (Almost) for Free" — the
    * set-distinct form of the positional q-gram count bound). The
    * shingle arrays are one O(len) pass per DOC and the intersection
    * one O(len) merge scan per PAIR ([[HashExpressions
    * .SortedIntersectCount]]), vs O(len·k) for the banded DP — at
    * 100 TB the survivors of the block join are overwhelmingly
    * NON-duplicates, and this discards them at ~k× less cost.
    *
    * Pair-generation shape (sf1 measurement drove this): the block
    * join runs on SLIM rows — ids, lengths, and a length BUCKET of
    * width maxDist+1 folded into the join key (|len_a − len_b| ≤
    * maxDist forces same-or-adjacent buckets, so the a-side probes 3
    * buckets: an equi-join, still lossless) — and the multi-KB
    * payloads join back by doc id only for pairs that SURVIVE each
    * stage: shingle arrays after the length band, text only after the
    * q-gram prune. The naive join carried ~4 KB of arrays per
    * candidate pair through the shuffle (tens of GB at 50 k docs);
    * this shape moves payload bytes proportional to survivors. */
  def editDistancePairs(docs: DataFrame, blockCols: Seq[String],
      maxDist: Int, prefilterGram: Int = 0,
      strategy: String = "auto"): DataFrame =
    editPairs(docs, docs, self = true, blockCols, maxDist, prefilterGram,
      editStrategy("editDistancePairs", strategy, docs, docs, blockCols,
        maxDist))

  /** The edit-distance operators' dispatch: `auto` counts the exact
    * candidate volume the band join (or tile kernel) will enumerate —
    * Σ n_a·n_b over (block, length bucket) cells with the a side
    * 3-probed — and keeps the join up to 10⁷ candidates. */
  private def editStrategy(op: String, strategy: String, aDocs: DataFrame,
      bDocs: DataFrame, blockCols: Seq[String], maxDist: Int): String =
    Parallelism.pickStrategy(op, strategy, Seq("join", "tiled")) {
      def cells(df: DataFrame, probe: Boolean) = df.select(blockCols.map(col) :+
        lenBucket(length(col("text")), maxDist + 1, probe).as("bkt"): _*)
      val cands = Parallelism.bipartitePairCount(cells(aDocs, probe = true),
        cells(bDocs, probe = false), blockCols :+ "bkt")
      (if (cands <= 1e7.toLong) "join" else "tiled", s"cands=$cands")
    }

  /** Length bucket of width `w`; the probing side explodes to its own
    * and both adjacent buckets, which covers |len_a − len_b| < w
    * losslessly (each pair meets in exactly one bucket, the
    * non-probing side's). */
  private def lenBucket(len: org.apache.spark.sql.Column, w: Int,
      probe: Boolean): org.apache.spark.sql.Column =
    if (probe) explode(array(floor(len / w) - 1, floor(len / w),
      floor(len / w) + 1))
    else floor(len / w)

  /** Edit-distance pairs of `aDocs` against `bDocs` on the `chosen`
    * route: the tile kernel, or the slim 3-probe length-bucket band
    * join resolved by [[resolveEditPairs]]. `self` = both sides are
    * one table, so each pair is kept once (doc_a < doc_b). */
  private def editPairs(aDocs: DataFrame, bDocs: DataFrame, self: Boolean,
      blockCols: Seq[String], maxDist: Int, prefilterGram: Int,
      chosen: String): DataFrame = {
    val w = maxDist + 1
    if (chosen == "tiled")
      return TiledKernels.bipartiteEditPairs(
        editTileRel(aDocs, blockCols, w, probe = true, prefilterGram),
        editTileRel(bDocs, blockCols, w, probe = false, prefilterGram),
        maxDist, prefilterGram, orderCheck = self)
    def slim(df: DataFrame, side: String, probe: Boolean) = df.select(
        (col("doc_id").as(s"doc_$side") +: blockCols.map(col)) :+
          length(col("text")).as(s"len_$side"): _*)
      .withColumn("bkt", lenBucket(col(s"len_$side"), w, probe))
    val joined = slim(aDocs, "a", probe = true)
      .join(slim(bDocs, "b", probe = false), blockCols :+ "bkt")
    val banded = (if (self) joined.filter(col("doc_a") < col("doc_b"))
        else joined)
      .filter(abs(col("len_a") - col("len_b")) <= maxDist)
      .select("doc_a", "doc_b", "len_a", "len_b")
    // the two sides of an increment join come from different tables:
    // resolve payloads from their union (ids are disjoint between
    // increment and corpus)
    val payloads =
      if (self) aDocs
      else aDocs.select("doc_id", "text")
        .unionByName(bDocs.select("doc_id", "text"))
    resolveEditPairs(payloads, banded, maxDist, prefilterGram)
  }

  /** Tile-relation side for the kernel edit-distance path: block key =
    * block cols + [[lenBucket]] (the same lossless
    * |len_a − len_b| ≤ maxDist cover as the join shape). Shingle arrays
    * ride along only when the gram prune is on. */
  private def editTileRel(docs: DataFrame, blockCols: Seq[String],
      w: Int, probe: Boolean, prefilterGram: Int): DataFrame = {
    // a null block col never equi-joins in the join shape — drop such
    // rows before keying (to_json omits null fields, which would
    // otherwise merge distinct null-keyed blocks)
    docs
      .filter(blockCols.map(col(_).isNotNull).reduce(_ && _))
      .select((col("doc_id").as("id") +:
        length(col("text")).as("len") +: col("text") +:
        (if (prefilterGram > 0)
          HashExpressions.shingleHashes(col("text"), prefilterGram).as("sh")
        else lit(null).cast("array<long>").as("sh")) +:
        blockCols.map(col)): _*)
      .withColumn("bkt", lenBucket(col("len"), w, probe))
      .select(
        to_json(struct((blockCols.map(col) :+ col("bkt")): _*)).as("bk"),
        col("id"), col("len"), col("text"), col("sh"))
  }

  /** Shared tail of the edit-distance operators: candidate (doc_a,
    * doc_b, len_a, len_b) pairs → exact distances, attaching payloads
    * stage by stage (arrays for the q-gram prune, text only for the
    * DP).
    *
    * The q-gram bound |D(a) ∩ D(b)| ≥ max(|D|) − k·n can only REJECT a
    * pair when max(|D|) > k·n, and |D| ≤ len − n + 1 — so pairs with
    * `greatest(len) ≤ k·n + n − 1` are provably un-prunable and go
    * straight to the DP without ever attaching shingle arrays (at
    * q72's loose k = 0.3·len parameterization that is EVERY pair, and
    * the array joins were pure overhead: sf1 measured 195 s → 226 s
    * from vacuous pruning; this split restores the direct path while
    * keeping the prune for the tight-k regime where it removes ~all
    * non-duplicates). Joins against the per-doc payload tables use
    * shuffle-hash (the pair side dwarfs the doc side; sort-merge would
    * sort multi-KB array rows). */
  private def resolveEditPairs(docs: DataFrame, cand: DataFrame,
      maxDist: Int, prefilterGram: Int): DataFrame = {
    val txt = docs.select(col("doc_id"), col("text"))
    // The O(len·k) DP runs fused into the second attach join's output
    // stage, and its input rows compress ~20:1 — AQE's byte-based
    // coalescing ran q72's 3 s-CPU DP stage on 3 tasks (r17 event-log
    // measurement: stage wall 1.6 s, max task 1.6 s). The explicit
    // fixed-width repartition on the join key is AQE-exempt and
    // REPLACES the planner's exchange (hashpartitioning(doc_b, N)
    // satisfies the join's clustering), so the DP keeps full width at
    // no extra shuffle.
    def withText(pairs: DataFrame): DataFrame = pairs
      .join(txt.select(col("doc_id").as("doc_a"), col("text").as("t_a"))
        .hint("shuffle_hash"), "doc_a")
      .repartition(Parallelism.wideN(docs.sparkSession), col("doc_b"))
      .join(txt.select(col("doc_id").as("doc_b"), col("text").as("t_b"))
        .hint("shuffle_hash"), "doc_b")
    def dp(pairs: DataFrame): DataFrame = pairs
      .withColumn("dist",
        levenshtein(col("t_a"), col("t_b"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select("doc_a", "doc_b", "dist")
    if (prefilterGram <= 0) dp(withText(cand.select("doc_a", "doc_b")))
    else {
      val bound = maxDist.toLong * prefilterGram + prefilterGram - 1
      val prunable = greatest(col("len_a"), col("len_b")) > bound
      val direct = cand.filter(!prunable).select("doc_a", "doc_b")
      val sh = docs.select(col("doc_id"),
        HashExpressions.shingleHashes(col("text"), prefilterGram).as("sh"))
      val pruned = cand.filter(prunable).select("doc_a", "doc_b")
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
          .hint("shuffle_hash"), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
          .hint("shuffle_hash"), "doc_b")
        .filter(
          HashExpressions.sortedIntersectCount(col("sh_a"), col("sh_b")) >=
            greatest(size(col("sh_a")), size(col("sh_b"))) -
              lit(maxDist.toLong * prefilterGram))
        .select("doc_a", "doc_b")
      dp(withText(pruned.unionByName(direct)))
    }
  }

  /** Incremental fuzzy matching — [[editDistancePairs]] in the shape a
    * 100 TB pipeline actually runs it (the [[incrementalNearDupPairs]]
    * framing): Levenshtein is O(len²) per pair, so the full blocked
    * self-join is a one-time backfill at most; steady state matches
    * each INCREMENT against the corpus, and pair volume scales with
    * |increment|·|block|, not |corpus|²/blocks. Output: doc_a (new),
    * doc_b, dist, vs_corpus (false = both endpoints new, emitted once
    * with doc_a < doc_b). */
  def incrementalEditDistancePairs(newDocs: DataFrame, corpus: DataFrame,
      blockCols: Seq[String], maxDist: Int,
      prefilterGram: Int = 0, strategy: String = "auto"): DataFrame = {
    // one strategy for both halves: the vs-corpus candidate count
    // dominates (|increment|·|block| vs |increment|²/blocks)
    val chosen = editStrategy("incrementalEditDistancePairs", strategy,
      newDocs, corpus, blockCols, maxDist)
    def leg(bDocs: DataFrame, self: Boolean) =
      editPairs(newDocs, bDocs, self, blockCols, maxDist, prefilterGram,
        chosen).withColumn("vs_corpus", lit(!self))
    leg(corpus, self = false).unionByName(leg(newDocs, self = true))
  }

  /** Semantic deduplication, cluster-then-prune (the SemDeDup shape —
    * Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication"): assign every embedding to its
    * nearest coarse centroid, then compare pairs ONLY within a cluster
    * and mark the higher-id member of every ≥`tau`-cosine pair as a
    * duplicate. The clustering is what makes semantic dedup tractable
    * at 100 TB: pair volume drops from N² to Σ cell² , and the cell
    * self-join keys on cell id (a bucket equi-join like every other
    * pair generator here — cells are the learned analog of q32's
    * metadata blocks).
    *
    * Centroids arrive as literal data (train once offline, ship the
    * table — same discipline as [[Similarity.ivfTopKWithCentroids]]),
    * so the whole operator is pure join/fold arithmetic and the q67
    * oracle reproduces it bit-for-bit. Cell assignment reuses the
    * cached [[Similarity.buildIvfIndex]] (nProbe=1).
    *
    * Output: vec_id, cell, n_dups (same-cell lower-id neighbors with
    * cosine ≥ tau), max_cosine (nullable — strongest such neighbor),
    * is_dup. Keepers are the is_dup=false rows; the min-id-wins rule
    * makes the kept set deterministic and engine-independent. */
  def semanticDedup(embeddings: DataFrame,
      centroids: Seq[(Int, Seq[Double])], tau: Double,
      pin: DataFrame => Unit = OperatorCaches.register): DataFrame = {
    val idx = Similarity.buildIvfIndex(embeddings, centroids, 1, pin)
    val asg = idx.select(col("vec_id"), col("cell"), col("embedding"), col("nrm"))
    val a = asg.select(col("cell"), col("vec_id"),
      col("embedding").as("e_a"), col("nrm").as("n_a"))
    val b = asg.select(col("cell"), col("vec_id").as("nb_id"),
      col("embedding").as("e_b"), col("nrm").as("n_b"))
    val dups = a.join(b, "cell")
      .filter(col("nb_id") < col("vec_id"))
      .withColumn("cosine",
        Similarity.dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")))
      .filter(col("cosine") >= tau)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_dups"), max("cosine").as("max_cosine"))
    asg.select("vec_id", "cell")
      .join(dups, Seq("vec_id"), "left")
      .na.fill(0L, Seq("n_dups"))
      .withColumn("is_dup", col("n_dups") > 0)
      .select("vec_id", "cell", "n_dups", "max_cosine", "is_dup")
  }
}
