package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`).
  *
  * Numeric discipline: dot products are computed as a *sequential
  * left-fold in double precision* (`aggregate(zip_with(...))`), which
  * is bit-reproducible across engines — the DuckDB oracle does the
  * identical fold. `sqrt` and `/` are IEEE-correctly-rounded, so full
  * cosine scores hash-match exactly.
  *
  * Scale posture: brute-force is the small-query-set baseline
  * (broadcast queries × full scan — embarrassingly parallel, no
  * shuffle); the LSH variant buckets by random-hyperplane signs so
  * candidate generation is a bucket equi-join, then exact re-rank.
  */
object Similarity {

  /** Sequential double-precision dot product of two array columns
    * (left fold in array order — bit-reproducible; native expression,
    * see [[graft.functions.HashExpressions.DotProduct]]). */
  def dot(a: Column, b: Column): Column =
    graft.functions.HashExpressions.dotProduct(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Exact top-k cosine neighbors for each query vector.
    * `queries`/`candidates`: (id, embedding). Self-pairs excluded.
    * Output: query_id, neighbor_id, rank, cosine.
    *
    * The scored rel is SLIMMED to (query_id, neighbor_id, cosine)
    * before the rank window: the window's exchange otherwise carries
    * both embedding payloads on every scored pair — harmless at gate
    * scale, but at a 2 M-corpus × 200-query probe that is ~200 GB of
    * rank-shuffle for columns the rank never reads (measured: the r13
    * recall campaign's exact stage spilled for 40+ min before this
    * slim; 523 s after). `candidates` is widened so a single-file
    * corpus doesn't cap the scan at a handful of tasks. */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val q = queries.select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      l2Norm(col("embedding")).as("q_norm"))
    val c = Parallelism.widen(candidates).select(
      col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
      l2Norm(col("embedding")).as("c_norm"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("q_emb"), col("c_emb")) /
          (col("q_norm") * col("c_norm"))).as("cosine"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Single nearest neighbor per vector inside equal-`blockCol` blocks
    * (a blocked similarity self-join — the shape of embedding-based
    * near-dup detection). Output: vec_id, neighbor_id, cosine.
    *
    * The top-1 is a `max_by` HASH AGGREGATE, not a row_number window:
    * the block join emits Σ block² scored pairs, and a window must
    * SORT them all (sf1 measurement: ~80 M pairs through the sort made
    * this the slowest query in the suite at 249× the sf0.1 cost) while
    * the aggregate folds them map-side in one pass. Tie-break matches
    * the previous window exactly: highest cosine, then LOWEST
    * neighbor_id (the `-neighbor_id` component of the max key). */
  /** Exact top-1 cosine neighbor within `blockCol` blocks.
    *
    * `strategy`: `"join"` = salted block equi-join + max_by fold;
    * `"tiled"` = [[TiledKernels.blockTop1Partials]] grid tiles (wins
    * once the join's sort-merge must move the Σ n_b² candidate rows'
    * embedding payloads: sf10 measured 51.7 s join vs 21.2 s tiled);
    * `"auto"` (default) dispatches on the candidate count from one
    * narrow block-col scan. Identical results on every path — same
    * sequential double folds, same (cosine desc, lowest id) fold
    * under Spark NaN/-0.0 comparison semantics. */
  def blockedNearestNeighbor(embeddings: DataFrame,
      blockCol: String, strategy: String = "auto"): DataFrame = {
    val chosen = Parallelism.pickStrategy("blockedNearestNeighbor", strategy,
        Seq("join", "tiled")) {
      val cands = Parallelism.blockPairStats(embeddings, Seq(blockCol))._1
      (if (cands <= 2e8.toLong) "join" else "tiled", s"cands=$cands")
    }
    if (chosen == "tiled") {
      val rel = embeddings.select(
        col("vec_id").as("id"), col(blockCol).cast("string").as("bk"),
        col("embedding").cast("array<double>").as("emb"),
        l2Norm(col("embedding")).as("nrm"))
      // partial best per (query, tile) in-loop; the max_by fold below
      // is the same comparator, so partial-then-final equals global
      return TiledKernels.blockTop1Partials(rel)
        .groupBy("vec_id")
        .agg(max_by(
          struct(col("neighbor_id"), col("cosine")),
          struct(col("cosine"), (-col("neighbor_id")).as("nid"))).as("best"))
        .select(col("vec_id"), col("best.neighbor_id").as("neighbor_id"),
          col("best.cosine").as("cosine"))
    }
    val base = embeddings.select(
      col("vec_id"), col(blockCol).as("blk"), col("embedding"),
      l2Norm(col("embedding")).as("nrm"))
    // A 10-label corpus puts the whole Σ block² pair stream on 10
    // cores no matter the partition count — the salted join splits
    // each block's pair slice across ~n_b²/target tasks, exactly
    // (every pair scored once, max_by fold and tie-break unchanged);
    // see [[Parallelism.saltedBlockJoin]].
    val a = base.select(col("vec_id"), col("blk"),
      col("embedding").as("e_a"), col("nrm").as("n_a"))
    val b = base.select(col("vec_id").as("neighbor_id"), col("blk"),
      col("embedding").as("e_b"), col("nrm").as("n_b"))
    Parallelism.saltedBlockJoin(a, b, Seq("blk"), "vec_id")
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")))
      .groupBy("vec_id")
      .agg(max_by(
        struct(col("neighbor_id"), col("cosine")),
        struct(col("cosine"), (-col("neighbor_id")).as("nid"))).as("best"))
      .select(col("vec_id"), col("best.neighbor_id").as("neighbor_id"),
        col("best.cosine").as("cosine"))
  }

  /** IVF (inverted-file) ANN: a k-means coarse quantizer partitions the
    * vectors into `nCentroids` cells; each query probes its `nProbe`
    * nearest cells and exact-reranks only those candidates. The
    * standard scale path when the query set is large but per-query work
    * must stay sublinear — cell assignment is one broadcast-join pass,
    * candidate generation an equi-join on cell id (recall loss at cell
    * boundaries is the usual IVF trade-off; raise nProbe to trade speed
    * for recall). Seeded k-means ⇒ deterministic, but not
    * SQL-oracle-expressible (rows-only driver check).
    */
  def ivfTopK(embeddings: DataFrame, nCentroids: Int, nProbe: Int, k: Int,
      pin: DataFrame => Unit = OperatorCaches.register): DataFrame = {
    val centroids = fitQuantizer(embeddings, nCentroids)
    ivfTopKWithCentroids(embeddings, centroids, nProbe, k, pin)
  }

  /** Fit the IVF coarse quantizer: seeded k-means on a sample — the
    * quantizer only needs the density shape, not every vector (at
    * 100 TB you cannot fit on the full set anyway). The sample is
    * cached only for the duration of the (eager, iterative) fit and
    * unpersisted before returning — no leaked storage. */
  def fitQuantizer(embeddings: DataFrame, nCentroids: Int,
      maxSample: Long = 0L): Seq[(Int, Seq[Double])] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // maxSample > 0 caps the training-set SIZE (the k-means cost is
    // sample × k per iteration — at 100 TB a fixed fraction would make
    // the fit dwarf the search; ~64 samples/centroid is plenty for a
    // coarse quantizer). 0 keeps the legacy fixed 25% fraction that
    // the pinned tables were trained with.
    // capped tier: the size cap itself bounds the fit cost, so take the
    // full target even when it exceeds 25% of N (a 0.25 clamp here
    // silently undercut the ~64-samples/centroid target just above the
    // tier boundary, e.g. n=100k k=800 trained on ~25k not 51.2k); the
    // 0.25 fraction survives only on the legacy maxSample<=0 path that
    // the pinned tables were trained with.
    val fraction =
      if (maxSample <= 0L) 0.25
      else {
        val n = math.max(embeddings.count(), 1L)
        math.min(1.0, maxSample.toDouble / n.toDouble)
      }
    // capped tier: WIDEN the sample before caching — the sample
    // inherits the corpus scan's partitioning (a single-file corpus:
    // ~2 partitions), and every Lloyd iteration then runs sample×k×dim
    // flops on that many cores (measured: the r12 "25 min of in-query
    // fits" at 2 M vectors was ~2 executor threads saturated, 30 idle
    // — a parallelism bug, not inherent fit cost). Widening AFTER the
    // sample keeps the sampled row SET unchanged (Bernoulli sampling
    // is per-partition-seeded, so it must run on the original
    // partitioning); the legacy maxSample<=0 path keeps its exact
    // historical plan so the pinned tables stay reproducible.
    val sample0 = embeddings
      .select(array_to_vector(col("embedding")).as("features"))
      .sample(withReplacement = false, fraction, seed = 42L)
    val sample = (if (maxSample > 0L) Parallelism.widen(sample0)
                  else sample0).cache()
    try {
      val km = new KMeans()
        .setK(nCentroids).setSeed(42L).setMaxIter(5)
      // capped tier: k-means|| init costs several extra passes at
      // k ≥ 10³ (it dominated a k=1600 fit); random init + the same 5
      // Lloyd iterations is plenty for a COARSE quantizer, whose job
      // is balanced cells, not optimal distortion. The legacy path
      // keeps the default init the pinned tables were trained with.
      if (maxSample > 0L) km.setInitMode("random")
      val model = km.fit(sample)
      model.clusterCenters.zipWithIndex
        .map { case (c, i) => (i, c.toArray.toSeq) }.toSeq
    } finally sample.unpersist()
  }

  /** IVF search against a FIXED centroid table — the hot path contains
    * no ML UDF: cell assignment and probe selection are the same
    * broadcast-centroid `dist = -q·c + c·c/2` ranking (one crossJoin
    * against ≤ dozens of broadcast centroid rows, then a per-vector
    * hash-aggregate top-nProbe — never a partition-wide sort). With centroids
    * passed as double literals the whole query is pure join/fold
    * arithmetic that an external SQL engine reproduces bit-identically
    * (the q33 oracle). */
  def ivfTopKWithCentroids(embeddings: DataFrame,
      centroids: Seq[(Int, Seq[Double])], nProbe: Int, k: Int,
      pin: DataFrame => Unit = OperatorCaches.register): DataFrame =
    ivfSearch(buildIvfIndex(embeddings, centroids, nProbe, pin), nProbe, k)

  /** The IVF index: every vector ranked against the broadcast
    * centroids, keeping its `nProbe` nearest cells (`pr` = rank; pr==1
    * is the home-cell assignment). Pinned AND materialized eagerly —
    * build once, search many (at warehouse scale you would persist
    * this table and share it across queries). Lazy caching is not
    * enough: the search join's two input stages are scheduled
    * concurrently, so both miss an in-flight cache and re-run the
    * crossJoin+aggregate chain. Cache lifecycle as in
    * Dedup.minHashLshPairs: the cached index is handed to `pin` so a
    * long-lived caller can unpersist it when done (one-shot jobs just
    * let the session free it). */
  def buildIvfIndex(embeddings: DataFrame,
      centroids: Seq[(Int, Seq[Double])], nProbe: Int,
      pin: DataFrame => Unit = OperatorCaches.register): DataFrame = {
    // Assignment is ONE row-local expression (K sequential-fold dots,
    // keep the nProbe best — [[graft.functions.HashExpressions
    // .NearestCells]], bit-identical to the former
    // crossJoin(broadcast(centroids)) + min(struct(dist, cell)) /
    // array_sort(collect_list) aggregation): the join shape
    // materialized N×K distance ROWS only to aggregate them straight
    // back to N, ~200 ns of row machinery per row against ~60 ns for
    // the 64-dim dot itself — the dominant build cost once the cell
    // count scales with N (sf10: 64 s of which arithmetic is ~2 s).
    // No exchange at all: assignment is now a narrow map.
    val ranked = Parallelism.widen(embeddings)
      .select(col("vec_id"), col("embedding"),
        l2Norm(col("embedding")).as("nrm"),
        graft.functions.HashExpressions.nearestCells(
          col("embedding"), centroids, math.max(nProbe, 1)).as("cells"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        posexplode(col("cells")).as(Seq("p0", "dc")))
      .select(col("vec_id"), col("dc.cell").as("cell"),
        (col("p0") + 1).cast("int").as("pr"),
        col("embedding"), col("nrm"))
      .cache()
    pin(ranked)
    ranked.count() // eager build (see above)
    ranked
  }

  /** Incrementally extend a prebuilt IVF index with a batch of new
    * vectors — the production maintenance path at 100 TB: a daily
    * embedding increment is assigned against the SAME pinned
    * centroids (quantizers are versioned artifacts — retraining is a
    * reindex, not an append) and unioned onto the persisted index;
    * the existing corpus is never rescanned. Because cell assignment
    * is per-vector arithmetic over fixed centroids, the appended
    * index is row-identical to a full rebuild over the union — proven
    * in SimilaritySpec. Same discipline as
    * [[Dedup.incrementalNearDupPairs]] over the minhash band index. */
  def appendIvfIndex(index: DataFrame, newVecs: DataFrame,
      centroids: Seq[(Int, Seq[Double])], nProbe: Int,
      pin: DataFrame => Unit = OperatorCaches.register): DataFrame =
    index.unionByName(buildIvfIndex(newVecs, centroids, nProbe, pin))

  /** Search a prebuilt IVF index ([[buildIvfIndex]]): candidates are
    * the home-cell members of each query's probe cells, exact-reranked
    * by cosine. Self-search form of [[ivfSearchAgainst]]. */
  def ivfSearch(ranked: DataFrame, nProbe: Int, k: Int): DataFrame =
    ivfSearchAgainst(ranked, ranked, nProbe, k)

  /** Search one ranked table's probes against ANOTHER's home-cell
    * assignments — the external-query form: `queryIdx` is a (small)
    * batch of query vectors assigned via [[buildIvfIndex]] with the
    * SAME pinned centroids as the corpus `indexIdx`. This is the
    * micro-batch body of streaming ANN (each foreachBatch assigns the
    * arriving queries and joins the static index — the corpus is never
    * rescanned; see StreamingAnnSpec for the stream/batch parity
    * proof) and the serving path for ad-hoc query sets. */
  def ivfSearchAgainst(queryIdx: DataFrame, indexIdx: DataFrame,
      nProbe: Int, k: Int): DataFrame = {
    val assigned = indexIdx.filter(col("pr") === 1)
      .select(col("vec_id").as("neighbor_id"), col("cell"),
        col("embedding").as("e_b"), col("nrm").as("n_b"))
    val probes = queryIdx
      .filter(col("pr") <= math.max(nProbe, 1)) // allow probing narrower than built
      .select(col("vec_id").as("query_id"), col("cell"),
        col("embedding").as("e_a"), col("nrm").as("n_a"))
    probes.join(assigned, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Composed IVF-PQ search (IVFADC — Jégou et al., TPAMI 2011 §IV):
    * IVF cell routing + PQ asymmetric-distance scan within the probed
    * cells + optional exact top-`rerank` re-rank. The 10⁹⁺-vector
    * shape: [[ivfSearchAgainst]] re-ranks with exact dots, which means
    * the raw 256 B float vectors ride the probe join — at 10⁹ vectors
    * the index alone is ~256 GB of shuffle payload. Here the scanned
    * index carries only (cell, m-byte codes) per vector (~32×
    * smaller); raw vectors are touched exactly twice — once on the
    * (small) query side building its m×k distance table, and once to
    * attach the per-query `rerank` shortlist for the exact re-rank —
    * so the candidate scan is table-lookup arithmetic over the
    * compressed index, the FAISS IndexIVFPQ shape (non-residual
    * variant: codes quantize the raw vectors, not cell residuals, so
    * the SAME pinned [[PqCodebooks]] artifacts serve both the flat ADC
    * scan (q63) and this composition, and every distance stays
    * oracle-expressible exact arithmetic).
    *
    * Distances are squared L2 throughout (what ADC approximates);
    * the exact re-rank distance is the dot identity
    * ‖a−b‖² = a·a − 2·a·b + b·b with the repo's sequential-fold dot,
    * fixed association — bit-reproducible cross-engine (q88 oracle).
    * `rerank` ≤ 0 skips the exact pass and ranks by `approx_dist`
    * directly (`dist` then equals `approx_dist` for schema stability).
    *
    * Output: (query_id, neighbor_id, rank, dist, approx_dist), rank ≤
    * k per query by (dist, neighbor_id).
    *
    * Plan shape: encode is the q63 broadcast-codebook crossJoin
    * (linear, per-vector argmin); the scan is an equi-join of the slim
    * index against the BROADCAST (probe-cell × dtab) query side — no
    * shuffle of the corpus beyond the encode aggregation, candidates
    * ∝ Σ probed-cell sizes. At warehouse scale the (vec_id, cell,
    * codes) index is a persisted table bucketed by cell; rebuilding it
    * per query here mirrors q33/q63's self-contained gate shape. */
  def ivfAdcTopK(embeddings: DataFrame, queryPred: Column,
      centroids: Seq[(Int, Seq[Double])],
      codebooks: Seq[(Int, Int, Seq[Double])], dsub: Int,
      nProbe: Int, k: Int, rerank: Int = 0): DataFrame = {
    val index = buildAdcIndex(embeddings, centroids, codebooks, dsub)
    val q = embeddings.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding"))
    ivfAdcSearchAgainst(q, index, centroids, codebooks, dsub, nProbe, k,
      rerank, rawVectors = if (rerank > 0) Some(embeddings) else None)
  }

  /** The persistable IVFADC index: (vec_id, codes, cell) — the
    * vector's PQ codes plus its home IVF cell, ~32× slimmer than the
    * raw vectors. At warehouse scale this is a parquet table bucketed
    * by `cell`, maintained by [[appendAdcIndex]] increments; here the
    * gate queries rebuild it in place (the q33/q63 self-contained
    * shape). Cell assignment and encoding are per-vector arithmetic
    * over the pinned centroid/codebook artifacts, so increments are
    * row-identical to a rebuild (spec-proven, the
    * [[appendIvfIndex]] discipline). */
  def buildAdcIndex(embeddings: DataFrame,
      centroids: Seq[(Int, Seq[Double])],
      codebooks: Seq[(Int, Int, Seq[Double])], dsub: Int): DataFrame =
    // ONE narrow pass: cell assignment and PQ encoding are both
    // row-local expressions over the same vector, so computing them in
    // one select avoids the former encode⋈homeCells self-join — a full
    // shuffle of both 200 k-row sides just to zip columns that were
    // never apart
    Parallelism.widen(embeddings)
      .select(col("vec_id"),
        graft.functions.HashExpressions
          .pqEncode(col("embedding"), codebooks, dsub).as("codes"),
        element_at(graft.functions.HashExpressions.nearestCells(
          col("embedding"), centroids, 1), 1).getField("cell").as("cell"))

  /** Extend a prebuilt ADC index with a vector increment — the
    * production maintenance path: assign + encode the new batch
    * against the SAME pinned artifacts, union onto the persisted
    * index; the existing corpus is never rescanned or re-encoded. */
  def appendAdcIndex(index: DataFrame, newVecs: DataFrame,
      centroids: Seq[(Int, Seq[Double])],
      codebooks: Seq[(Int, Int, Seq[Double])], dsub: Int): DataFrame =
    index.unionByName(buildAdcIndex(newVecs, centroids, codebooks, dsub))

  /** Persist a slim ADC index ([[buildAdcIndex]] /
    * [[buildResidualAdcIndex]]) as a parquet table BUCKETED BY `cell`
    * — the warehouse form the build scaladoc promises. Two things the
    * layout buys at 10⁹ vectors: (a) a probe-cell `IN` predicate
    * prunes whole buckets at the SCAN (SelectedBucketsCount in the
    * plan — the index I/O per query is Σ probed-bucket bytes, not the
    * table), and (b) the probe join never shuffles the index side
    * (the query side is broadcast; the corpus stays where it was
    * written). Maintained by append: new increments are small enough
    * to union-in at read or compact per window. */
  def writeAdcIndexBucketed(index: DataFrame, table: String, buckets: Int,
      path: Option[String] = None): Unit = {
    val w = index.write
      .bucketBy(buckets, "cell")
      .sortBy("cell")
      .mode("overwrite")
      .format("parquet")
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Compact a persisted bucketed ADC index with its accumulated
    * increments — the maintenance path [[writeAdcIndexBucketed]]'s
    * scaladoc promises: increments ([[appendAdcIndex]] /
    * [[appendResidualAdcIndex]] output, or any (vec_id, cell, codes)
    * rel) are unioned onto the base table and the result re-bucketed
    * into `outTable`. Per window this restores the two properties the
    * bucketed layout buys (probe-cell bucket pruning at the scan, zero
    * exchange on the index side of the probe join) that a read-time
    * union of unbucketed increment files progressively erodes.
    *
    * `outTable` must differ from `baseTable`: the compaction READS the
    * base while writing, and the warehouse pattern is version-suffixed
    * tables swapped by rename/view-repoint once the write commits (an
    * in-place overwrite of a table being scanned is the classic
    * self-read corruption). Row identity and pruned-search parity with
    * the pre-compaction (base + increment) view are spec-pinned in
    * AdcIndexSpec. */
  def compactAdcIndexBucketed(spark: org.apache.spark.sql.SparkSession,
      baseTable: String, increments: DataFrame, outTable: String,
      buckets: Int, path: Option[String] = None): Unit = {
    require(outTable != baseTable,
      "compact into a NEW table (version-suffixed), then swap — " +
        "overwriting the table being read corrupts the scan")
    writeAdcIndexBucketed(
      spark.table(baseTable).unionByName(increments),
      outTable, buckets, path)
  }

  /** Search a persisted slim index with PROBE-CELL PRUNING: the
    * queries' probe cells are collected driver-side (bounded by
    * min(queries × nProbe, nCells) ints — driver-small by
    * construction) and pushed as a `cell IN (...)` predicate into the
    * index scan, so a bucketed table ([[writeAdcIndexBucketed]]) reads
    * ONLY the probed buckets and a plain parquet table at least prunes
    * row groups on the cell min/max stats. The join itself is
    * unchanged ([[ivfAdcSearchAgainst]] / the residual form): slim
    * index vs broadcast query side, no shuffle of the corpus.
    * `residual = true` dispatches to the residual search (codebooks
    * must then be the residual flavor). AdcIndexSpec pins the plan
    * shape: pruned bucket count + zero Exchange on the index side. */
  def ivfAdcSearchPruned(q0: DataFrame, index: DataFrame,
      centroids: Seq[(Int, Seq[Double])],
      codebooks: Seq[(Int, Int, Seq[Double])], dsub: Int,
      nProbe: Int, k: Int, rerank: Int = 0,
      rawVectors: Option[DataFrame] = None,
      residual: Boolean = false,
      pin: DataFrame => Unit = OperatorCaches.register): DataFrame = {
    import graft.functions.HashExpressions
    // The query rel is evaluated twice — driver-side for the probe-cell
    // predicate, then inside the dispatched search. Cache it so both
    // read ONE materialization: a non-deterministic q (a sampled query
    // batch, a source mutating between the two evaluations) would
    // otherwise push a predicate that excludes cells the search probes,
    // silently dropping valid neighbors. The driver-side collect below
    // is the first action, so the cache is fully populated before the
    // search plan is scheduled (no concurrent-miss race); lifecycle via
    // `pin` as everywhere else.
    val q = q0.cache()
    pin(q)
    val cells = q
      .select(explode(transform(
        HashExpressions.nearestCells(col("embedding"), centroids,
          math.max(nProbe, 1)),
        d => d.getField("cell"))).as("cell"))
      .distinct()
      .collect().map(_.getInt(0)).sorted
    Parallelism.logDispatch("ivfAdcSearchPruned",
      s"probe cells=${cells.length} of ${centroids.size}")
    val pruned = index.filter(col("cell").isin(cells.map(Int.box): _*))
    if (residual)
      ivfAdcResidualSearchAgainst(q, pruned, centroids, codebooks, dsub,
        nProbe, k, rerank, rawVectors)
    else
      ivfAdcSearchAgainst(q, pruned, centroids, codebooks, dsub,
        nProbe, k, rerank, rawVectors)
  }

  /** Search a (query_id, embedding) batch against a prebuilt slim ADC
    * index ([[buildAdcIndex]]) — the external-query / micro-batch form
    * of [[ivfAdcTopK]] (the [[ivfSearchAgainst]] counterpart for the
    * compressed index): queries build their m×k distance tables and
    * probe-cell lists (both tiny, broadcast), the scan is table-lookup
    * arithmetic over the index, and the optional exact re-rank
    * attaches raw vectors for the per-query shortlist only —
    * `rawVectors` (vec_id, embedding) is required iff `rerank > 0`
    * (at warehouse scale: the vector table, hit for shortlist·queries
    * rows, not the scan). */
  def ivfAdcSearchAgainst(q: DataFrame, index: DataFrame,
      centroids: Seq[(Int, Seq[Double])],
      codebooks: Seq[(Int, Int, Seq[Double])], dsub: Int,
      nProbe: Int, k: Int, rerank: Int = 0,
      rawVectors: Option[DataFrame] = None): DataFrame = {
    import graft.functions.HashExpressions
    require(rerank <= 0 || rawVectors.isDefined,
      "rerank > 0 needs rawVectors for the exact pass")
    val nCodes = codebooks.map(_._2).distinct.size
    val cb = Pq.codebookDF(q, codebooks)
    val dtabs = q.crossJoin(broadcast(cb))
      .withColumn("pdist", HashExpressions.subSquaredDist(
        col("embedding"), col("cent"), col("sub"), dsub))
      .groupBy("query_id")
      .agg(transform(
        sort_array(collect_list(struct(col("sub"), col("code"), col("pdist")))),
        s => s.getField("pdist")).as("dtab"))
    val probes = q
      .select(col("query_id"),
        posexplode(HashExpressions.nearestCells(col("embedding"),
          centroids, math.max(nProbe, 1))).as(Seq("p0", "dc")))
      .select(col("query_id"), col("dc.cell").as("cell"))
    val qside = probes.join(dtabs, "query_id")
    val adc = index.join(broadcast(qside), "cell")
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("approx_dist",
        HashExpressions.adcSum(col("codes"), col("dtab"), nCodes))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("approx_dist"))
    adcRank(adc, q, k, rerank, rawVectors)
  }

  /** RESIDUAL-encoding IVFADC (the real FAISS IndexIVFPQ form, Jégou
    * et al. TPAMI 2011 §V): codes quantize `x − centroid(cell)`
    * instead of the raw vector. Residual magnitudes are ~an order
    * smaller than raw coordinates, so the same m×k byte budget buys
    * far tighter quantization — measured on the gate corpus the
    * recall@5 difference between the cosmetic and the usable index
    * (TextOpsSpec pins the A/B). The price is a per-(query, probed
    * cell) distance table — the query's residual differs per cell —
    * so the broadcast query side grows ×nProbe vs [[ivfAdcTopK]]
    * (still tiny: queries × nProbe × m·k doubles). The non-residual
    * path stays as-is for q63/q88 oracle stability; this is the tier a
    * 10⁹-vector deployment runs. Residual codebooks are a separate
    * pinned/artifact flavor ([[PqCodebooks.ResidualCodebooks8x16]] /
    * [[PqCodebooks.forCorpusResidual]]) — encoding raw-vector
    * codebooks against residuals would silently mis-train the
    * quantizer. Same output and exact-arithmetic discipline as
    * [[ivfAdcTopK]] (q91 oracle reproduces cells, residuals, codes,
    * ADC sums bit-for-bit). */
  def ivfAdcResidualTopK(embeddings: DataFrame, queryPred: Column,
      centroids: Seq[(Int, Seq[Double])],
      codebooks: Seq[(Int, Int, Seq[Double])], dsub: Int,
      nProbe: Int, k: Int, rerank: Int = 0): DataFrame = {
    val index = buildResidualAdcIndex(embeddings, centroids, codebooks, dsub)
    val q = embeddings.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding"))
    ivfAdcResidualSearchAgainst(q, index, centroids, codebooks, dsub,
      nProbe, k, rerank, rawVectors = if (rerank > 0) Some(embeddings) else None)
  }

  /** The residual slim index: (vec_id, cell, codes) where codes
    * quantize x − centroid(cell) — ONE narrow map over the corpus
    * ([[graft.functions.HashExpressions.PqEncodeResidual]]: cell
    * assignment, residual and encoding are all row-local arithmetic
    * over the pinned artifacts), no join, no shuffle. Same persistence
    * / increment discipline as [[buildAdcIndex]]. */
  def buildResidualAdcIndex(embeddings: DataFrame,
      centroids: Seq[(Int, Seq[Double])],
      codebooks: Seq[(Int, Int, Seq[Double])], dsub: Int): DataFrame =
    Parallelism.widen(embeddings)
      .select(col("vec_id"),
        graft.functions.HashExpressions.pqEncodeResidual(
          col("embedding"), centroids, codebooks, dsub).as("enc"))
      .select(col("vec_id"), col("enc.cell").as("cell"),
        col("enc.codes").as("codes"))

  /** Extend a prebuilt residual index with a vector increment (the
    * [[appendAdcIndex]] contract, residual flavor). */
  def appendResidualAdcIndex(index: DataFrame, newVecs: DataFrame,
      centroids: Seq[(Int, Seq[Double])],
      codebooks: Seq[(Int, Int, Seq[Double])], dsub: Int): DataFrame =
    index.unionByName(
      buildResidualAdcIndex(newVecs, centroids, codebooks, dsub))

  /** Search a query batch against a prebuilt RESIDUAL index
    * ([[buildResidualAdcIndex]]). Differs from [[ivfAdcSearchAgainst]]
    * in exactly one structural way: the distance table is keyed
    * (query, cell) — within probed cell c the approximate distance is
    * ‖(q − centroid(c)) − codeword‖² summed over subspaces, so each
    * probed cell gets its own table over the query's residual there.
    * The scan is still an equi-join of the slim index against the
    * broadcast (probe-cell × dtab) query side; the optional exact
    * re-rank is unchanged (true squared L2 over raw vectors). */
  def ivfAdcResidualSearchAgainst(q: DataFrame, index: DataFrame,
      centroids: Seq[(Int, Seq[Double])],
      codebooks: Seq[(Int, Int, Seq[Double])], dsub: Int,
      nProbe: Int, k: Int, rerank: Int = 0,
      rawVectors: Option[DataFrame] = None): DataFrame = {
    import graft.functions.HashExpressions
    require(rerank <= 0 || rawVectors.isDefined,
      "rerank > 0 needs rawVectors for the exact pass")
    val nCodes = codebooks.map(_._2).distinct.size
    val spark = q.sparkSession
    import spark.implicits._
    val centDf = centroids.toDF("cell", "centroid")
    // probe cells with the probed centroid attached (broadcast join
    // against the ≤k-row centroid rel), then the query's residual
    // THERE — double-precision elementwise difference, tiny rows
    // (queries × nProbe)
    val probes = q
      .select(col("query_id"), col("embedding"),
        posexplode(HashExpressions.nearestCells(col("embedding"),
          centroids, math.max(nProbe, 1))).as(Seq("p0", "dc")))
      .select(col("query_id"), col("embedding"), col("dc.cell").as("cell"))
      .join(broadcast(centDf), "cell")
      .select(col("query_id"), col("cell"),
        graft.functions.HashExpressions
          .vecSub(col("embedding"), col("centroid")).as("res"))
    val cb = Pq.codebookDF(q, codebooks)
    val dtabs = probes.crossJoin(broadcast(cb))
      .withColumn("pdist", HashExpressions.subSquaredDist(
        col("res"), col("cent"), col("sub"), dsub))
      .groupBy("query_id", "cell")
      .agg(transform(
        sort_array(collect_list(struct(col("sub"), col("code"), col("pdist")))),
        s => s.getField("pdist")).as("dtab"))
    val adc = index.join(broadcast(dtabs), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("approx_dist",
        HashExpressions.adcSum(col("codes"), col("dtab"), nCodes))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("approx_dist"))
    adcRank(adc, q, k, rerank, rawVectors)
  }

  /** Shared tail of the ADC searches: rank by approximate distance,
    * optionally exact-re-rank a per-query shortlist against the raw
    * vectors (‖a−b‖² via the dot identity, sequential folds). */
  private def adcRank(adc: DataFrame, q: DataFrame, k: Int, rerank: Int,
      rawVectors: Option[DataFrame]): DataFrame =
    if (rerank <= 0) {
      adc
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id")
            .orderBy(col("approx_dist"), col("neighbor_id"))))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          col("approx_dist").as("dist"), col("approx_dist"))
    } else {
      val r = math.max(rerank, k)
      val shortlist = adc
        .withColumn("ar", row_number().over(
          Window.partitionBy("query_id")
            .orderBy(col("approx_dist"), col("neighbor_id"))))
        .filter(col("ar") <= r)
        .drop("ar")
      val withVecs = rawVectors.get
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("e_b"))
        .join(broadcast(shortlist), "neighbor_id")
        .join(broadcast(q.select(col("query_id"), col("embedding").as("e_a"))),
          "query_id")
      withVecs
        .withColumn("dist",
          dot(col("e_a"), col("e_a")) - lit(2.0) * dot(col("e_a"), col("e_b"))
            + dot(col("e_b"), col("e_b")))
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id")
            .orderBy(col("dist"), col("neighbor_id"))))
        .filter(col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dist", "approx_dist")
    }

  /** IVFADC SELF-search with exact-cosine re-rank — the routed target
    * of [[lshTopKAuto]]'s `annMode` dispatch (the engine a 10⁹-vector
    * corpus runs when the LSH bucket volume blows past its budget).
    * Differs from [[ivfAdcResidualSearchAgainst]] in one structural
    * way: queries == corpus, so the per-query m×k distance TABLE
    * cannot ride the join (n·nProbe rows × m·k doubles of traffic);
    * instead the query side carries its dim-double residual and the
    * approximate distance is computed per pair by
    * [[graft.functions.HashExpressions.AdcDirectDist]] (dim mult-adds,
    * the flops of one dot — but the INDEX side still moves only m code
    * bytes per vector: the corpus' raw vectors never ride the
    * candidate scan). Candidates per query ≈ nProbe · n/K — bounded by
    * the quantizer's cell granularity, not by data skew (k-means cells
    * are balanced-ish; residual imbalance is AQE skew-join territory),
    * which is exactly the property the LSH bucket join loses on
    * clustered corpora. Quantizers resolve artifact-or-fit
    * ([[IvfCentroids.forCorpus]] / [[PqCodebooks.forCorpusResidual]]).
    * Top-`shortlist` by approximate distance per query (hash-agg, no
    * window sort), then exact cosine on the shortlist only (two
    * linear joins against the raw vectors), ranked (cosine desc,
    * neighbor asc) — the [[lshTopK]] output contract:
    * (query_id, neighbor_id, rank, cosine). */
  def ivfAdcCosineSelfTopK(embeddings: DataFrame, k: Int,
      nProbe: Int = 8, shortlist: Int = 0): DataFrame = {
    import graft.functions.HashExpressions
    val spark = embeddings.sparkSession
    import spark.implicits._
    val r = if (shortlist > 0) math.max(shortlist, k) else math.max(8 * k, 64)
    val cents = IvfCentroids.forCorpus(embeddings)
    val (cbs, dsub) = PqCodebooks.forCorpusResidual(embeddings, cents)
    // CACHE the slim index (vec_id, cell, m code bytes — ~60 B/row).
    // Beyond reuse, the cache is a PUSHDOWN BARRIER: the candidate
    // join infers `isnotnull(cell)` on this side, and with cell =
    // pqEncodeResidual(embedding).cell the optimizer pushes that
    // predicate through the widen exchange to the parquet scan —
    // re-running the full 4096-cell encode per row on the scan's few
    // effective partitions (measured: the encode stage of the
    // 2 M-vector campaign, ~15 min on 4 threads). Materialized once
    // behind InMemoryRelation, the filter lands on stored bytes.
    val index = buildResidualAdcIndex(embeddings, cents, cbs, dsub).cache()
    OperatorCaches.register(index)
    val centDf = cents.toDF("cell", "centroid")
    val probes = Parallelism.widen(embeddings)
      .select(col("vec_id").as("query_id"), col("embedding"),
        posexplode(HashExpressions.nearestCells(col("embedding"),
          cents, math.max(nProbe, 1))).as(Seq("p0", "dc")))
      .select(col("query_id"), col("embedding"), col("dc.cell").as("cell"))
      .join(broadcast(centDf), "cell")
      .select(col("query_id"), col("cell"),
        graft.functions.HashExpressions
          .vecSub(col("embedding"), col("centroid")).as("res"))
    // SALT the candidate join on (cell, salt): a clustered corpus
    // concentrates in few IVF cells, so the plain equi-join on cell
    // lands ~all of the Σ na·nb candidate volume on a handful of
    // shuffle partitions (AQE can't split it — skew is in the join
    // OUTPUT, not input bytes; the r12 sf100skew run was wall-bound at
    // ~1 core for ~3000 s on exactly this). The probes side keeps one
    // copy (salted by query_id); the SLIM index side replicates r_b-
    // fold — r_b from the index cell histogram (one narrow agg over
    // the cache; the probes histogram would cost a full NearestCells
    // pass). nb²·nProbe is the pair proxy (probes-per-cell ≈ index
    // rows × probe fan-in ≤ nProbe); r capped so replication stays
    // ≤ maxSalt× the hot cells' slim rows. partialTopKPerQuery below
    // is a partial fold — correct under ANY partitioning — so salting
    // changes nothing but evenness.
    val maxSalt = 4 * spark.sparkContext.defaultParallelism
    val factors = index.groupBy("cell")
      .agg(count(lit(1)).as("nb"))
      .withColumn("r", least(lit(maxSalt.toLong), greatest(lit(1L),
        ceil(col("nb") * col("nb") * lit(math.max(nProbe, 1)) /
          lit(Parallelism.DefaultTargetPairsPerTask)))).cast("int"))
      .select(col("cell"), col("r"))
    val probesS = probes.join(broadcast(factors), "cell")
      .withColumn("salt", pmod(hash(col("query_id")), col("r")))
      .drop("r")
    val indexS = index.join(broadcast(factors), "cell")
      .withColumn("salt", explode(sequence(lit(0), col("r") - 1)))
      .drop("r")
    // JOIN ORDER IS LOAD-BEARING for the fold downstream: the probes
    // side STREAMS (left of a shuffle-hash join whose build is the
    // slim index cell group), so the join emits each query's
    // candidates for a cell as ONE contiguous run — the query's heap
    // completes inside the run and fold-1 emits ≤ R once per
    // (query, cell). With the sides flipped (index streaming), output
    // is index-row-major: every query in the cell stays "active"
    // across the whole cell run, each window flush re-opens every
    // active heap, and in a mega-cell (probing queries > window
    // budget) fold output degenerates to ≈ the RAW candidate stream —
    // the r13 2 M campaign measured that as ~10¹⁰ rows of exchange
    // (~200 GB) instead of ~10⁹ (~30 GB). Sort-merge, NOT shuffle-hash:
    // the hash build side is a whole index PARTITION (Σ replicated
    // rows/32 — the same campaign then died UNABLE_TO_ACQUIRE_MEMORY
    // building it), while SMJ buffers only one (cell, salt) group of
    // slim index rows at a time and streams the left (probes) side in
    // key order — per-key memory is the mega-cell's ~9 MB, not the
    // partition's gigabytes. The hint PINS the strategy the argument
    // above depends on: without it the choice rides on
    // preferSortMergeJoin + AQE defaults, and a config change would
    // silently reintroduce the measured 10×-output / OOM failure.
    val scored = probesS.hint("merge").join(indexS, Seq("cell", "salt"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        HashExpressions.adcDirectDist(col("res"), col("codes"), cbs, dsub)
          .as("approx_dist"))
    // Top-R per query in THREE stages, none of which ever sorts or
    // buffers the raw candidate stream (~Σ probed-cell² rows on a
    // clustered corpus — the sf100skew campaign measured ~10¹⁰; a
    // giant embedding cluster concentrates in few IVF cells, so
    // probing your own cluster's cell scans the whole cluster):
    //  1. bounded streaming heap fold INSIDE the join partitions
    //     ([[partialTopKPerQuery]]) — ≤ R rows per (partition, query,
    //     flush window) reach the exchange;
    //  2. repartition the folded rel by query_id (slim 24 B rows) and
    //     fold AGAIN co-located — each query's survivors now meet in
    //     one partition, so output is ≈ exactly top-R per query;
    //  3. the exact slice agg reuses the SAME hash partitioning (no
    //     new exchange) over ≤ R·windows tiny rows per group.
    // Earlier shapes that aggregated the folded stream directly
    // (collect_list hash agg) fell back to sort-based aggregation on
    // the ~10⁹ folded rows and spilled the device dead — a sort
    // ANYWHERE on a data-quadratic stream is the same bug the fold
    // exists to kill, just one stage later.
    val short = partialTopKPerQuery(
        partialTopKPerQuery(scored, r).repartition(col("query_id")), r)
      .withColumn("cand", struct(col("approx_dist"), col("neighbor_id")))
      .groupBy("query_id")
      .agg(slice(array_sort(collect_list(col("cand"))), 1, r).as("top"))
      .select(col("query_id"), explode(col("top")).as("cand"))
      .select(col("query_id"), col("cand.neighbor_id").as("neighbor_id"))
    // exact cosine on the shortlist only: two linear joins against the
    // raw vectors (n·R slim rows — never the corpus against itself).
    // Both joins are hinted SHUFFLE_HASH with the corpus side as the
    // build (n slim rows per partition): sort-merge would SORT the
    // n·R-row pair stream — and after join 1 those rows carry the
    // neighbor vector, so at 2 M × R=64 the join-2 sort is ~38 GB of
    // UnsafeExternalSorter spill ON TOP of the shuffle files (the r13
    // campaign filled the disk exactly there). A hash join streams the
    // fat side through unsorted; the pair stream still shuffles once
    // per join (unavoidable — each pair needs both vectors), but
    // nothing re-materializes it.
    val withB = short.join(
      embeddings.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("e_b"), l2Norm(col("embedding")).as("n_b"))
        .hint("shuffle_hash"),
      "neighbor_id")
    val rescored = withB.join(
      embeddings.select(col("vec_id").as("query_id"),
        col("embedding").as("e_a"), l2Norm(col("embedding")).as("n_a"))
        .hint("shuffle_hash"),
      "query_id")
      .withColumn("cosine",
        dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")))
      .select("query_id", "neighbor_id", "cosine")
    val negCos = when(isnan(col("cosine")), lit(Double.NegativeInfinity))
      .otherwise(-col("cosine"))
    rescored
      .withColumn("cand", struct(negCos.as("nc"),
        col("neighbor_id"), col("cosine")))
      .groupBy("query_id")
      .agg(slice(array_sort(collect_list(col("cand"))), 1, k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "cand")))
      .select(col("query_id"), col("cand.neighbor_id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("cand.cosine").as("cosine"))
  }

  /** The heap-derived flush-window budget (in QUERIES) the fold below
    * uses, factored out so the driver-side sizing guard and the
    * executor-side fold compute the same number — see the in-fold
    * comment for the measured per-heap cost model. */
  private[graft] def flushWindowQueries(k: Int, maxEntries: Int,
      heapBytes: Long, procs: Int): Int = {
    val kk = math.max(k, 1)
    val perQueryBytes = 120L + 56L * kk
    val budgetBytes = (heapBytes * 0.10 / math.max(procs, 1)).toLong
    math.min(
        math.max(1024L, budgetBytes / perQueryBytes),
        math.max(1L, maxEntries.toLong / kk))
      .min(Int.MaxValue).toInt
  }

  /** Where the per-partition fold will actually run: (heap bytes,
    * concurrent task slots). Cluster mode reads the executor's
    * declared sizing from the conf (`spark.executor.memory`,
    * `spark.executor.cores` / `spark.task.cpus`); local mode — or a
    * conf with no executor memory declared — falls back to this JVM's
    * Runtime values, which are exact there (executors share the
    * driver JVM). */
  private[graft] def executorSizing(
      spark: org.apache.spark.sql.SparkSession): (Long, Int) = {
    val conf = spark.sparkContext.getConf
    val isLocal = spark.sparkContext.isLocal
    if (!isLocal && conf.contains("spark.executor.memory")) {
      val heap = conf.getSizeAsBytes("spark.executor.memory")
      val cores = conf.getInt("spark.executor.cores", 1)
      val perTask = math.max(conf.getInt("spark.task.cpus", 1), 1)
      (heap, math.max(cores / perTask, 1))
    } else
      (Runtime.getRuntime.maxMemory(),
        Runtime.getRuntime.availableProcessors())
  }

  /** Sizing guard for the fold's known foot-gun (STRESS r13/r14: an
    * 8 g driver heap shrank the flush windows ~20×, the fold's output
    * blew up ~20×, and the run filled 61 GB of disk an hour into the
    * join before dying — with the explanation living only in
    * STRESS.md). Returns a warning when the HEAP term of the window
    * budget is more than ~4× smaller than the entry cap would allow —
    * i.e. the caller paid for `maxEntries` of exactness but the JVM
    * heap is what's actually sizing the windows — naming the sizing
    * rule so the failure presents at plan time, not as a full disk. */
  private[graft] def flushWindowWarning(k: Int, maxEntries: Int,
      heapBytes: Long, procs: Int): Option[String] = {
    val kk = math.max(k, 1)
    val perQueryBytes = 120L + 56L * kk
    val heapQ = math.max(1024L,
      (heapBytes * 0.10 / math.max(procs, 1)).toLong / perQueryBytes)
    val capQ = math.max(1L, maxEntries.toLong / kk)
    if (heapQ * 4 < capQ) Some(
      f"partialTopKPerQuery: the JVM heap (${heapBytes / (1L << 30).toDouble}%.1f GiB" +
        f" across $procs concurrent tasks) sizes the flush window at " +
        f"~$heapQ queries — ${capQ / math.max(heapQ, 1)}× below the " +
        f"maxEntries cap ($capQ). Small windows multiply the fold's " +
        "output (each flush re-emits partial top-k rows) and can fill " +
        "the shuffle disk at scale; size the TOTAL heap ≥ " +
        f"~${capQ * perQueryBytes * procs * 10 / (1L << 30) + 1} GiB " +
        f"(so that 0.10·heap/$procs tasks ≥ the cap's " +
        f"${capQ * perQueryBytes / (1L << 20)} MiB of heaps per task), " +
        "or lower maxEntries to match the memory you actually have.")
    else None
  }

  /** Bounded per-partition partial top-k: stream (query_id,
    * neighbor_id, dist) rows through one per-partition pass keeping a
    * k-bounded binary heap per query under (dist asc, neighbor asc) —
    * the exact order the final fold ranks by, so partial-then-final
    * equals global top-k. Output ≤ k rows per (partition, query,
    * flush window); this is what makes the ADC self-search's candidate
    * volume safe to aggregate — a collect_list hash agg buffers its
    * ENTIRE partition's candidates map-side before combining, which is
    * exactly the quadratic spill the fold exists to avoid.
    * `mapPartitions` is justified: Spark has no bounded-heap
    * aggregate, and the alternative (window + WindowGroupLimit) sorts
    * the full stream per partition first.
    *
    * Memory is bounded ABSOLUTELY, not per query: the heap map is
    * flushed (emitted downstream and swapped for a fresh one) whenever
    * its QUERY count reaches the window budget ([[flushWindowQueries]]
    * — ~10% of the executor heap divided by concurrent tasks at the
    * measured per-heap cost (~120 B of map/heap objects + ~56 B per
    * boxed tuple), capped by `maxEntries` total tuples). Without the
    * window bound, memory is distinct-queries-per-partition × k — and
    * an evenly salted join scatters EVERY query's probes across all
    * partitions, so at 2 M self-search queries each of 32 CONCURRENT
    * tasks held ~440 k heaps ≈ 2 GB and the executor OOM'd (the r12
    * skew-serialized run only survived because one giant partition ran
    * at a time). Flushing preserves exactness by heap dominance: a
    * candidate evicted in a window was strictly worse — under the same
    * (dist, neighbor) total order the final rank uses — than the k
    * rows that window emitted for its query (the heap's worst only
    * improves within a window), so it cannot belong to the global
    * top-k the downstream fold re-derives from the emitted union.
    * Worst-case output stays ≤ input rows; with cell-clustered arrival
    * (the sort-merge join's output order) windows mostly partition the
    * query set and output stays ≈ k per (partition, query). */
  private[graft] def partialTopKPerQuery(scored: DataFrame,
      k: Int, maxEntries: Int = 1 << 21): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val kk = math.max(k, 1)
    // Plan-time early warning, sized from where the fold actually RUNS:
    // on a cluster that's the executor (spark.executor.memory /
    // spark.executor.cores / spark.task.cpus from the conf — driver
    // Runtime values can be arbitrarily wrong under asymmetric
    // driver/executor sizing); in local mode executors share the
    // driver JVM, so the Runtime values are exact. Converts the
    // 61 GB-disk-fill failure mode into a named log line at plan time.
    val (warnHeap, warnProcs) = executorSizing(spark)
    flushWindowWarning(k, maxEntries, warnHeap, warnProcs)
      .foreach(Parallelism.logDispatch("partialTopKPerQuery", _))
    scored.select(col("query_id").cast("long"),
        col("neighbor_id").cast("long"), col("approx_dist").cast("double"))
      .as[(Long, Long, Double)]
      .mapPartitions { it =>
        import java.util.{Comparator, HashMap, PriorityQueue}
        import scala.jdk.CollectionConverters._
        // Window budget in QUERIES, from measured per-heap cost: a
        // HashMap entry + PriorityQueue + backing array is ~120 B
        // BEFORE any tuple, plus k boxed (Double, Long) tuples at
        // ~56 B — at small k (the common case) the per-heap overhead
        // dominates, which is why an entries-only budget undercounts
        // ~5×. ~10% of the executor heap split across CONCURRENT
        // tasks (evaluated executor-side: local mode shares the JVM,
        // a cluster executor reports its own heap); `maxEntries`
        // remains the absolute entry cap — the 1024-query safety
        // floor applies only to the heap-budget term, so a caller's
        // tiny cap (specs use 1) is honored exactly. The r13
        // 2 M-vector campaign
        // OOM'd the 8 g default exactly here: the old floor raised
        // every task's window to 2²¹ entries REGARDLESS of the 32-way
        // task concurrency, so the heap maps alone wanted ~6 GB —
        // a floor must never exceed what the heap divided by
        // concurrency affords.
        val maxQ = flushWindowQueries(kk, maxEntries,
          Runtime.getRuntime.maxMemory(),
          Runtime.getRuntime.availableProcessors)
        // head = current WORST under (dist, neighbor) ascending rank
        val cmp: Comparator[(Double, Long)] = new Comparator[(Double, Long)] {
          def compare(a: (Double, Long), b: (Double, Long)): Int = {
            val c = java.lang.Double.compare(b._1, a._1)
            if (c != 0) c else java.lang.Long.compare(b._2, a._2)
          }
        }
        type Heaps = HashMap[Long, PriorityQueue[(Double, Long)]]
        def drain(m: Heaps): Iterator[(Long, Long, Double)] =
          m.entrySet().iterator().asScala.flatMap { e =>
            e.getValue.iterator().asScala.map(v => (e.getKey.longValue, v._2, v._1))
          }
        new Iterator[(Long, Long, Double)] {
          private var heaps = new Heaps()
          private var out: Iterator[(Long, Long, Double)] = Iterator.empty
          private def fill(): Unit = {
            // consume input until a window flush triggers or input ends
            while (!out.hasNext && it.hasNext) {
              val (q, nb, d) = it.next()
              var h = heaps.get(q)
              if (h == null) {
                if (heaps.size >= maxQ) {
                  // swap-and-iterate, no copy: the old map is consumed
                  // lazily downstream and becomes garbage when done
                  out = drain(heaps)
                  heaps = new Heaps()
                }
                h = new PriorityQueue[(Double, Long)](k + 1, cmp)
                heaps.put(q, h)
              }
              if (h.size < k) h.offer((d, nb))
              else {
                val worst = h.peek()
                val c = java.lang.Double.compare(d, worst._1)
                if (c < 0 || (c == 0 && nb < worst._2)) { h.poll(); h.offer((d, nb)) }
              }
            }
            if (!out.hasNext && !heaps.isEmpty) { // input ended: final drain
              out = drain(heaps)
              heaps = new Heaps()
            }
          }
          def hasNext: Boolean = { if (!out.hasNext) fill(); out.hasNext }
          def next(): (Long, Long, Double) = {
            if (!hasNext) throw new NoSuchElementException
            out.next()
          }
        }
      }
      .toDF("query_id", "neighbor_id", "approx_dist")
  }

  /** Random ±1 projection to `k` dimensions (the Achlioptas form of
    * Johnson–Lindenstrauss): component j of the output is
    * (Σ_i emb[i]·s_ij)/√k with signs s_ij from the integer-hash
    * hyperplane family ([[graft.functions.HashExpressions.LshProjections]]
    * — the SAME construction q25's LSH uses, reused here as a dense
    * projection instead of sign buckets). The workhorse dimensionality
    * reduction at 100 TB: norms and pairwise distances survive to
    * within 1±ε while downstream similarity work (brute force, IVF,
    * near-dup gating) shrinks by dim/k. Pure narrow map, codegen'd
    * fold, no UDF, no fitting step — and because signs are exact
    * integer parity, the projection is bit-reproducible cross-engine
    * (q73's oracle). √k must be exact (k a perfect square → power-of-2
    * division) for the scaling to stay bit-exact; k=16 is. Output:
    * vec_id, proj (array<double>, length k). */
  def randomProjection(embeddings: DataFrame, k: Int): DataFrame = {
    val scale = math.sqrt(k.toDouble)
    embeddings.select(col("vec_id"),
      transform(
        graft.functions.HashExpressions.lshProjections(col("embedding"), k),
        p => p / scale).as("proj"))
  }

  /** Banded random-hyperplane LSH top-k (the scale path when the query
    * set is the whole table).
    *
    * Hyperplane component i (1-based) of plane j is ±1 by parity of a
    * polynomial hash (`(A_j·i + B_j) mod P mod 2`, constants
    * [[graft.functions.TextFunctions.LshA]]/`LshB` — a 32-entry family
    * separate from the minhash one) — exact integer arithmetic, so the
    * DuckDB oracle computes bit-identical signatures and q25 gets a
    * full hash-match check (the former xxhash64 planes were not
    * SQL-expressible).
    *
    * Banding: `nPlanes` sign bits split into `nBands` bucket keys of
    * `nPlanes/nBands` bits. A pair is a candidate when it collides in
    * ANY band (OR-of-ANDs) — recall no longer collapses as nPlanes
    * grows, unlike a single full-signature bucket. Candidate
    * generation stays a bucket equi-join (never all-pairs); pairs are
    * deduped before the exact cosine re-rank so each candidate is
    * scored once. Bits-per-band is the collision-volume knob: b bits →
    * 2^b buckets per band, and the self-join volume scales as
    * nBands·N²/2^b — 8 bits (32 planes / 4 bands) keeps it sub-
    * quadratic where 4 bits measurably did not.
    * Output: query_id, neighbor_id, rank, cosine. */
  /** Directed LSH candidate pairs (both orderings present): vectors
    * colliding in ≥ 1 of the `nBands` sign-bit band buckets. The pair
    * generator shared by [[lshTopK]] and the hybrid dedup — a bucket
    * equi-join, never all-pairs. Output: query_id, neighbor_id.
    *
    * `probeBits` > 0 enables MULTI-PROBE: the query side also probes
    * each band bucket at Hamming distance 1 (the first `probeBits`
    * bit positions flipped), so a pair collides when some band's
    * hashes differ by ≤ 1 probed bit. The standard recall/cost knob
    * (Lv et al. 2007): per-band collision probability rises from p^b
    * to p^b + probeBits·p^(b−1)(1−p) for query-side row growth of
    * ×(probeBits+1) — much cheaper than halving bits-per-band, which
    * multiplies JOIN volume by 2^(b/2). */
  /** Exploded (vec_id, embedding, band_idx, band_hash) band relation —
    * the shared input of the slim candidate generator and the
    * carry-the-vectors [[lshTopK]] join (callers that don't select
    * `embedding` get it pruned at the scan). */
  /** Pre-explode signature relation (vec_id, embedding, bnds) — the
    * expensive part of the band pipeline (nPlanes dot-product folds per
    * row). Kept separate from the explode so [[lshTopK]] can CACHE it:
    * the salted-join dispatch pre-pass runs an eager count over the
    * band keys before the join plan executes, and without the cache
    * that count re-evaluated this whole projection pipeline once per
    * call on top of the join's own evaluation (the measured q41
    * 1.59→2.48 s regression of round 9 — three lshTopK configs, one
    * multi-probe-expanded, each paying the subtree twice). */
  private def lshSigRel(embeddings: DataFrame, nPlanes: Int,
      nBands: Int): DataFrame = {
    import graft.functions.TextFunctions.LshA
    require(nPlanes % nBands == 0, "nPlanes must be divisible by nBands")
    require(nPlanes <= LshA.size, s"at most ${LshA.size} planes")
    val rowsPerBand = nPlanes / nBands
    // all projections in one native pass (identical sequential double
    // fold as the per-plane aggregate(zip_with(...)) — see
    // HashExpressions.LshProjections; the oracle mirrors the fold)
    val withProjs = embeddings.withColumn("projs",
      graft.functions.HashExpressions.lshProjections(col("embedding"), nPlanes))
    val bands = (0 until nBands).map { b =>
      (0 until rowsPerBand).map { r =>
        when(col("projs").getItem(b * rowsPerBand + r) >= 0, lit(1L << r))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    }
    withProjs
      .withColumn("bnds", array(bands: _*))
      .select(col("vec_id"), col("embedding"), col("bnds"))
  }

  private def lshBandRel(embeddings: DataFrame, nPlanes: Int,
      nBands: Int): DataFrame =
    lshSigRel(embeddings, nPlanes, nBands)
      .select(col("vec_id"), col("embedding"),
        posexplode(col("bnds")).as(Seq("band_idx", "band_hash")))

  /** Query-side band rows for multi-probe: the true hash plus its
    * 1-bit-flip neighbors on the first `probeBits` positions. */
  private def probeVariants(rel: DataFrame, probeBits: Int,
      carry: Seq[String]): DataFrame =
    if (probeBits == 0) rel
    else {
      val variants = col("band_hash") +:
        (0 until probeBits).map(r => col("band_hash").bitwiseXOR(lit(1L << r)))
      rel.select(carry.map(col) :+ col("band_idx") :+
        explode(array(variants: _*)).as("band_hash"): _*)
    }

  def lshCandidatePairs(embeddings: DataFrame, nPlanes: Int, nBands: Int,
      probeBits: Int = 0): DataFrame = {
    val rowsPerBand = nPlanes / nBands
    require(probeBits >= 0 && probeBits <= rowsPerBand,
      s"probeBits must be 0..$rowsPerBand")
    val eb = lshBandRel(embeddings, nPlanes, nBands)
      .select("vec_id", "band_idx", "band_hash")
    // probe side: the true hash plus (optionally) its 1-bit-flip
    // neighbors; the index side always keeps the true hash only
    probeVariants(eb, probeBits, Seq("vec_id"))
      .select(col("vec_id").as("query_id"), col("band_idx"), col("band_hash"))
      .join(eb.select(col("vec_id").as("neighbor_id"), col("band_idx"), col("band_hash")),
        Seq("band_idx", "band_hash"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .distinct()
  }

  /** [[lshTopK]] with the band width chosen from the corpus size —
    * the STRESS-documented rule that keeps candidate volume linear:
    * at FIXED bits per band, bucket populations grow with N and the
    * bucket self-join grows with N² (sf1 measurement: 62× cost at 10×
    * rows). Bits per band = max(8, ⌈log₂N⌉ − 3), so bucket count
    * tracks N/8 and expected collision pairs stay ~linear; ≤ 2048
    * vectors this is exactly 8 bits — bit-identical to the fixed
    * (32, 4) gate configuration at every oracle-checked scale. One
    * extra COUNT job pays for the adaptivity. */
  /** N-adaptive plane count: band width ≈ log2(N) − 3 bits (≥ 8,
    * capped by the plane budget), so buckets-per-band tracks N and the
    * per-bucket population — the quadratic candidate-volume driver —
    * stays ~constant as the corpus grows. Identical to 8 bits/band
    * (nPlanes = 8·nBands) at every oracle-checked scale (≤ 2048
    * vectors). */
  def autoPlanes(n: Long, nBands: Int): Int = {
    val m = math.max(n, 2L)
    val log2ceil = 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    val bits = math.min(math.max(8, log2ceil - 3),
      graft.functions.TextFunctions.LshA.size / nBands)
    bits * nBands
  }

  /** `annMode` — which ANN engine answers the self-search top-k (the
    * dedup pairs/groups routing, ANN form — VERDICT r11 item 2):
    *  - `"lsh"`: always the banded-LSH bucket join (the q25 gate
    *    engine).
    *  - `"ivfadc"`: always [[ivfAdcCosineSelfTopK]].
    *  - `"auto"` (default): measure the LSH candidate volume — the
    *    [[Dedup.lshPairBound]] statistic over THIS config's band rel,
    *    Σ_bucket n·(n−1) directed candidates ×(probeBits+1) — and
    *    route to IVFADC when it exceeds `candidatesPerQuery`·n. The
    *    adaptive plane rule keeps UNIFORM corpora linear at every
    *    scale (bound ≪ budget — they stay on lsh, bit-identically),
    *    but a clustered corpus concentrates mass in few buckets and
    *    the bucket self-join grows ~Σ cluster² with no knob that
    *    saves it; IVFADC's candidate volume is nProbe·n/K per query
    *    by construction, immune to that regime. The statistic is one
    *    narrow agg over the cached signature rel — plan-identical to
    *    the rel the LSH join reads, so the session CacheManager shares
    *    the materialization and the routed-to-lsh path pays ~nothing
    *    (tiny corpora short-circuit on the zero-job worst-case bound
    *    nBands·n·(n−1)). Default budget: 4096 candidates/query — about
    *    what the IVFADC engine itself would scan (nProbe·n/K at the
    *    quantizer's ~125–500 rows/cell), i.e. route exactly when LSH
    *    would do more per-query work than the alternative engine. */
  def lshTopKAuto(embeddings: DataFrame, dim: Int, nBands: Int,
      k: Int, probeBits: Int = 0, annMode: String = "auto",
      candidatesPerQuery: Long = 4096L,
      pin: DataFrame => Unit = OperatorCaches.register): DataFrame = {
    // lazy: an unknown or forced-ivfadc mode runs no count job
    lazy val n = embeddings.count()
    lazy val planes = autoPlanes(n, nBands)
    lazy val budget = candidatesPerQuery * math.max(n, 1L)
    val chosen = Parallelism.pickStrategy("lshTopKAuto", annMode,
        Seq("lsh", "ivfadc")) {
      val worst = // all rows in one bucket per band — zero-job bound
        if (n < 1000000L) nBands.toLong * n * (n - 1) * (probeBits + 1)
        else Long.MaxValue
      // second zero-job shortcut: if even the DEGENERATE join volume
      // (every vector in one bucket, n² pairs) fits the salted join's
      // plain-join escape, the LSH engine is bounded-cheap no matter
      // the bucket distribution — measuring the real bound could only
      // re-confirm lsh, so don't spend the stats job (this keeps the
      // gate/bench scales at zero routing overhead)
      val degenerate =
        if (n < 3037000499L) n * n else Long.MaxValue
      if (worst <= budget ||
          (degenerate <= Parallelism.DefaultTargetPairsPerTask &&
            degenerate <= budget))
        ("lsh", s"annMode=auto worstCaseBound=$worst budget=$budget " +
          s"degenerate=$degenerate, zero-job")
      else {
        // the Dedup.lshPairBound shape: cache the signature rel
        // (plan-identical to the one lshTopK will read — shared
        // materialization), one narrow agg for the bucket statistic
        val sigs = lshSigRel(embeddings, planes, nBands)
          .withColumn("nrm", l2Norm(col("embedding")))
          .cache()
        pin(sigs)
        // Σ n·(n−1) directed candidates: twice the pair bound
        val bound = 2L * Dedup.bucketStatsOf(sigs.select(
            posexplode(col("bnds")).as(Seq("band_idx", "band_hash"))))
          .pairBound * (probeBits + 1)
        val pick = if (bound > budget) "ivfadc" else "lsh"
        if (pick == "ivfadc") sigs.unpersist() // routed away — free it
        (pick, s"annMode=auto candidateBound=$bound budget=$budget")
      }
    }
    if (chosen == "ivfadc")
      return ivfAdcCosineSelfTopK(embeddings, k)
    Parallelism.logDispatch("lshTopKAuto",
      s"n=$n nBands=$nBands -> nPlanes=$planes (${planes / nBands} bits/band)")
    lshTopK(embeddings, dim, planes, nBands, k, probeBits, pin = pin,
      nRows = n)
  }

  /** `nRows`: the corpus row count, if the caller already knows it —
    * feeds the zero-job bounded escape of the salted band join (any
    * band bucket's pair volume is ≤ nRows² because each vector
    * contributes at most one row per bucket per side, multi-probe
    * included: a vector's probe variants land in DISTINCT buckets).
    * Left at -1, one count() is paid per call — cheap next to the
    * search, but an N-times caller (q41 runs three configs) should
    * count once and pass it down. */
  def lshTopK(embeddings: DataFrame, dim: Int, nPlanes: Int, nBands: Int,
      k: Int, probeBits: Int = 0,
      pin: DataFrame => Unit = OperatorCaches.register,
      nRows: Long = -1L): DataFrame = {
    // Carry-the-vectors band join (the minHashLshPairs shape): the old
    // "slim candidate pairs → distinct → join embeddings back twice"
    // staging shuffled ~300 B of vector per CANDIDATE — clustered
    // corpora make candidates grow with cluster mass (sf10: ~12 M
    // candidates → ~14 GB of attach traffic, 33× cost at 10× data),
    // while the carried band rel is N·bands·300 B flat. Cosines are
    // computed as the join streams and deduped (a pair colliding in
    // several bands scores identically), so only slim
    // (query, neighbor, cosine) rows ever shuffle again.
    val rowsPerBand = nPlanes / nBands
    require(probeBits >= 0 && probeBits <= rowsPerBand,
      s"probeBits must be 0..$rowsPerBand")
    // Signature rel cached ONLY on the stats path (lifecycle as in
    // Dedup.minHashBandRel): there saltedBlockJoin's eager dispatch
    // stats AND both join sides read it, so the projection pipeline
    // runs once per call instead of three times — and the dispatch
    // pre-pass's synchronous .head is the first action, fully
    // populating the cache BEFORE the join stages are scheduled (no
    // concurrent cache-miss race, no separate count() needed). When
    // the pairBound ESCAPE fires, saltedBlockJoin returns a plain join
    // with no eager action: a cold cache there is read by both sides
    // concurrently, which either double-computes the projection (the
    // race) or — round 10's eager sigs.count() "fix" — pays one full
    // serial materialization job per call, measured at ~0.2 s fixed
    // cost each (q41 runs three configs: 1.07 → 1.78 s at gate). The
    // escape implies n² ≤ targetPairsPerTask (a few-thousand-row
    // corpus), where recomputing the projection inline on both sides
    // is microseconds of vectorized work — so on that path the right
    // lifecycle is NO cache at all: zero extra jobs, no race, bounded
    // double-compute.
    val n = if (nRows > 0L) nRows else embeddings.count()
    // pairBound = n² (per-bucket, see nRows doc); saturate well before
    // Long overflow — past the escape threshold the exact value is
    // irrelevant, only "> target" matters
    val pairBound =
      if (n < 3037000499L) n * n else Long.MaxValue
    // same predicate as saltedBlockJoin's own escape (> 0 && <= target):
    // an n=0 corpus must take the cached-stats path's lifecycle, not
    // leave the sigs rel uncached while the stats pre-pass still runs
    val escapes =
      pairBound > 0L && pairBound <= Parallelism.DefaultTargetPairsPerTask
    val sigsPlain = lshSigRel(embeddings, nPlanes, nBands)
      .withColumn("nrm", l2Norm(col("embedding")))
    val sigs = if (escapes) sigsPlain else { // cold-start the stats path
      val c = sigsPlain.cache(); pin(c); c
    }
    val rel = sigs.select(col("vec_id"), col("embedding"), col("nrm"),
      posexplode(col("bnds")).as(Seq("band_idx", "band_hash")))
    val probe = probeVariants(rel, probeBits,
      Seq("vec_id", "embedding", "nrm"))
      .select(col("band_idx"), col("band_hash"),
        col("vec_id").as("query_id"), col("embedding").as("e_a"),
        col("nrm").as("n_a"))
    val index = rel.select(col("band_idx"), col("band_hash"),
      col("vec_id").as("neighbor_id"), col("embedding").as("e_b"),
      col("nrm").as("n_b"))
    val scored = Parallelism.saltedBlockJoin(probe, index,
        Seq("band_idx", "band_hash"), saltKeyA = "query_id",
        shuffleHashBuild = true,
        // 64-float embedding + norm + ids ≈ 0.6 KB; the fit guard
        // drops the unspillable hash build under tight pools
        buildRowBytes = 1024L,
        pairBound = pairBound,
        // total b-side rows = one row per vector per band
        buildRowsBound = n * nBands)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")))
      .select("query_id", "neighbor_id", "cosine")
      .distinct()
    // Top-k per query as a hash aggregate over each group's candidate
    // list (the q33/q24 lesson: a row_number window locally sorts ALL
    // scored rows; the per-group array_sort touches only that query's
    // candidates). Sort key replicates the window's
    // (cosine DESC, neighbor_id ASC) order exactly: negated cosine
    // ascending, with NaN (zero-norm vectors) mapped to -∞ because
    // Spark's DESC places NaN first while -NaN = NaN would sort last.
    val negCos = when(isnan(col("cosine")), lit(Double.NegativeInfinity))
      .otherwise(-col("cosine"))
    scored
      .withColumn("cand", struct(negCos.as("nc"),
        col("neighbor_id"), col("cosine")))
      .groupBy("query_id")
      .agg(slice(array_sort(collect_list(col("cand"))), 1, k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "cand")))
      .select(col("query_id"), col("cand.neighbor_id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("cand.cosine").as("cosine"))
  }
}
