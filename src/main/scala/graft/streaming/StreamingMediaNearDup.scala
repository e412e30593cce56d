package graft.streaming

import graft.operators.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Streaming media near-duplicate detection against a static corpus
  * frame index — the ingest-time form of
  * [[graft.operators.Multimodal.incrementalFrameNearDupPairs]]'s
  * vs-corpus leg, mirroring [[StreamingNearDup]]'s contract for text:
  * each micro-batch of media payloads is frame-walked ONCE, and its
  * frame-hash sets join the persisted corpus index (a stream-static
  * equi-join — stateless, no watermark, no state store).
  *
  * Two streaming subtleties, both solved the [[StreamingNearDup]] way:
  *
  *  - The per-doc frame SET must not come from `flatMap` + `groupBy`
  *    (a stateful streaming aggregation): the whole set is computed in
  *    one stateless map per payload row
  *    ([[Multimodal.mediaFramePHashSet]] — container walk, hash,
  *    in-row distinct+sort).
  *  - A pair sharing k frame hashes appears k times out of the
  *    postings join, and `.distinct()`/`groupBy` on a stream is
  *    stateful. Both sides carry their (bounded — see below) hash
  *    set; a joined row survives only when its hash is the MINIMUM of
  *    the pair's intersection — each pair emits exactly once per
  *    micro-batch, and `shared`/`jaccard` come from
  *    `array_intersect` on the carried sets, matching the batch
  *    operator's distinct-set arithmetic bit for bit.
  *
  * Scale bounds: the carried set arrays make a posting row
  * O(|frame set|); `stride` subsamples frames at the walk so |set| is
  * capped by payload frames / stride (pick stride so sets stay in the
  * hundreds — the same knob the batch walk uses). The corpus side at
  * scale is the PRE-EXPLODED bucketed postings table
  * ([[Multimodal.writeFramePostingsBucketed]]): in a stream-static
  * join the static side's plan re-executes every micro-batch, so the
  * corpus must enter as an exchange-free bucketed scan — pre-exploded
  * rows already carrying each doc's set — not as an aggregation or an
  * explode+shuffle the batch would re-pay forever (spec-pinned zero
  * corpus-side Exchange, StreamingMediaNearDupSpec). The stop-frame
  * cut is the NIGHTLY-DERIVED one baked into that build
  * (`maxPostings` at build time); the ingest hot path computes no
  * posting histogram of its own — the combined corpus+batch histogram
  * is the nightly maintenance job's business, and the stream inherits
  * its bound.
  */
object StreamingMediaNearDup {

  /** (doc_id, fhs) — per-doc DISTINCT sorted frame-hash set, one
    * stateless map per (possibly streaming) payload row. */
  def frameSets(media: DataFrame, stride: Int = 1)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    require(stride > 0, "positive stride")
    media.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        (id, Multimodal.mediaFramePHashSet(bytes, stride))
      })
      .toDF("doc_id", "fhs")
  }

  private def requireLongArray(df: DataFrame, colName: String,
      what: String): Unit = {
    val dt = df.schema(colName).dataType
    dt match {
      case ArrayType(LongType, _) => ()
      case other => throw new IllegalArgumentException(
        s"$what: column '$colName' must be array<bigint> (a frame-hash " +
          s"set), got $other — a table whose sets were built by a " +
          "different kernel would silently corrupt shared/jaccard")
    }
  }

  /** Refuse a corpus index built at a different frame-walk stride than
    * the stream is using ([[Multimodal.writeFramePostingsBucketed]]
    * persists the build stride as column metadata on `fhs`): a
    * mismatch silently produces asymmetric frame sets and wrong
    * jaccard rather than an error. Indexes from older builders carry
    * no metadata — those callers own the must-match constraint (it is
    * documented on every entry point). */
  private def checkBuildStride(df: DataFrame, streamStride: Int): Unit = {
    val m = df.schema("fhs").metadata
    if (m.contains("graft.stride")) {
      val built = m.getLong("graft.stride")
      require(built == streamStride.toLong,
        s"corpus frame index was built at stride=$built but the stream " +
          s"walks at stride=$streamStride — frame sets would be " +
          "asymmetric and jaccard silently wrong; rebuild the index or " +
          "match the stride")
    }
  }

  /** The static corpus side: persisted (doc_id, frame_phash) index
    * rows grouped into per-doc sets. In a stream-static join the
    * static side's PLAN re-executes every micro-batch, so at scale
    * compute this ONCE at index-build time — preferably as the
    * pre-exploded bucketed postings table
    * ([[Multimodal.writeFramePostingsBucketed]]), which
    * [[mediaNearDupAgainstIndex]] consumes exchange-free — and never
    * hand raw index rows to the ingest hot path (every tiny batch
    * would pay a corpus-wide groupBy). A prebuilt (doc_id, fhs) table
    * is accepted too (schema-validated: `fhs` must be array<bigint>,
    * per-doc DISTINCT sets built by the SAME media-agnostic kernel and
    * stride as the stream walk — [[Multimodal.mediaFramePHashes]]; a
    * video-only index hashes audio payloads differently than the
    * stream would). */
  def corpusFrameSets(corpusSets: DataFrame,
      assumeDistinct: Boolean = false): DataFrame =
    if (corpusSets.columns.contains("fhs")) {
      requireLongArray(corpusSets, "fhs", "corpusFrameSets")
      require(corpusSets.columns.contains("doc_id"),
        "corpusFrameSets: prebuilt sets need a doc_id column")
      // CONTENT validation at accept time (one pass, maintenance cost,
      // not the ingest hot path): the join's min-of-intersection
      // exactly-once rule and array_intersect arithmetic silently
      // corrupt shared/jaccard on non-distinct or unsorted arrays, so
      // a prebuilt table from a different builder is REFUSED, not
      // trusted. A caller that already paid the check (the artifact
      // build writes sort_array(collect_set(...))) passes
      // assumeDistinct = true to skip the scan.
      if (!assumeDistinct) {
        val bad = corpusSets.filter(
          col("fhs") =!= sort_array(array_distinct(col("fhs")))).count()
        require(bad == 0L,
          s"corpusFrameSets: $bad prebuilt row(s) carry a non-distinct " +
            "or unsorted fhs array — shared/jaccard would be silently " +
            "wrong; rebuild the sets with sort_array(collect_set(...)) " +
            "or pass assumeDistinct=true only for a table known clean")
      }
      corpusSets
    } else {
      requireLongArray(
        corpusSets.select(array(col("frame_phash")).as("fp")), "fp",
        "corpusFrameSets(frame_phash)")
      corpusSets.groupBy("doc_id")
        .agg(sort_array(collect_set(col("frame_phash"))).as("fhs"))
    }

  /** Match a (possibly streaming) media feed against the corpus frame
    * index. Three accepted corpus shapes — ONLY shape 1 is the
    * production ingest path; 2 and 3 are TEST-SCALE conveniences:
    *
    *  1. the PRE-EXPLODED bucketed postings table
    *     ([[Multimodal.writeFramePostingsBucketed]], nightly-rebuilt
    *     via [[Multimodal.writeFramePostingsBucketedVersioned]] —
    *     columns frame_phash, doc_id, fhs, n_full): zero corpus-side
    *     exchange per micro-batch, the nightly cut baked in, build
    *     stride checked against `stride`;
    *  2. prebuilt (doc_id, fhs) sets ([[corpusFrameSets]]) —
    *     TEST-SCALE ONLY: no cut mechanism, and the explode+shuffle of
    *     the corpus re-runs per batch — measured 34× the shuffle bytes
    *     of shape 1 at sf10 (STRESS.md media rounds), growing with the corpus
    *     forever. Content-validated at accept time (see
    *     [[corpusFrameSets]]; `assumeDistinct` skips the scan);
    *  3. raw (doc_id, frame_phash) index rows — TEST/DEMO ONLY: pays a
    *     corpus-wide groupBy per batch on top of shape 2's costs.
    *
    * Output: (doc_a stream side, doc_b corpus, shared, jaccard) — one
    * row per matching pair per micro-batch, jaccard ≥ `tau`. With the
    * nightly cut (shape 1), `shared` counts kept hashes only while the
    * jaccard denominator keeps full set sizes — the batch operator's
    * lower-bound cut contract. */
  def mediaNearDupAgainstIndex(media: DataFrame, corpusSets: DataFrame,
      tau: Double, stride: Int = 1, assumeDistinct: Boolean = false)(
      implicit spark: SparkSession): DataFrame = {
    val sRel = frameSets(media, stride)
      .select(col("doc_id").as("doc_a"), col("fhs").as("fhs_a"))
      .select(col("doc_a"), col("fhs_a"),
        explode(col("fhs_a")).as("frame_phash"))
    val cRel =
      if (corpusSets.columns.contains("n_full")) {
        // shape 1: pre-exploded postings — consumed AS IS so the
        // bucketed scan's hash partitioning feeds the join directly
        requireLongArray(corpusSets, "fhs", "mediaNearDupAgainstIndex")
        checkBuildStride(corpusSets, stride)
        corpusSets.select(col("frame_phash"), col("doc_id").as("doc_b"),
          col("fhs").as("fhs_b"), col("n_full").as("n_b"))
      } else
        corpusFrameSets(corpusSets, assumeDistinct)
          .select(col("doc_id").as("doc_b"), col("fhs").as("fhs_b"),
            size(col("fhs")).cast("long").as("n_b"),
            explode(col("fhs")).as("frame_phash"))
    val inter = array_intersect(col("fhs_a"), col("fhs_b"))
    // With the pre-exploded index (shape 1) the stream side is hinted
    // as the shuffled-hash BUILD side: the micro-batch is tiny next to
    // the corpus, so Spark builds the hash map on it (split across the
    // bucket partitioning — per-partition map = batch/buckets) and the
    // corpus STREAMS through the probe side with no sort and no
    // exchange — the cheapest possible per-batch corpus touch, one
    // sequential bucketed columnar scan. Without the hint the planner
    // picks sort-merge and re-sorts the fat corpus rel every
    // micro-batch (measured, STRESS.md media stage d).
    val sSide =
      if (corpusSets.columns.contains("n_full")) sRel.hint("shuffle_hash")
      else sRel
    sSide.join(cRel, Seq("frame_phash"))
      .filter(col("doc_a") =!= col("doc_b"))
      // exactly-once: only the pair's minimum shared KEPT hash emits it
      // (join rows exist exactly for hashes in fhs_a ∩ fhs_b, so the
      // min-of-intersection row always exists)
      .filter(col("frame_phash") === array_min(inter))
      .withColumn("shared", size(inter).cast("long"))
      .withColumn("jaccard", col("shared").cast("double") /
        (size(col("fhs_a")) + col("n_b") - col("shared")).cast("double"))
      .filter(col("jaccard") >= tau)
      .select("doc_a", "doc_b", "shared", "jaccard")
  }
}
