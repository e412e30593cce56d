package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed in partition-sized batches.
  *
  * The decode is two-tier:
  *  - PNG / JPEG / GIF payloads get REAL dimensions parsed from the
  *    container header ([[ImageHeaders]] — pure JVM byte reading);
  *  - unknown formats fall back to the deterministic stub (byte-fold
  *    hash + fake dimensions) that stands in for a full media decoder
  *    (no image/audio libraries ship in this container — swap the
  *    fallback for JavaCV / TwelveMonkeys / ffmpeg-over-pipe without
  *    touching the plumbing).
  *
  * Scale notes: `mapPartitions` keeps one decoder instance per
  * partition (amortized init — the reason not to use a per-row UDF);
  * binary payloads stay off the shuffle path (feature extraction is a
  * narrow map; only the small feature vectors flow downstream);
  * `spark.sql.files.maxPartitionBytes` bounds per-task memory.
  */
object Multimodal {

  /** Extracted features for one media blob. */
  final case class MediaFeatures(
      doc_id: Long,
      format: String, // png | jpeg | gif | unknown
      n_bytes: Long,
      content_hash: Long,
      width: Int,
      height: Int)

  /** Byte-fold polynomial hash (= the text fingerprint for ASCII
    * payloads — keeps the pipeline oracle-checkable). */
  def byteFoldHash(bytes: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h * 31 + (bytes(i) & 0xff)) % 1000000007L
      i += 1
    }
    h
  }

  /** Header-parse known formats; stub dimensions for everything else. */
  def decodeFeatures(id: Long, bytes: Array[Byte]): MediaFeatures = {
    val h = byteFoldHash(bytes)
    ImageHeaders.decode(bytes) match {
      case Some(m) =>
        MediaFeatures(id, m.format, bytes.length.toLong, h, m.width, m.height)
      case None =>
        MediaFeatures(id, "unknown", bytes.length.toLong, h,
          width = (h % 640).toInt, height = (h % 480).toInt)
    }
  }

  /** Batch feature extraction over a (doc_id, media: binary) frame.
    * One decoder per partition via mapPartitions. */
  def extractFeatures(media: DataFrame)(
      implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // a heavyweight decoder would be initialized once HERE
        it.map { case (id, bytes) => decodeFeatures(id, bytes) }
      }
  }

  /** One sampled frame of a video-like payload. */
  final case class SampledFrame(
      doc_id: Long,
      frame_idx: Long,
      byte_off: Long,
      n_bytes: Long,
      frame_hash: Long)

  /** Frame-sample a video-like binary column: treat the payload as
    * consecutive fixed-size frames (a truncated tail frame is dropped,
    * the codec contract) and emit every `stride`-th frame. The frame
    * "decode" is a byte-slice + fold hash — the stub standing in for a
    * real codec, which slots into the same per-partition seam — but
    * the plumbing is the real thing: a narrow flatMap generate, frames
    * sliced in place, only (id, idx, hash) rows flow downstream, the
    * binary never shuffles. */
  def sampleFrames(media: DataFrame, frameBytes: Int, stride: Int)(
      implicit spark: SparkSession): Dataset[SampledFrame] = {
    import spark.implicits._
    require(frameBytes > 0 && stride > 0, "positive frame size / stride")
    media.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // a real codec would be initialized once HERE
        it.flatMap { case (id, bytes) =>
          val nFrames = bytes.length / frameBytes
          (0 until nFrames by stride).iterator.map { f =>
            val off = f * frameBytes
            val slice = java.util.Arrays.copyOfRange(bytes, off, off + frameBytes)
            SampledFrame(id, f.toLong, off.toLong, frameBytes.toLong,
              byteFoldHash(slice))
          }
        }
      }
  }

  /** One codec-true frame of a parsed video container ([[VideoContainers]]):
    * byte range and decode time come from real container structure
    * (MJPEG marker walk / MP4 sample tables), not fixed-size slicing;
    * `width`/`height` from the per-frame SOF (MJPEG) or track header
    * (MP4), 0 when the container carries none. */
  final case class ContainerFrame(
      doc_id: Long,
      container: String, // mjpeg | mp4 | raw
      frame_idx: Long,
      byte_off: Long,
      n_bytes: Long,
      time_ticks: Long,
      width: Int,
      height: Int,
      frame_hash: Long)

  /** Container-aware frame sampling: MJPEG and MP4 payloads are parsed
    * to their REAL frame units ([[VideoContainers.scanMjpeg]] /
    * [[VideoContainers.parseMp4]] — offsets, sizes, decode times from
    * the container's own structure); unknown formats fall back to the
    * fixed-size-slice stub of [[sampleFrames]] with `fallbackFrameBytes`
    * (container = "raw", the documented honest-stub seam). Every
    * `stride`-th frame is emitted with its true index. Same scale
    * contract as the rest of the file: one parser pass per partition,
    * the binary never shuffles, only the 9-column frame row flows
    * downstream. */
  def sampleContainerFrames(media: DataFrame, stride: Int,
      fallbackFrameBytes: Int = 16)(
      implicit spark: SparkSession): Dataset[ContainerFrame] = {
    import spark.implicits._
    require(stride > 0 && fallbackFrameBytes > 0, "positive stride / frame size")
    media.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val (container, frames) =
            if (VideoContainers.looksLikeMp4(bytes))
              VideoContainers.parseMp4(bytes) match {
                case Some(trk) => ("mp4", trk.frames)
                case None      => ("raw", Nil)
              }
            else if (VideoContainers.looksLikeMjpeg(bytes))
              ("mjpeg", VideoContainers.scanMjpeg(bytes))
            else ("raw", Nil)
          val resolved =
            if (frames.nonEmpty) frames
            else { // stub tier: consecutive fixed-size slices
              val n = bytes.length / fallbackFrameBytes
              (0 until n).map(f => VideoContainers.Frame(f.toLong,
                f.toLong * fallbackFrameBytes, fallbackFrameBytes.toLong,
                f.toLong, 0, 0))
            }
          resolved.iterator.filter(_.idx % stride == 0).map { fr =>
            val slice = java.util.Arrays.copyOfRange(bytes,
              fr.off.toInt, (fr.off + fr.len).toInt)
            ContainerFrame(id, if (frames.nonEmpty) container else "raw",
              fr.idx, fr.off, fr.len, fr.timeTicks, fr.width, fr.height,
              byteFoldHash(slice))
          }
        }
      }
  }

  /** Demo pipeline over the shared testdata, CONTAINER tier: each
    * document's full 16-byte text chunks become one real baseline-JPEG
    * frame each of an MJPEG stream ([[VideoContainers.mjpegFixture]] —
    * SOF0 width doc_id%16+1, entropy data with a stuffed 0xFF00 and an
    * RST0 the scanner must traverse), then the container-aware sampler
    * takes every 4th frame. The DuckDB oracle recomputes offsets,
    * sizes and the whole-frame byte-fold hash from the fixture's
    * arithmetic layout, so any structural-scan defect (marker lengths,
    * stuffing, restart markers, frame boundaries, SOF capture) breaks
    * the hash match — the q75 construction↔inversion pattern, one
    * tier up from pixels. */
  def documentVideoFrames(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val media = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val chunks = (0 until bytes.length / 16).map(f =>
          java.util.Arrays.copyOfRange(bytes, f * 16, f * 16 + 16))
        (id, VideoContainers.mjpegFixture((id % 16 + 1).toInt, chunks))
      }
      .toDF("doc_id", "media")
    sampleContainerFrames(media, stride = 4).toDF()
      .drop("container", "height") // constants of the fixture
  }

  /** Demo pipeline, MP4 tier (q90): each document's full 16-byte text
    * chunks become uniform samples of a real single-chunk MP4
    * ([[VideoContainers.mp4Fixture]] — ftyp/moov/trak/mdia/minf/stbl
    * with stsz/stsc/stco/stts, tkhd dims from doc_id, 3 600 ticks per
    * frame at timescale 90 000), then the container-aware sampler
    * takes every 4th frame. The DuckDB oracle reproduces byte ranges
    * (constant [[VideoContainers.mp4FixtureDataOff]] + 16·idx), decode
    * times and sample hashes arithmetically — so the Spark side must
    * walk the real box tree and expand the real sample tables to
    * match. Complements q89 (MJPEG marker-walk tier) over the SAME
    * frame plumbing. */
  def documentMp4Frames(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val media = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val samples = (0 until bytes.length / 16).map(f =>
          java.util.Arrays.copyOfRange(bytes, f * 16, f * 16 + 16))
        (id, VideoContainers.mp4Fixture((id % 16 + 1).toInt,
          (id % 12 + 1).toInt, 90000L, 3600L, samples))
      }
      .toDF("doc_id", "media")
    sampleContainerFrames(media, stride = 4).toDF()
      .drop("container") // constant of the fixture
  }

  /** 64-bit difference hash (dHash) of a decoded image — the standard
    * perceptual frame fingerprint: grayscale the pixels (integer
    * 299/587/114 luma), sample a 9×8 grid (nearest-neighbor,
    * x_i = ⌊i·w/9⌋, y_j = ⌊j·h/8⌋), emit one bit per horizontal
    * gradient sign (g[x_{i+1}] > g[x_i]). Gradient SIGNS survive
    * uniform brightness/contrast shifts and mild re-encoding noise —
    * the property that makes frame-level video dedup catch re-encoded
    * duplicates where an exact byte hash cannot. Pure integer
    * arithmetic → deterministic across engines. */
  def dHash64(img: PixelDecode.PixelImage): Long = {
    val w = img.width
    val h = img.height
    def lumaAt(x: Int, y: Int): Int = {
      val i = (y * w + x) * 3
      val r = img.rgb(i) & 0xff
      val g = img.rgb(i + 1) & 0xff
      val b = img.rgb(i + 2) & 0xff
      (r * 299 + g * 587 + b * 114) / 1000
    }
    var bits = 0L
    var j = 0
    while (j < 8) {
      val y = j * h / 8
      var i = 0
      while (i < 8) {
        val xa = i * w / 9
        val xb = (i + 1) * w / 9
        if (lumaAt(xb, y) > lumaAt(xa, y))
          bits |= 1L << (j * 8 + i)
        i += 1
      }
      j += 1
    }
    bits
  }

  /** Per-frame perceptual hash with an honest fallback tier: dHash
    * over REAL decoded pixels when the frame payload is
    * pixel-decodable ([[PixelDecode]]: BMP/PNG — the seam a full
    * JPEG/video decoder slots into), byte-fold hash otherwise (exact
    * byte identity — still catches container-level re-muxing, where
    * identical frame bytes land at different offsets). */
  def perceptualFrameHash(bytes: Array[Byte]): Long =
    PixelDecode.decode(bytes) match {
      case Some(img) => dHash64(img)
      case None      => byteFoldHash(bytes)
    }

  /** Per-video frame-hash rows for near-dup detection: container-true
    * frame units ([[VideoContainers]] — MJPEG marker walk / MP4 sample
    * tables; fixed-size fallback) hashed by [[perceptualFrameHash]].
    * Output: (doc_id, frame_idx, frame_phash). Same plumbing contract
    * as [[sampleContainerFrames]]: binary never shuffles, only the
    * slim hash rows flow downstream. */
  def videoFramePHashes(media: DataFrame, stride: Int,
      fallbackFrameBytes: Int = 16)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    require(stride > 0 && fallbackFrameBytes > 0, "positive stride / frame size")
    media.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val frames =
            if (VideoContainers.looksLikeMp4(bytes))
              VideoContainers.parseMp4(bytes).map(_.frames).getOrElse(Nil)
            else if (VideoContainers.looksLikeMjpeg(bytes))
              VideoContainers.scanMjpeg(bytes)
            else Nil
          val resolved =
            if (frames.nonEmpty) frames
            else {
              val n = bytes.length / fallbackFrameBytes
              (0 until n).map(f => VideoContainers.Frame(f.toLong,
                f.toLong * fallbackFrameBytes, fallbackFrameBytes.toLong,
                f.toLong, 0, 0))
            }
          resolved.iterator.filter(_.idx % stride == 0).map { fr =>
            val slice = java.util.Arrays.copyOfRange(bytes,
              fr.off.toInt, (fr.off + fr.len).toInt)
            (id, fr.idx, perceptualFrameHash(slice))
          }
        }
      }
      .toDF("doc_id", "frame_idx", "frame_phash")
  }

  /** Media-agnostic per-payload frame hashing — the per-row kernel of
    * [[videoFramePHashes]]/[[audioFramePHashes]] resolved in one place
    * (video containers first, then audio sync walks, then the
    * fixed-size fallback). Exposed for the streaming ingest path
    * ([[graft.streaming.StreamingMediaNearDup]]), where the per-doc
    * frame SET must come out of one stateless map (a flatMap + groupBy
    * would be a stateful streaming aggregation). Returns the DISTINCT
    * sorted hash set. */
  private[graft] def mediaFramePHashSet(bytes: Array[Byte], stride: Int,
      fallbackFrameBytes: Int = 16): Array[Long] = {
    val video =
      if (VideoContainers.looksLikeMp4(bytes))
        VideoContainers.parseMp4(bytes).map(_.frames).getOrElse(Nil)
      else if (VideoContainers.looksLikeMjpeg(bytes))
        VideoContainers.scanMjpeg(bytes)
      else Nil
    val spans: Iterator[(Long, Long, Long)] =
      if (video.nonEmpty) video.iterator.map(f => (f.idx, f.off, f.len))
      else {
        val audio =
          if (AudioHeaders.looksLikeAdts(bytes))
            AudioHeaders.scanAdtsFrames(bytes)
          else if (AudioHeaders.looksLikeMpegAudio(bytes))
            AudioHeaders.scanMpegFrames(bytes)
          else Nil
        if (audio.nonEmpty) audio.iterator.map(f => (f.idx, f.off, f.len))
        else {
          val n = bytes.length / fallbackFrameBytes
          (0 until n).iterator.map(f => (f.toLong,
            f.toLong * fallbackFrameBytes, fallbackFrameBytes.toLong))
        }
      }
    spans.filter(_._1 % stride == 0).map { case (_, off, len) =>
      perceptualFrameHash(java.util.Arrays.copyOfRange(bytes,
        off.toInt, (off + len).toInt))
    }.toArray.distinct.sorted
  }

  /** Media-agnostic (doc_id, frame_phash) DISTINCT rows — the
    * [[mediaFramePHashSet]] kernel as a DataFrame op. USE THIS to
    * build a corpus frame index that a MIXED-media stream will join
    * ([[writeFrameIndexBucketed]] + [[graft.streaming.StreamingMediaNearDup]]):
    * [[videoFramePHashes]] hashes audio payloads through the
    * fixed-size fallback while the streaming kernel takes the codec
    * walk — an index built from the video-only op would never pair a
    * true audio duplicate arriving on the stream. Single-medium
    * pipelines (the gate shapes) keep the per-medium ops, whose
    * frame_idx output this op deliberately drops. */
  def mediaFramePHashes(media: DataFrame, stride: Int)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    require(stride > 0, "positive stride")
    media.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        mediaFramePHashSet(bytes, stride).iterator.map(h => (id, h))
      })
      .toDF("doc_id", "frame_phash")
  }

  /** Video-level near-duplicate pairs over frame-hash sets — the
    * standard training-data video dedup primitive: two videos are
    * near-dups when the Jaccard of their DISTINCT sampled-frame-hash
    * sets reaches `tau` (re-encoded/re-muxed duplicates share most
    * frame hashes; unrelated videos share ~none). Input: (doc_id,
    * frame_phash) rows ([[videoFramePHashes]]).
    *
    * Scale shape: an inverted-index pair generation — equi-join on
    * frame_phash (never all-pairs), so candidate volume is Σ over
    * hashes of n_h², fat only for duplicate families and boilerplate
    * frames (intros/black frames). `maxPostings` > 0 drops hashes
    * shared by more than that many videos before pairing (the
    * stop-frame cut, the standard fix for boilerplate blowup); the
    * dropped hashes still count in each video's set size, so Jaccard
    * stays a lower bound — dropping a shared frame can only lower
    * similarity, never create a false pair.
    *
    * `maxCandidatePairs` (>0 to enable) is the MEASURED guard the rest
    * of the pair-generator family has ([[Dedup.lshPairBound]] /
    * `ngramJaccardPairs.maxCandidatePairs`): one narrow aggregation
    * over the distinct (hash, doc) rel computes the candidate volume
    * Σ_h n_h·(n_h−1)/2, and when it exceeds the budget the operator
    * AUTO-DERIVES the largest stop-frame cut whose residual volume
    * fits (per-n_h histogram, driver-small) — safe to apply silently
    * precisely because of the lower-bound contract above. The guard
    * also caches the distinct rel (it is read by the statistic, the
    * sizes agg and both join sides — recomputing a container walk 4×
    * is the real cost at scale; lifecycle via `pin`). If even
    * n_h = 2 hashes blow the budget the operator refuses, naming the
    * budget — that mass is genuine pairwise duplication, and cutting
    * it would return an empty (vacuous) result. Enabling the guard
    * runs the statistic EAGERLY at call time (the plan depends on it).
    * `autoBudgetPerDoc` (>0, exclusive with `maxCandidatePairs`)
    * derives the budget as max(perDoc × distinct docs, 10⁶) from the
    * cached slim rel — the [[frameNearDupPairsAuto]] dispatch.
    * Output: (doc_a, doc_b, shared, jaccard), doc_a < doc_b. */
  def videoNearDupPairs(frames: DataFrame, tau: Double,
      maxPostings: Int = 0, maxCandidatePairs: Long = -1L,
      autoBudgetPerDoc: Int = 0,
      pin: DataFrame => Unit = OperatorCaches.register): DataFrame =
    videoNearDupPairsWithCut(frames, tau, maxPostings, maxCandidatePairs,
      autoBudgetPerDoc, pin)._1

  /** [[videoNearDupPairs]] that also RETURNS the stop-frame cut the
    * pair stage actually applied (0 = uncut): the caller's
    * `maxPostings` on the guard's ok branch, the auto-derived (or
    * min-combined) cut on the over-budget branch. Pipelines that build
    * the nightly postings artifact ([[writeFramePostingsBucketed]])
    * need this value PLUMBED, not log-parsed — the streaming ingest
    * path inherits whatever cut the artifact was built with, and a
    * pipeline that derives cut N for its own pair join but writes the
    * artifact uncut hands the stream exactly the boilerplate regime
    * the cut exists to prevent ([[graft.app.CurateMedia]] wires this).
    * `budgetFloor` is the auto budget's floor (default 10⁶ — the
    * corpus-proportional `autoBudgetPerDoc` discipline; tests lower it
    * to exercise the cut branch on small fixtures). */
  def videoNearDupPairsWithCut(frames: DataFrame, tau: Double,
      maxPostings: Int = 0, maxCandidatePairs: Long = -1L,
      autoBudgetPerDoc: Int = 0,
      pin: DataFrame => Unit = OperatorCaches.register,
      budgetFloor: Long = 1000000L): (DataFrame, Int) = {
    require(maxCandidatePairs <= 0L || autoBudgetPerDoc <= 0,
      "pass either an explicit maxCandidatePairs or autoBudgetPerDoc, not both")
    val guardOn = maxCandidatePairs > 0L || autoBudgetPerDoc > 0
    // The distinct frame-set rel is read FOUR times when the guard is
    // enabled (the sizes agg, both pairing sides, the guard statistic)
    // and upstream of it sits the container walk over full payload
    // bytes — so the GUARDED (production-scale) path caches it: one
    // walk instead of four, slim rows (two longs per distinct frame).
    // The unguarded path does NOT cache: at gate scale the
    // materialization costs more than the three lazy re-reads of a
    // cheap fixture walk (q92 regressed 1.4× when this cache was
    // unconditional — r13 verdict item 2, adjudicated by an r14 A/B),
    // and an unguarded caller at real scale should be guard-enabled
    // anyway ([[frameNearDupPairsAuto]]). Lifecycle via `pin`.
    val setsRaw = frames.select(col("doc_id"), col("frame_phash")).distinct()
    val sets = if (guardOn) {
      val c = setsRaw.cache(); pin(c); c
    } else setsRaw
    // `autoBudgetPerDoc` prices the budget from the CACHED slim rel —
    // counting docs on `frames` would cost one extra full container
    // walk (measured: q96 1.74 s vs q92 0.81 s before this was moved
    // inside).
    val budget: Long =
      if (autoBudgetPerDoc > 0) {
        val nDocs = sets.select("doc_id").distinct().count()
        val b = Parallelism.routeBudget(nDocs, autoBudgetPerDoc, budgetFloor)
        Parallelism.logDispatch("videoNearDupPairs",
          s"autoBudget: nDocs=$nDocs -> maxCandidatePairs=$b " +
            s"($autoBudgetPerDoc/doc, floor $budgetFloor)")
        b
      } else maxCandidatePairs
    val cut: Int =
      if (budget <= 0L) maxPostings
      else {
        // per-hash posting counts → (n_h, how many hashes) histogram;
        // distinct n_h values are ≤ O(√Σ postings) — driver-small
        val hist = sets.groupBy("frame_phash").agg(count(lit(1)).as("nv"))
          .groupBy("nv").agg(count(lit(1)).as("nh"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
          .sortBy(_._1)
        def pairsAtMost(p: Long): Long = hist.iterator
          .takeWhile(_._1 <= p)
          .foldLeft(0L) { case (acc, (nv, nh)) =>
            val perHash = nv * (nv - 1) / 2
            val add =
              if (perHash > 0 && nh > Long.MaxValue / perHash) Long.MaxValue
              else perHash * nh
            if (acc > Long.MaxValue - add) Long.MaxValue else acc + add
          }
        val maxNv = hist.lastOption.map(_._1).getOrElse(0L)
        val bound = pairsAtMost(maxNv)
        if (bound <= budget) {
          Parallelism.logDispatch("videoNearDupPairs",
            s"postingsPairBound=$bound <= budget=$budget -> ok" +
              (if (maxPostings > 0) s" (caller cut maxPostings=$maxPostings)"
               else ""))
          maxPostings
        } else {
          // largest p whose residual candidate volume fits the budget,
          // respecting a caller-supplied tighter cut
          val fits = hist.map(_._1)
            .filter(p => pairsAtMost(p) <= budget)
          val derived = fits.lastOption.getOrElse(1L)
          if (derived < 2L)
            throw new IllegalStateException(
              s"videoNearDupPairs: candidate volume ≈ $bound exceeds " +
                s"maxCandidatePairs=$budget even after cutting " +
                "every hash shared by >2 videos — the residual mass is " +
                "genuine pairwise duplication, not boilerplate; raise the " +
                "budget or pre-partition the corpus.")
          val p = if (maxPostings > 0) math.min(maxPostings.toLong, derived)
                  else derived
          Parallelism.logDispatch("videoNearDupPairs",
            s"postingsPairBound=$bound > budget=$budget -> " +
              s"auto stop-frame cut maxPostings=$p (residual bound " +
              s"${pairsAtMost(p)}; dropped hashes still count in set " +
              "sizes, jaccard stays a lower bound)")
          p.toInt
        }
      }
    val sizes = sets.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val postings =
      if (cut <= 0) sets
      else {
        val keep = sets.groupBy("frame_phash")
          .agg(count(lit(1)).as("nv"))
          .filter(col("nv") <= cut)
          .select("frame_phash")
        sets.join(keep, "frame_phash")
      }
    val a = postings.select(col("doc_id").as("doc_a"), col("frame_phash"))
    val b = postings.select(col("doc_id").as("doc_b"), col("frame_phash"))
    val pairs = a.join(b, Seq("frame_phash"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .withColumn("jaccard",
        col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")).cast("double"))
      .filter(col("jaccard") >= tau)
      .select("doc_a", "doc_b", "shared", "jaccard")
    (pairs, cut)
  }

  /** Production entry point for frame-set near-dup — [[videoNearDupPairs]]
    * with the measured guard ALWAYS on, at the corpus-proportional
    * default budget the rest of the dedup family uses
    * ([[graft.app.CurateCorpus]]'s `dedupMode=auto` discipline):
    * 256 candidate pairs per document, floored at 10⁶. A pipeline
    * caller reaching for media near-dup gets the auto-derived
    * stop-frame cut (or the refuse-with-budget-named error) by
    * default instead of the unguarded quadratic — the gate shapes
    * (q92/q94/q95) stay on the raw operator deliberately, their
    * oracles pin the uncut join. The doc count that prices the budget
    * is computed INSIDE the operator from the cached slim frame-set
    * rel (`autoBudgetPerDoc`) — counting on `frames` here would cost
    * one extra full container walk. */
  def frameNearDupPairsAuto(frames: DataFrame, tau: Double,
      maxPostings: Int = 0,
      pin: DataFrame => Unit = OperatorCaches.register): DataFrame =
    frameNearDupPairsAutoWithCut(frames, tau, maxPostings, pin)._1

  /** [[frameNearDupPairsAuto]] returning (pairs, applied stop-frame
    * cut) — the pipeline form ([[videoNearDupPairsWithCut]] semantics):
    * [[graft.app.CurateMedia]] bakes the returned cut into the nightly
    * postings artifact so the streaming ingest path inherits the SAME
    * bound the pair stage derived. `budgetFloor` as on
    * [[videoNearDupPairsWithCut]]. */
  def frameNearDupPairsAutoWithCut(frames: DataFrame, tau: Double,
      maxPostings: Int = 0,
      pin: DataFrame => Unit = OperatorCaches.register,
      budgetFloor: Long = 1000000L): (DataFrame, Int) =
    videoNearDupPairsWithCut(frames, tau, maxPostings = maxPostings,
      autoBudgetPerDoc = 256, pin = pin, budgetFloor = budgetFloor)

  /** Per-audio frame-hash rows for near-dup detection — the audio leg
    * of [[videoFramePHashes]] (the composition [[AudioHeaders]]'s
    * frame walk exists to feed): codec-true frame units (MP3 11-bit
    * sync walk / ADTS 13-bit length walk; fixed-size fallback) hashed
    * by [[perceptualFrameHash]] (byte-fold tier for audio payloads —
    * exact frame-byte identity, which catches re-muxed/re-chunked
    * duplicates; the pixel tier never fires on audio frames, but the
    * shared hash keeps the downstream join media-agnostic). Output:
    * (doc_id, frame_idx, frame_phash) — directly consumable by
    * [[videoNearDupPairs]], whose set-Jaccard join does not care what
    * the frames were. Same plumbing contract: binary never shuffles,
    * only the slim hash rows flow downstream. */
  def audioFramePHashes(media: DataFrame, stride: Int,
      fallbackFrameBytes: Int = 16)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    require(stride > 0 && fallbackFrameBytes > 0, "positive stride / frame size")
    media.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val frames =
            if (AudioHeaders.looksLikeAdts(bytes))
              AudioHeaders.scanAdtsFrames(bytes)
            else if (AudioHeaders.looksLikeMpegAudio(bytes))
              AudioHeaders.scanMpegFrames(bytes)
            else Nil
          val resolved =
            if (frames.nonEmpty) frames
            else {
              val n = bytes.length / fallbackFrameBytes
              (0 until n).map(f => AudioHeaders.AudioFrame(f.toLong,
                f.toLong * fallbackFrameBytes, fallbackFrameBytes.toLong, 0, 0))
            }
          resolved.iterator.filter(_.idx % stride == 0).map { fr =>
            val slice = java.util.Arrays.copyOfRange(bytes,
              fr.off.toInt, (fr.off + fr.len).toInt)
            (id, fr.idx, perceptualFrameHash(slice))
          }
        }
      }
      .toDF("doc_id", "frame_idx", "frame_phash")
  }

  /** Persist a distinct (doc_id, frame_phash) frame-set index as a
    * parquet table BUCKETED BY `frame_phash` — the warehouse form
    * [[incrementalFrameNearDupPairs]]'s corpus side wants at 100 TB
    * (the [[Similarity.writeAdcIndexBucketed]] discipline, media
    * form). What the layout buys: the daily batch's postings join
    * adopts the bucketed scan's hash partitioning, so the CORPUS side
    * joins with ZERO exchange — only the (small) new batch shuffles,
    * into exactly `buckets` partitions — and corpus payloads were
    * already never re-walked (the index rows are the walk's output).
    * Maintained per ingest window with `mode = "append"` (folding the
    * window's new distinct rows in) or by a full re-bucket of
    * old ∪ new into a version-suffixed table with the default
    * overwrite — an overwrite call does NOT append, it replaces the
    * table. Spec-pinned (VideoContainersSpec: zero Exchange between
    * the bucketed scan and the postings join + row identity with the
    * in-memory path). For a MIXED-media corpus that a stream will
    * join, build `sets` with [[mediaFramePHashes]] (the streaming
    * kernel) — not the video-only op. */
  def writeFrameIndexBucketed(sets: DataFrame, table: String, buckets: Int,
      path: Option[String] = None, mode: String = "overwrite"): Unit = {
    val distinctRows = sets.select(col("doc_id"), col("frame_phash")).distinct()
    // Append-mode re-ingest guard: distinct() above dedupes only WITHIN
    // the window being written — re-appending a doc already in the
    // index would leave duplicate (doc_id, frame_phash) rows, and the
    // incremental join consumes corpus rows as-is, silently inflating
    // shared counts and set sizes. Anti-join the window against the
    // docs already indexed (slim column, one maintenance-time pass —
    // not the ingest hot path).
    val spark = sets.sparkSession
    val rows =
      if (mode == "append" && spark.catalog.tableExists(table)) {
        // A re-appended doc whose PAYLOAD changed is a silent
        // corruption, not a no-op: the anti-join below would drop its
        // NEW (doc_id, frame_phash) rows and the incremental join
        // would keep scoring the stale content (append cannot retract
        // the old rows). Detect it — for docs present on both sides,
        // any frame hash on exactly one side means the set changed —
        // and fail loudly naming the docs; a content update requires a
        // rebuild. One slim maintenance-time pass, not the ingest hot
        // path.
        val existing = spark.table(table)
          .select("doc_id", "frame_phash")
        val sharedDocs = distinctRows.select("doc_id").distinct()
          .join(existing.select("doc_id").distinct(), "doc_id")
        val winShared = distinctRows.join(sharedDocs, "doc_id")
        val idxShared = existing.join(sharedDocs, "doc_id")
        val changed = winShared
          .join(idxShared, Seq("doc_id", "frame_phash"), "left_anti")
          .unionByName(idxShared
            .join(winShared, Seq("doc_id", "frame_phash"), "left_anti"))
          .select("doc_id").distinct().limit(6)
          .collect().map(_.getLong(0)).sorted
        require(changed.isEmpty,
          s"writeFrameIndexBucketed(append): doc(s) ${changed.take(5)
            .mkString(", ")}${if (changed.length > 5) ", …" else ""} are " +
            s"already indexed in '$table' with a DIFFERENT frame set — " +
            "append cannot retract the stale rows and the incremental " +
            "join would keep scoring the old content; rebuild the index " +
            "(mode=overwrite) to pick up content updates")
        distinctRows.join(
          spark.table(table).select("doc_id").distinct(),
          Seq("doc_id"), "left_anti")
      } else distinctRows
    val w = rows.write
      .bucketBy(buckets, "frame_phash")
      .sortBy("frame_phash")
      .mode(mode)
      .format("parquet")
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Persist the STREAMING ingest path's corpus side PRE-EXPLODED:
    * one row per kept (frame_phash, doc) posting, each carrying the
    * doc's kept frame-hash set `fhs` as a payload column plus its FULL
    * set size `n_full`, bucketed by `frame_phash`. Why this layout
    * exists: in a stream-static join the static side's plan re-executes
    * every micro-batch, and the previous best corpus shape — prebuilt
    * (doc_id, fhs) sets — still paid scan → explode → SHUFFLE of the
    * entire exploded postings rel (each row carrying its doc's whole
    * set array, ~100× the slim index bytes) per micro-batch, forever.
    * Pre-exploding at build time makes the per-batch corpus side an
    * exchange-free bucketed scan: only the (small) stream side shuffles,
    * into exactly `buckets` partitions (the
    * [[Similarity.writeAdcIndexBucketed]] / [[writeFrameIndexBucketed]]
    * discipline, stream form; spec-pinned zero corpus-side Exchange in
    * StreamingMediaNearDupSpec). Same row count as the slim index —
    * the set is a payload column, priced once at the nightly build
    * instead of per micro-batch.
    *
    * `maxPostings` (>0) is the NIGHTLY-DERIVED stop-frame cut: hashes
    * held by more than that many corpus docs are dropped from both the
    * exploded rows (they can never be join keys) and the carried `fhs`
    * sets (so `shared` never counts them), while `n_full` keeps the
    * uncut set size — Jaccard stays a lower bound, exactly the batch
    * operator's cut contract. The ingest hot path deliberately computes
    * no posting histogram of its own (that is this build's business);
    * it INHERITS the cut baked in here. The cut prices corpus-only
    * counts — a live micro-batch cannot tip a hash over it until the
    * next nightly rebuild, the documented staleness of a static bound.
    *
    * `stride` records the frame-walk stride the index rows were built
    * with (as column metadata on `fhs`, persisted through the catalog);
    * [[graft.streaming.StreamingMediaNearDup.mediaNearDupAgainstIndex]]
    * refuses a stream walking at a different stride — a mismatch would
    * silently produce asymmetric frame sets and wrong jaccard.
    *
    * Always a full rebuild (`overwrite` into a version-suffixed table):
    * append is structurally unsupported because the kept sets and the
    * cut are corpus-global — a new doc changes other docs' posting
    * counts. */
  def writeFramePostingsBucketed(sets: DataFrame, table: String,
      buckets: Int, path: Option[String] = None, maxPostings: Int = 0,
      stride: Int = 1): Unit = {
    require(stride > 0, "positive stride")
    val rows = sets.select(col("doc_id"), col("frame_phash")).distinct()
    val full = rows.groupBy("doc_id").agg(count(lit(1)).as("n_full"))
    val kept =
      if (maxPostings <= 0) rows
      else rows.join(
        rows.groupBy("frame_phash").agg(count(lit(1)).as("nv"))
          .filter(col("nv") <= maxPostings).select("frame_phash"),
        "frame_phash")
    val keptSets = kept.groupBy("doc_id")
      .agg(sort_array(collect_set(col("frame_phash"))).as("fhs"))
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.stride", stride.toLong)
      .putLong("graft.maxPostings", maxPostings.toLong)
      .build()
    val exploded = keptSets.join(full, "doc_id")
      .select(explode(col("fhs")).as("frame_phash"), col("doc_id"),
        col("fhs").as("fhs", meta), col("n_full"))
      // ONE file per bucket: repartition on the bucket expression so
      // each write task owns exactly one bucket — a multi-file bucket
      // loses the sortBy ordering at scan time and a sort-merge join
      // would re-SORT the whole fat postings rel per micro-batch
      // (measured: the sf10 probe's per-batch wall was corpus-sort-
      // bound before this). Single-file buckets scan back sorted.
      .repartition(buckets, col("frame_phash"))
    val w = exploded.write
      .bucketBy(buckets, "frame_phash")
      .sortBy("frame_phash")
      .mode("overwrite")
      .format("parquet")
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Blue/green form of [[writeFramePostingsBucketed]] — the nightly
    * REBUILD entry: writes the postings into a fresh version-suffixed
    * table `<table>_v<N>` and only then swaps the serving name
    * (`CREATE OR REPLACE VIEW <table>`) onto it — one catalog
    * operation, so a reader resolving `<table>` mid-rebuild sees
    * either the old complete version or the new complete version,
    * never a half-written table (a direct overwrite drops + rewrites
    * the files UNDER the live name — exactly the window a running
    * stream's next micro-batch would read). The view is a bare
    * `SELECT *`, so the bucketed scan's partitioning AND the `fhs`
    * column metadata (build stride / baked cut) flow through to
    * consumers unchanged (spec-pinned). The PREVIOUS version is kept —
    * a stream that resolved it before the swap keeps reading complete
    * data — and all versions older than that are dropped; re-running
    * nightly therefore holds at most two versions on disk. A legacy
    * plain TABLE already holding the serving name is dropped first
    * (one-time migration; its files are replaced by this rebuild
    * anyway). Returns the versioned table name written. */
  def writeFramePostingsBucketedVersioned(sets: DataFrame, table: String,
      buckets: Int, path: Option[String] = None, maxPostings: Int = 0,
      stride: Int = 1): String =
    VersionedTable.rebuild(sets.sparkSession, table, path) {
      (vTable, vPath) =>
        writeFramePostingsBucketed(sets, vTable, buckets, vPath,
          maxPostings, stride)
    }

  /** Incremental frame-set near-dup — the production maintenance path
    * of [[videoNearDupPairs]] at 100 TB (the
    * [[Dedup.incrementalNearDupPairs]] discipline, media form): a
    * daily video/audio ingest must NOT re-pair the whole corpus. New
    * media's frame-hash rows join the PERSISTED corpus frame index
    * `corpusSets` — (doc_id, frame_phash) distinct rows, at scale the
    * [[writeFrameIndexBucketed]] table bucketed on frame_phash so the
    * corpus side of the postings join never shuffles (spec-pinned) —
    * plus a self-join among the new batch; existing corpus payloads
    * are never re-walked.
    *
    * `maxPostings` (>0) drops hashes whose COMBINED (corpus + new)
    * posting count exceeds it, before pairing — cut-for-cut identical
    * to the one-shot operator's stop-frame cut over the unioned
    * corpus, so increment results stay parity with a full re-run
    * (spec-pinned); set sizes keep dropped hashes (Jaccard lower
    * bound, as ever).
    *
    * Output: (doc_a, doc_b, shared, jaccard, vs_corpus) — doc_a is
    * always the new document; new-new pairs are doc_a < doc_b
    * (the [[Dedup.incrementalNearDupPairs]] contract). */
  def incrementalFrameNearDupPairs(newFrames: DataFrame,
      corpusSets: DataFrame, tau: Double, maxPostings: Int = 0,
      pin: DataFrame => Unit = OperatorCaches.register): DataFrame = {
    val newSets = newFrames.select(col("doc_id"), col("frame_phash"))
      .distinct().cache()
    pin(newSets)
    val corpus = corpusSets.select(col("doc_id"), col("frame_phash"))
    val newSizes = newSets.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val corpusSizes = corpus.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val (newPost, corpusPost) =
      if (maxPostings <= 0) (newSets, corpus)
      else {
        // combined per-hash counts — identical to the one-shot cut
        // over union(corpus, new)
        val keep = corpus.unionByName(newSets)
          .groupBy("frame_phash").agg(count(lit(1)).as("nv"))
          .filter(col("nv") <= maxPostings)
          .select("frame_phash")
        (newSets.join(keep, "frame_phash"), corpus.join(keep, "frame_phash"))
      }
    def scored(pairs: DataFrame, sizesB: DataFrame): DataFrame = pairs
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared"))
      .join(newSizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")),
        "doc_a")
      .join(sizesB.select(col("doc_id").as("doc_b"), col("n").as("n_b")),
        "doc_b")
      .withColumn("jaccard",
        col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")).cast("double"))
      .filter(col("jaccard") >= tau)
    val vsCorpus = scored(
      newPost.select(col("doc_id").as("doc_a"), col("frame_phash"))
        .join(corpusPost.select(col("doc_id").as("doc_b"), col("frame_phash")),
          Seq("frame_phash"))
        .filter(col("doc_a") =!= col("doc_b")),
      corpusSizes)
      .withColumn("vs_corpus", lit(true))
    val newNew = scored(
      newPost.select(col("doc_id").as("doc_a"), col("frame_phash"))
        .join(newPost.select(col("doc_id").as("doc_b"), col("frame_phash")),
          Seq("frame_phash"))
        .filter(col("doc_a") < col("doc_b")),
      newSizes)
      .withColumn("vs_corpus", lit(false))
    vsCorpus.unionByName(newNew)
      .select("doc_a", "doc_b", "shared", "jaccard", "vs_corpus")
  }

  /** One codec-true audio frame ([[AudioHeaders.scanMpegFrames]] /
    * [[AudioHeaders.scanAdtsFrames]]): byte range from the frame
    * header's own length arithmetic, decode units from the header. */
  final case class AudioFrameRow(
      doc_id: Long,
      container: String, // mp3 | adts | raw
      frame_idx: Long,
      byte_off: Long,
      n_bytes: Long,
      samples: Int,
      sample_rate: Int,
      frame_hash: Long)

  /** Codec-true audio frame sampling — the audio leg of
    * [[sampleContainerFrames]]: MPEG audio (MP3) payloads walked by
    * 11-bit frame sync + header-derived lengths, ADTS (AAC) by the
    * 13-bit frame-length field; unknown formats take the fixed-size
    * fallback tier (container = "raw"). Frame hashes feed the same
    * frame-set dedup as video ([[videoNearDupPairs]] — select
    * (doc_id, frame_hash as frame_phash)). Same plumbing contract:
    * binary never shuffles, only the slim frame row flows downstream. */
  def sampleAudioFrames(media: DataFrame, stride: Int,
      fallbackFrameBytes: Int = 16)(
      implicit spark: SparkSession): Dataset[AudioFrameRow] = {
    import spark.implicits._
    require(stride > 0 && fallbackFrameBytes > 0, "positive stride / frame size")
    media.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val (container, frames) =
            if (AudioHeaders.looksLikeAdts(bytes))
              ("adts", AudioHeaders.scanAdtsFrames(bytes))
            else if (AudioHeaders.looksLikeMpegAudio(bytes))
              ("mp3", AudioHeaders.scanMpegFrames(bytes))
            else ("raw", Nil)
          val resolved =
            if (frames.nonEmpty) frames
            else {
              val n = bytes.length / fallbackFrameBytes
              (0 until n).map(f => AudioHeaders.AudioFrame(f.toLong,
                f.toLong * fallbackFrameBytes, fallbackFrameBytes.toLong, 0, 0))
            }
          resolved.iterator.filter(_.idx % stride == 0).map { fr =>
            val slice = java.util.Arrays.copyOfRange(bytes,
              fr.off.toInt, (fr.off + fr.len).toInt)
            AudioFrameRow(id, if (frames.nonEmpty) container else "raw",
              fr.idx, fr.off, fr.len, fr.samples, fr.sampleRateHz,
              byteFoldHash(slice))
          }
        }
      }
  }

  /** Demo pipeline (q93): codec-true audio frame units end-to-end.
    * Each document's 16-byte text chunks become one audio frame each —
    * even doc_ids an MP3 stream ([[AudioHeaders.mp3Fixture]]: V1
    * Layer III 96 kbps / 48 kHz, exact 288-byte frames), odd doc_ids
    * an ADTS stream ([[AudioHeaders.adtsFixture]]: AAC-LC 48 kHz,
    * 23-byte frames) — and the sampler takes every 4th frame. The
    * DuckDB oracle reproduces offsets, lengths, decode units and
    * whole-frame byte-fold hashes from the fixtures' arithmetic
    * layout, so the Spark side must walk real sync words and
    * header-length fields to match (the q89 pattern, audio form). */
  def documentAudioFrames(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val media = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val chunks = (0 until bytes.length / 16).map(f =>
          java.util.Arrays.copyOfRange(bytes, f * 16, f * 16 + 16))
        val payload =
          if (id % 2 == 0) AudioHeaders.mp3Fixture(chunks)
          else AudioHeaders.adtsFixture(chunks)
        (id, payload)
      }
      .toDF("doc_id", "media")
    sampleAudioFrames(media, stride = 4).toDF()
  }

  /** Demo pipeline (q92): frame-level video near-dup end-to-end over
    * the shared testdata. Each document becomes an MJPEG stream of its
    * 16-byte text chunks (the q89 fixture at a CONSTANT SOF width, so
    * frame identity depends on content alone — the re-encode analog);
    * every frame is perceptually hashed (byte-fold tier here: JPEG
    * entropy payloads are not pixel-decodable, the dHash tier is
    * spec-pinned on BMP frames) and videos pair on frame-set Jaccard ≥
    * `tau`. Near-duplicate document families share most 16-byte chunks
    * → their videos share most frames → pairs; unrelated docs share
    * boilerplate chunks at most. The oracle reproduces frame hashes
    * from the fixture arithmetic (q89's construction) and the Jaccard
    * join in SQL, so the whole chain — container scan, frame
    * boundaries, hashing, set join — must be right for the hash match. */
  def documentVideoNearDups(spark: SparkSession, dir: String,
      tau: Double): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val media = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val chunks = (0 until bytes.length / 16).map(f =>
          java.util.Arrays.copyOfRange(bytes, f * 16, f * 16 + 16))
        (id, VideoContainers.mjpegFixture(8, chunks))
      }
      .toDF("doc_id", "media")
    videoNearDupPairs(videoFramePHashes(media, stride = 1), tau)
  }

  /** Demo pipeline (q96): the q92 chain through the PRODUCTION entry
    * [[frameNearDupPairsAuto]] — the measured postings guard always
    * on at the 256/doc (floor 10⁶) budget. At gate scale the
    * candidate volume fits the floor, so the result must be
    * bit-identical to q92's: the oracle pins that the auto dispatch
    * (doc count → budget → guard statistic → "ok" branch) does not
    * perturb below-budget semantics end-to-end. */
  def documentVideoNearDupsAuto(spark: SparkSession, dir: String,
      tau: Double): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val media = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val chunks = (0 until bytes.length / 16).map(f =>
          java.util.Arrays.copyOfRange(bytes, f * 16, f * 16 + 16))
        (id, VideoContainers.mjpegFixture(8, chunks))
      }
      .toDF("doc_id", "media")
    frameNearDupPairsAuto(videoFramePHashes(media, stride = 1), tau)
  }

  /** Demo pipeline (q95): INCREMENTAL frame-level near-dup end-to-end
    * — the q92 chain run the way a daily media ingest actually runs it
    * ([[incrementalFrameNearDupPairs]]): docs with doc_id % 4 == 0 are
    * the "new batch", the rest are the already-indexed corpus whose
    * payloads are NEVER re-walked — only their persisted (doc_id,
    * frame_phash) index rows join. Same MJPEG fixture arithmetic as
    * q92, so the DuckDB oracle reproduces the frame hashes and runs
    * both join legs (batch×corpus with vs_corpus = true, batch×batch
    * with doc_a < doc_b and vs_corpus = false) in SQL: container scan,
    * frame boundaries, hashing, the split, both set joins and the
    * Jaccard arithmetic must ALL be right for the hash match. */
  def documentIncrementalVideoNearDups(spark: SparkSession, dir: String,
      tau: Double): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    def mediaWhere(pred: org.apache.spark.sql.Column): DataFrame =
      graft.Tables.documents(spark, dir)
        .filter(pred)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val bytes = text.getBytes("UTF-8")
          val chunks = (0 until bytes.length / 16).map(f =>
            java.util.Arrays.copyOfRange(bytes, f * 16, f * 16 + 16))
          (id, VideoContainers.mjpegFixture(8, chunks))
        }
        .toDF("doc_id", "media")
    val corpusIndex = videoFramePHashes(
      mediaWhere(col("doc_id") % 4 =!= 0), stride = 1)
      .select("doc_id", "frame_phash").distinct()
    val newFrames = videoFramePHashes(
      mediaWhere(col("doc_id") % 4 === 0), stride = 1)
    incrementalFrameNearDupPairs(newFrames, corpusIndex, tau)
  }

  /** Demo pipeline (q97): the STREAMING ingest plan
    * ([[graft.streaming.StreamingMediaNearDup.mediaNearDupAgainstIndex]])
    * executed statically over the q95 split — the same plan that runs
    * under `readStream` per micro-batch (batch parity is the
    * contract; StreamingMediaNearDupSpec pins stream ≡ static ≡ the
    * batch incremental operator). Output: the vs-corpus pairs only
    * (doc_a = new doc), which the DuckDB oracle reproduces as q95's
    * batch×corpus leg — gate-pinning the zero-state join arithmetic
    * (per-payload frame sets, minimum-shared-hash exactly-once,
    * array_intersect set measures) against an independent engine. */
  def documentStreamingMediaNearDups(spark: SparkSession, dir: String,
      tau: Double): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    def mediaWhere(pred: org.apache.spark.sql.Column): DataFrame =
      graft.Tables.documents(spark, dir)
        .filter(pred)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val bytes = text.getBytes("UTF-8")
          val chunks = (0 until bytes.length / 16).map(f =>
            java.util.Arrays.copyOfRange(bytes, f * 16, f * 16 + 16))
          (id, VideoContainers.mjpegFixture(8, chunks))
        }
        .toDF("doc_id", "media")
    val corpusIndex = videoFramePHashes(
      mediaWhere(col("doc_id") % 4 =!= 0), stride = 1)
      .select("doc_id", "frame_phash").distinct()
    graft.streaming.StreamingMediaNearDup.mediaNearDupAgainstIndex(
      mediaWhere(col("doc_id") % 4 === 0), corpusIndex, tau)
  }

  /** Demo pipeline (q94): frame-level AUDIO near-dup end-to-end — the
    * q92 composition with audio containers, proving the set-Jaccard
    * join is media-agnostic. Each document becomes a codec-true audio
    * stream of its 16-byte text chunks (even doc_ids MP3, odd ADTS —
    * the q93 fixtures at constant headers, so frame identity depends
    * on chunk content + container alone); every frame is hashed
    * ([[audioFramePHashes]], byte-fold tier) and docs pair on
    * frame-set Jaccard ≥ `tau` via [[videoNearDupPairs]]. Near-dup
    * families sharing a container emit pairs; cross-container members
    * of a family do NOT (identical chunks wrap into different frame
    * bytes) — the contract a mixed-media corpus actually wants, and
    * the oracle reproduces it arithmetically (per-parity fold). */
  def documentAudioNearDups(spark: SparkSession, dir: String,
      tau: Double): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val media = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val chunks = (0 until bytes.length / 16).map(f =>
          java.util.Arrays.copyOfRange(bytes, f * 16, f * 16 + 16))
        val payload =
          if (id % 2 == 0) AudioHeaders.mp3Fixture(chunks)
          else AudioHeaders.adtsFixture(chunks)
        (id, payload)
      }
      .toDF("doc_id", "media")
    videoNearDupPairs(audioFramePHashes(media, stride = 1), tau)
  }

  /** Demo pipeline (q98): MIXED-media near-dup through the
    * media-agnostic kernel — the gate entry for the headline property
    * the streaming/mixed index path depends on ([[mediaFramePHashes]]
    * resolving each payload's container per row: even doc_ids become
    * MJPEG videos of their 16-byte text chunks, odd doc_ids MP3 audio
    * of the same chunks, ONE operator walks both). Docs pair on
    * frame-set Jaccard ≥ `tau` via [[videoNearDupPairs]]; duplicate
    * family members sharing a container pair, cross-container members
    * do NOT (identical chunks wrap into different frame bytes). The
    * DuckDB oracle reproduces both container walks arithmetically
    * (per-parity fold: q89's 47-byte MJPEG frame layout for even ids,
    * q93's 288-byte MP3 frame layout for odd) and the set join — a
    * video-only kernel ([[videoFramePHashes]]) would hash the MP3
    * payloads through the fixed-size fallback and hash-mismatch. */
  def documentMixedMediaNearDups(spark: SparkSession, dir: String,
      tau: Double): DataFrame = {
    implicit val s: SparkSession = spark
    val media = mixedMediaOf(graft.Tables.documents(spark, dir))
    videoNearDupPairs(mediaFramePHashes(media, stride = 1), tau)
  }

  /** Text → MIXED-media payloads: even doc_ids become MJPEG videos of
    * the 16-byte text chunks, odd doc_ids MP3 audio of the SAME
    * chunks. The one synthesizer behind q98 and the StreamSoak media
    * leg — both depend on identical text ⇒ identical payload of the
    * same container per parity (exact frame-set dup), so the chunking
    * and parity dispatch must not fork. */
  private[graft] def mixedMediaOf(docs: DataFrame)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val chunks = (0 until bytes.length / 16).map(f =>
          java.util.Arrays.copyOfRange(bytes, f * 16, f * 16 + 16))
        val payload =
          if (id % 2 == 0) VideoContainers.mjpegFixture(8, chunks)
          else AudioHeaders.mp3Fixture(chunks)
        (id, payload)
      }
      .toDF("doc_id", "media")
  }

  /** Decoded-content statistics for one image blob ([[PixelDecode]]
    * formats only). Integer channel sums are the oracle-checkable
    * truth; means are one exact IEEE division of those sums. */
  final case class PixelStats(
      doc_id: Long,
      format: String, // bmp | png
      width: Int,
      height: Int,
      n_px: Long,
      sum_r: Long,
      sum_g: Long,
      sum_b: Long,
      mean_r: Double,
      mean_g: Double,
      mean_b: Double)

  /** REAL pixel decode (BMP / PNG via [[PixelDecode]]) → per-channel
    * stats; rows whose payload isn't pixel-decodable are dropped
    * (header-only metadata for those still flows via
    * [[extractFeatures]]). Same plumbing contract as the rest of the
    * file: per-partition decoder, binary never shuffles, only the
    * 11-column stats row flows downstream. */
  def decodePixelStats(media: DataFrame)(
      implicit spark: SparkSession): Dataset[PixelStats] = {
    import spark.implicits._
    media.select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          PixelDecode.decode(bytes).map { img =>
            val n = img.width * img.height
            var sr = 0L; var sg = 0L; var sb = 0L
            var i = 0
            while (i < n) {
              sr += img.rgb(i * 3) & 0xff
              sg += img.rgb(i * 3 + 1) & 0xff
              sb += img.rgb(i * 3 + 2) & 0xff
              i += 1
            }
            PixelStats(id, img.format, img.width, img.height, n.toLong,
              sr, sg, sb,
              sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
          }
        }
      }
  }

  /** Demo pipeline over the shared testdata, CONTENT tier: each doc_id
    * deterministically becomes a small real image — even ids a 24-bit
    * BMP, odd ids a truly-deflated PNG whose rows cycle through all
    * five scanline filters — with pixel channels defined by pure
    * arithmetic in (doc_id, x, y). The decoder recovers the pixels
    * from the actual file bytes; the DuckDB oracle computes the same
    * channel sums from the arithmetic rule directly, so any decode
    * defect (filter math, row order, BGR swap, padding) breaks the
    * hash match. */
  def documentPixelStats(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val media = graft.Tables.documents(spark, dir)
      .select(col("doc_id"))
      .as[Long]
      .map { id =>
        val w = (id % 16 + 1).toInt
        val h = (id % 12 + 1).toInt
        val rgb = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val i = (y * w + x) * 3
            rgb(i) = ((id * 3 + x * 5 + y * 7) % 256).toByte
            rgb(i + 1) = ((id * 11 + x * 13 + y * 17) % 256).toByte
            rgb(i + 2) = ((id * 19 + x * 23 + y * 29) % 256).toByte
            x += 1
          }
          y += 1
        }
        val bytes =
          if (id % 2 == 0) PixelDecode.bmpFixture(w, h, rgb)
          else PixelDecode.pngPixelFixture(w, h, rgb)
        (id, bytes)
      }
      .toDF("doc_id", "media")
    decodePixelStats(media).toDF()
  }

  /** Demo pipeline over the shared testdata: wraps each document's
    * UTF-8 text in a deterministic media container by doc_id — PNG
    * (id%3==0), JPEG (id%3==1), raw text (id%3==2, the unknown-format
    * stub path) — then runs the batch extraction. Every branch is
    * oracle-checkable: the fixture byte layout is pure arithmetic over
    * (doc_id, text), mirrored in the DuckDB SQL. */
  def documentMediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val media = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val payload = text.getBytes("UTF-8")
        val w = (id % 1024 + 1).toInt
        val h = (id % 768 + 1).toInt
        val bytes = (id % 3) match {
          case 0 => ImageHeaders.pngFixture(w, h, payload)
          case 1 => ImageHeaders.jpegFixture(w, h, payload)
          case _ => payload
        }
        (id, bytes)
      }
      .toDF("doc_id", "media")
    extractFeatures(media).toDF()
  }
}
