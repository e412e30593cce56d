package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Input-parallelism guard for index-building operators.
  *
  * Operators that materialize an expensive derived table (minhash
  * signatures, gram indexes, IVF assignments) inherit the INPUT's
  * partitioning — and a small-file input (one parquet file under
  * `maxPartitionBytes`) arrives as a single partition, so the whole
  * hash pipeline and columnar cache build run on one core while 31
  * idle (measured 6× on the q68 gram index: 6.5 s → 1.1 s). AQE cannot
  * help: it only re-plans after a shuffle, and a narrow scan→project
  * pipeline has none.
  *
  * `widen` round-robins the input up to the session's default
  * parallelism ONLY when the input has fewer partitions — at
  * production scale (thousands of input splits) it is a no-op, so the
  * extra shuffle is paid exactly when it is cheap (input small enough
  * to arrive under-split) and skipped when it would hurt (100 TB of
  * well-split files). */
object Parallelism {
  /** One-line stderr record of a runtime plan decision (strategy
    * dispatch, salt factors, quantizer tier): scale campaigns grep
    * these `[graft.dispatch]` lines so the knob values a run actually
    * chose land in STRESS.md as evidence, not reconstruction. */
  def logDispatch(op: String, detail: String): Unit =
    System.err.println(s"[graft.dispatch] $op: $detail")

  /** The one strategy dispatch of the pair generators: `"auto"`
    * evaluates `auto` exactly once — it returns the pick and the
    * statistics that decided it — and logs one `[graft.dispatch]
    * op: … -> pick` line; a name in `forced` is returned as given, with
    * no statistics pass and no line; anything else throws naming the
    * allowed set. The one place a dispatch record or cost model
    * changes. */
  def pickStrategy(op: String, strategy: String, forced: Seq[String])(
      auto: => (String, String)): String = strategy match {
    case "auto" =>
      val (pick, why) = auto
      logDispatch(op, s"$why -> $pick")
      pick
    case s if forced.contains(s) => s
    // a typo must fail fast, not silently select a path that fills
    // disks at scale
    case other => throw new IllegalArgumentException(
      s"unknown $op strategy '$other' (${("auto" +: forced).mkString("|")})")
  }

  /** Candidate-pair budget of the pairs-vs-linear routes: `perDoc`
    * candidate pairs per document, at least `floor` so that tiny runs
    * never flap. 256/doc: a corpus whose candidate mass is O(1) per
    * doc stays linear however big it grows (the campaign's uniform
    * corpus measures ~186/doc at both 50 k and 500 k docs), while
    * quadratic duplicate families push the per-doc rate unbounded
    * (gen_skew: 94/doc at 50 k, 938/doc at 500 k); 32/doc was measured
    * too tight — it flipped the linear uniform corpus too. */
  def routeBudget(docs: Long, perDoc: Long = 256L,
      floor: Long = 1000000L): Long =
    math.max(perDoc * docs, floor)

  /** (Σ n_b², Σ n_b) over the blocks of `df` keyed by `blockCols`: the
    * all-pairs candidate volume of a blocked self-join and its row
    * count, from one narrow aggregation. */
  def blockPairStats(df: DataFrame, blockCols: Seq[String]): (Long, Long) = {
    val st = df.groupBy(blockCols.map(col): _*).agg(count(lit(1)).as("nb"))
      .agg(coalesce(sum(col("nb") * col("nb")), lit(0L)).cast("long"),
        coalesce(sum(col("nb")), lit(0L)).cast("long"))
      .head
    (st.getLong(0), st.getLong(1))
  }

  /** Σ n_a·n_b over the blocks `keys` of two sides: the candidate
    * volume of a bipartite block join, from one narrow count per side.
    * A block absent from either side contributes nothing. */
  def bipartitePairCount(a: DataFrame, b: DataFrame,
      keys: Seq[String]): Long = {
    def counts(df: DataFrame, as: String) =
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as(as))
    counts(a, "na").join(counts(b, "nb"), keys)
      .agg(coalesce(sum(col("na") * col("nb")), lit(0L))).head.getLong(0)
  }

  /** Default per-task pair budget for [[saltedBlockJoin]] — exposed so
    * a caller that passes a `pairBound` can predict whether the
    * zero-stats-job escape will fire (bound ≤ this) and adapt its own
    * pre-materialization accordingly (see Similarity.lshTopK). */
  val DefaultTargetPairsPerTask = 20000000L

  /** Whether a shuffled-hash join with `totalBuildRows` wide build
    * rows provably fits the executor's execution pool. A task's build
    * is its whole shuffle PARTITION (every bucket hashed there, ≈
    * total/numShufflePartitions), one build per concurrent task slot,
    * and ShuffledHashJoin's build cannot spill — picking it when this
    * is false is choosing an OOM. The spill rehearsal measured exactly
    * that (2 GB heap × 0.2 fraction → "not enough memory to build hash
    * map" on the same corpus that runs fine at the default heap).
    * Sizing: in local mode the executor IS the driver JVM, so the
    * pool comes from the actual heap (`Runtime.maxMemory`) —
    * `spark.executor.memory` is ignored there by Spark itself, and
    * trusting an inherited conf value against a smaller -Xmx would
    * green-light the exact OOM this guard exists to prevent. On a
    * cluster the conf is authoritative; slots per executor come from
    * `spark.executor.cores`, falling back to `defaultParallelism`
    * (cluster-wide cores — an overestimate, which only errs toward
    * dropping the unspillable build, never toward keeping it).
    * Pool = memory.fraction share, at most half for builds (probe
    * side and everything else share it). */
  def hashBuildFits(totalBuildRows: Long, bytesPerRow: Long,
      spark: org.apache.spark.sql.SparkSession): Boolean = {
    val isLocal = spark.sparkContext.master.startsWith("local")
    val execMem =
      if (isLocal) Runtime.getRuntime.maxMemory()
      else spark.conf.getOption("spark.executor.memory")
        .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
        .getOrElse(Runtime.getRuntime.maxMemory())
    val fraction =
      spark.conf.get("spark.memory.fraction", "0.6").toDouble
    val slots =
      if (isLocal) spark.sparkContext.defaultParallelism
      else spark.conf.getOption("spark.executor.cores").map(_.toInt)
        .getOrElse(spark.sparkContext.defaultParallelism)
    val parts = math.max(
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt, 1)
    val pool = (execMem * fraction).toLong
    // AQE partition coalescing merges small shuffle partitions up to
    // the advisory size, so a task's build partition can be far LARGER
    // than totalBytes/parts — modeling only the configured partition
    // count green-lights builds that OOM under tight pools (the exact
    // failure this guard exists for). Per-partition build bytes is
    // therefore bounded below by the advisory size whenever coalescing
    // is on, and above by the total (one partition can't exceed it).
    val aqeCoalesce =
      spark.conf.get("spark.sql.adaptive.enabled", "true").toBoolean &&
        spark.conf.get(
          "spark.sql.adaptive.coalescePartitions.enabled", "true").toBoolean
    val advisory =
      if (!aqeCoalesce) 0.0
      else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get(
          "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")).toDouble
    // Coalescing also REDUCES the number of concurrent builds (fewer,
    // larger partitions), so the executor-wide pressure is the smaller
    // of slots-many per-partition builds and the whole build side held
    // at once — min(totalBytes, perPart·slots). At gate scale this
    // degenerates to totalBytes (identical accept decisions as the
    // pre-AQE model); under tight pools the advisory term now refuses
    // builds whose coalesced partitions would not fit.
    val totalBytes = totalBuildRows.toDouble * bytesPerRow
    val perPartBytes =
      math.min(totalBytes, math.max(totalBytes / parts, advisory))
    math.min(totalBytes, perPartBytes * slots) <= pool / 2.0
  }

  /** Even out `df` for heavy downstream per-row compute: a round-robin
    * repartition to the session's default parallelism, always. The
    * former `getNumPartitions < target` no-op was a measured lie at
    * scale: a single 522 MB parquet file with ~4 large row groups
    * splits into 32 byte-range tasks of which only ~4 are non-empty (a
    * row group belongs to the split holding its midpoint), so the
    * partition COUNT said "wide" while the ROWS sat on 4 cores — the
    * 2 M-vector routed-ANN campaign ran its quantizer fits and index
    * encode at 4/32 threads behind that check (rows, not splits — the
    * tile-kernel lesson again). Call sites gate work that is orders of
    * magnitude heavier than one linear exchange of their input; that
    * exchange is the insurance premium, paid unconditionally.
    *
    * The input's partition count is never read: under AQE
    * `df.rdd.getNumPartitions` runs the input's shuffle stages at call
    * time, the consuming action then runs them again, and an
    * Observation beneath the input reads 0. An input already wider
    * than the core count is therefore narrowed to one partition per
    * core (QUIRKS.md). */
  def widen(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Partition count for an explicit (AQE-exempt) repartition that
    * replaces a planner exchange in front of CPU-dense per-row work:
    * never below the session's shuffle width or the core count.
    * Rationale (r17 event-log measurement): AQE coalesces post-shuffle
    * partitions by COMPRESSED bytes, and candidate-pair rows compress
    * 20–30:1, so a stage carrying seconds of DP/dot CPU can be merged
    * onto 1–3 tasks while the rest of the machine idles. A
    * REPARTITION_BY_NUM shuffle moves the same bytes the planner's
    * exchange would have, but keeps its width. */
  def wideN(spark: org.apache.spark.sql.SparkSession): Int = math.max(
    spark.sparkContext.defaultParallelism,
    spark.conf.get("spark.sql.shuffle.partitions", "200").toInt)

  /** Exact skew-aware blocked self-join — the pair-volume twin of
    * [[widen]].
    *
    * A blocked pair generator joins two projections of the same table
    * on its block key. Two parallelism pathologies follow, and BOTH
    * are invisible to AQE (its skew-split heuristic sees input BYTES,
    * while a block's cost is its n_b² join OUTPUT — an 11 k-doc block
    * is ~20 MB of input but 1.2×10⁸ scored pairs in one task):
    * fewer blocks than cores caps the core count, and one giant block
    * straggles a whole stage (sf10 measurement: q20's verify stage ran
    * 7+ min on one core with 31 idle).
    *
    * Salting fixes both without changing the result: the `a` side
    * keeps one salted copy per row (`pmod(hash(saltKey), r_b)`), the
    * `b` side is replicated to every salt of its block, so each
    * (block, salt) task scores a 1/r_b slice of the block's pairs and
    * every (a, b) pair appears exactly once. The per-block factor
    * r_b = ceil(n_b² / targetPairsPerTask) is computed from one cheap
    * narrow count over the block columns (b-side replication volume is
    * Σ n_b·r_b rows — trivial next to Σ n_b² pairs whenever r_b ≪ n_b).
    *
    * `a`/`b` must both carry `blockCols`; `saltKeyA` names any
    * well-distributed `a` column (a doc/vec id). Returns the inner
    * join of `a` and `b` on `blockCols`, exactly.
    *
    * `shuffleHashBuild` hints the replicated `b` side as a shuffle-hash
    * build: when the sides carry wide payload arrays (minhash shingle
    * sets, ~3.6 KB/row), sort-merge must SORT gigabytes of payload per
    * side (measured 243 s / 14 GB spilled on the sf10 band join) while
    * a hash build only buckets them. A hash build CANNOT SPILL, so
    * pass `buildRowBytes` (estimated b-row payload bytes) and the hint
    * is dropped automatically when [[hashBuildFits]] proves the
    * per-partition builds cannot fit the execution pool — sort-merge
    * spills and survives where the hash build would OOM (the round-9
    * spill-rehearsal failure mode). `buildRowBytes = 0` skips the
    * check (caller vouches the build side is slim).
    *
    * `pairBound` / `buildRowsBound`: caller-PROVEN upper bounds on (1)
    * any single block's na·nb pair volume and (2) the total b-side row
    * count. When `0 < pairBound ≤ targetPairsPerTask`, no block can
    * need splitting under ANY data distribution, so the plain-join
    * escape is taken WITHOUT the eager stats job — the measured q41
    * lesson: the pre-pass costs ~0.25 s of fixed job + planning
    * latency per call at gate scale, and an operator invoked three
    * times per query paid it three times for a decision its caller
    * could prove from the corpus row count alone (e.g. banded LSH:
    * each vector contributes ≤ 1 row per bucket per side, so bucket
    * pairs ≤ N² — true even under multi-probe expansion, because a
    * vector's probe variants land in distinct buckets). Bounds that
    * don't prove the escape (or left at -1) fall through to the
    * measured pre-pass, whose cost is amortized at the scales where
    * it matters. Escape correctness is unconditional:
    * join(blockCols) ≡ join(blockCols, salt=0) for any r ≥ 1. */
  def saltedBlockJoin(a: DataFrame, b: DataFrame, blockCols: Seq[String],
      saltKeyA: String, targetPairsPerTask: Long = DefaultTargetPairsPerTask,
      shuffleHashBuild: Boolean = false,
      buildRowBytes: Long = 0L,
      pairBound: Long = -1L,
      buildRowsBound: Long = -1L): DataFrame = {
    if (pairBound > 0L && pairBound <= targetPairsPerTask) {
      val spark = a.sparkSession
      val hashHint = shuffleHashBuild && (buildRowBytes <= 0L ||
        (buildRowsBound > 0L &&
          hashBuildFits(buildRowsBound, buildRowBytes, spark)))
      logDispatch("saltedBlockJoin",
        s"pairBound=$pairBound <= target key=${blockCols.mkString(",")}" +
          (if (shuffleHashBuild && !hashHint)
            " hashBuild=dropped(bound unproven or won't fit)" else "") +
          " -> plain join (bounded escape, no stats job)")
      val bH = if (hashHint) b.hint("shuffle_hash") else b
      return a.join(bH, blockCols)
    }
    // r_b from the block's true pair volume n_a·n_b (== n² for a
    // self-join; an increment-vs-corpus join would undersize its salts
    // from the small increment side alone). Inner join of the two
    // count frames: a block absent from either side produces no pairs.
    // One union-tagged groupBy, not two groupBys + a join: the per-side
    // counts land in the same shuffle (count-if on the side flag), so
    // the whole factors frame costs one exchange — at gate scale the
    // old three-stage shape was 0.59 s of the 2.0 s q71 incremental
    // path, pure fixed job latency. A block absent from either side
    // produces no pairs (na=0 or nb=0 ⇒ filtered, as the inner join
    // of the two count frames did before).
    val slimA = a.select(blockCols.map(col): _*).withColumn("side", lit(1))
    val slimB = b.select(blockCols.map(col): _*).withColumn("side", lit(0))
    val blockCounts = slimA.unionByName(slimB)
      .groupBy(blockCols.map(col): _*)
      .agg(count(when(col("side") === 1, 1)).as("na"),
        count(when(col("side") === 0, 1)).as("nb"))
      .filter(col("na") > 0 && col("nb") > 0)
      .withColumn("r",
        greatest(lit(1L), ceil(col("na") * col("nb") / targetPairsPerTask))
          .cast("int"))
    val factors = blockCounts.select(blockCols.map(col) :+ col("r"): _*)
    // Scalar pre-pass: when NO block exceeds targetPairsPerTask (the
    // gate-scale regime), every r_b is 1 and the salted plan is the
    // plain block join plus pure overhead — a factor broadcast, a salt
    // explode, and a wider join key. Skip it: join(blockCols, salt=0)
    // partitions identically to join(blockCols), so the plans are
    // equivalent, minus the machinery. The pre-pass itself is the same
    // narrow count the factors subtree ran in-plan (trivial at scale,
    // where some r > 1 brings the salted plan back anyway); it shaved
    // the fixed ~0.3-0.5 s the r8 scale rewrites had added to each
    // gate-scale caller (q32 0.63 s, q71 2.93 s in the r8 driver run).
    val stats = blockCounts.agg(coalesce(max(col("r")), lit(1)),
      count(when(col("r") > 1, 1)), count(lit(1)),
      // post-salt build volume: the b side replicates r_b-fold, and a
      // shuffled-hash build holds its whole partition
      coalesce(sum(col("nb") * col("r")), lit(0L))).head
    val (maxR, nSplit, nBlocks, buildRows) =
      (stats.getInt(0), stats.getLong(1), stats.getLong(2), stats.getLong(3))
    val spark = a.sparkSession
    val hashHint = shuffleHashBuild &&
      (buildRowBytes <= 0L || hashBuildFits(buildRows, buildRowBytes, spark))
    logDispatch("saltedBlockJoin",
      s"blocks=$nBlocks split=$nSplit maxR=$maxR key=${blockCols.mkString(",")}" +
        (if (shuffleHashBuild && !hashHint)
          s" hashBuild=dropped(buildRows=$buildRows won't fit; sort-merge spills)"
        else "") +
        (if (maxR <= 1) " -> plain join (escape)" else " -> salted"))
    if (maxR <= 1) {
      val bH = if (hashHint) b.hint("shuffle_hash") else b
      return a.join(bH, blockCols)
    }
    val aS = a.join(broadcast(factors), blockCols)
      .withColumn("salt", pmod(hash(col(saltKeyA)), col("r")))
      .drop("r")
    val bS0 = b.join(broadcast(factors), blockCols)
      .withColumn("salt", explode(sequence(lit(0), col("r") - 1)))
      .drop("r")
    val bS = if (hashHint) bS0.hint("shuffle_hash") else bS0
    aS.join(bS, blockCols :+ "salt").drop("salt")
  }
}
