package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming soak harness — the measured counterpart of the
  * Streaming*Spec parity proofs: throughput (rows/s), STATE-STORE size
  * as the watermark advances, and behavior under a late-data burst at
  * the reference's 5-day boundary (T5,
  * `hadoop/.../JobStatsProcessing.java:51` semantics).
  *
  * Stages (one JSON line each):
  *  - `assembly_soak`: [[graft.streaming.StreamingAssembly]] over
  *    synthesized log-line files. Verifies state rows track OPEN jobs
  *    (completed jobs leave state immediately), drain to ~0 when the
  *    watermark passes lateness, and that a burst arriving 5+ days
  *    late neither grows state nor double-emits.
  *  - `neardup_soak`: [[graft.streaming.StreamingNearDup]] stream
  *    against a static band index — must report ZERO state operators
  *    (the first-shared-band trick replaces stateful dedup).
  *  - `ann_soak`: foreachBatch IVF search of streaming query batches
  *    against a static index (the StreamingAnnSpec shape, at soak
  *    scale).
  *
  * Usage: `sbt "runMain graft.StreamSoak [nJobs] [nDocs] [stageFilter]"`
  * — defaults 200k jobs / 100k docs. Not part of the driver gate;
  * numbers land in STRESS.md.
  */
object StreamSoak {
  def main(args: Array[String]): Unit = {
    val nJobs = if (args.nonEmpty) args(0).toLong else 200000L
    val nDocs = if (args.length > 1) args(1).toLong else 100000L
    val only = if (args.length > 2) args(2) else ""
    val cpus = GraftSession.cores
    implicit val spark: SparkSession =
      GraftSession.builder("graft-streamsoak", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def emit(stage: String, fields: (String, Any)*): Unit =
      println(fields.map { case (k, v) => s""""$k":$v""" }
        .mkString(s"""{"stage":"$stage",""", ",", "}"))

    def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      Option(q.lastProgress).map(_.stateOperators.map(_.numRowsTotal).sum)
        .getOrElse(-1L)
    def stateBytes(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      Option(q.lastProgress).map(_.stateOperators.map(_.memoryUsedBytes).sum)
        .getOrElse(-1L)

    // ---------------- assembly soak -------------------------------- //
    if (only.isEmpty || "assembly_soak".contains(only)) {
      val in = Files.createTempDirectory("soak_asm_in")
      val ckpt = Files.createTempDirectory("soak_asm_ck")
      val nOpen = nJobs / 10 // 10% of jobs never see their final line
      // Realistic epoch base: the late burst must land BELOW the
      // watermark (max event − 5 days), which small toy timestamps can
      // never produce (the watermark would sit at/near epoch 0 and
      // nothing is ever "late"). That miscalibration originally hid
      // the fact that the engine does not watermark-filter
      // flatMapGroupsWithState input at all.
      val baseMs = 1700000000000L
      def jobLines(i: Long, complete: Boolean): Seq[String] = {
        val t = baseMs + i * 13 // event times spread over ~nJobs*13 ms
        val id = s"job_77_$i"
        val tid = f"task_77_${i}_m_000000"
        val att = f"attempt_77_${i}_m_000000_0"
        val open = Seq(
          s"""Job JOBID="$id" JOBNAME="soak" USER="u${i % 1000}" SUBMIT_TIME="$t" .""",
          s"""MapAttempt TASK_TYPE="MAP" TASKID="$tid" TASK_ATTEMPT_ID="$att" START_TIME="${t + 1}" .""")
        if (!complete) open
        else open ++ Seq(
          s"""MapAttempt TASK_TYPE="MAP" TASKID="$tid" TASK_ATTEMPT_ID="$att" TASK_STATUS="SUCCESS" FINISH_TIME="${t + 2}" .""",
          s"""Job JOBID="$id" FINISH_TIME="${t + 3}" JOB_STATUS="SUCCESS" .""")
      }
      // batch 1: every job's lines; the last nOpen jobs stay open
      val b1 = new java.io.PrintWriter(in.resolve("b1.txt").toFile)
      (0L until nJobs).foreach(i =>
        jobLines(i, complete = i < nJobs - nOpen).foreach(b1.println))
      b1.close()

      val stream = spark.readStream.textFile(in.toString)
      val jobs = graft.streaming.StreamingAssembly
        .assembleJobsStream(stream, "soak")
      val q = jobs.writeStream.outputMode("append")
        .format("memory").queryName("soak_assembled")
        .option("checkpointLocation", ckpt.toString).start()
      try {
        val t0 = System.nanoTime()
        q.processAllAvailable()
        val s1 = (System.nanoTime() - t0) / 1e9
        val emitted1 = spark.table("soak_assembled").count()
        val state1 = stateRows(q)
        val bytes1 = stateBytes(q)

        // late burst: genuinely below the watermark (max event − 5
        // days; these are ~6 days older than t0) — must neither grow
        // state nor emit duplicates (T5 boundary)
        val lateTs = baseMs - 6L * 24 * 60 * 60 * 1000
        val b2 = new java.io.PrintWriter(in.resolve("b2_late.txt").toFile)
        (0L until nOpen).foreach { i =>
          b2.println(s"""Job JOBID="job_76_$i" JOBNAME="late" USER="u0" SUBMIT_TIME="$lateTs" .""")
        }
        b2.close()
        q.processAllAvailable()
        val stateLate = stateRows(q)
        val emittedLate = spark.table("soak_assembled").count()
        // watermark push: one far-future line flushes every open tree
        val far = baseMs + nJobs * 13 +
          2 * graft.streaming.StreamingAssembly.DefaultLatenessMs + 10000000L
        Files.write(in.resolve("b3_flush.txt"),
          s"""Job JOBID="job_78_0" JOBNAME="x" USER="u0" SUBMIT_TIME="$far" .""".getBytes)
        q.processAllAvailable()
        val state3 = stateRows(q)
        val emitted3 = spark.table("soak_assembled").count()

        val totalLines = nJobs * 4 - nOpen * 2
        emit("assembly_soak",
          "input_lines" -> totalLines, "sec" -> f"$s1%.2f",
          "lines_per_sec" -> (totalLines / s1).toLong,
          "jobs_emitted_b1" -> emitted1,
          "state_rows_after_b1" -> state1,
          "state_bytes_after_b1" -> bytes1,
          "open_jobs" -> nOpen,
          "state_rows_after_late_burst" -> stateLate,
          "emitted_after_late_burst" -> emittedLate,
          "state_rows_after_flush" -> state3,
          "jobs_emitted_total" -> emitted3)
        // invariants, loudly
        require(emitted1 == nJobs - nOpen, s"b1 emitted $emitted1")
        require(state1 >= nOpen, s"state rows $state1 < open jobs $nOpen")
        require(stateLate <= state1 + 1,
          s"late burst grew state: $state1 -> $stateLate")
        require(emittedLate == emitted1,
          s"late burst double-emitted: $emitted1 -> $emittedLate")
        require(emitted3 >= nJobs, s"flush lost jobs: $emitted3 < $nJobs")
        require(state3 <= 1, s"state not drained after flush: $state3")
      } finally q.stop()
    }

    // ---------------- skewed assembly soak ------------------------- //
    // One jobId carries 40% of the fragment mass (a 100k-attempt
    // mega-job at default scale), its fragments spread across two
    // micro-batches, finalized in a third. The claims under test:
    // state ROWS stay O(open jobs) — never O(fragment mass); the hot
    // tree is carried across batches without loss (the emitted job
    // has every attempt) and emitted exactly once; and per-batch
    // throughput doesn't collapse under the hot group (the
    // per-invocation buffer merge in StreamingAssembly.assembleFn —
    // the prior per-fragment Seq :+ fold was O(mass²) on exactly
    // this shape).
    if (only.isEmpty || "assembly_skew".contains(only)) {
      val in = Files.createTempDirectory("soak_skw_in")
      val ckpt = Files.createTempDirectory("soak_skw_ck")
      val hotAttempts = (nJobs / 2).toInt // 100k at default scale
      // hot lines = 2 + 2H; 40% of mass -> uniform lines = 1.5 * hot,
      // at 4 lines per uniform job
      val nUniform = (3L * (2L * hotAttempts + 2) / 8).toInt
      val baseMs = 1700000000000L
      val hotId = "job_88_0"
      def uniformJob(i: Long): Seq[String] = {
        val t = baseMs + i * 13
        val id = s"job_87_$i"
        val tid = f"task_87_${i}_m_000000"
        val att = f"attempt_87_${i}_m_000000_0"
        Seq(
          s"""Job JOBID="$id" JOBNAME="soak" USER="u${i % 1000}" SUBMIT_TIME="$t" .""",
          s"""MapAttempt TASK_TYPE="MAP" TASKID="$tid" TASK_ATTEMPT_ID="$att" START_TIME="${t + 1}" .""",
          s"""MapAttempt TASK_TYPE="MAP" TASKID="$tid" TASK_ATTEMPT_ID="$att" TASK_STATUS="SUCCESS" FINISH_TIME="${t + 2}" .""",
          s"""Job JOBID="$id" FINISH_TIME="${t + 3}" JOB_STATUS="SUCCESS" .""")
      }
      def hotAttempt(a: Int): Seq[String] = {
        val t = baseMs + 10 + a
        val tid = f"task_88_0_m_$a%06d"
        val att = f"attempt_88_0_m_${a}%06d_0"
        Seq(
          s"""MapAttempt TASK_TYPE="MAP" TASKID="$tid" TASK_ATTEMPT_ID="$att" START_TIME="$t" .""",
          s"""MapAttempt TASK_TYPE="MAP" TASKID="$tid" TASK_ATTEMPT_ID="$att" TASK_STATUS="SUCCESS" FINISH_TIME="${t + 1}" COUNTERS="[(CPU_MILLISECONDS)(cpu)(1000)]" .""")
      }
      // write OUTSIDE the watched dir, then atomic-move in: the
      // running query's file source lists new files per trigger, and
      // a 250k-line file written in place gets discovered (and
      // consumed) half-written — b2 silently lost ~30% of its lines
      // on the first full-scale run
      def writeBatch(name: String, lines: Iterator[String]): Long = {
        val tmp = Files.createTempFile("soak_skw_stage", ".txt")
        val pw = new java.io.PrintWriter(tmp.toFile)
        var n = 0L
        lines.foreach { l => pw.println(l); n += 1 }
        pw.close()
        Files.move(tmp, in.resolve(name),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        n
      }
      // b1: hot submit + first half of its attempts + half the uniform
      val b1n = writeBatch("b1.txt",
        Iterator.single(s"""Job JOBID="$hotId" JOBNAME="mega" USER="u0" SUBMIT_TIME="${baseMs + 5}" .""") ++
          (0 until hotAttempts / 2).iterator.flatMap(hotAttempt) ++
          (0L until nUniform / 2).iterator.flatMap(uniformJob))
      val stream = spark.readStream.textFile(in.toString)
      val jobs = graft.streaming.StreamingAssembly
        .assembleJobsStream(stream, "soak")
      val q = jobs.writeStream.outputMode("append")
        .format("memory").queryName("soak_skew")
        .option("checkpointLocation", ckpt.toString).start()
      try {
        val t1 = System.nanoTime()
        q.processAllAvailable()
        val s1 = (System.nanoTime() - t1) / 1e9
        val emitted1 = spark.table("soak_skew").count()
        val (rows1, bytes1) = (stateRows(q), stateBytes(q))

        // b2: rest of the hot attempts + rest of the uniform jobs
        val b2n = writeBatch("b2.txt",
          (hotAttempts / 2 until hotAttempts).iterator.flatMap(hotAttempt) ++
            ((nUniform / 2).toLong until nUniform.toLong).iterator.flatMap(uniformJob))
        val t2 = System.nanoTime()
        q.processAllAvailable()
        val s2 = (System.nanoTime() - t2) / 1e9
        val emitted2 = spark.table("soak_skew").count()
        val (rows2, bytes2) = (stateRows(q), stateBytes(q))

        // b3: the hot final line — the whole tree must flush at once
        val b3n = writeBatch("b3.txt", Iterator.single(
          s"""Job JOBID="$hotId" FINISH_TIME="${baseMs + 20 + hotAttempts}" JOB_STATUS="SUCCESS" ."""))
        val t3 = System.nanoTime()
        q.processAllAvailable()
        val s3 = (System.nanoTime() - t3) / 1e9
        val (rows3, bytes3) = (stateRows(q), stateBytes(q))
        val hot = spark.table("soak_skew")
          .filter(col("jobId") === hotId)
        val hotEmits = hot.count()
        val hotAtts = hot.selectExpr(
          "aggregate(tasks, 0, (acc, t) -> acc + size(t.attempts))")
          .head().getInt(0)

        emit("assembly_skew",
          "hot_attempts" -> hotAttempts, "uniform_jobs" -> nUniform,
          "hot_mass_pct" -> (100L * (2L * hotAttempts + 2) /
            (2L * hotAttempts + 2 + 4L * nUniform)),
          "b1_lines" -> b1n, "b1_sec" -> f"$s1%.2f",
          "b1_lines_per_sec" -> (b1n / s1).toLong,
          "b2_lines" -> b2n, "b2_sec" -> f"$s2%.2f",
          "b2_lines_per_sec" -> (b2n / s2).toLong,
          "b3_sec" -> f"$s3%.2f",
          "state_rows_b1" -> rows1, "state_bytes_b1" -> bytes1,
          "state_rows_b2" -> rows2, "state_bytes_b2" -> bytes2,
          "state_rows_b3" -> rows3, "state_bytes_b3" -> bytes3,
          "hot_emits" -> hotEmits, "hot_attempts_assembled" -> hotAtts)
        // invariants, loudly
        require(emitted1 == nUniform / 2, s"b1 emitted $emitted1")
        require(rows1 <= 2, s"state rows O(open jobs) violated: $rows1")
        require(rows2 <= 2, s"state rows O(open jobs) violated: $rows2")
        require(emitted2 == nUniform.toLong, s"b2 emitted $emitted2")
        require(bytes2 > bytes1,
          s"hot tree should grow state bytes: $bytes1 -> $bytes2")
        require(hotEmits == 1L, s"hot job emitted $hotEmits times")
        require(hotAtts == hotAttempts,
          s"hot job lost fragments: $hotAtts of $hotAttempts attempts")
        require(rows3 == 0L, s"state not drained after hot final: $rows3")
      } finally q.stop()
    }

    // Vocabulary must be LARGE (64k hashed words): a tiny shared
    // vocab makes every doc-pair's token jaccard ~0.5 and the soak
    // quadratic by data design (the STRESS.md token-jaccard
    // degeneracy). With 64k words, unrelated docs share ~0 tokens;
    // the id-overlap twins (identical text by construction) provide
    // the guaranteed matches.
    def synthDocs(from: Long, until: Long) = spark.range(from, until)
      .withColumn("doc_id", col("id"))
      .withColumn("text",
        concat_ws(" ", transform(sequence(lit(0), lit(79)),
          i => concat(lit("w"),
            pmod(xxhash64(col("id") * 131 + i * 7, i), lit(65536L))))))
      .select("doc_id", "text")

    // ---------------- near-dup soak -------------------------------- //
    if (only.isEmpty || "neardup_soak".contains(only)) {
      val corpus = synthDocs(0, nDocs)
      val idx = graft.streaming.StreamingNearDup.indexSignatures(corpus)
        .cache()
      idx.count() // build once, like a persisted band index

      val nStream = nDocs / 10
      val in = Files.createTempDirectory("soak_nd_in")
      val ckpt = Files.createTempDirectory("soak_nd_ck")
      // stream docs overlap corpus ids => guaranteed band collisions
      synthDocs(nDocs / 2, nDocs / 2 + nStream)
        .write.parquet(in.toString + "/b1")
      val stream = spark.readStream.schema(corpus.schema)
        .option("path", in.toString + "/*").format("parquet").load()
      val matches = graft.streaming.StreamingNearDup
        .nearDupAgainstIndex(stream, idx, threshold = 0.5)
      val q = matches.writeStream.outputMode("append")
        .format("memory").queryName("soak_neardup")
        .option("checkpointLocation", ckpt.toString).start()
      try {
        val t0 = System.nanoTime()
        q.processAllAvailable()
        val s = (System.nanoTime() - t0) / 1e9
        val out = spark.table("soak_neardup").count()
        val nStateOps = Option(q.lastProgress)
          .map(_.stateOperators.length).getOrElse(-1)
        emit("neardup_soak",
          "stream_docs" -> nStream, "corpus_docs" -> nDocs,
          "sec" -> f"$s%.2f", "docs_per_sec" -> (nStream / s).toLong,
          "matches" -> out, "state_operators" -> nStateOps)
        require(nStateOps == 0,
          s"near-dup stream grew a state store: $nStateOps operators")
        require(out >= nStream,
          s"self-matches missing: $out < $nStream") // each doc matches its corpus twin
      } finally q.stop()
      idx.unpersist()
    }

    // ---------------- skewed soaks (Zipfian dup families) ---------- //
    // The batch scale campaign proved skew — not volume — is where
    // dedup plans die (STRESS.md: the sf10skew shuffle-hash OOM). The
    // uniform soaks above never exercise that: synthDocs makes every
    // band bucket ~unit-sized. These stages re-run the streaming dedup
    // surface against the campaign's corpus shape (gen_skew.py
    // semantics, in-Scala): near-duplicate FAMILIES with Zipf sizes
    // size_k = C/k^1.1, the largest ~25% of the skewed mass, members
    // mutating ~5% of their family template's tokens (above the 0.5
    // jaccard threshold: P(5-gram shingle shared) ≈ 0.95^10 ≈ 0.60).
    if (only.isEmpty || "skew_neardup_soak".contains(only) ||
        "skew_dedup_soak".contains(only)) {

      def zipfSizes(total: Long, s: Double): Seq[Long] = {
        val c = total / 4.0 // largest family ~ a quarter of skewed mass
        val out = scala.collection.mutable.ListBuffer.empty[Long]
        var k = 1; var acc = 0L
        while (acc < total) {
          val remaining = total - acc
          val sz = math.min(math.max(3L, (c / math.pow(k, s)).toLong),
            remaining)
          out += sz; acc += sz; k += 1
        }
        out.toSeq
      }

      /** (fam, member) rows for one generation of every family.
        * memberBase offsets member ids so a later generation (the
        * streaming increment) never reuses a corpus member id. */
      def familyMembers(sizes: Seq[Long], scale: Double,
          memberBase: Long): DataFrame =
        sizes.zipWithIndex
          .map { case (sz, fam) =>
            (fam.toLong, math.max(3L, (sz * scale).toLong)) }
          .toDF("fam", "sz")
          .select(col("fam"),
            explode(sequence(lit(memberBase),
              lit(memberBase) + col("sz") - 1)).as("member"))

      /** Member text: 80 tokens from the family template (64k hashed
        * vocab keyed by fam — families are mutually dissimilar), each
        * position mutated to a member-unique token with p=5%. */
      def familyText(fam: org.apache.spark.sql.Column,
          member: org.apache.spark.sql.Column) =
        concat_ws(" ", transform(sequence(lit(0), lit(79)), p => {
          val tpl = concat(lit("w"),
            pmod(xxhash64(fam * 1315423911L + p * 7, p), lit(65536L)))
          val mut = concat(lit("q"),
            pmod(xxhash64(fam, member, p), lit(16777216L)))
          when(pmod(xxhash64(fam, member, p, lit(42)), lit(100)) < 5, mut)
            .otherwise(tpl)
        }))

      val frac = 0.15
      val target = (nDocs * frac).toLong
      val sizes = zipfSizes(target, 1.1)

      if (only.isEmpty || "skew_neardup_soak".contains(only)) {
        // corpus: uniform prefix + one generation of every family
        val uniform = synthDocs(0, nDocs - target)
        val famDocs = familyMembers(sizes, 1.0, 0L)
          .withColumn("doc_id",
            lit(nDocs - target) +
              row_number().over(org.apache.spark.sql.expressions.Window
                .orderBy("fam", "member")) - 1)
          .select(col("doc_id"), familyText(col("fam"), col("member")).as("text"))
        val corpus = uniform.unionByName(famDocs)
        val idx = graft.streaming.StreamingNearDup.indexSignatures(corpus)
          .cache()
        idx.count()

        // increment: a NEW generation of the same families, scaled to
        // 10% — family 1 keeps its 25% mass share in the increment, so
        // the stream-static band join sees the campaign's worst bucket
        val incFam = familyMembers(sizes, 0.1, 1000000L)
          .withColumn("doc_id",
            lit(10000000L) +
              row_number().over(org.apache.spark.sql.expressions.Window
                .orderBy("fam", "member")))
          .select(col("doc_id"), familyText(col("fam"), col("member")).as("text"))
        val nInc = incFam.count()
        val in = Files.createTempDirectory("soak_sknd_in")
        val ckpt = Files.createTempDirectory("soak_sknd_ck")
        incFam.write.parquet(in.toString + "/b1")
        val stream = spark.readStream.schema(corpus.schema)
          .option("path", in.toString + "/*").format("parquet").load()
        // noop sink + observe(): the match volume here is Zipf-head
        // sized (~10⁶ rows/batch) — a memory sink would hold it all on
        // the driver; CollectMetrics counts it in-plan instead
        val matches = graft.streaming.StreamingNearDup
          .nearDupAgainstIndex(stream, idx, threshold = 0.5)
          .observe("skew_nd", count(lit(1)).as("n"))
        val q = matches.writeStream.outputMode("append")
          .format("noop")
          .option("checkpointLocation", ckpt.toString).start()
        try {
          val t0 = System.nanoTime()
          q.processAllAvailable()
          val s = (System.nanoTime() - t0) / 1e9
          val out = q.recentProgress.flatMap(p =>
            Option(p.observedMetrics.get("skew_nd")).map(_.getLong(0))).sum
          val nStateOps = Option(q.lastProgress)
            .map(_.stateOperators.length).getOrElse(-1)
          emit("skew_neardup_soak",
            "corpus_docs" -> nDocs, "families" -> sizes.length,
            "largest_family" -> sizes.head, "stream_docs" -> nInc,
            "sec" -> f"$s%.2f", "docs_per_sec" -> (nInc / s).toLong,
            "matches" -> out, "state_operators" -> nStateOps)
          require(nStateOps == 0,
            s"skewed near-dup stream grew a state store: $nStateOps")
          // every increment member has a full corpus generation of its
          // family; family 1 alone guarantees ≥ its increment size
          require(out >= nInc,
            s"family matches missing: $out < $nInc")
        } finally q.stop()
        idx.unpersist()
      }

      if (only.isEmpty || "skew_dedup_soak".contains(only)) {
        // exact-dedup stream where ONE content hash carries 25% of the
        // mass (the Zipfian head as ingest sees it: a boilerplate page
        // re-crawled constantly). State must stay O(distinct-in-window)
        // — the hot hash is ONE state row no matter its multiplicity.
        val nStream = nDocs
        val hot = (nStream / 4).toLong
        val in = Files.createTempDirectory("soak_skdd_in")
        val ckpt = Files.createTempDirectory("soak_skdd_ck")
        val baseMs = 1700000000000L
        val feed = spark.range(nStream)
          .withColumn("doc_id", col("id"))
          .withColumn("text",
            when(col("id") < hot, lit("the boilerplate license page"))
              .otherwise(concat(lit("unique doc "), col("id"))))
          .withColumn("ts",
            timestamp_millis(lit(baseMs) + col("id") * 3))
          .select("doc_id", "text", "ts")
        feed.write.parquet(in.toString + "/b1")
        val stream = spark.readStream.schema(feed.schema)
          .option("path", in.toString + "/*").format("parquet").load()
        val survivors = graft.streaming.StreamingDedup
          .dedupByContent(stream, "ts", latenessMs = 3600000L)
          .observe("skew_dd", count(lit(1)).as("n"))
        val q = survivors.writeStream.outputMode("append")
          .format("noop")
          .option("checkpointLocation", ckpt.toString).start()
        try {
          val t0 = System.nanoTime()
          q.processAllAvailable()
          val s = (System.nanoTime() - t0) / 1e9
          val out = q.recentProgress.flatMap(p =>
            Option(p.observedMetrics.get("skew_dd")).map(_.getLong(0))).sum
          val state = stateRows(q)
          val bytes = stateBytes(q)
          val distinct = nStream - hot + 1
          emit("skew_dedup_soak",
            "stream_docs" -> nStream, "hot_copies" -> hot,
            "distinct_hashes" -> distinct,
            "sec" -> f"$s%.2f", "docs_per_sec" -> (nStream / s).toLong,
            "survivors" -> out, "state_rows" -> state,
            "state_bytes" -> bytes)
          require(out == distinct,
            s"survivors $out != distinct $distinct")
          // the hot hash must be ONE row: state O(distinct), not O(rows)
          require(state <= distinct + 1,
            s"state rows $state exceed distinct hashes $distinct")
        } finally q.stop()
      }
    }

    // ---------------- ann soak ------------------------------------- //
    if (only.isEmpty || "ann_soak".contains(only)) {
      val nVecs = math.max(nDocs, 50000L)
      val emb = spark.range(nVecs)
        .withColumn("vec_id", col("id"))
        .withColumn("embedding",
          transform(sequence(lit(0), lit(63)), i =>
            ((pmod(xxhash64(col("id"), i), lit(2000L)) - 1000L) / 1000.0)
              .cast("float")))
        .select("vec_id", "embedding")
      val cents = graft.operators.IvfCentroids.forCorpusSize(nVecs)
      val pinned = scala.collection.mutable.ListBuffer.empty[DataFrame]
      val staticIdx = graft.operators.Similarity
        .buildIvfIndex(emb, cents, nProbe = 2, pinned += _)

      val nQueries = 5000L
      val in = Files.createTempDirectory("soak_ann_in")
      val ckpt = Files.createTempDirectory("soak_ann_ck")
      emb.filter(col("vec_id") < nQueries).write.parquet(in.toString + "/b1")
      val counted = new java.util.concurrent.atomic.AtomicLong()
      val stream = spark.readStream.schema(emb.schema)
        .option("path", in.toString + "/*").format("parquet").load()
      val q = stream.writeStream
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            val bp = scala.collection.mutable.ListBuffer.empty[DataFrame]
            val res = graft.operators.Similarity.ivfSearchAgainst(
              graft.operators.Similarity.buildIvfIndex(batch, cents, 2, bp += _),
              staticIdx, nProbe = 2, k = 3).count()
            counted.addAndGet(res)
            bp.foreach(_.unpersist())
          }
          ()
        }.start()
      try {
        val t0 = System.nanoTime()
        q.processAllAvailable()
        val s = (System.nanoTime() - t0) / 1e9
        emit("ann_soak",
          "corpus_vectors" -> nVecs, "query_vectors" -> nQueries,
          "sec" -> f"$s%.2f", "queries_per_sec" -> (nQueries / s).toLong,
          "result_rows" -> counted.get())
        require(counted.get() >= nQueries, "missing top-k rows")
      } finally q.stop()
      pinned.foreach(_.unpersist())
    }

    // ---------------- media soak ----------------------------------- //
    // N micro-batches of media payloads against the persisted
    // PRE-EXPLODED postings index
    // ([[graft.operators.Multimodal.writeFramePostingsBucketed]]):
    // zero state operators (the min-shared-hash trick replaces
    // stateful dedup, as in neardup_soak), per-batch wall FLAT as
    // batches accumulate and heap stable — the corpus side must stay
    // an exchange-free bucketed scan, so batch cost tracks the batch,
    // not the corpus or the batch count.
    if (only.isEmpty || "media_soak".contains(only)) {
      // the shared q98 synthesizer — the soak's guaranteed-match
      // invariant (same text + parity ⇒ same container ⇒ exact
      // frame-set dup) depends on one implementation, not a copy
      def mediaOf(docs: DataFrame): DataFrame =
        graft.operators.Multimodal.mixedMediaOf(docs)
      val nMedia = math.max(nDocs / 4, 20000L)
      val corpus = mediaOf(synthDocs(0, nMedia))
      val idxDir = Files.createTempDirectory("soak_media_idx").toString
      val tIdx = System.nanoTime()
      graft.operators.Multimodal.writeFramePostingsBucketed(
        graft.operators.Multimodal.mediaFramePHashes(corpus, stride = 1),
        "soak_media_postings", buckets = cpus,
        path = Some(s"$idxDir/soak_media_postings"))
      val idxSec = (System.nanoTime() - tIdx) / 1e9
      val postings = spark.table("soak_media_postings")
      emit("media_soak_index",
        "corpus_docs" -> nMedia, "index_rows" -> postings.count(),
        "sec" -> f"$idxSec%.2f")

      val in = Files.createTempDirectory("soak_media_in")
      val ckpt = Files.createTempDirectory("soak_media_ck")
      val stream = spark.readStream.schema(corpus.schema)
        .option("path", in.toString + "/*").format("parquet").load()
      // noop sink + observe(): match volume is counted in-plan
      val matches = graft.streaming.StreamingMediaNearDup
        .mediaNearDupAgainstIndex(stream, postings, tau = 0.5)
        .observe("media_soak_m", count(lit(1)).as("n"))
      val q = matches.writeStream.outputMode("append")
        .format("noop")
        .option("checkpointLocation", ckpt.toString).start()
      val nBatches = 6
      val batchDocs = math.max(nMedia / 50, 200L)
      val batchSecs = scala.collection.mutable.ListBuffer.empty[Double]
      // one ingest window may span several micro-batches (the file
      // source can list a multi-part parquet write across two
      // triggers), so matches are summed over every progress entry not
      // yet accounted — lastProgress alone under-reports on a split
      val seenBatchIds = scala.collection.mutable.Set.empty[Long]
      try {
        (1 to nBatches).foreach { b =>
          // each batch re-ingests a FRESH corpus slice under new ids
          // (same parity → same container → exact frame-set dup):
          // guaranteed matches, constant batch size
          mediaOf(synthDocs((b - 1) * batchDocs, b.toLong * batchDocs)
              .withColumn("doc_id", col("doc_id") + 50000000L))
            .write.parquet(s"$in/b$b")
          val t0 = System.nanoTime()
          q.processAllAvailable()
          val s = (System.nanoTime() - t0) / 1e9
          batchSecs += s
          val fresh = q.recentProgress
            .filter(p => !seenBatchIds.contains(p.batchId))
          fresh.foreach(p => seenBatchIds += p.batchId)
          val nM = fresh
            .flatMap(p => Option(p.observedMetrics.get("media_soak_m")))
            .map(_.getAs[Long]("n")).sum
          val nStateOps = Option(q.lastProgress)
            .map(_.stateOperators.length).getOrElse(-1)
          val heapMb = (Runtime.getRuntime.totalMemory() -
            Runtime.getRuntime.freeMemory()) / 1048576
          emit("media_soak_batch",
            "batch" -> b, "docs" -> batchDocs, "matches" -> nM,
            "sec" -> f"$s%.2f", "state_operators" -> nStateOps,
            "heap_mb" -> heapMb)
          require(nStateOps == 0,
            s"media stream grew a state store: $nStateOps operators")
          require(nM >= batchDocs,
            s"batch $b: re-ingested dups missing from matches: $nM")
        }
        // flatness: later batches must not pay for accumulated history
        // (skip batch 1 — codegen/scan warmup)
        val steady = batchSecs.drop(1)
        emit("media_soak",
          "corpus_docs" -> nMedia, "batches" -> nBatches,
          "batch_docs" -> batchDocs,
          "first_steady_sec" -> f"${steady.head}%.2f",
          "last_sec" -> f"${steady.last}%.2f",
          "max_over_min" -> f"${steady.max / steady.min}%.2f")
      } finally q.stop()
    }

    // ---------------- embedding soak ------------------------------- //
    // N micro-batches of vectors against the static corpus embedding
    // rel — BOTH streaming entries: the dense block join
    // (embedNearDupAgainstIndex, label-bucketed corpus) and the
    // cell-routed one (embedNearDupAgainstCellIndex, (cell,blk)-
    // bucketed home-cell rel). Invariants per leg: zero state
    // operators, matches exactly-once per batch (each batch re-ingests
    // a corpus slice's vectors under fresh ids — identical embedding ⇒
    // cosine 1.0 twin; xxhash64-derived vectors keep every OTHER
    // cosine far below the threshold, and the routed leg's
    // radius-exact probing provably reaches the twin's home cell, so
    // both legs match the same set), per-batch wall FLAT as batches
    // accumulate, heap stable.
    if (only.isEmpty || "embed_soak".contains(only)) {
      import graft.operators.{Dedup, IvfCentroids}
      val cents = IvfCentroids.Centroids16 // 64-dim pinned quantizer
      val tauE = 0.8
      // deterministic pseudo-random 64-dim vectors in [-1,1]: distinct
      // ids give |cosine| ≪ 0.8 (xxhash64 per (id, dim) — no LCG
      // period structure that could duplicate vectors across ids)
      def synthVecs(from: Long, until: Long): DataFrame =
        spark.range(from, until).select(
          col("id").as("vec_id"),
          pmod(col("id"), lit(16L)).as("label"),
          transform(sequence(lit(0), lit(63)),
            j => ((pmod(xxhash64(col("id"), j), lit(2001L)) - 1000L)
              .cast("double") / 1000.0).cast("float")).as("embedding"))
      val nVec = math.max(nDocs / 2, 40000L)
      val corpus = synthVecs(0, nVec).cache()
      corpus.count()
      val cellDir = Files.createTempDirectory("soak_embed_cell").toString
      val tIdx = System.nanoTime()
      Dedup.writeEmbedCellRelBucketed(corpus, "label", cents,
        "soak_embed_cells", cpus, Some(s"$cellDir/soak_embed_cells"))
      val cellIdxSec = (System.nanoTime() - tIdx) / 1e9
      emit("embed_soak_index", "corpus_vecs" -> nVec,
        "cells" -> cents.size, "sec" -> f"$cellIdxSec%.2f")

      val nBatches = 6
      val batchVecs = math.max(nVec / 50, 200L)
      def soakLeg(leg: String,
          plan: DataFrame => DataFrame): Unit = {
        val in = Files.createTempDirectory(s"soak_embed_in_$leg")
        val ckpt = Files.createTempDirectory(s"soak_embed_ck_$leg")
        val stream = spark.readStream.schema(corpus.schema)
          .option("path", in.toString + "/*").format("parquet").load()
        val q = plan(stream)
          .observe(s"embed_soak_$leg", count(lit(1)).as("n"))
          .writeStream.outputMode("append").format("noop")
          .option("checkpointLocation", ckpt.toString).start()
        val batchSecs = scala.collection.mutable.ListBuffer.empty[Double]
        val seen = scala.collection.mutable.Set.empty[Long]
        try {
          (1 to nBatches).foreach { b =>
            synthVecs((b - 1) * batchVecs, b.toLong * batchVecs)
              .withColumn("vec_id", col("vec_id") + 50000000L)
              .write.parquet(s"$in/b$b")
            val t0 = System.nanoTime()
            q.processAllAvailable()
            val s = (System.nanoTime() - t0) / 1e9
            batchSecs += s
            val fresh = q.recentProgress.filter(p => !seen.contains(p.batchId))
            fresh.foreach(p => seen += p.batchId)
            val nM = fresh
              .flatMap(p => Option(p.observedMetrics.get(s"embed_soak_$leg")))
              .map(_.getAs[Long]("n")).sum
            val nStateOps = Option(q.lastProgress)
              .map(_.stateOperators.length).getOrElse(-1)
            val heapMb = (Runtime.getRuntime.totalMemory() -
              Runtime.getRuntime.freeMemory()) / 1048576
            emit(s"embed_soak_${leg}_batch",
              "batch" -> b, "vecs" -> batchVecs, "matches" -> nM,
              "sec" -> f"$s%.2f", "state_operators" -> nStateOps,
              "heap_mb" -> heapMb)
            require(nStateOps == 0,
              s"embed $leg stream grew a state store: $nStateOps operators")
            require(nM == batchVecs,
              s"embed $leg batch $b: expected exactly-once twin matches " +
                s"($batchVecs), got $nM")
          }
          val steady = batchSecs.drop(1)
          emit(s"embed_soak_$leg",
            "corpus_vecs" -> nVec, "batches" -> nBatches,
            "batch_vecs" -> batchVecs,
            "first_steady_sec" -> f"${steady.head}%.2f",
            "last_sec" -> f"${steady.last}%.2f",
            "max_over_min" -> f"${steady.max / steady.min}%.2f")
        } finally q.stop()
      }
      soakLeg("dense", st => graft.streaming.StreamingEmbedNearDup
        .embedNearDupAgainstIndex(st, corpus, "label", tauE))
      soakLeg("routed", st => graft.streaming.StreamingEmbedNearDup
        .embedNearDupAgainstCellIndex(st, spark.table("soak_embed_cells"),
          cents, "label", tauE))
      corpus.unpersist()
    }

    // ---------------- embed staleness drill ------------------------ //
    // The operational story the versioned cell-rel rebuild + quantizer
    // binding enable, proven under a LIVE stream: a nightly rebuild
    // (new corpus, NEW fit) swaps the serving view mid-soak; the
    // running routed stream keeps its plan-build-resolved version —
    // kept on disk by the blue/green writer — to completion (detector:
    // v2 carries offset vec_ids, so max(vec_b) would jump on a silent
    // switch), and a RESTARTED stream resolves v(N+1), refusing last
    // night's centroids by fingerprint instead of silently losing
    // pairs.
    if (only.isEmpty || "embed_staleness".contains(only)) {
      import graft.operators.{Dedup, IvfCentroids}
      val cents1 = IvfCentroids.Centroids16
      val cents2 = cents1.map { case (i, c) => (i, c.map(_ + 1e-6)) }
      val tauE = 0.8
      def synthVecs(from: Long, until: Long): DataFrame =
        spark.range(from, until).select(
          col("id").as("vec_id"),
          pmod(col("id"), lit(16L)).as("label"),
          transform(sequence(lit(0), lit(63)),
            j => ((pmod(xxhash64(col("id"), j), lit(2001L)) - 1000L)
              .cast("double") / 1000.0).cast("float")).as("embedding"))
      val nVec = math.max(nDocs / 2, 40000L)
      val corpus1 = synthVecs(0, nVec).cache()
      corpus1.count()
      val corpus2 = corpus1.withColumn("vec_id", col("vec_id") + 900000000L)
      val relDir = Files.createTempDirectory("soak_embed_bg").toString
      val tV1 = System.nanoTime()
      Dedup.writeEmbedCellRelBucketedVersioned(corpus1, "label", cents1,
        "soak_embed_bg", cpus, Some(s"$relDir/rel"))
      emit("embed_staleness_v1", "corpus_vecs" -> nVec,
        "sec" -> f"${(System.nanoTime() - tV1) / 1e9}%.2f")

      val nBatches = 4
      val batchVecs = math.max(nVec / 50, 200L)
      val in = Files.createTempDirectory("soak_embed_bg_in")
      val ckpt = Files.createTempDirectory("soak_embed_bg_ck")
      val stream = spark.readStream.schema(corpus1.schema)
        .option("path", in.toString + "/*").format("parquet").load()
      val q = graft.streaming.StreamingEmbedNearDup
        .embedNearDupAgainstCellIndex(stream,
          spark.table("soak_embed_bg"), cents1, "label", tauE)
        .observe("embed_bg", count(lit(1)).as("n"),
          max(col("vec_b")).as("max_b"))
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", ckpt.toString).start()
      try {
        val seen = scala.collection.mutable.Set.empty[Long]
        (1 to nBatches).foreach { b =>
          synthVecs((b - 1) * batchVecs, b.toLong * batchVecs)
            .withColumn("vec_id", col("vec_id") + 50000000L)
            .write.parquet(s"$in/b$b")
          val t0 = System.nanoTime()
          q.processAllAvailable()
          val s = (System.nanoTime() - t0) / 1e9
          val fresh = q.recentProgress.filter(p => !seen.contains(p.batchId))
          fresh.foreach(p => seen += p.batchId)
          val metrics = fresh
            .flatMap(p => Option(p.observedMetrics.get("embed_bg")))
          val nM = metrics.map(_.getAs[Long]("n")).sum
          val maxB = metrics.map(_.getAs[Long]("max_b")).foldLeft(-1L)(_ max _)
          emit("embed_staleness_batch", "batch" -> b, "matches" -> nM,
            "max_vec_b" -> maxB, "sec" -> f"$s%.2f")
          require(nM == batchVecs,
            s"staleness drill batch $b: expected $batchVecs twin " +
              s"matches, got $nM")
          require(maxB < 900000000L,
            s"staleness drill batch $b: stream silently switched to the " +
              s"rebuilt rel (matched vec_b=$maxB)")
          if (b == 2) {
            // NIGHTLY REBUILD under the live stream: new corpus ids,
            // new quantizer fit → v2 swap; v1 must stay on disk for us
            val tV2 = System.nanoTime()
            val v2 = Dedup.writeEmbedCellRelBucketedVersioned(corpus2,
              "label", cents2, "soak_embed_bg", cpus,
              Some(s"$relDir/rel"))
            require(spark.catalog.tableExists("soak_embed_bg_v1"),
              "v1 must be kept for the in-flight stream")
            emit("embed_staleness_rebuild", "version" -> v2,
              "sec" -> f"${(System.nanoTime() - tV2) / 1e9}%.2f")
          }
        }
      } finally q.stop()
      // restart drill: the serving name now resolves v2 — last
      // night's centroids are refused by fingerprint; the current fit
      // serves v2 (offset ids prove it)
      val freshStatic = synthVecs(0, batchVecs)
        .withColumn("vec_id", col("vec_id") + 50000000L)
      val refused =
        try {
          graft.streaming.StreamingEmbedNearDup.embedNearDupAgainstCellIndex(
            freshStatic, spark.table("soak_embed_bg"), cents1,
            "label", tauE).count()
          false
        } catch {
          case e: IllegalArgumentException =>
            e.getMessage.contains("quantizer mismatch")
        }
      val restartedMinB = graft.streaming.StreamingEmbedNearDup
        .embedNearDupAgainstCellIndex(freshStatic,
          spark.table("soak_embed_bg"), cents2, "label", tauE)
        .agg(min(col("vec_b"))).head.getLong(0)
      emit("embed_staleness_restart",
        "stale_centroids_refused" -> refused,
        "restarted_min_vec_b" -> restartedMinB)
      require(refused, "stale centroids must be refused on restart")
      require(restartedMinB >= 900000000L,
        "restarted stream must serve the rebuilt v2 rel")
      corpus1.unpersist()
      spark.sql("DROP VIEW IF EXISTS soak_embed_bg")
      Seq("v1", "v2").foreach(v =>
        spark.sql(s"DROP TABLE IF EXISTS soak_embed_bg_$v"))
    }

    spark.stop()
  }
}
