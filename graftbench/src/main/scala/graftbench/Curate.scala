package graftbench

import graft.app.CurateCorpus
import graft.operators.{Corpus, Dedup}
import java.nio.file.Path
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A seeded corpus with planted structure, and what the generator
  * knows about it. */
final case class CorpusFacts(docs: Int, distinctTexts: Int, familySizes: Seq[Int],
    exactCopies: Int, plantedProbes: Int)

/** Documents pass the quality rules by construction (40-120 words of
  * 3-8 letters, two stopwords, mostly distinct words). The corpus holds
  * Zipf-sized near-duplicate families (a base text and members that
  * each change one word), exact copies of singleton texts, and a probe
  * set of which `plantedProbes` quote a 15-word window of a distinct
  * singleton document. */
object CorpusGen {
  val Docs = 3000
  val Families = Seq(900, 450, 300, 225, 180)
  val ExactCopies = 150
  val PlantedProbes = 30
  val CleanProbes = 30
  private val Langs = Seq("en", "de", "fr", "es", "zh")

  def generate(spark: SparkSession, seed: Long, docsOut: Path, probesOut: Path): CorpusFacts = {
    import spark.implicits._
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    val vocab = (0 until 4000).map { _ =>
      val n = 3 + r.nextInt(6)
      (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }.distinct.toVector
    def words(n: Int): Vector[String] = {
      val w = Vector.fill(n)(vocab(r.nextInt(vocab.size)))
      w.updated(r.nextInt(n / 2), "the").updated(n / 2 + r.nextInt(n - n / 2), "data")
    }
    def text(): Vector[String] = words(40 + r.nextInt(81))
    // singletons first, so family bases and members get higher ids in
    // their own contiguous blocks (a family's base is its lowest id)
    val nSingles = Docs - Families.sum - ExactCopies
    val singles = Vector.fill(nSingles)(text())
    val fams = Families.zipWithIndex.flatMap { case (size, f) =>
      val base = text()
      val free = base.indices.filterNot(i => base(i) == "the" || base(i) == "data")
      base.mkString(" ") +: (1 until size).map { m =>
        base.updated(free(r.nextInt(free.size)), s"zq${f}x$m").mkString(" ")
      }
    }
    // copies of singletons beyond those the probes quote
    val quoted = (0 until PlantedProbes).map(i => i * (nSingles / PlantedProbes))
    val copyable = (0 until nSingles).filterNot(quoted.toSet)
    val copies = Vector.fill(ExactCopies)(singles(copyable(r.nextInt(copyable.size))).mkString(" "))
    val texts = singles.map(_.mkString(" ")) ++ fams ++ copies
    val rows = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, Langs(r.nextInt(Langs.size)), s"src${r.nextInt(8)}", t.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(4).write.mode("overwrite").parquet(docsOut.toString)
    val probes = quoted.map { i =>
      val s = singles(i)
      val at = r.nextInt(s.size - 15)
      (words(10) ++ s.slice(at, at + 15) ++ words(10)).mkString(" ")
    } ++ Vector.fill(CleanProbes)(words(35).mkString(" "))
    probes.toDF("text").write.mode("overwrite").parquet(probesOut.toString)
    CorpusFacts(texts.size, texts.distinct.size, Families, ExactCopies, PlantedProbes)
  }
}

/** `curate_corpus`: one `CurateCorpus.run` with `dedupMode="auto"`. */
final class CurateCorpusWorkload(ctx: Ctx) extends Workload {
  import ctx._
  private val corpus = work.resolve("corpus")
  private val docsPath = corpus.resolve("docs")
  private val probesPath = corpus.resolve("probes")
  private var facts: CorpusFacts = _
  private implicit val session: SparkSession = spark
  val WarmRuns = 1
  val MinRuns = 3

  private def docs(): DataFrame = spark.read.parquet(docsPath.toString)
  private def probes(): DataFrame = spark.read.parquet(probesPath.toString)

  def setup(): Unit = {
    facts = generate(corpus)(dir =>
      CorpusGen.generate(spark, seed, dir.resolve("docs"), dir.resolve("probes")))
    report.info("input") = s"${facts.docs} docs, ${facts.distinctTexts} distinct texts, " +
      s"families ${facts.familySizes.mkString("/")}, ${facts.exactCopies} exact copies, " +
      s"${facts.plantedProbes} planted + ${CorpusGen.CleanProbes} clean probes"
    // the first runs in a JVM are slower and vary with the JIT; they
    // are checked like the timed ones
    (1 to WarmRuns).foreach(k => curate(-k, traced = false))
  }

  private var first: Option[CurateCorpus.StageCounts] = None

  /** One checked `CurateCorpus.run`; its time unless it failed. */
  private def curate(i: Int, traced: Boolean): Option[Double] = {
    val out = work.resolve(s"out$i")
    val r = report.op(s"curate[$i]") { c =>
      val (n, ms) = timeMs {
        if (traced) tracer.get.span("app", "CurateCorpus.run")(
          CurateCorpus.run(docs(), probes(), out.toString, dedupMode = "auto"))
        else CurateCorpus.run(docs(), probes(), out.toString, dedupMode = "auto")
      }
      c.check(n.input == facts.docs, s"input ${n.input}, want ${facts.docs}")
      c.check(n.quality == facts.docs, s"quality kept ${n.quality} of ${facts.docs}")
      c.check(n.exactDedup == facts.distinctTexts,
        s"exact dedup kept ${n.exactDedup}, want ${facts.distinctTexts} distinct texts")
      c.check(n.nearDedup < n.exactDedup, s"near dedup kept ${n.nearDedup} of ${n.exactDedup}")
      c.check(n.nearDedup - n.decontaminated >= facts.plantedProbes,
        s"decontamination dropped ${n.nearDedup - n.decontaminated}, want >= ${facts.plantedProbes}")
      c.check(n.chunks >= n.sampled, s"${n.chunks} chunks for ${n.sampled} docs")
      first match {
        case None => first = Some(n)
        case Some(f) => c.check(n == f, s"stage counts $n differ from the first run's $f")
      }
      if (c.ok) Some(ms) else None
    }.flatten
    deleteTree(out)
    settle()
    r
  }

  /** At least `MinRuns` runs, and another only while one more like the
    * average so far still ends inside the run's time (a run takes
    * seconds, so the count would otherwise hinge on whether one more
    * fits). Traced runs alternate traced and untraced. */
  def measure(): Unit = {
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val runs = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    var i = 0
    while (i < MinRuns || System.nanoTime() + (System.nanoTime() - start) / i <= deadline) {
      val traced = tracer.isDefined && i % 2 == 0
      curate(i, traced).foreach(ms => runs += i -> ms)
      log(s"curation run $i done")
      i += 1
    }
    val untraced = runs.filter(r => tracer.isEmpty || r._1 % 2 == 1).map(_._2).toSeq
    putOps(untraced.map(ms => (ms, facts.docs.toDouble)), "documents")
    untraced.headOption.foreach(_ => report.put("curate_docs_per_s",
      facts.docs / (Stats.median(untraced) / 1000.0), "1/s", untraced.size))
    putOverhead(runs.filter(_._1 % 2 == 0).map(_._2).toSeq, untraced)
    tracer.foreach(_.putAppDriverTime())
  }

  /** The curation stages as separate layer calls, in `CurateCorpus.run`
    * order, each persisted and counted. */
  def layered(t: Tracer): Unit = {
    val pinned = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = { val c = df.persist(); pinned += c; c }
    try {
      val in = pin(docs())
      val n = in.count().toDouble
      val quality = t.span("operators", "quality") {
        val q = pin(Corpus.qualityFilter(in))
        val kept = pin(in.join(q.filter(col("keep")).select("doc_id"), "doc_id"))
        t.count("operators.quality.keep_ratio", kept.count() / n)
        kept
      }
      val exact = t.span("operators", "exact") {
        val g = pin(Dedup.exactDupGroups(quality))
        val e = pin(quality.join(g.filter(col("doc_id") === col("canonical_id")).select("doc_id"), "doc_id"))
        t.count("operators.exact.dup_ratio", 1.0 - e.count() / math.max(1.0, g.count()))
        e
      }
      val nExact = exact.count()
      val bands = t.span("functions", "Dedup.minHashBandRel") {
        val b = pin(Dedup.minHashBandRel(exact, pinned += _))
        t.count("functions.signature.docs", nExact.toDouble)
        t.count("functions.signature.band_rows", b.count().toDouble)
        b
      }
      t.span("operators", "candidates") {
        val bound = Dedup.lshPairBound(exact, pinned += _)
        t.count("operators.candidates.pair_bound_per_doc", bound.toDouble / math.max(1L, nExact))
        t.count("operators.candidates.route_groups",
          if (bound > math.max(256L * nExact, 1000000L)) 1.0 else 0.0)
      }
      val reps = bands.groupBy("band_idx", "band_hash").agg(min("doc_id").as("rep"))
      t.count("operators.verify.candidates", bands.join(reps, Seq("band_idx", "band_hash"))
        .filter(col("doc_id") =!= col("rep")).select("doc_id", "rep").distinct().count().toDouble)
      val edges = t.span("operators", "verify") {
        val e = pin(Dedup.lshStarEdges(exact, 0.6, pinned += _))
        t.count("operators.verify.survivors", e.count().toDouble)
        e
      }
      val c = t.counted
      t.count("operators.verify.survivor_ratio",
        c("operators.verify.survivors") / math.max(1.0, c("operators.verify.candidates")))
      t.count("operators.cc.edges_in", c("operators.verify.survivors"))
      t.count("operators.cc.driver_path", if (2 * c("operators.verify.survivors") <= 200000) 1.0 else 0.0)
      val comp = t.span("operators", "cc") {
        val cc = pin(Dedup.connectedComponents(edges, "doc_a", "doc_b"))
        cc.count()
        cc
      }
      // the distributed label-propagation loop on the same edges, which
      // the default dispatch skips below its small-graph bound
      t.span("operators", "cc.distributed") {
        Dedup.connectedComponents(edges, "doc_a", "doc_b", smallGraphEdges = 0L).count()
      }
      t.drain()
      t.count("operators.cc.shuffle_stages", t.allSpans.filter(_.name == "cc.distributed")
        .flatMap(t.jobsOf).map(_.shuffleMapStages).sum.toDouble)
      val near = pin(exact.join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .filter(col("component").isNull || col("doc_id") === col("component"))
        .select(exact.columns.map(col): _*))
      near.count()
      val clean = t.span("operators", "decontam") {
        val flagged = pin(Corpus.contaminationCheckBloom(near, probes(), n = 5, minMatches = 1,
          pin = pinned += _).filter(col("contaminated")).select("doc_id"))
        t.count("operators.decontam.flagged", flagged.count().toDouble)
        pin(near.join(flagged, Seq("doc_id"), "left_anti"))
      }
      t.span("operators", "chunk") {
        t.count("operators.chunk.chunks", pin(Corpus.chunkDocuments(clean, 64, 48)).count().toDouble)
      }
    } finally pinned.foreach(_.unpersist())
  }
}
