package graft

import graft.operators.Parallelism
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Parallelism.saltedBlockJoin]] directly. The gate queries now
  * take the maxR==1 plain-join escape at sf0.1 (no block needs
  * splitting there), so without this spec the SALTED plan — the shape
  * that actually runs at sf1+/100 TB — would only ever execute in
  * scale campaigns, never under `sbt test`. */
class ParallelismSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  // Skewed fixture: block "hot" has 40 a-rows × 50 b-rows = 2000 pairs,
  // "cold" blocks have a handful each; ids overlap so the a<b-style
  // filters downstream operators apply would matter — here we take the
  // raw inner join, which is what the contract promises.
  private def sides() = {
    val a = (0 until 40).map(i => ("hot", i)) ++
      (0 until 5).flatMap(k => (0 until 3).map(i => (s"c$k", i)))
    val b = (0 until 50).map(i => ("hot", i * 2)) ++
      (0 until 5).flatMap(k => (0 until 4).map(i => (s"c$k", i + 1)))
    (a.toDF("blk", "ida"), b.toDF("blk", "idb"))
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Set[(String, Int, Int)] =
    df.select("blk", "ida", "idb").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet

  test("forced salting (tiny target): identical rows to the plain join, exactly once") {
    val (a, b) = sides()
    val plain = a.join(b, Seq("blk"))
    // target 100 pairs/task ⇒ hot block gets r = ceil(2000/100) = 20
    val salted = Parallelism.saltedBlockJoin(a, b, Seq("blk"), "ida",
      targetPairsPerTask = 100L)
    // exactly-once: multiset equality via count parity + set equality
    assert(salted.count() == plain.count())
    assert(canon(salted) == canon(plain))
  }

  test("forced salting splits the hot block across salt values") {
    val (a, b) = sides()
    val salted = Parallelism.saltedBlockJoin(a, b, Seq("blk"), "ida",
      targetPairsPerTask = 100L)
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("salt"), plan.take(2000))
  }

  test("maxR==1 escape: big target yields the plain join plan (no salt machinery)") {
    val (a, b) = sides()
    val joined = Parallelism.saltedBlockJoin(a, b, Seq("blk"), "ida",
      targetPairsPerTask = 1000000L)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("salt"), plan.take(2000))
    assert(canon(joined) == canon(a.join(b, Seq("blk"))))
  }

  test("hashBuildFits: slim builds fit, impossible builds do not") {
    // pure arithmetic over session confs — pins the direction of the
    // guard that drops the unspillable shuffle-hash hint
    assert(Parallelism.hashBuildFits(1000L, 1024L, spark))
    assert(!Parallelism.hashBuildFits(Long.MaxValue / 4096, 4096L, spark))
  }

  test("hashBuildFits: AQE coalescing bounds per-partition builds below") {
    // With coalescing on, a task's build partition can reach the
    // advisory size no matter how many shuffle partitions are
    // configured — the configured-count divisor alone would green-light
    // a build that OOMs after coalescing. Pin: an advisory set to the
    // whole pool makes a build totalling just over pool/2 refuse, even
    // with 4096 configured partitions (the pre-fix model accepted it:
    // total/4096 × slots ≪ pool/2).
    val pool = (Runtime.getRuntime.maxMemory() *
      spark.conf.get("spark.memory.fraction", "0.6").toDouble).toLong
    val oldParts = spark.conf.get("spark.sql.shuffle.partitions")
    val oldAdv = spark.conf.getOption(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "4096")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        pool.toString + "b")
      val rows = (pool / 2 / 1024L) + 4096L
      assert(!Parallelism.hashBuildFits(rows, 1024L, spark))
      // same rows with coalescing off: configured partitions stand and
      // the slim per-partition builds fit
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      assert(Parallelism.hashBuildFits(rows, 1024L, spark))
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", oldParts)
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
      oldAdv match {
        case Some(v) => spark.conf.set(
          "spark.sql.adaptive.advisoryPartitionSizeInBytes", v)
        case None => spark.conf.unset(
          "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      }
    }
  }

  test("block absent from one side produces no pairs and no salt factor") {
    val aOnly = Seq(("lonely", 1), ("hot", 2)).toDF("blk", "ida")
    val bOnly = Seq(("hot", 3)).toDF("blk", "idb")
    val j = Parallelism.saltedBlockJoin(aOnly, bOnly, Seq("blk"), "ida",
      targetPairsPerTask = 1L) // force the salted path
    assert(canon(j) == Set(("hot", 2, 3)))
  }
  test("widen starts no Spark job at call time; an Observation beneath it reads every row") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // a shuffled input: under AQE, reading its partition count would
    // run the aggregation's shuffle stage right here
    val obs = org.apache.spark.sql.Observation()
    val in = spark.range(0, 1000, 1, 8)
      .groupBy((col("id") % 100).as("k")).agg(count(lit(1)).as("n"))
      .observe(obs, count(lit(1)).as("rows"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "marker"))
          marker.countDown()
        else jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val widened = try {
      val w = Parallelism.widen(in)
      // the listener bus is FIFO: once the marker job's start arrives,
      // every job started by the call has been seen
      spark.sparkContext.setJobGroup("marker", "listener barrier")
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      w
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 0, s"${jobs.get()} Spark jobs at widen's call time")
    assert(widened.collect().length == 100)
    assert(obs.get("rows") == 100L)
  }
}
