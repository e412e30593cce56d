package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: a SparkSession tuned for the engine, with the
  * graft SQL functions registered. Mirrors the knobs the reference set
  * operationally (shuffle sizing ↔ its reducer heuristics, AQE ↔ its
  * per-input-size reducer math, UTC ↔ its GMT hour bucketing).
  */
object GraftSession {

  /** Cores from a `SPARK_GRAFT_CPUS` value: unset or `*` is every core,
    * a positive integer is taken as given, anything else is an error
    * (a bad value must not reach a master URL or a file name). `unset`
    * is the count when the variable is absent. */
  def coresOf(value: Option[String], unset: => Int): Int =
    value.map(_.trim) match {
      case None => unset
      case Some("*") => Runtime.getRuntime.availableProcessors
      case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS must be a positive integer or *, got '$v'"))
    }

  /** The session's cores: `SPARK_GRAFT_CPUS`, every core when unset. */
  def cores: Int = cores(Runtime.getRuntime.availableProcessors)

  /** [[cores]] with another count for the unset case. */
  def cores(unset: => Int): Int = coresOf(sys.env.get("SPARK_GRAFT_CPUS"), unset)

  def builder(appName: String = "graft",
      cores: Int = Runtime.getRuntime.availableProcessors): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      // spark-submit injects spark.master; default to local otherwise
      .config("spark.master",
        sys.props.getOrElse("spark.master", s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "128m")
      // many small history-log files per day-partition: treat opens as
      // cheap so they pack into few tasks (the reference's 100 MB
      // CombineFileInputFormat splits, base.properties:39-40)
      .config("spark.sql.files.openCostInBytes", "1m")
      // shuffle/spill codec, env-tunable: lz4 (default) optimizes CPU;
      // zstd buys ~25% on the candidate-stream shuffles whose BYTES are
      // the binding constraint when a data-quadratic campaign runs on
      // one machine's disk (at fleet scale the same knob trades shuffle
      // network for codec CPU — a standard large-shuffle lever)
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_CODEC", "lz4"))

  /** Build (or reuse) the session and register SQL functions plus the
    * range-join rewrite rule (idempotent). */
  def create(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    functions.GraftFunctions.register(spark)
    if (!spark.experimental.extraOptimizations.contains(plans.RangeJoinRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ plans.RangeJoinRewrite
    spark
  }
}
