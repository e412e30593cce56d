package graft.serve

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap

/** The HTTP-API facade: request/response shapes of `POST /api/usage`
  * (`server/app.rb:58-106`) over [[UsageQueries]], with the reference's
  * result-level cache (Guava LoadingCache keyed by serialized params,
  * `usage_data.rb:442-454` + `cache_builder.rb`, T7) as a TrieMap memo
  * invalidated on ingest.
  *
  * Response parity (`app.rb:80-106`): dense `times` ticks; one series
  * per named user; one collapsed series for the `usersToAggregate` set;
  * the count of aggregated users; the cluster echoed back.
  *
  * Serving-session tuning (measured in STRESS.md round 10, 10⁷-row
  * fact): the owner of the SparkSession should consider
  * `spark.sql.codegen.wholeStage=false` for a dedicated serving
  * process — every request embeds fresh literals so whole-stage
  * codegen compiles a new class per request, and at interactive row
  * counts the compile latency (~0.3 s on the P95 tail) outweighs the
  * interpreted path's per-row cost (cold P95 658 → 343 ms).
  */
final case class UsageRequest(
    cluster: String,
    users: Seq[String],
    usersToAggregate: Seq[String],
    queryType: String,
    unit: String,
    zone: String,
    startMs: Long,
    endMs: Long)

final case class UserSeries(user: String, data: Seq[Double])

final case class UsageResponse(
    times: Seq[Long],
    users: Seq[UserSeries],
    usersAggregated: Seq[Double],
    numAggregatedUsers: Int,
    cluster: String)

/** `refreshMode` — what [[UsageApi.invalidate]] does to the memo:
  *  - `"clear"` (default, REFERENCE PARITY): drop every memoized
  *    response and the per-cluster bounds; the next request of each
  *    shape recomputes cold. This is what the reference does on
  *    ingest: `usage_loader.rb:196` calls `UsageData.clear_cache` →
  *    Guava `cache.invalidate_all`, and the UsageData response cache
  *    is built WITHOUT an expiry (`usage_data.rb:442-454`), so
  *    `cache_builder.rb`'s refreshAfterWrite/reload path never applies
  *    to it — after ingest the reference serves fresh (cold) data,
  *    never stale.
  *  - `"swr"` (opt-in, DOCUMENTED DEVIATION): stale-while-revalidate —
  *    memoized responses keep being served while a single daemon
  *    refresher recomputes and swaps each one (the Guava
  *    refreshAfterWrite semantics the reference uses for its OTHER
  *    caches). Staleness is bounded: the refresher is one FIFO thread,
  *    so no entry is served stale past one serialized recompute pass
  *    of the memoized set (≈ memo.size × cold-request cost; measured
  *    cold P95 343 ms at 10⁷ fact rows), and a NEW request shape
  *    arriving mid-refresh always computes fresh. Use when dashboard
  *    latency matters more than post-ingest freshness. */
final class UsageApi(fact0: DataFrame, refreshMode: String = "clear")(
    implicit spark: SparkSession) {
  require(refreshMode == "clear" || refreshMode == "swr",
    s"refreshMode clear|swr, got $refreshMode")

  // The reference caches the hourly fact in HSQLDB memory with B-tree
  // indexes on the query keys (usage_database.rb:23-26); the Spark
  // analog is a cache CLUSTERED by the request predicates:
  // range-partition on (cluster, user) and sort each partition by
  // (cluster, user, time), so the in-memory columnar cache's per-batch
  // min/max stats prune a request's scan to just the requested users'
  // batches (InMemoryTableScan partition pruning — measured round 10:
  // cold P50 dropped 1.29 s → sub-second on a 10⁷-row fact; an
  // interleaved cache prunes NOTHING because every batch spans every
  // cluster/user). Range (not hash-by-cluster) keeps full parallelism:
  // hash on 2 clusters would collapse the scan to 2 tasks. At cluster
  // scale the same layout is bucketing/Z-order on the same keys.
  private val fact = fact0
    .repartitionByRange(
      org.apache.spark.sql.functions.col("cluster"),
      org.apache.spark.sql.functions.col("user"))
    .sortWithinPartitions("cluster", "user", "time")
  fact.cache()

  // One memo entry carries the response AND its rendered byte forms
  // (lazy — rendered only for the routes that serve this shape, and
  // re-serializing thousands of (tick, value) points per hit measured
  // ~44 ms of the memoized HTTP path's latency, STRESS r11). Bytes
  // living INSIDE the entry is load-bearing for the swr mode: with
  // separate response/byte maps, a first-time byte render racing the
  // refresher's swap could pair stale bytes with a newer response and
  // serve them until the NEXT invalidate (the refresher's
  // contains-check ran before the insert). Here a refresh swaps the
  // whole entry, so bytes are always derived from the response they
  // are served with.
  private final class Entry(req: UsageRequest, val resp: UsageResponse) {
    lazy val json: Array[Byte] = renderUsage(resp)
    lazy val csv: Array[Byte] = renderTable(req, resp)
  }
  private val memo = TrieMap.empty[UsageRequest, Entry]
  private implicit val jsonFormats: org.json4s.Formats =
    org.json4s.DefaultFormats
  // per-cluster time bounds are request-invariant between ingests —
  // memoized so a cold request pays its series job(s), not a
  // metadata scan too
  private val boundsMemo = TrieMap.empty[String, (Long, Long)]
  private def bounds(cluster: String): (Long, Long) =
    boundsMemo.getOrElseUpdate(cluster,
      UsageQueries.timeBounds(fact, cluster))

  // Single daemon refresher thread (swr mode only): stale entries keep
  // being served while ONE loader thread recomputes and swaps them, so
  // the dashboard never shows a cold request. One thread (not a pool)
  // keeps the refresh load bounded to one Spark job at a time behind
  // live traffic; successive invalidates serialize on it — which is
  // also the staleness bound (see the class doc).
  private val refresher =
    java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "usage-api-refresh")
      t.setDaemon(true)
      t
    })

  /** Ingest hook: new data arrived (`usage_loader.rb:195-196`). The
    * fact's files are re-listed first, so files landed since the last
    * listing are served. In the default `"clear"` mode this is the
    * reference's `clear_cache` →
    * `invalidate_all`: every memo (responses, rendered bytes, bounds)
    * is dropped and the next request of each shape recomputes cold. In
    * `"swr"` mode the memoized entries stay servable while the single
    * refresher thread recomputes and swaps each one (responses AND
    * their rendered bytes); new (unmemoized) request shapes arriving
    * mid-refresh compute fresh either way. */
  def invalidate(): Unit = {
    refreshSources()
    fact.unpersist()
    fact.cache()
    if (refreshMode == "clear") {
      memo.clear()
      boundsMemo.clear()
      return
    }
    val staleClusters = boundsMemo.keySet.toVector
    val staleReqs = memo.keySet.toVector
    refresher.submit(new Runnable {
      def run(): Unit = {
        // bounds first: the request recomputes below read them
        staleClusters.foreach { c =>
          boundsMemo.update(c, UsageQueries.timeBounds(fact, c))
        }
        staleReqs.foreach { r =>
          try {
            // swapping the ENTRY swaps response and rendered forms
            // atomically — a byte-memo hit never outlives its response
            memo.update(r, new Entry(r, compute(r)))
          } catch {
            // a request that no longer computes (e.g. its cluster
            // vanished from the new fact) must not wedge the refresh
            // of the others — drop it; the next live request recomputes
            // and surfaces the error to its caller
            case scala.util.control.NonFatal(_) =>
              memo.remove(r)
          }
        }
      }
    })
  }

  /** Re-list the files behind every file relation `fact0` reads. Its
    * file index was fixed when `fact0` was created, so without this a
    * re-cache would keep serving the files of that moment and miss
    * what an ingest committed since (a write through this session
    * refreshes the index itself; another writer's does not). Same
    * effect as `spark.catalog.refreshByPath` on each input root. */
  private def refreshSources(): Unit =
    fact0.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.refresh()
          case _ => ()
        }
      case _ => ()
    }

  /** Barrier for tests/benchmarks: returns once every refresh batch
    * submitted so far has completed (the refresher is single-threaded
    * and FIFO, so an empty task drains the queue). */
  def awaitRefresh(): Unit =
    refresher.submit(new Runnable { def run(): Unit = () }).get()

  /** Materialize the clustered cache (the HSQLDB preload analog) and
    * return the fact row count — servers call this before binding so
    * the first live request never pays the cache build. */
  def warm(): Long = fact.count()

  def clusters(): Seq[String] = UsageQueries.clusters(fact)
  def users(cluster: String): Seq[String] = UsageQueries.users(fact, cluster)

  private def entry(req: UsageRequest): Entry =
    memo.getOrElseUpdate(req, new Entry(req, compute(req)))

  /** `POST /api/usage` (`app.rb:44-106`). */
  def usage(req: UsageRequest): UsageResponse = entry(req).resp

  private def renderUsage(resp: UsageResponse): Array[Byte] =
    org.json4s.jackson.Serialization.write(resp)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private def renderTable(req: UsageRequest, resp: UsageResponse): Array[Byte] =
    csvLines(req, resp).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** The `/api/usage` response as rendered UTF-8 JSON, memoized: a
    * memoized request's bytes are deterministic, so the server never
    * re-serializes a repeat dashboard hit (the ~44 ms/hit json4s cost
    * STRESS r11 measured on the hottest path). Lifecycle follows
    * [[invalidate]] exactly. */
  def usageJson(req: UsageRequest): Array[Byte] = entry(req).json

  /** The `/api/table` response as rendered UTF-8 CSV, memoized (same
    * contract as [[usageJson]]). */
  def tableCsv(req: UsageRequest): Array[Byte] = entry(req).csv

  private def compute(req: UsageRequest): UsageResponse = {
      val qt = QueryType.All.getOrElse(req.queryType,
        throw new IllegalArgumentException(s"bad type: ${req.queryType}"))
      // bounds memoized per cluster, forwarded everywhere below — an
      // uncached request costs exactly: perUser (+ aggregate) jobs
      val (minMs, maxMs) = bounds(req.cluster)
      val ticks = TimeBuckets.ticks(
        req.unit, req.zone, req.startMs, req.endMs, minMs, maxMs)
      // ONE Spark job per cold request — the reference's own shape
      // (one SQL GROUP BY, then the server densifies in Ruby,
      // `usage_data.rb:56-90`): a single filtered aggregation over
      // named ∪ aggregate users, collected sparse, densified onto the
      // driver-computed tick spine here. The previous implementation
      // ran the oracle-pinned perUserSeries + aggregatedSeries plans —
      // spine crossJoin, left join, a global orderBy (range-sampling
      // job), and a SECOND aggregation job for the aggregate set —
      // ~2-3 multi-stage jobs per request; measured round 10 (10⁷-row
      // cached fact), collapsing to one job + driver densify cut cold
      // P95 from ~2.3 s to sub-second. perUserSeries/aggregatedSeries
      // remain the distributed (write-a-table) forms and the fuzz/gate
      // surface; UsageApiSpec pins this path's parity with them.
      //
      // Counter measures (started/finished — 13 of the 23 types) sum
      // to LONG, minute measures to DOUBLE; the JSON contract is
      // numbers either way (app.rb serializes both), so extraction
      // must be numeric-type-agnostic — Row.getDouble on the long sum
      // throws ClassCastException (latent until the latency harness
      // ran the full 23-type request mix; UsageApiSpec now pins a
      // counter type too). The sum itself can be NULL: cpuMinutes is
      // nullable (the reference's ParseJobsFromLogs emits null derived
      // minutes and UsageEtl's SUM skips nulls), so a (user,tick)
      // group whose inputs are all null yields SUM=null — densify it
      // to the type's default, same as an absent tick.
      def num(r: org.apache.spark.sql.Row, i: Int): Double =
        Option(r.get(i)).map(_.asInstanceOf[Number].doubleValue)
          .getOrElse(qt.defaultValue)
      val wanted = (req.users ++ req.usersToAggregate).distinct
      val byUser: Map[String, Map[Long, Double]] =
        if (wanted.isEmpty) Map.empty
        else UsageQueries
          .aggregated(fact, req.cluster, qt, req.unit, req.zone)
          .filter(org.apache.spark.sql.functions.col("user")
            .isin(wanted: _*))
          .collect()
          .groupBy(_.getString(0))
          .view.mapValues(_.map(r => r.getLong(1) -> num(r, 2)).toMap)
          .toMap
      def seriesOf(u: String): Seq[Double] = {
        val m = byUser.getOrElse(u, Map.empty[Long, Double])
        ticks.map(t => m.getOrElse(t, qt.defaultValue))
      }
      val aggregated =
        if (req.usersToAggregate.isEmpty) ticks.map(_ => qt.defaultValue)
        // distinct: the isin-filtered aggregation counted a
        // twice-listed user once; summing per-user series must too
        else req.usersToAggregate.distinct.map(seriesOf)
          .transpose.map(_.sum)
      UsageResponse(
        times = ticks,
        users = req.users.map(u => UserSeries(u, seriesOf(u))),
        usersAggregated = aggregated,
        numAggregatedUsers = req.usersToAggregate.size,
        cluster = req.cluster)
  }

  /** `/api/table` CSV lines (`app.rb:110-157`): header then one row per
    * tick, every cell divided by 60 — the reference scales
    * unconditionally (`app.rb:152`), counters included (QUIRK 11). */
  def exportCsv(req: UsageRequest): Seq[String] =
    csvLines(req, usage(req))

  private def csvLines(req: UsageRequest, resp: UsageResponse): Seq[String] = {
    val qt = QueryType.All(req.queryType)
    val scale = 60.0
    val header = ("time" +: resp.users.map(_.user)).mkString(",")
    val rows = resp.times.zipWithIndex.map { case (t, i) =>
      (t.toString +: resp.users.map(u => (u.data(i) / scale).toString))
        .mkString(",")
    }
    header +: rows
  }
}
