package graft.operators

import org.apache.spark.sql.DataFrame

/** Session-lifetime registry for caches an operator creates
  * INTERNALLY (LSH signature rels, tile factors, IVF indexes) when the
  * caller did not supply a `pin` to take ownership.
  *
  * Why it exists: an operator that `.cache()`s an intermediate cannot
  * unpersist it itself — the returned DataFrame is lazy and the
  * operator never sees the caller's action complete. Before this
  * registry, the default `pin = _ => ()` meant every registry-driven
  * invocation (gate queries, PlanSpec, a long-lived serving session
  * calling q20/q80 shapes repeatedly) leaked one cached DataFrame per
  * call until something external cleared the whole CacheManager.
  *
  * Contract: operators register auto-created caches here (the default
  * `pin`); harness boundaries — Verify after each query, Bench's
  * per-query clear, ServeFuzz between rounds, a serving deployment at
  * request quiescence — call [[releaseAll]] to unpersist everything
  * registered since the last release. Callers that pass an explicit
  * `pin` keep ownership and are NOT touched by [[releaseAll]].
  *
  * Strong refs are deliberate: a cached-but-unreachable DataFrame
  * still holds storage memory until unpersisted, so the registry must
  * keep the handle alive to be able to free the blocks. `unpersist` on
  * an already-uncached frame is a no-op, so double-release (e.g.
  * Bench's clearCache + releaseAll) is safe.
  */
object OperatorCaches {
  private val reg =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** The default `pin` for operator-internal caches. */
  def register(df: DataFrame): Unit = reg.add(df)

  /** Unpersist (non-blocking) and forget every registered cache.
    * Returns the number released — harnesses log it so a leak shows up
    * as a growing count, not silent memory pressure. */
  def releaseAll(): Int = {
    var n = 0
    var df = reg.poll()
    while (df != null) {
      try df.unpersist(blocking = false)
      catch { case _: Throwable => () } // session may already be stopped
      n += 1
      df = reg.poll()
    }
    n
  }
}
