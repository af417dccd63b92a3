package graft.streaming

import org.apache.spark.sql.SparkSession

/** Generation-keyed model cache for the serve streams (round-17
  * finding #3): a serve stream would otherwise re-read its store
  * every micro-batch — a per-batch FIXED cost whose only
  * justification was freshness (appends take effect next batch).
  * This cache keeps that freshness contract at the price of one small
  * read per batch: the loaded model is cached per key under the
  * store's `generation` (`graft.store.Store` — its record raises the
  * generation on every write, append and compaction) and re-loaded
  * only when the generation moves. Nothing mutates a store without
  * raising it, so a batch after a committed append always reloads.
  *
  * Lifecycle: replacing or invalidating an entry runs its release
  * hook (the per-model unpersist the serve streams used to run per
  * batch — `releaseNbCache`/`releaseDsirCache` discipline), so
  * executor storage holds at most one pinned cache per key instead
  * of accumulating. A long-lived JVM serving MANY distinct store dirs
  * bounds the map by calling [[invalidate]] when it retires a store.
  * Driver-side only; entries hold plans, not data —
  * `spark.catalog.clearCache()` (the Verify/Bench hygiene) unpersists
  * the frames underneath, which is safe: the next action simply
  * re-persists. */
object ModelCache {

  private case class Entry(generation: Long, model: Any,
      release: () => Unit)
  private val entries =
    scala.collection.mutable.HashMap.empty[String, Entry]

  // spec observability: loads since JVM start (a hit leaves it alone)
  private val loadCount = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def loads: Long = loadCount.get()

  /** The cached model for `key` if the store at `dir` is still at the
    * generation it was loaded at, else `load`ed fresh (releasing any
    * stale entry first). `key` (defaults to `dir`) is the cache
    * IDENTITY: a caller whose loaded value bakes in more than the
    * store's state — per-stream parameters, a probe closure — must
    * fold those into the key, or two streams on one store would
    * silently share the first caller's parameters. Composite keys
    * must use the `dir#...` form so [[invalidate]]'s prefix match can
    * release them when the store is retired.
    *
    * `load` runs OUTSIDE the map's monitor (it can be a multi-second
    * Spark read; holding the lock would stall every other stream's
    * probe on unrelated dirs). A concurrent same-key load can
    * therefore race — the loser adopts the winner's model. */
  def getOrLoad[T](spark: SparkSession, dir: String, key: String = "")(
      load: => T)(release: T => Unit): T = {
    val k = if (key.isEmpty) dir else key
    val gen = graft.store.Store.generation(spark, dir)
    entries.synchronized(entries.get(k)) match {
      case Some(e) if e.generation == gen => e.model.asInstanceOf[T]
      case _ =>
        val m = load
        loadCount.incrementAndGet()
        entries.synchronized {
          entries.get(k) match {
            case Some(e) if e.generation == gen =>
              // Lost a same-key race: adopt the winner's model. Do
              // NOT release(m) here — Spark's CacheManager keys
              // cached plans by canonicalized plan, so two loads of
              // the same store SHARE cache entries, and unpersisting
              // the loser's frames would unpersist the winner's
              // pinned plans too. Defer the loser's release to the
              // entry's eventual turnover instead (unpersist is
              // idempotent on shared entries).
              entries.put(k, Entry(e.generation, e.model,
                () => { e.release(); release(m) }))
              e.model.asInstanceOf[T]
            case stale =>
              stale.foreach(_.release())
              entries.put(k, Entry(gen, m, () => release(m)))
              m
          }
        }
    }
  }

  /** Release and drop `dir`'s entries (store retired, or a test
    * wants a cold start). Covers BOTH the plain `key = dir` entry
    * and composite-keyed entries (`dir#...` — the
    * [[getOrLoad]] `key` contract folds per-stream parameters in
    * after a `#`), so retiring a store dir releases every probe
    * closure built over it, not just the default-keyed one.
    * Idempotent. */
  def invalidate(dir: String): Unit = entries.synchronized {
    val pfx = dir + "#"
    val keys = entries.keysIterator
      .filter(k => k == dir || k.startsWith(pfx)).toList
    keys.foreach(k => entries.remove(k).foreach(_.release()))
  }

  /** Release and drop everything. */
  def clear(): Unit = entries.synchronized {
    entries.valuesIterator.foreach(_.release())
    entries.clear()
  }
}
