package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Session-lifetime cache registry. Operators here cache small derived
  * frames (value-counts state, specced corpora, candidate sets) whose
  * pins are correct for a driver-per-run world but would accumulate in
  * a long-lived session running stats queries repeatedly. Every
  * library-internal `.cache()` goes through `register`, and a host
  * application calls `unpersistAll()` at its own query-face boundary.
  *
  * References are STRONG and cleared only by `unpersistAll()`:
  * Spark's CacheManager itself retains the cached plan regardless of
  * whether the Dataset wrapper is reachable, so a weak registry would
  * let wrapper GC silently orphan pinned cache entries — the exact
  * leak this class exists to prevent. The registry is tiny (one entry
  * per library-internal cache call, deduplicated by the Dataset's
  * analyzed plan), so holding the wrappers costs nothing next to the
  * cached data they pin.
  */
object CacheRegistry {

  private val refs = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]

  // innermost-first stack of active scopes FOR THIS THREAD — a scope
  // collects the registrations it newly pinned so scoped() can release
  // exactly those and nothing else (a foreachBatch trigger thread must
  // not clobber caches pinned by concurrent streams or host queries,
  // which a global unpersistAll from inside a trigger would)
  private val scopes =
    ThreadLocal.withInitial[List[scala.collection.mutable.ArrayBuffer[Dataset[_]]]](
      () => Nil)

  /** Cache `ds` and track it for a later bulk unpersist. Re-registering
    * a Dataset with the same analyzed plan (operators register
    * per-call locals for the same cached stats frame) keeps one entry,
    * so the registry stays bounded under repeated query-face calls.
    * Inside [[scoped]], a NEWLY pinned entry is owned by the innermost
    * scope; an already-registered plan stays owned by whoever pinned
    * it first. A plan that is already cached is not cached again, so
    * re-registering logs no CacheManager warning. */
  def register[T](ds: Dataset[T]): Dataset[T] = {
    if (ds.storageLevel == StorageLevel.NONE) ds.cache()
    synchronized {
      val fresh = !refs.exists(r => (r.sparkSession eq ds.sparkSession) &&
        r.queryExecution.analyzed.sameResult(ds.queryExecution.analyzed))
      if (fresh) {
        refs += ds
        scopes.get() match {
          case buf :: _ => buf += ds
          case Nil =>
        }
      }
    }
    ds
  }

  /** Run `f` in a cache scope: every cache `f` NEWLY registers is
    * unpersisted (blocking) when `f` finishes — and ONLY those, so
    * concurrent users' pins survive. The per-micro-batch boundary of
    * the streaming gate runs inside this; `unpersistAll` remains the
    * whole-session query-face boundary for single-owner drivers
    * (Bench/Verify). */
  def scoped[T](f: => T): T = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
    scopes.set(buf :: scopes.get())
    try f
    finally {
      scopes.set(scopes.get().tail)
      // Drop the scope's entries from the registry under the lock, but
      // run the BLOCKING unpersists outside it: holding the global lock
      // through N blocking unpersist jobs would stall every concurrent
      // register() (other streams' triggers, host queries) for the full
      // release duration at each micro-batch boundary.
      synchronized {
        buf.foreach { d =>
          val i = refs.indexWhere(_ eq d)
          if (i >= 0) refs.remove(i)
        }
      }
      buf.foreach(_.unpersist(blocking = true))
    }
  }

  /** Unpersist every registered Dataset (blocking, so the memory is
    * actually free when this returns) and clear the registry. Returns
    * how many were unpersisted. */
  def unpersistAll(): Int = synchronized {
    val n = refs.size
    refs.foreach(_.unpersist(blocking = true))
    refs.clear()
    n
  }

  /** Registered count (for tests/monitoring). */
  def registeredCount: Int = synchronized { refs.size }
}
