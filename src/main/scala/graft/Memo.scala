package graft

import org.apache.spark.sql.SparkSession

/** Per-(session, key) memoization of eagerly-materialized frames and
  * other session-scoped artifacts (a trained model, a written layout's
  * path) — the one per-session build-once cache.
  *
  * Several contract queries share an expensive intermediate (the hashed
  * shingle set, the verified near-dup pairs, the exact top-k baseline).
  * Recomputing it per query would overstate every downstream operator's
  * cost; materializing it once per session is exactly the "reuse a
  * partitioning across stages" play a 100 TB pipeline makes (there the
  * same role is played by a persisted intermediate table / reliable
  * checkpoint). Callers pass a `build` that ends in
  * `.localCheckpoint(true)` so the cached plan is a materialized scan,
  * not live lineage.
  *
  * Keys are weak on the session so a stopped SparkSession (and the
  * checkpointed blocks only it can read) can be collected.
  *
  * RE-ENTRANT by design: a memoized build may itself call Memo (e.g.
  * x41's clone-pair build runs cloneCorpus, whose id-collision guard is
  * memoized under its own key). `computeIfAbsent` would throw
  * "Recursive update" on that nesting, so the build runs OUTSIDE the
  * map's locks with a get / build / putIfAbsent sequence. Two racing
  * threads can then both build the same key — the loser's (idempotent,
  * plan-only) frame is discarded — which is the correct trade against a
  * nesting-order hazard that depends on query execution order. */
object Memo {
  private val caches =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, AnyRef]]()

  def apply[T <: AnyRef](spark: SparkSession, key: String)(build: => T): T = {
    val perSession = caches.synchronized {
      caches.computeIfAbsent(spark,
        _ => new java.util.concurrent.ConcurrentHashMap[String, AnyRef]())
    }
    val hit = perSession.get(key)
    if (hit != null) hit.asInstanceOf[T]
    else {
      val built = build
      BuildLog.note(s"memo:$key") // r17: bench attribution, see BuildLog
      val prev = perSession.putIfAbsent(key, built)
      (if (prev != null) prev else built).asInstanceOf[T]
    }
  }
}
