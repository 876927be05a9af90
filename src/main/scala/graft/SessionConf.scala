package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The one way to change a session conf for the length of a section.
  *
  * Session conf is global to the session, and sections do not nest
  * neatly: concurrent statements (Round14Spec's conflict tests) run
  * engine phases whose scopes enter and exit out of order across
  * threads. A plain set/restore pair captures another scope's value as
  * its restore value and leaks it onto the session. So the state is
  * kept per session and per key, under one lock:
  *
  *  - the value the session had before any live scope changed the key
  *    (`None` when it was unset, so it goes back to unset);
  *  - the live scopes that set it, in the order they entered.
  *
  * A scope's exit removes its own entry wherever it sits, then
  * re-applies the value of the latest-entered scope still live, or the
  * saved original when none is left; it runs in `finally`, so a body
  * that throws still restores. Two live scopes asking for different
  * values do not fail: the one entered last wins while it lives. The
  * conflict is only ever over a tuning value, which a throw would turn
  * into a failed statement.
  *
  * Confs are read when a plan executes, not when a DataFrame is built:
  * a body that returns a lazy frame runs it after the scope has
  * restored. Materialise inside the scope when the confs must apply. */
object SessionConf {

  /** AQE off for engine phases, eager iterative cuts and `foreachBatch`
    * bodies: tiny fixed-shape queries where AQE adds one extra job per
    * exchange. Results are unaffected (AQE re-plans, never re-defines).
    * The listing threshold: these sections read
    * explicit file lists already enumerated, and the default (32) turns
    * listing more than 32 of them into a Spark job; plain file-status
    * calls are cheaper at these list sizes. */
  val AqeOff: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "100000")

  /** One key's scope state on one session. */
  private final class Held(val original: Option[String]) {
    /** (scope token, its value), oldest first. */
    val live = mutable.ArrayBuffer.empty[(AnyRef, String)]
  }

  private val state =
    new java.util.WeakHashMap[SparkSession, mutable.Map[String, Held]]()

  /** Keys of `spark` that some live scope currently holds (for specs). */
  private[graft] def held(spark: SparkSession): Set[String] =
    state.synchronized {
      Option(state.get(spark)).fold(Set.empty[String])(_.keySet.toSet)
    }

  /** Set `confs` on `spark` for the length of `body`, then restore. */
  def scoped[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val token = new AnyRef
    val c = spark.conf
    state.synchronized {
      val keys = state.computeIfAbsent(spark, _ => mutable.HashMap.empty)
      // explicitly set values only: a key left at its default goes back
      // to unset
      val set = c.getAll
      confs.foreach { case (k, v) =>
        keys.getOrElseUpdate(k, new Held(set.get(k))).live += token -> v
        c.set(k, v)
      }
    }
    try body
    finally state.synchronized {
      val keys = state.get(spark)
      confs.foreach { case (k, _) =>
        val h = keys(k)
        h.live.remove(h.live.indexWhere(_._1 eq token))
        h.live.lastOption match {
          case Some((_, v)) => c.set(k, v)
          case None =>
            keys.remove(k)
            h.original.fold(c.unset(k))(c.set(k, _))
        }
      }
      if (keys.isEmpty) state.remove(spark)
    }
  }
}
