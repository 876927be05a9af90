package graft

/** Round-17 (VERDICT r16 ask #7): attribution of shared-artifact and
  * memo builds to the query whose timed line paid for them. The bench
  * sets [[current]] before each timed query; the two build-once
  * primitives call [[note]] when they actually BUILD something — the
  * staged tier ([[Tables.ensureStaged]], cross-process and
  * process-scratch homes alike) and the per-session memo ([[Memo]]).
  * Every build-once artifact goes through one of the two, so none is
  * missing here. Bench emits the resulting map as `artifacts_built` in
  * bench-full.json, so a per-query comparison can see that e.g. x111's
  * line includes the staged-adjacency build while x135's rides it — the
  * self-describing accounting VERDICT r16 asked for after the x71/x142
  * memo shift. Pure bookkeeping: nothing here caches results or affects
  * plans. */
object BuildLog {
  private val current = new java.util.concurrent.atomic.AtomicReference[String]("")
  private val builds =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()

  /** Forget every recorded build and the current query: called where a
    * Bench or Verify run starts, so a second run in the same JVM reports
    * only its own builds. */
  def reset(): Unit = {
    current.set("")
    builds.clear()
  }

  /** Set by the bench/verify loop: the query now on the clock. */
  def setCurrent(query: String): Unit = current.set(query)

  /** Record that `artifact` was built while the current query ran. */
  def note(artifact: String): Unit = {
    val q = current.get()
    if (q != null && q.nonEmpty) builds.add(q -> artifact): Unit
  }

  /** query → artifacts built during its timed run (insertion order). */
  def snapshot(): Map[String, Seq[String]] = {
    val it = builds.iterator()
    var acc = Vector.empty[(String, String)]
    while (it.hasNext) acc :+= it.next()
    acc.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  }
}
