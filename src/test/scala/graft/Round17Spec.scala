package graft

import org.apache.spark.sql.functions._
import graft.operators.GraphOps

/** Round-17 optimization pins: every rewrite that changes an operator's
  * internals is asserted RESULT-IDENTICAL to the spelling it replaced
  * (the round's contract — same results, cheaper plan). */
class Round17Spec extends SparkSpec {
  import spark.implicits._

  private def plantedEdges() = {
    // two components + a hub: exercises deg>1, ties, isolated-ish nodes
    val sc = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (5L, 6L),
      (1L, 4L), (2L, 4L)).toDF("x", "y")
    sc.select(col("x").as("a"), col("y").as("b"))
      .unionByName(sc.select(col("y").as("a"), col("x").as("b")))
  }

  test("x111 core: scaled-long fast path is bit-identical to the " +
      "DECIMAL(28,15) spelling (gate on vs off)") {
    val e = plantedEdges()
    val deg = e.groupBy(col("a")).agg(count(lit(1)).as("deg"))
    val ed = e.join(deg, "a")
    val slow = graft.api.Graph
      .pageRankWithDeg(ed, "a", "b", "deg", 5, 0L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val fast = graft.api.Graph
      .pageRankWithDeg(ed, "a", "b", "deg", 5, 6L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(slow.keySet == fast.keySet)
    slow.foreach { case (k, v) =>
      assert(java.lang.Double.doubleToRawLongBits(v) ==
        java.lang.Double.doubleToRawLongBits(fast(k)), s"node $k")
    }
  }

  test("x140 core: scaled-long fast path is bit-identical to the " +
      "DECIMAL(28,15) spelling (gate on vs off)") {
    val e = plantedEdges().select(col("a").as("s"), col("b").as("c"))
    def m(nb: Long) = graft.api.Graph.hits(e, "s", "c", 3, nb)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val slow = m(0L)
    val fast = m(6L)
    assert(slow.keySet == fast.keySet)
    slow.foreach { case (k, v) =>
      assert(java.lang.Double.doubleToRawLongBits(v) ==
        java.lang.Double.doubleToRawLongBits(fast(k)), s"$k")
    }
  }

  test("x111/x140 contract rows run the fast path at the test corpus " +
      "(footer node bound fires) and stay oracle-shaped") {
    val r = GraphOps.x111PageRank(spark, sf).collect()
    assert(r.length == 20 && r.map(_.getDouble(1)).forall(_ > 0))
    val h = GraphOps.x140Hits(spark, sf).collect()
    assert(h.length == 20)
  }

  test("x112 core: bloom-prefiltered census equals the plain census " +
      "row-for-row, and the filter sits ahead of the closing join") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L)).toDF("a", "b")
    val slow = graft.api.Graph
      .triangleCensus(e, "a", "b", closeBloomItems = 0L).collect()(0)
    val fast = graft.api.Graph
      .triangleCensus(e, "a", "b", closeBloomItems = 6L).collect()(0)
    assert(slow == fast)
    val fdf = graft.api.Graph.triangleCensus(e, "a", "b",
      closeBloomItems = 6L)
    fdf.collect()
    val plan = fdf.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin") || plan.contains("shuffle_hash")
      || flattenPlan(fdf.queryExecution.executedPlan)
        .exists(_.getClass.getSimpleName.contains("ShuffledHashJoin")))
    assert(plan.contains("UDF") || plan.contains("mightClose"),
      s"bloom probe must appear in the executed plan:\n$plan")
  }

  test("x111 staged adjacency: window-degree bucketed build rows equal " +
      "the groupBy+join degree spelling; footer bound covers max id") {
    val probe = GraphOps.x111PageRank(spark, sf)
    probe.collect() // forces the staged build at sf0.001
    // recompute degrees independently and compare against the table
    val key = (sf.hashCode & 0x7fffffff).toHexString
    val t = spark.table(s"graft_trade_edges_$key")
    val e = t.select(col("a"), col("b"))
    val deg = e.groupBy(col("a")).agg(count(lit(1)).as("d"))
    val bad = t.join(deg, "a").filter(col("deg") =!= col("d")).count()
    assert(bad == 0L)
    // the staged table is symmetric: every node appears as a source,
    // so max(a) is the global max node id the footer bound relies on
    val Row = t.agg(max(col("a")), max(col("b"))).collect()(0)
    assert(Row.getLong(0) >= Row.getLong(1))
  }
}
