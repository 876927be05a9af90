package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Reusable graph-analytics kernels — the library face of the x111/
  * x112/x135/x136/x137/x140/x141 contract rows (VERDICT r9 #5, the
  * [[Analytics]] pattern): every method takes caller frames with
  * caller-chosen column names; the operator rows delegate here with
  * the corpus columns bound. Nothing in this file touches the
  * test-corpus loaders.
  *
  * Scale shape shared by every iterative kernel: per round, one join
  * of the node-sized score/frontier vector to the edge list on the
  * node key plus one grouped merge — the edges never move, only the
  * vector shuffles, and lineage is cut per round through the
  * [[graft.Checkpoints]] seam (local checkpoint here; a reliable
  * checkpoint or intermediate table on a cluster). Determinism
  * contracts match the operator rows: float trajectories round each
  * contribution to 10 dp then sum EXACTLY in DECIMAL(28,15), so every
  * iteration is partial-order-independent and both engines walk
  * bitwise-identical trajectories.
  */
object Graph {

  private def dec(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(28, 15))).cast("double")

  /** Node-count gate for the scaled-long exact-sum fast path (round 17,
    * guide §"expressions and codegen" — VERDICT r16 ask #1's "scaled-long
    * exact partial sums" with the overflow proof made explicit).
    *
    * Both iterative float kernels (PageRank, HITS) sum per-row
    * contributions that are EXACT 10-dp decimals (`round(x, 10)`), and
    * the decimal spelling `sum(cast(c as DECIMAL(28,15)))` allocates a
    * non-long-backed Decimal + BigDecimal add per row — the dominant
    * per-task cost of the warm iterations (ProbeStages r17: x111 warm
    * taskSec 41 at 32 threads, almost all in the 16-task join+agg map
    * stages). When every contribution is provably small, the SAME exact
    * sum is computable in primitive longs: S = Σ round(c·1e10) with
    * c·1e10 integral.
    *
    * Exactness proof, step by step, for contributions 0 ≤ c ≤ B where
    * B ≤ 2·`FastSumNodeBound` = 1e5 (PageRank: total rank mass starts at
    * N ≤ nodeBound and stays ≤ 2N under the damped update, so any
    * single rank — and hence any contribution rank/deg — is ≤ 2N; HITS:
    * normalized scores are ≤ 1, first-round raw sums are ≤ N):
    *  1. round(c, 10) yields the nearest double d to the exact 10-dp
    *     decimal v; |d − v| ≤ v·1.1e-16.
    *  2. d·1e10 in IEEE has one more rounding: the computed value
    *     differs from v·1e10 (an integer) by ≤ v·1e10·2.3e-16
    *     ≤ 1e5·1e10·2.3e-16 = 0.23 < 0.5, so HALF_UP rounding to scale 0
    *     recovers the integer v·1e10 exactly, and the long cast is exact.
    *  3. Per-group sums are bounded by (total mass)·1e10 ≤ 2e15 < 2^53
    *     < Long.MaxValue: no overflow, and the closing cast to double is
    *     exact, so double division by 1e10 (a power of ten below 2^53,
    *     exactly representable) returns the correctly rounded double of
    *     S/1e10 — bit-identical to DECIMAL's toDouble of the same exact
    *     sum.
    * Outside the gate (nodeBound unknown or large) the kernels keep the
    * decimal spelling, so results are identical at EVERY scale — the
    * fast path is a provably-equal rewrite, not an approximation
    * (GraphSpec pins equality of the two spellings; the x111/x140
    * oracles re-verify end to end). */
  private[graft] val FastSumNodeBound = 50000L

  /** The scaled-long exact sum of 10-dp contributions (see
    * [[FastSumNodeBound]] for the equality proof and bounds). */
  private def longSum(c: org.apache.spark.sql.Column) =
    sum(round(c * lit(1e10d), 0).cast("long")).cast("double") / lit(1e10d)

  /** PageRank (Brin/Page 1998; damping 0.85, non-normalized form with
    * initial rank 1) over a directed edge frame whose source
    * OUT-DEGREE column is precomputed — the production entry when the
    * degree-annotated adjacency is a persisted table (the x111 staged
    * adjacency). See the class doc for the determinism policy. */
  def pageRankWithDeg(edges: DataFrame, srcCol: String, dstCol: String,
      degCol: String, iters: Int): DataFrame =
    pageRankWithDeg(edges, srcCol, dstCol, degCol, iters, 0L)

  /** As [[pageRankWithDeg]], with an optional caller-supplied UPPER
    * BOUND on the node count (0 = unknown). A small proven bound
    * (≤ [[FastSumNodeBound]]) switches the exact per-iteration sum from
    * DECIMAL(28,15) to scaled longs — identical results (see the
    * equality proof at [[FastSumNodeBound]]), codegen-primitive task
    * work. Callers with a staged adjacency derive the bound from
    * parquet footer stats (max node id), so the switch costs no job.
    * Engine-internal: the fast path is exact only if the caller
    * guarantees that the graph has at most `nodeBound` nodes and that
    * `degCol` is each source's true out-degree (the rank-mass bound of
    * [[FastSumNodeBound]]'s proof), and nothing here checks either. */
  private[graft] def pageRankWithDeg(edges: DataFrame, srcCol: String,
      dstCol: String, degCol: String, iters: Int,
      nodeBound: Long): DataFrame = {
    val fast = nodeBound > 0L && nodeBound <= FastSumNodeBound
    val ed = edges.select(col(srcCol).as("a"), col(dstCol).as("b"),
      col(degCol).as("deg"))
    var ranks = ed.select(col("a").as("node")).distinct()
      .withColumn("rank", lit(1.0))
    for (_ <- 1 to iters) {
      val c = round(col("rank") / col("deg"), 10).as("c")
      val esum = if (fast) longSum(col("c")) else dec(col("c"))
      ranks = ed.join(ranks, ed("a") === ranks("node"))
        .select(col("b"), c)
        .groupBy(col("b"))
        .agg((lit(0.15) + lit(0.85) * esum).as("rank"))
        .select(col("b").as("node"), col("rank"))
    }
    ranks
  }

  /** Convenience face of [[pageRankWithDeg]]: computes the out-degree
    * annotation (one grouped count + one join) from the edge frame. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame = {
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
    val deg = e.groupBy(col("a")).agg(count(lit(1)).as("deg"))
    pageRankWithDeg(e.join(deg, "a"), "a", "b", "deg", iters)
  }

  /** Triangle census over a canonical (src < dst) undirected edge
    * frame: total triangles, wedges (open 2-paths), and the global
    * clustering coefficient 3·Δ/wedges.
    *
    * Triangle closure runs DEGREE-ORIENTED (Chiba–Nishizeki / the
    * MapReduce triangle-counting standard): each edge points from its
    * lower-(deg, id) endpoint to the higher, so every node's
    * out-degree is O(√m) and no wedge join bucket goes hot (the repo's
    * PlanLint self-join-hot-key rule rejected the naive id orientation
    * on the test corpus). Each triangle is counted exactly once from
    * its minimum-rank vertex; wedge pairs STREAM out of a generator
    * over rank-sorted adjacency arrays — no self-join — and the
    * closing equi-join runs SHUFFLE_HASH with the edge side hashed
    * (the wedge side is the big one; sorting it for a merge join is
    * the plan's real cost). */
  def triangleCensus(edges: DataFrame, srcCol: String = "a",
      dstCol: String = "b"): DataFrame =
    triangleCensus(edges, srcCol, dstCol, closeBloomItems = 0L)

  /** As [[triangleCensus]], with an optional Bloom pre-filter on the
    * wedge stream ahead of the closing join (round 17, guide §3.2).
    * The wedge stream is the BIG side of the closing SHUFFLE_HASH join
    * (O(Σ out-deg²) pairs — 41M at sf0.1 for 1.2M edges) and only the
    * closing wedges survive it (1.88M = 4.6% at sf0.1), so almost the
    * entire wedge exchange is wasted bytes. `closeBloomItems > 0`
    * builds a Bloom filter over xxhash64(src, dst) of the oriented
    * edge list (expectedNumItems = the caller's EXACT edge count, e.g.
    * from staged parquet footers; 1% fpp ≈ 9.6 bits/edge) and drops
    * definitely-non-closing wedges BEFORE the exchange. False
    * positives only add a little shuffle; the exact equi-join still
    * decides membership, so the census is identical — the pre-filter
    * is a bytes optimization, never a semantics one. Callers gate on
    * edge count (the filter must stay broadcast-small); 0 keeps the
    * plain plan. A broadcast-hash spelling of the same idea was
    * measured and REJECTED (r17: 42.7→181 taskSec — the generator+
    * probe fusion serializes and the per-probe cost triples). */
  def triangleCensus(edges: DataFrame, srcCol: String,
      dstCol: String, closeBloomItems: Long): DataFrame = {
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
    val deg = e.select(col("a").as("n")).unionByName(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    val wedges = deg.agg(
      sum((col("deg") * (col("deg") - 1) / 2).cast("long")).as("n_wedges"))
    val withDeg = e
      .join(deg.select(col("n").as("a"), col("deg").as("dega")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("degb")), "b")
    val aLower = struct(col("dega"), col("a")) < struct(col("degb"), col("b"))
    val o = withDeg.select(
        when(aLower, col("a")).otherwise(col("b")).as("src"),
        when(aLower, col("b")).otherwise(col("a")).as("dst"),
        when(aLower, col("degb")).otherwise(col("dega")).as("dst_deg"))
      .localCheckpoint(true)
    val adj = o.groupBy(col("src"))
      .agg(sort_array(collect_list(struct(col("dst_deg").as("d"),
        col("dst").as("v")))).as("ns"))
    // each node's wedges are the in-row pairs of its rank-sorted
    // out-neighbourhood, from the one pair enumerator the basket kernels
    // use (its A/B against a slice spelling is on BasketOps.arrayPairs)
    val w = graft.operators.BasketOps.arrayPairs(adj, "ns", "xs", "ys")
      .select(col("xs.v").as("x"), col("ys.v").as("y"))
    val wf =
      if (closeBloomItems > 0L) {
        val bf = o.select(xxhash64(col("src"), col("dst")).as("h"))
          .stat.bloomFilter("h", closeBloomItems, 0.01)
        val bfB = edges.sparkSession.sparkContext.broadcast(bf)
        val mightClose = udf((h: Long) => bfB.value.mightContainLong(h))
        w.filter(mightClose(xxhash64(col("x"), col("y"))))
      } else w
    val tri = wf.join(o.as("e3").hint("shuffle_hash"),
        col("x") === col("e3.src") && col("y") === col("e3.dst"))
      .agg(count(lit(1)).as("n_triangles"))
    nNodes.crossJoin(nEdges).crossJoin(wedges).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
          .as("clustering_coef"))
  }

  /** Key-type-generic bounded Bellman–Ford relaxation from an initial
    * (node, dist) frontier frame over a directed edge frame: (node,
    * dist) for every node within `rounds` hops of the init set. */
  def ssspFrom(edges: DataFrame, srcCol: String, dstCol: String,
      init: DataFrame, rounds: Int): DataFrame = {
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
    var dist = init
    for (_ <- 1 to rounds) {
      val relaxed = e.join(dist, e("a") === dist("node"))
        .select(col("b").as("node"), (col("dist") + 1).as("dist"))
      dist = graft.Checkpoints.cut(
        dist.unionByName(relaxed)
          .groupBy(col("node")).agg(min(col("dist")).as("dist")))
    }
    dist
  }

  /** Single-source hop distances from one named source node. */
  def sssp(edges: DataFrame, srcCol: String, dstCol: String,
      source: String, rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    ssspFrom(edges, srcCol, dstCol,
      Seq((source, 0L)).toDF("node", "dist"), rounds)
  }

  /** k-core decomposition (Seidman 1983) over a canonical (src < dst)
    * edge frame by SIMULTANEOUS peel rounds — drop all nodes of degree
    * < k at once, recompute, repeat — deterministic regardless of
    * execution order (unlike sequential peeling). Convergence is
    * emitted AS DATA (min-degree ≥ k or empty core), never assumed.
    * Output: one-row core summary (nodes, edges, min degree,
    * converged). */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int): DataFrame = {
    def degrees(e: DataFrame): DataFrame =
      e.select(col("a").as("n"))
        .unionByName(e.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    // ADVICE r16: drop NULL-endpoint edges up front — the r16 peel
    // anti-joins the BAD set, and a NULL endpoint matches neither a
    // semi(keep) nor an anti(bad) probe, so without this filter a null
    // edge would survive every round where the pre-r16 semi spelling
    // dropped it in round 1. The shipped corpora have no null
    // endpoints (edge frames come from inner joins on non-null keys);
    // this pins the equivalence for arbitrary callers.
    var e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    // Round-16 optimizations (A/B'd in ProbeKcore, identical results):
    // (1) peel by ANTI-joining the set of nodes that fall OUT this
    //     round instead of SEMI-joining the survivor set — every edge
    //     endpoint appears in the degree table, so anti(bad) ≡
    //     semi(keep) row-for-row, but the peel set is the sparse side
    //     (empty at convergence), so AQE broadcasts it at runtime and
    //     the edge list is never shuffled for the filter (guide §3.1);
    // (2) STOP at the fixed point: when a round's peel set is empty,
    //     that round — and therefore every remaining round — is the
    //     identity on the edge set, so the final edges are
    //     bit-identical with or without running them (the simultaneous
    //     peel is deterministic and stationary once converged). The
    //     peel set is lineage-cut so the emptiness probe and the joins
    //     share one materialization.
    var converged = false
    for (_ <- 1 to rounds if !converged) {
      val bad = graft.Checkpoints.cut(
        degrees(e).filter(col("deg") < k).select(col("n")))
      if (bad.isEmpty) converged = true
      else e = graft.Checkpoints.cut(
        e.join(bad.select(col("n").as("a")), Seq("a"), "left_anti")
          .join(bad.select(col("n").as("b")), Seq("b"), "left_anti")
          .select(col("a"), col("b")))
    }
    val degF = degrees(e)
    val nodeStats = degF.agg(
      count(lit(1)).as("n_nodes"),
      coalesce(min(col("deg")), lit(0L)).as("min_deg"))
    val edgeStats = e.agg(count(lit(1)).as("n_edges"))
    nodeStats.crossJoin(edgeStats)
      .select(col("n_nodes"), col("n_edges"), col("min_deg"),
        (col("n_edges") === 0 || col("min_deg") >= k).as("converged"))
  }

  /** Connected components over an undirected edge frame — the
    * alternating large-star/small-star loop behind the dedup-cluster
    * family ([[TextPipeline.connectedComponentsWithRounds]]), surfaced
    * on the Graph face so a caller with a generic edge list need not
    * reach for the text-pipeline namespace. Returns (doc_id,
    * cluster_rep) with rep = the component's minimum node id. */
  def connectedComponents(edges: DataFrame, srcCol: String,
      dstCol: String, maxIter: Int = 25): DataFrame =
    TextPipeline.connectedComponents(edges, srcCol, dstCol, maxIter)

  /** Synchronous label propagation (Raghavan 2007) over an undirected
    * edge frame (symmetrized internally): argmax-by-neighbor-count
    * with the MIN-label tie rule, as one grouped min over a
    * (-count, label) struct — deterministic on any layout, window-
    * free. Returns (node, lbl) after `rounds` synchronous rounds. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    val sym = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .unionByName(edges.select(col(dstCol).as("src"),
        col(srcCol).as("dst")))
    var labels = sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    for (_ <- 1 to rounds) {
      val cnt = sym.join(labels, sym("dst") === labels("node"))
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
      labels = graft.Checkpoints.cut(
        cnt.groupBy(col("src"))
          .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l")))
            .as("top"))
          .select(col("src").as("node"), col("top.l").as("lbl")))
    }
    labels
  }

  /** HITS (Kleinberg 1999) over a directed edge frame: L1-normalized
    * hub and authority iterations, returned unioned as (kind, node,
    * score) with kind ∈ {hub, auth}. Per half-round the raw frame is
    * lineage-cut (it feeds both the norm scalar and the scores —
    * uncut, the plan doubles per round). */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame =
    hits(edges, srcCol, dstCol, rounds, 0L)

  /** As [[hits]], with an optional node-count upper bound (0 = unknown)
    * gating the scaled-long exact-sum fast path — same contract and
    * proof as [[pageRankWithDeg]]: contributions are 10-dp-rounded
    * scores ≤ 1 (≤ nodeBound for the first raw sums), so within the
    * gate the long spelling is bit-identical to the decimal one. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int, nodeBound: Long): DataFrame = {
    require(rounds >= 1, s"hits() needs at least one round, got $rounds")
    val fast = nodeBound > 0L && nodeBound <= FastSumNodeBound
    def esum(c: org.apache.spark.sql.Column) =
      if (fast) longSum(c) else dec(c)
    val e = edges.select(col(srcCol).as("s"), col(dstCol).as("c"))
    def l1normalize(df: DataFrame): DataFrame = {
      val raw = graft.Checkpoints.cut(df)
      val s = raw.agg(esum(round(col("raw"), 10)).as("l1"))
      raw.crossJoin(broadcast(s))
        .select(col("node"), round(col("raw") / col("l1"), 10).as("score"))
    }
    var hub = e.select(col("s").as("node")).distinct()
      .withColumn("score", lit(1.0))
    var auth: DataFrame = null
    for (_ <- 1 to rounds) {
      auth = l1normalize(
        e.join(hub, e("s") === hub("node"))
          .select(e("c"), round(col("score"), 10).as("contrib"))
          .groupBy(col("c")).agg(esum(col("contrib")).as("raw"))
          .select(col("c").as("node"), col("raw")))
      hub = l1normalize(
        e.join(auth, e("c") === auth("node"))
          .select(e("s"), round(col("score"), 10).as("contrib"))
          .groupBy(col("s")).agg(esum(col("contrib")).as("raw"))
          .select(col("s").as("node"), col("raw")))
    }
    hub.select(lit("hub").as("kind"), col("node"), col("score"))
      .unionByName(auth.select(lit("auth").as("kind"), col("node"),
        col("score")))
  }

  /** Modularity (Newman 2006) of a community assignment over a
    * canonical (src < dst) edge frame: the global row (community -1:
    * all nodes/edges/degree mass, Q at 8 dp) plus the top-10
    * communities by size with intra-edge count, degree mass, and
    * contribution. Q is computed as the EXACT integer numerator
    * Σ_c (4·m·e_c − D_c²) over 4·m² — BIGINT arithmetic on counts,
    * one closing IEEE division — so no float accumulates across
    * groups. */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, nodeCol: String, lblCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
    val lab = labels.select(col(nodeCol).as("node"), col(lblCol).as("lbl"))
    val la = lab.select(col("node").as("a"), col("lbl").as("la"))
    val lb = lab.select(col("node").as("b"), col("lbl").as("lb"))
    val tagged = e.join(la, "a").join(lb, "b")
    val intra = tagged.filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("intra_edges"))
    val deg = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val mass = lab.join(deg, "node").groupBy(col("lbl"))
      .agg(count(lit(1)).as("n_members"), sum(col("deg")).as("degree_sum"))
    val m = e.agg(count(lit(1)).as("m"))
    val perC = mass.join(intra, Seq("lbl"), "left")
      .na.fill(0L, Seq("intra_edges"))
      .crossJoin(broadcast(m))
      .withColumn("numer",
        lit(4L) * col("m") * col("intra_edges") -
          col("degree_sum") * col("degree_sum"))
    val top = perC
      .withColumn("contribution", round(
        col("numer").cast("double") / (lit(4L) * col("m") * col("m"))
          .cast("double"), 8))
      .select(col("lbl").cast("long").as("community"), col("n_members"),
        col("intra_edges"), col("degree_sum"), col("contribution"))
      .orderBy(col("n_members").desc, col("community")).limit(10)
    val global = perC.groupBy(col("m"))
      .agg(sum(col("n_members")).as("n_members"),
        sum(col("intra_edges")).as("intra_edges"),
        sum(col("degree_sum")).as("degree_sum"),
        sum(col("numer")).as("numer"))
      .select(lit(-1L).as("community"), col("n_members"),
        col("intra_edges"), col("degree_sum"),
        round(col("numer").cast("double") /
          (lit(4L) * col("m") * col("m")).cast("double"), 8)
          .as("contribution"))
    global.unionByName(top)
      .orderBy(col("n_members").desc, col("community"))
  }
}
