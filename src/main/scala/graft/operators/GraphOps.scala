package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Checkpoints.withAqeOff

/** GRAPH ANALYTICS theme module (round 11 — the ExtrasN naming-debt
  * retirement, VERDICT r10 #7): every iterative-graph contract row and
  * its shared staged artifacts in one place, moved verbatim from the
  * round-numbered Extras11/12/13 grab-bags. Operator bodies delegate
  * to the public column-parameterized [[graft.api.Graph]] kernels; this
  * module owns the CORPUS BINDINGS (which tables become which graph),
  * the cross-process staged adjacencies (trade edges, co-purchase
  * edges, LPA labels), and the unrolled-CTE oracles.
  *
  * Rows: x111 PageRank, x112 triangle census, x135 SSSP, x136 k-core,
  * x137 label propagation, x140 HITS, x141 modularity.
  */
object GraphOps {

  /** The directed trade graph both graph rows share: one edge per
    * DISTINCT (supplier, customer) shipping relationship (lineitem ⋈
    * orders), materialized in BOTH directions so the graph is
    * symmetric (every node has out-degree ≥ 1 — no dangling-mass
    * correction needed). Node ids are namespaced strings ('s…'/'c…')
    * so the two key domains can never collide. Memoized per (session,
    * corpus): the edge list with degrees is the persisted adjacency a
    * cluster job would build once. */
  private def tradeEdges(spark: SparkSession, sfDir: String): DataFrame =
    graft.Memo(spark, s"x111edges:$sfDir") {
      val s = Tables.tune(spark)
      // catalog name keyed by corpus like the data path (ADVICE r8): a
      // second corpus in the same session must get its OWN table, not
      // swap graft_trade_edges under the first corpus's memoized frame
      val key = (sfDir.hashCode & 0x7fffffff).toHexString
      val tbl = s"graft_trade_edges_$key"
      // CROSS-SESSION staging (VERDICT r8 #4 — the savePqModel
      // pattern): the bucketed adjacency files live under the shared
      // root, fingerprint-named by the two source tables; a later
      // process re-REGISTERS the table over the existing files instead
      // of re-running the fact join + distinct + bucketed write (~2/3
      // of x111's cold bench cost). Build publishes via one atomic
      // rename, so a concurrent builder can never expose a partial dir.
      // node ids DOMAIN-CODED to longs (supplier k → 2k, customer k →
      // 2k+1): an 8-byte fixed-width join/shuffle key instead of a
      // variable-width string — cheaper scan, hash, and sort on every
      // iteration of every consumer (x111 PageRank, x135 SSSP); the
      // contract output decodes back to 's…'/'c…' ([[decodeNode]]) so
      // the oracle never sees the coding. The dictionary-coding move
      // every 100 TB graph job makes before iterating.
      val nb = adjBuckets(sfDir)
      val home = adjHome(sfDir)
      var built: Option[DataFrame] = None
      Tables.ensureStaged(home)(tmp => withAqeOff(spark, nb) {
        val sc = Tables.lineitem(spark, sfDir)
          .select(col("l_orderkey"), col("l_suppkey"))
          .join(Tables.orders(spark, sfDir)
            .select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select((col("l_suppkey") * 2).cast("long").as("a"),
            (col("o_custkey") * 2 + 1).cast("long").as("b"))
          .distinct()
          // materialize ONCE: the union's two branches would otherwise
          // each re-run the fact join + distinct (the dominant cold
          // cost). Checkpoints seam: reliable/table modes by config
          .transform(graft.Checkpoints.cut)
        val edges = sc.unionByName(
          sc.select(col("b").as("a"), col("a").as("b")))
        // BUCKETED on the join key (x10's machinery): the edge table —
        // the BIG side of every PageRank iteration — carries hash(a)
        // partitioning in its layout, so each iteration's joins exchange
        // only the node-sized rank vector and the edges are never
        // re-shuffled. Round 17 (guide §2.4): the out-degree annotation
        // is a COUNT WINDOW over the same hash(a) exchange the bucketed
        // write needs anyway — the r16 spelling's separate degree
        // aggregate + join + re-repartition (three exchanges) collapse
        // to ONE exchange shared by window and layout; rows (a, b, deg)
        // are identical by definition (count per source key). Write
        // lands in a temp dir THROUGH a temp catalog entry (bucket
        // layout comes from saveAsTable), then the entry drops
        // (external table — files stay) and the dir publishes
        // atomically.
        val buildTbl = s"${tbl}_build"
        s.sql(s"DROP TABLE IF EXISTS $buildTbl")
        // repartition to the bucket spec BEFORE the write: without it
        // every task writes a file per bucket (tasks × nb small files);
        // aligned, it's nb files and the window sorts each bucket once
        val ann = edges.repartition(nb, col("a"))
          .withColumn("deg",
            count(lit(1)).over(Window.partitionBy(col("a"))))
        // round 17: the building session serves ITSELF from the built
        // frame — cache it so the bucketed write doubles as the cache
        // fill (same hash(a, nb) partitioning + per-bucket sort the
        // registered table would give), skipping the re-read + count
        // the reuse branch pays
        ann.cache()
        ann.write.mode("overwrite").option("path", tmp.getAbsolutePath)
          .bucketBy(nb, "a").sortBy("a").saveAsTable(buildTbl)
        s.sql(s"DROP TABLE IF EXISTS $buildTbl")
        built = Some(ann)
      })
      // per-session registration over the staged files: DDL carries the
      // same bucket spec, so scans keep hash(a) output partitioning
      // (the spec pins single-Exchange iterations on the reloaded table)
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl (a BIGINT, b BIGINT, deg BIGINT) " +
        s"USING parquet CLUSTERED BY (a) SORTED BY (a) INTO $nb BUCKETS " +
        s"LOCATION '${home.getAbsolutePath}'")
      built.getOrElse {
        // cache across iterations (InMemoryRelation keeps the bucketed
        // child's output partitioning): iteration 1 pays one parquet
        // scan, iterations 2..n scan memory — `persist(MEMORY_AND_DISK)`
        // on the adjacency is the standard iterative-job move on a
        // cluster, and here it removes 4 of the 5 cold file scans.
        // Round 17: FILL the cache here with one count — the first
        // consumer's plan submits its init-ranks and iteration-1
        // subtrees concurrently, and both racing to fill an empty cache
        // doubled the scan (ProbeStages: two parallel 8 s fill stages).
        val t = s.table(tbl).cache() // (a, b, deg) — long-coded nodes
        t.count()
        t
      }
    }

  /** Node-proportional shuffle width for the iterative kernels' cut
    * executions: one partition per ~2k nodes (node-sized vectors are
    * the only thing these exchanges carry), capped by the session's
    * configured width — grows with the corpus, never a local constant. */
  private def iterWidth(spark: SparkSession, sfDir: String): Int = {
    val n = adjNodeBound(spark, sfDir)
    if (n <= 0L) Int.MaxValue else math.max(2L, n / 2000L).toInt
  }

  /** Data-proportional bucket count for the staged adjacency (round 17,
    * guide §2 right-sizing): one bucket per ~64 MB of fact input
    * (lineitem + orders parquet bytes), rounded up to a power of two,
    * clamped to [8, 1024] — 8 at the test SFs, growing with the corpus
    * instead of a constant tuned to either local mode or a cluster. */
  private[graft] def adjBuckets(sfDir: String): Int = {
    val bytes = Tables.corpusBytes(sfDir, "lineitem", "orders")
    val want = (bytes / (64L << 20)).toInt + 1
    var nb = 8
    while (nb < want && nb < 1024) nb *= 2
    nb
  }

  /** Home dir of the staged trade adjacency (fingerprint-named; the
    * bucket count is part of the key, so a corpus-size change that
    * moves [[adjBuckets]] re-stages instead of mis-registering). */
  private[graft] def adjHome(sfDir: String): java.io.File =
    Tables.stagedHome("x111_edges", sfDir, Seq("lineitem", "orders"),
      s"b${adjBuckets(sfDir)}Lw")

  /** Upper bound on the trade graph's node count, from the STAGED
    * adjacency's parquet footer max(a) — driver-side metadata reads,
    * no Spark job (round 17; gates the scaled-long exact-sum fast path
    * in [[graft.api.Graph.FastSumNodeBound]]). Node ids are the dense
    * 2k/2k+1 coding, so N ≤ max(a) + 1; 0 when footer stats are
    * unusable (callers then keep the decimal path — same results). */
  private def adjNodeBound(spark: SparkSession, sfDir: String): Long =
    footerMaxLong(adjHome(sfDir), "a").map(_ + 2L).getOrElse(0L)

  /** Driver-side exact row count of a parquet dir from its footers
    * (~ms; no Spark job). None when the dir is missing or unreadable. */
  private[operators] def footerRowCount(dir: java.io.File): Option[Long] = {
    val files = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    if (files.isEmpty) return None
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    try Some(files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum)
    catch { case _: Exception => None }
  }

  /** Driver-side exact max of a BIGINT column across a parquet file's
    * or dir's footers (~ms; no job). None unless every file carries
    * usable stats for the column. Spark-written INT64 min/max stats
    * are exact (no truncation for fixed-width types). */
  private[operators] def footerMaxLong(dir: java.io.File,
      colName: String): Option[Long] = {
    val files =
      if (dir.isFile) Array(dir)
      else Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    if (files.isEmpty) return None
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    var mx = Long.MinValue
    var ok = true
    files.foreach { f =>
      if (ok) try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val it = r.getFooter.getBlocks.iterator()
          while (it.hasNext && ok) {
            val cit = it.next().getColumns.iterator()
            var seen = false
            while (cit.hasNext && ok) {
              val cc = cit.next()
              if (cc.getPath.toDotString == colName) {
                seen = true
                val st = cc.getStatistics
                if (st == null || !st.hasNonNullValue) ok = false
                else st.genericGetMax match {
                  case l: java.lang.Long => mx = math.max(mx, l.longValue)
                  case _ => ok = false
                }
              }
            }
            if (!seen) ok = false
          }
        } finally r.close()
      } catch { case _: Exception => ok = false }
    }
    if (ok && mx != Long.MinValue) Some(mx) else None
  }

  /** Decode a long-coded node id back to its 's…'/'c…' name. */
  private[operators] def decodeNode(node: org.apache.spark.sql.Column) =
    when(node % 2 === 0, concat(lit("s"), (node / 2).cast("long")))
      .otherwise(concat(lit("c"), ((node - 1) / 2).cast("long")))

  /** The staged adjacency, shared with x135's SSSP (with x135's SSSP). */
  private[operators] def tradeEdgesShared(spark: SparkSession,
      sfDir: String): DataFrame = tradeEdges(spark, sfDir)

  /** X111 — PageRank over the supplier↔customer trade graph (Brin/Page
    * 1998; damping 0.85, 5 fixed iterations, non-normalized form with
    * initial rank 1): the influence-centrality readout of a trade
    * network. Each iteration is the standard distributed shape — one
    * join of the rank vector to the out-edge list on the source key,
    * one grouped sum on the destination key — so per-iteration cost is
    * one shuffle keyed by node, and the rank vector (node-sized, tiny
    * next to edges) is what moves.
    *
    * Determinism engineering (§7.4 applied to an ITERATIVE float
    * algorithm): each contribution rank/deg is one IEEE division on
    * identical doubles, rounded to 10 dp (the dot6 policy's rule:
    * positive HALF_UP rounds identically in both engines), then summed
    * EXACTLY in DECIMAL(28,15) — so the per-iteration aggregation is
    * partial-order-independent and the 5-step trajectory is bitwise
    * reproducible; the oracle unrolls the same five steps as CTEs.
    * Output rounded to 6 dp with rank-then-node total order. */
  def x111PageRank(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = tradeEdges(spark, sfDir) // ensures the staged build
    // Round 17: run the five iterations EAGERLY through one lineage cut
    // under AQE-off + node-proportional width ([[withAqeOff]]) — the
    // whole chain executes as ONE job whose rank exchanges match the
    // bucketed adjacency's width (zero edge re-shuffles, no per-stage
    // AQE job round-trips; was 13 AQE jobs warm), and the caller's
    // action just top-k's the materialized 20-column vector. Results
    // are unchanged: the cut is the same materialization seam every
    // iterative kernel already uses.
    val ranks = withAqeOff(spark, iterWidth(spark, sfDir)) {
      graft.Checkpoints.cut(
        graft.api.Graph.pageRankWithDeg(edges, "a", "b", "deg", iters = 5,
          nodeBound = adjNodeBound(spark, sfDir)))
    }
    ranks
      .select(decodeNode(col("node")).as("node"),
        round(col("rank"), 6).as("rank"))
      .orderBy(col("rank").desc, col("node")).limit(20)
  }

  /** The iteration core over a degree-annotated directed edge list
    * (a, b, deg-of-a); see [[x111PageRank]] for the determinism
    * policy. Since round 10 a delegate to the public column-name-
    * parameterized [[graft.api.Graph.pageRankWithDeg]]. */
  def pageRank(edgesWithDeg: DataFrame, iters: Int): DataFrame =
    graft.api.Graph.pageRankWithDeg(edgesWithDeg, "a", "b", "deg", iters)

  /** X112 — triangle census of the co-purchase part graph (parts
    * appearing in the same order, x71's graph without the basket cap):
    * total triangles, wedges (open 2-paths), and the global clustering
    * coefficient 3·Δ/wedges — the connectivity summary that tells you
    * whether co-purchase structure is cliquey (bundles) or hub-like
    * (one staple in every basket).
    *
    * Scale shape: edges are enumerated INSIDE each order's sorted part
    * array (see [[coPurchaseEdgeFrame]]; per-order fan-out is
    * basket-size-bounded, never corpus-bounded); the triangle closure
    * runs DEGREE-ORIENTED (Chiba–Nishizeki — see [[triangleCensus]]):
    * each edge points from its lower-(deg, id) endpoint to the higher,
    * out-neighborhoods are O(√m)-bounded adjacency arrays, and wedge
    * pairs stream out of the same in-row enumerator into one equi-join against the oriented edge list — each triangle
    * counted exactly once from its minimum-rank vertex (PlanLint's
    * self-join-hot-key rule rejected the naive id orientation on this
    * very corpus). Wedges are pure integer arithmetic off the degree
    * table — no second pass. */
  def x112Triangles(spark: SparkSession, sfDir: String): DataFrame = {
    val e = coPurchaseEdges(spark, sfDir) // ensures the staged build
    // Round 17 (guide §3.2): Bloom-prefilter the wedge stream ahead of
    // the closing join — only 4.6% of wedges close at sf0.1, so the
    // 41M-row wedge exchange is almost all waste. The filter's
    // expectedNumItems is the EXACT staged edge count from parquet
    // footers (driver metadata, no job); gated to ≤100M edges so the
    // broadcast filter stays ≤~120MB — a 100 TB corpus's edge list
    // falls back to the plain shuffle-hash plan. Results identical
    // (the exact join still decides; see triangleCensus).
    val edgeRows = footerRowCount(copurchaseHome(sfDir)).getOrElse(0L)
    graft.api.Graph.triangleCensus(e, "a", "b",
      closeBloomItems = if (edgeRows > 0L && edgeRows <= 100000000L)
        edgeRows else 0L)
  }

  /** Home dir of the staged co-purchase edge set (fingerprint-named). */
  private def copurchaseHome(sfDir: String): java.io.File =
    Tables.stagedHome("copurchase", sfDir, Seq("lineitem"), "copurch")

  /** The canonical (a < b) co-purchase part edge set, memoized per
    * (session, corpus) AND staged cross-session under the shared root
    * (the x111-adjacency pattern): x112's census, x136's k-core peel
    * and x137/x141's label propagation share one build, and a LATER
    * PROCESS reloads the staged parquet instead of re-running
    * [[coPurchaseEdgeFrame]]. */
  private[operators] def coPurchaseEdges(spark: SparkSession,
      sfDir: String): DataFrame =
    graft.Memo(spark, s"copurchase:$sfDir") {
      val home = copurchaseHome(sfDir)
      // round 17: build AQE-off at fact-proportional width — one job
      // instead of one per exchange stage; same rows
      Tables.ensureStaged(home)(tmp => withAqeOff(spark, adjBuckets(sfDir)) {
        coPurchaseEdgeFrame(Tables.lineitem(spark, sfDir))
          .write.mode("overwrite").parquet(tmp.getAbsolutePath)
      })
      Tables.tune(spark).read.parquet(home.getAbsolutePath)
    }

  /** The distinct (a < b) pairs of parts sharing an order, over
    * (l_orderkey, l_partkey) rows: each order becomes one row of its
    * sorted distinct parts ([[BasketOps.basketItems]], no cap — the
    * graph keeps every order), its pairs come out of that row
    * ([[BasketOps.arrayPairs]]), and one `distinct` merges the orders.
    * No join: one shuffle on the order key, one on the pair. A null
    * order or a null part never pairs. */
  private[graft] def coPurchaseEdgeFrame(li: DataFrame): DataFrame =
    BasketOps.arrayPairs(BasketOps.basketItems(
        li.select(col("l_orderkey").as("basket"),
          col("l_partkey").as("item")), cap = Int.MaxValue),
        "items", "a", "b")
      .distinct()

  /** The census core over a canonical (a < b) undirected edge list;
    * see [[x112Triangles]]. Exposed for spec-level hand-checks.
    *
    * Triangle closure runs DEGREE-ORIENTED (Chiba–Nishizeki / the
    * MapReduce triangle-counting standard): each edge points from its
    * lower-(deg, id) endpoint to the higher, so every node's OUT-degree
    * is O(√m) and the wedge self-join on the source key has no hot
    * bucket — the repo's own PlanLint self-join-hot-key rule rejected
    * the naive id orientation on this very corpus (one part with 102
    * in-edges → a 102² bucket), which is the lint earning its keep.
    * Each triangle is counted exactly once from its minimum-rank
    * vertex, and the closing edge is necessarily oriented low→high
    * rank, so one equi-join closes the wedge. */
  def triangleCensus(e: DataFrame): DataFrame =
    graft.api.Graph.triangleCensus(e, "a", "b")

  // ---------------------------------------------------------------- x135

  /** X135 — single-source shortest paths (hop distance) over the SAME
    * persisted bucketed trade adjacency x111 serves from (VERDICT r8
    * #7): `rounds` Bellman–Ford relaxations from supplier node 's1',
    * each round one join of the frontier-bearing distance vector to the
    * out-edge list on the bucketed key plus a min-merge — so, exactly
    * like PageRank, per-round cost is one shuffle of the NODE-sized
    * distance vector and the edges never move. Output is the distance
    * histogram (≤ rounds+1 rows): the reachability readout of the trade
    * network from its busiest supplier. Integer hop arithmetic — no
    * float policy needed; the oracle runs the textbook bounded
    * recursive CTE and min-aggregates walks to shortest paths. */
  def x135Sssp(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // source = supplier 1, long-coded 2·1 = 2 (the adjacency's coding)
    // round 17: the six per-round cuts execute eagerly — run them
    // AQE-off at node-proportional width (see x111) — same results
    val dist = withAqeOff(spark, iterWidth(spark, sfDir)) {
      ssspFrom(tradeAdjacency(spark, sfDir),
        Seq((2L, 0L)).toDF("node", "dist"), SsspRounds)
    }
    dist
      .groupBy(col("dist")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("dist"))
  }

  /** The relaxation core over a directed (a, b) edge list: (node, dist)
    * for every node within `rounds` hops of `source`. Exposed for
    * spec-level hand-checks on planted string graphs. */
  def sssp(edges: DataFrame, source: String, rounds: Int): DataFrame =
    graft.api.Graph.sssp(edges, "a", "b", source, rounds)

  /** Key-type-generic relaxation loop from an initial (node, dist)
    * frontier frame — a delegate to [[graft.api.Graph.ssspFrom]]. */
  def ssspFrom(edges: DataFrame, init: DataFrame, rounds: Int): DataFrame =
    graft.api.Graph.ssspFrom(edges, "a", "b", init, rounds)

  private val SsspRounds = 6

  // ---------------------------------------------------------------- x136

  /** X136 — k-core decomposition (k=3, the graph-ML feature-prep
    * standard: the maximal subgraph where every node keeps ≥ k
    * neighbors — Seidman 1983) of the co-purchase part graph (x112's
    * edge set). Simultaneous peel rounds: drop all nodes of degree < k
    * at once, recompute, repeat — DETERMINISTIC regardless of
    * execution order (unlike sequential peeling), so both engines walk
    * the identical trajectory; convergence is emitted AS DATA
    * (min-degree ≥ k or empty core) rather than assumed, so an
    * unconverged bound at some corpus shows up as `converged = false`
    * on both sides, never as a silent mismatch. Per round: one
    * endpoint-union degree aggregate + two semi joins — all keyed by
    * node, edges shrink monotonically; lineage cut per round through
    * the Checkpoints seam. Oracle unrolls the same rounds as CTEs. */
  def x136KCore(spark: SparkSession, sfDir: String): DataFrame = {
    val e = coPurchaseEdges(spark, sfDir)
    // round 17: the per-round peel cuts + emptiness probes execute
    // eagerly — run them AQE-off at edge-proportional width (see x111)
    withAqeOff(spark, cpWidth(sfDir)) { kCore(e, KCoreK, KCoreRounds) }
  }

  /** Edge-proportional shuffle width for the co-purchase-graph loops:
    * one partition per ~250k staged edge rows (footer counts, no job),
    * capped by the session width inside
    * [[graft.Checkpoints.withAqeOff]]. */
  private def cpWidth(sfDir: String): Int = {
    val rows = footerRowCount(copurchaseHome(sfDir)).getOrElse(0L)
    if (rows <= 0L) Int.MaxValue else math.max(2L, rows / 250000L).toInt
  }

  private val KCoreK = 3
  private val KCoreRounds = 8

  /** The peel loop over a canonical (a < b) edge list; exposed for
    * spec-level hand-checks on planted graphs. Output is the one-row
    * core summary: surviving nodes/edges, the final min degree, and
    * the convergence verdict. */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame =
    graft.api.Graph.kCore(edges, "a", "b", k, rounds)

  /** The x111/x135 shared adjacency, through the staged table. */
  private def tradeAdjacency(spark: SparkSession, sfDir: String): DataFrame =
    tradeEdgesShared(spark, sfDir)

  // ---------------------------------------------------------------- x137

  /** X137 — label-propagation communities (Raghavan 2007, the
    * synchronous variant) of the co-purchase part graph (x112/x136's
    * staged edge set): every node starts labeled with its own id; each
    * round every node adopts the most frequent label among its
    * NEIGHBORS, ties broken toward the smallest label — a fully
    * deterministic update rule (classic async LPA is visit-order
    * dependent; the synchronous min-tie rule walks one trajectory on
    * any cluster layout, so both engines land on identical labels).
    * Output is the community-size histogram (top 20 by size): the
    * "what sells together" clustering a merchandiser reads.
    *
    * Scale shape, per round: one edge-keyed join shipping (node,
    * neighbor-label) pairs — LPA's inherent edge-sized shuffle — then
    * two node-keyed grouped aggregates; the argmax label is a
    * min-of-struct aggregate, NOT a window, so there is no
    * single-partition sort anywhere. Lineage cut per round through the
    * Checkpoints seam (local stand-in; reliable checkpoint on a
    * cluster). */
  def x137LabelProp(spark: SparkSession, sfDir: String): DataFrame =
    lpaLabelsShared(spark, sfDir)
      .groupBy(col("lbl")).agg(count(lit(1)).as("n_members"))
      .select(col("lbl").cast("long").as("community"), col("n_members"))
      .orderBy(col("n_members").desc, col("community")).limit(20)

  private[operators] val LpaRounds = 4

  /** The 4-round LPA labels over the staged co-purchase graph, built
    * once per (session, corpus) AND staged cross-process (the cclabels
    * pattern: fingerprint-named dir, one atomic publish) — x137 reads
    * the size histogram and x141 scores modularity off the SAME
    * assignment, and a later process reloads the label table outright
    * instead of re-running the 4 edge-shuffle rounds. On a cluster
    * this is the persisted `communities` table the serving jobs scan. */
  def lpaLabelsShared(spark: SparkSession, sfDir: String): DataFrame =
    graft.Memo(spark, s"lpa_labels:$sfDir") {
      val home = Tables.stagedHome("lpalabels", sfDir,
        Seq("lineitem", "orders"), s"lpa$LpaRounds")
      Tables.ensureStaged(home) { tmp =>
        val edges = coPurchaseEdges(spark, sfDir) // build outside scope
        // round 17: the four per-round cuts execute eagerly — build
        // AQE-off at edge-proportional width (see x111); the write
        // itself also runs inside the scope (same width)
        withAqeOff(spark, cpWidth(sfDir)) {
          labelPropagation(edges, LpaRounds)
            .write.mode("overwrite").parquet(tmp.getAbsolutePath)
        }
      }
      Tables.tune(spark).read.parquet(home.getAbsolutePath)
    }

  /** The synchronous propagation loop over a canonical (a < b) edge
    * list; returns (node, lbl) after `rounds`. Exposed for spec-level
    * hand-checks on planted graphs. */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame =
    graft.api.Graph.labelPropagation(edges, "a", "b", rounds)

  // ---------------------------------------------------------------- x140

  private val HitsRounds = 3

  /** X140 — HITS hubs & authorities (Kleinberg JACM'99) over the
    * DIRECTED supplier→customer trade graph: suppliers are hubs
    * (they ship broadly), customers are authorities (they are shipped
    * to by good hubs). 3 rounds of the standard mutual-reinforcement
    * update with L1 normalization; top-10 of each side.
    *
    * The directed edge set is the even-`a` half of x111's STAGED
    * bucketed adjacency (supplier ids are domain-coded to even longs,
    * so orientation recovery is a codegen'd filter, not a rebuild) —
    * a second link-analysis readout served from the same build-once
    * artifact, which is exactly how a cluster amortizes graph prep.
    *
    * Determinism (the x111 iterative-float policy): every contribution
    * is rounded to 10 dp then summed EXACTLY in DECIMAL(28,15); the L1
    * norm is the same decimal sum of the 10 dp-rounded raw scores; the
    * normalizing division is one IEEE op on identical doubles, rounded
    * back to 10 dp — so the 3-round trajectory is bitwise reproducible
    * and the oracle unrolls the identical CTEs. The norm scalar rides
    * a broadcast 1-row crossJoin, never a driver collect. */
  def x140Hits(spark: SparkSession, sfDir: String): DataFrame = {
    val e = tradeEdgesShared(spark, sfDir)
      .filter(col("a") % 2 === 0)        // supplier→customer orientation
      .select(col("a").as("s"), col("b").as("c"))
    // Round 17: the six per-half-round lineage cuts execute EAGERLY at
    // construction, and under AQE each cut's tiny plan fans out into
    // 3+ driver-round-trip jobs (ProbeStages: 42 jobs, taskSec 7.5 —
    // pure fixed cost at this node count). Building the iteration
    // under adaptive=false packs each cut into one job; results are
    // unaffected (AQE never changes semantics) and the conf is
    // restored before the caller's action runs.
    val scored = withAqeOff(spark, iterWidth(spark, sfDir)) {
      graft.api.Graph.hits(e, "s", "c", HitsRounds,
        nodeBound = adjNodeBound(spark, sfDir))
    }
    scored
      .select(col("kind"), decodeNode(col("node")).as("node"),
        round(col("score"), 6).as("score"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("kind"))
        .orderBy(col("score").desc, col("node"))))
      .filter(col("rn") <= 10).drop("rn")
      .orderBy(col("kind"), col("score").desc, col("node"))
  }

  /** The HITS iteration core over a directed (s, c) edge list; returns
    * the union of hub and authority scores as (kind, node, score).
    * Exposed for spec-level hand-checks on planted graphs. */
  def hits(edges: DataFrame, rounds: Int): DataFrame =
    graft.api.Graph.hits(edges, "s", "c", rounds)

  // ---------------------------------------------------------------- x141

  /** X141 — modularity (Newman 2006) of the x137 label-propagation
    * communities on the co-purchase part graph: the number every
    * community detection run is judged by (Q ≈ 0 — no structure;
    * Q ≳ 0.3 — real communities). Output: the global row (community
    * -1: all nodes, all edges, total degree, Q) plus the top-10
    * communities by size with their intra-edge count, degree mass,
    * and modularity contribution.
    *
    * Exactness: Q = Σ_c (e_c/m − (D_c/2m)²) is computed as the EXACT
    * integer numerator Σ_c (4·m·e_c − D_c²) over 4·m² — every term is
    * BIGINT arithmetic on counts, and the single closing division is
    * one IEEE op rounded to 8 dp, so no float accumulates across
    * groups. Plan: labels join twice against the edge list (both
    * node-keyed), two grouped aggregates — no window, no all-pairs. */
  def x141Modularity(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = coPurchaseEdges(spark, sfDir)
    modularity(edges, lpaLabelsShared(spark, sfDir))
  }

  /** The modularity scorer over a canonical (a < b) edge list and a
    * (node, lbl) community assignment; exposed for spec hand-checks. */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame =
    graft.api.Graph.modularity(edges, "a", "b", labels, "node", "lbl")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x111_pagerank" -> (x111PageRank _),
    "x112_triangles" -> (x112Triangles _),
    "x135_sssp" -> (x135Sssp _),
    "x136_kcore" -> (x136KCore _),
    "x137_label_prop" -> (x137LabelProp _),
    "x140_hits" -> (x140Hits _),
    "x141_modularity" -> (x141Modularity _))

  private val EdgeSql =
    "SELECT DISTINCT 's' || l_suppkey AS a, 'c' || o_custkey AS b " +
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
  private def prStep(prev: String, next: String): String =
    s"$next AS (SELECT b AS node, CAST(0.15 AS DOUBLE) + " +
    "CAST(0.85 AS DOUBLE) * CAST(SUM(CAST(round(rank / deg, 10) " +
    s"AS DECIMAL(28,15))) AS DOUBLE) AS rank FROM ed JOIN $prev " +
    s"ON ed.a = $prev.node GROUP BY b)"

  /** One unrolled peel round of the x136 oracle. Every stage is
    * MATERIALIZED: each round references its predecessor three times,
    * and DuckDB's default CTE inlining would otherwise expand the
    * chain exponentially (observed: "too many open files" from 2^8
    * copies of the base scan). */
  private def kcIterSql(prev: String, n: Int): String =
    s"d$n AS MATERIALIZED (SELECT n, COUNT(*) AS deg FROM " +
    s"(SELECT a AS n FROM $prev " +
    s"UNION ALL SELECT b FROM $prev) t GROUP BY n), " +
    s"k$n AS MATERIALIZED (SELECT n FROM d$n WHERE deg >= $KCoreK), " +
    s"e$n AS MATERIALIZED (SELECT a, b FROM $prev " +
    s"WHERE a IN (SELECT n FROM k$n) " +
    s"AND b IN (SELECT n FROM k$n))"

  private val KCoreSql: String = {
    val rounds = (1 to KCoreRounds)
      .map(i => kcIterSql(s"e${i - 1}", i)).mkString(", ")
    "WITH e0 AS MATERIALIZED (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b " +
    "FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey " +
    "AND x.l_partkey < y.l_partkey), " + rounds + ", " +
    s"df AS (SELECT n, COUNT(*) AS deg FROM (SELECT a AS n " +
    s"FROM e$KCoreRounds UNION ALL SELECT b FROM e$KCoreRounds) t " +
    "GROUP BY n) " +
    "SELECT CAST((SELECT COUNT(*) FROM df) AS BIGINT) AS n_nodes, " +
    s"CAST((SELECT COUNT(*) FROM e$KCoreRounds) AS BIGINT) AS n_edges, " +
    "CAST((SELECT COALESCE(MIN(deg), 0) FROM df) AS BIGINT) AS min_deg, " +
    s"((SELECT COUNT(*) FROM e$KCoreRounds) = 0 OR " +
    s"(SELECT COALESCE(MIN(deg), 0) FROM df) >= $KCoreK) AS converged"
  }

  /** One unrolled propagation round of the x137 oracle: neighbor-label
    * counts, then argmax-by-count (tie -> min label) as a row_number
    * window — a deliberately different spelling of the same
    * deterministic rule the Spark side computes as a min-of-struct
    * aggregate. MATERIALIZED for the same CTE-inlining reason as the
    * k-core rounds. */
  private def lpaIterSql(prev: String, n: Int): String =
    s"l$n AS MATERIALIZED (SELECT node, lbl FROM (" +
    "SELECT node, lbl, row_number() OVER (PARTITION BY node " +
    "ORDER BY c DESC, lbl) AS rn FROM (" +
    "SELECT s.src AS node, p.lbl AS lbl, COUNT(*) AS c " +
    s"FROM sym s JOIN $prev p ON p.node = s.dst " +
    "GROUP BY s.src, p.lbl) g) t WHERE rn = 1)"

  /** The shared LPA oracle chain (e0 + sym + l0..l`LpaRounds` CTE
    * bodies, no WITH keyword, no final SELECT) — reused by the x141
    * modularity oracle, which scores exactly these labels. */
  private[operators] val LpaChainSql: String = {
    val rounds = (1 to LpaRounds)
      .map(i => lpaIterSql(s"l${i - 1}", i)).mkString(", ")
    "e0 AS MATERIALIZED (SELECT DISTINCT x.l_partkey AS a, " +
    "y.l_partkey AS b FROM lineitem x JOIN lineitem y " +
    "ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey), " +
    "sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0 " +
    "UNION ALL SELECT b, a FROM e0), " +
    "l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl " +
    "FROM sym), " + rounds
  }

  private val LpaSql: String =
    "WITH " + LpaChainSql + " " +
    s"SELECT CAST(lbl AS BIGINT) AS community, " +
    s"CAST(COUNT(*) AS BIGINT) AS n_members FROM l$LpaRounds " +
    "GROUP BY lbl ORDER BY n_members DESC, community LIMIT 20"

  private val SsspSql: String =
    "WITH RECURSIVE sc AS (SELECT DISTINCT 's' || l_suppkey AS a, " +
    "'c' || o_custkey AS b FROM lineitem JOIN orders " +
    "ON l_orderkey = o_orderkey), " +
    "e AS (SELECT a, b FROM sc UNION ALL SELECT b, a FROM sc), " +
    "walk(node, dist) AS (SELECT 's1', 0 UNION " +
    "SELECT e.b, walk.dist + 1 FROM walk JOIN e ON e.a = walk.node " +
    s"WHERE walk.dist < $SsspRounds), " +
    "sp AS (SELECT node, MIN(dist) AS dist FROM walk GROUP BY node) " +
    "SELECT CAST(dist AS BIGINT) AS dist, " +
    "CAST(COUNT(*) AS BIGINT) AS n_nodes FROM sp " +
    "GROUP BY dist ORDER BY dist"

  /** One unrolled HITS round: auth raw sums + L1 norm + normalized
    * scores, then the hub mirror — the identical decimal/round-10
    * spelling as [[hits]]. MATERIALIZED: each CTE is referenced twice
    * (score + norm) and DuckDB default-inlines chains. */
  private def hitsIterSql(prevH: String, n: Int): String =
    s"ar$n AS MATERIALIZED (SELECT e.c AS node, " +
    s"CAST(SUM(CAST(round(h.score, 10) AS DECIMAL(28,15))) AS DOUBLE) " +
    s"AS raw FROM e JOIN $prevH h ON h.node = e.s GROUP BY e.c), " +
    s"a$n AS MATERIALIZED (SELECT node, round(raw / (SELECT " +
    s"CAST(SUM(CAST(round(raw, 10) AS DECIMAL(28,15))) AS DOUBLE) " +
    s"FROM ar$n), 10) AS score FROM ar$n), " +
    s"hr$n AS MATERIALIZED (SELECT e.s AS node, " +
    s"CAST(SUM(CAST(round(a.score, 10) AS DECIMAL(28,15))) AS DOUBLE) " +
    s"AS raw FROM e JOIN a$n a ON a.node = e.c GROUP BY e.s), " +
    s"h$n AS MATERIALIZED (SELECT node, round(raw / (SELECT " +
    s"CAST(SUM(CAST(round(raw, 10) AS DECIMAL(28,15))) AS DOUBLE) " +
    s"FROM hr$n), 10) AS score FROM hr$n)"

  private val HitsSql: String = {
    val rounds = (1 to HitsRounds)
      .map(i => hitsIterSql(s"h${i - 1}", i)).mkString(", ")
    "WITH e AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, " +
    "o_custkey AS c FROM lineitem JOIN orders " +
    "ON l_orderkey = o_orderkey), " +
    "h0 AS MATERIALIZED (SELECT DISTINCT s AS node, 1.0 AS score " +
    "FROM e), " + rounds + ", " +
    s"scored AS (SELECT 'hub' AS kind, 's' || node AS node, " +
    s"round(score, 6) AS score FROM h$HitsRounds " +
    s"UNION ALL SELECT 'auth', 'c' || node, round(score, 6) " +
    s"FROM a$HitsRounds) " +
    "SELECT kind, node, score FROM (SELECT kind, node, score, " +
    "row_number() OVER (PARTITION BY kind " +
    "ORDER BY score DESC, node) AS rn FROM scored) t WHERE rn <= 10 " +
    "ORDER BY kind, score DESC, node"
  }

  private val ModularitySql: String =
    "WITH " + LpaChainSql + ", " +
    s"lab AS MATERIALIZED (SELECT node, lbl FROM l${LpaRounds}), " +
    "m AS (SELECT COUNT(*) AS m FROM e0), " +
    "intra AS MATERIALIZED (SELECT la.lbl AS lbl, COUNT(*) AS intra_edges " +
    "FROM e0 JOIN lab la ON la.node = e0.a " +
    "JOIN lab lb ON lb.node = e0.b WHERE la.lbl = lb.lbl GROUP BY la.lbl), " +
    "deg AS MATERIALIZED (SELECT n AS node, COUNT(*) AS deg FROM " +
    "(SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) t GROUP BY n), " +
    "mass AS MATERIALIZED (SELECT l.lbl, COUNT(*) AS n_members, " +
    "SUM(d.deg) AS degree_sum FROM lab l JOIN deg d ON d.node = l.node " +
    "GROUP BY l.lbl), " +
    "perc AS MATERIALIZED (SELECT mass.lbl, mass.n_members, " +
    "COALESCE(i.intra_edges, 0) AS intra_edges, mass.degree_sum, " +
    "4 * m.m * COALESCE(i.intra_edges, 0) " +
    "- mass.degree_sum * mass.degree_sum AS numer, m.m AS m " +
    "FROM mass LEFT JOIN intra i ON i.lbl = mass.lbl CROSS JOIN m), " +
    "gtot AS (SELECT CAST(-1 AS BIGINT) AS community, " +
    "CAST(SUM(n_members) AS BIGINT) AS n_members, " +
    "CAST(SUM(intra_edges) AS BIGINT) AS intra_edges, " +
    "CAST(SUM(degree_sum) AS BIGINT) AS degree_sum, " +
    "round(CAST(SUM(numer) AS DOUBLE) / " +
    "CAST(4 * ANY_VALUE(m) * ANY_VALUE(m) AS DOUBLE), 8) AS contribution " +
    "FROM perc), " +
    "top AS (SELECT CAST(lbl AS BIGINT) AS community, " +
    "CAST(n_members AS BIGINT) AS n_members, " +
    "CAST(intra_edges AS BIGINT) AS intra_edges, " +
    "CAST(degree_sum AS BIGINT) AS degree_sum, " +
    "round(CAST(numer AS DOUBLE) / CAST(4 * m * m AS DOUBLE), 8) " +
    "AS contribution FROM perc " +
    "ORDER BY n_members DESC, community LIMIT 10) " +
    "SELECT * FROM (SELECT * FROM gtot UNION ALL SELECT * FROM top) u " +
    "ORDER BY n_members DESC, community"

  val oracles: Map[String, String] = Map(
    // the same five iterations unrolled as CTEs, same rounding/decimal
    // policy at every step
    "x111_pagerank" ->
      (s"WITH sc AS ($EdgeSql), " +
       "e AS (SELECT a, b FROM sc UNION ALL SELECT b, a FROM sc), " +
       "d AS (SELECT a, COUNT(*) AS deg FROM e GROUP BY a), " +
       "ed AS (SELECT e.a, e.b, d.deg FROM e JOIN d USING (a)), " +
       "r0 AS (SELECT a AS node, CAST(1.0 AS DOUBLE) AS rank FROM d), " +
       prStep("r0", "r1") + ", " + prStep("r1", "r2") + ", " +
       prStep("r2", "r3") + ", " + prStep("r3", "r4") + ", " +
       prStep("r4", "r5") + " " +
       "SELECT node, round(rank, 6) AS rank FROM r5 " +
       "ORDER BY rank DESC, node LIMIT 20"),
    // exhaustive oriented recompute: same edge set, same a<b<c closure
    "x112_triangles" ->
      ("WITH e AS (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b " +
       "FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey " +
       "AND x.l_partkey < y.l_partkey), " +
       "deg AS (SELECT n, COUNT(*) AS deg FROM " +
       "(SELECT a AS n FROM e UNION ALL SELECT b FROM e) t GROUP BY n), " +
       "agg AS (SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes, " +
       "CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges, " +
       "CAST((SELECT SUM(deg * (deg - 1) // 2) FROM deg) AS BIGINT) AS n_wedges, " +
       "CAST((SELECT COUNT(*) FROM e e1 JOIN e e2 ON e1.b = e2.a " +
       "JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b) AS BIGINT) AS n_triangles) " +
       "SELECT n_nodes, n_edges, n_wedges, n_triangles, " +
       "round(3.0 * n_triangles / n_wedges, 6) AS clustering_coef FROM agg"),
    "x135_sssp" -> SsspSql,
    "x136_kcore" -> KCoreSql,
    "x137_label_prop" -> LpaSql,
    "x140_hits" -> HitsSql,
    "x141_modularity" -> ModularitySql)
}
