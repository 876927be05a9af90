package graft

import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.functions._
import graft.operators.{EventOps, SqlSurface}

class Extras9Spec extends SparkSpec {

  test("x64: every planted corruption is recovered (blocking recall) " +
      "and the plan has no cartesian product") {
    val df = graft.operators.TextIndexOps.x64FuzzyJoin(spark, sf)
    val rows = df.collect()
    val dirtyKeys = Tables.customer(spark, sf)
      .filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet
    val selfMatches = rows.filter(r => r.getLong(0) == r.getLong(1))
      .map(_.getLong(0)).toSet
    assert(selfMatches == dirtyKeys,
      s"every dirty record must match its own master row: " +
        s"missing ${dirtyKeys -- selfMatches}")
    assert(rows.forall(_.getInt(2) <= 1))
    val cart = flattenPlan(df.queryExecution.executedPlan).collect {
      case c: CartesianProductExec => c
    }
    assert(cart.isEmpty, "deletion-neighborhood blocking must replace " +
      "the cross join with an equi-join")
  }

  test("x64 core: a pure substitution (not just deletions) is found — " +
      "the neighborhood lemma covers all three edit kinds") {
    import spark.implicits._
    val dirty = Seq((1L, "abXd")).toDF("dirty_key", "dirty_name")
    val clean = Seq((10L, "abcd"), (11L, "zzzz"))
      .toDF("clean_key", "clean_name")
    val got = graft.operators.TextIndexOps.fuzzyJoinDist1(dirty, clean).collect()
    assert(got.length == 1 && got(0).getLong(1) == 10L
      && got(0).getInt(2) == 1)
  }

  test("x65: per-day peaks are positive, bounded by the day's events, " +
      "and days cover the corpus span") {
    val rows = EventOps.x65PeakConcurrency(spark, sf).collect()
    assert(rows.length >= 28, s"expected ~30 days, got ${rows.length}")
    rows.foreach { r =>
      val (n, peak) = (r.getLong(1), r.getLong(2))
      assert(peak >= 1L && peak <= n, s"day ${r.getLong(0)}: peak $peak n $n")
    }
  }

  test("x66: every reported span really appears in >= 2 documents") {
    val rows = graft.operators.TextIndexOps.x66RepeatedSpans(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    assert(rows.forall(_.getLong(1) >= 2))
    // spot-verify the top span's doc count against a direct recompute
    val top = rows.head
    val n = graft.operators.TextOps.ngrams(spark, sf, 8)
      .filter(col("ngram") === top.getString(0))
      .select(col("doc_id")).distinct().count()
    assert(n == top.getLong(1))
  }

  test("x67: label quota holds — no probe returns more than 2 results " +
      "of one label, and each probe returns exactly 5") {
    val rows = graft.operators.SimSearch.x67DiversifiedTopK(spark, sf).collect()
    val byProbe = rows.groupBy(_.getLong(0))
    assert(byProbe.size == 10)
    byProbe.foreach { case (p, rs) =>
      assert(rs.length == 5, s"probe $p returned ${rs.length}")
      rs.groupBy(_.getInt(3)).foreach { case (lab, g) =>
        assert(g.length <= 2, s"probe $p label $lab has ${g.length} > 2")
      }
    }
  }

  test("x67: diversification only ever swaps lower-ranked results — " +
      "the top result per probe equals the undiversified top-1") {
    val div = graft.operators.SimSearch.x67DiversifiedTopK(spark, sf)
      .filter(col("rank") === 1)
      .select(col("probe_id"), col("neighbor_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = graft.operators.SimSearch.exactTopK(spark, sf)
      .filter(col("rank") === 1)
      .select(col("probe_id"), col("neighbor_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(div == exact)
  }

  test("x71: the expensive basket shuffles compute once — one shared " +
      "materialized pair build per session (round 16), and the memo-free " +
      "API path pairs inside basket rows: no join, two exchanges") {
    // round 16: x71/x142 serve from ONE memoized, lineage-cut pair
    // frame (sharing by materialization — it spans QUERIES, not just
    // the sides of one plan)
    val p1 = graft.operators.BasketOps.orderPairs2Shared(spark, sf)
    val p2 = graft.operators.BasketOps.orderPairs2Shared(spark, sf)
    assert(p1 eq p2, "one pair build per (session, corpus)")
    val scans = flattenPlan(p1.queryExecution.executedPlan).collect {
      case r: org.apache.spark.sql.execution.RDDScanExec => r
    }
    assert(scans.nonEmpty, "pairs serve from a materialized checkpoint")
    // the public per-call API (no memo): each basket's pairs come out of
    // its own sorted item array, so the plan has no join at all and
    // shuffles twice — once on the basket, once on the pair
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val df = graft.operators.BasketOps.coOccurrencePairs(
      Tables.lineitem(spark, sf).select(
        org.apache.spark.sql.functions.col("l_orderkey").as("basket"),
        org.apache.spark.sql.functions.col("l_partkey").as("item")),
      basketCap = 50, minBaskets = 2L)
    df.collect()
    val plan = flattenPlan(df.queryExecution.executedPlan)
    val joins = plan.collect { case j: BaseJoinExec => j.nodeName }
    assert(joins.isEmpty, s"the pair kernel must not join: $joins")
    val keys = plan.collect { case e: ShuffleExchangeExec =>
      e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.map {
          case a: AttributeReference => a.name
          case x => x.sql
        }
        case other => Seq(other.toString)
      }
    }
    assert(keys.toSet == Set(Seq("basket"), Seq("part_a", "part_b")) &&
      keys.size == 2, s"expected one basket and one pair shuffle: $keys")
  }

  test("x71 core: a hot basket above the cap contributes zero pairs") {
    import spark.implicits._
    val hot = (1 to 60).map(i => ("big", s"item$i"))
    val small = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"))
    val out = graft.operators.BasketOps.coOccurrencePairs(
      (hot ++ small).toDF("basket", "item"), basketCap = 50,
      minBaskets = 1L).collect()
    assert(out.length == 1, s"only the small baskets' (x,y) pair: $out")
    assert(out(0).getString(0) == "x" && out(0).getString(1) == "y"
      && out(0).getLong(2) == 2L)
  }

  test("s24: lineage tags partition the landing zone in one scan") {
    val df = graft.operators.StorageOps.s24FileLineage(spark, sf)
    val rows = df.collect()
    assert(rows.map(_.getInt(0)).toSet == Set(0, 1, 2))
    assert(rows.map(_.getLong(1)).sum ==
      Tables.nation(spark, sf).count())
    val scans = flattenPlan(df.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.length == 1, "three feeds must be read by ONE scan")
  }

  test("a21: the mode really is the max count and n_tied counts its " +
      "peers") {
    val rows = graft.operators.Aggs.a21Mode(spark, sf).collect()
    assert(rows.length == 5) // five market segments
    rows.foreach(r => assert(r.getLong(2) > 0 && r.getLong(3) >= 1))
  }

  test("a22: outliers are a strict minority and MAD <= max deviation") {
    val rows = graft.operators.Aggs.a22MadOutliers(spark, sf).collect()
    assert(rows.length == 5) // five event types
    rows.foreach { r =>
      val (n, out) = (r.getLong(1), r.getLong(4))
      assert(out < n / 2, s"${r.getString(0)}: $out of $n flagged")
      assert(r.getDouble(3) >= 0.0)
    }
  }

  test("sql35: FILTER-clause aggregates match the CASE WHEN spelling " +
      "in one scan") {
    val df = SqlSurface.sql35FilterClause(spark, sf)
    val got = df.collect()
    val want = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_quantity") > 25, 1L).otherwise(0L)).as("n_big"),
        Det.dsum(when(col("l_discount") > 0.05, col("l_extendedprice")))
          .as("disc_rev"),
        min(when(col("l_quantity") > 45, col("l_shipdate")))
          .cast("date").as("first_heavy_ship"))
      .orderBy(col("l_returnflag")).collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) == w.getString(0) && g.getLong(1) == w.getLong(1)
        && g.getLong(2) == w.getLong(2) && g.getDouble(3) == w.getDouble(3)
        && g.getDate(4) == w.getDate(4), s"$g vs $w")
    }
    val scans = flattenPlan(df.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.length == 1, "FILTER aggregates must not add scans")
  }
}
