package graft

import org.apache.spark.sql.functions._
import graft.api.VectorPipeline
import graft.operators.{EvalOps, EventOps, GraphOps, StatsOps}

class Extras11Spec extends SparkSpec {
  import spark.implicits._

  test("x111: PageRank on a planted path graph matches the hand-rolled " +
      "trajectory, and the contract row is deterministic") {
    // path a–b–c (symmetric): deg(a)=deg(c)=1, deg(b)=2
    val sc = Seq(("a", "b"), ("b", "c")).toDF("x", "y")
    val e = sc.select(col("x").as("a"), col("y").as("b"))
      .unionByName(sc.select(col("y").as("a"), col("x").as("b")))
    val deg = e.groupBy(col("a")).agg(count(lit(1)).as("deg"))
    val got = GraphOps.pageRank(e.join(deg, "a"), iters = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // hand-rolled same policy: round10 contributions, exact sum
    def round10(x: Double) = BigDecimal(x)
      .setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble
    var r = Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0)
    val degM = Map("a" -> 1, "b" -> 2, "c" -> 1)
    val in = Map("a" -> Seq("b"), "b" -> Seq("a", "c"), "c" -> Seq("b"))
    for (_ <- 1 to 5)
      r = in.map { case (v, srcs) =>
        v -> (0.15 + 0.85 * srcs.map(u =>
          BigDecimal(round10(r(u) / degM(u)))).sum.toDouble)
      }
    assert(got.keySet == r.keySet)
    r.foreach { case (k, v) => assert(got(k) == v, s"node $k") }
    // ends (symmetric) tie; middle node dominates
    assert(got("a") == got("c") && got("b") > got("a"))
    // contract row: deterministic across runs, suppliers outrank
    // customers (supplier degree is ~15x customer degree)
    val c1 = GraphOps.x111PageRank(spark, sf).collect()
    val c2 = GraphOps.x111PageRank(spark, sf).collect()
    assert(c1.toSeq == c2.toSeq && c1.length == 20)
    // ranks are positive and emitted in (rank desc, node) total order
    val ranks = c1.map(_.getDouble(1))
    assert(ranks.forall(_ > 0) &&
      ranks.sameElements(ranks.sorted(Ordering[Double].reverse)))
    assert(c1.exists(_.getString(0).startsWith("s")),
      "high-degree supplier nodes should reach the top-20")
  }

  test("x112: triangle census on K4 and on a triangle-free star") {
    // K4: 4 nodes, 6 edges, 12 wedges, 4 triangles, coefficient 1.0
    val k4 = (for {
      i <- 0 until 4; j <- (i + 1) until 4
    } yield (i.toLong, j.toLong)).toDF("a", "b")
    val r = GraphOps.triangleCensus(k4).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((4L, 6L, 12L, 4L)))
    assert(r.getDouble(4) == 1.0)
    // star K1,4: 10 wedges... deg(center)=4 -> 6 wedges, 0 triangles
    val star = (1 to 4).map(i => (0L, i.toLong)).toDF("a", "b")
    val s = GraphOps.triangleCensus(star).collect()(0)
    assert(s.getLong(3) == 0L && s.getLong(2) == 6L)
    assert(s.getDouble(4) == 0.0)
  }

  test("x114: A-ES scores match a driver-side recompute and selection " +
      "is weight-monotone at fixed hash") {
    val got = graft.operators.CurationOps.x114WeightedSample(spark, sf).collect()
    assert(got.length == 50)
    assert(got.map(_.getLong(0)).distinct.length == 50)
    // scores are ln(u)/w with u in (0,1): strictly negative, descending
    val scores = got.map(_.getDouble(2))
    assert(scores.forall(_ < 0))
    assert(scores.sameElements(scores.sorted(Ordering[Double].reverse)))
    // driver-side formula recompute for the emitted rows
    val texts = Tables.documents(spark, sf)
      .select(col("doc_id"), length(col("text")).cast("double").as("w"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def u(id: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(13)
      (java.lang.Long.parseLong(hex, 16) + 0.5) / math.pow(16.0, 13)
    }
    got.foreach { r =>
      val id = r.getLong(0)
      val exp = BigDecimal(math.log(u(id)) / texts(id))
        .setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(2) == exp, s"doc $id")
    }
    // monotone in w at fixed u: doubling the weight raises the score
    assert(math.log(u(1L)) / 200.0 > math.log(u(1L)) / 100.0)
  }

  test("x115: seeded Laplace noise is reproducible and matches the " +
      "inverse-CDF formula") {
    val a = graft.operators.PrivacyOps.x115DpCounts(spark, sf).collect()
    val b = graft.operators.PrivacyOps.x115DpCounts(spark, sf).collect()
    assert(a.toSeq == b.toSeq && a.nonEmpty)
    a.foreach { r =>
      val key = r.getString(0)
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(13)
      val u = (java.lang.Long.parseLong(hex, 16) + 0.5) / math.pow(16.0, 13)
      val c = u - 0.5
      val noise = BigDecimal(-math.signum(c) * math.log(1.0 - 2.0 * math.abs(c)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val exp = BigDecimal(r.getLong(1) + noise)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(2) == exp, s"key $key")
    }
  }

  test("x116: window-based linear attribution equals a join-based " +
      "recompute") {
    val got = EventOps.x116MultiTouch(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    val ev = Tables.eventsUs(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), col("value"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id").as("pu"),
        col("ts").as("pt"), col("value").as("pv"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("ct"))
    val joined = p.join(c, col("pu") === col("cu") &&
        col("ct") >= col("pt") - 604800000000L && col("ct") < col("pt"))
      .groupBy(col("pid"), col("pv"))
      .agg(count(lit(1)).as("n"))
      .select(col("pid"), col("n"),
        round(col("pv") / col("n"), 6).as("credit"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == joined && got.nonEmpty)
  }

  test("s26: the second reader plans an InMemoryTableScan over the " +
      "cached columnar relation and values match the uncached aggregate") {
    val base = Tables.orders(spark, sf)
      .filter(col("o_orderstatus") === "O")
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_custkey"))
      .cache()
    try {
      base.count()
      val agg = graft.operators.StorageOps.cachedAgg(base)
      val scans = flattenPlan(agg.queryExecution.executedPlan).collect {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
      }
      assert(scans.nonEmpty, "second reader must serve from the cache")
      val uncached = graft.operators.StorageOps.cachedAgg(Tables.orders(spark, sf)
        .filter(col("o_orderstatus") === "O")
        .select(col("o_orderpriority"), col("o_totalprice"), col("o_custkey")))
      assert(agg.collect().toSeq == uncached.collect().toSeq)
    } finally base.unpersist(true)
  }

  test("s27: the nested scan's ReadSchema is pruned to the one leaf — " +
      "text bodies never decoded") {
    // stage via the contract row once, then inspect the pruned plan
    // (round 12: the layout lives in the cross-process artifact tier)
    graft.operators.StorageOps.s27NestedPruning(spark, sf).collect()
    val home = Tables.stagedHome("s27_nested", sf, Seq("documents"), "v1")
    val agg = graft.operators.StorageOps.nestedLangCounts(
      Tables.tune(spark).read.parquet(home.getAbsolutePath))
    val scans = flattenPlan(agg.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val read = scans.head.requiredSchema
    assert(read.fieldNames.toSeq == Seq("meta"),
      s"only meta should be read, got ${read.fieldNames.toSeq}")
    val meta = read("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(meta.fieldNames.toSeq == Seq("lang"),
      s"meta must prune to the lang leaf, got ${meta.fieldNames.toSeq}")
    assert(!read.fieldNames.contains("text"))
  }

  test("x120/x121/x122: change point, histogram, and correlations agree " +
      "with independent spellings") {
    // x120: the change point maximizes |prefix - k*mean| over the
    // driver-side series
    val daily = Tables.eventsUs(spark, sf)
      .groupBy(col("event_type"), expr("ts div 86400000000").as("day"))
      .agg(sum(col("value").cast(Det.Money)).as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2))).groupBy(_._1)
    val cps = graft.operators.EventOps.x120Changepoint(spark, sf).collect()
    cps.foreach { r =>
      val series = daily(r.getString(0)).sortBy(_._2)
      val total = series.map(x => BigDecimal(x._3)).sum
      val n = series.length
      var prefix = BigDecimal(0)
      val devs = series.zipWithIndex.map { case ((_, day, v), i) =>
        prefix += BigDecimal(v)
        val dev = math.abs(prefix.toDouble - (i + 1).toDouble *
          (total.toDouble / n.toDouble))
        (day, BigDecimal(dev).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
      }
      val best = devs.minBy { case (day, dev) => (-dev, day) }
      assert((r.getLong(1), r.getDouble(2)) == best, r.getString(0))
    }
    // x121: buckets partition the orders; widths respected at the edges
    val h = graft.operators.StatsOps.x121Histogram(spark, sf).collect()
    assert(h.map(_.getLong(1)).sum == Tables.orders(spark, sf).count())
    assert(h.forall(r => r.getLong(0) >= 1 && r.getLong(0) <= 21))
    // x122: closed-form r agrees with engine-native corr to 1e-6
    val native = Tables.lineitem(spark, sf)
      .agg(corr(col("l_quantity"), col("l_extendedprice")),
        corr(col("l_quantity"), col("l_discount")),
        corr(col("l_extendedprice"), col("l_discount"))).collect()(0)
    val ex = graft.operators.StatsOps.x122Correlation(spark, sf).collect()(0)
    assert(math.abs(ex.getDouble(1) - native.getDouble(0)) < 1e-6)
    assert(math.abs(ex.getDouble(2) - native.getDouble(1)) < 1e-6)
    assert(math.abs(ex.getDouble(3) - native.getDouble(2)) < 1e-6)
  }

  test("x123: matryoshka overlap counts bounded by k and a planted " +
      "prefix-identical clone achieves full overlap") {
    val got = graft.operators.EmbedOps.x123Matryoshka(spark, sf).collect()
    assert(got.length == 10)
    assert(got.forall(r => r.getLong(1) >= 0 && r.getLong(1) <= 5))
    // truncation keeps SOME signal on unit-norm random vectors: the
    // mean overlap must beat the random-chance expectation (~5*5/1999)
    val mean = got.map(_.getLong(1)).sum.toDouble / got.length
    assert(mean > 0.5, s"mean overlap $mean suspiciously low")
  }

  test("x124: binary signatures pack sign bits exactly and hamming " +
      "rerank returns true top-k for a planted clone") {
    import spark.implicits._
    val vs = Seq(
      (0L, Array.tabulate(64)(i => if (i % 3 == 0) 0.5f else -0.5f)),
      (1L, Array.tabulate(64)(i => if (i % 3 == 0) 0.4f else -0.6f)),
      (2L, Array.tabulate(64)(i => if (i % 2 == 0) 0.5f else -0.5f)))
      .toDF("vec_id", "embedding")
    val sig = VectorPipeline.binarySignatures(vs, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // driver-side bit pack
    def pack(f: Int => Boolean, off: Int): Long =
      (0 until 32).map(i => if (f(i + off)) 1L << i else 0L).reduce(_ | _)
    assert(sig(0L) == ((pack(i => i % 3 == 0, 0), pack(i => i % 3 == 0, 32))))
    assert(sig(0L) == sig(1L), "same signs -> same signature")
    assert(sig(0L) != sig(2L))
    // contract row: 5 ranked rows per probe, sims descending
    val got = graft.operators.EmbedOps.x124BinaryQuant(spark, sf).collect()
    assert(got.length == 50)
    val byProbe = got.groupBy(_.getLong(0))
    assert(byProbe.size == 10 && byProbe.values.forall(_.length == 5))
    byProbe.values.foreach { rows =>
      val sims = rows.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(sims.sameElements(sims.sorted(Ordering[Double].reverse)))
    }
  }

  test("j14: AQE really splits the planted hot partition (isSkewJoin) " +
      "and the result equals the plain-join recompute") {
    // sf0.01: the planted partition must clear the byte threshold the
    // contract row sets (sf0.001 shuffles are too small to be "skewed")
    val sfSkew = "/root/testdata/sf0.01"
    graft.operators.Joins.withSkewConfs(spark) {
      val agg = graft.operators.Joins.skewedFactAgg(spark, sfSkew)
      val rows = agg.collect()   // materialize so AQE finalizes the plan
      val planStr = agg.queryExecution.executedPlan.toString
      assert(planStr.contains("skew=true") || planStr.contains("isSkewJoin"),
        s"expected a skew-handled SortMergeJoin in:\n${planStr.take(2000)}")
      val direct = Tables.orders(spark, sfSkew)
        .select(when(col("o_orderkey") % 3 =!= 0, lit(1L))
          .otherwise(col("o_custkey")).as("cust"), col("o_totalprice"))
        .join(Tables.customer(spark, sfSkew)
          .select(col("c_custkey"), col("c_mktsegment")),
          col("cust") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(Det.Money)).cast("double").as("total"))
        .orderBy(col("c_mktsegment")).collect()
      assert(rows.toSeq == direct.toSeq)
    }
  }

  test("x128: nDCG bounded by 1, exactly 1 iff the retrieval equals the " +
      "ideal ranking, and matches a driver-side recompute") {
    val got = EvalOps.x128Ndcg(spark, sf).collect()
    assert(got.length == 10)
    got.foreach { r =>
      assert(r.getDouble(3) <= 1.0 && r.getDouble(3) > 0.0)
      assert(r.getDouble(1) <= r.getDouble(2) + 1e-9, "DCG <= IDCG")
    }
    // driver-side recompute from the two frames
    def byProbe(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("rank"),
        r.getAs[Double]("sim"))).groupBy(_._1)
    val retr = byProbe(graft.operators.EmbedOps.x124BinaryQuant(spark, sf))
    val ex = byProbe(graft.operators.SimSearch.exactTopK(spark, sf)
      .filter(col("rank") <= 5))
    def dcg6(rows: Array[(Long, Long, Double)]): Double =
      BigDecimal(rows.map { case (_, rk, s) =>
        s / (math.log(rk + 1.0) / math.log(2.0)) }.sum)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    got.foreach { r =>
      val p = r.getLong(0)
      val d = dcg6(retr(p)); val i = dcg6(ex(p))
      assert(r.getDouble(1) == d && r.getDouble(2) == i, s"probe $p")
      val nd = BigDecimal(d / i)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) == nd)
    }
  }

  test("x133: depth buckets partition the w9 session table and shares " +
      "sum to 1") {
    val got = EventOps.x133SessionDepth(spark, sf).collect()
    val sessions = graft.operators.Windows.w9BatchSessionize(spark, sf).count()
    assert(got.map(_.getLong(1)).sum == sessions,
      "buckets must partition the session set")
    assert(math.abs(got.map(_.getDouble(2)).sum - 1.0) < 1e-5)
    val bounceRates = got.map(_.getDouble(3)).distinct
    assert(bounceRates.length == 1)
    val bounce = got.find(_.getString(0) == "1_bounce").get
    assert(bounce.getDouble(2) == bounce.getDouble(3),
      "bounce bucket share IS the bounce rate")
  }

  test("x132: delta-method ratio and SE match a driver-side recompute") {
    val r = StatsOps.x132RatioSe(spark, sf).collect()(0)
    val pu = Tables.eventsUs(spark, sf).groupBy(col("user_id"))
      .agg(count(lit(1)).cast("double").as("x"),
        sum(when(col("event_type") === "purchase",
          col("value").cast(Det.Money))
          .otherwise(lit(0).cast(Det.Money))).cast("double").as("y"))
      .collect().map(row => (row.getDouble(1), row.getDouble(2)))
    val n = pu.length.toDouble
    val (sx, sy) = (pu.map(_._1).sum, pu.map(_._2).sum)
    val ratio = sy / sx
    def cov(f: ((Double, Double)) => Double, g: ((Double, Double)) => Double) =
      (n * pu.map(p => f(p) * g(p)).sum - pu.map(f).sum * pu.map(g).sum) /
        (n * (n - 1.0))
    val varR = (cov(_._2, _._2) - 2.0 * ratio * cov(_._1, _._2) +
      ratio * ratio * cov(_._1, _._1)) / (n * (sx / n) * (sx / n))
    assert(r.getLong(0) == pu.length.toLong)
    assert(math.abs(r.getDouble(1) - ratio) < 1e-8)
    assert(math.abs(r.getDouble(2) - math.sqrt(varR)) < 1e-7)
    assert(r.getDouble(2) > 0)
  }

  test("x131/w17: CUPED stats match engine-native corr; shares sum to 1 " +
      "within each scope") {
    val c = StatsOps.x131Cuped(spark, sf).collect()(0)
    assert(c.getDouble(3) >= 0 && c.getDouble(3) <= 1)
    assert(math.abs(c.getDouble(3) -
      c.getDouble(2) * c.getDouble(2)) < 2e-6,
      "var_reduction == corr^2")
    // sanity vs engine-native corr on the same per-user frame
    val ev = Tables.eventsUs(spark, sf)
      .select(col("user_id"), col("ts"), col("value").cast(Det.Money))
    val mm = ev.agg(min(col("ts")), max(col("ts"))).collect()(0)
    val cut = (mm.getLong(0) + mm.getLong(1)) / 2
    val native = ev.groupBy(col("user_id"))
      .agg(sum(when(col("ts") < cut, col("value"))
          .otherwise(lit(0).cast(Det.Money))).cast("double").as("x"),
        sum(when(col("ts") >= cut, col("value"))
          .otherwise(lit(0).cast(Det.Money))).cast("double").as("y"))
      .agg(corr(col("x"), col("y"))).collect()(0).getDouble(0)
    assert(math.abs(c.getDouble(2) - native) < 1e-6)
    // w17: the FULL share frame (pre-limit spelling) sums to 1 per scope
    val o = Tables.orders(spark, sf)
      .select(col("o_orderpriority"), col("o_totalprice").cast(Det.Money).as("p"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("o_orderpriority"))
    val shares = o.withColumn("gt", sum(col("p")).over(w))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("p").cast("double") / col("gt").cast("double")).as("s"))
      .collect()
    shares.foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-9))
    val top = graft.operators.Windows.w17RatioToReport(spark, sf).collect()
    assert(top.length == 100)
    val st = top.map(_.getDouble(3))
    assert(st.sameElements(st.sorted(Ordering[Double].reverse)))
  }

  test("x129/x130: Mann-Whitney U matches a driver-side exact recompute; " +
      "bootstrap CI brackets the true mean") {
    val mw = StatsOps.x129MannWhitney(spark, sf).collect()(0)
    val vals = Tables.eventsUs(spark, sf)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val a = vals.filter(_._1 == "click").map(_._2)
    val b = vals.filter(_._1 == "view").map(_._2)
    // exact doubled midranks over the pooled sample
    val pooled = (a.map((_, true)) ++ b.map((_, false))).sortBy(_._1)
    var i = 0; var r1x2 = 0L
    while (i < pooled.length) {
      var j = i
      while (j < pooled.length && pooled(j)._1 == pooled(i)._1) j += 1
      val m2 = 2L * i + (j - i) + 1   // doubled midrank (1-based ranks)
      r1x2 += m2 * pooled.slice(i, j).count(_._2)
      i = j
    }
    val u2a = 2L * a.length * b.length + a.length.toLong * (a.length + 1) - r1x2
    assert(mw.getLong(0) == a.length.toLong && mw.getLong(1) == b.length.toLong)
    assert(mw.getLong(2) == u2a, s"u2_a ${mw.getLong(2)} vs $u2a")
    // U symmetric under no location shift -> z should be modest
    assert(math.abs(mw.getDouble(3)) < 10)
    val bs = StatsOps.x130Bootstrap(spark, sf).collect()(0)
    assert(bs.getLong(0) == 100L)
    val trueMean = Tables.eventsUs(spark, sf)
      .agg(sum(col("value").cast(Det.Money)).cast("double") /
        count(lit(1))).collect()(0).getDouble(0)
    assert(bs.getDouble(1) < trueMean && trueMean < bs.getDouble(2),
      s"CI [${bs.getDouble(1)}, ${bs.getDouble(2)}] must bracket $trueMean")
    assert(bs.getDouble(1) < bs.getDouble(3) && bs.getDouble(3) < bs.getDouble(2))
  }

  test("x125/x126/x127: drift and KS readouts verified against " +
      "independent recomputes") {
    // x125: the planted ' v2' suffix introduces a token absent from the
    // old snapshot -> maximal positive shift, first row
    val drift = graft.operators.EmbedOps.x125TokenDrift(spark, sf).collect()
    assert(drift.length <= 20 && drift.nonEmpty)
    val v2 = drift.find(_.getString(0) == "v2")
    assert(v2.isDefined && v2.get.getLong(1) == 0L && v2.get.getLong(2) > 0L)
    val absScores = drift.map(r => math.abs(r.getDouble(3)))
    assert(absScores.sameElements(absScores.sorted(Ordering[Double].reverse)))
    // x126: cosines bounded; half counts partition each label
    val ed = graft.operators.EmbedOps.x126EmbeddingDrift(spark, sf).collect()
    assert(ed.nonEmpty)
    assert(ed.forall(r => math.abs(r.getDouble(3)) <= 1.0 + 1e-9))
    val labelTotals = Tables.embeddings(spark, sf)
      .groupBy(col("label")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    ed.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) == labelTotals(r.getInt(0)))
    }
    // x127: D matches a driver-side exact KS computation
    val ks = StatsOps.x127KsTest(spark, sf).collect()(0)
    val vals = Tables.eventsUs(spark, sf)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val a = vals.filter(_._1 == "click").map(_._2).sorted
    val b = vals.filter(_._1 == "view").map(_._2).sorted
    val support = (a ++ b).distinct.sorted
    val dNum = support.map { v =>
      val ca = a.count(_ <= v).toLong
      val cb = b.count(_ <= v).toLong
      math.abs(ca * b.length.toLong - cb * a.length.toLong)
    }.max
    assert(ks.getLong(0) == a.length.toLong && ks.getLong(1) == b.length.toLong)
    assert(ks.getLong(2) == dNum)
  }

  test("x119: survivors obey the rule (longest text, lowest id) within " +
      "each cluster and single-member clusters are excluded") {
    val got = graft.operators.WarehouseOps.x119GoldenRecord(spark, sf).collect()
    assert(got.nonEmpty)
    assert(got.forall(_.getLong(1) > 1), "only real merges listed")
    val clusters = graft.operators.Dedup.x12DedupClusters(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val chars = Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byCluster = clusters.groupBy(_._2).view
      .mapValues(_.map(_._1).toSeq).toMap
    got.foreach { r =>
      val members = byCluster(r.getLong(0))
      assert(members.length == r.getLong(1))
      val survivor = members.minBy(id => (-chars(id), id))
      assert(r.getLong(2) == survivor && r.getLong(3) == chars(survivor))
    }
  }

  test("x117: z-scores match a driver-side recompute of the dow baseline") {
    val daily = Tables.eventsUs(spark, sf)
      .groupBy(col("event_type"), expr("ts div 86400000000").as("day"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val byDow = daily.groupBy { case ((t, d), _) => (t, d % 7) }
      .view.mapValues(_.values.map(_.toDouble).toSeq).toMap
    val got = EventOps.x117SeasonalAnomaly(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (t, d, n) = (r.getString(0), r.getLong(1), r.getLong(2))
      val xs = byDow((t, d % 7))
      val nd = xs.length.toDouble
      val sx = xs.sum; val sx2 = xs.map(x => x * x).sum
      val varS = (nd * sx2 - sx * sx) / (nd * (nd - 1.0))
      val z = (n.toDouble - sx / nd) / math.sqrt(varS)
      val exp = BigDecimal(z).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      assert(r.getDouble(3) == exp, s"($t, $d)")
      assert(r.getBoolean(4) == (math.abs(z) > 3.0))
    }
  }

  test("x118: every declared FK edge of this corpus is orphan-free and " +
      "child counts match the tables") {
    val got = graft.operators.AuditOps.x118RiAudit(spark, sf).collect()
    assert(got.length == 7)
    assert(got.forall(_.getBoolean(3)), "all edges must be ri_ok")
    assert(got.forall(_.getLong(2) == 0L))
    val byName = got.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName("lineitem->orders") == Tables.lineitem(spark, sf).count())
    assert(byName("nation->region") == 25L)
  }

  test("x113: maintained MV equals recompute from the corrected set, " +
      "and a fully-deleted group is dropped") {
    // contract-scale equality against the direct recompute
    val got = graft.operators.WarehouseOps.x113MvRetraction(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val direct = Tables.orders(spark, sf)
      .filter(col("o_orderkey") % 11 =!= 0)
      .select(col("o_orderstatus"),
        date_trunc("month", col("o_orderdate")).as("month"),
        when(col("o_orderkey") % 7 === 0,
          col("o_totalprice").cast(Det.Money) + lit(100.00).cast(Det.Money))
          .otherwise(col("o_totalprice").cast(Det.Money)).as("p"))
      .groupBy(col("o_orderstatus"), col("month"))
      .agg(count(lit(1)).as("n"), sum(col("p")).cast("double").as("total"))
      .select(col("o_orderstatus"), unix_timestamp(col("month")).as("ms"),
        col("n"), col("total"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got == direct && got.nonEmpty)
    // planted group-drop: a (status, month) whose only orders are all
    // % 11 = 0 must VANISH from the maintained view (the n -> 0 path)
    val ts = java.sql.Timestamp.valueOf("2000-01-01 00:00:00")
    val planted = Seq(
      (11L, "Z", ts, BigDecimal(10)),
      (22L, "Z", ts, BigDecimal(20)),
      (7L, "A", ts, BigDecimal(30)),    // updated: +100
      (3L, "A", ts, BigDecimal(40)))    // untouched
      .toDF("o_orderkey", "o_orderstatus", "month", "price")
      .withColumn("price", col("price").cast(Det.Money))
    val m = graft.operators.WarehouseOps.maintainMv(planted).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getAs[java.math.BigDecimal](3).doubleValue)).toMap
    assert(!m.contains("Z"), "group with all rows retracted must drop")
    assert(m("A") == ((2L, 170.0)))
  }

  test("x111 adjacency: a fresh session re-serves the shared staged " +
      "bucketed table — identical ranks, no rebuild, no edge re-shuffle") {
    val first = GraphOps.x111PageRank(spark, sf).collect()
    // the shared home must now exist (fingerprint-named => current) —
    // resolved through the operator's own key helper (round 11's
    // version-salted sharedDir exposed that a stale spec-side copy of
    // the cfg string only passes against leftover artifacts in tmp)
    val home = GraphOps.adjHome(sf)
    assert(home.isDirectory, "staged adjacency must be published")
    val stagedAt = home.lastModified()
    // a NEW session has an empty memo -> takes the reuse path: DDL
    // re-registration over the existing files, no bucketed re-write
    val s2 = spark.newSession()
    val second = GraphOps.x111PageRank(s2, sf).collect()
    assert(first.toSeq == second.toSeq,
      "reloaded adjacency must serve identical ranks")
    assert(home.lastModified() == stagedAt,
      "reuse path must not rewrite the staged files")
    // the DDL-registered table still carries the bucket spec: a
    // groupBy on the bucket key runs with ZERO shuffle exchanges
    val tbl = s"graft_trade_edges_${(sf.hashCode & 0x7fffffff).toHexString}"
    val agg = s2.table(tbl).groupBy(col("a")).agg(count(lit(1)).as("n"))
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed scan must satisfy the aggregate's distribution:\n$plan")
  }

  test("x2 blocked all-pairs: equals the brute CartesianProduct result " +
      "and plans with no cartesian/broadcast-nested-loop operator") {
    val emb = Tables.embeddings(spark, sf)
    // equality at multiple thresholds incl. below-ambient (nonempty)
    for (t <- Seq(0.3, 0.45)) {
      val brute = VectorPipeline
        .cosinePairs(emb, "vec_id", "embedding", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val blocked = VectorPipeline
        .blockedCosinePairs(emb, "vec_id", "embedding", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(blocked == brute && brute.nonEmpty,
        s"blocked != brute at threshold $t")
    }
    // the contract row's executed plan: equi-join only
    val df = graft.operators.SimSearch.x2CosineNearDup(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"x2 must not plan a cartesian:\n$plan")
    assert(graft.plans.PlanLint.lint(df).isEmpty)
  }
}
