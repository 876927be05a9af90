package graft

import org.apache.spark.sql.functions._


class Extras4Spec extends SparkSpec {
  import spark.implicits._

  test("s16 xml round-trip equals the parquet-direct aggregate") {
    val viaXml = graft.operators.StorageOps.s16Xml(spark, sf).collect()
    val direct = Tables.supplier(spark, sf)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("s_acctbal")).as("sum_bal"),
        countDistinct(col("s_name")).as("n_names"))
      .orderBy(col("s_nationkey")).collect()
    assert(viaXml.toSeq == direct.toSeq)
  }

  test("s17 avro round-trip equals the parquet-direct aggregate") {
    val viaAvro = graft.operators.StorageOps.s17Avro(spark, sf).collect()
    val direct = Tables.lineitem(spark, sf)
      .filter(col("l_quantity") > 45.0)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("l_quantity")).as("sum_qty"),
        Det.dsum(col("l_extendedprice")).as("sum_price"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy(col("l_returnflag")).collect()
    assert(viaAvro.toSeq == direct.toSeq)
  }

  test("s19 nested round-trip: struct/array/map fields survive parquet exactly") {
    val got = graft.operators.StorageOps.s19NestedRoundtrip(spark, sf).collect()
    val want = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderpriority"),
        date_format(col("o_orderdate"), "yyyy-MM-dd"))
      .orderBy(col("o_orderkey")).collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0))
      assert(g.getAs[String]("status") == w.getString(1))
      assert(g.getAs[Double]("price") == w.getDouble(2))
      assert(g.getAs[Double]("tier2") == w.getDouble(2) * 2)
      assert(g.getAs[Int]("n_tiers") == 3)
      assert(g.getAs[String]("pri") == w.getString(3))
      assert(g.getAs[String]("day") == w.getString(4))
    }
    // the written file really carries nested types (round 12: the
    // layout lives in the cross-process artifact tier)
    val schema = spark.read.parquet(
      Tables.stagedHome("s19_nested", sf, Seq("orders"), "v1").getAbsolutePath)
      .schema
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    assert(schema("meta").dataType.isInstanceOf[StructType])
    assert(schema("tiers").dataType.isInstanceOf[ArrayType])
    assert(schema("tags").dataType.isInstanceOf[MapType])
  }

  test("x31 quality quantile: keeps exactly the top 3/4 per language, by score") {
    val kept = graft.operators.CurationOps.x31QualityQuantile(spark, sf).collect()
    val all = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"),
        round(length(col("text")) / size(split(col("text"), " ")), 6)
          .as("score")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    all.groupBy(_._2).foreach { case (lang, docs) =>
      val n = docs.length
      val keptLang = kept.filter(_.getAs[String]("lang") == lang)
      // kept count = n - floor(n/4), the integer-exact 75%
      assert(keptLang.length == n - n / 4, s"$lang kept ${keptLang.length} of $n")
      // every kept score >= every dropped score (ranks are score-ordered;
      // at the boundary ties break by doc_id, so compare via rank sets)
      val keptIds = keptLang.map(_.getAs[Long]("doc_id")).toSet
      val sorted = docs.sortBy(d => (d._3, d._1)).map(_._1)
      assert(sorted.takeRight(n - n / 4).toSet == keptIds,
        s"$lang kept set is not the top-ranked 3/4")
    }
  }

  test("x32 decontamination: normalization is load-bearing and hits are real") {
    val rows = graft.operators.CurationOps.x32Decontaminate13(spark, sf).collect()
    // planted counterfactual: raw (unnormalized) grams never match the
    // UPPER-cased eval slice
    assert(rows.forall(_.getAs[Long]("n_shared_raw") == 0L))
    val contaminated = rows.filter(_.getAs[Boolean]("contaminated"))
    assert(contaminated.nonEmpty, "no 13-gram contamination found at sf0.001")
    // independent recompute of the normalized overlap in plain Scala
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams13(s: String): Set[String] = {
      val w = s.split(" ")
      if (w.length < 13) Set.empty
      else w.sliding(13).map(_.mkString(" ")).toSet
    }
    import java.util.Locale.ROOT
    val evalGrams = texts.collect { case (id, t) if id % 3 == 0 =>
      grams13(t.toUpperCase(ROOT).toLowerCase(ROOT)) // staged upper → normalized
    }.foldLeft(Set.empty[String])(_ ++ _)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val want = grams13(texts(id).toLowerCase(ROOT)).count(evalGrams)
      assert(r.getAs[Long]("n_shared_norm") == want.toLong, s"doc $id")
    }
  }

  test("x33 winnowing: guarantee on a planted 11-word shared run, zeros for short docs") {
    // two docs share an 11-word run (8-shingle + 4-window - 1): winnowing
    // MUST select at least one identical fingerprint in both
    val run = (0 until 11).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, s"a0 a1 a2 a3 a4 $run a5 a6"),
      (2L, s"b0 $run b1 b2 b3 b4 b5"),
      (3L, "z0 z1 z2 z3 z4 z5 z6 z7 z8 z9")   // 10 words: no complete window
    ).toDF("doc_id", "text")
    val dir = Tables.scratchDir("x33fix", sf)
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = graft.operators.TextIndexOps.x33Winnow(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_fps"), r.getAs[Long]("n_partners"))).toMap
    assert(m(1L)._2 == 1L, s"doc 1 found no partner: $m")
    assert(m(2L)._2 == 1L)
    assert(m(3L) == ((0L, 0L)), "10-word doc must have no complete window")
    // corpus level: every doc >= 11 words has fingerprints; partner
    // relation is symmetric
    val corpus = graft.operators.TextIndexOps.x33Winnow(spark, sf).collect()
    val nWords = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    corpus.foreach { r =>
      val expectFps = nWords(r.getLong(0)) >= 11
      assert((r.getAs[Long]("n_fps") > 0) == expectFps, s"doc ${r.getLong(0)}")
    }
    val withPartners = corpus.filter(_.getAs[Long]("n_partners") > 0)
    assert(withPartners.nonEmpty, "no substring-sharing docs at sf0.001")
  }

  test("x33 hot-fingerprint guard: boilerplate run across 150 docs is stopped, pair-join input capped") {
    // one boilerplate 11-word run (think license header / template)
    // shared by 150 docs, plus one genuine near-dup pair on a DIFFERENT
    // run — the guard must stop the former and keep the latter
    val boiler = (0 until 11).map(i => s"bp$i").mkString(" ")
    val run = (0 until 11).map(i => s"c$i").mkString(" ")
    val df = (Seq(
      (1L, s"a0 a1 a2 a3 a4 $run a5 a6"),
      (2L, s"b0 $run b1 b2 b3 b4 b5")) ++
      (0 until 150).map(i =>
        (100L + i, s"u${i}a u${i}b u${i}c $boiler u${i}d u${i}e")))
      .toDF("doc_id", "text")
    val T = 8L
    // the planted boilerplate fingerprint is HOT: all 150 docs share it
    val fps = graft.operators.TextIndexOps.winnowFps(df).localCheckpoint(true)
    val dfp = fps.groupBy(col("fp")).agg(count(lit(1)).as("n_docs"))
    assert(dfp.agg(max(col("n_docs"))).head.getLong(0) >= 150L)
    // the guarded pair-join input (the tail) is capped at the threshold:
    // no fingerprint bucket above T ever reaches the self-join
    val tailMax = fps.join(dfp.filter(col("n_docs") <= T), "fp")
      .groupBy(col("fp")).count()
      .agg(max(col("count"))).head.getLong(0)
    assert(tailMax <= T, s"tail has a bucket of $tailMax rows (> $T)")
    val m = graft.operators.TextIndexOps.x33WinnowOver(df, T).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_partners"), r.getAs[Long]("n_stop_fps"))).toMap
    // every boilerplate doc reports its stopped fingerprint(s)...
    (0 until 150).foreach(i =>
      assert(m(100L + i)._2 >= 1L, s"doc ${100 + i} reports no stop fp"))
    // ...and the genuine near-dup pair still pairs through the tail
    assert(m(1L)._1 >= 1L && m(2L)._1 >= 1L, s"genuine pair lost: $m")
    // counterfactual: unguarded (threshold above corpus size), the hot
    // bucket explodes into 150x149 pair rows — every boilerplate doc
    // sees all the others
    val unguarded = graft.operators.TextIndexOps.x33WinnowOver(df, 1000000L).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_partners")).toMap
    (0 until 150).foreach(i => assert(unguarded(100L + i) >= 149L))
  }

  test("x35 temperature mix: flattens the language distribution, reproducible, weighted") {
    val kept = graft.operators.CurationOps.x35TemperatureMix(spark, sf).collect()
    assert(kept.nonEmpty)
    val total = Tables.documents(spark, sf).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val minN = total.values.min
    kept.foreach { r =>
      val lang = r.getAs[String]("lang")
      assert(r.getAs[Long]("n_lang") == total(lang))
      val thresh = math.floor(
        math.sqrt(minN.toDouble / total(lang)) * 65536.0).toLong
      assert(r.getAs[Long]("thresh") == thresh)
      assert(r.getAs[Long]("bucket") < thresh)
    }
    // the point of temperature flattening: the dominant language's KEEP
    // RATE is strictly below the smallest language's
    val keptBy = kept.groupBy(_.getAs[String]("lang")).view.mapValues(_.length)
    val maxLang = total.maxBy(_._2)._1
    val minLang = total.minBy(_._2)._1
    val maxRate = keptBy.getOrElse(maxLang, 0).toDouble / total(maxLang)
    val minRate = keptBy.getOrElse(minLang, 0).toDouble / total(minLang)
    assert(maxRate < minRate,
      s"dominant $maxLang rate $maxRate not below smallest $minLang rate $minRate")
    // deterministic: identical rows on a re-run
    val again = graft.operators.CurationOps.x35TemperatureMix(spark, sf).collect()
    assert(kept.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("x37 curation top-k runs through GroupTopKExec and equals the rank window") {
    val frame = graft.operators.CurationOps.x37CurateTopK(spark, sf)
    val got = frame.collect()
    // plans through the custom physical operator (partial + final pair)
    val execs = flattenPlan(frame.queryExecution.executedPlan)
      .collect { case e: graft.plans.GroupTopKExec => e }
    assert(execs.map(_.partial).sorted == Seq(false, true),
      s"expected partial+final GroupTopKExec, got $execs")
    // equals the window-function formulation
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val want = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"),
        round(length(col("text")) / size(split(col("text"), " ")), 6)
          .as("score"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 16)
      .drop("rn").orderBy(col("doc_id")).collect()
    assert(got.toSeq == want.toSeq)
    // 5 languages x 16 docs
    assert(got.length == 80)
  }

  test("x38 incremental dedup equals exhaustive cross-side jaccard, and l2 is unchanged") {
    val got = graft.operators.CurationOps.x38IncrementalDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // exhaustive reference: every straddling pair from the FULL pair set
    val all = graft.operators.Dedup.l2MinHashDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = all.flatMap { case (a, b, j) =>
      if (a % 10 == 7 && b % 10 != 7) Some((a, b, j))
      else if (b % 10 == 7 && a % 10 != 7) Some((b, a, j))
      else None
    }.toSet
    assert(got == want, s"probe-vs-corpus pairs diverge:\n$got\nvs\n$want")
    assert(got.nonEmpty, "no straddling near-dup pairs at sf0.001")
    // the lshBands refactor must not have moved l2's pair set
    assert(all.length == 28, s"l2 pair count moved: ${all.length}")
  }

  test("x39 shard assignment: deterministic, balanced-ish, positions contiguous") {
    val rows = graft.operators.CurationOps.x39TrainShards(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    // positions within each shard are exactly 1..n_shard
    rows.groupBy(_.getAs[Int]("shard")).foreach { case (s, docs) =>
      assert(s >= 0 && s < 8)
      assert(docs.map(_.getAs[Long]("pos")).sorted.toSeq ==
        (1L to docs.length.toLong))
    }
    // shard is a pure content hash: recompute via MessageDigest
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(texts(r.getLong(0)).getBytes("UTF-8"))
      assert(r.getAs[Int]("shard") == (((h(0) >> 4) & 0xf) % 8))
    }
    // reproducible across runs
    val again = graft.operators.CurationOps.x39TrainShards(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("s18 compaction: rows and values survive, file count drops, output right-sized") {
    val r = graft.operators.StorageOps.s18Compaction(spark, sf).collect().head
    val want = Tables.orders(spark, sf)
      .agg(count(lit(1)), Det.dsum(col("o_totalprice")),
        countDistinct(col("o_orderkey"))).collect().head
    assert(r.getAs[Long]("n_rows") == want.getLong(0))
    assert(r.getAs[Double]("revenue") == want.getDouble(1))
    assert(r.getAs[Long]("n_keys") == want.getLong(2))
    assert(r.getAs[Boolean]("compacted"))
    assert(r.getAs[Boolean]("size_ok"),
      "output files not within a bin of ideal for the measured bytes")
    // size-aware: the claim must keep holding when the target changes —
    // the bin arithmetic adapts instead of a hardcoded file count
    val sess = spark.newSession()
    sess.conf.set("spark.graft.compact.targetFileBytes", "131072")
    val r2 = graft.operators.StorageOps.s18Compaction(sess, sf).collect().head
    assert(r2.getAs[Boolean]("size_ok"))
  }

  test("j13 null-safe join: null keys land on the <none> label instead of dropping") {
    val rows = graft.operators.Joins.j13NullSafeJoin(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val total = Tables.customer(spark, sf).count()
    // nothing dropped: labels partition ALL customers
    assert(rows.values.map(_._1).sum == total)
    // the % 7 slice is exactly the <none> bucket (a plain equi-join
    // would have lost it)
    val wantNone = Tables.customer(spark, sf)
      .filter(col("c_custkey") % 7 === 0).count()
    assert(rows("<none>")._1 == wantNone && wantNone > 0)
  }

  test("o9 union by name: missing columns null-fill per side") {
    val rows = graft.operators.SetOps.o9UnionMissingCols(spark, sf).collect()
    val n = Tables.supplier(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n")).sum == 2 * n)
    // each side filled exactly its own missing column
    assert(rows.map(_.getAs[Long]("n_with_bal")).sum == n)
    assert(rows.map(_.getAs[Long]("n_with_nation")).sum == n)
  }

  test("w12 ignore-nulls offsets: locf carries the last non-null reading forward") {
    val rows = graft.operators.Windows.w12IgnoreNulls(spark, sf).collect()
    // re-derive the window's (ts, event_id) order — the output sort is
    // by event_id, which need not follow event time
    val tsOf = Tables.eventsUs(spark, sf).select("event_id", "ts").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (_, byUser) =>
      val docs = byUser.sortBy(r =>
        (tsOf(r.getAs[Long]("event_id")), r.getAs[Long]("event_id")))
      var lastSeen: Option[Double] = None
      docs.foreach { r =>
        val v = Option(r.getAs[java.lang.Double]("v")).map(_.doubleValue)
        val locf = Option(r.getAs[java.lang.Double]("locf")).map(_.doubleValue)
        val prev = Option(r.getAs[java.lang.Double]("prev_reading"))
          .map(_.doubleValue)
        assert(prev == lastSeen, s"prev_reading at ${r.getAs[Long]("event_id")}")
        if (v.isDefined) lastSeen = v
        assert(locf == lastSeen, s"locf at ${r.getAs[Long]("event_id")}")
      }
    }
    // the planted nulls exist (the IGNORE NULLS semantics are exercised)
    assert(rows.exists(r => r.isNullAt(r.fieldIndex("v"))))
  }

  test("a17 median/percentiles equal a sorted-array recompute") {
    val rows = graft.operators.Aggs.a17Median(spark, sf).collect()
    val byFlag = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_quantity")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getDouble(1)).sorted)
    def interp(v: Array[Double], q: Double): Double = {
      val pos = q * (v.length - 1)
      val lo = v(pos.toInt)
      val hi = v(math.ceil(pos).toInt)
      lo + (hi - lo) * (pos - pos.toInt)
    }
    rows.foreach { r =>
      val v = byFlag(r.getString(0)).toArray
      assert(r.getAs[Long]("n") == v.length.toLong)
      assert(r.getAs[Double]("med_qty") == interp(v, 0.5))
      assert(r.getAs[Double]("p25_qty") == interp(v, 0.25))
      assert(r.getAs[Double]("p75_qty") == interp(v, 0.75))
    }
  }

  test("concurrent batch queries on forked sessions equal their sequential results") {
    // the library's multi-session story: one SparkContext, one session
    // per caller (the scoping w13/s14 rely on) — concurrent runs must
    // neither interfere nor diverge
    // w13 is in the set deliberately: it installs the GroupTopK rewrite
    // on ITS forked session mid-flight, and the post-run canary below
    // proves the install never leaks to the shared session
    val names = Seq("a1_pricing_summary", "x21_pack_sequences",
      "j13_nullsafe_join", "w8_distribution", "x35_temperature_mix",
      "o9_union_missing", "w13_auto_topk")
    val sequential = names.map(n =>
      n -> SparkEntry.queries(n)(spark, sf).collect().map(_.toString).toSeq).toMap
    val results =
      new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
    val errors =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = names.map { n =>
      new Thread(() => {
        try {
          val s = Tables.tune(spark.newSession())
          results.put(n,
            SparkEntry.queries(n)(s, sf).collect().map(_.toString).toSeq)
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(180000))
    // distinguish a timeout (thread still alive, would otherwise read
    // as a bogus 'diverged' and keep submitting jobs into later tests)
    // from a real divergence
    names.zip(threads).foreach { case (n, t) =>
      assert(!t.isAlive, s"$n still running after 180s — timeout, not divergence")
    }
    assert(errors.isEmpty, s"concurrent failures: $errors")
    names.foreach { n =>
      assert(results.get(n) == sequential(n), s"$n diverged under concurrency")
    }
    // leak canary: w13 ran concurrently and installs the rewrite on its
    // own forked session — the SHARED session must not have picked it
    // up (results alone can't show this: the rewrite is semantics-
    // preserving, so only the plan betrays a leak)
    assert(!spark.experimental.extraOptimizations
      .contains(graft.plans.GroupTopKRewrite),
      "GroupTopKRewrite leaked onto the shared session")
    import org.apache.spark.sql.expressions.Window
    val idiom = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .filter(col("rn") <= 3).drop("rn")
    idiom.count()
    assert(flattenPlan(idiom.queryExecution.executedPlan)
      .collect { case e: graft.plans.GroupTopKExec => e }.isEmpty,
      "shared-session window idiom was re-planned through GroupTopKExec")
  }

  test("x34 quantization: int8 range, error bound, exact recompute on one vector") {
    val rows = graft.operators.CurationOps.x34Quantize(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("q_lo") >= 0L && r.getAs[Long]("q_hi") <= 255L)
      assert(r.getAs[Long]("q_lo") == 0L, "min element must quantize to 0")
      assert(r.getAs[Boolean]("err_ok"), s"vec ${r.getLong(0)} err bound broken")
    }
    // recompute one vector end-to-end in plain Scala
    val first = Tables.embeddings(spark, sf)
      .orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("embedding")).collect().head
    val vid = first.getLong(0)
    val v = first.getSeq[Float](1).map(_.toDouble)
    val (lo, hi) = (v.min, v.max)
    val qs = v.map(x => math.min(math.floor((x - lo) * 255.0 / (hi - lo)), 255.0).toLong)
    val got = rows.find(_.getLong(0) == vid).get
    assert(got.getAs[Long]("n_dims") == v.length.toLong)
    assert(got.getAs[Long]("q_lo") == qs.min && got.getAs[Long]("q_hi") == qs.max)
    assert(got.getAs[Double]("mean_q") ==
      BigDecimal(qs.sum.toDouble / qs.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }
}
