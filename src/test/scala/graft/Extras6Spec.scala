package graft

import org.apache.spark.sql.functions._
import graft.api.VectorPipeline
import graft.operators.SqlSurface

class Extras6Spec extends SparkSpec {
  import spark.implicits._

  /** A deterministic pseudo-random UNIT vector keyed by seed (unit norm
    * so ambient pair dots stay far below the 0.8 verify bar — banded
    * recall is only guaranteed for planted clone/duplicate pairs). */
  private def vec(seed: Int, dims: Int = 64): Seq[Float] = {
    val r = new scala.util.Random(seed)
    val raw = Seq.fill(dims)(r.nextDouble() * 2 - 1)
    val norm = math.sqrt(raw.map(x => x * x).sum)
    raw.map(x => (x / norm).toFloat)
  }

  test("exact-dup classing: identical vectors share the min-id representative") {
    val df = Seq(
      (10L, vec(1)), (11L, vec(2)), (12L, vec(1)), (13L, vec(1)),
      (14L, vec(3))).toDF("id", "v")
    val classes = VectorPipeline.exactDupClasses(df, "id", "v")
      .select(col("vid"), col("rep"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(classes == Map(10L -> 10L, 11L -> 11L, 12L -> 10L,
      13L -> 10L, 14L -> 14L))
  }

  test("duplicate-class guard: a 150-member class puts ONE representative into the band join") {
    // 150 identical vectors + a handful of distinct ones: the r5
    // scale-killer corpus. Unguarded, every band bucket holds 150 rows
    // and the self-join pushes 150^2 pairs per band through the shuffle;
    // guarded, each bucket holds exactly one class representative.
    val dupes = (0 until 150).map(i => (100L + i, vec(42)))
    val singles = (0 until 5).map(i => (1000L + i, vec(i)))
    val df = (dupes ++ singles).toDF("id", "v")
    val detail = VectorPipeline.bandedCosinePairsDetail(
      df, "id", "v", threshold = 0.8)
    // the membership table records the full class, rep = min id
    val classes = detail.classes.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(classes.values.count(_ == 100L) == 150)
    // band-join input: one row per (band, representative) — the dup
    // class contributes exactly 1 per band, so no bucket exceeds the
    // number of DISTINCT vectors
    val reps = classes.filter { case (v, r) => v == r }.keySet
    assert(reps.size == 6) // 1 class rep + 5 singles
    assert(detail.stopBands.count() == 0)
    // pairs equal the exhaustive brute force over the same corpus:
    // expansion reconstructs all 150*149/2 intra-class pairs exactly
    val got = detail.pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = VectorPipeline.cosinePairs(df, "id", "v", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == brute)
    assert(got.size == 150 * 149 / 2)
    // and the guarded plan passes the data-aware hot-key lint that
    // flagged the unguarded shape
    assert(graft.plans.PlanLint.selfJoinHotKeys(detail.pairs,
      maxGroup = 151).isEmpty)
  }

  test("hot-band cap: buckets above the threshold become reported stop-bands and never pair-join") {
    // 12 DISTINCT vectors sharing band 0 (first 8 dims identical, the
    // rest unique): bucket size 12 > cap 4 -> stop-listed; no other
    // band collides, so with the bucket suppressed there are no
    // candidates at all. Threshold -10 would pass ANY candidate pair
    // through the verify, so an empty result proves the cap excluded
    // the bucket (unguarded, the same corpus yields 66 pairs).
    val shared = vec(7).take(8)
    val hot = (0 until 12).map { i =>
      (i.toLong, shared ++ vec(100 + i).drop(8))
    }
    val df = hot.toDF("id", "v")
    val detail = VectorPipeline.bandedCosinePairsDetail(
      df, "id", "v", threshold = -10.0, hotBandThreshold = 4L)
    val stops = detail.stopBands.collect()
    assert(stops.length == 1)
    assert(stops.head.getAs[Int]("band_idx") == 0)
    assert(stops.head.getAs[Long]("n_reps") == 12L)
    assert(detail.pairs.count() == 0)
    // sanity: without the cap the bucket pairs quadratically
    val unguarded = VectorPipeline.bandedCosinePairs(
      df, "id", "v", threshold = -10.0, hotBandThreshold = Long.MaxValue)
    assert(unguarded.count() == 12 * 11 / 2)
  }

  test("x47: contract pairs equal brute force; dup class collapses before the band join") {
    val df = graft.operators.EmbedOps.x47DupClassPairs(spark, sf)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = VectorPipeline.cosinePairs(
        graft.operators.EmbedOps.dupClassCorpus(spark, sf), "vec_id", "embedding", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == brute)
    // the planted class: vec 0 + 50 copies -> 51*50/2 intra pairs, all
    // involving only class members
    assert(got.size == 51 * 50 / 2)
    assert(got.forall { case (a, b, _) =>
      (a == 0L || a >= 2000000L) && b >= 2000000L })
  }

  test("x46: incremental probe equals exhaustive cross-side pairs; corpus never self-pairs") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val df = graft.operators.EmbedOps.x46EmbedIncremental(spark, sf)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.nonEmpty, "no straddling clone pair found")
    // exhaustive cross-side brute force over the same corpus
    val corpus = graft.operators.EmbedOps.cloneCorpus(spark, sf)
    val probe = corpus.filter(col("vec_id") >= graft.operators.EmbedOps.CloneOffset)
      .select(col("vec_id").as("id_new"), col("embedding").as("en"))
    val old = corpus.filter(col("vec_id") < graft.operators.EmbedOps.CloneOffset)
      .select(col("vec_id").as("id_old"), col("embedding").as("eo"))
    val brute = probe.crossJoin(old)
      .select(col("id_new"), col("id_old"),
        VectorPipeline.sim(col("en"), col("eo")).as("sim"))
      .filter(col("sim") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == brute)
    // every hit is a (clone, its original) pair
    assert(got.forall { case (n, o, _) => n == o + graft.operators.EmbedOps.CloneOffset })
    // plan shape: band-keyed probe join only — no cartesian, no
    // broadcast nested loop
    val plan = flattenPlan(df.queryExecution.executedPlan)
    assert(!plan.exists(_.isInstanceOf[CartesianProductExec]))
    assert(!plan.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
  }

  test("tokenizers are code-point safe: astral-plane chars never split into surrogate halves") {
    import graft.api.{Bpe, BpeTokenizer, VocabTokenizer, TextPipeline}
    // 😀 (U+1F600) is two UTF-16 units but ONE code point / length() unit
    assert(Bpe.codePointTokens("a😀b").toSeq == Seq("a", "😀", "b"))
    // VocabTokenizer: chunk count = ceil(codepoints/4), exactly what the
    // SQL oracle's CEIL(length(word)/4.0) computes — "ab😀cd" is 5 code
    // points -> 2 pieces (was 6 UTF-16 units -> would have been 2 pieces
    // with a torn surrogate inside)
    val v = new VocabTokenizer(spark.sparkContext.broadcast(Set("kept")))
      .forPartition()
    val pieces = v("kept ab😀cd")
    assert(pieces.toSeq == Seq("kept", "ab😀c", "d"))
    // no piece carries a torn (unpaired) surrogate at either edge
    assert(pieces.forall(p =>
      !Character.isHighSurrogate(p.last) &&
        !Character.isLowSurrogate(p.head)))
    // BPE: base tokens are code points; a merge learned over emoji text
    // applies without tearing the pair
    val docs = Seq((1L, "😀x 😀x 😀x y")).toDF("doc_id", "text")
    val merges = TextPipeline.trainBpe(docs, "text", 1)
    assert(merges == Seq(("😀", "x")))
    val tok = new BpeTokenizer(spark.sparkContext.broadcast(merges))
      .forPartition()
    assert(tok("😀x y").toSeq == Seq("😀x", "y"))
  }

  test("trainBpe: a tiny maxVocab truncates gracefully and stays deterministic") {
    import graft.api.TextPipeline
    val docs = Seq(
      (1L, "aaa aaa aaa bbb bbb rare1 rare2 rare3"),
      (2L, "aaa bbb ccc rare4")).toDF("doc_id", "text")
    // vocab capped at the 2 most frequent words (aaa x4, bbb x3): the
    // rare tail contributes no pair mass, merges come from the head only
    val m2a = TextPipeline.trainBpe(docs, "text", 4, maxVocab = 2)
    val m2b = TextPipeline.trainBpe(docs, "text", 4, maxVocab = 2)
    assert(m2a == m2b) // deterministic under truncation
    // reference: pairs over {aaa w4, bbb w3} — (a,a) 8 vs (b,b) 6 ->
    // ("a","a"); then ("aa","a") 4 vs (b,b) 6 -> ("b","b"); then
    // ("aa","a") 4 vs ("bb","b") 3 -> ("aa","a"); then ("bb","b")
    assert(m2a == Seq(("a", "a"), ("b", "b"), ("aa", "a"), ("bb", "b")))
    // the uncapped run sees the rare words' digit pairs too but the
    // head merges are stable prefixes
    val full = TextPipeline.trainBpe(docs, "text", 4)
    assert(full.take(2) == Seq(("a", "a"), ("b", "b")))
  }

  test("BpeTokenizer: memo cap keeps encoding correct past the bound") {
    import graft.api.{Bpe, BpeTokenizer}
    val merges: Seq[(String, String)] = Seq(("x", "y"))
    val f = new BpeTokenizer(spark.sparkContext.broadcast(merges))
      .forPartition()
    // drive one partition function far past the memo cap with distinct
    // words; late (uncached) words must encode identically to early ones
    val n = BpeTokenizer.MemoCap + 100
    val text = (0 until n).map(i => s"xy$i").mkString(" ")
    val out = f(text)
    val rank = merges.zipWithIndex.toMap
    assert(out.length ==
      (0 until n).map(i => Bpe.encodeWord(s"xy$i", rank).length).sum)
    assert(f(s"xy${n - 1}").toSeq ==
      Bpe.encodeWord(s"xy${n - 1}", rank).toSeq)
  }

  test("sql16: catalog stats inform the broadcast decision with AQE off") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    // setup + values (values are plan-independent; oracle covers them)
    val df = SqlSurface.sql16CboStats(spark, sf)
    assert(df.collect().nonEmpty)
    // pin a broadcast threshold BETWEEN the two size estimates of the
    // SAME filtered+pruned dimension: the catalog/CBO estimate (rowCount
    // x ndv-based filter selectivity — small) vs the file-size estimate
    // (raw bytes scaled by column pruning only — larger). Measured, not
    // hardcoded, so the pin holds at any SF. Only the stats-informed
    // plan may broadcast at that threshold.
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.cbo.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      // ANALYZE landed real stats: with CBO on, the plan carries the
      // catalog rowCount (plain sizeInBytes-only stats would mean the
      // ANALYZE never reached the catalog)
      val stats = spark.table("graft_cbo_customer")
        .queryExecution.optimizedPlan.stats
      assert(stats.rowCount.exists(_ > 0), s"no catalog rowCount: $stats")
      val dir = Tables.scratchDir("cbo_tables", sf)
      def dim(c: org.apache.spark.sql.DataFrame) =
        c.filter(col("c_nationkey") === 1)
          .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
      val estStats = dim(spark.table("graft_cbo_customer"))
        .queryExecution.optimizedPlan.stats.sizeInBytes
      val estFile = dim(spark.read.parquet(s"$dir/customer"))
        .queryExecution.optimizedPlan.stats.sizeInBytes
      assert(estStats < estFile,
        s"column stats should shrink the filter estimate: $estStats vs $estFile")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        ((estStats + estFile) / 2).toString)
      val statsPlan = flattenPlan(
        spark.sql(SqlSurface.CboJoinSql).queryExecution.executedPlan)
      assert(statsPlan.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        "stats-informed plan did not broadcast the filtered dimension")
      // control: the IDENTICAL data read straight from parquet (no
      // catalog stats) must fall back to a sort-merge join at the same
      // threshold — proving the broadcast above came from the catalog,
      // not the file size
      val c = spark.read.parquet(s"$dir/customer")
      val o = spark.read.parquet(s"$dir/orders")
      val control = o.join(c, col("o_custkey") === col("c_custkey"))
        .filter(col("c_nationkey") === 1)
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      val controlPlan = flattenPlan(control.queryExecution.executedPlan)
      assert(controlPlan.exists(_.isInstanceOf[SortMergeJoinExec]),
        "control (stats-less) plan should sort-merge at this threshold")
      assert(!controlPlan.exists(_.isInstanceOf[BroadcastHashJoinExec]))
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("cloneCorpus: offset-collision guard fires on an oversized id") {
    // a corpus whose max id reaches the clone offset must be refused,
    // not silently corrupted (ADVICE r5)
    val dir = Tables.scratchDir("x46guard", sf)
    Seq((graft.operators.EmbedOps.CloneOffset, vec(1)), (1L, vec(2)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // the other tables are irrelevant: cloneCorpus reads embeddings only
    val e = intercept[IllegalArgumentException] {
      graft.operators.EmbedOps.cloneCorpus(spark, dir)
    }
    assert(e.getMessage.contains("collide"))
  }

  test("a18: partial HLL sketches are binary rows, one per (segment, shard), and the claims hold") {
    val c = Tables.customer(spark, sf)
      .select(col("c_mktsegment"), col("c_custkey"))
    val partials = c
      .withColumn("shard", pmod(hash(col("c_custkey")), lit(8)))
      .groupBy(col("c_mktsegment"), col("shard"))
      .agg(hll_sketch_agg(col("c_custkey")).as("sk"))
    // the rollup's input is one SKETCH row per (segment, shard) — the
    // compaction that lets a 100 TB rollup skip the raw keys
    val nSeg = c.select(col("c_mktsegment")).distinct().count()
    assert(partials.count() <= nSeg * 8)
    assert(partials.schema("sk").dataType ==
      org.apache.spark.sql.types.BinaryType)
    val out = graft.operators.Aggs.a18HllMerge(spark, sf).collect()
    assert(out.length == nSeg)
    out.foreach { r =>
      assert(r.getBoolean(2) && r.getBoolean(3) && r.getBoolean(4),
        s"claim failed for ${r.getString(0)}: $r")
    }
  }

  test("Memo is re-entrant: a memoized build may itself call Memo") {
    // Regression: cloneCorpus' memoized id guard runs INSIDE clonePairs'
    // memoized build; ConcurrentHashMap.computeIfAbsent threw "Recursive
    // update" on that nesting whenever the inner key wasn't already
    // populated — which depended on query execution ORDER (verify's map
    // order ran x46 first and masked it; bench's sorted order hit it).
    var innerBuilds = 0
    val out = Memo(spark, "memo-reentrancy-outer") {
      val inner = Memo(spark, "memo-reentrancy-inner") {
        innerBuilds += 1
        spark.range(3).toDF("n").localCheckpoint(true)
      }
      inner.agg(sum(col("n")).as("s")).localCheckpoint(true)
    }
    assert(out.head.getLong(0) == 3L && innerBuilds == 1)
    // and the nested path is the one the contract actually runs:
    // a FRESH memo state would rebuild clonePairs with the guard inside
    assert(Memo[org.apache.spark.sql.DataFrame](spark,
        "memo-reentrancy-inner") { fail("must be cached") }
      .count() == 3L)
  }

  test("Memo holds any value: built and noted once per session") {
    // a trained model or a written layout's path is memoised exactly
    // like a frame, and its build shows in BuildLog like a frame's
    val key = s"memo-any-${System.nanoTime()}"
    var builds = 0
    def model(s: org.apache.spark.sql.SparkSession): Vector[Int] =
      Memo(s, key) { builds += 1; Vector(1, 2, 3) }
    BuildLog.setCurrent("memo-any-spec")
    try {
      val first = model(spark)
      assert(model(spark) eq first)
      assert(builds == 1)
      assert(BuildLog.snapshot()("memo-any-spec").count(_ == s"memo:$key") == 1)
      // another session builds its own
      assert(model(spark.newSession()) == first && builds == 2)
    } finally BuildLog.setCurrent("")
  }

  test("x41/x42 run from a cold memo in bench's sorted order") {
    // bench iterates queries sorted by name, so x41 is the FIRST query
    // to touch the clone-corpus memo chain — exactly the cold nested
    // path that used to throw. A scratch sfDir guarantees cold keys
    // even when other suites in this JVM already ran x41 on testdata.
    val dir = Tables.scratchDir("x41cold", sf)
    Seq((1L, vec(1)), (2L, vec(2)), (3L, vec(1)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val pairs = SparkEntry.queries("x41_embed_neardup")(spark, dir)
    assert(pairs.count() >= 1L) // the planted (1,3) identical pair
    val keep = SparkEntry.queries("x42_embed_dedup_keep")(spark, dir)
    assert(keep.count() >= 3L)
  }
}
