package graft

import org.apache.spark.sql.functions._
import graft.api.{TextPipeline, VocabTokenizer, WhitespaceTokenizer}
import graft.operators.EventOps

class Extras5Spec extends SparkSpec {
  import spark.implicits._

  test("tokenizer seam: whitespace tokenize equals split; columns preserved") {
    val docs = Seq((1L, "aa bb cc"), (2L, "x"), (3L, ""))
      .toDF("doc_id", "text").withColumn("extra", col("doc_id") * 10)
    val out = TextPipeline.tokenize(docs, "text", WhitespaceTokenizer)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[scala.collection.Seq[String]]("tokens").toSeq,
          r.getAs[Long]("extra"))).toMap
    assert(out(1L) == ((Seq("aa", "bb", "cc"), 10L)))
    assert(out(2L)._1 == Seq("x"))
    assert(out(3L)._1 == Seq.empty)
  }

  test("vocab tokenizer: vocab words are single tokens, others split into <=4-char pieces") {
    val vocab = spark.sparkContext.broadcast(Set("hello", "world"))
    val f = new VocabTokenizer(vocab).forPartition()
    assert(f("hello world").toSeq == Seq("hello", "world"))
    assert(f("greetings").toSeq == Seq("gree", "ting", "s")) // ceil(9/4)=3
    assert(f("hello greetings world ab").toSeq ==
      Seq("hello", "gree", "ting", "s", "world", "ab"))
    assert(f("").toSeq == Seq.empty)
  }

  test("trainBpe learns the reference merge sequence; BpeTokenizer round-trips") {
    val docs = Seq(
      (1L, "low low low low low lower lower newest newest newest newest newest newest"),
      (2L, "widest widest widest newest lowest low"))
      .toDF("id", "body")
    val merges = TextPipeline.trainBpe(docs, "body", 10)
    assert(merges.length == 10)
    // INDEPENDENT driver-side reference (its own fuse, its own loop)
    // over the same word multiset
    def refFuse(t: List[String], a: String, b: String): List[String] = t match {
      case x :: y :: rest if x == a && y == b => (a + b) :: refFuse(rest, a, b)
      case x :: rest => x :: refFuse(rest, a, b)
      case Nil => Nil
    }
    var state: Seq[(List[String], Long)] = docs
      .select(explode(split(col("body"), " ")).as("w")).collect()
      .map(_.getString(0)).groupBy(identity).toSeq
      .map { case (w, g) => (w.map(_.toString).toList, g.length.toLong) }
    val want = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (want.length < 10) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      state.foreach { case (toks, n) =>
        toks.zip(toks.tail).foreach(p =>
          counts(p) = counts.getOrElse(p, 0L) + n)
      }
      val (pair, _) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
      want += pair
      state = state.map { case (toks, n) =>
        (refFuse(toks, pair._1, pair._2), n) }
    }
    assert(merges == want.toSeq, s"\nspark: $merges\nref:   $want")
    // inference: tokens concatenate losslessly; frequent words collapse
    // to few tokens; fewer merges can only lengthen the encoding
    val full = new graft.api.BpeTokenizer(
      spark.sparkContext.broadcast(merges)).forPartition()
    val toks = full("lowest newest low")
    assert(toks.mkString == "lowestnewestlow")
    assert(full("newest").length < "newest".length)
    val partial = new graft.api.BpeTokenizer(
      spark.sparkContext.broadcast(merges.take(3))).forPartition()
    assert(partial("lowest newest low").length >= toks.length)
    // the seam: tokenize() carries the learned tokenizer like any other
    val out = TextPipeline.tokenize(docs, "body",
        new graft.api.BpeTokenizer(spark.sparkContext.broadcast(merges)))
      .select(size(col("tokens")).as("n")).collect()
    assert(out.forall(_.getAs[Int]("n") > 0))
  }

  test("x40: token counts are exact per the vocab rule; n_tokens >= n_words") {
    val rows = graft.operators.TextIndexOps.x40BpeTokens(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    // recompute a sample of docs driver-side against the same pinned vocab
    val vocab = TextPipeline
      .topVocab(Tables.documents(spark, sf), "text", 64).toSet
    val texts = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.take(50).foreach { r =>
      val words = texts(r.getLong(0)).split(" ", -1)
      val want = words.map(w =>
        if (vocab(w)) 1L else ((w.length + 3) / 4).toLong).sum
      assert(r.getAs[Long]("n_tokens") == want, s"doc ${r.getLong(0)}")
      assert(r.getAs[Long]("n_words") == words.length.toLong)
      assert(r.getAs[Long]("n_tokens") >= r.getAs[Long]("n_words"))
      assert(r.getAs[Long]("n_chunks") ==
        (r.getAs[Long]("n_tokens") + 511L) / 512L)
    }
  }

  test("x41: banded near-dedup equals exhaustive brute force, never a cross join") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val df = graft.operators.EmbedOps.x41EmbedNearDup(spark, sf)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.nonEmpty, "no planted clone pair found")
    // recall + precision: identical to the quadratic exact baseline
    // over the same constructed corpus
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val aug = emb.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i % 32 === 0, -x).otherwise(x)).as("embedding"))
    val brute = graft.api.VectorPipeline
      .cosinePairs(emb.union(aug), "vec_id", "embedding", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == brute)
    // ambient pairs never reach the verify bar: every surviving pair is
    // a planted (original, clone) pair
    assert(got.forall { case (a, b, _) => b == a + 1000000L })
    // plan shape: candidates via the band join only — no cartesian, no
    // broadcast nested loop anywhere (collect above finalized AQE)
    val plan = flattenPlan(df.queryExecution.executedPlan)
    assert(!plan.exists(_.isInstanceOf[CartesianProductExec]))
    assert(!plan.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
    // and the band self-join has no hot bucket on this corpus
    assert(graft.plans.PlanLint.selfJoinHotKeys(df, maxGroup = 64).isEmpty)
  }

  test("x42: dropped set is exactly the pairs' larger side; originals all kept") {
    val verdicts = graft.operators.EmbedOps.x42EmbedDedupKeep(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val pairDropped = graft.operators.EmbedOps.x41EmbedNearDup(spark, sf).collect()
      .map(_.getLong(1)).toSet
    assert(verdicts.filterNot(_._2).keySet == pairDropped)
    assert(pairDropped.nonEmpty)
    // first-occurrence-wins: an original (id < 1e6) is never dropped —
    // its clone has the larger id
    assert(verdicts.filter(_._1 < 1000000L).values.forall(identity))
  }

  test("x43: decomposed quantiles equal Spark's exact percentile; clip is consistent") {
    val rows = graft.operators.StatsOps.x43Winsorize(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    // the decomposition must reproduce the buffered exact percentile
    // (the a17 baseline) bit-for-bit after the shared 4-dp round
    val want = Tables.documents(spark, sf)
      .select(col("lang"),
        round(length(col("text")) / size(split(col("text"), " ")), 6)
          .as("score"))
      .groupBy(col("lang"))
      .agg(round(percentile(col("score"), lit(0.05)), 4).as("lo"),
        round(percentile(col("score"), lit(0.95)), 4).as("hi"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2))).toMap
    rows.foreach { r =>
      val (lo, hi) = want(r.getString(1))
      assert(r.getDouble(3) == lo && r.getDouble(4) == hi,
        s"bounds diverge for lang ${r.getString(1)}")
      val (score, clipped) = (r.getDouble(2), r.getDouble(5))
      assert(clipped >= lo && clipped <= hi)
      assert(r.getBoolean(6) == (score < lo || score > hi))
      if (!r.getBoolean(6)) assert(clipped == score)
    }
    // non-vacuous: something was clipped on both tails
    assert(rows.exists(r => r.getBoolean(6) && r.getDouble(2) < r.getDouble(3)))
    assert(rows.exists(r => r.getBoolean(6) && r.getDouble(2) > r.getDouble(4)))
  }

  test("x45 funnel: stage timestamps are ordered and match a driver-side recompute") {
    val rows = EventOps.x45Funnel(spark, sf).collect()
    // order within the funnel whenever a stage is reached
    rows.foreach { r =>
      val (v, c, p) = (Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]))
      if (c.isDefined) assert(v.isDefined && c.get >= v.get)
      if (p.isDefined) assert(c.isDefined && p.get >= c.get)
      val stage = Seq(v, c, p).count(_.isDefined)
      assert(r.getInt(4) == stage)
    }
    // non-vacuous: some user converts fully, the stages are not all equal
    assert(rows.exists(_.getInt(4) == 3))
    // driver-side recompute for every user
    val events = Tables.eventsUs(spark, sf)
      .select(col("user_id"), col("ts"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1)
    rows.foreach { r =>
      val ev = events(r.getLong(0))
      val v = ev.filter(_._3 == "view").map(_._2).minOption
      val c = v.flatMap(t =>
        ev.filter(e => e._3 == "click" && e._2 >= t).map(_._2).minOption)
      val p = c.flatMap(t =>
        ev.filter(e => e._3 == "purchase" && e._2 >= t).map(_._2).minOption)
      assert(Option(r.get(1)).map(_.asInstanceOf[Long]) == v, s"user ${r.getLong(0)}")
      assert(Option(r.get(2)).map(_.asInstanceOf[Long]) == c)
      assert(Option(r.get(3)).map(_.asInstanceOf[Long]) == p)
    }
  }

  test("w14 native session_window equals the w9 lag+cumsum decomposition row for row") {
    val native = graft.operators.Windows.w14SessionWindow(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val decomposed = graft.operators.Windows.w9BatchSessionize(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(native == decomposed)
    assert(native.nonEmpty)
  }

  test("s21 time travel: v1 is bit-identical to the source after the v2 write") {
    graft.operators.StorageOps.s21SnapshotVersions(spark, sf).collect() // runs both writes
    // round 12: the version dirs live in the cross-process artifact tier
    val base = Tables.stagedHome("s21_snap", sf, Seq("customer"), "v2cdc")
      .getAbsolutePath
    val v1 = spark.read.parquet(s"$base/v=1").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val src = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_acctbal")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(v1 == src, "v1 snapshot mutated by the v2 restatement")
    val v2 = spark.read.parquet(s"$base/v=2").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(v2.keySet == src.keySet.filter(_ % 10 != 0))
    v2.foreach { case (k, bal) =>
      assert(bal == (if (k % 10 == 1) src(k) + 100.0 else src(k)))
    }
  }

  test("x21/x23 token-space mode: the tokenizer parameter changes the accounting, not the shape") {
    val docs = Tables.documents(spark, sf)
    val vocab = new VocabTokenizer(spark.sparkContext.broadcast(
      TextPipeline.topVocab(docs, "text", 64).toSet))
    // x21 in token space: per-doc n_tokens equals x40's
    val packed = graft.operators.PipelineOps
      .x21PackSequences(spark, sf, vocab)
      .select(col("doc_id"), col("n_tokens")).collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("n_tokens").toLong).toMap
    val x40 = graft.operators.TextIndexOps.x40BpeTokens(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_tokens")).toMap
    assert(packed == x40)
    // x23 in token space: chunk token totals equal the token count
    val chunks = TextPipeline.chunks(docs, "doc_id", "text", 64, 64, vocab)
      .groupBy(col("doc_id")).agg(sum(col("n_tok")).as("total")).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("total")).toMap
    assert(chunks == x40)
    // default tokenizer still equals the word-space contract query
    val a = graft.operators.PipelineOps.x21PackSequences(spark, sf)
      .collect().map(_.toSeq)
    val b = SparkEntry.queries("x21_pack_sequences")(spark, sf)
      .collect().map(_.toSeq)
    assert(a.sameElements(b))
  }
}
