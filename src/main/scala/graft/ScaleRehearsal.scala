package graft

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale rehearsal (VERDICT r11 #2): amplify the sf0.1
  * corpus ~10× DETERMINISTICALLY, run the heaviest batch rows plus the
  * dedup/ANN family at both scales in one JVM, and emit per-query
  * scaling exponents — converting the repo's 100-TB design arguments
  * (bounded candidates, broadcast models, decomposed ranks) from prose
  * into measurement.
  *
  * Amplification (union-shift, the dbgen idea without a generator):
  * copy i of each fact/dim shifts every key family by its own stride,
  * so copy i joins copy i and the amplified corpus is `factor`
  * structurally-independent shards — degree distributions, near-dup
  * densities and cluster shapes stay CONSTANT, row counts scale by
  * `factor`, which is exactly the regime where a linear design must
  * measure ~linear. Two content rules keep the densities honest:
  *
  *  - documents: copy i > 0 suffixes every word with "x<i>" — a
  *    token bijection, so WITHIN-copy shingle structure (planted
  *    near-dups included) is preserved exactly while CROSS-copy
  *    Jaccard is 0 (10 identical text copies would instead plant a
  *    45-way near-dup clique per document — quadratic pair volume by
  *    DATA, not by design, measuring nothing about the engine).
  *  - embeddings: copy i rotates each vector's dimensions by
  *    (i*7) mod 64 — unit norm preserved, within-copy geometry
  *    identical, cross-copy cosine ≈ ambient (near-orthogonal corpus)
  *    so the banded/semantic dedup rows keep their per-copy pair
  *    volume. vec_id strides stay below EmbedOps.CloneOffset so the
  *    x41 clone-collision guard holds at every factor ≤ 10.
  *
  * Timing protocol: each query runs TWICE per scale — run1 includes
  * any cross-process artifact staging for the (new) amplified corpus,
  * run2 is the steady state a production pipeline pays per run. The
  * exponent is ln(t2_amp / t2_base) / ln(factor): 1.0 = linear, and
  * noise floors dominate below ~0.5 s rows (reported, not filtered).
  * Host throttle caveat (BASELINE.md): both scales run in the SAME
  * JVM minutes apart, so the ratio is same-profile even when the
  * absolute numbers are inflated.
  */
object ScaleRehearsal {

  /** Key strides per copy. Guarded at build time against the actual
    * max key so copies can never collide. */
  private val StrideOrder = 10000000L
  private val StrideCust = 1000000L
  private val StrideSupp = 100000L
  private val StridePart = 1000000L
  private val StrideDoc = 100000L // docs+embeddings; 10*1e5 < CloneOffset

  /** The rows under rehearsal: r11's heaviest batch rows + the
    * dedup/ANN/curation family whose 100-TB story this measures. */
  val Selected: Seq[String] = Seq(
    // heavy batch (BENCH_r11 slowest non-streaming rows)
    "x112_triangles", "x140_hits", "x111_pagerank", "x136_kcore",
    "x142_assoc_rules", "x160_apriori3", "x71_copurchase",
    "x64_fuzzy_join", "x66_repeated_spans", "x49_lm_score",
    // text dedup tiers
    "l2_minhash_dedup", "x1_simhash", "x12_dedup_clusters",
    // embedding dedup + semantic-curation ladder
    "x41_embed_neardup", "x42_embed_dedup_keep", "x172_semdedup",
    "x175_d4_prune", "x179_curation_ladder",
    // ANN
    "l3_topk_cosine", "x8_ivf_ann", "x14_lsh_ann", "x51_pq_ann",
    "x52_pq_rerank",
    // transactional maintenance (round 13): whole-table, partition-
    // scoped and clustered OPTIMIZE are full rewrites of the data they
    // touch — the honest 100-TB claim is exponent ≈ 1 on the touched
    // bytes (write amplification linear, never super-linear), with
    // x182 touching only its qualifying partitions
    "x181_compact_table", "x182_compact_partitions",
    "x183_clustered_optimize",
    // round-14 warehouse frontier: partitioned CTAS + partition-scoped
    // rewrite (sql56 — the pruned-scan claim is the part that must
    // stay sublinear), multi-table txn (sql57 — staging is the only
    // data-sized phase), write-time CDC (st29 — O(changed) per
    // commit, exponent on the CHANGED bytes)
    "sql56_partitioned_table", "sql57_multi_table_txn", "st29_cdf_rows",
    // round-15 storage frontier: file skipping (sql60 — the pruned
    // range read must stay sublinear in table size), hidden
    // partitioning (sql61 — day-dir pruning dominates), deletion
    // vectors (sql62 — the DV delete's cost tracks the DELETED rows,
    // the honest claim is ~flat at fixed match fraction of a bigger
    // corpus... the row's delete slice scales with the corpus, so
    // exponent ≈ the slice's share of work), the SQL txn face (sql63 —
    // staging is the only data-sized phase)
    "sql60_file_skipping", "sql61_transform_partitions",
    "sql62_deletion_vectors", "sql63_sql_txn_face",
    // round-16 storage frontier: merge-on-read UPDATE/MERGE (sql65 —
    // cost tracks the CHANGED rows plus the candidate-file scan, not
    // affected-file bytes), spec evolution (sql66 — metadata-only
    // commit; the windowed read's cost tracks kept files under both
    // layouts), incremental MV refresh (sql67 — ∝ the CDF delta),
    // session transactions (sql68 — clone links + touched-table
    // restatement)
    "sql65_dv_update", "sql66_spec_evolution",
    "sql67_matview_refresh", "sql68_session_txn")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .config("spark.sql.extensions",
        classOf[graft.plans.GraftSparkSessionExtensions].getName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.tune(spark)

    val ampDir = buildAmplified(spark, sfDir, factor)
    println(s"[scale] amplified corpus at $ampDir (factor $factor)")

    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def timeOne(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).count(): Unit
      (System.nanoTime() - t0) / 1e9
    }
    // optional subset (comma-separated names) — re-rehearse new rows
    // without re-paying the whole board
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val rows = Selected.filter(SparkEntry.queries.contains)
      .filter(q => only.forall(_.contains(q))).map { q =>
      val b1 = timeOne(q, sfDir)
      val b2 = timeOne(q, sfDir)
      val a1 = timeOne(q, ampDir)
      val a2 = timeOne(q, ampDir)
      val exp = math.log(a2 / b2) / math.log(factor.toDouble)
      println(s"[scale] $q base=${fmt(b2)}s (cold ${fmt(b1)}) " +
        s"amp=${fmt(a2)}s (cold ${fmt(a1)}) exponent=${fmt(exp)}")
      s"""{"q":"$q","base_warm_s":${fmt(b2)},"base_cold_s":${fmt(b1)},""" +
        s""""amp_warm_s":${fmt(a2)},"amp_cold_s":${fmt(a1)},""" +
        s""""exponent":${fmt(exp)}}"""
    }
    val out =
      s"""{"metric":"scale_rehearsal","factor":$factor,"sf":"$sfDir","cpus":$cpus,"rows":[${rows.mkString(",")}]}"""
    println(out)
    val target = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT",
      "tools/scale_rehearsal.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(target),
      (out + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    spark.stop()
  }

  /** Build (or reuse) the amplified corpus directory, staged once
    * through [[Tables.ensureStaged]]: its contents are a pure function
    * of (sfDir fingerprint, factor), so the directory is named by both
    * and exists only when complete. */
  def buildAmplified(spark: SparkSession, sfDir: String,
      factor: Int): String = {
    val token = Seq("lineitem", "documents", "embeddings")
      .map(t => Tables.corpusFingerprint(sfDir, t)).mkString("|")
    val out = new File(sys.props("java.io.tmpdir"),
      s"graft_amplified${factor}_${((sfDir + token).hashCode & 0x7fffffff).toHexString}")
    Tables.ensureStaged(out)(tmp => writeAmplified(spark, sfDir, factor, tmp))
    out.getAbsolutePath
  }

  private def writeAmplified(spark: SparkSession, sfDir: String, factor: Int,
      out: File): Unit = {
    val copies = 0 until factor

    def guard(df: DataFrame, key: String, stride: Long): Unit = {
      val mx = df.agg(max(col(key))).head.getLong(0)
      require(mx < stride,
        s"stride $stride too small for $key (max $mx) — copies would collide")
    }
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
    def base(name: String): DataFrame = Tables.table(spark, sfDir, name)

    val orders = base("orders")
    guard(orders, "o_orderkey", StrideOrder)
    write("orders", copies.map { i =>
      orders.select((col("o_orderkey") + i * StrideOrder).as("o_orderkey"),
        (col("o_custkey") + i * StrideCust).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }.reduce(_ unionByName _))

    val li = base("lineitem")
    write("lineitem", copies.map { i =>
      li.select((col("l_orderkey") + i * StrideOrder).as("l_orderkey"),
        (col("l_partkey") + i * StridePart).as("l_partkey"),
        (col("l_suppkey") + i * StrideSupp).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    }.reduce(_ unionByName _))

    val cust = base("customer")
    write("customer", copies.map { i =>
      cust.select((col("c_custkey") + i * StrideCust).as("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment"))
    }.reduce(_ unionByName _))

    val supp = base("supplier")
    write("supplier", copies.map { i =>
      supp.select((col("s_suppkey") + i * StrideSupp).as("s_suppkey"),
        col("s_name"), col("s_nationkey"), col("s_acctbal"))
    }.reduce(_ unionByName _))

    val part = base("part")
    write("part", copies.map { i =>
      part.select((col("p_partkey") + i * StridePart).as("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
        col("p_retailprice"))
    }.reduce(_ unionByName _))

    val docs = base("documents")
    guard(docs, "doc_id", StrideDoc)
    write("documents", copies.map { i =>
      val text =
        if (i == 0) col("text")
        else array_join(transform(split(col("text"), " "),
          w => concat(w, lit(s"x$i"))), " ")
      docs.select((col("doc_id") + i * StrideDoc).as("doc_id"),
        text.as("text"), col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _))

    val emb = base("embeddings")
    guard(emb, "vec_id", StrideDoc)
    require(factor * StrideDoc <= graft.operators.EmbedOps.CloneOffset,
      "amplified vec_ids would trip the clone-collision guard")
    write("embeddings", copies.map { i =>
      val r = (i * 7) % 64
      val rotated =
        if (r == 0) col("embedding")
        else transform(sequence(lit(0), lit(63)),
          j => element_at(col("embedding"), ((j + lit(r)) % 64) + 1))
      emb.select((col("vec_id") + i * StrideDoc).as("vec_id"),
        rotated.as("embedding"), col("label"))
    }.reduce(_ unionByName _))

    // unamplified small tables ride along so Tables.* resolve
    Seq("region", "nation", "events").foreach { t =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfDir/$t.parquet"),
        java.nio.file.Paths.get(s"$out/$t.parquet")): Unit
    }
  }
}
