package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Det, Tables}

/** Scale-technique operators: the shuffle-shaping patterns a 100 TB
  * deployment leans on — salting for skew, bucketing for shuffle-free
  * joins — plus the SQL-string entry surface (SURVEY §3.2 E2), each
  * verified against the DuckDB oracle to prove the technique preserves
  * semantics exactly.
  */
object ScaleOps {

  /** Drop a table's metadata AND its explicit data location: catalog
    * metadata is per-session but data directories persist, and CREATE
    * then refuses the stale location. Contract tables use explicit
    * per-process [[graft.Tables.scratchDir]] locations (never the
    * SHARED session warehouse dir) so two concurrent Verify processes
    * cannot race each other's table files — VERDICT r6 #2. */
  private[operators] def dropTableAt(s: SparkSession, t: String,
      loc: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $t")
    Tables.rm(new java.io.File(loc))
  }

  /** S20 — bucket PRUNING on a bucketed-table scan: the scan-side
    * payoff of x10's layout. An equality/IN filter on the bucket column
    * restricts the scan to the matching buckets' files (the planner's
    * optionalBucketSet — ScaleOpsSpec asserts `SelectedBucketsCount:
    * ≤3 out of 16` in the plan), the file-layout analog of s8's
    * partition pruning but on HASHED high-cardinality keys, which
    * directory partitioning cannot do without one directory per key.
    * At 100 TB a point lookup on a bucketed fact opens 1/nBuckets of
    * the files before any row is decoded. */
  def s20BucketPrune(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.tune(spark)
    val t = "graft_s20_orders"
    val loc = s"${Tables.scratchDir("s20_tbl", sfDir)}/$t"
    dropTableAt(s, t, loc)
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .write.mode("overwrite").option("path", loc).bucketBy(16, "o_custkey")
      .sortBy("o_custkey").saveAsTable(t)
    s.table(t).filter(col("o_custkey").isin(7L, 42L, 101L))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"),
        Det.dsum(col("o_totalprice")).as("revenue"))
      .orderBy(col("o_custkey"))
  }

  /** X9 — salted two-phase aggregation: l_returnflag has only 3 values,
    * so a direct groupBy at 100 TB funnels a third of the table into one
    * reducer. Salting by a 16-way key spreads the partial aggregation,
    * and the exact-decimal partials re-combine associatively — the
    * oracle (an unsalted GROUP BY) proves the result is unchanged. */
  def x9SaltedAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .withColumn("salt", pmod(col("l_orderkey"), lit(16L)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(sum(col("l_extendedprice").cast(Det.Money)).as("part_sum"),
        count(lit(1)).as("part_n"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("part_sum")).cast("double").as("sum_price"),
        sum(col("part_n")).as("n"))
      .orderBy(col("l_returnflag"))

  /** X10 — bucketed co-partitioned join: both fact tables are written
    * bucketed by the join key, then joined shuffle-free (the plan has no
    * Exchange on either side — asserted in ScaleOpsSpec). This is the
    * pre-shuffle-once, join-many-times pattern for repeated 100 TB joins. */
  def x10BucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.tune(spark)
    val nBuckets = 8
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") > 45.0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_totalprice"))
    // idempotent re-create: the in-memory catalog forgets tables across
    // sessions but their data directories persist, and CREATE then
    // refuses the stale location — drop both metadata and files first
    val base = Tables.scratchDir("x10_tbl", sfDir)
    Seq("graft_li_bucketed", "graft_o_bucketed")
      .foreach(t => dropTableAt(s, t, s"$base/$t"))
    li.write.mode("overwrite").option("path", s"$base/graft_li_bucketed")
      .bucketBy(nBuckets, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("graft_li_bucketed")
    o.write.mode("overwrite").option("path", s"$base/graft_o_bucketed")
      .bucketBy(nBuckets, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("graft_o_bucketed")
    val bl = s.table("graft_li_bucketed")
    val bo = s.table("graft_o_bucketed")
    bl.join(bo, bl("l_orderkey") === bo("o_orderkey"), "inner")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        col("o_totalprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
  }

  /** X24 — bloom-filter pre-filtered join (the runtime-filter pattern,
    * explicit): build a bloom over the selective build side's join keys
    * (top ~2% orders by price), prune the fact side against it BEFORE
    * the shuffle, then run the exact join — bloom false positives are
    * removed by the join itself, so the result is exact and the oracle
    * is the plain join.
    *
    * Spark's `InjectRuntimeFilter` does this automatically inside one
    * query when stats justify it; the explicit form also covers what the
    * optimizer can't: building the bloom once and reusing it across many
    * queries/scans (the dim-filter-changes-rarely pattern). The sketch
    * is built distributed (treeAggregate), sized to the measured build
    * count (~4 KB at sf0.1), and ships to executors as a plan literal
    * evaluated by Spark's own codegen'd `BloomFilterMightContain` — no
    * per-row Scala UDF serde. At 100 TB the exchange carries ~2% of
    * lineitem instead of all of it. */
  def x24BloomJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_totalprice") > 490000.0)
      .select(col("o_orderkey"), col("o_totalprice"))
    // size the sketch to the measured build side (one count action —
    // the same runtime stat AQE's own filter injection keys off): an
    // overprovisioned bloom is a megabyte plan literal for nothing
    val bf = o.stat.bloomFilter("o_orderkey",
      math.max(1000L, o.count()), 0.01)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_quantity"))
    val might = GraftBridge.column(BloomFilterMightContain(
      Literal.create(bytes,
        org.apache.spark.sql.types.BinaryType),
      GraftBridge.expression(li("l_orderkey"))))
    li.filter(might)
      .join(o, li("l_orderkey") === o("o_orderkey"), "inner")
      .groupBy(col("o_orderkey"))
      .agg(max(col("o_totalprice")).as("price"),
        Det.dsum(col("l_extendedprice")).as("line_revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderkey"))
  }

  /** The 8-bit × 8-bit Morton/Z-order interleave as a SQL expression
    * string — one spelling shared verbatim by the Spark side and the
    * DuckDB oracle so the curve is provably the same on both engines. */
  def zInterleaveSql(x: String, y: String): String =
    (0 until 8).map(i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  /** Write the Z-order-clustered orders layout and return its path —
    * shared by [[x26ZorderLayout]] (row-group pruning via pushed
    * predicates) and [[s15ManifestPrune]] (file pruning via a stats
    * manifest). Written once per (session, corpus) — the clustered
    * layout is the reusable artifact here (on a cluster it's a table
    * maintenance job's output, amortized over every query that reads
    * it), so each consumer paying the write would overstate its cost. */
  def zorderDir(spark: SparkSession, sfDir: String): String =
    graft.Memo(spark, s"x26_zorder:$sfDir") {
      val dir = Tables.scratchDir("x26_zorder", sfDir)
      Tables.orders(spark, sfDir)
        .withColumn("xb", pmod(col("o_custkey"), lit(256L)))
        .withColumn("yb", floor(col("o_totalprice") / 2000.0).cast("long"))
        .withColumn("zval", expr(zInterleaveSql("xb", "yb")))
        .repartitionByRange(8, col("zval"))
        .sortWithinPartitions(col("zval"))
        .write.mode("overwrite").parquet(dir)
      dir
    }

  /** X26 — Z-order clustered layout (multi-dimensional pruning): map
    * two query dimensions onto an 8-bit grid, interleave the bits into a
    * Morton key, range-repartition + sort the table by that key, and
    * write parquet. Points close on the Z-curve are close in BOTH
    * dimensions, so every file's (custkey-bucket × price-bucket)
    * bounding box is tight and a 2-D box predicate prunes row groups on
    * either column's min/max stats — one clustered layout serves both
    * single-dimension and conjunctive filters, where a plain sort serves
    * only its leading column. The contract query round-trips the layout
    * and runs a 2-D box aggregate; the oracle is the same box on the
    * base table (layout must not change semantics). */
  def x26ZorderLayout(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.tune(spark)
    s.read.parquet(zorderDir(spark, sfDir))
      .filter(col("xb").between(32L, 95L) && col("yb").between(64L, 159L))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        Det.dsum(col("o_totalprice")).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  /** S15 — manifest-driven FILE pruning (the Iceberg/Delta data-skipping
    * pattern, done manually): build a per-file min/max stats manifest
    * over the Z-clustered layout, intersect it with the query box on the
    * driver (a metadata operation bounded by file count, exactly what a
    * table format's scan planner does), and hand the reader only the
    * files whose bounds overlap. Row-group pruning (x26) saves decode
    * inside touched files; manifest pruning never opens the skipped
    * files at all — at 100 TB that's the difference between listing a
    * million footers and reading a thousand. The aggregate equals x26's
    * (skipping must not change semantics) and every row carries the
    * claim that files really were skipped. */
  def s15ManifestPrune(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.tune(spark)
    val dir = zorderDir(spark, sfDir)
    val manifest = s.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("xb")).as("xb_min"), max(col("xb")).as("xb_max"),
        min(col("yb")).as("yb_min"), max(col("yb")).as("yb_max"))
      .collect()
    val hits = manifest.filter { r =>
      !(r.getAs[Long]("xb_max") < 32L || r.getAs[Long]("xb_min") > 95L ||
        r.getAs[Long]("yb_max") < 64L || r.getAs[Long]("yb_min") > 159L)
    }.map(_.getAs[String]("f"))
    val skipped = manifest.length - hits.length
    if (skipped == 0)
      // the oracle's files_skipped=TRUE claim depends on the z-order
      // layout producing both hit and miss files; surface a layout
      // change loudly instead of failing the compare silently
      System.err.println(s"[s15] WARNING: 0 of ${manifest.length} files " +
        "skipped — z-order layout no longer separates the query box")
    if (hits.isEmpty)
      // all files pruned: a legal outcome for a box outside the data;
      // return the (empty) aggregate with the same schema instead of
      // letting parquet() throw on an empty path list
      s.read.parquet(dir).filter(lit(false))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          Det.dsum(col("o_totalprice")).as("revenue"))
        .withColumn("files_skipped", lit(true))
    else s.read.parquet(hits.toIndexedSeq: _*)
      .filter(col("xb").between(32L, 95L) && col("yb").between(64L, 159L))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        Det.dsum(col("o_totalprice")).as("revenue"))
      .withColumn("files_skipped", lit(skipped > 0))
      .orderBy(col("o_orderstatus"))
  }

  /** X28 — salted skew JOIN (the join-side twin of x9's salted agg):
    * the fact side joins a per-flag dimension on a 3-value key, so a
    * plain shuffle join funnels a third of lineitem through one reducer.
    * Salting spreads it: the fact side gets a 16-way salt, the dim side
    * is replicated once per salt value, and the join key becomes
    * (flag, salt) — 48 balanced partitions instead of 3 hot ones. The
    * dim here is deliberately tiny (the semantics proof); the pattern
    * earns its keep when the dim is too big to broadcast but small
    * enough to replicate R ways, which is why the query pins a
    * SHUFFLE_HASH join (broadcast would dodge the skew instead of
    * handling it). AQE's skew-join split handles sort-merge skew
    * automatically; explicit salting is the form that works for ANY
    * join strategy and survives static planning. */
  def x28SaltedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val r = 16
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_extendedprice"))
      .withColumn("salt", pmod(xxhash64(col("l_extendedprice")), lit(r.toLong)))
    val dim = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag")).distinct()
      .withColumn("flag_desc", concat(lit("desc_"), col("l_returnflag")))
      .withColumn("salt", explode(sequence(lit(0L), lit(r - 1L))))
    li.hint("SHUFFLE_HASH")
      .join(dim, Seq("l_returnflag", "salt"), "inner")
      .groupBy(col("flag_desc"))
      .agg(count(lit(1)).as("n"),
        Det.dsum(col("l_extendedprice")).as("revenue"))
      .orderBy(col("flag_desc"))
  }

  /** SQL1 — E2 entry surface: TPC-H Q3-style shipping priority, written
    * as a SQL string over registered temp views (SparkSqlParser → same
    * Catalyst pipeline as the DataFrame API). */
  def sql1ShippingPriority(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.customer(spark, sfDir).createOrReplaceTempView("v_customer")
    Tables.orders(spark, sfDir).createOrReplaceTempView("v_orders")
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("v_lineitem")
    spark.sql(
      """SELECT o_orderkey,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  CAST(o_orderdate AS DATE) AS odate
        |FROM v_customer JOIN v_orders ON c_custkey = o_custkey
        |JOIN v_lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)
      .withColumn("odate", col("odate").cast("string"))
  }

  /** SQL2 — E2 entry surface: top customers by returned-item revenue
    * (TPC-H Q10-flavored). */
  def sql2TopReturners(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.customer(spark, sfDir).createOrReplaceTempView("v_customer")
    Tables.orders(spark, sfDir).createOrReplaceTempView("v_orders")
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("v_lineitem")
    spark.sql(
      """SELECT c_custkey, c_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS lost_revenue,
        |  COUNT(*) AS n_returned_lines
        |FROM v_customer JOIN v_orders ON c_custkey = o_custkey
        |JOIN v_lineitem ON l_orderkey = o_orderkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name
        |ORDER BY lost_revenue DESC, c_custkey LIMIT 20""".stripMargin)
  }

  /** SQL11 — E2 entry surface, TPC-H Q5 shape (local supplier volume):
    * six-table join where customer and supplier must share a nation —
    * the classic snowflake traversal with a cross-dimension equality.
    * Dims broadcast; the fact spine shuffles once per fact-fact hop. */
  def sql11LocalSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    Seq("customer" -> Tables.customer(spark, sfDir),
      "orders" -> Tables.orders(spark, sfDir),
      "lineitem" -> Tables.lineitem(spark, sfDir),
      "supplier" -> Tables.supplier(spark, sfDir),
      "nation" -> Tables.nation(spark, sfDir),
      "region" -> Tables.region(spark, sfDir))
      .foreach { case (n, df) => df.createOrReplaceTempView(s"v_$n") }
    spark.sql(
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM v_customer
        |JOIN v_orders ON c_custkey = o_custkey
        |JOIN v_lineitem ON l_orderkey = o_orderkey
        |JOIN v_supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN v_nation ON s_nationkey = n_nationkey
        |JOIN v_region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin)
  }

  /** SQL12 — E2 entry surface, TPC-H Q14 shape (promo revenue share):
    * the ratio-of-conditional-aggregates pattern per ship month. Both
    * sums route through DECIMAL before one double division, so the
    * ratio is order-independent on both engines. */
  def sql12PromoShare(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("v_lineitem")
    Tables.part(spark, sfDir).createOrReplaceTempView("v_part")
    spark.sql(
      """SELECT year(l_shipdate) AS y, month(l_shipdate) AS m,
        |  round(100.0 *
        |    CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE) /
        |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE),
        |  6) AS promo_pct
        |FROM v_lineitem JOIN v_part ON l_partkey = p_partkey
        |WHERE year(l_shipdate) = 1997
        |GROUP BY 1, 2 ORDER BY y, m""".stripMargin)
      .selectExpr("CAST(y AS BIGINT) AS y", "CAST(m AS BIGINT) AS m",
        "promo_pct")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sql11_local_supplier" -> (sql11LocalSupplier _),
    "sql12_promo_share" -> (sql12PromoShare _),
    "x9_salted_agg" -> (x9SaltedAgg _),
    "x10_bucketed_join" -> (x10BucketedJoin _),
    "s20_bucket_prune" -> (s20BucketPrune _),
    "x24_bloom_join" -> (x24BloomJoin _),
    "x26_zorder_layout" -> (x26ZorderLayout _),
    "s15_manifest_prune" -> (s15ManifestPrune _),
    "x28_salted_join" -> (x28SaltedJoin _),
    "sql1_shipping_priority" -> (sql1ShippingPriority _),
    "sql2_top_returners" -> (sql2TopReturners _))

  import Det.{sql => d}
  val oracles: Map[String, String] = Map(
    "s20_bucket_prune" ->
      ("SELECT o_custkey, COUNT(*) AS n, " +
       s"${d.dsum("o_totalprice")} AS revenue " +
       "FROM orders WHERE o_custkey IN (7, 42, 101) " +
       "GROUP BY o_custkey ORDER BY o_custkey"),
    "x9_salted_agg" ->
      (s"SELECT l_returnflag, ${d.dsum("l_extendedprice")} AS sum_price, " +
       "COUNT(*) AS n FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "x10_bucketed_join" ->
      ("SELECT l_orderkey, l_linenumber, l_extendedprice, o_totalprice " +
       "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
       "WHERE l_quantity > 45.0 AND o_orderpriority = '1-URGENT' " +
       "ORDER BY l_orderkey, l_linenumber, l_extendedprice"),
    "x24_bloom_join" ->
      (s"SELECT o_orderkey, MAX(o_totalprice) AS price, " +
       s"${d.dsum("l_extendedprice")} AS line_revenue, COUNT(*) AS n_lines " +
       "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
       "WHERE o_totalprice > 490000.0 " +
       "GROUP BY o_orderkey ORDER BY o_orderkey"),
    "x26_zorder_layout" ->
      (s"SELECT o_orderstatus, COUNT(*) AS n_orders, " +
       s"${d.dsum("o_totalprice")} AS revenue FROM " +
       "(SELECT o_orderstatus, o_totalprice, o_custkey % 256 AS xb, " +
       "CAST(FLOOR(o_totalprice / 2000.0) AS BIGINT) AS yb FROM orders) t " +
       "WHERE xb BETWEEN 32 AND 95 AND yb BETWEEN 64 AND 159 " +
       "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "sql11_local_supplier" ->
      (s"SELECT n_name, ${d.dsum("l_extendedprice*(1.0-l_discount)")} AS revenue, " +
       "COUNT(*) AS n_lines FROM customer " +
       "JOIN orders ON c_custkey = o_custkey " +
       "JOIN lineitem ON l_orderkey = o_orderkey " +
       "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
       "JOIN nation ON s_nationkey = n_nationkey " +
       "JOIN region ON n_regionkey = r_regionkey " +
       "WHERE r_name = 'ASIA' GROUP BY n_name ORDER BY revenue DESC, n_name"),
    "sql12_promo_share" ->
      ("SELECT CAST(year(l_shipdate) AS BIGINT) AS y, " +
       "CAST(month(l_shipdate) AS BIGINT) AS m, " +
       "round(100.0 * " +
       s"${d.dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice*(1.0-l_discount) ELSE 0.0 END")} / " +
       s"${d.dsum("l_extendedprice*(1.0-l_discount)")}, 6) AS promo_pct " +
       "FROM lineitem JOIN part ON l_partkey = p_partkey " +
       "WHERE year(l_shipdate) = 1997 GROUP BY 1, 2 ORDER BY y, m"),
    // derived-claim column files_skipped: the oracle can't see file
    // layout, so it checks the aggregate and the literal TRUE claim
    "s15_manifest_prune" ->
      (s"SELECT o_orderstatus, COUNT(*) AS n_orders, " +
       s"${d.dsum("o_totalprice")} AS revenue, TRUE AS files_skipped FROM " +
       "(SELECT o_orderstatus, o_totalprice, o_custkey % 256 AS xb, " +
       "CAST(FLOOR(o_totalprice / 2000.0) AS BIGINT) AS yb FROM orders) t " +
       "WHERE xb BETWEEN 32 AND 95 AND yb BETWEEN 64 AND 159 " +
       "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "x28_salted_join" ->
      (s"SELECT 'desc_' || l_returnflag AS flag_desc, COUNT(*) AS n, " +
       s"${d.dsum("l_extendedprice")} AS revenue " +
       "FROM lineitem GROUP BY l_returnflag ORDER BY flag_desc"),
    "sql1_shipping_priority" ->
      ("SELECT o_orderkey, " +
       s"${d.dsum("l_extendedprice*(1.0-l_discount)")} AS revenue, " +
       "strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS odate " +
       "FROM customer JOIN orders ON c_custkey = o_custkey " +
       "JOIN lineitem ON l_orderkey = o_orderkey " +
       "WHERE c_mktsegment = 'BUILDING' " +
       "AND o_orderdate < TIMESTAMP '1998-01-01' " +
       "AND l_shipdate > TIMESTAMP '1998-01-01' " +
       "GROUP BY o_orderkey, o_orderdate " +
       "ORDER BY revenue DESC, o_orderkey LIMIT 10"),
    "sql2_top_returners" ->
      ("SELECT c_custkey, c_name, " +
       s"${d.dsum("l_extendedprice*(1.0-l_discount)")} AS lost_revenue, " +
       "COUNT(*) AS n_returned_lines " +
       "FROM customer JOIN orders ON c_custkey = o_custkey " +
       "JOIN lineitem ON l_orderkey = o_orderkey WHERE l_returnflag = 'R' " +
       "GROUP BY c_custkey, c_name ORDER BY lost_revenue DESC, c_custkey LIMIT 20"))
}
