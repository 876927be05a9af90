package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Det, Tables}

/** Join operators — SURVEY §2.3 (J1–J11).
  *
  * Scale posture: dimension sides (region/nation/supplier, bounded ≤25k
  * rows even at sf∞ for region/nation) are broadcast; fact-fact joins
  * (lineitem⋈orders) shuffle on the join key and AQE picks SMJ vs
  * shuffled-hash from runtime stats. Non-equi joins always carry an equi
  * component so they hash-partition instead of degenerating to a full
  * nested loop.
  */
object Joins {

  /** J1 — broadcast hash join: nation ⋈ region (25×5). The broadcast()
    * hint pins BroadcastHashJoinExec — no shuffle of either side. */
  def j1Broadcast(spark: SparkSession, sfDir: String): DataFrame = {
    val n = Tables.nation(spark, sfDir)
    val r = Tables.region(spark, sfDir)
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "inner")
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
      .orderBy(col("n_nationkey"))
  }

  /** J2 — large-large equi join: lineitem ⋈ orders shuffles both sides on
    * the order key (sort-merge / shuffled-hash under AQE). */
  def j2ShuffleJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir).filter(col("l_quantity") > 49.0)
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
    li.join(o, li("l_orderkey") === o("o_orderkey"), "inner")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("o_totalprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("o_totalprice"))
  }

  /** J3 — right outer join: high-value orders ⟖ customer preserves every
    * customer; unmatched ones carry nulls. */
  def j3Outer(spark: SparkSession, sfDir: String): DataFrame = {
    val big = Tables.orders(spark, sfDir)
      .filter(col("o_totalprice") > 480000.0)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    val cust = Tables.customer(spark, sfDir)
    big.join(cust, big("o_custkey") === cust("c_custkey"), "right_outer")
      .select(col("c_custkey"), col("c_mktsegment"), col("o_orderkey"),
        col("o_totalprice"))
      .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)
  }

  /** J4 — full outer join: both sides filtered so each has unmatched rows. */
  def j4FullOuter(spark: SparkSession, sfDir: String): DataFrame = {
    val rich = Tables.customer(spark, sfDir)
      .filter(col("c_acctbal") > 9000.0)
      .select(col("c_custkey"), col("c_acctbal"))
    val big = Tables.orders(spark, sfDir)
      .filter(col("o_totalprice") > 490000.0)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    rich.join(big, rich("c_custkey") === big("o_custkey"), "full_outer")
      .select(col("c_custkey"), col("c_acctbal"), col("o_custkey"),
        col("o_orderkey"), col("o_totalprice"))
      .orderBy(coalesce(col("c_custkey"), col("o_custkey")).asc,
        col("o_orderkey").asc_nulls_first)
  }

  /** J5 — left semi (EXISTS): customers with at least one urgent order.
    * Semi join never duplicates the probe side — the build side is reduced
    * to distinct keys during the shuffle. */
  def j5Semi(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
    val urgent = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
    cust.join(urgent, cust("c_custkey") === urgent("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** J6 — left anti (NOT EXISTS): parts never shipped in quantity > 49. */
  def j6Anti(spark: SparkSession, sfDir: String): DataFrame = {
    val part = Tables.part(spark, sfDir)
    val bulk = Tables.lineitem(spark, sfDir).filter(col("l_quantity") > 49.0)
    part.join(bulk, part("p_partkey") === bulk("l_partkey"), "left_anti")
      .select(col("p_partkey"), col("p_name"))
      .orderBy(col("p_partkey"))
  }

  /** J7 — cross join, bounded dims only (5×25). */
  def j7Cross(spark: SparkSession, sfDir: String): DataFrame =
    Tables.region(spark, sfDir).crossJoin(Tables.nation(spark, sfDir))
      .select(col("r_regionkey"), col("n_nationkey"), col("r_name"), col("n_name"))
      .orderBy(col("r_regionkey"), col("n_nationkey"))

  /** J8 — theta join with an equi anchor: per supplier, customers of the
    * same nation with a strictly larger account balance. The equi key
    * keeps it a hash join; the range predicate rides along as a post-
    * condition instead of forcing a nested loop. */
  def j8Theta(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.supplier(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    s.join(c, s("s_nationkey") === c("c_nationkey") &&
        c("c_acctbal") > s("s_acctbal"), "inner")
      .groupBy(col("s_suppkey"))
      .agg(count(lit(1)).as("n_richer_customers"))
      .orderBy(col("s_suppkey"))
  }

  /** J9 — as-of join (no Spark primitive; SURVEY §7.3#8): for each
    * purchase, the user's latest strictly-prior click time, via the
    * union-free window rewrite — one shuffle on user_id, no self-join. */
  def j9AsOf(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.eventsUs(spark, sfDir)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("prev_click_us",
        max(when(col("event_type") === "click", col("ts"))).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("ts_us"),
        col("prev_click_us"))
      .orderBy(col("event_id"))
  }

  /** J10 — interval/overlap self-join: pairs of events of one user within
    * 5 minutes. Time-bucketed band join: joining on (user_id, 5-min
    * bucket) — with one side replicated into its 3 adjacent buckets —
    * turns the per-user O(m²) pair space into O(m × bucket-density),
    * which is what survives a 100× scale-up of events-per-user. A pair
    * within 5 min differs by ≤1 bucket, so coverage is exact; the
    * a-side bucket is single-valued, so no pair matches twice. */
  def j10Interval(spark: SparkSession, sfDir: String): DataFrame = {
    val a = Tables.eventsUs(spark, sfDir)
      .select(col("user_id"), col("event_id").as("id_a"), col("ts").as("ts_a"))
      .withColumn("bucket", expr("ts_a div 300000000"))
    val b = Tables.eventsUs(spark, sfDir)
      .select(col("user_id").as("user_b"), col("event_id").as("id_b"),
        col("ts").as("ts_b"))
      .withColumn("bucket", explode(array(
        expr("ts_b div 300000000 - 1"), expr("ts_b div 300000000"),
        expr("ts_b div 300000000 + 1"))))
    a.join(b, col("user_id") === col("user_b") &&
        a("bucket") === b("bucket") && col("id_a") < col("id_b") &&
        abs(col("ts_a") - col("ts_b")) <= 300000000L, "inner")
      .select(col("user_id"), col("id_a"), col("id_b"),
        abs(col("ts_a") - col("ts_b")).as("gap_us"))
      .orderBy(col("user_id"), col("id_a"), col("id_b"))
  }

  /** J11 — multi-way star join (TPC-H Q5-like flagship): revenue by region
    * and order year. Dims broadcast; the lineitem⋈orders spine shuffles
    * once on the order key, then once for the final aggregate. */
  def j11Star(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    val r = Tables.region(spark, sfDir)
    // customer grows with SF — no pinned broadcast hint; AQE picks the
    // build side from runtime stats (broadcasts at sf0.1, shuffles at
    // 100x where a forced build side would OOM). nation/region are
    // bounded dims (25/5 rows at every SF) so their hints are safe.
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("r_name"), col("o_year"))
  }

  /** J12 — optimizer-banded range join: clicks × errors within the
    * following minute, written as the NAIVE pure range join (no equi
    * key). Without [[graft.plans.BandedRangeJoinRule]] Catalyst can only
    * nested-loop this; with the rule installed the optimizer rewrites it
    * to a banded equi-join (checked by Extras3Spec). Same declarative
    * query, cluster-viable plan. */
  def j12RangeJoinAuto(spark: SparkSession, sfDir: String): DataFrame = {
    graft.plans.GraftExtensions.install(spark)
    val ev = Tables.eventsUs(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("id_a"), col("ts").as("ts_a"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("id_b"), col("ts").as("ts_b"))
    clicks.join(errors,
        col("ts_b") >= col("ts_a") &&
        col("ts_b") <= col("ts_a") + lit(60000000L), "inner")
      .groupBy(col("id_a"))
      .agg(count(lit(1)).as("n_errors"),
        min(col("ts_b") - col("ts_a")).as("min_gap_us"))
      .orderBy(col("id_a"))
  }
  /** J13 — NULL-SAFE equality join (`<=>` / IS NOT DISTINCT FROM): rows
    * whose join key is NULL match a NULL dim key instead of being
    * dropped — the "unattributed bucket" pattern of a dimension join
    * over dirty keys. A regular equi-join would silently lose the
    * `% 7 = 0` slice; here they land on the `<none>` label. The dim is
    * derived, tiny, and broadcast (EqualNullSafe still hashes —
    * Spark coalesces the key — so this stays a broadcast hash join). */
  def j13NullSafeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val withNulls = Tables.customer(spark, sfDir)
      .select(col("c_custkey"),
        when(col("c_custkey") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("c_mktsegment")).as("seg"))
    val dim = withNulls.select(col("seg")).distinct()
      .select(col("seg").as("dim_seg"),
        coalesce(col("dim_seg"), lit("<none>")).as("label"))
    withNulls.join(broadcast(dim), col("seg") <=> col("dim_seg"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), countDistinct(col("c_custkey")).as("n_cust"))
      .orderBy(col("label"))
  }
  /** J14 — AQE runtime skew-join remediation (the AUTOMATIC tier above
    * x28's manual salting): a fact table with one planted hot customer
    * (two thirds of all rows) merge-joined to customer under AQE with the
    * skew thresholds sized to this corpus — the runtime splits the hot
    * partition into multiple tasks (spec pins `isSkewJoin`) while the
    * RESULT stays exactly the oracle's aggregate. The conf dance
    * (thresholds + broadcast disabled to keep an SMJ) is saved and
    * restored; on a real cluster the defaults (256 MB) do the same job
    * without tuning. This is the lever that turns a 4-hour straggler
    * stage into even tasks at 100 TB — exercised, not just cited. */
  def j14AqeSkewJoin(spark: SparkSession, sfDir: String): DataFrame =
    // materialize INSIDE the conf window: confs are read at execution,
    // not plan construction — returning the lazy frame would run the
    // join after the finally-restore, silently skipping the skew path
    withSkewConfs(spark) { skewedFactAgg(spark, sfDir).localCheckpoint(true) }

  private[graft] def withSkewConfs[T](spark: SparkSession)(f: => T): T =
    graft.SessionConf.scoped(spark,
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1k",
      // the planted 33% hot bucket is ~3x the median, not the default 5x
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2k",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      // the 1 MB default FLOORS the split target — at corpus scale no
      // sub-MB partition could ever be "skewed" (found via the rule's
      // debug sizes: max 112 KB vs an actual target clamped to 1 MB)
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1k",
      // skew splits are MAPPER-granular (PartialReducerPartitionSpec
      // ranges over map indexes): a single-split scan has one mapper and
      // nothing to split, so force many map tasks at corpus scale
      "spark.sql.files.maxPartitionBytes" -> "64k",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(f)

  /** The skewed join itself (split out so the spec can inspect its
    * executed plan under [[withSkewConfs]]): the planted fact keys ~67%
    * of its rows (every o_orderkey % 3 != 0) to ONE customer. */
  private[graft] def skewedFactAgg(spark: SparkSession,
      sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    // plant the hot key: every o_orderkey % 3 != 0 order re-keyed to
    // customer 1 — a deterministic 67% hot bucket (the repeated key
    // compresses well in the shuffle stream, so a milder plant stays
    // under the byte-based skew test — measured)
    // many MAP tasks for the join shuffle: skew splits are mapper-
    // granular, and this corpus's single-row-group parquet collapses
    // the scan to one mapper (at 100 TB the scan has thousands); the
    // round-robin repartition restores the condition the feature needs
    val fact = o.repartition(16).withColumn("cust",
      when(col("o_orderkey") % 3 =!= 0, lit(1L)).otherwise(col("o_custkey")))
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    fact.join(c.hint("merge"), col("cust") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(Det.Money)).cast("double").as("total"))
      .orderBy(col("c_mktsegment"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "j1_broadcast" -> (j1Broadcast _),
    "j2_shuffle_join" -> (j2ShuffleJoin _),
    "j3_outer" -> (j3Outer _),
    "j4_full_outer" -> (j4FullOuter _),
    "j5_semi" -> (j5Semi _),
    "j6_anti" -> (j6Anti _),
    "j7_cross" -> (j7Cross _),
    "j8_theta" -> (j8Theta _),
    "j9_asof" -> (j9AsOf _),
    "j10_interval" -> (j10Interval _),
    "j11_star" -> (j11Star _),
    "j12_range_join_auto" -> (j12RangeJoinAuto _),
    "j13_nullsafe_join" -> (j13NullSafeJoin _),
    "j14_aqe_skew_join" -> (j14AqeSkewJoin _))

  import Det.{sql => d}
  val oracles: Map[String, String] = Map(
    "j1_broadcast" ->
      ("SELECT n_nationkey, n_name, r_name FROM nation JOIN region " +
       "ON n_regionkey = r_regionkey ORDER BY n_nationkey"),
    "j2_shuffle_join" ->
      ("SELECT l_orderkey, l_linenumber, l_quantity, o_totalprice " +
       "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
       "WHERE l_quantity > 49.0 AND o_orderpriority = '1-URGENT' " +
       "ORDER BY l_orderkey, l_linenumber, l_quantity, o_totalprice"),
    "j3_outer" ->
      ("SELECT c_custkey, c_mktsegment, o_orderkey, o_totalprice " +
       "FROM (SELECT o_custkey, o_orderkey, o_totalprice FROM orders " +
       "WHERE o_totalprice > 480000.0) big RIGHT JOIN customer " +
       "ON big.o_custkey = c_custkey " +
       "ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST"),
    "j4_full_outer" ->
      ("SELECT c_custkey, c_acctbal, o_custkey, o_orderkey, o_totalprice FROM " +
       "(SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000.0) rich " +
       "FULL JOIN (SELECT o_custkey, o_orderkey, o_totalprice FROM orders " +
       "WHERE o_totalprice > 490000.0) big ON rich.c_custkey = big.o_custkey " +
       "ORDER BY COALESCE(c_custkey, o_custkey) ASC, o_orderkey ASC NULLS FIRST"),
    "j5_semi" ->
      ("SELECT c_custkey, c_name FROM customer WHERE EXISTS " +
       "(SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
       "AND o_orderpriority = '1-URGENT') ORDER BY c_custkey"),
    "j6_anti" ->
      ("SELECT p_partkey, p_name FROM part WHERE NOT EXISTS " +
       "(SELECT 1 FROM lineitem WHERE l_partkey = p_partkey " +
       "AND l_quantity > 49.0) ORDER BY p_partkey"),
    "j7_cross" ->
      ("SELECT r_regionkey, n_nationkey, r_name, n_name " +
       "FROM region CROSS JOIN nation ORDER BY r_regionkey, n_nationkey"),
    "j8_theta" ->
      ("SELECT s_suppkey, COUNT(*) AS n_richer_customers FROM supplier " +
       "JOIN customer ON s_nationkey = c_nationkey AND c_acctbal > s_acctbal " +
       "GROUP BY s_suppkey ORDER BY s_suppkey"),
    "j9_asof" ->
      ("SELECT event_id, user_id, ts_us, prev_click_us FROM " +
       "(SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, " +
       "MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) OVER " +
       "(PARTITION BY user_id ORDER BY epoch_us(ts), event_id " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click_us " +
       "FROM events) t WHERE event_type = 'purchase' ORDER BY event_id"),
    "j10_interval" ->
      ("SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b, " +
       "abs(epoch_us(a.ts) - epoch_us(b.ts)) AS gap_us FROM events a " +
       "JOIN events b ON a.user_id = b.user_id AND a.event_id < b.event_id " +
       "AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 300000000 " +
       "ORDER BY a.user_id, id_a, id_b"),
    "j11_star" ->
      ("SELECT r_name, CAST(year(o_orderdate) AS BIGINT) AS o_year, " +
       s"${d.dsum("l_extendedprice*(1.0-l_discount)")} AS revenue, " +
       "COUNT(*) AS n_lines FROM lineitem " +
       "JOIN orders ON l_orderkey = o_orderkey " +
       "JOIN customer ON o_custkey = c_custkey " +
       "JOIN nation ON c_nationkey = n_nationkey " +
       "JOIN region ON n_regionkey = r_regionkey " +
       "GROUP BY r_name, o_year ORDER BY r_name, o_year"),
    "j12_range_join_auto" ->
      ("SELECT id_a, COUNT(*) AS n_errors, MIN(tb - ta) AS min_gap_us FROM " +
       "(SELECT event_id AS id_a, epoch_us(ts) AS ta FROM events " +
       "WHERE event_type = 'click') a JOIN " +
       "(SELECT event_id AS id_b, epoch_us(ts) AS tb FROM events " +
       "WHERE event_type = 'error') b " +
       "ON tb >= ta AND tb <= ta + 60000000 " +
       "GROUP BY id_a ORDER BY id_a"),
    "j13_nullsafe_join" ->
      ("WITH a AS (SELECT c_custkey, " +
       "CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END AS seg " +
       "FROM customer), " +
       "dim AS (SELECT seg AS dim_seg, COALESCE(seg, '<none>') AS label " +
       "FROM (SELECT DISTINCT seg FROM a) t) " +
       "SELECT label, COUNT(*) AS n, COUNT(DISTINCT c_custkey) AS n_cust " +
       "FROM a JOIN dim ON a.seg IS NOT DISTINCT FROM dim.dim_seg " +
       "GROUP BY label ORDER BY label"),
    // the re-keyed join recomputed; skew handling must be value-neutral
    "j14_aqe_skew_join" ->
      ("SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n, " +
       "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total " +
       "FROM orders o JOIN customer c ON c.c_custkey = " +
       "(CASE WHEN o.o_orderkey % 3 <> 0 THEN 1 ELSE o.o_custkey END) " +
       "GROUP BY 1 ORDER BY c_mktsegment"))
}
