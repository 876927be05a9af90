package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}
import graft.{Det, Tables}

/** MARKET-BASKET / SEQUENCE-MINING theme module (round 11 — the
  * ExtrasN naming-debt retirement, VERDICT r10 #7): the co-occurrence
  * miners over order baskets and event streams, moved verbatim from
  * Extras9/13/16. Every basket is ONE row holding its sorted distinct
  * items ([[basketItems]], the only place a basket cap is applied: a
  * hash exchange on the basket, a sort within each partition and one
  * streaming pass, no aggregate), and
  * every pair comes out of its own row through [[arrayPairs]] — the one
  * in-row pair enumerator, shared with the co-purchase edge build and
  * the triangle-census wedges. No basket self-join anywhere. The caps
  * still matter: one basket row emits C(cap, 2) pairs at most, so a
  * mega-basket cannot explode the pair stream. The customer-grain pair
  * table is also staged cross-process.
  *
  * Rows: x71 co-purchase pairs, x142 association rules, x143 Markov
  * transitions, x144 item-item CF, x160 3-itemset Apriori.
  */
object BasketOps {

  import Det.{sql => d}

  /** The reusable core of x71 over any (basket, item) frame: pair
    * co-occurrence counts with the hot-basket cap (a basket with
    * > `basketCap` distinct items contributes zero pairs instead of a
    * quadratic blow-up). */
  def coOccurrencePairs(bi: DataFrame, basketCap: Int,
      minBaskets: Long): DataFrame =
    pairsFromBaskets(basketItems(bi, basketCap), minBaskets)

  /** One row per basket with at most `cap` distinct items: `basket`
    * and `items`, its distinct non-null items sorted ascending. Nulls
    * keep the row form's meaning (SQL's DISTINCT, COUNT(*) per basket,
    * JOIN USING): a null item counts as one distinct item toward the
    * cap but is not in `items`, so it never pairs, and a basket whose
    * only item is null stays with an empty array (the row count is the
    * qualifying-basket count); a null basket is no basket.
    *
    * Sort-based, with no aggregate: the (basket, item) rows take one
    * hash exchange on the basket, are sorted within each partition by
    * (basket, item nulls first), and one streaming pass
    * ([[BasketRuns]]) turns each basket's run of rows into its output
    * row. The work after the exchange runs on every shuffle partition;
    * a `collect_set` partial aggregate would run in the scan stage
    * instead, which over a one-row-group fact file (every sf0.1 table)
    * is one task. */
  private[graft] def basketItems(bi: DataFrame, cap: Int): DataFrame = {
    val basketType = bi.schema("basket").dataType
    val itemType = bi.schema("item").dataType
    val out = StructType(Seq(
      StructField("basket", basketType, bi.schema("basket").nullable),
      StructField("items", ArrayType(itemType, containsNull = false),
        nullable = false)))
    bi.select(col("basket"), col("item"))
      .filter(col("basket").isNotNull)
      .repartition(col("basket"))
      .sortWithinPartitions(col("basket"), col("item").asc_nulls_first)
      .mapPartitions(rows => new BasketRuns(rows, basketType, itemType, cap)
        : Iterator[Row])(Encoders.row(out))
  }

  /** The pass of [[basketItems]] over one partition sorted by (basket,
    * item nulls first). It yields each basket's row as soon as the
    * basket's run of rows ends, so it holds one basket's items at a
    * time, and at most `cap` of them: a basket found over the cap stops
    * buffering and its remaining rows are skipped. Baskets and items
    * are compared by Spark's ordering for their type over their
    * Catalyst values — the ordering the sort used — so equal items are
    * adjacent and kept once. */
  private final class BasketRuns(rows: Iterator[Row], basketType: DataType,
      itemType: DataType, cap: Int) extends Iterator[Row] {
    private val basketOrd = PhysicalDataType.ordering(basketType)
    private val itemOrd = PhysicalDataType.ordering(itemType)
    private val toBasket =
      CatalystTypeConverters.createToCatalystConverter(basketType)
    private val toItem =
      CatalystTypeConverters.createToCatalystConverter(itemType)
    private val items = ArrayBuffer.empty[Any]
    private var row: Row = if (rows.hasNext) rows.next() else null
    private var out: Row = null

    def hasNext: Boolean = {
      while (out == null && row != null) out = run()
      out != null
    }

    def next(): Row = {
      if (!hasNext) throw new NoSuchElementException
      val r = out
      out = null
      r
    }

    /** Consumes the run of baskets equal to `row`'s: its output row, or
      * null when the basket has more than `cap` distinct items. */
    private def run(): Row = {
      val basket = row.get(0)
      val key = toBasket(basket)
      items.clear()
      var distinct = 0L
      var nullSeen = false
      var last: Any = null
      var inRun = true
      while (inRun) {
        if (distinct <= cap) {
          if (row.isNullAt(1)) {
            if (!nullSeen) { nullSeen = true; distinct += 1 }
          } else {
            val v = toItem(row.get(1))
            if (last == null || !itemOrd.equiv(v, last)) {
              distinct += 1
              if (distinct <= cap) items += row.get(1)
              last = v
            }
          }
        }
        row = if (rows.hasNext) rows.next() else null
        inRun = row != null && basketOrd.equiv(toBasket(row.get(0)), key)
      }
      if (distinct <= cap) Row(basket, items.toIndexedSeq) else null
    }
  }

  /** The one in-row pair enumerator: for each row of `rows`, every
    * (x, y) pair of elements of its array column `arr` with x at an
    * earlier position than y, and no self-join. Two generators stream
    * the n² position pairs of an array of n through whole-stage
    * codegen and `j > i` keeps half; no per-row array is built. Over a
    * sorted distinct array that is every `x < y` pair once; over
    * rank-sorted adjacency structs it is every wedge once. Empty and
    * one-element arrays emit nothing. A posexplode + explode(slice)
    * spelling (n²/2 rows, one array copy per element) was A/B'd
    * against it on 4 CPUs at sf0.1: x112 task CPU median 18.3 vs
    * 17.1 s (5 alternating rounds; this form lower in 8 of 11 pairs)
    * and timed x71/x142 `pipeline` cpu_s 13.4 vs 13.3 s (6 pairs, 3
    * each) — this form is kept. */
  private[graft] def arrayPairs(rows: DataFrame, arr: String, x: String,
      y: String): DataFrame =
    rows.select(col(arr), posexplode(col(arr)).as(Seq("i", x)))
      .select(col("i"), col(x), posexplode(col(arr)).as(Seq("j", y)))
      .filter(col("j") > col("i"))
      .select(col(x), col(y))

  /** Pair supports over [[basketItems]] rows: every `part_a < part_b`
    * pair of a basket comes out of its own row ([[arrayPairs]] over the
    * sorted distinct items), then one pair aggregate and the support
    * filter. */
  private[graft] def pairsFromBaskets(baskets: DataFrame,
      minBaskets: Long): DataFrame =
    arrayPairs(baskets, "items", "part_a", "part_b")
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= minBaskets)

  /** The capped (≤50 distinct parts) ORDER baskets in array form, built
    * once per (session, corpus) as one lineage-cut memo that serves
    * every consumer: x71's pairs, and x142's pairs, basket count (the
    * row count) and item supports (one explode + aggregate). The build
    * is [[basketItems]]: the lineitem scan only ships (order, part)
    * rows, and the sort and the per-basket pass run on every shuffle
    * partition, not in the scan's single busy task. */
  private[graft] def orderBasketsShared(spark: SparkSession,
      sfDir: String): DataFrame =
    graft.Memo(spark, s"order_baskets:$sfDir") {
      graft.Checkpoints.cut(basketItems(
        Tables.lineitem(spark, sfDir)
          .select(col("l_orderkey").as("basket"),
            col("l_partkey").as("item")), cap = 50))
    }

  /** Pair supports at the shared ≥2 lower bound over the shared order
    * baskets (round-16): x71 reads it outright, x142 filters to its ≥3
    * operating point — the pair enumeration and its aggregate run once
    * per session instead of twice; the 50-part cap bounds each order
    * row's share of it to C(50, 2) pairs. */
  private[graft] def orderPairs2Shared(spark: SparkSession,
      sfDir: String): DataFrame =
    graft.Memo(spark, s"order_pairs2:$sfDir") {
      graft.Checkpoints.cut(
        pairsFromBaskets(orderBasketsShared(spark, sfDir), minBaskets = 2L))
    }

  /** X71 — market-basket co-occurrence (parts bought together): pairs
    * of parts sharing ≥ 2 orders, top-100. Each order is one row of
    * its sorted distinct parts (the sort-based [[basketItems]] pass
    * over the order's shuffled lines) and its pairs are enumerated in
    * that row, so the pair stream costs one shuffle on the order key
    * and one on the pair. The hot-basket guard (orders with > 50 distinct
    * parts contribute no pairs) bounds what one order row emits to
    * C(50, 2) = 1225 pairs — a pathological mega-order cannot
    * quadratically explode the pair stream. The guard is the graph
    * form of x33/x41's hot-key cap; the oracle applies the identical
    * cap so the contract is exact. */
  def x71CoPurchase(spark: SparkSession, sfDir: String): DataFrame =
    orderPairs2Shared(spark, sfDir)
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(100)

  // ---------------------------------------------------------------- x142

  /** X142 — association rules (Agrawal SIGMOD'93: support, confidence,
    * lift) over order baskets: both directed rules for every part pair
    * co-bought in ≥ 3 qualifying baskets, top-20 by lift — the
    * "customers who bought A also bought B" readout with the
    * statistics that separate real affinity from popularity.
    *
    * Reuses x71's pair kernel over the same sort-built order baskets
    * (basket cap 50, so one order emits at
    * most C(50, 2) pairs and a mega-order cannot explode the pair
    * stream); item supports come off the SAME capped basket set, so
    * support/confidence/lift are mutually consistent. All three
    * ratios are single IEEE divisions of exact BIGINT products,
    * rounded to 6 dp — no float accumulation anywhere. */
  def x142AssocRules(spark: SparkSession, sfDir: String): DataFrame = {
    // supports, basket count, and pairs all come off the SHARED capped
    // order-basket memo (x71's frame): the ≥3 pair set is exactly the
    // shared ≥2 set filtered, the qualifying-basket count is the array
    // frame's row count (one row per basket, so no distinct), and the
    // item supports are one explode + aggregate over the same rows.
    val baskets = orderBasketsShared(spark, sfDir)
    val nBaskets = baskets.agg(count(lit(1)).as("n_total"))
    val itemN = baskets.select(explode(col("items")).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("n_item"))
    val pairs = orderPairs2Shared(spark, sfDir)
      .filter(col("n_orders") >= 3L)
    val rules = pairs.select(col("part_a").as("antecedent"),
        col("part_b").as("consequent"), col("n_orders").as("n_both"))
      .unionByName(pairs.select(col("part_b").as("antecedent"),
        col("part_a").as("consequent"), col("n_orders").as("n_both")))
    rules
      .join(itemN.select(col("item").as("antecedent"),
        col("n_item").as("n_ante")), "antecedent")
      .join(itemN.select(col("item").as("consequent"),
        col("n_item").as("n_cons")), "consequent")
      .crossJoin(broadcast(nBaskets))
      .select(col("antecedent"), col("consequent"), col("n_both"),
        col("n_ante"), col("n_cons"),
        round(col("n_both").cast("double") / col("n_ante"), 6).as("conf"),
        round((col("n_both") * col("n_total")).cast("double") /
          (col("n_ante") * col("n_cons")).cast("double"), 6).as("lift"))
      .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
      .limit(20)
  }

  // ---------------------------------------------------------------- x143

  /** X143 — the event-type Markov transition matrix: for every ordered
    * (from → to) pair of consecutive events WITHIN a user's stream,
    * the transition count and probability — the first-order behavioral
    * model product analytics fits before anything fancier (and the
    * input to x103's path mining read as a chain).
    *
    * Plan: one lead() window PARTITIONED BY user (per-user sorts,
    * never a global one), one grouped count, and the per-source
    * normalization rides a window over the ≤|type-domain| aggregate —
    * sorting cost is per-user and the output is domain-bounded
    * (|types|² rows), so the operator's scale is the scan, not the
    * matrix. Probabilities are single divisions of exact counts. */
  def x143Markov(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.eventsUs(spark, sfDir)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val trans = ev
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_trans"))
    trans
      .withColumn("n_from",
        sum(col("n_trans")).over(Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"), col("n_trans"),
        round(col("n_trans").cast("double") / col("n_from"), 6).as("prob"))
      .orderBy(col("from_type"), col("to_type"))
  }

  // ---------------------------------------------------------------- x144

  /** The capped (≤64 distinct parts) CUSTOMER baskets in array form
    * (lineitem ⋈ orders keyed by customer), built once per (session,
    * corpus) as one lineage-cut memo — the same shape as
    * [[orderBasketsShared]]: x144's item supports and x160's
    * (basket, item) rows are one explode of it, and the shared pair
    * table is [[pairsFromBaskets]] over it. The cut runs AQE-off at
    * fact-proportional width: under AQE the ~15k customer rows of sf0.1
    * coalesced into ONE partition, so the pair enumeration over them
    * (up to C(64, 2) pairs per row) ran as one 9 s task. */
  private[graft] def custBasketsShared(spark: SparkSession,
      sfDir: String): DataFrame =
    graft.Memo(spark, s"cust_baskets:$sfDir") {
      graft.Checkpoints.withAqeOff(spark, factWidth(sfDir)) {
        graft.Checkpoints.cut(basketItems(
          Tables.lineitem(spark, sfDir)
            .select(col("l_orderkey"), col("l_partkey").as("item"))
            .join(Tables.orders(spark, sfDir)
              .select(col("o_orderkey"), col("o_custkey").as("basket")),
              col("l_orderkey") === col("o_orderkey"))
            .select(col("basket"), col("item")), cap = 64))
      }
    }

  /** Co-occurrence pair supports at the SHARED lower bound (≥2) over
    * the shared customer baskets — the pair kernel's output,
    * materialized once per session AND staged cross-process (the
    * lpalabels pattern): x144 filters it to its ≥3 operating point,
    * x160 generates triple candidates from it directly, and a later
    * process reloads the pair table outright. On a cluster this is
    * the persisted `item_pair_supports` staging table. */
  def custPairs2Shared(spark: SparkSession, sfDir: String): DataFrame =
    Tables.stagedFrame(spark, "custpairs2", sfDir, Seq("lineitem", "orders"),
        "custpairs2") {
      pairsFromBaskets(custBasketsShared(spark, sfDir), minBaskets = 2L)
    }

  /** X144 — item-item collaborative filtering (Sarwar WWW'01): cosine
    * similarity between parts over their DISTINCT-CUSTOMER purchase
    * sets (binary ratings), top-20 pairs — the "similar items" model
    * behind every recommendation shelf. Differs from x142's basket
    * rules in grain (a customer's whole history, not one order) and
    * metric (symmetric cosine, not directed confidence).
    *
    * sim(a,b) = n_ab / √(n_a·n_b) — one integer product, one IEEE
    * sqrt (correctly rounded by the 754 contract in both engines),
    * one division, round 6 dp. Pairs and item supports both come off
    * the shared customer baskets (64-part history cap, so one customer
    * row emits at most C(64, 2) = 2016 pairs — the x71/x33 visible
    * guard): the pairs through the staged ≥2 pair table, the supports
    * as one explode + aggregate, as x142's. */
  def x144ItemCf(spark: SparkSession, sfDir: String): DataFrame = {
    val itemN = custBasketsShared(spark, sfDir)
      .select(explode(col("items")).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("n_item"))
    custPairs2Shared(spark, sfDir).filter(col("n_orders") >= 3)
      .select(col("part_a"), col("part_b"), col("n_orders").as("n_both"))
      .join(itemN.select(col("item").as("part_a"),
        col("n_item").as("n_a")), "part_a")
      .join(itemN.select(col("item").as("part_b"),
        col("n_item").as("n_b")), "part_b")
      .select(col("part_a"), col("part_b"), col("n_both"), col("n_a"),
        col("n_b"),
        round(col("n_both").cast("double") /
          sqrt((col("n_a") * col("n_b")).cast("double")), 6).as("sim"))
      .orderBy(col("sim").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  private val AssocSql: String =
    "WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS basket, " +
    "l_partkey AS item FROM lineitem), " +
    "ok AS MATERIALIZED (SELECT basket FROM li GROUP BY basket " +
    "HAVING COUNT(*) <= 50), " +
    "capped AS MATERIALIZED (SELECT li.basket, li.item FROM li " +
    "JOIN ok USING (basket)), " +
    "nb AS (SELECT COUNT(*) AS n_total FROM ok), " +
    "itemn AS MATERIALIZED (SELECT item, COUNT(*) AS n_item " +
    "FROM capped GROUP BY item), " +
    "pairs AS MATERIALIZED (SELECT x.item AS part_a, y.item AS part_b, " +
    "COUNT(*) AS n_both FROM capped x JOIN capped y " +
    "ON x.basket = y.basket AND x.item < y.item " +
    "GROUP BY x.item, y.item HAVING COUNT(*) >= 3), " +
    "rules AS (SELECT part_a AS antecedent, part_b AS consequent, " +
    "n_both FROM pairs UNION ALL " +
    "SELECT part_b, part_a, n_both FROM pairs) " +
    "SELECT CAST(r.antecedent AS BIGINT) AS antecedent, " +
    "CAST(r.consequent AS BIGINT) AS consequent, " +
    "CAST(r.n_both AS BIGINT) AS n_both, " +
    "CAST(ia.n_item AS BIGINT) AS n_ante, " +
    "CAST(ic.n_item AS BIGINT) AS n_cons, " +
    "round(CAST(r.n_both AS DOUBLE) / ia.n_item, 6) AS conf, " +
    "round(CAST(r.n_both * nb.n_total AS DOUBLE) / " +
    "CAST(ia.n_item * ic.n_item AS DOUBLE), 6) AS lift " +
    "FROM rules r JOIN itemn ia ON ia.item = r.antecedent " +
    "JOIN itemn ic ON ic.item = r.consequent CROSS JOIN nb " +
    "ORDER BY lift DESC, antecedent, consequent LIMIT 20"

  private val MarkovSql: String =
    "WITH seq AS (SELECT user_id, event_type AS from_type, " +
    "lead(event_type) OVER (PARTITION BY user_id " +
    "ORDER BY epoch_us(ts), event_id) AS to_type FROM events), " +
    "trans AS (SELECT from_type, to_type, COUNT(*) AS n_trans " +
    "FROM seq WHERE to_type IS NOT NULL GROUP BY from_type, to_type) " +
    "SELECT from_type, to_type, CAST(n_trans AS BIGINT) AS n_trans, " +
    "round(CAST(n_trans AS DOUBLE) / " +
    "SUM(n_trans) OVER (PARTITION BY from_type), 6) AS prob " +
    "FROM trans ORDER BY from_type, to_type"

  private val ItemCfSql: String =
    "WITH cp AS MATERIALIZED (SELECT DISTINCT o_custkey AS basket, " +
    "l_partkey AS item FROM lineitem JOIN orders " +
    "ON l_orderkey = o_orderkey), " +
    "ok AS MATERIALIZED (SELECT basket FROM cp GROUP BY basket " +
    "HAVING COUNT(*) <= 64), " +
    "capped AS MATERIALIZED (SELECT cp.basket, cp.item FROM cp " +
    "JOIN ok USING (basket)), " +
    "itemn AS MATERIALIZED (SELECT item, COUNT(*) AS n_item " +
    "FROM capped GROUP BY item), " +
    "pairs AS MATERIALIZED (SELECT x.item AS part_a, y.item AS part_b, " +
    "COUNT(*) AS n_both FROM capped x JOIN capped y " +
    "ON x.basket = y.basket AND x.item < y.item " +
    "GROUP BY x.item, y.item HAVING COUNT(*) >= 3) " +
    "SELECT CAST(p.part_a AS BIGINT) AS part_a, " +
    "CAST(p.part_b AS BIGINT) AS part_b, " +
    "CAST(p.n_both AS BIGINT) AS n_both, " +
    "CAST(na.n_item AS BIGINT) AS n_a, CAST(nbi.n_item AS BIGINT) AS n_b, " +
    "round(CAST(p.n_both AS DOUBLE) / " +
    "sqrt(CAST(na.n_item * nbi.n_item AS DOUBLE)), 6) AS sim " +
    "FROM pairs p JOIN itemn na ON na.item = p.part_a " +
    "JOIN itemn nbi ON nbi.item = p.part_b " +
    "ORDER BY sim DESC, part_a, part_b LIMIT 20"

  /** Fact-proportional shuffle width for eager basket-table cuts: one
    * partition per ~64 MB of fact parquet, min 8 — grows with the
    * corpus, capped by the session width inside withAqeOff. */
  private[graft] def factWidth(sfDir: String): Int = {
    val bytes = Tables.corpusBytes(sfDir, "lineitem")
    math.max(8L, bytes / (64L << 20)).toInt
  }

  // ---------------------------------------------------------------- x160

  /** X160 — frequent 3-itemsets via the Apriori candidate step
    * (Agrawal VLDB'94): triples of parts co-bought by ≥ 2 capped
    * CUSTOMER baskets (x144's basket grain — order-grain triples thin
    * out as the part keyspace grows with SF), top-20 by support. The
    * step past x142's pairs, and the one where naive enumeration dies
    * at scale: C(64,3) ≈ 42k triples per worst-case basket vs 2k
    * pairs.
    *
    * Scale shape — Apriori pruning PLUS the x33 hot-key split, because
    * candidate generation ((a,b)⋈(a,c)) is a pairwise self-join on the
    * pair table's first element and a hyper-popular item makes that
    * one key quadratic. Items are split by pair-degree: COLD items
    * (deg ≤ 64 — the overwhelming majority; 29 of 19k items are hot
    * at sf0.1) take the candidate path — degree-bounded self-join,
    * closure check against all frequent pairs, then three
    * semi-join-shaped verification probes. HOT items skip candidates
    * entirely: their triples are support-counted basket-locally, where
    * the 64-item basket cap bounds every join key regardless of item
    * popularity. Both branches are exact; the union is the full
    * answer — nothing is dropped, the split only changes WHICH bounded
    * plan counts each triple. The basket table is never globally
    * triple-self-joined (the oracle does exactly that: same answer,
    * cubic-vs-pruned different plan). */
  def x160Apriori3(spark: SparkSession, sfDir: String): DataFrame = {
    val capped = custBasketsShared(spark, sfDir)
      .select(col("basket"), explode(col("items")).as("item"))
    val freq = capped.groupBy(col("item")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select(col("item"))
    // round 17 (guide §2.4): `fi` is referenced FIVE times across the
    // cold and hot triple counts (three verification probes + two
    // hot-branch scans), and Catalyst recomputes the capped⋈freq join
    // (with its aggregate exchange) at every reference — cut it once;
    // the five consumers then scan one materialization. Rows identical
    // by definition. Memoized per (session, corpus): x160 is fi's only
    // consumer, but a re-run in one session must not re-materialize.
    val fi = graft.Memo(spark, s"x160fi:$sfDir") {
      graft.Checkpoints.withAqeOff(spark, factWidth(sfDir)) {
        graft.Checkpoints.cut(
          capped.join(freq, "item").select(col("basket"), col("item")))
      }
    }
    val pairs = custPairs2Shared(spark, sfDir)
      .select(col("part_a"), col("part_b"))
    val hot = pairs.groupBy(col("part_a")).agg(count(lit(1)).as("d"))
      .filter(col("d") > 64).select(col("part_a").as("hi"))
    val cold = pairs.join(broadcast(hot), col("part_a") === col("hi"),
      "left_anti")
    val cand = cold.select(col("part_a").as("i1"), col("part_b").as("i2"))
      .join(cold.select(col("part_a").as("i1"), col("part_b").as("i3")),
        "i1")
      .filter(col("i2") < col("i3"))
      .join(pairs.select(col("part_a").as("i2"), col("part_b").as("i3")),
        Seq("i2", "i3"), "left_semi")
    val coldTri = cand
      .join(fi.select(col("basket"), col("item").as("i1")), "i1")
      .join(fi.select(col("basket"), col("item").as("i2")),
        Seq("basket", "i2"))
      .join(fi.select(col("basket"), col("item").as("i3")),
        Seq("basket", "i3"))
      .groupBy(col("i1"), col("i2"), col("i3"))
      .agg(count(lit(1)).as("support"))
    val hotTri = fi.join(broadcast(hot), col("item") === col("hi"))
      .select(col("basket"), col("item").as("i1"))
      .join(fi.select(col("basket"), col("item").as("i2")), "basket")
      .filter(col("i2") > col("i1"))
      .join(fi.select(col("basket"), col("item").as("i3")), "basket")
      .filter(col("i3") > col("i2"))
      .groupBy(col("i1"), col("i2"), col("i3"))
      .agg(count(lit(1)).as("support"))
    coldTri.unionByName(hotTri)
      .filter(col("support") >= 2)
      .orderBy(col("support").desc, col("i1"), col("i2"), col("i3"))
      .limit(20)
  }

  private val Apriori3Sql: String =
    "WITH li AS MATERIALIZED (SELECT DISTINCT o_custkey AS basket, " +
    "l_partkey AS item FROM lineitem " +
    "JOIN orders ON l_orderkey = o_orderkey), " +
    "ok AS (SELECT basket FROM li GROUP BY basket " +
    "HAVING COUNT(*) <= 64), " +
    "c AS MATERIALIZED (SELECT li.basket, li.item FROM li " +
    "JOIN ok USING (basket)) " +
    "SELECT a.item AS i1, b.item AS i2, c2.item AS i3, " +
    "CAST(COUNT(*) AS BIGINT) AS support " +
    "FROM c a JOIN c b ON b.basket = a.basket AND b.item > a.item " +
    "JOIN c c2 ON c2.basket = a.basket AND c2.item > b.item " +
    "GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2 " +
    "ORDER BY support DESC, i1, i2, i3 LIMIT 20"

  // ------------------------------------------------------------ registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x71_copurchase" -> (x71CoPurchase _),
    "x142_assoc_rules" -> (x142AssocRules _),
    "x143_markov" -> (x143Markov _),
    "x144_item_cf" -> (x144ItemCf _),
    "x160_apriori3" -> (x160Apriori3 _))

  val oracles: Map[String, String] = Map(
    // identical hot-basket cap on both sides — the contract is exact
    "x71_copurchase" ->
      ("WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
       "ok AS (SELECT l_orderkey FROM li GROUP BY 1 HAVING COUNT(*) <= 50), " +
       "l2 AS (SELECT li.* FROM li JOIN ok USING (l_orderkey)), " +
       "p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, " +
       "CAST(COUNT(*) AS BIGINT) AS n_orders FROM l2 a JOIN l2 b " +
       "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
       "GROUP BY 1, 2) " +
       "SELECT part_a, part_b, n_orders FROM p WHERE n_orders >= 2 " +
       "ORDER BY n_orders DESC, part_a, part_b LIMIT 100"),
    "x142_assoc_rules" -> AssocSql,
"x143_markov" -> MarkovSql,
"x144_item_cf" -> ItemCfSql,
    "x160_apriori3" -> Apriori3Sql)
}
