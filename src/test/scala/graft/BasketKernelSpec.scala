package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{BasketOps, GraphOps}

/** The array-form basket kernel ([[BasketOps.basketItems]], then the
  * one in-row pair enumerator [[BasketOps.arrayPairs]]) pinned
  * bit-for-bit to the plain spellings it replaced — DISTINCT (basket,
  * item) rows, a COUNT(*) cap per basket joined back, and a
  * basket-keyed self-join for the pairs (the shape of the DuckDB
  * oracles); the order-keyed lineitem self-join + DISTINCT for the
  * co-purchase edges; posexplode + explode(slice(...)), the in-row
  * spelling the basket pairs used before the enumerator; and the
  * `collect_set` aggregate the basket rows were built with before the
  * sort-based pass. Those references live only here.
  *
  *  1. CORPUS PARITY at sf0.01: the shared order pair frame, x71 and
  *     x142 row for row, the shared customer pair frame, x144 and x160
  *     row for row, and the co-purchase edge set (plus its plan: no
  *     join, one shuffle on the order key).
  *  2. PLANTED CASES: duplicated lines, baskets at the cap and one
  *     over it, string items, null items and null baskets; single-part
  *     and null orders for the edges; empty, one-element and tied
  *     struct arrays for the enumerator; a basket spread over several
  *     input partitions in reverse order, and 10 000-row baskets that
  *     reduce to the cap and one over it.
  *  3. THE BASKET BUILD'S PLAN: one hash exchange on the basket below
  *     the pass, and no aggregate.
  */
class BasketKernelSpec extends SparkSpec {

  private val sf01 = s"${new java.io.File(sf).getParent}/sf0.01"

  // ------------------------------------------------ row-form reference

  private def refCapped(bi: DataFrame, cap: Int): DataFrame = {
    val li = bi.select(col("basket"), col("item")).distinct()
    val ok = li.groupBy(col("basket")).agg(count(lit(1)).as("sz"))
      .filter(col("sz") <= cap).select(col("basket"))
    li.join(ok, "basket")
  }

  /** The aggregate spelling [[BasketOps.basketItems]] had before its
    * sort-based pass: `collect_set` per basket, sorted, with a null-item
    * flag for the cap. */
  private def refBasketItems(bi: DataFrame, cap: Int): DataFrame =
    bi.filter(col("basket").isNotNull)
      .groupBy(col("basket"))
      .agg(array_sort(collect_set(col("item"))).as("items"),
        max(col("item").isNull.cast("int")).as("null_item"))
      .filter(size(col("items")) + col("null_item") <= cap)
      .select(col("basket"), col("items"))

  private def refPairs(capped: DataFrame, minBaskets: Long): DataFrame =
    capped.select(col("basket"), col("item").as("part_a"))
      .join(capped.select(col("basket"), col("item").as("part_b")), "basket")
      .filter(col("part_a") < col("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= minBaskets)

  private def orderItems(sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))

  /** (customer, part) rows of lineitem ⋈ orders — raw, uncapped. */
  private def custItems(sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("basket"), col("l_partkey").as("item"))

  private def refEdges(li: DataFrame): DataFrame =
    li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
      .distinct()

  private def refX144(sfDir: String): DataFrame = {
    val capped = refCapped(custItems(sfDir), 64)
    val itemN = capped.groupBy(col("item")).agg(count(lit(1)).as("n_item"))
    refPairs(capped, 3L)
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

  /** x160 as it read over row-form baskets and row-form pairs: the
    * hot/cold Apriori split verbatim, fed by the reference cap. */
  private def refX160(sfDir: String): DataFrame = {
    val capped = refCapped(custItems(sfDir), 64)
    val freq = capped.groupBy(col("item")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select(col("item"))
    val fi = capped.join(freq, "item").select(col("basket"), col("item"))
    val pairs = refPairs(capped, 2L).select(col("part_a"), col("part_b"))
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

  private def refX142(sfDir: String): DataFrame = {
    val capped = refCapped(orderItems(sfDir), 50)
    val nBaskets = capped.select(col("basket")).distinct()
      .agg(count(lit(1)).as("n_total"))
    val itemN = capped.groupBy(col("item")).agg(count(lit(1)).as("n_item"))
    val pairs = refPairs(capped, 3L)
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

  // ------------------------------------------------------- comparison

  private def shape(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)

  private def sameSet(got: DataFrame, want: DataFrame): Seq[Row] = {
    assert(shape(got) == shape(want))
    val g = got.collect().toSeq.sortBy(_.toString)
    val w = want.collect().toSeq.sortBy(_.toString)
    assert(g == w, s"${g.diff(w).take(5)} vs ${w.diff(g).take(5)}")
    g
  }

  private def sameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(shape(got) == shape(want))
    val g = got.collect().toSeq
    assert(g.nonEmpty)
    assert(g == want.collect().toSeq)
  }

  // ---------------------------------------------------- corpus parity

  test("order_pairs2 equals the row-form self-join at sf0.01") {
    val got = sameSet(BasketOps.orderPairs2Shared(spark, sf01),
      refPairs(refCapped(orderItems(sf01), 50), 2L))
    assert(got.nonEmpty)
  }

  test("x71 and x142 equal the row-form spelling row for row at sf0.01") {
    sameRows(BasketOps.x71CoPurchase(spark, sf01),
      refPairs(refCapped(orderItems(sf01), 50), 2L)
        .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
        .limit(100))
    sameRows(BasketOps.x142AssocRules(spark, sf01), refX142(sf01))
  }

  test("cust_pairs2 (>= 2) equals the row-form self-join at sf0.01") {
    val got = sameSet(BasketOps.custPairs2Shared(spark, sf01),
      refPairs(refCapped(custItems(sf01), 64), 2L))
    assert(got.nonEmpty)
  }

  test("x144 and x160 equal the row-form spelling row for row at sf0.01") {
    sameRows(BasketOps.x144ItemCf(spark, sf01), refX144(sf01))
    sameRows(BasketOps.x160Apriori3(spark, sf01), refX160(sf01))
  }

  test("co-purchase edges equal the order self-join + distinct at " +
      "sf0.01, with no join and one shuffle on the order key") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val li = Tables.lineitem(spark, sf01)
    val edges = GraphOps.coPurchaseEdgeFrame(li)
    val got = sameSet(edges,
      refEdges(li.select(col("l_orderkey"), col("l_partkey"))))
    assert(got.nonEmpty)
    val plan = flattenPlan(edges.queryExecution.executedPlan)
    val joins = plan.collect { case j: BaseJoinExec => j.nodeName }
    assert(joins.isEmpty, s"the edge build must not join: $joins")
    val keys = plan.collect { case e: ShuffleExchangeExec =>
      e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.map {
          case a: AttributeReference => a.name
          case x => x.sql
        }
        case other => Seq(other.toString)
      }
    }
    assert(keys.sortBy(_.mkString(",")) == Seq(Seq("a", "b"), Seq("basket")),
      s"expected one order-key and one pair shuffle: $keys")
  }

  // -------------------------------------------------- planted baskets

  private def planted: DataFrame = {
    import spark.implicits._
    val n: String = null
    Seq(
      ("d", "x"), ("d", "x"), ("d", "y"),             // duplicated line
      ("c4", "a"), ("c4", "b"), ("c4", "x"), ("c4", "y"),  // at the cap
      ("c5", "a"), ("c5", "b"), ("c5", "c"), ("c5", "x"),
      ("c5", "y"),                                    // cap + 1
      ("n", "x"), ("n", "y"), ("n", n),               // null item, under
      ("nc", "a"), ("nc", "b"), ("nc", "x"), ("nc", "y"),
      ("nc", n),                                      // null item tips it over
      (n, "x"), (n, "y"),                             // null basket
      ("z", n)                                        // only a null item
    ).toDF("basket", "item")
  }

  test("planted baskets: duplicates, the cap edge, null items and null " +
      "baskets pair exactly as the row form") {
    val got = sameSet(
      BasketOps.pairsFromBaskets(BasketOps.basketItems(planted, 4), 1L),
      refPairs(refCapped(planted, 4), 1L))
    val byPair = got.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
    assert(byPair.toMap == Map(("x", "y") -> 3L,
      ("a", "b") -> 1L, ("a", "x") -> 1L, ("a", "y") -> 1L,
      ("b", "x") -> 1L, ("b", "y") -> 1L))
  }

  test("planted baskets: the basket count and item supports x142 reads " +
      "match the row form") {
    val baskets = BasketOps.basketItems(planted, 4)
    val refCap = refCapped(planted, 4)
    // a null basket is no basket; a basket holding only a null item is one
    assert(baskets.count() == refCap.select(col("basket")).distinct().count())
    assert(baskets.select(col("basket")).collect().map(_.getString(0)).toSet ==
      Set("d", "c4", "n", "z"))
    sameSet(
      baskets.select(explode(col("items")).as("item"))
        .groupBy(col("item")).agg(count(lit(1)).as("n_item")),
      refCap.filter(col("item").isNotNull)
        .groupBy(col("item")).agg(count(lit(1)).as("n_item")))
  }

  test("planted orders: duplicated lines, a single-part order, null " +
      "parts and null orders give the self-join's edges") {
    import spark.implicits._
    val li = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 10L), (1L, 10L), (1L, 20L),        // duplicated line
      (2L, 30L),                              // single-part order
      (3L, 10L), (3L, 20L), (3L, null), (3L, 40L),  // null part
      (null, 10L), (null, 50L),               // null order
      (4L, 20L), (4L, 40L)                    // (20, 40) in two orders
    ).toDF("l_orderkey", "l_partkey")
    val got = sameSet(GraphOps.coPurchaseEdgeFrame(li), refEdges(li))
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((10L, 20L), (10L, 40L), (20L, 40L)))
  }

  test("arrayPairs over sorted struct arrays equals the posexplode + " +
      "explode(slice) spelling: empty, one-element and tied (deg, id) keys") {
    import spark.implicits._
    val rows = Seq(
      (1L, Seq.empty[(Long, Long)]),
      (2L, Seq((3L, 7L))),
      (3L, Seq((2L, 9L), (1L, 5L), (2L, 4L), (2L, 4L), (3L, 1L)))
    ).toDF("src", "raw")
      .select(col("src"), sort_array(
        col("raw").cast("array<struct<d:bigint,v:bigint>>")).as("ns"))
    val ref = rows
      .select(col("ns"), posexplode(col("ns")).as(Seq("pos", "xs")))
      .select(col("xs"), explode(slice(col("ns"), col("pos") + 2,
        size(col("ns")) - col("pos") - 1)).as("ys"))
    val got = sameSet(BasketOps.arrayPairs(rows, "ns", "xs", "ys"), ref)
    assert(got.size == 5 * 4 / 2)
  }

  test("a 50-item basket that also holds a null is over the 50 cap") {
    import spark.implicits._
    val n: String = null
    val fifty = (1 to 50).map(i => f"i$i%02d")
    val bi = (fifty.map(("ok50", _)) ++ fifty.map(("over", _)) :+
      (("over", n))).toDF("basket", "item")
    val got = BasketOps.basketItems(bi, 50)
    assert(got.collect().map(_.getString(0)).toSeq == Seq("ok50"))
    sameSet(BasketOps.coOccurrencePairs(bi, basketCap = 50, minBaskets = 1L),
      refPairs(refCapped(bi, 50), 1L))
    assert(BasketOps.coOccurrencePairs(bi, 50, 1L).count() == 50L * 49 / 2)
  }

  // ------------------------------------------- sort-based basket pass

  /** The basket frame against the `collect_set` spelling: the same
    * schema, and the same rows once sorted by basket. */
  private def sameBaskets(bi: DataFrame, cap: Int): Seq[Row] = {
    val got = BasketOps.basketItems(bi, cap)
    val want = refBasketItems(bi, cap)
    assert(got.schema == want.schema)
    val g = got.collect().toSeq.sortBy(_.get(0).toString)
    assert(g == want.collect().toSeq.sortBy(_.get(0).toString))
    g
  }

  test("basket rows equal the collect_set spelling over the sf0.01 order " +
      "and customer baskets") {
    assert(sameBaskets(orderItems(sf01), 50).nonEmpty)
    assert(sameBaskets(custItems(sf01), 64).nonEmpty)
    assert(sameBaskets(orderItems(sf01), Int.MaxValue).nonEmpty)
  }

  test("a basket spread over several input partitions in reverse order " +
      "comes out as one sorted row") {
    import spark.implicits._
    val rows = (1 to 40).reverse.flatMap(i =>
      Seq((7L, i.toLong), (7L, i.toLong), (3L, (i % 5).toLong)))
    val bi = rows.toDF("basket", "item").repartition(4)
    assert(bi.rdd.glom().collect().count(_.exists(_.getLong(0) == 7L)) > 1,
      "basket 7 must start out in more than one partition")
    val got = sameBaskets(bi, 50)
    assert(got.map(r => r.getLong(0) -> r.getSeq[Long](1)) ==
      Seq(3L -> (0L to 4L), 7L -> (1L to 40L)))
  }

  test("10 000-row baskets with duplicates: cap + 1 distinct items are " +
      "dropped, exactly cap are kept") {
    import spark.implicits._
    val cap = 50
    val rnd = new scala.util.Random(11)
    val rows = rnd.shuffle((0 until 10000).flatMap(i =>
      Seq(("over", s"i${i % (cap + 1)}"), ("at", s"i${i % cap}"))))
    val bi = rows.toDF("basket", "item").repartition(3)
    val got = sameBaskets(bi, cap)
    assert(got.map(_.getString(0)) == Seq("at"))
    assert(got.head.getSeq[String](1) == (0 until cap).map(i => s"i$i").sorted)
  }

  test("string items with nulls: a null counts once toward the cap and " +
      "is never an item") {
    import spark.implicits._
    val n: String = null
    val bi = Seq(
      ("a", n), ("a", "q"), ("a", "p"), ("a", n), ("a", "q"),  // 3: kept
      ("b", n), ("b", "x"), ("b", "y"), ("b", "z"),            // 4: over
      ("c", n), ("c", n),                                      // only nulls
      ("d", "b"), ("d", "B"), ("d", ""), ("d", "b"),           // byte order
      (n, "p"), (n, n)                                         // no basket
    ).toDF("basket", "item").repartition(3)
    val got = sameBaskets(bi, 3)
    assert(got.map(r => r.getString(0) -> r.getSeq[String](1)) == Seq(
      "a" -> Seq("p", "q"), "c" -> Seq(), "d" -> Seq("", "B", "b")))
  }

  test("the basket build holds one hash exchange on the basket below the " +
      "pass, and no aggregate") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectSet
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.MapPartitionsExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val baskets = BasketOps.basketItems(orderItems(sf01), 50)
    baskets.collect()
    val plan = flattenPlan(baskets.queryExecution.executedPlan)
    val aggs = plan.collect { case a: BaseAggregateExec => a.nodeName }
    assert(aggs.isEmpty, s"the basket build must not aggregate: $aggs")
    assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[CollectSet]))))
    val passes = plan.collect { case m: MapPartitionsExec => m }
    assert(passes.size == 1)
    def keys(p: Seq[org.apache.spark.sql.execution.SparkPlan]) =
      p.collect { case e: ShuffleExchangeExec =>
        e.outputPartitioning match {
          case h: HashPartitioning => h.expressions.map {
            case a: AttributeReference => a.name
            case x => x.sql
          }
          case other => Seq(other.toString)
        }
      }
    assert(keys(plan) == Seq(Seq("basket")),
      s"expected exactly one hash exchange, on the basket: ${keys(plan)}")
    assert(keys(flattenPlan(passes.head)) == Seq(Seq("basket")),
      "the exchange must sit below the pass")
  }
}
