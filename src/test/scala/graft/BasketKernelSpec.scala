package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.BasketOps

/** The array-form basket kernel ([[BasketOps.basketItems]] then
  * [[BasketOps.pairsFromBaskets]]) pinned bit-for-bit to the plain
  * row-form spelling it replaced — DISTINCT (basket, item) rows, a
  * COUNT(*) cap per basket joined back, and a basket-keyed self-join
  * for the pairs, the shape of the DuckDB oracles. That reference
  * lives only here.
  *
  *  1. CORPUS PARITY at sf0.01: the shared order pair frame, x71 and
  *     x142 row for row, and the shared customer pair frame.
  *  2. PLANTED CASES: duplicated lines, baskets at the cap and one
  *     over it, string items, null items and null baskets.
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
      refPairs(refCapped(BasketOps.custBasketsShared(spark, sf01), 64), 2L))
    assert(got.nonEmpty)
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
}
