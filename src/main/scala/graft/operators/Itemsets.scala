package graft.operators

import graft.Caches
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pairwise frequent-itemset statistics (the level-2 slice of
  * market-basket analysis): which items co-occur in the same basket
  * more than their marginals predict. In a data-curation setting the
  * "items" are tags, event types, or quality flags and the "basket" a
  * user, session, or document — lift spots flag combinations that
  * travel together (a template family, a spam signature).
  */
object Itemsets {

  /** Co-occurrence support / confidence / lift for item pairs.
    * `support(a,b) = n_ab / N`, `confidence(a→b) = n_ab / n_a`,
    * `lift = n_ab·N / (n_a·n_b)` (>1 ⇔ positive association).
    * Emits one row per unordered pair with `item_a < item_b`:
    * `(item_a, item_b, n_a, n_b, n_ab, support, conf_a_b, conf_b_a,
    * lift)`, pairs with `n_ab >= minSupport` only.
    *
    * Scale shape: the classic a-priori pruning — per-item counts
    * first (one combinable agg), items below `minSupport` are dropped
    * BEFORE the pair join (an infrequent pair needs two frequent
    * members), then the basket self-join runs on the de-duplicated
    * (basket, item) projection with `item_a < item_b`. The join
    * shuffles on the basket key; per-basket fan-out is
    * C(frequent items in basket, 2) — bounded by the frequent-item
    * filter, the reason a-priori prunes before joining. Totals and
    * item counts are dimension-sized broadcasts.
    */
  def pairLift(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long = 2): DataFrame = {
    // the distinct (basket, item) projection feeds item counts, the
    // basket total, AND both sides of the pair join — persist it
    // (caller's scope) or each consumer
    // re-runs the distinct's shuffle over the raw table
    val pairs = Caches.persist(
      df.select(col(basketCol).as("__b"), col(itemCol).as("__i"))
        .where(col("__i").isNotNull)
        .distinct())
    val itemN = pairs.groupBy(col("__i")).agg(count(lit(1)).as("__n"))
      .where(col("__n") >= minSupport)
    val total = pairs.select(col("__b")).distinct()
      .agg(count(lit(1)).as("__total"))
    // prune to frequent items before the quadratic-in-basket join
    val frequent = pairs.join(broadcast(itemN.select("__i")), Seq("__i"))
    val co = frequent.as("a")
      .join(frequent.as("b"),
        col("a.__b") === col("b.__b") && col("a.__i") < col("b.__i"))
      .groupBy(col("a.__i").as("item_a"), col("b.__i").as("item_b"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minSupport)
    co.join(broadcast(itemN.select(col("__i").as("item_a"), col("__n").as("n_a"))),
        Seq("item_a"))
      .join(broadcast(itemN.select(col("__i").as("item_b"), col("__n").as("n_b"))),
        Seq("item_b"))
      .crossJoin(broadcast(total))
      .select(col("item_a"), col("item_b"), col("n_a"), col("n_b"), col("n_ab"),
        round(col("n_ab") / col("__total"), 6).as("support"),
        round(col("n_ab") / col("n_a"), 6).as("conf_a_b"),
        round(col("n_ab") / col("n_b"), 6).as("conf_b_a"),
        round(col("n_ab") * col("__total") / (col("n_a") * col("n_b")), 6)
          .as("lift"))
  }

  /** Item-item cosine similarity over basket count vectors — the
    * classic collaborative-filtering item similarity: each item is
    * the vector of its per-basket counts, and
    * `cos(a,b) = Σ_u c_ua·c_ub / (‖a‖·‖b‖)`. Dot products and squared
    * norms are pure INTEGER sums, so the final ratio is bit-identical
    * cross-engine. Emits one row per co-occurring pair
    * `item_a < item_b`: `(item_a, item_b, n_co, cosine)`.
    *
    * Scale shape: the (basket, item) count table persists (norms and
    * both sides of the pair join read it); the self-join shuffles on
    * the basket key with C(items-in-basket, 2) fan-out; norms are an
    * item-dimension broadcast.
    */
  def itemItemCosine(df: DataFrame, basketCol: String,
      itemCol: String): DataFrame = {
    val counts = Caches.persist(
      df.select(col(basketCol).as("__b"), col(itemCol).as("__i"))
        .where(col("__i").isNotNull)
        .groupBy("__b", "__i").agg(count(lit(1)).as("__c")))
    val norms = counts.groupBy(col("__i"))
      .agg(sum(col("__c") * col("__c")).as("__n2"))
    val pairs = counts.as("a")
      .join(counts.as("b"),
        col("a.__b") === col("b.__b") && col("a.__i") < col("b.__i"))
      .groupBy(col("a.__i").as("item_a"), col("b.__i").as("item_b"))
      .agg(sum(col("a.__c") * col("b.__c")).as("__dot"),
        count(lit(1)).as("n_co"))
    pairs
      .join(broadcast(norms.select(col("__i").as("item_a"),
        col("__n2").as("__na"))), Seq("item_a"))
      .join(broadcast(norms.select(col("__i").as("item_b"),
        col("__n2").as("__nb"))), Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("n_co"),
        round(col("__dot").cast("double")
          / (sqrt(col("__na").cast("double"))
            * sqrt(col("__nb").cast("double"))), 6).as("cosine"))
  }

  /** Level-3 frequent itemsets: triples of items co-occurring in
    * `minSupport`+ baskets, with support and the 3-way lift
    * `n_abc·N² / (n_a·n_b·n_c)` against full independence. Emits one
    * row per ordered triple `item_a < item_b < item_c`:
    * `(item_a, item_b, item_c, n_a, n_b, n_c, n_abc, support, lift)`.
    *
    * Scale shape: textbook a-priori level-wise generation — items
    * below `minSupport` drop before the pair join, the materialized
    * (basket, pair) rows are pruned to FREQUENT pairs before the
    * third-item extension (every 2-subset of a frequent triple is
    * frequent, so this discards no answers), and only then does the
    * per-basket count run. The (basket, pair) table persists (it
    * feeds both the pair counts and the extension); the frequent-pair
    * filter join is unhinted — pair dimension tables are small in
    * practice and AQE broadcasts them when they are. Per-basket
    * fan-out is C(frequent items in basket, 3), the quantity the
    * level-wise pruning exists to bound.
    */
  def tripleLift(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long = 2): DataFrame = {
    val rows = Caches.persist(
      df.select(col(basketCol).as("__b"), col(itemCol).as("__i"))
        .where(col("__i").isNotNull)
        .distinct())
    val itemN = rows.groupBy(col("__i")).agg(count(lit(1)).as("__n"))
      .where(col("__n") >= minSupport)
    val total = rows.select(col("__b")).distinct()
      .agg(count(lit(1)).as("__total"))
    val frequent = rows.join(broadcast(itemN.select("__i")), Seq("__i"))
    val pairRows = Caches.persist(
      frequent.as("a")
        .join(frequent.as("b"),
          col("a.__b") === col("b.__b") && col("a.__i") < col("b.__i"))
        .select(col("a.__b").as("__b"),
          col("a.__i").as("__ia"), col("b.__i").as("__ib")))
    val pairN = pairRows.groupBy("__ia", "__ib").agg(count(lit(1)).as("__np"))
      .where(col("__np") >= minSupport)
    val tri = pairRows
      .join(pairN.select("__ia", "__ib"), Seq("__ia", "__ib"))
      .join(frequent.select(col("__b"), col("__i").as("__ic")), Seq("__b"))
      .where(col("__ic") > col("__ib"))
      .groupBy("__ia", "__ib", "__ic")
      .agg(count(lit(1)).as("n_abc"))
      .where(col("n_abc") >= minSupport)
    def withN(suffix: String): DataFrame =
      itemN.select(col("__i").as(s"__i$suffix"), col("__n").as(s"n_$suffix"))
    tri
      .join(broadcast(withN("a")), Seq("__ia"))
      .join(broadcast(withN("b")), Seq("__ib"))
      .join(broadcast(withN("c")), Seq("__ic"))
      .crossJoin(broadcast(total))
      .select(col("__ia").as("item_a"), col("__ib").as("item_b"),
        col("__ic").as("item_c"), col("n_a"), col("n_b"), col("n_c"),
        col("n_abc"),
        round(col("n_abc") / col("__total"), 6).as("support"),
        round(col("n_abc").cast("double") * col("__total") * col("__total")
          / (col("n_a").cast("double") * col("n_b") * col("n_c")), 6)
          .as("lift"))
  }
}
