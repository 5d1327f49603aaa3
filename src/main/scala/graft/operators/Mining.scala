package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Market-basket mining and co-occurrence recommendation: frequent
  * itemsets (Apriori candidate pruning), association rules
  * (confidence/lift in exact integer micros), and item-to-item nearest
  * neighbors (squared-cosine over co-occurrence counts). The curation
  * analogue is corpus co-selection analysis — which sources/documents are
  * sampled together by a mixture policy — but the operators are the
  * classic retail shapes on the purchase tables.
  *
  * Scale design shared by all three: the basket self-join is keyed on the
  * basket id, so its fan-out is bounded by basket size (≤ ~7 lines per
  * order in these fixtures, bounded by order width generally), never
  * item × item; the Apriori prune semi-joins baskets against frequent
  * items BEFORE enumeration, so a long tail of once-bought items never
  * reaches the pair shuffle; and everything downstream of the pair count
  * is integer arithmetic both engines replay exactly.
  */
object Mining {

  /** Pair support threshold: a pair must co-occur in ≥ MinSup baskets.
    * By the Apriori property an item in a frequent pair is itself
    * frequent at the same threshold, so the item prune uses MinSup too.
    */
  val MinSup = 2L

  private def baskets(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select(col("l_orderkey").as("oid"), col("l_partkey").as("item"))
      .distinct()

  /** Frequent pairs with support, Apriori-pruned.
    *
    * r16 optimization (guide §2.3 "aggregate before you shuffle"): pair
    * enumeration via per-basket sorted arrays — one groupBy(oid) collects
    * each pruned basket, and the ordered pairs are expanded map-side by a
    * nested `transform`/`slice` comprehension — instead of the fb ⋈ fb
    * oid self-join. The self-join shipped every pruned incidence row
    * twice and rebuilt the basket subtree once per leg (the r16 plan
    * audit showed the scan → distinct → semi-join chain duplicated under
    * both join legs, one of them as a 600k-row broadcast); the array form
    * builds baskets once and emits exactly the i1 < i2 pairs with no
    * join. A/B at sf0.1: 2.35 -> 1.87 s (min-of-3), pair
    * sets EQUAL. Scale shape is unchanged — per-basket state and pair
    * fan-out stay bounded by basket width (≤ ~7 lines per order here,
    * order width generally), and the Apriori semi-join still prunes the
    * once-bought tail before any array is built.
    */
  private def freqPairs(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val b = baskets(s, dir)
    val freq = b.groupBy("item").agg(count(lit(1)).as("isup"))
      .filter(col("isup") >= MinSup)
    // the prune: only items frequent alone can appear in a frequent pair
    val fb = b.join(freq.select("item"), Seq("item"), "left_semi")
    fb.groupBy("oid").agg(array_sort(collect_list("item")).as("items"))
      .select(explode(expr(
        "flatten(transform(items, (x, i) -> " +
          "transform(slice(items, i + 2, size(items) - i - 1), " +
          "y -> struct(x AS i1, y AS i2))))")).as("pr"))
      .select(col("pr.i1").as("i1"), col("pr.i2").as("i2"))
      .groupBy("i1", "i2").agg(count(lit(1)).as("support"))
      .filter(col("support") >= MinSup)
  }

  private val basketsSql =
    """b AS (SELECT DISTINCT l_orderkey AS oid, l_partkey AS item FROM lineitem),
      |isup AS (SELECT item, count(*) AS isup FROM b GROUP BY item),
      |fb AS (SELECT b.oid, b.item FROM b JOIN isup ON isup.item = b.item
      |       WHERE isup.isup >= 2),
      |pairs AS (
      |  SELECT x.item AS i1, y.item AS i2, count(*) AS support
      |  FROM fb x JOIN fb y ON x.oid = y.oid AND x.item < y.item
      |  GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin

  val queries: Seq[GraftQuery] = Seq(

    // Frequent itemsets (pairs) over order baskets: which parts are
    // bought together at least MinSup times. The exact-count Apriori
    // shape: distinct (order, part) baskets, item-frequency prune,
    // per-basket pair enumeration, pair-count shuffle. At 100 TB the
    // prune is what matters — the once-bought tail (the bulk of a
    // real catalog) is dropped by a semi-join before any pair exists.
    GraftQuery(
      "q_freq_itemsets",
      (s, dir) => freqPairs(s, dir).orderBy("i1", "i2"),
      Some(s"""WITH $basketsSql
              |SELECT i1, i2, support FROM pairs ORDER BY i1, i2""".stripMargin),
    ),

    // Association rules from the frequent pairs, both directions, in
    // exact integer micros: confidence(a→c) = ⌊1e6·supp(a,c)/supp(a)⌋,
    // lift(a→c) = ⌊1e6·supp(a,c)·N / (supp(a)·supp(c))⌋ with N = basket
    // count (lift > 1e6 means the pair co-occurs more than independence
    // predicts). Bounds: supp ≤ N ≤ ~1.5e9 orders at 100 TB keeps
    // 1e6·supp·N ≤ 1.5e24 — that product runs in DECIMAL(38,0)
    // (HUGEINT in the oracle) so the micros stay exact at any scale.
    GraftQuery(
      "q_assoc_rules",
      (s, dir) => {
        val b = baskets(s, dir)
        val isup = b.groupBy("item").agg(count(lit(1)).as("isup"))
        val n = b.select(countDistinct(col("oid")).as("n"))
        val p = freqPairs(s, dir)
        val rules = p.select(col("i1").as("ante"), col("i2").as("cons"), col("support"))
          .unionByName(p.select(col("i2").as("ante"), col("i1").as("cons"), col("support")))
        rules
          .join(isup.select(col("item").as("ante"), col("isup").as("sa")), Seq("ante"))
          .join(isup.select(col("item").as("cons"), col("isup").as("sc")), Seq("cons"))
          .crossJoin(broadcast(n))
          .select(col("ante"), col("cons"), col("support"),
            expr("(CAST(support AS DECIMAL(38,0)) * 1000000) div sa").as("conf_micros"),
            expr("(CAST(support AS DECIMAL(38,0)) * 1000000 * n) div (sa * sc)").as("lift_micros"))
          .orderBy("ante", "cons")
      },
      Some(s"""WITH $basketsSql,
              |n AS (SELECT count(DISTINCT oid) AS n FROM b),
              |rules AS (
              |  SELECT i1 AS ante, i2 AS cons, support FROM pairs
              |  UNION ALL
              |  SELECT i2, i1, support FROM pairs)
              |SELECT r.ante, r.cons, r.support,
              |  CAST((CAST(r.support AS HUGEINT) * 1000000) // a.isup AS BIGINT) AS conf_micros,
              |  CAST((CAST(r.support AS HUGEINT) * 1000000 * n.n)
              |    // (a.isup * c.isup) AS BIGINT) AS lift_micros
              |FROM rules r
              |JOIN isup a ON a.item = r.ante
              |JOIN isup c ON c.item = r.cons
              |CROSS JOIN n
              |ORDER BY r.ante, r.cons""".stripMargin),
    ),

    // Item-to-item top-3 neighbors ("customers who bought X also
    // bought"): squared cosine over co-occurrence counts,
    // cos²(i,j) = cooc²/(supp(i)·supp(j)), in exact integer picos
    // (×1e12) — squaring instead of rooting keeps the ranking identical
    // and the arithmetic integral. Candidates are the frequent pairs
    // (support ≥ MinSup): the same candidate-floor discipline as the
    // banded dedup family — at catalog scale you NEVER rank the full
    // item × item product, only pairs that actually co-occurred enough
    // to matter. Ties (common at small counts) break on neighbor id.
    GraftQuery(
      "q_item_knn",
      (s, dir) => {
        val b = baskets(s, dir)
        val isup = b.groupBy("item").agg(count(lit(1)).as("isup"))
        val p = freqPairs(s, dir)
        val sym = p.select(col("i1").as("item"), col("i2").as("nb"), col("support"))
          .unionByName(p.select(col("i2").as("item"), col("i1").as("nb"), col("support")))
        val scored = sym
          .join(isup.select(col("item"), col("isup").as("si")), Seq("item"))
          .join(isup.select(col("item").as("nb"), col("isup").as("sn")), Seq("nb"))
          .select(col("item"), col("nb"), col("support"),
            expr("(CAST(support AS DECIMAL(38,0)) * support * 1000000000000) div (si * sn)")
              .as("cos2_picos"))
        scored
          .withColumn("rn", row_number().over(
            Window.partitionBy("item").orderBy(col("cos2_picos").desc, col("nb"))))
          .filter(col("rn") <= 3)
          .select("item", "nb", "support", "cos2_picos", "rn")
          .orderBy("item", "rn")
      },
      Some(s"""WITH $basketsSql,
              |sym AS (
              |  SELECT i1 AS item, i2 AS nb, support FROM pairs
              |  UNION ALL
              |  SELECT i2, i1, support FROM pairs),
              |scored AS (
              |  SELECT s.item, s.nb, s.support,
              |    CAST((CAST(s.support AS HUGEINT) * s.support * 1000000000000)
              |      // (i.isup * j.isup) AS BIGINT) AS cos2_picos
              |  FROM sym s
              |  JOIN isup i ON i.item = s.item
              |  JOIN isup j ON j.item = s.nb)
              |SELECT item, nb, support, cos2_picos, rn FROM (
              |  SELECT *, row_number() OVER (
              |    PARTITION BY item ORDER BY cos2_picos DESC, nb) AS rn
              |  FROM scored)
              |WHERE rn <= 3
              |ORDER BY item, rn""".stripMargin),
    ),
  )
}
