package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Runtime-filter-style semi-join pruning with a deterministic Bloom
  * filter: build a bitset over the dimension's join keys, broadcast it,
  * and drop fact rows whose key cannot possibly match BEFORE the join's
  * shuffle. This is the pattern behind Spark's own
  * `spark.sql.optimizer.runtime.bloomFilter` rewrite, built here as an
  * explicit operator so the pruning leg is inspectable and the filter is
  * deterministic (md5-derived positions, no RNG) — at 100 TB the win is
  * shuffling only the ~matching fraction of the fact table instead of all
  * of it.
  *
  * False positives pass the pre-filter and are removed by the exact join
  * that follows; false negatives are impossible (every dim key sets its
  * own bits), so bloomSemiJoin ≡ a plain left-semi join — which is exactly
  * what the DuckDB oracle checks.
  */
object BloomPrune {

  /** k bit positions for a key: independent xxhash64 hashes seeded per
    * probe, mod mBits. xxhash64, not the md5-based parity hash — the
    * filter never appears in any oracle-checked value (false positives
    * are removed by the exact join), so it only needs build/probe
    * consistency, and xxhash64 is a codegen'd native expression (the md5
    * variant cost ~1s/150k rows at probe time). Pure Column arithmetic —
    * identical for build and probe sides by construction. */
  private def positions(key: Column, mBits: Int, k: Int): Seq[Column] =
    (0 until k).map { s =>
      // hash the STRING form: xxhash64 is type-dependent (hash(1:Int) !=
      // hash(1L)), so a fact/dim key-type mismatch would silently produce
      // false negatives — the one failure mode this operator must not have.
      // The string cast canonicalizes numerics to the same bytes.
      pmod(xxhash64(key.cast("string"), lit(s)), lit(mBits.toLong))
    }

  /** Build the filter as an Array[Long] bitset: positions → (word, bit),
    * bit_or per word, then a driver collect BOUNDED BY mBits/64 rows
    * (16 KiB at the default 2^17 bits — a fixed constant like the Geo zip
    * dimension, NOT proportional to the dim row count; the dim itself is
    * reduced map-side by the groupBy before anything reaches the driver).
    */
  def buildBloom(dim: DataFrame, keyCol: String, mBits: Int = 1 << 17,
      k: Int = 3): Array[Long] = {
    require(mBits > 0 && mBits % 64 == 0, s"mBits must be a positive multiple of 64, got $mBits")
    val words = new Array[Long](mBits / 64)
    val pos = positions(col(keyCol), mBits, k)
    dim.select(explode(array(pos: _*)).as("pos"))
      .select((col("pos") / lit(64)).cast("int").as("w"),
        call_function("shiftleft", lit(1L), (col("pos") % lit(64)).cast("int")).as("mask"))
      .groupBy("w").agg(bit_or(col("mask")).as("bits"))
      .collect()
      .foreach(r => words(r.getInt(0)) = r.getLong(1))
    words
  }

  /** Membership test as a Column: all k bits set. The bitset rides into
    * the plan as one array literal (task-broadcast with the closure), and
    * the test is element_at + bit_get — codegen-friendly, no UDF. */
  def mightContain(words: Seq[Long], key: Column, mBits: Int, k: Int): Column = {
    val bitset = typedlit(words)
    positions(key, mBits, k).map { pos =>
      bit_get(element_at(bitset, (pos / lit(64)).cast("int") + lit(1)),
        (pos % lit(64)).cast("int")) === lit(1)
    }.reduce(_ && _)
  }

  /** Bloom-pruned left-semi join: pre-filter the fact side with the dim's
    * Bloom filter, then exact left-semi join. Result-identical to
    * fact ⋉ dim; the pre-filter just keeps non-matching fact rows out of
    * the join's shuffle. Null fact keys are dropped (semi-join semantics:
    * NULL matches nothing). */
  def bloomSemiJoin(fact: DataFrame, factKey: String, dim: DataFrame,
      dimKey: String, mBits: Int = 1 << 17, k: Int = 3): DataFrame = {
    // NOTE: the bitset build runs HERE, at construction time (dim scan +
    // collect), not at the returned frame's first action — plan-only
    // consumers (explain) pay it too. The in-plan alternative (a scalar
    // subquery aggregate, as Spark's runtime-bloom rewrite does) is not
    // expressible through the public DataFrame API.
    val words = buildBloom(dim, dimKey, mBits, k)
    fact.filter(col(factKey).isNotNull &&
        mightContain(words, col(factKey), mBits, k))
      .join(dim.select(col(dimKey).as(factKey)).distinct(), Seq(factKey), "left_semi")
  }

  /** The pre-filter alone (no exact join) — exposed for tests and for
    * pipelines that tolerate false positives (e.g. pruning a scan before
    * a later exact stage). */
  def bloomPrefilter(fact: DataFrame, factKey: String, dim: DataFrame,
      dimKey: String, mBits: Int = 1 << 17, k: Int = 3): DataFrame = {
    val words = buildBloom(dim, dimKey, mBits, k)
    fact.filter(col(factKey).isNotNull &&
      mightContain(words, col(factKey), mBits, k))
  }

  val queries: Seq[GraftQuery] = Seq(

    // Orders from BUILDING-segment customers via the bloom-pruned path;
    // the oracle is the plain IN-subquery semi join — the Bloom leg must
    // be invisible in the result.
    GraftQuery(
      "q_bloom_prune",
      (s, dir) => {
        val orders = Tables(s, dir, "orders")
        val dim = Tables(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        bloomSemiJoin(orders, "o_custkey", dim, "c_custkey")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast(DecimalType(30, 6))).cast("double").as("sum_price"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n_orders,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_price
             |FROM orders
             |WHERE o_custkey IN (
             |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
             |GROUP BY 1 ORDER BY 1""".stripMargin),
    ),
  )
}
