package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Sketch-based operators for cardinality/frequency at scale: distributed
  * heavy hitters (Misra–Gries candidates + exact recount) and KMV distinct
  * counting ([[graft.functions.KmvSketch]]). Both produce DETERMINISTIC,
  * exactly-reproducible output — the sketches bound memory and shuffle
  * width, they do not introduce randomness — so both carry full DuckDB
  * oracles rather than rows-only checks.
  */
object Sketches {

  /** Per-partition Misra–Gries frequency summary: at most `cap` surviving
    * keys per partition. Classic guarantee: a key whose count in the
    * partition exceeds n_p/(cap+1) always survives; total work is O(n_p)
    * amortized (each decrement round removes cap+1 occurrences).
    */
  private[graft] def misraGries(it: Iterator[Long], cap: Int): Iterator[Long] = {
    val counts = new java.util.HashMap[Long, Long](cap * 2)
    it.foreach { k =>
      // getOrDefault, not get: absent keys must not unbox a null. A stored
      // zero can't occur — zero-count entries are removed on decrement.
      val c = counts.getOrDefault(k, 0L)
      if (c > 0L) counts.put(k, c + 1)
      else if (counts.size < cap) counts.put(k, 1L)
      else {
        // decrement-all, dropping zeros: one pass over ≤cap entries
        val e = counts.entrySet().iterator()
        while (e.hasNext) {
          val kv = e.next()
          if (kv.getValue == 1L) e.remove() else kv.setValue(kv.getValue - 1)
        }
      }
    }
    val out = new Array[Long](counts.size)
    val ks = counts.keySet().iterator()
    var i = 0
    while (ks.hasNext) { out(i) = ks.next(); i += 1 }
    out.iterator
  }

  /** Exact keys with frequency >= support·n, found the 100 TB way: a
    * map-side Misra–Gries pass (capacity ⌈1/support⌉) yields a candidate
    * set that provably CONTAINS every true heavy hitter — a key surviving
    * no partition has global count ≤ n/(cap+1) < support·n — then only the
    * candidates are recounted exactly (semi-join prune before the shuffle,
    * so the aggregation shuffles candidate keys, not the full key domain).
    * Candidates are bounded by partitions × cap; the broadcast below holds
    * to ~10⁴ partitions — beyond that drop the hint and AQE plans the
    * semi-join as a shuffle join. Output: (key, cnt), exact.
    */
  def heavyHitters(df: DataFrame, keyCol: String, support: Double): DataFrame = {
    require(support > 0 && support <= 1, s"support must be in (0,1], got $support")
    val cap = math.ceil(1.0 / support).toInt
    val spark = df.sparkSession
    import spark.implicits._
    // try_cast + drop nulls: a null key (or a value the Long cast can't
    // represent) would NPE the non-nullable Long deserializer in
    // mapPartitions — and under ANSI mode a plain cast would throw on
    // malformed strings. Frequency of NULL is not a meaningful heavy
    // hitter, so exclusion is the operator's contract (n below counts
    // non-null castable keys only).
    val keys = df.select(col(keyCol).try_cast(LongType).as("key"))
      .filter(col("key").isNotNull)
    val cands = keys.as[Long].mapPartitions(misraGries(_, cap)).toDF("key").distinct()
    val n = keys.groupBy().agg(count(lit(1)).as("__n"))
    keys.join(broadcast(cands), Seq("key"), "left_semi")
      .groupBy("key").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(n))
      // identical IEEE compare on both engines: double(cnt) >= s * double(n)
      .filter(col("cnt").cast("double") >= lit(support) * col("__n").cast("double"))
      .select("key", "cnt")
  }

  // 48-bit hash from the md5 hex prefix: below 2^53, so the long→double
  // cast in the estimator is EXACT in both engines. Shared with the other
  // deterministic-hash operators (Curation splits, BloomPrune positions).
  private[operators] def hash48(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c.cast("string")), 1, 12), 16, 10).cast(LongType)

  private[operators] val hash48Sql = (x: String) =>
    s"""list_reduce(list_transform(
       |    string_split_regex(substr(md5(CAST($x AS VARCHAR)), 1, 12), ''),
       |    c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT)),
       |  (a, b) -> a * 16 + b)""".stripMargin

  /** Mergeable fixed-grid histogram quantiles: bucket counts (state ≤ `bins`
    * longs per group, map-side combinable by plain addition) → cumulative
    * counts → for each requested q, the midpoint of the first bucket whose
    * cumulative count reaches ⌈q·n⌉. Deterministic, partition-invariant,
    * and O(bins) memory — the 100 TB replacement for exact `percentile`
    * (whose state is the value multiset itself; see q_quantiles for the
    * exact twin). Error is bounded by the grid pitch (hi−lo)/bins.
    */
  def histQuantile(df: DataFrame, valueCol: String, groupCol: String,
      lo: Double, hi: Double, bins: Int, qs: Seq[Double]): DataFrame = {
    require(hi > lo && bins > 0)
    val width = (hi - lo) / bins
    val bkt = least(greatest(
        floor((col(valueCol) - lit(lo)) / lit(width)), lit(0.0)), lit((bins - 1).toDouble))
      .cast(LongType)
    // nulls are excluded by contract (a NULL bucket would sort NULLS FIRST
    // into every cumulative count and bias quantiles low); n counts
    // non-null values only — same denominator rule as heavyHitters
    val h = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol), bkt.as("bkt")).agg(count(lit(1)).as("cnt"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy("bkt")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
    h.withColumn("cum", sum("cnt").over(wCum))
      .withColumn("n", sum("cnt").over(wAll))
      .select(col(groupCol), col("bkt"), col("cum"), col("n"),
        explode(array(qs.map(lit): _*)).as("q"))
      .filter(col("cum") >= ceil(col("q") * col("n")))
      .groupBy(col(groupCol), col("q"))
      .agg(min("bkt").as("qb"), first("n").as("n"))
      .select(col(groupCol), col("q"),
        (lit(lo) + (col("qb").cast("double") + lit(0.5)) * lit(width)).as("est"),
        col("n"))
  }

  /** Count–min sketch (Cormode & Muthukrishnan 2005): `depth` hash rows ×
    * `width` counters; every occurrence of a key increments one counter
    * per row (bucket = engine-shared 48-bit md5 fold of "row_key" mod
    * width), and a point estimate is the MIN of the key's `depth`
    * counters — an overestimate by construction (collisions only add),
    * within εn with probability 1−δ for width = ⌈e/ε⌉, depth = ⌈ln 1/δ⌉.
    *
    * The sketch IS the aggregate: the build is one map-side posexplode
    * (depth rows per input row, no key shuffle wider than depth·width
    * counters) and the state merges by plain addition — the frequency
    * summary a 100 TB profiler ships where exact per-key counts would
    * shuffle the full key domain. Deterministic end-to-end: integer
    * counters, engine-shared hash, no sampling — so the whole
    * (row, bucket, cnt) table and every estimate replay exactly in
    * DuckDB. Returns the sketch table (row, bucket, cnt).
    */
  /** The key's `depth` bucket coordinates — one per hash row — shared by
    * the batch build, the probe side, and the streaming register
    * maintenance ([[graft.streaming.CorpusStream.streamingCountMin]]). */
  private[graft] def cmsBucketArray(key: Column, depth: Int, width: Int): Column = {
    require(depth >= 1 && depth <= 8 && width >= 2,
      s"need 1<=depth<=8, width>=2; got depth=$depth width=$width")
    array((0 until depth).map { i =>
      hash48(concat(lit(s"${i}_"), key.cast("string"))) % width
    }: _*)
  }

  def countMin(df: DataFrame, keyCol: String, depth: Int, width: Int): DataFrame =
    df.filter(col(keyCol).isNotNull)
      .select(posexplode(cmsBucketArray(col(keyCol), depth, width)))
      .toDF("row", "bucket")
      .groupBy("row", "bucket").agg(count(lit(1)).as("cnt"))

  /** Point estimates from a [[countMin]] sketch for every key in `probe`:
    * est = min over the key's `depth` counters; guaranteed ≥ the true
    * count. The sketch side is depth·width rows — broadcast — so the
    * probe pays one map-side join, no shuffle of the probe keys.
    */
  def countMinEstimate(sketch: DataFrame, probe: DataFrame, keyCol: String,
      depth: Int, width: Int): DataFrame =
    probe.select(col(keyCol).as("key"),
        posexplode(cmsBucketArray(col(keyCol), depth, width)))
      .toDF("key", "row", "bucket")
      .join(broadcast(sketch), Seq("row", "bucket"))
      .groupBy("key").agg(min("cnt").as("est"))

  val queries: Seq[GraftQuery] = Seq(

    // Count–min sketch over l_partkey (depth 4 × width 256 = 1024
    // counters vs ~20k distinct keys at sf0.01 — collisions by design),
    // probed back with every distinct key next to its exact count: est
    // must dominate exact (overestimate-only), and the error column is
    // the collision mass the ε-δ bound prices. Deterministic: integer
    // counters + the engine-shared md5 fold, so the estimates replay
    // exactly in DuckDB.
    GraftQuery(
      "q_cms",
      (s, dir) => {
        // fanOut: the sketch build folds depth=4 md5 buckets per row inside
        // the scan stage — single-task on a one-row-group file. A/B r16:
        // 2.86 -> 1.68 s at sf0.1 (min-of-3); no-op on multi-split
        // inputs.
        val li = Tables.fanOut(s, dir, "lineitem")
        val sk = countMin(li, "l_partkey", depth = 4, width = 256)
        val exact = li.groupBy(col("l_partkey").as("key"))
          .agg(count(lit(1)).as("exact"))
        countMinEstimate(sk, exact.select("key"), "key", depth = 4, width = 256)
          .join(exact, Seq("key"))
          .select(col("key"), col("exact"), col("est"),
            (col("est") - col("exact")).as("err"))
          .orderBy("key")
      },
      Some(s"""WITH sk AS (
              |  SELECT i AS row,
              |    ${hash48Sql("i || '_' || CAST(l_partkey AS VARCHAR)")} % 256 AS bucket,
              |    count(*) AS cnt
              |  FROM lineitem CROSS JOIN (SELECT unnest(range(0, 4)) AS i)
              |  GROUP BY 1, 2),
              |exact AS (
              |  SELECT l_partkey AS key, count(*) AS exact FROM lineitem GROUP BY 1),
              |pb AS (
              |  SELECT key, i AS row,
              |    ${hash48Sql("i || '_' || CAST(key AS VARCHAR)")} % 256 AS bucket
              |  FROM exact CROSS JOIN (SELECT unnest(range(0, 4)) AS i)),
              |est AS (
              |  SELECT p.key, min(s.cnt) AS est
              |  FROM pb p JOIN sk s ON s.row = p.row AND s.bucket = p.bucket
              |  GROUP BY 1)
              |SELECT e.key, x.exact, e.est, e.est - x.exact AS err
              |FROM est e JOIN exact x ON x.key = e.key
              |ORDER BY e.key""".stripMargin),
    ),

    // Exact heavy hitters over l_partkey at support 0.00065 (~85 keys at
    // sf0.01). The oracle is the naive full groupBy — the MG candidate pass
    // must be invisible in the result.
    GraftQuery(
      "q_heavy_hitters",
      (s, dir) => heavyHitters(Tables(s, dir, "lineitem"), "l_partkey", 0.00065)
        .orderBy("key"),
      // count(l_partkey), not count(*): the operator's n counts non-null
      // castable keys (nulls are excluded by contract), so the oracle's
      // support threshold must use the same denominator
      Some("""WITH n AS (SELECT count(l_partkey) AS n FROM lineitem),
             |c AS (SELECT l_partkey AS key, count(*) AS cnt FROM lineitem GROUP BY 1)
             |SELECT key, cnt FROM c, n
             |WHERE CAST(cnt AS DOUBLE) >= 0.00065 * CAST(n AS DOUBLE)
             |ORDER BY key""".stripMargin),
    ),

    // KMV distinct-user estimate per event type (k=64), alongside the exact
    // count. The estimator runs OUTSIDE the aggregate on the struct the
    // sketch returns, so DuckDB reproduces it exactly: same 48-bit hashes,
    // same k-th order statistic, same double arithmetic.
    GraftQuery(
      "q_kmv_distinct",
      (s, dir) => {
        graft.functions.KmvSketch.register(s)
        val k = 64
        Tables(s, dir, "events")
          .withColumn("h", hash48(col("user_id")))
          .groupBy("event_type")
          .agg(expr(s"kmv_sketch(h, $k)").as("sk"),
            countDistinct(col("user_id")).as("exact_nd"))
          .select(col("event_type"), col("sk.kth").as("kth_hash"), col("exact_nd"),
            (floor(
              when(col("sk.nd") < k, col("sk.nd").cast("double"))
                .otherwise(lit((k - 1).toDouble) * lit(281474976710656.0) / col("sk.kth").cast("double"))
                * lit(1e6) + lit(0.5)) / lit(1e6)).as("est_distinct"))
          .orderBy("event_type")
      },
      Some(s"""WITH h AS (
              |  SELECT DISTINCT event_type, ${hash48Sql("user_id")} AS h
              |  FROM events),
              |r AS (
              |  SELECT event_type, h,
              |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk,
              |    count(*) OVER (PARTITION BY event_type) AS nd
              |  FROM h),
              |x AS (SELECT event_type, count(DISTINCT user_id) AS exact_nd
              |      FROM events GROUP BY 1)
              |SELECT r.event_type, r.h AS kth_hash, x.exact_nd,
              |  floor((CASE WHEN r.nd < 64 THEN CAST(r.nd AS DOUBLE)
              |              ELSE CAST(63 AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
              |                   / CAST(r.h AS DOUBLE) END)
              |        * 1e6 + 0.5) / 1e6 AS est_distinct
              |FROM r JOIN x ON x.event_type = r.event_type
              |WHERE r.rk = least(64, r.nd)
              |ORDER BY r.event_type""".stripMargin),
    ),

    // KMV set-operation estimates: |urgent-order customers ∪ high-order
    // customers| and their intersection from two k-min sketches (k=64),
    // never from the key sets. The union sketch is the k smallest of the merged min
    // arrays; ρ = |K_∪ ∩ K_A ∩ K_B| / |K_∪| scales the union estimate
    // (Beyer et al., exact below saturation). Everything after the two
    // ≤(4+8k)-byte aggregates is array algebra on one broadcast row —
    // this is how audience-overlap questions get answered at 100 TB. The
    // exact-intersection leg exists to EXHIBIT estimator error and would
    // be dropped in production.
    GraftQuery(
      "q_kmv_intersect",
      (s, dir) => {
        graft.functions.KmvSketch.register(s)
        val k = 64
        val e = Tables(s, dir, "orders")
          .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        val sk = e.withColumn("h", hash48(col("o_custkey")))
          .groupBy("o_orderpriority").agg(expr(s"kmv_sketch_full(h, $k)").as("sk"))
          .localCheckpoint(false) // 2 rows; feeds both pivot legs
        val a = sk.filter(col("o_orderpriority") === "1-URGENT")
          .select(col("sk.nd").as("a_nd"), col("sk.kth").as("a_kth"), col("sk.mins").as("am"))
        val b = sk.filter(col("o_orderpriority") === "2-HIGH")
          .select(col("sk.nd").as("b_nd"), col("sk.kth").as("b_kth"), col("sk.mins").as("bm"))
        val exact = e.groupBy("o_custkey")
          .agg(count_distinct(col("o_orderpriority")).as("nt"))
          .filter(col("nt") === 2).groupBy().agg(count(lit(1)).as("exact_common"))
        val twoPow48 = lit(281474976710656.0)
        val est = (nd: Column, kth: Column) =>
          when(nd < k, nd.cast("double"))
            .otherwise(lit((k - 1).toDouble) * twoPow48 / kth.cast("double"))
        val r6 = (c: Column) => floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
        a.crossJoin(b).crossJoin(broadcast(exact))
          .withColumn("um", slice(array_sort(array_union(col("am"), col("bm"))), 1, k))
          .withColumn("usz", size(col("um")).cast("long"))
          .withColumn("estU", est(col("usz"), element_at(col("um"), size(col("um")))))
          .withColumn("rho",
            size(array_intersect(col("um"), array_intersect(col("am"), col("bm"))))
              .cast("double") / col("usz").cast("double"))
          .select(
            r6(est(col("a_nd"), col("a_kth"))).as("est_urgent"),
            r6(est(col("b_nd"), col("b_kth"))).as("est_high"),
            r6(col("estU")).as("est_union"),
            r6(col("rho") * col("estU")).as("est_common"),
            col("exact_common"))
      },
      Some(s"""WITH h AS (
              |  SELECT DISTINCT o_orderpriority, ${hash48Sql("o_custkey")} AS h
              |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')),
              |r AS (
              |  SELECT o_orderpriority, h,
              |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY h) AS rk,
              |    count(*) OVER (PARTITION BY o_orderpriority) AS nd
              |  FROM h),
              |a AS (SELECT list(h ORDER BY h) AS am, any_value(nd) AS a_nd,
              |        max(h) AS a_kth FROM r WHERE o_orderpriority = '1-URGENT' AND rk <= 64
              |        HAVING count(*) > 0),
              |b AS (SELECT list(h ORDER BY h) AS bm, any_value(nd) AS b_nd,
              |        max(h) AS b_kth FROM r WHERE o_orderpriority = '2-HIGH' AND rk <= 64
              |        HAVING count(*) > 0),
              |x AS (SELECT count(*) AS exact_common FROM (
              |        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
              |        INTERSECT
              |        SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')),
              |u AS (
              |  SELECT *, list_slice(list_sort(list_distinct(list_concat(am, bm))), 1, 64) AS um
              |  FROM a, b, x),
              |f AS (
              |  SELECT *, len(um) AS usz,
              |    CASE WHEN len(um) < 64 THEN CAST(len(um) AS DOUBLE)
              |         ELSE CAST(63 AS DOUBLE) * CAST(281474976710656 AS DOUBLE) / CAST(um[len(um)] AS DOUBLE) END AS estU,
              |    CAST(len(list_intersect(um, list_intersect(am, bm))) AS DOUBLE)
              |      / CAST(len(um) AS DOUBLE) AS rho
              |  FROM u)
              |SELECT
              |  floor((CASE WHEN a_nd < 64 THEN CAST(a_nd AS DOUBLE)
              |    ELSE CAST(63 AS DOUBLE) * CAST(281474976710656 AS DOUBLE) / CAST(a_kth AS DOUBLE) END) * 1e6 + 0.5) / 1e6
              |    AS est_urgent,
              |  floor((CASE WHEN b_nd < 64 THEN CAST(b_nd AS DOUBLE)
              |    ELSE CAST(63 AS DOUBLE) * CAST(281474976710656 AS DOUBLE) / CAST(b_kth AS DOUBLE) END) * 1e6 + 0.5) / 1e6
              |    AS est_high,
              |  floor(estU * 1e6 + 0.5) / 1e6 AS est_union,
              |  floor(rho * estU * 1e6 + 0.5) / 1e6 AS est_common,
              |  exact_common
              |FROM f""".stripMargin),
    ),

    // Histogram-sketch quantiles per event type: p50/p90/p99 of value from
    // a 512-bin fixed grid over [0, 500]. Contrast with q_quantiles (exact
    // interpolated percentile, whose aggregation state is the value
    // multiset): this state is ≤512 longs per group no matter how many
    // rows flow through it, merges by addition, and its error is bounded
    // by the 0.98 grid pitch.
    GraftQuery(
      "q_hist_quantile",
      (s, dir) => histQuantile(Tables(s, dir, "events"), "value", "event_type",
          lo = 0.0, hi = 500.0, bins = 512, qs = Seq(0.5, 0.9, 0.99))
        .orderBy("event_type", "q"),
      Some("""WITH w AS (SELECT CAST(500 AS DOUBLE) / CAST(512 AS DOUBLE) AS pitch),
             |h AS (
             |  SELECT event_type,
             |    CAST(least(greatest(floor(value / pitch), CAST(0 AS DOUBLE)),
             |      CAST(511 AS DOUBLE)) AS BIGINT) AS bkt,
             |    count(*) AS cnt
             |  FROM events, w GROUP BY 1, 2),
             |c AS (
             |  SELECT event_type, bkt,
             |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bkt
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
             |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
             |  FROM h),
             |x AS (
             |  SELECT event_type, q, bkt, cum, n
             |  FROM c CROSS JOIN (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q)
             |  WHERE cum >= ceil(q * n))
             |SELECT event_type, q,
             |  (CAST(min(bkt) AS DOUBLE) + CAST(0.5 AS DOUBLE)) * (SELECT pitch FROM w) AS est,
             |  any_value(n) AS n
             |FROM x GROUP BY event_type, q
             |ORDER BY event_type, q""".stripMargin),
    ),

    // HyperLogLog register table (Flajolet et al. 2007) over part keys:
    // bucket = low 6 hash bits, ρ = position of the highest set bit of
    // the remaining 26 (via the integer bit-length identity
    // ρ = 27 − len(bin(w)), no float log), register = max ρ per bucket.
    // The registers ARE the sketch: O(64) state, mergeable by max —
    // partition-invariant by construction, the cardinality summary a
    // 100 TB profiler ships between stages where q_kmv_distinct ships
    // its k minima (HLL trades KMV's exactness-of-threshold for
    // constant 64-byte state). The engine-shared md5-hex hash keeps both
    // engines on identical registers; the float-free estimate fold
    // (α·m²·2²⁷ as one BIGINT literal over Σ2^(27−ρ), absent buckets
    // counting ρ = 0) lives in SketchesSpec, asserted against the exact
    // distinct count.
    GraftQuery(
      "q_hll_registers",
      (s, dir) => {
        val h = conv(substring(md5(col("l_partkey").cast("string")), 1, 8), 16, 10)
          .cast(LongType)
        Tables(s, dir, "lineitem")
          .select((h % 64).as("bucket"), (h.cast(LongType) / 64).cast(LongType).as("w"))
          .select(col("bucket"),
            when(col("w") === 0, 27)
              .otherwise(lit(27) - length(bin(col("w")))).cast("int").as("rho"))
          .groupBy("bucket").agg(max("rho").as("register"))
          .orderBy("bucket")
      },
      Some("""WITH h AS (
             |  SELECT list_reduce(
             |    list_transform(string_split_regex(substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8), ''),
             |      c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT)),
             |    (a, b) -> a * 16 + b) AS hv
             |  FROM lineitem),
             |b AS (
             |  SELECT hv % 64 AS bucket, hv // 64 AS w FROM h)
             |SELECT bucket,
             |  CAST(max(CASE WHEN w = 0 THEN 27 ELSE 27 - length(bin(w)) END) AS INT)
             |    AS register
             |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin),
    ),
  )
}
