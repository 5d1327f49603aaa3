package graft.operators

import graft.{GraftConf, GraftQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics the Pregel-by-joins way: PageRank as repeated
  * (edges ⋈ ranks → groupBy dst) rounds — the message-passing shape that
  * scales: each round is one shuffle on the edge's src then one on dst,
  * parallel across the whole graph, nothing driver-side but the loop
  * counter. Complements [[Dedup.clusterPairs]] (connected components) on
  * the iterative-operator surface.
  *
  * Arithmetic is scaled-integer end-to-end (ranks are BIGINTs at 1e12
  * scale, floor division for the out-degree and damping steps) so a fixed
  * iteration count yields BIT-IDENTICAL ranks on any engine and any
  * partitioning/merge order — double ranks would be order-sensitive in
  * the contribution sum. Dangling-node mass (sinks with no out-edges) is
  * dropped, the standard simplified formulation; ranks are relative, not
  * a probability distribution. At BIGINT scale the contribution sum is
  * bounded by N·SCALE·85 — fine to ~10⁵ nodes per component at 1e12;
  * larger graphs drop SCALE or move the state to DECIMAL(38,0).
  */
object Graph {

  val Scale: Long = 1000000000000L // 1e12: 12 digits of rank resolution

  /** Checkpoint `df` into `parts` partitions AND reset its planner
    * statistics to the defaults.
    *
    * Why the reset exists: Spark's localCheckpoint PRESERVES the origin
    * plan's statistics on the resulting LogicalRDD, and the size-only
    * stats visitor estimates a join as the PRODUCT of its children's
    * sizeInBytes (BigInt, uncapped). An iterative loop whose round-r
    * frame enters round r+1's plan through MORE THAN ONE multiplicative
    * path therefore SQUARES the preserved size every round — digits
    * double per round (measured in the h-index fixpoint: 133 → 272 →
    * 550 → … → 569,354 digits by round 15), and the driver ends up
    * spending its time in Toom-Cook BigInteger multiplies inside
    * join-stat estimation (a frontier-36 round took 45 s of pure
    * planning). Rebuilding the frame from its checkpointed RDD through
    * the public Row API drops the poisoned stats back to the 19-digit
    * default; the loops that use this pin make all their own broadcast
    * decisions with explicit count-gated hints, so losing the preserved
    * stats costs nothing. Linear chains (pageRank-style pr → pr once per
    * round) only ADD digits per round and don't need this.
    *
    * Known cost (ADVICE r15, accepted as measured): the rebuild goes
    * through `cp.rdd` — an external `Row` RDD — so every downstream scan
    * of the pinned frame pays a per-row InternalRow↔Row conversion. At
    * the measured call sites (narrow loop-state frames, ≤ maxK+2 int
    * columns) this is noise next to the planning time it removes; if a
    * wide-state profile ever shows the conversion, the alternative is a
    * schema-preserving InternalRow-path rebuild (cache + recreate) that
    * keeps the stats reset without the Row round-trip.
    */
  private[graft] def pinFresh(df: DataFrame, parts: Int): DataFrame = {
    val cp = df.coalesce(parts).localCheckpoint()
    cp.sparkSession.createDataFrame(cp.rdd, cp.schema)
  }

  /** `iters` damped PageRank rounds over `edges` (src, dst), d = 0.85.
    * Output: (node, rank) for every node appearing as src or dst.
    * The edge/node/out-degree frames are materialized once (they feed
    * every round), and each round's ranks are localCheckpointed — the
    * lineage-truncation trade documented at [[Dedup.clusterPairs]].
    */
  def pageRank(edges: DataFrame, iters: Int, scale: Long = Scale): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50], got $iters")
    val e = edges.select(col("src"), col("dst")).distinct().localCheckpoint(false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint(false)
    // out-degree folded into the edge frame ONCE — it is constant across
    // rounds, so joining it per round would pay iters× for a static column
    val eod = e.join(
        e.groupBy("src").agg(count(lit(1)).as("od")), "src")
      .localCheckpoint(false)
    var pr = nodes.withColumn("r", lit(scale))
    for (i <- 1 to iters) {
      val contribs = pr.join(eod, pr("node") === eod("src"))
        .select(col("dst").as("node"), expr("r div od").as("c"))
        .groupBy("node").agg(sum("c").as("m"))
      pr = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(scale * 15 / 100) + expr("(85 * coalesce(m, CAST(0 AS BIGINT))) div 100")).as("r"))
      // lazy checkpoint every FOURTH round (not every round): truncation
      // still bounds lineage depth for the 50-iteration cap, but between
      // checkpoints Catalyst plans several rounds as one job, so the
      // per-round materialization barrier (and its scheduling constants)
      // is paid iters/4 times instead of iters times.
      if (i % 4 == 0 && i < iters) pr = pr.localCheckpoint(false)
    }
    pr.select(col("node"), col("r").as("rank"))
  }

  /** HITS scale: 1e12, matching [[Scale]]. Each round sums per-node
    * scores (each ≤ HitsScale) over in-edges and multiplies the sum by
    * HitsScale before the normalizing floor division. BOTH steps run
    * wide: the sum itself is accumulated in DECIMAL(38,0) (DuckDB's
    * sum(BIGINT) widens to HUGEINT on the oracle side; the single-task
    * endgame accumulates in BigInt), so no in-degree wraps it — a plain
    * BIGINT sum would overflow at in-degree ~9.2e6 at this scale — and
    * the raw·HitsScale product stays DECIMAL(38,0), bounded by
    * N·HitsScale² = N·1e24 — inside 38 digits to N = 1e14 nodes, i.e.
    * unbounded in practice. The normalized quotient is ≤ HitsScale, so
    * the BIGINT `div` result never overflows.
    */
  val HitsScale: Long = 1000000000000L

  /** HITS (Kleinberg 1999): hubs point at good authorities, authorities
    * are pointed at by good hubs — the mutual-reinforcement pair that
    * separates "big buyers" from "dominant suppliers" on a purchase
    * graph where one PageRank score conflates the two roles. Each round:
    * auth_raw(v) = Σ hub over in-edges, renormalized to max = HitsScale
    * by integer floor division against the round's global maximum (a
    * 1-row aggregate broadcast back into the plan — the normalization
    * every HITS needs to keep values from exploding, made engine-exact
    * by doing it in integers); then hubs from the fresh authorities the
    * same way. Fixed `iters` + synchronous updates ⇒ deterministic
    * under any partitioning, and the oracle replays the identical
    * rounds. Output: (node, hub, auth), each in [0, HitsScale]; a pure
    * source has auth 0, a pure sink hub 0.
    */
  def hits(edges: DataFrame, iters: Int, scale: Long = HitsScale,
      localCutoff: Long = 1L << 20): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50], got $iters")
    val e = edges.select(col("src"), col("dst")).distinct().localCheckpoint(false)
    val edgeCount = e.count()
    // single-task endgame, same rationale as [[kCore]]'s — and HITS has
    // the strongest case: each round pays TWO global-max barriers on top
    // of the joins, all for per-round data that fits one task
    if (localCutoff > 0 && edgeCount <= localCutoff)
      return localHits(e, iters, scale)
    // Distributed-path headroom guard (ADVICE r15): the renormalization
    // product raw·scale ≤ maxInDegree·scale² must fit DECIMAL(38,0) — a
    // non-ANSI overflow yields NULL, which the left-join coalesce below
    // would silently map to score 0, indistinguishable from a node with
    // no in-edges. maxInDegree ≤ edgeCount (already counted for the
    // cutoff), so the precise precondition is checkable for free here
    // rather than documented as a scale-dependent footnote.
    require(BigInt(scale) * BigInt(scale) * BigInt(edgeCount) < BigInt(10).pow(38),
      s"hits: scale^2 * edges = ${BigInt(scale) * BigInt(scale) * BigInt(edgeCount)} " +
        s"exceeds DECIMAL(38,0) headroom (scale=$scale, edges=$edgeCount); " +
        "lower `scale` or raise `localCutoff` (the local path sums in BigInt)")
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint(false)
    var st = nodes.select(col("node"), lit(scale).as("h"), lit(0L).as("a"))
    for (i <- 1 to iters) {
      // sum in DECIMAL(38,0): a BIGINT sum of ≤-scale scores wraps at
      // in-degree ~9.2e6 (ADVICE r14) — the oracle's sum(BIGINT) widens
      // to HUGEINT, so the narrow sum would diverge exactly there
      val aRaw = e.join(st, e("src") === st("node"))
        .groupBy(e("dst").as("n"))
        .agg(sum(expr("CAST(h AS DECIMAL(38,0))")).as("raw"))
      val aMax = aRaw.agg(greatest(max("raw"), lit(1L)).as("mx"))
      val aNew = nodes.join(aRaw, nodes("node") === aRaw("n"), "left")
        .crossJoin(broadcast(aMax))
        .select(col("node"),
          expr(s"(CAST(coalesce(raw, CAST(0 AS BIGINT)) AS DECIMAL(38,0)) * $scale)" +
            " div CAST(mx AS DECIMAL(38,0))").as("a"))
      val hRaw = e.join(aNew, e("dst") === aNew("node"))
        .groupBy(e("src").as("n"))
        .agg(sum(expr("CAST(a AS DECIMAL(38,0))")).as("raw"))
      val hMax = hRaw.agg(greatest(max("raw"), lit(1L)).as("mx"))
      st = nodes.join(hRaw, nodes("node") === hRaw("n"), "left")
        .crossJoin(broadcast(hMax))
        .select(col("node"),
          expr(s"(CAST(coalesce(raw, CAST(0 AS BIGINT)) AS DECIMAL(38,0)) * $scale)" +
            " div CAST(mx AS DECIMAL(38,0))").as("h"))
        .join(aNew.select(col("node"), col("a")), Seq("node"))
      // pinFresh, not plain localCheckpoint: st re-enters the next block's
      // plan through several multiplicative paths (aRaw feeds aNew twice
      // via its own max; hRaw twice more), so preserved checkpoint stats
      // would compound exponentially — see [[pinFresh]]
      if (i % 2 == 0 && i < iters) st = pinFresh(st, 32)
    }
    st.select(col("node"), col("h").as("hub"), col("a").as("auth"))
  }

  /** The HITS endgame on a coalesced single partition: the identical
    * synchronous integer rounds replayed in one executor task (not a
    * driver collect) — deterministic, so bit-identical.
    */
  private def localHits(e: DataFrame, iters: Int, scale: Long): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.as[(Long, Long)].coalesce(1).mapPartitions { it =>
      val es = it.toArray
      val nodes = es.flatMap(x => Array(x._1, x._2)).distinct
      var h = scala.collection.mutable.HashMap(nodes.map(_ -> scale): _*)
      var a = scala.collection.mutable.HashMap(nodes.map(_ -> 0L): _*)
      // BigInt end-to-end on the raw side: the SUM itself (not just the
      // ×scale product) passes Long.Max once in-degree·scale ≥ 9.2e18 —
      // reachable here despite the 2^20-edge cutoff whenever the caller
      // raises `scale` (the distributed path sums in DECIMAL(38,0) for
      // the same reason; ADVICE r14). Cost is irrelevant: the endgame is
      // ≤ 2^20 edges by construction.
      val zero = BigInt(0)
      for (_ <- 1 to iters) {
        val ar = scala.collection.mutable.HashMap.empty[Long, BigInt]
        es.foreach { case (s, d) => ar.update(d, ar.getOrElse(d, zero) + h(s)) }
        val am = (if (ar.isEmpty) zero else ar.valuesIterator.max).max(BigInt(1))
        a = scala.collection.mutable.HashMap(
          nodes.map(n => n -> (ar.getOrElse(n, zero) * scale / am).toLong): _*)
        val hr = scala.collection.mutable.HashMap.empty[Long, BigInt]
        es.foreach { case (s, d) => hr.update(s, hr.getOrElse(s, zero) + a(d)) }
        val hm = (if (hr.isEmpty) zero else hr.valuesIterator.max).max(BigInt(1))
        h = scala.collection.mutable.HashMap(
          nodes.map(n => n -> (hr.getOrElse(n, zero) * scale / hm).toLong): _*)
      }
      nodes.iterator.map(n => (n, h(n), a(n)))
    }.toDF("node", "hub", "auth")
  }

  /** The oracle's unrolled twin of one [[hits]] round: the same integer
    * max-normalization via scalar subqueries.
    */
  private def hitsRoundSql(i: Int, scale: Long): String =
    s"""ar$i AS (
       |  SELECT e.dst AS n, sum(s.h) AS raw
       |  FROM e JOIN st${i - 1} s ON s.node = e.src GROUP BY e.dst),
       |a$i AS (
       |  SELECT n.node,
       |    CAST((CAST(coalesce(r.raw, 0) AS HUGEINT) * $scale)
       |      // greatest((SELECT max(raw) FROM ar$i), 1) AS BIGINT) AS a
       |  FROM nodes n LEFT JOIN ar$i r ON r.n = n.node),
       |hr$i AS (
       |  SELECT e.src AS n, sum(a.a) AS raw
       |  FROM e JOIN a$i a ON a.node = e.dst GROUP BY e.src),
       |st$i AS (
       |  SELECT n.node,
       |    CAST((CAST(coalesce(r.raw, 0) AS HUGEINT) * $scale)
       |      // greatest((SELECT max(raw) FROM hr$i), 1) AS BIGINT) AS h,
       |    a.a
       |  FROM nodes n LEFT JOIN hr$i r ON r.n = n.node
       |  JOIN a$i a ON a.node = n.node)""".stripMargin

  /** Weighted PageRank: [[pageRank]]'s damped rounds with each edge
    * carrying a positive INTEGER weight — a node's rank splits over its
    * out-edges proportionally to weight instead of uniformly, so a
    * supplier that received 40 of a customer's 50 purchases absorbs 80%
    * of that customer's mass. Parallel edges are summed on entry.
    *
    * The per-edge contribution floor(r·w / W) is computed as
    * `(r div W)·w + ((r mod W)·w) div W` — algebraically the same floor
    * (split r = (r div W)·W + r mod W), but overflow-safe where the
    * naive r·w product is not: the first term is ≤ r, and the second
    * multiplies two values each < W, so both stay far inside BIGINT for
    * any W ≤ ~3e9. The oracle replicates the identical two-term form, so
    * the result is engine- and partitioning-exact like the other
    * scaled-integer graph ops. Output: (node, rank).
    */
  def weightedPageRank(edges: DataFrame, iters: Int, scale: Long = Scale): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50], got $iters")
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .filter(col("w") > 0)
      .groupBy("src", "dst").agg(sum("w").as("w"))
      .localCheckpoint(false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint(false)
    val eW = e.join(e.groupBy("src").agg(sum("w").as("tw")), "src")
      .localCheckpoint(false)
    var pr = nodes.withColumn("r", lit(scale))
    for (i <- 1 to iters) {
      val contribs = pr.join(eW, pr("node") === eW("src"))
        .select(col("dst").as("node"),
          expr("(r div tw) * w + ((r % tw) * w) div tw").as("c"))
        .groupBy("node").agg(sum("c").as("m"))
      pr = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(scale * 15 / 100) + expr("(85 * coalesce(m, CAST(0 AS BIGINT))) div 100")).as("r"))
      if (i % 4 == 0 && i < iters) pr = pr.localCheckpoint(false)
    }
    pr.select(col("node"), col("r").as("rank"))
  }

  /** The oracle's unrolled twin of one [[weightedPageRank]] round — the
    * same two-term overflow-safe floor(r·w / W).
    */
  private[operators] def wprRoundSql(i: Int, scale: Long): String =
    s"""pr$i AS (
       |  SELECT n.node,
       |    CAST(${scale * 15 / 100} + (85 * CAST(coalesce(c.m, 0) AS BIGINT)) // 100 AS BIGINT) AS r
       |  FROM nodes n LEFT JOIN (
       |    SELECT e.dst AS node,
       |      sum((p.r // e.tw) * e.w + ((p.r % e.tw) * e.w) // e.tw) AS m
       |    FROM pr${i - 1} p JOIN ew e ON e.src = p.node
       |    GROUP BY e.dst
       |  ) c ON c.node = n.node
       |)""".stripMargin

  /** Personalized PageRank (random walk with restart): identical damped
    * rounds to [[pageRank]], but the 15% teleport mass lands ONLY on the
    * `seeds` — so rank measures PROXIMITY to the seed set rather than
    * global centrality. This is the classic risk-diffusion score
    * ("how close is this account to the confirmed-fraud population,
    * weighted over ALL walk lengths"), the smooth complement to
    * [[bfsHops]]' hard hop cutoff. Same scaled-integer arithmetic, same
    * bit-identical-under-any-partitioning argument; pr₀ = scale on seeds,
    * 0 elsewhere. Seeds never seen in the edge set still hold their
    * teleport mass (they are unioned into the node frame); rank 0 rows
    * (never reached) are kept — absence vs zero is the caller's policy.
    * Output: (node, rank).
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int,
      scale: Long = Scale): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50], got $iters")
    val e = edges.select(col("src"), col("dst")).distinct().localCheckpoint(false)
    val sd = seeds.select(col("id").cast("long").as("node")).distinct()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .union(sd)
      .distinct()
      .join(sd.withColumn("__s", lit(1L)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__s"), lit(0L)).as("is_seed"))
      .localCheckpoint(false)
    val eod = e.join(
        e.groupBy("src").agg(count(lit(1)).as("od")), "src")
      .localCheckpoint(false)
    var pr = nodes.withColumn("r", col("is_seed") * lit(scale))
    for (i <- 1 to iters) {
      val contribs = pr.join(eod, pr("node") === eod("src"))
        .select(col("dst").as("node"), expr("r div od").as("c"))
        .groupBy("node").agg(sum("c").as("m"))
      pr = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"), col("is_seed"),
          (col("is_seed") * lit(scale * 15 / 100) +
            expr("(85 * coalesce(m, CAST(0 AS BIGINT))) div 100")).as("r"))
      if (i % 4 == 0 && i < iters) pr = pr.localCheckpoint(false)
    }
    pr.select(col("node"), col("r").as("rank"))
  }

  /** The oracle's unrolled twin of one [[personalizedPageRank]] round —
    * [[prRoundSql]] with the teleport term gated on seed membership.
    */
  private def pprRoundSql(i: Int, scale: Long): String =
    s"""pr$i AS (
       |  SELECT n.node,
       |    CAST(n.is_seed * ${scale * 15 / 100} + (85 * CAST(coalesce(c.m, 0) AS BIGINT)) // 100 AS BIGINT) AS r
       |  FROM nodes n LEFT JOIN (
       |    SELECT e.dst AS node, sum(p.r // o.od) AS m
       |    FROM pr${i - 1} p JOIN e ON e.src = p.node JOIN od o ON o.src = p.node
       |    GROUP BY e.dst
       |  ) c ON c.node = n.node
       |)""".stripMargin

  /** The oracle's unrolled twin of one Spark round (DuckDB lacks a clean
    * way to reference a recursive CTE twice per step, so a FIXED iteration
    * count unrolls into chained CTEs — generated, not hand-copied, so the
    * two engines cannot drift). sum(BIGINT) returns HUGEINT in DuckDB:
    * cast back before the damping division.
    */
  private def prRoundSql(i: Int, scale: Long): String =
    s"""pr$i AS (
       |  SELECT n.node,
       |    CAST(${scale * 15 / 100} + (85 * CAST(coalesce(c.m, 0) AS BIGINT)) // 100 AS BIGINT) AS r
       |  FROM nodes n LEFT JOIN (
       |    SELECT e.dst AS node, sum(p.r // o.od) AS m
       |    FROM pr${i - 1} p JOIN e ON e.src = p.node JOIN od o ON o.src = p.node
       |    GROUP BY e.dst
       |  ) c ON c.node = n.node
       |)""".stripMargin

  /** Per-node triangle counts over an undirected graph, via the
    * degree-oriented "forward" algorithm: orient every edge from its
    * lower-(degree, id) endpoint to the higher one, enumerate wedges at
    * the low endpoint, and close them against the oriented edge set.
    * Each triangle is found exactly once, and the wedge fan-out per node
    * is bounded by the oriented out-degree — O(√m) on any graph (the
    * arboricity bound), so a power-law hub never enumerates its full
    * neighbor-pair cross product the way naive a<b<c enumeration does.
    * Everything is equi-joins on node keys (wedge join on u, closure join
    * on the (v1, v2) pair, then one count shuffle) — no driver state.
    * Output: (node, n_tri) for every node in the edge set.
    */
  def triangles(edges: DataFrame): DataFrame = {
    // und/deg/oriented each feed 2-3 join legs; without materialization the
    // caller's edge derivation (often an expensive co-occurrence build)
    // replays once per leg — lazy localCheckpoint bounds it to one run
    // (same lineage trade as [[pageRank]], documented at Dedup.clusterPairs)
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct().localCheckpoint(false)
    val deg = und.select(col("a").as("node")).union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg")).localCheckpoint(false)
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    val aLow = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    // u = lower (deg, id) endpoint; carry v's degree so the wedge pair can
    // be ordered by the same (deg, id) rank without re-joining degrees
    val oriented = withDeg.select(
        when(aLow, col("a")).otherwise(col("b")).as("u"),
        when(aLow, col("b")).otherwise(col("a")).as("v"),
        when(aLow, col("db")).otherwise(col("da")).as("dv"))
      .localCheckpoint(false)
    val wedges = oriented.select(col("u"), col("v").as("v1"), col("dv").as("d1"))
      .join(oriented.select(col("u"), col("v").as("v2"), col("dv").as("d2")), Seq("u"))
      .filter(col("d1") < col("d2") || (col("d1") === col("d2") && col("v1") < col("v2")))
    // the closing edge v1–v2, if present, is oriented v1→v2 exactly
    // (v1 is the lower (deg, id) of the pair by the wedge ordering)
    val tris = wedges.join(oriented.select(col("u").as("v1"), col("v").as("v2")),
        Seq("v1", "v2"))
      .select(col("u"), col("v1"), col("v2"))
    val cnt = tris.select(explode(array(col("u"), col("v1"), col("v2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.select("node").join(cnt, Seq("node"), "left")
      .select(col("node"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** Co-purchase pair edges from a bipartite (entity, item) incidence
    * frame: (src, dst) for every entity pair sharing ≥ `minShared`
    * distinct items — the edge build feeding [[triangles]] in
    * q_triangles, factored out so its skew handling is testable.
    *
    * The skew point is the self-join on the item key: an item held by d
    * entities emits d(d−1)/2 pairs INSIDE ONE TASK, because both legs of
    * the equi-join hash the hub item to the same partition — AQE's skew
    * split can rebalance map-side input sizes, but not the quadratic
    * OUTPUT of one join key. One count aggregate flags each incidence row
    * with its item's degree (the join back is on the same key the
    * self-join needs, so the exchange is reused, and the hot set is just
    * a filter — no driver-held hot list); cold items (d ≤ hotDegree) take
    * the plain self-join, hot items route by `hubPath`:
    *
    *   - `"prefilter"` (the `"auto"` choice when minShared ≥ 2): hub
    *     pairs are never enumerated at all. A pair can qualify only if
    *     coldShared ≥ minShared − min(|hotSet(x)|, |hotSet(y)|) — those
    *     candidates come from the (fan-out-bounded) cold self-join plus a
    *     per-entity hot-set-size join — or on hot items alone, in which
    *     case prefix filtering applies: under a global item order, a pair
    *     sharing ≥ m hot items shares its SMALLEST common hot item within
    *     both entities' (|hotSet| − m + 1)-prefixes (if it sat outside
    *     x's prefix, the ≥ m−1 larger shared items could not fit in x's
    *     m−1-item suffix). Joining prefixes is the hub-safe candidate
    *     generator: an entity holding fewer than m hot items has an EMPTY
    *     prefix, so a hub whose holders are hot-poor contributes nothing
    *     (the 1/10 skew probe: 44M hub pairs → 0 candidates). Exact hot
    *     overlap is then counted for the candidate set only, and
    *     coldShared + hotShared ≥ minShared filters exactly.
    *   - `"salted"` (the `"auto"` choice when minShared == 1, where every
    *     hub pair IS an edge and the quadratic output is the answer):
    *     [[SkewLayout.saltedEquiJoin]] — the left leg salts by entity id,
    *     the right replicates `salts` ways, so the hub's d²/2 pairs
    *     spread over `salts` tasks instead of one (replicating only HOT
    *     rows; cold mass never pays). Spreads the quadratic output; only
    *     the prefilter path eliminates it.
    *
    * Pair counts aggregate across the cold and hot streams before the
    * minShared floor, so a pair sharing hot AND cold items counts once
    * per item; results are identical to the plain build for any
    * (hotDegree, salts, hubPath) — pinned by SkewGraphSpec (fixed +
    * randomized fixtures) and the q_triangles oracle.
    *
    * `cp` must be (c, p) DISTINCT and materialized (the degree pass and
    * every join leg read it; q_triangles localCheckpoints it).
    */
  def copurchaseEdges(cp: DataFrame, minShared: Long, hotDegree: Int = 512,
      salts: Int = 16, hubPath: String = "auto"): DataFrame =
    copurchaseWeightedEdges(cp, minShared, hotDegree, salts, hubPath)
      .select("src", "dst")

  /** Cold pair mass up to which the auto route takes the plain path. */
  private val PlainColdMax = 1L << 26

  /** [[copurchaseEdges]] keeping the exact shared-item count as the edge
    * weight `w` — same hub-safe candidate generation (both paths already
    * compute the exact count to apply the minShared floor; this variant
    * just stops dropping it). Callers that need weighted co-purchase
    * edges MUST come through here rather than a raw cp ⋈ cp self-join:
    * the raw join explodes on hot items — q_critical_path measured
    * 51.8 s raw vs 8.0 s through here on the zipf fixture, against a
    * ~20% premium on the near-uniform sf fixture (4.5 → 5.4 s) — the
    * trade the hotDegree routing exists to make.
    */
  def copurchaseWeightedEdges(cp: DataFrame, minShared: Long,
      hotDegree: Int = 512, salts: Int = 16, hubPath: String = "auto"): DataFrame = {
    require(Seq("auto", "salted", "prefilter", "plain").contains(hubPath),
      s"hubPath must be auto|salted|prefilter|plain, got $hubPath")
    // r16 optimization: "auto" MEASURES the item-degree distribution before
    // choosing a path (one agg job over the part-level degree frame, ~#items
    // rows). A hub-free incidence (max degree <= hotDegree) with bounded
    // cold pair mass takes the bare self-join + count — no degree-flag join,
    // no per-entity hash-image arrays, no empty-hot prefix/candB/hotShared
    // machinery. On the near-uniform sf fixtures that machinery was pure
    // overhead: r16 measured prefilter 3.61/3.00 s vs plain
    // 2.81/2.41 s (m=3/m=4, sf0.1, min-of-3) with ZERO hub items to route,
    // while on zipf20k (max degree 5681, hot mass 34.4M pairs) prefilter
    // keeps its 6-10x win (5.51 vs 31.97 s) — so the choice must be
    // data-derived, not static. The mass bound
    // (PlainColdMax, 2^26 pairs) guards the plain path's
    // pair EXCHANGE on dense-but-hub-free inputs: maxd <= hotDegree already
    // bounds any single join key's output at hotDegree^2/2 pairs, so the
    // only remaining risk is total exchange mass, which at 2^26 pairs x
    // ~24 B/row is ~1.6 GB spread across the shuffle — acceptable on one
    // box and trivial on a cluster; past it the conjunctive-filter path
    // kills candidates inside the join task instead of shipping them.
    // Results are path-identical (SkewGraphSpec pins plain/salted/prefilter
    // pairwise on fixed + randomized fixtures; the q_triangles oracle pins
    // the auto route end-to-end).
    // GraftConf.ForcePath pins every auto caller to one arm: the A/B hook,
    // and the escape hatch when the data probe is known-wrong for a
    // workload. Explicit hubPath arguments (q_critical_path's) stay pinned.
    val forced = GraftConf.ForcePath.get(cp.sparkSession)
    val path =
      if (hubPath != "auto") hubPath
      else if (forced != "auto") forced
      else {
        // r17: the probe is ONE aggregate job, no localCheckpoint — the
        // r16 shape checkpointed the full degree frame before the 1-row
        // stats agg so the hub arms could reuse it, but the common
        // (hub-free) outcome is "plain", which never touches deg: the
        // checkpoint materialization was ~0.3-0.5 s of serial wall paid
        // by every auto rider for nothing. The rare hub routes now
        // recompute the degree groupBy once inside the flagged join
        // (cp is materialized by contract, so that recompute is a single
        // exchange over it — noise next to the hub machinery it gates).
        val st = cp.groupBy("p").agg(count(lit(1)).as("__d"))
          .agg(max(col("__d")).as("m"),
            sum(when(col("__d") <= hotDegree,
              expr("__d * (__d - 1) DIV 2")).otherwise(lit(0L))).as("cm")).head()
        val maxd = if (st.isNullAt(0)) 0L else st.getLong(0)
        val coldMass = if (st.isNullAt(1)) 0L else st.getLong(1)
        if (maxd <= hotDegree && coldMass <= PlainColdMax) "plain"
        else if (minShared >= 2) "prefilter"
        else "salted"
      }
    if (path == "plain") {
      // hub-free: every item's fan-out is <= hotDegree, so the plain
      // self-join + count IS the minimal plan (one narrow exchange of the
      // candidate pairs, partial-aggregated map-side)
      return cp.as("x").join(cp.as("y"),
          col("x.p") === col("y.p") && col("x.c") < col("y.c"))
        .groupBy(col("x.c").as("src"), col("y.c").as("dst"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= minShared)
        .select(col("src"), col("dst"), col("shared").as("w"))
    }
    val flagged = cp.join(cp.groupBy("p").agg(count(lit(1)).as("__d")), Seq("p"))
    val cold = flagged.filter(col("__d") <= hotDegree).select("c", "p")
    val hot = flagged.filter(col("__d") > hotDegree).select("c", "p")
    if (path == "prefilter") prefilterEdges(cold, hot, minShared)
    else {
      val coldPairs = cold.as("x").join(cold.as("y"),
          col("x.p") === col("y.p") && col("x.c") < col("y.c"))
        .select(col("x.c").as("src"), col("y.c").as("dst"))
      val hotPairs = SkewLayout.saltedEquiJoin(
          hot.select(col("c").as("xc"), col("p")), "p",
          hot.select(col("c").as("yc"), col("p").as("yp")), "yp",
          salts, saltBy = "xc")
        .filter(col("xc") < col("yc"))
        .select(col("xc").as("src"), col("yc").as("dst"))
      coldPairs.unionByName(hotPairs)
        .groupBy("src", "dst").agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= minShared)
        .select(col("src"), col("dst"), col("shared").as("w"))
    }
  }

  /** The minShared-aware hub path of [[copurchaseEdges]]: candidates from
    * the cold self-join (fan-out ≤ hotDegree per item by construction)
    * and the hot prefix join (fan-out ≤ entities-with-≥minShared-hot-items
    * per item), then exact verification — hub pairs are pruned, not
    * spread. The hot subtree (degree agg + filter) appears in several
    * legs; the byte-identical exchange is planned once and reused
    * (ReuseExchange), so the degree shuffle is paid once.
    */
  private def prefilterEdges(cold: DataFrame, hot: DataFrame,
      minShared: Long): DataFrame = {
    val nh = hot.groupBy("c").agg(count(lit(1)).as("__nh"))
    // Conjunctive count filter IN the cold join condition (round 12 — the
    // edit join's sorted_intersect_atleast trick applied to the recorded
    // cold-pair floor, PLANS.md round-11 known limits): each incidence row
    // carries its entity's sorted cold-item HASH-image array and hot-set
    // size, and a (x, y) join match survives only if the image arrays
    // share >= minShared − min(|hotSet(x)|, |hotSet(y)|) elements — the
    // exact bound candA used to apply AFTER the pair-count exchange. At
    // zipf20k that exchange carried ~90 M one-shared-item pairs that
    // collapse to 138 edges; the filter now kills them inside the join
    // task (codegen'd two-pointer merge with two-sided early exit), so
    // the groupBy below counts only surviving pairs. hash(p) int images
    // can only OVERcount an intersection (every shared item contributes a
    // matching image to both sides, so Σ min(multiplicities) >= the true
    // shared count) — no false negatives, and the exact __cold per
    // surviving pair still comes from counting its join rows. The images
    // are deliberately NOT array_distinct'ed: sorted_intersect_atleast's
    // contract is MULTISET intersection (both pointers advance on a
    // match), and deduplicating would be unsound here — two shared items
    // colliding to one hash value must count twice for the bound to hold. A vacuous
    // bound (minShared − min(nh) <= 0) short-circuits true without
    // scanning, so the forced-prefilter minShared=1 corner is unchanged.
    graft.functions.SortedIntersectAtLeast.register(cold.sparkSession)
    val coldSets = cold.groupBy("c")
      .agg(array_sort(collect_list(hash(col("p")))).as("__ps"))
      .join(nh, Seq("c"), "left")
      .select(col("c"), col("__ps"), coalesce(col("__nh"), lit(0L)).as("__nh"))
    val coldE = cold.join(coldSets, Seq("c"))
    val coldPairs = coldE.as("x").join(coldE.as("y"),
        col("x.p") === col("y.p") && col("x.c") < col("y.c") &&
        expr(s"sorted_intersect_atleast(x.__ps, y.__ps, " +
          s"CAST($minShared - least(x.__nh, y.__nh) AS INT))"))
      .groupBy(col("x.c").as("src"), col("y.c").as("dst"))
      .agg(count(lit(1)).as("__cold"))
    // the hotShared-contribution bound is already enforced in the join
    // condition above, so every surviving pair IS a candidate
    val candA = coldPairs
    // candidates reachable on hot items alone (possibly zero cold
    // overlap): prefix join — each entity keeps its (|hotSet|−m+1)
    // smallest hot items (per-entity window, bounded by its hot-set size)
    val prefix = hot
      .withColumn("__r", row_number().over(Window.partitionBy("c").orderBy("p")))
      .join(nh, Seq("c"))
      .filter(col("__r") <= col("__nh") - minShared + 1)
      .select("c", "p")
    val candB = prefix.as("x").join(prefix.as("y"),
        col("x.p") === col("y.p") && col("x.c") < col("y.c"))
      .select(col("x.c").as("src"), col("y.c").as("dst")).distinct()
      .join(coldPairs, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"), coalesce(col("__cold"), lit(0L)).as("__cold"))
    // a pair present in BOTH streams carries the same __cold (candB reads
    // it from the same filtered coldPairs frame). A candB-only pair whose
    // cold count was pruned above reads __cold = 0 — safe: pruning means
    // __cold_true + min(nh) < minShared, and __hot <= min(nh), so the
    // pair fails the final floor under either count.
    val cand = candA.unionByName(candB).dropDuplicates("src", "dst")
    val hotShared = cand.select("src", "dst")
      .join(hot.select(col("c").as("src"), col("p")), Seq("src"))
      .join(hot.select(col("c").as("dst"), col("p")), Seq("dst", "p"))
      .groupBy("src", "dst").agg(count(lit(1)).as("__hot"))
    cand.join(hotShared, Seq("src", "dst"), "left")
      .filter(col("__cold") + coalesce(col("__hot"), lit(0L)) >= minShared)
      .select(col("src"), col("dst"),
        (col("__cold") + coalesce(col("__hot"), lit(0L))).as("w"))
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR contraction
    * (the MapReduce-scale formulation: Kiveris et al., "Connected Components
    * in MapReduce and Beyond", SoCC'14): every round re-wires each node
    * toward the minimum id seen anywhere in its current neighborhood,
    * provably converging to per-component stars rooted at the component
    * minimum in O(log² n) rounds — a handful in practice. This is the
    * HIGH-DIAMETER complement to [[Dedup.clusterPairs]]' min-label
    * propagation: propagation pays one shuffle round per HOP (a 10⁶-edge
    * crawl chain needs 10⁶ rounds and blows its iteration cap), while star
    * contraction halves the effective diameter every round, so the same
    * chain collapses in ~log₂ rounds.
    *
    * Everything is equi-joins and aggregates on node keys — per round: one
    * min-aggregate + re-wire join per star op, one distinct, and an exact
    * fixpoint check (count + one anti-join: equal cardinalities plus
    * next⊆prev implies set equality, both sides being distinct). No per-key
    * neighbor LIST is ever materialized — the neighborhood minimum is an
    * aggregate and the re-wire a join — so a hub of any degree stays
    * distributed across tasks instead of sitting in one task's memory; each
    * round's frame is localCheckpointed to keep lineage flat across the loop.
    *
    * `nodes`: one `id` column (covers isolated nodes, which label
    * themselves); self-loops are dropped and edge endpoints absent from
    * `nodes` are dropped (the same covering contract, and for the same
    * reasons, as [[Dedup.clusterPairs]]). Output: (node, component) with
    * component = the minimum node id reachable from `node`.
    *
    * `localCutoff`: once the live edge set has ≤ this many rows
    * (≈ 16 MB of long pairs at the default), the remaining contraction is
    * finished by a union-find inside ONE executor task instead of paying
    * cluster-wide scheduling barriers per round on kilobytes — the same
    * endgame rationale as [[kCore]]; 0 forces the all-distributed path.
    * Union-by-minimum makes the local fixpoint bit-identical to the
    * distributed one (both label every node with its component minimum).
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      localCutoff: Long = 1L << 20): DataFrame = {
    val ids = nodes.select(col("id").cast("long").as("id")).distinct()
      .localCheckpoint(false)
    var e = edges
      .select(col("src").cast("long").as("x"), col("dst").cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
      .select(greatest(col("x"), col("y")).as("hi"), least(col("x"), col("y")).as("lo"))
      .distinct()
      .join(ids.select(col("id").as("hi")), Seq("hi"), "left_semi")
      .join(ids.select(col("id").as("lo")), Seq("lo"), "left_semi")
      .localCheckpoint()
    var eCnt = e.count()
    var changed = eCnt // 0 edges → already a fixpoint, loop never entered
    var iter = 0
    while (changed > 0 && iter < 40 && eCnt > localCutoff) {
      // LARGE-STAR: attach every strictly-greater neighbor v of u to
      // m = min(Γ(u) ∪ {u}). Output stays (hi, lo)-oriented: m ≤ u < v.
      // Connectivity is preserved because the (v, m) wheel through u's star
      // keeps every dropped (u, v) edge's endpoints connected via m.
      val bi = e.select(col("hi").as("u"), col("lo").as("v"))
        .union(e.select(col("lo").as("u"), col("hi").as("v")))
      val lmin = bi.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val large = bi.join(lmin, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()
      // SMALL-STAR: per hi, attach hi and all of its (strictly smaller)
      // neighbors to the smallest of them. Orientation is again invariant:
      // every emitted pair points a larger id at a smaller one.
      val smin = large.groupBy("hi").agg(min("lo").as("m"))
      // pinFresh, not plain localCheckpoint: e enters this plan through
      // two multiplicative inner-join paths (bi ⋈ lmin(bi)), so preserved
      // checkpoint stats would square per round — see [[pinFresh]]
      val next = pinFresh(large.join(smin, Seq("hi"))
        .filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .union(smin.select(col("hi"), col("m").as("lo")))
        .distinct(), 32)
      val nextCnt = next.count()
      changed =
        if (nextCnt != eCnt) 1L
        else next.join(e, Seq("hi", "lo"), "left_anti").count()
      e = next
      eCnt = nextCnt
      iter += 1
    }
    if (changed > 0 && eCnt <= localCutoff) {
      e = localUnionFind(e)
      changed = 0
    }
    require(changed == 0, s"star contraction did not converge in $iter rounds")
    // fixpoint = union of stars: every non-root points at its component min
    ids.join(e.groupBy("hi").agg(min("lo").as("c")),
        ids("id") === col("hi"), "left")
      .select(col("id").as("node"), coalesce(col("c"), col("id")).as("component"))
  }

  /** The contraction endgame on a coalesced single partition: union-find
    * with union-by-minimum and path compression inside ONE executor task
    * (not a driver collect — the data never leaves the cluster). Emits
    * the same star representation the distributed fixpoint converges to:
    * (hi = member, lo = component minimum) for every non-root member.
    */
  private[operators] def localUnionFind(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.as[(Long, Long)].coalesce(1).mapPartitions { it =>
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      val nodes = scala.collection.mutable.HashSet.empty[Long]
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrElse(x, x) != x) x = parent.getOrElse(x, x)
        var y = x0
        while (parent.getOrElse(y, y) != y) { val n = parent(y); parent.update(y, x); y = n }
        x
      }
      it.foreach { case (hi, lo) =>
        nodes += hi; nodes += lo
        val r1 = find(hi); val r2 = find(lo)
        if (r1 != r2) {
          if (r1 < r2) parent.update(r2, r1) else parent.update(r1, r2)
        }
      }
      nodes.iterator.map(n => (n, find(n))).filter { case (n, r) => n != r }
    }.toDF("hi", "lo")
  }

  /** k-core of an undirected graph by iterative peeling: repeatedly drop
    * every node whose degree in the CURRENT subgraph is < k (and the edges
    * touching it) until no node qualifies — the classical fixpoint whose
    * survivors form the maximal subgraph of minimum degree ≥ k (Seidman
    * 1983; the dense-community screen behind spam-ring and bot-cluster
    * detection). Per round: one degree aggregate over the live edge set +
    * two semi-joins — no neighbor lists, no driver state beyond the loop
    * counter, so a hub's incident edges stay spread across tasks. The
    * edge count is monotone non-increasing and each non-final round
    * removes ≥ 1 edge, so the count() fixpoint check is exact (next ⊆
    * prev by construction) and rounds are bounded by the peel depth —
    * O(degeneracy ordering depth), in practice a handful; `maxRounds`
    * guards pathological chains (a k-1-regular caterpillar peels one
    * node per round).
    *
    * Output: (node, core_deg) for every node IN the k-core, core_deg =
    * its degree within the core. Peeled and isolated nodes are absent —
    * membership IS the signal; callers wanting flags left-join this back.
    *
    * `localCutoff`: once the surviving edge set has ≤ this many rows it
    * is peeled to fixpoint inside one executor task (see the endgame note
    * in the loop) — set 0 to force the all-distributed path.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 60,
      localCutoff: Long = 1L << 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    var e = edges
      .select(col("src").cast("long").as("x"), col("dst").cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .distinct()
      .localCheckpoint()
    var eCnt = e.count()
    var round = 0
    var converged = eCnt == 0L
    // One peel round, lazily composed — materialization points are chosen
    // by the BLOCK loop below, not per round.
    def peel(cur: DataFrame): DataFrame = {
      val deg = cur.select(col("a").as("id")).union(cur.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("__d"))
      val keep = deg.filter(col("__d") >= k).select("id")
      cur
        .join(keep.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("id").as("b")), Seq("b"), "left_semi")
        .select("a", "b")
    }
    // Deep cascades (one hub layer per round) are barrier-bound, not
    // data-bound: each materialize+count costs a fixed scheduling sync
    // that dwarfs the shrinking per-round data. Two measures:
    //
    //   1. Peel in BLOCKS of `block` composed rounds per barrier.
    //      Semantics are unchanged because peeling is CONFLUENT and
    //      identity past the fixpoint: the count is monotone
    //      non-increasing across a block, so equal counts ⇒ every round
    //      in the block removed nothing ⇒ the block's FIRST round was
    //      already the fixpoint. The only cost is ≤ block−1 identity
    //      rounds of (cheap, fixpoint-sized) overshoot work.
    //   2. LOCAL ENDGAME: once the surviving edge set fits one task
    //      (≤ localCutoff rows ≈ 16 MB of long pairs), finish the peel
    //      to fixpoint inside a single executor task instead of grinding
    //      ~0.25 s of cluster-wide stage scheduling per round on
    //      kilobytes of data — measured 14.0 → 8.6 s on the sf0.1
    //      fixture, whose 27-round cascade spends 24 rounds under 5 k
    //      edges. The k-core is UNIQUE (peeling is confluent), so the
    //      local serial peel provably returns the same set; the switch
    //      is a pure execution-strategy choice, spec-pinned equivalent.
    val block = 3
    while (!converged && round < maxRounds && eCnt > localCutoff) {
      val steps = math.min(block, maxRounds - round)
      val next = (1 to steps).foldLeft(e)((cur, _) => peel(cur)).localCheckpoint()
      val nextCnt = next.count()
      // next ⊆ e always (semi-joins only remove), so equal counts = fixpoint
      converged = nextCnt == eCnt
      e = next
      eCnt = nextCnt
      round += steps
    }
    if (!converged && eCnt <= localCutoff) {
      e = localKCorePeel(e, k)
      converged = true
    }
    require(converged || eCnt == 0L,
      s"k-core peel did not converge in $round rounds")
    e.select(col("a").as("node")).union(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("core_deg"))
  }

  /** The peel endgame on a coalesced single partition: the serial
    * fixpoint inside ONE executor task (not a driver collect — the data
    * never leaves the cluster). Identical output by confluence of
    * peeling; identical shape to GraphOpsSpec's serial reference.
    */
  private def localKCorePeel(e: DataFrame, k: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.as[(Long, Long)].coalesce(1).mapPartitions { it =>
      var edges = it.toArray
      var done = edges.isEmpty
      while (!done) {
        val deg = scala.collection.mutable.HashMap.empty[Long, Int]
        edges.foreach { case (a, b) =>
          deg.update(a, deg.getOrElse(a, 0) + 1)
          deg.update(b, deg.getOrElse(b, 0) + 1)
        }
        val next = edges.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
        done = next.length == edges.length
        edges = next
      }
      edges.iterator
    }.toDF("a", "b")
  }

  /** The oracle's unrolled twin of one peel round (same fixed-unroll
    * pattern as [[prRoundSql]]: DuckDB's recursive CTE cannot express a
    * shrinking fixpoint — UNION-distinct termination fires the moment an
    * iteration yields only already-seen rows, which a subset-producing
    * step does immediately). A round past the fixpoint is the identity,
    * so unrolling MORE rounds than the fixture needs is safe; the spec
    * pins the fixture's convergence depth under the unroll count.
    */
  private def kcoreRoundSql(i: Int, k: Int): String =
    s"""k$i AS MATERIALIZED (
       |  SELECT id FROM (
       |    SELECT a AS id FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
       |  GROUP BY id HAVING count(*) >= $k),
       |e$i AS MATERIALIZED (
       |  SELECT a, b FROM e${i - 1}
       |  JOIN k$i ka ON ka.id = a JOIN k$i kb ON kb.id = b)""".stripMargin

  private[operators] val KcoreOracleRounds = 32

  /** Per-node local clustering coefficient over an undirected graph:
    * coef(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) — the fraction of a node's
    * neighbor pairs that are themselves connected (Watts–Strogatz), the
    * standard community-density / link-farm signal. Triangle counts come
    * from [[triangles]] (degree-oriented wedge enumeration, O(√m)
    * fan-out); degrees from one aggregate over the deduplicated edge set.
    * The coefficient is emitted in exact integer MICROS via floor
    * division — 2e6·tri div deg(deg−1) — so results are bit-identical
    * across engines and partitionings (an IEEE divide would be exact here
    * too, but the integer form needs no argument); deg < 2 → 0 (no pairs
    * to close, the conventional value).
    *
    * Output: (node, deg, n_tri, coef_micros) for every node in the edge
    * set.
    */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct().localCheckpoint(false)
    val deg = und.select(col("a").as("node")).union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val tri = triangles(und.select(col("a").as("src"), col("b").as("dst")))
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") >= 2,
          expr("(2000000 * coalesce(n_tri, CAST(0 AS BIGINT))) div (deg * (deg - 1))"))
          .otherwise(lit(0L)).as("coef_micros"))
  }

  /** Multi-source BFS hop distance: min number of edges from ANY seed to
    * each reachable node, capped at `maxHops` — the frontier-expansion
    * primitive behind blast-radius ("every account within 3 hops of a
    * confirmed mule"), feature extraction (distance-to-fraud), and crawl
    * scheduling. Distinct from [[connectedComponents]]: contraction
    * rewires edges and loses distances; BFS keeps the metric.
    *
    * Per round, work is FRONTIER-sized, not graph-sized: the next frontier
    * is one equi-join of the current frontier against the adjacency frame
    * plus one anti-join against the visited set — the visited set never
    * re-expands, so a hub explored at hop h costs nothing at h+1. All
    * state is DataFrames (visited set, frontier); nothing driver-side but
    * the loop counter, so a 10⁹-node frontier just means more tasks. The
    * early exit fires on an exhausted frontier (isEmpty = a cheap
    * one-partition scan after the checkpoint), making `maxHops` a cap,
    * not a cost floor.
    *
    * Output: (node, hops) with hops ∈ [0, maxHops]; seeds are hop 0 even
    * when isolated; unreached nodes are absent (membership = reachability,
    * same contract as [[kCore]]).
    *
    * `localCutoff`: when adjacency + seeds fit one task (≤ this many
    * rows), the whole walk runs inside a single executor task — the same
    * endgame rationale, and measured numbers, as [[kCore]]'s: per-round
    * cluster-wide barriers dwarf kilobyte-sized frontier data. 0 forces
    * the all-distributed path.
    */
  def bfsHops(seeds: DataFrame, edges: DataFrame, maxHops: Int,
      localCutoff: Long = 1L << 20): DataFrame = {
    require(maxHops >= 1 && maxHops <= 50, s"maxHops must be in [1,50], got $maxHops")
    val e = edges
      .select(col("src").cast("long").as("x"), col("dst").cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
    // both directions in ONE pass over e (r17): the union-of-two-selects
    // shape evaluated the caller's edge derivation twice while BUILDING
    // the checkpoint — for the copurchase riders that is the full
    // pair-count aggregate re-run per leg (measured: a 169.8 MB double
    // read of the 84.9 MB pair exchange, ~13-15 s of task CPU at sf0.1)
    val bi = e.select(explode(array(
        struct(col("x").as("u"), col("y").as("v")),
        struct(col("y").as("u"), col("x").as("v")))).as("__p"))
      .select(col("__p.u").as("u"), col("__p.v").as("v"))
      .distinct().localCheckpoint(false)
    val seedsN = seeds.select(col("id").cast("long").as("node")).distinct()
      .localCheckpoint(false)
    if (localCutoff > 0 && bi.count() + seedsN.count() <= localCutoff)
      return localBfs(seedsN, bi, maxHops)
    var dist = seedsN.withColumn("hops", lit(0)).localCheckpoint()
    var frontier = dist.select("node")
    var h = 1
    var exhausted = false
    while (h <= maxHops && !exhausted) {
      val next = frontier.join(bi, frontier("node") === bi("u"))
        .select(col("v").as("node")).distinct()
        .join(dist, Seq("node"), "left_anti")
        .withColumn("hops", lit(h))
        .localCheckpoint()
      exhausted = next.isEmpty
      if (!exhausted) {
        // checkpoint the growing visited set too: it feeds every later
        // round's anti-join, and an un-truncated union chain would replan
        // all prior rounds each iteration
        dist = dist.unionByName(next).localCheckpoint()
        frontier = next.select("node")
      }
      h += 1
    }
    dist
  }

  /** k-truss (Cohen 2008): the maximal subgraph in which every edge is
    * supported by at least k−2 triangles — the cohesion filter that is
    * stricter than k-core (every edge must sit in dense neighborhoods,
    * not just every node) and the standard community-backbone extractor.
    * Computed by support peeling to a fixpoint: count per-edge triangle
    * support, drop edges below k−2, repeat (dropping an edge can destroy
    * a neighbor edge's triangle). The fixpoint is unique (confluent
    * peel), so strategies interchange freely.
    *
    * Support counting is degree-oriented exactly like [[triangles]]:
    * wedges enumerate at each edge's lower-(deg, id) endpoint, so hub
    * fan-out is bounded by oriented out-degree (O(√m) arboricity bound)
    * and each triangle is found once, then exploded to its three edges
    * for one count shuffle. Below `localCutoff` edges the whole peel is
    * one serial pass in an executor task. Output: (a, b, support) for
    * the surviving canonical edges, support measured IN the truss.
    */
  def ktruss(edges: DataFrame, k: Int, localCutoff: Long = 1L << 20,
      maxRounds: Int = 100): DataFrame = {
    require(k >= 3 && k <= 64, s"k must be in [3,64], got $k")
    val und = edges
      .select(col("src").cast("long").as("x"), col("dst").cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .distinct().localCheckpoint(false)
    if (localCutoff > 0 && und.count() <= localCutoff)
      return localKtruss(und, k)
    var live = und
    var liveCnt = live.count()
    var round = 0
    var result: DataFrame = null
    while (result == null) {
      round += 1
      require(round <= maxRounds, s"k-truss did not converge in $maxRounds rounds")
      val sup = edgeSupport(live).localCheckpoint(false)
      val next = live.join(sup.filter(col("support") >= k - 2)
          .select("a", "b"), Seq("a", "b"), "left_semi")
        .localCheckpoint(false)
      val nextCnt = next.count()
      if (nextCnt == liveCnt)
        // converged: this round's support was measured on the final edge
        // set, so it IS the in-truss support
        result = live.join(sup, Seq("a", "b"))
      else { live = next; liveCnt = nextCnt }
    }
    result
  }

  /** Per-edge triangle support via degree-oriented wedge enumeration
    * (each triangle found once at its lowest-(deg, id) corner, then
    * exploded to its three canonical edges). Edges in no triangle are
    * absent — callers treat absence as support 0.
    */
  private def edgeSupport(und: DataFrame): DataFrame = {
    val bi = und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v")))
    val deg = bi.groupBy("u").agg(count(lit(1)).as("d"))
    // orient u→v if (deg, id)(u) < (deg, id)(v)
    val ori = bi
      .join(deg.select(col("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("d").as("dv")), Seq("v"))
      .filter(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")))
      .select(col("u"), col("v"), col("du"), col("dv"))
      .localCheckpoint(false)
    val wedges = ori.select(col("u"), col("v").as("v1"),
        col("dv").as("d1"))
      .join(ori.select(col("u"), col("v").as("v2"), col("dv").as("d2")), Seq("u"))
      .filter(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("v1") < col("v2")))
    val tri = wedges.join(ori.select(col("v").as("v2"), col("u").as("v1")),
      Seq("v1", "v2"), "left_semi")
    tri.select(explode(array(
        struct(least(col("u"), col("v1")).as("a"), greatest(col("u"), col("v1")).as("b")),
        struct(least(col("u"), col("v2")).as("a"), greatest(col("u"), col("v2")).as("b")),
        struct(least(col("v1"), col("v2")).as("a"), greatest(col("v1"), col("v2")).as("b"))))
        .as("e"))
      .groupBy(col("e.a").as("a"), col("e.b").as("b"))
      .agg(count(lit(1)).as("support"))
  }

  /** The [[ktruss]] endgame: the identical support peel replayed serially
    * in one executor task with adjacency sets (common-neighbor
    * intersection per edge), to the same unique fixpoint.
    */
  private def localKtruss(und: DataFrame, k: Int): DataFrame = {
    val spark = und.sparkSession
    import spark.implicits._
    und.as[(Long, Long)].coalesce(1).mapPartitions { it =>
      var edges = it.toSet
      val need = k - 2
      def adjOf(es: Set[(Long, Long)]): Map[Long, Set[Long]] =
        es.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
      var supports = Map.empty[(Long, Long), Long]
      var converged = false
      while (!converged) {
        val adj = adjOf(edges)
        supports = edges.iterator.map { case (a, b) =>
          (a, b) -> (adj(a) & adj(b)).size.toLong
        }.toMap
        val keep = edges.filter(e => supports(e) >= need)
        converged = keep.size == edges.size
        edges = keep
      }
      edges.iterator.map { case (a, b) => (a, b, supports((a, b))) }
    }.toDF("a", "b", "support")
  }

  /** The number of peel passes [[ktruss]] needs to reach its fixpoint
    * (counting the final no-change pass), for the oracle's unroll depth.
    * VERIFY-TIME ONLY: runs the serial peel on collected edges — the
    * oracle generator needs one integer, not a distributed plan, and the
    * depth is engine-derived so the unrolled SQL can never be too
    * shallow without the result comparison catching it (an under-unrolled
    * oracle still holds edges the engine's true fixpoint dropped).
    */
  private[graft] def ktrussPeelRounds(und: Seq[(Long, Long)], k: Int): Int = {
    var edges = und.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.toSet
    val need = k - 2
    var rounds = 0
    var converged = false
    while (!converged) {
      rounds += 1
      val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
      val keep = edges.filter { case (a, b) => (adj(a) & adj(b)).size >= need }
      converged = keep.size == edges.size
      edges = keep
    }
    rounds
  }

  /** Harmonic centrality from the `nSources` lowest-id nodes, hop-capped:
    * harmonic(v) = Σ_s ⌊1e6 / d(s,v)⌋ over sources s that reach v within
    * `maxHops` (v itself excluded — d = 0 contributes nothing, matching
    * the standard convention of summing over OTHER nodes). The sampled-
    * source, bounded-horizon form is the one that scales: exact all-pairs
    * harmonic centrality is O(n·m) and no 100 TB plan runs it, while a
    * deterministic pivot set (lowest ids — reproducible, no RNG) with a
    * hop cap is the estimator the centrality literature uses (Eppstein–
    * Wang style pivot sampling), and the integer micros make the sum
    * engine-exact.
    *
    * One TAGGED multi-source BFS, NOT nSources sequential walks: state is
    * (tag, node, hops), the frontier join carries all sources at once, so
    * the round count is maxHops regardless of nSources (the same
    * all-at-once discipline that replaced iterated kCore in [[coreness]]).
    * Visited-set semantics per tag via the (tag, node) anti-join.
    * Output: (node, harmonic_micros, n_reached) for nodes reached by ≥ 1
    * source at d ≥ 1.
    */
  def harmonicCentrality(edges: DataFrame, nSources: Int, maxHops: Int,
      localCutoff: Long = 1L << 20): DataFrame = {
    require(nSources >= 1 && nSources <= 64, s"nSources must be in [1,64], got $nSources")
    require(maxHops >= 1 && maxHops <= 50, s"maxHops must be in [1,50], got $maxHops")
    val e = edges
      .select(col("src").cast("long").as("x"), col("dst").cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
    // both directions in one pass over e — same rationale as [[bfsHops]]
    // (r17: the two-select union re-ran the caller's edge aggregate per leg)
    val bi = e.select(explode(array(
        struct(col("x").as("u"), col("y").as("v")),
        struct(col("y").as("u"), col("x").as("v")))).as("__p"))
      .select(col("__p.u").as("u"), col("__p.v").as("v"))
      .distinct().localCheckpoint(false)
    // deterministic pivots: the nSources lowest node ids (a 1-row-per-
    // source global top-k, not a full sort — limit pushes the k-floor
    // into the partial sort)
    val seeds = bi.select(col("u").as("node")).distinct()
      .orderBy("node").limit(nSources).localCheckpoint(false)
    val dist =
      if (localCutoff > 0 && bi.count() + nSources <= localCutoff)
        localTaggedBfs(seeds, bi, maxHops)
      else {
        var d = seeds.select(col("node").as("tag"), col("node"),
          lit(0).as("hops")).localCheckpoint()
        var frontier = d.select("tag", "node")
        var h = 1
        var exhausted = false
        while (h <= maxHops && !exhausted) {
          val next = frontier.join(bi, frontier("node") === bi("u"))
            .select(col("tag"), col("v").as("node")).distinct()
            .join(d.select("tag", "node"), Seq("tag", "node"), "left_anti")
            .withColumn("hops", lit(h))
            .localCheckpoint()
          exhausted = next.isEmpty
          if (!exhausted) {
            d = d.unionByName(next).localCheckpoint()
            frontier = next.select("tag", "node")
          }
          h += 1
        }
        d
      }
    dist.filter(col("hops") > 0)
      .groupBy("node")
      .agg(sum(expr("1000000 div hops")).as("harmonic_micros"),
        count(lit(1)).as("n_reached"))
  }

  /** The tagged-BFS endgame: all sources walked serially in one executor
    * task (not a driver collect). Hop distances are unique, so it is
    * bit-identical to the distributed tagged rounds.
    */
  private def localTaggedBfs(seedsN: DataFrame, bi: DataFrame,
      maxHops: Int): DataFrame = {
    val spark = bi.sparkSession
    import spark.implicits._
    val tagged = bi.select(lit(1L).as("t"), col("u"), col("v"))
      .unionByName(seedsN.select(lit(0L).as("t"), col("node").as("u"), lit(0L).as("v")))
    tagged.as[(Long, Long, Long)].coalesce(1).mapPartitions { it =>
      val adj = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
      val seedBuf = scala.collection.mutable.ArrayBuffer.empty[Long]
      it.foreach { case (t, u, v) =>
        if (t == 0L) seedBuf += u
        else adj.getOrElseUpdate(u, scala.collection.mutable.ArrayBuffer.empty[Long]) += v
      }
      seedBuf.iterator.flatMap { s =>
        val dist = scala.collection.mutable.HashMap.empty[Long, Int]
        var frontier = Array(s)
        dist.update(s, 0)
        var h = 1
        while (h <= maxHops && frontier.nonEmpty) {
          val next = scala.collection.mutable.ArrayBuffer.empty[Long]
          frontier.foreach { u =>
            adj.getOrElse(u, Nil).foreach { v =>
              if (!dist.contains(v)) { dist.update(v, h); next += v }
            }
          }
          frontier = next.toArray
          h += 1
        }
        dist.iterator.map { case (n, d) => (s, n, d) }
      }
    }.toDF("tag", "node", "hops")
  }

  /** The BFS endgame on a coalesced single partition: seeds and adjacency
    * arrive as one tagged frame (no driver collect), the level walk runs
    * in-memory in one executor task. Identical output: BFS hop distance
    * is unique, and the tie-free level schedule matches the distributed
    * frontier rounds exactly.
    */
  private def localBfs(seedsN: DataFrame, bi: DataFrame, maxHops: Int): DataFrame = {
    val spark = bi.sparkSession
    import spark.implicits._
    val tagged = bi.select(lit(1L).as("t"), col("u"), col("v"))
      .unionByName(seedsN.select(lit(0L).as("t"), col("node").as("u"), lit(0L).as("v")))
    tagged.as[(Long, Long, Long)].coalesce(1).mapPartitions { it =>
      val adj = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
      val seedBuf = scala.collection.mutable.ArrayBuffer.empty[Long]
      it.foreach { case (t, u, v) =>
        if (t == 0L) seedBuf += u
        else adj.getOrElseUpdate(u, scala.collection.mutable.ArrayBuffer.empty[Long]) += v
      }
      val dist = scala.collection.mutable.HashMap.empty[Long, Int]
      var frontier = seedBuf.toArray
      frontier.foreach(s => dist.update(s, 0))
      var h = 1
      while (h <= maxHops && frontier.nonEmpty) {
        val next = scala.collection.mutable.ArrayBuffer.empty[Long]
        frontier.foreach { u =>
          adj.getOrElse(u, Nil).foreach { v =>
            if (!dist.contains(v)) { dist.update(v, h); next += v }
          }
        }
        frontier = next.toArray
        h += 1
      }
      dist.iterator
    }.toDF("node", "hops")
  }

  /** Synchronous label propagation (Raghavan et al. 2007), the linear-time
    * community-detection primitive: every node starts labeled with its own
    * id; each round it adopts the most frequent label among its neighbors,
    * ties broken by MINIMUM label. A fixed `rounds` count with simultaneous
    * updates makes the result deterministic and engine-exact — the
    * sequential algorithm's random visit order (and its oscillation on
    * bipartite structures) is replaced by a pinned snapshot-update
    * schedule, so the oracle can replay it round for round.
    *
    * Per round: one edge⋈label join, one (node, label) count aggregate,
    * one per-node argmax — all key-partitioned shuffles, no neighbor lists
    * materialized, hubs stay spread across tasks. The argmax is a single
    * max(struct(count, −label)) aggregate, not a window: no per-node sort,
    * and partial aggregation runs map-side. Complements
    * [[connectedComponents]] (which finds the coarser reachability
    * partition): LPA splits a connected graph into densely-linked regions.
    *
    * Output: (node, label) for every node in the edge set after exactly
    * `rounds` rounds; isolated nodes are absent (no neighbors to vote).
    *
    * `localCutoff`: adjacency sets this small run all rounds inside one
    * executor task — same endgame rationale as [[kCore]]. The synchronous
    * schedule is deterministic, so the local replay is bit-identical.
    * 0 forces the all-distributed path.
    */
  def labelPropagation(edges: DataFrame, rounds: Int,
      localCutoff: Long = 1L << 20): DataFrame = {
    require(rounds >= 1 && rounds <= 20, s"rounds must be in [1,20], got $rounds")
    val und = edges
      .select(col("src").cast("long").as("x"), col("dst").cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .distinct()
    // both directions in one pass over und — same rationale as [[bfsHops]]
    // (r17: the two-select union re-ran the caller's edge aggregate per leg)
    val bi = und.select(explode(array(
        struct(col("a").as("u"), col("b").as("v")),
        struct(col("b").as("u"), col("a").as("v")))).as("__p"))
      .select(col("__p.u").as("u"), col("__p.v").as("v"))
      .localCheckpoint(false)
    if (localCutoff > 0 && bi.count() <= localCutoff) return localLpa(bi, rounds)
    var lab = bi.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (i <- 1 to rounds) {
      val cnt = bi.join(lab, bi("v") === lab("node"))
        .groupBy(bi("u"), col("label")).agg(count(lit(1)).as("c"))
      // argmax count, min label on ties: max over (c, -label) — node ids
      // here are nonnegative keys, so negation is a safe order reversal
      lab = cnt
        .groupBy("u")
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("u").as("node"), (-col("m.nl")).as("label"))
      if (i % 4 == 0 && i < rounds) lab = lab.localCheckpoint(false)
    }
    lab
  }

  /** The LPA endgame on a coalesced single partition: the identical
    * synchronous snapshot-update schedule replayed in-memory in one
    * executor task (not a driver collect) — deterministic, so
    * bit-identical to the distributed rounds.
    */
  private def localLpa(bi: DataFrame, rounds: Int): DataFrame = {
    val spark = bi.sparkSession
    import spark.implicits._
    bi.as[(Long, Long)].coalesce(1).mapPartitions { it =>
      val adj = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
      it.foreach { case (u, v) =>
        adj.getOrElseUpdate(u, scala.collection.mutable.ArrayBuffer.empty[Long]) += v
      }
      var lab = scala.collection.mutable.HashMap.empty[Long, Long]
      adj.keysIterator.foreach(n => lab.update(n, n))
      for (_ <- 1 to rounds) {
        val next = scala.collection.mutable.HashMap.empty[Long, Long]
        adj.foreach { case (u, nbrs) =>
          val cnt = scala.collection.mutable.HashMap.empty[Long, Int]
          nbrs.foreach { v =>
            val l = lab(v); cnt.update(l, cnt.getOrElse(l, 0) + 1)
          }
          var bestC = -1
          var bestL = Long.MaxValue
          cnt.foreach { case (l, c) =>
            if (c > bestC || (c == bestC && l < bestL)) { bestC = c; bestL = l }
          }
          next.update(u, bestL)
        }
        lab = next
      }
      lab.iterator
    }.toDF("node", "label")
  }

  /** Newman modularity of a node partition, per community, in exact
    * integer MICROS: q_c = ⌊1e6·m_c / m⌋ − ⌊1e6·d_c² / (4m²)⌋, where m =
    * undirected edge count, m_c = edges with both endpoints in c, d_c =
    * total degree of c's members. The two floor divisions are the
    * DEFINITION here (documented, engine-exact) rather than an
    * approximation of the real-valued formula — at 1e6 resolution the
    * difference is below any decision threshold, and exactness is what
    * lets the oracle replay it. Σ q_c over communities is the standard
    * partition quality Q (positive ⇒ denser-than-random communities).
    *
    * Inputs: `edges` (src, dst) undirected (normalized + deduped here),
    * `labels` (node, label) covering the edge endpoints. Output:
    * (label, n_nodes, m_in, d_tot, q_micros) per community. All joins
    * are key-partitioned. Both q_micros terms are computed in
    * DECIMAL(38,0) (the oracle replays them in HUGEINT): the old BIGINT
    * form `1e6·d_c²` wrapped silently once a community's total degree
    * passed ~3.0e6 — a single dense community on a 100 TB graph. In
    * 38-digit decimal the numerator 1e6·d_c² holds to d_c ≤ 1e16 and
    * the denominator 4m² to m ≤ 5e18 (more edges than a BIGINT can
    * count), and the quotients are ≤ 1e6 by construction (d_c ≤ 2m), so
    * the BIGINT-valued `div` result never overflows.
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val und = edges
      .select(col("src").cast("long").as("x"), col("dst").cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .distinct().localCheckpoint(false)
    val lab = labels.select(col("node"), col("label")).localCheckpoint(false)
    val labeled = und
      .join(lab.select(col("node").as("a"), col("label").as("la")), Seq("a"))
      .join(lab.select(col("node").as("b"), col("label").as("lb")), Seq("b"))
    val mIn = labeled.filter(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("m_in"))
    val deg = und.select(col("a").as("node")).union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("__d"))
    val dTot = lab.join(deg, Seq("node"), "left")
      .groupBy("label")
      .agg(count(lit(1)).as("n_nodes"),
        sum(coalesce(col("__d"), lit(0L))).as("d_tot"))
    val m = und.agg(count(lit(1)).as("m"))
    dTot.join(mIn, Seq("label"), "left")
      .crossJoin(broadcast(m))
      .select(col("label"), col("n_nodes"),
        coalesce(col("m_in"), lit(0L)).as("m_in"), col("d_tot"),
        when(col("m") > 0,
          expr("(CAST(1000000 AS DECIMAL(38,0)) * coalesce(m_in, CAST(0 AS BIGINT)))" +
            " div CAST(m AS DECIMAL(38,0))") -
          expr("(CAST(1000000 AS DECIMAL(38,0)) * d_tot * d_tot)" +
            " div (CAST(4 AS DECIMAL(38,0)) * m * m)"))
          .otherwise(lit(0L)).as("q_micros"))
  }

  /** The oracle's unrolled twin of one LPA round (same generated-rounds
    * pattern as [[prRoundSql]]): count each neighbor label, keep the
    * argmax with min-label tie-break via a per-node max window + min.
    */
  private def lpaRoundSql(i: Int): String =
    s"""c$i AS (
       |  SELECT bi.u, l.label, count(*) AS c
       |  FROM bi JOIN l${i - 1} l ON l.node = bi.v GROUP BY 1, 2),
       |l$i AS (
       |  SELECT u AS node, min(label) AS label FROM (
       |    SELECT u, label, c, max(c) OVER (PARTITION BY u) AS mc FROM c$i)
       |  WHERE c = mc GROUP BY u)""".stripMargin

  /** Bounded-round weighted single-source (multi-seed) shortest paths:
    * dist(v) = the minimum total weight over paths of at most `rounds`
    * edges from any seed — Bellman-Ford with a frontier optimization
    * (only nodes whose distance improved last round relax their
    * out-edges; standard SPFA argument: a non-improved node's
    * contribution was already min'd in the round after it last improved,
    * so the result is identical to full relaxation and the oracle can
    * replay the textbook unrolled rounds). Weights are nonnegative
    * BIGINTs, distances exact integers — engine-exact. Parallel edges
    * collapse to their min weight first (the only one a shortest path
    * can use). Each round is one key-partitioned join + min-aggregate on
    * the frontier (not the full distance table); state is the reached
    * set, which a `rounds` cap keeps to the seeds' weighted
    * neighborhood. Below `localCutoff` live rows the identical rounds
    * replay serially in one executor task (same endgame contract as
    * [[bfsHops]]). Output: (node, dist) for reached nodes only.
    */
  def sssp(seeds: DataFrame, edges: DataFrame, rounds: Int,
      localCutoff: Long = 1L << 20): DataFrame = {
    require(rounds >= 1 && rounds <= 50, s"rounds must be in [1,50], got $rounds")
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"),
        col("w").cast("long").as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst") && col("w") >= 0)
      .groupBy("src", "dst").agg(min("w").as("w")).localCheckpoint(false)
    val s = seeds.select(col("id").cast("long").as("node")).distinct()
      .localCheckpoint(false)
    if (localCutoff > 0 && e.count() + s.count() <= localCutoff)
      return localSssp(s, e, rounds)
    var dist = s.withColumn("dist", lit(0L)).localCheckpoint()
    var frontier = dist
    var r = 1
    while (r <= rounds && !frontier.isEmpty) {
      val cand = frontier.join(e, frontier("node") === e("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("nd"))
        .groupBy("node").agg(min("nd").as("nd"))
      // pinFresh: dist re-enters through BOTH full-join sides (cand is
      // frontier-derived, frontier ⊂ last round's merged), so preserved
      // checkpoint stats would double per round — see [[pinFresh]]
      val merged = pinFresh(dist.join(cand, Seq("node"), "full")
        .select(col("node"),
          least(coalesce(col("dist"), col("nd")), coalesce(col("nd"), col("dist"))).as("dist"),
          (col("nd").isNotNull && (col("dist").isNull || col("nd") < col("dist"))).as("__imp")), 32)
      frontier = merged.filter(col("__imp")).select("node", "dist")
      dist = merged.select("node", "dist")
      r += 1
    }
    dist
  }

  /** The [[sssp]] endgame: identical synchronous Bellman-Ford rounds in
    * one executor task (not a driver collect) — deterministic, so
    * bit-identical to the distributed rounds.
    */
  private def localSssp(s: DataFrame, e: DataFrame, rounds: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val tagged = e.select(lit(1L).as("t"), col("src").as("u"), col("dst").as("v"), col("w"))
      .unionByName(s.select(lit(0L).as("t"), col("node").as("u"), lit(0L).as("v"), lit(0L).as("w")))
    tagged.as[(Long, Long, Long, Long)].coalesce(1).mapPartitions { it =>
      val adj = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.ArrayBuffer[(Long, Long)]]
      val seedBuf = scala.collection.mutable.ArrayBuffer.empty[Long]
      it.foreach { case (t, u, v, w) =>
        if (t == 0L) seedBuf += u
        else adj.getOrElseUpdate(u,
          scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]) += ((v, w))
      }
      val dist = scala.collection.mutable.HashMap.empty[Long, Long]
      seedBuf.foreach(s0 => dist.update(s0, 0L))
      var frontier: Array[Long] = seedBuf.distinct.toArray
      var r = 1
      while (r <= rounds && frontier.nonEmpty) {
        val improved = scala.collection.mutable.HashSet.empty[Long]
        // synchronous round: relax against the PREVIOUS round's
        // distances, exactly like the distributed join
        val prev = frontier.map(u => u -> dist(u)).toMap
        frontier.foreach { u =>
          adj.getOrElse(u, Nil).foreach { case (v, w) =>
            val nd = prev(u) + w
            if (!dist.contains(v) || nd < dist(v)) { dist.update(v, nd); improved += v }
          }
        }
        frontier = improved.toArray
        r += 1
      }
      dist.iterator
    }.toDF("node", "dist")
  }

  /** Strongly connected components of a DIRECTED graph: scc_id(v) = the
    * minimum node id in v's SCC — the canonical, algorithm-independent
    * labeling, so the oracle can verify it from the definition (mutual
    * reachability via a transitive closure) without replaying the
    * algorithm. Two strategies:
    *
    *   - below `localCutoff` live rows: iterative Tarjan in ONE executor
    *     task (not a driver collect) — linear time, the endgame every
    *     fixture-scale graph takes;
    *   - above it: the standard distributed coloring rounds (Orzan-style
    *     forward-min / backward-reach): trim in/out-degree-0 singleton
    *     SCCs to a fixpoint, forward-propagate the minimum reaching node
    *     id to a fixpoint (colors), then the color classes' roots
    *     back-propagate reachability INSIDE their class (lossless: every
    *     node on a path v→*root shares the root's color — a
    *     smaller-colored intermediate would recolor the root); nodes
    *     that reach their own color root form that root's SCC, are
    *     emitted, and the loop repeats on the remainder, which shrinks
    *     every round. Real graphs converge in a few rounds; adversarial
    *     long chains degrade toward O(chain) rounds — the same bound
    *     every label-propagation fixpoint here carries — and the
    *     remainder drops under `localCutoff` long before that matters.
    */
  def scc(edges: DataFrame, localCutoff: Long = 1L << 20,
      maxRounds: Int = 100): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
      .distinct().localCheckpoint(false)
    val n0 = e0.select(col("src").as("node")).union(e0.select(col("dst").as("node")))
      .distinct().localCheckpoint(false)
    var live = n0
    var liveE = e0
    var done: DataFrame = Seq.empty[(Long, Long)].toDF("node", "scc_id")
    var guard = 0
    while (!live.isEmpty) {
      guard += 1
      require(guard <= maxRounds,
        s"scc did not converge in $maxRounds coloring rounds (forced-distributed run?)")
      if (localCutoff > 0 && live.count() + liveE.count() <= localCutoff) {
        done = done.unionByName(localScc(live, liveE))
        live = live.limit(0)
      } else {
        // trim singleton SCCs (no in-edge or no out-edge) to a fixpoint:
        // erodes the DAG fringe so coloring works on the cyclic core
        var trimmed = true
        while (trimmed) {
          val both = liveE.select(col("src").as("node")).distinct()
            .join(liveE.select(col("dst").as("node")).distinct(), Seq("node"))
          val dead = live.join(both, Seq("node"), "left_anti").localCheckpoint()
          trimmed = !dead.isEmpty
          if (trimmed) {
            done = done.unionByName(dead.select(col("node"), col("node").as("scc_id")))
              .localCheckpoint()
            live = live.join(dead, Seq("node"), "left_anti").localCheckpoint()
            liveE = liveE
              .join(dead.select(col("node").as("src")), Seq("src"), "left_anti")
              .join(dead.select(col("node").as("dst")), Seq("dst"), "left_anti")
              .select("src", "dst").localCheckpoint()
          }
        }
        if (!live.isEmpty) {
          // forward-min colors: c(v) = min node id that reaches v.
          // Frontier-optimized: only nodes whose color just dropped
          // re-propagate (monotone min — the same SPFA argument as
          // [[sssp]]: a stable node's contribution was min'd in the
          // round after it last changed), so round cost tracks the
          // frontier, not the node set, and the change check is a
          // filter on the already-built round output, not another join.
          var c = live.select(col("node"), col("node").as("c")).localCheckpoint()
          var cfront = c
          while (!cfront.isEmpty) {
            val upd = liveE
              .join(cfront.select(col("node").as("src"), col("c")), Seq("src"))
              .groupBy(col("dst").as("node")).agg(min("c").as("nc"))
            // pinFresh: c enters through both join sides (upd is built
            // from cfront ⊂ last round's c2) — see [[pinFresh]]
            val c2 = pinFresh(c.join(upd, Seq("node"), "left")
              .select(col("node"), least(col("c"), coalesce(col("nc"), col("c"))).as("c"),
                (col("nc").isNotNull && col("nc") < col("c")).as("__imp")), 32)
            cfront = c2.filter(col("__imp")).select("node", "c")
            c = c2.select("node", "c")
          }
          // same-color edges (any cross-color edge cannot sit inside an SCC)
          val cE = liveE
            .join(c.select(col("node").as("src"), col("c").as("cs")), Seq("src"))
            .join(c.select(col("node").as("dst"), col("c").as("cd")), Seq("dst"))
            .filter(col("cs") === col("cd"))
            .select(col("src"), col("dst"), col("cs").as("c")).localCheckpoint()
          // backward reach from each color root within its class
          var reach = c.filter(col("node") === col("c")).localCheckpoint()
          var frontier = reach
          while (!frontier.isEmpty) {
            val nf = cE.join(frontier.select(col("node").as("dst")), Seq("dst"))
              .select(col("src").as("node"), col("c")).distinct()
              .join(reach.select("node"), Seq("node"), "left_anti")
              .localCheckpoint()
            frontier = nf
            if (!nf.isEmpty) reach = reach.unionByName(nf).localCheckpoint()
          }
          done = done.unionByName(reach.select(col("node"), col("c").as("scc_id")))
            .localCheckpoint()
          val rn = reach.select("node")
          live = live.join(rn, Seq("node"), "left_anti").localCheckpoint()
          liveE = liveE
            .join(rn.select(col("node").as("src")), Seq("src"), "left_anti")
            .join(rn.select(col("node").as("dst")), Seq("dst"), "left_anti")
            .select("src", "dst").localCheckpoint()
        }
      }
    }
    done
  }

  /** The [[scc]] endgame: iterative (explicit-stack) Tarjan in one
    * executor task. The min-member representative is DFS-order
    * independent, so this is bit-identical to the coloring rounds.
    */
  private def localScc(nodes: DataFrame, e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val tagged = e.select(lit(1L).as("t"), col("src").as("u"), col("dst").as("v"))
      .unionByName(nodes.select(lit(0L).as("t"), col("node").as("u"), lit(0L).as("v")))
    tagged.as[(Long, Long, Long)].coalesce(1).mapPartitions { it =>
      val adj = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
      val ns = scala.collection.mutable.ArrayBuffer.empty[Long]
      it.foreach { case (t, u, v) =>
        if (t == 0L) ns += u
        else adj.getOrElseUpdate(u, scala.collection.mutable.ArrayBuffer.empty[Long]) += v
      }
      val idx = scala.collection.mutable.HashMap.empty[Long, Int]
      val low = scala.collection.mutable.HashMap.empty[Long, Int]
      val onStack = scala.collection.mutable.HashSet.empty[Long]
      val stack = scala.collection.mutable.ArrayBuffer.empty[Long]
      val comp = scala.collection.mutable.HashMap.empty[Long, Long]
      var counter = 0
      val empty = scala.collection.mutable.ArrayBuffer.empty[Long]
      ns.foreach { root =>
        if (!idx.contains(root)) {
          val frames = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
          idx(root) = counter; low(root) = counter; counter += 1
          stack += root; onStack += root; frames += ((root, 0))
          while (frames.nonEmpty) {
            val (u, ci) = frames.last
            val nbrs = adj.getOrElse(u, empty)
            if (ci < nbrs.length) {
              frames(frames.length - 1) = (u, ci + 1)
              val v = nbrs(ci)
              if (!idx.contains(v)) {
                idx(v) = counter; low(v) = counter; counter += 1
                stack += v; onStack += v; frames += ((v, 0))
              } else if (onStack(v)) low(u) = math.min(low(u), idx(v))
            } else {
              frames.remove(frames.length - 1)
              if (frames.nonEmpty) {
                val p = frames.last._1
                low(p) = math.min(low(p), low(u))
              }
              if (low(u) == idx(u)) {
                val members = scala.collection.mutable.ArrayBuffer.empty[Long]
                var w = 0L
                while ({ w = stack.remove(stack.length - 1); onStack -= w
                  members += w; w != u }) ()
                val rep = members.min
                members.foreach(m => comp(m) = rep)
              }
            }
          }
        }
      }
      comp.iterator
    }.toDF("node", "scc_id")
  }

  /** Topological link prediction over an undirected graph given as
    * DISTINCT canonical edges (a < b): for every 2-hop NON-adjacent pair,
    * common-neighbor count, Jaccard in integer micros (DECIMAL
    * numerator — 1e6·cn wraps a BIGINT past cn ≈ 9.2e12), and
    * preferential attachment (BIGINT-bounded at degree ≤ 3e9: beyond
    * that the product itself exceeds 64 bits), ranked top-`k` per left
    * node by (cn desc, id). One wedge enumeration + one anti-join +
    * one degree join, all key-partitioned.
    */
  def linkPredict(und: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val bi = und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v")))
    val deg = bi.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val wedges = bi.select(col("u").as("x"), col("v").as("via"))
      .join(bi.select(col("u").as("via"), col("v").as("y")), Seq("via"))
      .filter(col("x") < col("y"))
    val cand = wedges.groupBy(col("x"), col("y")).agg(count(lit(1)).as("cn"))
      .join(und, col("x") === col("a") && col("y") === col("b"), "left_anti")
    val scored = cand
      .join(deg.select(col("node").as("x"), col("deg").as("dx")), Seq("x"))
      .join(deg.select(col("node").as("y"), col("deg").as("dy")), Seq("y"))
      .select(col("x"), col("y"), col("cn"),
        expr("(CAST(1000000 AS DECIMAL(38,0)) * cn)" +
          " div CAST(dx + dy - cn AS DECIMAL(38,0))").as("jaccard_micros"),
        (col("dx") * col("dy")).as("pref_attach"))
    val w = Window.partitionBy("x").orderBy(col("cn").desc, col("y"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Deterministic `steps`-hop random walks from every node of an
    * undirected graph (DISTINCT canonical edges a < b): the next hop is
    * the sorted-adjacency element at index
    * 1 + ((cur mod 1048573)·2654435761 + step·40503) mod 1048573 mod deg
    * — hash-uniform, engine-exact (the node id is reduced mod the prime
    * FIRST so the product is bounded by ~2.8e15 at any id scale). The
    * walk generator a graph-embedding (DeepWalk/node2vec) trainer feeds
    * on; adjacency is one sort-aggregated shuffle, each hop one
    * key-partitioned join against it.
    */
  def randomWalks(und: DataFrame, steps: Int): DataFrame = {
    require(steps >= 1 && steps <= 20, s"steps must be in [1,20], got $steps")
    val bi = und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v")))
    val adj = bi.groupBy(col("u").as("node"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"), count(lit(1)).as("deg"))
      .localCheckpoint(false)
    def step(cur: String, i: Int): org.apache.spark.sql.Column =
      expr(s"element_at(nbrs, CAST(1 + (($cur % 1048573) * 2654435761 + $i * 40503)" +
        " % 1048573 % deg AS INT))")
    var walk = adj.select(col("node"), step("node", 1).as("h1"))
    for (i <- 2 to steps) {
      val prev = s"h${i - 1}"
      walk = walk.join(adj.select(col("node").as(prev), col("nbrs"), col("deg")), Seq(prev))
        .select((col("node") +: (1 until i).map(j => col(s"h$j")) :+
          step(prev, i).as(s"h$i")): _*)
    }
    walk
  }

  /** Minimum spanning forest under the STRICT total edge order
    * (w, a, b) — parallel edges collapse to their min weight first, so
    * the order has no ties and the MSF is UNIQUE, which is what lets
    * the oracle verify output equality without replaying this exact
    * algorithm. Distributed path: Borůvka rounds — every component
    * picks its minimum incident cross-edge (cut property: each such
    * edge is in THE MSF), the picked edges merge components (via
    * [[connectedComponents]] on the component graph, which is at most
    * half the size each round), and intra-component edges drop.
    * Component count at least halves per round, so ≤ log₂(n) rounds —
    * no adversarial worst case, unlike the label-propagation fixpoints.
    * Below `localCutoff` edges the endgame is serial Kruskal with
    * union-find in one executor task; both strategies produce the same
    * unique forest. Output: (a, b, w) forest edges.
    */
  def msf(edges: DataFrame, localCutoff: Long = 1L << 20,
      maxRounds: Int = 64): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges
      .select(col("a").cast("long").as("x"), col("b").cast("long").as("y"),
        col("w").cast("long").as("w"))
      .filter(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"),
        col("w"))
      .groupBy("a", "b").agg(min("w").as("w")).localCheckpoint(false)
    if (localCutoff > 0 && e0.count() <= localCutoff) return localMsf(e0)
    var comp = e0.select(col("a").as("node")).union(e0.select(col("b").as("node")))
      .distinct().select(col("node"), col("node").as("c")).localCheckpoint()
    var live = e0
    var forest = Seq.empty[(Long, Long, Long)].toDF("a", "b", "w")
    var round = 0
    var converged = false
    while (!converged) {
      round += 1
      require(round <= maxRounds, s"Borůvka did not converge in $maxRounds rounds")
      val ce = live
        .join(comp.select(col("node").as("a"), col("c").as("ca")), Seq("a"))
        .join(comp.select(col("node").as("b"), col("c").as("cb")), Seq("b"))
        .filter(col("ca") =!= col("cb")).localCheckpoint()
      if (ce.isEmpty) converged = true
      else {
        val pick = struct(col("w"), col("a"), col("b")).as("e")
        val sel = ce.select(col("ca").as("c"), pick)
          .union(ce.select(col("cb").as("c"), pick))
          .groupBy("c").agg(min("e").as("e")) // struct min = (w, a, b) lexicographic
          .select(col("e.a").as("a"), col("e.b").as("b"), col("e.w").as("w"))
          .distinct().localCheckpoint()
        forest = forest.unionByName(sel).localCheckpoint()
        val compEdges = sel
          .join(comp.select(col("node").as("a"), col("c").as("ca")), Seq("a"))
          .join(comp.select(col("node").as("b"), col("c").as("cb")), Seq("b"))
          .select(col("ca").as("src"), col("cb").as("dst"))
        val newLab = connectedComponents(comp.select(col("c").as("id")).distinct(),
          compEdges)
        // pinFresh: comp enters the next round's plan ~6× (twice in ce,
        // twice in compEdges, once in the CC node set, once here) — the
        // worst multiplicative fan-out of any loop in this file; see
        // [[pinFresh]] and the r15 q_msf exponent re-measurement
        comp = pinFresh(comp
          .join(newLab.select(col("node").as("c"), col("component")), Seq("c"))
          .select(col("node"), col("component").as("c")), 32)
        live = ce.select("a", "b", "w").localCheckpoint()
      }
    }
    forest
  }

  /** The [[msf]] endgame: serial Kruskal with path-halving union-find in
    * one executor task, edges scanned in the same strict (w, a, b)
    * order — the unique MSF, bit-identical to the Borůvka rounds.
    */
  private def localMsf(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.as[(Long, Long, Long)].coalesce(1).mapPartitions { it =>
      val es = it.toArray.sortBy { case (a, b, w) => (w, a, b) }
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrElse(x, x) != x) {
          val p = parent(x)
          parent(x) = parent.getOrElse(p, p)
          x = parent(x)
        }
        x
      }
      es.iterator.filter { case (a, b, _) =>
        val ra = find(a); val rb = find(b)
        if (ra == rb) false
        else { parent(math.max(ra, rb)) = math.min(ra, rb); true }
      }
    }.toDF("a", "b", "w")
  }

  /** Full core decomposition capped at `maxK`: coreness(v) = the largest
    * k ≤ maxK such that v survives the k-core peel (nodes at the true
    * core number ≥ maxK report maxK — the cap is what keeps the oracle's
    * unrolled replay bounded). Below `localCutoff` edges this is ONE
    * serial Matula–Beck bucket peel in an executor task (linear time,
    * every core number in a single pass — the production path until the
    * graph outgrows a task); above it, ONE distributed h-index fixpoint
    * ([[hIndexCoreness]]) — every core number in a single iterative
    * pass, regardless of maxK. Output: (node, coreness ≥ 1) for every
    * node with an edge.
    *
    * `localCutoff` = 2^23 is MEASURED, not a time crossover (round 16,
    * serial arm, quadratic-skew synth, maxK 8, same-session
    * A/Bs with 0 disagreement rows): serial beat the distributed fixpoint
    * 18.3 vs 97.6 s at 2M edges and 24.6 vs 114.3 s at 8M — the fixpoint
    * is round-barrier-bound at any size one task can hold, so no time
    * crossover exists below the memory wall. The binding constraint is
    * the single peel task's heap: the boxed adjacency + bucket queue run
    * ~100–150 B per undirected edge, so 2^23 edges ≈ 1 GB — the largest
    * point probe-validated end-to-end. Past the cutoff the h-index path
    * is the right one anyway: its round count is maxK-independent and
    * each round ships only frontier deltas, so it is the arm that
    * survives a 100× scale-up where ANY single-task peel cannot.
    */
  def coreness(edges: DataFrame, maxK: Int,
      localCutoff: Long = 1L << 23): DataFrame = {
    require(maxK >= 2 && maxK <= 64, s"maxK must be in [2,64], got $maxK")
    val und = corenessEdges(edges)
    if (localCutoff > 0 && und.count() <= localCutoff)
      return localCoreness(und, maxK)
    hIndexCoreness(und, maxK)
  }

  private def corenessEdges(edges: DataFrame): DataFrame = edges
    .select(col("src").cast("long").as("x"), col("dst").cast("long").as("y"))
    .filter(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
    .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
    .distinct().localCheckpoint(false)

  /** Distributed core decomposition as ONE iterative fixpoint (the
    * locality result of Montresor, De Pellegrini & Miorandi,
    * "Distributed k-Core Decomposition", 2011): start every node at
    * c₀(v) = min(deg(v), maxK) and repeatedly lower c(v) to the h-index
    * of its neighbors' current estimates — the largest k with ≥ k
    * neighbors of c ≥ k. Estimates are monotone non-increasing and the
    * fixpoint is exactly min(core(v), maxK): capping commutes with the
    * h-index (for k ≤ maxK, "value ≥ k" and "min(value, maxK) ≥ k" are
    * the same predicate), so the capped iteration converges to the
    * capped core numbers. This replaces the earlier iterated-[[kCore]]
    * form ([[corenessIterated]], kept for the design-scale A/B): at
    * maxK = 64 that ran 63 full peels over the pinned edge set; this
    * runs ONE pass whose rounds touch only the changed frontier.
    *
    * Scale design — the iteration is MESSAGE-PASSING over incrementally
    * maintained counts, not a per-round re-gather:
    *
    *   - Per-node state is (est, cnt₁..cnt_maxK) where cnt_k = how many
    *     neighbors currently have est ≥ k. The h-index is then a pure
    *     row-local expression, greatest over k·(cnt_k ≥ k) — no per-node
    *     sort, no Window, no neighbor re-gather.
    *   - A round ships only DELTAS: each node whose estimate dropped from
    *     `old` to `new` messages its neighbors, and a receiver decrements
    *     cnt_k for new < k ≤ old. Message volume is frontier-proportional
    *     (Σ deg over changed nodes), so the long chain-shaped convergence
    *     tail this fixpoint is known for (a drop propagates one hop per
    *     round through tree filaments; the naive re-gather form spent
    *     20+ rounds × full-graph joins on a double-digit frontier in the
    *     1M-node probe) costs one pinned-adjacency scan per round and
    *     kilobytes of state churn.
    *   - State writes go to a DELTA OVERLAY (only touched rows
    *     materialize; current = base minus touched ∪ overlay), folded
    *     into a fresh base every `foldEvery` rounds — the n-row state
    *     frame is re-checkpointed O(rounds/foldEvery) times, not
    *     O(rounds) times.
    *
    * The trajectory is exactly the synchronous Jacobi iteration (counts
    * at round start reflect all estimates after the previous round), so
    * the fixpoint — and every intermediate state — matches the re-gather
    * form bit for bit.
    */
  private[graft] def hIndexCoreness(und: DataFrame, maxK: Int,
      maxRounds: Int = 10000, foldEvery: Int = 8): DataFrame = {
    val adj = und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint(false)
    val kCols = (1 to maxK).map(k => s"k$k")
    val hExpr = greatest((1 to maxK).map(k =>
      when(col(s"k$k") >= k, k).otherwise(0)): _*)
    // initial estimates est₀ = min(deg, maxK), then initial counts from
    // one full gather — the only graph-sized shuffle pass in the run
    val est0 = adj.groupBy(col("u").as("node"))
      .agg(least(count(lit(1)), lit(maxK.toLong)).cast("int").as("est"))
    var base = adj
      .join(est0.select(col("node").as("v"), col("est").as("ve")), Seq("v"))
      .groupBy(col("u").as("node"))
      .agg(sum(when(col("ve") >= 1, 1L).otherwise(0L)).cast("int").as("k1"),
        (2 to maxK).map(k =>
          sum(when(col("ve") >= k, 1L).otherwise(0L)).cast("int").as(s"k$k")): _*)
      .join(est0, Seq("node"))
      .select(col("node") +: col("est") +: kCols.map(col): _*)
      .localCheckpoint(false)
    var overlay = base.filter(lit(false)).localCheckpoint(false)
    var overlayCnt = 0L
    // explicit broadcast hints, gated on known (checkpointed) row counts:
    // without stats the planner sort-merges, and AQE only demotes to
    // broadcast AFTER paying the big side's shuffle map stage — so a
    // 40-round tail re-shuffled the 2·m adjacency 40 times. The counts
    // are one cheap action each on an already-materialized frame. The
    // gate is deliberately modest: a broadcast build is driver-serial,
    // so bulk rounds (frontier ~ n) should take the shuffle path.
    val bcastCutoff = 256L << 10
    def hinted(df: DataFrame, cnt: Long): DataFrame =
      if (cnt <= bcastCutoff) broadcast(df) else df
    def cur: DataFrame = base
      .join(hinted(overlay.select("node"), overlayCnt), Seq("node"), "left_anti")
      .unionByName(overlay)
    // round 0: apply the h-index to the initial counts map-side — the
    // first wave of drops needs no messages
    var chg = base.withColumn("h", hExpr)
      .filter(col("h") < col("est"))
      .select(col("node"), col("est").as("old"), col("h").as("new"))
      .localCheckpoint(false)
    var chgCnt = chg.count()
    overlay = base.join(hinted(chg.select(col("node"), col("new")), chgCnt), Seq("node"))
      .select(col("node") +: col("new").as("est") +: kCols.map(col): _*)
      .localCheckpoint(false)
    overlayCnt = chgCnt
    var round = 0
    while (chgCnt > 0) {
      round += 1
      require(round <= maxRounds, s"h-index coreness did not converge in $maxRounds rounds")
      // deltas: a neighbor of a dropped node decrements cnt_k for
      // new < k ≤ old; one adjacency scan, message volume = Σ deg(chg)
      val msgs = adj.join(hinted(chg.withColumnRenamed("node", "u"), chgCnt), Seq("u"))
      val decs = msgs.groupBy(col("v").as("node"))
        .agg(sum(when(col("new") < 1 && col("old") >= 1, 1L).otherwise(0L))
            .cast("int").as("d1"),
          (2 to maxK).map(k =>
            sum(when(col("new") < k && col("old") >= k, 1L).otherwise(0L))
              .cast("int").as(s"d$k")): _*)
        .localCheckpoint(false)
      val decsCnt = decs.count()
      // touched is NOT checkpointed: both consumers below re-derive it
      // from the pinned base/overlay/decs in one scan each — cheaper
      // than writing an n-proportional frame every round
      val touched = cur.join(hinted(decs, decsCnt), Seq("node"))
        .select(col("node") +: col("est") +:
          (1 to maxK).map(k => (col(s"k$k") - col(s"d$k")).as(s"k$k")): _*)
        .withColumn("h", hExpr)
        .withColumn("nest", least(col("est"), col("h")))
      // coalesce before every per-round checkpoint: union/anti chains SUM
      // their inputs' partition counts and localCheckpoint pins the
      // result, so without this the overlay (and, through the fold, the
      // base) compounds to thousands of near-empty partitions by round
      // ~15 — each later stage then schedules thousands of no-op tasks
      // and the block manager drowns (measured: a frontier-109 round
      // taking 100 s of pure task/block churn)
      // chg and overlay re-enter the next round's plan through MULTIPLE
      // multiplicative paths, so they pin through [[pinFresh]] (stats
      // reset), not plain localCheckpoint — see pinFresh for the
      // exponential-planning-cost failure this prevents
      chg = pinFresh(touched.filter(col("nest") < col("est"))
        .select(col("node"), col("est").as("old"), col("nest").as("new")), 8)
      chgCnt = chg.count()
      val newRows = touched
        .select(col("node") +: col("nest").as("est") +: kCols.map(col): _*)
      overlay = pinFresh(overlay
        .join(hinted(decs.select("node"), decsCnt), Seq("node"), "left_anti")
        .unionByName(newRows), 16)
      overlayCnt += decsCnt // upper bound (replaced rows counted twice): a
                            // hint gate only needs the order of magnitude
      if (round % foldEvery == 0) {
        base = pinFresh(cur, 32)
        overlay = base.filter(lit(false)).localCheckpoint()
        overlayCnt = 0L
        // superseded per-round checkpoint blocks (old overlays, chg,
        // decs) are MEMORY_AND_DISK and only reclaimed when their RDD
        // objects are GC'd — across a long fixpoint they pile into
        // block-manager pressure that makes every later round slower
        // (the round-6 bench finding, inside one query). The vars above
        // dropped the references; one GC per fold lets the
        // ContextCleaner actually release the blocks.
        System.gc()
      }
    }
    cur.select(col("node"), col("est").as("coreness"))
  }

  /** The superseded distributed form — maxK−1 iterated [[kCore]] peels
    * over the pinned edge set — kept ONLY as the baseline arm of the
    * design-scale A/B: O(maxK)
    * sequential full peels where [[hIndexCoreness]] runs one fixpoint.
    */
  private[graft] def corenessIterated(edges: DataFrame, maxK: Int,
      localCutoff: Long = 0L): DataFrame = {
    val und = corenessEdges(edges)
    val base = und.select(col("a").as("node")).union(und.select(col("b").as("node")))
      .distinct().select(col("node"), lit(1).as("k"))
    val survivors = (2 to maxK).map { k =>
      kCore(und.select(col("a").as("src"), col("b").as("dst")), k,
          localCutoff = localCutoff)
        .select(col("node"), lit(k).as("k"))
    }
    survivors.foldLeft(base)(_ unionByName _)
      .groupBy("node").agg(max("k").as("coreness"))
  }

  /** The [[coreness]] endgame: serial Matula–Beck bucket peel in one
    * executor task — every node's exact core number in linear time,
    * capped at maxK to match the distributed contract.
    */
  private def localCoreness(und: DataFrame, maxK: Int): DataFrame = {
    val spark = und.sparkSession
    import spark.implicits._
    und.as[(Long, Long)].coalesce(1).mapPartitions { it =>
      val adj = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
      it.foreach { case (a, b) =>
        adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty[Long]) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer.empty[Long]) += a
      }
      val deg = scala.collection.mutable.HashMap.empty[Long, Int]
      adj.foreach { case (n, ns) => deg(n) = ns.length }
      // bucket queue over current degrees; peel in nondecreasing order
      val maxDeg = if (deg.isEmpty) 0 else deg.valuesIterator.max
      val buckets = Array.fill(maxDeg + 1)(scala.collection.mutable.ArrayBuffer.empty[Long])
      deg.foreach { case (n, d) => buckets(d) += n }
      val core = scala.collection.mutable.HashMap.empty[Long, Int]
      val done = scala.collection.mutable.HashSet.empty[Long]
      var k = 0
      var d = 0
      while (d <= maxDeg) {
        val bucket = buckets(d)
        if (bucket.isEmpty) d += 1
        else {
          val n = bucket.remove(bucket.length - 1)
          // stale entries: a node sits in every bucket it passed through
          if (!done(n) && deg(n) == d) {
            done += n
            k = math.max(k, d)
            core(n) = k
            // a neighbor's degree only ever drops to ≥ d here (it was
            // > d), so the nondecreasing scan order is preserved
            adj(n).foreach { m =>
              if (!done(m) && deg(m) > d) {
                deg(m) -= 1
                buckets(deg(m)) += m
              }
            }
          }
        }
      }
      core.iterator.map { case (n, c) => (n, math.min(c, maxK)) }
    }.toDF("node", "coreness")
  }

  /** Per-community conductance in exact integer micros:
    * φ(C) = ⌊1e6·cut(C) / min(vol(C), 2m − vol(C))⌋ — cut = edges with
    * exactly one endpoint in C, vol = total degree of C's members. Low
    * conductance = a well-separated community (the cut-quality twin of
    * [[modularity]]'s density view; a partition can score well on one
    * and badly on the other, which is why curation pipelines report
    * both). Same plan shape as modularity: two key-partitioned label
    * joins, one degree aggregate, one 1-row broadcast of 2m. The
    * numerator runs in DECIMAL(38,0) (HUGEINT in the oracle): 1e6·cut
    * wraps a BIGINT past cut ≈ 9.2e12 edges. The whole-graph community
    * (min-volume side 0) abstains with null rather than dividing by
    * zero.
    */
  def conductance(edges: DataFrame, labels: DataFrame): DataFrame = {
    val und = edges
      .select(col("src").cast("long").as("x"), col("dst").cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .distinct().localCheckpoint(false)
    val lab = labels.select(col("node"), col("label")).localCheckpoint(false)
    val labeled = und
      .join(lab.select(col("node").as("a"), col("label").as("la")), Seq("a"))
      .join(lab.select(col("node").as("b"), col("label").as("lb")), Seq("b"))
    val cut = labeled.filter(col("la") =!= col("lb"))
      .select(explode(array(col("la"), col("lb"))).as("label"))
      .groupBy("label").agg(count(lit(1)).as("cut"))
    val deg = und.select(col("a").as("node")).union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("__d"))
    val vol = lab.join(deg, Seq("node"), "left")
      .groupBy("label")
      .agg(count(lit(1)).as("n_nodes"), sum(coalesce(col("__d"), lit(0L))).as("vol"))
    val m2 = und.agg((count(lit(1)) * 2).as("vol_all"))
    vol.join(cut, Seq("label"), "left")
      .crossJoin(broadcast(m2))
      .select(col("label"), col("n_nodes"),
        coalesce(col("cut"), lit(0L)).as("cut"), col("vol"),
        when(least(col("vol"), col("vol_all") - col("vol")) > 0,
          expr("(CAST(1000000 AS DECIMAL(38,0)) * coalesce(cut, CAST(0 AS BIGINT)))" +
            " div CAST(least(vol, vol_all - vol) AS DECIMAL(38,0))"))
          .otherwise(lit(null).cast("long")).as("phi_micros"))
  }

  val queries: Seq[GraftQuery] = Seq(

    // PageRank over the customer→supplier purchase graph (5 rounds):
    // suppliers accumulate rank from the customers that buy from them.
    // Supplier node ids are offset into their own range — the raw key
    // spaces overlap (suppkey 5 is not customer 5).
    GraftQuery(
      "q_pagerank",
      (s, dir) => {
        val edges = Tables(s, dir, "orders")
          .join(Tables(s, dir, "lineitem"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("src"),
            (col("l_suppkey").cast("long") + lit(10000000L)).as("dst"))
        pageRank(edges, iters = 5).orderBy("node")
      },
      Some((Seq(
        s"""WITH e AS (
           |  SELECT DISTINCT o_custkey AS src, CAST(l_suppkey AS BIGINT) + 10000000 AS dst
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
           |),
           |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           |od AS (SELECT src, count(*) AS od FROM e GROUP BY src),
           |pr0 AS (SELECT node, CAST($Scale AS BIGINT) AS r FROM nodes)""".stripMargin) ++
        (1 to 5).map(prRoundSql(_, Scale))).mkString(",\n") +
        "\nSELECT node, r AS rank FROM pr5 ORDER BY node"),
    ),

    // HITS over the purchase graph: customers are pure hubs (who buys
    // from the dominant suppliers), suppliers pure authorities — the
    // two-role decomposition one PageRank score conflates. 3 rounds of
    // integer max-normalized mutual reinforcement.
    GraftQuery(
      "q_hits",
      (s, dir) => {
        val edges = Tables(s, dir, "orders")
          .join(Tables(s, dir, "lineitem"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("src"),
            (col("l_suppkey").cast("long") + lit(10000000L)).as("dst"))
        hits(edges, iters = 3).orderBy("node")
      },
      Some((Seq(
        s"""WITH e AS (
           |  SELECT DISTINCT o_custkey AS src, CAST(l_suppkey AS BIGINT) + 10000000 AS dst
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
           |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           |st0 AS (SELECT node, CAST($HitsScale AS BIGINT) AS h, CAST(0 AS BIGINT) AS a FROM nodes)""".stripMargin) ++
        (1 to 3).map(hitsRoundSql(_, HitsScale))).mkString(",\n") +
        "\nSELECT node, h AS hub, a AS auth FROM st3 ORDER BY node"),
    ),

    // Weighted PageRank over the purchase graph: the same cust→supplier
    // edges as q_pagerank, but each edge weighted by its lineitem
    // multiplicity — rank concentrates on the suppliers that dominate
    // their customers' baskets, not merely touch them. 4 rounds,
    // two-term overflow-safe integer splits, engine-exact.
    GraftQuery(
      "q_weighted_pagerank",
      (s, dir) => {
        val ew = Tables(s, dir, "orders")
          .join(Tables(s, dir, "lineitem"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey").as("src"),
            (col("l_suppkey").cast("long") + lit(10000000L)).as("dst"))
          .agg(count(lit(1)).as("w"))
        weightedPageRank(ew, iters = 4).orderBy("node")
      },
      Some((Seq(
        s"""WITH raw AS (
           |  SELECT o_custkey AS src, CAST(l_suppkey AS BIGINT) + 10000000 AS dst,
           |    count(*) AS w
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
           |  GROUP BY 1, 2),
           |ew AS (
           |  SELECT r.src, r.dst, r.w, t.tw
           |  FROM raw r JOIN (SELECT src, sum(w) AS tw FROM raw GROUP BY src) t
           |    ON t.src = r.src),
           |nodes AS (SELECT src AS node FROM raw UNION SELECT dst FROM raw),
           |pr0 AS (SELECT node, CAST($Scale AS BIGINT) AS r FROM nodes)""".stripMargin) ++
        (1 to 4).map(wprRoundSql(_, Scale))).mkString(",\n") +
        "\nSELECT node, r AS rank FROM pr4 ORDER BY node"),
    ),

    // Personalized PageRank from the nation-0 customers over the
    // BIDIRECTIONAL purchase graph (cust ↔ supplier, supplier ids offset
    // into their own range like q_pagerank): mass walks customer →
    // supplier → other customers, so the rank is a fraud-proximity score
    // over all walk lengths — the smooth risk feature next to
    // q_bfs_hops' hard 3-hop cutoff. 4 rounds, scaled-integer exact.
    GraftQuery(
      "q_ppr",
      (s, dir) => {
        val cs = Tables(s, dir, "orders")
          .join(Tables(s, dir, "lineitem"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"),
            (col("l_suppkey").cast("long") + lit(10000000L)).as("sp"))
          .distinct()
        val edges = cs.select(col("c").as("src"), col("sp").as("dst"))
          .unionByName(cs.select(col("sp").as("src"), col("c").as("dst")))
        val seeds = Tables(s, dir, "customer")
          .filter(col("c_nationkey") === 0)
          .select(col("c_custkey").as("id"))
        personalizedPageRank(edges, seeds, iters = 4).orderBy("node")
      },
      Some((Seq(
        s"""WITH cs AS (
           |  SELECT DISTINCT o_custkey AS c, CAST(l_suppkey AS BIGINT) + 10000000 AS sp
           |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
           |),
           |e AS (SELECT c AS src, sp AS dst FROM cs
           |      UNION SELECT sp, c FROM cs),
           |sd AS (SELECT c_custkey AS node FROM customer WHERE c_nationkey = 0),
           |nodes AS (
           |  SELECT node, max(s) AS is_seed FROM (
           |    SELECT src AS node, 0 AS s FROM e
           |    UNION ALL SELECT dst, 0 FROM e
           |    UNION ALL SELECT node, 1 FROM sd)
           |  GROUP BY node),
           |od AS (SELECT src, count(*) AS od FROM e GROUP BY src),
           |pr0 AS (SELECT node, CAST(is_seed * $Scale AS BIGINT) AS r FROM nodes)""".stripMargin) ++
        (1 to 4).map(pprRoundSql(_, Scale))).mkString(",\n") +
        "\nSELECT node, r AS rank FROM pr4 ORDER BY node"),
    ),

    // Triangle counts over the customer co-purchase graph (edge = two
    // customers sharing ≥4 distinct parts; the HAVING floor keeps the
    // projection from densifying into a near-clique). The per-part
    // customer fan-out in the edge build is the skew point —
    // [[copurchaseEdges]] prunes hub parts through the minShared
    // prefilter adaptively (degree flag + split, no driver state); the
    // triangle operator itself is already degree-bounded.
    GraftQuery(
      "q_triangles",
      (s, dir) => {
        // every edge-build leg (degree pass + both self-join legs) reads
        // cp — materialize it once (the distinct already paid a shuffle;
        // replaying the orders⋈lineitem build per leg doubles the
        // expensive part of the plan)
        val cp = Tables(s, dir, "orders")
          .join(Tables(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p")).distinct()
          .localCheckpoint(false)
        triangles(copurchaseEdges(cp, minShared = 4)).orderBy("node")
      },
      Some("""WITH cp AS (
             |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
             |),
             |und AS (
             |  SELECT c1.c AS a, c2.c AS b FROM cp c1
             |  JOIN cp c2 ON c1.p = c2.p AND c1.c < c2.c
             |  GROUP BY 1, 2 HAVING count(*) >= 4
             |),
             |tri AS (
             |  SELECT t1.a AS x, t1.b AS y, t2.b AS z
             |  FROM und t1 JOIN und t2 ON t2.a = t1.b
             |  JOIN und t3 ON t3.a = t1.a AND t3.b = t2.b
             |),
             |nodes AS (SELECT a AS node FROM und UNION SELECT b FROM und),
             |cnt AS (
             |  SELECT node, count(*) AS n FROM (
             |    SELECT x AS node FROM tri
             |    UNION ALL SELECT y FROM tri
             |    UNION ALL SELECT z FROM tri)
             |  GROUP BY node
             |)
             |SELECT n.node, CAST(coalesce(c.n, 0) AS BIGINT) AS n_tri
             |FROM nodes n LEFT JOIN cnt c USING (node) ORDER BY node""".stripMargin),
    ),

    // Weighted bipartite projection with a hub-degree cap: supplier pairs
    // ranked by how many parts they both ship — the shared-entity screen
    // behind fraud-ring detection (two cards at the same set of obscure
    // merchants). The cap is the scale discipline: a part shipped by d
    // suppliers emits d² pairs, so without it one hub key quadratically
    // dominates everything; hubs carry no affinity signal anyway (everyone
    // co-occurs on them). Shape: ONE aggregation shuffle building each
    // part's supplier set via the native `bounded_set` aggregate — per-key
    // state is O(cap) BY CONSTRUCTION (a hub collapses to a null flag the
    // moment it exceeds the cap, map-side partials included), so no degree
    // pre-pass, no self-join, no materialization barrier, and no task ever
    // holds a hub's fanout. Pairs explode map-side (≤ cap² per part), then
    // one count shuffle on the pair key.
    GraftQuery(
      "q_cooccur",
      (s, dir) => {
        graft.functions.BoundedSetAgg.register(s)
        val cap = 25 // fanout cap — the oracle SQL's HAVING bound must match
        Tables(s, dir, "lineitem")
          .groupBy(col("l_partkey"))
          .agg(expr(s"bounded_set(l_suppkey, $cap)").as("ss"))
          .filter(col("ss").isNotNull) // null = hub (fanout > cap), dropped
          // ss is sorted, so suffix-slicing emits each unordered pair once
          // (s1 < s2) without generating the full cap² cross product; the
          // slice length is the set's own size so a cap change can't truncate
          .select(posexplode(col("ss")).as(Seq("i", "s1")), col("ss"))
          .select(col("s1"), explode(slice(col("ss"), col("i") + 2, size(col("ss")))).as("s2"))
          .groupBy("s1", "s2").agg(count(lit(1)).as("common_parts"))
          .filter(col("common_parts") >= 3)
          .orderBy("s1", "s2")
      },
      Some("""WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sup FROM lineitem),
             |ok AS (SELECT p FROM ps GROUP BY p HAVING count(*) <= 25)
             |SELECT a.sup AS s1, b.sup AS s2, count(*) AS common_parts
             |FROM ps a JOIN ok USING (p) JOIN ps b ON b.p = a.p AND a.sup < b.sup
             |GROUP BY 1, 2 HAVING count(*) >= 3
             |ORDER BY s1, s2""".stripMargin),
    ),

    // Connected components over the event identity graph: per-user event
    // CHAINS (consecutive events by time — path components, ~70 hops deep,
    // the worst case for hop-at-a-time label propagation) merged by sparse
    // cross-user LINKS (purchase events sharing the same props.k within the
    // same hour — the shared-identifier edges of entity resolution). At
    // sf0.01 this yields ~120 components up to ~330 nodes with diameters in
    // the hundreds: min-label propagation would need hundreds of shuffle
    // rounds; star contraction converges in a handful.
    GraftQuery(
      "q_connected_components",
      (s, dir) => {
        val ev = Tables(s, dir, "events").localCheckpoint(false)
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val chain = ev
          .select(col("event_id"), lag("event_id", 1).over(w).as("prev"))
          .filter(col("prev").isNotNull)
          .select(col("prev").as("src"), col("event_id").as("dst"))
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"),
            date_trunc("hour", col("ts")).as("h"),
            get_json_object(col("props"), "$.k").cast("int").as("k"))
        val link = p.as("x").join(p.as("y"),
            col("x.h") === col("y.h") && col("x.k") === col("y.k") &&
            col("x.event_id") < col("y.event_id"))
          .select(col("x.event_id").as("src"), col("y.event_id").as("dst"))
        connectedComponents(ev.select(col("event_id").as("id")),
            chain.unionByName(link))
          .withColumn("component_size",
            count(lit(1)).over(Window.partitionBy("component")))
          .orderBy("node")
      },
      Some("""WITH RECURSIVE
             |chain AS (
             |  SELECT lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS a,
             |         event_id AS b
             |  FROM events),
             |pe AS (
             |  SELECT event_id, date_trunc('hour', ts) AS h,
             |         CAST(json_extract(props, '$.k') AS INT) AS k
             |  FROM events WHERE event_type = 'purchase'),
             |link AS (
             |  SELECT DISTINCT x.event_id AS a, y.event_id AS b
             |  FROM pe x JOIN pe y
             |    ON x.h = y.h AND x.k = y.k AND x.event_id < y.event_id),
             |pairs AS (SELECT a, b FROM chain WHERE a IS NOT NULL
             |          UNION SELECT a, b FROM link),
             |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
             |reach(id, lab) AS (
             |  SELECT event_id, event_id FROM events
             |  UNION
             |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.id),
             |labels AS (SELECT id AS node, min(lab) AS component FROM reach GROUP BY id)
             |SELECT node, component,
             |  count(*) OVER (PARTITION BY component) AS component_size
             |FROM labels ORDER BY node""".stripMargin),
    ),

    // 3-core of the customer co-purchase graph at minShared=3 (one floor
    // looser than q_triangles' projection): the dense community nucleus
    // left after iteratively peeling every customer with < 3 co-purchase
    // partners. The minShared=3 projection is the interesting regime: at
    // sf0.1 it is sparse enough that peeling CASCADES 20+ rounds deep and
    // removes ~84% of the nodes (probed while choosing the fixture —
    // minShared=2 graphs are so dense nothing peels; the supplier
    // co-occurrence graph at sf0.01 is literally complete). The oracle
    // unrolls the peel to a fixed depth (a round past the fixpoint is the
    // identity — see kcoreRoundSql; MATERIALIZED, or DuckDB's CTE
    // inlining expands the 3-references-per-round chain exponentially);
    // the Spark side runs the true count-fixpoint loop, and GraphOpsSpec
    // pins the fixture's convergence depth under the unroll count.
    GraftQuery(
      "q_kcore",
      (s, dir) => {
        val cp = Tables(s, dir, "orders")
          .join(Tables(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p")).distinct()
          .localCheckpoint(false)
        kCore(copurchaseEdges(cp, minShared = 3), k = 3).orderBy("node")
      },
      Some((Seq(
        """WITH cp AS (
          |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
          |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
          |e0 AS MATERIALIZED (
          |  SELECT c1.c AS a, c2.c AS b
          |  FROM cp c1 JOIN cp c2 ON c1.p = c2.p AND c1.c < c2.c
          |  GROUP BY 1, 2 HAVING count(*) >= 3)""".stripMargin) ++
        (1 to KcoreOracleRounds).map(kcoreRoundSql(_, 3))).mkString(",\n") +
        s"""
           |SELECT id AS node, count(*) AS core_deg FROM (
           |  SELECT a AS id FROM e$KcoreOracleRounds
           |  UNION ALL SELECT b FROM e$KcoreOracleRounds)
           |GROUP BY id ORDER BY node""".stripMargin),
    ),

    // Local clustering coefficient over the customer co-purchase graph
    // (same minShared=4 projection as q_triangles): per customer, the
    // fraction of their co-purchase partners that also co-purchase with
    // each other — ring-like fraud communities score near 1e6 micros,
    // hub-and-spoke mules near 0. Integer-micros floor division keeps the
    // value engine-exact.
    GraftQuery(
      "q_clustering_coef",
      (s, dir) => {
        val cp = Tables(s, dir, "orders")
          .join(Tables(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p")).distinct()
          .localCheckpoint(false)
        clusteringCoefficient(copurchaseEdges(cp, minShared = 4)).orderBy("node")
      },
      Some("""WITH cp AS (
             |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
             |),
             |und AS (
             |  SELECT c1.c AS a, c2.c AS b FROM cp c1
             |  JOIN cp c2 ON c1.p = c2.p AND c1.c < c2.c
             |  GROUP BY 1, 2 HAVING count(*) >= 4
             |),
             |deg AS (
             |  SELECT node, count(*) AS deg FROM (
             |    SELECT a AS node FROM und UNION ALL SELECT b FROM und)
             |  GROUP BY node
             |),
             |tri AS (
             |  SELECT t1.a AS x, t1.b AS y, t2.b AS z
             |  FROM und t1 JOIN und t2 ON t2.a = t1.b
             |  JOIN und t3 ON t3.a = t1.a AND t3.b = t2.b
             |),
             |cnt AS (
             |  SELECT node, count(*) AS n FROM (
             |    SELECT x AS node FROM tri
             |    UNION ALL SELECT y FROM tri
             |    UNION ALL SELECT z FROM tri)
             |  GROUP BY node
             |)
             |SELECT d.node, d.deg, CAST(coalesce(c.n, 0) AS BIGINT) AS n_tri,
             |  CASE WHEN d.deg >= 2
             |       THEN (2000000 * CAST(coalesce(c.n, 0) AS BIGINT)) // (d.deg * (d.deg - 1))
             |       ELSE 0 END AS coef_micros
             |FROM deg d LEFT JOIN cnt c USING (node) ORDER BY node""".stripMargin),
    ),

    // Modularity readout of the q_label_prop partition: per buying
    // circle, how much denser than random chance its internal edges are
    // — the acceptance metric community detection ships with (positive
    // Σq ⇒ the split is real structure, not noise). Same 4-round LPA +
    // one aggregation pass, exact integer micros.
    GraftQuery(
      "q_modularity",
      (s, dir) => {
        val cp = Tables(s, dir, "orders")
          .join(Tables(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p")).distinct()
          .localCheckpoint(false)
        val edges = copurchaseEdges(cp, minShared = 4).localCheckpoint(false)
        modularity(edges, labelPropagation(edges, rounds = 4))
          .orderBy("label")
      },
      Some((Seq(
        """WITH cp AS (
          |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
          |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
          |e0 AS MATERIALIZED (
          |  SELECT c1.c AS a, c2.c AS b
          |  FROM cp c1 JOIN cp c2 ON c1.p = c2.p AND c1.c < c2.c
          |  GROUP BY 1, 2 HAVING count(*) >= 4),
          |bi AS MATERIALIZED (
          |  SELECT a AS u, b AS v FROM e0 UNION SELECT b, a FROM e0),
          |l0 AS (SELECT DISTINCT u AS node, u AS label FROM bi)""".stripMargin) ++
        (1 to 4).map(lpaRoundSql) ++ Seq(
        """mm AS (SELECT count(*) AS m FROM e0),
          |lb AS (
          |  SELECT u.a, u.b, x.label AS la, y.label AS lbl
          |  FROM e0 u JOIN l4 x ON x.node = u.a JOIN l4 y ON y.node = u.b),
          |m_in AS (SELECT la AS label, count(*) AS m_in FROM lb
          |         WHERE la = lbl GROUP BY la),
          |deg AS (SELECT node, count(*) AS d FROM (
          |  SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0) GROUP BY node),
          |dt AS (
          |  SELECT l.label, count(*) AS n_nodes,
          |    sum(coalesce(d.d, 0)) AS d_tot
          |  FROM l4 l LEFT JOIN deg d ON d.node = l.node GROUP BY l.label)""".stripMargin))
        .mkString(",\n") +
        """
          |SELECT t.label, t.n_nodes,
          |  CAST(coalesce(mi.m_in, 0) AS BIGINT) AS m_in,
          |  CAST(t.d_tot AS BIGINT) AS d_tot,
          |  CAST((CAST(1000000 AS HUGEINT) * coalesce(mi.m_in, 0)) // (SELECT m FROM mm)
          |    - (CAST(1000000 AS HUGEINT) * t.d_tot * t.d_tot)
          |      // (CAST(4 AS HUGEINT) * (SELECT m FROM mm) * (SELECT m FROM mm)) AS BIGINT) AS q_micros
          |FROM dt t LEFT JOIN m_in mi USING (label) ORDER BY label""".stripMargin),
    ),

    // Conductance of the LPA partition — the cut-quality report next to
    // q_modularity's density report, over the identical edge build and
    // 4-round LPA unroll so the oracle shares their proven CTEs.
    GraftQuery(
      "q_conductance",
      (s, dir) => {
        val cp = Tables(s, dir, "orders")
          .join(Tables(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p")).distinct()
          .localCheckpoint(false)
        val edges = copurchaseEdges(cp, minShared = 4).localCheckpoint(false)
        conductance(edges, labelPropagation(edges, rounds = 4))
          .orderBy("label")
      },
      Some((Seq(
        """WITH cp AS (
          |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
          |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
          |e0 AS MATERIALIZED (
          |  SELECT c1.c AS a, c2.c AS b
          |  FROM cp c1 JOIN cp c2 ON c1.p = c2.p AND c1.c < c2.c
          |  GROUP BY 1, 2 HAVING count(*) >= 4),
          |bi AS MATERIALIZED (
          |  SELECT a AS u, b AS v FROM e0 UNION SELECT b, a FROM e0),
          |l0 AS (SELECT DISTINCT u AS node, u AS label FROM bi)""".stripMargin) ++
        (1 to 4).map(lpaRoundSql) ++ Seq(
        """mm AS (SELECT 2 * count(*) AS vol_all FROM e0),
          |lb AS (
          |  SELECT u.a, u.b, x.label AS la, y.label AS lbl
          |  FROM e0 u JOIN l4 x ON x.node = u.a JOIN l4 y ON y.node = u.b),
          |cut AS (
          |  SELECT label, count(*) AS cut FROM (
          |    SELECT la AS label FROM lb WHERE la <> lbl
          |    UNION ALL SELECT lbl FROM lb WHERE la <> lbl)
          |  GROUP BY label),
          |deg AS (SELECT node, count(*) AS d FROM (
          |  SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0) GROUP BY node),
          |vol AS (
          |  SELECT l.label, count(*) AS n_nodes,
          |    sum(coalesce(d.d, 0)) AS vol
          |  FROM l4 l LEFT JOIN deg d ON d.node = l.node GROUP BY l.label)""".stripMargin))
        .mkString(",\n") +
        """
          |SELECT v.label, v.n_nodes,
          |  CAST(coalesce(c.cut, 0) AS BIGINT) AS cut,
          |  CAST(v.vol AS BIGINT) AS vol,
          |  CASE WHEN least(v.vol, (SELECT vol_all FROM mm) - v.vol) > 0
          |    THEN CAST((CAST(1000000 AS HUGEINT) * coalesce(c.cut, 0))
          |      // least(v.vol, (SELECT vol_all FROM mm) - v.vol) AS BIGINT)
          |    ELSE NULL END AS phi_micros
          |FROM vol v LEFT JOIN cut c USING (label) ORDER BY label""".stripMargin),
    ),

    // Blast radius over the customer co-purchase graph: hop distance from
    // every nation-0 customer (the "confirmed bad population" stand-in)
    // through the minShared=3 projection, capped at 3 hops — the
    // distance-to-fraud feature a risk model would join back onto
    // accounts. Same projection as q_kcore so the edge build is a known
    // quantity; the BFS itself is three frontier-sized rounds.
    GraftQuery(
      "q_bfs_hops",
      (s, dir) => {
        val cp = Tables(s, dir, "orders")
          .join(Tables(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p")).distinct()
          .localCheckpoint(false)
        val seeds = Tables(s, dir, "customer")
          .filter(col("c_nationkey") === 0)
          .select(col("c_custkey").as("id"))
        bfsHops(seeds, copurchaseEdges(cp, minShared = 3), maxHops = 3)
          .orderBy("node")
      },
      Some("""WITH RECURSIVE cp AS (
             |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
             |e0 AS MATERIALIZED (
             |  SELECT c1.c AS a, c2.c AS b
             |  FROM cp c1 JOIN cp c2 ON c1.p = c2.p AND c1.c < c2.c
             |  GROUP BY 1, 2 HAVING count(*) >= 3),
             |bi AS (SELECT a AS u, b AS v FROM e0 UNION SELECT b, a FROM e0),
             |reach(node, d) AS (
             |  SELECT c_custkey, 0 FROM customer WHERE c_nationkey = 0
             |  UNION
             |  SELECT bi.v, r.d + 1 FROM reach r JOIN bi ON bi.u = r.node
             |  WHERE r.d < 3)
             |SELECT node, min(d) AS hops FROM reach
             |GROUP BY node ORDER BY node""".stripMargin),
    ),

    // Harmonic centrality from 4 deterministic pivots (lowest node ids)
    // over the same minShared=3 co-purchase graph as q_bfs_hops, hop cap
    // 6: harmonic(v) = Σ_s ⌊1e6/d(s,v)⌋ — the closeness-family score
    // that, unlike closeness itself, is well-defined on disconnected
    // graphs (unreached pairs simply contribute 0). One TAGGED
    // multi-source BFS (state (tag, node, hops)) — 6 frontier rounds
    // total, not 4 sequential walks. The oracle replays it as one
    // recursive CTE whose tuples carry the tag.
    GraftQuery(
      "q_harmonic",
      (s, dir) => {
        val cp = Tables(s, dir, "orders")
          .join(Tables(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p")).distinct()
          .localCheckpoint(false)
        harmonicCentrality(copurchaseEdges(cp, minShared = 3),
          nSources = 4, maxHops = 6).orderBy("node")
      },
      Some("""WITH RECURSIVE cp AS (
             |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
             |e0 AS MATERIALIZED (
             |  SELECT c1.c AS a, c2.c AS b
             |  FROM cp c1 JOIN cp c2 ON c1.p = c2.p AND c1.c < c2.c
             |  GROUP BY 1, 2 HAVING count(*) >= 3),
             |bi AS (SELECT a AS u, b AS v FROM e0 UNION SELECT b, a FROM e0),
             |su AS (SELECT DISTINCT u FROM bi ORDER BY u LIMIT 4),
             |reach(tag, node, d) AS (
             |  SELECT u, u, 0 FROM su
             |  UNION
             |  SELECT r.tag, bi.v, r.d + 1 FROM reach r JOIN bi ON bi.u = r.node
             |  WHERE r.d < 6),
             |md AS (SELECT tag, node, min(d) AS d FROM reach GROUP BY 1, 2)
             |SELECT node, CAST(sum(1000000 // d) AS BIGINT) AS harmonic_micros,
             |  count(*) AS n_reached
             |FROM md WHERE d > 0
             |GROUP BY node ORDER BY node""".stripMargin),
    ),

    // Bounded critical path over the id-oriented co-purchase DAG: orient
    // every weighted edge low→high customer id (acyclic BY CONSTRUCTION —
    // no cycle check needed, the standard trick for turning an undirected
    // affinity graph into a DAG deterministically), then 6 relaxation
    // rounds of L(v) = max(L(v), max over in-edges (u,v) of L(u) + w) —
    // the heaviest ≤6-edge chain ending at each node, the
    // accumulation-path score a risk pipeline uses where q_sssp's
    // SHORTEST paths measure proximity. Bounding the hop count is what
    // makes longest-path tractable (unbounded longest path is NP-hard on
    // general graphs and needs full topological depth even on DAGs);
    // each round is one key-partitioned join + max aggregate, the round
    // carry pins through [[pinFresh]] (L enters twice: carry + relax).
    GraftQuery(
      "q_critical_path",
      (s, dir) => {
        val cp = Tables(s, dir, "orders")
          .join(Tables(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p")).distinct()
          .localCheckpoint(false)
        // hub-safe weighted edge build — NOT a raw cp ⋈ cp (see
        // copurchaseWeightedEdges: the raw form measured 12× slower on
        // the skewed fixture). hubPath pinned to "prefilter" (r16): this
        // query re-joins the checkpointed edge frame six times, and the
        // plain path's edge checkpoint comes out of the wide pair-count
        // exchange with ~2x the partitions — the six relaxation rounds
        // then run as fleets of near-empty tasks. A/B at sf0.1 (min-of-4,
        // same session): prefilter 4.74 s vs auto/plain 5.19 s,
        // the one copurchase rider where the downstream shape outweighs
        // the cheaper build; prefilter is also the correct arm on skewed
        // fixtures, so pinning loses nothing at scale.
        val e = copurchaseWeightedEdges(cp, minShared = 3, hubPath = "prefilter")
          .select(col("src").as("a"), col("dst").as("b"), col("w"))
          .localCheckpoint(false)
        val nodes = e.select(col("a").as("node"))
          .union(e.select(col("b").as("node"))).distinct().localCheckpoint(false)
        var lp = nodes.withColumn("pl", lit(0L))
        for (_ <- 1 to 6) {
          val relax = e.join(lp.withColumnRenamed("node", "a"), Seq("a"))
            .groupBy(col("b").as("node")).agg(max(col("pl") + col("w")).as("m"))
          lp = pinFresh(lp.join(relax, Seq("node"), "left")
            .select(col("node"),
              greatest(col("pl"), coalesce(col("m"), col("pl"))).as("pl")), 32)
        }
        lp.select(col("node"), col("pl").as("crit_w")).orderBy("node")
      },
      Some((Seq(
        """WITH cp AS (
          |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
          |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
          |e AS MATERIALIZED (
          |  SELECT c1.c AS a, c2.c AS b, count(*) AS w
          |  FROM cp c1 JOIN cp c2 ON c1.p = c2.p AND c1.c < c2.c
          |  GROUP BY 1, 2 HAVING count(*) >= 3),
          |nodes AS MATERIALIZED (
          |  SELECT a AS node FROM e UNION SELECT b FROM e),
          |l0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS pl FROM nodes)""".stripMargin) ++
        (1 to 6).map { h =>
          s"""r$h AS MATERIALIZED (
             |  SELECT e.b AS node, max(l.pl + e.w) AS m
             |  FROM l${h - 1} l JOIN e ON e.a = l.node GROUP BY e.b),
             |l$h AS MATERIALIZED (
             |  SELECT l.node, greatest(l.pl, coalesce(r.m, l.pl)) AS pl
             |  FROM l${h - 1} l LEFT JOIN r$h r ON r.node = l.node)""".stripMargin
        }).mkString(",\n") +
        "\nSELECT node, pl AS crit_w FROM l6 ORDER BY node"),
    ),

    // Label-propagation communities over the minShared=4 co-purchase graph
    // (the same projection whose clustering coefficients show ring-like
    // nuclei): 4 synchronous rounds split the big components into
    // densely-linked buying circles, the community screen that flags
    // collusive clusters where plain connectivity is too coarse. The
    // oracle replays the identical snapshot-update schedule as 4 unrolled
    // CTE rounds.
    GraftQuery(
      "q_label_prop",
      (s, dir) => {
        val cp = Tables(s, dir, "orders")
          .join(Tables(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p")).distinct()
          .localCheckpoint(false)
        labelPropagation(copurchaseEdges(cp, minShared = 4), rounds = 4)
          .withColumn("community_size",
            count(lit(1)).over(Window.partitionBy("label")))
          .orderBy("node")
      },
      Some((Seq(
        """WITH cp AS (
          |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
          |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
          |e0 AS MATERIALIZED (
          |  SELECT c1.c AS a, c2.c AS b
          |  FROM cp c1 JOIN cp c2 ON c1.p = c2.p AND c1.c < c2.c
          |  GROUP BY 1, 2 HAVING count(*) >= 4),
          |bi AS MATERIALIZED (
          |  SELECT a AS u, b AS v FROM e0 UNION SELECT b, a FROM e0),
          |l0 AS (SELECT DISTINCT u AS node, u AS label FROM bi)""".stripMargin) ++
        (1 to 4).map(lpaRoundSql)).mkString(",\n") +
        """
          |SELECT node, label,
          |  count(*) OVER (PARTITION BY label) AS community_size
          |FROM l4 ORDER BY node""".stripMargin),
    ),

    // Link prediction over the co-purchase graph: for every 2-hop
    // non-adjacent pair, the three classic topological scores — common
    // neighbors, Jaccard (integer micros), preferential attachment —
    // and the top-5 candidates per node. This is the "accounts that
    // SHOULD be linked but aren't yet" screen (and the negative-sampling
    // feed a graph-embedding trainer needs). One wedge enumeration (the
    // same shape as q_triangles, riding the same minShared prefilter),
    // one anti-join against the edge set, one degree join — all
    // key-partitioned, all integer arithmetic.
    GraftQuery(
      "q_link_predict",
      (s, dir) => {
        val cp = Tables(s, dir, "orders")
          .join(Tables(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p")).distinct()
          .localCheckpoint(false)
        val und = copurchaseEdges(cp, minShared = 4)
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct().localCheckpoint(false)
        linkPredict(und, k = 5).orderBy("x", "rk")
      },
      Some("""WITH cp AS (
             |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
             |e0 AS MATERIALIZED (
             |  SELECT c1.c AS a, c2.c AS b
             |  FROM cp c1 JOIN cp c2 ON c1.p = c2.p AND c1.c < c2.c
             |  GROUP BY 1, 2 HAVING count(*) >= 4),
             |bi AS MATERIALIZED (
             |  SELECT a AS u, b AS v FROM e0 UNION SELECT b, a FROM e0),
             |deg AS (SELECT u AS node, count(*) AS deg FROM bi GROUP BY u),
             |cand AS (
             |  SELECT w.x, w.y, count(*) AS cn FROM (
             |    SELECT b1.u AS x, b2.v AS y
             |    FROM bi b1 JOIN bi b2 ON b1.v = b2.u AND b1.u < b2.v) w
             |  LEFT JOIN e0 ON e0.a = w.x AND e0.b = w.y
             |  WHERE e0.a IS NULL
             |  GROUP BY w.x, w.y),
             |scored AS (
             |  SELECT c.x, c.y, c.cn,
             |    CAST((CAST(1000000 AS HUGEINT) * c.cn)
             |      // (dx.deg + dy.deg - c.cn) AS BIGINT) AS jaccard_micros,
             |    dx.deg * dy.deg AS pref_attach,
             |    row_number() OVER (PARTITION BY c.x ORDER BY c.cn DESC, c.y) AS rk
             |  FROM cand c
             |  JOIN deg dx ON dx.node = c.x
             |  JOIN deg dy ON dy.node = c.y)
             |SELECT x, y, cn, jaccard_micros, pref_attach, rk
             |FROM scored WHERE rk <= 5 ORDER BY x, rk""".stripMargin),
    ),

    // Deterministic random-walk corpus over the co-purchase graph: from
    // every node, a 3-step walk whose "random" neighbor choice is a hash
    // of (current node, step) modulo the sorted adjacency size — the
    // node2vec-style walk generator a graph-embedding trainer feeds on,
    // made engine-exact (both engines replay the identical arithmetic,
    // so the oracle hash-checks every visited node). Adjacency build is
    // one sort-aggregated shuffle; each step is a key-partitioned join
    // against it. At 100 TB: walks per node × steps joins, each
    // frontier-sized, no state beyond the adjacency table.
    GraftQuery(
      "q_random_walks",
      (s, dir) => {
        val cp = Tables(s, dir, "orders")
          .join(Tables(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p")).distinct()
          .localCheckpoint(false)
        // checkpoint: the walk builds bi from und TWICE (both union
        // branches) — uncheckpointed, the whole co-purchase self-join
        // would run twice
        val und = copurchaseEdges(cp, minShared = 4)
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct().localCheckpoint(false)
        randomWalks(und, steps = 3).orderBy("node")
      },
      Some("""WITH cp AS (
             |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
             |e0 AS MATERIALIZED (
             |  SELECT c1.c AS a, c2.c AS b
             |  FROM cp c1 JOIN cp c2 ON c1.p = c2.p AND c1.c < c2.c
             |  GROUP BY 1, 2 HAVING count(*) >= 4),
             |bi AS MATERIALIZED (
             |  SELECT a AS u, b AS v FROM e0 UNION SELECT b, a FROM e0),
             |adj AS (
             |  SELECT u AS node, list_sort(list(v)) AS nbrs, count(*) AS deg
             |  FROM bi GROUP BY u),
             |w1 AS (
             |  SELECT node,
             |    nbrs[CAST(1 + ((node % 1048573) * 2654435761 + 1 * 40503) % 1048573 % deg AS INT)] AS h1
             |  FROM adj),
             |w2 AS (
             |  SELECT w1.node, w1.h1,
             |    a.nbrs[CAST(1 + ((w1.h1 % 1048573) * 2654435761 + 2 * 40503) % 1048573 % a.deg AS INT)] AS h2
             |  FROM w1 JOIN adj a ON a.node = w1.h1),
             |w3 AS (
             |  SELECT w2.node, w2.h1, w2.h2,
             |    a.nbrs[CAST(1 + ((w2.h2 % 1048573) * 2654435761 + 3 * 40503) % 1048573 % a.deg AS INT)] AS h3
             |  FROM w2 JOIN adj a ON a.node = w2.h2)
             |SELECT node, h1, h2, h3 FROM w3 ORDER BY node""".stripMargin),
    ),

    // Weighted shortest paths from the nation-0 customer seeds through
    // the undirected purchase graph (cust↔supplier, weight = lineitem
    // multiplicity): "cheapest supply-chain path to a confirmed-bad
    // account", 4 Bellman-Ford rounds. The oracle replays the textbook
    // unrolled relaxation rounds; the Spark side's frontier optimization
    // is provably identical (doc at [[sssp]]).
    GraftQuery(
      "q_sssp",
      (s, dir) => {
        // checkpoint: both directions of the undirected union read `raw`,
        // and sssp's min-collapse groupBy reads the union — without the
        // pin the orders⋈lineitem aggregate runs twice
        val raw = Tables(s, dir, "orders")
          .join(Tables(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey").as("src"),
            (col("l_suppkey").cast("long") + lit(10000000L)).as("dst"))
          .agg(count(lit(1)).as("w")).localCheckpoint(false)
        val und = raw.unionByName(
          raw.select(col("dst").as("src"), col("src").as("dst"), col("w")))
        val seeds = Tables(s, dir, "customer")
          .filter(col("c_nationkey") === 0)
          .select(col("c_custkey").as("id"))
        sssp(seeds, und, rounds = 4).orderBy("node")
      },
      Some {
        val rounds = (1 to 4).map { i =>
          s"""d$i AS (
             |  SELECT node, min(dist) AS dist FROM (
             |    SELECT node, dist FROM d${i - 1}
             |    UNION ALL
             |    SELECT e.dst AS node, d.dist + e.w AS dist
             |    FROM d${i - 1} d JOIN e ON e.src = d.node)
             |  GROUP BY node)""".stripMargin
        }
        (Seq(
          """WITH raw AS MATERIALIZED (
            |  SELECT o_custkey AS src, CAST(l_suppkey AS BIGINT) + 10000000 AS dst,
            |    count(*) AS w
            |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
            |  GROUP BY 1, 2),
            |e AS MATERIALIZED (
            |  SELECT src, dst, w FROM raw UNION ALL SELECT dst, src, w FROM raw),
            |d0 AS (
            |  SELECT c_custkey AS node, CAST(0 AS BIGINT) AS dist
            |  FROM customer WHERE c_nationkey = 0)""".stripMargin) ++ rounds)
          .mkString(",\n") +
          "\nSELECT node, dist FROM d4 ORDER BY node"
      },
    ),

    // Strongly connected components of a deterministic directed graph
    // over the customers (two hash successors per node — an out-degree-2
    // digraph whose cyclic core is nontrivial): the money-flow /
    // link-farm detector where mutual reachability, not mere
    // connectivity, is the signal. The oracle does NOT replay the
    // algorithm — it verifies the DEFINITION via a recursive-CTE
    // transitive closure (scc_id = min mutually-reachable node), so a
    // hash match proves the distributed coloring/Tarjan result is the
    // true SCC partition.
    GraftQuery(
      "q_scc",
      (s, dir) => {
        val cust = Tables(s, dir, "customer")
        val n = cust.count()
        val edges = cust.select(col("c_custkey").as("src"),
            (lit(1) + (col("c_custkey") * 7919 + 13) % n).cast("long").as("dst"))
          .unionByName(cust.select(col("c_custkey").as("src"),
            (lit(1) + (col("c_custkey") * 104729 + 7) % n).cast("long").as("dst")))
        scc(edges).orderBy("node")
      },
      Some("""WITH RECURSIVE g AS MATERIALIZED (
             |  SELECT src, dst FROM (
             |    SELECT c_custkey AS src,
             |      1 + (c_custkey * 7919 + 13) % (SELECT count(*) FROM customer) AS dst
             |    FROM customer
             |    UNION
             |    SELECT c_custkey,
             |      1 + (c_custkey * 104729 + 7) % (SELECT count(*) FROM customer)
             |    FROM customer)
             |  WHERE src <> dst),
             |nodes AS (SELECT src AS node FROM g UNION SELECT dst FROM g),
             |reach AS (
             |  SELECT src AS s, dst AS d FROM g
             |  UNION
             |  SELECT r.s, g.dst FROM reach r JOIN g ON g.src = r.d),
             |mutual AS (
             |  SELECT a.s AS node, a.d AS m
             |  FROM reach a JOIN reach b ON a.s = b.d AND a.d = b.s)
             |SELECT node, min(m) AS scc_id FROM (
             |  SELECT node, node AS m FROM nodes
             |  UNION ALL
             |  SELECT node, m FROM mutual)
             |GROUP BY node ORDER BY node""".stripMargin),
    ),

    // Degree assortativity of the co-purchase graph: the Pearson
    // correlation of endpoint degrees over every edge (both
    // orientations, the standard Newman 2002 estimator) — positive
    // means hubs buy with hubs (the mixing signal that separates
    // social-style graphs from transaction stars). One degree
    // aggregate + two key-partitioned joins + one corr; house 1e-4
    // rounding guard on the single double.
    GraftQuery(
      "q_assortativity",
      (s, dir) => {
        val cp = Tables(s, dir, "orders")
          .join(Tables(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p")).distinct()
          .localCheckpoint(false)
        val und = copurchaseEdges(cp, minShared = 4)
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct().localCheckpoint(false)
        val bi = und.select(col("a").as("u"), col("b").as("v"))
          .union(und.select(col("b").as("u"), col("a").as("v")))
        val deg = bi.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
        bi.join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
          .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
          .agg(
            (floor(corr(col("du").cast("double"), col("dv").cast("double"))
              * lit(1e4) + lit(0.5)) / lit(1e4)).as("assortativity"),
            (count(lit(1)) / 2).cast("long").as("n_edges"))
      },
      Some("""WITH cp AS (
             |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
             |e0 AS MATERIALIZED (
             |  SELECT c1.c AS a, c2.c AS b
             |  FROM cp c1 JOIN cp c2 ON c1.p = c2.p AND c1.c < c2.c
             |  GROUP BY 1, 2 HAVING count(*) >= 4),
             |bi AS MATERIALIZED (
             |  SELECT a AS u, b AS v FROM e0 UNION SELECT b, a FROM e0),
             |deg AS (SELECT u AS node, count(*) AS deg FROM bi GROUP BY u)
             |SELECT
             |  floor(corr(CAST(x.deg AS DOUBLE), CAST(y.deg AS DOUBLE))
             |    * 1e4 + 0.5) / 1e4 AS assortativity,
             |  CAST(count(*) / 2 AS BIGINT) AS n_edges
             |FROM bi JOIN deg x ON x.node = bi.u JOIN deg y ON y.node = bi.v""".stripMargin),
    ),

    // Pseudo-diameter of the co-purchase graph by the classic double
    // sweep, capped at a 6-hop horizon: BFS from the minimum node, take
    // the farthest node (tie → min id), BFS again from it — the second
    // eccentricity lower-bounds the true diameter and is exact on trees.
    // The graph-health number ("how stretched is this network") a
    // topology monitor tracks. Two frontier BFS passes over the same
    // edge build; the two 1-row farthest-node picks are the only driver
    // round-trips (k-bounded by construction).
    GraftQuery(
      "q_pseudo_diameter",
      (s, dir) => {
        import s.implicits._
        val cp = Tables(s, dir, "orders")
          .join(Tables(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p")).distinct()
          .localCheckpoint(false)
        val edges = copurchaseEdges(cp, minShared = 4).localCheckpoint(false)
        val s1 = edges.agg(least(min("src"), min("dst"))).collect()(0).getLong(0)
        def sweep(from: Long): (Long, Long) = {
          val far = bfsHops(Seq(from).toDF("id"), edges, maxHops = 6)
            .orderBy(col("hops").desc, col("node")).limit(1).collect()(0)
          (far.getLong(0), far.getInt(1).toLong)
        }
        val (far1, ecc1) = sweep(s1)
        val (far2, ecc2) = sweep(far1)
        Seq((s1, far1, ecc1, far2, ecc2))
          .toDF("start_node", "far1", "ecc1", "far2", "pseudo_diameter")
      },
      Some("""WITH RECURSIVE cp AS (
             |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
             |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
             |e0 AS MATERIALIZED (
             |  SELECT c1.c AS a, c2.c AS b
             |  FROM cp c1 JOIN cp c2 ON c1.p = c2.p AND c1.c < c2.c
             |  GROUP BY 1, 2 HAVING count(*) >= 4),
             |bi AS MATERIALIZED (
             |  SELECT a AS u, b AS v FROM e0 UNION SELECT b, a FROM e0),
             |s1 AS (SELECT min(u) AS s FROM bi),
             |r1(node, d) AS (
             |  SELECT s, 0 FROM s1
             |  UNION
             |  SELECT bi.v, r.d + 1 FROM r1 r JOIN bi ON bi.u = r.node
             |  WHERE r.d < 6),
             |f1 AS (
             |  SELECT node AS far1, CAST(min_d AS BIGINT) AS ecc1 FROM (
             |    SELECT node, min(d) AS min_d FROM r1 GROUP BY node)
             |  ORDER BY min_d DESC, node LIMIT 1),
             |r2(node, d) AS (
             |  SELECT far1, 0 FROM f1
             |  UNION
             |  SELECT bi.v, r.d + 1 FROM r2 r JOIN bi ON bi.u = r.node
             |  WHERE r.d < 6),
             |f2 AS (
             |  SELECT node AS far2, CAST(min_d AS BIGINT) AS ecc2 FROM (
             |    SELECT node, min(d) AS min_d FROM r2 GROUP BY node)
             |  ORDER BY min_d DESC, node LIMIT 1)
             |SELECT s1.s AS start_node, f1.far1, f1.ecc1,
             |  f2.far2, f2.ecc2 AS pseudo_diameter
             |FROM s1, f1, f2""".stripMargin),
    ),

    // 6-truss of the minShared=4 co-purchase graph: the edges embedded in
    // ≥ 4 triangles after peeling — the cohesion backbone one notch
    // stricter than q_kcore's node-degree tiers (an edge must sit in
    // dense COMMON neighborhoods, so chains and stars that survive a
    // degree peel fall out here). The oracle replays the identical
    // support peel; its unroll depth is ENGINE-DERIVED at verify time
    // (oracleGen runs the serial peel once to count the passes, then
    // unrolls exactly that many — never too shallow without the final
    // comparison catching it, never the fixed-depth gamble the q_msf
    // oracle was called out for).
    GraftQuery(
      "q_ktruss",
      (s, dir) => {
        val cp = Tables(s, dir, "orders")
          .join(Tables(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p")).distinct()
          .localCheckpoint(false)
        ktruss(copurchaseEdges(cp, minShared = 4), k = 6).orderBy("a", "b")
      },
      None,
      oracleGen = Some((s, dir) => {
        import s.implicits._
        val cp = Tables(s, dir, "orders")
          .join(Tables(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p")).distinct()
        val es = copurchaseEdges(cp, minShared = 4)
          .select(col("src"), col("dst")).as[(Long, Long)].collect().toSeq
        val rounds = ktrussPeelRounds(es, 6)
        val head =
          """WITH cp AS (
            |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
            |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
            |e1 AS MATERIALIZED (
            |  SELECT c1.c AS a, c2.c AS b
            |  FROM cp c1 JOIN cp c2 ON c1.p = c2.p AND c1.c < c2.c
            |  GROUP BY 1, 2 HAVING count(*) >= 4)""".stripMargin
        def supSql(i: Int): String =
          s"""bi$i AS MATERIALIZED (
             |  SELECT a AS u, b AS v FROM e$i UNION SELECT b, a FROM e$i),
             |sup$i AS MATERIALIZED (
             |  SELECT e.a, e.b, count(*) AS c
             |  FROM e$i e JOIN bi$i x ON x.u = e.a
             |              JOIN bi$i y ON y.u = e.b AND y.v = x.v
             |  GROUP BY 1, 2)""".stripMargin
        def nextSql(i: Int): String =
          s"""e${i + 1} AS MATERIALIZED (
             |  SELECT e.a, e.b FROM e$i e
             |  JOIN sup$i s ON s.a = e.a AND s.b = e.b AND s.c >= 4)""".stripMargin
        val body = (1 until rounds).map(i => supSql(i) + ",\n" + nextSql(i)) :+ supSql(rounds)
        (head +: body).mkString(",\n") +
          s"""
             |SELECT e.a, e.b, s.c AS support
             |FROM e$rounds e JOIN sup$rounds s ON s.a = e.a AND s.b = e.b
             |ORDER BY e.a, e.b""".stripMargin
      }),
    ),

    // Full core decomposition of the co-purchase graph, capped at k=4:
    // every customer's embeddedness tier in one column — the feature a
    // risk model wants instead of the single k=3 membership bit q_kcore
    // gives it. At fixture scale this is ONE serial Matula–Beck pass
    // (the endgame); the oracle replays the definition as three
    // independent unrolled peels (k = 2, 3, 4 — same 32-round chains as
    // q_kcore's) and takes each node's max surviving k.
    GraftQuery(
      "q_coreness",
      (s, dir) => {
        val cp = Tables(s, dir, "orders")
          .join(Tables(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p")).distinct()
          .localCheckpoint(false)
        val e = copurchaseEdges(cp, minShared = 4)
        coreness(e, maxK = 4).orderBy("node")
      },
      Some {
        def chain(k: Int): String = {
          val head = s"e${k}_0 AS MATERIALIZED (SELECT a, b FROM e0)"
          val rs = (1 to KcoreOracleRounds).map { i =>
            s"""k${k}_$i AS MATERIALIZED (
               |  SELECT id FROM (
               |    SELECT a AS id FROM e${k}_${i - 1} UNION ALL SELECT b FROM e${k}_${i - 1})
               |  GROUP BY id HAVING count(*) >= $k),
               |e${k}_$i AS MATERIALIZED (
               |  SELECT a, b FROM e${k}_${i - 1}
               |  JOIN k${k}_$i ka ON ka.id = a JOIN k${k}_$i kb ON kb.id = b)""".stripMargin
          }
          (head +: rs).mkString(",\n")
        }
        val surv = (2 to 4).map { k =>
          s"""SELECT id, $k AS k FROM (
             |    SELECT a AS id FROM e${k}_$KcoreOracleRounds
             |    UNION SELECT b FROM e${k}_$KcoreOracleRounds)""".stripMargin
        }
        (Seq(
          """WITH cp AS (
            |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
            |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
            |e0 AS MATERIALIZED (
            |  SELECT c1.c AS a, c2.c AS b
            |  FROM cp c1 JOIN cp c2 ON c1.p = c2.p AND c1.c < c2.c
            |  GROUP BY 1, 2 HAVING count(*) >= 4)""".stripMargin) ++
          (2 to 4).map(chain)).mkString(",\n") +
          s"""
             |SELECT node, CAST(max(k) AS INT) AS coreness FROM (
             |  SELECT a AS node, 1 AS k FROM e0
             |  UNION ALL SELECT b, 1 FROM e0
             |  UNION ALL ${surv.mkString("\n  UNION ALL ")})
             |GROUP BY node ORDER BY node""".stripMargin
      },
    ),

    // Minimum spanning forest of the weighted purchase graph (weight =
    // lineitem multiplicity): the cheapest backbone connecting every
    // customer and supplier — the skeleton a network-simplification /
    // hierarchy-extraction pass keeps. Unique under the strict
    // (w, a, b) order, so the oracle's unrolled Borůvka must produce the
    // IDENTICAL edge set to whichever strategy the Spark side took. The
    // unroll depth is DERIVED from the fixture (oracleGen): Borůvka at
    // least halves the component count per round, so ceil(log2(nodes))
    // rounds are guaranteed sufficient for ANY graph shape —
    // |customer| + |supplier| upper-bounds the node count, so the bound
    // holds without reading the edges (ADVICE r15: the earlier fixed
    // 12-round unroll only GUARANTEED 4096 initial components and was
    // converging on sf0.1's ~16k nodes by hub luck, not by proof).
    // Converged extra rounds are cheap: ce_i is empty, sel_i empty.
    GraftQuery(
      "q_msf",
      (s, dir) => {
        val raw = Tables(s, dir, "orders")
          .join(Tables(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey").as("a"),
            (col("l_suppkey").cast("long") + lit(10000000L)).as("b"))
          .agg(count(lit(1)).as("w"))
        msf(raw).orderBy("a", "b")
      },
      None,
      oracleGen = Some((s, dir) => {
        val n = Tables(s, dir, "customer").count() +
          Tables(s, dir, "supplier").count()
        val rounds = math.max(1,
          math.ceil(math.log(math.max(n, 2).toDouble) / math.log(2.0)).toInt)
        (Seq(
          """WITH RECURSIVE e AS MATERIALIZED (
            |  SELECT o_custkey AS a, CAST(l_suppkey AS BIGINT) + 10000000 AS b,
            |    count(*) AS w
            |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
            |  GROUP BY 1, 2),
            |comp0 AS (
            |  SELECT node, node AS c
            |  FROM (SELECT a AS node FROM e UNION SELECT b FROM e))""".stripMargin) ++
          (1 to rounds).map(msfRoundSql)).mkString(",\n") +
          "\nSELECT a, b, w FROM (" +
          (1 to rounds).map(i => s"SELECT a, b, w FROM sel$i").mkString(" UNION ") +
          ") ORDER BY a, b"
      }),
    ),
  )

  /** One oracle Borůvka round: cross-component edges under comp_{i-1},
    * per-component minimum by the strict (w, a, b) order, then component
    * merge via a recursive-CTE closure over the picked edges (min label
    * in each merged group).
    */
  private def msfRoundSql(i: Int): String =
    s"""ce$i AS MATERIALIZED (
       |  SELECT e.a, e.b, e.w, x.c AS ca, y.c AS cb
       |  FROM e JOIN comp${i - 1} x ON x.node = e.a
       |         JOIN comp${i - 1} y ON y.node = e.b
       |  WHERE x.c <> y.c),
       |sel$i AS MATERIALIZED (
       |  SELECT DISTINCT a, b, w FROM (
       |    SELECT c, a, b, w,
       |      row_number() OVER (PARTITION BY c ORDER BY w, a, b) AS rn
       |    FROM (SELECT ca AS c, a, b, w FROM ce$i
       |          UNION ALL SELECT cb, a, b, w FROM ce$i))
       |  WHERE rn = 1),
       |ge$i AS MATERIALIZED (
       |  SELECT x.c AS u, y.c AS v
       |  FROM sel$i s JOIN comp${i - 1} x ON x.node = s.a
       |               JOIN comp${i - 1} y ON y.node = s.b),
       |bi$i AS MATERIALIZED (SELECT u, v FROM ge$i UNION SELECT v, u FROM ge$i),
       |reach$i AS (
       |  SELECT u, v FROM bi$i
       |  UNION
       |  SELECT r.u, b.v FROM reach$i r JOIN bi$i b ON b.u = r.v),
       |nl$i AS MATERIALIZED (
       |  SELECT u AS c, least(u, min(v)) AS nc FROM reach$i GROUP BY u),
       |comp$i AS MATERIALIZED (
       |  SELECT p.node, coalesce(n.nc, p.c) AS c
       |  FROM comp${i - 1} p LEFT JOIN nl$i n ON n.c = p.c)""".stripMargin
}
