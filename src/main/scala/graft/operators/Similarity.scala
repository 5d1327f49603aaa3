package graft.operators

import graft.{GraftConf, GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Public DataFrame-level API ([[bruteForceTopK]], [[bucketedTopK]],
  * [[signLshTopK]], [[nearDupPairs]]) over any (id, vector[, bucket]) frame;
  * the verify queries below delegate to it against the `embeddings` fixture.
  *
  * Embeddings are quantized to integers (×1000, round-half-up — the int16
  * quantization standard for ANN at scale): dot products and norms become
  * exact integer arithmetic, so results are bit-identical across engines and
  * partitionings (a float dot product would differ in the low bits by
  * summation order). Cosine is then derived in double from the exact
  * integers.
  *
  * Scale notes (100 TB): every variant — including brute-force exact — runs
  * through ONE tiled pair-scan scaffold with no driver-side data movement.
  * Each bucket (the whole corpus counts as one bucket for the exact paths)
  * is split into T = ⌈bucket/[[MaxTileRows]]⌉ tiles; a row is shuffled once
  * per tile it must meet (T replicas), and each (bucket, query-tile,
  * corpus-tile) cell is an independent task whose heap holds at most ONE
  * corpus tile (queries stream through). Skewed buckets therefore fan out
  * into bounded cells instead of landing on one task, and no task — and no
  * driver — ever materializes the corpus.
  */
object Similarity {

  /** Upper bound on the corpus rows a single kernel task materializes; also
    * the tile width, so per-cell work is ≤ MaxTileRows² dot products. 2048
    * 64-dim long vectors ≈ 1 MB heap per task.
    */
  private[graft] val MaxTileRows = 2048L

  /** transform(vec, x -> round-half-up(x*1000) as bigint) */
  private def quantized(vecCol: String): Column =
    transform(col(vecCol), x => floor(x.cast("double") * lit(1000.0) + lit(0.5)).cast("long"))

  private val quantizedSql =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))"

  /** Exact integer dot product of two quantized vector columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Quantize + norm: (idCol, vecCol, ...) → (__bucket, __id, nrm, q).
    * No bucket column means one global bucket (the exact all-pairs paths).
    */
  private def prepare(df: DataFrame, idCol: String, vecCol: String,
      bucketCol: Option[String] = None): DataFrame = {
    val bucket = bucketCol.map(b => col(b).cast("long")).getOrElse(lit(0L))
    df.withColumn("q", quantized(vecCol))
      .withColumn("nrm", dot(col("q"), col("q")))
      .select(bucket.as("__bucket"), col(idCol).cast("long").as("__id"),
        col("nrm"), col("q"))
  }

  /** Distributed tiled pair scan: runs `kernel(query, corpusTile)` for every
    * (query row, corpus tile) cell of every bucket, with corpus tiles capped
    * at [[MaxTileRows]] rows. Bucket sizes come from a map-side-combined
    * aggregate joined back (bucket-count-sized — AQE broadcasts it); each row
    * is then replicated to the T cells it participates in per side and
    * cogrouped on (bucket, qTile, cTile). Output: (query_id, neighbor_id,
    * cos) with `cos` exactly as the kernel emitted it.
    */
  private def tiledPairScan(
      prepared: DataFrame,
      kernel: (Long, Long, Array[Long], Array[(Long, Long, Array[Long])]) => Iterator[(Long, Long, Double)],
      maxTile: Long,
  ): DataFrame = tiledPairScan2(prepared, prepared, kernel, maxTile)

  /** A tiled scan's corpus frame, pinned once. Lazy localCheckpoint, NOT
    * Dataset.persist: persist registers the frame in the session
    * CacheManager and leaks cached blocks until an explicit
    * unpersist/clearCache (the operator returns lazily, so there is no
    * unpersist-after-use point inside it). A localCheckpoint caches at the
    * RDD layer (MEMORY_AND_DISK, spill-safe, computed once on the first
    * action) and the ContextCleaner frees the blocks as soon as the caller
    * drops the returned frame — no session-lifetime leak. Cost: lineage is
    * truncated, so on a real cluster losing an executor's blocks fails the
    * job instead of recomputing (same trade [[Dedup.clusterPairs]] makes
    * for its iteration frames). Deployments with dynamic allocation /
    * preemptible executors, where block loss is routine rather than
    * exceptional, set GraftConf.Materialize to persist to keep full
    * lineage instead — accepting that the caller must unpersist (or
    * clearCache) after consuming the result. */
  private def materialized(df: DataFrame): DataFrame =
    if (GraftConf.Materialize.get(df.sparkSession) == "persist")
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else df.localCheckpoint(false)

  /** Two-sided form: the query frame and the corpus frame may differ (e.g.
    * multi-probe LSH replicates each query row to several buckets while the
    * corpus keeps one bucket per row). Tile counts come from the CORPUS
    * bucket sizes (the corpus is what a task materializes); query buckets
    * with no corpus rows drop out in the inner size join.
    */
  private def tiledPairScan2(
      qPrepared: DataFrame,
      cPrepared: DataFrame,
      kernel: (Long, Long, Array[Long], Array[(Long, Long, Array[Long])]) => Iterator[(Long, Long, Double)],
      maxTile: Long,
  ): DataFrame = {
    val s = cPrepared.sparkSession
    import s.implicits._
    // The CORPUS frame feeds three subplans (size aggregate, query side,
    // corpus side); without materialization the quantization — and for the
    // LSH paths the 8×Dim primitive plane-dot map — would run 3×.
    // A distinct query frame feeds exactly ONE subplan — materializing it
    // would be pure write overhead.
    val cP = materialized(cPrepared)
    val qP = if (qPrepared eq cPrepared) cP else qPrepared
    val sizes = cP.groupBy("__bucket").agg(count(lit(1)).as("__n"))
    def sized(df: DataFrame) = df.join(sizes, "__bucket")
      .select(col("__bucket"), col("__id"), col("nrm"), col("q"), col("__n"))
      .as[(Long, Long, Long, Array[Long], Long)]
    val qSide = sized(qP).flatMap { case (b, id, nrm, q, n) =>
      val t = Tiling.tilesFor(n, maxTile)
      val qt = Tiling.tileOf(id, t)
      Iterator.range(0, t).map(ct => (b, qt, ct, id, nrm, q))
    }
    val cSide = sized(cP).flatMap { case (b, id, nrm, q, n) =>
      val t = Tiling.tilesFor(n, maxTile)
      val ct = Tiling.tileOf(id, t)
      Iterator.range(0, t).map(qt => (b, qt, ct, id, nrm, q))
    }
    qSide.groupByKey(r => (r._1, r._2, r._3))
      .cogroup(cSide.groupByKey(r => (r._1, r._2, r._3))) { (_, qs, cs) =>
        val corpus = cs.map { case (_, _, _, id, n, v) => (id, n, v) }.toArray.sortBy(_._1)
        if (corpus.isEmpty) Iterator.empty
        else qs.flatMap { case (_, _, _, qid, qn, qv) => kernel(qid, qn, qv, corpus) }
      }
      .toDF("query_id", "neighbor_id", "cos")
  }

  /** Tight-loop top-k kernel over primitive arrays: for one query vector,
    * scan a corpus slice and keep the best `k` by (cos desc, neighbor_id
    * asc). Exact integer dots; emits the UNROUNDED cosine so per-tile
    * partials merge on exactly the values a single global scan would rank.
    * Neighbors whose vector length differs from the query's are skipped
    * (mixed-length corpora: no partial dot, no out-of-bounds read).
    */
  private[operators] def topKScan(
      qid: Long, qn: Long, qv: Array[Long],
      corpus: Array[(Long, Long, Array[Long])],
      k: Int,
  ): Iterator[(Long, Long, Double)] = {
    val top = new Array[(Long, Double)](k)
    var filled = 0
    var i = 0
    while (i < corpus.length) {
      val (nid, nn, nv) = corpus(i)
      if (nid != qid && nv.length == qv.length) {
        var dot = 0L
        var j = 0
        while (j < qv.length) { dot += qv(j) * nv(j); j += 1 }
        val cos = dot.toDouble / (math.sqrt(qn.toDouble) * math.sqrt(nn.toDouble))
        var pos = filled
        while (pos > 0 && {
          val (pid, pcos) = top(pos - 1)
          pcos < cos || (pcos == cos && pid > nid)
        }) pos -= 1
        if (pos < k) {
          var m = math.min(filled, k - 1)
          while (m > pos) { top(m) = top(m - 1); m -= 1 }
          top(pos) = (nid, cos)
          if (filled < k) filled += 1
        }
      }
      i += 1
    }
    Iterator.range(0, filled).map(r => (qid, top(r)._1, top(r)._2))
  }

  /** Merge per-tile top-k partials into the global top-k per query: the
    * global top-k is contained in the union of per-tile top-ks. Ranked by
    * the bounded [[graft.functions.TopMinPairs]] aggregate on the same
    * (cos desc, neighbor_id asc) order the kernel used — descending via
    * exact negation — so per-tile partials combine map-side into one
    * ≤k-pair state per (partition, query) and the exchange never carries
    * every partial row through a global sort the way the old row_number
    * window did (round 12; the shortlist-cut fix, applied to the merge
    * step of every tiled top-k path). Rank = position in the aggregate's
    * sorted output, then the cosine rounds for output.
    */
  private def mergeTopK(partials: DataFrame, k: Int): DataFrame = {
    graft.functions.TopMinPairs.register(partials.sparkSession)
    partials.groupBy("query_id")
      .agg(expr(s"top_min_pairs(-cos, neighbor_id, $k)").as("__s"))
      .select(col("query_id"), posexplode(col("__s")).as(Seq("__i", "__e")))
      .select(col("query_id"), col("__e.id").as("neighbor_id"),
        (col("__i") + 1).as("rank"),
        (floor(-col("__e.v") * lit(1e6) + lit(0.5)) / lit(1e6)).as("cos"))
      .orderBy("query_id", "rank")
  }

  /** Brute-force exact cosine top-k per vector: the whole corpus as one
    * bucket of the tiled scaffold — fully distributed, no driver collect,
    * O(n²/T²) work per task. Output: (query_id, neighbor_id, rank, cos).
    */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      maxTileRows: Long = MaxTileRows): DataFrame = {
    val p = prepare(df, idCol, vecCol)
    mergeTopK(tiledPairScan(p, topKScan(_, _, _, _, k), maxTileRows), k)
  }

  /** IVF-style top-k within precomputed coarse buckets: one bucket per
    * coarse-quantizer cell, tiled when a cell outgrows [[MaxTileRows]].
    */
  def bucketedTopK(df: DataFrame, idCol: String, vecCol: String,
      bucketCol: String, k: Int, maxTileRows: Long = MaxTileRows): DataFrame = {
    val p = prepare(df, idCol, vecCol, Some(bucketCol))
    mergeTopK(tiledPairScan(p, topKScan(_, _, _, _, k), maxTileRows), k)
  }

  /** Deterministic pseudo-random hyperplanes for sign-LSH: integer weights
    * in [-3, 3] from a fixed mixing formula, materialized as array literals
    * on both engines so the bucket assignment is exact integer math.
    */
  private val NumPlanes = 8
  private val Dim = 64
  private def planeWeight(p: Int, d: Int): Int = ((p * 131 + d * 37 + 17) % 7) - 3
  private def planeArray(p: Int): Column =
    array((0 until Dim).map(d => lit(planeWeight(p, d).toLong)): _*)
  private def planeSqlList(p: Int): String =
    (0 until Dim).map(d => planeWeight(p, d).toString).mkString("[", ", ", "]")

  /** Sign-LSH bucket id column for a quantized vector column. */
  def lshBucket(q: Column): Column =
    (0 until NumPlanes).map { pl =>
      when(dot(q, planeArray(pl)) > 0, lit(1L << pl)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** DuckDB replay of [[lshBucket]] over a quantized list column named
    * `q` — shared with the hybrid-retrieval oracle (Retrieval.scala), so
    * the bucket arithmetic is written exactly once per engine.
    */
  private[operators] def lshBucketSql: String =
    (0 until NumPlanes).map(pl =>
      s"(CASE WHEN list_dot_product(q, ${planeSqlList(pl)}) > 0 THEN ${1L << pl} ELSE 0 END)")
      .mkString(" +\n")

  /** Sign-LSH top-k: bucket by hyperplane sign bits, tiled kernel per bucket.
    *
    * The bucket bits are computed in one primitive pass over the quantized
    * vector rather than via [[lshBucket]]'s 8 column-level `aggregate`
    * lambdas — higher-order functions are interpreted per element, which is
    * 8·dim interpreted evals per row in the hot path; the integer math (and
    * thus the bucket id and every result) is identical, including for
    * vectors whose length differs from Dim: there `lshBucket`'s zip_with
    * pads with nulls, the dot is null, no `when` fires, and the bucket is
    * 0 — the kernel short-circuits to bucket 0 for the same inputs rather
    * than computing a partial dot over the shared prefix. Inside bucket 0,
    * [[topKScan]]'s length guard keeps a 64-dim query from reading past a
    * shorter co-bucketed neighbor.
    */
  def signLshTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      maxTileRows: Long = MaxTileRows): DataFrame = {
    val prepared = lshPrepared(df, idCol, vecCol)
    mergeTopK(tiledPairScan(prepared, topKScan(_, _, _, _, k), maxTileRows), k)
  }

  /** Quantize + sign-LSH bucket via the primitive per-row pass (see
    * [[signLshTopK]] notes): (__bucket, __id, nrm, q).
    */
  private def lshPrepared(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val planes: Array[Array[Long]] =
      Array.tabulate(NumPlanes, Dim)((p, d) => planeWeight(p, d).toLong)
    prepare(df, idCol, vecCol)
      .select("__id", "q", "nrm")
      .as[(Long, Array[Long], Long)]
      .map { case (id, q, nrm) =>
        var bucket = 0L
        if (q.length == Dim) {
          var pl = 0
          while (pl < NumPlanes) {
            val w = planes(pl)
            var dot = 0L
            var d = 0
            while (d < Dim) { dot += q(d) * w(d); d += 1 }
            if (dot > 0) bucket |= 1L << pl
            pl += 1
          }
        }
        (bucket, id, nrm, q)
      }
      .toDF("__bucket", "__id", "nrm", "q")
  }

  /** Multi-probe sign-LSH top-k: each query searches its own bucket plus
    * the [[NumPlanes]] one-bit-flip neighbors — the standard recall lever
    * for sign-LSH (a vector near a hyperplane lands on either side with
    * ~equal probability, so most misses are exactly one flipped bit away).
    * Only the QUERY side replicates (NumPlanes+1 rows per vector); the
    * corpus keeps one bucket per row, so corpus shuffle volume is unchanged
    * and each (bucket, qTile, cTile) cell stays bounded. A neighbor can
    * appear in at most one probed bucket (rows have one bucket), so no
    * dedup is needed before the top-k merge.
    */
  def signLshTopKMultiProbe(df: DataFrame, idCol: String, vecCol: String, k: Int,
      maxTileRows: Long = MaxTileRows): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val prepared = lshPrepared(df, idCol, vecCol)
    val qMulti = prepared.as[(Long, Long, Long, Array[Long])]
      .flatMap { case (b, id, nrm, q) =>
        Iterator.single((b, id, nrm, q)) ++
          Iterator.range(0, NumPlanes).map(p => (b ^ (1L << p), id, nrm, q))
      }
      .toDF("__bucket", "__id", "nrm", "q")
    mergeTopK(tiledPairScan2(qMulti, prepared, topKScan(_, _, _, _, k), maxTileRows), k)
  }

  /** Embedding-cosine near-dup pairs (unordered, each computed once):
    * all pairs with cosine >= threshold, via the same tiled scaffold — the
    * pair (a, b), a < b, is evaluated exactly once, in the cell
    * (tile(a), tile(b)). Output: (vec_a, vec_b, cos).
    */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxTileRows: Long = MaxTileRows): DataFrame =
    nearDupPairsRaw(df, idCol, vecCol, threshold, maxTileRows)
      .orderBy("vec_a", "vec_b")

  /** [[nearDupPairs]] without the presentation sort — the composition form
    * ([[dbscan]] feeds the pairs straight into degree counts and a
    * component build, where a range exchange would be pure waste).
    */
  private def nearDupPairsRaw(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxTileRows: Long = MaxTileRows): DataFrame = {
    val p = prepare(df, idCol, vecCol)
    val pairs = tiledPairScan(p, (qid, qn, qv, corpus) => {
      corpus.iterator
        .filter { case (nid, _, nv) => nid > qid && nv.length == qv.length }
        .flatMap { case (nid, nn, nv) =>
          var dot = 0L
          var j = 0
          while (j < qv.length) { dot += qv(j) * nv(j); j += 1 }
          val cos = dot.toDouble / (math.sqrt(qn.toDouble) * math.sqrt(nn.toDouble))
          if (cos >= threshold) Some((qid, nid, math.floor(cos * 1e6 + 0.5) / 1e6))
          else None
        }
    }, maxTileRows)
    pairs.select(col("query_id").as("vec_a"), col("neighbor_id").as("vec_b"), col("cos"))
  }

  /** Deterministic pseudo-random hyperplanes for the BANDED blocked scan
    * below. [[planeWeight]]'s p-dependence is linear mod 7 (131 ≡ 5 mod
    * 7), so its plane patterns repeat with period 7 in p — harmless for
    * the 8-plane single-table LSH it serves (one redundant bit; the
    * oracle replays the identical arithmetic), but fatal for a multi-table
    * OR-construction, where tables built from repeated planes are
    * perfectly correlated and add zero recall. The multiplicative mix
    * below breaks the linearity; weights stay in [-3, 3].
    */
  private def rbWeight(p: Int, d: Int): Int = {
    val x = (p.toLong * 1000003L + d.toLong * 7919L + 12345L) * 2654435761L
    (Math.floorMod(x >> 13, 7L) - 3L).toInt
  }
  private[operators] def rbPlaneSqlList(p: Int): String =
    (0 until Dim).map(d => rbWeight(p, d).toString).mkString("[", ", ", "]")

  /** DuckDB replay of band `t`'s bucket id (bitsPerBand sign bits over the
    * [[rbWeight]] planes) for a quantized list column named `q`.
    */
  private[operators] def rbBucketSql(t: Int, bitsPerBand: Int): String =
    (0 until bitsPerBand).map { i =>
      s"(CASE WHEN list_dot_product(q, ${rbPlaneSqlList(t * bitsPerBand + i)}) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  /** BANDED sign-LSH blocked near-dup pairs — the classic multi-table
    * OR-construction (one band = one hash table of `bitsPerBand` sign
    * bits; a pair is a candidate iff it shares a bucket in ≥ 1 band),
    * then exact integer-cosine verification against `threshold`. The
    * result is a SUBSET of [[nearDupPairs]] with per-pair candidate
    * probability 1 − (1 − p^b)^L for p = 1 − θ/π — the measured fixture
    * grid and the regime analysis live in PLANS.md round 13: at the
    * near-dup thresholds this operator is FOR (τ ≥ ~0.7, SemDeDup-style
    * dense-region isolation), recall is ≥0.9 at ~3-10% of the exact
    * scan's work; at diffuse low thresholds (τ ≤ ~0.5, θ ≥ 60°) NO
    * sign-LSH blocking helps and the exact tiled scan is the production
    * path — that boundary is a property of random-hyperplane LSH, not of
    * this implementation.
    *
    * Shape: each row is replicated once per band (composite bucket =
    * band « bitsPerBand | bucket) through the tiled scaffold — candidate
    * work is Σ_bands Σ_buckets n_b²/2, never a global cross product —
    * and a pair found in several bands is collapsed by the final
    * distinct (its cos is computed identically in every cell). Rows
    * whose vector length ≠ [[Dim]] take a single replica in composite
    * bucket 0 (the same degenerate-bucket convention as [[lshPrepared]];
    * the kernel's length guard keeps them from partial dots). Output:
    * (vec_a, vec_b, cos), vec_a < vec_b, cos rounded to 1e-6 like the
    * exact path.
    */
  def blockedNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bands: Int = 8, bitsPerBand: Int = 4,
      maxTileRows: Long = MaxTileRows): DataFrame = {
    require(bands >= 1 && bitsPerBand >= 1 && bitsPerBand <= 16,
      s"need bands >= 1 and 1 <= bitsPerBand <= 16, got ($bands, $bitsPerBand)")
    val s = df.sparkSession
    import s.implicits._
    val planes: Array[Array[Long]] =
      Array.tabulate(bands * bitsPerBand, Dim)((p, d) => rbWeight(p, d).toLong)
    val nBands = bands
    val nBits = bitsPerBand
    val replicated = prepare(df, idCol, vecCol)
      .select("__id", "q", "nrm")
      .as[(Long, Array[Long], Long)]
      .flatMap { case (id, q, nrm) =>
        if (q.length != Dim) Iterator.single((0L, id, nrm, q))
        else Iterator.range(0, nBands).map { t =>
          var bucket = 0L
          var i = 0
          while (i < nBits) {
            val w = planes(t * nBits + i)
            var dot = 0L
            var d = 0
            while (d < Dim) { dot += q(d) * w(d); d += 1 }
            if (dot > 0) bucket |= 1L << i
            i += 1
          }
          ((t.toLong << nBits) | bucket, id, nrm, q)
        }
      }
      .toDF("__bucket", "__id", "nrm", "q")
    val pairs = tiledPairScan(replicated, (qid, qn, qv, corpus) => {
      corpus.iterator
        .filter { case (nid, _, nv) => nid > qid && nv.length == qv.length }
        .flatMap { case (nid, nn, nv) =>
          var dot = 0L
          var j = 0
          while (j < qv.length) { dot += qv(j) * nv(j); j += 1 }
          val cos = dot.toDouble / (math.sqrt(qn.toDouble) * math.sqrt(nn.toDouble))
          if (cos >= threshold) Some((qid, nid, math.floor(cos * 1e6 + 0.5) / 1e6))
          else None
        }
    }, maxTileRows)
    pairs.select(col("query_id").as("vec_a"), col("neighbor_id").as("vec_b"), col("cos"))
      .distinct()
  }

  /** Johnson–Lindenstrauss-style random projection of the quantized
    * embedding space onto `RpDims` integer axes: proj[r] = Σ_d q[d]·w(r,d)
    * with deterministic pseudo-random weights w ∈ [-2, 2] from the same
    * fixed mixing-formula family as the sign-LSH planes — materialized as
    * literals on both engines, so the projection is exact integer math
    * and bit-identical everywhere (the database-JL construction of Achlioptas
    * 2003 uses sparse ±1/0 entries for the same reason: integer-cheap).
    * One map-side pass, zero shuffle — dimensionality reduction ahead of
    * ANN indexing / clustering at scan speed. Rows whose vector length
    * differs from [[Dim]] are dropped (no partial projections). Output:
    * (vec_id, proj ARRAY<BIGINT> of length RpDims).
    */
  private[operators] val RpDims = 16
  private def rpWeight(r: Int, d: Int): Int = ((r * 197 + d * 59 + 23) % 5) - 2
  private[operators] def rpPlaneSqlList(r: Int): String =
    (0 until Dim).map(d => rpWeight(r, d).toString).mkString("[", ", ", "]")

  def randomProjection(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val planes: Array[Array[Long]] =
      Array.tabulate(RpDims, Dim)((r, d) => rpWeight(r, d).toLong)
    prepare(df, idCol, vecCol)
      .select("__id", "q")
      .as[(Long, Array[Long])]
      .flatMap { case (id, q) =>
        if (q.length != Dim) Iterator.empty
        else {
          val out = new Array[Long](RpDims)
          var r = 0
          while (r < RpDims) {
            val w = planes(r)
            var acc = 0L
            var d = 0
            while (d < Dim) { acc += q(d) * w(d); d += 1 }
            out(r) = acc
            r += 1
          }
          Iterator.single((id, out))
        }
      }
      .toDF("vec_id", "proj")
  }

  /** Deterministic distributed DBSCAN over an embedding column, with
    * cosine similarity ≥ `threshold` as the ε-neighborhood relation:
    *
    *   1. ε-pairs from the exact tiled self-scan ([[nearDupPairsRaw]] —
    *      at production scale the pair generator swaps for the LSH/IVF
    *      blocked variant; the steps below are unchanged);
    *   2. core points: |N(p)| ≥ minPts, neighborhood INCLUDING the point
    *      itself (the classical definition);
    *   3. clusters: connected components over the core–core ε-edges via
    *      [[Graph.connectedComponents]] (star contraction — O(log) rounds
    *      whatever the cluster shape), labeled by min core id;
    *   4. border points (non-core with ≥1 core ε-neighbor) join the
    *      MINIMUM-labeled cluster among their core neighbors — the
    *      deterministic tie-break for the assignment the sequential
    *      algorithm leaves scan-order-dependent; remaining points are
    *      noise (cluster −1).
    *
    * Output: (vec_id, role ∈ core|border|noise, cluster).
    */
  def dbscan(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, minPts: Int): DataFrame =
    dbscanFromPairs(df, idCol,
      nearDupPairsRaw(df, idCol, vecCol, threshold), minPts)

  /** [[dbscan]] with the ε-pair generator swapped for the banded
    * sign-LSH BLOCKED scan ([[blockedNearDupPairs]]) — the production
    * shape at 100 TB for the NEAR-DUP density regime (τ ≥ ~0.7), where
    * the exact all-pairs scan's n²/T² contract is the bottleneck and
    * banding recovers ≥0.9 of the ε-graph at a few percent of the work.
    * The computed ε-graph is a SUBSET of the exact one: degrees can
    * undercount, cores can demote, clusters can split — the semantics
    * are "DBSCAN over the LSH-blocked ε-graph", deterministic and
    * engine-exact (the oracle replays the band-bucket arithmetic), with
    * pair recall measured on the fixture and floored in
    * BlockedDbscanSpec rather than assumed. See [[blockedNearDupPairs]]
    * for the recall/work analysis and the low-τ boundary where blocking
    * stops paying.
    */
  def dbscanBlocked(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, minPts: Int, bands: Int = 8,
      bitsPerBand: Int = 4): DataFrame =
    dbscanFromPairs(df, idCol,
      blockedNearDupPairs(df, idCol, vecCol, threshold, bands, bitsPerBand),
      minPts)

  /** Steps 2-4 of [[dbscan]] over an externally supplied ε-pair frame
    * (vec_a, vec_b) — shared by the exact and blocked pair generators so
    * the role/cluster semantics are written once.
    */
  private def dbscanFromPairs(df: DataFrame, idCol: String,
      rawPairs: DataFrame, minPts: Int): DataFrame = {
    // pairs feed the degree count, the core edge set and the border join —
    // materialize once rather than re-running the tile scan per leg
    val pairs = rawPairs
      .select("vec_a", "vec_b").localCheckpoint(false)
    val bi = pairs.select(col("vec_a").as("id"), col("vec_b").as("nb"))
      .union(pairs.select(col("vec_b").as("id"), col("vec_a").as("nb")))
    val deg = bi.groupBy("id").agg(count(lit(1)).as("__deg"))
    val roles = df.select(col(idCol).cast("long").as("id"))
      .join(deg, Seq("id"), "left")
      .select(col("id"),
        (coalesce(col("__deg"), lit(0L)) + 1L >= minPts).as("is_core"))
      .localCheckpoint(false)
    val coreIds = roles.filter(col("is_core")).select("id")
    val coreEdges = pairs
      .join(coreIds.select(col("id").as("vec_a")), Seq("vec_a"), "left_semi")
      .join(coreIds.select(col("id").as("vec_b")), Seq("vec_b"), "left_semi")
      .select(col("vec_a").as("src"), col("vec_b").as("dst"))
    val cc = Graph.connectedComponents(coreIds, coreEdges)
    val borderLab = bi.join(roles, Seq("id"))
      .filter(!col("is_core"))
      .join(cc.select(col("node").as("nb"), col("component").as("__c")), Seq("nb"))
      .groupBy("id").agg(min("__c").as("__bc"))
    roles
      .join(cc.select(col("node").as("id"), col("component").as("__cc")), Seq("id"), "left")
      .join(borderLab, Seq("id"), "left")
      .select(col("id").as("vec_id"),
        when(col("is_core"), lit("core"))
          .when(col("__bc").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("__cc"), col("__bc"), lit(-1L)).as("cluster"))
  }

  // ---- product quantization (ADC) ----------------------------------------

  private val PqSubs = 8    // subspaces; PqSubs * PqSubDim == Dim
  private val PqSubDim = 8
  private val PqCodes = 16  // codewords per subspace
  private val MaxPqCodes = 256 // 8-bit packed ADC layout (one byte per sub)

  /** Corpus-tile cap for the PACKED ADC paths — kept EQUAL to the cosine
    * scaffold's [[MaxTileRows]] after a measured negative (round 13,
    * PLANS.md): packed tile rows are only 16 bytes, so an 8192-row cap
    * looked free on memory and would quarter the per-(query, tile) LUT
    * rebuilds — but the z320k A/B read 98.0 s vs 87.5-90.0 at 2048 (one
    * 8192 leg crashed outright), because T also sets the (bucket, qtile,
    * ctile) group count and 64 cells × T=1 starves 32 cores and
    * concentrates skewed cells into single tasks. The serve is
    * shuffle/parallelism-bound, not kernel-bound. Results are
    * tile-size-invariant either way (TilingSpec). */
  private val MaxAdcTileRows = MaxTileRows

  /** Pack the [[PqSubs]] PQ codes of one corpus row into ONE long, one
    * byte per subspace (round 13, VERDICT #3 — the candidate-generation
    * lever): the ADC scan's per-candidate cost becomes a single primitive
    * long load plus [[PqSubs]] shift-mask flat-LUT lookups, instead of a
    * Tuple3 unbox + codes-array indirection + 2D jagged-LUT chase per
    * candidate. 8 bits/code caps the codebook at [[MaxPqCodes]] = 256
    * codewords — the classical PQ size and exactly the "8 BYTES in a
    * production uint8 layout" shape the operator doc promises at 100 TB.
    * Codes outside [0, nCodes) fail fast here (the legacy 2D LUT would
    * have thrown an opaque AIOOBE mid-scan on a foreign index). */
  private def packCodes(codes: Array[Long], nCodes: Int): Long = {
    var pk = 0L
    var sub = 0
    while (sub < PqSubs) {
      val c = codes(sub)
      if (c < 0 || c >= nCodes) throw new IllegalArgumentException(
        s"PQ code $c out of range for a $nCodes-codeword codebook " +
          "(index built with a different model?)")
      pk |= (c & 0xFFL) << (sub << 3)
      sub += 1
    }
    pk
  }

  /** Per-query flat ADC LUT: d²(query subvector, codeword) at slot
    * sub·nCodes + code — one contiguous primitive array (≤ 2 KB at 256
    * codes, L1-resident) instead of the jagged 2D table. */
  private def adcLutFlat(qres: Array[Long], cb: Array[Array[Array[Long]]],
      nCodes: Int): Array[Long] = {
    val lut = new Array[Long](PqSubs * nCodes)
    var sub = 0
    while (sub < PqSubs) {
      var c = 0
      while (c < nCodes) {
        var d = 0L
        var j = 0
        while (j < PqSubDim) {
          val t = qres(sub * PqSubDim + j) - cb(sub)(c)(j); d += t * t; j += 1
        }
        lut(sub * nCodes + c) = d
        c += 1
      }
      sub += 1
    }
    lut
  }

  /** Packed-tile ADC scan: top-`limit` smallest (adc, id) for one query
    * over aligned primitive (ids, packed-codes) tile arrays. Exact
    * integer sums, identical candidate order, self-exclusion, and
    * (adc asc, id asc) tie-breaks as the legacy array-codes loop — the
    * emitted values are bit-identical, only the per-candidate constant
    * changed. The insert keeps parallel primitive arrays (no Tuple2
    * allocation per accepted candidate); a candidate worse than the
    * full buffer's tail costs exactly one comparison. */
  private def adcScanTop(qid: Long, lutFlat: Array[Long], nCodes: Int,
      ids: Array[Long], pks: Array[Long],
      limit: Int): Iterator[(Long, Long, Double)] = {
    val topIds = new Array[Long](limit)
    val topAdc = new Array[Long](limit)
    var filled = 0
    var i = 0
    while (i < ids.length) {
      val nid = ids(i)
      if (nid != qid) {
        val pk = pks(i)
        var adc = 0L
        var sub = 0
        while (sub < PqSubs) {
          adc += lutFlat(sub * nCodes + ((pk >>> (sub << 3)) & 0xFFL).toInt)
          sub += 1
        }
        var pos = filled
        while (pos > 0 && {
          val padc = topAdc(pos - 1)
          padc > adc || (padc == adc && topIds(pos - 1) > nid)
        }) pos -= 1
        if (pos < limit) {
          var m = math.min(filled, limit - 1)
          while (m > pos) {
            topIds(m) = topIds(m - 1); topAdc(m) = topAdc(m - 1); m -= 1
          }
          topIds(pos) = nid
          topAdc(pos) = adc
          if (filled < limit) filled += 1
        }
      }
      i += 1
    }
    Iterator.range(0, filled).map(r => (qid, topIds(r), topAdc(r).toDouble))
  }

  /** [[tiledPairScan2]] specialized to packed-code corpora: the corpus
    * frame carries ONE long of codes per row (`pk`), so a tile
    * materializes as two aligned primitive arrays — 16 bytes/row instead
    * of a Tuple3 with a boxed 8-long array (~120 bytes) — and the shuffle
    * that replicates corpus rows across query tiles shrinks the same 7×.
    * Same tiling algebra, corpus-side size join and [[materialized]]
    * corpus as the generic scaffold. */
  private def tiledAdcScanPacked(
      qPrepared: DataFrame, // (__bucket, __id, q: array<long>)
      cPacked: DataFrame,   // (__bucket, __id, pk: long)
      kernel: (Long, Array[Long], Array[Long], Array[Long]) => Iterator[(Long, Long, Double)],
      maxTile: Long,
  ): DataFrame = {
    val s = cPacked.sparkSession
    import s.implicits._
    val cP = materialized(cPacked)
    val sizes = cP.groupBy("__bucket").agg(count(lit(1)).as("__n"))
    val qSide = qPrepared.join(sizes, "__bucket")
      .select(col("__bucket"), col("__id"), col("q"), col("__n"))
      .as[(Long, Long, Array[Long], Long)]
      .flatMap { case (b, id, q, n) =>
        val t = Tiling.tilesFor(n, maxTile)
        val qt = Tiling.tileOf(id, t)
        Iterator.range(0, t).map(ct => (b, qt, ct, id, q))
      }
    val cSide = cP.join(sizes, "__bucket")
      .select(col("__bucket"), col("__id"), col("pk"), col("__n"))
      .as[(Long, Long, Long, Long)]
      .flatMap { case (b, id, pk, n) =>
        val t = Tiling.tilesFor(n, maxTile)
        val ct = Tiling.tileOf(id, t)
        Iterator.range(0, t).map(qt => (b, qt, ct, id, pk))
      }
    qSide.groupByKey(r => (r._1, r._2, r._3))
      .cogroup(cSide.groupByKey(r => (r._1, r._2, r._3))) { (_, qs, cs) =>
        val rows = cs.map { case (_, _, _, id, pk) => (id, pk) }.toArray
        if (rows.isEmpty) Iterator.empty
        else {
          // tile arrays sorted by id (the candidate-order contract the
          // legacy scaffold kept via sortBy on the tuple tile)
          java.util.Arrays.sort(rows, Ordering.Tuple2[Long, Long])
          val ids = new Array[Long](rows.length)
          val pks = new Array[Long](rows.length)
          var i = 0
          while (i < rows.length) {
            ids(i) = rows(i)._1; pks(i) = rows(i)._2; i += 1
          }
          qs.flatMap { case (_, _, _, qid, qv) => kernel(qid, qv, ids, pks) }
        }
      }
      .toDF("query_id", "neighbor_id", "cos")
  }

  /** Nearest codeword of subspace `sub` for vector `q` (squared L2,
    * lowest index on ties) — the assignment kernel shared by training,
    * encoding, and the ADC query LUT. */
  private def nearestSubCode(q: Array[Long], sub: Int,
      cw: Array[Array[Long]]): Int = {
    var bestC = 0
    var bestD = Long.MaxValue
    var c = 0
    while (c < cw.length) {
      var d = 0L
      var j = 0
      while (j < PqSubDim) {
        val t = q(sub * PqSubDim + j) - cw(c)(j); d += t * t; j += 1
      }
      if (d < bestD) { bestD = d; bestC = c }
      c += 1
    }
    bestC
  }

  /** PQ-encode one vector: the per-subspace nearest-codeword indices. */
  private def pqEncode(q: Array[Long], cb: Array[Array[Array[Long]]]): Array[Long] = {
    val out = new Array[Long](PqSubs)
    var sub = 0
    while (sub < PqSubs) { out(sub) = nearestSubCode(q, sub, cb(sub)).toLong; sub += 1 }
    out
  }

  /** Deterministic PQ codebook over any (id, vector) frame (raw vectors
    * for [[pqTopK]], coarse-cell RESIDUALS for [[ivfPqTopK]]):
    * codebook[sub][code][j] initializes to the subvectors of the `codes`
    * lowest-id vectors, then `lloydRounds` of per-subspace k-means. Each
    * round is DISTRIBUTED: one map-side assignment pass against the
    * broadcast-closure codebook, one (sub, code)-keyed aggregate of
    * exact decimal per-dimension sums — the corpus never collects, only
    * the PqSubs·codes·PqSubDim mean table does (bounded at any corpus
    * size, the Geo-dimension class). Means round half-up in decimal, so
    * refinement is deterministic under any partitioning; empty clusters
    * keep their previous codeword.
    */
  private def trainPqCodebook(
      vecs: org.apache.spark.sql.Dataset[(Long, Array[Long])],
      codes: Int, lloydRounds: Int): Array[Array[Array[Long]]] = {
    val s = vecs.sparkSession
    import s.implicits._
    var cb: Array[Array[Array[Long]]] = {
      // order by the id — the frame's first column, whatever its name
      // (tuple datasets say _1, pqPrepare frames say __id)
      val base = vecs.orderBy(col(vecs.columns.head)).limit(codes)
        .collect().sortBy(_._1).map(_._2)
      Array.tabulate(PqSubs)(sub =>
        base.map(_.slice(sub * PqSubDim, (sub + 1) * PqSubDim)))
    }
    val nCodes = if (cb.isEmpty) 0 else cb(0).length
    if (nCodes > 0) {
      var round = 0
      while (round < lloydRounds) {
        val cbCur = cb
        val assigned = vecs.flatMap { case (_, q) =>
          Iterator.tabulate(PqSubs) { sub =>
            (sub, nearestSubCode(q, sub, cbCur(sub)),
              q.slice(sub * PqSubDim, (sub + 1) * PqSubDim))
          }
        }.toDF("sub", "code", "sv")
        val meanCols: Seq[Column] = (0 until PqSubDim).map(j =>
          floor(sum(col("sv")(j).cast(DecimalType(38, 0))) /
            count(lit(1)) + lit(0.5)).cast(LongType).as(s"m$j"))
        val means = assigned.groupBy("sub", "code")
          .agg(meanCols.head, meanCols.drop(1): _*)
          .collect()
          .map(r => (r.getInt(0), r.getInt(1)) ->
            Array.tabulate(PqSubDim)(j => r.getLong(2 + j))).toMap
        cb = Array.tabulate(PqSubs)(sub => Array.tabulate(nCodes)(c =>
          means.getOrElse((sub, c), cbCur(sub)(c))))
        round += 1
      }
    }
    cb
  }

  /** Product-quantization ANN (Jégou et al. 2011, "Product Quantization
    * for Nearest Neighbor Search"): the corpus is ENCODED once — each
    * 64-dim quantized vector becomes [[PqSubs]] sub-codes, the index of
    * its nearest codeword per 8-dim subspace — and queries rank neighbors
    * by asymmetric distance (ADC): Σ over subspaces of the exact integer
    * d² between the query's subvector and the neighbor's codeword. The
    * memory story is the point at 100 TB: a corpus row in the scan is 8
    * longs of codes instead of 64 of coordinates (8 BYTES in a production
    * uint8 layout), so the per-task tile and the shuffle both shrink 8×,
    * and the per-pair kernel cost drops from a 64-term dot product to 8
    * table lookups against a per-query LUT built once per tile cell.
    *
    * Codebooks are deterministic: the subvectors of the [[PqCodes]]
    * lowest-id vectors, code = rank by vec id (the [[Ml.lloyd]] init
    * discipline — production would refine them with per-subspace Lloyd
    * rounds; encode/ADC below don't care where the codebook came from).
    * Codebooks live on the driver (PqCodes·Dim longs — bounded), encode
    * is map-side, and the pair scan rides the tiled scaffold: no shuffle
    * ever carries a full vector except the query side. Vectors whose
    * length ≠ Dim are excluded (PQ is fixed-dimension by construction).
    * Ties: nearest codeword and neighbor rank both break to the lowest
    * index, everywhere in exact integer math. Output: (query_id,
    * neighbor_id, rank, adc).
    */
  /** (id, quantized vector) frame, Dim-length rows only. `normalize`:
    * quantize the UNIT vector instead of the raw one. ADC approximates
    * L2, and on unit vectors L2 ranking IS cosine ranking (d² = 2−2cos,
    * monotone) — without it, PQ against a cosine ground truth measures
    * metric mismatch as much as quantization loss (measured at z5k:
    * recall@10 0.12 raw). The registered oracle rows keep
    * normalize=false so the DuckDB replays stay on the established
    * exact-integer quantization; the production/recall paths opt in.
    */
  private def pqPrepare(df: DataFrame, idCol: String, vecCol: String,
      normalize: Boolean): DataFrame = {
    val rawQ =
      if (!normalize) quantized(vecCol)
      else {
        val nrm = sqrt(aggregate(transform(col(vecCol).cast("array<double>"),
          x => x * x), lit(0.0d), (a, x) => a + x))
        when(nrm > 0, transform(col(vecCol).cast("array<double>"),
          x => floor(x / nrm * lit(1000.0) + lit(0.5)).cast(LongType)))
          .otherwise(quantized(vecCol))
      }
    df.select(col(idCol).cast("long").as("__id"), rawQ.as("q"))
      .filter(size(col("q")) === Dim)
  }

  def pqTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      maxTileRows: Long = MaxAdcTileRows, normalize: Boolean = false,
      lloydRounds: Int = 0, codes: Int = PqCodes): DataFrame = {
    // codes = 0 with a nonempty corpus would hand the ADC kernel an empty
    // LUT to index with code 0 — refuse up front
    require(codes >= 1, s"need codes >= 1, got $codes")
    val s = df.sparkSession
    import s.implicits._
    val e = pqPrepare(df, idCol, vecCol, normalize)
    val eDs = e.as[(Long, Array[Long])]
    val cbF = trainPqCodebook(eDs, codes, lloydRounds)
    val nCodes = if (cbF.isEmpty) 0 else cbF(0).length
    require(nCodes <= MaxPqCodes,
      s"pqTopK: codes must be <= $MaxPqCodes (8-bit packed ADC layout), got $nCodes")
    // map-side encode: corpus rows shrink to ONE packed long of codes
    // (round 13 — see packCodes; the ADC values, candidate order, and
    // tie-breaks are bit-identical to the legacy array-codes kernel)
    val enc = eDs.map { case (id, q) =>
      (0L, id, packCodes(pqEncode(q, cbF), nCodes))
    }.toDF("__bucket", "__id", "pk")
    val qPrep = e.select(lit(0L).as("__bucket"), col("__id"), col("q"))
    // per-tile top-k smallest (adc, neighbor_id); adc < 2^53 so the
    // Double channel of the scaffold carries it exactly
    val partials = tiledAdcScanPacked(qPrep, enc, (qid, qv, ids, pks) =>
      adcScanTop(qid, adcLutFlat(qv, cbF, nCodes), nCodes, ids, pks, k),
      maxTileRows)
    // final cut via the bounded top-k aggregate (same ordering the window
    // version used: adc asc, neighbor_id asc; rank = sorted position) —
    // per-tile partials combine map-side, nothing sorts globally. This is
    // also what defuses the measured full-scan OOM corner (PLANS.md round
    // 11: tiles × shortlist partials through one window at 64×).
    graft.functions.TopMinPairs.register(s)
    partials.groupBy("query_id")
      .agg(expr(s"top_min_pairs(cos, neighbor_id, $k)").as("__s"))
      .select(col("query_id"), posexplode(col("__s")).as(Seq("__i", "__e")))
      .select(col("query_id"), col("__e.id").as("neighbor_id"),
        (col("__i") + 1).as("rank"), col("__e.v").cast("long").as("adc"))
      .orderBy("query_id", "rank")
  }

  // ---- IVF-PQ (IVFADC + exact rerank) -------------------------------------

  /** Full-dimension squared L2 between a vector and a centroid. */
  private def coarseD2(q: Array[Long], c: Array[Long]): Long = {
    var d = 0L
    var j = 0
    while (j < q.length) { val t = q(j) - c(j); d += t * t; j += 1 }
    d
  }

  /** Deterministic coarse quantizer: `nlist` lowest-id vectors refined by
    * `lloydRounds` of FULL-dimension k-means — the same distributed
    * discipline as [[trainPqCodebook]] (map-side argmin vs the broadcast
    * centroids, one cid-keyed decimal-mean aggregate per round; only the
    * nlist·Dim mean table collects). Ties to the lowest cid everywhere.
    */
  private def trainCoarseCentroids(
      vecs: org.apache.spark.sql.Dataset[(Long, Array[Long])],
      nlist: Int, lloydRounds: Int): Array[Array[Long]] = {
    val s = vecs.sparkSession
    import s.implicits._
    var cents: Array[Array[Long]] =
      vecs.orderBy(col(vecs.columns.head)).limit(nlist)
        .collect().sortBy(_._1).map(_._2)
    if (cents.nonEmpty) {
      var round = 0
      while (round < lloydRounds) {
        val cur = cents
        val assigned = vecs.map { case (_, q) =>
          var bestC = 0
          var bestD = Long.MaxValue
          var c = 0
          while (c < cur.length) {
            val d = coarseD2(q, cur(c))
            if (d < bestD) { bestD = d; bestC = c }
            c += 1
          }
          (bestC, q)
        }.toDF("cid", "v")
        val meanCols: Seq[Column] = (0 until Dim).map(j =>
          floor(sum(col("v")(j).cast(DecimalType(38, 0))) /
            count(lit(1)) + lit(0.5)).cast(LongType).as(s"m$j"))
        val means = assigned.groupBy("cid")
          .agg(meanCols.head, meanCols.drop(1): _*)
          .collect()
          .map(r => r.getInt(0) -> Array.tabulate(Dim)(j => r.getLong(1 + j))).toMap
        cents = Array.tabulate(cur.length)(c => means.getOrElse(c, cur(c)))
        round += 1
      }
    }
    cents
  }

  /** The trained IVF-PQ index parameters: coarse centroids + the RESIDUAL
    * codebook. Public so a production pipeline can train once
    * ([[ivfPqModel]]), persist the encoded index ([[ivfPqEncode]] →
    * parquet), and serve queries later ([[ivfPqQueryTopK]]); also lets
    * the q_ann_ivfpq oracle generator emit the identical (deterministic)
    * model as SQL literals.
    *
    * `normalize` records the quantization the model was TRAINED under and
    * is the single source of truth for it: [[ivfPqEncode]] and
    * [[ivfPqQueryTopK]] read it from here rather than taking their own
    * parameter (ADVICE r11 — independent defaults let a model trained
    * with normalize=false be served normalized, silently mixing the two
    * quantizations into garbage neighbors with no error). */
  final case class IvfPqModel(
      cents: Array[Array[Long]], cb: Array[Array[Array[Long]]],
      normalize: Boolean)

  def ivfPqModel(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int, codes: Int, lloydRounds: Int, normalize: Boolean): IvfPqModel = {
    val s = df.sparkSession
    import s.implicits._
    modelFromPrepared(pqPrepare(df, idCol, vecCol, normalize)
      .as[(Long, Array[Long])]
      .localCheckpoint(false), // coarse rounds + residual rounds re-read it
      nlist, codes, lloydRounds, normalize)
  }

  private def modelFromPrepared(
      e: org.apache.spark.sql.Dataset[(Long, Array[Long])],
      nlist: Int, codes: Int, lloydRounds: Int,
      normalize: Boolean): IvfPqModel = {
    val s = e.sparkSession
    import s.implicits._
    val cents = trainCoarseCentroids(e, nlist, lloydRounds)
    val residuals = e.map { case (id, q) =>
      var bestC = 0
      var bestD = Long.MaxValue
      var c = 0
      while (c < cents.length) {
        val d = coarseD2(q, cents(c))
        if (d < bestD) { bestD = d; bestC = c }
        c += 1
      }
      val r = new Array[Long](q.length)
      var j = 0
      while (j < q.length) { r(j) = q(j) - cents(bestC)(j); j += 1 }
      (id, r)
    }
    IvfPqModel(cents, trainPqCodebook(residuals, codes, lloydRounds), normalize)
  }

  /** IVF-PQ ANN with exact rerank — the bucketed SCALE path for
    * approximate cosine top-k (Jégou et al. 2011 §IV, IVFADC, plus the
    * standard exact-rerank tail). Where [[pqTopK]] ADC-scans the whole
    * corpus per query (per-tile partials grow with tiles × shortlist —
    * the measured 64× OOM corner in PLANS.md round 11), this one:
    *
    *   1. assigns every vector to its nearest of `nlist` coarse
    *      centroids and PQ-encodes the RESIDUAL (8 sub-codes per row);
    *   2. probes each query's `nprobe` nearest cells through the tiled
    *      bucket scan — a cell EQUI-join, so a query scores only
    *      ~nprobe/nlist of the corpus, and the per-cell ADC uses the
    *      query's residual vs THAT cell's centroid, which keeps
    *      cross-cell distances comparable exactly (‖q−n‖² =
    *      ‖(q−c)−(n−c)‖² for the same c);
    *   3. keeps a `shortlist` per query by ADC and reranks it with the
    *      EXACT integer cosine of the true quantized vectors — so the
    *      output ranking is exact over whatever the index retrieved,
    *      and recall is purely a retrieval property (pinned by RecallSpec).
    *
    * At 100 TB: training collects only the bounded mean tables, the
    * corpus shuffles as (cell, 8 codes) rows, candidate mass is
    * nprobe/nlist of n per query, and the rerank join touches
    * queries × shortlist rows. Ties break (adc, neighbor_id) then
    * (cos desc, neighbor_id) — deterministic under any partitioning.
    * Output: (query_id, neighbor_id, rank, cos), rank ≤ k.
    */
  /** Encode a vector table against a trained [[IvfPqModel]]: one map-side
    * pass → (cell, vec_id, codes). This IS the persistable index — a
    * production pipeline writes it to parquet once (8 sub-codes per
    * row instead of 64 coordinates) and serves [[ivfPqQueryTopK]] against
    * it; the corpus itself is only ever re-read for the exact rerank.
    *
    * Streaming-safe: the plan is select + length filter + typed map
    * against the (driver-held, bounded) model — no aggregation, no
    * state — so it runs unchanged on a `readStream` frame, appending
    * each micro-batch of freshly-arrived vectors to the parquet index
    * (IvfStreamSpec pins streamed ≡ batch index and serve equivalence,
    * including the restart-over-same-checkpoint late-arrival recipe). */
  def ivfPqEncode(df: DataFrame, idCol: String, vecCol: String,
      m: IvfPqModel): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    encodePrepared(pqPrepare(df, idCol, vecCol, m.normalize)
      .as[(Long, Array[Long])], m)
      .select(col("__bucket").as("cell"), col("__id").as("vec_id"),
        col("q").as("codes"))
  }

  private def encodePrepared(
      e: org.apache.spark.sql.Dataset[(Long, Array[Long])],
      m: IvfPqModel): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val cents = m.cents
    val cb = m.cb
    e.map { case (id, q) =>
      var bestC = 0
      var bestD = Long.MaxValue
      var c = 0
      while (c < cents.length) {
        val d = coarseD2(q, cents(c))
        if (d < bestD) { bestD = d; bestC = c }
        c += 1
      }
      val r = new Array[Long](q.length)
      var j = 0
      while (j < q.length) { r(j) = q(j) - cents(bestC)(j); j += 1 }
      (bestC.toLong, id, 0L, pqEncode(r, cb))
    }.toDF("__bucket", "__id", "nrm", "q")
  }

  /** Serve top-k queries against a persisted [[ivfPqEncode]] index:
    * `queries` probe their `nprobe` nearest cells, ADC-rank that slice of
    * the index, and the per-query `shortlist` reranks by exact cosine
    * against `corpus` (the true-vector table the index was built from —
    * at 100 TB this is the only stage that touches full vectors, as a
    * k-bounded lookup join). `queries` may be any vector table; a corpus
    * row whose id EQUALS a query id is treated as the query itself and
    * excluded. Output: (query_id, neighbor_id, rank, cos). */
  def ivfPqQueryTopK(index: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, m: IvfPqModel,
      shortlist: Int = 50, nprobe: Int = 8,
      maxTileRows: Long = MaxAdcTileRows,
      probeRatio: Double = 0.0): DataFrame = {
    val s = index.sparkSession
    import s.implicits._
    val cPrep = index.select(col("cell").cast("long").as("__bucket"),
      col("vec_id").cast("long").as("__id"), lit(0L).as("nrm"),
      col("codes").as("q"))
    queryTopKPrepared(cPrep,
      pqPrepare(corpus, idCol, vecCol, m.normalize).as[(Long, Array[Long])],
      pqPrepare(queries, idCol, vecCol, m.normalize).as[(Long, Array[Long])],
      k, m, shortlist, nprobe, maxTileRows, probeRatio)
  }

  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      shortlist: Int = 50, nlist: Int = 64, nprobe: Int = 8,
      codes: Int = PqCodes, lloydRounds: Int = 4, normalize: Boolean = true,
      maxTileRows: Long = MaxAdcTileRows,
      probeRatio: Double = 0.0): DataFrame = {
    require(nlist >= 1, s"need nlist >= 1, got $nlist")
    require(codes >= 1, s"need codes >= 1, got $codes")
    val s = df.sparkSession
    import s.implicits._
    // ONE prepared, materialized frame feeds training, corpus encode,
    // query probes, and the rerank vector joins
    val e = pqPrepare(df, idCol, vecCol, normalize).as[(Long, Array[Long])]
      .localCheckpoint(false)
    val m = modelFromPrepared(e, nlist, codes, lloydRounds, normalize)
    queryTopKPrepared(encodePrepared(e, m), e, e, k, m, shortlist, nprobe,
      maxTileRows, probeRatio)
  }

  private def queryTopKPrepared(cPrep: DataFrame,
      corpusVecs: org.apache.spark.sql.Dataset[(Long, Array[Long])],
      queryVecs: org.apache.spark.sql.Dataset[(Long, Array[Long])],
      k: Int, m: IvfPqModel, shortlist: Int, nprobe: Int,
      maxTileRows: Long, probeRatio: Double): DataFrame = {
    require(probeRatio == 0.0 || probeRatio >= 1.0,
      s"probeRatio must be 0 (off) or >= 1, got $probeRatio")
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    require(nprobe >= 1, s"need nprobe >= 1, got $nprobe")
    val s = cPrep.sparkSession
    import s.implicits._
    val cents = m.cents
    val cb = m.cb
    val nCodes = if (cb.isEmpty) 0 else cb(0).length
    require(nCodes <= MaxPqCodes,
      s"IVF-PQ serve: codes must be <= $MaxPqCodes (8-bit packed ADC layout), got $nCodes")
    val probe = math.min(nprobe, math.max(1, cents.length))
    // NOTE (round 13, measured NEGATIVE-to-neutral, PLANS.md): packing
    // the per-probe residuals into 16-bit lanes for this flatMap's
    // shuffle read 167.0 vs 160.3 s at z320k np16/sl400 in an
    // alternating A/B — the cogroup exchange is bound by ROW COUNT and
    // sort/serialization machinery, not row width (the columnar shuffle
    // codec already compresses small-int long arrays), so the added
    // pack/unpack branch bought nothing and was reverted. The corpus
    // side's packing (cPk below) stays: its win came with the primitive
    // TILE materialization, not the wire bytes.
    // queries: nprobe nearest cells, the query's residual PER PROBED CELL.
    // probeRatio >= 1 enables ADAPTIVE probing (round 13, the classical
    // IVF serve knob): cell i is probed only while d²(q, cent_i) <=
    // probeRatio² × d²(q, cent_0) — a query deep inside its nearest cell
    // skips far cells whose members cannot be competitive, while a query
    // near a Voronoi boundary keeps its full nprobe budget. This is the
    // knob that cuts the replication COUNT (the serve's binding term —
    // the row-width experiments in PLANS.md round 13 both measured
    // neutral), at a measured recall cost (frontier in PLANS.md;
    // RecallSpec floors the fixture). 0 (the default) is exact-nprobe,
    // bit-identical to the pre-knob serve. The ratio is squared because
    // coarseD2 is squared L2.
    val ratio2 = probeRatio * probeRatio
    val qPrep = queryVecs.flatMap { case (id, q) =>
      val ds = Array.tabulate(cents.length)(c => (coarseD2(q, cents(c)), c))
      java.util.Arrays.sort(ds, Ordering.Tuple2[Long, Int])
      // ds can be SHORTER than `probe` when the model was trained on a
      // frame smaller than nlist (or empty, with external queries) —
      // probing every cell there is the exhaustive case, not an error
      val cap = math.min(probe, ds.length)
      val n =
        if (probeRatio == 0.0 || ds.isEmpty) cap
        else {
          val bound = ratio2 * ds(0)._1
          var i = 1 // the nearest cell is always probed
          while (i < cap && ds(i)._1 <= bound) i += 1
          i
        }
      Iterator.range(0, n).map { i =>
        val c = ds(i)._2
        val r = new Array[Long](q.length)
        var j = 0
        while (j < q.length) { r(j) = q(j) - cents(c)(j); j += 1 }
        (c.toLong, id, r)
      }
    }.toDF("__bucket", "__id", "q")
    // corpus codes packed one long per row at serve time (round 13 —
    // the at-rest index schema keeps the codes ARRAY, so persisted and
    // streamed indexes stay byte-compatible across rounds; rows whose
    // code array isn't PqSubs long are skipped, exactly the legacy
    // kernel's length guard)
    val cPk = cPrep.select(col("__bucket"), col("__id"), col("q"))
      .as[(Long, Long, Array[Long])]
      .flatMap { case (b, id, codes) =>
        if (codes.length == PqSubs) Iterator.single((b, id, packCodes(codes, nCodes)))
        else Iterator.empty
      }.toDF("__bucket", "__id", "pk")
    // per-(query, cell-tile) ADC top-shortlist; a (query, neighbor) pair
    // exists in exactly one cell (the neighbor's), so no cross-cell dups
    val partials = tiledAdcScanPacked(qPrep, cPk, (qid, qres, ids, pks) =>
      adcScanTop(qid, adcLutFlat(qres, cb, nCodes), nCodes, ids, pks, shortlist),
      maxTileRows)
    // Shortlist cut as a bounded top-m AGGREGATE (top_min_pairs), not a
    // row_number window. The window formulation shuffled EVERY per-tile
    // partial row (queries × nprobe × tiles-per-cell × shortlist) through
    // one global sort exchange — the measured 118 s serve at
    // z320k/np16/sl200 and the engine's named cost ceiling (PLANS.md
    // round-11 known limits). The aggregate keeps the identical rows
    // (row_number ORDER BY cos, neighbor_id <= shortlist ≡ bounded
    // m-smallest by (cos asc, id asc); (query, neighbor) pairs are unique
    // across cells so no dedup question arises) but partial-aggregates
    // map-side: per-tile AND per-cell partials of a query collapse into
    // one ≤shortlist-pair state per map partition before the exchange,
    // and no sort ever runs.
    graft.functions.TopMinPairs.register(s)
    val short = partials.groupBy("query_id")
      .agg(expr(s"top_min_pairs(cos, neighbor_id, $shortlist)").as("__s"))
      .select(col("query_id"), explode(col("__s.id")).as("neighbor_id"))
    // exact rerank: true quantized vectors, exact integer dot/norms —
    // identical cosine math to [[bruteForceTopK]]/oracleFor. Query
    // vectors come from the query table, neighbor vectors from the
    // corpus table (the same frame in the self-join convenience form).
    //
    // The rerank is EXCHANGE-bound, not compute-bound (round 13,
    // PLANS.md): both joins ship one full vector per (query, candidate)
    // pair, so at 320k × sl400 the pair frame drags ~70 GB of vector
    // payload through two shuffles for 8G multiply-adds of actual work.
    // Under a normalized model every quantized coordinate is bounded
    // ±1000 by construction (unit vector × 1000, round half-up; the
    // zero-norm fallback quantizes an all-zero vector), so the vectors
    // pack four signed 16-bit lanes per long — 4× off both exchanges —
    // and packed_dot16 reproduces the exact integer dot bit-for-bit.
    // Non-normalized models keep the unpacked frames (coordinates there
    // are raw ×1000 quantizations with no range guarantee).
    val rer = if (m.normalize) {
      graft.functions.PackedDot16.register(s)
      def vframe(ds: org.apache.spark.sql.Dataset[(Long, Array[Long])]) =
        ds.map { case (id, q) =>
          var nrm = 0L
          var i = 0
          while (i < q.length) { nrm += q(i) * q(i); i += 1 }
          (id, graft.functions.PackedDotFunctions.pack16(q), nrm)
        }.toDF("__vid", "__vq", "__vn")
      short
        .join(vframe(queryVecs).select(col("__vid").as("query_id"),
          col("__vq").as("__qa"), col("__vn").as("__na")), "query_id")
        .join(vframe(corpusVecs).select(col("__vid").as("neighbor_id"),
          col("__vq").as("__qb"), col("__vn").as("__nb")), "neighbor_id")
        .select(col("query_id"), col("neighbor_id"),
          (expr("packed_dot16(__qa, __qb)").cast("double") /
            (sqrt(col("__na").cast("double")) * sqrt(col("__nb").cast("double"))))
            .as("cos"))
    } else {
      def vframe(ds: org.apache.spark.sql.Dataset[(Long, Array[Long])]) =
        ds.toDF("__vid", "__vq").withColumn("__vn", dot(col("__vq"), col("__vq")))
      short
        .join(vframe(queryVecs).select(col("__vid").as("query_id"),
          col("__vq").as("__qa"), col("__vn").as("__na")), "query_id")
        .join(vframe(corpusVecs).select(col("__vid").as("neighbor_id"),
          col("__vq").as("__qb"), col("__vn").as("__nb")), "neighbor_id")
        .select(col("query_id"), col("neighbor_id"),
          (dot(col("__qa"), col("__qb")).cast("double") /
            (sqrt(col("__na").cast("double")) * sqrt(col("__nb").cast("double"))))
            .as("cos"))
    }
    mergeTopK(rer, k)
  }

  /** Semantic dedup (the SemDeDup recipe, Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embeddings with a coarse quantizer,
    * then inside each cluster drop every vector whose cosine to a
    * LOWER-id cluster-mate reaches `threshold` — the greedy one-pass
    * policy (no transitive closure: a row survives iff no kept-or-dropped
    * predecessor is within the ball, exactly the paper's index-ordered
    * scan). Output: one row per input vector — (vec_id, cluster, kept ∈
    * {0,1}) — so both the assignment and the policy are pinned.
    *
    * Scale shape: the coarse centroids are the k lowest-id vectors (the
    * deterministic init [[Ml.lloyd]] also uses; a production pipeline
    * would refine them with Lloyd rounds — the policy below is agnostic
    * to where the centroids came from). k rows collect to the driver
    * (bounded, the Geo-dimension class), assignment is a map-side
    * argmin over centroid literals — no shuffle touches the corpus — and
    * the pairwise scan runs only WITHIN clusters through the tiled
    * scaffold, so the quadratic term is Σ n_c²/T² per task instead of
    * n²: the whole point of SemDeDup over brute-force near-dup at 100 TB.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      k: Int, threshold: Double, maxTileRows: Long = MaxTileRows): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val e = df.select(col(idCol).cast("long").as("__id"), quantized(vecCol).as("q"))
    val cents: Array[(Long, Array[Long])] = e.orderBy("__id").limit(k).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    // same alias-loss workaround as Ml.lloyd: struct fields re-typed by cast
    val best = array_min(array(cents.map { case (cid, cq) =>
      struct(
        aggregate(zip_with(col("q"), array(cq.map(lit).toIndexedSeq: _*),
          (x, y) => (x - y) * (x - y)), lit(0L), (acc, x) => acc + x),
        lit(cid))
    }.toIndexedSeq: _*)).cast("struct<d2:bigint,cid:bigint>")
    // one materialization feeds the pair scan AND the final keep join
    val prepared = e
      .select(best.getField("cid").as("__bucket"), col("__id"),
        dot(col("q"), col("q")).as("nrm"), col("q"))
      .localCheckpoint(false)
    val pairs = tiledPairScan(prepared, (qid, qn, qv, corpus) => {
      corpus.iterator
        .filter { case (nid, _, nv) => nid > qid && nv.length == qv.length }
        .flatMap { case (nid, nn, nv) =>
          var dot = 0L
          var j = 0
          while (j < qv.length) { dot += qv(j) * nv(j); j += 1 }
          val cos = dot.toDouble / (math.sqrt(qn.toDouble) * math.sqrt(nn.toDouble))
          if (cos >= threshold) Some((qid, nid, cos)) else None
        }
    }, maxTileRows)
    val dropped = pairs.select(col("neighbor_id").as("__id")).distinct()
    prepared.select("__id", "__bucket")
      .join(dropped.withColumn("__dup", lit(1)), Seq("__id"), "left")
      .select(col("__id").as("vec_id"), col("__bucket").as("cluster"),
        when(col("__dup").isNull, lit(1L)).otherwise(lit(0L)).as("kept"))
      .orderBy("vec_id")
  }

  /** Mean per-query recall of an approximate neighbor listing against an
    * exact one: for each query in `exact`, the fraction of its exact
    * neighbors that `approx` also returned; queries `approx` missed
    * entirely count 0 (never dropped — an ANN variant must not improve
    * its recall by answering fewer queries). Output: one row
    * (n_queries, recall). Inputs are (qCol, nCol) listings already
    * truncated to their k (both sides' top-k as produced by the
    * operators under comparison) — the join is on (query, neighbor), so
    * the whole metric is one shuffle-bounded equi-join plus two
    * aggregates, usable at any corpus size. Backing for the round-11
    * recall-floor contracts (RecallSpec, PLANS.md): a future "faster"
    * ANN change cannot silently trade recall away.
    */
  def recallVs(exact: DataFrame, approx: DataFrame,
      qCol: String, nCol: String): DataFrame = {
    val e = exact.select(col(qCol).cast("long").as("__q"),
      col(nCol).cast("long").as("__n"))
    val a = approx.select(col(qCol).cast("long").as("__q"),
      col(nCol).cast("long").as("__n"), lit(1L).as("__hit"))
    e.join(a, Seq("__q", "__n"), "left")
      .groupBy("__q")
      .agg((sum(coalesce(col("__hit"), lit(0L))) / count(lit(1))).as("__r"))
      .agg(count(lit(1)).as("n_queries"), avg("__r").as("recall"))
  }

  /** Johnson–Lindenstrauss sign random projection: reduce the quantized
    * embedding to `k` dimensions via a deterministic ±1 matrix,
    * y_j = Σ_i s(i,j)·q_i — the dimensionality-reduction front-end for
    * ANN at scale (Achlioptas 2003: ±1 entries preserve pairwise
    * distances within JL bounds; no Gaussian needed).
    *
    * Determinism: s(i,j) = parity of the engine-shared md5 fold of
    * "i_j" (the q_feature_hash hash), computed in the DRIVER and baked
    * into the expression as literals — at runtime each row pays exactly
    * k·d long multiply-adds inside whole-stage codegen, no hashing, no
    * shuffle, no UDF. The oracle recomputes the SAME signs from DuckDB's
    * own md5, so the hash derivation is cross-checked engine-to-engine,
    * not copied. Integer in, integer out: exact longs end-to-end
    * (|y_j| ≤ d·max|q| ≪ 2^63). Output long form: (vec_id, j, y),
    * one row per projected coordinate.
    */
  def randomProjection(emb: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 64, s"k must be in [1,64], got $k")
    val d = emb.select(max(size(col("embedding"))).as("d")).head.getInt(0)
    require(d >= 1, "empty embedding table")
    def sign(i: Int, j: Int): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"${i}_$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1 else -1
    }
    val prep = emb.select(col("vec_id"), quantized("embedding").as("q"))
    // r16: each projection is one zip_with/aggregate over a BAKED sign
    // literal array, not a d-term element_at sum. The old form built a
    // k·d-node expression tree (1024 nodes at k=16, d=64) whose janino
    // compile dominated the query at any data size — the work per row is
    // identical integer multiply-adds, only the plan is constant-size now.
    // Signs, order of addition (index-ascending fold), and the resulting
    // integers are unchanged.
    val ys = (0 until k).map { j =>
      val sj = typedlit((0 until d).map(i => sign(i, j).toLong))
      aggregate(zip_with(col("q"), sj, (x, s) => x * s), lit(0L), (acc, v) => acc + v)
    }
    prep.select(col("vec_id"), posexplode(array(ys: _*)))
      .toDF("vec_id", "j", "y")
      .select(col("vec_id"), col("j").cast(LongType).as("j"), col("y"))
  }

  // ---- verify queries ------------------------------------------------------

  // DuckDB list_dot_product returns double — exact here because every term
  // and partial sum of the quantized values stays far below 2^53.
  private def oracleFor(joinCond: String): String =
    s"""WITH prep AS (
       |  SELECT vec_id, label, $quantizedSql AS q FROM embeddings
       |),
       |normed AS (
       |  SELECT vec_id, label, q, list_dot_product(q, q) AS nrm FROM prep
       |),
       |pairs AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    list_dot_product(a.q, b.q) / (sqrt(a.nrm) * sqrt(b.nrm)) AS cos
       |  FROM normed a JOIN normed b ON $joinCond
       |),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM pairs
       |)
       |SELECT query_id, neighbor_id, rank, floor(cos * 1e6 + 0.5) / 1e6 AS cos
       |FROM ranked WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  val queries: Seq[GraftQuery] = Seq(

    // Brute-force cosine top-3 per vector — the ANN correctness baseline.
    GraftQuery(
      "q_similarity_cosine",
      (s, dir) => bruteForceTopK(Tables(s, dir, "embeddings"), "vec_id", "embedding", 3),
      Some(oracleFor("a.vec_id <> b.vec_id")),
    ),

    // JL sign random projection to 16 dims: the oracle re-derives the ±1
    // matrix from DuckDB's md5 (the engine-shared hash fold), so the
    // driver-baked signs are cross-checked rather than replayed.
    GraftQuery(
      "q_rand_proj",
      (s, dir) => randomProjection(Tables(s, dir, "embeddings"), 16)
        .orderBy("vec_id", "j"),
      Some(s"""WITH prep AS (
              |  SELECT vec_id, $quantizedSql AS q FROM embeddings),
              |xi AS (
              |  SELECT vec_id, i, q[CAST(i AS INT)] AS qi
              |  FROM (SELECT vec_id, q, unnest(range(1, len(q) + 1)) AS i FROM prep)),
              |sg AS (
              |  SELECT i, j,
              |    CASE WHEN list_reduce(
              |      list_transform(string_split_regex(substr(md5((i - 1) || '_' || j), 1, 8), ''),
              |        c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT)),
              |      (a, b) -> a * 16 + b) % 2 = 0 THEN 1 ELSE -1 END AS s
              |  FROM (SELECT unnest(range(1,
              |      (SELECT CAST(max(len(q)) AS BIGINT) FROM prep) + 1)) AS i)
              |    CROSS JOIN (SELECT unnest(range(0, 16)) AS j))
              |SELECT x.vec_id, s.j, CAST(sum(x.qi * s.s) AS BIGINT) AS y
              |FROM xi x JOIN sg s ON s.i = x.i
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    ),

    // IVF-style bucketed variant using the label column as the coarse cell.
    GraftQuery(
      "q_similarity_bucketed",
      (s, dir) => bucketedTopK(Tables(s, dir, "embeddings"), "vec_id", "embedding", "label", 3),
      Some(oracleFor("a.label = b.label AND a.vec_id <> b.vec_id")),
    ),

    // Sign-LSH bucketed variant: 8 integer hyperplanes → sign-bit bucket.
    GraftQuery(
      "q_similarity_lsh",
      (s, dir) => signLshTopK(Tables(s, dir, "embeddings"), "vec_id", "embedding", 3),
      Some(s"""WITH prep AS (
              |  SELECT vec_id, $quantizedSql AS q FROM embeddings
              |),
              |normed AS (
              |  SELECT vec_id, q, list_dot_product(q, q) AS nrm,
              |${(0 until NumPlanes).map(pl => s"    (CASE WHEN list_dot_product(q, ${planeSqlList(pl)}) > 0 THEN ${1L << pl} ELSE 0 END)").mkString(" +\n")}
              |    AS bucket
              |  FROM prep
              |),
              |pairs AS (
              |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
              |    list_dot_product(a.q, b.q) / (sqrt(a.nrm) * sqrt(b.nrm)) AS cos
              |  FROM normed a JOIN normed b
              |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
              |),
              |ranked AS (
              |  SELECT query_id, neighbor_id, cos,
              |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
              |  FROM pairs
              |)
              |SELECT query_id, neighbor_id, rank, floor(cos * 1e6 + 0.5) / 1e6 AS cos
              |FROM ranked WHERE rank <= 3
              |ORDER BY query_id, rank""".stripMargin),
    ),

    // Multi-probe LSH: same buckets, each query also probes the 8 one-bit
    // neighbors. Candidate set in SQL: bucket xor-hamming <= 1 (0 = same
    // bucket, a power of two = one flipped plane).
    GraftQuery(
      "q_similarity_multiprobe",
      (s, dir) => signLshTopKMultiProbe(Tables(s, dir, "embeddings"), "vec_id", "embedding", 3),
      Some(s"""WITH prep AS (
              |  SELECT vec_id, $quantizedSql AS q FROM embeddings
              |),
              |normed AS (
              |  SELECT vec_id, q, list_dot_product(q, q) AS nrm,
              |${(0 until NumPlanes).map(pl => s"    (CASE WHEN list_dot_product(q, ${planeSqlList(pl)}) > 0 THEN ${1L << pl} ELSE 0 END)").mkString(" +\n")}
              |    AS bucket
              |  FROM prep
              |),
              |pairs AS (
              |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
              |    list_dot_product(a.q, b.q) / (sqrt(a.nrm) * sqrt(b.nrm)) AS cos
              |  FROM normed a JOIN normed b
              |    ON bit_count(xor(a.bucket, b.bucket)) <= 1 AND a.vec_id <> b.vec_id
              |),
              |ranked AS (
              |  SELECT query_id, neighbor_id, cos,
              |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
              |  FROM pairs
              |)
              |SELECT query_id, neighbor_id, rank, floor(cos * 1e6 + 0.5) / 1e6 AS cos
              |FROM ranked WHERE rank <= 3
              |ORDER BY query_id, rank""".stripMargin),
    ),

    // Embedding-cosine near-dup: threshold 0.4 ≈ the far tail of this
    // corpus's cosine distribution (max ≈ 0.51); production near-dup sits
    // at 0.9+ with LSH/IVF blocking ahead of the scan.
    GraftQuery(
      "q_dedup_embedding",
      (s, dir) => nearDupPairs(Tables(s, dir, "embeddings"), "vec_id", "embedding", 0.4),
      Some(s"""WITH prep AS (
              |  SELECT vec_id, $quantizedSql AS q FROM embeddings
              |),
              |normed AS (
              |  SELECT vec_id, q, list_dot_product(q, q) AS nrm FROM prep
              |)
              |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              |  floor(list_dot_product(a.q, b.q) / (sqrt(a.nrm) * sqrt(b.nrm)) * 1e6 + 0.5) / 1e6 AS cos
              |FROM normed a JOIN normed b ON a.vec_id < b.vec_id
              |WHERE list_dot_product(a.q, b.q) / (sqrt(a.nrm) * sqrt(b.nrm)) >= 0.4
              |ORDER BY vec_a, vec_b""".stripMargin),
    ),

    // SemDeDup: 8 coarse clusters (k lowest-id init, one assignment pass —
    // the q_kmeans_step discipline), greedy drop-vs-lower-id at cosine
    // >= 0.4 WITHIN clusters only. The oracle replays the upper-triangular
    // max-similarity scan the paper's reference implementation uses.
    GraftQuery(
      "q_semantic_dedup",
      (s, dir) => semanticDedup(Tables(s, dir, "embeddings"), "vec_id", "embedding", 8, 0.4),
      Some(s"""WITH prep AS (
              |  SELECT vec_id, $quantizedSql AS q FROM embeddings
              |),
              |cents AS (SELECT vec_id AS cid, q AS cq FROM prep ORDER BY vec_id LIMIT 8),
              |asg AS (
              |  SELECT p.vec_id, c.cid,
              |    CAST(list_dot_product(p.q, p.q) - 2 * list_dot_product(p.q, c.cq)
              |      + list_dot_product(c.cq, c.cq) AS BIGINT) AS d2
              |  FROM prep p CROSS JOIN cents c),
              |cl AS (
              |  SELECT vec_id, cid AS cluster FROM (
              |    SELECT vec_id, cid,
              |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
              |    FROM asg) WHERE rn = 1),
              |normed AS (
              |  SELECT p.vec_id, cl.cluster, p.q, list_dot_product(p.q, p.q) AS nrm
              |  FROM prep p JOIN cl ON p.vec_id = cl.vec_id),
              |dropped AS (
              |  SELECT DISTINCT b.vec_id
              |  FROM normed a JOIN normed b
              |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
              |  WHERE list_dot_product(a.q, b.q) / (sqrt(a.nrm) * sqrt(b.nrm)) >= 0.4)
              |SELECT n.vec_id, n.cluster,
              |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
              |FROM normed n LEFT JOIN dropped d ON n.vec_id = d.vec_id
              |ORDER BY n.vec_id""".stripMargin),
    ),

    // Density clustering (DBSCAN) on the embedding corpus — the
    // curation step that isolates dense duplicate-ish regions (clusters)
    // from long-tail singletons (noise) before sampling. τ=0.35/minPts=3
    // sits at this corpus's density knee: 140 cores, 36 clusters (top 39),
    // and all three roles populated. Border tie-break = min cluster label
    // (deterministic; the sequential algorithm leaves it scan-order-
    // dependent).
    GraftQuery(
      "q_dbscan",
      (s, dir) => dbscan(Tables(s, dir, "embeddings"), "vec_id", "embedding", 0.35, 3)
        .orderBy("vec_id"),
      Some(s"""WITH RECURSIVE
              |prep AS (
              |  SELECT vec_id, $quantizedSql AS q FROM embeddings
              |),
              |normed AS (
              |  SELECT vec_id, q, list_dot_product(q, q) AS nrm FROM prep
              |),
              |pairs AS (
              |  SELECT a.vec_id AS va, b.vec_id AS vb
              |  FROM normed a JOIN normed b ON a.vec_id < b.vec_id
              |  WHERE list_dot_product(a.q, b.q) / (sqrt(a.nrm) * sqrt(b.nrm)) >= 0.35
              |),
              |bi AS (SELECT va AS id, vb AS nb FROM pairs
              |       UNION ALL SELECT vb, va FROM pairs),
              |deg AS (SELECT id, count(*) AS d FROM bi GROUP BY id),
              |roles AS (
              |  SELECT e.vec_id AS id, coalesce(d.d, 0) + 1 >= 3 AS is_core
              |  FROM embeddings e LEFT JOIN deg d ON d.id = e.vec_id
              |),
              |ce AS (
              |  SELECT va, vb FROM pairs
              |  JOIN roles ra ON ra.id = va AND ra.is_core
              |  JOIN roles rb ON rb.id = vb AND rb.is_core
              |),
              |cedges AS (SELECT va AS a, vb AS b FROM ce UNION SELECT vb, va FROM ce),
              |reach(id, lab) AS (
              |  SELECT id, id FROM roles WHERE is_core
              |  UNION
              |  SELECT e.b, r.lab FROM reach r JOIN cedges e ON e.a = r.id
              |),
              |cc AS (SELECT id, min(lab) AS comp FROM reach GROUP BY id),
              |blab AS (
              |  SELECT bi.id, min(cc.comp) AS bc
              |  FROM bi JOIN roles r ON r.id = bi.id AND NOT r.is_core
              |  JOIN cc ON cc.id = bi.nb
              |  GROUP BY bi.id
              |)
              |SELECT r.id AS vec_id,
              |  CASE WHEN r.is_core THEN 'core'
              |       WHEN b.bc IS NOT NULL THEN 'border'
              |       ELSE 'noise' END AS role,
              |  coalesce(cc.comp, b.bc, -1) AS cluster
              |FROM roles r
              |LEFT JOIN cc ON cc.id = r.id
              |LEFT JOIN blab b ON b.id = r.id
              |ORDER BY vec_id""".stripMargin),
    ),

    // DBSCAN with the banded-LSH-blocked ε-pair generator — the 100 TB
    // serve shape of q_dbscan: candidates only within shared band
    // buckets (8 bands × 4 sign bits), exact cosine verify. Same
    // τ/minPts as the exact row so the two results are directly
    // comparable (PLANS.md r13 records the measured pair recall and the
    // role-agreement delta at this corpus's diffuse τ=0.35 knee, plus
    // the τ ≥ 0.7 regime the blocking is actually for); the oracle
    // replays the band-bucket arithmetic as an 8-way OR on top of the
    // exact pair condition, then the identical core/CC/border pipeline.
    GraftQuery(
      "q_dbscan_blocked",
      (s, dir) => dbscanBlocked(Tables(s, dir, "embeddings"), "vec_id", "embedding", 0.35, 3)
        .orderBy("vec_id"),
      Some(s"""WITH RECURSIVE
              |prep AS (
              |  SELECT vec_id, $quantizedSql AS q FROM embeddings
              |),
              |normed AS (
              |  SELECT vec_id, q, list_dot_product(q, q) AS nrm,
              |${(0 until 8).map(t =>
                  // a non-64-dim row takes ONE replica in composite bucket 0
                  // = (band 0, bucket 0) on the Spark side: only its band-0
                  // bucket may match anything, so bands 1+ read -1 here
                  s"    CASE WHEN len(q) = 64 THEN ${rbBucketSql(t, 4)} ELSE ${if (t == 0) 0 else -1} END AS bkt$t").mkString(",\n")}
              |  FROM prep
              |),
              |pairs AS (
              |  SELECT a.vec_id AS va, b.vec_id AS vb
              |  FROM normed a JOIN normed b ON a.vec_id < b.vec_id
              |  WHERE (${(0 until 8).map(t => s"a.bkt$t = b.bkt$t").mkString(" OR ")})
              |    AND list_dot_product(a.q, b.q) / (sqrt(a.nrm) * sqrt(b.nrm)) >= 0.35
              |),
              |bi AS (SELECT va AS id, vb AS nb FROM pairs
              |       UNION ALL SELECT vb, va FROM pairs),
              |deg AS (SELECT id, count(*) AS d FROM bi GROUP BY id),
              |roles AS (
              |  SELECT e.vec_id AS id, coalesce(d.d, 0) + 1 >= 3 AS is_core
              |  FROM embeddings e LEFT JOIN deg d ON d.id = e.vec_id
              |),
              |ce AS (
              |  SELECT va, vb FROM pairs
              |  JOIN roles ra ON ra.id = va AND ra.is_core
              |  JOIN roles rb ON rb.id = vb AND rb.is_core
              |),
              |cedges AS (SELECT va AS a, vb AS b FROM ce UNION SELECT vb, va FROM ce),
              |reach(id, lab) AS (
              |  SELECT id, id FROM roles WHERE is_core
              |  UNION
              |  SELECT e.b, r.lab FROM reach r JOIN cedges e ON e.a = r.id
              |),
              |cc AS (SELECT id, min(lab) AS comp FROM reach GROUP BY id),
              |blab AS (
              |  SELECT bi.id, min(cc.comp) AS bc
              |  FROM bi JOIN roles r ON r.id = bi.id AND NOT r.is_core
              |  JOIN cc ON cc.id = bi.nb
              |  GROUP BY bi.id
              |)
              |SELECT r.id AS vec_id,
              |  CASE WHEN r.is_core THEN 'core'
              |       WHEN b.bc IS NOT NULL THEN 'border'
              |       ELSE 'noise' END AS role,
              |  coalesce(cc.comp, b.bc, -1) AS cluster
              |FROM roles r
              |LEFT JOIN cc ON cc.id = r.id
              |LEFT JOIN blab b ON b.id = r.id
              |ORDER BY vec_id""".stripMargin),
    ),

    // JL random projection 64 → 16 integer dims — the dimensionality
    // reduction ahead of ANN indexing/clustering; exploded to one row per
    // (vector, output dim) so the driver's column-hash compare sees plain
    // scalars. The oracle carries the same 16 weight rows as list
    // literals generated from the identical mixing formula.
    GraftQuery(
      "q_random_projection",
      (s, dir) => randomProjection(Tables(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("proj_dim", "proj_val")))
        .orderBy("vec_id", "proj_dim"),
      Some(s"""WITH prep AS (
              |  SELECT vec_id, $quantizedSql AS q FROM embeddings
              |  WHERE len(embedding) = 64
              |),
              |planes(d, w) AS (VALUES
              |${(0 until RpDims).map(r => s"  ($r, ${rpPlaneSqlList(r)})").mkString(",\n")}
              |)
              |SELECT p.vec_id, pl.d AS proj_dim,
              |  CAST(list_dot_product(p.q, pl.w) AS BIGINT) AS proj_val
              |FROM prep p CROSS JOIN planes pl
              |ORDER BY vec_id, proj_dim""".stripMargin),
    ),

    // Product-quantization ADC top-3: 8 subspaces × 16 init codewords.
    // The oracle replays codebook build, encode (min (d2, code) per
    // subspace) and the ADC sum in exact integer arithmetic via list
    // slices — every d2 term uses |a|² − 2a·b + |b|², all < 2^53.
    // IVF-PQ with exact rerank — the bucketed scale path. Registered with
    // small deterministic parameters (nlist=16, nprobe=4, codes=16,
    // lloyd=2, shortlist=20, k=3, normalize=false so the replay stays on
    // the established integer quantization); the ORACLE is generated at
    // verify time (q_bpe_tokens pattern): the trained centroids +
    // residual codebook — deterministic, decimal-mean Lloyd — embed as
    // VALUES literals, and DuckDB independently replays assignment,
    // residual encoding, ADC over the probed cells, the shortlist cut,
    // and the exact-cosine rerank.
    GraftQuery(
      "q_ann_ivfpq",
      (s, dir) => ivfPqTopK(Tables(s, dir, "embeddings"), "vec_id", "embedding", 3,
        shortlist = 20, nlist = 16, nprobe = 4, codes = 16, lloydRounds = 2,
        normalize = false),
      None,
      oracleGen = Some((s, dir) => {
        val m = ivfPqModel(Tables(s, dir, "embeddings"), "vec_id", "embedding",
          nlist = 16, codes = 16, lloydRounds = 2, normalize = false)
        def arr(a: Array[Long]) = a.mkString("[", ", ", "]")
        val centRows = m.cents.zipWithIndex
          .map { case (cv, cid) => s"($cid, ${arr(cv)})" }.mkString(",\n    ")
        val cbRows = (for {
          sub <- m.cb.indices
          code <- m.cb(sub).indices
        } yield s"($sub, $code, ${arr(m.cb(sub)(code))})").mkString(",\n    ")
        s"""WITH prep AS (
           |  SELECT vec_id, $quantizedSql AS q FROM embeddings
           |  WHERE len(embedding) = 64
           |),
           |cents(cid, cv) AS (VALUES
           |    $centRows),
           |cdist AS (
           |  SELECT p.vec_id, p.q, c.cid, c.cv,
           |    CAST(list_dot_product(p.q, p.q) - 2 * list_dot_product(p.q, c.cv)
           |      + list_dot_product(c.cv, c.cv) AS BIGINT) AS d2
           |  FROM prep p CROSS JOIN cents c),
           |cells AS (
           |  SELECT vec_id, q, cid, cv,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
           |  FROM cdist),
           |corp AS (
           |  SELECT vec_id, cid,
           |    list_transform(range(1, 65), j -> q[j] - cv[j]) AS res
           |  FROM cells WHERE rn = 1),
           |probes AS (
           |  SELECT vec_id, cid,
           |    list_transform(range(1, 65), j -> q[j] - cv[j]) AS res
           |  FROM cells WHERE rn <= 4),
           |subs AS (SELECT s FROM generate_series(0, 7) AS t(s)),
           |cb(sub, code, cq) AS (VALUES
           |    $cbRows),
           |cslices AS (
           |  SELECT c.vec_id, c.cid, su.s AS sub, c.res[su.s*8+1 : su.s*8+8] AS sq
           |  FROM corp c CROSS JOIN subs su),
           |enc AS (
           |  SELECT vec_id, cid, sub, code FROM (
           |    SELECT sl.vec_id, sl.cid, sl.sub, cb.code,
           |      row_number() OVER (PARTITION BY sl.vec_id, sl.sub ORDER BY
           |        CAST(list_dot_product(sl.sq, sl.sq)
           |          - 2 * list_dot_product(sl.sq, cb.cq)
           |          + list_dot_product(cb.cq, cb.cq) AS BIGINT), cb.code) AS rn
           |    FROM cslices sl JOIN cb ON sl.sub = cb.sub) WHERE rn = 1),
           |qslices AS (
           |  SELECT p.vec_id, p.cid, su.s AS sub, p.res[su.s*8+1 : su.s*8+8] AS sq
           |  FROM probes p CROSS JOIN subs su),
           |adc AS (
           |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           |    CAST(sum(list_dot_product(q.sq, q.sq)
           |      - 2 * list_dot_product(q.sq, cb.cq)
           |      + list_dot_product(cb.cq, cb.cq)) AS BIGINT) AS adc
           |  FROM qslices q
           |  JOIN enc e ON e.cid = q.cid AND e.sub = q.sub AND e.vec_id <> q.vec_id
           |  JOIN cb ON cb.sub = e.sub AND cb.code = e.code
           |  GROUP BY 1, 2),
           |short AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
           |    FROM adc) WHERE rn <= 20),
           |rer AS (
           |  SELECT sh.query_id, sh.neighbor_id,
           |    list_dot_product(a.q, b.q)
           |      / (sqrt(list_dot_product(a.q, a.q)) * sqrt(list_dot_product(b.q, b.q))) AS rawcos
           |  FROM short sh
           |  JOIN prep a ON a.vec_id = sh.query_id
           |  JOIN prep b ON b.vec_id = sh.neighbor_id),
           |ranked AS (
           |  SELECT query_id, neighbor_id,
           |    row_number() OVER (PARTITION BY query_id ORDER BY rawcos DESC, neighbor_id) AS rank,
           |    floor(rawcos * 1e6 + 0.5) / 1e6 AS cos
           |  FROM rer)
           |SELECT query_id, neighbor_id, rank, cos FROM ranked WHERE rank <= 3
           |ORDER BY query_id, rank""".stripMargin
      }),
    ),

    GraftQuery(
      "q_ann_pq",
      (s, dir) => pqTopK(Tables(s, dir, "embeddings"), "vec_id", "embedding", 3),
      Some(s"""WITH prep AS (
              |  SELECT vec_id, $quantizedSql AS q FROM embeddings
              |  WHERE len(embedding) = 64
              |),
              |cents AS (
              |  SELECT q, row_number() OVER (ORDER BY vec_id) - 1 AS code
              |  FROM (SELECT vec_id, q FROM prep ORDER BY vec_id LIMIT 16)),
              |subs AS (SELECT s FROM generate_series(0, 7) AS t(s)),
              |cb AS (
              |  SELECT su.s AS sub, c.code, c.q[su.s*8+1 : su.s*8+8] AS cq
              |  FROM cents c CROSS JOIN subs su),
              |slices AS (
              |  SELECT p.vec_id, su.s AS sub, p.q[su.s*8+1 : su.s*8+8] AS sq
              |  FROM prep p CROSS JOIN subs su),
              |enc AS (
              |  SELECT vec_id, sub, code FROM (
              |    SELECT sl.vec_id, sl.sub, cb.code,
              |      row_number() OVER (PARTITION BY sl.vec_id, sl.sub ORDER BY
              |        CAST(list_dot_product(sl.sq, sl.sq)
              |          - 2 * list_dot_product(sl.sq, cb.cq)
              |          + list_dot_product(cb.cq, cb.cq) AS BIGINT), cb.code) AS rn
              |    FROM slices sl JOIN cb ON sl.sub = cb.sub) WHERE rn = 1),
              |adc AS (
              |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
              |    CAST(sum(list_dot_product(q.sq, q.sq)
              |      - 2 * list_dot_product(q.sq, cb.cq)
              |      + list_dot_product(cb.cq, cb.cq)) AS BIGINT) AS adc
              |  FROM slices q
              |  JOIN enc e ON q.sub = e.sub AND q.vec_id <> e.vec_id
              |  JOIN cb ON cb.sub = e.sub AND cb.code = e.code
              |  GROUP BY 1, 2),
              |ranked AS (
              |  SELECT query_id, neighbor_id, adc,
              |    row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank
              |  FROM adc)
              |SELECT query_id, neighbor_id, rank, adc
              |FROM ranked WHERE rank <= 3
              |ORDER BY query_id, rank""".stripMargin),
    ),
  )
}
