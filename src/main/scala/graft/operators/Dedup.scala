package graft.operators

import graft.{GraftQuery, Tables}
import graft.functions.JaroWinklerMicros
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for the large-scale training-data pipeline:
  * exact (hash-groupBy), MinHash+LSH (shingle → minhash → band → bucket
  * join), SimHash hamming pairs, n-gram Jaccard, and edit-distance fuzzy
  * matching.
  *
  * Public DataFrame-level API ([[exactDedup]], [[minHashPairs]],
  * [[simHashPairs]], [[ngramJaccardPairs]], [[editDistancePairs]]) over any
  * (id, text, block) frame; the verify queries below delegate to it against
  * the `documents` fixture with `source` as the block key.
  *
  * Cross-engine determinism: hashes are md5 hex strings (identical in Spark
  * and DuckDB); MinHash minima are taken lexicographically over the
  * fixed-width hex slices, which equals numeric order. Jaccard ratios are
  * exact-integer divisions.
  *
  * Scale notes (100 TB): everything is shuffle-bounded by (a) distinct
  * tokens per doc (bounded by doc length), (b) candidate pairs AFTER
  * LSH-band/bucket blocking — never the raw doc×doc cross product. The
  * band join is an equi-join on (block, band) so it hash-partitions; the
  * block key stands in for sharded dedup (here `source`; the verify-scale
  * corpus has a 31-word vocab, so unblocked band groups would degenerate
  * toward all-pairs).
  */
object Dedup {

  private val NumHashes = 8

  /** Bucket count for the edit-join's hash-bucketed document-frequency
    * proxy (see [[editDistancePairs]]): gram rarity is ranked by the
    * occurrence count of the gram's xxhash64 bucket, so the frequency
    * table is ≤ this many rows AT ANY CORPUS SIZE and always folds into
    * one ~25 MB broadcast map row.
    */
  private val EditJoinDfBuckets = 1 << 20

  /** Parallelism for pairwise kernel stages. The fixtures are single-row-group
    * parquet (one scan task), and an O(pairs) stage must never inherit the
    * scan's partitioning — at 100 TB the same rule holds with the roles
    * reversed: rebalance to the cluster's parallelism before the quadratic
    * work, whatever the scan happened to give you.
    */
  private def kernelParallelism(df: DataFrame): Int =
    df.sparkSession.sparkContext.defaultParallelism

  /** Upper bound on the docs a single pairwise-kernel task materializes;
    * blocks larger than this are split into tile pairs (see
    * [[blockedAllPairs]]) so a skewed block fans out into bounded cells
    * instead of landing one task's heap.
    */
  private[graft] val MaxTileRows = 1024L

  /** Declarative tile-replicated self-pair join: every unordered row pair
    * sharing `keys` appears EXACTLY once in the output, with the right
    * side's `idCol` and `payload` columns suffixed `__b`. Each row lands
    * in tile pmod(xxhash64(id), t) of its key group (t = ⌈n/maxTile⌉);
    * the left leg replicates to cells (myTile, hi ≥ myTile), the right to
    * (lo ≤ myTile, myTile), and the equi-join on (keys, lo, hi) plus the
    * diagonal id-order conjunct enumerates each pair once. Two properties
    * the plain `a JOIN a ON keys AND a.id < b.id` form lacks at scale:
    *
    *   - a degenerate key group of g rows spreads its g²/2 pairs over
    *     t(t+1)/2 cells instead of the one task that owns the key;
    *   - both legs carry an EXPLICIT key repartition at kernel
    *     parallelism — the legs are tiny (ids + payload), so AQE's
    *     byte-based coalescing would fuse them into 1-2 partitions and
    *     serialize the O(pairs) work the join fans out; a user-specified
    *     repartition is exempt (measured on q_edit_distance: 0.35 →
    *     2.65 s at sf0.1 without this).
    *
    * Pair ORDER is cell-dependent: normalize ids with least/greatest (and
    * order-dependent payload with `when(id < id__b, x).otherwise(x__b)`)
    * downstream. TilingSpec pins tiled ≡ single-tile for every consumer.
    */
  private def tiledSelfPairs(d: DataFrame, keys: Seq[String], idCol: String,
      payload: Seq[String], maxTileRows: Long): DataFrame = {
    val sized = d
      .join(d.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n")), keys)
      .withColumn("__t",
        expr(s"CAST(least(4096, (__n + ${maxTileRows - 1}) div $maxTileRows) AS INT)"))
      .withColumn("__my", pmod(xxhash64(col(idCol)), col("__t")).cast("int"))
    val left = sized
      .withColumn("__hi", explode(sequence(col("__my"), col("__t") - 1)))
      .select(keys.map(col) ++
        Seq(col("__my").as("__lo"), col("__hi"), col("__my").as("__ta")) ++
        (idCol +: payload).map(col): _*)
    val right = sized
      .withColumn("__lo", explode(sequence(lit(0), col("__my"))))
      .select(keys.map(k => col(k).as(s"${k}__b")) ++
        Seq(col("__lo").as("__lob"), col("__my").as("__hib"), col("__my").as("__tb")) ++
        (idCol +: payload).map(c => col(c).as(s"${c}__b")): _*)
    val p = kernelParallelism(d)
    val cond = keys.map(k => col(k) === col(s"${k}__b")).reduce(_ && _) &&
      col("__lo") === col("__lob") && col("__hi") === col("__hib") &&
      (col("__ta") =!= col("__tb") || col(idCol) < col(s"${idCol}__b"))
    left.repartition(p, keys.map(col) ++ Seq(col("__lo"), col("__hi")): _*)
      .join(right.repartition(p,
        keys.map(k => col(s"${k}__b")) ++ Seq(col("__lob"), col("__hib")): _*), cond)
      .drop("__lo", "__hi", "__lob", "__hib", "__ta", "__tb")
      .drop(keys.map(k => s"${k}__b"): _*)
  }

  /** Pairwise Jaccard kernel over one co-located group: intern tokens into a
    * dense integer id space, pack each doc's set into Long bitmap words, and
    * intersect with AND + popcount — ~8 word ops per pair instead of ~|set|
    * string hash probes. `crossSplit = None` means all pairs within `docs`
    * (intra-tile); `Some(nA)` means docs is a concatenation A ++ B split at
    * nA and only cross pairs (a ∈ A, b ∈ B) are evaluated, emitted in
    * (min id, max id) order — the tile-pair case. Pairs with an empty
    * intersection are skipped (not near-dups; also the 0/0 guard).
    */
  private def jaccardKernel(
      docs: Array[(Long, Seq[String])],
      // Jaccard |∩|/|∪| by default; containment |∩|/min(|a|,|b|) catches
      // subset-duplicates (a short doc embedded in a longer one) whose
      // symmetric Jaccard is diluted by the size difference
      containment: Boolean = false,
      crossSplit: Option[Int] = None,
      // explicit candidate pairs to evaluate (LSH verification); endpoints
      // must all be members of `docs`
      pairs: Option[Array[(Long, Long)]] = None,
  ): Iterator[(Long, Long, Double)] = {
    val n = docs.length
    val dict = new java.util.HashMap[String, Integer]()
    var vocab = 0
    val tokenIds = new Array[Array[Int]](n)
    var i = 0
    while (i < n) {
      val gs = docs(i)._2 // already distinct
      val ids = new Array[Int](gs.size)
      var j = 0
      gs.foreach { g =>
        var id = dict.get(g)
        if (id == null) { id = Integer.valueOf(vocab); dict.put(g, id); vocab += 1 }
        ids(j) = id.intValue(); j += 1
      }
      tokenIds(i) = ids
      i += 1
    }
    val words = (vocab + 63) >> 6
    val bits = new Array[Array[Long]](n)
    i = 0
    while (i < n) {
      val w = new Array[Long](words)
      tokenIds(i).foreach(id => w(id >> 6) |= 1L << (id & 63))
      bits(i) = w
      i += 1
    }
    def inter(a: Int, b: Int): Int = {
      val wa = bits(a); val wb = bits(b)
      var s = 0; var k = 0
      while (k < words) { s += java.lang.Long.bitCount(wa(k) & wb(k)); k += 1 }
      s
    }
    def emit(a: Int, b: Int): Option[(Long, Long, Double)] = {
      val in = inter(a, b)
      if (in == 0) None
      else {
        val denom =
          if (containment) math.min(tokenIds(a).length, tokenIds(b).length)
          else tokenIds(a).length + tokenIds(b).length - in
        val (ida, idb) = (docs(a)._1, docs(b)._1)
        Some((math.min(ida, idb), math.max(ida, idb), in.toDouble / denom))
      }
    }
    pairs match {
      case Some(ps) =>
        val idx = new java.util.HashMap[Long, Integer]()
        docs.indices.foreach(k => idx.put(docs(k)._1, k))
        ps.iterator.flatMap { case (a, b) => emit(idx.get(a), idx.get(b)).iterator }
      case None => crossSplit match {
        case None =>
          for {
            a <- docs.indices.iterator
            b <- Iterator.range(a + 1, n)
            out <- emit(a, b).iterator
          } yield out
        case Some(nA) =>
          for {
            a <- Iterator.range(0, nA)
            b <- Iterator.range(nA, n)
            out <- emit(a, b).iterator
          } yield out
      }
    }
  }

  /** All-pairs scores within each block, sub-tiled: a block of n docs is
    * split into T = ⌈n/[[MaxTileRows]]⌉ tiles by doc id; every doc is
    * replicated to the T tile-pair cells touching its tile, and each cell
    * (i, j) runs the bitmap kernel over at most two tiles — intra-tile pairs
    * when i = j, cross-tile pairs otherwise. Every unordered pair is
    * evaluated exactly once (in the cell ({min,max} of the two docs'
    * tiles)), so the result set is identical to the unsplit kernel while no
    * task materializes more than 2·MaxTileRows docs. Input columns:
    * (__blk string, __id long, gs array<string>).
    */
  private def blockedAllPairs(docs: DataFrame, containment: Boolean,
      maxTile: Long): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val sizes = docs.groupBy("__blk").agg(count(lit(1)).as("__n"))
    val sized = docs.join(sizes, "__blk")
      .select("__blk", "__id", "gs", "__n")
      .as[(String, Long, Seq[String], Long)]
    val replicated = sized.flatMap { case (blk, id, gs, n) =>
      val t = Tiling.tilesFor(n, maxTile)
      val my = Tiling.tileOf(id, t)
      Iterator.range(0, t).map { other =>
        (blk, math.min(my, other), math.max(my, other), t, id, gs)
      }
    }
    replicated.groupByKey(r => (r._1, r._2, r._3))
      .flatMapGroups { (key: (String, Int, Int), it: Iterator[(String, Int, Int, Int, Long, Seq[String])]) =>
        val (_, i, j) = key
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else if (i == j) {
          val members = rows.map { case (_, _, _, _, id, gs) => (id, gs) }.sortBy(_._1)
          jaccardKernel(members, containment)
        } else {
          val t = rows.head._4
          val (a, b) = rows.map { case (_, _, _, _, id, gs) => (id, gs) }
            .sortBy(_._1)
            .partition { case (id, _) => Tiling.tileOf(id, t) == i }
          jaccardKernel(a ++ b, containment, crossSplit = Some(a.length))
        }
      }
      .toDF("doc_a", "doc_b", "score")
  }

  /** Verify an explicit intra-block candidate pair set with the bitmap
    * kernel in bounded tile cells: docs replicate to the T tile-pair cells
    * touching their tile (as in [[blockedAllPairs]]); each candidate routes
    * to exactly the ONE cell ({min,max} of its endpoints' tiles), so every
    * pair is evaluated once, token sets ship T times per doc instead of
    * once per candidate (LSH on dup-heavy corpora yields |candidates| ≫
    * T·|docs|), and no task holds more than 2·maxTile docs. Inputs:
    * docs (__blk, __id, gs), cands (__blk, doc_a, doc_b).
    */
  private def candidateKernel(docs: DataFrame, cands: DataFrame,
      maxTile: Long = MaxTileRows): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val sizes = docs.groupBy("__blk").agg(count(lit(1)).as("__n"))
    val sized = docs.join(sizes, "__blk")
      .select("__blk", "__id", "gs", "__n")
      .as[(String, Long, Seq[String], Long)]
    val docCells = sized.flatMap { case (blk, id, gs, n) =>
      val t = Tiling.tilesFor(n, maxTile)
      val my = Tiling.tileOf(id, t)
      Iterator.range(0, t).map(o => (blk, math.min(my, o), math.max(my, o), id, gs))
    }
    val candCells = cands.join(sizes, "__blk")
      .select("__blk", "doc_a", "doc_b", "__n")
      .as[(String, Long, Long, Long)]
      .map { case (blk, a, b, n) =>
        val t = Tiling.tilesFor(n, maxTile)
        val ta = Tiling.tileOf(a, t)
        val tb = Tiling.tileOf(b, t)
        (blk, math.min(ta, tb), math.max(ta, tb), a, b)
      }
    docCells.groupByKey(r => (r._1, r._2, r._3))
      .cogroup(candCells.groupByKey(r => (r._1, r._2, r._3))) { (_, ds, cs) =>
        val ps = cs.map { case (_, _, _, a, b) => (a, b) }.toArray
        if (ps.isEmpty) Iterator.empty
        else {
          val members = ds.map { case (_, _, _, id, gs) => (id, gs) }.toArray.sortBy(_._1)
          jaccardKernel(members, pairs = Some(ps))
        }
      }
      .toDF("doc_a", "doc_b", "jaccard")
  }

  private val tokensSql =
    "SELECT doc_id, source, unnest(list_distinct(string_split(text, ' '))) AS w FROM documents"

  /** Shared WITH-prefix of the clustering oracles: SimHash signatures →
    * intra-block hamming pairs → recursive min-label reachability →
    * `labels(doc_id, canonical_id)`. Composes under further CTEs/selects.
    */
  private[operators] lazy val clusterLabelsSqlPrefix: String =
    s"""WITH RECURSIVE
       |t AS (SELECT doc_id, source, md5(w) AS h FROM ($tokensSql)),
       |votes AS (
       |  SELECT doc_id, source,
       |${(0 until 16).map(j => s"    sum(CASE WHEN substr(h, ${j + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v$j").mkString(",\n")}
       |  FROM t GROUP BY doc_id, source
       |),
       |sigs AS (
       |  SELECT doc_id, source,
       |    ${(0 until 16).map(j => s"(CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")} AS simhash
       |  FROM votes
       |),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sigs a JOIN sigs b ON a.source = b.source AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs
       |),
       |reach(id, lab) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.id
       |),
       |labels AS (SELECT id AS doc_id, min(lab) AS canonical_id FROM reach GROUP BY id)""".stripMargin

  /** Exact content dedup: hash-groupBy; canonical id = min id of the hash
    * group (one shuffle on the 32-char key, not the content body).
    * Output: (doc_id, canonical_id, is_dup).
    */
  def exactDedup(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val w = Window.partitionBy("__k")
    df.select(col(idCol).as("doc_id"), md5(col(contentCol)).as("__k"))
      .withColumn("canonical_id", min("doc_id").over(w))
      .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
      .select("doc_id", "canonical_id", "is_dup")
  }

  /** MinHash + LSH near-dup pairs: 8 hash functions as md5 digest slices,
    * computed in one pass by the custom TypedImperativeAggregate
    * (graft.functions.MinHashSketch), 2 bands of 4 → candidates from an
    * equi-join on (block, band), exact Jaccard verified on candidates only
    * by the bitmap kernel in bounded tile cells ([[candidateKernel]]) — a
    * skewed block fans out into ≤2·MaxTileRows-doc cells, and token sets
    * ship per tile, not per candidate. Output: (doc_a, doc_b, jaccard),
    * unordered.
    *
    * `maxBandBucket`: optional production cap — band buckets holding more
    * than this many docs are dropped before the self-join (the standard
    * LSH too-common-bucket guard). On a corpus where d docs share a
    * signature band, that bucket alone contributes d(d−1)/2 candidates;
    * pair listing is quadratic in dup-group size BY CONTRACT, so corpora
    * with massive near-dup groups either pay that output or cap it here
    * (documented recall loss: pairs whose every shared band is oversized
    * are missed — use the clustering/keep policy surface instead when the
    * goal is dedup rather than pair enumeration). Default None = exact.
    */
  def minHashPairs(df: DataFrame, idCol: String, textCol: String, blockCol: String,
      maxBandBucket: Option[Int] = None, maxTileRows: Long = MaxTileRows): DataFrame = {
    val s = df.sparkSession
    // Signatures via the native map-side MinHashSig expression (no token
    // explode/shuffle; the MinHashSketch aggregate remains the
    // token-stream form and is asserted equal in MinHashSketchSpec).
    // One signature pass, then ONE equi-join over (block, band_idx, band_key)
    // with both bands unpivoted into rows — same candidate set as two
    // per-band self-joins unioned, at half the join legs. distinct()
    // collapses pairs that collide in both bands.
    graft.functions.MinHashSig.register(s)
    // Spread the raw rows BEFORE computing signatures: a projection pipelines
    // into the scan stage, and a single-row-group file gives that stage one
    // task — the md5-per-token signature work must run at cluster
    // parallelism, so the (cheap) text rows are exchanged first.
    val spread = df.select(col(idCol).cast("long").as("__id"),
        col(blockCol).cast("string").as("__blk"),
        col(textCol).as("__txt"))
      .repartition(kernelParallelism(df))
    val banded = spread.select(col("__id"), col("__blk"),
        expr("minhash_sig(array_distinct(split(__txt, ' ')))").as("sig"))
      .select(col("__id"), col("__blk"),
        concat((0 until 4).map(i => col("sig").getItem(i)): _*).as("__b0"),
        concat((4 until 8).map(i => col("sig").getItem(i)): _*).as("__b1"))
      // __k0 (the band-0 key) rides along so the uncapped path below can
      // drop both-band double-hits with a filter instead of a distinct
      .select(col("__id"), col("__blk"), col("__b0").as("__k0"),
        posexplode(array(col("__b0"), col("__b1"))).as(Seq("band_idx", "band_key")))
    val pruned = maxBandBucket match {
      case Some(cap) =>
        val w = Window.partitionBy("__blk", "band_idx", "band_key")
        banded.withColumn("__bn", count(lit(1)).over(w))
          .filter(col("__bn") <= cap).drop("__bn")
      case None => banded
    }
    // Candidate self-join, tile-replicated per band bucket (see
    // [[tiledSelfPairs]]): a degenerate band value shared by g docs must
    // emit C(g,2) candidates — that mass is the contract — but WITHOUT
    // tiling all of them land the single task that owns the band key (the
    // 32× near-twin probe has 3,840-doc buckets → 7.4M pairs on one
    // task), and the tiny join inputs invite AQE's byte-based coalescing
    // to serialize the fan-out on top.
    val paired = tiledSelfPairs(pruned, Seq("__blk", "band_idx", "band_key"),
        "__id", Seq("__k0"), maxTileRows)
    // A pair can surface at most once PER BAND (one banded row per doc per
    // band, and the tiled join routes each key-group pair to exactly one
    // cell), so the only duplicate shape is a both-band double-hit — and a
    // band-1 collision whose band-0 keys also match IS that double-hit.
    // The carried __k0 turns the dedup into a codegen'd filter; the
    // candidate mass (quadratic in dup-group size) never pays a
    // distinct's full shuffle+sort. With a bucket cap the equivalence
    // breaks — pruning can drop a pair's band-0 rows while keeping its
    // band-1 collision — so capped mode keeps the positional distinct.
    val base = paired.select(col("__blk"),
      least(col("__id"), col("__id__b")).as("doc_a"),
      greatest(col("__id"), col("__id__b")).as("doc_b"),
      col("band_idx"), col("__k0"), col("__k0__b"))
    val cands = maxBandBucket match {
      case None => base
        .filter(col("band_idx") === 0 || col("__k0") =!= col("__k0__b"))
        .select("__blk", "doc_a", "doc_b")
      case Some(_) => base.select("__blk", "doc_a", "doc_b").distinct()
    }
    // Zero-intersection candidates are dropped by the kernel (not
    // near-dups, and the 0/0 guard).
    val docSets = spread.select(col("__blk"), col("__id"),
      array_distinct(split(col("__txt"), " ")).as("gs"))
    candidateKernel(docSets, cands)
  }

  /** SimHash near-dup pairs: 16-bit signature from per-word md5 nibble
    * high-bits (one digest per word, one aggregation pass with a vote
    * column per bit), hamming ≤ maxHamming within a block via xor +
    * bit_count. Output: (doc_a, doc_b, sim_a, hamming).
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String, blockCol: String,
      maxHamming: Int): DataFrame =
    simHashPairsBlocked(df, idCol, textCol, blockCol, maxHamming)
      .select("doc_a", "doc_b", "sim_a", "hamming")

  /** [[simHashPairs]] with the block key retained — consumers that exploit
    * the pairs-are-intra-block invariant (e.g. [[nearDupClusters]]) key on it.
    *
    * NOT a block-population self-join (the round-10 Zipf-axis finding: a
    * corpus with a FIXED block-key cardinality — 8 sources at any size,
    * the realistic shape — made the raw `a.__blk = b.__blk, id < id` join
    * block-quadratic: exponent 1.09 at 64×; the earlier clean-corpus
    * fixture hid it by growing the block COUNT with the corpus). Instead:
    *
    *   1. COLLAPSE to distinct (block, signature) groups — hamming
    *      depends only on the signatures, and the 16-bit signature space
    *      caps groups at 2^16 per block AT ANY CORPUS SIZE (the same
    *      collapse [[nearDupClusters]] already uses for its edge set).
    *   2. Pair GROUPS via pigeonhole chunk banding: split the 16 bits
    *      into maxHamming+1 chunks — ≤ maxHamming differing bits cannot
    *      touch every chunk, so two in-range signatures must agree on
    *      some chunk verbatim; the candidate join is an equi-join on
    *      (block, chunk idx, chunk value), collision-bound like the
    *      MinHash band join, and a multi-chunk double-hit is kept only
    *      at the pair's FIRST equal chunk (the minHashPairs band-0
    *      trick) — no distinct shuffle.
    *   3. EXPAND group pairs back to member pairs — linear in the
    *      OUTPUT, which is the pair-listing contract.
    */
  private def simHashPairsBlocked(df: DataFrame, idCol: String, textCol: String, blockCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    val sigs = simHashSigs(df, idCol, textCol, blockCol)
    val members = sigs
    // same-signature pairs: every member pair of one group, hamming 0.
    // Tiled, not a raw equi-join — a g-member exact-dup group emits
    // C(g,2) rows and without tiling they all land the one task owning
    // the (block, signature) key (the minHashPairs band-bucket failure).
    val same = tiledSelfPairs(members, Seq("__blk", "simhash"), "__id", Seq.empty,
        MaxTileRows)
      .select(col("__blk"), least(col("__id"), col("__id__b")).as("doc_a"),
        greatest(col("__id"), col("__id__b")).as("doc_b"),
        col("simhash").as("sim_a"), lit(0).as("hamming"))
    val groups = sigs.select("__blk", "simhash").distinct()
    val n = math.min(maxHamming + 1, 16)
    def chunkOf(c: Column, i: Int): Column = {
      val lo = 16 * i / n
      val hi = 16 * (i + 1) / n
      shiftright(c, lo).bitwiseAND(lit((1 << (hi - lo)) - 1))
    }
    // cross-group pairs (sa < sb numerically; hamming >= 1 so disjoint
    // from `same`). maxHamming >= 16 admits every 16-bit pair and the
    // pigeonhole bound cannot cover it — group all-pairs within the block
    // is the honest (still signature-space-bounded) fallback there.
    val gp0 =
      if (maxHamming >= 16)
        groups.as("a").join(groups.as("b"),
          col("a.__blk") === col("b.__blk") && col("a.simhash") < col("b.simhash"))
      else {
        val chunks = groups.select(col("__blk"), col("simhash"),
          posexplode(array((0 until n).map(i => chunkOf(col("simhash"), i)): _*))
            .as(Seq("__ci", "__cv")))
        val firstEq = (0 until n).foldRight(lit(-1): Column) { (i, rest) =>
          when(chunkOf(col("a.simhash"), i) === chunkOf(col("b.simhash"), i), lit(i))
            .otherwise(rest)
        }
        chunks.as("a").join(chunks.as("b"),
            col("a.__blk") === col("b.__blk") && col("a.__ci") === col("b.__ci") &&
              col("a.__cv") === col("b.__cv") && col("a.simhash") < col("b.simhash"))
          .filter(col("a.__ci") === firstEq)
      }
    val gp = gp0
      .withColumn("hamming", bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a.__blk").as("__blk"), col("a.simhash").as("__sa"),
        col("b.simhash").as("__sb"), col("hamming"))
    val cross = gp
      .join(members.select(col("__blk"), col("simhash").as("__sa"),
        col("__id").as("__ma")), Seq("__blk", "__sa"))
      .join(members.select(col("__blk"), col("simhash").as("__sb"),
        col("__id").as("__mb")), Seq("__blk", "__sb"))
      .select(col("__blk"),
        least(col("__ma"), col("__mb")).as("doc_a"),
        greatest(col("__ma"), col("__mb")).as("doc_b"),
        when(col("__ma") < col("__mb"), col("__sa")).otherwise(col("__sb")).as("sim_a"),
        col("hamming"))
    same.union(cross)
  }

  /** Per-doc SimHash signatures (__blk, __id, simhash), shared by the pair
    * listing and the clustering path. Signature via the native codegen'd
    * SimHash16 expression: one static call per document, entirely map-side
    * — no token explode, no 16-vote aggregation shuffle (the oracle keeps
    * the equivalent declarative string form; signatures are bit-identical,
    * see EdgeCaseSpec property). Spread the raw rows BEFORE the signature
    * projection (see [[minHashPairs]]: the projection otherwise pipelines
    * into the single-task scan stage), which also spreads the O(pairs) row
    * generation above the downstream join; broadcast build sides lose no
    * co-partitioning.
    */
  private def simHashSigs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String): DataFrame = {
    graft.functions.SimHash16.register(df.sparkSession)
    df.select(col(idCol).cast("long").as("__id"),
        col(blockCol).cast("string").as("__blk"),
        col(textCol).as("__txt"))
      .repartition(kernelParallelism(df))
      .select(col("__id"), col("__blk"),
        expr("simhash16(array_distinct(split(__txt, ' ')))").as("simhash"))
  }

  /** Word-bigram Jaccard pairs within a block: one shuffle on the block key
    * into tile-pair cells ([[blockedAllPairs]]), then the set-intersection
    * kernel per cell (the explode + token self-join formulation shuffles
    * |docs|·|grams| rows and re-aggregates — strictly worse).
    * Output: (doc_a, doc_b, jaccard).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String, blockCol: String,
      maxTileRows: Long = MaxTileRows): DataFrame = {
    val grams = df
      .select(col(blockCol).cast("string").as("__blk"), col(idCol).cast("long").as("__id"),
        // bigrams via the shared builder (zip_with + null-filter — total on
        // single-word docs, where sequence(1, size-1) would reverse): ONE
        // home for the trap-avoidance logic, shared with Curation
        array_distinct(Curation.gramsOf(col(textCol), 2)).as("gs"))
    blockedAllPairs(grams, containment = false, maxTileRows)
      .withColumnRenamed("score", "jaccard")
  }

  /** Corpus-wide shingle-set Jaccard join via PREFIX FILTERING (Chaudhuri
    * et al. 2006 / Bayardo et al. 2007 "Scaling Up All Pairs" / PPJoin):
    * all unordered doc pairs whose n-gram-set Jaccard >= tau, with NO
    * blocking key — the candidate bound comes from the threshold itself.
    * Tokens get a global rarest-first total order (document frequency asc,
    * token asc); each doc emits only its first |x| − ⌈τ·|x|⌉ + 1 tokens in
    * that order (the PREFIX), and the theorem is that any pair with
    * J >= τ must collide on some token inside BOTH prefixes — so the
    * candidate join runs on prefix tokens only, plus the size filter
    * τ·|a| ≤ |b| ≤ |a|/τ. Prefix tokens are by construction each doc's
    * RAREST tokens, so the equi-join's per-key fan-out is small where a
    * bare token join would explode on stopwords: this is what makes an
    * UNBLOCKED set-similarity join tractable at corpus scale. Candidates
    * verify against the full sets (array_intersect — codegen'd, no second
    * explode). Exchanges: token-df aggregate (vocab-sized), one keyed
    * window per doc, the prefix equi-join, a pair distinct, two
    * array-carrying joins for verify — every one on a data-bounded key.
    * Output: (doc_a, doc_b, jaccard), jaccard filtered raw then rounded
    * at 1e-6 for cross-engine print parity.
    */
  def prefixFilterJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      tau: Double, n: Int = 2): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0, 1], got $tau")
    require(n >= 1, s"n >= 1 required, got $n")
    val (ranked, setsH) = setsimRanked(df, idCol, textCol, n)
    prefixPairsFrom(ranked, setsH, tau)
  }

  /** τ-independent prep for the prefix-filter join: the tokenize →
    * document-frequency → rarest-first rank pipeline ([[setsimRanked]]
    * result `ranked`: (tok, __id, df, idx, sz)) and the verify-side sets
    * frame (`setsH`: (__id, ts, th)). Factored out of
    * [[prefixFilterJaccardPairs]] so [[rankedJaccardTopK]] can compute it
    * ONCE and share it across ladder rungs — only the prefix-length filter
    * and the candidate/verify bounds depend on τ.
    */
  private def setsimRanked(df: DataFrame, idCol: String, textCol: String,
      n: Int): (DataFrame, DataFrame) = {
    val shingles =
      if (n == 1) split(col(textCol), " ") else Curation.gramsOf(col(textCol), n)
    val sets = df.select(col(idCol).cast("long").as("__id"),
      array_distinct(shingles).as("ts"))
    val toks = sets.select(col("__id"), explode(col("ts")).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("__id")
    val ranked = toks.join(dfreq, "tok")
      .withColumn("idx", row_number().over(w.orderBy("df", "tok")))
      .withColumn("sz", count(lit(1)).over(w))
    val setsH = sets.withColumn("th",
      array_distinct(transform(col("ts"), x => xxhash64(x))))
    (ranked, setsH)
  }

  private def prefixPairsFrom(ranked: DataFrame, setsH: DataFrame,
      tau: Double): DataFrame = {
    // Boundary math is epsilon-slacked: τ·sz in DOUBLE can land a hair
    // ABOVE the exact rational (0.8·5 = 4.0000000000000002, ceil → 5!)
    // and over-prune a pair that sits exactly on the threshold. The 1e-9
    // slack can only ADMIT extra candidates — the exact-set verify
    // rejects them — never drop a qualifying one.
    def tauTimes(c: Column): Column = lit(tau) * c - lit(1e-9)
    // both self-join legs read this frame — materialize the tokenize +
    // df-join + window prep once (lazy localCheckpoint, the tiledPairScan
    // discipline) instead of running it twice
    // r16: explicit key repartition at kernel parallelism — the
    // tiledSelfPairs discipline applied here too. The prefix legs are a
    // few MB, so AQE's byte-based coalescing fused the candidate join and
    // the verify behind it into ~4 tasks at sf0.1 and serialized the
    // O(collisions) intersect work (a session-wide
    // coalescePartitions.minPartitionSize=128k A/B read q_setsim_prefix
    // 4.04 -> 2.06 s but regressed the iterative graph family ~1.5x, so
    // the rebalance is pinned AT the operator, where the CPU density is
    // known, not in the session conf). User repartitions are exempt from
    // AQE coalescing; both legs share the one exchange.
    val prefix = ranked
      .filter(col("idx") <= col("sz") - ceil(tauTimes(col("sz"))) + 1)
      .select("tok", "__id", "idx", "sz")
      .repartition(kernelParallelism(ranked), col("tok"))
      .localCheckpoint(false)
    // candidate join = prefix-token collision + size filter + the PPJoin
    // POSITIONAL filter: a collision at (rarest-first) positions (ia, ib)
    // bounds the overlap by 1 + min(sza−ia, szb−ib); a qualifying pair's
    // FIRST shared token always passes (every shared token sits at or
    // after it on both sides), so per-collision pruning stays complete
    // while dropping most collisions of homogeneous corpora before the
    // pair-distinct shuffle. Overlap bound: J ≥ τ ⇔ o(1+τ) ≥ τ(sa+sb).
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.__id") < col("b.__id") &&
          col("b.sz").cast("double") >= tauTimes(col("a.sz")) &&
          col("a.sz").cast("double") >= tauTimes(col("b.sz")) &&
          (lit(1) + least(col("a.sz") - col("a.idx"), col("b.sz") - col("b.idx")))
            .cast("double") * lit(1.0 + tau) >=
            lit(tau) * (col("a.sz") + col("b.sz")) - lit(1e-9))
      .select(col("a.__id").as("doc_a"), col("b.__id").as("doc_b"))
      // user repartition BEFORE the distinct: the distinct reuses this
      // partitioning (same keys, required distribution satisfied), so the
      // pair dedup and the verify behind it run at kernel parallelism
      // instead of AQE's byte-coalesced handful of tasks
      .repartition(kernelParallelism(ranked), col("doc_a"), col("doc_b"))
      .distinct()
    // Two-pass verify. Pass 1 runs ONE intersect per candidate, over LONG
    // hash arrays: the division-form jaccard filter would land on the join
    // condition with `inter` appearing twice, so Catalyst evaluates the
    // string-array intersect 2× per candidate (measured 6.7 s of an 8 s
    // query at sf0.1); the product form J ≥ τ ⇔ inter·(1+τ) ≥ τ(|a|+|b|)
    // names `inter` once, and xxhash64 arrays intersect ~5× faster than
    // string arrays. Hash collisions only merge tokens — inter can only
    // OVERcount and sizes only shrink — so with the 1e-9 admit-slack the
    // pre-filter never drops a qualifying pair. Pass 2 rechecks the few
    // survivors with the EXACT string sets in the oracle's own
    // division-form arithmetic, behind a checkpoint barrier so the
    // recheck can't be pushed back into the join condition.
    // r16: the hash-filter join carries ONLY the long-hash arrays and
    // sizes; the exact string sets (ta/tb) attach AFTER the filter, to the
    // few survivors. Before, every candidate row copied both docs' full
    // string-token arrays through the join just so the filter could read
    // their sizes — the sizes are size(th) by construction
    // (array_distinct'd both), so the strings were pure dead weight in
    // the hot loop. The kernel repartition above sets this stage's
    // parallelism too (it reads the cands exchange).
    val pass1 = cands
      .join(setsH.select(col("__id").as("doc_a"), col("th").as("tha")), "doc_a")
      .join(setsH.select(col("__id").as("doc_b"), col("th").as("thb")), "doc_b")
      .filter(size(array_intersect(col("tha"), col("thb"))).cast("double") *
        lit(1.0 + tau) >= lit(tau) * (size(col("tha")) + size(col("thb"))) - lit(1e-9))
      .select("doc_a", "doc_b")
      .join(setsH.select(col("__id").as("doc_a"), col("ts").as("ta")), "doc_a")
      .join(setsH.select(col("__id").as("doc_b"), col("ts").as("tb")), "doc_b")
      .select("doc_a", "doc_b", "ta", "tb")
      .localCheckpoint(false)
    pass1
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("ta")) + size(col("tb")) - col("inter")))
      .filter(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"),
        (floor(col("jaccard") * lit(1e6) + lit(0.5)) / lit(1e6)).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Ranked top-k set-similarity pairs WITHOUT a user threshold, via
    * THRESHOLD DESCENT over [[prefixFilterJaccardPairs]] — the production
    * answer to the ranked-pair waiver class (PLANS.md round 9): an
    * unthresholded ranking admits no prefix-filter bound, but "the k best
    * pairs" does once a floor exists. Walk a fixed ladder of thresholds
    * from the top; at the first rung whose (prefix-filtered, verified)
    * pair count reaches k, the global top-k is complete — every unlisted
    * pair scores below that rung, and the listed ≥-rung pairs outrank it.
    * If even the floor rung holds fewer than k pairs, the result is all
    * of them; either way the SEMANTIC contract is simply
    *
    *   top-k of { pairs with jaccard ≥ ladder.last },
    *
    * ordered by (jaccard desc, doc_a, doc_b) — the descent only decides
    * how much candidate mass is ever generated. The adaptive property
    * that makes this scale where the all-pairs ranked kernel cannot: the
    * stopping rung RISES with corpus size (more docs ⇒ more high-sim
    * pairs ⇒ count reaches k at a higher τ), so a 64× corpus stops at the
    * first rung with prefix-filter candidate mass, while the block-kernel
    * ranking pays C(block, 2) regardless. Rung counts are ≤ |ladder|
    * driver round-trips (the Bpe.train justification applies: each rung
    * depends on the last count); the final rung's verify frame is
    * localCheckpointed inside the per-τ stage, so the count and the top-k
    * projection share one materialization. The τ-INDEPENDENT prep — the
    * tokenize → df → rarest-first rank frame and the verify-side hashed
    * sets — is computed once via [[setsimRanked]] and localCheckpointed
    * here, so a full descent (the small-corpus case) re-runs only the
    * per-rung prefix filter + candidate join + verify, not the shared
    * tokenize/df/window pipeline per rung.
    */
  def rankedJaccardTopK(df: DataFrame, idCol: String, textCol: String, k: Int,
      ladder: Seq[Double] = Seq(0.8, 0.4, 0.2, 0.1), n: Int = 2): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(n >= 1, s"n >= 1 required, got $n")
    require(ladder.nonEmpty && ladder == ladder.sortBy(-_),
      s"ladder must be a descending threshold sequence, got $ladder")
    def topK(pairs: DataFrame): DataFrame = pairs
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b")).limit(k)
    val (ranked0, setsH0) = setsimRanked(df, idCol, textCol, n)
    val ranked = ranked0.localCheckpoint(false)
    val setsH = setsH0.localCheckpoint(false)
    val chosen = ladder.iterator
      .map(tau => prefixPairsFrom(ranked, setsH, tau))
      .zipWithIndex
      .collectFirst { case (pairs, i) if i == ladder.size - 1 || pairs.count() >= k => pairs }
    topK(chosen.get)
  }

  /** Word-set containment pairs within a block: |∩| / min(|a|,|b|) — the
    * asymmetric-size near-dup detector (a short doc fully contained in a
    * longer one scores 1.0 here but low symmetric Jaccard). Same sub-tiled
    * block scaffold as [[ngramJaccardPairs]] ([[blockedAllPairs]]).
    * Output: (doc_a, doc_b, containment).
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String, blockCol: String,
      maxTileRows: Long = MaxTileRows): DataFrame = {
    val sets = df.select(col(blockCol).cast("string").as("__blk"),
      col(idCol).cast("long").as("__id"),
      array_distinct(split(col(textCol), " ")).as("gs"))
    blockedAllPairs(sets, containment = true, maxTileRows)
      .withColumnRenamed("score", "containment")
  }

  /** Levenshtein fuzzy-match pairs, blocked on (block, length bucket) —
    * similar-length candidates only (distance >= length delta regardless);
    * prefix cap bounds the O(len²) DP per pair. With `maxDist` set, only
    * pairs within that distance are returned and each candidate runs the
    * banded early-exit DP instead of the full one (~100× cheaper per
    * rejected candidate — see the match below); without it, every pair's
    * full distance is the contract, which is inherently quadratic work
    * per block (PLANS.md round-8 scaling table).
    * Output: (doc_a, doc_b, dist).
    *
    * Pair generation is [[tiledSelfPairs]] on (block, length-bucket) —
    * declarative tiling, so `levenshtein` stays a codegen'd expression.
    * The join key space is blocks × t(t+1)/2 cells instead of bare
    * blocks — a corpus whose few (source, length) blocks each hold
    * thousands of docs spreads its DP work across the cluster instead of
    * handing each block's full pair set to one task (the 32× scaling
    * probe measured 257 s → single-task-bound before this; see PLANS.md
    * round-8).
    */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String, blockCol: String,
      prefixLen: Int = 60, lenBucket: Int = 50, maxTileRows: Long = MaxTileRows,
      maxDist: Option[Int] = None): DataFrame = {
    val d = editHeadFrame(df, idCol, textCol, blockCol, prefixLen, lenBucket)
    maxDist match {
      case Some(dMax) =>
        val heads = d.select(col("__id"), col("__head"))
        editThresholdCandidates(df, d, dMax)
          .join(heads.select(col("__id").as("__ida"), col("__head").as("__ha")), "__ida")
          .join(heads.select(col("__id").as("__idb"), col("__head").as("__hb")), "__idb")
          .select(col("__ida").as("doc_a"), col("__idb").as("doc_b"),
            levenshtein(col("__ha"), col("__hb"), dMax).as("dist"))
          .filter(col("dist") >= 0)
      case None =>
        val joined = tiledSelfPairs(d, Seq("__blk", "__lenb"), "__id", Seq("__head"), maxTileRows)
        joined.select(least(col("__id"), col("__id__b")).as("doc_a"),
          greatest(col("__id"), col("__id__b")).as("doc_b"),
          levenshtein(col("__head"), col("__head__b")).as("dist"))
    }
  }

  /** The (__id, __blk, __lenb, __head) projection the thresholded edit
    * join runs on — package-visible (round-10 ADVICE) so probes measure
    * the SAME projection [[editDistancePairs]] builds instead of
    * re-hardcoding its prefixLen/lenBucket defaults. */
  private[graft] def editHeadFrame(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, prefixLen: Int = 60, lenBucket: Int = 50): DataFrame =
    df.select(col(idCol).cast("long").as("__id"), col(blockCol).cast("string").as("__blk"),
      expr(s"length($textCol) div $lenBucket").as("__lenb"),
      substring(col(textCol), 1, prefixLen).as("__head"))

  /** Candidate stage of the thresholded edit join (package-visible so the
    * scaling probes can count candidate mass without paying the verify
    * DP). `d` is the prepared (__id, __blk, __lenb, __head) frame built by
    * [[editHeadFrame]]; output is the DISTINCT (__ida < __idb)
    * candidate pair set. Two pieces:
    *
    * CANDIDATES via rarest-first q-gram prefix filtering (the ED-Join
    * family, Xiao/Wang/Lin VLDB'08), not the block-quadratic
    * self-join: the (block, length-bucket) key has BOUNDED
    * cardinality, so at 100 TB its blocks grow linearly with the
    * corpus and Σ C(block,2) candidates quadratically (measured:
    * exponent 1.10 at 64× on the clean-corpus axis). The count bound:
    * each of the ≤ τ edits destroys at most q of a head's DISTINCT
    * q-gram contents, so two heads within τ edits share all but ≤ τ·q
    * gram contents — and by the standard prefix-filter lemma (the
    * prefixFilterJaccardPairs machinery), under a GLOBAL rarest-first
    * (df asc, gram) total order each side's first τ·q+1 grams must
    * collide. Each doc therefore emits only its τ·q+1 RAREST grams;
    * the candidate equi-join runs on gram content within the original
    * block keys, and rarest-first is what makes it survive a Zipfian
    * stopword head — common grams sit past every prefix, so collision
    * mass concentrates on the rare tail (an earlier PassJoin
    * segment-blocking variant of this stage ground to multi-minute
    * spill on a Zipf(1) corpus exactly because aligned common-word
    * fragments collided block-wide).
    *
    * PLUS the ED-Join LOCATION filter (round 10): a character q-gram
    * space over a bounded alphabet SATURATES — 60-char lowercase heads
    * have ≤ ~27³ ≈ 20k possible trigrams, so past ~100k docs every gram
    * content is common and content collisions alone grow quadratically
    * (the repaired Zipf fixture measured exponent 1.02 at 64× on the
    * τ=8 stress contract). Positions break the degeneracy: a prefix
    * content match only survives if SOME occurrence pair sits within τ
    * positions. Losslessness: ≤ τ·q gram OCCURRENCES per side overlap
    * an edit; every other occurrence keeps its content and shifts by at
    * most the net indel balance ≤ τ. Let c* be the globally RAREST
    * surviving content — at most τ·q contents can be fully destroyed on
    * either side (each needs ≥ 1 destroyed occurrence), so fewer than
    * τ·q+1 contents of either gram set can outrank c*, putting c* in
    * BOTH τ·q+1 prefixes with an occurrence pair within τ. The filter
    * sits in the join condition, so far-position collisions are dropped
    * at the hash probe and never reach the pair-distinct exchange.
    *
    * (VERIFY, in [[editDistancePairs]], is the 3-arg levenshtein — the
    * BANDED DP: 2τ+1 diagonal band, early exit the moment the band
    * minimum exceeds τ, -1 above threshold — so rejecting a false
    * candidate costs ~(τ+1)·(2τ+1) cells instead of len².)
    */
  private[graft] def editThresholdCandidates(df: DataFrame, d: DataFrame,
      dMax: Int): DataFrame = {
    // (`df` — the ORIGINAL corpus frame — is consulted only for
    // kernelParallelism sizing; every column read comes from `d`.)
    graft.functions.SortedIntersectAtLeast.register(df.sparkSession)
    val q3 = 3
    val pref = dMax * q3 + 1
    // Gram building (q3 substrings per head) is the expensive narrow
    // transform here — rebalance the tiny head projection first so it
    // never inherits the scan's partitioning (the kernelParallelism
    // rule: fixture parquet is one row group = one task; measured
    // 0.5-0.7 s serial per branch at sf0.1). Grams carry their
    // 1-based POSITIONS for the location filter; __ng is the
    // distinct-CONTENT count the prefix bound needs. __sig is the
    // SORTED DISTINCT int-hash gram signature the COUNT filter below
    // intersects — ints, not the 3-char strings, so the per-candidate
    // merge scan compares primitives (a hash collision can only merge
    // two grams, and the count bound is stated on the HASHED set sizes,
    // so collisions never drop a true candidate — see the filter note).
    val dd = d.repartition(kernelParallelism(df), col("__id"))
      .withColumn("__hlen", length(col("__head")))
      .withColumn("__gps", when(col("__hlen") >= q3, expr(
        s"""transform(sequence(1, __hlen - ${q3 - 1}),
           |  p -> struct(substring(__head, p, $q3) AS g, p AS p))""".stripMargin))
        .otherwise(array().cast("array<struct<g:string,p:int>>")))
      .withColumn("__dist", array_distinct(expr("transform(__gps, x -> x.g)")))
      .withColumn("__ng", size(col("__dist")))
      .withColumn("__sig", array_sort(array_distinct(expr("transform(__dist, g -> hash(g))"))))
      .withColumn("__nsig", size(col("__sig")))
    // The count bound needs MORE than τ·q distinct grams to bite;
    // heads below that (short or highly repetitive) fall back to
    // block-local pairing below. (Deliberately NOT cached: the two
    // consumers re-derive the gram transform, but caching measured
    // no win at sf0.1 and the materialized gram arrays cost real
    // memory at the 64×/head=200 corner.)
    val longs = dd.filter(col("__ng") > dMax * q3)
    // Rarity order via a HASH-BUCKETED df proxy, not exact per-gram
    // df. The prefix lemma needs any one GLOBAL total order on gram
    // contents applied consistently per doc; rarest-first is purely
    // the collision-mass heuristic. Ranking by (occurrences of the
    // gram's xxhash64 bucket, gram) keeps both properties — a
    // stopword gram's bucket count ≥ its own df, so distribution
    // heads still sort past every prefix, and a bucket collision can
    // only make a rare gram LOOK common (weakening the heuristic for
    // ~1/2^20 of grams, never dropping a candidate) — while bounding
    // the frequency table at [[EditJoinDfBuckets]] rows AT ANY CORPUS
    // SIZE. The bound makes the table explicitly broadcastable, so
    // the df attach is a BroadcastHashJoin (O(1) hash probes — NOT a
    // single map row + element_at, whose GetMapValue is a linear scan
    // of the whole dictionary per gram: measured 2×1.8 s at sf0.1),
    // and per-doc prefix selection is a hash aggregate with a
    // per-doc array_sort + slice — no per-doc window exchange + sort
    // (the round-9 stage paid ~2 s of sf0.1 constant there).
    // Prefix CONTENTS first, positions second: the position lists the
    // location filter needs are computed for the ≤ τ·q+1 PREFIX grams
    // only, via a join-back on __id. Building them for EVERY gram up
    // front is O(grams²) filter scans per doc (39k at head=200 —
    // measured 2-3× on the long-head probe corners), and the
    // join-back is exchange-free: the per-doc prefix aggregate and
    // the gram frame both inherit the kernelParallelism hash
    // partitioning on __id.
    val dgl = longs
      .select(col("__id"), explode(col("__dist")).as("__g"))
      .withColumn("__b", pmod(xxhash64(col("__g")), lit(EditJoinDfBuckets.toLong)))
    val bcounts = dgl
      .groupBy("__b")
      .agg(count(lit(1)).as("__df"))
    val prefContents = dgl
      .join(broadcast(bcounts), "__b")
      .groupBy("__id")
      .agg(slice(array_sort(collect_list(struct(col("__df").as("d"), col("__g").as("g")))),
        1, pref).as("__pg"))
      .select(col("__id"), expr("transform(__pg, x -> x.g)").as("__pgs"))
    // Deliberately NOT cached (the r10 stage cached the exploded frame):
    // with __sig on every exploded row, a doc's signature materializes
    // τ·q+1 times over in the columnar cache build — the τ=8/head=200
    // probe corner OOMed an 8 GiB heap building ~200 MB blocks × 32
    // concurrent tasks. Measured alternatives (sf0.1 / z320k-τ8 full
    // drain): exploded cache 1.99/23.5 but OOM at head=200·64×;
    // repartition-then-cache 2.64/28.8; per-doc cache + re-explode
    // 3.79/30.7; NO cache 2.69/22.6 and every probe corner improves —
    // the two self-join legs re-derive the frame, and the join's own
    // shuffle files are disk-backed and safe at any size.
    val prefix = longs
      .select(col("__blk"), col("__lenb"), col("__id"), col("__hlen"), col("__gps"),
        col("__sig"), col("__nsig"))
      .join(prefContents, "__id")
      .select(col("__blk"), col("__lenb"), col("__id"), col("__hlen"),
        col("__sig"), col("__nsig"),
        explode(expr(
          """transform(__pgs, g -> struct(g AS g,
            |  transform(filter(__gps, y -> y.g = g), y -> y.p) AS ps))"""
            .stripMargin)).as("__gp"))
      .select(col("__blk"), col("__lenb"), col("__gp.g").as("__g"),
        col("__gp.ps").as("__ps"), col("__id"), col("__hlen"),
        col("__sig"), col("__nsig"))
    // The conjunctive COUNT filter (round 11), third in the post-probe
    // conjunction after the cheap scalar guards and the location filter:
    // ed(a,b) ≤ τ destroys ≤ τ·q distinct gram CONTENTS per side, so the
    // full distinct gram sets must share ≥ max(|A|,|B|) − τ·q contents.
    // Stated on the HASHED signature sizes it stays lossless (shared
    // contents hash into both signatures, and a side's within-set
    // collisions can only shrink its own size term at least as much as
    // the shared term), and near the 58-gram ceiling the bound is
    // brutal — a saturated-alphabet collision pair shares common grams
    // but not ~34 of them — so it prunes the candidate mass AT THE HASH
    // PROBE, before the pair-distinct exchange the τ=8 stress corner is
    // bound by (64.7M candidate rows for 80 true pairs, PLANS.md round
    // 10). sorted_intersect_atleast is the codegen merge-scan kernel
    // with two-sided early exit; array_intersect would re-hash one side
    // per evaluated row.
    val mainCands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.__blk") === col("b.__blk") && col("a.__lenb") === col("b.__lenb") &&
          col("a.__g") === col("b.__g") && col("a.__id") < col("b.__id") &&
          abs(col("a.__hlen") - col("b.__hlen")) <= dMax &&
          exists(col("a.__ps"), pa =>
            exists(col("b.__ps"), pb => abs(pa - pb) <= lit(dMax))) &&
          expr(s"sorted_intersect_atleast(a.__sig, b.__sig, " +
            s"greatest(a.__nsig, b.__nsig) - ${dMax * q3})"))
      .select(col("a.__id").as("__ida"), col("b.__id").as("__idb"))
    // Heads with ≤ τ·q distinct grams carry no prefix guarantee — pair
    // them against their whole block (a degenerate, tiny set on
    // natural text; a corpus OF such strings needs the unthresholded
    // kernel anyway).
    val shorts = dd.filter(col("__ng") <= dMax * q3)
      .select(col("__blk"), col("__lenb"), col("__id").as("__ids"),
        col("__hlen").as("__hlens"))
    val shortCands = dd.join(shorts, Seq("__blk", "__lenb"))
      .filter(col("__id") =!= col("__ids") &&
        abs(col("__hlen") - col("__hlens")) <= dMax)
      .select(least(col("__id"), col("__ids")).as("__ida"),
        greatest(col("__id"), col("__ids")).as("__idb"))
    mainCands.union(shortCands).distinct()
  }

  /** Near-dup clustering: connected components over the SimHash near-dup
    * graph, labeled by the component's minimum doc id — the step a real
    * dedup pipeline runs between pair generation and dropping duplicates
    * (keep one doc per cluster, not one per pair). Output:
    * (doc_id, canonical_id, cluster_size) for every document; docs with no
    * near-dup are their own singleton cluster.
    *
    * Implementation is Pregel-style min-label propagation: each iteration
    * pushes labels across edges with one equi-join + min-aggregate, until a
    * fixpoint (near-dup components are near-cliques, so few iterations;
    * worst-case chains are bounded by the iteration cap and asserted
    * converged). At 100 TB this is the standard scalable formulation —
    * iterations of hash-partitioned joins, no driver-side graph.
    */
  def nearDupClusters(df: DataFrame, idCol: String, textCol: String, blockCol: String,
      maxHamming: Int): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    // Collapse identical signatures BEFORE pairing: hamming depends only
    // on the signatures, so every member of one (block, simhash) group is
    // a mutual hamming-0 near-dup, and every cross-group pair carries
    // exactly its representatives' hamming. Components over {member→rep}
    // ∪ {rep-rep | hamming ≤ h} therefore equal components over the full
    // C(g,2) pair set — but the edge mass is linear in docs plus
    // quadratic only in DISTINCT signatures. A dup-heavy corpus (the 32×
    // near-twin probe: 160k docs, whole twin groups sharing a signature)
    // stops shuffling the quadratic pair mass that the pair-LISTING
    // contract (q_dedup_simhash) must still emit.
    val sigs = simHashSigs(df, idCol, textCol, blockCol)
    val reps = sigs.groupBy("__blk", "simhash").agg(min("__id").as("__rep"))
    val memberEdges = sigs.join(reps, Seq("__blk", "simhash"))
      .filter(col("__id") =!= col("__rep"))
      .select(col("__blk"), col("__rep").as("doc_a"), col("__id").as("doc_b"))
    val repEdges = tiledSelfPairs(
        reps.select(col("__blk"), col("__rep").as("__id"), col("simhash")),
        Seq("__blk"), "__id", Seq("simhash"), MaxTileRows)
      .filter(bit_count(col("simhash").bitwiseXOR(col("simhash__b"))) <= maxHamming)
      .select(col("__blk"), col("__id").as("doc_a"), col("__id__b").as("doc_b"))
    // SimHash edges are intra-block by construction, so components cannot
    // span blocks: union-find runs as ONE co-located kernel per block (one
    // shuffle of the reduced edge set), no iteration. For pair sets that
    // do span blocks, use the general iterative [[clusterPairs]].
    val comp = memberEdges.union(repEdges)
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val parent = new java.util.HashMap[Long, Long]()
        def find(x0: Long): Long = {
          var r = x0
          while (parent.getOrDefault(r, r) != r) r = parent.get(r)
          var x = x0
          while (parent.getOrDefault(x, x) != r) { val nxt = parent.get(x); parent.put(x, r); x = nxt }
          r
        }
        it.foreach { case (_, a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        parent.keySet().forEach(k => out += ((k, find(k))))
        out.iterator
      }
      .toDF("doc_id", "canonical_id")
    val ids = df.select(col(idCol).cast("long").as("doc_id"))
    val labeled = ids.join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("canonical_id"), col("doc_id")).as("canonical_id"))
    labeled.withColumn("cluster_size", count(lit(1)).over(Window.partitionBy("canonical_id")))
  }

  /** The end-to-end dedup POLICY a training-data pipeline actually applies:
    * cluster near-dups ([[nearDupClusters]]), then keep exactly one survivor
    * per cluster — the highest-quality member (max `qualityCol`, ties to the
    * lowest id; "longest document wins" when quality = length). Everything
    * downstream filters on `keep`. One extra window pass over the cluster
    * labels; no new shuffle shape beyond the clustering itself.
    * Output: (doc_id, canonical_id, cluster_size, keep).
    */
  def dedupKeep(df: DataFrame, idCol: String, textCol: String, blockCol: String,
      qualityCol: String, maxHamming: Int): DataFrame = {
    val clusters = nearDupClusters(df, idCol, textCol, blockCol, maxHamming)
    // double, NOT long: a fractional quality column (model score in [0,1])
    // would truncate to 0 under a long cast and the policy would silently
    // degrade to lowest-id-wins; the oracle orders by the raw value
    val quality = df.select(col(idCol).cast("long").as("doc_id"),
      col(qualityCol).cast("double").as("__q"))
    val w = Window.partitionBy("canonical_id").orderBy(col("__q").desc, col("doc_id"))
    clusters.join(quality, "doc_id")
      .withColumn("keep", row_number().over(w) === 1)
      .select("doc_id", "canonical_id", "cluster_size", "keep")
  }

  /** Connected components over an explicit near-dup pair set (doc_a, doc_b)
    * covering the node frame `ids` (one `doc_id` column). Public so any
    * pair generator (SimHash, MinHash, embedding threshold) can feed it.
    *
    * Edge endpoints absent from `ids` are dropped (semi-join below), so the
    * covering precondition is enforced rather than assumed: a stray endpoint
    * would otherwise be unioned into the label table by propagation and
    * surface in the output, and on its first round the convergence count
    * (an inner join of consecutive label tables) would silently skip it.
    */
  def clusterPairs(ids: DataFrame, pairs: DataFrame,
      localCutoff: Long = 1L << 20): DataFrame = {
    val nodeIds = ids.select(col("doc_id").cast("long").as("id"))
    // localCheckpoint truncates lineage each round — without it the plan
    // doubles per iteration and the final result replays the whole loop
    val edges = pairs.select(col("doc_a"), col("doc_b"))
      .union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("a", "b")
      .join(nodeIds.select(col("id").as("a")), Seq("a"), "left_semi")
      .join(nodeIds.select(col("id").as("b")), Seq("b"), "left_semi")
      .localCheckpoint()
    // Single-task endgame when the pair set fits one task — the same
    // rationale, and the same union-by-minimum union-find, as
    // [[Graph.connectedComponents]]'s (labels = component minimum either
    // way); 0 forces the all-distributed propagation rounds.
    if (localCutoff > 0 && edges.count() <= localCutoff) {
      val star = Graph.localUnionFind(edges)
        .select(col("hi").as("id"), col("lo").as("c"))
      val w0 = Window.partitionBy("canonical_id")
      return nodeIds.join(star, Seq("id"), "left")
        .select(col("id").as("doc_id"),
          coalesce(col("c"), col("id")).as("canonical_id"))
        .withColumn("cluster_size", count(lit(1)).over(w0))
    }
    var labels = nodeIds
      .withColumn("lab", col("id"))
      .localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 50) {
      val prop = edges.join(labels, edges("a") === labels("id"))
        .select(col("b").as("id"), col("lab"))
      // pinFresh, not plain localCheckpoint: labels enters this plan
      // twice (the union arm AND the propagation join), so preserved
      // checkpoint stats would double per round — see [[Graph.pinFresh]]
      val next = Graph.pinFresh(labels.select("id", "lab").union(prop)
        .groupBy("id").agg(min("lab").as("lab")), 32)
      changed = next.as("n").join(labels.as("o"), col("n.id") === col("o.id"))
        .filter(col("n.lab") =!= col("o.lab")).count()
      labels = next
      iter += 1
    }
    require(changed == 0, s"label propagation did not converge in $iter iterations")
    val w = Window.partitionBy("canonical_id")
    labels.select(col("id").as("doc_id"), col("lab").as("canonical_id"))
      .withColumn("cluster_size", count(lit(1)).over(w))
  }

  /** Incremental (cross-snapshot) near-dup dedup — the production daily
    * shape: flag each NEW-batch document whose bigram-SHINGLE Jaccard
    * with an existing snapshot doc (or an earlier batch doc) reaches
    * `threshold`, without ever pairing the snapshot against itself.
    * Shingles, not words: on a small-vocabulary corpus every document's
    * WORD set converges to the whole vocabulary and every band collides
    * (measured: the 32× clean-corpus probe paid a 25M-candidate verify
    * under word sets, 31-word vocab; shingle sets keep candidates the
    * genuine near-dups). Candidates come from the same 2×4 MinHash
    * banding as [[minHashPairs]], but the band join is ONE-SIDED: batch
    * rows probe all rows, admitting (batch, snapshot) and ordered
    * (batch, batch) pairs only — at a billion-doc snapshot and a
    * million-doc batch, candidate mass is batch-bounded where a full
    * re-dedup would be snapshot-quadratic. Exact Jaccard verifies
    * candidates; `dup_of` is the SMALLEST matching id (exact-integer
    * argmin via min(struct), deterministic).
    *
    * Skew: a degenerate band bucket fans its snapshot members out under
    * every batch probe — the standard LSH too-common-bucket guard
    * (minHashPairs' `maxBandBucket`) or AQE skew-join split applies; the
    * fixture's buckets are small, so the plain equi-join is the right
    * plan here.
    *
    * Output: one row PER BATCH DOC — (doc_id, is_dup, dup_of, jaccard);
    * null dup_of/jaccard when unique. Recall is the banding's (a pair
    * missed by both bands is not flagged) — the same contract as every
    * LSH surface here, and the oracle replicates the banding exactly.
    */
  def incrementalDedup(df: DataFrame, idCol: String, textCol: String,
      batchPred: Column, threshold: Double = 0.8,
      maxBandBucket: Option[Int] = None): DataFrame = {
    val s = df.sparkSession
    graft.functions.MinHashSig.register(s)
    val spread = df.select(col(idCol).cast("long").as("__id"),
        batchPred.as("__batch"), col(textCol).as("__txt"))
      .repartition(kernelParallelism(df))
      .withColumn("__gs", array_distinct(expr(
        "filter(zip_with(split(__txt, ' '), slice(split(__txt, ' '), 2, size(split(__txt, ' '))), (a, b) -> concat(a, ' ', b)), g -> g IS NOT NULL)")))
    val banded = spread.select(col("__id"), col("__batch"),
        expr("minhash_sig(__gs)").as("sig"))
      .select(col("__id"), col("__batch"),
        concat((0 until 4).map(i => col("sig").getItem(i)): _*).as("__b0"),
        concat((4 until 8).map(i => col("sig").getItem(i)): _*).as("__b1"))
      .select(col("__id"), col("__batch"), col("__b0").as("__k0"),
        posexplode(array(col("__b0"), col("__b1"))).as(Seq("band_idx", "band_key")))
    // the same too-common-bucket guard as minHashPairs: a band bucket
    // holding more than the cap fans every batch probe across all its
    // members — drop oversized buckets before the join (documented
    // recall loss; None = exact)
    val pruned = maxBandBucket match {
      case Some(cap) =>
        val w = Window.partitionBy("band_idx", "band_key")
        banded.withColumn("__bn", count(lit(1)).over(w))
          .filter(col("__bn") <= cap).drop("__bn")
      case None => banded
    }
    val probe = pruned.filter(col("__batch"))
      .select(col("__id").as("__ida"), col("band_idx"), col("band_key"),
        col("__k0").as("__k0a"))
    val build = pruned.select(col("__id").as("__idb"), col("__batch").as("__batchb"),
      col("band_idx"), col("band_key"), col("__k0").as("__k0b"))
    val joined = probe.join(build, Seq("band_idx", "band_key"))
      .filter(!col("__batchb") || col("__idb") < col("__ida"))
    // one banded row per doc per band → a pair can repeat only as a
    // both-band double-hit, and that hit has equal band-0 keys: the
    // same codegen'd filter as minHashPairs, no distinct shuffle. With a
    // bucket cap the equivalence breaks — pruning can drop a pair's
    // band-0 bucket while its band-1 collision survives, and that
    // survivor has EQUAL band-0 keys and would be wrongly discarded —
    // so capped mode deduplicates positionally instead, exactly as
    // minHashPairs does.
    val cands = maxBandBucket match {
      case None => joined
        .filter(col("band_idx") === 0 || col("__k0a") =!= col("__k0b"))
        .select(col("__ida").as("doc_id"), col("__idb").as("doc_b"))
      case Some(_) => joined
        .select(col("__ida").as("doc_id"), col("__idb").as("doc_b")).distinct()
    }
    val docSets = spread.select(col("__id"), col("__gs").as("gs"))
    val verified = cands
      .join(docSets.select(col("__id").as("doc_id"), col("gs").as("gs_a")), "doc_id")
      .join(docSets.select(col("__id").as("doc_b"), col("gs").as("gs_b")), "doc_b")
      .withColumn("__i", size(array_intersect(col("gs_a"), col("gs_b"))).cast("long"))
      .withColumn("jaccard", col("__i").cast("double") /
        (size(col("gs_a")).cast("long") + size(col("gs_b")).cast("long") - col("__i")))
      .filter(col("jaccard") >= threshold)
    val best = verified.groupBy("doc_id")
      .agg(min(struct(col("doc_b"), col("jaccard"))).as("m"))
      .select(col("doc_id"), col("m.doc_b").as("dup_of"), col("m.jaccard").as("jaccard"))
    spread.filter(col("__batch")).select(col("__id").as("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of").isNotNull.as("is_dup"),
        col("dup_of"), col("jaccard"))
      .orderBy("doc_id")
  }

  /** Default cap for [[minHashCalibration]]'s exact-Jaccard audit leg. */
  val MinHashAuditPairs = 4096

  /** MinHash banding calibration readout — the "is my banding honest"
    * diagnostic run before trusting an LSH threshold at corpus scale.
    * For every banded candidate pair (the same per-source 2×4 banding as
    * [[minHashPairs]]), compare the signature ESTIMATE (matching slots /
    * 8) against the exact word-set Jaccard, rolled up per estimate
    * level. All means accumulate in exact integer micros (each pair's
    * jaccard quantizes first), so the rollup is order-free.
    *
    * `auditPairs` caps the EXACT leg (the default): candidates are
    * deterministically sampled to the k smallest md5("idA_idB") digests
    * — a TakeOrdered, so the word-set arrays only ever ride the verify
    * joins for k pairs REGARDLESS of banded-candidate mass. The full
    * exact audit (auditPairs = None) is the 64×-twin shape that spilled
    * >70 GB carrying every candidate's gs arrays (PLANS.md round 9); a
    * calibration readout is a statistical audit, so the bounded sample
    * is the production default and exhaustive verification is opt-in.
    */
  def minHashCalibration(df: DataFrame, idCol: String, textCol: String, blockCol: String,
      auditPairs: Option[Int] = Some(MinHashAuditPairs)): DataFrame = {
    graft.functions.MinHashSig.register(df.sparkSession)
    val spread = df
      .select(col(idCol).cast("long").as("__id"), col(blockCol).as("__blk"),
        array_distinct(split(col(textCol), " ")).as("gs"))
      .repartition(kernelParallelism(df))
      .withColumn("sig", expr("minhash_sig(gs)"))
    val banded = spread.select(col("__id"), col("__blk"), col("sig"),
      posexplode(array(
        concat((0 until 4).map(i => col("sig").getItem(i)): _*),
        concat((4 until 8).map(i => col("sig").getItem(i)): _*)))
        .as(Seq("band_idx", "band_key")))
    val a = banded.select(col("__blk"), col("band_idx"), col("band_key"),
      col("__id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("__blk"), col("band_idx"), col("band_key"),
      col("__id").as("id_b"), col("sig").as("sig_b"))
    val cands = a.join(b, Seq("__blk", "band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("__blk", "id_a", "id_b", "sig_a", "sig_b").distinct()
    val audited = auditPairs match {
      case Some(k) => cands
        .withColumn("__h", md5(concat_ws("_", col("id_a"), col("id_b"))))
        .orderBy("__h").limit(k).drop("__h")
      case None => cands
    }
    val sets = spread.select(col("__id"), col("gs"))
    val paired = audited
      .join(sets.select(col("__id").as("id_a"), col("gs").as("gs_a")), "id_a")
      .join(sets.select(col("__id").as("id_b"), col("gs").as("gs_b")), "id_b")
      .withColumn("n_match",
        size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => x === y), p => p)).cast("long"))
      .withColumn("__i", size(array_intersect(col("gs_a"), col("gs_b"))).cast("long"))
      .withColumn("jac_micros", floor(
        col("__i").cast("double") /
          (size(col("gs_a")).cast("long") + size(col("gs_b")).cast("long") - col("__i"))
          * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("err_micros", abs(col("n_match") * lit(125000L) - col("jac_micros")))
    paired.groupBy("n_match").agg(
        count(lit(1)).as("n_pairs"),
        (floor(sum("jac_micros").cast("double") / count(lit(1)).cast("double")
          + lit(0.5)) / lit(1e6)).as("mean_jaccard"),
        (floor(sum("err_micros").cast("double") / count(lit(1)).cast("double")
          + lit(0.5)) / lit(1e6)).as("mean_abs_err"))
      .orderBy("n_match")
  }

  // ---- verify queries ------------------------------------------------------

  /** Blocked Jaro–Winkler fuzzy join: candidate pairs come from an
    * equi-join on a cheap blocking key (first token + id order — the
    * record-linkage standard; JW weights prefixes, so first-token blocks
    * lose only pairs the prefix boost would score low anyway), and each
    * candidate is priced by the exact-integer
    * [[graft.functions.JaroWinklerMicros]] kernel inside whole-stage
    * codegen. Never a cross product: candidate mass is Σ_block n_b², the
    * same skew axis as every blocked dedup here — a hot block (one
    * first-token bucket dominating) shows up on the zipf fixture, and the
    * remedy at scale is the usual second blocking coordinate (length
    * band), not a bigger cluster. Output: (a, b, jw_micros ≥ minMicros).
    */
  /** Matched DISTINCT-name pairs under the first-token blocking at
    * `minMicros` — the kernel-bearing core shared by [[jaroWinklerJoin]]
    * (which expands to id pairs) and q_er (which only needs one edge per
    * matched name pair). Output: (na, nb, jw), na < nb. */
  def jaroWinklerNamePairs(df: DataFrame, nameCol: String,
      minMicros: Long): DataFrame = {
    JaroWinklerMicros.register(df.sparkSession)
    val d = df.select(col(nameCol).as("nm"),
      split(col(nameCol), " ").getItem(0).as("__blk")).distinct()
    d.select(col("__blk"), col("nm").as("na"))
      .join(d.select(col("__blk"), col("nm").as("nb")), Seq("__blk"))
      .filter(col("na") < col("nb"))
      .withColumn("jw", expr("jaro_winkler_micros(na, nb)"))
      .filter(col("jw") >= minMicros)
      .select("na", "nb", "jw")
  }

  def jaroWinklerJoin(df: DataFrame, idCol: String, nameCol: String,
      minMicros: Long): DataFrame = {
    val p = df.select(col(idCol).as("id"), col(nameCol).as("nm"))
    // kernel work runs on DISTINCT names, not ids: with name multiplicity
    // k the naive id-level join prices k² copies of every string pair —
    // measured 100× wasted kernel mass on the sf0.1 fixture (20k parts,
    // ~2k distinct names). Matched NAME pairs (plus identical-name
    // groups, jw = 10⁶ by definition) expand back to id pairs through
    // hash joins, so the output mass is paid exactly once, in the join
    // that produces it.
    val namePairs = jaroWinklerNamePairs(df, nameCol, minMicros)
    val cross = namePairs
      .join(p.select(col("nm").as("na"), col("id").as("ia")), Seq("na"))
      .join(p.select(col("nm").as("nb"), col("id").as("ib")), Seq("nb"))
      .select(least(col("ia"), col("ib")).as("a"),
        greatest(col("ia"), col("ib")).as("b"), col("jw"))
    val same = p.select(col("nm"), col("id").as("ia"))
      .join(p.select(col("nm"), col("id").as("ib")), Seq("nm"))
      .filter(col("ia") < col("ib"))
      .select(col("ia").as("a"), col("ib").as("b"),
        lit(1000000L).as("jw"))
      .filter(lit(minMicros) <= 1000000L)
    cross.unionByName(same)
  }

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q_minhash_calibration",
      (s, dir) => minHashCalibration(Tables(s, dir, "documents"),
        "doc_id", "text", "source"),
      Some(s"""WITH t AS ($tokensSql),
              |sigs AS (
              |  SELECT doc_id, source,
              |${(0 until NumHashes).map(i => s"    min(substr(md5(w), ${i * 4 + 1}, 4)) AS h$i").mkString(",\n")}
              |  FROM t GROUP BY doc_id, source
              |),
              |banded AS (
              |  SELECT *, h0||h1||h2||h3 AS b0, h4||h5||h6||h7 AS b1 FROM sigs
              |),
              |cands AS (
              |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
              |    ${(0 until NumHashes).map(i => s"a.h$i AS a$i, b.h$i AS c$i").mkString(", ")}
              |  FROM banded a JOIN banded b
              |    ON a.source = b.source AND a.doc_id < b.doc_id
              |    AND (a.b0 = b.b0 OR a.b1 = b.b1)
              |),
              |audit AS (
              |  SELECT * FROM cands
              |  ORDER BY md5(CAST(id_a AS VARCHAR) || '_' || CAST(id_b AS VARCHAR))
              |  LIMIT $MinHashAuditPairs
              |),
              |sizes AS (SELECT doc_id, count(*) AS sz FROM t GROUP BY doc_id),
              |inter AS (
              |  SELECT c.id_a, c.id_b, count(*) AS i
              |  FROM audit c
              |  JOIN t ta ON ta.doc_id = c.id_a
              |  JOIN t tb ON tb.doc_id = c.id_b AND tb.w = ta.w
              |  GROUP BY 1, 2
              |),
              |pairs AS (
              |  SELECT ${(0 until NumHashes).map(i => s"CASE WHEN c.a$i = c.c$i THEN 1 ELSE 0 END").mkString(" + ")} AS n_match,
              |    CAST(floor(CAST(coalesce(i.i, 0) AS DOUBLE)
              |      / (sa.sz + sb.sz - coalesce(i.i, 0)) * 1e6 + 0.5) AS BIGINT) AS jm
              |  FROM audit c
              |  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
              |  JOIN sizes sa ON sa.doc_id = c.id_a
              |  JOIN sizes sb ON sb.doc_id = c.id_b
              |)
              |SELECT CAST(n_match AS BIGINT) AS n_match, count(*) AS n_pairs,
              |  floor(CAST(sum(jm) AS DOUBLE) / CAST(count(*) AS DOUBLE) + 0.5) / 1e6
              |    AS mean_jaccard,
              |  floor(CAST(sum(abs(n_match * 125000 - jm)) AS DOUBLE)
              |    / CAST(count(*) AS DOUBLE) + 0.5) / 1e6 AS mean_abs_err
              |FROM pairs GROUP BY n_match ORDER BY n_match""".stripMargin),
    ),

    // Incremental dedup of a 10% "new crawl" batch against the 90%
    // snapshot: one-sided banded candidates over bigram shingles,
    // exact-Jaccard verify at 0.8, smallest matching id wins. The oracle
    // replicates the shingling, the md5-slice MinHash banding, the
    // one-sided admission rule, and the argmin.
    GraftQuery(
      "q_dedup_incremental",
      (s, dir) => incrementalDedup(Tables(s, dir, "documents"), "doc_id", "text",
        col("doc_id") % 10 === 0),
      Some(s"""WITH t AS (
              |  SELECT doc_id, unnest(gs) AS w FROM (
              |    SELECT doc_id,
              |      list_distinct([ws[i] || ' ' || ws[i + 1]
              |        FOR i IN range(1, greatest(len(ws), 1))]) AS gs
              |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
              |),
              |sigs AS (
              |  SELECT doc_id,
              |${(0 until NumHashes).map(i => s"    min(substr(md5(w), ${i * 4 + 1}, 4)) AS h$i").mkString(",\n")}
              |  FROM t GROUP BY doc_id
              |),
              |banded AS (
              |  SELECT doc_id, doc_id % 10 = 0 AS is_batch,
              |    h0||h1||h2||h3 AS b0, h4||h5||h6||h7 AS b1 FROM sigs
              |),
              |cands AS (
              |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              |  FROM banded a JOIN banded b ON a.b0 = b.b0
              |    AND a.is_batch AND (NOT b.is_batch OR b.doc_id < a.doc_id)
              |  UNION
              |  SELECT DISTINCT a.doc_id, b.doc_id
              |  FROM banded a JOIN banded b ON a.b1 = b.b1
              |    AND a.is_batch AND (NOT b.is_batch OR b.doc_id < a.doc_id)
              |),
              |sizes AS (SELECT doc_id, count(*) AS sz FROM t GROUP BY doc_id),
              |inter AS (
              |  SELECT c.doc_a, c.doc_b, count(*) AS i
              |  FROM cands c
              |  JOIN t ta ON ta.doc_id = c.doc_a
              |  JOIN t tb ON tb.doc_id = c.doc_b AND tb.w = ta.w
              |  GROUP BY 1, 2
              |),
              |matched AS (
              |  SELECT i.doc_a, i.doc_b,
              |    CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i) AS jaccard
              |  FROM inter i
              |  JOIN sizes sa ON sa.doc_id = i.doc_a
              |  JOIN sizes sb ON sb.doc_id = i.doc_b
              |  WHERE CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i) >= 0.8
              |),
              |best AS (
              |  SELECT doc_a, doc_b, jaccard,
              |    row_number() OVER (PARTITION BY doc_a ORDER BY doc_b) AS rn
              |  FROM matched
              |)
              |SELECT d.doc_id, b.doc_b IS NOT NULL AS is_dup,
              |  b.doc_b AS dup_of, b.jaccard
              |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
              |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.doc_a = d.doc_id
              |ORDER BY d.doc_id""".stripMargin),
    ),

    GraftQuery(
      "q_dedup_exact",
      (s, dir) => exactDedup(Tables(s, dir, "documents"), "doc_id", "text").orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  min(doc_id) OVER (PARTITION BY k) AS canonical_id,
             |  doc_id <> min(doc_id) OVER (PARTITION BY k) AS is_dup
             |FROM (SELECT doc_id, md5(text) AS k FROM documents)
             |ORDER BY doc_id""".stripMargin),
    ),

    GraftQuery(
      "q_dedup_minhash",
      (s, dir) => minHashPairs(Tables(s, dir, "documents"), "doc_id", "text", "source")
        .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
        .limit(100),
      Some(s"""WITH t AS ($tokensSql),
              |sigs AS (
              |  SELECT doc_id, source,
              |${(0 until NumHashes).map(i => s"    min(substr(md5(w), ${i * 4 + 1}, 4)) AS h$i").mkString(",\n")}
              |  FROM t GROUP BY doc_id, source
              |),
              |banded AS (
              |  SELECT doc_id, source, h0||h1||h2||h3 AS band0, h4||h5||h6||h7 AS band1 FROM sigs
              |),
              |cands AS (
              |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              |  FROM banded a JOIN banded b
              |    ON a.source = b.source AND a.band0 = b.band0 AND a.doc_id < b.doc_id
              |  UNION
              |  SELECT DISTINCT a.doc_id, b.doc_id
              |  FROM banded a JOIN banded b
              |    ON a.source = b.source AND a.band1 = b.band1 AND a.doc_id < b.doc_id
              |),
              |sizes AS (SELECT doc_id, count(*) AS sz FROM t GROUP BY doc_id),
              |inter AS (
              |  SELECT c.doc_a, c.doc_b, count(*) AS inter
              |  FROM cands c
              |  JOIN t ta ON ta.doc_id = c.doc_a
              |  JOIN t tb ON tb.doc_id = c.doc_b AND tb.w = ta.w
              |  GROUP BY c.doc_a, c.doc_b
              |)
              |SELECT i.doc_a, i.doc_b,
              |  CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) AS jaccard
              |FROM inter i
              |JOIN sizes sa ON sa.doc_id = i.doc_a
              |JOIN sizes sb ON sb.doc_id = i.doc_b
              |ORDER BY jaccard DESC, i.doc_a, i.doc_b LIMIT 100""".stripMargin),
    ),

    GraftQuery(
      "q_dedup_simhash",
      (s, dir) => simHashPairs(Tables(s, dir, "documents"), "doc_id", "text", "source", 3)
        .orderBy("hamming", "doc_a", "doc_b"),
      Some(s"""WITH t AS (SELECT doc_id, source, md5(w) AS h FROM ($tokensSql)),
              |votes AS (
              |  SELECT doc_id, source,
              |${(0 until 16).map(j => s"    sum(CASE WHEN substr(h, ${j + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v$j").mkString(",\n")}
              |  FROM t GROUP BY doc_id, source
              |),
              |sigs AS (
              |  SELECT doc_id, source,
              |    ${(0 until 16).map(j => s"(CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")} AS simhash
              |  FROM votes
              |)
              |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash AS sim_a,
              |  bit_count(xor(a.simhash, b.simhash)) AS hamming
              |FROM sigs a JOIN sigs b
              |  ON a.source = b.source AND a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
              |ORDER BY hamming, doc_a, doc_b""".stripMargin),
    ),

    GraftQuery(
      "q_dedup_containment",
      (s, dir) => containmentPairs(Tables(s, dir, "documents"), "doc_id", "text", "source")
        .orderBy(col("containment").desc, col("doc_a"), col("doc_b"))
        .limit(100),
      Some(s"""WITH t AS ($tokensSql),
              |sizes AS (SELECT doc_id, count(*) AS sz FROM t GROUP BY doc_id),
              |inter AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
              |  FROM t a JOIN t b
              |    ON a.source = b.source AND a.w = b.w AND a.doc_id < b.doc_id
              |  GROUP BY a.doc_id, b.doc_id
              |)
              |SELECT i.doc_a, i.doc_b,
              |  CAST(i.inter AS DOUBLE) / least(sa.sz, sb.sz) AS containment
              |FROM inter i
              |JOIN sizes sa ON sa.doc_id = i.doc_a
              |JOIN sizes sb ON sb.doc_id = i.doc_b
              |ORDER BY containment DESC, i.doc_a, i.doc_b LIMIT 100""".stripMargin),
    ),

    GraftQuery(
      "q_dedup_clusters",
      (s, dir) => nearDupClusters(Tables(s, dir, "documents"), "doc_id", "text", "source", 3)
        .orderBy("doc_id"),
      Some(s"""$clusterLabelsSqlPrefix
              |SELECT doc_id, canonical_id,
              |  count(*) OVER (PARTITION BY canonical_id) AS cluster_size
              |FROM labels ORDER BY doc_id""".stripMargin),
    ),

    // The dedup policy end-to-end: cluster, then keep exactly one survivor
    // per cluster (longest doc wins, ties to the lowest id).
    GraftQuery(
      "q_dedup_keep",
      (s, dir) => dedupKeep(Tables(s, dir, "documents"), "doc_id", "text", "source", "n_chars", 3)
        .orderBy("doc_id"),
      Some(s"""$clusterLabelsSqlPrefix,
              |sized AS (
              |  SELECT l.doc_id, l.canonical_id, d.n_chars,
              |    count(*) OVER (PARTITION BY l.canonical_id) AS cluster_size,
              |    row_number() OVER (PARTITION BY l.canonical_id
              |                       ORDER BY d.n_chars DESC, l.doc_id) AS rk
              |  FROM labels l JOIN documents d ON d.doc_id = l.doc_id
              |)
              |SELECT doc_id, canonical_id, cluster_size, rk = 1 AS keep
              |FROM sized ORDER BY doc_id""".stripMargin),
    ),

    GraftQuery(
      "q_edit_distance",
      (s, dir) => editDistancePairs(Tables(s, dir, "documents"), "doc_id", "text", "source")
        .orderBy(col("dist"), col("doc_a"), col("doc_b"))
        .limit(100),
      Some("""WITH d AS (
             |  SELECT doc_id, source, length(text) // 50 AS lenb,
             |    substr(text, 1, 60) AS head
             |  FROM documents)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  levenshtein(a.head, b.head) AS dist
             |FROM d a JOIN d b
             |  ON a.source = b.source AND a.lenb = b.lenb AND a.doc_id < b.doc_id
             |ORDER BY dist, doc_a, doc_b LIMIT 100""".stripMargin),
    ),

    // The thresholded twin of q_edit_distance — the shape a production
    // near-dup pass actually runs: only pairs within maxDist come back,
    // and every candidate runs the banded early-exit DP, so the
    // per-candidate constant is ~100× below the full ranking's (which
    // stays above as the waived-quadratic contract — PLANS.md round-8).
    GraftQuery(
      "q_edit_threshold",
      (s, dir) => editDistancePairs(Tables(s, dir, "documents"), "doc_id", "text", "source",
          maxDist = Some(8))
        .orderBy(col("doc_a"), col("doc_b")),
      Some("""WITH d AS (
             |  SELECT doc_id, source, length(text) // 50 AS lenb,
             |    substr(text, 1, 60) AS head
             |  FROM documents)
             |SELECT doc_a, doc_b, dist FROM (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |    levenshtein(a.head, b.head) AS dist
             |  FROM d a JOIN d b
             |    ON a.source = b.source AND a.lenb = b.lenb AND a.doc_id < b.doc_id)
             |WHERE dist <= 8 ORDER BY doc_a, doc_b""".stripMargin),
    ),

    // Blocked Jaro–Winkler fuzzy self-join over part names at ≥ 0.90 —
    // the record-linkage pairing kernel as a native codegen expression.
    // The oracle cross-checks the EXACT-INTEGER engine kernel against
    // DuckDB's own double-valued jaro_winkler_similarity (independent
    // implementations; micro-quantization is the meeting point), so both
    // the match/transposition scan and the Winkler boost convention are
    // verified engine-to-engine rather than replayed.
    GraftQuery(
      "q_jw_join",
      (s, dir) => jaroWinklerJoin(Tables(s, dir, "part"), "p_partkey", "p_name",
          minMicros = 900000L)
        .orderBy("a", "b"),
      Some("""WITH p AS (
             |  SELECT p_partkey AS id, p_name AS nm,
             |    split_part(p_name, ' ', 1) AS blk
             |  FROM part)
             |SELECT a, b, jw FROM (
             |  SELECT x.id AS a, y.id AS b,
             |    CAST(floor(jaro_winkler_similarity(x.nm, y.nm) * 1e6 + 0.5)
             |      AS BIGINT) AS jw
             |  FROM p x JOIN p y ON y.blk = x.blk AND x.id < y.id)
             |WHERE jw >= 900000 ORDER BY a, b""".stripMargin),
    ),

    // Entity resolution end-to-end: blocked Jaro–Winkler pairing at
    // ≥ 0.90 (q_jw_join's kernel, same blocking) → connected components
    // over the match graph (the verified clusterPairs union-find /
    // label-propagation machinery) → canonical id = cluster minimum.
    // The full record-linkage pipeline a master-data system runs: every
    // part keyed to its entity cluster, with cluster size.
    //
    // CONNECTIVITY edges, not the q_jw_join pair listing: a name held by
    // k records is a clique the CC only needs as a (k−1)-edge star to
    // its min id, and a matched NAME pair needs ONE representative edge,
    // not the k_a·k_b bipartite product. The id-level listing fed to
    // clusterPairs at 16× name multiplicity was ~25M edges and wedged
    // the propagation rounds (caught by this round's scale probe); the
    // star+representative graph is |records| + |matched name pairs|
    // edges with identical components.
    GraftQuery(
      "q_er",
      (s, dir) => {
        val parts = Tables(s, dir, "part")
        val p = parts.select(col("p_partkey").as("id"), col("p_name").as("nm"))
        val rep = p.groupBy("nm").agg(min("id").as("rep"))
        val stars = p.join(rep, Seq("nm")).filter(col("id") =!= col("rep"))
          .select(col("id").as("doc_a"), col("rep").as("doc_b"))
        val nameEdges = jaroWinklerNamePairs(parts, "p_name", 900000L)
          .join(rep.select(col("nm").as("na"), col("rep").as("ra")), Seq("na"))
          .join(rep.select(col("nm").as("nb"), col("rep").as("rb")), Seq("nb"))
          .select(col("ra").as("doc_a"), col("rb").as("doc_b"))
        clusterPairs(parts.select(col("p_partkey").as("doc_id")),
            stars.unionByName(nameEdges))
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE p AS (
             |  SELECT p_partkey AS id, p_name AS nm,
             |    split_part(p_name, ' ', 1) AS blk
             |  FROM part),
             |jw AS (
             |  SELECT a, b FROM (
             |    SELECT x.id AS a, y.id AS b,
             |      CAST(floor(jaro_winkler_similarity(x.nm, y.nm) * 1e6 + 0.5)
             |        AS BIGINT) AS jw
             |    FROM p x JOIN p y ON y.blk = x.blk AND x.id < y.id)
             |  WHERE jw >= 900000),
             |edges AS (
             |  SELECT a, b FROM jw UNION SELECT b, a FROM jw),
             |reach(id, lab) AS (
             |  SELECT id, id FROM p
             |  UNION
             |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.id
             |),
             |labels AS (SELECT id AS doc_id, min(lab) AS canonical_id
             |           FROM reach GROUP BY id)
             |SELECT doc_id, canonical_id,
             |  count(*) OVER (PARTITION BY canonical_id) AS cluster_size
             |FROM labels ORDER BY doc_id""".stripMargin),
    ),

    GraftQuery(
      "q_ngram_jaccard",
      (s, dir) => ngramJaccardPairs(Tables(s, dir, "documents"), "doc_id", "text", "source")
        .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
        .limit(100),
      Some("""WITH g AS (
             |  SELECT doc_id, source, unnest(gs) AS g FROM (
             |    SELECT doc_id, source,
             |      list_distinct(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS gs
             |    FROM (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents)
             |  )
             |),
             |sizes AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
             |inter AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
             |  FROM g a JOIN g b
             |    ON a.source = b.source AND a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY a.doc_id, b.doc_id
             |)
             |SELECT i.doc_a, i.doc_b,
             |  CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) AS jaccard
             |FROM inter i
             |JOIN sizes sa ON sa.doc_id = i.doc_a
             |JOIN sizes sb ON sb.doc_id = i.doc_b
             |ORDER BY jaccard DESC, i.doc_a, i.doc_b LIMIT 100""".stripMargin),
    ),

    // Prefix-filter set-similarity join on BIGRAM shingles at τ = 0.8 — NO
    // blocking key; the oracle is the quadratic definition (DuckDB can
    // afford it at sf0.01), the Spark side must reach the same pairs
    // through prefix filtering. Bigrams, not unigrams: this synthetic
    // corpus shares most of its unigram vocabulary across docs (unigram
    // J >= 0.9 holds for 7% of ALL pairs), while bigram-set Jaccard
    // isolates the true near-dups.
    GraftQuery(
      "q_setsim_prefix",
      (s, dir) => prefixFilterJaccardPairs(Tables(s, dir, "documents"), "doc_id", "text", 0.8),
      Some("""WITH w AS (
             |  SELECT doc_id, unnest(gs) AS tok FROM (
             |    SELECT doc_id,
             |      list_distinct(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS gs
             |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
             |),
             |sizes AS (SELECT doc_id, count(*) AS sz FROM w GROUP BY doc_id),
             |inter AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
             |  FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2
             |),
             |j AS (
             |  SELECT doc_a, doc_b,
             |    CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) AS jaccard
             |  FROM inter i
             |  JOIN sizes sa ON sa.doc_id = i.doc_a
             |  JOIN sizes sb ON sb.doc_id = i.doc_b
             |)
             |SELECT doc_a, doc_b, floor(jaccard * 1e6 + 0.5) / 1e6 AS jaccard
             |FROM j WHERE jaccard >= 0.8
             |ORDER BY doc_a, doc_b""".stripMargin),
    ),

    // Ranked top-100 set-similarity WITHOUT a threshold, via descent —
    // semantically: top-100 of pairs with jaccard >= the ladder floor
    // (0.1), ordered by (rounded jaccard desc, ids); the descent is pure
    // execution strategy, so the oracle states the contract directly.
    GraftQuery(
      "q_setsim_topk",
      (s, dir) => rankedJaccardTopK(Tables(s, dir, "documents"), "doc_id", "text", 100),
      Some("""WITH w AS (
             |  SELECT doc_id, unnest(gs) AS tok FROM (
             |    SELECT doc_id,
             |      list_distinct(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS gs
             |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
             |),
             |sizes AS (SELECT doc_id, count(*) AS sz FROM w GROUP BY doc_id),
             |inter AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
             |  FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2
             |),
             |j AS (
             |  SELECT doc_a, doc_b,
             |    CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter) AS jaccard
             |  FROM inter i
             |  JOIN sizes sa ON sa.doc_id = i.doc_a
             |  JOIN sizes sb ON sb.doc_id = i.doc_b
             |)
             |SELECT doc_a, doc_b, floor(jaccard * 1e6 + 0.5) / 1e6 AS jaccard
             |FROM j WHERE jaccard >= 0.1
             |ORDER BY 3 DESC, doc_a, doc_b LIMIT 100""".stripMargin),
    ),
  )
}
