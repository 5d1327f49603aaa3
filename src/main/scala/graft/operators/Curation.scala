package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Corpus-curation operators for the training-data pipeline, round 6:
  * benchmark decontamination (n-gram overlap against a held-out set),
  * exact stratified train/val/test splitting, corpus-wide top n-grams, and
  * time-series gap-fill with linear interpolation. All shapes scale: the
  * benchmark gram set is broadcast (benchmark suites are fixed-size by
  * construction), splits and spines are per-stratum windows, and the
  * corpus top-k is a partial-aggregated TakeOrdered — no global funnel.
  */
object Curation {

  /** Word n-grams of `textCol` as an array column. Guarded transform over
    * an index sequence (NOT `sequence(1, size-k)` bare: Spark's sequence
    * REVERSES when end < start, so short docs would fabricate grams —
    * same trap as [[Dedup]]'s bigram builder).
    */
  private[operators] def gramsOf(textCol: Column, n: Int): Column = {
    val ws = split(textCol, " ")
    if (n == 2)
      // one-pass zip_with form: O(words), vs the general slice-per-index
      // form's O(words·n) — bigrams are the corpus-statistics hot path.
      // concat (null-propagating), NOT concat_ws: zip_with pads the short
      // side with null and the trailing (last, null) pair must drop, not
      // truncate to a bare word
      filter(
        zip_with(ws, slice(ws, lit(2), size(ws)), (a, b) => concat(a, lit(" "), b)),
        g => g.isNotNull)
    else
      when(size(ws) >= n,
        transform(sequence(lit(1), size(ws) - (n - 1)),
          i => concat_ws(" ", slice(ws, i, lit(n)))))
        .otherwise(array().cast("array<string>"))
  }

  /** Benchmark decontamination: flag every corpus document sharing at least
    * one word `n`-gram with the benchmark set (the GPT-3-style overlap
    * check run before training). Output per non-benchmark doc:
    * (doc_id, n_grams, n_hits, contaminated) where n_grams = distinct
    * grams in the doc and n_hits = how many of them occur anywhere in the
    * benchmark.
    *
    * Scale shape: grams are computed map-side and de-duplicated per doc
    * BEFORE the join (shuffle volume = distinct grams, not occurrences);
    * the benchmark side is collected into a broadcast leg — benchmark
    * suites are fixed-size (thousands of documents) no matter how big the
    * corpus is, so the broadcast is bounded by the BENCHMARK, never the
    * corpus. The corpus side streams through one broadcast-hash semi-join
    * at scan speed.
    */
  def decontaminate(df: DataFrame, idCol: String, textCol: String,
      benchPred: Column => Column, n: Int = 4): DataFrame = {
    // the gram build feeds three subplans (bench leg, hits leg, final
    // n_grams projection) and deliberately does NOT materialize: measured
    // at sf0.1, a localCheckpoint here is 10× SLOWER (0.17 s → 1.75 s) —
    // it serializes the full gram arrays and severs codegen/pruning, while
    // re-tokenizing is a cheap scan-speed map. The tiledPairScan2
    // materialization convention applies to EXPENSIVE prepared frames
    // (plane-dot kernels), not to cheap map work.
    val base = df.select(col(idCol).cast(LongType).as("doc_id"),
        array_distinct(gramsOf(col(textCol), n)).as("grams"))
    val dg = base.select(col("doc_id"), explode(col("grams")).as("g"))
    val bench = dg.filter(benchPred(col("doc_id"))).select("g").distinct()
    val hits = dg.filter(!benchPred(col("doc_id")))
      .join(broadcast(bench), Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    base.filter(!benchPred(col("doc_id")))
      .select(col("doc_id"), size(col("grams")).cast(LongType).as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Exact stratified train/val/test split: within each stratum, rank rows
    * by a deterministic hash of the id and cut at floor(frac·n) — every
    * stratum lands at EXACTLY the requested proportions (a plain
    * hash-bucket split only hits them in expectation, and small strata can
    * land far off). The hash ordering makes the split a pure function of
    * the data: re-running on the same corpus reproduces the same split,
    * and adding documents reshuffles only within the affected strata.
    * One shuffle on the stratum key (same window shape as domainQuota).
    * Output: (doc_id, source, strat_rank, n_strat, split).
    */
  def stratifiedSplit(df: DataFrame, idCol: String, strataCol: String,
      trainFrac: Double, valFrac: Double): DataFrame = {
    require(trainFrac > 0 && valFrac >= 0 && trainFrac + valFrac < 1,
      s"need 0 < train, 0 <= val, train+val < 1; got $trainFrac/$valFrac")
    val w = Window.partitionBy("source").orderBy(col("hkey"), col("doc_id"))
    df.select(col(idCol).cast(LongType).as("doc_id"), col(strataCol).as("source"))
      .withColumn("hkey", Sketches.hash48(col("doc_id")))
      .withColumn("strat_rank", row_number().over(w).cast(LongType))
      .withColumn("n_strat", count(lit(1)).over(Window.partitionBy("source")))
      .select(col("doc_id"), col("source"), col("strat_rank"), col("n_strat"),
        when(col("strat_rank") <= floor(lit(trainFrac) * col("n_strat")), "train")
          .when(col("strat_rank") <= floor(lit(trainFrac + valFrac) * col("n_strat")), "val")
          .otherwise("test").as("split"))
  }

  /** Corpus-wide top-k word n-grams by occurrence count (vocabulary /
    * collocation statistics). The count is a partial-aggregated groupBy
    * (map-side combine soaks up repeats) and the top-k is
    * orderBy+limit — Spark plans TakeOrderedAndProject, a per-partition
    * heap + driver merge of k rows, NOT a global sort. The row_number
    * ranking runs after the limit, over k rows. Ties break on the gram
    * string, so output is total-ordered and reproducible.
    */
  def topNgrams(df: DataFrame, textCol: String, n: Int = 2, k: Int = 25): DataFrame = {
    val counts = df.select(explode(gramsOf(col(textCol), n)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
    counts.orderBy(col("cnt").desc, col("ngram")).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("ngram"))).cast(LongType))
  }

  /** Daily gap-fill with linear interpolation: aggregate `valCol` per
    * (key, day), build each key's day spine from its own min to max day,
    * and fill missing days by interpolating between the surrounding
    * observations. Sums accumulate in DECIMAL so the double handed to the
    * interpolation is bit-identical on any engine/merge order; the
    * interpolation itself is 4 IEEE ops on exact inputs (day deltas are
    * integers). Edges always exist (the spine is bounded by observed
    * days), so the fill is total.
    *
    * Scale shape: one shuffle on the key for the aggregate; the spine
    * explode is bounded by the key's time span (days, not rows); both
    * fill windows share the (key, day) sort of a single exchange.
    * Output: (key, day, observed, value_filled).
    */
  def interpolateDaily(df: DataFrame, keyCol: String, tsCol: String,
      valCol: String): DataFrame = {
    val daily = df.groupBy(col(keyCol).as("key"), to_date(col(tsCol)).as("day"))
      .agg(sum(col(valCol).cast(DecimalType(30, 6))).as("v"))
    val spine = daily.groupBy("key").agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("key"), explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val wPrev = Window.partitionBy("key").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy("key").orderBy("day")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    spine.join(daily, Seq("key", "day"), "left")
      .withColumn("pv", last(col("v").cast("double"), ignoreNulls = true).over(wPrev))
      .withColumn("pd", last(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("v").cast("double"), ignoreNulls = true).over(wNext))
      .withColumn("nd", first(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(wNext))
      .select(col("key"), col("day"), col("v").isNotNull.as("observed"),
        (floor(
          when(col("v").isNotNull, col("v").cast("double"))
            .otherwise(col("pv") + (col("nv") - col("pv")) *
              datediff(col("day"), col("pd")).cast("double") /
              datediff(col("nd"), col("pd")).cast("double"))
            * lit(1e6) + lit(0.5)) / lit(1e6)).as("value_filled"))
  }

  /** Overlapping word-window chunking (the embedding-pipeline splitter:
    * long documents become chunkSize-token windows advancing by
    * chunkSize − overlap). Pure map-side generate — scan speed, no
    * shuffle; chunk ids are per-document ordinals so downstream stages can
    * reassemble or as-of-join chunks back to documents.
    * Output: (doc_id, chunk_id, chunk_text, n_tokens).
    */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got $overlap/$chunkSize")
    val stride = chunkSize - overlap
    val ws = split(col(textCol), " ")
    df.select(col(idCol).cast(LongType).as("doc_id"), ws.as("ws"))
      .select(col("doc_id"), size(col("ws")).as("words"),
        posexplode(transform(sequence(lit(1), size(col("ws")), lit(stride)),
          st => concat_ws(" ", slice(col("ws"), st, lit(chunkSize))))))
      .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("chunk_id"),
        col("col").as("chunk_text"),
        least(lit(chunkSize.toLong),
          (col("words") - (col("pos") * stride + 1) + 1).cast(LongType)).as("n_tokens"))
  }

  /** Exact duplicate-span detection, the word-gram approximation of
    * suffix-array ExactSubstr dedup (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better"): for every document, the fraction
    * of its tokens covered by some word `n`-gram that occurs at least
    * twice anywhere in the corpus (across documents or repeated within
    * one). This is the span-level complement of document-level dedup —
    * boilerplate headers, licence blocks, and copy-pasted passages light
    * up even when the documents as a whole are unique, and the flagged
    * fraction is exactly what the span-cutting pass would remove.
    *
    * Scale shape: positional grams are generated map-side (O(tokens)
    * rows, never a per-doc pairwise structure); the duplicate-gram set is
    * one partial-aggregated groupBy on the gram; flagged occurrences come
    * back through a shuffle semi-join on the same key, so the exchange is
    * reused; covered positions explode only for DUPLICATED occurrences
    * (the rare case by construction) and collapse via per-doc distinct
    * count. Nothing is corpus-sized on a single task.
    * Output: (doc_id, n_tokens, n_dup_tokens, dup_frac).
    */
  def dupSpans(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 2, s"span gram size must be >= 2, got $n")
    val ws = split(col(textCol), " ")
    val base = df.select(col(idCol).cast(LongType).as("doc_id"), ws.as("ws"))
      .select(col("doc_id"), size(col("ws")).cast(LongType).as("n_tokens"), col("ws"))
    val occ = base.select(col("doc_id"),
        posexplode(when(size(col("ws")) >= n,
          transform(sequence(lit(1), size(col("ws")) - (n - 1)),
            i => concat_ws(" ", slice(col("ws"), i, lit(n)))))
          .otherwise(array().cast("array<string>"))))
      .select(col("doc_id"), (col("pos") + 1).as("p0"), col("col").as("g"))
    val dup = occ.groupBy("g").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("g")
    val cov = occ.join(dup, Seq("g"), "left_semi")
      .select(col("doc_id"), explode(sequence(col("p0"), col("p0") + (n - 1))).as("p"))
      .groupBy("doc_id").agg(count_distinct(col("p")).as("n_dup_tokens"))
    base.select(col("doc_id"), col("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        (floor(coalesce(col("n_dup_tokens"), lit(0L)).cast("double") / col("n_tokens")
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("dup_frac"))
  }

  /** Per-label centroid of the quantized embeddings, one (label, dim) row
    * per coordinate: posexplode → partial-aggregated groupBy on
    * (label, dim) — the vector mean never materializes per-group arrays
    * or collects anything. Quantized-integer sums (the Similarity recipe)
    * keep the mean exact-input-identical under any merge order.
    * Output: (label, dim, mean_v).
    */
  def labelCentroids(embs: DataFrame, labelCol: String, vecCol: String): DataFrame = {
    val q = transform(col(vecCol),
      x => floor(x.cast("double") * lit(1000.0) + lit(0.5)).cast(LongType))
    embs.select(col(labelCol).cast(LongType).as("label"), posexplode(q))
      .groupBy(col("label"), col("pos").cast(LongType).as("dim"))
      .agg(sum("col").as("sq"), count(lit(1)).as("n"))
      .select(col("label"), col("dim"),
        (floor(col("sq").cast("double") / col("n") / lit(1000.0) * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("mean_v"))
  }

  /** Corpus-wide segment-level dedup — the CCNet/MassiveText "line dedup"
    * pass that strips repeated boilerplate across documents. Each document
    * splits into consecutive `segTokens`-token segments (on a real
    * newline-delimited corpus the splitter is the line break; the
    * synthetic corpus has no newlines, so fixed token windows stand in —
    * the operator is the same), each DISTINCT segment keeps only its
    * first corpus occurrence, and the survivors reassemble in document
    * order. First-occurrence selection is a min(struct(id, pos)) ARG-MIN
    * AGGREGATE — map-side combinable, so a boilerplate segment repeated
    * a billion times collapses in the combiners instead of funneling
    * through one window task.
    * Output: (id, clean_text, n_segments, n_kept, kept_frac).
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String, segTokens: Int): DataFrame = {
    val ws = split(col(textCol), " ")
    val nSeg = ceil(size(ws).cast("double") / segTokens).cast(LongType)
    val seg = df.select(col(idCol).as("id"),
      posexplode(transform(sequence(lit(0L), nSeg - 1),
        i => concat_ws(" ", slice(ws, (i * segTokens + 1).cast("int"), lit(segTokens))))))
    val keeper = seg.groupBy(col("col").as("seg"))
      .agg(min(struct(col("id"), col("pos"))).as("k"))
      .select(col("seg"), col("k.id").as("kid"), col("k.pos").as("kpos"))
    val kept = seg.join(keeper,
      seg("col") === keeper("seg") && seg("id") === keeper("kid") &&
        seg("pos") === keeper("kpos"))
    val docs = kept.groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("col")))),
          x => x.getField("col"))).as("clean_text"))
    df.select(col(idCol).as("id"), nSeg.as("n_segments"))
      .join(docs, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (floor(coalesce(col("n_kept"), lit(0L)).cast("double")
          / col("n_segments").cast("double") * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("kept_frac"))
  }

  /** Pretraining mixture weighting: sampling share per source
    * ∝ n_source^alpha (the temperature-flattened mixture every
    * multi-source pretraining corpus uses — alpha < 1 upweights small
    * sources), then a DETERMINISTIC per-document keep decision via the
    * doc's own 48-bit hash against the source's sampling-probability
    * threshold — reproducible across engines, partitionings, and reruns,
    * the same property [[Sketches.hash48]] gives the weighted sampler.
    * Per-source stats ride a broadcast (source cardinality is tiny by
    * construction); the per-doc decision is map-side. Float discipline:
    * pow() is quantized immediately (libm divergence guard), every later
    * step is either integer math or a single exact-rounded IEEE op in a
    * fixed order, and the threshold scale 2^48 is a power of two (exact),
    * so both engines compute bit-identical thresholds.
    * Output: (id, source, n_source, share, sampled).
    */
  def sourceMixture(df: DataFrame, idCol: String, srcCol: String,
      alpha: Double, targetDocs: Long): DataFrame = {
    val n = df.groupBy(col(srcCol)).agg(count(lit(1)).as("n_source"))
    val w = n.withColumn("__w",
      floor(pow(col("n_source").cast("double"), lit(alpha)) * lit(1e4) + lit(0.5))
        .cast(LongType))
    val tot = w.agg(sum("__w").as("__tw"))
    val shares = w.crossJoin(broadcast(tot))
      .withColumn("share",
        floor(col("__w").cast("double") / col("__tw").cast("double") * lit(1e6) + lit(0.5)) / lit(1e6))
      .withColumn("__p",
        least(lit(1.0), col("share") * lit(targetDocs.toDouble) / col("n_source").cast("double")))
      .withColumn("__thr", floor(col("__p") * lit(281474976710656.0)).cast(LongType))
      .select(col(srcCol), col("n_source"), col("share"), col("__thr"))
    df.select(col(idCol), col(srcCol))
      .join(broadcast(shares), srcCol)
      .select(col(idCol), col(srcCol), col("n_source"), col("share"),
        (Sketches.hash48(col(idCol)) < col("__thr")).as("sampled"))
  }

  val queries: Seq[GraftQuery] = Seq(

    // α-tempered source mixture with deterministic doc sampling. The
    // fixture's 20 sources are uniform (the mixture would be flat), so
    // docs group into a SKEWED 60/30/10 tier split first — α = 0.7 then
    // visibly upweights the small tier (its share exceeds its mass
    // fraction) and the sub-1 sampling probabilities exercise the
    // hash-threshold keep/drop branch, not just the p = 1 cap.
    GraftQuery(
      "q_source_mixture",
      (s, dir) => {
        val tiered = Tables(s, dir, "documents").withColumn("tier",
          when(col("doc_id") % 10 < 6, "big")
            .when(col("doc_id") % 10 < 9, "mid").otherwise("small"))
        sourceMixture(tiered, "doc_id", "tier", alpha = 0.7, targetDocs = 200)
          .orderBy("doc_id")
      },
      Some(s"""WITH d AS (
              |  SELECT doc_id,
              |    CASE WHEN doc_id % 10 < 6 THEN 'big'
              |         WHEN doc_id % 10 < 9 THEN 'mid' ELSE 'small' END AS tier
              |  FROM documents),
              |n AS (SELECT tier, count(*) AS n_source FROM d GROUP BY tier),
              |w AS (
              |  SELECT tier, n_source,
              |    CAST(floor(pow(CAST(n_source AS DOUBLE), 0.7) * 1e4 + 0.5) AS BIGINT) AS w
              |  FROM n),
              |t AS (SELECT sum(w) AS tw FROM w),
              |s AS (
              |  SELECT tier, n_source,
              |    floor(CAST(w AS DOUBLE) / CAST(tw AS DOUBLE) * 1e6 + 0.5) / 1e6 AS share
              |  FROM w CROSS JOIN t),
              |thr AS (
              |  SELECT tier, n_source, share,
              |    CAST(floor(least(1.0, share * 200.0 / CAST(n_source AS DOUBLE))
              |      * 281474976710656.0) AS BIGINT) AS thr
              |  FROM s)
              |SELECT d.doc_id, d.tier, n_source, share,
              |  ${Sketches.hash48Sql("d.doc_id")} < thr AS sampled
              |FROM d JOIN thr USING (tier)
              |ORDER BY d.doc_id""".stripMargin),
    ),

    // Corpus-wide first-occurrence segment dedup with reassembly.
    GraftQuery(
      "q_line_dedup",
      (s, dir) => lineDedup(Tables(s, dir, "documents"), "doc_id", "text", 8)
        .orderBy("doc_id"),
      Some("""WITH base AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |seg AS (
             |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
             |    array_to_string(list_slice(ws, i * 8 + 1, i * 8 + 8), ' ') AS seg
             |  FROM base, unnest(range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS t(i)
             |),
             |keep AS (
             |  SELECT doc_id, pos, seg,
             |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rk
             |  FROM seg
             |),
             |docs AS (
             |  SELECT doc_id, count(*) AS n_kept,
             |    string_agg(seg, ' ' ORDER BY pos) AS clean_text
             |  FROM keep WHERE rk = 1 GROUP BY doc_id
             |)
             |SELECT b.doc_id, coalesce(d.clean_text, '') AS clean_text,
             |  CAST(ceil(len(b.ws) / 8.0) AS BIGINT) AS n_segments,
             |  CAST(coalesce(d.n_kept, 0) AS BIGINT) AS n_kept,
             |  floor(CAST(coalesce(d.n_kept, 0) AS DOUBLE)
             |    / ceil(len(b.ws) / 8.0) * 1e6 + 0.5) / 1e6 AS kept_frac
             |FROM base b LEFT JOIN docs d USING (doc_id)
             |ORDER BY doc_id""".stripMargin),
    ),

    // Overlapping 40-token chunks advancing by 30 (10-token overlap).
    GraftQuery(
      "q_chunk",
      (s, dir) => chunkDocs(Tables(s, dir, "documents"), "doc_id", "text", 40, 10)
        .orderBy("doc_id", "chunk_id"),
      Some("""WITH base AS (
             |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
             |)
             |SELECT doc_id,
             |  CAST((st - 1) // 30 + 1 AS BIGINT) AS chunk_id,
             |  array_to_string(list_slice(ws, st, st + 39), ' ') AS chunk_text,
             |  CAST(least(40, len(ws) - st + 1) AS BIGINT) AS n_tokens
             |FROM base, unnest(range(1, len(ws) + 1, 30)) AS t(st)
             |ORDER BY doc_id, chunk_id""".stripMargin),
    ),

    // Per-label embedding centroids (quantized-exact coordinate means).
    GraftQuery(
      "q_centroid",
      (s, dir) => labelCentroids(Tables(s, dir, "embeddings"), "label", "embedding")
        .orderBy("label", "dim"),
      Some("""SELECT CAST(label AS BIGINT) AS label, CAST(pos - 1 AS BIGINT) AS dim,
             |  floor(CAST(sum(q) AS DOUBLE) / count(*) / 1000.0 * 1e6 + 0.5) / 1e6 AS mean_v
             |FROM (
             |  SELECT label,
             |    unnest(list_transform(embedding,
             |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))) AS q,
             |    generate_subscripts(embedding, 1) AS pos
             |  FROM embeddings
             |)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    ),

    // Decontamination: docs with doc_id % 20 == 0 stand in for the
    // benchmark suite; 4-grams give a realistic contamination density on
    // the synthetic vocabulary (~10% of docs share a 4-gram).
    GraftQuery(
      "q_decontaminate",
      (s, dir) => decontaminate(Tables(s, dir, "documents"), "doc_id", "text",
        id => id % 20 === 0, n = 4).orderBy("doc_id"),
      Some("""WITH base AS (
             |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
             |),
             |g AS (
             |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(ws) - 2, 1)),
             |    i -> array_to_string(list_slice(ws, i, i + 3), ' '))) AS grams
             |  FROM base
             |),
             |dg AS (SELECT doc_id, unnest(grams) AS gr FROM g),
             |bench AS (SELECT DISTINCT gr FROM dg WHERE doc_id % 20 = 0),
             |hits AS (
             |  SELECT doc_id, count(*) AS n_hits FROM dg
             |  WHERE doc_id % 20 <> 0 AND gr IN (SELECT gr FROM bench)
             |  GROUP BY doc_id
             |)
             |SELECT g.doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
             |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
             |  coalesce(h.n_hits, 0) > 0 AS contaminated
             |FROM g LEFT JOIN hits h ON h.doc_id = g.doc_id
             |WHERE g.doc_id % 20 <> 0 ORDER BY g.doc_id""".stripMargin),
    ),

    // Exact stratified 80/10/10 split by source.
    GraftQuery(
      "q_split_stratified",
      (s, dir) => stratifiedSplit(Tables(s, dir, "documents"), "doc_id", "source",
        0.8, 0.1).orderBy("doc_id"),
      Some(s"""WITH r AS (
              |  SELECT doc_id, source,
              |    CAST(row_number() OVER (
              |      PARTITION BY source ORDER BY ${Sketches.hash48Sql("doc_id")}, doc_id) AS BIGINT) AS strat_rank,
              |    count(*) OVER (PARTITION BY source) AS n_strat
              |  FROM documents
              |)
              |SELECT doc_id, source, strat_rank, n_strat,
              |  -- (0.8 + 0.1) computed in DOUBLE, not a 0.9 literal: the Spark
              |  -- side adds the two fractions in IEEE double (= 0.90000000000000013),
              |  -- so the oracle must perform the SAME addition
              |  CASE WHEN strat_rank <= floor(CAST(0.8 AS DOUBLE) * n_strat) THEN 'train'
              |       WHEN strat_rank <= floor((CAST(0.8 AS DOUBLE) + CAST(0.1 AS DOUBLE)) * n_strat) THEN 'val'
              |       ELSE 'test' END AS split
              |FROM r ORDER BY doc_id""".stripMargin),
    ),

    // Corpus-wide top-25 bigrams with deterministic tie order.
    GraftQuery(
      "q_top_ngrams",
      (s, dir) => topNgrams(Tables(s, dir, "documents"), "text", n = 2, k = 25)
        .orderBy("rank"),
      Some("""WITH base AS (
             |  SELECT string_split(text, ' ') AS ws FROM documents
             |),
             |tok AS (
             |  SELECT unnest(list_transform(range(1, greatest(len(ws), 1)),
             |    i -> array_to_string(list_slice(ws, i, i + 1), ' '))) AS ngram
             |  FROM base
             |),
             |c AS (SELECT ngram, count(*) AS cnt FROM tok GROUP BY ngram)
             |SELECT ngram, cnt,
             |  CAST(row_number() OVER (ORDER BY cnt DESC, ngram) AS BIGINT) AS rank
             |FROM c ORDER BY cnt DESC, ngram LIMIT 25""".stripMargin),
    ),

    // Per-user daily purchase series, gaps linearly interpolated (the
    // purchase stream is ~60% sparse at the day grain).
    GraftQuery(
      "q_interpolate",
      (s, dir) => interpolateDaily(
        Tables(s, dir, "events").filter(col("event_type") === "purchase"),
        "user_id", "ts", "value").orderBy("key", "day"),
      Some("""WITH daily AS (
             |  SELECT user_id AS key, CAST(ts AS DATE) AS day,
             |    sum(CAST(value AS DECIMAL(30,6))) AS v
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
             |),
             |b AS (SELECT key, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
             |spine AS (
             |  SELECT key, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
             |  FROM b
             |),
             |j AS (
             |  SELECT s.key, s.day, d.v FROM spine s
             |  LEFT JOIN daily d ON d.key = s.key AND d.day = s.day
             |),
             |f AS (
             |  SELECT key, day, v,
             |    last_value(CAST(v AS DOUBLE) IGNORE NULLS) OVER w AS pv,
             |    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER w AS pd,
             |    first_value(CAST(v AS DOUBLE) IGNORE NULLS) OVER w2 AS nv,
             |    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER w2 AS nd
             |  FROM j
             |  WINDOW w AS (PARTITION BY key ORDER BY day
             |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |         w2 AS (PARTITION BY key ORDER BY day
             |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
             |)
             |SELECT key, day, v IS NOT NULL AS observed,
             |  floor((CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
             |    ELSE pv + (nv - pv) * CAST(date_diff('day', pd, day) AS DOUBLE)
             |                        / CAST(date_diff('day', pd, nd) AS DOUBLE) END)
             |    * 1e6 + 0.5) / 1e6 AS value_filled
             |FROM f ORDER BY key, day""".stripMargin),
    ),

    // Duplicate 5-gram span coverage: ~14% of docs carry a repeated span
    // on the synthetic corpus — realistic boilerplate density.
    GraftQuery(
      "q_dup_spans",
      (s, dir) => dupSpans(Tables(s, dir, "documents"), "doc_id", "text", n = 5)
        .orderBy("doc_id"),
      Some("""WITH base AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |occ AS (
             |  SELECT doc_id, i AS p0, array_to_string(list_slice(ws, i, i + 4), ' ') AS g
             |  FROM base, unnest(range(1, greatest(len(ws) - 3, 1))) AS t(i)
             |),
             |dup AS (SELECT g FROM occ GROUP BY g HAVING count(*) >= 2),
             |cov AS (
             |  SELECT doc_id, count(DISTINCT p) AS n_dup
             |  FROM (SELECT o.doc_id, unnest(range(o.p0, o.p0 + 5)) AS p
             |        FROM occ o JOIN dup USING (g))
             |  GROUP BY doc_id
             |)
             |SELECT b.doc_id, CAST(len(b.ws) AS BIGINT) AS n_tokens,
             |  CAST(coalesce(c.n_dup, 0) AS BIGINT) AS n_dup_tokens,
             |  floor(CAST(coalesce(c.n_dup, 0) AS DOUBLE) / len(b.ws) * 1e6 + 0.5) / 1e6
             |    AS dup_frac
             |FROM base b LEFT JOIN cov c USING (doc_id)
             |ORDER BY doc_id""".stripMargin),
    ),

    // Deterministic weighted-priority sampling: pick 50 documents with
    // probability increasing in weight (n_chars — stand-in for a quality
    // score) via priority = hash48(doc_id) / weight, keep the smallest.
    // The exponential-jumps variant of Efraimidis–Spirakis reservoir
    // sampling, with the uniform drawn from the doc's own hash so the
    // sample is REPRODUCIBLE across engines, partitionings, and reruns —
    // the property corpus-subset selection actually needs. All-integer
    // hash (< 2^48) divided by an integer weight is one exact-rounded
    // IEEE op → bit-identical priorities everywhere. Top-k by priority is
    // TakeOrdered: per-partition heaps, no global sort — scales.
    GraftQuery(
      "q_weighted_sample",
      (s, dir) => {
        Tables(s, dir, "documents")
          .filter(col("n_chars") > 0L)
          .select(col("doc_id"), col("n_chars"),
            (Sketches.hash48(col("doc_id")).cast("double") / col("n_chars").cast("double"))
              .as("priority"))
          .orderBy(col("priority"), col("doc_id"))
          .limit(50)
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, n_chars, priority FROM (
              |  SELECT doc_id, n_chars,
              |    CAST(${Sketches.hash48Sql("doc_id")} AS DOUBLE) / CAST(n_chars AS DOUBLE)
              |      AS priority
              |  FROM documents WHERE n_chars > 0
              |  ORDER BY priority, doc_id LIMIT 50)
              |ORDER BY doc_id""".stripMargin),
    ),

    // T5-style span corruption (deterministic variant): words group into
    // length-3 blocks, a block masks iff hash48(doc_id:block) % 100 < 15
    // (~15% token mass in ~3-token spans — the T5 recipe's rate/length,
    // with the sampling made a pure hash function of (doc, block) so any
    // engine reproduces it bit-for-bit); masked blocks collapse to a
    // sentinel <X_b> in the input and reappear as sentinel-prefixed spans
    // in the target. Entirely map-side array arithmetic — no explode, no
    // shuffle: the masked-LM data-prep pass runs at scan speed. Sentinel
    // ids are block ordinals (not renumbered) — deterministic without a
    // per-doc prefix scan.
    GraftQuery(
      "q_span_corruption",
      (s, dir) => {
        def h48(c: org.apache.spark.sql.Column) =
          conv(substring(md5(c), 1, 12), 16, 10).cast(LongType)
        val masked = (b: org.apache.spark.sql.Column) =>
          h48(concat(col("doc_id").cast("string"), lit(":"), b.cast("string"))) % 100 < 15
        val spanOf = (b: org.apache.spark.sql.Column) =>
          slice(col("ws"), b * 3 + 1, lit(3))
        Tables(s, dir, "documents")
          .withColumn("ws", split(col("text"), " "))
          .withColumn("n_words", size(col("ws")).cast(LongType))
          .withColumn("blocks",
            sequence(lit(0), (ceil(col("n_words") / lit(3.0)) - 1).cast("int")))
          .select(
            col("doc_id"), col("n_words"),
            coalesce(aggregate(filter(col("blocks"), masked), lit(0L),
              (acc, b) => acc + size(spanOf(b))), lit(0L)).as("n_masked"),
            array_join(transform(col("blocks"), b =>
              when(masked(b), concat(lit("<X_"), b.cast("string"), lit(">")))
                .otherwise(array_join(spanOf(b), " "))), " ").as("input_text"),
            array_join(transform(filter(col("blocks"), masked), b =>
              concat(lit("<X_"), b.cast("string"), lit("> "),
                array_join(spanOf(b), " "))), " ").as("target_text"),
          )
          .orderBy("doc_id")
      },
      Some {
        val mask = Sketches.hash48Sql(
          "CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)") + " % 100 < 15"
        s"""WITH m AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |x AS (
           |  SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n_words,
           |    [b FOR b IN range(0, CAST(ceil(len(ws) / 3.0) AS BIGINT))] AS blocks
           |  FROM m
           |)
           |SELECT doc_id, n_words,
           |  CAST(coalesce(list_sum(list_transform(
           |    list_filter(blocks, b -> $mask),
           |    b -> len(ws[b * 3 + 1 : b * 3 + 3]))), 0) AS BIGINT) AS n_masked,
           |  array_to_string(list_transform(blocks, b ->
           |    CASE WHEN $mask THEN '<X_' || CAST(b AS VARCHAR) || '>'
           |         ELSE array_to_string(ws[b * 3 + 1 : b * 3 + 3], ' ') END), ' ')
           |    AS input_text,
           |  coalesce(array_to_string(list_transform(list_filter(blocks, b -> $mask), b ->
           |    '<X_' || CAST(b AS VARCHAR) || '> '
           |      || array_to_string(ws[b * 3 + 1 : b * 3 + 3], ' ')), ' '), '')
           |    AS target_text
           |FROM x ORDER BY doc_id""".stripMargin
      },
    ),

    // Per-source corpus datasheet (the "datasheet for datasets" rollup a
    // corpus release ships with): doc/token/char volume, exact-duplicate
    // mass, and language spread per source — ONE partial-aggregated
    // groupBy over map-side-computed per-doc stats (token counts and the
    // md5 content key never leave the mapper un-aggregated), so the card
    // costs a single scan at 100 TB. dup_frac compares decimal-exact
    // counts; the displayed ratio rounds at 1e-6.
    GraftQuery(
      "q_corpus_datasheet",
      (s, dir) => {
        Tables(s, dir, "documents")
          .select(col("source"), col("lang"), col("n_chars"),
            size(split(col("text"), " ")).cast(LongType).as("toks"),
            md5(col("text")).as("ck"))
          .groupBy("source").agg(
            count(lit(1)).as("n_docs"),
            sum("toks").as("n_tokens"),
            sum("n_chars").as("n_chars"),
            countDistinct("ck").as("distinct_texts"),
            countDistinct("lang").as("n_langs"))
          .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
            col("distinct_texts"), col("n_langs"),
            (floor((lit(1.0) - col("distinct_texts").cast("double") /
              col("n_docs").cast("double")) * lit(1e6) + lit(0.5)) / lit(1e6))
              .as("dup_frac"))
          .orderBy("source")
      },
      Some("""SELECT source, count(*) AS n_docs,
             |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
             |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
             |  count(DISTINCT md5(text)) AS distinct_texts,
             |  count(DISTINCT lang) AS n_langs,
             |  floor((1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE)
             |    / CAST(count(*) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS dup_frac
             |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    ),
  )
}
