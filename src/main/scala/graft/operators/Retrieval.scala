package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Retrieval-pipeline operators for training-data curation: hybrid
  * lexical+dense search with reciprocal-rank fusion, and DSIR-style
  * importance weighting for target-distribution resampling.
  *
  * No reference analog (the reference's only retrieval is the HBase point
  * Get, `FinFraudGuard.java`); these extend the engine toward the
  * LLM-data-pipeline surface the builder brief asks for.
  *
  * Scale notes (100 TB):
  *   - The lexical leg is a posting-list equi-join on the term — the
  *     classic distributed IR shape. Nothing is all-pairs: a candidate
  *     (query, doc) pair exists only where an inverted-list entry does, and
  *     the per-term document frequency / corpus stats are tiny broadcast
  *     sides. Per-query top-k is a window PARTITIONED by query.
  *   - The dense leg broadcasts the QUERY set (queries ≪ corpus in any
  *     real deployment) and streams the corpus through a broadcast
  *     nested-loop scoring pass — the corpus is never shuffled, never
  *     materialized per-task beyond one row.
  *   - Fusion joins two k-bounded rank lists (≤ k rows per query each), so
  *     the outer join and final window run over |queries|·k rows, not data.
  *   - DSIR weights are one map-side tokenize + two vocab-sized aggregates
  *     joined back by broadcast; selection is TakeOrderedAndProject
  *     (k-bounded) + a broadcast membership join — no global window, no
  *     driver-side data movement.
  *
  * Cross-engine determinism follows the house discipline: every unordered
  * float sum is replaced by a BIGINT-micros sum (per-term contributions are
  * quantized to integers first), ranks order by (quantized score DESC, id)
  * so ties cannot flip between engines, and RRF itself is evaluated in
  * exact integer micro-units.
  */
object Retrieval {

  /** RRF constant (Cormack et al. 2009's k=60). */
  private val RrfK = 60

  /** transform(vec, x -> round-half-up(x*1000) as bigint) — the same int
    * quantization [[Similarity]] uses, so dot products are exact integers.
    * Package-visible (round-10 ADVICE) so RetrievalSpec's bucket-gating
    * property pins THIS quantizer instead of re-implementing it inline.
    */
  private[graft] def quantized(vecCol: Column): Column =
    transform(vecCol, x => floor(x.cast("double") * lit(1000.0) + lit(0.5)).cast("long"))

  private val quantizedSql =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))"

  /** Hybrid retrieval: BM25 posting-list scoring and exact cosine over the
    * embedding column, each ranked per query to `topPerLeg`, fused with
    * reciprocal-rank fusion 1/(60+r), top `topOut` per query emitted.
    *
    * `queryPred` (over the document frame) selects the query documents,
    * whose ids must align with `emb`'s `vec_id`; each query is scored
    * against every OTHER document (self-matches excluded from both legs).
    *
    * `maxDfFrac`: lexical candidate mass is Σ_w |queries∋w|·df(w) — the
    * posting-list contract. On a corpus where common terms appear in most
    * documents, those terms contribute near-zero idf but almost all of the
    * candidate mass (the 32× twin-fixture probe: 82 s vs 13.5 s with
    * per-copy vocabularies). Setting `maxDfFrac=f` prunes
    * query terms with df > f·n_docs BEFORE the posting fan-out — standard
    * stop-word/static pruning.
    *
    * DEFAULT = Some(0.5): the production path prunes terms appearing in
    * more than half the corpus. Recall contract: a pruned term's idf is
    * ≤ ln 2 ≈ 0.69 (df > n/2 ⇒ (n−df+0.5)/(df+0.5) < 1), so scores omit
    * only sub-ln2-idf contributions; a candidate reachable ONLY through
    * such terms loses its lexical rank, and two candidates separated only
    * by stop-word mass may swap adjacent ranks. Pass `maxDfFrac = None`
    * for exact textbook BM25 (what the verify query pins against DuckDB).
    *
    * `maxQueryTerms`: the df cap alone does not bound candidate mass on a
    * ZIPFIAN corpus — queries here are whole documents (~60+ distinct
    * terms), and with p(rank r) ∝ 1/r the Σ_w |queries∋w|·df(w) mass is
    * dominated by MID-frequency terms that sit well under any df
    * fraction a stop-word cap can honestly use (measured: the round-10
    * zipf-64× fixture disk-killed the uncapped leg). The standard IR
    * answer for document-as-query (Lucene MoreLikeThis: maxQueryTerms=25)
    * is to score only each query's most DISCRIMINATIVE terms: keep the
    * `t` rarest (df asc, term) terms per query — deterministic, and
    * exactly the terms carrying the idf mass — before the posting
    * fan-out, bounding candidates at |queries|·t·max-df. DEFAULT =
    * Some(32) (queries here average ~60-90 distinct terms, so this keeps
    * the top third of the idf signal). Ranking contract: scores omit the
    * query's commonest terms' sub-idf contributions, same class of
    * approximation as the df cap. Pass None for the exact leg.
    *
    * `denseLsh`: replace the exact-cosine dense leg (a broadcast
    * nested-loop over queries × corpus — the correctness baseline, and
    * quadratic when the query set grows with the corpus) with the
    * sign-LSH bucketed scan: both sides bucket by [[Similarity]]'s 8
    * integer hyperplane sign bits and candidates come from a bucket
    * EQUI-join, so a query scores only its own bucket's ~1/256 of the
    * corpus. Recall contract is sign-LSH's: a near neighbor across a
    * hyperplane is missed (q_similarity_multiprobe's probing is the
    * recall-raising variant); ranks among scored candidates are exact.
    */
  def hybridRrf(docs: DataFrame, emb: DataFrame, queryPred: Column,
      topPerLeg: Int = 20, topOut: Int = 5,
      maxDfFrac: Option[Double] = Some(0.5),
      maxQueryTerms: Option[Int] = Some(32),
      denseLsh: Boolean = false): DataFrame = {
    // The query-id set: small by construction (queries ≪ corpus), carried
    // as a broadcast side into both legs.
    val queryIds = docs.where(queryPred).select(col("doc_id").as("__qid"))

    // ---- lexical leg: BM25 over the corpus posting lists ----
    val toks = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("dl", size(col("ws")).cast(LongType))
    val tf = toks.select(col("doc_id"), col("dl"), explode(col("ws")).as("w"))
      .groupBy("doc_id", "dl", "w").agg(count(lit(1)).as("tf"))
    // Corpus stats derive from tf, NOT from a second pass over toks: every
    // consumer of tf shares one shuffle stage at runtime (AQE's stage
    // cache keys on the canonicalized exchange; ReuseExchangeAndSubquery
    // does the same when AQE is off), so the text corpus is parsed exactly
    // ONCE; a toks-side aggregate would be a second full scan+split of the
    // corpus. Costs one small reshuffle of the distinct-term frame on the
    // broadcast path (~+0.4 s at sf0.1, probe-measured 3.45 vs 3.83) —
    // bought deliberately: at 100 TB the second parse dwarfs it. Exact
    // integer sums, value-identical.
    val stats = tf.groupBy("doc_id").agg(max("dl").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    // idf is a per-TERM value: evaluate it (and the df cap) on the
    // vocab-sized dictionary, not per candidate row — the posting fan-out
    // below multiplies every expression left inside it by |queries|·df(w)
    // (an ln() per candidate measured ~25% of the lexical leg at sf0.1).
    val dfreqAll = tf.groupBy("w").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs").cast("double") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
    // The df cap is applied to the TERM dictionary, so pruned terms never
    // reach the posting fan-out (pruning after the join would pay the full
    // candidate mass first).
    val dfreq = maxDfFrac
      .fold(dfreqAll)(f => dfreqAll.where(col("df") <= lit(f) * col("n_docs")))
      .select("w", "df", "idf")
    val qTermsAll = tf.join(broadcast(queryIds), col("doc_id") === col("__qid"), "left_semi")
      .select(col("doc_id").as("query_id"), col("w")).distinct()
      .join(broadcast(dfreq), "w")
    // The per-query term budget runs over the QUERY-side frame
    // (|queries|·terms rows — tiny next to the posting fan-out it bounds);
    // rarest-first with the term as tie-break keeps it deterministic.
    val qTerms = maxQueryTerms.fold(qTermsAll) { t =>
      val wq = Window.partitionBy("query_id").orderBy(col("df").asc, col("w").asc)
      qTermsAll.withColumn("__tr", row_number().over(wq))
        .where(col("__tr") <= t).drop("__tr")
    }
    // The BM25 length norm is per-(doc, term): hoist it out of the fan-out
    // too (tf is |docs|·|terms-per-doc| rows; the candidate mass below is
    // |queries| times that).
    val tfN = tf.crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("dnorm",
        col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
      .select(col("doc_id"), col("w"), col("tf"), col("dnorm"))
    // Candidate mass = inverted-list join: one row per (query term, posting).
    val contrib = qTerms.join(tfN, "w")
      .where(col("doc_id") =!= col("query_id"))
      .withColumn("c", (col("idf") * (col("tf") * lit(2.2))) / col("dnorm"))
      // Quantize BEFORE the per-(query,doc) sum: BIGINT addition is
      // order-free where a double sum over an unordered term group is not.
      .withColumn("c_micros", floor(col("c") * lit(1e6) + lit(0.5)).cast(LongType))
    val lex = contrib.groupBy("query_id", "doc_id")
      .agg(sum("c_micros").as("lex_micros"))
    val wLex = Window.partitionBy("query_id")
      .orderBy(col("lex_micros").desc, col("doc_id"))
    val lexTop = lex
      .withColumn("r_lex", row_number().over(wLex).cast(LongType))
      .where(col("r_lex") <= topPerLeg)
      .select("query_id", "doc_id", "r_lex")

    // ---- dense leg: exact cosine (query side broadcast) or, with
    // denseLsh, a sign-LSH bucket equi-join — the corpus is still never
    // shuffled ON DATA (the bucket column is derived map-side and the
    // query side stays the broadcast build) ----
    val prep0 = emb
      .withColumn("q", quantized(col("embedding")))
      .withColumn("nrm", Similarity.dot(col("q"), col("q")))
    val prep =
      if (denseLsh) prep0.withColumn("__bkt", Similarity.lshBucket(col("q")))
        .select(col("vec_id"), col("q"), col("nrm"), col("__bkt"))
      else prep0.select(col("vec_id"), col("q"), col("nrm"))
    val queriesE = prep.join(broadcast(queryIds), col("vec_id") === col("__qid"), "left_semi")
      .withColumnRenamed("vec_id", "query_id")
      .withColumnRenamed("q", "qq").withColumnRenamed("nrm", "qnrm")
    val densePairs =
      if (denseLsh) prep.join(broadcast(queriesE), Seq("__bkt"))
      else prep.crossJoin(broadcast(queriesE))
    val dense = densePairs
      .where(col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        Similarity.dot(col("q"), col("qq")).cast("double") /
          (sqrt(col("nrm").cast("double")) * sqrt(col("qnrm").cast("double"))))
      .withColumn("cos_micros", floor(col("cos") * lit(1e6) + lit(0.5)).cast(LongType))
    val wDense = Window.partitionBy("query_id")
      .orderBy(col("cos_micros").desc, col("vec_id"))
    val denseTop = dense
      .withColumn("r_dense", row_number().over(wDense).cast(LongType))
      .where(col("r_dense") <= topPerLeg)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("r_dense"))

    // ---- fusion: exact integer RRF over the two k-bounded lists ----
    val fused = lexTop.join(denseTop, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_micros",
        coalesce(floor(lit(1e6) / (lit(RrfK.toDouble) + col("r_lex"))).cast(LongType), lit(0L)) +
          coalesce(floor(lit(1e6) / (lit(RrfK.toDouble) + col("r_dense"))).cast(LongType), lit(0L)))
    val wOut = Window.partitionBy("query_id")
      .orderBy(col("rrf_micros").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(wOut).cast(LongType))
      .where(col("rank") <= topOut)
      .select(col("query_id"), col("rank"), col("doc_id"),
        (col("rrf_micros").cast("double") / lit(1e6)).as("rrf"),
        col("r_lex"), col("r_dense"))
      .orderBy("query_id", "rank")
  }

  /** Ranking-quality metrics (nDCG + MRR) over a per-query ranked list with
    * graded relevance labels — the grader every retrieval operator in this
    * repo answers to in production (AUC/PR/KS grade classifiers; nothing
    * graded rankings until this).
    *
    * Input: (query_id, rank, rel) — rank 1-based within query, rel a small
    * non-negative integer grade. Per query:
    *   - DCG@k  = Σ (2^rel − 1) · w(rank),  w(p) = ln 2 / ln(p+1)  (= 1/log2(p+1))
    *   - IDCG@k = same sum with the SAME label multiset re-ranked ideally
    *     (rel DESC, original rank as tie-break) — the list-local ideal, the
    *     sklearn convention when only the retrieved list is labeled
    *   - nDCG = DCG/IDCG (0 when IDCG = 0), MRR = 1/first relevant rank.
    *
    * Determinism discipline: position weights are quantized to integer
    * micros from the ln-ratio double (the q_naive_bayes ln discipline —
    * ln, not log2, so both engines evaluate the identical IEEE expression);
    * gains are exact integers; per-query sums are BIGINT — order-free; the
    * final nDCG is one integer floor-division to micros. Scale shape: one
    * k-bounded window per query for the ideal re-rank plus one
    * partial-aggregated groupBy — the input is already k·|queries| rows,
    * so this runs at whatever scale the ranker's output has.
    * Output: (query_id, dcg_micros, idcg_micros, ndcg, mrr).
    */
  def rankingMetrics(ranked: DataFrame): DataFrame = {
    val wMicros = (pos: Column) =>
      floor(lit(1e6) * log(lit(2.0)) / log(pos.cast("double") + lit(1.0)) + lit(0.5))
        .cast(LongType)
    val wi = Window.partitionBy("query_id").orderBy(col("rel").desc, col("rank"))
    val staged = ranked
      .withColumn("gain", expr("CAST(shiftleft(1L, CAST(rel AS INT)) - 1 AS BIGINT)"))
      .withColumn("w_pos", wMicros(col("rank")))
      .withColumn("ideal_pos", row_number().over(wi).cast(LongType))
      .withColumn("w_ideal", wMicros(col("ideal_pos")))
    staged.groupBy("query_id").agg(
        sum(col("gain") * col("w_pos")).as("dcg_micros"),
        sum(col("gain") * col("w_ideal")).as("idcg_micros"),
        min(when(col("rel") > 0, col("rank"))).as("first_rel"))
      .select(col("query_id"), col("dcg_micros"), col("idcg_micros"),
        (when(col("idcg_micros") > 0, expr("dcg_micros * 1000000 div idcg_micros"))
          .otherwise(lit(0L)).cast("double") / lit(1e6)).as("ndcg"),
        (coalesce(expr("1000000 div first_rel"), lit(0L)).cast("double") / lit(1e6)).as("mrr"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, re-expressed over raw
    * unigrams): per-word log-likelihood ratio of the TARGET distribution
    * (rows matching `targetPred`) vs the full corpus, add-1 smoothed;
    * per-document importance = Σ tf(w)·llr(w) in exact BIGINT micro-units;
    * `selected` marks the `keep` highest-importance documents.
    */
  def importanceWeights(docs: DataFrame, targetPred: Column, keep: Int = 100): DataFrame = {
    val toks = docs
      .select(col("doc_id"), targetPred.as("is_target"),
        explode(split(col("text"), " ")).as("w"))
    val tf = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val ca = toks.groupBy("w").agg(
      count(lit(1)).as("ca"),
      sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"))
    val totals = ca.agg(sum("ca").as("a_tot"), sum("ct").as("t_tot"),
      count(lit(1)).as("v"))
    val llr = ca.crossJoin(broadcast(totals))
      .withColumn("llr",
        log((col("ct") + lit(1.0)) / (col("t_tot") + col("v")).cast("double")) -
          log((col("ca") + lit(1.0)) / (col("a_tot") + col("v")).cast("double")))
      .withColumn("llr_micros", floor(col("llr") * lit(1e6) + lit(0.5)).cast(LongType))
      .select("w", "llr_micros")
    val imp = tf.join(broadcast(llr), "w")
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("llr_micros")).as("imp_micros"))
    // Global selection WITHOUT a global window: TakeOrderedAndProject of the
    // k highest (k-bounded driver/exchange state) + broadcast membership.
    val top = imp.orderBy(col("imp_micros").desc, col("doc_id")).limit(keep)
      .select(col("doc_id").as("sel_id"))
    imp.join(broadcast(top), imp("doc_id") === top("sel_id"), "left_outer")
      .select(col("doc_id"),
        (col("imp_micros").cast("double") / lit(1e6)).as("weight"),
        col("sel_id").isNotNull.as("selected"))
      .orderBy("doc_id")
  }

  /** Leakage-free train/val/test split: the unit of assignment is the
    * NEAR-DUP CLUSTER, not the document — a doc and its near-twins always
    * land in the same split, so evaluation can't be contaminated by
    * training-set paraphrases (the failure doc-level hash splits have).
    * Split = deterministic 48-bit hash of the cluster's canonical id
    * against cumulative share thresholds. One broadcast-free pass over
    * the cluster labels; the clustering itself is [[Dedup.nearDupClusters]]
    * (signature-collapsed union-find — engine-curve scaling, PLANS.md).
    */
  def leakFreeSplit(docs: DataFrame, trainFrac: Double, valFrac: Double): DataFrame = {
    val h = Sketches.hash48(col("canonical_id"))
    val scale = (1L << 48).toDouble
    Dedup.nearDupClusters(docs, "doc_id", "text", "source", 3)
      .withColumn("split",
        when(h < lit((trainFrac * scale).toLong), "train")
          .when(h < lit(((trainFrac + valFrac) * scale).toLong), "val")
          .otherwise("test"))
      .select("doc_id", "canonical_id", "cluster_size", "split")
  }

  /** Contrastive training triples (anchor, positive, negative) for
    * embedding-model fine-tuning: positives are near-dup pairs (each
    * non-canonical cluster member anchored to its canonical), negatives
    * are drawn from a DETERMINISTIC k-doc pool (the k lowest-hash docs —
    * TakeOrderedAndProject, broadcast) with the anchor's own cluster
    * excluded, so a "negative" can never be a paraphrase of the anchor.
    * Per-anchor work is O(k) against the broadcast pool — the in-batch /
    * shared-pool negative-sampling shape, never an anchor×corpus join.
    * Selection inside the pool is the argmin of a mixed hash, so triples
    * are partition-invariant and engine-reproducible.
    */
  def contrastiveTriples(docs: DataFrame, poolSize: Int = 100): DataFrame = {
    // labels feeds both the pool and the anchor side — without
    // materialization the whole union-find clustering runs twice (lazy
    // RDD-level cache, ContextCleaner-freed; same trade as
    // Similarity.tiledPairScan)
    val labels = Dedup.nearDupClusters(docs, "doc_id", "text", "source", 3)
      .localCheckpoint(false)
    val pool = labels
      .select(col("doc_id").as("pid"), col("canonical_id").as("pcan"))
      .orderBy(Sketches.hash48(col("pid")), col("pid")).limit(poolSize)
    val anchors = labels
      .where(col("cluster_size") >= 2 && col("doc_id") =!= col("canonical_id"))
      .select(col("doc_id").as("anchor_id"), col("canonical_id").as("positive_id"))
    anchors.crossJoin(broadcast(pool))
      .where(col("pcan") =!= col("positive_id"))
      .withColumn("hsel", Sketches.hash48(col("anchor_id") * lit(1000000L) + col("pid")))
      .groupBy("anchor_id", "positive_id")
      .agg(min(struct(col("hsel").as("h"), col("pid").as("pid"))).as("best"))
      .select(col("anchor_id"), col("positive_id"), col("best.pid").as("negative_id"))
      .orderBy("anchor_id")
  }

  def queries: Seq[GraftQuery] = Seq(

    // Hybrid search: every 100th document is a query; BM25 and exact-cosine
    // top-20 lists fused by RRF, top-5 per query. The oracle replays the
    // identical quantized-integer pipeline in SQL — EXACT BM25, so the
    // verify query opts out of the production df-prune and query-term-cap
    // defaults (the capped production path has its own oracle row below).
    GraftQuery(
      "q_hybrid_rrf",
      (s, dir) => hybridRrf(
        Tables(s, dir, "documents"), Tables(s, dir, "embeddings"),
        queryPred = col("doc_id") % 100 === 0, maxDfFrac = None,
        maxQueryTerms = None),
      Some(s"""WITH toks AS (
              |  SELECT doc_id, string_split(text, ' ') AS ws,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
              |  FROM documents),
              |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM toks),
              |tf AS (
              |  SELECT doc_id, dl, w, count(*) AS tf
              |  FROM (SELECT doc_id, dl, unnest(ws) AS w FROM toks) GROUP BY 1, 2, 3),
              |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
              |qterms AS (
              |  SELECT DISTINCT doc_id AS query_id, w FROM tf WHERE doc_id % 100 = 0),
              |contrib AS (
              |  SELECT q.query_id, tf.doc_id,
              |    CAST(floor(
              |      (ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) * (tf * 2.2)) /
              |        (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
              |      * 1e6 + 0.5) AS BIGINT) AS c_micros
              |  FROM qterms q JOIN tf USING (w) JOIN dfq USING (w) CROSS JOIN stats
              |  WHERE tf.doc_id <> q.query_id),
              |lex AS (
              |  SELECT query_id, doc_id, sum(c_micros) AS lex_micros
              |  FROM contrib GROUP BY 1, 2),
              |lex_top AS (
              |  SELECT query_id, doc_id,
              |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY lex_micros DESC, doc_id) AS BIGINT) AS r_lex
              |  FROM lex QUALIFY r_lex <= 20),
              |prep AS (
              |  SELECT vec_id, $quantizedSql AS q FROM embeddings),
              |normed AS (
              |  SELECT vec_id, q, list_dot_product(q, q) AS nrm FROM prep),
              |dense AS (
              |  SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
              |    CAST(floor(list_dot_product(a.q, b.q) / (sqrt(a.nrm) * sqrt(b.nrm)) * 1e6 + 0.5) AS BIGINT) AS cos_micros
              |  FROM normed a JOIN normed b ON a.vec_id % 100 = 0 AND b.vec_id <> a.vec_id),
              |dense_top AS (
              |  SELECT query_id, doc_id,
              |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_micros DESC, doc_id) AS BIGINT) AS r_dense
              |  FROM dense QUALIFY r_dense <= 20),
              |fused AS (
              |  SELECT coalesce(l.query_id, d.query_id) AS query_id,
              |    coalesce(l.doc_id, d.doc_id) AS doc_id, l.r_lex, d.r_dense,
              |    coalesce(CAST(floor(1e6 / (60.0 + l.r_lex)) AS BIGINT), 0) +
              |      coalesce(CAST(floor(1e6 / (60.0 + d.r_dense)) AS BIGINT), 0) AS rrf_micros
              |  FROM lex_top l FULL OUTER JOIN dense_top d
              |    ON l.query_id = d.query_id AND l.doc_id = d.doc_id)
              |SELECT query_id,
              |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf_micros DESC, doc_id) AS BIGINT) AS rank,
              |  doc_id, CAST(rrf_micros AS DOUBLE) / 1e6 AS rrf, r_lex, r_dense
              |FROM fused QUALIFY rank <= 5
              |ORDER BY query_id, rank""".stripMargin),
    ),

    // Ranking metrics (nDCG@10 + MRR) grading the hybrid-retrieval output
    // against a deterministic graded relevance label (2·same-source +
    // 1·similar-length) — completes the eval family next to AUC/PR/KS.
    // The oracle replays the full uncapped hybrid pipeline at top-10 (the
    // q_hybrid_rrf CTE chain), the label join, and the integer-micros
    // DCG/IDCG sums with the ln-quantized position weights.
    GraftQuery(
      "q_ndcg",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val hyb = hybridRrf(docs, Tables(s, dir, "embeddings"),
          queryPred = col("doc_id") % 100 === 0, topOut = 10,
          maxDfFrac = None, maxQueryTerms = None)
        val meta = docs.select(col("doc_id").cast(LongType).as("doc_id"),
          col("source"), size(split(col("text"), " ")).cast(LongType).as("toks"))
        val labeled = hyb
          .join(meta.select(col("doc_id").as("query_id"), col("source").as("qsrc"),
            col("toks").as("qtoks")), "query_id")
          .join(meta.select(col("doc_id"), col("source").as("dsrc"),
            col("toks").as("dtoks")), "doc_id")
          .withColumn("rel",
            (when(col("qsrc") === col("dsrc"), 2L).otherwise(0L) +
              when(abs(col("qtoks") - col("dtoks")) <= 10, 1L).otherwise(0L))
              .cast(LongType))
          .select("query_id", "rank", "rel")
        rankingMetrics(labeled).orderBy("query_id")
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, string_split(text, ' ') AS ws,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
              |  FROM documents),
              |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM toks),
              |tf AS (
              |  SELECT doc_id, dl, w, count(*) AS tf
              |  FROM (SELECT doc_id, dl, unnest(ws) AS w FROM toks) GROUP BY 1, 2, 3),
              |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
              |qterms AS (
              |  SELECT DISTINCT doc_id AS query_id, w FROM tf WHERE doc_id % 100 = 0),
              |contrib AS (
              |  SELECT q.query_id, tf.doc_id,
              |    CAST(floor(
              |      (ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) * (tf * 2.2)) /
              |        (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
              |      * 1e6 + 0.5) AS BIGINT) AS c_micros
              |  FROM qterms q JOIN tf USING (w) JOIN dfq USING (w) CROSS JOIN stats
              |  WHERE tf.doc_id <> q.query_id),
              |lex AS (
              |  SELECT query_id, doc_id, sum(c_micros) AS lex_micros
              |  FROM contrib GROUP BY 1, 2),
              |lex_top AS (
              |  SELECT query_id, doc_id,
              |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY lex_micros DESC, doc_id) AS BIGINT) AS r_lex
              |  FROM lex QUALIFY r_lex <= 20),
              |prep AS (
              |  SELECT vec_id, $quantizedSql AS q FROM embeddings),
              |normed AS (
              |  SELECT vec_id, q, list_dot_product(q, q) AS nrm FROM prep),
              |dense AS (
              |  SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
              |    CAST(floor(list_dot_product(a.q, b.q) / (sqrt(a.nrm) * sqrt(b.nrm)) * 1e6 + 0.5) AS BIGINT) AS cos_micros
              |  FROM normed a JOIN normed b ON a.vec_id % 100 = 0 AND b.vec_id <> a.vec_id),
              |dense_top AS (
              |  SELECT query_id, doc_id,
              |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_micros DESC, doc_id) AS BIGINT) AS r_dense
              |  FROM dense QUALIFY r_dense <= 20),
              |fused AS (
              |  SELECT coalesce(l.query_id, d.query_id) AS query_id,
              |    coalesce(l.doc_id, d.doc_id) AS doc_id, l.r_lex, d.r_dense,
              |    coalesce(CAST(floor(1e6 / (60.0 + l.r_lex)) AS BIGINT), 0) +
              |      coalesce(CAST(floor(1e6 / (60.0 + d.r_dense)) AS BIGINT), 0) AS rrf_micros
              |  FROM lex_top l FULL OUTER JOIN dense_top d
              |    ON l.query_id = d.query_id AND l.doc_id = d.doc_id),
              |hyb AS (
              |  SELECT query_id,
              |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf_micros DESC, doc_id) AS BIGINT) AS rank,
              |    doc_id
              |  FROM fused QUALIFY rank <= 10),
              |meta AS (
              |  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS mtoks FROM documents),
              |labeled AS (
              |  SELECT h.query_id, h.rank,
              |    CAST(CASE WHEN q.source = d.source THEN 2 ELSE 0 END +
              |         CASE WHEN abs(q.mtoks - d.mtoks) <= 10 THEN 1 ELSE 0 END AS BIGINT) AS rel
              |  FROM hyb h JOIN meta q ON q.doc_id = h.query_id JOIN meta d ON d.doc_id = h.doc_id),
              |staged AS (
              |  SELECT query_id, rank, rel,
              |    CAST((1 << rel) - 1 AS BIGINT) AS gain,
              |    CAST(floor(1e6 * ln(2) / ln(rank + 1.0) + 0.5) AS BIGINT) AS w_pos,
              |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, rank) AS BIGINT) AS ideal_pos
              |  FROM labeled),
              |perq AS (
              |  SELECT query_id,
              |    sum(gain * w_pos) AS dcg_micros,
              |    sum(gain * CAST(floor(1e6 * ln(2) / ln(ideal_pos + 1.0) + 0.5) AS BIGINT)) AS idcg_micros,
              |    min(CASE WHEN rel > 0 THEN rank END) AS first_rel
              |  FROM staged GROUP BY 1)
              |SELECT query_id,
              |  CAST(dcg_micros AS BIGINT) AS dcg_micros,
              |  CAST(idcg_micros AS BIGINT) AS idcg_micros,
              |  CAST(CASE WHEN idcg_micros > 0 THEN dcg_micros * 1000000 // idcg_micros ELSE 0 END AS DOUBLE) / 1e6 AS ndcg,
              |  CAST(coalesce(1000000 // first_rel, 0) AS DOUBLE) / 1e6 AS mrr
              |FROM perq ORDER BY query_id""".stripMargin),
    ),

    // The PRODUCTION hybrid-search path, oracle-pinned: same fusion, but
    // the lexical leg runs under both scale guards — the df-fraction cap
    // (terms in > half the corpus never reach the posting fan-out) and
    // the per-query rarest-32-terms budget (document-as-query on a
    // Zipfian corpus is otherwise posting-mass-quadratic; see
    // [[hybridRrf]]). The oracle replays both guards exactly: df cap on
    // the term dictionary, then row_number over (df asc, w) per query.
    // The dense leg stays the exact scan here — its production variants
    // (sign-LSH / IVF / multi-probe / PQ) have their own oracle rows.
    GraftQuery(
      "q_hybrid_rrf_capped",
      (s, dir) => hybridRrf(
        Tables(s, dir, "documents"), Tables(s, dir, "embeddings"),
        queryPred = col("doc_id") % 100 === 0),
      Some(s"""WITH toks AS (
              |  SELECT doc_id, string_split(text, ' ') AS ws,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
              |  FROM documents),
              |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM toks),
              |tf AS (
              |  SELECT doc_id, dl, w, count(*) AS tf
              |  FROM (SELECT doc_id, dl, unnest(ws) AS w FROM toks) GROUP BY 1, 2, 3),
              |dfq0 AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
              |dfq AS (
              |  SELECT w, df FROM dfq0 CROSS JOIN stats
              |  WHERE df <= 0.5 * n_docs),
              |qterms AS (
              |  SELECT query_id, w FROM (
              |    SELECT q.query_id, q.w,
              |      row_number() OVER (PARTITION BY q.query_id ORDER BY d.df ASC, q.w ASC) AS tr
              |    FROM (SELECT DISTINCT doc_id AS query_id, w FROM tf WHERE doc_id % 100 = 0) q
              |    JOIN dfq d USING (w))
              |  WHERE tr <= 32),
              |contrib AS (
              |  SELECT q.query_id, tf.doc_id,
              |    CAST(floor(
              |      (ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) * (tf * 2.2)) /
              |        (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
              |      * 1e6 + 0.5) AS BIGINT) AS c_micros
              |  FROM qterms q JOIN tf USING (w) JOIN dfq USING (w) CROSS JOIN stats
              |  WHERE tf.doc_id <> q.query_id),
              |lex AS (
              |  SELECT query_id, doc_id, sum(c_micros) AS lex_micros
              |  FROM contrib GROUP BY 1, 2),
              |lex_top AS (
              |  SELECT query_id, doc_id,
              |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY lex_micros DESC, doc_id) AS BIGINT) AS r_lex
              |  FROM lex QUALIFY r_lex <= 20),
              |prep AS (
              |  SELECT vec_id, $quantizedSql AS q FROM embeddings),
              |normed AS (
              |  SELECT vec_id, q, list_dot_product(q, q) AS nrm FROM prep),
              |dense AS (
              |  SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
              |    CAST(floor(list_dot_product(a.q, b.q) / (sqrt(a.nrm) * sqrt(b.nrm)) * 1e6 + 0.5) AS BIGINT) AS cos_micros
              |  FROM normed a JOIN normed b ON a.vec_id % 100 = 0 AND b.vec_id <> a.vec_id),
              |dense_top AS (
              |  SELECT query_id, doc_id,
              |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_micros DESC, doc_id) AS BIGINT) AS r_dense
              |  FROM dense QUALIFY r_dense <= 20),
              |fused AS (
              |  SELECT coalesce(l.query_id, d.query_id) AS query_id,
              |    coalesce(l.doc_id, d.doc_id) AS doc_id, l.r_lex, d.r_dense,
              |    coalesce(CAST(floor(1e6 / (60.0 + l.r_lex)) AS BIGINT), 0) +
              |      coalesce(CAST(floor(1e6 / (60.0 + d.r_dense)) AS BIGINT), 0) AS rrf_micros
              |  FROM lex_top l FULL OUTER JOIN dense_top d
              |    ON l.query_id = d.query_id AND l.doc_id = d.doc_id)
              |SELECT query_id,
              |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf_micros DESC, doc_id) AS BIGINT) AS rank,
              |  doc_id, CAST(rrf_micros AS DOUBLE) / 1e6 AS rrf, r_lex, r_dense
              |FROM fused QUALIFY rank <= 5
              |ORDER BY query_id, rank""".stripMargin),
    ),

    // The FULLY production-shaped hybrid row: lexical leg under both
    // scale guards AND the dense leg through the sign-LSH bucket
    // equi-join (a query scores its own bucket only) — the deployment
    // shape end-to-end, oracle-pinned: DuckDB replays the df cap, the
    // per-query term budget, and the 8-hyperplane bucket arithmetic
    // (shared SQL with q_similarity_lsh's oracle).
    GraftQuery(
      "q_hybrid_rrf_lsh",
      (s, dir) => hybridRrf(
        Tables(s, dir, "documents"), Tables(s, dir, "embeddings"),
        queryPred = col("doc_id") % 100 === 0, denseLsh = true),
      Some(s"""WITH toks AS (
              |  SELECT doc_id, string_split(text, ' ') AS ws,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
              |  FROM documents),
              |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM toks),
              |tf AS (
              |  SELECT doc_id, dl, w, count(*) AS tf
              |  FROM (SELECT doc_id, dl, unnest(ws) AS w FROM toks) GROUP BY 1, 2, 3),
              |dfq0 AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
              |dfq AS (
              |  SELECT w, df FROM dfq0 CROSS JOIN stats
              |  WHERE df <= 0.5 * n_docs),
              |qterms AS (
              |  SELECT query_id, w FROM (
              |    SELECT q.query_id, q.w,
              |      row_number() OVER (PARTITION BY q.query_id ORDER BY d.df ASC, q.w ASC) AS tr
              |    FROM (SELECT DISTINCT doc_id AS query_id, w FROM tf WHERE doc_id % 100 = 0) q
              |    JOIN dfq d USING (w))
              |  WHERE tr <= 32),
              |contrib AS (
              |  SELECT q.query_id, tf.doc_id,
              |    CAST(floor(
              |      (ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) * (tf * 2.2)) /
              |        (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
              |      * 1e6 + 0.5) AS BIGINT) AS c_micros
              |  FROM qterms q JOIN tf USING (w) JOIN dfq USING (w) CROSS JOIN stats
              |  WHERE tf.doc_id <> q.query_id),
              |lex AS (
              |  SELECT query_id, doc_id, sum(c_micros) AS lex_micros
              |  FROM contrib GROUP BY 1, 2),
              |lex_top AS (
              |  SELECT query_id, doc_id,
              |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY lex_micros DESC, doc_id) AS BIGINT) AS r_lex
              |  FROM lex QUALIFY r_lex <= 20),
              |prep AS (
              |  SELECT vec_id, $quantizedSql AS q FROM embeddings),
              |normed AS (
              |  SELECT vec_id, q, list_dot_product(q, q) AS nrm,
              |${Similarity.lshBucketSql}
              |    AS bucket
              |  FROM prep),
              |dense AS (
              |  SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
              |    CAST(floor(list_dot_product(a.q, b.q) / (sqrt(a.nrm) * sqrt(b.nrm)) * 1e6 + 0.5) AS BIGINT) AS cos_micros
              |  FROM normed a JOIN normed b
              |    ON a.vec_id % 100 = 0 AND a.bucket = b.bucket AND b.vec_id <> a.vec_id),
              |dense_top AS (
              |  SELECT query_id, doc_id,
              |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_micros DESC, doc_id) AS BIGINT) AS r_dense
              |  FROM dense QUALIFY r_dense <= 20),
              |fused AS (
              |  SELECT coalesce(l.query_id, d.query_id) AS query_id,
              |    coalesce(l.doc_id, d.doc_id) AS doc_id, l.r_lex, d.r_dense,
              |    coalesce(CAST(floor(1e6 / (60.0 + l.r_lex)) AS BIGINT), 0) +
              |      coalesce(CAST(floor(1e6 / (60.0 + d.r_dense)) AS BIGINT), 0) AS rrf_micros
              |  FROM lex_top l FULL OUTER JOIN dense_top d
              |    ON l.query_id = d.query_id AND l.doc_id = d.doc_id)
              |SELECT query_id,
              |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf_micros DESC, doc_id) AS BIGINT) AS rank,
              |  doc_id, CAST(rrf_micros AS DOUBLE) / 1e6 AS rrf, r_lex, r_dense
              |FROM fused QUALIFY rank <= 5
              |ORDER BY query_id, rank""".stripMargin),
    ),

    // Leakage-free 80/10/10 split: near-dup clusters assigned whole.
    GraftQuery(
      "q_split_leakfree",
      (s, dir) => leakFreeSplit(Tables(s, dir, "documents"), 0.8, 0.1)
        .orderBy("doc_id"),
      Some(s"""${Dedup.clusterLabelsSqlPrefix},
              |sized AS (
              |  SELECT doc_id, canonical_id,
              |    count(*) OVER (PARTITION BY canonical_id) AS cluster_size
              |  FROM labels)
              |SELECT doc_id, canonical_id, cluster_size,
              |  CASE WHEN ${Sketches.hash48Sql("canonical_id")} < ${(0.8 * (1L << 48).toDouble).toLong}
              |         THEN 'train'
              |       WHEN ${Sketches.hash48Sql("canonical_id")} < ${(0.9 * (1L << 48).toDouble).toLong}
              |         THEN 'val' ELSE 'test' END AS split
              |FROM sized ORDER BY doc_id""".stripMargin),
    ),

    // Contrastive triples: cluster positives, 100-doc hash pool negatives.
    GraftQuery(
      "q_contrastive_pairs",
      (s, dir) => contrastiveTriples(Tables(s, dir, "documents")),
      Some(s"""${Dedup.clusterLabelsSqlPrefix},
              |sized AS (
              |  SELECT doc_id, canonical_id,
              |    count(*) OVER (PARTITION BY canonical_id) AS cluster_size
              |  FROM labels),
              |pool AS (
              |  SELECT doc_id AS pid, canonical_id AS pcan FROM sized
              |  ORDER BY ${Sketches.hash48Sql("doc_id")}, doc_id LIMIT 100),
              |anchors AS (
              |  SELECT doc_id AS anchor_id, canonical_id AS positive_id
              |  FROM sized WHERE cluster_size >= 2 AND doc_id <> canonical_id),
              |sel AS (
              |  SELECT anchor_id, positive_id, pid,
              |    row_number() OVER (PARTITION BY anchor_id ORDER BY
              |      ${Sketches.hash48Sql("(anchor_id * 1000000 + pid)")}, pid) AS rn
              |  FROM anchors CROSS JOIN pool WHERE pcan <> positive_id)
              |SELECT anchor_id, positive_id, pid AS negative_id
              |FROM sel WHERE rn = 1 ORDER BY anchor_id""".stripMargin),
    ),

    // DSIR importance weights: target = English documents; top-100 selected.
    GraftQuery(
      "q_importance_weights",
      (s, dir) => importanceWeights(
        Tables(s, dir, "documents"), targetPred = col("lang") === "en"),
      Some("""WITH toks AS (
             |  SELECT doc_id, lang = 'en' AS is_target, unnest(string_split(text, ' ')) AS w
             |  FROM documents),
             |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
             |ca AS (
             |  SELECT w, count(*) AS ca,
             |    sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct
             |  FROM toks GROUP BY 1),
             |totals AS (SELECT sum(ca) AS a_tot, sum(ct) AS t_tot, count(*) AS v FROM ca),
             |llr AS (
             |  SELECT w,
             |    CAST(floor((ln((ct + 1.0) / CAST(t_tot + v AS DOUBLE)) -
             |                ln((ca + 1.0) / CAST(a_tot + v AS DOUBLE))) * 1e6 + 0.5) AS BIGINT) AS llr_micros
             |  FROM ca CROSS JOIN totals),
             |imp AS (
             |  SELECT doc_id, sum(tf * llr_micros) AS imp_micros
             |  FROM tf JOIN llr USING (w) GROUP BY 1),
             |top AS (
             |  SELECT doc_id FROM imp ORDER BY imp_micros DESC, doc_id LIMIT 100)
             |SELECT i.doc_id, CAST(imp_micros AS DOUBLE) / 1e6 AS weight,
             |  t.doc_id IS NOT NULL AS selected
             |FROM imp i LEFT JOIN top t ON i.doc_id = t.doc_id
             |ORDER BY i.doc_id""".stripMargin),
    ),

    // Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    // pick 10 results that are RELEVANT but not REDUNDANT — step t takes
    // argmax of 7·rel(c) − 3·maxSim(c, selected) (λ = 0.7 in tenths, all
    // integer) over the candidate pool, ties on vec_id. rel and sim are
    // exact BIGINT dot products of ×1000-quantized embeddings (the
    // q_kmeans3 quantization), query = the lowest vec_id, pool = its
    // top-50 by relevance. Scale shape: the DISTRIBUTED work is the pool
    // build (at 100 TB that is the ANN shortlist path — q_ann_ivfpq);
    // the greedy itself is inherently sequential and O(k·pool) on a
    // k-bounded pool, so it runs on collected arrays (50 rel rows +
    // 50×50 sims — bounded by construction, the Lloyd-centroid
    // precedent), never on the corpus. The oracle unrolls the 10 greedy
    // steps as chained argmax CTEs.
    GraftQuery(
      "q_mmr",
      (s, dir) => {
        import s.implicits._
        val pool = 50
        val k = 10
        val q = Tables(s, dir, "embeddings")
          .withColumn("q", transform(col("embedding"),
            x => floor(x.cast("double") * lit(1000.0) + lit(0.5)).cast(LongType)))
          .select("vec_id", "q").localCheckpoint(false)
        val qid = q.agg(min("vec_id")).head().getLong(0)
        val qv = q.filter(col("vec_id") === qid).select(col("q").as("qq"))
        def dot(a: Column, b: Column): Column =
          aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)
        val rel = q.filter(col("vec_id") =!= qid).crossJoin(broadcast(qv))
          .select(col("vec_id"), col("q"), dot(col("q"), col("qq")).as("rel"))
          .orderBy(col("rel").desc, col("vec_id")).limit(pool)
          .localCheckpoint(false)
        val pd = rel.select(col("vec_id").as("a"), col("q").as("qa"))
          .crossJoin(rel.select(col("vec_id").as("b"), col("q").as("qb")))
          .filter(col("a") =!= col("b"))
          .select(col("a"), col("b"), dot(col("qa"), col("qb")).as("dot"))
        val relArr = rel.select("vec_id", "rel").as[(Long, Long)].collect()
          .sortBy { case (id, r) => (-r, id) }
        val sims = pd.as[(Long, Long, Long)].collect()
          .map { case (a, b, d) => (a, b) -> d }.toMap
        val selected = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
        for (t <- 1 to math.min(k, relArr.length)) {
          val cand = relArr.filter { case (id, _) => !selected.exists(_._2 == id) }
            .map { case (id, r) =>
              val pen = if (selected.isEmpty) 0L
                else selected.map(sel => sims((id, sel._2))).max
              (id, 7L * r - 3L * pen)
            }
          val (bid, bscore) = cand.minBy { case (id, sc) => (-sc, id) }
          selected += ((t, bid, bscore))
        }
        selected.toSeq.toDF("rk", "vec_id", "score").orderBy("rk")
      },
      Some {
        val head =
          """WITH prep AS MATERIALIZED (
            |  SELECT vec_id,
            |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS q
            |  FROM embeddings),
            |qv AS MATERIALIZED (
            |  SELECT q FROM prep WHERE vec_id = (SELECT min(vec_id) FROM prep)),
            |rel AS MATERIALIZED (
            |  SELECT p.vec_id, p.q, CAST(list_dot_product(p.q, qv.q) AS BIGINT) AS rel
            |  FROM prep p CROSS JOIN qv
            |  WHERE p.vec_id <> (SELECT min(vec_id) FROM prep)
            |  ORDER BY rel DESC, p.vec_id LIMIT 50),
            |pd AS MATERIALIZED (
            |  SELECT a.vec_id AS a, b.vec_id AS b,
            |    CAST(list_dot_product(a.q, b.q) AS BIGINT) AS dot
            |  FROM rel a JOIN rel b ON a.vec_id <> b.vec_id),
            |sel1 AS MATERIALIZED (
            |  SELECT 1 AS rk, vec_id, 7 * rel AS score FROM rel
            |  ORDER BY rel DESC, vec_id LIMIT 1),
            |selu1 AS MATERIALIZED (SELECT vec_id FROM sel1)""".stripMargin
        // every sel/selu MATERIALIZED: the selu chain is referenced twice
        // per step (join + NOT IN) and DuckDB otherwise INLINES chained
        // CTEs — exponential re-expansion (the q_msf oracle lesson)
        val steps = (2 to 10).map { t =>
          s"""sel$t AS MATERIALIZED (
             |  SELECT $t AS rk, c.vec_id, 7 * c.rel - 3 * max(p.dot) AS score
             |  FROM rel c
             |  JOIN pd p ON p.a = c.vec_id
             |  JOIN selu${t - 1} s ON s.vec_id = p.b
             |  WHERE c.vec_id NOT IN (SELECT vec_id FROM selu${t - 1})
             |  GROUP BY c.vec_id, c.rel
             |  ORDER BY score DESC, c.vec_id LIMIT 1),
             |selu$t AS MATERIALIZED (
             |  SELECT vec_id FROM selu${t - 1} UNION ALL SELECT vec_id FROM sel$t)""".stripMargin
        }
        (head +: steps).mkString(",\n") + "\n" +
          (1 to 10).map(t => s"SELECT rk, vec_id, score FROM sel$t")
            .mkString(" UNION ALL ") + " ORDER BY rk"
      },
    ),
  )
}
