package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed byte-pair-encoding tokenizer training and application
  * (Sennrich et al. 2016, the pretraining-tokenizer workhorse).
  *
  * Scale shape — the whole point of the formulation: BPE statistics are a
  * function of the WORD-FREQUENCY DICTIONARY, not the raw corpus. The
  * corpus collapses to (word, freq) in one partial-aggregated shuffle
  * (vocab-bounded — ~100M rows at 100 TB, never the corpus itself), and
  * every merge iteration runs over that dictionary: one pair-count
  * aggregate (map-side combinable, weighted by word freq), one
  * TakeOrdered(1) argmax to the driver (the merge table is the only
  * driver-held state, bounded by `numMerges`), and one fold-rewrite of
  * the symbol arrays of the words that actually contain the pair.
  * Segmentation of a scored corpus applies the frozen merge list once per
  * word TYPE (mapPartitions over the distinct-word frame — the genuine
  * per-partition imperative case) and joins the per-type token counts
  * back to occurrences, so the O(merges · word-length) inner loop never
  * runs per token instance.
  *
  * Determinism: pair argmax ties break (count desc, left asc, right asc);
  * the fold-rewrite is greedy left-to-right (the serial BPE semantics);
  * training is therefore a pure function of the word-frequency dict.
  * BpeSpec pins equivalence against a serial reference implementation,
  * greedy overlap cases ("aaaa"), tie determinism, and partition
  * invariance.
  */
object Bpe {

  /** End-of-word sentinel (Sennrich): lets merges capture word-final
    * units and makes detokenization unambiguous. */
  val EndOfWord = "</w>"

  /** Corpus → word-frequency dictionary with initial char(+sentinel)
    * symbol arrays. Empty tokens (leading/trailing/double spaces) drop. */
  private def wordDict(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .withColumn("syms", concat(split(col("w"), ""), array(lit(EndOfWord))))

  /** One greedy left-to-right merge pass of (a, b) → a+b over a symbol
    * array, as a pure column fold — the exact serial `merge` semantics
    * ("aaaa" + (a,a) → ["aa","aa"]: a just-merged token does not re-merge
    * with the next symbol in the same pass). */
  private def mergePass(syms: org.apache.spark.sql.Column, a: String, b: String)
      : org.apache.spark.sql.Column = {
    val merged = a + b
    aggregate(syms,
      array().cast(ArrayType(StringType)),
      (acc, x) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
          .otherwise(concat(acc, array(x))))
  }

  /** Train `numMerges` BPE merges on the corpus; returns the ranked merge
    * list (left, right, weighted pair count). Stops early when the best
    * remaining pair's count falls below `minPairCount`.
    *
    * The dictionary localCheckpoints every [[CkptEvery]] merges, not every
    * merge: a merge rewrite is a NARROW map-side column fold over the
    * vocab-bounded dict, so letting ≤ CkptEvery of them pile up in lineage
    * costs only recomputed map work under the next argmax action, while
    * checkpointing each round would materialize the dict numMerges times
    * (40 extra jobs at the fixture, 40 × 100M-row writes at corpus scale).
    * Unbounded lineage is still fenced — the same iterative-plan trap
    * PageRank's every-4th-round checkpoint retires.
    */
  val CkptEvery = 8

  /** Binary (UTF-8 byte) string order — Spark's string comparison. The
    * driver-path argmax must break ties EXACTLY like the distributed
    * orderBy, and JVM String.compareTo orders by UTF-16 code unit, which
    * diverges from UTF-8 byte order for supplementary characters. */
  private def utf8Lt(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < a.length && i < b.length) {
      val c = (a(i) & 0xFF) - (b(i) & 0xFF)
      if (c != 0) return c < 0
      i += 1
    }
    a.length < b.length
  }

  /** Driver-side merge loop over a collected word-frequency dict — the
    * fast path when the dict fits under `maxDriverVocab`. Identical
    * algorithm, tie-break, and stop rule as the distributed loop. */
  private def trainLocal(dict0: Array[(Array[String], Long)], numMerges: Int,
      minPairCount: Long): Seq[(String, String, Long)] = {
    var dict = dict0
    val merges = Seq.newBuilder[(String, String, Long)]
    var done = false
    var it = 0
    while (it < numMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      dict.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      var best: ((String, String), Long) = null
      counts.foreach { case (k, v) =>
        if (best == null || v > best._2 ||
          (v == best._2 && (utf8Lt(k._1, best._1._1) ||
            (k._1 == best._1._1 && utf8Lt(k._2, best._1._2))))) best = (k, v)
      }
      if (best == null || best._2 < minPairCount) done = true
      else {
        val ((a, b), cnt) = best
        merges += ((a, b, cnt))
        dict = dict.map { case (syms, f) =>
          if (syms.length < 2) (syms, f)
          else {
            val out = Array.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
                out += (a + b); i += 2
              } else { out += syms(i); i += 1 }
            }
            (out.result(), f)
          }
        }
      }
      it += 1
    }
    merges.result()
  }

  def train(df: DataFrame, textCol: String, numMerges: Int,
      minPairCount: Long = 2L, maxDriverVocab: Long = 1L << 20): Seq[(String, String, Long)] = {
    val base = wordDict(df, textCol).select("freq", "syms")
    // Vocab-size gate: a word-frequency dict under the cap collects ONCE
    // and the merge loop runs on the driver — numMerges sequential
    // cluster jobs collapse to one aggregate + one collect (real BPE
    // trainers hold the dict in memory; 1M words × ~50 B ≈ 50 MB). Past
    // the cap (web-scale vocab) the distributed loop below takes over.
    // Both paths share the argmax tie-break and greedy pass; BpeSpec pins
    // them equal.
    if (maxDriverVocab > 0 && base.count() <= maxDriverVocab) {
      val local = base.collect().map { r =>
        (r.getSeq[String](1).toArray, r.getLong(0))
      }
      return trainLocal(local, numMerges, minPairCount)
    }
    var dict = base.localCheckpoint(true)
    var fence = dict // last checkpointed frame (owns the cached blocks)
    var sinceCkpt = 0
    val merges = Seq.newBuilder[(String, String, Long)]
    var done = false
    var i = 0
    while (i < numMerges && !done) {
      val pairs = dict
        .select(col("freq"), explode(
          zip_with(col("syms"), slice(col("syms"), lit(2), size(col("syms"))),
            (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
        .filter(col("p.b").isNotNull)
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("cnt"))
      val best = pairs.orderBy(col("cnt").desc, col("a"), col("b")).limit(1).collect()
      if (best.isEmpty || best(0).getLong(2) < minPairCount) done = true
      else {
        val a = best(0).getString(0)
        val b = best(0).getString(1)
        val cnt = best(0).getLong(2)
        merges += ((a, b, cnt))
        // rewrite only words that contain the pair adjacently; the rest
        // pass through untouched (no fold evaluation on the cold vocab)
        val hasPair = exists(
          zip_with(col("syms"), slice(col("syms"), lit(2), size(col("syms"))),
            (x, y) => x === lit(a) && y === lit(b)),
          p => p)
        dict = dict.withColumn("syms",
          when(hasPair, mergePass(col("syms"), a, b)).otherwise(col("syms")))
        sinceCkpt += 1
        if (sinceCkpt >= CkptEvery) {
          val prev = fence
          dict = dict.localCheckpoint(true)
          fence = dict
          sinceCkpt = 0
          prev.unpersist(blocking = false)
        }
      }
      i += 1
    }
    fence.unpersist(blocking = false)
    merges.result()
  }

  /** Serial BPE application of a frozen merge list to one word — the
    * per-word-TYPE inner loop behind [[segmentVocab]]. */
  private[graft] def applyMerges(word: String,
      ranked: Seq[(String, String)]): Seq[String] = {
    var syms: Vector[String] = word.map(_.toString).toVector :+ EndOfWord
    ranked.foreach { case (a, b) =>
      if (syms.length > 1) {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
    }
    syms
  }

  /** Segment the distinct-word frame under a frozen merge list: one
    * imperative pass per word TYPE (mapPartitions; merges ride the
    * closure — numMerges-bounded), never per occurrence.
    * Output: (w, tokens, n_tokens). */
  def segmentVocab(words: DataFrame, ranked: Seq[(String, String)]): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val out = words.select(col("w").cast(StringType)).as[String]
      .mapPartitions { it =>
        it.map { w => (w, applyMerges(w, ranked)) }
      }.toDF("w", "tokens")
    out.withColumn("n_tokens", size(col("tokens")).cast(LongType))
  }

  /** Per-document token counts under a corpus-trained BPE vocab: train on
    * `trainDf`, segment the scored corpus's distinct words, join counts
    * back to word occurrences, aggregate per doc.
    * Output: (doc_id, n_words, n_tokens, chars_per_token 1e-4-rounded). */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String,
      ranked: Seq[(String, String)]): DataFrame = {
    val occ = df.select(col(idCol).cast(LongType).as("doc_id"),
        explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
    val segmented = segmentVocab(occ.select("w").distinct(), ranked)
      .select(col("w"), col("n_tokens"), length(col("w")).cast(LongType).as("n_chars"))
    occ.join(segmented, "w")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_words"),
        sum("n_tokens").as("n_tokens"),
        sum("n_chars").as("sum_chars"))
      .select(col("doc_id"), col("n_words"), col("n_tokens"),
        (floor(col("sum_chars").cast("double") / col("n_tokens").cast("double")
          * lit(1e4) + lit(0.5)) / lit(1e4)).as("chars_per_token"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for the SQL-expressible half of q_bpe_tokens:
    * segmentation under a FROZEN merge list + per-doc token counting, as a
    * recursive CTE (the q_stateful_classify order-dependent-fold technique).
    * The trained merge table embeds as literals — training itself is an
    * iterative argmax loop SQL cannot express and stays spec-pinned by
    * BpeSpec against a serial reference.
    *
    * The greedy left-to-right merge pass maps EXACTLY onto SQL `replace`
    * over a DOUBLE-chr(31)-delimited symbol string. Encoding: every token
    * boundary (including the string's ends) is the 2-char "␟␟"; the pass
    * for pair (a, b) replaces "␟a␟␟b␟" with "␟ab␟" — each side of the
    * pattern claims only HALF of its boundary, so:
    *   - both symbols are anchored at full-token boundaries (a single ␟
    *     never occurs inside a token, and a matched symbol is flanked by
    *     ␟ on both sides, so it can be neither a prefix nor a suffix of a
    *     longer token — the naive single-␟ pattern "a␟b" breaks exactly
    *     there: "te␟</w>" contains "e␟</w>" and merge ('e','</w>') would
    *     fire mid-token);
    *   - greedy runs still chain: in "␟␟a␟␟a␟␟a␟␟a␟␟" the first match
    *     consumes "␟a␟␟a␟", leaving the untouched outer ␟s to serve as
    *     the anchors of the NEXT match — replace scans left to right,
    *     consumes non-overlapping occurrences, and continues AFTER each
    *     replacement, so a just-merged token never re-merges with the
    *     next symbol in the same pass: the "aaaa" + (a,a) → ["aa","aa"]
    *     contract [[mergePass]] implements.
    * chr(31) (ASCII unit separator) cannot occur inside a symbol: symbols
    * are corpus characters and their concatenations, and a chr(31) in raw
    * text would itself be a 1-char symbol. */
  private[graft] def tokenCountsOracle(merges: Seq[(String, String)]): String = {
    def strLit(s: String) = "'" + s.replace("'", "''") + "'"
    val mergesCte =
      if (merges.isEmpty) "merges(r, a, b) AS (SELECT 1, '', '' WHERE FALSE)"
      else merges.zipWithIndex
        .map { case ((a, b), i) => s"(${i + 1}, ${strLit(a)}, ${strLit(b)})" }
        .mkString("merges(r, a, b) AS (VALUES\n  ", ",\n  ", ")")
    s"""WITH RECURSIVE
       |$mergesCte,
       |occ AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
       |  ) WHERE w <> ''
       |),
       |words AS (SELECT DISTINCT w FROM occ),
       |seg AS (
       |  SELECT w, 0 AS r,
       |    chr(31) || chr(31)
       |      || array_to_string(string_split(w, ''), chr(31) || chr(31))
       |      || chr(31) || chr(31) || '</w>' || chr(31) || chr(31) AS s
       |  FROM words
       |  UNION ALL
       |  SELECT g.w, m.r,
       |    replace(g.s, chr(31) || m.a || chr(31) || chr(31) || m.b || chr(31),
       |                 chr(31) || m.a || m.b || chr(31))
       |  FROM seg g JOIN merges m ON m.r = g.r + 1
       |),
       |fin AS (
       |  SELECT w,
       |    CAST(len(string_split(s, chr(31) || chr(31))) - 2 AS BIGINT) AS n_tokens,
       |    CAST(length(w) AS BIGINT) AS n_chars
       |  FROM seg WHERE r = ${merges.length}
       |)
       |SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(f.n_tokens) AS BIGINT) AS n_tokens,
       |  floor(CAST(sum(f.n_chars) AS DOUBLE) / CAST(sum(f.n_tokens) AS DOUBLE)
       |    * 1e4 + 0.5) / 1e4 AS chars_per_token
       |FROM occ o JOIN fin f USING (w)
       |GROUP BY o.doc_id ORDER BY o.doc_id""".stripMargin
  }

  /** BPE fertility probe: train 40 merges on the corpus itself, report
    * per-doc token counts and chars-per-token under the learned vocab —
    * the tokenizer-fit readout run before committing a vocab to a
    * pretraining run. The oracle is verify-time-generated
    * ([[tokenCountsOracle]]): segmentation + counting under the frozen
    * merge list is checked hash-exact by DuckDB; the trainer itself is
    * spec-pinned (BpeSpec) against a serial reference.
    */
  val queries: Seq[GraftQuery] = Seq(
    GraftQuery(
      "q_bpe_tokens",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val merges = train(docs, "text", 40).map(m => (m._1, m._2))
        tokenCounts(docs, "doc_id", "text", merges)
      },
      None,
      oracleGen = Some((s, dir) => {
        val docs = Tables(s, dir, "documents")
        val merges = train(docs, "text", 40).map(m => (m._1, m._2))
        tokenCountsOracle(merges)
      }),
    ),
  )
}
