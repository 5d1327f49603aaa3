package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Zipfian-text fixture generator — the FAVORABLE case for content-blocked
  * pair operators. The driver's synthetic documents draw from a ~200-word
  * uniform vocabulary (no rare tail: median bigram df ≈ 285), which puts
  * every content-blocking scheme — prefix filters, q-gram prefixes,
  * SimHash bands — at its collision-mass worst case; the scaling tables
  * (PLANS.md rounds 8-9) adjudicate those rows by arguing real corpora are
  * Zipfian. This generator makes the argument measurable: documents of
  * 60–120 words sampled from a V-type vocabulary with p(rank) ∝ ~1/rank
  * (inverse-CDF: rank = max(1, ⌊V^u⌋) for u uniform), all
  * hash-deterministic per (doc, position), so two corpus sizes of the same
  * distribution give a clean two-point exponent.
  *
  * Alongside `documents`, writes a matching `embeddings` table (the
  * driver-fixture 0.4× row ratio, 64-dim float vectors, 10 labels) derived
  * FROM the text: each vector is the doc's bag-of-words ±1 hashed
  * projection, normalized — so shared common words give the realistically
  * concentrated, cluster-structured vector distribution that uniform
  * random embeddings lack, and the embedding-side operators (sign-LSH,
  * bucketed ANN, hybrid retrieval's dense leg) get a Zipf-shaped axis too.
  *
  * Usage: runMain graft.MakeZipf <outDir> <nDocs> [vocab=50000]
  */
object MakeZipf {

  /** Dimensions of the generated embedding vectors (driver fixture: 64). */
  private val EmbDim = 64

  def generate(spark: SparkSession, out: String, nDocs: Long,
      vocab: Long = 50000L): Unit = {
    // 4 base-26 letter iterations encode ranks up to 26^4 = 456,976; a
    // larger vocab would silently collide ranks past that.
    require(vocab >= 2 && vocab <= 456976L,
      s"vocab must be in [2, 456976] (4-letter base-26 encoding), got $vocab")
    // u in [0,1) from a per-(doc, position) hash; rank = max(1, floor(V^u))
    // gives p(rank) = ln(1+1/rank)/ln V ∝ ~1/rank INCLUDING rank 1 (the
    // earlier ceil form could never hit rank 1 — V^u > 1 for u > 0 — so
    // the distribution head this fixture exists to stress was missing).
    // A 1% chance per doc of being a near-twin of doc-1 (positions re-used
    // with a shifted salt on 5% of words) keeps a small genuine near-dup
    // mass so threshold queries return non-empty results, as the driver
    // fixtures do.
    val withWords = spark.range(nDocs)
      .withColumn("len", (lit(60) + pmod(xxhash64(col("id"), lit("len")), lit(61))).cast("int"))
      .withColumn("twin", pmod(xxhash64(col("id"), lit("twin")), lit(100)) === 0 && col("id") > 0)
      .withColumn("base", when(col("twin"), col("id") - 1).otherwise(col("id")))
      // word = base-26 letter encoding of the Zipf rank ('a'..'z', 'ba'..):
      // common words are short, rare words long (Zipf's law of
      // abbreviation), and grams range over a real letter alphabet — an
      // earlier 'w<rank>' digit encoding capped the character-trigram
      // space at ~1,700 values (digits+w+space), which deleted the rare
      // gram tail this fixture exists to provide
      .withColumn("ws", expr(
        s"""transform(sequence(1, len), j ->
           |  aggregate(sequence(1, 4),
           |    named_struct('r', cast(greatest(1.0, floor(pow($vocab,
           |      (pmod(xxhash64(base, j,
           |         if(twin AND pmod(xxhash64(id, j, 'mut'), 20) = 0, id, cast(0 as bigint))),
           |         1000000000) + 0.5) / 1000000000.0))) AS BIGINT), 's', ''),
           |    (acc, x) -> if(acc.r > 0,
           |      named_struct('r', (acc.r - 1) div 26,
           |        's', concat(chr(97 + (acc.r - 1) % 26), acc.s)),
           |      acc),
           |    acc -> acc.s))""".stripMargin))
    val df = withWords
      .select(
        col("id").as("doc_id"),
        array_join(col("ws"), " ").as("text"),
        concat(lit("s"), pmod(xxhash64(col("id"), lit("src")), lit(8))).as("source"),
        lit("en").as("lang"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    df.write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
    // Bag-of-words ±1 hashed projection, unit-normalized. A doc of 60+
    // words always has a nonzero norm with probability ~1 − 2^-60 per dim
    // family; the greatest(…, 1e-9) guard keeps the degenerate case finite.
    val emb = withWords
      .filter(col("id") < lit((nDocs * 2 + 2) / 5)) // the 0.4× driver ratio
      .withColumn("raw", expr(
        s"""transform(sequence(0, ${EmbDim - 1}), d ->
           |  aggregate(ws, cast(0 as bigint), (acc, w) ->
           |    acc + if(pmod(xxhash64(w, d), 2) = 0, 1, -1)))""".stripMargin))
      .withColumn("nrm", expr(
        "sqrt(aggregate(raw, cast(0 as double), (a, x) -> a + cast(x as double) * cast(x as double)))"))
      .select(
        col("id").as("vec_id"),
        expr("transform(raw, x -> cast(cast(x as double) / greatest(nrm, 1e-9) as float))")
          .as("embedding"),
        pmod(xxhash64(col("id"), lit("lbl")), lit(10)).cast("int").as("label"))
    emb.write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")
    println(s"[makezipf] wrote $out: $nDocs docs (+ 0.4x embeddings), vocab $vocab")
  }

  /** Skewed-degree graph fixture for the zipf bench axis (VERDICT r10 #5):
    * `orders`/`lineitem` tables shaped so q_triangles / q_pagerank read
    * them unchanged, with ZIPF part and supplier popularity — so the
    * co-purchase item key and the pagerank in-degree both carry genuine
    * hubs (the driver's sf fixtures are near-uniform, which leaves the
    * hub pre-filter's routing untested by the standing bench). One order
    * per customer, `linesPerOrder` lines; part rank ∝ ~1/r over a 2n-part
    * universe (rank-1 degree ≈ 0.07·L·n ≫ the operator's hotDegree=512
    * at n=20k), supplier rank over n/10. All hash-deterministic — no RNG.
    */
  def generateGraph(spark: SparkSession, out: String, nCustomers: Long,
      linesPerOrder: Int = 5): Unit = {
    val parts = math.max(2L, nCustomers * 2)
    val supps = math.max(2L, nCustomers / 10)
    spark.range(nCustomers)
      .select(col("id").as("o_orderkey"), col("id").as("o_custkey"))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/orders.parquet")
    // rank = max(1, floor(U^u)) — the same inverse-CDF head-correct form
    // the text generator uses
    def zipfRank(universe: Long, salt: String) = expr(
      s"""cast(greatest(1.0, floor(pow($universe,
         |  (pmod(xxhash64(o, j, '$salt'), 1000000000) + 0.5) / 1000000000.0)))
         |AS BIGINT)""".stripMargin)
    spark.range(nCustomers)
      .select(col("id").as("o"), explode(expr(s"sequence(1, $linesPerOrder)")).as("j"))
      .select(col("o").as("l_orderkey"),
        zipfRank(parts, "part").as("l_partkey"),
        zipfRank(supps, "supp").as("l_suppkey"))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/lineitem.parquet")
    println(s"[makezipf] wrote $out graph: $nCustomers customers x " +
      s"$linesPerOrder lines, $parts parts, $supps suppliers (zipf)")
  }

  /** `runMain graft.MakeZipf <outDir> <nDocs> [vocab]` generates text +
    * embeddings + graph; `runMain graft.MakeZipf graph <outDir> <n>`
    * generates ONLY the graph tables (so committed text fixtures aren't
    * rewritten byte-for-byte-identical but file-churned). */
  def main(args0: Array[String]): Unit = {
    val graphOnly = args0.headOption.contains("graph")
    val args = if (graphOnly) args0.drop(1) else args0
    val out = args(0)
    val nDocs = args(1).toLong
    val vocab = if (args.length > 2) args(2).toLong else 50000L
    val spark = GraftSession.build("bench")
    if (!graphOnly) generate(spark, out, nDocs, vocab)
    generateGraph(spark, out, nDocs)
    spark.stop()
  }
}
