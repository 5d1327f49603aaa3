package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Scaling-probe data generator: writes a k× blow-up of the sf0.1 fact
  * tables (events / lineitem / orders, ids shifted per copy so keys stay
  * consistent and unique) plus a k× part dimension (partkeys shift with
  * their lineitems, keeping per-part density constant — see the comment
  * at the lineitem write); the other dims are copied as-is. Used to
  * measure how the bench grows with data volume (BENCH.md) — the
  * driver's fixtures stop at sf0.1.
  *
  * With the `corpus` flag, documents/embeddings scale too (per-copy
  * perturbation — see below): the worst-case dup-mass probe, separate from
  * the headline facts curve because every doc gaining k−1 near-twins makes
  * pair-LISTING output quadratic in k by contract, swamping the engine
  * signal (BENCH.md round-4 notes).
  *
  * With `cleancorpus`, copies are made deliberately DISSIMILAR instead
  * (disjoint token spaces, decorrelated embeddings): dup mass stays the
  * base corpus's (replicated k×, so linear), which isolates the ENGINE's
  * scaling on the dedup/similarity suite from the output-mass growth the
  * near-twin mode measures. The two modes are the two axes of the
  * round-8 scaling table (PLANS.md).
  *
  * Usage: runMain graft.MakeScaled <outDir> <factor> [srcDir] [corpus|cleancorpus]
  */
object MakeScaled {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val k = args(1).toInt
    // only args AFTER <outDir> <factor> are mode flags — an output dir
    // literally named "corpus" must not flip the mode
    val rest = args.drop(2)
    val corpus = rest.contains("corpus")
    val cleanCorpus = rest.contains("cleancorpus")
    val src = rest.filterNot(f => f == "corpus" || f == "cleancorpus")
      .headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.build("bench")

    val shift = 1000000000L
    def copies(name: String, idCols: Seq[String]) = {
      val base = Tables(spark, src, name)
      (0 until k).map { i =>
        idCols.foldLeft(base)((df, c) => df.withColumn(c, col(c) + lit(i * shift)))
      }.reduce(_ unionByName _)
    }

    copies("events", Seq("event_id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/events.parquet")
    // l_partkey AND o_custkey shift WITH the copy (and the part/customer
    // dims scale to match, below): real data grows its item space and its
    // customer base alongside its fact volume. Leaving either key fixed
    // grows that entity's degree k× and densifies the co-purchase
    // projection BY FIXTURE construction — the un-shifted customer axis
    // was measured doing exactly that (round-8 continuation 4): at 32×,
    // cross-copy shared-part accumulation pushed most customer pairs past
    // q_triangles' minShared=4, the projection approached a clique, and
    // the enumeration (invisible to count()-based bench curves, which
    // prune it) went combinatorial — a density artifact, not an engine
    // signal.
    copies("lineitem", Seq("l_orderkey", "l_partkey"))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/lineitem.parquet")
    copies("orders", Seq("o_orderkey", "o_custkey"))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/orders.parquet")
    copies("part", Seq("p_partkey"))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/part.parquet")
    copies("customer", Seq("c_custkey"))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/customer.parquet")
    if (corpus) {
      // per-copy PERTURBATION, not verbatim replication: k−1 exact twins of
      // every doc is a degenerate corpus; a suffix token / dimension nudge
      // keeps copies near-but-not-exact (still ~0.99 Jaccard — worst-case
      // near-dup mass, but measurable). Copy 0 is the source fixture
      // VERBATIM: a factor-1 "scaled" corpus must BE the original corpus,
      // or baseline-vs-scaled comparisons start from a shifted baseline.
      val docs = Tables(spark, src, "documents")
      (0 until k).map { i =>
        if (i == 0) docs
        else docs.withColumn("doc_id", col("doc_id") + lit(i * shift))
          .withColumn("text", concat(col("text"), lit(s" c$i")))
          .withColumn("n_chars", col("n_chars") + lit(2 + i.toString.length))
      }.reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
      val embs = Tables(spark, src, "embeddings")
      (0 until k).map { i =>
        if (i == 0) embs
        else embs.withColumn("vec_id", col("vec_id") + lit(i * shift))
          .withColumn("embedding",
            transform(col("embedding"), (x, idx) =>
              when(idx === 0, x + lit(i.toFloat * 0.003f)).otherwise(x)))
      }.reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")
    } else if (cleanCorpus) {
      // copies must NOT read as near-dups of the base: suffix every token
      // with the copy index (disjoint token spaces → zero n-gram/minhash
      // overlap across copies) so the dup structure is the base corpus's,
      // replicated — dup mass grows k× (linear), not k². Copy 0 verbatim.
      val docs = Tables(spark, src, "documents")
      (0 until k).map { i =>
        if (i == 0) docs
        else docs.withColumn("doc_id", col("doc_id") + lit(i * shift))
          .withColumn("text",
            array_join(transform(split(col("text"), " "), t => concat(t, lit(s"_$i"))), " "))
          .withColumn("n_chars", length(array_join(
            transform(split(col("text"), " "), t => concat(t, lit(s"_$i"))), " ")))
      }.reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
      // decorrelated embeddings per copy: a deterministic nonlinear rewrite
      // of every component (bounded, no NaNs) — cosine to the base vector
      // is ~random, so threshold near-dup pairs don't span copies
      val embs = Tables(spark, src, "embeddings")
      (0 until k).map { i =>
        if (i == 0) embs
        else embs.withColumn("vec_id", col("vec_id") + lit(i * shift))
          .withColumn("embedding",
            transform(col("embedding"), (x, idx) =>
              sin(x * lit((i + 1) * 7.3) + idx.cast("double")).cast("float")))
      }.reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")
    } else {
      Seq("documents", "embeddings").foreach { t =>
        Tables(spark, src, t).write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
      }
    }
    Seq("region", "nation", "supplier")
      .foreach { t =>
        Tables(spark, src, t).write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
      }
    println(s"scaled x$k -> $out")
    spark.stop()
  }
}
