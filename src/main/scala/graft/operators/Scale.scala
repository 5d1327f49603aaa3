package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Scale primitives the 100 TB deployment leans on: bucketed co-located
  * joins, salted skew joins, partitioned writes. Each is demonstrated and
  * plan-asserted in ScaleSpec (e.g. the bucketed join's physical plan has no
  * shuffle exchange).
  */
object Scale {

  /** Write a table bucketed by the join key. Joining two tables bucketed the
    * same way on the same key is shuffle-free: each bucket pair joins
    * locally (sort-merge without Exchange). The 100 TB answer to "this join
    * shuffles both sides every run" — pay the shuffle once at write time.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      numBuckets: Int,
  ): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Hive-style partitioned write (the lake layout for predicate-pruned
    * scans: a filter on the partition column reads only matching
    * directories). Dynamic overwrite replaces only touched partitions.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Salted inner equi-join for skewed keys: the big side gets a
    * deterministic salt in [0, saltFactor) (hash of the whole row tuple —
    * content-derived, no rand(), so replays/retries are stable); the small
    * side is replicated saltFactor times. The hot key's rows spread over
    * saltFactor tasks instead of one straggler.
    * Same-named-key convenience form; [[SkewLayout.saltedEquiJoin]] is the
    * oracle-verified variant for differently-named keys with an explicit
    * salt-source column.
    *
    * AQE's skew-join split handles sort-merge cases adaptively; explicit
    * salting remains the tool when the skew is in an aggregation key or AQE
    * can't see the distribution (first stage of a job).
    */
  def saltedJoin(
      big: DataFrame,
      small: DataFrame,
      key: String,
      saltFactor: Int,
  ): DataFrame = {
    val saltedBig = big.withColumn("__salt",
      pmod(hash(big.columns.toIndexedSeq.map(col): _*), lit(saltFactor)))
    val saltedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    saltedBig.join(saltedSmall, Seq(key, "__salt")).drop("__salt")
  }

  /** Two-phase aggregation with an explicit salt: partial aggregate on
    * (key, salt), final on key. Spark's hash aggregate already does partial
    * map-side combine; the explicit form matters when the per-key state is
    * too big to combine map-side (e.g. collect_set on a hot key).
    */
  def saltedDistinctCount(
      df: DataFrame,
      key: String,
      valueCol: String,
      saltFactor: Int,
  ): DataFrame =
    df.withColumn("__salt", pmod(hash(col(valueCol)), lit(saltFactor)))
      .groupBy(col(key), col("__salt"))
      .agg(countDistinct(col(valueCol)).as("__partial"))
      .groupBy(col(key))
      .agg(sum("__partial").as("n_distinct"))

  /** Chunked distributed prefix sums — the scale path for per-key running
    * aggregates when the key cardinality is LOW (a plain
    * `Window.partitionBy(key)` materializes each key's entire history in
    * one task: with 5 keys, a 100 TB scan has 5-way parallelism and one
    * task's heap holds 20 TB). The classic two-phase scan, expressed
    * declaratively:
    *
    *   1. rows are chunked by `chunkCol`, a monotone coarsening of the
    *      primary order column (e.g. `to_date(ts)` when ordering by `ts`)
    *      — so chunk boundaries respect the global per-key order;
    *   2. running sums WITHIN (key, chunk) — parallelism is keys × chunks;
    *   3. per-chunk totals (tiny: one row per key × chunk) get an
    *      exclusive running offset over the chunk axis — the only
    *      key-partitioned window, over the chunk-count-bounded frame;
    *   4. offsets join back on (key, chunk) — co-partitioned with step
    *      2's exchange — and add to the in-chunk sums.
    *
    * Each entry of `sums` is (outputName, valueColumn); pass DECIMAL
    * values for exact, order-insensitive accumulation (a double would
    * make the two-phase result differ from the serial window's). The
    * returned frame carries the input columns plus one running-sum
    * column per entry, equal row-for-row to
    * `sum(value).over(partitionBy(key).orderBy(ord).rowsBetween(unboundedPreceding, currentRow))`.
    */
  def chunkedPrefixSums(
      df: DataFrame,
      keyCol: String,
      ordCols: Seq[Column],
      chunkCol: Column,
      sums: Seq[(String, Column)],
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // helper names are reserved: withColumn would silently REPLACE a
    // same-named caller column and the epilogue would drop it — fail fast
    // instead of losing data
    val reserved = df.columns.filter(c =>
      c == "__chunk" || c.startsWith("__t_") || c.startsWith("__off_"))
    require(reserved.isEmpty,
      s"chunkedPrefixSums reserves __chunk/__t_*/__off_* helper names; " +
        s"input already has: ${reserved.mkString(", ")}")
    val d = df.withColumn("__chunk", chunkCol)
    val wIn = Window.partitionBy(keyCol, "__chunk").orderBy(ordCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Window.partitionBy(keyCol).orderBy("__chunk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val totals = d.groupBy(col(keyCol), col("__chunk"))
      .agg(sums.map { case (n, v) => sum(v).as(s"__t_$n") }.head,
        sums.tail.map { case (n, v) => sum(v).as(s"__t_$n") }: _*)
    val offsets = sums.foldLeft(totals) { case (acc, (n, _)) =>
      acc.withColumn(s"__off_$n", sum(col(s"__t_$n")).over(wOff))
    }.select(col(keyCol) +: col("__chunk") +: sums.map { case (n, _) => col(s"__off_$n") }: _*)
    // the sum's result type (decimal widening etc.) — the typed zero /
    // typed null below keep the NULL-semantics branch from changing the
    // column type vs the serial window
    val sumTypes = totals.schema.fields.collect {
      case f if f.name.startsWith("__t_") => f.name.stripPrefix("__t_") -> f.dataType
    }.toMap
    // offsets is keys × chunks rows (e.g. 5 keys × days — kilobytes even
    // over a century of history): broadcast it so the fact side is never
    // shuffled FOR THE JOIN — its single full-width exchange is the
    // (key, chunk) window partitioning below. The join is NULL-SAFE on
    // both key and chunk: the serial window keeps null-key rows (null is
    // its own window partition) and a plain equi-join would drop them.
    val offs = offsets
      .withColumnRenamed(keyCol, "__jk").withColumnRenamed("__chunk", "__jc")
    val joined = d.join(broadcast(offs),
      d(keyCol) <=> col("__jk") && d("__chunk") <=> col("__jc"), "left")
      .drop("__jk", "__jc")
    sums.foldLeft(joined) { case (acc, (n, v)) =>
      // Serial-window semantics for NULL values: sum(...) skips nulls and
      // is NULL only while the whole prefix so far is NULL. Two-phase:
      // the running total is NULL iff BOTH the prior-chunk offset and the
      // in-chunk prefix sum are NULL; otherwise each NULL side contributes
      // a typed zero. (A bare coalesce(off + in, in) conflates "first
      // chunk" with "NULL in-chunk sum" and loses the carried offset.)
      val inSum = sum(v).over(wIn)
      val off = col(s"__off_$n")
      val dt = sumTypes(n)
      acc.withColumn(n,
        when(off.isNull && inSum.isNull, lit(null).cast(dt))
          .otherwise(coalesce(off, lit(0).cast(dt)) + coalesce(inSum, lit(0).cast(dt))))
    }.drop("__chunk" +: sums.map { case (n, _) => s"__off_$n" }: _*)
  }

  /** Distributed global row_number — the scale path for a TOTAL rank when
    * `Window.orderBy(...)` (no partition) would pull every row through one
    * task. Classic two-phase rank, declaratively:
    *
    *   1. rows are bucketed by VALUE: cutoffs on the leading sort column
    *      come from one driver-side `approxQuantile` pass and are baked in
    *      as literals. (NOT `repartitionByRange` + `spark_partition_id`:
    *      each physical evaluation of a range exchange samples its OWN
    *      boundaries, so a partition id is not stable across the two uses
    *      below — a value-derived bucket is a pure function of the row and
    *      survives AQE re-planning, stage retries, and plan duplication.)
    *   2. local row_number within each bucket — parallelism = buckets,
    *      modulo ties: equal leading-column values share a bucket, so the
    *      practical bound is min(buckets, leading-column cardinality);
    *   3. per-bucket counts (one row per bucket) get an exclusive running
    *      offset — the only unpartitioned window, over a
    *      bucket-count-bounded frame — broadcast back; rank = local + off.
    *
    * `ord` must be a total order (include a unique tie-break column) whose
    * LEADING column is the numeric `bucketCol` with direction `descending`;
    * the result then equals `row_number().over(Window.orderBy(ord))`
    * row-for-row. Nulls in `bucketCol` follow Spark's default null
    * ordering (asc = nulls first, desc = nulls last).
    */
  def globalRowNumber(df: DataFrame, ord: Seq[Column], bucketCol: String,
      descending: Boolean, out: String, buckets: Int = 0,
      givenCuts: Option[Seq[Double]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val reserved = df.columns.filter(c => c == "__bkt" || c == "__cnt" || c == "__off")
    require(reserved.isEmpty,
      s"globalRowNumber reserves __bkt/__cnt/__off; input has: ${reserved.mkString(", ")}")
    val b = if (buckets > 0) buckets
      else df.sparkSession.sessionState.conf.numShufflePartitions
    // one pass, driver-held cut list of ≤ b-1 doubles — tiny, broadcast as
    // literals; relativeError trades bucket balance, never correctness.
    // Callers ranking several columns of the same frame pass precomputed
    // cuts (one multi-column approxQuantile job instead of one per rank).
    // b == 1 (single-partition session) degenerates to the serial window:
    // no cuts — approxQuantile rejects an empty probability list.
    val cuts = givenCuts.getOrElse(
      if (b <= 1) Seq.empty[Double]
      else df.stat.approxQuantile(bucketCol,
        (1 until b).map(_.toDouble / b).toArray, 0.001).toSeq).distinct.sorted
    val v = col(bucketCol).cast("double")
    // bucket = how many cuts the value has passed ALONG THE SORT DIRECTION;
    // equal values always share a bucket, so bucket order refines the sort
    val passed = cuts.map { c =>
      val cmp = if (descending) lit(c) > v else lit(c) < v
      when(cmp, 1).otherwise(0)
    }.foldLeft(lit(0))(_ + _)
    // Spark default null ordering: asc nulls FIRST (bucket 0 — the null
    // comparison already yields 0), desc nulls LAST (force the top bucket)
    val bkt = if (descending) when(v.isNull, lit(cuts.length)).otherwise(passed) else passed
    val d = df.withColumn("__bkt", bkt)
    val wOff = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = d.groupBy("__bkt").agg(count(lit(1)).as("__cnt"))
      .withColumn("__off", coalesce(sum("__cnt").over(wOff), lit(0L)))
      .select("__bkt", "__off")
    val wLocal = Window.partitionBy("__bkt").orderBy(ord: _*)
    d.join(broadcast(offsets), Seq("__bkt"))
      .withColumn(out, row_number().over(wLocal).cast("long") + col("__off"))
      .drop("__bkt", "__off")
  }

  /** Distributed EXCLUSIVE running min over a global order — the scale
    * path for `min(value).over(Window.orderBy(ord).rowsBetween(
    * unboundedPreceding, -1))` when the ordered frame is too large for
    * one task (the q_skyline cross-price scan: distinct prices are
    * value-domain-bounded at test scale but can be billions at corpus
    * scale). Same two-phase shape as [[globalRowNumber]]:
    *
    *   1. rows bucket by VALUE of the order column (approxQuantile cuts
    *      baked in as literals — a pure function of the row, stable
    *      across AQE re-planning and plan duplication); equal order
    *      values always share a bucket;
    *   2. the exclusive running min WITHIN each bucket — partitioned
    *      window, parallelism = buckets;
    *   3. per-bucket mins (one row per bucket) get an exclusive running
    *      min over the bucket axis — the only unpartitioned window, over
    *      a bucket-count-bounded frame — and broadcast back;
    *   4. result = least(bucket offset, in-bucket exclusive min), null
    *      only when BOTH are null (Spark's least skips nulls), i.e.
    *      exactly the serial window's "no preceding row yet" semantics.
    *
    * CAVEAT (matches the serial window only under this condition): `ord`
    * here is the single numeric column `orderCol` itself, so rows with
    * EQUAL order values see the same exclusive prefix as each other only
    * if the caller's frame has one row per distinct value (aggregate
    * first, as q_skyline does) — the serial window with a non-unique
    * order is underdetermined anyway.
    */
  def bucketedPrefixMin(df: DataFrame, orderCol: String, descending: Boolean,
      valueCol: String, out: String, buckets: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val reserved = df.columns.filter(c => c == "__bkt" || c == "__bmin" || c == "__boff")
    require(reserved.isEmpty,
      s"bucketedPrefixMin reserves __bkt/__bmin/__boff; input has: ${reserved.mkString(", ")}")
    val b = if (buckets > 0) buckets
      else df.sparkSession.sessionState.conf.numShufflePartitions
    // b == 1 degenerates to the serial window (no cuts); approxQuantile
    // rejects an empty probability list, so skip the pass entirely
    val cuts = if (b <= 1) Seq.empty[Double]
      else df.stat.approxQuantile(orderCol,
        (1 until b).map(_.toDouble / b).toArray, 0.001).toSeq.distinct.sorted
    val v = col(orderCol).cast("double")
    val passed = cuts.map { c =>
      val cmp = if (descending) lit(c) > v else lit(c) < v
      when(cmp, 1).otherwise(0)
    }.foldLeft(lit(0))(_ + _)
    // null order values sort last under desc / first under asc (Spark
    // default) — pin them to the matching end bucket
    val bkt = if (descending) when(v.isNull, lit(cuts.length)).otherwise(passed)
      else when(v.isNull, lit(0)).otherwise(passed)
    val d = df.withColumn("__bkt", bkt)
    val ord = if (descending) col(orderCol).desc else col(orderCol).asc
    val wIn = Window.partitionBy("__bkt").orderBy(ord)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wB = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    val offs = d.groupBy("__bkt").agg(min(valueCol).as("__bmin"))
      .withColumn("__boff", min("__bmin").over(wB))
      .select("__bkt", "__boff")
    d.join(broadcast(offs), Seq("__bkt"))
      .withColumn(out, least(col("__boff"), min(valueCol).over(wIn)))
      .drop("__bkt", "__boff")
  }

  /** Distributed ntile over a total order: exact SQL `ntile(buckets)`
    * semantics (first n mod buckets buckets get the extra row) computed
    * from [[globalRowNumber]] + a broadcast total count — no
    * single-partition sort anywhere. Bit-identical to
    * `ntile(buckets).over(Window.orderBy(ord))` given a total order whose
    * leading column is `bucketCol` sorted `descending`.
    */
  def distributedNtile(df: DataFrame, ord: Seq[Column], bucketCol: String,
      descending: Boolean, buckets: Int, out: String,
      givenCuts: Option[Seq[Double]] = None): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val reservedN = df.columns.filter(Set("__rn", "__n", "__k", "__m"))
    require(reservedN.isEmpty,
      s"distributedNtile reserves __rn/__n/__k/__m; input has: ${reservedN.mkString(", ")}")
    val rn = globalRowNumber(df, ord, bucketCol, descending, "__rn", givenCuts = givenCuts)
    val tot = df.agg(count(lit(1)).as("__n"))
    // bucket sizes: k = n div B (+1 for the first m = n mod B buckets);
    // rank rn lands in ceil(rn/(k+1)) while inside the m big buckets,
    // else m + ceil((rn - m(k+1))/k). Integer `div` throughout — the
    // k = 0 (n < B) case never evaluates the else branch.
    val joined = rn.crossJoin(broadcast(tot))
      .withColumn("__k", expr(s"__n div $buckets"))
      .withColumn("__m", col("__n") % buckets)
    joined.withColumn(out,
        when(col("__rn") <= col("__m") * (col("__k") + lit(1L)),
          expr("(__rn + __k) div (__k + 1)"))
          .otherwise(col("__m") + expr("(__rn - __m * (__k + 1) + __k - 1) div __k")))
      .drop("__rn", "__n", "__k", "__m")
  }

  /** Several exact ntiles over the SAME frame in one shared pass — the
    * multi-metric scoring shape (RFM, lead scoring, feature quantiling).
    * Each spec is (outputColumn, metricColumn), ranked descending with
    * `tieCol` — a UNIQUE row key (an entity id) — ascending as the
    * tie-break, making each ranking a total order. Instead of one rank pipeline per
    * metric (m pipelines × quantile/aggregate/window/join jobs), the
    * metrics UNPIVOT into (tie, metric, value) rows — m·n narrow rows
    * through ONE bucket window, ONE offsets aggregate, ONE broadcast
    * join — then pivot back and join onto the input by `tieCol`.
    *
    * Cutoffs for every metric come from a single multi-column
    * approxQuantile job. Metric values rank in DOUBLE: exact for doubles
    * and for integers up to 2^53 (the cast is order-preserving there) —
    * the same contract as SQL ntile over those values. Output matches
    * `ntile(buckets).over(Window.orderBy(metric desc, tie asc))` for each
    * spec, with no unpartitioned window over the data (the only global
    * window runs over specs × buckets offset rows).
    */
  def distributedNtiles(df: DataFrame, tieCol: String,
      specs: Seq[(String, String)], buckets: Int, rankBuckets: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets > 0, "buckets must be positive")
    val reserved = df.columns.filter(c => c.startsWith("__"))
    require(reserved.isEmpty,
      s"distributedNtiles reserves __-prefixed names; input has: ${reserved.mkString(", ")}")
    val b = if (rankBuckets > 0) rankBuckets
      else df.sparkSession.sessionState.conf.numShufflePartitions
    // b == 1 (single-partition session): no cuts, one bucket per metric —
    // approxQuantile rejects an empty probability list, so skip the job
    val cuts: Map[String, Seq[Double]] =
      if (b <= 1) specs.map(_._1 -> Seq.empty[Double]).toMap
      else {
        val probs = (1 until b).map(_.toDouble / b).toArray
        val cutArr = df.stat.approxQuantile(specs.map(_._2).toArray, probs, 0.001)
        specs.map(_._1).zip(cutArr.map(_.toSeq.distinct.sorted)).toMap
      }
    val unpiv = df.select(col(tieCol).as("__tie"), explode(array(specs.map {
      case (out, metric) =>
        struct(lit(out).as("__sc"), col(metric).cast("double").as("__v"))
    }: _*)).as("__x")).select(col("__tie"), col("__x.__sc"), col("__x.__v"))
    // per-metric descending bucket: how many of ITS cuts lie above the value
    val bkt = specs.map(_._1).foldLeft(lit(-1)) { case (acc, out) =>
      when(col("__sc") === out,
        when(col("__v").isNull, lit(cuts(out).length)).otherwise(
          cuts(out).map(c => when(lit(c) > col("__v"), 1).otherwise(0))
            .foldLeft(lit(0))(_ + _))).otherwise(acc)
    }
    val d = unpiv.withColumn("__bkt", bkt)
    val wOff = Window.partitionBy("__sc").orderBy("__bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    // the per-spec TOTAL rides the same tiny offsets frame (sum over the
    // spec partition) — no separate count job over the input
    val wTot = Window.partitionBy("__sc")
    val offsets = d.groupBy("__sc", "__bkt").agg(count(lit(1)).as("__cnt"))
      .withColumn("__off", coalesce(sum("__cnt").over(wOff), lit(0L)))
      .withColumn("__n", sum("__cnt").over(wTot))
      .select("__sc", "__bkt", "__off", "__n")
    val wLocal = Window.partitionBy("__sc", "__bkt")
      .orderBy(col("__v").desc, col("__tie").asc)
    val rn = d.join(broadcast(offsets), Seq("__sc", "__bkt"))
      .withColumn("__rn", row_number().over(wLocal).cast("long") + col("__off"))
      .withColumn("__k", expr(s"__n div $buckets"))
      .withColumn("__m", col("__n") % buckets)
    // SQL ntile from the global rank, in column integer math (the `div` by
    // __k is only reached when __k > 0)
    val tile = expr("""CASE WHEN __k = 0 THEN __rn
                      |     WHEN __rn <= __m * (__k + 1) THEN (__rn + __k) div (__k + 1)
                      |     ELSE __m + (__rn - __m * (__k + 1) + __k - 1) div __k
                      |END""".stripMargin)
    val scoresWide = rn.withColumn("__t", tile)
      .groupBy(col("__tie"))
      .agg(specs.map { case (out, _) => max(when(col("__sc") === out, col("__t"))).as(out) }.head,
        specs.tail.map { case (out, _) => max(when(col("__sc") === out, col("__t"))).as(out) }: _*)
    // null-safe join back: a null tie key is a legal row (it ranked like
    // any other; nulls-last within its bucket) and a plain equi-join
    // would silently drop it
    df.join(scoresWide, df(tieCol) <=> scoresWide("__tie")).drop("__tie")
  }

  val queries: Seq[GraftQuery] = Seq(
    // The distributed total rank against SQL row_number as the oracle: the
    // exact global ranking every leaderboard/percentile pipeline needs,
    // with NO single-partition sort — value-bucketed two-phase rank
    // (globalRowNumber above), parallelism = bucket count.
    GraftQuery(
      "q_global_rank",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        globalRowNumber(o, Seq(col("o_totalprice").desc, col("o_orderkey").asc),
            "o_totalprice", descending = true, "rank")
          .orderBy("rank")
      },
      Some("""SELECT o_orderkey, o_totalprice,
             |  CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rank
             |FROM orders ORDER BY rank""".stripMargin),
    ),
  )
}
