package graft

import graft.model.{CardLookup, FraudConfig}
import graft.operators.Relational
import graft.streaming.{CorpusStream, EventStream, FraudStream}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import java.nio.file.Files

/** Streaming throughput/latency bench — the quantitative check of the
  * reference's one SLA: a fraud decision "within seconds" of the event
  * (README.md:326-327). The reference polls 1-second micro-batches
  * (FinFraudGuard.java:41); `runFrom` starts each micro-batch as soon as
  * the previous one commits.
  *
  * Replays the sf-dir `events` table as the transaction stream through the
  * PRODUCTION wiring — `FraudStream.runFrom` (file source → decode →
  * stateful classify → foreachBatch parquet master append) on the state
  * store the session names — or the corpus speed layer
  * (`CorpusStream.ingest`: watermarked content dedup + quality gate →
  * parquet sink). Inputs are pre-written
  * JSON-lines files; `maxFilesPerTrigger 1` makes each file one
  * micro-batch, so per-batch latency and records/sec come straight from
  * the engine's own StreamingQueryProgress (triggerExecution duration,
  * numInputRows, state-store rows/bytes) — no wall-clock guessing.
  *
  * ONE scenario per JVM: back-to-back streaming runs in a shared session
  * interfere (state-store providers unload asynchronously after stop();
  * a "warm" second run measured 1.9× slower than its own cold run), so
  * the harness script invokes each scenario as its own runMain. A
  * warm-up pass (2 micro-batches on a prefix of the input, separate
  * checkpoint) absorbs codegen/state-store init; the measured run then
  * starts from a fresh checkpoint over the full input.
  *
  * Usage: runMain graft.StreamBench <scenario> [sfDir] [batches] [copies] [parts]
  *   scenario — fraud | corpus | corpus_kn | snap_dedup
  *              | session_agg | interval_join (EventStream event-time ops
  *              over time-ordered input) | scale
  *              (synthetic, copies = CARDS in thousands) | snap_scale
  *              (copies = snapshot blow-up factor)
  *   batches  — input files (= micro-batches) per run (default 20)
  *   copies   — input blow-up factor, ids shifted per copy (default 1)
  *   parts    — shuffle/state partitions for the STREAM (default 8:
  *              state partitions should track key count and batch size,
  *              not box CPUs — 32 costs ~32 store commits per batch)
  *
  * The fraud and scale rows on the RocksDB state store set Spark's provider
  * as a system property, which the session reads:
  * `JDK_JAVA_OPTIONS=-Dspark.sql.streaming.stateStore.providerClass=org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`.
  */
object StreamBench {

  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** One measured streaming run, from the engine's own progress events. */
  final case class StreamStats(label: String, inputRows: Long, batches: Int,
      rowsSeen: Long, recordsPerSec: Double, batchSecMean: Double,
      batchSecP50: Double, batchSecMax: Double, stateRows: Long,
      stateBytes: Long, wallSec: Double) {
    def json: String =
      s"""{"stream":"$label","input_rows":$inputRows,"batches":$batches,""" +
        s""""rows_seen":$rowsSeen,"records_per_sec":${fmt(recordsPerSec)},""" +
        s""""batch_sec_mean":${fmt(batchSecMean)},"batch_sec_p50":${fmt(batchSecP50)},""" +
        s""""batch_sec_max":${fmt(batchSecMax)},""" +
        s""""state_rows":$stateRows,"state_bytes":$stateBytes,"wall_sec":${fmt(wallSec)}}"""
  }

  /** Drain a started query until the source is exhausted, then report
    * per-batch latency and throughput from the engine's own progress
    * events (non-empty batches only — the trailing empty poll would
    * dilute the latency numbers with no-op triggers).
    */
  private def drain(q: StreamingQuery, label: String, inputRows: Long,
      wallStart: Long): StreamStats = {
    q.processAllAvailable()
    val wallSec = (System.nanoTime() - wallStart) / 1e9
    q.stop()
    val progs = q.recentProgress.filter(_.numInputRows > 0)
    val batchSec = progs.map(_.durationMs.get("triggerExecution").toLong / 1e3).sorted
    val rows = progs.map(_.numInputRows).sum
    val stateRows = progs.flatMap(p => Option(p.stateOperators))
      .flatMap(_.toSeq).map(_.numRowsTotal).maxOption.getOrElse(0L)
    val stateBytes = progs.flatMap(p => Option(p.stateOperators))
      .flatMap(_.toSeq).map(_.memoryUsedBytes).maxOption.getOrElse(0L)
    val maxB = batchSec.lastOption.getOrElse(0.0)
    val p50 = if (batchSec.nonEmpty) batchSec(batchSec.length / 2) else 0.0
    val meanB = if (batchSec.nonEmpty) batchSec.sum / batchSec.length else 0.0
    // throughput over busy time (sum of batch durations): the
    // capability number; wall time additionally carries source polling
    val busy = batchSec.sum
    val rps = if (busy > 0) rows / busy else 0.0
    StreamStats(label, inputRows, progs.length, rows, rps, meanB, p50, maxB,
      stateRows, stateBytes, wallSec)
  }

  private val valueSchema = StructType(Seq(StructField("value", StringType)))

  /** The snapshot near-dup guard scenario as a callable (warm + measured
    * run in the caller's session) — the standing per-round stream row
    * [[Bench]] publishes (VERDICT r11 #5: the 64×-Zipf streaming stress
    * was a one-off; this pins a fixed-shape descendant of it at every
    * HEAD). Shuffle/state partitions are forced to `parts` for the
    * duration (state partitioning is the first-order knob — see the
    * round-8 findings table) and restored after.
    */
  def snapDedupStats(spark: SparkSession, sfDir: String, batches: Int,
      copies: Int, parts: Int): StreamStats = {
    val work = Files.createTempDirectory("graft-streamrow").toString
    val shift = 1000000000L
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try {
      val d0 = Tables(spark, sfDir, "documents")
      val uniq = (1 until copies.max(2)).map { i =>
        d0.withColumn("doc_id", col("doc_id") + lit(i * shift))
          .withColumn("text",
            array_join(transform(split(col("text"), " "),
              t => concat(t, lit(s"_$i"))), " "))
      }.foldLeft(d0.withColumn("doc_id", col("doc_id") + lit(99 * shift)))(_ unionByName _)
      val streamJson = uniq
        .select(to_json(struct(col("doc_id"), col("text"), lit("s").as("source"))).as("value"))
      val nDocs = streamJson.count()
      val inDir = s"$work/snap_in"
      streamJson.repartition(batches).write.text(inDir)
      val snap = graft.streaming.CorpusStream
        .prepareSnapshot(d0, "doc_id", "text").cache()
      snap.count()
      def run(tag: String, maxFiles: Int): StreamStats = {
        val raw = spark.readStream.schema(valueSchema)
          .option("maxFilesPerTrigger", maxFiles.toString).text(inDir)
        val t0 = System.nanoTime()
        val q = graft.streaming.CorpusStream.snapshotNearDups(
            graft.streaming.CorpusStream.decode(raw), snap, "doc_id", "text")
          .writeStream.format("parquet")
          .option("path", s"$work/snap_out_$tag")
          .option("checkpointLocation", s"$work/ckpt_snap_$tag")
          .start()
        drain(q, s"snap_dedup_$tag", nDocs, t0)
      }
      run("warm", math.max(1, batches / 2))
      run("main", 1)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }

  def main(args: Array[String]): Unit = {
    val scenario = args.headOption.getOrElse("fraud")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val batches = if (args.length > 2) args(2).toInt else 20
    val copies = if (args.length > 3) args(3).toInt else 1
    val parts = if (args.length > 4) args(4).toInt else 8
    val spark = GraftSession.build("bench", Seq("spark.sql.shuffle.partitions" -> parts.toString))
    import spark.implicits._
    val work = Files.createTempDirectory("graft-streambench").toString
    val shift = 1000000000L

    val line: StreamStats = scenario match {
      case "session_agg" =>
        // EventStream.sessionAgg throughput (VERDICT r13 #6): the sf
        // events replayed as a time-ordered JSON stream. The input is
        // range-partitioned on ts so the file source (which consumes
        // part files in path order) advances the watermark
        // monotonically — with randomly-ordered batches the first batch
        // would drag the watermark near max(ts) and every later event
        // would be dropped as late, measuring nothing.
        val e0 = Tables(spark, sfDir, "events")
        val e = (0 until copies).map { i =>
          if (i == 0) e0
          else e0.withColumn("user_id", col("user_id") + lit(i * shift))
            .withColumn("event_id", col("event_id") + lit(i * shift))
        }.reduce(_ unionByName _)
        val rows = e.select(col("user_id"), col("ts"), col("value"))
        val n = rows.count()
        val dir = s"$work/sess_in"
        rows.repartitionByRange(batches, col("ts"))
          .select(to_json(struct(col("user_id"), col("ts"), col("value"))).as("value"))
          .write.text(dir)
        val schema = StructType(Seq(
          StructField("user_id", org.apache.spark.sql.types.LongType),
          StructField("ts", org.apache.spark.sql.types.TimestampType),
          StructField("value", org.apache.spark.sql.types.DoubleType)))
        def runSess(tag: String, maxFiles: Int): StreamStats = {
          val src = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", maxFiles.toString).json(dir)
          val t0 = System.nanoTime()
          val q = EventStream.sessionAgg(src, gap = "4 hours", watermark = "1 hour")
            .writeStream.format("parquet")
            .option("path", s"$work/sess_out_$tag")
            .option("checkpointLocation", s"$work/sess_ckpt_$tag")
            .outputMode("append").start()
          drain(q, s"session_agg_$tag", n, t0)
        }
        runSess("warm", math.max(1, batches / 2))
        runSess("main", 1)

      case "interval_join" =>
        // EventStream.intervalJoin throughput (VERDICT r13 #6): both
        // sides stream — purchases vs same-user errors within ±1 h.
        // Time-ordered input files for the same watermark reason as
        // session_agg; join state stays O(rate × (watermark+tolerance)).
        val e0 = Tables(spark, sfDir, "events")
        val e = (0 until copies).map { i =>
          if (i == 0) e0
          else e0.withColumn("user_id", col("user_id") + lit(i * shift))
            .withColumn("event_id", col("event_id") + lit(i * shift))
        }.reduce(_ unionByName _)
        val p = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("p_ts"), col("value").as("amount"))
        val err = e.filter(col("event_type") === "error")
          .select(col("user_id").as("e_user"), col("ts").as("e_ts"))
        val nIn = p.count() + err.count()
        val pDir = s"$work/ij_p"; val eDir = s"$work/ij_e"
        p.repartitionByRange(batches, col("p_ts"))
          .select(to_json(struct(col("user_id"), col("p_ts"), col("amount"))).as("value"))
          .write.text(pDir)
        err.repartitionByRange(batches, col("e_ts"))
          .select(to_json(struct(col("e_user"), col("e_ts"))).as("value"))
          .write.text(eDir)
        val lt = org.apache.spark.sql.types.LongType
        val tt = org.apache.spark.sql.types.TimestampType
        val pSchema = StructType(Seq(StructField("user_id", lt),
          StructField("p_ts", tt),
          StructField("amount", org.apache.spark.sql.types.DoubleType)))
        val eSchema = StructType(Seq(StructField("e_user", lt), StructField("e_ts", tt)))
        def runIj(tag: String, maxFiles: Int): StreamStats = {
          val ps = spark.readStream.schema(pSchema)
            .option("maxFilesPerTrigger", maxFiles.toString).json(pDir)
          val es = spark.readStream.schema(eSchema)
            .option("maxFilesPerTrigger", maxFiles.toString).json(eDir)
          val t0 = System.nanoTime()
          val q = EventStream.intervalJoin(ps, es,
              toleranceSec = 3600, watermark = "30 minutes")
            .writeStream.format("parquet")
            .option("path", s"$work/ij_out_$tag")
            .option("checkpointLocation", s"$work/ij_ckpt_$tag")
            .outputMode("append").start()
          drain(q, s"interval_join_$tag", nIn, t0)
        }
        runIj("warm", math.max(1, batches / 2))
        runIj("main", 1)

      case "snap_dedup" =>
        // stream-static snapshot guard: snapshot = the base documents;
        // the stream replays the same docs under new ids (every one a
        // verified exact dup — worst-case verify mass) plus the `copies`
        // blow-up as unique docs (disjoint suffixed tokens). Body lives
        // in [[snapDedupStats]] — Bench publishes the same shape as its
        // standing per-round stream row.
        snapDedupStats(spark, sfDir, batches, copies, parts)

      case "scale" =>
        // past-the-fixture state scale (round-9): the sf0.1 replay tops out
        // at 1,500-6,000 distinct cards, so the "state is linear in keys /
        // RocksDB for past-heap" claims were asserted, not measured. This
        // scenario synthesizes `copies`-THOUSAND distinct cards (3 txns
        // each, spread round-robin across batches) through the identical
        // production wiring, with a full-coverage deploy snapshot — the
        // 1M-card point is `scale ... 20 1000 8`.
        val cards = (if (args.length > 3) args(3).toLong else 1000L) * 1000L
        val txnsPer = 3L
        val txnJson = spark.range(cards * txnsPer).select(to_json(struct(
          (col("id") % cards).as("card_id"),
          (col("id") % cards).as("member_id"),
          (col("id") * 7919 % 49999 / 10.0 + 1.0).as("amount"),
          col("id").as("pos_id"),
          (col("id") % 100).cast(IntegerType).as("postcode"),
          date_format(timestamp_seconds(lit(1577836800L) + col("id") % 86400),
            "dd-MM-yyyy HH:mm:ss").as("transaction_dt"),
        )).as("value"))
        val nTxn = cards * txnsPer
        val txnDir = s"$work/txn_in"
        txnJson.repartition(batches).write.text(txnDir)

        val zipBc = spark.sparkContext.broadcast(Relational.zipGrid)
        // full-coverage deploy snapshot: every card has a ucl+score row, as
        // a landed lookup table would at deploy time — the seed load is
        // part of what must scale with the key space
        val snapshot = spark.range(cards).select(
          col("id").as("card_id"),
          (col("id") % 4000 / 2.0 + 500.0).as("ucl"),
          (col("id") % 800).cast(IntegerType).as("score"),
          lit(null).cast(IntegerType).as("postcode"),
          lit(null).cast(StringType).as("transaction_dt")).as[CardLookup]
          .cache()
        snapshot.count()

        def runScale(tag: String, maxFiles: Int): StreamStats = {
          val raw = spark.readStream.schema(valueSchema)
            .option("maxFilesPerTrigger", maxFiles.toString).text(txnDir)
          val t0 = System.nanoTime()
          val q = FraudStream.runFrom(raw, snapshot, zipBc,
            masterPath = s"$work/master_$tag", checkpoint = s"$work/ckpt_$tag",
            cfg = FraudConfig()).start()
          drain(q, s"scale_${cards}_$tag", nTxn, t0)
        }
        runScale("warm", batches / 2)
        runScale("main", 1)

      case "snap_scale" =>
        // snapshot-size scale for the stream-static near-dup guard: the
        // snapshot grows to `copies` x 5k docs (disjoint-token rewrites —
        // DISTINCT members, not twins) while the arriving stream stays
        // fixed at 4x base (every 4th doc an exact dup of a snapshot
        // member). The claim under test: per-batch cost tracks BATCH size,
        // not snapshot size, because the snapshot's signature frame is
        // prepared once and each micro-batch only probes it.
        val d0 = Tables(spark, sfDir, "documents")
        val snapDocs = (1 until copies.max(2)).map { i =>
          d0.withColumn("doc_id", col("doc_id") + lit(i * shift))
            .withColumn("text",
              array_join(transform(split(col("text"), " "),
                t => concat(t, lit(s"_s$i"))), " "))
        }.foldLeft(d0)(_ unionByName _)
        val streamDocs = (1 to 3).map { i =>
          d0.withColumn("doc_id", col("doc_id") + lit((200 + i) * shift))
            .withColumn("text",
              array_join(transform(split(col("text"), " "),
                t => concat(t, lit(s"_x$i"))), " "))
        }.foldLeft(d0.withColumn("doc_id", col("doc_id") + lit(99 * shift)))(_ unionByName _)
        val streamJson = streamDocs
          .select(to_json(struct(col("doc_id"), col("text"), lit("s").as("source"))).as("value"))
        val nDocs = streamJson.count()
        val inDir = s"$work/snap_in"
        streamJson.repartition(batches).write.text(inDir)
        val snap = graft.streaming.CorpusStream
          .prepareSnapshot(snapDocs, "doc_id", "text").cache()
        val snapRows = snap.count()
        def runSnap(tag: String, maxFiles: Int): StreamStats = {
          val raw = spark.readStream.schema(valueSchema)
            .option("maxFilesPerTrigger", maxFiles.toString).text(inDir)
          val t0 = System.nanoTime()
          val q = graft.streaming.CorpusStream.snapshotNearDups(
              graft.streaming.CorpusStream.decode(raw), snap, "doc_id", "text")
            .writeStream.format("parquet")
            .option("path", s"$work/snap_out_$tag")
            .option("checkpointLocation", s"$work/ckpt_snap_$tag")
            .start()
          drain(q, s"snap_scale_${copies}x_sig${snapRows}_$tag", nDocs, t0)
        }
        runSnap("warm", batches / 2)
        runSnap("main", 1)

      case c if c == "corpus" || c == "corpus_kn" =>
        // documents + 25% duplicate tail; duplicates arrive AFTER their
        // originals (higher doc_id, same text) so the watermarked dedup
        // state must actually catch them
        val d0 = Tables(spark, sfDir, "documents")
        val docs = (0 until copies).map { i =>
          if (i == 0) d0 else d0.withColumn("doc_id", col("doc_id") + lit(i * shift))
        }.reduce(_ unionByName _)
        val dupes = docs.filter(col("doc_id") % 4 === 0)
          .withColumn("doc_id", col("doc_id") + lit(7 * shift))
        val corpusJson = docs.unionByName(dupes)
          .select(to_json(struct(col("doc_id"), col("text"), col("source"))).as("value"))
        val nDocs = corpusJson.count()
        val docDir = s"$work/doc_in"
        corpusJson.repartition(batches).write.text(docDir)
        // corpus_kn: the full speed-layer quality path — the frozen KN
        // model (batch-trained once on the base corpus, closure-shipped)
        // gates each doc after dedup; the cut is the base corpus's own
        // p75 score, so ~25% of unique docs drop and both branches pay
        val gate: Option[(graft.operators.TextAnalysis.KnModel, Double)] =
          if (scenario == "corpus_kn") {
            val model = graft.operators.TextAnalysis.knModel(
              d0, "text", col("doc_id") % 5 =!= 0)
            val scores = d0.select(col("text")).collect()
              .flatMap(r => model.avgNll(r.getString(0))).sorted
            Some((model, scores((scores.length * 3) / 4)))
          } else None
        def run(tag: String, maxFiles: Int): StreamStats = {
          val raw = spark.readStream.schema(valueSchema)
            .option("maxFilesPerTrigger", maxFiles.toString).text(docDir)
          val t0 = System.nanoTime()
          val ingested = CorpusStream.ingest(raw)
          val piped = gate.fold(ingested) { case (m, cut) =>
            CorpusStream.perplexityGate(ingested, m, cut) }
          val q = piped
            .writeStream.format("parquet")
            .option("path", s"$work/corpus_out_$tag")
            .option("checkpointLocation", s"$work/ckpt_corpus_$tag")
            .start()
          drain(q, s"${scenario}_$tag", nDocs, t0)
        }
        run("warm", batches / 2) // warm-up: big files, few batches
        run("main", 1)

      case "fraud" =>
        // events → transaction JSON lines: same mapping as
        // q_stateful_classify (Stateful.scala) — user=card, value=amount,
        // payload k=postcode, day-first stream timestamp
        val e0 = Tables(spark, sfDir, "events")
        val e = (0 until copies).map { i =>
          if (i == 0) e0
          else e0.withColumn("user_id", col("user_id") + lit(i * shift))
            .withColumn("event_id", col("event_id") + lit(i * shift))
        }.reduce(_ unionByName _)
        val txnJson = e.select(to_json(struct(
          col("user_id").as("card_id"),
          col("user_id").as("member_id"),
          col("value").as("amount"),
          col("event_id").as("pos_id"),
          get_json_object(col("props"), "$.k").cast(IntegerType).as("postcode"),
          date_format(col("ts"), "dd-MM-yyyy HH:mm:ss").as("transaction_dt"),
        )).as("value"))
        val nTxn = txnJson.count()
        val txnDir = s"$work/txn_in"
        txnJson.repartition(batches).write.text(txnDir)

        val zipBc = spark.sparkContext.broadcast(Relational.zipGrid)
        val score = Tables(spark, sfDir, "customer")
          .select(col("c_custkey").as("card_id"),
            col("c_acctbal").cast(IntegerType).as("score"))
        val snapshot = Relational.uclPerUserPublic(e)
          .withColumnRenamed("user_id", "card_id")
          .join(score, Seq("card_id"), "left")
          .select(col("card_id"), col("ucl"), col("score"),
            lit(null).cast(IntegerType).as("postcode"),
            lit(null).cast("string").as("transaction_dt")).as[CardLookup]
          // the deploy snapshot is a landed table, not a live aggregate:
          // pin it so warm-up and measured run classify identical seeds
          .cache()
        snapshot.count()

        def run(tag: String, maxFiles: Int): StreamStats = {
          val raw = spark.readStream.schema(valueSchema)
            .option("maxFilesPerTrigger", maxFiles.toString).text(txnDir)
          val t0 = System.nanoTime()
          val q = FraudStream.runFrom(raw, snapshot, zipBc,
            masterPath = s"$work/master_$tag", checkpoint = s"$work/ckpt_$tag",
            cfg = FraudConfig()).start()
          drain(q, s"fraud_$tag", nTxn, t0)
        }
        run("warm", batches / 2)
        run("main", 1)

      case other => throw new IllegalArgumentException(s"unknown scenario '$other'")
    }
    spark.stop()
    println(s"STREAMBENCH ${line.json}")
  }
}
