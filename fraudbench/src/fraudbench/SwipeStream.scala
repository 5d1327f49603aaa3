package fraudbench

import graft.batch.FraudBatch
import graft.geo.Geo
import graft.model.{CardLookup, FraudConfig, Transaction}
import graft.sources.Sources
import graft.streaming.FraudStream
import java.util.SplittableRandom
import java.util.concurrent.locks.LockSupport
import org.apache.spark.sql.{SparkSession, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, MemoryStream}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** swipe_stream: an open loop of card swipes into the speed layer as it is
  * wired after the Kafka source (FraudStream.runFrom). One generator thread
  * sends each swipe when it is due; a swipe's decision latency runs from its
  * due time to the commit of the micro-batch that wrote its master row.
  */
object SwipeStream {
  val DefaultRate = 200
  val Cards = 2000
  val HistoryPerCard = 12
  val Zips = 400
  /** Swipes sent as two whole micro-batches before the schedule starts: the
    * first batch loads the lookup into the state store and compiles the plan.
    */
  val PrewarmBatches = 2
  val PrewarmSwipes = 100
  /** Seconds of scheduled swipes before the measured window. */
  val WarmupS = 3

  def run(a: Args, spark: SparkSession, spans: Spans, probe: Option[EngineProbe]): Outcome = {
    import spark.implicits._
    val r = new SplittableRandom(a.seed)
    val zips = Gen.zips(r, Zips)
    val cards = Gen.cards(r, Cards, zips, lowScore = 0.03)
    val history = Gen.history(r, cards, HistoryPerCard, zips, posBase = 0L)
    val nPre = PrewarmBatches * PrewarmSwipes
    val nWarm = nPre + a.rate * WarmupS
    val nMeasured = a.rate * a.seconds
    val swipes = Gen.swipes(r, cards, zips, nWarm + nMeasured, Gen.T0 + 86400L * 30)
    val in = s"${a.work}/in"
    Gen.writeZipCsv(s"$in/zip.csv", zips)
    Gen.writeHistoryCsv(s"$in/history.csv", history)
    Gen.writeCardMemberCsv(s"$in/card_member.csv", cards)
    Gen.writeMemberScoreCsv(s"$in/member_score.csv", cards)

    // the batch layer builds the snapshot the stream is seeded from
    val snapPath = s"${a.work}/lookup"
    spans("batch.lookup_pipeline") {
      val tx = spans("sources.read_history")(Sources.readTransactionsCsv(spark, s"$in/history.csv"))
      val cm = spark.read.schema(Sources.cardMemberSchema).option("header", "true").csv(s"$in/card_member.csv")
      val ms = spark.read.schema(Sources.memberScoreSchema).option("header", "true").csv(s"$in/member_score.csv")
      spans("sources.snapshot_write")(Sources.overwriteSnapshot(FraudBatch.lookupPipeline(tx, cm, ms), snapPath))
    }
    val snapshot = spark.read.parquet(snapPath)
      .select(col("card_id"), col("ucl").cast("double"), col("score").cast("int"),
        col("postcode").cast("int"), col("transaction_dt"))
      .as[CardLookup]
    val zipBc = spans("geo.broadcast_zip_map")(Geo.broadcastZipMap(spark, s"$in/zip.csv"))

    // one input partition per core, as a topic with that many partitions
    // would give (without a count, the memory source makes one per add)
    implicit val sqlCtx: SQLContext = spark.sqlContext
    val input = MemoryStream[String](a.cores)
    val master = s"${a.work}/master"
    val query = spans("streaming.run_from") {
      FraudStream.runFrom(input.toDF(), snapshot, zipBc, master, s"${a.work}/checkpoint").start()
    }

    val n = swipes.length
    val dueMs = new Array[Double](n)
    val lateMs = new Array[Double](n)
    val offset = new Array[Long](n)
    val payloads = swipes.map(Gen.swipeJson)
    (0 until PrewarmBatches).foreach { b =>
      val o = input.addData(payloads.slice(b * PrewarmSwipes, (b + 1) * PrewarmSwipes))
        .asInstanceOf[LongOffset].offset
      (b * PrewarmSwipes until (b + 1) * PrewarmSwipes).foreach(offset(_) = o)
      query.processAllAvailable()
    }
    // open-loop generator: swipe k is due at start + (k - nPre) / rate
    val startNs = System.nanoTime()
    val startMs = System.currentTimeMillis().toDouble
    val gen = new Thread(() => {
      var k = nPre
      while (k < n) {
        val dueNs = startNs + ((k - nPre) * 1e9 / a.rate).toLong
        var now = System.nanoTime()
        while (now < dueNs) { LockSupport.parkNanos(dueNs - now); now = System.nanoTime() }
        dueMs(k) = startMs + (k - nPre) * 1e3 / a.rate
        lateMs(k) = (now - dueNs) / 1e6
        offset(k) = input.addData(payloads(k)).asInstanceOf[LongOffset].offset
        k += 1
      }
    }, "fraudbench-swipes")
    gen.setDaemon(true)
    gen.start()
    val windowStartNs = startNs + ((nWarm - nPre) * 1e9 / a.rate).toLong
    while (System.nanoTime() < windowStartNs) LockSupport.parkNanos(windowStartNs - System.nanoTime())
    val setupS = Common.sinceLaunchS(a)
    val engine = probe.map(_.window(gen.join())._2)
    gen.join()
    query.processAllAvailable()
    // measured once the last batch has committed and the stream idles: a GC
    // during a batch would also count the running tasks' sort pages
    val heapMb = if (a.trace) 0.0 else Common.liveHeapMb()
    query.stop()
    val progress = query.recentProgress.filter(_.numInputRows > 0).toSeq
    if (query.exception.isDefined) throw query.exception.get
    spans.attach("progress", progress.map(_.json).mkString("[", ",\n", "]"))

    // a swipe is decided when the first batch whose end offset covers it commits
    val commits = progress.map(p => (endOffset(p), commitMs(p))).sortBy(_._1)
    val latency = (nWarm until n).map { k =>
      val c = commits.find(_._1 >= offset(k)).getOrElse(
        throw new IllegalStateException(s"no committed batch covers swipe $k"))
      c._2 - dueMs(k)
    }

    // independent check of every swipe sent, warm-up included
    val seed = Replay.batchLookup(history, cards.map(c => c.cardId -> c.memberId).toMap,
      cards.map(c => c.memberId -> c.score).toMap)
    val (expected, mix) = Replay.labels(seed, swipes, zips.map(z => z.code -> (z.lat, z.lon)).toMap)
    val got = spark.read.parquet(master).select("pos_id", "status").as[(Long, String)].collect().toSeq
    val problems = Replay.checkMaster(expected, got)
    problems.take(5).foreach(p => Common.log(s"swipe_stream check: $p"))
    val notes = Seq(
      s"rate ${a.rate}/s, $nWarm warm-up + $nMeasured measured swipes, ${progress.length} non-empty batches",
      s"mix: $mix",
      s"late_max_ms ${lateMs.max}",
      f"decision latency p50 ${Common.percentile(latency, 0.5)}%.1f ms, p99 ${Common.percentile(latency, 0.99)}%.1f ms")

    val metrics =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("live_heap_mb", heapMb, "MB"),
        ("latency_p50_ms", Common.percentile(latency, 0.5), "ms"),
        ("latency_tail_ms", Common.percentile(latency, 0.99), "ms"))
      else {
        val batches = progress.filter(p => endOffset(p) >= offset(nWarm))
        perLayer(batches, probe.get, master, snapshot.collect().toSeq, swipes, zipBc.value,
          lateMs.drop(nWarm).toSeq) ++ engine.get.per(batches.length.toDouble)
      }
    Outcome(problems.isEmpty, nMeasured.toLong, 0L, metrics, notes)
  }

  private def endOffset(p: StreamingQueryProgress): Long = p.sources.head.endOffset.trim.toLong

  private def commitMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble + p.durationMs.get("triggerExecution").toDouble

  private def perLayer(batches: Seq[StreamingQueryProgress],
      probe: EngineProbe, master: String, snapshot: Seq[CardLookup],
      swipes: Seq[Gen.Swipe], zip: Map[String, (Double, Double)], late: Seq[Double]): Seq[(String, Double, String)] = {
    def p50(f: StreamingQueryProgress => Double) = Common.median(batches.map(f))
    def dur(p: StreamingQueryProgress, k: String) = Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    def op(p: StreamingQueryProgress) = p.stateOperators.head
    val ids = batches.map(_.batchId).toSet
    val writes = probe.masterWrites.filter(w => ids.contains(w._1)).map(_._2).toSeq
    val files = ids.toSeq.map { b =>
      Option(new java.io.File(s"$master/batch_id=$b").listFiles()).getOrElse(Array.empty[java.io.File])
        .count(f => f.getName.startsWith("part-")).toDouble
    }
    // the per-card fold on its own, over the run's swipes grouped by card
    val cfg = FraudConfig()
    val seeds = snapshot.map(l => l.card_id -> FraudStream.seedState(l, cfg)).toMap
    val byCard = swipes.groupBy(_.cardId).toSeq.map { case (c, ss) =>
      (seeds.getOrElse(c, FraudStream.CardState(None, None, None, None)),
        ss.map(s => Transaction(s.cardId, s.memberId, s.amount, s.posId, s.postcode, Gen.streamTs(s.tsSec))))
    }
    val classifyUs = Common.median((1 to 7).map { _ =>
      val t0 = System.nanoTime()
      byCard.foreach { case (st, tx) => FraudStream.processCard(st, tx, zip, cfg) }
      (System.nanoTime() - t0) / 1e3 / swipes.length
    }.drop(2))
    val perBatch = (m: scala.collection.Map[Long, Long]) => Common.median(ids.toSeq.map(b => m.getOrElse(b, 0L).toDouble))
    Seq(
      ("streaming.batches", batches.length.toDouble, "count"),
      ("streaming.rows_per_batch", p50(_.numInputRows.toDouble), "count"),
      ("streaming.trigger_ms", p50(dur(_, "triggerExecution")), "ms"),
      ("streaming.add_batch_ms", p50(dur(_, "addBatch")), "ms"),
      ("streaming.planning_ms", p50(dur(_, "queryPlanning")), "ms"),
      ("streaming.log_commit_ms", p50(p => dur(p, "walCommit") + dur(p, "commitOffsets")), "ms"),
      ("streaming.state_commit_ms", p50(op(_).commitTimeMs.toDouble), "ms"),
      ("streaming.state_update_ms", p50(op(_).allUpdatesTimeMs.toDouble), "ms"),
      ("streaming.state_rows", p50(op(_).numRowsTotal.toDouble), "count"),
      ("streaming.state_bytes", p50(op(_).memoryUsedBytes.toDouble), "bytes"),
      ("streaming.rows_updated_per_batch", p50(op(_).numRowsUpdated.toDouble), "count"),
      ("sources.master_write_ms", Common.median(writes), "ms"),
      ("sources.master_files_per_batch", Common.median(files), "count"),
      ("scheduler.jobs_per_batch", perBatch(probe.jobsByBatch), "count"),
      ("scheduler.tasks_per_batch", perBatch(probe.tasksByBatch), "count"),
      ("rules.classify_us_per_swipe", classifyUs, "us"),
      ("loadgen.late_max_ms", if (late.isEmpty) 0.0 else late.max, "ms"),
    )
  }
}
