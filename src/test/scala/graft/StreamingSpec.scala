package graft

import graft.model._
import graft.streaming.FraudStream
import graft.streaming.FraudStream.CardState
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** K1–K6 streaming semantics (SURVEY §2.9, §7.1), pinned per FIXTURES.md §A4:
  * over-UCL, low score, impossible travel, genuine-advances-state, first-ever
  * card, out-of-order (Δt ≤ 0), unknown postcode. The pure fold
  * (processCard) is tested directly; classify() is cross-checked in batch
  * mode and through a real MemoryStream micro-batch run.
  */
class StreamingSpec extends SparkSuite {

  // Synthetic zip dimension: A=(0,0), B=(0,90) — 10007.54 km apart; C near A.
  private val zip = Map(
    "11111" -> (0.0, 0.0),
    "22222" -> (0.0, 90.0),
    "33333" -> (0.1, 0.0),
  )
  private val cfg = FraudConfig()

  private def txn(card: Long, amount: Double, pc: Int, ts: String, pos: Long = 1L) =
    Transaction(card, card + 100, amount, pos, pc, ts)

  // Streaming path timestamps are day-first (FinFraudGuard.java:76).
  test("score rule: low-score card is FRAUD regardless of amount") {
    val st = CardState(Some(1000.0), Some(150), None, None)
    val (out, _) = FraudStream.processCard(st, Seq(txn(1, 5.0, 11111, "01-01-2024 10:00:00")), zip, cfg)
    assert(out.map(_.status) == Seq("FRAUD"))
  }

  test("ucl rule: amount above UCL is FRAUD; at/below UCL is not") {
    val st = CardState(Some(100.0), Some(700), None, None)
    val (out, _) = FraudStream.processCard(st, Seq(
      txn(1, 100.0, 11111, "01-01-2024 10:00:00", 1), // == ucl → genuine (strict >)
      txn(1, 100.01, 11111, "01-01-2024 11:00:00", 2),
    ), zip, cfg)
    assert(out.map(_.status) == Seq("GENUINE", "FRAUD"))
  }

  test("speed rule: impossible travel fires; genuine advances state") {
    val st = CardState(Some(10000.0), Some(700), Some(11111), FraudStream.parseMillis("01-01-2024 10:00:00", cfg.streamTsFormat))
    // 10007 km in 10 seconds → ~1000 km/s >> 0.25
    val (out, st1) = FraudStream.processCard(st, Seq(txn(1, 50.0, 22222, "01-01-2024 10:00:10")), zip, cfg)
    assert(out.map(_.status) == Seq("FRAUD"))
    // FRAUD must NOT advance the location/time state (HBaseTransLink.java:76-81)
    assert(st1.postcode.contains(11111))
  }

  test("slow travel is genuine and advances location state") {
    val st = CardState(Some(10000.0), Some(700), Some(11111), FraudStream.parseMillis("01-01-2024 10:00:00", cfg.streamTsFormat))
    // 11.1 km (0.1°) in 1 hour → 0.003 km/s
    val (out, st1) = FraudStream.processCard(st, Seq(txn(1, 50.0, 33333, "01-01-2024 11:00:00")), zip, cfg)
    assert(out.map(_.status) == Seq("GENUINE"))
    assert(st1.postcode.contains(33333))
    assert(st1.lastTsMillis == FraudStream.parseMillis("01-01-2024 11:00:00", cfg.streamTsFormat))
  }

  test("parseMillis fast path agrees with SimpleDateFormat on every input class") {
    val fmt = "dd-MM-yyyy HH:mm:ss"
    val sdf = new java.text.SimpleDateFormat(fmt)
    sdf.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    sdf.setLenient(false)
    def slow(s: String): Option[Long] =
      try Some(sdf.parse(s).getTime) catch { case _: java.text.ParseException => None }
    val cases = Seq(
      "05-03-2024 23:59:59",       // canonical → fast path
      "29-02-2024 00:00:00",       // leap day valid
      "29-02-2023 00:00:00",       // leap day invalid → None both
      "31-04-2024 10:00:00",       // April 31 invalid
      "01-01-2024 24:00:00",       // hour 24 invalid (non-lenient)
      "1-1-2024 1:2:3",            // 1-digit fields: SDF accepts → fallback
      "01-01-2024 10:00:00Z",      // trailing char: SDF accepts prefix → fallback
      "01-01-2024 10:00:0",        // short seconds: SDF accepts → fallback
      "not-a-date",
      "00-01-2024 10:00:00",       // day 0 invalid
    )
    cases.foreach { s =>
      assert(FraudStream.parseMillis(s, fmt) == slow(s), s"disagreement on '$s'")
    }
  }

  test("genuine txn with unparseable timestamp advances neither postcode nor lastTs") {
    // (postcode, lastTs) move atomically (HBaseTransLink.java:76-81): pairing
    // a new location with an older timestamp would corrupt the speed rule.
    val t0 = FraudStream.parseMillis("01-01-2024 10:00:00", cfg.streamTsFormat)
    val st = CardState(Some(1000.0), Some(700), Some(11111), t0)
    val (out, st1) = FraudStream.processCard(st, Seq(txn(1, 5.0, 33333, "not-a-date")), zip, cfg)
    assert(out.map(_.status) == Seq("GENUINE")) // speed abstains, other rules pass
    assert(st1.postcode.contains(11111) && st1.lastTsMillis == t0)
    // and a subsequent parseable genuine txn advances both together
    val (_, st2) = FraudStream.processCard(st1, Seq(txn(1, 5.0, 33333, "01-01-2024 11:00:00")), zip, cfg)
    assert(st2.postcode.contains(33333))
    assert(st2.lastTsMillis == FraudStream.parseMillis("01-01-2024 11:00:00", cfg.streamTsFormat))
  }

  test("first-ever card: all rules abstain → GENUINE, state seeded") {
    val (out, st1) = FraudStream.processCard(CardState(None, None, None, None),
      Seq(txn(9, 1e9, 11111, "01-01-2024 10:00:00")), zip, cfg)
    assert(out.map(_.status) == Seq("GENUINE"))
    assert(st1.postcode.contains(11111))
  }

  test("Δt ≤ 0 (out-of-order vs state): speed rule abstains") {
    val st = CardState(None, None, Some(22222), FraudStream.parseMillis("01-01-2024 10:00:00", cfg.streamTsFormat))
    // same timestamp as state → Δt = 0 → abstain even though location jumped
    val (out, _) = FraudStream.processCard(st, Seq(txn(1, 5.0, 11111, "01-01-2024 10:00:00")), zip, cfg)
    assert(out.map(_.status) == Seq("GENUINE"))
  }

  test("unknown postcode: Abstain policy skips speed rule; Fail policy throws") {
    val st = CardState(None, None, Some(11111), FraudStream.parseMillis("01-01-2024 10:00:00", cfg.streamTsFormat))
    val t = txn(1, 5.0, 99999, "01-01-2024 10:00:10")
    val (out, _) = FraudStream.processCard(st, Seq(t), zip, cfg)
    assert(out.map(_.status) == Seq("GENUINE"))
    val failCfg = cfg.copy(unknownZip = UnknownZipPolicy.Fail)
    intercept[IllegalArgumentException] {
      FraudStream.processCard(st, Seq(t), zip, failCfg)
    }
  }

  test("within-batch ordering is by event time, not arrival order") {
    val st = CardState(None, None, None, None)
    // arrives out of order: the 10:00:20 far-away txn first, then 10:00:00 at A.
    // Event-time order: A@10:00:00 (genuine, seeds location), B@10:00:20 →
    // 10007 km / 20 s → FRAUD. Arrival-order processing would label both GENUINE.
    val (out, _) = FraudStream.processCard(st, Seq(
      txn(1, 5.0, 22222, "01-01-2024 10:00:20", 2),
      txn(1, 5.0, 11111, "01-01-2024 10:00:00", 1),
    ), zip, cfg)
    val byPos = out.sortBy(_.pos_id)
    assert(byPos.map(_.status) == Seq("GENUINE", "FRAUD"))
  }

  test("classify() in batch mode: snapshot seeds state per card") {
    val s = spark
    import s.implicits._
    val txns = Seq(
      txn(1, 500.0, 11111, "01-01-2024 10:00:00"), // over card 1's ucl=100 → FRAUD
      txn(2, 500.0, 11111, "01-01-2024 10:00:00"), // card 2 ucl=1000, score ok → GENUINE
      txn(3, 1.0, 11111, "01-01-2024 10:00:00"), // card 3: low score → FRAUD
    ).toDS()
    val snapshot = Seq(
      CardLookup(1L, Some(100.0), Some(700), None, None),
      CardLookup(2L, Some(1000.0), Some(700), None, None),
      CardLookup(3L, Some(1000.0), Some(100), None, None),
    ).toDS()
    val zipBc = spark.sparkContext.broadcast(zip)
    val got = FraudStream.classify(txns, snapshot, zipBc, cfg)
      .collect().map(l => l.card_id -> l.status).toMap
    assert(got == Map(1L -> "FRAUD", 2L -> "GENUINE", 3L -> "FRAUD"))
  }

  test("decode (F7): JSON payload strings → typed Transactions") {
    val s = spark
    import s.implicits._
    val raw = Seq(
      """{"card_id": 1234, "member_id": 5678, "amount": 42.5, "pos_id": 9012, "postcode": 10524, "transaction_dt": "12-08-2026 10:15:30"}""",
      """not json at all""",
    ).toDF("value")
    val got = FraudStream.decode(raw).collect()
    assert(got.head == Transaction(1234L, 5678L, 42.5, 9012L, 10524, "12-08-2026 10:15:30"))
    assert(got.length == 1) // undecodable payload dropped (FinFraudGuard.java:62-65)
  }

  test("foreachBatch master sink (K4/S11): idempotent per-batch append across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft-master").toString + "/master"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val input = MemoryStream[Transaction]
    val snapshot = spark.emptyDataset[CardLookup]
    val zipBc = spark.sparkContext.broadcast(zip)
    var lastBatch: Option[(org.apache.spark.sql.DataFrame, Long)] = None
    val q = FraudStream.classify(input.toDS(), snapshot, zipBc, cfg)
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[LabeledTransaction], batchId: Long) =>
        val df = batch.toDF()
        df.persist()
        df.count()
        lastBatch = Some((df, batchId))
        graft.sources.Sources.appendMasterBatch(df, out, batchId)
      }.start()
    try {
      input.addData(txn(1, 5.0, 11111, "01-01-2024 10:00:00", 1))
      q.processAllAvailable()
      input.addData(txn(1, 6.0, 11111, "01-01-2024 10:05:00", 2))
      q.processAllAvailable()
      val got = spark.read.parquet(out)
      assert(got.count() == 2)
      assert(got.select("rowid").distinct().count() == 2)
      assert(got.columns.contains("status"))
      assert(got.columns.contains("batch_id")) // per-epoch partition column
      // at-least-once replay of the same micro-batch must not duplicate rows
      val (df, bid) = lastBatch.get
      graft.sources.Sources.appendMasterBatch(df, out, bid)
      val replayed = spark.read.parquet(out)
      assert(replayed.count() == 2)
      assert(replayed.select("rowid").distinct().count() == 2)
    } finally q.stop()
  }

  // Runs the two-batch MemoryStream scenario on the given state store provider
  // (None: the session's default), restoring the session conf afterwards.
  private def memoryStreamRun(provider: Option[String], name: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(key)
    provider.foreach(spark.conf.set(key, _))
    try {
      val ckpt = java.nio.file.Files.createTempDirectory("graft-memstream-ckpt").toString
      val input = MemoryStream[Transaction]
      val snapshot = Seq(CardLookup(7L, Some(1000.0), Some(700), Some(11111),
        Some("2024-01-01 10:00:00"))).toDS() // batch-format ts (FDProcBatch.txt:289)
      val zipBc = spark.sparkContext.broadcast(zip)
      val q = FraudStream.classify(input.toDS(), snapshot, zipBc, cfg)
        .writeStream.format("memory").queryName(name).outputMode(OutputMode.Append)
        .option("checkpointLocation", ckpt).start()
      try {
        // batch 1: genuine advance at B (slow: 1 day later), then batch 2:
        // impossible travel back to A in 10 s of event time.
        val replay = Seq(
          txn(7, 10.0, 22222, "02-01-2024 10:00:00", 1),
          txn(7, 10.0, 11111, "02-01-2024 10:00:10", 2))
        input.addData(replay(0))
        q.processAllAvailable()
        input.addData(replay(1))
        q.processAllAvailable()
        val got = spark.table(name).as[LabeledTransaction]
          .collect().sortBy(_.pos_id).map(_.status).toSeq
        assert(got == Seq("GENUINE", "FRAUD"))
        // the same fold in batch mode over the same replay gives identical labels
        val ref = FraudStream.classify(replay.toDS(), snapshot, zipBc, cfg)
          .collect().sortBy(_.pos_id).map(_.status).toSeq
        assert(ref == got)
      } finally q.stop()
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("end-to-end MemoryStream: labels across micro-batches with carried state") {
    memoryStreamRun(None, "labeled")
  }

  test("end-to-end MemoryStream on the RocksDB state store: same labels across micro-batches") {
    memoryStreamRun(
      Some("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"),
      "labeled_rocksdb")
  }
}
