package fraudbench

import graft.batch.FraudBatch
import graft.model.LabeledTransaction
import graft.sources.Sources
import graft.streaming.FraudStream
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}

/** lookup_refresh: a closed loop of full lookup refreshes as the hourly
  * batch job wires them — history CSV scan, the 12-step lookup pipeline,
  * the merge with the stream's state recovered from the labelled master,
  * and the snapshot overwrite. One refresh runs at a time.
  */
object LookupRefresh {
  val Cards = 8000
  val HistoryPerCard = 20
  val MasterCards = 4000
  val MasterPerCard = 4
  val MasterOnlyCards = 400
  /** Refreshes run before the measured window, until codegen, the parquet and
    * CSV readers and the JIT have settled.
    */
  val WarmupRefreshes = 2

  final case class Inputs(history: String, cardMember: String, memberScore: String, master: String, out: String)

  private def read(spark: SparkSession, in: Inputs) = (
    Sources.readTransactionsCsv(spark, in.history),
    spark.read.schema(Sources.cardMemberSchema).option("header", "true").csv(in.cardMember),
    spark.read.schema(Sources.memberScoreSchema).option("header", "true").csv(in.memberScore),
    spark.read.parquet(in.master),
  )

  /** One full refresh, as the batch job runs it. */
  def refresh(spark: SparkSession, in: Inputs): Unit = {
    val (tx, cm, ms, master) = read(spark, in)
    val lookup = FraudBatch.lookupPipeline(tx, cm, ms)
    Sources.overwriteSnapshot(FraudBatch.mergeLookup(lookup, FraudStream.stateFromMaster(master)), in.out)
  }

  private def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(a: Args, spark: SparkSession, spans: Spans, probe: Option[EngineProbe]): Outcome = {
    import spark.implicits._
    val r = new SplittableRandom(a.seed)
    val zips = Gen.zips(r, 400)
    val cards = Gen.cards(r, Cards, zips, lowScore = 0.03)
    val history = Gen.history(r, cards, HistoryPerCard, zips, posBase = 0L)
    // the stream's labelled master: recent swipes of some cards, a share of
    // them FRAUD, plus cards the batch history has never seen
    val masterCards = (0 until MasterCards).map(_ => cards(r.nextInt(cards.length))).distinct ++
      (0 until MasterOnlyCards).map(i => Gen.Card(Gen.NewCardBase + i, Gen.NewCardBase + i, 0, 0, 5000, 1000))
    var pos = 3000000000L
    val master = masterCards.flatMap { c =>
      var prev = Gen.T0 + 86400L
      (0 until MasterPerCard).map { _ =>
        pos += 1
        if (r.nextInt(8) != 0) prev += 60L * (1 + r.nextInt(600))
        Gen.Row(c.cardId, c.memberId, Gen.normalCents(r, c), zips(r.nextInt(zips.length)).code, pos, prev,
          genuine = r.nextInt(5) != 0)
      }
    }
    val dir = s"${a.work}/in"
    val in = Inputs(s"$dir/history.csv", s"$dir/card_member.csv", s"$dir/member_score.csv",
      s"$dir/master", s"${a.work}/lookup")
    Gen.writeHistoryCsv(in.history, history)
    Gen.writeCardMemberCsv(in.cardMember, cards)
    Gen.writeMemberScoreCsv(in.memberScore, cards)
    // the master is laid out as the stream writes it: one batch_id partition per micro-batch
    master.grouped(master.length / 2 + 1).zipWithIndex.foreach { case (rows, b) =>
      val df = rows.map(m => LabeledTransaction(m.cardId, m.memberId, m.amount, m.posId, m.postcode,
        Gen.streamTs(m.tsSec), if (m.genuine) "GENUINE" else "FRAUD")).toDF()
      Sources.appendMasterBatch(df, in.master, b.toLong)
    }

    Common.log(f"inputs written at ${Common.sinceLaunchS(a)}%.1f s")
    (1 to WarmupRefreshes).foreach { i =>
      refresh(spark, in)
      Common.log(f"warm-up refresh $i done at ${Common.sinceLaunchS(a)}%.1f s")
    }
    val setupS = Common.sinceLaunchS(a)
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val stages = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val engine = scala.collection.mutable.ArrayBuffer.empty[EngineStats]
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    while (System.nanoTime() < deadline) {
      probe match {
        case None =>
          val t0 = System.nanoTime()
          refresh(spark, in)
          walls += (System.nanoTime() - t0) / 1e6
        case Some(p) =>
          val (_, st) = p.window(spans("refresh")(refresh(spark, in)))
          engine += st
          walls += st.wallMs
          stages += perFunction(spark, in, spans)
      }
    }
    val heapMb = if (a.trace) 0.0 else Common.liveHeapMb()

    // independent check of the snapshot the last refresh wrote
    val expected = Replay.merge(
      Replay.batchLookup(history, cards.map(c => c.cardId -> c.memberId).toMap,
        cards.map(c => c.memberId -> c.score).toMap),
      Replay.streamState(master))
    val got = spark.read.parquet(in.out).collect().toSeq.map { row =>
      def opt[T](i: Int)(f: Int => T): Option[T] = if (row.isNullAt(i)) None else Some(f(i))
      val i = row.fieldIndex _
      row.getLong(i("card_id")) -> Replay.Lookup(
        opt(i("ucl"))(row.getDouble), opt(i("score"))(row.getInt), opt(i("postcode"))(row.getInt),
        opt(i("transaction_dt"))(k => parseBatchTs(row.getString(k))))
    }
    val problems = Replay.checkLookup(expected, got)
    problems.take(5).foreach(p => Common.log(s"lookup_refresh check: $p"))

    val metrics =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("live_heap_mb", heapMb, "MB"),
        ("latency_p50_ms", Common.percentile(walls.toSeq, 0.5), "ms"),
        ("latency_tail_ms", Common.percentile(walls.toSeq, 0.9), "ms"))
      else stages.head.keys.toSeq.sorted.map(k => (k, Common.median(stages.map(_(k)).toSeq), "ms")) ++
        EngineStats.mean(engine.toSeq)
    Outcome(problems.isEmpty, walls.length.toLong, 0L, metrics,
      Seq(s"${history.length} history rows, ${master.length} master rows, ${walls.length} refreshes",
        f"refresh p50 ${Common.percentile(walls.toSeq, 0.5)}%.1f ms, p90 ${Common.percentile(walls.toSeq, 0.9)}%.1f ms"))
  }

  private val batchFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def parseBatchTs(s: String): Long =
    java.time.LocalDateTime.parse(s, batchFmt).toEpochSecond(java.time.ZoneOffset.UTC)

  /** Each public function's output drained on its own (inclusive of its
    * inputs), then the snapshot write of an already-computed lookup.
    */
  private def perFunction(spark: SparkSession, in: Inputs, spans: Spans): Map[String, Double] = {
    val (tx, cm, ms, master) = read(spark, in)
    def timed(name: String)(f: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      spans(name)(f)
      name -> (System.nanoTime() - t0) / 1e6
    }
    val merged = FraudBatch.mergeLookup(FraudBatch.lookupPipeline(tx, cm, ms), FraudStream.stateFromMaster(master))
      .localCheckpoint()
    Map(
      timed("sources.history_scan_ms")(drain(tx)),
      timed("batch.card_score_ms")(drain(FraudBatch.cardScore(cm, ms))),
      timed("batch.last_ten_genuine_ms")(drain(FraudBatch.lastTenGenuine(tx))),
      timed("batch.card_ucl_ms")(drain(FraudBatch.cardUcl(FraudBatch.lastTenGenuine(tx)))),
      timed("batch.latest_zip_ms")(drain(FraudBatch.latestZip(tx))),
      timed("batch.build_lookup_ms")(drain(FraudBatch.lookupPipeline(tx, cm, ms))),
      timed("batch.state_from_master_ms")(drain(FraudStream.stateFromMaster(master))),
      timed("batch.merge_lookup_ms")(drain(
        FraudBatch.mergeLookup(FraudBatch.lookupPipeline(tx, cm, ms), FraudStream.stateFromMaster(master)))),
      timed("sources.snapshot_write_ms")(Sources.overwriteSnapshot(merged, s"${in.out}-write")),
    )
  }
}
