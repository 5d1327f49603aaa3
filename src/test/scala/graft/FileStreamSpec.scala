package graft

import graft.model._
import graft.streaming.FraudStream
import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import java.nio.file.{Files, Paths, StandardCopyOption}

/** The classifier behind a real readStream source (file source — the same
  * decode → classify → sink graph the Kafka wiring uses, S13/K1 without a
  * broker): JSON lines appear in a directory, micro-batches classify them,
  * state carries across files.
  */
class FileStreamSpec extends SparkSuite {

  test("file-source stream: decode, classify, state across micro-batches") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-filestream").toString
    val inDir = s"$dir/in"
    Files.createDirectories(Paths.get(inDir))
    val zipBc = spark.sparkContext.broadcast(Map(
      "11111" -> (0.0, 0.0), "22222" -> (0.0, 90.0)))
    val snapshot = Seq(CardLookup(1L, Some(1000.0), Some(700), None, None)).toDS()

    val raw = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.StringType))))
      .text(inDir)
    val q = FraudStream.classify(FraudStream.decode(raw), snapshot, zipBc)
      .writeStream.format("memory").queryName("fs_out")
      .outputMode(OutputMode.Append).start()
    try {
      // file 1: genuine at A
      Files.writeString(Paths.get(s"$inDir/b1.jsonl"),
        """{"card_id": 1, "member_id": 101, "amount": 10.0, "pos_id": 1, "postcode": 11111, "transaction_dt": "01-02-2024 10:00:00"}""" + "\n")
      q.processAllAvailable()
      // file 2: impossible travel to B 10s later — state from file 1 must carry
      Files.writeString(Paths.get(s"$inDir/b2.jsonl"),
        """{"card_id": 1, "member_id": 101, "amount": 10.0, "pos_id": 2, "postcode": 22222, "transaction_dt": "01-02-2024 10:00:10"}""" + "\n")
      q.processAllAvailable()
      val got = spark.table("fs_out").orderBy("pos_id")
        .select("status").as[String].collect().toSeq
      assert(got == Seq("GENUINE", "FRAUD"))
    } finally q.stop()
  }

  private val stateStoreKey = "spark.sql.streaming.stateStore.providerClass"
  private val rocksDb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Runs `body` with the session's state store set to `provider` (None:
    * Spark's default), restoring the previous setting afterwards so later
    * streaming suites keep the default store. */
  private def onStateStore[A](provider: Option[String])(body: => A): A = {
    val prev = spark.conf.getOption(stateStoreKey)
    provider.foreach(spark.conf.set(stateStoreKey, _))
    try body
    finally prev match {
      case Some(p) => spark.conf.set(stateStoreKey, p)
      case None => spark.conf.unset(stateStoreKey)
    }
  }

  /** Two micro-batches through the writer the production job starts: the
    * second is an impossible travel, so classify must see the state batch 1
    * advanced. */
  private def deployPathAppends(provider: Option[String]): Unit = onStateStore(provider) {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-runfrom").toString
    val inDir = s"$dir/in"
    Files.createDirectories(Paths.get(inDir))
    val zipBc = spark.sparkContext.broadcast(zips)
    val snapshot = Seq(CardLookup(1L, Some(1000.0), Some(700), None, None)).toDS()
    // the writer the production job starts (decode → classify → foreachBatch
    // master-append), not a test-only sink
    val q = FraudStream.runFrom(textStream(inDir), snapshot, zipBc,
        masterPath = s"$dir/master", checkpoint = s"$dir/ckpt")
      .start()
    try {
      Files.writeString(Paths.get(s"$inDir/b1.jsonl"), swipe(1, 1, 11111, "01-02-2024 10:00:00") + "\n")
      q.processAllAvailable()
      Files.writeString(Paths.get(s"$inDir/b2.jsonl"), swipe(1, 2, 22222, "01-02-2024 10:00:10") + "\n")
      q.processAllAvailable()
      val master = spark.read.parquet(s"$dir/master")
      val got = master.orderBy("pos_id")
        .select("pos_id", "status").as[(Long, String)].collect().toSeq
      assert(got == Seq((1L, "GENUINE"), (2L, "FRAUD")))
      // master rows carry the idempotent deterministic rowid (S11)
      val rowids = master.select("rowid").as[String].collect()
      assert(rowids.length == 2 && rowids.distinct.length == 2 &&
        rowids.forall(_.length == 32))
    } finally q.stop()
  }

  test("deploy path: runFrom's writer appends labeled batches to the master table") {
    deployPathAppends(None)
  }

  test("deploy path on the RocksDB state store: runFrom's writer produces the same master") {
    deployPathAppends(Some(rocksDb))
  }

  test("runFrom leaves the session conf alone") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-runfrom-conf").toString
    val zipBc = spark.sparkContext.broadcast(zips)
    val snapshot = Seq(CardLookup(1L, Some(1000.0), Some(700), None, None)).toDS()
    val before = spark.conf.getAll
    FraudStream.runFrom(textStream(dir), snapshot, zipBc,
      masterPath = s"$dir/master", checkpoint = s"$dir/ckpt")
    assert(spark.conf.getAll == before)
  }

  /** A text file source over `inDir`, as the Kafka value column. */
  private def textStream(inDir: String): DataFrame =
    spark.readStream.schema(StructType(Seq(StructField("value", StringType)))).text(inDir)

  private def swipe(card: Long, pos: Long, postcode: Int, ts: String): String =
    s"""{"card_id": $card, "member_id": ${100 + card}, "amount": 10.0, "pos_id": $pos, """ +
      s""""postcode": $postcode, "transaction_dt": "$ts"}"""

  /** Writes `lines` beside `inDir` and moves the file in whole, so no
    * micro-batch sees half of it. */
  private def deliver(inDir: String, name: String, lines: Seq[String]): Unit = {
    val staged = Paths.get(inDir).resolveSibling(name)
    Files.writeString(staged, lines.mkString("", "\n", "\n"))
    Files.move(staged, Paths.get(inDir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  private val zips = Map("11111" -> (0.0, 0.0), "22222" -> (0.0, 90.0))
  private val cards = 1L to 8L

  /** Batch 0: every card swipes at home. Batch 1: every card swipes again
    * 10 s later, card 3 from the other side of the world (FRAUD), and card
    * 5's swipe is delivered twice, so the batch holds two identical rows. */
  private val batch0 = cards.map(c => swipe(c, c, 11111, "01-02-2024 10:00:00"))
  private val batch1 = {
    val b = cards.map(c => swipe(c, 10 + c, if (c == 3) 22222 else 11111, "01-02-2024 10:00:10"))
    b :+ b(4)
  }

  /** Runs batches 0 and 1 through runFrom on the `provider` state store,
    * deletes the checkpoint's last commit, restarts on the same checkpoint
    * and checks that the replayed batch 1 leaves the master and the card
    * state exactly as the first run wrote them. */
  private def restartReplays(provider: Option[String]): Unit = onStateStore(provider) {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-restart").toString
    val inDir = s"$dir/in"
    Files.createDirectories(Paths.get(inDir))
    val zipBc = spark.sparkContext.broadcast(zips)
    val snapshot = cards.map(c => CardLookup(c, Some(1000.0), Some(700), None, None)).toDS()
    def start() = FraudStream.runFrom(textStream(inDir), snapshot, zipBc,
      masterPath = s"$dir/master", checkpoint = s"$dir/ckpt").start()
    def master() = spark.read.parquet(s"$dir/master")
      .select("rowid", "pos_id", "status").as[(String, Long, String)].collect().sorted.toSeq
    // batch 1's (card, state) rows, through Spark's state data source
    def state() = spark.read.format("statestore").option("batchId", 1L).load(s"$dir/ckpt")
      .select(col("key.value").as("_1"), col("value.groupState").as("_2"))
      .as[(Long, FraudStream.CardState)].collect().sortBy(_._1).toSeq

    val first = start()
    try {
      deliver(inDir, "b0.jsonl", batch0)
      first.processAllAvailable()
      deliver(inDir, "b1.jsonl", batch1)
      first.processAllAvailable()
    } finally first.stop()
    val written = master()
    val stateWritten = state()
    assert(stateWritten.map(_._1) == cards)

    // batch 1's master is written, but the checkpoint no longer records the
    // batch as committed: a restart must replay it
    val commits = Paths.get(s"$dir/ckpt/commits")
    assert(Files.exists(commits.resolve("1")) && !Files.exists(commits.resolve("2")))
    Files.delete(commits.resolve("1"))
    Files.deleteIfExists(commits.resolve(".1.crc"))

    val second = start()
    try second.processAllAvailable() finally second.stop()
    assert(second.recentProgress.exists(p => p.batchId == 1 && p.numInputRows == batch1.length),
      "the restarted query did not replay batch 1")
    val replayed = master()
    assert(replayed == written)
    assert(state() == stateWritten)
    // no duplicates: every delivered swipe has its own rowid, the twins included
    assert(replayed.map(_._1).distinct.length == replayed.length)
    // no gaps: one row per delivered swipe
    assert(replayed.map(_._2).sorted == (cards ++ cards.map(10 + _) :+ 15L).sorted)
    assert(replayed.filter(_._3 == "FRAUD").map(_._2) == Seq(13L))
  }

  test("restart over the same checkpoint replays the last batch into an identical master and state") {
    restartReplays(None)
  }

  test("restart on the RocksDB state store replays the last batch into an identical master and state") {
    restartReplays(Some(rocksDb))
  }

  test("a micro-batch's master write adds no shuffle: the state operator's is the only one") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-master-plan").toString
    val inDir = s"$dir/in"
    Files.createDirectories(Paths.get(inDir))
    val zipBc = spark.sparkContext.broadcast(zips)
    val snapshot = cards.map(c => CardLookup(c, Some(1000.0), Some(700), None, None)).toDS()
    // foreachBatch hands the write its batch as an RDD scan, so the state
    // operator's exchange sits in that RDD's lineage, not in the write's plan
    def lineageShuffles(rdd: RDD[_]): Seq[Int] = rdd.dependencies.toSeq.flatMap {
      case d: ShuffleDependency[_, _, _] => d.shuffleId +: lineageShuffles(d.rdd)
      case d => lineageShuffles(d.rdd)
    }
    object Plans extends AdaptiveSparkPlanHelper
    @volatile var seen: Option[(Int, Int)] = None
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.logical.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.getName }
          .filter(_ == "batch_id=1").foreach { _ =>
            val plan = qe.executedPlan
            val exchanges = Plans.collect(plan) { case e: ShuffleExchangeExec => e }.size
            val upstream = Plans.collect(plan) { case r: RDDScanExec => r.rdd }
              .flatMap(lineageShuffles).distinct.size
            seen = Some((exchanges, upstream))
          }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    // the stream's session is cloned at start, listeners included
    spark.listenerManager.register(listener)
    val q = FraudStream.runFrom(textStream(inDir), snapshot, zipBc,
      masterPath = s"$dir/master", checkpoint = s"$dir/ckpt").start()
    try {
      deliver(inDir, "b0.jsonl", batch0)
      q.processAllAvailable()
      // batch 1: the initial-state seeding of batch 0 is out of the plan
      deliver(inDir, "b1.jsonl", batch1)
      q.processAllAvailable()
      eventually(timeout(30.seconds)) { assert(seen.isDefined) }
      val (exchanges, upstream) = seen.get
      assert(exchanges == 0, "the master write planned a shuffle of its own")
      assert(upstream == 1, s"expected only the state operator's shuffle, got $upstream")
    } finally {
      q.stop()
      spark.listenerManager.unregister(listener)
    }
  }
}
