package graft

import graft.model._
import graft.streaming.FraudStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.nio.file.{Files, Paths}

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

  test("deploy path: runFrom's writer appends labeled batches to the master table") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-runfrom").toString
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
    // the writer the production job starts (decode → classify → foreachBatch
    // master-append), not a test-only sink
    val q = FraudStream.runFrom(raw, snapshot, zipBc,
        masterPath = s"$dir/master", checkpoint = s"$dir/ckpt")
      .start()
    try {
      Files.writeString(Paths.get(s"$inDir/b1.jsonl"),
        """{"card_id": 1, "member_id": 101, "amount": 10.0, "pos_id": 1, "postcode": 11111, "transaction_dt": "01-02-2024 10:00:00"}""" + "\n")
      q.processAllAvailable()
      // second micro-batch: impossible travel — classify must see the state
      // advanced by batch 1 through the real writer
      Files.writeString(Paths.get(s"$inDir/b2.jsonl"),
        """{"card_id": 1, "member_id": 101, "amount": 10.0, "pos_id": 2, "postcode": 22222, "transaction_dt": "01-02-2024 10:00:10"}""" + "\n")
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

  test("deploy path with stateApi=tws: transformWithState writer produces the same master") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-runfrom-tws").toString
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
    // the tws path needs the RocksDB store, which whoever owns the session
    // sets; restore it so later streaming suites keep the default provider
    val providerKey = GraftSession.StateStoreProviderKey
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, GraftSession.RocksDbProvider)
    val q = FraudStream.runFrom(raw, snapshot, zipBc,
        masterPath = s"$dir/master", checkpoint = s"$dir/ckpt", stateApi = "tws")
      .start()
    try {
      Files.writeString(Paths.get(s"$inDir/b1.jsonl"),
        """{"card_id": 1, "member_id": 101, "amount": 10.0, "pos_id": 1, "postcode": 11111, "transaction_dt": "01-02-2024 10:00:00"}""" + "\n")
      q.processAllAvailable()
      Files.writeString(Paths.get(s"$inDir/b2.jsonl"),
        """{"card_id": 1, "member_id": 101, "amount": 10.0, "pos_id": 2, "postcode": 22222, "transaction_dt": "01-02-2024 10:00:10"}""" + "\n")
      q.processAllAvailable()
      val got = spark.read.parquet(s"$dir/master").orderBy("pos_id")
        .select("pos_id", "status").as[(Long, String)].collect().toSeq
      assert(got == Seq((1L, "GENUINE"), (2L, "FRAUD")))
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("runFrom leaves the session conf alone and rejects an unknown stateApi") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-runfrom-conf").toString
    val zipBc = spark.sparkContext.broadcast(Map("11111" -> (0.0, 0.0)))
    val snapshot = Seq(CardLookup(1L, Some(1000.0), Some(700), None, None)).toDS()
    val raw = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.StringType))))
      .text(dir)
    def runFrom(api: String) = FraudStream.runFrom(raw, snapshot, zipBc,
      masterPath = s"$dir/master", checkpoint = s"$dir/ckpt", stateApi = api)
    val key = GraftSession.StateStoreProviderKey
    val prev = spark.conf.getOption(key)
    try {
      // without the RocksDB store, tws fails fast naming the conf to set
      spark.conf.unset(key)
      val unset = spark.conf.getAll
      val e = intercept[IllegalArgumentException](runFrom("tws"))
      assert(e.getMessage.contains(key))
      assert(spark.conf.getAll == unset)
      // with it, building the tws writer writes nothing into the session
      spark.conf.set(key, GraftSession.RocksDbProvider)
      val before = spark.conf.getAll
      runFrom("tws")
      assert(spark.conf.getAll == before)
      // a typo'd state API is an error, not a silent fmgws run
      val t = intercept[IllegalArgumentException](runFrom("twz"))
      assert(t.getMessage.contains("twz"))
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }
}
