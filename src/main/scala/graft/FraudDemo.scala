package graft

import graft.batch.FraudBatch
import graft.model.{CardLookup, FraudConfig}
import graft.sources.Sources
import graft.streaming.FraudStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** End-to-end replica of the reference deployment on generated
  * reference-shaped data: Sqoop/CSV ingest → the 12-step batch lookup build
  * (FDProcBatch.txt) → streaming classification replay (FinFraudGuard.java)
  * → labeled master table. A user of the reference runs exactly these two
  * jobs; this main proves the whole path executes on this engine.
  *
  * Usage: runMain graft.FraudDemo [outDir]
  */
object FraudDemo {

  /** Deterministic reference-shaped inputs (seeded): 20 cards, ~300 history
    * rows, scores straddling the 200 threshold, a transaction stream with
    * over-UCL and impossible-travel cases. Zip rows are verbatim
    * GeoGraudData.csv entries.
    */
  def writeInputs(outDir: String): Unit = {
    val rnd = new scala.util.Random(42)
    val zips = Seq(
      "10524,41.3706,-73.922,Garrison,New York,008478487970070",
      "10526,41.2911,-73.6678,Goldens Bridge,New York,955880136699959",
      "10527,41.3191,-73.7645,Granite Springs,New York,503755794650928",
      "10001,40.7506,-73.9971,New York,New York,761343519600829",
    )
    val zipCodes = Array(10524, 10526, 10527, 10001)
    Files.createDirectories(Paths.get(s"$outDir/raw"))
    Files.writeString(Paths.get(s"$outDir/raw/zips.csv"), zips.mkString("", "\n", "\n"))

    val history = new StringBuilder("card_id,member_id,amount,postcode,pos_id,transaction_dt,status\n")
    (1 to 20).foreach { card =>
      val n = 5 + rnd.nextInt(12)
      (1 to n).foreach { i =>
        val amt = 50 + rnd.nextInt(200) + rnd.nextInt(100) / 100.0
        val status = if (rnd.nextInt(10) == 0) "FRAUDULENT" else "GENUINE"
        val day = i % 27 + 1
        history ++= f"$card,${100 + card},$amt%.2f,${zipCodes(rnd.nextInt(4))},${9000 + card * 100 + i},2024-01-$day%02d ${i % 24}%02d:00:00,$status\n"
      }
    }
    Files.writeString(Paths.get(s"$outDir/raw/card_transactions.csv"), history.toString)

    val members = (1 to 20).map(c => s"$c,${100 + c},2020-01-01,2020-02-01,US,NYC")
    Files.writeString(Paths.get(s"$outDir/raw/card_member.csv"),
      "card_id,member_id,member_joining_dt,card_purchase_dt,country,city\n" + members.mkString("", "\n", "\n"))

    // scores straddle the threshold: cards 1-4 low (<200) ⇒ always FRAUD
    val scores = (1 to 20).map(c => s"${100 + c},${if (c <= 4) 150 + c else 400 + c * 10}")
    Files.writeString(Paths.get(s"$outDir/raw/member_score.csv"),
      "member_id,score\n" + scores.mkString("", "\n", "\n"))

    // stream: per card a normal txn, then card 5 gets an over-UCL amount and
    // card 6 an impossible-travel hop (10524 → 10001, 10 seconds)
    val stream = new StringBuilder
    (1 to 20).foreach { c =>
      stream ++= s"""{"card_id": $c, "member_id": ${100 + c}, "amount": 60.0, "pos_id": ${5000 + c}, "postcode": 10524, "transaction_dt": "01-02-2024 10:00:00"}\n"""
    }
    stream ++= s"""{"card_id": 5, "member_id": 105, "amount": 99999.0, "pos_id": 5905, "postcode": 10524, "transaction_dt": "01-02-2024 11:00:00"}\n"""
    stream ++= s"""{"card_id": 6, "member_id": 106, "amount": 61.0, "pos_id": 5906, "postcode": 10001, "transaction_dt": "01-02-2024 10:00:10"}\n"""
    Files.writeString(Paths.get(s"$outDir/raw/stream.jsonl"), stream.toString)
  }

  /** The two jobs, end to end. Returns (lookup, master) frames. */
  def run(spark: SparkSession, outDir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    writeInputs(outDir)

    // ---- batch layer (EP1): CSVs → lookup snapshot ----
    val tx = Sources.readTransactionsCsv(spark, s"$outDir/raw/card_transactions.csv")
    val members = spark.read.schema(Sources.cardMemberSchema)
      .option("header", "true").csv(s"$outDir/raw/card_member.csv")
    val scores = spark.read.schema(Sources.memberScoreSchema)
      .option("header", "true").csv(s"$outDir/raw/member_score.csv")
    val lookup = FraudBatch.lookupPipeline(tx, members, scores)
    Sources.overwriteSnapshot(lookup, s"$outDir/lookup")

    // ---- speed layer (EP2): stream replay → labeled master ----
    val cfg = FraudConfig()
    val zipBc = graft.geo.Geo.broadcastZipMap(spark, s"$outDir/raw/zips.csv")
    val snapshot = spark.read.parquet(s"$outDir/lookup")
      .select(col("card_id"), col("ucl").cast("double").as("ucl"),
        col("score").cast("int").as("score"), col("postcode").cast("int").as("postcode"),
        col("transaction_dt"))
      .as[CardLookup]
    val raw = spark.read.text(s"$outDir/raw/stream.jsonl").withColumnRenamed("value", "value")
    val labeled = FraudStream.classify(FraudStream.decode(raw), snapshot, zipBc, cfg)
    Sources.appendWithUuid(labeled.toDF(), s"$outDir/master")
    (spark.read.parquet(s"$outDir/lookup"), spark.read.parquet(s"$outDir/master"))
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse(
      Files.createTempDirectory("graft-fraud-demo").toString)
    val spark = GraftSession.build("verify")
    val (lookup, master) = run(spark, outDir)
    println(s"lookup rows: ${lookup.count()}")
    println(s"master rows: ${master.count()}")
    master.groupBy("status").count().orderBy("status").show()
    master.orderBy("card_id", "pos_id").show(30, truncate = false)
    spark.stop()
  }
}
