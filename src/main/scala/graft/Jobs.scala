package graft

import graft.batch.FraudBatch
import graft.model.{CardLookup, FraudConfig}
import graft.sources.Sources
import graft.streaming.FraudStream
import org.apache.spark.sql.functions._

/** Deployment entry points mirroring the reference's two jobs, so a
  * reference user keeps their operational shape:
  *
  *  - batch: the FDProcBatch.txt runbook as one spark-submit
  *    (`FDProcBatch.txt:1-358`)
  *  - streaming: `spark2-submit ... <broker> <topic> <groupId> <zipCsv>
  *    <hbaseMaster>` (`RTFraudScan.txt:80-87`; FinFraudGuard.java:27-37) —
  *    same argument order, with the HBase master replaced by the lookup
  *    snapshot + master output paths.
  */
object FraudBatchJob {
  /** args: <transactionsCsv> <cardMemberCsv> <memberScoreCsv> <lookupOutPath> */
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: FraudBatchJob <transactionsCsv> <cardMemberCsv> <memberScoreCsv> <lookupOutPath>")
    val Array(txCsv, memberCsv, scoreCsv, outPath) = args
    val spark = GraftSession.build("job", Seq("spark.app.name" -> "graft-fraud-batch"))
    val lookup = FraudBatch.lookupPipeline(
      Sources.readTransactionsCsv(spark, txCsv),
      spark.read.schema(Sources.cardMemberSchema).option("header", "true").csv(memberCsv),
      spark.read.schema(Sources.memberScoreSchema).option("header", "true").csv(scoreCsv),
    )
    Sources.overwriteSnapshot(lookup, outPath)
    println(s"lookup snapshot written: $outPath (${spark.read.parquet(outPath).count()} cards)")
    spark.stop()
  }
}

object FraudStreamJob {
  /** State (shuffle) partitions of the stream: the deployer's
    * `spark.sql.shuffle.partitions` when set, else the context's default
    * parallelism. Spark's default of 200 is fixed into the checkpoint on
    * first start, and at 200 swipes/s on 4 cores it put decision latency at
    * p50 24.8 s against ~1.3 s at 3 partitions: every micro-batch commits
    * one state store per partition. A restart keeps the count its
    * checkpoint recorded, whatever this returns. Only the stream needs it:
    * AQE coalesces the batch job's shuffles but not stateful micro-batches.
    */
  def statePartitions(deployed: Option[String], defaultParallelism: Int): String =
    deployed.getOrElse(defaultParallelism.toString)

  /** args: <broker> <topic> <groupId> <zipCodeCsvPath> <lookupSnapshotPath>
    *       <masterOutPath> <checkpointPath>
    * (first four match FinFraudGuard.java:27-37; the HBase master arg
    * becomes the snapshot/master/checkpoint paths)
    *
    * The card state lives in Spark's default in-heap state store, unless
    * the deployer's confs name another. A deployment whose key space
    * outgrows the executor heap keeps it off-heap in RocksDB with
    * `--conf spark.sql.streaming.stateStore.providerClass=org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`
    * (BENCH_STREAM.md). A checkpoint stays on the store that wrote it: to
    * switch, start on a fresh checkpoint seeded through
    * `FraudStream.stateFromMaster` and `FraudBatch.mergeLookup`.
    */
  def main(args: Array[String]): Unit = {
    require(args.length == 7,
      "usage: FraudStreamJob <broker> <topic> <groupId> <zipCsv> <lookupSnapshot> <masterOut> <checkpoint>")
    val Array(broker, topic, _, zipCsv, lookupPath, masterPath, checkpoint) = args
    val spark = GraftSession.build("job", Seq("spark.app.name" -> "graft-fraud-stream"))
    val sc = spark.sparkContext
    spark.conf.set("spark.sql.shuffle.partitions", statePartitions(
      sc.getConf.getOption("spark.sql.shuffle.partitions"), sc.defaultParallelism))
    import spark.implicits._
    val cfg = FraudConfig()
    val snapshot = spark.read.parquet(lookupPath)
      .select(col("card_id"), col("ucl").cast("double"), col("score").cast("int"),
        col("postcode").cast("int"), col("transaction_dt"))
      .as[CardLookup]
    val zipBc = graft.geo.Geo.broadcastZipMap(spark, zipCsv)
    val query = FraudStream.run(spark, broker, topic, snapshot, zipBc,
      masterPath, checkpoint, cfg).start()
    query.awaitTermination()
  }
}
