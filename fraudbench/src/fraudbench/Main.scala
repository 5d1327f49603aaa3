package fraudbench

/** One benchmark run in one JVM: build the session, run the workload, print
  * its outcome as the last stdout line (prefixed `FRAUDBENCH `), and in a
  * traced run write the spans and listener events to `<work>/trace.json`.
  * run.py launches it; see README.md.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val spark = Common.session(a)
    Common.log(f"session ready at ${Common.sinceLaunchS(a)}%.1f s")
    val spans = new Spans
    val probe = if (a.trace) Some(new EngineProbe(spark)) else None
    val outcome = a.workload match {
      case "swipe_stream" => SwipeStream.run(a, spark, spans, probe)
      case "lookup_refresh" => LookupRefresh.run(a, spark, spans, probe)
      case "query_mix" => QueryMix.run(a, spark, spans, probe, a.data)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    if (a.trace) Common.writeFile(s"${a.work}/trace.json", spans.toJson)
    spark.stop()
    println("FRAUDBENCH " + Common.toJson(outcome))
  }
}

/** The short session build.py records the class-data archive from: a small
  * lookup build and snapshot round trip, which loads the CSV, window, join,
  * parquet and codegen classes every workload uses.
  */
object ClassArchive {
  def main(argv: Array[String]): Unit = {
    val a = Args("class_archive", seed = 0L, seconds = 1, trace = false, work = argv(0),
      launchedAtMs = Common.nowMs, cores = 3, partitions = 3, rate = 1, data = "")
    val spark = Common.session(a)
    val r = new java.util.SplittableRandom(0L)
    val zips = Gen.zips(r, 10)
    val cards = Gen.cards(r, 100, zips, lowScore = 0.1)
    Gen.writeHistoryCsv(s"${a.work}/history.csv", Gen.history(r, cards, 5, zips, 0L))
    Gen.writeCardMemberCsv(s"${a.work}/card_member.csv", cards)
    Gen.writeMemberScoreCsv(s"${a.work}/member_score.csv", cards)
    val in = LookupRefresh.Inputs(s"${a.work}/history.csv", s"${a.work}/card_member.csv",
      s"${a.work}/member_score.csv", s"${a.work}/lookup", s"${a.work}/lookup2")
    graft.sources.Sources.overwriteSnapshot(graft.batch.FraudBatch.lookupPipeline(
      graft.sources.Sources.readTransactionsCsv(spark, in.history),
      spark.read.schema(graft.sources.Sources.cardMemberSchema).option("header", "true").csv(in.cardMember),
      spark.read.schema(graft.sources.Sources.memberScoreSchema).option("header", "true").csv(in.memberScore)),
      in.master)
    spark.read.parquet(in.master).write.format("noop").mode("overwrite").save()
    spark.stop()
  }
}
