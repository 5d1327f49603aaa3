package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session profiles as pure conf lists: no session is started. */
class GraftSessionSpec extends AnyFunSuite {

  private def confs(profile: String, env: (String, String)*) =
    GraftSession.confs(profile, env.toMap).toMap

  private val fallback = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  test("bench carries the aggregate fallback threshold and the scan open cost") {
    assert(confs("bench") == Map(
      "spark.master" -> "local[32]", "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.functions.GraftExtensions",
      fallback -> "8192", "spark.sql.files.openCostInBytes" -> "524288",
      "spark.ui.enabled" -> "false"))
    val c = confs("bench", "SPARK_GRAFT_CPUS" -> "8", "SPARK_GRAFT_OPEN_COST" -> "1048576")
    assert(c("spark.master") == "local[8]" && c("spark.sql.shuffle.partitions") == "8")
    assert(c("spark.sql.files.openCostInBytes") == "1048576")
  }

  test("verify and test keep Spark's fallback threshold so that path stays exercised") {
    for (p <- Seq("verify", "test")) {
      assert(!confs(p).contains(fallback), p)
      assert(!confs(p).contains("spark.sql.files.openCostInBytes"), p)
    }
    assert(confs("verify") == Map(
      "spark.master" -> "local[4]", "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.functions.GraftExtensions",
      "spark.ui.enabled" -> "false"))
  }

  test("a bad SPARK_GRAFT_OPEN_COST, SPARK_GRAFT_CPUS or SPARK_GRAFT_REPS fails with a message naming it") {
    def profile(p: String): Map[String, String] => Any = GraftSession.confs(p, _)
    val bad = Seq("512k", "0", "-1", "").map(("bench", profile("bench"), "SPARK_GRAFT_OPEN_COST", _)) ++
      Seq("4x", "*", "0", "-2", "", "2147483648").flatMap(v =>
        Seq("bench", "verify").map(p => (p, profile(p), "SPARK_GRAFT_CPUS", v))) ++
      Seq("two", "0", "-1", "", "2147483648").map(("Bench", Bench.reps _, "SPARK_GRAFT_REPS", _))
    for ((reader, read, name, v) <- bad) {
      val e = intercept[IllegalArgumentException](read(Map(name -> v)))
      assert(e.getMessage.contains(name), s"$reader $name=$v")
    }
  }

  test("job leaves master, partitions and the state store to the deployer") {
    val j = confs("job")
    assert(!j.contains("spark.master") && !j.contains("spark.sql.shuffle.partitions"))
    assert(!j.contains("spark.sql.streaming.stateStore.providerClass"))
  }

  test("an unknown profile is rejected") {
    intercept[IllegalArgumentException](GraftSession.confs("prod", Map.empty))
  }

  test("stream job state partitions: the deployer's value wins, else default parallelism") {
    assert(FraudStreamJob.statePartitions(Some("12"), 4) == "12")
    assert(FraudStreamJob.statePartitions(None, 4) == "4")
  }
}
