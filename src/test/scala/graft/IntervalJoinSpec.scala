package graft

import graft.plans.{BroadcastIntervalJoinExec, IntervalJoinStrategy}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The custom broadcast interval-index join (plans.IntervalJoinStrategy +
  * BroadcastIntervalJoinExec): plan substitution, result equivalence with
  * the BNLJ plan it replaces, boundary/null/NaN semantics, overlapping
  * intervals, and the bail-out paths (non-matching condition shapes).
  */
class IntervalJoinSpec extends SparkSuite {
  import spark.implicits._

  private def withStrategy[T](f: => T): T = {
    val prev = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = Seq(IntervalJoinStrategy) ++ prev
    try f finally spark.experimental.extraStrategies = prev
  }

  private def bands: DataFrame = (0 until 10)
    .map(i => (i.toLong, i * 11000.0, (i + 1) * 11000.0))
    .toDF("band_id", "lo", "hi")

  private def joinOn(li: DataFrame, b: DataFrame): DataFrame =
    li.join(b, li("l_extendedprice") >= b("lo") && li("l_extendedprice") < b("hi"))

  test("strategy plans the band join as BroadcastIntervalJoinExec, result equals BNLJ") {
    val li = Tables(spark, sf("sf0.001"), "lineitem")
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
    val expected = joinOn(li, bands)
      .groupBy("band_id").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    withStrategy {
      val joined = joinOn(li, bands)
      val plan = joined.queryExecution.executedPlan
      assert(plan.exists(_.isInstanceOf[BroadcastIntervalJoinExec]),
        plan.toString.take(800))
      assert(!plan.toString.contains("BroadcastNestedLoopJoin"))
      val got = joined.groupBy("band_id").agg(count(lit(1)).as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected)
    }
  }

  test("boundary inclusivity, overlap, null and NaN semantics match the default plan") {
    val points = Seq(
      Some(0.0), Some(5.0), Some(10.0), Some(-1.0), Some(25.0), Some(30.0),
      None, Some(Double.NaN),
    ).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("pid", "v").select($"pid", $"v".cast("double").as("v"))
    // overlapping + degenerate (empty) + null-bound intervals
    val ivs = Seq(
      (1L, Some(0.0), Some(10.0)),   // [0,10)
      (2L, Some(5.0), Some(30.0)),   // overlaps 1
      (3L, Some(10.0), Some(10.0)),  // empty under [lo, hi)
      (4L, None, Some(50.0)),        // null lo -> never matches
      (5L, Some(20.0), None),        // null hi -> never matches
    ).toDF("iid", "lo", "hi")
      .select($"iid", $"lo".cast("double").as("lo"), $"hi".cast("double").as("hi"))
    def run(): Set[(Long, Long)] =
      points.join(ivs, $"v" >= $"lo" && $"v" < $"hi")
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = run()
    val got = withStrategy {
      val joined = points.join(ivs, $"v" >= $"lo" && $"v" < $"hi")
      assert(joined.queryExecution.executedPlan
        .exists(_.isInstanceOf[BroadcastIntervalJoinExec]))
      run()
    }
    assert(got == expected)
    // sanity on the fixture itself: point 5 hits both overlapping intervals
    assert(got.contains((1L, 1L)) && got.contains((1L, 2L)))
    // 10.0 excluded from [0,10) but included in [5,30)
    assert(!got.contains((2L, 1L)) && got.contains((2L, 2L)))
  }

  test("closed-interval (BETWEEN) inclusivity plans and matches") {
    val points = Seq((1L, 10.0), (2L, 10.5), (3L, 20.0), (4L, 20.5)).toDF("pid", "v")
    val ivs = Seq((7L, 10.0, 20.0)).toDF("iid", "lo", "hi")
      .select($"iid", $"lo".cast("double").as("lo"), $"hi".cast("double").as("hi"))
    withStrategy {
      val joined = points.join(ivs, $"v".between($"lo", $"hi"))
      assert(joined.queryExecution.executedPlan
        .exists(_.isInstanceOf[BroadcastIntervalJoinExec]))
      val got = joined.select("pid").collect().map(_.getLong(0)).toSet
      assert(got == Set(1L, 2L, 3L))
    }
  }

  test("property: random adversarial intervals/points equal the BNLJ result") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // discrete value pool maximizes boundary collisions; includes the
    // degenerate doubles the index must not mis-prune on
    val pool = Seq(-1.0 / 0.0, -5.0, -1.0, 0.0, 0.5, 1.0, 1.5, 2.0, 3.0,
      5.0, 1.0 / 0.0, 0.0 / 0.0)
    val dGen = Gen.oneOf(pool)
    val gen = for {
      nP <- Gen.choose(1, 25)
      nI <- Gen.choose(1, 25)
      ps <- Gen.listOfN(nP, dGen)
      los <- Gen.listOfN(nI, dGen)
      his <- Gen.listOfN(nI, dGen) // independent of lo: inverted/empty intervals occur
    } yield (ps, los.zip(his))
    val prop = Prop.forAll(gen) { case (ps, ivs) =>
      val points = ps.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("pid", "v")
      val intervals = ivs.zipWithIndex.map { case ((l, h), i) => (i.toLong, l, h) }
        .toDF("iid", "lo", "hi")
      def pairs(df: DataFrame) = df.select("pid", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val cond = $"v" >= $"lo" && $"v" < $"hi"
      val expected = pairs(points.join(intervals, cond))
      withStrategy {
        val joined = points.join(intervals, cond)
        // plan-shape assert only when neither side is empty: shrinking
        // reaches empty lists (bypassing the generator minimum), where
        // PropagateEmptyRelation folds the join away before planning
        val planned = ps.isEmpty || ivs.isEmpty ||
          joined.queryExecution.executedPlan
            .exists(_.isInstanceOf[BroadcastIntervalJoinExec])
        planned && pairs(joined) == expected
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("respects explicit join-strategy hints") {
    val a = Seq((1L, 5.0), (2L, 15.0)).toDF("id", "v")
    val b = Seq((1L, 0.0, 10.0), (2L, 10.0, 20.0)).toDF("id2", "lo", "hi")
    val cond = $"v" >= $"lo" && $"v" < $"hi"
    withStrategy {
      // an explicit non-broadcast strategy hint on the dim side wins: the
      // user steered planning, the custom strategy must back off
      val merged = a.join(b.hint("merge"), cond)
      assert(!merged.queryExecution.executedPlan
        .exists(_.isInstanceOf[BroadcastIntervalJoinExec]), "merge hint ignored")
      assert(merged.count() == 2)
      // a broadcast hint on the dim side is an explicit request for the
      // broadcast shape: substitution happens even when the stats estimate
      // exceeds autoBroadcastJoinThreshold
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val unhinted = a.join(b, cond)
        assert(!unhinted.queryExecution.executedPlan
          .exists(_.isInstanceOf[BroadcastIntervalJoinExec]), "threshold ignored")
        val hinted = a.join(broadcast(b), cond)
        assert(hinted.queryExecution.executedPlan
          .exists(_.isInstanceOf[BroadcastIntervalJoinExec]), "broadcast hint ignored")
        assert(hinted.count() == 2)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("execution-time collect caps fail fast instead of OOMing the driver") {
    val a = Seq((1L, 5.0)).toDF("id", "v")
    val b = (0 until 100).map(i => (i.toLong, i * 1.0, i * 1.0 + 1.0)).toDF("iid", "lo", "hi")
    withStrategy {
      for ((key, cap, msg) <- Seq(
          ("spark.graft.intervalJoin.maxBroadcastRows", "10", "cannot broadcast 100"),
          ("spark.graft.intervalJoin.maxBroadcastBytes", "100", "exceeds 100 bytes"))) {
        spark.conf.set(key, cap)
        try {
          val joined = a.join(b, $"v" >= $"lo" && $"v" < $"hi")
          assert(joined.queryExecution.executedPlan
            .exists(_.isInstanceOf[BroadcastIntervalJoinExec]))
          val e = intercept[Exception](joined.count())
          def msgs(t: Throwable): Seq[String] =
            Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
          assert(msgs(e).exists(_.contains(msg)), e.toString)
        } finally spark.conf.unset(key)
      }
    }
  }

  test("bails out to default planning for non-band shapes") {
    val a = Seq((1L, 5.0)).toDF("id", "v")
    val b = Seq((1L, 0.0, 10.0)).toDF("id2", "lo", "hi")
    withStrategy {
      // one-sided condition: not a band
      val oneSided = a.join(b, $"v" >= $"lo")
      assert(!oneSided.queryExecution.executedPlan
        .exists(_.isInstanceOf[BroadcastIntervalJoinExec]))
      // non-double band: long point with long bounds
      val c = Seq((1L, 5L)).toDF("id", "k")
      val d = Seq((1L, 0L, 10L)).toDF("id2", "klo", "khi")
      val nonDouble = c.join(d, $"k" >= $"klo" && $"k" < $"khi")
      assert(!nonDouble.queryExecution.executedPlan
        .exists(_.isInstanceOf[BroadcastIntervalJoinExec]))
      // kill switch
      spark.conf.set("spark.graft.intervalJoin.enabled", "false")
      try {
        val off = a.join(b, $"v" >= $"lo" && $"v" < $"hi")
        assert(!off.queryExecution.executedPlan
          .exists(_.isInstanceOf[BroadcastIntervalJoinExec]))
      } finally spark.conf.unset("spark.graft.intervalJoin.enabled")
    }
  }
}
