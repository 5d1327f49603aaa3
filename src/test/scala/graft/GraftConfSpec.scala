package graft

import graft.plans.BroadcastIntervalJoinExec

/** The graft session knobs ([[GraftConf]]): a bad value fails naming its
  * key, both when a session is built and when the knob is read; a `graft.`
  * key that GraftConf does not declare is rejected. */
class GraftConfSpec extends SparkSuite {
  import spark.implicits._

  /** (key, a value it accepts, a value it rejects), one row per knob. */
  private val knobs = Seq(
    ("spark.graft.copurchase.forcePath", "prefilter", "prefliter"),
    ("spark.graft.materialize", "persist", "cache"),
    ("spark.graft.intervalJoin.enabled", "TRUE", "yes"),
    ("spark.graft.intervalJoin.maxBroadcastRows", "10", "64m"),
    ("spark.graft.intervalJoin.maxBroadcastBytes", "100", "0"))

  test("the table covers every declared knob") {
    assert(knobs.map(_._1).toSet == GraftConf.knobs.map(_.key).toSet)
  }

  test("a bad value fails naming the key, at session build and at the read") {
    for ((key, good, bad) <- knobs) {
      GraftConf.check(key, good)
      val e = intercept[IllegalArgumentException](GraftSession.build("test", Seq(key -> bad)))
      assert(e.getMessage.contains(key) && e.getMessage.contains(bad), key)
      val knob = GraftConf.knobs.find(_.key == key).get
      spark.conf.set(key, bad)
      try {
        val r = intercept[IllegalArgumentException](knob.get(spark))
        assert(r.getMessage.contains(key), key)
      } finally spark.conf.unset(key)
    }
  }

  test("an undeclared or bare graft key is rejected at session build; other keys pass") {
    for (key <- Seq("spark.graft.copurchase.plainColdMax", "spark.graft.scan.fanOutMax",
        "spark.graft.intervalJoin.enable", "graft.copurchase.forcePath",
        "graft.hindex.gcPerFold")) {
      val e = intercept[IllegalArgumentException](GraftSession.build("test", Seq(key -> "1")))
      assert(e.getMessage.contains(key), key)
    }
    GraftConf.check("spark.sql.shuffle.partitions", "8")
  }

  test("intervalJoin.enabled is case-insensitive: TRUE plans the interval join") {
    val key = GraftConf.IntervalJoinEnabled.key
    val a = Seq((1L, 5.0)).toDF("id", "v")
    val b = Seq((1L, 0.0, 10.0)).toDF("iid", "lo", "hi")
    for ((v, on) <- Seq("TRUE" -> true, "False" -> false)) {
      spark.conf.set(key, v)
      try assert(a.join(b, $"v" >= $"lo" && $"v" < $"hi").queryExecution.executedPlan
        .exists(_.isInstanceOf[BroadcastIntervalJoinExec]) == on, v)
      finally spark.conf.unset(key)
    }
  }
}
