package fraudbench

import fraudbench.Gen.{Row, Swipe}
import fraudbench.Replay.Lookup

/** Tests of the checkers themselves: each gets the right answer on small
  * hand-made cases, and rejects a wrong answer. Run by
  * `python3 fraudbench/run.py --self-test`; exits 1 on any failure.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Exception => System.err.println(e); false }
    if (!pass) failures += 1
    println(s"${if (pass) "ok  " else "FAIL"} $name")
  }

  // three zips: 10000 and 10001 are 1.1 km apart, 10002 is ~4000 km away
  private val zip = Map(10000 -> (40.0, -100.0), 10001 -> (40.01, -100.0), 10002 -> (40.0, -53.0))
  private val t0 = 1700000000L

  private def swipe(card: Long, pos: Long, dollars: Double, pc: Int, ts: Long) =
    Swipe(card, card, math.round(dollars * 100), pos, pc, ts)

  private def label(seed: Map[Long, Lookup], ss: Swipe*) = Replay.labels(seed, ss, zip)._1

  private val known = Lookup(Some(100.0), Some(500), Some(10000), Some(t0))

  def main(args: Array[String]): Unit = {
    check("replay: a habitual swipe is GENUINE") {
      label(Map(1L -> known), swipe(1, 1, 50, 10000, t0 + 3600))(1) == "GENUINE"
    }
    check("replay: score < 200 fires") {
      label(Map(1L -> known.copy(score = Some(199))), swipe(1, 1, 50, 10000, t0 + 3600))(1) == "FRAUD"
    }
    check("replay: amount > UCL fires, amount = UCL does not") {
      val l = label(Map(1L -> known), swipe(1, 1, 100.01, 10000, t0 + 3600), swipe(1, 2, 100.0, 10000, t0 + 7200))
      l(1) == "FRAUD" && l(2) == "GENUINE"
    }
    check("replay: speed > 0.25 km/s fires, a slower trip does not") {
      // ~4000 km in 1 h is ~1.1 km/s; 1.1 km in 1 h is 0.0003 km/s
      label(Map(1L -> known), swipe(1, 1, 50, 10002, t0 + 3600))(1) == "FRAUD" &&
        label(Map(1L -> known), swipe(1, 1, 50, 10001, t0 + 3600))(1) == "GENUINE"
    }
    check("replay: a card with no lookup row abstains on every rule") {
      val l = label(Map.empty, swipe(7, 1, 1e6, 10000, t0), swipe(7, 2, 1e6, 10002, t0 + 1))
      // first swipe: nothing to compare with; second: speed has a previous
      // swipe 1 s before and ~4000 km away, so it fires
      l(1) == "GENUINE" && l(2) == "FRAUD"
    }
    check("replay: an unknown postcode makes speed abstain") {
      label(Map(1L -> known), swipe(1, 1, 50, 99999, t0 + 1))(1) == "GENUINE"
    }
    check("replay: only GENUINE advances the card's location and time") {
      // the far swipe is FRAUD and must not move the card, so the home swipe
      // right after it is GENUINE; if FRAUD had moved it, speed would fire
      val l = label(Map(1L -> known), swipe(1, 1, 50, 10002, t0 + 60), swipe(1, 2, 50, 10000, t0 + 120))
      l(1) == "FRAUD" && l(2) == "GENUINE"
    }
    check("replay: order is event time, then pos_id, not arrival") {
      // the near swipe arrives first but is later in event time; replayed in
      // arrival order the far one would see a negative gap and abstain
      val l = label(Map(1L -> known), swipe(1, 2, 50, 10001, t0 + 120), swipe(1, 1, 50, 10002, t0 + 60))
      val tie = label(Map(1L -> known), swipe(1, 9, 50, 10002, t0 + 60), swipe(1, 8, 50, 10001, t0 + 60))
      // at equal times pos 8 (near) goes first; pos 9 then has dt = 0 and abstains
      l(1) == "FRAUD" && l(2) == "GENUINE" && tie(8) == "GENUINE" && tie(9) == "GENUINE"
    }

    val expected = Map(1L -> "GENUINE", 2L -> "FRAUD")
    check("master check: accepts exactly one row per swipe with its label") {
      Replay.checkMaster(expected, Seq(1L -> "GENUINE", 2L -> "FRAUD")).isEmpty
    }
    check("master check: rejects a wrong label") {
      Replay.checkMaster(expected, Seq(1L -> "GENUINE", 2L -> "GENUINE")).nonEmpty
    }
    check("master check: rejects a missing, a duplicated and an unsent row") {
      Replay.checkMaster(expected, Seq(1L -> "GENUINE")).nonEmpty &&
        Replay.checkMaster(expected, Seq(1L -> "GENUINE", 2L -> "FRAUD", 2L -> "FRAUD")).nonEmpty &&
        Replay.checkMaster(expected, Seq(1L -> "GENUINE", 2L -> "FRAUD", 3L -> "GENUINE")).nonEmpty
    }

    // card 1: twelve GENUINE rows and a newer FRAUD one; pos 2 and pos 3
    // share the timestamp at the cut, so pos_id decides which is tenth
    def row(pos: Long, cents: Long, ts: Long, genuine: Boolean = true, pc: Int = 10000) =
      Row(1L, 11L, cents, pc, pos, ts, genuine)
    val hist = Seq(row(1, 1000, t0 - 900), row(2, 2000, t0 - 700), row(3, 3000, t0 - 700)) ++
      (4 to 12).map(i => row(i, 1000L * i, t0 - 700 + i)) :+ row(13, 99900, t0, genuine = false, pc = 10002)
    check("UCL: mean + 3 population sd over the last ten GENUINE, ties by pos_id") {
      // newest first: pos 12..4, then pos 3 (not 2) at the tie; FRAUD skipped
      val ten = (4 to 12).map(_ * 10.0) :+ 30.0
      val mean = ten.sum / 10
      val sd = math.sqrt(ten.map(a => (a - mean) * (a - mean)).sum / 10)
      Replay.ucl(hist).exists(u => math.abs(u - (mean + 3 * sd)) < 1e-9)
    }
    val batch = Replay.batchLookup(hist, Map(1L -> 11L), Map(11L -> 650))
    check("lookup: latest location is the newest row of any status") {
      batch(1L).postcode.contains(10002) && batch(1L).tsSec.contains(t0) && batch(1L).score.contains(650)
    }
    val master = Seq(Row(1L, 11L, 500, 10001, 20, t0 + 50, genuine = true),
      Row(1L, 11L, 500, 10002, 21, t0 + 60, genuine = false),
      Row(2L, 12L, 500, 10001, 22, t0 + 70, genuine = true))
    val merged = Replay.merge(batch, Replay.streamState(master))
    check("merge: ucl and score from the batch, location from the newest GENUINE master row") {
      merged(1L) == Lookup(batch(1L).ucl, Some(650), Some(10001), Some(t0 + 50)) &&
        merged(2L) == Lookup(None, None, Some(10001), Some(t0 + 70))
    }
    val got = merged.toSeq
    check("lookup check: accepts the expected snapshot") { Replay.checkLookup(merged, got).isEmpty }
    check("lookup check: rejects a UCL off by one part in a million") {
      Replay.checkLookup(merged, got.map { case (c, l) => c -> l.copy(ucl = l.ucl.map(_ * (1 + 1e-6))) }).nonEmpty
    }
    check("lookup check: rejects the batch's location where the stream owns it") {
      Replay.checkLookup(merged, got.map {
        case (1L, l) => 1L -> l.copy(postcode = batch(1L).postcode, tsSec = batch(1L).tsSec)
        case o => o
      }).nonEmpty
    }
    check("lookup check: rejects a wrong score, a missing card and an extra card") {
      Replay.checkLookup(merged, got.map { case (c, l) => c -> l.copy(score = l.score.map(_ + 1)) }).nonEmpty &&
        Replay.checkLookup(merged, got.filter(_._1 != 2L)).nonEmpty &&
        Replay.checkLookup(merged, got :+ (3L -> Lookup(None, None, None, None))).nonEmpty
    }

    println(if (failures == 0) "all checker tests passed" else s"$failures checker tests failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
