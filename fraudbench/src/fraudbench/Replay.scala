package fraudbench

import fraudbench.Gen.{Row, Swipe}

/** The checkers: plain Scala, written from the rules as documented and
  * sharing no code with the program (no FraudStream, FraudBatch, Rules or
  * GeoFunctions), so a fault in the program cannot hide in its own oracle.
  */
object Replay {

  /** One lookup row: (ucl, score) belong to the batch layer, (postcode, time)
    * to the stream.
    */
  final case class Lookup(ucl: Option[Double], score: Option[Int], postcode: Option[Int], tsSec: Option[Long])

  val ScoreLimit = 200
  val SpeedLimitKmPerS = 0.25
  val EarthKm = 6371.0

  /** Newest first: event time descending, then pos_id descending. */
  private def newestFirst(rows: Seq[Row]): Seq[Row] =
    rows.sortBy(r => (-r.tsSec, -r.posId))

  /** Mean + 3 population standard deviations of a card's last ten GENUINE
    * amounts.
    */
  def ucl(rows: Seq[Row]): Option[Double] = {
    val last = newestFirst(rows.filter(_.genuine)).take(10).map(_.amount)
    if (last.isEmpty) None
    else {
      val mean = last.sum / last.length
      val variance = last.map(a => (a - mean) * (a - mean)).sum / last.length
      Some(mean + 3 * math.sqrt(variance))
    }
  }

  /** The batch lookup: UCL over the last ten genuine rows, score through the
    * card's member, latest (postcode, time) over all rows; a card needs all
    * three to get a row.
    */
  def batchLookup(history: Seq[Row], memberOf: Map[Long, Long], scoreOf: Map[Long, Int]): Map[Long, Lookup] =
    history.groupBy(_.cardId).toSeq.flatMap { case (card, rows) =>
      val latest = newestFirst(rows).head
      for {
        u <- ucl(rows)
        m <- memberOf.get(card)
        s <- scoreOf.get(m)
      } yield card -> Lookup(Some(u), Some(s), Some(latest.postcode), Some(latest.tsSec))
    }.toMap

  /** The stream's half after a restart: the newest GENUINE master row. */
  def streamState(master: Seq[Row]): Map[Long, (Int, Long)] =
    master.filter(_.genuine).groupBy(_.cardId).map { case (card, rows) =>
      val r = newestFirst(rows).head
      card -> ((r.postcode, r.tsSec))
    }

  /** Merge by column ownership: ucl and score from the batch, postcode and
    * time from the stream, each falling back to the other side's row.
    */
  def merge(batch: Map[Long, Lookup], stream: Map[Long, (Int, Long)]): Map[Long, Lookup] =
    (batch.keySet ++ stream.keySet).iterator.map { card =>
      val b = batch.get(card)
      val s = stream.get(card)
      card -> Lookup(
        b.flatMap(_.ucl),
        b.flatMap(_.score),
        s.map(_._1).orElse(b.flatMap(_.postcode)),
        s.map(_._2).orElse(b.flatMap(_.tsSec)),
      )
    }.toMap

  /** Spherical law of cosines on degrees; the same point is exactly 0 km. */
  def km(a: (Double, Double), b: (Double, Double)): Double =
    if (a == b) 0.0
    else {
      val (p1, l1) = (a._1 * math.Pi / 180, a._2 * math.Pi / 180)
      val (p2, l2) = (b._1 * math.Pi / 180, b._2 * math.Pi / 180)
      val c = math.sin(p1) * math.sin(p2) + math.cos(p1) * math.cos(p2) * math.cos(l1 - l2)
      math.acos(math.max(-1.0, math.min(1.0, c))) * EarthKm
    }

  /** How the replay decided, for the mix report. */
  final case class Mix(swipes: Int, fraud: Int, byScore: Int, byUcl: Int, bySpeed: Int,
      speedAbstained: Int, newCards: Int)

  /** Sequential replay of the three rules over all swipes ordered by event
    * time then pos_id. A rule abstains when an input is missing; speed needs
    * a known previous (postcode, time), both zips in the map and a positive
    * time gap; only a GENUINE swipe moves the card's (postcode, time).
    * Returns pos_id -> label.
    */
  def labels(seed: Map[Long, Lookup], swipes: Seq[Swipe], zip: Map[Int, (Double, Double)]): (Map[Long, String], Mix) = {
    val st = scala.collection.mutable.Map.empty[Long, Lookup] ++ seed
    var fraud, byScore, byUcl, bySpeed, abstained, fresh = 0
    val out = swipes.sortBy(s => (s.tsSec, s.posId)).map { s =>
      val cur = st.getOrElse(s.cardId, { fresh += 1; Lookup(None, None, None, None) })
      val speed = for {
        pc <- cur.postcode
        ts <- cur.tsSec
        if s.tsSec > ts
        from <- zip.get(pc)
        to <- zip.get(s.postcode)
      } yield km(from, to) / (s.tsSec - ts).toDouble
      val scoreFires = cur.score.exists(_ < ScoreLimit)
      val uclFires = cur.ucl.exists(s.amount > _)
      val speedFires = speed.exists(_ > SpeedLimitKmPerS)
      if (scoreFires) byScore += 1
      if (uclFires) byUcl += 1
      if (speedFires) bySpeed += 1
      if (speed.isEmpty) abstained += 1
      val isFraud = scoreFires || uclFires || speedFires
      if (isFraud) fraud += 1
      else st(s.cardId) = cur.copy(postcode = Some(s.postcode), tsSec = Some(s.tsSec))
      s.posId -> (if (isFraud) "FRAUD" else "GENUINE")
    }
    (out.toMap, Mix(swipes.length, fraud, byScore, byUcl, bySpeed, abstained, fresh))
  }

  /** Every swipe sent has exactly one master row, carrying the replay's
    * label, and the master holds nothing else. `got` is (pos_id, label) per
    * master row. Returns the problems found (empty when correct).
    */
  def checkMaster(expected: Map[Long, String], got: Seq[(Long, String)]): Seq[String] = {
    val byPos = got.groupBy(_._1)
    val dup = byPos.collect { case (p, rs) if rs.length > 1 => s"pos_id $p has ${rs.length} master rows" }
    val missing = expected.keys.filterNot(byPos.contains).map(p => s"pos_id $p has no master row")
    val extra = byPos.keys.filterNot(expected.contains).map(p => s"master row for unsent pos_id $p")
    val wrong = byPos.collect {
      case (p, rs) if expected.get(p).exists(e => rs.exists(_._2 != e)) =>
        s"pos_id $p labelled ${rs.map(_._2).mkString("/")}, replay says ${expected(p)}"
    }
    (dup ++ missing ++ extra ++ wrong).toSeq.sorted
  }

  /** Compares a written lookup snapshot with the expected one. UCLs agree to
    * a relative 1e-9 (the program sums in another order); everything else
    * exactly.
    */
  def checkLookup(expected: Map[Long, Lookup], got: Seq[(Long, Lookup)]): Seq[String] = {
    val byCard = got.groupBy(_._1)
    val dup = byCard.collect { case (c, rs) if rs.length > 1 => s"card $c has ${rs.length} rows" }
    val missing = expected.keys.filterNot(byCard.contains).map(c => s"card $c missing")
    val extra = byCard.keys.filterNot(expected.contains).map(c => s"unexpected card $c")
    def close(a: Option[Double], b: Option[Double]) = (a, b) match {
      case (Some(x), Some(y)) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
      case _ => a == b
    }
    val wrong = byCard.toSeq.flatMap { case (c, rs) =>
      expected.get(c).toSeq.flatMap { e =>
        val g = rs.head._2
        if (close(g.ucl, e.ucl) && g.score == e.score && g.postcode == e.postcode && g.tsSec == e.tsSec) Nil
        else Seq(s"card $c: got $g, expected $e")
      }
    }
    (dup ++ missing ++ extra ++ wrong).toSeq.sorted
  }
}
