package fraudbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** Seeded input generator. Every input the program sees is made here from
  * the run's seed; amounts are whole cents so the CSV/JSON text and the
  * checkers' doubles denote the same values.
  */
object Gen {
  final case class Zip(code: Int, lat: Double, lon: Double)
  final case class Card(cardId: Long, memberId: Long, score: Int, home: Int, meanCents: Long, sdCents: Long)
  /** One history (or labelled master) row; `genuine` is its status. */
  final case class Row(cardId: Long, memberId: Long, cents: Long, postcode: Int, posId: Long,
      tsSec: Long, genuine: Boolean) {
    def amount: Double = cents / 100.0
  }
  /** One swipe as the stream receives it; `dueMs` is set by the schedule. */
  final case class Swipe(cardId: Long, memberId: Long, cents: Long, posId: Long, postcode: Int, tsSec: Long) {
    def amount: Double = cents / 100.0
  }

  /** Epoch seconds of the newest history row; swipes and master rows follow it. */
  val T0: Long = 1700000000L
  /** Postcode absent from the zip map: the speed rule must abstain on it. */
  val UnknownZip: Int = 99999
  val NewCardBase: Long = 9000000L

  private val batchFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  private val streamFmt = DateTimeFormatter.ofPattern("dd-MM-yyyy HH:mm:ss").withZone(ZoneOffset.UTC)
  def batchTs(sec: Long): String = batchFmt.format(Instant.ofEpochSecond(sec))
  def streamTs(sec: Long): String = streamFmt.format(Instant.ofEpochSecond(sec))
  def money(cents: Long): String = f"${cents / 100}%d.${cents % 100}%02d"

  def zips(r: SplittableRandom, n: Int): IndexedSeq[Zip] =
    (0 until n).map(i => Zip(10000 + i, 25.0 + 24.0 * r.nextDouble(), -124.0 + 57.0 * r.nextDouble()))

  /** `lowScore` of the members score below 200, so the score rule fires on
    * every swipe of their cards.
    */
  def cards(r: SplittableRandom, n: Int, zips: IndexedSeq[Zip], lowScore: Double): IndexedSeq[Card] =
    (0 until n).map { i =>
      val score = if (r.nextDouble() < lowScore) 100 + r.nextInt(100) else 200 + r.nextInt(700)
      val mean = 2000L + r.nextInt(30000)
      Card(1000000L + i, 500000L + i, score, zips(r.nextInt(zips.length)).code, mean, mean / 5 + 1)
    }

  def normalCents(r: SplittableRandom, c: Card): Long = {
    val g = r.nextGaussian()
    math.max(100L, c.meanCents + math.round(g * c.sdCents))
  }

  /** `perCard` history rows per card at minute granularity over the year
    * before T0; one in ten is FRAUD; one in twenty repeats the previous row's
    * timestamp so the pos_id tie-break is exercised. The newest row of a card
    * is a GENUINE swipe at home.
    */
  def history(r: SplittableRandom, cards: IndexedSeq[Card], perCard: Int, zips: IndexedSeq[Zip],
      posBase: Long): IndexedSeq[Row] = {
    var pos = posBase
    cards.flatMap { c =>
      var prevTs = 0L
      (0 until perCard).map { j =>
        pos += 1
        val ts =
          if (j == 0) T0
          else if (r.nextInt(20) == 0) prevTs
          else T0 - 60L * (1 + r.nextInt(525600))
        prevTs = ts
        val genuine = j == 0 || r.nextInt(10) != 0
        val pc = if (j == 0 || r.nextInt(4) != 0) c.home else zips(r.nextInt(zips.length)).code
        Row(c.cardId, c.memberId, normalCents(r, c), pc, pos, ts, genuine)
      }
    }
  }

  /** The swipe mix, in send order; event time rises 10 s per swipe, so every
    * card's swipes arrive in event-time order.
    *  - 1% from cards the lookup has never seen (score and UCL abstain);
    *  - 2.5% spend far above the card's habit (UCL rule);
    *  - 2% are a pair: a swipe at home, then 10 s later one at another zip
    *    (speed rule);
    *  - 5% travel to another zip hours after the card's last swipe;
    *  - 0.5% carry a postcode missing from the zip map (speed abstains);
    *  - the rest are habitual swipes at home. Cards of low-score members
    *    (score rule) take their share of every kind.
    */
  def swipes(r: SplittableRandom, cards: IndexedSeq[Card], zips: IndexedSeq[Zip], n: Int,
      tsBase: Long): IndexedSeq[Swipe] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Swipe]
    def add(c: Card, cents: Long, pc: Int): Unit = {
      val k = out.length
      out += Swipe(c.cardId, c.memberId, cents, 2000000000L + k, pc, tsBase + 10L * k)
    }
    while (out.length < n) {
      val u = r.nextDouble()
      if (u < 0.01) {
        val id = NewCardBase + r.nextInt(200)
        add(Card(id, id, 0, 0, 5000, 1000), 500 + r.nextInt(20000), zips(r.nextInt(zips.length)).code)
      } else {
        val c = cards(r.nextInt(cards.length))
        if (u < 0.035) add(c, c.meanCents + 8 * c.sdCents + 5000 + r.nextInt(5000), c.home)
        else if (u < 0.055) {
          add(c, normalCents(r, c), c.home)
          if (out.length < n) {
            var z = zips(r.nextInt(zips.length)).code
            while (z == c.home) z = zips(r.nextInt(zips.length)).code
            add(c, normalCents(r, c), z)
          }
        } else if (u < 0.105) add(c, normalCents(r, c), zips(r.nextInt(zips.length)).code)
        else if (u < 0.11) add(c, normalCents(r, c), UnknownZip)
        else add(c, normalCents(r, c), c.home)
      }
    }
    out.toIndexedSeq
  }

  def swipeJson(s: Swipe): String =
    s"""{"card_id":${s.cardId},"member_id":${s.memberId},"amount":${money(s.cents)},""" +
      s""""pos_id":${s.posId},"postcode":${s.postcode},"transaction_dt":"${streamTs(s.tsSec)}"}"""

  private def writeLines(path: String, lines: Iterator[String]): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.BufferedWriter(new java.io.FileWriter(f), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  def writeZipCsv(path: String, zips: Seq[Zip]): Unit =
    writeLines(path, zips.iterator.map(z => s"${z.code},${z.lat},${z.lon},City${z.code},ST,P${z.code}"))

  def writeHistoryCsv(path: String, rows: Seq[Row]): Unit =
    writeLines(path, Iterator("card_id,member_id,amount,postcode,pos_id,transaction_dt,status") ++
      rows.iterator.map(h => s"${h.cardId},${h.memberId},${money(h.cents)},${h.postcode},${h.posId}," +
        s"${batchTs(h.tsSec)},${if (h.genuine) "GENUINE" else "FRAUD"}"))

  def writeCardMemberCsv(path: String, cards: Seq[Card]): Unit =
    writeLines(path, Iterator("card_id,member_id,member_joining_dt,card_purchase_dt,country,city") ++
      cards.iterator.map(c => s"${c.cardId},${c.memberId},2015-01-01 00:00:00,2016-01-01 00:00:00,US,City${c.home}"))

  def writeMemberScoreCsv(path: String, cards: Seq[Card]): Unit =
    writeLines(path, Iterator("member_id,score") ++ cards.iterator.map(c => s"${c.memberId},${c.score}"))
}
