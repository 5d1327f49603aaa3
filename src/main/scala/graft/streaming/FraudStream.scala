package graft.streaming

import graft.functions.GeoFunctions
import graft.model._
import graft.rules.Rules
import graft.sources.Sources
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** The speed layer (SURVEY §2.9, EP2): Kafka JSON transactions → per-card
  * stateful classification → labeled master append.
  *
  * The reference does a per-record HBase Get + Put with a fresh connection
  * each time (HBaseTransLink.java:33,59) and collects every micro-batch to
  * the driver (FinFraudGuard.java:89) — both replaced here by keyed state in
  * `flatMapGroupsWithState`: state lives in the state store partitioned by
  * card_id, is seeded once from the batch lookup snapshot (initial-state
  * overload), and no per-record network calls or driver round-trips remain.
  * At 1000 executors this is the difference between O(records) HBase RPCs
  * per second and zero.
  */
object FraudStream {

  /** Mutable per-card state: (ucl, score) owned by the batch layer, (postcode,
    * lastTsMillis) owned by the stream — the dual-writer column split of
    * SURVEY §3 EP3 (README.md:244,282 vs HBaseTransLink.java:76-81).
    */
  final case class CardState(
      ucl: Option[Double],
      score: Option[Int],
      postcode: Option[Int],
      lastTsMillis: Option[Long],
  )

  /** Kafka JSON payload schema (TransFraudModel.java:9-25). */
  val payloadSchema: StructType = StructType(Seq(
    StructField("card_id", LongType),
    StructField("member_id", LongType),
    StructField("amount", DoubleType),
    StructField("pos_id", LongType),
    StructField("postcode", IntegerType),
    StructField("transaction_dt", StringType),
  ))

  /** Strict timestamp parse in UTC; None on failure (the reference throws a
    * swallowed ParseException — FinFraudGuard.java:76 inside the try at :70).
    * Formatters are cached per thread — SimpleDateFormat is neither
    * thread-safe nor cheap to construct, and this sits on the per-record
    * streaming path.
    */
  private val formatters =
    new ThreadLocal[scala.collection.mutable.HashMap[String, java.text.SimpleDateFormat]] {
      override def initialValue() = scala.collection.mutable.HashMap.empty
    }

  def parseMillis(s: String, fmt: String): Option[Long] = {
    if (fmt == "dd-MM-yyyy HH:mm:ss" && s != null) {
      val fast = parseDayFirstFast(s)
      if (fast ne None) return fast
      // canonical-layout miss: fall through to SimpleDateFormat so the
      // accept-set (1-digit fields, trailing text, exotic years) is
      // byte-identical with the slow path
    }
    try {
      val sdf = formatters.get().getOrElseUpdate(fmt, {
        val f = new java.text.SimpleDateFormat(fmt)
        f.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
        f.setLenient(false)
        f
      })
      Option(s).map(v => sdf.parse(v).getTime)
    } catch { case _: java.text.ParseException => None }
  }

  /** Allocation-free parse of exactly `dd-MM-yyyy HH:mm:ss` (2-digit fields,
    * exact separators, years 1900–2100): ~10× cheaper than SimpleDateFormat,
    * which sits on the per-record streaming path. Returns None for ANYTHING
    * else — including strings SDF would accept (1-digit fields, trailing
    * characters) and pre-Gregorian years where SDF's hybrid calendar and
    * java.time's proleptic one disagree — so the caller's SDF fallback keeps
    * semantics identical.
    */
  private def parseDayFirstFast(s: String): Option[Long] = {
    if (s.length != 19 || s.charAt(2) != '-' || s.charAt(5) != '-' ||
      s.charAt(10) != ' ' || s.charAt(13) != ':' || s.charAt(16) != ':') return None
    def d2(i: Int): Int = {
      val a = s.charAt(i) - '0'
      val b = s.charAt(i + 1) - '0'
      if (a < 0 || a > 9 || b < 0 || b > 9) -1 else a * 10 + b
    }
    val da = d2(0); val mo = d2(3); val y = d2(6) * 100 + d2(8)
    val h = d2(11); val mi = d2(14); val se = d2(17)
    if (da < 0 || mo < 0 || d2(6) < 0 || d2(8) < 0 || h < 0 || mi < 0 || se < 0) return None
    if (y < 1900 || y > 2100) return None
    try Some(java.time.LocalDateTime.of(y, mo, da, h, mi, se)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
    catch { case _: java.time.DateTimeException => None }
  }

  /** Pure per-card fold: processes one card's transactions in event-time
    * order against the current state; returns labeled rows + final state.
    * Shared by the streaming (flatMapGroupsWithState) and batch-replay
    * (flatMapGroups) paths so both are tested by the same oracle.
    *
    * Semantics (FinFraudGuard.java:68-88; SURVEY §7.1):
    *  - rules: score < threshold, amount > ucl, speed > threshold — each
    *    abstains when its inputs are missing (first-ever card ⇒ GENUINE
    *    unless score/UCL fire);
    *  - speed needs both zips known, both timestamps parsed, Δt > 0;
    *  - only GENUINE advances (postcode, lastTs) (HBaseTransLink.java:76-81);
    *  - within a batch, per-card ordering is by parsed event time, not
    *    arrival (SURVEY §7.5.1); unparseable timestamps sort last.
    */
  def processCard(
      initial: CardState,
      txns: Seq[Transaction],
      zip: Map[String, (Double, Double)],
      cfg: FraudConfig,
  ): (Seq[LabeledTransaction], CardState) = {
    var st = initial
    // parse once per txn (shared by the sort key and the speed rule)
    val ordered = txns
      .map(t => (t, parseMillis(t.transaction_dt, cfg.streamTsFormat)))
      .sortBy { case (t, m) => (m.getOrElse(Long.MaxValue), t.pos_id) }
    val out = ordered.map { case (t, tsM) =>
      def lookupZip(pc: Int): Option[(Double, Double)] = zip.get(pc.toString) match {
        case None if cfg.unknownZip == UnknownZipPolicy.Fail =>
          throw new IllegalArgumentException(s"unknown postcode $pc")
        case other => other
      }
      val speed: Option[Double] = for {
        prevPc <- st.postcode
        prevTs <- st.lastTsMillis
        curTs <- tsM
        dtSec = (curTs - prevTs) / 1000.0
        if dtSec > 0
        prev <- lookupZip(prevPc)
        cur <- lookupZip(t.postcode)
      } yield GeoFunctions.greatCircleKmScalar(prev._1, prev._2, cur._1, cur._2) / dtSec
      val label = Rules.fraudLabelScalar(st.score, t.amount, st.ucl, speed, cfg)
      // (postcode, lastTs) advance together or not at all — the reference's
      // lookup Put writes both columns atomically (HBaseTransLink.java:76-81).
      // A GENUINE row whose timestamp fails to parse advances neither, so the
      // next speed computation never pairs a location with a timestamp taken
      // from a different transaction, and recovery via stateFromMaster (latest
      // parseable GENUINE row) reconstructs the same state.
      if (label == cfg.genuineLabel && tsM.isDefined)
        st = st.copy(postcode = Some(t.postcode), lastTsMillis = tsM)
      LabeledTransaction(t.card_id, t.member_id, t.amount, t.pos_id, t.postcode, t.transaction_dt, label)
    }
    (out, st)
  }

  /** Lookup snapshot row → initial state (timestamps in the snapshot carry
    * the batch format — FDProcBatch.txt:289).
    */
  def seedState(l: CardLookup, cfg: FraudConfig): CardState =
    CardState(l.ucl, l.score, l.postcode,
      l.transaction_dt.flatMap(parseMillis(_, cfg.batchTsFormat)))

  /** K3: the stateful streaming classifier. Works on both streaming and
    * batch Datasets (Spark runs flatMapGroupsWithState in batch mode with
    * the same semantics, which is how StreamingSpec cross-checks it).
    */
  def classify(
      txns: Dataset[Transaction],
      lookupSnapshot: Dataset[CardLookup],
      zipBc: Broadcast[Map[String, (Double, Double)]],
      cfg: FraudConfig = FraudConfig(),
  ): Dataset[LabeledTransaction] = {
    val spark = txns.sparkSession
    import spark.implicits._
    val initial = lookupSnapshot.groupByKey(_.card_id).mapValues(seedState(_, cfg))
    txns.groupByKey(_.card_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout, initial) {
        (cardId: Long, it: Iterator[Transaction], state: GroupState[CardState]) =>
          val st0 = state.getOption.getOrElse(CardState(None, None, None, None))
          val (out, st1) = processCard(st0, it.toSeq, zipBc.value, cfg)
          state.update(st1)
          out.iterator
      }
  }

  /** EP3 restart path: recover the stream's half of the lookup state from
    * the labeled master table — the latest GENUINE row per card is exactly
    * what the state's (postcode, lastTs) would be (only GENUINE advances
    * them, HBaseTransLink.java:76-81). Feed the result to
    * `FraudBatch.mergeLookup` with a fresh batch snapshot to seed
    * `classify` after a restart.
    */
  def stateFromMaster(master: DataFrame, cfg: FraudConfig = FraudConfig()): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("card_id")
      .orderBy(unix_timestamp(col("transaction_dt"), cfg.streamTsFormat).desc, col("pos_id").desc)
    master.filter(col("status") === cfg.genuineLabel)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("card_id"),
        lit(null).cast("double").as("ucl"),
        lit(null).cast("int").as("score"),
        col("postcode"),
        // master rows carry the stream's day-first format; the merged
        // snapshot is uniformly batch-formatted (fork §0 normalization)
        date_format(to_timestamp(col("transaction_dt"), cfg.streamTsFormat), cfg.batchTsFormat)
          .as("transaction_dt"),
      )
  }

  /** K2/F7: decode the Kafka value column (JSON string) into transactions.
    * Undecodable payloads are dropped — the reference swallows the Jackson
    * parse exception and skips the record (FinFraudGuard.java:62-65 inside
    * the try at :70).
    */
  def decode(raw: DataFrame): Dataset[Transaction] = {
    val spark = raw.sparkSession
    import spark.implicits._
    raw.select(from_json(col("value").cast(StringType), payloadSchema).as("t"))
      .filter(col("t").isNotNull && col("t.card_id").isNotNull)
      .select("t.*").as[Transaction]
  }

  /** S13→K3→K4/S11: full streaming job wiring — Kafka source, classify,
    * foreachBatch master-append, on [[runFrom]]'s trigger (the reference
    * polls a fixed 1 s clock, FinFraudGuard.java:41; spec fork §0 says 5s)
    * and state store.
    */
  def run(
      spark: SparkSession,
      brokers: String,
      topic: String,
      lookupSnapshot: Dataset[CardLookup],
      zipBc: Broadcast[Map[String, (Double, Double)]],
      masterPath: String,
      checkpoint: String,
      cfg: FraudConfig = FraudConfig(),
  ): DataStreamWriter[LabeledTransaction] = {
    val raw = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()
    runFrom(raw, lookupSnapshot, zipBc, masterPath, checkpoint, cfg)
  }

  /** Source-agnostic deploy wiring: everything [[run]] does after the Kafka
    * source — decode, stateful classify, foreachBatch master-append. Split
    * out so the e2e path (the writer the production job starts) is testable
    * behind any streaming source carrying a `value` column; FileStreamSpec
    * drives it with a file source since the sandbox has no broker.
    *
    * No processing-time trigger: the next micro-batch starts as soon as the
    * previous one commits and input is waiting, so a swipe waits on average
    * half a batch, not half a second, for its batch to start. Under backlog
    * nothing changes; batches already run back to back.
    *
    * The per-card state lives in the store the session's
    * `spark.sql.streaming.stateStore.providerClass` names: Spark's default
    * in-heap store, or `RocksDBStateStoreProvider` to keep a key space past
    * the heap off-heap (BENCH_STREAM.md). The classifier is the same on
    * both; a restart keeps the store its checkpoint recorded.
    */
  def runFrom(
      raw: DataFrame,
      lookupSnapshot: Dataset[CardLookup],
      zipBc: Broadcast[Map[String, (Double, Double)]],
      masterPath: String,
      checkpoint: String,
      cfg: FraudConfig = FraudConfig(),
  ): DataStreamWriter[LabeledTransaction] =
    classify(decode(raw), lookupSnapshot, zipBc, cfg)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[LabeledTransaction], batchId: Long) =>
        // idempotent under foreachBatch's at-least-once replay (ADVICE r1):
        // deterministic rowid + per-batchId overwrite, not uuid + append
        Sources.appendMasterBatch(batch.toDF(), masterPath, batchId)
      }
}
