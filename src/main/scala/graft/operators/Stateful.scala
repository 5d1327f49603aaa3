package graft.operators

import graft.{GraftQuery, Tables}
import graft.model.{CardLookup, FraudConfig, Transaction}
import graft.streaming.FraudStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** K3 — the keyed mutable read-modify-write classifier — exposed through the
  * driver's query surface by replaying `events` as a transaction stream in
  * batch mode (flatMapGroupsWithState has identical semantics on a batch
  * Dataset). The per-card fold is order-dependent (only GENUINE advances the
  * location/time state); plain SQL cannot express it, but a RECURSIVE CTE
  * can — [[statefulOracleSql]] steps the (postcode, lastTs) state one rank
  * at a time per card, exactly mirroring `FraudStream.processCard`, so the
  * driver's DuckDB gate hash-checks the fold instead of recording rows-only.
  * StreamingSpec additionally pins the semantics on hand-computed scenarios.
  */
object Stateful {

  /** Sequential-replay oracle for [[queries q_stateful_classify]].
    *
    * Faithfulness notes vs the Scala fold:
    *  - ts_s = floor(epoch(ts)): `date_format(ts, streamTsFormat)` truncates
    *    to seconds and `parseMillis` reparses in UTC, so the parsed millis
    *    are exactly ts_s * 1000 (session timezone is UTC, all fixture years
    *    parse on the fast path); Δt(sec) = ts_s - st_ts.
    *  - per-card order = (ts_s, pos_id), the fold's (parsed millis, pos_id);
    *  - score = CAST(trunc(c_acctbal) AS INT): DuckDB's double→int cast
    *    rounds where Spark truncates;
    *  - the speed disjunct is COALESCE(speed > thr, FALSE): an abstaining
    *    rule must not leave `fires` NULL, or the state-advance CASE would
    *    keep the old state where the fold advances on GENUINE;
    *  - the zip grid covers postcodes 0–99 ONLY (the Spark side's zip map
    *    domain): outside it `lookupZip` returns None and the speed rule
    *    abstains, so the oracle guards both endpoints with BETWEEN 0 AND 99
    *    instead of extrapolating the grid formula;
    *  - only GENUINE rows advance (st_pc, st_ts) — FRAUD keeps the previous
    *    state, the anchor row starts from the all-null seed (the lookup
    *    snapshot's stream half is null: postcode/transaction_dt seed as None).
    */
  private val statefulOracleSql: String = {
    val gc = Relational.greatCircleSql("r_plat", "r_plon", "b_lat", "b_lon")
    s"""WITH RECURSIVE
       |uclt AS (${Relational.uclSql}),
       |base AS (
       |  SELECT t.card_id, t.pos_id, t.amount, t.pc, t.ts_s, u.ucl,
       |    CAST(trunc(c.c_acctbal) AS INTEGER) AS score,
       |    row_number() OVER (PARTITION BY t.card_id ORDER BY t.ts_s, t.pos_id) AS rn
       |  FROM (
       |    SELECT user_id AS card_id, event_id AS pos_id, value AS amount,
       |      CAST(json_extract_string(props, '$$.k') AS INTEGER) AS pc,
       |      CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
       |    FROM events
       |  ) t
       |  LEFT JOIN uclt u ON u.user_id = t.card_id
       |  LEFT JOIN customer c ON c.c_custkey = t.card_id
       |),
       |lab AS (
       |  SELECT card_id, rn, pos_id, amount, pc, ts_s, ucl, score,
       |    CASE WHEN (score IS NOT NULL AND score < 200) OR (ucl IS NOT NULL AND amount > ucl)
       |         THEN 'FRAUD' ELSE 'GENUINE' END AS status,
       |    CASE WHEN (score IS NOT NULL AND score < 200) OR (ucl IS NOT NULL AND amount > ucl)
       |         THEN NULL ELSE pc END AS st_pc,
       |    CASE WHEN (score IS NOT NULL AND score < 200) OR (ucl IS NOT NULL AND amount > ucl)
       |         THEN NULL ELSE ts_s END AS st_ts
       |  FROM base WHERE rn = 1
       |  UNION ALL
       |  SELECT card_id, rn, pos_id, amount, pc, ts_s, ucl, score,
       |    CASE WHEN fires THEN 'FRAUD' ELSE 'GENUINE' END AS status,
       |    CASE WHEN fires THEN st_pc ELSE pc END AS st_pc,
       |    CASE WHEN fires THEN st_ts ELSE ts_s END AS st_ts
       |  FROM (
       |    SELECT b.card_id, b.rn, b.pos_id, b.amount, b.pc, b.ts_s, b.ucl, b.score,
       |      r.st_pc, r.st_ts,
       |      ((b.score IS NOT NULL AND b.score < 200) OR
       |       (b.ucl IS NOT NULL AND b.amount > b.ucl) OR
       |       COALESCE(
       |         (CASE WHEN r.st_pc IS NOT NULL AND r.st_ts IS NOT NULL AND b.ts_s > r.st_ts
       |                AND r.st_pc BETWEEN 0 AND 99 AND b.pc BETWEEN 0 AND 99
       |               THEN ($gc) / CAST(b.ts_s - r.st_ts AS DOUBLE)
       |               ELSE NULL END) > 0.25, FALSE)) AS fires
       |    FROM (
       |      SELECT r0.*,
       |        (CAST(r0.st_pc * 37 % 140 - 70 AS DOUBLE) + 0.5) AS r_plat,
       |        (CAST(r0.st_pc * 73 % 340 - 170 AS DOUBLE) + 0.25) AS r_plon
       |      FROM lab r0
       |    ) r
       |    JOIN (
       |      SELECT b0.*,
       |        (CAST(b0.pc * 37 % 140 - 70 AS DOUBLE) + 0.5) AS b_lat,
       |        (CAST(b0.pc * 73 % 340 - 170 AS DOUBLE) + 0.25) AS b_lon
       |      FROM base b0
       |    ) b ON b.card_id = r.card_id AND b.rn = r.rn + 1
       |  )
       |)
       |SELECT card_id, pos_id, amount, status FROM lab ORDER BY pos_id""".stripMargin
  }

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery(
      "q_stateful_classify",
      (s, dir) => {
        import s.implicits._
        val cfg = FraudConfig()
        val e = Tables(s, dir, "events")
        val k = get_json_object(col("props"), "$.k").cast(IntegerType)
        // events → Transaction: user=card, value=amount, payload k=postcode,
        // streaming day-first timestamp format (FinFraudGuard.java:76)
        val txns = e.select(
          col("user_id").as("card_id"),
          col("user_id").as("member_id"),
          col("value").as("amount"),
          col("event_id").as("pos_id"),
          k.as("postcode"),
          date_format(col("ts"), "dd-MM-yyyy HH:mm:ss").as("transaction_dt"),
        ).as[Transaction]
        // zip dimension analog: every payload k is a "zip" on the same
        // deterministic grid as Relational.withCoords
        val zipBc = s.sparkContext.broadcast(Relational.zipGrid)
        // seed state: ucl from the batch layer (last-10 stats), score from the
        // customer dimension — the EP3 dual-writer split
        val ucl = Relational.uclPerUserPublic(e)
        val score = Tables(s, dir, "customer")
          .select(col("c_custkey").as("card_id"), col("c_acctbal").cast(IntegerType).as("score"))
        val snapshot = ucl.withColumnRenamed("user_id", "card_id")
          .join(score, Seq("card_id"), "left")
          .select(
            col("card_id"),
            col("ucl"),
            col("score"),
            lit(null).cast(IntegerType).as("postcode"),
            lit(null).cast("string").as("transaction_dt"),
          ).as[CardLookup]
        FraudStream.classify(txns, snapshot, zipBc, cfg)
          .toDF()
          .select("card_id", "pos_id", "amount", "status")
          .orderBy("pos_id")
      },
      oracle = Some(statefulOracleSql),
    ),
  )
}
