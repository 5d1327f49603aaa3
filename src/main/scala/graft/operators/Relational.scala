package graft.operators

import graft.{GraftQuery, Tables}
import graft.rules.Rules
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType}

/** Core relational operator suite, mirroring the reference's batch layer
  * (SURVEY.md §2) re-expressed over the driver's TPC-H-ish fixtures.
  *
  * The reference computes, per card: UCL = mean + 3σ of the last 10 genuine
  * transaction amounts (FDProcBatch.txt:279-310), the latest location/time
  * (FDProcBatch.txt:322-333), a credit score via an equi-join
  * (FDProcBatch.txt:262-267), and labels each transaction with a 3-rule
  * disjunction `score < 200 OR amount > ucl OR speed > 0.25 km/s`
  * (FinFraudGuard.java:82-83). Here `events` plays the transaction log
  * (user_id = card, value = amount, ts = transaction_dt), `customer` plays
  * the member-score dimension (c_acctbal = score), and a deterministic
  * pseudo-geography derived from the event's JSON payload plays the zip
  * dimension (GeoGraudData.csv).
  *
  * Scale notes (100 TB design): every query is fully declarative DataFrame
  * DSL so Catalyst pushes filters/projections into the parquet scan; the
  * score dimension is broadcast (J1); per-key windows shuffle once on the
  * partition key and all downstream per-key ops reuse that partitioning.
  * Large double sums go through exact DECIMAL accumulation (order-insensitive,
  * so results are reproducible across any partitioning/AQE decisions) and
  * only the final value is cast back to DOUBLE.
  */
object Relational {

  // ---- shared helpers ------------------------------------------------------

  /** Exact, partitioning-independent sum of a double expression: accumulate as
    * DECIMAL (associative & exact), emit DOUBLE. At 100 TB the partial-agg
    * order is nondeterministic; plain double sums would differ run to run.
    */
  private def exactSum(c: Column): Column =
    sum(c.cast(DecimalType(30, 6))).cast(DoubleType)

  /** Cross-engine-deterministic rounding. Spark's `round` converts the double
    * to decimal via its shortest string representation while DuckDB rounds the
    * binary value — at exact half-boundaries (common when inputs have 2
    * decimals) they disagree. `floor(x·10^s + 0.5)/10^s` is the same IEEE op
    * sequence in both engines.
    */
  private def roundAt(c: Column, scale: Int): Column = {
    val p = math.pow(10.0, scale)
    floor(c * lit(p) + lit(0.5)) / lit(p)
  }

  /** Great-circle distance — see graft.functions.GeoFunctions.greatCircleKm. */
  private def greatCircleKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    graft.functions.GeoFunctions.greatCircleKm(lat1, lon1, lat2, lon2)

  /** SQL rendering of [[greatCircleKm]] for the DuckDB oracle. */
  private[operators] def greatCircleSql(lat1: String, lon1: String, lat2: String, lon2: String): String =
    s"""CASE WHEN $lat1 = $lat2 AND $lon1 = $lon2 THEN 0.0
       | ELSE acos(least(1.0, greatest(-1.0,
       |   sin(radians($lat1)) * sin(radians($lat2)) +
       |   cos(radians($lat1)) * cos(radians($lat2)) * cos(radians($lon1 - $lon2))))) * 6371.0
       | END""".stripMargin

  /** Deterministic pseudo-geography for the speed rule: the event payload's
    * integer `k` (F7 JSON decode, TransFraudModel.java:9-25 analog) maps to a
    * unique (lat, lon) grid point — 37 is coprime to 140 so distinct k give
    * distinct latitudes, keeping the distance formula away from its acos(1)
    * singularity for distinct points.
    */
  private def withCoords(e: DataFrame): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast(IntegerType)
    e.withColumn("k", k)
      .withColumn("lat", (k * 37 % 140 - 70).cast(DoubleType) + lit(0.5))
      .withColumn("lon", (k * 73 % 340 - 170).cast(DoubleType) + lit(0.25))
  }

  /** [[withCoords]]'s grid as the zip map the streaming classifier takes:
    * payload k = 0..99 → (lat, lon). */
  val zipGrid: Map[String, (Double, Double)] = (0 until 100).map { k =>
    k.toString -> ((k * 37 % 140 - 70) + 0.5, (k * 73 % 340 - 170) + 0.25)
  }.toMap

  private[operators] val coordsSql =
    """SELECT *,
      |  CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) * 37 % 140 - 70 AS DOUBLE) + 0.5 AS lat,
      |  CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) * 73 % 340 - 170 AS DOUBLE) + 0.25 AS lon
      |FROM events""".stripMargin

  /** Per-user UCL over the 10 most recent events (W1 + A1 fused:
    * FDProcBatch.txt:279-310). Population σ matches Hive's STDDEV per SURVEY
    * §2.4 A1, derived from exact decimal moments (sum, sum-of-squares) so the
    * result is bit-identical regardless of partial-aggregation order — at
    * cluster scale a plain double `stddev` differs run to run in the low bits.
    */
  private def uclPerUser(e: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    val m = e.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .groupBy("user_id")
      .agg(
        sum(col("value").cast(DecimalType(30, 10))).cast(DoubleType).as("s"),
        sum((col("value") * col("value")).cast(DecimalType(30, 10))).cast(DoubleType).as("s2"),
        count(lit(1)).as("n_used"),
      )
    val mean = col("s") / col("n_used")
    val sd = sqrt(greatest(lit(0.0), col("s2") / col("n_used") - (col("s") / col("n_used")) * (col("s") / col("n_used"))))
    m.select(col("user_id"), roundAt(mean + lit(3) * sd, 4).as("ucl"), col("n_used"))
  }

  /** Public accessor for the UCL stage (used by Stateful's snapshot seed). */
  def uclPerUserPublic(e: DataFrame): DataFrame = uclPerUser(e)

  private[operators] val uclSql =
    """SELECT user_id,
      |  floor((s / n_used + 3 * sqrt(greatest(0.0, s2 / n_used - (s / n_used) * (s / n_used)))) * 1e4 + 0.5) / 1e4 AS ucl,
      |  n_used
      |FROM (
      |  SELECT user_id,
      |    CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS s,
      |    CAST(sum(CAST(value * value AS DECIMAL(30,10))) AS DOUBLE) AS s2,
      |    count(*) AS n_used
      |  FROM (
      |    SELECT user_id, value,
      |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events
      |  ) WHERE rn <= 10
      |  GROUP BY user_id
      |)""".stripMargin

  /** The fully-enriched fraud frame (location, Δt, speed, UCL, score, label)
    * that q_fraud_rules projects from; also the feature source for the MLlib
    * layer (graft.ml.FraudScorer).
    */
  def fraudEnriched(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "events")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val located = withCoords(e)
      .withColumn("prev_lat", lag("lat", 1).over(w))
      .withColumn("prev_lon", lag("lon", 1).over(w))
      .withColumn("dt_s", col("ts").cast(DoubleType) - lag(col("ts").cast(DoubleType), 1).over(w))
    val speed = when(col("dt_s") > 0,
      greatCircleKm(col("prev_lat"), col("prev_lon"), col("lat"), col("lon")) / col("dt_s"))
    val ucl = uclPerUser(e).select("user_id", "ucl")
    val score = Tables(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_acctbal").as("score"))
    located
      .withColumn("speed_kms", speed)
      .join(ucl, Seq("user_id"), "left")
      .join(broadcast(score), Seq("user_id"), "left")
      .withColumn("label",
        Rules.fraudLabel(col("score"), col("value"), col("ucl"), col("speed_kms")))
  }

  // ---- queries -------------------------------------------------------------

  val queries: Seq[GraftQuery] = Seq(
    // S4/P1: projection + filter; both reach the parquet scan (PushedFilters).
    GraftQuery(
      "q_scan_project",
      (s, dir) => {
        Tables(s, dir, "lineitem")
          .filter(col("l_returnflag") === "R")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
             |FROM lineitem WHERE l_returnflag = 'R'
             |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    ),

    // P2: the status='GENUINE' filter analog (FDProcBatch.txt:291).
    GraftQuery(
      "q_filter_status",
      (s, dir) => {
        Tables(s, dir, "events")
          .filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "value")
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, value FROM events
             |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin),
    ),

    // A1+W1 fused: the flagship batch slice — UCL per key over last-10 rows
    // (FDProcBatch.txt:279-310).
    GraftQuery(
      "q_agg_ucl",
      (s, dir) => uclPerUser(Tables(s, dir, "events")).orderBy("user_id"),
      Some(uclSql + "\nORDER BY user_id"),
    ),

    // W1/P3: top-K-per-group via row_number ≤ 10 (FDProcBatch.txt:279-293).
    GraftQuery(
      "q_topk_per_key",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
        Tables(s, dir, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
          .select("user_id", "rn", "event_id", "value")
          .orderBy("user_id", "rn")
      },
      Some("""SELECT user_id, rn, event_id, value FROM (
             |  SELECT user_id, event_id, value,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events
             |) WHERE rn <= 10 ORDER BY user_id, rn""".stripMargin),
    ),

    // W2/P4: latest-per-group rn = 1 (FDProcBatch.txt:322-333).
    GraftQuery(
      "q_latest_per_key",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
        // ts emitted as a canonical string: raw timestamp columns read back
        // tz-aware from Spark parquet but naive from DuckDB, which a
        // value-compare harness can see as different values
        Tables(s, dir, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"), col("value"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str, value FROM (
             |  SELECT user_id, event_id, ts, value,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events
             |) WHERE rn = 1 ORDER BY user_id""".stripMargin),
    ),

    // A2/W3: 10-row trailing frame (README.md:204-213 variant of the UCL).
    GraftQuery(
      "q_sliding_stats",
      (s, dir) => {
        // Exact decimal moments per frame, then identical double math on both
        // sides — windowed double stddev differs from DuckDB's at rounding
        // boundaries (engine-specific accumulation order).
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(-9, Window.currentRow)
        val withMoments = Tables(s, dir, "events")
          .select(
            col("event_id"), col("user_id"),
            sum(col("value").cast(DecimalType(30, 10))).over(w).cast(DoubleType).as("s"),
            sum((col("value") * col("value")).cast(DecimalType(30, 10))).over(w).cast(DoubleType).as("s2"),
            count(lit(1)).over(w).as("n"),
          )
        val mean = col("s") / col("n")
        val sd = sqrt(greatest(lit(0.0), col("s2") / col("n") - (col("s") / col("n")) * (col("s") / col("n"))))
        withMoments
          .select(
            col("event_id"), col("user_id"),
            roundAt(mean, 4).as("trailing_avg"),
            roundAt(sd, 4).as("trailing_sd"),
          )
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |  floor((s / n) * 1e4 + 0.5) / 1e4 AS trailing_avg,
             |  floor(sqrt(greatest(0.0, s2 / n - (s / n) * (s / n))) * 1e4 + 0.5) / 1e4 AS trailing_sd
             |FROM (
             |  SELECT event_id, user_id,
             |    CAST(sum(CAST(value AS DECIMAL(30,10))) OVER w AS DOUBLE) AS s,
             |    CAST(sum(CAST(value * value AS DECIMAL(30,10))) OVER w AS DOUBLE) AS s2,
             |    count(*) OVER w AS n
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
             |)
             |ORDER BY event_id""".stripMargin),
    ),

    // J1: equi-join fact→dimension (FDProcBatch.txt:262-267); dimension side
    // broadcast as member_score would be.
    GraftQuery(
      "q_join_score",
      (s, dir) => {
        val orders = Tables(s, dir, "orders")
        val cust = Tables(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        orders.join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(
            count(lit(1)).as("n_orders"),
            exactSum(col("o_totalprice")).as("total_price"),
          )
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment,
             |  count(*) AS n_orders,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total_price
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    ),

    // J2: multi-way join assembling a wide fact (FDProcBatch.txt:345-354).
    // Partial aggregation is pushed BELOW the join by hand (Catalyst doesn't
    // do this rewrite): lineitem collapses to one row per order key first, so
    // the join input shrinks ~4× and the post-join aggregate sums
    // pre-aggregated decimals — exact because decimal addition is
    // associative, and the win grows with the fact table (at 32× data this
    // halves the sort-merge join's probe side).
    GraftQuery(
      "q_join_3way",
      (s, dir) => {
        val liAgg = Tables(s, dir, "lineitem")
          .groupBy("l_orderkey")
          .agg(
            count(lit(1)).as("pn"),
            sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(DecimalType(30, 6)))
              .as("prev"),
          )
        val orders = Tables(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus")
        val cust = Tables(s, dir, "customer").select("c_custkey", "c_mktsegment")
        liAgg.join(orders, liAgg("l_orderkey") === orders("o_orderkey"))
          .join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
          .groupBy("c_mktsegment", "o_orderstatus")
          .agg(
            sum(col("pn")).as("n_lines"),
            sum(col("prev")).cast(DoubleType).as("revenue"),
          )
          .orderBy("c_mktsegment", "o_orderstatus")
      },
      Some("""SELECT c_mktsegment, o_orderstatus,
             |  count(*) AS n_lines,
             |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment, o_orderstatus
             |ORDER BY c_mktsegment, o_orderstatus""".stripMargin),
    ),

    // P5/F10: CASE-based relabel during a join (README.md:266-279).
    GraftQuery(
      "q_case_relabel",
      (s, dir) => {
        val orders = Tables(s, dir, "orders")
        val cust = Tables(s, dir, "customer").select("c_custkey", "c_acctbal")
        orders.join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
          .select(
            col("o_orderkey"),
            Rules.scoreRelabel(col("c_acctbal"), col("o_orderstatus")).as("status"),
          )
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |  CASE WHEN c_acctbal < 200 THEN 'Fraudulent' ELSE o_orderstatus END AS status
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |ORDER BY o_orderkey""".stripMargin),
    ),

    // F1/F2: timestamp parse round-trip — epoch seconds (batch format) and the
    // streaming layer's day-first dd-MM-yyyy format (FinFraudGuard.java:76).
    GraftQuery(
      "q_ts_parse",
      (s, dir) => {
        val e = Tables(s, dir, "events")
        val dayFirst = date_format(col("ts"), "dd-MM-yyyy HH:mm:ss")
        e.select(
          col("event_id"),
          unix_timestamp(col("ts")).as("epoch_s"),
          dayFirst.as("ts_dayfirst"),
          unix_timestamp(dayFirst, "dd-MM-yyyy HH:mm:ss").as("epoch_reparsed"),
        ).orderBy("event_id")
      },
      Some("""SELECT event_id,
             |  CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
             |  strftime(ts, '%d-%m-%Y %H:%M:%S') AS ts_dayfirst,
             |  CAST(floor(epoch(strptime(strftime(ts, '%d-%m-%Y %H:%M:%S'), '%d-%m-%Y %H:%M:%S'))) AS BIGINT) AS epoch_reparsed
             |FROM events ORDER BY event_id""".stripMargin),
    ),

    // F3/F8: regexp_replace + printf-style formatting
    // (FDProcBatch.txt:125, TransFraudModel.java:57-59).
    GraftQuery(
      "q_string_fns",
      (s, dir) => {
        Tables(s, dir, "events")
          .select(
            col("event_id"),
            regexp_replace(col("props"), "[{}\" ]", "").as("props_clean"),
            format_string("%d,%s,%d", col("event_id"), col("event_type"), col("user_id")).as("line"),
            concat_ws("|", col("event_type"), col("user_id")).as("joined"),
          )
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
             |  regexp_replace(props, '[{}" ]', '', 'g') AS props_clean,
             |  printf('%d,%s,%d', event_id, event_type, user_id) AS line,
             |  concat_ws('|', event_type, user_id) AS joined
             |FROM events ORDER BY event_id""".stripMargin),
    ),

    // F4 analog: content-derived row id (the verifiable twin of the
    // reference's uuid() row keys, FDProcBatch.txt:123-133 — uuid() itself is
    // exposed in Sinks.appendWithUuid but can't hash-match an oracle).
    GraftQuery(
      "q_rowid",
      (s, dir) => {
        Tables(s, dir, "events")
          .select(
            md5(concat_ws("|", col("event_id"), col("user_id"), col("event_type"))).as("rowid"),
            col("event_id"),
          )
          .orderBy("event_id")
      },
      Some("""SELECT md5(concat_ws('|', event_id, user_id, event_type)) AS rowid, event_id
             |FROM events ORDER BY event_id""".stripMargin),
    ),

    // Global sort + limit (top-k overall; deterministic tie-break).
    GraftQuery(
      "q_sort_limit",
      (s, dir) => {
        Tables(s, dir, "events")
          .select("event_id", "user_id", "value")
          .orderBy(col("value").desc, col("event_id"))
          .limit(100)
      },
      Some("""SELECT event_id, user_id, value FROM events
             |ORDER BY value DESC, event_id LIMIT 100""".stripMargin),
    ),

    // Set operations (free from Spark; §2.7).
    GraftQuery(
      "q_set_ops",
      (s, dir) => {
        val s_ = s
        import s_.implicits._
        val e = Tables(s, dir, "events")
        val buyers = e.filter($"event_type" === "purchase").select("user_id")
        val erroring = e.filter($"event_type" === "error").select("user_id")
        val i = buyers.intersect(erroring).agg(count(lit(1)).as("n"))
          .select(lit("intersect").as("op"), $"n")
        val x = buyers.except(erroring).agg(count(lit(1)).as("n"))
          .select(lit("except").as("op"), $"n")
        val u = buyers.union(erroring).distinct().agg(count(lit(1)).as("n"))
          .select(lit("union").as("op"), $"n")
        i.union(x).union(u).orderBy("op")
      },
      Some("""SELECT 'intersect' AS op, count(*) AS n FROM (
             |  SELECT user_id FROM events WHERE event_type='purchase'
             |  INTERSECT SELECT user_id FROM events WHERE event_type='error')
             |UNION ALL
             |SELECT 'except', count(*) FROM (
             |  SELECT user_id FROM events WHERE event_type='purchase'
             |  EXCEPT SELECT user_id FROM events WHERE event_type='error')
             |UNION ALL
             |SELECT 'union', count(*) FROM (
             |  SELECT user_id FROM events WHERE event_type='purchase'
             |  UNION SELECT user_id FROM events WHERE event_type='error')
             |ORDER BY op""".stripMargin),
    ),

    // F5: great-circle distance between consecutive per-key locations
    // (FraudDistMetric.java:69-78 law of cosines, R=6371).
    GraftQuery(
      "q_distance",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val e = withCoords(Tables(s, dir, "events"))
          .withColumn("prev_lat", lag("lat", 1).over(w))
          .withColumn("prev_lon", lag("lon", 1).over(w))
        e.select(
          col("event_id"), col("user_id"),
          roundAt(greatCircleKm(col("prev_lat"), col("prev_lon"), col("lat"), col("lon")), 4)
            .as("dist_km"),
        ).orderBy("event_id")
      },
      Some(s"""WITH located AS ($coordsSql),
              |seq AS (
              |  SELECT event_id, user_id, lat, lon,
              |    lag(lat) OVER w AS prev_lat, lag(lon) OVER w AS prev_lon
              |  FROM located
              |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
              |)
              |SELECT event_id, user_id,
              |  floor((${greatCircleSql("prev_lat", "prev_lon", "lat", "lon")}) * 1e4 + 0.5) / 1e4 AS dist_km
              |FROM seq ORDER BY event_id""".stripMargin),
    ),

    // F6/K6: speed between consecutive events; Δt ≤ 0 or missing prior ⇒ NULL
    // (the "speed rule abstains" policy, SURVEY §7.1).
    GraftQuery(
      "q_speed",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val e = withCoords(Tables(s, dir, "events"))
          .withColumn("prev_lat", lag("lat", 1).over(w))
          .withColumn("prev_lon", lag("lon", 1).over(w))
          .withColumn("dt_s", col("ts").cast(DoubleType) - lag(col("ts").cast(DoubleType), 1).over(w))
        val dist = greatCircleKm(col("prev_lat"), col("prev_lon"), col("lat"), col("lon"))
        e.select(
          col("event_id"), col("user_id"),
          roundAt(col("dt_s"), 6).as("dt_s"),
          roundAt(when(col("dt_s") > 0, dist / col("dt_s")), 6).as("speed_kms"),
        ).orderBy("event_id")
      },
      Some(s"""WITH located AS ($coordsSql),
              |seq AS (
              |  SELECT event_id, user_id, lat, lon,
              |    lag(lat) OVER w AS prev_lat, lag(lon) OVER w AS prev_lon,
              |    epoch(ts) - lag(epoch(ts)) OVER w AS dt_s
              |  FROM located
              |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
              |)
              |SELECT event_id, user_id,
              |  floor(dt_s * 1e6 + 0.5) / 1e6 AS dt_s,
              |  floor((CASE WHEN dt_s > 0
              |    THEN ${greatCircleSql("prev_lat", "prev_lon", "lat", "lon")} / dt_s
              |    END) * 1e6 + 0.5) / 1e6 AS speed_kms
              |FROM seq ORDER BY event_id""".stripMargin),
    ),

    // P6 flagship: the full 3-rule fraud disjunction with abstention
    // semantics — score < 200 OR amount > UCL OR speed > 0.25 km/s
    // (FinFraudGuard.java:82-83), batch-mode re-expression of EP2.
    GraftQuery(
      "q_fraud_rules",
      (s, dir) => fraudEnriched(s, dir)
        .select("event_id", "user_id", "value", "label")
        .orderBy("event_id"),
      Some(s"""WITH located AS ($coordsSql),
              |seq AS (
              |  SELECT event_id, user_id, value, lat, lon,
              |    lag(lat) OVER w AS prev_lat, lag(lon) OVER w AS prev_lon,
              |    epoch(ts) - lag(epoch(ts)) OVER w AS dt_s
              |  FROM located
              |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
              |),
              |speeds AS (
              |  SELECT *, CASE WHEN dt_s > 0
              |    THEN ${greatCircleSql("prev_lat", "prev_lon", "lat", "lon")} / dt_s
              |    END AS speed_kms
              |  FROM seq
              |),
              |ucl AS ($uclSql)
              |SELECT s.event_id, s.user_id, s.value,
              |  CASE WHEN (c.c_acctbal IS NOT NULL AND c.c_acctbal < 200)
              |         OR (u.ucl IS NOT NULL AND s.value > u.ucl)
              |         OR (s.speed_kms IS NOT NULL AND s.speed_kms > 0.25)
              |    THEN 'FRAUD' ELSE 'GENUINE' END AS label
              |FROM speeds s
              |LEFT JOIN ucl u ON s.user_id = u.user_id
              |LEFT JOIN customer c ON s.user_id = c.c_custkey
              |ORDER BY s.event_id""".stripMargin),
    ),
  )
}
