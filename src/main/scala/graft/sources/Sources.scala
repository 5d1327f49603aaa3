package graft.sources

import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Readers and sinks mirroring the reference's ingest surface (SURVEY §2.1).
  *
  * Scale notes: every reader declares its schema (no inference pass over
  * 100 TB), CSV options are pushed into the scan, and the JDBC reader pushes
  * the incremental watermark predicate down to the database — the Sqoop
  * `--incremental append` pattern (README.md:81-100) without a second full
  * scan.
  */
object Sources {

  /** SQL identifier allow-list for values interpolated into JDBC pushdown
    * SQL: dot-separated bare identifiers only. Anything else (quotes,
    * spaces, semicolons, parens) is rejected — these strings reach the
    * remote database verbatim, so a permissive accept would make the public
    * reader API injection-prone.
    */
  private val IdentifierRe = "[A-Za-z_][A-Za-z0-9_]*(\\.[A-Za-z_][A-Za-z0-9_]*)*".r

  /** Watermark literals: a plain SQL number or a single-quoted string with
    * no embedded quote. Keeps `lastValue` a data value rather than SQL text.
    */
  private val LiteralRe = "-?[0-9]+(\\.[0-9]+)?|'[^']*'".r

  private def requireMatch(re: scala.util.matching.Regex, kind: String, v: String): String = {
    require(re.pattern.matcher(v).matches(), s"unsafe $kind for JDBC pushdown: '$v'")
    v
  }

  /** card_transactions history schema (FDProcBatch.txt:70-82). */
  val transactionHistorySchema: StructType = StructType(Seq(
    StructField("card_id", LongType),
    StructField("member_id", LongType),
    StructField("amount", DoubleType),
    StructField("postcode", IntegerType),
    StructField("pos_id", LongType),
    StructField("transaction_dt", StringType),
    StructField("status", StringType),
  ))

  /** card_member schema (FDProcBatch.txt:177-187). */
  val cardMemberSchema: StructType = StructType(Seq(
    StructField("card_id", LongType),
    StructField("member_id", LongType),
    StructField("member_joining_dt", StringType),
    StructField("card_purchase_dt", StringType),
    StructField("country", StringType),
    StructField("city", StringType),
  ))

  /** member_score schema (FDProcBatch.txt:190-196). */
  val memberScoreSchema: StructType = StructType(Seq(
    StructField("member_id", LongType),
    StructField("score", IntegerType),
  ))

  /** Zip geo schema — 6 columns, no header (FraudDistMetric.java:41-52). */
  val zipSchema: StructType = StructType(Seq(
    StructField("zip", StringType),
    StructField("lat", DoubleType),
    StructField("lon", DoubleType),
    StructField("city", StringType),
    StructField("state", StringType),
    StructField("post_id", StringType),
  ))

  /** S4: CSV scan with declared schema + header skip (FDProcBatch.txt:70-86). */
  def readTransactionsCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(transactionHistorySchema)
      .option("header", "true").option("delimiter", ",")
      .csv(path)

  /** S5: zip side-input scan; rows with wrong field count dropped like the
    * reference's length-check skip (FraudDistMetric.java:43). Short rows are
    * null-padded by the CSV reader, so the field-count check becomes a
    * null filter on the coordinates and trailing column; rows whose numerics
    * fail to parse are dropped (DROPMALFORMED) rather than aborting the load
    * as the reference would (lenient policy, SURVEY §7.1).
    */
  def readZipCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(zipSchema)
      .option("header", "false").option("mode", "DROPMALFORMED")
      .csv(path)
      .filter(col("zip").isNotNull && col("lat").isNotNull &&
        col("lon").isNotNull && col("post_id").isNotNull)

  /** S1: JDBC full-table ingest (Sqoop import analog, FDProcBatch.txt:13-26).
    * `numPartitions`/`partitionColumn` split the read like Sqoop's mappers.
    */
  def readJdbc(
      spark: SparkSession,
      url: String,
      table: String,
      partitionColumn: Option[String] = None,
      numPartitions: Int = 1,
      bounds: Option[(Long, Long)] = None,
      driver: Option[String] = None,
  ): DataFrame = {
    val base0 = spark.read.format("jdbc")
      .option("url", url).option("dbtable", requireMatch(IdentifierRe, "table name", table))
    val base = driver.fold(base0)(d => base0.option("driver", d))
    val partitioned = (partitionColumn, bounds) match {
      case (Some(c), Some((lo, hi))) =>
        base.option("partitionColumn", c)
          .option("lowerBound", lo).option("upperBound", hi)
          .option("numPartitions", numPartitions)
      case _ => base
    }
    partitioned.load()
  }

  /** S2: incremental ingest — watermark predicate pushed to the source
    * (Sqoop `--incremental append --check-column --last-value`,
    * README.md:81-100). `lastValue` is a SQL literal rendered into the
    * pushed-down predicate (numeric: `"40"`, string/date:
    * `"'2024-01-01'"`) so the comparison keeps the column's type on the
    * database side. Because all three values are interpolated into SQL sent
    * to the remote database, `table`/`checkColumn` must be bare (possibly
    * dot-qualified) identifiers and `lastValue` a number or single-quoted
    * string — anything else throws rather than reaching the database.
    */
  def readJdbcIncremental(
      spark: SparkSession,
      url: String,
      table: String,
      checkColumn: String,
      lastValue: String,
      driver: Option[String] = None,
  ): DataFrame = {
    val t = requireMatch(IdentifierRe, "table name", table)
    val c = requireMatch(IdentifierRe, "check column", checkColumn)
    val v = requireMatch(LiteralRe, "watermark literal", lastValue)
    val base0 = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", s"(SELECT * FROM $t WHERE $c > $v) delta")
    driver.fold(base0)(d => base0.option("driver", d)).load()
  }

  /** JSON-lines reader with declared schema (the Kafka payload format,
    * TransFraudModel.java:9-25, as a file source); undecodable lines yield
    * null fields under the default PERMISSIVE mode.
    */
  def readJsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** JSON-lines writer (interchange format for downstream consumers). */
  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** S8: full-refresh materialization (INSERT OVERWRITE analog,
    * FDProcBatch.txt:123-133).
    */
  def overwriteSnapshot(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** S6: columnar compressed staging write (ORC+Snappy,
    * FDProcBatch.txt:204-241).
    */
  def writeOrcSnappy(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).format("orc")
      .option("compression", "snappy").save(path)

  /** S11: append-only master write under a fresh random row id
    * (HBase Put with UUID key, FDProcBatch.txt:123-133;
    * HBaseTransLink.java:63-73). uuid() spreads writes across partitions
    * exactly as the reference's random row keys spread HBase regions.
    *
    * One-shot batch materializations only: the random rowid makes a re-run
    * append a second copy. Streaming `foreachBatch` sinks (at-least-once
    * replay on failure) must use [[appendMasterBatch]] instead.
    */
  def appendWithUuid(df: DataFrame, path: String): Unit =
    df.withColumn("rowid", regexp_replace(expr("uuid()"), "-", ""))
      .write.mode(SaveMode.Append).parquet(path)

  /** S11 for streaming sinks: idempotent per-micro-batch master write.
    * `foreachBatch` is at-least-once — after a failure the same batchId is
    * replayed — so the write must be a deterministic function of
    * (batchId, rows): the batch lands in its own `batch_id=N` partition
    * directory in Overwrite mode (a replay overwrites the same directory
    * instead of appending a duplicate copy), and the rowid is an md5 of the
    * batch id and the full row content rather than a fresh uuid. Readers of
    * `path` see one extra `batch_id` partition column; partition pruning on
    * it gives per-epoch replay/audit for free.
    *
    * The rowid is a unique key, matching the reference's per-record UUID row
    * keys (HBaseTransLink.java:64): row content is serialized as JSON with
    * nulls kept (a bare `concat_ws` silently skips null columns, so rows
    * differing only in WHICH column is null would collide), and identical
    * rows are told apart by `md5(content # partition # k)`, k counting that
    * content's copies within the partition. Numbering inside the partitions
    * `df` already has lets the write run in the tasks that produce the batch
    * (for the stream, the stateful operator's) with no shuffle to co-locate
    * the copies; the partition index keeps copies in different partitions
    * distinct. So the same rows in the same partitions give the same rowid
    * set (which copy gets k = 1 is immaterial). That holds for a
    * `foreachBatch` over a stateful operator, since the stream's state
    * operator hash-partitions by card over the checkpoint's fixed partition
    * count, and
    * for local relations; one-shot batch writes use [[appendWithUuid]].
    */
  def appendMasterBatch(df: DataFrame, path: String, batchId: Long): Unit = {
    val cols = df.columns.toSeq.map(col)
    val n = cols.length
    val content = md5(concat_ws("|", lit(batchId),
      to_json(struct(cols: _*), Map("ignoreNullFields" -> "false"))))
    val withRowid = StructType(df.schema.fields :+ StructField("rowid", StringType, nullable = false))
    df.select(cols :+ content: _*)
      .mapPartitions { rows =>
        val part = TaskContext.getPartitionId()
        val copies = mutable.HashMap.empty[String, Int]
        rows.map { r =>
          val h = r.getString(n)
          val k = copies.getOrElse(h, 0) + 1
          copies(h) = k
          Row.fromSeq(r.toSeq.take(n) :+ DigestUtils.md5Hex(s"$h#$part#$k"))
        }
      }(Encoders.row(withRowid))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/batch_id=$batchId")
  }
}
