package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named query with its Spark implementation and (when SQL-expressible) a
  * DuckDB oracle over the same parquet tables. Queries without an oracle get
  * the driver's weaker rows-only check.
  *
  * `oracleGen` is the verify-time variant for oracles whose SQL-expressible
  * half depends on fixture-derived constants (q_bpe_tokens: the trained
  * merge table embeds as literals into a recursive CTE). Verify evaluates it
  * with the same (spark, sfDir) the query ran against and writes the result
  * into oracle_sql.json alongside the static oracles — the DuckDB side then
  * recomputes the deterministic half independently. Exactly one of
  * `oracle` / `oracleGen` should be set.
  */
final case class GraftQuery(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    oracleGen: Option[(SparkSession, String) => String] = None,
)

object Tables {
  /** Load one of the driver-provided parquet tables from a scale-factor dir,
    * normalized so every query sees one timestamp flavor regardless of how a
    * given round's fixtures were written:
    *
    *   - TIMESTAMP(NANOS) (which Spark's parquet reader rejects) is read as
    *     long and converted to a microsecond timestamp with integer
    *     arithmetic (`div`, not `/` — a double round-trip of an ~1.7e18
    *     nanos value loses precision above 2^53);
    *   - TIMESTAMP_NTZ (isAdjustedToUTC=false, what pyarrow writes for a
    *     tz-naive `timestamp[us]`) is cast to session-tz TIMESTAMP. The
    *     session zone is pinned UTC everywhere, so the wall-clock values
    *     are unchanged — but the NTZ type itself would reject the
    *     epoch-seconds casts (`cast(ts AS double)`) the queries and the
    *     DuckDB oracle both rely on.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    if (name == "events") spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    val ntz = raw.schema.fields.filter(_.dataType == TimestampNTZType).map(_.name)
    val fixed = ntz.foldLeft(raw)((df, c) => df.withColumn(c, col(c).cast(TimestampType)))
    if (name == "events" && raw.schema("ts").dataType == LongType)
      fixed.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else fixed
  }

  /** The most partitions [[fanOut]] spreads one file across. */
  private val FanOutMax = 64

  /** r16 optimization (guide §2.5 "input skew ... otherwise repartition
    * immediately after the read"): [[apply]] with a round-robin fan-out for
    * queries whose SCAN STAGE carries heavy fused per-row work (hash folds,
    * tokenization). The driver fixtures are single parquet files with ONE
    * row group, so everything Spark fuses into the scan — broadcast-join
    * probes, projections, partial aggregates, expression evaluation — runs
    * in one task regardless of core count (a row group is the minimum
    * split unit). The fan-out spreads that work across the session's cores
    * for one narrow bounded exchange.
    *
    * NOT applied blanket in [[apply]]: the r16 A/B measured the blanket
    * form a net LOSS (q_assoc_rules 2.24 -> 3.97 s, q_tfidf 0.77 -> 1.22 —
    * queries that re-read a table pay the exchange per read, and cheap-map
    * queries pay it for nothing), against isolated wins where the fused
    * map work dominates (q_cms 2.86 -> 1.68 s). Callers opt in per site,
    * with the A/B number recorded at the call.
    *
    * The gate is data-derived, not core-count-derived: fires only for a
    * SINGLE regular file (directory-backed tables already get one split
    * per part file) smaller than spark.sql.files.maxPartitionBytes (past
    * that the writer emits multiple row groups and the scan parallelizes
    * naturally — so at production scale this is a no-op). The target
    * follows the session's parallelism, capped at [[FanOutMax]] so a large
    * cluster doesn't shred a sub-128 MB file into thousands of empty tasks.
    */
  def fanOut(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = apply(spark, dir, name)
    val f = new java.io.File(s"$dir/$name.parquet")
    if (!f.isFile) return df
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    if (f.length >= maxSplit) return df
    df.repartition(math.max(2, math.min(spark.sparkContext.defaultParallelism, FanOutMax)))
  }
}
