package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string literal: escapes backslash, quote and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    // Optional 3rd arg (local iteration only — the driver passes 2): a
    // comma-separated query-name filter.
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.build("verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // same hygiene as Bench: operators may persist intermediates (q_rfm's
      // entity aggregate, geo dims); drop them between queries so caches
      // don't accumulate block-manager pressure across the 137-query run
      spark.catalog.clearCache()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Static oracles + verify-time-generated ones (fixture-derived
    // constants, e.g. q_bpe_tokens' trained merge table as CTE literals).
    val dynamic = SparkEntry.all
      .filter(g => g.oracleGen.isDefined && only.forall(_.contains(g.name)))
      .flatMap { g =>
        try Some(g.name -> g.oracleGen.get(spark, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[verify] oracleGen ${g.name} failed: ${e.getMessage}")
          None
        }
      }.toMap
    val json = (SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) } ++ dynamic)
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
