package fraudbench

import graft.SparkEntry
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}

/** query_mix: a closed loop with one client running a fixed list of the
  * program's queries over the sf0.01 tables, each drained in full to a
  * `noop` sink. The seed shuffles the order of every pass.
  */
object QueryMix {
  val Fraud = Seq("q_fraud_rules", "q_agg_ucl", "q_distance", "q_speed", "q_stateful_classify",
    "q_topk_per_key", "q_filter_status")
  val Operators = Seq("q_sort_limit", "q_scan_project", "q_case_relabel")
  val Graph = Seq("q_scc", "q_sssp")
  val Queries: Seq[String] = Fraud ++ Operators ++ Graph
  /** Passes before the measured window: the first also writes every result
    * for the oracle check, the second lets codegen and the JIT settle (a
    * query's second run is still ~10% slower than its third).
    */
  val WarmupPasses = 2

  private def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(a: Args, spark: SparkSession, spans: Spans, probe: Option[EngineProbe], data: String): Outcome = {
    val fns = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    Queries.foreach(q => require(fns.contains(q) && oracle.contains(q), s"$q needs a query and an oracle"))
    val r = new SplittableRandom(a.seed)
    def order(): Seq[String] = {
      val qs = scala.collection.mutable.ArrayBuffer(Queries: _*)
      for (i <- qs.indices.reverse) { val j = r.nextInt(i + 1); val t = qs(i); qs(i) = qs(j); qs(j) = t }
      qs.toSeq
    }
    val out = s"${a.work}/out"
    order().foreach { q =>
      spark.catalog.clearCache()
      fns(q)(spark, data).write.mode("overwrite").parquet(s"$out/$q")
    }
    Common.writeFile(s"$out/oracle_sql.json",
      Queries.map(q => s"${Common.str(q)}:${Common.str(oracle(q))}").mkString("{", ",\n", "}"))
    Common.log(f"checked pass done at ${Common.sinceLaunchS(a)}%.1f s")
    (2 to WarmupPasses).foreach { i =>
      order().foreach { q => spark.catalog.clearCache(); drain(fns(q)(spark, data)) }
      Common.log(f"warm-up pass $i done at ${Common.sinceLaunchS(a)}%.1f s")
    }

    val setupS = Common.sinceLaunchS(a)
    val samples = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val engine = scala.collection.mutable.ArrayBuffer.empty[(String, EngineStats, Double, Long)]
    // whole passes; another pass starts only if one as long as the last still
    // ends inside the window, so the pass count does not hinge on a pass
    // ending just before or just after the deadline
    val start = System.nanoTime()
    var lastPass = 0L
    while (System.nanoTime() - start + lastPass <= a.seconds * 1000000000L) {
      val passStart = System.nanoTime()
      order().foreach { q =>
        spark.catalog.clearCache()
        probe match {
          case None =>
            val t0 = System.nanoTime()
            drain(fns(q)(spark, data))
            samples += q -> (System.nanoTime() - t0) / 1e6
          case Some(p) =>
            // the build is everything the query function runs before the
            // drain, eager jobs included
            val ((buildMs, buildJobs), st) = p.window {
              val t0 = System.nanoTime()
              val df = spans(s"operators.$q.build")(fns(q)(spark, data))
              val built = ((System.nanoTime() - t0) / 1e6, p.jobsSoFar())
              spans(s"operators.$q.drain")(drain(df))
              built
            }
            samples += q -> st.wallMs
            engine += ((q, st, buildMs, buildJobs))
        }
      }
      lastPass = System.nanoTime() - passStart
    }
    samples.foreach { case (q, ms) => Common.log(f"sample $q $ms%.1f ms") }
    val heapMb = if (a.trace) 0.0 else Common.liveHeapMb()
    val walls = samples.map(_._2).toSeq
    val metrics =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("live_heap_mb", heapMb, "MB"),
        ("latency_p50_ms", Common.percentile(walls, 0.5), "ms"),
        ("latency_tail_ms", Common.percentile(walls, 0.9), "ms"))
      else {
        spans.attach("queries", engine.groupBy(_._1).toSeq.sortBy(_._1).map { case (q, xs) =>
          val m = EngineStats.mean(xs.map(_._2).toSeq) ++ Seq(
            ("operators.build_ms", xs.map(_._3).sum / xs.length, "ms"),
            ("operators.build_jobs", xs.map(_._4.toDouble).sum / xs.length, "count"),
            ("wall_ms", xs.map(_._2.wallMs).sum / xs.length, "ms"))
          s"${Common.str(q)}:" + m.map { case (k, v, _) => s"${Common.str(k)}:${Common.num(v)}" }.mkString("{", ",", "}")
        }.mkString("{\n", ",\n", "\n}"))
        EngineStats.mean(engine.map(_._2).toSeq) ++ Seq(
          ("operators.build_ms", engine.map(_._3).sum / engine.length, "ms"),
          ("operators.build_jobs", engine.map(_._4.toDouble).sum / engine.length, "count"))
      }
    // correctness is judged by run.py, which compares the written results with
    // the oracle SQL in DuckDB after this process exits
    Outcome(correct = true, samples.length.toLong, 0L, metrics,
      Seq(s"${samples.length / Queries.length} measured passes of ${Queries.length} queries",
        f"query p50 ${Common.percentile(walls, 0.5)}%.1f ms, p90 ${Common.percentile(walls, 0.9)}%.1f ms"))
  }
}
