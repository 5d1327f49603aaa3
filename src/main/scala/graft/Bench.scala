package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: SPARK_GRAFT_REPS passes (default 2) of every SparkEntry
  * query at the sf dir given by SPARK_GRAFT_SF_DIR, reporting the per-query
  * MINIMUM (the throughput-capability number; a single cold pass is hostage
  * to shared-box noise — see the round-3 phantom regression in VERDICT.md),
  * emitted as ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  * Set SPARK_GRAFT_REPS=1 for the old cold-pass methodology.
  *
  * The harness captures only the LAST 2000 characters of stdout and parses
  * the JSON line out of that tail (rounds 1-2 both lost the line: round 1
  * to sbt's `[info] ` prefix, round 2 to tail truncation once the suite
  * grew past ~66 queries at full double precision). `renderJson` therefore
  * guarantees the line fits `MaxLine` chars: times are rounded to
  * milliseconds, and if the per-query map still doesn't fit, the smallest
  * entries are merged into a single `"other"` bucket (slowest queries are
  * always reported individually — they're the informative ones). The line
  * is printed after `spark.stop()` with logging silenced so nothing can
  * land between it and process exit.
  */
object Bench {

  /** Hard cap for the emitted line: 2000-char tail minus sbt's trailing
    * `[success] Total time: ...` line (~70 chars) minus margin. */
  val MaxLine = 1800

  // Locale.ROOT: a comma decimal separator (de_DE et al.) would corrupt the
  // JSON line on any machine whose default locale isn't dot-decimal.
  private[graft] def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** JSON-string-safe sf label: escape quotes/backslashes, drop control
    * chars, and keep only the (informative) tail so a pathological
    * SPARK_GRAFT_SF_DIR can't blow the line past MaxLine or break parsing. */
  private[graft] def sfLabel(sfDir: String): String = {
    // truncate BEFORE escaping: takeRight on the escaped string could split
    // a two-char escape and emit a bare quote/backslash into the JSON
    val tail = if (sfDir.length > 120) sfDir.takeRight(120) else sfDir
    tail.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => ""
      case c => c.toString
    }
  }

  /** Pass-major zipf rep order: (name, pass) for pass 1..reps, the WHOLE
    * family per pass. A row's reps are thus separated by a full family
    * sweep, so one box-level contention episode cannot depress every rep
    * of the same row (the min-of-N floor's blind spot when reps ran
    * back-to-back — VERDICT r15 #1). Pinned by BenchJsonSpec. */
  private[graft] def zipfSchedule(family: Seq[String], reps: Int): Seq[(String, Int)] =
    for { pass <- 1 to reps; name <- family } yield (name, pass)

  /** Render the JSON result line, guaranteed <= MaxLine chars.
    * `failures` = queries with no successful rep (their reported time is the
    * slowest FAILING rep's wall time — conservative, never a phantom
    * speedup; a crash must not show up as the query's best time).
    * `flaky` = queries with at least one failed rep AND at least one good
    * rep: their published min is a real success, but a crash happened and
    * must not be invisible in the bench line.
    */
  def renderJson(results: Seq[(String, Double)], sfDir: String,
      failures: Int = 0, flaky: Int = 0, calibration: Double = 0.0,
      zipf: Seq[(String, Seq[Double])] = Seq.empty,
      calibrationCpu: Double = 0.0,
      streamBlock: String = ""): String = {
    val total = results.map(_._2).sum
    val sf = sfLabel(sfDir)
    // Zipf-axis rows (realistic-text fixture, separate corpus — NOT part
    // of "value": the total must stay comparable across rounds that
    // predate the zipf block). Rendered whole; its length participates in
    // the MaxLine fitting below via the shared template. Each row carries
    // [min,max] over its reps (VERDICT r13 #2: a window transient that
    // depresses every rep — the r12/r13 zipf anomalies — is now visible
    // in the artifact as a high min WITH a high max, where a real
    // single-rep hiccup shows min≪max; no rerun needed to distinguish).
    val zipfBlock =
      if (zipf.isEmpty) ""
      else zipf.map { case (k, ts) =>
        // failed-query sentinel: [] — the SAME sentinel the
        // SPARK_GRAFT_BENCH_OUT raw-times dump writes, so downstream
        // parsers of the two artifacts share one code path (ADVICE r15;
        // the earlier -1 scalar here forced divergent handling).
        // ARTIFACT NOTE (ADVICE r15): this was a format break at r15 —
        // BENCH_r11..r14.json artifacts carry the old scalar -1 for a
        // failed zipf row; any parser reading across rounds must
        // normalize -1 to [] (treat both as "no successful rep").
        // BENCH_r15+.json uses [] exclusively.
        val v = if (ts.isEmpty) "[]" else s"[${fmt(ts.min)},${fmt(ts.max)}]"
        "\"" + k + "\":" + v
      }.mkString(""","zipf":{""", ",", "}")
    def line(entries: Seq[(String, Double)], otherSum: Option[Double]): String = {
      val qs = entries.map { case (k, v) => "\"" + k + "\":" + fmt(v) } ++
        otherSum.map(s => "\"other\":" + fmt(s))
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","failures":$failures,"flaky":$flaky,"calibration_sec":${fmt(calibration)},"calibration_cpu_sec":${fmt(calibrationCpu)},"queries":${qs.mkString("{", ",", "}")}$zipfBlock$streamBlock,"sf":"$sf"}"""
    }
    val bySlowest = results.sortBy { case (k, v) => (-v, k) }
    // Largest prefix of the slowest-first ordering that fits; the rest
    // (if any) collapses into one "other" bucket.
    var keep = bySlowest.length
    while (keep > 0 && {
      val rest = bySlowest.drop(keep).map(_._2)
      line(bySlowest.take(keep), if (rest.isEmpty) None else Some(rest.sum)).length > MaxLine
    }) keep -= 1
    val rest = bySlowest.drop(keep).map(_._2)
    line(bySlowest.take(keep), if (rest.isEmpty) None else Some(rest.sum))
  }

  /** Runs the query to completion: the one drain that Bench and Probe
    * time. Returns the row count. `count()` lets Catalyst prune columns no
    * one reads (ROADMAP item 1 tracks the switch to a `noop` write). */
  private[graft] def drain(df: DataFrame): Long = df.count()

  /** Per-query hygiene before every timed run. Operators may cache
    * intermediates (geo dims etc.); clearing them makes each measurement
    * its own cold plan and stops caches accumulating across the run.
    * localCheckpoint blocks (pagerank/triangles/tiling) are MEMORY_AND_DISK
    * and are only reclaimed by the ContextCleaner on a GC — across a
    * 134-query session they pile up and later queries run under
    * block-manager pressure (the round-6 q_tfidf/q_speed "regressions" with
    * untouched code). Drop them eagerly: a finished query's RDDs are never
    * recomputed, so unpersisting a local checkpoint is safe here. */
  private[graft] def releaseCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Warms the JVM/shuffle/codegen/parquet/broadcast paths once so the
    * first measured query doesn't absorb session startup (~4s otherwise). */
  private[graft] def warmUp(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col}
    spark.range(1L << 20).selectExpr("id % 97 AS k")
      .groupBy("k").count().count()
    val c = spark.read.parquet(s"$sfDir/customer.parquet")
      .select("c_custkey", "c_mktsegment").limit(100)
    val d = c.select(col("c_custkey").as("k2"))
    c.join(broadcast(d), c("c_custkey") === d("k2"))
      .selectExpr("row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) AS rn")
      .count()
  }

  /** Timed reps per query: SPARK_GRAFT_REPS, default 2. */
  private[graft] def reps(env: Map[String, String]): Int =
    GraftSession.positive(env, "SPARK_GRAFT_REPS", 2, "reps", Int.MaxValue).toInt

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build("bench")
    warmUp(spark, sfDir)
    // Box calibration: one FIXED synthetic workload (sf-independent),
    // timed min-of-2 after warmup and published as `calibration_sec`.
    // Cross-round bench ratios divide by this to separate host-speed
    // drift from plan regressions (round 8 burned a day's adjudication on
    // a uniform ~1.5× host slowdown that isolated probes showed was not
    // code). The workload must NEVER change across rounds or the constant
    // loses meaning. What ACTUALLY executes under the .count() drain
    // (round-12 plan audit): Catalyst prunes the unused sum/count columns
    // and eliminates the sort below the count aggregate, leaving a
    // keys-only distinct-style aggregate — Range → (id % 9973) → partial
    // HashAggregate → hash Exchange on k → final HashAggregate → count.
    // That is still a genuine 32 M-row shuffle probe (the Exchange on k
    // survives), which is exactly what this constant is for; the code is
    // kept byte-identical to rounds 8-11 so the published series stays
    // comparable, and this comment (not the code) was corrected.
    def calibrateOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(1L << 25).selectExpr("id % 9973 AS k", "id AS v")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("s"),
          org.apache.spark.sql.functions.count("*").as("c"))
        .orderBy("s").count()
      (System.nanoTime() - t0) / 1e9
    }
    val calibration = math.min(calibrateOnce(), calibrateOnce())
    // Second, CPU-BOUND probe (round 11): the shuffle probe above tracks
    // exchange/serialization speed but under-measures drift for
    // codegen-bound queries — the round-10 adjudication found driver-
    // artifact times on UNTOUCHED CPU-heavy queries (triangles, psi)
    // inflated ~1.3× while calibration_sec moved only 1.10× (the same-
    // session r9/r10 worktree A/B in BENCH.md proved the code identical).
    // One stage, no exchange past the 1-row final agg, pure whole-stage
    // codegen: xxhash64 over a range, modular sum. Cross-round ratios
    // should consult BOTH constants and trust neither alone when they
    // disagree.
    // RE-PINNED in round 12 (ADVICE r11): the round-11 drain was
    // `.agg(sum("h")).count()`, and count-over-aggregate let Catalyst
    // prune the sum AND the xxhash64 projection — the executed plan was
    // an empty-Project codegen loop over Range, so the two published
    // r11 values of calibration_cpu_sec (~0.18 s) measured nothing and
    // are VOID for normalization (BENCH.md records this). The .head()
    // drain below keeps the hash+sum alive (plan audited: Project emits
    // xxhash64(id)%1000003, HashAggregate sums it); round 12 is the
    // first round of the real constant. Pinned forever FROM r12.
    def calibrateCpuOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(1L << 27)
        .selectExpr("xxhash64(id) % 1000003 AS h")
        .agg(org.apache.spark.sql.functions.sum("h")).head()
      (System.nanoTime() - t0) / 1e9
    }
    val calibrationCpu = math.min(calibrateCpuOnce(), calibrateCpuOnce())
    // Two reps, report per-query MIN: a single cold pass is hostage to the
    // shared driver box's noise (round 3 recorded a phantom 1.48× "regression"
    // spread across untouched queries; a clean local re-run was 1.0×). The min
    // is the throughput-capability number the bound cares about.
    val reps = Bench.reps(sys.env)
    // (name, seconds, succeeded) per rep: a rep that crashes must be
    // EXCLUDED from the min — a fast failure would otherwise publish as the
    // query's best time and a crash would read as a speedup in the curve
    def runOnce(): Seq[(String, Double, Boolean)] = SparkEntry.queries.toSeq.map { case (name, fn) =>
      releaseCaches(spark)
      val t0 = System.nanoTime()
      val ok = try { drain(fn(spark, sfDir)); true } catch { case _: Throwable => false }
      (name, (System.nanoTime() - t0) / 1e9, ok)
    }
    val runs = (1 to reps).map(_ => runOnce())
    val names = runs.head.map(_._1)
    val byName = runs.flatten.groupBy(_._1)
    val results = names.map { name =>
      val (good, bad) = byName(name).partition(_._3)
      // all reps failed -> report the slowest failing rep (conservative)
      name -> (if (good.nonEmpty) good.map(_._2).min else bad.map(_._2).max)
    }
    val failures = names.count(n => !byName(n).exists(_._3))
    // a partially-failing query also logs WHICH reps failed (stderr, so the
    // JSON stdout line stays clean) — the flaky count alone says something
    // crashed, the log says what
    val flaky = names.count { n =>
      val reps = byName(n)
      val someFailed = reps.exists(!_._3) && reps.exists(_._3)
      if (someFailed) System.err.println(
        s"[bench] FLAKY $n: ${reps.count(!_._3)}/${reps.size} reps failed")
      someFailed
    }
    // Zipf-axis rows: the content-blocked operator family re-timed on the
    // realistic-text fixture (Zipf(1) vocabulary, rare gram tail — see
    // MakeZipf), so regressions on the distribution these algorithms are
    // DESIGNED for stay visible next to the min-entropy sf rows that
    // measure their collision-mass worst case. The fixture is generated
    // deterministically on first use (hash-derived content, no RNG) and
    // reused from disk after. Skippable via SPARK_GRAFT_ZIPF=0; the rows
    // are excluded from "value" so cross-round totals stay comparable.
    val zipfFamily = Seq("q_setsim_prefix", "q_setsim_topk", "q_dedup_minhash",
      "q_dedup_simhash", "q_edit_threshold", "q_hybrid_rrf", "q_hybrid_rrf_capped",
      "q_hybrid_rrf_lsh", "q_similarity_lsh", "q_ann_ivfpq",
      // round 11: the graph rows on the SKEWED-DEGREE fixture tables
      // (zipf part/supplier popularity — the sf fixtures are near-uniform,
      // so the hub pre-filter's routing had no standing regression row)
      "q_triangles", "q_pagerank",
      // round 13: the new copurchase-riding iterative ops (peel, LPA) and
      // the wedge-sharing coefficient — all route hubs through the same
      // minShared prefilter, so skew is their design axis too (q_bfs_hops
      // and q_connected_components read customer/events, which the zipf
      // fixture does not generate — their skew path is q_kcore's)
      "q_kcore", "q_label_prop", "q_clustering_coef",
      // round 14: HITS is the endgame's strongest case (two global-max
      // barriers per round saved) — guard it on the skewed fixture too;
      // link prediction's wedge mass is degree-skew-shaped exactly like
      // q_triangles' (birth zipf 4.42; one-offs: random_walks 3.91,
      // msf 1.25 — recorded, not standing)
      "q_hits", "q_link_predict",
      // round 15: the post-window r14 rows whose design axis IS degree
      // skew (VERDICT r15 #3) — coreness rides the kcore floor,
      // conductance the modularity floor — plus the round's k-truss,
      // whose wedge-support mass is q_triangles-shaped (birth zipf 3.56;
      // one-offs recorded, not standing: kmeans3 1.57, textrank 3.48,
      // harmonic 7.76, item_knn 1.69, freq_itemsets 1.23,
      // assoc_rules 1.64, feature_hash 0.77)
      "q_coreness", "q_conductance", "q_ktruss")
    val zipfResults: Seq[(String, Seq[Double])] =
      if (sys.env.get("SPARK_GRAFT_ZIPF").contains("0")) Seq.empty
      else try {
        val zipfDir = sys.env.getOrElse("SPARK_GRAFT_ZIPF_DIR",
          "/root/repo/bench/fixtures/zipf20k")
        if (!new java.io.File(s"$zipfDir/documents.parquet").exists())
          MakeZipf.generate(spark, zipfDir, 20000L)
        if (!new java.io.File(s"$zipfDir/orders.parquet").exists())
          MakeZipf.generateGraph(spark, zipfDir, 20000L)
        // Floor the zipf block at min-of-2 even if SPARK_GRAFT_REPS=1:
        // the r11 driver artifact carried a 4.3× single-pass swing on
        // untouched code (q_similarity_lsh 0.83 s in builder sessions vs
        // 3.66 s in the driver window), so single-pass zipf rows are
        // noise, not signal. The main suite keeps honoring REPS (its
        // total must stay comparable across rounds); the zipf rows are
        // excluded from "value", so extra reps here change no headline.
        //
        // PASS-MAJOR rep layout (round 16, VERDICT r15 #1): reps of one row
        // used to run back-to-back, so a single box-level contention episode
        // of ~30 s depressed BOTH reps and survived the min — the recurring
        // adjudication class behind the r13 q_edit_threshold 12.6 s, the
        // r14 dedup-family elevation, and the r15 coreness/conductance/
        // setsim spikes (every one exonerated in-session). Now the whole
        // family runs pass 1, then the whole family pass 2 (`zipfSchedule`,
        // pinned by BenchJsonSpec): the same row's reps are separated by a
        // full family sweep (~60 s), so min-of-2 across separated passes
        // rejects any transient shorter than a sweep.
        val zipfReps = math.max(2, reps)
        val runTimes = scala.collection.mutable.Map.empty[String, Vector[Double]]
          .withDefaultValue(Vector.empty)
        zipfSchedule(zipfFamily, zipfReps).foreach { case (name, _) =>
          val fn = SparkEntry.queries(name)
          releaseCaches(spark)
          val t0 = System.nanoTime()
          try {
            drain(fn(spark, zipfDir))
            runTimes(name) = runTimes(name) :+ (System.nanoTime() - t0) / 1e9
          } catch { case _: Throwable => () }
        }
        zipfFamily.map(name => name -> runTimes(name))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] zipf block failed: ${e.getMessage}")
        Seq.empty
      }
    // Standing streaming row (VERDICT r11 #5): ONE fixed-shape scenario —
    // the stream-static snapshot near-dup guard (10k-doc stream, half of
    // them exact dups of the 5k-doc snapshot at sf0.1; 10 micro-batches,
    // 8 state partitions) — warm + measured run through StreamBench's
    // production wiring, published every round so the streaming guards
    // have a regression axis like the zipf block gave the content family.
    // It runs LAST (after all batch queries) and is the JVM's only
    // streaming pair, honoring StreamBench's one-scenario-per-JVM finding.
    // Skippable via SPARK_GRAFT_STREAM=0; excluded from "value".
    val streamBlock: String =
      if (sys.env.get("SPARK_GRAFT_STREAM").contains("0")) ""
      else try {
        val st = StreamBench.snapDedupStats(spark, sfDir,
          batches = 10, copies = 2, parts = 8)
        // Second standing metric (VERDICT r12 #5): the KN perplexity-gate
        // speed-layer throughput (its r11 broadcast fix had no regression
        // row). A SECOND streaming scenario in this session would read
        // ~1.9× slow (BENCH_STREAM.md: state-store providers unload
        // asynchronously after stop()), so it runs in a forked fresh JVM
        // through StreamBench's production main — fixed shape 10 batches
        // × 2 copies × 8 state partitions, KN model batch-trained at the
        // p75 cut, same sf tables. Parsed from the child's STREAMBENCH
        // line; a child failure degrades to the snap-dedup-only block.
        def forkedStream(scenario: String, rpsField: String, p50Field: String): String = try {
          val java = System.getProperty("java.home") + "/bin/java"
          val opens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
            "java.io", "java.net", "java.nio", "java.util",
            "java.util.concurrent", "java.util.concurrent.atomic",
            "sun.nio.ch", "sun.nio.cs", "sun.security.action",
            "sun.util.calendar")
            .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))
          val cmd = Seq(java, "-Xmx8g") ++ opens ++ Seq(
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", System.getProperty("java.class.path"),
            "graft.StreamBench", scenario, sfDir, "10", "2", "8")
          val sb = new StringBuilder
          val rc = scala.sys.process.Process(cmd).!(
            scala.sys.process.ProcessLogger(l => sb.append(l).append('\n'), _ => ()))
          val line = sb.toString.linesIterator
            .find(_.startsWith("STREAMBENCH")).getOrElse("")
          def field(k: String): Option[String] =
            s""""$k":([0-9.]+)""".r.findFirstMatchIn(line).map(_.group(1))
          (for {
            _ <- if (rc == 0) Some(()) else None
            rps <- field("records_per_sec")
            p50 <- field("batch_sec_p50")
          } yield s""","$rpsField":$rps,"$p50Field":$p50""")
            .getOrElse {
              System.err.println(s"[bench] $scenario child rc=$rc, no line")
              ""
            }
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $scenario row failed: ${e.getMessage}")
          ""
        }
        val gate = forkedStream("corpus_kn", "kn_gate_docs_per_sec", "kn_gate_batch_p50")
        // Third/fourth standing metrics (VERDICT r13 #6): the EventStream
        // event-time operators — session-window aggregation and the
        // watermarked stream-stream interval join — get throughput guards
        // like the two content rows. Same fixed shape (10 batches ×
        // 2 copies × 8 state partitions), each in its own forked JVM per
        // the one-scenario-per-JVM finding (BENCH_STREAM.md).
        val sess = forkedStream("session_agg", "session_agg_rows_per_sec", "session_agg_batch_p50")
        val ij = forkedStream("interval_join", "interval_join_rows_per_sec", "interval_join_batch_p50")
        s""","stream":{"snap_dedup_docs_per_sec":${fmt(st.recordsPerSec)},"batch_sec_p50":${fmt(st.batchSecP50)},"state_rows":${st.stateRows},"state_bytes":${st.stateBytes}$gate$sess$ij}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] stream row failed: ${e.getMessage}")
        ""
      }
    val jsonLine = renderJson(results, sfDir, failures, flaky, calibration,
      zipfResults, calibrationCpu, streamBlock)
    // Full per-query dump (no MaxLine cap / "other" merging) for scaling
    // analysis — the stdout line stays driver-compatible, the file carries
    // every query's time for tools/scaling.py.
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { out =>
      val qs = results.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
      val zs = zipfResults.sortBy(_._1)
        .map { case (k, ts) =>
          "\"" + k + "\":" + ts.map(fmt).mkString("[", ",", "]")
        }.mkString("{", ",", "}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
        s"""{"failures":$failures,"flaky":$flaky,"calibration_sec":${fmt(calibration)},"calibration_cpu_sec":${fmt(calibrationCpu)},"queries":$qs,"zipf":$zs$streamBlock,"sf":"${sfLabel(sfDir)}"}""")
    }
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(jsonLine)
  }
}
