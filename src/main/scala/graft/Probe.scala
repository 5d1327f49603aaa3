package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** The one probe over the SparkEntry queries. It runs on the `bench`
  * session, warms up and drains each query the way Bench does, and prints
  * one JSON line per query on stdout:
  *
  * {{{
  * Probe <time|stages|explain|ab> <sfDir> <reps> <q1,q2,..> [k=v ...]
  * }}}
  *
  *  - `time`: wall seconds of every rep, their minimum and the row count.
  *  - `stages`: `time`, plus the fastest rep's completed stages (wall, task
  *    time, tasks, shuffle read/write bytes, records) and the scheduler gap,
  *    the wall time outside every stage.
  *  - `explain`: the formatted physical plan (`reps` is not used).
  *  - `ab`: the `k=v` confs before a literal `vs` are arm a, those after it
  *    arm b. Each rep runs both arms, alternating which goes first; both
  *    arms' times and row counts are printed, and the session conf is
  *    restored afterwards. E.g. `ab dir 3 q_triangles
  *    spark.graft.copurchase.forcePath=plain vs
  *    spark.graft.copurchase.forcePath=prefilter`.
  *
  * In the other modes the `k=v` confs are set on the session before the
  * first query; a `graft.` conf must be a [[GraftConf]] knob with a value it
  * accepts. A failing query prints its exception in an `"error"` field and
  * the probe exits 1 after the rest have run.
  */
object Probe {

  private val usage =
    "usage: Probe <time|stages|explain|ab> <sfDir> <reps> <q1,q2,..> [k=v ...] " +
      "(ab: [a confs] vs [b confs])"

  private def conf(arg: String): (String, String) = arg.split("=", 2) match {
    case Array(k, v) if k.nonEmpty => GraftConf.check(k, v); k -> v
    case _ => throw new IllegalArgumentException(s"expected k=v, got '$arg'; $usage")
  }

  private def str(s: String): String = Verify.jsonString(s)

  private def secs(ts: Seq[Double]): String = ts.map(Bench.fmt).mkString("[", ",", "]")

  /** One completed stage, from the listener. */
  private final case class Stage(id: Int, name: String, startMs: Long, endMs: Long,
      taskMs: Long, tasks: Int, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      records: Long) {
    def json: String =
      s"""{"id":$id,"name":${str(name)},"wall_ms":${endMs - startMs},"task_ms":$taskMs,""" +
        s""""tasks":$tasks,"shuffle_read_bytes":$shuffleReadBytes,""" +
        s""""shuffle_write_bytes":$shuffleWriteBytes,"records":$records}"""
  }

  /** Wall milliseconds covered by at least one stage. */
  private def coveredMs(stages: Seq[Stage]): Long =
    stages.sortBy(_.startMs).foldLeft((0L, Long.MinValue)) { case ((sum, end), s) =>
      if (s.endMs <= end) (sum, end)
      else (sum + s.endMs - math.max(s.startMs, end), s.endMs)
    }._1

  /** One timed rep: the seconds, the rows, and the stages it completed. */
  private final case class Rep(sec: Double, rows: Long, stages: Seq[Stage])

  private final class Runner(spark: SparkSession, sfDir: String) {
    private val completed = ArrayBuffer.empty[Stage]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        for (s <- si.submissionTime; c <- si.completionTime) completed.synchronized {
          completed += Stage(si.stageId, si.name.takeWhile(_ != '\n'), s, c,
            m.executorRunTime, si.numTasks, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten)
        }
      }
    })

    /** Bench's timed run of one query: per-query hygiene, build, drain. */
    def rep(name: String): Rep = {
      Bench.releaseCaches(spark)
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      completed.synchronized(completed.clear())
      val t0 = System.nanoTime()
      val rows = Bench.drain(SparkEntry.queries(name)(spark, sfDir))
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      Rep(sec, rows, completed.synchronized(completed.toList))
    }

    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
  }

  private def timed(reps: Seq[Rep]): String =
    s""""sec":${secs(reps.map(_.sec))},"min_sec":${Bench.fmt(reps.map(_.sec).min)},""" +
      s""""rows":${reps.last.rows}"""

  private def stagesJson(reps: Seq[Rep]): String = {
    val best = reps.minBy(_.sec)
    val gap = best.sec - coveredMs(best.stages) / 1e3
    s""","stage_wall_sec":${Bench.fmt(best.stages.map(s => s.endMs - s.startMs).sum / 1e3)},""" +
      s""""task_sec":${Bench.fmt(best.stages.map(_.taskMs).sum / 1e3)},""" +
      s""""sched_gap_sec":${Bench.fmt(gap)},""" +
      s""""stages":${best.stages.sortBy(_.id).map(_.json).mkString("[", ",", "]")}"""
  }

  /** Runs `body` under `arm`'s confs, then puts every key either arm
    * touches back to its value before the A/B. */
  private def withConfs[A](spark: SparkSession, keys: Seq[String],
      arm: Seq[(String, String)])(body: => A): A = {
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      arm.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def armJson(arm: Seq[(String, String)], reps: Seq[Rep]): String =
    arm.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("""{"conf":{""", ",", "},") +
      timed(reps) + "}"

  /** A bad argument or conf prints one `"error"` line and exits 1. */
  def main(args: Array[String]): Unit = try run(args) catch {
    case e: IllegalArgumentException => println(s"""{"error":${str(e.getMessage)}}"""); sys.exit(1)
  }

  private def run(args: Array[String]): Unit = {
    require(args.length >= 4, usage)
    val Array(mode, sfDir, repsArg, queryArg) = args.take(4)
    require(Seq("time", "stages", "explain", "ab").contains(mode), s"unknown mode '$mode'; $usage")
    val reps = repsArg.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(s"reps must be a positive integer, got '$repsArg'"))
    val names = queryArg.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(names.nonEmpty && unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val (armA, armB) = {
      val (a, b) = args.drop(4).toSeq.span(_ != "vs")
      require((mode == "ab") == b.nonEmpty, s"`vs` separates the two arms of ab only; $usage")
      (a.map(conf), b.drop(1).map(conf))
    }

    val spark = GraftSession.build("bench")
    var failed = false
    try {
      Bench.warmUp(spark, sfDir)
      if (mode != "ab") armA.foreach { case (k, v) => spark.conf.set(k, v) }
      val runner = new Runner(spark, sfDir)
      val keys = (armA ++ armB).map(_._1).distinct
      names.foreach { name =>
        val head = s"""{"mode":"$mode","query":${str(name)},"sf":"${Bench.sfLabel(sfDir)}","""
        val body = try mode match {
          case "explain" => s""""plan":${str(runner.plan(name))}"""
          case "time" => timed((1 to reps).map(_ => runner.rep(name)))
          case "stages" =>
            val rs = (1 to reps).map(_ => runner.rep(name))
            timed(rs) + stagesJson(rs)
          case "ab" =>
            val a = ArrayBuffer.empty[Rep]
            val b = ArrayBuffer.empty[Rep]
            def runA(): Unit = a += withConfs(spark, keys, armA)(runner.rep(name))
            def runB(): Unit = b += withConfs(spark, keys, armB)(runner.rep(name))
            (1 to reps).foreach { i => if (i % 2 == 1) { runA(); runB() } else { runB(); runA() } }
            s""""a":${armJson(armA, a.toSeq)},"b":${armJson(armB, b.toSeq)},""" +
              s""""ratio_b_a":${Bench.fmt(b.map(_.sec).min / a.map(_.sec).min)},""" +
              s""""rows_equal":${a.last.rows == b.last.rows}"""
        } catch {
          case NonFatal(e) =>
            failed = true
            s""""error":${str(s"${e.getClass.getName}: ${e.getMessage}")}"""
        }
        println(head + body + "}")
      }
    } finally spark.stop()
    if (failed) sys.exit(1)
  }
}
