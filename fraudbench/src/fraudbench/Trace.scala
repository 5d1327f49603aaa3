package fraudbench

import org.apache.spark.fraudbench.Bus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Spans recorded by the benchmark around its calls into the program's
  * modules: name, start, end and the enclosing span. Kept in memory and
  * written out once at the end of a traced run. Used from the driver's main
  * thread only.
  */
final class Spans {
  private final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List(0)
  private var next = 1

  def apply[T](name: String)(f: => T): T = {
    val id = next; next += 1
    val parent = open.head
    open = id :: open
    val t0 = System.nanoTime()
    try f finally {
      done += Span(id, parent, name, t0, System.nanoTime())
      open = open.tail
    }
  }

  private val attached = mutable.ArrayBuffer.empty[(String, String)]

  /** Adds a JSON value under `key` to the trace file. */
  def attach(key: String, json: String): Unit = attached += ((key, json))

  def toJson: String = {
    val ss = done.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Common.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("[\n", ",\n", "\n]")
    (("spans", ss) +: attached.toSeq).map { case (k, v) => s"${Common.str(k)}:$v" }
      .mkString("{\n", ",\n", "\n}\n")
  }
}

/** Engine counters for one window of work (one refresh, one query, or a
  * stretch of micro-batches), read from Spark's listener events, the
  * codegen compile timer and the JVM's collectors.
  */
final case class EngineStats(
    wallMs: Double,
    executions: Long,
    analysisMs: Double,
    optimizationMs: Double,
    planningMs: Double,
    compileMs: Double,
    classes: Long,
    jobs: Long,
    stages: Long,
    tasksStarted: Long,
    tasksEnded: Long,
    gapMs: Double,
    taskRunMs: Double,
    taskCpuMs: Double,
    spillBytes: Double,
    shuffleWriteBytes: Double,
    shuffleReadBytes: Double,
    gcMs: Double,
) {
  /** The engine per-layer metrics, as named in BENCHMARK.json. */
  def metrics: Seq[(String, Double, String)] = Seq(
    ("catalyst.analysis_ms", analysisMs, "ms"),
    ("catalyst.optimization_ms", optimizationMs, "ms"),
    ("catalyst.planning_ms", planningMs, "ms"),
    ("codegen.compile_ms", compileMs, "ms"),
    ("codegen.classes", classes.toDouble, "count"),
    ("scheduler.jobs", jobs.toDouble, "count"),
    ("scheduler.stages", stages.toDouble, "count"),
    ("scheduler.tasks", tasksStarted.toDouble, "count"),
    ("scheduler.gap_ms", gapMs, "ms"),
    ("exec.tasks", tasksEnded.toDouble, "count"),
    ("exec.task_run_ms", taskRunMs, "ms"),
    ("exec.task_cpu_ms", taskCpuMs, "ms"),
    ("exec.spill_bytes", spillBytes, "bytes"),
    ("shuffle.write_bytes", shuffleWriteBytes, "bytes"),
    ("shuffle.read_bytes", shuffleReadBytes, "bytes"),
    ("jvm.gc_ms", gcMs, "ms"),
  )

  /** The metrics divided by `n` operations (micro-batches in a window). */
  def per(n: Double): Seq[(String, Double, String)] =
    metrics.map { case (k, v, u) => (k, if (n > 0) v / n else 0.0, u) }
}

object EngineStats {
  /** Per-operation mean of each counter over several windows. */
  def mean(xs: Seq[EngineStats]): Seq[(String, Double, String)] =
    if (xs.isEmpty) EngineStats(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0).metrics
    else xs.map(_.metrics).transpose.map { col =>
      (col.head._1, col.map(_._2).sum / col.length, col.head._3)
    }
}

/** Listener behind the traced run. Counts accumulate between `window`
  * calls; streaming work is also attributed per micro-batch through the
  * `streaming.sql.batchId` local property Spark sets on every job of a batch.
  */
final class EngineProbe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val BatchKey = "streaming.sql.batchId"

  private var executions, jobs, stages, tasksStarted, tasksEnded = 0L
  private var analysisMs, optimizationMs, planningMs = 0.0
  private var taskRunMs, taskCpuMs, spill, shuffleW, shuffleR = 0.0
  private val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  private val stageBatch = mutable.Map.empty[Int, Long]
  val jobsByBatch: mutable.Map[Long, Long] = mutable.Map.empty
  val tasksByBatch: mutable.Map[Long, Long] = mutable.Map.empty
  /** (batch id, wall ms) of each master-append execution of the stream. */
  val masterWrites: mutable.ArrayBuffer[(Long, Double)] = mutable.ArrayBuffer.empty

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def batchOf(p: java.util.Properties): Option[Long] =
    Option(p).flatMap(pp => Option(pp.getProperty(BatchKey))).map(_.toLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    batchOf(e.properties).foreach(b => jobsByBatch(b) = jobsByBatch.getOrElse(b, 0L) + 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    batchOf(e.properties).foreach(b => stageBatch(e.stageInfo.stageId) = b)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val si = e.stageInfo
    for (s <- si.submissionTime; c <- si.completionTime) stageSpans += ((s, c))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    tasksStarted += 1
    stageBatch.get(e.stageId).foreach(b => tasksByBatch(b) = tasksByBatch.getOrElse(b, 0L) + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasksEnded += 1
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      taskCpuMs += m.executorCpuTime / 1e6
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      shuffleW += m.shuffleWriteMetrics.bytesWritten
      shuffleR += m.shuffleReadMetrics.totalBytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    executions += 1
    val ph = qe.tracker.phases
    def phase(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    analysisMs += phase("analysis")
    optimizationMs += phase("optimization")
    planningMs += phase("planning")
    qe.logical.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.getName }
      .filter(_.startsWith("batch_id="))
      .foreach(n => masterWrites += ((n.stripPrefix("batch_id=").toLong, durationNs / 1e6)))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def reset(): Unit = synchronized {
    executions = 0; jobs = 0; stages = 0; tasksStarted = 0; tasksEnded = 0
    analysisMs = 0; optimizationMs = 0; planningMs = 0
    taskRunMs = 0; taskCpuMs = 0; spill = 0; shuffleW = 0; shuffleR = 0
    stageSpans.clear()
  }

  /** Jobs started so far in the current window. */
  def jobsSoFar(): Long = { Bus.drain(spark.sparkContext); synchronized(jobs) }

  /** Runs `f` and returns the engine counters its work produced. */
  def window[T](f: => T): (T, EngineStats) = {
    Bus.drain(spark.sparkContext)
    reset()
    val compile0 = CodeGenerator.compileTime
    val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val gc0 = Common.gcMs()
    val t0 = System.currentTimeMillis()
    val out = f
    val t1 = System.currentTimeMillis()
    Bus.drain(spark.sparkContext)
    val stats = synchronized {
      EngineStats(
        wallMs = (t1 - t0).toDouble,
        executions = executions,
        analysisMs = analysisMs,
        optimizationMs = optimizationMs,
        planningMs = planningMs,
        compileMs = (CodeGenerator.compileTime - compile0) / 1e6,
        classes = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0,
        jobs = jobs,
        stages = stages,
        tasksStarted = tasksStarted,
        tasksEnded = tasksEnded,
        gapMs = EngineProbe.uncovered(t0, t1, stageSpans.toSeq),
        taskRunMs = taskRunMs,
        taskCpuMs = taskCpuMs,
        spillBytes = spill,
        shuffleWriteBytes = shuffleW,
        shuffleReadBytes = shuffleR,
        gcMs = (Common.gcMs() - gc0).toDouble,
      )
    }
    (out, stats)
  }
}

object EngineProbe {
  /** Milliseconds of [t0, t1] that no interval in `spans` covers. */
  def uncovered(t0: Long, t1: Long, spans: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var reach = t0
    for ((s, e) <- spans.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (e > reach) {
        covered += e - math.max(s, reach)
        reach = e
      }
    }
    (t1 - t0 - covered).toDouble
  }
}
