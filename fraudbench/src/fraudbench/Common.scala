package fraudbench

import java.lang.management.ManagementFactory
import java.util.Locale
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Command line of one benchmark run (see run.py, which launches it). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    work: String,
    launchedAtMs: Double,
    cores: Int,
    partitions: Int,
    rate: Int,
    data: String,
)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val cores = kv.get("cores").map(_.toInt).getOrElse(3)
    Args(
      workload = get("workload"),
      seed = get("seed").toLong,
      seconds = get("seconds").toInt,
      trace = get("trace") == "1",
      work = get("work"),
      launchedAtMs = get("launched-ms").toDouble,
      cores = cores,
      partitions = kv.get("partitions").map(_.toInt).getOrElse(cores),
      rate = kv.get("rate").map(_.toInt).getOrElse(SwipeStream.DefaultRate),
      data = kv.getOrElse("data", ""),
    )
  }
}

/** What a workload hands back: the operations it attempted and how many
  * failed, whether the outputs passed the independent check, and its metrics
  * (end-to-end ones untraced, per-layer ones traced).
  */
final case class Outcome(
    correct: Boolean,
    attempted: Long,
    failed: Long,
    metrics: Seq[(String, Double, String)],
    notes: Seq[String] = Nil,
)

object Common {

  /** One session layout for every workload: `cores` task slots and as many
    * shuffle (and so state-store) partitions; every file the run writes stays
    * under the run's work directory.
    */
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"fraudbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.partitions.toString)
      .config("spark.default.parallelism", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.files.openCostInBytes", "524288")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def nowMs: Double = System.currentTimeMillis().toDouble

  /** Wall seconds from JVM launch (as run.py saw it) to now. */
  def sinceLaunchS(a: Args): Double = (System.currentTimeMillis() - a.launchedAtMs) / 1e3

  /** Heap still live after a full collection, in MB: what each heap pool
    * held right after it (threads still running allocate again at once, so
    * the heap's current use would count their garbage too).
    */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Linear-interpolated percentile (numpy's default), q in [0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else percentile(xs, 0.5)

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else String.format(Locale.ROOT, "%.6f", Double.box(v))

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  def toJson(o: Outcome): String = {
    val ms = o.metrics.map { case (k, v, u) => s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }
    s"""{"correct":${o.correct},"attempted":${o.attempted},"failed":${o.failed},""" +
      s""""metrics":{${ms.mkString(",")}},"notes":[${o.notes.map(str).mkString(",")}]}"""
  }

  def writeFile(path: String, text: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, text.getBytes("UTF-8"))
  }

  def log(msg: String): Unit = System.err.println(s"[fraudbench] $msg")
}
