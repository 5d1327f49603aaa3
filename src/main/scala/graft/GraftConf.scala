package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf

/** The graft session knobs, each declared once with its key, default and
  * parser. Keys sit under `spark.graft.`, the only prefix spark-submit
  * `--conf` and `-D` system properties forward into a session. A bad value,
  * or an undeclared `graft.` key ([[check]]), fails naming the key.
  */
object GraftConf {

  final class Knob[A] private[GraftConf] (val key: String, default: A, accepted: String,
      parser: String => Option[A]) {
    def parse(v: String): A = GraftConf.parse(key, accepted, v)(parser)
    /** One conf lookup; the default when unset. */
    def get(conf: SQLConf): A = Option(conf.getConfString(key, null)).fold(default)(parse)
    def get(spark: SparkSession): A = get(spark.sessionState.conf)
  }

  def parse[A](name: String, accepted: String, v: String)(parser: String => Option[A]): A =
    parser(v.trim).getOrElse(
      throw new IllegalArgumentException(s"$name must be $accepted, got '$v'"))

  private def choice(key: String, values: String*) = // the first value is the default
    new Knob[String](key, values.head, values.mkString("|"), Some(_).filter(values.contains))
  private def positive(key: String, default: Long, unit: String) =
    new Knob[Long](key, default, s"a positive number of $unit", _.toLongOption.filter(_ > 0))

  // Graph.copurchaseWeightedEdges: pins every auto caller to one arm
  val ForcePath = choice("spark.graft.copurchase.forcePath", "auto", "salted", "prefilter", "plain")
  // Similarity.materialized: how the tiled scans pin their corpus frame
  val Materialize = choice("spark.graft.materialize", "checkpoint", "persist")
  // IntervalJoinStrategy's kill switch and its exec's caps on the collected side
  val IntervalJoinEnabled =
    new Knob[Boolean]("spark.graft.intervalJoin.enabled", true, "true|false", _.toBooleanOption)
  val MaxBroadcastRows = positive("spark.graft.intervalJoin.maxBroadcastRows", 512000000L, "rows")
  val MaxBroadcastBytes = positive("spark.graft.intervalJoin.maxBroadcastBytes", 8L << 30, "bytes")

  val knobs: Seq[Knob[_]] =
    Seq(ForcePath, Materialize, IntervalJoinEnabled, MaxBroadcastRows, MaxBroadcastBytes)

  /** Fails on a bad knob value or an undeclared `graft.`/`spark.graft.` key. */
  def check(key: String, value: String): Unit = knobs.find(_.key == key) match {
    case Some(k) => k.parse(value)
    case None if key.startsWith("graft.") || key.startsWith("spark.graft.") =>
      throw new IllegalArgumentException(
        s"unknown graft conf '$key' (known: ${knobs.map(_.key).mkString(", ")})")
    case None =>
  }
}
