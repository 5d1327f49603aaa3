package graft.plans

import graft.GraftConf
import org.apache.spark.SparkException
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, JoinHint, LogicalPlan}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DoubleType

/** Custom whole-operator extension (SURVEY §7.4 tier c — LogicalPlan
  * pattern + SparkStrategy + physical SparkPlan): a broadcast
  * point-in-interval join.
  *
  * Spark plans `fact JOIN dim ON v >= lo AND v < hi` as
  * BroadcastNestedLoopJoin: every fact row scans EVERY dim interval —
  * O(|fact|·|dim|) comparisons. For banded dimensions (rate tables, price
  * bands, time buckets — the reference's UCL-band classification shape)
  * the right plan is an interval INDEX probed per row:
  * O(|fact|·(log |dim| + matches)).
  *
  * [[IntervalJoinStrategy]] pattern-matches an inner join whose condition
  * is exactly a lower and an upper bound between one left-side double
  * expression and two right-side double expressions, with a
  * broadcast-sized right side; [[BroadcastIntervalJoinExec]] sorts the
  * collected intervals by `lo` carrying a running max of `hi` (the
  * augmented-list interval index: scanning left from the lo-bound stops
  * as soon as the prefix max-hi falls below the probe — no tree needed),
  * broadcasts the index, and streams the fact side through it unshuffled.
  *
  * Registered by `GraftExtensions.injectPlannerStrategy`; disable with
  * `spark.graft.intervalJoin.enabled=false`. Results are identical to the
  * BNLJ plan — the exec evaluates the same comparisons, only against
  * index-pruned candidates (IntervalJoinSpec pins the equivalence and
  * both fallback paths).
  */
object IntervalJoinStrategy extends SparkStrategy {

  /** (point, lo, hi, lowerInclusive, upperInclusive) when the condition is
    * a two-sided band on one left expression against right-side bounds.
    */
  private[plans] def extractBand(
      cond: Expression, left: LogicalPlan, right: LogicalPlan,
  ): Option[(Expression, Expression, Expression, Boolean, Boolean)] = cond match {
    case And(c1, c2) =>
      def leftOnly(e: Expression) =
        e.references.subsetOf(left.outputSet) && e.deterministic
      def rightOnly(e: Expression) =
        e.references.subsetOf(right.outputSet) && e.deterministic
      // normalize each conjunct to (point, bound, isLower, inclusive),
      // with the point on the LEFT plan and the bound on the RIGHT
      def norm(c: Expression): Option[(Expression, Expression, Boolean, Boolean)] = c match {
        case GreaterThanOrEqual(x, y) if leftOnly(x) && rightOnly(y) => Some((x, y, true, true))
        case GreaterThan(x, y) if leftOnly(x) && rightOnly(y) => Some((x, y, true, false))
        case LessThanOrEqual(x, y) if leftOnly(x) && rightOnly(y) => Some((x, y, false, true))
        case LessThan(x, y) if leftOnly(x) && rightOnly(y) => Some((x, y, false, false))
        case GreaterThanOrEqual(y, x) if leftOnly(x) && rightOnly(y) => Some((x, y, false, true))
        case GreaterThan(y, x) if leftOnly(x) && rightOnly(y) => Some((x, y, false, false))
        case LessThanOrEqual(y, x) if leftOnly(x) && rightOnly(y) => Some((x, y, true, true))
        case LessThan(y, x) if leftOnly(x) && rightOnly(y) => Some((x, y, true, false))
        case _ => None
      }
      (norm(c1), norm(c2)) match {
        case (Some((p1, b1, true, i1)), Some((p2, b2, false, i2)))
            if p1.semanticEquals(p2) && Seq(p1, b1, b2).forall(_.dataType == DoubleType) =>
          Some((p1, b1, b2, i1, i2))
        case (Some((p1, b1, false, i1)), Some((p2, b2, true, i2)))
            if p1.semanticEquals(p2) && Seq(p1, b1, b2).forall(_.dataType == DoubleType) =>
          Some((p1, b2, b1, i2, i1))
        case _ => None
      }
    case _ => None
  }

  /** An explicit join-strategy hint steers planning away from this
    * substitution: any left-side strategy hint, or a right-side hint other
    * than BROADCAST (e.g. SHUFFLE_MERGE / SHUFFLE_REPLICATE_NL), makes the
    * strategy back off and leave the plan to Spark. A right-side BROADCAST
    * hint is an explicit request for the broadcast shape — it both permits
    * the substitution and bypasses the stats-estimate size gate (the
    * execution-time cap in the exec still bounds the actual collect).
    */
  private[plans] def hintConflicts(hint: JoinHint): Boolean =
    hint.leftHint.exists(_.strategy.isDefined) ||
      hint.rightHint.exists(_.strategy.exists(_ != BROADCAST))

  private[plans] def rightBroadcastHinted(hint: JoinHint): Boolean =
    hint.rightHint.exists(_.strategy.contains(BROADCAST))

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Join(left, right, Inner, Some(cond), hint)
        if GraftConf.IntervalJoinEnabled.get(SQLConf.get) &&
          !hintConflicts(hint) &&
          (rightBroadcastHinted(hint) ||
            (right.stats.sizeInBytes >= 0 &&
              right.stats.sizeInBytes <= SQLConf.get.autoBroadcastJoinThreshold)) =>
      extractBand(cond, left, right) match {
        case Some((point, lo, hi, loIncl, hiIncl)) =>
          BroadcastIntervalJoinExec(planLater(left), planLater(right),
            point, lo, hi, loIncl, hiIncl) :: Nil
        case None => Nil
      }
    case _ => Nil
  }
}

/** Inner join of a streamed point side against a broadcast interval index.
  * The right side is collected once (broadcast-sized by the strategy's
  * stats guard), sorted by `lo` with a running prefix max of `hi`; each
  * left row binary-searches the last admissible `lo` and walks left while
  * the prefix max-hi can still reach its point value. All comparisons use
  * Spark SQL's double total order (NaN greater than everything,
  * -0.0 == 0.0); null points or bounds never match — identical to the
  * comparison semantics of the BNLJ plan this replaces, property-pinned
  * in IntervalJoinSpec.
  */
case class BroadcastIntervalJoinExec(
    left: SparkPlan, right: SparkPlan,
    point: Expression, lo: Expression, hi: Expression,
    loInclusive: Boolean, hiInclusive: Boolean,
) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numIntervals" -> SQLMetrics.createMetric(sparkContext, "broadcast intervals"))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numIntervals = longMetric("numIntervals")
    val loBound = BindReferences.bindReference(lo, right.output)
    val hiBound = BindReferences.bindReference(hi, right.output)
    // rows with a null bound can never satisfy the comparisons (three-
    // valued logic) — drop them from the index; NaN bounds STAY: Spark
    // SQL's double comparisons use the total order where NaN is greater
    // than every value (0.0 < NaN is TRUE), so hi = NaN behaves as an
    // open top and lo = NaN admits only NaN points — the index must
    // reproduce that, not IEEE all-false NaN semantics (the property
    // spec's minimal counterexample for the IEEE version was exactly
    // point 0.0 vs interval (-Inf, NaN))
    // Execution-time broadcast enforcement, mirroring Spark's own
    // BroadcastExchange limits (512m rows / 8 GB): the planner gated on a
    // STATS ESTIMATE, which a filter/join upstream can underestimate
    // arbitrarily. RESIDUAL RISK: the caps are checked only AFTER
    // executeCollect() has materialized the right side on the driver —
    // the same window Spark's own BroadcastExchange has — so a grossly
    // mis-estimated side can still OOM during the collect itself; the
    // caps convert the survivable over-budget case into a diagnosable
    // error with a named escape hatch, they are not a hard memory bound.
    val rightRows = right.executeCollect()
    val maxRows = GraftConf.MaxBroadcastRows.get(SQLConf.get)
    if (rightRows.length >= maxRows)
      throw new SparkException(
        s"BroadcastIntervalJoinExec: cannot broadcast ${rightRows.length} interval rows " +
          s"(cap $maxRows). The planner's size estimate was wrong; disable with " +
          s"${GraftConf.IntervalJoinEnabled.key}=false to fall back to Spark's join planning.")
    val maxBytes = GraftConf.MaxBroadcastBytes.get(SQLConf.get)
    var estBytes = 0L
    var ri = 0
    while (ri < rightRows.length) {
      rightRows(ri) match {
        case u: UnsafeRow => estBytes += u.getSizeInBytes
        case _ => estBytes += 64 // non-unsafe rows: conservative floor
      }
      if (estBytes > maxBytes)
        throw new SparkException(
          s"BroadcastIntervalJoinExec: broadcast side exceeds $maxBytes bytes " +
            s"(at row $ri of ${rightRows.length}). Disable with " +
            s"${GraftConf.IntervalJoinEnabled.key}=false to fall back to Spark's join planning.")
      ri += 1
    }
    val collected = rightRows.flatMap { r =>
      (loBound.eval(r), hiBound.eval(r)) match {
        case (l: java.lang.Double, h: java.lang.Double) =>
          Some((l.doubleValue(), h.doubleValue(), r))
        case _ => None
      }
    }.sortBy(_._1) // 2.13 Ordering[Double] = total order, NaN last
    val loArr = collected.map(_._1)
    val hiArr = collected.map(_._2)
    val maxHi = new Array[Double](collected.length)
    var i = 0
    var mx = Double.NegativeInfinity
    while (i < collected.length) {
      if (BroadcastIntervalJoinExec.cmp(hiArr(i), mx) > 0) mx = hiArr(i)
      maxHi(i) = mx
      i += 1
    }
    numIntervals += collected.length
    val index = sparkContext.broadcast((loArr, hiArr, maxHi, collected.map(_._3)))
    val (locLoIncl, locHiIncl) = (loInclusive, hiInclusive)
    val locPoint = point
    val leftOutput = left.output
    val fullOutput = output
    left.execute().mapPartitions { iter =>
      import BroadcastIntervalJoinExec.cmp
      val (los, his, mxs, rows) = index.value
      val pointBound = BindReferences.bindReference(locPoint, leftOutput)
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(fullOutput, fullOutput)
      iter.flatMap { leftRow =>
        pointBound.eval(leftRow) match {
          case v: java.lang.Double =>
            val p = v.doubleValue()
            // last index whose lo admits p: lo <= p (inclusive) / lo < p,
            // in the same total order the sort used — the admit predicate
            // is monotone along the sorted lo array
            var start = -1
            var a = 0
            var b = los.length - 1
            while (a <= b) {
              val m = (a + b) >>> 1
              val c = cmp(los(m), p)
              val admit = if (locLoIncl) c <= 0 else c < 0
              if (admit) { start = m; a = m + 1 } else b = m - 1
            }
            new Iterator[InternalRow] {
              private var j = start
              private var ready: InternalRow = null
              private def advance(): Unit = {
                while (ready == null && j >= 0 && cmp(mxs(j), p) >= 0) {
                  val c = cmp(p, his(j))
                  val ok = if (locHiIncl) c <= 0 else c < 0
                  if (ok) ready = rows(j)
                  j -= 1
                }
              }
              override def hasNext: Boolean = { advance(); ready != null }
              override def next(): InternalRow = {
                advance()
                val r = ready
                ready = null
                numOutputRows += 1
                proj(joined(leftRow, r))
              }
            }
          case _ => Iterator.empty
        }
      }
    }
  }
}

object BroadcastIntervalJoinExec {
  /** Spark SQL's double comparison (SQLOrderingUtil shape): primitive
    * equality first — so -0.0 == 0.0 — then java.lang.Double.compare,
    * which places NaN above positive infinity.
    */
  @inline private[plans] def cmp(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)
}
