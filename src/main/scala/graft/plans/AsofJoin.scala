package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.graftbridge.Bridge

/** Match direction for the native as-of join — the three modes every real
  * as-of API exposes, each mirroring its windowed-emulation twin:
  *  - [[AsofMode.Backward]]: greatest right.ts strictly BEFORE left.ts,
  *    equal-ts ties to the GREATEST tiebreak (join_asof's semantics);
  *  - [[AsofMode.Forward]]: smallest right.ts strictly AFTER left.ts,
  *    ties to the SMALLEST tiebreak (join_asof_forward's);
  *  - [[AsofMode.Nearest]]: minimal |Δts| in either direction (equal ts
  *    counts, distance 0), distance ties to the EARLIER right.ts then the
  *    smallest tiebreak (join_asof_nearest's). Requires a ts type whose
  *    eval values are numeric (timestamps eval to Long micros). */
sealed trait AsofMode
object AsofMode {
  case object Backward extends AsofMode
  case object Forward extends AsofMode
  case object Nearest extends AsofMode
}

/** Native AS-OF join (SURVEY.md §2.C `join_asof`; stretch component —
  * custom LogicalPlan + Strategy + SparkPlan per the preference ladder).
  *
  * Semantics: for every left row, attach the single right row with the same
  * key selected by [[AsofMode]] (backward/forward/nearest); unmatched left
  * rows null-extend — identical to the windowed emulations in
  * operators.Relational (`join_asof`, `join_asof_forward`,
  * `join_asof_nearest`), which the oracles check.
  *
  * Scale: the windowed emulations materialize every candidate pair before
  * ranking — O(pairs-per-key) after the shuffle. This operator
  * hash-partitions both sides on the key, sorts within partitions
  * ((key, ts) / (key, ts, tie) — Spark's existing Exchange + Sort machinery
  * via requiredChildDistribution/Ordering), then streams a single forward
  * merge per partition: O(n log n) total, O(1) state per key — every mode
  * rides the SAME sorted merge, the backward/forward/nearest difference is
  * only which side of the cursor supplies the candidate. At 100 TB the
  * pair blow-up is the difference between a job that finishes and one that
  * doesn't.
  */
case class AsofJoin(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    rightTie: Expression, mode: AsofMode = AsofMode.Backward,
    toleranceMicros: Option[Long] = None) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(l: LogicalPlan, r: LogicalPlan): AsofJoin =
    copy(left = l, right = r)
}

object AsofStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoin(l, r, lk, rk, lts, rts, tie, mode, tol) =>
      AsofJoinExec(planLater(l), planLater(r), lk, rk, lts, rts, tie, mode, tol) :: Nil
    case _ => Nil
  }
}

/** `toleranceMicros`: optional STALENESS BOUND (the tolerance every real
  * as-of API exposes beside the direction) — a candidate only matches
  * within `|Δts| <= tolerance` of the probe (backward: lt − rt, forward:
  * rt − lt, nearest: either side). The merge itself is unchanged — the
  * bound is a per-probe O(1) check on the already-selected candidate, so
  * the operator keeps its linear one-pass shape (vs the emulation, whose
  * bound caps the PAIR EXPANSION — here there are no pairs to cap).
  * Requires a ts type that evals numerically (timestamps → Long micros),
  * same precondition the Nearest mode already carries. */
case class AsofJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    rightTie: Expression, mode: AsofMode = AsofMode.Backward,
    toleranceMicros: Option[Long] = None) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // hash-co-partition both sides on the join key…
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  // …and sort within partitions so one forward pass suffices
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, org.apache.spark.sql.catalyst.expressions.Ascending),
      SortOrder(leftTs, org.apache.spark.sql.catalyst.expressions.Ascending)),
    Seq(SortOrder(rightKey, org.apache.spark.sql.catalyst.expressions.Ascending),
      SortOrder(rightTs, org.apache.spark.sql.catalyst.expressions.Ascending),
      SortOrder(rightTie, org.apache.spark.sql.catalyst.expressions.Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val lKey = BindReferences.bindReference(leftKey, left.output)
    val lTs = BindReferences.bindReference(leftTs, left.output)
    val rKey = BindReferences.bindReference(rightKey, right.output)
    val rTs = BindReferences.bindReference(rightTs, right.output)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val tsOrd = TypeUtils.getInterpretedOrdering(leftTs.dataType)
    val rightArity = right.output.size

    val joinMode = mode
    val tol = toleranceMicros.getOrElse(-1L) // negative = unbounded

    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      val nullRight = new GenericInternalRow(rightArity)
      val joined = new JoinedRow
      // BACKWARD: last discardable row seen (equal-ts runs sort tie-asc, so
      // overwrite-on-each keeps the GREATEST tie). NEAREST: FIRST row of
      // the latest discardable equal-ts run (smallest tie).
      var buffered: InternalRow = null
      var bufferedKey: Any = null
      var bufferedTs: Any = null
      var lookahead: InternalRow = null
      def advanceLookahead(): Unit =
        lookahead = if (ri.hasNext) ri.next().copy() else null
      advanceLookahead()
      def micros(ts: Any): Long = ts.asInstanceOf[Number].longValue()

      li.map { lRow =>
        val lk = lKey.eval(lRow)
        val lt = lTs.eval(lRow)
        if (lk == null || lt == null) {
          // SQL join semantics: a null key/ts never matches — null-extend.
          // (Interpreted orderings unbox null to 0, so nulls must never
          // reach the comparators.)
          joined(lRow, nullRight)
        } else {
          // consume right rows that are no longer ahead of this left row:
          // backward consumes rt < lt (buffering the latest), forward
          // discards rt <= lt, nearest consumes rt <= lt into the
          // first-of-run buffer. Discards are permanent — both sides
          // ascend in (key, ts), so a row behind this left row is behind
          // every later one too.
          var continue = true
          while (continue && lookahead != null) {
            val rk = rKey.eval(lookahead)
            val rt = if (rk == null) null else rTs.eval(lookahead)
            if (rk == null || rt == null) {
              advanceLookahead() // null-keyed right rows match nothing
            } else {
              val ck = keyOrd.compare(rk, lk)
              val ct = if (ck == 0) tsOrd.compare(rt, lt) else 0
              val consumable = ck < 0 || (ck == 0 && (joinMode match {
                case AsofMode.Backward => ct < 0
                case _ => ct <= 0
              }))
              if (!consumable) {
                continue = false
              } else {
                if (ck == 0) joinMode match {
                  case AsofMode.Forward => // forward never looks behind
                  case AsofMode.Backward =>
                    buffered = lookahead; bufferedKey = rk; bufferedTs = rt
                  case AsofMode.Nearest =>
                    // keep only the FIRST row of each equal-ts run
                    if (buffered == null || keyOrd.compare(bufferedKey, rk) != 0 ||
                        tsOrd.compare(bufferedTs, rt) != 0) {
                      buffered = lookahead; bufferedKey = rk; bufferedTs = rt
                    }
                }
                advanceLookahead()
              }
            }
          }
          val back0 =
            if (buffered != null && keyOrd.compare(bufferedKey, lk) == 0 &&
                (joinMode match {
                  case AsofMode.Backward => tsOrd.compare(bufferedTs, lt) < 0
                  case _ => tsOrd.compare(bufferedTs, lt) <= 0
                })) buffered
            else null
          val fwd0 =
            if (lookahead != null && {
                val rk = rKey.eval(lookahead)
                rk != null && keyOrd.compare(rk, lk) == 0
              }) lookahead
            else null
          // staleness bound: O(1) per-probe check on the selected
          // candidates — a bounded candidate too far from the probe is a
          // non-match (the emulation's v_ts >= ts - INTERVAL semantics)
          val back =
            if (back0 != null && tol >= 0 && micros(lt) - micros(bufferedTs) > tol) null
            else back0
          val fwd =
            if (fwd0 != null && tol >= 0 && micros(rTs.eval(fwd0)) - micros(lt) > tol) null
            else fwd0
          val m = joinMode match {
            case AsofMode.Backward => back
            case AsofMode.Forward => fwd // first row with rt > lt: smallest (ts, tie)
            case AsofMode.Nearest =>
              if (back == null) fwd
              else if (fwd == null) back
              else {
                // equal distance ties BACKWARD (the earlier right.ts) —
                // mirrors the emulation's (dist, v_ts, id) ascending rank
                val db = micros(lt) - micros(bufferedTs)
                val df = micros(rTs.eval(fwd)) - micros(lt)
                if (db <= df) back else fwd
              }
          }
          if (m != null) joined(lRow, m) else joined(lRow, nullRight)
        }
      }
    }
  }

  override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): AsofJoinExec =
    copy(left = l, right = r)
}

/** DataFrame-level entry point. Registers the planner strategy on the
  * session at runtime (`experimental.extraStrategies`, idempotent), so
  * no session needs a builder-time extension. */
object AsofJoinApi {
  def ensureStrategy(spark: SparkSession): Unit = {
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(AsofStrategy))
      exp.extraStrategies = exp.extraStrategies :+ AsofStrategy
  }

  /** Column names resolved on each side; `mode` picks the match direction
    * (default backward: strictly-before, latest-wins, greatest-tie);
    * `toleranceMicros` bounds the match distance (see [[AsofJoinExec]]). */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String, rightTie: String,
      mode: AsofMode = AsofMode.Backward,
      toleranceMicros: Option[Long] = None): DataFrame = {
    val spark = left.sparkSession
    ensureStrategy(spark)
    val lp = Bridge.analyzed(left)
    val rp = Bridge.analyzed(right)
    def attr(p: LogicalPlan, n: String) = p.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"column $n not found in ${p.output.map(_.name)}"))
    val (lk, rk) = (attr(lp, leftKey), attr(rp, rightKey))
    val (lt, rt) = (attr(lp, leftTs), attr(rp, rightTs))
    // fail at plan time, not with a ClassCastException inside the executor
    // orderings: the interpreted comparators assume both sides share a type
    def sameType(what: String, a: Attribute, b: Attribute): Unit =
      if (a.dataType != b.dataType)
        throw new IllegalArgumentException(
          s"asofJoin $what types must match: ${a.name} is ${a.dataType.sql}, " +
            s"${b.name} is ${b.dataType.sql} — cast one side first")
    sameType("key", lk, rk)
    sameType("timestamp", lt, rt)
    Bridge.ofRows(spark,
      AsofJoin(lp, rp, lk, rk, lt, rt, attr(rp, rightTie), mode, toleranceMicros))
  }
}
