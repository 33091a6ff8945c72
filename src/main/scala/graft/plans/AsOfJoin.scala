package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Distributed backward as-of join as a first-class operator
  * (SURVEY.md §2.2 joins row; the operator Spark's Dataset API lacks):
  * for each left row, the LATEST right row with the same key and
  * `right.time <= left.time`.
  *
  * Physical shape — the 100 TB formulation:
  *   - one hash shuffle per side on the key (ClusteredDistribution);
  *   - per-partition sort by (key, time[, tiebreak]) — Spark inserts the
  *     SortExec nodes to satisfy requiredChildOrdering;
  *   - a single O(nL + nR) merge pass per partition holding ONE buffered
  *     right row — no per-key point lookups, no window materialization
  *     (the composed alternative, q16, materializes every candidate pair
  *     before row_number filters them).
  *
  * Key and time expressions must be long-valued (the API layer casts —
  * timestamps go through their microsecond representation, losslessly).
  * Null keys/times never match; with `outer=true` unmatched left rows
  * emit null right columns.
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, leftTime: Expression,
    rightKey: Expression, rightTime: Expression,
    rightTieBreak: Option[Expression], outer: Boolean)
  extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, lt, rk, rt, tb, outer) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, lt, rk, rt, tb, outer) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Expression, leftTime: Expression,
    rightKey: Expression, rightTime: Expression,
    rightTieBreak: Option[Expression], outer: Boolean)
  extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)) ++
      rightTieBreak.map(SortOrder(_, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyB = BindReferences.bindReference(leftKey, left.output)
    val lTimeB = BindReferences.bindReference(leftTime, left.output)
    val rKeyB = BindReferences.bindReference(rightKey, right.output)
    val rTimeB = BindReferences.bindReference(rightTime, right.output)
    val rightWidth = right.output.size
    val outAttrs = output
    val isOuter = outer

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rightWidth)

      new Iterator[InternalRow] {
        private var rRow: InternalRow = _
        private var rKeyV = 0L
        private var rTimeV = 0L
        private var rValid = false
        private var matchRow: InternalRow = _
        private var matchKey = 0L
        private var pending: InternalRow = _

        private def advanceRight(): Unit = {
          rValid = false
          while (!rValid && rIter.hasNext) {
            val r = rIter.next()
            val k = rKeyB.eval(r)
            val t = rTimeB.eval(r)
            if (k != null && t != null) {
              rRow = r
              rKeyV = k.asInstanceOf[Long]
              rTimeV = t.asInstanceOf[Long]
              rValid = true
            }
          }
        }
        advanceRight()

        private def computeNext(): Unit = {
          pending = null
          while (pending == null && lIter.hasNext) {
            val l = lIter.next()
            val lk = lKeyB.eval(l)
            val lt = lTimeB.eval(l)
            if (lk != null && lt != null) {
              val lKeyV = lk.asInstanceOf[Long]
              val lTimeV = lt.asInstanceOf[Long]
              // consume right rows up to (key, time): sorted merge — each
              // right row is visited exactly once per partition
              while (rValid && (rKeyV < lKeyV ||
                  (rKeyV == lKeyV && rTimeV <= lTimeV))) {
                if (rKeyV == lKeyV) {
                  matchRow = rRow.copy() // sorter reuses row objects
                  matchKey = rKeyV
                }
                advanceRight()
              }
              if (matchRow != null && matchKey == lKeyV) {
                pending = proj(joined(l, matchRow))
              } else if (isOuter) {
                pending = proj(joined(l, nullRight))
              }
            } else if (isOuter) {
              pending = proj(joined(l, nullRight))
            }
          }
        }
        computeNext()

        override def hasNext: Boolean = pending != null
        override def next(): InternalRow = {
          val out = pending.copy()
          computeNext()
          out
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** User-facing API. Left rows must be sorted-joinable on long-valued key
  * and time columns; timestamps are converted to epoch microseconds.
  * Planning needs [[AsOfJoinStrategy]], which `graft.GraftExtensions`
  * installs in every session `GraftSession` builds or attaches to. */
object AsOf {

  /** Long-valued view of a column: TimestampType already evaluates to its
    * internal epoch-microsecond Long (so does LongType); anything else
    * gets an explicit Cast. Both sides of the join use the same
    * convention, so comparisons are consistent. */
  private def longExpr(plan: LogicalPlan, name: String): Expression = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val a = plan.output.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no column $name"))
    a.dataType match {
      case LongType | TimestampType => a
      case _ => Cast(a, LongType)
    }
  }

  /** as-of join `left` to `right`: per left row, the latest right row with
    * `right(rightTime) <= left(leftTime)` on the same key. */
  def join(left: DataFrame, right: DataFrame,
      leftKey: String, leftTime: String,
      rightKey: String, rightTime: String,
      rightTieBreak: Option[String] = None,
      outer: Boolean = false): DataFrame = {
    val spark = left.sparkSession
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String) = p.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"no column $n"))
    GraftBridge.ofRows(spark, AsOfJoinPlan(lp, rp,
      longExpr(lp, leftKey), longExpr(lp, leftTime),
      longExpr(rp, rightKey), longExpr(rp, rightTime),
      rightTieBreak.map(attr(rp, _)), outer))
  }
}
