package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.Bridge

/** Native AS-OF JOIN — the one operator family where composing built-ins
  * genuinely under-expresses the semantics, so it exercises the LAST rung
  * of the custom-operator preference order (SURVEY §2c: compose → native
  * expression → LogicalPlan + Strategy + SparkPlan): a whole-operator
  * Catalyst extension. q42 expresses the single-table as-of as a running
  * conditional max WINDOW — correct, but the two-table form via that
  * route must union the tables and window over the combined stream,
  * materializing a window frame per row. This operator instead plans a
  * first-class merge: both sides hash-partition by key and sort by
  * (key, ts) — declared via `requiredChildDistribution` /
  * `requiredChildOrdering`, so EnsureRequirements plans the exchanges
  * and sorts exactly as it does for a sort-merge join — then ONE
  * forward-only merge pass per partition pairs each left row with the
  * latest right row at-or-before it. O(1) state per partition (the one
  * buffered right row), no window frame, no union.
  *
  * Reference frame: this is the reference's shuffle-sort-reduce skeleton
  * (MapReduceFramework.cpp:150-218 — partition by key, sort within
  * partition, whole-group reduce) specialized to a two-stream merge
  * reduce, built as a Catalyst physical operator instead of a job.
  *
  * Contract: keys and timestamps are non-null 64-bit (LongType or
  * TimestampType — both long-backed); ties on right (key, ts) resolve to
  * the LAST row in sort order, so callers wanting determinism add a
  * tiebreak column to the right sort (the registered q147 has unique
  * (key, ts) pairs). Partition counts are pinned on both required
  * distributions, so AQE cannot coalesce the two sides asymmetrically
  * under the 1:1 `zipPartitions`.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Attribute,
    leftTs: Attribute,
    rightKey: Attribute,
    rightTs: Attribute)
  extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Planner rule: AsOfJoinPlan → AsOfJoinExec (registered per session via
  * `experimental.extraStrategies` — the public strategy-injection point).
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, lts, rk, rts) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, lts, rk, rts) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Attribute,
    leftTs: Attribute,
    rightKey: Attribute,
    rightTs: Attribute)
  extends SparkPlan with BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  // pin the partition count: both children must land on the SAME number
  // of hash partitions for the 1:1 partition merge below; a fixed count
  // also stops AQE from coalescing one side and not the other
  override def requiredChildDistribution: Seq[Distribution] = {
    val n = Some(conf.numShufflePartitions)
    ClusteredDistribution(Seq(leftKey), requiredNumPartitions = n) ::
      ClusteredDistribution(Seq(rightKey), requiredNumPartitions = n) :: Nil
  }

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lSchema = left.output
    val rSchema = right.output
    val out = output
    val (lk, lts, rk, rts) = (leftKey, leftTs, rightKey, rightTs)
    val rightWidth = rSchema.size
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val lProj = UnsafeProjection.create(Seq(lk, lts), lSchema)
      val rProj = UnsafeProjection.create(Seq(rk, rts), rSchema)
      val resultProj = UnsafeProjection.create(out, lSchema ++ rSchema)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rightWidth)
      val rBuf = rIt.buffered
      var haveCur = false
      var curKey = 0L
      var curRow: InternalRow = null
      lIt.map { lrow =>
        val lkeys = lProj(lrow)
        val lkv = lkeys.getLong(0)
        val ltv = lkeys.getLong(1)
        var advance = true
        while (advance && rBuf.hasNext) {
          val rkeys = rProj(rBuf.head)
          val rkv = rkeys.getLong(0)
          val rtv = rkeys.getLong(1)
          if (rkv < lkv || (rkv == lkv && rtv <= ltv)) {
            // consume; retain a COPY (unsafe rows are buffer-reused)
            curKey = rkv
            curRow = rBuf.next().copy()
            haveCur = true
          } else advance = false
        }
        if (haveCur && curKey == lkv) resultProj(joined(lrow, curRow))
        else resultProj(joined(lrow, nullRight))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoin {
  /** As-of join `left` to `right`: each left row pairs with the latest
    * right row having `right(rightKey) == left(leftKey)` and
    * `right(rightTs) <= left(leftTs)`, or nulls when none exists. The
    * caller's session must carry [[AsOfJoinStrategy]] (see [[session]]).
    */
  def apply(leftDf: DataFrame, rightDf: DataFrame,
      leftKey: String, leftTs: String,
      rightKey: String, rightTs: String): DataFrame = {
    val lp = leftDf.queryExecution.analyzed
    val rp = rightDf.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no column '$n' in ${p.output.map(_.name)}"))
    Bridge.ofRows(leftDf.sparkSession,
      AsOfJoinPlan(lp, rp, attr(lp, leftKey), attr(lp, leftTs),
        attr(rp, rightKey), attr(rp, rightTs)))
  }

  /** A child session carrying the strategy (q92's own-session
    * discipline — the shared session's planner is never mutated).
    */
  def session(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession = {
    val ses = graft.streaming.StreamFixture.child(s)
    ses.experimental.extraStrategies = Seq(AsOfJoinStrategy)
    ses
  }
}
