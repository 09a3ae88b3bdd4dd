package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, BindReferences, Descending, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.graft.GraftSqlShim

/** Native as-of join — the full custom-operator extension tier (logical node
  * → planner strategy → physical operator), for the one relational shape the
  * built-in operators cannot express as a single pass: "for every left row,
  * the latest right row with the same key and an earlier timestamp".
  *
  * The composed alternative ([[graft.operators.Relational.asofPrevPurchase]],
  * union + ignore-nulls last_value window) is preference (a) of the build
  * rules and remains the oracle; it works when both sides can be unioned into
  * one relation (same column budget) — but it carries the WHOLE union through
  * one window sort and cannot preserve two distinct payloads without
  * struct-packing. This operator is the general form: each side keeps its own
  * schema, and the physical plan is exactly what a purpose-built engine runs —
  * hash-partition both sides on the key, sort each partition by (key, time),
  * then a single streaming merge pass per partition with O(1) state (the one
  * retained candidate row). No window buffering, no union, and the planner
  * contract (`requiredChildDistribution`/`requiredChildOrdering`) lets
  * Catalyst elide the exchange or sort when the child already satisfies it
  * (e.g. bucketed tables).
  *
  * Scale: one shuffle per side (the theoretical minimum for a keyed join),
  * merge state is a single row regardless of partition size, and AQE still
  * re-plans the exchanges (skew split applies to the sort inputs). Null keys
  * never match (SQL join semantics); null timestamps never match.
  */
object AsOf {

  /** As-of join `left` with `right` on equal keys and, for the default
    * backward direction, `rightTime < leftTime` (`strict = false` for ≤):
    * each left row gets the LATEST earlier right row. `forward = true`
    * flips the axis: the EARLIEST later right row (`rightTime > leftTime`) —
    * the next-event-attribution shape ("first purchase after each error").
    * Right columns come back null for unmatched left rows. `rightTiebreak`
    * pins which right row wins among equal timestamps (backward: the max,
    * matching `ORDER BY time DESC, tiebreak DESC LIMIT 1`; forward: the
    * min, matching `ORDER BY time ASC, tiebreak ASC LIMIT 1`).
    * Column names should be disjoint across the two sides (project/rename
    * first, as with any Spark self-join).
    */
  def join(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[(String, String)],
      leftTime: String,
      rightTime: String,
      rightTiebreak: Seq[String] = Nil,
      strict: Boolean = true,
      forward: Boolean = false): DataFrame = {
    require(keys.nonEmpty, "as-of join needs at least one equi-key")
    val spark = left.sparkSession
    val lPlan = left.queryExecution.analyzed
    // fresh ExprIds on the right side so self-joins (same source both sides)
    // don't alias the same attributes into both children
    val rPlan = Project(
      right.queryExecution.analyzed.output.map(a => Alias(a, a.name)()),
      right.queryExecution.analyzed)
    def attr(plan: LogicalPlan, name: String, side: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"$side column '$name' not in [${plan.output.map(_.name).mkString(", ")}]"))
    // The merge compares right-side rows with orderings built from the LEFT
    // side's data types (no analyzer implicit-cast pass runs over this node),
    // so a type mismatch would compare raw values of different widths —
    // silently wrong matches, not an analysis error. Fail fast instead;
    // callers cast explicitly.
    def requireSameType(l: Attribute, r: Attribute, what: String): Unit =
      require(org.apache.spark.sql.types.DataType.equalsStructurally(l.dataType, r.dataType, ignoreNullability = true),
        s"as-of join $what types must match exactly (no implicit casts run " +
          s"inside the native operator): left '${l.name}' is ${l.dataType.sql}, " +
          s"right '${r.name}' is ${r.dataType.sql} — cast one side first")
    val lKeys = keys.map(k => attr(lPlan, k._1, "left"))
    val rKeys = keys.map(k => attr(rPlan, k._2, "right"))
    lKeys.lazyZip(rKeys).foreach(requireSameType(_, _, "key"))
    val lTime = attr(lPlan, leftTime, "left")
    val rTime = attr(rPlan, rightTime, "right")
    requireSameType(lTime, rTime, "time")
    val node = AsOfJoinPlan(
      lPlan, rPlan,
      lKeys,
      rKeys,
      lTime,
      rTime,
      rightTiebreak.map(attr(rPlan, _, "right")),
      strict,
      forward)
    GraftSqlShim.ofRows(spark, node)
  }
}

/** Logical as-of join: left output plus the (nullable) right output. */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTiebreak: Seq[Expression],
    strict: Boolean,
    forward: Boolean) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans the logical node 1:1 onto the physical merge operator. The planner
  * learns it from [[graft.GraftExtensions]], which every engine session
  * carries; no other path registers it.
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoinPlan =>
      AsOfJoinExec(
        j.leftKeys, j.rightKeys, j.leftTime, j.rightTime, j.rightTiebreak,
        j.strict, j.forward, planLater(j.left), planLater(j.right)) :: Nil
    case _ => Nil
  }
}

/** Physical as-of merge join.
  *
  * Planner contract: both children hash-clustered on their keys (Catalyst
  * inserts co-partitioned exchanges exactly as for a sort-merge join, or
  * elides them for bucketed/pre-partitioned children) and sorted by
  * (keys…, time[, tiebreak…]) — time ascending for the backward direction,
  * DESCENDING for forward, which makes "earliest later row" the same merge
  * as "latest earlier row" on the reversed axis. Execution is then one pass
  * over the two sorted partition iterators: advance the right side while
  * its (key, time) stays behind the current left row in sort order,
  * retaining only the last qualifying right row — O(left + right) per
  * partition with one buffered row of state, spill-free at any partition
  * size.
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTiebreak: Seq[Expression],
    strict: Boolean,
    forward: Boolean,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "number of matched rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  private def timeDir = if (forward) Descending else Ascending

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, timeDir),
    rightKeys.map(SortOrder(_, Ascending)) ++
      (SortOrder(rightTime, timeDir) +: rightTiebreak.map(SortOrder(_, timeDir))))

  // rows stream out in left order; the exchange layout is the left child's
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    // capture to locals: the closure must not drag the whole operator tree
    val (lKeys, rKeys) = (leftKeys, rightKeys)
    val (lOut, rOut) = (left.output, right.output)
    val boundLeftTime = BindReferences.bindReference(leftTime, lOut)
    val boundRightTime = BindReferences.bindReference(rightTime, rOut)
    val timeOrdering = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val strictLocal = strict
    // forward direction: the sort axis is reversed, so "right row is behind
    // the current left row" means rt > lt instead of rt < lt
    val sign = if (forward) -1 else 1
    val allOut = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val leftKeyProj = UnsafeProjection.create(lKeys, lOut)
      val rightKeyProj = UnsafeProjection.create(rKeys, rOut)
      val keyOrdering = RowOrdering.createNaturalAscendingOrdering(lKeys.map(_.dataType))
      val resultProj = UnsafeProjection.create(allOut, allOut)
      val nullRight = new GenericInternalRow(rOut.length)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        private var rHead: InternalRow = if (rIter.hasNext) rIter.next() else null
        private var matchRow: InternalRow = null // copied; latest qualifying right row
        private var matchKey: InternalRow = null // copied key of matchRow

        private def advanceRight(): Unit =
          rHead = if (rIter.hasNext) rIter.next() else null

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lk = leftKeyProj(l)
          var m: InternalRow = null
          if (!lk.anyNull) {
            val lt = boundLeftTime.eval(l)
            // a retained match from an earlier key is stale
            if (matchKey != null && keyOrdering.compare(matchKey, lk) != 0) {
              matchRow = null; matchKey = null
            }
            if (lt != null) {
              var advancing = true
              while (advancing && rHead != null) {
                val rk = rightKeyProj(rHead)
                if (rk.anyNull) advanceRight() // null keys never match
                else {
                  val c = keyOrdering.compare(rk, lk)
                  if (c < 0) advanceRight() // left is sorted: keys behind lk are done
                  else if (c == 0) {
                    val rt = boundRightTime.eval(rHead)
                    if (rt == null) advanceRight() // null time never matches
                    else {
                      val cmp = sign * timeOrdering.compare(rt, lt)
                      if (if (strictLocal) cmp < 0 else cmp <= 0) {
                        matchRow = rHead.copy()
                        matchKey = rk.copy()
                        advanceRight()
                      } else advancing = false
                    }
                  } else advancing = false
                }
              }
              m = matchRow
            }
          }
          numOutputRows += 1
          if (m != null) {
            numMatched += 1
            resultProj(joined(l, m))
          } else resultProj(joined(l, nullRight))
        }
      }
    }
  }
}
