package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, BindReferences, Expression, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.graft.GraftSqlShim

/** Native keyed interval (range) join — the second whole-operator extension
  * besides [[AsOf]]: emit every (left, right) pair with equal keys whose
  * half-open intervals overlap (`l.start < r.end && r.start < l.end`).
  *
  * Spark plans the composed form (equi-join on the key + range predicates)
  * as a hash join with the range as a post-join filter — correct, but every
  * same-key pair materializes before filtering, so a key with n bookings ×
  * m spans pays n·m comparisons even when intervals are short and sparse.
  * This operator runs the classic sweep-line merge instead (the
  * interval-join of Flink, kdb+ and DuckDB's IEJoin family): both sides
  * hash-clustered on the key and sorted by (key, start); per left row the
  * right side advances while `r.start < l.end` into an active buffer,
  * expired intervals (`r.end <= l.start`) evict from the front, and the
  * buffer content IS the overlap set — O(left + right + output) work with
  * buffer memory bounded by the maximum number of CONCURRENTLY OPEN right
  * intervals per key (the domain's concurrency, not its size).
  *
  * Eviction correctness rests on both orderings: later left rows have
  * `start' ≥ start`, so an evicted right interval (`r.end <= l.start ≤
  * l'.start`) can never overlap a later left row either.
  */
object IntervalJoin {

  /** Inner interval join on equal keys and overlapping [start, end). */
  def join(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[(String, String)],
      leftRange: (String, String),
      rightRange: (String, String)): DataFrame = {
    require(keys.nonEmpty, "interval join needs at least one equi-key")
    val spark = left.sparkSession
    val lPlan = left.queryExecution.analyzed
    val rPlan = Project(
      right.queryExecution.analyzed.output.map(a => Alias(a, a.name)()),
      right.queryExecution.analyzed)
    def attr(plan: LogicalPlan, name: String, side: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"$side column '$name' not in [${plan.output.map(_.name).mkString(", ")}]"))
    // Same contract as AsOf.join: the sweep compares right rows with
    // orderings built from LEFT types and no implicit-cast pass runs over
    // this node, so mismatched key/range types must fail fast, not compare.
    def requireSameType(l: Attribute, r: Attribute, what: String): Unit =
      require(org.apache.spark.sql.types.DataType.equalsStructurally(l.dataType, r.dataType, ignoreNullability = true),
        s"interval join $what types must match exactly (no implicit casts " +
          s"run inside the native operator): '${l.name}' is ${l.dataType.sql}, " +
          s"'${r.name}' is ${r.dataType.sql} — cast one side first")
    val lKeys = keys.map(k => attr(lPlan, k._1, "left"))
    val rKeys = keys.map(k => attr(rPlan, k._2, "right"))
    lKeys.lazyZip(rKeys).foreach(requireSameType(_, _, "key"))
    val lStart = attr(lPlan, leftRange._1, "left")
    val lEnd = attr(lPlan, leftRange._2, "left")
    val rStart = attr(rPlan, rightRange._1, "right")
    val rEnd = attr(rPlan, rightRange._2, "right")
    requireSameType(lStart, lEnd, "range")
    requireSameType(lStart, rStart, "range")
    requireSameType(lStart, rEnd, "range")
    val node = IntervalJoinPlan(
      lPlan, rPlan,
      lKeys,
      rKeys,
      lStart, lEnd,
      rStart, rEnd)
    GraftSqlShim.ofRows(spark, node)
  }
}

case class IntervalJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftStart: Expression,
    leftEnd: Expression,
    rightStart: Expression,
    rightEnd: Expression) extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans the logical node 1:1 onto the physical sweep operator; injected
  * by [[graft.GraftExtensions]] like [[AsOfJoinStrategy]].
  */
object IntervalJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: IntervalJoinPlan =>
      IntervalJoinExec(
        j.leftKeys, j.rightKeys, j.leftStart, j.leftEnd, j.rightStart, j.rightEnd,
        planLater(j.left), planLater(j.right)) :: Nil
    case _ => Nil
  }
}

case class IntervalJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftStart: Expression,
    leftEnd: Expression,
    rightStart: Expression,
    rightEnd: Expression,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    // each task set()s its own partition's max; the driver-side merge of
    // plain metrics is SUM, so the aggregated UI value is the sum of per-task
    // maxima (an upper bound on any single task's buffer) — named accordingly
    "maxBuffered" -> SQLMetrics.createMetric(
      sparkContext, "buffered intervals (sum over tasks of per-task max)"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftStart, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightStart, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val maxBuffered = longMetric("maxBuffered")
    val (lKeys, rKeys) = (leftKeys, rightKeys)
    val (lOut, rOut) = (left.output, right.output)
    val boundLs = BindReferences.bindReference(leftStart, lOut)
    val boundLe = BindReferences.bindReference(leftEnd, lOut)
    val boundRs = BindReferences.bindReference(rightStart, rOut)
    val boundRe = BindReferences.bindReference(rightEnd, rOut)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftStart.dataType)
    val allOut = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val leftKeyProj = UnsafeProjection.create(lKeys, lOut)
      val rightKeyProj = UnsafeProjection.create(rKeys, rOut)
      val keyOrdering = RowOrdering.createNaturalAscendingOrdering(lKeys.map(_.dataType))
      val resultProj = UnsafeProjection.create(allOut, allOut)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        // active right intervals of the CURRENT key as (row, start, end),
        // start-ordered. `start` is re-checked per left row at emission:
        // left END is not monotone along the (key, start) sort, so a row
        // pulled under one left row's end may not qualify for the next.
        private val buf = new scala.collection.mutable.ArrayBuffer[(InternalRow, Any, Any)]()
        private var bufKey: InternalRow = null
        private var rHead: InternalRow = null
        if (rIter.hasNext) rHead = rIter.next()
        // pending emissions for the current left row
        private var pending: Iterator[InternalRow] = Iterator.empty

        private def advanceRight(): Unit =
          rHead = if (rIter.hasNext) rIter.next() else null

        private def refill(): Unit = {
          while (!pending.hasNext && lIter.hasNext) {
            val l = lIter.next()
            val lk = leftKeyProj(l)
            if (!lk.anyNull) {
              val ls = boundLs.eval(l)
              val le = boundLe.eval(l)
              if (ls != null && le != null) {
                // key change invalidates the whole buffer
                if (bufKey != null && keyOrdering.compare(bufKey, lk) != 0) {
                  buf.clear(); bufKey = null
                }
                // pull right rows with rk < lk (skip) or rk == lk && rs < le (buffer)
                var advancing = true
                while (advancing && rHead != null) {
                  val rk = rightKeyProj(rHead)
                  if (rk.anyNull) advanceRight()
                  else {
                    val c = keyOrdering.compare(rk, lk)
                    if (c < 0) advanceRight()
                    else if (c == 0) {
                      val rs = boundRs.eval(rHead)
                      val re = boundRe.eval(rHead)
                      if (rs == null || re == null) advanceRight()
                      else if (timeOrd.compare(rs, le) < 0) {
                        buf.append((rHead.copy(), rs, re))
                        if (bufKey == null) bufKey = rk.copy()
                        advanceRight()
                      } else advancing = false
                    } else advancing = false
                  }
                }
                // evict intervals that ended at or before this left start —
                // they cannot overlap this or any later (start-ordered) left
                buf.filterInPlace { case (_, _, re) => timeOrd.compare(re, ls) > 0 }
                maxBuffered.set(math.max(maxBuffered.value, buf.size))
                if (buf.nonEmpty) {
                  val lCopy = l.copy()
                  // snapshot the qualifying row refs: `pending` must not read
                  // the mutable buffer after the next refill mutates it (the
                  // projection itself stays lazy — one reused output buffer)
                  val snapshot = buf.iterator
                    .filter { case (_, rs, _) => timeOrd.compare(rs, le) < 0 }
                    .map(_._1).toList
                  if (snapshot.nonEmpty) {
                    pending = snapshot.iterator.map { r =>
                      numOutputRows += 1
                      resultProj(joined(lCopy, r))
                    }
                  }
                }
              }
            }
          }
        }

        override def hasNext: Boolean = { refill(); pending.hasNext }
        override def next(): InternalRow = { refill(); pending.next() }
      }
    }
  }
}
