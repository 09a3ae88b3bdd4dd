package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions.ArrayDotProduct
import graft.plans.RollupRewrite

/** The library's `SparkSessionExtensions` entry point — the one way the
  * engine is wired into a session. [[GraftSession.create]] sets it on every
  * session it builds; a deployment passes the same conf:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * Injects:
  *   - `dot_arrays` as a registry-resident native function (usable from SQL
  *     text and the Column API in every session and its `newSession()`
  *     children);
  *   - the rollup-routing optimizer rule as a session-bound delegate: the
  *     rule body activates once [[RollupRewrite.install]] has materialized a
  *     rollup for that session and captured the canonical view shapes (the
  *     rollup location is data, not static configuration, so the rule cannot
  *     be fully constructed at extension time);
  *   - the planner strategies of the native as-of and interval joins.
  *
  * A session without the extension cannot plan those operators, resolve
  * `dot_arrays` or route tiles; `create` and `install` refuse one.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("dot_arrays"),
      new ExpressionInfo(classOf[ArrayDotProduct].getName, "dot_arrays"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        ArrayDotProduct(exprs(0), exprs(1))))
    ext.injectOptimizerRule(session => new RollupRewriteDelegate(session))
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.IntervalJoinStrategy)
  }
}

object GraftExtensions {

  /** The flag that arms a session, as `spark-submit`/`spark-shell` take it. */
  val Conf = s"--conf spark.sql.extensions=${classOf[GraftExtensions].getName}"

  /** The session was built with this extension in `spark.sql.extensions`. */
  def armed(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.conf.getOption("spark.sql.extensions")
      .exists(_.split(",").map(_.trim).contains(classOf[GraftExtensions].getName))
}

/** Extension-injected shell: delegates to the session's installed
  * [[RollupRewrite]] (a no-op until `install` runs). Construction happens
  * during session bootstrap, before any rollup can exist — hence the
  * late-bound lookup per invocation.
  */
class RollupRewriteDelegate(session: org.apache.spark.sql.SparkSession)
    extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    RollupRewrite.installedFor(session).map(_.apply(plan)).getOrElse(plan)
}
