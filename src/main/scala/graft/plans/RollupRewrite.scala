package graft.plans

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, And, Attribute, AttributeReference, BinaryComparison, CaseWhen, Cast, Coalesce, Concat, CreateNamedStruct, Divide, ExprId, Expression, GreaterThan, GreaterThanOrEqual, If, In, IntegralDivide, IsNotNull, KnownNullable, LessThan, LessThanOrEqual, Literal, MicrosToTimestamp, Multiply, NamedExpression, Not, Or, Pmod, PreciseTimestampConversion, Remainder, ScalaUDF, Subtract, UnaryMinus, UnixMicros}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, ApproximatePercentile, Average, Complete, Count, HyperLogLogPlusPlus, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType, StringType, TimestampNTZType, TimestampType}

/** Rollup-aware aggregate routing (SURVEY.md §4 "materialized
  * pre-aggregation"): Druid answers dashboard aggregates from its ingest-time
  * rollup automatically; in Spark that takes a plan rewrite. This optimizer
  * rule (reached through the delegate [[graft.GraftExtensions]] injects with
  * `SparkSessionExtensions.injectOptimizerRule`, once [[RollupRewrite.install]]
  * has bound it to a session) rewrites
  *
  *   Aggregate(groupings ⊆ {epoch_s, house_id, appliance_id, appliance_name},
  *             aggs ∈ {count, sum/min/max(power)},
  *             Project/Filter chain over the raw events parquet relation)
  *
  * onto the materialized rollup table registered as `powerraw_rollup`
  * (schema: epoch_s, house_id, appliance_id, appliance_name, cnt, cnt_power,
  * min_power, max_power, sum_power_dec): counts become sum(cnt) (null-safe
  * counts of the measure become sum(cnt_power)), sum(power) becomes
  * sum(sum_power_dec) cast to the original result type — exact, because the
  * rollup keeps DECIMAL sums — and min/max(power) become min/max of the
  * per-group extrema. Output attribute ids are preserved so parent operators
  * are untouched.
  *
  * A same-grain read becomes a Project: when the groups map to exactly the
  * level's own key (epoch_s, house_id, appliance_id, appliance_name) — the
  * grain of the dashboard's `powerraw` view and of the `history` view's inner
  * rollup — every group is ONE stored row, so the rule projects each
  * aggregate's value on that row (`sum(c)` → `c` at sum's type, `min`/`max`
  * → `c`) over the same child instead of re-aggregating: no shuffle, and a
  * tile over the view pays only its own aggregation. Count-distinct, HLL and
  * the sketch merge keep the Aggregate.
  *
  * Correctness gates, both structural (VERDICT r1 / ADVICE r1):
  *
  *   - The chain's output columns are validated against CANONICAL DEFINITIONS
  *     captured at [[RollupRewrite.install]] time from the engine's raw power
  *     view: every grouping/measure column must resolve, through the chain's
  *     projections, to an expression structurally identical (same `.sql`
  *     rendering over the scan's columns) to the canonical one. A user
  *     projection that merely reuses the names (`value * 2 AS power`) no
  *     longer matches.
  *   - Filters are allowed only when every atom of the predicate is a
  *     function of rollup group keys — equality/range/IN/IsNotNull over a
  *     served key, or a second-aligned bound on the raw `ts` column, which
  *     maps exactly onto `epoch_s` (`ts >= s·1e9 ⟺ epoch_s >= s` and
  *     `ts < e·1e9 ⟺ epoch_s < e` for the non-negative integer `ts` this
  *     table carries). Group-key-constant predicates select whole rollup
  *     groups, so every aggregate is preserved exactly; anything else — e.g.
  *     a predicate on the measure — rejects the rewrite
  *     (correct-but-unoptimized beats wrong-and-fast).
  */
class RollupRewrite(
    spark: SparkSession,
    canonicalSql: Map[String, String],
    // scan column -> served key, only pairs whose canonical def was PROVEN
    // null-bijective at install time (ADVICE r2: never assume the view shape)
    nullBijections: Map[String, String],
    // true only when epoch_s was proven to be exactly `ts div 1e9` at install
    tsRangeMappable: Boolean,
    // true only when the canonical `time` was proven to be exactly
    // `timestamp_micros(ts div 1e3)` AND epoch_s `ts div 1e9` at install —
    // the pair of floor identities that make event-time windows (the
    // TimeWindowing-generated structs) exact functions of epoch_s
    timeWindowMappable: Boolean = false,
    // the rollup lattice, coarsest first: (granularity seconds, view name).
    // A coarser table stores g-floored `epoch_s`; a query routes to it only
    // when every time expression is PROVEN g-invariant (see gInvariant /
    // the aligned-literal comparison rules), so the rule always picks the
    // smallest table that can answer exactly.
    rollups: Seq[(Long, String)] = Seq((1L, RollupRewrite.RollupViewName)),
    // the MATERIALIZED lattice this rule serves: (1 s rollup path, coarse
    // (path, granularity) pairs) as passed to install. Maintenance reads it
    // back so a refresh always cascades through every level the rule routes
    // to — a partial refresh would leave coarse views silently stale.
    private[graft] val lattice: Option[(String, Seq[(String, Long)])] = None)
    extends Rule[LogicalPlan] {

  import RollupRewrite.{analyzeChain, Branch, ServedKeys}

  /** The optimized plan of one lattice view, or None when the view is not
    * registered (e.g. dropped after install): that level does not route and
    * the walk falls through. Any other failure to resolve the view
    * propagates — a lattice that exists but cannot be read is damage to
    * report, not a reason to answer silently from raw.
    */
  private def rollupPlan(view: String): Option[LogicalPlan] =
    try Some(spark.table(view).queryExecution.optimizedPlan)
    catch { case e: AnalysisException if e.getCondition == "TABLE_OR_VIEW_NOT_FOUND" => None }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(groups, aggExprs, child, _) =>
      analyzeChain(child).flatMap { branches =>
        rollups.view.flatMap { case (g, view) =>
          rollupPlan(view).flatMap { rollup =>
            if (branches.sizeIs == 1)
              tryRewrite(groups, aggExprs, branches.head._1, branches.head._2, rollup, g)
            else tryRewriteExpand(groups, aggExprs, branches, rollup, g)
          }
        }.headOption
      }.getOrElse(agg)
  }

  /** The attribute's scan-space definition matches the canonical power-view
    * definition of `key` captured at install time. Keyed by ExprId — output
    * NAMES are not unique in Catalyst plans (PullOutGroupingExpressions
    * aliases every derived grouping as `_groupingexpression`).
    */
  private def defMatches(
      a: AttributeReference, key: String, defs: Map[ExprId, Expression]): Boolean =
    defs.get(a.exprId).exists(d => canonicalSql.get(key).contains(d.sql))

  /** Map a SCAN-space expression into rollup space: every maximal subtree
    * structurally identical to a canonical served-key definition becomes the
    * rollup's column; succeeds only when nothing else references the scan
    * (and the expression is deterministic). Sound for groupings and filter
    * atoms alike: any deterministic function of rollup GROUP KEYS selects or
    * merges whole rollup groups, so re-aggregating the partial aggregates
    * under the mapped expression is exact. This is what routes the
    * dashboard's time-bucketed tiles (`epoch_s div 5`) to the rollup.
    */
  private def mapScanExpr(
      scanExpr: Expression, rollupAttr: Map[String, Attribute],
      g: Long): Option[Expression] = {
    if (!scanExpr.deterministic) return None
    val bySql: Map[String, String] =
      ServedKeys.flatMap(k => canonicalSql.get(k).map(_ -> k)).toMap
    object MappedWindow {
      def unapply(e: Expression): Option[Expression] =
        matchTimeWindowStruct(e).flatMap(mapWindowStruct(_, rollupAttr, g))
    }
    val out = scanExpr.transformDown {
      // a whole TimeWindowing struct first: its leaves go through `time`,
      // which is not a rollup column — only the struct as a unit maps
      case MappedWindow(mapped) => mapped
      case e if bySql.contains(e.sql) => rollupAttr(bySql(e.sql))
    }
    val allowed = rollupAttr.values.map(_.exprId).toSet
    if (out.references.forall(r => allowed.contains(r.exprId))) Some(out) else None
  }

  /** One branch of Catalyst's TimeWindowing expansion, in scan space:
    * `start = t_us - floorMod(t_us - startTime, slide) - i·slide`,
    * `end = start + width`, with `t_us = precisetimestampconversion(time)`.
    */
  private case class TimeWindowShape(
      timeExpr: Expression, startTimeUs: Long, slideUs: Long, offsetUs: Long, widthUs: Long)

  /** floorMod as TimeWindowing writes it:
    * `CASE WHEN (x - st) % slide < 0 THEN (x - st) % slide + slide ELSE (x - st) % slide END`.
    */
  private object FloorModCase {
    def unapply(e: Expression): Option[(Expression, Long, Long)] = e match {
      case CaseWhen(
            Seq((LessThan(
                  r1 @ Remainder(Subtract(x, Literal(st: Long, LongType), _),
                    Literal(sl: Long, LongType), _),
                  Literal(0L, LongType)),
                Add(r2, Literal(sl2: Long, LongType), _))),
            Some(r3))
          if sl == sl2 && r1.semanticEquals(r2) && r1.semanticEquals(r3) =>
        Some((x, st, sl))
      case _ => None
    }
  }

  private def matchTimeWindowStruct(e: Expression): Option[TimeWindowShape] = e match {
    case CreateNamedStruct(Seq(
          Literal(k1, StringType),
          KnownNullable(PreciseTimestampConversion(startE, LongType, TimestampType)),
          Literal(k2, StringType),
          KnownNullable(PreciseTimestampConversion(
            Add(startE2, Literal(w: Long, LongType), _), LongType, TimestampType))))
        if k1.toString == "start" && k2.toString == "end" && startE.semanticEquals(startE2) =>
      startE match {
        case Subtract(Subtract(t1, FloorModCase(t2, st, sl), _), Literal(off: Long, LongType), _)
            if t1.semanticEquals(t2) =>
          t1 match {
            case PreciseTimestampConversion(timeE, TimestampType, LongType) =>
              Some(TimeWindowShape(timeE, st, sl, off, w))
            case _ => None
          }
        case _ => None
      }
    case _ => None
  }

  private val MicrosPerSec = 1000000L

  /** Replay a TimeWindowing branch over the rollup's `epoch_s`. Sound when
    * (a) the branch's time column is the PROVEN canonical
    * `timestamp_micros(ts div 1e3)` and epoch_s the proven `ts div 1e9`
    * (both floors of the same non-negative integer `ts` this table carries,
    * the standing contract of the ts-range mapping above), and (b) every
    * window parameter is second-aligned. Then
    * `floor((t_us - st)/slide) = floor((epoch_s - st_s)/slide_s)` by floor
    * composition, so the struct computed from epoch_s·1e6 is VALUE-identical
    * to the one computed from t_us — every raw row of a rollup group lands
    * in exactly the windows its group does.
    */
  private def mapWindowStruct(
      ws: TimeWindowShape, rollupAttr: Map[String, Attribute],
      g: Long): Option[Expression] = {
    if (!timeWindowMappable) return None
    if (!canonicalSql.get("time").contains(ws.timeExpr.sql)) return None
    if (ws.slideUs <= 0 || ws.widthUs <= 0) return None
    if (Seq(ws.startTimeUs, ws.slideUs, ws.offsetUs, ws.widthUs).exists(_ % MicrosPerSec != 0))
      return None
    // a g-floored epoch_s computes the same start when every second
    // parameter is a multiple of g (same floor-composition argument)
    if (Seq(ws.startTimeUs, ws.slideUs, ws.offsetUs).exists(_ % (g * MicrosPerSec) != 0))
      return None
    val es = rollupAttr("epoch_s")
    val rem = Remainder(Subtract(es, Literal(ws.startTimeUs / MicrosPerSec)),
      Literal(ws.slideUs / MicrosPerSec))
    val floorMod = CaseWhen(Seq((LessThan(rem, Literal(0L)), Add(rem, Literal(ws.slideUs / MicrosPerSec)))), Some(rem))
    val startUs = Multiply(
      Subtract(Subtract(es, floorMod), Literal(ws.offsetUs / MicrosPerSec)),
      Literal(MicrosPerSec))
    Some(CreateNamedStruct(Seq(
      Literal("start"),
      KnownNullable(PreciseTimestampConversion(startUs, LongType, TimestampType)),
      Literal("end"),
      KnownNullable(PreciseTimestampConversion(
        Add(startUs, Literal(ws.widthUs)), LongType, TimestampType)))))
  }

  /** The µs window-start core [[mapWindowStruct]] emits over rollup space:
    * `(es - floorMod(es - st, sl) - off) * 1e6`. Matched by [[gInvariant]] to
    * re-extract the second parameters for the granularity proof.
    */
  private object RollupWindowStart {
    def unapply(e: Expression): Option[(AttributeReference, Long, Long, Long)] = e match {
      case Multiply(
            Subtract(Subtract(a: AttributeReference, FloorModCase(x, st, sl), _),
              Literal(off: Long, LongType), _),
            Literal(1000000L, LongType), _)
          if x.semanticEquals(a) =>
        Some((a, st, sl, off))
      case _ => None
    }
  }

  /** `e` evaluates identically on g-floored `epoch_s` values as on raw epoch
    * seconds. Proven structurally: every reference to the rollup's epoch_s
    * sits either under `epoch_s div k` with k % g == 0 (floor composition:
    * `floor(floor(s/g)·g / k) = floor(s/k)` when g | k), or inside a window
    * start this rule emitted whose startTime/slide/offset seconds are all
    * multiples of g (same argument on the floor-mod form). Anything else that
    * touches epoch_s — a bare grouping, `epoch_s div 5` against a 60 s table —
    * fails, and the lattice walk falls through to the next finer granularity.
    */
  private def gInvariant(e: Expression, g: Long, es: Attribute): Boolean = {
    if (g == 1L) return true
    def check(x: Expression): Boolean = x match {
      case IntegralDivide(a: AttributeReference, Literal(k: java.lang.Long, LongType), _)
          if a.exprId == es.exprId => k % g == 0
      case RollupWindowStart(a, st, sl, off) if a.exprId == es.exprId =>
        st % g == 0 && sl % g == 0 && off % g == 0
      case a: AttributeReference => a.exprId != es.exprId
      case other => other.children.forall(check)
    }
    check(e)
  }

  /** True when `IsNotNull(e)` evaluates identically whether `es` holds raw or
    * g-floored seconds. Sound only when every node on a path from the root to
    * an `es` reference is null BOTH ways — output null ⟺ some input null, for
    * ALL input values — so the expression's nullness depends on `es` being
    * null (which flooring preserves) and never on its value. That is stricter
    * than Catalyst's `nullIntolerant` (null-in → null-out only): `nullif(
    * epoch_s % 60, 0)` or a divide whose DIVISOR rides epoch_s go null on
    * value, so they must reject. Hence a structural whitelist: wrapping
    * arithmetic, div/mod by a non-zero literal, and this rule's own window
    * start. Subtrees that never touch `es` are unconstrained — they evaluate
    * on columns the coarsening leaves bit-identical.
    */
  private def nullnessGFloorInvariant(e: Expression, es: Attribute): Boolean = {
    def nonZeroLit(x: Expression): Boolean = x match {
      case Literal(v: java.lang.Long, LongType) => v != 0L
      case Literal(v: java.lang.Integer, IntegerType) => v != 0
      case _ => false
    }
    def check(x: Expression): Boolean =
      !x.references.contains(es) || (x match {
        case a: AttributeReference => a.exprId == es.exprId
        case IntegralDivide(l, r, _) => nonZeroLit(r) && check(l)
        case Remainder(l, r, _) => nonZeroLit(r) && check(l)
        case Pmod(l, r, _) => nonZeroLit(r) && check(l)
        case _: Add | _: Subtract | _: Multiply | _: UnaryMinus =>
          x.children.forall(check)
        case RollupWindowStart(a, _, _, _) => check(a)
        case _ => false
      })
    check(e)
  }

  private def tryRewrite(
      groups: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      defs: Map[ExprId, Expression],
      conds: Seq[Expression],
      rollup: LogicalPlan,
      g: Long): Option[LogicalPlan] = {
    val rollupAttr: Map[String, Attribute] = rollup.output.map(a => a.name -> a).toMap
    val rollupCols = ServedKeys ++ Set("cnt", "cnt_power", "min_power", "max_power", "sum_power_dec")
    if (!rollupCols.forall(rollupAttr.contains)) return None
    val epochAttr = rollupAttr("epoch_s")

    // at most ONE distinct argument-set: one distinct set is always
    // plannable (AggUtils' one-distinct path); an emitted multi-distinct
    // Aggregate would plan only if RewriteDistinctAggregates still runs
    // after this rule, which nothing pins, so it stays on raw.
    val distinctSets = aggExprs.flatMap(_.collect {
      case AggregateExpression(fn, _, true, _, _) => fn.children.map(_.canonicalized)
    }).distinct
    if (distinctSets.lengthCompare(1) > 0) return None
    // rollup key attributes referenced by mapped key-expression aggregate
    // arguments (count-distinct, min/max over keys), collected during
    // rewriteNamed — they must ride through the child Project
    val keyArgAttrs = scala.collection.mutable.LinkedHashSet.empty[Attribute]

    // every grouping expression must map into rollup space (a served key
    // itself, or any deterministic function of served keys — time buckets
    // like `epoch_s div 5`, concatenated dims, window structs, …). Each
    // mapped expression is pulled into a Project BELOW the aggregate and the
    // aggregate groups on its attribute — the PullOutGroupingExpressions
    // convention. Grouping inline would let a later simplification pass
    // (e.g. SimplifyExtractValueOps on `window.start` over the recomputed
    // struct) rewrite a result expression's copy of the grouping subtree
    // without touching the grouping list, leaving the two unmatchable at
    // physical planning.
    val pulled: Seq[(Expression, NamedExpression)] = groups.map { grp =>
      val mapped = (grp match {
        case a: AttributeReference => defs.get(a.exprId).flatMap(mapScanExpr(_, rollupAttr, g))
        case other => RollupRewrite.substitute(other, defs).flatMap(mapScanExpr(_, rollupAttr, g))
      }) match {
        case Some(m) if gInvariant(m, g, epochAttr) => m
        case _ => return None
      }
      grp match {
        case a: AttributeReference => (grp, Alias(mapped, a.name)(exprId = a.exprId))
        case other => (other, Alias(mapped, "_rollupgroup")())
      }
    }
    val newGroups: Seq[Attribute] = pulled.map(_._2.toAttribute)
    val newGroupIds = newGroups.map(_.exprId).toSet

    /** The below-Project attribute serving this original-space expression. */
    def groupAttrFor(e: Expression): Option[Attribute] = e match {
      case a: AttributeReference =>
        pulled.collectFirst {
          case (o: AttributeReference, al) if o.exprId == a.exprId => al.toAttribute
        }
      case other =>
        pulled.collectFirst { case (o, al) if !o.isInstanceOf[AttributeReference] &&
          o.semanticEquals(other) => al.toAttribute }
    }

    // `power` here means: resolves to the canonical measure definition.
    def isPower(a: AttributeReference): Boolean = defMatches(a, "power", defs)
    def isKey(a: AttributeReference): Boolean = ServedKeys.exists(defMatches(a, _, defs))

    // an aggregate ARGUMENT that is a deterministic g-invariant function of
    // served keys, rendered in rollup space. Referenced key columns are
    // collected so the measure-only child Project can carry them.
    def mapKeyArg(arg: Expression): Option[Expression] = {
      val mapped = (arg match {
        case a: AttributeReference =>
          defs.get(a.exprId).flatMap(mapScanExpr(_, rollupAttr, g))
        case other =>
          RollupRewrite.substitute(other, defs).flatMap(mapScanExpr(_, rollupAttr, g))
      }).filter(gInvariant(_, g, epochAttr))
      mapped.foreach(_.references.foreach(keyArgAttrs += _))
      mapped
    }

    /** Map ONE aggregate call into rollup space, or None. The accepted
      * shapes:
      *  - count(DISTINCT f(keys…)) — the "active appliances per house" tile
      *    shape. Exact because the rollup keeps exactly one row per key
      *    combination that occurs in raw, and every argument is a
      *    deterministic g-invariant function of served keys, so the distinct
      *    value set per group is identical over raw rows and rollup rows.
      *    Arguments touching the measure (count(DISTINCT power)) fail
      *    mapScanExpr and reject.
      *  - plain Complete aggregates over the measure ([[rewriteAggFunc]])
      *    or min/max/HLL over key expressions ("first/last activity" tiles —
      *    multiplicity-insensitive, so the extremum/sketch over rollup rows
      *    is identical to raw's).
      * Anything else — FILTER clauses, non-Complete modes, unmapped
      * functions — returns None and rejects the whole rewrite.
      */
    def mapAggCall(ae: AggregateExpression): Option[Expression] = ae match {
      case AggregateExpression(Count(args), Complete, true, None, _) =>
        val mappedArgs = args.map(mapKeyArg)
        if (mappedArgs.exists(_.isEmpty)) None
        else Some(Count(mappedArgs.map(_.get)).toAggregateExpression(isDistinct = true))
      case AggregateExpression(f, Complete, false, None, _) =>
        rewriteAggFunc(f, ae.dataType, isPower, isKey, rollupAttr)
          .orElse(f match {
            case Min(arg) =>
              mapKeyArg(arg).map(Min(_).toAggregateExpression())
            case Max(arg) =>
              mapKeyArg(arg).map(Max(_).toAggregateExpression())
            case h: HyperLogLogPlusPlus =>
              mapKeyArg(h.child).map(m => h.copy(child = m).toAggregateExpression())
            case _ => None
          })
      case _ => None
    }

    // An output alias maps when EVERY aggregate call nested anywhere inside
    // it maps (each replaced by its rollup-space twin, which evaluates to
    // the same VALUE, so any scalar arithmetic wrapped around it — the
    // engine's dsum cast-to-double, duty-cycle ratios — carries over
    // unchanged) and every remaining leaf resolves to a grouping attribute
    // or to a rollup column introduced by a mapped aggregate. A single
    // unmapped aggregate (FILTER clause, distinct shape, unknown function)
    // rejects the whole rewrite — substituting around it would evaluate it
    // over ROLLUP rows instead of raw rows.
    def rewriteNamed(ne: NamedExpression): Option[NamedExpression] = ne match {
      case a: AttributeReference => groupAttrFor(a)
      case al @ Alias(child, name) =>
        var ok = true
        // explicit pre-order substitution — NOT transformDown, which would
        // recurse into a replacement and re-visit the rollup-space aggregate
        // it just emitted (whose Sum(sum_power_dec) maps to nothing)
        def go(e: Expression): Expression = e match {
          case ae: AggregateExpression =>
            mapAggCall(ae) match {
              case Some(m) => m
              case None => ok = false; ae
            }
          case e if groupAttrFor(e).isDefined => groupAttrFor(e).get
          case other => other.mapChildren(go)
        }
        val sub = go(child)
        val allowed = newGroupIds ++ rollupAttr.values.map(_.exprId)
        if (ok && sub.references.forall(r => allowed.contains(r.exprId)))
          Some(Alias(sub, name)(exprId = al.exprId))
        else None
      case _ => None
    }

    val newAggExprs = aggExprs.map(rewriteNamed)
    if (newAggExprs.exists(_.isEmpty)) return None
    val mappedConds = conds.map(mapCond(_, rollupAttr, g))
    if (mappedConds.exists(_.isEmpty)) return None
    val filtered = mappedConds.flatten
      .reduceOption(And)
      .map(Filter(_, rollup))
      .getOrElse(rollup)
    val measures: Seq[NamedExpression] =
      Seq("cnt", "cnt_power", "min_power", "max_power", "sum_power_dec").map(rollupAttr)
    val measureIds = measures.map(_.exprId).toSet
    val extraKeys = keyArgAttrs.toSeq.filterNot(a => measureIds.contains(a.exprId))
    // OPTIONAL measure columns (sketch, filtered duty count) ride through
    // ONLY when a rewrite used them — no later pruning pass runs
    val usedOptional = Seq("hist_power", "cnt_duty").flatMap(n =>
      rollupAttr.get(n).filter(h =>
        newAggExprs.flatten.exists(_.references.exists(_.exprId == h.exprId))))
    val child = Project(pulled.map(_._2) ++ measures ++ extraKeys ++ usedOptional, filtered)
    val outputs = newAggExprs.map(_.get)
    // same grain: the groups are the level's own key, so every group is one
    // stored row (the lattice's one-row-per-key contract, see install) and
    // the aggregate is a projection of it — no shuffle
    val grain = pulled.map(_._2).collect { case Alias(a: AttributeReference, _) => a.exprId }
    val sameGrain = grain.length == pulled.length &&
      grain.toSet == ServedKeys.map(rollupAttr(_).exprId)
    val oneRow = outputs.map(atOneRow)
    if (sameGrain && oneRow.forall(_.isDefined)) Some(Project(oneRow.flatten, child))
    else Some(Aggregate(newGroups, outputs, child))
  }

  /** An output of the rewritten aggregate evaluated on a group of ONE row:
    * `sum(c)` is `c` at sum's result type (null stays null), `min(c)` and
    * `max(c)` are `c`; `coalesce(sum(cnt), 0)` and the avg guard follow from
    * the sum case. None when any other aggregate remains (count-distinct,
    * HLL, the sketch merge) — those keep the Aggregate.
    */
  private def atOneRow(ne: NamedExpression): Option[NamedExpression] = {
    val out = ne.transformDown {
      case AggregateExpression(s: Sum, Complete, false, None, _) => Cast(s.child, s.dataType)
      case AggregateExpression(Min(c), Complete, false, None, _) => c
      case AggregateExpression(Max(c), Complete, false, None, _) => c
    }
    if (out.exists(_.isInstanceOf[AggregateExpression])) None
    else Some(out.asInstanceOf[NamedExpression])
  }

  // Count over empty input is 0, but Sum is NULL — reachable for a global
  // aggregate whose filter matches no rollup rows (ADVICE r2, high).
  private def sumAsCount(cnt: Attribute): Expression =
    Coalesce(Seq(Sum(cnt).toAggregateExpression(), Literal(0L)))

  /** Map one raw-space aggregate function onto the rollup's partial columns.
    * `isPower`/`isKey` carry the caller's proof that an attribute resolves to
    * the canonical measure / a served key (in EVERY branch, for Expand plans).
    */
  private def rewriteAggFunc(
      f: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction,
      resultType: org.apache.spark.sql.types.DataType,
      isPower: AttributeReference => Boolean,
      isKey: AttributeReference => Boolean,
      rollupAttr: Map[String, Attribute]): Option[Expression] = f match {
    // count of anything provably non-null per raw row → row count
    case Count(args) if args.forall {
          case l: Literal => l.value != null
          case a: AttributeReference => !a.nullable && (isKey(a) || isPower(a))
          case _ => false
        } =>
      Some(Cast(sumAsCount(rollupAttr("cnt")), resultType))
    // count(power) with nullable power → the rollup's null-safe count
    case Count(Seq(a: AttributeReference)) if isPower(a) =>
      Some(Cast(sumAsCount(rollupAttr("cnt_power")), resultType))
    // count(when(power > thr, <non-null literal>)) — the duty-cycle tile's
    // conditional count — serves from the pre-aggregated FILTERED metric
    // when the query's threshold literal is EXACTLY the one the lattice
    // materialized (Grid.PowerThreshold). Any other predicate shape or
    // constant keeps the query on raw.
    case Count(Seq(CaseWhen(
          Seq((GreaterThan(a: AttributeReference, Literal(thr, DoubleType)), v: Literal)),
          None)))
        if isPower(a) && v.value != null &&
          thr == graft.operators.Grid.PowerThreshold &&
          rollupAttr.contains("cnt_duty") =>
      Some(Cast(sumAsCount(rollupAttr("cnt_duty")), resultType))
    case Sum(a: AttributeReference, _) if isPower(a) =>
      Some(Cast(Sum(rollupAttr("sum_power_dec")).toAggregateExpression(), resultType))
    // the engine's own exact-sum convention (Grid.dsum): sum(cast(power AS
    // DECIMAL(18,2))) is PRECISELY the aggregation the stored sum_power_dec
    // partials hold, so re-summing them is value-identical (decimal addition
    // is associative; the 2-dp rounding already happened per raw row when
    // the partial was built). Other decimal shapes (different scale = a
    // different rounding of the measure) are never routed.
    case Sum(Cast(a: AttributeReference, dt: DecimalType, _, _), _)
        if isPower(a) && dt == DecimalType(18, 2) =>
      Some(Cast(Sum(rollupAttr("sum_power_dec")).toAggregateExpression(), resultType))
    case Min(a: AttributeReference) if isPower(a) =>
      Some(Cast(Min(rollupAttr("min_power")).toAggregateExpression(), resultType))
    case Max(a: AttributeReference) if isPower(a) =>
      Some(Cast(Max(rollupAttr("max_power")).toAggregateExpression(), resultType))
    // avg(power) = sum(power)/count(power): the rollup's decimal sum
    // over its null-safe count. Division is guarded — count(power)=0
    // (all-null group, or a global aggregate whose filter matched no
    // rollup rows) must yield NULL like Average, never a division
    // error or 0/0.
    case Average(a: AttributeReference, _) if isPower(a) =>
      val s = Sum(rollupAttr("sum_power_dec")).toAggregateExpression()
      val c = Sum(rollupAttr("cnt_power")).toAggregateExpression()
      val div = Divide(Cast(s, DoubleType), Cast(c, DoubleType))
      Some(Cast(
        If(GreaterThan(Coalesce(Seq(c, Literal(0L))), Literal(0L)),
          div, Literal.create(null, DoubleType)),
        resultType))
    // percentile_approx(power, p[, accuracy]) served from the lattice's
    // histogram sketch (tables that carry `hist_power`): merge the
    // per-group maps (a ScalaAggregator with map-side partial merge — the
    // shuffle carries one bounded map per group per partition), then a
    // scalar inverse-CDF over the merged map (per OUTPUT group, so the UDF
    // is off the row path). percentile_approx is approximate BY CONTRACT;
    // this substitutes a different, documented error model: exact over
    // BinWidth-quantized values, i.e. within one PowerHist.BinWidth of the
    // exact DISCRETE percentile (the rank-ceil(p·n) value the function
    // itself estimates), independent of the requested accuracy (ignored).
    // Exact `percentile`/`median`, array percentages, and non-literal
    // parameters are never routed.
    case ap: ApproximatePercentile =>
      (ap.first, ap.second) match {
        case (a: AttributeReference, Literal(p: Double, DoubleType))
            if isPower(a) && rollupAttr.contains("hist_power") =>
          val mapEnc = ExpressionEncoder[Map[Long, Long]]().resolveAndBind()
          val merged = ScalaAggregator(
            Seq(rollupAttr("hist_power")), graft.functions.PowerHist.mergeAggregator,
            mapEnc, mapEnc, aggregatorName = Some("hist_merge")
          ).toAggregateExpression()
          val quantile = (m: scala.collection.Map[Long, Long]) =>
            graft.functions.PowerHist.quantileValue(m, p)
          Some(Cast(
            ScalaUDF(quantile, DoubleType, Seq(merged), Nil,
              udfName = Some("hist_quantile")),
            resultType))
        case _ => None
      }
    case _ => None
  }

  /** Rewrite an Aggregate over a TimeWindowing-style [[Expand]] chain: the
    * sliding-window fan-out each raw row takes (one copy per overlapping
    * window) is replayed over the rollup — one copy per ROLLUP GROUP — which
    * is exact because every branch's projections were proven functions of
    * rollup group keys, so all raw rows of a group land in the same branches
    * with the same values. At scale this turns "expand 100 TB of raw readings
    * ×5, then shuffle" into "expand the 1-second rollup ×5, then shuffle".
    *
    * Conservative gates: a chain filter either sits BELOW the expand (is
    * branch-independent, so it maps onto the rollup scan like the non-Expand
    * path) or — a filter that sat ABOVE the expand, e.g. a dashboard tile's
    * bound on the window start — must be a pure function of the Aggregate's
    * own GROUPING definitions: filtering rows by a grouping value commutes
    * with the aggregation, so the same condition filters the replayed
    * Expand's output instead, exactly. TimeWindowing's validity filter for
    * window % slide != 0 windows references raw `time` besides the window
    * and still rejects. Every grouping must be a bare Expand-output
    * attribute (the shape groupBy produces); anything else falls back to the
    * raw plan.
    */
  private def tryRewriteExpand(
      groups: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      branches: Seq[Branch],
      rollup: LogicalPlan,
      g: Long): Option[LogicalPlan] = {
    val rollupAttr: Map[String, Attribute] = rollup.output.map(a => a.name -> a).toMap
    val measureNames = Seq("cnt", "cnt_power", "min_power", "max_power", "sum_power_dec")
    if (!(ServedKeys ++ measureNames).forall(rollupAttr.contains)) return None
    val epochAttr = rollupAttr("epoch_s")

    val groupAttrs: Seq[AttributeReference] = groups.map {
      case a: AttributeReference => a
      case _ => return None
    }
    val groupIdSet = groupAttrs.map(_.exprId).toSet

    // Classify each chain filter position: shared across branches (it sat
    // below the Expand) → map onto the rollup scan; branch-dependent → hoist
    // over the groupings (see the scaladoc) or reject.
    val nConds = branches.head._2.length
    if (!branches.forall(_._2.length == nConds)) return None
    // re-express a branch's condition over the grouping ATTRIBUTES by
    // collapsing every maximal subtree equal to a grouping's branch
    // definition; exact only if nothing of the scan remains
    def overGroups(cond: Expression, defs: Map[ExprId, Expression]): Option[Expression] = {
      val subs: Seq[(Expression, AttributeReference)] =
        groupAttrs.flatMap(a => defs.get(a.exprId).map(d => d -> a))
      val out = cond.transformDown {
        case e if subs.exists(_._1.semanticEquals(e)) =>
          subs.find(_._1.semanticEquals(e)).get._2
      }
      if (out.references.forall(r => groupIdSet.contains(r.exprId))) Some(out) else None
    }
    val mappedConds = Seq.newBuilder[Expression] // below-expand: filter the rollup scan
    val hoistedConds = Seq.newBuilder[Expression] // above-expand: filter the replayed expand
    (0 until nConds).foreach { i =>
      val c0 = branches.head._2(i)
      if (branches.forall(_._2(i).semanticEquals(c0)))
        mapCond(c0, rollupAttr, g) match {
          case Some(m) => mappedConds += m
          case None => return None
        }
      else {
        // Determinism gate (ADVICE r12): the below-expand arm inherits
        // mapScanExpr's rejection of non-deterministic expressions, but the
        // hoist re-anchors the condition on the REPLAYED expand — a
        // non-deterministic conjunct like `w.start >= cut AND rand() < 0.5`
        // would turn per-raw-row sampling into whole-group keep/drop (rand()
        // has no references, so the residual-reference check alone passes it).
        if (branches.exists(b => !b._2(i).deterministic)) return None
        val hs = branches.map { case (defs, cs) => overGroups(cs(i), defs) }
        hs.head match {
          case Some(h) if hs.forall(_.exists(_.semanticEquals(h))) => hoistedConds += h
          case _ => return None
        }
      }
    }
    // each grouping's per-branch definition must map into rollup space
    val mappedGroupsPerBranch: Seq[Seq[Expression]] = branches.map { case (defs, _) =>
      groupAttrs.map { a =>
        defs.get(a.exprId).flatMap(mapScanExpr(_, rollupAttr, g)) match {
          case Some(m) if gInvariant(m, g, epochAttr) => m
          case _ => return None
        }
      }
    }

    // measure/key proofs must hold in EVERY branch
    def isPowerAll(a: AttributeReference): Boolean =
      branches.forall { case (defs, _) => defMatches(a, "power", defs) }
    def isKeyAll(a: AttributeReference): Boolean =
      ServedKeys.exists(k => branches.forall { case (defs, _) => defMatches(a, k, defs) })

    val groupIds = groupAttrs.map(_.exprId).toSet
    // Same general alias mapping as the non-Expand path: every nested
    // aggregate call must map to its value-identical rollup twin (explicit
    // pre-order substitution — never re-visits a replacement), and residual
    // references must be grouping attributes (the new Expand re-emits them
    // under the same ids) or rollup measure columns.
    val newAggExprs: Seq[Option[NamedExpression]] = aggExprs.map {
      // a grouping passthrough: the new Expand re-emits it under the same id
      case a: AttributeReference if groupIds.contains(a.exprId) => Some(a)
      case al @ Alias(child, name) =>
        var ok = true
        def go(e: Expression): Expression = e match {
          case ae @ AggregateExpression(f, Complete, false, None, _) =>
            rewriteAggFunc(f, ae.dataType, isPowerAll, isKeyAll, rollupAttr) match {
              case Some(m) => m
              case None => ok = false; ae
            }
          case ae: AggregateExpression => ok = false; ae
          case other => other.mapChildren(go)
        }
        val sub = go(child)
        val allowed = groupIds ++ rollupAttr.values.map(_.exprId)
        if (ok && sub.references.forall(r => allowed.contains(r.exprId)))
          Some(Alias(sub, name)(exprId = al.exprId))
        else None
      case _ => None
    }
    if (newAggExprs.exists(_.isEmpty)) return None

    val usedOptional = Seq("hist_power", "cnt_duty").flatMap(n =>
      rollupAttr.get(n).filter(h =>
        newAggExprs.flatten.exists(_.references.exists(_.exprId == h.exprId))))
    val measures: Seq[Attribute] = measureNames.map(rollupAttr) ++ usedOptional
    val child = mappedConds.result()
      .reduceOption(And)
      .map(Filter(_, rollup))
      .getOrElse(rollup)
    val expand = Expand(
      mappedGroupsPerBranch.map(_ ++ measures),
      groupAttrs ++ measures,
      child)
    // hoisted (grouping-functional) filters select whole replayed branches —
    // the new Expand re-emits the grouping attrs under their original ids,
    // so the condition applies verbatim
    val filtered = hoistedConds.result()
      .reduceOption(And)
      .map(Filter(_, expand))
      .getOrElse(expand: LogicalPlan)
    Some(Aggregate(groupAttrs, newAggExprs.map(_.get), filtered))
  }

  /** Map a scan-space predicate onto rollup columns. Every atom must be a
    * function of rollup group keys; atom equivalences are exact (not mere
    * implications), so arbitrary And/Or/Not combinations stay exact.
    */
  private def mapCond(e: Expression, rollupAttr: Map[String, Attribute],
      g: Long): Option[Expression] =
    e match {
      case And(l, r) =>
        for { a <- mapCond(l, rollupAttr, g); b <- mapCond(r, rollupAttr, g) } yield And(a, b)
      case Or(l, r) =>
        for { a <- mapCond(l, rollupAttr, g); b <- mapCond(r, rollupAttr, g) } yield Or(a, b)
      case Not(c) => mapCond(c, rollupAttr, g).map(Not)
      case _ => mapAtom(e, rollupAttr, g)
    }

  private val NanosPerSec = 1000000000L

  /** A g·second-aligned epoch-ns literal's epoch-s rendering. */
  private def alignedSec(l: Literal, g: Long): Option[Literal] = l.value match {
    case v: java.lang.Long if v >= 0 && v % (g * NanosPerSec) == 0 =>
      Some(Literal(v / NanosPerSec))
    case _ => None
  }

  /** A g·second-aligned TIMESTAMP/NTZ literal (Catalyst value: epoch micros)
    * rendered as its epoch-second literal.
    */
  private def alignedMicrosSec(l: Literal, g: Long): Option[Literal] = l.value match {
    case v: java.lang.Long if v >= 0 && v % (g * 1000000L) == 0 =>
      Some(Literal(v / 1000000L))
    case _ => None
  }

  /** A non-negative epoch-second literal aligned to the table granularity:
    * over g-floored values, `epoch_s >= L` / `epoch_s < L` are exact iff
    * g | L (`floor(s/g)·g >= L ⟺ s >= L` for aligned L).
    */
  private def alignedEpoch(l: Literal, g: Long): Option[Literal] = l.value match {
    case v: java.lang.Long if v >= 0 && v % g == 0 => Some(l)
    case _ => None
  }

  /** The raw scan's nanosecond instant (either physical shape — see
    * [[RollupRewrite.NsOfTs]]): `epoch_s` is its second floor, so
    * `>=`/`<`/`>`/`<=` with second-aligned bounds map exactly.
    */
  private def isRawTs(e: Expression): Boolean =
    RollupRewrite.NsOfTs.unapply(e).isDefined

  private def mapAtom(e: Expression, rollupAttr: Map[String, Attribute],
      g: Long): Option[Expression] =
    e match {
      case cmp: BinaryComparison =>
        val (x, lit, flipped) = (cmp.left, cmp.right) match {
          case (l: Literal, r) => (r, l, true)
          case (l, r: Literal) => (l, r, false)
          case _ => return None
        }
        val es = rollupAttr("epoch_s")
        mapScanExpr(x, rollupAttr, g) match {
          // a g-invariant mapped side compares identically on the g-floored
          // table — any comparison carries over
          case Some(a) if gInvariant(a, g, es) =>
            Some(if (flipped) cmp.withNewChildren(Seq(lit, a)) else cmp.withNewChildren(Seq(a, lit)))
          // bare epoch_s against a coarser table: only the half-open
          // g-aligned forms are exact (the same shapes the raw-ts path maps)
          case Some(a: AttributeReference) if a.exprId == es.exprId =>
            (cmp, flipped) match {
              case (_: GreaterThanOrEqual, false) | (_: LessThanOrEqual, true) =>
                alignedEpoch(lit, g).map(GreaterThanOrEqual(es, _))
              case (_: LessThan, false) | (_: GreaterThan, true) =>
                alignedEpoch(lit, g).map(LessThan(es, _))
              case _ => None
            }
          case Some(_) => None
          case None if tsRangeMappable && isRawTs(x) =>
            // normalized to (ts OP lit): only the aligned closed-lower /
            // open-upper forms map; ts > s·1e9 / ts <= s·1e9 have sub-second
            // slack that epoch_s cannot express
            (cmp, flipped) match {
              case (_: GreaterThanOrEqual, false) | (_: LessThanOrEqual, true) =>
                alignedSec(lit, g).map(GreaterThanOrEqual(es, _)) // ts >= s·1e9
              case (_: LessThan, false) | (_: GreaterThan, true) =>
                alignedSec(lit, g).map(LessThan(es, _)) // ts < e·1e9
              case _ => None
            }
          case None if tsRangeMappable && RollupRewrite.NativeTs.unapply(x).isDefined =>
            // the parquet-pushable phrasing ([[graft.Tables.events]] interval
            // filters): the NATIVE timestamp column against a second-aligned
            // timestamp literal — same half-open forms, micros-valued literal
            (cmp, flipped) match {
              case (_: GreaterThanOrEqual, false) | (_: LessThanOrEqual, true) =>
                alignedMicrosSec(lit, g).map(GreaterThanOrEqual(es, _))
              case (_: LessThan, false) | (_: GreaterThan, true) =>
                alignedMicrosSec(lit, g).map(LessThan(es, _))
              case _ => None
            }
          case None => None
        }
      case In(x, list) if list.forall(_.isInstanceOf[Literal]) =>
        mapScanExpr(x, rollupAttr, g)
          .filter(gInvariant(_, g, rollupAttr("epoch_s")))
          .map(In(_, list))
      case IsNotNull(x) =>
        // A scan column maps onto a key only when install() PROVED the key's
        // canonical def null-bijective in that column (e.g. user_id null ⟺
        // house_id null through the null-propagating concat). Unproven shapes
        // fall through to the exact-definition path or reject.
        x match {
          case a: AttributeReference if nullBijections.contains(a.name) =>
            Some(IsNotNull(rollupAttr(nullBijections(a.name))))
          // the widened nanosecond instant is null exactly when the scan's
          // `ts` is (cast ntz→ltz, unix_micros, ·1000 are all null-bijective
          // in their input), so it rides the same proven ts bijection
          case RollupRewrite.NsOfTs(_) if nullBijections.contains("ts") =>
            Some(IsNotNull(rollupAttr(nullBijections("ts"))))
          // the canonical time column (TimeWindowing pushes isnotnull(time)
          // to the scan): time = timestamp_micros(ts div 1e3) and
          // epoch_s = ts div 1e9 are both null exactly when ts is — proven
          // structurally at install (timeWindowMappable)
          case _ if timeWindowMappable && canonicalSql.get("time").contains(x.sql) =>
            Some(IsNotNull(rollupAttr("epoch_s")))
          // nullness survives the g-floor only when it is a function of the
          // inputs' nullness alone (null-intolerant chains: null div g is
          // null) or when the whole expression is g-invariant. An expression
          // whose nullness depends on epoch_s's VALUE — nullif(epoch_s % 60,
          // 0) — would change truth on the floored table, so it rejects.
          case _ => mapScanExpr(x, rollupAttr, g)
            .filter(a => gInvariant(a, g, rollupAttr("epoch_s")) ||
              nullnessGFloorInvariant(a, rollupAttr("epoch_s")))
            .map(IsNotNull)
        }
      case _ => None
    }
}

object RollupRewrite {

  val RollupViewName = "powerraw_rollup"

  /** View name for one granularity of the lattice (1 s keeps the legacy name). */
  def viewName(granularitySec: Long): String =
    if (granularitySec == 1L) RollupViewName else s"${RollupViewName}_${granularitySec}s"

  private[plans] val ServedKeys = Set("house_id", "appliance_id", "appliance_name", "epoch_s")

  /** Measure + keys whose canonical definitions the rule requires. */
  private val RequiredCols = ServedKeys + "power"

  /** [[RequiredCols]] plus optional defs captured when the view has them
    * (`time` enables event-time-window routing).
    */
  private val CanonicalCols = RequiredCols + "time"

  /** One branch of a chain: scan-space definitions of the visible output
    * attributes (keyed by ExprId) plus the scan-space filter conditions
    * gathered along the way. Plans without an [[Expand]] have exactly one.
    */
  private[plans] type Branch = (Map[ExprId, Expression], Seq[Expression])

  /** Walk a Project/Filter/Expand chain down to the raw events parquet
    * relation, composing projections so every output attribute (and every
    * filter condition found along the way) is expressed over the SCAN's own
    * columns. Keyed by ExprId, never by name: optimizer rules emit
    * duplicate output names (PullOutGroupingExpressions aliases every
    * derived grouping as `_groupingexpression`), and a name-keyed map would
    * silently collapse them. An [[Expand]] (what `groupBy(window(...))`
    * lowers to) multiplies branches — one defs map per projection list; a
    * Filter above it contributes per-branch conditions. Any node that is not
    * a Project/Filter/Expand/events-scan, or any column that does not
    * resolve, rejects the chain.
    */
  private[plans] def analyzeChain(p: LogicalPlan): Option[Seq[Branch]] = p match {
    case l: LogicalRelation if isEventsScan(l) =>
      Some(Seq((l.output.map(a => a.exprId -> (a: Expression)).toMap, Nil)))
    case pr: Project =>
      analyzeChain(pr.child).flatMap { branches =>
        val mapped: Seq[Option[Branch]] = branches.map { case (defs, conds) =>
          val resolved = pr.projectList.map {
            case a: AttributeReference => defs.get(a.exprId).map(a.exprId -> _)
            case al @ Alias(child, _) => substitute(child, defs).map(al.exprId -> _)
            case _ => None
          }
          if (resolved.exists(_.isEmpty)) None
          else Some((resolved.flatten.toMap, conds))
        }
        if (mapped.exists(_.isEmpty)) None else Some(mapped.flatten)
      }
    case f: Filter =>
      analyzeChain(f.child).flatMap { branches =>
        val mapped: Seq[Option[Branch]] = branches.map { case (defs, conds) =>
          substitute(f.condition, defs).map(c => (defs, conds :+ c))
        }
        if (mapped.exists(_.isEmpty)) None else Some(mapped.flatten)
      }
    case e: Expand =>
      analyzeChain(e.child).flatMap { branches =>
        val mapped: Seq[Option[Branch]] = for {
          (defs, conds) <- branches
          proj <- e.projections
        } yield {
          val resolved = e.output.zip(proj).map { case (attr, ex) =>
            substitute(ex, defs).map(attr.exprId -> _)
          }
          if (resolved.exists(_.isEmpty)) None
          else Some((resolved.flatten.toMap, conds))
        }
        if (mapped.exists(_.isEmpty)) None else Some(mapped.flatten)
      }
    case _ => None
  }

  private def isEventsScan(l: LogicalRelation): Boolean = l.relation match {
    case fs: HadoopFsRelation =>
      fs.location.rootPaths.exists(_.toString.endsWith("events.parquet"))
    case _ => false
  }

  private[plans] def substitute(e: Expression, defs: Map[ExprId, Expression]): Option[Expression] = {
    var ok = true
    val out = e.transformUp {
      case a: AttributeReference =>
        defs.get(a.exprId) match {
          case Some(d) => d
          case None => ok = false; a
        }
    }
    if (ok) Some(out) else None
  }

  /** Candidate IsNotNull source→key pairs; each is enabled only if proven. */
  private val NullBijectionCandidates =
    Seq("user_id" -> "house_id", "ts" -> "epoch_s", "event_type" -> "appliance_name")

  /** The served-key canonical defs that are provably null-bijective in their
    * single source column: def references exactly `src`, null in ⟹ null out
    * (checked by folding the def with a null literal substituted), and
    * non-null in ⟹ non-null out (conservative structural walk). Only these
    * mappings let the rule translate `IsNotNull(src)` filters.
    */
  private[plans] def validatedNullBijections(
      defs: Map[String, Expression]): Map[String, String] =
    NullBijectionCandidates.filter { case (src, key) =>
      defs.get(key).exists(d =>
        d.references.toSeq.map(_.name) == Seq(src) &&
          nullPropagates(d, src) && nonNullPreserving(d, src))
    }.toMap

  private def nullPropagates(d: Expression, src: String): Boolean =
    try {
      val nulled = d.transformUp {
        case a: AttributeReference if a.name == src => Literal.create(null, a.dataType)
      }
      nulled.deterministic && nulled.foldable && nulled.eval(null) == null
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Given a non-null `src`, is `e` guaranteed non-null? Whitelist of shapes
    * the canonical views use; anything unrecognized conservatively fails.
    */
  private def nonNullPreserving(e: Expression, src: String): Boolean = e match {
    case a: AttributeReference => a.name == src
    case l: Literal => l.value != null
    // numeric→string casts cannot fail; other casts may return null
    case Cast(child, StringType, _, _) => nonNullPreserving(child, src)
    // timestamp_ntz→timestamp is a pure tz reinterpretation — cannot fail
    case Cast(child, TimestampType, _, _) if child.dataType == TimestampNTZType =>
      nonNullPreserving(child, src)
    case UnixMicros(child) => nonNullPreserving(child, src)
    case Multiply(l, r: Literal, _) if r.value != null => nonNullPreserving(l, src)
    case Remainder(l, Literal(d, _), _) if d != null && d != 0 && d != 0L =>
      nonNullPreserving(l, src)
    case IntegralDivide(l, Literal(d, _), _) if d != null && d != 0 && d != 0L =>
      nonNullPreserving(l, src)
    case Concat(children) => children.forall(nonNullPreserving(_, src))
    case _ => false
  }

  /** The scan-space epoch-nanosecond instant, in either physical shape the
    * TESTDATA generations produced: the scan's own long `ts` column (a
    * TIMESTAMP(NANOS) parquet read via `nanosAsLong`), or the exact widening
    * `unix_micros(cast(ts as timestamp)) * 1000` that [[graft.Tables.events]]
    * layers over a TIMESTAMP(MICROS) scan. Both denote the same non-negative
    * integral nanosecond count and are null exactly when the scan column is —
    * the two facts every ts proof below relies on.
    */
  private[plans] object NsOfTs {
    def unapply(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference if a.name == "ts" && a.dataType == LongType =>
        Some(a)
      case Multiply(UnixMicros(Cast(a: AttributeReference, TimestampType, _, _)),
            Literal(1000L, LongType), _)
          if a.name == "ts" &&
            (a.dataType == TimestampNTZType || a.dataType == TimestampType) =>
        Some(a)
      // same widening when the scan is already TIMESTAMP and the no-op cast
      // was elided by the optimizer
      case Multiply(UnixMicros(a: AttributeReference), Literal(1000L, LongType), _)
          if a.name == "ts" && a.dataType == TimestampType =>
        Some(a)
      case _ => None
    }
  }

  /** The scan's `ts` column when it is physically a timestamp: comparisons
    * against second-aligned timestamp literals (whose Catalyst value is epoch
    * micros; wall-clock-UTC micros for NTZ, matching the UTC session the
    * engine pins in [[graft.Tables.tune]]) map exactly onto `epoch_s` bounds,
    * exactly like the nanosecond-long range mapping.
    */
  private[plans] object NativeTs {
    def unapply(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference
          if a.name == "ts" &&
            (a.dataType == TimestampNTZType || a.dataType == TimestampType) =>
        Some(a)
      case _ => None
    }
  }

  /** The ts≥s·1e9 ⟺ epoch_s≥s range mapping is sound only when epoch_s is
    * EXACTLY the second floor of the scan's nanosecond instant — proven
    * structurally, not assumed (ADVICE r2, medium).
    */
  private[plans] def tsSecondFloorProven(defs: Map[String, Expression]): Boolean =
    defs.get("epoch_s").exists {
      case IntegralDivide(NsOfTs(_), Literal(ns, LongType), _) => ns == 1000000000L
      case _ => false
    }

  /** The canonical `time` is EXACTLY `timestamp_micros(ts_ns div 1e3)` over
    * the scan's nanosecond instant — with [[tsSecondFloorProven]], the floor
    * identities that let event-time window structs be recomputed from
    * `epoch_s` (and `isnotnull(time)` map to `isnotnull(epoch_s)`: both are
    * null exactly when `ts` is, through null-propagating non-null-preserving
    * shapes).
    */
  private[plans] def timeMicrosProven(defs: Map[String, Expression]): Boolean =
    defs.get("time").exists {
      case MicrosToTimestamp(IntegralDivide(NsOfTs(_), Literal(us, LongType), _)) =>
        us == 1000L
      case _ => false
    }

  /** Sessions whose rollup rule is live, for the extension-injected delegate
    * ([[graft.GraftExtensions]]). Weak keys: a dropped session must not be
    * pinned by its installed rule.
    */
  private val installed =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, RollupRewrite]())

  private[graft] def installedFor(spark: SparkSession): Option[RollupRewrite] =
    Option(installed.get(spark))

  /** Register the rollup view, capture the canonical raw-view definitions,
    * and install the rule (idempotent). `canonicalRaw` is the engine's raw
    * power view over the SAME events source (e.g. `Grid.powerReadings`); its
    * optimized projection is the structural fingerprint user plans must match.
    * Filter-atom special mappings (IsNotNull translation, ts range → epoch_s)
    * are derived from the captured defs here, never assumed downstream.
    *
    * The rule activates through the delegate [[graft.GraftExtensions]]
    * injects, so the session must carry that extension (every
    * [[graft.GraftSession]] session does); a session without it is refused,
    * since nothing would ever route there.
    */
  def install(spark: SparkSession, rollupPath: String, canonicalRaw: DataFrame): Unit =
    install(spark, rollupPath, canonicalRaw, Nil)

  /** [[install]] with a rollup LATTICE: `coarse` lists additional
    * materializations (path, granularity seconds) built by
    * [[graft.sources.RollupTable.materializeCoarse]]. The rule tries the
    * coarsest table first and falls through to finer ones, so a minute-level
    * dashboard tile reads the 60 s table while `epoch_s div 5` buckets keep
    * reading the 1 s table — Druid's multi-granularity serving as one
    * Catalyst rule.
    *
    * Contract: every level holds ONE row per (epoch_s, house_id,
    * appliance_id, appliance_name), as [[graft.sources.RollupTable]]
    * writes it, whole and by increment. The same-grain projection relies on
    * it: a table with repeated keys must not be installed as a level.
    */
  def install(
      spark: SparkSession,
      rollupPath: String,
      canonicalRaw: DataFrame,
      coarse: Seq[(String, Long)]): Unit = {
    require(graft.GraftExtensions.armed(spark),
      s"RollupRewrite.install needs a session built with ${graft.GraftExtensions.Conf}")
    require(coarse.forall(_._2 > 1), s"coarse granularities must be >1 s")
    spark.read.parquet(rollupPath)
      .createOrReplaceTempView(RollupViewName)
    coarse.foreach { case (path, g) =>
      spark.read.parquet(path).createOrReplaceTempView(viewName(g))
    }
    // name the ExprId-keyed defs through the view's OUTPUT attributes (the
    // one place names are authoritative: the canonical view's own schema)
    val plan = canonicalRaw.queryExecution.optimizedPlan
    val byId: Map[ExprId, Expression] =
      analyzeChain(plan).collect { case Seq((defs, _)) => defs }.getOrElse(Map.empty)
    val canonicalDefs: Map[String, Expression] =
      plan.output.flatMap(a => byId.get(a.exprId).map(a.name -> _))
        .toMap.filter { case (n, _) => CanonicalCols(n) }
    val canonicalSql = canonicalDefs.map { case (n, e) => n -> e.sql }
    require(RequiredCols.forall(canonicalSql.contains),
      s"canonicalRaw must expose ${RequiredCols.mkString(", ")} over the events scan")
    uninstall(spark)
    val rule = new RollupRewrite(
      spark, canonicalSql,
      validatedNullBijections(canonicalDefs), tsSecondFloorProven(canonicalDefs),
      timeWindowMappable =
        tsSecondFloorProven(canonicalDefs) && timeMicrosProven(canonicalDefs),
      rollups =
        coarse.map(_._2).distinct.sorted.reverse.map(g => g -> viewName(g)) :+
          (1L -> RollupViewName),
      lattice = Some((rollupPath, coarse)))
    installed.put(spark, rule)
  }

  def uninstall(spark: SparkSession): Unit = { installed.remove(spark); () }
}
