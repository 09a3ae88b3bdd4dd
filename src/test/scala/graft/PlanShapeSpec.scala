package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, CreateArray, Literal, StringReplace}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{LogicalRDD, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dashboard, Relational}
import graft.text.TextOps

/** Plan-shape invariants for the settled plan decisions: each measured win
  * has ONE code path, and the test fails if a change brings back the losing
  * shape. Row identity of every query here is pinned separately by the
  * DuckDB oracle; these tests pin the SHAPE. Physical counts read the
  * initial (pre-execution) adaptive plan.
  */
class PlanShapeSpec extends AnyFunSuite with SharedSpark with AdaptiveSparkPlanHelper {

  private def physical(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  /** Every expression node of every operator of a logical plan. */
  private def expressions(plan: LogicalPlan) =
    plan.flatMap(_.expressions.flatMap(_.collect { case e => e }))

  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)

  test("cms top-k: one cell aggregate and one broadcast map, no per-row joins") {
    // the per-sketch-row shape planned 9 shuffles and 4 broadcast hash joins
    val plan = physical(TextOps.cmsTopK(spark, sfDir))
    val shuffles = collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(shuffles.size <= 4, s"${shuffles.size} shuffles:\n$plan")
    assert(bhj.isEmpty, s"${bhj.size} broadcast hash joins:\n$plan")
  }

  test("bpe trainers keep only the bpeWords0 checkpoint under their merge maps") {
    // a per-round localCheckpoint would leave the LAST round's LogicalRDD
    // with no merge replace above it
    def shape(encoded: DataFrame): (Int, Int) = {
      val plan = encoded.queryExecution.analyzed
      val checkpoints = plan.collect { case r: LogicalRDD => r }.size
      val merges = expressions(plan).count {
        case StringReplace(_, Literal(search, _), _) => search.toString.contains("][")
        case _ => false
      }
      (checkpoints, merges)
    }
    assert(shape(TextOps.bpeEncode(spark, sfDir)) == ((1, TextOps.BpeTrainIters)))
    val batchedLadder = TextOps.bpeTrainBatched(spark, sfDir).count().toInt
    assert(shape(TextOps.bpeEncodeBatched(spark, sfDir)) == ((1, batchedLadder)))
  }

  test("shingle pair statistics expand posting arrays: no self-join on the shingle key") {
    // the only join keyed on `s` is the df-cap join-back; a pair self-join
    // adds a second one (and re-derives its side), whatever its strategy
    Seq("q_ngram_jaccard_pairs", "q_jaccard_incremental").foreach { q =>
      val plan = physical(query(q))
      val sJoins = collectWithSubqueries(plan) {
        case j: BaseJoinExec if j.leftKeys.exists {
          case a: Attribute => a.name == "s"
          case _ => false
        } => j
      }
      assert(sJoins.size == 1, s"$q: ${sJoins.size} joins keyed on s:\n$plan")
    }
  }

  test("the live shingle family keys on a 64-bit hash, not the 5-gram string") {
    val plan = query("q_ngram_jaccard_pairs").queryExecution.analyzed
    val sTypes = plan.flatMap(_.output.filter(_.name == "s").map(_.dataType)).distinct
    assert(sTypes == Seq(LongType), s"s column types: $sTypes")
  }

  test("ann codebooks are single typedLit nodes, not arrays of literals") {
    Seq("q_ivf_adc_topk", "q_pq_train").foreach { q =>
      val literalArrays = expressions(query(q).queryExecution.analyzed).count {
        case c: CreateArray => c.children.nonEmpty && c.children.forall(_.isInstanceOf[Literal])
        case _ => false
      }
      assert(literalArrays == 0, s"$q: $literalArrays CreateArray nodes over literals")
    }
  }

  test("star join pre-aggregates lineitem by l_orderkey when orders cannot broadcast") {
    // Spark's size estimate is file bytes × fileCompressionFactor; a huge
    // factor puts orders over the broadcast threshold
    val key = "spark.sql.sources.fileCompressionFactor"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "100000")
    val plan =
      try physical(Relational.starJoin(spark, sfDir))
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val preagg = collectWithSubqueries(plan) {
      case j: BaseJoinExec => j.children.flatMap(c => collect(c) {
        case h: HashAggregateExec
            if h.groupingExpressions.exists(_.references.exists(_.name == "l_orderkey")) => h
      })
    }.flatten
    assert(preagg.nonEmpty, s"no HashAggregate on l_orderkey below a join:\n$plan")
  }

  test("the history job plans no sort: its keyed records keep no order") {
    val plan = physical(graft.streaming.HistoryJob.run(spark, sfDir, 1L))
    val sorts = collectWithSubqueries(plan) { case o: SortExec => o }
    val ranged = collectWithSubqueries(plan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(sorts.isEmpty && ranged.isEmpty,
      s"${sorts.size} sorts, ${ranged.size} range exchanges:\n$plan")
  }

  test("routed dashboard tiles plan one shuffle: no view sort, no same-grain re-aggregation") {
    // a view that kept its catalog ORDER BY added a range exchange and a
    // Sort under every tile; a same-grain rollup read kept a second Aggregate
    // and its hash exchange. Both gone: a routed tile is scan, aggregate,
    // one shuffle.
    val dir = java.nio.file.Files.createTempDirectory("shape_lattice").toString + "/r"
    val s = GraftSession.open(sfDir, dir)
    try {
      Dashboard.registerViews(s, sfDir)
      Seq("powerraw", "dutycycle", "history").foreach { v =>
        val plan = s.table(v).queryExecution.analyzed
        assert(plan.collect { case o: Sort => o }.isEmpty, s"view $v keeps a Sort:\n$plan")
      }
      Seq("total_power", "top10_appliance_names", "top10_houses", "top10_appliances").foreach { t =>
        val plan = s.sql(Dashboard.tiles(t)).queryExecution.executedPlan
        val exchanges = collectWithSubqueries(plan) { case e: Exchange => e }
        assert(exchanges.size == 1, s"$t: ${exchanges.size} exchanges:\n$plan")
        val ranged = collectWithSubqueries(plan) {
          case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
        }
        assert(ranged.isEmpty, s"$t: range exchange:\n$plan")
        val finalAgg = collectFirst(plan) { case a: BaseAggregateExec => a }
        assert(finalAgg.isDefined, s"$t: no aggregate:\n$plan")
        assert(collect(finalAgg.get) { case o: SortExec => o }.isEmpty,
          s"$t: Sort below the final aggregate:\n$plan")
        assert(plan.toString.contains("sum_power_dec"), s"$t is not routed:\n$plan")
      }
    } finally graft.plans.RollupRewrite.uninstall(s)
  }
}
