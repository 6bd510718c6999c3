package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Cast, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, Filter, GlobalLimit, Join, LeafNode, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec, LocalTableScanExec}

/** The plan audit, SELF-ENFORCING (r10 brief #2): PLANS.md documents the
  * headline plans, but its currency was habit-enforced and drifted twice
  * (r5, r8). This suite walks the physical plan of EVERY
  * `SparkEntry.queries` entry at sf0.001 and asserts the three invariants
  * the manual audit checks, so a regression fails `sbt test` instead of
  * waiting for a judge pass:
  *
  *  1. No `CartesianProductExec` — an all-pairs join must ride a
  *     broadcast build side (BroadcastNestedLoopJoin) or a real key.
  *  2. No single-partition shuffle of data-scale rows: an
  *     `Exchange SinglePartition` is only acceptable when its subtree has
  *     already bounded the row count (a partial aggregate, a limit, or a
  *     driver-materialised LocalTableScan of model state below it).
  *  3. Every sorted-limit sink plans as `TakeOrderedAndProject` — a
  *     global Sort + Limit pair in its place shuffles the full frame.
  *
  * The sweep inspects `executedPlan` BEFORE execution (AQE's input plan),
  * which is exactly what PLANS.md dumps; fixture-scale row counts don't
  * change these shape invariants. Query construction itself may run
  * driver-side model fits (k-means collects, ingest fixtures) — that cost
  * is the price of sweeping all entries and stays small at sf0.001.
  */
class PlanLintSpec extends SparkSpec {

  /** Every physical node, descending through AQE wrappers and subqueries.
    * Inside an AQE wrapper this walks `initialPlan` — the plan AFTER the
    * queryStagePreparation rules (EnsureRequirements et al.), i.e. WITH
    * the requirement-inserted exchanges — not `inputPlan`, which predates
    * them: r12 found the `inputPlan` walk blind to every
    * ENSURE_REQUIREMENTS exchange (single-partition sorts/windows) and to
    * every broadcast exchange, which vacuously passed lint #2 on shapes
    * it was written to catch. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => Seq(a) ++ allNodes(a.initialPlan)
      case _ => Seq(p) ++ p.children.flatMap(allNodes)
    }
    self ++ p.subqueries.flatMap(allNodes)
  }

  /** True when every row reaching this subtree's top is already bounded:
    * an aggregate / limit / top-k below the exchange, or nothing but
    * driver-local model-state scans at the leaves. */
  private def bounded(p: SparkPlan): Boolean = {
    val nodes = allNodes(p)
    nodes.exists {
      case _: BaseAggregateExec | _: GlobalLimitExec | _: LocalLimitExec |
          _: TakeOrderedAndProjectExec => true
      case _ => false
    } || nodes.filter(_.children.isEmpty).forall {
      case _: LocalTableScanExec => true
      case l => l.getClass.getSimpleName.startsWith("Empty")
    }
  }

  /** The sorted-limit shapes in the optimized logical plan that must
    * become TakeOrderedAndProject: GlobalLimit over (projections of) a
    * global Sort. */
  private def sortedLimits(plan: LogicalPlan): Seq[LogicalPlan] = {
    def throughProjections(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, c) => throughProjections(c)
      case LocalLimit(_, c) => throughProjections(c)
      case other => other
    }
    plan.collect {
      case g @ GlobalLimit(_, child) =>
        throughProjections(child) match {
          case s: Sort if s.global => Some(g)
          case _ => None
        }
    }.flatten
  }

  // Queries whose construction needs state the lint sweep must set up are
  // all self-contained; none are exempt today. If a future query needs a
  // documented exception, add it here WITH the justification.
  private val cartesianExempt: Map[String, String] = Map.empty
  private val singlePartitionExempt: Map[String, String] = Map.empty
  private val topKExempt: Map[String, String] = Map.empty

  private lazy val plans: Seq[(String, DataFrame)] = {
    val dir = sf()
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
      name -> q(spark, dir)
    }
  }

  test("plan lint: no CartesianProduct anywhere on the board") {
    val bad = plans.filterNot(p => cartesianExempt.contains(p._1)).flatMap {
      case (name, df) =>
        allNodes(df.queryExecution.executedPlan).collect {
          case _: CartesianProductExec => name
        }
    }.distinct
    assert(bad.isEmpty,
      s"CartesianProduct (no broadcast build side) in: ${bad.mkString(", ")}")
  }

  test("plan lint: no single-partition shuffle of unbounded data-scale rows") {
    val bad = plans.filterNot(p => singlePartitionExempt.contains(p._1))
      .flatMap { case (name, df) =>
        allNodes(df.queryExecution.executedPlan).collect {
          case e: ShuffleExchangeExec
              if e.outputPartitioning == SinglePartition && !bounded(e.child) =>
            name
        }
      }.distinct
    assert(bad.isEmpty,
      s"unbounded Exchange SinglePartition in: ${bad.mkString(", ")}")
  }

  // ---- broadcast provenance (r11 brief #3) -------------------------------
  // A BroadcastExchange chosen by SIZE STATISTICS is self-correcting: at
  // corpus scale the statistics grow and Catalyst degrades to a shuffled
  // join on its own. A broadcast FORCED by a `broadcast()` hint is not —
  // r11 shipped an unconditional hint on a |docs|×KB frame that fixture
  // scale could never expose (the plan is legal, the bytes are small).
  // This audit therefore walks the HINTED side of every join in the
  // optimized logical plan (EliminateResolvedHint folds `broadcast()` into
  // the Join's JoinHint, so hint provenance only exists at this layer) and
  // fails when it reaches a data-scale fixture scan with nothing between
  // scan and hint that bounds the row count: an aggregate, a limit/top-k,
  // or a point lookup (equality-to-literal on the table's unique key).
  // K-row dimension tables (region/nation) are constant-size by schema
  // and exempt.

  private val dataScaleTables = Set("customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Unique-key columns whose equality-to-literal filter bounds a fixture
    * scan to O(1) rows (point lookups: ANN query vectors, seed docs). */
  private val pointKeyCols = Set("id", "doc_id", "vec_id")

  private def isPointFilter(cond: Expression): Boolean = {
    def strip(e: Expression): Expression = e match {
      case c: Cast => strip(c.child)
      case x => x
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    conjuncts(cond).exists {
      case EqualTo(a, _: Literal) => strip(a) match {
        case att: Attribute => pointKeyCols(att.name); case _ => false
      }
      case EqualTo(_: Literal, b) => strip(b) match {
        case att: Attribute => pointKeyCols(att.name); case _ => false
      }
      case _ => false
    }
  }

  private def fixtureTableOf(l: LeafNode): Option[String] = l match {
    case r: LogicalRelation => r.relation match {
      case f: HadoopFsRelation =>
        val paths = f.location.rootPaths.mkString(",")
        dataScaleTables.find(t => paths.contains(s"$t.parquet"))
      case _ => None
    }
    case _ => None
  }

  /** The first data-scale fixture table reachable from `p` with no
    * row-count bound on the way down — None when every path to a fixture
    * scan crosses an aggregate, a limit, or a point-key filter. */
  private def unboundedFixtureScan(p: LogicalPlan): Option[String] = p match {
    case _: Aggregate | _: GlobalLimit | _: LocalLimit => None
    case f: Filter if isPointFilter(f.condition) => None
    case l: LeafNode => fixtureTableOf(l)
    case other => other.children.flatMap(unboundedFixtureScan).headOption
  }

  /** All `(queryName: table)` violations in one query's optimized plan,
    * including joins inside (nested) subqueries. */
  private def broadcastViolations(name: String, df: DataFrame): Seq[String] = {
    val root = df.queryExecution.optimizedPlan
    (root +: root.subqueriesAll).flatMap(_.collect { case j: Join =>
      Seq(j.hint.leftHint -> j.left, j.hint.rightHint -> j.right).flatMap {
        case (h, side) if h.exists(_.strategy.contains(BROADCAST)) =>
          unboundedFixtureScan(side).map(t => s"$name: broadcast($t)")
        case _ => None
      }
    }).flatten.distinct
  }

  test("plan lint: no broadcast() hint forces a data-scale fixture frame") {
    val bad = plans.flatMap { case (name, df) => broadcastViolations(name, df) }
    assert(bad.isEmpty,
      s"forced broadcast of an unbounded data-scale fixture side in: ${bad.mkString(", ")}")
  }

  test("plan lint: the broadcast-provenance audit catches a deliberate mis-hint") {
    import org.apache.spark.sql.functions.{broadcast, col}
    val docs = Tables.load(spark, sf(), "documents")
    // the r11 defect shape on purpose: a tiny pair frame joined against a
    // FORCED broadcast of the full |docs|-scale doc->source projection
    val pairs = docs.select(col("doc_id")).limit(5)
    val bad = pairs.join(
      broadcast(docs.select(col("doc_id"), col("source"))), Seq("doc_id"))
    assert(broadcastViolations("mishint", bad) ===
      Seq("mishint: broadcast(documents)"))
  }

  test("plan lint: every sorted-limit sink is TakeOrderedAndProject") {
    val bad = plans.filterNot(p => topKExempt.contains(p._1)).flatMap {
      case (name, df) =>
        val needs = sortedLimits(df.queryExecution.optimizedPlan)
        val has = allNodes(df.queryExecution.executedPlan).exists {
          case _: TakeOrderedAndProjectExec => true
          case _ => false
        }
        if (needs.nonEmpty && !has) Seq(name) else Nil
    }.distinct
    assert(bad.isEmpty,
      s"sorted limit planned as Sort+Limit (full-frame shuffle) in: ${bad.mkString(", ")}")
  }

  test("PlanDump.stableIds renumbers expression and plan ids by first appearance") {
    val raw = "Project [a#912L, b#17]\n+- Exchange hashpartitioning(a#912L, 8), " +
      "ENSURE_REQUIREMENTS, [plan_id=301]\n   +- Filter (b#17 > 0)\n" +
      "      +- ReusedExchange [a#4L], [plan_id=77]\n         +- [plan_id=301]"
    assert(PlanDump.stableIds(raw) ===
      "Project [a#1L, b#2]\n+- Exchange hashpartitioning(a#1L, 8), " +
      "ENSURE_REQUIREMENTS, [plan_id=1]\n   +- Filter (b#2 > 0)\n" +
      "      +- ReusedExchange [a#3L], [plan_id=2]\n         +- [plan_id=1]")
  }
}
