package graft

import graft.catalog.Catalogs
import graft.graph.{GraphBuilder, HeteroGraph}
import graft.learn.{Propagate, Scoring, TrainedModel}
import graft.serve.Recommend
import graft.topology.EdgeKey
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._

/** Incremental serving ([[Recommend.recommend]]: memoised base layers plus
  * an r-hop ball delta) against the full recompute it replaced —
  * propagate the whole mutated graph, then score every candidate. */
class RecommendSpec extends SparkSpec {
  implicit lazy val s: org.apache.spark.sql.SparkSession = spark
  import spark.implicits._

  /** The reference: every round over the whole mutated graph. */
  private def fullRecompute(
      g: HeteroGraph,
      target: EdgeKey,
      seedDst: Seq[Long],
      k: Int,
      rounds: Int,
      model: Option[TrainedModel]): Array[Row] = {
    val (mutated, newId) = Recommend.addSeedNode(g, target, seedDst)
    // one round per call, each layer pinned before the next: unpinned
    // per-type rounds re-plan the earlier rounds once per reader
    val emb = (2 to rounds).foldLeft(
      Propagate.meanRounds(mutated, Propagate.degreeInit(mutated), 1)) { (h, _) =>
      Propagate.meanRounds(mutated, h.map { case (t, df) => t -> df.localCheckpoint() }, 1) }
    val base = mutated.nodes(target.dst).select(col("id"))
      .join(seedDst.toDF("id"), Seq("id"), "left_anti")
    val candidates =
      (if (target.isSelfType) base.filter(col("id") =!= newId) else base)
        .select(lit(newId).as("src"), col("id").as("dst"))
    val seedEmb = broadcast(emb(target.src).filter(col("id") === newId))
    val scored = model match {
      case Some(m) =>
        Scoring.scoreEdgesModel(candidates, seedEmb, emb(target.dst), m.weights, m.intercept)
      case None => Scoring.scoreEdges(candidates, seedEmb, emb(target.dst))
    }
    scored
      .join(mutated.nodes(target.dst).select(col("id").as("dst"), col("pk")), Seq("dst"))
      .select(col("dst").as("id"), col("pk"), col("logit"), col("score"))
      .orderBy(desc("logit"), asc("id"))
      .limit(k)
      .collect()
  }

  private val head = TrainedModel(Array(0.37, -0.21, 0.013), 0.05, Map.empty)

  /** Same ids in the same order, logits equal to 1e-12 relative. */
  private def assertSame(got: Array[Row], want: Array[Row], what: String): Unit = {
    assert(got.map(_.getLong(0)).toSeq === want.map(_.getLong(0)).toSeq, what)
    got.zip(want).foreach { case (a, b) =>
      val (x, y) = (a.getDouble(2), b.getDouble(2))
      assert(math.abs(x - y) <= 1e-12 * math.max(math.abs(y), 1e-300),
        s"$what: id ${a.getLong(0)} logit $x vs $y")
    }
  }

  private def checkAll(
      g: HeteroGraph, target: EdgeKey, playlists: Seq[Seq[Long]], k: Int,
      what: String, rounds: Seq[Int] = Seq(1, 2, 3)): Unit =
    for (r <- rounds; m <- Seq(None, Some(head)); seeds <- playlists) {
      val label = s"$what rounds=$r model=${m.isDefined} seeds=$seeds"
      assertSame(
        Recommend.recommend(g, target, seeds, k, rounds = r, model = m).collect(),
        fullRecompute(g, target, seeds, k, r, m), label)
    }

  private lazy val entryGraph = GraphBuilder
    .build(Catalogs.tpch, n => Tables.load(spark, sf(), n),
      extraEdges = Seq(SparkEntry.ordersPartEdge))
    .addDegree.withReverseEdges.withSelfLoops.materialized()

  private val ordersPart = EdgeKey("orders", "hasPart", "part")

  private def nodes(n: Int, rnd: scala.util.Random): DataFrame =
    (0 until n).map(i => (i.toLong, s"k$i", Array(rnd.nextInt(4).toFloat)))
      .toDF("id", "pk", "features")

  /** `n` random (src, dst) pairs, the first `repeats` of them twice. */
  private def pairs(n: Int, srcs: Int, dsts: Int, repeats: Int,
      rnd: scala.util.Random): DataFrame = {
    val ps = Seq.fill(n)((rnd.nextInt(srcs).toLong, rnd.nextInt(dsts).toLong))
    (ps ++ ps.take(repeats)).toDF("src", "dst")
  }

  /** users —rates→ items plus items —near→ items: the dst type has its own
    * edge type, so B_R (R ≥ 2) holds candidates that are not seeds. */
  private val rates = EdgeKey("user", "rates", "item")
  private lazy val synthetic = {
    val rnd = new scala.util.Random(11)
    HeteroGraph(
      Map("user" -> nodes(25, rnd), "item" -> nodes(30, rnd)),
      Map(rates -> pairs(90, 25, 30, 15, rnd),
        EdgeKey("item", "near", "item") -> pairs(40, 30, 30, 5, rnd)))
      .addDegree.withReverseEdges.withSelfLoops.materialized()
  }

  test("addSeedNode wires the new node: seed edges, their reverses, a self-loop") {
    val seeds = Seq(0L, 1L, 1L)
    val (g, newId) = Recommend.addSeedNode(synthetic, rates, seeds)
    // user and item ids overlap: match newId on the user end only
    def edges(k: EdgeKey) =
      g.edges(k).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(edges(rates).filter(_._1 == newId) === Seq((newId, 0L), (newId, 1L), (newId, 1L)))
    assert(edges(rates.reversed).filter(_._2 == newId) ===
      Seq((0L, newId), (1L, newId), (1L, newId)))
    assert(edges(EdgeKey("user", "SELF_LOOP", "user")).filter(_._1 == newId) ===
      Seq((newId, newId)))
    assert(edges(rates).size === synthetic.edges(rates).count() + 3)
    assert(g.nodes("user").filter(col("id") === newId)
      .select(element_at(col("features"), -1)).head().getFloat(0) === 4f)
  }

  // k covers every candidate in the two small graphs: the whole ranking is
  // compared, in-ball candidates included
  test("dst-type self edges: in-ball candidates match the full recompute") {
    checkAll(synthetic, rates, Seq(Seq(0L, 1L, 2L), Seq(5L)), 30, "synthetic")
  }

  test("self-type target: candidates exclude the new node, match the full recompute") {
    val rnd = new scala.util.Random(23)
    val follows = EdgeKey("person", "follows", "person")
    val g = HeteroGraph(
      Map("person" -> nodes(30, rnd), "club" -> nodes(6, rnd)),
      Map(follows -> pairs(70, 30, 30, 10, rnd),
        EdgeKey("person", "joins", "club") -> pairs(30, 30, 6, 3, rnd)))
      .addDegree.withReverseEdges.withSelfLoops.materialized()
    assert(follows.isSelfType)
    checkAll(g, follows, Seq(Seq(3L, 4L), Seq(0L)), 30, "self-type")
  }

  test("chinook: the flagship shape matches the full recompute") {
    val g = GraphBuilder.build(ChinookSpec.cat, ChinookSpec.tables(spark)(_))
      .addDegree.withReverseEdges.withSelfLoops.materialized()
    checkAll(g, EdgeKey("playlists", "hasTrack", "tracks"),
      Seq(Seq(0L), Seq(1L, 3L)), 3, "chinook")
  }

  test("sf0.001 entry graph: ids and logits match the full recompute") {
    // lineitem repeats (order, part) pairs: hasPart carries multi-edges
    checkAll(entryGraph, ordersPart, Seq(Seq(1L, 2L, 3L), Seq(7L)), 10,
      "sf0.001")
  }

  test("one more edge is a different graph: no stale base layers are served") {
    val near = EdgeKey("item", "near", "item")
    val seeds = Seq(0L, 1L, 2L)
    val before = Recommend.recommend(synthetic, rates, seeds, 8).collect()
    // an extra edge between existing items, into the best candidate
    val top = before.head.getLong(0)
    val g2 = synthetic.copy(edges = synthetic.edges +
      (near -> synthetic.edges(near).unionByName(Seq((29L, top)).toDF("src", "dst"))))
    val after = Recommend.recommend(g2, rates, seeds, 8).collect()
    assertSame(after, fullRecompute(g2, rates, seeds, 8, 2, None), "extra edge")
    assert(after.toSeq != before.toSeq, "the extra edge should move the answer")
  }

  test("the same playlist twice on one graph answers bit-identically") {
    val g = entryGraph
    val first = Recommend.recommend(g, ordersPart, Seq(3L, 9L), 10, model = Some(head))
      .collect()
    val again = Recommend.recommend(g, ordersPart, Seq(3L, 9L), 10, model = Some(head))
      .collect()
    assert(again.toSeq === first.toSeq)
  }

  /** Every operator of an executed plan, inside an AQE wrapper too. */
  private def operators(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: operators(a.executedPlan)
    case _ => p +: p.children.flatMap(operators)
  }

  /** One warm request on the materialised sf0.001 graph, after a first
    * request built the memoised base layers: the answer, its rows and the
    * Spark jobs it ran. Shared by the three budget tests below. */
  private lazy val warmRequest: (DataFrame, Array[Row], Int) = {
    val g = entryGraph
    // the first request builds the memoised base layers
    Recommend.recommend(g, ordersPart, Seq(1L, 2L, 3L), 10, model = Some(head)).collect()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = Recommend.recommend(g, ordersPart, Seq(4L, 5L), 10, model = Some(head))
      val rows = df.collect()
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
      (df, rows, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a warm recommend on a materialised sf0.001 graph runs at most 17 Spark jobs") {
    // the long-standing budget; the next two tests hold a request to 4, then 3 jobs
    val (_, rows, jobs) = warmRequest
    assert(rows.length === 10)
    assert(jobs <= 17, s"warm recommend ran $jobs Spark jobs")
  }

  test("a warm recommend on a materialised sf0.001 graph runs at most 4 Spark jobs: one scan plus a top-k, no exchange") {
    val (df, rows, jobs) = warmRequest
    assert(rows.length === 10)
    assert(jobs <= 4, s"warm recommend ran $jobs Spark jobs")
    // the per-request plan PlanLintSpec never sees: no exchange, no
    // all-pairs join, the sorted limit as TakeOrderedAndProject
    val plan = operators(df.queryExecution.executedPlan)
    assert(plan.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      df.queryExecution.executedPlan.treeString)
    val bad = plan.collect {
      case p @ (_: Exchange | _: CartesianProductExec | _: BroadcastNestedLoopJoinExec) =>
        p.nodeName
    }
    assert(bad.isEmpty, df.queryExecution.executedPlan.treeString)
  }

  test("a warm recommend on a materialised sf0.001 graph runs at most 3 Spark jobs and compiles no new codegen class") {
    // the ball's edges, its base values, the scoring scan; the ball's
    // rounds run on the driver
    val (_, rows, jobs) = warmRequest
    assert(rows.length === 10)
    assert(jobs <= 3, s"warm recommend ran $jobs Spark jobs")
    // request-specific values are literals read by reference: more warm
    // requests, on playlists of other sizes, reuse the generated classes
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    for (seeds <- Seq(Seq(6L), Seq(7L, 8L, 9L), Seq(10L, 11L, 12L, 13L, 14L)))
      assert(Recommend.recommend(entryGraph, ordersPart, seeds, 10, model = Some(head))
        .collect().length === 10, seeds)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiles,
      "warm requests compiled new codegen classes")
  }

  test("a head of another weight width fails the request, not its logits") {
    // width-1 embeddings give 3 features; this head was trained on 4
    val wide = TrainedModel(Array(0.37, -0.21, 0.013, 0.5), 0.05, Map.empty)
    val e = intercept[Exception](
      Recommend.recommend(synthetic, rates, Seq(0L, 1L), 5, model = Some(wide)).collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).toSeq
    assert(messages.exists(_.contains("feature width 3 != trained weight width 4")),
      messages.mkString("\n"))
  }
}
