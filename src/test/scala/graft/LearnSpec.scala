package graft

import graft.catalog.Catalogs
import graft.graph.GraphBuilder
import graft.learn._
import graft.topology.EdgeKey
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** G9-G13: split, negative sampling, propagation, scoring, metrics. */
class LearnSpec extends SparkSpec {
  import SparkEntry.ordersPartEdge

  private lazy val g = GraphBuilder
    .build(Catalogs.tpch, n => Tables.load(spark, sf(), n),
      extraEdges = Seq(ordersPartEdge))
    .addDegree(spark).withReverseEdges.withSelfLoops.cached()
  private val target = EdgeKey("orders", "hasPart", "part")

  test("DetRandom.uniform is partition-independent and in [0,1)") {
    val e = g.edges(target)
    val u1 = e.withColumn("u", DetRandom.uniform(col("src"), col("dst"), 42L))
    val u2 = e.repartition(17)
      .withColumn("u", DetRandom.uniform(col("src"), col("dst"), 42L))
    assert(u1.filter(col("u") < 0 || col("u") >= 1).count() === 0)
    assert(u1.orderBy("src", "dst").collect().map(_.getDouble(2)).toSeq ===
           u2.orderBy("src", "dst").collect().map(_.getDouble(2)).toSeq)
  }

  test("link split: partition, ratio, and reverse-leakage removal") {
    val res = LinkSplit.split(g, target, valFrac = 0.15, seed = 42L)
    val total = g.edges(target).count()
    val nVal = res.valPos.count(); val nTrain = res.trainPos.count()
    assert(nVal + nTrain === total)
    assert(math.abs(nVal.toDouble / total - 0.15) < 0.05)
    // message graph target type = trainPos only
    assert(res.messageGraph.edges(target).count() === nTrain)
    // no val edge's reverse twin survives in the message graph
    val revInMsg = res.messageGraph.edges(target.reversed)
    val leaked = revInMsg.join(
      res.valPos.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi").count()
    assert(leaked === 0L)
  }

  test("negative sampling: no collisions with true edges, dst in range") {
    val pos = g.edges(target)
    val nDst = g.nodes(target.dst).count()
    val neg = NegativeSampling.sample(pos, pos, nDst, seed = 7L)
    assert(neg.join(pos, Seq("src", "dst"), "left_semi").count() === 0)
    assert(neg.filter(col("dst") < 0 || col("dst") >= nDst).count() === 0)
    assert(neg.count() > pos.count() * 9 / 10) // few collisions at this sparsity
  }

  test("propagate: shape preserved, isolated nodes untouched, messages flow") {
    val init = Propagate.degreeInit(g)
    val out = Propagate.meanRounds(g, init, rounds = 2)
    assert(out.keySet === init.keySet)
    out.foreach { case (t, df) =>
      assert(df.count() === g.nodes(t).count(), t)
      assert(df.select(size(col("vec"))).distinct().head().getInt(0) === 1, t)
    }
    // after propagation over a connected type, values change from init
    val before = init("customer").orderBy("id").limit(5).collect().map(_.getSeq[Double](1))
    val after = out("customer").orderBy("id").limit(5).collect().map(_.getSeq[Double](1))
    assert(before.toSeq !== after.toSeq)
  }

  test("scoring + metrics on a known confusion matrix") {
    import spark.implicits._
    val scored = Seq(
      (0L, 0L, 0.9, 1), (1L, 1L, 0.8, 0), (2L, 2L, 0.2, 1), (3L, 3L, 0.1, 0))
      .toDF("src", "dst", "score", "label")
    val m = Scoring.metrics(scored)
    assert(m("accuracy") === 0.5)
    assert(m("precision") === 0.5)
    assert(m("recall") === 0.5)
    assert(m("f1") === 0.5)
    assert(m("bce") > 0)
  }

  test("meanRoundsFlatDegree matches the per-type loop, finalTargets too") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val g = graft.graph.GraphBuilder
      .build(graft.catalog.Catalogs.tpch, n => Tables.load(spark, sf(), n))
      .addDegree.withReverseEdges.withSelfLoops
    val types = g.nodes.keySet
    // the per-type reference: meanRounds one pinned round at a time
    val layers = Propagate.meanLayers(g, Propagate.degreeInit(g), 2)
    def assertClose(got: Map[String, DataFrame], want: Map[String, DataFrame],
        ts: Set[String], what: String): Unit = for (t <- ts) {
      val j = got(t).select(col("id"), element_at(col("vec"), 1).as("a"))
        .join(want(t).select(col("id"), element_at(col("vec"), 1).as("b")), Seq("id"), "full")
      assert(j.filter(col("a").isNull || col("b").isNull || abs(col("a") - col("b")) > 1e-9)
        .count() === 0, s"$what: $t")
    }
    assertClose(Propagate.meanRoundsFlatDegree(g, g, types, 2, Set.empty), layers(2),
      types, "all types")
    // the last round updates only the targets; every other type keeps round 1
    val targets = Set("orders", "part")
    val partial = Propagate.meanRoundsFlatDegree(g, g, types, 2, targets)
    assertClose(partial, layers(2), targets, "finalTargets target")
    assertClose(partial, layers(1), types -- targets, "finalTargets non-target")
  }

  test("flatRound on the driver is bit-identical to flatMessages + flatCombine") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    def bits(h: Map[Long, Double]) = h.map { case (i, v) => i -> java.lang.Double.doubleToRawLongBits(v) }
    for (nTags <- 0 to 4; trial <- 0 until 5) {
      // values for gids 0 until n; edges also leave and enter gids without
      // a value, and a few repeat (multi-edges). gid 0 gets no in-edge and
      // gid 1 only tag 0, so with 2+ tags some tag is absent there
      val n = 4 + rnd.nextInt(30)
      val h = (0 until n).map(i => i.toLong -> (1 + rnd.nextInt(40) + rnd.nextDouble())).toMap
      val once = if (nTags == 0) Nil else Seq.fill(3 * n)(
        (rnd.nextInt(n + 3).toLong, 1L + rnd.nextInt(n + 2), rnd.nextInt(nTags)))
        .map { case (src, dst, tag) => (src, dst, if (dst == 1L) 0 else tag) }
      // sorted, as the ball enters them
      val edges = (once ++ once.take(n / 2)).sorted
      val got = Propagate.flatRound(h, edges, nTags)
      // the Spark round needs a tag; with none there is no edge and the
      // round is the identity
      val want = if (nTags == 0) h else {
        val hDf = h.toSeq.sorted.toDF("gid", "h").coalesce(1)
        Propagate.flatCombine(hDf,
          Propagate.flatMessages(edges.toDF("src", "dst", "tag").coalesce(1), hDf, nTags))
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      }
      val what = s"nTags=$nTags trial=$trial"
      assert(bits(got) === bits(want), what)
      assert(got(0L) === h(0L), what)
      if (nTags > 0) assert(got !== h, s"$what: no value moved")
    }
  }

  test("meanRoundsFixedFlat is bit-identical to the per-type loop") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val g2 = graft.graph.GraphBuilder
      .build(graft.catalog.Catalogs.tpch, n => Tables.load(spark, sf(), n))
      .withReverseEdges
      .restrictTo(Set("customer", "orders"), 2)
      .addDegree
    val init = Propagate.degreeInitFixed(g2)
    val loop = Propagate.meanRoundsFixed(g2, init, rounds = 2)
    val flat = Propagate.meanRoundsFixedFlat(g2, init, rounds = 2)
    for (t <- Seq("customer", "orders")) {
      import org.apache.spark.sql.functions._
      val j = flat(t).withColumnRenamed("h", "a")
        .join(loop(t).withColumnRenamed("h", "b"), Seq("id"), "full")
      assert(j.filter(col("a").isNull || col("b").isNull || col("a") =!= col("b"))
        .count() === 0, t)
    }
  }

  test("degreeInitFixedStructural is bit-identical to addDegree + degreeInitFixed") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val g2 = graft.graph.GraphBuilder
      .build(graft.catalog.Catalogs.tpch, n => Tables.load(spark, sf(), n),
        probeDense = true)
      .withReverseEdges
      .restrictTo(Set("customer", "orders"), 1)
      .addDegree
    val viaFeatures = Propagate.degreeInitFixed(g2)
    val structural = Propagate.degreeInitFixedStructural(g2)
    assert(structural.keySet === viaFeatures.keySet)
    for (t <- viaFeatures.keys) {
      import org.apache.spark.sql.functions._
      val j = structural(t).withColumnRenamed("h", "a")
        .join(viaFeatures(t).withColumnRenamed("h", "b"), Seq("id"), "full")
      assert(j.filter(col("a").isNull || col("b").isNull || col("a") =!= col("b"))
        .count() === 0, t)
    }
    // the double-vec twin mirrors degreeInit (all-edges count, exact)
    val viaFeaturesD = Propagate.degreeInit(g2)
    val structuralD = Propagate.degreeInitStructuralAll(g2)
    for (t <- viaFeaturesD.keys) {
      import org.apache.spark.sql.functions._
      val j = structuralD(t)
        .select(col("id"), element_at(col("vec"), 1).as("a"))
        .join(viaFeaturesD(t)
          .select(col("id"), element_at(col("vec"), 1).as("b")), Seq("id"), "full")
      assert(j.filter(col("a").isNull || col("b").isNull || col("a") =!= col("b"))
        .count() === 0, t)
    }
  }

  test("structural degree init (originals-only) matches the feature path for TrainLR's build order") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val g3 = graft.graph.GraphBuilder
      .build(graft.catalog.Catalogs.tpch, n => Tables.load(spark, sf(), n),
        probeDense = true)
      .addDegree.withReverseEdges.withSelfLoops
    val types = Set("customer", "orders", "events")
    val viaFeatures = Propagate.degreeInit(g3).view.filterKeys(types).toMap
    // TrainLR's fused init: zero rounds return h₀ as it enters the loop
    val structural = Propagate.meanRoundsFlatDegree(g3, g3, types, rounds = 0, Set.empty)
    for (t <- types) {
      import org.apache.spark.sql.functions._
      val j = structural(t)
        .select(col("id"), element_at(col("vec"), 1).as("a"))
        .join(viaFeatures(t)
          .select(col("id"), element_at(col("vec"), 1).as("b")), Seq("id"), "full")
      assert(j.filter(col("a").isNull || col("b").isNull || col("a") =!= col("b"))
        .count() === 0, t)
    }
  }

  test("attentionRoundsFixed: hand-checked salience weighting, != mean") {
    import spark.implicits._
    import graft.graph.HeteroGraph
    import graft.topology.EdgeKey
    // two customers (h=2000, 6000) feed one nation; one isolated nation
    val nodes = Map(
      "customer" -> Seq((0L, 2000L), (1L, 6000L)).toDF("id", "h"),
      "nation" -> Seq((0L, 1000L), (1L, 1000L)).toDF("id", "h"))
    val edges = Map(
      EdgeKey("customer", "ofNation", "nation") ->
        Seq((0L, 0L), (1L, 0L)).toDF("src", "dst"))
    val hg = HeteroGraph(
      nodes.map { case (t, d) => t -> d.select(col("id"), array(col("h").cast("float")).as("features")) },
      edges)
    val out = Propagate.attentionRoundsFixed(hg, nodes.map { case (t, d) => t -> d }, rounds = 1)
    val got = out("nation").orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    // msg = (2000^2 + 6000^2) div (2000 + 6000) = 40e6 div 8000 = 5000
    // (the MEAN would be 4000 — the salience weighting must differ);
    // combine = (1000 + 5000) div 2 = 3000. Isolated nation untouched.
    assert(got.toSeq === Seq((0L, 3000L), (1L, 1000L)))
    val meanOut = Propagate.meanRoundsFixed(hg, nodes.map { case (t, d) => t -> d }, rounds = 1)
    val meanGot = meanOut("nation").orderBy("id").collect().map(_.getLong(1))
    assert(meanGot.toSeq === Seq((1000L + 4000L) / 2, 1000L)) // 2500 != 3000
  }

  test("scoreEdges computes sigmoid(dot)") {
    import spark.implicits._
    val emb = Seq((0L, Array(1.0, 2.0)), (1L, Array(3.0, -1.0)))
      .toDF("id", "vec")
    val cand = Seq((0L, 1L)).toDF("src", "dst")
    val row = Scoring.scoreEdges(cand, emb, emb)
      .select("logit", "score").head()
    val dot = 1.0 * 3 + 2.0 * -1
    assert(math.abs(row.getDouble(0) - dot) < 1e-12)
    assert(math.abs(row.getDouble(1) - 1.0 / (1.0 + math.exp(-dot))) < 1e-12)
  }
}
