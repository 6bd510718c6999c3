package graft

import graft.graph.Analytics
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import scala.collection.concurrent.TrieMap

/** Skew stress for the scaladoc'd robustness claims (r6 brief #6): the
  * triangle enumeration's arboricity bound must hold against a real hub
  * (a 1,500-degree node on a ~2k-node graph), demonstrably spreading
  * work instead of exploding deg² wedges in one task; and the fuzzy
  * matcher's hot deletion-variant bucket (546 strings sharing ONE
  * variant key → ~149k candidate pairs born in one join bucket) must
  * complete with the exact closed-form answer, its fan-out bounded at
  * len+1 variants per string. */
class SkewStressSpec extends SparkSpec {
  import spark.implicits._

  /** Seeded hub graph: node 0 joined to 1..3000 plus random background
    * edges — canonical distinct (a < b) pairs. Sized so the wedge stage
    * stays above the straggler audit's 200ms floor even in a JIT-warm
    * full-suite JVM (~100k edges → a few million wedges). */
  private lazy val hubEdges = {
    val rnd = new scala.util.Random(4242)
    val bg = Seq.fill(100000) {
      val a = rnd.nextInt(5000); val b = rnd.nextInt(5000); (a.toLong, b.toLong)
    }
    val hub = (1 to 3000).map(i => (0L, i.toLong))
    (bg ++ hub).filter(t => t._1 != t._2)
      .map(t => (math.min(t._1, t._2), math.max(t._1, t._2)))
      .distinct
  }

  test("triangles: degree orientation caps the hub's wedge fan-out at 2E/deg") {
    val e = hubEdges.toDF("a", "b")
    val deg = e.select($"a".as("id")).union(e.select($"b".as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val degMap = deg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val twoE = 2L * hubEdges.size
    // orient low-(deg,id) -> high exactly like Analytics.triangles
    val outDeg = hubEdges.groupBy { case (a, b) =>
      val (da, db) = (degMap(a), degMap(b))
      if (da < db || da == db) a else b
    }.map { case (u, es) => u -> es.size.toLong }
    val maxOut = outDeg.values.max
    val bound = math.ceil(math.sqrt(twoE.toDouble)).toLong
    assert(maxOut <= bound, s"max oriented out-degree $maxOut > sqrt(2E)=$bound")
    val hubDeg = degMap(0L)
    val hubOut = outDeg.getOrElse(0L, 0L)
    assert(hubDeg >= 3000L, s"fixture lost its hub: deg=$hubDeg")
    assert(hubOut <= twoE / hubDeg,
      s"hub out-degree $hubOut exceeds 2E/deg = ${twoE / hubDeg} " +
        "(a raw-degree wedge join would emit deg^2 = " +
        s"${hubDeg * hubDeg} hub wedges)")
  }

  test("triangles on the hub graph: exact counts, no straggler task") {
    val e = hubEdges.toDF("a", "b")

    /** One measured run: returns (per-node counts, per-stage
      * (totalTaskMs, maxTaskMs, nTasks) for THIS run's jobs). Scoped via
      * a job group: suites share one SparkContext and run concurrently
      * in the forked test JVM, so an unscoped listener picks up other
      * suites' (deliberately skewed) stages. */
    def measured(): (Map[Long, Long], Seq[(Long, Long, Int)]) = {
      val group = s"skew-stress-${System.nanoTime()}"
      val myStages = TrieMap.empty[Int, Unit]
      val stages = TrieMap.empty[Int, (Long, Long, Int)]
      val listener = new SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (Option(j.properties)
              .exists(_.getProperty("spark.jobGroup.id") == group))
            j.stageIds.foreach(id => myStages.put(id, ()))
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null && myStages.contains(t.stageId)) {
            val ms = t.taskMetrics.executorRunTime
            stages.updateWith(t.stageId) {
              case Some((tot, mx, n)) => Some((tot + ms, math.max(mx, ms), n + 1))
              case None               => Some((ms, ms, 1))
            }
          }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        spark.sparkContext.setJobGroup(group, "skew stress", false)
        // fresh non-cached plan per run (the listener must see real work)
        val r = Analytics.triangleStats(e, "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
        ListenerDrain.drain(spark.sparkContext)
        (r, stages.values.toSeq)
      } finally {
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.removeSparkListener(listener)
      }
    }

    // straggler audit, retried: a deg² regression concentrates >95% of
    // the wedge work in the hub's task on EVERY run, while full-suite CPU
    // contention (a descheduled or JIT-cold task) produces one-off
    // breaches — r9 saw 85%/200ms and 90%/300ms each trip once under
    // `sbt test` load and never in isolation. Correctness asserts stay
    // unconditional; only the timing bound gets attempts.
    val attempts = 3
    var pass = false
    for (attempt <- 1 to attempts if !pass) {
      val (got, stages) = measured()

      // exact per-node counts vs the naive a<b<c three-way join —
      // deterministic, so asserted on every attempt
      val naive = e.as("e1")
        .join(e.select($"a".as("b"), $"b".as("c")).as("e2"), "b")
        .join(e.select($"a", $"b".as("c")).as("e3"), Seq("a", "c"))
        .select(explode(array($"a", $"b", $"c")).as("id"))
        .groupBy("id").agg(count(lit(1)).as("tri"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.filter(_._2 > 0L) == naive, "triangle counts != naive replay")
      assert(naive.values.sum > 0L, "fixture has no triangles to check")

      // Self-scaling floor: in a JIT-cold isolated run the wedge stages
      // cost 300ms+; in a warm full-suite run the SAME stages can drop
      // under any fixed floor (the r9 `sbt test` flake — empty audit on
      // every attempt while the isolated run passed). A deg² regression
      // cannot hide below 100ms: the hub's 3000² wedges in ONE task is
      // orders of magnitude above it. So stages under the floor mean the
      // work really is spread thin — the audit passes vacuously.
      val wide = stages.filter { case (_, _, n) => n >= 4 }
      assert(wide.nonEmpty,
        "no stage ran >= 4 tasks — fixture or partitioning changed")
      val parallel = wide.filter { case (tot, _, _) => tot >= 100L }
      if (parallel.isEmpty) {
        info(f"attempt $attempt: heaviest >=4-task stage is " +
          f"${wide.map(_._1).max}ms < 100ms — wedge work too small to " +
          "concentrate, audit passes vacuously")
        pass = true
      } else {
        val worst = parallel.map { case (tot, mx, _) => 100.0 * mx / tot }.max
        if (worst <= 90.0) pass = true
        else {
          info(f"attempt $attempt: worst task share $worst%.1f%% > 90%% — " +
            (if (attempt < attempts) "retrying (contention?)" else "exhausted"))
          if (attempt == attempts) fail(
            f"straggler on all $attempts attempts: a single task held " +
              f"$worst%.1f%% of its stage's task time (deg² signature)")
        }
      }
    }
  }

  test("fuzzy: a 546-string hot deletion-variant bucket resolves exactly") {
    // every string = one letter inserted into the same 20-digit core, so
    // ALL of them share the deletion variant `core` (one hot join key
    // carrying 546*545/2 ~ 149k candidate pairs); letters are disjoint
    // from digits, so the only distance-1 pairs are same-position letter
    // substitutions: 21 positions x C(26,2) = 6825 pairs, distance 1
    val core = "12345678901234567890"
    val hot = for {
      p <- 0 to core.length
      c <- 'a' to 'z'
    } yield s"${core.substring(0, p)}$c${core.substring(p)}"
    val bg = (0 until 100).map(i => s"background_name_number_$i")
    val names = (hot ++ bg).zipWithIndex.map { case (s, i) => (i.toLong, s) }
    assert(hot.size == 546)
    val df = names.toDF("id", "name")

    // bounded fan-out claim: each string emits at most ITS len+1 variants
    val overFanout = df.select(size(array_distinct(concat(
        array($"name"),
        expr("transform(sequence(1, length(name))," +
          " i -> concat(substring(name, 1, i - 1)," +
          " substring(name, i + 1, length(name))))")))).as("nv"),
        (length($"name") + 1).as("cap"))
      .filter($"nv" > $"cap").count()
    assert(overFanout == 0L, s"$overFanout strings exceed len+1 variant fan-out")

    val pairs = graft.ext.Fuzzy.editOnePairs(df, "id", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.forall(_._3 == 1L), "all pairs must be distance exactly 1")
    val hotPairs = pairs.filter(p => p._1 < 546 && p._2 < 546)
    val bgPairs = pairs.filter(p => p._1 >= 546 && p._2 >= 546)
    // hot bucket: exactly the same-position letter substitutions
    assert(hotPairs.length == 21 * 26 * 25 / 2,
      s"expected 6825 hot distance-1 pairs, got ${hotPairs.length}")
    val byId = names.toMap
    assert(hotPairs.forall { case (a, b, _) =>
      val (sa, sb) = (byId(a), byId(b))
      sa.length == sb.length &&
        sa.zip(sb).count { case (x, y) => x != y } == 1
    })
    // background "..._i" names have their own closed-form distance-1 set:
    // 45 one-digit pairs + 171 one-vs-two-digit + 765 two-digit = 981
    assert(bgPairs.length == 981, s"expected 981 bg pairs, got ${bgPairs.length}")
    // and NOTHING crosses the bucket boundary (cores vs background)
    assert(pairs.length == hotPairs.length + bgPairs.length,
      "unexpected hot-background cross pairs")
  }

  test("dedup exact-verify: packed broadcast is gated — above the gate the " +
      "verify plans as a shuffled join with identical results") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}

    // initialPlan, not inputPlan: the broadcast/requirement exchanges are
    // inserted by the queryStagePreparation rules (see PlanLintSpec)
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val self = p match {
        case a: AdaptiveSparkPlanExec => Seq(a) ++ nodes(a.initialPlan)
        case _ => Seq(p) ++ p.children.flatMap(nodes)
      }
      self ++ p.subqueries.flatMap(nodes)
    }
    def nBroadcast(df: org.apache.spark.sql.DataFrame): Int =
      nodes(df.queryExecution.executedPlan)
        .count(_.isInstanceOf[BroadcastExchangeExec])
    def nShuffledJoin(df: org.apache.spark.sql.DataFrame): Int =
      nodes(df.queryExecution.executedPlan).count {
        case _: SortMergeJoinExec | _: ShuffledHashJoinExec => true
        case _ => false
      }

    // 10 known near-dup pairs (docs 2k/2k+1 share a 40-token vocabulary-k
    // template, the odd one carries one extra token: J = 39/41 ≥ 0.8,
    // containment(A→B) = 39/40 ≥ 0.8) over 20 disjoint-vocab background
    // docs — closed-form truth, so the gated and ungated runs are checked
    // for exactness, not just for agreeing with each other.
    val near = (0 until 10).flatMap { k =>
      val tmpl = (1 to 40).map(i => s"w${k}x$i").mkString(" ")
      Seq((2L * k, tmpl), (2L * k + 1, s"$tmpl extra$k"))
    }
    val bg = (0 until 20).map(i =>
      (100L + i, (1 to 30).map(j => s"bg${i}q$j").mkString(" ")))
    val truth = (0 until 10).map(k => (2L * k, 2L * k + 1)).toSet

    // Auto-broadcast is disabled for BOTH legs: eagerly-checkpointed
    // frames carry real size statistics, so at fixture scale Catalyst
    // auto-broadcasts the tiny sides regardless of any hint — which is
    // the self-correcting, statistics-chosen kind that degrades on its
    // own at corpus scale and would make both assertions vacuous.
    // threshold = -1 emulates corpus-scale statistics ("too big to
    // broadcast"), isolating exactly what the gate controls: the FORCED
    // broadcast that overrides statistics. The conf changes live on a
    // separate session (own SQLConf, shared context) so concurrently
    // running suites never see them.
    val s2 = spark.newSession()
    val docs = s2.createDataFrame(near ++ bg).toDF("doc_id", "text")
    val key = "spark.graft.dedup.broadcastDocs"
    val thr = "spark.sql.autoBroadcastJoinThreshold"
    try {
      s2.conf.set(thr, "-1")
      // below the gate (default): the hint forces the packed broadcast
      s2.conf.unset(key)
      val gatedJ = graft.ext.Dedup.nearDupJaccardExactLazy(docs, "doc_id", "text")
      val gatedC = graft.ext.Dedup.containmentPairs(docs, "doc_id", "text")
      assert(nBroadcast(gatedJ) >= 2,
        "below the gate the packed verify side should broadcast")

      // above the gate (conf = 0): the hint vanishes and statistics say
      // "too big", so the verify MUST plan as a shuffled equi-join — the
      // only shape that survives corpus scale
      s2.conf.set(key, "0")
      val shufJ = graft.ext.Dedup.nearDupJaccardExactLazy(docs, "doc_id", "text")
      val shufC = graft.ext.Dedup.containmentPairs(docs, "doc_id", "text")
      for ((df, tag) <- Seq(shufJ -> "jaccard", shufC -> "containment")) {
        assert(nBroadcast(df) == 0,
          s"$tag: BroadcastExchange above the gate — the hint is not gated")
        assert(nShuffledJoin(df) >= 2,
          s"$tag: expected shuffled equi-joins in the ungated verify")
      }

      // the gate BOUNDARY is inclusive on the measured doc count (40
      // docs here): threshold = count keeps the hint, count − 1 drops it
      s2.conf.set(key, "40")
      assert(nBroadcast(graft.ext.Dedup.nearDupJaccardExactLazy(
        docs, "doc_id", "text")) >= 2, "hint must hold AT the gate")
      s2.conf.set(key, "39")
      assert(nBroadcast(graft.ext.Dedup.nearDupJaccardExactLazy(
        docs, "doc_id", "text")) == 0, "hint must drop past the gate")
      s2.conf.set(key, "0")

      def pairsOf(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_a", "doc_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairsOf(gatedJ) == truth, "gated jaccard != closed-form truth")
      assert(pairsOf(shufJ) == truth, "shuffled jaccard != closed-form truth")
      assert(pairsOf(gatedC) == pairsOf(shufC) && pairsOf(shufC).nonEmpty,
        "containment pairs differ between gated and shuffled plans")
      assert(truth.subsetOf(pairsOf(shufC)),
        "containment must cover the near-dup truth pairs")
    } finally {
      s2.conf.unset(key)
      s2.conf.unset(thr)
    }
  }

  test("minhash LSH: a hot band bucket emits all C(H,2) true pairs exactly") {
    // The LSH hot-band case (SCALE_r8.md's skew leg, in-suite at H=200):
    // H near-identical docs — one shared 40-token template + a unique
    // trailing token each — share ~all band keys, so every band bucket
    // holds ~H members and the C(H,2) pair pile is born on a handful of
    // keys. Per-pair exact Jaccard is closed-form: 40 bigram shingles per
    // doc, 39 shared, J = 39/41 ≈ 0.951 ≥ τ = 0.8 — so the TRUE answer is
    // exactly C(H,2), and any bucket-level shortcut (sampling, truncation,
    // per-key caps) would show up as a missing pair. Background docs use
    // disjoint token vocabularies (zero shared shingles): a chance band-key
    // collision only adds candidates the exact verify kills.
    val h = 200
    val template = (1 to 40).map(i => s"tmpl$i").mkString(" ")
    val hot = (0 until h).map(i => (i.toLong, s"$template tail$i"))
    val bg = (0 until 50).map(i =>
      (1000L + i, (1 to 30).map(j => s"bg${i}x$j").mkString(" ")))
    val docs = (hot ++ bg).toDF("doc_id", "text")
    val pairs = graft.ext.Dedup.nearDupMinhash(
        docs, "doc_id", "text", bands = 32, rows = 4)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length == h * (h - 1) / 2,
      s"expected C($h,2) = ${h * (h - 1) / 2} pairs, got ${pairs.length}")
    assert(pairs.forall { case (a, b) => a < b && b < h },
      "every pair must be within the hot cluster, canonical (a < b)")
    assert(pairs.distinct.length == pairs.length, "pairs must be unique")
  }
}
