package graft

import graft.graph.Analytics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  /** Naive single-threaded replay of the exact integer recurrence. */
  private def naivePageRank(
      edges: Seq[(Long, Long)], iters: Int, scale: Long,
      aN: Long, aD: Long): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val base = (aD - aN) * scale / aD
    var r = nodes.map(_ -> scale).toMap
    (1 to iters).foreach { _ =>
      val in = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _) => aN * r(s) / (aD * deg(s)) }.sum
      }
      r = nodes.map(n => n -> (base + in.getOrElse(n, 0L))).toMap
    }
    r
  }

  private val edges: Seq[(Long, Long)] = {
    // 3 communities bridged by a hub, plus a pure sink and a pure source
    val ring = (0L to 9L).map(i => (i, (i + 1) % 10))
    val hub = (10L to 14L).flatMap(i => Seq((i, 0L), (0L, i)))
    ring ++ hub ++ Seq((20L, 21L), (7L, 22L)) // 21: sink, 20: source
  }

  private def run(df: DataFrame): Map[Long, Long] =
    Analytics.pageRankFixed(df, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("pageRankFixed replays the naive integer recurrence exactly") {
    val got = run(edges.toDF("src", "dst"))
    val want = naivePageRank(edges, 3, 1000000000000L, 17L, 20L)
    assert(got === want)
  }

  test("pageRankFixed is partition-independent") {
    val a = run(edges.toDF("src", "dst").repartition(7))
    val b = run(edges.toDF("src", "dst").coalesce(1))
    assert(a === b)
  }

  test("pageRankFixed structure: hub outranks leaves, sink floor, mass bound") {
    val got = run(edges.toDF("src", "dst"))
    val scale = 1000000000000L
    val base = 3L * scale / 20L
    assert(got(0L) > got(11L))            // hub beats a spoke
    assert(got(20L) === base)             // no in-edges → base exactly
    assert(got.values.forall(_ >= base))
    assert(got.values.sum <= got.size * scale) // dangling mass only leaks out
  }

  /** Naive replay of the personalized recurrence: teleport + initial
    * mass only on seeds. */
  private def naivePpr(
      edges: Seq[(Long, Long)], seeds: Set[Long], iters: Int, scale: Long,
      aN: Long, aD: Long): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val base = (aD - aN) * scale / aD
    var r = nodes.map(n => n -> (if (seeds(n)) scale else 0L)).toMap
    (1 to iters).foreach { _ =>
      val in = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _) => aN * r(s) / (aD * deg(s)) }.sum
      }
      r = nodes.map(n =>
        n -> ((if (seeds(n)) base else 0L) + in.getOrElse(n, 0L))).toMap
    }
    r
  }

  test("personalizedPageRankFixed: naive replay, seed locality, partition independence") {
    val seedDf = Seq(0L, 20L).toDF("id")
    def runP(df: DataFrame): Map[Long, Long] =
      Analytics.personalizedPageRankFixed(df, seedDf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = runP(edges.toDF("src", "dst"))
    assert(got === naivePpr(edges, Set(0L, 20L), 3, 1000000000000L, 17L, 20L))
    // locality: node 22 (8 hops from seed 0, unreachable from 20) holds
    // ZERO mass after 3 rounds — the sparsity global PageRank never has
    assert(got(22L) === 0L)
    // a seed with no in-edges settles at exactly the teleport base
    assert(got(20L) === 3L * 1000000000000L / 20L)
    // non-seed, non-reached nodes hold zero; 1-hop spokes hold mass
    assert(got(11L) > 0L)
    assert(runP(edges.toDF("src", "dst").repartition(7)) === got)
  }

  /** Naive per-node triangle count over an undirected simple graph. */
  private def naiveTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = edges.map { case (a, b) => (a min b, a max b) }
      .filter { case (a, b) => a != b }.distinct.toSet
    val nodes = es.toSeq.flatMap { case (a, b) => Seq(a, b) }.distinct
    def adj(a: Long, b: Long) = es.contains((a min b, a max b))
    nodes.map { n =>
      val nbrs = nodes.filter(m => m != n && adj(n, m))
      n -> nbrs.combinations(2).count { case Seq(x, y) => adj(x, y) }.toLong
    }.toMap
  }

  private val triEdges: Seq[(Long, Long)] = {
    // K4 on 0-3, a triangle 10-11-12, a path 20-21-22 (no triangles),
    // a hub 30 closing exactly one triangle per spoke pair it bridges,
    // plus duplicate and reversed inputs to exercise canonicalization
    val k4 = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
    val tri = Seq((10L, 11L), (11L, 12L), (12L, 10L))
    val path = Seq((20L, 21L), (21L, 22L))
    val hub = Seq((30L, 0L), (30L, 1L), (30L, 20L))
    k4 ++ tri ++ path ++ hub ++ Seq((1L, 0L), (0L, 1L), (10L, 10L))
  }

  private def runTri(df: DataFrame): Map[Long, (Long, Long, Long)] =
    Analytics.triangleStats(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  test("triangleStats replays the naive count; cc is the exact scaled ratio") {
    val got = runTri(triEdges.toDF("src", "dst"))
    val want = naiveTriangles(triEdges)
    assert(got.keySet === want.keySet)
    got.foreach { case (n, (deg, tri, cc)) =>
      assert(tri === want(n), s"node $n")
      val wantCc = if (deg >= 2) 2L * tri * 1000000L / (deg * (deg - 1L)) else 0L
      assert(cc === wantCc, s"node $n")
    }
    // spot structure: K4 nodes touch 3 triangles each at cc=1; with the
    // hub edges, node 0 and 1 gain the (0,1,30) triangle
    assert(got(2L)._2 === 3L)
    assert(got(10L) === ((2L, 1L, 1000000L)))
    assert(got(21L) === ((2L, 0L, 0L)))
    assert(got(0L)._2 === 4L)
  }

  test("triangleStats random graph ≡ naive, partition-independent") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(300)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    val want = naiveTriangles(edges)
    val a = runTri(edges.toDF("src", "dst").repartition(7))
    val b = runTri(edges.toDF("src", "dst").coalesce(1))
    assert(a === b)
    assert(a.view.mapValues(_._2).toMap === want)
    // global invariant: Σ per-node counts = 3 × #triangles
    assert(a.values.map(_._2).sum % 3 === 0)
  }

  test("bounded-round family: broadcast-state path ≡ shuffle path") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val edges = Seq.fill(250)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    val df = edges.toDF("src", "dst")
    val wdf = edges.map { case (a, b) => (a, b, (a + b) % 7 + 1) }
      .toDF("src", "dst", "cost")
    val seeds = Seq(0L, 1L).toDF("id")
    def rows(d: DataFrame): Set[Seq[Any]] =
      d.collect().map(_.toSeq).toSet
    assert(rows(Analytics.pageRankFixed(df, iters = 2)) ===
      rows(Analytics.pageRankFixed(df, iters = 2, broadcastStateBelow = 0)))
    assert(rows(Analytics.connectedComponentsBounded(df, rounds = 3)) ===
      rows(Analytics.connectedComponentsBounded(df, rounds = 3,
        broadcastStateBelow = 0)))
    assert(rows(Analytics.labelPropagation(df, rounds = 2)) ===
      rows(Analytics.labelPropagation(df, rounds = 2, broadcastStateBelow = 0)))
    assert(rows(Analytics.kCoreBounded(df, k = 3, rounds = 2)) ===
      rows(Analytics.kCoreBounded(df, k = 3, rounds = 2,
        broadcastStateBelow = 0)))
    assert(rows(Analytics.bfsBounded(df, seeds, rounds = 3)) ===
      rows(Analytics.bfsBounded(df, seeds, rounds = 3,
        broadcastStateBelow = 0)))
    assert(rows(Analytics.ssspBounded(wdf, seeds, rounds = 3)) ===
      rows(Analytics.ssspBounded(wdf, seeds, rounds = 3,
        broadcastStateBelow = 0)))
  }

  test("triangles: broadcast-edge path ≡ shuffle-join path") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(300)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }
    def tris(threshold: Long): Set[(Long, Long, Long)] =
      Analytics.triangles(edges.toDF("src", "dst"),
          broadcastEdgesBelow = threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaBcast = tris(Long.MaxValue) // forced broadcast joins
    val viaShuffle = tris(0L)          // forced shuffle joins
    assert(viaBcast === viaShuffle)
    assert(viaBcast.nonEmpty)
  }

  test("triangles: ids past 2^31 take the unpacked fallback, same triples") {
    // the packed-key path requires ids in [0, 2^31); shifting the same
    // graph past that bound must flip to the unpacked shape and list the
    // (shifted) same triangles
    val rnd = new scala.util.Random(12)
    val edges = Seq.fill(300)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }
    val shift = (1L << 31) + 17L
    def tris(off: Long): Set[(Long, Long, Long)] =
      Analytics.triangles(
          edges.map { case (a, b) => (a + off, b + off) }.toDF("src", "dst"))
        .collect()
        .map(r => (r.getLong(0) - off, r.getLong(1) - off, r.getLong(2) - off))
        .toSet
    val packed = tris(0L)
    val unpacked = tris(shift)
    assert(packed === unpacked)
    assert(packed.nonEmpty)
  }

  /** Naive bounded peel: survivors of `rounds` rounds with induced degree. */
  private def naiveKCore(
      edges: Seq[(Long, Long)], k: Int, rounds: Int): Map[Long, Long] = {
    var es = edges.map { case (a, b) => (a min b, a max b) }
      .filter { case (a, b) => a != b }.distinct
    (1 to rounds).foreach { _ =>
      val deg = (es.map(_._1) ++ es.map(_._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val keep = deg.filter(_._2 >= k).keySet
      es = es.filter { case (a, b) => keep(a) && keep(b) }
    }
    (es.map(_._1) ++ es.map(_._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
  }

  test("kCoreBounded replays the naive peel; clique survives, tree dies") {
    // K5 on 0-4 (deg 4 each) + a pending path hanging off it
    val k5 = (0L to 4L).combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
    val tail = Seq((4L, 10L), (10L, 11L), (11L, 12L))
    val edges = k5 ++ tail
    val got = Analytics.kCoreBounded(edges.toDF("src", "dst"), k = 3, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === naiveKCore(edges, 3, 3))
    assert(got.keySet === Set(0L, 1L, 2L, 3L, 4L)) // the clique, exactly
    assert(got.values.forall(_ === 4L))
  }

  test("kCoreBounded random graph ≡ naive, partition-independent") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(400)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val want = naiveKCore(edges, 5, 3)
    val run = (df: DataFrame) =>
      Analytics.kCoreBounded(df, k = 5, rounds = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = run(edges.toDF("src", "dst").repartition(7))
    assert(a === run(edges.toDF("src", "dst").coalesce(1)))
    assert(a === want)
  }

  /** Naive weighted PageRank with the same integer recurrence. */
  private def naiveWeightedPageRank(
      edges: Seq[(Long, Long, Long)], iters: Int, scale: Long): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val str = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    val base = 3L * scale / 20L
    var r = nodes.map(_ -> scale).toMap
    (1 to iters).foreach { _ =>
      val in = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _, w) => 17L * r(s) * w / (20L * str(s)) }.sum
      }
      r = nodes.map(n => n -> (base + in.getOrElse(n, 0L))).toMap
    }
    r
  }

  test("pageRankFixed weighted: naive replay; w=1 ≡ unweighted; weight pulls rank") {
    val scale = 1000000000L
    val rnd = new scala.util.Random(41)
    val wEdges = Seq.fill(200)(
      (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong, rnd.nextInt(9).toLong + 1L))
      .filter(e => e._1 != e._2)
    val got = Analytics.pageRankFixed(
        wEdges.toDF("src", "dst", "w"), scale = scale, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === naiveWeightedPageRank(wEdges, 3, scale))
    // all-1 weights are bit-identical to the unweighted dispatch
    val ones = wEdges.map { case (a, b, _) => (a, b, 1L) }
    val a = Analytics.pageRankFixed(
        ones.toDF("src", "dst", "w"), scale = scale, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Analytics.pageRankFixed(
        ones.map(e => (e._1, e._2)).toDF("src", "dst"), scale = scale)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
    // a hub fed by one heavy edge outranks one fed by a light edge
    val star = Seq((1L, 10L, 100L), (1L, 11L, 1L))
    val s = Analytics.pageRankFixed(
        star.toDF("src", "dst", "w"), scale = scale, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s(10L) > s(11L))
  }

  /** Naive per-edge common-neighbour count + scaled Jaccard + RA. */
  private def naiveEdgeJaccard(
      edges: Seq[(Long, Long)]): Map[(Long, Long), (Long, Long, Long)] = {
    val es = edges.map { case (a, b) => (a min b, a max b) }
      .filter { case (a, b) => a != b }.distinct
    val nbrs = (es ++ es.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    es.map { case (a, b) =>
      val common = nbrs(a) intersect nbrs(b)
      val cn = common.size.toLong
      val un = (nbrs(a) union nbrs(b) diff Set(a, b)).size.toLong
      val ra = common.toSeq.map(z => 1000000L / nbrs(z).size).sum
      (a, b) -> (cn, if (un > 0) cn * 1000000L / un else 0L, ra)
    }.toMap
  }

  test("edgeJaccard replays the naive scores; K4 edges are fully similar") {
    val k4 = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
    val edges = k4 ++ Seq((3L, 10L), (10L, 11L)) // pendant path
    val run = (df: DataFrame) =>
      Analytics.edgeJaccard(df).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val got = run(edges.toDF("src", "dst"))
    assert(got === naiveEdgeJaccard(edges))
    // N∩={2,3}; z=2 has deg 3, z=3 has deg 4 → ra = 333333 + 250000
    assert(got((0L, 1L)) === ((2L, 1000000L, 583333L)))
    assert(got((10L, 11L)) === ((0L, 0L, 0L)))  // pendant edge: no common nbr
    assert(run(edges.toDF("src", "dst").repartition(7)) === got)
  }

  test("edgeJaccard random graph ≡ naive") {
    val rnd = new scala.util.Random(17)
    val edges = Seq.fill(300)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    val got = Analytics.edgeJaccard(edges.toDF("src", "dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === naiveEdgeJaccard(edges))
  }

  test("assumeCanonical=true ≡ default path on pre-canonicalized input") {
    val rnd = new scala.util.Random(19)
    val raw = Seq.fill(300)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    val canon = raw.map { case (a, b) => (a min b, a max b) }
      .filter { case (a, b) => a != b }.distinct
    val cdf = canon.toDF("src", "dst")
    def m3(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.toSeq).toSet
    assert(m3(Analytics.triangleStats(cdf, assumeCanonical = true)) ===
      m3(Analytics.triangleStats(raw.toDF("src", "dst"))))
    assert(m3(Analytics.kCoreBounded(cdf, k = 5, rounds = 2, assumeCanonical = true)) ===
      m3(Analytics.kCoreBounded(raw.toDF("src", "dst"), k = 5, rounds = 2)))
    assert(m3(Analytics.labelPropagation(cdf, rounds = 2, assumeCanonical = true)) ===
      m3(Analytics.labelPropagation(raw.toDF("src", "dst"), rounds = 2)))
    assert(m3(Analytics.edgeJaccard(cdf, assumeCanonical = true)) ===
      m3(Analytics.edgeJaccard(raw.toDF("src", "dst"))))
  }

  /** Naive synchronous label propagation, min-label tie-break. */
  private def naiveLabelProp(
      edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val es = edges.map { case (a, b) => (a min b, a max b) }
      .filter { case (a, b) => a != b }.distinct
    val sym = es ++ es.map(_.swap)
    val nbrs = sym.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lab = nbrs.keys.map(n => n -> n).toMap
    (1 to rounds).foreach { _ =>
      lab = nbrs.map { case (n, ns) =>
        val counts = ns.map(lab).groupBy(identity).view.mapValues(_.size).toMap
        n -> counts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
      }
    }
    lab
  }

  test("labelPropagation: two bridged cliques collapse to their min ids") {
    val cliqueA = (0L to 3L).combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
    val cliqueB = (10L to 13L).combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
    val edges = cliqueA ++ cliqueB ++ Seq((3L, 10L))
    val got = Analytics.labelPropagation(edges.toDF("src", "dst"), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === naiveLabelProp(edges, 3))
    assert((0L to 2L).forall(got(_) === 0L))
    assert((11L to 13L).forall(got(_) === 10L))
  }

  test("labelPropagation random graph ≡ naive, partition-independent") {
    val rnd = new scala.util.Random(13)
    val edges = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val want = naiveLabelProp(edges, 3)
    val run = (df: DataFrame) =>
      Analytics.labelPropagation(df, rounds = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = run(edges.toDF("src", "dst").repartition(7))
    assert(a === run(edges.toDF("src", "dst").coalesce(1)))
    assert(a === want)
  }

  /** Naive HashMin: `rounds` rounds of min over self + neighbours. */
  private def naiveCc(
      edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val canon = edges.map { case (a, b) => (a min b, a max b) }
      .filter { case (a, b) => a != b }.distinct
    val adj = (canon ++ canon.map(_.swap)).groupBy(_._1)
      .map { case (u, es) => u -> es.map(_._2) }
    var lab = adj.keys.map(n => n -> n).toMap
    (1 to rounds).foreach { _ =>
      lab = lab.map { case (n, l) =>
        n -> (adj(n).map(lab) :+ l).min
      }
    }
    lab
  }

  test("connectedComponentsBounded: exact components within the round bound") {
    // two components: a clique (diameter 1) and a 7-path (diameter 6)
    val clique = for (i <- 0L to 3L; j <- i + 1 to 3L) yield (i, j)
    val path = (10L until 16L).map(i => (i, i + 1))
    val edges = clique ++ path
    val got = Analytics.connectedComponentsBounded(
        edges.toDF("src", "dst"), rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === naiveCc(edges, 5))
    assert((0L to 3L).forall(got(_) === 0L))
    assert((10L to 15L).forall(got(_) === 10L)) // within distance 5 of 10
    assert(got(16L) === 11L) // distance 6 — the documented bounded residue
    val converged = Analytics.connectedComponentsBounded(
        edges.toDF("src", "dst"), rounds = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((10L to 16L).forall(converged(_) === 10L))
    // unbounded: the loop stops on the first round whose Δ is empty
    val unbounded = Analytics.connectedComponentsBounded(
        edges.toDF("src", "dst"), rounds = Int.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(unbounded === converged)
  }

  /** Naive BFS layers from the seed set, `rounds` expansions. */
  private def naiveBfs(
      edges: Seq[(Long, Long)], seeds: Set[Long], rounds: Int): Map[Long, Long] = {
    val canon = edges.map { case (a, b) => (a min b, a max b) }
      .filter { case (a, b) => a != b }.distinct
    val adj = (canon ++ canon.map(_.swap)).groupBy(_._1)
      .map { case (u, es) => u -> es.map(_._2).toSet }
    var dist = seeds.map(_ -> 0L).toMap
    var frontier = seeds
    (1 to rounds).foreach { r =>
      val next = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- dist.keySet
      dist ++= next.map(_ -> r.toLong)
      frontier = next
    }
    dist
  }

  test("bfsBounded: exact layers, unreached absent, multi-source min") {
    import spark.implicits._
    // path 0-1-2-3-4-5 plus an island 90-91; seeds {0, 4}
    val edges = (0L until 5L).map(i => (i, i + 1)) :+ (90L, 91L)
    val got = Analytics.bfsBounded(edges.toDF("src", "dst"),
        Seq(0L, 4L).toDF("id"), rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === naiveBfs(edges, Set(0L, 4L), 2))
    assert(got === Map(0L -> 0L, 4L -> 0L, 1L -> 1L, 3L -> 1L, 5L -> 1L, 2L -> 2L))
    // island never reached; node 2 takes the MIN over both seeds' layers
  }

  test("bfsBounded random graph ≡ naive, partition-independent") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val edges = Seq.fill(200)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (a, b) => a != b }
    val seeds = Set(0L, 1L, 2L)
    val want = naiveBfs(edges, seeds, 3)
    val run = (df: DataFrame) =>
      Analytics.bfsBounded(df, seeds.toSeq.toDF("id"), rounds = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = run(edges.toDF("src", "dst").repartition(7))
    assert(a === run(edges.toDF("src", "dst").coalesce(1)))
    assert(a === want)
  }

  test("connectedComponentsBounded random graph ≡ naive, partition-independent") {
    val rnd = new scala.util.Random(29)
    val edges = Seq.fill(250)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    val want = naiveCc(edges, 5)
    val run = (df: DataFrame) =>
      Analytics.connectedComponentsBounded(df, rounds = 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = run(edges.toDF("src", "dst").repartition(7))
    assert(a === run(edges.toDF("src", "dst").coalesce(1)))
    assert(a === want)
  }

  /** Naive bounded Bellman-Ford: `rounds` synchronous relaxations over
    * the min-cost-collapsed undirected edge list. */
  private def naiveSssp(
      edges: Seq[(Long, Long, Long)], seeds: Set[Long],
      rounds: Int): Map[Long, Long] = {
    val canon = edges.map { case (a, b, c) => ((a min b, a max b), c) }
      .filter { case ((a, b), _) => a != b }
      .groupBy(_._1).map { case (k, cs) => k -> cs.map(_._2).min }
    val sym = canon.toSeq.flatMap { case ((a, b), c) => Seq((a, b, c), (b, a, c)) }
    var dist = seeds.map(_ -> 0L).toMap
    (1 to rounds).foreach { _ =>
      val relaxed = sym.flatMap { case (u, v, c) => dist.get(u).map(d => v -> (d + c)) }
        .groupBy(_._1).map { case (v, ds) => v -> ds.map(_._2).min }
      dist = (dist.keySet ++ relaxed.keySet).map { v =>
        v -> math.min(
          dist.getOrElse(v, Long.MaxValue), relaxed.getOrElse(v, Long.MaxValue))
      }.toMap
    }
    dist
  }

  test("ssspBounded: cheap detour beats direct hop, multi-edge min, unreached absent") {
    import spark.implicits._
    // 0-1 direct cost 10, but 0-2-1 costs 2+3=5; duplicate 0-1 edge at
    // cost 20 must collapse to 10; island 90-91 never reached
    val edges = Seq((0L, 1L, 10L), (0L, 1L, 20L), (0L, 2L, 2L), (2L, 1L, 3L),
      (1L, 3L, 1L), (90L, 91L, 7L))
    val got = Analytics.ssspBounded(edges.toDF("src", "dst", "cost"),
        Seq(0L).toDF("id"), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === naiveSssp(edges, Set(0L), 3))
    // after 1 round 1 costs 10; round 2 finds the 0-2-1 detour at 5
    assert(got === Map(0L -> 0L, 2L -> 2L, 1L -> 5L, 3L -> 6L))
  }

  test("ssspBounded: bounded means ≤ rounds edges — improvement arrives with depth") {
    import spark.implicits._
    // long cheap path 0-10-11-12-1 (cost 4) vs direct 0-1 (cost 9)
    val edges = Seq((0L, 1L, 9L), (0L, 10L, 1L), (10L, 11L, 1L),
      (11L, 12L, 1L), (12L, 1L, 1L))
    def at(r: Int): Map[Long, Long] =
      Analytics.ssspBounded(edges.toDF("src", "dst", "cost"),
          Seq(0L).toDF("id"), rounds = r)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(at(1)(1L) === 9L)   // only the direct hop is within 1 edge
    assert(at(4)(1L) === 4L)   // the 4-edge detour becomes visible
    assert(at(1) === naiveSssp(edges, Set(0L), 1))
    assert(at(4) === naiveSssp(edges, Set(0L), 4))
  }

  test("ssspBounded random graph ≡ naive, partition-independent; cost=1 ≡ bfs") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    val edges = Seq.fill(220)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong,
      (rnd.nextInt(9) + 1).toLong)).filter { case (a, b, _) => a != b }
    val seeds = Set(0L, 1L)
    val want = naiveSssp(edges, seeds, 3)
    val run = (df: DataFrame) =>
      Analytics.ssspBounded(df, seeds.toSeq.toDF("id"), rounds = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = run(edges.toDF("src", "dst", "cost").repartition(7))
    assert(a === run(edges.toDF("src", "dst", "cost").coalesce(1)))
    assert(a === want)
    // unit costs: distances must equal hop counts from bfsBounded
    val unit = edges.map { case (a, b, _) => (a, b, 1L) }
    val viaSssp = run(unit.toDF("src", "dst", "cost"))
    val viaBfs = Analytics.bfsBounded(
        unit.map { case (a, b, _) => (a, b) }.toDF("src", "dst"),
        seeds.toSeq.toDF("id"), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSssp === viaBfs)
  }
}
