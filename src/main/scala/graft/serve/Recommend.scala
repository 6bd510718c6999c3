package graft.serve

import graft.graph.HeteroGraph
import graft.functions.Memos
import graft.learn.{Propagate, Scoring, TrainedModel}
import graft.topology.EdgeKey
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Top-k recommendation over a mutated graph — the port of the reference's
  * Streamlit inference flow (`inference.py:44-76`): insert a fresh source
  * node wired to the seed destinations (+ reverse + self-loop, G14),
  * propagate, score every non-seed destination (candidate set = anti-join,
  * J6 `inference.py:68`), return the k best (W4 `.topk`, `inference.py:76`).
  */
object Recommend {

  /** Insert a new node of `srcType` with edges to `seedDst` ids of the
    * target edge type (U4, `inference.py:52-65`). The new node's feature
    * vector is zeros except the trailing degree slot = |seeds| + 1
    * (mirroring `inference.py:48-52`, where the only engineered feature of
    * a fresh playlist is its degree).
    *
    * PRECONDITION: the graph has been through [[HeteroGraph.addDegree]]
    * (the trailing feature is the degree slot) and `srcType` is non-empty;
    * both are `require`d — on a degree-less graph the seed degree would
    * silently overwrite a real engineered feature.
    * @return (mutated graph, new node id) */
  def addSeedNode(
      g: HeteroGraph,
      target: EdgeKey,
      seedDst: Seq[Long])(implicit spark: SparkSession): (HeteroGraph, Long) = {
    val (newId, width) = freshId(g, target)
    (wire(g, target, seedDst, newId, width)._1, newId)
  }

  /** The new node's id (max id + 1 of `target.src`) and that type's
    * feature width, in one Spark job; `require`s [[addSeedNode]]'s
    * precondition. */
  private def freshId(g: HeteroGraph, target: EdgeKey): (Long, Int) = {
    // one pass for both: max id (null ⇒ empty type) and feature width
    val head = g.nodes(target.src)
      .agg(max(col("id")).as("mx"), max(size(col("features"))).as("w")).head()
    require(!head.isNullAt(0),
      s"addSeedNode: node type '${target.src}' is empty — nothing to anchor the new id to")
    val width = head.getInt(1)
    require(width >= 1,
      s"addSeedNode: node type '${target.src}' has empty feature vectors — " +
        "call addDegree before mutating (the seed's only feature is its degree)")
    (head.getLong(0) + 1L, width)
  }

  private type Edge = (EdgeKey, Long, Long) // (edge type, src, dst)

  /** [[addSeedNode]] for a known fresh id and feature width: the new node,
    * its edges to the seeds, and, where the graph has those edge types,
    * their reverses and its self-loop (G14).
    * @return (mutated graph, the added edges — all of `newId`'s edges) */
  private def wire(
      g: HeteroGraph,
      target: EdgeKey,
      seedDst: Seq[Long],
      newId: Long,
      width: Int)(implicit spark: SparkSession): (HeteroGraph, Seq[Edge]) = {
    import spark.implicits._
    val srcNodes = g.nodes(target.src)
    val feats = Array.fill(width)(0f); feats(width - 1) = seedDst.size + 1f
    val newNode = Seq((newId, feats)).toDF("id", "features")
      .withColumn("pk", lit(null).cast(srcNodes.schema("pk").dataType))
      .select(srcNodes.columns.map(col): _*)
    val loopKey = EdgeKey(target.src, "SELF_LOOP", target.src)
    val added: Seq[Edge] = seedDst.map(d => (target, newId, d)) ++
      seedDst.map(d => (target.reversed, d, newId)).filter(e => g.edges.contains(e._1)) ++
      Seq((loopKey, newId, newId)).filter(e => g.edges.contains(e._1))
    val edges = added.groupBy(_._1).map { case (k, es) =>
      k -> g.edges(k).unionByName(es.map(e => (e._2, e._3)).toDF("src", "dst"))
    }
    (g.copy(nodes = g.nodes + (target.src -> srcNodes.unionByName(newNode)),
      edges = g.edges ++ edges), added)
  }

  /** Full flow: mutate → `rounds` of frozen mean message passing on
    * degree-initialised embeddings → score `(newNode, candidate)` pairs →
    * top-k by (logit desc, id asc) — the id tiebreak makes the ranking
    * total and hash-stable.
    *
    * Incremental: the unmutated graph's layers h₀…h_R are propagated once
    * and memoised ([[Base]]); a request recomputes only the inserted
    * node's r-hop ball. The mutation adds edges touching `newId` only, so
    * after r rounds only B_r changes value, where B₀ = {newId} and B_r =
    * B_{r−1} ∪ the out-neighbours of B_{r−1} in the mutated graph. Round r
    * recomputes the nodes of B_r that round r+1 or the scorer reads,
    * through [[Propagate.meanRounds]] over their in-edge sub-graph, with
    * in-neighbours' round r−1 values taken from the previous delta inside
    * B_{r−1} and from the memoised base layer outside it. Candidates are
    * scored against the base h_R, overridden inside B_R. Every collect is
    * sized by the ball and its in-edges, never by the graph.
    *
    * Measured on the `serve` benchmark (`perfbench/`, local[4], TPC-H
    * shape at ×0.01, trained head) against the full recompute this
    * replaced: 122 → 17 Spark jobs and 5.5 → 0.12 MB of shuffle per
    * request, median request ~4.4–5.6 s → ~1.0–1.1 s. The first request
    * on a graph also builds the base layers, about one full recompute.
    *
    * With `model = Some(trained)` the candidates are scored by the TRAINED
    * head over `[h_s ∥ h_d ∥ h_s∘h_d]` (the reference's checkpoint-loaded
    * serving, `inference.py:30-41`); with `None` the frozen §7.2 dot scorer
    * applies. Load a persisted head with [[ModelStore.load]].
    * @return (id, pk, logit, score) of the k best candidates */
  def recommend(
      g: HeteroGraph,
      target: EdgeKey,
      seedDst: Seq[Long],
      k: Int,
      rounds: Int = 2,
      model: Option[TrainedModel] = None)(implicit spark: SparkSession): DataFrame = {
    val base = Base(g, target, rounds)
    val newId = base.newId
    val (mutated, added) = wire(g, target, seedDst, newId, base.width)
    val delta = ballDelta(mutated, added, base.layers, target, newId, seedDst.toSet, rounds)
    // exclude the freshly inserted node from candidates ONLY when src and
    // dst are the same node type: newId lives in the src id space, so for
    // hetero targets comparing it against dst ids would silently drop the
    // unrelated dst node that happens to share the number
    val candidates = mutated.nodes(target.dst).select(col("id"))
      .filter(!col("id").isin(                            // J6
        (if (target.isSelfType) seedDst :+ newId else seedDst): _*))
      .select(lit(newId).as("src"), col("id").as("dst"))
    // every candidate's src is the constant newId, so the src equi-key
    // constant-folds away; the src side is the one seed row, BROADCAST —
    // otherwise the planner pairs a data-scale candidate frame with an
    // unhinted 1-row frame as a CartesianProduct
    val seedEmb = broadcast(vecFrame(Seq(newId -> delta((target.src, newId)))))
    val inBall = delta.collect { case ((t, id), v) if t == target.dst => id -> v }
    val dstEmb = base.layers(rounds)(target.dst)
      .filter(!col("id").isin(inBall.keys.toSeq: _*))
      .unionByName(vecFrame(inBall.toSeq))
    val scored = model match {
      case Some(m) =>
        Scoring.scoreEdgesModel(candidates, seedEmb, dstEmb, m.weights, m.intercept)
      case None =>
        Scoring.scoreEdges(candidates, seedEmb, dstEmb)
    }
    scored
      .join(mutated.nodes(target.dst).select(col("id").as("dst"), col("pk")), Seq("dst"))
      .select(col("dst").as("id"), col("pk"), col("logit"), col("score"))
      .orderBy(desc("logit"), asc("id"))                   // rank by logit:
      .limit(k)                                            // W4 TakeOrderedAndProject
  }

  /** What every request on one graph shares, computed once per graph: the
    * unmutated graph's layers h₀…h_R on degree-initialised embeddings
    * ([[Propagate.meanLayers]]; the last layer only for `target.dst`, the
    * one type the scorer reads there) and the new node's fresh id and
    * feature width. */
  private final case class Base(
      layers: IndexedSeq[Map[String, DataFrame]], newId: Long, width: Int)

  private object Base {
    /** Memoised on the canonical plans of every node and edge frame, so a
      * different graph — one more edge included — never hits a stale
      * entry; sources are immutable within a session (the
      * [[Propagate.meanRoundsFixed]] memo contract). */
    def apply(g: HeteroGraph, target: EdgeKey, rounds: Int)(
        implicit spark: SparkSession): Base = {
      def plans[K](m: Map[K, DataFrame], name: K => String) =
        m.toSeq.map { case (k, d) => name(k) -> d.queryExecution.analyzed.canonicalized }
          .sortBy(_._1)
      Memos.getOrElseUpdate(spark, ("serve-base",
        plans[String](g.nodes, identity), plans[EdgeKey](g.edges, _.name), target, rounds)) {
        val (newId, width) = freshId(g, target)
        Base(Propagate.meanLayers(g, Propagate.degreeInit(g), rounds, Set(target.dst)),
          newId, width)
      }
    }
  }

  private type Node = (String, Long) // (node type, id)

  /** h_R of every node the scorer reads inside the ball B_R: `newId` and
    * the `target.dst` nodes of B_R that are not seeds (see [[recommend]]).
    * `newId`'s own edges are `added`; the rest is read in at most R Spark
    * jobs (hop r ≥ 2 reads B_{r−1}'s out-edges together with its
    * in-edges, a last one any in-edges the scorer's nodes still lack), one
    * job of base values, and R ball rounds, each sized by the ball and
    * its in-edges. */
  private def ballDelta(
      mutated: HeteroGraph,
      added: Seq[Edge],
      base: IndexedSeq[Map[String, DataFrame]],
      target: EdgeKey,
      newId: Long,
      seeds: Set[Long],
      rounds: Int)(implicit spark: SparkSession): Map[Node, Array[Double]] = {
    import spark.implicits._
    def src(e: Edge): Node = (e._1.src, e._2)
    def dst(e: Edge): Node = (e._1.dst, e._3)
    val seedNode: Node = (target.src, newId)
    // in-edges per node, multi-edges kept; the fresh node's are all added
    var inEdges = Map(seedNode -> added.filter(dst(_) == seedNode))
    def readInto(from: Set[Node], into: Set[Node]): Seq[Edge] = {
      val es = edgesTouching(mutated, from, into -- inEdges.keySet)
      val byDst = es.groupBy(dst)
      inEdges ++= (into -- inEdges.keySet).map(n => n -> byDst.getOrElse(n, Nil))
      es
    }
    // B_0 … B_R, each hop expanding only the previous hop's new nodes
    val balls = (1 to rounds).foldLeft(Vector(Set(seedNode))) { (bs, r) =>
      val out =
        if (r == 1) added.filter(src(_) == seedNode)
        else {
          val frontier = bs(r - 1) -- bs(r - 2)
          readInto(frontier, bs(r - 1)).filter(e => frontier(src(e)))
        }
      bs :+ (bs(r - 1) ++ out.map(dst))
    }
    // needed(r): the nodes of B_r that round r+1, or at R the scorer, reads
    val scorerReads = balls(rounds)
      .filter { case (t, id) => t == target.dst && !seeds(id) } + seedNode
    if (!scorerReads.subsetOf(inEdges.keySet)) readInto(Set.empty, scorerReads)
    def inputs(ns: Set[Node]) = ns ++ ns.flatMap(n => inEdges(n).map(src))
    val needed = (rounds to 1 by -1)
      .scanLeft(scorerReads)((ns, r) => balls(r - 1).intersect(inputs(ns))).reverse
    // round r reads h_{r−1} of needed(r) and of its in-neighbours: from the
    // previous round's delta inside B_{r−1} (exactly needed(r − 1)), from
    // the base layer outside it; newId's h₀ is the mutated graph's own init
    val fromBase = (1 to rounds).map(r => inputs(needed(r)) -- balls(r - 1))
    val baseVals = values(
      (1 to rounds).flatMap { r =>
        fromBase(r - 1).groupBy(_._1).map { case (t, ns) =>
          (r - 1, t, base(r - 1)(t), ns.map(_._2))
        }
      } :+ ((0, target.src, Propagate.degreeInit(mutated)(target.src), Set(newId))))
    // the ball frames are small and local: one partition each, joined by
    // hash without an exchange, so an edge type costs no Spark job of its own
    def local(df: DataFrame) = df.coalesce(1).hint("shuffle_hash")
    var delta = Map(seedNode -> baseVals((0, target.src, newId)))
    for (r <- 1 to rounds) {
      val h = (fromBase(r - 1).map(n => n -> baseVals((r - 1, n._1, n._2))) ++ delta)
        .groupBy(_._1._1).map { case (t, vs) =>
          t -> local(vecFrame(vs.toSeq.map { case ((_, id), v) => id -> v }))
        }
      val ballGraph = HeteroGraph(Map.empty, needed(r).toSeq.flatMap(inEdges).groupBy(_._1).map {
        case (k, es) => k -> local(es.map(e => (e._2, e._3)).sorted.toDF("src", "dst"))
      })
      val next = Propagate.meanRounds(ballGraph, h, 1)
      delta = values(needed(r).groupBy(_._1).toSeq.map { case (t, ns) =>
        (r, t, next(t), ns.map(_._2))
      }).map { case ((_, t, id), v) => (t, id) -> v }
    }
    delta
  }

  /** Edges of `g` leaving one of `from` or entering one of `into`, every
    * edge type in one Spark job (none when both are empty), multi-edges
    * kept. */
  private def edgesTouching(g: HeteroGraph, from: Set[Node], into: Set[Node]): Seq[Edge] = {
    def ids(ns: Set[Node], t: String) = ns.toSeq.collect { case (`t`, id) => id }
    val parts = g.edges.toIndexedSeq.collect {
      case (k, df) if ids(from, k.src).nonEmpty || ids(into, k.dst).nonEmpty =>
        k -> df.filter(col("src").isin(ids(from, k.src): _*) ||
          col("dst").isin(ids(into, k.dst): _*)).select(col("src"), col("dst"))
    }
    collectParts(parts.map(_._2))
      .map { case (i, r) => (parts(i)._1, r.getLong(1), r.getLong(2)) }
  }

  /** The `vec` of `ids` in each `(layer, type, frame, ids)` request, every
    * request in one Spark job, keyed by (layer, type, id). */
  private def values(requests: Seq[(Int, String, DataFrame, Set[Long])])
      : Map[(Int, String, Long), Array[Double]] = {
    val live = requests.filter(_._4.nonEmpty).toIndexedSeq
    collectParts(live.map { case (_, _, df, ids) =>
      df.filter(col("id").isin(ids.toSeq: _*)).select(col("id"), col("vec"))
    }).map { case (i, r) =>
      (live(i)._1, live(i)._2, r.getLong(1)) -> r.getSeq[Double](2).toArray
    }.toMap
  }

  /** Every row of `parts` (one schema) in one Spark job, each with the
    * index of its part; the row's own columns start at 1. */
  private def collectParts(parts: IndexedSeq[DataFrame]): Seq[(Int, Row)] =
    if (parts.isEmpty) Nil
    else parts.zipWithIndex
      .map { case (df, i) => df.select(lit(i).as("part") +: df.columns.map(col): _*) }
      .reduce(_ unionByName _).collect().toSeq.map(r => r.getInt(0) -> r)

  /** A local `(id, vec)` frame. Rows and edges enter the ball rounds
    * sorted, so their sums run in one order whatever order the collects
    * returned: a repeated request answers bit-identically. */
  private def vecFrame(rows: Seq[(Long, Array[Double])])(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    rows.sortBy(_._1).toDF("id", "vec")
  }
}
