package graft.learn

import graft.functions.ArrayOps
import graft.graph.HeteroGraph
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** L-round heterogeneous message passing as a DataFrame-join loop (G12 —
  * the port of the reference's GATv2 `to_hetero(..., aggr='sum')` encoder,
  * `model.py:92-94`, per SURVEY.md §7.4: frozen deterministic propagation
  * producing structural embeddings; a trainable head goes on top, §7.4.1).
  *
  * Round update, per node type `d`:
  * {{{
  *   h'(v) = ( h(v) + Σ_{edge types (s,r,d)} mean_{(u,v) ∈ E_r} h(u) ) / (1 + T_v)
  * }}}
  * where `T_v` = number of edge types that delivered ≥1 message to `v`
  * (PyG's per-type aggregation then cross-type `aggr='sum'`, here averaged
  * with the self embedding so magnitudes stay bounded without training).
  *
  * Scale shape per round: one shuffle join (edges ⨝ src embeddings — both
  * sides partitioned by the join key) + one partial-aggregated groupBy per
  * edge type, then one union + groupBy per node type. `localCheckpoint`
  * after every round truncates the lineage (SURVEY.md §7.4 hard part 3).
  */
object Propagate {

  /** Element-wise array sum as `dim` native SUM aggregates — every column
    * stays inside whole-stage codegen with map-side partial aggregation;
    * the generic [[ArrayOps.vecSumAgg]] UDAF pays ExpressionEncoder serde
    * per row per group, which dominates propagation cost at scale. Use the
    * UDAF only when the width is unknown at plan time. */
  private def sumVec(vecCol: String, dim: Int, as: String): Seq[Column] =
    (0 until dim).map(i =>
      sum(element_at(col(vecCol), i + 1)).as(s"${as}_$i"))

  private def assembled(as: String, dim: Int): Column =
    array((0 until dim).map(i => col(s"${as}_$i")): _*)

  /** Assemble the `dim` partial-sum columns divided by `n` — the per-type
    * mean as static per-column arithmetic (fully codegen; a
    * `transform(…, x => x / n)` lambda would evaluate interpreted). */
  private def assembledDiv(as: String, dim: Int, n: Column): Column =
    array((0 until dim).map(i => col(s"${as}_$i") / n): _*)

  /** Materialise one round's outputs behind lineage barriers, CONCURRENTLY:
    * under AQE, `localCheckpoint` executes its query stages at call time,
    * so checkpointing the node types one by one serialises otherwise
    * independent jobs. Submitting from parallel threads lets the scheduler
    * overlap them across cores. (cache() is no better serial-wise: AQE
    * cannot re-optimise inside InMemoryRelation and round plans nest.)
    *
    * Checkpoints are EAGER: with `eager = false` the final checkpoint job
    * is deferred until the first downstream action, by which time the
    * originating SQLExecution (and its SQL-metric accumulators) may be
    * gone — task completions then hit dead accumulators and the
    * DAGScheduler logs `updateAccumulators` errors on every bench run.
    * Since AQE executes all query stages at call time even for
    * `eager = false`, eagerness only moves the cheap final job, and it
    * runs while the execution context is still alive. */
  private def barrier(h: Map[String, DataFrame]): Map[String, DataFrame] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fs = h.toSeq.map { case (t, df) =>
      Future(t -> df.localCheckpoint(eager = true))
    }
    fs.map(f => Await.result(f, Duration.Inf)).toMap
  }

  /** Run independent eager materialisations concurrently (same rationale
    * as [[barrier]]: serial `localCheckpoint`s leave cores idle). */
  private def concurrently(thunks: Seq[() => DataFrame]): Seq[DataFrame] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    thunks.map(t => Future(t())).map(f => Await.result(f, Duration.Inf))
  }

  /** Dev phase timing, enabled by SPARK_GRAFT_TRAIN_PHASES=1 (stderr). */
  private def phase[A](name: String)(f: => A): A =
    if (!sys.env.contains("SPARK_GRAFT_TRAIN_PHASES")) f
    else {
      val t0 = System.nanoTime(); val r = f
      System.err.println(
        f"PROPPHASE $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

  /** @param init per node type `(id: bigint, vec: array<double>)`, all of
    *             width `dim`
    * @param dim  embedding width — lets the per-dst aggregation run as
    *             `dim` codegen'd SUMs instead of an array UDAF
    * @return     embeddings of the same shape after `rounds` rounds
    */
  def meanRounds(
      g: HeteroGraph,
      init: Map[String, DataFrame],
      rounds: Int,
      dim: Int = 1,
      checkpoint: Boolean = true): Map[String, DataFrame] = {
    var h = init
    for (r <- 1 to rounds) {
      // per edge type: mean of source embeddings per destination
      val perType: Seq[(String, DataFrame)] = g.edges.toSeq.collect {
        case (k, edges) if h.contains(k.src) && h.contains(k.dst) =>
          val src = h(k.src).select(col("id").as("src"), col("vec"))
          val agg = edges.join(src, Seq("src"))
            .groupBy(col("dst").as("id"))
            .agg(sumVec("vec", dim, "s").head,
                 sumVec("vec", dim, "s").tail :+ count(lit(1)).as("n"): _*)
            .select(col("id"),
              assembledDiv("s", dim, col("n")).as("msg"))
          k.dst -> agg
      }
      val byDst = perType.groupBy(_._1)
      h = h.map { case (t, cur) =>
        val updated = byDst.get(t) match {
          case None => cur
          case Some(parts) =>
            val msgs = parts.map(_._2).reduce(_ unionByName _)
              .groupBy("id")
              .agg(sumVec("msg", dim, "m").head,
                   sumVec("msg", dim, "m").tail :+ count(lit(1)).as("n_types"): _*)
              .select(col("id"), assembled("m", dim).as("msg_sum"), col("n_types"))
            cur.join(msgs, Seq("id"), "left")
              .select(col("id"),
                when(col("msg_sum").isNull, col("vec"))
                  // fused codegen combine — zip_with lambdas are interpreted
                  .otherwise(ArrayOps.combineMean(
                    col("vec"), col("msg_sum"), col("n_types")))
                  .as("vec"))
        }
        t -> updated
      }
      // Barrier policy (same as meanRoundsFixed): never checkpoint the
      // final round — callers consume each returned frame once, so eager
      // materialisation of every type is pure cost; round 1 barriers all
      // types (truncating graph-build lineage behind pass-through message
      // sources), later middle rounds only types that received messages.
      if (checkpoint && r < rounds) {
        if (r == 1) h = barrier(h)
        else {
          val (upd, same) = h.partition { case (t, _) => byDst.contains(t) }
          h = barrier(upd) ++ same
        }
      }
    }
    h
  }

  /** [[meanRounds]] semantics over a FLATTENED graph: node types offset
    * into one global Long id space, all
    * edge types in one tagged frame, all embeddings in one frame. At dim=1
    * the scalar twin fuses the per-type mean and the cross-type combine
    * into a SINGLE per-tag `groupBy(dst)` (tags are plan-time constants),
    * so a round is one join + ONE aggregation exchange + one combine join
    * — versus 2·|edge types| shuffles for the per-type loop — and a single
    * plan per round for the scheduler instead of a job fan-out. (The dim>1
    * path keeps the two-level aggregation: per-tag-per-dim columns would
    * explode the aggregate width.) The flat shape is for the cluster
    * regime, where stage count, shuffle volume and per-stage skew
    * dominate. The per-type loop remains the readable reference
    * implementation. For co-located zero-exchange rounds over a PERSISTED
    * graph, see the bucketed store ([[HeteroGraph.saveBucketed]]) — an
    * in-session `localCheckpoint` cannot carry hash partitioning under
    * AQE, so the rounds pay the message-join exchange (or a broadcast of
    * `h`) each round.
    */
  /** Per-type dense id-space sizes for the flat layouts: served from
    * [[HeteroGraph.sizeHints]] when known (zero jobs); missing types fall
    * back to one max(id) aggregation each, submitted concurrently so the
    * independent jobs overlap instead of serialising. */
  /** The session's configured shuffle parallelism — the target partition
    * count for flat-layout frames (unions must not multiply it). */
  private def numShufflePartitions(g: HeteroGraph): Int =
    g.nodes.headOption.orElse(g.edges.headOption.map { case (k, d) => (k.src, d) })
      .map(_._2.sparkSession.sessionState.conf.numShufflePartitions)
      .getOrElse(32)

  private def flatSizes(g: HeteroGraph, types: Seq[String]): Seq[(String, Long)] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fs = types.map(t => Future(t -> g.idSpaceSize(t)))
    fs.map(f => Await.result(f, Duration.Inf))
  }

  def meanRoundsFlat(
      g: HeteroGraph,
      init: Map[String, DataFrame],
      rounds: Int,
      dim: Int = 1,
      finalTargets: Set[String] = Set.empty): Map[String, DataFrame] = {
    // dim=1 (the degree-init path TrainLR uses) runs as a plain double
    // column: `transform`/`zip_with` lambdas are interpreted expressions
    // (not codegen), and at ~millions of node rows × rounds they dominate
    // the propagation wall-clock. The scalar twin keeps every round inside
    // whole-stage codegen and re-wraps `array(h)` only at the boundary.
    if (dim == 1) return meanRoundsFlatScalar(g, init, rounds, finalTargets)
    val types = init.keys.toSeq.sorted
    // id-space sizes: free when the builder probe left hints, otherwise a
    // max(id) agg per type — run those CONCURRENTLY (they are independent
    // jobs; serial execution was a measured multi-second fixed cost)
    val sizes = flatSizes(g, types)
    val offsets = sizes.scanLeft(("", 0L)) {
      case ((_, acc), (t, n)) => (t, acc + n)
    }.sliding(2).map { case Seq((_, off), (t, _)) => t -> off }.toMap

    val flatEdges = g.edges.toSeq
      .filter { case (k, _) => offsets.contains(k.src) && offsets.contains(k.dst) }
      .sortBy(_._1.name)
      .zipWithIndex.map { case ((k, df), tag) =>
        df.select(
          (col("src") + offsets(k.src)).as("src"),
          (col("dst") + offsets(k.dst)).as("dst"),
          lit(tag).as("tag"))
      }
      .reduce(_ unionByName _)
      // coalesce before the barrier: a T-type union multiplies partition
      // count by T, and at fixture scale each task costs a fixed ~30-100ms
      // (scheduler + shuffle-writer setup) regardless of rows — every round
      // re-scans this frame, so pay for shuffle.partitions tasks, not T×.
      // (localCheckpoint does NOT preserve hash partitioning under AQE, so
      // repartitioning on the join key here would be a wasted exchange.)
      .coalesce(numShufflePartitions(g))
      .localCheckpoint() // eager (see barrier); one edge frame reused per round

    var h: DataFrame = types.map { t =>
      init(t).select((col("id") + offsets(t)).as("gid"), col("vec"))
    }.reduce(_ unionByName _)
      // same union-width argument; the barrier also truncates the cached
      // node-frame lineage so round plans serialise small task binaries
      .coalesce(numShufflePartitions(g)).localCheckpoint()

    for (_ <- 1 to rounds) {
      val perTypeMean = flatEdges
        .join(h.select(col("gid").as("src"), col("vec")), Seq("src"))
        .groupBy(col("dst"), col("tag"))
        .agg(sumVec("vec", dim, "s").head,
             sumVec("vec", dim, "s").tail :+ count(lit(1)).as("n"): _*)
        .select(col("dst"),
          assembledDiv("s", dim, col("n")).as("msg"))
      val msgs = perTypeMean
        .groupBy(col("dst").as("gid"))
        .agg(sumVec("msg", dim, "m").head,
             sumVec("msg", dim, "m").tail :+ count(lit(1)).as("n_types"): _*)
        .select(col("gid"), assembled("m", dim).as("msg_sum"), col("n_types"))
      h = h.join(msgs, Seq("gid"), "left")
        .select(col("gid"),
          when(col("msg_sum").isNull, col("vec"))
            // fused codegen combine — zip_with lambdas are interpreted
            .otherwise(ArrayOps.combineMean(
              col("vec"), col("msg_sum"), col("n_types")))
            .as("vec"))
        .localCheckpoint() // eager — see barrier scaladoc
    }
    types.map { t =>
      val lo = offsets(t)
      val hi = lo + sizes.toMap.apply(t)
      t -> h.filter(col("gid") >= lo && col("gid") < hi)
        .select((col("gid") - lo).as("id"), col("vec"))
    }.toMap
  }

  /** [[meanRoundsFlat]] specialised to embedding width 1: the channel is a
    * bare `double` column, so the per-round mean/combine arithmetic is
    * native SUM/COUNT/division inside whole-stage codegen — no interpreted
    * array lambdas. Same recurrence, same float-order caveats.
    *
    * ONE aggregation exchange per round (not one exchange total): the
    * per-type mean and the cross-type combine fuse into a single
    * `groupBy(dst)` as per-tag conditional sums (the tag set is known at
    * plan time), where the naive shape pays TWO aggregation exchanges per
    * round. The round's joins still exchange their inputs each round —
    * the prep only `coalesce`s, because `localCheckpoint` does NOT
    * preserve hash partitioning under AQE (see the inline comment in
    * [[runFlatScalar]]), and the pinned shuffle_hash joins re-shuffle
    * both sides. Exchange-free rounds on the |E| side are available only
    * over a PERSISTED bucketed graph ([[HeteroGraph.saveBucketed]]),
    * where the bucketed scan carries the partitioning into every round's
    * join.
    *
    * @param finalTargets when non-empty, the LAST round only updates these
    *   node types (messages into other types are skipped — their returned
    *   embeddings keep the previous round's value). Sound whenever the
    *   caller only reads the target types: round-(r−1) values of all
    *   neighbors are already computed. The training path reads exactly
    *   {src, dst} of the supervision edge type, so it skips the final-round
    *   message work for every other type.
    */
  private def meanRoundsFlatScalar(
      g: HeteroGraph,
      init: Map[String, DataFrame],
      rounds: Int,
      finalTargets: Set[String]): Map[String, DataFrame] = {
    val types = init.keys.toSeq.sorted
    runFlatScalar(g, types, rounds, finalTargets, (offsets, _) =>
      types.map { t =>
        init(t).select((col("id") + offsets(t)).as("gid"),
          element_at(col("vec"), 1).as("h"))
      }.reduce(_ unionByName _))
  }

  /** [[meanRoundsFlat]] with [[degreeInitStructural]] FUSED into the flat
    * prep: the degree init is built directly in the global id space — one
    * endpoint-count aggregation over the original edge types of
    * `degreesFrom` plus one left join against `spark.range(totalIds)`
    * (dense ids are 0..n−1 by construction) — instead of one aggregation
    * and one join per node type that the per-type init API forces. Values
    * are identical; this is the training hot path's entry. */
  def meanRoundsFlatDegree(
      msgGraph: HeteroGraph,
      degreesFrom: HeteroGraph,
      types: Set[String],
      rounds: Int,
      finalTargets: Set[String])(
      implicit spark: SparkSession): Map[String, DataFrame] =
    runFlatScalar(msgGraph, types.toSeq.sorted, rounds, finalTargets,
      (offsets, total) => {
        val orig = degreesFrom.edges.toSeq.collect {
          case (k, df) if !k.rel.startsWith("REVERSE_") && k.rel != "SELF_LOOP" =>
            (k, df)
        }
        val ends = orig.flatMap { case (k, df) =>
          (if (offsets.contains(k.src))
            Seq(df.select((col("src") + offsets(k.src)).as("gid"))) else Nil) ++
          (if (offsets.contains(k.dst))
            Seq(df.select((col("dst") + offsets(k.dst)).as("gid"))) else Nil)
        }
        val base = spark.range(total).select(col("id").as("gid"))
        ends match {
          case Nil => base.select(col("gid"), lit(1.0).as("h"))
          case dfs =>
            val cnt = dfs.reduce(_ unionByName _)
              .groupBy("gid").agg(count(lit(1)).as("d"))
            base.join(cnt, Seq("gid"), "left")
              .select(col("gid"),
                (coalesce(col("d"), lit(0L)) + 1L).cast("double").as("h"))
        }
      })

  /** The shared flat scalar round loop. `mkInit` receives the type offsets
    * and the total id-space size and returns the flat `(gid, h)` frame. */
  private def runFlatScalar(
      g: HeteroGraph,
      types: Seq[String],
      rounds: Int,
      finalTargets: Set[String],
      mkInit: (Map[String, Long], Long) => DataFrame): Map[String, DataFrame] = {
    val sizes = flatSizes(g, types)
    val sizeOf = sizes.toMap
    val offsets = sizes.scanLeft(("", 0L)) {
      case ((_, acc), (t, n)) => (t, acc + n)
    }.sliding(2).map { case Seq((_, off), (t, _)) => t -> off }.toMap
    val total = sizes.map(_._2).sum
    val p = numShufflePartitions(g)

    val tagged = g.edges.toSeq
      .filter { case (k, _) => offsets.contains(k.src) && offsets.contains(k.dst) }
      .sortBy(_._1.name)
      .zipWithIndex
    val nTags = tagged.size
    // coalesce before the barrier (a T-type union multiplies partition
    // count by T; localCheckpoint does NOT preserve hash partitioning
    // under AQE, so repartitioning on the join key here would be a wasted
    // full exchange); the two prep frames are independent — materialise
    // them CONCURRENTLY (barrier()'s policy) instead of serially.
    val Seq(flatEdgesCk, h0) = phase("scalar prep")(concurrently(Seq(
      () => tagged.map { case ((k, df), tag) =>
          df.select(
            (col("src") + offsets(k.src)).as("src"),
            (col("dst") + offsets(k.dst)).as("dst"),
            lit(tag).as("tag"))
        }
        .reduce(_ unionByName _)
        .coalesce(p).localCheckpoint(),
      () => mkInit(offsets, total)
        .coalesce(p).localCheckpoint())))
    var h: DataFrame = h0

    for (r <- 1 to rounds) phase(s"scalar round $r") {
      val edges =
        if (r == rounds && finalTargets.nonEmpty) {
          val ranges = types.filter(finalTargets).map(t =>
            (offsets(t), offsets(t) + sizeOf(t)))
          require(ranges.nonEmpty, s"finalTargets $finalTargets not in $types")
          flatEdgesCk.filter(ranges.map { case (lo, hi) =>
            col("dst") >= lo && col("dst") < hi }.reduce(_ || _))
        } else flatEdgesCk
      // fused per-tag aggregation: mean per edge type AND the cross-type
      // sum/count in ONE groupBy(dst) (tags are plan-time constants)
      val aggs = (0 until nTags).flatMap { tg => Seq(
        sum(when(col("tag") === tg, col("h"))).as(s"s_$tg"),
        count(when(col("tag") === tg, lit(1))).as(s"c_$tg")) }
      val msgSum = (0 until nTags).map(tg =>
        when(col(s"c_$tg") > 0, col(s"s_$tg") / col(s"c_$tg")).otherwise(lit(0.0)))
        .reduce(_ + _)
      val nTypes = (0 until nTags).map(tg =>
        when(col(s"c_$tg") > 0, lit(1L)).otherwise(lit(0L))).reduce(_ + _)
      // shuffle_hash hints: at fixture scale AQE prefers broadcasting h
      // (~MBs), but the per-round broadcast pays a serial driver-side
      // collect + HashedRelation build per round — measured slower than
      // the shuffled hash join here, and at cluster scale h outgrows
      // broadcast anyway, so the hint pins the plan both regimes want.
      val msgs = edges
        .join(h.select(col("gid").as("src"), col("h")).hint("shuffle_hash"),
          Seq("src"))
        .groupBy(col("dst").as("gid"))
        .agg(aggs.head, aggs.tail: _*)
        .select(col("gid"), msgSum.as("msg_sum"), nTypes.as("n_types"))
      h = h.join(msgs.hint("shuffle_hash"), Seq("gid"), "left")
        .select(col("gid"),
          when(col("msg_sum").isNull, col("h"))
            .otherwise((col("h") + col("msg_sum")) / (lit(1) + col("n_types")))
            .as("h"))
        .localCheckpoint() // eager — see barrier scaladoc
    }
    types.map { t =>
      val lo = offsets(t)
      val hi = lo + sizeOf(t)
      t -> h.filter(col("gid") >= lo && col("gid") < hi)
        .select((col("gid") - lo).as("id"), array(col("h")).as("vec"))
    }.toMap
  }

  /** Fixed-point twin of [[meanRounds]] over a single scaled-long channel:
    * embeddings are `h: bigint` (value × scale), per-type means are
    * floor-divided long sums, and the cross-type combine is
    * `(h + Σ msgs) div (1 + n_types)`. Long addition is exact and
    * order-independent, so — unlike the double variants, whose float sums
    * are partition-order dependent — this propagation is ANSI-SQL
    * expressible and hash-exact against a DuckDB oracle (the round
    * recurrence is the same `model.py:92-94` shape, truncated instead of
    * rounded). This is the correctness witness for the message-passing
    * core (G12); the double/attention variants remain the production
    * scorers. Same scale shape as [[meanRounds]]: one join + two
    * aggregations per edge type per round, all map-side combinable. */
  /** Memoised per (canonical edge plans, canonical init plans, rounds,
    * checkpoint): the fixed-point recurrence is a deterministic pure
    * function of its integer inputs, and source data is immutable for a
    * session (same contract as the dense-PK probe and shingle-prep
    * memos) — so two queries propagating the same graph (e.g. the
    * propagation oracle and trained-head serving) share one set of round
    * barriers instead of re-running the rounds. */
  // Held in the session-scoped [[graft.functions.Memos]] registry: equal
  // canonical plans across two sessions in one JVM must not resolve to
  // frames bound to a stopped SparkContext, and entries must not outlive
  // their session (they pin checkpoint blocks).
  private def fixedMemoKey(
      g: HeteroGraph,
      init: Map[String, DataFrame],
      rounds: Int,
      algo: String) = (
    "prop-fixed",
    g.edges.toSeq.map { case (k, d) =>
      k.name -> d.queryExecution.analyzed.canonicalized }.sortBy(_._1),
    init.toSeq.map { case (t, d) =>
      t -> d.queryExecution.analyzed.canonicalized }.sortBy(_._1),
    rounds, algo)

  def meanRoundsFixed(
      g: HeteroGraph,
      init: Map[String, DataFrame], // per type: (id: bigint, h: bigint)
      rounds: Int,
      checkpoint: Boolean = false): Map[String, DataFrame] =
    graft.functions.Memos.getOrElseUpdate(
      init.head._2.sparkSession,
      fixedMemoKey(g, init, rounds, s"mean-pertype-$checkpoint"))(
      meanRoundsFixedImpl(g, init, rounds, checkpoint))

  /** Barrier the per-type INIT frames before the round loop — the
    * per-type twin of the flat variants' `h0` checkpoint. The init plans
    * (degree agg over every edge type's endpoints + the id left-join)
    * are the most-reused subplan in the unrolled round DAG: round 1
    * consumes h₀(t) once per edge type with src = t PLUS once as the
    * self term, and with `checkpoint = false` round r's lazy plan
    * multiplies that again — ReuseExchange cannot help because the
    * bucketed-scan joins have no exchange to reuse. Materialising the
    * ≤|V|-row init frames once removes every replay: measured on q55's
    * bucketed graph at sf0.1 (BKT_AB_r8.md), 2-round propagate task time
    * 80–157 s → 55–68 s and wall 4.1–9.3 s → 3.8–4.3 s including the
    * barrier itself; round-1 checkpointing on top adds jobs for no gain. */
  private def initBarrier(init: Map[String, DataFrame]): Map[String, DataFrame] =
    barrier(init)

  private def meanRoundsFixedImpl(
      g: HeteroGraph,
      init: Map[String, DataFrame],
      rounds: Int,
      checkpoint: Boolean): Map[String, DataFrame] = {
    var h = initBarrier(init)
    for (r <- 1 to rounds) {
      val perType: Seq[(String, DataFrame)] = g.edges.toSeq.collect {
        case (k, edges) if h.contains(k.src) && h.contains(k.dst) =>
          val src = h(k.src).select(col("id").as("src"), col("h"))
          k.dst -> edges.join(src, Seq("src"))
            .groupBy(col("dst").as("id"))
            .agg(expr("sum(h) div count(1)").as("msg")) // floor-mean, exact
      }
      val byDst = perType.groupBy(_._1)
      h = h.map { case (t, cur) =>
        val updated = byDst.get(t) match {
          case None => cur
          case Some(parts) =>
            val msgs = parts.map(_._2).reduce(_ unionByName _)
              .groupBy("id")
              .agg(sum("msg").as("msg_sum"), count(lit(1)).as("n_types"))
            cur.join(msgs, Seq("id"), "left")
              .select(col("id"),
                when(col("msg_sum").isNull, col("h"))
                  .otherwise(expr("(h + msg_sum) div (1 + n_types)"))
                  .as("h"))
        }
        t -> updated
      }
      // Barrier policy: the FINAL round is never checkpointed — its frames
      // are each consumed once downstream, so eager materialisation of
      // every type (including ones the caller never reads) is pure cost.
      // Round 1 barriers ALL types, truncating the graph-build lineage
      // behind pass-through message sources too; later middle rounds only
      // barrier types that actually received messages (the rest already
      // sit on their round-1 checkpoint).
      if (checkpoint && r < rounds) {
        if (r == 1) h = barrier(h)
        else {
          val (upd, same) = h.partition { case (t, _) => byDst.contains(t) }
          h = barrier(upd) ++ same
        }
      }
    }
    h
  }

  /** Fixed-point twin of [[attentionRounds]]: the same score → normalise →
    * weighted-sum shape, but with the edge score taken as the SOURCE
    * salience `h_u` itself (linear attention) instead of
    * `exp(leaky_relu(dot))` — so the per-type message is
    * {{{ m(v) = (Σ_{u∈N_r(v)} h_u²) div (Σ_{u∈N_r(v)} h_u) }}}
    * i.e. α(u,v) = h_u / Σ h_{u'} exactly, in integer arithmetic
    * (`degreeInitFixed` keeps every h > 0, so the denominator never
    * vanishes). Long sums are exact and order-independent, which makes
    * this the ANSI-expressible, hash-exact oracle witness for the
    * attention aggregation path — softmax exp sums are float-order
    * dependent and can never be (SURVEY.md §7.4 hard part 2). Cross-type
    * combine and barrier policy are [[meanRoundsFixed]]'s.
    *
    * Scale shape per round and edge type: ONE shuffle join (edges ⨝ src
    * embeddings) + one partial-aggregated groupBy carrying both Σh² and
    * Σh — cheaper than the softmax pattern's two aggregations, because
    * linear weights need no per-destination max/exp pass. */
  def attentionRoundsFixed(
      g: HeteroGraph,
      init: Map[String, DataFrame], // per type: (id: bigint, h: bigint)
      rounds: Int,
      checkpoint: Boolean = false): Map[String, DataFrame] =
    graft.functions.Memos.getOrElseUpdate(
      init.head._2.sparkSession,
      fixedMemoKey(g, init, rounds, s"attention-pertype-$checkpoint"))(
      attentionRoundsFixedImpl(g, init, rounds, checkpoint))

  private def attentionRoundsFixedImpl(
      g: HeteroGraph,
      init: Map[String, DataFrame],
      rounds: Int,
      checkpoint: Boolean): Map[String, DataFrame] = {
    var h = initBarrier(init) // see initBarrier: same replay argument
    for (r <- 1 to rounds) {
      val perType: Seq[(String, DataFrame)] = g.edges.toSeq.collect {
        case (k, edges) if h.contains(k.src) && h.contains(k.dst) =>
          val src = h(k.src).select(col("id").as("src"), col("h"))
          k.dst -> edges.join(src, Seq("src"))
            .groupBy(col("dst").as("id"))
            .agg(expr("sum(h * h) div sum(h)").as("msg")) // salience-weighted
      }
      val byDst = perType.groupBy(_._1)
      h = h.map { case (t, cur) =>
        val updated = byDst.get(t) match {
          case None => cur
          case Some(parts) =>
            val msgs = parts.map(_._2).reduce(_ unionByName _)
              .groupBy("id")
              .agg(sum("msg").as("msg_sum"), count(lit(1)).as("n_types"))
            cur.join(msgs, Seq("id"), "left")
              .select(col("id"),
                when(col("msg_sum").isNull, col("h"))
                  .otherwise(expr("(h + msg_sum) div (1 + n_types)"))
                  .as("h"))
        }
        t -> updated
      }
      if (checkpoint && r < rounds) {
        if (r == 1) h = barrier(h)
        else {
          val (upd, same) = h.partition { case (t, _) => byDst.contains(t) }
          h = barrier(upd) ++ same
        }
      }
    }
    h
  }

  /** [[meanRoundsFixed]] over the FLAT layout (same shape as
    * [[meanRoundsFlat]]): node types offset into one global id space, all
    * edge types in one tagged frame — one join + two aggregations + one
    * combine per round TOTAL instead of per edge type. Because the
    * arithmetic is integer (exact, order-independent), the flat layout
    * produces BIT-IDENTICAL results to the per-type loop — asserted in
    * LearnSpec — so callers can pick the layout purely on plan shape; the
    * per-type loop remains the readable semantic reference. Memoised like
    * [[meanRoundsFixed]] (same key space, so either entry point shares). */
  def meanRoundsFixedFlat(
      g: HeteroGraph,
      init: Map[String, DataFrame], // per type: (id: bigint, h: bigint)
      rounds: Int): Map[String, DataFrame] =
    runFlatFixed(g, init, rounds, "mean",
      aggsPerTag = tg => Seq(
        sum(when(col("tag") === tg, col("h"))).as(s"s_$tg"),
        count(when(col("tag") === tg, lit(1))).as(s"c_$tg")),
      present = tg => col(s"c_$tg") > 0,
      msgPerTag = tg => expr(s"s_$tg div c_$tg")) // floor-mean, exact

  /** [[attentionRoundsFixed]] over the FLAT layout: per round ONE join +
    * ONE per-tag fused groupBy carrying both Σh² and Σh per edge type —
    * the linear-attention message `(Σh²) div (Σh)` and the cross-type
    * combine in a single aggregation exchange. Integer arithmetic ⇒
    * bit-identical to the per-type loop (LearnSpec asserts it); requires
    * the [[degreeInitFixed]] contract `h > 0`, so a type is present at a
    * destination iff its Σh > 0. Memoised alongside the mean variant
    * (the algorithm tag keeps the keys distinct). */
  def attentionRoundsFixedFlat(
      g: HeteroGraph,
      init: Map[String, DataFrame], // per type: (id: bigint, h: bigint)
      rounds: Int): Map[String, DataFrame] =
    runFlatFixed(g, init, rounds, "attention",
      aggsPerTag = tg => Seq(
        sum(when(col("tag") === tg, col("h") * col("h"))).as(s"q_$tg"),
        sum(when(col("tag") === tg, col("h"))).as(s"s_$tg")),
      present = tg => col(s"s_$tg").isNotNull && col(s"s_$tg") > 0,
      msgPerTag = tg => expr(s"q_$tg div s_$tg")) // salience-weighted

  /** Shared flat fixed-point round loop: per-type message and cross-type
    * combine fused into one per-tag groupBy(dst) — one aggregation
    * exchange per round instead of two (same shape as
    * meanRoundsFlatScalar, see its scaladoc). Integer arithmetic, so the
    * fusion is bit-identical to the two-level per-type form for any
    * partitioning. Prep frames materialise concurrently. */
  private def runFlatFixed(
      g: HeteroGraph,
      init: Map[String, DataFrame],
      rounds: Int,
      algo: String,
      aggsPerTag: Int => Seq[Column],
      present: Int => Column,
      msgPerTag: Int => Column): Map[String, DataFrame] =
    graft.functions.Memos.getOrElseUpdate(
      init.head._2.sparkSession, fixedMemoKey(g, init, rounds, algo)) {
      val types = init.keys.toSeq.sorted
      val sizes = flatSizes(g, types)
      val sizeOf = sizes.toMap
      val offsets = sizes.scanLeft(("", 0L)) {
        case ((_, acc), (t, n)) => (t, acc + n)
      }.sliding(2).map { case Seq((_, off), (t, _)) => t -> off }.toMap
      val p = numShufflePartitions(g)
      val tagged = g.edges.toSeq
        .filter { case (k, _) => offsets.contains(k.src) && offsets.contains(k.dst) }
        .sortBy(_._1.name)
        .zipWithIndex
      val nTags = tagged.size
      val Seq(flatEdgesCk, h0) = concurrently(Seq(
        () => tagged.map { case ((k, df), tag) =>
            df.select(
              (col("src") + offsets(k.src)).as("src"),
              (col("dst") + offsets(k.dst)).as("dst"),
              lit(tag).as("tag"))
          }
          .reduce(_ unionByName _)
          .coalesce(p).localCheckpoint(),
        () => types.map { t =>
            init(t).select((col("id") + offsets(t)).as("gid"), col("h"))
          }.reduce(_ unionByName _)
          .coalesce(p).localCheckpoint()))
      var h: DataFrame = h0
      for (r <- 1 to rounds) {
        val aggs = (0 until nTags).flatMap(aggsPerTag)
        val msgSum = (0 until nTags).map(tg =>
          when(present(tg), msgPerTag(tg)).otherwise(lit(0L))).reduce(_ + _)
        val nTypes = (0 until nTags).map(tg =>
          when(present(tg), lit(1L)).otherwise(lit(0L))).reduce(_ + _)
        val msgs = flatEdgesCk
          .join(h.select(col("gid").as("src"), col("h")), Seq("src"))
          .groupBy(col("dst").as("gid"))
          .agg(aggs.head, aggs.tail: _*)
          .select(col("gid"), msgSum.as("msg_sum"), nTypes.as("n_types"))
        val next = h.join(msgs, Seq("gid"), "left")
          .select(col("gid"),
            when(col("msg_sum").isNull, col("h"))
              .otherwise(expr("(h + msg_sum) div (1 + n_types)"))
              .as("h"))
        h = if (r < rounds) next.localCheckpoint() else next
      }
      types.map { t =>
        val lo = offsets(t)
        val hi = lo + sizeOf(t)
        t -> h.filter(col("gid") >= lo && col("gid") < hi)
          .select((col("gid") - lo).as("id"), col("h"))
      }.toMap
    }

  /** Scaled-long degree init for [[meanRoundsFixed]]: `h = degree × scale`
    * where degree is the last feature after [[HeteroGraph.addDegree]].
    * Degrees are integers well below 2^24, so the float→long cast is
    * exact. */
  def degreeInitFixed(g: HeteroGraph, scale: Long = 1000000L): Map[String, DataFrame] =
    g.nodes.map { case (t, df) =>
      t -> df.select(col("id"),
        (element_at(col("features"), -1).cast("long") * scale).as("h"))
    }

  /** STRUCTURAL twin of `addDegree` + [[degreeInitFixed]] for a graph
    * whose degree feature was (or would be) computed over its OWN edge
    * set: `h = (1 + incident endpoint count over ALL of g's edge types)
    * × scale` — exactly the value `element_at(features, -1)` holds after
    * `g.addDegree`, but computed as one endpoint-count aggregation per
    * type instead of dragging the whole node FEATURE lineage (numeric
    * projection, one-hot, the degree join) into the propagation plan.
    * Integer counts ⇒ bit-identical to the feature path, so hash-exact
    * oracles are unaffected. With a builder size hint the id column is
    * synthesized via `spark.range` and no node table is read at all. */
  def degreeInitFixedStructural(
      g: HeteroGraph, scale: Long = 1000000L)(
      implicit spark: SparkSession): Map[String, DataFrame] = {
    val parts = g.edges.toSeq // ALL edge types — matches addDegree-on-g
    g.nodes.map { case (t, nodeDf) =>
      val ends = parts.flatMap { case (k, df) =>
        (if (k.src == t) Seq(df.select(col("src").as("id"))) else Nil) ++
          (if (k.dst == t) Seq(df.select(col("dst").as("id"))) else Nil)
      }
      val ids = g.sizeHints.get(t) match {
        case Some(n) => spark.range(n).select(col("id"))
        case None    => nodeDf.select(col("id"))
      }
      val init = ends match {
        case Nil => ids.select(col("id"), lit(scale).as("h"))
        case dfs =>
          val cnt = dfs.reduce(_ unionByName _)
            .groupBy("id").agg(count(lit(1)).as("d"))
          ids.join(cnt, Seq("id"), "left")
            .select(col("id"),
              ((coalesce(col("d"), lit(0L)) + 1L) * scale).as("h"))
      }
      t -> init
    }
  }

  /** Attention-weighted rounds — the frozen-parameter analogue of the
    * reference's GATv2 layer (`model.py:92-94`): per edge type, edge
    * (u,v) gets weight `α(u,v) = softmax_v(leaky_relu(dot(h_u, h_v)))`
    * over v's incident edges of that type, messages are `α·h_u`, per-type
    * sums combine across types (`to_hetero(aggr='sum')`) and average with
    * the self embedding like [[meanRounds]].
    *
    * The softmax runs as TWO window passes over ONE `dst`-keyed exchange:
    * `max(s) over (partition by dst)`, then `sum(exp(s−max)) over (same)`,
    * then the weighted message aggregation reuses that partitioning — so
    * the whole per-type round is a single shuffle, versus the classic
    * three-step groupBy→join→groupBy pattern's three (and its lineage
    * barrier: the scored frame here is consumed exactly once, so no eager
    * checkpoint). Numeric stability via the per-dst max subtraction;
    * determinism caveat: exp sums are float-order dependent, so attention
    * outputs are for scoring, not for hash-exact oracles (SURVEY.md §7.4
    * hard part 2) — [[attentionRoundsFixed]] is the oracle-grade witness.
    *
    * Scale notes: the window sorts within partitions where the agg pattern
    * hashed — for very hot destinations the sort is O(d log d) per key vs
    * O(d), bought back by two fewer shuffles of the full edge frame.
    */
  def attentionRounds(
      g: HeteroGraph,
      init: Map[String, DataFrame],
      rounds: Int,
      dim: Int = 1,
      leakySlope: Double = 0.2,
      checkpoint: Boolean = true): Map[String, DataFrame] = {
    var h = init
    for (r <- 1 to rounds) {
      val perType: Seq[(String, DataFrame)] = g.edges.toSeq.collect {
        case (k, edges) if h.contains(k.src) && h.contains(k.dst) =>
          val src = h(k.src).select(col("id").as("src"), col("vec").as("src_vec"))
          val dst = h(k.dst).select(col("id").as("dst"), col("vec").as("dst_vec"))
          val byDstW = org.apache.spark.sql.expressions.Window.partitionBy("dst")
          val agg = edges.join(src, Seq("src")).join(dst, Seq("dst"))
            .withColumn("s", {
              val d = ArrayOps.dot(col("src_vec"), col("dst_vec"))
              when(d > 0, d).otherwise(d * leakySlope) // leaky_relu
            })
            .withColumn("e", exp(col("s") - max(col("s")).over(byDstW)))
            .withColumn("w", col("e") / sum(col("e")).over(byDstW))
            .withColumn("msg_part", ArrayOps.vecScale(col("src_vec"), col("w")))
            .groupBy(col("dst").as("id"))
            .agg(sumVec("msg_part", dim, "m").head, sumVec("msg_part", dim, "m").tail: _*)
            .select(col("id"), assembled("m", dim).as("msg"))
          k.dst -> agg
      }
      val byDst = perType.groupBy(_._1)
      h = h.map { case (t, cur) =>
        val updated = byDst.get(t) match {
          case None => cur
          case Some(parts) =>
            val msgs = parts.map(_._2).reduce(_ unionByName _)
              .groupBy("id")
              .agg(sumVec("msg", dim, "m").head,
                   sumVec("msg", dim, "m").tail :+ count(lit(1)).as("n_types"): _*)
              .select(col("id"), assembled("m", dim).as("msg_sum"), col("n_types"))
            cur.join(msgs, Seq("id"), "left")
              .select(col("id"),
                when(col("msg_sum").isNull, col("vec"))
                  // fused codegen combine — zip_with lambdas are interpreted
                  .otherwise(ArrayOps.combineMean(
                    col("vec"), col("msg_sum"), col("n_types")))
                  .as("vec"))
        }
        t -> updated
      }
      // Barrier policy (same as meanRoundsFixed): never checkpoint the
      // final round — callers consume each returned frame once, so eager
      // materialisation of every type is pure cost; round 1 barriers all
      // types (truncating graph-build lineage behind pass-through message
      // sources), later middle rounds only types that received messages.
      if (checkpoint && r < rounds) {
        if (r == 1) h = barrier(h)
        else {
          val (upd, same) = h.partition { case (t, _) => byDst.contains(t) }
          h = barrier(upd) ++ same
        }
      }
    }
    h
  }

  /** Degree-only initial embeddings: `vec = [last feature]`, which after
    * [[HeteroGraph.addDegree]] is the degree feature — the §7.2 frozen
    * scorer's starting point. Dimension 1 for every type, so hetero types
    * with different raw feature widths propagate together. */
  def degreeInit(g: HeteroGraph): Map[String, DataFrame] =
    g.nodes.map { case (t, df) =>
      t -> df.select(col("id"),
        expr("array(cast(element_at(features, -1) as double))").as("vec"))
    }

  /** [[degreeInit]] computed STRUCTURALLY: `h = 1 + incident endpoint
    * count over the ORIGINAL (non-`REVERSE_*`, non-`SELF_LOOP`) edge
    * types` — numerically identical to `degreeInit` after the canonical
    * `addDegree.withReverseEdges.withSelfLoops` build order (degrees are
    * integers < 2²⁴, so the float feature round-trip is exact), but
    * without touching the node tables' FEATURE lineage at all: reading
    * `element_at(features, -1)` drags the whole feature pipeline (numeric
    * projection, one-hot, the degree join itself) into the init plan,
    * where this needs one endpoint-count aggregation per type — and when
    * the builder's dense probe left a size hint, the id column is
    * synthesized with `spark.range` (dense ids are 0..n−1 by
    * construction), so init reads no node table whatsoever. */
  def degreeInitStructural(
      g: HeteroGraph, types: Set[String])(
      implicit spark: SparkSession): Map[String, DataFrame] = {
    val orig = g.edges.toSeq.collect {
      case (k, df) if !k.rel.startsWith("REVERSE_") && k.rel != "SELF_LOOP" =>
        (k, df)
    }
    types.map { t =>
      val ends = orig.flatMap { case (k, df) =>
        (if (k.src == t) Seq(df.select(col("src").as("id"))) else Nil) ++
          (if (k.dst == t) Seq(df.select(col("dst").as("id"))) else Nil)
      }
      val ids = g.sizeHints.get(t) match {
        case Some(n) => spark.range(n).select(col("id"))
        case None    => g.nodes(t).select(col("id"))
      }
      val init = ends match {
        case Nil => ids.select(col("id"), array(lit(1.0)).as("vec"))
        case dfs =>
          val cnt = dfs.reduce(_ unionByName _)
            .groupBy("id").agg(count(lit(1)).as("d"))
          ids.join(cnt, Seq("id"), "left")
            .select(col("id"),
              array((coalesce(col("d"), lit(0L)) + 1L).cast("double")).as("vec"))
      }
      t -> init
    }.toMap
  }

  /** Double-vec twin of [[degreeInitFixedStructural]] for the double
    * propagation paths: `vec = [1 + incident endpoint count over ALL of
    * g's edge types]` — identical values to `g.addDegree` +
    * [[degreeInit]] (counts are integers, exact in double), without the
    * node-feature lineage. */
  def degreeInitStructuralAll(g: HeteroGraph)(
      implicit spark: SparkSession): Map[String, DataFrame] =
    degreeInitFixedStructural(g, scale = 1L).map { case (t, df) =>
      t -> df.select(col("id"), array(col("h").cast("double")).as("vec"))
    }

  /** Full-width initial embeddings: the node feature vector as double —
    * what the trainable head (§7.4.1) propagates. Only meaningful per
    * type (widths differ across types); restrict the round loop to the
    * types you pass in. */
  def featureInit(g: HeteroGraph, types: Seq[String]): Map[String, DataFrame] =
    types.map { t =>
      t -> g.nodes(t).select(col("id"),
        // plain Cast, not a transform lambda — stays in codegen
        col("features").cast("array<double>").as("vec"))
    }.toMap
}
