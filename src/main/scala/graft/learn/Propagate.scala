package graft.learn

import graft.functions.{ArrayOps, Memos}
import graft.graph.HeteroGraph
import graft.topology.EdgeKey
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
  * Two layouts run this recurrence, each with ONE round loop:
  *  - PER-TYPE (`perTypeRounds`: [[meanRounds]], [[attentionRounds]],
  *    [[meanRoundsFixed]], [[attentionRoundsFixed]]): per round one join +
  *    one partial-aggregated groupBy per edge type, then one union +
  *    groupBy + combine join per node type. No barrier between rounds:
  *    callers that run several rounds either read bucketed scans through
  *    exchange-free joins (q55) or pin each layer themselves
  *    ([[meanLayers]], one round per call).
  *  - FLAT (`flatPrep`: [[meanRoundsFlatDegree]], [[meanRoundsFixedFlat]]):
  *    node types offset into one global id space, all edge types in one
  *    tagged frame, per round one join + ONE fused per-tag aggregation +
  *    one combine join, behind a `localCheckpoint` per round (the fixed
  *    twin skips it on the last round).
  * Which layout a caller uses is a static choice with a measured reason
  * (the caller's comment in `SparkEntry`, `TrainLR` or `Recommend`).
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

  /** Run independent eager materialisations CONCURRENTLY: under AQE,
    * `localCheckpoint` executes its query stages at call time, so
    * checkpointing frames one by one serialises otherwise independent
    * jobs. Submitting from parallel threads lets the scheduler overlap
    * them across cores. (cache() is no better serial-wise: AQE cannot
    * re-optimise inside InMemoryRelation and round plans nest.) */
  private def concurrently[A](thunks: Seq[() => A]): Seq[A] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    thunks.map(t => Future(t())).map(f => Await.result(f, Duration.Inf))
  }

  /** Materialise per-type frames behind [[concurrently]] lineage barriers.
    *
    * Checkpoints are EAGER: with `eager = false` the final checkpoint job
    * is deferred until the first downstream action, by which time the
    * originating SQLExecution (and its SQL-metric accumulators) may be
    * gone — task completions then hit dead accumulators and the
    * DAGScheduler logs `updateAccumulators` errors on every bench run.
    * Since AQE executes all query stages at call time even for
    * `eager = false`, eagerness only moves the cheap final job, and it
    * runs while the execution context is still alive. */
  private def barrier(h: Map[String, DataFrame]): Map[String, DataFrame] =
    concurrently(h.toSeq.map { case (t, df) =>
      () => t -> df.localCheckpoint(eager = true)
    }).toMap

  /** Phase timing into [[graft.functions.Phases]] (Bench phase splits;
    * stderr when SPARK_GRAFT_TRAIN_PHASES is set). */
  private def phase[A](name: String)(f: => A): A =
    graft.functions.Phases.time(s"propagate $name")(f)

  /** The per-type round loop. Per round: `message(k, edges, h)` gives edge
    * type `k`'s `(id, msg)` per destination; the messages of one
    * destination type are unioned and summed by `id` (`sums`, plus
    * `n_types` = the number of edge types that delivered), `msgSum`
    * names the sum `msg_sum`, and `combine` (over the `value` column,
    * `msg_sum` and `n_types`) updates every node that got a message
    * through a left join. Types with no incoming edge type pass through. */
  private def perTypeRounds(
      g: HeteroGraph,
      init: Map[String, DataFrame],
      rounds: Int,
      value: String,
      message: (EdgeKey, DataFrame, Map[String, DataFrame]) => DataFrame,
      sums: Seq[Column],
      msgSum: Column,
      combine: Column): Map[String, DataFrame] = {
    var h = init
    for (_ <- 1 to rounds) {
      val byDst = g.edges.toSeq.collect {
        case (k, edges) if h.contains(k.src) && h.contains(k.dst) =>
          k.dst -> message(k, edges, h)
      }.groupBy(_._1)
      h = h.map { case (t, cur) =>
        t -> byDst.get(t).fold(cur) { parts =>
          val msgs = parts.map(_._2).reduce(_ unionByName _)
            .groupBy("id")
            .agg(sums.head, sums.tail :+ count(lit(1)).as("n_types"): _*)
            .select(col("id"), msgSum, col("n_types"))
          cur.join(msgs, Seq("id"), "left")
            .select(col("id"),
              when(col("msg_sum").isNull, col(value)).otherwise(combine).as(value))
        }
      }
    }
    h
  }

  /** `perTypeRounds` over the width-`dim` double channel `vec`. */
  private def vecRounds(
      g: HeteroGraph,
      init: Map[String, DataFrame],
      rounds: Int,
      dim: Int,
      message: (EdgeKey, DataFrame, Map[String, DataFrame]) => DataFrame
  ): Map[String, DataFrame] =
    perTypeRounds(g, init, rounds, "vec", message,
      sums = sumVec("msg", dim, "m"),
      msgSum = assembled("m", dim).as("msg_sum"),
      // fused codegen combine — zip_with lambdas are interpreted
      combine = ArrayOps.combineMean(col("vec"), col("msg_sum"), col("n_types")))

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
      dim: Int = 1): Map[String, DataFrame] =
    vecRounds(g, init, rounds, dim, (k, edges, h) => {
      // per edge type: mean of source embeddings per destination
      val s = sumVec("vec", dim, "s")
      edges.join(h(k.src).select(col("id").as("src"), col("vec")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(s.head, s.tail :+ count(lit(1)).as("n"): _*)
        .select(col("id"), assembledDiv("s", dim, col("n")).as("msg"))
    })

  /** Every layer h₀…h_rounds of [[meanRounds]], one round at a time, each
    * behind an eager concurrent [[barrier]] — the memoisable base that
    * serving reads instead of re-propagating (`graft.serve.Recommend`).
    * The last layer keeps only `lastTypes`; a round re-barriers only the
    * types that received messages (the rest are the previous layer's
    * frames). */
  def meanLayers(
      g: HeteroGraph,
      init: Map[String, DataFrame],
      rounds: Int,
      lastTypes: Set[String]): IndexedSeq[Map[String, DataFrame]] = {
    def pin(prev: Map[String, DataFrame], h: Map[String, DataFrame], last: Boolean) = {
      val kept = if (last) h.filter { case (t, _) => lastTypes(t) } else h
      val (same, upd) = kept.partition { case (t, df) => prev.get(t).exists(_ eq df) }
      barrier(upd) ++ same
    }
    (1 to rounds).scanLeft(pin(Map.empty, init, rounds == 0)) { (prev, r) =>
      pin(prev, meanRounds(g, prev, 1), r == rounds)
    }
  }

  /** The session's configured shuffle parallelism — the target partition
    * count for flat-layout frames (unions must not multiply it). */
  private def numShufflePartitions(g: HeteroGraph): Int =
    g.nodes.headOption.orElse(g.edges.headOption.map { case (k, d) => (k.src, d) })
      .map(_._2.sparkSession.sessionState.conf.numShufflePartitions)
      .getOrElse(32)

  /** A graph in the flat layout: `types` offset into one global Long id
    * space, every edge type between them in ONE frame `(src, dst, tag)`,
    * and the initial `(gid, h)` frame. */
  private final case class Flat(
      types: Seq[String],
      offsets: Map[String, Long],
      sizeOf: Map[String, Long],
      nTags: Int,
      edges: DataFrame,
      h0: DataFrame) {

    /** Per-tag Σh `s_i` and count `c_i` — the per-type means and the
      * cross-type combine fused into ONE `groupBy(dst)` (tags are
      * plan-time constants). */
    def tagAggs: Seq[Column] = (0 until nTags).flatMap { tg => Seq(
      sum(when(col("tag") === tg, col("h"))).as(s"s_$tg"),
      count(when(col("tag") === tg, lit(1))).as(s"c_$tg")) }

    /** Σ over the tags present at a destination of `mean(tag)`. */
    def msgSum(mean: Int => Column, zero: Column): Column =
      (0 until nTags).map(tg =>
        when(col(s"c_$tg") > 0, mean(tg)).otherwise(zero)).reduce(_ + _)

    /** The number of tags present at a destination. */
    def nTypes: Column =
      (0 until nTags).map(tg =>
        when(col(s"c_$tg") > 0, lit(1L)).otherwise(lit(0L))).reduce(_ + _)

    /** Split a flat `(gid, h)` frame back into per-type `(id, out)`. */
    def unflatten(h: DataFrame, out: Column): Map[String, DataFrame] =
      types.map { t =>
        val lo = offsets(t)
        val hi = lo + sizeOf(t)
        t -> h.filter(col("gid") >= lo && col("gid") < hi)
          .select((col("gid") - lo).as("id"), out)
      }.toMap
  }

  /** Lay `types` of `g` out flat. Id-space sizes come from
    * [[HeteroGraph.sizeHints]] when known (zero jobs); missing types fall
    * back to one max(id) aggregation each, run concurrently. `mkInit`
    * receives the offsets and the total id-space size and returns the
    * flat `(gid, h)` init. The edge frame and the init are independent
    * and materialise concurrently; both `coalesce` first, because a
    * T-type union multiplies the partition count by T and at fixture
    * scale each task costs a fixed ~30-100 ms regardless of rows — every
    * round re-scans these frames. (`localCheckpoint` does NOT preserve
    * hash partitioning under AQE, so repartitioning on the join key here
    * would be a wasted full exchange.) */
  private def flatPrep(
      g: HeteroGraph,
      types: Seq[String],
      mkInit: (Map[String, Long], Long) => DataFrame): Flat = {
    val sizes = concurrently(types.map(t => () => t -> g.idSpaceSize(t)))
    val offsets = sizes.scanLeft(("", 0L)) {
      case ((_, acc), (t, n)) => (t, acc + n)
    }.sliding(2).map { case Seq((_, off), (t, _)) => t -> off }.toMap
    val p = numShufflePartitions(g)
    val tagged = g.edges.toSeq
      .filter { case (k, _) => offsets.contains(k.src) && offsets.contains(k.dst) }
      .sortBy(_._1.name)
      .zipWithIndex
    val Seq(edges, h0) = concurrently(Seq(
      () => tagged.map { case ((k, df), tag) =>
          df.select(
            (col("src") + offsets(k.src)).as("src"),
            (col("dst") + offsets(k.dst)).as("dst"),
            lit(tag).as("tag"))
        }
        .reduce(_ unionByName _)
        .coalesce(p).localCheckpoint(),
      () => mkInit(offsets, sizes.map(_._2).sum)
        .coalesce(p).localCheckpoint()))
    Flat(types, offsets, sizes.toMap, tagged.size, edges, h0)
  }

  /** [[meanRounds]] at width 1 over the FLAT layout, with the structural
    * degree init built in the global id space: `h = 1 + incident endpoint
    * count over the ORIGINAL (non-`REVERSE_*`, non-`SELF_LOOP`) edge
    * types of `degreesFrom` — the value [[degreeInit]] reads after the
    * canonical `addDegree.withReverseEdges.withSelfLoops` build order
    * (degrees are integers < 2²⁴, so the float feature round-trip is
    * exact) — as one endpoint-count aggregation plus one left join against
    * `spark.range(totalIds)` (dense ids are 0..n−1 by construction), with
    * no node-feature lineage in the plan. This is the training hot path.
    *
    * The channel is a bare `double` column, so the per-round mean/combine
    * arithmetic is native SUM/COUNT/division inside whole-stage codegen —
    * no interpreted array lambdas. ONE aggregation exchange per round: the
    * per-type mean and the cross-type combine fuse into a single
    * `groupBy(dst)` as per-tag conditional sums (`Flat.tagAggs`), where
    * the per-type loop pays 2·|edge types| shuffles. The round's joins
    * still exchange their inputs each round (see `flatPrep`); exchange-
    * free rounds on the |E| side are available only over a PERSISTED
    * bucketed graph ([[HeteroGraph.saveBucketed]]). Float sums run in
    * another order than the per-type loop's, so values agree to rounding.
    *
    * @param finalTargets when non-empty, the LAST round only updates these
    *   node types (messages into other types are skipped — their returned
    *   embeddings keep the previous round's value). Sound whenever the
    *   caller only reads the target types: round-(r−1) values of all
    *   neighbors are already computed. The training path reads exactly
    *   {src, dst} of the supervision edge type, so it skips the final-round
    *   message work for every other type.
    */
  def meanRoundsFlatDegree(
      msgGraph: HeteroGraph,
      degreesFrom: HeteroGraph,
      types: Set[String],
      rounds: Int,
      finalTargets: Set[String])(
      implicit spark: SparkSession): Map[String, DataFrame] = {
    val sorted = types.toSeq.sorted
    val f = phase("scalar prep")(flatPrep(msgGraph, sorted, (offsets, total) => {
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
    }))
    var h: DataFrame = f.h0
    for (r <- 1 to rounds) phase(s"scalar round $r") {
      val edges =
        if (r == rounds && finalTargets.nonEmpty) {
          val ranges = sorted.filter(finalTargets).map(t =>
            (f.offsets(t), f.offsets(t) + f.sizeOf(t)))
          require(ranges.nonEmpty, s"finalTargets $finalTargets not in $sorted")
          f.edges.filter(ranges.map { case (lo, hi) =>
            col("dst") >= lo && col("dst") < hi }.reduce(_ || _))
        } else f.edges
      val aggs = f.tagAggs
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
        .select(col("gid"),
          f.msgSum(tg => col(s"s_$tg") / col(s"c_$tg"), lit(0.0)).as("msg_sum"),
          f.nTypes.as("n_types"))
      h = h.join(msgs.hint("shuffle_hash"), Seq("gid"), "left")
        .select(col("gid"),
          when(col("msg_sum").isNull, col("h"))
            .otherwise((col("h") + col("msg_sum")) / (lit(1) + col("n_types")))
            .as("h"))
        .localCheckpoint() // eager — see barrier scaladoc
    }
    f.unflatten(h, array(col("h")).as("vec"))
  }

  /** Memoised per (canonical edge plans, canonical init plans, rounds,
    * algorithm and layout): the fixed-point recurrence is a deterministic
    * pure function of its integer inputs, and source data is immutable for
    * a session (same contract as the dense-PK probe and shingle-prep
    * memos) — so two queries propagating the same graph in the same layout
    * (e.g. the propagation oracle and trained-head serving) share one set
    * of round barriers instead of re-running the rounds. */
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

  /** `perTypeRounds` over the scaled-long channel `h` with per-edge-type
    * message `msg` (an aggregate over the joined source `h`), memoised
    * under `algo`. The init frames are barriered before the loop: the init
    * plans (degree agg over every edge type's endpoints + the id
    * left-join) are the most-reused subplan in the unrolled round DAG —
    * round 1 consumes h₀(t) once per edge type with src = t PLUS once as
    * the self term, and round r's lazy plan multiplies that again;
    * ReuseExchange cannot help because the bucketed-scan joins have no
    * exchange to reuse. Materialising the ≤|V|-row init frames once
    * removes every replay: measured on q55's bucketed graph at sf0.1
    * (BKT_AB_r8.md), 2-round propagate task time 80–157 s → 55–68 s and
    * wall 4.1–9.3 s → 3.8–4.3 s including the barrier itself; round-1
    * checkpointing on top adds jobs for no gain. */
  private def fixedRounds(
      g: HeteroGraph,
      init: Map[String, DataFrame],
      rounds: Int,
      algo: String,
      msg: Column): Map[String, DataFrame] =
    Memos.getOrElseUpdate(init.head._2.sparkSession, fixedMemoKey(g, init, rounds, algo))(
      perTypeRounds(g, barrier(init), rounds, "h",
        (k, edges, h) => edges.join(h(k.src).select(col("id").as("src"), col("h")), Seq("src"))
          .groupBy(col("dst").as("id"))
          .agg(msg.as("msg")),
        sums = Seq(sum("msg").as("msg_sum")),
        msgSum = col("msg_sum"),
        combine = expr("(h + msg_sum) div (1 + n_types)")))

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
  def meanRoundsFixed(
      g: HeteroGraph,
      init: Map[String, DataFrame], // per type: (id: bigint, h: bigint)
      rounds: Int): Map[String, DataFrame] =
    fixedRounds(g, init, rounds, "mean-pertype",
      expr("sum(h) div count(1)")) // floor-mean, exact

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
    * combine and init barrier are [[meanRoundsFixed]]'s.
    *
    * Scale shape per round and edge type: ONE shuffle join (edges ⨝ src
    * embeddings) + one partial-aggregated groupBy carrying both Σh² and
    * Σh — cheaper than the softmax pattern's two aggregations, because
    * linear weights need no per-destination max/exp pass. */
  def attentionRoundsFixed(
      g: HeteroGraph,
      init: Map[String, DataFrame], // per type: (id: bigint, h: bigint)
      rounds: Int): Map[String, DataFrame] =
    fixedRounds(g, init, rounds, "attention-pertype",
      expr("sum(h * h) div sum(h)")) // salience-weighted

  /** [[meanRoundsFixed]] over the FLAT layout (`flatPrep`): per round one
    * join + ONE fused per-tag aggregation + one combine, instead of per
    * edge type. Because the arithmetic is integer (exact,
    * order-independent), the flat layout produces BIT-IDENTICAL results to
    * the per-type loop — asserted in LearnSpec — so callers pick the
    * layout purely on plan shape. Memoised under its own key: the
    * per-type [[meanRoundsFixed]] never shares an entry with it. Every
    * round but the last sits behind a `localCheckpoint`, so a
    * multi-consumer read replays only the last round. */
  def meanRoundsFixedFlat(
      g: HeteroGraph,
      init: Map[String, DataFrame], // per type: (id: bigint, h: bigint)
      rounds: Int): Map[String, DataFrame] =
    Memos.getOrElseUpdate(init.head._2.sparkSession, fixedMemoKey(g, init, rounds, "mean")) {
      val types = init.keys.toSeq.sorted
      val f = flatPrep(g, types, (offsets, _) =>
        types.map { t =>
          init(t).select((col("id") + offsets(t)).as("gid"), col("h"))
        }.reduce(_ unionByName _))
      var h: DataFrame = f.h0
      for (r <- 1 to rounds) {
        val aggs = f.tagAggs
        val msgs = f.edges
          .join(h.select(col("gid").as("src"), col("h")), Seq("src"))
          .groupBy(col("dst").as("gid"))
          .agg(aggs.head, aggs.tail: _*)
          .select(col("gid"),
            f.msgSum(tg => expr(s"s_$tg div c_$tg"), lit(0L)).as("msg_sum"), // floor-mean
            f.nTypes.as("n_types"))
        val next = h.join(msgs, Seq("gid"), "left")
          .select(col("gid"),
            when(col("msg_sum").isNull, col("h"))
              .otherwise(expr("(h + msg_sum) div (1 + n_types)"))
              .as("h"))
        h = if (r < rounds) next.localCheckpoint() else next
      }
      f.unflatten(h, col("h"))
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

  /** The negative-side slope of [[attentionRounds]]' `leaky_relu` — GATv2's
    * default. */
  private val LeakySlope = 0.2

  /** Attention-weighted rounds at width 1 — the frozen-parameter analogue
    * of the reference's GATv2 layer (`model.py:92-94`): per edge type,
    * edge (u,v) gets weight `α(u,v) = softmax_v(leaky_relu(dot(h_u, h_v)))`
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
      rounds: Int): Map[String, DataFrame] =
    vecRounds(g, init, rounds, 1, (k, edges, h) => {
      val src = h(k.src).select(col("id").as("src"), col("vec").as("src_vec"))
      val dst = h(k.dst).select(col("id").as("dst"), col("vec").as("dst_vec"))
      val byDstW = org.apache.spark.sql.expressions.Window.partitionBy("dst")
      edges.join(src, Seq("src")).join(dst, Seq("dst"))
        .withColumn("s", {
          val d = ArrayOps.dot(col("src_vec"), col("dst_vec"))
          when(d > 0, d).otherwise(d * LeakySlope) // leaky_relu
        })
        .withColumn("e", exp(col("s") - max(col("s")).over(byDstW)))
        .withColumn("w", col("e") / sum(col("e")).over(byDstW))
        .withColumn("msg_part", ArrayOps.vecScale(col("src_vec"), col("w")))
        .groupBy(col("dst").as("id"))
        .agg(sumVec("msg_part", 1, "m").head)
        .select(col("id"), assembled("m", 1).as("msg"))
    })

  /** Degree-only initial embeddings: `vec = [last feature]`, which after
    * [[HeteroGraph.addDegree]] is the degree feature — the §7.2 frozen
    * scorer's starting point. Dimension 1 for every type, so hetero types
    * with different raw feature widths propagate together. */
  def degreeInit(g: HeteroGraph): Map[String, DataFrame] =
    g.nodes.map { case (t, df) =>
      t -> df.select(col("id"),
        expr("array(cast(element_at(features, -1) as double))").as("vec"))
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
}
