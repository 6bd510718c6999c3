package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Whole-graph analytics over plain edge lists — the graph-measure tier
  * that sits beside the learning pipeline (degree features, propagation)
  * and serves corpus curation: rank-weighted sampling of a citation/link
  * graph, connectivity summaries of the dedup graph, hub detection on
  * the entity graph (reference: rel_db_to_graph builds exactly these
  * FK-derived graphs, convert_to_graph.py:1-120; it computes degrees
  * only — rank and triangles are the "beyond the reference" analytics a
  * 100 TB curation pipeline asks of the same structure).
  *
  * Everything here follows the graft determinism contract: scaled-integer
  * arithmetic only (no float accumulation), so every result is
  * bit-replayable by a second engine — [[graft.SparkEntry]] replays the
  * full recurrences in DuckDB (q73/q74) and the driver hash-compares. */
object Analytics {

  /** Canonical undirected simple edge list `(a < b, deduplicated)`.
    * `assume=true` skips the least/greatest + distinct pass (and its
    * exchange) for inputs the CALLER guarantees are already canonical
    * and cheap to rescan — e.g. a memoised, checkpointed frame shared
    * by several analytics over the same graph (q74/q76/q77/q78 share
    * one co-purchase edge list that way); the operators then add no
    * barrier of their own for it. */
  private def canonical(
      edges: DataFrame, srcCol: String, dstCol: String,
      assume: Boolean): DataFrame =
    if (assume)
      edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
    else
      edges.select(
          least(col(srcCol), col(dstCol)).cast("long").as("a"),
          greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
        .filter(col("a") =!= col("b")).distinct()

  /** Gated broadcast hint for the per-round |V|-scale state side of the
    * bounded-round family (ranks, labels, frontiers, Δ sets, survivor
    * sets). Every round joins the pinned |E| frame against a state
    * frame that is at most |V| rows — but checkpointed frames carry no
    * size statistics, so Catalyst plans a SortMergeJoin and every round
    * pays an |E|-side exchange for a join whose build side is tiny.
    * When the measured edge count (already materialised by the pin —
    * counting it is an O(cached partitions) job, and |V| ≤ 2|E| bounds
    * every state frame) is under `below`, the state side broadcasts and
    * the |E| frame never moves; past the gate the shuffle join stands —
    * the only choice at cluster-scale graphs. Disabled when
    * `checkpoint` is off so the lazy plan-audit path neither triggers
    * jobs nor hides the general shuffle shape. */
  private def stateHint(
      edgeCount: => Long, checkpoint: Boolean,
      below: Long): DataFrame => DataFrame =
    if (checkpoint && below > 0L && edgeCount <= below)
      (df: DataFrame) => broadcast(df)
    else identity[DataFrame] _

  /** Fixed-point PageRank: `iters` synchronous rounds of
    * `r'(v) = base + Σ_{u→v} (αN·r(u)) div (αD·outdeg(u))` over scaled
    * integers, `base = (αD−αN)·scale div αD`, `r0 = scale` — the classic
    * damped recurrence (Page et al. 1999) with the division floored per
    * edge so the sum is an exact integer in any engine and any order.
    * Dangling mass (nodes with no out-edges) is dropped, the standard
    * simplification; nodes with no in-edges settle at `base`.
    *
    * Input is a DIRECTED edge list; multi-edges contribute once each
    * (dedupe upstream if the graph is simple — q73 does). Returns
    * `(node_id, rank_fp)` for every node appearing as src or dst.
    *
    * `weightCol` generalises to WEIGHTED PageRank: contributions become
    * `(αN·r(u)·w) div (αD·W(u))` with `W(u) = Σ out-weights` — the
    * random surfer follows edges proportionally to weight (e.g. q83
    * runs it over the co-purchase graph weighted by q79's pair
    * support). Unweighted is the `w = 1` special case, bit-identical
    * to omitting the column.
    *
    * Overflow bound: a rank never exceeds the conserved total mass
    * `|V|·scale`, so `αN·r·wmax` needs `αN·|V|·scale·wmax < 2^63` — at
    * the default `scale=10^12` that holds to half a million nodes
    * unweighted; weighted callers size `scale` down by their max edge
    * weight (q83 uses 10^9). (Rank RESOLUTION is unaffected by |V|:
    * ranks sit near `scale`, so 10^6 still carries 6 significant
    * digits.)
    *
    * Scale shape: the edge frame joins its out-degree ONCE and is pinned
    * behind an eager `localCheckpoint` (coalesced to the session's
    * shuffle parallelism — see [[graft.learn.Propagate]]'s barrier
    * scaladoc for why repartitioning here would be a wasted exchange
    * under AQE). Each round is one |E|-side join + one `groupBy(dst)`
    * whose partial sum combines map-side, so the aggregation exchange
    * moves O(|V|·partitions) not O(|E|); the node frame re-joining each
    * round is |V|-scale. Exchange-free rounds on the |E| side need a
    * persisted bucketed layout, exactly as propagation does
    * ([[HeteroGraph.saveBucketed]]).
    *
    * `checkpoint=false` keeps every round lazy — plan audits only
    * (PlanDump dumps the full round lineage that the checkpoints
    * otherwise execute); the default materialises each round, without
    * which round r's plan re-derives rounds 1..r−1. */
  def pageRankFixed(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      iters: Int = 3,
      scale: Long = 1000000000000L,
      alphaNum: Long = 17L,
      alphaDen: Long = 20L,
      checkpoint: Boolean = true,
      weightCol: Option[String] = None,
      broadcastStateBelow: Long = 4000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(alphaDen > alphaNum && alphaNum > 0,
      s"need 0 < alphaNum < alphaDen: $alphaNum/$alphaDen")
    val parts = edges.sparkSession.sessionState.conf.numShufflePartitions
    def pin(df: DataFrame): DataFrame =
      if (checkpoint) df.coalesce(parts).localCheckpoint(eager = true) else df
    val e = edges.select(
      col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"),
      weightCol.map(c => col(c).cast("long")).getOrElse(lit(1L)).as("w"))
    val deg = e.groupBy("src").agg(sum(col("w")).as("deg"))
    val eDeg = pin(e.join(deg, Seq("src")))
    val nodes = pin(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct())
    val st = stateHint(eDeg.count(), checkpoint, broadcastStateBelow)
    val base = (alphaDen - alphaNum) * scale / alphaDen
    var r = nodes.select(col("id"), lit(scale).as("r"))
    for (_ <- 1 to iters) {
      val contrib = eDeg
        .join(st(r.select(col("id").as("src"), col("r"))), Seq("src"))
        .select(col("dst"),
          expr(s"${alphaNum}L * r * w div (${alphaDen}L * deg)").as("c"))
        .groupBy("dst").agg(sum("c").as("c"))
      r = pin(nodes
        .join(st(contrib.select(col("dst").as("id"), col("c"))),
          Seq("id"), "left")
        .select(col("id"), (lit(base) + coalesce(col("c"), lit(0L))).as("r")))
      // ^ per-round barrier truncates lineage (Propagate's barrier scaladoc)
    }
    r.select(col("id").as("node_id"), col("r").cast("long").as("rank_fp"))
  }

  /** PERSONALIZED PageRank over scaled integers — the random walk
    * restarts at a SEED SET instead of everywhere (topic-sensitive
    * PageRank, Haveliwala WWW 2002; the primitive behind graph
    * recommendation and PPR-based GNN neighbour selection à la PPRGo,
    * Bojchevski et al. KDD 2020): rank mass concentrates around the
    * seeds and decays with distance. Same exact-integer recurrence as
    * [[pageRankFixed]] — `r'(v) = seed(v)·base + Σ_{u→v} (αN·r(u)) div
    * (αD·deg(u))` with `r0 = seed·scale` — so a second engine replays
    * it bit-for-bit (q123).
    *
    * Scale shape: the seed set joins as a BROADCAST indicator; each
    * round's message join carries only rows with `r ≠ 0`, so the
    * frontier stays sparse near the seeds (at 3 rounds only the ≤3-hop
    * ball moves — the locality that makes PPR cheap at 100 TB where
    * global PageRank touches everything); per-round barrier truncates
    * lineage exactly like [[pageRankFixed]]. */
  def personalizedPageRankFixed(
      edges: DataFrame,
      seeds: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      seedCol: String = "id",
      iters: Int = 3,
      scale: Long = 1000000000000L,
      alphaNum: Long = 17L,
      alphaDen: Long = 20L,
      checkpoint: Boolean = true,
      broadcastStateBelow: Long = 4000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(alphaDen > alphaNum && alphaNum > 0,
      s"need 0 < alphaNum < alphaDen: $alphaNum/$alphaDen")
    val parts = edges.sparkSession.sessionState.conf.numShufflePartitions
    def pin(df: DataFrame): DataFrame =
      if (checkpoint) df.coalesce(parts).localCheckpoint(eager = true) else df
    val e = edges.select(
      col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val eDeg = pin(e.join(deg, Seq("src")))
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val sd = seeds.select(col(seedCol).cast("long").as("id")).distinct()
    val nodeSeed = pin(nodes
      .join(broadcast(sd.withColumn("__s", lit(1L))), Seq("id"), "left")
      .select(col("id"), coalesce(col("__s"), lit(0L)).as("seed")))
    val st = stateHint(eDeg.count(), checkpoint, broadcastStateBelow)
    val base = (alphaDen - alphaNum) * scale / alphaDen
    var r = nodeSeed.select(col("id"), (col("seed") * scale).as("r"))
    for (_ <- 1 to iters) {
      val contrib = eDeg
        .join(st(r.filter(col("r") =!= 0L)
          .select(col("id").as("src"), col("r"))), Seq("src"))
        .select(col("dst"),
          expr(s"${alphaNum}L * r div (${alphaDen}L * deg)").as("c"))
        .groupBy("dst").agg(sum("c").as("c"))
      r = pin(nodeSeed
        .join(st(contrib.select(col("dst").as("id"), col("c"))),
          Seq("id"), "left")
        .select(col("id"),
          (col("seed") * base + coalesce(col("c"), lit(0L))).as("r")))
    }
    r.select(col("id").as("node_id"), col("r").cast("long").as("rank_fp"))
  }

  /** Per-node triangle count and local clustering coefficient over an
    * undirected simple graph: `(node_id, deg, tri_cnt, cc_fp)` with
    * `cc_fp = (2·tri·ccScale) div (deg·(deg−1))` (0 when deg < 2) — all
    * exact integers, replayed by q74's DuckDB oracle.
    *
    * The count uses DEGREE orientation (Chiba–Nishizeki / the MapReduce
    * formulation of Suri & Vassilvitskii 2011): orient every edge from
    * its lower-(deg, id) endpoint to the higher, enumerate wedges from
    * each edge's shared TAIL, and close them against the oriented edge
    * list. Out-degrees under this orientation are bounded by
    * O(√|E|) (graph arboricity), so the wedge self-join is skew-robust:
    * a 10^6-degree hub generates wedges at its *oriented* out-degree,
    * not deg² — the property that makes the plan survive power-law
    * graphs at 100 TB. Every step is an equi-join on edge keys (wedge
    * closure joins on the (v,w) pair); the per-node count is one
    * explode + map-side-combined groupBy.
    *
    * Input edges may be in either/both directions with duplicates; they
    * are canonicalized (`least < greatest`, distinct, self-loops
    * dropped) up front. `ccScale` bound: needs `2·tri·ccScale < 2^63`,
    * i.e. per-node triangle counts below ~4.6·10^12 at the default 10^6. */
  /** Exact triangle LISTING: every closed triple `(u, v, w)` of the
    * undirected simple graph, via the degree orientation described at
    * [[triangleStats]] — itself a first-class operator (motif mining),
    * and the shared front half of [[triangleStats]] and [[edgeJaccard]]:
    * compute it once (memoise/checkpoint caller-side — q74/q78 share
    * one session-memoised frame) and pass it to both via their `tris`
    * parameter. Vertex order within a triple follows the (deg, id)
    * orientation rank, one row per triangle. */
  def triangles(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      assumeCanonical: Boolean = false,
      checkpoint: Boolean = true,
      broadcastEdgesBelow: Long = 4000000L): DataFrame = {
    val parts = edges.sparkSession.sessionState.conf.numShufflePartitions
    def pin(df: DataFrame): DataFrame =
      if (checkpoint) df.coalesce(parts).localCheckpoint(eager = true) else df
    val e0 =
      if (assumeCanonical) canonical(edges, srcCol, dstCol, assume = true)
      else pin(canonical(edges, srcCol, dstCol, assume = false))
    val deg = pin(e0.select(col("a").as("id"))
      .union(e0.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg")))
    // orient low-(deg,id) → high; a<b canonically, so deg ties keep (a,b)
    val lt = col("da") < col("db") || (col("da") === col("db"))
    // The wedge set is O(Σ outdeg²) — arboricity-bounded but still the
    // DOMINANT volume (at the fixture: 41M wedges from 1.2M edges). The
    // edge side is the SMALL side of both joins, so when it fits a
    // broadcast the wedges never shuffle at all: the wedge join and the
    // closure join both become map-side BroadcastHashJoins and the
    // whole enumeration is one streaming pass over the oriented frame
    // (measured 12.3 s → ~4 s at sf0.1). Past `broadcastEdgesBelow`
    // edges the joins fall back to the shuffle path — the only choice
    // when |E| itself is cluster-scale. Catalyst can't make this call:
    // the checkpointed frames carry no size statistics, so the hint is
    // gated on the measured edge count (an O(cached-partitions) count
    // on the memoised frame, only taken when `checkpoint` is on —
    // the lazy plan-audit path never triggers a job).
    val bcast = checkpoint && e0.count() <= broadcastEdgesBelow
    def small(df: DataFrame): DataFrame = if (bcast) broadcast(df) else df
    // PACKED-KEY enumeration (r7, TRI_AB_r7.md): when node ids fit
    // [0, 2^31) — measured on the pinned degree frame, one O(cached-
    // partitions) job, same gating contract as `bcast` — the (deg, id)
    // orientation rank packs into ONE long `ord = deg·S + id` (S =
    // maxId+1 ≤ 2^31, so ord < S² < 2^63: deg ≤ |V|−1 < S), and the
    // closure key packs as `pk = v·S + w`. The 41M-wedge stream then
    // carries 2 longs per row instead of 5, the orientation filter is
    // one long compare, and the closure probe hashes ONE long (Spark's
    // LongHashedRelation fast path) instead of a 2-column row — and
    // closes as a LEFT SEMI (oriented edges are unique on (v,w), so
    // semi ≡ inner and skips materialising build-side columns). Ids
    // outside the packable range (or the no-job audit path) take the
    // unpacked shape below — same joins, wider keys.
    val packS: Option[Long] = if (checkpoint) {
      val r = deg.agg(min(col("id")).as("lo"), max(col("id")).as("hi")).head()
      if (!r.isNullAt(0) && r.getLong(0) >= 0L && r.getLong(1) < (1L << 31))
        Some(r.getLong(1) + 1L)
      else None
    } else None
    packS match {
      case Some(sS) =>
        val oriented = pin(e0
          .join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
          .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b"))
          .select(
            when(lt, col("a")).otherwise(col("b")).as("u"),
            when(lt, col("db") * sS + col("b"))
              .otherwise(col("da") * sS + col("a")).as("ov")))
        val o2 = oriented.select(col("u"), col("ov").as("ow"))
        val closKeys = oriented
          .select((col("u") * sS + col("ov") % sS).as("pk"))
        oriented.join(small(o2), Seq("u"))
          .filter(col("ov") < col("ow"))
          .select(col("u"),
            ((col("ov") % sS) * sS + col("ow") % sS).as("pk"))
          .join(small(closKeys), Seq("pk"), "left_semi")
          .select(col("u"), expr(s"pk div ${sS}L").as("v"),
            (col("pk") % sS).as("w"))
      case None =>
        val oriented = pin(e0
          .join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
          .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b"))
          .select(
            when(lt, col("a")).otherwise(col("b")).as("u"),
            when(lt, col("b")).otherwise(col("a")).as("v"),
            when(lt, col("db")).otherwise(col("da")).as("dv")))
        val o2 = oriented
          .select(col("u"), col("v").as("w"), col("dv").as("dw"))
        oriented.join(small(o2), Seq("u"))
          .filter(col("dv") < col("dw") ||
            (col("dv") === col("dw") && col("v") < col("w")))
          .select(col("u"), col("v"), col("w"))
          .join(small(oriented.select(col("u").as("v"), col("v").as("w"))),
            Seq("v", "w"), "left_semi")
          .select(col("u"), col("v"), col("w"))
    }
  }

  def triangleStats(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      ccScale: Long = 1000000L,
      assumeCanonical: Boolean = false,
      tris: Option[DataFrame] = None): DataFrame = {
    val parts = edges.sparkSession.sessionState.conf.numShufflePartitions
    val e0 =
      if (assumeCanonical) canonical(edges, srcCol, dstCol, assume = true)
      else canonical(edges, srcCol, dstCol, assume = false)
        .coalesce(parts).localCheckpoint(eager = true)
    val deg = e0.select(col("a").as("id"))
      .union(e0.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val triFrame = tris.getOrElse(
      triangles(e0, "a", "b", assumeCanonical = true))
    val triCnt = triFrame
      .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("tri"))
    deg.join(triCnt, Seq("id"), "left")
      .select(col("id").as("node_id"), col("deg").cast("long").as("deg"),
        coalesce(col("tri"), lit(0L)).as("tri_cnt"),
        when(col("deg") >= 2,
          expr(s"2L * coalesce(tri, 0L) * ${ccScale}L div (deg * (deg - 1L))"))
          .otherwise(lit(0L)).as("cc_fp"))
  }

  /** Bounded k-core peeling: `rounds` synchronous rounds of "drop every
    * node whose degree in the current induced subgraph is < k", then the
    * survivors with their final induced degree — `(node_id, core_deg)`.
    * With enough rounds this IS the k-core (Seidman 1983; the
    * distributed formulation is Montresor et al. 2013); a fixed round
    * budget keeps the operator deterministic-cost and the recurrence
    * exactly replayable (q76's oracle unrolls it). Survivors may still
    * hold `core_deg < k` if peeling hasn't converged in `rounds` —
    * that's the documented bounded semantics, same contract as the
    * fixed-round propagation family.
    *
    * Input edges may be in either/both directions with duplicates
    * (canonicalized like [[triangleStats]]). Scale shape: each round is
    * a degree aggregate (map-side combined, O(|V|) exchange) plus two
    * semi-joins of the surviving edge list against the surviving node
    * set — all equi-joins on node keys, each round's edge list pinned
    * behind a barrier so round r never re-derives rounds 1..r−1. The
    * edge list only shrinks, so per-round cost is monotone
    * non-increasing; peeling load concentrates exactly where degrees
    * are low, never on the hubs. */
  def kCoreBounded(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      k: Int = 10,
      rounds: Int = 3,
      checkpoint: Boolean = true,
      assumeCanonical: Boolean = false,
      broadcastStateBelow: Long = 4000000L): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val parts = edges.sparkSession.sessionState.conf.numShufflePartitions
    def pin(df: DataFrame): DataFrame =
      if (checkpoint) df.coalesce(parts).localCheckpoint(eager = true) else df
    val e0 = canonical(edges, srcCol, dstCol, assumeCanonical)
    var sym = pin(e0.select(col("a").as("u"), col("b").as("v"))
      .union(e0.select(col("b").as("u"), col("a").as("v"))))
    val st = stateHint(sym.count(), checkpoint, broadcastStateBelow)
    for (_ <- 1 to rounds) {
      val keep = sym.groupBy("u").agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= k).select(col("u"))
      sym = pin(sym
        .join(st(keep), Seq("u"), "left_semi")
        .join(st(keep.select(col("u").as("v"))), Seq("v"), "left_semi")
        .select(col("u"), col("v")))
    }
    sym.groupBy("u").agg(count(lit(1)).as("core_deg"))
      .select(col("u").as("node_id"), col("core_deg"))
  }

  /** Bounded-round HashMin connected components: `rounds` synchronous
    * rounds of `lab'(v) = min(lab(v), min_{u∈N(v)} lab(u))` starting
    * from `lab(v) = v` — the distributed min-label recurrence (Rastogi
    * et al. 2013's HashMin; the MapReduce folklore algorithm). After
    * `rounds` rounds every node carries the minimum id within graph
    * distance `rounds`, so components of diameter ≤ `rounds` are exact
    * and larger ones are the documented bounded semantics (same
    * contract as [[kCoreBounded]]); full convergence needs
    * diameter-many rounds (the log-round star-contraction variants
    * trade that for asymmetric moves that don't replay as one SQL
    * recurrence). The loop stops early once a round changes no label,
    * so `rounds = Int.MaxValue` is the converged components.
    * Returns `(node_id, component)`.
    *
    * The engine's one connected-components kernel: bounded callers
    * (q86, q90) get the recurrence a second engine replays exactly —
    * q86 unrolls it in DuckDB and hash-compares — and
    * [[graft.ext.Dedup.dedupGroups]] runs it to convergence.
    *
    * Scale shape — FRONTIER rounds: labels only decrease, so a
    * neighbour that did not change last round has nothing new to say
    * (its label was already folded into this node's min a round ago —
    * the standard delta argument; dropping unchanged senders provably
    * never alters any round's labels, and AnalyticsSpec pins
    * bit-equality with the naive full recurrence). Round 1 therefore
    * joins the full |E| edge list against all |V| initial labels; round
    * r > 1 joins only the CHANGED label set Δ — message volume is
    * |edges incident to Δ| and collapses geometrically as components
    * settle, exactly like [[kCoreBounded]]'s shrinking edge list. Each
    * round: one equi-join (messages from Δ), one map-side-combined
    * `min` per receiver (the combine makes the exchange O(receivers),
    * not O(messages)), and one |V|-side left join folding the
    * improvements in while computing the next Δ. Every round's label
    * frame pins behind a barrier ([[pageRankFixed]]'s checkpoint
    * rationale); Δ is a filter over it, so it needs no pin of its own.
    * The symmetrized edge list is built once. */
  def connectedComponentsBounded(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      rounds: Int = 5,
      checkpoint: Boolean = true,
      assumeCanonical: Boolean = false,
      broadcastStateBelow: Long = 4000000L): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val parts = edges.sparkSession.sessionState.conf.numShufflePartitions
    def pin(df: DataFrame): DataFrame =
      if (checkpoint) df.coalesce(parts).localCheckpoint(eager = true) else df
    val e0 = canonical(edges, srcCol, dstCol, assumeCanonical)
    val sym = pin(e0.select(col("a").as("u"), col("b").as("v"))
      .union(e0.select(col("b").as("u"), col("a").as("v"))))
    var lab = pin(sym.select(col("u").as("id")).distinct()
      .select(col("id"), col("id").as("lab")))
    val st = stateHint(sym.count(), checkpoint, broadcastStateBelow)
    // Δ: the senders whose label is news to their neighbours — all of
    // them initially, then only last round's improvements. An empty Δ
    // sends no messages, so every later round is a no-op: stop there.
    var delta = lab
    var r = 0
    while (r < rounds && (r == 0 || !delta.isEmpty)) {
      r += 1
      val msgs = sym
        .join(st(delta.select(col("id").as("v"), col("lab"))), Seq("v"))
        .groupBy(col("u")).agg(min(col("lab")).as("m"))
      val next = pin(lab
        .join(st(msgs.select(col("u").as("id"), col("m"))), Seq("id"), "left")
        .select(col("id"),
          least(col("lab"), coalesce(col("m"), col("lab"))).as("lab"),
          (col("m") < col("lab")).as("__chg")))
      delta = next.filter(col("__chg")).select(col("id"), col("lab"))
      lab = next.select(col("id"), col("lab"))
    }
    lab.select(col("id").as("node_id"), col("lab").as("component"))
  }

  /** Bounded multi-source BFS: hop distance from a seed set over the
    * undirected graph, `rounds` synchronous frontier expansions —
    * `(node_id, dist)` for every node within `rounds` hops (unreached
    * nodes are absent, the natural sparse representation at scale).
    * Distances are exact for every emitted node (BFS layers are
    * definitionally complete per round); the round budget bounds cost
    * like the whole fixed-round family, and the recurrence unrolls in
    * SQL (q92's oracle) as `dist_r = min(dist_{r-1}, 1 + min over
    * neighbours)` from a seed base.
    *
    * The audit use: the k-hop receptive field of a seed set IS what the
    * propagation family restricts to (`HeteroGraph.restrictTo`) — this
    * measures it: how many nodes, at what depth, from e.g. the hub
    * parts a curation query anchors on.
    *
    * Scale shape: textbook frontier BFS — round r joins ONLY the layer
    * discovered at r−1 against the edge list (message volume = edges
    * incident to the frontier), one map-side-combined `min` per
    * candidate, an anti-join drops already-visited nodes, and the new
    * layer unions into the pinned visited frame. No round ever touches
    * the whole |V|. */
  def bfsBounded(
      edges: DataFrame,
      sources: DataFrame, // one column: the seed node ids
      srcCol: String = "src",
      dstCol: String = "dst",
      rounds: Int = 3,
      checkpoint: Boolean = true,
      assumeCanonical: Boolean = false,
      broadcastStateBelow: Long = 4000000L): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val parts = edges.sparkSession.sessionState.conf.numShufflePartitions
    def pin(df: DataFrame): DataFrame =
      if (checkpoint) df.coalesce(parts).localCheckpoint(eager = true) else df
    val e0 = canonical(edges, srcCol, dstCol, assumeCanonical)
    val sym = pin(e0.select(col("a").as("u"), col("b").as("v"))
      .union(e0.select(col("b").as("u"), col("a").as("v"))))
    val st = stateHint(sym.count(), checkpoint, broadcastStateBelow)
    val seeds = sources.toDF("id").select(col("id").cast("long")).distinct()
    var visited = pin(seeds.select(col("id"), lit(0L).as("dist")))
    var frontier = visited
    for (r <- 1 to rounds) {
      val layer = pin(sym
        .join(st(frontier.select(col("id").as("v"))), Seq("v"))
        .select(col("u").as("id")).distinct()
        .join(st(visited.select(col("id"))), Seq("id"), "left_anti")
        .select(col("id"), lit(r.toLong).as("dist")))
      visited = pin(visited.union(layer))
      frontier = layer
    }
    visited.select(col("id").as("node_id"), col("dist"))
  }

  /** Bounded weighted single/multi-source shortest paths: `rounds`
    * synchronous Bellman-Ford relaxations (Bellman 1958's recurrence,
    * the synchronous distributed form) over an undirected edge list
    * with integer costs — `(node_id, dist)` where `dist` is EXACTLY the
    * cheapest cost over paths of ≤ `rounds` edges from the seed set
    * (the recurrence's defining invariant, so the bounded semantics are
    * a statement, not an approximation; unreached nodes are absent).
    * Integer costs keep every relaxation exact in any engine and any
    * order — q94's DuckDB oracle unrolls the rounds as
    * `d_r(v) = min(d_{r-1}(v), min_{(u,v,c)} d_{r-1}(u) + c)`.
    *
    * The curation use: [[bfsBounded]] measures the receptive field by
    * hop COUNT; this weighs the hops — e.g. cost = `scale div support`
    * over the co-purchase graph makes strongly-supported associations
    * cheap, so the distance ranks how tightly a node is tethered to the
    * hub set, not merely whether it is within k hops.
    *
    * Multi-edges collapse to their MINIMUM cost up front (the shortest-
    * path-relevant reduction; `assumeCanonical=true` inputs must
    * already be simple `a < b` lists, one cost per pair). Costs must be
    * non-negative for the bounded distances to be monotone in rounds.
    *
    * Scale shape: the Δ pattern of [[connectedComponentsBounded]] —
    * round r relaxes ONLY edges incident to nodes improved at r−1
    * (all seeds initially), one map-side-combined `min` per candidate
    * (the combine makes the exchange O(receivers), not O(messages)),
    * then one full-outer |reached|-side join folds improvements in and
    * computes the next Δ. Message volume collapses as distances settle;
    * no round touches the whole graph once the wave passes. */
  def ssspBounded(
      edges: DataFrame,
      sources: DataFrame, // one column: the seed node ids
      srcCol: String = "src",
      dstCol: String = "dst",
      costCol: String = "cost",
      rounds: Int = 3,
      checkpoint: Boolean = true,
      assumeCanonical: Boolean = false,
      broadcastStateBelow: Long = 4000000L): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val parts = edges.sparkSession.sessionState.conf.numShufflePartitions
    def pin(df: DataFrame): DataFrame =
      if (checkpoint) df.coalesce(parts).localCheckpoint(eager = true) else df
    val e0 =
      if (assumeCanonical)
        edges.select(col(srcCol).cast("long").as("a"),
          col(dstCol).cast("long").as("b"),
          col(costCol).cast("long").as("c"))
      else
        edges.select(
            least(col(srcCol), col(dstCol)).cast("long").as("a"),
            greatest(col(srcCol), col(dstCol)).cast("long").as("b"),
            col(costCol).cast("long").as("c"))
          .filter(col("a") =!= col("b"))
          .groupBy("a", "b").agg(min(col("c")).as("c"))
    val sym = pin(e0.select(col("a").as("u"), col("b").as("v"), col("c"))
      .union(e0.select(col("b").as("u"), col("a").as("v"), col("c"))))
    val st = stateHint(sym.count(), checkpoint, broadcastStateBelow)
    val seeds = sources.toDF("id").select(col("id").cast("long")).distinct()
    var dist = pin(seeds.select(col("id"), lit(0L).as("dist")))
    var delta = dist
    for (_ <- 1 to rounds) {
      val best = sym
        .join(st(delta.select(col("id").as("u"), col("dist").as("du"))),
          Seq("u"))
        .groupBy(col("v").as("id"))
        .agg(min(col("du") + col("c")).as("m"))
      val next = pin(dist.join(best, Seq("id"), "full")
        .select(col("id"),
          least(coalesce(col("dist"), col("m")),
            coalesce(col("m"), col("dist"))).as("dist"),
          (col("dist").isNull || col("m") < col("dist")).as("__chg")))
      delta = pin(next.filter(col("__chg")).select(col("id"), col("dist")))
      dist = next.select(col("id"), col("dist"))
    }
    dist.select(col("id").as("node_id"), col("dist"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007), `rounds`
    * rounds, fully deterministic: every node starts labelled with its
    * own id and each round adopts the most frequent label among its
    * neighbours, ties broken by SMALLEST label — the determinism
    * tie-break that makes the recurrence bit-replayable (q77's oracle
    * unrolls it; the paper's random tie-break can't be cross-checked).
    * Returns `(node_id, community)` after the final round — densely
    * connected regions collapse onto their minimum id; a fixed round
    * budget bounds cost like the propagation family (unconverged labels
    * are the documented semantics, not an error).
    *
    * Input edges as in [[kCoreBounded]] (canonicalized, symmetrized).
    * Scale shape: a round is one |E|-side join (neighbour labels), one
    * map-side-combined `groupBy(node, label)` count, and a per-node
    * top-1 that plans as `WindowGroupLimit` (partial before the
    * exchange — hot nodes never materialise their full label
    * multiset); the label frame is |V|-scale and each round sits
    * behind a barrier. */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      rounds: Int = 3,
      checkpoint: Boolean = true,
      assumeCanonical: Boolean = false,
      broadcastStateBelow: Long = 4000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val parts = edges.sparkSession.sessionState.conf.numShufflePartitions
    def pin(df: DataFrame): DataFrame =
      if (checkpoint) df.coalesce(parts).localCheckpoint(eager = true) else df
    val e0 = canonical(edges, srcCol, dstCol, assumeCanonical)
    val sym = graft.functions.Phases.time("lprop sym") {
      pin(e0.select(col("a").as("u"), col("b").as("v"))
        .union(e0.select(col("b").as("u"), col("a").as("v"))))
    }
    var lab = graft.functions.Phases.time("lprop init") {
      pin(sym.select(col("u").as("id")).distinct()
        .select(col("id"), col("id").as("lab")))
    }
    val st = stateHint(sym.count(), checkpoint, broadcastStateBelow)
    val top1 = Window.partitionBy("u").orderBy(desc("n"), asc("lab"))
    for (r <- 1 to rounds) {
      lab = graft.functions.Phases.time(s"lprop round $r") {
        pin(sym
          .join(st(lab.select(col("id").as("v"), col("lab"))), Seq("v"))
          .groupBy(col("u"), col("lab")).agg(count(lit(1)).as("n"))
          .withColumn("__rn", row_number().over(top1))
          .filter(col("__rn") === 1)
          .select(col("u").as("id"), col("lab")))
      }
    }
    lab.select(col("id").as("node_id"), col("lab").as("community"))
  }

  /** Per-edge link-prediction features over an undirected simple graph:
    * for every canonical edge `(a < b)`, the common-neighbour count,
    * the neighbourhood Jaccard, and the resource-allocation index in
    * scaled integers — `(a, b, cn_cnt, jac_fp, ra_fp)` with
    * `jac_fp = cn·jScale div (deg(a)+deg(b)−2−cn)` (0 when the union is
    * empty) and `ra_fp = Σ_z jScale div deg(z)` over common neighbours
    * `z` — the standard structural edge scores (Liben-Nowell &
    * Kleinberg 2003; RA is Zhou/Lü/Zhang 2009's strongest simple
    * predictor, down-weighting promiscuous common neighbours); exact
    * integers (RA's per-z division floors BEFORE the sum, so any
    * engine and order agree), replayed by q78's oracle. For an
    * ADJACENT pair, `|N(a)∩N(b)|` is the number of triangles through
    * the edge — and the triangle's third vertex IS the common
    * neighbour, which is how RA gets each `z`'s degree without ever
    * materialising a neighbourhood list.
    *
    * Scale shape: triangles enumerate via the same degree-oriented
    * wedge join as [[triangleStats]] (arboricity-bounded fan-out), each
    * triangle explodes to its 3 canonical edges, and the per-edge count
    * is one map-side-combined `groupBy(a, b)`; degrees join in at
    * |E|-scale. Edges on no triangle keep `cn_cnt = 0`. */
  def edgeJaccard(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      jScale: Long = 1000000L,
      assumeCanonical: Boolean = false,
      tris: Option[DataFrame] = None): DataFrame = {
    val parts = edges.sparkSession.sessionState.conf.numShufflePartitions
    val e0 =
      if (assumeCanonical) canonical(edges, srcCol, dstCol, assume = true)
      else canonical(edges, srcCol, dstCol, assume = false)
        .coalesce(parts).localCheckpoint(eager = true)
    val deg = e0.select(col("a").as("id"))
      .union(e0.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val triFrame = tris.getOrElse(
      triangles(e0, "a", "b", assumeCanonical = true))
    // each triangle lies on its 3 canonical edges; the third vertex is
    // that edge's common neighbour z
    val cn = triFrame.select(explode(array(
        struct(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b"), col("w").as("z")),
        struct(least(col("v"), col("w")).as("a"),
          greatest(col("v"), col("w")).as("b"), col("u").as("z")),
        struct(least(col("u"), col("w")).as("a"),
          greatest(col("u"), col("w")).as("b"), col("v").as("z"))))
        .as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"), col("e.z").as("z"))
      .join(deg.select(col("id").as("z"), col("deg").as("dz")), Seq("z"))
      .groupBy("a", "b").agg(count(lit(1)).as("cn"),
        sum(expr(s"${jScale}L div dz")).as("ra"))
    e0.join(cn, Seq("a", "b"), "left")
      .join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b"))
      .select(col("a"), col("b"),
        coalesce(col("cn"), lit(0L)).as("cn_cnt"),
        when(col("da") + col("db") - lit(2) - coalesce(col("cn"), lit(0L)) > 0,
          expr(s"coalesce(cn, 0L) * ${jScale}L div (da + db - 2L - coalesce(cn, 0L))"))
          .otherwise(lit(0L)).as("jac_fp"),
        coalesce(col("ra"), lit(0L)).as("ra_fp"))
  }
}
