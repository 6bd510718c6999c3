package graft

import graft.catalog.Catalogs
import graft.graph.GraphBuilder
import graft.learn.DetRandom
import graft.serve.Recommend
import graft.topology.{EdgeKey, EdgeSpec, Topology}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Driver contract: one `queries` entry per implemented operator from
  * SURVEY.md §2, each with a DuckDB-equivalent `oracleSql` where the
  * semantics are ANSI-SQL-expressible.
  *
  * Float-parity policy (SURVEY.md §7.4 hard part 2): every aggregated
  * money/measure column is cast to DECIMAL before summing (exact,
  * order-independent — the fixture's numerics are exact 2-decimals) and the
  * final value cast to DOUBLE on both sides, so Spark and DuckDB produce
  * bit-identical results regardless of partitioning.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** The one part file of a `coalesce(1)` staging write. An empty
    * staging dir (a filtered slice that optimised to zero partitions at
    * a tiny SF) fails LOUDLY here instead of a bare
    * NoSuchElementException deep inside a lifecycle query. */
  private def stagedPart(staging: String): java.io.File = {
    val files = Option(new java.io.File(staging).listFiles())
      .getOrElse(Array.empty[java.io.File])
    files.find(_.getName.endsWith(".parquet")).getOrElse(sys.error(
      s"staging write produced no parquet part in $staging " +
        s"(${files.length} files) — empty input slice at this SF?"))
  }

  /** Triangle listing over [[partPairs]], memoised and checkpointed —
    * the enumeration (the expensive oriented wedge join) runs once per
    * session and pass; q74's per-node counts and q78's per-edge counts
    * are cheap aggregates over it. */
  private def partTriangles(s: SparkSession, dir: String): DataFrame =
    graft.functions.Memos.getOrElseUpdate(s, ("part-triangles", dir)) {
      // phase-tagged so the bench shows the first toucher's (q74's)
      // number is mostly the shared enumeration, not its tiny count agg
      graft.functions.Phases.time("tri enum") {
        graft.graph.Analytics.triangles(partPairs(s, dir), assumeCanonical = true)
          .coalesce(s.sessionState.conf.numShufflePartitions)
          .localCheckpoint(eager = true)
      }
    }

  /** Support-WEIGHTED co-purchase pairs `(a < b, w = co-occurrence
    * count)` — q79's support base and q83's edge weights, memoised and
    * checkpointed like [[partPairs]] so the second consumer rides the
    * first's build. */
  private def partPairsWeighted(s: SparkSession, dir: String): DataFrame =
    graft.functions.Memos.getOrElseUpdate(s, ("part-pairs-weighted", dir)) {
      graft.functions.Phases.time("pairs build") {
        val bi = t(s, dir, "lineitem")
          .select(col("l_orderkey").as("bk"), col("l_partkey").as("it"))
          .distinct()
        bi.join(bi.select(col("bk"), col("it").as("it2")), Seq("bk"))
          .filter(col("it") < col("it2"))
          .groupBy(col("it").as("a"), col("it2").as("b"))
          .agg(count(lit(1)).as("w"))
          .coalesce(s.sessionState.conf.numShufflePartitions)
          .localCheckpoint(eager = true)
      }
    }

  /** Part co-purchase graph (parts sharing an order), canonical a<b
    * DISTINCT pairs — the shared substrate of the q74/q76/q77/q78/q86/
    * q92 graph analytics (the consumers pass `assumeCanonical = true`),
    * served as a projection of [[partPairsWeighted]]'s memoised
    * checkpoint so the whole graph family pays ONE basket self-join per
    * session+pass. Per-order pair fan-out is bounded by order size, so
    * the self-join stays linear-ish at any corpus scale. */
  private[graft] def partPairs(s: SparkSession, dir: String): DataFrame =
    graft.functions.Memos.getOrElseUpdate(s, ("part-pairs", dir)) {
      // a projection of the weighted build: the (a,b) set of
      // partPairsWeighted IS the distinct pair set (the count replaces
      // the distinct at the same shuffle), so the six unweighted
      // analytics and the three weighted ones share ONE basket
      // self-join per session+pass instead of two. No second
      // checkpoint: the projection rescans the weighted frame's cached
      // partitions, never its lineage.
      partPairsWeighted(s, dir)
        .select(col("a").as("src"), col("b").as("dst"))
    }

  /** Exact order-independent sum of a 2-dp double column, as double. */
  private def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  /** The co-purchase graph's per-node sorted neighbour arrays
    * ([[graft.learn.Walks.adjacencyArrays]]), memoised + pinned so the
    * q109 and q115 walk families share ONE adjacency build per
    * session+pass (r19 — the r18 verdict's Next #2: the walk steps'
    * per-step exchanges are gone entirely in the array form, and the
    * one build that remains is shared). */
  private def partAdjArrays(s: SparkSession, dir: String): DataFrame =
    graft.functions.Memos.getOrElseUpdate(s, ("part-adj-arrays", dir)) {
      graft.functions.Phases.time("adj arrays build") {
        graft.learn.Walks.adjacencyArrays(
          partPairs(s, dir), assumeCanonical = true)
      }
    }

  /** q109's deterministic walk corpus over [[partAdjArrays]], memoised so
    * q113's skip-gram pair extraction rides the same walk build (the
    * per-step frontiers are checkpointed inside [[graft.learn.Walks]];
    * the memo shares the final union). */
  private def partWalks(s: SparkSession, dir: String): DataFrame =
    graft.functions.Memos.getOrElseUpdate(s, ("part-walks", dir)) {
      graft.learn.Walks.randomWalksOverAdj(
        partAdjArrays(s, dir), nWalks = 2, steps = 4, seed = 42L)
    }

  /** q113's skip-gram pair table over [[partWalks]], memoised +
    * checkpointed so q116's PMI scoring rides the same pair build. */
  private def partWalkPairs(s: SparkSession, dir: String): DataFrame =
    graft.functions.Memos.getOrElseUpdate(s, ("part-walk-pairs", dir)) {
      graft.learn.Walks.skipGramPairs(partWalks(s, dir), window = 2)
        .coalesce(s.sessionState.conf.numShufflePartitions)
        .localCheckpoint(eager = true)
    }

  /** TIME-CARRYING co-purchase pairs `(a < b, d = order day)` — the
    * temporal sibling of [[partPairs]]: q118's walks need the edge's
    * order day to respect time, so the basket self-join keeps `d`
    * (one extra join against `orders`, same shuffle shape). Memoised +
    * checkpointed so the temporal-walk family pays ONE build per
    * session+pass. Day = naive `o_orderdate` under the UTC-pinned
    * session ≡ DuckDB's `epoch_us // 86400000000` on the same value
    * (the `Tables.load` events-ts treatment). */
  private def partPairsTemporal(s: SparkSession, dir: String): DataFrame =
    graft.functions.Memos.getOrElseUpdate(s, ("part-pairs-temporal", dir)) {
      graft.functions.Phases.time("temporal pairs build") {
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey").as("bk"), col("l_partkey").as("it"))
        val od = t(s, dir, "orders").select(col("o_orderkey").as("bk"),
          expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
            .as("d"))
        val bo = li.join(od, Seq("bk"))
        bo.join(bo.select(col("bk"), col("it").as("it2")), Seq("bk"))
          .filter(col("it") < col("it2"))
          .select(col("it").as("a"), col("it2").as("b"), col("d"))
          .distinct()
          .coalesce(s.sessionState.conf.numShufflePartitions)
          .localCheckpoint(eager = true)
      }
    }

  /** q118's time-respecting walk corpus over [[partPairsTemporal]],
    * memoised so q120's temporal skip-gram extraction rides the same
    * walk build (per-step frontiers checkpoint inside
    * [[graft.learn.Walks]]; the memo shares the final union). */
  private def partTemporalWalks(s: SparkSession, dir: String): DataFrame =
    graft.functions.Memos.getOrElseUpdate(s, ("part-temporal-walks", dir)) {
      graft.learn.Walks.temporalWalks(partPairsTemporal(s, dir),
        "a", "b", "d", nWalks = 2, steps = 4, seed = 42L)
    }

  /** q125's directed containment pairs, memoised + checkpointed like
    * [[fuzzyPairs]] — q138's benchmark-decontamination view rides the
    * same prefix-filter + verify build instead of re-running it. */
  private def containPairs(s: SparkSession, dir: String): DataFrame =
    graft.functions.Memos.getOrElseUpdate(s, ("containment-pairs", dir)) {
      graft.ext.Dedup.containmentPairs(
          t(s, dir, "documents"), "doc_id", "text")
        .coalesce(s.sessionState.conf.numShufflePartitions)
        .localCheckpoint(eager = true)
    }

  /** q89's edit-distance-1 customer-name pairs, memoised + checkpointed
    * like [[partPairs]] — q90's grouping rides the same build instead of
    * re-running the variant join + levenshtein verify. */
  private def fuzzyPairs(s: SparkSession, dir: String): DataFrame =
    graft.functions.Memos.getOrElseUpdate(s, ("fuzzy-pairs", dir)) {
      graft.functions.Phases.time("fuzzy pairs") {
        graft.ext.Fuzzy.editOnePairs(
            t(s, dir, "customer"), "c_custkey", "c_name")
          .coalesce(s.sessionState.conf.numShufflePartitions)
          .localCheckpoint(eager = true)
      }
    }

  /** The extra edge type the std topology can't derive (lineitem's 2nd PK
    * col is no FK — FIXTURES.md §A): orders—hasPart—part via lineitem. */
  val ordersPartEdge: EdgeSpec =
    EdgeSpec("orders", "hasPart", "part", "lineitem", "l_orderkey", "l_partkey")

  /** Flagship (§7.2): top-10 part recommendations for a fresh basket seeded
    * with parts {1,2,3} — the reference's playlist→track flow
    * (`inference.py:44-76`) on the fixture schema: graph build → degree →
    * reverse → self-loops → seed-node mutation → 2-round frozen propagation
    * → dot-score → top-k. */
  def entry(spark: SparkSession): DataFrame =
    entry(spark, "/root/testdata/sf0.001") // driver contract: fixed SF

  /** The same flagship flow at a caller-chosen scale factor. */
  def entry(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val g = GraphBuilder
      .build(Catalogs.tpch, n => t(spark, dir, n), extraEdges = Seq(ordersPartEdge),
        probeDense = true)
      .addDegree.withReverseEdges.withSelfLoops
    Recommend.recommend(g, EdgeKey("orders", "hasPart", "part"),
      seedDst = Seq(1L, 2L, 3L), k = 10)
  }

  // ---- shared SQL fragments (dense-id mappings, W2 semantics) ----
  private val cmSql =
    "SELECT c_custkey AS pk, row_number() OVER (ORDER BY c_custkey) - 1 AS id FROM customer"
  private val omSql =
    "SELECT o_orderkey AS pk, row_number() OVER (ORDER BY o_orderkey) - 1 AS id FROM orders"
  private val edgeOcSql = // dense-id edge list orders→customer
    s"WITH cm AS ($cmSql), om AS ($omSql) " +
    "SELECT om.id AS src, cm.id AS dst FROM orders o " +
    "JOIN om ON o.o_orderkey = om.pk JOIN cm ON o.o_custkey = cm.pk"

  /** Oracle CTE chain shared by the fixed-point propagation family
    * (q29/q43): 2 unrolled rounds of scaled-long floor-mean message
    * passing over the {customer, orders}-restricted reverse-edged
    * graph; ends with `r2c` (customer h) / `r2o` (orders h), both
    * keyed by original pk. Requires `cm`/`om` dense-id CTEs in scope. */
  private val fixedPropCtes =
    """no_ AS (SELECT o_custkey AS pk, COUNT(*) AS n FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
ne_ AS (SELECT user_id AS pk, COUNT(*) AS n FROM events WHERE user_id IS NOT NULL GROUP BY 1),
nc_ AS (SELECT c_nationkey AS pk, COUNT(*) AS n FROM customer WHERE c_nationkey IS NOT NULL GROUP BY 1),
h0c AS (
  SELECT c_custkey AS pk,
    CAST(1 + 2*COALESCE(no_.n,0) + COALESCE(ne_.n,0)
       + CASE WHEN c_nationkey IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) * 1000000 AS h,
    COALESCE(no_.n,0) > 0 AS has_o,
    COALESCE(ne_.n,0) > 0 AS has_e,
    c_nationkey IS NOT NULL AS has_n
  FROM customer LEFT JOIN no_ ON c_custkey = no_.pk LEFT JOIN ne_ ON c_custkey = ne_.pk),
h0o AS (
  SELECT o_orderkey AS pk, o_custkey,
    CAST(1 + 2*(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000000 AS h
  FROM orders),
h0n AS (
  SELECT n_nationkey AS pk, CAST(1 + COALESCE(nc_.n,0) AS BIGINT) * 1000000 AS h
  FROM nation LEFT JOIN nc_ ON n_nationkey = nc_.pk),
h0e AS (
  SELECT user_id, CAST(2 AS BIGINT) * 1000000 AS h
  FROM events WHERE user_id IS NOT NULL),
me AS (SELECT user_id AS pk, CAST(SUM(h) // COUNT(*) AS BIGINT) AS m FROM h0e GROUP BY user_id),
mn AS (SELECT c.c_custkey AS pk, CAST(SUM(h0n.h) // COUNT(*) AS BIGINT) AS m
       FROM customer c JOIN h0n ON h0n.pk = c.c_nationkey GROUP BY c.c_custkey),
m1o AS (SELECT o_custkey AS pk, CAST(SUM(h) // COUNT(*) AS BIGINT) AS m
        FROM h0o WHERE o_custkey IS NOT NULL GROUP BY o_custkey),
r1c AS (
  SELECT h0c.pk, h0c.has_o, h0c.has_e, h0c.has_n,
    CASE WHEN NOT (has_o OR has_e OR has_n) THEN h0c.h
    ELSE (h0c.h + COALESCE(m1o.m,0) + COALESCE(me.m,0) + COALESCE(mn.m,0))
      // (1 + CASE WHEN has_o THEN 1 ELSE 0 END + CASE WHEN has_e THEN 1 ELSE 0 END
         + CASE WHEN has_n THEN 1 ELSE 0 END)
    END AS h
  FROM h0c LEFT JOIN m1o ON h0c.pk = m1o.pk LEFT JOIN me ON h0c.pk = me.pk
    LEFT JOIN mn ON h0c.pk = mn.pk),
m1c AS (SELECT o.o_orderkey AS pk, CAST(SUM(h0c.h) // COUNT(*) AS BIGINT) AS m
        FROM orders o JOIN h0c ON h0c.pk = o.o_custkey GROUP BY o.o_orderkey),
r1o AS (
  SELECT h0o.pk, h0o.o_custkey,
    CASE WHEN m1c.m IS NULL THEN h0o.h ELSE (h0o.h + m1c.m) // 2 END AS h
  FROM h0o LEFT JOIN m1c ON h0o.pk = m1c.pk),
m2o AS (SELECT o_custkey AS pk, CAST(SUM(h) // COUNT(*) AS BIGINT) AS m
        FROM r1o WHERE o_custkey IS NOT NULL GROUP BY o_custkey),
r2c AS (
  SELECT r1c.pk,
    CASE WHEN NOT (has_o OR has_e OR has_n) THEN r1c.h
    ELSE (r1c.h + COALESCE(m2o.m,0) + COALESCE(me.m,0) + COALESCE(mn.m,0))
      // (1 + CASE WHEN has_o THEN 1 ELSE 0 END + CASE WHEN has_e THEN 1 ELSE 0 END
         + CASE WHEN has_n THEN 1 ELSE 0 END)
    END AS h
  FROM r1c LEFT JOIN m2o ON r1c.pk = m2o.pk LEFT JOIN me ON r1c.pk = me.pk
    LEFT JOIN mn ON r1c.pk = mn.pk),
m2c AS (SELECT o.o_orderkey AS pk, CAST(SUM(r1c.h) // COUNT(*) AS BIGINT) AS m
        FROM orders o JOIN r1c ON r1c.pk = o.o_custkey GROUP BY o.o_orderkey),
r2o AS (
  SELECT r1o.pk,
    CASE WHEN m2c.m IS NULL THEN r1o.h ELSE (r1o.h + m2c.m) // 2 END AS h
  FROM r1o LEFT JOIN m2c ON r1o.pk = m2c.pk)"""

  /** q55's bucketed persistence, memoised per (session, sf dir): build
    * the q29 graph, persist it through [[graft.graph.HeteroGraph
    * .saveBucketed]] (nodes bucketed by `id`, edges by `src`, bucket
    * count = the session's shuffle parallelism so aggregation exchanges
    * line up), reload via the catalog. Stale-location cleanup and the
    * live-sibling ownership guard both live inside `saveBucketed` now, so
    * any direct caller gets them too. */
  private def phase[A](name: String)(f: => A): A =
    graft.functions.Phases.time(name)(f)

  private def bucketedGraph(s: SparkSession, dir: String): graft.graph.HeteroGraph =
    graft.functions.Memos.getOrElseUpdate(s, ("bucketed-graph", dir)) {
      implicit val sp: SparkSession = s
      val prefix = "gbkt" + dir.toLowerCase.replaceAll("[^a-z0-9]+", "_")
      // A prefix a live sibling session saved is reloaded from the shared
      // catalog instead of rebuilt — saveBucketed itself refuses to
      // trample it (the ownership guard lives next to the save now).
      if (graft.graph.HeteroGraph.bucketedLiveOwner(s, prefix).isEmpty) {
        val g = GraphBuilder.build(Catalogs.tpch, n => t(s, dir, n), probeDense = true)
          .withReverseEdges
          .restrictTo(Set("customer", "orders"), hops = 1)
        phase("q55 save")(g.saveBucketed(prefix,
          buckets = s.sessionState.conf.numShufflePartitions))
      }
      phase("q55 load")(graft.graph.HeteroGraph.loadBucketed(s, prefix))
    }

  /** q143/q153's shared repetition-coverage table, memoised per
    * (session, sf dir) and eagerly checkpointed: the 9-width n-gram
    * chain is the expensive component of both queries, and the
    * composite gate must flag EXACTLY the coverage table it publishes.
    * Per the bench contract (alphabetical order, memos cleared per
    * pass), q143 fills the memo and q153 rides it — per-query walls are
    * marginal costs, the q55/q109 convention. */
  private def gopherCoverage(s: SparkSession, dir: String): DataFrame =
    graft.functions.Memos.getOrElseUpdate(s, ("gopher-coverage", dir)) {
      graft.ext.Repetition.ngramCoverage(
        t(s, dir, "documents"), "doc_id", "text")
        .localCheckpoint(eager = true)
    }

  /** q154/q158's shared decode + resize + dHash pass over the PGM
    * near-dup fixture, memoised per (session, sf dir) and eagerly
    * checkpointed — the gopherCoverage convention: q154 fills the memo,
    * q158 (the co-bucket candidate variant over the SAME fingerprints)
    * rides it, so its bench wall is the marginal cost of the alternate
    * candidate scheme, not a second decode of the corpus. */
  private def pgmDHashed(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    graft.functions.Memos.getOrElseUpdate(s, ("pgm-dhash", dir)) {
      graft.multimodal.ImageDedup.dhashFrame(
        graft.multimodal.MediaSynth.withPgmPayload(
          t(s, dir, "documents").select(col("doc_id")), "doc_id"),
        "doc_id", "payload")
        .localCheckpoint(eager = true)
    }
  }

  /** The q166 boilerplate block: 38 DISTINCT lowercase words (licence /
    * terms-of-service shape — the natural boilerplate real corpora
    * carry), leading space so it concatenates cleanly after any text.
    * Appended twice, every 5..10-gram inside a copy occurs exactly
    * twice (duplicated — the dup-flag population), while each single
    * top-2/3/4 gram covers only `2 × n` positions (below the top cuts).
    * Distinctness keeps the within-copy grams from inflating counts. */
  private[graft] val Boilerplate: String =
    " terms conditions apply please read carefully before using this" +
      " website content provided without warranty liability limited" +
      " governed under applicable law jurisdiction disputes resolved" +
      " through binding arbitration contact support email address" +
      " listed below copyright reserved trademark owned respective holders"

  /** q164's end-to-end curation VERDICT frame (text gate × image
    * retention × audio first-seen — the q164 scaladoc has the legs),
    * memoised per (session, sf dir) and eagerly checkpointed — the
    * gopherCoverage convention: q164 fills the memo and the curated
    * shard sink (q165) rides it, so q165's bench wall is the marginal
    * cost of packing + writing the curated corpus, not a second run of
    * the three modality legs. */
  private def curationVerdict(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    graft.functions.Memos.getOrElseUpdate(s, ("curation-verdict", dir)) {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val gate = graft.ext.Filters.gopherGate(
          t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("keep").as("text_keep"))
      val groups = graft.ext.Dedup.dedupGroups(ids,
        graft.multimodal.ImageDedup.nearDupFromHashes(pgmDHashed(s, dir)))
      val kept = graft.ext.Dedup.canonicalDocs(groups,
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "n_chars")
        .select(col("kept_doc").as("doc_id"), lit(1L).as("image_keep"))
      val audioDrop = graft.multimodal.AudioDedup.nearDupAudio(
          graft.multimodal.MediaSynth.withWavMotifPayload(ids, "doc_id"),
          "doc_id", "payload")
        .select(col("doc_b").as("doc_id")).distinct()
        .withColumn("audio_dup", lit(1L))
      ids.join(gate, Seq("doc_id"))
        .join(kept, Seq("doc_id"), "left")
        .join(audioDrop, Seq("doc_id"), "left")
        .select(col("doc_id"), col("text_keep"),
          coalesce(col("image_keep"), lit(0L)).as("image_keep"),
          when(col("audio_dup").isNull, 1L).otherwise(0L).as("audio_keep"))
        .withColumn("keep",
          col("text_keep") * col("image_keep") * col("audio_keep"))
        .localCheckpoint(eager = true)
    }
  }

  /** Spark-side dense-id edge list for orders→customer (G2/G5/J5). */
  private def edgesOrdersCustomer(s: SparkSession, dir: String): DataFrame = {
    val spec = Topology.classify(Catalogs.tpch).edges
      .find(e => e.srcTable == "orders" && e.dstTable == "customer").get
    GraphBuilder.edgeFrame(t(s, dir, "orders"), spec,
      GraphBuilder.denseIds(t(s, dir, "orders"), "o_orderkey"),
      GraphBuilder.denseIds(t(s, dir, "customer"), "c_custkey"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational substrate -------------------------------------
    // A1/P1: TPC-H Q1-style pricing summary
    "q01_agg_pricing" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("n_rows"),
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
              (lit(java.math.BigDecimal.ONE).cast(DecimalType(18, 2)) -
               col("l_discount").cast(DecimalType(18, 2))))
            .cast("double").as("revenue"))
    }),
    // W4: top-k with total deterministic order
    "q02_topk_orders" -> ((s, dir) =>
      t(s, dir, "orders")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))),
    // J1/A1: 3-way join + aggregation
    "q03_join_agg" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
    }),
    // J4: left outer join + null-tolerant grouping
    "q04_left_join" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"), "left")
        .groupBy(coalesce(col("c_mktsegment"), lit("NONE")).as("segment"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
    }),
    // P3: left-semi membership
    "q05_semi_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val f = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      c.join(f, c("c_custkey") === f("o_custkey"), "left_semi")
        .select("c_custkey")
    }),
    // J6/U5: anti-join
    "q06_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey")
    }),
    // U1/U2: diagonal union (schema union, null fill)
    "q07_union" -> ((s, dir) => {
      val sup = t(s, dir, "supplier").select(
        lit("supplier").as("kind"), col("s_name").as("name"),
        col("s_acctbal").as("acctbal"))
      val cust = t(s, dir, "customer").select(
        lit("customer").as("kind"), col("c_name").as("name"),
        col("c_acctbal").as("acctbal"), col("c_mktsegment").as("segment"))
      sup.unionByName(cust, allowMissingColumns = true)
    }),
    // W1-W3: window row_number with explicit deterministic ordering
    "q08_first_order" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(asc("o_orderdate"), asc("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey").as("first_orderkey"))
    }),
    // F6: one-hot / pivot with deterministic column set
    "q09_pivot_segments" -> ((s, dir) =>
      t(s, dir, "customer")
        .groupBy("c_nationkey")
        .pivot("c_mktsegment",
          Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .count().na.fill(0)),
    // F2/F4/P2: string functions + LIKE
    "q10_strings" -> ((s, dir) =>
      t(s, dir, "customer")
        .filter(col("c_name").like("%1%"))
        .select(col("c_custkey"),
          concat_ws(" - ", col("c_mktsegment"), upper(col("c_name"))).as("label"))),
    // A5-style conditional aggregation
    "q11_cond_agg" -> ((s, dir) =>
      t(s, dir, "orders").groupBy("o_orderstatus").agg(
        count(lit(1)).as("n"),
        sum(when(col("o_totalprice") > 100000, 1L).otherwise(0L)).as("n_big"),
        dsum(when(col("o_totalprice") > 100000, col("o_totalprice"))
          .otherwise(lit(0.0))).as("big_total"))),
    // distinct (`df.index.unique()`, convert_to_graph.py:27)
    "q12_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()),
    // §2.10 extension: tumbling-window event aggregation (batch form).
    // ts arrives as raw nanos (see Tables.load); the hour bucket is
    // emitted as a string so Spark's TIMESTAMP_LTZ vs DuckDB's naive
    // timestamp can't diverge in the compare.
    "q13_events_hourly" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("ts_utc", timestamp_micros(floor(col("ts") / lit(1000L)).cast("long")))
        .groupBy(
          date_format(date_trunc("hour", col("ts_utc")), "yyyy-MM-dd HH:mm:ss").as("h"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))),

    // sessionization (batch form of streaming/EventStream.sessions):
    // native session_window, 30-minute gap
    "q15_sessions" -> ((s, dir) => {
      import graft.streaming.EventStream
      EventStream.sessions(
          EventStream.withEventTime(t(s, dir, "events")), gap = "30 minutes")
        .select(col("user_id"),
          date_format(col("s_start"), "yyyy-MM-dd HH:mm:ss").as("s_start"),
          col("n_events"), col("session_value"))
    }),
    // S6/J4/F2: the reference's ad-hoc display query (`inference.py:85-94`)
    // — registered temp views + spark.sql, 2-way LEFT JOIN + concat label
    "q14_sql_display" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT o.o_orderkey,
          |       concat_ws(' - ', n.n_name, c.c_name) AS label
          |FROM orders o
          |LEFT JOIN customer c ON o.o_custkey = c.c_custkey
          |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey""".stripMargin)
    }),

    // ---- graph construction (G1-G8) -------------------------------
    // G1/G4: node-type inventory with counts
    "q20_node_counts" -> ((s, dir) => {
      val nodes = Topology.classify(Catalogs.tpch).nodes
      nodes.map(n => t(s, dir, n.table)
        .agg(count(lit(1)).as("n")).select(lit(n.table).as("node_type"), col("n")))
        .reduce(_ unionByName _)
    }),
    // G2/G5/J5/W2: FK edge list remapped to dense ids
    "q21_edge_list" -> ((s, dir) => edgesOrdersCustomer(s, dir)),
    // G6: degree feature (customer): incident endpoints over all edge types + 1
    "q22_degree_customer" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val g = GraphBuilder.build(Catalogs.tpch, n => t(s, dir, n), probeDense = true).addDegree
      g.nodes("customer").select(col("id"),
        element_at(col("features"), -1).cast("long").as("degree"))
    }),
    // G7/G8: reverse + self-loop invariants as a per-edge-type summary
    "q23_graph_summary" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val g = GraphBuilder.build(Catalogs.tpch, n => t(s, dir, n), probeDense = true)
        .withReverseEdges.withSelfLoops
      g.edges.toSeq.map { case (k, df) =>
        df.agg(count(lit(1)).as("n")).select(lit(k.name).as("edge_type"), $"n")
      }.reduce(_ unionByName _)
    }),
    // G9: deterministic link split (full assignment, partition-independent)
    "q24_link_split" -> ((s, dir) =>
      edgesOrdersCustomer(s, dir)
        .withColumn("split",
          when(DetRandom.uniform(col("src"), col("dst"), 42L) < 0.15, "val")
            .otherwise("train"))),
    // G11: deterministic binary negative sampling
    "q25_neg_sample" -> ((s, dir) => {
      val edges = edgesOrdersCustomer(s, dir)
      val nDst = t(s, dir, "customer").count()
      graft.learn.NegativeSampling.sample(edges, edges, nDst, seed = 7L)
    }),
    // G10: deterministic neighbor sampling (fanout per destination)
    "q26_neighbor_sample" -> ((s, dir) =>
      graft.learn.NeighborSample.sample(
        edgesOrdersCustomer(s, dir), fanout = 5, seed = 11L)),
    // G12: attention-weighted propagation (frozen GATv2 analogue).
    // Float softmax sums are float-order dependent in general — but on
    // the structural init every in-message source is a degree-1 node
    // (init exactly 2.0), the softmax degenerates to a provable closed
    // form, and the 6-dp rounding is boundary-free, so the query IS
    // hash-exact: see the q27 oracle for the proof sketch.
    "q27_attention_embed" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      // restrict BEFORE the degree init: it then counts only the two
      // customer-incident edge types instead of every edge in the graph;
      // the STRUCTURAL init keeps the node-feature lineage out of the
      // plan entirely (bit-identical to addDegree + degreeInit — integer
      // counts are exact in double)
      val g = GraphBuilder.build(Catalogs.tpch, n => t(s, dir, n), probeDense = true)
        .restrictTo(Set("customer"), hops = 1)
      val emb = graft.learn.Propagate.attentionRounds(
        g, graft.learn.Propagate.degreeInitStructuralAll(g), rounds = 1)
      emb("customer").select(col("id"),
        round(element_at(col("vec"), 1), 6).as("h"))
    }),
    // G12 oracle witness: fixed-point (scaled-long, floor-mean) propagation.
    // Integer sums are exact and order-independent, so the L-round
    // message-passing core gets a hash-exact DuckDB oracle; the float
    // softmax variant (q27) is hash-exact too via its provable
    // degenerate value on the structural init.
    // Graph: reverse edges so messages flow both ways (customer ⇄ orders),
    // restricted to the 4 edge types incident to {customer, orders}.
    "q29_propagate_fixed" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val g = GraphBuilder.build(Catalogs.tpch, n => t(s, dir, n), probeDense = true)
        .withReverseEdges
        .restrictTo(Set("customer", "orders"), hops = 1)
        .addDegree
      // flat layout: one join + two aggregations per round TOTAL (vs per
      // edge type), bit-identical to the per-type loop because integer
      // arithmetic is order-independent (LearnSpec parity); barriers per
      // round so multi-consumer reads execute the propagation once
      val emb = graft.learn.Propagate.meanRoundsFixedFlat(
        g, graft.learn.Propagate.degreeInitFixedStructural(g), rounds = 2)
      emb("customer")
        .select(lit("customer").as("node_type"), col("id"), col("h"))
        .unionByName(emb("orders")
          .select(lit("orders").as("node_type"), col("id"), col("h")))
    }),
    // S7/S8 at 100 TB + G12 end-to-end over the BUCKETED graph store:
    // save the q29 graph bucketed (nodes by id, edges by src, one bucket
    // count — memoised once per session+dir), reload from the catalog,
    // and run the same fixed-point rounds with the PER-TYPE loop, whose
    // per-round edges ⨝ src-embeddings join reads bucket i against
    // bucket i with no exchange on the |E| side (BucketedStoreSpec
    // asserts the plan shape; LearnSpec asserts per-type ≡ flat
    // bit-identical, so this shares q29's hash-exact oracle verbatim).
    "q55_propagate_bucketed" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val g = bucketedGraph(s, dir)
      // per-type loop, no barrier between rounds: the round-(r−1)
      // re-computation inside round r's plan re-reads BUCKETED scans
      // through exchange-free joins, which is cheaper than materialising
      // an eager barrier per node type at 2 AND 4 rounds (BKT_AB,
      // PROP_AB_r6.md — where the committed numbers also show this
      // store+dispatch beating the unbucketed per-type twin ~7% at 2
      // rounds and >2× at 4: the store is both a materialisation barrier
      // and a co-location guarantee).
      val emb = graft.learn.Propagate.meanRoundsFixed(
        g, graft.learn.Propagate.degreeInitFixedStructural(g), rounds = 2)
      // the propagation is lazy — time it where it executes (the caller's
      // action); save/load phases above already recorded eagerly. Bench
      // attributes whatever remains of q55's wall clock to this lazy tail,
      // so the JSON's save/load slices make the CTAS I/O share visible.
      emb("customer")
        .select(lit("customer").as("node_type"), col("id"), col("h"))
        .unionByName(emb("orders")
          .select(lit("orders").as("node_type"), col("id"), col("h")))
    }),
    // G12 attention-path oracle witness: one round of fixed-point LINEAR
    // attention (edge weight ∝ source salience h_u, exactly normalised in
    // integer arithmetic) — the same score→normalise→weighted-sum shape as
    // q27's softmax attention, but hash-exact against DuckDB. Restricted
    // to {customer, nation}: a nation aggregates its MANY diverse-h
    // customers, so the salience weighting is non-degenerate (≠ mean).
    "q46_attention_fixed" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val g = GraphBuilder.build(Catalogs.tpch, n => t(s, dir, n), probeDense = true)
        .withReverseEdges
        .restrictTo(Set("customer", "nation"), hops = 1)
        .addDegree
      // PER-TYPE loop: bit-identical to the flat fused layout (integer
      // arithmetic; LearnSpec), so the dispatch is a pure plan-shape
      // choice. Measured (PROP_AB_r6.md, committed): per-type ≈ flat
      // (3.37 vs 3.24 s warm medians, inside the ambient band) and the
      // memo-key canonicalization suspect costs ≤0.01 s — q46's floor
      // under per-pass-clear attribution is ~3.3 s of structural init +
      // per-edge-type join/agg over 6 restricted edge frames; the old
      // 2.3 s figure was r3's no-clear cache-warm methodology. Flat
      // remains the dispatch for deep multi-type propagation (q29/q43/
      // q53's 2-round, 3-type graphs, where one aggregation per round
      // replaces 2·|types|).
      val emb = graft.learn.Propagate.attentionRoundsFixed(
        g, graft.learn.Propagate.degreeInitFixedStructural(g, scale = 1000L), rounds = 1)
      emb("customer")
        .select(lit("customer").as("node_type"), col("id"), col("h"))
        .unionByName(emb("nation")
          .select(lit("nation").as("node_type"), col("id"), col("h")))
    }),
    // G12 at dim>1 under the oracle: ONE meanRounds round at WIDTH 4 —
    // the general-dim vector path (per-dim codegen SUM columns + the
    // VecCombine cross-type combine) that q29/q46/q55's scalar
    // fixed-point twins never touch. Hash-exact by CONSTRUCTION, not by
    // integer arithmetic: every init component is an integral double and
    // the per-type means are exact (customer/supplier vecs are constant
    // per src type, so mean = the constant; region→nation has exactly
    // one source row per nation, so mean = that row), hence the
    // cross-type sum is an exact integer and the final division is one
    // correctly-rounded op on identical operands in any engine. The
    // graph is nation's 1-hop in-neighborhood: customer→nation,
    // supplier→nation (FKs) and region→nation (reverse) — 3 per-type
    // means, a non-trivial n_types, 4 channels through VecCombine.
    "q61_propagate_vec4" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val g = GraphBuilder.build(Catalogs.tpch, n => t(s, dir, n), probeDense = true)
        .withReverseEdges
        .restrictTo(Set("nation"), hops = 1)
      val init = g.nodes.map { case (tn, df) =>
        val base: Column = tn match {
          case "customer" => lit(3.0)
          case "supplier" => lit(5.0)
          case _          => (col("id") + 1).cast("double") // nation self, region
        }
        tn -> df.select(col("id"),
          array(base, base * 2, base * 3, base * 7).as("vec"))
      }
      val emb = graft.learn.Propagate.meanRounds(g, init, rounds = 1, dim = 4)
      emb("nation").select(col("id"),
        element_at(col("vec"), 1).as("h1"),
        element_at(col("vec"), 2).as("h2"),
        element_at(col("vec"), 3).as("h3"),
        element_at(col("vec"), 4).as("h4"))
    }),
    // Trained-head serving (the missing reference flow: checkpoint-loaded
    // weights scoring candidates, `inference.py:30-41`): recommend orders
    // to customer 0 by `sigmoid(w·[h_s ∥ h_d ∥ h_s∘h_d] + b)` with a FROZEN
    // head over the fixed-point embeddings. Candidates = anti-join of the
    // seed's existing orders (J6); ranked by logit (monotone with score,
    // and exp-free so the oracle compares unrounded doubles).
    "q43_recommend_trained" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val g = GraphBuilder.build(Catalogs.tpch, n => t(s, dir, n), probeDense = true)
        .withReverseEdges
        .restrictTo(Set("customer", "orders"), hops = 1)
        .addDegree
      // flat layout, memo-shared with q29 (identical graph + init + rounds
      // → the propagation runs once per session across both queries)
      val emb = graft.learn.Propagate.meanRoundsFixedFlat(
        g, graft.learn.Propagate.degreeInitFixedStructural(g), rounds = 2)
      // descale the fixed-point channel into width-1 double vecs
      def vecs(tn: String) = emb(tn).select(col("id"),
        array(col("h") / lit(1000000.0)).as("vec"))
      val head = graft.learn.TrainedModel(
        Array(0.5, -0.25, 0.001), -1.0, Map.empty)
      val ordersToCust = g.edges.keys
        .find(k => k.src == "orders" && k.dst == "customer").get
      val seedOrders = g.edges(ordersToCust)
        .filter(col("dst") === 0).select(col("src").as("id"))
      val candidates = g.nodes("orders").select(col("id"))
        .join(seedOrders, Seq("id"), "left_anti")
        .select(lit(0L).as("src"), col("id").as("dst"))
      graft.learn.Scoring
        // the src key is the constant seed id, so the equi-key constant-
        // folds away — restrict the src side to the one seed row and
        // BROADCAST it (a cartesian against an unhinted 1-row frame would
        // plan as CartesianProductExec; PlanLintSpec polices this)
        .scoreEdgesModel(candidates,
          broadcast(vecs("customer").filter(col("id") === 0L)),
          vecs("orders"), head.weights, head.intercept)
        .join(g.nodes("orders").select(col("id").as("dst"),
          col("pk").cast("long").as("pk")), Seq("dst"))
        .orderBy(desc("logit"), asc("dst"))
        .limit(10)
        .select(col("dst").as("id"), col("pk"), col("logit"))
    }),
    // G15: trained link-prediction head (LR over Hadamard features).
    // The float VALUE surface (metrics of an L-BFGS fit that barely
    // beats chance on synthetic data) is legitimately uncertifiable —
    // but the CONVERGENCE CONTRACT is not, so q28 ships as an ENVELOPE
    // AUDIT (the q59 pattern): exact split/negative-sample counts the
    // oracle replays row-for-row (the q24/q25 predicates), plus integer
    // flags the oracle replays as literal-trues. Each flag is a theorem
    // of the optimizer, not a tuning observation: L-BFGS's history
    // starts at the zero-coefficient point (obj₀ = H(label prior) ≤
    // ln 2) and its line search only accepts decreases, so a fit that
    // DIVERGED, overran maxIter, or emitted an out-of-range metric
    // flips a flag to 0 and fails the hash. The float metrics stay
    // pinned by TrainSpec (ranges, determinism, store roundtrip).
    "q28_train_metrics" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val g = phase("q28 build")(
        GraphBuilder.build(Catalogs.tpch, n => t(s, dir, n), probeDense = true)
          .addDegree.withReverseEdges.withSelfLoops)
      val m = graft.learn.TrainLR.train(
        g, Topology.classify(Catalogs.tpch).edges
          .find(e => e.srcTable == "orders" && e.dstTable == "customer")
          .map(e => EdgeKey(e.srcTable, e.relation, e.dstTable)).get)
      val vm = m.valMetrics
      val inRange = Seq("accuracy", "precision", "recall", "f1").forall(k =>
        vm(k) >= 0.0 && vm(k) <= 1.0) && vm("bce") >= 0.0 && !vm("bce").isNaN
      def flag(b: Boolean) = lit(if (b) 1L else 0L)
      // split + negative-sample counts on the SAME deterministic
      // predicates TrainLR ran (seed 42 split; neg seeds 43/44) — lazy
      // aggregates, so the bench still times the counting work
      val e = edgesOrdersCustomer(s, dir)
      val u = DetRandom.uniform(col("src"), col("dst"), 42L)
      val nCust = t(s, dir, "customer").count()
      def negCount(pos: org.apache.spark.sql.DataFrame, seed: Long, as: String) =
        graft.learn.NegativeSampling.sample(pos, e, nCust, seed)
          .agg(count(lit(1)).as(as))
      e.agg(
          sum(when(u >= 0.15, 1L).otherwise(0L)).as("n_train_pos"),
          sum(when(u < 0.15, 1L).otherwise(0L)).as("n_val_pos"))
        .crossJoin(negCount(e.filter(u >= 0.15), 43L, "n_train_neg"))
        .crossJoin(negCount(e.filter(u < 0.15), 44L, "n_val_neg"))
        .select(col("n_train_pos"), col("n_val_pos"),
          col("n_train_neg"), col("n_val_neg"),
          flag(vm("fit_iters") <= 51.0).as("fit_iters_le_max"),
          flag(vm("fit_obj_final") <= vm("fit_obj_initial") + 1e-9)
            .as("fit_loss_decreased"),
          flag(vm("fit_obj_final") <= math.log(2.0) + 1e-9)
            .as("fit_beats_chance"),
          flag(inRange).as("val_metrics_in_range"))
    }),
    // A5/A6 hash-exact witness — the EVAL half of q28 with a FROZEN head
    // (q43's weights), so every float is a deterministic per-row function:
    // val positives by the q24 split predicate, q25-style deterministic
    // negatives, q43's logit arithmetic over the fixed-point embeddings
    // (memo-shared with q29/q43), then integer confusion counts (logit
    // sign test — no exp) + decimal-summed clamped BCE. q28 now carries
    // only the L-BFGS fit itself, which is legitimately unoracleable.
    "q53_eval_frozen" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val g = GraphBuilder.build(Catalogs.tpch, n => t(s, dir, n), probeDense = true)
        .withReverseEdges
        .restrictTo(Set("customer", "orders"), hops = 1)
        .addDegree
      val emb = graft.learn.Propagate.meanRoundsFixedFlat(
        g, graft.learn.Propagate.degreeInitFixedStructural(g), rounds = 2)
      val edges = edgesOrdersCustomer(s, dir)
      val valPos = edges.filter(
        DetRandom.uniform(col("src"), col("dst"), 42L) < 0.15)
      val nCust = t(s, dir, "customer").count()
      val negs = graft.learn.NegativeSampling.sample(valPos, edges, nCust, 44L)
      val labeled = valPos.withColumn("label", lit(1))
        .unionByName(negs.withColumn("label", lit(0)))
      // descale the fixed-point channel; logit mirrors q43's oracle form
      // term-for-term: ((w0·hs + w1·hd) + w2·(hs·hd)) + b
      val hs = emb("orders").select(
        col("id").as("src"), (col("h") / lit(1000000.0)).as("hs"))
      val hd = emb("customer").select(
        col("id").as("dst"), (col("h") / lit(1000000.0)).as("hd"))
      val scored = labeled.join(hs, Seq("src")).join(hd, Seq("dst"))
        .select(col("label"),
          ((((lit(0.5) * col("hs")) + (lit(-0.25) * col("hd"))) +
            (lit(0.001) * (col("hs") * col("hd")))) + lit(-1.0)).as("logit"))
      graft.learn.Scoring.confusionBce(scored)
    }),

    // ---- LLM-pipeline extension operators -------------------------
    // exact dedup: canonical doc per distinct text (hash-groupBy)
    "q30_dedup_exact" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dupes"))),
    // text quality stats: token count, alpha ratio
    "q31_text_stats" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0)))
          .cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("len"),
        round(length(regexp_replace(col("text"), "[^a-z]", ""))
          .cast("double") / length(col("text")), 6).as("alpha_ratio"))),
    // heuristic language id: stopword-token ratio
    "q32_lang_id" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("toks", regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0)))
        .select(col("doc_id"),
          when(size(filter(col("toks"), x => x === "the" || x === "a"))
            .cast("double") / size(col("toks")) > 0.05, "en")
            .otherwise("unk").as("lang_pred"))),
    // document fingerprint: md5 over whitespace-normalized text
    "q33_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        md5(regexp_replace(col("text"), "\\s+", " ")).as("fp"))),
    // near-dedup: MinHash banded LSH candidates + exact-Jaccard verify.
    // bands=32/rows=4 puts miss probability at τ=0.8 near 5e-8 (vs ~5%
    // for 16×8) — the oracle is brute force, so recall IS the gate.
    "q34_dedup_minhash" -> ((s, dir) =>
      graft.ext.Dedup.nearDupMinhash(t(s, dir, "documents"), "doc_id", "text",
        bands = 32, rows = 4)),
    // near-dedup: SimHash block candidates + exact-Jaccard verify.
    // DATA CONTRACT vs the brute-force oracle: every τ-pair of the corpus
    // must sit within maxHamming of its twin and share a 8-bit block —
    // holds for near-identical dups (the fixture plants J ≥ 0.97, hamming
    // ≲ 3 ≤ blocks−1 = pigeonhole-certain); q44 is the unconditional twin.
    "q36_dedup_simhash" -> ((s, dir) =>
      graft.ext.Dedup.nearDupSimhash(t(s, dir, "documents"), "doc_id", "text")),
    // near-dedup: prefix-filtered exact Jaccard self-join (AllPairs/PPJoin)
    // — candidates provably complete at any τ for ANY corpus, so the
    // brute-force oracle holds unconditionally (no LSH recall assumption).
    "q44_dedup_jaccard" -> ((s, dir) =>
      graft.ext.Dedup.nearDupJaccardExact(
        t(s, dir, "documents"), "doc_id", "text")),
    // BPE-ish token counting (letter runs / digits / punct as tokens)
    "q38_token_bpeish" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        size(graft.ext.Dedup.tokensBpeish(col("text"))).cast("long").as("n_bpeish"))),
    // Rabin–Karp polynomial rolling-hash fingerprint
    "q39_rolling_fp" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.ext.Dedup.rollingFingerprint(col("text")).as("fp"))),
    // entity-resolution tier of the dedup family: collapse near-dup PAIRS
    // (q44's provably-complete prefix-filter join) into GROUPS via the
    // HashMin kernel run to convergence (q86's Δ rounds, stopping on the
    // first round that changes no label). Emits every doc's canonical id
    // (min doc_id of its component; singletons stay their own canon) —
    // filtering `doc_id = canon_id` IS the dedup. Oracle: the same pairs
    // + 16 unrolled HashMin rounds.
    "q58_dedup_groups" -> ((s, dir) =>
      graft.ext.Dedup.dedupGroups(
        t(s, dir, "documents").select(col("doc_id")),
        graft.ext.Dedup.nearDupJaccardExact(
          t(s, dir, "documents"), "doc_id", "text"))),
    // dedup TELEMETRY (the report a curation run ships): the component
    // size histogram over q58's canonical groups — how many singletons,
    // pairs, triples… the near-dup pass found. Rides the memoised
    // component chain; two map-side-combined aggregates on top.
    "q130_dedup_report" -> ((s, dir) =>
      graft.ext.Dedup.dedupGroups(
        t(s, dir, "documents").select(col("doc_id")),
        graft.ext.Dedup.nearDupJaccardExact(
          t(s, dir, "documents"), "doc_id", "text"))
        .groupBy("canon_id").agg(count(lit(1)).as("grp_size"))
        .groupBy("grp_size").agg(count(lit(1)).as("n_groups"))),
    // 100 TB profiling sketches, machine-checked: the raw one-pass
    // HLL++/approx-percentile profile (ext.Sketches.profile — constant
    // per-group state where exact distinct/quantiles over 100 TB would
    // shuffle the world) is rows-only by nature (sketch encodings are
    // engine-specific), so the QUERY ships its error-envelope audit
    // instead: exact n + exact distinct users + 1/0 flags that every
    // sketch sits within its documented error (HLL within 5%, each
    // percentile inside the exact q±0.01 rank neighbourhood). The
    // oracle replays the exact side and literal-true flags — a sketch
    // outside its envelope flips a flag and fails the hash, which
    // upgrades q59 from rows-only to a CORRECTNESS-visible bounds
    // check. SketchSpec still bounds the raw profile values directly.
    "q59_sketch_profile" -> ((s, dir) =>
      graft.ext.Sketches.envelopeAudit(t(s, dir, "events"))),
    // vocabulary builder: top-100 BPE-ish tokens by corpus frequency — the
    // tokenizer-training primitive of an LLM data pipeline. Deterministic
    // total order (freq DESC, token ASC) makes the cut hash-exact; plans
    // as explode → map-side-combined count → TakeOrderedAndProject (the
    // top-k never materialises a global sort).
    "q56_vocab_topk" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(graft.ext.Dedup.tokensBpeish(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), asc("token"))
        .limit(100)),
    // quality filtering: keep documents whose length sits inside their
    // LANGUAGE group's [p10, p90] — the length-outlier removal gate of a
    // training-data pipeline, composed from the q32 language id and
    // q50-style exact type-1 quantiles (integer ranks + integer lengths,
    // so the boundary compare is engine-exact). Per-group windows: the
    // partition key is the language, the scale knob of real corpora.
    "q57_quality_filter" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))
      val stats = t(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).cast("long").as("len"),
        when(size(filter(toks, x => x === "the" || x === "a")).cast("double") /
          size(toks) > 0.05, "en").otherwise("unk").as("lang_pred"))
      val byLang = Window.partitionBy("lang_pred")
      val ranked = stats
        .withColumn("rk",
          row_number().over(byLang.orderBy(col("len"), col("doc_id"))))
        .withColumn("n", count(lit(1)).over(byLang))
      val bounds = ranked
        .groupBy("lang_pred")
        .agg(
          min(when(col("rk") === expr("(n + 9) div 10"), col("len"))).as("lo"),
          min(when(col("rk") === expr("(9 * n + 9) div 10"), col("len"))).as("hi"))
      stats.join(bounds, Seq("lang_pred"))
        .filter(col("len") >= col("lo") && col("len") <= col("hi"))
        .select(col("doc_id"), col("lang_pred"), col("len"))
    }),
    // repetition quality filter (the Gopher/C4 duplicate-n-gram rule —
    // the standard "remove boilerplate-y documents" gate of an LLM data
    // pipeline): per document, the repeated-trigram instance fraction and
    // the hottest trigram's count, as exact integers (ppm via integer
    // div), so the filter hash-verifies. Plans as explode → map-side-
    // combined count on (doc, trigram) → per-doc agg — two exchanges,
    // both on keys that grow with the corpus (the 100 TB shape).
    "q62_repetition" -> ((s, dir) => {
      val toks = regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))
      t(s, dir, "documents")
        .select(col("doc_id"), toks.as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(w) - 2)," +
            " i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1)," +
            " element_at(w, i + 2)))")).as("tri"))
        .groupBy(col("doc_id"), col("tri")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(
          sum("c").as("n_tri"),
          count(lit(1)).as("distinct_tri"),
          max("c").as("max_rep"))
        .select(col("doc_id"), col("n_tri"), col("distinct_tri"), col("max_rep"),
          expr("((n_tri - distinct_tri) * 1000000) div n_tri").as("rep_ppm"))
    }),
    // Gopher n-gram repetition coverage (Rae et al. 2021 table A1 — the
    // published boilerplate gate q62's instance counts approximate):
    // per doc, the character fraction covered by the top 2/3/4-gram and
    // by all duplicated 5..10-grams, positional-union semantics, exact
    // integer ppm. One tokenise pass + one nested-HOF occurrence
    // explode; (doc, n, gram)-keyed count + selection join, (doc, pos)
    // distinct, per-doc pivot over the 9 fixed n values.
    "q143_gopher_coverage" -> ((s, dir) => gopherCoverage(s, dir)),
    // benchmark decontamination (the eval-leakage gate every serious LLM
    // data pipeline runs): count the n-gram overlaps between each corpus
    // document and a benchmark set (stand-in: doc_id < 10). Exact string
    // n-grams, integer counts — hash-exact. n = 4 here because the
    // fixture's ~40-word vocabulary makes longer grams vanishingly rare
    // (real pipelines use 8-13; the plan is n-independent). Scale shape:
    // the corpus-side gram inventory explodes ~|tokens| rows and dedups
    // per (doc, gram) with one exchange; the benchmark side is tiny by
    // definition, so Catalyst broadcasts it into the overlap join and
    // the corpus side never shuffles again — at 100 TB the cost is the
    // one dedup exchange, exactly the minimum the semantics need.
    "q63_decontam" -> ((s, dir) => {
      val toks = regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))
      val grams = t(s, dir, "documents")
        .select(col("doc_id"), toks.as("w"))
        .filter(size(col("w")) >= 4)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(w) - 3)," +
            " i -> concat_ws(' ', slice(w, i, 4)))")).as("g"))
        .distinct()
      val benchGrams = grams.filter(col("doc_id") < 10)
        .select(col("g")).distinct()
      grams.filter(col("doc_id") >= 10)
        .join(benchGrams, Seq("g"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    }),
    // data mixing (training-mixture construction): deterministically
    // admit documents per language until that language's TOKEN budget
    // fills — the op that turns per-source corpora into a weighted
    // training mix. Admission order is the partition-independent
    // DetRandom rank, the gate is a cumulative integer token sum, so
    // membership is exact and hash-verifies. ext.Sampling.budgeted runs
    // it WITHOUT a per-group cumulative window (which would funnel a
    // whole language through one task at corpus scale): range-partition
    // + broadcast per-partition offsets + local windows, the dense-id
    // ranker's trick — SamplingSpec asserts equality with the naive
    // window, and the oracle IS that naive window.
    "q64_data_mixing" -> ((s, dir) => {
      val toks = regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))
      val stats = t(s, dir, "documents").select(
        col("doc_id"),
        size(toks).cast("long").as("n_tok"),
        when(size(filter(toks, x => x === "the" || x === "a")).cast("double") /
          size(toks) > 0.05, "en").otherwise("unk").as("lang_pred"))
      graft.ext.Sampling.budgeted(stats, "lang_pred", "doc_id", "n_tok",
        budget = when(col("lang_pred") === "en", lit(3000L)).otherwise(lit(1000L)),
        seed = 42L)
        .select(col("doc_id"), col("lang_pred"), col("n_tok"),
          col("cum_w").as("cum_tok"))
    }),
    // sequence packing (concat-and-chunk batch assembly): lay the corpus
    // out in one seeded deterministic order, conceptually concatenate the
    // token streams, cut every 512 tokens — each document's global start
    // offset and chunk span, computed from token COUNTS only (the tokens
    // never materialise). The global prefix sum is Sampling.runningSum's
    // range-partition + broadcast-offsets kernel with no group column, so
    // the single global sequence parallelises instead of funnelling the
    // corpus through one cumulative-window task; the oracle IS that naive
    // window. Integer offsets → hash-exact.
    "q65_seq_packing" -> ((s, dir) => {
      val toks = regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))
      val stats = t(s, dir, "documents")
        .select(col("doc_id"), size(toks).cast("long").as("n_tok"))
        .filter(col("n_tok") > 0)
      graft.ext.Packing.concatChunk(stats, "doc_id", "n_tok",
        chunkTokens = 512L, seed = 7L)
    }),
    // per-document STRIDE chunking with overlap (ext.Packing.
    // strideChunks): 32-token windows every 24 tokens (8-token overlap)
    // — the retrieval/context chunk table, where q65 lays out the
    // corpus-level concat stream. Works off token counts only, one
    // row-local sequence+explode, zero exchanges.
    "q122_doc_chunks" -> ((s, dir) => {
      val toks = regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))
      graft.ext.Packing.strideChunks(
        t(s, dir, "documents")
          .select(col("doc_id"), size(toks).cast("long").as("n_tok")),
        "doc_id", "n_tok", windowTokens = 32L, stride = 24L)
    }),
    // deterministic weighted PRIORITY sampling (ext.Sampling.
    // prioritySample, Duffield et al. 2007): top-200 docs by w/u
    // priority with token-count weights — inclusion tracks weight,
    // reproducible from (data, seed); exact integer priorities, planned
    // as one row-local projection + TakeOrderedAndProject.
    "q127_priority_sample" -> ((s, dir) => {
      val toks = regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))
      graft.ext.Sampling.prioritySample(
        t(s, dir, "documents")
          .select(col("doc_id"), size(toks).cast("long").as("n_tok")),
        "doc_id", "n_tok", k = 200, seed = 7L)
    }),
    // PII anonymization (the pre-training privacy pass): keyed SHA-256
    // pseudonymization of the name (joinable, irreversible without the
    // pepper), digit-run redaction with an audit count, and k-anonymity-
    // style generalization of the balance into $100 buckets in exact
    // integer-cents arithmetic. All row-local codegen'd expressions — at
    // 100 TB this is one pass fused into the scan. Hash-exact: DuckDB's
    // sha256 produces the same lowercase hex as Spark's sha2(_, 256).
    "q66_pii_mask" -> ((s, dir) => {
      import graft.ext.Privacy
      t(s, dir, "customer").select(
        col("c_custkey"),
        Privacy.pseudonym(col("c_name"), "pepper7").as("pseudonym"),
        Privacy.redactDigits(col("c_name"), 3).as("name_redacted"),
        Privacy.countDigitRuns(col("c_name"), 3).as("n_redactions"),
        Privacy.moneyBucketLo(col("c_acctbal"), 100).as("bal_bucket_lo"),
        col("c_nationkey"), col("c_mktsegment"))
    }),
    // exact substring (span-level) dedup — Lee et al. 2021's ExactSubstr
    // tier, the one dedup granularity between whole-doc (q30/q44) and
    // within-doc repetition (q62): per document, the fraction of its
    // token stream covered by an 8-token span that occurs more than once
    // anywhere in the corpus. Exact integer coverage via one lag-window
    // interval merge — hash-exact. k = 8 fits the fixture's tiny
    // vocabulary (real pipelines use ~50); the plan is k-independent.
    "q67_dup_spans" -> ((s, dir) =>
      graft.ext.Dedup.dupSpanStats(t(s, dir, "documents"), "doc_id", "text", k = 8)),
    // k-NN graph construction over the fixed-point IVF: every vector's
    // top-10 neighbors through its nProbe=4 probed centroid lists —
    // |V|·nProbe·listsize candidate pairs, never all-pairs; the fit,
    // probe selection, and exact-cosine ranking all replay in the oracle
    "q71_knn_graph" -> ((s, dir) =>
      graft.ext.Similarity.knnGraphFixed(
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 10)),
    // one NN-descent refinement round over q71's graph: re-rank
    // (neighbors ∪ neighbors-of-neighbors) by exact cosine — the cheap
    // recall lift; candidates ≤ k + k² per vector at any corpus size
    "q72_knn_refine" -> ((s, dir) =>
      graft.ext.Similarity.knnRefineFixed(
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 10)),
    // SQL OLAP surface: ROLLUP over (returnflag, linestatus) — detail,
    // subtotal, and grand-total rows in ONE pass with the grouping_id
    // disambiguator. Catalyst plans rollup as a single Expand + one
    // map-side-combined aggregate exchange, so the three grouping
    // levels cost one shuffle, not three scans — at 100 TB the Expand
    // triples rows BEFORE the partial agg collapses them per partition
    "q84_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_rows"),
          dsum(col("l_extendedprice")).as("sum_price"))),
    // BM25 term ranking (ext.Ranking): the Okapi tf-saturation ×
    // integer idf, every factor in exact scaled-long arithmetic with
    // documented floor points — the retrieval-indexing twin of q49's
    // TF-IDF, same one-exchange plan shape
    "q85_bm25" -> ((s, dir) =>
      graft.ext.Ranking.bm25TopTerms(
        t(s, dir, "documents"), "doc_id", "text", k = 3)),
    // bounded HashMin connected components (5 min-label rounds) over
    // the co-purchase graph — the bounded form of the kernel behind
    // q58's converged components, exact for components of
    // diameter ≤ 5, oracle-unrolled like the q76/q77 family
    "q86_cc_bounded" -> ((s, dir) =>
      graft.graph.Analytics.connectedComponentsBounded(
        partPairs(s, dir), rounds = 5, assumeCanonical = true)),
    // per-source corpus card (the "data card" audit every training mix
    // ships with): docs, chars, tokens, language spread, exact-dup
    // incidence, floored mean length — the dup probe joins on sha2(text)
    // so the shuffle key is 32 bytes, never the document payload
    "q87_corpus_card" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(
        col("doc_id"), col("source"), col("lang"), col("n_chars"),
        size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0)))
          .cast("long").as("n_tok"),
        sha2(col("text"), 256).as("h"))
      val dup = d.groupBy("h").agg(count(lit(1)).as("c"))
      d.join(dup, Seq("h"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("n_tok")).as("sum_tok"),
          countDistinct(col("lang")).as("n_langs"),
          sum(when(col("c") > 1, lit(1L)).otherwise(lit(0L))).as("n_dup_docs"))
        .select(col("source"), col("n_docs"), col("sum_chars"),
          col("sum_tok"), col("n_langs"), col("n_dup_docs"),
          expr("sum_tok div n_docs").as("mean_tok"))
    }),
    // trailing-window z-test anomaly flags per user (ext.Anomaly): the
    // integer-exact  (n·x−s1)² > θ²(n·s2−s1²)  test — no division, no
    // sqrt, so the flag hash-verifies where a float stddev never could
    "q88_anomaly" -> ((s, dir) =>
      graft.ext.Anomaly.zFlags(
        t(s, dir, "events"), "user_id", "ts", "event_id", "value")
        .select(col("user_id"), col("event_id"), col("cents"),
          col("n_win"), col("dev_sq"), col("var_thresh"),
          col("is_anomaly").cast("long").as("is_anomaly"))),
    // SymSpell fuzzy entity matching (ext.Fuzzy): all customer-name
    // pairs within edit distance 1 via complete deletion-neighbourhood
    // candidates + exact levenshtein verify — the string-side complement
    // of q58's id-graph entity resolution
    "q89_fuzzy_names" -> ((s, dir) => fuzzyPairs(s, dir)),
    // the composition: q89's edit-distance pairs collapsed into entity
    // GROUPS by 3 bounded HashMin rounds — fuzzy-match → cluster →
    // canonical id, the full entity-resolution flow in two operators;
    // only matched names appear (isolated names need no resolution)
    "q90_fuzzy_groups" -> ((s, dir) =>
      graft.graph.Analytics.connectedComponentsBounded(
        fuzzyPairs(s, dir),
        srcCol = "id_a", dstCol = "id_b", rounds = 3)),
    // bounded multi-source BFS: hop distance ≤ 3 from the 10 hottest
    // co-purchase hubs (deg desc, id tie-break) — measures the k-hop
    // receptive field the propagation family's restrictTo carves out;
    // textbook frontier rounds, oracle-unrolled layers
    "q92_bfs_hops" -> ((s, dir) => {
      val pp = partPairs(s, dir)
      val deg = pp.select(col("src").as("id"))
        .union(pp.select(col("dst").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      val seeds = deg.orderBy(desc("deg"), asc("id")).limit(10).select("id")
      graft.graph.Analytics.bfsBounded(
        pp, seeds, rounds = 3, assumeCanonical = true)
    }),
    // bounded weighted shortest paths (3 Bellman-Ford relaxations) from
    // the same 10 hubs as q92, over the co-purchase graph with integer
    // cost 10^6 div support — strongly-supported associations are cheap,
    // so dist ranks how tightly a part is tethered to the hub set (q92
    // weighs the hops it merely counts). partPairsWeighted's (a,b) set
    // IS partPairs' set, so the degree-ranked seeds coincide with q92's
    // and both rides share the memoised pair build
    "q94_sssp_support" -> ((s, dir) => {
      val pw = partPairsWeighted(s, dir)
      val deg = pw.select(col("a").as("id"))
        .union(pw.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      val seeds = deg.orderBy(desc("deg"), asc("id")).limit(10).select("id")
      graft.graph.Analytics.ssspBounded(
        pw.select(col("a"), col("b"), expr("1000000L div w").as("cost")),
        seeds, srcCol = "a", dstCol = "b", rounds = 3,
        assumeCanonical = true)
    }),
    // distribution drift between the stream's first two weeks (ext.Drift):
    // per event type, hour-of-day histograms of week 0 vs week 1 in ppm
    // rates, scored as exact total-variation + χ²-shaped divergence —
    // the admit-this-period? monitor, log-free so the oracle replays it.
    // Later weeks (incl. the partial trailing one) fall outside {0,1}
    // and are ignored by contract; the corpus min-ts anchor is a 1-row
    // broadcast; the input is scanned once
    "q95_drift" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("event_type"),
        expr("ts div 1000").as("us"))
      val mn = e.agg(min(col("us")).as("mn"))
      val binned = e.crossJoin(broadcast(mn)).select(
        col("event_type"),
        expr("(us div 3600000000) % 24").as("hour_bin"),
        expr("(us - mn) div 604800000000").as("week"))
      graft.ext.Drift.score(binned, "event_type", "hour_bin", "week")
        .select(col("grp").as("event_type"), col("n1"), col("n2"),
          col("n_bins"), col("tv_ppm"), col("chi2_fp"))
    }),
    // per-dimension corpus feature audit (ext.Stats.dimStats): exact
    // integer n/sum/mean/min/max/second-moment per embedding dimension
    // over the scaled-long image — dead-dim and scale-imbalance checks
    // before clustering/quantizing; one posexplode + one map-side-
    // combined groupBy(dim), the exchange moves O(dims) rows
    "q93_dim_stats" -> ((s, dir) =>
      graft.ext.Stats.dimStats(t(s, dir, "embeddings"), "embedding")),
    // symmetric int8 quantization of the embedding corpus (ext.Quantize):
    // per-vector amax scale, sign-folded integer code and reconstruction
    // error — the ANN index-compression codec as a pure row-local
    // codegen projection (no exchange anywhere), oracle-replayed per
    // (vector, dimension) element
    "q96_quantize_int8" -> ((s, dir) =>
      graft.ext.Quantize.int8Rows(
        t(s, dir, "embeddings"), "vec_id", "embedding")),
    // the dedup RETENTION policy (ext.Dedup.canonicalDocs): q58's
    // components collapsed to their best representative — highest
    // n_chars, doc_id tiebreak — with exact group totals; the winner
    // rank plans as WindowGroupLimit so hot groups never materialise
    "q97_canonical_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val groups = graft.ext.Dedup.dedupGroups(
        docs.select(col("doc_id")),
        graft.ext.Dedup.nearDupJaccardExact(docs, "doc_id", "text"))
      graft.ext.Dedup.canonicalDocs(groups,
        docs.select(col("doc_id"), col("n_chars").cast("long").as("quality")),
        "quality")
    }),
    // JL random projection to 8 dims with ±1 signs (ext.Projection,
    // Achlioptas 2003) — the cheap-sketch reduction before prefiltering
    // or routing; the DetRandom-derived sign matrix is dims×8 constants
    // folded into the expression tree, the projection a pure row-local
    // codegen pass (no join, no shuffle), exact integers both engines
    "q98_random_projection" -> ((s, dir) =>
      graft.ext.Projection.project(t(s, dir, "embeddings"),
        "vec_id", "embedding", dims = 64, outDims = 8, seed = 77L)),
    // collocation mining (ext.Ranking.collocations): adjacent-bigram
    // lift — the exact monotone image of PMI — with slot-count
    // marginals and a ≥5 support floor; ONE tokenise pass into the
    // checkpointed bigram count frame, marginals derive from it
    "q99_collocations" -> ((s, dir) =>
      graft.ext.Ranking.collocations(
        t(s, dir, "documents"), "doc_id", "text")),
    // recency-weighted engagement (the freshness weighting a training
    // mix applies to interaction data): per user, event values decayed
    // by one halving per 7 days of age — weight 2^-(age div 7d) as an
    // integer shift, so the decayed sum is exact where exponential
    // float decay never replays. The corpus max-ts anchor is a 1-row
    // broadcast; one groupBy, no window, no join on data rows
    "q91_decayed_engagement" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"),
        expr("ts div 1000").as("us"))
      val mx = e.agg(max(col("us")).as("mx"))
      e.crossJoin(broadcast(mx))
        .select(col("user_id"), col("cents"),
          expr("(mx - us) div 604800000000").as("k"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(col("cents")).as("cents_total"),
          sum(expr("cents div shiftleft(1L, cast(k as int))")).as("cents_decayed"))
    }),
    // daily cohort retention: first-activity-day cohorts × active-day
    // offsets, exact distinct-user counts (UTC day convention both sides)
    "q82_retention" -> ((s, dir) =>
      graft.ext.Funnel.retention(
        t(s, dir, "events").withColumn("day",
          to_date(timestamp_micros((col("ts") / 1000L).cast("long")))),
        "user_id", "day")),
    // ordered view→click→purchase funnel per user (strictly-after,
    // first qualifying occurrence per step) — exact reach counts
    "q81_funnel" -> ((s, dir) =>
      graft.ext.Funnel.funnel(
        t(s, dir, "events"), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))),
    // first-order Markov transition matrix over per-user event
    // sequences (ts, event_id tie-break) — exact-integer row-normalised
    // probabilities; the behavioural twin of q15's sessionization
    "q80_markov_trans" -> ((s, dir) =>
      graft.ext.Markov.transitions(
        t(s, dir, "events"), "user_id", "ts", "event_id", "event_type")),
    // pairwise association rules over order baskets: support ≥ 2 part
    // pairs with exact-integer confidence (both directions) and lift —
    // the co-occurrence weights q74-q78's unweighted graph drops
    "q79_assoc_rules" -> ((s, dir) =>
      graft.ext.Association.pairRules(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        pairSupports = Some(partPairsWeighted(s, dir)))),
    // bigram-LM fluency score (the CCNet/KenLM quality-filter shape) in
    // exact scaled integers — Laplace-smoothed corpus bigram MLE, per-doc
    // floored mean; see ext.Selection.lmScore
    "q75_lm_quality" -> ((s, dir) =>
      graft.ext.Selection.lmScore(t(s, dir, "documents"), "doc_id", "text")),
    // token-budget greedy admission (ext.Selection.budgetSelect): rank
    // by exact-integer type–token ratio, admit top-down until the token
    // budget is spent. The cumulative sum is computed WITHOUT the
    // single-partition global window — Sampling.runningSum's range-
    // partition + broadcast-offsets kernel (q65's), bit-equal to the
    // global order
    "q145_token_budget" -> ((s, dir) =>
      graft.ext.Selection.budgetSelect(
        t(s, dir, "documents"), "doc_id", "text", budgetTokens = 15000L)),
    // Gopher table-A1 composite quality GATE (ext.Filters.gopherGate):
    // word count, mean word length, alphabetic share, distinct stop
    // words — per-rule flags + the conjunction verdict, all row-local
    // over one pruned scan (zero exchanges)
    "q146_gopher_gate" -> ((s, dir) =>
      graft.ext.Filters.gopherGate(t(s, dir, "documents"), "doc_id", "text")),
    // the FULL Gopher table-A1 gate (ext.Filters.gopherFull — r14
    // verdict Missing #3): q146's structural rules composed with q143's
    // repetition coverages under cuts recalibrated for the
    // positional-union variant (Filters.RepetitionCuts documents the
    // calibration: ~p95 of the STRUCTURAL-PASSER subpopulation for
    // top-2/3/4 — whole-corpus transfer lands every rejection inside
    // docs the structural rules already drop, measured rep-only-fail=0
    // — published fractions carried over for the fixture-silent
    // dup-5..10). Emits
    // every signal, all 13 per-rule flags, and the composite keep; one
    // doc_id join between two doc-partitioned frames
    "q153_gopher_full" -> ((s, dir) =>
      graft.ext.Filters.gopherFullFrom(
        graft.ext.Filters.gopherGate(t(s, dir, "documents"), "doc_id", "text"),
        gopherCoverage(s, dir))),
    // the full Gopher gate over a BOILERPLATE-BEARING corpus leg (r15
    // verdict Next #4 — the fixture corpus contains no duplicated
    // 5..10-gram anywhere, so q153's six dup flags had never fired
    // under the oracle): the doc_id ≡ 0 (mod 5) slice, where every
    // doc_id ≡ 0 (mod 10) doc carries the [[Boilerplate]] block
    // appended TWICE — the header/footer shape real boilerplate takes —
    // so every 5..10-gram of the block occurs exactly twice and the dup
    // coverages land at the block's char share (far above the published
    // cuts at fixture doc lengths), while the top-2/3/4 coverages (ONE
    // gram × 2 occurrences) stay below their cuts; the doc_id ≡ 5
    // (mod 10) half keeps its original text, so every dup flag takes
    // BOTH values inside this one query. `rep_only_fail` makes the
    // judged claim a column: structural + top flags all pass AND some
    // dup flag fails — measured > 0 at every SF (the doc a real
    // corpus' dup rules exist to reject).
    "q166_gopher_boilerplate" -> ((s, dir) => {
      val bp = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(5)) === 0)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(10)) === 0,
            concat(col("text"), lit(Boilerplate), lit(Boilerplate)))
            .otherwise(col("text")).as("text"))
      val structTop = Seq("f_ntok", "f_mtl", "f_alpha", "f_stop",
        "f_top2", "f_top3", "f_top4").map(col).reduce(_ * _)
      val dupProd = Seq("f_dup5", "f_dup6", "f_dup7", "f_dup8",
        "f_dup9", "f_dup10").map(col).reduce(_ * _)
      graft.ext.Filters.gopherFull(bp, "doc_id", "text")
        .withColumn("rep_only_fail", structTop * (lit(1L) - dupProd))
    }),
    // deterministic training-shard layout (ext.Packing.shardLayout):
    // seeded shard draw + within-shard deterministic shuffle + token
    // offset ledger; per-shard running sums ride the runningSum kernel
    // (range partition + broadcast offsets), never one window task per
    // shard
    "q148_shard_layout" -> ((s, dir) =>
      graft.ext.Packing.shardLayout(
        t(s, dir, "documents"), "doc_id", "text", shards = 8, seed = 42L)),
    // the materialised training-shard SINK (ext.Packing.writeShards):
    // q148's shard ordering composed with q65's concat-and-chunk
    // packing, evaluated to REAL token sequences, WRITTEN one parquet
    // file per shard and read back — the q55 graph-sink treatment for
    // the pipeline's terminal artifact. The oracle recomputes the
    // sequences from `documents` directly, so the hash match certifies
    // write + re-read ≡ the pure layout function
    "q151_shard_write" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q151").toString
      try
        graft.ext.Packing.writeShards(
          t(s, dir, "documents"), "doc_id", "text",
          shards = 8, seqTokens = 256L, seed = 42L,
          outDir = s"$tmp/shards")
          .localCheckpoint(eager = true) // materialise before cleanup
      finally {
        val p = java.nio.file.Paths.get(tmp)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }),
    // fill-in-the-middle transform (ext.Packing.fimSplit): two seeded
    // cuts over [0, n] per document → (prefix, middle, suffix) token
    // strings; row-local, zero exchanges
    "q149_fim_split" -> ((s, dir) =>
      graft.ext.Packing.fimSplit(
        t(s, dir, "documents"), "doc_id", "text", seed = 42L)),
    // triangle counts + local clustering coefficient (scaled-integer)
    // over the part co-purchase graph (parts sharing an order) — degree
    // orientation bounds wedge fan-out by O(√|E|) (arboricity), so the
    // plan survives power-law hubs; oracle replays the same orientation
    "q74_triangles" -> ((s, dir) =>
      graft.graph.Analytics.triangleStats(
        partPairs(s, dir), assumeCanonical = true,
        tris = Some(partTriangles(s, dir)))),
    // per-edge common-neighbour count + neighbourhood Jaccard (scaled
    // integers) — the classic structural link-prediction features; the
    // triangle-through-edge count rides the same degree-oriented
    // enumeration as q74
    "q78_edge_jaccard" -> ((s, dir) =>
      graft.graph.Analytics.edgeJaccard(
        partPairs(s, dir), assumeCanonical = true,
        tris = Some(partTriangles(s, dir)))),
    // weighted PageRank: the co-purchase graph weighted by pair
    // support (q79's co-occurrence counts) — the surfer follows edges
    // proportionally to how often the parts co-occur; scale 10^9
    // leaves 17·|V|·scale·wmax comfortably inside 2^63
    "q83_pagerank_weighted" -> ((s, dir) => {
      val pw = partPairsWeighted(s, dir)
      val sym = pw.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .unionByName(pw.select(col("b").as("src"), col("a").as("dst"), col("w")))
      graft.graph.Analytics.pageRankFixed(
        sym, scale = 1000000000L, weightCol = Some("w"))
    }),
    // bounded k-core peeling (k=10, 3 rounds) over the same part
    // co-purchase graph — the dense-core extraction tier; survivors
    // with their induced degree, recurrence unrolled in the oracle
    "q76_kcore" -> ((s, dir) =>
      graft.graph.Analytics.kCoreBounded(
        partPairs(s, dir), k = 10, rounds = 3, assumeCanonical = true)),
    // deterministic label propagation (3 synchronous rounds, min-label
    // tie-break) over the co-purchase graph — community detection;
    // the random-tie-break original could never be oracle-checked
    "q77_label_prop" -> ((s, dir) =>
      graft.graph.Analytics.labelPropagation(
        partPairs(s, dir), rounds = 3, assumeCanonical = true)),
    // fixed-point PageRank (3 damped rounds, scaled integers) over the
    // part↔supplier purchase graph — disjoint even/odd node id spaces,
    // symmetrized distinct edges, dangling mass dropped; the oracle
    // replays the exact recurrence with unrolled CTEs
    "q73_pagerank" -> ((s, dir) => {
      val fwd = t(s, dir, "lineitem")
        .select((col("l_partkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst")).distinct()
      graft.graph.Analytics.pageRankFixed(
        fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst"))))
    }),
    // PERSONALIZED PageRank (graph.Analytics.personalizedPageRankFixed,
    // topic-sensitive PPR): restart mass lands only on a seed set (every
    // 50th part node of q73's bipartite graph), so rank concentrates in
    // the seeds' ≤3-hop ball — the graph-recommendation / PPR-GNN
    // neighbour-selection primitive. Broadcast seed indicator; each
    // round moves only the nonzero frontier.
    "q123_ppr" -> ((s, dir) => {
      val fwd = t(s, dir, "lineitem")
        .select((col("l_partkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst")).distinct()
      val edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = edges.select(col("src").as("id")).distinct()
        .filter(col("id") % 100 === 0)
      graft.graph.Analytics.personalizedPageRankFixed(edges, seeds)
    }),
    // DSIR-shaped data selection (Xie et al. 2023): score each doc by
    // its hashed-unigram profile vs the 'en' target slice — the add-one
    // smoothed target/raw ratio per bin in scaled integers (log-free,
    // so a second engine hash-matches where a float log-sum never could)
    "q70_dsir_weights" -> ((s, dir) =>
      graft.ext.Selection.dsirWeights(
        t(s, dir, "documents"), "doc_id", "text", col("lang") === "en")),
    // the apply half of q67: cut every corpus-duplicated 8-token span
    // out of the documents (Lee et al. 2021's ExactSubstr removal) —
    // merged intervals per doc via one gaps-and-islands pass over dup
    // starts, then a single index-aware HOF filter over the token array;
    // the cleaned text itself is hash-compared against the oracle
    "q69_dup_span_removal" -> ((s, dir) =>
      graft.ext.Dedup.dupSpanRemove(t(s, dir, "documents"), "doc_id", "text", k = 8)),
    // semantic dedup (SemDeDup, Abbas et al. 2023): k-means-clustered
    // embedding space, min-id-wins drop above an exact fixed-point
    // similarity threshold. τ = 0.30×10¹² is aggressive for the
    // fixture's spread-out random embeddings (real pipelines use ~0.95
    // ×10¹²) so the drop path actually exercises; the plan shape is
    // τ-independent. Fit + assignment + drops all replay in the oracle.
    "q68_semantic_dedup" -> ((s, dir) =>
      graft.ext.Similarity.semanticDedup(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        simThresholdFixed = 300000000000L)),
    // multimodal plumbing: binary payload + metadata-only decode + frame
    // sampling (decode kernel is a documented stub — container has no
    // codecs; the column-side arithmetic is the oracle-checked part)
    "q37_multimodal" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      val p = Multimodal.withPayload(t(s, dir, "documents"), "text")
      val nb = col("meta.n_bytes")
      val (w, h, f) = Multimodal.fakeDims(nb)
      p.select(col("doc_id"), nb.as("n_bytes"), w.as("width"), h.as("height"),
        f.as("n_frames"),
        // string-join the offsets: array columns don't survive the driver's
        // sort-rows-then-hash compare
        concat_ws(",", Multimodal.frameOffsets(f, 2)).as("frames"))
    }),
    // hyperplane-LSH embedding near-dup: bucket candidates + exact cosine
    "q40_embed_neardup" -> ((s, dir) =>
      graft.ext.Similarity.nearDupCosine(
        t(s, dir, "embeddings"), "vec_id", "embedding", tau = 0.4)
        .withColumnRenamed("id_a", "vec_a").withColumnRenamed("id_b", "vec_b")),
    // LSH-bucketed approximate top-k (the scale path for q35)
    "q41_ann_lsh" -> ((s, dir) =>
      graft.ext.Similarity.annTopK(
        t(s, dir, "embeddings"), "vec_id", "embedding", queryId = 0L, k = 10)),
    // IVF approximate top-k (seeded-centroid inverted lists, nProbe=4)
    "q42_ann_ivf" -> ((s, dir) =>
      graft.ext.Similarity.ivfTopK(
        t(s, dir, "embeddings"), "vec_id", "embedding", queryId = 0L, k = 10)),
    // IVF over REAL k-means centroids — the quality tier of q42, now
    // HASH-EXACT: the fit is distributed Lloyd's in integer fixed-point
    // (scaled-long image, exact integer distances, floor-mean updates,
    // long vector sums, deterministic ties/init), so the DuckDB oracle
    // replays the whole 3-iteration fit bit-for-bit. The float Spark ML
    // twin stays as the spec-compared semantic reference in
    // ext.Similarity.ivfTopKKMeans.
    "q45_ann_ivf_kmeans" -> ((s, dir) =>
      graft.ext.Similarity.ivfTopKKMeansFixed(
        t(s, dir, "embeddings"), "vec_id", "embedding", queryId = 0L, k = 10)),
    // IVF index-health audit (ext.Similarity.ivfListStats): per-list
    // population + the FAISS imbalance factor K*sum(n^2)/(sum n)^2 as
    // an exact ppm integer — the number index-ops watch because a hot
    // inverted list serializes every probing query. Rides q45's
    // memoised fixed k-means fit; one assignment pass + K-row math.
    "q128_ivf_imbalance" -> ((s, dir) =>
      graft.ext.Similarity.ivfListStats(
        t(s, dir, "embeddings"), "vec_id", "embedding")),
    // PQ DISTORTION audit (ext.Similarity.pqDistortion): per-block
    // TRAINED document-quality classifier, fit half (the fastText/CCNet
    // quality-filter recipe over weak heuristic labels): hashed token
    // features -> logistic head. Envelope oracle per the q28 discipline —
    // deterministic split/label counts + theorem-backed fit flags; the
    // L-BFGS float surface itself is legitimately unoracleable.
    "q134_quality_train" -> ((s, dir) =>
      graft.ext.QualityClassifier.trainQuality(
        t(s, dir, "documents"), "doc_id", "text")),
    // quality classifier, serving half: FROZEN integer head over the
    // integer-exact features — the whole scored corpus is hash-exact
    // (the q43/q53 frozen-head discipline).
    "q135_quality_scored" -> ((s, dir) =>
      graft.ext.QualityClassifier.scoreFrozen(
        t(s, dir, "documents"), "doc_id", "text")),
    // reliability-diagram calibration table of the frozen head: 500k-wide
    // integer score bins (engine-agnostic floor binning) -> per-bin doc
    // count / weak-positive count / ppm rate. One map-side-combined
    // aggregate; <= #bins rows move.
    "q136_quality_calibration" -> ((s, dir) =>
      graft.ext.QualityClassifier.calibration(
        t(s, dir, "documents"), "doc_id", "text")),
    // reconstruction SSE/MSE of the trained product quantizer over the
    // scaled integer image — FAISS's PQ training error, the retrain
    // signal, localised to the worst-served subspace. Rides q100's
    // memoised codebook fit; one assignment pass + 8-row arithmetic.
    "q131_pq_distortion" -> ((s, dir) =>
      graft.ext.Similarity.pqDistortion(
        t(s, dir, "embeddings"), "vec_id", "embedding")),
    // corpus n-gram COMMONNESS per doc (boilerplate/memorization
    // signal): the ppm share of a doc's distinct trigram TYPES that are
    // corpus-common (type df >= 10 docs) — the q62 within-doc repetition
    // lens turned ACROSS documents. One type explode + df aggregate +
    // per-doc count; the df side joins on the trigram key.
    "q132_ngram_commonness" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tri = docs.select(col("doc_id"),
          expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
          .as("tri"))
        .distinct()
      val df = tri.groupBy("tri").agg(count(lit(1)).as("df"))
      tri.join(df, Seq("tri"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_types"),
          sum(when(col("df") >= 10, 1L).otherwise(0L)).as("n_common"))
        .select(col("doc_id"), col("n_types"), col("n_common"),
          expr("(n_common * 1000000) div n_types").as("common_ppm"))
    }),
    // near-dup PROVENANCE matrix (where duplication comes from): q44's
    // exact-Jaccard pairs bucketed by unordered source pair — the
    // cross-source leakage report (same-source dup is re-posting;
    // cross-source dup is syndication/contamination). Rides the
    // memoised pair build; two doc->source joins + one count. The
    // doc->source side is |docs|-scale, so it carries NO broadcast hint:
    // it is a plain parquet projection whose size statistics Catalyst
    // sees, so the fixture plan still broadcasts it under the auto
    // threshold while a 100 TB corpus degrades to the shuffled join
    // (the pairs side is near-empty and AQE flips the build side then).
    "q133_dup_provenance" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val src = docs.select(col("doc_id"), col("source"))
      graft.ext.Dedup.nearDupJaccardExact(docs, "doc_id", "text")
        .join(src.select(col("doc_id").as("doc_a"),
          col("source").as("sa")), Seq("doc_a"))
        .join(src.select(col("doc_id").as("doc_b"),
          col("source").as("sb")), Seq("doc_b"))
        .select(least(col("sa"), col("sb")).as("src_a"),
          greatest(col("sa"), col("sb")).as("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
    }),
    // temperature-balanced mixing quotas (ext.Selection.
    // temperatureQuotas, the mBERT/XLM-R/mT5 alpha-sampling rule at
    // alpha = 1/2): per-source isqrt(token-mass) weights, a 10k budget
    // split by largest-remainder apportionment — deterministic integer
    // quotas summing to exactly the budget, up-weighting low-resource
    // sources. One per-group aggregate; nothing else moves.
    "q129_temperature_mix" -> ((s, dir) =>
      graft.ext.Selection.temperatureQuotas(
        t(s, dir, "documents"), "source", "text", budget = 10000L)),
    // PQ/ADC top-k (Jégou et al. 2011): per-block integer codebooks,
    // 8-byte codes, query-side asymmetric-distance table — the
    // memory-bounded ANN serving tier above the IVF pair; codebooks,
    // codes, ADC table and ranking are all integer-exact, so the oracle
    // replays the entire pipeline (8 unrolled per-block Lloyd's chains)
    "q100_ann_pq" -> ((s, dir) =>
      graft.ext.Similarity.pqTopKFixed(
        t(s, dir, "embeddings"), "vec_id", "embedding", queryId = 0L, k = 10)),
    // PQ recall vs the exact brute-force top-k — the q51/q54 discipline
    "q101_ann_pq_recall" -> ((s, dir) =>
      graft.ext.Similarity.pqRecallFixed(
        t(s, dir, "embeddings"), "vec_id", "embedding", queryId = 0L, k = 10)),
    // IVF+PQ composed serving (FAISS's IVFPQ shape, non-residual): the
    // coarse k-means fit prunes to nProbe inverted lists, the ADC table
    // scores only the survivors — a query touches ~nProbe/nCentroids of
    // the 8-byte codes and never a raw vector
    "q102_ann_ivfpq" -> ((s, dir) =>
      graft.ext.Similarity.ivfPqTopKFixed(
        t(s, dir, "embeddings"), "vec_id", "embedding", queryId = 0L, k = 10)),
    // RESIDUAL IVF+PQ (r10): the full FAISS IVFPQ shape — PQ codebooks
    // fitted on coarse-quantizer residuals via the second integer shift,
    // per-probed-list query ADC tables, and the cross-list query-
    // residual-norm rule. Activated by the clustered-corpus probe run
    // (+0.108 recall over plain at the shipped point, ≥+0.10 at every
    // nCodes tier at σ=0.12 — IVFPQ_RESID_r10.md); the near-random
    // fixture here exercises the arithmetic, the clustered SimilaritySpec
    // corpus certifies the quality story.
    "q107_ann_ivfpq_residual" -> ((s, dir) =>
      graft.ext.Similarity.ivfPqResidualTopKFixed(
        t(s, dir, "embeddings"), "vec_id", "embedding", queryId = 0L, k = 10)),
    // residual-tier measured recall — the q51/q54/q101 discipline applied
    // to q107: |residual-IVFPQ ∩ brute-force| top-10 as exact integers
    "q108_ann_ivfpq_resid_recall" -> ((s, dir) =>
      graft.ext.Similarity.ivfPqResidualRecallFixed(
        t(s, dir, "embeddings"), "vec_id", "embedding", queryId = 0L, k = 10)),
    // The DEPLOYED PQ loop end-to-end (streaming ingest → code store →
    // ADC serving): the corpus arrives as 3 id-disjoint micro-batches
    // through PqIngest's foreachBatch body — one batch REPLAYED under
    // its own batch id, exercising the at-least-once overwrite contract
    // under the oracle — and the query is answered from the accumulated
    // 8-byte codes without touching a raw corpus vector. Same codebooks,
    // same integer ADC arithmetic as q100, so the answer (and the
    // oracle SQL) is q100's bit-for-bit.
    "q103_ann_pq_ingest" -> ((s, dir) => {
      import graft.streaming.PqIngest
      val emb = t(s, dir, "embeddings")
      val books = graft.ext.Similarity.pqCodebooksFixed(
        emb, "vec_id", "embedding")
      val bSeq = books.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
        .toSeq.sortBy(b => (b._1, b._2))
      // local[*] fixture dir: driver and executors share one filesystem
      // here; on a real cluster the store must be a DFS path (the
      // PqIngest API takes any Hadoop path)
      val store = java.nio.file.Files
        .createTempDirectory("graft-q103-store").toString
      try {
        (0L to 2L).foreach { b =>
          PqIngest.ingestBatch(
            emb.filter(pmod(col("vec_id"), lit(3)) === b), store, bSeq, b)
        }
        // at-least-once delivery: batch 1 arrives again with ITS OWN id —
        // the dynamic partition overwrite must keep the store exact
        PqIngest.ingestBatch(
          emb.filter(pmod(col("vec_id"), lit(3)) === 1L), store, bSeq, 1L)
        // materialise the store eagerly so the (temp) parquet dir can go
        val codes = PqIngest.result(s, store).localCheckpoint(eager = true)
        graft.ext.Similarity.adcTopKFromCodes(
          codes, books, emb, "vec_id", "embedding", queryId = 0L, k = 10)
      } finally {
        val p = java.nio.file.Paths.get(store)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }),
    // The REAL streaming path under the oracle (r10): where q103 calls
    // the foreachBatch body directly, q106 drives `PqIngest.start` — an
    // actual file-source StreamingQuery with a checkpoint — through 2
    // micro-batches, stops it, DELETES the last batch's commit marker
    // (the crash-between-output-and-commit window), stages a third chunk
    // and restarts from the checkpoint. Structured Streaming then
    // REPLAYS batch 1 from its recorded offsets before processing batch
    // 2 — the exact at-least-once failure mode the store's
    // dynamic-partition overwrite contract exists for. Serving from the
    // accumulated codes must still match q100 bit-for-bit.
    "q106_ann_pq_restart" -> ((s, dir) => {
      import graft.streaming.PqIngest
      val emb = t(s, dir, "embeddings")
      val books = graft.ext.Similarity.pqCodebooksFixed(
        emb, "vec_id", "embedding")
      // local[*] fixture dirs: driver and executors share one filesystem
      // here; on a real cluster every one of these must be a DFS path
      // (PqIngest.start takes any Hadoop path)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q106").toString
      val inDir = s"$tmp/in"; val store = s"$tmp/store"
      val ckpt = s"$tmp/ckpt"
      new java.io.File(inDir).mkdirs()
      try {
        def stage(b: Long): Unit = {
          val staging = s"$tmp/stage$b"
          emb.filter(pmod(col("vec_id"), lit(3)) === b)
            .coalesce(1).write.parquet(staging)
          val part = stagedPart(staging)
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(s"$inDir/chunk$b.parquet"))
        }
        val q1 = PqIngest.start(s, inDir, store, ckpt, books)
        try {
          stage(0L); q1.processAllAvailable()
          stage(1L); q1.processAllAvailable()
        } finally q1.stop()
        // crash window: batch 1's store output exists but its commit
        // marker doesn't — the restart must re-run batch 1 (the local
        // ChecksumFs .crc sidecar must go too or the replayed commit's
        // rename collides with it)
        java.nio.file.Files.delete(
          java.nio.file.Paths.get(s"$ckpt/commits/1"))
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(s"$ckpt/commits/.1.crc"))
        stage(2L)
        val q2 = PqIngest.start(s, inDir, store, ckpt, books)
        try q2.processAllAvailable() finally q2.stop()
        val codes = PqIngest.result(s, store).localCheckpoint(eager = true)
        graft.ext.Similarity.adcTopKFromCodes(
          codes, books, emb, "vec_id", "embedding", queryId = 0L, k = 10)
      } finally {
        val p = java.nio.file.Paths.get(tmp)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }),
    // q106's real StreamingQuery with the MAINTENANCE pass live — the
    // q141/q142 treatment for the THIRD ingest family: after batches
    // 0–1 commit, the codes store folds to one partition
    // (Maintenance.compactPqStore) while the query idles, then batch 2
    // ingests against the folded store. Serving from the accumulated
    // codes must still match q100 bit-for-bit — compaction changes
    // layout, never the answer.
    "q150_pq_ingest_folded" -> ((s, dir) => {
      import graft.streaming.PqIngest
      val emb = t(s, dir, "embeddings")
      val books = graft.ext.Similarity.pqCodebooksFixed(
        emb, "vec_id", "embedding")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q150").toString
      val inDir = s"$tmp/in"; val store = s"$tmp/store"
      val ckpt = s"$tmp/ckpt"
      new java.io.File(inDir).mkdirs()
      try {
        def stage(b: Long): Unit = {
          val staging = s"$tmp/stage$b"
          emb.filter(pmod(col("vec_id"), lit(3)) === b)
            .coalesce(1).write.parquet(staging)
          val part = stagedPart(staging)
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(s"$inDir/chunk$b.parquet"))
        }
        val q = phase("q150 startup")(
          PqIngest.start(s, inDir, store, ckpt, books))
        try {
          phase("q150 batches 0-1") {
            stage(0L); q.processAllAvailable()
            stage(1L); q.processAllAvailable()
          }
          phase("q150 fold")(graft.streaming.Maintenance.compactPqStore(
            s, store, upToBatch = 1L))
          phase("q150 batch 2") { stage(2L); q.processAllAvailable() }
        } finally q.stop()
        phase("q150 result") {
          val codes = PqIngest.result(s, store).localCheckpoint(eager = true)
          graft.ext.Similarity.adcTopKFromCodes(
            codes, books, emb, "vec_id", "embedding", queryId = 0L, k = 10)
        }
      } finally {
        val p = java.nio.file.Paths.get(tmp)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }),
    // the AUDIO modality end-to-end under the oracle (r10): each doc_id
    // deterministically synthesises a REAL RIFF/WAVE clip (MediaSynth),
    // then the shipped JDK kernels run the full quartet — decode
    // (WavAudioDecoder header metadata), feature-extract (exact-integer
    // mean |amplitude|), resample (WavResampler ×2 decimation, decoded
    // and re-featured), window-sample (WavWindowSampler stride windows,
    // each re-decoded + re-featured). The oracle replays the closed-form
    // sample formula from doc_id alone; every emitted number is exact
    // integer arithmetic. Row-local kernels, no shuffle anywhere.
    "q104_audio" -> ((s, dir) => {
      import graft.multimodal._
      implicit val sp: SparkSession = s
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val clip = Multimodal.meanAbsPartitions(
        Multimodal.decodeAudioPartitions(
          MediaSynth.withWavPayload(docs, "doc_id"), "payload"),
        "payload", "mean_abs")
        .select(col("doc_id"), col("payload"),
          col("sample_rate").as("sr0"), col("n_channels").as("nc0"),
          col("n_frames").as("nf0"), col("mean_abs"))
      val ds = Multimodal.meanAbsPartitions(
        Multimodal.decodeAudioPartitions(
          Multimodal.transformPartitions(
            clip, "payload", WavResampler(2), "payload_ds"),
          "payload_ds"),
        "payload_ds", "mean_abs_ds")
        .select(col("doc_id"), col("payload"), col("sr0"), col("nc0"),
          col("nf0"), col("mean_abs"),
          col("sample_rate").as("sample_rate_ds"),
          col("n_frames").as("n_frames_ds"), col("mean_abs_ds"))
      val wins = Multimodal.meanAbsPartitions(
        Multimodal.decodeAudioPartitions(
          Multimodal.sampleFramesPartitions(
            ds, "payload", WavWindowSampler(25, 2),
            frameCol = "win", idxCol = "win_idx"),
          "win"),
        "win", "win_mean_abs")
      wins.select(col("doc_id"), col("sr0").as("sample_rate"),
        col("nc0").as("n_channels"), col("nf0").as("n_frames"),
        col("mean_abs"), col("sample_rate_ds"), col("n_frames_ds"),
        col("mean_abs_ds"), col("win_idx"),
        col("n_frames").as("win_frames"), col("win_mean_abs"))
    }),
    // the VIDEO (frame-sequence) modality end-to-end under the oracle
    // (r10): each doc_id synthesises a REAL animated GIF of solid
    // exact-palette frames, GifFrameSampler stride-samples the frame
    // sequence into standalone PPM payloads keeping ORIGINAL indices,
    // and each frame runs decode (ImageIoDecoder) + pixel-mean feature
    // (exact integer-valued double by the fixture's mod-3 color rule).
    // The oracle replays dimensions, sampled indices and band means from
    // doc_id alone.
    "q105_gif_frames" -> ((s, dir) => {
      import graft.multimodal._
      implicit val sp: SparkSession = s
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val frames = Multimodal.sampleFramesPartitions(
        MediaSynth.withGifPayload(docs, "doc_id"), "payload",
        GifFrameSampler(2))
      val feat = Multimodal.meanSamplePartitions(
        Multimodal.decodePartitions(frames, "frame", ImageIoDecoder),
        "frame", "mean_px")
      feat.select(col("doc_id"), col("frame_idx"), col("width"),
        col("height"), col("n_channels"), col("mean_px"))
    }),
    // IMAGE perceptual near-dup (multimodal.ImageDedup — r14 verdict
    // Missing #4, the image twin of q36's SimHash machinery): each
    // doc_id synthesises a REAL grayscale PGM with group structure
    // (MediaSynth.pgmFixture — same-group ids share a cell pattern at
    // group-dependent resolutions, a sparse per-id bump perturbs a few
    // gradient bits), the shipped kernels run resize (ImageResizer 9×8
    // nearest-neighbor) + dHash, and pairs come from 16-bit
    // Hamming-banded block candidates + exact Hamming ≤ 3 verify —
    // bucketed, never all-pairs. The oracle replays the integer
    // pixel → gradient-bit → block → Hamming pipeline from doc_id alone.
    "q154_image_neardup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      graft.multimodal.ImageDedup.nearDupFromHashes(pgmDHashed(s, dir))
    }),
    // co-bucket candidate variant over the SAME dHash fingerprints
    // (multimodal.ImageDedup.coBucketFromHashes — the r15 SCALE §2
    // auxiliary split): q154's single 16-bit block keys collide by
    // chance at |corpus|²·4/2¹⁷ pairs — dominant around ~10⁶ images —
    // so candidates here must share TWO of the four blocks (6 ordered
    // 32-bit pair keys, pigeonhole-complete for Hamming ≤ 2), cutting
    // the chance term to |corpus|²·6/2³³. Rides the memoised q154
    // decode+hash pass; the oracle is q154's pipeline with the tighter
    // radius (the completeness proofs agree on the final pair set, so
    // the replay can keep the simpler single-block candidate CTE).
    "q158_image_neardup_cobucket" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      graft.multimodal.ImageDedup.coBucketFromHashes(pgmDHashed(s, dir))
    }),
    // WIDE perceptual hash near-dup (multimodal.ImageDedup
    // .nearDupBlockhash — the other r15 SCALE §2 scale path): a 256-bit
    // block-mean hash (Yang et al.'s blockhash family: 16×16 resize,
    // one bit per pixel vs the lower-median gray) gives 16 independent
    // 16-bit block keys — the pigeonhole guarantee stretches to
    // Hamming ≤ 15 and the per-key chance term stays |corpus|²/2¹⁷
    // per block while the fingerprint carries 4× the bits. The fixture
    // is the FINE-grained PGM corpus (MediaSynth.pgmFineFixture —
    // full-entropy 16×16 cell motifs via the double-squared DetRandom
    // mix; the q154 fixture's coarse 9×8 cells would collide 16-bit
    // block keys structurally). Exact 256-bit Hamming verify via
    // zip_with XOR+popcount over the 4 packed words.
    "q156_image_neardup_wide" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      graft.multimodal.ImageDedup.nearDupBlockhash(
        graft.multimodal.MediaSynth.withPgmFinePayload(
          t(s, dir, "documents").select(col("doc_id")), "doc_id"),
        "doc_id", "payload")
    }),
    // AUDIO near-dup (multimodal.AudioDedup.nearDupAudio — closes the
    // multimodal dedup triangle next to text q34/q36 and image
    // q154/q156): each doc_id synthesises a REAL 65-frame WAV clip with
    // group structure (MediaSynth.wavMotifFixture — same-group ids share
    // a per-frame amplitude envelope, a sparse per-id bump perturbs a
    // few frames), the shipped kernel decodes the PCM and fingerprints
    // the energy-delta signs (Haitsma–Kalker family: bit f = E(f+1) >
    // E(f) over 65 windowed mean-|sample| energies), and pairs come from
    // the SAME 16-bit Hamming-banded machinery as the image path. The
    // oracle replays the integer envelope → delta-bit → block → Hamming
    // pipeline from doc_id alone.
    "q157_audio_neardup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      graft.multimodal.AudioDedup.nearDupAudio(
        graft.multimodal.MediaSynth.withWavMotifPayload(
          t(s, dir, "documents").select(col("doc_id")), "doc_id"),
        "doc_id", "payload")
    }),
    // VIDEO near-dup (multimodal.VideoDedup.nearDupVideo — the fourth
    // modality, completing the text/image/audio/video dedup quartet):
    // each doc_id synthesises a REAL animated GIF with group structure
    // (MediaSynth.gifMotifFixture — same-group ids share a patterned
    // 9×8 frame sequence through an exact 8-bit grayscale palette, a
    // sparse per-id bump perturbs a few pixels), the shipped kernels
    // run frame sampling (GifFrameSampler stride 2 — the q105 seam) +
    // per-frame dHash (the q154 kernel), and clip pairs need the SAME
    // sampled frame count with total aligned-frame Hamming ≤ 3 —
    // candidates from (frame, 16-bit block) keys, complete at the clip
    // radius by pigeonhole on the best frame. The oracle replays
    // pixel → gradient bit → per-frame block → aligned total from
    // doc_id alone.
    "q159_video_neardup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      graft.multimodal.VideoDedup.nearDupVideo(
        graft.multimodal.MediaSynth.withGifMotifPayload(
          t(s, dir, "documents").select(col("doc_id")), "doc_id"),
        "doc_id", "payload")
    }),
    // STREAMING incremental IMAGE near-dedup (streaming.ImageIngest —
    // the FOURTH ingest family, extending the engine's incremental
    // dedup to the multimodal tier): the corpus lands as three staged
    // micro-batches, each decoded + dHash-fingerprinted (the q154
    // kernels) for the NEW images only, candidates from the block-key
    // join against the accumulated BUCKETED fingerprint index (new ×
    // all, never all × all; the only per-batch exchange moves the
    // |batch| new keys — O(|batch|), the q137 shape), Hamming verified
    // INLINE on the joined fingerprints (the fp rides the index — no
    // second verification store), pairs appended. Mid-stream, between
    // committed batches 1 and 2, the full maintenance pass runs live
    // (Maintenance.compactImageStore: pairs fold + one-file-per-bucket
    // index rebuild with the rename swap — the q141 richness on day
    // one of the family). The accumulated pairs must equal the batch
    // q154 answer — the same oracle, across batch boundaries and the
    // fold.
    "q161_stream_image_dedup" -> ((s, dir) => {
      import graft.streaming.{ImageIngest, Maintenance}
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q161").toString
      val tbl = "graft_q161_fps_" + tmp.filter(_.isLetterOrDigit).takeRight(12)
      val inDir = s"$tmp/in"; val store = s"$tmp/store"
      val ckpt = s"$tmp/ckpt"
      new java.io.File(inDir).mkdirs()
      try {
        def stage(b: Long): Unit = {
          val staging = s"$tmp/stage$b"
          docs.filter(pmod(col("doc_id"), lit(3)) === b)
            .coalesce(1).write.parquet(staging)
          val part = stagedPart(staging)
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(s"$inDir/chunk$b.parquet"))
        }
        val q = phase("q161 startup")(
          ImageIngest.startBucketed(s, inDir, store, tbl, ckpt))
        try {
          phase("q161 batches 0-1") {
            stage(0L); q.processAllAvailable()
            stage(1L); q.processAllAvailable()
          }
          // live maintenance between committed batches (quiesce holds:
          // processAllAvailable returned, batch 2 not yet staged)
          phase("q161 mid-stream fold")(
            Maintenance.compactImageStore(s, store, tbl, upToBatch = 1L))
          phase("q161 batch 2") {
            stage(2L); q.processAllAvailable()
          }
        } finally q.stop()
        phase("q161 result")(ImageIngest.pairs(s, store)
          .orderBy("doc_a", "doc_b")
          .coalesce(1)
          .localCheckpoint(eager = true)) // materialise before cleanup
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val p = java.nio.file.Paths.get(tmp)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }),
    // q161's lifecycle with the retention horizon ON (the q144
    // treatment for the image family): the mid-stream fold runs at
    // evictBelow = 1, so batch-0 fingerprints leave the bucketed index
    // entirely — batch 2 can no longer pair against them — while
    // batch-0's already-emitted pairs persist (output, not state).
    // Oracle = the batch q154 pairs minus exactly the {batch-0 ×
    // batch-2} cross pairs; every fixture group spans all three mod-3
    // batches, so the subtraction is discriminating at every SF.
    "q162_stream_image_evict" -> ((s, dir) => {
      import graft.streaming.{ImageIngest, Maintenance}
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q162").toString
      val tbl = "graft_q162_fps_" + tmp.filter(_.isLetterOrDigit).takeRight(12)
      val inDir = s"$tmp/in"; val store = s"$tmp/store"
      val ckpt = s"$tmp/ckpt"
      new java.io.File(inDir).mkdirs()
      try {
        def stage(b: Long): Unit = {
          val staging = s"$tmp/stage$b"
          docs.filter(pmod(col("doc_id"), lit(3)) === b)
            .coalesce(1).write.parquet(staging)
          val part = stagedPart(staging)
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(s"$inDir/chunk$b.parquet"))
        }
        val q = phase("q162 startup")(
          ImageIngest.startBucketed(s, inDir, store, tbl, ckpt))
        try {
          phase("q162 batches 0-1") {
            stage(0L); q.processAllAvailable()
            stage(1L); q.processAllAvailable()
          }
          phase("q162 fold+evict")(
            Maintenance.compactImageStore(s, store, tbl,
              upToBatch = 1L, evictBelow = 1L))
          phase("q162 batch 2") { stage(2L); q.processAllAvailable() }
        } finally q.stop()
        phase("q162 result")(ImageIngest.pairs(s, store)
          .orderBy("doc_a", "doc_b")
          .coalesce(1)
          .localCheckpoint(eager = true)) // materialise before cleanup
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val p = java.nio.file.Paths.get(tmp)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }),
    // q161's lifecycle KILLED AND RESUMED from its checkpoint (the
    // q152/q155 treatment, completing the crash cert across all four
    // ingest families): batches 0-1 through a real StreamingQuery,
    // stop, DELETE batch 1's commit marker (the crash-between-output-
    // and-commit window), stage batch 2, start a NEW query from the
    // same checkpoint — the replay reads the pre-batch index
    // (own-batch exclusion) and its duplicate index append collapses
    // in the candidate distinct. Same pairs contract, same oracle.
    "q163_stream_image_restart" -> ((s, dir) => {
      import graft.streaming.ImageIngest
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q163").toString
      val tbl = "graft_q163_fps_" + tmp.filter(_.isLetterOrDigit).takeRight(12)
      val inDir = s"$tmp/in"; val store = s"$tmp/store"
      val ckpt = s"$tmp/ckpt"
      new java.io.File(inDir).mkdirs()
      try {
        def stage(b: Long): Unit = {
          val staging = s"$tmp/stage$b"
          docs.filter(pmod(col("doc_id"), lit(3)) === b)
            .coalesce(1).write.parquet(staging)
          val part = stagedPart(staging)
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(s"$inDir/chunk$b.parquet"))
        }
        val q1 = phase("q163 startup")(
          ImageIngest.startBucketed(s, inDir, store, tbl, ckpt))
        try {
          phase("q163 batches 0-1") {
            stage(0L); q1.processAllAvailable()
            stage(1L); q1.processAllAvailable()
          }
        } finally q1.stop()
        // crash window: batch 1's store/index output exists but its
        // commit marker doesn't — the restart must re-run batch 1 (the
        // local ChecksumFs .crc sidecar must go too or the replayed
        // commit's rename collides with it)
        java.nio.file.Files.delete(
          java.nio.file.Paths.get(s"$ckpt/commits/1"))
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(s"$ckpt/commits/.1.crc"))
        stage(2L)
        val q2 = phase("q163 restart")(
          ImageIngest.startBucketed(s, inDir, store, tbl, ckpt))
        try phase("q163 replay+batch 2")(q2.processAllAvailable())
        finally q2.stop()
        phase("q163 result")(ImageIngest.pairs(s, store)
          .orderBy("doc_a", "doc_b")
          .coalesce(1)
          .localCheckpoint(eager = true)) // materialise before cleanup
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val p = java.nio.file.Paths.get(tmp)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }),
    // streaming AUDIO ingest — the FIFTH ingest family (r15 verdict
    // Next #6): q161's lifecycle with streaming.AudioIngest in front —
    // the q157 energy-delta fingerprint kernels feed the SAME
    // FpIngest machinery (bucketed fp index, new × all candidates,
    // inline Hamming verify, mid-stream fold under quiesce). Oracle =
    // the batch q157 pipeline over the whole corpus — the accumulated
    // stream pairs must equal the batch near-dup set across batch
    // boundaries.
    "q167_stream_audio_dedup" -> ((s, dir) => {
      import graft.streaming.{AudioIngest, Maintenance}
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q167").toString
      val tbl = "graft_q167_fps_" + tmp.filter(_.isLetterOrDigit).takeRight(12)
      val inDir = s"$tmp/in"; val store = s"$tmp/store"
      val ckpt = s"$tmp/ckpt"
      new java.io.File(inDir).mkdirs()
      try {
        def stage(b: Long): Unit = {
          val staging = s"$tmp/stage$b"
          docs.filter(pmod(col("doc_id"), lit(3)) === b)
            .coalesce(1).write.parquet(staging)
          val part = stagedPart(staging)
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(s"$inDir/chunk$b.parquet"))
        }
        val q = phase("q167 startup")(
          AudioIngest.startBucketed(s, inDir, store, tbl, ckpt))
        try {
          phase("q167 batches 0-1") {
            stage(0L); q.processAllAvailable()
            stage(1L); q.processAllAvailable()
          }
          // live maintenance between committed batches (quiesce holds:
          // processAllAvailable returned, batch 2 not yet staged)
          phase("q167 mid-stream fold")(
            Maintenance.compactAudioStore(s, store, tbl, upToBatch = 1L))
          phase("q167 batch 2") {
            stage(2L); q.processAllAvailable()
          }
        } finally q.stop()
        phase("q167 result")(AudioIngest.pairs(s, store)
          .orderBy("doc_a", "doc_b")
          .coalesce(1)
          .localCheckpoint(eager = true)) // materialise before cleanup
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val p = java.nio.file.Paths.get(tmp)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }),
    // q167's lifecycle with the retention horizon ON (the q162
    // treatment for the audio family): the mid-stream fold runs at
    // evictBelow = 1, so batch-0 fingerprints leave the bucketed index
    // entirely — batch 2 can no longer pair against them — while
    // batch-0's already-emitted pairs persist (output, not state).
    // Oracle = the batch q157 pairs minus exactly the {batch-0 ×
    // batch-2} cross pairs; every fixture group spans all three mod-3
    // batches, so the subtraction is discriminating at every SF.
    "q168_stream_audio_evict" -> ((s, dir) => {
      import graft.streaming.{AudioIngest, Maintenance}
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q168").toString
      val tbl = "graft_q168_fps_" + tmp.filter(_.isLetterOrDigit).takeRight(12)
      val inDir = s"$tmp/in"; val store = s"$tmp/store"
      val ckpt = s"$tmp/ckpt"
      new java.io.File(inDir).mkdirs()
      try {
        def stage(b: Long): Unit = {
          val staging = s"$tmp/stage$b"
          docs.filter(pmod(col("doc_id"), lit(3)) === b)
            .coalesce(1).write.parquet(staging)
          val part = stagedPart(staging)
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(s"$inDir/chunk$b.parquet"))
        }
        val q = phase("q168 startup")(
          AudioIngest.startBucketed(s, inDir, store, tbl, ckpt))
        try {
          phase("q168 batches 0-1") {
            stage(0L); q.processAllAvailable()
            stage(1L); q.processAllAvailable()
          }
          phase("q168 fold+evict")(
            Maintenance.compactAudioStore(s, store, tbl,
              upToBatch = 1L, evictBelow = 1L))
          phase("q168 batch 2") { stage(2L); q.processAllAvailable() }
        } finally q.stop()
        phase("q168 result")(AudioIngest.pairs(s, store)
          .orderBy("doc_a", "doc_b")
          .coalesce(1)
          .localCheckpoint(eager = true)) // materialise before cleanup
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val p = java.nio.file.Paths.get(tmp)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }),
    // q167's lifecycle KILLED AND RESUMED from its checkpoint (the
    // q163 treatment — the crash cert now covers all FIVE ingest
    // families): batches 0-1 through a real StreamingQuery, stop,
    // DELETE batch 1's commit marker (the crash-between-output-and-
    // commit window), stage batch 2, start a NEW query from the same
    // checkpoint — the replay reads the pre-batch index (own-batch
    // exclusion) and its duplicate index append collapses in the
    // candidate distinct. Same pairs contract, same oracle.
    "q169_stream_audio_restart" -> ((s, dir) => {
      import graft.streaming.AudioIngest
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q169").toString
      val tbl = "graft_q169_fps_" + tmp.filter(_.isLetterOrDigit).takeRight(12)
      val inDir = s"$tmp/in"; val store = s"$tmp/store"
      val ckpt = s"$tmp/ckpt"
      new java.io.File(inDir).mkdirs()
      try {
        def stage(b: Long): Unit = {
          val staging = s"$tmp/stage$b"
          docs.filter(pmod(col("doc_id"), lit(3)) === b)
            .coalesce(1).write.parquet(staging)
          val part = stagedPart(staging)
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(s"$inDir/chunk$b.parquet"))
        }
        val q1 = phase("q169 startup")(
          AudioIngest.startBucketed(s, inDir, store, tbl, ckpt))
        try {
          phase("q169 batches 0-1") {
            stage(0L); q1.processAllAvailable()
            stage(1L); q1.processAllAvailable()
          }
        } finally q1.stop()
        // crash window: batch 1's store/index output exists but its
        // commit marker doesn't — the restart must re-run batch 1 (the
        // local ChecksumFs .crc sidecar must go too or the replayed
        // commit's rename collides with it)
        java.nio.file.Files.delete(
          java.nio.file.Paths.get(s"$ckpt/commits/1"))
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(s"$ckpt/commits/.1.crc"))
        stage(2L)
        val q2 = phase("q169 restart")(
          AudioIngest.startBucketed(s, inDir, store, tbl, ckpt))
        try phase("q169 replay+batch 2")(q2.processAllAvailable())
        finally q2.stop()
        phase("q169 result")(AudioIngest.pairs(s, store)
          .orderBy("doc_a", "doc_b")
          .coalesce(1)
          .localCheckpoint(eager = true)) // materialise before cleanup
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val p = java.nio.file.Paths.get(tmp)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }),
    // streaming VIDEO ingest — the SIXTH ingest family (r16 verdict
    // Missing #2 / Next #3: the one dedup modality without a streaming
    // family, resolved by GENERALISING FpIngest to multi-fingerprint
    // documents rather than a thin transfer): q167's lifecycle with
    // streaming.VideoIngest in front — the q159 GIF decode + frame
    // sample + per-frame dHash kernels feed FpIngest's frame trio
    // (per-(clip, frame) index rows with the frame index riding the
    // key, CLIP-level aligned-frame verify over candidate docs only,
    // mid-stream fold under quiesce). Oracle = the batch q159 pipeline
    // over the whole corpus — the accumulated stream pairs must equal
    // the batch near-dup set across batch boundaries and the fold.
    "q170_stream_video_dedup" -> ((s, dir) => {
      import graft.streaming.{Maintenance, VideoIngest}
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q170").toString
      val tbl = "graft_q170_fps_" + tmp.filter(_.isLetterOrDigit).takeRight(12)
      val inDir = s"$tmp/in"; val store = s"$tmp/store"
      val ckpt = s"$tmp/ckpt"
      new java.io.File(inDir).mkdirs()
      try {
        def stage(b: Long): Unit = {
          val staging = s"$tmp/stage$b"
          docs.filter(pmod(col("doc_id"), lit(3)) === b)
            .coalesce(1).write.parquet(staging)
          val part = stagedPart(staging)
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(s"$inDir/chunk$b.parquet"))
        }
        val q = phase("q170 startup")(
          VideoIngest.startBucketed(s, inDir, store, tbl, ckpt))
        try {
          phase("q170 batches 0-1") {
            stage(0L); q.processAllAvailable()
            stage(1L); q.processAllAvailable()
          }
          // live maintenance between committed batches (quiesce holds:
          // processAllAvailable returned, batch 2 not yet staged)
          phase("q170 mid-stream fold")(
            Maintenance.compactVideoStore(s, store, tbl, upToBatch = 1L))
          phase("q170 batch 2") {
            stage(2L); q.processAllAvailable()
          }
        } finally q.stop()
        phase("q170 result")(VideoIngest.pairs(s, store)
          .orderBy("doc_a", "doc_b")
          .coalesce(1)
          .localCheckpoint(eager = true)) // materialise before cleanup
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val p = java.nio.file.Paths.get(tmp)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }),
    // q170's lifecycle with the retention horizon ON (the q162/q168
    // treatment for the video family): the mid-stream fold runs at
    // evictBelow = 1, so batch-0 clips' WHOLE frame sets leave the
    // bucketed index together (the per-row fold keeps a clip's frames
    // under its one batch id) — batch 2 can no longer pair against
    // them — while batch-0's already-emitted pairs persist (output,
    // not state). Oracle = the batch q159 pairs minus exactly the
    // {batch-0 × batch-2} cross pairs; every fixture group spans all
    // three mod-3 batches, so the subtraction is discriminating at
    // every SF.
    "q171_stream_video_evict" -> ((s, dir) => {
      import graft.streaming.{Maintenance, VideoIngest}
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q171").toString
      val tbl = "graft_q171_fps_" + tmp.filter(_.isLetterOrDigit).takeRight(12)
      val inDir = s"$tmp/in"; val store = s"$tmp/store"
      val ckpt = s"$tmp/ckpt"
      new java.io.File(inDir).mkdirs()
      try {
        def stage(b: Long): Unit = {
          val staging = s"$tmp/stage$b"
          docs.filter(pmod(col("doc_id"), lit(3)) === b)
            .coalesce(1).write.parquet(staging)
          val part = stagedPart(staging)
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(s"$inDir/chunk$b.parquet"))
        }
        val q = phase("q171 startup")(
          VideoIngest.startBucketed(s, inDir, store, tbl, ckpt))
        try {
          phase("q171 batches 0-1") {
            stage(0L); q.processAllAvailable()
            stage(1L); q.processAllAvailable()
          }
          phase("q171 fold+evict")(
            Maintenance.compactVideoStore(s, store, tbl,
              upToBatch = 1L, evictBelow = 1L))
          phase("q171 batch 2") { stage(2L); q.processAllAvailable() }
        } finally q.stop()
        phase("q171 result")(VideoIngest.pairs(s, store)
          .orderBy("doc_a", "doc_b")
          .coalesce(1)
          .localCheckpoint(eager = true)) // materialise before cleanup
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val p = java.nio.file.Paths.get(tmp)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }),
    // q170's lifecycle KILLED AND RESUMED from its checkpoint (the
    // q163/q169 treatment — the crash cert covers all SIX ingest
    // families): batches 0-1 through a real StreamingQuery, stop,
    // DELETE batch 1's commit marker (the crash-between-output-and-
    // commit window), stage batch 2, start a NEW query from the same
    // checkpoint — the replay reads the pre-batch index (own-batch
    // exclusion) and its duplicate index append collapses in the
    // candidate distinct + the frame-row distinct (the multi-fp
    // verify's aggregation would otherwise double-count). Same pairs
    // contract, same oracle.
    "q172_stream_video_restart" -> ((s, dir) => {
      import graft.streaming.VideoIngest
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q172").toString
      val tbl = "graft_q172_fps_" + tmp.filter(_.isLetterOrDigit).takeRight(12)
      val inDir = s"$tmp/in"; val store = s"$tmp/store"
      val ckpt = s"$tmp/ckpt"
      new java.io.File(inDir).mkdirs()
      try {
        def stage(b: Long): Unit = {
          val staging = s"$tmp/stage$b"
          docs.filter(pmod(col("doc_id"), lit(3)) === b)
            .coalesce(1).write.parquet(staging)
          val part = stagedPart(staging)
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(s"$inDir/chunk$b.parquet"))
        }
        val q1 = phase("q172 startup")(
          VideoIngest.startBucketed(s, inDir, store, tbl, ckpt))
        try {
          phase("q172 batches 0-1") {
            stage(0L); q1.processAllAvailable()
            stage(1L); q1.processAllAvailable()
          }
        } finally q1.stop()
        // crash window: batch 1's store/index output exists but its
        // commit marker doesn't — the restart must re-run batch 1 (the
        // local ChecksumFs .crc sidecar must go too or the replayed
        // commit's rename collides with it)
        java.nio.file.Files.delete(
          java.nio.file.Paths.get(s"$ckpt/commits/1"))
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(s"$ckpt/commits/.1.crc"))
        stage(2L)
        val q2 = phase("q172 restart")(
          VideoIngest.startBucketed(s, inDir, store, tbl, ckpt))
        try phase("q172 replay+batch 2")(q2.processAllAvailable())
        finally q2.stop()
        phase("q172 result")(VideoIngest.pairs(s, store)
          .orderBy("doc_a", "doc_b")
          .coalesce(1)
          .localCheckpoint(eager = true)) // materialise before cleanup
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val p = java.nio.file.Paths.get(tmp)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }),
    // STREAMING CURATION CHAIN (r17 verdict Next #2 — the capstone
    // that composes the ingest families): the corpus lands as three
    // staged micro-batches through ONE stream whose foreachBatch runs
    // the text gate (gopherGate rows to a partition-overwrite store),
    // the image dedup race and the audio dedup race against their own
    // accumulated bucketed fingerprint indexes (the certified q161/
    // q167 machinery, composed under one batch id + one checkpoint).
    // Mid-stream, between committed batches 1 and 2, the composed
    // maintenance pass folds all three stores. The result is the
    // INCREMENTALLY-maintained keep verdict (CurationIngest.verdict:
    // text_keep off the gate store, image CC-retention off the pairs
    // log, audio first-seen off the pairs log — no re-decode, no
    // re-fingerprint), which must equal the batch q164 replay — the
    // SAME oracle statement, across batch boundaries and the fold.
    "q173_stream_curation" -> ((s, dir) => {
      import graft.streaming.{CurationIngest, Maintenance}
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q173").toString
      val sfx = tmp.filter(_.isLetterOrDigit).takeRight(12)
      val imgTbl = s"graft_q173_img_$sfx"; val audTbl = s"graft_q173_aud_$sfx"
      val inDir = s"$tmp/in"; val store = s"$tmp/store"
      val ckpt = s"$tmp/ckpt"
      new java.io.File(inDir).mkdirs()
      try {
        def stage(b: Long): Unit = {
          val staging = s"$tmp/stage$b"
          docs.filter(pmod(col("doc_id"), lit(3)) === b)
            .coalesce(1).write.parquet(staging)
          val part = stagedPart(staging)
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(s"$inDir/chunk$b.parquet"))
        }
        val q = phase("q173 startup")(
          CurationIngest.startBucketed(s, inDir, store, imgTbl, audTbl, ckpt))
        try {
          phase("q173 batches 0-1") {
            stage(0L); q.processAllAvailable()
            stage(1L); q.processAllAvailable()
          }
          phase("q173 mid-stream fold")(
            Maintenance.compactCurationStore(s, store, imgTbl, audTbl,
              upToBatch = 1L))
          phase("q173 batch 2") { stage(2L); q.processAllAvailable() }
        } finally q.stop()
        phase("q173 verdict")(CurationIngest.verdict(s, store)
          .orderBy("doc_id")
          .coalesce(1)
          .localCheckpoint(eager = true)) // materialise before cleanup
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $imgTbl")
        s.sql(s"DROP TABLE IF EXISTS $audTbl")
        val p = java.nio.file.Paths.get(tmp)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }),
    // q173's lifecycle with the retention horizon ON across BOTH
    // modality indexes (the q162/q168/q171 treatment, composed). The
    // horizon is evictBelow = 2 — DELIBERATELY one step harsher than
    // the pair-level evict legs' evictBelow = 1, because this query's
    // result is the transitively-closed VERDICT, not the pair log:
    // every fixture dup group is an id-triple {3g, 3g+1, 3g+2} with
    // exactly one member per mod-3 batch, so removing only the
    // {batch-0 × batch-2} edge leaves the component connected through
    // the batch-1 member (and the audio drop set keeps its members via
    // the b1×b2 pair) — an evictBelow = 1 verdict would be IDENTICAL
    // to q173's and certify nothing. At evictBelow = 2 both earlier
    // batches age out of the indexes before batch 2 lands, so ALL
    // {b0, b1} × b2 pairs disappear: image components split (two
    // canonical keeps per group instead of one) and the batch-2
    // member's audio flag flips — the verdict RE-SHAPES, exactly what
    // the oracle replays by keeping only pairs whose endpoints agree
    // on batch-2 membership. Gate rows and already-emitted pairs
    // persist (output/coverage, not pairing state: the verdict still
    // covers every ingested doc).
    "q174_stream_curation_evict" -> ((s, dir) => {
      import graft.streaming.{CurationIngest, Maintenance}
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q174").toString
      val sfx = tmp.filter(_.isLetterOrDigit).takeRight(12)
      val imgTbl = s"graft_q174_img_$sfx"; val audTbl = s"graft_q174_aud_$sfx"
      val inDir = s"$tmp/in"; val store = s"$tmp/store"
      val ckpt = s"$tmp/ckpt"
      new java.io.File(inDir).mkdirs()
      try {
        def stage(b: Long): Unit = {
          val staging = s"$tmp/stage$b"
          docs.filter(pmod(col("doc_id"), lit(3)) === b)
            .coalesce(1).write.parquet(staging)
          val part = stagedPart(staging)
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(s"$inDir/chunk$b.parquet"))
        }
        val q = phase("q174 startup")(
          CurationIngest.startBucketed(s, inDir, store, imgTbl, audTbl, ckpt))
        try {
          phase("q174 batches 0-1") {
            stage(0L); q.processAllAvailable()
            stage(1L); q.processAllAvailable()
          }
          phase("q174 fold+evict")(
            Maintenance.compactCurationStore(s, store, imgTbl, audTbl,
              upToBatch = 1L, evictBelow = 2L))
          phase("q174 batch 2") { stage(2L); q.processAllAvailable() }
        } finally q.stop()
        phase("q174 verdict")(CurationIngest.verdict(s, store)
          .orderBy("doc_id")
          .coalesce(1)
          .localCheckpoint(eager = true)) // materialise before cleanup
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $imgTbl")
        s.sql(s"DROP TABLE IF EXISTS $audTbl")
        val p = java.nio.file.Paths.get(tmp)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }),
    // q173's lifecycle KILLED AND RESUMED from its checkpoint (the
    // q163/q169/q172 treatment, now certified THROUGH a composed
    // foreachBatch body): batches 0-1 through a real StreamingQuery,
    // stop, DELETE batch 1's commit marker, stage batch 2, start a NEW
    // query from the same checkpoint — the replay re-runs ALL THREE
    // legs of the batch body (the gate store's partition overwrite
    // replaces batch 1's rows; both index replays collapse in their
    // candidate distincts). Same verdict contract, same oracle.
    "q175_stream_curation_restart" -> ((s, dir) => {
      import graft.streaming.CurationIngest
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q175").toString
      val sfx = tmp.filter(_.isLetterOrDigit).takeRight(12)
      val imgTbl = s"graft_q175_img_$sfx"; val audTbl = s"graft_q175_aud_$sfx"
      val inDir = s"$tmp/in"; val store = s"$tmp/store"
      val ckpt = s"$tmp/ckpt"
      new java.io.File(inDir).mkdirs()
      try {
        def stage(b: Long): Unit = {
          val staging = s"$tmp/stage$b"
          docs.filter(pmod(col("doc_id"), lit(3)) === b)
            .coalesce(1).write.parquet(staging)
          val part = stagedPart(staging)
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(s"$inDir/chunk$b.parquet"))
        }
        val q1 = phase("q175 startup")(
          CurationIngest.startBucketed(s, inDir, store, imgTbl, audTbl, ckpt))
        try {
          phase("q175 batches 0-1") {
            stage(0L); q1.processAllAvailable()
            stage(1L); q1.processAllAvailable()
          }
        } finally q1.stop()
        // crash window: batch 1's gate/store/index output exists but
        // its commit marker doesn't — the restart must re-run batch 1
        // (the local ChecksumFs .crc sidecar must go too or the
        // replayed commit's rename collides with it)
        java.nio.file.Files.delete(
          java.nio.file.Paths.get(s"$ckpt/commits/1"))
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(s"$ckpt/commits/.1.crc"))
        stage(2L)
        val q2 = phase("q175 restart")(
          CurationIngest.startBucketed(s, inDir, store, imgTbl, audTbl, ckpt))
        try phase("q175 replay+batch 2")(q2.processAllAvailable())
        finally q2.stop()
        phase("q175 verdict")(CurationIngest.verdict(s, store)
          .orderBy("doc_id")
          .coalesce(1)
          .localCheckpoint(eager = true)) // materialise before cleanup
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $imgTbl")
        s.sql(s"DROP TABLE IF EXISTS $audTbl")
        val p = java.nio.file.Paths.get(tmp)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }),
    // the END-TO-END multimodal curation VERDICT (the capstone
    // composition — what a curation run actually ships as its keep
    // table): per document, the TEXT structural gate (q146's Gopher
    // table-A1 rules), the IMAGE near-dup retention verdict (doc is
    // its duplicate-group's kept canonical — q160's chain, riding the
    // memoised q154 hash pass), and the AUDIO first-seen-wins verdict
    // (drop the larger id of every fingerprint near-dup pair — q157's
    // pipeline; transitive groups keep exactly their minimum), with
    // keep = the conjunction. Every leg is an already-oracled pipeline;
    // the composition is itself oracled end-to-end (the three chains
    // composed in one DuckDB statement).
    "q164_multimodal_curation" -> ((s, dir) => curationVerdict(s, dir)),
    // the CURATED corpus written as training shards (r15 verdict
    // Missing #1 / Next #3 — the composition the 100 TB deliverable
    // actually is: gate → dedup → pack → persist ONE artifact): q164's
    // keep verdict semi-joins `documents` down to the curated corpus,
    // and the existing shard sink (ext.Packing.writeShards — q151's
    // kernel, runningSum ledger + spans-not-tokens assembly + one
    // parquet file per shard) writes THAT corpus and reads it back.
    // Rides the memoised q164 verdict (alphabetical order: q164 fills,
    // q165 pays only pack + write + re-read); the oracle recomputes
    // gate + both dedup verdicts + the layout from `documents` in one
    // statement — every CTE already existed in the q164 and q151
    // oracles.
    "q165_curated_shards" -> ((s, dir) => {
      val keep = curationVerdict(s, dir)
        .filter(col("keep") === 1L).select(col("doc_id"))
      val curated = t(s, dir, "documents").join(keep, Seq("doc_id"),
        "left_semi")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q165").toString
      try
        graft.ext.Packing.writeShards(
          curated, "doc_id", "text",
          shards = 8, seqTokens = 256L, seed = 42L,
          outDir = s"$tmp/shards")
          .localCheckpoint(eager = true) // materialise before cleanup
      finally {
        val p = java.nio.file.Paths.get(tmp)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }),
    // IMAGE dedup RETENTION (cross-family composition: the multimodal
    // pair generator feeding the text path's entity-resolution +
    // retention machinery): q154's dHash pairs → converged HashMin
    // components (Dedup.dedupGroups) → Dedup.canonicalDocs keeps the
    // highest-n_chars doc per duplicate group (ties to the smallest id),
    // with the group's
    // n_docs/sum_quality audit columns — what a multimodal curation run
    // actually ships: one surviving image per near-dup cluster plus the
    // mass it absorbed. Rides the memoised q154 decode+hash pass; the
    // oracle replays the pair pipeline + 16 unrolled HashMin rounds
    // (the q58 oracle treatment) + the same rank/aggregate tail.
    "q160_image_dedup_retention" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val pairs = graft.multimodal.ImageDedup.nearDupFromHashes(
        pgmDHashed(s, dir))
      graft.ext.Dedup.canonicalDocs(
        graft.ext.Dedup.dedupGroups(
          t(s, dir, "documents").select(col("doc_id")), pairs),
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "n_chars")
    }),
    // deterministic random-walk corpus (learn.Walks): 2 DeepWalk-style
    // uniform walks of 4 steps from every co-purchase node — the
    // "sentences" a skip-gram node-embedding trainer consumes, the other
    // standard graph-representation input next to the propagation
    // family's message passing. The step choice is
    // mix(cur, wid·31+t) mod deg over DetRandom, so the corpus is
    // partition-independent and the oracle unrolls the steps as CTEs.
    // Rides the memoised partPairs + partAdjArrays builds; per step one
    // equi-join of the O(#walks) frontier against the pinned
    // neighbour-array adjacency with the draw resolved in-row
    // (element_at) — no per-step exchange at all (r19).
    "q109_random_walks" -> ((s, dir) => partWalks(s, dir)),
    // node2vec second-order biased walks (learn.Walks.node2vecWalks):
    // from step 2 the candidate weight depends on the PREVIOUS node —
    // (wRet, wIn, wOut) = (1, 4, 2), the integer image of p = 4, q = 2 —
    // and the draw is the cumulative-weight slot containing
    // mix(cur, wid·31+t) mod Σw. Per step two O(#walks) joins against
    // the memoised neighbour-array adjacency (cur's candidates, prev's
    // neighbourhood) with weights + cumulative draw resolved in-row by
    // transform/aggregate HOFs — the r6–r18 O(Σ deg) candidate fan-out,
    // membership join and per-walk window exchange are gone (r19).
    // Oracle unrolls all of it.
    "q115_node2vec_walks" -> ((s, dir) =>
      graft.learn.Walks.node2vecWalksOverAdj(
        partAdjArrays(s, dir), nWalks = 2, steps = 4,
        wRet = 1L, wIn = 4L, wOut = 2L, seed = 42L)),
    // time-respecting temporal walks (learn.Walks.temporalWalks, the
    // CTDNE shape): hops ride co-purchase edges timestamped by order
    // day and may never go back in time — the dynamic-graph embedding
    // corpus where q109/q115 would traverse causally impossible paths;
    // walks truncate when the future runs out (semantics, not error).
    // Per step one frontier ⨝ edges join + per-walk count/rank window;
    // the oracle unrolls the slot draws.
    "q118_temporal_walks" -> ((s, dir) => partTemporalWalks(s, dir)),
    // skip-gram pairs over the TEMPORAL walk corpus (the CTDNE training
    // table — q113's extraction applied to q118's time-respecting
    // walks, so every (center, context) pair is causally reachable;
    // truncated walks just contribute shorter windows). Rides the
    // memoised q118 walk build; one walk_id equi-join + one
    // map-side-combined count on top.
    "q120_temporal_skipgram" -> ((s, dir) =>
      graft.learn.Walks.skipGramPairs(partTemporalWalks(s, dir),
        window = 2)),
    // skip-gram training pairs over the q109 walk corpus (learn.Walks.
    // skipGramPairs): every (center, context) co-occurrence within
    // window 2 inside a walk, with corpus counts — the table a
    // word2vec-style node-embedding trainer consumes; one walk_id
    // equi-join (constant fan-out per walk) + one map-side-combined
    // pair count. Rides the memoised walk build.
    "q113_skipgram_pairs" -> ((s, dir) => partWalkPairs(s, dir)),
    // the walk-corpus PMI matrix (learn.Walks.pairLift): the strongest
    // co-occurrence entries as the exact log-free lift — the matrix
    // skip-gram implicitly factorizes (NetMF, Qiu et al. 2018), i.e.
    // the q99 collocation treatment applied to the q113 pair table.
    // O(|V|) marginal aggregates + a 1-row broadcast total +
    // TakeOrderedAndProject; rides the memoised pair build.
    "q116_walk_pmi" -> ((s, dir) =>
      graft.learn.Walks.pairLift(partWalkPairs(s, dir),
        minCount = 2L, topK = 200)),
    // per-doc token counts under the TRAINED tokenizer (ext.Bpe.
    // tokenCounts): the budget number a pipeline actually uses (q38's
    // regex count is the untrained proxy). One vocab-sized (word →
    // subword count) aggregate over q110's memoised final symbol table,
    // one corpus word explode joined on the word key, one map-side-
    // combined per-doc sum; wordless docs count 0.
    "q117_bpe_token_counts" -> ((s, dir) =>
      graft.ext.Bpe.tokenCounts(
        t(s, dir, "documents"), "doc_id", "text", merges = 5)),
    // tokenizer FERTILITY by language (ext.Bpe.fertility): pieces-per-
    // word under the trained merge table, per document lang — the
    // tokenizer-eval ratio that flags under-served languages, as an
    // exact ppm integer. Rides q110's memoised training; one vocab
    // aggregate + one corpus word explode + map-side group sums.
    "q124_bpe_fertility" -> ((s, dir) =>
      graft.ext.Bpe.fertility(
        t(s, dir, "documents"), "doc_id", "text", "lang", merges = 5)),
    // CONTAINMENT near-dup (ext.Dedup.containmentPairs, Broder's
    // asymmetric metric): ordered pairs where doc_a's bigram shingles
    // are >= 4/5 contained in doc_b's — quote/subset duplication that
    // symmetric Jaccard (q44) dilutes away. Rare-shingle prefix join
    // against the full posting list (provably complete), packed-string
    // merge-walk verify, exact-integer threshold and ppm score.
    "q125_containment" -> ((s, dir) => containPairs(s, dir)),
    // NEAR-DUP benchmark DECONTAMINATION (the GPT-3 appendix-C leakage
    // check, Brown et al. 2020; Dodge et al. 2021's C4 audit): corpus
    // docs that CONTAIN >= 4/5 of some benchmark item's shingles —
    // q63's exact n-gram decontam generalised to near-dup containment,
    // with src0 standing in as the held-out benchmark the way q63 does.
    // Direction matters: the benchmark item is the contained (A) side.
    // Rides the memoised q125 build; one semi/anti filter pair + one
    // map-side-combined per-doc aggregate on top.
    "q138_neardup_decontam" -> ((s, dir) => {
      val bench = t(s, dir, "documents")
        .filter(col("source") === "src0").select(col("doc_id"))
      containPairs(s, dir)
        .join(bench.select(col("doc_id").as("doc_a")), Seq("doc_a"),
          "left_semi")
        .join(bench.select(col("doc_id").as("doc_b")), Seq("doc_b"),
          "left_anti")
        .groupBy(col("doc_b").as("doc_id"))
        .agg(count(lit(1)).as("n_bench_hits"),
          max(col("containment_ppm")).as("max_containment_ppm"))
    }),
    // duplicate-aware SAMPLING WEIGHTS (count every near-dup cluster
    // once — Lee et al. 2022's dedup-for-LM correction as a soft
    // weighting instead of a hard drop): per doc, its q58 cluster size
    // and the inverse-size weight in exact ppm. Rides the memoised pair
    // build + the bounded-round closure; one size aggregate + one join.
    "q139_dup_weights" -> ((s, dir) => {
      val groups = graft.ext.Dedup.dedupGroups(
        t(s, dir, "documents").select(col("doc_id")),
        graft.ext.Dedup.nearDupJaccardExact(
          t(s, dir, "documents"), "doc_id", "text"))
      val sizes = groups.groupBy("canon_id")
        .agg(count(lit(1)).as("grp_size"))
      groups.join(sizes, Seq("canon_id"))
        .select(col("doc_id"), col("grp_size"),
          expr("1000000 div grp_size").as("weight_ppm"))
    }),
    // STREAMING incremental near-dedup under the oracle (streaming.
    // DocIngest — the real StreamingQuery lifecycle, like q106 does for
    // PqIngest): the corpus lands as three staged micro-batches, each
    // batch MinHash-signed and band-joined against the accumulated
    // store (new × all, never all × all), exact-verified, appended.
    // The accumulated pair store must equal the batch all-pairs answer
    // — the q34/q44 oracle — bit for bit, across batch boundaries.
    "q126_stream_dedup" -> ((s, dir) => {
      import graft.streaming.DocIngest
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q126").toString
      val inDir = s"$tmp/in"; val store = s"$tmp/store"
      val ckpt = s"$tmp/ckpt"
      new java.io.File(inDir).mkdirs()
      try {
        def stage(b: Long): Unit = {
          val staging = s"$tmp/stage$b"
          docs.filter(pmod(col("doc_id"), lit(3)) === b)
            .coalesce(1).write.parquet(staging)
          val part = stagedPart(staging)
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(s"$inDir/chunk$b.parquet"))
        }
        val q = DocIngest.start(s, inDir, store, ckpt)
        try {
          stage(0L); q.processAllAvailable()
          stage(1L); q.processAllAvailable()
          stage(2L); q.processAllAvailable()
        } finally q.stop()
        DocIngest.pairs(s, store)
          .orderBy("doc_a", "doc_b")
          .coalesce(1)
          .localCheckpoint(eager = true) // materialise before tmp cleanup
      } finally {
        val p = java.nio.file.Paths.get(tmp)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }),
    // q126's lifecycle over the BUCKETED signature index (DocIngest.
    // startBucketed): the store side of the per-batch candidate join
    // reads a catalog table bucketed on exactly the join keys, so the
    // only per-batch exchange moves the |batch| new signatures —
    // O(|batch|), not O(|store|), the shuffle shape that survives a
    // 100 TB/day stream. Same pairs contract, same oracle.
    "q137_stream_dedup_bucketed" -> ((s, dir) => {
      import graft.streaming.DocIngest
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q137").toString
      val tbl = "graft_q137_sigs_" + tmp.filter(_.isLetterOrDigit).takeRight(12)
      val inDir = s"$tmp/in"; val store = s"$tmp/store"
      val ckpt = s"$tmp/ckpt"
      new java.io.File(inDir).mkdirs()
      try {
        def stage(b: Long): Unit = {
          val staging = s"$tmp/stage$b"
          docs.filter(pmod(col("doc_id"), lit(3)) === b)
            .coalesce(1).write.parquet(staging)
          val part = stagedPart(staging)
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(s"$inDir/chunk$b.parquet"))
        }
        val q = DocIngest.startBucketed(s, inDir, store, tbl, ckpt)
        try {
          stage(0L); q.processAllAvailable()
          stage(1L); q.processAllAvailable()
          stage(2L); q.processAllAvailable()
        } finally q.stop()
        DocIngest.pairs(s, store)
          .orderBy("doc_a", "doc_b")
          .coalesce(1)
          .localCheckpoint(eager = true) // materialise before cleanup
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val p = java.nio.file.Paths.get(tmp)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }),
    // q137's lifecycle KILLED AND RESUMED from its checkpoint (r14
    // verdict Missing #2 — the q106 treatment for the richest ingest
    // path, the bucketed DocIngest): run batches 0–1 through a real
    // StreamingQuery, stop it, DELETE batch 1's commit marker (the
    // crash-between-output-and-commit window), stage batch 2 and start
    // a NEW query from the same checkpoint. Structured Streaming
    // replays batch 1 from its recorded offsets before batch 2 — the
    // replay reads the PRE-batch store (own-batch exclusion) and its
    // second index append leaves only duplicate rows that collapse in
    // the candidate distinct (the documented contract, now certified
    // end-to-end; StreamingSpec's kill/resume leg additionally folds
    // the table and asserts zero duplicate signature rows remain).
    // Same pairs contract, same oracle as q137.
    "q152_stream_dedup_restart" -> ((s, dir) => {
      import graft.streaming.DocIngest
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q152").toString
      val tbl = "graft_q152_sigs_" + tmp.filter(_.isLetterOrDigit).takeRight(12)
      val inDir = s"$tmp/in"; val store = s"$tmp/store"
      val ckpt = s"$tmp/ckpt"
      new java.io.File(inDir).mkdirs()
      try {
        def stage(b: Long): Unit = {
          val staging = s"$tmp/stage$b"
          docs.filter(pmod(col("doc_id"), lit(3)) === b)
            .coalesce(1).write.parquet(staging)
          val part = stagedPart(staging)
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(s"$inDir/chunk$b.parquet"))
        }
        val q1 = phase("q152 startup")(
          DocIngest.startBucketed(s, inDir, store, tbl, ckpt))
        try {
          phase("q152 batches 0-1") {
            stage(0L); q1.processAllAvailable()
            stage(1L); q1.processAllAvailable()
          }
        } finally q1.stop()
        // crash window: batch 1's store/index output exists but its
        // commit marker doesn't — the restart must re-run batch 1 (the
        // local ChecksumFs .crc sidecar must go too or the replayed
        // commit's rename collides with it)
        java.nio.file.Files.delete(
          java.nio.file.Paths.get(s"$ckpt/commits/1"))
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(s"$ckpt/commits/.1.crc"))
        stage(2L)
        val q2 = phase("q152 restart")(
          DocIngest.startBucketed(s, inDir, store, tbl, ckpt))
        try phase("q152 replay+batch 2")(q2.processAllAvailable())
        finally q2.stop()
        phase("q152 result")(DocIngest.pairs(s, store)
          .orderBy("doc_a", "doc_b")
          .coalesce(1)
          .localCheckpoint(eager = true)) // materialise before cleanup
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val p = java.nio.file.Paths.get(tmp)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }),
    // EmbIngest — the real StreamingQuery lifecycle for the semantic-
    // dedup ingest (the q126/q137 treatment for the one ingest path
    // that was spec-only; r12 verdict Missing #3). The corpus lands as
    // three staged micro-batches in ASCENDING vec_id ranges: ids are
    // nondecreasing across batches, so the accumulated first-seen-wins
    // verdicts equal the batch SemDeDup bit-for-bit — the q68 oracle.
    // Centroids are the frozen fit over the corpus (deployed-model
    // framing), the same fit the batch twin runs.
    "q140_stream_semantic" -> ((s, dir) => {
      import graft.streaming.EmbIngest
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val cents = graft.ext.Similarity.kmeansFixedCentroids(
        emb, "vec_id", "embedding", nCentroids = 16, iters = 3, seed = 42L)
      val bounds = emb.agg(min("vec_id"), max("vec_id")).head()
      val (lo0, hi0) = (bounds.getLong(0), bounds.getLong(1))
      val span = hi0 - lo0 + 1
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q140").toString
      val inDir = s"$tmp/in"; val store = s"$tmp/store"
      val ckpt = s"$tmp/ckpt"
      new java.io.File(inDir).mkdirs()
      try {
        def stage(b: Long): Unit = {
          val lo = lo0 + b * span / 3
          val hi = if (b == 2) hi0 + 1 else lo0 + (b + 1) * span / 3
          val staging = s"$tmp/stage$b"
          emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
            .coalesce(1).write.parquet(staging)
          val part = stagedPart(staging)
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(s"$inDir/chunk$b.parquet"))
        }
        // the k-means fit (cents is lazy until start() collects it) +
        // checkpoint/StreamingQuery startup — machinery, not data plane
        val q = phase("q140 startup")(EmbIngest.start(s, inDir, store,
          ckpt, cents, simThresholdFixed = 300000000000L))
        try {
          phase("q140 batches") {
            stage(0L); q.processAllAvailable()
            stage(1L); q.processAllAvailable()
            stage(2L); q.processAllAvailable()
          }
        } finally q.stop()
        phase("q140 result")(EmbIngest.result(s, store)
          .orderBy("vec_id")
          .coalesce(1)
          .localCheckpoint(eager = true)) // materialise before tmp cleanup
      } finally {
        val p = java.nio.file.Paths.get(tmp)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }),
    // q140's lifecycle over the BUCKETED item index (EmbIngest.
    // startBucketed): the store side of the per-batch in-cluster pair
    // join reads a catalog table bucketed on the cluster key, so the
    // only per-batch exchange moves the |batch| new items — O(|batch|)
    // not O(|store|), q137's shape for the semantic path — WITH the
    // mid-stream compactBucketed maintenance fold. Same verdict
    // contract, same q68 oracle.
    "q142_stream_semantic_bucketed" -> ((s, dir) => {
      import graft.streaming.EmbIngest
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val cents = graft.ext.Similarity.kmeansFixedCentroids(
        emb, "vec_id", "embedding", nCentroids = 16, iters = 3, seed = 42L)
      val bounds = emb.agg(min("vec_id"), max("vec_id")).head()
      val (lo0, hi0) = (bounds.getLong(0), bounds.getLong(1))
      val span = hi0 - lo0 + 1
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q142").toString
      val tbl = "graft_q142_items_" + tmp.filter(_.isLetterOrDigit).takeRight(12)
      val inDir = s"$tmp/in"; val store = s"$tmp/store"
      val ckpt = s"$tmp/ckpt"
      new java.io.File(inDir).mkdirs()
      try {
        def stage(b: Long): Unit = {
          val lo = lo0 + b * span / 3
          val hi = if (b == 2) hi0 + 1 else lo0 + (b + 1) * span / 3
          val staging = s"$tmp/stage$b"
          emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
            .coalesce(1).write.parquet(staging)
          val part = stagedPart(staging)
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(s"$inDir/chunk$b.parquet"))
        }
        val q = phase("q142 startup")(EmbIngest.startBucketed(s, inDir,
          store, tbl, ckpt, cents, simThresholdFixed = 300000000000L))
        try {
          phase("q142 batches 0-1") {
            stage(0L); q.processAllAvailable()
            stage(1L); q.processAllAvailable()
          }
          // maintenance between micro-batches: fold the committed
          // batches' index to one file per bucket
          phase("q142 fold")(EmbIngest.compactBucketed(s, tbl, upToBatch = 1L))
          phase("q142 batch 2") { stage(2L); q.processAllAvailable() }
        } finally q.stop()
        phase("q142 result")(EmbIngest.result(s, store)
          .orderBy("vec_id")
          .coalesce(1)
          .localCheckpoint(eager = true)) // materialise before tmp cleanup
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val p = java.nio.file.Paths.get(tmp)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }),
    // q142's lifecycle KILLED AND RESUMED from its checkpoint — q152's
    // crash-window treatment for the SEMANTIC ingest family, completing
    // the restart certs across all three families (q106 PQ, q152 Doc,
    // this for Emb): stop after batches 0–1, delete batch 1's commit
    // marker, stage batch 2, start a NEW query from the same
    // checkpoint. The replay recomputes batch 1 against the pre-batch
    // state (own-batch exclusion on the bucketed item index;
    // dynamic-partition overwrite on the verdict store) and result()'s
    // per-id latest-batch pick absorbs whatever the replay rewrote.
    // Same verdict contract, same oracle as q140/q142.
    "q155_stream_semantic_restart" -> ((s, dir) => {
      import graft.streaming.EmbIngest
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val cents = graft.ext.Similarity.kmeansFixedCentroids(
        emb, "vec_id", "embedding", nCentroids = 16, iters = 3, seed = 42L)
      val bounds = emb.agg(min("vec_id"), max("vec_id")).head()
      val (lo0, hi0) = (bounds.getLong(0), bounds.getLong(1))
      val span = hi0 - lo0 + 1
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q155").toString
      val tbl = "graft_q155_items_" + tmp.filter(_.isLetterOrDigit).takeRight(12)
      val inDir = s"$tmp/in"; val store = s"$tmp/store"
      val ckpt = s"$tmp/ckpt"
      new java.io.File(inDir).mkdirs()
      try {
        def stage(b: Long): Unit = {
          val lo = lo0 + b * span / 3
          val hi = if (b == 2) hi0 + 1 else lo0 + (b + 1) * span / 3
          val staging = s"$tmp/stage$b"
          emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
            .coalesce(1).write.parquet(staging)
          val part = stagedPart(staging)
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(s"$inDir/chunk$b.parquet"))
        }
        val q1 = phase("q155 startup")(EmbIngest.startBucketed(s, inDir,
          store, tbl, ckpt, cents, simThresholdFixed = 300000000000L))
        try {
          phase("q155 batches 0-1") {
            stage(0L); q1.processAllAvailable()
            stage(1L); q1.processAllAvailable()
          }
        } finally q1.stop()
        // crash window: batch 1's output landed, its commit marker
        // didn't (drop the local ChecksumFs sidecar too)
        java.nio.file.Files.delete(
          java.nio.file.Paths.get(s"$ckpt/commits/1"))
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(s"$ckpt/commits/.1.crc"))
        stage(2L)
        val q2 = phase("q155 restart")(EmbIngest.startBucketed(s, inDir,
          store, tbl, ckpt, cents, simThresholdFixed = 300000000000L))
        try phase("q155 replay+batch 2")(q2.processAllAvailable())
        finally q2.stop()
        phase("q155 result")(EmbIngest.result(s, store)
          .orderBy("vec_id")
          .coalesce(1)
          .localCheckpoint(eager = true)) // materialise before tmp cleanup
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val p = java.nio.file.Paths.get(tmp)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }),
    // q142's lifecycle with the EVICTION HORIZON live — q144's
    // retention story on the SEMANTIC ingest family: the mid-stream
    // fold runs with `evictBelow = 1`, so batch-0 items leave the
    // bucketed index while their already-written verdicts persist
    // (the parquet items store is the verdict LOG — output, never
    // evicted). Batch 2's prior counts then see only batch-1 and
    // same-batch items. Ids ascend across the range-staged batches,
    // so the oracle is q68 minus exactly the {first-third × last-
    // third} prior pairs (semanticEvictSql).
    "q147_stream_semantic_evict" -> ((s, dir) => {
      import graft.streaming.EmbIngest
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val cents = graft.ext.Similarity.kmeansFixedCentroids(
        emb, "vec_id", "embedding", nCentroids = 16, iters = 3, seed = 42L)
      val bounds = emb.agg(min("vec_id"), max("vec_id")).head()
      val (lo0, hi0) = (bounds.getLong(0), bounds.getLong(1))
      val span = hi0 - lo0 + 1
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q147").toString
      val tbl = "graft_q147_items_" + tmp.filter(_.isLetterOrDigit).takeRight(12)
      val inDir = s"$tmp/in"; val store = s"$tmp/store"
      val ckpt = s"$tmp/ckpt"
      new java.io.File(inDir).mkdirs()
      try {
        def stage(b: Long): Unit = {
          val lo = lo0 + b * span / 3
          val hi = if (b == 2) hi0 + 1 else lo0 + (b + 1) * span / 3
          val staging = s"$tmp/stage$b"
          emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
            .coalesce(1).write.parquet(staging)
          val part = stagedPart(staging)
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(s"$inDir/chunk$b.parquet"))
        }
        val q = phase("q147 startup")(EmbIngest.startBucketed(s, inDir,
          store, tbl, ckpt, cents, simThresholdFixed = 300000000000L))
        try {
          phase("q147 batches 0-1") {
            stage(0L); q.processAllAvailable()
            stage(1L); q.processAllAvailable()
          }
          // fold with the retention horizon ON: batch-0 items leave
          // the index; verdicts persist (output, not state)
          phase("q147 fold+evict")(
            graft.streaming.Maintenance.compactEmbStore(
              s, store, upToBatch = 1L, evictBelow = 1L,
              itemsTable = Some(tbl)))
          phase("q147 batch 2") { stage(2L); q.processAllAvailable() }
        } finally q.stop()
        phase("q147 result")(EmbIngest.result(s, store)
          .orderBy("vec_id")
          .coalesce(1)
          .localCheckpoint(eager = true)) // materialise before tmp cleanup
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val p = java.nio.file.Paths.get(tmp)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }),
    // q137's lifecycle WITH the maintenance pass a long-running stream
    // actually takes: after batch 1 commits, the parquet stores fold
    // (DocIngest.compact) and the bucketed signature table rebuilds to
    // one file per bucket (compactBucketed) while the query is idle
    // between micro-batches — then batch 2 ingests against the folded
    // state. Same pairs contract, same oracle: compaction changes
    // layout, never the answer.
    "q141_stream_dedup_folded" -> ((s, dir) => {
      import graft.streaming.DocIngest
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q141").toString
      val tbl = "graft_q141_sigs_" + tmp.filter(_.isLetterOrDigit).takeRight(12)
      val inDir = s"$tmp/in"; val store = s"$tmp/store"
      val ckpt = s"$tmp/ckpt"
      new java.io.File(inDir).mkdirs()
      try {
        def stage(b: Long): Unit = {
          val staging = s"$tmp/stage$b"
          docs.filter(pmod(col("doc_id"), lit(3)) === b)
            .coalesce(1).write.parquet(staging)
          val part = stagedPart(staging)
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(s"$inDir/chunk$b.parquet"))
        }
        val q = phase("q141 startup")(
          DocIngest.startBucketed(s, inDir, store, tbl, ckpt))
        try {
          phase("q141 batches 0-1") {
            stage(0L); q.processAllAvailable()
            stage(1L); q.processAllAvailable()
          }
          // maintenance between micro-batches: batches 0–1 are committed
          // and can no longer replay — fold them (the Maintenance facade
          // orders the parquet folds before the bucketed rebuild)
          phase("q141 fold")(graft.streaming.Maintenance.compactDocStore(
            s, store, upToBatch = 1L, sigsTable = Some(tbl)))
          phase("q141 batch 2") { stage(2L); q.processAllAvailable() }
        } finally q.stop()
        phase("q141 result")(DocIngest.pairs(s, store)
          .orderBy("doc_a", "doc_b")
          .coalesce(1)
          .localCheckpoint(eager = true)) // materialise before cleanup
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val p = java.nio.file.Paths.get(tmp)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }),
    // q141's lifecycle with the EVICTION HORIZON live (r13 verdict,
    // Next #4) — the 100 TB/day steady state, where the dedup index
    // holds a retention window, not history: the mid-stream fold runs
    // with `evictBelow = 1`, so batch-0 docs LEAVE both the parquet
    // sigs/shingles stores and the bucketed signature table while their
    // already-emitted pairs persist (pairs are output, not state).
    // Batch 2 then matches only surviving (batch-1) and same-batch
    // docs. Oracle: the batch near-dup pairs MINUS the {batch-0 ×
    // batch-2} cross pairs — the exact pair set a horizon of one batch
    // implies (batches are doc_id mod 3, so the predicate is closed-
    // form in SQL).
    "q144_stream_dedup_evict" -> ((s, dir) => {
      import graft.streaming.DocIngest
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-q144").toString
      val tbl = "graft_q144_sigs_" + tmp.filter(_.isLetterOrDigit).takeRight(12)
      val inDir = s"$tmp/in"; val store = s"$tmp/store"
      val ckpt = s"$tmp/ckpt"
      new java.io.File(inDir).mkdirs()
      try {
        def stage(b: Long): Unit = {
          val staging = s"$tmp/stage$b"
          docs.filter(pmod(col("doc_id"), lit(3)) === b)
            .coalesce(1).write.parquet(staging)
          val part = stagedPart(staging)
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(s"$inDir/chunk$b.parquet"))
        }
        val q = phase("q144 startup")(
          DocIngest.startBucketed(s, inDir, store, tbl, ckpt))
        try {
          phase("q144 batches 0-1") {
            stage(0L); q.processAllAvailable()
            stage(1L); q.processAllAvailable()
          }
          // fold with the retention horizon ON: rows whose winning
          // batch is < 1 (batch 0) are evicted from the index stores
          phase("q144 fold+evict")(
            graft.streaming.Maintenance.compactDocStore(
              s, store, upToBatch = 1L, evictBelow = 1L,
              sigsTable = Some(tbl)))
          phase("q144 batch 2") { stage(2L); q.processAllAvailable() }
        } finally q.stop()
        phase("q144 result")(DocIngest.pairs(s, store)
          .orderBy("doc_a", "doc_b")
          .coalesce(1)
          .localCheckpoint(eager = true)) // materialise before cleanup
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        val p = java.nio.file.Paths.get(tmp)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }),
    // hard-negative mining (ext.Similarity.hardNegatives): each
    // vector's top-10 most-similar vectors drawn only from its probed
    // NEIGHBOURING clusters (the q71 candidate machinery minus the
    // query's own inverted list — probe ranks 2..nProbe) — the
    // contrastive-training negatives a random draw is too easy to
    // supply. Same candidate bound and WindowGroupLimit top-k as q71.
    "q112_hard_negatives" -> ((s, dir) =>
      graft.ext.Similarity.hardNegatives(
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 10)),
    // BPE merge-rule training (ext.Bpe): 5 rounds of most-frequent-
    // adjacent-pair fusion over the word-frequency table — the tokenizer
    // TRAINING step (q56 counts whole tokens; this learns the merge
    // table a subword tokenizer ships). One corpus tokenise pass, then
    // every round runs on the distinct-word symbol table; the winner is
    // a deterministic total order (cnt DESC, pair ASC) taken as
    // TakeOrderedAndProject and broadcast back; the greedy fuse is the
    // run-parity closed form both engines replay exactly.
    "q110_bpe_merges" -> ((s, dir) =>
      graft.ext.Bpe.trainMerges(
        t(s, dir, "documents"), "doc_id", "text", merges = 5)),
    // the trained tokenizer APPLIED (ext.Bpe.subwordVocab): top-100
    // subword tokens by frequency-weighted corpus count after the 5
    // fusion rounds — the encode-side witness (q56 is this table at
    // merges = 0). Rides q110's memoised training; one map-side-
    // combined aggregate + TakeOrderedAndProject.
    "q114_bpe_vocab" -> ((s, dir) =>
      graft.ext.Bpe.subwordVocab(
        t(s, dir, "documents"), "doc_id", "text", merges = 5, topK = 100)),
    // the trained tokenizer's SEGMENTATION LEXICON (ext.Bpe.
    // segmentLexicon): the ordered word → subword-pieces map for the
    // 200 most frequent corpus words — what an encode path ships so no
    // document is ever re-segmented (q114 is the piece histogram; this
    // is the piece SEQUENCES). One ordered collect over q110's memoised
    // final symbol table + TakeOrderedAndProject.
    "q119_bpe_segments" -> ((s, dir) =>
      graft.ext.Bpe.segmentLexicon(
        t(s, dir, "documents"), "doc_id", "text", merges = 5, topK = 200)),
    // leakage-safe split (ext.Dedup.leakSafeSplit): train/val/test drawn
    // from the near-dup COMPONENT's canonical id, so no duplicate group
    // ever straddles splits — the defence against eval contamination a
    // doc_id hash split structurally lacks. Pure row-local projection
    // over q58's component frame; the split itself adds zero exchanges.
    "q111_leak_safe_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ext.Dedup.leakSafeSplit(
        graft.ext.Dedup.dedupGroups(
          docs.select(col("doc_id")),
          graft.ext.Dedup.nearDupJaccardExact(docs, "doc_id", "text")),
        seed = 42L)
    }),
    // point-in-time (as-of) join: attach each event to the user's most
    // recent STRICTLY-prior purchase event (attribution) — union + one
    // window pass, one shuffle on the key, no range join (ext.AsOf).
    "q47_asof_attrib" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("prior_purchase_id"),
          col("value").as("prior_purchase_value"))
      graft.ext.AsOf.joinAsOf(
        e.select("event_id", "user_id", "ts"), purchases,
        key = "user_id", time = "ts", tiebreak = "prior_purchase_id",
        payload = Seq("prior_purchase_id", "prior_purchase_value"),
        strict = true)
        .select(col("event_id"), col("user_id"),
          col("prior_purchase_id"), col("prior_purchase_value"))
    }),
    // deterministic stratified sampling: ≤100 events per type, selected
    // by the partition-independent DetRandom ranking (ext.Sampling) —
    // plans as WindowGroupLimit, so hot strata never materialise
    "q48_stratified_sample" -> ((s, dir) =>
      graft.ext.Sampling.stratified(
        t(s, dir, "events").select(col("event_id"), col("event_type")),
        stratumCol = "event_type", idCol = "event_id", k = 100, seed = 77L)),
    // integer-scaled TF-IDF: top-3 terms per document by
    // tf × ((N×1e6) div df) — the idf in exact integer arithmetic, so the
    // whole feature is hash-comparable (a float ln() idf would be
    // libm-dependent across engines); rank ties break lexicographically
    "q49_tfidf_topterms" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val terms = docs.select(col("doc_id"),
          explode(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).as("term"))
      // the compact (doc, term, tf) frame feeds BOTH the df aggregate and
      // the scoring join — lazily each would re-run the corpus tokenise
      // (q85's audited lazy dump shows exactly that shape); one corpus
      // pass at any scale, same barrier as ext.Ranking/ext.Selection
      val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.count()
      val scored = tf.join(dfreq, Seq("term"))
        .select(col("doc_id"), col("term"),
          (col("tf") * expr(s"(${n}L * 1000000L) div df")).as("score"))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("doc_id")
        .orderBy(desc("score"), asc("term"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("term"), col("score"), col("rk").cast("long").as("rk"))
    }),
    // exact discrete quantiles per group (ext.Stats): median and p90 of
    // event value per type — rank ⌈q·n⌉ in integer arithmetic selects an
    // actual data value, so the result hash-verifies where approx or
    // interpolated percentiles never could. Tier dispatch
    // (`graft.quantiles.tier`): the default window tier sorts each group
    // in one task — right at oracle scale; `select` switches to the
    // multi-pass histogram selection (quantilesDiscSelect) that never
    // sorts, the 100 TB path — q60 pins that tier to the SAME oracle
    "q50_quantiles" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), col("value"), col("event_id"))
      if (s.conf.getOption("graft.quantiles.tier").contains("select"))
        graft.ext.Stats.quantilesDiscSelect(ev,
          groupCol = "event_type", valueCol = "value",
          quantiles = Seq((1, 2), (9, 10)))
      else graft.ext.Stats.quantilesDisc(ev,
        groupCol = "event_type", valueCol = "value", tiebreakCol = "event_id",
        quantiles = Seq((1, 2), (9, 10)))
    }),
    // the 100 TB quantile tier under the oracle: iterative histogram
    // selection (no per-group sort — each pass is one map-side-combinable
    // agg; driver moves only counters). The rank-k order statistic is
    // tiebreak-independent, so it must — and does — hash-match the same
    // window-ranked SQL as q50
    "q60_quantiles_select" -> ((s, dir) =>
      graft.ext.Stats.quantilesDiscSelect(
        t(s, dir, "events").select(col("event_type"), col("value"), col("event_id")),
        groupCol = "event_type", valueCol = "value",
        quantiles = Seq((1, 2), (9, 10)))),
    // measured ANN recall: |IVF top-k ∩ brute-force top-k| as an exact
    // integer — both rankings are rank-stable (deterministic tiebreaks),
    // so the recall COUNT hash-verifies even though the scores are float.
    // Recall is measured, not assumed.
    // matryoshka-truncation serving recall (MRL — Kusupati et al.,
    // "Matryoshka representation learning", NeurIPS 2022): brute-force
    // top-10 under the FIRST-half-dims cosine vs the full-dim top-10 —
    // the measured quality cost of serving at half the vector bytes
    // (half the scan/ADC traffic at 100 TB). Two broadcast-query scans
    // + TakeOrdered each; overlap as an exact integer.
    "q121_matryoshka_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val half = e.select(col("vec_id"),
        expr("slice(embedding, 1, size(embedding) div 2)").as("emb_h"))
      def top10(df: DataFrame, vcol: String, q: DataFrame): DataFrame =
        df.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
          .withColumn("score",
            graft.functions.ArrayOps.cosine(col(vcol), col("qv")))
          .orderBy(desc("score"), asc("vec_id"))
          .limit(10)
          .select(col("vec_id").as("id"))
      val bfFull = top10(e, "embedding",
        e.filter(col("vec_id") === 0).select(col("embedding").as("qv")))
      val bfHalf = top10(half, "emb_h",
        half.filter(col("vec_id") === 0).select(col("emb_h").as("qv")))
      bfHalf.join(bfFull, Seq("id"), "left_semi")
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(10L).as("k"), col("n_overlap"))
    }),
    "q51_ann_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val ivf = graft.ext.Similarity.ivfTopK(
        e, "vec_id", "embedding", queryId = 0L, k = 10)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      val bf = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .withColumn("score",
          graft.functions.ArrayOps.cosine(col("embedding"), col("qe")))
        .orderBy(desc("score"), asc("vec_id"))
        .limit(10)
        .select(col("vec_id").as("id"))
      ivf.join(bf, Seq("id"), "left_semi")
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(10L).as("k"), col("n_overlap"))
    }),
    // measured recall for the k-means IVF tier (q45's evidence):
    // |kmeans-IVF top-10 ∩ brute-force top-10| as an integer — and since
    // the fixed-point fit is oracle-replayable (q45), the recall
    // measurement itself is now hash-exact too, not just rows-only.
    "q54_ann_recall_kmeans" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val ivf = graft.ext.Similarity.ivfTopKKMeansFixed(
        e, "vec_id", "embedding", queryId = 0L, k = 10)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      val bf = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .withColumn("score",
          graft.functions.ArrayOps.cosine(col("embedding"), col("qe")))
        .orderBy(desc("score"), asc("vec_id"))
        .limit(10)
        .select(col("vec_id").as("id"))
      ivf.join(bf, Seq("id"), "left_semi")
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(10L).as("k"), col("n_overlap"))
    }),
    // windowed interval join (ext.Interval): errors in the 10 minutes up
    // to each purchase, per user — bucketized equi-join (2× replication,
    // one shuffle), not a per-key nested-loop range join. Times compare
    // as integer MICROseconds on both sides: the raw nanos carry
    // sub-microsecond digits that DuckDB's TIMESTAMP truncates, so a
    // nanos-precision window could disagree at the boundary.
    "q52_interval_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("event_id"), expr("ts div 1000").as("tsu"),
          col("user_id"), col("event_type"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("tsu"), col("user_id"))
      val errors = e.filter(col("event_type") === "error")
        .select(col("user_id"), col("tsu"), col("event_id").as("err_id"))
      val w = 600L * 1000000L // 10 min in micros
      graft.ext.Interval.joinWithin(
          purchases, errors, key = "user_id", time = "tsu",
          window = w, payload = Seq("err_id"))
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_errors_10m"))
    }),
    // brute-force cosine top-k similarity search (ids only: rank-stable)
    "q35_sim_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      e.crossJoin(broadcast(q))
        .withColumn("score",
          graft.functions.ArrayOps.cosine(col("embedding"), col("qe")))
        .orderBy(desc("score"), asc("vec_id"))
        .limit(10)
        .select("vec_id")
    }),
  )

  /** Shared oracle for the near-dedup family: ground truth is the exact
    * token-bigram Jaccard over all pairs — both LSH schemes must return
    * precisely the pairs the brute-force finds (candidates are exact-
    * verified; band/block parameters give ~100% recall at τ=0.8 on any
    * corpus whose near-dups sit above the LSH S-curve). */
  /** SemDeDup oracle (q68 and its streaming-lifecycle twin q140):
    * replays the fixed-point Lloyd's fit ([[kmeansFixedCtes]]), then the
    * within-cluster min-id-wins drop over the exact shift-removed dot.
    * `extraCtes`/`extraPred` parameterize the q147 eviction variant:
    * the pair join gains a predicate excluding pairs whose smaller side
    * was evicted from the index before the larger side ingested. */
  private def semanticDedupSql: String = semanticDedupSqlVariant("", "")
  private def semanticDedupSqlVariant(
      extraCtes: String, extraPred: String): String =
    s"""WITH $kmeansFixedCtes,$extraCtes
      |ws AS (SELECT id, list_transform(vi, x -> CAST(x - 1000000 AS DOUBLE)) AS w FROM si),
      |pr AS (
      |  SELECT b.id AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_neardup_prior
      |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.id < b.id
      |  JOIN ws wa ON wa.id = a.id JOIN ws wb ON wb.id = b.id
      |  WHERE list_dot_product(wa.w, wb.w) > 300000000000$extraPred
      |  GROUP BY b.id)
      |SELECT asg.id AS vec_id, asg.cid,
      |  CAST(COALESCE(pr.n_neardup_prior, 0) AS BIGINT) AS n_neardup_prior,
      |  CAST(CASE WHEN pr.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
      |FROM asg LEFT JOIN pr ON pr.vec_id = asg.id""".stripMargin

  /** q147's oracle: q68's SemDeDup verdicts, minus the prior pairs the
    * eviction horizon removes — the staging splits vec_id into three
    * ascending RANGE batches (floor thirds of the id span), batch-0
    * items leave the index before batch 2 ingests, and since ids only
    * ascend the excluded pairs are exactly {a in first third, b in last
    * third}. Bounds derive in SQL from the same min/max the entry uses. */
  private def semanticEvictSql: String = semanticDedupSqlVariant(
    """
      |bnd AS (SELECT MIN(vec_id) AS lo,
      |  MAX(vec_id) - MIN(vec_id) + 1 AS span FROM embeddings),""".stripMargin,
    """
      |    AND NOT (a.id < (SELECT lo + span // 3 FROM bnd)
      |         AND b.id >= (SELECT lo + (2 * span) // 3 FROM bnd))""".stripMargin)

  private val jaccardPairsSql =
    """WITH t AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS sh
      |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents)
      |)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |FROM t a JOIN t b ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8""".stripMargin

  /** The LSH bucket-key expressions for the embedding queries — the oracle
    * replicates the exact seeded-hyperplane algorithm (same planes, same
    * key packing), so Spark and DuckDB agree bucket-for-bucket; the exact-
    * cosine verify then makes the result algorithm-independent for any
    * corpus whose τ-boundary gap exceeds float noise. */
  private lazy val lshKeySqls =
    graft.ext.Similarity.bucketKeySql("v", tables = 4, bits = 8, seed = 42L)

  /** CTE chain replaying [[graft.ext.Similarity.kmeansFixedCentroids]] +
    * the fixed IVF serving tail in DuckDB, op for op: the scaled-long
    * image (normalise → ×10⁶ → floor → +10⁶ shift), the DetRandom-ranked
    * init, and `kmeansFixedIters` unrolled Lloyd's iterations of
    * integer-distance assignment (`2·v·c − ‖c‖²`, centroid-id ties) and
    * floor-mean updates (empty centroid keeps its position). Ends with
    * CTEs `asg` (id, v, cid), `qv`, and `probes` for the callers' final
    * SELECT. */
  /** q58/q97's shared oracle chain: exact-Jaccard near-dup pairs →
    * bounded-round HashMin label propagation → per-doc min-id component
    * label (`g (doc_id, canon_id)`).
    *
    * The closure is [[dedupGroupsOracleRounds]] UNROLLED rounds of
    * `lbl ← min(lbl, min over in-neighbors' lbl)` — the exact recurrence
    * the engine's [[graft.graph.Analytics.connectedComponentsBounded]]
    * iterates to convergence behind `dedupGroups` — instead of the
    * r7 recursive CTE, whose all-pairs `reach` set is quadratic in
    * component size (DuckDB ground >35 min at sf0.1; SCALE_r7.md). Each
    * round costs one |E| join + a group-min, so the oracle now tracks
    * corpus size linearly and the sf0.1 cross-check runs the full board.
    * Exactness is self-certifying: HashMin converges in ≤ diameter
    * rounds, near-dup components are near-cliques (diameters of 1–2; 16
    * rounds is a ~10× margin), and an under-converged oracle would
    * DISAGREE with the fully-converged engine and fail the hash — the
    * bound can only cause a loud false alarm, never a silent pass. */
  private val dedupGroupsOracleRounds = 16
  /** The HashMin round CTEs `l1..lN` over an edge CTE `e (a, b)` and a
    * label CTE `l0 (id, lbl)` — shared by every dedup-groups oracle
    * (q58's text chain, q160's image chain). MATERIALIZED is
    * load-bearing: DuckDB inlines plain CTEs per reference, and each
    * round references its predecessor twice — 16 inlined rounds would
    * expand to 2^16 copies of the base scan (observed as an exponential
    * open-file/plan blow-up, the very pathology the r7 recursive CTE
    * had). */
  private def hashMinRoundCtes(rounds: Int): String =
    (1 to rounds).map { k =>
      s"""l$k AS MATERIALIZED (SELECT id, MIN(lbl) AS lbl FROM (
         |  SELECT id, lbl FROM l${k - 1}
         |  UNION ALL
         |  SELECT e.a AS id, l.lbl FROM e JOIN l${k - 1} l ON l.id = e.b)
         |  GROUP BY id)""".stripMargin
    }.mkString(",\n")

  private val dedupGroupsCtes: String = {
    val rounds = hashMinRoundCtes(dedupGroupsOracleRounds)
    s"""WITH t AS MATERIALIZED (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS sh
      |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents)
      |),
      |p AS MATERIALIZED (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM t a JOIN t b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
      |e AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM p UNION ALL SELECT doc_b, doc_a FROM p),
      |l0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS lbl FROM documents),
      |$rounds,
      |g AS (
      |  SELECT CAST(id AS BIGINT) AS doc_id,
      |    CAST(lbl AS BIGINT) AS canon_id
      |  FROM l$dedupGroupsOracleRounds)""".stripMargin
  }

  private val kmeansFixedIters = 3
  private def kmeansFixedCtes: String = {
    val score = (v: String, c: String) =>
      s"2 * list_dot_product($v, $c.cv) - list_dot_product($c.cv, $c.cv)"
    val step = (i: Int) => {
      val prev = if (i == 1) "c0" else s"c${i - 1}"
      s"""a$i AS (SELECT cid, vi FROM (
         |  SELECT si.vi, $prev.cid,
         |    row_number() OVER (PARTITION BY si.id ORDER BY ${score("si.vi", prev)} DESC, $prev.cid) AS rk
         |  FROM si CROSS JOIN $prev) WHERE rk = 1),
         |u$i AS (SELECT cid, list(sd ORDER BY d) AS cv FROM (
         |  SELECT cid, t.d AS d, CAST(SUM(vi[t.d]) // COUNT(*) AS BIGINT) AS sd
         |  FROM a$i, UNNEST(range(1, len(vi) + 1)) AS t(d) GROUP BY cid, t.d) GROUP BY cid),
         |c$i AS (SELECT $prev.cid, COALESCE(u$i.cv, $prev.cv) AS cv FROM $prev LEFT JOIN u$i USING (cid))"""
        .stripMargin
    }
    val cLast = s"c$kmeansFixedIters"
    s"""s AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |si AS (SELECT id, v,
       |  list_transform(v, x -> CAST(floor((CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN x ELSE x / sqrt(list_dot_product(v, v)) END) * 1000000) AS BIGINT) + 1000000) AS vi
       |  FROM s),
       |c0 AS (SELECT id AS cid, vi AS cv FROM (
       |  SELECT id, vi, row_number() OVER (ORDER BY ${graft.learn.DetRandom.uniformSql("id", "id", 42L)}, id) AS rn FROM si)
       |  WHERE rn <= 16),
       |${(1 to kmeansFixedIters).map(step).mkString(",\n")},
       |asg AS (SELECT id, v, cid FROM (
       |  SELECT si.id, si.v, $cLast.cid,
       |    row_number() OVER (PARTITION BY si.id ORDER BY ${score("si.vi", cLast)} DESC, $cLast.cid) AS rk
       |  FROM si CROSS JOIN $cLast) WHERE rk = 1),
       |qv AS (SELECT v FROM s WHERE id = 0),
       |qi AS (SELECT vi FROM si WHERE id = 0),
       |probes AS (SELECT cid FROM (
       |  SELECT $cLast.cid,
       |    row_number() OVER (ORDER BY 2 * list_dot_product((SELECT vi FROM qi), $cLast.cv) - list_dot_product($cLast.cv, $cLast.cv) DESC, $cLast.cid) AS rk
       |  FROM $cLast) WHERE rk <= 4)""".stripMargin
  }

  /** PQ oracle CTEs (q100/q101): the `s`/`si` scaled-image prelude (the
    * same arithmetic as [[kmeansFixedCtes]]'s) + [[pqBlockCtes]]. */
  private def pqCtes: String =
    s"""s AS MATERIALIZED (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |si AS MATERIALIZED (SELECT id,
       |  list_transform(v, x -> CAST(floor((CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN x ELSE x / sqrt(list_dot_product(v, v)) END) * 1000000) AS BIGINT) + 1000000) AS vi
       |  FROM s),
       |$pqBlockCtes"""
      .stripMargin

  /** The PQ block chains + ADC score, WITHOUT the `s`/`si` prelude — so
    * q102 can graft them onto [[kmeansFixedCtes]] (whose `si` carries an
    * extra `v` column the block CTEs simply ignore). Per block b ∈ 0..7:
    * an unrolled integer Lloyd's chain over `list_slice(vi, b·8+1,
    * (b+1)·8)` seeded 42+b, per-vector codes (argmax, cid tiebreak), and
    * the query's ADC terms; a vector's approximate score (`pqscore`) is
    * the sum of its 8 ADC entries. MATERIALIZED on the reused CTEs —
    * inlined references would expand the per-block subtrees
    * combinatorially (the q58 lesson). */
  private def pqScoreSql(v: String, c: String): String =
    s"2 * list_dot_product($v, $c.cv) - list_dot_product($c.cv, $c.cv)"

  /** One block's unrolled fit + coding over ANY non-negative integer
    * image CTE `src (id, vi)`: the sliced frame `{p}{b}_s`, the seeded
    * init `{p}{b}_c0` (seed 42+b — the engine's per-block constant), the
    * Lloyd's steps, and the per-vector codes `{p}{b}_code (id, cid)`.
    * Shared verbatim by the plain chains (prefix `pb` over `si`) and the
    * residual chains (prefix `rb` over `ri`). */
  private def pqChainCore(p: String, src: String, b: Int): String = {
    val width = 8; val nCodes = 16
    val lo = b * width + 1; val hi = (b + 1) * width
    val init =
      s"""$p${b}_s AS MATERIALIZED (SELECT id, list_slice(vi, $lo, $hi) AS vi FROM $src),
         |$p${b}_c0 AS MATERIALIZED (SELECT id AS cid, vi AS cv FROM (
         |  SELECT id, vi, row_number() OVER (ORDER BY ${graft.learn.DetRandom.uniformSql("id", "id", 42L + b)}, id) AS rn FROM $p${b}_s)
         |  WHERE rn <= $nCodes)""".stripMargin
    val steps = (1 to kmeansFixedIters).map { i =>
      val prev = s"$p${b}_c${i - 1}"
      s"""$p${b}_a$i AS (SELECT cid, vi FROM (
         |  SELECT s.vi, s.id, $prev.cid,
         |    row_number() OVER (PARTITION BY s.id ORDER BY ${pqScoreSql("s.vi", prev)} DESC, $prev.cid) AS rk
         |  FROM $p${b}_s s CROSS JOIN $prev) WHERE rk = 1),
         |$p${b}_u$i AS (SELECT cid, list(sd ORDER BY d) AS cv FROM (
         |  SELECT cid, t.d AS d, CAST(SUM(vi[t.d]) // COUNT(*) AS BIGINT) AS sd
         |  FROM $p${b}_a$i, UNNEST(range(1, len(vi) + 1)) AS t(d) GROUP BY cid, t.d) GROUP BY cid),
         |$p${b}_c$i AS MATERIALIZED (SELECT $prev.cid, COALESCE($p${b}_u$i.cv, $prev.cv) AS cv FROM $prev LEFT JOIN $p${b}_u$i USING (cid))"""
        .stripMargin
    }.mkString(",\n")
    val last = s"$p${b}_c$kmeansFixedIters"
    val code =
      s"""$p${b}_code AS (SELECT id, cid FROM (
         |  SELECT s.id, c.cid,
         |    row_number() OVER (PARTITION BY s.id ORDER BY ${pqScoreSql("s.vi", "c")} DESC, c.cid) AS rk
         |  FROM $p${b}_s s CROSS JOIN $last c) WHERE rk = 1)""".stripMargin
    Seq(init, steps, code).mkString(",\n")
  }

  private def pqBlockCtes: String = {
    val blocks = 8
    def chain(b: Int): String = {
      val last = s"pb${b}_c$kmeansFixedIters"
      val adc =
        s"""pb${b}_adc AS (SELECT k.id, ${pqScoreSql(s"(SELECT vi FROM pb${b}_s WHERE id = 0)", "c")} AS a
           |  FROM pb${b}_code k JOIN $last c USING (cid))""".stripMargin
      Seq(pqChainCore("pb", "si", b), adc).mkString(",\n")
    }
    val adcUnion = (0 until blocks)
      .map(b => s"SELECT id, a FROM pb${b}_adc").mkString(" UNION ALL ")
    s"""${(0 until blocks).map(chain).mkString(",\n")},
       |pqscore AS (SELECT id, SUM(a) AS score FROM ($adcUnion) GROUP BY id),
       |pqtop AS (SELECT id FROM pqscore WHERE id <> 0 ORDER BY score DESC, id LIMIT 10)"""
      .stripMargin
  }

  /** Residual IVF+PQ oracle CTEs (q107) — grafted onto
    * [[kmeansFixedCtes]] (needs `si`, the last Lloyd's CTE, `asg`, `qi`,
    * `probes`): the twice-shifted residual image `ri`, the residual
    * block chains (`rb` prefix, same unrolled math as `pb` over `si`),
    * the per-probed-list query residuals + norms, and the norm-adjusted
    * cross-list ADC ranking `rtop` — replaying
    * [[graft.ext.Similarity.ivfPqResidualTopKFixed]] bit-for-bit. */
  private def residualPqCtes: String = {
    val blocks = 8; val width = 8
    val cLast = s"c$kmeansFixedIters"
    val ri =
      s"""ri AS MATERIALIZED (
         |  SELECT a.id, list_transform(range(1, len(si.vi) + 1), d -> si.vi[d] - c.cv[d] + 2000000) AS vi
         |  FROM asg a JOIN si ON si.id = a.id JOIN $cLast c ON c.cid = a.cid)""".stripMargin
    val chains = (0 until blocks).map(b => pqChainCore("rb", "ri", b))
    val qres =
      s"""qres AS MATERIALIZED (
         |  SELECT p.cid, list_transform(range(1, len(q.vi) + 1), d -> q.vi[d] - c.cv[d] + 2000000) AS qr
         |  FROM probes p JOIN $cLast c ON c.cid = p.cid CROSS JOIN qi q),
         |qrn AS (SELECT cid, list_dot_product(qr, qr) AS nrm FROM qres)""".stripMargin
    val radc = (0 until blocks).map { b =>
      val lo = b * width + 1; val hi = (b + 1) * width
      s"""radc$b AS (SELECT k.id,
         |  2 * list_dot_product(list_slice(q.qr, $lo, $hi), c.cv) - list_dot_product(c.cv, c.cv) AS a
         |  FROM rb${b}_code k JOIN asg ag ON ag.id = k.id
         |  JOIN qres q ON q.cid = ag.cid
         |  JOIN rb${b}_c$kmeansFixedIters c ON c.cid = k.cid)""".stripMargin
    }
    val radcUnion = (0 until blocks)
      .map(b => s"SELECT id, a FROM radc$b").mkString(" UNION ALL ")
    s"""$ri,
       |${chains.mkString(",\n")},
       |$qres,
       |${radc.mkString(",\n")},
       |rscore AS (SELECT id, SUM(a) AS s FROM ($radcUnion) GROUP BY id),
       |rtop AS (
       |  SELECT r.id FROM rscore r JOIN asg ag ON ag.id = r.id JOIN qrn ON qrn.cid = ag.cid
       |  WHERE r.id <> 0 ORDER BY r.s - qrn.nrm DESC, r.id LIMIT 10)"""
      .stripMargin
  }

  /** Appends to [[kmeansFixedCtes]] the per-vector IVF probe ranking
    * (`pr`; references `c3`, the last Lloyd's CTE for
    * `kmeansFixedIters` = 3) and the probed top-10 neighbor graph
    * (`knn (qid, nid, rk)`) — q71's oracle, and the base graph q72's
    * refinement oracle expands. */
  private def knnCtes: String =
    s"""$kmeansFixedCtes,
      |pr AS (SELECT id, cid FROM (
      |  SELECT si.id, c3.cid,
      |    row_number() OVER (PARTITION BY si.id ORDER BY 2 * list_dot_product(si.vi, c3.cv) - list_dot_product(c3.cv, c3.cv) DESC, c3.cid) AS rk
      |  FROM si CROSS JOIN c3) WHERE rk <= 4),
      |kcand AS (
      |  SELECT p.id AS qid, a.id AS nid, list_cosine_similarity(q.v, a.v) AS sim
      |  FROM pr p JOIN asg a ON a.cid = p.cid AND a.id <> p.id
      |  JOIN s q ON q.id = p.id),
      |knn AS (
      |  SELECT qid, nid, rk FROM (
      |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk FROM kcand)
      |  WHERE rk <= 10)""".stripMargin

  /** The q110/q114 BPE training CTE chain: word-frequency table →
    * exploded symbol table `s0` → 5 unrolled fusion rounds, each with
    * its winner `x_r` (cnt DESC, pair ASC) and the run-parity greedy
    * fuse → final table `s5`. Mirrors [[graft.ext.Bpe]] bit-for-bit. */
  private def bpeCtes: String = {
    val rounds = (1 to 5).map { r =>
      s"""n$r AS (SELECT wd, freq, pos, sym,
         |    lead(sym) OVER (PARTITION BY wd ORDER BY pos) AS nxt FROM s${r - 1}),
         |x$r AS (SELECT sym AS a, nxt AS b, SUM(freq) AS cnt FROM n$r
         |  WHERE nxt IS NOT NULL GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 1),
         |f$r AS (SELECT n.wd, n.freq, n.pos, n.sym, n.nxt, x.a, x.b, x.cnt,
         |    CASE WHEN n.sym = x.a AND (lag(n.sym) OVER (PARTITION BY n.wd ORDER BY n.pos) IS DISTINCT FROM x.a)
         |      THEN 1 ELSE 0 END AS rb
         |  FROM n$r n CROSS JOIN x$r x),
         |g$r AS (SELECT *, SUM(rb) OVER (PARTITION BY wd ORDER BY pos) AS run_id FROM f$r),
         |h$r AS (SELECT *, pos - MIN(pos) OVER (PARTITION BY wd, run_id) AS off,
         |    CASE WHEN sym = a AND nxt = b THEN 1 ELSE 0 END AS m FROM g$r),
         |k$r AS (SELECT *, CASE WHEN m = 1 AND (a <> b OR off % 2 = 0) THEN 1 ELSE 0 END AS mg FROM h$r),
         |l$r AS (SELECT *, COALESCE(lag(mg) OVER (PARTITION BY wd ORDER BY pos), 0) AS cons FROM k$r),
         |s$r AS (SELECT wd, freq, row_number() OVER (PARTITION BY wd ORDER BY pos) - 1 AS pos,
         |    CASE WHEN mg = 1 THEN a || b ELSE sym END AS sym
         |  FROM l$r WHERE cons = 0)""".stripMargin
    }.mkString(",\n")
    s"""w AS (SELECT wd, COUNT(*) AS freq FROM (
       |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS wd FROM documents)
       |  GROUP BY wd),
       |s0 AS (SELECT wd, freq, generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS sym FROM (
       |  SELECT wd, freq, regexp_extract_all(wd, '.') AS l FROM w)),
       |$rounds""".stripMargin
  }

  /** The q109/q113 walk-corpus CTE chain: co-purchase pairs →
    * symmetrized slot-indexed adjacency (slot = `row_number − 1` per
    * source ordered by neighbour id, with source AND destination
    * degrees) → 4 unrolled walk steps via the DetRandom choice
    * `mix(cur, wid·31 + t) mod deg` → `corpus (wid, st, cur)`. Mirrors
    * [[graft.learn.Walks.randomWalks]] bit-for-bit. */
  private def walkCtes: String = {
    val steps = (1 to 4).map { t =>
      s"""w$t AS (SELECT f.wid, a.v AS cur, a.vdeg AS deg FROM w${t - 1} f
         |  JOIN adj a ON a.u = f.cur
         |    AND a.idx = (${DetRandom.mixSql("f.cur", s"f.wid * 31 + $t", 42L)}) % f.deg)""".stripMargin
    }.mkString(",\n")
    val corpus = (0 to 4).map { t =>
      s"SELECT wid, CAST($t AS BIGINT) AS st, cur FROM w$t"
    }.mkString("\nUNION ALL\n")
    s"""pp AS (SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
       |  FROM lineitem l1 JOIN lineitem l2
       |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
       |e0 AS (SELECT a AS u, b AS v FROM pp UNION ALL SELECT b AS u, a AS v FROM pp),
       |adj AS (SELECT u, v,
       |    row_number() OVER (PARTITION BY u ORDER BY v) - 1 AS idx,
       |    COUNT(*) OVER (PARTITION BY u) AS deg,
       |    COUNT(*) OVER (PARTITION BY v) AS vdeg
       |  FROM e0),
       |w0 AS (SELECT u * 2 + g AS wid, u AS cur, deg FROM
       |  (SELECT DISTINCT u, deg FROM adj) CROSS JOIN (SELECT unnest(range(2)) AS g)),
       |$steps,
       |corpus AS ($corpus)""".stripMargin
  }

  /** Degree-oriented triangle enumeration over the part co-purchase
    * graph — the shared CTE chain of q74 (per-node counts) and q78
    * (per-edge counts): `pp` canonical pairs, `deg`, the oriented list
    * `o (u, v, dv)`, wedges `wg`, and closed triangles `tr (u, v, c)`.
    * Mirrors [[graft.graph.Analytics.triangleStats]]'s orientation. */
  /** q118/q120's shared temporal-walk unroll: time-carrying co-purchase
    * pairs, symmetrized, then 4 time-respecting steps where each walk's
    * valid candidates (`d >= clock`) are slot-ordered by (day,
    * neighbour) and the draw is the deterministic mix mod n_valid —
    * [[graft.learn.Walks.temporalWalks]]'s recurrence. Ends with
    * `tcorpus (wid, st, cur)` (the walk table q120's skip-gram join
    * consumes) and the per-step `v0..v4` frames q118 unions. */
  private def temporalWalkCtes: String = {
    val steps = (1 to 4).map { t =>
      val r = DetRandom.mixSql("cur", s"wid * 31 + $t", 42L)
      s"""c$t AS (SELECT f.wid, f.cur, e.v, e.d,
         |    row_number() OVER (PARTITION BY f.wid ORDER BY e.d, e.v) - 1 AS slot,
         |    COUNT(*) OVER (PARTITION BY f.wid) AS n
         |  FROM v${t - 1} f JOIN e0 e ON e.u = f.cur AND e.d >= f.curd),
         |v$t AS (SELECT wid, v AS cur, d AS curd FROM c$t
         |  WHERE slot = ($r) % n)""".stripMargin
    }.mkString(",\n")
    val corpus = (0 to 4).map { t =>
      s"SELECT wid, CAST($t AS BIGINT) AS st, cur FROM v$t"
    }.mkString("\nUNION ALL\n")
    s"""bo AS (SELECT l.l_orderkey AS bk, l.l_partkey AS it,
       |    epoch_us(o.o_orderdate) // 86400000000 AS d
       |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
       |pp AS (SELECT DISTINCT b1.it AS a, b2.it AS b, b1.d
       |  FROM bo b1 JOIN bo b2 ON b1.bk = b2.bk AND b1.it < b2.it),
       |e0 AS (SELECT a AS u, b AS v, d FROM pp UNION ALL SELECT b, a, d FROM pp),
       |v0 AS (SELECT u * 2 + g AS wid, u AS cur, CAST(0 AS BIGINT) AS curd FROM
       |  (SELECT DISTINCT u FROM e0) CROSS JOIN (SELECT unnest(range(2)) AS g)),
       |$steps,
       |tcorpus AS ($corpus)""".stripMargin
  }

  private def triangleCtes: String =
    """pp AS (SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      |  FROM lineitem l1 JOIN lineitem l2
      |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
      |deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM
      |  (SELECT a AS id FROM pp UNION ALL SELECT b FROM pp) GROUP BY id),
      |ed AS (SELECT pp.a, pp.b, da.deg AS da, db.deg AS db
      |  FROM pp JOIN deg da ON da.id = pp.a JOIN deg db ON db.id = pp.b),
      |o AS (SELECT
      |  CASE WHEN da < db OR da = db THEN a ELSE b END AS u,
      |  CASE WHEN da < db OR da = db THEN b ELSE a END AS v,
      |  CASE WHEN da < db OR da = db THEN db ELSE da END AS dv FROM ed),
      |wg AS (SELECT o1.u, o1.v, o2.v AS c FROM o o1 JOIN o o2
      |  ON o1.u = o2.u AND (o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v))),
      |tr AS (SELECT wg.u, wg.v, wg.c FROM wg
      |  JOIN o o3 ON o3.u = wg.v AND o3.v = wg.c)""".stripMargin

  /** The q154 pipeline's CTE chain (fixture pixels → gradient bits →
    * block keys → candidates → exact Hamming per pair) without the final
    * SELECT — shared by q154/q158 (radius cut) and q160 (groups +
    * retention on top of the radius-3 pairs). */
  private val imageDHashCtes: String =
    s"""dim AS (SELECT doc_id, doc_id // 3 AS g,
      |    1 + (doc_id // 3) % 3 AS cw, 1 + (doc_id // 3) % 2 AS ch
      |  FROM documents),
      |px AS (SELECT doc_id, gx.x AS x, gy.y AS y,
      |    ((g*31 + gx.x*gx.x + gx.x*(7 + g % 11) + gy.y*(13 + g % 13)) % 14) * 16 + 8 +
      |      CASE WHEN (doc_id*131 + (gx.x*cw)*17 + (gy.y*ch)*23) % 19 = 0
      |           THEN 7 ELSE 0 END AS v
      |  FROM dim, generate_series(0, 8) AS gx(x),
      |    generate_series(0, 7) AS gy(y)),
      |bits AS (SELECT a.doc_id, a.y * 8 + a.x AS pos,
      |    CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
      |  FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.y = a.y
      |    AND b.x = a.x + 1
      |  WHERE a.x < 8),
      |blk AS (SELECT doc_id, pos // 16 AS q,
      |    SUM(bit * (CAST(1 AS BIGINT) << (pos % 16)))
      |      + (pos // 16) * 4294967296 AS key
      |  FROM bits GROUP BY doc_id, pos // 16),
      |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM blk x JOIN blk y ON x.key = y.key AND x.doc_id < y.doc_id),
      |ham AS (SELECT c.a, c.b,
      |    SUM(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) AS hm
      |  FROM cand c
      |  JOIN bits ba ON ba.doc_id = c.a
      |  JOIN bits bb ON bb.doc_id = c.b AND bb.pos = ba.pos
      |  GROUP BY c.a, c.b)""".stripMargin

  /** The q157 audio pipeline's CTE chain (fixture envelope → delta-sign
    * bits → block keys → candidates → exact Hamming per pair), every
    * CTE name prefixed so the chain composes into multi-modality
    * statements without collisions (q157 uses the empty prefix; q164
    * uses "a", which also keeps its HashMin `e` CTE distinct). */
  private def audioFpCtes(p: String): String =
    s"""${p}fr AS (SELECT doc_id, doc_id // 3 AS gg, t.f AS f
      |  FROM documents, generate_series(0, 64) AS t(f)),
      |${p}u AS (SELECT doc_id, f,
      |    ${graft.learn.DetRandom.mixSql("gg", "f", 42L)} AS u0 FROM ${p}fr),
      |${p}e AS (SELECT doc_id, f,
      |    (${graft.multimodal.MediaSynth.sq2Sql("u0")} % 14) * 1024 + 512 +
      |      CASE WHEN (doc_id*131 + f*17) % 19 = 0 THEN 7 ELSE 0 END AS amp
      |  FROM ${p}u),
      |${p}bits AS (SELECT a.doc_id, a.f AS pos,
      |    CASE WHEN b.amp > a.amp THEN 1 ELSE 0 END AS bit
      |  FROM ${p}e a JOIN ${p}e b ON b.doc_id = a.doc_id AND b.f = a.f + 1
      |  WHERE a.f < 64),
      |${p}blk AS (SELECT doc_id, pos // 16 AS q,
      |    SUM(bit * (CAST(1 AS BIGINT) << (pos % 16)))
      |      + (pos // 16) * 4294967296 AS key
      |  FROM ${p}bits GROUP BY doc_id, pos // 16),
      |${p}cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM ${p}blk x JOIN ${p}blk y ON x.key = y.key
      |    AND x.doc_id < y.doc_id),
      |${p}ham AS (SELECT c.a, c.b,
      |    SUM(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) AS hm
      |  FROM ${p}cand c
      |  JOIN ${p}bits ba ON ba.doc_id = c.a
      |  JOIN ${p}bits bb ON bb.doc_id = c.b AND bb.pos = ba.pos
      |  GROUP BY c.a, c.b)""".stripMargin

  /** The full-Gopher (q153) oracle chain parameterised by its corpus
    * source — q153 replays `documents`, q166 the boilerplate-augmented
    * slice — with an optional extra column appended to the final
    * SELECT (q166's rep_only_fail verdict). */
  private def gopherFullOracleSql(
      docsSrc: String, extraSelect: String = ""): String = {
    val covCols = (2 to 10).map { n =>
      val alias = if (n <= 4) s"top${n}_ppm" else s"dup${n}_ppm"
      s"CAST(COALESCE(MAX(CASE WHEN cc.n = $n THEN cc.ppm END), 0) AS BIGINT) AS $alias"
    }.mkString(",\n  ")
    val repFlags = graft.ext.Filters.RepetitionCuts.map { case (c, cut) =>
      s"CAST(CASE WHEN rep.$c <= $cut THEN 1 ELSE 0 END AS BIGINT) AS f_${c.stripSuffix("_ppm")}"
    }.mkString(",\n  ")
    val allFlags = (Seq("f_ntok", "f_mtl", "f_alpha", "f_stop") ++
      graft.ext.Filters.RepetitionCuts.map(c => "f_" + c._1.stripSuffix("_ppm")))
      .mkString(" * ")
    s"""WITH t AS (
        |  SELECT doc_id, lower(text) AS lt,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM $docsSrc),
        |st AS (SELECT doc_id,
        |  CAST(len(ts) AS BIGINT) AS n_tok,
        |  CAST(CASE WHEN len(ts) = 0 THEN 0
        |    ELSE list_sum(list_transform(ts, x -> length(x))) * 1000000 // len(ts) END AS BIGINT) AS mtl_ppm,
        |  CAST(CASE WHEN length(lt) = 0 THEN 0
        |    ELSE length(regexp_replace(lt, '[^a-z]', '', 'g')) * 1000000 // length(lt) END AS BIGINT) AS alpha_ppm,
        |  CAST(len(list_filter(list_distinct(ts),
        |    x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS BIGINT) AS n_stop
        |  FROM t),
        |w AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM $docsSrc),
        |base AS (SELECT doc_id,
        |  CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS n_chars FROM w),
        |pos AS (SELECT doc_id, i AS p, CAST(length(toks[i]) AS BIGINT) AS tl
        |  FROM w, UNNEST(range(1, len(toks) + 1)) AS t(i)),
        |occ AS (SELECT doc_id, n, i,
        |    array_to_string(list_slice(toks, i, i + n - 1), ' ') AS g
        |  FROM w, UNNEST(range(2, 11)) AS tn(n),
        |       UNNEST(range(1, len(toks) - n + 2)) AS ti(i)
        |  WHERE len(toks) >= n),
        |cnt AS (SELECT doc_id, n, g, COUNT(*) AS c FROM occ GROUP BY 1, 2, 3),
        |sel AS (
        |  SELECT doc_id, n, g FROM (
        |    SELECT doc_id, n, g,
        |      ROW_NUMBER() OVER (PARTITION BY doc_id, n ORDER BY c DESC, g) AS rk
        |    FROM cnt WHERE n <= 4) WHERE rk = 1
        |  UNION ALL
        |  SELECT doc_id, n, g FROM cnt WHERE n >= 5 AND c >= 2),
        |cov AS (SELECT DISTINCT o.doc_id, o.n, tp.p
        |  FROM occ o JOIN sel s ON s.doc_id = o.doc_id AND s.n = o.n AND s.g = o.g,
        |       UNNEST(range(o.i, o.i + o.n)) AS tp(p)),
        |cc AS (SELECT cov.doc_id, cov.n,
        |    CAST((SUM(tl) * 1000000) // MAX(b.n_chars) AS BIGINT) AS ppm
        |  FROM cov
        |  JOIN pos ON pos.doc_id = cov.doc_id AND pos.p = cov.p
        |  JOIN base b ON b.doc_id = cov.doc_id
        |  GROUP BY 1, 2),
        |rep AS (SELECT b.doc_id,
        |  $covCols
        |FROM base b LEFT JOIN cc ON cc.doc_id = b.doc_id
        |GROUP BY b.doc_id, b.n_chars),
        |flags AS (SELECT st.doc_id, st.n_tok, st.mtl_ppm, st.alpha_ppm, st.n_stop,
        |  CAST(CASE WHEN st.n_tok BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS BIGINT) AS f_ntok,
        |  CAST(CASE WHEN st.mtl_ppm BETWEEN 3000000 AND 10000000 THEN 1 ELSE 0 END AS BIGINT) AS f_mtl,
        |  CAST(CASE WHEN st.alpha_ppm >= 600000 THEN 1 ELSE 0 END AS BIGINT) AS f_alpha,
        |  CAST(CASE WHEN st.n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS f_stop,
        |  rep.top2_ppm, rep.top3_ppm, rep.top4_ppm, rep.dup5_ppm, rep.dup6_ppm,
        |  rep.dup7_ppm, rep.dup8_ppm, rep.dup9_ppm, rep.dup10_ppm,
        |  $repFlags
        |FROM st JOIN rep ON rep.doc_id = st.doc_id)
        |SELECT *, CAST($allFlags AS BIGINT) AS keep$extraSelect FROM flags""".stripMargin
  }

  /** The q154 dHash replay parameterised by the verify radius — q158
    * (co-bucket candidates) shares the whole pipeline and differs only
    * in the final `hm <=` cut, because both candidate schemes are
    * pigeonhole-complete at their radius (the oracle needs the RESULT
    * set, not the candidate mechanics). */
  private def imageDHashOracle(maxHamming: Int): String =
    s"""WITH $imageDHashCtes
      |SELECT a AS doc_a, b AS doc_b, CAST(hm AS BIGINT) AS hamming
      |FROM ham WHERE hm <= $maxHamming""".stripMargin

  /** Replay of the VIDEO pipeline from doc_id alone, shared by the
    * batch query (q159) and the streaming family (q170–q172): the GIF
    * motif fixture's sampled-frame pixels in closed form (double-
    * squared DetRandom mix + bump), per-frame gradient bits, (frame,
    * block) keys offset (f·4 + q)·2³² like the Spark side, block-
    * collision candidates, aligned-frame total Hamming ≤ 3 with the
    * frame-count match on both sides. `extraWhere` appends a pair
    * filter (the eviction oracle subtracts the {batch-0 × batch-2}
    * cross pairs). */
  private def videoDHashOracle(extraWhere: String = ""): String =
    s"""WITH dim AS (SELECT doc_id, doc_id // 3 AS g,
      |    4 + 2*((doc_id // 3) % 2) AS nfr FROM documents),
      |fr AS (SELECT doc_id, g, t.f AS f
      |  FROM dim, (SELECT unnest([0, 2, 4]) AS f) AS t WHERE t.f < nfr),
      |u AS (SELECT doc_id, f, gx.x AS x, gy.y AS y,
      |    ${graft.learn.DetRandom.mixSql("g", "f*72 + gy.y*9 + gx.x", 42L)} AS u0
      |  FROM fr, generate_series(0, 8) AS gx(x),
      |    generate_series(0, 7) AS gy(y)),
      |px AS (SELECT doc_id, f, x, y,
      |    (${graft.multimodal.MediaSynth.sq2Sql("u0")} % 17) * 12 + 8 +
      |      CASE WHEN (doc_id*131 + f*37 + x*17 + y*23) % 19 = 0
      |           THEN 7 ELSE 0 END AS v
      |  FROM u),
      |bits AS (SELECT a.doc_id, a.f AS f, a.y * 8 + a.x AS pos,
      |    CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
      |  FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.f = a.f
      |    AND b.y = a.y AND b.x = a.x + 1
      |  WHERE a.x < 8),
      |blk AS (SELECT doc_id, f, pos // 16 AS q,
      |    SUM(bit * (CAST(1 AS BIGINT) << (pos % 16)))
      |      + (f * 4 + pos // 16) * 4294967296 AS key
      |  FROM bits GROUP BY doc_id, f, pos // 16),
      |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM blk x JOIN blk y ON x.key = y.key AND x.doc_id < y.doc_id),
      |nf AS (SELECT doc_id, COUNT(DISTINCT f) AS n FROM bits GROUP BY doc_id),
      |ham AS (SELECT c.a, c.b,
      |    SUM(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) AS hm,
      |    COUNT(DISTINCT ba.f) AS matched
      |  FROM cand c
      |  JOIN bits ba ON ba.doc_id = c.a
      |  JOIN bits bb ON bb.doc_id = c.b AND bb.f = ba.f AND bb.pos = ba.pos
      |  GROUP BY c.a, c.b)
      |SELECT a AS doc_a, b AS doc_b, CAST(hm AS BIGINT) AS hamming
      |FROM ham JOIN nf na ON na.doc_id = ham.a
      |JOIN nf nb ON nb.doc_id = ham.b
      |WHERE hm <= 3 AND matched = na.n AND matched = nb.n$extraWhere""".stripMargin

  /** The q164 curation-verdict replay — the three already-oracled
    * chains composed in one statement: the image pair CTEs + HashMin +
    * keep-best (q160's), an a-prefixed copy of the audio pipeline
    * (q157's) reduced to the drop set, and the q146 structural gate;
    * keep = the product of the three flags. SHARED by the batch query
    * (q164) and the streaming curation chain: q173/q175 accumulate to
    * the identical verdict (the q161/q170 oracle-sharing pattern), and
    * q174 passes `evictMod3 = true` to remove every pair with exactly
    * one endpoint in the mod-3 batch 2 — its evictBelow = 2 horizon
    * ages BOTH earlier batches out of the indexes before batch 2
    * lands, so the {b0, b1} × b2 cross pairs all disappear (see the
    * q174 entry comment for why the milder evictBelow = 1 subtraction
    * is absorbed by the verdict's transitive closure). Eviction of
    * pairing state re-shapes the verdict (image components split,
    * canonicals move, audio drops disappear), and the filter replays
    * exactly the mod-3 staging convention the lifecycle queries use. */
  private def curationOracleSql(evictMod3: Boolean = false): String = {
    val pf = if (evictMod3) " AND ((a % 3 = 2) = (b % 3 = 2))" else ""
    s"""WITH $imageDHashCtes,
      |p AS MATERIALIZED (SELECT a AS doc_a, b AS doc_b FROM ham
      |  WHERE hm <= 3$pf),
      |e AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM p
      |  UNION ALL SELECT doc_b, doc_a FROM p),
      |l0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS lbl
      |  FROM documents),
      |${hashMinRoundCtes(dedupGroupsOracleRounds)},
      |g2 AS (SELECT CAST(id AS BIGINT) AS doc_id,
      |    CAST(lbl AS BIGINT) AS canon_id
      |  FROM l$dedupGroupsOracleRounds),
      |jq AS (SELECT g2.doc_id, g2.canon_id, d.n_chars
      |  FROM g2 JOIN documents d USING (doc_id)),
      |best AS (SELECT canon_id, doc_id AS kept_doc FROM (
      |  SELECT canon_id, doc_id,
      |    row_number() OVER (PARTITION BY canon_id
      |      ORDER BY n_chars DESC, doc_id) AS rk FROM jq) WHERE rk = 1),
      |${audioFpCtes("a")},
      |adrop AS (SELECT DISTINCT b AS doc_id FROM aham WHERE hm <= 3$pf),
      |tt AS (
      |  SELECT doc_id, lower(text) AS lt,
      |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
      |ts AS (SELECT doc_id,
      |  CAST(len(ts) AS BIGINT) AS n_tok,
      |  CAST(CASE WHEN len(ts) = 0 THEN 0
      |    ELSE list_sum(list_transform(ts, x -> length(x))) * 1000000 // len(ts) END AS BIGINT) AS mtl_ppm,
      |  CAST(CASE WHEN length(lt) = 0 THEN 0
      |    ELSE length(regexp_replace(lt, '[^a-z]', '', 'g')) * 1000000 // length(lt) END AS BIGINT) AS alpha_ppm,
      |  CAST(len(list_filter(list_distinct(ts),
      |    x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS BIGINT) AS n_stop
      |  FROM tt),
      |tg AS (SELECT doc_id,
      |  CAST(CASE WHEN n_tok BETWEEN 50 AND 100000 AND mtl_ppm BETWEEN 3000000 AND 10000000
      |    AND alpha_ppm >= 600000 AND n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS text_keep
      |  FROM ts)
      |SELECT d.doc_id, tg.text_keep,
      |  CAST(CASE WHEN bk.kept_doc IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS image_keep,
      |  CAST(CASE WHEN ad.doc_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS audio_keep,
      |  tg.text_keep
      |    * CAST(CASE WHEN bk.kept_doc IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
      |    * CAST(CASE WHEN ad.doc_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
      |FROM documents d
      |JOIN tg ON tg.doc_id = d.doc_id
      |LEFT JOIN best bk ON bk.kept_doc = d.doc_id
      |LEFT JOIN adrop ad ON ad.doc_id = d.doc_id""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q01_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q02_topk_orders" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    "q03_join_agg" ->
      """SELECT n_name, COUNT(*) AS n_orders,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name""".stripMargin,
    "q04_left_join" ->
      """SELECT COALESCE(c_mktsegment, 'NONE') AS segment, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |GROUP BY COALESCE(c_mktsegment, 'NONE')""".stripMargin,
    "q05_semi_join" ->
      "SELECT c_custkey FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')",
    "q06_anti_join" ->
      "SELECT c_custkey FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
    "q07_union" ->
      """SELECT 'supplier' AS kind, s_name AS name, s_acctbal AS acctbal, CAST(NULL AS VARCHAR) AS segment FROM supplier
        |UNION ALL
        |SELECT 'customer', c_name, c_acctbal, c_mktsegment FROM customer""".stripMargin,
    "q08_first_order" ->
      """SELECT o_custkey, first_orderkey FROM (
        |SELECT o_custkey, o_orderkey AS first_orderkey,
        |row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        |FROM orders) WHERE rn = 1""".stripMargin,
    "q09_pivot_segments" ->
      """SELECT c_nationkey,
        |CAST(COUNT(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 END) AS BIGINT) AS "AUTOMOBILE",
        |CAST(COUNT(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 END) AS BIGINT) AS "BUILDING",
        |CAST(COUNT(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 END) AS BIGINT) AS "FURNITURE",
        |CAST(COUNT(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 END) AS BIGINT) AS "HOUSEHOLD",
        |CAST(COUNT(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 END) AS BIGINT) AS "MACHINERY"
        |FROM customer GROUP BY c_nationkey""".stripMargin,
    "q10_strings" ->
      """SELECT c_custkey, concat_ws(' - ', c_mktsegment, upper(c_name)) AS label
        |FROM customer WHERE c_name LIKE '%1%'""".stripMargin,
    "q11_cond_agg" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |CAST(SUM(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
        |CAST(SUM(CASE WHEN o_totalprice > 100000 THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS big_total
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q12_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q13_events_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS h,
        |event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q14_sql_display" ->
      """SELECT o.o_orderkey, concat_ws(' - ', n.n_name, c.c_name) AS label
        |FROM orders o
        |LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey""".stripMargin,
    // session semantics twin: new session when the gap to the previous
    // event is >= 30 min (Spark's session_window end is exclusive)
    "q15_sessions" ->
      """WITH m AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              < INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_s
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS s_start,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        |FROM s GROUP BY user_id, sid""".stripMargin,
    "q20_node_counts" ->
      """SELECT 'region' AS node_type, COUNT(*) AS n FROM region
        |UNION ALL SELECT 'nation', COUNT(*) FROM nation
        |UNION ALL SELECT 'customer', COUNT(*) FROM customer
        |UNION ALL SELECT 'supplier', COUNT(*) FROM supplier
        |UNION ALL SELECT 'part', COUNT(*) FROM part
        |UNION ALL SELECT 'orders', COUNT(*) FROM orders
        |UNION ALL SELECT 'events', COUNT(*) FROM events
        |UNION ALL SELECT 'documents', COUNT(*) FROM documents
        |UNION ALL SELECT 'embeddings', COUNT(*) FROM embeddings""".stripMargin,
    "q21_edge_list" -> edgeOcSql,
    "q22_degree_customer" ->
      s"""WITH cm AS ($cmSql),
        |od AS (SELECT o_custkey AS pk, COUNT(*) AS c FROM orders GROUP BY o_custkey),
        |ed AS (SELECT user_id AS pk, COUNT(*) AS c FROM events GROUP BY user_id)
        |SELECT cm.id AS id,
        |CAST(1 + COALESCE(od.c, 0) + COALESCE(ed.c, 0) + 1 AS BIGINT) AS degree
        |FROM cm LEFT JOIN od ON cm.pk = od.pk LEFT JOIN ed ON cm.pk = ed.pk""".stripMargin,
    "q23_graph_summary" ->
      """SELECT 'nation__hasn_regionkey__region' AS edge_type, COUNT(*) AS n FROM nation WHERE n_regionkey IS NOT NULL
        |UNION ALL SELECT 'customer__hasc_nationkey__nation', COUNT(*) FROM customer WHERE c_nationkey IS NOT NULL
        |UNION ALL SELECT 'supplier__hass_nationkey__nation', COUNT(*) FROM supplier WHERE s_nationkey IS NOT NULL
        |UNION ALL SELECT 'orders__haso_custkey__customer', COUNT(*) FROM orders WHERE o_custkey IS NOT NULL
        |UNION ALL SELECT 'events__hasuser_id__customer', COUNT(*) FROM events WHERE user_id IS NOT NULL
        |UNION ALL SELECT 'region__REVERSE_hasn_regionkey__nation', COUNT(*) FROM nation WHERE n_regionkey IS NOT NULL
        |UNION ALL SELECT 'nation__REVERSE_hasc_nationkey__customer', COUNT(*) FROM customer WHERE c_nationkey IS NOT NULL
        |UNION ALL SELECT 'nation__REVERSE_hass_nationkey__supplier', COUNT(*) FROM supplier WHERE s_nationkey IS NOT NULL
        |UNION ALL SELECT 'customer__REVERSE_haso_custkey__orders', COUNT(*) FROM orders WHERE o_custkey IS NOT NULL
        |UNION ALL SELECT 'customer__REVERSE_hasuser_id__events', COUNT(*) FROM events WHERE user_id IS NOT NULL
        |UNION ALL SELECT 'region__SELF_LOOP__region', COUNT(*) FROM region
        |UNION ALL SELECT 'nation__SELF_LOOP__nation', COUNT(*) FROM nation
        |UNION ALL SELECT 'customer__SELF_LOOP__customer', COUNT(*) FROM customer
        |UNION ALL SELECT 'supplier__SELF_LOOP__supplier', COUNT(*) FROM supplier
        |UNION ALL SELECT 'part__SELF_LOOP__part', COUNT(*) FROM part
        |UNION ALL SELECT 'orders__SELF_LOOP__orders', COUNT(*) FROM orders
        |UNION ALL SELECT 'events__SELF_LOOP__events', COUNT(*) FROM events
        |UNION ALL SELECT 'documents__SELF_LOOP__documents', COUNT(*) FROM documents
        |UNION ALL SELECT 'embeddings__SELF_LOOP__embeddings', COUNT(*) FROM embeddings""".stripMargin,
    "q24_link_split" ->
      s"""WITH e AS ($edgeOcSql)
        |SELECT src, dst,
        |CASE WHEN ${DetRandom.uniformSql("src", "dst", 42L)} < 0.15
        |THEN 'val' ELSE 'train' END AS split FROM e""".stripMargin,
    "q25_neg_sample" ->
      s"""WITH e AS ($edgeOcSql),
        |neg AS (SELECT src, ${DetRandom.mixSql("src", "dst", 7L)} % (SELECT COUNT(*) FROM customer) AS dst FROM e)
        |SELECT neg.src, neg.dst FROM neg
        |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = neg.src AND e.dst = neg.dst)""".stripMargin,
    "q26_neighbor_sample" ->
      s"""WITH e AS ($edgeOcSql),
        |r AS (SELECT src, dst,
        |  row_number() OVER (PARTITION BY dst
        |    ORDER BY ${DetRandom.uniformSql("src", "dst", 11L)}, src) AS rn
        |FROM e)
        |SELECT src, dst FROM r WHERE rn <= 5""".stripMargin,
    // q28's envelope audit: the exact split/negative-sample counts replay
    // the q24/q25 predicates (seed-42 split, seed-43/44 binary negatives,
    // collision anti-join); the convergence flags are optimizer theorems
    // (see the queries-side comment) the oracle replays as literal-trues
    // — a diverged or out-of-envelope fit flips one to 0 and fails the
    // hash. The float metric values themselves stay uncertified (and out
    // of this result) by the documented fragility rationale.
    "q28_train_metrics" ->
      s"""WITH e AS ($edgeOcSql),
        |tp AS (SELECT src, dst FROM e
        |  WHERE ${DetRandom.uniformSql("src", "dst", 42L)} >= 0.15),
        |vp AS (SELECT src, dst FROM e
        |  WHERE ${DetRandom.uniformSql("src", "dst", 42L)} < 0.15),
        |tn AS (SELECT src, ${DetRandom.mixSql("src", "dst", 43L)}
        |  % (SELECT COUNT(*) FROM customer) AS dst FROM tp),
        |vn AS (SELECT src, ${DetRandom.mixSql("src", "dst", 44L)}
        |  % (SELECT COUNT(*) FROM customer) AS dst FROM vp)
        |SELECT
        |  (SELECT COUNT(*) FROM tp) AS n_train_pos,
        |  (SELECT COUNT(*) FROM vp) AS n_val_pos,
        |  (SELECT COUNT(*) FROM tn WHERE NOT EXISTS
        |    (SELECT 1 FROM e WHERE e.src = tn.src AND e.dst = tn.dst)) AS n_train_neg,
        |  (SELECT COUNT(*) FROM vn WHERE NOT EXISTS
        |    (SELECT 1 FROM e WHERE e.src = vn.src AND e.dst = vn.dst)) AS n_val_neg,
        |  CAST(1 AS BIGINT) AS fit_iters_le_max,
        |  CAST(1 AS BIGINT) AS fit_loss_decreased,
        |  CAST(1 AS BIGINT) AS fit_beats_chance,
        |  CAST(1 AS BIGINT) AS val_metrics_in_range""".stripMargin,
    // Fixed-point propagation unrolled to 2 rounds. Restricted graph =
    // {orders→customer, events→customer, nation_REV→customer,
    //  customer_REV→orders}; degrees counted over exactly those types + 1.
    // Events and nation receive no messages, so their h (and the messages
    // they send) are round-invariant: me / mn below serve both rounds.
    // DuckDB SUM(BIGINT) widens to HUGEINT → every floor-mean is cast back.
    "q29_propagate_fixed" ->
      s"""WITH cm AS ($cmSql), om AS ($omSql),
        |$fixedPropCtes
        |SELECT 'customer' AS node_type, cm.id AS id, CAST(r2c.h AS BIGINT) AS h
        |FROM r2c JOIN cm ON cm.pk = r2c.pk
        |UNION ALL
        |SELECT 'orders', om.id, CAST(r2o.h AS BIGINT)
        |FROM r2o JOIN om ON om.pk = r2o.pk""".stripMargin,
    // Same recurrence, same graph, same values as q29 — propagated over
    // the bucketed store round-trip (integer arithmetic ⇒ bit-identical
    // for any layout), so the oracle is q29's verbatim.
    "q55_propagate_bucketed" ->
      s"""WITH cm AS ($cmSql), om AS ($omSql),
        |$fixedPropCtes
        |SELECT 'customer' AS node_type, cm.id AS id, CAST(r2c.h AS BIGINT) AS h
        |FROM r2c JOIN cm ON cm.pk = r2c.pk
        |UNION ALL
        |SELECT 'orders', om.id, CAST(r2o.h AS BIGINT)
        |FROM r2o JOIN om ON om.pk = r2o.pk""".stripMargin,
    // One round of fixed-point linear attention over the {customer,nation}
    // 1-hop graph (edge types: orders→customer, events→customer,
    // customer→nation, nation→customer). Per type the message into v is
    // (Σ h_u²) // (Σ h_u) — α(u,v) = h_u / Σ h_u' exactly; init is
    // (degree+1)·1000 per degreeInitFixed. All arithmetic in BIGINT
    // (DuckDB promotes SUM to HUGEINT; values stay ≤ ~4e13), floor `//`
    // matches Spark's `div` on positives.
    // One round of FLOAT softmax attention — hash-exact after all, by
    // proof rather than by float-order luck: on the structural degree
    // init every message source along both restricted edge types
    // (orders→customer, events→customer) is a degree-1 node with init
    // exactly 2.0, so the within-type softmax is a convex combination
    // of equal values and the mathematically-forced answer is
    // h = (init_c + 2·has_o + 2·has_e) / (1 + has_o + has_e) — thirds
    // and halves, whose 6-dp rounding is boundary-free (repeating 3/6
    // digits, never a trailing 5) and sits ≥~1.6e-7 from the nearest
    // x.xxxxxx5 boundary (the x/6 case: …33333̅ vs the …3335 boundary
    // is 5e-7·⅓ ≈ 1.67e-7) — still 10⁷× Spark's ~1e-14 float noise.
    // The oracle replays that closed form; the hash then
    // certifies the REAL softmax pipeline (leaky-relu scores, exp
    // normalisation, weighted vector sums) landed on the provable
    // value — the same upgrade q45/q54 got via integer Lloyd's (r6)
    // and q59 via its envelope audit (r7).
    "q27_attention_embed" ->
      s"""WITH cm AS ($cmSql),
        |no AS (SELECT o_custkey AS pk, COUNT(*) AS n FROM orders
        |  WHERE o_custkey IS NOT NULL GROUP BY 1),
        |ne AS (SELECT user_id AS pk, COUNT(*) AS n FROM events
        |  WHERE user_id IS NOT NULL GROUP BY 1)
        |SELECT cm.id AS id,
        |  ROUND((1.0 + COALESCE(no.n,0) + COALESCE(ne.n,0)
        |       + 2*(CASE WHEN COALESCE(no.n,0)>0 THEN 1 ELSE 0 END)
        |       + 2*(CASE WHEN COALESCE(ne.n,0)>0 THEN 1 ELSE 0 END))
        |      / (1 + (CASE WHEN COALESCE(no.n,0)>0 THEN 1 ELSE 0 END)
        |           + (CASE WHEN COALESCE(ne.n,0)>0 THEN 1 ELSE 0 END)), 6) AS h
        |FROM customer c JOIN cm ON cm.pk = c.c_custkey
        |LEFT JOIN no ON no.pk = c.c_custkey
        |LEFT JOIN ne ON ne.pk = c.c_custkey""".stripMargin,
    "q46_attention_fixed" ->
      s"""WITH cm AS ($cmSql),
        |nm AS (SELECT n_nationkey AS pk, row_number() OVER (ORDER BY n_nationkey) - 1 AS id FROM nation),
        |nco AS (SELECT o_custkey AS pk, COUNT(*) AS n FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
        |nce AS (SELECT user_id AS pk, COUNT(*) AS n FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |ncn AS (SELECT c_nationkey AS pk, COUNT(*) AS n FROM customer WHERE c_nationkey IS NOT NULL GROUP BY 1),
        |nsn AS (SELECT s_nationkey AS pk, COUNT(*) AS n FROM supplier WHERE s_nationkey IS NOT NULL GROUP BY 1),
        |nnr AS (SELECT n_regionkey AS pk, COUNT(*) AS n FROM nation WHERE n_regionkey IS NOT NULL GROUP BY 1),
        |a0c AS (
        |  SELECT c_custkey AS pk, c_nationkey,
        |    CAST(1 + COALESCE(nco.n,0) + COALESCE(nce.n,0)
        |       + 2*(CASE WHEN c_nationkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000 AS h,
        |    COALESCE(nco.n,0) > 0 AS has_o,
        |    COALESCE(nce.n,0) > 0 AS has_e,
        |    c_nationkey IS NOT NULL AS has_n
        |  FROM customer LEFT JOIN nco ON c_custkey = nco.pk LEFT JOIN nce ON c_custkey = nce.pk),
        |a0n AS (SELECT n_nationkey AS pk, n_regionkey,
        |    CAST(1 + 2*COALESCE(ncn.n,0) + COALESCE(nsn.n,0)
        |       + (CASE WHEN n_regionkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000 AS h,
        |    COALESCE(ncn.n,0) > 0 AS has_c,
        |    COALESCE(nsn.n,0) > 0 AS has_s,
        |    n_regionkey IS NOT NULL AS has_r
        |  FROM nation LEFT JOIN ncn ON n_nationkey = ncn.pk LEFT JOIN nsn ON n_nationkey = nsn.pk),
        |a0o AS (SELECT o_custkey,
        |    CAST(1 + (CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000 AS h
        |  FROM orders),
        |a0e AS (SELECT user_id, CAST(2 AS BIGINT) * 1000 AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |a0s AS (SELECT s_nationkey,
        |    CAST(1 + (CASE WHEN s_nationkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000 AS h
        |  FROM supplier),
        |a0r AS (SELECT r_regionkey AS pk,
        |    CAST(1 + COALESCE(nnr.n,0) AS BIGINT) * 1000 AS h
        |  FROM region LEFT JOIN nnr ON r_regionkey = nnr.pk),
        |amo AS (SELECT o_custkey AS pk, CAST(SUM(h*h) // SUM(h) AS BIGINT) AS m
        |        FROM a0o WHERE o_custkey IS NOT NULL GROUP BY 1),
        |ame AS (SELECT user_id AS pk, CAST(SUM(h*h) // SUM(h) AS BIGINT) AS m
        |        FROM a0e GROUP BY 1),
        |amn AS (SELECT c.c_custkey AS pk, CAST(SUM(a0n.h*a0n.h) // SUM(a0n.h) AS BIGINT) AS m
        |        FROM customer c JOIN a0n ON a0n.pk = c.c_nationkey GROUP BY 1),
        |amc AS (SELECT c_nationkey AS pk, CAST(SUM(h*h) // SUM(h) AS BIGINT) AS m
        |        FROM a0c WHERE c_nationkey IS NOT NULL GROUP BY 1),
        |ams AS (SELECT s_nationkey AS pk, CAST(SUM(h*h) // SUM(h) AS BIGINT) AS m
        |        FROM a0s WHERE s_nationkey IS NOT NULL GROUP BY 1),
        |amr AS (SELECT n.n_nationkey AS pk, CAST(SUM(a0r.h*a0r.h) // SUM(a0r.h) AS BIGINT) AS m
        |        FROM nation n JOIN a0r ON a0r.pk = n.n_regionkey GROUP BY 1),
        |r1ac AS (
        |  SELECT a0c.pk,
        |    CASE WHEN NOT (has_o OR has_e OR has_n) THEN a0c.h
        |    ELSE (a0c.h + COALESCE(amo.m,0) + COALESCE(ame.m,0) + COALESCE(amn.m,0))
        |      // (1 + CASE WHEN has_o THEN 1 ELSE 0 END + CASE WHEN has_e THEN 1 ELSE 0 END
        |         + CASE WHEN has_n THEN 1 ELSE 0 END)
        |    END AS h
        |  FROM a0c LEFT JOIN amo ON a0c.pk = amo.pk LEFT JOIN ame ON a0c.pk = ame.pk
        |    LEFT JOIN amn ON a0c.pk = amn.pk),
        |r1an AS (
        |  SELECT a0n.pk,
        |    CASE WHEN NOT (has_c OR has_s OR has_r) THEN a0n.h
        |    ELSE (a0n.h + COALESCE(amc.m,0) + COALESCE(ams.m,0) + COALESCE(amr.m,0))
        |      // (1 + CASE WHEN has_c THEN 1 ELSE 0 END + CASE WHEN has_s THEN 1 ELSE 0 END
        |         + CASE WHEN has_r THEN 1 ELSE 0 END)
        |    END AS h
        |  FROM a0n LEFT JOIN amc ON a0n.pk = amc.pk LEFT JOIN ams ON a0n.pk = ams.pk
        |    LEFT JOIN amr ON a0n.pk = amr.pk)
        |SELECT 'customer' AS node_type, cm.id AS id, CAST(r1ac.h AS BIGINT) AS h
        |FROM r1ac JOIN cm ON cm.pk = r1ac.pk
        |UNION ALL
        |SELECT 'nation', nm.id, CAST(r1an.h AS BIGINT)
        |FROM r1an JOIN nm ON nm.pk = r1an.pk""".stripMargin,
    // Trained-head serving over the fixed-point embeddings: logit =
    // w·[h_s, h_d, h_s*h_d] + b with frozen weights — pure per-row IEEE
    // +/×/÷ (no exp), so the unrounded doubles hash-match. All double
    // literals are 1eN/CAST(AS DOUBLE): bare decimals are DECIMAL-typed in
    // DuckDB and would silently switch the arithmetic to decimal.
    "q43_recommend_trained" ->
      s"""WITH cm AS ($cmSql), om AS ($omSql),
        |$fixedPropCtes,
        |seedc AS (SELECT r2c.h FROM r2c JOIN cm ON cm.pk = r2c.pk WHERE cm.id = 0),
        |cand AS (
        |  SELECT om.id AS id, r2o.pk AS opk, r2o.h AS hd
        |  FROM r2o JOIN om ON om.pk = r2o.pk
        |  WHERE r2o.pk NOT IN (
        |    SELECT o_orderkey FROM orders
        |    WHERE o_custkey = (SELECT pk FROM cm WHERE id = 0)))
        |SELECT cand.id, CAST(cand.opk AS BIGINT) AS pk,
        |  (((CAST(5 AS DOUBLE)/10 * (seedc.h / 1e6))
        |    + (CAST(-25 AS DOUBLE)/100 * (cand.hd / 1e6)))
        |    + (CAST(1 AS DOUBLE)/1000 * ((seedc.h / 1e6) * (cand.hd / 1e6))))
        |    + CAST(-1 AS DOUBLE) AS logit
        |FROM cand, seedc
        |ORDER BY logit DESC, id ASC LIMIT 10""".stripMargin,
    // Frozen-head evaluation (A5/A6): q24's split predicate selects the
    // val positives, q25's mix-mod draw makes the negatives (seed 44),
    // q43's double-literal logit arithmetic scores them. Confusion counts
    // test only the logit sign (exp-free); BCE terms are cast to
    // DECIMAL(20,6) per row so the SUM is exact and order-independent,
    // then the exact decimal goes to DOUBLE (float-parity policy).
    // DuckDB `ln` is natural log (`log` is base-10 there).
    "q53_eval_frozen" ->
      s"""WITH cm AS ($cmSql), om AS ($omSql),
        |$fixedPropCtes,
        |e AS (SELECT om.id AS src, cm.id AS dst FROM orders o
        |  JOIN om ON o.o_orderkey = om.pk JOIN cm ON o.o_custkey = cm.pk),
        |vp AS (SELECT src, dst FROM e
        |  WHERE ${DetRandom.uniformSql("src", "dst", 42L)} < 0.15),
        |ng AS (SELECT n.src, n.dst FROM (
        |    SELECT src, ${DetRandom.mixSql("src", "dst", 44L)}
        |      % (SELECT COUNT(*) FROM customer) AS dst FROM vp) n
        |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = n.src AND e.dst = n.dst)),
        |lab AS (SELECT src, dst, 1 AS label FROM vp
        |  UNION ALL SELECT src, dst, 0 FROM ng),
        |sc AS (
        |  SELECT lab.label,
        |    (((CAST(5 AS DOUBLE)/10 * (ho.h / 1e6))
        |      + (CAST(-25 AS DOUBLE)/100 * (hc.h / 1e6)))
        |      + (CAST(1 AS DOUBLE)/1000 * ((ho.h / 1e6) * (hc.h / 1e6))))
        |      + CAST(-1 AS DOUBLE) AS logit
        |  FROM lab
        |  JOIN om ON om.id = lab.src JOIN r2o ho ON ho.pk = om.pk
        |  JOIN cm ON cm.id = lab.dst JOIN r2c hc ON hc.pk = cm.pk),
        |sb AS (SELECT label, logit,
        |  CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-logit)) AS sigma FROM sc)
        |SELECT
        |  CAST(SUM(CASE WHEN logit >= 0 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |  CAST(SUM(CASE WHEN logit >= 0 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |  CAST(SUM(CASE WHEN logit < 0 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |  CAST(SUM(CASE WHEN logit < 0 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(-(label * ln(greatest(sigma, 1e-12))
        |    + (1 - label) * ln(greatest(CAST(1 AS DOUBLE) - sigma, 1e-12)))
        |    AS DECIMAL(20,6))) AS DOUBLE) AS bce_sum
        |FROM sb""".stripMargin,
    "q30_dedup_exact" ->
      """SELECT md5(text) AS text_hash, CAST(MIN(doc_id) AS BIGINT) AS doc_id,
        |COUNT(*) AS n_dupes FROM documents GROUP BY md5(text)""".stripMargin,
    "q31_text_stats" ->
      """SELECT doc_id,
        |CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_tokens,
        |CAST(length(text) AS BIGINT) AS len,
        |round(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text), 6) AS alpha_ratio
        |FROM documents""".stripMargin,
    "q32_lang_id" ->
      """SELECT doc_id,
        |CASE WHEN CAST(len(list_filter(regexp_extract_all(text, '[a-z0-9]+'), x -> x = 'the' OR x = 'a')) AS DOUBLE)
        |  / len(regexp_extract_all(text, '[a-z0-9]+')) > 0.05
        |THEN 'en' ELSE 'unk' END AS lang_pred FROM documents""".stripMargin,
    "q33_fingerprint" ->
      "SELECT doc_id, md5(regexp_replace(text, '\\s+', ' ', 'g')) AS fp FROM documents",
    "q34_dedup_minhash" -> jaccardPairsSql,
    "q36_dedup_simhash" -> jaccardPairsSql,
    // the streaming store must accumulate exactly the batch answer
    "q126_stream_dedup" -> jaccardPairsSql,
    "q137_stream_dedup_bucketed" -> jaccardPairsSql,
    // kill → delete batch-1 commit → resume from checkpoint → replay +
    // batch 2: at-least-once replay never changes the accumulated pairs
    "q152_stream_dedup_restart" -> jaccardPairsSql,
    // compaction (parquet fold + bucketed-table rebuild) mid-stream
    // changes layout, never the accumulated pairs
    "q141_stream_dedup_folded" -> jaccardPairsSql,
    // eviction horizon live: batch-0 docs (doc_id % 3 = 0) left the
    // index before batch 2 ingested, so exactly the {batch-0 × batch-2}
    // cross pairs are never emitted; every other pair matches the batch
    // answer (pairs emitted before the fold persist — output, not state)
    "q144_stream_dedup_evict" -> (jaccardPairsSql + """
      |  AND NOT ((a.doc_id % 3 = 0 AND b.doc_id % 3 = 2)
      |        OR (a.doc_id % 3 = 2 AND b.doc_id % 3 = 0))""".stripMargin),
    // closure of the near-dup pairs by 16 unrolled HashMin rounds, canon
    // = min over self + all reachable docs — the SQL twin of the engine's
    // min-label propagation.
    "q58_dedup_groups" ->
      s"""$dedupGroupsCtes
        |SELECT doc_id, canon_id FROM g""".stripMargin,
    // component sizes -> size histogram over the same closure
    "q130_dedup_report" ->
      s"""$dedupGroupsCtes,
        |s AS (SELECT canon_id, CAST(COUNT(*) AS BIGINT) AS grp_size FROM g GROUP BY canon_id)
        |SELECT grp_size, CAST(COUNT(*) AS BIGINT) AS n_groups FROM s GROUP BY grp_size""".stripMargin,
    // 5 unrolled BPE rounds over the word-frequency symbol table: pair
    // lead + weighted count + (cnt DESC, a, b) winner, then the greedy
    // left-to-right fuse as its run-parity closed form — for (a,a) a
    // run fuses at even offsets only; for a <> b matches cannot overlap
    "q110_bpe_merges" -> {
      val out = (1 to 5).map { r =>
        s"SELECT CAST($r AS BIGINT) AS round, a AS lhs, b AS rhs, CAST(cnt AS BIGINT) AS cnt FROM x$r"
      }.mkString("\nUNION ALL\n")
      s"""WITH $bpeCtes
         |$out""".stripMargin
    },
    // the final fused symbol table aggregated — the trained tokenizer's
    // corpus vocabulary (freq DESC, token ASC cut)
    "q114_bpe_vocab" ->
      s"""WITH $bpeCtes
         |SELECT sym AS token, CAST(SUM(freq) AS BIGINT) AS freq FROM s5
         |GROUP BY sym ORDER BY freq DESC, token LIMIT 100""".stripMargin,
    // q58's component chain + the DetRandom draw over canon_id — every
    // member of a component gets the same bucket by construction
    "q111_leak_safe_split" ->
      s"""$dedupGroupsCtes,
        |sp AS (SELECT doc_id, canon_id,
        |  (${DetRandom.mixSql("canon_id", "canon_id", 42L)}) % 10 AS bucket FROM g)
        |SELECT doc_id, canon_id, CAST(bucket AS BIGINT) AS bucket,
        |  CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val'
        |    ELSE 'test' END AS split
        |FROM sp""".stripMargin,
    // the sketch envelope audit: the oracle owns the exact side and
    // asserts every sketch flag came back true — DuckDB cannot decode
    // HLL/percentile sketches, but it CAN check that Spark's sketches
    // landed inside their documented error of the exact answers
    "q59_sketch_profile" ->
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS users_exact,
        |  CAST(1 AS BIGINT) AS hll_ok,
        |  CAST(1 AS BIGINT) AS p50_ok,
        |  CAST(1 AS BIGINT) AS p95_ok
        |FROM events GROUP BY event_type""".stripMargin,
    // q58's group CTE chain + per-group best-quality winner (n_chars,
    // doc_id tiebreak) and exact group totals
    "q97_canonical_docs" ->
      s"""$dedupGroupsCtes,
        |j AS (SELECT g.doc_id, g.canon_id, CAST(d.n_chars AS BIGINT) AS quality
        |  FROM g JOIN documents d ON d.doc_id = g.doc_id)
        |SELECT canon_id, doc_id AS kept_doc, quality AS kept_quality,
        |  CAST(n_docs AS BIGINT) AS n_docs, CAST(sum_quality AS BIGINT) AS sum_quality
        |FROM (
        |  SELECT canon_id, doc_id, quality,
        |    row_number() OVER (PARTITION BY canon_id ORDER BY quality DESC, doc_id) AS rk,
        |    COUNT(*) OVER (PARTITION BY canon_id) AS n_docs,
        |    SUM(quality) OVER (PARTITION BY canon_id) AS sum_quality
        |  FROM j) WHERE rk = 1""".stripMargin,
    "q44_dedup_jaccard" -> jaccardPairsSql,
    "q38_token_bpeish" ->
      """SELECT doc_id, CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS BIGINT) AS n_bpeish
        |FROM documents""".stripMargin,
    "q56_vocab_topk" ->
      """SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
        |FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS token FROM documents)
        |GROUP BY token
        |ORDER BY freq DESC, token
        |LIMIT 100""".stripMargin,
    "q57_quality_filter" ->
      """WITH langd AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
        |    CASE WHEN CAST(len(list_filter(regexp_extract_all(text, '[a-z0-9]+'), x -> x = 'the' OR x = 'a')) AS DOUBLE)
        |      / len(regexp_extract_all(text, '[a-z0-9]+')) > 0.05 THEN 'en' ELSE 'unk' END AS lang_pred
        |  FROM documents),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY lang_pred ORDER BY len, doc_id) AS rk,
        |    COUNT(*) OVER (PARTITION BY lang_pred) AS n
        |  FROM langd),
        |bounds AS (
        |  SELECT lang_pred,
        |    MIN(CASE WHEN rk = (n + 9) // 10 THEN len END) AS lo,
        |    MIN(CASE WHEN rk = (9 * n + 9) // 10 THEN len END) AS hi
        |  FROM ranked GROUP BY lang_pred)
        |SELECT d.doc_id, d.lang_pred, d.len
        |FROM langd d JOIN bounds b USING (lang_pred)
        |WHERE d.len BETWEEN b.lo AND b.hi""".stripMargin,
    "q39_rolling_fp" ->
      """SELECT doc_id,
        |list_reduce(
        |  list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, length(regexp_replace(text, '\s+', ' ', 'g')) + 1),
        |      i -> CAST(ascii(substr(regexp_replace(text, '\s+', ' ', 'g'), i, 1)) AS BIGINT))),
        |  (a, c) -> (a * 31 + c) % 1000000007) AS fp
        |FROM documents""".stripMargin,
    // As-of attribution: the fixture has no duplicate (user_id, ts) —
    // verified at every SF — so "strictly earlier ts" (the operator's
    // strict mode) equals "earlier in (ts, event_id) order", and the
    // oracle can run one IGNORE NULLS window ending at 1 PRECEDING over
    // the raw event stream. value is a pure passthrough double.
    "q47_asof_attrib" ->
      """SELECT event_id, user_id,
        |  last_value(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
        |    OVER w AS prior_purchase_id,
        |  last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |    OVER w AS prior_purchase_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)""".stripMargin,
    "q52_interval_join" ->
      """WITH p AS (SELECT event_id, epoch_us(ts) AS tsu, user_id
        |           FROM events WHERE event_type = 'purchase'),
        |     e AS (SELECT user_id, epoch_us(ts) AS tsu
        |           FROM events WHERE event_type = 'error')
        |SELECT p.event_id, COUNT(*) AS n_errors_10m
        |FROM p JOIN e ON p.user_id = e.user_id
        |  AND e.tsu > p.tsu - 600000000 AND e.tsu <= p.tsu
        |GROUP BY 1""".stripMargin,
    "q48_stratified_sample" ->
      s"""SELECT event_id, event_type FROM (
        |  SELECT event_id, event_type,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY ${DetRandom.mixSql("event_id", "event_id", 77L)}, event_id) AS rk
        |  FROM events) WHERE rk <= 100""".stripMargin,
    "q49_tfidf_topterms" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    tf.tf * ((n.n * 1000000) // dfreq.df) AS score
        |  FROM tf JOIN dfreq ON tf.term = dfreq.term, n)
        |SELECT doc_id, term, CAST(score AS BIGINT) AS score, CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT doc_id, term, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rk
        |  FROM scored) WHERE rk <= 3""".stripMargin,
    // dim-4 vector propagation: exact by construction (see the query's
    // comment) — every term is an integral double, the division is one
    // correctly-rounded op, so the doubles hash-match bit-for-bit
    "q61_propagate_vec4" ->
      """WITH nm AS (SELECT n_nationkey AS pk, row_number() OVER (ORDER BY n_nationkey) - 1 AS id FROM nation),
        |rm AS (SELECT r_regionkey AS pk, row_number() OVER (ORDER BY r_regionkey) - 1 AS id FROM region),
        |mc AS (SELECT c_nationkey AS pk FROM customer WHERE c_nationkey IS NOT NULL GROUP BY 1),
        |ms AS (SELECT s_nationkey AS pk FROM supplier WHERE s_nationkey IS NOT NULL GROUP BY 1)
        |SELECT nm.id AS id,
        |  (CAST(nm.id + 1 AS DOUBLE) + (CASE WHEN mc.pk IS NOT NULL THEN 3.0 ELSE 0.0 END)
        |     + (CASE WHEN ms.pk IS NOT NULL THEN 5.0 ELSE 0.0 END) + CAST(rm.id + 1 AS DOUBLE))
        |   / (2 + (CASE WHEN mc.pk IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN ms.pk IS NOT NULL THEN 1 ELSE 0 END)) AS h1,
        |  (CAST(2 * (nm.id + 1) AS DOUBLE) + (CASE WHEN mc.pk IS NOT NULL THEN 6.0 ELSE 0.0 END)
        |     + (CASE WHEN ms.pk IS NOT NULL THEN 10.0 ELSE 0.0 END) + CAST(2 * (rm.id + 1) AS DOUBLE))
        |   / (2 + (CASE WHEN mc.pk IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN ms.pk IS NOT NULL THEN 1 ELSE 0 END)) AS h2,
        |  (CAST(3 * (nm.id + 1) AS DOUBLE) + (CASE WHEN mc.pk IS NOT NULL THEN 9.0 ELSE 0.0 END)
        |     + (CASE WHEN ms.pk IS NOT NULL THEN 15.0 ELSE 0.0 END) + CAST(3 * (rm.id + 1) AS DOUBLE))
        |   / (2 + (CASE WHEN mc.pk IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN ms.pk IS NOT NULL THEN 1 ELSE 0 END)) AS h3,
        |  (CAST(7 * (nm.id + 1) AS DOUBLE) + (CASE WHEN mc.pk IS NOT NULL THEN 21.0 ELSE 0.0 END)
        |     + (CASE WHEN ms.pk IS NOT NULL THEN 35.0 ELSE 0.0 END) + CAST(7 * (rm.id + 1) AS DOUBLE))
        |   / (2 + (CASE WHEN mc.pk IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN ms.pk IS NOT NULL THEN 1 ELSE 0 END)) AS h4
        |FROM nation n
        |JOIN nm ON n.n_nationkey = nm.pk
        |JOIN rm ON rm.pk = n.n_regionkey
        |LEFT JOIN mc ON mc.pk = n.n_nationkey
        |LEFT JOIN ms ON ms.pk = n.n_nationkey""".stripMargin,
    "q50_quantiles" ->
      """WITH ranked AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rk,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_type, CAST(1 AS DOUBLE) / 2 AS q, value
        |FROM ranked WHERE rk = (1 * n + 1) // 2
        |UNION ALL
        |SELECT event_type, CAST(9 AS DOUBLE) / 10 AS q, value
        |FROM ranked WHERE rk = (9 * n + 9) // 10""".stripMargin,
    // identical oracle to q50 on purpose: the select tier must reproduce
    // the window tier's rank-⌈q·n⌉ statistic bit-for-bit
    "q60_quantiles_select" ->
      """WITH ranked AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rk,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_type, CAST(1 AS DOUBLE) / 2 AS q, value
        |FROM ranked WHERE rk = (1 * n + 1) // 2
        |UNION ALL
        |SELECT event_type, CAST(9 AS DOUBLE) / 10 AS q, value
        |FROM ranked WHERE rk = (9 * n + 9) // 10""".stripMargin,
    "q35_sim_topk" ->
      """SELECT vec_id FROM embeddings
        |ORDER BY list_cosine_similarity(embedding, (SELECT embedding FROM embeddings WHERE vec_id = 0)) DESC, vec_id
        |LIMIT 10""".stripMargin,
    "q64_data_mixing" ->
      s"""WITH stats AS (
        |  SELECT doc_id, CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_tok,
        |    CASE WHEN CAST(len(list_filter(regexp_extract_all(text, '[a-z0-9]+'), x -> x = 'the' OR x = 'a')) AS DOUBLE)
        |      / len(regexp_extract_all(text, '[a-z0-9]+')) > 0.05 THEN 'en' ELSE 'unk' END AS lang_pred
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, lang_pred, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY lang_pred
        |      ORDER BY ${graft.learn.DetRandom.uniformSql("doc_id", "doc_id", 42L)}, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
        |  FROM stats)
        |SELECT doc_id, lang_pred, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok
        |FROM cum
        |WHERE cum_tok <= (CASE WHEN lang_pred = 'en' THEN 3000 ELSE 1000 END)""".stripMargin,
    "q63_decontam" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents),
        |g AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+3], ' ') AS g
        |      FROM w, UNNEST(range(1, len(toks) - 2)) AS t(i) WHERE len(toks) >= 4),
        |b AS (SELECT DISTINCT g FROM g WHERE doc_id < 10)
        |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM g JOIN b USING (g) WHERE g.doc_id >= 10 GROUP BY 1""".stripMargin,
    "q62_repetition" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents),
        |tri AS (
        |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS tri
        |  FROM w, UNNEST(range(1, len(toks) - 1)) AS t(i)
        |  WHERE len(toks) >= 3),
        |cnt AS (SELECT doc_id, tri, COUNT(*) AS c FROM tri GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tri,
        |  CAST(COUNT(*) AS BIGINT) AS distinct_tri,
        |  CAST(MAX(c) AS BIGINT) AS max_rep,
        |  CAST(((SUM(c) - COUNT(*)) * 1000000) // SUM(c) AS BIGINT) AS rep_ppm
        |FROM cnt GROUP BY doc_id""".stripMargin,
    // replays the positional-union coverage exactly: same tokens, same
    // occurrence table (n = 2..10 in one UNNEST pair), same top-gram
    // tie-break (c DESC, g ASC), same token-character basis and ppm div
    "q143_gopher_coverage" -> {
      val cols = (2 to 10).map { n =>
        val alias = if (n <= 4) s"top${n}_ppm" else s"dup${n}_ppm"
        s"CAST(COALESCE(MAX(CASE WHEN cc.n = $n THEN cc.ppm END), 0) AS BIGINT) AS $alias"
      }.mkString(",\n  ")
      s"""WITH w AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks FROM documents),
        |base AS (SELECT doc_id,
        |  CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS n_chars FROM w),
        |pos AS (SELECT doc_id, i AS p, CAST(length(toks[i]) AS BIGINT) AS tl
        |  FROM w, UNNEST(range(1, len(toks) + 1)) AS t(i)),
        |occ AS (SELECT doc_id, n, i,
        |    array_to_string(list_slice(toks, i, i + n - 1), ' ') AS g
        |  FROM w, UNNEST(range(2, 11)) AS tn(n),
        |       UNNEST(range(1, len(toks) - n + 2)) AS ti(i)
        |  WHERE len(toks) >= n),
        |cnt AS (SELECT doc_id, n, g, COUNT(*) AS c FROM occ GROUP BY 1, 2, 3),
        |sel AS (
        |  SELECT doc_id, n, g FROM (
        |    SELECT doc_id, n, g,
        |      ROW_NUMBER() OVER (PARTITION BY doc_id, n ORDER BY c DESC, g) AS rk
        |    FROM cnt WHERE n <= 4) WHERE rk = 1
        |  UNION ALL
        |  SELECT doc_id, n, g FROM cnt WHERE n >= 5 AND c >= 2),
        |cov AS (SELECT DISTINCT o.doc_id, o.n, tp.p
        |  FROM occ o JOIN sel s ON s.doc_id = o.doc_id AND s.n = o.n AND s.g = o.g,
        |       UNNEST(range(o.i, o.i + o.n)) AS tp(p)),
        |cc AS (SELECT cov.doc_id, cov.n,
        |    CAST((SUM(tl) * 1000000) // MAX(b.n_chars) AS BIGINT) AS ppm
        |  FROM cov
        |  JOIN pos ON pos.doc_id = cov.doc_id AND pos.p = cov.p
        |  JOIN base b ON b.doc_id = cov.doc_id
        |  GROUP BY 1, 2)
        |SELECT b.doc_id, b.n_chars,
        |  $cols
        |FROM base b LEFT JOIN cc ON cc.doc_id = b.doc_id
        |GROUP BY b.doc_id, b.n_chars""".stripMargin
    },
    "q65_seq_packing" ->
      s"""WITH stats AS (
        |  SELECT doc_id, CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_tok
        |  FROM documents
        |  WHERE len(regexp_extract_all(text, '[a-z0-9]+')) > 0),
        |cum AS (
        |  SELECT doc_id, n_tok,
        |    SUM(n_tok) OVER (ORDER BY ${DetRandom.mixSql("doc_id", "doc_id", 7L)}, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start_off
        |  FROM stats)
        |SELECT doc_id, n_tok, CAST(start_off AS BIGINT) AS start_off,
        |  CAST(start_off // 512 AS BIGINT) AS chunk_first,
        |  CAST((start_off + n_tok - 1) // 512 AS BIGINT) AS chunk_last,
        |  CAST((start_off + n_tok - 1) // 512 - start_off // 512 + 1 AS BIGINT) AS n_chunks
        |FROM cum""".stripMargin,
    // priority = (w*M) // (mix+1), top-200 by (priority DESC, doc_id)
    "q127_priority_sample" ->
      s"""WITH tok AS (
        |  SELECT doc_id, CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT doc_id, n_tok,
        |  CAST((n_tok * ${graft.learn.DetRandom.M}) // ((${graft.learn.DetRandom.mixSql("doc_id", "doc_id", 7L)}) + 1) AS BIGINT) AS priority_fp
        |FROM tok WHERE n_tok >= 1
        |ORDER BY priority_fp DESC, doc_id LIMIT 200""".stripMargin,
    // per-doc stride windows: n_chunks = 1 + max(0, ceil((n-32)/24)),
    // chunk g covers [g*24, g*24 + min(32, n - g*24))
    "q122_doc_chunks" ->
      """WITH tok AS (
        |  SELECT doc_id, CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, n_tokens,
        |    1 + GREATEST(0, (n_tokens - 32 + 23) // 24) AS n_chunks
        |  FROM tok WHERE n_tokens >= 1),
        |g AS (SELECT doc_id, n_tokens, unnest(range(n_chunks)) AS chunk_id FROM ch)
        |SELECT doc_id, n_tokens, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(chunk_id * 24 AS BIGINT) AS start_tok,
        |  CAST(LEAST(32, n_tokens - chunk_id * 24) AS BIGINT) AS chunk_len
        |FROM g""".stripMargin,
    "q66_pii_mask" ->
      """SELECT c_custkey,
        |  substr(sha256('pepper7:' || c_name), 1, 16) AS pseudonym,
        |  regexp_replace(c_name, '[0-9]{3,}', '<NUM>', 'g') AS name_redacted,
        |  CAST(len(regexp_extract_all(c_name, '[0-9]{3,}')) AS BIGINT) AS n_redactions,
        |  CAST(((CAST(round(c_acctbal * 100) AS BIGINT) + 1000000000) // 10000) * 100
        |    - 10000000 AS BIGINT) AS bal_bucket_lo,
        |  c_nationkey, c_mktsegment
        |FROM customer""".stripMargin,
    "q67_dup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
        |stats AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tok FROM toks WHERE len(ts) > 0),
        |pos AS (
        |  SELECT doc_id, unnest(generate_series(1, len(ts) - 7)) AS i, ts
        |  FROM toks WHERE len(ts) >= 8),
        |grams AS (SELECT doc_id, i, array_to_string(ts[i:i+7], ' ') AS gram FROM pos),
        |dup AS (
        |  SELECT doc_id, i FROM (
        |    SELECT doc_id, i, count(*) OVER (PARTITION BY gram) AS c FROM grams)
        |  WHERE c > 1),
        |cov AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_starts,
        |    CAST(SUM(CASE WHEN prev IS NULL THEN 8 ELSE least(8, i - prev) END) AS BIGINT)
        |      AS covered_tok
        |  FROM (SELECT doc_id, i, lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM dup)
        |  GROUP BY doc_id)
        |SELECT s.doc_id, s.n_tok,
        |  COALESCE(c.n_dup_starts, 0) AS n_dup_starts,
        |  COALESCE(c.covered_tok, 0) AS covered_tok,
        |  CAST(COALESCE(c.covered_tok, 0) * 1000000 // s.n_tok AS BIGINT) AS dup_ppm
        |FROM stats s LEFT JOIN cov c USING (doc_id)""".stripMargin,
    // per-vector probe ranking references c3 = the last Lloyd's CTE
    // (kmeansFixedIters = 3); asg/si/s come from the shared fit replay
    "q71_knn_graph" ->
      s"""WITH $knnCtes
        |SELECT qid AS vec_id, nid AS nbr_id, CAST(rk AS BIGINT) AS rk
        |FROM knn""".stripMargin,
    // q71's probe machinery with the query's OWN list excluded (probe
    // ranks 2..4) — candidates are similar-but-different-cluster by
    // construction
    "q112_hard_negatives" ->
      s"""WITH $kmeansFixedCtes,
        |hp AS (SELECT id, cid FROM (
        |  SELECT si.id, c3.cid,
        |    row_number() OVER (PARTITION BY si.id ORDER BY 2 * list_dot_product(si.vi, c3.cv) - list_dot_product(c3.cv, c3.cv) DESC, c3.cid) AS rk
        |  FROM si CROSS JOIN c3) WHERE rk BETWEEN 2 AND 4),
        |hc AS (
        |  SELECT p.id AS qid, a.id AS nid, list_cosine_similarity(q.v, a.v) AS sim
        |  FROM hp p JOIN asg a ON a.cid = p.cid AND a.id <> p.id
        |  JOIN s q ON q.id = p.id)
        |SELECT qid AS vec_id, nid AS neg_id, CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk FROM hc)
        |WHERE rk <= 10""".stripMargin,
    "q72_knn_refine" ->
      s"""WITH $knnCtes,
        |two AS (
        |  SELECT e1.qid AS qid, e2.nid AS nid FROM knn e1
        |  JOIN knn e2 ON e1.nid = e2.qid WHERE e1.qid <> e2.nid),
        |rcand AS (SELECT DISTINCT qid, nid FROM (
        |  SELECT qid, nid FROM knn UNION ALL SELECT qid, nid FROM two)),
        |rsc AS (
        |  SELECT c.qid, c.nid, list_cosine_similarity(q.v, n.v) AS sim
        |  FROM rcand c JOIN s q ON q.id = c.qid JOIN s n ON n.id = c.nid)
        |SELECT qid AS vec_id, nid AS nbr_id, CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk FROM rsc)
        |WHERE rk <= 10""".stripMargin,
    // one ROLLUP pass; GROUPING() carries Spark's grouping_id bit order
    // (leftmost column = most significant bit — both engines follow the
    // SQL standard encoding)
    "q84_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    // the exact-integer BM25: idf_fp = (N·1e6) div df, tf saturation as
    // one rational with the documented floor points (k1 = 6/5, b = 3/4;
    // see ext.Ranking) — every factor replays in BIGINT arithmetic
    "q85_bm25" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
        |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |corp AS (SELECT COUNT(*) AS d_cnt, SUM(dl) AS t_cnt FROM dl),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    ((n.n * 1000000) // dfreq.df) *
        |      ((22 * tf.tf * 1000000000000) //
        |       (10 * tf.tf * 1000000 + 3000000 +
        |        9 * ((dl.dl * corp.d_cnt * 1000000) // corp.t_cnt))) // 1000000 AS score
        |  FROM tf JOIN dl ON dl.doc_id = tf.doc_id
        |  JOIN dfreq ON dfreq.term = tf.term, n, corp)
        |SELECT doc_id, term, CAST(score AS BIGINT) AS score, CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT doc_id, term, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rk
        |  FROM scored) WHERE rk <= 3""".stripMargin,
    // 5 unrolled HashMin rounds: each round min-folds a node's own
    // label with its neighbours' previous-round labels
    "q86_cc_bounded" -> {
      val rounds = (1 to 5).map { i =>
        s"""l$i AS (SELECT id, MIN(lab) AS lab FROM (
           |  SELECT id, lab FROM l${i - 1}
           |  UNION ALL
           |  SELECT e.u AS id, l.lab FROM e0 e JOIN l${i - 1} l ON l.id = e.v)
           |  GROUP BY id)""".stripMargin
      }.mkString(",\n")
      s"""WITH pp AS (SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
         |  FROM lineitem l1 JOIN lineitem l2
         |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
         |e0 AS (SELECT a AS u, b AS v FROM pp UNION ALL SELECT b AS u, a AS v FROM pp),
         |l0 AS (SELECT DISTINCT u AS id, u AS lab FROM e0),
         |$rounds
         |SELECT id AS node_id, lab AS component FROM l5""".stripMargin
    },
    // sha256(text) stands in for the payload as the dup-join key on
    // both sides (q66 establishes the sha2 parity)
    "q87_corpus_card" ->
      """WITH d AS (SELECT doc_id, source, lang, n_chars,
        |    CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_tok,
        |    sha256(text) AS h
        |  FROM documents),
        |c AS (SELECT h, COUNT(*) AS c FROM d GROUP BY 1)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(SUM(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
        |  CAST(SUM(n_tok) // COUNT(*) AS BIGINT) AS mean_tok
        |FROM d JOIN c ON c.h = d.h GROUP BY source""".stripMargin,
    // cents via DECIMAL lift (exact), one window pass for (n, Σx, Σx²)
    // over the 20 events STRICTLY BEFORE each row (empty-frame sums are
    // NULL in both engines — first events carry NULL test terms and a
    // FALSE flag), then the division-free z² test in BIGINT
    "q88_anomaly" ->
      """WITH x AS (SELECT user_id, event_id, ts,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |w AS (SELECT user_id, event_id, cents,
        |    COUNT(*) OVER win AS n_win, SUM(cents) OVER win AS s1,
        |    SUM(cents * cents) OVER win AS s2
        |  FROM x WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, cents, CAST(n_win AS BIGINT) AS n_win,
        |  CAST((n_win * cents - s1) * (n_win * cents - s1) AS BIGINT) AS dev_sq,
        |  CAST(9 * (n_win * s2 - s1 * s1) AS BIGINT) AS var_thresh,
        |  CAST(CASE WHEN n_win >= 5 AND
        |      (n_win * cents - s1) * (n_win * cents - s1) > 9 * (n_win * s2 - s1 * s1)
        |    THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
        |FROM w""".stripMargin,
    // deletion-neighbourhood variants (UNION dedups like array_distinct),
    // variant equi-join, exact levenshtein verify — replayed literally
    "q89_fuzzy_names" ->
      """WITH v AS (
        |  SELECT c_custkey AS id, c_name AS s, c_name AS v FROM customer
        |  UNION
        |  SELECT c_custkey, c_name,
        |    substr(c_name, 1, i - 1) || substr(c_name, i + 1, length(c_name))
        |  FROM customer, UNNEST(range(1, length(c_name) + 1)) AS t(i)),
        |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.s AS sa, b.s AS sb
        |  FROM v a JOIN v b ON a.v = b.v AND a.id < b.id)
        |SELECT id_a, id_b, CAST(levenshtein(sa, sb) AS BIGINT) AS dist
        |FROM cand WHERE levenshtein(sa, sb) <= 1""".stripMargin,
    // q89's pair CTEs + 3 unrolled HashMin rounds (q86's recurrence)
    "q90_fuzzy_groups" -> {
      val rounds = (1 to 3).map { i =>
        s"""l$i AS (SELECT id, MIN(lab) AS lab FROM (
           |  SELECT id, lab FROM l${i - 1}
           |  UNION ALL
           |  SELECT e.u AS id, l.lab FROM e0 e JOIN l${i - 1} l ON l.id = e.v)
           |  GROUP BY id)""".stripMargin
      }.mkString(",\n")
      s"""WITH v AS (
         |  SELECT c_custkey AS id, c_name AS s, c_name AS v FROM customer
         |  UNION
         |  SELECT c_custkey, c_name,
         |    substr(c_name, 1, i - 1) || substr(c_name, i + 1, length(c_name))
         |  FROM customer, UNNEST(range(1, length(c_name) + 1)) AS t(i)),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.s AS sa, b.s AS sb
         |  FROM v a JOIN v b ON a.v = b.v AND a.id < b.id),
         |p AS (SELECT id_a, id_b FROM cand WHERE levenshtein(sa, sb) <= 1),
         |e0 AS (SELECT id_a AS u, id_b AS v FROM p
         |  UNION ALL SELECT id_b AS u, id_a AS v FROM p),
         |l0 AS (SELECT DISTINCT u AS id, u AS lab FROM e0),
         |$rounds
         |SELECT id AS node_id, lab AS component FROM l3""".stripMargin
    },
    // top-10-degree seeds, then 3 unrolled frontier layers, each
    // anti-joined against the visited set
    "q92_bfs_hops" -> {
      val layers = (1 to 3).map { i =>
        s"""l$i AS (SELECT x.id, $i AS dist FROM (
           |    SELECT DISTINCT e.u AS id FROM e0 e JOIN l${i - 1} f ON f.id = e.v) x
           |  WHERE NOT EXISTS (SELECT 1 FROM v${i - 1} w WHERE w.id = x.id)),
           |v$i AS (SELECT * FROM v${i - 1} UNION ALL SELECT * FROM l$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH pp AS (SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
         |  FROM lineitem l1 JOIN lineitem l2
         |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
         |e0 AS (SELECT a AS u, b AS v FROM pp UNION ALL SELECT b AS u, a AS v FROM pp),
         |deg AS (SELECT id, COUNT(*) AS deg FROM
         |  (SELECT a AS id FROM pp UNION ALL SELECT b FROM pp) GROUP BY id),
         |l0 AS (SELECT id, 0 AS dist FROM
         |  (SELECT id FROM deg ORDER BY deg DESC, id LIMIT 10)),
         |v0 AS (SELECT * FROM l0),
         |$layers
         |SELECT id AS node_id, CAST(dist AS BIGINT) AS dist FROM v3""".stripMargin
    },
    // weighted pairs + 3 unrolled Bellman-Ford relaxations
    // d_r(v) = min(d_{r-1}(v), min over (u,v,c) of d_{r-1}(u) + c)
    "q94_sssp_support" -> {
      val rounds = (1 to 3).map { i =>
        s"""d$i AS (SELECT id, MIN(dist) AS dist FROM (
           |  SELECT id, dist FROM d${i - 1}
           |  UNION ALL
           |  SELECT e.v AS id, d.dist + e.c AS dist
           |  FROM e0 e JOIN d${i - 1} d ON d.id = e.u)
           |  GROUP BY id)""".stripMargin
      }.mkString(",\n")
      s"""WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
         |pw AS (SELECT b1.it AS a, b2.it AS b, CAST(COUNT(*) AS BIGINT) AS w
         |  FROM bi b1 JOIN bi b2 ON b1.bk = b2.bk AND b1.it < b2.it GROUP BY 1, 2),
         |e0 AS (SELECT a AS u, b AS v, 1000000 // w AS c FROM pw
         |  UNION ALL SELECT b, a, 1000000 // w FROM pw),
         |deg AS (SELECT id, COUNT(*) AS deg FROM
         |  (SELECT a AS id FROM pw UNION ALL SELECT b FROM pw) GROUP BY id),
         |d0 AS (SELECT id, CAST(0 AS BIGINT) AS dist FROM
         |  (SELECT id FROM deg ORDER BY deg DESC, id LIMIT 10)),
         |$rounds
         |SELECT id AS node_id, CAST(dist AS BIGINT) AS dist FROM d3""".stripMargin
    },
    // hour-of-day histograms of week 0 vs week 1 per event type, ppm
    // rates, exact TV + χ²-shaped divergences (epoch_us ≡ ts div 1000)
    "q95_drift" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events),
        |mn AS (SELECT MIN(us) AS mn FROM e),
        |b AS (SELECT event_type AS grp, (us // 3600000000) % 24 AS bin,
        |    (us - mn) // 604800000000 AS p FROM e, mn),
        |c AS (SELECT grp, bin,
        |    CAST(SUM(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM b WHERE p IN (0, 1) GROUP BY 1, 2),
        |t AS (SELECT grp, CAST(SUM(c1) AS BIGINT) AS n1,
        |    CAST(SUM(c2) AS BIGINT) AS n2 FROM c GROUP BY 1),
        |r AS (SELECT c.grp, t.n1, t.n2,
        |    c.c1 * 1000000 // t.n1 AS r1, c.c2 * 1000000 // t.n2 AS r2
        |  FROM c JOIN t ON t.grp = c.grp WHERE t.n1 > 0 AND t.n2 > 0)
        |SELECT grp AS event_type, n1, n2,
        |  CAST(COUNT(*) AS BIGINT) AS n_bins,
        |  CAST(SUM(ABS(r1 - r2)) // 2 AS BIGINT) AS tv_ppm,
        |  CAST(SUM((r1 - r2) * (r1 - r2) // (r1 + r2 + 1)) AS BIGINT) AS chi2_fp
        |FROM r GROUP BY 1, 2, 3""".stripMargin,
    // scaled-long image per dim; sign-folded mean so truncation agrees
    "q93_dim_stats" ->
      """WITH w AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS w
        |  FROM embeddings),
        |u AS (SELECT generate_subscripts(w, 1) - 1 AS i, unnest(w) AS x FROM w)
        |SELECT CAST(i AS BIGINT) AS i, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(x) AS BIGINT) AS sum_fp,
        |  CAST(CASE WHEN SUM(x) < 0 THEN -((-SUM(x)) // COUNT(*))
        |       ELSE SUM(x) // COUNT(*) END AS BIGINT) AS mean_fp,
        |  CAST(MIN(x) AS BIGINT) AS min_fp, CAST(MAX(x) AS BIGINT) AS max_fp,
        |  CAST(SUM(x * x) AS BIGINT) AS ss_fp
        |FROM u GROUP BY i""".stripMargin,
    // per-element code + reconstruction error, divisions sign-folded
    "q96_quantize_int8" ->
      """WITH w AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS w
        |  FROM embeddings),
        |a AS (SELECT vec_id, w,
        |    GREATEST(list_aggregate(list_transform(w, x -> abs(x)), 'max'), 1) AS amax
        |  FROM w),
        |u AS (SELECT vec_id, amax, generate_subscripts(w, 1) - 1 AS i, unnest(w) AS x FROM a),
        |qq AS (SELECT vec_id, CAST(i AS BIGINT) AS i,
        |    CASE WHEN x < 0 THEN -((-x) * 127 // amax) ELSE (x * 127) // amax END AS q,
        |    amax, x FROM u)
        |SELECT vec_id, i, CAST(q AS BIGINT) AS q, CAST(amax AS BIGINT) AS amax,
        |  CAST(ABS(x - CASE WHEN q < 0 THEN -((-q) * amax // 127)
        |       ELSE q * amax // 127 END) AS BIGINT) AS err
        |FROM qq""".stripMargin,
    // the SAME sign matrix as the Spark side (DetRandom.mixLong), the
    // dot written out as a literal-sign sum — pure BIGINT both engines
    "q98_random_projection" -> {
      val signs = graft.ext.Projection.signMatrix(64, 8, 77L)
      val ds = signs.map { sj =>
        val body = sj.zipWithIndex.map { case (sg, i) =>
          val term = s"w[${i + 1}]"
          if (sg < 0) s"- $term" else s"+ $term"
        }.mkString(" ").stripPrefix("+ ")
        s"CAST(($body) AS BIGINT)"
      }
      s"""WITH w AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS w
         |  FROM embeddings)
         |SELECT vec_id,
         |  unnest(CAST([${(0 until 8).mkString(", ")}] AS BIGINT[])) AS j,
         |  unnest([${ds.mkString(", ")}]) AS proj_fp
         |FROM w""".stripMargin
    },
    // adjacent bigrams via the q75 range trick (tokens are space-free);
    // slot marginals sum over the bigram count frame, never the corpus
    "q99_collocations" ->
      """WITH toks AS (
        |  SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
        |b AS (SELECT unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS bg
        |  FROM toks WHERE len(ts) >= 2),
        |f AS (SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
        |    CAST(COUNT(*) AS BIGINT) AS n_12 FROM b GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(SUM(n_12) AS BIGINT) AS n_1 FROM f GROUP BY 1),
        |c2 AS (SELECT w2, CAST(SUM(n_12) AS BIGINT) AS n_2 FROM f GROUP BY 1),
        |nn AS (SELECT CAST(SUM(n_12) AS BIGINT) AS n FROM f)
        |SELECT f.w1, f.w2, f.n_12, c1.n_1, c2.n_2,
        |  f.n_12 * nn.n * 1000000 // (c1.n_1 * c2.n_2) AS lift_fp
        |FROM f JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN nn
        |WHERE f.n_12 >= 5""".stripMargin,
    // micros-epoch age (Spark's nanos-long div 1000 ≡ DuckDB epoch_us),
    // one halving per started 7-day week, integer shift both engines
    "q91_decayed_engagement" ->
      """WITH e AS (SELECT user_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    epoch_us(ts) AS us
        |  FROM events),
        |mx AS (SELECT MAX(us) AS mx FROM e)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(cents) AS BIGINT) AS cents_total,
        |  CAST(SUM(cents // (CAST(1 AS BIGINT) << ((mx - us) // 604800000000))) AS BIGINT) AS cents_decayed
        |FROM e, mx GROUP BY user_id""".stripMargin,
    // per-day dedup first, then cohort min + day-diff counts
    "q82_retention" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |ch AS (SELECT user_id, MIN(d) AS c FROM ud GROUP BY 1)
        |SELECT strftime(ch.c, '%Y-%m-%d') AS cohort_day,
        |  CAST(date_diff('day', ch.c, ud.d) AS BIGINT) AS day_offset,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM ud JOIN ch ON ch.user_id = ud.user_id GROUP BY 1, 2""".stripMargin,
    // strictly-after min-per-step frontier chain; no duration
    // arithmetic, so timestamp vs nanos-long representation is moot
    "q81_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS s FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS s FROM events e
        |  JOIN s1 ON s1.user_id = e.user_id AND e.ts > s1.s
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS s FROM events e
        |  JOIN s2 ON s2.user_id = e.user_id AND e.ts > s2.s
        |  WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT 1 AS step_idx, 'view' AS step, CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_keys
        |UNION ALL SELECT 2, 'click', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
        |UNION ALL SELECT 3, 'purchase', CAST((SELECT COUNT(*) FROM s3) AS BIGINT)""".stripMargin,
    // DuckDB orders by the native timestamp; Spark by the nanos long —
    // order-isomorphic, ties broken by event_id on both sides
    "q80_markov_trans" ->
      """WITH s AS (SELECT event_type AS src,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        |  FROM events),
        |c AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n_trans
        |  FROM s WHERE dst IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT src, CAST(SUM(n_trans) AS BIGINT) AS tot FROM c GROUP BY 1)
        |SELECT c.src AS src_type, c.dst AS dst_type, c.n_trans,
        |  c.n_trans * 1000000 // t.tot AS p_fp
        |FROM c JOIN t ON t.src = c.src""".stripMargin,
    // per-basket distinct pairs → support count; N rides a scalar CTE
    "q79_assoc_rules" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
        |nn AS (SELECT CAST(COUNT(DISTINCT bk) AS BIGINT) AS n FROM bi),
        |cnt AS (SELECT it, CAST(COUNT(*) AS BIGINT) AS cnt FROM bi GROUP BY it),
        |pr AS (SELECT b1.it AS a, b2.it AS b, CAST(COUNT(*) AS BIGINT) AS supp
        |  FROM bi b1 JOIN bi b2 ON b1.bk = b2.bk AND b1.it < b2.it
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT pr.a, pr.b, pr.supp,
        |  supp * 1000000 // ca.cnt AS conf_ab_fp,
        |  supp * 1000000 // cb.cnt AS conf_ba_fp,
        |  supp * nn.n * 1000000 // (ca.cnt * cb.cnt) AS lift_fp
        |FROM pr JOIN cnt ca ON ca.it = pr.a JOIN cnt cb ON cb.it = pr.b
        |CROSS JOIN nn""".stripMargin,
    // bigram key = w1||' '||w2 (tokens are [a-z0-9]+, space-free);
    // range(1, len) is end-exclusive with 1-indexed lists → len−1 pairs,
    // matching Spark's sequence(0, size−2) over 0-indexed arrays
    "q75_lm_quality" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
        |b2 AS (SELECT doc_id,
        |    split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2
        |  FROM (SELECT doc_id,
        |      unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1])) AS bg
        |    FROM toks WHERE len(ts) >= 2)),
        |tf AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM b2 GROUP BY 1, 2, 3),
        |cb AS (SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS cnt2 FROM tf GROUP BY 1, 2),
        |cx AS (SELECT w1, CAST(SUM(tf) AS BIGINT) AS cnt1 FROM tf GROUP BY 1),
        |vv AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS v FROM
        |  (SELECT w1 AS t FROM tf UNION SELECT w2 FROM tf)),
        |st AS (SELECT cb.w1, cb.w2,
        |    CAST((cb.cnt2 + 1) * 1000000 // (cx.cnt1 + vv.v) AS BIGINT) AS p
        |  FROM cb JOIN cx ON cx.w1 = cb.w1 CROSS JOIN vv),
        |sc AS (SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(tf.tf * st.p) AS BIGINT) AS s
        |  FROM tf JOIN st ON st.w1 = tf.w1 AND st.w2 = tf.w2 GROUP BY 1)
        |SELECT doc_id, n_bigrams, s // n_bigrams AS lm_fp FROM sc""".stripMargin,
    // the oracle runs the textbook GLOBAL window — the engine's bucketed
    // offsets + per-bucket windows must equal it bit-for-bit
    "q145_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
        |s AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tok,
        |  CAST(CASE WHEN len(ts) = 0 THEN 0
        |    ELSE len(list_distinct(ts)) * 1000000 // len(ts) END AS BIGINT) AS ttr_fp
        |  FROM t),
        |c AS (SELECT doc_id, n_tok, ttr_fp,
        |  SUM(n_tok) OVER (ORDER BY ttr_fp DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM s)
        |SELECT doc_id, n_tok, ttr_fp, CAST(cum AS BIGINT) AS cum_tok,
        |  CAST(CASE WHEN cum <= 15000 THEN 1 ELSE 0 END AS BIGINT) AS admitted
        |FROM c""".stripMargin,
    "q148_shard_layout" -> {
      val shardMix = graft.learn.DetRandom.mixSql("doc_id", "doc_id", 42L)
      val orderMix = graft.learn.DetRandom.mixSql("doc_id", "doc_id", 43L)
      s"""WITH t AS (
        |  SELECT doc_id, CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |s AS (SELECT doc_id, n_tok,
        |  CAST(($shardMix) % 8 AS BIGINT) AS shard,
        |  ($orderMix) AS h FROM t)
        |SELECT doc_id, n_tok, shard,
        |  CAST(SUM(n_tok) OVER w - n_tok AS BIGINT) AS start_off,
        |  CAST(SUM(n_tok) OVER w AS BIGINT) AS cum_tok
        |FROM s
        |WINDOW w AS (PARTITION BY shard ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING)""".stripMargin
    },
    "q151_shard_write" -> {
      val shardMix = graft.learn.DetRandom.mixSql("doc_id", "doc_id", 42L)
      val orderMix = graft.learn.DetRandom.mixSql("doc_id", "doc_id", 43L)
      s"""WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
        |s AS (SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS n_tok,
        |  CAST(($shardMix) % 8 AS BIGINT) AS shard,
        |  ($orderMix) AS h FROM t),
        |l AS (SELECT doc_id, ts, n_tok, shard,
        |  SUM(n_tok) OVER (PARTITION BY shard ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) - n_tok AS start_off
        |  FROM s),
        |tok AS (SELECT shard, doc_id, start_off, ts,
        |  unnest(generate_series(1, len(ts))) AS i FROM l),
        |tox AS (SELECT shard, doc_id, start_off + i - 1 AS idx, ts[i] AS tok FROM tok)
        |SELECT CAST(shard AS BIGINT) AS shard,
        |  CAST(idx // 256 AS BIGINT) AS seq_id,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) AS BIGINT) AS seq_tok,
        |  string_agg(tok, ' ' ORDER BY idx) AS text_seq
        |FROM tox GROUP BY 1, 2""".stripMargin
    },
    "q149_fim_split" -> {
      val c1 = graft.learn.DetRandom.mixSql("doc_id", "1", 42L)
      val c2 = graft.learn.DetRandom.mixSql("doc_id", "2", 42L)
      s"""WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
        |c AS (SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS n_tok,
        |  ($c1) % (len(ts) + 1) AS c1, ($c2) % (len(ts) + 1) AS c2 FROM t),
        |s AS (SELECT doc_id, ts, n_tok,
        |  CAST(LEAST(c1, c2) AS BIGINT) AS cut_lo,
        |  CAST(GREATEST(c1, c2) AS BIGINT) AS cut_hi FROM c)
        |SELECT doc_id, n_tok, cut_lo, cut_hi,
        |  COALESCE(array_to_string(list_slice(ts, 1, cut_lo), ' '), '') AS prefix,
        |  COALESCE(array_to_string(list_slice(ts, cut_lo + 1, cut_hi), ' '), '') AS middle,
        |  COALESCE(array_to_string(list_slice(ts, cut_hi + 1, n_tok), ' '), '') AS suffix
        |FROM s""".stripMargin
    },
    "q146_gopher_gate" ->
      """WITH t AS (
        |  SELECT doc_id, lower(text) AS lt,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
        |s AS (SELECT doc_id,
        |  CAST(len(ts) AS BIGINT) AS n_tok,
        |  CAST(CASE WHEN len(ts) = 0 THEN 0
        |    ELSE list_sum(list_transform(ts, x -> length(x))) * 1000000 // len(ts) END AS BIGINT) AS mtl_ppm,
        |  CAST(CASE WHEN length(lt) = 0 THEN 0
        |    ELSE length(regexp_replace(lt, '[^a-z]', '', 'g')) * 1000000 // length(lt) END AS BIGINT) AS alpha_ppm,
        |  CAST(len(list_filter(list_distinct(ts),
        |    x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS BIGINT) AS n_stop
        |  FROM t)
        |SELECT doc_id, n_tok, mtl_ppm, alpha_ppm, n_stop,
        |  CAST(CASE WHEN n_tok BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS BIGINT) AS f_ntok,
        |  CAST(CASE WHEN mtl_ppm BETWEEN 3000000 AND 10000000 THEN 1 ELSE 0 END AS BIGINT) AS f_mtl,
        |  CAST(CASE WHEN alpha_ppm >= 600000 THEN 1 ELSE 0 END AS BIGINT) AS f_alpha,
        |  CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS f_stop,
        |  CAST(CASE WHEN n_tok BETWEEN 50 AND 100000 AND mtl_ppm BETWEEN 3000000 AND 10000000
        |    AND alpha_ppm >= 600000 AND n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM s""".stripMargin,
    // q146's structural CTEs + q143's coverage chain + the recalibrated
    // cuts (Filters.RepetitionCuts), keep = product of all 13 flags
    "q153_gopher_full" -> gopherFullOracleSql("documents"),
    // q153's chain over the boilerplate-augmented slice, plus the
    // rep-only-fail verdict column (structural+top pass, some dup
    // flag fails — the claim the leg exists to certify)
    "q166_gopher_boilerplate" -> gopherFullOracleSql(
      s"(SELECT doc_id, CASE WHEN doc_id % 10 = 0 THEN" +
        s" text || '$Boilerplate' || '$Boilerplate' ELSE text END AS text" +
        " FROM documents WHERE doc_id % 5 = 0) bpd",
      extraSelect = ",\n  CAST(f_ntok * f_mtl * f_alpha * f_stop" +
        " * f_top2 * f_top3 * f_top4 * (1 - f_dup5 * f_dup6 * f_dup7" +
        " * f_dup8 * f_dup9 * f_dup10) AS BIGINT) AS rep_only_fail"),
    // the same degree orientation (low-(deg,id) → high): wedges from
    // each shared tail, closed against the oriented edge list
    "q74_triangles" ->
      s"""WITH $triangleCtes,
        |tc AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS tri FROM
        |  (SELECT u AS id FROM tr UNION ALL SELECT v FROM tr
        |   UNION ALL SELECT c FROM tr) GROUP BY id)
        |SELECT deg.id AS node_id, deg.deg AS deg,
        |  COALESCE(tc.tri, 0) AS tri_cnt,
        |  CASE WHEN deg.deg >= 2
        |    THEN (2 * COALESCE(tc.tri, 0) * 1000000) // (deg.deg * (deg.deg - 1))
        |    ELSE 0 END AS cc_fp
        |FROM deg LEFT JOIN tc ON tc.id = deg.id""".stripMargin,
    // each triangle explodes to its 3 canonical edges; for an adjacent
    // pair |N(a)∩N(b)| = triangles through the edge and
    // |N(a)∪N(b)∖{a,b}| = deg(a)+deg(b)−2−cn
    "q78_edge_jaccard" ->
      s"""WITH $triangleCtes,
        |te AS (SELECT least(u, v) AS a, greatest(u, v) AS b, c AS z FROM tr
        |  UNION ALL SELECT least(v, c) AS a, greatest(v, c) AS b, u AS z FROM tr
        |  UNION ALL SELECT least(u, c) AS a, greatest(u, c) AS b, v AS z FROM tr),
        |cn AS (SELECT te.a, te.b, CAST(COUNT(*) AS BIGINT) AS cn,
        |    CAST(SUM(1000000 // dz.deg) AS BIGINT) AS ra
        |  FROM te JOIN deg dz ON dz.id = te.z GROUP BY te.a, te.b)
        |SELECT pp.a, pp.b, COALESCE(cn.cn, 0) AS cn_cnt,
        |  CASE WHEN da.deg + db.deg - 2 - COALESCE(cn.cn, 0) > 0
        |    THEN (COALESCE(cn.cn, 0) * 1000000) // (da.deg + db.deg - 2 - COALESCE(cn.cn, 0))
        |    ELSE 0 END AS jac_fp,
        |  COALESCE(cn.ra, 0) AS ra_fp
        |FROM pp JOIN deg da ON da.id = pp.a JOIN deg db ON db.id = pp.b
        |LEFT JOIN cn ON cn.a = pp.a AND cn.b = pp.b""".stripMargin,
    // 3 unrolled label-propagation rounds: neighbour-label counts,
    // per-node top-1 by (count DESC, label ASC)
    "q77_label_prop" -> {
      val rounds = (1 to 3).map { i =>
        s"""l$i AS (SELECT u AS id, lab FROM (
           |  SELECT u, lab, row_number() OVER (PARTITION BY u ORDER BY n DESC, lab ASC) AS rn
           |  FROM (SELECT e.u, l.lab, COUNT(*) AS n
           |    FROM e0 e JOIN l${i - 1} l ON l.id = e.v GROUP BY e.u, l.lab))
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH pp AS (SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
         |  FROM lineitem l1 JOIN lineitem l2
         |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
         |e0 AS (SELECT a AS u, b AS v FROM pp UNION ALL SELECT b AS u, a AS v FROM pp),
         |l0 AS (SELECT DISTINCT u AS id, u AS lab FROM e0),
         |$rounds
         |SELECT id AS node_id, lab AS community FROM l3""".stripMargin
    },
    // 3 unrolled peel rounds: degree ≥ 10 survivor set, edges induced
    // on survivors, final induced degrees
    "q76_kcore" -> {
      val rounds = (1 to 3).map { i =>
        s"""k$i AS (SELECT u FROM (SELECT u, COUNT(*) AS dg FROM e${i - 1} GROUP BY u) WHERE dg >= 10),
           |e$i AS (SELECT e.u, e.v FROM e${i - 1} e
           |  JOIN k$i x ON x.u = e.u JOIN k$i y ON y.u = e.v)""".stripMargin
      }.mkString(",\n")
      s"""WITH pp AS (SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
         |  FROM lineitem l1 JOIN lineitem l2
         |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
         |e0 AS (SELECT a AS u, b AS v FROM pp UNION ALL SELECT b AS u, a AS v FROM pp),
         |$rounds
         |SELECT u AS node_id, CAST(COUNT(*) AS BIGINT) AS core_deg
         |FROM e3 GROUP BY u""".stripMargin
    },
    // 3 unrolled WEIGHTED damped rounds over support-weighted edges
    "q83_pagerank_weighted" -> {
      val rounds = (1 to 3).map { i =>
        s"""r$i AS (SELECT n.id, 150000000 + COALESCE(s$i.c, 0) AS r FROM n LEFT JOIN (
           |  SELECT e.dst AS id, CAST(SUM((17 * r${i - 1}.r * e.w) // (20 * d.deg)) AS BIGINT) AS c
           |  FROM e JOIN r${i - 1} ON r${i - 1}.id = e.src JOIN d ON d.src = e.src
           |  GROUP BY e.dst) s$i ON s$i.id = n.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
         |pw AS (SELECT b1.it AS a, b2.it AS b, CAST(COUNT(*) AS BIGINT) AS w
         |  FROM bi b1 JOIN bi b2 ON b1.bk = b2.bk AND b1.it < b2.it GROUP BY 1, 2),
         |e AS (SELECT a AS src, b AS dst, w FROM pw
         |  UNION ALL SELECT b AS src, a AS dst, w FROM pw),
         |d AS (SELECT src, CAST(SUM(w) AS BIGINT) AS deg FROM e GROUP BY src),
         |n AS (SELECT DISTINCT src AS id FROM e),
         |r0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS r FROM n),
         |$rounds
         |SELECT id AS node_id, r AS rank_fp FROM r3""".stripMargin
    },
    // 3 unrolled damped rounds of the exact integer recurrence
    // r'(v) = 0.15·scale + Σ (17·r(u)) // (20·deg(u)), scale = 10^12;
    // UNION ALL is dedup-safe: even/odd id spaces keep the flipped
    // edges disjoint from the (already DISTINCT) forward ones
    "q73_pagerank" -> {
      val rounds = (1 to 3).map { i =>
        s"""r$i AS (SELECT n.id, 150000000000 + COALESCE(s$i.c, 0) AS r FROM n LEFT JOIN (
           |  SELECT e.dst AS id, CAST(SUM((17 * r${i - 1}.r) // (20 * d.deg)) AS BIGINT) AS c
           |  FROM e JOIN r${i - 1} ON r${i - 1}.id = e.src JOIN d ON d.src = e.src
           |  GROUP BY e.dst) s$i ON s$i.id = n.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH ef AS (SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem),
         |e AS (SELECT src, dst FROM ef UNION ALL SELECT dst AS src, src AS dst FROM ef),
         |d AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
         |n AS (SELECT DISTINCT src AS id FROM e),
         |r0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS r FROM n),
         |$rounds
         |SELECT id AS node_id, r AS rank_fp FROM r3""".stripMargin
    },
    // q73's graph with the restart term gated on the seed indicator:
    // r0 = seed*scale, each round r = seed*base + floored edge sums
    "q123_ppr" -> {
      val rounds = (1 to 3).map { i =>
        s"""r$i AS (SELECT ns.id, ns.seed * 150000000000 + COALESCE(s$i.c, 0) AS r FROM ns LEFT JOIN (
           |  SELECT e.dst AS id, CAST(SUM((17 * r${i - 1}.r) // (20 * d.deg)) AS BIGINT) AS c
           |  FROM e JOIN r${i - 1} ON r${i - 1}.id = e.src JOIN d ON d.src = e.src
           |  GROUP BY e.dst) s$i ON s$i.id = ns.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH ef AS (SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem),
         |e AS (SELECT src, dst FROM ef UNION ALL SELECT dst AS src, src AS dst FROM ef),
         |d AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
         |n AS (SELECT DISTINCT src AS id FROM e),
         |ns AS (SELECT id, CASE WHEN id % 100 = 0 THEN 1 ELSE 0 END AS seed FROM n),
         |r0 AS (SELECT id, CAST(seed * 1000000000000 AS BIGINT) AS r FROM ns),
         |$rounds
         |SELECT id AS node_id, r AS rank_fp FROM r3""".stripMargin
    },
    "q70_dsir_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
        |base AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tok FROM toks WHERE len(ts) > 0),
        |b AS (
        |  SELECT doc_id, lang,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, length(t) + 1),
        |          i -> CAST(ascii(substr(t, i, 1)) AS BIGINT))),
        |      (a, c) -> (a * 31 + c) % 1000000007) % 64 AS bin
        |  FROM (SELECT doc_id, lang, unnest(ts) AS t FROM toks)),
        |tf AS (SELECT doc_id, bin, CAST(count(*) AS BIGINT) AS tf FROM b GROUP BY 1, 2),
        |raw AS (SELECT bin, CAST(count(*) AS BIGINT) AS rawc FROM b GROUP BY 1),
        |tgt AS (SELECT bin, CAST(count(*) AS BIGINT) AS tgtc FROM b WHERE lang = 'en' GROUP BY 1),
        |w AS (
        |  SELECT raw.bin, CAST((COALESCE(tgtc, 0) + 1) * 1000000 // (rawc + 1) AS BIGINT) AS w
        |  FROM raw LEFT JOIN tgt USING (bin)),
        |sc AS (SELECT doc_id, CAST(SUM(tf * w) AS BIGINT) AS score FROM tf JOIN w USING (bin) GROUP BY 1)
        |SELECT base.doc_id, base.n_tok, sc.score,
        |  CAST(sc.score // base.n_tok AS BIGINT) AS score_per_tok
        |FROM base JOIN sc USING (doc_id)""".stripMargin,
    "q69_dup_span_removal" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
        |base AS (SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS n_tok FROM toks WHERE len(ts) > 0),
        |pos AS (
        |  SELECT doc_id, unnest(generate_series(1, len(ts) - 7)) AS i, ts
        |  FROM toks WHERE len(ts) >= 8),
        |grams AS (SELECT doc_id, i, array_to_string(ts[i:i+7], ' ') AS gram FROM pos),
        |dup AS (
        |  SELECT doc_id, i FROM (
        |    SELECT doc_id, i, count(*) OVER (PARTITION BY gram) AS c FROM grams)
        |  WHERE c > 1),
        |isl AS (
        |  SELECT doc_id, i,
        |    CASE WHEN prev IS NULL OR i - prev > 8 THEN 1 ELSE 0 END AS brk
        |  FROM (SELECT doc_id, i, lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM dup)),
        |grp AS (SELECT doc_id, i, SUM(brk) OVER (PARTITION BY doc_id ORDER BY i) AS g FROM isl),
        |iv AS (SELECT doc_id, MIN(i) AS lo, MAX(i) + 7 AS hi FROM grp GROUP BY doc_id, g),
        |tok1 AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS i FROM base),
        |keep AS (
        |  SELECT t.doc_id, t.i, t.ts[t.i] AS tok
        |  FROM tok1 t
        |  WHERE NOT EXISTS (SELECT 1 FROM iv
        |    WHERE iv.doc_id = t.doc_id AND t.i BETWEEN iv.lo AND iv.hi)),
        |clean AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY i) AS clean_text
        |  FROM keep GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tok,
        |  CAST(COALESCE(c.n_kept, 0) AS BIGINT) AS n_kept,
        |  COALESCE(c.clean_text, '') AS clean_text
        |FROM base b LEFT JOIN clean c USING (doc_id)""".stripMargin,
    // replays the fixed-point Lloyd's fit (kmeansFixedCtes), then the
    // within-cluster min-id-wins drop over the exact shift-removed dot
    "q68_semantic_dedup" -> semanticDedupSql,
    // the streaming lifecycle accumulates the SAME verdicts: batches
    // arrive in ascending vec_id ranges, so first-seen-wins at ingest
    // equals min-id-wins over the corpus
    "q140_stream_semantic" -> semanticDedupSql,
    // the bucketed index + mid-stream fold change the exchange shape
    // and the file layout, never the verdicts
    "q142_stream_semantic_bucketed" -> semanticDedupSql,
    // kill → delete batch-1 commit → resume → replay + batch 2: the
    // at-least-once replay never changes the accumulated verdicts
    "q155_stream_semantic_restart" -> semanticDedupSql,
    // eviction horizon live on the semantic family: batch-0 items left
    // the index before batch 2 ingested — q68 minus the {first-third ×
    // last-third} prior pairs, verdicts otherwise identical
    "q147_stream_semantic_evict" -> semanticEvictSql,
    "q37_multimodal" ->
      """SELECT doc_id,
        |CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |CAST(64 + octet_length(encode(text)) % 64 AS INT) AS width,
        |CAST(64 + (octet_length(encode(text)) * 7) % 64 AS INT) AS height,
        |CAST(1 + octet_length(encode(text)) % 8 AS INT) AS n_frames,
        |array_to_string(range(0, CAST(1 + octet_length(encode(text)) % 8 AS BIGINT), 2), ',') AS frames
        |FROM documents""".stripMargin,
    // replays MediaSynth's WAV sample formula from doc_id alone: the
    // clip mean, the ×2-decimated mean (every even sample), and each
    // even-ordinal 25-frame window's count + mean — all floor divisions
    // of exact |sample| sums, matching the kernels' integer arithmetic
    "q104_audio" ->
      """WITH p AS (SELECT doc_id, 50 + doc_id % 50 AS nf FROM documents),
        |sv AS (SELECT doc_id, nf, i,
        |    abs(((doc_id*31 + i*7) % 65536) - 32768) AS a
        |  FROM (SELECT doc_id, nf, unnest(range(0, nf)) AS i FROM p)),
        |clip AS (SELECT doc_id, nf,
        |    SUM(a) // COUNT(*) AS mean_abs,
        |    SUM(CASE WHEN i % 2 = 0 THEN a END)
        |      // SUM(CASE WHEN i % 2 = 0 THEN 1 END) AS mean_abs_ds,
        |    SUM(CASE WHEN i % 2 = 0 THEN 1 ELSE 0 END) AS nds
        |  FROM sv GROUP BY 1, 2),
        |win AS (SELECT doc_id, CAST(i // 25 AS INT) AS win_idx,
        |    CAST(COUNT(*) AS BIGINT) AS win_frames,
        |    SUM(a) // COUNT(*) AS win_mean_abs
        |  FROM sv GROUP BY 1, 2)
        |SELECT c.doc_id, CAST(8000 AS INT) AS sample_rate,
        |  CAST(1 AS INT) AS n_channels, CAST(c.nf AS BIGINT) AS n_frames,
        |  CAST(c.mean_abs AS BIGINT) AS mean_abs,
        |  CAST(4000 AS INT) AS sample_rate_ds,
        |  CAST(c.nds AS BIGINT) AS n_frames_ds,
        |  CAST(c.mean_abs_ds AS BIGINT) AS mean_abs_ds,
        |  w.win_idx, w.win_frames,
        |  CAST(w.win_mean_abs AS BIGINT) AS win_mean_abs
        |FROM clip c JOIN win w USING (doc_id)
        |WHERE w.win_idx % 2 = 0""".stripMargin,
    // replays MediaSynth's GIF fixture: per sampled (even) frame, the
    // dimensions and the solid color's exact integer-valued band mean
    // (r+g+b ≡ 0 mod 3 by the b-adjustment rule)
    "q105_gif_frames" ->
      """WITH p AS (SELECT doc_id, 3 + doc_id % 5 AS w, 2 + doc_id % 3 AS h,
        |    2 + doc_id % 5 AS nfr FROM documents),
        |c AS (SELECT doc_id, w, h, f,
        |    (doc_id*7 + f*13) % 256 AS r, (doc_id*11 + f*17) % 256 AS g,
        |    (doc_id*13 + f*19) % 256 AS b0
        |  FROM (SELECT doc_id, w, h, unnest(range(0, nfr)) AS f FROM p)
        |  WHERE f % 2 = 0),
        |c2 AS (SELECT doc_id, w, h, f, r, g,
        |    CASE WHEN b0 - ((r + g + b0) % 3) < 0
        |         THEN b0 - ((r + g + b0) % 3) + 3
        |         ELSE b0 - ((r + g + b0) % 3) END AS b FROM c)
        |SELECT doc_id, CAST(f AS INT) AS frame_idx, CAST(w AS INT) AS width,
        |  CAST(h AS INT) AS height, CAST(3 AS INT) AS n_channels,
        |  CAST((r + g + b) / 3 AS DOUBLE) AS mean_px
        |FROM c2""".stripMargin,
    // replay of the dHash pipeline from doc_id alone: the fixture's
    // 9×8-resized pixel values in closed form (cell + bump at the
    // nearest-neighbor source coordinate), gradient bits, 16-bit block
    // keys (offset by q·2³² like the Spark side), block-collision
    // candidates, exact Hamming ≤ 3
    "q154_image_neardup" -> imageDHashOracle(3),
    // the streaming image lifecycle accumulates exactly the batch
    // answer (every pair involves >= 1 new image exactly once; the
    // mid-stream fold changes layout, never the visible pair set)
    "q161_stream_image_dedup" -> imageDHashOracle(3),
    // restart-from-checkpoint replays to the same accumulated pairs
    "q163_stream_image_restart" -> imageDHashOracle(3),
    // the audio ingest family accumulates to the batch q157 pipeline
    // (the image-family contract with the audio fingerprint in front)
    "q167_stream_audio_dedup" ->
      s"""WITH ${audioFpCtes("")}
        |SELECT a AS doc_a, b AS doc_b, CAST(hm AS BIGINT) AS hamming
        |FROM ham WHERE hm <= 3""".stripMargin,
    "q169_stream_audio_restart" ->
      s"""WITH ${audioFpCtes("")}
        |SELECT a AS doc_a, b AS doc_b, CAST(hm AS BIGINT) AS hamming
        |FROM ham WHERE hm <= 3""".stripMargin,
    // eviction at the fold drops exactly the {batch-0 × batch-2} cross
    // pairs (batch-0 fingerprints left the index before batch 2 ran)
    "q168_stream_audio_evict" ->
      s"""WITH ${audioFpCtes("")}
        |SELECT a AS doc_a, b AS doc_b, CAST(hm AS BIGINT) AS hamming
        |FROM ham WHERE hm <= 3
        |  AND NOT ((a % 3 = 0 AND b % 3 = 2)
        |        OR (a % 3 = 2 AND b % 3 = 0))""".stripMargin,
    // the video ingest family accumulates to the batch q159 pipeline
    // (the image/audio-family contract with the multi-fingerprint
    // clip-level verify in front)
    "q170_stream_video_dedup" -> videoDHashOracle(),
    "q172_stream_video_restart" -> videoDHashOracle(),
    // eviction at the fold drops exactly the {batch-0 × batch-2} cross
    // pairs (batch-0 clips' whole frame sets left the index before
    // batch 2 ran)
    "q171_stream_video_evict" -> videoDHashOracle(
      """
        |  AND NOT ((a % 3 = 0 AND b % 3 = 2)
        |        OR (a % 3 = 2 AND b % 3 = 0))""".stripMargin),
    // eviction at the fold drops exactly the {batch-0 × batch-2} cross
    // pairs (batch-0 fingerprints left the index before batch 2 ran);
    // everything already emitted persists as output
    "q162_stream_image_evict" ->
      s"""WITH $imageDHashCtes
        |SELECT a AS doc_a, b AS doc_b, CAST(hm AS BIGINT) AS hamming
        |FROM ham WHERE hm <= 3
        |  AND NOT ((a % 3 = 0 AND b % 3 = 2)
        |        OR (a % 3 = 2 AND b % 3 = 0))""".stripMargin,
    // the q154 pairs + 16 unrolled HashMin rounds (q58's oracle
    // treatment — MATERIALIZED, linear in |E| per round) + the
    // keep-best-quality rank and the group totals
    "q160_image_dedup_retention" ->
      s"""WITH $imageDHashCtes,
        |p AS MATERIALIZED (SELECT a AS doc_a, b AS doc_b FROM ham
        |  WHERE hm <= 3),
        |e AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM p
        |  UNION ALL SELECT doc_b, doc_a FROM p),
        |l0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS lbl
        |  FROM documents),
        |${hashMinRoundCtes(dedupGroupsOracleRounds)},
        |g AS (SELECT CAST(id AS BIGINT) AS doc_id,
        |    CAST(lbl AS BIGINT) AS canon_id
        |  FROM l$dedupGroupsOracleRounds),
        |j AS (SELECT g.doc_id, g.canon_id, d.n_chars
        |  FROM g JOIN documents d USING (doc_id)),
        |best AS (SELECT canon_id, doc_id AS kept_doc,
        |    n_chars AS kept_quality FROM (
        |  SELECT canon_id, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY canon_id
        |      ORDER BY n_chars DESC, doc_id) AS rk FROM j) WHERE rk = 1),
        |tot AS (SELECT canon_id, COUNT(*) AS n_docs,
        |    SUM(n_chars) AS sum_quality FROM j GROUP BY canon_id)
        |SELECT b.canon_id, b.kept_doc,
        |  CAST(b.kept_quality AS BIGINT) AS kept_quality,
        |  CAST(t.n_docs AS BIGINT) AS n_docs,
        |  CAST(t.sum_quality AS BIGINT) AS sum_quality
        |FROM best b JOIN tot t USING (canon_id)""".stripMargin,
    // see curationOracleSql — the composed three-chain replay
    "q164_multimodal_curation" -> curationOracleSql(),
    // the streaming curation chain accumulates to the batch verdict
    // across batch boundaries + the composed fold (q173) and across
    // the kill/replay window (q175) — same statement, the q161/q170
    // oracle-sharing pattern; the evict leg (q174) replays the
    // {batch-0 × batch-2} subtraction in BOTH modality pair sets
    "q173_stream_curation" -> curationOracleSql(),
    "q174_stream_curation_evict" -> curationOracleSql(evictMod3 = true),
    "q175_stream_curation_restart" -> curationOracleSql(),
    // q165 = q164's keep chain (image HashMin retention + audio
    // first-seen + text gate) reduced to a curated id set (`keepd`),
    // feeding q151's shard-layout chain over the semi-joined corpus —
    // the one-statement replay of gate → dedup → pack → persist.
    // q164's per-doc stats CTE is renamed ts→tsx here because the
    // q151 chain binds `ts` as a COLUMN name
    "q165_curated_shards" -> {
      val shardMix = graft.learn.DetRandom.mixSql("doc_id", "doc_id", 42L)
      val orderMix = graft.learn.DetRandom.mixSql("doc_id", "doc_id", 43L)
      s"""WITH $imageDHashCtes,
        |p AS MATERIALIZED (SELECT a AS doc_a, b AS doc_b FROM ham
        |  WHERE hm <= 3),
        |e AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM p
        |  UNION ALL SELECT doc_b, doc_a FROM p),
        |l0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS lbl
        |  FROM documents),
        |${hashMinRoundCtes(dedupGroupsOracleRounds)},
        |g2 AS (SELECT CAST(id AS BIGINT) AS doc_id,
        |    CAST(lbl AS BIGINT) AS canon_id
        |  FROM l$dedupGroupsOracleRounds),
        |jq AS (SELECT g2.doc_id, g2.canon_id, d.n_chars
        |  FROM g2 JOIN documents d USING (doc_id)),
        |best AS (SELECT canon_id, doc_id AS kept_doc FROM (
        |  SELECT canon_id, doc_id,
        |    row_number() OVER (PARTITION BY canon_id
        |      ORDER BY n_chars DESC, doc_id) AS rk FROM jq) WHERE rk = 1),
        |${audioFpCtes("a")},
        |adrop AS (SELECT DISTINCT b AS doc_id FROM aham WHERE hm <= 3),
        |tt AS (
        |  SELECT doc_id, lower(text) AS lt,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
        |tsx AS (SELECT doc_id,
        |  CAST(len(ts) AS BIGINT) AS n_tok,
        |  CAST(CASE WHEN len(ts) = 0 THEN 0
        |    ELSE list_sum(list_transform(ts, x -> length(x))) * 1000000 // len(ts) END AS BIGINT) AS mtl_ppm,
        |  CAST(CASE WHEN length(lt) = 0 THEN 0
        |    ELSE length(regexp_replace(lt, '[^a-z]', '', 'g')) * 1000000 // length(lt) END AS BIGINT) AS alpha_ppm,
        |  CAST(len(list_filter(list_distinct(ts),
        |    x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS BIGINT) AS n_stop
        |  FROM tt),
        |tg AS (SELECT doc_id,
        |  CAST(CASE WHEN n_tok BETWEEN 50 AND 100000 AND mtl_ppm BETWEEN 3000000 AND 10000000
        |    AND alpha_ppm >= 600000 AND n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS text_keep
        |  FROM tsx),
        |keepd AS MATERIALIZED (SELECT d.doc_id FROM documents d
        |  JOIN tg ON tg.doc_id = d.doc_id
        |  LEFT JOIN best bk ON bk.kept_doc = d.doc_id
        |  LEFT JOIN adrop ad ON ad.doc_id = d.doc_id
        |  WHERE tg.text_keep = 1 AND bk.kept_doc IS NOT NULL
        |    AND ad.doc_id IS NULL),
        |t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        |  FROM documents JOIN keepd USING (doc_id)),
        |s AS (SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS n_tok,
        |  CAST(($shardMix) % 8 AS BIGINT) AS shard,
        |  ($orderMix) AS h FROM t),
        |l AS (SELECT doc_id, ts, n_tok, shard,
        |  SUM(n_tok) OVER (PARTITION BY shard ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) - n_tok AS start_off
        |  FROM s),
        |tok AS (SELECT shard, doc_id, start_off, ts,
        |  unnest(generate_series(1, len(ts))) AS i FROM l),
        |tox AS (SELECT shard, doc_id, start_off + i - 1 AS idx, ts[i] AS tok FROM tok)
        |SELECT CAST(shard AS BIGINT) AS shard,
        |  CAST(idx // 256 AS BIGINT) AS seq_id,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) AS BIGINT) AS seq_tok,
        |  string_agg(tok, ' ' ORDER BY idx) AS text_seq
        |FROM tox GROUP BY 1, 2""".stripMargin
    },
    // q158 = the SAME fingerprint pipeline at radius 2: the co-bucket
    // candidate scheme and q154's single-block scheme are both
    // pigeonhole-complete at Hamming ≤ 2, so the final pair sets agree
    // and the replay keeps the simpler single-block candidate CTE
    "q158_image_neardup_cobucket" -> imageDHashOracle(2),
    // replay of the WIDE blockhash pipeline from doc_id alone: the fine
    // fixture's 16×16-resized pixels in closed form (double-squared
    // DetRandom mix cell + bump at the nearest-neighbor source
    // coordinate), the lower-median threshold as a rank (rn = 128),
    // 16× 16-bit block keys, block-collision candidates, exact
    // Hamming ≤ 6 over all 256 bits
    "q156_image_neardup_wide" ->
      s"""WITH dim AS (SELECT doc_id, doc_id // 3 AS g,
        |    16*(1 + (doc_id // 3) % 3) AS w, 16*(1 + (doc_id // 3) % 2) AS h
        |  FROM documents),
        |u AS (SELECT doc_id, w, h, gx.x AS x, gy.y AS y,
        |    ${graft.learn.DetRandom.mixSql("g", "gy.y*16 + gx.x", 42L)} AS u0
        |  FROM dim, generate_series(0, 15) AS gx(x),
        |    generate_series(0, 15) AS gy(y)),
        |px AS (SELECT doc_id, x, y,
        |    (${graft.multimodal.MediaSynth.sq2Sql("u0")} % 17) * 12 + 8 +
        |      CASE WHEN (doc_id*131 + (x*(w//16))*17 + (y*(h//16))*23) % 19 = 0
        |           THEN 7 ELSE 0 END AS v
        |  FROM u),
        |med AS (SELECT doc_id, v AS m FROM (
        |    SELECT doc_id, v, row_number() OVER (PARTITION BY doc_id ORDER BY v) AS rn
        |    FROM px) WHERE rn = 128),
        |bits AS (SELECT p.doc_id, p.y * 16 + p.x AS pos,
        |    CASE WHEN p.v > med.m THEN 1 ELSE 0 END AS bit
        |  FROM px p JOIN med USING (doc_id)),
        |blk AS (SELECT doc_id, pos // 16 AS q,
        |    SUM(bit * (CAST(1 AS BIGINT) << (pos % 16)))
        |      + (pos // 16) * 4294967296 AS key
        |  FROM bits GROUP BY doc_id, pos // 16),
        |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM blk x JOIN blk y ON x.key = y.key AND x.doc_id < y.doc_id),
        |ham AS (SELECT c.a, c.b,
        |    SUM(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) AS hm
        |  FROM cand c
        |  JOIN bits ba ON ba.doc_id = c.a
        |  JOIN bits bb ON bb.doc_id = c.b AND bb.pos = ba.pos
        |  GROUP BY c.a, c.b)
        |SELECT a AS doc_a, b AS doc_b, CAST(hm AS BIGINT) AS hamming
        |FROM ham WHERE hm <= 6""".stripMargin,
    // replay of the AUDIO energy-delta pipeline from doc_id alone: the
    // wavMotifFixture's per-frame amplitude envelope in closed form
    // (double-squared DetRandom mix + bump — the windowed mean |sample|
    // is exactly the envelope), delta-sign bits, 16-bit block keys,
    // block-collision candidates, exact Hamming ≤ 3
    "q157_audio_neardup" ->
      s"""WITH ${audioFpCtes("")}
        |SELECT a AS doc_a, b AS doc_b, CAST(hm AS BIGINT) AS hamming
        |FROM ham WHERE hm <= 3""".stripMargin,
    // the video dHash replay ([[videoDHashOracle]]) — shared verbatim
    // with the streaming family q170-q172, exactly as q154's oracle is
    // shared with q161/q163
    "q159_video_neardup" -> videoDHashOracle(),
    "q40_embed_neardup" ->
      s"""WITH s AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |kb AS (SELECT vec_id, v, unnest([${lshKeySqls.mkString(", ")}]) AS key FROM s),
        |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM kb a JOIN kb b ON a.key = b.key AND a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b FROM cand
        |JOIN s sa ON sa.vec_id = cand.vec_a JOIN s sb ON sb.vec_id = cand.vec_b
        |WHERE list_cosine_similarity(sa.v, sb.v) >= 0.4""".stripMargin,
    "q41_ann_lsh" ->
      s"""WITH s AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |kb AS (SELECT vec_id, v, unnest([${lshKeySqls.mkString(", ")}]) AS key FROM s),
        |q AS (SELECT key, v AS qv FROM kb WHERE vec_id = 0)
        |SELECT id FROM (
        |  SELECT kb.vec_id AS id, MAX(list_cosine_similarity(kb.v, q.qv)) AS score
        |  FROM kb JOIN q ON kb.key = q.key WHERE kb.vec_id <> 0 GROUP BY 1)
        |ORDER BY score DESC, id LIMIT 10""".stripMargin,
    "q42_ann_ivf" ->
      s"""WITH s AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |c AS (SELECT id AS cid, v AS cv FROM (
        |  SELECT id, v, row_number() OVER (ORDER BY ${DetRandom.uniformSql("id", "id", 42L)}, id) AS rn FROM s)
        |  WHERE rn <= 16),
        |asg AS (SELECT id, v, cid FROM (
        |  SELECT s.id, s.v, c.cid,
        |    row_number() OVER (PARTITION BY s.id ORDER BY list_dot_product(s.v, c.cv) DESC, c.cid) AS rk
        |  FROM s CROSS JOIN c) WHERE rk = 1),
        |qv AS (SELECT v FROM s WHERE id = 0),
        |probes AS (SELECT cid FROM (
        |  SELECT c.cid, row_number() OVER (ORDER BY list_dot_product(c.cv, (SELECT v FROM qv)) DESC, c.cid) AS rk
        |  FROM c) WHERE rk <= 4)
        |SELECT id FROM asg JOIN probes USING (cid)
        |WHERE id <> 0
        |ORDER BY list_cosine_similarity(v, (SELECT v FROM qv)) DESC, id LIMIT 10""".stripMargin,
    // hash-exact k-means IVF: the oracle replays the ENTIRE fixed-point
    // Lloyd's fit (kmeansFixedCtes) before the serving tail
    "q45_ann_ivf_kmeans" ->
      s"""WITH $kmeansFixedCtes
        |SELECT id FROM asg JOIN probes USING (cid)
        |WHERE id <> 0
        |ORDER BY list_cosine_similarity(v, (SELECT v FROM qv)) DESC, id LIMIT 10""".stripMargin,
    // the fit envelope: split/label counts on the replayed deterministic
    // predicates; the four flags are theorems of the L-BFGS contract
    // (line search only accepts decreases; zero-coefficient start prices
    // obj0 = H(prior) <= ln 2), so the oracle pins them at 1
    "q134_quality_train" ->
      s"""WITH s AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS ts FROM documents),
        |f AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
        |    CASE WHEN len(ts) = 0 THEN 0 ELSE CAST(len(list_filter(ts, x -> x = 'the' OR x = 'a')) AS BIGINT) * 1000000 // len(ts) END AS stop_ppm
        |  FROM s),
        |g AS (SELECT doc_id, CASE WHEN n_tokens >= 40 AND stop_ppm >= 40000 THEN 1 ELSE 0 END AS weak_label,
        |    ${graft.learn.DetRandom.uniformSql("doc_id", "doc_id", 42L)} AS u
        |  FROM f)
        |SELECT
        |  CAST(SUM(CASE WHEN u >= 0.15 AND weak_label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_train_pos,
        |  CAST(SUM(CASE WHEN u >= 0.15 AND weak_label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_train_neg,
        |  CAST(SUM(CASE WHEN u < 0.15 AND weak_label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_val_pos,
        |  CAST(SUM(CASE WHEN u < 0.15 AND weak_label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_val_neg,
        |  CAST(1 AS BIGINT) AS fit_iters_le_max,
        |  CAST(1 AS BIGINT) AS fit_loss_decreased,
        |  CAST(1 AS BIGINT) AS fit_beats_chance,
        |  CAST(1 AS BIGINT) AS val_metrics_in_range
        |FROM g""".stripMargin,
    // frozen integer head replayed term-for-term: every cell exact
    "q135_quality_scored" ->
      """WITH s AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS ts FROM documents),
        |f AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
        |    CASE WHEN len(ts) = 0 THEN 0 ELSE CAST(len(list_filter(ts, x -> x = 'the' OR x = 'a')) AS BIGINT) * 1000000 // len(ts) END AS stop_ppm
        |  FROM s),
        |g AS (SELECT doc_id, n_tokens, stop_ppm,
        |    25000 * (n_tokens - 40) + 22 * (stop_ppm - 40000) - 600000 AS quality_fp,
        |    CASE WHEN n_tokens >= 40 AND stop_ppm >= 40000 THEN 1 ELSE 0 END AS weak_label
        |  FROM f)
        |SELECT doc_id, n_tokens, stop_ppm, CAST(quality_fp AS BIGINT) AS quality_fp,
        |  CAST(quality_fp > 0 AS BIGINT) AS pred_label,
        |  CAST(weak_label AS BIGINT) AS weak_label
        |FROM g""".stripMargin,
    // the frozen-head scores re-derived, floor-binned (the CASE keeps
    // both engines on floor semantics for negatives), per-bin rates
    "q136_quality_calibration" ->
      """WITH s AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS ts FROM documents),
        |f AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
        |    CASE WHEN len(ts) = 0 THEN 0 ELSE CAST(len(list_filter(ts, x -> x = 'the' OR x = 'a')) AS BIGINT) * 1000000 // len(ts) END AS stop_ppm
        |  FROM s),
        |g AS (SELECT 25000 * (n_tokens - 40) + 22 * (stop_ppm - 40000) - 600000 AS quality_fp,
        |    CASE WHEN n_tokens >= 40 AND stop_ppm >= 40000 THEN 1 ELSE 0 END AS weak_label
        |  FROM f),
        |b AS (SELECT CASE WHEN quality_fp >= 0 THEN quality_fp // 500000
        |    ELSE -((-quality_fp + 499999) // 500000) END AS bin, weak_label FROM g)
        |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(weak_label) AS BIGINT) AS n_pos,
        |  CAST((SUM(weak_label) * 1000000) // COUNT(*) AS BIGINT) AS pos_ppm
        |FROM b GROUP BY bin""".stripMargin,
    // list sizes over the replayed assignment + the global ppm factor
    "q128_ivf_imbalance" ->
      s"""WITH $kmeansFixedCtes,
        |sz AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM asg GROUP BY cid),
        |f AS (SELECT CAST((16 * SUM(n_vecs * n_vecs) * 1000000) // (SUM(n_vecs) * SUM(n_vecs)) AS BIGINT) AS imbalance_ppm FROM sz)
        |SELECT cid, n_vecs, imbalance_ppm FROM sz, f""".stripMargin,
    // isqrt weights (corrected floor-sqrt) + largest-remainder split
    "q129_temperature_mix" ->
      """WITH g AS (
        |  SELECT source AS grp, CAST(SUM(len(regexp_extract_all(text, '[a-z0-9]+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |i AS (SELECT grp, n_tokens, CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS l0 FROM g),
        |w AS (SELECT grp, n_tokens,
        |    CASE WHEN (l0 + 1) * (l0 + 1) <= n_tokens THEN l0 + 1
        |         WHEN l0 * l0 > n_tokens THEN l0 - 1 ELSE l0 END AS w_isqrt FROM i),
        |t AS (SELECT grp, n_tokens, w_isqrt,
        |    (10000 * w_isqrt) // SUM(w_isqrt) OVER () AS base,
        |    (10000 * w_isqrt) % SUM(w_isqrt) OVER () AS rem
        |  FROM w),
        |d AS (SELECT *, 10000 - SUM(base) OVER () AS deficit,
        |    row_number() OVER (ORDER BY rem DESC, grp) AS rk FROM t)
        |SELECT grp, n_tokens, w_isqrt,
        |  CAST(base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT) AS quota
        |FROM d""".stripMargin,
    "q100_ann_pq" ->
      s"""WITH $pqCtes
        |SELECT id FROM pqtop""".stripMargin,
    // per-block squared reconstruction error of the replayed fit
    "q131_pq_distortion" -> {
      val per = (0 until 8).map { b =>
        s"""e$b AS (SELECT s.id, t.d AS d, (s.vi[t.d] - c.cv[t.d]) AS df
           |  FROM pb${b}_s s JOIN pb${b}_code k ON k.id = s.id
           |    JOIN pb${b}_c$kmeansFixedIters c ON c.cid = k.cid,
           |  UNNEST(range(1, len(s.vi) + 1)) AS t(d)),
           |g$b AS (SELECT CAST($b AS BIGINT) AS blk,
           |    CAST(COUNT(DISTINCT id) AS BIGINT) AS n_vecs,
           |    CAST(SUM(df * df) AS BIGINT) AS sse FROM e$b)""".stripMargin
      }.mkString(",\n")
      val u = (0 until 8).map(b => s"SELECT * FROM g$b").mkString(" UNION ALL ")
      s"""WITH $pqCtes,
         |$per
         |SELECT blk, n_vecs, sse, CAST(sse // n_vecs AS BIGINT) AS mse
         |FROM ($u)""".stripMargin
    },
    // distinct trigram types per doc vs their corpus document frequency
    "q132_ngram_commonness" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
        |tri AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS tri
        |  FROM w, UNNEST(range(1, len(toks) - 1)) AS t(i) WHERE len(toks) >= 3),
        |dfr AS (SELECT tri, CAST(COUNT(*) AS BIGINT) AS df FROM tri GROUP BY tri)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_types,
        |  CAST(SUM(CASE WHEN dfr.df >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
        |  CAST((SUM(CASE WHEN dfr.df >= 10 THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS common_ppm
        |FROM tri JOIN dfr USING (tri) GROUP BY doc_id""".stripMargin,
    // the q44 pair set bucketed by unordered source pair
    "q133_dup_provenance" ->
      s"""WITH pr AS ($jaccardPairsSql)
        |SELECT LEAST(da.source, db.source) AS src_a,
        |  GREATEST(da.source, db.source) AS src_b,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM pr JOIN documents da ON da.doc_id = pr.doc_a
        |  JOIN documents db ON db.doc_id = pr.doc_b
        |GROUP BY 1, 2""".stripMargin,
    // q103 serves from the PqIngest code store; its contract is exact
    // equality with the batch coding of the union (replay + re-send
    // absorbed), so the expected answer IS q100's — the oracle replays
    // the same fit + coding + ADC ranking from the raw table while
    // Spark answers from the streaming-accumulated 8-byte codes
    "q103_ann_pq_ingest" ->
      s"""WITH $pqCtes
        |SELECT id FROM pqtop""".stripMargin,
    // q106 restarts the real StreamingQuery from its checkpoint with a
    // deleted commit marker (forced batch replay); the store contract
    // makes the served answer q100's bit-for-bit, so the oracle is the
    // same full replay of fit + coding + ADC ranking
    "q106_ann_pq_restart" ->
      s"""WITH $pqCtes
        |SELECT id FROM pqtop""".stripMargin,
    // q150 folds the codes store mid-stream (Maintenance.compactPqStore
    // between committed micro-batches) — layout changes, the served
    // answer stays q100's bit-for-bit
    "q150_pq_ingest_folded" ->
      s"""WITH $pqCtes
        |SELECT id FROM pqtop""".stripMargin,
    "q102_ann_ivfpq" ->
      s"""WITH $kmeansFixedCtes,
        |$pqBlockCtes
        |SELECT id FROM asg JOIN probes USING (cid) JOIN pqscore USING (id)
        |WHERE id <> 0 ORDER BY score DESC, id LIMIT 10""".stripMargin,
    // replays the ENTIRE residual pipeline: coarse fit (kmeansFixedCtes),
    // residual image, 8 residual Lloyd's chains, per-list query ADC +
    // norms, cross-list ranking
    "q107_ann_ivfpq_residual" ->
      s"""WITH $kmeansFixedCtes,
        |$residualPqCtes
        |SELECT id FROM rtop""".stripMargin,
    "q108_ann_ivfpq_resid_recall" ->
      s"""WITH $kmeansFixedCtes,
        |$residualPqCtes,
        |bf AS (
        |  SELECT id FROM s
        |  WHERE id <> 0
        |  ORDER BY list_cosine_similarity(v, (SELECT v FROM s WHERE id = 0)) DESC, id LIMIT 10)
        |SELECT CAST(10 AS BIGINT) AS k,
        |  (SELECT COUNT(*) FROM rtop JOIN bf USING (id)) AS n_overlap""".stripMargin,
    // 4 unrolled walk steps: slot-indexed adjacency (row_number − 1 per
    // source, ordered by neighbour id) + the DetRandom choice
    // mix(cur, wid·31 + t) mod deg — bit-identical to learn.Walks
    "q109_random_walks" ->
      s"""WITH $walkCtes
         |SELECT wid AS walk_id, st AS step, cur AS node_id FROM corpus""".stripMargin,
    // node2vec: uniform step 1, then 3 unrolled biased steps — candidate
    // weights (1, 4, 2) by return / in-neighbourhood / out, the draw
    // resolved by the per-walk cumulative-weight slot
    "q115_node2vec_walks" -> {
      val steps = (2 to 4).map { t =>
        val r = DetRandom.mixSql("cur", s"wid * 31 + $t", 42L)
        s"""c$t AS (SELECT f.wid, f.prev, f.cur, a.v, a.idx,
           |    CASE WHEN a.v = f.prev THEN 1
           |         WHEN e.u IS NOT NULL THEN 4 ELSE 2 END AS wt
           |  FROM v${t - 1} f JOIN adj a ON a.u = f.cur
           |  LEFT JOIN adj e ON e.u = f.prev AND e.v = a.v),
           |d$t AS (SELECT *, SUM(wt) OVER (PARTITION BY wid ORDER BY idx) AS cw,
           |    SUM(wt) OVER (PARTITION BY wid) AS tot FROM c$t),
           |v$t AS (SELECT wid, cur AS prev, v AS cur FROM d$t
           |  WHERE ($r) % tot >= cw - wt AND ($r) % tot < cw)""".stripMargin
      }.mkString(",\n")
      val out = Seq(
        "SELECT wid AS walk_id, CAST(0 AS BIGINT) AS step, cur AS node_id FROM n0") ++
        (1 to 4).map { t =>
          s"SELECT wid, CAST($t AS BIGINT), cur FROM v$t"
        }
      s"""WITH pp AS (SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
         |  FROM lineitem l1 JOIN lineitem l2
         |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
         |e0 AS (SELECT a AS u, b AS v FROM pp UNION ALL SELECT b AS u, a AS v FROM pp),
         |adj AS (SELECT u, v,
         |    row_number() OVER (PARTITION BY u ORDER BY v) - 1 AS idx,
         |    COUNT(*) OVER (PARTITION BY u) AS deg
         |  FROM e0),
         |n0 AS (SELECT u * 2 + g AS wid, u AS cur, deg FROM
         |  (SELECT DISTINCT u, deg FROM adj) CROSS JOIN (SELECT unnest(range(2)) AS g)),
         |v1 AS (SELECT n.wid, n.cur AS prev, a.v AS cur FROM n0 n
         |  JOIN adj a ON a.u = n.cur
         |    AND a.idx = (${DetRandom.mixSql("n.cur", "n.wid * 31 + 1", 42L)}) % n.deg),
         |$steps
         |${out.mkString("\nUNION ALL\n")}""".stripMargin
    },
    // the walk corpus self-joined on walk_id within the ±2 skip-gram
    // window, counted — learn.Walks.skipGramPairs's recurrence
    "q113_skipgram_pairs" ->
      s"""WITH $walkCtes
         |SELECT a.cur AS src, b.cur AS ctx, CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM corpus a JOIN corpus b ON a.wid = b.wid
         |WHERE a.st <> b.st AND ABS(a.st - b.st) <= 2
         |GROUP BY 1, 2""".stripMargin,
    // temporal co-purchase edges (pair, order day) + 4 unrolled
    // time-respecting steps: valid candidates (d >= walk clock)
    // slot-ordered by (day, neighbour), the draw = mix mod n_valid —
    // the shared unroll lives in temporalWalkCtes
    "q118_temporal_walks" -> {
      val out = Seq(
        "SELECT wid AS walk_id, CAST(0 AS BIGINT) AS step, cur AS node_id, curd AS day FROM v0") ++
        (1 to 4).map(t => s"SELECT wid, CAST($t AS BIGINT), cur, curd FROM v$t")
      s"""WITH $temporalWalkCtes
         |${out.mkString("\nUNION ALL\n")}""".stripMargin
    },
    // the temporal walk corpus self-joined on walk_id within the ±2
    // window, counted — q113's recurrence over q118's walks
    "q120_temporal_skipgram" ->
      s"""WITH $temporalWalkCtes
         |SELECT a.cur AS src, b.cur AS ctx, CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM tcorpus a JOIN tcorpus b ON a.wid = b.wid
         |WHERE a.st <> b.st AND ABS(a.st - b.st) <= 2
         |GROUP BY 1, 2""".stripMargin,
    // the q113 pair table + O(|V|) marginals + the corpus total, scored
    // as the exact log-free lift (PMI's monotone integer image)
    "q116_walk_pmi" ->
      s"""WITH $walkCtes,
         |pr AS (SELECT a.cur AS src, b.cur AS ctx, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM corpus a JOIN corpus b ON a.wid = b.wid
         |  WHERE a.st <> b.st AND ABS(a.st - b.st) <= 2 GROUP BY 1, 2),
         |ms AS (SELECT src, SUM(cnt) AS n_src FROM pr GROUP BY 1),
         |mc AS (SELECT ctx, SUM(cnt) AS n_ctx FROM pr GROUP BY 1),
         |tt AS (SELECT SUM(cnt) AS n_total FROM pr)
         |SELECT src, ctx, cnt,
         |  CAST((cnt * n_total * 1000000) // (n_src * n_ctx) AS BIGINT) AS lift_fp
         |FROM pr JOIN ms USING (src) JOIN mc USING (ctx), tt
         |WHERE cnt >= 2
         |ORDER BY lift_fp DESC, src, ctx LIMIT 200""".stripMargin,
    // q110's final symbol table → per-word subword counts → one corpus
    // word explode joined on the word key; wordless docs count 0
    // per-lang word stream joined on the per-word piece counts; exact
    // ppm ratio (all positive, // ≡ div)
    "q124_bpe_fertility" ->
      s"""WITH $bpeCtes,
         |pw AS (SELECT wd, CAST(COUNT(*) AS BIGINT) AS n_sub FROM s5 GROUP BY wd),
         |dw AS (SELECT lang AS grp, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS wd FROM documents)
         |SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
         |  CAST(SUM(n_sub) * 1000000 // COUNT(*) AS BIGINT) AS fertility_ppm
         |FROM dw JOIN pw USING (wd) GROUP BY grp""".stripMargin,
    // all ordered pairs with exact shingle-set containment >= 4/5 (the
    // threshold and score are pure integers on both sides)
    "q125_containment" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS sh
        |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents)
        |),
        |s AS (SELECT doc_id, sh FROM t WHERE len(sh) > 0)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST((len(list_intersect(a.sh, b.sh)) * 1000000) // len(a.sh) AS BIGINT) AS containment_ppm
        |FROM s a JOIN s b ON a.doc_id <> b.doc_id
        |WHERE len(list_intersect(a.sh, b.sh)) * 5 >= len(a.sh) * 4""".stripMargin,
    // same brute-force containment, restricted to (benchmark -> corpus)
    // directed pairs, grouped per contaminated corpus doc
    "q138_neardup_decontam" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS sh
        |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents)
        |),
        |s AS (SELECT doc_id, sh FROM t WHERE len(sh) > 0),
        |bm AS (SELECT doc_id FROM documents WHERE source = 'src0'),
        |hits AS (
        |  SELECT b.doc_id AS doc_id,
        |    (len(list_intersect(a.sh, b.sh)) * 1000000) // len(a.sh) AS c
        |  FROM s a JOIN bm ON bm.doc_id = a.doc_id
        |  JOIN s b ON a.doc_id <> b.doc_id
        |  WHERE b.doc_id NOT IN (SELECT doc_id FROM bm)
        |    AND len(list_intersect(a.sh, b.sh)) * 5 >= len(a.sh) * 4)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bench_hits,
        |  CAST(MAX(c) AS BIGINT) AS max_containment_ppm
        |FROM hits GROUP BY doc_id""".stripMargin,
    // cluster sizes over the same closure, inverse-size ppm weights
    "q139_dup_weights" ->
      s"""$dedupGroupsCtes,
        |sz AS (SELECT canon_id, CAST(COUNT(*) AS BIGINT) AS grp_size FROM g GROUP BY canon_id)
        |SELECT g.doc_id, sz.grp_size,
        |  CAST(1000000 // sz.grp_size AS BIGINT) AS weight_ppm
        |FROM g JOIN sz USING (canon_id)""".stripMargin,
    // the final symbol table collected per word in pos order — the
    // word → pieces lexicon, top-200 by (freq DESC, word)
    "q119_bpe_segments" ->
      s"""WITH $bpeCtes,
         |lex AS (SELECT wd, freq, string_agg(sym, '_' ORDER BY pos) AS segments,
         |    CAST(COUNT(*) AS BIGINT) AS n_sub FROM s5 GROUP BY wd, freq)
         |SELECT wd, freq, segments, n_sub FROM lex
         |ORDER BY freq DESC, wd LIMIT 200""".stripMargin,
    "q117_bpe_token_counts" ->
      s"""WITH $bpeCtes,
         |pw AS (SELECT wd, CAST(COUNT(*) AS BIGINT) AS n_sub FROM s5 GROUP BY wd),
         |dw AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS wd FROM documents),
         |ct AS (SELECT doc_id, SUM(n_sub) AS n_tokens FROM dw JOIN pw USING (wd) GROUP BY doc_id)
         |SELECT d.doc_id, CAST(COALESCE(ct.n_tokens, 0) AS BIGINT) AS n_tokens
         |FROM documents d LEFT JOIN ct ON ct.doc_id = d.doc_id""".stripMargin,
    "q101_ann_pq_recall" ->
      s"""WITH $pqCtes,
        |bf AS (
        |  SELECT id FROM s
        |  WHERE id <> 0
        |  ORDER BY list_cosine_similarity(v, (SELECT v FROM s WHERE id = 0)) DESC, id LIMIT 10)
        |SELECT CAST(10 AS BIGINT) AS k,
        |  (SELECT COUNT(*) FROM pqtop JOIN bf USING (id)) AS n_overlap""".stripMargin,
    "q54_ann_recall_kmeans" ->
      s"""WITH $kmeansFixedCtes,
        |ivf AS (
        |  SELECT id FROM asg JOIN probes USING (cid)
        |  WHERE id <> 0
        |  ORDER BY list_cosine_similarity(v, (SELECT v FROM qv)) DESC, id LIMIT 10),
        |bf AS (
        |  SELECT id FROM s
        |  WHERE id <> 0
        |  ORDER BY list_cosine_similarity(v, (SELECT v FROM qv)) DESC, id LIMIT 10)
        |SELECT CAST(10 AS BIGINT) AS k,
        |  (SELECT COUNT(*) FROM ivf JOIN bf USING (id)) AS n_overlap""".stripMargin,
    // half-dim brute-force top-10 vs full-dim top-10 overlap
    "q121_matryoshka_recall" ->
      s"""WITH s AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |h AS (SELECT id, v[1:len(v) // 2] AS v FROM s),
        |bff AS (SELECT id FROM s WHERE id <> 0
        |  ORDER BY list_cosine_similarity(v, (SELECT v FROM s WHERE id = 0)) DESC, id LIMIT 10),
        |bfh AS (SELECT id FROM h WHERE id <> 0
        |  ORDER BY list_cosine_similarity(v, (SELECT v FROM h WHERE id = 0)) DESC, id LIMIT 10)
        |SELECT CAST(10 AS BIGINT) AS k,
        |  (SELECT COUNT(*) FROM bfh JOIN bff USING (id)) AS n_overlap""".stripMargin,
    "q51_ann_recall" ->
      s"""WITH s AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |c AS (SELECT id AS cid, v AS cv FROM (
        |  SELECT id, v, row_number() OVER (ORDER BY ${DetRandom.uniformSql("id", "id", 42L)}, id) AS rn FROM s)
        |  WHERE rn <= 16),
        |asg AS (SELECT id, v, cid FROM (
        |  SELECT s.id, s.v, c.cid,
        |    row_number() OVER (PARTITION BY s.id ORDER BY list_dot_product(s.v, c.cv) DESC, c.cid) AS rk
        |  FROM s CROSS JOIN c) WHERE rk = 1),
        |qv AS (SELECT v FROM s WHERE id = 0),
        |probes AS (SELECT cid FROM (
        |  SELECT c.cid, row_number() OVER (ORDER BY list_dot_product(c.cv, (SELECT v FROM qv)) DESC, c.cid) AS rk
        |  FROM c) WHERE rk <= 4),
        |ivf AS (
        |  SELECT id FROM asg JOIN probes USING (cid)
        |  WHERE id <> 0
        |  ORDER BY list_cosine_similarity(v, (SELECT v FROM qv)) DESC, id LIMIT 10),
        |bf AS (
        |  SELECT id FROM s
        |  WHERE id <> 0
        |  ORDER BY list_cosine_similarity(v, (SELECT v FROM qv)) DESC, id LIMIT 10)
        |SELECT CAST(10 AS BIGINT) AS k,
        |  (SELECT COUNT(*) FROM ivf JOIN bf USING (id)) AS n_overlap""".stripMargin,
  )
}
