package graft.ext

import graft.functions.ArrayOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column — the vector half of the
  * LLM-pipeline extension surface (the reference's only vector op is the
  * edge-decode dot product, `model.py:76`).
  *
  * Two tiers:
  *  - brute-force cosine top-k (`SparkEntry` q35): the exact baseline, a
  *    broadcast of the query row against a full scan — linear, but reads
  *    every vector.
  *  - random-hyperplane LSH buckets (this file): signatures are seeded
  *    Rademacher (±1) sign projections, so the whole scheme is
  *    deterministic and reproducible in plain SQL (the hyperplane literals
  *    embed into the oracle); candidates share a bucket in ≥1 table and are
  *    exact-cosine verified. At scale the bucket join replaces the O(n²)
  *    pair space with near-linear bucket-local work, and the signature scan
  *    is one codegen'd projection.
  *
  * Determinism: hyperplanes derive from `java.util.Random(seed)` alone;
  * cosine is accumulated in double left-to-right (ArrayOps.dot), matching
  * sequential SQL summation to ~1 ulp — thresholds must keep a gap wider
  * than that (τ=0.45 on the fixture has ≥5e-4 of clearance).
  */
object Similarity {

  /** Spread a (small) embedding frame across the session's parallelism,
    * hashed on the id, BEFORE per-row signature compute. A small corpus
    * is one parquet scan partition, so the tables×bits hyperplane dots
    * of [[bucketKeys]] — and everything fused after them — would run in
    * ONE task (the serial-stage shape FUZZ_AB_r8.md measured on q89,
    * and on q40/q41 at maxTask ≈ 0.6–0.7 × wall). The exchange
    * carries the raw `(id, vec)` rows — narrower than the ×tables
    * exploded signature frame — and at 100 TB, where the scan is already
    * wide, it is one bounded extra exchange next to the self-join's own
    * exchanges, paid for full-width signature compute. */
  private def spreadById(df: DataFrame, idCol: String): DataFrame =
    // numShufflePartitions (not defaultParallelism) so the exchange's
    // partitioning can satisfy any downstream hash requirement on the id
    // without a second shuffle under configs where the two counts differ
    df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions, col(idCol))

  /** `count` Rademacher hyperplanes of dimension `dim`: entries ±1 drawn
    * from `java.util.Random(seed)` in row-major order. Sign-projection LSH
    * with ±1 coordinates preserves angular locality like Gaussian planes
    * (Achlioptas-style sparse projections) while keeping literals compact
    * enough to inline into SQL. */
  def hyperplanes(dim: Int, count: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(count)(Array.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** Bucket keys, one per table: key_t = t·2³² + Σ_j [dot(vec, plane_{t·b+j}) > 0]·2ʲ.
    * The t·2³² offset keeps keys from different tables disjoint, so a
    * single exploded join column covers all tables. */
  def bucketKeys(
      vec: Column, planes: Array[Array[Double]], tables: Int, bits: Int): Column = {
    require(planes.length >= tables * bits)
    val keys = (0 until tables).map { t =>
      (0 until bits).map { j =>
        val plane = planes(t * bits + j)
        val dot = ArrayOps.dot(vec, typedlit(plane.toSeq))
        when(dot > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _) + lit(t.toLong * 4294967296L)
    }
    array(keys: _*)
  }

  /** All pairs `(id_a < id_b)` with exact cosine ≥ `tau`, candidates from
    * hyperplane-LSH bucket collisions (any of `tables` tables). */
  def nearDupCosine(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double,
      tables: Int = 4,
      bits: Int = 8,
      seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(dim = 64, count = tables * bits, seed = seed)
    val sigs = Similarity.spreadById(emb, idCol).select(
      col(idCol).cast("long").as("id"),
      col(vecCol).as("vec"),
      explode(bucketKeys(col(vecCol), planes, tables, bits)).as("key"))
      // barrier: the self-join reads this twice, and the signature plan
      // embeds tables×bits 64-double hyperplane literals — checkpointing
      // computes the dots once and keeps the literal-heavy tree out of
      // every downstream optimisation pass
      .localCheckpoint(eager = true)
    val cand = sigs.as("x").join(sigs.as("y"),
        col("x.key") === col("y.key") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    val vecs = emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    cand
      .join(vecs.select(col("id").as("id_a"), col("vec").as("va")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vb")), Seq("id_b"))
      .filter(ArrayOps.cosine(col("va"), col("vb")) >= tau)
      .select(col("id_a"), col("id_b"))
  }

  /** Approximate top-k neighbours of `queryId`: candidates share ≥1 bucket
    * with the query across the tables, ranked by exact cosine (id
    * tiebreak). The scale path for q35's brute force — the candidate join
    * touches only bucket-mates instead of the full corpus. */
  def annTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
      tables: Int = 4,
      bits: Int = 8,
      seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(dim = 64, count = tables * bits, seed = seed)
    val sigs = Similarity.spreadById(emb, idCol).select(
      col(idCol).cast("long").as("id"),
      col(vecCol).as("vec"),
      explode(bucketKeys(col(vecCol), planes, tables, bits)).as("key"))
    val q = sigs.filter(col("id") === queryId)
      .select(col("key"), col("vec").as("qv"))
    sigs.join(broadcast(q), Seq("key"))
      .filter(col("id") =!= queryId)
      .select(col("id"), ArrayOps.cosine(col("vec"), col("qv")).as("score"))
      .groupBy("id").agg(max("score").as("score"))
      .orderBy(desc("score"), asc("id"))
      .limit(k)
      .select("id")
  }

  /** IVF-style approximate top-k: `nCentroids` centroids are a seeded
    * deterministic sample of the corpus's own vectors (rank by
    * [[graft.learn.DetRandom]] over the id — reproducible in SQL, unlike
    * k-means iterations), every vector is assigned to its max-inner-product
    * centroid, and the query probes the `nProbe` nearest centroid lists,
    * ranking candidates by exact cosine. The inverted-file shape is the
    * point: at corpus scale the assignment is one broadcast-join pass and
    * a query touches ~nProbe/nCentroids of the data instead of all of it.
    */
  def ivfTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      seed: Long = 42L): DataFrame = {
    val s = emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val centroids = s
      .withColumn("r", graft.learn.DetRandom.uniform(col("id"), col("id"), seed))
      .orderBy(col("r"), col("id")).limit(nCentroids)
      .select(col("id").as("cid"), col("v").as("cv"))
    ivfSearch(s, centroids, queryId, k, nProbe)
  }

  /** IVF top-k over REAL k-means centroids (Spark ML `KMeans`, seeded) —
    * the quality tier of [[ivfTopK]] behind the same signature: properly
    * fitted centroids partition the corpus by actual density, so at equal
    * `nProbe` the probed lists capture more of the query's true
    * neighbourhood than sampled-vector centroids. The fit is one
    * distributed Lloyd's run (k-means∥ init); float reduction order makes
    * it rows-only territory — the sampled variant stays the hash-exact
    * oracle twin (q42), this one is the production path (q45). */
  /** Fitted spherical-k-means centroids, memoised per (session,
    * canonicalised input plan, params): the fit is the expensive half of
    * [[ivfTopKKMeans]] and is a pure function of its (session-immutable)
    * input — two queries probing the same index (q45 serving, q54 recall
    * measurement) must share one Lloyd's run, exactly as a real IVF index
    * is built once and probed many times. Session-scoped via
    * [[graft.functions.Memos]] (same contract as the propagation/shingle
    * memos). */
  def ivfTopKKMeans(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      seed: Long = 42L): DataFrame = {
    // spherical k-means: fit and assign in L2-normalised space, where
    // Euclidean clustering is equivalent to cosine clustering — the final
    // ranking is exact cosine, which normalisation leaves unchanged
    val s = emb.select(col(idCol).cast("long").as("id"),
      ArrayOps.l2normalize(col(vecCol).cast("array<double>")).as("v"))
    val centroids = graft.functions.Memos.getOrElseUpdate(
      emb.sparkSession,
      ("kmeans-centroids",
        emb.queryExecution.analyzed.canonicalized, idCol, vecCol,
        nCentroids, seed)) {
        import org.apache.spark.ml.clustering.KMeans
        import org.apache.spark.ml.functions.array_to_vector
        val spark = emb.sparkSession
        import spark.implicits._
        // barrier: each k-means iteration re-reads its input, and an
        // uncached plan would replay the scan + normalise + vector
        // conversion per iteration (Spark ML even warns about it)
        val feats = s.select(array_to_vector(col("v")).as("features"))
          .localCheckpoint(eager = true)
        val model = new KMeans()
          .setK(nCentroids).setSeed(seed).setMaxIter(20)
          .fit(feats)
        model.clusterCenters.toSeq.zipWithIndex
          .map { case (c, i) => (i.toLong, c.toArray.toSeq) }
          .toDF("cid", "cv")
      }
    ivfSearch(s, centroids, queryId, k, nProbe)
  }

  /** Shifted scaled-long image of a vector for the FIXED-POINT k-means:
    * `floor(x_norm · 10⁶) + 10⁶` per element over the L2-normalised
    * vector. Every step is a single correctly-rounded double op or exact
    * integer arithmetic, so the image is bit-identical in any IEEE engine
    * (the SQL oracle mirrors it op for op). The +10⁶ shift makes every
    * element non-negative, so the floor-division in the centroid update
    * cannot hit engine-specific negative-division conventions; distances
    * are shift-invariant, so the clustering is unchanged. */
  private def scaledIntVec(v: Column): Column =
    transform(ArrayOps.l2normalize(v.cast("array<double>")),
      x => floor(x * lit(1000000.0)) + lit(1000000L))

  /** The scaled integer image `(id, vi)` — shared by the IVF build and
    * query sides so both replay the EXACT serving arithmetic (the
    * frontier sweep of IVFPQ_FRONTIER_r9.md priced it) instead of
    * reimplementing the normalise/floor/shift chain. */
  private def scaledImage(
      emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).cast("long").as("id"),
      scaledIntVec(col(vecCol)).as("vi"))

  /** Distributed Lloyd's k-means in EXACT integer arithmetic — the
    * hash-verifiable fit. Assignment score `2·v·c − ‖c‖²` (argmin L2 with
    * ‖v‖² dropped) and floor-mean centroid updates are integer-exact and
    * order-independent ([[graft.functions.ArrayOps.vecSumLongAgg]] keeps
    * LONG element sums, exact at any group size), ties break on centroid
    * id, init is the [[graft.learn.DetRandom]]-ranked seeded sample — so
    * the ENTIRE fit is a deterministic pure function of its input,
    * reproducible in ANSI SQL (q45/q54's oracles unroll the iterations).
    * Per iteration: one broadcast-join assignment pass + one
    * map-side-combined vector-sum aggregation; only the `nCentroids`
    * centroid rows (model state, like a fitted ML model's coefficients)
    * ever reach the driver.
    *
    * Memoised per (session, input plan, params) — the fit is built once
    * and probed many times, exactly like the float twin. */
  def kmeansFixedCentroids(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      iters: Int,
      seed: Long): DataFrame =
    graft.functions.Memos.getOrElseUpdate(
      emb.sparkSession,
      ("kmeans-fixed-centroids",
        emb.queryExecution.analyzed.canonicalized, idCol, vecCol,
        nCentroids, iters, seed)) {
      val spark = emb.sparkSession
      import spark.implicits._
      // barrier: every iteration re-reads the scaled image
      val si = emb.select(col(idCol).cast("long").as("id"),
          scaledIntVec(col(vecCol)).as("vi"))
        .localCheckpoint(eager = true)
      lloydFixed(si, nCentroids, iters, seed).toDF("cid", "cv")
    }

  /** The integer Lloyd's loop over an already-scaled `(id, vi)` frame —
    * the core of [[kmeansFixedCentroids]], and the per-block semantic
    * reference for [[pqCodebooksFixed]]'s batched all-blocks iteration
    * (identical math over the sliced frame). Only centroid rows ever
    * reach the driver; the caller owns the input barrier. */
  private def lloydFixed(
      si: DataFrame,
      nCentroids: Int,
      iters: Int,
      seed: Long): Seq[(Long, Seq[Long])] = {
    import org.apache.spark.sql.expressions.Window
    val spark = si.sparkSession
    import spark.implicits._
    var cents: Seq[(Long, Seq[Long])] = si
      .withColumn("r", graft.learn.DetRandom.uniform(col("id"), col("id"), seed))
      .orderBy(col("r"), col("id")).limit(nCentroids)
      .select(col("id"), col("vi")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toSeq.sortBy(_._1)
    for (_ <- 1 to iters) {
      val cDf = cents.toDF("cid", "cv")
      val w = Window.partitionBy("id").orderBy(desc("score"), asc("cid"))
      val updated = si.crossJoin(broadcast(cDf))
        .withColumn("score",
          lit(2.0) * ArrayOps.dot(col("vi"), col("cv")) -
            ArrayOps.dot(col("cv"), col("cv")))
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .groupBy(col("cid"))
        .agg(ArrayOps.vecSumLongAgg(col("vi")).as("s"), count(lit(1)).as("n"))
        .select(col("cid"), expr("transform(s, x -> x div n)").as("cv"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      // an empty centroid keeps its previous position (same in the oracle)
      cents = cents.map { case (cid, cv) => cid -> updated.getOrElse(cid, cv) }
    }
    cents
  }

  /** IVF index-health audit — per-list population plus the FAISS
    * imbalance factor `K·Σn² / (Σn)²` as an exact ppm integer
    * (1 000 000 = perfectly balanced lists; the metric index-ops watch
    * because one hot inverted list serializes every query that probes
    * it, and the number FAISS prints after training). Shares the
    * memoised fixed-point k-means fit with q45/q54, so auditing an
    * index costs one assignment pass + a K-row aggregate; the global
    * factor re-enters as a 1-row broadcast. Only populated lists emit
    * rows (empty lists contribute 0 to both sums). */
  def ivfListStats(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int = 16,
      iters: Int = 3,
      seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = emb.select(col(idCol).cast("long").as("id"),
      scaledIntVec(col(vecCol)).as("vi"))
    val cents = kmeansFixedCentroids(emb, idCol, vecCol, nCentroids, iters, seed)
    val w = Window.partitionBy("id").orderBy(desc("score"), asc("cid"))
    val sizes = s.crossJoin(broadcast(cents))
      .withColumn("score",
        lit(2.0) * ArrayOps.dot(col("vi"), col("cv")) -
          ArrayOps.dot(col("cv"), col("cv")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .groupBy("cid").agg(count(lit(1)).as("n_vecs"))
    // The factor is computed in DECIMAL(38,0): n2 can reach (Σn)², so the
    // ppm product silently overflows 64-bit Long beyond ~10⁶ vectors while
    // the oracle's SUM promotes to a wide integer — the decimal image keeps
    // both engines exact to ~10¹⁵ vectors (38 digits), and `div` lands the
    // quotient back in BIGINT so the output schema is unchanged.
    val factor = sizes.agg(
        sum("n_vecs").cast("decimal(38,0)").as("nt"),
        sum(col("n_vecs").cast("decimal(38,0)") * col("n_vecs")).as("n2"))
      .select(expr(
        s"($nCentroids * n2 * 1000000) div (nt * nt)").as("imbalance_ppm"))
    sizes.crossJoin(broadcast(factor))
      .select(col("cid"), col("n_vecs"), col("imbalance_ppm"))
  }

  /** IVF top-k over the fixed-point k-means fit — the hash-exact quality
    * tier (q45): same inverted-file serving shape as [[ivfTopK]], but the
    * centroids come from a REAL Lloyd's run ([[kmeansFixedCentroids]])
    * whose integer arithmetic the DuckDB oracle replays exactly.
    * Assignment and probe selection score by exact integer distance over
    * the scaled image; the final ranking is exact cosine over the raw
    * doubles (per-row fixed-order reduction — deterministic, as q35/q42
    * already prove). The float Spark ML twin ([[ivfTopKKMeans]]) remains
    * the semantic reference, spec-compared on a clustered corpus. */
  def ivfTopKKMeansFixed(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      iters: Int = 3,
      seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = emb.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"),
      scaledIntVec(col(vecCol)).as("vi"))
    val cents = kmeansFixedCentroids(emb, idCol, vecCol, nCentroids, iters, seed)
    val w = Window.partitionBy("id").orderBy(desc("score"), asc("cid"))
    val assigned = s.crossJoin(broadcast(cents))
      .withColumn("score",
        lit(2.0) * ArrayOps.dot(col("vi"), col("cv")) -
          ArrayOps.dot(col("cv"), col("cv")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("id"), col("v"), col("cid"))
    val q = s.filter(col("id") === queryId)
    val probes = cents.crossJoin(broadcast(q.select(col("vi").as("qi"))))
      .withColumn("score",
        lit(2.0) * ArrayOps.dot(col("qi"), col("cv")) -
          ArrayOps.dot(col("cv"), col("cv")))
      .orderBy(desc("score"), asc("cid")).limit(nProbe)
      .select("cid")
    assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("id") =!= queryId)
      .crossJoin(broadcast(q.select(col("v").as("qv"))))
      .select(col("id"), ArrayOps.cosine(col("v"), col("qv")).as("score"))
      .orderBy(desc("score"), asc("id"))
      .limit(k)
      .select("id")
  }

  /** Product-quantization codebooks in EXACT integer arithmetic (Jégou,
    * Douze & Schmid, "Product Quantization for Nearest Neighbor Search",
    * TPAMI 2011): the 64-dim scaled image splits into `blocks` contiguous
    * sub-vectors, and each block gets its own [[lloydFixed]] fit (seeded
    * `seed + blk` so block inits decorrelate). Returns `(blk, cid, cv)`.
    *
    * The 100 TB point of PQ: a vector's ANN state compresses to `blocks`
    * small code ids (here 8 codes ≈ 8 bytes vs 256 bytes of floats), and
    * query scoring touches only a `blocks × nCodes` lookup table — the
    * memory-bounded serving tier above [[ivfTopKKMeansFixed]]. The block
    * fits are independent, so they run CONCURRENTLY (driver threads
    * overlapping their stages, the [[graft.graph.GraphBuilder]]
    * `denseProbeAll` pattern); per fit only centroid rows move to the
    * driver. Every step is the same oracle-replayable integer arithmetic
    * as the full-vector fit. Memoised per (session, plan, params). */
  def pqCodebooksFixed(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      blocks: Int = 8,
      dim: Int = 64,
      nCodes: Int = 16,
      iters: Int = 3,
      seed: Long = 42L): DataFrame =
    graft.functions.Memos.getOrElseUpdate(
      emb.sparkSession,
      ("pq-codebooks-fixed",
        emb.queryExecution.analyzed.canonicalized, idCol, vecCol,
        blocks, dim, nCodes, iters, seed)) {
      require(dim % blocks == 0, s"dim $dim must split evenly into $blocks blocks")
      val si = emb.select(col(idCol).cast("long").as("id"),
          scaledIntVec(col(vecCol)).as("vi"))
        .localCheckpoint(eager = true)
      pqCodebooksFromImage(si, blocks, dim / blocks, nCodes, iters, seed)
    }

  /** The batched per-block Lloyd's core of [[pqCodebooksFixed]], over an
    * ALREADY-SCALED non-negative integer image `(id, vi)` (caller owns
    * the barrier) — shared with the residual path, whose image is the
    * twice-shifted `vi − coarse_cv + 2·10⁶`. Same math, same oracle
    * unrolling, any input image. */
  private def pqCodebooksFromImage(
      si: DataFrame,
      blocks: Int,
      bw: Int,
      nCodes: Int,
      iters: Int,
      seed: Long): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val spark = si.sparkSession
      import spark.implicits._
      // one exploded (id, blk, vb) frame: each Lloyd's iteration is then
      // ONE job over ONE pass of the data for ALL blocks (join on blk +
      // per-(id, blk) argmax + per-(blk, cid) mean) instead of `blocks`
      // separate per-block passes — 1 + iters corpus passes total vs
      // blocks × iters (24 at the defaults) for per-block loops each
      // re-reading the full-width image. Measured trade at fixture scale
      // (BenchOne, refit per rep): batched 2.8–3.1 s vs per-block
      // concurrent futures 2.2–2.6 s — locally the futures' overlapping
      // mini-jobs win by ~0.5 s, but the 6× scan amplification they hide
      // is the number a 100 TB corpus pays, so the batched shape ships.
      // The math per block is identical to [[lloydFixed]] on the sliced
      // frame, so the per-block unrolled oracle is untouched.
      val sb = si.select(col("id"), explode(array((0 until blocks).map(b =>
          struct(lit(b.toLong).as("blk"),
            slice(col("vi"), b * bw + 1, bw).as("vb"))): _*)).as("p"))
        .select(col("id"), col("p.blk").as("blk"), col("p.vb").as("vb"))
        .localCheckpoint(eager = true)
      // per-block seeded init (the oracle's per-block literal-seed
      // ranking); independent limit-nCodes collects, run concurrently
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      var cents: Seq[(Long, Long, Seq[Long])] = (0 until blocks).map { b =>
        Future {
          si.withColumn("r",
              graft.learn.DetRandom.uniform(col("id"), col("id"), seed + b))
            .orderBy(col("r"), col("id")).limit(nCodes)
            .select(col("id"), slice(col("vi"), b * bw + 1, bw).as("vb"))
            .collect()
            .map(r => (b.toLong, r.getLong(0), r.getSeq[Long](1)))
            .toSeq.sortBy(_._2)
        }
      }.flatMap(f => Await.result(f, Duration.Inf))
      for (_ <- 1 to iters) {
        val cDf = cents.toDF("blk", "cid", "cv")
        val w = Window.partitionBy("id", "blk").orderBy(desc("score"), asc("cid"))
        val updated = sb.join(broadcast(cDf), Seq("blk"))
          .withColumn("score",
            lit(2.0) * ArrayOps.dot(col("vb"), col("cv")) -
              ArrayOps.dot(col("cv"), col("cv")))
          .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
          .groupBy(col("blk"), col("cid"))
          .agg(ArrayOps.vecSumLongAgg(col("vb")).as("s"), count(lit(1)).as("n"))
          .select(col("blk"), col("cid"), expr("transform(s, x -> x div n)").as("cv"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Long](2)).toMap
        // an empty centroid keeps its previous position (same in the oracle)
        cents = cents.map { case (blk, cid, cv) =>
          (blk, cid, updated.getOrElse((blk, cid), cv))
        }
      }
      cents.toDF("blk", "cid", "cv")
    }

  /** PQ/ADC approximate top-k (q100): every vector is coded once per
    * block (argmax of the integer score against the block's codebook,
    * centroid-id tiebreak), the query builds a `blocks × nCodes`
    * asymmetric-distance table against the codebooks, and a vector's
    * approximate score is the sum of its codes' table entries — the
    * classic ADC scan, integer-exact end to end, so the DuckDB oracle
    * replays codebooks, codes, table, and ranking bit-for-bit.
    * Assignment is one broadcast join against `blocks·nCodes` centroid
    * rows; the ADC table is `blocks·nCodes` scalars computed driver-side
    * from the query row. */
  def pqTopKFixed(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
      blocks: Int = 8,
      dim: Int = 64,
      nCodes: Int = 16,
      iters: Int = 3,
      seed: Long = 42L): DataFrame =
    pqAdcScores(emb, idCol, vecCol, queryId, blocks, dim, nCodes, iters, seed)
      .filter(col("id") =!= queryId)
      .orderBy(desc("score"), asc("id"))
      .limit(k)
      .select("id")

  /** Per-vector PQ codes against FROZEN codebooks `(blk, cid, cv)`:
    * returns `(id, codes)` with `codes[b]` = the block-b centroid id
    * (argmax of the integer score, cid tiebreak). Public because this is
    * the INDEXING half of a deployed PQ pipeline — code once at ingest
    * (see [[graft.streaming.PqIngest]] for the incremental twin), serve
    * via the ADC table ever after. One broadcast join, no shuffle beyond
    * the per-(id, blk) argmax. */
  def pqAssignCodes(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      books: DataFrame,
      blocks: Int = 8,
      dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bw = dim / blocks
    val si = emb.select(col(idCol).cast("long").as("id"),
      scaledIntVec(col(vecCol)).as("vi"))
    val w = Window.partitionBy("id", "blk").orderBy(desc("score"), asc("cid"))
    si.crossJoin(broadcast(books))
      .withColumn("vb",
        slice(col("vi"), col("blk").cast("int") * bw + lit(1), lit(bw)))
      .withColumn("score",
        lit(2.0) * ArrayOps.dot(col("vb"), col("cv")) -
          ArrayOps.dot(col("cv"), col("cv")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .groupBy("id")
      .agg(array_sort(collect_list(struct(col("blk"), col("cid")))).as("ps"))
      .select(col("id"), expr("transform(ps, p -> p.cid)").as("codes"))
  }

  /** PQ codebook DISTORTION audit — per-block reconstruction error of
    * the trained product quantizer over the scaled integer image:
    * `sse = Σ_id ‖vb − cv(code)‖²` and its per-vector mean, exact
    * integers (the quantity FAISS reports as PQ training error; rising
    * distortion on refresh is the retrain signal, and per-BLOCK
    * distortion localises which subspace the codebook serves worst).
    * Rides the memoised codebook fit; one assignment pass + K-row
    * arithmetic, same shape as [[ivfListStats]]. */
  def pqDistortion(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      blocks: Int = 8,
      dim: Int = 64,
      nCodes: Int = 16,
      iters: Int = 3,
      seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bw = dim / blocks
    val books = pqCodebooksFixed(emb, idCol, vecCol, blocks, dim, nCodes,
      iters, seed)
    val w = Window.partitionBy("id", "blk").orderBy(desc("score"), asc("cid"))
    emb.select(col(idCol).cast("long").as("id"),
        scaledIntVec(col(vecCol)).as("vi"))
      .crossJoin(broadcast(books))
      .withColumn("vb",
        slice(col("vi"), col("blk").cast("int") * bw + lit(1), lit(bw)))
      .withColumn("score",
        lit(2.0) * ArrayOps.dot(col("vb"), col("cv")) -
          ArrayOps.dot(col("cv"), col("cv")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .withColumn("se", expr(
        "aggregate(zip_with(vb, cv, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"))
      .groupBy("blk")
      // Per-row `se` is Long-safe (≤ bw·(2·10⁶)² ≈ 3·10¹³), but the
      // per-block SUM crosses 2⁶³ near 3·10⁵ vectors, where a Long sum
      // wraps silently while the oracle's wide-integer sum doesn't. The
      // decimal(38,0) sum stays exact; the BIGINT output cast then either
      // fits (identical in both engines) or fails loudly under ANSI —
      // matching the oracle's own HUGEINT→BIGINT cast error — instead of
      // diverging by wraparound.
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("se").cast("decimal(38,0)")).cast("long").as("sse"))
      .select(col("blk").cast("long").as("blk"), col("n_vecs"), col("sse"),
        expr("sse div n_vecs").as("mse"))
  }

  /** The full ADC scoring frame `(id, score)` — codes every vector
    * against the codebooks and sums its query-ADC table entries; the
    * shared core of [[pqTopKFixed]] (rank everything) and
    * [[ivfPqTopKFixed]] (rank only the probed lists). */
  private def pqAdcScores(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      blocks: Int,
      dim: Int,
      nCodes: Int,
      iters: Int,
      seed: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = emb.sparkSession
    import spark.implicits._
    val bw = dim / blocks
    val books = pqCodebooksFixed(emb, idCol, vecCol, blocks, dim, nCodes, iters, seed)
    // direct (id, blk, cid) codes — the same argmax as [[pqAssignCodes]]
    // but WITHOUT its per-id array collection: routing through the codes
    // array costs an extra aggregation exchange + posexplode round-trip,
    // measured 2.8–3.1 → 5.1–6.1 s on q100 refits, so the scoring path
    // keeps the row form and the array form stays the ingest contract
    val w = Window.partitionBy("id", "blk").orderBy(desc("score"), asc("cid"))
    val codes = emb.select(col(idCol).cast("long").as("id"),
        scaledIntVec(col(vecCol)).as("vi"))
      .crossJoin(broadcast(books))
      .withColumn("vb",
        slice(col("vi"), col("blk").cast("int") * bw + lit(1), lit(bw)))
      .withColumn("score",
        lit(2.0) * ArrayOps.dot(col("vb"), col("cv")) -
          ArrayOps.dot(col("cv"), col("cv")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("id"), col("blk"), col("cid"))
    // ADC table from the query row (blocks·nCodes scalar entries)
    val adc = adcTableRows(emb, idCol, vecCol, queryId, books, bw)
      .toDF("blk", "cid", "adc")
    codes.join(broadcast(adc), Seq("blk", "cid"))
      .groupBy("id").agg(sum("adc").as("score"))
  }

  /** The query's asymmetric-distance table — blocks·nCodes scalar rows
    * `(blk, cid, adc)` computed driver-side from the query row against
    * the codebooks; shared by the inline scoring path ([[pqAdcScores]])
    * and the deployed from-codes path ([[adcTopKFromCodes]]). */
  private def adcTableRows(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      books: DataFrame,
      bw: Int): Seq[(Long, Long, Long)] = {
    val qi = emb.select(col(idCol).cast("long").as("id"),
        scaledIntVec(col(vecCol)).as("vi"))
      .filter(col("id") === queryId)
      .select(col("vi")).collect().headOption
      .getOrElse(throw new IllegalArgumentException(
        s"adcTableRows: query id $queryId not present in '$idCol'"))
      .getSeq[Long](0)
    books.collect().map { r =>
      val (blk, cid, cv) = (r.getLong(0), r.getLong(1), r.getSeq[Long](2))
      val qb = qi.slice(blk.toInt * bw, blk.toInt * bw + bw)
      val dot = qb.zip(cv).map { case (a, b) => a * b }.sum
      val cc = cv.map(x => x * x).sum
      (blk, cid, 2L * dot - cc)
    }.toSeq
  }

  /** ADC top-k served from a PRE-CODED `(id, codes)` store (q103) — the
    * deployed read path of the PQ pipeline: vectors were coded ONCE at
    * ingest ([[pqAssignCodes]] in batch, [[graft.streaming.PqIngest]]
    * incrementally) and a query touches only the 8-byte codes, never a
    * raw vector. `emb` supplies ONLY the query row (the one raw-vector
    * lookup a deployed index also does); scoring is posexplode of the
    * codes array + one broadcast join against the blocks·nCodes ADC
    * table + the per-id sum — identical integer arithmetic to the
    * inline path, so the result hash-matches [[pqTopKFixed]] whenever
    * the store holds the same corpus. */
  def adcTopKFromCodes(
      codes: DataFrame,
      books: DataFrame,
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
      blocks: Int = 8,
      dim: Int = 64): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val bw = dim / blocks
    val adc = adcTableRows(emb, idCol, vecCol, queryId, books, bw)
      .toDF("blk", "cid", "adc")
    codes
      .select(col("id"), posexplode(col("codes")).as(Seq("pos", "cid")))
      .select(col("id"), col("pos").cast("long").as("blk"), col("cid"))
      .join(broadcast(adc), Seq("blk", "cid"))
      .groupBy("id").agg(sum("adc").as("score"))
      .filter(col("id") =!= queryId)
      .orderBy(desc("score"), asc("id"))
      .limit(k)
      .select("id")
  }

  /** IVF+PQ serving (q102) — the two tiers composed the way a
    * production ANN index deploys them (FAISS's IVFPQ shape, minus the
    * residual encoding, which the +10⁶-shifted integer image cannot
    * express without a second shift): the coarse quantizer
    * ([[kmeansFixedCentroids]]) prunes the corpus to `nProbe` inverted
    * lists, and the PQ ADC table scores ONLY the surviving candidates —
    * at 100 TB a query touches ~nProbe/nCentroids of the codes (8 bytes
    * each) and never a raw vector. Both tiers are the existing
    * hash-exact fits, so the oracle is their CTE families joined. */
  def ivfPqTopKFixed(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      iters: Int = 3,
      seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val si = emb.select(col(idCol).cast("long").as("id"),
      scaledIntVec(col(vecCol)).as("vi"))
    val cents = kmeansFixedCentroids(emb, idCol, vecCol, nCentroids, iters, seed)
    val w = Window.partitionBy("id").orderBy(desc("score"), asc("cid"))
    val assigned = si.crossJoin(broadcast(cents))
      .withColumn("score",
        lit(2.0) * ArrayOps.dot(col("vi"), col("cv")) -
          ArrayOps.dot(col("cv"), col("cv")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("id"), col("cid"))
    val qRow = si.filter(col("id") === queryId)
    val probes = cents.crossJoin(broadcast(qRow.select(col("vi").as("qi"))))
      .withColumn("score",
        lit(2.0) * ArrayOps.dot(col("qi"), col("cv")) -
          ArrayOps.dot(col("cv"), col("cv")))
      .orderBy(desc("score"), asc("cid")).limit(nProbe)
      .select("cid")
    // IVF pruning happens BEFORE the top-k: only probed-list members
    // carry their ADC score into the ranking
    assigned.join(broadcast(probes), Seq("cid"))
      .join(pqAdcScores(emb, idCol, vecCol, queryId,
        blocks = 8, dim = 64, nCodes = 16, iters = iters, seed = seed),
        Seq("id"))
      .filter(col("id") =!= queryId)
      .orderBy(desc("score"), asc("id"))
      .limit(k)
      .select("id")
  }

  /** RESIDUAL IVF+PQ serving — the full FAISS IVFPQ shape (Jégou et al.
    * 2011 §IV): PQ codebooks are fitted on the RESIDUALS `v − coarse_cv`
    * instead of the raw vectors, so the 8-byte code spends its precision
    * on the within-list offset rather than re-encoding the coarse
    * position. Implemented per the probe's proven integer math
    * (IVFPQ_FRONTIER_r9 §4, activated by the r10 clustered-corpus run:
    * +0.108 recall at the shipped (nCodes=16, nProbe=4) point, ≥+0.10 at
    * every nCodes tier at σ=0.12):
    *
    *  - the SECOND integer shift: residual elements live in
    *    [−2·10⁶, 2·10⁶], so `vi − cv + 2·10⁶` keeps the image
    *    non-negative for the floor-division convention — the same trick
    *    that makes the first scaled image oracle-replayable;
    *  - the per-list query residual: a query's ADC table differs per
    *    probed list (its residual against each list's centroid differs);
    *  - the CROSS-LIST norm rule: `2·a·b̂ − b̂·b̂` estimates
    *    `‖a‖² − ‖a−b̂‖²` and the query-residual norm `‖a_L‖²` varies per
    *    list, so it is subtracted from every candidate's score — ranking
    *    by `−‖a_L − b̂‖² ≈ −‖q − x‖²`, comparable across lists.
    *
    * All integer-exact, so the oracle replays coarse fit, residual
    * codebook fits, codes, per-list ADC tables, and the norm-adjusted
    * ranking bit-for-bit. Scale shape = [[ivfPqTopKFixed]] plus one
    * row-local residual-subtract pass; the extra model state a query
    * ships is nProbe × blocks × nCodes ADC rows + nProbe norms.
    * Codebooks are memoised per (session, plan, params) like the plain
    * fit. */
  def ivfPqResidualTopKFixed(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      blocks: Int = 8,
      dim: Int = 64,
      nCodes: Int = 16,
      iters: Int = 3,
      seed: Long = 42L): DataFrame = {
    require(dim % blocks == 0, s"dim $dim must split evenly into $blocks blocks")
    import org.apache.spark.sql.expressions.Window
    val spark = emb.sparkSession
    import spark.implicits._
    val bw = dim / blocks
    val cents = kmeansFixedCentroids(emb, idCol, vecCol, nCentroids, iters, seed)
    // coarse assignment (argmax 2·v·c − ‖c‖², cid tiebreak) + the
    // twice-shifted residual image, barriered for the iterative fit
    val w = Window.partitionBy("id").orderBy(desc("score"), asc("cid"))
    val ri = scaledImage(emb, idCol, vecCol)
      .crossJoin(broadcast(cents))
      .withColumn("score",
        lit(2.0) * ArrayOps.dot(col("vi"), col("cv")) -
          ArrayOps.dot(col("cv"), col("cv")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("id"), col("cid").as("lcid"),
        zip_with(col("vi"), col("cv"),
          (a, b) => a - b + lit(2000000L)).as("vi"))
      .localCheckpoint(eager = true)
    val books = graft.functions.Memos.getOrElseUpdate(
      spark,
      ("pq-residual-books",
        emb.queryExecution.analyzed.canonicalized, idCol, vecCol,
        nCentroids, nProbe, blocks, dim, nCodes, iters, seed)) {
      pqCodebooksFromImage(
        ri.select(col("id"), col("vi")), blocks, bw, nCodes, iters, seed)
        .localCheckpoint(eager = true)
    }
    // residual codes, keeping each vector's list id for the serving join
    val wb = Window.partitionBy("id", "blk").orderBy(desc("score"), asc("cid"))
    val codes = ri.crossJoin(broadcast(books))
      .withColumn("vb",
        slice(col("vi"), col("blk").cast("int") * bw + lit(1), lit(bw)))
      .withColumn("score",
        lit(2.0) * ArrayOps.dot(col("vb"), col("cv")) -
          ArrayOps.dot(col("cv"), col("cv")))
      .withColumn("rk", row_number().over(wb)).filter(col("rk") === 1)
      .select(col("id"), col("lcid"), col("blk"), col("cid"))
    // query model state, driver-side: probed lists, per-list residual ADC
    // tables, per-list residual norms — nProbe × blocks × nCodes scalars
    val qi = scaledImage(emb, idCol, vecCol)
      .filter(col("id") === queryId)
      .select(col("vi")).collect().headOption
      .getOrElse(throw new IllegalArgumentException(
        s"ivfPqResidualTopKFixed: query id $queryId not present in '$idCol'"))
      .getSeq[Long](0)
    val centsLocal = cents.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    def dotL(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val probed = centsLocal
      .map { case (cid, cv) => (2L * dotL(qi, cv) - dotL(cv, cv), cid, cv) }
      .sortBy { case (s, cid, _) => (-s, cid) }.take(nProbe)
    val booksLocal = books.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSeq
    val adcRows: Seq[(Long, Long, Long, Long)] = probed.flatMap {
      case (_, lcid, cv) =>
        val qr = qi.zip(cv).map { case (a, b) => a - b + 2000000L }
        booksLocal.map { case (blk, cid, bcv) =>
          val qb = qr.slice(blk.toInt * bw, blk.toInt * bw + bw)
          (lcid, blk, cid, 2L * dotL(qb, bcv) - dotL(bcv, bcv))
        }
    }
    val normRows: Seq[(Long, Long)] = probed.map { case (_, lcid, cv) =>
      val qr = qi.zip(cv).map { case (a, b) => a - b + 2000000L }
      lcid -> dotL(qr, qr)
    }
    // serve: the broadcast ADC join keeps only probed-list members (the
    // IVF prune), the per-id sum is the one aggregation exchange, and
    // the per-list norm subtraction makes scores cross-list comparable
    codes
      .join(broadcast(adcRows.toDF("lcid", "blk", "cid", "adc")),
        Seq("lcid", "blk", "cid"))
      .groupBy(col("id"), col("lcid")).agg(sum("adc").as("s"))
      .join(broadcast(normRows.toDF("lcid", "nrm")), Seq("lcid"))
      .select(col("id"), (col("s") - col("nrm")).as("score"))
      .filter(col("id") =!= queryId)
      .orderBy(desc("score"), asc("id"))
      .limit(k)
      .select("id")
  }

  /** PQ recall against the exact brute-force top-k (q101) — the same
    * measured-recall discipline as [[ivfTopK]]'s q51/q54: one row
    * `(k, n_overlap)`, both integers, hash-verifiable. */
  def pqRecallFixed(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int): DataFrame =
    recallVsBrute(pqTopKFixed(emb, idCol, vecCol, queryId, k),
      emb, idCol, vecCol, queryId, k)

  /** Residual IVF+PQ recall against the exact brute-force top-k — the
    * measured-recall discipline (q51/q54/q101) applied to the q107 tier,
    * so the residual index's quality is a certified number, not an
    * assumption. */
  def ivfPqResidualRecallFixed(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int): DataFrame =
    recallVsBrute(ivfPqResidualTopKFixed(emb, idCol, vecCol, queryId, k),
      emb, idCol, vecCol, queryId, k)

  /** `(k, n_overlap)` of an approximate top-k frame `(id)` against the
    * exact double-cosine brute-force ranking — the shared recall core. */
  private def recallVsBrute(
      approx: DataFrame,
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int): DataFrame = {
    val s = emb.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val q = s.filter(col("id") === queryId)
    val bf = s.filter(col("id") =!= queryId)
      .crossJoin(broadcast(q.select(col("v").as("qv"))))
      .select(col("id"), ArrayOps.cosine(col("v"), col("qv")).as("score"))
      .orderBy(desc("score"), asc("id"))
      .limit(k)
      .select("id")
    approx.join(bf, Seq("id"))
      .agg(lit(k.toLong).as("k"), count(lit(1)).as("n_overlap"))
  }

  /** Shared IVF tail: assign every vector to its max-inner-product
    * centroid (broadcast, argmax via window with centroid-id tiebreak),
    * probe the `nProbe` centroids nearest the query, rank the probed lists
    * by exact cosine. One broadcast-join pass for assignment; a query
    * touches ~nProbe/nCentroids of the corpus. */
  private def ivfSearch(
      s: DataFrame,
      centroids: DataFrame,
      queryId: Long,
      k: Int,
      nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val asgW = Window.partitionBy("id")
      .orderBy(desc("dp"), asc("cid"))
    val assigned = s.crossJoin(broadcast(centroids))
      .withColumn("dp", ArrayOps.dot(col("v"), col("cv")))
      .withColumn("rk", row_number().over(asgW))
      .filter(col("rk") === 1)
      .select(col("id"), col("v"), col("cid"))
    val qv = s.filter(col("id") === queryId).select(col("v").as("qv"))
    val probes = centroids.crossJoin(broadcast(qv))
      .withColumn("dp", ArrayOps.dot(col("cv"), col("qv")))
      .orderBy(desc("dp"), asc("cid")).limit(nProbe)
      .select(col("cid"))
    assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("id") =!= queryId)
      .crossJoin(broadcast(qv))
      .select(col("id"), ArrayOps.cosine(col("v"), col("qv")).as("score"))
      .orderBy(desc("score"), asc("id"))
      .limit(k)
      .select("id")
  }

  /** Semantic (embedding-space) deduplication — the SemDeDup shape
    * (Abbas et al., "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication", 2023): cluster the corpus
    * embeddings with k-means, then inside each cluster drop every item
    * whose similarity to a LOWER-ID item of the same cluster exceeds the
    * threshold. Min-id-wins is the deterministic, order-free variant of
    * the paper's keep-one-per-duplicate-set rule (the paper keeps the
    * item closest to the centroid — a float argmin no second engine can
    * replay bit-for-bit; the kept SET differs only inside duplicate
    * groups, which is exactly the freedom the paper grants).
    *
    * Every decision is exact integer arithmetic: the fit and assignment
    * are [[kmeansFixedCentroids]]'s scaled-long Lloyd's, and the pair
    * similarity is the dot of the shift-removed scaled image
    * (`Σ (viₐ−10⁶)(vi_b−10⁶)` ≈ cos × 10¹², every partial sum an
    * integer < 2⁵³ so the double accumulator is exact) — so fit,
    * assignment, and drops all replay in the DuckDB oracle (q68).
    * Output: one row per vector — cluster id, count of lower-id
    * near-dups, and the keep flag a removal pass filters on.
    *
    * Scale shape: the quadratic step is confined WITHIN clusters — one
    * shuffle on `cid`, pairs generated per-cluster — and cluster size is
    * controlled by `nCentroids` (at 100 TB you grow k so |cluster| stays
    * bounded, the paper's own design; the corpus-wide all-pairs join the
    * naive formulation pays never materialises). Assignment is one
    * broadcast join; only centroids ever reach the driver. */
  def semanticDedup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      simThresholdFixed: Long,
      nCentroids: Int = 16,
      iters: Int = 3,
      seed: Long = 42L,
      checkpointAssigned: Boolean = true): DataFrame = {
    val assignedRaw = assignFixed(emb, idCol, vecCol,
      kmeansFixedCentroids(emb, idCol, vecCol, nCentroids, iters, seed))
    // three consumers (the verdict frame + both pair-join sides) would
    // each recompute the corpus-wide scan + assignment — materialise it
    // once; `false` keeps the pipeline lazy for plan audits (PlanDump
    // shows the executed shape, the same arrangement as q44's lazy twin)
    val assigned =
      if (checkpointAssigned) assignedRaw.localCheckpoint(eager = true)
      else assignedRaw
    val prior = assigned.as("a").join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.id") < col("b.id"))
      .filter(ArrayOps.dot(col("a.w"), col("b.w")) > lit(simThresholdFixed))
      .groupBy(col("b.id").as("vec_id"))
      .agg(count(lit(1)).as("n_neardup_prior"))
    assigned.select(col("id").as("vec_id"), col("cid"))
      .join(prior, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("n_neardup_prior"), lit(0L)).as("n_neardup_prior"))
      .withColumn("kept", (col("n_neardup_prior") === 0L).cast("long"))
  }

  /** k-NN graph construction over the fixed-point IVF — every vector's
    * top-k neighbors in one pass (the building block NN-descent-style
    * refinement, graph-based ANN, and SemDeDup duplicate-set analysis
    * start from; q45 serves ONE query, this serves all |V| of them).
    * One broadcast-centroid window ranks each vector's centroids ONCE
    * and yields both its assignment (rank 1) and its `nProbe` probe
    * lists; candidates are then probes ⨝ inverted lists on the CLUSTER
    * key — |V|·nProbe·(|V|/k̄) pairs, never all-pairs — ranked by exact
    * cosine over the raw doubles (the same per-row fixed-order reduction
    * q35/q42/q45 hash-verify) with id tiebreak, top-k per vector kept by
    * a WindowGroupLimit-planned rank. Fit, probes, and ranking all
    * replay in the DuckDB oracle (q71). */
  def knnGraphFixed(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      iters: Int = 3,
      seed: Long = 42L): DataFrame =
    probedCosineTopK(emb, idCol, vecCol, k, nCentroids, nProbe, iters,
        seed, minProbeRank = 1)
      .select(col("qid").as("vec_id"), col("nid").as("nbr_id"), col("rk"))

  /** HARD-NEGATIVE mining for contrastive-embedding training: each
    * vector's top-k most-similar vectors drawn ONLY from its probed
    * neighbouring clusters, never its own — similar enough to be
    * informative, semantically distinct by the same cluster structure
    * SemDeDup (q68) treats as "same meaning". Positives come from the
    * own cluster / near-dup machinery; these are the negatives a
    * contrastive loss actually learns from (random negatives are too
    * easy — the in-batch-negatives literature's motivating failure).
    *
    * Mechanically [[knnGraphFixed]] minus the query's own inverted
    * list: the shared centroid ranking's rank-1 entry IS the own
    * cluster, so dropping probe ranks < 2 excludes own-cluster
    * candidates by construction (no anti-join needed). Same candidate
    * bound (≤ nProbe·|V|/k̄ per query), same WindowGroupLimit top-k,
    * same exact-cosine determinism; fit, probes and ranking replay in
    * the DuckDB oracle (q112). */
  def hardNegatives(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      iters: Int = 3,
      seed: Long = 42L): DataFrame =
    probedCosineTopK(emb, idCol, vecCol, k, nCentroids, nProbe, iters,
        seed, minProbeRank = 2)
      .select(col("qid").as("vec_id"), col("nid").as("neg_id"), col("rk"))

  /** Shared probed-candidate core of [[knnGraphFixed]] and
    * [[hardNegatives]]: one broadcast-centroid window ranks each
    * vector's centroids ONCE — rank 1 is its inverted-list assignment,
    * ranks `minProbeRank..nProbe` are its probe targets — then probes ⨝
    * inverted lists on the cluster key (never all-pairs) are ranked by
    * exact cosine with id tiebreak, top-k per query planned as
    * WindowGroupLimit. `minProbeRank = 1` keeps the own list (the kNN
    * graph); `2` drops it (hard negatives). */
  private def probedCosineTopK(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCentroids: Int,
      nProbe: Int,
      iters: Int,
      seed: Long,
      minProbeRank: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = emb.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"),
      scaledIntVec(col(vecCol)).as("vi"))
    val cents = kmeansFixedCentroids(emb, idCol, vecCol, nCentroids, iters, seed)
    val w = Window.partitionBy("id").orderBy(desc("score"), asc("cid"))
    // one centroid ranking serves both roles: rk == 1 is the vector's
    // inverted-list assignment, rk <= nProbe are its probe targets
    val ranked = s.crossJoin(broadcast(cents))
      .withColumn("score",
        lit(2.0) * ArrayOps.dot(col("vi"), col("cv")) -
          ArrayOps.dot(col("cv"), col("cv")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= math.max(1, nProbe))
      .select(col("id"), col("v"), col("cid"), col("rk"))
      .localCheckpoint(eager = true) // read twice (lists + probes)
    val lists = ranked.filter(col("rk") === 1)
      .select(col("cid"), col("id").as("nid"), col("v").as("nv"))
    val probes = ranked.filter(col("rk") >= minProbeRank)
      .select(col("id").as("qid"), col("v").as("qv"), col("cid"))
    val rankW = Window.partitionBy("qid").orderBy(desc("s"), asc("nid"))
    probes.join(lists, Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        ArrayOps.cosine(col("qv"), col("nv")).as("s"))
      .withColumn("rk", row_number().over(rankW))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"), col("rk").cast("long").as("rk"))
  }

  /** One NN-descent-style refinement round (Dong et al., "Efficient
    * k-nearest neighbor graph construction for generic similarity
    * measures", 2011) over [[knnGraphFixed]]'s probed graph: each vector
    * re-ranks (its neighbors ∪ its neighbors' neighbors) by exact cosine
    * and keeps the top k — the standard cheap recall lift, because a
    * true neighbor missed by the probes is very often a neighbor OF a
    * found neighbor. Deterministic and oracle-replayed end-to-end (q72);
    * SimilaritySpec asserts recall against brute force never decreases.
    *
    * Scale shape: the expansion is a self-join of the k·|V|-row edge
    * list on the neighbor key (2 exchanges over edges, never over
    * vectors), the re-rank joins the candidate list back to the vector
    * table on each side, and the per-vector top-k again plans as
    * WindowGroupLimit. Candidates per vector are ≤ k + k² regardless of
    * corpus size. */
  def knnRefineFixed(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      iters: Int = 3,
      seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = knnGraphFixed(emb, idCol, vecCol, k, nCentroids, nProbe, iters, seed)
      .select(col("vec_id").as("qid"), col("nbr_id").as("nid"))
      .localCheckpoint(eager = true) // read twice by the 2-hop expansion
    val two = e.as("e1").join(e.as("e2"), col("e1.nid") === col("e2.qid"))
      .select(col("e1.qid").as("qid"), col("e2.nid").as("nid"))
      .filter(col("qid") =!= col("nid"))
    val cand = e.unionByName(two).distinct()
    val v = emb.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val rankW = Window.partitionBy("qid").orderBy(desc("s"), asc("nid"))
    cand.join(v.select(col("id").as("qid"), col("v").as("qv")), Seq("qid"))
      .join(v.select(col("id").as("nid"), col("v").as("nv")), Seq("nid"))
      .select(col("qid"), col("nid"),
        ArrayOps.cosine(col("qv"), col("nv")).as("s"))
      .withColumn("rk", row_number().over(rankW))
      .filter(col("rk") <= k)
      .select(col("qid").as("vec_id"), col("nid").as("nbr_id"),
        col("rk").cast("long").as("rk"))
  }

  /** Fixed-point centroid assignment + shift-removed scaled image:
    * `(id, cid, w)` — the shared front half of [[semanticDedup]] and its
    * incremental streaming twin ([[graft.streaming.EmbIngest]]). `cents`
    * is a `(cid, cv)` frame — [[kmeansFixedCentroids]]'s output, or the
    * same rows reloaded as frozen model state. One broadcast join; the
    * argmax window is per-id (no cross-row state). */
  def assignFixed(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      cents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = emb.select(col(idCol).cast("long").as("id"),
      scaledIntVec(col(vecCol)).as("vi"))
    val w = Window.partitionBy("id").orderBy(desc("score"), asc("cid"))
    s.crossJoin(broadcast(cents))
      .withColumn("score",
        lit(2.0) * ArrayOps.dot(col("vi"), col("cv")) -
          ArrayOps.dot(col("cv"), col("cv")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("id"), col("cid"),
        transform(col("vi"), x => x - lit(1000000L)).as("w"))
  }

  /** The oracle twin of [[nearDupCosine]]/[[annTopK]]'s bucket step, as a
    * SQL scalar expression list: one key expression per table, over the
    * same seeded planes. `vecExpr` must be a DOUBLE list expression. */
  def bucketKeySql(
      vecExpr: String, tables: Int, bits: Int, seed: Long): Seq[String] = {
    val planes = hyperplanes(dim = 64, count = tables * bits, seed = seed)
    (0 until tables).map { t =>
      val bitsSql = (0 until bits).map { j =>
        val lits = planes(t * bits + j).map(v => if (v > 0) "1.0" else "-1.0")
          .mkString("[", ",", "]")
        s"CASE WHEN list_dot_product($vecExpr, $lits) > 0 THEN ${1L << j} ELSE 0 END"
      }.mkString(" + ")
      s"(CAST(${t.toLong * 4294967296L} AS BIGINT) + $bitsSql)"
    }
  }
}
