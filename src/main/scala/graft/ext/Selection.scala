package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data selection for training-corpus construction: importance weights in
  * the DSIR shape (Xie et al., "Data Selection for Language Models via
  * Importance Resampling", 2023) — score every document by how much its
  * hashed-unigram profile looks like a TARGET slice of the corpus versus
  * the corpus as a whole, then resample/threshold on the score upstream
  * of training (q64's budgeted admission is the natural consumer).
  *
  * The paper's estimator is a log-ratio of hashed n-gram probabilities;
  * this is the log-free exact-integer variant: per hash bin b,
  * `w(b) = ((target(b)+1) × 10⁶) div (raw(b)+1)` (add-one smoothing, the
  * ratio in scaled integer arithmetic), and a document scores
  * `Σ_b tf(b)·w(b)` with a per-token normalisation. Monotone in the
  * paper's ratio bin-wise, deterministic, and — like every graft scoring
  * rule — bit-replayable by a second engine ([[graft.SparkEntry]] q70's
  * DuckDB oracle), where a float log-sum could never hash-match.
  *
  * Token → bin is the same 31-base polynomial char hash the rolling
  * fingerprint tier uses (q39), mod `bins` — expressible in both engines
  * exactly. At 100 TB: the corpus is tokenised+hashed ONCE into the
  * per-doc bin counts (one map-side-combinable exchange; ≤ `bins` rows
  * per doc), from which the O(bins) weight table derives in a tiny
  * second aggregate and broadcasts into the scoring join — nothing else
  * shuffles beyond the per-doc aggregate. The per-token HOF hash
  * interprets its lambda — at extreme scale swap in a JIT kernel like
  * [[Dedup]]'s `prepUdf` (same hash, same plan). */
object Selection {

  /** 31-base polynomial hash of a token mod `bins` — nonnegative, so
    * `%` and `pmod` agree across engines. */
  private def tokenBin(tok: Column, bins: Int): Column =
    pmod(
      aggregate(
        transform(sequence(lit(1), length(tok)),
          i => ascii(substring(tok, i, lit(1))).cast("long")),
        lit(0L),
        (acc, c) => (acc * 31L + c) % 1000000007L),
      lit(bins.toLong))

  /** DSIR-shaped importance scores. `targetPred` marks the target slice
    * (e.g. `col("lang") === "en"`); every non-empty document gets
    * `(idCol, n_tok, score, score_per_tok)`, all exact integers.
    *
    * The corpus is tokenised and hashed exactly ONCE: the per-doc bin
    * counts `(doc, tgt, bin, tf)` — at most `bins` rows per document,
    * far smaller than the token stream — are materialised behind an
    * eager localCheckpoint and feed BOTH the O(bins) weight aggregate
    * and the scoring join (lazy, both would re-run the explode+hash
    * pass; `checkpointTf=false` keeps the pipeline lazy for plan
    * audits). */
  def dsirWeights(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      targetPred: Column,
      bins: Int = 64,
      checkpointTf: Boolean = true): DataFrame = {
    require(bins >= 2, s"bins must be >= 2: $bins")
    val binned = docs
      .select(col(idCol), targetPred.as("__tgt"),
        explode(Dedup.tokens(col(textCol))).as("__tok"))
      .select(col(idCol), col("__tgt"), tokenBin(col("__tok"), bins).as("__bin"))
    val tfRaw = binned.groupBy(col(idCol), col("__tgt"), col("__bin"))
      .agg(count(lit(1)).as("__tf"))
    val tf = if (checkpointTf) tfRaw.localCheckpoint(eager = true) else tfRaw
    val w = tf.groupBy(col("__bin"))
      .agg(sum(col("__tf")).as("__raw"),
        sum(when(col("__tgt"), col("__tf")).otherwise(lit(0L))).as("__tgtc"))
      .select(col("__bin"),
        expr("(__tgtc + 1L) * 1000000L div (__raw + 1L)").as("__w"))
    // every bin in tf is in w (w derives from tf), so the inner join
    // keeps every row and sum(__tf) recovers the doc's token count —
    // empty-token docs vanish at the explode, matching the n_tok > 0
    // contract without a second corpus scan
    tf.join(broadcast(w), Seq("__bin"))
      .groupBy(col(idCol))
      .agg(sum(col("__tf")).as("n_tok"),
        sum(col("__tf") * col("__w")).as("score"))
      .select(col(idCol), col("n_tok"), col("score"),
        expr("score div n_tok").as("score_per_tok"))
  }

  /** Bigram language-model quality score — the CCNet/KenLM-shaped filter
    * tier (Wenzek et al. 2020 score documents with a 5-gram KenLM and cut
    * on perplexity; Laurençon et al. 2022 (ROOTS) do the same): a doc's
    * fluency under a bigram model OF THE CORPUS ITSELF, in exact scaled
    * integers instead of float log-space so a second engine hash-matches
    * (q75's DuckDB oracle replays it bit-for-bit — a log-prob sum never
    * could). Per adjacent token pair, the Laplace-smoothed MLE
    * `p_fp(w1,w2) = (c(w1,w2)+1)·scale div (ctx(w1)+V)` — `c` the corpus
    * bigram count, `ctx` the count of w1 AS CONTEXT (bigram-start), `V`
    * the corpus vocabulary — and per doc the floored mean over its pairs:
    * monotone in the geometric-mean probability a float LM would rank by
    * for same-length docs, exact everywhere. Returns
    * `(idCol, n_bigrams, lm_fp)` for every doc with ≥ 2 tokens; boilerplate
    * and keyword-stuffing score low (their bigrams are rare as corpus
    * context), natural prose scores high.
    *
    * `V` is the vocabulary of BIGRAM-PARTICIPATING tokens (distinct
    * w1 ∪ w2) — tokens appearing only in single-token documents don't
    * count, which keeps the whole computation one corpus pass; V only
    * shifts every denominator equally, so ranking is unaffected.
    *
    * Scale shape (the q70/dsirWeights pattern): the corpus tokenises
    * ONCE into the per-doc bigram-COUNT frame `(doc, w1, w2, tf)` — at
    * most distinct-bigrams-per-doc rows, far smaller than the pair
    * stream — materialised behind an eager localCheckpoint
    * (`checkpointTf=false` keeps it lazy for plan audits). The model is
    * two map-side-combined aggregates of that frame (joined model-side
    * on w1), the vocabulary scalar rides a 1-row broadcast cross join,
    * and scoring is ONE equi-join of the same frame against the stats
    * on (w1,w2). Nothing quadratic, no driver data, one text scan. */
  def lmScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      scale: Long = 1000000L,
      checkpointTf: Boolean = true): DataFrame = {
    val toks = docs.select(col(idCol), Dedup.tokens(col(textCol)).as("__ts"))
    val bi = toks.filter(size(col("__ts")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(0, size(__ts) - 2), i -> struct(__ts[i] AS w1, __ts[i + 1] AS w2))"))
        .as("__b"))
      .select(col(idCol), col("__b.w1").as("__w1"), col("__b.w2").as("__w2"))
    val tfRaw = bi.groupBy(col(idCol), col("__w1"), col("__w2"))
      .agg(count(lit(1)).as("__tf"))
    val tf = if (checkpointTf) tfRaw.localCheckpoint(eager = true) else tfRaw
    val c2 = tf.groupBy("__w1", "__w2").agg(sum(col("__tf")).as("__c2"))
    val ctx = tf.groupBy("__w1").agg(sum(col("__tf")).as("__c1"))
    val vocab = tf.select(col("__w1").as("__t"))
      .union(tf.select(col("__w2").as("__t")))
      .agg(countDistinct(col("__t")).as("__v"))
    val stats = c2.join(ctx, Seq("__w1"))
      .crossJoin(broadcast(vocab))
      .select(col("__w1"), col("__w2"),
        expr(s"(__c2 + 1L) * ${scale}L div (__c1 + __v)").as("__p"))
    tf.join(stats, Seq("__w1", "__w2"))
      .groupBy(col(idCol))
      .agg(sum(col("__tf")).as("n_bigrams"),
        sum(col("__tf") * col("__p")).as("__s"))
      .select(col(idCol), col("n_bigrams"),
        expr("__s div n_bigrams").as("lm_fp"))
  }

  /** TEMPERATURE-balanced mixing quotas — the multilingual sampling
    * rule of mBERT/XLM-R/mT5 (Devlin et al. 2019 app.; Conneau et al.
    * 2020 §3; Xue et al. 2021 §3.2): sample group g with probability
    * ∝ p_g^α, α < 1, so low-resource groups are up-weighted relative
    * to their raw share. α = 1/2 here, which makes the group weight the
    * exact INTEGER square root of its token mass (`isqrt` via a
    * corrected floor(sqrt) — the two CASE arms fix the ±1 a
    * double-rounded sqrt can land on, so both engines agree on every
    * input), and the budget splits by largest-remainder apportionment
    * (Hamilton's method): `base = (N·w) div W` plus one extra for the
    * `N − Σ base` largest remainders (ties by group ascending) —
    * deterministic, integer-exact, quotas sum to EXACTLY `N`.
    *
    * Output: `(grp, n_tokens, w_isqrt, quota)`. Scale shape: one
    * map-side-combined per-group aggregate (≤ #groups rows ever move),
    * then O(#groups) window arithmetic — nothing else touches the
    * corpus. */
  def temperatureQuotas(
      docs: DataFrame,
      groupCol: String,
      textCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0: $budget")
    import org.apache.spark.sql.expressions.Window
    val toks = regexp_extract_all(col(textCol), lit("[a-z0-9]+"), lit(0))
    val grp = docs
      .select(col(groupCol).as("grp"), size(toks).cast("long").as("__n"))
      .groupBy("grp").agg(sum("__n").as("n_tokens"))
      .withColumn("__l0",
        expr("CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT)"))
      .withColumn("w_isqrt", expr(
        """CASE WHEN (__l0 + 1) * (__l0 + 1) <= n_tokens THEN __l0 + 1
          |     WHEN __l0 * __l0 > n_tokens THEN __l0 - 1
          |     ELSE __l0 END""".stripMargin))
      .drop("__l0")
    val all = Window.partitionBy(lit(1))
    // Degenerate-corpus guard: if EVERY group has zero tokens the window
    // sum __W is 0 and the apportionment below is a division by zero —
    // which must fail LOUDLY with the cause, not surface as a null/err
    // quota column. (Groups with zero tokens among positive ones are
    // fine: they get base 0, rem 0, quota 0 and stay in the output.)
    grp
      .withColumn("__W", sum("w_isqrt").over(all))
      .withColumn("__base", expr(
        s"""CASE WHEN __W > 0 THEN ($budget * w_isqrt) div __W
           |ELSE CAST(raise_error('temperatureQuotas: total isqrt weight is 0 — every group has zero tokens') AS BIGINT) END""".stripMargin))
      .withColumn("__rem", expr(
        s"CASE WHEN __W > 0 THEN ($budget * w_isqrt) % __W ELSE CAST(NULL AS BIGINT) END"))
      .withColumn("__deficit", lit(budget) - sum("__base").over(all))
      .withColumn("__rk", row_number().over(
        all.orderBy(desc("__rem"), asc("grp"))))
      .select(col("grp"), col("n_tokens"), col("w_isqrt"),
        (col("__base") + when(col("__rk") <= col("__deficit"), 1L)
          .otherwise(0L)).as("quota"))
  }

  /** TOKEN-BUDGET greedy admission — the selection step every budgeted
    * pretraining run ends with: rank documents by a quality score and
    * admit from the top until the token budget is spent (the rule
    * DSIR/DsDm-style pipelines apply after scoring; quality-ranked
    * greedy fill is also phi-1/FineWeb-Edu's selection shape). The
    * score here is the exact-integer type–token ratio
    * (`distinct tokens × 10⁶ div tokens` — a self-contained
    * repetition-penalising signal; callers with a trained head can
    * rank on q134's score the same way), ranked `(ttr_fp DESC, doc_id)`
    * — a deterministic total order.
    *
    * Output per document: `(doc_id, n_tok, ttr_fp, cum_tok, admitted)`
    * where `cum_tok` is the running token total in rank order and
    * `admitted = 1` iff `cum_tok ≤ budgetTokens` (greedy prefix).
    *
    * Scale shape — the point of this implementation: the textbook
    * global-window cumulative sum (`SUM OVER (ORDER BY score)`) plans
    * as a SINGLE-partition sort at any scale, the one shape that
    * cannot survive 100 TB. The running total therefore rides
    * [[Sampling.runningSum]]'s kernel (q65's concat-and-chunk layout
    * uses the same one): range-partition on the ranking key, exact
    * per-partition offsets via an O(partitions)-row window broadcast
    * back, local windows per partition — bit-equal to the global
    * window at every partitioning. One tokenise pass, one range
    * exchange, nothing single-partition. */
  def budgetSelect(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      budgetTokens: Long): DataFrame = {
    val s = docs
      .select(col(idCol).cast("long").as("doc_id"),
        regexp_extract_all(lower(col(textCol)), lit("[a-z0-9]+"), lit(0))
          .as("__ts"))
      .select(col("doc_id"),
        size(col("__ts")).cast("long").as("n_tok"),
        expr("""CASE WHEN size(__ts) = 0 THEN CAST(0 AS BIGINT)
          |ELSE CAST(size(array_distinct(__ts)) AS BIGINT) * 1000000
          |  div CAST(size(__ts) AS BIGINT) END""".stripMargin).as("ttr_fp"))
    Sampling.runningSum(s, Nil, Seq(col("ttr_fp").desc, col("doc_id").asc),
        "n_tok", "cum_tok")
      .select(col("doc_id"), col("n_tok"), col("ttr_fp"), col("cum_tok"),
        (col("cum_tok") <= budgetTokens).cast("long").as("admitted"))
  }
}
