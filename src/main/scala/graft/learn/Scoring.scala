package graft.learn

import graft.functions.ArrayOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Edge scoring (G13 — the reference's `EdgeDecoder`: embedding lookups,
  * rowwise dot, sigmoid; `model.py:51-81`). Pure built-ins: two equi-joins
  * (J7) + `zip_with`/`aggregate` (F9) + `exp` (F10).
  */
object Scoring {

  /** The frozen §7.2 logit of one edge: `dot(h_src, h_dst)`. Rank by the
    * LOGIT, not by its sigmoid: sigmoid is monotone but saturates to
    * exactly 1.0 in float for large dots (frozen structural embeddings are
    * unbounded), which would erase the ordering and leave only the
    * tiebreak. */
  def dotLogit(sv: Column, dv: Column): Column = ArrayOps.dot(sv, dv)

  /** The TRAINED head's logit of one edge: `w · [h_src ∥ h_dst ∥
    * h_src∘h_dst] + b`, the exact feature layout [[TrainLR]] trains on, so
    * [[TrainedModel]] weights plug in unchanged. The dot accumulates
    * left-to-right (codegen [[graft.functions.ArrayOps.dot]]), making the
    * logit a deterministic per-row function of the embeddings — pure IEEE
    * +/×, no libm — so a frozen-weight query is hash-exact against an ANSI
    * oracle, and every caller of this one expression gets the same bits.
    * A feature width other than `weights.length` fails the query:
    * `ArrayOps.dot` truncates to the shorter array, so a head trained at a
    * different embedding width would otherwise produce plausible-looking
    * but wrong logits. */
  def modelLogit(
      sv: Column,
      dv: Column,
      weights: Array[Double],
      intercept: Double): Column = {
    val f = concat(sv, dv, ArrayOps.hadamard(sv, dv))
    when(size(f) === lit(weights.length),
      ArrayOps.dot(f, typedlit(weights.toSeq)) + lit(intercept))
      .otherwise(raise_error(format_string(
        "trained head: feature width %d != trained weight width " +
          s"${weights.length} (embedding dim mismatch)",
        size(f))).cast("double"))
  }

  /** Score candidate edges `(src, dst)` against embeddings with
    * [[dotLogit]].
    * @return (src, dst, logit, score): score = sigmoid(logit) */
  def scoreEdges(
      candidates: DataFrame,
      srcEmb: DataFrame,
      dstEmb: DataFrame): DataFrame =
    candidates
      .join(srcEmb.select(col("id").as("src"), col("vec").as("sv")), Seq("src"))
      .join(dstEmb.select(col("id").as("dst"), col("vec").as("dv")), Seq("dst"))
      .withColumn("logit", dotLogit(col("sv"), col("dv")))
      .withColumn("score", ArrayOps.sigmoid(col("logit")))
      .select(col("src"), col("dst"), col("logit"), col("score"))

  /** Score candidate edges with a TRAINED head ([[modelLogit]]) — the
    * serving twin of the reference's checkpoint-loaded inference
    * (`inference.py:30-41`, `:76`).
    * @return (src, dst, logit, score) */
  def scoreEdgesModel(
      candidates: DataFrame,
      srcEmb: DataFrame,
      dstEmb: DataFrame,
      weights: Array[Double],
      intercept: Double): DataFrame =
    candidates
      .join(srcEmb.select(col("id").as("src"), col("vec").as("sv")), Seq("src"))
      .join(dstEmb.select(col("id").as("dst"), col("vec").as("dv")), Seq("dst"))
      .withColumn("logit", modelLogit(col("sv"), col("dv"), weights, intercept))
      .withColumn("score", ArrayOps.sigmoid(col("logit")))
      .select(col("src"), col("dst"), col("logit"), col("score"))

  /** Hash-exact evaluation frame over `(logit, label)` rows (A5/A6,
    * `model.py:100-102,118,126-140`): one row of integer confusion counts
    * plus an order-independent clamped BCE.
    *
    * Oracle-exactness design:
    *  - threshold `score >= 0.5` ⟺ `logit >= 0` (sigmoid is monotone with
    *    σ(0) = 0.5 exactly), so the confusion counts never touch `exp` —
    *    they are pure integer sums over an IEEE sign test;
    *  - BCE needs libm (`exp`/`ln`), whose last-ulp may differ between
    *    engines, so each per-row term is cast to DECIMAL(20,6) BEFORE the
    *    sum: decimal addition is exact and order-independent, and a 1-ulp
    *    double difference (~4e-15 at these magnitudes) flips a 1e-6-grid
    *    rounding only with probability ~4e-9 per row. The final exact
    *    decimal is cast to DOUBLE per the repo float-parity policy.
    * Distributed shape: single partial-aggregable `agg` — map-side combine,
    * one exchange of one row per partition, at any scale. */
  def confusionBce(scored: DataFrame): DataFrame = {
    val sigma = lit(1.0) / (lit(1.0) + exp(-col("logit")))
    val bce = -(col("label") * log(greatest(sigma, lit(1e-12))) +
      (lit(1) - col("label")) * log(greatest(lit(1.0) - sigma, lit(1e-12))))
    scored.agg(
      sum(when(col("logit") >= 0 && col("label") === 1, 1L).otherwise(0L)).as("tp"),
      sum(when(col("logit") >= 0 && col("label") === 0, 1L).otherwise(0L)).as("fp"),
      sum(when(col("logit") < 0 && col("label") === 1, 1L).otherwise(0L)).as("fn"),
      sum(when(col("logit") < 0 && col("label") === 0, 1L).otherwise(0L)).as("tn"),
      count(lit(1)).as("n"),
      sum(bce.cast(org.apache.spark.sql.types.DecimalType(20, 6)))
        .cast("double").as("bce_sum"))
  }

  /** Binary-classification metrics over scored edges (A5, `model.py:100-102`,
    * `:126-140`): confusion-matrix counts in one aggregation pass, metrics
    * derived driver-side. `label` ∈ {0,1}, threshold 0.5. The hash-exact
    * query witness for this surface is [[confusionBce]] (q53). */
  def metrics(scored: DataFrame): Map[String, Double] = {
    val row = scored.agg(
      sum(when(col("score") >= 0.5 && col("label") === 1, 1).otherwise(0)).as("tp"),
      sum(when(col("score") >= 0.5 && col("label") === 0, 1).otherwise(0)).as("fp"),
      sum(when(col("score") < 0.5 && col("label") === 1, 1).otherwise(0)).as("fn"),
      sum(when(col("score") < 0.5 && col("label") === 0, 1).otherwise(0)).as("tn"),
      // BCE with clamping (A6, `model.py:118`)
      avg(-(col("label") * log(greatest(col("score"), lit(1e-12))) +
        (lit(1) - col("label")) * log(greatest(lit(1) - col("score"), lit(1e-12)))))
        .as("bce")
    ).head()
    val (tp, fp, fn, tn) = (row.getLong(0).toDouble, row.getLong(1).toDouble,
      row.getLong(2).toDouble, row.getLong(3).toDouble)
    val precision = if (tp + fp == 0) 0.0 else tp / (tp + fp)
    val recall = if (tp + fn == 0) 0.0 else tp / (tp + fn)
    Map(
      "accuracy" -> (tp + tn) / (tp + tn + fp + fn),
      "precision" -> precision,
      "recall" -> recall,
      "f1" -> (if (precision + recall == 0) 0.0
               else 2 * precision * recall / (precision + recall)),
      "bce" -> row.getDouble(4))
  }
}
