package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnShim}
import org.apache.spark.sql.functions._

import graft.expressions.TokenSpreadHashes

/** TRAINED quality classifier — the CCNet/fastText rung of the curation
  * stack (the step after the rule gates q77/q85/q98): a linear model over
  * hashed token features, fit on seed labels, scoring the whole corpus
  * with a per-row keep/drop gate and a reason.
  *
  * The trainer is the BATCH PERCEPTRON, chosen over logistic regression
  * deliberately: its update is pure INTEGER arithmetic —
  *
  *   w_0     = 0
  *   w_{t+1} = w_t + Σ_{i : y_i·(w_t·x_i) <= 0}  y_i · x_i
  *
  * with x = token-bucket counts (ints) and y ∈ {+1,-1} — so a fixed
  * number of epochs is bit-exactly replayable in DuckDB (the q105/q131
  * determinism discipline, here with NO rounding rule at all: every
  * intermediate is a BIGINT). A sigmoid/log-likelihood trainer would put
  * transcendental evaluations on both engines and hash-compare their last
  * ulps forever. Feature hashing uses the SAME engine-portable spread
  * hash as the bigram LM ([[TokenSpreadHashes]]) bucketed mod `dim`, plus
  * one constant bias feature.
  *
  * 100 TB shape: the SEED SET is small by definition (labels are the
  * expensive artifact), so training materializes only the labeled
  * slice's (y, bucket occurrences) rows — cached, one aggregate job per
  * epoch, weights (dim+1 longs) held driver-side (a bounded collect of
  * the model, like the PQ codebooks). Corpus scoring is ONE map-only
  * pass: the weight vector rides into the plan as an array literal and
  * each row folds its own token hashes against it — no shuffle, no join,
  * nothing corpus-sized ever exchanges.
  */
object QualityClassifier {

  /** Hashed-token bucket features of one text column: map-only
    * (compiled [[TokenSpreadHashes]] scan), bucket = pmod(hash, dim). */
  private def bucketsOf(textCol: Column, dim: Int): Column =
    transform(GraftColumnShim.column(TokenSpreadHashes(
      GraftColumnShim.expression(coalesce(textCol, lit(""))))),
      h => pmod(h, lit(dim.toLong)).cast("int"))

  /** Train `epochs` batch-perceptron rounds on `labeled` (idCol, textCol,
    * labelCol BOOLEAN — true = keep). Returns dim+1 weights, bias LAST.
    * The labeled frame should be seed-sized; its bucket OCCURRENCES are
    * cached as one array per doc (the row IS the doc), so each epoch is a
    * map-only margin fold plus one dim+1-row aggregate — no per-epoch
    * shuffle of the seed slice.
    *
    * Equivalence to the grouped (id, y, bucket, count) update rule:
    * the margin Σ_b c_b·w_b IS Σ over occurrences w_b, and the gradient
    * Σ_{misclassified docs} y·c_b IS sum(y) over those docs' occurrences
    * grouped by bucket — every intermediate is a BIGINT, integer addition
    * is order-free, so the weights are bit-identical (pinned in
    * QualityClassifierSpec). The grouped form shuffles the seed slice
    * TWICE per epoch (groupBy doc for the margin, groupBy bucket for
    * the gradient); this shape shuffles only the dim+1 partial-aggregated
    * gradient rows. Trade: the cache holds one int per token occurrence
    * instead of ≤dim+1 counted pairs per doc — the same order as the seed
    * text itself, which is small by definition (labels are the expensive
    * artifact). */
  def trainPerceptron(labeled: DataFrame, idCol: String, textCol: String,
                      labelCol: String, dim: Int = 64,
                      epochs: Int = 3): Array[Long] = {
    require(dim > 0 && epochs >= 1, s"need dim > 0, epochs >= 1; got $dim, $epochs")
    val feat = featuresOf(labeled, textCol, labelCol, dim).cache()
    try {
      val w = Array.fill(dim + 1)(0L)
      for (_ <- 0 until epochs) {
        val grad = gradientOf(feat, w).collect()
        grad.foreach(r => w(r.getInt(0)) += r.getLong(1))
      }
      w
    } finally { feat.unpersist(); () }
  }

  /** The cached per-epoch input: (y, [bucket occurrences..., bias]) —
    * one row per doc, a MAP-ONLY build. */
  private def featuresOf(labeled: DataFrame, textCol: String,
                         labelCol: String, dim: Int): DataFrame = {
    val y = when(col(labelCol), 1L).otherwise(-1L)
    labeled.select(y.as("__y"),
      concat(bucketsOf(col(textCol), dim), array(lit(dim))).as("__bs"))
  }

  /** One epoch's gradient frame under weights `w`: (bucket, Σ y·c) over
    * the misclassified docs, dim+1 rows. Each doc's margin is a per-row
    * fold over its occurrence array (the same shape score() uses) — no
    * shuffle until the final dim+1-row aggregate. */
  private def gradientOf(feat: DataFrame, w: Array[Long]): DataFrame = {
    val wlit = array(w.map(lit(_)): _*)
    feat
      .withColumn("__m", aggregate(col("__bs"), lit(0L),
        (acc, b) => acc + element_at(wlit, b + 1)))
      .filter(col("__y") * col("__m") <= 0)
      .select(col("__y"), explode(col("__bs")).as("__b"))
      .groupBy("__b").agg(sum(col("__y")).as("__g"))
  }

  /** Score `docs` with trained weights: one map-only pass, the weight
    * vector as an array literal folded per row. Output columns ride
    * beside the input's idCol: `clf_score` (BIGINT, the integer margin),
    * `kept` (score > 0) and `reason` ("kept" / "clf_negative"). */
  def score(docs: DataFrame, idCol: String, textCol: String,
            weights: Array[Long]): DataFrame = {
    require(weights.length >= 2, "weights must carry >= 1 bucket + the bias")
    val dim = weights.length - 1
    val wlit = array(weights.map(lit(_)): _*)
    val s = aggregate(bucketsOf(col(textCol), dim), lit(weights(dim)),
      (acc, b) => acc + element_at(wlit, b + 1))
    docs.select(col(idCol), s.as("clf_score"))
      .withColumn("kept", col("clf_score") > 0)
      .withColumn("reason", when(col("kept"), "kept").otherwise("clf_negative"))
  }
}
