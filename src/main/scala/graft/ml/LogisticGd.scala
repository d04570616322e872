package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Logistic-regression-style linear classifier trained by budgeted
  * integer-quantized gradient descent — the oracle-replayable twin of the
  * reference's MLlib ensemble trainer (taar/taar_ensemble.py:459-493
  * trains a weighted logistic regression over recommender scores; the
  * seeded float MLlib path lives in jobs/taar/Ensemble.scala). Floats
  * cannot replay bitwise across engines, so this trainer is exact-integer
  * end to end (the d25 k-means playbook):
  *
  *   - weights are integer micro-units, init 0;
  *   - the link is the piecewise-linear "hard sigmoid"
  *     σ̂(z) = clamp(1/2 + z/4, 0, 1), in micro-units
  *     p = clamp(500000 + z div 4, 0, 1000000) — pure integer ops (the
  *     clamped-linear link low-bit quantized trainers use);
  *   - per round, ONE map-side-combined aggregation computes every
  *     gradient component g_j = Σ (y·10⁶ − p)·x_j as an exact long sum —
  *     rows never shuffle, only |features|+1 sufficient-statistic cells;
  *   - the update w_j += g_j div (etaDen·n) (η = 1/etaDen) is exact
  *     integral division applied on the driver to a model of |features|
  *     longs (model-bounded collect, the k-means convention);
  *   - rounds are budgeted, not convergence-tested (X79/X90).
  *
  * Integer division truncates toward zero identically in Spark (`div`),
  * DuckDB (`//`) and the JVM (`/`), so every round replays bit-identically
  * with the rounds unrolled as oracle CTEs.
  *
  * Feature contract: integral columns of small magnitude (callers bucket /
  * quantize upstream — the gate buckets price to a 0..5 index). Bound:
  * |err·x| ≤ 10⁶·max|x|, so gradient sums stay exact longs to ~10⁹ rows
  * per 10³-magnitude feature; past that, pre-aggregate per feature-value
  * cell first (the moments shape).
  */
object LogisticGd {

  /** Micro-unit scale for labels, probabilities, and weights. */
  val Scale: Long = 1000000L

  /** Train on `labelCol` (0/1 integral) over integral `featureCols`;
    * returns the weight vector in micro-units, aligned with featureCols.
    * Include an explicit constant column for a bias term.
    */
  def fit(df: DataFrame, labelCol: String, featureCols: Seq[String],
      rounds: Int, etaDen: Long = 10L): Array[Long] = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(featureCols.nonEmpty, "at least one feature column")
    require(etaDen >= 1L, s"etaDen must be >= 1, got $etaDen")
    // NULL in any input column would null that row's every gradient term
    // while still counting it in n (silently inflating the learning-rate
    // divisor) — drop incomplete rows up front, the Cuped/Trendline rule.
    val nonNull = (col(labelCol) +: featureCols.map(col))
      .map(_.isNotNull).reduce(_ && _)
    graft.core.Lineage.scoped { scope =>
      val feat = scope.persisted(df.filter(nonNull).select(
        (col(labelCol).cast("long") * Scale).as("ym") +:
          featureCols.zipWithIndex.map { case (c, i) =>
            col(c).cast("long").as(s"x$i")
          }: _*))
      val w = Array.fill(featureCols.size)(0L)
      for (_ <- 1 to rounds) {
        val z = featureCols.indices
          .map(i => col(s"x$i") * lit(w(i))).reduce(_ + _)
        val withP = feat.withColumn("z", z)
          .withColumn("p",
            expr("least(greatest(500000L + z div 4, 0L), 1000000L)"))
        val aggs = count(lit(1)).as("n") +: featureCols.indices.map(i =>
          sum((col("ym") - col("p")) * col(s"x$i")).as(s"g$i"))
        val row = withP.agg(aggs.head, aggs.tail: _*).head()
        val n = row.getLong(0)
        require(n > 0, "empty training frame")
        featureCols.indices.foreach { i =>
          w(i) += row.getLong(i + 1) / (etaDen * n)
        }
      }
      w
    }
  }

  /** Score a frame with a trained model: adds `p_micro` — the hard-sigmoid
    * probability in micro-units, the exact quantity fit() descends on.
    */
  def predict(df: DataFrame, featureCols: Seq[String],
      weights: Array[Long]): DataFrame = {
    require(featureCols.size == weights.length,
      s"${featureCols.size} features vs ${weights.length} weights")
    val z = featureCols.zip(weights)
      .map { case (c, w) => col(c).cast("long") * lit(w) }
      .reduce(_ + _)
    // Null-propagate, mirroring fit()'s null-row drop: a null feature
    // nulls __z, and greatest/least SKIP nulls (greatest(null, 0L) = 0L),
    // so without the guard a null row would silently score p_micro = 0 —
    // a confident negative — instead of "unscorable".
    df.withColumn("__z", z)
      .withColumn("p_micro",
        when(col("__z").isNotNull,
          expr("least(greatest(500000L + __z div 4, 0L), 1000000L)")))
      .drop("__z")
  }
}
