package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CUSUM changepoint scan per key — Page's cumulative-sum statistic
  * (Biometrika 1954), the sequential drift detector that catches a
  * sustained small SHIFT where the X26 z-score only flags single
  * outliers: S⁺ accumulates positive deviations from the series mean
  * and resets at zero, so a level change makes it ramp; its maximum and
  * argmax are the evidence and the estimated change location. The
  * monitoring rung between per-point anomaly scoring (X26/X65) and
  * distribution drift (X67/X68): same-series, location-aware.
  *
  * Exactness discipline: observations quantize to micro-units; the
  * deviation is computed against the series mean WITHOUT dividing —
  * everything scales by n (d_i = n·v_i − Σv − n·slack, exact longs), so
  * the fold is pure integer arithmetic, ±1-free across engines. The
  * reported statistics divide once at the end (fixed IEEE shape,
  * s_max/(n·10⁶)). Tie rule: the FIRST index attaining the max (strict
  * > in the fold).
  *
  * Scale: the Ewma/Holt analytic shape — one grouped ordered fold
  * (collect → array_sort → aggregate), one buffer per key; the mean
  * pass rides the SAME collected array (no second shuffle). For
  * unbounded series, chunk with a carried (s, max, argmax) triple as
  * Ewma.latestChunked carries its level.
  */
object Changepoint {

  /** One row per key: (keyCol, n_points, mean, s_pos_max, pos_at,
    * s_neg_max, neg_at) where s_pos_max/s_neg_max are the normalized
    * CUSUM maxima (units of the metric) and pos_at/neg_at the ordCol
    * value at which each maximum is first attained (NULL when the
    * maximum is 0 — no evidence of a shift). `slack` is Page's
    * allowance k in metric units: deviations smaller than it never
    * accumulate.
    */
  def cusum(df: DataFrame, keyCol: String, ordCol: String,
      valueCol: String, slack: Double = 0.0): DataFrame = {
    require(slack >= 0.0, s"slack must be >= 0, got $slack")
    val vMicro = floor(col(valueCol).cast("double") * lit(1000000.0) +
      lit(0.5)).cast("long")
    val slackMicro = math.floor(slack * 1000000.0 + 0.5).toLong
    val sorted = array_sort(
      collect_list(struct(col(ordCol).as("o"), vMicro.as("v"))))
    val n = size(col("__s")).cast("long")
    val sv = aggregate(col("__s"), lit(0L), (a, x) => a + x.getField("v"))
    // fold state: (sp, spmax, spo, sn, snmax, sno); deviations scaled
    // by n so the mean never materializes as a non-integer
    def step(acc: Column, x: Column): Column = {
      val dPos = col("__n") * x.getField("v") - col("__sv") -
        col("__n") * lit(slackMicro)
      val dNeg = col("__sv") - col("__n") * x.getField("v") -
        col("__n") * lit(slackMicro)
      val sp = greatest(lit(0L), acc.getField("sp") + dPos)
      val sn = greatest(lit(0L), acc.getField("sn") + dNeg)
      struct(
        sp.as("sp"),
        greatest(acc.getField("spmax"), sp).as("spmax"),
        when(sp > acc.getField("spmax"), x.getField("o"))
          .otherwise(acc.getField("spo")).as("spo"),
        sn.as("sn"),
        greatest(acc.getField("snmax"), sn).as("snmax"),
        when(sn > acc.getField("snmax"), x.getField("o"))
          .otherwise(acc.getField("sno")).as("sno"))
    }
    val zero = struct(lit(0L).as("sp"), lit(0L).as("spmax"),
      lit(null).cast("long").as("spo"), lit(0L).as("sn"),
      lit(0L).as("snmax"), lit(null).cast("long").as("sno"))
    val norm = (col("__n") * lit(1000000L)).cast("double")
    df.filter(col(valueCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(sorted.as("__s"))
      .withColumn("__n", n)
      .withColumn("__sv", sv)
      .withColumn("__r", aggregate(col("__s"), zero, step))
      .select(col(keyCol), col("__n").as("n_points"),
        (col("__sv").cast("double") / norm).as("mean"),
        (col("__r.spmax").cast("double") / norm).as("s_pos_max"),
        when(col("__r.spmax") > 0L, col("__r.spo")).as("pos_at"),
        (col("__r.snmax").cast("double") / norm).as("s_neg_max"),
        when(col("__r.snmax") > 0L, col("__r.sno")).as("neg_at"))
  }

  /** Fixed-target CUSUM — Page's original monitoring form: deviations
    * measured against a GIVEN reference mean μ₀ (from a baseline
    * period), not the series' own mean. This is the variant an
    * incremental pipeline can actually run: [[cusum]] needs the whole
    * series before any deviation is defined; against a fixed target
    * the fold is causal, so it CHUNKS with a carried state
    * ([[cusumFixedChunked]]) exactly as Ewma.latestChunked carries its
    * level — the daily-ingest shape.
    *
    * Same exact-integer discipline (micro-quantized values and target,
    * pure long fold, FIRST-argmax ties); output columns as [[cusum]]
    * minus the series mean (the target is the caller's).
    */
  def cusumFixed(df: DataFrame, keyCol: String, ordCol: String,
      valueCol: String, targetMean: Double,
      slack: Double = 0.0): DataFrame = {
    require(slack >= 0.0, s"slack must be >= 0, got $slack")
    val tm = math.floor(targetMean * 1000000.0 + 0.5).toLong
    val slackMicro = math.floor(slack * 1000000.0 + 0.5).toLong
    val vMicro = floor(col(valueCol).cast("double") * lit(1000000.0) +
      lit(0.5)).cast("long")
    val sorted = array_sort(
      collect_list(struct(col(ordCol).as("o"), vMicro.as("v"))))
    df.filter(col(valueCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(sorted.as("__s"))
      .withColumn("__r",
        aggregate(col("__s"), FixedZero,
          fixedStep(tm, slackMicro)))
      .select(col(keyCol), size(col("__s")).cast("long").as("n_points"),
        (col("__r.spmax").cast("double") / lit(1.0e6)).as("s_pos_max"),
        when(col("__r.spmax") > 0L, col("__r.spo")).as("pos_at"),
        (col("__r.snmax").cast("double") / lit(1.0e6)).as("s_neg_max"),
        when(col("__r.snmax") > 0L, col("__r.sno")).as("neg_at"))
  }

  private def FixedZero: Column =
    struct(lit(0L).as("sp"), lit(0L).as("spmax"),
      lit(null).cast("long").as("spo"), lit(0L).as("sn"),
      lit(0L).as("snmax"), lit(null).cast("long").as("sno"))

  private def fixedStep(tm: Long, slackMicro: Long)
      : (Column, Column) => Column = (acc, x) => {
    val sp = greatest(lit(0L),
      acc.getField("sp") + (x.getField("v") - lit(tm) - lit(slackMicro)))
    val sn = greatest(lit(0L),
      acc.getField("sn") + (lit(tm) - x.getField("v") - lit(slackMicro)))
    struct(
      sp.as("sp"),
      greatest(acc.getField("spmax"), sp).as("spmax"),
      when(sp > acc.getField("spmax"), x.getField("o"))
        .otherwise(acc.getField("spo")).as("spo"),
      sn.as("sn"),
      greatest(acc.getField("snmax"), sn).as("snmax"),
      when(sn > acc.getField("snmax"), x.getField("o"))
        .otherwise(acc.getField("sno")).as("sno"))
  }

  /** Chunked fixed-target CUSUM: per-key ordered chunks folded with the
    * carried (sp, spmax, spo, sn, snmax, sno) state — bit-identical to
    * [[cusumFixed]] by construction (the fold is a left fold; chunking
    * only re-associates the iteration, never the arithmetic). Bounds
    * the per-key aggregation buffer to `chunkSize` for unbounded
    * series; the daily-ingest entry point.
    */
  def cusumFixedChunked(df: DataFrame, keyCol: String, ordCol: String,
      valueCol: String, targetMean: Double, slack: Double = 0.0,
      chunkSize: Int = 65536): DataFrame = {
    require(chunkSize >= 2, s"chunkSize must be at least 2: $chunkSize")
    val tm = math.floor(targetMean * 1000000.0 + 0.5).toLong
    val slackMicro = math.floor(slack * 1000000.0 + 0.5).toLong
    val w = Window.partitionBy("__k").orderBy("__o")
    val vMicro = floor(col(valueCol).cast("double") * lit(1000000.0) +
      lit(0.5)).cast("long")
    graft.core.Lineage.materialized { scope =>
      val chunked = scope.persisted(df.filter(col(valueCol).isNotNull)
        .select(col(keyCol).as("__k"), col(ordCol).as("__o"),
          vMicro.as("__v"))
        .withColumn("__chunk",
          ((row_number().over(w) - 1) / chunkSize).cast("int")))
      val maxChunk = chunked.agg(max("__chunk")).head().get(0)
      if (maxChunk == null)
        chunked.select(col("__k").as(keyCol),
          lit(0L).as("n_points"), lit(0.0).as("s_pos_max"),
          lit(null).cast("long").as("pos_at"),
          lit(0.0).as("s_neg_max"),
          lit(null).cast("long").as("neg_at")).limit(0)
      else {
        val sorted = array_sort(
          collect_list(struct(col("__o").as("o"), col("__v").as("v"))))
        var state: DataFrame = null // (__k, n_points, __r)
        var carried: DataFrame = null // the cut state this round reads
        (0 to maxChunk.asInstanceOf[Int]).foreach { c =>
          val grouped = chunked.filter(col("__chunk") === c)
            .groupBy(col("__k")).agg(sorted.as("__s"))
          state =
            if (c == 0)
              grouped.select(col("__k"),
                size(col("__s")).cast("long").as("n_points"),
                aggregate(col("__s"), FixedZero,
                  fixedStep(tm, slackMicro)).as("__r"))
            else {
              val prev = carried
              carried = scope.cut(state, eager = true)
              if (prev != null) scope.release(prev)
              carried.join(grouped, Seq("__k"), "left")
                .select(col("__k"),
                  (col("n_points") +
                    coalesce(size(col("__s")), lit(0)).cast("long"))
                    .as("n_points"),
                  when(col("__s").isNull, col("__r"))
                    .otherwise(aggregate(col("__s"), col("__r"),
                      fixedStep(tm, slackMicro))).as("__r"))
            }
        }
        // the last round is not cut: `materialized` computes it once
        state.select(col("__k").as(keyCol), col("n_points"),
          (col("__r.spmax").cast("double") / lit(1.0e6)).as("s_pos_max"),
          when(col("__r.spmax") > 0L, col("__r.spo")).as("pos_at"),
          (col("__r.snmax").cast("double") / lit(1.0e6)).as("s_neg_max"),
          when(col("__r.snmax") > 0L, col("__r.sno")).as("neg_at"))
      }
    }
  }
}
