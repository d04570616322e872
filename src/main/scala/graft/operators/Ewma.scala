package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exponentially-weighted moving average per key — the smoothing step
  * after resample+ffill in a feature pipeline. s_i = α·v_i + (1-α)·s_{i-1}
  * with s_0 = v_0 over the key's ordered series.
  *
  * Expressed as an ordered higher-order fold (collect → array_sort →
  * aggregate), NOT a UDF and NOT an unordered float aggregate: the fold
  * order is pinned by the sort, every op is exact-per-op IEEE, so the
  * result is bit-identical on any engine/partitioning. The recursion
  * makes EWMA inexpressible as a plain window function; the fold is the
  * declarative alternative.
  *
  * Scale note: the per-key series materializes in one aggregation buffer
  * (like any collect_list analytic) — right for bounded series (per-key
  * bucket counts after resampling). For unbounded series, checkpoint the
  * level periodically and fold per chunk: s carries across chunks by the
  * same recurrence.
  */
object Ewma {

  /** One row per key: the series length and the final smoothed level.
    * `ordCol` must be unique per key (it pins the fold order). Null
    * observations are SKIPPED before the fold — a single null would
    * otherwise poison the whole key's result (null seed or null step
    * propagates through every remaining iteration); `n_points` counts the
    * observations actually folded.
    */
  def latest(df: DataFrame, keyCol: String, ordCol: String,
      valueCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val sorted = array_sort(
      collect_list(struct(col(ordCol).as("o"), col(valueCol).as("v"))))
    df.filter(col(valueCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(sorted.as("__s"))
      .select(col(keyCol),
        size(col("__s")).cast("long").as("n_points"),
        aggregate(
          slice(col("__s"), lit(2), greatest(size(col("__s")) - 1, lit(0))),
          element_at(col("__s"), 1).getField("v"),
          (acc, x) => lit(alpha) * x.getField("v") + lit(1.0 - alpha) * acc)
          .as("ewma"))
  }

  /** `latest` for UNBOUNDED series: folds fixed-size chunks and carries
    * the level across chunks by the same recurrence, so no aggregation
    * buffer ever holds more than `chunkSize` observations per key — the
    * chunked form the `latest` scaladoc prescribes. BIT-IDENTICAL to
    * `latest` (EwmaSpec property-pins it): chunk c > 0 folds every
    * element with the carried level as seed, so the sequence of IEEE ops
    * is exactly the stepwise one — no affine re-association.
    *
    * Shape: one row_number window (single exchange + sort) assigns chunk
    * indices, then ceil(maxLen/chunkSize) driver rounds of
    * (groupBy chunk-fold + join carried levels). The rounds are inherent:
    * the recurrence is sequential in its own rounding, so chunks of one
    * key can never fold in parallel without changing the result. The
    * levels frame (one row per key) is cut per round and the previous
    * round's released (`Lineage`).
    */
  def latestChunked(df: DataFrame, keyCol: String, ordCol: String,
      valueCol: String, alpha: Double, chunkSize: Int = 65536): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(chunkSize >= 2, s"chunkSize must be at least 2: $chunkSize")
    val w = Window.partitionBy("__k").orderBy("__o")
    graft.core.Lineage.materialized { scope =>
      val chunked = scope.persisted(df.filter(col(valueCol).isNotNull)
        .select(col(keyCol).as("__k"), col(ordCol).as("__o"),
          col(valueCol).as("__v"))
        .withColumn("__chunk",
          ((row_number().over(w) - 1) / chunkSize).cast("int")))
      val maxChunk = chunked.agg(max("__chunk")).head().get(0)
      if (maxChunk == null)
        // empty input: empty frame with the latest() output schema
        chunked.select(col("__k").as(keyCol),
          lit(0L).as("n_points"), lit(0.0).as("ewma")).limit(0)
      else {
        val sorted = array_sort(
          collect_list(struct(col("__o").as("o"), col("__v").as("v"))))
        val step = (acc: org.apache.spark.sql.Column,
            x: org.apache.spark.sql.Column) =>
          lit(alpha) * x.getField("v") + lit(1.0 - alpha) * acc
        var levels: DataFrame = null // (__k, n_points, ewma)
        var carried: DataFrame = null // the cut levels this round reads
        (0 to maxChunk.asInstanceOf[Int]).foreach { c =>
          val grouped = chunked.filter(col("__chunk") === c)
            .groupBy(col("__k")).agg(sorted.as("__s"))
          levels =
            if (c == 0)
              grouped.select(col("__k"),
                size(col("__s")).cast("long").as("n_points"),
                aggregate(
                  slice(col("__s"), lit(2),
                    greatest(size(col("__s")) - 1, lit(0))),
                  element_at(col("__s"), 1).getField("v"), step).as("ewma"))
            else {
              val prev = carried
              carried = scope.cut(levels, eager = true)
              if (prev != null) scope.release(prev)
              // keys exhausted before chunk c keep their level (left join)
              carried.join(grouped, Seq("__k"), "left")
                .select(col("__k"),
                  (col("n_points") +
                    coalesce(size(col("__s")), lit(0)).cast("long"))
                    .as("n_points"),
                  when(col("__s").isNull, col("ewma"))
                    .otherwise(aggregate(col("__s"), col("ewma"), step))
                    .as("ewma"))
            }
        }
        // the last round is not cut: `materialized` computes it once
        levels.withColumnRenamed("__k", keyCol)
      }
    }
  }
}
