package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Lineage

/** Degree assortativity (Newman 2002, PRL 89.208701) — the one-number
  * answer to "do hubs link to hubs?": the Pearson correlation of
  * endpoint degrees over every edge. Positive = social-network-like
  * core (hubs cluster), negative = hub-and-spoke (the shape of
  * co-purchase and doc-template graphs, where k-core/X105 peeling pays
  * off); the diagnostic that tells you WHICH graph-cleanup operator
  * fits before you run it.
  *
  * Computed over the symmetrized edge list so the statistic is exactly
  * symmetric (each undirected edge contributes both orientations —
  * Newman's convention). Exact-integer core: degrees are exact counts,
  * the five moments (M, Σx, Σxy, Σx²) are exact long sums (x/y margins
  * coincide under symmetrization), and r is one fixed IEEE shape over
  * them — NULL for degree-regular graphs (zero variance). Bit-replay
  * bound: Σ(deg·deg) must stay below 2⁵³ (the X104 cast bound) —
  * holding for |E|·max_deg² < 9·10¹⁵, beyond which quantize degrees.
  *
  * Scale: one degree aggregation (map-side combined), two hash joins
  * attaching 8-byte degrees to the edge list, one moments aggregation.
  * Nothing wider than the edge list ever shuffles.
  */
object Assortativity {

  /** One row: (m2 — directed edge-end count 2|E|, sum_x, sum_xx,
    * sum_xy — exact moments, assortativity). Self-loops and duplicate
    * pairs should be cleaned upstream.
    */
  /** Node-count threshold under which the degree table broadcasts for
    * the two attach joins (the PageRank.MaxBroadcastNodes convention):
    * below it the edge list is never exchanged — each attach is a
    * map-side hash join over one cached scan; above it the planner's
    * shuffle join is the only shape that works.
    */
  val MaxBroadcastNodes: Long = 1000000L

  def degreeCorrelation(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = Lineage.materialized { scope =>
    // Persist the directed edge list: the symmetric union's branches and
    // the degree/moments passes otherwise re-execute the caller's edge
    // lineage (the q84 gate's join+distinct ran 3× in the r18 profile —
    // guide §2.4). The degree table is persisted too: it is consumed by
    // two joins (and its count gates the broadcast decision).
    val e0 = scope.persisted(
      edges.select(col(srcCol).as("s"), col(dstCol).as("d")))
    val sym = e0.union(e0.select(col("d").as("s"), col("s").as("d")))
    val deg = scope.persisted(sym.groupBy(col("s").as("id"))
      .agg(count(lit(1)).as("deg")))
    val n = deg.count()
    def degSide(key: String, out: String): DataFrame = {
      val side = deg.select(col("id").as(key), col("deg").as(out))
      if (n <= MaxBroadcastNodes) broadcast(side) else side
    }
    val joined = sym.join(degSide("s", "dx"), "s")
      .join(degSide("d", "dy"), "d")
    val m = joined.agg(
      count(lit(1)).as("m2"),
      sum(col("dx")).as("sum_x"),
      sum(col("dx") * col("dx")).as("sum_xx"),
      sum(col("dx") * col("dy")).as("sum_xy"))
    def dbl(name: String): Column = col(name).cast("double")
    val num = dbl("m2") * dbl("sum_xy") - dbl("sum_x") * dbl("sum_x")
    val den = dbl("m2") * dbl("sum_xx") - dbl("sum_x") * dbl("sum_x")
    m.select(col("m2"), col("sum_x"), col("sum_xx"),
      col("sum_xy"), when(den > 0.0, num / den).as("assortativity"))
  }
}
