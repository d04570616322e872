package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Lineage

/** Fixed-iteration PageRank over a DataFrame edge list (beyond-reference
  * op, SURVEY §2.13) — the graph-centrality companion to the connected-
  * components operator (dedup/Components).
  *
  * All rank mass is SCALED INTEGER "micro-rank" (longs), not doubles:
  * contributions are integer divisions (rank div outdeg), inflows are
  * exact long sums (order-free — a float PageRank diverges bitwise
  * between engines because shuffle order changes the summation order),
  * and the damping step is (15·base + 85·inflow) div 100 in exact
  * arithmetic. The q48 oracle replays iterations as unrolled CTEs and
  * matches bit-for-bit. Rounding remainders vanish deterministically
  * (standard in fixed-point PR); total mass decays slightly rather than
  * being redistributed, which preserves ranking order.
  *
  * Scale shape: per iteration, one hash join of ranks onto the (cached)
  * out-degree-annotated edge list plus one map-side-combinable inflow
  * aggregation — both shuffle on the node key, so AQE reuses the
  * partitioning; the iteration count is fixed and small. Nodes with no
  * out-edges leak their mass by default; `redistributeDangling = true`
  * shares it uniformly instead (the standard formulation), at the cost
  * of one scalar aggregate per iteration.
  */
object PageRank {

  val Scale: Long = 1000000000000L // 1e12 micro-rank units of total mass

  /** Ranks after `iterations` damped rounds over the directed edge list.
    * Output: (node, rank_micro). `edges` rows are (srcCol, dstCol) pairs;
    * parallel edges should be pre-deduplicated by the caller if they are
    * not meant to weight the walk.
    */
  /** Node-count threshold under which the rank side of the per-iteration
    * join is BROADCAST: the cached edge list is then never re-shuffled
    * (each iteration becomes a map-side join + one inflow exchange).
    * Above it, both sides hash-exchange on the node key — the only plan
    * that works when the node set itself is cluster-scale.
    */
  val MaxBroadcastNodes: Long = 1000000L

  /** @param redistributeDangling when true, each iteration adds one
    *   scalar aggregate (the total rank of nodes with no out-edges,
    *   broadcast as a 1-row frame) and shares it equally across all
    *   nodes — the standard formulation, making ranks comparable across
    *   graphs with different dangling fractions. Default false: mass
    *   simply leaks (cheaper; ranking ORDER within a graph is identical
    *   when dangling mass is shared uniformly anyway).
    */
  def ranks(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, redistributeDangling: Boolean = false): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50]: $iterations")
    Lineage.materialized { scope =>
      // null endpoints would silently strand rank mass (a null key matches
      // no join) and register a phantom null node — drop them up front.
      // The edge list is scanned twice below (the node/degree aggregation
      // and the degree join) and its lineage is re-analyzed by EVERY
      // iteration's plan — CUT it (r19; see Lineage), don't just
      // persist: with a persist alone the q48 plan was 3,070 lines and
      // driver plan time ~1.1 s of the gate's ~1.7 s.
      val e = scope.cut(edges
        .select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull), eager = false)
      // ONE exchange computes both the node set and the out-degrees:
      // explode each edge into (src, 1) and (dst, 0) and sum per node —
      // replaces the union+distinct node pass plus a separate degree
      // groupBy+join pass of the naive formulation (2 shuffles + a join
      // shuffle → 1 shuffle + a broadcastable join).
      val nodeDeg = scope.persisted(e
        .select(explode(array(
          struct(col("src").as("node"), lit(1L).as("c")),
          struct(col("dst").as("node"), lit(0L).as("c")))).as("x"))
        .select(col("x.node").as("node"), col("x.c").as("c"))
        .groupBy("node").agg(sum("c").as("outdeg")))
      val n = nodeDeg.count()
      require(n > 0, "PageRank needs at least one non-null edge " +
        "(empty or all-null edge list yields no nodes)")
      val nodes = nodeDeg.select("node")
      // degree side has exactly n rows — broadcast it under the same
      // threshold as the rank side, so annotating the edges is map-side
      val degSide = nodeDeg.filter(col("outdeg") > 0)
      val withDeg = scope.persisted(e
        .join(if (n <= MaxBroadcastNodes) broadcast(degSide) else degSide,
          e("src") === degSide("node"))
        .select(col("src"), col("dst"), col("outdeg")))
      val base = (15L * (Scale / n)) / 100L
      // nodes that source at least one edge — dangling = NOT IN this set
      val srcNodes = degSide.select("node")
      var ranks = nodes.withColumn("r", lit(Scale / n))
      (1 to iterations).foreach { _ =>
        val rankSide = if (n <= MaxBroadcastNodes) broadcast(ranks) else ranks
        val inflow = withDeg
          .join(rankSide, withDeg("src") === rankSide("node"))
          .select(col("dst").as("node"),
            expr("r div outdeg").as("contrib"))
          .groupBy("node").agg(sum("contrib").as("inflow"))
        ranks =
          if (redistributeDangling) {
            // total dangling rank as a 1-row broadcast; each node receives
            // the same integer share (div n — the remainder vanishes
            // deterministically, like every other fixed-point rounding here)
            val dangling = ranks.join(srcNodes, Seq("node"), "left_anti")
              .agg(coalesce(sum("r"), lit(0L)).as("__dang"))
            nodes
              .join(inflow, Seq("node"), "left")
              .crossJoin(broadcast(dangling))
              .select(col("node"),
                (lit(base) + expr(
                  s"85 * (coalesce(inflow, 0L) + __dang div $n) div 100"))
                  .as("r"))
          } else nodes
            .join(inflow, Seq("node"), "left")
            .select(col("node"),
              (lit(base) +
                expr("85 * coalesce(inflow, 0L) div 100")).as("r"))
      }
      // The result is persisted and counted before the intermediates are
      // released, so repeated library calls accumulate no graph-sized
      // caches. Persist+count rather than an eager cut: the checkpoint
      // routes the same evaluation through the non-adaptive toRdd compile,
      // measured 2.8× slower on the q48 graph.
      ranks.select(col("node"), col("r").as("rank_micro"))
    }
  }
}
