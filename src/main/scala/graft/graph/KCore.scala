package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Lineage

/** Budgeted k-core peeling — the density filter that separates a graph's
  * connected SHELL from its cohesive CORE. Components (`dedup/
  * Components`) merges everything reachable; PageRank/HITS score
  * centrality; k-core answers "which nodes survive when low-degree
  * fringe is stripped, repeatedly" — the standard pre-filter before
  * community detection on co-occurrence graphs (spam rings in
  * co-purchase data, boilerplate clusters in near-dup graphs) and the
  * densest-region seed for curation.
  *
  * Semantics: synchronous peeling. Round r removes EVERY node whose
  * degree within the round-(r−1) survivor subgraph is < k, all at once
  * — deterministic under any partitioning (the LabelProp convention;
  * sequential peeling is order-dependent). Rounds are a fixed budget,
  * not convergence-tested: at 100 TB you budget iterations up front.
  * A graph typically converges in a handful of rounds because removals
  * cascade geometrically; survivors of the FIXED point are exactly the
  * classical k-core.
  *
  * Scale: per round, the edge list (cached once — often the expensive
  * lineage) is semi-joined against the shrinking survivor set on each
  * endpoint, then ONE map-side-combined degree count. Survivor sets are
  * 8 bytes/node; edges never carry payloads. Intermediates follow the
  * `Lineage` lifecycle.
  */
object KCore {

  /** Peel for `rounds` synchronous rounds at threshold `k`.
    *
    * `nodes` supplies the universe (one row per node, `idCol`
    * integral); `edges` the undirected adjacency (each pair once,
    * either orientation; self-loops and duplicate pairs should be
    * cleaned upstream). Returns the surviving nodes as
    * (idCol, degree) where degree is measured within the survivor
    * subgraph — i.e. one more degree pass after the final peel.
    */
  def peel(nodes: DataFrame, idCol: String, edges: DataFrame,
      srcCol: String, dstCol: String, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1, "rounds must be >= 1")
    Lineage.materialized { scope =>
      // CUT the directed edge list's lineage before symmetrizing (r19):
      // the union's two branches each re-execute the caller's edge
      // derivation, and every round's plan re-analyzes it (see Lineage).
      val e0 = scope.cut(edges.select(col(srcCol).as("s"), col(dstCol).as("d")),
        eager = false)
      // pre-partition the cached edge list by the degree key: every
      // round's degree count then reuses the cached layout instead of
      // re-exchanging the (largest) frame per round — the survivor-set
      // semi-joins broadcast and preserve partitioning (measured 103 MB
      // → edge-sized-once shuffle on the q79 gate)
      val sym = scope.persisted(e0
        .union(e0.select(col("d").as("s"), col("s").as("d")))
        .repartition(col("s")))
      var alive = nodes.select(col(idCol).as("id"))
      for (_ <- 1 to rounds)
        alive = scope.persisted(degrees(sym, alive)
          .filter(col("degree") >= k).select(col("id")))
      degrees(sym, alive).select(col("id").as(idCol), col("degree"))
    }
  }

  /** Degree of every survivor within the survivor subgraph of `sym`. */
  private def degrees(sym: DataFrame, alive: DataFrame): DataFrame =
    sym.join(alive.select(col("id").as("s")), Seq("s"), "left_semi")
      .join(alive.select(col("id").as("d")), Seq("d"), "left_semi")
      .groupBy(col("s").as("id"))
      .agg(count(lit(1)).as("degree"))

  /** Peel with the node universe IMPLICITLY the edge endpoints —
    * equivalent to `peel(endpoints, …)` and strictly cheaper: any node
    * outside the endpoint set has degree 0 and is removed in round 1
    * regardless (k ≥ 1), so a caller whose universe is "whatever the
    * edges touch" (the q79 co-purchase gate) pays nothing for it.
    *
    * Two structural savings over composing `peel` with a caller-derived
    * endpoint frame (r18 profile on the q79 gate: the edge-derivation
    * subtree — join+distinct — executed 3×, ~0.65 s each):
    *  - the DIRECTED edge list is persisted before symmetrizing, so the
    *    union's two branches and the caller's endpoint derivation stop
    *    re-executing the edge lineage (guide §2.4);
    *  - round 1 skips both survivor semi-joins outright — every
    *    endpoint is alive at round 0, so they are identity filters.
    */
  def peelEdges(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int, idCol: String = "id"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1, "rounds must be >= 1")
    Lineage.materialized { scope =>
      // CUT (not just persist) the directed edge list's lineage: with a
      // persist alone the q79 plan was 6,764 lines — every round's plan
      // re-analyzed the caller's join+distinct edge derivation (see
      // Lineage).
      val e0 = scope.cut(edges.select(col(srcCol).as("s"), col(dstCol).as("d")),
        eager = false)
      val sym = scope.persisted(e0
        .union(e0.select(col("d").as("s"), col("s").as("d")))
        .repartition(col("s")))
      // round 1: every endpoint is alive — degree is a plain aggregation
      var alive = scope.persisted(
        sym.groupBy(col("s").as("id")).agg(count(lit(1)).as("degree"))
          .filter(col("degree") >= k).select(col("id")))
      for (_ <- 2 to rounds)
        alive = scope.persisted(degrees(sym, alive)
          .filter(col("degree") >= k).select(col("id")))
      degrees(sym, alive).select(col("id").as(idCol), col("degree"))
    }
  }
}
