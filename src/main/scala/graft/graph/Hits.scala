package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Lineage

/** HITS hubs and authorities (Kleinberg, JACM 1999) — the directed /
  * bipartite ranking X34's PageRank doesn't give: on a who-consumes-what
  * graph (customer→part, user→domain, doc→cited-doc), a good HUB points
  * at good authorities and a good AUTHORITY is pointed at by good hubs —
  * two mutually-recursive scores where PageRank collapses them into one.
  *
  * Fixed-point discipline (the PageRank convention): scores are integer
  * micro-units (Scale = 10⁹ — bounds nodes·Scale inside a long up to
  * ~9·10⁹ nodes), each half-round is an exact long sum over edges
  * followed by integral renormalization a ← a div max(1, Σa div Scale)
  * — deterministic remainder behavior, no floats anywhere, so the whole
  * iteration replays bitwise in any engine. Rounds are budgeted, not
  * convergence-tested (X79/X90).
  *
  * Scale: per half-round, ONE join of 16-byte scores onto the edge list
  * (hash-partitioned on the source side's key) + a map-side-combined
  * sum; the renorm denominator is a 1-row aggregate of the persisted
  * sums COLLECTED to the driver and inlined as a literal (the k-means
  * model-bounded convention — one long, not a broadcast exchange per
  * half-round). The edge list is cut once and intermediates follow the
  * `Lineage` lifecycle (one eager count at the end, everything
  * released).
  */
object Hits {

  val Scale: Long = 1000000000L

  /** Edge-count threshold under which the per-half-round score side is
    * BROADCAST (the PageRank.MaxBroadcastNodes convention, gated on the
    * persisted edge count — nodes ≤ 2·|E|, so a comfortably-broadcastable
    * edge list bounds both score vectors): the cached edge list is then
    * never re-exchanged — each half-round is one map-side join + one
    * inflow exchange. Above it, both sides hash-exchange on the node key
    * — the only shape that works at cluster scale. Without the hint the
    * static planner sees the cache's placeholder statistics (GiB-range)
    * and plans a sort-merge join whose edge-side exchange map stage runs
    * every half-round even after AQE downgrades it to a broadcast join
    * at runtime (r18 profile: 2–3.9 MB shuffle written per half-round).
    */
  val MaxBroadcastEdges: Long = 1000000L

  /** Run `rounds` full HITS iterations over the directed edge list.
    * Returns (node, role ∈ {hub, authority}, score) — hubs are source
    * nodes, authorities destination nodes, both in micro-units of the
    * final renormalization.
    */
  def hubsAndAuthorities(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    Lineage.materialized { scope =>
      // CUT the edge list's lineage, don't just persist it (r19): every
      // half-round's plan otherwise re-analyzes the caller's full edge
      // derivation (q74's plan was 6,257 lines with a persist alone) — a
      // 2·rounds-deep nest of joins each carrying the upstream subtree,
      // so driver plan time grows with rounds while execution doesn't.
      val e = scope.cut(edges.select(col(srcCol).as("s"), col(dstCol).as("d"))
        .filter(col("s").isNotNull && col("d").isNotNull)
        .distinct(), eager = false)
      // One eager count materializes the edge cut AND gates the broadcast
      // decision for every half-round's score side.
      val bcastScores = e.count() <= MaxBroadcastEdges
      def scoreSide(df: DataFrame): DataFrame =
        if (bcastScores) broadcast(df) else df
      // h0 is consumed exactly once (round 1's join) — caching it would be
      // a pure materialization pass; it recomputes cheaply from cached e.
      var hubs = e.select(col("s").as("node")).distinct()
        .withColumn("score", lit(Scale))
      var auths: DataFrame = null
      // Persist the RAW per-node sums, not the renormalized frames: the
      // renorm total is collected from the cache (a cache scan + tiny agg
      // instead of a second execution of the join+groupBy, which the r10
      // bench showed doubling every half-round's work — q74's dominant
      // cost). The renorm projection itself is lazy and recomputes from
      // the same cache wherever it is consumed.
      for (_ <- 1 to rounds) {
        auths = renorm(scope.persisted(
          e.join(scoreSide(hubs.select(col("node").as("s"), col("score"))),
              "s")
            .groupBy(col("d").as("node"))
            .agg(sum("score").as("raw"))))
        hubs = renorm(scope.persisted(
          e.join(scoreSide(auths.select(col("node").as("d"), col("score"))),
              "d")
            .groupBy(col("s").as("node"))
            .agg(sum("score").as("raw"))))
      }
      hubs.select(col("node"), lit("hub").as("role"), col("score"))
        .unionByName(auths.select(col("node"), lit("authority").as("role"),
          col("score")))
    }
  }

  /** a ← a div max(1, Σa div Scale): exact integral renormalization —
    * the largest score lands near Scale, every op is a long. The
    * denominator is ONE long collected from the persisted sums
    * (driver-model-bounded); inlining it as a literal keeps each
    * half-round at a single distributed job instead of an extra
    * broadcast exchange.
    */
  private def renorm(raw: DataFrame): DataFrame = {
    val totalRow = raw.agg(expr(s"sum(raw) div ${Scale}L")).head()
    val denom = if (totalRow.isNullAt(0)) 1L
      else math.max(totalRow.getLong(0), 1L)
    raw.select(col("node"), expr(s"raw div ${denom}L").as("score"))
  }
}
