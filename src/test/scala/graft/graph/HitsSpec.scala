package graft.graph

import graft.SparkSpec

/** HITS: mutual reinforcement on a bipartite graph, hub/authority
  * asymmetry, renormalization arithmetic, released intermediates,
  * determinism.
  */
class HitsSpec extends SparkSpec {
  import spark.implicits._

  // hubs 1, 2 both point at authority 10; hub 2 also points at 11;
  // hub 3 points only at 12 (an island pair)
  private val edges = Seq((1L, 10L), (2L, 10L), (2L, 11L), (3L, 12L))
    .toDF("s", "d")

  private def run(rounds: Int = 2) =
    Hits.hubsAndAuthorities(edges, "s", "d", rounds)
      .collect()
      .map(r => (r.getString(1), r.getLong(0)) -> r.getLong(2)).toMap

  "hubsAndAuthorities" should "rank the shared authority above the islands" in {
    val m = run()
    m(("authority", 10L)) should be > m(("authority", 11L))
    m(("authority", 10L)) should be > m(("authority", 12L))
  }

  it should "rank the two-authority hub highest" in {
    val m = run()
    m(("hub", 2L)) should be > m(("hub", 1L))
    m(("hub", 2L)) should be > m(("hub", 3L))
  }

  it should "match the hand-stepped first round" in {
    // h0 = Scale each; a_raw: 10 -> 2S, 11 -> S, 12 -> S; sum = 4S
    // denom = 4 -> a: 10 -> S/2, 11 -> S/4, 12 -> S/4
    val m = run(rounds = 1)
    val s = Hits.Scale
    // after round 1's hub half: h_raw 1 -> S/2, 2 -> 3S/4, 3 -> S/4
    // sum = 6S/4 -> denom = 1 (6S/4 div S = 1) -> unchanged
    m(("authority", 10L)) shouldBe s / 2
    m(("authority", 11L)) shouldBe s / 4
    m(("hub", 2L)) shouldBe 3 * s / 4
    m(("hub", 1L)) shouldBe s / 2
  }

  it should "deduplicate repeated and reversed-role edges" in {
    val dup = edges.unionByName(Seq((1L, 10L)).toDF("s", "d"))
    Hits.hubsAndAuthorities(dup, "s", "d", 2)
      .collect().map(r => (r.getString(1), r.getLong(0)) -> r.getLong(2))
      .toMap shouldBe run()
  }

  it should "release its intermediates" in {
    residueOf(Hits.hubsAndAuthorities(edges, "s", "d", 2)) shouldBe empty
  }

  it should "be invariant under repartitioning" in {
    val alt = Hits.hubsAndAuthorities(edges.repartition(5), "s", "d", 2)
      .collect()
      .map(r => (r.getString(1), r.getLong(0)) -> r.getLong(2)).toMap
    alt shouldBe run()
  }
}
