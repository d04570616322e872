package graft.pipeline

import graft.SparkSpec
import graft.graph.PageRank

/** Fixed-point PageRank: hand-computed micro-rank values on a small
  * graph, dangling-mass policy, determinism under layout, and ranking
  * order on an asymmetric graph.
  */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  "ranks" should "match the hand-computed fixed-point arithmetic" in {
    // a → b, b → a: symmetric 2-cycle, every iteration maps r → base+85%r
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val S = PageRank.Scale
    val r0 = S / 2
    val base = (15L * (S / 2)) / 100L
    val r1 = base + (85L * (r0 / 1L)) / 100L
    val r2 = base + (85L * r1) / 100L
    val got = PageRank.ranks(edges, "src", "dst", 2)
      .as[(String, Long)].collect().toMap
    got("a") shouldBe r2
    got("b") shouldBe r2
  }

  it should "rank a sink-heavy node above its feeders" in {
    // star: x,y,z all point to hub; hub points back to x only
    val edges = Seq(("x", "hub"), ("y", "hub"), ("z", "hub"), ("hub", "x"))
      .toDF("src", "dst")
    val got = PageRank.ranks(edges, "src", "dst", 3)
      .as[(String, Long)].collect().toMap
    got("hub") should be > got("x")
    got("x") should be > got("y") // x gets hub's mass back
    got("y") shouldBe got("z")
  }

  it should "leak dangling mass without redistributing it" in {
    // a → b, b has no out-edges: b's mass vanishes each round
    val edges = Seq(("a", "b")).toDF("src", "dst")
    val got = PageRank.ranks(edges, "src", "dst", 1)
      .as[(String, Long)].collect().toMap
    val base = (15L * (PageRank.Scale / 2)) / 100L
    got("a") shouldBe base // nothing flows into a
    got("b") shouldBe base + (85L * (PageRank.Scale / 2)) / 100L
  }

  it should "drop null edge endpoints instead of stranding mass" in {
    val edges = Seq(("a", "b"), ("b", "a"), (null, "a"), ("b", null))
      .toDF("src", "dst")
    val got = PageRank.ranks(edges, "src", "dst", 1)
      .as[(String, Long)].collect().toMap
    got.keySet shouldBe Set("a", "b") // no phantom null node
  }

  it should "redistribute dangling mass uniformly when asked" in {
    // a → b, b dangling: with redistribution, b's mass returns split
    // evenly — hand-compute one iteration of the fixed-point arithmetic
    val edges = Seq(("a", "b")).toDF("src", "dst")
    val S = PageRank.Scale
    val r0 = S / 2
    val base = (15L * (S / 2)) / 100L
    val share = r0 / 2 // b's whole rank, div n = 2
    val got = PageRank.ranks(edges, "src", "dst", 1,
      redistributeDangling = true).as[(String, Long)].collect().toMap
    got("a") shouldBe base + (85L * share) / 100L
    got("b") shouldBe base + (85L * (r0 + share)) / 100L
    // total mass is conserved up to integer-div remainders (< 100 units
    // per node per iteration), unlike the leaking default
    (S - got.values.sum) should be < 200L
  }

  it should "make redistribution a no-op on a graph with no dangling nodes" in {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    val off = PageRank.ranks(edges, "src", "dst", 3)
      .orderBy("node").as[(String, Long)].collect().toSeq
    val on = PageRank.ranks(edges, "src", "dst", 3,
      redistributeDangling = true)
      .orderBy("node").as[(String, Long)].collect().toSeq
    on shouldBe off
  }

  it should "release its intermediates" in {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    // internal caches (edge cut, node/degree, degree-annotated edges) are
    // released before return — only the materialized result cache remains
    val before = persistedIds
    val ranks = PageRank.ranks(edges, "src", "dst", 2)
    (persistedIds -- before).size shouldBe 1
    ranks.unpersist(true)
    (persistedIds -- before) shouldBe empty
  }

  it should "be invariant under physical layout" in {
    val edges = (1L to 200L).map(i => (s"n${i % 20}", s"n${(i * 7) % 20}"))
      .toDF("src", "dst").distinct()
    val a = PageRank.ranks(edges, "src", "dst", 3)
      .orderBy("node").as[(String, Long)].collect().toSeq
    val b = PageRank.ranks(edges.repartition(13), "src", "dst", 3)
      .orderBy("node").as[(String, Long)].collect().toSeq
    b shouldBe a
  }
}
