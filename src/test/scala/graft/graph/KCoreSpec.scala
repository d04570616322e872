package graft.graph

import graft.SparkSpec

/** k-core peeling: textbook cores, cascade across rounds, isolated and
  * pendant nodes, bipartite behavior, partition invariance.
  */
class KCoreSpec extends SparkSpec {
  import spark.implicits._

  private def run(nodes: Seq[Long], edges: Seq[(Long, Long)], k: Int,
      rounds: Int): Map[Long, Long] =
    KCore.peel(nodes.toDF("id"), "id", edges.toDF("s", "d"), "s", "d",
        k, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  "peel" should "keep a triangle and drop its pendant at k=2" in {
    val m = run(Seq(1L, 2L, 3L, 4L),
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)), k = 2, rounds = 2)
    m shouldBe Map(1L -> 2L, 2L -> 2L, 3L -> 2L)
  }

  it should "cascade removals round by round on a path graph" in {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    // round 1 strips the endpoints; survivors 2,3,4 with degrees 1,2,1
    run(Seq(1L, 2L, 3L, 4L, 5L), path, k = 2, rounds = 1) shouldBe
      Map(2L -> 1L, 3L -> 2L, 4L -> 1L)
    // three rounds exhaust the path: no 2-core exists
    run(Seq(1L, 2L, 3L, 4L, 5L), path, k = 2, rounds = 3) shouldBe empty
  }

  it should "drop isolated nodes in the first round" in {
    val m = run(Seq(1L, 2L, 3L, 99L),
      Seq((1L, 2L), (2L, 3L), (1L, 3L)), k = 1, rounds = 1)
    m.keySet shouldBe Set(1L, 2L, 3L)
  }

  it should "find the dense core inside a sparse shell" in {
    // K4 on {1,2,3,4}; shell nodes 5,6 each attached by one edge
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L))
    val edges = k4 ++ Seq((1L, 5L), (5L, 6L))
    val m = run(Seq(1L, 2L, 3L, 4L, 5L, 6L), edges, k = 3, rounds = 3)
    m shouldBe Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L)
  }

  it should "be invariant under edge repartitioning" in {
    val edges = (1L to 40L).flatMap(i =>
      Seq((i, (i % 40) + 1), (i, ((i + 7) % 40) + 1)))
    val nodes = (1L to 41L)
    val a = run(nodes, edges, k = 3, rounds = 2)
    val b = KCore.peel(nodes.toDF("id").repartition(5), "id",
        edges.toDF("s", "d").repartition(7), "s", "d", 3, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    a shouldBe b
  }

  "peelEdges" should "equal peel over the endpoint universe" in {
    val edges = (1L to 40L).flatMap(i =>
      Seq((i, (i % 40) + 1), (i, ((i + 7) % 40) + 1))) ++
      Seq((100L, 101L)) // a pendant component that dies in round 1
    val endpoints = edges.flatMap(e => Seq(e._1, e._2)).distinct
    for (k <- Seq(2, 3, 4); rounds <- Seq(1, 2, 3)) {
      val a = KCore.peel(endpoints.toDF("id"), "id",
          edges.toDF("s", "d"), "s", "d", k, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val b = KCore.peelEdges(edges.toDF("s", "d"), "s", "d", k, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      withClue(s"k=$k rounds=$rounds") { b shouldBe a }
    }
  }

  it should "name the output id column from idCol" in {
    val out = KCore.peelEdges(Seq((1L, 2L), (2L, 3L), (1L, 3L))
      .toDF("s", "d"), "s", "d", k = 2, rounds = 1, idCol = "node")
    out.columns.toSeq shouldBe Seq("node", "degree")
  }

  it should "release every intermediate cache when materialized" in {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("s", "d")
    // only the returned (still-persisted) frame may remain
    residueOf(KCore.peel(Seq(1L, 2L, 3L).toDF("id"), "id", edges, "s", "d",
      k = 2, rounds = 2)) shouldBe empty
    residueOf(KCore.peelEdges(edges, "s", "d", k = 2, rounds = 2)) shouldBe
      empty
  }
}
