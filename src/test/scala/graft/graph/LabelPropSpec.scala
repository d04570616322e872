package graft.graph

import graft.SparkSpec

/** Label propagation: hand-traced synchronous rounds, bridge behavior
  * vs connected components, isolated nodes, determinism under layout.
  */
class LabelPropSpec extends SparkSpec {
  import spark.implicits._

  private def communities(nodes: Seq[Long], edges: Seq[(Long, Long)],
      rounds: Int): Map[Long, Long] =
    LabelProp.propagate(nodes.toDF("id"), "id",
        edges.toDF("id_a", "id_b"), "id_a", "id_b", rounds)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap

  // two triangles joined by one bridge edge 3-4
  private val bridged = Seq(
    (1L, 2L), (1L, 3L), (2L, 3L),
    (4L, 5L), (4L, 6L), (5L, 6L),
    (3L, 4L))

  "propagate" should "keep bridged triangles in separate communities" in {
    // hand-traced synchronous rounds with the (max count, min label)
    // tie rule: after 3 rounds the triangles settle on labels 1 and 3 —
    // the bridge does NOT merge them (connectedComponents would)
    communities(1L to 6L, bridged, rounds = 3) shouldBe
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L)
  }

  it should "leave isolated nodes in their own singleton community" in {
    val m = communities(Seq(1L, 2L, 3L, 99L), Seq((1L, 2L), (2L, 3L)),
      rounds = 3)
    m(99L) shouldBe 99L
  }

  it should "report community sizes over the final assignment" in {
    val sizes = LabelProp.propagate((1L to 6L).toDF("id"), "id",
        bridged.toDF("id_a", "id_b"), "id_a", "id_b", 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .toMap
    all(sizes.values) shouldBe 3L
  }

  it should "be invariant to edge orientation and partitioning" in {
    val flipped = bridged.map { case (a, b) => (b, a) }
    val base = communities(1L to 6L, bridged, 3)
    val alt = LabelProp.propagate(
        (1L to 6L).toDF("id").repartition(7), "id",
        flipped.toDF("id_a", "id_b").repartition(5), "id_a", "id_b", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    alt shouldBe base
  }

  "nearDupCommunities" should "group template near-duplicates" in {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "the quick brown fox jumps over the lazy dog tonight"),
      (4L, "completely unrelated text about spark catalyst planning")
    ).toDF("doc_id", "text")
    val m = LabelProp.nearDupCommunities(docs, "doc_id", "text",
        threshold = 0.5, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    m(1L) shouldBe m(2L)
    m(4L) shouldBe 4L
  }

  it should "release its intermediates" in {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "something else entirely about window functions")
    ).toDF("doc_id", "text")
    // only the materialized result itself remains, until unpersisted
    residueOf(LabelProp.nearDupCommunities(docs, "doc_id", "text",
      threshold = 0.5, rounds = 2)) shouldBe empty
  }
}
