package graft.core

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lineage scopes: data identity of a cut against the uncut plan, plan
  * truncation, and the block lifecycle — what a scope records is released
  * when it closes or throws, a released cut fails loudly, and every
  * operator on the lifecycle leaves only its result behind.
  */
class LineageSpec extends SparkSpec {
  import spark.implicits._

  private def base = Seq((1L, "a"), (2L, "b"), (3L, "a"), (4L, "c"))
    .toDF("id", "k")
    .groupBy("k").agg(count(lit(1)).as("n"), sum("id").as("s"))

  "cut" should "return exactly the uncut frame's rows and schema" in {
    val uncut = base
    Lineage.scoped { scope =>
      val cut = scope.cut(base, eager = false)
      cut.schema shouldBe uncut.schema
      cut.orderBy("k").collect().toSeq shouldBe
        uncut.orderBy("k").collect().toSeq
    }
  }

  it should "truncate the logical plan to a leaf" in {
    Lineage.scoped { scope =>
      val cut = scope.cut(base, eager = false)
      // the cut frame's analyzed plan is a single leaf (LogicalRDD) —
      // downstream rounds planned against it stay O(1) in plan size
      cut.queryExecution.analyzed.children shouldBe empty
      val grown = cut.join(cut.select(col("k"), col("n").as("n2")), "k")
      grown.count() shouldBe 3L
    }
  }

  it should "survive composition across simulated rounds" in {
    val expect = base.orderBy("k").collect().toSeq
    Lineage.scoped { scope =>
      var cur = scope.cut(base, eager = false)
      (1 to 3).foreach { _ =>
        val next = scope.cut(
          cur.groupBy("k").agg(sum("n").as("n"), sum("s").as("s")),
          eager = true) // materialized before the input is released
        scope.release(cur)
        cur = next
      }
      cur.orderBy("k").collect().toSeq shouldBe expect
    }
  }

  it should "outlive a plain unpersist until its scope closes" in {
    val before = persistedIds
    Lineage.scoped { scope =>
      val cut = scope.cut(base, eager = true)
      cut.unpersist(true) // checkpoint blocks are not in the CacheManager
      spark.catalog.clearCache()
      (persistedIds -- before) should not be empty
      cut.count() shouldBe 3L
    }
    (persistedIds -- before) shouldBe empty
  }

  "release" should "drop the checkpoint blocks of a materialized cut" in {
    val before = persistedIds
    Lineage.scoped { scope =>
      val cut = scope.cut(base, eager = true)
      (persistedIds -- before) should not be empty
      scope.release(cut)
      (persistedIds -- before) shouldBe empty
    }
  }

  it should "be a safe no-op on never-materialized cuts and uncut frames" in {
    val before = persistedIds
    Lineage.scoped { scope =>
      scope.release(scope.cut(base, eager = false)) // never computed
      scope.release(scope.persisted(base))          // never computed
    }
    (persistedIds -- before) shouldBe empty
  }

  it should "refuse a frame its scope did not record" in {
    an[IllegalArgumentException] should be thrownBy
      Lineage.scoped(_.release(base))
  }

  it should "make a later read of the cut fail, not recompute" in {
    val cut = Lineage.scoped(_.cut(base, eager = true))
    val e = intercept[org.apache.spark.SparkException](cut.collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
      .exists(_.contains("Checkpoint block")) shouldBe true
  }

  "scoped" should "release everything it recorded when the body throws" in {
    val before = persistedIds
    an[IllegalStateException] should be thrownBy Lineage.scoped { scope =>
      scope.persisted(base).count()
      scope.cut(base, eager = true)
      throw new IllegalStateException("boom")
    }
    (persistedIds -- before) shouldBe empty
  }

  "materialized" should "keep the result readable after its cut is gone" in {
    val expect = base.orderBy("k").collect().toSeq
    val before = persistedIds
    val out = Lineage.materialized(scope =>
      scope.cut(base, eager = true).select(col("k"), col("n"), col("s")))
    (persistedIds -- before).size shouldBe 1 // the result's cache alone
    out.orderBy("k").collect().toSeq shouldBe expect
    out.unpersist(true)
    (persistedIds -- before) shouldBe empty
  }

  it should "release the result's cache when counting it throws" in {
    val before = persistedIds
    val bad = Seq("1", "x").toDF("v").select(col("v").cast("int"))
    an[Exception] should be thrownBy Lineage.materialized(_ => bad)
    (persistedIds -- before) shouldBe empty
  }

  // Every operator on the lifecycle: unpersisting the result returns the
  // persisted RDDs to exactly the set before the call.
  private lazy val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    .toDF("s", "d")
  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "the quick brown fox jumps over the lazy dog today"),
    (3L, "something else entirely about window functions")
  ).toDF("doc_id", "text")
  private lazy val series = Seq(("a", 1L, 1.0), ("a", 2L, 3.0),
    ("a", 3L, 2.0), ("b", 1L, 5.0)).toDF("k", "t", "v")

  private val operators: Seq[(String, () => DataFrame)] = Seq(
    "PageRank.ranks" -> (() => graft.graph.PageRank.ranks(edges, "s", "d", 2)),
    "KCore.peel" -> (() => graft.graph.KCore.peel(
      Seq(1L, 2L, 3L, 4L).toDF("id"), "id", edges, "s", "d", 2, 2)),
    "KCore.peelEdges" -> (() => graft.graph.KCore.peelEdges(
      edges, "s", "d", 2, 2)),
    "Hits.hubsAndAuthorities" -> (() =>
      graft.graph.Hits.hubsAndAuthorities(edges, "s", "d", 2)),
    "LabelProp.propagate" -> (() => graft.graph.LabelProp.propagate(
      Seq(1L, 2L, 3L, 4L, 5L).toDF("id"), "id", edges, "s", "d", 2)),
    "LabelProp.nearDupCommunities" -> (() =>
      graft.graph.LabelProp.nearDupCommunities(docs, "doc_id", "text",
        threshold = 0.5, rounds = 2)),
    "Assortativity.degreeCorrelation" -> (() =>
      graft.graph.Assortativity.degreeCorrelation(edges, "s", "d")),
    "AssocRules.pairRules" -> (() => graft.operators.AssocRules.pairRules(
      edges, "s", "d", 1L)),
    "NearDup.prefixJaccardPairs" -> (() =>
      graft.dedup.NearDup.prefixJaccardPairs(docs, "doc_id", "text",
        threshold = 0.5)),
    "Components.connectedComponents (distributed)" -> (() =>
      graft.dedup.Components.connectedComponents(edges, "s", "d",
        localEdgeThreshold = 0L)),
    "Ewma.latestChunked" -> (() => graft.operators.Ewma.latestChunked(
      series, "k", "t", "v", 0.5, chunkSize = 2)),
    "Changepoint.cusumFixedChunked" -> (() =>
      graft.operators.Changepoint.cusumFixedChunked(series, "k", "t", "v",
        2.0, chunkSize = 2)),
    "UnigramTok.emTrainWords" -> (() => graft.text.UnigramTok.emTrainWords(
      Seq(("hello", 3L), ("help", 2L)).toDF("word", "wcnt"),
      vocabSize = 4, iters = 1, maxPieceLen = 3, multiPieces = 8)),
    "Bpe.encodeTopTokens" -> (() => graft.text.Bpe.encodeTopTokens(
      docs, "text", 3, 5))
  )

  operators.foreach { case (name, op) =>
    "the lifecycle" should s"leave nothing but the result of $name" in {
      residueOf(op()) shouldBe empty
    }
  }
}
