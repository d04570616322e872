package graft.core

import java.nio.file.Files

import graft.SparkSpec
import graft.jobs.MainSummaryFixture
import graft.similarity.Ivf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Long-lived sessions run the same gates and jobs over and over; every
  * class Spark generates for them must be compiled once, not once per
  * pass. Two ways that broke: a codegen cache smaller than the session's
  * working set (an LRU under a cyclic pattern hits nothing), and
  * generated source that differs between calls of the same operator.
  */
class CodegenCacheSpec extends SparkSpec {

  /** Exposes what `Graft.configure` put on a builder. */
  private final class InspectBuilder extends SparkSession.Builder {
    def settings: Map[String, String] = options.toMap
  }

  private def configured(): Map[String, String] = {
    val b = new InspectBuilder
    Graft.configure(b, shufflePartitions = 1)
    b.settings
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  it should "compile nothing on a second pass over ANN search and daily jobs" in {
    import spark.implicits._
    // a parquet-backed corpus, as the ANN gates read: a local relation
    // would let the optimizer answer the probe-size count without codegen
    val emb = Files.createTempDirectory("graft-codegen-emb").toString
    val rng = new scala.util.Random(7)
    (0 until 90).map { i =>
      (i.toLong, Array.tabulate(8)(d => (if (d == i % 3) 10.0 else 0.0) + rng.nextDouble()))
    }.toDF("vec_id", "embedding").write.mode("overwrite").parquet(emb)
    val ms = Files.createTempDirectory("graft-codegen-ms").toString
    makeDF(MainSummaryFixture.schema, MainSummaryFixture.base, Seq(
      Map("document_id" -> "d1"),
      Map("document_id" -> "d2", "client_id" -> "b")))
      .write.partitionBy("submission_date_s3").mode("overwrite").parquet(ms)
    val out = Files.createTempDirectory("graft-codegen-out").toString
    def ann(): Unit = {
      val e = spark.read.parquet(emb)
      val model = Ivf.sampleCentroids(e, "vec_id", "embedding", nlist = 3)
      Ivf.search(Ivf.assign(e, "vec_id", "embedding", model),
        e.filter($"vec_id" < 3), "vec_id", "embedding", model,
        k = 5, nprobe = 2).collect()
    }
    def cli(cmd: String, kv: (String, String)*): Unit =
      graft.cli.Main.dispatch(spark, cmd,
        (kv :+ ("input" -> ms) :+ ("output" -> s"$out/$cmd") :+
          ("save-mode" -> "overwrite")).toMap)
    // together more distinct classes than Spark's default cache of 100
    def pass(): Unit = {
      ann()
      cli("clients_daily", "date" -> "2017-01-11")
      cli("search_clients_daily", "date" -> "20170101")
      cli("search_aggregates", "date" -> "20170101")
      cli("addon_aggregates", "date" -> "20170101")
    }
    val before = compiles
    pass()
    val first = compiles - before
    pass()
    withClue(s"first pass compiled $first classes; ") {
      (compiles - before - first) shouldBe 0L
    }
  }

  it should "size the codegen cache unless the user set it" in {
    // the first class generated in a JVM fixes the cache size; the shared
    // session is built by Graft.configure, so it carries graft's value
    spark.conf.get(Graft.CodegenCacheKey) shouldBe Graft.CodegenCacheEntries.toString
    configured().get(Graft.CodegenCacheKey) shouldBe
      Some(Graft.CodegenCacheEntries.toString)
    val prior = sys.props.get(Graft.CodegenCacheKey)
    sys.props(Graft.CodegenCacheKey) = "123"
    try configured().get(Graft.CodegenCacheKey) shouldBe Some("123")
    finally prior match {
      case Some(v) => sys.props(Graft.CodegenCacheKey) = v
      case None => sys.props -= Graft.CodegenCacheKey
    }
  }
}
