package graft.jobs

import java.nio.file.Files

import graft.SparkSpec
import graft.jobs.search.SearchAggregates
import MainSummaryFixture._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

class SearchAggregatesSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def df(snippets: Map[String, Any]*) =
    makeDF(schema, base, snippets)

  behavior of "explodeSearchCounts"

  it should "explode one row per search count entry" in {
    val in = df(Map("search_counts" -> Seq(
      searchCount("google", "urlbar", 3L),
      searchCount("bing", "searchbar", 2L))))
    val out = SearchAggregates.explodeSearchCounts(in)
    rowsOf(out, "engine", "source", "count") shouldBe Set(
      Seq("google", "urlbar", 3L), Seq("bing", "searchbar", 2L))
  }

  it should "cap outlier counts at 10000" in {
    val in = df(Map("search_counts" -> Seq(
      searchCount("google", "urlbar", 10000L),
      searchCount("bing", "urlbar", 9999L))))
    val out = SearchAggregates.explodeSearchCounts(in)
    rowsOf(out, "engine", "count") shouldBe Set(Seq("bing", 9999L))
  }

  it should "shape ad-click map entries like search counts" in {
    val in = df(Map(
      "search_counts" -> Seq(searchCount("google", "urlbar", 1L)),
      "scalar_parent_browser_search_ad_clicks" -> Map("google" -> 7L)))
    val out = SearchAggregates.explodeSearchCounts(in)
    rowsOf(out, "engine", "source", "count") shouldBe Set(
      Seq("google", "urlbar", 1L), Seq("google", "ad-click:", 7L))
  }

  it should "emit a zero row for NULL search_counts" in {
    val in = df(Map("search_counts" -> null))
    val out = SearchAggregates.explodeSearchCounts(in)
    rowsOf(out, "engine", "source", "count") shouldBe
      Set(Seq(null, null, 0L))
  }

  behavior of "addDerivedColumns"

  it should "classify search types and extract the followon addon version" in {
    val in = df(
      Map("document_id" -> "d1", "search_counts" -> Seq(
        searchCount("g", "urlbar", 1L),
        searchCount("g", "sap:urlbar:SomeCodeHere", 1L),
        searchCount("g", "follow-on:urlbar:SomeCodeHere", 1L),
        searchCount("g", "in-content:sap:foo", 1L),
        searchCount("g", "in-content:sap-follow-on:foo", 1L),
        searchCount("g", "in-content:organic:none", 1L),
        searchCount("g", "follow-on:bar", 1L),
        searchCount("g", "mystery", 1L))))
    val out = SearchAggregates.addDerivedColumns(
      SearchAggregates.explodeSearchCounts(in))
    // the reference's full exploded_data_for_derived_cols pattern set
    // (tests/test_search_aggregates.py:240-272)
    rowsOf(out, "source", "type") shouldBe Set(
      Seq("urlbar", "sap"),
      Seq("sap:urlbar:SomeCodeHere", "tagged-sap"),
      Seq("follow-on:urlbar:SomeCodeHere", "tagged-follow-on"),
      Seq("in-content:sap:foo", "tagged-sap"),
      Seq("in-content:sap-follow-on:foo", "tagged-follow-on"),
      Seq("in-content:organic:none", "organic"),
      Seq("follow-on:bar", "tagged-follow-on"),
      Seq("mystery", "unknown"))
    out.select("addon_version").distinct().collect()
      .map(_.getString(0)).toSet shouldBe Set("0.9.5")
  }

  behavior of "searchClientsDaily"

  it should "pivot search types into columns per (client, day, engine, source)" in {
    val in = df(
      Map("document_id" -> "d1", "search_counts" -> Seq(
        searchCount("google", "urlbar", 3L),
        searchCount("google", "urlbar", 2L))),
      Map("document_id" -> "d2", "client_id" -> "b",
        "search_counts" -> Seq(
          searchCount("bing", "in-content:organic:x", 5L))))
    val out = SearchAggregates.searchClientsDaily(in)
    val a = out.filter(col("client_id") === "a").collect().head
    a.getAs[Long]("sap") shouldBe 5L
    a.getAs[String]("engine") shouldBe "google"
    // aggregation is over EXPLODED rows (2 entries → 2 rows), matching the
    // reference's per-exploded-row sums (aggregates.py:96-104)
    a.getAs[Long]("sessions_started_on_this_day") shouldBe 2L
    a.getAs[Double]("active_hours_sum") shouldBe 1.0 +- 1e-9
    val b = out.filter(col("client_id") === "b").collect().head
    b.getAs[Long]("organic") shouldBe 5L
    assert(b.isNullAt(b.fieldIndex("sap")))
  }

  behavior of "searchAggregates"

  it should "drop null-engine rows and keep dimensional rollups" in {
    val in = df(
      Map("document_id" -> "d1"),
      Map("document_id" -> "d2", "search_counts" -> null))
    val out = SearchAggregates.searchAggregates(in)
    out.select("engine").collect().map(_.getString(0)).toSet shouldBe
      Set("google")
    out.collect().head.getAs[Long]("sap") shouldBe 4L
  }

  behavior of "the fused scan and aggregation"

  /** The reference's formulation (aggregates.py:129-179, 208-284): a
    * four-branch union of search rows, aggregated by (dims, type), then
    * `type` pivoted into columns by a second aggregation.
    */
  private object Reference {
    private val sources = Seq("search_counts",
      "scalar_parent_browser_search_ad_clicks",
      "scalar_parent_browser_search_with_ads")

    def rows(ms: DataFrame): DataFrame = {
      val base = ms.columns.toSeq.filterNot(sources.contains)
      def shaped(df: DataFrame, e: Column, s: Column, c: Column) =
        df.select(base.map(col) ++
          Seq(e.as("engine"), s.as("source"), c.as("count")): _*)
      val exploded = ms
        .withColumn("single", explode(col("search_counts")))
        .filter(col("single.count") < SearchAggregates.MaxClientSearchCount)
      val searches = shaped(exploded, col("single.engine"),
        col("single.source"), col("single.count"))
      def mapBranch(column: String, tag: String): Option[DataFrame] =
        if (!ms.columns.contains(column)) None
        else Some(shaped(
          ms.withColumn("__e", explode(transform(map_entries(col(column)),
            e => struct(e.getField("key").as("engine"), lit(tag).as("source"),
              e.getField("value").as("count"))))),
          col("__e.engine"), col("__e.source"),
          col("__e.count").cast("long")))
      val zeros = shaped(ms.where(col("search_counts").isNull),
        lit(null).cast("string"), lit(null).cast("string"), lit(0L))
      (Seq(searches) ++
        mapBranch("scalar_parent_browser_search_ad_clicks", "ad-click:") ++
        mapBranch("scalar_parent_browser_search_with_ads",
          "search-with-ads:") :+ zeros).reduce(_ union _)
    }

    def agg(ms: DataFrame, grouping: Seq[String],
        aggs: Seq[Column]): DataFrame = {
      val all = aggs :+ sum("count").as("count")
      val aggregated =
        SearchAggregates.addDerivedColumns(rows(ms))
          .groupBy((grouping :+ "type").map(col): _*)
          .agg(all.head, all.tail: _*)
      val pivotGroup =
        aggregated.columns.filterNot(Seq("type", "count").contains)
      aggregated.groupBy(pivotGroup.map(col): _*)
        .pivot("type", SearchAggregates.SearchTypes)
        .sum("count")
        .withColumn("tagged_sap", col("tagged-sap"))
        .withColumn("tagged_follow_on", col("tagged-follow-on"))
        .withColumn("ad_click", col("ad-click"))
        .withColumn("search_with_ads", col("search-with-ads"))
    }
  }

  private val adClicks = "scalar_parent_browser_search_ad_clicks"
  private val withAds = "scalar_parent_browser_search_with_ads"

  /** Every edge of the four branches. Client attributes are constant per
    * client, so `first()` picks the same value in both formulations.
    */
  private def edgeCases: DataFrame = {
    val clientC = Map("client_id" -> "c", "country" -> "FR",
      "os" -> "linux", "locale" -> "fr", "sample_id" -> "7",
      "active_addons" -> Seq(addon("some@addon")))
    df(
      Map("document_id" -> "d1", "search_counts" -> Seq(
        searchCount("google", "urlbar", 3L), null,
        searchCount("bing", "searchbar", 9999L),
        searchCount("bing", "searchbar", 10000L),
        Row("bing", "urlbar", null),
        searchCount("google", null, 1L),
        searchCount("google", "sap:urlbar:code", 2L),
        searchCount("google", "follow-on:urlbar:code", 2L),
        searchCount("google", "in-content:sap:x", 1L),
        searchCount("google", "in-content:sap-follow-on:x", 1L),
        searchCount("google", "in-content:organic:x", 1L),
        searchCount("google", "ad-click:urlbar", 1L),
        searchCount("google", "search-with-ads:urlbar", 1L),
        searchCount("google", "mystery", 1L)),
        adClicks -> Map("google" -> 2L, "bing" -> null),
        withAds -> Map("google" -> 5L)),
      Map("document_id" -> "d2", "search_counts" -> null,
        adClicks -> null, withAds -> Map("google" -> 1L)),
      Map("document_id" -> "d3", "client_id" -> "b",
        "search_counts" -> Seq(), adClicks -> Map("bing" -> 3L),
        withAds -> null),
      Map("document_id" -> "d4", "client_id" -> "b",
        "search_counts" -> null),
      clientC ++ Map("document_id" -> "d5", "search_counts" -> Seq(
        searchCount("google", "urlbar", 1L),
        searchCount(null, "urlbar", 2L))),
      clientC ++ Map("document_id" -> "d6", "search_counts" -> Seq(
        searchCount("google", "urlbar", 4L)), adClicks -> Map()))
  }

  private def assertSame(actual: DataFrame, expected: DataFrame): Unit = {
    actual.schema.map(f => f.name -> f.dataType) shouldBe
      expected.schema.map(f => f.name -> f.dataType)
    def bag(d: DataFrame) =
      d.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
    bag(actual) shouldBe bag(expected)
  }

  it should "give the union + pivot formulation's rows and columns" in {
    val full = edgeCases
    for (in <- Seq(full, full.drop(adClicks, withAds))) {
      assertSame(SearchAggregates.explodeSearchCounts(in),
        Reference.rows(in))
      assertSame(SearchAggregates.searchClientsDaily(in),
        Reference.agg(in, SearchAggregates.ClientsDailyGrouping,
          SearchAggregates.clientsDailyAggregates))
      assertSame(SearchAggregates.searchAggregates(in),
        Reference.agg(in, SearchAggregates.AggregatesGrouping, Seq.empty)
          .where(col("engine").isNotNull))
    }
  }

  it should "scan the input once and aggregate once" in {
    val path = Files.createTempDirectory("graft-search-plan").toString
    edgeCases.write.mode("overwrite").parquet(path)
    val plan = SearchAggregates.searchAggregates(spark.read.parquet(path))
      .queryExecution.executedPlan
    collect(plan) { case s: FileSourceScanExec => s } should have size 1
    collect(plan) { case u: UnionExec => u } shouldBe empty
    collect(plan) { case e: ShuffleExchangeExec => e } should have size 1
  }

  it should "refuse a grouping without source" in {
    val e = intercept[IllegalArgumentException] {
      SearchAggregates.aggSearchData(df(Map.empty[String, Any]),
        Seq("client_id"), Seq.empty)
    }
    e.getMessage should include("must group by source")
  }
}
