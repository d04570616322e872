package graft.jobs.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Firefox search-count datasets (search_aggregates / search_clients_daily),
  * ported from mozetl/search/aggregates.py.
  *
  * Spark-first: every Python UDF in the reference is replaced by a native
  * expression (no Python workers / no UDF at all):
  *  - get_ad_click_count / get_search_with_ads_count (aggregates.py:190-205)
  *    → transform(map_entries(m), …) — SURVEY §2.9 E3.
  *  - get_search_addon_version (aggregates.py:182-187, positional a[5]/a[0])
  *    → filter(active_addons, …)[0].version with named fields.
  *
  * Each job reads its input once and aggregates once, where the reference
  * scans four times and aggregates twice. Both rewrites give the
  * reference's rows and columns:
  *  - the four-branch union of search rows (aggregates.py:208-284) is one
  *    `explode` over a `concat` of four arrays ([[explodeSearchCounts]]);
  *  - the aggregate-then-pivot (aggregates.py:129-179) is one aggregation
  *    with a `sum(when(type = t, count))` per type ([[aggSearchData]]).
  *    This needs `type` to be a function of `source` and `source` to be a
  *    grouping column; `aggSearchData` requires the latter.
  */
object SearchAggregates {

  /** constants.py:5-15. */
  val SearchSourceWhitelist: Seq[String] = Seq(
    "searchbar", "urlbar", "abouthome", "newtab", "contextmenu", "system",
    "activitystream", "webextension", "alias")

  /** aggregates.py:42. */
  val MaxClientSearchCount = 10000L

  private val sourceColumns = Seq(
    "search_counts",
    "scalar_parent_browser_search_ad_clicks",
    "scalar_parent_browser_search_with_ads")

  private val searchCountType =
    "array<struct<engine:string,source:string,count:bigint>>"

  /** aggregates.py:208-284: one row per (ping, search-count entry), plus
    * ad-click and search-with-ads map entries shaped like search counts,
    * plus a zero row per ping with NULL search_counts (count 0, not NULL,
    * to keep per-user averages easy downstream). Each piece of the concat
    * is coalesced to an empty array, so a NULL input adds no rows, as
    * `explode` of NULL did in the union; NULL elements and NULL counts fail
    * the outlier cap (aggregates.py:226-228). An absent map column adds
    * nothing, like the reference's AnalysisException fallback
    * (aggregates.py:270-273). Columns: every `ms` column except the three
    * search sources, then engine/source/count.
    */
  def explodeSearchCounts(ms: DataFrame): DataFrame = {
    def mapEntries(column: String, sourceTag: String): Option[Column] =
      if (!ms.columns.contains(column)) None
      else Some(transform(map_entries(col(column)),
        e => struct(e.getField("key").as("engine"),
          lit(sourceTag).as("source"),
          e.getField("value").cast("long").as("count"))))

    val pieces = Seq(
      Some(filter(col("search_counts"),
        s => s.getField("count") < MaxClientSearchCount)),
      mapEntries("scalar_parent_browser_search_ad_clicks", "ad-click:"),
      mapEntries("scalar_parent_browser_search_with_ads", "search-with-ads:"),
      Some(when(col("search_counts").isNull, array(struct(
        lit(null).cast("string").as("engine"),
        lit(null).cast("string").as("source"), lit(0L).as("count"))))))
      .flatten.map(p => coalesce(p.cast(searchCountType),
        array().cast(searchCountType)))

    val base = ms.columns.toSeq.filterNot(sourceColumns.contains)
    ms.select(base.map(col) :+ explode(concat(pieces: _*)).as("__s"): _*)
      .select(base.map(col) ++ Seq("engine", "source", "count")
        .map(f => col(s"__s.$f").as(f)): _*)
  }

  /** aggregates.py:287-322: search type classification + addon version.
    * `type` reads `source` and nothing else; [[aggSearchData]] relies on it.
    */
  def addDerivedColumns(exploded: DataFrame): DataFrame = {
    val sourceMappings = Seq(
      "in-content:sap:" -> "tagged-sap",
      "in-content:sap-follow-on:" -> "tagged-follow-on",
      "in-content:organic:" -> "organic",
      "sap:" -> "tagged-sap",
      "follow-on:" -> "tagged-follow-on",
      "ad-click:" -> "ad-click",
      "search-with-ads:" -> "search-with-ads")
    val prefixChain = sourceMappings.foldRight(lit("unknown"): Column) {
      case ((prefix, tag), acc) =>
        when(col("source").startsWith(prefix), tag).otherwise(acc)
    }
    val typeExpr =
      when(col("source").isin(SearchSourceWhitelist: _*), "sap")
        .otherwise(when(col("source").isNull, "sap").otherwise(prefixChain))

    // native replacement for the positional-access UDF (aggregates.py:182-187)
    val followon = expr(
      "filter(active_addons, a -> a.addon_id = 'followonsearch@mozilla.com')")
    val addonVersion = when(col("active_addons").isNotNull &&
      size(followon) > 0, element_at(followon, 1).getField("version"))

    exploded.withColumn("type", typeExpr)
      .withColumn("addon_version", addonVersion)
  }

  /** The seven search types, in the reference's pivot order. */
  val SearchTypes: Seq[String] = Seq("organic", "tagged-sap",
    "tagged-follow-on", "sap", "unknown", "ad-click", "search-with-ads")

  /** aggregates.py:129-179: aggregate, one column per search type. The
    * reference's second aggregation, `pivot("type").sum("count")` over the
    * (groupingCols, type) groups, is folded in as `sum(when(type = t,
    * count))`: with `source` grouped, each group holds one type.
    */
  def aggSearchData(ms: DataFrame, groupingCols: Seq[String],
      aggFunctions: Seq[Column]): DataFrame = {
    require(groupingCols.contains("source"),
      "aggSearchData must group by source: it folds the type pivot into " +
        "the aggregation, which is exact only when each group has one type")
    val byType = SearchTypes.map(t =>
      sum(when(col("type") === t, col("count"))).as(t))
    val aggs = aggFunctions ++ byType
    addDerivedColumns(explodeSearchCounts(ms))
      .groupBy(groupingCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("tagged_sap", col("tagged-sap"))
      .withColumn("tagged_follow_on", col("tagged-follow-on"))
      .withColumn("ad_click", col("ad-click"))
      .withColumn("search_with_ads", col("search-with-ads"))
  }

  private def aggFirstNamed(c: String): Column = first(col(c)).as(c)

  /** aggregates.py:55-105: the search_clients_daily grouping. */
  val ClientsDailyGrouping: Seq[String] =
    Seq("client_id", "submission_date", "engine", "source")

  /** aggregates.py:55-105: the search_clients_daily aggregates. */
  def clientsDailyAggregates: Seq[Column] =
    Seq("country", "app_version", "distribution_id", "locale",
      "user_pref_browser_search_region", "search_cohort", "addon_version",
      "os", "os_version", "channel", "profile_creation_date",
      "default_search_engine", "default_search_engine_data_load_path",
      "default_search_engine_data_submission_url", "sample_id")
      .map(aggFirstNamed) ++
      Seq(
        count(when(col("subsession_counter") === 1, 1))
          .as("sessions_started_on_this_day"),
        first(datediff(col("subsession_start_date"),
          from_unixtime(col("profile_creation_date") * 24 * 60 * 60)))
          .as("profile_age_in_days"),
        sum(col("subsession_length") / 3600.0).as("subsession_hours_sum"),
        avg(size(col("active_addons"))).as("active_addons_count_mean"),
        max(col("scalar_parent_browser_engagement_max_concurrent_tab_count"))
          .as("max_concurrent_tab_count_max"),
        sum(col("scalar_parent_browser_engagement_tab_open_event_count"))
          .as("tab_open_event_count_sum"),
        sum(col("active_ticks") * 5 / 3600.0).as("active_hours_sum"))

  /** aggregates.py:108-126: the search_aggregates grouping. */
  val AggregatesGrouping: Seq[String] =
    Seq("addon_version", "app_version", "country", "distribution_id",
      "engine", "locale", "os", "os_version", "search_cohort", "source",
      "submission_date", "default_search_engine")

  /** aggregates.py:55-105: per-(client, day, engine, source) rollup. */
  def searchClientsDaily(ms: DataFrame): DataFrame =
    aggSearchData(ms, ClientsDailyGrouping, clientsDailyAggregates)

  /** aggregates.py:108-126: executive dashboard rollup. */
  def searchAggregates(ms: DataFrame): DataFrame =
    aggSearchData(ms, AggregatesGrouping, Seq.empty)
      .where(col("engine").isNotNull)
}
