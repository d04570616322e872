package graft.cli

import org.apache.spark.sql.SparkSession
import graft.jobs._

/** Single CLI entry point dispatching the job family — the engine's
  * equivalent of the reference's `mozetl <command>` click group
  * (mozetl/cli.py:23-50). Local paths stand in for the reference's
  * s3 bucket/prefix pairs; each command is
  *
  *   sbt "runMain graft.cli.Main <command> key=value ..."
  *
  * Commands (cli.py parity + this engine's extra job ports):
  * clients_daily, experiments_daily, search_aggregates,
  * search_clients_daily, addon_aggregates, sync_bookmark_validation,
  * landfill_sampler, taar_lite, taar_lite_guidranking, taar_locale,
  * taar_similarity, taar_dynamo, taar_amodump, taar_amowhitelist,
  * taar_update_whitelist, taar_ensemble, system_check,
  * modules_with_missing_symbols, top_signatures_correlations,
  * shield_privacy_prefs, basic_transform, graphics_dashboard,
  * hardware_report, bhr_collection. `search_dashboard` aliases
  * search_aggregates (cli.py:49). Beyond the reference set: `curate`
  * (quality rules → decontamination → near-dup keep-one over a document
  * corpus), `spandedup` (ExactSubstr duplicate-span removal), `pack`,
  * `mix`, `transitions`, `classify` (NB train+score), `sample`
  * (weighted sampling w/o replacement), `drift` (JS divergence gate),
  * `monitor` (SCD2 snapshot merge + JS/PSI drift vs the previous crawl).
  */
object Main {

  private def opts(args: Array[String]): Map[String, String] =
    args.drop(1).flatMap { a =>
      a.split("=", 2) match {
        case Array(k, v) => Some(k.stripPrefix("--") -> v)
        case _ => None
      }
    }.toMap

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.cli.Main <command> key=value ...")
    val command = args(0)
    val o = opts(args)
    val spark = graft.core.Graft.localSession(
      o.getOrElse("cores", "4").toInt, appName = s"graft-$command")
    graft.core.GraftExtensions.register(spark)
    try dispatch(spark, command, o)
    finally spark.stop()
  }

  /** Command dispatch against a caller-supplied session (testable). */
  def dispatch(spark: SparkSession, command: String,
      o: Map[String, String]): Unit = {
    def required(k: String): String =
      o.getOrElse(k, sys.error(s"$command requires --$k=<value>"))
    run(spark, command, o, required)
  }

  /** Tiny JSON renderer for the driver-side report artifacts (K5): the
    * dashboards/report dicts are nested maps of simple values.
    */
  private[cli] def toJson(v: Any): String = v match {
    case null => "null"
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c => c.toString
      } + "\""
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, mv) => toJson(k.toString) + ":" + toJson(mv) }
        .sorted.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(toJson).mkString("[", ",", "]")
    case (a, b) => toJson(Seq(a, b))
    case other => other.toString
  }

  private def writeJson(path: String, v: Any): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, toJson(v))
  }

  private def run(spark: SparkSession, command: String,
      o: Map[String, String], required: String => String): Unit = {
    def input = spark.read.parquet(required("input"))
    def write(df: org.apache.spark.sql.DataFrame, path: String,
        coalesceTo: Int = 0): Unit = {
      val out = if (coalesceTo > 0) df.coalesce(coalesceTo) else df
      out.write.mode(o.getOrElse("save-mode", "overwrite")).parquet(path)
      println(s"[graft] $command wrote $path")
    }

    // Registers the clients_daily view a TAAR command queries, once the
    // input has every column that command reads: graft's own clients_daily
    // writes neither active_addons nor submission_date_s3, and a missing
    // column should fail here by name, not as a Spark resolution error.
    def clientsDailyView(columns: String*): Unit = {
      val in = input
      val have = in.columns.map(_.toLowerCase).toSet
      val missing = columns.filterNot(c => have(c.toLowerCase))
      require(missing.isEmpty, s"$command needs clients_daily columns " +
        s"${missing.mkString(", ")}, absent from ${required("input")}")
      in.createOrReplaceTempView("clients_daily")
    }

    command match {
      case "clients_daily" =>
        val (windowed, startDate) =
          clientsdaily.Rollup.extractSubmissionWindowForActivityDay(
            input, required("date"), o.getOrElse("lag-days", "10").toInt)
        val sampled = o.get("sample-id") match {
          case Some(sid) => windowed.where(s"sample_id = '$sid'")
          case None => windowed
        }
        val results = clientsdaily.Rollup.toProfileDayAggregates(
          clientsdaily.Rollup.extractSearchCounts(sampled))
        write(results,
          s"${required("output")}/activity_date_s3=$startDate",
          clientsdaily.Rollup.partitionCountForWriting(
            o.contains("sample-id")))

      case "experiments_daily" =>
        val (windowed, startDate) =
          clientsdaily.Rollup.extractSubmissionWindowForActivityDay(
            experiments.ExperimentsDaily.loadFilter(input),
            required("date"), o.getOrElse("lag-days", "10").toInt)
        write(experiments.ExperimentsDaily.toExperimentProfileDayAggregates(
          clientsdaily.Rollup.extractSearchCounts(windowed)),
          s"${required("output")}/activity_date_s3=$startDate")

      case "search_aggregates" =>
        search.Rollups.searchAggregatesEtl(spark, required("date"),
          required("input"), required("output"),
          o.getOrElse("save-mode", search.Rollups.DefaultSaveMode))

      case "search_clients_daily" =>
        search.Rollups.searchClientsDailyEtl(spark, required("date"),
          required("input"), required("output"),
          o.getOrElse("save-mode", search.Rollups.DefaultSaveMode))

      case "addon_aggregates" =>
        val day = input.where(s"submission_date_s3 = '${required("date")}'")
        write(addons.AddonAggregates.run(day),
          s"${required("output")}/submission_date_s3=${required("date")}")

      case "sync_bookmark_validation" =>
        input.where(s"submission_date_s3 = '${required("date")}'")
          .createOrReplaceTempView("sync_summary")
        val (problems, aggs) = sync.BookmarkValidation.transform(spark)
        write(problems, s"${required("output")}/bmk_validation_problems", 1)
        write(aggs, s"${required("output")}/bmk_total_per_day", 1)

      case "landfill_sampler" =>
        landfill.Sampler.transform(input,
          o.getOrElse("n-documents", "1000").toInt)
          .write.mode(o.getOrElse("save-mode", "overwrite"))
          .partitionBy("namespace", "doc_type", "doc_version")
          .json(required("output"))
        println(s"[graft] landfill_sampler wrote ${required("output")}")

      case "taar_lite" =>
        clientsDailyView("client_id", "active_addons", "channel",
          "normalized_channel", "app_name")
        val wl = required("whitelist").split(",").toSeq
        write(taar.LiteGuidGuid.transform(
          taar.LiteGuidGuid.extractTelemetry(spark, wl)),
          required("output"))

      case "taar_lite_guidranking" =>
        clientsDailyView("active_addons", "channel", "app_name")
        write(taar.LiteGuidRanking.extractTelemetry(spark), required("output"))

      case "taar_locale" =>
        clientsDailyView("client_id", "submission_date_s3", "locale",
          "active_addons", "app_name", "channel")
        val wl = required("whitelist").split(",").toSeq
        val dict = taar.Locale.generateDictionary(spark, wl,
          required("start-date"), o.getOrElse("num-addons", "10").toInt,
          seed = o.getOrElse("seed", "42").toLong)
        val json = dict.map { case (loc, addons) =>
          s""""$loc": [${addons.map { case (a, w) => s"""["$a", $w]""" }
            .mkString(", ")}]"""
        }.mkString("{", ", ", "}")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(required("output")), json)
        println(s"[graft] taar_locale wrote ${required("output")}")

      case "search_dashboard" => // cli.py:49 back-compat alias
        run(spark, "search_aggregates", o, required)

      case "taar_similarity" =>
        input.createOrReplaceTempView("clients_daily")
        val wl = required("whitelist").split(",").toSeq
        val (clusterIds, donors) = taar.Similarity.getDonors(spark,
          o.getOrElse("num-clusters", "4").toInt,
          o.getOrElse("num-donors", "100").toInt,
          wl, required("date-from"),
          Some(o.getOrElse("seed", "42").toLong))
        println(s"[graft] taar_similarity clusters: ${clusterIds.mkString(",")}")
        write(donors, required("output"))

      case "taar_dynamo" =>
        val rows = taar.Dynamo.extractTransform(input,
          o.getOrElse("sample-rate", "0.0").toDouble)
        // the DynamoDB boundary is out of scope (K6): persist the payload
        // frame and drive the batching sink with an accept-all stub so
        // the load-stats surface still runs
        write(rows, required("output"))
        val stats = taar.Dynamo.load(rows,
          new taar.Dynamo.KeyValueSink {
            def putBatch(b: Seq[(String, String, String)]): Seq[String] =
              Seq.empty
          })
        println(s"[graft] taar_dynamo pushed=${stats.pushed} seen=${stats.seen}")

      case "taar_amodump" =>
        taar.AmoDump.writeDatabase(
          taar.AmoDump.parse(spark, required("input")), required("output"))
        println(s"[graft] taar_amodump wrote ${required("output")}")

      case "taar_amowhitelist" =>
        val addons = taar.AmoDump.toClassifierInput(
          taar.AmoDump.parse(spark, required("input")))
        val now = java.time.LocalDate.parse(
          o.getOrElse("date", java.time.LocalDate.now.toString))
        taar.AmoWhitelist.transform(addons, now).foreach { case (name, list) =>
          writeJson(s"${required("output")}/$name.json", list.map(_.guid))
        }
        println(s"[graft] taar_amowhitelist wrote ${required("output")}")

      case "taar_update_whitelist" =>
        val guids = spark.read.json(required("input"))
          .select("guid").collect()
          .map(r => taar.UpdateWhitelist.EditorialRow(
            Option(r.getAs[String]("guid"))))
        val parsed = taar.UpdateWhitelist.parseRows(guids.toSeq,
          o.get("allow-short").exists(_.toBoolean))
        writeJson(required("output"), parsed)
        println(s"[graft] taar_update_whitelist wrote ${parsed.length} guids")

      case "taar_ensemble" =>
        input.createOrReplaceTempView("clients_daily")
        val folds = taar.Ensemble.crossValidationSplit(
          taar.Ensemble.extract(spark, required("date-from"),
            o.getOrElse("min-installed-addons", "4").toInt),
          o.getOrElse("k-folds", "3").toInt,
          Some(o.getOrElse("seed", "42").toLong))
        // the three pretrained recommenders are injected resources in the
        // reference (tests stub them the same way, test_taar_ensemble
        // .py:60-93); the CLI ships a deterministic self-score stub
        object Rec extends taar.Ensemble.Recommender {
          def recommend(info: Map[String, Any], limit: Int): Seq[(String, Double)] =
            info("installed_addons").asInstanceOf[Seq[String]]
              .take(limit).map(_ -> 0.5)
        }
        val stacked = taar.Ensemble.buildStackedDatasets(spark, folds,
          Seq(Rec, Rec, Rec),
          r => Map("installed_addons" -> r.getSeq[String](
            r.fieldIndex("installed_addons"))))
        val coefs = taar.Ensemble.computeRegression(spark, stacked,
          o.getOrElse("reg-param", "0.1").toDouble,
          o.getOrElse("elastic-net", "0.0").toDouble)
        writeJson(required("output"), coefs)
        println(s"[graft] taar_ensemble wrote ${required("output")}")

      case "system_check" =>
        SystemCheck.run(spark, required("input"), required("output"),
          o.getOrElse("describe-cols", "").split(",").filter(_.nonEmpty).toSeq)

      case "modules_with_missing_symbols" =>
        def set(k: String) =
          o.getOrElse(k, "").split(",").filter(_.nonEmpty).toSet
        val reportDf = symbolication.MissingSymbols.report(input,
          knownModules = set("known-modules"),
          firefoxModules = set("firefox-modules"),
          windowsModules = set("windows-modules"),
          oldMajorVersions =
            o.getOrElse("old-major-versions", "").split(",")
              .filter(_.nonEmpty).toSeq,
          minCrashes = o.getOrElse("min-crashes", "70").toLong)
        write(reportDf, required("output"), 1)
        val rows = symbolication.MissingSymbols.finalizeReport(reportDf)
        println(s"[graft] modules_with_missing_symbols: ${rows.length} modules")

      case "top_signatures_correlations" =>
        val attrs = required("attributes").split(",").toSeq
        val (devs, addonRelated) = symbolication.SignatureCorrelations.run(
          input, attrs, o.getOrElse("top-n", "200").toInt)
        symbolication.SignatureCorrelations.writeReports(devs,
          s"${required("output")}/correlations")
        write(addonRelated, s"${required("output")}/addon_related", 1)

      case "shield_privacy_prefs" =>
        val out = shield.PrivacyPrefs.write(
          shield.PrivacyPrefs.transform(input),
          required("output"), required("date"))
        println(s"[graft] shield_privacy_prefs wrote $out")

      case "basic_transform" =>
        // --columns=name:slash/path,... --filter=<sql predicate>
        val cols = required("columns").split(",").toSeq.map { spec =>
          val Array(name, path) = spec.split(":", 2)
          basic.Transform.ColumnConfig(name, path)
        }
        val cfg = basic.Transform.FrameConfig(cols,
          org.apache.spark.sql.functions.expr(o.getOrElse("filter", "true")))
        write(basic.Transform.convertPings(input, cfg,
          o.getOrElse("raw-col", "raw")), required("output"))

      case "graphics_dashboard" =>
        graft.core.Lineage.scoped { scope =>
          val pings = scope.persisted(graphics.Dashboard.normalize(input))
          val windows = pings.where("OSName = 'Windows'")
          val tdr = graphics.Dashboard.tdrStatistics(windows)
          val sys0 = graphics.Dashboard.systemStatistics(pings, windows)
          val sanity = graphics.Dashboard.sanityTestStatistics(windows)
          val startup = graphics.Dashboard.startupTestStatistics(pings)
          val monitors = graphics.Dashboard.monitorStatistics(windows)
          writeJson(s"${required("output")}/general.json",
            graphics.Dashboard.generalStatistics(pings))
          writeJson(s"${required("output")}/by-version.json",
            graphics.Dashboard.statisticsByFxVersion(pings))
          writeJson(s"${required("output")}/device-statistics.json",
            graphics.Dashboard.deviceStatistics(pings))
          writeJson(s"${required("output")}/tdr-statistics.json", Map(
            "tdrPings" -> tdr.tdrPings, "results" -> tdr.results,
            "reasonToVendor" -> tdr.reasonToVendor.map { case (k, v) =>
              k.toString -> v },
            "vendorToReason" -> tdr.vendorToReason))
          writeJson(s"${required("output")}/system-statistics.json", Map(
            "logical_cores" -> sys0.logicalCores,
            "x86" -> Map("total" -> sys0.x86Total,
              "features" -> sys0.x86Features),
            "memory" -> sys0.memory, "wow" -> sys0.wow))
          writeJson(s"${required("output")}/sanity-test-statistics.json", Map(
            "sanityTestPings" -> sanity.sanityTestPings,
            "totalPings" -> sanity.totalPings, "results" -> sanity.results,
            "byVendor" -> sanity.byVendor.map { case (k, v) =>
              k.toString -> v },
            "windows" -> sanity.windows))
          writeJson(s"${required("output")}/startup-test-statistics.json", Map(
            "startupTestPings" -> startup.startupTestPings,
            "results" -> startup.results, "windows" -> startup.windows))
          writeJson(s"${required("output")}/monitor-statistics.json", Map(
            "counts" -> monitors.counts,
            "refreshRates" -> monitors.refreshRates,
            "resolutions" -> monitors.resolutions))
          writeJson(s"${required("output")}/mac-statistics.json",
            graphics.Dashboard.macStatistics(pings))
          writeJson(s"${required("output")}/linux-statistics.json",
            graphics.Dashboard.linuxStatistics(pings))
          val wf = graphics.Dashboard.windowsFeatures(windows)
          def slice(s: graphics.Dashboard.FeatureSlice) = Map(
            "count" -> s.count, "compositors" -> s.compositors,
            "content_backends" -> s.contentBackends, "d3d11" -> s.d3d11,
            "d2d" -> s.d2d, "warp" -> s.warp,
            "media_decoders" -> s.mediaDecoders,
            "gpu_process" -> s.gpuProcess,
            "advanced_layers" -> s.advancedLayers)
          writeJson(s"${required("output")}/windows-features.json", Map(
            "all" -> slice(wf.all),
            "textureSharing" -> wf.textureSharing,
            "byVersion" -> wf.byVersion.map { case (v, s) => v -> slice(s) },
            "d3d11_blacklist" -> Map(
              "devices" -> wf.blacklistedDevices,
              "drivers" -> wf.blacklistedDrivers,
              "os" -> wf.blacklistedOs),
            "d3d11_blocked" -> Map("vendors" -> wf.blockedVendors)))
          def outcomes(o: graphics.Dashboard.WebGlOutcomes) = Map(
            "successes" -> Map("count" -> o.successCount,
              "os" -> o.successByOs, "compositors" -> o.successByCompositor),
            "failures" -> Map("count" -> o.failureCount,
              "os" -> o.failureByOs, "vendors" -> o.failureByVendor,
              "devices" -> o.failureByDevice, "drivers" -> o.failureByDriver))
          writeJson(s"${required("output")}/webgl-statistics.json", Map(
            "webgl1" -> outcomes(
              graphics.Dashboard.webglOutcomes(pings, "webglSuccess")),
            "webgl2" -> outcomes(
              graphics.Dashboard.webglOutcomes(pings, "webgl2Success")),
            "general" -> graphics.Dashboard.webglFailureIds(pings)))
        }
        println(s"[graft] graphics_dashboard wrote ${required("output")}")

      case "hardware_report" =>
        val deviceMap = o.get("device-map") match {
          case Some(path) => spark.read.json(path)
            .select("vendor_id", "device_id", "family", "chipset")
          case None => hardware.Dimensions.deviceMapDf(spark, Seq.empty)
        }
        val (n, report) = hardware.HardwareReport.assembleReport(
          input, deviceMap,
          // default -1 → 1% of the sample, the reference's own default
          o.get("count-threshold").map(_.toLong).getOrElse(-1L))
        writeJson(required("output"), report ++ Map(
          "sampleCount" -> Map("total" -> n.toDouble)))
        println(s"[graft] hardware_report: $n clients → ${required("output")}")

      case "bhr_collection" =>
        import org.apache.spark.sql.Encoders
        val hangs = input.as(Encoders.product[bhr.BhrCollection.Hang])
        val agg = bhr.BhrCollection.aggregateHangs(hangs)
        val processor = new bhr.ProfileProcessor(
          bhr.ProfileProcessor.Config(
            uuid = o.getOrElse("uuid", "graft-bhr"),
            stackAcceptanceThreshold =
              o.getOrElse("stack-acceptance-threshold", "0.0").toDouble))
        processor.ingest(bhr.BhrCollection.toSampleRows(agg))
        val profile = processor.processIntoProfile()
        writeJson(required("output"), Map(
          "uuid" -> profile.uuid,
          "usageHoursByDate" -> profile.usageHoursByDate,
          "threads" -> profile.threads.map(t => Map(
            "name" -> t.name, "processType" -> t.processType,
            "samples" -> t.sampleTable.length.toLong,
            "stacks" -> t.stackTable.length.toLong,
            "funcs" -> t.funcTable.length.toLong,
            "dates" -> t.dates.map(_.date)))))
        println(s"[graft] bhr_collection wrote ${required("output")}")

      // End-to-end corpus curation (beyond-reference; the LLM-data
      // pipeline this engine's operator family exists for):
      //   quality rules → optional eval-set decontamination → near-dup
      //   cluster resolution keeping one doc per cluster.
      // --input/--output parquet; --id-col/--text-col (defaults doc_id/
      // text); --probe-path: newline-delimited n-grams to decontaminate
      // against (skipped when absent); --probe-input: a PARQUET of
      // benchmark documents instead (the large-probe hashed-join path;
      // --probe-text-col defaults to text, --max-overlap sets the
      // fraction threshold, default 0 = any hit); --min-words /
      // --jaccard tune the two main knobs. Writes the surviving
      // documents plus a JSON stats artifact (--stats-output) recording
      // per-stage survivor counts.
      case "curate" =>
        import org.apache.spark.sql.functions.col
        val idCol = o.getOrElse("id-col", "doc_id")
        val textCol = o.getOrElse("text-col", "text")
        val ngram = o.getOrElse("ngram", "3").toInt
        val docs = input
        val quality = graft.text.QualityRules.gopherQuality(docs, idCol,
            textCol, minWords = o.getOrElse("min-words", "40").toLong)
          .filter(col("keep") === 1).select(col(idCol))
        val qualified = docs.join(quality, Seq(idCol))
        val decontaminated = (o.get("probe-input"), o.get("probe-path")) match {
          case (Some(pp), _) =>
            // large-probe path: benchmark docs as parquet, shingles
            // hashed on both sides, broadcast join (see Contamination
            // .decontaminateJoin) — --probe-path is ignored when both
            // are given
            graft.text.Contamination.decontaminateJoin(
              qualified, idCol, textCol,
              spark.read.parquet(pp),
              o.getOrElse("probe-text-col", "text"), n = ngram,
              maxOverlapFrac = o.getOrElse("max-overlap", "0.0").toDouble)
          case (None, Some(p)) =>
            val probe = scala.io.Source.fromFile(p)
            val grams =
              try probe.getLines().map(_.trim).filter(_.nonEmpty).toSeq
              finally probe.close()
            // a probe line that isn't an n-token gram can never equal an
            // n-token shingle — that's a silent no-op decontamination, so
            // surface it loudly
            val offSize = grams.filterNot(_.split("\\s+").length == ngram)
            if (offSize.nonEmpty)
              println(s"[graft] curate WARNING: ${offSize.length} probe " +
                s"line(s) are not $ngram-grams and can never match " +
                s"(first: '${offSize.head}'); pass --ngram to align")
            graft.text.Contamination.decontaminate(
              qualified, idCol, textCol, grams, n = ngram)
          case (None, None) => qualified
        }
        // materialize the survivor frame: the dedup stage, the write, and
        // the stats counts would each re-run the quality/contamination
        // passes from scratch otherwise
        graft.core.Lineage.scoped { scope =>
          val survivors = scope.persisted(decontaminated)
          val keepers = graft.dedup.Components.nearDupClusters(
              survivors, idCol, textCol,
              bands = o.getOrElse("bands", "4").toInt,
              threshold = o.getOrElse("jaccard", "0.8").toDouble)
            .filter(col("keep") === 1).select(col(idCol))
          val curated = survivors.join(keepers, Seq(idCol))
          write(curated, required("output"))
          o.get("stats-output").foreach { sp =>
            writeJson(sp, Map(
              "input" -> docs.count(),
              "qualified" -> qualified.count(),
              "decontaminated" -> survivors.count(),
              // count what was actually written, not a recompute
              "curated" -> spark.read.parquet(required("output")).count()))
            println(s"[graft] curate wrote $sp")
          }
        }

      case "profile" =>
        // dataset card: one-pass per-column counts/nulls/cardinality/top
        // value (core/Profile). --cols=a,b,c limits the column set;
        // --output parquet; --stats-output also renders the card as JSON
        val cols = o.get("cols")
          .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Nil)
        val card = graft.core.Profile.profile(input, cols,
            k = o.getOrElse("k", "256").toInt,
            m = o.getOrElse("m", "256").toInt)
          .orderBy("column")
        write(card, required("output"))
        o.get("stats-output").foreach { sp =>
          writeJson(sp, spark.read.parquet(required("output")).collect()
            .map(r => r.getString(0) -> Map(
              "n_rows" -> r.getLong(1), "n_null" -> r.getLong(2),
              "est_distinct" -> r.getLong(3),
              "top_value" -> (if (r.isNullAt(4)) null else r.getString(4)),
              "top_count" -> r.getLong(5))).toMap)
          println(s"[graft] profile wrote $sp")
        }

      case "pack" =>
        // curate → pack: the corpus-to-training-sequences step
        val packed = graft.text.Packing.concatChunk(input,
          o.getOrElse("id-col", "doc_id"), o.getOrElse("text-col", "text"),
          seqLen = o.getOrElse("seq-len", "2048").toInt,
          nShards = o.getOrElse("shards", "32").toInt,
          salt = o.getOrElse("salt", ""))
        write(packed, required("output"))

      case "mix" =>
        // temperature-rebalance a corpus, then (optionally) stamp
        // train/val/test splits — curate → mix → pack is the pipeline
        val idCol = o.getOrElse("id-col", "doc_id")
        val mixed = graft.core.Splits.temperatureSample(input, idCol,
          o.getOrElse("strata-col", "lang"),
          halvings = o.getOrElse("halvings", "1").toInt,
          salt = o.getOrElse("salt", ""))
        val out =
          if (o.contains("val-permille") || o.contains("test-permille"))
            // assign domain-separates its hash from temperatureSample's
            // internally (Splits.SplitDomain), so passing the same salt
            // here is safe — survivors of a damped stratum still split
            // at honest per-stratum fractions
            graft.core.Splits.assign(mixed, idCol,
              salt = o.getOrElse("salt", ""),
              valPermille = o.getOrElse("val-permille", "10").toInt,
              testPermille = o.getOrElse("test-permille", "10").toInt)
          else mixed
        write(out, required("output"))

      case "transitions" =>
        val m = graft.operators.Transitions.matrix(input,
          o.getOrElse("entity-col", "user_id"),
          o.getOrElse("state-col", "event_type"),
          o.getOrElse("order-cols", "ts").split(','): _*)
        write(m.orderBy("from_state", "to_state"), required("output"), 1)

      case "spandedup" =>
        // ExactSubstr duplicate-span removal — the sub-document
        // complement to curate's whole-document keep-one: run BEFORE
        // curate so shared boilerplate doesn't inflate near-dup scores
        write(graft.text.SpanDedup.dedupSpans(input,
          o.getOrElse("id-col", "doc_id"), o.getOrElse("text-col", "text"),
          spanTokens = o.getOrElse("span-tokens", "20").toInt),
          required("output"))

      case "classify" =>
        // NB quality/language classifier: train on --input (labeled),
        // score --score-input (defaults to the training corpus) →
        // (id, pred, score_lw) parquet
        val buckets = o.getOrElse("buckets", "4096").toInt
        val idCol = o.getOrElse("id-col", "doc_id")
        val textCol = o.getOrElse("text-col", "text")
        val m = graft.text.NbClassifier.train(input,
          o.getOrElse("label-col", "lang"), textCol, buckets)
        val toScore = o.get("score-input")
          .map(spark.read.parquet(_)).getOrElse(input)
        write(graft.text.NbClassifier.score(toScore, idCol, textCol, m,
          buckets), required("output"))

      case "sample" =>
        // weighted sampling without replacement (E-S): top --k rows by
        // quality/length weight, optionally per --strata-col
        write(graft.core.Splits.weightedSample(input,
          o.getOrElse("id-col", "doc_id"), required("weight-col"),
          k = required("k").toInt, salt = o.getOrElse("salt", ""),
          strataCols = o.get("strata-col").toSeq), required("output"))

      case "compact" =>
        // small-file compaction planning: the --input file inventory
        // (file/size columns) becomes a merge plan toward --target-bytes,
        // optionally per --group-col partition and in --order-col layout
        // order; the plan lands at --output, headline counts at
        // --stats-output for the maintenance scheduler
        val fileCol = o.getOrElse("file-col", "file")
        val sizeCol = o.getOrElse("size-col", "size")
        val groups = o.get("group-col").toSeq
        val (nFiles, nBins) = graft.core.Lineage.scoped { scope =>
          val plan = scope.persisted(graft.core.Compaction.planBins(input,
            fileCol, sizeCol, required("target-bytes").toLong,
            groupCols = groups, orderCols = o.get("order-col").toSeq))
          write(plan, required("output"))
          (plan.count(),
            graft.core.Compaction.binSummary(plan, sizeCol, groups).count())
        }
        o.get("stats-output").foreach(p => writeJson(p, Map(
          "n_files" -> nFiles, "n_bins" -> nBins)))
        println(s"[graft] compact planned $nFiles files into $nBins bins")

      case "drift" =>
        // corpus drift gate: JS divergence between --input and
        // --reference token distributions (+ PSI over --psi-col when
        // given); exits the JSON to --stats-output for release tooling
        val ref = spark.read.parquet(required("reference"))
        val row = graft.text.Divergence.jsTokens(input, ref,
          o.getOrElse("text-col", "text")).head()
        val psiPart = o.get("psi-col").map { pc =>
          val p = graft.text.Divergence.psi(input, ref, pc,
            bins = o.getOrElse("psi-bins", "10").toInt).head()
          Map(s"psi_$pc" ->
            (if (p.isNullAt(3)) null else p.getDouble(3)))
        }.getOrElse(Map.empty)
        // transport-aware numeric drift (W1) — PSI sees bins as
        // symbols, Wasserstein charges distance
        val w1Part = o.get("wasserstein-col").map { wc =>
          val w = graft.text.Divergence.wasserstein1(input, ref, wc)
            .head()
          Map(s"wasserstein_$wc" ->
            (if (w.isNullAt(4)) null else w.getDouble(4)))
        }.getOrElse(Map.empty)
        // embedding-space drift: centroid cosine per the whole corpus
        // (one group) when --vec-col is given
        val vecPart = o.get("vec-col").map { vc =>
          import org.apache.spark.sql.functions.lit
          val both = input.select(org.apache.spark.sql.functions
              .col(vc).as("v")).withColumn("side", lit(true))
            .unionByName(ref.select(org.apache.spark.sql.functions
              .col(vc).as("v")).withColumn("side", lit(false)))
            .withColumn("g", lit("all"))
          val c = graft.similarity.EmbeddingDrift.centroidCosine(
            both, "g", "side", "v").head()
          Map("centroid_cos" ->
            (if (c.isNullAt(6)) null else c.getDouble(6)))
        }.getOrElse(Map.empty)
        val report = Map(
          "n_terms" -> row.getLong(0), "tot_a" -> row.getLong(1),
          "tot_b" -> row.getLong(2),
          "js_nats" -> (if (row.isNullAt(3)) null
                        else row.getDouble(3))) ++
          psiPart ++ w1Part ++ vecPart
        writeJson(required("stats-output"), report)
        println(s"[graft] drift wrote ${required("stats-output")}")

      case "monitor" =>
        // Daily warehouse maintenance for a corpus: SCD2-merge today's
        // snapshot (--input) into the running history (--history, absent
        // on the first run → bootstrapped) AND report drift of the new
        // snapshot against the previously-open corpus — the composition a
        // training-data pipeline runs per ingest (track every document's
        // attribute history; alarm when today's crawl shifts
        // distribution). Writes the merged history to --output and a
        // drift/merge JSON report to --stats-output.
        import org.apache.spark.sql.functions.{col, lit, sum, when}
        val asOf = required("as-of")
        val idCol = o.getOrElse("id-col", "doc_id")
        val textCol = o.getOrElse("text-col", "text")
        val tracked = o.getOrElse("tracked", "lang,source,n_chars")
          .split(',').map(_.trim).filter(_.nonEmpty).toSeq
        val snapshot = input.select((idCol +: tracked).map(col) :+
          col(textCol): _*)
        val updates = snapshot.select(col(idCol) +: tracked.map(col): _*)
        // first run (--history absent): bootstrap an all-open history
        // from the snapshot itself — the merge is then a no-op and the
        // report describes the bootstrap (validity bounds are STRING
        // dates, merge2's convention)
        val history = o.get("history").map(spark.read.parquet(_))
          .getOrElse(updates
            .withColumn("valid_from", lit(asOf))
            .withColumn("valid_to", lit(null).cast("string")))
        val report: Map[String, Any] = graft.core.Lineage.scoped { scope =>
          val merged = scope.persisted(graft.operators.Scd.merge2(history,
            updates, keys = Seq(idCol), tracked = tracked, asOf = asOf,
            closeMissing = true))
          write(merged, required("output"))
          // drift: token JS between today's text and the text of the docs
          // open BEFORE the merge (ids from prev, text from the snapshot-
          // lineage --prev-input when given, else skipped on first run)
          val prevText = o.get("prev-input").map(spark.read.parquet(_))
          val js = prevText.map { pt =>
            val row = graft.text.Divergence.jsTokens(snapshot, pt,
              textCol).head()
            Map("n_terms" -> row.getLong(0), "tot_a" -> row.getLong(1),
              "tot_b" -> row.getLong(2),
              "js_nats" -> (if (row.isNullAt(3)) null else row.getDouble(3)))
          }.getOrElse(Map.empty[String, Any])
          val psiPart = (for {
            pc <- o.get("psi-col"); pt <- prevText
          } yield {
            val p = graft.text.Divergence.psi(snapshot, pt, pc,
              bins = o.getOrElse("psi-bins", "10").toInt).head()
            Map[String, Any](s"psi_$pc" ->
              (if (p.isNullAt(3)) null else p.getDouble(3)))
          }).getOrElse(Map.empty[String, Any])
          // one aggregation pass for all three merge counters
          val c = merged.agg(
            sum(when(col("valid_to").isNull, 1L).otherwise(0L))
              .as("n_open"),
            sum(when(col("valid_from") === asOf, 1L).otherwise(0L))
              .as("n_new_versions"),
            sum(when(col("valid_to") === asOf, 1L).otherwise(0L))
              .as("n_closed_today")).head()
          Map[String, Any](
            "as_of" -> asOf,
            "n_open" -> c.getLong(0),
            "n_new_versions" -> c.getLong(1),
            "n_closed_today" -> c.getLong(2)
          ) ++ js ++ psiPart
        }
        writeJson(required("stats-output"), report)
        println(s"[graft] monitor wrote ${required("stats-output")}")

      case "codedetect" =>
        // modality routing: score --input docs, write per-doc signals +
        // flags to --output, and a JSON modality census to
        // --stats-output when given
        import org.apache.spark.sql.functions.{col, sum, when, lit, count}
        val scored = graft.text.CodeDetect.score(input,
          o.getOrElse("text-col", "text"),
          threshold = o.getOrElse("threshold", "80.0").toDouble)
        write(scored, required("output"))
        o.get("stats-output").foreach { so =>
          val c = scored.agg(count(lit(1)).as("n"),
            sum(when(col("is_code"), 1L).otherwise(0L)).as("n_code"))
            .head()
          writeJson(so, Map("n_docs" -> c.getLong(0),
            "n_code" -> c.getLong(1)))
        }
        println(s"[graft] codedetect wrote ${required("output")}")

      case "rules" =>
        // market-basket rules: --basket-col/--item-col over --input,
        // Apriori-pruned at --min-count, written ordered by lift
        import org.apache.spark.sql.functions.col
        val out = graft.operators.AssocRules.pairRules(input,
            o.getOrElse("basket-col", "basket"),
            o.getOrElse("item-col", "item"),
            o.getOrElse("min-count", "10").toLong)
          .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
        write(out, required("output"))
        println(s"[graft] rules wrote ${required("output")}")

      case "kcore" =>
        // graph density filter: peel --input edges (--src-col/--dst-col)
        // at --k for --rounds, write surviving (id, degree)
        import org.apache.spark.sql.functions.col
        val srcCol = o.getOrElse("src-col", "src")
        val dstCol = o.getOrElse("dst-col", "dst")
        val nodes = input.select(col(srcCol).as("id"))
          .union(input.select(col(dstCol).as("id"))).distinct()
        val out = graft.graph.KCore.peel(nodes, "id", input,
          srcCol, dstCol, o.getOrElse("k", "2").toInt,
          o.getOrElse("rounds", "3").toInt)
        write(out.orderBy("id"), required("output"))
        println(s"[graft] kcore wrote ${required("output")}")

      case "abtest" =>
        // experiment readout in one pass: Welch t + Mann-Whitney z per
        // group pair (and CUPED adjustment when --covariate-col is
        // given), written as one JSON report
        val g = o.getOrElse("group-col", "variant")
        val v = o.getOrElse("metric-col", "value")
        val welch = graft.operators.Hypothesis.welchT(input, g, v)
          .collect().map(r => Map(
            "group_a" -> r.get(0).toString, "group_b" -> r.get(1).toString,
            "n_a" -> r.getLong(2), "n_b" -> r.getLong(3),
            "mean_a" -> r.getDouble(4), "mean_b" -> r.getDouble(5),
            "t_stat" -> (if (r.isNullAt(6)) null else r.getDouble(6)),
            "df_welch" -> (if (r.isNullAt(7)) null else r.getDouble(7))))
        val mw = graft.operators.Hypothesis.mannWhitney(input, g, v)
          .collect().map(r => Map(
            "group_a" -> r.get(0).toString, "group_b" -> r.get(1).toString,
            "u" -> r.getDouble(5),
            "z_score" -> (if (r.isNullAt(7)) null else r.getDouble(7))))
        val cuped = o.get("covariate-col").map { cc =>
          graft.operators.Cuped.adjustedMeans(input, g, cc, v,
              quantScale = o.getOrElse("quant-scale", "1000000").toDouble)
            .collect().map(r => Map(
              "variant" -> r.get(0).toString, "n" -> r.getLong(1),
              "mean_y" -> r.getDouble(3),
              "theta" -> (if (r.isNullAt(4)) null else r.getDouble(4)),
              "rho2" -> (if (r.isNullAt(5)) null else r.getDouble(5)),
              "adj_mean" -> (if (r.isNullAt(6)) null
                             else r.getDouble(6)))).toSeq
        }
        writeJson(required("stats-output"), Map(
          "welch" -> welch.toSeq, "mann_whitney" -> mw.toSeq
        ) ++ cuped.map("cuped" -> _).toMap)
        println(s"[graft] abtest wrote ${required("stats-output")}")

      case other =>
        sys.error(s"unknown command: $other (see Main scaladoc)")
    }
  }
}
