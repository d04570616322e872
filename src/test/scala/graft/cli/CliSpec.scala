package graft.cli

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Smoke paths for the round-5 CLI commands (cli.py parity): each case
  * drives Main.dispatch against parquet/JSON fixtures and asserts the
  * written artifact.
  */
class CliSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(s"graft-cli-$prefix").toString

  private def dispatch(cmd: String, kv: (String, String)*): Unit =
    Main.dispatch(spark, cmd, kv.toMap)

  it should "render JSON for nested maps and sequences" in {
    Main.toJson(Map("b" -> Seq(1L, 2L), "a" -> "x\"y")) shouldBe
      """{"a":"x\"y","b":[1,2]}"""
    Main.toJson(Map("n" -> null)) shouldBe """{"n":null}"""
  }

  it should "dispatch modules_with_missing_symbols" in {
    val in = tmp("missing-in"); val out = tmp("missing-out")
    Seq(
      ("c1", "Firefox", Seq(("bad.dll", "1.0", "D1", "bad.pdb", true))),
      ("c2", "Firefox", Seq(("bad.dll", "1.0", "D1", "bad.pdb", true))))
      .toDF("uuid", "product", "raw")
      .select(col("uuid"), col("product"), expr(
        "transform(raw, m -> named_struct('filename', m._1, 'version', " +
          "m._2, 'debug_id', m._3, 'debug_file', m._4, " +
          "'missing_symbols', m._5)) AS modules"))
      .write.mode("overwrite").parquet(in)
    dispatch("modules_with_missing_symbols",
      "input" -> in, "output" -> out, "min-crashes" -> "0",
      "windows-modules" -> "bad.dll")
    val report = spark.read.parquet(out)
    report.count() shouldBe 1
    report.collect().head.getAs[String]("category") shouldBe "os"
  }

  it should "dispatch top_signatures_correlations" in {
    val in = tmp("corr-in"); val out = tmp("corr-out")
    ((1 to 30).map(_ => ("sigA", "foo")) ++ (1 to 30).map(_ => ("sigB", "bar")))
      .toDF("signature", "Addon").write.mode("overwrite").parquet(in)
    dispatch("top_signatures_correlations",
      "input" -> in, "output" -> out, "attributes" -> "Addon",
      "top-n" -> "2")
    spark.read.json(s"$out/correlations").count() should be >= 2L
    spark.read.parquet(s"$out/addon_related").count() shouldBe 2
  }

  it should "dispatch shield_privacy_prefs and basic_transform" in {
    val in = tmp("shield-in"); val out = tmp("shield-out")
    Seq(
      """{"clientId":"c1","payload":{"study":"@shield-study-privacy","event":"e1"}}""",
      """{"clientId":"c2","payload":{"study_name":"@shield-study-privacy","study_state":"s"}}""",
      """{"clientId":"c3","payload":{"study":"other"}}""")
      .toDF("raw").write.mode("overwrite").parquet(in)
    dispatch("shield_privacy_prefs",
      "input" -> in, "output" -> out, "date" -> "20170101")
    spark.read.parquet(s"$out/submission_date=20170101").count() shouldBe 2

    val out2 = tmp("basic-out")
    dispatch("basic_transform",
      "input" -> in, "output" -> out2,
      "columns" -> "client_id:clientId,event:payload/event",
      "filter" -> "client_id IS NOT NULL")
    spark.read.parquet(out2).count() shouldBe 3
  }

  it should "dispatch graphics_dashboard over raw pings" in {
    import graft.jobs.DashboardSpec._
    val in = tmp("gfx-in"); val out = tmp("gfx-out")
    Seq(
      Ping(memoryMB = 4000L, sanity = Seq(1L, 0L, 0L, 0L, 0L),
        startup = Seq(1L, 0L, 0L, 0L),
        deviceReset = Seq(0L, 2L, 0L, 0L, 0L, 0L, 0L, 0L),
        monitors = Seq(Monitor(1920, 1080, 60, 1))),
      Ping(memoryMB = 16000L))
      .toDS().toDF()
      .withColumn("osName", lit("Windows_NT"))
      .withColumn("osVersion", lit("10.0"))
      .withColumn("servicePackMajor", lit(0))
      .withColumn("buildVersion", lit("55.0.3"))
      .withColumn("adapters", expr(
        "array(named_struct('vendorID', vendorID, 'deviceID', 'dev', " +
          "'driverVersion', '1.1', 'driverVendor', CAST(NULL AS STRING)))"))
      .write.mode("overwrite").parquet(in)
    dispatch("graphics_dashboard", "input" -> in, "output" -> out)
    val tdr = Files.readString(java.nio.file.Paths.get(
      s"$out/tdr-statistics.json"))
    tdr should include(""""tdrPings":1""")
    val sys0 = Files.readString(java.nio.file.Paths.get(
      s"$out/system-statistics.json"))
    // 16000MB → x = 16 → the reference's x <= 16 branch
    sys0 should include(""""8_to_16":1""")
    Files.exists(java.nio.file.Paths.get(s"$out/general.json")) shouldBe true
    Files.readString(java.nio.file.Paths.get(
      s"$out/windows-features.json")) should include(""""all":""")
    Files.readString(java.nio.file.Paths.get(
      s"$out/webgl-statistics.json")) should include(""""webgl1":""")
  }

  it should "dispatch hardware_report with a device map" in {
    val in = tmp("hw-in"); val out = tmp("hw-out")
    val dm = tmp("hw-dm")
    Seq(("x86-64", 4L, 2400L, "GenuineIntel", "0x10de", "0x1401",
      1920L, 1080L, 8192L, "Windows_NT", "10.0", false, false))
      .toDF("browser_arch", "cpu_cores", "cpu_speed", "cpu_vendor",
        "gfx0_vendor_id", "gfx0_device_id", "screen_width", "screen_height",
        "memory_mb", "os_name", "os_version", "is_wow64", "has_flash")
      .write.mode("overwrite").parquet(in)
    Seq(("0x10de", "0x1401", "Maxwell", "GM206"))
      .toDF("vendor_id", "device_id", "family", "chipset")
      .write.mode("overwrite").json(dm)
    dispatch("hardware_report",
      "input" -> in, "output" -> s"$out/report.json", "device-map" -> dm)
    val json = Files.readString(java.nio.file.Paths.get(s"$out/report.json"))
    json should include(""""Maxwell-GM206":1.0""")
    json should include(""""NVIDIA":1.0""")
  }

  it should "dispatch bhr_collection into a profile summary" in {
    val in = tmp("bhr-in"); val out = tmp("bhr-out")
    Seq(
      graft.jobs.bhr.BhrCollection.Hang(Seq("xul.pdb\\A:f1", "xul.pdb\\A:f2"),
        500.0, "Gecko", "r1", "parent", "20170101", "win"),
      graft.jobs.bhr.BhrCollection.Hang(Seq("xul.pdb\\A:f1"),
        300.0, "Gecko_Child", "r2", "content", "20170101", "win"))
      .toDS().toDF().write.mode("overwrite").parquet(in)
    dispatch("bhr_collection", "input" -> in, "output" -> s"$out/profile.json")
    val json = Files.readString(java.nio.file.Paths.get(s"$out/profile.json"))
    json should include(""""name":"Gecko"""")
    json should include(""""processType":"tab"""")
  }

  it should "dispatch the taar side-input commands" in {
    val dumpIn = tmp("amo-in"); val dbOut = tmp("amo-db")
    val wlOut = tmp("amo-wl")
    val dump = """{"guid":"a@x","current_version":{"files":[{"is_webextension":true}]},""" +
      """"ratings":{"average":4.5},"is_featured":true,""" +
      """"first_create_date":"2015-01-01T00:00:00"}"""
    Files.writeString(java.nio.file.Paths.get(s"$dumpIn/dump.json"),
      dump, java.nio.file.StandardOpenOption.CREATE)
    dispatch("taar_amodump",
      "input" -> s"$dumpIn/dump.json", "output" -> dbOut)
    spark.read.json(dbOut).count() shouldBe 1
    dispatch("taar_amowhitelist",
      "input" -> s"$dumpIn/dump.json", "output" -> wlOut,
      "date" -> "2017-06-01")
    Files.readString(java.nio.file.Paths.get(s"$wlOut/whitelist.json")) should
      include("a@x")

    val edIn = tmp("ed-in"); val edOut = tmp("ed-out")
    val rows = (1 to 120).map(i => s"""{"guid":"g$i@x"}""").mkString("\n")
    Files.writeString(java.nio.file.Paths.get(s"$edIn/ed.json"), rows)
    dispatch("taar_update_whitelist",
      "input" -> s"$edIn/ed.json", "output" -> s"$edOut/guids.json")
    Files.readString(java.nio.file.Paths.get(s"$edOut/guids.json")) should
      include("g100@x")
  }

  it should "name the clients_daily columns taar_lite needs and lacks" in {
    import graft.jobs.MainSummaryFixture
    val ms = tmp("chain-ms"); val cd = tmp("chain-cd")
    makeDF(MainSummaryFixture.schema, MainSummaryFixture.base,
      Seq(Map("document_id" -> "d1")))
      .write.partitionBy("submission_date_s3").mode("overwrite").parquet(ms)
    dispatch("clients_daily", "input" -> ms, "output" -> cd,
      "date" -> "2017-01-11")
    spark.read.parquet(cd).count() shouldBe 1
    val e = intercept[IllegalArgumentException] {
      dispatch("taar_lite", "input" -> cd, "output" -> tmp("chain-lite"),
        "whitelist" -> "some@addon")
    }
    e.getMessage should include("taar_lite needs clients_daily columns " +
      "active_addons")
  }

  it should "dispatch taar_dynamo with the stub sink" in {
    val in = tmp("dyn-in"); val out = tmp("dyn-out")
    Seq(("c1", "2017-01-02", "it", "win", 5L))
      .toDF("client_id", "subsession_start_date", "locale", "os",
        "subsession_length")
      .withColumn("city", lit("rome"))
      .withColumn("places_bookmarks_count", lit(1L))
      .withColumn("scalar_parent_browser_engagement_tab_open_event_count", lit(1L))
      .withColumn("scalar_parent_browser_engagement_total_uri_count", lit(1L))
      .withColumn("scalar_parent_browser_engagement_unique_domains_count", lit(1L))
      .withColumn("active_addons", array(lit("a@x")))
      .withColumn("disabled_addons_ids", array(lit("d@x")))
      .write.mode("overwrite").parquet(in)
    dispatch("taar_dynamo", "input" -> in, "output" -> out)
    val rows = spark.read.parquet(out)
    rows.count() shouldBe 1
    rows.columns.toSet shouldBe Set("client_id", "start_date", "payload")
  }

  it should "dispatch system_check" in {
    val in = tmp("sys-in"); val out = tmp("sys-out")
    Seq((1L, 2.0), (2L, 3.0)).toDF("id", "v")
      .write.mode("overwrite").parquet(in)
    dispatch("system_check",
      "input" -> in, "output" -> out, "describe-cols" -> "v")
    spark.read.parquet(out).count() should be >= 1L
  }

  it should "dispatch curate end-to-end" in {
    val in = tmp("curate-in"); val out = tmp("curate-out")
    val stats = tmp("curate-stats") + "/stats.json"
    val probePath = tmp("curate-probe") + "/probe.txt"
    val healthy = "the quick brown fox jumps over a lazy dog " +
      "while the cat naps in a warm sunny window near the door"
    Seq(
      (1L, healthy),
      (2L, healthy + " extra"), // near-dup of 1 → dropped (keep-one)
      (3L, "too short a doc"), // fails min-words
      (4L, healthy.replace("quick brown fox", "slow green turtle") +
        " entirely different tail with many more of the varied words here")
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(in)
    Files.writeString(java.nio.file.Paths.get(probePath),
      "slow green turtle\nno such gram\n")
    dispatch("curate", "input" -> in, "output" -> out,
      "min-words" -> "10", "jaccard" -> "0.5", "bands" -> "8",
      "probe-path" -> probePath, "stats-output" -> stats)
    // 3 fails min-words; 4 hits the probe; 2 is 1's near-dup → keep 1
    val txt = Files.readString(java.nio.file.Paths.get(stats))
    txt should include("\"input\":4")
    txt should include("\"qualified\":3")
    txt should include("\"decontaminated\":2")
    txt should include("\"curated\":1")
    spark.read.parquet(out).select("doc_id").as[Long].collect().toSeq shouldBe
      Seq(1L)
  }

  it should "curate against a parquet benchmark (--probe-input joined " +
      "path)" in {
    val in = tmp("curate-pi-in"); val out = tmp("curate-pi-out")
    val probeIn = tmp("curate-pi-probe")
    val healthy = "the quick brown fox jumps over a lazy dog " +
      "while the cat naps in a warm sunny window near the door"
    Seq(
      (1L, healthy),
      (3L, "too short a doc"), // fails min-words
      (4L, healthy.replace("quick brown fox", "slow green turtle") +
        " entirely different tail with many more of the varied words here")
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(in)
    // the benchmark document shares 4's "slow green turtle" trigram
    Seq((100L, "a slow green turtle crossed the road"))
      .toDF("bench_id", "text").write.mode("overwrite").parquet(probeIn)
    dispatch("curate", "input" -> in, "output" -> out,
      "min-words" -> "10", "jaccard" -> "0.5", "bands" -> "8",
      "probe-input" -> probeIn)
    spark.read.parquet(out).select("doc_id").as[Long].collect().toSeq shouldBe
      Seq(1L)
  }

  it should "curate a corpus with STRING doc ids (crawl-data norm)" in {
    val in = tmp("curate-str-in"); val out = tmp("curate-str-out")
    val healthy = "the quick brown fox jumps over a lazy dog " +
      "while the cat naps in a warm sunny window near the door"
    Seq(
      ("crawl/0001", healthy),
      ("crawl/0002", healthy + " extra"), // near-dup → keep-one drops it
      ("crawl/0003", "too short a doc")
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(in)
    dispatch("curate", "input" -> in, "output" -> out,
      "min-words" -> "10", "jaccard" -> "0.5", "bands" -> "8")
    spark.read.parquet(out).select("doc_id").as[String].collect().toSeq shouldBe
      Seq("crawl/0001")
  }

  it should "dispatch profile into a dataset-card parquet + JSON" in {
    val in = tmp("profile-in"); val out = tmp("profile-out")
    val stats = tmp("profile-stats") + "/card.json"
    Seq((1L, Some("a")), (2L, Some("a")), (3L, None))
      .toDF("id", "v").write.mode("overwrite").parquet(in)
    dispatch("profile", "input" -> in, "output" -> out,
      "stats-output" -> stats)
    val card = spark.read.parquet(out).collect()
      .map(r => r.getString(0) -> r).toMap
    card("v").getLong(2) shouldBe 1L // n_null
    card("v").getString(4) shouldBe "a"
    card("id").getLong(3) shouldBe 3L // est_distinct exact below k
    val txt = Files.readString(java.nio.file.Paths.get(stats))
    txt should include("\"top_value\":\"a\"")
    txt should include("\"est_distinct\":3")
  }

  it should "dispatch pack and transitions" in {
    val in = tmp("pack-in"); val out = tmp("pack-out")
    Seq((1L, "a b c d e"), (2L, "f g h"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(in)
    dispatch("pack", "input" -> in, "output" -> out, "seq-len" -> "4",
      "shards" -> "2")
    val packed = spark.read.parquet(out)
    packed.count() shouldBe 2
    packed.columns should contain allOf ("shard", "seq_start", "off_start")

    val tin = tmp("trans-in"); val tout = tmp("trans-out")
    Seq((1L, 1L, "a"), (1L, 2L, "b"), (2L, 5L, "a"), (2L, 6L, "b"))
      .toDF("user_id", "ts", "event_type")
      .write.mode("overwrite").parquet(tin)
    dispatch("transitions", "input" -> tin, "output" -> tout)
    spark.read.parquet(tout).select("from_state", "to_state", "n")
      .as[(String, String, Long)].collect().toSeq shouldBe
      Seq(("a", "b", 2L))
  }

  it should "dispatch spandedup" in {
    val in = tmp("span-in"); val out = tmp("span-out")
    Seq(
      (1L, "terms of use apply alpha beta gamma"),
      (2L, "prefix terms of use apply epsilon zeta"), // span at offset 1
      (3L, "terms of use apply")                      // fully covered
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(in)
    dispatch("spandedup", "input" -> in, "output" -> out,
      "span-tokens" -> "4")
    spark.read.parquet(out).select("doc_id", "text_dedup")
      .as[(Long, String)].collect().sortBy(_._1).toSeq shouldBe Seq(
      (1L, "terms of use apply alpha beta gamma"),
      (2L, "prefix epsilon zeta"))
  }

  it should "dispatch mix with optional splits" in {
    val in = tmp("mix-in"); val out = tmp("mix-out")
    ((1L to 90L).map(i => (i, "en")) ++ (91L to 100L).map(i => (i, "de")))
      .toDF("doc_id", "lang").write.mode("overwrite").parquet(in)
    dispatch("mix", "input" -> in, "output" -> out,
      "val-permille" -> "100", "test-permille" -> "100")
    val mixed = spark.read.parquet(out)
    mixed.columns should contain allOf ("split", "split_bucket")
    val byLang = mixed.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    byLang("de") shouldBe 10L // rarest stratum kept whole
    byLang("en").toDouble should be < 60.0 // damped toward sqrt(10/90)
  }

  it should "dispatch classify (train on labeled, score a new batch)" in {
    val in = tmp("cls-in"); val sc = tmp("cls-score"); val out = tmp("cls-out")
    Seq((1L, "food", "apple banana cherry"), (2L, "food", "banana mango"),
      (3L, "tech", "kernel socket thread"), (4L, "tech", "compiler socket"))
      .toDF("doc_id", "lang", "text").write.mode("overwrite").parquet(in)
    Seq((10L, "mango banana"), (11L, "socket kernel"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(sc)
    dispatch("classify", "input" -> in, "score-input" -> sc,
      "output" -> out, "buckets" -> "128")
    spark.read.parquet(out).select("doc_id", "pred")
      .as[(Long, String)].collect().toMap shouldBe
      Map(10L -> "food", 11L -> "tech")
  }

  it should "dispatch sample with a stratum cap" in {
    val in = tmp("smp-in"); val out = tmp("smp-out")
    (1L to 60L).map(i => (i, if (i <= 30) "en" else "de", i % 9 + 1))
      .toDF("doc_id", "lang", "w").write.mode("overwrite").parquet(in)
    dispatch("sample", "input" -> in, "output" -> out,
      "weight-col" -> "w", "k" -> "5", "strata-col" -> "lang",
      "salt" -> "cli")
    val got = spark.read.parquet(out).groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    got shouldBe Map("en" -> 5L, "de" -> 5L)
  }

  it should "dispatch codedetect with a modality census" in {
    val in = tmp("cd-in"); val out = tmp("cd-out")
    val rpt = tmp("cd-json") + "/census.json"
    Seq((1L, "def f(x):\n    return x * 2"),
        (2L, "The plain prose of an ordinary paragraph goes here."))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(in)
    dispatch("codedetect", "input" -> in, "output" -> out,
      "stats-output" -> rpt)
    val got = spark.read.parquet(out)
    got.count() shouldBe 2L
    got.filter(col("is_code")).select("doc_id")
      .as[Long].collect() shouldBe Array(1L)
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(rpt))
    json should include("\"n_code\":1")
  }

  it should "dispatch rules ordered by lift" in {
    val in = tmp("rules-in"); val out = tmp("rules-out")
    (1L to 20L).flatMap(b => Seq((b, "x"), (b, "y")) ++
        (if (b <= 5) Seq((b, "z")) else Nil))
      .toDF("basket", "item").write.mode("overwrite").parquet(in)
    dispatch("rules", "input" -> in, "output" -> out,
      "min-count" -> "5")
    val got = spark.read.parquet(out)
    got.count() should be >= 2L // x<->y at least, both directions
    got.columns should contain allOf ("support", "confidence", "lift")
  }

  it should "dispatch kcore over an edge list" in {
    val in = tmp("kcore-in"); val out = tmp("kcore-out")
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L))
      .toDF("src", "dst").write.mode("overwrite").parquet(in)
    dispatch("kcore", "input" -> in, "output" -> out, "k" -> "2",
      "rounds" -> "2")
    spark.read.parquet(out).select("id").as[Long].collect().sorted shouldBe
      Array(1L, 2L, 3L)
  }

  it should "dispatch abtest with the full experiment readout" in {
    val in = tmp("ab-in")
    val rpt = tmp("ab-json") + "/report.json"
    (1 to 40).map(i => (if (i % 2 == 0) "A" else "B",
        i % 7 + (if (i % 2 == 0) 3.0 else 0.0), (i % 5).toDouble))
      .toDF("variant", "value", "pre")
      .write.mode("overwrite").parquet(in)
    dispatch("abtest", "input" -> in, "stats-output" -> rpt,
      "covariate-col" -> "pre")
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(rpt))
    json should include("\"welch\"")
    json should include("\"mann_whitney\"")
    json should include("\"cuped\"")
    json should include("\"t_stat\"")
  }

  it should "dispatch drift and write the JSON report" in {
    val a = tmp("drift-a"); val b = tmp("drift-b")
    val rpt = tmp("drift-json") + "/report.json"
    Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(a)
    Seq((1L, "delta epsilon")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(b)
    dispatch("drift", "input" -> a, "reference" -> b,
      "stats-output" -> rpt, "psi-col" -> "doc_id", "psi-bins" -> "2")
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(rpt))
    json should include("\"js_nats\"")
    // disjoint vocabularies -> ln 2 (micro-nat quantized)
    json should include("0.693147")
    json should include("\"psi_doc_id\"")
  }

  it should "extend drift with Wasserstein and centroid legs" in {
    val a = tmp("d2-a"); val b = tmp("d2-b")
    val rpt = tmp("d2-json") + "/report.json"
    Seq((1L, "alpha beta", 10L, Seq(1.0f, 0.0f)),
        (2L, "beta gamma", 12L, Seq(1.0f, 0.1f)))
      .toDF("doc_id", "text", "n", "vec")
      .write.mode("overwrite").parquet(a)
    Seq((9L, "alpha beta", 40L, Seq(0.0f, 1.0f)))
      .toDF("doc_id", "text", "n", "vec")
      .write.mode("overwrite").parquet(b)
    dispatch("drift", "input" -> a, "reference" -> b,
      "stats-output" -> rpt, "wasserstein-col" -> "n",
      "vec-col" -> "vec")
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(rpt))
    json should include("\"wasserstein_n\":")
    json should include("\"centroid_cos\":")
    // W1 between {10,12} and {40}: |F diff| integration = 29
    json should include("29.0")
  }

  it should "dispatch monitor: bootstrap, then SCD2-merge + drift report" in {
    // day 1: bootstrap — history comes out all-open, report self-drift-free
    val day1 = tmp("mon-day1"); val hist1 = tmp("mon-hist1")
    val rpt1 = tmp("mon-json1") + "/report.json"
    Seq((1L, "en", "web", 10L, "alpha beta"),
        (2L, "en", "web", 12L, "beta gamma"),
        (3L, "de", "book", 9L, "delta"))
      .toDF("doc_id", "lang", "source", "n_chars", "text")
      .write.mode("overwrite").parquet(day1)
    dispatch("monitor", "input" -> day1, "as-of" -> "2026-08-12",
      "output" -> hist1, "stats-output" -> rpt1)
    val h1 = spark.read.parquet(hist1)
    h1.filter(col("valid_to").isNull).count() shouldBe 3L
    val json1 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(rpt1))
    json1 should include("\"n_open\":3")
    json1 should include("\"n_closed_today\":0")

    // day 2: doc 2 changes lang, doc 3 disappears, doc 4 arrives —
    // SCD2 closes/opens accordingly and drift compares the two crawls
    val day2 = tmp("mon-day2"); val hist2 = tmp("mon-hist2")
    val rpt2 = tmp("mon-json2") + "/report.json"
    Seq((1L, "en", "web", 10L, "alpha beta"),
        (2L, "fr", "web", 12L, "zeta eta"),
        (4L, "en", "web", 11L, "theta iota"))
      .toDF("doc_id", "lang", "source", "n_chars", "text")
      .write.mode("overwrite").parquet(day2)
    dispatch("monitor", "input" -> day2, "as-of" -> "2026-08-13",
      "history" -> hist1, "prev-input" -> day1,
      "output" -> hist2, "stats-output" -> rpt2,
      "psi-col" -> "n_chars", "psi-bins" -> "2")
    val h2 = spark.read.parquet(hist2)
    // open: 1 (unchanged), 2' (fr), 4 (new)
    h2.filter(col("valid_to").isNull).count() shouldBe 3L
    // closed at day 2: the superseded 2 (en) and the vanished 3
    h2.filter(col("valid_to") === "2026-08-13").count() shouldBe 2L
    // time travel: as of day 1 the corpus is the original three
    graft.operators.Scd.asOf(h2, "2026-08-12")
      .select("doc_id").as[Long].collect().sorted shouldBe Seq(1L, 2L, 3L)
    val json2 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(rpt2))
    json2 should include("\"n_closed_today\":2")
    json2 should include("\"n_new_versions\":2")
    json2 should include("\"js_nats\"")
    json2 should include("\"psi_n_chars\"")
  }

  it should "dispatch compact: plan bins per group and report counts" in {
    val inv = tmp("cmp-inv"); val out = tmp("cmp-plan")
    val rpt = tmp("cmp-json") + "/report.json"
    Seq(("p1", "a", 60L), ("p1", "b", 60L), ("p1", "c", 60L),
        ("p2", "d", 150L))
      .toDF("part", "file", "size")
      .write.mode("overwrite").parquet(inv)
    dispatch("compact", "input" -> inv, "output" -> out,
      "target-bytes" -> "100", "group-col" -> "part",
      "stats-output" -> rpt)
    val plan = spark.read.parquet(out)
    // p1: offsets 0/60/120 -> bins 0,0,1; p2: its own bin 0
    plan.filter(col("part") === "p1").select("file", "bin")
      .as[(String, Long)].collect().sortBy(_._1) shouldBe
      Seq(("a", 0L), ("b", 0L), ("c", 1L))
    plan.filter(col("part") === "p2").select("bin").as[Long]
      .collect() shouldBe Seq(0L)
    val json = java.nio.file.Files.readString(
      java.nio.file.Paths.get(rpt))
    json should include("\"n_files\":4")
    json should include("\"n_bins\":3")
  }

  it should "reject unknown commands" in {
    a[RuntimeException] should be thrownBy dispatch("nope")
  }
}
