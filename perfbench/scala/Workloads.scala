package graftbench

import org.apache.spark.sql.SparkSession
import graftbench.GraftBench.Op

/** The operations of each workload, in round order. */
object Workloads {

  /** Single-pass gates with the layer each is attributed to: relational
    * gates, plus one gate each for the curation layers (the exact-dedup +
    * quality funnel, temperature splits, MinHash-LSH near-dup). They carry
    * the fixed per-operator floor (per-read schema inference, planning).
    */
  val SinglePass: Seq[(String, String)] = Seq(
    "q03_join_agg" -> "queries", "q100_curation_funnel" -> "text.curation",
    "t14_temperature_mix" -> "core.splits", "d02_minhash_lsh" -> "dedup.near_dup")

  /** Approximate ANN gates; `ann_recall` is computed over their outputs. */
  val AnnGates: Seq[String] = Seq("d34_ann_ivfpq")

  /** Gates that launch a Spark job per round while building their frame:
    * there job count, lineage growth and the persist/release lifecycle set
    * the time.
    */
  val Iterative: Seq[(String, String)] = Seq(
    "q79_kcore" -> "graph", "q105_logreg_gd" -> "ml")

  def props(in: String): java.util.Properties = {
    val p = new java.util.Properties
    val r = new java.io.FileReader(s"$in/params.properties")
    try p.load(r) finally r.close()
    p
  }

  private lazy val gateIndex = graft.SparkEntry.gateQueries.map(q => q.name -> q).toMap

  /** Tables a gate reads, taken from its oracle SQL. */
  private def tablesOf(q: graft.queries.GateQuery): Seq[String] =
    graft.core.Graft.tableNames.filter(t =>
      q.oracle.exists(o => s"(?i)\\b$t\\b".r.findFirstIn(o).nonEmpty))

  private def gate(name: String, layer: String, in: String): Op = {
    val q = gateIndex(name)
    val dir = s"$in/tables"
    Op(name, layer, frame = Some((s: SparkSession) => q.fn(s, dir)),
      tables = tablesOf(q), oracle = q.oracle.map(_.trim))
  }

  private def cli(name: String, layer: String, command: String,
      opts: (String, String)*): Op =
    Op(name, layer, run = Some((s: SparkSession) =>
      graft.cli.Main.dispatch(s, command, opts.toMap)))

  def ops(workload: String, in: String, out: String, traced: Boolean): Seq[Op] =
    workload match {
      case "gates" =>
        (SinglePass ++ AnnGates.map(_ -> "similarity.ann") ++ Iterative)
          .map { case (n, l) => gate(n, l, in) }
      case "mozetl-daily" =>
        val p = props(in)
        val ms = s"$in/main_summary"
        val cd = s"$in/clients_daily.parquet"
        val day = p.getProperty("day")
        val wl = p.getProperty("whitelist")
        val ow = "save-mode" -> "overwrite"
        Seq(
          cli("clients_daily", "jobs.clients_daily", "clients_daily", "input" -> ms,
            "output" -> s"$out/clients_daily", "date" -> p.getProperty("iso_day")),
          cli("search_clients_daily", "jobs.search_clients_daily",
            "search_clients_daily", "input" -> ms,
            "output" -> s"$out/search_clients_daily", "date" -> day, ow),
          cli("search_aggregates", "jobs.search_aggregates", "search_aggregates",
            "input" -> ms, "output" -> s"$out/search_aggregates", "date" -> day, ow),
          cli("addon_aggregates", "jobs.addon_aggregates", "addon_aggregates",
            "input" -> ms, "output" -> s"$out/addon_aggregates", "date" -> day),
          cli("taar_lite", "jobs.taar", "taar_lite", "input" -> cd,
            "whitelist" -> wl, "output" -> s"$out/taar_lite"),
          cli("taar_lite_guidranking", "jobs.taar", "taar_lite_guidranking",
            "input" -> cd, "output" -> s"$out/taar_lite_guidranking"))
      case other => sys.error(s"unknown workload: $other")
    }

  /** Inputs read once during set-up, so the first operation does not pay
    * the session's first parquet read.
    */
  def inputs(workload: String, in: String): Seq[String] = workload match {
    case "gates" => graft.core.Graft.tableNames.map(t => s"$in/tables/$t.parquet")
    case "mozetl-daily" => Seq(s"$in/main_summary", s"$in/clients_daily.parquet")
    case _ => Nil
  }
}
