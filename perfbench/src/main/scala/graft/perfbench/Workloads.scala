package graft.perfbench

import graft.{Q, Registry}

/** The workloads: which keys one pass runs, in what order, whether the
  * pass also replays the stream funnel, and the fixed nominal input rows
  * that `rows_per_s` divides by. Each pass is sized to a few seconds on a
  * 4-core host, so that a whole run (JVM, set-up, one warm pass, the timed
  * passes) stays under a minute. */
object Workloads {
  val names: Seq[String] = Seq("ingest_etl", "curation_pipeline")

  private val ingest = Seq("q_pipeline_e2e", "src_csv_malformed",
    "src_json_malformed", "snk_csv_roundtrip", "fn_json")

  /** Run in this order: each reads the stage its predecessor built. */
  private val curationDag = Seq("llm_dedup_exact", "llm_dedup_near",
    "llm_dedup_cluster", "llm_dedup_survivors")

  /** The keys of one pass for `seed`. */
  def keys(workload: String, seed: Long): Seq[String] = workload match {
    case "ingest_etl" => new scala.util.Random(seed).shuffle(ingest)
    case "curation_pipeline" => curationDag
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Whether a pass ends with the incoming split replayed through the
    * stream funnel (`streaming.Streams.ingestFunnel`). */
  def streams(workload: String): Boolean = workload == "ingest_etl"

  /** Write-once layouts the workload reads, built during set-up. */
  def layouts(workload: String): Seq[String] =
    if (streams(workload)) Seq("ingest_feat") else Nil

  /** Input tables the workload's keys read (their footers are read in
    * set-up). */
  def tables(workload: String): Seq[String] = workload match {
    case "ingest_etl" => Seq("customer", "nation", "orders", "events", "documents")
    case "curation_pipeline" => Seq("documents")
  }

  /** Fixed input rows of one pass (sf0.01 row counts) of [[tables]], with
    * only the 250 replayed documents counted for ingest_etl: customer 1,500
    * + nation 25 + orders 15,000 + events 10,000 + 250 documents;
    * curation_pipeline: documents 500. */
  def nominalRows(workload: String): Long = workload match {
    case "ingest_etl" => 26775L
    case "curation_pipeline" => 500L
  }

  /** Owning module of a key: the package of the `qs` that declares it. */
  lazy val moduleOf: Map[String, String] = {
    def tag(m: String, qs: Seq[(String, Q)]) = qs.map(_._1 -> m)
    (tag("sources", graft.sources.Scans.qs) ++
      Seq(graft.operators.Filters.qs, graft.operators.Joins.qs,
        graft.operators.Aggs.qs, graft.operators.Windows.qs,
        graft.operators.SetOps.qs, graft.operators.EventsBatch.qs,
        graft.operators.Geo.qs, graft.operators.Analytics.qs,
        graft.operators.Insights.qs, graft.operators.Trends.qs,
        graft.operators.Profiling.qs).flatMap(tag("operators", _)) ++
      Seq(graft.functions.Funcs.qs, graft.functions.Custom.qs)
        .flatMap(tag("functions", _)) ++
      Seq(graft.llm.Dedup.qs, graft.llm.Similarity.qs, graft.llm.TextAnalysis.qs,
        graft.llm.Multimodal.qs, graft.llm.Pipeline.qs, graft.llm.Curation.qs,
        graft.llm.Screens.qs, graft.llm.Signals.qs, graft.llm.Spectral.qs,
        graft.llm.Training.qs).flatMap(tag("llm", _))).toMap
  }

  val modules: Seq[String] = Seq("sources", "operators", "functions", "llm")
}
