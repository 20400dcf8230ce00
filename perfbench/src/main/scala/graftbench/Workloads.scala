package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.sources.ChangelogSource

/** One timed operation: a DataFrame builder over an input directory,
  * the graft module (layer) it exercises, and its DuckDB oracle. */
final case class Op(name: String, layer: String,
                    build: (SparkSession, String) => DataFrame,
                    oracleSql: String)

/** The batch workloads and the graft module each query belongs to. */
object Workloads {

  /** Query-name prefix to layer. `emb_` queries belong to `sim`. */
  private val LayerOfPrefix: Seq[(String, String)] = Seq(
    "cdc_" -> "cdc", "dedup_" -> "dedup", "text_" -> "text",
    "sample_" -> "sampling", "sim_" -> "sim", "emb_" -> "sim", "mm_" -> "mm",
    "events_" -> "events", "graph_" -> "graph", "q" -> "relational")

  def layerOf(query: String): String =
    LayerOfPrefix.collectFirst { case (p, l) if query.startsWith(p) => l }
      .getOrElse(sys.error(s"no layer for $query"))

  /** `curation`: the training-data operators bound by job count, one
    * or more per family, trimmed by query to fit one run: the two dedup
    * verifiers, and ops that fit an artifact once (keeper, phash
    * candidates) or materialize eagerly. */
  val Curation: Seq[String] = Seq(
    "dedup_prefix", "dedup_editdist", "dedup_keepers", "text_tokens",
    "sample_stratified", "mm_phash", "emb_quantize")

  /** `analytics`: relational, event and graph queries where planning,
    * eager jobs and iterative loops dominate: the three slowest named
    * ones plus the reference aggregate and an as-of join planned by
    * graft's own strategy. */
  val Analytics: Seq[String] = Seq(
    "q1_agg", "q29_asof_native", "q40_concentration", "events_gap_plan",
    "graph_pagerank")

  /** The CDC scenario's batch ops (run inside traced `curation` runs):
    * the reference routing surface (FTS and geo messages) and the
    * save-back state over the scaled changelog, plus the JSON-line source
    * reads. */
  val Cdc: Seq[String] = Seq(
    "cdc_fts_messages", "cdc_geo_messages", "cdc_latest_state", "cdc_state_digest")

  private def entry(name: String): Op = {
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
    val sql = SparkEntry.oracleSql.getOrElse(name, sys.error(s"no oracle for $name"))
    Op(name, layerOf(name), fn, sql)
  }

  /** The JSON-line source reads of the CDC scenario. Their oracles parse the
    * same lines in DuckDB (the view `changelog_lines`, one row per line):
    * well-formed lines are the ones DuckDB parses with every required key
    * present; the CASE keeps DuckDB from parsing a malformed line at all. */
  private val sources: Seq[Op] = {
    val parsed =
      """SELECT json_extract_string(j, '$.doc_id') AS doc_id,
        |  CAST(json_extract(j, '$.seq') AS BIGINT) AS seq,
        |  CAST(json_extract(j, '$.ts_us') AS BIGINT) AS ts_us,
        |  json_extract_string(j, '$.op') AS op,
        |  coalesce(json_extract_string(j, '$.field_path'), '') AS field_path,
        |  coalesce(json_extract_string(j, '$.payload'), '') AS payload,
        |  coalesce(CAST(json_extract(j, '$.amount') AS DOUBLE), 0.0) AS amount
        |FROM (SELECT CASE WHEN json_valid(line) THEN line END AS j
        |      FROM changelog_lines)
        |WHERE j IS NOT NULL""".stripMargin
    Seq(
      Op("sources_from_json_lines", "sources",
        (s, d) => ChangelogSource.fromJsonLines(s, s"$d/changelog"),
        s"SELECT * FROM ($parsed) WHERE doc_id IS NOT NULL " +
          "AND seq IS NOT NULL AND ts_us IS NOT NULL AND op IS NOT NULL"),
      Op("sources_quarantine", "sources",
        (s, d) => ChangelogSource.quarantine(s, s"$d/changelog"),
        "SELECT line AS raw_line FROM changelog_lines WHERE NOT json_valid(line)"))
  }

  /** The ops of a batch workload, or of the CDC scenario (`cdc`). */
  def batch(workload: String): Seq[Op] = workload match {
    case "cdc" => Cdc.map(entry) ++ sources
    case "curation" => Curation.map(entry)
    case "analytics" => Analytics.map(entry)
    case other => sys.error(s"not a batch workload: $other")
  }
}
