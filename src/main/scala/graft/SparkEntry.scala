package graft

import graft.queries.{Analytics, CdcQueries, LlmQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Uses the lineitem-based pricing summary: safe under any session
    * config (the events table needs the nanos-timestamp legacy flag that
    * Verify/Bench set on their own sessions).
    */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CdcQueries.queries ++ Analytics.queries ++ LlmQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check.
    */
  def oracleSql: Map[String, String] =
    CdcQueries.oracles ++ Analytics.oracles ++ LlmQueries.oracles

  /** The `queries` entries named by `names`, in the caller's order. An
    * unknown name throws IllegalArgumentException naming it, so a typo
    * fails before a session starts instead of running a smaller set. */
  def select(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty,
      s"names not in SparkEntry.queries: ${unknown.distinct.mkString(", ")}")
    names.distinct.map(n => n -> all(n))
  }

  /** A JSON string literal: backslash, quote and ALL control chars (<0x20)
    * escaped — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
