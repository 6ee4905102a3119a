package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 registers one named query in
  * `queries` (signature `(spark, sfDir) => DataFrame`) and, where the
  * semantics are ANSI-SQL-expressible, a DuckDB oracle in `oracleSql` with
  * identical column names. Modules own their query/oracle pairs; this object
  * only merges them.
  */
object SparkEntry {

  /** Flagship query (SURVEY.md §7.1 M0): the reference's streaming window
    * aggregation (streaming_job.py:278-353) in batch form, on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    WindowAggregates.windowAgg(spark, "/root/testdata/sf0.001")

  private val modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (Projections.queries, Projections.oracles),
      (WindowAggregates.queries, WindowAggregates.oracles),
      (Generator.queries, Generator.oracles),
      (Connectors.queries, Connectors.oracles),
      (Scorecard.queries, Scorecard.oracles),
      (Validation.queries, Validation.oracles),
      (AnalyticWindows.queries, AnalyticWindows.oracles),
      (Joins.queries, Joins.oracles),
      (SetOps.queries, SetOps.oracles),
      (Serving.queries, Serving.oracles),
      (TextAnalysis.queries, TextAnalysis.oracles),
      (Dedup.queries, Dedup.oracles),
      (Similarity.queries, Similarity.oracles),
      (Multimodal.queries, Multimodal.oracles),
      (graft.streaming.StreamingJobs.queries, graft.streaming.StreamingJobs.oracles))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_._1).reduce(_ ++ _)

  /** The entries that run a Structured Streaming drain when invoked,
    * instead of returning a plannable batch frame. */
  def drains: Set[String] = graft.streaming.StreamingJobs.queries.keySet

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get the driver's weaker
    * rows-only check. */
  def oracleSql: Map[String, String] =
    modules.map(_._2).reduce(_ ++ _)
}
