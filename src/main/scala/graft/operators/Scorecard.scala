package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** One-pass data-quality scorecard — the single sanctioned custom-aggregate
  * point (SURVEY.md §7.2): a typed `Aggregator` fused into one reduction,
  * replacing the reference's Python dict counters
  * (validation_consumer.py:81-90, 541-573) with a distributed,
  * merge-combinable accumulator.
  *
  * Everything else in the engine stays builtin Column expressions; this
  * exists for the case where N quality counters should cost one pass and one
  * shuffle of constant-size buffers rather than N aggregate expressions —
  * and as the pattern slot for counters that are NOT expressible as builtin
  * aggregates (sketches, reservoir samples). Counters are integral, so the
  * result is partition-order-independent and oracle-able. */
object Scorecard {

  final case class In(value: Option[Double], event_type: Option[String])
  final case class Counts(total: Long, null_value: Long, out_of_range: Long,
      bad_format: Long)

  object QualityAgg extends Aggregator[In, Counts, Counts] {
    override def zero: Counts = Counts(0, 0, 0, 0)
    override def reduce(b: Counts, a: In): Counts = Counts(
      b.total + 1,
      b.null_value + (if (a.value.isEmpty) 1 else 0),
      b.out_of_range + (if (a.value.exists(v => v < 0 || v > 100)) 1 else 0),
      b.bad_format + (if (!a.event_type.exists(_.trim.matches("^[a-z]+$"))) 1 else 0))
    override def merge(x: Counts, y: Counts): Counts = Counts(
      x.total + y.total, x.null_value + y.null_value,
      x.out_of_range + y.out_of_range, x.bad_format + y.bad_format)
    override def finish(b: Counts): Counts = b
    override def bufferEncoder: Encoder[Counts] = Encoders.product[Counts]
    override def outputEncoder: Encoder[Counts] = Encoders.product[Counts]
    // the plan prints the aggregator by toString; the default carries an
    // identity hash, which would change every plan dump
    override def toString: String = "QualityAgg"
  }

  /** M1: per-day scorecard through the one-pass Aggregator. */
  def qualityScorecard(spark: SparkSession, dir: String): DataFrame = {
    val score = udaf(QualityAgg)
    Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(score(col("value"), col("event_type")).as("sc"))
      .select(col("day"), col("sc.*"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m1_quality_scorecard" -> qualityScorecard)

  val oracles: Map[String, String] = Map(
    "m1_quality_scorecard" ->
      """SELECT CAST(ts AS DATE) AS day,
         count(*) AS total,
         count(*) FILTER (value IS NULL) AS null_value,
         count(*) FILTER (value < 0 OR value > 100) AS out_of_range,
         count(*) FILTER (event_type IS NULL OR
           NOT regexp_full_match(trim(event_type), '^[a-z]+$')) AS bad_format
         FROM events GROUP BY 1""")
}
