package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.DataSource
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Every registered query receives `(spark, sfDir)` and reads only these
  * parquet files; the matching DuckDB oracle reads the same files as bare
  * table names. At cluster scale these would be real table identifiers
  * (catalog / Delta / Iceberg); the loader indirection keeps that swap to
  * one place.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** The engine's one parquet reader. A plain `spark.read.parquet` infers
    * the schema by running a one-task footer job on every call, even for a
    * table read a moment ago — and most reads here happen while a query
    * plan is being built. This reader resolves each table's schema once
    * per content version (a memo keyed on the paths plus their content
    * signatures, `DedupStaging.ContentMemo`) and passes it to the read, so
    * a repeated read launches no job. A table rewritten in place has a new
    * signature and is inferred again; an absent path is never cached, so a
    * missing table fails exactly as a plain read does. Connectors' writers
    * seed the memo for each generation they commit ([[seedSchema]]). */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    read(spark, None, paths)

  /** [[parquet]] over partition directories of one table, discovered
    * against `basePath` (the partition columns come from the directory
    * names below it). */
  def parquetFragments(spark: SparkSession, basePath: String,
      paths: Seq[String]): DataFrame =
    read(spark, Some(basePath), paths)

  private val schemas =
    new operators.DedupStaging.ContentMemo[(Seq[String], Option[String]), StructType]

  private def scan(spark: SparkSession, basePath: Option[String],
      paths: Seq[String], schema: Option[StructType]): DataFrame = {
    val reader = spark.read.options(basePath.map("basePath" -> _).toMap)
    schema.fold(reader)(reader.schema).parquet(paths: _*)
  }

  private def read(spark: SparkSession, basePath: Option[String],
      paths: Seq[String]): DataFrame = {
    var inferred: Option[DataFrame] = None
    val schema = schemas((paths, basePath), paths) {
      inferred = Some(scan(spark, basePath, paths, None))
      inferred.get.schema
    }
    inferred.getOrElse(scan(spark, basePath, paths, Some(schema)))
  }

  /** [[parquet]] of member dirs of committed `Connectors` snapshots —
    * generations a table wrote, or external members it references —
    * through the same schema memo, resolved without the path check a
    * `DataFrameReader` makes. That check logs "All paths were ignored" for
    * every read whose root names all start with `_`, as every
    * generation's does (Spark's listing hides such names below a root,
    * not the root itself, and the read goes ahead). A committed pointer
    * names each dir, so it exists. */
  def memberDirs(spark: SparkSession, dirs: String*): DataFrame = {
    def resolve(schema: Option[StructType]): DataFrame =
      spark.baseRelationToDataFrame(DataSource(spark, "parquet", dirs,
        userSpecifiedSchema = schema).resolveRelation(checkFilesExist = false))
    var inferred: Option[DataFrame] = None
    val schema = schemas((dirs, None), dirs) {
      inferred = Some(resolve(None))
      inferred.get.schema
    }
    inferred.getOrElse(resolve(Some(schema)))
  }

  /** Seed the memo for a generation a writer just committed from a frame
    * of schema `written`, partitioned by `partitionCol` if given — so the
    * first read of a fresh generation launches no inference job either.
    * Nullability needs no care: a read makes every field nullable, whatever
    * schema it is given. A partitioned write keeps its partition column in
    * directory names, and a read puts it last with the type discovery gives
    * it; so that schema is resolved by a read pinned to the data columns,
    * whose listing runs on the driver, not as a job. An empty partitioned
    * write leaves no directory to discover, and a plain read of it fails,
    * so it stays uncached. */
  private[graft] def seedSchema(spark: SparkSession, written: StructType,
      partitionCol: Option[String], paths: Seq[String],
      basePath: Option[String] = None): Unit = {
    val schema = partitionCol match {
      case None => Some(written)
      case Some(p) =>
        val data = StructType(written.filterNot(_.name == p))
        Some(scan(spark, basePath, paths, Some(data)).schema)
          .filter(_.fieldNames.contains(p))
    }
    schema.foreach(schemas.seed((paths, basePath), paths, _))
  }

  /** Session confs + native-function registry every entry point
    * (Verify/Bench/Explain/tests) sets once at bootstrap — not inside table
    * loaders, which would mutate shared session state as a
    * query-construction side effect. The UTC pin matters since the
    * micros-timestamp migration: `events.ts` is stored NTZ and cast to
    * session-zone TIMESTAMP ([[events]]), so a host-zone session would
    * shift every window boundary (and a DST fall-back would make the cast
    * non-injective). Verify pins UTC independently; pinning here keeps
    * Bench and Explain on the same wall clock. */
  def bootstrap(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    graft.functions.GraftFunctions.register(spark)
  }

  /** `events.ts` is parquet TIMESTAMP(MICROS) with no timezone metadata
    * (isAdjustedToUTC=false), which Spark reads as TIMESTAMP_NTZ. Downstream
    * operators run on session-zone TIMESTAMP (windows, watermarks, the
    * oracle dumps all agreed on it): under the pinned UTC session the
    * NTZ→LTZ cast is wall-clock-preserving, so every instant matches what
    * DuckDB computes from the same naive micros. */
  def events(spark: SparkSession, dir: String): DataFrame =
    eventsWithRawTs(spark, dir).drop("ts_raw")

  /** events plus the UNCAST scan column (`ts_raw`, TIMESTAMP_NTZ): a time
    * bound on the CONVERTED `ts` hides behind the NTZ→LTZ cast — parquet
    * gets only IsNotNull and every row group is read — while the same bound
    * on `ts_raw` (via `lit(Tables.rawTs(literal))`) pushes as a plain
    * micros comparison on the stored column, restoring row-group stats
    * pruning (and partition pruning on a date-partitioned layout at scale).
    * Time-bounded readers filter on `ts_raw` then drop it (PlanContractSpec
    * pins the pushdown). */
  def eventsWithRawTs(spark: SparkSession, dir: String): DataFrame = {
    load(spark, dir, "events")
      .withColumn("ts_raw", col("ts"))
      .withColumn("ts", col("ts").cast("timestamp"))
      .select(col("event_id"), col("ts"), col("ts_raw"), col("user_id"),
        col("event_type"), col("value"), col("props"))
  }

  /** NTZ literal of a whole-second UTC wall time — the `ts_raw` bound
    * matching `col("ts") <op> lit(literal)` under the UTC session
    * (`lit(LocalDateTime)` is a TIMESTAMP_NTZ literal, same type as the
    * scan column, so the comparison pushes without a cast). */
  def rawTs(literal: String): java.time.LocalDateTime =
    java.time.LocalDateTime.parse(literal.replace(' ', 'T'))
  /** Fan a CPU-bound stage out to every core. A 100 TB scan arrives as
    * thousands of splits and never needs this; the kilobyte-scale test files
    * are a single parquet split, which would serialize hash/shingle/fold
    * work onto one of 32 cores. Spark only auto-rebalances *shuffle* stages
    * (AQE), not scan-fed map stages, so the round-robin repartition is
    * explicit — its cost is proportional to the (tiny) input, its benefit to
    * the per-row CPU. */
  def fanout(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
