package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Idempotent key-upsert sink for `foreachBatch`, the Spark-native analog of
  * the reference's per-partition bulk `UpdateOne(..., upsert=True)` MongoDB
  * writer (reference spark_streaming/streaming_job.py:461-533) and its
  * Postgres `INSERT ... ON CONFLICT DO UPDATE` twin
  * (mongo_to_postgres_sync.py:315-418).
  *
  * Design: each micro-batch appends its rows stamped with `batch_id`; the
  * served "table" is the last-write-wins view per key — the same
  * effective-once contract as the reference (idempotent producer + checkpoint
  * + key-upsert, docs/architecture.md:333-360), expressed as append + merge
  * view instead of random-access updates. Appends are executor-side and
  * distributed (no driver collect); re-delivered batches (after restart
  * mid-batch) overwrite themselves because batch_id is part of the
  * last-write-wins order — the classic idempotent-sink trick. At cluster
  * scale the same code writes a partitioned table and the view compacts via
  * a scheduled merge, exactly like a Delta/Iceberg MERGE.
  */
object UpsertSink {

  /** foreachBatch hook: append the micro-batch stamped with its id. Skips
    * empty batches like the reference's `df.rdd.isEmpty()` guard
    * (streaming_job.py:566-568), but in ONE Spark action instead of the old
    * guard-then-write pair (r19 drain census, plans/r20/profdrain_pre.txt and
    * profdrain_post.txt: the separate isEmpty probe cost
    * one extra job round-trip per micro-batch across every drain, and the
    * persist it required re-ran the incremental plan's first partitions):
    * the batch writes once to a sibling staging dir with an observed row
    * count riding the same action; non-empty output is then published by
    * renaming the part files to DETERMINISTIC per-batch names (a replayed
    * batchId overwrites its own files — strictly tighter idempotence than
    * the old duplicate-tolerant append), and an empty batch publishes
    * nothing. File renames are the same driver-side commit primitive the
    * table-format protocol in Connectors rests on. */
  def appendBatch(sinkDir: String)(batch: DataFrame, batchId: Long): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val staging = s"$sinkDir-staging-b$batchId"
    val obs = org.apache.spark.sql.Observation()
    batch.withColumn("batch_id", lit(batchId))
      .observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(staging)
    try {
      if (obs.get("n").asInstanceOf[Long] > 0L) {
        Files.createDirectories(Paths.get(sinkDir))
        // sweep any stale files a crashed earlier attempt published for
        // this batch, then publish this attempt's under deterministic names
        val stale = Files.list(Paths.get(sinkDir))
        try stale.iterator().asScala
          .filter(_.getFileName.toString.startsWith(s"b$batchId-part"))
          .toSeq.foreach(Files.delete(_))
        finally stale.close()
        val parts = Files.list(Paths.get(staging))
        try {
          val files = parts.iterator().asScala
            .filter(_.getFileName.toString.startsWith("part-")).toSeq
            .sortBy(_.getFileName.toString)
          files.zipWithIndex.foreach { case (f, i) =>
            Files.move(f, Paths.get(sinkDir, f"b$batchId-part$i%05d.parquet"),
              StandardCopyOption.REPLACE_EXISTING)
          }
        } finally parts.close()
      }
    } finally {
      val walk = Files.walk(Paths.get(staging))
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  /** Retry-on-sink-failure (reference streaming_job.py:90-93, 535-550:
    * tenacity exponential backoff 2 s → 300 s). The reference retries
    * forever; `maxAttempts` bounds it here so a misconfigured sink fails
    * loudly instead of wedging the stream — set it high for the
    * retry-forever semantics. Retrying the whole batch write is safe
    * because the sink is idempotent per (key, batch_id).
    *
    * Only `retryable` failures re-enter the ladder (default: transient
    * IO/Spark-runtime errors) — a deterministic failure like a schema
    * mismatch surfaces immediately instead of sleeping through ~8.5 min of
    * backoff first. Every failed attempt is logged with its cause, so
    * intermediate outages are visible, not swallowed. */
  def withRetry[T](maxAttempts: Int = 8, firstDelayMs: Long = 2000,
      maxDelayMs: Long = 300000,
      retryable: Throwable => Boolean = defaultRetryable)(body: => T): T = {
    var attempt = 1
    var delay = firstDelayMs
    var result = Option.empty[T]
    while (result.isEmpty) {
      try result = Some(body)
      catch {
        case e: Exception if attempt < maxAttempts && retryable(e) =>
          System.err.println(s"[graft-sink] attempt $attempt/$maxAttempts failed " +
            s"(${e.getClass.getSimpleName}: ${e.getMessage}); retrying in $delay ms")
          attempt += 1
          Thread.sleep(delay)
          delay = math.min(delay * 2, maxDelayMs)
      }
    }
    result.get
  }

  /** Transient = an IO failure somewhere in the cause chain (a raw
    * IOException, or a SparkException wrapping one — the shuffle-fetch /
    * storage-outage shape). A bare SparkException does NOT qualify: Spark
    * wraps deterministic task failures (bad cast, codegen error, corrupt
    * record) the same way, and those should surface on attempt one, not
    * after the backoff ladder. */
  def defaultRetryable(t: Throwable): Boolean = {
    val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    !chain.exists(_.isInstanceOf[org.apache.spark.sql.AnalysisException]) &&
    chain.exists(c =>
      c.isInstanceOf[java.io.IOException] ||
      c.isInstanceOf[java.io.UncheckedIOException])
  }

  /** appendBatch wrapped in the reference's sink retry envelope. */
  def appendBatchWithRetry(sinkDir: String, firstDelayMs: Long = 2000)(
      batch: DataFrame, batchId: Long): Unit =
    withRetry(firstDelayMs = firstDelayMs) {
      appendBatch(sinkDir)(batch, batchId)
    }

  /** Last-write-wins view over everything appended: latest batch's row per
    * key. One shuffle on the key — the same shape as W8 latest-per-key. */
  def lastWriteWins(spark: SparkSession, sinkDir: String, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("batch_id").desc)
    Tables.parquet(spark, sinkDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "batch_id")
  }

  /** Union-of-appends view, for append-mode streams where every row is
    * emitted exactly once (dedup, flatMapGroupsWithState). */
  def appended(spark: SparkSession, sinkDir: String): DataFrame =
    Tables.parquet(spark, sinkDir).drop("batch_id")
}
