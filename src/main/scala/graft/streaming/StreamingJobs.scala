package graft.streaming

import graft.Tables
import graft.operators.WindowAggregates
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}
import java.nio.file.Files

/** The Structured Streaming runtime (SURVEY.md §2.10 — the heart of the
  * reference, spark_streaming/streaming_job.py).
  *
  * Shape-for-shape mapping:
  *   - source: file-stream `readStream.parquet` (Kafka is the same plan with
  *     `format("kafka")` + the envelope projections P1/P2; no broker exists
  *     in this environment, so the test surface is the file source —
  *     reference read path streaming_job.py:205-230)
  *   - watermark: `withWatermark("ts", "1 minute")` (streaming_job.py:303)
  *   - window agg: WindowAggregates.aggregateWindows — the batch A1 plan
  *     reused verbatim (streaming_job.py:278-353)
  *   - output mode: update, dashboard-style latest window values
  *     (streaming_job.py:733-739)
  *   - sink: `foreachBatch` → UpsertSink key-upsert keyed by
  *     (user_id, window_start) (streaming_job.py:461-533)
  *   - state store: RocksDB provider + checkpointing
  *     (streaming_job.py:174-182)
  *   - monitoring: the graft.Profile listener Bench attaches, per-batch
  *     progress and slow-batch alerts (streaming_job.py:632-687)
  *   - dedup: dropDuplicatesWithinWatermark — the reference's 5-second
  *     bucket suppression with 1-minute state GC (validation_consumer.py:353-409)
  *   - exact-vs-near classification: flatMapGroupsWithState with event-time
  *     TTL — the one operator needing hand-written state (SURVEY §7.2)
  *
  * Correctness harness: each registered query stages the events table into
  * time-ordered files, drains them with Trigger.AvailableNow through the
  * full streaming machinery, and the drained final state must hash-match the
  * batch oracle — bounded-drain equivalence (SURVEY §5). Files are staged in
  * event-time order (the generator's Kafka writes are likewise in-order per
  * sensor), so the drain drops nothing at the watermark and the final state
  * equals the batch answer; the *late/out-of-order* paths are covered by
  * ScalaTest, where DuckDB can't follow.
  */
object StreamingJobs {

  /** Streaming session confs (reference streaming_job.py:174-182). RocksDB
    * keeps per-executor state off-heap and incremental-checkpointed — at
    * 100 TB the state for (sensor × window) keys outgrows the in-memory
    * HDFS-backed provider long before it outgrows RocksDB. */
  def configureStreaming(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.streaming.minBatchesToRetain", "100")
    spark.conf.set("spark.sql.streaming.stopGracefullyOnShutdown", "true")
    // Checkpoint the RocksDB changelog instead of re-snapshotting the full
    // store every commit — the per-batch checkpoint cost becomes O(delta),
    // which is what keeps 10 s triggers viable once state is GBs.
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
  }

  /** The one bounded-drain runner: every registered drain and every
    * `drain*` helper starts its query here — `Trigger.AvailableNow`, the
    * checkpoint (a fresh temp dir unless the caller owns one, the restart
    * surface), `foreachBatch(batch)`, start and await. Two rules are applied
    * at `start()`, both derived from what the runner can observe; the
    * streaming query clones the session conf at `start()` (and freezes the
    * state partition count into the checkpoint on its first batch), so the
    * pins only need to cover startup and the session is restored after.
    *
    *  - State partitions follow the cores, capped at 8:
    *    `spark.sql.shuffle.partitions` is `min(defaultParallelism, 8)`.
    *    Each state partition opens and commits its own RocksDB store per
    *    micro-batch, so partitions beyond the cores are pure fixed cost
    *    (8 partitions on 4 cores measured ~1.85 s of `state.commit_ms` per
    *    drain, 4 partitions ~0.75 s). The cap holds hosts above 8 cores at
    *    8 stores per micro-batch: each store is fixed cost at test scale,
    *    and a larger count was never measured to help. Production sizing
    *    is state volume / executor count, picked at first deployment.
    *  - Update-mode queries on a runner-owned checkpoint run without the
    *    trailing no-data micro-batch
    *    (`spark.sql.streaming.noDataMicroBatches.enabled=false`). Update
    *    mode emits only the rows a batch changed, so the watermark-only
    *    batch after the last file can evict state but never changes what
    *    the sink serves — and each extra micro-batch is ~1 s of fixed cost
    *    at test scale. The contract this rests on: a `transformWithState`
    *    processor drained in update mode must not emit from
    *    `handleExpiredTimer` (the funnel and EMA processors return
    *    `Iterator.empty`). A caller-owned checkpoint keeps the batch: a
    *    later run resumes from it, and Spark records a batch's watermark in
    *    the next batch's offset log, so without it the resumed run would
    *    start one watermark behind, with state that was never evicted.
    *    Append and complete mode keep it too: in append mode it is the one
    *    that emits the windows, dedup keys and join rows the final
    *    watermark closes. */
  def drain(df: DataFrame, mode: OutputMode, ckpt: Option[String] = None)(
      batch: (DataFrame, Long) => Unit): Unit = {
    val spark = df.sparkSession
    val pins = Seq("spark.sql.shuffle.partitions" ->
        math.min(spark.sparkContext.defaultParallelism, 8).toString) ++
      Option.when(mode == OutputMode.Update && ckpt.isEmpty)(
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    val prev = pins.map { case (k, _) => k -> spark.conf.getOption(k) }
    pins.foreach { case (k, v) => spark.conf.set(k, v) }
    val q =
      try df.writeStream
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          ckpt.getOrElse(Files.createTempDirectory("graft-stream-ckpt-").toString))
        .foreachBatch(batch)
        .start()
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    q.awaitTermination()
  }

  /** Append-mode admission drain (m4n–m4w): each micro-batch is persisted
    * for the body's reads and handed to `admit` with its id. The admission
    * streams hold no stateful operator, so Spark schedules no no-data
    * batch for them: every micro-batch carries one staged file's rows. */
  private def drainAdmissions(stream: DataFrame)(
      admit: (DataFrame, Long) => Unit): Unit =
    drain(stream, OutputMode.Append) { (batch, batchId) =>
      batch.persist()
      try admit(batch, batchId)
      finally batch.unpersist()
    }

  /** Staged replay sources, memoized per (fixture, nFiles, source). */
  private val stagedDirs =
    scala.collection.concurrent.TrieMap.empty[(String, Int, String), String]

  /** Memoized staging: the registered drain queries replay the same
    * bounded stream, so the staged files are built once per (table, nFiles,
    * fixture) and shared. Staging is harness scaffolding (the "broker"), not
    * part of any query's plan — sharing it changes no semantics: each drain
    * still runs its own checkpoint, state store, and sink.
    *
    * The registered drains stage TWO files: the minimum that still
    * exercises cross-batch state (carry-forward, watermark advance between
    * batches, update-mode re-emission) under maxFilesPerTrigger=1. Each
    * extra micro-batch is ~1 s of pure fixed cost at test scale (state
    * store open/commit per partition, offset WAL, sink append — measured,
    * not plan work), and every stateful operator sorts rows by event time
    * inside a batch while files replay in time order, so batch count never
    * changes which rows a key's state sees or their order — only how many
    * times the machinery cycles. */
  def stagedEvents(spark: SparkSession, dir: String, nFiles: Int): String =
    stagedDirs.getOrElseUpdate((dir, nFiles, "events"),
      stage(Tables.events(spark, dir), nFiles))

  /** The corrupted producer replay for the dedup classifiers: the generator's
    * corruption fixture (duplicate band re-sent, late band shifted) with the
    * reference's `message_id` identity stamped on — re-sends of the same
    * record carry the same message_id (producer.py:189; the duplicate class
    * re-sends verbatim, generator.py:226-255), distinct readings never
    * share one. */
  def stagedCorrupted(spark: SparkSession, dir: String, nFiles: Int): String =
    stagedDirs.getOrElseUpdate((dir, nFiles, "corrupted"),
      stage(
        graft.operators.Generator.withIssues(Tables.events(spark, dir))
          .withColumn("message_id", col("event_id"))
          .select("event_id", "message_id", "user_id", "ts", "value", "event_type"),
        nFiles))

  /** M4l staging: the in-order event files PLUS a final tranche that is
    * PROVABLY beyond the watermark when it arrives — every tranche row is
    * a re-send of a first-hour reading with its value shifted +1000, so
    * its 5-minute window closed ≥ 2 hours before the stream's max event
    * time, while the 1-minute watermark delay puts the post-drain
    * watermark only 1 minute behind that max. A correct engine must DROP
    * the whole tranche; an engine that leaks it into closed windows shifts
    * those windows' averages by construction and fails the hash gate. The
    * one bounds collect is harness scaffolding (the "broker" replay), not
    * part of any query plan. */
  def stagedLateEvents(spark: SparkSession, dir: String, nFiles: Int): String =
    stagedDirs.getOrElseUpdate((dir, nFiles, "late"), {
      val ev = Tables.events(spark, dir)
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
      val src = stage(ev, nFiles)
      val b = ev.agg(unix_micros(min(col("ts"))).as("lo"),
        unix_micros(max(col("ts"))).as("hi")).head()
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      // first-hour tranche + ≥2 h margin below the watermark: needs a
      // fixture spanning ≥ 4 h so "late" is provable, not racy
      require(hi - lo >= 4L * 3600 * 1000000,
        s"$dir: events span under 4h — cannot stage a provably-late tranche")
      ev.filter(unix_micros(col("ts")) < lo + 3600L * 1000000)
        .withColumn("value", col("value") + lit(1000.0))
        .coalesce(1).write.mode("append").parquet(src)
      src
    })

  def stage(df: DataFrame, nFiles: Int): String =
    stageBy(df.filter(col("ts").isNotNull && col("user_id").isNotNull),
      nFiles, Seq(col("ts"), col("event_id")))

  /** Write an `order`-split bounded replay source: one range shuffle cuts
    * the rows into `nFiles` contiguous `order` ranges (no single-task global
    * window), a within-partition sort restores the replay order inside each
    * range, and each range is written as one file, published as `fNNN` in
    * range order with ascending modification times. The file source lists
    * by (mtime, path), so it replays the ranges in order — the same
    * delivery contract as the reference's per-sensor ordered Kafka
    * partitions (producer.py:227-243); file order is semantics-bearing for
    * the watermark drains, and contiguity is all they need (range sizes
    * follow the partitioner's sample). Staging is harness scaffolding (the
    * "broker"), not part of any query plan, shared via the memo above. */
  private def stageBy(df: DataFrame, nFiles: Int, order: Seq[Column]): String = {
    import java.nio.file.{Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val src = Files.createTempDirectory("graft-stream-src-").toString
    val build = s"$src-build"
    df.repartitionByRange(nFiles, order: _*).sortWithinPartitions(order: _*)
      .write.parquet(build)
    // part file names carry the partition index, so name order is range order
    val listing = Files.list(Paths.get(build))
    val parts =
      try listing.iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
        .sortBy(_.getFileName.toString)
      finally listing.close()
    val t0 = System.currentTimeMillis() - parts.size * 1000L
    parts.zipWithIndex.foreach { case (f, i) =>
      val dst = Paths.get(src, f"f${i + 1}%03d.parquet")
      Files.move(f, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(t0 + i * 1000L))
    }
    val walk = Files.walk(Paths.get(build))
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally walk.close()
    src
  }

  /** File-stream source over a staged dir; maxFilesPerTrigger bounds each
    * micro-batch like the reference's maxOffsetsPerTrigger rate limit
    * (streaming_job.py:227 — note the reference misspells the option with a
    * `kafka.` prefix, making it inert; here it is real). */
  def readEventStream(spark: SparkSession, srcDir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    spark.readStream
      .schema(Tables.parquet(spark, srcDir).schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
  }

  /** The streaming twin of batch A1: watermark + the shared aggregation
    * body. Identical logical plan, micro-batch execution. */
  def streamWindowAgg(stream: DataFrame): DataFrame =
    WindowAggregates.aggregateWindows(stream.withWatermark("ts", "1 minute"))

  /** Drain a bounded stream to completion through update mode + the
    * key-upsert sink (a fresh checkpoint, no trailing no-data batch). */
  def drainUpdate(df: DataFrame, sinkDir: String): Unit =
    drain(df, OutputMode.Update)(UpsertSink.appendBatch(sinkDir) _)

  /** Same, against a CALLER-OWNED checkpoint dir — the restart surface: a
    * later call with the same checkpoint resumes offsets, watermark and
    * operator state from where the previous incarnation stopped (the
    * exactly-once recovery leg; StreamingSpec kills and resumes through
    * it). The trailing no-data batch runs here, so the checkpoint records
    * the final watermark and evicted state (see `drain`). */
  def drainUpdate(df: DataFrame, sinkDir: String, ckpt: String): Unit =
    drain(df, OutputMode.Update, Some(ckpt))(UpsertSink.appendBatch(sinkDir) _)

  /** Drain a complete-mode bounded stream (session windows reject update
    * mode; complete re-emits the whole session state each micro-batch, and
    * the last-write-wins view keeps each key's final version). */
  def drainComplete(df: DataFrame, sinkDir: String): Unit =
    drain(df, OutputMode.Complete)(UpsertSink.appendBatch(sinkDir) _)

  /** Drain an append-mode bounded stream (dedup / stateful classify). */
  def drainAppend(df: DataFrame, sinkDir: String): Unit =
    drain(df, OutputMode.Append)(UpsertSink.appendBatch(sinkDir) _)

  /** Continuous production form (reference main, streaming_job.py:733-767):
    * 10 s processing-time trigger, checkpointed, graceful shutdown via
    * stopGracefullyOnShutdown + awaitTermination. Not part of the bounded
    * correctness harness — tests drive it with processAllAvailable. */
  def runContinuous(df: DataFrame, sinkDir: String, ckpt: String) = {
    df.writeStream
      .outputMode(OutputMode.Update)
      .trigger(Trigger.ProcessingTime("10 seconds"))
      .option("checkpointLocation", ckpt)
      .foreachBatch(UpsertSink.appendBatch(sinkDir) _)
      .start()
  }

  // ---- registered bounded-drain queries ----------------------------------

  /** M4: the full reference pipeline — file stream → watermark → 5-min
    * tumbling window agg → update mode → foreachBatch key-upsert — drained
    * and served as the last-write-wins state. Hash-matches the batch A1
    * oracle. */
  def streamWindowAggQuery(spark: SparkSession, dir: String): DataFrame = {
    configureStreaming(spark)
    val src = stagedEvents(spark, dir, 2)
    val sink = Files.createTempDirectory("graft-stream-sink-").toString
    drainUpdate(streamWindowAgg(readEventStream(spark, src)), sink)
    UpsertSink.lastWriteWins(spark, sink, Seq("user_id", "window_start"))
  }

  /** M4l: the watermark DROP leg — the same pipeline as M4, but the staged
    * stream ends with a beyond-watermark tranche (see stagedLateEvents).
    * The drained state must equal the batch A1 answer over the ON-TIME
    * rows alone: the oracle is the plain batch SQL, which excludes the
    * tranche by construction, so the DuckDB hash gate now covers the late-
    * data-drop semantics that were previously spec-only (reference drop
    * behavior: streaming_job.py:303, docs/topic3_usage_guide.md:254-263).
    * Files drain one per micro-batch (maxFilesPerTrigger=1), so by the
    * time the tranche's batch runs, the watermark sits 1 minute behind the
    * stream's max event time — hours past every tranche window's end. */
  def streamLateDropQuery(spark: SparkSession, dir: String): DataFrame = {
    configureStreaming(spark)
    val src = stagedLateEvents(spark, dir, 2)
    val sink = Files.createTempDirectory("graft-stream-sink-").toString
    drainUpdate(streamWindowAgg(readEventStream(spark, src)), sink)
    UpsertSink.lastWriteWins(spark, sink, Seq("user_id", "window_start"))
  }

  /** M4b: streaming near-duplicate suppression — the reference's
    * (sensor_id, 5-second bucket) dedup with watermark-driven state GC
    * (validation_consumer.py:353-409, 77). Emits the surviving keys; which
    * physical row survives inside a micro-batch is nondeterministic by
    * design (the reference keeps "first seen", arrival-order dependent), so
    * the deterministic surface is the key set. */
  def streamDedupQuery(spark: SparkSession, dir: String): DataFrame = {
    configureStreaming(spark)
    val src = stagedEvents(spark, dir, 2)
    val sink = Files.createTempDirectory("graft-stream-sink-").toString
    val deduped = readEventStream(spark, src)
      .withColumn("bucket", expr("(unix_micros(ts) div 5000000) * 5"))
      .withWatermark("ts", "1 minute")
      .dropDuplicatesWithinWatermark("user_id", "bucket")
      .select(col("user_id"), col("bucket"))
    drainAppend(deduped, sink)
    UpsertSink.appended(spark, sink)
  }

  // M4c: stateful exact-vs-near duplicate classification.

  // `ts` stays in the Dataset: the event-time watermark is attached to that
  // column and must survive into the stateful operator.
  final case class Reading(event_id: Long, message_id: Long, user_id: Long,
      ts: java.sql.Timestamp, tsMicros: Long, bucket: Long)
  final case class BucketState(seenIds: Seq[Long])
  final case class Classified(event_id: Long, user_id: Long, bucket: Long, dup_class: String)

  /** Per-(sensor, bucket) classification (validation_consumer.py:353-409):
    * first row in the bucket is `unique`, a row repeating an already-seen
    * `message_id` is `exact_dup` (:381-383 — the reference keys exact
    * duplicates on the producer's message identity, not the payload), and
    * anything else in a non-empty bucket is `near_dup` (:386-391 — same
    * sensor and window). State carries the seen message ids and dies 60 s
    * (event time) after the bucket closes — the reference's 1-minute GC
    * (:77). Rows inside a batch are sorted by (ts, message_id, event_id) so
    * the classification is deterministic and batch-replayable. */
  private def classify(key: (Long, Long), rows: Iterator[Reading],
      state: GroupState[BucketState]): Iterator[Classified] = {
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      // Unlike windowed aggregates, flatMapGroupsWithState does NOT filter
      // beyond-watermark input — the watermark only drives timeouts, and a
      // late row would otherwise resurrect a GC'd bucket (and make its
      // timeout land before the watermark, which Spark rejects). Enforcing
      // the reference's 1-minute lateness bound on the input is the
      // operator's job.
      val wm = state.getCurrentWatermarkMs()
      val live = rows.toSeq.filter(r => r.tsMicros / 1000L >= wm)
        .sortBy(r => (r.tsMicros, r.message_id, r.event_id))
      if (live.isEmpty) Iterator.empty
      else {
        var seen = state.getOption.map(_.seenIds).getOrElse(Seq.empty)
        val out = live.map { r =>
          val cls =
            if (seen.contains(r.message_id)) "exact_dup"
            else if (seen.nonEmpty) "near_dup"
            else "unique"
          seen = seen :+ r.message_id
          Classified(r.event_id, r.user_id, r.bucket, cls)
        }
        state.update(BucketState(seen))
        // live rows are >= watermark, so the bucket deadline (+65 s) is
        // always a legal (future-of-watermark) timeout
        state.setTimeoutTimestamp((key._2 + 5 + 60) * 1000L)
        out.iterator
      }
    }
  }

  /** Shared prelude of both classifier forms. Streams without a message_id
    * column (the ScalaTest harness feeds raw event rows) default it to
    * event_id — a fresh identity per record, the reference's uuid4 default
    * (producer.py:189). */
  private def readingStream(stream: DataFrame): Dataset[Reading] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val withMid =
      if (stream.columns.contains("message_id")) stream
      else stream.withColumn("message_id", col("event_id"))
    withMid
      .withColumn("tsMicros", unix_micros(col("ts")))
      .withColumn("bucket", expr("(unix_micros(ts) div 5000000) * 5"))
      .withWatermark("ts", "1 minute")
      .select(col("event_id"), col("message_id"), col("user_id"), col("ts"),
        col("tsMicros"), col("bucket"))
      .as[Reading]
  }

  def classifyDups(stream: DataFrame): Dataset[Classified] = {
    val spark = stream.sparkSession
    import spark.implicits._
    readingStream(stream)
      .groupByKey(r => (r.user_id, r.bucket))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(classify _)
  }

  def statefulDedupQuery(spark: SparkSession, dir: String): DataFrame = {
    configureStreaming(spark)
    val src = stagedCorrupted(spark, dir, 2)
    val sink = Files.createTempDirectory("graft-stream-sink-").toString
    drainAppend(classifyDups(readEventStream(spark, src)).toDF(), sink)
    UpsertSink.appended(spark, sink)
  }

  // M4d: the same classification on the transformWithState API (arbitrary
  // stateful processing v2, Spark 4) — explicit ValueState + an event-time
  // timer for the 1-minute state GC, instead of the flatMapGroupsWithState
  // timeout. Both forms stay registered: same semantics, same oracle, the
  // legacy and current state APIs verified against each other.

  /** Per-(sensor, bucket) classifier. State lifecycle: created on the
    * bucket's first row, GC'd by the timer 60 s (event time) after the
    * bucket closes — the reference's 1-minute cleanup
    * (validation_consumer.py:77, 353-409). Exact-dup keys on `message_id`
    * like `classify` above. */
  class DupClassifier extends StatefulProcessor[(Long, Long), Reading, Classified] {
    @transient private var seen: ValueState[BucketState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[BucketState]("seen",
        org.apache.spark.sql.Encoders.product[BucketState], TTLConfig.NONE)

    override def handleInputRows(key: (Long, Long), rows: Iterator[Reading],
        timerValues: TimerValues): Iterator[Classified] = {
      // transformWithState likewise delivers beyond-watermark rows to the
      // operator — drop them here (see classify above for the rationale)
      val wm = timerValues.getCurrentWatermarkInMs()
      val live = rows.toSeq.filter(r => r.tsMicros / 1000L >= wm)
        .sortBy(r => (r.tsMicros, r.message_id, r.event_id))
      if (live.isEmpty) Iterator.empty
      else {
        val fresh = !seen.exists()
        var s = if (fresh) Seq.empty[Long] else seen.get().seenIds
        val out = live.map { r =>
          val cls =
            if (s.contains(r.message_id)) "exact_dup"
            else if (s.nonEmpty) "near_dup"
            else "unique"
          s = s :+ r.message_id
          Classified(r.event_id, r.user_id, r.bucket, cls)
        }
        seen.update(BucketState(s))
        if (fresh) getHandle.registerTimer((key._2 + 5 + 60) * 1000L)
        out.iterator
      }
    }

    override def handleExpiredTimer(key: (Long, Long), timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Classified] = {
      seen.clear()
      Iterator.empty
    }
  }

  def classifyDupsTws(stream: DataFrame): Dataset[Classified] = {
    val spark = stream.sparkSession
    import spark.implicits._
    readingStream(stream)
      .groupByKey(r => (r.user_id, r.bucket))
      .transformWithState(new DupClassifier, TimeMode.EventTime, OutputMode.Append)
  }

  def statefulDedupTwsQuery(spark: SparkSession, dir: String): DataFrame = {
    configureStreaming(spark)
    val src = stagedCorrupted(spark, dir, 2)
    val sink = Files.createTempDirectory("graft-stream-sink-").toString
    drainAppend(classifyDupsTws(readEventStream(spark, src)).toDF(), sink)
    UpsertSink.appended(spark, sink)
  }

  /** M4e: the reference's FULL fused topology as one streaming query —
    * validate (V1–V6 rule set inline, stateless Column exprs) → route (keep
    * the valid branch; the DLQ branch is the complementary filter) →
    * watermark → 5-min tumbling window agg → update mode → key-upsert sink.
    * The reference runs these as two processes bridged by a Kafka topic
    * (validation_consumer.py → streaming_job.py); fused here, Catalyst
    * pipelines validation into the scan of the stateful stage — no
    * intermediate hop, one shuffle total (the window agg's). */
  def validatedPipelineQuery(spark: SparkSession, dir: String): DataFrame = {
    configureStreaming(spark)
    val src = stagedEvents(spark, dir, 2)
    val sink = Files.createTempDirectory("graft-stream-sink-").toString
    val valid = graft.operators.Validation
      .withFailures(readEventStream(spark, src), graft.operators.Validation.eventRules)
      .filter(col("data_quality_flag") === "valid")
      .drop("validation_failures", "data_quality_flag")
    drainUpdate(streamWindowAgg(valid), sink)
    UpsertSink.lastWriteWins(spark, sink, Seq("user_id", "window_start"))
  }

  /** M4f: streaming sessionization — the batch A8 `session_window`
    * expression under a watermark, drained in update mode through the
    * key-upsert sink. Session state MERGES windows (unlike tumbling
    * windows' disjoint keys), which is why it gets its own drain query: the
    * state store holds open sessions and extends them across micro-batches.
    * Session aggregations reject update mode (a merge would have to retract
    * the pre-merge rows), and append mode would hold back every session the
    * final watermark hasn't passed — so the bounded drain runs in COMPLETE
    * mode: each micro-batch re-emits the full session state and the
    * last-write-wins view keeps each key's final version. With the in-order
    * replay a session's start is pinned by its first event — merges only
    * ever extend the end and no later event can bridge two already-separated
    * sessions backwards — so (user_id, session_start) is a stable upsert key
    * and the drained state must equal the batch sessions (a8's oracle). */
  def streamSessionizeQuery(spark: SparkSession, dir: String): DataFrame = {
    configureStreaming(spark)
    val src = stagedEvents(spark, dir, 2)
    val sink = Files.createTempDirectory("graft-stream-sink-").toString
    val sessions = readEventStream(spark, src)
      .withWatermark("ts", "1 minute")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        graft.operators.Exact.rnd(graft.operators.Exact.sumD("value"), 2).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))
    drainComplete(sessions, sink)
    UpsertSink.lastWriteWins(spark, sink, Seq("user_id", "session_start"))
  }

  /** M4g: stream-static enrichment join — the reference's planned
    * "broadcast join for device_metadata" inside the streaming topology
    * (Learning Guide.txt:1045 §5): every micro-batch hash-joins the stream
    * against the broadcast static dimension (stateless — the dimension is
    * re-read per batch, so a dimension update is picked up on the next
    * trigger), then feeds the watermarked window aggregation — the
    * segment-level live dashboard. The stateful stage still shuffles only
    * its (segment, window) group keys; the fact stream never shuffles for
    * the join. */
  def streamEnrichedQuery(spark: SparkSession, dir: String): DataFrame = {
    configureStreaming(spark)
    val src = stagedEvents(spark, dir, 2)
    val sink = Files.createTempDirectory("graft-stream-sink-").toString
    val dim = broadcast(Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment")))
    val enriched = readEventStream(spark, src)
      .join(dim, col("user_id") === col("c_custkey"))
      .withWatermark("ts", "1 minute")
      .groupBy(col("c_mktsegment"), window(col("ts"), "5 minutes"))
      .agg(
        graft.operators.Exact.rnd(graft.operators.Exact.avgD("value"), 4).as("avg_value"),
        count(lit(1)).as("cnt"))
      .select(col("c_mktsegment"),
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("avg_value"), col("cnt"))
    drainUpdate(enriched, sink)
    UpsertSink.lastWriteWins(spark, sink, Seq("c_mktsegment", "window_start"))
  }

  /** M4h: stream-stream time-interval join — purchases attributed to a
    * preceding view by the same user within one hour: the two-sided stateful
    * join Structured Streaming is famous for. Both sides carry watermarks
    * and the join predicate carries the time bound, which is what lets the
    * state store evict a buffered row once the other side's watermark
    * passes its match window — without the bound, both sides buffer
    * forever. Inner-join matches emit in the micro-batch that finds them
    * (nothing is held for the watermark), so the bounded drain captures
    * every pair and must equal the batch interval join. The two legs read
    * the same staged replay as independent file sources of one query. */
  def streamStreamJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    configureStreaming(spark)
    val src = stagedEvents(spark, dir, 2)
    val sink = Files.createTempDirectory("graft-stream-sink-").toString
    val views = readEventStream(spark, src)
      .filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 minute")
    val purchases = readEventStream(spark, src)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 minute")
    val joined = views.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") < col("view_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("view_id"), col("purchase_id"), col("user_id"),
        col("view_ts"), col("purchase_ts"))
    drainAppend(joined, sink)
    UpsertSink.appended(spark, sink)
  }

  /** M4i: the streaming Count-Min sketch — the CMS's mergeability made
    * operational: a streaming aggregation keyed on the sketch COORDINATES
    * (d, bucket) maintains the whole sketch in CmsRows × CmsWidth = 8k rows
    * of state, regardless of vocabulary size — the bounded-memory frequency
    * monitor every ingest pipeline wants (per-batch partial counts merge by
    * addition; update mode emits the refreshed bucket rows and the
    * key-upsert sink keeps each coordinate's final sum). No watermark ON
    * PURPOSE: the sketch is a running total over the whole stream, not a
    * windowed state — its state is bounded by construction, not by
    * eviction. The drained sketch is then point-queried through the SAME
    * serving component as the batch twin (TextAnalysis.cmsEstimates), and
    * because bucket sums are associative the estimates replay the batch
    * oracle EXACTLY. */
  def streamCmsQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    configureStreaming(spark)
    graft.functions.GraftFunctions.register(spark)
    val src = stagedDocuments(spark, dir, 2)
    val sink = Files.createTempDirectory("graft-stream-sink-").toString
    val sketchStream = readEventStream(spark, src)
      .select(explode(TextAnalysis.normTokens(col("text"))).as("term"))
      .select(TextAnalysis.cmsCoords(col("term")).as("p"))
      .select(col("p.d").as("d"), col("p.bucket").as("bucket"))
      .groupBy("d", "bucket").agg(count(lit(1)).as("s"))
    drainUpdate(sketchStream, sink)
    val sketch = UpsertSink.lastWriteWins(spark, sink, Seq("d", "bucket"))
    // serving side: exact top-k (batch, sort+limit) point-queried against
    // the STREAM-built sketch
    val tf = Tables.documents(spark, dir)
      .select(explode(TextAnalysis.normTokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("tf"))
    TextAnalysis.cmsEstimates(sketch, TextAnalysis.cmsTopTerms(tf))
  }

  // M4j: streaming funnel — the ordered-stage conversion state machine
  // (view → click → purchase, batch twin a12) as per-user streaming state.

  /** `ts` stays in the Dataset (the Reading precedent): the event-time
    * watermark drives the TTL timers and must survive into the operator. */
  final case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp,
      tsMicros: Long, event_type: String, event_id: Long)
  /** Stage entry times in micros; −1 = stage not reached. */
  final case class FunnelState(t1: Long, t2: Long, t3: Long)
  final case class FunnelRow(user_id: Long, t1: Option[Long],
      t2: Option[Long], t3: Option[Long])

  /** Event-time TTL for inactive funnel state: 30 days of user inactivity
    * drops the state (the m4 family's keyed-state budget discipline —
    * m4c/m4d GC their buckets the same way; unbounded NoTimeout state was
    * round 7's one footnoted gap). Far beyond the fixture's span, so the
    * bounded drain never expires anything and m4j's batch oracle is
    * untouched; StreamingSpec drives a tiny-TTL instance to pin the
    * drop-and-restart semantics. */
  private[streaming] val FunnelTtlMs: Long = 30L * 24 * 3600 * 1000

  /** Per-user funnel processor (transformWithState, event-time mode).
    * Advance semantics: the staged replay is globally ts-ordered across
    * batches and rows are sorted inside one, so "first qualifying event in
    * processing order" IS the batch semantics (min event after the previous
    * stage's entry, strict >): the drained state must equal a12's chained
    * grouped-mins, which is exactly what the oracle asserts.
    *
    * TTL: one sliding event-time timer per user at last-activity + ttl —
    * each batch deletes the previous timer and re-registers (clamped ahead
    * of the current watermark — a timer at-or-behind it is rejected). On
    * expiry the state is cleared; a post-TTL event then finds empty state
    * and restarts the funnel from stage 1. */
  class FunnelProcessor(ttlMs: Long)
      extends StatefulProcessor[Long, FunnelEvent, FunnelRow] {
    @transient private var st: ValueState[FunnelState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[FunnelState]("funnel",
        org.apache.spark.sql.Encoders.product[FunnelState], TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[FunnelEvent],
        timerValues: TimerValues): Iterator[FunnelRow] = {
      var s = if (st.exists()) st.get() else FunnelState(-1L, -1L, -1L)
      var lastMs = Long.MinValue
      rows.toSeq.sortBy(r => (r.tsMicros, r.event_id)).foreach { r =>
        lastMs = math.max(lastMs, r.tsMicros / 1000L)
        r.event_type match {
          case "view" if s.t1 < 0 => s = s.copy(t1 = r.tsMicros)
          case "click" if s.t1 >= 0 && s.t2 < 0 && r.tsMicros > s.t1 =>
            s = s.copy(t2 = r.tsMicros)
          case "purchase" if s.t2 >= 0 && s.t3 < 0 && r.tsMicros > s.t2 =>
            s = s.copy(t3 = r.tsMicros)
          case _ => ()
        }
      }
      st.update(s)
      getHandle.listTimers().toSeq.foreach(getHandle.deleteTimer)
      getHandle.registerTimer(
        math.max(lastMs + ttlMs, timerValues.getCurrentWatermarkInMs() + 1))
      def opt(v: Long) = if (v < 0) None else Some(v)
      Iterator.single(FunnelRow(uid, opt(s.t1), opt(s.t2), opt(s.t3)))
    }

    override def handleExpiredTimer(uid: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[FunnelRow] = {
      st.clear()
      Iterator.empty
    }
  }

  /** The funnel topology over any event stream — shared by the registered
    * drain and StreamingSpec's tiny-TTL harness. */
  def funnelStates(stream: DataFrame, ttlMs: Long): Dataset[FunnelRow] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .withWatermark("ts", "1 minute")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("tsMicros"),
        col("event_type"), col("event_id"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor(ttlMs),
        TimeMode.EventTime, OutputMode.Update)
  }

  /** M4j: per-user funnel state maintained by transformWithState, emitted
    * in update mode and key-upserted — the sink holds each user's CURRENT
    * funnel position at every point in the stream, which is what a live
    * conversion dashboard reads (the batch a12 summary is its end-of-day
    * rollup). State is three longs per user plus one timer, bounded by the
    * ACTIVE user population: the event-time TTL drops users idle past
    * `FunnelTtlMs`. */
  def streamFunnelQuery(spark: SparkSession, dir: String): DataFrame = {
    configureStreaming(spark)
    val src = stagedEvents(spark, dir, 2)
    val sink = Files.createTempDirectory("graft-stream-sink-").toString
    val rows = funnelStates(readEventStream(spark, src), FunnelTtlMs)
    drainUpdate(rows.toDF(), sink)
    UpsertSink.lastWriteWins(spark, sink, Seq("user_id"))
      .filter(col("t1").isNotNull) // funnel membership starts at stage 1
      .select(col("user_id"), timestamp_micros(col("t1")).as("t1"),
        timestamp_micros(col("t2")).as("t2"), timestamp_micros(col("t3")).as("t3"))
  }

  // M4k: streaming exponential moving average — the w10 batch fold as live
  // per-sensor state (the smoothed-reading gauge a dashboard serves).

  final case class EmaEvent(user_id: Long, ts: java.sql.Timestamp,
      tsMicros: Long, event_id: Long, value: Double)
  final case class EmaState(ema: Double, n: Long)
  final case class EmaRow(user_id: Long, n_events: Long, ema: Double)

  /** Per-sensor EMA processor. The recurrence is applied in (tsMicros,
    * event_id) order inside each batch and the staged replay is globally
    * ts-ordered across batches, so the fold sequence is IDENTICAL to batch
    * w10's sorted-array fold — the drained state replays its oracle
    * bit-for-bit (same mul/add order). State is two numbers per sensor
    * under the same sliding event-time TTL as the funnel. */
  class EmaProcessor(ttlMs: Long)
      extends StatefulProcessor[Long, EmaEvent, EmaRow] {
    @transient private var st: ValueState[EmaState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[EmaState]("ema",
        org.apache.spark.sql.Encoders.product[EmaState], TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[EmaEvent],
        timerValues: TimerValues): Iterator[EmaRow] = {
      var s = if (st.exists()) st.get() else EmaState(0.0, 0L)
      var lastMs = Long.MinValue
      rows.toSeq.sortBy(r => (r.tsMicros, r.event_id)).foreach { r =>
        lastMs = math.max(lastMs, r.tsMicros / 1000L)
        s = EmaState(
          if (s.n == 0) r.value else s.ema * 0.8 + 0.2 * r.value,
          s.n + 1)
      }
      st.update(s)
      getHandle.listTimers().toSeq.foreach(getHandle.deleteTimer)
      getHandle.registerTimer(
        math.max(lastMs + ttlMs, timerValues.getCurrentWatermarkInMs() + 1))
      Iterator.single(EmaRow(uid, s.n, s.ema))
    }

    override def handleExpiredTimer(uid: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[EmaRow] = {
      st.clear()
      Iterator.empty
    }
  }

  /** M4k: per-sensor streaming EMA via transformWithState, update-mode
    * key-upserted; the drained final state must equal batch w10_ema
    * exactly (same fold, same order, same doubles). */
  def streamEmaQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    configureStreaming(spark)
    val src = stagedEvents(spark, dir, 2)
    val sink = Files.createTempDirectory("graft-stream-sink-").toString
    val rows = readEventStream(spark, src)
      .filter(col("value").isNotNull) // the batch twin's null filter
      .withWatermark("ts", "1 minute")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("tsMicros"),
        col("event_id"), col("value"))
      .as[EmaEvent]
      .groupByKey(_.user_id)
      .transformWithState(new EmaProcessor(FunnelTtlMs),
        TimeMode.EventTime, OutputMode.Update)
    drainUpdate(rows.toDF(), sink)
    UpsertSink.lastWriteWins(spark, sink, Seq("user_id"))
      .select(col("user_id"), col("n_events").cast("int").as("n_events"),
        graft.operators.Exact.rnd(col("ema"), 6).as("ema"))
  }

  /** Staged bounded replay of the documents table (doc_id order) — the
    * corpus as a stream, for the ingest-side text operators (m4i). */
  def stagedDocuments(spark: SparkSession, dir: String, nFiles: Int): String =
    stagedDirs.getOrElseUpdate((dir, nFiles, "documents"),
      stageBy(Tables.documents(spark, dir), nFiles, Seq(col("doc_id"))))

  /** Staged bounded replay of the embeddings table (vec_id order) — the
    * vector corpus as a stream, for the streaming ANN admission (m4o). */
  def stagedEmbeddings(spark: SparkSession, dir: String, nFiles: Int): String =
    stagedDirs.getOrElseUpdate((dir, nFiles, "embeddings"),
      stageBy(Tables.embeddings(spark, dir), nFiles, Seq(col("vec_id"))))

  /** M4m: streaming quality gate — the m6_quality_classifier inference
    * topology as a stream: documents arrive in micro-batches, features
    * explode and reduce through the SAME frame-level classifier core
    * (TextAnalysis.classifyFrame — shared code, not a re-implementation),
    * per-document state accumulates in update mode, and the drained final
    * state must hash-equal the batch classifier's oracle. The per-doc
    * aggregation is unkeyed by time on purpose: a quality gate is not
    * windowed — a document's score is final once its features are in,
    * whichever micro-batch carried them. */
  def streamQualityQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    configureStreaming(spark)
    graft.functions.GraftFunctions.register(spark)
    val src = stagedDocuments(spark, dir, 2)
    val sink = Files.createTempDirectory("graft-stream-sink-").toString
    val scored = TextAnalysis.classifyFrame(readEventStream(spark, src))
    drainUpdate(scored, sink)
    UpsertSink.lastWriteWins(spark, sink, Seq("doc_id"))
  }

  /** M4n: streaming retrieval-index maintenance — the m6_incremental_index
    * admission as a LIVE topology: documents arrive in micro-batches and
    * each batch is admitted into the BM25 posting catalog inside
    * foreachBatch through `Connectors.appendKeyed`, the commit keyed on the
    * micro-batch id so a foreachBatch retry (Spark re-runs the whole batch
    * on recovery) re-admits idempotently instead of double-counting — the
    * exactly-once contract every streaming table sink is built around,
    * here carried by the repo's own commit protocol rather than an
    * external table format. The stats manifest gets one keyed row per
    * batch; searches read Σ members.
    *
    * The drained catalog then serves the fixed Bm25Queries through the
    * SAME reader as the batch admission (TextAnalysis.bm25CatalogSearch).
    * Because the reader derives df/nd/avgdl as catalog TOTALS, the ranking
    * is independent of the micro-batch partitioning — so the oracle is the
    * release ranker's (m6_bm25_topk) verbatim: a stream-maintained index
    * must serve exactly what the batch-built release index serves. */
  def streamIndexAdmissionQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Connectors, TextAnalysis}
    configureStreaming(spark)
    graft.functions.GraftFunctions.register(spark)
    val src = stagedDocuments(spark, dir, 3)
    val cat = Connectors.scratchCatalog("graft-stream-index-")
    val post = s"$cat/postings"; val stats = s"$cat/stats"
    drainAdmissions(readEventStream(spark, src)) { (batch, batchId) =>
      val nRows = batch.count()
      val delta = TextAnalysis.bm25IndexOf(
        batch.select(col("doc_id"),
          TextAnalysis.normTokens(col("text")).as("toks"))).persist()
      // posting and stats tables append independently (single-writer
      // is per-table) — overlap the commits, guide §2.6
      try Connectors.commitInParallel(Seq(
        () => Connectors.appendKeyed(spark, post,
          delta.coalesce(Connectors.deltaFiles(nRows)), s"b$batchId"),
        () => Connectors.appendKeyed(spark, stats,
          TextAnalysis.memberStatsOf(delta), s"b$batchId")))
      finally delta.unpersist()
    }
    TextAnalysis.bm25CatalogSearch(spark, post, stats)
  }

  /** M4o: streaming ANN-index maintenance — m4n's exactly-once keyed-commit
    * topology applied to the IVF catalog: embedding vectors arrive in
    * micro-batches and each batch is assigned to its nearest RELEASE
    * centroid inside foreachBatch (the quantizer is release-scoped state,
    * bound ONCE before the stream starts and held across micro-batches —
    * production IVF admission never re-trains per batch), then committed
    * through `Connectors.appendKeyed` keyed on the micro-batch id, so a
    * foreachBatch retry re-admits idempotently. Each generation's file
    * count scales with the batch (Connectors.deltaFiles — the r15
    * coalesce(1) lesson applied from birth).
    *
    * The drained catalog then serves the fixed nprobe=2 probe workload
    * through the SAME reader as the batch admissions
    * (Similarity.ivfCatalogSearch). Because the quantizer is frozen and
    * each vector's cell rides with its row, the ranking is independent of
    * the micro-batch partitioning — so the oracle is the release ranker's
    * (m6_ann_ivf2) VERBATIM: a stream-maintained ANN index must serve
    * exactly what the batch-built release index serves. */
  def streamIvfAdmissionQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Connectors, Similarity}
    configureStreaming(spark)
    graft.functions.GraftFunctions.register(spark)
    val src = stagedEmbeddings(spark, dir, 3)
    val cells = s"${Connectors.scratchCatalog("graft-stream-ivf-")}/cells"
    // the frozen release quantizer, resident for the job's lifetime
    val cents = Similarity.releaseCentroids(spark, dir).persist()
    try drainAdmissions(readEventStream(spark, src)) { (batch, batchId) =>
      val nRows = batch.count()
      Connectors.appendKeyed(spark, cells,
        Similarity.assignToCells(Similarity.withVecNorm(spark, batch), cents)
          .coalesce(Connectors.deltaFiles(nRows)),
        s"b$batchId")
    } finally cents.unpersist()
    Similarity.ivfCatalogSearch(spark, dir, cells)
  }

  /** Staged bounded replay of the forget request (doc_id order) — GDPR
    * erasure/takedown ids arriving as a stream, for m4p. */
  def stagedForget(spark: SparkSession, dir: String, nFiles: Int): String =
    stagedDirs.getOrElseUpdate((dir, nFiles, "forget"),
      stageBy(graft.operators.TextAnalysis.forgetRequest(spark, dir),
        nFiles, Seq(col("doc_id"))))

  /** M4p: streaming forget-request admission — the retraction leg of the
    * streaming index lifecycle (m4n admits documents, m4o admits vectors,
    * this retracts): forget requests (doc ids + their token counts — the
    * request carries what the stats correction needs, O(forget)) arrive in
    * micro-batches against the SERVED BM25 catalog; each batch commits its
    * ids to the tombstone table and one negative (n_docs, tot_tokens) row
    * to the stats manifest, both through `Connectors.appendKeyed` on the
    * micro-batch id, so a foreachBatch retry re-retracts idempotently —
    * double-applying a negative stats row would silently corrupt every
    * subsequent ranking, which is exactly why the exactly-once commit
    * protocol matters more here than on the admission side. The drained
    * catalog serves the fixed queries with the tombstones anti-joined
    * BEFORE df derivation (the shared reader), so df/nd/avgdl are exact
    * post-retraction values whatever the micro-batch partitioning — the
    * oracle is m6_index_forget's replay VERBATIM. */
  def streamForgetQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Connectors, TextAnalysis}
    configureStreaming(spark)
    graft.functions.GraftFunctions.register(spark)
    val (post, stats) = TextAnalysis.admittedCatalog(spark, dir)
    val tomb = TextAnalysis.tombstoneDirOf(post)
    val src = stagedForget(spark, dir, 2)
    drainAdmissions(readEventStream(spark, src)) { (batch, batchId) =>
      // tombstone and stats tables append independently (single-writer
      // is per-table) — overlap the commits, guide §2.6
      Connectors.commitInParallel(Seq(
        () => Connectors.appendKeyed(spark, tomb,
          batch.select("doc_id").coalesce(1), s"b$batchId"),
        () => Connectors.appendKeyed(spark, stats,
          batch.filter(col("n_tokens") > 0)
            .agg((-count(lit(1))).as("n_docs"),
              (-coalesce(sum(col("n_tokens")), lit(0L))).as("tot_tokens")),
          s"b$batchId")))
    }
    TextAnalysis.bm25CatalogSearch(spark, post, stats, Some(tomb))
      .withColumn("from_batch", col("doc_id") >= 3000000L)
  }

  /** Staged bounded replay of the arriving dedup batch (doc_id order) —
    * the batch-1 admission workload as a stream, for m4q. */
  def stagedDedupBatch(spark: SparkSession, dir: String, nFiles: Int): String =
    stagedDirs.getOrElseUpdate((dir, nFiles, "dedup_batch1"),
      stageBy(graft.operators.Dedup
          .arrivingBatch(spark, dir, 3000000, halfAll = false),
        nFiles, Seq(col("doc_id"))))

  /** M4q: streaming dedup-catalog admission — the exactly-once keyed-commit
    * topology applied to the THIRD index family (m4n maintains the BM25
    * index, m4o the IVF index, this the near-dup reference catalog):
    * documents arrive in micro-batches, each batch is DECIDED against the
    * catalog as served at that moment (zero-copy release refs + every
    * previously-committed admission — the readers re-read the manifest per
    * batch) through the SAME band-join + exact-Jaccard core the batch
    * admission runs (Dedup.admissionDecisions — shared code), and the
    * admitted docs' signatures and shingle sets commit through
    * `Connectors.appendKeyed` on the micro-batch id. A foreachBatch retry
    * therefore re-admits idempotently — and the retry is self-healing even
    * mid-crash: if the signature commit landed but the shingle commit
    * didn't, the retried decision pass sees the half-committed doc's
    * signatures without shingle sets, candidates against it fail the
    * verification join's inner side, the decision stays "admitted", and
    * the keyed re-append completes the missing half while no-op'ing the
    * committed one.
    *
    * Decisions are independent of the micro-batch partitioning for the
    * same reason the batch fixture is well-posed: each batch doc derives
    * from a DISTINCT corpus document (even 20ths verbatim, odd 10ths
    * half-text — disjoint sets), so no batch doc can near-dup-match
    * another batch doc's admission at the 0.8 bar (corpus documents are
    * pairwise non-dups, the assumption every dedup oracle already rests
    * on). The drained catalog therefore contains exactly the batch
    * commit's admissions, and batch-2's decisions against it are the
    * batch pipeline's VERBATIM — the oracle is m6_incremental_commit's
    * two-batch replay, unchanged. */
  def streamDedupAdmissionQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Connectors, Dedup}
    configureStreaming(spark)
    graft.functions.GraftFunctions.register(spark)
    val (sigsT, shT) = Dedup.refDedupCatalog(spark, dir, "graft-stream-dedup-")
    val src = stagedDedupBatch(spark, dir, 3)
    // Reference-side band frame, incrementalized across micro-batches (r20
    // opt round, guide §1.2): the RELEASE part of the catalog is immutable
    // for the stream's lifetime, so its scan+explode is derived once and
    // persisted here instead of re-derived inside every batch's decision
    // plan; per batch only the generations appended since this bootstrap
    // (prior batches' admissions — batch-sized) are banded, read straight
    // off the live manifest so a retried batch still sees exactly the
    // committed state (the self-healing contract above is unchanged).
    val baseMembers = Connectors.memberDataDirs(sigsT).toSet
    val releaseBands = Dedup.catSigBandsOf(spark,
      Connectors.memberDataDirs(sigsT)).persist()
    try drainAdmissions(readEventStream(spark, src)) { (batch, batchId) =>
      val nRows = batch.count()
      val base = Dedup.batchBaseOf(batch) // persists internally
      try {
        // the batch signature frame feeds the decision bands AND the
        // signature commit — persist scoped so the minhash aggregate
        // runs once per micro-batch, the admittedDedupCatalog
        // discipline (r19 opt round)
        val sigs = Dedup.sigsOf(base).persist()
        val deltaDirs = Connectors.memberDataDirs(sigsT)
          .filterNot(baseMembers)
        val refBands =
          if (deltaDirs.isEmpty) releaseBands
          else releaseBands.unionAll(Dedup.catSigBandsOf(spark, deltaDirs))
        val admitted = Dedup.admissionDecisions(base,
            Dedup.catSigsOf(spark, sigsT), Dedup.catShinglesOf(spark, shT),
            Some(sigs), Some(refBands))
          .filter(col("admitted")).select(col("new_id").as("doc_id"))
          .persist()
        try {
          val nFiles = Connectors.deltaFiles(nRows)
          // the two catalog tables append independently (single-writer
          // is per-table) — overlap the commits, guide §2.6
          Connectors.commitInParallel(Seq(
            () => Connectors.appendKeyed(spark, sigsT,
              sigs.join(admitted, Seq("doc_id"))
                .coalesce(nFiles), s"b$batchId"),
            () => Connectors.appendKeyed(spark, shT,
              base.join(admitted, Seq("doc_id")).coalesce(nFiles),
              s"b$batchId")))
        } finally { admitted.unpersist(); sigs.unpersist() }
      } finally base.unpersist()
    } finally releaseBands.unpersist()
    Dedup.catalogDecisions(spark, dir, sigsT, shT)
  }

  /** Staged bounded replay of the perceptual-audio corpus (doc_id order) —
    * the m7_pcm_neardup corpus as an arrival stream, for m4u. */
  def stagedPcmClips(spark: SparkSession, dir: String, nFiles: Int): String =
    stagedDirs.getOrElseUpdate((dir, nFiles, "pcm_clips"),
      stageBy(graft.operators.Multimodal.pcmCorpus(spark, dir),
        nFiles, Seq(col("doc_id"))))

  /** M4u: streaming perceptual-signature admission — the keyed-commit
    * ingestion topology applied to the AUDIO modality (m4n maintains the
    * BM25 index, m4o the IVF index, m4q the text near-dup catalog; this
    * maintains the perceptual-signature catalog): clips arrive in
    * micro-batches, each batch decodes and fingerprints ONLY ITSELF (the
    * pcmSignature kernel through the same mapPartitions map the batch
    * operator runs — O(batch), the corpus is never rescanned, no
    * cross-batch state at all since a clip's signature is a pure function
    * of its bytes), and the signature rows commit through
    * `Connectors.appendKeyed` on the micro-batch id — a foreachBatch retry
    * re-fingerprints and no-op-commits idempotently.
    *
    * The near-dup PAIR search then runs over the drained catalog (the
    * search-at-release shape every index family here ends with): the same
    * signature-collapsed Manku blocking as the batch operator, over the
    * same signatures — so the drained output is m7_pcm_neardup's VERBATIM
    * and the oracle is shared, unchanged. At 100 TB this is the shape that
    * matters: ingestion pays one decode + 64-segment pass per arriving
    * clip, and the quadratic-prone pair stage only ever runs at release
    * time over distinct signatures. */
  def streamPcmAdmissionQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Connectors, Dedup, Multimodal}
    configureStreaming(spark)
    val sigT = Connectors.scratchCatalog("graft-stream-pcm-")
    val src = stagedPcmClips(spark, dir, 3)
    drainAdmissions(readEventStream(spark, src)) { (batch, batchId) =>
      val nRows = batch.count()
      Connectors.appendKeyed(spark, sigT,
        Multimodal.pcmSigOf(spark, batch)
          .coalesce(Connectors.deltaFiles(nRows)), s"b$batchId")
    }
    // chunk width derives from the CORPUS count (the staged replay's row
    // count), exactly as the batch operator and the shared oracle derive it
    // — not from the drained signature rows: they agree only while no clip
    // fails decode/eligibility inside pcmSigOf, and one dropped clip near
    // the 4096 threshold would flip the chunk geometry against the oracle
    // (r17 ADVICE).
    val sigs = Connectors.readTable(spark, sigT)
    Multimodal.ahashPairs(sigs,
      Dedup.simhashChunkBits(Tables.parquet(spark, src).count()))
  }

  /** Staged bounded replay of the image corpus (doc_id order) — the
    * m7_ahash_neardup corpus as an arrival stream, for m4v. */
  def stagedImageClips(spark: SparkSession, dir: String, nFiles: Int): String =
    stagedDirs.getOrElseUpdate((dir, nFiles, "image_clips"),
      stageBy(graft.operators.Multimodal.ahashCorpus(spark, dir),
        nFiles, Seq(col("doc_id"))))

  /** M4v: streaming perceptual-IMAGE admission — m4u's topology for the
    * image modality, which closes the streaming-ingestion matrix across
    * every near-dup family the engine ships (text catalog m4q, ANN m4o,
    * audio m4u, image here): frames arrive in micro-batches, each batch
    * decodes and aHashes ONLY ITSELF (PpmDecoder through the same
    * mapPartitions map as the batch operator, the letterbox quarantine
    * flag computed from the same decoded pixels — a pure per-frame
    * function, no cross-batch state), and the signature rows commit
    * through `Connectors.appendKeyed` on the micro-batch id — retries
    * no-op idempotently. The release-time pair search over the drained
    * catalog is the batch operator's signature-collapsed blocking over the
    * same signatures, so the drained output is m7_ahash_neardup's VERBATIM
    * and the oracle is shared, unchanged. */
  def streamAhashAdmissionQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Connectors, Dedup, Multimodal}
    configureStreaming(spark)
    val sigT = Connectors.scratchCatalog("graft-stream-ahash-")
    val src = stagedImageClips(spark, dir, 3)
    drainAdmissions(readEventStream(spark, src)) { (batch, batchId) =>
      val nRows = batch.count()
      Connectors.appendKeyed(spark, sigT,
        Multimodal.ahashHashedOf(spark, batch)
          .coalesce(Connectors.deltaFiles(nRows)), s"b$batchId")
    }
    // corpus-count chunk width, the m4u rationale (r17 ADVICE)
    val sigs = Connectors.readTable(spark, sigT)
    Multimodal.ahashPairs(sigs,
      Dedup.simhashChunkBits(Tables.parquet(spark, src).count()))
  }

  /** Staged bounded replay of the video corpus (doc_id order) — the
    * m7_video_neardup corpus as an arrival stream, for m4w. */
  def stagedVideoClips(spark: SparkSession, dir: String, nFiles: Int): String =
    stagedDirs.getOrElseUpdate((dir, nFiles, "video_clips"),
      stageBy(graft.operators.Multimodal.videoCorpus(spark, dir),
        nFiles, Seq(col("doc_id"))))

  /** M4w: streaming perceptual-VIDEO admission — m4u's keyed-commit
    * topology for the video modality, closing the streaming-ingestion row
    * of the modality matrix (text m4q, ANN m4o, audio m4u, image m4v,
    * video here): clips arrive in micro-batches, each batch decodes its
    * frame sequences and temporal signatures ONLY FOR ITSELF (the
    * videoSignature kernel through the same per-frame PpmDecoder map the
    * batch operator runs — O(batch bytes), no cross-batch state: a clip's
    * signature is a pure function of its bytes), and the signature rows
    * commit through `Connectors.appendKeyed` on the micro-batch id —
    * foreachBatch retries re-fingerprint and no-op-commit idempotently.
    * The release-time pair search over the drained catalog is the batch
    * operator's signature-collapsed blocking over the same signatures, so
    * the drained output is m7_video_neardup's VERBATIM and the oracle is
    * shared, unchanged. */
  def streamVideoAdmissionQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Connectors, Dedup, Multimodal}
    configureStreaming(spark)
    val sigT = Connectors.scratchCatalog("graft-stream-video-")
    val src = stagedVideoClips(spark, dir, 3)
    drainAdmissions(readEventStream(spark, src)) { (batch, batchId) =>
      val nRows = batch.count()
      Connectors.appendKeyed(spark, sigT,
        Multimodal.videoSigOf(spark, batch)
          .coalesce(Connectors.deltaFiles(nRows)), s"b$batchId")
    }
    // corpus-count chunk width, the m4u rationale (r17 ADVICE)
    val sigs = Connectors.readTable(spark, sigT)
    Multimodal.ahashPairs(sigs,
      Dedup.simhashChunkBits(Tables.parquet(spark, src).count()))
  }

  /** Staged bounded replay of the training-corpus ingestion (doc_id order)
    * — clean docs plus the verbatim benchmark plants, for m4t. */
  def stagedTrainingDocs(spark: SparkSession, dir: String, nFiles: Int): String =
    stagedDirs.getOrElseUpdate((dir, nFiles, "decon_train"), {
      val docs = Tables.documents(spark, dir)
      stageBy(docs.filter(col("doc_id") % 97 =!= 0)
          .unionAll(docs.filter(col("doc_id") % 97 === 0)
            .withColumn("doc_id", col("doc_id") + 2000000))
          .select("doc_id", "text"),
        nFiles, Seq(col("doc_id")))
    })

  /** M4t: streaming benchmark-decontamination gate — the eval-leak scan run
    * AT INGESTION instead of per release: documents arrive in micro-batches,
    * each batch shingles ONLY ITSELF (O(batch) — the corpus is never
    * rescanned), prefilters against the FROZEN held-out Bloom sketch (built
    * once before the stream starts and bound into every batch's plan as a
    * literal — the m4o frozen-quantizer discipline; a gate whose sketch
    * drifted mid-stream could flag the same document differently on retry),
    * exact-verifies the few survivors against the held-out shingle table,
    * and commits the flagged (doc_id, n_shared) evidence rows through
    * `Connectors.appendKeyed` on the micro-batch id — a foreachBatch retry
    * re-flags idempotently.
    *
    * Decisions are independent of the micro-batch partitioning because a
    * document's shingles travel whole with it (n_shared is per-doc evidence,
    * no cross-doc state), so the drained evidence table is the batch scan's
    * output VERBATIM — the oracle is m6_decontaminate's replay, unchanged.
    * At 100 TB this is the shape that matters: the batch scan re-shingles
    * the whole corpus per release, the gate pays one sketch probe per
    * arriving shingle and never touches history. */
  def streamDeconQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Connectors, Dedup, DedupStaging}
    configureStreaming(spark)
    graft.functions.GraftFunctions.register(spark)
    // bind the gate: the sketch freezes before the first batch
    val sketch = Dedup.heldoutSketch(spark, dir)
    val heldout = DedupStaging.shingle8(spark, dir)
      .filter(col("doc_id") % 97 === 0).select("h").distinct()
    val evidenceT = Connectors.scratchCatalog("graft-stream-decon-") + "/evidence"
    val src = stagedTrainingDocs(spark, dir, 3)
    drainAdmissions(readEventStream(spark, src)) { (batch, batchId) =>
      val flagged = DedupStaging.shingle8Of(batch)
        .filter(call_function("graft_bloom_might_contain",
          lit(sketch), col("h")))
        .join(heldout, Seq("h"))
        .groupBy("doc_id").agg(countDistinct(col("h")).as("n_shared"))
      Connectors.appendKeyed(spark, evidenceT,
        flagged.coalesce(1), s"b$batchId")
    }
    Connectors.readTable(spark, evidenceT).select("doc_id", "n_shared")
  }

  /** Staged bounded replay of the dense forget request (vec_id order) —
    * embedding-erasure ids arriving as a stream, for m4r. */
  def stagedAnnForget(spark: SparkSession, dir: String, nFiles: Int): String =
    stagedDirs.getOrElseUpdate((dir, nFiles, "ann_forget"),
      stageBy(graft.operators.Similarity.annForgetIds(spark, dir),
        nFiles, Seq(col("vec_id"))))

  /** M4r: streaming ANN forget-request admission — m4p's retraction
    * topology on the dense side, closing the streaming lifecycle for the
    * second index family (admit: m4o; retract: this): vector-erasure ids
    * arrive in micro-batches against the SERVED IVF catalog (release ref +
    * admitted batch — the m6_ann_forget fixture) and each batch commits its
    * ids to the sibling tombstone table through `Connectors.appendKeyed`
    * on the micro-batch id, so a foreachBatch retry re-retracts
    * idempotently. Unlike BM25 there is no stats row to correct — IVF
    * search carries no corpus-global statistic — so the retraction is ids
    * only, O(forget) per batch. The drained catalog serves the fixed
    * nprobe=2 workload with the tombstones anti-joined BEFORE ranking
    * (the shared reader): tombstones are a SET, so the served ranking is
    * independent of how the requests were micro-batched — the oracle is
    * m6_ann_forget's replay VERBATIM. */
  def streamAnnForgetQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Connectors, Similarity}
    configureStreaming(spark)
    graft.functions.GraftFunctions.register(spark)
    val cells = Similarity.admittedIvfCells(spark, dir, "graft-stream-annforget-")
    val tomb = Similarity.annTombstoneDirOf(cells)
    val src = stagedAnnForget(spark, dir, 2)
    drainAdmissions(readEventStream(spark, src)) { (batch, batchId) =>
      Connectors.appendKeyed(spark, tomb,
        batch.select("vec_id").coalesce(1), s"b$batchId")
    }
    Similarity.withFromBatch(spark, dir,
      Similarity.ivfCatalogSearch(spark, dir, cells, Some(tomb)))
  }

  /** Staged bounded replay of the dedup forget request (doc_id order) —
    * corpus-erasure ids arriving as a stream, for m4s. */
  def stagedDedupForget(spark: SparkSession, dir: String, nFiles: Int): String =
    stagedDirs.getOrElseUpdate((dir, nFiles, "dedup_forget"),
      stageBy(graft.operators.Dedup.dedupForgetIds(spark, dir),
        nFiles, Seq(col("doc_id"))))

  /** M4s: streaming dedup-catalog retraction — the last cell of the
    * streaming lifecycle matrix (all three index families now admit AND
    * retract, batch AND streaming): corpus-erasure ids arrive in
    * micro-batches against the served dedup catalog and each batch commits
    * its ids to the sibling tombstone table through `Connectors.appendKeyed`
    * on the micro-batch id — a retried micro-batch re-retracts
    * idempotently, and like the ANN side (m4r) the retraction is ids only,
    * O(forget) per batch: the dedup catalog carries no corpus-global
    * statistic to correct. The drained catalog decides the arriving batch
    * with the tombstones anti-joined off BOTH reads before any comparison
    * (the shared reader, Dedup.forgetDecisions): tombstones are a SET, so
    * the decisions are independent of the request micro-batching — the
    * oracle is m6_dedup_forget's replay VERBATIM. */
  def streamDedupForgetQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Connectors, Dedup}
    configureStreaming(spark)
    graft.functions.GraftFunctions.register(spark)
    val (sigsT, shT) = Dedup.refDedupCatalog(spark, dir, "graft-stream-dedupfg-")
    val tombT = Dedup.dedupTombstoneDirOf(sigsT)
    val src = stagedDedupForget(spark, dir, 2)
    drainAdmissions(readEventStream(spark, src)) { (batch, batchId) =>
      Connectors.appendKeyed(spark, tombT,
        batch.select("doc_id").coalesce(1), s"b$batchId")
    }
    Dedup.forgetDecisions(spark, dir, sigsT, shT, tombT)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m4w_stream_video_admit" -> streamVideoAdmissionQuery,
    "m4u_stream_pcm_admit" -> streamPcmAdmissionQuery,
    "m4v_stream_ahash_admit" -> streamAhashAdmissionQuery,
    "m4q_stream_dedup_admit" -> streamDedupAdmissionQuery,
    "m4t_stream_decon"     -> streamDeconQuery,
    "m4r_stream_ann_forget" -> streamAnnForgetQuery,
    "m4s_stream_dedup_forget" -> streamDedupForgetQuery,
    "m4p_stream_forget"    -> streamForgetQuery,
    "m4o_stream_ivf"       -> streamIvfAdmissionQuery,
    "m4n_stream_index"     -> streamIndexAdmissionQuery,
    "m4m_stream_quality"   -> streamQualityQuery,
    "m4i_stream_cms"       -> streamCmsQuery,
    "m4j_stream_funnel"    -> streamFunnelQuery,
    "m4k_stream_ema"       -> streamEmaQuery,
    "m4_stream_window_agg" -> streamWindowAggQuery,
    "m4l_stream_late_drop" -> streamLateDropQuery,
    "m4f_stream_sessionize" -> streamSessionizeQuery,
    "m4g_stream_enriched"  -> streamEnrichedQuery,
    "m4h_stream_join"      -> streamStreamJoinQuery,
    "m4e_validated_pipeline" -> validatedPipelineQuery,
    "m4b_stream_dedup"     -> streamDedupQuery,
    "m4c_stateful_dedup"   -> statefulDedupQuery,
    "m4d_stateful_dedup_tws" -> statefulDedupTwsQuery)

  val oracles: Map[String, String] = Map(
    // Identical to the release ranker's oracle: the catalog reader derives
    // df/nd/avgdl as catalog totals, so the ranking is independent of the
    // micro-batch partitioning — a stream-maintained index must serve
    // exactly what the batch-built release index serves.
    "m4n_stream_index" ->
      graft.operators.TextAnalysis.oracles("m6_bm25_topk"),
    // Identical to the release ANN ranker's oracle: the quantizer is
    // frozen and cell assignments ride with their rows, so the ranking is
    // independent of the micro-batch partitioning — a stream-maintained
    // IVF index must serve exactly what the batch-built index serves.
    "m4o_stream_ivf" ->
      graft.operators.Similarity.oracles("m6_ann_ivf2"),
    // Identical to the batch forget oracle: tombstones are a set and the
    // stats corrections are additive, so the stream-retracted catalog
    // serves exactly what the batch retraction serves.
    "m4p_stream_forget" ->
      graft.operators.TextAnalysis.oracles("m6_index_forget"),
    // Identical to the batch incremental-commit oracle: each batch doc
    // derives from a distinct corpus doc, so decisions are independent of
    // the micro-batch partitioning and the drained catalog holds exactly
    // the batch commit's admissions (see streamDedupAdmissionQuery).
    "m4q_stream_dedup_admit" ->
      graft.operators.Dedup.oracles("m6_incremental_commit"),
    // Identical to the batch audio near-dup oracle: a clip's signature is a
    // pure function of its bytes (no cross-batch state), so the drained
    // catalog holds exactly the batch operator's signatures and the
    // release-time pair search is its output verbatim.
    "m4u_stream_pcm_admit" ->
      graft.operators.Multimodal.oracles("m7_pcm_neardup"),
    // Identical to the batch video near-dup oracle, for the same reason
    // (the temporal signature + quarantine key are per-clip pure
    // functions of the payload bytes).
    "m4w_stream_video_admit" ->
      graft.operators.Multimodal.oracles("m7_video_neardup"),
    // Identical to the batch image near-dup oracle, for the same reason
    // (the aHash + quarantine flag are per-frame pure functions).
    "m4v_stream_ahash_admit" ->
      graft.operators.Multimodal.oracles("m7_ahash_neardup"),
    // Identical to the batch decontamination oracle: n_shared is per-doc
    // evidence with no cross-doc state and each document's shingles travel
    // whole with it, so the drained evidence table is independent of the
    // micro-batch partitioning (and the Bloom prefilter never changes an
    // answer — FPs die in the exact verify, FNs don't exist).
    "m4t_stream_decon" ->
      graft.operators.Dedup.oracles("m6_decontaminate"),
    // Identical to the batch ANN-forget oracle: tombstones are a set, so
    // the served ranking is independent of the request micro-batching.
    "m4r_stream_ann_forget" ->
      graft.operators.Similarity.oracles("m6_ann_forget"),
    // Identical to the batch dedup-forget oracle, for the same reason.
    "m4s_stream_dedup_forget" ->
      graft.operators.Dedup.oracles("m6_dedup_forget"),
    // Identical to the batch classifier oracle: feature sums are
    // associative, so the drained per-doc state equals the batch scores.
    "m4m_stream_quality" ->
      graft.operators.TextAnalysis.oracles("m6_quality_classifier"),
    // Identical to the batch CMS oracle: bucket sums are associative, so
    // the incrementally-merged sketch replays the batch estimates exactly.
    "m4i_stream_cms" -> graft.operators.TextAnalysis.oracles("m6_cms_heavy_hitters"),
    // The drained per-user funnel state must equal the batch chained
    // grouped-mins (strict-> stage ordering), users at stage >= 1.
    "m4j_stream_funnel" ->
      """WITH e AS (SELECT user_id, ts, event_type FROM events
                    WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         s1 AS (SELECT user_id, min(ts) AS t1 FROM e
                WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(ts) AS t2 FROM e JOIN s1 USING (user_id)
                WHERE event_type = 'click' AND ts > t1 GROUP BY 1),
         s3 AS (SELECT e.user_id, min(ts) AS t3 FROM e JOIN s2 USING (user_id)
                WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1)
         SELECT s1.user_id, t1, t2, t3
         FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""",
    // Identical to the batch a1 oracle: bounded-drain equivalence.
    "m4_stream_window_agg" -> WindowAggregates.oracles("a1_window_agg"),
    // ALSO the batch a1 oracle — that is the point: the staged stream
    // carries an extra beyond-watermark tranche the oracle never sees, so
    // the hash only matches if the engine DROPS every late row.
    "m4l_stream_late_drop" -> WindowAggregates.oracles("a1_window_agg"),
    // Identical to the batch w10 oracle: the in-order drain applies the
    // same fold in the same order, so even the doubles agree.
    "m4k_stream_ema" -> graft.operators.AnalyticWindows.oracles("w10_ema"),
    // Identical to the batch a8 oracle: the streaming session store's final
    // state must equal the batch gaps-and-islands sessions.
    "m4f_stream_sessionize" -> WindowAggregates.oracles("a8_sessionize"),
    // Batch twin of the interval join: the streaming state machinery must
    // find exactly the pairs a plain batch range join finds.
    "m4h_stream_join" ->
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id,
         v.user_id, v.ts AS view_ts, p.ts AS purchase_ts
         FROM events v JOIN events p
           ON v.user_id = p.user_id
          AND v.event_type = 'view' AND p.event_type = 'purchase'
          AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 1 HOUR
         WHERE v.ts IS NOT NULL AND v.user_id IS NOT NULL
           AND p.ts IS NOT NULL""",
    // Batch twin of the enriched topology: join then window-aggregate.
    "m4g_stream_enriched" ->
      s"""SELECT c_mktsegment,
          time_bucket(INTERVAL '5 minutes', ts) AS window_start,
          time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' AS window_end,
          ${graft.operators.Exact.sqlRnd(graft.operators.Exact.sqlAvg("value"), 4)} AS avg_value,
          count(*) AS cnt
          FROM events JOIN customer ON user_id = c_custkey
          WHERE ts IS NOT NULL AND user_id IS NOT NULL
          GROUP BY 1, 2, 3""",
    // a1 restricted to rows the V1-V6 rule set passes — the fused topology
    // must equal "batch-validate then batch-aggregate".
    "m4e_validated_pipeline" -> WindowAggregates.oracles("a1_window_agg").replace(
      "WHERE ts IS NOT NULL AND user_id IS NOT NULL",
      s"WHERE ts IS NOT NULL AND user_id IS NOT NULL AND (${graft.operators.Validation.failuresSql}) = ''"),
    "m4b_stream_dedup" ->
      """SELECT DISTINCT user_id,
         (CAST(floor(epoch(ts)) AS BIGINT) // 5) * 5 AS bucket
         FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL""",
    "m4c_stateful_dedup" -> StatefulDedupOracle)
    .updated("m4d_stateful_dedup_tws",
      // Same semantics as m4c through the transformWithState API.
      StatefulDedupOracle)

  /** Batch replay of the corrupted-fixture classification: rebuild the
    * generator's duplicate re-sends (same message_id twice) and late shifts,
    * then classify per (sensor, 5 s bucket) in (ts, message_id, occurrence)
    * order — `occ` makes the order total so the two row_number windows agree
    * on identical re-sent rows; the engine/oracle *multiset* is identical
    * either way (the two physical copies are indistinguishable). */
  private lazy val StatefulDedupOracle: String =
    """WITH tagged AS (
         SELECT event_id, user_id,
           CASE WHEN event_id % 100 >= 20 AND event_id % 100 < 30
                THEN ts - INTERVAL 2 HOUR ELSE ts END AS ts,
           event_id % 100 >= 15 AND event_id % 100 < 20 AS is_dup
         FROM events),
       doubled AS (
         SELECT event_id, user_id, ts, 0 AS occ FROM tagged
         UNION ALL
         SELECT event_id, user_id, ts, 1 AS occ FROM tagged WHERE is_dup),
       base AS (
         SELECT event_id, user_id, ts, occ, event_id AS message_id,
           (CAST(floor(epoch(ts)) AS BIGINT) // 5) * 5 AS bucket
         FROM doubled WHERE ts IS NOT NULL AND user_id IS NOT NULL)
       SELECT event_id, user_id, bucket,
         CASE WHEN row_number() OVER (
                PARTITION BY user_id, bucket ORDER BY ts, message_id, occ) = 1
              THEN 'unique'
              WHEN row_number() OVER (
                PARTITION BY user_id, bucket, message_id ORDER BY ts, occ) > 1
              THEN 'exact_dup'
              ELSE 'near_dup' END AS dup_class
       FROM base"""
}
