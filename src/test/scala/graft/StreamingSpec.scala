package graft

import graft.operators.WindowAggregates
import graft.streaming.{StreamingJobs, UpsertSink}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.sql.Timestamp

/** Streaming semantics the DuckDB oracle cannot express: watermark-driven
  * late-data drops, listener metrics, and the idempotent upsert sink
  * (SURVEY.md §5 — "targeted late-data unit tests"). */
class StreamingSpec extends AnyFunSuite with SparkFixture {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Build an events-shaped DataFrame from (event_id, minuteOffset, value). */
  private def eventsDf(rows: Seq[(Long, Int, Double)]): DataFrame = {
    import spark.implicits._
    val base = 1699999800L // fixed epoch anchor, aligned to a 5-min boundary
    rows.map { case (id, mins, v) =>
      (id, new Timestamp((base + mins * 60L) * 1000L), 1L, "reading", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  test("row arriving after watermark evicted its window is dropped, not re-aggregated") {
    // Spark's watermark guarantee is one-directional: within-watermark data is
    // never dropped; beyond-watermark data is dropped once the window's state
    // has been evicted. Eviction happens in the batch whose watermark passes
    // the window end — so the late row arrives two batches after its window.
    val src = tmp("late-src-")
    val sink = tmp("late-sink-")
    // batch 0: minutes 0..10 → windows [0,5) [5,10) [20,25); max = minute 10
    eventsDf(Seq((1L, 0, 10.0), (2L, 5, 20.0), (3L, 10, 30.0)))
      .coalesce(1).write.mode("append").parquet(src)
    Thread.sleep(1200)
    // batch 1: minute 11 — watermark now minute 9, evicts window [0,5)
    eventsDf(Seq((5L, 11, 40.0)))
      .coalesce(1).write.mode("append").parquet(src)
    Thread.sleep(1200)
    // batch 2: minute 2 is beyond-watermark for the evicted window → dropped
    eventsDf(Seq((4L, 2, 99.0), (6L, 12, 50.0)))
      .coalesce(1).write.mode("append").parquet(src)

    StreamingJobs.drainUpdate(
      StreamingJobs.streamWindowAgg(StreamingJobs.readEventStream(spark, src)),
      sink)
    val state = UpsertSink.lastWriteWins(spark, sink, Seq("user_id", "window_start"))

    // the late row (minute 2, window [0,5)) must NOT appear in its window
    val w0 = state.filter(col("window_start") === lit(new Timestamp(1699999800L * 1000L)))
      .select("cnt", "total_value").collect()
    assert(w0.length == 1)
    assert(w0(0).getLong(0) == 1L, "late row was wrongly merged into the evicted window")
    assert(w0(0).getDouble(1) == 10.0)
    // and no resurrected-window duplicate emission for the same key
    val emissions = spark.read.parquet(sink)
      .filter(col("window_start") === lit(new Timestamp(1699999800L * 1000L)))
    assert(emissions.count() == 1L)
  }

  test("in-watermark late row updates its window (update mode re-emission)") {
    val src = tmp("upd-src-")
    val sink = tmp("upd-sink-")
    // file 1: minutes 0 and 4 → window [0,5) has cnt=2; max ts = minute 4
    eventsDf(Seq((1L, 0, 10.0), (2L, 4, 20.0)))
      .coalesce(1).write.mode("append").parquet(src)
    // file 2: minute 4 again (within watermark) → window [0,5) updated to cnt=3
    eventsDf(Seq((3L, 4, 30.0)))
      .coalesce(1).write.mode("append").parquet(src)

    StreamingJobs.drainUpdate(
      StreamingJobs.streamWindowAgg(StreamingJobs.readEventStream(spark, src)),
      sink)
    val state = UpsertSink.lastWriteWins(spark, sink, Seq("user_id", "window_start"))
    val row = state.collect()
    assert(row.length == 1)
    assert(row(0).getAs[Long]("cnt") == 3L)
    assert(row(0).getAs[Double]("total_value") == 60.0)
  }

  test("stateful classifiers drop rows arriving after their bucket's watermark window") {
    // both state APIs must agree: a row for a long-closed bucket, arriving
    // after the watermark passed it, is filtered before the operator — its
    // bucket's state has been GC'd and must not resurrect
    StreamingJobs.configureStreaming(spark) // transformWithState needs RocksDB
    for (classify <- Seq(
        StreamingJobs.classifyDups(_: org.apache.spark.sql.DataFrame).toDF(),
        StreamingJobs.classifyDupsTws(_: org.apache.spark.sql.DataFrame).toDF())) {
      val src = tmp("cls-late-src-")
      val sink = tmp("cls-late-sink-")
      // batch 0: bucket B (minute 0) gets row 1, an exact re-send of row 1
      // (same message_id — the producer's duplicate), and row 2 at the SAME
      // timestamp but a different message_id (a distinct reading → near-dup,
      // validation_consumer.py:381-391); batch 1: minute 10 advances the
      // watermark far past B+TTL; batch 2: a late row for the GC'd bucket
      eventsDf(Seq((1L, 0, 1.0), (1L, 0, 1.0), (2L, 0, 2.0)))
        .coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(1200)
      eventsDf(Seq((3L, 10, 3.0))).coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(1200)
      eventsDf(Seq((4L, 0, 1.0))).coalesce(1).write.mode("append").parquet(src)
      StreamingJobs.drainAppend(classify(StreamingJobs.readEventStream(spark, src)), sink)
      val out = UpsertSink.appended(spark, sink)
      // the late row 4 must be absent; the four live rows classified once each
      assert(out.filter(col("event_id") === 4L).count() == 0,
        "late row slipped past the watermark into the stateful operator")
      assert(out.count() == 4)
      assert(out.filter(col("dup_class") === "unique").count() == 2) // row 1 and row 3
      // the verbatim re-send (same message_id) is the exact duplicate ...
      assert(out.filter(col("dup_class") === "exact_dup").count() == 1)
      // ... while same timestamp + different message_id is only a near-dup
      assert(out.filter(col("event_id") === 2L && col("dup_class") === "near_dup").count() == 1)
    }
  }

  test("m4l late-drop drain equals on-time batch A1 and the tranche is non-vacuous") {
    val dir = "/root/testdata/sf0.001"
    val onTime = Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
    val drained = StreamingJobs.streamLateDropQuery(spark, dir)
      .collect().map(_.toString).sorted
    val batch = WindowAggregates.aggregateWindows(onTime)
      .collect().map(_.toString).sorted
    assert(drained.sameElements(batch),
      "late-drop drain diverged from the on-time batch answer")
    // non-vacuity: had the tranche leaked in, the answer WOULD differ —
    // replay the batch agg over on-time ∪ tranche and require a difference
    val b = onTime.agg(unix_micros(min(col("ts"))),
      unix_micros(max(col("ts")))).head()
    val tranche = onTime
      .filter(unix_micros(col("ts")) < b.getLong(0) + 3600L * 1000000)
      .withColumn("value", col("value") + lit(1000.0))
    assert(tranche.count() > 0, "fixture has no first-hour rows to re-send")
    val leaked = WindowAggregates.aggregateWindows(onTime.unionByName(tranche))
      .collect().map(_.toString).sorted
    assert(!leaked.sameElements(batch),
      "tranche does not change the aggregate — the drop test is vacuous")
  }

  test("StreamingQueryListener records batches and input rows") {
    val src = tmp("metrics-src-")
    val sink = tmp("metrics-sink-")
    eventsDf(Seq((1L, 0, 1.0), (2L, 1, 2.0))).coalesce(1).write.mode("append").parquet(src)
    eventsDf(Seq((3L, 2, 3.0))).coalesce(1).write.mode("append").parquet(src)

    val profile = Profile.attach(spark, slowBatchMillis = 5000L)
    try {
      profile.open()
      StreamingJobs.drainUpdate(
        StreamingJobs.streamWindowAgg(StreamingJobs.readEventStream(spark, src)),
        sink)
      // close() waits for the listener bus to deliver every event
      val metrics = profile.close()
      assert(metrics.streamsStarted >= 1)
      assert(metrics.totalInputRows == 3L)
      assert(metrics.batches.nonEmpty)
      // maxFilesPerTrigger=1 must split the two staged files into two batches
      assert(metrics.batches.count(_.numInputRows > 0) >= 2,
        s"expected 2+ micro-batches, got: ${metrics.batches}")
      assert(metrics.batches.forall(_.stateRows >= 0))
    } finally profile.detach()
  }

  test("slow-batch alert surfaces through the queryable metrics DataFrame") {
    val src = tmp("alert-src-")
    val sink = tmp("alert-sink-")
    eventsDf(Seq((1L, 0, 1.0), (2L, 5, 2.0))).coalesce(1).write.mode("append").parquet(src)
    eventsDf(Seq((3L, 10, 3.0))).coalesce(1).write.mode("append").parquet(src)
    // threshold 0 ms: every real trigger exceeds it — exercises the alert
    // path deterministically (the reference's production threshold is 5 s)
    val profile = Profile.attach(spark, slowBatchMillis = 0L)
    try {
      profile.open()
      StreamingJobs.drainUpdate(
        StreamingJobs.streamWindowAgg(StreamingJobs.readEventStream(spark, src)),
        sink)
      val metrics = profile.close()
      assert(metrics.totalInputRows == 3L)
      // the metrics table is queryable like any DataFrame...
      val df = metrics.toDF(spark)
      assert(df.count() == metrics.batches.size.toLong)
      assert(df.filter(col("num_input_rows") > 0).count() >= 2)
      // ...and the alert view flags exactly the over-threshold batches
      val alerted = metrics.alerts(spark).select("batch_id").collect()
        .map(_.getLong(0)).toSet
      assert(alerted.nonEmpty)
      assert(alerted == metrics.slowBatches.map(_.batchId).toSet)
    } finally profile.detach()
  }

  test("stream-stream join drains a hot-key fixture and equals its batch twin") {
    import spark.implicits._
    val src = tmp("skew-src-")
    val sink = tmp("skew-sink-")
    val base = 1699999800L
    // one hot user owns ~90% of both streams (the skew m4h would meet in
    // production); two cold users contribute a pair each
    def ev(id: Long, user: Long, tpe: String, mins: Int, secs: Int) =
      (id, new Timestamp((base + mins * 60L + secs) * 1000L), user, tpe, 1.0, "{}")
    val rows =
      (0 until 30).map(i => ev(1000 + i, 1L, "view", i, 0)) ++
      (0 until 30).map(i => ev(2000 + i, 1L, "purchase", i, 30)) ++
      Seq(ev(3001, 2L, "view", 0, 0), ev(3002, 2L, "purchase", 1, 0),
        ev(3003, 3L, "view", 2, 0), ev(3004, 3L, "purchase", 3, 0))
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    df.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(src)
    df.filter(col("event_id") % 2 === 1).coalesce(1).write.mode("append").parquet(src)

    val profile = Profile.attach(spark)
    try {
      profile.open()
      def leg(tpe: String, idAs: String, tsAs: String, userAs: String) =
        StreamingJobs.readEventStream(spark, src)
          .filter(col("event_type") === tpe)
          .select(col("event_id").as(idAs), col("user_id").as(userAs),
            col("ts").as(tsAs))
          .withWatermark(tsAs, "1 minute")
      val joined = leg("view", "view_id", "view_ts", "user_id")
        .join(leg("purchase", "purchase_id", "purchase_ts", "p_user"),
          col("user_id") === col("p_user") &&
            col("purchase_ts") >= col("view_ts") &&
            col("purchase_ts") < col("view_ts") + expr("INTERVAL 1 HOUR"))
        .select(col("view_id"), col("purchase_id"))
      StreamingJobs.drainAppend(joined, sink)
      val metrics = profile.close()
      val streamed = UpsertSink.appended(spark, sink)
        .as[(Long, Long)].collect().toSet

      // batch twin of the same interval join — AQE's skew-join handling
      // (on by default, asserted here) is what splits a hot user_id's
      // oversized shuffle partition at scale
      assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
      val v = df.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("view_ts"))
      val p = df.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("purchase_ts"))
      val batch = v.join(p,
          col("user_id") === col("p_user") &&
            col("purchase_ts") >= col("view_ts") &&
            col("purchase_ts") < col("view_ts") + expr("INTERVAL 1 HOUR"))
        .select(col("view_id"), col("purchase_id"))
        .as[(Long, Long)].collect().toSet
      assert(batch.size > 400, s"fixture should be join-heavy, got ${batch.size}")
      assert(streamed == batch,
        s"missing: ${(batch -- streamed).take(5)}; spurious: ${(streamed -- batch).take(5)}")

      // bounded state: the join buffered no more than the input volume —
      // watermark eviction keeps per-key state from accumulating the stream
      val maxState = metrics.batches.map(_.stateRows).max
      assert(maxState > 0 && maxState <= rows.size.toLong,
        s"state rows $maxState outside (0, ${rows.size}]")
    } finally profile.detach()
  }

  test("a drain stopped mid-stream resumes from its checkpoint and equals the batch twin") {
    StreamingJobs.configureStreaming(spark)
    val fixture = "/root/testdata/sf0.001"
    // 8 time-ordered files; the first incarnation sees only 3 of them, so
    // windows straddling the 3/4 boundary exist ONLY if the restart restores
    // operator state, and tranche-1 reprocessing would double-count — the
    // final state discriminates both offset loss and state loss.
    val staged = new java.io.File(StreamingJobs.stagedEvents(spark, fixture, 8))
    // order tranches by EVENT TIME, not file mtime (appends in a fast suite
    // run can share an mtime, and an out-of-order split would make tranche-2
    // data late against the restored watermark — a fixture bug, not the
    // recovery bug this test exists to catch)
    val files = staged.listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(f => spark.read.parquet(f.getPath)
        .agg(min("ts")).collect()(0).getTimestamp(0).getTime)
    val src = tmp("restart-src-")
    // FileStreamSource processes files in (mtime, path) order; stamp both
    // so discovery order IS event-time order — colliding mtimes with random
    // uuid names would let a later-ts file process first and turn earlier
    // rows late (again a fixture artifact, not recovery behavior)
    var seq = 0
    def copyIn(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
      seq += 1
      val dst = java.nio.file.Paths.get(src, f"tranche-$seq%04d.parquet")
      Files.copy(f.toPath, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + seq * 60000L))
    }
    val sink = tmp("restart-sink-")
    val ckpt = tmp("restart-ckpt-")
    def drain(): Unit = StreamingJobs.drainUpdate(
      StreamingJobs.streamWindowAgg(StreamingJobs.readEventStream(spark, src, 1)),
      sink, ckpt)

    copyIn(files.take(3).toSeq)
    drain() // incarnation 1: processes 3 files, stops — checkpoint survives
    val partial = spark.read.parquet(sink).count()
    assert(partial > 0, "first incarnation should have committed batches")

    copyIn(files.drop(3).toSeq)
    drain() // incarnation 2: SAME checkpoint — resumes, processes only the new files
    val state = UpsertSink.lastWriteWins(spark, sink, Seq("user_id", "window_start"))
      .select("user_id", "window_start", "avg_value", "max_value",
        "min_value", "total_value", "cnt")
      .collect().map(_.toSeq).toSet

    val twin = graft.operators.WindowAggregates.windowAgg(spark, fixture)
      .select("user_id", "window_start", "avg_value", "max_value",
        "min_value", "total_value", "cnt")
      .collect().map(_.toSeq).toSet
    assert(state == twin,
      s"resumed drain diverged from batch twin: missing=${(twin -- state).take(3)} extra=${(state -- twin).take(3)}")
  }

  test("funnel TTL drops an inactive user's state and a post-TTL event restarts the funnel") {
    StreamingJobs.configureStreaming(spark)
    val base = 1699999800L
    def funnelDf(rows: Seq[(Long, Long, String, Int)]) = { // (id, user, type, mins)
      import spark.implicits._
      rows.map { case (id, user, tpe, mins) =>
        (id, user, new Timestamp((base + mins * 60L) * 1000L), tpe)
      }.toDF("event_id", "user_id", "ts", "event_type")
    }
    val src = tmp("funnel-src-")
    // batch 0: user 1 reaches stage 2 (view → click)
    funnelDf(Seq((1L, 1L, "view", 0), (2L, 1L, "click", 1)))
      .coalesce(1).write.mode("append").parquet(src)
    Thread.sleep(1200)
    // batch 1: user 2 at minute 30 — next batch's watermark (min 29) passes
    // user 1's TTL deadline (last activity min 1 + 5-minute test TTL)
    funnelDf(Seq((3L, 2L, "view", 30)))
      .coalesce(1).write.mode("append").parquet(src)
    Thread.sleep(1200)
    // batch 2: watermark is now min 29 → user 1's timer fires, state dropped
    funnelDf(Seq((4L, 2L, "view", 40)))
      .coalesce(1).write.mode("append").parquet(src)
    Thread.sleep(1200)
    // batch 3: post-TTL event for user 1 — must RESTART the funnel from
    // stage 1 (a surviving state would ignore this view: t1 was already set)
    funnelDf(Seq((5L, 1L, "view", 32)))
      .coalesce(1).write.mode("append").parquet(src)

    val sink = tmp("funnel-sink-")
    StreamingJobs.drainUpdate(
      StreamingJobs.funnelStates(
        StreamingJobs.readEventStream(spark, src), ttlMs = 5 * 60 * 1000L).toDF(),
      sink)

    val micros = (mins: Int) => (base + mins * 60L) * 1000000L
    // pre-TTL emission proves the state existed before the drop…
    val emitted = spark.read.parquet(sink).filter(col("user_id") === 1L)
      .select("t1", "t2").collect().map(r => (r.get(0), r.get(1))).toSet
    assert(emitted.contains((micros(0), micros(1))),
      s"stage-2 state never emitted: $emitted")
    // …and the final state is the RESTARTED funnel, not the old one
    val u1 = UpsertSink.lastWriteWins(spark, sink, Seq("user_id"))
      .filter(col("user_id") === 1L).collect()
    assert(u1.length == 1)
    assert(u1(0).getAs[Long]("t1") == micros(32),
      s"expected restarted funnel at minute 32, got ${u1(0)}")
    assert(u1(0).get(u1(0).fieldIndex("t2")) == null, "stale t2 survived the TTL drop")
    assert(u1(0).get(u1(0).fieldIndex("t3")) == null)
  }

  test("UpsertSink is last-write-wins per key and idempotent on batch replay") {
    import spark.implicits._
    val sink = tmp("upsert-sink-")
    val b0 = Seq((1L, "v0"), (2L, "v0")).toDF("k", "v")
    val b1 = Seq((1L, "v1")).toDF("k", "v")
    UpsertSink.appendBatch(sink)(b0, 0L)
    UpsertSink.appendBatch(sink)(b1, 1L)
    UpsertSink.appendBatch(sink)(b1, 1L) // replayed batch (restart mid-commit)
    val out = UpsertSink.lastWriteWins(spark, sink, Seq("k"))
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "v1", 2L -> "v0"))
  }

  test("streaming IVF admission is retry-idempotent and serves the release ranking") {
    import graft.operators.{Connectors, Similarity}
    val dir = "/root/testdata/sf0.001"
    val cells = s"${Connectors.scratchCatalog("graft-stream-ivf-spec-")}/cells"
    val emb = Tables.embeddings(spark, dir)
    val cents = Similarity.releaseCentroids(spark, dir).persist()
    try {
      // two micro-batches split on vec_id parity; batch 0 commits TWICE
      // with the same key — the foreachBatch retry Spark issues on recovery
      val b0 = Similarity.assignToCells(
        Similarity.withVecNorm(spark, emb.filter(col("vec_id") % 2 === 0)), cents)
      val b1 = Similarity.assignToCells(
        Similarity.withVecNorm(spark, emb.filter(col("vec_id") % 2 === 1)), cents)
      Connectors.appendKeyed(spark, cells, b0, "b0")
      Connectors.appendKeyed(spark, cells, b0, "b0") // the retry: must no-op
      Connectors.appendKeyed(spark, cells, b1, "b1")
    } finally cents.unpersist()
    // exactly-once: no vector admitted twice
    assert(Connectors.readTable(spark, cells).count() == emb.count(),
      "retried micro-batch double-admitted its vectors")
    // the stream-maintained catalog serves the release ranking verbatim —
    // the m4o oracle-is-the-release-ranker statement, pinned engine-side
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(x => (x._1, x._3))
    assert(rows(Similarity.ivfCatalogSearch(spark, dir, cells))
      .sameElements(rows(Similarity.annIvf2(spark, dir))),
      "stream-maintained IVF catalog diverged from the release index")
  }

  test("streaming forget admission is retry-idempotent: no double stats correction") {
    import graft.operators.{Connectors, TextAnalysis}
    val dir = "/root/testdata/sf0.001"
    val (post, stats) = TextAnalysis.admittedCatalog(spark, dir)
    val tomb = TextAnalysis.tombstoneDirOf(post)
    val req = TextAnalysis.forgetRequest(spark, dir)
    def retract(batch: org.apache.spark.sql.DataFrame, key: String): Unit = {
      Connectors.appendKeyed(spark, tomb, batch.select("doc_id"), key)
      Connectors.appendKeyed(spark, stats,
        batch.filter(col("n_tokens") > 0)
          .agg((-count(lit(1))).as("n_docs"),
            (-coalesce(sum(col("n_tokens")), lit(0L))).as("tot_tokens")), key)
    }
    // two micro-batches split on parity; batch 0 retracts TWICE under the
    // same key — a retried negative stats row would corrupt every ranking
    val b0 = req.filter(col("doc_id") % 2 === 0)
    retract(b0, "b0"); retract(b0, "b0"); retract(req.filter(col("doc_id") % 2 === 1), "b1")
    // the stats manifest must carry exactly ONE correction per batch: its
    // total equals the batch-side single-shot retraction's
    val streamed = TextAnalysis.bm25CatalogSearch(spark, post, stats, Some(tomb))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getDouble(4))).sortBy(x => (x._1, x._3))
    val batch = TextAnalysis.indexForget(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getDouble(4))).sortBy(x => (x._1, x._3))
    assert(streamed.sameElements(batch),
      "stream-retracted catalog diverged from the batch retraction")
  }

  test("streaming dedup admission is retry-idempotent and decides the batch decisions") {
    import graft.operators.{Connectors, Dedup}
    val dir = "/root/testdata/sf0.001"
    val (sigsT, shT) = Dedup.refDedupCatalog(spark, dir, "graft-stream-dedup-spec-")
    // the m4q foreachBatch body: decide against the catalog as served,
    // commit the admissions keyed on the micro-batch id
    def admit(batch: org.apache.spark.sql.DataFrame, key: String): Unit = {
      val base = Dedup.batchBaseOf(batch)
      try {
        val admitted = Dedup.admissionDecisions(base,
            Dedup.catSigsOf(spark, sigsT), Dedup.catShinglesOf(spark, shT))
          .filter(col("admitted")).select(col("new_id").as("doc_id")).persist()
        try {
          Connectors.appendKeyed(spark, sigsT,
            Dedup.sigsOf(base).join(admitted, Seq("doc_id")).coalesce(1), key)
          Connectors.appendKeyed(spark, shT,
            base.join(admitted, Seq("doc_id")).coalesce(1), key)
        } finally admitted.unpersist()
      } finally base.unpersist()
    }
    // two micro-batches, each carrying both fixture classes (doc_id % 20
    // picks verbatim-vs-half; % 40 < 20 splits across both); batch 0
    // commits TWICE with the same key — the foreachBatch retry
    val b1 = Dedup.arrivingBatch(spark, dir, 3000000, halfAll = false)
    val b0 = b1.filter(col("doc_id") % 40 < 20)
    admit(b0, "b0"); admit(b0, "b0")
    admit(b1.filter(col("doc_id") % 40 >= 20), "b1")
    // exactly-once: no doc's signatures admitted twice
    val sigs = Connectors.readTable(spark, sigsT)
    assert(sigs.count() == sigs.select("doc_id").distinct().count(),
      "retried micro-batch double-admitted signatures")
    // the stream-maintained catalog decides batch 2 exactly as the batch
    // pipeline — the m4q oracle-is-the-batch-commit statement, engine-side
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(m(Dedup.catalogDecisions(spark, dir, sigsT, shT))
      .sameElements(m(Dedup.incrementalCommit(spark, dir))),
      "stream-maintained dedup catalog diverged from the batch commit")
  }

  test("streaming decontamination gate is retry-idempotent and flags the batch scan's rows") {
    import graft.operators.{Connectors, Dedup, DedupStaging}
    val dir = "/root/testdata/sf0.001"
    val sketch = Dedup.heldoutSketch(spark, dir)
    val heldout = DedupStaging.shingle8(spark, dir)
      .filter(col("doc_id") % 97 === 0).select("h").distinct()
    val evidenceT = Connectors.scratchCatalog("graft-stream-decon-spec-") + "/evidence"
    // the m4t foreachBatch body
    def gate(batch: org.apache.spark.sql.DataFrame, key: String): Unit = {
      val flagged = DedupStaging.shingle8Of(batch)
        .filter(call_function("graft_bloom_might_contain", lit(sketch), col("h")))
        .join(heldout, Seq("h"))
        .groupBy("doc_id").agg(countDistinct(col("h")).as("n_shared"))
      Connectors.appendKeyed(spark, evidenceT, flagged.coalesce(1), key)
    }
    val docs = Tables.documents(spark, dir)
    val train = docs.filter(col("doc_id") % 97 =!= 0)
      .unionAll(docs.filter(col("doc_id") % 97 === 0)
        .withColumn("doc_id", col("doc_id") + 2000000))
      .select("doc_id", "text")
    // two micro-batches; batch 0 commits TWICE with the same key — the
    // foreachBatch retry must not duplicate evidence rows
    gate(train.filter(col("doc_id") % 2 === 0), "b0")
    gate(train.filter(col("doc_id") % 2 === 0), "b0")
    gate(train.filter(col("doc_id") % 2 =!= 0), "b1")
    val served = Connectors.readTable(spark, evidenceT).select("doc_id", "n_shared")
    assert(served.count() == served.select("doc_id").distinct().count(),
      "retried micro-batch double-flagged a document")
    // the gate's drained evidence is the batch scan's output verbatim
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(m(served).sameElements(m(Dedup.decontaminate(spark, dir))),
      "streaming gate diverged from the batch leak scan")
  }

  test("streaming ANN forget is retry-idempotent and serves the batch retraction") {
    import graft.operators.{Connectors, Similarity}
    val dir = "/root/testdata/sf0.001"
    val cells = Similarity.admittedIvfCells(spark, dir, "graft-stream-annforget-spec-")
    val tomb = Similarity.annTombstoneDirOf(cells)
    val req = Similarity.annForgetIds(spark, dir)
    // two micro-batches split on parity; batch 0 retracts TWICE under the
    // same key — the foreachBatch retry must not duplicate tombstones
    val b0 = req.filter(col("vec_id") % 2 === 0)
    Connectors.appendKeyed(spark, tomb, b0, "b0")
    Connectors.appendKeyed(spark, tomb, b0, "b0")
    Connectors.appendKeyed(spark, tomb, req.filter(col("vec_id") % 2 === 1), "b1")
    assert(Connectors.readTable(spark, tomb).count() == req.count(),
      "retried micro-batch duplicated tombstones")
    // the stream-retracted catalog serves the batch forget verbatim
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3),
        r.getBoolean(4))).sortBy(x => (x._1, x._3))
    assert(rows(Similarity.withFromBatch(spark, dir,
        Similarity.ivfCatalogSearch(spark, dir, cells, Some(tomb))))
      .sameElements(rows(Similarity.annForget(spark, dir))),
      "stream-retracted ANN catalog diverged from the batch forget")
  }

  test("streaming dedup forget is retry-idempotent and decides the batch retraction") {
    import graft.operators.{Connectors, Dedup}
    val dir = "/root/testdata/sf0.001"
    val (sigsT, shT) = Dedup.refDedupCatalog(spark, dir, "graft-stream-dedupfg-spec-")
    val tombT = s"${sigsT.stripSuffix("/sigs")}/tombstones"
    val req = Dedup.dedupForgetIds(spark, dir)
    // two micro-batches split on doc_id % 40 (the request is % 20 == 0 —
    // parity would leave one batch empty); batch 0 retracts TWICE
    val b0 = req.filter(col("doc_id") % 40 === 0)
    Connectors.appendKeyed(spark, tombT, b0, "b0")
    Connectors.appendKeyed(spark, tombT, b0, "b0")
    Connectors.appendKeyed(spark, tombT, req.filter(col("doc_id") % 40 =!= 0), "b1")
    assert(Connectors.readTable(spark, tombT).count() == req.count(),
      "retried micro-batch duplicated tombstones")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(m(Dedup.forgetDecisions(spark, dir, sigsT, shT, tombT))
      .sameElements(m(Dedup.dedupForget(spark, dir))),
      "stream-retracted dedup catalog diverged from the batch forget")
  }

  test("streaming PCM admission is retry-idempotent and serves the batch pair search") {
    import graft.operators.{Connectors, Dedup, Multimodal}
    val dir = "/root/testdata/sf0.001"
    val sigT = Connectors.scratchCatalog("graft-stream-pcm-spec-") + "/sigs"
    // the m4u foreachBatch body
    def admit(batch: org.apache.spark.sql.DataFrame, key: String): Unit =
      Connectors.appendKeyed(spark, sigT,
        Multimodal.pcmSigOf(spark, batch).coalesce(1), key)
    val corpus = Multimodal.pcmCorpus(spark, dir)
    // two micro-batches; batch 0 commits TWICE with the same key — the
    // foreachBatch retry must not duplicate signature rows
    admit(corpus.filter(col("doc_id") % 2 === 0), "b0")
    admit(corpus.filter(col("doc_id") % 2 === 0), "b0")
    admit(corpus.filter(col("doc_id") % 2 =!= 0), "b1")
    val sigs = Connectors.readTable(spark, sigT)
    assert(sigs.count() == sigs.select("doc_id").distinct().count(),
      "retried micro-batch double-admitted a clip's signature")
    // the release-time pair search over the drained catalog is the batch
    // operator's output verbatim (same signatures, same blocking); the
    // chunk width derives from the staged CORPUS count, the production
    // drains' convention (r17 ADVICE) — never the drained-signature count,
    // which can diverge from it around the 4096 threshold
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    val served = Multimodal.ahashPairs(sigs, Dedup.simhashChunkBits(corpus.count()))
    assert(pairs(served).sameElements(pairs(Multimodal.pcmNearDup(spark, dir))),
      "streamed signature catalog diverged from the batch pair search")
  }

  test("streaming image admission is retry-idempotent and serves the batch pair search") {
    import graft.operators.{Connectors, Dedup, Multimodal}
    val dir = "/root/testdata/sf0.001"
    val sigT = Connectors.scratchCatalog("graft-stream-ahash-spec-") + "/sigs"
    def admit(batch: org.apache.spark.sql.DataFrame, key: String): Unit =
      Connectors.appendKeyed(spark, sigT,
        Multimodal.ahashHashedOf(spark, batch).coalesce(1), key)
    val corpus = Multimodal.ahashCorpus(spark, dir)
    admit(corpus.filter(col("doc_id") % 2 === 0), "b0")
    admit(corpus.filter(col("doc_id") % 2 === 0), "b0") // the retry
    admit(corpus.filter(col("doc_id") % 2 =!= 0), "b1")
    val sigs = Connectors.readTable(spark, sigT)
    assert(sigs.count() == sigs.select("doc_id").distinct().count(),
      "retried micro-batch double-admitted a frame's signature")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    // chunk width from the staged corpus count (the production convention)
    val served = Multimodal.ahashPairs(sigs, Dedup.simhashChunkBits(corpus.count()))
    assert(pairs(served).sameElements(pairs(Multimodal.ahashNearDup(spark, dir))),
      "streamed signature catalog diverged from the batch pair search")
  }

  test("sink retry backs off and succeeds after transient failures") {
    import spark.implicits._
    val sink = tmp("retry-sink-")
    var attempts = 0
    val out = UpsertSink.withRetry(maxAttempts = 5, firstDelayMs = 1) {
      attempts += 1
      if (attempts < 3) throw new java.io.IOException("transient sink outage")
      attempts
    }
    assert(out == 3)
    // and the wrapped batch writer lands the data after flaky starts
    attempts = 0
    val flakyDir = sink + "/sub"
    UpsertSink.withRetry(maxAttempts = 5, firstDelayMs = 1) {
      attempts += 1
      if (attempts < 2) throw new java.io.IOException("transient")
      UpsertSink.appendBatch(flakyDir)(Seq((1L, "v")).toDF("k", "v"), 0L)
    }
    assert(spark.read.parquet(flakyDir).count() == 1)
  }

  test("sink retry gives up after maxAttempts") {
    var attempts = 0
    intercept[java.io.IOException] {
      UpsertSink.withRetry(maxAttempts = 3, firstDelayMs = 1) {
        attempts += 1; throw new java.io.IOException("permanent outage")
      }
    }
    assert(attempts == 3)
  }

  test("sink retry does not sleep through deterministic failures") {
    var attempts = 0
    intercept[IllegalStateException] {
      UpsertSink.withRetry(maxAttempts = 8, firstDelayMs = 60000) {
        attempts += 1; throw new IllegalStateException("schema mismatch")
      }
    }
    // a non-retryable error must surface on the FIRST attempt, not after
    // the backoff ladder
    assert(attempts == 1)
  }

  test("empty micro-batch is skipped by the sink") {
    val sink = tmp("empty-sink-")
    UpsertSink.appendBatch(sink)(eventsDf(Seq.empty), 0L)
    assert(!Files.list(java.nio.file.Paths.get(sink)).findFirst().isPresent)
  }

  test("continuous mode drains with processing-time trigger and stops gracefully") {
    val src = tmp("cont-src-")
    val sink = tmp("cont-sink-")
    val ckpt = tmp("cont-ckpt-")
    eventsDf(Seq((1L, 0, 5.0), (2L, 1, 7.0))).coalesce(1).write.mode("append").parquet(src)
    val q = StreamingJobs.runContinuous(
      StreamingJobs.streamWindowAgg(StreamingJobs.readEventStream(spark, src)),
      sink, ckpt)
    try q.processAllAvailable()
    finally q.stop()
    val state = UpsertSink.lastWriteWins(spark, sink, Seq("user_id", "window_start"))
    assert(state.agg(sum("cnt")).collect()(0).getLong(0) == 2L)
  }
}
