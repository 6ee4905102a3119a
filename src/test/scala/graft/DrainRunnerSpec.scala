package graft

import graft.operators.WindowAggregates
import graft.streaming.{StreamingJobs, UpsertSink}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import java.io.File

/** The drain runner's contract: how a bounded replay source is staged
  * (contiguous, ordered, one file per range, no single-task window) and
  * how many micro-batches a drain runs (update mode on a throwaway
  * checkpoint: one per file; a caller-owned checkpoint and append mode
  * keep the watermark-only batch; the stateless admission drains run no
  * empty batch). */
class DrainRunnerSpec extends AnyFunSuite with SparkFixture {
  private val fixture = "/root/testdata/sf0.001"

  private def onTimeEvents: DataFrame = Tables.events(spark, fixture)
    .filter(col("ts").isNotNull && col("user_id").isNotNull)

  /** The staging contract for a source split on `keys` (two long columns):
    * `n` files named f001… with strictly ascending mtimes, together equal
    * to `expected`, each non-empty and sorted on `keys`, and file i's last
    * key below file i+1's first. */
  private def checkStaged(src: String, n: Int, expected: DataFrame,
      keys: Seq[Column]): Unit = {
    val files = new File(src).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq
    assert(files.map(_.getName) == (1 to n).map(i => f"f$i%03d.parquet"))
    val mtimes = files.map(_.lastModified)
    assert(mtimes.zip(mtimes.tail).forall { case (a, b) => a < b },
      s"mtimes do not strictly ascend: $mtimes")
    val staged = spark.read.parquet(src).select(expected.columns.map(col).toSeq: _*)
    assert(staged.count() == expected.count())
    assert(staged.exceptAll(expected).isEmpty, "staged rows the source lacks")
    assert(expected.exceptAll(staged).isEmpty, "source rows missing from staging")
    val ranges = files.map { f =>
      val ks = spark.read.parquet(f.getPath).select(keys: _*).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(ks.nonEmpty, s"${f.getName} is empty")
      assert(ks == ks.sorted, s"${f.getName} is not sorted on its keys")
      (ks.head, ks.last)
    }
    ranges.zip(ranges.tail).foreach { case ((_, hi), (lo, _)) =>
      assert(Ordering[(Long, Long)].lt(hi, lo), s"ranges overlap: $hi >= $lo")
    }
  }

  for (n <- Seq(2, 8))
    test(s"stagedEvents with $n files: contiguous (ts, event_id) ranges in file order") {
      checkStaged(StreamingJobs.stagedEvents(spark, fixture, n), n, onTimeEvents,
        Seq(unix_micros(col("ts")), col("event_id")))
    }

  test("stagedDocuments with 3 files: contiguous doc_id ranges in file order") {
    checkStaged(StreamingJobs.stagedDocuments(spark, fixture, 3), 3,
      Tables.documents(spark, fixture), Seq(col("doc_id"), lit(0L)))
  }

  test("the staging write plans one range exchange and no window") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      StreamingJobs.stage(Tables.events(spark, fixture), 3)
      org.apache.spark.GraftBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val helper = new AdaptiveSparkPlanHelper {}
    val plans: Seq[SparkPlan] = seen.toArray(Array.empty[QueryExecution]).toSeq
      .map(_.executedPlan)
      .filter(p => helper.find(p)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
    assert(plans.size == 1, s"expected one staging write, saw ${plans.size}")
    assert(helper.collect(plans.head) { case w: WindowExec => w }.isEmpty,
      s"staging plans a window:\n${plans.head}")
    val shuffles = helper.collect(plans.head) { case s: ShuffleExchangeExec => s }
    assert(shuffles.size == 1 &&
      shuffles.head.outputPartitioning.isInstanceOf[RangePartitioning],
      s"expected one range exchange:\n${plans.head}")
  }

  /** Run `body` in a profile span and return its micro-batches once the
    * listener bus has delivered every event. */
  private def batchesOf(body: => Unit): Seq[Profile.Batch] = {
    val profile = Profile.attach(spark)
    try {
      profile.open()
      body
      profile.close().batches.toSeq
    } finally profile.detach()
  }

  test("an update-mode drain runs one micro-batch per file, none empty, and equals its batch twin") {
    StreamingJobs.configureStreaming(spark)
    val src = StreamingJobs.stagedEvents(spark, fixture, 2)
    val sink = java.nio.file.Files.createTempDirectory("runner-upd-sink-").toString
    val batches = batchesOf(StreamingJobs.drainUpdate(
      StreamingJobs.streamWindowAgg(StreamingJobs.readEventStream(spark, src)), sink))
    assert(batches.size == 2, s"expected 2 micro-batches: $batches")
    assert(batches.forall(_.numInputRows > 0), s"a micro-batch read no rows: $batches")
    val drained = UpsertSink.lastWriteWins(spark, sink, Seq("user_id", "window_start"))
      .collect().map(_.toString).sorted
    val twin = WindowAggregates.aggregateWindows(onTimeEvents)
      .collect().map(_.toString).sorted
    assert(drained.sameElements(twin), "update drain diverged from its batch twin")
  }

  test("a drainUpdate on a caller-owned checkpoint keeps its trailing no-data batch") {
    StreamingJobs.configureStreaming(spark)
    val src = StreamingJobs.stagedEvents(spark, fixture, 2)
    val sink = java.nio.file.Files.createTempDirectory("runner-own-sink-").toString
    val ckpt = java.nio.file.Files.createTempDirectory("runner-own-ckpt-").toString
    val batches = batchesOf(StreamingJobs.drainUpdate(
      StreamingJobs.streamWindowAgg(StreamingJobs.readEventStream(spark, src)), sink, ckpt))
    // the checkpoint outlives the call, so it must record the final watermark
    assert(batches.size == 3 && batches.last.numInputRows == 0,
      s"expected 2 data batches + 1 no-data batch: $batches")
  }

  /** The admission drains whose bodies never count their batch (m4p, m4r,
    * m4s, m4t), with the number of files each stages. */
  private val uncountedAdmissions: Seq[(String, String => DataFrame, Int)] = Seq(
    ("m4p", StreamingJobs.streamForgetQuery(spark, _), 2),
    ("m4r", StreamingJobs.streamAnnForgetQuery(spark, _), 2),
    ("m4s", StreamingJobs.streamDedupForgetQuery(spark, _), 2),
    ("m4t", StreamingJobs.streamDeconQuery(spark, _), 3))

  for ((name, query, nFiles) <- uncountedAdmissions)
    test(s"admission drain $name runs one micro-batch per staged file, none empty") {
      val batches = batchesOf(query(fixture))
      assert(batches.size == nFiles && batches.forall(_.numInputRows > 0),
        s"expected $nFiles non-empty micro-batches: $batches")
    }

  test("an append-mode drain keeps its final no-data batch and serves every closed window and key") {
    StreamingJobs.configureStreaming(spark)
    val src = StreamingJobs.stagedEvents(spark, fixture, 2)
    val bucket = expr("(unix_micros(ts) div 5000000) * 5")
    // windowed append: a window is emitted only once the watermark passes
    // its end, so the last windows leave in the watermark-only batch
    val sink = java.nio.file.Files.createTempDirectory("runner-app-sink-").toString
    val batches = batchesOf(StreamingJobs.drainAppend(
      StreamingJobs.readEventStream(spark, src)
        .withWatermark("ts", "1 minute")
        .groupBy(col("user_id"), window(col("ts"), "5 minutes"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("user_id"), col("window.start").as("window_start"), col("cnt")),
      sink))
    assert(batches.size == 3, s"expected 2 data batches + 1 no-data batch: $batches")
    assert(batches.last.numInputRows == 0 && batches.init.forall(_.numInputRows > 0),
      s"the trailing batch should be the only empty one: $batches")
    // the batch twin: every window the final watermark (max ts - 1 min) closed
    val wm = onTimeEvents.agg(max(col("ts")) - expr("INTERVAL 1 MINUTE")).head().get(0)
    val windows = UpsertSink.appended(spark, sink).collect().map(_.toString).sorted
    val twin = onTimeEvents
      .groupBy(col("user_id"), window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("window.end") <= lit(wm))
      .select(col("user_id"), col("window.start").as("window_start"), col("cnt"))
      .collect().map(_.toString).sorted
    assert(twin.nonEmpty && windows.sameElements(twin),
      "append drain lost or changed closed windows")
    // dedup within the watermark: every (user, 5 s bucket) key, once
    val dsink = java.nio.file.Files.createTempDirectory("runner-dedup-sink-").toString
    StreamingJobs.drainAppend(
      StreamingJobs.readEventStream(spark, src)
        .withColumn("bucket", bucket)
        .withWatermark("ts", "1 minute")
        .dropDuplicatesWithinWatermark("user_id", "bucket")
        .select(col("user_id"), col("bucket")),
      dsink)
    val keys = UpsertSink.appended(spark, dsink)
    assert(keys.count() == keys.distinct().count())
    assert(keys.exceptAll(onTimeEvents.select(col("user_id"), bucket.as("bucket")).distinct())
      .isEmpty)
    assert(onTimeEvents.select(col("user_id"), bucket.as("bucket")).distinct()
      .exceptAll(keys).isEmpty)
  }
}
