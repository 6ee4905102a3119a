package graft

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** The layered profile of a run, one span at a time: what each span cost in
  * jobs, stages, tasks, executor versus scheduler time, driver-only time,
  * shuffle, spill and GC; the final (post-AQE) shape of every plan it
  * executed; and, for a drain, each micro-batch's progress report — the
  * monitoring surface of a streaming query (Structured Streaming, SIGMOD
  * 2018) and the reference's placeholder `monitoring/alerts.py`, with its
  * slow-batch alert at 5 s (streaming_job.py:96,574-583).
  *
  * Three public listeners in one: this class is the StreamingQueryListener,
  * and it carries a SparkListener and a QueryExecutionListener. All three
  * are fed off the listener bus, so query code never pays for them; `open`
  * and `close` drain the bus, so an event lands in the span that caused it.
  * Attach with `Profile.attach`, which registers at most one per session.
  */
final class Profile private (spark: SparkSession, slowBatchMillis: Long)
    extends StreamingQueryListener {
  import Profile._

  private var cur = new Span
  private var gcAtOpen = 0L

  private def rec(f: Span => Unit): Unit = synchronized(f(cur))

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = rec(_.jobs += 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      rec { s =>
        s.stages += 1
        for (a <- si.submissionTime; b <- si.completionTime) s.stageSpans += ((a, b))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val ti = e.taskInfo
      val m = e.taskMetrics
      rec { s =>
        s.tasks += 1
        if (m != null) {
          val gettingResult =
            if (ti.gettingResultTime > 0) ti.finishTime - ti.gettingResultTime else 0L
          s.schedDelayMs += math.max(0L, (ti.finishTime - ti.launchTime) -
            m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - gettingResult)
          s.taskRunMs += m.executorRunTime
          s.taskCpuNs += m.executorCpuTime
          val sr = m.shuffleReadMetrics
          s.shuffleReadBytes += sr.remoteBytesRead + sr.localBytesRead
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val executions = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val counts = planCounts(qe.executedPlan)
      rec { s =>
        s.plan("executions") += 1
        counts.foreach { case (k, v) => s.plan(k) += v }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  override def onQueryStarted(e: QueryStartedEvent): Unit = rec(_.streamsStarted += 1)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    val durationMs = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val b = Batch(
      batchId = p.batchId,
      numInputRows = p.numInputRows,
      durationMs = durationMs,
      watermark = Option(p.eventTime.get("watermark")),
      droppedByWatermark = ops.map(_.numRowsDroppedByWatermark).sum,
      stateRows = ops.map(_.numRowsTotal).sum,
      stateMemoryBytes = ops.map(_.memoryUsedBytes).sum,
      slow = durationMs.getOrElse("triggerExecution", 0L) > slowBatchMillis)
    rec(_.batches += b)
  }

  /** Start a fresh span once every earlier event has been delivered. */
  def open(): Unit = {
    GraftBus.drain(spark.sparkContext)
    synchronized { cur = new Span; gcAtOpen = gcMillis() }
  }

  /** End the span opened last, once its events have been delivered. */
  def close(): Span = {
    GraftBus.drain(spark.sparkContext)
    synchronized {
      val s = cur
      s.gcMs = gcMillis() - gcAtOpen
      cur = new Span
      s
    }
  }

  /** Unregister all three parts. */
  def detach(): Unit = {
    spark.streams.removeListener(this)
    spark.listenerManager.unregister(executions)
    spark.sparkContext.removeSparkListener(jobs)
  }
}

object Profile {
  /** The session's profile, registered on the first call only. */
  def attach(spark: SparkSession, slowBatchMillis: Long = 5000L): Profile = synchronized {
    spark.streams.listListeners().collectFirst { case p: Profile => p }.getOrElse {
      val p = new Profile(spark, slowBatchMillis)
      spark.sparkContext.addSparkListener(p.jobs)
      spark.listenerManager.register(p.executions)
      spark.streams.addListener(p)
      p
    }
  }

  /** One micro-batch of a drain, as its progress report gives it. */
  final case class Batch(batchId: Long, numInputRows: Long,
      durationMs: Map[String, Long], watermark: Option[String],
      droppedByWatermark: Long, stateRows: Long, stateMemoryBytes: Long,
      slow: Boolean)

  /** The final-plan operator counts a span sums over its executions. */
  private val planKeys: Seq[String] = Seq("executions", "exchanges", "reused_exchanges",
    "broadcasts", "smj", "bhj", "hash_aggs", "parquet_scans")

  /** What one span cost. GC is the JVM's collector-time delta over the span:
    * in local mode every task shares this JVM, so summing per-task GC time
    * would count one pause once per running task. */
  final class Span {
    var jobs, stages, tasks = 0L
    var taskRunMs, taskCpuNs, schedDelayMs = 0L
    var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
    var gcMs = 0L
    var streamsStarted = 0L
    val plan: mutable.LinkedHashMap[String, Long] =
      mutable.LinkedHashMap(planKeys.map(_ -> 0L): _*)
    val batches = mutable.ArrayBuffer.empty[Batch]
    private[graft] val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]

    /** Seconds during which at least one stage ran: the union of the stage
      * spans, so concurrent stages count once. */
    def stageSeconds: Double = {
      var total, end = 0L
      stageSpans.sortBy(_._1).foreach { case (a, b) =>
        if (a >= end) total += b - a
        else if (b > end) total += b - end
        end = math.max(end, b)
      }
      total / 1e3
    }

    def totalInputRows: Long = batches.map(_.numInputRows).sum
    def slowBatches: Seq[Batch] = batches.filter(_.slow).toSeq

    /** The micro-batches as a table, to filter, aggregate or join like any
      * other (the reference's monitor numbers, streaming_job.py:632-687). */
    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      batches.toSeq.map(b => (b.batchId, b.numInputRows,
          b.durationMs.getOrElse("triggerExecution", 0L), b.stateRows,
          b.stateMemoryBytes, b.droppedByWatermark, b.slow))
        .toDF("batch_id", "num_input_rows", "duration_ms", "state_rows",
          "state_memory_bytes", "dropped_by_watermark", "slow")
    }

    /** The slow-batch alert view: batches whose trigger ran over the
      * threshold, the reference's backpressure signal. */
    def alerts(spark: SparkSession): DataFrame = toDF(spark).filter(col("slow"))

    /** The span as one JSON record, given the wall and CPU seconds its
      * caller timed; driver-only time is the wall no stage covered. */
    def json(wallSec: Double, cpuSec: Double): String = {
      val stageSec = stageSeconds
      def batch(b: Batch) = obj(Seq(
        "batch_id" -> b.batchId, "input_rows" -> b.numInputRows,
        "duration_ms" -> obj(b.durationMs.toSeq.sortBy(-_._2)),
        "watermark" -> b.watermark.map(w => "\"" + w + "\"").getOrElse("null"),
        "dropped_by_watermark" -> b.droppedByWatermark,
        "state_rows" -> b.stateRows, "state_memory_bytes" -> b.stateMemoryBytes,
        "slow" -> b.slow))
      obj(Seq(
        "wall_s" -> wallSec, "cpu_s" -> cpuSec,
        "driver_only_s" -> math.max(0.0, wallSec - stageSec), "stage_s" -> stageSec,
        "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
        "task_run_s" -> taskRunMs / 1e3, "task_cpu_s" -> taskCpuNs / 1e9,
        "sched_delay_s" -> schedDelayMs / 1e3,
        "shuffle_read_bytes" -> shuffleReadBytes,
        "shuffle_write_bytes" -> shuffleWriteBytes,
        "spill_bytes" -> spillBytes, "gc_s" -> gcMs / 1e3,
        "plan" -> obj(plan.toSeq),
        "batches" -> batches.map(batch).mkString("[", ",", "]")))
    }
  }

  /** A JSON object from already-rendered values (numbers, booleans, nested
    * JSON) — every key here is a plain identifier. */
  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Operator counts of a plan as it ran: adaptive plans at their final
    * form, query stages through to the plan they wrap, subqueries included.
    * A reused exchange counts as reused, not again as what it reuses. */
  private def planCounts(plan: SparkPlan): Map[String, Long] = {
    val n = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: ReusedExchangeExec => n("reused_exchanges") += 1
        case _: BroadcastExchangeLike => n("broadcasts") += 1
        case _: ShuffleExchangeLike => n("exchanges") += 1
        case _: SortMergeJoinExec => n("smj") += 1
        case _: BroadcastHashJoinExec => n("bhj") += 1
        case _: HashAggregateExec | _: ObjectHashAggregateExec => n("hash_aggs") += 1
        case f: FileSourceScanLike if f.relation.fileFormat.isInstanceOf[ParquetFileFormat] =>
          n("parquet_scans") += 1
        case _ =>
      }
      val next: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case c: CommandResultExec => Seq(c.commandPhysicalPlan)
        case _: ReusedExchangeExec => Nil
        case other => other.children ++ other.subqueries
      }
      next.foreach(walk)
    }
    walk(plan)
    n.toMap
  }
}
