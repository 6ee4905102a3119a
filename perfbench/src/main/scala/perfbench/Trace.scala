package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for one traced span (an entry call or a staging
  * build), filled from Spark's public listeners. The driver drains the
  * listener bus at every span boundary, so an event always lands in the span
  * that caused it. */
final class Layers {
  val c = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  val batches = mutable.ArrayBuffer.empty[Batch]
  def add(k: String, v: Double): Unit = c(k) += v
}

/** One micro-batch progress report of a streaming drain. */
final case class Batch(query: String, batchId: Long, startMs: Long, rows: Long,
    durationMs: Map[String, Long], stateRows: Long, stateMemory: Long,
    stateCommitMs: Long, droppedLate: Long)

/** The three public listeners, attached only in the traced run. */
final class Trace(spark: SparkSession) {
  private var cur = new Layers
  private val lock = new Object

  private def rec(f: Layers => Unit): Unit = lock.synchronized(f(cur))

  private val phaseKey = "perfbench.phase"

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val phase = Option(e.properties).flatMap(p => Option(p.getProperty(phaseKey)))
      rec(_.add(s"${phase.getOrElse("other")}.jobs", 1))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      rec { l =>
        l.add("sched.stages", 1)
        for (s <- si.submissionTime; f <- si.completionTime) l.stageSpans += ((s, f))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val ti = e.taskInfo
      val m = e.taskMetrics
      rec { l =>
        l.add("sched.tasks", 1)
        if (m != null) {
          val gettingResult =
            if (ti.gettingResultTime > 0) ti.finishTime - ti.gettingResultTime else 0L
          val delay = (ti.finishTime - ti.launchTime) - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - gettingResult
          l.add("sched.delay_s", math.max(0L, delay) / 1e3)
          l.add("sched.task_run_s", m.executorRunTime / 1e3)
          l.add("sched.task_cpu_s", m.executorCpuTime / 1e9)
          val sr = m.shuffleReadMetrics
          l.add("shuffle.read_bytes", (sr.remoteBytesRead + sr.localBytesRead).toDouble)
          l.add("shuffle.fetch_wait_s", sr.fetchWaitTime / 1e3)
          l.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          l.add("spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          l.add("tables.bytes_read", m.inputMetrics.bytesRead.toDouble)
          l.add("tables.records_read", m.inputMetrics.recordsRead.toDouble)
          l.add("write.bytes", m.outputMetrics.bytesWritten.toDouble)
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val counts = Trace.planCounts(qe.executedPlan)
      rec(l => counts.foreach { case (k, v) => l.add(k, v) })
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      val b = Batch(
        query = p.runId.toString,
        batchId = p.batchId,
        startMs = java.time.Instant.parse(p.timestamp).toEpochMilli,
        rows = p.numInputRows,
        durationMs = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        stateRows = ops.map(_.numRowsTotal).sum,
        stateMemory = ops.map(_.memoryUsedBytes).sum,
        stateCommitMs = ops.map(_.commitTimeMs).sum,
        droppedLate = ops.map(_.numRowsDroppedByWatermark).sum)
      rec(_.batches += b)
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until every listener has caught up, then close the span and
    * start the next; returns the span that ended. */
  def close(): Layers = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    lock.synchronized { val l = cur; cur = new Layers; l }
  }
}

object Trace {
  /** Exchange, broadcast and sort-merge-join counts of a plan as it ran:
    * adaptive plans are read at their final form, query stages through to
    * the plan they wrap, and subqueries are included. */
  def planCounts(plan: SparkPlan): Map[String, Double] = {
    val n = mutable.Map("plan.exchanges" -> 0.0, "plan.broadcasts" -> 0.0, "plan.smj" -> 0.0)
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: BroadcastExchangeLike => n("plan.broadcasts") += 1
        case _: ShuffleExchangeLike => n("plan.exchanges") += 1
        case r: ReusedExchangeExec => r.child match {
          case _: BroadcastExchangeLike => n("plan.broadcasts") += 1
          case _ => n("plan.exchanges") += 1
        }
        case _: SortMergeJoinExec => n("plan.smj") += 1
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
