package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}
import graft.operators.{DedupStaging, Joins}
import graft.streaming.StreamingJobs

/** One benchmark run: `Driver <plan> <out>`. `run.py` writes the plan file
  * and reads the result file this driver writes. The run sets up, stages
  * cold, makes one untimed pass that writes every entry's result as parquet
  * for the oracle check, makes untimed warm-up passes, then the timed passes
  * the plan lists.
  *
  * Entries run in a closed loop: one client, the next entry starts when the
  * previous one has finished. Each entry is timed as two calls, the query
  * function (plan construction, including any job it runs eagerly) and the
  * noop evaluation of its result. Cache clearing and GC between entries sit
  * outside the timed window.
  */
object Driver {

  /** Plan-file keys: one `key value` pair a line; `pass` repeats. */
  final case class Plan(fixture: String, cpus: Int, trace: Boolean,
      entryTimeoutS: Int, setups: Int, warm: Seq[String], replayEvents: Int, warmupPasses: Int,
      entries: Seq[String], passes: Seq[Seq[String]], checkDir: String)

  def readPlan(path: String): Plan = {
    val kv = Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filter(_.trim.nonEmpty).map { l =>
        val i = l.indexOf(' ')
        if (i < 0) (l, "") else (l.substring(0, i), l.substring(i + 1))
      }
    def one(k: String) = kv.collectFirst { case (`k`, v) => v }
      .getOrElse(sys.error(s"plan file lacks '$k'"))
    def list(v: String) = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    Plan(one("fixture"), one("cpus").toInt, one("trace") == "1",
      one("entry_timeout").toInt, one("setups").toInt, list(one("warm")),
      one("replay_events").toInt, one("warmup_passes").toInt, list(one("entries")),
      kv.collect { case ("pass", v) => list(v) }, one("check_dir"))
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Session start, bootstrap and a scoped warm-up: one count over each
    * table the workload reads. */
  def setup(p: Plan): SparkSession = {
    val t0 = System.nanoTime()
    def done(what: String): Unit =
      System.err.println(f"[perfbench] $what at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val spark = SparkSession.builder()
      .master(s"local[${p.cpus}]")
      .config("spark.sql.shuffle.partitions", p.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", Paths.get("spark-warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    done("session started")
    Tables.bootstrap(spark)
    done("bootstrapped")
    p.warm.foreach(t => Tables.load(spark, p.fixture, t).count())
    done("warmed up")
    spark
  }

  /** The outcome of one timed entry; `layers` only in the traced run. */
  final case class Sample(name: String, buildS: Double, runS: Double, cpuS: Double,
      gcS: Double, startMs: Long, endMs: Long, error: Option[String],
      layers: Option[Layers])

  def main(args: Array[String]): Unit = {
    val Array(planPath, outPath) = args
    val p = readPlan(planPath)
    // set-up repeats in this JVM: the first sample also pays JVM launch
    // (the harness times it from process start), later ones restart the
    // session and pay session start, bootstrap and warm-up again
    var spark = setup(p)
    val out = new Json
    out.num("setup_end_ms", System.currentTimeMillis().toDouble)
    val again = (2 to p.setups).map { _ =>
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val t0 = System.nanoTime()
      spark = setup(p)
      (System.nanoTime() - t0) / 1e9
    }
    out.raw("setup_again_s", again.mkString("[", ",", "]"))
    measure(spark, p, out)
    spark.stop()
    Files.writeString(Paths.get(outPath), out.result())
  }

  private def measure(spark: SparkSession, p: Plan, out: Json): Unit = {
    val sc = spark.sparkContext
    val trace = if (p.trace) Some(new Trace(spark)) else None
    trace.foreach(_.attach())
    val registry = SparkEntry.queries ++ injected
    val oracles = SparkEntry.oracleSql
    val names = p.entries.toSet

    // cold staging, each build timed on its own
    def staged(name: String)(body: => Unit): String = {
      sc.setLocalProperty("perfbench.phase", "staging")
      trace.foreach(_.close())
      val t0 = System.nanoTime()
      val err = attempt(body)
      val wall = (System.nanoTime() - t0) / 1e9
      val layers = trace.map(_.close())
      err.foreach(e => System.err.println(s"[perfbench] FAILED staging $name: $e"))
      val o = new Json
      o.str("name", name).num("wall_s", wall).opt("error", err)
      layers.foreach(l => o.raw("layers", layersJson(l)))
      o.result()
    }
    val staging = Seq(
      Option.unless(DedupStaging.isStagedFor(p.fixture, names))(
        staged("dedup_staging")(DedupStaging.ensureFor(spark, p.fixture, names))),
      Option.unless(DedupStaging.isAnnStagedFor(p.fixture, names))(
        staged("ann_staging")(DedupStaging.ensureAnnFor(spark, p.fixture, names))),
      Option.when(names("j5_bucketed_join"))(
        staged("bucket_ddl")(Joins.ensureBucketedTables(spark, p.fixture))),
      // the drains' replay source, memoized for the session like the tables
      // above; without this the first drain would pay for it
      Option.when(p.replayEvents > 0)(staged("replay_events")(
        StreamingJobs.stagedEvents(spark, p.fixture, p.replayEvents)))).flatten
    out.raw("staging", staging.mkString("[", ",", "]"))

    // untimed check pass, in pinned order: each entry's result as parquet,
    // as graft.Verify writes it; it also warms the JIT for the timed passes
    val watchdog = new Watchdog(spark, p.entryTimeoutS)
    sc.setLocalProperty("perfbench.phase", "check")
    val check = p.entries.map { name =>
      watchdog.arm()
      val err = registry.get(name) match {
        case None => Some(s"entry '$name' is not registered")
        case Some(fn) => attempt(fn(spark, p.fixture).coalesce(1).write.mode("overwrite")
          .parquet(s"${p.checkDir}/$name"))
      }
      val error = if (watchdog.disarm()) Some(s"timed out after ${p.entryTimeoutS} s") else err
      spark.catalog.clearCache()
      error.foreach(e => System.err.println(s"[perfbench] FAILED check $name: $e"))
      new Json().str("name", name).opt("error", error)
        .opt("oracle_sql", oracles.get(name)).result()
    }
    // untimed warm-up passes, for workloads whose entries are still being
    // JIT-compiled after the check pass
    for (_ <- 1 to p.warmupPasses; name <- p.entries)
      timed(spark, name, registry.get(name), p, watchdog, None)
    trace.foreach(_.close())

    // timed passes, closed loop; the plan fixes their number, so every run
    // and every version of the program does the same work
    val passes = p.passes.zipWithIndex.map { case (order, i) =>
      val samples = order.map(name => timed(spark, name, registry.get(name), p, watchdog, trace))
      if (i == 0) System.err.println("[perfbench] first pass done")
      new Json().num("wall_s", samples.map(s => s.buildS + s.runS).sum)
        .num("cpu_s", samples.map(_.cpuS).sum)
        .raw("entries", samples.map(sampleJson).mkString("[", ",", "]")).result()
    }
    watchdog.stop()
    out.raw("check", check.mkString("[", ",", "]"))
    out.raw("passes", passes.mkString("[", ",", "]"))
    out.num("peak_rss_kb", peakRssKb)
  }

  /** An entry that always throws, for the benchmark's self-test of failure
    * counting; no workload pins it. */
  private val injected: Map[String, (SparkSession, String) => DataFrame] =
    Map("perfbench_injected_failure" -> ((_, _) => throw new IllegalStateException("injected failure")))

  /** Run one entry: build, then noop evaluation, each timed. A missing
    * entry, an exception or a timeout is a failure, never a timed success. */
  private def timed(spark: SparkSession, name: String,
      fn: Option[(SparkSession, String) => DataFrame], p: Plan, watchdog: Watchdog,
      trace: Option[Trace]): Sample = {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    System.gc()
    trace.foreach(_.close())
    val startMs = System.currentTimeMillis()
    val cpu0 = os.getProcessCpuTime
    val gc0 = gcMs
    val t0 = System.nanoTime()
    var t1 = t0
    watchdog.arm()
    val err = fn match {
      case None => Some(s"entry '$name' is not registered")
      case Some(f) => attempt {
        sc.setLocalProperty("perfbench.phase", "build")
        val df = f(spark, p.fixture)
        t1 = System.nanoTime()
        sc.setLocalProperty("perfbench.phase", "run")
        df.write.format("noop").mode("overwrite").save()
      }
    }
    val timedOut = watchdog.disarm()
    val t2 = System.nanoTime()
    if (t1 == t0) t1 = t2
    val endMs = System.currentTimeMillis()
    val cpu = (os.getProcessCpuTime - cpu0) / 1e9
    val gc = (gcMs - gc0) / 1e3
    val layers = trace.map(_.close())
    val error = if (timedOut) Some(s"timed out after ${p.entryTimeoutS} s") else err
    error.foreach(e => System.err.println(s"[perfbench] FAILED $name: $e"))
    Sample(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, cpu, gc, startMs, endMs, error, layers)
  }

  private def attempt(body: => Unit): Option[String] =
    try { body; None }
    catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}".take(500)) }

  private def sampleJson(s: Sample): String = {
    val o = new Json
    o.str("name", s.name).num("build_s", s.buildS).num("run_s", s.runS)
      .num("cpu_s", s.cpuS).num("gc_s", s.gcS).num("start_ms", s.startMs.toDouble)
      .num("end_ms", s.endMs.toDouble).opt("error", s.error)
    s.layers.foreach { l =>
      val spans = l.stageSpans.map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
        .filter { case (a, b) => b > a }
      l.add("driver_only_s", math.max(0.0, (s.endMs - s.startMs - unionMs(spans.toSeq)) / 1e3))
      o.raw("layers", layersJson(l))
    }
    o.result()
  }

  /** Total length of the union of [start, end) intervals. */
  def unionMs(spans: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    spans.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  private def layersJson(l: Layers): String = {
    val o = new Json
    l.c.foreach { case (k, v) => o.num(k, v) }
    o.raw("batches", l.batches.map { b =>
      val d = new Json
      b.durationMs.toSeq.sortBy(_._1).foreach { case (k, v) => d.num(k, v.toDouble) }
      new Json().str("query", b.query).num("batch_id", b.batchId.toDouble)
        .num("start_ms", b.startMs.toDouble).num("rows", b.rows.toDouble)
        .raw("duration_ms", d.result()).num("state_rows", b.stateRows.toDouble)
        .num("state_memory_bytes", b.stateMemory.toDouble)
        .num("state_commit_ms", b.stateCommitMs.toDouble)
        .num("dropped_late", b.droppedLate.toDouble).result()
    }.mkString("[", ",", "]"))
    o.result()
  }

  /** Peak resident set of this process (Linux), off-heap memory included. */
  private def peakRssKb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble).getOrElse(0.0)
}

/** Cancels every running job when an entry outlives its time limit, so the
  * entry fails with an exception instead of hanging the run. */
final class Watchdog(spark: SparkSession, limitS: Int) {
  @volatile private var deadline = Long.MaxValue
  @volatile private var fired = false
  private val thread = new Thread(() => {
    try while (true) {
      if (System.nanoTime() > deadline && !fired) {
        fired = true
        spark.sparkContext.cancelAllJobs()
        spark.streams.active.foreach(_.stop())
      }
      Thread.sleep(200)
    } catch { case _: InterruptedException => () }
  }, "perfbench-watchdog")
  thread.setDaemon(true)
  thread.start()
  def arm(): Unit = { fired = false; deadline = System.nanoTime() + limitS * 1000000000L }
  def disarm(): Boolean = { deadline = Long.MaxValue; fired }
  def stop(): Unit = thread.interrupt()
}

/** A minimal JSON object writer. */
final class Json {
  private val sb = new StringBuilder
  private def key(k: String): Json = {
    sb.append(if (sb.isEmpty) "{" else ",").append(Json.quote(k)).append(':'); this
  }
  def raw(k: String, v: String): Json = { key(k); sb.append(v); this }
  def num(k: String, v: Double): Json =
    raw(k, if (v.isNaN || v.isInfinite) "null" else v.toString)
  def str(k: String, v: String): Json = raw(k, Json.quote(v))
  def opt(k: String, v: Option[String]): Json = raw(k, v.map(Json.quote).getOrElse("null"))
  def result(): String = if (sb.isEmpty) "{}" else sb.toString + "}"
}

object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
