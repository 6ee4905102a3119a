package graft
import graft.operators.{DedupStaging, Joins}
import org.apache.spark.sql.SparkSession
object Bench {
  /** Times bench entries (queries and staging builds), each in its own
    * profile span. Wall time is the headline; process CPU time rides along
    * so a loaded machine is detectable in the artifact itself (wall far
    * above cpu/32 on a 32-thread run = external contention, not plan cost —
    * the r4 recording was inflated exactly that way).
    *
    * An entry that throws is reported in `failed` (name → exception class)
    * and gets neither a time nor a profile record — timing a failure as a
    * success would score a broken entry as fast. The bench continues: a
    * custom sf dir missing a table must not abort the other entries. */
  final class Entries(profile: Profile) {
    private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val spans = scala.collection.mutable.LinkedHashMap.empty[String, Profile.Span]

    def apply(name: String)(body: => Unit): Option[(String, Double, Double)] = {
      profile.open()
      val r =
        try {
          val w0 = System.nanoTime()
          val c0 = os.getProcessCpuTime
          body
          Some((name, (System.nanoTime() - w0) / 1e9, (os.getProcessCpuTime - c0) / 1e9))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: $e")
          failed(name) = e.getClass.getName
          None
        }
      // outside the timed window: close() waits for the listener bus, so
      // every event of this entry lands in its span
      val span = profile.close()
      if (r.isDefined) spans(name) = span
      r
    }

    def failedJson: String =
      Profile.obj(failed.toSeq.map { case (k, v) => k -> ("\"" + v + "\"") })

    /** The profile sidecar: one record per timed entry, one per line, and
      * the same `failed` map as both stdout lines. */
    def sidecar(results: Seq[(String, Double, Double)]): String =
      results.map { case (n, w, c) => s"\"$n\":" + spans(n).json(w, c) }
        .mkString("{\"entries\":{\n", ",\n", s"\n},\n\"failed\":$failedJson}\n")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Wait-until-quiet gate: two driver rounds in a row recorded at
    // load_avg >= 2.4, which inflates wall numbers with machine contention
    // a warning alone did not prevent. Poll the 1-min load average BEFORE
    // the session spins up; proceed once quiet or when the bounded budget
    // expires (the artifact's `contended` flag still records the truth
    // either way). SPARK_GRAFT_LOAD_WAIT_SEC=0 disables the wait for dev
    // loops.
    // The gate-exit sample (`load_avg_gate`) is what `contended` keys on:
    // it is the last load reading taken before this JVM spins up the Spark
    // session, i.e. EXTERNAL load. The r13 artifacts keyed contended on a
    // sample taken after session init + the 32-thread JIT warm-up query,
    // so a genuinely quiet run self-flagged at ~2.2 from its own startup
    // burst; both values are now recorded.
    val loadGate = {
      val osb = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      val budgetSec = sys.env.getOrElse("SPARK_GRAFT_LOAD_WAIT_SEC", "600").toInt
      val t0 = System.nanoTime()
      var load = osb.getSystemLoadAverage
      while (load >= 2.0 && (System.nanoTime() - t0) / 1e9 < budgetSec) {
        System.err.println(f"[bench] load_avg $load%.2f >= 2 — waiting for a " +
          f"quiet machine (budget ${budgetSec}s)")
        Thread.sleep(15000)
        load = osb.getSystemLoadAverage
      }
      if (load >= 2.0 && budgetSec > 0)
        System.err.println(f"[bench] still loaded ($load%.2f) after ${budgetSec}s" +
          " — proceeding; artifact will carry contended=true")
      load
    }
    // Shuffle-partition override for the partition-scaled probe leg: a
    // deployment sizes shuffle partitions WITH the data (the README's
    // aggregation-map attribution), and scale_probe10.py measures exactly
    // that by re-running the keyed-agg-heavy queries at partitions ∝ rows.
    // Default stays = cpus (the committed-bench configuration).
    // Parsed eagerly (toInt, > 0) so a probe-harness typo fails fast with
    // the variable name in the message, not as an opaque session-build
    // error deep inside Spark.
    val shufflePartitions = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") match {
      case None => cpus
      case Some(s) =>
        val n =
          try s.trim.toInt
          catch { case _: NumberFormatException => sys.error(
            s"SPARK_GRAFT_SHUFFLE_PARTITIONS must be an integer, got '$s'") }
        require(n > 0, s"SPARK_GRAFT_SHUFFLE_PARTITIONS must be > 0, got $n")
        n.toString
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.bootstrap(spark)
    // Dev-loop filter: SPARK_GRAFT_QUERIES=q1,q2 benches a subset (driver
    // runs always leave it unset → full registry).
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Batch queries first (alphabetical), streaming drains last: a
    // drain leaves RocksDB native state, checkpoint scratch and dozens of
    // micro-batch artifacts in the session, which taxes every later query —
    // measured ~50% inflation on the m6 family when drains precede it. The
    // drains themselves are unaffected by position.
    val selected = SparkEntry.queries.toSeq
      .sortBy { case (n, _) => (SparkEntry.drains(n), n) }
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Untimed warm-up: one trivial pass over each table in the fixture dir,
    // plus a small agg/window probe over events, so the first timed query
    // doesn't absorb one-time JVM/codegen warm-up (classloading, janino,
    // parquet footer caches) that no steady-state deployment pays per
    // query. A custom sf dir warms whatever tables it holds.
    locally {
      import org.apache.spark.sql.functions._
      val tables = Option(new java.io.File(sfDir).list()).toSeq.flatten
        .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
      tables.foreach(t => Tables.load(spark, sfDir, t).count())
      if (tables.contains("events")) {
        Tables.events(spark, sfDir).groupBy("event_type").count()
          .write.format("noop").mode("overwrite").save()
        Tables.events(spark, sfDir).limit(1000)
          .withColumn("r", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("ts")))
          .write.format("noop").mode("overwrite").save()
      }
    }
    // The dedup family reads staged shingle/signature parquet (DedupStaging,
    // built once per fixture — what a production pipeline materializes next
    // to the corpus). Pre-build it here as its own TIMED entry so the
    // one-time cost is visible in the report instead of silently landing on
    // whichever family query happens to run first.
    // The OS load average at both ends of the run rides along, like each
    // entry's process CPU time, so a loaded machine is detectable in the
    // artifact itself.
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val entries = new Entries(Profile.attach(spark))
    // A SPARK_GRAFT_QUERIES name the registry lacks is failed too.
    only.foreach(_.diff(SparkEntry.queries.keySet).toSeq.sorted
      .foreach(entries.failed(_) = "not registered"))
    val selectedNames = selected.map(_._1).toSet
    // stage TEMPERATURE: the same staging entry costs ~seconds cold (first
    // build for this corpus version) and ~nothing warm (committed warehouse
    // tables reused — the designed cross-JVM amortization). The artifact
    // records which one this run measured, so round-over-round totals stay
    // comparable. Staging builds are scoped to the selection.
    val stagingCold = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]
    def stage(name: String, needed: Boolean, ready: => Boolean)(
        build: => Unit): Seq[(String, Double, Double)] =
      if (!needed) Seq.empty
      else { stagingCold(name) = !ready; entries(name)(build).toSeq }
    val staging =
      stage("m6_stage_base", DedupStaging.stagingFor(selectedNames, ann = false).nonEmpty,
        DedupStaging.isStagedFor(sfDir, selectedNames)) {
        DedupStaging.ensureFor(spark, sfDir, selectedNames)
      } ++
      // the ANN index build (IVF cell table + PQ codebook/codes) is its own
      // release artifact — staged once per corpus version like the text
      // staging, timed separately so search entries measure search alone
      stage("m6_stage_ann", DedupStaging.stagingFor(selectedNames, ann = true).nonEmpty,
        DedupStaging.isAnnStagedFor(sfDir, selectedNames)) {
        DedupStaging.ensureAnnFor(spark, sfDir, selectedNames)
      } ++
      // the bucketed-layout DDL behind j5 is the same one-time-cost shape
      // (always cold in a fresh JVM — the in-memory catalog dies with it)
      stage("j5_stage_buckets", selectedNames.exists(Joins.bucketedReaders),
        Joins.bucketedTablesReady(spark, sfDir)) {
        Joins.ensureBucketedTables(spark, sfDir)
      }
    val results = staging ++ selected.flatMap { case (name, fn) =>
      // noop sink: full evaluation of every output column (a bare count()
      // would let Catalyst prune the projections away), zero write cost.
      val r = entries(name)(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      // per-query cache isolation: operators may persist() shared subplans;
      // dropping them between entries keeps attribution honest and the
      // 90+-query session from accumulating every cache for its lifetime
      spark.catalog.clearCache()
      // GC between entries, OUTSIDE the timed window: 150 queries of session
      // history leave a garbage mountain that parallel-GC threads would
      // otherwise charge (wall AND process-CPU) to whichever multi-job
      // query tips the heap next — measured 4x wall inflation on
      // m6_incremental_commit deep into the full registry vs the identical
      // query in any ~25-query subset. A deployment doesn't run 150
      // unrelated pipelines in one driver; per-query numbers shouldn't
      // bill one query for its predecessors' garbage.
      System.gc()
      r
    }
    val failedJson = entries.failedJson
    val total = results.map(_._2).sum
    val cpuTotal = results.map(_._3).sum
    val coldJson = Profile.obj(stagingCold.toSeq)
    // Subtotals: the streaming drains are fixed RocksDB/checkpoint
    // machinery at test scale and carry nearly all the cross-machine jitter
    // (round-7 A/B: 57–62 s for near-identical code), so round-over-round
    // comparison should read batch_total — the number plan changes actually
    // move — with drain_total and staging_total reported alongside.
    val stagingTotal = staging.map(_._2).sum
    val drainTotal = results.filter(r => SparkEntry.drains(r._1)).map(_._2).sum
    val batchTotal = total - stagingTotal - drainTotal
    val loadEnd = os.getSystemLoadAverage
    // A recording taken under external load is machine noise, not plan cost:
    // the artifact carries its own contention verdict so a loaded recording
    // can never masquerade as a regression (or an improvement). The verdict
    // keys on the gate-exit sample (external load, before this JVM's own
    // session-init burst); load_avg_start (post-init) is kept alongside so
    // older artifacts stay comparable.
    val contended = loadGate >= 2.0
    val json = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""batch_total":$batchTotal,"drain_total":$drainTotal,""" +
      s""""staging_total":$stagingTotal,""" +
      s""""queries":${Profile.obj(results.map(r => r._1 -> r._2))},""" +
      s""""cpu_sec":${Profile.obj(results.map(r => r._1 -> r._3))},""" +
      s""""failed":$failedJson,""" +
      s""""staging_cold":$coldJson,""" +
      s""""cpu_total":$cpuTotal,"load_avg_gate":$loadGate,""" +
      s""""load_avg_start":$loadStart,""" +
      s""""load_avg_end":$loadEnd,"contended":$contended,"sf":"$sfDir"}"""
    // The full per-query map is ~10 KB at 229 entries and the driver's
    // stdout capture keeps ~2000 chars, which used to cut the line mid-map
    // and leave the round artifact unparseable (r17 verdict #7). Line 1 is
    // therefore a COMPACT, self-contained summary — every scalar plus the
    // top-30 slowest entries, guaranteed under the capture budget — and
    // the FULL json follows as line 2 plus the committable file below.
    val top = results.sortBy(-_._2).take(30)
    val fullOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "BENCH_DRIVER_LAST.json")
    // the profile sidecar sits next to the full map, under the same rule
    val profileOut = fullOut.stripSuffix(".json") + ".profile.json"
    val compact = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""batch_total":$batchTotal,"drain_total":$drainTotal,""" +
      s""""staging_total":$stagingTotal,"cpu_total":$cpuTotal,""" +
      s""""n_entries":${results.size},"load_avg_gate":$loadGate,""" +
      s""""contended":$contended,"sf":"$sfDir",""" +
      s""""queries":${Profile.obj(top.map(r => r._1 -> r._2))},""" +
      s""""queries_omitted":${results.size - top.size},""" +
      s""""failed":$failedJson,""" +
      s""""full_map":"$fullOut"}"""
    println(compact)
    println(json)
    if (contended)
      System.err.println(f"[bench] WARNING load_avg_gate=$loadGate%.2f >= 2:" +
        " wall numbers reflect machine contention; rerun quiet before recording")
    // SPARK_GRAFT_BENCH_OUT persists the full JSON to a committable
    // artifact; when unset (the driver's own runs) it defaults to
    // BENCH_DRIVER_LAST.json in the repo so the full map still lands in a
    // file the round can commit. The default path is CWD-relative, so it
    // only fires when CWD is a repo root (build.sbt present) — an ad-hoc
    // run from elsewhere skips the write instead of scattering artifacts
    // (r18 ADVICE); stdout line 2 still carries the full JSON either way.
    val defaultOutOk = sys.env.contains("SPARK_GRAFT_BENCH_OUT") ||
      java.nio.file.Files.exists(java.nio.file.Paths.get("build.sbt"))
    if (!defaultOutOk)
      System.err.println(s"[bench] skipping default $fullOut write: CWD is " +
        "not a repo root (set SPARK_GRAFT_BENCH_OUT to persist the full map)")
    // a bad path must not fail the run AFTER all measurements completed —
    // the stdout JSON above is already the primary record
    if (defaultOutOk) Seq(fullOut -> (json + "\n"), profileOut -> entries.sidecar(results))
      .foreach { case (p, text) =>
        try {
          val path = java.nio.file.Paths.get(p)
          Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
          java.nio.file.Files.writeString(path, text)
          System.err.println(s"[bench] wrote $p")
        } catch { case e: Throwable =>
          System.err.println(s"[bench] failed to write $p: $e")
        }
      }
    spark.stop()
  }
}
