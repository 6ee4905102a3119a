package graft

import graft.operators.{Connectors, DedupStaging}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

/** The staging warehouse's durability contract: build-once across JVMs
  * (simulated by clearing the in-JVM memo), content-fingerprint
  * invalidation when the fixture is regenerated, and the zero-copy external
  * member reference the incremental catalog is built on. */
class DedupStagingSpec extends AnyFunSuite with SparkFixture {

  test("staged tables are reused across sessions and invalidated by fixture changes") {
    // a private fixture copy — the real testdata is read-only and shared
    val fix = Files.createTempDirectory("staging-fix-").toString
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      Paths.get(fix, "documents.parquet"), StandardCopyOption.COPY_ATTRIBUTES)

    DedupStaging.resetMemo()
    val n1 = DedupStaging.shingleBase(spark, fix).count()
    val table = DedupStaging.tablePath(fix, "shingle3")
    val gen1 = Files.readString(Paths.get(table, "_CURRENT")).trim

    // "second JVM": no memo, same warehouse — must read the committed
    // table without rebuilding (the pointer still names the same gen)
    DedupStaging.resetMemo()
    assert(DedupStaging.shingleBase(spark, fix).count() == n1)
    assert(Files.readString(Paths.get(table, "_CURRENT")).trim == gen1)

    // regenerated fixture (same path, new mtime) → new fingerprint → a
    // DIFFERENT table path; the stale version is swept on the new build
    Files.setLastModifiedTime(Paths.get(fix, "documents.parquet"),
      FileTime.fromMillis(System.currentTimeMillis() + 60000))
    DedupStaging.resetMemo()
    val table2 = DedupStaging.tablePath(fix, "shingle3")
    assert(table2 != table, "fingerprint must change with the fixture")
    assert(DedupStaging.shingleBase(spark, fix).count() == n1)
    assert(Connectors.isCommitted(table2))
    assert(!Files.exists(Paths.get(table).getParent), "stale fixture version swept")
  }

  /** A private copy of the sf0.1 embeddings — fresh fingerprint, fresh
    * warehouse table, so the layout under test is the one THIS code
    * commits — and the task count of every stage of its ivf_cells build
    * that wrote output. */
  private lazy val zivf: (String, Seq[Int]) = {
    import org.apache.spark.GraftBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    val fix = Files.createTempDirectory("staging-zivf-").toString
    Files.copy(Paths.get("/root/testdata/sf0.1/embeddings.parquet"),
      Paths.get(fix, "embeddings.parquet"), StandardCopyOption.COPY_ATTRIBUTES)
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val sc = spark.sparkContext
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.taskMetrics.outputMetrics.bytesWritten > 0)
          writes.add(e.stageInfo.numTasks)
    }
    GraftBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      DedupStaging.resetMemo()
      DedupStaging.ivfCells(spark, fix)
      GraftBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    (fix, writes.asScala.toSeq)
  }

  test("ivf_cells stages z-laid-out: cell probes AND vec_id ranges read few files") {
    import org.apache.spark.sql.functions._
    val fix = zivf._1
    DedupStaging.resetMemo()
    val cells = DedupStaging.ivfCells(spark, fix)
    def touched(df: org.apache.spark.sql.DataFrame) =
      df.select(input_file_name()).distinct().count()
    val total = touched(cells)
    // serving-path read: an nprobe=2 probe confines to two cells, the two
    // smallest ids — a pick that does not follow file order
    val twoCells = cells.select("cell").distinct().orderBy("cell").limit(2)
      .collect().map(_.getLong(0))
    val probe = touched(cells.filter(col("cell").isin(twoCells.map(Long.box): _*)))
    // lifecycle read: a vec_id range (the forget/compact tombstone shape)
    val env = cells.agg(min("vec_id").cast("long"), max("vec_id").cast("long")).head()
    val (lo, hi) = (env.getLong(0), env.getLong(1))
    val range = touched(cells.filter(col("vec_id") <= lo + (hi - lo) / 8))
    info(s"files: total=$total probe2cells(${twoCells.mkString(",")})=$probe vecRange=$range")
    // measured on the deterministic sf0.1 fixture: 19 and 11 of 64; the
    // pins carry slack for range-partitioner sampling variance. The point
    // is BOTH patterns confine at once — a 1-dim cell sort would serve the
    // probe perfectly and spread every vec_id range across all 64 files.
    assert(total >= 32, s"layout should spread across files, saw $total")
    assert(probe <= 28, s"2-cell probe touched $probe of $total files")
    assert(range <= 20, s"vec_id range read touched $range of $total files")
  }

  test("ivf_cells is written by one task per core into z-contiguous files") {
    import org.apache.spark.sql.functions._
    val (fix, writeStages) = zivf
    val cores = spark.sparkContext.defaultParallelism
    assert(writeStages.nonEmpty, "the build wrote nothing")
    assert(writeStages.forall(_ <= cores),
      s"write stages ran ${writeStages.mkString(", ")} tasks on $cores cores")
    DedupStaging.resetMemo()
    val cells = DedupStaging.ivfCells(spark, fix)
    val env = operators.Similarity.ivfLayoutEnvelope(spark, fix).get
    // each file's z span, in file-name order: the spans must not overlap
    val spans = cells
      .select(input_file_name().as("f"),
        Connectors.zkey(col("cell"), col("vec_id"), env).as("z"))
      .groupBy("f").agg(min("z"), max("z")).collect()
      .map(r => (Paths.get(new java.net.URI(r.getString(0))).getFileName.toString,
        r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(spans.length >= 64 && spans.length <= 64 + cores - 1,
      s"expected 64 to ${64 + cores - 1} files, saw ${spans.length}")
    spans.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 <= b._2, s"${a._1} (z ≤ ${a._3}) overlaps ${b._1} (z ≥ ${b._2})")
    }
  }

  test("a live build heartbeats its lock so stale-lock breaking never hits it") {
    // a slow build must keep bumping the lock's mtime: staleness is judged
    // on mtime, so without the heartbeat any build longer than LockStaleMs
    // gets its lock broken and its in-flight generation swept mid-build
    val fix = Files.createTempDirectory("staging-beat-").toString
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      Paths.get(fix, "documents.parquet"), StandardCopyOption.COPY_ATTRIBUTES)
    val lock = Paths.get(DedupStaging.tablePath(fix, "shingle3") + ".building")
    val prev = DedupStaging.lockBeatMs
    DedupStaging.lockBeatMs = 50L
    try {
      @volatile var stop = false
      @volatile var firstSeen = -1L
      @volatile var lastSeen = -1L
      val watcher = new Thread(() =>
        while (!stop) {
          try if (Files.exists(lock)) {
            val mt = Files.getLastModifiedTime(lock).toMillis
            if (firstSeen < 0) firstSeen = mt
            lastSeen = mt
          } catch { case _: Exception => () }
          Thread.sleep(10)
        })
      watcher.start()
      DedupStaging.resetMemo()
      DedupStaging.shingleBase(spark, fix).count() // real multi-second build
      stop = true
      watcher.join()
      assert(firstSeen > 0, "watcher must have observed the lock")
      assert(lastSeen > firstSeen,
        s"lock mtime never advanced ($firstSeen): heartbeat not running")
      assert(!Files.exists(lock), "lock released after the build")
    } finally DedupStaging.lockBeatMs = prev
  }

  test("external member refs are zero-copy and compose with appends") {
    import spark.implicits._
    val base = Files.createTempDirectory("ref-base-").toString + "/t"
    Connectors.replaceTable(spark, base, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val dataDir = Files.readString(Paths.get(base, "_CURRENT")).trim

    val cat = Files.createTempDirectory("ref-cat-").toString + "/c"
    Connectors.appendMemberRef(spark, cat, s"$base/$dataDir")
    // zero-copy: the ref commit wrote METADATA only — not one data file
    def catParquet() = {
      val walk = Files.walk(Paths.get(cat))
      try walk.toArray.map(_.toString).count(_.endsWith(".parquet"))
      finally walk.close()
    }
    assert(catParquet() == 0)
    assert(Connectors.readTable(spark, cat).count() == 2)

    Connectors.appendTo(spark, cat, Seq((3L, "c")).toDF("k", "v"))
    val out = Connectors.readTable(spark, cat)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // the append added only its own generation's files
    assert(catParquet() > 0)
    // the base table is untouched and still reads on its own
    assert(Connectors.readTable(spark, base).count() == 2)
  }
}
