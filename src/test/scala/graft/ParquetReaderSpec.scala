package graft

import graft.operators.Connectors
import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

/** The schema-pinned parquet reader (`Tables.parquet`): a repeated read
  * launches no schema-inference job, a rewritten table is inferred again,
  * every Connectors writer seeds exactly the schema inference would give,
  * and no read in `src/main` goes around the reader. */
class ParquetReaderSpec extends AnyFunSuite with SparkFixture {
  // jobs started on THIS thread while a probe runs, tagged with a local
  // property — immune to jobs other suites sharing the session start
  private val probeKey = "graft.test.jobProbe"
  private val probeJobs = new AtomicInteger(0)
  private lazy val probeListener: Unit =
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(probeKey) != null))
          probeJobs.incrementAndGet()
    })

  private def jobsDuring(f: => Any): Int = {
    probeListener
    val sc = spark.sparkContext
    GraftBus.drain(sc)
    val before = probeJobs.get()
    sc.setLocalProperty(probeKey, "on")
    try f finally sc.setLocalProperty(probeKey, null)
    GraftBus.drain(sc)
    probeJobs.get() - before
  }

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  test("a warm read of a fixture, a staged table or a compacted append launches no job") {
    import spark.implicits._
    // a private fixture dir, read by the loader every registered query
    // starts from
    val dir = tmp("reader-fixture-")
    Seq((1L, "en", 29, "the quick brown fox jumps over"),
        (2L, "en", 31, "the quick brown fox sleeps all day"))
      .toDF("doc_id", "lang", "n_chars", "text")
      .write.parquet(s"$dir/documents.parquet")
    Tables.load(spark, dir, "documents").schema
    assert(jobsDuring(Tables.load(spark, dir, "documents").schema) == 0)

    // staged table, read through its committed snapshot
    operators.DedupStaging.shingleBase(spark, dir)
    val staged = operators.DedupStaging.tablePath(dir, "shingle3")
    Connectors.readTable(spark, staged).schema
    assert(jobsDuring(Connectors.readTable(spark, staged).schema) == 0)

    // appended then compacted: the commits seed the new generations, so
    // even the first read of each infers nothing
    val t = tmp("reader-compact-")
    Connectors.appendTo(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    Connectors.appendTo(spark, t, Seq((3L, "c")).toDF("k", "v"))
    assert(jobsDuring(Connectors.readTable(spark, t).schema) == 0)
    Connectors.compact(spark, t)
    assert(jobsDuring(Connectors.readTable(spark, t).schema) == 0)
    assert(jobsDuring(Connectors.readTable(spark, t).schema) == 0)
    assert(Connectors.readTable(spark, t).as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("snapshot reads of generations and external members log no ignored-paths WARN") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import spark.implicits._
    // Spark logs it from DataSource's path check, once per read whose root
    // names are all hidden — every `_gen-*` dir
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.execution.datasources.DataSource").asInstanceOf[CoreLogger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val probe = new AbstractAppender("ignored-paths-probe", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("All paths were ignored"))
          seen.add(e.getMessage.getFormattedMessage)
    }
    def warnings(f: => Any): Int = {
      seen.clear()
      val level = logger.getLevel
      probe.start()
      logger.addAppender(probe)
      logger.setLevel(Level.WARN)
      try f finally { logger.removeAppender(probe); logger.setLevel(level) }
      seen.size
    }
    val gen = tmp("reader-warn-gen-")
    Connectors.replaceTable(spark, gen, Seq((1L, "a")).toDF("k", "v"))
    val cat = tmp("reader-warn-cat-")
    Connectors.appendMemberRef(spark, cat, Connectors.memberDataDirs(gen).head)
    Connectors.appendTo(spark, cat, Seq((2L, "b")).toDF("k", "v"))
    // the probe hears the warning where it is still logged: a plain read
    assert(warnings(Tables.parquet(spark, Connectors.memberDataDirs(gen).head)) == 1)
    assert(warnings {
      assert(Connectors.readTable(spark, gen).count() == 1)
      assert(Connectors.readTable(spark, cat).count() == 2)
      // the incremental reference read over several member dirs at once
      assert(Tables.memberDirs(spark, Connectors.memberDataDirs(cat): _*).count() == 2)
    } == 0)
  }

  test("a path rewritten with a different schema is read with the new schema") {
    import spark.implicits._
    val p = tmp("reader-rewrite-")
    Seq((1L, "a")).toDF("k", "v").write.mode("overwrite").parquet(p)
    assert(Tables.parquet(spark, p).columns.toSeq == Seq("k", "v"))
    Seq((2.5, 7, true)).toDF("x", "y", "z").write.mode("overwrite").parquet(p)
    val again = Tables.parquet(spark, p)
    assert(again.schema == spark.read.parquet(p).schema)
    assert(again.columns.toSeq == Seq("x", "y", "z"))
    assert(again.as[(Double, Int, Boolean)].collect().toSeq == Seq((2.5, 7, true)))
  }

  test("a missing path fails as a plain read does, and is not cached") {
    val missing = s"${tmp("reader-missing-")}/absent"
    val plain = intercept[Exception](spark.read.parquet(missing))
    val pinned = intercept[Exception](Tables.parquet(spark, missing))
    assert(pinned.getClass == plain.getClass)
    assert(pinned.getMessage == plain.getMessage)
    import spark.implicits._
    Seq((1L, "a")).toDF("k", "v").write.parquet(missing)
    assert(Tables.parquet(spark, missing).columns.toSeq == Seq("k", "v"))
  }

  // non-nullable leaves and containers, plus the types whose parquet
  // round trip is easiest to get wrong
  private def wide(ids: Range, tag: String): DataFrame = spark.sql(
    s"""SELECT id AS k, CAST(id % 2 AS INT) AS part,
       |  date_format(date_add(DATE'2024-01-01', CAST(id % 3 AS INT)), 'yyyy-MM-dd') AS day,
       |  array(id, id + 1) AS arr,
       |  named_struct('a', id, 'b', array(named_struct('c', '$tag'))) AS st,
       |  map('x', id, 'y', id * 2) AS m,
       |  CAST(id AS DECIMAL(12, 3)) AS dec,
       |  CAST(concat('2024-01-01 00:00:0', id) AS TIMESTAMP_NTZ) AS ntz
       |FROM range(${ids.start}, ${ids.end})""".stripMargin)

  /** Asserts the memo holds, for the read of `paths`, exactly the schema a
    * plain inferring read returns: the pinned read runs no job and its
    * schema equals the inferred one. */
  private def assertSeeded(what: String, paths: Seq[String],
      basePath: Option[String] = None): Unit = {
    var pinned: StructType = null
    val jobs = jobsDuring {
      pinned = basePath.fold(Tables.parquet(spark, paths: _*))(
        Tables.parquetFragments(spark, _, paths)).schema
    }
    val reader = basePath.fold(spark.read)(spark.read.option("basePath", _))
    val inferred = reader.parquet(paths: _*).schema
    assert(jobs == 0, s"$what: the first read of the new generation inferred its schema")
    assert(pinned == inferred, s"$what: seeded ${pinned.treeString} != inferred ${inferred.treeString}")
  }

  private def generation(t: String): String = {
    val ref = Connectors.currentSnapshot(t).get
    assert(ref.startsWith("_gen-"), s"$t: expected a generation pointer, got $ref")
    s"$t/$ref"
  }

  /** Every (base dir → sorted fragment paths) read of a manifest snapshot. */
  private def manifestReads(t: String): Map[String, Seq[String]] = {
    import scala.jdk.CollectionConverters._
    val ref = Connectors.currentSnapshot(t).get
    Files.readAllLines(Paths.get(t, ref)).asScala.toSeq.filter(_.nonEmpty)
      .map(_.split('\t')).groupBy(_(0)).map { case (rel, lines) =>
        val base = s"$t/$rel"
        base -> lines.map(l => s"$base/${l(1)}").sorted
      }
  }

  test("every Connectors writer seeds the schema inference would give its generation") {
    val rows = wide(0 until 6, "r")

    val app = tmp("seed-append-")
    Connectors.appendTo(spark, app, rows)
    Connectors.appendTo(spark, app, wide(6 until 9, "s"))
    Connectors.memberDataDirs(app).foreach(m => assertSeeded("appendTo", Seq(m)))

    val keyed = tmp("seed-keyed-")
    Connectors.appendKeyed(spark, keyed, rows, "b0")
    Connectors.appendKeyed(spark, keyed, wide(6 until 9, "s"), "b1")
    Connectors.memberDataDirs(keyed).foreach(m => assertSeeded("appendKeyed", Seq(m)))

    val repl = tmp("seed-replace-")
    Connectors.replaceTable(spark, repl, rows)
    assertSeeded("replaceTable", Seq(generation(repl)))

    Connectors.compact(spark, app)
    assertSeeded("compact", Seq(generation(app)))

    // partition discovery types `day` as a DATE, not the written string
    Connectors.compact(spark, keyed, partitionCol = Some("day"))
    assertSeeded("compact by day", Seq(generation(keyed)))
    assert(Tables.parquet(spark, generation(keyed)).schema("day").dataType ==
      org.apache.spark.sql.types.DateType)

    Connectors.compactZorder(spark, repl, "k", "part", files = 2)
    assertSeeded("compactZorder", Seq(generation(repl)))

    val merged = tmp("seed-merge-")
    Connectors.replaceTable(spark, merged, rows)
    Connectors.mergeInto(spark, merged, wide(4 until 8, "u"), Seq("k"))
    assertSeeded("mergeInto", Seq(generation(merged)))

    // partitioned merge: the new generation is read as the fragments the
    // manifest maps to it, under its own dir as base path
    val pmerge = tmp("seed-pmerge-")
    Connectors.replaceTable(spark, pmerge, rows)
    Connectors.compact(spark, pmerge, partitionCol = Some("part"))
    val before = generation(pmerge)
    Connectors.mergeInto(spark, pmerge, wide(4 until 8, "u").filter("part = 1"),
      Seq("k", "part"), partitionCol = Some("part"))
    val reads = manifestReads(pmerge)
    val fresh = reads.keys.filterNot(_ == before).toSeq
    assert(fresh.size == 1, s"expected one new generation in $reads")
    assertSeeded("partitioned mergeInto", reads(fresh.head), Some(fresh.head))
    assert(Connectors.readTable(spark, pmerge).count() == 7)
  }

  /** A parquet read chain: `.read`, then any options or schema, then
    * `.parquet(`, across line breaks. */
  private val readChain =
    """\.read\s*(?:\.\s*(?:option|options|schema)\s*\((?:[^()]|\([^()]*\))*\)\s*)*\.\s*parquet\s*\(""".r
  /** A DataFrameReader held in a val, to be finished somewhere else. */
  private val heldReader = """val\s+\w+\s*=\s*[\w.]*\.read\b(?!Stream)""".r

  test("no parquet read in src/main goes around Tables.parquet") {
    // the patterns see the shapes the reader replaced
    for (src <- Seq("spark.read.parquet(p)", "spark.read.parquet(dirs: _*)",
        "spark.read.option(\"basePath\", base)\n  .parquet(f: _*)",
        "spark.read\n  .schema(s)\n  .option(\"a\", f(x))\n  .parquet(p)"))
      assert(readChain.findFirstIn(src).isDefined, src)
    assert(heldReader.findFirstIn("val r = spark.read").isDefined)
    assert(heldReader.findFirstIn("val r = spark.readStream").isEmpty)

    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val walk = Files.walk(root)
    val files = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    } finally walk.close()
    val offenders = files.flatMap { f =>
      val text = Files.readString(f)
      val chains = readChain.findAllMatchIn(text)
        // inferring across every file IS the point of schemaEvolution's read
        .filterNot(m => f.endsWith("operators/Connectors.scala") &&
          m.matched.contains("\"mergeSchema\", \"true\""))
      val held = heldReader.findAllMatchIn(text)
        .filterNot(_ => f.endsWith("graft/Tables.scala"))
      (chains ++ held).map { m =>
        val line = text.substring(0, m.start).count(_ == '\n') + 1
        s"$f:$line: ${m.matched.replaceAll("\\s+", " ")}"
      }
    }
    assert(offenders.isEmpty,
      s"parquet reads that bypass Tables.parquet:\n${offenders.mkString("\n")}")
  }
}
