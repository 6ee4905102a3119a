package graft

import graft.operators.Connectors
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Sink-side semantics the DuckDB oracle can't see: MERGE actions on the
  * parquet target, partition layout + pruning of the S12 writer. */
class ConnectorsSpec extends AnyFunSuite with SparkFixture {
  private val dir = "/root/testdata/sf0.001"

  test("mergeInto is last-write-wins on keys and keeps unmatched rows") {
    import spark.implicits._
    val target = Files.createTempDirectory("merge-test-").toString
    Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "tag", "v")
      .write.mode("overwrite").parquet(target)
    Connectors.mergeInto(spark, target,
      Seq((2L, "b", 99.0), (3L, "c", 30.0)).toDF("k", "tag", "v"), Seq("k"))
    val out = Connectors.readTable(spark, target).as[(Long, String, Double)]
      .collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, "a", 10.0), (2L, "b", 99.0), (3L, "c", 30.0)))
  }

  test("mergeInto is idempotent on batch replay") {
    import spark.implicits._
    val target = Files.createTempDirectory("merge-replay-").toString
    Seq((1L, 1.0)).toDF("k", "v").write.mode("overwrite").parquet(target)
    val batch = Seq((1L, 2.0), (2L, 5.0)).toDF("k", "v")
    Connectors.mergeInto(spark, target, batch, Seq("k"))
    Connectors.mergeInto(spark, target, batch, Seq("k")) // replay
    val out = Connectors.readTable(spark, target).as[(Long, Double)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 2.0), (2L, 5.0)))
  }

  test("unpartitioned merge is readable at every crash point, no manual recovery") {
    import spark.implicits._
    val target = Files.createTempDirectory("merge-crash-").toString
    def read() = Connectors.readTable(spark, target)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    Seq((1L, 1.0)).toDF("k", "v").write.mode("overwrite").parquet(target)

    // crash point 1: a merge died after writing its generation dir but
    // BEFORE the pointer commit — the orphan gen must be invisible. The
    // underscore prefix makes this a CONTRACT, not incidental listing
    // behavior: Spark's hidden-path filter excludes `_`-prefixed children
    // from any root-dir read.
    Seq((1L, 9.0)).toDF("k", "v").write.parquet(s"$target/_gen-111")
    assert(read() == Seq((1L, 1.0)))

    // crash point 2: died mid-pointer-stage (CURRENT.tmp written, rename
    // never happened) — still the old snapshot
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(target, "_CURRENT.tmp"), "_gen-111")
    assert(read() == Seq((1L, 1.0)))

    // a real merge now completes, swallows the update, and sweeps both the
    // orphan generation and the pre-protocol flat files
    Connectors.mergeInto(spark, target, Seq((2L, 5.0)).toDF("k", "v"), Seq("k"))
    assert(read() == Seq((1L, 1.0), (2L, 5.0)))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(target, "_gen-111")))
    val live = java.nio.file.Files.readString(
      java.nio.file.Paths.get(target, "_CURRENT")).trim

    // crash point 3: next merge dies post-commit, pre-sweep — the NEW data
    // is live (commit happened), the old generation is merely unswept
    Seq((1L, 1.0), (2L, 5.0), (3L, 7.0)).toDF("k", "v")
      .write.parquet(s"$target/_gen-999")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(target, "_CURRENT.tmp"), "_gen-999")
    java.nio.file.Files.move(
      java.nio.file.Paths.get(target, "_CURRENT.tmp"),
      java.nio.file.Paths.get(target, "_CURRENT"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(read() == Seq((1L, 1.0), (2L, 5.0), (3L, 7.0)))

    // and the following merge sweeps the superseded generation
    Connectors.mergeInto(spark, target, Seq((4L, 2.0)).toDF("k", "v"), Seq("k"))
    assert(read() == Seq((1L, 1.0), (2L, 5.0), (3L, 7.0), (4L, 2.0)))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(target, live)))
  }

  test("partitioned merge is readable at every crash point and never shows a mixed snapshot") {
    import spark.implicits._
    val target = Files.createTempDirectory("merge-part-crash-").toString
    def read() = Connectors.readTable(spark, target)
      .select("k", "day", "v").as[(Long, String, Double)]
      .collect().sortBy(_._1).toSeq
    Seq((1L, "d1", 10.0), (2L, "d2", 20.0)).toDF("k", "day", "v")
      .write.partitionBy("day").mode("overwrite").parquet(target)
    val old = Seq((1L, "d1", 10.0), (2L, "d2", 20.0))

    // crash point 1: generation dir fully written (new d2 + new d3), no
    // manifest, no pointer — the whole update is invisible, not partially
    // visible the way a directory-by-directory overwrite would be
    Seq((2L, "d2", 99.0), (3L, "d3", 30.0)).toDF("k", "day", "v")
      .write.partitionBy("day").parquet(s"$target/_gen-111")
    assert(read() == old)

    // crash point 2: manifest file written, pointer never flipped
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(target, "_manifest-111"),
      "_gen-111\tday=d2\n_gen-111\tday=d3\n.\tday=d1")
    assert(read() == old)

    // crash point 3: pointer staged but not renamed
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(target, "_CURRENT.tmp"), "_manifest-111")
    assert(read() == old)

    // a real merge now commits: the update becomes visible ATOMICALLY —
    // boundary partition replaced AND new partition added in one flip
    Connectors.mergeInto(spark, target,
      Seq((2L, "d2", 99.0), (3L, "d3", 30.0)).toDF("k", "day", "v"),
      Seq("k", "day"), partitionCol = Some("day"))
    assert(read() == Seq((1L, "d1", 10.0), (2L, "d2", 99.0), (3L, "d3", 30.0)))
    // orphans from the crashed attempt were swept
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(target, "_gen-111")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(target, "_manifest-111")))
    // the superseded flat day=d2 survives the one-commit retention window
    // (an in-flight reader of the old snapshot may still be scanning it)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(target, "day=d2")))

    // the NEXT merge sweeps it; the untouched flat day=d1 stays live forever
    Connectors.mergeInto(spark, target,
      Seq((4L, "d4", 40.0)).toDF("k", "day", "v"),
      Seq("k", "day"), partitionCol = Some("day"))
    assert(read() == Seq((1L, "d1", 10.0), (2L, "d2", 99.0),
      (3L, "d3", 30.0), (4L, "d4", 40.0)))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(target, "day=d2")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(target, "day=d1")))
  }

  test("appendTo publishes increments atomically and reads as the union of members") {
    import spark.implicits._
    val target = Files.createTempDirectory("append-test-").toString + "/t"
    def read() = Connectors.readTable(spark, target)
      .as[(Long, Double)].collect().sortBy(_._1).toSeq
    Connectors.appendTo(spark, target, Seq((1L, 1.0)).toDF("k", "v"))
    assert(read() == Seq((1L, 1.0)))
    // crashed append: orphan generation, no commit — invisible
    Seq((9L, 9.0)).toDF("k", "v").write.parquet(s"$target/_gen-crash")
    assert(read() == Seq((1L, 1.0)))
    Connectors.appendTo(spark, target, Seq((2L, 2.0)).toDF("k", "v"))
    assert(read() == Seq((1L, 1.0), (2L, 2.0)))
    // all committed members survive (append never rewrites old data); the
    // crashed orphan was swept by the successful append's commit
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(target, "_gen-crash")))
    Connectors.appendTo(spark, target, Seq((3L, 3.0)).toDF("k", "v"))
    assert(read() == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
  }

  test("partition-pruned merge rewrites only touched partitions, byte-identically elsewhere") {
    import spark.implicits._
    val target = Files.createTempDirectory("merge-part-").toString
    Seq((1L, "d1", 10.0), (2L, "d2", 20.0)).toDF("k", "day", "v")
      .write.partitionBy("day").mode("overwrite").parquet(target)
    def partFiles(day: String) =
      new java.io.File(s"$target/day=$day").listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .map(f => (f.getName, f.lastModified,
          java.nio.file.Files.readAllBytes(f.toPath).toSeq)).toSeq
    val before = partFiles("d1")
    Connectors.mergeInto(spark, target,
      Seq((2L, "d2", 99.0), (3L, "d3", 30.0)).toDF("k", "day", "v"),
      Seq("k", "day"), partitionCol = Some("day"))
    val out = Connectors.readTable(spark, target).select("k", "day", "v")
      .as[(Long, String, Double)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, "d1", 10.0), (2L, "d2", 99.0), (3L, "d3", 30.0)))
    // the untouched partition's files were neither rewritten nor re-stamped
    assert(partFiles("d1") == before)
  }

  test("randomized merge/append sequences with injected crash debris never diverge from the model") {
    import spark.implicits._
    val rnd = new scala.util.Random(42) // seeded: failures reproduce
    def debris(target: String): Unit = rnd.nextInt(4) match {
      case 0 => // orphan generation from a crashed commit
        Seq((999L, "zz", -1.0)).toDF("k", "day", "v")
          .write.mode("overwrite").parquet(s"$target/_gen-${rnd.nextInt(1000)}crash")
      case 1 => // staged-but-unrenamed pointer
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(target, "_CURRENT.tmp"), "_gen-bogus")
      case 2 => // orphan manifest naming a dir that never finished
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(target, s"_manifest-${rnd.nextInt(1000)}crash"),
          "_gen-bogus\tday=zz")
      case _ => ()
    }

    // unpartitioned last-write-wins merge vs a Map model
    val t1 = Files.createTempDirectory("prop-merge-").toString
    var m1 = Map(0L -> 0.0)
    Seq((0L, 0.0)).toDF("k", "v").write.mode("overwrite").parquet(t1)
    for (_ <- 1 to 8) {
      debris(t1)
      val batch = (0 until 1 + rnd.nextInt(3))
        .map(_ => rnd.nextInt(6).toLong -> rnd.nextInt(100).toDouble).toMap
      Connectors.mergeInto(spark, t1, batch.toSeq.toDF("k", "v"), Seq("k"))
      m1 = m1 ++ batch
      val got = Connectors.readTable(spark, t1).as[(Long, Double)].collect().toMap
      assert(got == m1, s"unpartitioned merge diverged: $got vs $m1")
    }

    // partitioned merge vs a Map model keyed (k, day)
    val t2 = Files.createTempDirectory("prop-merge-part-").toString
    var m2 = Map((0L, "d0") -> 0.0)
    Seq((0L, "d0", 0.0)).toDF("k", "day", "v")
      .write.partitionBy("day").mode("overwrite").parquet(t2)
    for (_ <- 1 to 8) {
      debris(t2)
      val batch = (0 until 1 + rnd.nextInt(3))
        .map(_ => (rnd.nextInt(5).toLong, s"d${rnd.nextInt(4)}") -> rnd.nextInt(100).toDouble)
        .toMap
      Connectors.mergeInto(spark, t2,
        batch.toSeq.map { case ((k, d), v) => (k, d, v) }.toDF("k", "day", "v"),
        Seq("k", "day"), partitionCol = Some("day"))
      m2 = m2 ++ batch
      val got = Connectors.readTable(spark, t2).select("k", "day", "v")
        .as[(Long, String, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
      assert(got == m2, s"partitioned merge diverged: $got vs $m2")
    }

    // append-only vs a growing list model, with occasional compaction
    val t3 = Files.createTempDirectory("prop-append-").toString + "/t"
    var m3 = List.empty[(Long, Double)]
    for (i <- 1 to 6) {
      if (i > 1) debris(t3)
      val rows = (0 until 1 + rnd.nextInt(3))
        .map(j => (i * 10L + j, rnd.nextInt(100).toDouble))
      Connectors.appendTo(spark, t3, rows.toDF("k", "v"))
      m3 = m3 ++ rows
      if (rnd.nextInt(3) == 0) Connectors.compact(spark, t3) // model-invariant
      val got = Connectors.readTable(spark, t3).as[(Long, Double)].collect().sorted.toList
      assert(got == m3.sorted, s"append diverged: $got vs ${m3.sorted}")
    }
  }

  test("partitioned merge refuses a snapshot it cannot re-point instead of dropping it") {
    import spark.implicits._
    val t = Files.createTempDirectory("merge-guard-").toString + "/t"
    // an UNPARTITIONED generation: a partitioned merge has no fragment
    // entries to carry it into the new manifest — must reject, not lose rows
    Connectors.replaceTable(spark, t, Seq((1L, "d1", 1.0)).toDF("k", "day", "v"))
    val ex = intercept[IllegalArgumentException] {
      Connectors.mergeInto(spark, t, Seq((2L, "d2", 2.0)).toDF("k", "day", "v"),
        Seq("k", "day"), partitionCol = Some("day"))
    }
    assert(ex.getMessage.contains("not partition-mapped"))
    // the documented escape hatch: compact into the partition layout first
    Connectors.compact(spark, t, partitionCol = Some("day"))
    Connectors.mergeInto(spark, t, Seq((2L, "d2", 2.0)).toDF("k", "day", "v"),
      Seq("k", "day"), partitionCol = Some("day"))
    val out = Connectors.readTable(spark, t).select("k", "day", "v")
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, "d1", 1.0), (2L, "d2", 2.0)))
  }

  test("partitioned merge fails fast past the touched-partition cap") {
    import spark.implicits._
    val t = Files.createTempDirectory("merge-cap-").toString + "/t"
    Connectors.replaceTable(spark, t, Seq((1L, "d1", 1.0)).toDF("k", "day", "v"))
    Connectors.compact(spark, t, partitionCol = Some("day"))
    // a per-row-unique "partition" column: row-scale, not partition-scale —
    // must be rejected with a diagnosis, never collected unbounded
    val wide = spark.range(Connectors.MaxTouchedPartitions + 1)
      .select(col("id").as("k"), concat(lit("d"), col("id")).as("day"),
        lit(0.0).as("v"))
    val ex = intercept[IllegalArgumentException] {
      Connectors.mergeInto(spark, t, wide, Seq("k", "day"),
        partitionCol = Some("day"))
    }
    assert(ex.getMessage.contains("distinct 'day' partitions"))
    // the target is untouched by the rejected merge
    assert(Connectors.readTable(spark, t).count() == 1)
  }

  test("compact folds an appended table into one generation without changing contents") {
    import spark.implicits._
    val t = Files.createTempDirectory("compact-test-").toString + "/t"
    (1 to 4).foreach(i =>
      Connectors.appendTo(spark, t, Seq((i.toLong, i * 1.0)).toDF("k", "v")))
    def read() = Connectors.readTable(spark, t).as[(Long, Double)].collect().sorted.toSeq
    val before = read()
    Connectors.compact(spark, t)
    assert(read() == before)
    // the pointer now names a single generation dir (not a manifest)
    val cur = java.nio.file.Files.readString(
      java.nio.file.Paths.get(t, "_CURRENT")).trim
    assert(cur.startsWith("_gen-"))
    // a follow-up commit sweeps the pre-compaction members
    Connectors.appendTo(spark, t, Seq((9L, 9.0)).toDF("k", "v"))
    Connectors.appendTo(spark, t, Seq((10L, 10.0)).toDF("k", "v"))
    val gens = new java.io.File(t).listFiles()
      .count(f => f.getName.startsWith("_gen-"))
    assert(gens == 3, s"expected compacted gen + two appends, got $gens")

    // partitioned compact keeps the layout mergeable
    val tp = Files.createTempDirectory("compact-part-").toString
    Seq((1L, "d1", 1.0), (2L, "d2", 2.0)).toDF("k", "day", "v")
      .write.partitionBy("day").mode("overwrite").parquet(tp)
    Connectors.mergeInto(spark, tp, Seq((2L, "d2", 9.0)).toDF("k", "day", "v"),
      Seq("k", "day"), partitionCol = Some("day"))
    Connectors.compact(spark, tp, partitionCol = Some("day"))
    Connectors.mergeInto(spark, tp, Seq((3L, "d3", 3.0)).toDF("k", "day", "v"),
      Seq("k", "day"), partitionCol = Some("day"))
    val out = Connectors.readTable(spark, tp).select("k", "day", "v")
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, "d1", 1.0), (2L, "d2", 9.0), (3L, "d3", 3.0)))
  }

  test("appendKeyed admits each commit key exactly once, surviving retries and crash debris") {
    import spark.implicits._
    val t = Files.createTempDirectory("keyed-test-").toString + "/t"
    def read() = Connectors.readTable(spark, t).as[(Long, Double)]
      .collect().sorted.toSeq
    val b0 = Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v")
    Connectors.appendKeyed(spark, t, b0, "b0")
    // a foreachBatch retry re-enters with the same key: must be a no-op
    Connectors.appendKeyed(spark, t, b0, "b0")
    assert(read() == Seq((1L, 1.0), (2L, 2.0)), "retried key double-admitted")
    // a new key appends normally
    Connectors.appendKeyed(spark, t, Seq((3L, 3.0)).toDF("k", "v"), "b1")
    assert(read() == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    // crash debris: a half-written generation for a key that never
    // committed must be overwritten by the retry, not double-read
    val debris = java.nio.file.Paths.get(t, "_gen-k-b2")
    Files.createDirectories(debris)
    Files.writeString(debris.resolve("part-junk.parquet"), "not parquet")
    Connectors.appendKeyed(spark, t, Seq((4L, 4.0)).toDF("k", "v"), "b2")
    assert(read() == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)),
      "crashed half-write corrupted the keyed retry")
    // unsafe keys are rejected before touching the table
    intercept[IllegalArgumentException] {
      Connectors.appendKeyed(spark, t, b0, "../escape")
    }
  }

  test("time travel serves the pinned snapshot verbatim; swept refs fail loudly") {
    import spark.implicits._
    val t = Files.createTempDirectory("timetravel-test-").toString + "/t"
    Connectors.appendTo(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "tag"))
    val v1 = Connectors.currentSnapshot(t).get
    Connectors.appendTo(spark, t, Seq((3L, "c")).toDF("k", "tag"))
    // the AS-OF read serves exactly the pinned snapshot's rows, and the
    // current read sees the append
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String)].collect().sorted.toSeq
    assert(rows(Connectors.readTableAsOf(spark, t, v1)) == Seq((1L, "a"), (2L, "b")))
    assert(rows(Connectors.readTable(spark, t)) ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // retention is ONE commit window: after the next commit, v1's manifest
    // is swept and the AS-OF read must fail loudly, never read swept bytes
    Connectors.appendTo(spark, t, Seq((4L, "d")).toDF("k", "tag"))
    intercept[IllegalArgumentException] {
      Connectors.readTableAsOf(spark, t, v1)
    }
    // the one-window-retained ref (the v2 manifest pinned before this last
    // commit) is still readable — that is the window's guarantee
  }

  test("randomized appendKeyed sequences equal the first-write-per-key model under debris") {
    import spark.implicits._
    val rnd = new scala.util.Random(1137) // seeded: failures reproduce
    val t = Files.createTempDirectory("prop-keyed-").toString + "/t"
    var model = Map.empty[String, Seq[Long]] // key -> the FIRST rows committed under it
    (1 to 25).foreach { i =>
      val key = s"b${rnd.nextInt(8)}" // collisions on purpose: retries + replays
      val rows = Seq.fill(1 + rnd.nextInt(3))(rnd.nextLong())
      // crash debris: an uncommitted half-write under a NOT-YET-COMMITTED
      // key must never surface rows or block the later commit. (Debris
      // under a committed key cannot occur: appendKeyed checks membership
      // before writing, so a retry of a committed key never touches disk.)
      val debrisKey = s"b${rnd.nextInt(8)}"
      if (rnd.nextInt(3) == 0 && !model.contains(debrisKey)) {
        val g = java.nio.file.Paths.get(t, s"_gen-k-$debrisKey")
        Files.createDirectories(g)
        Files.writeString(g.resolve("part-crash.parquet"), "junk")
      }
      Connectors.appendKeyed(spark, t, rows.toDF("v"), key)
      if (!model.contains(key)) model += key -> rows
      if (i % 5 == 0) {
        val got = Connectors.readTable(spark, t).as[Long].collect().sorted.toSeq
        val want = model.values.flatten.toSeq.sorted
        assert(got == want, s"step $i: table ${got.length} rows, model ${want.length}")
      }
    }
  }

  test("partitioned output lays out one compacted file per day and prunes on read") {
    val out = Files.createTempDirectory("part-test-").toString
    operators.WindowAggregates.dailyMart(spark, dir)
      .repartition(col("day"))
      .write.partitionBy("day").mode("overwrite").parquet(out)
    val dayDirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("day="))
    assert(dayDirs.nonEmpty)
    // "coalesce small files": exactly one data file per partition dir
    dayDirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${d.getName}: ${files.length} files")
    }
    // a day-filtered read plans only that day's partition (pruning)
    val one = spark.read.parquet(out).filter(col("day") === lit("2024-01-05"))
    val scan = one.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("day"))
    assert(one.count() > 0)
  }

  test("readTable rejects a mixed or malformed manifest instead of dropping rows") {
    import spark.implicits._
    val target = Files.createTempDirectory("manifest-guard-").toString
    Seq((1L, 1.0)).toDF("k", "v").write.parquet(s"$target/_gen-1/day=a")
    Seq((2L, 2.0)).toDF("k", "v").write.parquet(s"$target/_gen-2")
    def commit(lines: String*): Unit = {
      Files.writeString(java.nio.file.Paths.get(target, "_manifest-1"),
        lines.mkString("\n"))
      Files.writeString(java.nio.file.Paths.get(target, "_CURRENT"), "_manifest-1")
    }
    // same relDir appearing both whole-dir and fragment-scoped would read
    // only the fragment and silently lose the whole-dir member's rows
    commit("_gen-1\tday=a", "_gen-1")
    val mixed = intercept[IllegalStateException] {
      Connectors.readTable(spark, target).collect()
    }
    assert(mixed.getMessage.contains("mixes whole-dir and fragment"))
    // a line with two tabs is not a protocol shape — loud, not MatchError
    commit("_gen-2\tday=a\textra")
    val malformed = intercept[IllegalStateException] {
      Connectors.readTable(spark, target).collect()
    }
    assert(malformed.getMessage.contains("malformed manifest line"))
    // distinct relDirs with distinct roles still compose fine (the
    // fragment member contributes its partition column, whole-dir reads
    // null there)
    commit("_gen-1\tday=a", "_gen-2")
    assert(Connectors.readTable(spark, target).select("k").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("s19: the z-order layout confines a 2-dim box to few files; a 1-dim layout spreads it everywhere") {
    val (plo, phi, slo, shi) = Connectors.zorderBox(spark, dir)
    def box = col("l_partkey").between(plo, phi) && col("l_suppkey").between(slo, shi)
    def filesTouched(path: String): Long =
      spark.read.parquet(path).filter(box)
        .select(input_file_name()).distinct().count()
    val z = Connectors.zorderTable(spark, dir, files = 64)
    val zTouched = filesTouched(z)
    // control: same rows, same file count, laid out by ingest order
    // (l_orderkey) — both box dimensions are uniform WITHIN every file, so
    // every file's min/max envelope intersects the box and nothing prunes
    // (swept scratch dir — repeated test runs must not accumulate in /tmp)
    val ctl = Connectors.scratchCatalog("graft-zorder-ctl-")
    Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_returnflag")
      .repartitionByRange(64, col("l_orderkey"))
      .write.mode("overwrite").parquet(ctl)
    val cTouched = filesTouched(ctl)
    // ~75 of 6000 rows match at sf0.001; contiguous along the curve they fit
    // a handful of ~94-row files, scattered by orderkey they hit nearly all
    assert(spark.read.parquet(z).filter(box).count() > 0)
    assert(zTouched <= 12, s"z-layout touched $zTouched of 64 files")
    assert(cTouched >= 30, s"control layout touched only $cTouched of 64 files")
    assert(cTouched >= 3 * zTouched,
      s"expected a sharp clustering contrast: z=$zTouched control=$cTouched")
    // the layout never changes an answer: identical box rows either way
    val zRows = spark.read.parquet(z).filter(box)
    val cRows = spark.read.parquet(ctl).filter(box)
    assert(zRows.exceptAll(cRows).isEmpty && cRows.exceptAll(zRows).isEmpty)
  }

  test("s20: OPTIMIZE ZORDER restores box pruning on an append-fragmented table") {
    val (plo, phi, slo, shi) = Connectors.zorderBox(spark, dir)
    def box = col("l_partkey").between(plo, phi) && col("l_suppkey").between(slo, shi)
    val target = Connectors.scratchCatalog("graft-zopt-spec-")
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey",
      "l_suppkey", "l_quantity", "l_extendedprice", "l_returnflag")
    (0 to 2).foreach { i =>
      Connectors.appendTo(spark, target,
        li.filter(pmod(col("l_orderkey"), lit(3)) === i))
    }
    def touched = Connectors.readTable(spark, target).filter(box)
      .select(input_file_name()).distinct().count()
    def total = Connectors.readTable(spark, target)
      .select(input_file_name()).distinct().count()
    // appended state: arrival order spreads both dimensions across every
    // member file — the box touches (nearly) everything
    val (beforeTouched, beforeTotal) = (touched, total)
    assert(beforeTouched >= beforeTotal / 2,
      s"append-fragmented box read should hit most files: $beforeTouched/$beforeTotal")
    val pre = Connectors.readTable(spark, target).filter(box)
    val preRows = pre.collect().length
    Connectors.compactZorder(spark, target, "l_partkey", "l_suppkey", files = 64)
    // the rewrite owns one generation, and the box confines to a handful
    assert(Connectors.currentSnapshot(target).exists(_.startsWith("_gen-")),
      "OPTIMIZE ZORDER must commit a single owned generation")
    // one range per core, each split into files of at most ⌈rows / 64⌉
    // rows: 64 files, plus at most one part-filled file per range beyond
    // the first
    val cores = spark.sparkContext.defaultParallelism
    assert(total >= 64L && total <= 64L + cores - 1,
      s"expected 64 to ${64 + cores - 1} rewritten files, saw $total")
    assert(touched <= 12, s"z-rewritten box read touched $touched of $total files")
    // the layout verb never changes an answer
    assert(Connectors.readTable(spark, target).filter(box).count() == preRows)
  }

  test("s20: OPTIMIZE ZORDER on an empty table is a pass-through, not an NPE") {
    import spark.implicits._
    val target = Connectors.scratchCatalog("graft-zopt-empty-")
    Connectors.appendTo(spark, target,
      Seq.empty[(Long, Long)].toDF("l_partkey", "l_suppkey"))
    Connectors.compactZorder(spark, target, "l_partkey", "l_suppkey", files = 4)
    assert(Connectors.readTable(spark, target).count() == 0)
  }

  test("s20: OPTIMIZE ZORDER with one all-null dimension passes through (r16 ADVICE)") {
    import spark.implicits._
    // non-empty frame, yCol entirely null: the x envelope exists but the y
    // envelope is (null, null) — must pass through, not NPE on the bounds
    val target = Connectors.scratchCatalog("graft-zopt-nully-")
    Connectors.appendTo(spark, target,
      Seq((1L, Option.empty[Long]), (2L, Option.empty[Long]), (3L, None))
        .toDF("l_partkey", "l_suppkey"))
    Connectors.compactZorder(spark, target, "l_partkey", "l_suppkey", files = 4)
    assert(Connectors.readTable(spark, target).count() == 3)
    // and null keys inside a NON-degenerate frame still lay out (null _z
    // sorts first — no special case, no NPE)
    val mixed = Connectors.scratchCatalog("graft-zopt-mixed-")
    Connectors.appendTo(spark, mixed,
      Seq((1L, Option(5L)), (2L, None), (3L, Option(9L)))
        .toDF("l_partkey", "l_suppkey"))
    Connectors.compactZorder(spark, mixed, "l_partkey", "l_suppkey", files = 2)
    assert(Connectors.readTable(spark, mixed).count() == 3)
  }

  test("kafka envelope serializes gated rows only, keyed and partitioned by sensor") {
    val env = Connectors.kafkaEnvelope(spark, dir)
    val gate = operators.Validation.producerGate(spark, dir).count()
    assert(env.count() == gate)
    assert(env.filter(col("kafka_partition") < 0 || col("kafka_partition") > 2).count() == 0)
    // same key always lands in the same partition
    assert(env.groupBy("key").agg(countDistinct("kafka_partition").as("n"))
      .filter(col("n") > 1).count() == 0)
  }
}
