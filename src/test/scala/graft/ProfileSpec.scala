package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.streaming.StreamingJobs
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The bench profile: one listener per session, one span per bench entry,
  * every event charged to the entry that caused it, and the sidecar record
  * that only a timed entry gets. */
class ProfileSpec extends AnyFunSuite with SparkFixture {
  private val fixture = "/root/testdata/sf0.001"

  /** Run `f` with the session's profile attached, detached afterwards. */
  private def withProfile[A](f: Profile => A): A = {
    val p = Profile.attach(spark)
    try f(p) finally p.detach()
  }

  private def noop(name: String): Unit =
    SparkEntry.queries(name)(spark, fixture).write.format("noop").mode("overwrite").save()

  test("attaching twice registers the listener once") {
    withProfile { p =>
      assert(Profile.attach(spark) eq p)
      assert(spark.streams.listListeners().count(_.isInstanceOf[Profile]) == 1)
    }
    assert(!spark.streams.listListeners().exists(_.isInstanceOf[Profile]))
  }

  test("consecutive entries attribute their own jobs: two, then none") {
    withProfile { p =>
      // a second attach must not register a second SparkListener, which
      // would count every job twice
      Profile.attach(spark)
      val entries = new Bench.Entries(p)
      entries("two") {
        spark.sparkContext.parallelize(1 to 10, 2).count()
        spark.sparkContext.parallelize(1 to 10, 3).count()
      }
      entries("none")(())
      val two = entries.spans("two")
      val none = entries.spans("none")
      assert(two.jobs == 2 && two.stages == 2 && two.tasks == 5)
      assert(two.stageSeconds >= 0.0 && two.taskRunMs >= 0L)
      assert(none.jobs == 0 && none.stages == 0 && none.tasks == 0)
      assert(none.plan.values.forall(_ == 0L) && none.batches.isEmpty)
    }
  }

  test("a drain entry records each micro-batch with its durationMs split") {
    withProfile { p =>
      StreamingJobs.configureStreaming(spark)
      val src = StreamingJobs.stagedEvents(spark, fixture, 2)
      val sink = Files.createTempDirectory("profile-drain-sink-").toString
      val entries = new Bench.Entries(p)
      entries("drain")(StreamingJobs.drainUpdate(
        StreamingJobs.streamWindowAgg(StreamingJobs.readEventStream(spark, src)), sink))
      val span = entries.spans("drain")
      assert(span.batches.nonEmpty && span.streamsStarted == 1)
      assert(span.batches.forall(b =>
        b.durationMs.contains("triggerExecution") && b.durationMs.contains("addBatch")),
        span.batches)
      assert(span.totalInputRows > 0 && span.batches.forall(_.numInputRows > 0))
      assert(span.batches.exists(_.stateRows > 0) && span.batches.exists(_.watermark.isDefined))
      assert(span.jobs > 0)
      // the queryable view has one row per micro-batch
      assert(span.toDF(spark).count() == span.batches.size.toLong)
    }
  }

  test("a broadcast-join entry's final-plan counts show its broadcast") {
    withProfile { p =>
      val entries = new Bench.Entries(p)
      entries("j1_broadcast_join")(noop("j1_broadcast_join"))
      val plan = entries.spans("j1_broadcast_join").plan
      assert(plan("executions") >= 1, plan)
      assert(plan("broadcasts") >= 1 && plan("bhj") >= 1, plan)
      assert(plan("parquet_scans") >= 2, plan)
    }
  }

  test("a throwing entry is failed and gets no timed record") {
    withProfile { p =>
      val entries = new Bench.Entries(p)
      val ok = entries("ok")(spark.sparkContext.parallelize(1 to 4, 1).count())
      assert(entries("boom")(throw new IllegalStateException("boom")).isEmpty)
      assert(entries.failed.toMap == Map("boom" -> "java.lang.IllegalStateException"))
      assert(entries.spans.keySet == Set("ok"))
      val sidecar = new ObjectMapper().readTree(entries.sidecar(ok.toSeq))
      assert(sidecar.get("entries").size == 1)
      val rec = sidecar.get("entries").get("ok")
      assert(rec.get("jobs").asLong == 1L && rec.get("wall_s").asDouble > 0.0)
      assert(rec.get("driver_only_s").asDouble >= 0.0)
      assert(sidecar.get("failed").get("boom").asText == "java.lang.IllegalStateException")
    }
  }
}
