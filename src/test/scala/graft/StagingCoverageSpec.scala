package graft

import graft.operators.DedupStaging
import org.scalatest.funsuite.AnyFunSuite

/** The staging table's readers column against what the entries really
  * read. With every staged table committed for sf0.001, each registered
  * entry is invoked: a batch entry's plan is built (running any job its
  * build runs), a drain runs to the end. The staged tables it fetched
  * through the warehouse must be exactly the ones declared as its direct
  * reads — too few and Bench charges a build to the entry, too many and
  * it stages work nobody reads. */
class StagingCoverageSpec extends AnyFunSuite with SparkFixture {
  private val dir = "/root/testdata/sf0.001"

  private lazy val stageAll: Unit = {
    val all = SparkEntry.queries.keySet
    DedupStaging.ensureFor(spark, dir, all)
    DedupStaging.ensureAnnFor(spark, dir, all)
  }

  test("each staged table's build fetches that table alone once staged") {
    stageAll
    DedupStaging.tables.foreach { t =>
      DedupStaging.resetMemo()
      t.build(spark, dir)
      assert(DedupStaging.fetched == Set(t.name), s"build of ${t.name}")
    }
  }

  test("every entry fetches exactly the staged tables declared as its reads") {
    stageAll
    val t0 = System.nanoTime()
    val wrong = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      DedupStaging.resetMemo()
      try fn(spark, dir) finally spark.catalog.clearCache()
      val got = DedupStaging.fetched
      val want = DedupStaging.readsOf(name)
      def show(ts: Set[String]) = ts.toSeq.sorted.mkString("{", ",", "}")
      Option.when(got != want)(s"$name fetched ${show(got)}, declares ${show(want)}")
    }
    info(f"${SparkEntry.queries.size} entries in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(wrong.isEmpty, wrong.mkString("\n", "\n", ""))
  }
}
