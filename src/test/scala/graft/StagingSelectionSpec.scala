package graft

import graft.operators.DedupStaging
import org.scalatest.funsuite.AnyFunSuite

/** Which staged tables a selection of entries makes Bench (and the
  * benchmark driver) build: each selected entry's direct reads plus every
  * table those depend on, in dependency order, split into the text staging
  * area and the ANN index release. */
class StagingSelectionSpec extends AnyFunSuite {

  private def staged(names: Set[String], ann: Boolean): Seq[String] =
    DedupStaging.stagingFor(names, ann).map(_.name)

  test("a selection stages its reads and their dependencies, in order") {
    // (selection, text staging, ANN staging)
    val cases: Seq[(Set[String], Seq[String], Seq[String])] = Seq(
      (Set("m6_dup_clusters"), Seq("shingle3", "minhash_sigs", "minhash_pairs"), Nil),
      (Set("m6_ngram_jaccard"), Seq("shingle3", "prefix3"), Nil),
      (Set("m6_pack_bpe"), Seq("bpe_vocab", "bpe_manifest"), Nil),
      (Set("m6_ann_pq"), Nil, Seq("pq_codebook", "pq_codes")),
      (Set("m6_ann_ivfpq"), Nil, Seq("ivf_cells", "ivfpq_codebook", "ivfpq_codes")),
      (Set("m6_rrf_fusion_ann"), Seq("bm25_index"),
        Seq("ivf_cells", "ivfpq_codebook", "ivfpq_codes")),
      (Set("m6_simhash_pairs", "m6_decontaminate"), Seq("simhash_sigs", "shingle8"), Nil),
      // the benchmark's pinned entries (perfbench/workloads.json):
      // llm_curation stages one table per area, stream_drain none
      (Set("m6_ann_compact", "m6_cosine_topk", "m6_ivf_stats", "m6_simhash_pairs"),
        Seq("simhash_sigs"), Seq("ivf_cells")),
      (Set("m4_stream_window_agg"), Nil, Nil),
      (Set("a1_window_agg"), Nil, Nil),
      (Set.empty, Nil, Nil))
    for ((names, text, ann) <- cases) {
      assert(staged(names, ann = false) == text, s"text staging of $names")
      assert(staged(names, ann = true) == ann, s"ANN staging of $names")
    }
  }

  test("an empty selection stages nothing and counts as staged") {
    // a fixture dir that does not exist: nothing may be looked up in it
    val dir = "/nonexistent/fixture"
    assert(DedupStaging.isStagedFor(dir, Set.empty))
    assert(DedupStaging.isAnnStagedFor(dir, Set.empty))
    assert(DedupStaging.isStagedFor(dir, Set("m4_stream_window_agg")))
    assert(!DedupStaging.isStagedFor(dir, Set("m6_simhash_pairs")))
  }

  test("the staging table is in dependency order and every reader is registered") {
    val tables = DedupStaging.tables
    assert(tables.map(_.name).distinct.size == tables.size, "table names repeat")
    tables.zipWithIndex.foreach { case (t, i) =>
      val earlier = tables.take(i).filter(_.ann == t.ann).map(_.name).toSet
      assert(t.deps.forall(earlier), s"${t.name}: deps ${t.deps} not declared before it")
      assert(t.readers.nonEmpty, s"${t.name} has no reader")
      val unknown = t.readers.diff(SparkEntry.queries.keySet)
      assert(unknown.isEmpty, s"${t.name}: readers not registered: $unknown")
    }
  }
}
