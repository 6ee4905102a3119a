package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The physical-plan CONTRACT: the scale properties README §Scale design
  * promises — pushdown reaching the scan, dimension broadcasts, sort+limit
  * as TakeOrderedAndProject, partial+final aggregation, pruned read
  * schemas — asserted on the executed plans so a future refactor cannot
  * silently regress them. EXPLAINS.md is the human-reviewable dump; this
  * spec is the machine gate for the load-bearing subset. */
class PlanContractSpec extends AnyFunSuite with SparkFixture {
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, dir)
    val s = df.queryExecution.executedPlan.toString
    spark.catalog.clearCache()
    s
  }

  /** Whether `name`'s plan moves rows through a single-partition exchange
    * anywhere but inside a broadcast side (cached plans and subqueries
    * included). */
  private def funnelsOutsideBroadcasts(name: String): Boolean = {
    import org.apache.spark.sql.catalyst.plans.QueryPlan
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    def walk(p: QueryPlan[_]): Boolean = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case _: BroadcastExchangeExec => false
      case s: ShuffleExchangeExec if s.outputPartitioning == SinglePartition => true
      case other => (other.children.asInstanceOf[Seq[QueryPlan[_]]] ++
        other.innerChildren).exists(walk)
    }
    try walk(SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan)
    finally spark.catalog.clearCache()
  }

  /** How many times `name`'s plan reads each persisted intermediate. Reads
    * nested inside another cache's plan count too (a frame persisted over
    * a persisted frame reads it there). */
  private def cacheReads(name: String): Seq[Int] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val helper = new AdaptiveSparkPlanHelper {}
    // keyed by the relation's cache builder: every read of one persisted
    // frame shares it
    val reads = new java.util.IdentityHashMap[AnyRef, Int]()
    def walk(p: SparkPlan): Unit =
      helper.collect(p) { case s: InMemoryTableScanExec => s.relation.cacheBuilder }
        .foreach { b =>
          val seen = reads.containsKey(b)
          reads.put(b, if (seen) reads.get(b) + 1 else 1)
          if (!seen) walk(b.cachedPlan)
        }
    walk(SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan)
    spark.catalog.clearCache()
    import scala.jdk.CollectionConverters._
    reads.values.asScala.toSeq
  }

  test("pushdown: filters reach the parquet scan") {
    // s7 is the incremental watermark read — its predicate must be in the
    // scan, not a post-scan Filter-only plan
    val p = plan("s7_incremental_read")
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts"),
      s"watermark predicate not pushed:\n$p")
    val j8 = plan("j8_shipping_priority")
    assert(j8.contains("GreaterThan(l_shipdate"), "lineitem date bound not pushed")
    assert(j8.contains("LessThan(o_orderdate"), "orders date bound not pushed")
    assert(j8.contains("EqualTo(c_mktsegment,BUILDING)"), "segment filter not pushed")
    // the serving time-series is double-bounded on the raw column
    val m5a = plan("m5a_time_series")
    assert(m5a.contains("GreaterThanOrEqual(ts") && m5a.contains("LessThan(ts"),
      s"time-series range not pushed:\n$m5a")
    // keyset pagination = pushed bound + top-k, cost independent of depth
    val m5f = plan("m5f_keyset_page")
    assert(m5f.contains("LessThan(ts") && m5f.contains("TakeOrderedAndProject"),
      s"keyset page must push its bound and top-k:\n$m5f")
  }

  test("joins: dimensions broadcast; sort+limit is TakeOrderedAndProject") {
    assert(plan("j1_broadcast_join").contains("BroadcastHashJoin"))
    val j8 = plan("j8_shipping_priority")
    assert(j8.contains("BroadcastHashJoin"), "dimension side must broadcast")
    assert(j8.contains("TakeOrderedAndProject"), "top-10 must not global-sort")
    assert(plan("o1_sort_limit").contains("TakeOrderedAndProject"))
    assert(plan("o3_api_pagination").contains("TakeOrderedAndProject"))
    // j9 (Q5 shape): both dimension stacks broadcast; the date window is
    // pushed into the orders scan — the only shuffle join is fact⋈fact
    val j9 = plan("j9_regional_revenue")
    assert("BroadcastHashJoin".r.findAllIn(j9).length >= 2,
      s"j9 must broadcast the supplier and customer dimension stacks:\n$j9")
    assert(j9.contains("GreaterThanOrEqual(o_orderdate") &&
      j9.contains("LessThan(o_orderdate"),
      s"j9 order-date window not pushed:\n$j9")
  }

  test("aggregate-then-join: j10's survivor set broadcasts both join-backs") {
    // Q18 shape: the only shuffle is the quantity agg — orders and customer
    // must stream through broadcast joins, never a shuffled join
    val j10 = plan("j10_big_spenders")
    assert("BroadcastHashJoin".r.findAllIn(j10).length == 2,
      s"both join-backs must broadcast the survivor side:\n$j10")
    assert(!j10.contains("SortMergeJoin") && !j10.contains("ShuffledHashJoin"),
      s"j10 must not shuffle a fact table to join:\n$j10")
  }

  test("ORC read-back carries the pushed value bound") {
    val s15 = plan("s15_orc_roundtrip")
    assert(s15.contains("Scan orc"), s"read-back must scan ORC:\n$s15")
    assert(s15.contains("GreaterThanOrEqual(value,0.0)"),
      s"value bound must push into the ORC reader:\n$s15")
  }

  test("token budget: no corpus-wide sort — the ordered pass runs post-filter") {
    // the two-phase reshape's contract: the windowed cumsum (Sort+Window)
    // must sit ABOVE the candidate semi-join, so its input is the
    // admission-sized remainder, never a whole language of raw docs
    val p = plan("m6_token_budget")
    val semiIdx = p.indexOf("LeftSemi")
    assert(semiIdx >= 0 && p.contains("BroadcastHashJoin"),
      s"candidate broadcast semi-join missing:\n$p")
    val windowIdx = p.indexOf("Window")
    assert(windowIdx >= 0 && windowIdx < semiIdx,
      s"admission window must consume the semi-join output (appear above it):\n$p")
  }

  test("aggregation: partial+final hash agg, pruned read schema") {
    val a1 = plan("a1_window_agg")
    // partial (map-side) + final agg = at least two HashAggregate nodes
    assert("HashAggregate".r.findAllIn(a1).length >= 2,
      s"a1 should partial-aggregate before the exchange:\n$a1")
    // p2 projects three fields from the events scan — the read schema must
    // not drag the whole row through the JSON projection
    val p2 = plan("p2_struct_flatten")
    val read = "ReadSchema: [^\n]*".r.findFirstIn(p2).getOrElse("")
    assert(!read.contains("props"), s"unused props column read: $read")
  }

  test("tfidf: the (doc,term) explode stage is computed once and reused") {
    // the tf subplan feeds both the len window and the df aggregate; the
    // executed AQE plan must share ONE shuffle stage between them — scan
    // and explode each run once, shuffle files are the materialization.
    // The static plan cannot show this (AQE defers reuse to runtime), so
    // materialize and inspect the final adaptive plan.
    val df = SparkEntry.queries("m6_tfidf")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    spark.catalog.clearCache()
    assert(p.contains("isFinalPlan=true"), s"plan did not finalize:\n$p")
    assert(p.contains("ReusedExchange"),
      s"tf subplan not reused — explode would run per consumer:\n$p")
    val initialPlanCut = p.indexOf("== Initial Plan ==")
    assert(initialPlanCut >= 0,
      s"AQE toString lost its '== Initial Plan ==' section — update the marker:\n$p")
    assert("Generate explode".r.findAllIn(
        p.substring(0, initialPlanCut)).length == 1,
      s"final plan must contain exactly one explode:\n$p")
  }

  test("simhash_sigs build: one map-side pass — no explode, no aggregate, only the fanout exchange") {
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val helper = new AdaptiveSparkPlanHelper {}
    val p = graft.operators.Dedup.simhashSignaturesBuild(spark, dir).queryExecution.executedPlan
    def count(f: PartialFunction[SparkPlan, Unit]): Int = helper.collect(p)(f).length
    assert(count { case _: GenerateExec => } == 0, s"explode is back in the build:\n$p")
    assert(count { case _: BaseAggregateExec => } == 0, s"an aggregate is back in the build:\n$p")
    assert(count { case _: Exchange => } == 1, s"expected only the fanout exchange:\n$p")
  }

  test("round-11 operators: windowless keyed-agg shapes, broadcast codebooks") {
    // passage scrub: flood detection and reassembly are keyed aggregations —
    // a WindowExec would mean a posting-list-shaped skew hazard crept in
    val ps = plan("m6_passage_scrub")
    assert(!ps.contains("WindowExec") && !ps.contains("Exchange SinglePartition"),
      s"passage scrub must stay window-free and partitioned:\n$ps")
    assert("HashAggregate".r.findAllIn(ps).length >= 4,
      s"flood count and reassembly must partial-aggregate:\n$ps")
    // lm support: both aggregations partial+final, no window, no sort
    val lm = plan("m6_lm_support")
    assert(!lm.contains("WindowExec") && !lm.contains("Exchange SinglePartition"),
      s"lm support must stay window-free and partitioned:\n$lm")
    // PQ: the codebook side must broadcast (kilobytes at any corpus size);
    // the corpus must never shuffle for the search itself
    val pq = plan("m6_ann_pq")
    assert("BroadcastExchange".r.findAllIn(pq).length >= 2,
      s"PQ codebook and probes must broadcast:\n$pq")
  }

  test("round-12: IVF-PQ search broadcasts its small sides and joins on cell") {
    // the codebook (kilobytes), the centroid table (√N rows) and the probe
    // side must all broadcast; the candidate join is equi-keyed on cell —
    // a SortMergeJoin or a single-partition exchange would mean the
    // compressed corpus started shuffling for the search
    val p = plan("m6_ann_ivfpq")
    assert("BroadcastExchange".r.findAllIn(p).length >= 3,
      s"codebook/centroids/probes must broadcast:\n$p")
    // the one-row centroid table assignToCells broadcasts is collapsed
    // through a single-partition exchange of √N centroids; a broadcast
    // side is collected whole to the driver anyway, so only the rest of the
    // plan can funnel the corpus
    assert(!funnelsOutsideBroadcasts("m6_ann_ivfpq") || p.contains("TakeOrderedAndProject"),
      s"ivfpq must not funnel the corpus through one partition:\n$p")
    assert(funnelsOutsideBroadcasts("m6_ivf_stats"),
      "the funnel check must see m6_ivf_stats' main-side global aggregate")
    assert(!p.contains("CartesianProduct"),
      s"ivfpq candidate join must stay equi-keyed (no cartesian):\n$p")
    // classifier inference: one partial+final keyed agg, no window, no
    // weight-table join (weights derive in-register from the bucket id)
    val qc = plan("m6_quality_classifier")
    assert(!qc.contains("WindowExec") && !qc.contains("Exchange SinglePartition"),
      s"classifier must stay window-free and partitioned:\n$qc")
    assert(!qc.contains("Join"), s"classifier must not join a weight table:\n$qc")
    assert("HashAggregate".r.findAllIn(qc).length >= 2,
      s"classifier doc agg must partial-aggregate:\n$qc")
    // containment: candidate generation must stay equi-keyed on the
    // shingle hash — a cartesian or a window over the corpus would mean
    // the df-bounded self-join shape regressed to all-pairs
    val ct = plan("m6_containment")
    assert(!ct.contains("CartesianProduct") && !ct.contains("WindowExec"),
      s"containment must stay a hash-keyed self-join:\n$ct")
    assert(!ct.contains("Exchange SinglePartition"),
      s"containment must stay partitioned:\n$ct")
  }

  test("round-12 TPC-H sweep: semi join, pushed envelopes, top-k, no windows") {
    // Q4 shape: the EXISTS is a LEFT SEMI join — the probe must not
    // duplicate orders (an inner join + distinct would) — with the quarter
    // window pushed into the orders scan
    val j17 = plan("j17_late_priority")
    assert(j17.contains("LeftSemi"), s"Q4 EXISTS must plan as a semi join:\n$j17")
    assert(j17.contains("GreaterThanOrEqual(o_orderdate") &&
      j17.contains("LessThan(o_orderdate"),
      s"j17 quarter window not pushed:\n$j17")
    // Q19 shape: the hand-stated per-side envelopes must reach BOTH scans —
    // without them the disjunction blocks all pushdown
    val j21 = plan("j21_disjunctive_revenue")
    assert(j21.contains("GreaterThanOrEqual(l_quantity") &&
      j21.contains("LessThanOrEqual(l_quantity"),
      s"j21 lineitem quantity envelope not pushed:\n$j21")
    assert(j21.contains("In(p_brand") || j21.contains("EqualTo(p_brand"),
      s"j21 part brand envelope not pushed:\n$j21")
    assert(j21.contains("BroadcastHashJoin"),
      s"j21 filtered part side must broadcast:\n$j21")
    // Q10 shape: top-20 compiles to TakeOrderedAndProject with the
    // returnflag filter in the lineitem scan
    val j26 = plan("j26_returned_revenue")
    assert(j26.contains("TakeOrderedAndProject"),
      s"j26 top-20 must not global-sort:\n$j26")
    assert(j26.contains("EqualTo(l_returnflag,R)"),
      s"j26 returnflag not pushed:\n$j26")
    // Q20 shape: the two-phase half-share threshold is keyed aggs + an
    // equi-join — a WindowExec here would funnel each part's suppliers
    // through a sort, and nothing may cartesian
    val j22 = plan("j22_dominant_suppliers")
    assert(!j22.contains("WindowExec") && !j22.contains("CartesianProduct"),
      s"j22 must stay window-free keyed aggregation:\n$j22")
    // Q6 shape: the point of the query is the scan — all three predicate
    // families must reach the parquet reader, and the read schema must be
    // exactly the four columns the aggregate needs. Formatted mode: the
    // simple plan string truncates PushedFilters mid-list.
    val j27 = SparkEntry.queries("j27_revenue_delta")(spark, dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    for (f <- Seq("GreaterThanOrEqual(l_shipdate,1997-01-01",
        "LessThan(l_shipdate,1998-01-01",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)", "LessThan(l_quantity,24.0)"))
      assert(j27.contains(f), s"j27 predicate not pushed: $f\n$j27")
    assert(j27.contains("ReadSchema: struct<l_quantity:double," +
        "l_extendedprice:double,l_discount:double,l_shipdate:timestamp_ntz>"),
      s"j27 must scan only the four needed columns:\n$j27")
    // Q15 shape: the global max rides a one-row broadcast back over the
    // aggregated frame — no window over the aggregate, no fact rescan
    // beyond the two planned reads (rev + its max derive from one scan
    // shape each)
    val j28 = plan("j28_top_supplier")
    assert(!j28.contains("WindowExec"),
      s"j28 must pick the max via a one-row broadcast, not a window:\n$j28")
    assert(j28.contains("BroadcastExchange"),
      s"j28's max/dim sides must broadcast:\n$j28")
  }

  test("round-13 operators: windowless mixture plan, shard-partitioned pack window") {
    def formatted(q: String) = {
      val s = SparkEntry.queries(q)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      spark.catalog.clearCache(); s
    }
    // temperature mix: one keyed agg + a languages-sized fold — a window
    // here would mean the normalizer is scanning the corpus
    val tm = formatted("m6_temperature_mix")
    assert(!tm.contains(") Window"), s"temperature mix must be window-free:\n$tm")
    // BPE packing: the running-offset window must be partitioned by shard
    // (the whole point of the corpus-adaptive shard count — never a global
    // cumsum); the only other window is the constant-size symbol-id rank
    // inside the encode stage
    val pb = formatted("m6_pack_bpe")
    assert(pb.contains("windowspecdefinition(shard#"),
      s"pack window not shard-partitioned:\n${pb.take(4000)}")
  }

  test("round-14: BM25 search touches only its posting lists (In pushdown, no corpus scan)") {
    val p = SparkEntry.queries("m6_bm25_topk")(spark, dir).queryExecution
      .explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    spark.catalog.clearCache()
    // the query terms are plan-time literals: the staged-index scan must
    // carry the static In(term, …) filter — this is what makes search work
    // ∝ posting lists touched (row-group pruning here, partition pruning
    // on a term-partitioned deployment)
    assert(p.contains("In(term, [agg,filter,hash,join,scan,slow,stream,vector,window]"),
      s"bm25 query-term In filter not pushed to the index scan:\n$p")
    // the (query, term) fan-out rides a broadcast; the ranking must not
    // shuffle the index beyond the matched rows
    assert(p.contains("BroadcastExchange"), s"bm25 query set must broadcast:\n$p")
    // search reads the STAGED index only — a documents.parquet location in
    // this plan would mean the ranker re-runs the index build per query
    assert(p.contains("bm25_index"), s"bm25 must read the staged index:\n$p")
    assert(!p.contains("documents.parquet"),
      s"bm25 search must not scan the raw corpus:\n$p")
  }

  test("round-14: phrase search is index-only (In pushdown, broadcast, no corpus scan)") {
    val p = SparkEntry.queries("m6_phrase_search")(spark, dir).queryExecution
      .explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    spark.catalog.clearCache()
    // the phrase shingles are plan-time literals: the positional-index scan
    // must carry the static In(term, …) filter
    assert(p.contains(
      "In(term, [big filter value,group join value,order big filter,order scan,order scan fast]"),
      s"phrase-shingle In filter not pushed to the index scan:\n$p")
    // the (query, shingle, offset) table rides a broadcast
    assert(p.contains("BroadcastExchange"), s"query shingles must broadcast:\n$p")
    // verification is anchor voting over index rows alone — a raw-corpus
    // scan here would mean post-verification against document text
    assert(p.contains("phrase_index"), s"search must read the staged index:\n$p")
    assert(!p.contains("documents.parquet"),
      s"phrase search must not scan the raw corpus:\n$p")
  }

  test("IVF assignment is one map-side pass: no assignment window, no vec_id join-back") {
    // the nearest-cell kernel replaced a cross join + row_number window
    // over N×√N scored rows + a join back to the vectors on vec_id; the
    // index build and the probe routing of the cell-probed search must not
    // grow either back
    val joinBack = """(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \[vec_id#""".r
    val build = operators.Similarity.ivfIndexBuild(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!build.contains("Window"), s"IVF build must be window-free:\n$build")
    assert(joinBack.findFirstIn(build).isEmpty, s"IVF build joins back on vec_id:\n$build")
    assert(build.contains("graft_nearest_cells"), s"IVF build must use the kernel:\n$build")
    val ivf = plan("m6_ann_ivf")
    // its one window is the per-probe rank (topKBySim), keyed by q_id
    assert("Window \\[".r.findAllIn(ivf).length == 1 &&
      !ivf.contains("windowspecdefinition(vec_id"),
      s"m6_ann_ivf may rank per probe only:\n$ivf")
    assert(joinBack.findFirstIn(ivf).isEmpty, s"m6_ann_ivf joins back on vec_id:\n$ivf")
  }

  test("round-15: incremental IVF search reads the admission catalog zero-copy") {
    val p = SparkEntry.queries("m6_incremental_ivf")(spark, dir).queryExecution
      .explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    spark.catalog.clearCache()
    // the search scan must resolve through the scratch admission catalog...
    assert(p.contains("graft-inc-ivf"),
      s"search must read the admission catalog:\n$p")
    // ...whose base member is the committed release index referenced
    // zero-copy (a plan without the warehouse gen dir would mean the
    // release index was copied or rebuilt at admission time)
    assert(p.contains("ivf_cells"),
      s"catalog must serve the staged release index as a member:\n$p")
    // probe routing is a broadcast argmax against the centroid set
    assert(p.contains("BroadcastExchange"),
      s"centroid set must broadcast on the query side:\n$p")
  }

  test("round-14: fertility reads the staged manifest, never document text") {
    val p = SparkEntry.queries("m6_bpe_fertility")(spark, dir).queryExecution
      .explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    spark.catalog.clearCache()
    // the per-doc n_words/n_norm_chars ride the staged encode manifest
    // (computed once in the encode pass) — the documents scan here exists
    // only for the language column, so its read schema must be exactly
    // (doc_id, lang). A text column in this plan means the report
    // re-tokenizes the corpus per run.
    assert(p.contains("bpe_manifest"),
      s"fertility must read the staged encode manifest:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      s"fertility's documents scan must prune to (doc_id, lang):\n$p")
    assert(!p.contains("text:string"),
      s"fertility must not scan document text:\n$p")
  }

  test("round-15: dsir scoring streams against the staged ratio table") {
    val p = SparkEntry.queries("m6_dsir_weights")(spark, dir).queryExecution
      .explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    spark.catalog.clearCache()
    // the census is release-time work: scoring must read the STAGED
    // kilobyte ratio table, not re-derive it from the corpus
    assert(p.contains("dsir_ratios"),
      s"scoring must read the staged ratio table:\n$p")
    // …and that table must broadcast into the scoring join — a shuffled
    // join here would move the exploded corpus
    assert(p.contains("BroadcastExchange"), s"ratio table must broadcast:\n$p")
    // exactly ONE corpus scan (the scoring tokenize) — a second documents
    // location would mean the census crept back into the query plan
    assert("documents\\.parquet".r.findAllIn(p).length <= 1,
      s"dsir scoring must scan the corpus exactly once:\n$p")
    // the scoring aggregation is keyed by doc_id — a Window would funnel
    // the corpus through one task
    assert(!p.contains(") Window"), s"dsir must be window-free:\n$p")
  }

  test("ANN top-k: the rank window sorts skinny rows (no vectors) and probes stay fixed-size") {
    // the round-12 100× finding: ranking rows that still carry the
    // 64-double vectors moves gigabytes through the per-probe sort. The
    // WindowExec's input schema must be vector-free for every ANN search.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.types.ArrayType
    for (q <- Seq("m6_cosine_topk", "m6_ann_lsh", "m6_ann_sq8", "m6_ann_pq",
        "m6_ann_ivf", "m6_ann_ivfpq", "m6_ann_ivfpq_rerank")) {
      val df = SparkEntry.queries(q)(spark, dir)
      // the OPTIMIZED plan decides what the rank sort materializes (AQE
      // hides physical nodes until execution)
      val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
      spark.catalog.clearCache()
      assert(wins.nonEmpty, s"$q: expected a rank window")
      wins.foreach { w =>
        val fat = w.child.output.filter(_.dataType.isInstanceOf[ArrayType])
        assert(fat.isEmpty,
          s"$q: rank window input carries array columns ${fat.map(_.name)} — " +
            "vectors must be projected away before the sort")
      }
    }
  }

  test("BPE train: every round's argmax is TakeOrderedAndProject, never a vocab-wide window") {
    val p = plan("m6_bpe_train")
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 8,
      s"each of the 8 rounds must pick its merge via top-1, not a sort:\n${p.take(4000)}")
    assert(!p.contains("WindowExec"),
      s"no window may scan the vocabulary:\n${p.take(4000)}")
  }

  test("windows: analytic windows are partitioned (no single-partition sort of data)") {
    // w5 ranks within (event_type); its WindowExec must carry a partition
    val w5 = plan("w5_rank_by_avg")
    assert(!w5.contains("Exchange SinglePartition"),
      s"w5 funnels data through one partition:\n$w5")
    val w8 = plan("w8_latest_per_key")
    assert(!w8.contains("Exchange SinglePartition"),
      s"w8 funnels data through one partition:\n$w8")
  }

  test("round-14: rrf fusion composes an index-only lexical leg and a broadcast dense leg") {
    // formatted mode: executedPlan.toString truncates FileScan locations,
    // which hides the staged-table directory names this test pins
    val p = SparkEntry.queries("m6_rrf_fusion")(spark, dir).queryExecution
      .explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    spark.catalog.clearCache()
    // lexical leg inherits the bm25 contract: staged index with the static
    // In(term, …) pushed, never a raw-corpus scan
    assert(p.contains("In(term, [agg,filter,hash,join,scan,slow,stream,vector,window]"),
      s"fusion's bm25 leg lost its pushed In filter:\n$p")
    assert(p.contains("bm25_index"), s"fusion must read the staged index:\n$p")
    assert(!p.contains("documents.parquet"),
      s"fusion must not scan the raw corpus:\n$p")
    // dense leg: the fixed 3-probe batch rides a broadcast against the
    // corpus — a shuffled or cartesian corpus-side plan would not scale
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the probe batch must broadcast into the corpus scan:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"fusion must not materialize a cartesian product:\n$p")
  }

  test("round-15: ann-fused rrf reads staged indexes on BOTH legs and pushes the probe bound") {
    val p = SparkEntry.queries("m6_rrf_fusion_ann")(spark, dir).queryExecution
      .explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    spark.catalog.clearCache()
    // lexical leg: the staged bm25 index with the static In(term, …) pushed
    assert(p.contains("In(term, [agg,filter,hash,join,scan,slow,stream,vector,window]"),
      s"ann fusion's bm25 leg lost its pushed In filter:\n$p")
    assert(p.contains("bm25_index"), s"ann fusion must read the staged index:\n$p")
    assert(!p.contains("documents.parquet"),
      s"ann fusion must not scan the raw corpus:\n$p")
    // dense leg: the staged IVF-PQ index, NOT a brute-force corpus scan —
    // the round-14 verdict's asymmetry this query exists to close
    assert(p.contains("ivfpq_codes") && p.contains("ivf_cells"),
      s"ann fusion's dense leg must read the staged IVF-PQ tables:\n$p")
    // the 3-probe restriction reaches the embeddings scan as a pushed
    // range bound (probe-side scans are O(1)-row at any corpus size)
    assert(p.contains("LessThan(vec_id"),
      s"the fusion probe bound must push into the embeddings scan:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"ann fusion must not materialize a cartesian product:\n$p")
  }

  test("round-16: purge serves mask-free plans, compact ends the external ref, spans partition by doc") {
    // a purged catalog's search must carry NO tombstone machinery — the
    // bytes are gone, so a LeftAnti (or any tombstones read) in the served
    // plan would mean the purge only masked
    val purge = plan("m6_ann_purge")
    assert(purge.contains("graft-ann-purge"),
      s"purged search must read its rewritten catalog:\n$purge")
    assert(!purge.contains("tombstones") && !purge.contains("LeftAnti"),
      s"purged search must not mask (tombstone anti-join found):\n$purge")
    // a compacted catalog owns its bytes: the zero-copy warehouse ref's
    // lifetime ends at compaction, so the staged ivf_cells dir must be
    // absent from the served scan
    val compact = plan("m6_ann_compact")
    assert(compact.contains("graft-ann-compact"),
      s"compacted search must read its rewritten catalog:\n$compact")
    assert(!compact.contains("ivf_cells"),
      s"compacted catalog must not reference the external release member:\n$compact")
    // the spans islands pass partitions by document — a global sort or a
    // cartesian here would be the all-pairs shape the census exists to
    // avoid
    val spans = plan("m6_repeated_spans")
    assert(spans.contains("hashpartitioning(doc_id"),
      s"spans islands window must partition by doc_id:\n$spans")
    assert(!spans.contains("CartesianProduct"),
      s"spans census must not cross-join:\n$spans")
  }

  test("round-16: bloom decontamination prefilters in the scan stage, below the verify join") {
    val p = plan("m6_bloom_decontaminate")
    // the probe is Spark's native runtime-filter predicate (codegen'd, no
    // UDF), and it must sit on the JOIN INPUT side — a prefilter that runs
    // after the join would ship the full shingle volume through the
    // exchange, which is the cost the sketch exists to remove
    assert(p.contains("might_contain"),
      s"bloom probe missing from the plan:\n$p")
    val probeAt = p.indexOf("might_contain")
    val joinAt = p.indexOf("SortMergeJoin") max p.indexOf("ShuffledHashJoin") max
      p.indexOf("BroadcastHashJoin")
    assert(joinAt >= 0, s"verify join missing:\n$p")
    assert(probeAt > joinAt, // executed plans print top-down: later = deeper
      s"bloom probe must be below the verify join (prefilter, not postfilter):\n$p")
  }

  test("round-14: source divergence is window-free and never doc-keyed") {
    val p = plan("m6_source_divergence")
    // the pair join is term-keyed and the totals broadcast — a window or a
    // cartesian here would mean per-doc state or all-pairs docs
    assert(!p.contains("WindowExec"), s"divergence must be window-free:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"divergence must not cross-join:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the per-source totals must broadcast:\n$p")
    // the corpus scan is pruned to exactly the two columns the census needs
    assert(p.contains("ReadSchema: struct<text:string,source:string>")
        || p.contains("ReadSchema: struct<source:string,text:string>"),
      s"documents scan must read only (source, text):\n$p")
  }

  test("round-18: scene cuts partition every window by clip; video pair search stays blocked") {
    // every window in the shot-boundary pass is doc-partitioned — a
    // SinglePartition exchange would funnel all clips' frames through one
    // task (the silenceSegments discipline, cut-count form)
    val sc = plan("m7_scene_cuts")
    assert(sc.contains("hashpartitioning(doc_id"),
      s"scene-cut windows must partition by doc_id:\n$sc")
    assert(!sc.contains("Exchange SinglePartition"),
      s"scene cuts must never funnel frames through one partition:\n$sc")
    assert(!sc.contains("CartesianProduct"),
      s"scene cuts must not cross-join:\n$sc")
    // the video pair search is the shared blocked shape: equi-keyed chunk
    // join over distinct signatures, never all-pairs, with the quarantine
    // flag reaching the plan as a filter
    val vn = plan("m7_video_neardup")
    assert(!vn.contains("CartesianProduct"),
      s"video near-dup must stay chunk-blocked (no cartesian):\n$vn")
    assert(vn.contains("letterboxed"),
      s"the quarantine flag must gate the chunk join:\n$vn")
  }

  test("round-19: keyframe windows stay doc-partitioned; pair curation is window-free and blocked") {
    // keyframe dedup = scene segmentation (doc-partitioned windows only)
    // feeding the shared blocked pair search — never a clip funnel, never
    // all-pairs, with the quarantine flag gating the chunk join
    val kf = plan("m7_keyframe_ahash")
    assert(kf.contains("hashpartitioning(doc_id"),
      s"keyframe scene windows must partition by doc_id:\n$kf")
    assert(!kf.contains("Exchange SinglePartition"),
      s"keyframe extraction must never funnel frames through one partition:\n$kf")
    assert(!kf.contains("CartesianProduct"),
      s"keyframe pair search must stay chunk-blocked:\n$kf")
    assert(kf.contains("letterboxed"),
      s"the image-path quarantine must gate the keyframe chunk join:\n$kf")
    // pair curation: keep-best is a keyed min(struct) agg and the side-dup
    // edges are key-grouped mins — no window over the pair corpus, no
    // cartesian anywhere; the image gate is the real decode path (its
    // quarantine flag reaches the plan)
    val pc = plan("m7_pair_curation")
    assert(!pc.contains("CartesianProduct"),
      s"pair curation must not cross-join:\n$pc")
    assert(!pc.contains("WindowExec"),
      s"pair keep-best must be a keyed agg, not a window:\n$pc")
    assert(pc.contains("letterboxed"),
      s"the image gate must ride the real decode path:\n$pc")
  }

  test("shared intermediates are persisted and read from the cache, never recomputed per consumer") {
    // every operator that reuses an intermediate persists it and returns a
    // lazy result: each consumer must read the InMemoryRelation, so the
    // expensive subtree (tokenize, explode, decode) runs once per query.
    // The count is how many distinct cached frames the plan reads twice
    // or more.
    val shared = Seq(
      "m6_lm_support" -> 1,     // bigram frame: count build + position join
      "m6_passage_scrub" -> 2,  // base: passages + final join; passages: flood + anti-join
      "m6_repeated_spans" -> 2, // base: window hashes + final join; wh: flood + runs
      "m6_span_scrub" -> 2,     // base: window hashes + rebuild; wh: flood + foreign join
      "m6_postings" -> 1,       // term frame: df count + posting build
      "m6_release_diff" -> 1,   // release A manifest: diff side + reuse branch
      "m7_ahash_neardup" -> 1,  // decoded signatures: four pair-search branches
      "m7_pcm_neardup" -> 1,
      "m7_video_neardup" -> 1,
      "m7_keyframe_ahash" -> 1, // hashed keyframes: hubs, star join, chunk path
      "m7_pair_curation" -> 1)  // pair frame: both gates, side keys, scaffold
    for ((q, n) <- shared) {
      val reads = cacheReads(q)
      assert(reads.count(_ >= 2) >= n,
        s"$q: expected $n persisted intermediate(s) read at least twice, got reads $reads")
    }
  }

  // Lineage recovery: a query whose cached blocks vanish between two
  // evaluations (what a lost executor does to them) must recompute and
  // return the same rows. The persisted intermediates above are a cache the
  // query can always rebuild; an eagerly checkpointed result has no lineage
  // left and fails with "Checkpoint block … not found".
  for (q <- Seq("m6_lm_support", "m6_passage_scrub", "m6_repeated_spans",
      "m6_span_scrub", "m6_postings", "m6_release_diff", "m7_ahash_neardup",
      "m7_keyframe_ahash")) {
    test(s"lost blocks: $q recomputes its rows after every cached block is lost") {
      def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
      val df = SparkEntry.queries(q)(spark, dir)
      try {
        val first = rows(df)
        assert(first.nonEmpty, s"$q: empty result proves nothing")
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        assert(rows(df) == first, s"$q: rows changed after the cache was lost")
      } finally spark.catalog.clearCache()
    }
  }
}
