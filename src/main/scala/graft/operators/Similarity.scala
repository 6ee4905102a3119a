package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Exact.{rnd, sqlRnd}

/** Similarity search over `embeddings.embedding` (Array[Float], 64-dim) —
  * the ANN surface of a training-data pipeline (builder brief; SURVEY.md
  * §7.1 M6).
  *
  * Two paths:
  *   - brute-force exact cosine top-k: the correctness baseline. Queries are
  *     broadcast; the corpus never shuffles; the dot product is the engine's
  *     native codegen'd `graft_dot` expression (graft.functions.DotProduct) —
  *     one fused double loop inside whole-stage codegen, no UDF, no
  *     interpreted higher-order lambda.
  *   - sign-LSH bucketed ANN: the 100 TB path. Each vector lands in a bucket
  *     keyed by the sign pattern of its leading dimensions (a fixed
  *     random-hyperplane LSH with axis-aligned planes); queries probe only
  *     their bucket, so the join is equi-keyed on bucket and work scales
  *     with bucket size, not corpus size. Recall-vs-exact is ScalaTest'd.
  *
  * Determinism note: all dot-product folds run left-to-right in double on
  * both engines (graft_dot, DuckDB `list_reduce`), so similarity values are
  * bit-identical and oracle-able.
  */
object Similarity {

  /** Left-to-right double-fold dot product — the native expression. */
  private def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  private def base(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables.fanout(Tables.embeddings(spark, dir)).select(
      col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
  }

  /** Probe-workload stride: the query batch is FIXED SIZE (~40 probes)
    * however large the corpus — stride = max(50, ⌊N/40⌋), same integer
    * rule in the oracles from count(*). A production search serves a
    * constant query batch against a growing index; the old fixed `% 50`
    * tied probe count to corpus size, which silently made every FLAT scan
    * (cosine/sq8/pq) quadratic — corpus × corpus/50 — and the 100× probe
    * measured exactly that (m6_ann_pq 610× CPU at 100× data) while the
    * cell-probed IVF paths hid it. Identical to `% 50` at every committed
    * test sf (N ≤ 2000), so gate hashes and spec recall floors are
    * untouched; at the 100× fixture the stride is 5000 and flat-scan work
    * is linear again. */
  private[graft] def probeStride(n: Long): Long = math.max(50L, n / 40L)

  /** Memoized corpus cardinality per fixture: a parquet count() is
    * footer-metadata work but still a scheduled Spark job, and a composite
    * query (m6_ann_eval builds two searches) re-derives the same immutable
    * number five times at plan-construction time. Keyed on the embeddings
    * source's content signature, so an in-place fixture regeneration never
    * serves a stale scalar. */
  private val corpusCount = new DedupStaging.ContentMemo[String, Long]
  private def corpusN(spark: SparkSession, dir: String): Long =
    corpusCount(dir, Seq(s"$dir/embeddings.parquet"))(
      Tables.embeddings(spark, dir).count())

  /** Memoized max vec_id + 1 — the collision-free id offset for
    * embedDedup's planted copies (same signature-keyed memo as corpusN).
    * Derived, not a constant: a fixed offset silently collides with real
    * ids once the corpus outgrows it — duplicate ids would make the
    * engine's dropDuplicates nondeterministic while the oracle's DISTINCT
    * keeps both rows. The oracle derives the identical scalar in-query. */
  private val corpusMax = new DedupStaging.ContentMemo[String, Long]
  private def plantOffset(spark: SparkSession, dir: String): Long =
    corpusMax(dir, Seq(s"$dir/embeddings.parquet"))(
      Tables.embeddings(spark, dir).agg(max(col("vec_id"))).head.getLong(0) + 1)

  /** The stride for this fixture's embeddings corpus (metadata-cheap
    * count, the ivfStride precedent). */
  private def strideOf(spark: SparkSession, dir: String): Long =
    probeStride(corpusN(spark, dir))

  private def probes(spark: SparkSession, dir: String, b: DataFrame): DataFrame =
    b.filter(col("vec_id") % strideOf(spark, dir) === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm").as("qnorm"))

  /** Per-probe top-10 over a scored candidate frame. The rank window sees
    * ONLY the skinny (q_id, vec_id, sim) projection — scored rows must
    * drop their vectors BEFORE the rank shuffle. The fat-row variant
    * (ranking `sims` while every row still carried the 64-double
    * reconstruction plus the probe vector) moved gigabytes through one
    * sort per probe and cost m6_ann_pq 610× CPU at the 100× probe; the
    * skinny frame is ~30 bytes/row at any corpus size. */
  private def topKBySim(sims: DataFrame): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))
    sims.select(col("q_id"), col("vec_id"), col("sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("q_id"), col("vec_id"), col("rnk"), rnd(col("sim"), 4).as("sim"))
  }

  /** M6: exact cosine top-10 per probe vector (brute force baseline). */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val b = base(spark, dir)
    topKBySim(b.crossJoin(broadcast(probes(spark, dir, b)))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", dot(col("qv"), col("v")) / (col("norm") * col("qnorm"))))
  }

  /** M6: hybrid retrieval — reciprocal-rank fusion of the lexical BM25
    * ranking (TextAnalysis.bm25TopK over the staged bm25_index) and a
    * dense cosine ranking over the id-aligned embedding corpus (vec_id IS
    * the doc_id — how a production store keys its dense vectors). The
    * serving-side composition every RAG stack runs: neither leg alone
    * surfaces both exact-term and semantic matches, and RRF fuses them
    * without score calibration — fused(d) = Σ_legs 1/(60 + rank_leg(d)),
    * rank-only, the k=60 constant from Cormack & Clarke (SIGIR '09).
    *
    * Each of the three fixed queries (Bm25Queries q1–q3) pairs its term
    * bag with probe vector i·stride (i = 0, 1, 2 — the first three probes
    * of the standard fixed-size probe workload, same stride rule as the
    * ANN family). Docs missing from a leg's top-10 contribute 0 from that
    * leg. Pinned arithmetic: each term is one correctly-rounded divide of
    * exact small integers and the two-term sum folds lexical-then-dense —
    * bit-portable with no float ordering to pin.
    *
    * 100 TB shape: the lexical leg touches only the query terms' posting
    * lists (static In pushdown into the staged index); the dense leg is a
    * fixed 3-probe broadcast against the corpus (linear, probe count does
    * not grow with data); the fusion itself joins two ≤ 30-row frames —
    * free at any scale. */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val lex = TextAnalysis.bm25TopK(spark, dir)
      .select(col("query_id"), col("doc_id"), col("rnk").as("lex_rnk"))
    val b = base(spark, dir)
    val stride = strideOf(spark, dir)
    val qs = b.filter(col("vec_id") % stride === 0 && col("vec_id") < 3 * stride)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val den = topKBySim(b.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("sim", dot(col("qv"), col("v")) / (col("norm") * col("qnorm"))))
      .select(
        concat(lit("q"),
          ((col("q_id") / lit(stride)).cast("long") + 1).cast("string"))
          .as("query_id"),
        col("vec_id").as("doc_id"), col("rnk").as("dense_rnk"))
    fuseLegs(lex, den)
  }

  /** The RRF fusion step shared by both hybrid queries (`rrfFusion` /
    * `rrfFusionAnn` — they differ ONLY in the dense leg's search): align
    * the two ≤ 30-row leg rankings per (query, doc), one correctly-rounded
    * divide per term, lexical-then-dense sum, rank, top-10. Each leg is
    * UNIQUE per (query_id, doc_id) — a ranking — so the full-outer join is
    * equivalently one union + keyed max, which costs a single exchange
    * where the unhinted full-outer SortMergeJoin cost two plus their sorts
    * (r20 opt round, guide §2.4). */
  private def fuseLegs(lex: DataFrame, den: DataFrame): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id"))
    lex.select(col("query_id"), col("doc_id"), col("lex_rnk"),
        lit(null).cast("int").as("dense_rnk"))
      .unionAll(den.select(col("query_id"), col("doc_id"),
        lit(null).cast("int").as("lex_rnk"), col("dense_rnk")))
      .groupBy("query_id", "doc_id")
      .agg(max(col("lex_rnk")).as("lex_rnk"),
        max(col("dense_rnk")).as("dense_rnk"))
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60.0) + col("lex_rnk").cast("double")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60.0) + col("dense_rnk").cast("double")),
            lit(0.0)))
      .withColumn("fused_rnk", row_number().over(w))
      .filter(col("fused_rnk") <= 10)
      .select(col("query_id"), col("doc_id"), col("fused_rnk").as("rnk"),
        col("lex_rnk"), col("dense_rnk"), rnd(col("rrf"), 6).as("rrf_score"))
  }

  /** M6: hybrid retrieval fused over the PRODUCTION dense stack — the same
    * RRF composition as `rrfFusion`, but the dense leg is the staged
    * IVF-PQ ADC search + exact re-rank (`annIvfPqRerank`'s pipeline,
    * probe-restricted to the fusion workload's three queries) instead of a
    * brute-force corpus scan. This is the pairing a deployment actually
    * ships (a RAG stack fuses BM25 with its ANN index, not with an exact
    * scan it could never afford), and it closes the round-14 asymmetry
    * where the lexical leg read a staged index while the dense leg
    * re-scanned the corpus per query.
    *
    * Probe restriction commutes with the search: every stage of the ADC +
    * refine pipeline is per-query (the shortlist and rank windows all
    * PARTITION BY q_id; the corpus/index side never depends on the probe
    * set), so filtering the probe frame to the three fusion queries up
    * front gives exactly the per-query rows of the full search — which is
    * how the oracle replays it (full rerank chain, q_id < 3·stride at the
    * end).
    *
    * 100 TB shape: the lexical leg touches only the query terms' posting
    * lists (static In pushdown); the dense leg reads pq_codes (16-byte
    * rows) for the probed cells plus exactly R = 80 staged full-precision
    * vectors per query through a broadcast-semi refine join — the corpus
    * float vectors are never scanned, never shuffled; fusion joins two
    * ≤ 30-row frames. */
  def rrfFusionAnn(spark: SparkSession, dir: String): DataFrame = {
    val lex = TextAnalysis.bm25TopK(spark, dir)
      .select(col("query_id"), col("doc_id"), col("rnk").as("lex_rnk"))
    val stride = strideOf(spark, dir)
    val b3 = base(spark, dir).filter(col("vec_id") < 3 * stride)
    val den = annIvfPqRerankOn(spark, dir, RerankR, b3)
      .select(
        concat(lit("q"),
          ((col("q_id") / lit(stride)).cast("long") + 1).cast("string"))
          .as("query_id"),
        col("vec_id").as("doc_id"), col("rnk").as("dense_rnk"))
    fuseLegs(lex, den)
  }

  /** Sign-pattern LSH bucket of a double vector: one bit per leading
    * dimension. For cosine similarity this is random-hyperplane LSH with
    * axis-aligned planes — deterministic and engine-reproducible.
    *
    * Sizing `bits`: bucket population ≈ N / 2^bits, and the within-bucket
    * work of a blocked self-join is Θ(N²/2^bits) — so bits must GROW with
    * the corpus, ≈ log₂(N / targetBucketSize), or the quadratic term
    * returns. The registered queries derive bits from the corpus size
    * (`lshBits`) — and the oracle SQL derives the SAME width from
    * `count(*)` in-query — so the effective width adapts per fixture while
    * both engines stay bit-identical; LlmPillarSpec asserts the max bucket
    * share and that widening bits only refines buckets. */
  private[graft] def signBucket(v: Column, bits: Int): Column =
    (0 until bits).map(i =>
      when(element_at(v, i + 1) >= 0, lit(1 << i)).otherwise(lit(0)))
      .reduce[Column](_ + _)

  /** Corpus-adaptive LSH width: the smallest b in [4, 16] with 2^b ≥ N/16,
    * i.e. ceil(log₂(N/16)) clamped — bucket population stays ~16 as the
    * corpus grows, which is what keeps within-bucket work linear overall.
    * Integer arithmetic on purpose: the oracle computes
    * `ceil(log2(count(*)/16.0))` and n/16.0 is exact in binary (n < 2^56),
    * so the two formulations agree for every reachable n (the only float
    * hazard would be a log2 landing within 1 ulp of an integer while the
    * true value is not that integer — impossible at 1/16-granular inputs
    * except exact powers of two, where log2 is exact). */
  private[graft] def lshBits(n: Long): Int = {
    var b = 4
    while (b < 16 && (16L << b) < n) b += 1
    b
  }

  /** The registered-query entry: width from a corpus row count. A parquet
    * count(*) is footer-metadata work, not a scan — the same cardinality a
    * table catalog serves for free at cluster scale. */
  private def corpusBits(spark: SparkSession, dir: String): Int =
    lshBits(corpusN(spark, dir))

  /** Default probe set for multi-probe LSH: the vector's own bucket plus
    * every bucket reachable by flipping one LOW-CONFIDENCE bit — a dimension
    * whose magnitude is within `eps` of the hyperplane. A near-identical
    * pair can only straddle buckets on such a dimension, so probing the
    * flips recovers the boundary pairs that single-bucket blocking loses,
    * at fan-out ≤ 1 + (#low-confidence dims) per vector instead of 2^bits. */
  private[graft] def probeBuckets(v: Column, bucket: Column, bits: Int,
      eps: Double): Column =
    array_compact(array(
      bucket +: (0 until bits).map(i =>
        when(abs(element_at(v, i + 1)) < eps,
          bucket.bitwiseXOR(lit(1 << i)))): _*))

  /** M6: bucketed ANN — probe only the query's sign-LSH bucket (2^bits
    * buckets). Equi-join on bucket: work per query ∝ bucket size
    * (~corpus/2^bits), and the shuffle key is the bucket — this is the
    * IVF-style plan that survives a corpus that no longer broadcasts. */
  def annLsh(spark: SparkSession, dir: String, bits: Int = 8): DataFrame = {
    val b = base(spark, dir).withColumn("bucket", signBucket(col("v"), bits))
    val q = probes(spark, dir, b.drop("bucket"))
      .withColumn("bucket", signBucket(col("qv"), bits))
    topKBySim(b.join(q, Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", dot(col("qv"), col("v")) / (col("norm") * col("qnorm"))))
  }

  /** M6: IVF-Flat ANN — the inverted-file index structure: a small coarse
    * quantizer (a deterministic id-stride rule, stride = `ivfStride` ≈ √N —
    * identical in both engines; a production build would k-means them)
    * partitions the corpus into cells; a query probes only its nearest
    * cell's list (nprobe=1). The 100 TB shape: K ≈ N/stride ≈ √N centroids
    * broadcast everywhere (√N-sized, megabytes at 20M vectors), assignment
    * is a narrow argmax over those ~√N centroids (no shuffle, N·K ≈ N^1.5
    * total — sublinear per row), and the search join is equi-keyed on cell
    * id — like annLsh but with data-adaptive cells instead of fixed
    * hyperplanes, trading recall at cell boundaries for balanced lists. */
  def annIvf(spark: SparkSession, dir: String): DataFrame =
    ivfSearch(spark, dir, nprobe = 1)

  /** M6: IVF-Flat with nprobe=2 — the standard recall lever for IVF's one
    * structural weakness: a query sitting near a cell boundary whose true
    * neighbors were assigned to the cell it did NOT probe. Probing the TWO
    * nearest centroids and re-ranking the union recovers those pairs at
    * exactly 2× the candidate work — the corpus-side layout, broadcasted
    * centroids, and the cell-keyed equi-join are unchanged, so the 100 TB
    * shape is the same plan with twice the probe fan-out (each corpus
    * vector still lives in ONE cell; no dedup needed on the candidates).
    * LlmPillarSpec asserts nprobe=2 recall strictly dominates nprobe=1 on
    * every query and lifts mean top-10 recall vs exact. */
  def annIvf2(spark: SparkSession, dir: String): DataFrame =
    ivfSearch(spark, dir, nprobe = 2)

  /** IVF id-stride (= cell size): max(125, ⌊√N⌋). At scale this is the
    * standard nlist ≈ √N rule — K = N/stride ≈ √N centroids, so centroid
    * assignment costs N·K ≈ N^1.5 (sublinear per row) and the centroid
    * broadcast is √N-sized, while cells hold ≈ √N vectors each; the 125
    * floor keeps small corpora from degenerating into single-digit cells
    * (below N = 125² the un-floored rule would make MORE cells, not fewer,
    * than one per 125 rows). Both engines take floor(sqrt(n)) of a
    * correctly-rounded IEEE double: for n = k²−1 < 2^51 the gap between
    * √(k²−1) and k (≈ 1/2k) exceeds an ulp (≈ k·2⁻⁵²), so the rounded sqrt
    * never crosses the integer boundary and Scala and DuckDB agree for
    * every reachable corpus size. GraftProps pins the sizing. */
  private[graft] def ivfStride(n: Long): Long =
    math.max(125L, math.floor(math.sqrt(n.toDouble)).toLong)

  /** The IVF-Flat index build: the whole corpus with its nearest-cell
    * assignment — staged once per corpus version by DedupStaging.ivfCells
    * (the build-once/search-many shape; before r12 every search re-ran
    * this N×√N pass). One map-side pass over the corpus (assignToCells);
    * the z-layout's range sampling reads every row too, so the kernel runs
    * twice per build, once there and once in the write. */
  private[graft] def ivfIndexBuild(spark: SparkSession, dir: String): DataFrame =
    ivfAssign(spark, dir, base(spark, dir), 1)

  /** Conservative (cell, vec_id) envelope for the staged index's z-layout,
    * from ONE cheap vec_id-column scan, with the corpus count (memoized) as
    * the row count that sizes its files — both staged IVF tables hold one
    * row per corpus vector. Cells are centroid ids (the vec_ids
    * at `ivfStride` multiples — the CELL stride, not the query-probe
    * stride: r17 ADVICE caught the envelope computed at probeStride, which
    * exceeds ivfStride past N = 1600 and would exclude the extreme centroid
    * ids, wrapping their cells' z-bins), so the centroid-id bounds bound
    * every assignment. Measuring the envelope on the built frame instead
    * would run the assignment once more per staging commit, for the bounds
    * action (the double-evaluation class the r17 contamination census
    * found, BENCH_CONTAM_sf10.json; avoided here by construction). A superset envelope bins correctly, just at coarser
    * resolution. */
  private[graft] def ivfLayoutEnvelope(spark: SparkSession,
      dir: String): Option[Connectors.ZEnvelope] = {
    val env = base(spark, dir)
      .agg(min("vec_id").cast("long"), max("vec_id").cast("long")).head()
    if (env.isNullAt(0)) None
    else {
      val (lo, hi) = (env.getLong(0), env.getLong(1))
      val n = corpusN(spark, dir)
      val stride = ivfStride(n)
      val clo = ((lo + stride - 1) / stride) * stride // smallest centroid id
      val chi = (hi / stride) * stride                // largest centroid id
      if (clo > chi) None else Some(Connectors.ZEnvelope(clo, chi, lo, hi, n))
    }
  }

  /** The IVF coarse assignment shared by the index build and the QUERY-side
    * probe routing: centroids at every `ivfStride`-th id, broadcast; each
    * vector keeps its k nearest cells. */
  private def ivfAssign(spark: SparkSession, dir: String,
      df: DataFrame, k: Int): DataFrame =
    assignToCells(df, releaseCentroids(spark, dir), k)

  /** The release quantizer: centroids at every `ivfStride`-th id, as the
    * one-row centroid table assignToCells broadcasts — release-scoped state
    * a streaming admission binds ONCE at job start (m4o persists it across
    * micro-batches) and batch callers derive inline. */
  private[graft] def releaseCentroids(spark: SparkSession, dir: String): DataFrame =
    centroidTable(base(spark, dir)
      .filter(col("vec_id") % ivfStride(corpusN(spark, dir)) === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("norm").as("cnorm")))

  /** √N `(cent_id, cv, cnorm)` rows → ONE row holding them as the array
    * `graft_nearest_cells` scans. An empty centroid set collapses to no row,
    * so assigning against it keeps no vector. */
  private[graft] def centroidTable(cents: DataFrame): DataFrame =
    cents.agg(collect_list(struct(col("cent_id"), col("cv"), col("cnorm"))).as("cents"))
      .filter(size(col("cents")) > 0)

  /** Raw embeddings rows → the (vec_id, v, norm) frame every IVF path
    * consumes — shared with the streaming admission, whose micro-batches
    * arrive as raw parquet rows. */
  private[graft] def withVecNorm(spark: SparkSession, raw: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    raw.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
  }

  /** Nearest-cell assignment against a given (frozen) centroid table
    * (releaseCentroids) — the coarse-quantizer core shared by the index
    * build, query-side probe routing, the incremental admissions, and the
    * streaming admission.
    *
    * One map-side pass: the one-row centroid table broadcasts and
    * `graft_nearest_cells` picks each vector's `k` best cells in the order
    * `row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id)`
    * would, with no N×√N scored frame, no sort and no join back to the
    * input. k = 1 reads the cell straight off the result; k > 1 explodes
    * it, best cell first. Every input row is kept, so `vec_id` needs to be
    * a key only for the caller's own reads. */
  private[graft] def assignToCells(df: DataFrame, cents: DataFrame,
      k: Int = 1): DataFrame = {
    val near = call_function("graft_nearest_cells",
      col("v"), col("norm"), col("cents"), lit(k))
    df.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("norm"),
        (if (k == 1) near.getItem(0) else explode(near)).as("cell"))
  }

  /** M6: IVF index-health report — the one-row release artifact an ANN
    * index build publishes next to the index: cell count, population
    * min/max/mean and the imbalance factor (max/mean). IVF search cost per
    * probe is the PROBED CELL's size, so imbalance is the number that says
    * whether p99 latency will hold — a balanced index sits near 1, a
    * degenerate quantizer concentrates the corpus in few cells. Same
    * broadcast-centroid assignment as the searches; the report is a single
    * map-side-combined cell count plus a scalar aggregate. */
  def ivfStats(spark: SparkSession, dir: String): DataFrame = {
    val cells = DedupStaging.ivfCells(spark, dir)
      .groupBy("cell").agg(count(lit(1)).as("pop"))
    cells.agg(
        count(lit(1)).as("n_cells"),
        sum("pop").as("n_vectors"),
        min("pop").as("min_pop"),
        max("pop").as("max_pop"))
      .select(col("n_cells"), col("n_vectors"), col("min_pop"), col("max_pop"),
        rnd(col("n_vectors").cast("double") / col("n_cells").cast("double"), 4)
          .as("mean_pop"),
        rnd(col("max_pop").cast("double") * col("n_cells").cast("double")
          / col("n_vectors").cast("double"), 4).as("imbalance"))
  }

  private def ivfSearch(spark: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val b = base(spark, dir)
    // corpus side: the staged index (vectors grouped by cell); query side:
    // probe routing is query-time work by nature — nprobe nearest centroids
    // against the broadcast centroid set, never a corpus pass
    val corpus = DedupStaging.ivfCells(spark, dir)
    val probes = ivfAssign(spark, dir,
      b.filter(col("vec_id") % strideOf(spark, dir) === 0), nprobe).select(
      col("vec_id").as("q_id"), col("v").as("qv"), col("norm").as("qnorm"), col("cell"))
    topKBySim(corpus.join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", dot(col("qv"), col("v")) / (col("norm") * col("qnorm"))))
  }

  /** M6: incremental ANN-index admission — an embedding batch ADMITTED into
    * the released IVF index without rebuilding it, the m6_incremental_index
    * production shape applied to the dense side: the staged `ivf_cells` is
    * referenced zero-copy as the catalog's base member
    * (Connectors.appendMemberRef, O(1) metadata), the batch's vectors are
    * assigned to their nearest RELEASE centroid (the quantizer is
    * release-scoped state — production IVF indexes admit against frozen
    * centroids and re-train only at the next release) in one
    * O(batch · √N) broadcast argmax, and the delta rows are appended
    * through the atomic manifest commit (Connectors.appendTo). The search
    * half then runs the fixed probe workload (nprobe = 2, the m6_ann_ivf2
    * posture) over corpus + admissions reading the catalog — batch vectors
    * are rankable the moment the append commits, flagged `from_batch`.
    *
    * The batch fixture: every 10th corpus vector re-arrives at
    * vec_id + plantOffset with its dimensions REVERSED — deterministic in
    * both engines (Spark `reverse`, DuckDB `list_reverse`), norm recomputed
    * over the reversed order (both engines fold left-to-right, so the
    * replay is bit-identical). Work: O(batch) admission, O(probed cells)
    * search; the corpus is never re-assigned, never copied. */
  def incrementalIvf(spark: SparkSession, dir: String): DataFrame =
    withFromBatch(spark, dir, ivfCatalogSearch(spark, dir,
      admittedIvfCells(spark, dir, "graft-inc-ivf-"), None))

  /** The release + admitted-batch IVF catalog fixture shared by the dense
    * index-lifecycle queries (m6_incremental_ivf, m6_ann_forget,
    * m6_ann_purge, m6_ann_compact): the staged `ivf_cells` referenced
    * zero-copy as the base member, one O(batch) admission against the
    * frozen release centroids, generation file count scaled with the batch
    * (corpus/10 vectors — the r15-measured coalesce(1) fix: a 100 TB
    * admission must not serialize its many-GB generation write through
    * one task). Returns the cells table dir. */
  private[graft] def admittedIvfCells(spark: SparkSession, dir: String,
      prefix: String): String = {
    DedupStaging.ivfCells(spark, dir) // ensure the release index is committed
    val cells = s"${Connectors.scratchCatalog(prefix)}/cells"
    Connectors.appendMemberRef(spark, cells,
      DedupStaging.committedDataDir(dir, "ivf_cells").get)
    val off = plantOffset(spark, dir)
    val batch = base(spark, dir).filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + off).as("vec_id"), reverse(col("v")).as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    Connectors.appendTo(spark, cells, ivfAssign(spark, dir, batch, 1)
      .coalesce(Connectors.deltaFiles(corpusN(spark, dir) / 10)))
    cells
  }

  /** The forget-request admission shared by m6_ann_forget and m6_ann_purge:
    * every catalog vector with vec_id % 13 == 0 (originals and
    * admitted-batch twins both) lands in a sibling tombstone table through
    * one atomic append — O(forget) work, ids only (unlike BM25 the IVF
    * search carries no corpus-global statistic to correct). Returns the
    * tombstone table dir. */
  private[graft] def annTombstoneAdmit(spark: SparkSession, dir: String,
      cells: String): String = {
    val tomb = annTombstoneDirOf(cells)
    Connectors.appendTo(spark, tomb, annForgetIds(spark, dir))
    tomb
  }

  /** The tombstone table is a SIBLING of the cells table in the same
    * catalog root — fail fast if the derivation can't invert the path
    * (the tombstoneAdmit discipline on the BM25 side). */
  private[graft] def annTombstoneDirOf(cells: String): String = {
    require(cells.endsWith("/cells"),
      s"annTombstoneDirOf expects a .../cells table dir, got: $cells")
    s"${cells.stripSuffix("/cells")}/tombstones"
  }

  /** The dense forget-request fixture (every catalog vector with
    * vec_id % 13 == 0 — originals and admitted-batch twins both), shared
    * by the batch retraction (annTombstoneAdmit) and the streaming one
    * (m4r), so both sides retract the same set by construction. */
  private[graft] def annForgetIds(spark: SparkSession, dir: String): DataFrame = {
    val off = plantOffset(spark, dir)
    val ids = base(spark, dir).select("vec_id")
    ids.filter(col("vec_id") % 13 === 0)
      .unionAll(ids.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + off).as("vec_id"))
        .filter(col("vec_id") % 13 === 0))
  }

  /** The incremental-catalog IVF reader shared by the dense lifecycle
    * queries: the fixed nprobe=2 probe workload (the m6_ann_ivf2 posture)
    * over every committed member, with an optional tombstone table
    * anti-joined off the cell-keyed candidates BEFORE ranking (the
    * tombstone set broadcasts — a forget batch is request-sized, never
    * corpus-sized). Because the quantizer is release-frozen, the ranking
    * is independent of how the corpus was partitioned into admitted
    * members — one release member, release + delta, or a compacted single
    * generation all serve the same scores. */
  private[graft] def ivfCatalogSearch(spark: SparkSession, dir: String,
      cells: String, tomb: Option[String] = None): DataFrame = {
    val corpus0 = Connectors.readTable(spark, cells)
    val corpus = tomb.fold(corpus0)(t => corpus0.join(
      broadcast(Connectors.readTable(spark, t)), Seq("vec_id"), "left_anti"))
    val qs = ivfAssign(spark, dir,
        base(spark, dir).filter(col("vec_id") % strideOf(spark, dir) === 0), 2)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("norm").as("qnorm"), col("cell"))
    topKBySim(corpus.join(qs, Seq("cell"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("sim", dot(col("qv"), col("v")) / (col("norm") * col("qnorm"))))
  }

  /** The admitted-batch flag the incremental/lifecycle queries report. */
  private[graft] def withFromBatch(spark: SparkSession, dir: String,
      served: DataFrame): DataFrame =
    served.withColumn("from_batch", col("vec_id") >= plantOffset(spark, dir))

  /** M6: ANN right-to-be-forgotten retraction — m6_index_forget's
    * governance shape applied to the dense side: a forget request (vector
    * ids — the embeddings of erased documents) is admitted into the served
    * IVF catalog as ONE atomic tombstone append, O(forget) work (ids only:
    * unlike BM25 the IVF search carries no corpus-global statistic, so
    * there is no stats row to correct — centroids are release-frozen by
    * design, exactly as the incremental admission treats them). The search
    * anti-joins the broadcast tombstones off the cell-keyed candidates
    * BEFORE ranking, so retained pair scores are untouched and the served
    * top-10 is exactly the un-forgotten ranking with tombstoned rows
    * deleted and the tail promoted (LlmPillarSpec pins that prefix
    * property). Physical removal is deferred to the next compaction — the
    * deletion-vector production shape. Forget set: every catalog vector
    * with vec_id % 13 == 0 (originals and admitted-batch twins both). */
  def annForget(spark: SparkSession, dir: String): DataFrame = {
    val cells = admittedIvfCells(spark, dir, "graft-ann-forget-")
    withFromBatch(spark, dir, ivfCatalogSearch(spark, dir, cells,
      Some(annTombstoneAdmit(spark, dir, cells))))
  }

  /** M6: dense physical purge — the erasure half GDPR actually requires on
    * the ANN side, m6_index_purge's twin: the tombstones m6_ann_forget
    * serves around are APPLIED at the next rewrite (the Delta/Iceberg
    * "deletion vectors materialize at OPTIMIZE" production shape): the
    * cells catalog is republished without the tombstoned vectors through
    * the atomic pointer flip, and the subsequent search runs with NO
    * tombstone table at all — the forgotten embeddings' bytes are gone
    * from the served snapshot, not merely masked (superseded members
    * survive one commit window for in-flight readers, then the sweep
    * removes the last physical copy). Served answers are identical before
    * and after the purge — the oracle is m6_ann_forget's replay VERBATIM,
    * the same changes-bytes-not-answers statement the BM25 twin makes.
    * Unlike BM25 there is no stats manifest to collapse: IVF search
    * carries no corpus-global statistic, and centroids stay
    * release-frozen through the rewrite. */
  def annPurge(spark: SparkSession, dir: String): DataFrame = {
    val cells = admittedIvfCells(spark, dir, "graft-ann-purge-")
    val tomb = annTombstoneAdmit(spark, dir, cells)
    Connectors.replaceTable(spark, cells,
      Connectors.readTable(spark, cells).join(
        broadcast(Connectors.readTable(spark, tomb)), Seq("vec_id"), "left_anti"))
    withFromBatch(spark, dir, ivfCatalogSearch(spark, dir, cells, None))
  }

  /** M6: ANN-index OPTIMIZE — the compaction leg of the dense index
    * lifecycle, m6_index_compact's twin: after admissions accumulate
    * members (a zero-copy release ref + one delta generation per batch),
    * `Connectors.compact` rewrites the cells catalog to a single owned
    * generation through the same atomic pointer flip — readers see the
    * member'd catalog until the rename and the compacted one after, never
    * a mix. Compaction changes BYTES, not answers: the quantizer is
    * release-frozen and each vector's cell assignment rides with its row,
    * both invariant under re-membering, so the post-compact search serves
    * bit-identical rankings — the oracle is m6_incremental_ivf's replay
    * VERBATIM. At 100 TB this runs per release window, not per batch; the
    * payoff is one generation's worth of right-sized files instead of
    * one-per-admission, and the external base ref's lifetime ends. */
  def annCompact(spark: SparkSession, dir: String): DataFrame = {
    val cells = admittedIvfCells(spark, dir, "graft-ann-compact-")
    Connectors.compact(spark, cells)
    withFromBatch(spark, dir, ivfCatalogSearch(spark, dir, cells, None))
  }

  /** M6: embedding-cosine near-duplicate pairs — the semantic-dedup
    * complement of the lexical MinHash/SimHash paths: bucket-blocked
    * pairs within each sign-LSH bucket, verified at cosine ≥ 0.95,
    * first-id-wins keeper. Same scale story as annLsh: the join is
    * equi-keyed on (multi-)probe buckets, never corpus × corpus, and the
    * quadratic within-bucket term is bounded by sizing `bits` ∝ log₂ N
    * (see signBucket). Boundary-straddling pairs — sign patterns differing
    * on a dimension that sits within `eps` of a hyperplane — are recovered
    * by multi-probing the one-bit flips of low-confidence dimensions; the
    * pair is emitted id-sorted and deduped, since both directions of a
    * probe can find it.
    *
    * The synthetic corpus has no natural near-dups (max pairwise cosine
    * ≈ 0.51), so — like exactDedup — every 20th vector is re-injected with
    * its first coordinate scaled 1.1×, deterministically in both engines:
    * cosine(v, v′) ≈ 0.999 and the sign pattern is unchanged, so each
    * planted pair must surface through its shared bucket. The copies take
    * ids at max(vec_id) + 1 + original (plantOffset — collision-free at
    * any corpus size, derived identically in the oracle). */
  def embedDedup(spark: SparkSession, dir: String, bits: Int = 8,
      eps: Double = 0.1): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val orig = Tables.fanout(Tables.embeddings(spark, dir)).select(
      col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val copies = orig.filter(col("vec_id") % 20 === 0).select(
      (col("vec_id") + plantOffset(spark, dir)).as("vec_id"),
      transform(col("v"), (x, i) => when(i === 0, x * 1.1).otherwise(x)).as("v"))
    val b = orig.unionAll(copies)
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
      .withColumn("bucket", signBucket(col("v"), bits))
    // left side fans out to its probe set; right side stays on its own bucket
    val probed = b.select(col("vec_id").as("xid"), col("v").as("va"),
        col("norm").as("na"),
        explode(probeBuckets(col("v"), col("bucket"), bits, eps)).as("bucket"))
    val target = b.select(col("vec_id").as("yid"), col("v").as("vb"),
      col("norm").as("nb"), col("bucket"))
    probed.join(target, Seq("bucket"))
      .filter(col("xid") =!= col("yid"))
      .withColumn("sim", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("sim") >= 0.95)
      .select(least(col("xid"), col("yid")).as("vec_a"),
        greatest(col("xid"), col("yid")).as("vec_b"),
        rnd(col("sim"), 4).as("sim"),
        least(col("xid"), col("yid")).as("keeper_id"))
      .dropDuplicates("vec_a", "vec_b")
  }

  /** M6: ANN index release gate — the one-row recall report an index build
    * publishes before a corpus release switches search traffic onto it
    * (the m6_lsh_eval precedent, applied to the production IVF-PQ+re-rank
    * stack): exact-top-10 ∩ re-ranked-top-10 per probe, reduced to hit
    * counts and the recall@10 ratio. All counting is exact integers; the
    * one double divide is pinned, so the report is bit-portable. The probe
    * batch is fixed-size, so both searches — and therefore the gate — cost
    * two searches regardless of corpus size. */
  def annEval(spark: SparkSession, dir: String): DataFrame = {
    val exact = cosineTopK(spark, dir).select(col("q_id"), col("vec_id"))
    // defensive dedup: the counting below uses the left join's row count as
    // the recall denominator, which is only the exact frame's cardinality
    // while the ann side is (q_id, vec_id)-unique. That uniqueness holds by
    // construction today (one cell per vector, row_number shortlist), but a
    // future nprobe/overlap change must degrade the GATE's precision, never
    // silently inflate its denominator — a no-op shuffle on a probe-batch-
    // sized frame buys that invariance
    val ann = annIvfPqRerank(spark, dir)
      .select(col("q_id").as("aq"), col("vec_id").as("av"))
      .dropDuplicates("aq", "av")
    exact.join(ann,
        col("q_id") === col("aq") && col("vec_id") === col("av"), "left")
      .agg(
        countDistinct(col("q_id")).as("n_queries"),
        count(lit(1)).as("n_expected"),
        count(col("av")).as("n_hits"))
      .select(col("n_queries"), col("n_expected"), col("n_hits"),
        rnd(col("n_hits").cast("double") / col("n_expected").cast("double"), 4)
          .as("recall_at_10"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m6_ann_eval"    -> annEval,
    "m6_rrf_fusion"  -> rrfFusion,
    "m6_rrf_fusion_ann" -> rrfFusionAnn,
    "m6_cosine_topk" -> cosineTopK,
    "m6_ann_lsh"     -> ((s, d) => annLsh(s, d, corpusBits(s, d))),
    "m6_ann_ivf"     -> annIvf,
    "m6_ann_ivf2"    -> annIvf2,
    "m6_incremental_ivf" -> incrementalIvf,
    "m6_ann_forget" -> annForget,
    "m6_ann_purge"  -> annPurge,
    "m6_ann_compact" -> annCompact,
    "m6_embed_dedup" -> ((s, d) => embedDedup(s, d, corpusBits(s, d))),
    "m6_embed_clusters" -> embedClusters,
    "m6_embed_quantize" -> embedQuantize,
    "m6_ann_sq8"        -> annSq8,
    "m6_ann_pq"         -> annPq,
    "m6_ann_ivfpq"      -> annIvfPq,
    "m6_ann_ivfpq_rerank" -> annIvfPqRerank,
    "m6_ivf_stats"      -> ivfStats)

  /** M6: semantic duplicate CLUSTERS (the SemDeDup shape): connected
    * components over the verified cosine near-dup pairs — keep-one-per-
    * cluster semantics for embedding space, sharing Dedup's
    * large-star/small-star contraction engine. */
  def embedClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
      embedDedup(spark, dir, corpusBits(spark, dir)).select("vec_a", "vec_b"),
      "vec_id")

  /** M6: int8 scalar quantization — the 4× storage/bandwidth compression
    * every large ANN index applies before the rerank stage: per-DIMENSION
    * corpus min/max (one 64-row aggregate) define an affine map onto
    * 0..255; each coordinate ships as its code plus the shared per-dim
    * scale. Shape at 100 TB: the stats frame is dimension-sized (tiny,
    * broadcast); the codes are a narrow projection of the exploded
    * coordinates — no shuffle of the vectors themselves. All arithmetic is
    * IEEE doubles in fixed order (the Exact.rnd half-up pattern for the
    * code), so codes and reconstruction errors replay bit-for-bit in the
    * oracle; `in_bound` asserts |x − dequant(code)| ≤ scale/2, the
    * quantizer's defining guarantee. */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame = {
    val ex = Tables.fanout(Tables.embeddings(spark, dir))
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("dim"), col("xf").cast("double").as("x"))
    val stats = ex.groupBy("dim").agg(min("x").as("mn"), max("x").as("mx"))
      .withColumn("scale", (col("mx") - col("mn")) / 255.0)
    ex.join(broadcast(stats), Seq("dim"))
      .withColumn("code",
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(floor((col("x") - col("mn")) / col("scale") + 0.5))
          .cast("int"))
      .withColumn("deq", col("mn") + col("code") * col("scale"))
      .select(col("vec_id"), col("dim"), col("code"),
        rnd(col("deq"), 6).as("dequant"),
        (abs(col("x") - col("deq")) <= col("scale") / 2 + lit(1e-12)).as("in_bound"))
  }

  /** M6: PQ-ADC search (the FAISS IndexPQ shape) — product quantization,
    * the other standard ANN compression axis next to scalar int8 (annSq8):
    * the 64-dim space splits into M=32 subspaces of 2 dims; each subspace
    * has a K=16-entry codebook seeded from deterministic id-spread source
    * vectors (vec_id multiples of ⌊N/16⌋, the ivfStride/codebook
    * precedent) and then REFINED by one Lloyd (k-means) iteration — assign
    * every subvector to its nearest seed codeword, recompute each codeword
    * as its cell's mean — the standard PQ training step, held at a fixed
    * iteration count so the oracle replays it. A vector is stored as
    * 32 nearest-codebook codes = 32 NIBBLES = 16 bytes, a 16× compression
    * of the float index (LlmPillarSpec pins the measured mean top-10
    * recall floor; narrower subspaces beat wider ones at
    * equal code budget because each 2-dim cell is quantized against codes
    * drawn from its own marginal distribution). Search is ASYMMETRIC distance computation: the query stays
    * full-precision and scores against each vector's codebook
    * reconstruction, here materialized by flattening the chosen per-
    * subspace codewords back into a 64-dim vector so the scoring plan is
    * EXACTLY the annSq8/cosineTopK shape (probes broadcast, corpus never
    * shuffles, native codegen'd dot).
    *
    * 100 TB shape: the codebook is M·K·d doubles (kilobytes, broadcast);
    * encoding is corpus × M·K bounded rows collapsed by a map-side-
    * combined min(struct(d2, c)) keyed agg — no window over the corpus,
    * no shuffle of the vectors; the Lloyd means are M·K-keyed aggregates
    * of the same shape; the stored index is 16 bytes/vector.
    * Determinism: subspace L2² distances fold left-to-right in double via
    * graft_dot over the element differences, ties break on the smaller
    * code, and reconstruction order is the subspace index. The Lloyd mean
    * is the one place a naive build would lose the oracle: a float sum's
    * value depends on accumulation order, which Spark does not fix. Each
    * coordinate is therefore summed as a half-up FIXED-POINT integer
    * (⌊x·10⁶ + 0.5⌋ as long — exact, associative, order-free) and divided
    * back in one pinned order (sum→double, /count, /10⁶), so the refined
    * codeword replays bit-identically in DuckDB regardless of either
    * engine's aggregation order. */
  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val b = base(spark, dir)
    // search-time plan: staged 16-byte codes + staged kilobyte codebook →
    // reconstructions; the corpus floats are only read for the probe side
    val cb = DedupStaging.pqCodebook(spark, dir)
    val chosen = DedupStaging.pqCodes(spark, dir)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("s", "c")))
    pqTopK(spark, dir, b, pqReconstruct(chosen, cb))
  }

  /** (M, d, K): 32 subspaces × 2 dims, 16 codes each — 32 nibbles/vector. */
  private[graft] val PqGeom = (32, 2, 16)

  /** Seed codebook subspace slices (c, s, cs): K id-spread source vectors,
    * split into the M d-dim subspaces. */
  private def pqSeedCodebook(spark: SparkSession, dir: String,
      b: DataFrame): DataFrame = {
    val (m, d, k) = PqGeom
    val cbStride = math.max(1L, corpusN(spark, dir) / k)
    b.filter(col("vec_id") % cbStride === 0 &&
        expr(s"vec_id div $cbStride") < k)
      .select(expr(s"vec_id div $cbStride").as("c"), col("v").as("cv"))
      .select(col("c"), explode(sequence(lit(0), lit(m - 1))).as("s"), col("cv"))
      .select(col("c"), col("s"),
        slice(col("cv"), (col("s") * d + 1).cast("int"), lit(d)).as("cs"))
  }

  /** The corpus split into (vec_id, s, vs) subvectors. */
  private def pqSubvectors(b: DataFrame): DataFrame = {
    val (m, d, _) = PqGeom
    b.select(col("vec_id"), explode(sequence(lit(0), lit(m - 1))).as("s"), col("v"))
      .select(col("vec_id"), col("s"),
        slice(col("v"), (col("s") * d + 1).cast("int"), lit(d)).as("vs"))
  }

  /** Nearest-codeword assignment of every subvector against `cb`, carrying
    * the subvector itself for the Lloyd mean (it is constant per
    * (vec_id, s) group, so it never influences the min(struct) tie-break —
    * (d2, c) pairs are already distinct). */
  private def pqAssign(b: DataFrame, cb: DataFrame): DataFrame =
    pqSubvectors(b).join(broadcast(cb), Seq("s"))
      .withColumn("diff", zip_with(col("vs"), col("cs"), (x, y) => x - y))
      .withColumn("d2", dot(col("diff"), col("diff")))
      .groupBy("vec_id", "s")
      .agg(min(struct(col("d2"), col("c"), col("vs"))).as("mn"))
      .select(col("vec_id"), col("s"), col("mn.c").as("c"), col("mn.vs").as("vs"))

  /** The staged-codebook build (DedupStaging.pqCodebook). */
  private[operators] def pqCodebookBuild(spark: SparkSession, dir: String): DataFrame =
    pqRefinedCodebook(spark, dir, base(spark, dir))

  /** The staged-codes build (DedupStaging.pqCodes): every corpus vector
    * encoded against the refined codebook as its M codes in subspace
    * order — the compressed index itself. */
  private[operators] def pqCodesBuild(spark: SparkSession, dir: String,
      cb: DataFrame): DataFrame =
    pqAssign(base(spark, dir), cb)
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("s"), col("c")))),
        x => x.getField("c").cast("int")).as("codes"))

  /** One Lloyd iteration over the seed codebook: per-cell fixed-point-exact
    * means (see annPq's determinism note); a cell that captured no
    * subvectors keeps its seed codeword. */
  private def pqRefinedCodebook(spark: SparkSession, dir: String,
      b: DataFrame): DataFrame = {
    val seed = pqSeedCodebook(spark, dir, b)
    val sums = pqAssign(b, seed).groupBy("c", "s").agg(
      count(lit(1)).as("cnt"),
      sum(floor(element_at(col("vs"), 1) * 1e6 + 0.5).cast("long")).as("sx0"),
      sum(floor(element_at(col("vs"), 2) * 1e6 + 0.5).cast("long")).as("sx1"))
    seed.join(sums, Seq("c", "s"), "left")
      .select(col("c"), col("s"),
        when(col("cnt").isNull, col("cs")).otherwise(array(
          col("sx0").cast("double") / col("cnt") / lit(1e6),
          col("sx1").cast("double") / col("cnt") / lit(1e6))).as("cs"))
  }

  /** Codes (vec_id, s, c) → reconstructed vectors (vec_id, rv, rnorm):
    * the ADC target. */
  private def pqReconstruct(chosen: DataFrame, cb: DataFrame): DataFrame =
    chosen.join(broadcast(cb), Seq("c", "s"))
      .groupBy("vec_id")
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("s"), col("cs")))),
        x => x.getField("cs"))).as("rv"))
      .withColumn("rnorm", sqrt(dot(col("rv"), col("rv"))))

  /** Full-precision probes against the reconstructions — the cosineTopK
    * scoring shape over the compressed index. */
  private def pqTopK(spark: SparkSession, dir: String, b: DataFrame,
      recon: DataFrame): DataFrame =
    topKBySim(recon.crossJoin(broadcast(probes(spark, dir, b)))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim",
        dot(col("qv"), col("rv")) / (col("rnorm") * col("qnorm"))))

  /** Centroid vectors keyed by the cell id they define (a cell's id IS its
    * centroid's vec_id) — the √N-row broadcast table the residual
    * subtraction and the IVF-PQ decode both read. */
  private def ivfCentroidVectors(spark: SparkSession, dir: String): DataFrame = {
    val stride = ivfStride(corpusN(spark, dir))
    base(spark, dir).filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("cell"), col("v").as("cv"))
  }

  /** The IVF-PQ training/encoding input: every corpus vector minus its
    * cell's centroid (vec − centroid, element-wise — exact IEEE
    * subtraction, so the oracle replays it bit-identically). Encoding
    * residuals instead of raw vectors is what makes IVF-PQ beat flat PQ at
    * equal code budget: within a cell the residual distribution is centered
    * and tight, so the same 16-entry-per-subspace codebook spends its codes
    * on local structure instead of re-describing the coarse cell position
    * the inverted list already encodes. Reads the staged cells; the
    * subtraction is a map-side zip against the broadcast centroid table. */
  private def ivfResiduals(spark: SparkSession, dir: String): DataFrame =
    DedupStaging.ivfCells(spark, dir)
      .join(broadcast(ivfCentroidVectors(spark, dir)), Seq("cell"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("v"), col("cv"), (x, c) => x - c).as("v"))

  /** The staged IVF-PQ codebook build: the same seed + one-Lloyd-iteration
    * training as flat PQ (pqRefinedCodebook), run over RESIDUALS. */
  private[operators] def ivfPqCodebookBuild(spark: SparkSession, dir: String): DataFrame =
    pqRefinedCodebook(spark, dir, ivfResiduals(spark, dir))

  /** The staged IVF-PQ codes build: every corpus residual encoded against
    * the residual codebook, carrying the vector's cell — (vec_id, cell,
    * codes[M]) is exactly FAISS IndexIVFPQ's inverted-list payload (list id
    * + 16-byte code per vector). */
  private[operators] def ivfPqCodesBuild(spark: SparkSession, dir: String,
      cb: DataFrame): DataFrame = {
    val res = ivfResiduals(spark, dir)
    pqAssign(res, cb)
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("s"), col("c")))),
        x => x.getField("c").cast("int")).as("codes"))
      .join(res.select("vec_id", "cell"), Seq("vec_id"))
  }

  /** M6: IVF-PQ ADC search (the FAISS IndexIVFPQ shape) — the production
    * large-corpus ANN index: IVF's inverted lists bound the candidate set
    * (only the query's nprobe=2 nearest cells are scanned) and PQ's 16-byte
    * residual codes bound the memory per candidate — the two compression
    * axes composed, which is what actually serves billion-vector corpora.
    * Search is asymmetric: the full-precision query scores against
    * centroid + decoded-residual reconstructions of only the probed cells'
    * codes.
    *
    * 100 TB shape: the staged index is (vec_id, cell, 16-byte codes) — the
    * float corpus is never read at search time except for the probe rows;
    * the codebook (kilobytes) and the √N-row centroid table broadcast; the
    * candidate join is equi-keyed on cell (each corpus vector lives in ONE
    * cell, so the nprobe=2 union needs no dedup); decode + add-centroid is
    * map-side; ranking reuses the exact-search top-k shape. Determinism:
    * residual subtraction and centroid re-addition are element-wise IEEE
    * ops in pinned order; everything else inherits the flat-PQ
    * determinism contract (left-to-right folds, fixed-point Lloyd means,
    * ties to the smaller code / cent_id). */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame =
    topKBySim(ivfPqAdcSims(spark, dir, base(spark, dir)))

  /** The skinny ADC-scored candidate frame (q_id, vec_id, sim) behind both
    * IVF-PQ searches: decoded-residual + centroid reconstructions of the
    * probed cells' codes, scored against full-precision queries. */
  private def ivfPqAdcSims(spark: SparkSession, dir: String,
      b: DataFrame): DataFrame = {
    val cb = DedupStaging.ivfPqCodebook(spark, dir)
    val chosen = DedupStaging.ivfPqCodes(spark, dir)
      .select(col("vec_id"), col("cell"), posexplode(col("codes")).as(Seq("s", "c")))
    val recon = chosen.join(broadcast(cb), Seq("c", "s"))
      .groupBy("vec_id", "cell")
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("s"), col("cs")))),
        x => x.getField("cs"))).as("rr"))
      .join(broadcast(ivfCentroidVectors(spark, dir)), Seq("cell"))
      .withColumn("rv", zip_with(col("cv"), col("rr"), (c, r) => c + r))
      .withColumn("rnorm", sqrt(dot(col("rv"), col("rv"))))
    val qs = ivfAssign(spark, dir,
      b.filter(col("vec_id") % strideOf(spark, dir) === 0), 2)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("norm").as("qnorm"), col("cell"))
    recon.join(qs, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", dot(col("qv"), col("rv")) / (col("rnorm") * col("qnorm")))
      .select(col("q_id"), col("vec_id"), col("sim"))
  }

  /** ADC shortlist depth for the refine stage: 8 × k — a MEASURED choice,
    * not the FAISS k_factor=4 folklore: on this corpus/index geometry
    * (8 coarse cells, nprobe=2, 16-byte residual codes) mean recall@10 is
    * 0.49 / 0.61 / 0.75 / 0.77 at R = 10/20/40/80, and 0.77 IS the
    * structural ceiling (the flat-IVF nprobe=2 recall — exact re-scoring
    * of a shortlist can never beat exact-scoring every probed-cell
    * member), so R = 8k sits exactly on the plateau where 4k still left
    * 0.02 on the table (LlmPillarSpec's re-rank-depth case pins the curve
    * and the plateau). 80 exact dots per query remains trivial next to
    * the ADC scan. */
  private[graft] val RerankR = 80

  /** M6: IVF-PQ ADC search WITH the exact re-rank stage — the production
    * composition (FAISS IndexRefineFlat over IndexIVFPQ): the 16-byte ADC
    * scores produce a per-query shortlist of R = 4k candidates, which are
    * re-scored EXACTLY against the staged full-precision vectors
    * (ivf_cells — already resident for the coarse index) and re-ranked.
    * This recovers the recall the residual codes lose (ADC ordering errors
    * inside the shortlist vanish; only true cell misses remain), which is
    * why billion-vector deployments ship PQ with a refine stage rather
    * than widening the codes.
    *
    * 100 TB shape: the shortlist is probe-batch × R rows (kilobytes) and
    * BROADCASTS into the staged float corpus — the refine join is a
    * broadcast-semi over vec_id, so the corpus still never shuffles and
    * full-precision vectors are touched for exactly R rows per query; the
    * probes broadcast as in the exact baseline. Work per query is the ADC
    * scan (compressed) + R exact dots. Determinism: ADC sims are the
    * m6_ann_ivfpq values (raw doubles), shortlist ties break on vec_id,
    * and the exact re-score is the cosineTopK arithmetic verbatim. */
  def annIvfPqRerank(spark: SparkSession, dir: String): DataFrame =
    annIvfPqRerankAt(spark, dir, RerankR)

  /** The fixed-depth refine pipeline behind annIvfPqRerank (test surface:
    * LlmPillarSpec measures recall@10 across R ∈ {10, 20, 40, 80} — per-
    * query monotone by construction, and RerankR = 8k sits on the
    * structural plateau where the FAISS k_factor=4 folklore still left
    * 0.02 recall on the table — a measured choice for this corpus). */
  private[graft] def annIvfPqRerankAt(spark: SparkSession, dir: String,
      r: Int): DataFrame =
    annIvfPqRerankOn(spark, dir, r, base(spark, dir))

  /** The refine pipeline parameterized over its probe-base frame `b`
    * (probe-side only — the index side always comes from the staged
    * tables), so `rrfFusionAnn` can run it on exactly the three fusion
    * probes. */
  private def annIvfPqRerankOn(spark: SparkSession, dir: String,
      r: Int, b: DataFrame): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))
    val shortlist = ivfPqAdcSims(spark, dir, b)
      .withColumn("arn", row_number().over(w))
      .filter(col("arn") <= r)
      .select(col("q_id"), col("vec_id"))
    val cand = DedupStaging.ivfCells(spark, dir)
      .select(col("vec_id"), col("v"), col("norm"))
      .join(broadcast(shortlist), Seq("vec_id"))
    topKBySim(cand.join(broadcast(probes(spark, dir, b)), Seq("q_id"))
      .withColumn("sim", dot(col("qv"), col("v")) / (col("norm") * col("qnorm"))))
  }

  /** M6: top-k search over the QUANTIZED index — what the int8 codes exist
    * for: the whole search (norms, dots, ranking) runs on dequantized
    * vectors, i.e. on 4×-compressed storage, with exact cosine as the
    * rerank baseline next door (m6_cosine_topk; LlmPillarSpec measures
    * recall between the two). Same physical shape as the exact search —
    * probes broadcast, corpus never shuffles, native codegen'd dot — plus
    * one dimension-sorted array rebuild off the code stream. Bit-exact
    * oracle: dequantization is fixed-order IEEE arithmetic. */
  def annSq8(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val deq = embedQuantize(spark, dir)
      .groupBy("vec_id")
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("dequant")))),
        s => s.getField("dequant")).as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    // probes() applies verbatim: deq carries the same (vec_id, v, norm)
    // shape as base — the compressed index gets the identical fixed-size
    // probe batch and stride rule as every other search
    topKBySim(deq.crossJoin(broadcast(probes(spark, dir, deq)))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", dot(col("qv"), col("v")) / (col("norm") * col("qnorm"))))
  }

  private val vSql = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
  private val normSql = "sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (a, b) -> a + b))"
  private val dotSql =
    "list_reduce(list_prepend(0.0, list_transform(list_zip(qv, v), p -> p[1] * p[2])), (a, b) -> a + b)"
  /** The same corpus-adaptive IVF stride as `ivfStride`, computed in-query
    * (see ivfStride for why floor-of-IEEE-sqrt agrees across engines). */
  private val strideSql =
    "strd AS (SELECT greatest(125, CAST(floor(sqrt(count(*))) AS BIGINT)) AS m FROM embeddings)"

  /** The same corpus-adaptive width as `lshBits`, computed in-query (see
    * lshBits for why the two formulations are exactly equal). */
  private val bitsSql =
    "bits AS (SELECT least(16, greatest(4, CAST(ceil(log2(count(*) / 16.0)) AS INTEGER))) AS b FROM embeddings)"

  /** Sign bucket over the first (SELECT b FROM bits) dimensions. */
  private val bucketSql = (v: String) =>
    s"CAST(list_sum(list_transform(range(0, (SELECT b FROM bits)), " +
      s"i -> CASE WHEN $v[i + 1] >= 0 THEN 1 << i ELSE 0 END)) AS BIGINT)"

  /** The cosine near-dup pipeline's full DuckDB replay — shared by its own
    * oracle and the cluster closure. */
  private lazy val embedDedupOracleSql: String =
    s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
        $bitsSql,
        off AS (SELECT max(vec_id) + 1 AS o FROM embeddings),
        u AS (SELECT vec_id, v FROM e
              UNION ALL
              SELECT vec_id + (SELECT o FROM off), list_prepend(v[1] * 1.1, v[2:]) FROM e
              WHERE vec_id % 20 = 0),
        n AS (SELECT vec_id, v, $normSql AS nrm, ${bucketSql("v")} AS bucket FROM u),
        pr AS (SELECT vec_id, v, nrm, unnest(list_prepend(bucket,
                 list_transform(list_filter(range(0, (SELECT b FROM bits)), i -> abs(v[i + 1]) < 0.1),
                   i -> xor(bucket, CAST(1 << i AS BIGINT))))) AS probe
               FROM n),
        p AS (SELECT least(a.vec_id, b.vec_id) AS vec_a,
                greatest(a.vec_id, b.vec_id) AS vec_b,
                list_reduce(list_prepend(0.0, list_transform(list_zip(a.v, b.v), q -> q[1] * q[2])), (x, y) -> x + y)
                  / (a.nrm * b.nrm) AS sim
              FROM pr a JOIN n b ON a.probe = b.bucket AND a.vec_id <> b.vec_id)
        SELECT DISTINCT vec_a, vec_b, ${sqlRnd("sim", 4)} AS sim,
               vec_a AS keeper_id
        FROM p WHERE sim >= 0.95"""

  /** Shared quantize replay (ex → per-dim stats → codes → dequant), closed
    * by the caller's SELECT — the quantize oracle and the sq8 search
    * oracle must derive from the SAME arithmetic or they couldn't both
    * hash-match the one engine-side pipeline. */
  private def QuantizeOracleBody(body: String): String =
    s"""WITH ex AS (SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
               CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x
             FROM embeddings, LATERAL unnest(range(1, len(embedding) + 1)) AS u(i)),
        st AS (SELECT dim, min(x) AS mn, max(x) AS mx,
                 (max(x) - min(x)) / 255.0 AS scale
               FROM ex GROUP BY 1),
        q AS (SELECT vec_id, dim, x, mn, mx, scale,
                CASE WHEN mx = mn THEN 0
                     ELSE CAST(floor((x - mn) / scale + 0.5) AS INTEGER) END AS code
              FROM ex JOIN st USING (dim)),
        d AS (SELECT vec_id, dim, code, mn + code * scale AS deq, x, scale FROM q)
        $body"""

  /** The probe-workload stride (probeStride) as a scalar subquery — the
    * same max(50, N/40) integer rule from the corpus row count. */
  private val probeStrideSql =
    "greatest(50, (SELECT count(*) FROM embeddings) // 40)"

  /** The PQ training/encoding replay shared by the flat-PQ and IVF-PQ
    * oracles (they differ ONLY in the encoded input — raw vectors vs cell
    * residuals): seed codebook from id-spread source rows of `$src.$vcol`,
    * one fixed-point-exact Lloyd iteration, argmin codes vs the refined
    * codebook. Ends at `ch` (vec_id, s, c) with `rcb` (the refined
    * codebook) in scope; parameterized so a fix to the Lloyd replay can
    * never desynchronize the two oracles. */
  private def pqReplaySql(src: String, vcol: String): String =
    s"""cstr AS (SELECT greatest(1, count(*) // 16) AS m FROM embeddings),
          cb AS (SELECT vec_id // (SELECT m FROM cstr) AS c, $vcol AS cv FROM $src
                 WHERE vec_id % (SELECT m FROM cstr) = 0
                   AND vec_id // (SELECT m FROM cstr) < 16),
          cbs AS (SELECT c, s,
                    cv[CAST(s * 2 + 1 AS INTEGER) : CAST(s * 2 + 2 AS INTEGER)] AS cs
                  FROM cb, LATERAL unnest(range(0, 32)) AS u(s)),
          vs AS (SELECT vec_id, s,
                   $vcol[CAST(s * 2 + 1 AS INTEGER) : CAST(s * 2 + 2 AS INTEGER)] AS vsub
                 FROM $src, LATERAL unnest(range(0, 32)) AS w(s)),
          dd0 AS (SELECT vec_id, vs.s, c, vsub,
                    list_reduce(list_prepend(0.0, list_transform(list_zip(vsub, cs),
                      p -> (p[1] - p[2]) * (p[1] - p[2]))), (a, b) -> a + b) AS d2
                  FROM vs JOIN cbs ON vs.s = cbs.s),
          a0 AS (SELECT vec_id, s, c, vsub FROM (
                   SELECT vec_id, s, c, vsub,
                     row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
                   FROM dd0) t WHERE rn = 1),
          sms AS (SELECT c, s, count(*) AS cnt,
                    sum(CAST(floor(vsub[1] * 1000000.0 + 0.5) AS BIGINT)) AS sx0,
                    sum(CAST(floor(vsub[2] * 1000000.0 + 0.5) AS BIGINT)) AS sx1
                  FROM a0 GROUP BY 1, 2),
          rcb AS (SELECT c, s,
                    CASE WHEN cnt IS NULL THEN cs
                         ELSE [CAST(sx0 AS DOUBLE) / cnt / 1000000.0,
                               CAST(sx1 AS DOUBLE) / cnt / 1000000.0] END AS cs
                  FROM cbs LEFT JOIN sms USING (c, s)),
          dd AS (SELECT vec_id, vs.s, c,
                   list_reduce(list_prepend(0.0, list_transform(list_zip(vsub, cs),
                     p -> (p[1] - p[2]) * (p[1] - p[2]))), (a, b) -> a + b) AS d2
                 FROM vs JOIN rcb ON vs.s = rcb.s),
          ch AS (SELECT vec_id, s, c FROM (
                   SELECT vec_id, s, c,
                     row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
                   FROM dd) t WHERE rn = 1)"""

  /** The shared IVF-PQ ADC replay CTE chain, ending at `p` — the skinny
    * (q_id, vec_id, sim) ADC scores — consumed by the raw-ADC oracle's
    * top-k and the refine oracle's shortlist/re-score (which also reads
    * `assigned` for the full-precision vectors and `n` for the probes). */
  private lazy val ivfPqAdcCtes: String =
    s"""e AS (SELECT vec_id, $vSql AS v FROM embeddings),
          $strideSql,
          n AS (SELECT vec_id, v, $normSql AS nrm FROM e),
          cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n
                    WHERE vec_id % (SELECT m FROM strd) = 0),
          scored AS (
            SELECT n.vec_id, n.v, n.nrm, c.cent_id,
              row_number() OVER (PARTITION BY n.vec_id ORDER BY
                list_reduce(list_prepend(0.0, list_transform(list_zip(n.v, c.cv), p -> p[1] * p[2])), (a, b) -> a + b)
                  / (n.nrm * c.cnrm) DESC, c.cent_id) AS crn
            FROM n CROSS JOIN cents c),
          assigned AS (
            SELECT vec_id, v, nrm, cent_id AS cell FROM scored WHERE crn = 1),
          res AS (SELECT a.vec_id, a.cell,
                    list_transform(list_zip(a.v, c.cv), p -> p[1] - p[2]) AS r
                  FROM assigned a JOIN cents c ON a.cell = c.cent_id),
          ${pqReplaySql("res", "r")},
          recr AS (SELECT vec_id, flatten(list(cs ORDER BY s)) AS rr
                   FROM ch JOIN rcb USING (c, s) GROUP BY vec_id),
          rcn AS (SELECT res.vec_id, res.cell,
                    list_transform(list_zip(c.cv, recr.rr), p -> p[1] + p[2]) AS rv
                  FROM recr JOIN res USING (vec_id)
                  JOIN cents c ON res.cell = c.cent_id),
          rcn2 AS (SELECT vec_id, cell, rv,
                     sqrt(list_reduce(list_prepend(0.0, list_transform(rv, x -> x * x)), (a, b) -> a + b)) AS rnorm
                   FROM rcn),
          q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, cent_id AS cell
                FROM scored WHERE vec_id % $probeStrideSql = 0 AND crn <= 2),
          p AS (SELECT q_id, rcn2.vec_id,
                  list_reduce(list_prepend(0.0, list_transform(list_zip(q.qv, rcn2.rv), t -> t[1] * t[2])), (x, y) -> x + y)
                    / (rcn2.rnorm * q.qnrm) AS sim
                FROM rcn2 JOIN q USING (cell) WHERE rcn2.vec_id <> q.q_id)"""

  /** The ADC chain extended by the refine stage: shortlist (sl), the
    * distinct full-precision probe frame (qq), and the exact re-scores
    * (ex) — shared by the rerank oracle and the release-gate oracle. */
  private lazy val ivfPqRerankCtes: String =
    s"""$ivfPqAdcCtes,
          sl AS (SELECT q_id, vec_id FROM (
                   SELECT q_id, vec_id,
                     row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS arn
                   FROM p) t WHERE arn <= $RerankR),
          qq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM n
                 WHERE vec_id % $probeStrideSql = 0),
          ex AS (SELECT sl.q_id, sl.vec_id,
                   list_reduce(list_prepend(0.0, list_transform(list_zip(qq.qv, av.v), pp -> pp[1] * pp[2])), (x, y) -> x + y)
                     / (av.nrm * qq.qnrm) AS sim
                 FROM sl JOIN assigned av ON sl.vec_id = av.vec_id
                         JOIN qq ON sl.q_id = qq.q_id)"""

  /** Incremental admission replay: batch = every 10th vector reversed at
    * vec_id + max(vec_id)+1, assigned to the RELEASE centroids (crn = 1
    * against the corpus-derived cents — never re-trained with the batch),
    * unioned with the corpus assignment; the nprobe=2 query side is the
    * m6_ann_ivf2 replay verbatim. ALSO the m6_ann_compact oracle verbatim:
    * compaction changes bytes, not answers. */
  private lazy val IncrementalIvfOracle: String =
    s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
          $strideSql,
          off AS (SELECT max(vec_id) + 1 AS o FROM embeddings),
          n AS (SELECT vec_id, v, $normSql AS nrm FROM e),
          cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n
                    WHERE vec_id % (SELECT m FROM strd) = 0),
          scored AS (
            SELECT n.vec_id, n.v, n.nrm, c.cent_id,
              row_number() OVER (PARTITION BY n.vec_id ORDER BY
                list_reduce(list_prepend(0.0, list_transform(list_zip(n.v, c.cv), p -> p[1] * p[2])), (a, b) -> a + b)
                  / (n.nrm * c.cnrm) DESC, c.cent_id) AS crn
            FROM n CROSS JOIN cents c),
          bat AS (SELECT vec_id + (SELECT o FROM off) AS vec_id,
                         list_reverse(v) AS v
                  FROM e WHERE vec_id % 10 = 0),
          bn AS (SELECT vec_id, v, $normSql AS nrm FROM bat),
          bscored AS (
            SELECT bn.vec_id, bn.v, bn.nrm, c.cent_id,
              row_number() OVER (PARTITION BY bn.vec_id ORDER BY
                list_reduce(list_prepend(0.0, list_transform(list_zip(bn.v, c.cv), p -> p[1] * p[2])), (a, b) -> a + b)
                  / (bn.nrm * c.cnrm) DESC, c.cent_id) AS crn
            FROM bn CROSS JOIN cents c),
          assigned AS (
            SELECT vec_id, v, nrm, cent_id AS cell FROM scored WHERE crn = 1
            UNION ALL
            SELECT vec_id, v, nrm, cent_id AS cell FROM bscored WHERE crn = 1),
          q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, cent_id AS cell
                FROM scored WHERE vec_id % $probeStrideSql = 0 AND crn <= 2),
          p AS (SELECT q_id, a.vec_id,
                  list_reduce(list_prepend(0.0, list_transform(list_zip(q.qv, a.v), r -> r[1] * r[2])), (x, y) -> x + y)
                    / (a.nrm * q.qnrm) AS sim
                FROM assigned a JOIN q USING (cell) WHERE a.vec_id <> q.q_id)
          SELECT q_id, vec_id, rnk, ${sqlRnd("sim", 4)} AS sim,
                 vec_id >= (SELECT o FROM off) AS from_batch FROM (
            SELECT q_id, vec_id, sim,
              row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
            FROM p) t
          WHERE rnk <= 10"""

  /** Forget replay: the incremental-admission replay with the tombstoned
    * candidates (vec_id % 13 = 0 over corpus AND batch ids) deleted from
    * the assigned set BEFORE ranking — queries and centroids stay
    * release-frozen, retained pair sims are untouched. ALSO the
    * m6_ann_purge oracle verbatim: the purge rewrite changes bytes, not
    * answers. */
  private lazy val AnnForgetOracle: String =
    s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
          $strideSql,
          off AS (SELECT max(vec_id) + 1 AS o FROM embeddings),
          n AS (SELECT vec_id, v, $normSql AS nrm FROM e),
          cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n
                    WHERE vec_id % (SELECT m FROM strd) = 0),
          scored AS (
            SELECT n.vec_id, n.v, n.nrm, c.cent_id,
              row_number() OVER (PARTITION BY n.vec_id ORDER BY
                list_reduce(list_prepend(0.0, list_transform(list_zip(n.v, c.cv), p -> p[1] * p[2])), (a, b) -> a + b)
                  / (n.nrm * c.cnrm) DESC, c.cent_id) AS crn
            FROM n CROSS JOIN cents c),
          bat AS (SELECT vec_id + (SELECT o FROM off) AS vec_id,
                         list_reverse(v) AS v
                  FROM e WHERE vec_id % 10 = 0),
          bn AS (SELECT vec_id, v, $normSql AS nrm FROM bat),
          bscored AS (
            SELECT bn.vec_id, bn.v, bn.nrm, c.cent_id,
              row_number() OVER (PARTITION BY bn.vec_id ORDER BY
                list_reduce(list_prepend(0.0, list_transform(list_zip(bn.v, c.cv), p -> p[1] * p[2])), (a, b) -> a + b)
                  / (bn.nrm * c.cnrm) DESC, c.cent_id) AS crn
            FROM bn CROSS JOIN cents c),
          assigned AS (
            SELECT vec_id, v, nrm, cent_id AS cell FROM scored
            WHERE crn = 1 AND vec_id % 13 <> 0
            UNION ALL
            SELECT vec_id, v, nrm, cent_id AS cell FROM bscored
            WHERE crn = 1 AND vec_id % 13 <> 0),
          q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, cent_id AS cell
                FROM scored WHERE vec_id % $probeStrideSql = 0 AND crn <= 2),
          p AS (SELECT q_id, a.vec_id,
                  list_reduce(list_prepend(0.0, list_transform(list_zip(q.qv, a.v), r -> r[1] * r[2])), (x, y) -> x + y)
                    / (a.nrm * q.qnrm) AS sim
                FROM assigned a JOIN q USING (cell) WHERE a.vec_id <> q.q_id)
          SELECT q_id, vec_id, rnk, ${sqlRnd("sim", 4)} AS sim,
                 vec_id >= (SELECT o FROM off) AS from_batch FROM (
            SELECT q_id, vec_id, sim,
              row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
            FROM p) t
          WHERE rnk <= 10"""

  val oracles: Map[String, String] = Map(
    // Hybrid fusion: the BM25 replay (TextAnalysis.Bm25CtesSql — the SAME
    // CTE chain the m6_bm25_topk oracle serves, so the two can never
    // drift) fused with a 3-probe exact-cosine replay; each RRF term is
    // one divide of exact integers, summed lexical-then-dense.
    "m6_rrf_fusion" ->
      s"""WITH ${TextAnalysis.Bm25CtesSql},
          ed AS (SELECT vec_id, $vSql AS v FROM embeddings),
          nd AS (SELECT vec_id, v, $normSql AS nrm FROM ed),
          qd AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM nd
                 WHERE vec_id % $probeStrideSql = 0
                   AND vec_id < 3 * $probeStrideSql),
          pd AS (SELECT q_id, vec_id, $dotSql / (nrm * qnrm) AS sim
                 FROM nd CROSS JOIN qd WHERE vec_id <> q_id),
          den AS (SELECT 'q' || CAST(q_id // $probeStrideSql + 1 AS VARCHAR)
                           AS query_id,
                         vec_id AS doc_id, rnk AS dense_rnk FROM (
                    SELECT q_id, vec_id, row_number() OVER (
                      PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
                    FROM pd) t WHERE rnk <= 10),
          lexr AS (SELECT query_id, doc_id, rnk AS lex_rnk FROM bm25),
          fused AS (SELECT coalesce(l.query_id, d.query_id) AS query_id,
                           coalesce(l.doc_id, d.doc_id) AS doc_id,
                           l.lex_rnk, d.dense_rnk,
                           coalesce(1.0 / (60.0 + CAST(l.lex_rnk AS DOUBLE)), 0.0)
                             + coalesce(1.0 / (60.0 + CAST(d.dense_rnk AS DOUBLE)), 0.0)
                             AS rrf
                    FROM lexr l FULL OUTER JOIN den d
                      ON l.query_id = d.query_id AND l.doc_id = d.doc_id)
          SELECT query_id, doc_id, rnk, lex_rnk, dense_rnk,
                 ${sqlRnd("rrf", 6)} AS rrf_score
          FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rnk
                FROM fused) t
          WHERE rnk <= 10""",
    // Hybrid fusion over the production dense stack: the SAME BM25 CTE
    // chain as m6_rrf_fusion's lexical leg, the SAME IVF-PQ ADC + refine
    // CTE chain as m6_ann_ivfpq_rerank's dense search (restricted to the
    // three fusion probes AFTER the per-query pipeline — probe restriction
    // commutes, see rrfFusionAnn's doc), the SAME RRF arithmetic. Any fix
    // to either replay propagates here automatically.
    "m6_rrf_fusion_ann" ->
      s"""WITH ${TextAnalysis.Bm25CtesSql},
          $ivfPqRerankCtes,
          den AS (SELECT 'q' || CAST(q_id // $probeStrideSql + 1 AS VARCHAR)
                           AS query_id,
                         vec_id AS doc_id, rnk AS dense_rnk FROM (
                    SELECT q_id, vec_id, row_number() OVER (
                      PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
                    FROM ex WHERE q_id < 3 * $probeStrideSql) t
                  WHERE rnk <= 10),
          lexr AS (SELECT query_id, doc_id, rnk AS lex_rnk FROM bm25),
          fused AS (SELECT coalesce(l.query_id, d.query_id) AS query_id,
                           coalesce(l.doc_id, d.doc_id) AS doc_id,
                           l.lex_rnk, d.dense_rnk,
                           coalesce(1.0 / (60.0 + CAST(l.lex_rnk AS DOUBLE)), 0.0)
                             + coalesce(1.0 / (60.0 + CAST(d.dense_rnk AS DOUBLE)), 0.0)
                             AS rrf
                    FROM lexr l FULL OUTER JOIN den d
                      ON l.query_id = d.query_id AND l.doc_id = d.doc_id)
          SELECT query_id, doc_id, rnk, lex_rnk, dense_rnk,
                 ${sqlRnd("rrf", 6)} AS rrf_score
          FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rnk
                FROM fused) t
          WHERE rnk <= 10""",
    // Same fixed-order IEEE arithmetic as the engine; the scale divide and
    // the half-up floor are single correctly-rounded ops, so codes match
    // exactly. in_bound replays the quantizer guarantee on both sides.
    "m6_embed_quantize" -> QuantizeOracleBody(
      s"""SELECT vec_id, dim, code, ${sqlRnd("deq", 6)} AS dequant,
                 abs(x - deq) <= scale / 2 + 1e-12 AS in_bound
          FROM d"""),
    // The quantize replay, codes rebuilt into dimension-ordered vectors,
    // then the exact-search topk shape over the dequantized index.
    "m6_ann_sq8" -> QuantizeOracleBody(
      s"""SELECT q_id, vec_id, rnk, ${sqlRnd("sim", 4)} AS sim FROM (
            SELECT q_id, vec_id, sim,
                   row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
            FROM (SELECT q_id, vec_id, $dotSql / (nrm * qnrm) AS sim
                  FROM (SELECT vec_id, v, $normSql AS nrm
                        FROM (SELECT vec_id, list(${sqlRnd("deq", 6)} ORDER BY dim) AS v
                              FROM d GROUP BY 1) lv) n
                  CROSS JOIN (SELECT vec_id AS q_id, v AS qv, $normSql AS qnrm
                              FROM (SELECT vec_id, list(${sqlRnd("deq", 6)} ORDER BY dim) AS v
                                    FROM d GROUP BY 1) lq
                              WHERE vec_id % $probeStrideSql = 0) qp
                  WHERE vec_id <> q_id) p) r
          WHERE rnk <= 10"""),
    // PQ-ADC replay: seed codebook from id-spread source vectors, one Lloyd
    // iteration (per-subspace argmin vs the seed, then per-cell fixed-point-
    // exact means — see pqRefinedCodebook's determinism note), per-subspace
    // argmin codes vs the REFINED codebook (same left-to-right squared-
    // difference fold), ordered flatten reconstruction, then the exact-
    // search topk shape with full-precision queries against the
    // reconstructions.
    "m6_ann_pq" ->
      s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
          ${pqReplaySql("e", "v")},
          rec AS (SELECT vec_id, flatten(list(cs ORDER BY s)) AS rv
                  FROM ch JOIN rcb USING (c, s) GROUP BY vec_id),
          rcn AS (SELECT vec_id, rv,
                    sqrt(list_reduce(list_prepend(0.0, list_transform(rv, x -> x * x)), (a, b) -> a + b)) AS rnorm
                  FROM rec),
          q AS (SELECT vec_id AS q_id, v AS qv, $normSql AS qnorm FROM e
                WHERE vec_id % $probeStrideSql = 0),
          p AS (SELECT q_id, rcn.vec_id,
                  list_reduce(list_prepend(0.0, list_transform(list_zip(qv, rv),
                    r -> r[1] * r[2])), (x, y) -> x + y) / (rnorm * qnorm) AS sim
                FROM rcn CROSS JOIN q WHERE rcn.vec_id <> q.q_id)
          SELECT q_id, vec_id, rnk, ${sqlRnd("sim", 4)} AS sim FROM (
            SELECT q_id, vec_id, sim,
              row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
            FROM p) t
          WHERE rnk <= 10""",
    // IVF-PQ replay: the IVF assignment (crn=1) supplies cells, residual =
    // v − centroid (exact element-wise IEEE subtraction), then the flat-PQ
    // replay (seed → one Lloyd iteration → argmin codes) runs over the
    // RESIDUALS, reconstruction re-adds the centroid, and the nprobe=2
    // query side (crn <= 2) joins the probed cells — each CTE is the
    // corresponding m6_ann_ivf2 / m6_ann_pq CTE with `v` swapped for `r`.
    "m6_ann_ivfpq" ->
      s"""WITH $ivfPqAdcCtes
          SELECT q_id, vec_id, rnk, ${sqlRnd("sim", 4)} AS sim FROM (
            SELECT q_id, vec_id, sim,
              row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
            FROM p) t
          WHERE rnk <= 10""",
    // The refine replay: ADC top-40 shortlist per query (ties to the
    // smaller vec_id, as in the engine window), re-scored exactly against
    // the assigned full-precision vectors, re-ranked to top-10.
    "m6_ann_ivfpq_rerank" ->
      s"""WITH $ivfPqRerankCtes
          SELECT q_id, vec_id, rnk, ${sqlRnd("sim", 4)} AS sim FROM (
            SELECT q_id, vec_id, sim,
              row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
            FROM ex) t
          WHERE rnk <= 10""",
    // The release-gate replay: re-ranked top-10 (rr10) against the exact
    // top-10 (ek — the m6_cosine_topk CTEs over the shared n/qq frames),
    // reduced to exact hit counts and one pinned divide.
    "m6_ann_eval" ->
      s"""WITH $ivfPqRerankCtes,
          rr10 AS (SELECT q_id, vec_id FROM (
                     SELECT q_id, vec_id,
                       row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
                     FROM ex) t WHERE rnk <= 10),
          pex AS (SELECT q_id, n.vec_id,
                    list_reduce(list_prepend(0.0, list_transform(list_zip(qv, v), pp -> pp[1] * pp[2])), (x, y) -> x + y)
                      / (nrm * qnrm) AS sim
                  FROM n CROSS JOIN qq WHERE n.vec_id <> qq.q_id),
          ek AS (SELECT q_id, vec_id FROM (
                   SELECT q_id, vec_id,
                     row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
                   FROM pex) t WHERE rnk <= 10),
          j AS (SELECT ek.q_id, ek.vec_id,
                  (rr10.vec_id IS NOT NULL) AS hit
                FROM ek LEFT JOIN rr10
                  ON ek.q_id = rr10.q_id AND ek.vec_id = rr10.vec_id)
          SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries,
                 CAST(count(*) AS BIGINT) AS n_expected,
                 CAST(count(CASE WHEN hit THEN 1 END) AS BIGINT) AS n_hits,
                 ${sqlRnd(
                   "CAST(count(CASE WHEN hit THEN 1 END) AS DOUBLE) / " +
                   "CAST(count(*) AS DOUBLE)", 4)} AS recall_at_10
          FROM j""",
    // The IVF assignment replay (same as m6_ann_ivf's crn=1 CTE) reduced
    // to per-cell populations and the one-row health report; every integer
    // is CAST BIGINT out of DuckDB's HUGEINT aggregates, and the two
    // derived doubles replay Spark's operand order exactly.
    "m6_ivf_stats" ->
      s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
          $strideSql,
          n AS (SELECT vec_id, v, $normSql AS nrm FROM e),
          cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n
                    WHERE vec_id % (SELECT m FROM strd) = 0),
          assigned AS (
            SELECT vec_id, cent_id AS cell FROM (
              SELECT n.vec_id, c.cent_id,
                row_number() OVER (PARTITION BY n.vec_id ORDER BY
                  list_reduce(list_prepend(0.0, list_transform(list_zip(n.v, c.cv), p -> p[1] * p[2])), (a, b) -> a + b)
                    / (n.nrm * c.cnrm) DESC, c.cent_id) AS crn
              FROM n CROSS JOIN cents c) t WHERE crn = 1),
          cl AS (SELECT cell, CAST(count(*) AS BIGINT) AS pop
                 FROM assigned GROUP BY 1),
          agg AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
                    CAST(sum(pop) AS BIGINT) AS n_vectors,
                    min(pop) AS min_pop, max(pop) AS max_pop FROM cl)
          SELECT n_cells, n_vectors, min_pop, max_pop,
            ${sqlRnd("CAST(n_vectors AS DOUBLE) / CAST(n_cells AS DOUBLE)", 4)} AS mean_pop,
            ${sqlRnd("CAST(max_pop AS DOUBLE) * CAST(n_cells AS DOUBLE) / CAST(n_vectors AS DOUBLE)", 4)} AS imbalance
          FROM agg""",
    "m6_cosine_topk" ->
      s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
          n AS (SELECT vec_id, v, $normSql AS nrm FROM e),
          q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id % $probeStrideSql = 0),
          p AS (SELECT q_id, vec_id, $dotSql / (nrm * qnrm) AS sim
                FROM n CROSS JOIN q WHERE vec_id <> q_id)
          SELECT q_id, vec_id, rnk, ${sqlRnd("sim", 4)} AS sim FROM (
            SELECT q_id, vec_id, sim,
              row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
            FROM p) t
          WHERE rnk <= 10""",
    "m6_ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
          $strideSql,
          n AS (SELECT vec_id, v, $normSql AS nrm FROM e),
          cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n
                    WHERE vec_id % (SELECT m FROM strd) = 0),
          assigned AS (
            SELECT vec_id, v, nrm, cent_id AS cell FROM (
              SELECT n.vec_id, n.v, n.nrm, c.cent_id,
                row_number() OVER (PARTITION BY n.vec_id ORDER BY
                  list_reduce(list_prepend(0.0, list_transform(list_zip(n.v, c.cv), p -> p[1] * p[2])), (a, b) -> a + b)
                    / (n.nrm * c.cnrm) DESC, c.cent_id) AS crn
              FROM n CROSS JOIN cents c) t WHERE crn = 1),
          q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, cell FROM assigned
                WHERE vec_id % $probeStrideSql = 0),
          p AS (SELECT q_id, a.vec_id,
                  list_reduce(list_prepend(0.0, list_transform(list_zip(q.qv, a.v), r -> r[1] * r[2])), (x, y) -> x + y)
                    / (a.nrm * q.qnrm) AS sim
                FROM assigned a JOIN q USING (cell) WHERE a.vec_id <> q.q_id)
          SELECT q_id, vec_id, rnk, ${sqlRnd("sim", 4)} AS sim FROM (
            SELECT q_id, vec_id, sim,
              row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
            FROM p) t
          WHERE rnk <= 10""",
    // nprobe=2 replay: corpus assignment stays crn = 1; only the query side
    // keeps its two nearest centroids before the same cell-keyed join.
    "m6_ann_ivf2" ->
      s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
          $strideSql,
          n AS (SELECT vec_id, v, $normSql AS nrm FROM e),
          cents AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n
                    WHERE vec_id % (SELECT m FROM strd) = 0),
          scored AS (
            SELECT n.vec_id, n.v, n.nrm, c.cent_id,
              row_number() OVER (PARTITION BY n.vec_id ORDER BY
                list_reduce(list_prepend(0.0, list_transform(list_zip(n.v, c.cv), p -> p[1] * p[2])), (a, b) -> a + b)
                  / (n.nrm * c.cnrm) DESC, c.cent_id) AS crn
            FROM n CROSS JOIN cents c),
          assigned AS (
            SELECT vec_id, v, nrm, cent_id AS cell FROM scored WHERE crn = 1),
          q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, cent_id AS cell
                FROM scored WHERE vec_id % $probeStrideSql = 0 AND crn <= 2),
          p AS (SELECT q_id, a.vec_id,
                  list_reduce(list_prepend(0.0, list_transform(list_zip(q.qv, a.v), r -> r[1] * r[2])), (x, y) -> x + y)
                    / (a.nrm * q.qnrm) AS sim
                FROM assigned a JOIN q USING (cell) WHERE a.vec_id <> q.q_id)
          SELECT q_id, vec_id, rnk, ${sqlRnd("sim", 4)} AS sim FROM (
            SELECT q_id, vec_id, sim,
              row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
            FROM p) t
          WHERE rnk <= 10""",
    "m6_incremental_ivf" -> IncrementalIvfOracle,
    "m6_ann_forget" -> AnnForgetOracle,
    // bytes-not-answers invariants: the purge serves m6_ann_forget's
    // answers verbatim, the compaction serves m6_incremental_ivf's —
    // the strongest statement of the invariant the gate can make.
    "m6_ann_purge" -> AnnForgetOracle,
    "m6_ann_compact" -> IncrementalIvfOracle,
    // Multi-probe replay: the probe set is the own bucket plus one-bit flips
    // of dimensions within eps=0.1 of their hyperplane, exactly as
    // probeBuckets builds it.
    "m6_embed_dedup" -> embedDedupOracleSql,
    // SemDeDup-style semantic clusters: the shared recursive
    // transitive-closure CC oracle over the replayed cosine near-dup pairs.
    "m6_embed_clusters" ->
      Dedup.sqlConnectedComponents(embedDedupOracleSql, "vec_a", "vec_b", "vec_id"),
    "m6_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, $vSql AS v FROM embeddings),
          $bitsSql,
          n AS (SELECT vec_id, v, $normSql AS nrm, ${bucketSql("v")} AS bucket FROM e),
          q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm, bucket FROM n WHERE vec_id % $probeStrideSql = 0),
          p AS (SELECT q_id, n.vec_id, $dotSql / (nrm * qnrm) AS sim
                FROM n JOIN q USING (bucket) WHERE n.vec_id <> q.q_id)
          SELECT q_id, vec_id, rnk, ${sqlRnd("sim", 4)} AS sim FROM (
            SELECT q_id, vec_id, sim,
              row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
            FROM p) t
          WHERE rnk <= 10""")
}
