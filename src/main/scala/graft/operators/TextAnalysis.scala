package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Exact.{rnd, sqlRnd}

/** Text-analysis operators over the `documents` table — the training-data
  * pipeline surface (builder brief; SURVEY.md §7.1 M6): token statistics,
  * quality scoring, language profiling/identification, fingerprinting.
  *
  * Everything is Column expressions and higher-order array functions — no
  * UDFs, fully codegen'd, and every operator is a narrow map or a single
  * keyed aggregation, so the plans scale linearly: tokenization happens once
  * per document on the map side; only small aggregates (token counts,
  * profiles) shuffle.
  */
object TextAnalysis {

  /** Whitespace tokens of the document body. */
  def tokens(c: Column): Column = split(c, " ")

  /** Canonical text for leak scanning: lowercase, punctuation stripped. */
  def normText(c: Column): Column = regexp_replace(lower(c), "[^a-z0-9 ]", "")

  /** Non-empty whitespace tokens of the canonical text (stripping can leave
    * empty tokens behind — "a , b" → "a  b"). */
  def normTokens(c: Column): Column = filter(tokens(normText(c)), t => t =!= "")

  /** DuckDB fragment for the same canonical token list. */
  def sqlNormTokens(e: String): String =
    s"list_filter(string_split(regexp_replace(lower($e), '[^a-z0-9 ]', '', 'g'), ' '), x -> x <> '')"

  /** Word k-shingles (k consecutive tokens joined by space) — the unit for
    * fingerprinting and near-dup detection. With a small vocabulary,
    * single-token sets collide on everything; k-gram sequences don't.
    * Empty when `toks` is null or shorter than k. The native
    * `graft_shingles` expression (graft.functions.Shingles) reads the token
    * array once per row, so callers may pass an inline expression. */
  def shingles(toks: Column, k: Int): Column =
    call_function("graft_shingles", toks, lit(k))

  /** Memoized documents cardinality per fixture — the Similarity.corpusN
    * discipline applied to the text corpus: several operators (packShards
    * sizing, tfidf's N, the simhash chunk width) need the corpus row count
    * at PLAN-CONSTRUCTION time, and each invocation re-ran the (footer-
    * metadata, but still scheduled) count() job per call. Keyed on the
    * documents source's content signature (file-or-directory aware); an
    * absent source is uncacheable and recomputes — the r13-ADVICE memo
    * contract. */
  private val docsCount = new DedupStaging.ContentMemo[String, Long]
  private[operators] def docsN(spark: SparkSession, dir: String): Long =
    docsCount(dir, Seq(s"$dir/documents.parquet"))(
      Tables.documents(spark, dir).count())

  /** DuckDB fragment for the same k-shingles of a token list `t`. */
  def sqlShingles(t: String, k: Int): String = {
    val parts = (0 until k).map(j => s"$t[i + $j]").mkString(" || ' ' || ")
    s"CASE WHEN len($t) >= $k THEN list_transform(range(1, len($t) - ${k - 2}), i -> $parts) ELSE [] END"
  }

  // ---- registered queries -------------------------------------------------

  /** M6: corpus term frequency — explode/groupBy, the canonical text-to-table
    * pivot. The corpus total rides a 1-row broadcast (Exact.withSharePct),
    * not an unpartitioned window: `Window.partitionBy()` funnels the entire
    * vocabulary (10⁷–10⁸ rows at 100 TB) through a single task, while the
    * scalar agg is a tree-reduced one-row exchange and the broadcast is
    * free. */
  def tokenTf(spark: SparkSession, dir: String): DataFrame =
    Exact.withSharePct(
      Tables.documents(spark, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("tf")),
      "tf", "share_pct")

  /** M6: Count-Min heavy hitters — the bounded-memory frequency sketch as a
    * declarative plan: 4 hash rows × 2048 buckets of summed term counts
    * (ONE map-side-combined aggregation over (row, bucket)), point-queried
    * for the exact top-20 terms; the estimate is the min over the 4 bucket
    * sums, so est ≥ true tf with the classic ε = e/w overcount bound. The
    * sketch is the 100 TB shape — 8 k counters regardless of vocabulary
    * size, mergeable by addition, broadcastable — while the bucket-sum
    * formulation keeps every value a sum of md5-fold-addressed longs, so
    * the DuckDB oracle replays the ESTIMATES exactly (stronger than the
    * HLL twin's bound check). Composed from existing operators per the
    * custom-code ladder: no Aggregator needed when groupBy + min expresses
    * the sketch semantics. */
  def cmsHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // NO persist for the shared tf subplan: both consumers (sketch build,
    // exact top-k twin) sit on the IDENTICAL aggregation exchange, which the
    // planner dedupes (ReusedExchange / AQE stage reuse) — the corpus
    // explode + partial agg runs once and only the vocabulary-sized merge
    // repeats. A persist here bought the same reuse but pinned the
    // vocabulary in storage for the session's lifetime (the round-7 cache
    // leak); exchange reuse gets it from shuffle files already on disk.
    val tf = Tables.fanout(Tables.documents(spark, dir))
      .select(explode(normTokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("tf"))
    cmsEstimates(cmsSketchOf(tf), cmsTopTerms(tf))
  }

  // ---- the CMS sketch as a reusable (build, point-query) component -------
  // Shared by the batch heavy-hitters query and its streaming twin
  // (StreamingJobs.streamCmsQuery): the sketch is mergeable by ADDITION on
  // (d, bucket), which is exactly why a streaming aggregation keyed on the
  // coordinates maintains it in 8k rows of state.
  private[graft] val CmsRows = 4
  private[graft] val CmsWidth = 2048
  private[graft] val CmsTopK = 20

  /** A term's bucket in hash row d (portable md5 fold — oracle-replayable). */
  private def cmsBucket(term: Column, d: Int): Column =
    pmod(Exact.fold60(concat(term, lit(s"|cms$d"))), lit(CmsWidth))

  /** Generator: a term exploded into its CmsRows (d, bucket) coordinates. */
  private[graft] def cmsCoords(term: Column): Column =
    explode(array((0 until CmsRows).map(d =>
      struct(lit(d).as("d"), cmsBucket(term, d).as("bucket"))): _*))

  /** Build the (d, bucket, s) sketch from a (term, tf) frame — ONE
    * map-side-combined aggregation over the coordinates. */
  private[graft] def cmsSketchOf(tf: DataFrame): DataFrame =
    tf.select(col("tf"), cmsCoords(col("term")).as("p"))
      .select(col("tf"), col("p.d").as("d"), col("p.bucket").as("bucket"))
      .groupBy("d", "bucket").agg(sum("tf").as("s"))

  /** The exact top-k terms with their rank — sort+limit
    * (TakeOrderedAndProject, never a vocabulary-wide window). The k rows
    * are numbered by sorting them as one array, (−tf, term) ascending, and
    * exploding it with positions: no window, so no unpartitioned one. */
  private[graft] def cmsTopTerms(tf: DataFrame): DataFrame =
    tf.orderBy(col("tf").desc, col("term")).limit(CmsTopK)
      .agg(sort_array(collect_list(struct((-col("tf")).as("neg"), col("term")))).as("top"))
      .select(posexplode(col("top")))
      .select(col("col.term").as("term"), (-col("col.neg")).as("tf"),
        (col("pos") + 1).as("rk"))

  /** Point-query: estimate each probe term against the sketch — min over
    * its CmsRows bucket sums, so est ≥ true tf with the classic ε = e/w
    * overcount bound. */
  private[graft] def cmsEstimates(sketch: DataFrame, top: DataFrame): DataFrame = {
    val probes = top.select(col("term"), col("tf"), col("rk"),
        cmsCoords(col("term")).as("p"))
      .select(col("term"), col("tf"), col("rk"),
        col("p.d").as("d"), col("p.bucket").as("bucket"))
    probes.join(sketch, Seq("d", "bucket"))
      .groupBy("term", "tf", "rk").agg(min("s").as("cms_est"))
      .select(col("term"), col("rk"), col("tf"), col("cms_est"))
  }

  /** M6: sequence PACKING — the concat-and-chunk layout every pretraining
    * pipeline runs: documents are concatenated in deterministic order
    * within hash-assigned shards and the token stream is cut into
    * fixed-size chunks (512 here); each document's placement is fully
    * determined by a windowed cumulative sum, so "which chunk(s) does doc X
    * land in" is one declarative plan — no sequential packer. The window
    * partitions by SHARD (the production unit: one output file per shard),
    * never globally, so the cumsum is 1/shards of the corpus per task and
    * the shard count GROWS with the corpus (`packShards`) — the per-shard
    * cumsum stays ~256 docs, so no fixed shard set ever funnels a 100 TB
    * corpus through a handful of window tasks. Offsets are exact integers —
    * bit-identical cross-engine by construction. */
  def packSequences(spark: SparkSession, dir: String): DataFrame =
    packSequencesAt(spark, dir, packShards(docsN(spark, dir)))

  /** Corpus-adaptive shard count for sequence packing: the smallest power
    * of two in [8, 4096] with shards × 256 ≥ N — per-shard window work
    * stays ~256 docs as the corpus grows (the `lshBits` /
    * `simhashChunkBits` precedent). Integer arithmetic on purpose: the
    * oracle computes `1 << least(12, greatest(3, ceil(log2(n / 256.0))))`
    * and n/256.0 is exact in binary, so both formulations agree for every
    * reachable n (see Similarity.lshBits for the full float-hazard
    * argument). */
  private[graft] def packShards(nDocs: Long): Int = {
    var b = 3
    while (b < 12 && (256L << b) < nDocs) b += 1
    1 << b
  }

  /** The fixed-shard-count pipeline behind packSequences (test surface:
    * GraftProps proves per-shard spans match a sequential packer at ANY
    * shard count). */
  private[graft] def packSequencesAt(spark: SparkSession, dir: String,
      shards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunk = 512
    val docs = Tables.fanout(Tables.documents(spark, dir))
      .select(col("doc_id"), size(tokens(col("text"))).as("n_tokens"),
        pmod(Exact.fold60(col("doc_id").cast("string")), lit(shards)).as("shard"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("end_offset", sum("n_tokens").over(w))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        (col("end_offset") - col("n_tokens")).as("start_offset"),
        floor((col("end_offset") - col("n_tokens")) / chunk).as("first_chunk"),
        floor((col("end_offset") - 1) / chunk).as("last_chunk"))
  }

  /** M6: TF-IDF top terms per document — the keyword/retrieval primitive
    * (doc→topic tagging, dedup explanation, search). One explode pass
    * builds the (doc, term, tf) table; document length and document
    * frequency both DERIVE from it (no second corpus pass), and the final
    * ranking window partitions by doc_id — never a global sort.
    *
    * Scoring uses the raw-ratio form (tf/len)·(N/df) instead of a log idf
    * ON PURPOSE: every operation is an IEEE-correctly-rounded divide or
    * multiply, so Spark and DuckDB produce BIT-IDENTICAL doubles and the
    * oracle hash-matches — `ln` is implementation-defined in its last ulp
    * across libm implementations, which a hash compare would expose. Ranks
    * tie-break on the term, so ordering is deterministic even at equal
    * scores. */
  def tfidfTerms(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // corpus cardinality via parquet metadata — the same number a catalog
    // serves for free (corpusBits precedent, Similarity.scala), memoized
    // per fixture (docsN)
    val n = docsN(spark, dir)
    // NO persist for the shared (doc, term, tf) subplan: both remaining
    // consumers contain its identical aggregation exchange, which AQE's
    // stage cache dedupes at runtime — the explode pass runs once; shuffle
    // files are the (free) materialization. Two details make the subtrees
    // canonically EQUAL, which reuse requires (PlanContractSpec pins it):
    //  - `len` is a windowed sum over tf, not a join-back: partitions are
    //    (doc_id)-bounded — a document's distinct terms — and the window
    //    consumes tf's exchange directly instead of cloning the subtree
    //    with a different join-inferred IsNotNull filter.
    //  - `dfreq` aggregates sum(least(tf, 1)) — value-identical to the
    //    document count, since every tf >= 1 — instead of count(*):
    //    a bare count never inspects tf, so Catalyst would prune tf out
    //    of that branch's aggregate, leaving a keys-only distinct whose
    //    partial stage no longer canonicalizes to the shared exchange
    //    (and the explode would run twice). (A df-by-window would NOT
    //    be scale-safe: partition = one term's posting list, and a
    //    stopword's list is corpus-sized — the keyed agg keeps df
    //    map-side-combined and broadcast-sized.)
    val tf = Tables.fanout(Tables.documents(spark, dir))
      .select(col("doc_id"), explode(normTokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val lenW = Window.partitionBy("doc_id")
    val dfreq = tf.groupBy("term").agg(sum(least(col("tf"), lit(1L))).as("df"))
    val scored = tf.withColumn("len", sum("tf").over(lenW))
      .join(dfreq, Seq("term"))
      .withColumn("s",
        (col("tf").cast("double") / col("len")) * (lit(n.toDouble) / col("df")))
    val w = Window.partitionBy("doc_id").orderBy(col("s").desc, col("term"))
    scored.withColumn("term_rank", row_number().over(w))
      .filter(col("term_rank") <= 5)
      .select(col("doc_id"), col("term"), col("term_rank"),
        Exact.rnd(col("s"), 6).as("tfidf"))
  }

  /** M6: per-document quality score — length, lexical diversity, stopword
    * ratio (quality-filter features of LLM data pipelines). */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "in", "to")
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val distinctRatio = size(array_distinct(toks)) / nTok
    val stopRatio = size(filter(toks, t => t.isInCollection(stop))) / nTok
    val avgTokLen = (length(col("text")) - size(toks) + 1) / nTok
    Tables.documents(spark, dir).select(
      col("doc_id"), col("lang"),
      size(toks).as("n_tokens"),
      rnd(distinctRatio, 4).as("distinct_ratio"),
      rnd(stopRatio, 4).as("stopword_ratio"),
      rnd(avgTokLen, 4).as("avg_token_len"),
      rnd(lit(0.4) * distinctRatio + lit(0.3) * (lit(1.0) - stopRatio) +
        lit(0.3) * least(nTok / 100.0, lit(1.0)), 4).as("quality_score"))
  }

  /** M6: stratified audit sample — the fixed-size human-review sample every
    * corpus release ships: exactly 5 documents per (language, quality band)
    * stratum, selected by a deterministic pseudo-random order (the salted
    * 60-bit fold over doc_id — re-runs, backfills and the oracle pick the
    * identical sample; a seeded RNG would be engine-specific). Rate-based
    * band sampling (m6_sample_mix, m6_data_split) can't serve this: an
    * auditor needs a FIXED count per stratum regardless of stratum size,
    * including from the rare strata a rate would miss entirely.
    *
    * 100 TB shape: the rank-≤-5 filter compiles to WindowGroupLimit, so
    * every task keeps at most 5 rows per stratum before the stratum-keyed
    * exchange — the shuffle carries ≤ 5·strata·tasks skinny rows, never
    * the corpus; quality scoring is the narrow m6_quality_score map. */
  def auditSample(spark: SparkSession, dir: String): DataFrame = {
    val q = qualityScore(spark, dir)
      .select(col("doc_id"), col("lang"), col("quality_score"))
      .withColumn("band",
        when(col("quality_score") >= 0.63, lit("high")).otherwise(lit("low")))
      .withColumn("ord",
        Exact.fold60(concat(lit("graft-audit:"), col("doc_id"))))
    val w = Window.partitionBy("lang", "band").orderBy(col("ord"), col("doc_id"))
    q.withColumn("audit_rank", row_number().over(w))
      .filter(col("audit_rank") <= 5)
      .select(col("lang"), col("band"), col("audit_rank"), col("doc_id"),
        col("quality_score"))
  }

  /** M6: language token profile — top-10 tokens per language by frequency. */
  def langProfile(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy("lang").orderBy(col("tf").desc, col("token"))
    counts.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 10)
  }

  /** M6: n-gram-profile language identification — score each document
    * against every language's top-20 token profile (built from the corpus
    * itself), predict the argmax. Profile is tiny → broadcast; the join is
    * doc-tokens × profile with no skew. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val counts = docs
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("tf"))
    val wProf = Window.partitionBy("lang").orderBy(col("tf").desc, col("token"))
    val profile = counts.withColumn("rnk", row_number().over(wProf))
      .filter(col("rnk") <= 20)
      .select(col("lang").as("cand_lang"), col("token"))
    val docTokens = docs.select(col("doc_id"), col("lang"),
      explode(array_distinct(tokens(col("text")))).as("token"))
    val scored = docTokens.join(broadcast(profile), Seq("token"))
      .groupBy(col("doc_id"), col("lang"), col("cand_lang"))
      .agg(count(lit(1)).as("hits"))
    val wBest = Window.partitionBy("doc_id").orderBy(col("hits").desc, col("cand_lang"))
    scored.withColumn("rn", row_number().over(wBest)).filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("cand_lang").as("predicted_lang"),
        col("hits"))
  }

  /** M6: token counting — whitespace tokens, regex word tokens (a BPE-ish
    * pre-tokenizer pass), characters. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(tokens(col("text"))).as("ws_tokens"),
      regexp_count(col("text"), lit("[a-z]+")).as("word_tokens"),
      length(col("text")).as("n_chars"))

  /** M6: document fingerprint — winnowing-style: the minimum hash over the
    * document's 3-shingles (the portable 60-bit md5 fold, so the oracle
    * replays it bit-for-bit). Equal fingerprints ⇒ near-identical prefix
    * content; used as a cheap first-pass dedup key.
    *
    * Plan shape: one projection — the native shingle kernel builds the
    * array once per row and the hash transform walks it. The hash itself is
    * the native `graft_fold60` (digest bytes straight to a long), not
    * hex-string md5: min over fixed-width longs beats min over 32-char
    * strings, with no per-shingle hex alloc+parse. `fanout` spreads the
    * per-row digest work across cores (single-split test file). */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables.fanout(Tables.documents(spark, dir))
      .select(col("doc_id"), array_min(transform(shingles(tokens(col("text")), 3),
        s => Exact.fold60(s))).as("fingerprint"))
  }

  /** M6: repetition-based quality filter — the Gopher/C4 rules that catch
    * degenerate boilerplate lexical-diversity scores miss: the fraction of
    * 3-grams that are repeats (1 − distinct/total) and the share of the
    * document taken by its single most frequent 2-gram. A document fails on
    * either (dup-3-gram ≥ 0.5 or top-2-gram ≥ 0.3 — natural prose sits an
    * order of magnitude below both; the margins are fixture-verified in
    * LlmPillarSpec).
    *
    * The synthetic corpus has no natural boilerplate, so — the exactDedup
    * pattern — every 53rd document is deterministically replaced in-query
    * with its own first-5-token phrase repeated 12×, in both engines, and
    * the filter must flag exactly the plants.
    *
    * Plan shape: ONE shingling pass. Both 2-grams and 3-grams are hashed
    * inside their arrays (the 60-bit fold — fixed-width longs shuffle, never
    * gram strings, and the oracle folds identically so even a cosmically
    * unlikely collision agrees across engines), tagged with their gram
    * order, and exploded together; every statistic then derives from keyed
    * aggregations over the (doc, order, hash) rows — total count, distinct
    * count and mode per (doc, order) in one two-level map-side-combined
    * cascade, pivoted back to one row per document. No per-document arrays
    * are persisted (the round-7 session-cache leak) and nothing is computed
    * twice: work ∝ gram volume, memory ∝ nothing. */
  def repetitionFilter(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val toks0 = tokens(col("text"))
    val planted = concat_ws(" ",
      flatten(array_repeat(slice(toks0, 1, 5), 12)))
    val grams = Tables.fanout(Tables.documents(spark, dir))
      .select(col("doc_id"),
        when(col("doc_id") % 53 === 0, planted).otherwise(col("text")).as("text"))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(concat(
          transform(shingles(col("toks"), 2), g => struct(lit(2).as("k"), Exact.fold60(g).as("h"))),
          transform(shingles(col("toks"), 3), g => struct(lit(3).as("k"), Exact.fold60(g).as("h")))))
        .as("g"))
      .select(col("doc_id"), col("g.k").as("k"), col("g.h").as("h"))
    val stats = grams
      .groupBy(col("doc_id"), col("k"), col("h")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"), col("k"))
      .agg(sum("cnt").as("n"), count(lit(1)).as("nd"), max("cnt").as("topc"))
      .groupBy(col("doc_id"))
      .agg(max(when(col("k") === 2, col("n"))).as("n2"),
        max(when(col("k") === 2, col("topc"))).as("top2"),
        max(when(col("k") === 3, col("n"))).as("n3"),
        max(when(col("k") === 3, col("nd"))).as("nd3"))
    // degenerate-length guards: a ≤2-token doc has no 3-grams (and a
    // 1-token doc no 2-grams) — score 0, never NULL/NaN, and both guards
    // replay identically in the oracle (Spark 0/0 is NULL where DuckDB's
    // is NaN, so the division must never happen); such docs emit no gram
    // rows at all, so they re-enter via the left join from the doc list
    val dup3 = when(coalesce(col("n3"), lit(0L)) > 0,
      lit(1.0) - col("nd3") / col("n3").cast("double")).otherwise(lit(0.0))
    val share = when(coalesce(col("n2"), lit(0L)) > 0,
      col("top2") / col("n2").cast("double")).otherwise(lit(0.0))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n2"), lit(0L)).cast("int").as("n_2grams"),
        rnd(dup3, 4).as("dup3_frac"),
        rnd(share, 4).as("top2_share"),
        (dup3 >= 0.5 || share >= 0.3).as("repetitive"))
  }

  /** M6: PII scrubbing — the redaction pass every corpus release runs:
    * emails and phone-shaped numbers replaced with typed placeholders, with
    * per-document match counts as the audit trail. Patterns stay in the
    * regex subset Java and RE2 evaluate identically (character classes,
    * bounded repetition — no backrefs/lookarounds, which RE2 rejects).
    *
    * The synthetic corpus contains no PII, so every 41st document gets a
    * deterministic contact line appended in-query (same text in both
    * engines); the scrub must leave zero residual matches corpus-wide
    * (LlmPillarSpec) and count exactly the plants. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val email = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
    val phone = "[0-9]{3}-[0-9]{4}"
    Tables.fanout(Tables.documents(spark, dir))
      .select(col("doc_id"),
        when(col("doc_id") % 41 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or call 555-0199")))
          .otherwise(col("text")).as("text"))
      .select(col("doc_id"),
        regexp_count(col("text"), lit(email)).as("n_emails"),
        regexp_count(col("text"), lit(phone)).as("n_phones"),
        regexp_replace(regexp_replace(col("text"), email, "<EMAIL>"),
          phone, "<PHONE>").as("scrubbed"))
  }

  /** M6: per-language vocabulary size via HLL sketch — the scale path for
    * COUNT(DISTINCT token): approx_count_distinct aggregates a constant-size
    * sketch per group (map-side combined, mergeable across partitions),
    * where exact distinct would shuffle every token. At 100 TB the sketch is
    * the only viable plan; the exact twin rides along here so the
    * error-bound check (±5%) is self-contained. */
  def vocabHllFull(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("lang"))
      .agg(
        approx_count_distinct(col("token"), 0.02).as("vocab_approx"),
        countDistinct(col("token")).as("vocab_exact"),
        count(lit(1)).as("n_tokens"))

  /** The registered (oracle-able) surface of the HLL sketch: HLL internals
    * are engine-specific, so the *sketch value* can't hash-match DuckDB —
    * but its error bound can. The query emits the exact twin plus
    * `approx_ok` = |approx−exact|/exact ≤ 0.05; the oracle asserts the same
    * columns with `approx_ok` constant-true, so a sketch drifting out of
    * bound fails the hash compare. (Raw approx values: vocabHllFull +
    * LlmPillarSpec.) */
  def vocabHll(spark: SparkSession, dir: String): DataFrame =
    vocabHllFull(spark, dir).select(
      col("lang"), col("vocab_exact"), col("n_tokens"),
      (abs(col("vocab_approx") - col("vocab_exact")) / col("vocab_exact") <= 0.05)
        .as("approx_ok"))

  /** M6: n-gram novelty scoring — per document, the fraction of its
    * distinct 8-gram spans whose FIRST corpus occurrence (lowest doc_id) is
    * this document. The span-level twin of exact dedup: where line/sentence
    * dedup (C4, RefinedWeb) drops repeated spans, novelty SCORES how much
    * of a document is first-seen material, the signal a curation pipeline
    * thresholds on before spending training tokens on near-boilerplate.
    * Shape at 100 TB: tokens are projected once (the HOF-inlining trap —
    * shingles over an inlined normTokens re-evaluates the filter per
    * element in interpreted eval), grams explode into TWO aggregations —
    * first-owner = min(doc_id) per gram (map-side-combinable, the only
    * gram-cardinality shuffle), per-doc totals on doc_id — and the final
    * join is doc-cardinality × doc-cardinality, never gram-sized. Docs with
    * fewer than 8 tokens have no spans and are out of scope (none in this
    * corpus; the oracle's CTE is identically inner). */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.fanout(Tables.documents(spark, dir))
      .select(col("doc_id"),
        explode(array_distinct(shingles(normTokens(col("text")), 8))).as("gram"))
    val firstOwner = grams.groupBy(col("gram"))
      .agg(min(col("doc_id")).as("first_doc"))
    val novel = firstOwner.groupBy(col("first_doc")).count()
      .select(col("first_doc").as("doc_id"), col("count").as("n_novel"))
    val totals = grams.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"))
    totals.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        Exact.rnd(coalesce(col("n_novel"), lit(0L)) / col("n_grams"), 4)
          .as("novelty"))
  }

  /** M6: deterministic data mixing — per-language sampling rates (the
    * corpus-balancing step of a training-data pipeline: downsample the
    * dominant language, keep the rest). The keep-decision is a pure function
    * of doc_id, so the mix is reproducible run-over-run and engine-over-
    * engine — the property a 100 TB pipeline needs so re-runs and backfills
    * select identical rows (a seeded RNG sample is engine-specific; an
    * id-hash band is portable). */
  def sampleMix(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(100)) <
        when(col("lang") === "en", lit(30)).otherwise(lit(100)))
      .select(col("doc_id"), col("lang"), col("n_chars"))

  /** M6: deterministic train/validation/test split — band on a HASH of the
    * id (portable md5 fold mod 100 → 90/5/5), not on the raw id like
    * sampleMix: raw-id bands correlate with generation order (newer docs
    * get higher ids), which leaks time into the split; the hash band is
    * order-free, reproducible run-over-run and engine-over-engine, and
    * stable under corpus growth — a doc keeps its split forever, so
    * incremental re-releases never migrate training docs into test. */
  def dataSplit(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables.documents(spark, dir)
      .withColumn("band", pmod(Exact.fold60(col("doc_id").cast("string")), lit(100)))
      .select(col("doc_id"), col("lang"), col("band").cast("int").as("band"),
        when(col("band") < 90, "train")
          .when(col("band") < 95, "validation")
          .otherwise("test").as("split"))
  }

  /** M6: bigram language-model statistics — per-context next-token counts
    * and conditional probabilities, the n-gram-LM primitive (perplexity
    * filters, boilerplate detection, autocomplete evals all start here).
    * One explode of zipped adjacent-token pairs, one keyed aggregation;
    * the rank window partitions by the CONTEXT token, never globally.
    * Contexts below 10 occurrences are dropped (their conditionals are
    * noise) and only the top 3 continuations per context are emitted — the
    * output is a model artifact, not the corpus. cond_p is a single IEEE
    * divide of two exact longs — bit-identical cross-engine. */
  def bigramLm(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.fanout(Tables.documents(spark, dir))
      .select(normTokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    val pairs = toks.select(explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val counts = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy("w1").agg(count(lit(1)).as("n_next"),
      sum("cnt").as("n1"))
    val w = Window.partitionBy("w1").orderBy(col("cnt").desc, col("w2"))
    counts.join(totals, Seq("w1"))
      .filter(col("n1") >= 10)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("w1"), col("w2"), col("cnt"), col("rnk"),
        col("n1").cast("long").as("n1"),
        rnd(col("cnt").cast("double") / col("n1"), 6).as("cond_p"))
  }

  /** M6: token-budget corpus selection — the fill-to-budget step of a
    * training-data mix: per language, documents are admitted in
    * quality-score order (ties on doc_id) until the language's token budget
    * is exhausted. A doc is kept iff the budget still has room BEFORE it
    * (cum − n_tokens < budget): deterministic, order-stable, and re-runs
    * admit identical rows.
    *
    * TWO-PHASE shape (the round-7 fix — a per-language windowed cumsum over
    * the raw corpus serializes a dominant language through one partition's
    * sort at 100 TB): phase 1 aggregates token sums per (lang,
    * quality-bucket) into a ≤1001-bucket histogram, whose running sum picks
    * the CANDIDATE buckets (those whose strictly-better buckets haven't
    * already exhausted the budget); phase 2 semi-joins the corpus against
    * the broadcast candidate set and runs the exact ordered cumsum over the
    * survivors only — a set bounded by budget tokens plus one boundary
    * bucket, independent of corpus size. The corpus-wide ops are one
    * map-side-combined aggregation and one broadcast semi-join; the only
    * ordered pass is over the admission-sized remainder (GraftProps proves
    * two-phase ≡ the naive windowed cumsum on arbitrary frames). */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val scored = qualityScore(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality_score"))
    budgetAdmit(scored, 2000L)
      .select(col("doc_id"), col("lang"), col("n_tokens").cast("long").as("n_tokens"),
        col("quality_score"), col("cum").cast("long").as("cum_tokens"))
  }

  /** The two-phase admission engine behind tokenBudget. `scored` needs
    * (doc_id, lang, n_tokens, quality_score); returns the admitted rows with
    * the exact per-language running total `cum` the one-phase windowed
    * cumsum would have produced (GraftProps pins the equivalence).
    *
    * Correctness: bucketing by floor(quality·1000) refines the admission
    * order (floor is monotone, ties stay inside one bucket), so a doc's
    * predecessors all live in its own or strictly-higher buckets. A doc in a
    * non-candidate bucket b has tokens-before ≥ C(b) ≥ budget — rejected in
    * either formulation. For candidate-bucket docs every predecessor's
    * bucket is also candidate (C is non-increasing in bucket order), so the
    * cumsum over the candidate subset equals the true cumsum; quality-score
    * rounding can wobble a doc across a bucket boundary without harm because
    * the boundary never enters the semantics, only the partition point. */
  private[graft] def budgetAdmit(scored: DataFrame, budget: Long): DataFrame = {
    val bucket = floor(col("quality_score") * 1000)
    // phase 1: per-(lang, bucket) token sums — a tiny histogram (≤1001
    // buckets per language); its descending running sum C(b) = tokens in
    // strictly-better buckets. The window here orders BUCKETS, not docs:
    // ~1k rows per language, nothing corpus-sized.
    val wb = Window.partitionBy("lang").orderBy(col("qb").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val candidates = scored
      .select(col("lang"), bucket.as("qb"), col("n_tokens"))
      .groupBy("lang", "qb").agg(sum("n_tokens").as("btok"))
      .withColumn("c_before", coalesce(sum("btok").over(wb), lit(0L)))
      .filter(col("c_before") < budget)
      .select(col("lang"), col("qb"))
    // phase 2: broadcast semi-join prunes the corpus to the candidate
    // buckets (≈ budget tokens per language), then the exact ordered
    // admission cumsum runs over that bounded remainder only.
    val w = Window.partitionBy("lang")
      .orderBy(col("quality_score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored.withColumn("qb", bucket)
      .join(broadcast(candidates), Seq("lang", "qb"), "left_semi")
      .drop("qb")
      .withColumn("cum", sum("n_tokens").over(w))
      .filter(col("cum") - col("n_tokens") < budget)
  }

  /** M6: overlapping chunk windows — the RAG/embedding chunker: each
    * document is cut into 128-token windows at stride 64 (50% overlap).
    * Chunk boundaries are pure integer functions of the document's own
    * token count (`sequence` + explode — work ∝ output chunks, no state,
    * no window function at all), so the layout is embarrassingly parallel
    * and bit-identical cross-engine. Complements pack_sequences: packing
    * concatenates ACROSS documents for pretraining; chunking splits WITHIN
    * a document for retrieval. */
  def chunkWindows(spark: SparkSession, dir: String): DataFrame = {
    val (win, stride) = (128L, 64L)
    Tables.fanout(Tables.documents(spark, dir))
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n"))
      .filter(col("n") >= 1)
      .select(col("doc_id"), col("n"),
        explode(sequence(lit(0L), col("n") - 1, lit(stride))).as("c_start"))
      .select(col("doc_id"),
        (col("c_start") / stride).cast("long").as("chunk_idx"),
        col("c_start"),
        least(col("c_start") + win, col("n")).as("c_end"))
  }

  /** M6: LM-support quality score — the log-free stand-in for the CCNet/
    * KenLM perplexity filter every web-corpus build runs: score each
    * document by the mean corpus support of its bigrams (how many times
    * each consecutive token pair occurs corpus-wide, averaged over the
    * document's positions). Fluent, typical prose re-uses common
    * transitions and scores high; gibberish and mangled extractions sit at
    * support ≈ 1. A true LM score would be mean log-probability — but `ln`
    * is implementation-defined in its last ulp across libms, which a hash
    * gate would expose (the m6_tfidf raw-ratio precedent); mean support is
    * computed from INTEGER counts summed exactly in both engines plus one
    * correctly-rounded divide, so it is bit-portable while ranking the
    * same degenerate tails a perplexity cut targets.
    *
    * 100 TB shape: ONE bigram explode (corpus-token volume) — the skinny
    * (doc_id, n_bigrams, w1, w2) frame is persisted because it feeds
    * BOTH the count build and the position-side join probe, and the count
    * side broadcasts, so no exchange is shared between the two consumers:
    * unpersisted, each re-ran the fanout + normTokens + explode subtree
    * and the corpus was tokenized TWICE per query (the r16/r17 spansBase
    * class, the 100× probe's worst leg until r18). Then one
    * map-side-combined (w1, w2) count, one hash join of positions against
    * that count table (keyed shuffle, near-uniform bigram keys), one
    * doc-keyed integer aggregation. No windows, no sorts, no driver state;
    * the count table is itself useful release metadata (bigramLm serves
    * its head). */
  def lmSupport(spark: SparkSession, dir: String): DataFrame = {
    def served(bg: DataFrame): DataFrame = {
      val cnts = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cab"))
      bg.join(cnts, Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(max("n_bigrams").as("n_bigrams"), sum("cab").as("support"))
        .select(col("doc_id"), col("n_bigrams"),
          rnd(col("support").cast("double") / col("n_bigrams").cast("double"), 4)
            .as("support_score"))
    }
    val bg0 = Tables.fanout(Tables.documents(spark, dir))
      .select(col("doc_id"), normTokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), (size(col("t")) - 1).cast("long").as("n_bigrams"),
        explode(zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("doc_id"), col("n_bigrams"),
        col("p.w1").as("w1"), col("p.w2").as("w2"))
    served(bg0.persist())
  }

  /** M6: passage-level boilerplate scrub — the paragraph-granularity dedup
    * every web-scale corpus build runs between document dedup and training
    * (CCNet/Gopher-style: headers, navigation chrome and license blurbs
    * repeat across sites whose documents are otherwise distinct, and
    * document-level near-dup never removes them). The fixture's documents
    * are flat token streams, so the "paragraph" unit here is the
    * non-overlapping 10-token passage (the chunkWindows boundary algebra
    * with stride = width); a passage whose 60-bit content hash appears in
    * ≥ 3 DISTINCT documents is boilerplate, and every occurrence is
    * scrubbed. Output per document: the reassembled clean text (kept
    * passages in order + the sub-passage tail, which is never a dedup
    * candidate), passage counts, and how many were removed.
    *
    * 100 TB shape: one tokenize, one explode to corpus-tokens/10 passage
    * rows; the flood set is a map-side-combined (hash, distinct-doc)
    * count — never a list; the scrub is a hash-keyed LEFT ANTI join (no
    * flood row ever carries a posting list, the m6_postings df-first
    * lesson); reassembly is one shuffle keyed by doc_id with array_sort
    * inside the group — no window, no skew (passage hashes are
    * near-uniform, reassembly partitions are documents). Work is linear in
    * corpus tokens at every stage. `base` feeds the passage explode AND
    * the final doc-level join, and `passages` feeds the flood census AND
    * the anti-join probe — both are persisted (the spansBase precedent;
    * the flood side broadcasts so no exchange is shared):
    * unpersisted, the corpus was scanned and tokenized THREE times per
    * query, the 100× probe's #2 leg until r18. */
  def passageScrub(spark: SparkSession, dir: String): DataFrame = {
    val P = 10
    val minDocs = 3
    def served(base: DataFrame, passages: DataFrame): DataFrame = {
      val flood = passages.groupBy("h")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= minDocs)
        .select(col("h"))
      val rebuilt = passages.join(flood, Seq("h"), "left_anti")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          array_join(transform(
            array_sort(collect_list(struct(col("p_idx"), col("passage")))),
            s => s.getField("passage")), " ").as("kept_txt"))
      base.join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"),
          array_join(filter(array(
            coalesce(col("kept_txt"), lit("")), col("tail_txt")),
            t => t =!= ""), " ").as("clean_text"),
          col("n_passages"),
          (col("n_passages") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
    }
    def passagesOf(base: DataFrame): DataFrame = base
      .filter(col("n_passages") >= 1)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L), col("n_passages") - 1)).as("p_idx"))
      .select(col("doc_id"), col("p_idx"),
        array_join(slice(col("toks"),
          (col("p_idx") * P + 1).cast("int"), lit(P)), " ").as("passage"))
      .withColumn("h", Exact.fold60(col("passage")))
    val base0 = Tables.fanout(Tables.documents(spark, dir))
      .select(col("doc_id"), normTokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("n"))
      .filter(col("n") >= 1)
      .withColumn("n_passages", expr(s"n div $P"))
      .withColumn("tail_txt",
        array_join(slice(col("toks"),
          (col("n_passages") * P + 1).cast("int"), lit(P)), " "))
    val base = base0.persist()
    served(base, passagesOf(base).persist())
  }

  /** M6: exact repeated-span census — substring-level duplication, the
    * alignment-free complement of the passage scrub (which only catches
    * passage-ALIGNED repeats): every OVERLAPPING 15-token window is
    * content-hashed, a window whose hash appears in ≥ 2 distinct documents
    * is a duplicated span member, and per document the census reports the
    * duplicated-window fraction and the LONGEST maximal run of consecutive
    * duplicated windows (run of r windows = an exact repeated span of
    * r + 14 tokens — the memorized-quote/licence-block phenomenon
    * substring-level dedup exists for; Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL '22, reached via suffix
    * arrays — the windowed-hash form is the shuffle-native equivalent at a
    * fixed minimum span length). Plants: every 29th document's first 40
    * tokens re-arrive as an excerpt doc at doc_id + 6000000, giving
    * deterministic cross-doc spans (an excerpt of ≥ 15 tokens is 100%
    * duplicated windows in one maximal run, spec-pinned).
    *
    * 100 TB shape: the window hashes are built IN-ROW (one transform over
    * the token array — no per-window string rows ever shuffle) and explode
    * to a skinny (doc_id, pos, hash64) frame of corpus-token volume — the
    * m6_postings class; the flood set is a map-side-combined distinct-doc
    * count, never a posting list; the census is one hash-keyed semi join
    * plus a per-document islands pass (windows partition by doc_id — no
    * global sort, no skew: window hashes are near-uniform and islands
    * partitions are documents). Work is linear in corpus tokens at every
    * stage; the quadratic pair form is deliberately NOT produced (a span
    * shared by a million docs is one flood row here, not 10¹² pairs).
    *
    * Window fingerprints are INTEGER, not string: each token is fold60'd
    * ONCE (one short-input digest per corpus token), and a window's key
    * is a pair of overflow-safe polynomial accumulators over its 15
    * token hashes — (acc·257 + x mod 2⁴³) mod 2⁴³ and
    * (acc·1031 + ⌊x/2¹⁷⌋) mod 2⁴³, every intermediate < 2⁵² so Spark's
    * wrapping longs and DuckDB's checked BIGINTs compute identical
    * values (~86 effective key bits; a same-corpus collision needs
    * ~2⁴³ distinct windows). The first cut built each window's STRING
    * (slice + array_join per position, 15× the passage-scrub volume)
    * and one digest per window — measured at ~50 min wall for this one
    * query's 100× probe leg before being killed; the integer form is
    * the same census at hash-of-token cost. The skinny (doc, pos, h1,
    * h2) frame feeds both the flood census and the dup side, so it
    * is persisted (~30 bytes/row). */
  /** The span-census window width and the excerpt-plant fixture shared by
    * the census (m6_repeated_spans) and the scrub (m6_span_scrub): every
    * 29th document's first 40 tokens re-arrive as an excerpt doc at
    * doc_id + 6000000 — deterministic cross-doc exact spans. */
  private[graft] val SpanW = 15

  private[graft] def spansBase(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.fanout(Tables.documents(spark, dir))
      .select(col("doc_id"), normTokens(col("text")).as("toks"))
    docs
      .unionAll(docs.filter(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 6000000L).as("doc_id"),
          slice(col("toks"), 1, 40).as("toks")))
      .withColumn("n", size(col("toks")).cast("long"))
  }

  /** The windowed-hash pass shared by census and scrub — a typed
    * mapPartitions (the Multimodal decode precedent — genuinely
    * per-element imperative work): token hashes via the SAME Fold60.fold
    * the graft_fold60 expression evaluates (no reimplementation to
    * diverge), then a tight O(n·W) long loop per doc emitting the skinny
    * (doc_id, pos, h1, h2) frame. Both expression-land forms were
    * MEASURED and rejected: higher-order lambdas evaluate interpreted, so
    * aggregate-over-slice cost 48 s wall at sf0.1 (two array allocations
    * per window) and an unrolled element_at chain 608 s (90 interpreted
    * expression nodes per window); the loop form is 0.8 s. Window keys
    * are two overflow-safe polynomial accumulators mod 2^43 — every
    * intermediate < 2^52, so Spark's wrapping longs and DuckDB's checked
    * BIGINTs compute identical values (~86 effective key bits). */
  private[graft] def spanWindowHashes(spark: SparkSession,
      docsWithTokens: DataFrame): DataFrame = {
    val W = SpanW
    val M = 8796093022208L // 2^43
    import spark.implicits._
    docsWithTokens
      .select(col("doc_id"), col("toks")).as[(Long, Seq[String])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, toks) =>
          val ths = toks.iterator.map(t => graft.functions.Fold60.fold(
            org.apache.spark.unsafe.types.UTF8String.fromString(t))).toArray
          (0 to ths.length - W).iterator.map { i =>
            var a1 = 0L; var a2 = 0L; var j = 0
            while (j < W) {
              val x = ths(i + j)
              a1 = (a1 * 257L + x % M) % M
              a2 = (a2 * 1031L + (x >>> 17)) % M // x ≥ 0: >>> 17 = div 2^17
              j += 1
            }
            (id, i.toLong, a1, a2)
          }
        }
      }.toDF("doc_id", "pos", "h1", "h2")
  }

  def repeatedSpans(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    import org.apache.spark.sql.expressions.Window
    val W = SpanW
    val base0 = spansBase(spark, dir)
    def census(wh: DataFrame, base: DataFrame): DataFrame = {
      val flood = wh.groupBy("h1", "h2")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select("h1", "h2")
      val rw = Window.partitionBy("doc_id").orderBy("pos")
      val runs = wh.join(flood, Seq("h1", "h2"), "left_semi")
        .withColumn("isl", col("pos") - row_number().over(rw))
        .groupBy(col("doc_id"), col("isl"))
        .agg(count(lit(1)).as("run"))
        .groupBy("doc_id")
        .agg(max(col("run")).as("longest_run"),
          sum(col("run")).as("n_dup_windows"))
      base.join(runs, Seq("doc_id"), "left")
        .select(col("doc_id"),
          greatest(col("n") - (W - 1), lit(0L)).as("n_windows"),
          coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
          when(col("n") >= W, Exact.rnd(
              coalesce(col("n_dup_windows"), lit(0L)).cast("double") /
                (col("n") - (W - 1)).cast("double"), 4))
            .otherwise(lit(0.0)).as("dup_frac"),
          coalesce(col("longest_run") + (W - 1), lit(0L)).as("longest_span"))
    }
    // base feeds BOTH the window-hash pass and the final doc-level join —
    // without a persist each consumer re-runs the fanout+normTokens subtree,
    // so the corpus was tokenized TWICE per query (the r16 residual, now
    // closed): persist the skinny (doc_id, toks, n) frame so tokenization
    // happens once. wh persists too: it feeds the flood census AND the runs
    // join, and is wider (one row per window).
    val base = base0.persist()
    census(spanWindowHashes(spark, base.filter(col("n") >= W)).persist(), base)
  }

  /** M6: exact repeated-span SCRUB — the production leg of the span census
    * (m6_repeated_spans counts the memorized-quote spans; this REMOVES
    * them): every token covered by a flooded window (hash in ≥ 2 distinct
    * docs) is deleted from every document EXCEPT the span's canonical
    * owner — per window hash the minimum doc_id keeps its copy, the
    * keep-one-occurrence policy substring-level dedup ships (Lee et al.,
    * ACL '22: "remove all but one occurrence of each duplicated span").
    * The excerpt plants make the policy visible end to end: each excerpt
    * doc's windows are all owned by its source corpus doc, so excerpts
    * with ≥ W tokens scrub to EMPTY text while their sources keep every
    * token (spec-pinned, with token conservation).
    *
    * 100 TB shape: the window-hash pass and the flood census are the
    * census's own linear stages (shared code); ownership adds min(doc_id)
    * to the same map-side-combined aggregate; foreign duplicated windows
    * are an output-sized hash join (duplicated regions only — a clean
    * corpus flows through for free), covered token indices explode W× the
    * FOREIGN window count (bounded by W× the duplicated mass, not the
    * corpus), and the rebuild is a typed boolean-mask pass — O(n + c) per
    * doc, never O(n·c): the covered-index set joins back as one array per
    * affected doc and the mask loop touches each token once. No stage is
    * quadratic in anything; the only frame wider than the census's is the
    * covered-index set, which is duplication-sized by construction. */
  def spanScrub(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val W = SpanW
    val base0 = spansBase(spark, dir)
    def served(wh: DataFrame, base: DataFrame): DataFrame = {
      val flood = wh.groupBy("h1", "h2")
        .agg(countDistinct(col("doc_id")).as("nd"), min(col("doc_id")).as("owner"))
        .filter(col("nd") >= 2)
        .select("h1", "h2", "owner")
      val foreignW = wh.join(flood, Seq("h1", "h2"))
        .filter(col("doc_id") > col("owner"))
      val covered = foreignW.select(col("doc_id"),
          explode(sequence(col("pos"), col("pos") + (W - 1))).as("idx"))
        .dropDuplicates("doc_id", "idx")
      val covSets = covered.groupBy("doc_id")
        .agg(collect_list(col("idx")).as("cov"))
      import spark.implicits._
      base.join(covSets, Seq("doc_id"), "left")
        .select(col("doc_id"), col("toks"), col("cov"))
        .as[(Long, Seq[String], Option[Seq[Long]])]
        .map { case (id, toks, cov) =>
          val mask = new Array[Boolean](toks.length)
          cov.getOrElse(Nil).foreach(i => if (i < mask.length) mask(i.toInt) = true)
          val kept = new StringBuilder
          var i = 0
          var nKept = 0L
          while (i < toks.length) {
            if (!mask(i)) {
              if (nKept > 0) kept += ' '
              kept ++= toks(i)
              nKept += 1
            }
            i += 1
          }
          (id, toks.length.toLong, toks.length - nKept, kept.result())
        }.toDF("doc_id", "n_tokens", "n_scrubbed", "kept_text")
    }
    // base feeds the window-hash pass AND the typed rebuild join — persist
    // so the corpus is tokenized once per query (the r16 residual, closed
    // with repeatedSpans); wh feeds both the flood census and the
    // foreign-window join, so it persists too
    val base = base0.persist()
    served(spanWindowHashes(spark, base.filter(col("n") >= W)).persist(), base)
  }

  /** M6: inverted-index postings — the index-release artifact behind
    * phrase retrieval: for each selective 3-shingle (2 ≤ df ≤ 50 —
    * singletons index nothing, common phrases flood; single tokens are
    * useless here, a small vocabulary puts every one in nearly every doc),
    * the ascending posting list of documents containing it. One
    * distinct-explode, then a map-side-combined df COUNT first and the
    * posting build only for the terms that survive the band — a flood term
    * (df ≈ corpus size) must never reach collect_set, or its reducer
    * builds a corpus-sized list just to throw it away: the df-first
    * semi-join is what makes "every posting row ≤ 50 entries, no skewed
    * reducer" true BY CONSTRUCTION, not by luck. The list is emitted as a
    * comma-joined string, the portable wire form (posting lists ship as
    * packed arrays, never engine-native nested types). Cost class: like the
    * m6_stage_base builds, one string-shingling corpus pass per index
    * RELEASE — it cannot reuse the fold-based staged shingle tables
    * because the shipped index keys are the human-readable phrases, not
    * their hashes. */
  def postings(spark: SparkSession, dir: String): DataFrame = {
    // per-document dedup happens INSIDE the array (array_distinct, the
    // shingleBase pattern): every exploded (doc, term) row is then unique
    // by construction — no corpus-wide distinct() exchange at all
    val dt = Tables.fanout(Tables.documents(spark, dir))
      .select(col("doc_id"),
        explode(array_distinct(shingles(normTokens(col("text")), 3))).as("term"))
    def build(d: DataFrame): DataFrame = {
      val sel = d.groupBy("term").agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, 50))
      d.join(sel, Seq("term"))
        .groupBy("term")
        .agg(max(col("df")).as("df"), sort_array(collect_set(col("doc_id"))).as("ids"))
        .select(col("term"), col("df"),
          array_join(transform(col("ids"), i => i.cast("string")), ",").as("posting"))
    }
    // dt is narrow (no exchange to reuse) and feeds BOTH the df count and
    // the posting build — without within-query reuse the shingling pass
    // (the expensive part) runs twice, so the persist is load-bearing. The
    // result stays lazy: the cached blocks are a recomputable cache,
    // dropped by the caller's per-entry clearCache.
    build(dt.persist())
  }

  /** M6: epoch-weighted mixture MATERIALIZATION — sample_mix decides
    * keep/drop; this op executes a mixture with REPETITION, the way
    * training runs actually consume weights: a source with weight 2.3 is
    * seen for 2 full epochs plus a deterministic 30% band of a third,
    * weight 0.5 for a 50% band of one. Each document emits
    * floor(w) + (hash band < frac(w)) copies with a copy index — a pure
    * function of (doc_id, lang), so re-runs and backfills materialize the
    * identical multiset (a seeded RNG would be engine-specific), and the
    * whole op is one narrow map + bounded explode: work ∝ output tokens,
    * which is exactly the budget being spent. */
  def epochMix(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // weights × 100: en 0.5 (downsample), every other lang 2.3 (upsample)
    val whole = when(col("lang") === "en", 0).otherwise(2)
    val fracPct = when(col("lang") === "en", 50).otherwise(30)
    Tables.documents(spark, dir)
      .withColumn("band", pmod(Exact.fold60(
        concat(col("doc_id").cast("string"), lit("|epoch"))), lit(100)))
      .withColumn("n_copies",
        whole + when(col("band") < fracPct, 1).otherwise(0))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("lang"), col("n_copies"),
        explode(sequence(lit(0), col("n_copies") - 1)).as("copy_idx"))
  }

  /** M6: BPE merge-pair statistics — the first iteration of byte-pair-
    * encoding tokenizer training: adjacent character-pair counts across the
    * corpus, weighted by word frequency (the argmax is the first merge a
    * BPE trainer performs). The corpus collapses to its word-frequency
    * table FIRST (one keyed agg — the vocabulary is tiny next to the token
    * stream), pairs explode off the distinct words only, so the expensive
    * explode is ∝ vocabulary size, not corpus size — exactly how real BPE
    * trainers batch by word frequency. Top-20 via sort+limit
    * (TakeOrderedAndProject); the rank window runs over 20 rows. */
  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    val wf = Tables.fanout(Tables.documents(spark, dir))
      .select(explode(normTokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("f"))
    val pairs = wf.select(col("f"), explode(
        when(length(col("word")) >= 2,
          transform(sequence(lit(1), length(col("word")) - 1),
            i => col("word").substr(i, lit(2))))
          .otherwise(array())).as("pair"))
    val counts = pairs.groupBy("pair").agg(sum("f").as("cnt"))
    counts.orderBy(col("cnt").desc, col("pair")).limit(20)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cnt").desc, col("pair"))).cast("int"))
  }

  /** M6: per-language document-length profile — the corpus-census artifact
    * (how long are documents, per mixture component) every data release
    * reports: exact token-count percentiles plus the exact mean. One keyed
    * aggregation; `percentile`'s interpolation is the a11-pinned
    * bit-identical form, and the mean is one divide of exact longs. */
  def docLenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), size(tokens(col("text"))).as("n_tokens"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        rnd(expr("percentile(n_tokens, 0.5)"), 4).as("p50_tokens"),
        rnd(expr("percentile(n_tokens, 0.9)"), 4).as("p90_tokens"),
        rnd(expr("percentile(n_tokens, 0.99)"), 4).as("p99_tokens"),
        rnd(sum("n_tokens").cast("double") / count(lit(1)), 4).as("avg_tokens"))

  /** M6: language-ID confusion matrix — the classifier's standard eval
    * artifact (true label × prediction with counts), one keyed aggregation
    * over the langId output. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame =
    langId(spark, dir).groupBy("lang", "predicted_lang")
      .agg(count(lit(1)).as("n"))
      .withColumn("correct", col("lang") === col("predicted_lang"))

  /** Corpus release card — the one-row summary artifact a dataset ships
    * with: document/language/source cardinalities, exact character totals,
    * mean and population stddev of document length, and the exact-dup rate.
    * One aggregation pass; the three COUNT DISTINCTs expand the input 4×
    * map-side (Spark's expand-based multi-distinct) but the shuffle carries
    * only the distinct keys — at 100 TB this is the standard multi-distinct
    * plan, not a driver-side collect. The stddev comes from exact integer
    * sums (Σx, Σx², n) pushed through one explicitly-ordered double
    * expression — both engines evaluate the identical IEEE tree, so the
    * result is bit-portable where a builtin stddev's partial-merge order
    * would not be. Σx² accumulates in DECIMAL(38,0): a BIGINT sum of
    * squares wraps silently past 2^63 (10^12 docs of 3k chars gets there),
    * and the DuckDB oracle accumulates in HUGEINT — the decimal sum keeps
    * both engines exact at any corpus size. */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val agg = d.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      sum(col("n_chars")).as("total_chars"),
      sum(col("n_chars").cast("decimal(19,0)") * col("n_chars")).as("_sumsq"),
      countDistinct(Exact.fold60(col("text"))).as("distinct_texts"))
    val s = col("total_chars").cast("double")
    val q = col("_sumsq").cast("double")
    val n = col("n_docs").cast("double")
    agg
      .withColumn("avg_chars", rnd(s / n, 4))
      .withColumn("std_chars", rnd(sqrt((q - s * s / n) / n), 4))
      .withColumn("dup_pct",
        rnd((col("n_docs") - col("distinct_texts")) * 100.0 / col("n_docs"), 4))
      .drop("_sumsq")
  }

  /** Candidate-pair verification by edit distance — the precision stage a
    * fuzzy-dedup release runs after hashing: bucket documents on the 60-bit
    * fold of their 64-char prefix (hash-equality candidates, never
    * all-pairs), then score each bucket-local pair with Levenshtein over the
    * 200-char prefixes and keep the verdict. Work is ∝ candidate pairs ×
    * bounded O(200²) per pair; the self-join is one hash shuffle on the
    * bucket key, the same shape as m6_simhash_pairs. Levenshtein (unit-cost
    * insert/delete/substitute) is exact and integer — both engines agree by
    * definition ON ASCII: Spark counts codepoints while DuckDB's substring /
    * levenshtein pairing can differ on multi-byte text, so the oracle
    * pairing rests on the documents fixture being pure ASCII
    * (LlmPillarSpec pins that assumption — a non-ASCII generator change
    * fails the pin, not the hash gate). */
  def editVerify(spark: SparkSession, dir: String): DataFrame = {
    val h = Tables.documents(spark, dir).select(
      col("doc_id"),
      Exact.fold60(substring(col("text"), 1, 64)).as("bucket"),
      substring(col("text"), 1, 200).as("prefix"))
    val l = h.select(col("bucket"), col("doc_id").as("l_doc"),
      col("prefix").as("l_prefix"))
    val r = h.select(col("bucket"), col("doc_id").as("r_doc"),
      col("prefix").as("r_prefix"))
    l.join(r, Seq("bucket"))
      .filter(col("l_doc") < col("r_doc"))
      .withColumn("edit_dist", levenshtein(col("l_prefix"), col("r_prefix")))
      .select(col("l_doc"), col("r_doc"), col("edit_dist"),
        (col("edit_dist") <= 20).as("verified"))
  }

  /** M6: hashed-feature linear quality classifier — the fastText-shaped
    * MODEL-BASED filter production corpus pipelines run next to the
    * heuristic scores (the CCNet / LLaMA-style quality gate): features are
    * unigrams plus space-joined bigrams, hashed into 4096 buckets (the
    * hashing trick — collisions share weights by design, which is what
    * bounds the model size independently of vocabulary), each bucket
    * carrying a fixed signed integer weight in [-1000, 1000] derived from
    * the portable 60-bit fold of the bucket id — a deterministic stand-in
    * for shipped trained weights that exercises the exact inference
    * plumbing. The document score is bias + mean bucket weight
    * (0.1 + sw/(1000·n)), and the keep decision is evaluated in EXACT
    * integer space (sw ≥ −100·n, algebraically the same gate), so the
    * boolean never depends on float rounding. Documents whose normalized
    * text has no tokens produce no features and drop out on both engines.
    *
    * 100 TB shape: inference is one explode and one partial+final keyed
    * aggregation on doc_id — no weight-table join (the weight derives from
    * the bucket id in-register; a shipped-weights deployment broadcasts
    * the 4096-row table), no window, no driver state, integer sums only.
    * The only double math is two divides and one add in pinned order on
    * exact integer aggregates, so the oracle replays bit-identically. */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame =
    classifyFrame(Tables.documents(spark, dir))

  /** The classifier core over any (doc_id, text) frame — shared verbatim by
    * the batch query and the streaming gate (m4m), which is what makes the
    * bounded-drain equivalence a real statement about the topology. */
  private[graft] def classifyFrame(docs: DataFrame): DataFrame = {
    val buckets = 4096
    docs
      .select(col("doc_id"), normTokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(concat(col("toks"), shingles(col("toks"), 2))).as("feat"))
      .withColumn("bucket",
        pmod(Exact.fold60(concat(col("feat"), lit("|qc"))), lit(buckets)))
      .withColumn("w",
        pmod(Exact.fold60(concat(col("bucket").cast("string"), lit("|qw"))),
          lit(2001)) - 1000)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_features"), sum("w").as("sw"))
      .select(col("doc_id"), col("n_features"),
        rnd(lit(0.1) + col("sw").cast("double")
          / col("n_features").cast("double") / lit(1000.0), 4).as("score"),
        (col("sw") >= lit(-100L) * col("n_features")).as("keep"))
  }

  /** M6: deterministic training-shard manifest — the export step after
    * curation: every document lands in one of 64 shards by a salted
    * portable hash of its id, ordered within the shard by a SECOND
    * independent hash (the global shuffle a trainer needs, with no global
    * sort — ordering is per-shard, applied by the shard writer). The
    * manifest is the auditable artifact: per shard, document and token
    * counts plus the first/last documents in shuffle order (argmin/argmax
    * via min/max(struct) keyed aggs — no window). At 100 TB: one scan, one
    * 64-way keyed aggregation; shard sizes concentrate tightly (the hash
    * is uniform), and a writer repartitions by the same shard column so
    * the manifest provably describes the files. */
  def shardManifest(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables.fanout(Tables.documents(spark, dir))
      .select(col("doc_id"), size(tokens(col("text"))).as("n_toks"))
      .withColumn("ord",
        Exact.fold60(concat(lit("graft-shard:"), col("doc_id"))))
      .withColumn("shard", pmod(col("ord"), lit(64)))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_toks").as("n_tokens"),
        min(struct(col("ord"), col("doc_id"))).as("f"),
        max(struct(col("ord"), col("doc_id"))).as("l"))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        col("f.doc_id").as("first_doc"), col("l.doc_id").as("last_doc"))
  }

  /** One merge application of winning pair `mpr` ("X Y") to a '|'-anchored
    * symbol sequence `seq`: rewrite every occurrence of the pair AT TRUE
    * SYMBOL BOUNDARIES to the merged symbol "XY". Both edges are anchored:
    * the LEFT edge by the representation itself ('|' opens every symbol and
    * occurs nowhere else — normTokens strips it — so the pattern's leading
    * '|X' can never start mid-symbol), the RIGHT edge by a trailing-space
    * sentinel — `seq` gains one trailing ' ' so every symbol occurrence,
    * including the last, is space-terminated, and the pattern matches
    * "X Y " (trailing space included). Without the sentinel, "X Y" also
    * matches where Y is a strict PREFIX of a longer merged symbol (after
    * rounds merging (|b,|c) then (|a,|b), "|a |bc" would rewrite to
    * "|abc" — a merge of a pair that never existed, silently corrupting
    * every later round). Replacement is leftmost non-overlapping in both
    * engines (java.lang.String.replace / DuckDB replace), which is the
    * Sennrich merge order; rtrim strips exactly the sentinel (symbols never
    * end in a space). */
  private[graft] def applyMerge(seq: Column, mpr: Column): Column =
    rtrim(replace(concat(seq, lit(" ")), concat(mpr, lit(" ")),
      concat(replace(mpr, lit(" |"), lit("")), lit(" "))))

  /** The shared 8-round Sennrich merge learner behind m6_bpe_train and
    * m6_bpe_encode: per round, count adjacent symbol pairs over the VOCAB
    * table, take the global argmax, apply the merge (applyMerge) to every
    * word's symbol sequence. Returns the per-round winner frames and the
    * final merged vocabulary (word, f, seq). */
  private[graft] def bpeLearn(spark: SparkSession, dir: String)
      : (Seq[DataFrame], DataFrame) = {
    var w = Tables.fanout(Tables.documents(spark, dir))
      .select(explode(normTokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("f"))
      .select(col("word"), col("f"),
        concat(lit("|"), array_join(split(col("word"), ""), " |")).as("seq"))
    val steps = (1 to 8).map { i =>
      w = Dedup.cutLineage(w)
      val top = w
        .select(col("f"), explode(shingles(tokens(col("seq")), 2)).as("pr"))
        .groupBy("pr").agg(sum("f").as("freq"))
        .orderBy(col("freq").desc, col("pr")).limit(1)
      w = w.crossJoin(broadcast(top.select(col("pr").as("mpr"))))
        .withColumn("seq", applyMerge(col("seq"), col("mpr")))
        .drop("mpr")
      top.select(lit(i).as("step"), col("pr").as("merge_pair"), col("freq"))
    }
    (steps, w)
  }

  /** M6: BPE tokenizer TRAINING — the real merge-learning loop, not just
    * the one-step pair census (m6_bpe_pairs): 8 rounds of count-all-pairs →
    * global argmax → corpus-wide merge, the Sennrich BPE algorithm. Words
    * render as '|'-anchored char sequences ('abc' → "|a |b |c"; normTokens
    * guarantees '|' never occurs in a token), so a merge is one literal
    * `replace` of the winning pair, boundary-anchored on both edges
    * (applyMerge has the anchoring argument). The argmax is ORDER BY freq
    * DESC, pair LIMIT 1 riding a one-row broadcast crossJoin — no
    * driver-side state.
    *
    * 100 TB shape: after the single corpus pass that builds word
    * frequencies, EVERY round runs over the vocabulary table (distinct
    * words), which is millions of rows at web scale — not the corpus. Each
    * round cuts the vocab frame's lineage (Dedup.cutLineage, shared with
    * the CC loop) so round i+1 reads materialized rows instead of
    * recursing through i plans. */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeLearn(spark, dir)._1.reduce(_ unionAll _)

  /** M6: BPE corpus ENCODING — the other half of tokenizer training, and
    * the half a training-data pipeline actually runs at corpus scale (train
    * once on the vocabulary, encode 100 TB of documents into token ids):
    * apply the 8 learned merges to every document and emit, per document,
    * its encoded length, the first 12 token ids, a 60-bit fingerprint
    * of the full id sequence, and the normalized word/char counts
    * (n_words, n_norm_chars — computed here, in the one pass that already
    * touches every word, so fertility-style reports never re-tokenize the
    * corpus) — the manifest row a tokenized-shard writer records next to
    * the ids themselves.
    *
    * The encode path is WORD-MEMOIZED, exactly like fast BPE encoders
    * (each distinct word is segmented once; documents look their words up):
    * the trained vocabulary is a STAGED table (DedupStaging.bpeVocab —
    * train once per corpus release, vocabulary-bounded work), so encoding
    * is corpus → (doc, word-position) explode → one equi-join against the
    * staged vocab on the word — at 100 TB a broadcast of the vocabulary
    * or a shuffle bounded by it, never per-document merge loops and never
    * a re-train per encode run. Token ids come from the symbol table
    * (distinct final symbols, ranked alphabetically) — bounded by base
    * alphabet + one new symbol per merge (≤ ~44 rows here), so its rank
    * window is over a constant-size frame and the id table broadcasts
    * everywhere. The per-document id sequence is ordered by (word
    * position, symbol position) — a bounded per-document array sort, no
    * corpus window. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val vocab = DedupStaging.bpeVocab(spark, dir)
    val ids = vocab.select(explode(tokens(col("seq"))).as("sym")).distinct()
      .withColumn("token_id",
        (row_number().over(Window.orderBy("sym")) - 1).cast("int"))
    val words = Tables.fanout(Tables.documents(spark, dir))
      .select(col("doc_id"),
        posexplode(normTokens(col("text"))).as(Seq("wpos", "word")))
    // n_words / n_norm_chars ride the same rollup as conditional aggs over
    // the word-leading symbol row (spos = 0 — exactly one per word, and the
    // trained vocabulary covers every corpus word by construction, which
    // the lossless-round-trip spec pins): the manifest carries the per-doc
    // normalized word/char counts the fertility report needs, so no
    // downstream job ever re-tokenizes the corpus for them.
    words.join(vocab.select("word", "seq"), Seq("word"))
      .select(col("doc_id"), col("wpos"), length(col("word")).as("wlen"),
        posexplode(tokens(col("seq"))).as(Seq("spos", "sym")))
      .join(broadcast(ids), Seq("sym"))
      .groupBy("doc_id")
      .agg(
        array_sort(collect_list(
          struct(col("wpos"), col("spos"), col("token_id")))).as("e"),
        count(when(col("spos") === 0, lit(1))).as("n_words"),
        sum(when(col("spos") === 0, col("wlen").cast("long"))
          .otherwise(lit(0L))).as("n_norm_chars"))
      .select(col("doc_id"),
        size(col("e")).as("n_ids"),
        array_join(slice(transform(col("e"),
          x => x.getField("token_id").cast("string")), 1, 12), " ")
          .as("ids_head"),
        Exact.fold60(array_join(transform(col("e"),
          x => x.getField("token_id").cast("string")), " ")).as("ids_fp"),
        col("n_words"), col("n_norm_chars"))
  }

  /** M6: sequence packing over REAL tokenizer output — the packSequences
    * shard/running-offset machinery driven by the staged-BPE encode
    * manifests' id counts instead of whitespace token counts. A trainer
    * packs in tokenizer IDS (≈3.7 ids/word on this corpus), so chunk
    * boundaries land in different places than a word-count packer would
    * put them — this is the layout job that actually follows tokenization
    * in a training-data pipeline (encode → pack → shard-write). Same
    * 100 TB shape as packSequences: corpus-adaptive shard count, windows
    * partitioned per shard (~256 docs each), never a global sort; the id
    * counts ride the STAGED docs-sized encode manifest
    * (DedupStaging.bpeManifest — the corpus encode join ran once at
    * staging time; this query is manifest-read + per-shard window only). */
  def packBpe(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunk = 512
    val shards = packShards(docsN(spark, dir))
    val docs = DedupStaging.bpeManifest(spark, dir)
      .select(col("doc_id"), col("n_ids"),
        pmod(Exact.fold60(col("doc_id").cast("string")), lit(shards)).as("shard"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("end_offset", sum("n_ids").over(w))
      .select(col("doc_id"), col("shard"), col("n_ids"),
        (col("end_offset") - col("n_ids")).as("start_offset"),
        floor((col("end_offset") - col("n_ids")) / chunk).as("first_chunk"),
        floor((col("end_offset") - 1) / chunk).as("last_chunk"))
  }

  /** M6: temperature-smoothed language-mixture plan — the mT5/XLM-R
    * sampling rule (rate ∝ p^α, α = 1/2): high-resource languages are
    * down-weighted and low-resource ones up-weighted so the mixture
    * doesn't collapse onto the head language. α is fixed at 1/2 ON
    * PURPOSE: p^0.5 = sqrt(p), an IEEE-correctly-rounded single
    * operation both engines compute identically, where a general pow
    * (exp·ln) is ulp-unstable across libms — the tfidf raw-ratio
    * precedent. The normalizer Σ√p̂ is a 20-term float sum whose value
    * depends on accumulation order, so it folds LEFT-TO-RIGHT over the
    * lang-sorted weight array (sort_array + aggregate — the graft_dot
    * discipline applied to an agg), bit-identical to the oracle's
    * ORDER BY lang list_reduce.
    *
    * 100 TB shape: one corpus pass collapses to the per-language token
    * counts (exact longs, map-side partials); everything after is a
    * ≤|languages|-row frame — the collect_list/fold runs over ~20 rows,
    * and the plan emits one row per language. The published rate is
    * capped at 4× (production mixing caps upsampling so no language's
    * replicas dominate its fresh text). */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val langs = Tables.documents(spark, dir)
      .select(col("lang"), size(tokens(col("text"))).as("nt"))
      .groupBy("lang").agg(sum(col("nt")).as("n_tokens"))
    val one = langs.agg(
      sort_array(collect_list(struct(col("lang"), col("n_tokens")))).as("ls"),
      sum(col("n_tokens")).as("ntot"))
    one.select(col("ntot"),
        explode(col("ls")).as("l"),
        aggregate(col("ls"), lit(0.0),
          (acc, x) => acc +
            sqrt(x.getField("n_tokens").cast("double") / col("ntot").cast("double")))
          .as("sw"))
      .select(col("l.lang").as("lang"), col("l.n_tokens").as("n_tokens"),
        (col("l.n_tokens").cast("double") / col("ntot").cast("double")).as("p"),
        (sqrt(col("l.n_tokens").cast("double") / col("ntot").cast("double"))
          / col("sw")).as("q"))
      .select(col("lang"), col("n_tokens"),
        rnd(col("p"), 6).as("share"),
        rnd(col("q"), 6).as("mix_weight"),
        rnd(least(col("q") / col("p"), lit(4.0)), 4).as("sample_rate"))
  }

  /** M6: tokenizer fertility report — the per-language eval artifact a
    * tokenizer release ships (how many subword ids per word, how many
    * characters per id): the staged-BPE encode manifests joined back to
    * the documents' language and normalized character counts, reduced to
    * exact per-language long sums with two pinned divides. Fertility is
    * THE number that says whether a tokenizer under-serves a language
    * (high ids/word = the vocabulary doesn't cover it). One join of the
    * STAGED encode manifest (DedupStaging.bpeManifest — which carries the
    * per-doc n_words/n_norm_chars computed once in the encode pass) back
    * to the documents' pruned (doc_id, lang) projection + one keyed agg;
    * at 100 TB the manifest frame is docs-sized, the report
    * |languages|-sized, and NO stage here re-tokenizes document text —
    * the corpus encode join never re-runs. */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val enc = DedupStaging.bpeManifest(spark, dir)
      .select("doc_id", "n_ids", "n_words", "n_norm_chars")
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    enc.join(docs, Seq("doc_id"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words").cast("long")).as("n_words"),
        sum(col("n_ids").cast("long")).as("n_ids"),
        sum(col("n_norm_chars").cast("long")).as("n_norm_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_ids"),
        col("n_norm_chars"),
        rnd(col("n_ids").cast("double") / col("n_words").cast("double"), 4)
          .as("ids_per_word"),
        rnd(col("n_norm_chars").cast("double") / col("n_ids").cast("double"), 4)
          .as("chars_per_id"))
  }

  /** The retrieval query workload for m6_bm25_topk: three fixed term-bag
    * queries over the corpus vocabulary — the single source for the engine
    * frame AND the oracle's VALUES list, so the two can never drift. */
  private[graft] val Bm25Queries: Seq[(String, String)] = Seq(
    "q1" -> "vector hash join",
    "q2" -> "stream window agg",
    "q3" -> "slow scan filter")

  /** The BM25 index-build pass behind the staged `bm25_index` table
    * (DedupStaging.bm25Index): per-(term, doc) tf, per-doc length (a
    * doc-bounded window over the tf rows — the m6_tfidf exchange-reuse
    * shape), per-term df, and the index-level stats every BM25
    * implementation ships in its metadata — corpus doc count, average doc
    * length, and (v2, r15) the EXACT total token count behind avgdl —
    * denormalized onto the rows (constant columns RLE-encode to nothing in
    * parquet; a deployment would put them in the index manifest).
    * `tot_tokens` exists for incremental maintenance: merged stats after a
    * delta admission need exact-integer addition (n_docs' = Σ n_docs,
    * tot' = Σ tot), which the float avgdl alone cannot replay. One corpus
    * pass per index RELEASE; searches never touch raw text. */
  private[graft] def bm25IndexBuild(spark: SparkSession, dir: String): DataFrame =
    bm25IndexOf(Tables.fanout(Tables.documents(spark, dir))
      .select(col("doc_id"), normTokens(col("text")).as("toks")))

  /** The index build over any (doc_id, toks) frame — shared by the
    * corpus-release build above and m6_incremental_index's O(batch) delta
    * build (same pass, same denormalized columns; a delta member's
    * df/n_docs/avgdl/tot_tokens are BATCH-local — valid for the member
    * that wrote them, merged by the incremental reader). */
  private[graft] def bm25IndexOf(toks: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = toks.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val lenW = Window.partitionBy("doc_id")
    // sum(least(tf,1)) == per-term doc count, keeps the partial stage
    // canonically equal to the shared explode exchange (tfidfTerms has the
    // full argument)
    val dfreq = tf.groupBy("term").agg(sum(least(col("tf"), lit(1L))).as("df"))
    val stats = tf.agg(sum(col("tf")).as("tot"),
      countDistinct(col("doc_id")).as("nd"))
    tf.withColumn("dl", sum("tf").over(lenW))
      .join(dfreq, Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("term"), col("df"), col("doc_id"), col("tf"), col("dl"),
        col("nd").as("n_docs"),
        (col("tot").cast("double") / col("nd").cast("double")).as("avgdl"),
        col("tot").as("tot_tokens"))
  }

  /** M6: BM25 top-k document ranking — the retrieval-side consumer of the
    * index family (m6_postings builds a phrase index, m6_chunk_windows the
    * RAG chunks; this is the ranker that serves queries): three fixed
    * term-bag queries (Bm25Queries) scored with BM25 (k1 = 1.2, b = 0.75)
    * over the STAGED per-term index (DedupStaging.bm25Index — built once
    * per corpus release), top-10 documents per query.
    *
    * Work ∝ posting lists touched, never corpus-wide: the query terms are
    * plan-time literals, so the index scan carries a static `In(term, …)`
    * pushed filter — parquet row-group stats/dictionaries prune everything
    * but the touched posting lists (at cluster scale, a term-partitioned
    * index makes this partition pruning) — and the per-query fan-out rides
    * a broadcast of the (query, term) pairs. The ranking window partitions
    * by query_id over only the matched docs.
    *
    * Pinned arithmetic (the m6_tfidf raw-ratio precedent): idf is the raw
    * ratio N/df — `ln` is implementation-defined in its last ulp across
    * libms, which a hash compare would expose — and every constant
    * (2.2 = k1+1, 1.2, 0.75, 0.25 = 1−b) appears as the same literal in
    * both engines rather than being derived at runtime. The per-document
    * score sum folds LEFT-TO-RIGHT over the term-sorted per-doc score
    * array (sort_array + aggregate — the temperatureMix discipline), so
    * the float accumulation order is pinned cross-engine. */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val qterms = Bm25Queries
      .flatMap { case (q, text) => text.split(" ").map(t => (q, t)) }
      .toDF("query_id", "term")
    val allTerms = Bm25Queries.flatMap(_._2.split(" ")).distinct
    val s = (col("n_docs").cast("double") / col("df").cast("double")) *
      (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") +
        lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl"))))
    val hits = DedupStaging.bm25Index(spark, dir)
      .filter(col("term").isin(allTerms: _*)) // static pushdown: only the touched posting lists
      .join(broadcast(qterms), Seq("term"))
      .select(col("query_id"), col("doc_id"), col("term"), s.as("s"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))
    hits.groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_terms"),
        aggregate(sort_array(collect_list(struct(col("term"), col("s")))),
          lit(0.0), (acc, x) => acc + x.getField("s")).as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("query_id"), col("doc_id"), col("rnk"), col("n_terms"),
        rnd(col("score"), 4).as("score"))
  }

  /** The retrieval workload for m6_phrase_search: fixed literal phrases —
    * two 3-token phrases (a single posting-list lookup), one 4-token
    * phrase (a true multi-shingle positional intersection), and one
    * 2-token phrase (served by the index's 2-shingle rows — before r15 the
    * shortest, most common phrase class was structurally unservable) — the
    * single source for the engine frame AND the oracle's VALUES list. */
  private[graft] val PhraseQueries: Seq[(String, String)] = Seq(
    "p1" -> "order scan fast",
    "p2" -> "group join value",
    "p3" -> "order big filter value",
    "p4" -> "order scan")

  /** The positional phrase-index build behind the staged `phrase_index`
    * table (DedupStaging.phraseIndex): one row per shingle OCCURRENCE —
    * (term, doc_id, pos) with pos the 1-based anchor of the shingle in the
    * document's canonical token stream. v2 (r15) indexes 2-shingles
    * alongside the 3-shingles — a k-token phrase decomposes into k−2
    * 3-shingles, so WITHOUT 2-shingle rows a 2-token phrase (the shortest
    * and most common phrase class) was structurally unservable; a
    * 2-shingle string can never collide with a 3-shingle string (space-
    * joined token tuples of different arity), so the two row families
    * coexist under one `term` key. Both arities ride ONE corpus pass (one
    * tokenize, one explode of the concatenated occurrence arrays). Unlike
    * m6_postings (the df-banded per-term posting STRINGS — a census
    * artifact), this is the positional index a phrase-retrieval engine
    * serves from: no df band (a searched phrase must be findable however
    * common its shingles), no per-term list assembly (rows stay flat — no
    * collect, no skewed reducer anywhere), one corpus pass per index
    * release. At cluster scale the release writer partitions/sorts by term
    * so a search's In(term, …) filter becomes partition pruning. */
  private[graft] def phraseIndexBuild(spark: SparkSession, dir: String): DataFrame =
    Tables.fanout(Tables.documents(spark, dir))
      .select(col("doc_id"), normTokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(concat(
        transform(shingles(col("toks"), 3),
          (s, i) => struct(s.as("term"), (i + 1).as("pos"))),
        transform(shingles(col("toks"), 2),
          (s, i) => struct(s.as("term"), (i + 1).as("pos"))))).as("o"))
      .select(col("o.term").as("term"), col("doc_id"), col("o.pos").as("pos"))

  /** M6: exact phrase retrieval over the STAGED positional index — the
    * textbook positional-intersection algorithm (Manning/Raghavan/Schütze
    * IIR §2.4): a k-token phrase (k ≥ 3) decomposes into its k−2
    * overlapping 3-shingles; every index occurrence of shingle j at
    * position p votes for a phrase match anchored at p − j, and an anchor
    * that collects all k−2 votes IS a verified occurrence — index-only
    * verification, the raw corpus is never touched. A 2-token phrase IS
    * its own (single) 2-shingle, served by the index's 2-shingle rows
    * (r15) with one vote required — the identical voting plan, no fallback
    * path.
    *
    * Work ∝ posting lists touched, never corpus-wide: the phrase shingles
    * are plan-time literals, so the index scan carries a static In(term, …)
    * pushed filter, and the (query, shingle, offset) table rides a
    * broadcast. The vote count per (query, doc, anchor) is a plain
    * count(*): index rows are unique per (term, doc_id, pos) and the query
    * table per (query_id, off), so each offset contributes at most one row
    * to an anchor group. */
  def phraseSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val qsh = PhraseQueries.flatMap { case (q, text) =>
      val t = text.split(" ")
      if (t.length == 2) Seq((q, text, 0, 1)) // a bigram is its own 2-shingle
      else (0 to t.length - 3).map(j =>
        (q, t.slice(j, j + 3).mkString(" "), j, t.length - 2))
    }
    val qdf = qsh.toDF("query_id", "term", "off", "n_sh")
    val allTerms = qsh.map(_._2).distinct
    DedupStaging.phraseIndex(spark, dir)
      .filter(col("term").isin(allTerms: _*)) // static pushdown: only the phrase shingles' posting lists
      .join(broadcast(qdf), Seq("term"))
      .select(col("query_id"), col("doc_id"),
        (col("pos") - col("off")).as("anchor"), col("n_sh"))
      .groupBy("query_id", "doc_id", "anchor")
      .agg(count(lit(1)).as("nsh_hit"), max(col("n_sh")).as("need"))
      .filter(col("nsh_hit") === col("need"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_matches"),
        min(col("anchor")).cast("long").as("first_pos"))
  }

  /** M6: corpus release diff — the governance census between two corpus
    * releases (the SCD-style report a data-curation team publishes with
    * every release: how many documents arrived, left, changed, and what
    * that did to the token budget). Release B is derived deterministically
    * from release A (the corpus): every 17th document removed, every 10th
    * survivor's tokens halved (the incremental-admission rule), plus the
    * arriving batch admitted at doc_id + 3000000.
    *
    * Production shape: each release reduces to (doc_id, n_tokens,
    * fingerprint) BEFORE the diff join — md5 over the canonical token
    * stream, computed engine-identically in Spark and DuckDB — so the
    * full-outer diff shuffle carries ~50-byte rows, never token arrays;
    * at 100 TB the join is two linear release scans plus an id-keyed
    * shuffle of fingerprints. Fingerprinting itself is INCREMENTAL: a
    * release-B doc that release A already carried UNTOUCHED reuses A's
    * fingerprint row instead of re-tokenizing (a release manifest ships
    * its fingerprints; only the ~20% touched docs hash fresh — a naive
    * twin re-tokenized the full corpus three times and cost 45 s at the
    * 100× probe). Status is a fingerprint compare (null side =
    * added/removed), and the census is a 4-row groupBy with exact token
    * deltas. */
  def releaseDiff(spark: SparkSession, dir: String): DataFrame = {
    def fp(df: DataFrame): DataFrame = df.select(
      col("doc_id"),
      size(col("toks")).cast("long").as("n"),
      md5(concat_ws(" ", col("toks")).cast("binary")).as("fp"))
    def census(fpa: DataFrame): DataFrame = {
      // touched docs hash fresh: the halved survivors and the arriving batch
      val halved = fp(Tables.fanout(Tables.documents(spark, dir))
        .filter(col("doc_id") % 10 === 0 && col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          filter(normTokens(col("text")), (_, i) => i % 2 === 0).as("toks")))
      val fpb = fpa.filter(col("doc_id") % 17 =!= 0 && col("doc_id") % 10 =!= 0)
        .unionAll(halved)
        .unionAll(fp(arrivingDocTokens(spark, dir)))
      fpa.select(col("doc_id"), col("n").as("n_a"), col("fp").as("fp_a"))
        .join(fpb.select(col("doc_id"), col("n").as("n_b"), col("fp").as("fp_b")),
          Seq("doc_id"), "full_outer")
        .select(
          when(col("fp_b").isNull, lit("removed"))
            .when(col("fp_a").isNull, lit("added"))
            .when(col("fp_a") === col("fp_b"), lit("unchanged"))
            .otherwise(lit("modified")).as("status"),
          col("n_a"), col("n_b"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum("n_a"), lit(0L)).as("tokens_before"),
          coalesce(sum("n_b"), lit(0L)).as("tokens_after"))
    }
    val fpa = fp(Tables.fanout(Tables.documents(spark, dir))
      .select(col("doc_id"), normTokens(col("text")).as("toks")))
    // fpa — release A's skinny (doc_id, n, fp) manifest — feeds BOTH the
    // diff join's A side AND the untouched-doc reuse branch of release B.
    // Without within-query reuse (narrow subtree, no exchange for AQE to
    // share) the A-side tokenize+hash pass runs twice: the r15 100× probe
    // measured it as half the query's 43.6 s. The persist is load-bearing
    // (the postings discipline: a lazy result over a recomputable cache).
    // At 100 TB the ~50-byte rows persist MEMORY_AND_DISK like any release
    // manifest; production would stage them with the corpus release.
    census(fpa.persist())
  }

  /** The arriving-document batch fixture for m6_incremental_index: every
    * 10th document re-arrives at doc_id + 3000000 with every other token
    * dropped (the Dedup.arrivingBatch halving rule under this family's
    * normTokens canon — Spark's 0-based lambda keeps i % 2 = 0, DuckDB's
    * 1-based list_filter keeps i % 2 = 1: the same elements).
    * Deterministic in both engines. */
  private def arrivingDocTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.fanout(Tables.documents(spark, dir).filter(col("doc_id") % 10 === 0))
      .select((col("doc_id") + 3000000L).as("doc_id"),
        filter(normTokens(col("text")), (_, i) => i % 2 === 0).as("toks"))

  /** M6: incremental retrieval-index maintenance — a document batch
    * ADMITTED into the released BM25 index without rebuilding it (the
    * m6_incremental_dedup/m6_incremental_commit production shape applied
    * to the index the RAG stack serves from): the staged `bm25_index` is
    * referenced zero-copy as the catalog's base member
    * (Connectors.appendMemberRef — O(1) metadata), the batch's delta
    * posting rows are one O(batch) index-build pass appended through the
    * atomic manifest commit (Connectors.appendTo), and the index-level
    * stats are UPDATED by appending a (n_docs, tot_tokens) row per member
    * to a stats manifest — searches read Σ members, exact integer
    * addition, which is why the v2 index carries tot_tokens instead of
    * only the float avgdl.
    *
    * The search half then ranks the fixed Bm25Queries over corpus + batch:
    * per-row df/n_docs/avgdl are RELEASE-scoped (stale across members by
    * construction), so the incremental reader derives df as the
    * per-term row count over the catalog — still only the query terms'
    * posting lists, the same static In(term, …) pushdown into every
    * member — and nd/avgdl from the stats manifest. Work: O(batch) for
    * the admission, O(posting lists touched) for the search; the corpus
    * is never re-tokenized, never copied. The oracle replays index build,
    * batch admission, merged stats, and ranking from raw text. */
  def incrementalIndex(spark: SparkSession, dir: String): DataFrame = {
    val (post, stats) = admittedCatalog(spark, dir)
    // the search: rank the fixed queries over corpus + admissions
    bm25CatalogSearch(spark, post, stats)
      .withColumn("from_batch", col("doc_id") >= 3000000L)
  }

  /** The release + admitted-batch catalog fixture shared by the three
    * index-lifecycle queries (m6_incremental_index, m6_index_compact,
    * m6_index_forget): the staged release index referenced zero-copy as
    * the base member, one O(batch) delta admission, per-member stats
    * rows. Returns the (postings, stats) table dirs. */
  private[graft] def admittedCatalog(spark: SparkSession, dir: String): (String, String) = {
    DedupStaging.bm25Index(spark, dir) // ensure the release index is committed
    val catDir = Connectors.scratchCatalog("graft-inc-index-")
    val post = s"$catDir/postings"; val stats = s"$catDir/stats"
    Connectors.appendMemberRef(spark, post,
      DedupStaging.committedDataDir(dir, "bm25_index").get)
    Connectors.appendTo(spark, stats,
      memberStatsOf(DedupStaging.bm25Index(spark, dir)))
    // the admission: one O(batch) index-build pass, one atomic append per
    // table. The generation's file count scales with the batch — ~5k docs'
    // postings per file, clamped to the session's parallelism: the r15
    // 100× probe measured the previous coalesce(1) serializing a
    // multi-million-row posting write through one task (79 s wall, the
    // whole query's cost), exactly the "a production batch keeps its
    // partitioning" caveat the old comment deferred.
    val deltaFiles = Connectors.deltaFiles(
      docsN(spark, dir) / 10) // memoized — no per-call count job
    // the delta posting frame feeds TWO commits (the generation write and
    // the member stats row); unpersisted, the whole O(batch) index build
    // (explode + two keyed shuffles + a per-doc window) ran twice per
    // lifecycle query — guide §1.2's "don't compute things twice". Persist
    // SCOPED: the frame is batch-sized (one row per distinct (doc, term)),
    // and both consumers are drained before the unpersist.
    val delta = bm25IndexOf(arrivingDocTokens(spark, dir)).persist()
    try {
      Connectors.appendTo(spark, post, delta.coalesce(deltaFiles))
      Connectors.appendTo(spark, stats, memberStatsOf(delta))
    } finally delta.unpersist()
    (post, stats)
  }

  /** M6: retrieval-index OPTIMIZE — the compaction leg of the index
    * lifecycle (admit → serve → compact → serve): after admissions
    * accumulate members (a zero-copy release ref + one delta generation
    * per batch), `Connectors.compact` rewrites the postings catalog to a
    * single owned generation and the stats manifest collapses to its
    * one-row sum, both through the same atomic pointer flip every other
    * commit here uses — readers see the member'd catalog until the
    * rename and the compacted one after, never a mix. Compaction changes
    * BYTES, not answers: df/nd/avgdl are catalog totals, invariant under
    * re-membering, so the post-compact search serves bit-identical
    * rankings — the oracle is m6_incremental_index's replay VERBATIM,
    * which is the strongest statement of the invariant the gate can make.
    * At 100 TB compaction is the deliberate full rewrite OPTIMIZE always
    * is (run per release window, not per batch); the payoff is the read
    * side: one generation's worth of right-sized files instead of
    * one-per-admission, and the external base ref's lifetime ends. */
  def indexCompact(spark: SparkSession, dir: String): DataFrame = {
    val (post, stats) = admittedCatalog(spark, dir)
    // postings compaction and the stats-manifest collapse rewrite
    // DIFFERENT tables — overlap them (guide §2.6)
    Connectors.commitInParallel(Seq(
      () => Connectors.compact(spark, post),
      () => Connectors.replaceTable(spark, stats,
        Connectors.readTable(spark, stats)
          .agg(sum("n_docs").as("n_docs"), sum("tot_tokens").as("tot_tokens")))))
    bm25CatalogSearch(spark, post, stats)
      .withColumn("from_batch", col("doc_id") >= 3000000L)
  }

  /** M6: right-to-be-forgotten retraction — the governance leg of the
    * index lifecycle: a forget request (a batch of doc ids — GDPR erasure,
    * takedowns, opt-outs) is admitted into the served catalog WITHOUT
    * rewriting it. The request commits two atomic appends: the ids land in
    * a tombstone table, and the stats manifest gains a NEGATIVE
    * (n_docs, tot_tokens) row derived from the named documents alone —
    * O(forget), the corpus is never re-scanned (zero-token docs are
    * excluded from the count the way the index build's nd never counted
    * them). The search then anti-joins the broadcast tombstones BEFORE
    * df derivation, so document frequency, nd and avgdl are all exact
    * post-retraction values and rankings are bit-identical to an index
    * built without the forgotten docs (the oracle replays exactly that
    * from raw text). Physical removal is deferred to the next
    * m6_index_compact-style OPTIMIZE — the Delta/Iceberg deletion-vector
    * production shape. Forget set: every catalog doc with
    * doc_id % 13 == 0 (originals and admitted-batch twins both). */
  def indexForget(spark: SparkSession, dir: String): DataFrame = {
    val (post, stats) = admittedCatalog(spark, dir)
    val tomb = tombstoneAdmit(spark, dir, post, stats)
    bm25CatalogSearch(spark, post, stats, Some(tomb))
      .withColumn("from_batch", col("doc_id") >= 3000000L)
  }

  /** The forget-request admission shared by m6_index_forget and
    * m6_index_purge: tombstone ids + the negative stats row, two atomic
    * appends, O(forget) work. Returns the tombstone table dir. */
  /** The tombstone table is a SIBLING of the postings table in the same
    * catalog root — fail fast if a caller ever passes a postings dir this
    * derivation can't invert (r15 ADVICE: a silent stripSuffix no-op would
    * land the tombstones inside an unrelated path). */
  private[graft] def tombstoneDirOf(post: String): String = {
    require(post.endsWith("/postings"),
      s"expected a .../postings table dir, got: $post")
    s"${post.stripSuffix("/postings")}/tombstones"
  }

  /** The forget-request payload shared by the batch admission and the
    * streaming one (m4p): every catalog doc with doc_id % 13 == 0
    * (originals and admitted-batch twins both), each carrying its token
    * count — everything the stats correction needs rides WITH the request,
    * O(forget), the corpus is never re-scanned. */
  private[graft] def forgetRequest(spark: SparkSession, dir: String): DataFrame =
    Tables.fanout(Tables.documents(spark, dir))
      .filter(col("doc_id") % 13 === 0)
      .select(col("doc_id"), normTokens(col("text")).as("toks"))
      .unionAll(arrivingDocTokens(spark, dir).filter(col("doc_id") % 13 === 0))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))

  private def tombstoneAdmit(spark: SparkSession, dir: String,
      post: String, stats: String): String = {
    val tomb = tombstoneDirOf(post)
    // the request frame feeds TWO commits (tombstone ids and the negative
    // stats row); unpersisted, the request derivation (corpus filter +
    // normTokens over the forget slice, twice over — original and batch
    // legs) ran twice per query. Persist SCOPED: two longs per forgotten
    // doc, both consumers drained before the unpersist (guide §1.2).
    val forgotten = forgetRequest(spark, dir).persist()
    try {
      Connectors.appendTo(spark, tomb, forgotten.select("doc_id"))
      Connectors.appendTo(spark, stats, forgotten
        .filter(col("n_tokens") > 0) // nd never counted token-less docs
        .agg((-count(lit(1))).as("n_docs"),
          (-coalesce(sum(col("n_tokens")), lit(0L))).as("tot_tokens")))
    } finally forgotten.unpersist()
    tomb
  }

  /** M6: physical purge — the erasure half GDPR actually requires: the
    * tombstones m6_index_forget serves around are APPLIED at the next
    * rewrite (the Delta/Iceberg "deletion vectors materialize at
    * OPTIMIZE" production shape): the postings catalog is republished
    * without the tombstoned rows, the stats manifest collapses to its
    * corrected one-row sum, and the subsequent search runs with NO
    * tombstone table at all — the forgotten documents' bytes are gone
    * from the served snapshot, not merely masked (superseded members
    * survive one commit window for in-flight readers, then the sweep
    * removes the last physical copy). Served answers are identical
    * before and after the purge — the oracle is m6_index_forget's replay
    * VERBATIM, the same changes-bytes-not-answers statement
    * m6_index_compact makes for compaction. */
  def indexPurge(spark: SparkSession, dir: String): DataFrame = {
    val (post, stats) = admittedCatalog(spark, dir)
    val tomb = tombstoneAdmit(spark, dir, post, stats)
    // the postings purge and the stats collapse rewrite DIFFERENT tables —
    // overlap them (guide §2.6)
    Connectors.commitInParallel(Seq(
      () => Connectors.replaceTable(spark, post,
        Connectors.readTable(spark, post).join(
          broadcast(Connectors.readTable(spark, tomb)), Seq("doc_id"), "left_anti")),
      () => Connectors.replaceTable(spark, stats,
        Connectors.readTable(spark, stats)
          .agg(sum("n_docs").as("n_docs"), sum("tot_tokens").as("tot_tokens")))))
    bm25CatalogSearch(spark, post, stats)
      .withColumn("from_batch", col("doc_id") >= 3000000L)
  }

  /** Per-member (n_docs, tot_tokens) stats row for a catalog's stats
    * manifest — shared by the batch admission (m6_incremental_index) and
    * the streaming one (m4n). */
  private[graft] def memberStatsOf(m: DataFrame): DataFrame =
    m.agg(max("n_docs").as("n_docs"), max("tot_tokens").as("tot_tokens"))

  /** The incremental-catalog BM25 reader shared by batch and streaming
    * admission: ranks the fixed Bm25Queries over EVERY committed member —
    * df derived as the per-term row count across the catalog (still only
    * the query terms' posting lists; the per-row df column is
    * release-scoped and stale across members by construction), nd/avgdl
    * from the stats manifest's exact integer sums. Because df, nd and
    * avgdl are catalog TOTALS, the ranking is independent of how the
    * corpus was partitioned into admitted members — one release member,
    * release + delta, or a stream of micro-batches all serve the same
    * scores (m4n's oracle is literally the release ranker's). A tombstone
    * table (m6_index_forget) anti-joins the touched posting rows BEFORE
    * the df count, so df/nd/avgdl and the served rankings are all exact
    * post-retraction values; the tombstone set broadcasts (a forget
    * batch is request-sized, never corpus-sized). */
  private[graft] def bm25CatalogSearch(spark: SparkSession, post: String,
      stats: String, tomb: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val qterms = Bm25Queries
      .flatMap { case (q, text) => text.split(" ").map(t => (q, t)) }
      .toDF("query_id", "term")
    val allTerms = Bm25Queries.flatMap(_._2.split(" ")).distinct
    val st = Connectors.readTable(spark, stats)
      .agg(sum("n_docs").as("nd"), sum("tot_tokens").as("tot"))
    val touched0 = Connectors.readTable(spark, post)
      .filter(col("term").isin(allTerms: _*)) // static pushdown into every member
      .select("term", "doc_id", "tf", "dl")
    val touched = tomb.fold(touched0)(t => touched0.join(
      broadcast(Connectors.readTable(spark, t)), Seq("doc_id"), "left_anti"))
    // current df = per-term row count over the catalog — O(posting lists),
    // never corpus-wide (the per-row df column is release-scoped)
    val dfreq = touched.groupBy("term").agg(count(lit(1)).as("df"))
    val s = (col("nd").cast("double") / col("df").cast("double")) *
      (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) *
        (col("dl").cast("double") /
          (col("tot").cast("double") / col("nd").cast("double")))))
    val hits = touched.join(broadcast(qterms), Seq("term"))
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(st))
      .select(col("query_id"), col("doc_id"), col("term"), s.as("s"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))
    hits.groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_terms"),
        aggregate(sort_array(collect_list(struct(col("term"), col("s")))),
          lit(0.0), (acc, x) => acc + x.getField("s")).as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("query_id"), col("doc_id"), col("rnk"), col("n_terms"),
        rnd(col("score"), 4).as("score"))
  }

  /** M6: DSIR-style importance weights (Xie et al. 2023, arXiv:2302.03169,
    * "Data Selection for Language Models via Importance Resampling" —
    * public method): score every raw document by how much its hashed
    * n-gram feature distribution looks like a TARGET domain (here the
    * lang='en' slice), the curation step that picks pretraining data to
    * match a trusted reference corpus. Features are the
    * m6_quality_classifier pipeline under an independent salt: unigrams +
    * bigrams hashed into 4096 buckets; the bucket census aggregates raw
    * and target counts in ONE map-side-combined pass (target is a
    * conditional sum, not a second scan), and the 4096-row smoothed
    * likelihood-ratio table broadcasts into the per-doc scoring join — at
    * 100 TB the census is 4096 partial cells per task and the scoring pass
    * never shuffles the corpus.
    *
    * Pinned arithmetic: the published estimator sums log(p_target/p_raw)
    * per feature, but ln is libm-implementation-defined in its last ulp
    * (the m6_bm25_topk idf precedent), so this variant scores with the
    * add-one-smoothed raw likelihood ratio averaged per feature — same
    * ranking intent, hash-replayable. The per-doc float sum folds in
    * bucket-sorted order (sort_array + aggregate, the bm25 discipline;
    * equal buckets carry bit-identical ratios, so tie order can't change
    * the fold).
    *
    * The ratio table is corpus-RELEASE state, staged once
    * (DedupStaging.dsirRatios — the bm25_index/bpe_manifest build-once
    * precedent): before r15 each invocation re-derived the census, holding
    * the corpus-sized per-doc feature frame in a persist so census and
    * scoring could share one pass — a memory-resident-corpus assumption
    * that breaks at 100 TB. Now the scoring pass STREAMS: one corpus
    * tokenize → hash → broadcast-join against the staged kilobyte table →
    * one keyed aggregation, no persist anywhere. The oracle still replays
    * census + scoring from raw text, so the staged ratios stay
    * hash-verified through this consumer. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirFeatures(spark, dir).select("doc_id", "bucket")
      .join(broadcast(DedupStaging.dsirRatios(spark, dir)), Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_features"),
        aggregate(sort_array(collect_list(struct(col("bucket"), col("ratio")))),
          lit(0.0), (acc, x) => acc + x.getField("ratio")).as("s"))
      .select(col("doc_id"), col("n_features"),
        Exact.rnd(col("s") / col("n_features").cast("double"), 4).as("weight"),
        (col("s") >= col("n_features").cast("double")).as("keep"))

  /** The hashed-feature projection shared by the staged census build and
    * the scoring pass: unigrams + bigrams under the |ds salt, hashed into
    * 4096 buckets. */
  private def dsirFeatures(spark: SparkSession, dir: String): DataFrame =
    Tables.fanout(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), normTokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"),
        explode(concat(col("toks"), shingles(col("toks"), 2))).as("feat"))
      .select(col("doc_id"), col("lang"),
        pmod(Exact.fold60(concat(col("feat"), lit("|ds"))), lit(4096)).as("bucket"))

  /** The staged-ratio-table build (DedupStaging.dsirRatios): ONE
    * map-side-combined census pass over the corpus features (target is a
    * conditional sum, not a second scan) → the 4096-row add-one-smoothed
    * likelihood-ratio table, kilobytes, built once per corpus release. */
  private[graft] def dsirRatiosBuild(spark: SparkSession, dir: String): DataFrame = {
    val census = dsirFeatures(spark, dir).groupBy("bucket")
      .agg(count(lit(1)).as("r"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("t"))
    val totals = census.agg(sum("r").as("rt"), sum("t").as("tt"))
    census.crossJoin(broadcast(totals))
      .select(col("bucket"),
        (((col("t") + 1L).cast("double") / (col("tt") + 4096L).cast("double")) /
          ((col("r") + 1L).cast("double") / (col("rt") + 4096L).cast("double")))
          .as("ratio"))
  }

  /** M6: source distribution-shift census — pairwise total-variation
    * distance between the unigram distributions of each document source,
    * plus vocabulary Jaccard. The drift report a corpus release runs when
    * admitting a new source (or comparing a refreshed crawl against the
    * previous snapshot): TV(p, q) = ½ Σ_t |p_t − q_t| answers "how much
    * would importance weights have to move", vocabulary Jaccard answers
    * "is the shift new words or reweighted old ones".
    *
    * Pinned arithmetic: the TV numerator is computed EXACTLY in integers —
    * for terms both sources share, Σ (c_a·n_b + c_b·n_a − |c_a·n_b −
    * c_b·n_a|) (each addend ≥ 0, exact), and terms exclusive to one source
    * contribute through the identity Σ_excl c_a = n_a − Σ_shared c_a,
    * folding to numerator = 2·n_a·n_b − defect. TV is then ONE
    * correctly-rounded divide of two exact integers — bit-portable, no
    * float summation order to pin (the m6_tfidf raw-ratio precedent taken
    * to its integer limit). Products and the defect sum accumulate as
    * decimal(38,0) (r15, was Long: past ~3×10⁹ tokens/source the Long
    * products wrapped SILENTLY under Spark's non-ANSI sum while the
    * DuckDB replay errored loudly — the r14 ADVICE divergence); the
    * oracle mirrors in HUGEINT, and both stay exact through any
    * physically reachable corpus.
    *
    * Pairs sharing ZERO vocabulary are emitted too (r15, was omitted by
    * the inner term join): the report scaffolds over ALL source pairs
    * (an |S|²-row broadcast cross of the tiny totals frame) and a pair
    * with no shared terms — exactly the most dramatic shift — reports
    * tv_distance = 1.0, vocab_jaccard = 0.0 instead of vanishing.
    *
    * 100 TB shape: per-(source, term) counts are one map-side-combined
    * aggregation over corpus tokens; the per-source totals frame is
    * |sources| rows and broadcasts; the pair join is equi-keyed on TERM
    * (vocabulary-sized, near-uniform — never doc-keyed, never all-pairs
    * docs) and emits ≤ |sources|²/2 rows per term before one tiny keyed
    * aggregation. No windows, no sorts, no driver state. */
  def sourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.fanout(Tables.documents(spark, dir))
      .select(col("source"), explode(normTokens(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy("source")
      .agg(sum("c").as("n"), count(lit(1)).as("vocab"))
    def side(tag: String): DataFrame =
      cnt.join(broadcast(tot.select("source", "n")), Seq("source")).select(
        col("source").as(s"source_$tag"), col("term"),
        col("c").as(s"c$tag"), col("n").as(s"n$tag"))
    // exact wide-integer products: (19,0)×(19,0) → decimal(38,0), summed
    // as decimal(38,0) — overflow-free for any Long-countable corpus
    val pa = col("ca").cast("decimal(19,0)") * col("nb").cast("decimal(19,0)")
    val pb = col("cb").cast("decimal(19,0)") * col("na").cast("decimal(19,0)")
    val shared = side("a").join(side("b"), Seq("term"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("shared_terms"),
        sum(pa + pb - abs(pa - pb)).as("defect"))
    // the all-pairs scaffold: |S|² rows off the broadcast totals — a
    // deliberate tiny non-equi join (sources, not docs), never corpus-keyed
    val pairs = tot
      .select(col("source").as("source_a"), col("n").as("na"), col("vocab").as("va"))
      .join(broadcast(tot.select(col("source").as("source_b"),
        col("n").as("nb"), col("vocab").as("vb"))),
        col("source_a") < col("source_b"))
    val denom =
      col("na").cast("decimal(19,0)") * col("nb").cast("decimal(19,0)") * lit(2)
    val sh = coalesce(col("shared_terms"), lit(0L))
    pairs.join(broadcast(shared), Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), sh.as("shared_terms"),
        rnd((denom - coalesce(col("defect"), lit(0).cast("decimal(38,0)")))
          .cast("double") / denom.cast("double"), 6).as("tv_distance"),
        rnd(sh.cast("double") /
          (col("va") + col("vb") - sh).cast("double"), 6).as("vocab_jaccard"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m6_source_divergence" -> sourceDivergence,
    "m6_bm25_topk"     -> bm25TopK,
    "m6_phrase_search" -> phraseSearch,
    "m6_incremental_index" -> incrementalIndex,
    "m6_index_compact" -> indexCompact,
    "m6_index_forget"  -> indexForget,
    "m6_index_purge"   -> indexPurge,
    "m6_release_diff"  -> releaseDiff,
    "m6_dsir_weights"  -> dsirWeights,
    "m6_bpe_train"     -> bpeTrain,
    "m6_bpe_encode"    -> bpeEncode,
    "m6_bpe_fertility" -> bpeFertility,
    "m6_temperature_mix" -> temperatureMix,
    "m6_pack_bpe"      -> packBpe,
    "m6_shard_manifest" -> shardManifest,
    "m6_quality_classifier" -> qualityClassifier,
    "m6_dataset_card"  -> datasetCard,
    "m6_edit_verify"   -> editVerify,
    "m6_bpe_pairs"     -> bpePairs,
    "m6_doc_len_stats" -> docLenStats,
    "m6_lang_confusion" -> langConfusion,
    "m6_epoch_mix"     -> epochMix,
    "m6_vocab_hll"     -> vocabHll,
    "m6_data_split"    -> dataSplit,
    "m6_sample_mix"    -> sampleMix,
    "m6_token_tf"      -> tokenTf,
    "m6_tfidf"         -> tfidfTerms,
    "m6_pack_sequences" -> packSequences,
    "m6_cms_heavy_hitters" -> cmsHeavyHitters,
    "m6_bigram_lm"     -> bigramLm,
    "m6_token_budget"  -> tokenBudget,
    "m6_chunk_windows" -> chunkWindows,
    "m6_lm_support"    -> lmSupport,
    "m6_passage_scrub" -> passageScrub,
    "m6_repeated_spans" -> repeatedSpans,
    "m6_span_scrub" -> spanScrub,
    "m6_postings"      -> postings,
    "m6_quality_score" -> qualityScore,
    "m6_audit_sample"  -> auditSample,
    "m6_lang_profile"  -> langProfile,
    "m6_lang_id"       -> langId,
    "m6_token_count"   -> tokenCount,
    "m6_repetition_filter" -> repetitionFilter,
    "m6_pii_scrub"     -> piiScrub,
    "m6_fingerprint"   -> fingerprint,
    "m6_ngram_novelty" -> ngramNovelty)

  /** The m6_lang_id replay, shared verbatim by the confusion-matrix
    * oracle (which aggregates this classifier's output). */
  /** The windowed-hash replay shared by the span census and the span
    * scrub: plants, per-token fold60, and the two mod-2^43 polynomial
    * window keys — CTEs tk/corpus/b/wh. */
  private lazy val SpansWhPrelude: String =
    s"""WITH tk AS (SELECT doc_id, ${sqlNormTokens("text")} AS toks FROM documents),
          corpus AS (
            SELECT doc_id, toks FROM tk
            UNION ALL
            SELECT doc_id + 6000000, toks[1:40] FROM tk WHERE doc_id % 29 = 0),
          b AS (SELECT doc_id,
                  list_transform(toks, t -> ${Exact.sqlFold60("t")}) AS ths,
                  CAST(len(toks) AS BIGINT) AS n
                FROM corpus),
          wh AS (SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       ths[CAST(u.i + 1 AS INTEGER) : CAST(u.i + 15 AS INTEGER)]),
                     (acc, x) -> (acc * 257 + x % 8796093022208) % 8796093022208) AS h1,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       ths[CAST(u.i + 1 AS INTEGER) : CAST(u.i + 15 AS INTEGER)]),
                     (acc, x) -> (acc * 1031 + x // 131072) % 8796093022208) AS h2
                 FROM b, LATERAL unnest(range(0, n - 14)) AS u(i)
                 WHERE n >= 15)"""

  private lazy val LangIdOracle: String =
    """WITH counts AS (
         SELECT lang, token, count(*) AS tf
         FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents) u
         GROUP BY 1, 2),
       profile AS (
         SELECT lang AS cand_lang, token FROM (
           SELECT lang, token,
             row_number() OVER (PARTITION BY lang ORDER BY tf DESC, token) AS rnk
           FROM counts) t WHERE rnk <= 20),
       doc_tokens AS (
         SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS token
         FROM documents),
       scored AS (
         SELECT doc_id, lang, cand_lang, count(*) AS hits
         FROM doc_tokens JOIN profile USING (token)
         GROUP BY 1, 2, 3)
       SELECT doc_id, lang, cand_lang AS predicted_lang, hits FROM (
         SELECT *, row_number() OVER (
           PARTITION BY doc_id ORDER BY hits DESC, cand_lang) AS rn
         FROM scored) t WHERE rn = 1"""

  /** The m6_quality_score replay, shared verbatim by the token-budget
    * oracle (which admits documents in this scorer's order). */
  private lazy val QualityScoreOracle: String =
    s"""WITH t AS (
          SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents)
        SELECT doc_id, lang,
          len(toks) AS n_tokens,
          ${sqlRnd("len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)", 4)} AS distinct_ratio,
          ${sqlRnd("len(list_filter(toks, x -> x IN ('the','a','of','and','in','to'))) / CAST(len(toks) AS DOUBLE)", 4)} AS stopword_ratio,
          ${sqlRnd("(length(text) - len(toks) + 1) / CAST(len(toks) AS DOUBLE)", 4)} AS avg_token_len,
          ${sqlRnd("0.4 * (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)) + 0.3 * (1.0 - len(list_filter(toks, x -> x IN ('the','a','of','and','in','to'))) / CAST(len(toks) AS DOUBLE)) + 0.3 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)", 4)} AS quality_score
        FROM t"""

  /** The 8-round BPE replay CTE chain (w0 … w8 + per-round argmaxes),
    * generated to mirror the engine loop exactly — shared by the train
    * oracle (which reads the t$i winners) and the encode oracle (which
    * reads the final w8 vocabulary). The w$i merge is the same
    * both-edges-anchored replace as applyMerge: trailing-space sentinel,
    * pattern and replacement space-terminated, rtrim'd back. */
  private lazy val BpeRoundsCtes: String = {
    val base =
      s"""w0 AS (
           SELECT word, count(*) AS f,
                  '|' || array_to_string(string_split(word, ''), ' |') AS seq
           FROM (SELECT unnest(${sqlNormTokens("text")}) AS word
                 FROM documents) u
           GROUP BY 1)"""
    val rounds = (1 to 8).map { i =>
      s"""p$i AS (SELECT pr, CAST(sum(f) AS BIGINT) AS freq
            FROM (SELECT f, unnest(${sqlShingles(s"string_split(seq, ' ')", 2)}) AS pr
                  FROM w${i - 1}) x
            GROUP BY 1),
          t$i AS (SELECT pr, freq FROM p$i ORDER BY freq DESC, pr LIMIT 1),
          w$i AS (SELECT word, f,
                    rtrim(replace(seq || ' ', t$i.pr || ' ',
                      replace(t$i.pr, ' |', '') || ' ')) AS seq
                  FROM w${i - 1}, t$i)"""
    }
    s"$base, ${rounds.mkString(", ")}"
  }

  private lazy val BpeTrainOracle: String = {
    val sel = (1 to 8)
      .map(i => s"SELECT $i AS step, pr AS merge_pair, freq FROM t$i")
      .mkString(" UNION ALL ")
    s"WITH $BpeRoundsCtes $sel"
  }

  /** The encode replay CTE chain ending at `di` (doc_id + the
    * (wpos, spos)-ordered id list): the trained w8 vocabulary, the
    * alphabetical symbol id table, the word-memoized corpus join — shared
    * by the encode-manifest oracle and the fertility-report oracle. */
  private lazy val BpeEncodeCtes: String =
    s"""$BpeRoundsCtes,
        syms AS (SELECT DISTINCT unnest(string_split(seq, ' ')) AS sym FROM w8),
        ids AS (SELECT sym,
                  CAST(row_number() OVER (ORDER BY sym) - 1 AS INTEGER) AS token_id
                FROM syms),
        tk AS (SELECT doc_id, ${sqlNormTokens("text")} AS toks FROM documents),
        dw AS (SELECT doc_id, CAST(u.i - 1 AS INTEGER) AS wpos,
                 toks[CAST(u.i AS INTEGER)] AS word
               FROM tk, LATERAL unnest(range(1, len(toks) + 1)) AS u(i)),
        ds AS (SELECT doc_id, wpos, CAST(v.j - 1 AS INTEGER) AS spos,
                 string_split(w8.seq, ' ')[CAST(v.j AS INTEGER)] AS sym
               FROM dw JOIN w8 USING (word),
                    LATERAL unnest(range(1, len(string_split(w8.seq, ' ')) + 1)) AS v(j)),
        di AS (SELECT doc_id,
                 list(CAST(token_id AS VARCHAR) ORDER BY wpos, spos) AS l
               FROM ds JOIN ids USING (sym) GROUP BY 1)"""

  private lazy val BpeEncodeOracle: String =
    s"""WITH $BpeEncodeCtes,
        dn AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
                 CAST(length(array_to_string(toks, '')) AS BIGINT)
                   AS n_norm_chars
               FROM tk)
        SELECT di.doc_id, CAST(len(l) AS INTEGER) AS n_ids,
               array_to_string(l[1:12], ' ') AS ids_head,
               ${Exact.sqlFold60("array_to_string(l, ' ')")} AS ids_fp,
               dn.n_words, dn.n_norm_chars
        FROM di JOIN dn ON di.doc_id = dn.doc_id"""

  /** The fertility replay: encode manifests joined to language + normalized
    * char counts, reduced to exact long sums and two pinned divides. */
  private lazy val BpeFertilityOracle: String =
    s"""WITH $BpeEncodeCtes,
        dd AS (SELECT doc_id, lang,
                 len(${sqlNormTokens("text")}) AS n_words,
                 length(array_to_string(${sqlNormTokens("text")}, '')) AS n_norm_chars
               FROM documents),
        j AS (SELECT dd.lang, CAST(len(l) AS BIGINT) AS n_ids,
                dd.n_words, dd.n_norm_chars
              FROM di JOIN dd ON di.doc_id = dd.doc_id)
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_words) AS BIGINT) AS n_words,
               CAST(sum(n_ids) AS BIGINT) AS n_ids,
               CAST(sum(n_norm_chars) AS BIGINT) AS n_norm_chars,
               ${Exact.sqlRnd(
                 "CAST(sum(n_ids) AS DOUBLE) / CAST(sum(n_words) AS DOUBLE)", 4)}
                 AS ids_per_word,
               ${Exact.sqlRnd(
                 "CAST(sum(n_norm_chars) AS DOUBLE) / CAST(sum(n_ids) AS DOUBLE)", 4)}
                 AS chars_per_id
        FROM j GROUP BY 1"""

  /** The temperature-mix replay: exact per-language token counts, the
    * lang-ordered left-to-right √-weight fold, per-language rates. */
  private lazy val TemperatureMixOracle: String =
    s"""WITH l AS (SELECT lang,
                     CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
                   FROM documents GROUP BY 1),
        t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS ntot FROM l),
        s AS (SELECT list_reduce(list_prepend(0.0,
                list(sqrt(CAST(n_tokens AS DOUBLE) / CAST(ntot AS DOUBLE))
                     ORDER BY lang)), (a, b) -> a + b) AS sw
              FROM l, t)
        SELECT lang, n_tokens,
               ${Exact.sqlRnd("CAST(n_tokens AS DOUBLE) / CAST(ntot AS DOUBLE)", 6)}
                 AS share,
               ${Exact.sqlRnd(
                 "sqrt(CAST(n_tokens AS DOUBLE) / CAST(ntot AS DOUBLE)) / sw", 6)}
                 AS mix_weight,
               ${Exact.sqlRnd(
                 "least((sqrt(CAST(n_tokens AS DOUBLE) / CAST(ntot AS DOUBLE)) / sw)" +
                 " / (CAST(n_tokens AS DOUBLE) / CAST(ntot AS DOUBLE)), 4.0)", 4)}
                 AS sample_rate
        FROM l, t, s"""

  /** The BM25 replay as a reusable CTE chain ending at `bm25` (query_id,
    * doc_id, rnk, n_terms, score — rnk ≤ 10 already applied): index stats
    * from raw text, the literal-for-literal score expression, the
    * term-ordered left-to-right score fold, the same rank window. The
    * VALUES list derives from Bm25Queries — one source for both engines.
    * Shared by Bm25Oracle, the hybrid-fusion oracles (Similarity
    * `m6_rrf_fusion` / `m6_rrf_fusion_ann`) and — over the corpus+batch
    * union via `bm25CtesOver` — the incremental-index oracle, so a fix to
    * the BM25 replay can never desynchronize them. CTE names are prefixed
    * `bq`/`bh`/`bg` where a bare name (`q`) would collide with the
    * dense-leg CTEs the fusion oracle appends. */
  private[graft] lazy val Bm25CtesSql: String =
    bm25CtesOver(s"SELECT doc_id, ${sqlNormTokens("text")} AS toks FROM documents")

  /** The BM25 replay parameterized over its token source (`tk` body): the
    * full index stats + score + ranking chain, ending at `bm25`. */
  private def bm25CtesOver(tkSql: String): String = {
    val qvals = Bm25Queries
      .flatMap { case (q, t) => t.split(" ").map(term => s"('$q', '$term')") }
      .mkString(", ")
    s"""tk AS ($tkSql),
        tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
               FROM (SELECT doc_id, unnest(toks) AS term FROM tk) u GROUP BY 1, 2),
        dlt AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        st AS (SELECT CAST(sum(tf) AS BIGINT) AS tot,
                      CAST(count(DISTINCT doc_id) AS BIGINT) AS nd FROM tf),
        bq AS (SELECT * FROM (VALUES $qvals) AS v(query_id, term)),
        bh AS (SELECT query_id, doc_id, term,
                (CAST(nd AS DOUBLE) / CAST(df AS DOUBLE))
                  * (CAST(tf AS DOUBLE) * 2.2)
                  / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75
                      * (CAST(dl AS DOUBLE)
                         / (CAST(tot AS DOUBLE) / CAST(nd AS DOUBLE))))) AS s
              FROM tf JOIN bq USING (term) JOIN dlt USING (doc_id)
                   JOIN dft USING (term), st),
        bg AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms,
                list_reduce(list_prepend(0.0, list(s ORDER BY term)),
                  (a, b) -> a + b) AS score
              FROM bh GROUP BY 1, 2),
        bm25 AS (SELECT * FROM (
                   SELECT query_id, doc_id, n_terms, score, row_number() OVER (
                     PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
                   FROM bg) t
                 WHERE rnk <= 10)"""
  }

  private lazy val Bm25Oracle: String =
    s"""WITH $Bm25CtesSql
        SELECT query_id, doc_id, rnk, n_terms, ${sqlRnd("score", 4)} AS score
        FROM bm25"""

  /** The incremental-index replay: the SAME BM25 CTE chain run over the
    * corpus + arriving-batch union (batch = every 10th doc, every other
    * token dropped, at +3000000 — engine fixture arrivingDocTokens), which
    * is exactly what the catalog (base member + delta member + merged
    * stats manifest) must be equivalent to. */
  private lazy val IncrementalIndexOracle: String =
    s"""WITH tk0 AS (SELECT doc_id, ${sqlNormTokens("text")} AS toks FROM documents),
        ${bm25CtesOver(
          """SELECT doc_id, toks FROM tk0
             UNION ALL
             SELECT doc_id + 3000000, list_filter(toks, (x, i) -> i % 2 = 1)
             FROM tk0 WHERE doc_id % 10 = 0""")}
        SELECT query_id, doc_id, rnk, n_terms, ${sqlRnd("score", 4)} AS score,
               doc_id >= 3000000 AS from_batch
        FROM bm25"""

  /** The forget replay: the SAME BM25 CTE chain over the corpus + batch
    * union MINUS the forgotten docs (catalog doc_id % 13 == 0) — exactly
    * what the tombstoned catalog (anti-joined postings + corrected stats)
    * must be equivalent to: df, nd and avgdl all derive from the retained
    * docs alone. */
  private lazy val IndexForgetOracle: String =
    s"""WITH tk0 AS (SELECT doc_id, ${sqlNormTokens("text")} AS toks FROM documents),
        ${bm25CtesOver(
          """SELECT doc_id, toks FROM (
               SELECT doc_id, toks FROM tk0
               UNION ALL
               SELECT doc_id + 3000000, list_filter(toks, (x, i) -> i % 2 = 1)
               FROM tk0 WHERE doc_id % 10 = 0) u
             WHERE doc_id % 13 <> 0""")}
        SELECT query_id, doc_id, rnk, n_terms, ${sqlRnd("score", 4)} AS score,
               doc_id >= 3000000 AS from_batch
        FROM bm25"""

  /** Positional-intersection replay from raw text: 3- AND 2-shingle
    * occurrences with their 1-based anchors, the same (query, shingle,
    * offset) VALUES list (k = 2 decomposes to its single 2-shingle, one
    * vote required), anchor voting, and the all-offsets HAVING gate. */
  private lazy val PhraseOracle: String = {
    val qvals = PhraseQueries.flatMap { case (q, text) =>
      val t = text.split(" ")
      if (t.length == 2) Seq(s"('$q', '$text', 0, 1)")
      else (0 to t.length - 3).map(j =>
        s"('$q', '${t.slice(j, j + 3).mkString(" ")}', $j, ${t.length - 2})")
    }.mkString(", ")
    s"""WITH tk AS (SELECT doc_id, ${sqlNormTokens("text")} AS toks FROM documents),
        occ AS (SELECT doc_id, sh[i] AS term, CAST(i AS BIGINT) AS pos
                FROM (SELECT doc_id, ${sqlShingles("toks", 3)} AS sh FROM tk) s,
                     LATERAL unnest(range(1, len(sh) + 1)) AS v(i)
                UNION ALL
                SELECT doc_id, sh[i] AS term, CAST(i AS BIGINT) AS pos
                FROM (SELECT doc_id, ${sqlShingles("toks", 2)} AS sh FROM tk) s2,
                     LATERAL unnest(range(1, len(sh) + 1)) AS v2(i)),
        q AS (SELECT * FROM (VALUES $qvals) AS v(query_id, term, off, n_sh)),
        h AS (SELECT query_id, doc_id, pos - off AS anchor, n_sh
              FROM occ JOIN q USING (term)),
        m AS (SELECT query_id, doc_id, anchor FROM h
              GROUP BY query_id, doc_id, anchor, n_sh
              HAVING count(*) = n_sh)
        SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_matches,
               CAST(min(anchor) AS BIGINT) AS first_pos
        FROM m GROUP BY 1, 2"""
  }

  /** DSIR replay from raw text: same salted fold/bucket, one census with a
    * conditional target sum, the same smoothed-ratio divides in the same
    * order, and the bucket-ordered list_reduce fold. */
  private lazy val DsirOracle: String =
    s"""WITH tk AS (SELECT doc_id, lang, ${sqlNormTokens("text")} AS toks FROM documents),
        f AS (SELECT doc_id, lang,
                ${Exact.sqlFold60("fe || '|ds'")} % 4096 AS bucket
              FROM (SELECT doc_id, lang,
                      unnest(list_concat(toks, ${sqlShingles("toks", 2)})) AS fe
                    FROM tk) u),
        c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS r,
                CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t
              FROM f GROUP BY 1),
        tot AS (SELECT CAST(sum(r) AS BIGINT) AS rt,
                       CAST(sum(t) AS BIGINT) AS tt FROM c),
        rat AS (SELECT bucket,
                  ((CAST(t + 1 AS DOUBLE) / CAST(tt + 4096 AS DOUBLE)) /
                   (CAST(r + 1 AS DOUBLE) / CAST(rt + 4096 AS DOUBLE))) AS ratio
                FROM c, tot),
        g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_features,
                list_reduce(list_prepend(0.0, list(ratio ORDER BY bucket)),
                  (a, b) -> a + b) AS s
              FROM f JOIN rat USING (bucket) GROUP BY 1)
        SELECT doc_id, n_features,
               ${Exact.sqlRnd("s / CAST(n_features AS DOUBLE)", 4)} AS weight,
               s >= CAST(n_features AS DOUBLE) AS keep
        FROM g"""

  val oracles: Map[String, String] = Map(
    // the exact-integer TV replay: same shared-term join, same defect
    // identity, ONE final divide of two exact longs per pair
    // Wide-integer mirror of the engine's decimal(38,0) accumulation
    // (HUGEINT products/sum — exact, loud on overflow), and the all-pairs
    // scaffold (pr LEFT JOIN g) so zero-shared-vocabulary pairs report
    // tv = 1.0 / jaccard = 0.0 on both sides.
    "m6_source_divergence" ->
      s"""WITH tk AS (SELECT source, unnest(${sqlNormTokens("text")}) AS term
                      FROM documents),
          c AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
                FROM tk GROUP BY 1, 2),
          t AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
                       CAST(count(*) AS BIGINT) AS vocab
                FROM c GROUP BY 1),
          pr AS (SELECT a.source AS source_a, b.source AS source_b,
                        a.n AS na, b.n AS nb, a.vocab AS va, b.vocab AS vb
                 FROM t a JOIN t b ON a.source < b.source),
          j AS (SELECT a.source AS source_a, b.source AS source_b,
                       CAST(a.c AS HUGEINT) * tb.n AS x,
                       CAST(b.c AS HUGEINT) * ta.n AS y
                FROM c a JOIN c b USING (term)
                     JOIN t ta ON ta.source = a.source
                     JOIN t tb ON tb.source = b.source
                WHERE a.source < b.source),
          g AS (SELECT source_a, source_b,
                       CAST(count(*) AS BIGINT) AS shared_terms,
                       sum(x + y - abs(x - y)) AS defect
                FROM j GROUP BY 1, 2)
          SELECT pr.source_a, pr.source_b,
            CAST(coalesce(g.shared_terms, 0) AS BIGINT) AS shared_terms,
            ${sqlRnd("CAST(2 * CAST(pr.na AS HUGEINT) * pr.nb - coalesce(g.defect, 0) AS DOUBLE) / CAST(2 * CAST(pr.na AS HUGEINT) * pr.nb AS DOUBLE)", 6)} AS tv_distance,
            ${sqlRnd("CAST(coalesce(g.shared_terms, 0) AS DOUBLE) / CAST(pr.va + pr.vb - coalesce(g.shared_terms, 0) AS DOUBLE)", 6)} AS vocab_jaccard
          FROM pr LEFT JOIN g USING (source_a, source_b)""",
    "m6_bm25_topk" -> Bm25Oracle,
    "m6_phrase_search" -> PhraseOracle,
    "m6_incremental_index" -> IncrementalIndexOracle,
    // Compaction changes bytes, not answers: the post-OPTIMIZE catalog
    // must serve the incremental replay VERBATIM.
    "m6_index_compact" -> IncrementalIndexOracle,
    "m6_index_forget" -> IndexForgetOracle,
    // The purge changes bytes, not answers: physically erasing the
    // tombstoned rows must serve the forget replay verbatim.
    "m6_index_purge" -> IndexForgetOracle,
    // Release-diff replay: same canonical tokens, same removal/halving/
    // admission rules, same md5-over-joined-tokens fingerprint (identical
    // hex in both engines), same 4-row census.
    "m6_release_diff" ->
      s"""WITH a0 AS (SELECT doc_id, ${sqlNormTokens("text")} AS toks FROM documents),
          b0 AS (SELECT doc_id,
                   CASE WHEN doc_id % 10 = 0
                        THEN list_filter(toks, (x, i) -> i % 2 = 1)
                        ELSE toks END AS toks
                 FROM a0 WHERE doc_id % 17 <> 0
                 UNION ALL
                 SELECT doc_id + 3000000,
                        list_filter(toks, (x, i) -> i % 2 = 1)
                 FROM a0 WHERE doc_id % 10 = 0),
          a AS (SELECT doc_id, len(toks) AS n_a,
                       md5(array_to_string(toks, ' ')) AS fp_a FROM a0),
          b AS (SELECT doc_id, len(toks) AS n_b,
                       md5(array_to_string(toks, ' ')) AS fp_b FROM b0),
          j AS (SELECT CASE WHEN fp_b IS NULL THEN 'removed'
                            WHEN fp_a IS NULL THEN 'added'
                            WHEN fp_a = fp_b THEN 'unchanged'
                            ELSE 'modified' END AS status, n_a, n_b
                FROM a FULL OUTER JOIN b USING (doc_id))
          SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(coalesce(sum(n_a), 0) AS BIGINT) AS tokens_before,
                 CAST(coalesce(sum(n_b), 0) AS BIGINT) AS tokens_after
          FROM j GROUP BY 1""",
    "m6_dsir_weights" -> DsirOracle,
    "m6_bpe_train" -> BpeTrainOracle,
    "m6_bpe_encode" -> BpeEncodeOracle,
    "m6_bpe_fertility" -> BpeFertilityOracle,
    "m6_temperature_mix" -> TemperatureMixOracle,
    // The pack replay over the encode chain's id counts — identical to the
    // m6_pack_sequences oracle with n_ids from `di` in place of the
    // whitespace token count (shard count still derives from the full
    // documents cardinality, as in the engine).
    "m6_pack_bpe" ->
      s"""WITH $BpeEncodeCtes,
          shards AS (SELECT (1 << least(12, greatest(3,
                CAST(ceil(log2(greatest(count(*), 1) / 256.0)) AS INTEGER)))) AS s
              FROM documents),
          t AS (SELECT doc_id, CAST(len(l) AS INTEGER) AS n_ids,
              ${Exact.sqlFold60("CAST(doc_id AS VARCHAR)")} % (SELECT s FROM shards) AS shard
            FROM di),
          c AS (SELECT doc_id, shard, n_ids,
              sum(n_ids) OVER (PARTITION BY shard ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_offset
            FROM t)
          SELECT doc_id, shard, n_ids,
                 CAST(end_offset - n_ids AS BIGINT) AS start_offset,
                 CAST((end_offset - n_ids) // 512 AS BIGINT) AS first_chunk,
                 CAST((end_offset - 1) // 512 AS BIGINT) AS last_chunk
          FROM c""",
    // Shard replay: same salted fold for shard and order; first/last via
    // an ordered list (ties broken by doc_id on both sides).
    "m6_shard_manifest" ->
      s"""WITH d AS (SELECT doc_id,
                       len(string_split(text, ' ')) AS n_toks,
                       ${Exact.sqlFold60("'graft-shard:' || doc_id")} AS ord
                     FROM documents),
          r AS (SELECT ord % 64 AS shard,
                  count(*) AS n_docs,
                  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                  list(doc_id ORDER BY ord, doc_id) AS ids
                FROM d GROUP BY 1)
          SELECT shard, n_docs, n_tokens,
                 ids[1] AS first_doc, ids[-1] AS last_doc
          FROM r""",
    // Hashed-feature replay: same fold60 bucket/weight derivation, exact
    // integer sums, the same pinned divide-divide-add, and the keep gate
    // compared in integer space on both sides.
    "m6_quality_classifier" ->
      s"""WITH tk AS (SELECT doc_id, ${sqlNormTokens("text")} AS t FROM documents),
          f AS (SELECT doc_id, unnest(t || ${sqlShingles("t", 2)}) AS feat FROM tk),
          b AS (SELECT doc_id,
                  ${Exact.sqlFold60("feat || '|qc'")} % 4096 AS bucket FROM f),
          w AS (SELECT doc_id,
                  ${Exact.sqlFold60("CAST(bucket AS VARCHAR) || '|qw'")} % 2001 - 1000 AS w
                FROM b),
          a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_features,
                  CAST(sum(w) AS BIGINT) AS sw
                FROM w GROUP BY 1)
          SELECT doc_id, n_features,
            ${sqlRnd("0.1 + CAST(sw AS DOUBLE) / CAST(n_features AS DOUBLE) / 1000.0", 4)} AS score,
            sw >= -100 * n_features AS keep
          FROM a""",
    // Exact BIGINT moments through the identical double expression tree;
    // DuckDB integer sums are HUGEINT, hence the BIGINT casts.
    "m6_dataset_card" ->
      s"""WITH a AS (
            SELECT count(*) AS n_docs,
                   CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                   CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   sum(CAST(n_chars AS DECIMAL(19,0)) * n_chars) AS sumsq,
                   CAST(count(DISTINCT ${Exact.sqlFold60("text")}) AS BIGINT)
                     AS distinct_texts
            FROM documents)
          SELECT n_docs, n_langs, n_sources, total_chars, distinct_texts,
            ${sqlRnd("CAST(total_chars AS DOUBLE) / CAST(n_docs AS DOUBLE)", 4)}
              AS avg_chars,
            ${sqlRnd(
              "sqrt((CAST(sumsq AS DOUBLE) - CAST(total_chars AS DOUBLE) * " +
              "CAST(total_chars AS DOUBLE) / CAST(n_docs AS DOUBLE)) / " +
              "CAST(n_docs AS DOUBLE))", 4)} AS std_chars,
            ${sqlRnd("(n_docs - distinct_texts) * 100.0 / n_docs", 4)}
              AS dup_pct
          FROM a""",
    // Prefix-hash buckets replayed via the shared md5 fold; DuckDB's
    // levenshtein is the same unit-cost metric as Spark's.
    "m6_edit_verify" ->
      s"""WITH h AS (
            SELECT doc_id,
                   ${Exact.sqlFold60("substring(text, 1, 64)")} AS bucket,
                   substring(text, 1, 200) AS prefix
            FROM documents)
          SELECT a.doc_id AS l_doc, b.doc_id AS r_doc,
                 levenshtein(a.prefix, b.prefix) AS edit_dist,
                 levenshtein(a.prefix, b.prefix) <= 20 AS verified
          FROM h a JOIN h b ON a.bucket = b.bucket AND a.doc_id < b.doc_id""",
    // Pair counts are exact integers; DuckDB's 1-based inclusive slice
    // word[i:i+1] is the same 2-char window as Spark's substr(i, 2).
    "m6_bpe_pairs" ->
      s"""WITH w AS (SELECT unnest(${sqlNormTokens("text")}) AS word FROM documents),
          wf AS (SELECT word, count(*) AS f FROM w GROUP BY 1),
          p AS (SELECT unnest(list_transform(range(1, length(word)),
                  i -> word[CAST(i AS INTEGER):CAST(i + 1 AS INTEGER)])) AS pair, f
                FROM wf),
          c AS (SELECT pair, CAST(sum(f) AS BIGINT) AS cnt FROM p GROUP BY 1)
          SELECT pair, cnt,
                 CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS INTEGER) AS rk
          FROM c ORDER BY cnt DESC, pair LIMIT 20""",
    // quantile_cont ≡ Spark percentile (the a11 pin); the mean is one
    // divide of exact longs.
    "m6_doc_len_stats" ->
      s"""SELECT lang, count(*) AS n_docs,
          ${sqlRnd("quantile_cont(n_tokens, 0.5)", 4)} AS p50_tokens,
          ${sqlRnd("quantile_cont(n_tokens, 0.9)", 4)} AS p90_tokens,
          ${sqlRnd("quantile_cont(n_tokens, 0.99)", 4)} AS p99_tokens,
          ${sqlRnd("CAST(sum(n_tokens) AS DOUBLE) / count(*)", 4)} AS avg_tokens
          FROM (SELECT lang, len(string_split(text, ' ')) AS n_tokens
                FROM documents) t
          GROUP BY 1""",
    // The estimates replay EXACTLY: bucket sums over the same md5-fold
    // addressing, min over the same 4 rows — every value is integer.
    "m6_cms_heavy_hitters" ->
      s"""WITH tk AS (SELECT unnest(${sqlNormTokens("text")}) AS term FROM documents),
          tf AS (SELECT term, count(*) AS tf FROM tk GROUP BY 1),
          hb AS (SELECT d, ${Exact.sqlFold60("term || '|cms' || d")} % 2048 AS bucket,
                   sum(tf) AS s
                 FROM tf, range(0, 4) t(d) GROUP BY 1, 2),
          top AS (SELECT term, tf,
                    row_number() OVER (ORDER BY tf DESC, term) AS rk
                  FROM tf ORDER BY tf DESC, term LIMIT 20),
          probes AS (SELECT term, tf, rk, d,
                       ${Exact.sqlFold60("term || '|cms' || d")} % 2048 AS bucket
                     FROM top, range(0, 4) t(d))
          SELECT term, CAST(rk AS INTEGER) AS rk, tf,
                 CAST(min(s) AS BIGINT) AS cms_est
          FROM probes JOIN hb USING (d, bucket)
          GROUP BY term, rk, tf""",
    // Pure integer window arithmetic — ROWS frame pinned explicitly (the
    // engines' default frames only coincide because doc_id is unique).
    // Every sum-derived column is CAST to BIGINT: DuckDB sum(BIGINT) —
    // plain AND windowed — returns HUGEINT and `//` keeps it, so without
    // the cast the values match but the driver's representation hash does
    // not (see the Exact.scala oracle-authoring notes).
    "m6_pack_sequences" ->
      s"""WITH shards AS (SELECT (1 << least(12, greatest(3,
                CAST(ceil(log2(greatest(count(*), 1) / 256.0)) AS INTEGER)))) AS s
              FROM documents),
          t AS (SELECT doc_id,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
              ${Exact.sqlFold60("CAST(doc_id AS VARCHAR)")} % (SELECT s FROM shards) AS shard
            FROM documents),
          c AS (SELECT doc_id, shard, n_tokens,
              sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_offset
            FROM t)
          SELECT doc_id, shard, n_tokens,
                 CAST(end_offset - n_tokens AS BIGINT) AS start_offset,
                 CAST((end_offset - n_tokens) // 512 AS BIGINT) AS first_chunk,
                 CAST((end_offset - 1) // 512 AS BIGINT) AS last_chunk
          FROM c""",
    // Same raw-ratio scoring, same operation order — correctly-rounded IEEE
    // divides/multiplies are bit-identical across engines, so even the
    // rank tie-breaks agree.
    "m6_tfidf" ->
      s"""WITH tk AS (SELECT doc_id, unnest(${sqlNormTokens("text")}) AS term
                      FROM documents),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
          len AS (SELECT doc_id, sum(tf) AS len FROM tf GROUP BY 1),
          df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
          scored AS (SELECT doc_id, term,
              (CAST(tf AS DOUBLE) / len) * (n.n / df) AS s
            FROM tf JOIN len USING (doc_id) JOIN df USING (term), n),
          ranked AS (SELECT doc_id, term, s,
              row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, term) AS term_rank
            FROM scored)
          SELECT doc_id, term, CAST(term_rank AS INTEGER) AS term_rank,
                 ${Exact.sqlRnd("s", 6)} AS tfidf
          FROM ranked WHERE term_rank <= 5""",
    "m6_vocab_hll" ->
      """SELECT lang, count(DISTINCT token) AS vocab_exact,
         count(*) AS n_tokens, TRUE AS approx_ok
         FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
               FROM documents) u
         GROUP BY 1""",
    "m6_sample_mix" ->
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE doc_id % 100 < CASE WHEN lang = 'en' THEN 30 ELSE 100 END""",
    "m6_epoch_mix" ->
      s"""WITH t AS (SELECT doc_id, lang,
              CASE WHEN lang = 'en' THEN 0 ELSE 2 END
                + CASE WHEN ${Exact.sqlFold60("CAST(doc_id AS VARCHAR) || '|epoch'")} % 100
                       < CASE WHEN lang = 'en' THEN 50 ELSE 30 END
                  THEN 1 ELSE 0 END AS n_copies
            FROM documents)
          SELECT doc_id, lang, n_copies, s AS copy_idx
          FROM t, LATERAL unnest(range(0, n_copies)) AS u(s)
          WHERE n_copies > 0""",
    "m6_data_split" ->
      s"""SELECT doc_id, lang, CAST(band AS INTEGER) AS band,
          CASE WHEN band < 90 THEN 'train'
               WHEN band < 95 THEN 'validation'
               ELSE 'test' END AS split
          FROM (SELECT doc_id, lang,
                  ${Exact.sqlFold60("CAST(doc_id AS VARCHAR)")} % 100 AS band
                FROM documents) t""",
    "m6_token_tf" ->
      s"""SELECT token, tf,
          ${sqlRnd("tf * 100.0 / sum(tf) OVER ()", 4)} AS share_pct
          FROM (SELECT token, count(*) AS tf
                FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) u
                GROUP BY 1) t""",
    "m6_quality_score" -> QualityScoreOracle,
    // Replays the quality scorer as a CTE, bands on the identical rounded
    // double, and picks the same salted-fold order per stratum.
    "m6_audit_sample" ->
      s"""WITH q AS ($QualityScoreOracle),
          b AS (SELECT doc_id, lang, quality_score,
                  CASE WHEN quality_score >= CAST(0.63 AS DOUBLE) THEN 'high' ELSE 'low' END AS band,
                  ${Exact.sqlFold60("'graft-audit:' || doc_id")} AS ord
                FROM q)
          SELECT lang, band,
            CAST(row_number() OVER (PARTITION BY lang, band
              ORDER BY ord, doc_id) AS INTEGER) AS audit_rank,
            doc_id, quality_score
          FROM b
          QUALIFY audit_rank <= 5""",
    // The bigram-LM conditional is one IEEE divide of two exact longs; the
    // per-context total is sum-derived, hence the BIGINT cast (Exact.scala
    // oracle-authoring notes).
    "m6_bigram_lm" ->
      s"""WITH tk AS (SELECT ${sqlNormTokens("text")} AS t FROM documents),
          bg AS (SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p
                 FROM tk WHERE len(t) >= 2),
          c AS (SELECT p[1] AS w1, p[2] AS w2, count(*) AS cnt FROM bg GROUP BY 1, 2),
          tot AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS n1 FROM c GROUP BY 1),
          r AS (SELECT c.w1 AS w1, w2, cnt, n1,
                  row_number() OVER (PARTITION BY c.w1 ORDER BY cnt DESC, w2) AS rnk
                FROM c JOIN tot ON c.w1 = tot.w1 WHERE n1 >= 10)
          SELECT w1, w2, cnt, CAST(rnk AS INTEGER) AS rnk, n1,
                 ${sqlRnd("CAST(cnt AS DOUBLE) / n1", 6)} AS cond_p
          FROM r WHERE rnk <= 3""",
    // Replays the quality scorer as a CTE, then the per-language windowed
    // cumsum admission — sum-derived column CAST to BIGINT as ever.
    "m6_token_budget" ->
      s"""WITH q AS ($QualityScoreOracle),
          c AS (SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
                  quality_score,
                  CAST(sum(n_tokens) OVER (PARTITION BY lang
                    ORDER BY quality_score DESC, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                FROM q)
          SELECT doc_id, lang, n_tokens, quality_score, cum AS cum_tokens
          FROM c WHERE cum - n_tokens < 2000""",
    // Pure integer chunk geometry — no aggregation anywhere, so no HUGEINT
    // hazard; range() is BIGINT-typed like Spark's sequence of longs.
    "m6_chunk_windows" ->
      """WITH t AS (SELECT doc_id,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents)
         SELECT doc_id, s // 64 AS chunk_idx, s AS c_start,
                least(s + 128, n) AS c_end
         FROM t, LATERAL unnest(range(0, n, 64)) AS u(s)
         WHERE n >= 1""",
    "m6_lm_support" ->
      s"""WITH tk AS (SELECT doc_id, ${sqlNormTokens("text")} AS t FROM documents),
          bg AS (SELECT doc_id, CAST(len(t) - 1 AS BIGINT) AS n_bigrams,
                   unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p
                 FROM tk WHERE len(t) >= 2),
          b2 AS (SELECT doc_id, n_bigrams, p[1] AS w1, p[2] AS w2 FROM bg),
          c AS (SELECT w1, w2, count(*) AS cab FROM b2 GROUP BY 1, 2),
          s AS (SELECT doc_id, max(n_bigrams) AS n_bigrams,
                  CAST(sum(cab) AS BIGINT) AS support
                FROM b2 JOIN c USING (w1, w2) GROUP BY 1)
          SELECT doc_id, n_bigrams,
                 ${sqlRnd("CAST(support AS DOUBLE) / CAST(n_bigrams AS DOUBLE)", 4)} AS support_score
          FROM s""",
    "m6_passage_scrub" ->
      s"""WITH tk AS (SELECT doc_id, ${sqlNormTokens("text")} AS toks FROM documents),
          base AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
                   FROM tk WHERE len(toks) >= 1),
          b2 AS (SELECT doc_id, toks, n, n // 10 AS n_passages,
                   -- array_to_string of an EMPTY list is NULL in DuckDB
                   -- where Spark's array_join is '' — coalesce to match
                   coalesce(array_to_string(
                     toks[CAST(n // 10 * 10 + 1 AS INTEGER) :
                          CAST(n AS INTEGER)], ' '), '') AS tail_txt
                 FROM base),
          ph AS (SELECT doc_id, p_idx,
                   array_to_string(
                     toks[CAST(p_idx * 10 + 1 AS INTEGER) :
                          CAST(p_idx * 10 + 10 AS INTEGER)], ' ') AS passage
                 FROM b2, LATERAL unnest(range(0, n_passages)) AS u(p_idx)),
          hp AS (SELECT doc_id, p_idx, passage,
                   ${Exact.sqlFold60("passage")} AS h FROM ph),
          flood AS (SELECT h FROM hp
                    GROUP BY h HAVING count(DISTINCT doc_id) >= 3),
          kept AS (SELECT hp.* FROM hp ANTI JOIN flood USING (h)),
          reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                    string_agg(passage, ' ' ORDER BY p_idx) AS kept_txt
                  FROM kept GROUP BY doc_id)
          SELECT b2.doc_id,
            CASE WHEN coalesce(kept_txt, '') = '' THEN tail_txt
                 WHEN tail_txt = '' THEN kept_txt
                 ELSE kept_txt || ' ' || tail_txt END AS clean_text,
            n_passages,
            n_passages - coalesce(n_kept, 0) AS n_removed
          FROM b2 LEFT JOIN reb USING (doc_id)""",
    // Full replay of the windowed-hash span census: same plants, same
    // per-token fold60, same overflow-safe polynomial window keys (every
    // intermediate < 2^52, so DuckDB's checked BIGINTs and Spark's longs
    // agree), same ≥2 distinct-doc flood rule, same islands maximal runs.
    "m6_repeated_spans" ->
      s"""$SpansWhPrelude,
          flood AS (SELECT h1, h2 FROM wh
                    GROUP BY h1, h2 HAVING count(DISTINCT doc_id) >= 2),
          dup AS (SELECT doc_id, pos FROM wh SEMI JOIN flood USING (h1, h2)),
          isl AS (SELECT doc_id, pos,
                    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
                  FROM dup),
          runs AS (SELECT doc_id, g, count(*) AS run FROM isl GROUP BY 1, 2),
          agg AS (SELECT doc_id,
                    CAST(max(run) AS BIGINT) AS longest_run,
                    CAST(sum(run) AS BIGINT) AS n_dup_windows
                  FROM runs GROUP BY 1)
          SELECT b.doc_id,
            greatest(n - 14, 0) AS n_windows,
            coalesce(n_dup_windows, 0) AS n_dup_windows,
            CASE WHEN n >= 15
                 THEN ${Exact.sqlRnd(
                   "coalesce(n_dup_windows, 0) / CAST(n - 14 AS DOUBLE)", 4)}
                 ELSE 0.0 END AS dup_frac,
            coalesce(longest_run + 14, 0) AS longest_span
          FROM b LEFT JOIN agg USING (doc_id)""",
    // The scrub replay on the same windowed-hash prelude: ownership is
    // min(doc_id) per flooded window, covered token indices unnest W per
    // foreign window, and the rebuild is list_filter with the 1-BASED
    // DuckDB lambda index checked against the engine's 0-based covered
    // set (the arrivingBatch index-base discipline).
    "m6_span_scrub" ->
      s"""$SpansWhPrelude,
          flood AS (SELECT h1, h2, min(doc_id) AS owner FROM wh
                    GROUP BY h1, h2 HAVING count(DISTINCT doc_id) >= 2),
          frn AS (SELECT wh.doc_id, wh.pos FROM wh
                  JOIN flood USING (h1, h2) WHERE wh.doc_id > owner),
          cov AS (SELECT DISTINCT doc_id, CAST(pos + u.g AS BIGINT) AS idx
                  FROM frn, LATERAL unnest(range(0, 15)) AS u(g)),
          cl AS (SELECT doc_id, list(idx) AS cv FROM cov GROUP BY 1)
          SELECT c.doc_id,
            CAST(len(toks) AS BIGINT) AS n_tokens,
            CAST(coalesce(len(cv), 0) AS BIGINT) AS n_scrubbed,
            CASE WHEN cv IS NULL THEN array_to_string(toks, ' ')
                 -- string_agg over an empty list is NULL in DuckDB; the
                 -- engine's fully-scrubbed doc is the empty string
                 ELSE coalesce(array_to_string(list_filter(toks,
                   (t, i) -> NOT list_contains(cv, CAST(i - 1 AS BIGINT))), ' '), '')
            END AS kept_text
          FROM corpus c LEFT JOIN cl USING (doc_id)""",
    "m6_postings" ->
      s"""WITH tk AS (SELECT doc_id, ${sqlNormTokens("text")} AS t FROM documents),
          dt AS (SELECT doc_id, unnest(list_distinct(${sqlShingles("t", 3)})) AS term
                 FROM tk),
          g AS (SELECT term, count(*) AS df,
                  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS posting
                FROM dt GROUP BY 1)
          SELECT term, df, posting FROM g WHERE df BETWEEN 2 AND 50""",
    "m6_lang_profile" ->
      """SELECT lang, token, tf, rnk FROM (
           SELECT lang, token, tf,
             row_number() OVER (PARTITION BY lang ORDER BY tf DESC, token) AS rnk
           FROM (SELECT lang, token, count(*) AS tf
                 FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
                       FROM documents) u
                 GROUP BY 1, 2) c) t
         WHERE rnk <= 10""",
    "m6_lang_id" -> LangIdOracle,
    // Aggregating the classifier's output against ground truth: the
    // confusion matrix is the standard eval artifact of any labeler.
    "m6_lang_confusion" ->
      s"""WITH li AS ($LangIdOracle)
          SELECT lang, predicted_lang, count(*) AS n,
                 CAST(lang = predicted_lang AS BOOLEAN) AS correct
          FROM li GROUP BY 1, 2""",
    "m6_token_count" ->
      """SELECT doc_id,
         len(string_split(text, ' ')) AS ws_tokens,
         len(regexp_extract_all(text, '[a-z]+')) AS word_tokens,
         length(text) AS n_chars
         FROM documents""",
    "m6_repetition_filter" ->
      s"""WITH t0 AS (SELECT doc_id, text, string_split(text, ' ') AS toks0 FROM documents),
          t AS (SELECT doc_id,
                  CASE WHEN doc_id % 53 = 0
                    THEN array_to_string(flatten(list_transform(range(0, 12), i -> toks0[1:5])), ' ')
                    ELSE text END AS text
                FROM t0),
          tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM t),
          g AS (SELECT doc_id, ${TextAnalysis.sqlShingles("toks", 2)} AS g2,
                  ${TextAnalysis.sqlShingles("toks", 3)} AS g3 FROM tk),
          dup AS (SELECT doc_id, len(g2) AS n_2grams,
                    CASE WHEN len(g3) > 0
                      THEN 1.0 - len(list_distinct(g3)) / CAST(len(g3) AS DOUBLE)
                      ELSE 0.0 END AS dup3
                  FROM g),
          cnt AS (SELECT doc_id, gr, count(*) AS c
                  FROM (SELECT doc_id, unnest(list_transform(g2, x -> ${Exact.sqlFold60("x")})) AS gr FROM g) e
                  GROUP BY 1, 2),
          top AS (SELECT doc_id, max(c) AS top_cnt FROM cnt GROUP BY 1),
          s AS (SELECT d.doc_id, n_2grams, dup3,
                  CASE WHEN n_2grams > 0
                    THEN coalesce(top_cnt, 0) / CAST(n_2grams AS DOUBLE)
                    ELSE 0.0 END AS share
                FROM dup d LEFT JOIN top USING (doc_id))
          SELECT doc_id, n_2grams,
            ${sqlRnd("dup3", 4)} AS dup3_frac,
            ${sqlRnd("share", 4)} AS top2_share,
            (dup3 >= 0.5 OR share >= 0.3) AS repetitive
          FROM s""",
    "m6_pii_scrub" ->
      s"""WITH t AS (SELECT doc_id,
            CASE WHEN doc_id % 41 = 0
              THEN text || ' contact user' || doc_id || '@example.com or call 555-0199'
              ELSE text END AS text
          FROM documents)
          SELECT doc_id,
            len(regexp_extract_all(text, '[a-z0-9]+@[a-z0-9]+\\.[a-z]+')) AS n_emails,
            len(regexp_extract_all(text, '[0-9]{3}-[0-9]{4}')) AS n_phones,
            regexp_replace(regexp_replace(text, '[a-z0-9]+@[a-z0-9]+\\.[a-z]+', '<EMAIL>', 'g'),
              '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS scrubbed
          FROM t""",
    "m6_fingerprint" ->
      s"""SELECT doc_id,
          list_min(list_transform(${TextAnalysis.sqlShingles("string_split(text, ' ')", 3)}, s -> ${Exact.sqlFold60("s")})) AS fingerprint
          FROM documents""",
    // First-owner = min(doc_id) per distinct 8-gram; BIGINT/BIGINT divides
    // to DOUBLE in both engines (no CAST needed, no HUGEINT — min, not sum).
    "m6_ngram_novelty" ->
      s"""WITH t AS (SELECT doc_id, ${TextAnalysis.sqlNormTokens("text")} AS toks
                     FROM documents),
               g AS (SELECT doc_id,
                       unnest(list_distinct(${TextAnalysis.sqlShingles("toks", 8)})) AS gram
                     FROM t),
               f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1),
               nov AS (SELECT first_doc AS doc_id, count(*) AS n_novel
                       FROM f GROUP BY 1),
               tot AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY 1)
          SELECT tot.doc_id, n_grams, coalesce(n_novel, 0) AS n_novel,
                 ${Exact.sqlRnd("coalesce(n_novel, 0) / n_grams", 4)} AS novelty
          FROM tot LEFT JOIN nov USING (doc_id)""")
}
