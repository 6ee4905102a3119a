package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Exact.{rnd, sqlRnd}
import TextAnalysis.{shingles, sqlShingles, tokens}

/** Content deduplication over `documents` — exact and near-duplicate, the
  * core of a training-data pipeline (builder brief; SURVEY.md §7.1 M6).
  *
  * Scale design: nothing here is all-pairs. Exact dedup is one hash
  * aggregation on the content digest. Near-dup candidate generation is
  * always *bucketed* — length-window blocking for the exact-Jaccard
  * baseline, MinHash band buckets for LSH, 8-bit chunk buckets for
  * SimHash — so every join is equi-keyed and shuffles only bucket-sized
  * groups. The pair-verification joins carry small arrays, never the
  * documents themselves.
  *
  * Representation: shingle *sets* travel as `array<long>` — the leading 60
  * bits of each shingle's md5, parsed base-16. Set intersection/union over
  * fixed-width longs is several times cheaper than over strings, and
  * |A∩B|/|A∪B| is unchanged as long as the hash is collision-free within a
  * pair's union (~100 elements against 2^60 — p < 1e-14). md5 rather than
  * xxhash64 so that every derived value — signatures, band keys, Hamming
  * distances, Jaccard scores — replays bit-for-bit in the DuckDB oracle
  * (the m6_fingerprint precedent); the hashed representation is itself
  * under test via the string-based m6_ngram_jaccard oracle.
  */
object Dedup {

  import Exact.{fold60 => md5Fold60, sqlFold60 => sqlMd5Fold60}

  /** doc_id + distinct 3-shingle set, as raw strings (`sh`). */
  private[operators] def withShingles(spark: SparkSession, dir: String): DataFrame =
    Tables.fanout(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        array_distinct(shingles(tokens(col("text")), 3)).as("sh"))

  /** Jaccard over distinct-element arrays by inclusion-exclusion:
    * |A∪B| = |A|+|B|−|A∩B|, so one array_intersect pass replaces
    * intersect + union (the union allocates a fresh array per pair — pure
    * waste on the pair-verification hot path, where millions of candidate
    * pairs each carry ~50-element sets). The identity requires BOTH arrays
    * duplicate-free: shingle arrays are distinct'd again AFTER the 60-bit
    * fold (DedupStaging.shingleBase / batchBaseOf — and the oracles'
    * matching `list_distinct` after `list_transform`), so even a
    * within-document fold collision (~C(50,2)/2^60 per doc) cannot leave a
    * duplicate in an input. Callers project the intersection size ONCE
    * (`ninter`) and derive the score from sizes. */
  private def jaccardFrom(ninter: Column, a: Column, b: Column): Column =
    ninter / (size(a) + size(b) - ninter).cast("double")

  /** M6: exact dedup — group by content digest, first-id-wins keeper.
    * A tenth of the corpus is re-injected as exact copies (deterministically,
    * in both engines) so the operator demonstrably collapses them.
    *
    * Fixture precondition (all constant-offset plant injections in this
    * file and Multimodal): planted ids assume real doc_ids stay below the
    * offset (1M/2M/3M/4M here) — true for every committed fixture and the
    * 100× probe (500 k docs). The collision-free derived-offset form, for
    * a fixture that outgrows this, is Similarity.plantOffset
    * (max(id) + 1, mirrored as a scalar subquery in the oracle). */
  def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val copies = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000)
    docs.unionAll(copies)
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))
  }

  /** M6: exact-Jaccard near-dup baseline via PREFIX FILTERING (the public
    * AllPairs/PPJoin family — Bayardo et al. WWW'07): under any global
    * element order, two sets with J ≥ τ must share an element within their
    * first |X| − ⌈τ·|X|⌉ + 1 elements (at τ = 0.5: ⌊|X|/2⌋ + 1), so the
    * candidate join is an equi-join on PREFIX shingles only — lossless, no
    * LSH probabilism. Elements are ordered by ascending document frequency
    * (rarest first), which pushes corpus-common shingles out of the
    * prefixes: candidate volume is Σ_h C(df_prefix(h), 2) over prefix
    * occurrences, which grows with true near-dup density, NOT with block
    * population. This replaces the earlier (lang, ±1 length-bucket) block
    * self-join whose within-block pair generation was O(N²/buckets) — the
    * one quadratic this family had left. Language equality and the
    * |Δchars| ≤ 50 predicate still prune candidates at the join, and exact
    * Jaccard over the full shingle sets still verifies every pair, so the
    * output is unchanged (same oracle, over raw string shingles). */
  /** M6: shingle-containment doc-in-doc detection — the asymmetric dedup
    * axis Jaccard is blind to: a short document wholly quoted inside a much
    * longer one scores C(A→B) = |S_A ∩ S_B| / |S_A| ≈ 1 while its Jaccard
    * ≈ |S_A|/|S_B| ≈ 0 (the RefinedWeb/quote-extraction case). Measured
    * over DISCRIMINATIVE shingles only (2 ≤ df ≤ 50): df ≥ 2 because a
    * unique shingle can never intersect anything, and df ≤ 50 as the flood
    * guard (the m6_postings precedent) — boilerplate shared by hundreds of
    * documents says nothing about copying and is exactly what would turn
    * the candidate join quadratic. Both |∩| and |S_A| are counted over the
    * SAME filtered universe, so the ratio stays a true containment.
    *
    * 100 TB shape: candidates ARE the intersection counts — one self-join
    * equi-keyed on shingle hash (per-hash fan-out capped at df² ≤ 2500 by
    * the df bound, so candidate volume tracks shared-content density, not
    * corpus size) feeding a pair-keyed count; sizes join back doc-keyed;
    * no window, no all-pairs stage, staged shingle base read, not rebuilt.
    * Pairs orient small ⊆ big (size tie → smaller id first) and report at
    * C ≥ 0.8. */
  def containment(spark: SparkSession, dir: String): DataFrame = {
    val d = DedupStaging.shingleBase(spark, dir)
      .select(col("doc_id"), explode(col("hs")).as("h"))
    val dfreq = d.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= 50)
    val disc = d.join(dfreq.select("h"), Seq("h"))
    val lens = disc.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = disc.as("a").join(disc.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_small"), col("b.doc_id").as("doc_big"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(lens.select(col("doc_id").as("doc_small"), col("n").as("n_small")),
        Seq("doc_small"))
      .join(lens.select(col("doc_id").as("doc_big"), col("n").as("n_big")),
        Seq("doc_big"))
      .filter(col("n_small") < col("n_big") ||
        (col("n_small") === col("n_big") && col("doc_small") < col("doc_big")))
      .withColumn("c", col("n_shared").cast("double") / col("n_small").cast("double"))
      .filter(col("c") >= 0.8)
      .select(col("doc_small"), col("doc_big"), col("n_small"), col("n_big"),
        col("n_shared"), rnd(col("c"), 4).as("containment"))
  }

  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // both candidate-join sides read the STAGED prefix index and the
    // verification join reads the staged shingle base (parquet, built once
    // per corpus release — DedupStaging): no per-query re-shingling, no
    // recomputed subtrees on either side of the self-join
    val base = DedupStaging.shingleBase(spark, dir)
    val prefix = DedupStaging.prefixIndex(spark, dir)
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.lang") === col("b.lang") &&
        col("a.doc_id") < col("b.doc_id") &&
        abs(col("a.n_chars") - col("b.n_chars")) <= 50)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val hs = base.select(col("doc_id"), col("hs"))
    cands
      .join(hs.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("hs", "hsa"), Seq("doc_a"))
      .join(hs.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("hs", "hsb"), Seq("doc_b"))
      .withColumn("ninter", size(array_intersect(col("hsa"), col("hsb"))))
      .withColumn("jac", jaccardFrom(col("ninter"), col("hsa"), col("hsb")))
      .filter(col("jac") >= 0.5)
      .select(col("doc_a"), col("doc_b"), rnd(col("jac"), 4).as("jaccard"))
  }

  /** 16 fixed 60-bit seed constants (md5 folds of the labeled strings
    * "graft-minhash-seed-0" … "-15", precomputed). Seeded hash j of a
    * shingle is `h XOR seed(j)` — XOR by a constant is a bijection on the
    * 60-bit space, so `min` over the XORed set is a valid min-hash, and
    * unlike a multiply-mix it can't overflow (DuckDB BIGINT arithmetic
    * traps on overflow where Java wraps, so portable seeding must stay in
    * the closed 60-bit space). Over md5-uniform inputs the family behaves
    * like K independent permutations — the LlmPillarSpec full-recall test
    * is the evidence. */
  /** Signature width — one source of truth for the staged signature builder
    * (DedupStaging.minhashSigs: columns h0..h{K-1}) and the banding query
    * that consumes those columns. */
  private[operators] val MinhashK = 16

  private[operators] val MinhashSeeds: Seq[Long] = Seq(
    368668074902938470L, 503308711148817440L, 450733781062510100L,
    39895129003038287L, 59085833860066412L, 612818671747303880L,
    1017128387380279556L, 560584678017946125L, 113564005840921273L,
    1126933404566375857L, 87294872125405469L, 49575436028117281L,
    593912392119572144L, 161392729458965159L, 149695091444534988L,
    373670151712934387L)

  /** M6: MinHash + LSH banding — the 100 TB near-dup path. 16 min-hashes per
    * document, 8 bands × 2 rows; a pair is a candidate iff it collides in
    * some band (P ≈ 1−(1−j²)⁸ — ~1.0 at j=0.9), then verified with exact
    * Jaccard. Hash seeds are fixed and every value is an md5 fold → fully
    * deterministic AND oracle-replayable: the DuckDB oracle re-runs the
    * whole pipeline (signatures, banding, verification) and hash-compares.
    *
    * Signature plan (DedupStaging.minhashSigs): explode the shingle set once
    * and take 16 `min` aggregates over the XOR-seeded folds — whole-stage
    * codegen'd with map-side partial mins, so the shuffle carries 16 longs
    * per document regardless of document size. (The alternative — 16
    * `transform` higher-order passes per row — is interpreted and rescans
    * the array 16×.) Band keys are the raw (band, h_even, h_odd) pairs: band
    * collision IS pair equality, no second-level hash needed.
    *
    * Both the signature table and the shingle base are STAGED parquet
    * (DedupStaging): the band self-join reads the signature files on both
    * sides and the verification join reads the shingle base, with zero
    * recomputation and zero session-lifetime caches. */
  def minhashDedup(spark: SparkSession, dir: String): DataFrame = {
    val K = MinhashK
    val sigs = DedupStaging.minhashSigs(spark, dir)
    val bands = (0 until K / 2).map(b =>
      struct(lit(b).as("band"), col(s"h${2 * b}").as("k1"), col(s"h${2 * b + 1}").as("k2")))
    val buckets = sigs.select(col("doc_id"), explode(array(bands: _*)).as("bd"))
      .select(col("doc_id"), col("bd.band").as("band"),
        col("bd.k1").as("k1"), col("bd.k2").as("k2"))
    val cands = buckets.as("x")
      .join(buckets.as("y"), Seq("band", "k1", "k2"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val hs = DedupStaging.shingleBase(spark, dir).select(col("doc_id"), col("hs"))
    cands
      .join(hs.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("hs", "hsa"), Seq("doc_a"))
      .join(hs.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("hs", "hsb"), Seq("doc_b"))
      .withColumn("ninter", size(array_intersect(col("hsa"), col("hsb"))))
      .withColumn("jac", jaccardFrom(col("ninter"), col("hsa"), col("hsb")))
      .filter(col("jac") >= 0.8)
      .select(col("doc_a"), col("doc_b"), rnd(col("jac"), 4).as("jaccard"))
  }

  /** Per-document 64-bit SimHash signature as two 32-bit halves (`sim_hi`,
    * `sim_lo`): shingle-hash bit voting in ONE map-side pass per document —
    * the native `graft_simhash64` (graft.functions.SimHash64) takes the
    * leading 8 md5 bytes of each distinct shingle, counts the ±1 votes per
    * bit and sets the bits that win, so the build has no explode, no
    * aggregate and no exchange beyond the fanout (PlanContractSpec guards
    * that shape). A document with fewer than 3 tokens has no shingle and
    * yields no row. The halves are md5 hex chars 1-8 / 9-16 of the voting
    * hashes, so both engines derive identical bits; two 32-bit columns
    * rather than one 64-bit value because bit 63 of a combined signature
    * would need unsigned arithmetic that Java wraps and DuckDB rejects.
    *
    * `simhashSignatures` reads the staged signature table
    * (DedupStaging.simhashSigs); this is the one-time build behind it. */
  private[graft] def simhashSignaturesBuild(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // The filter tests the token count, not the shingle array: the
    // optimizer pushes it below the fanout, where a test on the array
    // would build every array a second time, in the single scan task.
    Tables.fanout(Tables.documents(spark, dir).filter(size(tokens(col("text"))) >= 3))
      .select(col("doc_id"), call_function("graft_simhash64",
        array_distinct(shingles(tokens(col("text")), 3))).as("sig"))
      .select(col("doc_id"),
        shiftrightunsigned(col("sig"), 32).as("sim_hi"),
        col("sig").bitwiseAND(lit(0xFFFFFFFFL)).as("sim_lo"))
  }

  /** The staged per-document SimHash signature table. */
  def simhashSignatures(spark: SparkSession, dir: String): DataFrame =
    DedupStaging.simhashSigs(spark, dir)

  /** Corpus-adaptive SimHash chunk width: 8-bit chunks (8 blocks, Hamming
    * bound ≤ 7) while the corpus is small, 16-bit chunks (4 blocks, bound
    * ≤ 3 — the Manku/Jain/Sarma WWW'07 production configuration) once it
    * crosses 4096 documents, where 256-bucket chunks go dense and
    * within-bucket pair generation starts reverting to quadratic. The rule
    * is one integer comparison on an exact row count, so the oracle derives
    * the SAME width from `count(*)` in-query — no float hazard (the lshBits
    * precedent, Similarity.scala). */
  private[graft] def simhashChunkBits(nDocs: Long): Int =
    if (nDocs >= 4096) 16 else 8

  /** M6: SimHash near-dup pairs — candidates collide in one of 64/w w-bit
    * chunks (pigeonhole: any pair within Hamming distance (64/w − 1) has an
    * untouched chunk, so recall at the output bound is exact at EITHER
    * width — LlmPillarSpec proves both against brute force), verified with
    * summed bit_count(xor). The width adapts to the corpus
    * (`simhashChunkBits`): the tighter large-corpus bound trades reported
    * radius for bucket sparsity, exactly the published trade.
    *
    * The signature table is staged parquet (DedupStaging.simhashSigs) — both
    * self-join sides read the files; the corpus-wide explode/aggregate that
    * builds it runs once per fixture, not once per side per query. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    simhashPairsAt(spark, dir,
      simhashChunkBits(TextAnalysis.docsN(spark, dir)))

  /** The fixed-width pipeline behind simhashPairs (test surface: the spec
    * checks the exact-recall bound at both widths on one fixture). */
  private[graft] def simhashPairsAt(spark: SparkSession, dir: String,
      w: Int): DataFrame = {
    require(32 % w == 0, s"chunk width $w must divide the 32-bit halves")
    val nchunks = 64 / w
    val perHalf = 32 / w
    val mask = (1L << w) - 1
    val signatures = simhashSignatures(spark, dir)
    val chunkCols = (0 until nchunks).map { c =>
      val src = if (c < perHalf) col("sim_hi") else col("sim_lo")
      struct(lit(c).as("c"),
        shiftright(src, w * (c % perHalf)).bitwiseAND(lit(mask)).as("chunk"))
    }
    val chunks = signatures
      .select(col("doc_id"), col("sim_hi"), col("sim_lo"),
        explode(array(chunkCols: _*)).as("ck"))
      .select(col("doc_id"), col("sim_hi"), col("sim_lo"),
        col("ck.c").as("c"), col("ck.chunk").as("chunk"))
    chunks.as("x").join(chunks.as("y"), Seq("c", "chunk"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        (bit_count(col("x.sim_hi").bitwiseXOR(col("y.sim_hi"))) +
         bit_count(col("x.sim_lo").bitwiseXOR(col("y.sim_lo")))).as("hamming"))
      .filter(col("hamming") <= nchunks - 1)
      .dropDuplicates("doc_a", "doc_b")
  }

  /** M6: incremental near-dup ADMISSION — the operating model the staging
    * layer exists for: an arriving batch is deduped against the RELEASED
    * corpus using only the staged tables. The batch computes its own
    * shingles and signatures (work ∝ batch size), band-joins against the
    * staged corpus signature table, and verifies against the staged shingle
    * base — the corpus is never re-shingled, which is the entire difference
    * between O(increment) and O(corpus) per arriving batch at 100 TB.
    *
    * Fixture (deterministic in both engines): every 10th document arrives
    * as a "new" doc at doc_id + 3000000 — even 20ths re-crawled VERBATIM
    * (identical signature ⇒ every band collides ⇒ must be rejected with
    * best_jaccard = 1.0), odd 10ths heavily edited (every other token
    * dropped ⇒ no 3 consecutive original tokens survive ⇒ disjoint shingle
    * sets ⇒ must be admitted). The oracle replays the whole pipeline,
    * corpus signatures included, from raw text. */
  /** The arriving-batch fixture both incremental queries share: every 10th
    * document re-arrives at `doc_id + offset` — even 20ths verbatim, odd
    * 10ths with every other token dropped (no 3 consecutive original tokens
    * survive ⇒ disjoint shingle sets). Deterministic in both engines. */
  private[graft] def arrivingBatch(spark: SparkSession, dir: String, offset: Long,
      halfAll: Boolean): DataFrame = {
    // keep positions 1,3,5,… (Spark lambda index is 0-based; the DuckDB
    // replay's list_filter index is 1-based, so it keeps i % 2 = 1)
    val halfText = concat_ws(" ",
      filter(tokens(col("text")), (_, i) => i % 2 === 0))
    val text =
      if (halfAll) halfText
      else when(col("doc_id") % 20 === 0, col("text")).otherwise(halfText)
    Tables.fanout(Tables.documents(spark, dir).filter(col("doc_id") % 10 === 0))
      .select((col("doc_id") + offset).as("doc_id"), text.as("text"))
  }

  /** Batch-side staged shingle build — same projections as the corpus
    * staging build, over the increment only; persisted because it feeds
    * both the signature aggregate and the verification join. */
  private[graft] def batchBaseOf(batchDocs: DataFrame): DataFrame = batchDocs
    .select(col("doc_id"), array_distinct(shingles(tokens(col("text")), 3)).as("sh"))
    .withColumn("hs", array_distinct(transform(col("sh"), s => md5Fold60(s))))
    .drop("sh")
    .persist()

  /** The 16 min-hash columns of a (doc_id, hs) frame — ALSO the staging
    * builder behind DedupStaging.minhashSigs, so the seeds/shape exist in
    * exactly one place. */
  private[graft] def sigsOf(base: DataFrame): DataFrame = base
    .select(col("doc_id"), explode(col("hs")).as("h"))
    .groupBy("doc_id").agg(
      min(col("h").bitwiseXOR(lit(MinhashSeeds(0)))).as("h0"),
      (1 until MinhashK).map(j =>
        min(col("h").bitwiseXOR(lit(MinhashSeeds(j)))).as(s"h$j")): _*)

  private[graft] def bandsOf(sigs: DataFrame, idAs: String): DataFrame = {
    val bands = (0 until MinhashK / 2).map(b =>
      struct(lit(b).as("band"), col(s"h${2 * b}").as("k1"), col(s"h${2 * b + 1}").as("k2")))
    sigs.select(col("doc_id").as(idAs), explode(array(bands: _*)).as("bd"))
      .select(col(idAs), col("bd.band").as("band"),
        col("bd.k1").as("k1"), col("bd.k2").as("k2"))
  }

  /** Admission decisions of a batch against a reference side: band-join the
    * batch signatures against the reference signatures, verify candidates
    * with exact Jaccard over the shingle sets, and report per batch doc. The
    * reference is only ever READ (staged parquet / catalog members) — work
    * is O(increment), never O(corpus). */
  private[graft] def admissionDecisions(batchBase: DataFrame,
      refSigs: DataFrame, refShingles: DataFrame,
      batchSigs: Option[DataFrame] = None,
      refBands: Option[DataFrame] = None): DataFrame = {
    // batchSigs: a caller that ALSO commits the batch signatures
    // (admittedDedupCatalog) passes its persisted signature frame so the
    // minhash aggregation over the batch shingles runs once, not once per
    // consumer — same rows either way (sigsOf is deterministic).
    // refBands: a caller that decides MANY batches against a slowly-growing
    // reference (the m4q micro-batch loop) passes the reference band frame
    // directly — release part persisted once, per-batch delta derived
    // incrementally — instead of having every batch re-derive the full
    // scan+explode here (guide §1.2). Same rows either way (bandsOf is
    // deterministic over the same reference snapshot).
    //
    // Join strategy is pinned DELIBERATELY (guide §3.1, r19 opt round): the
    // batch is request-sized, the reference CORPUS-sized, so the batch
    // bands broadcast and the reference bands STREAM — the planner's
    // unhinted choice was the inverse (BuildRight over the reference side),
    // which works at toy scale and inverts at 100 TB where the reference
    // bands are the one frame that can never broadcast. Same rows either
    // way (inner equi-joins are symmetric); the streaming admission (m4q)
    // re-plans this per micro-batch, so the pin also keeps the drain from
    // re-broadcasting a growing catalog every batch.
    val cands = refBands.getOrElse(bandsOf(refSigs, "corpus_id"))
      .join(broadcast(bandsOf(batchSigs.getOrElse(sigsOf(batchBase)), "new_id")),
        Seq("band", "k1", "k2"))
      .select("new_id", "corpus_id").dropDuplicates("new_id", "corpus_id")
    // the verification join: candidate pairs (collision-sized) broadcast,
    // the reference shingle sets stream — same inversion as the band join
    val candsH = cands
      .join(batchBase.select(col("doc_id").as("new_id"), col("hs").as("hsn")), Seq("new_id"))
    val verified = refShingles
      .select(col("doc_id").as("corpus_id"), col("hs").as("hsc"))
      .join(broadcast(candsH), Seq("corpus_id"))
      .withColumn("ninter", size(array_intersect(col("hsn"), col("hsc"))))
      .withColumn("jac", jaccardFrom(col("ninter"), col("hsn"), col("hsc")))
      .filter(col("jac") >= 0.8)
    val matches = verified.groupBy("new_id").agg(
      count(lit(1)).as("n_matches"), max(col("jac")).as("best"))
    // Per-doc report: the left side is the persisted batch base (same doc
    // set 1:1 — batchBaseOf neither filters nor duplicates), not a second
    // derivation of the arriving batch, so the report costs a cache read
    // instead of a repeated corpus scan + its fanout exchange. `matches` is
    // match-bounded (≤ one 3-column row per batch doc), so it broadcasts at
    // any scale — the unhinted plan ran this tiny left join as a
    // SortMergeJoin with two extra exchanges and sorts (r20 opt round,
    // guide §2.4/§3.1).
    batchBase.select(col("doc_id").as("new_id"))
      .join(broadcast(matches), Seq("new_id"), "left")
      .select(col("new_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        rnd(coalesce(col("best"), lit(0.0)), 4).as("best_jaccard"),
        (coalesce(col("n_matches"), lit(0L)) === 0).as("admitted"))
  }

  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val batchDocs = arrivingBatch(spark, dir, 3000000, halfAll = false)
    admissionDecisions(batchBaseOf(batchDocs),
      DedupStaging.minhashSigs(spark, dir),
      DedupStaging.shingleBase(spark, dir).select("doc_id", "hs"))
  }

  /** M6: the incremental-staging LOOP closed — what incrementalDedup decides,
    * this query COMMITS: batch 1's admitted documents are appended to the
    * staged corpus catalog (signatures + shingle sets, one atomic manifest
    * commit each — Connectors.appendTo), so batch 2 dedups against
    * corpus + prior admissions. The catalog's base member is a ZERO-COPY
    * reference to the released corpus staging tables
    * (Connectors.appendMemberRef): creating the catalog costs O(1) metadata,
    * each admitted batch costs O(batch) — the corpus is never re-shingled,
    * never copied.
    *
    * Fixture: batch 1 as incrementalDedup (even 20ths verbatim → rejected;
    * odd 10ths half-text → admitted). Batch 2 re-arrives EVERY 10th doc as
    * half-text at +4000000: odd 10ths are verbatim copies of batch-1
    * ADMISSIONS (must now be rejected with best_jaccard 1.0 — only possible
    * if the commit happened), even 20ths are half-texts whose batch-1
    * verbatim twin was REJECTED (must be admitted — rejected docs must NOT
    * have entered the catalog). The oracle replays both batches, decisions
    * and catalog contents included, from raw text. */
  def incrementalCommit(spark: SparkSession, dir: String): DataFrame = {
    val (sigsT, shT) = admittedDedupCatalog(spark, dir, "graft-inc-catalog-")
    catalogDecisions(spark, dir, sigsT, shT)
  }

  /** The released-corpus dedup catalog bootstrap shared by the lifecycle
    * queries and the streaming admission (m4q): the release signature and
    * shingle tables committed (idempotent), then referenced ZERO-COPY as
    * the catalog's base members — O(1) metadata, fresh scratch target per
    * run (the PROTOCOL is what persists). Returns (sigs, shingles) dirs. */
  private[graft] def refDedupCatalog(spark: SparkSession, dir: String,
      prefix: String): (String, String) = {
    graft.functions.GraftFunctions.register(spark)
    DedupStaging.minhashSigs(spark, dir); DedupStaging.shingleBase(spark, dir)
    val cat = Connectors.scratchCatalog(prefix)
    val sigsT = s"$cat/sigs"; val shT = s"$cat/shingles"
    Connectors.appendMemberRef(spark, sigsT,
      DedupStaging.committedDataDir(dir, "minhash_sigs").get)
    Connectors.appendMemberRef(spark, shT,
      DedupStaging.committedDataDir(dir, "shingle3").get)
    (sigsT, shT)
  }

  /** The release + batch-1-admissions catalog fixture shared by the third
    * index family's lifecycle queries (m6_incremental_commit,
    * m6_dedup_compact): batch 1 is decided against the referenced release
    * tables and its ADMISSIONS committed — O(batch) appends, one atomic
    * pointer flip per table. Generation file count scales with the batch
    * (≤ corpus/10 admitted docs — one file at test scale, parallel at
    * 100 TB): the r15 100× probe measured coalesce(1) serializing a large
    * generation write through one task on the BM25 side; same clamp here. */
  private[graft] def admittedDedupCatalog(spark: SparkSession, dir: String,
      prefix: String): (String, String) = {
    val (sigsT, shT) = refDedupCatalog(spark, dir, prefix)
    val batch1 = arrivingBatch(spark, dir, 3000000, halfAll = false)
    val b1base = batchBaseOf(batch1)
    // the batch signature frame feeds the decision pass (band explode) AND
    // the signature append; unpersisted, the minhash aggregation over the
    // batch shingles ran twice per lifecycle query (guide §1.2). 17 longs
    // per batch doc — the cheapest possible cache, scoped to this function.
    val s1 = sigsOf(b1base).persist()
    val d1 = admissionDecisions(b1base,
      catSigsOf(spark, sigsT), catShinglesOf(spark, shT), Some(s1)).persist()
    try {
      val admitted1 = d1.filter(col("admitted")).select(col("new_id").as("doc_id"))
      val nFiles = Connectors.deltaFiles(
        TextAnalysis.docsN(spark, dir) / 10) // memoized — no per-call count job
      // the two catalog tables append independently (single-writer is a
      // per-table contract) — overlap the commits, guide §2.6; both joins
      // read only this function's persisted frames, safe under two threads
      Connectors.commitInParallel(Seq(
        () => Connectors.appendTo(spark, sigsT,
          s1.join(admitted1, Seq("doc_id")).coalesce(nFiles)),
        () => Connectors.appendTo(spark, shT,
          b1base.join(admitted1, Seq("doc_id")).coalesce(nFiles))))
    } finally {
      // batch 1's frames are fully consumed by the appends above — only
      // the catalog leaves this function
      d1.unpersist(); b1base.unpersist(); s1.unpersist()
    }
    (sigsT, shT)
  }

  /** The catalog readers the decision path consumes — re-read the manifest
    * on every call, so appends committed between decisions are visible. */
  private[graft] def catSigsOf(spark: SparkSession, sigsT: String): DataFrame =
    Connectors.readTable(spark, sigsT)
      .select(col("doc_id") +: (0 until MinhashK).map(j => col(s"h$j")): _*)

  /** Reference band frame over a set of signature GENERATION DIRS — the
    * incremental half of a decision loop's reference side: the caller
    * persists the bootstrap (release) bands once and per batch bands only
    * the members appended since (Connectors.memberDataDirs diff), instead
    * of re-deriving the full catalog scan+explode every micro-batch. */
  private[graft] def catSigBandsOf(spark: SparkSession, dirs: Seq[String]): DataFrame =
    bandsOf(Tables.memberDirs(spark, dirs: _*)
      .select(col("doc_id") +: (0 until MinhashK).map(j => col(s"h$j")): _*),
      "corpus_id")

  private[graft] def catShinglesOf(spark: SparkSession, shT: String): DataFrame =
    Connectors.readTable(spark, shT).select("doc_id", "hs")

  /** Batch-2 decisions against the committed catalog — the served half every
    * dedup-lifecycle query ends with (the m6_incremental_commit tail). */
  private[graft] def catalogDecisions(spark: SparkSession, dir: String,
      sigsT: String, shT: String): DataFrame = {
    val batch2 = arrivingBatch(spark, dir, 4000000, halfAll = true)
    admissionDecisions(batchBaseOf(batch2),
      catSigsOf(spark, sigsT), catShinglesOf(spark, shT))
  }

  /** M6: dedup-catalog OPTIMIZE — the compaction leg that completes the
    * third index family's lifecycle (BM25 and ANN both compact; the dedup
    * catalog previously admitted, forgot, and purged but kept accumulating
    * one member per admission forever): after batch-1's admissions land as
    * delta generations beside the zero-copy release refs,
    * `Connectors.compact` rewrites BOTH catalog tables (signatures and
    * shingle sets) to a single owned generation each through the same
    * atomic pointer flip — readers see the member'd catalog until the
    * rename and the compacted one after, never a mix, and the external
    * release refs' lifetime ends at the rewrite. Compaction changes BYTES,
    * not answers: signatures and shingle sets ride whole with their rows,
    * invariant under re-membering, so batch-2's admission decisions are
    * bit-identical — the oracle is m6_incremental_commit's replay
    * VERBATIM, the same statement m6_index_compact and m6_ann_compact
    * make. At 100 TB this runs per release window, not per batch; the
    * payoff is one generation of right-sized files instead of
    * one-per-admission. */
  def dedupCompact(spark: SparkSession, dir: String): DataFrame = {
    val (sigsT, shT) = admittedDedupCatalog(spark, dir, "graft-dedup-compact-")
    // the two catalog tables compact independently (single-writer is a
    // per-table contract) — overlap the rewrites, guide §2.6
    Connectors.commitInParallel(Seq(
      () => Connectors.compact(spark, sigsT),
      () => Connectors.compact(spark, shT)))
    catalogDecisions(spark, dir, sigsT, shT)
  }

  /** M6: dedup-catalog right-to-be-forgotten — the governance leg of the
    * THIRD index family (BM25 and ANN both forget; the dedup staging
    * catalog previously only admitted): a forget request (erased corpus
    * doc ids) commits as ONE atomic tombstone append — O(forget), ids
    * only; signatures and shingle sets stay physically in place until the
    * next compaction, the deletion-vector shape throughout this repo —
    * and the admission path anti-joins the broadcast tombstones off BOTH
    * catalog reads (signature bands for candidate generation, shingle
    * sets for verification) BEFORE any comparison. The semantic
    * consequence is the important one: a forgotten document no longer
    * blocks re-admission of its own content — the forget set here
    * (corpus doc_id % 20 == 0) is exactly the verbatim-twin reject set of
    * the standard arriving batch, so those batch docs FLIP to admitted
    * (their only corpus match is tombstoned) while the half-text
    * decisions are untouched (LlmPillarSpec pins the flip against
    * m6_incremental_dedup's decisions). The oracle replays admission from
    * raw text with the forgotten docs absent — the same
    * erased-means-never-indexed statement m6_index_forget makes. */
  def dedupForget(spark: SparkSession, dir: String): DataFrame = {
    val (sigsT, shT) = refDedupCatalog(spark, dir, "graft-dedup-forget-")
    val tombT = dedupTombstoneDirOf(sigsT)
    Connectors.appendTo(spark, tombT, dedupForgetIds(spark, dir))
    forgetDecisions(spark, dir, sigsT, shT, tombT)
  }

  /** Tombstones live BESIDE the sigs table in the catalog root — fail fast
    * if the caller hands something that is not a .../sigs table dir (a
    * silent stripSuffix no-op would land the tombstones INSIDE the sigs
    * table; the tombstoneDirOf / annTombstoneDirOf discipline applied to
    * the third index family). */
  private[graft] def dedupTombstoneDirOf(sigsT: String): String = {
    require(sigsT.endsWith("/sigs"),
      s"dedupTombstoneDirOf expects a .../sigs table dir, got: $sigsT")
    s"${sigsT.stripSuffix("/sigs")}/tombstones"
  }

  /** The dedup forget-request fixture (corpus doc_id % 20 == 0 — exactly
    * the verbatim-twin reject set of the arriving batch, so the retraction
    * is visibly decision-flipping), shared by the batch retraction
    * (m6_dedup_forget / m6_dedup_purge) and the streaming one (m4s). */
  private[graft] def dedupForgetIds(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).filter(col("doc_id") % 20 === 0)
      .select("doc_id")

  /** Batch-1 decisions with the tombstone set anti-joined off BOTH catalog
    * reads (signature bands for candidate generation, shingle sets for
    * verification) BEFORE any comparison — the served half of the dedup
    * forget, shared by the batch and streaming retractions. */
  private[graft] def forgetDecisions(spark: SparkSession, dir: String,
      sigsT: String, shT: String, tombT: String): DataFrame = {
    val tomb = Connectors.readTable(spark, tombT)
    val catSigs = catSigsOf(spark, sigsT)
      .join(broadcast(tomb), Seq("doc_id"), "left_anti")
    val catShingles = catShinglesOf(spark, shT)
      .join(broadcast(tomb), Seq("doc_id"), "left_anti")
    val batch = arrivingBatch(spark, dir, 3000000, halfAll = false)
    admissionDecisions(batchBaseOf(batch), catSigs, catShingles)
  }

  /** M6: dedup-catalog physical purge — m6_index_purge's twin on the third
    * index family: the tombstones m6_dedup_forget serves around are
    * APPLIED at the rewrite (signature and shingle tables republished
    * without the forgotten docs through the atomic pointer flip), and the
    * admission then runs with NO tombstone anti-join at all — the
    * forgotten docs' signatures and shingle sets are gone from the served
    * snapshot, not merely masked. Decisions are identical before and
    * after — the oracle is m6_dedup_forget's replay VERBATIM, the
    * bytes-not-answers statement all three purge legs now make. */
  def dedupPurge(spark: SparkSession, dir: String): DataFrame = {
    // the forget leg's catalog + fixture, verbatim (shared helpers — purge
    // must never drift from the decisions it claims to serve)
    val (sigsT, shT) = refDedupCatalog(spark, dir, "graft-dedup-purge-")
    val tombT = dedupTombstoneDirOf(sigsT)
    Connectors.appendTo(spark, tombT, dedupForgetIds(spark, dir))
    val tomb = Connectors.readTable(spark, tombT)
    // independent per-table rewrites — overlap them (guide §2.6)
    Connectors.commitInParallel(Seq(sigsT, shT).map(t => () =>
      Connectors.replaceTable(spark, t, Connectors.readTable(spark, t)
        .join(broadcast(tomb), Seq("doc_id"), "left_anti"))))
    val batch = arrivingBatch(spark, dir, 3000000, halfAll = false)
    admissionDecisions(batchBaseOf(batch),
      catSigsOf(spark, sigsT), catShinglesOf(spark, shT))
  }

  /** M6: near-dup CONNECTED COMPONENTS — what production dedup actually
    * ships: pair detection induces an undirected graph, and the keep-one
    * decision is made per COMPONENT (a,b and b,c near-dup ⇒ a,b,c are one
    * duplicate cluster even if a,c never collided), not per pair. Runs the
    * two-phase large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) to a fixed
    * point over the STAGED decision table. The oracle replays the whole
    * thing as a recursive transitive-closure CTE: cluster id = min
    * reachable doc id, which is exactly the contraction fixed point. */
  def dupClusters(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(
      DedupStaging.minhashPairs(spark, dir).select("doc_a", "doc_b"), "doc_id")

  /** M6: quality-aware canonical selection — the keep-one-per-cluster rule
    * an actual corpus release applies: within each near-dup cluster, keep
    * the HIGHEST-quality member (ties to the smaller doc_id), not the
    * smallest id. Min-id keep-one (dupClusters/corpus_build) is the right
    * graph primitive, but a release wants the best exemplar of each
    * duplicated content group — the quality scorer already ranks them.
    * Shape: the cluster labels (CC over staged MinHash pairs) join the
    * per-doc quality frame, and the keeper is a map-side-combined
    * min(struct(-quality, doc_id)) per cluster — an argmax with a
    * deterministic tie, no window over the corpus; the keeper frame is
    * cluster-sized and joins back on the cluster key. */
  def clusterKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val labels = dupClusters(spark, dir)
    val q = TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality_score"))
    val scored = labels.join(q, Seq("doc_id"))
    val best = scored
      .withColumn("negq", -col("quality_score"))
      .groupBy("cluster_id")
      .agg(min(struct(col("negq"), col("doc_id"))).as("m"))
      .select(col("cluster_id"), col("m.doc_id").as("keeper_id"),
        (-col("m.negq")).as("keeper_quality"))
    scored.join(best, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).as("kept"),
        col("keeper_quality"))
  }

  /** Connected components over a two-column pair frame (shared by the
    * MinHash text clusters and the embedding-cosine SemDeDup-style
    * clusters — any near-dup pair source), via alternating
    * large-star/small-star contraction:
    *
    *   large-star: every node connects its LARGER neighbors to the min of
    *   its closed neighborhood — long tails hook onto low ids in one hop;
    *   small-star: every node connects itself and its smaller neighbors to
    *   the min among them — partial stars flatten onto their root.
    *
    * Alternating the two converges for ANY graph shape in O(log² n) rounds
    * worst case (~log n in practice — LlmPillarSpec proves ≤ 2·log₂n + 4 on
    * a 1000-node path, where plain min-label propagation needs 1000), and a
    * near-dup clique (diameter 1-2) still closes in 2-3 rounds, so the
    * common case loses nothing. Edges live canonically as (hi > lo); each
    * round is two grouped-min equi-joins + distinct — every shuffle is
    * keyed on a node id, no driver-side data, the driver only runs the
    * convergence counts. The fixed point IS the component map: one star
    * per component rooted at its min id. */
  private[operators] def connectedComponents(pairs: DataFrame,
      idOut: String): DataFrame =
    connectedComponentsWithRounds(pairs, idOut)._1

  /** The per-round lineage cut shared by the iterative loops (the CC
    * contraction below, TextAnalysis.bpeLearn): a LAZY localCheckpoint
    * whose materializing action is the round's first job — for CC the
    * convergence count, so one job does both (r20 opt round, guide §1.2;
    * the r19 shape ran an eager checkpoint job and then a separate count
    * job per round). The checkpoint truncates the logical plan to the
    * materialized RDD: an iterative plan that references its previous
    * round several times per phase otherwise grows multiplicatively — by
    * round ~15 merely STRINGIFYING the (DAG-shared, tree-expanded) plan
    * OOMs the driver, and Catalyst re-analysis cost grows the same way.
    * Superseded round checkpoints are reclaimed by the ContextCleaner once
    * unreferenced. Local checkpoint blocks do not survive executor loss;
    * a reliable `checkpoint` under a checkpoint dir is the cluster form. */
  private[operators] def cutLineage(df: DataFrame): DataFrame =
    df.localCheckpoint(false)

  /** The contraction loop behind connectedComponents, reporting the round
    * count (test surface for the O(log n) convergence bound).
    *
    * Each round ends in a cutLineage whose materializing action is the
    * round's convergence count. The returned labels frame derives straight
    * from the final checkpoint, so it needs no persist of its own — callers
    * re-running actions replay two narrow projections over a materialized
    * RDD, and nothing this function cached outlives it. */
  private[graft] def connectedComponentsWithRounds(pairs: DataFrame,
      idOut: String): (DataFrame, Int) = {
    val Array(ca, cb) = pairs.columns
    // Contract: every id appearing in the pair frame gets a label — a node
    // whose only appearance is a self-pair (a, a) is a singleton cluster,
    // not silently dropped. The canonical form is checkpointed BEFORE the
    // self-loop split so the (possibly expensive, non-staged) pair pipeline
    // evaluates exactly once: the contraction loop and the singleton
    // re-admission both read the materialized canon — its lazy checkpoint
    // persists (and then truncates) during the first job that touches it,
    // which is the edge count below, so the bootstrap too is one job where
    // the r19 shape ran three (canon checkpoint, edges checkpoint, count).
    // Current pair sources never emit self-pairs, making the singleton leg
    // a zero-row guard, but the shared helper's contract must not depend
    // on that.
    val canon = cutLineage(pairs
      .select(greatest(col(ca), col(cb)).as("hi"),
        least(col(ca), col(cb)).as("lo")))
    val selfIds = canon.filter(col("hi") === col("lo"))
      .select(col("hi").as("id")).distinct()
    var edges = cutLineage(canon
      .filter(col("hi") =!= col("lo")).distinct())
    var n = edges.count()
    var rounds = 0
    var converged = n == 0
    while (!converged) {
      rounds += 1
      // large-star over the symmetric view: min over the closed
      // neighborhood, larger neighbors re-point to it
      val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
        .unionAll(edges.select(col("lo").as("u"), col("hi").as("v")))
      val lmin = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = sym.filter(col("v") > col("u")).join(lmin, Seq("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo")).distinct()
      // small-star on the canonical form: each edge's larger endpoint
      // groups its smaller neighbors; all of them (and itself) re-point to
      // the group min
      val smin = large.groupBy("hi").agg(min("lo").as("m"))
      val next = cutLineage(large.join(smin, Seq("hi"))
        .select(col("lo").as("x"), col("m").as("y"))
        .unionAll(smin.select(col("hi").as("x"), col("m").as("y")))
        .filter(col("x") =!= col("y"))
        .select(greatest(col("x"), col("y")).as("hi"),
          least(col("x"), col("y")).as("lo"))
        .distinct())
      val nNext = next.count() // materializes the lazy checkpoint — one job
      // both sides are distinct sets, so equal size + empty difference ⇔
      // set equality: two actions over node-bounded frames, O(log n) times
      converged = nNext == n && next.exceptAll(edges).isEmpty
      edges = next
      n = nNext
    }
    // the fixed point's star edges are (member, root); roots label themselves
    val labels = edges
      .select(col("hi").as(idOut), col("lo").as("cluster_id"))
      .unionAll(edges.select(col("lo")).distinct()
        .select(col("lo").as(idOut), col("lo").as("cluster_id")))
    // self-paired ids not reached by any proper edge: singleton clusters
    val singletons = selfIds
      .join(labels.select(col(idOut)), selfIds("id") === col(idOut), "left_anti")
      .select(col("id").as(idOut), col("id").as("cluster_id"))
    (labels.unionAll(singletons), rounds)
  }

  /** M6: benchmark decontamination — the eval-leak scan every LLM training
    * pipeline runs before a data release: flag training documents sharing
    * any 8-token shingle with the held-out set (doc_id % 97 == 0 stands in
    * for the benchmark suite), with the shared-shingle count as evidence.
    * 8-grams rather than 3-grams: long shingles are near-unique, so overlap
    * means real contamination, not vocabulary coincidence. Shingles are
    * taken over CANONICAL text (lowercase, punctuation stripped —
    * TextAnalysis.normTokens): an exact-match-only scan misses trivially
    * reformatted leaks, and real eval-leak scans normalize first.
    *
    * Scale shape: both sides explode to (60-bit shingle hash, doc) rows and
    * meet in ONE equi hash join on the hash — work ∝ shingle volume, never
    * docs × docs; the held-out side is small and broadcasts. The hashes are
    * the portable md5 fold, so the oracle reproduces the exact counts.
    *
    * The synthetic corpus has no natural 8-gram leaks (docs are independent
    * token draws), so — like exactDedup — contamination is planted
    * deterministically in both engines: every held-out doc is re-injected
    * into the training side verbatim at doc_id + 2000000 (2000000 % 97 ≠ 0,
    * so the plants are training docs), and the scan must flag exactly the
    * plants, each sharing its whole shingle set (LlmPillarSpec). */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    // one staged (doc_id, shingle-hash) table serves every role: held-out
    // side, clean training side, and the verbatim plants (same text ⇒ same
    // shingle set — only the doc_id shifts, so the plants cost zero extra
    // shingling)
    val s8 = DedupStaging.shingle8(spark, dir)
    val held = s8.filter(col("doc_id") % 97 === 0)
    val heldout = held.select("h").distinct()
    s8.filter(col("doc_id") % 97 =!= 0)
      .unionAll(held.withColumn("doc_id", col("doc_id") + 2000000))
      .join(broadcast(heldout), Seq("h"))
      .groupBy("doc_id").agg(countDistinct(col("h")).as("n_shared"))
  }

  /** M6: Bloom-prefiltered decontamination — m6_decontaminate's 100-TB
    * shape. The exact scan broadcasts the held-out shingle set verbatim;
    * at a real benchmark suite (~10⁸ distinct 8-grams) that exact set is
    * gigabytes, but its Bloom sketch at 1% FPR is ~10 bits/element — small
    * enough to ship to every task as a plan literal. The pipeline:
    *
    *   1. BUILD — one distributed aggregate over the held-out shingles
    *      (Spark's own `BloomFilterAggregate`, the runtime-filter sketch,
    *      surfaced as `graft_bloom_agg`), sized from the measured distinct
    *      count at `BloomFilter.optimalNumOfBits(n, 0.01)` and clamped to
    *      the runtime-filter default budget (2²⁶ bits = 8 MB).
    *   2. PREFILTER — `graft_bloom_might_contain(lit(sketch), h)` evaluates
    *      in the training side's scan stage (whole-stage codegen, no
    *      shuffle): a no-FN pass, so every truly shared shingle survives
    *      and ≥ 99% of the clean corpus drops before any exchange.
    *   3. VERIFY — the survivors (true leaks + ~1% FPs) meet the exact
    *      held-out set in an ordinary equi-join; false positives die here,
    *      so the emitted rows are EXACTLY m6_decontaminate's (shared
    *      oracle — the sketch changes the plan, never the answer).
    *
    * Work at scale: one linear pass over the held-out shingles, one linear
    * codegen'd pass over the training shingles, and a shuffle that carries
    * ~1% of the corpus's shingle volume instead of 100%. The FP-robustness
    * property (a deliberately starved 64-bit sketch still yields the exact
    * answer, every drop re-admitted by the verify join) is spec-pinned via
    * the `forceBits` hook. */
  def bloomDecontaminate(spark: SparkSession, dir: String): DataFrame =
    bloomDecontaminate(spark, dir, forceBits = None)

  private[graft] def bloomDecontaminate(
      spark: SparkSession, dir: String, forceBits: Option[Long]): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val s8 = DedupStaging.shingle8(spark, dir)
    val held = s8.filter(col("doc_id") % 97 === 0)
    val heldout = held.select("h").distinct()
    val sketch = heldoutSketch(spark, dir, forceBits)
    s8.filter(col("doc_id") % 97 =!= 0)
      .unionAll(held.withColumn("doc_id", col("doc_id") + 2000000))
      .filter(call_function("graft_bloom_might_contain", lit(sketch), col("h")))
      .join(heldout, Seq("h")) // exact verify: FPs die, answers stay exact
      .groupBy("doc_id").agg(countDistinct(col("h")).as("n_shared"))
  }

  /** The serialized Bloom sketch over the held-out shingle set — built once
    * per release (or per streaming JOB: the m4t gate binds it before the
    * stream starts, the m4o frozen-quantizer discipline). */
  private[graft] def heldoutSketch(
      spark: SparkSession, dir: String, forceBits: Option[Long] = None): Array[Byte] = {
    import org.apache.spark.util.sketch.BloomFilter
    graft.functions.GraftFunctions.register(spark)
    // SCOPED persist: the sizing count and the sketch aggregate are two
    // actions over the same distinct frame — one evaluation, not two;
    // unpersisted before returning (the postings discipline)
    val heldout = DedupStaging.shingle8(spark, dir)
      .filter(col("doc_id") % 97 === 0).select("h").distinct().persist()
    try {
      // production sizes the sketch from the release manifest's distinct
      // shingle count; here the count is one cheap action over the staged
      // table. BOTH parameters are clamped to the runtime-filter default
      // budgets — and clamped HERE, visibly, because BloomFilterAggregate
      // clamps them anyway (spark.sql.optimizer.runtime.bloomFilter
      // .maxNumItems = 4M, .maxNumBits = 2^26 = 8 MB) and does it
      // silently: passing the raw count past 4M would build a sketch
      // sized for fewer items than inserted with no signal. Past either
      // clamp the 1% FPR design point degrades (the prefilter drops less;
      // answers stay exact via the verify join); a production deployment
      // with ~10^8 held-out shingles raises both confs and this clamp
      // with them to keep the measured ~98% scan-stage drop.
      val n = math.min(math.max(heldout.count(), 1024L), 4000000L)
      val bits = forceBits.getOrElse(
        math.min(BloomFilter.optimalNumOfBits(n, 0.01), 1L << 26))
      heldout.agg(call_function("graft_bloom_agg",
          col("h"), lit(n), lit(bits)).as("bf"))
        .head().getAs[Array[Byte]]("bf")
    } finally heldout.unpersist()
  }

  /** M6: the end-to-end corpus build — the composition every piece above
    * exists for: quality-filter (≥ 0.5), deterministic language mix
    * (downsample the dominant language), near-dup removal (drop the
    * higher-id side of every MinHash-verified pair), and the hash-banded
    * split stamp, in ONE declarative plan. The mix and split predicates are
    * pure functions of the row, so Catalyst fuses them into the quality
    * scan; the only join is a broadcast ANTI join against the (small)
    * near-dup loser set, read from the staged decision table
    * (DedupStaging.minhashPairs) — at 100 TB the build is ONE corpus pass,
    * with the dedup pipeline materialized once per release upstream of it. */
  def corpusBuild(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val losers = DedupStaging.minhashPairs(spark, dir)
      .select(col("doc_b").as("doc_id")).distinct()
    TextAnalysis.qualityScore(spark, dir)
      .filter(col("quality_score") >= 0.5)
      .filter(pmod(col("doc_id"), lit(100)) <
        when(col("lang") === "en", lit(30)).otherwise(lit(100)))
      .join(broadcast(losers), Seq("doc_id"), "left_anti")
      .withColumn("band", pmod(Exact.fold60(col("doc_id").cast("string")), lit(100)))
      .select(col("doc_id"), col("lang"), col("quality_score"),
        when(col("band") < 90, "train")
          .when(col("band") < 95, "validation")
          .otherwise("test").as("split"))
  }

  /** M6: duplicate-cluster DENSITY metrics — the release-gate statistics
    * over the near-dup graph: per cluster its member count, detected-pair
    * count, and edge density 2E/(N(N−1)). Density 1 = a verified clique
    * (every member pair collided — high-confidence boilerplate); low
    * density on a big cluster = chain-linked drift, the clusters a human
    * reviews before dropping. Two keyed aggregates + one join over the
    * staged decision table and the CC labels — nothing rescans the
    * corpus. */
  def dupDensity(spark: SparkSession, dir: String): DataFrame = {
    val labels = dupClusters(spark, dir)
    val pairs = DedupStaging.minhashPairs(spark, dir).select("doc_a", "doc_b")
    val nodes = labels.groupBy("cluster_id").agg(count(lit(1)).as("n_docs"))
    val edges = pairs
      .join(labels.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"))
      .groupBy("cluster_id").agg(count(lit(1)).as("n_edges"))
    nodes.join(edges, Seq("cluster_id"))
      .select(col("cluster_id"), col("n_docs"), col("n_edges"),
        rnd(col("n_edges") * 2.0 / (col("n_docs") * (col("n_docs") - 1)), 4)
          .as("density"))
  }

  /** M6: PageRank over the near-dup pair graph — the canonical-document
    * selector a dedup release runs AFTER clustering: inside a duplicate
    * cluster the highest-PageRank member is the best "representative"
    * (most-connected variant), and rank mass also surfaces template hubs
    * that plain cluster size misses. Five fixed power iterations at d =
    * 0.85 over the STAGED pair table; every node of the symmetric pair
    * graph has degree ≥ 1, so there is no dangling-mass correction term.
    *
    * Scale shape: each iteration is one equi-join (edges ⋈ ranks on the
    * source id) + one keyed sum — shuffles keyed on node ids, the same
    * contract as the CC contraction loop, with a FIXED iteration count (no
    * convergence actions). The iteration plan is built by composition; at
    * five rounds the tree stays well under the CC loop's checkpoint
    * threshold. Cross-engine: every per-edge contribution pr/deg is one
    * IEEE divide; the per-node sum is order-sensitive only in the last
    * ulps, 10 orders below the rnd(6) emission guard. */
  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    val pairs = DedupStaging.minhashPairs(spark, dir).select("doc_a", "doc_b")
    val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionAll(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
    val deg = edges.groupBy("u").agg(count(lit(1)).as("deg"))
    val n = deg.count() // node count: one metadata-sized action, like tfidf's
    var ranks = deg.select(col("u").as("node"), lit(1.0 / n).as("pr"))
    for (_ <- 1 to 5) {
      ranks = edges
        .join(ranks, edges("u") === ranks("node"))
        .join(deg, Seq("u"))
        .select(col("v").as("node"), (col("pr") / col("deg")).as("c"))
        .groupBy("node")
        .agg((lit(0.15 / n) + lit(0.85) * sum(col("c"))).as("pr"))
    }
    ranks.select(col("node").as("doc_id"), rnd(col("pr"), 6).as("pagerank"))
  }

  /** M6: LSH recall/precision evaluation — the standard audit a dedup
    * release publishes next to its pair set: the banded MinHash candidates
    * measured against the exact AllPairs baseline at the same 0.8 Jaccard
    * bar. LlmPillarSpec asserts the recall INVARIANT (exact ⊆ LSH); this
    * query materializes the NUMBERS as a one-row artifact the release
    * pipeline can archive and trend. One full-outer equi-join of two
    * pair sets (both staged-index-driven, both tiny relative to the
    * corpus), one scalar aggregate. */
  def lshEval(spark: SparkSession, dir: String): DataFrame = {
    val exact = ngramJaccard(spark, dir)
      .filter(col("jaccard") >= 0.8).select(col("doc_a"), col("doc_b"))
    val lsh = minhashDedup(spark, dir)
      .select(col("doc_a").as("la"), col("doc_b").as("lb"))
    exact.join(lsh,
        col("doc_a") === col("la") && col("doc_b") === col("lb"), "full_outer")
      .agg(
        count(col("doc_a")).as("n_exact"),
        count(col("la")).as("n_lsh"),
        count(when(col("doc_a").isNotNull && col("la").isNotNull, 1)).as("n_common"))
      .select(col("n_exact"), col("n_lsh"), col("n_common"),
        rnd(col("n_common").cast("double") / col("n_exact"), 4).as("recall"),
        rnd(col("n_common").cast("double") / col("n_lsh"), 4).as("precision"))
  }

  /** M6: cross-source overlap matrix — the corpus census a mixture designer
    * reads before weighting sources: for every source pair, the exact
    * 3-shingle Jaccard AND its 16-hash MinHash estimate from SKETCH-MERGED
    * signatures (the min-hash of a union is the elementwise min of member
    * min-hashes, so a source's sketch reduces out of the staged per-doc
    * signatures without touching text). At 100 TB the estimate path is the
    * product: per-source state is 16 longs regardless of corpus size,
    * merged map-side in one keyed agg. The exact side stays feasible
    * because the (source, shingle) frame is vocabulary-bounded and its
    * self-join is equi-keyed on the shingle hash with per-key fanout
    * ≤ |sources|² — never all-pairs over documents. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select("doc_id", "source")
    val ssig = DedupStaging.minhashSigs(spark, dir)
      .join(src, Seq("doc_id"))
      .groupBy("source")
      .agg(min(col("h0")).as("h0"),
        (1 until MinhashK).map(j => min(col(s"h$j")).as(s"h$j")): _*)
    val sv = DedupStaging.shingleBase(spark, dir)
      .select(col("doc_id"), explode(col("hs")).as("h"))
      .join(src, Seq("doc_id"))
      .select("source", "h").distinct()
    val sizes = sv.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = sv.as("a")
      .join(sv.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("ninter"))
    val matches = (0 until MinhashK)
      .map(j => when(col(s"x.h$j") === col(s"y.h$j"), 1).otherwise(0))
      .reduce(_ + _)
    val ni = coalesce(col("ninter"), lit(0L))
    // every frame below is SOURCE-bounded (≤ |sources| or |sources|² rows
    // at any corpus size — source is a low-cardinality census dimension by
    // design), so the report-assembly joins broadcast; unhinted, the
    // planner ran them as SortMergeJoins with three extra exchanges off
    // aggregate-inflated size estimates (r20 opt round, guide §3.1)
    ssig.as("x")
      .join(broadcast(ssig.as("y")), col("x.source") < col("y.source"))
      .select(col("x.source").as("src_a"), col("y.source").as("src_b"),
        (matches.cast("double") / lit(MinhashK)).as("est_jaccard"))
      .join(broadcast(inter), Seq("src_a", "src_b"), "left")
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("n_a"))),
        Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("n_b"))),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        ni.as("ninter"),
        rnd(ni / (col("n_a") + col("n_b") - ni).cast("double"), 4)
          .as("jaccard"),
        col("est_jaccard"))
  }

  /** M6: graded benchmark-contamination score — decontaminate's hard
    * ≥1-shared-8-gram gate generalized to the fraction a filter can
    * threshold: per training document, |its 8-grams ∩ held-out 8-grams| /
    * |its 8-grams|. Held-out membership is doc_id % 97 as in
    * decontaminate; the natural corpus shares no 8-grams across documents,
    * so PARTIAL plants are injected (held-out text with every 16th token
    * mutated — 8-gram windows inside the unmutated 15-token runs still
    * match, the rest don't) and score strictly between 0 and 1, which is
    * the regime this operator exists for. The hit set rides a broadcast
    * (held-out benchmarks stay small in production by definition); the two
    * distinct counts are branches of ONE keyed aggregation pass. */
  def contaminationScore(spark: SparkSession, dir: String): DataFrame = {
    val training = DedupStaging.shingle8(spark, dir).filter(col("doc_id") % 97 =!= 0)
    // the plants are new documents, so they cannot ride the staged table:
    // held-out text with every 16th token mutated, re-shingled raw
    val mutated = transform(
      TextAnalysis.normTokens(col("text")),
      (t, i) => when(i % 16 === 0, concat(t, lit("x"))).otherwise(t))
    val plants = Tables.documents(spark, dir)
      .filter(col("doc_id") % 97 === 0)
      .select((col("doc_id") + 3000000).as("doc_id"),
        array_distinct(shingles(mutated, 8)).as("sh"))
      .select(col("doc_id"),
        explode(transform(col("sh"), s => md5Fold60(s))).as("h"))
    // the held-out hit set that rides the broadcast
    val bench = DedupStaging.shingle8(spark, dir).filter(col("doc_id") % 97 === 0)
      .select("h").distinct().withColumn("hit", lit(1))
    training.unionAll(plants)
      .join(broadcast(bench), Seq("h"), "left")
      .groupBy("doc_id")
      // (doc_id, h) rows are UNIQUE by construction — shingle8 distincts at
      // the string level and the fold is injective within a document (the
      // header's collision argument, p < 1e-13), the same assumption every
      // hashed-set oracle here rests on — so plain counts equal the oracle's
      // count(DISTINCT ...) while skipping the two-distinct Expand that
      // doubled the agg input (the plan is now one partial+final pass;
      // measured 42.6 → 38.2 cpu-s at sf0.1 — the remainder is the shingle
      // scan itself, the probe-adjudicated memory-bandwidth class)
      .agg(
        count(col("h")).as("n_grams"),
        count(when(col("hit") === 1, col("h"))).as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        rnd(col("n_hit").cast("double") / col("n_grams").cast("double"), 4)
          .as("contamination"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m6_source_overlap" -> sourceOverlap,
    "m6_contamination_score" -> contaminationScore,
    "m6_pagerank"      -> pagerank,
    "m6_lsh_eval"      -> lshEval,
    "m6_exact_dedup"   -> exactDedup,
    "m6_corpus_build"  -> corpusBuild,
    "m6_ngram_jaccard" -> ngramJaccard,
    "m6_containment"   -> containment,
    "m6_minhash_dedup" -> minhashDedup,
    "m6_simhash_pairs" -> simhashPairs,
    "m6_incremental_dedup" -> incrementalDedup,
    "m6_dedup_forget" -> dedupForget,
    "m6_dedup_purge" -> dedupPurge,
    "m6_dedup_compact" -> dedupCompact,
    "m6_incremental_commit" -> incrementalCommit,
    "m6_dup_clusters"  -> dupClusters,
    "m6_cluster_keep_best" -> clusterKeepBest,
    "m6_dup_density"   -> dupDensity,
    "m6_decontaminate" -> decontaminate,
    "m6_bloom_decontaminate" -> ((s, d) => bloomDecontaminate(s, d)))

  private val shSql = s"list_distinct(${sqlShingles("string_split(text, ' ')", 3)})"
  // decontamination shingles are over canonical tokens (normTokens) — `toks`
  // is staged in a CTE so the normalization expression appears once
  private val sh8Sql = s"list_distinct(${sqlShingles("toks", 8)})"

  /** Shared by m6_decontaminate and m6_bloom_decontaminate: the sketch
    * prefilter never changes the answer, so both replay this exact scan. */
  private lazy val decontaminateOracleSql: String =
    s"""WITH corpus AS (SELECT doc_id, text FROM documents
                        UNION ALL
                        SELECT doc_id + 2000000, text FROM documents
                        WHERE doc_id % 97 = 0),
        tk AS (SELECT doc_id, ${TextAnalysis.sqlNormTokens("text")} AS toks FROM corpus),
        sh AS (SELECT doc_id, $sh8Sql AS s FROM tk),
        ex AS (SELECT doc_id, unnest(list_transform(s, x -> ${sqlMd5Fold60("x")})) AS h FROM sh),
        held AS (SELECT DISTINCT h FROM ex WHERE doc_id % 97 = 0)
        SELECT doc_id, count(DISTINCT h) AS n_shared
        FROM ex JOIN held USING (h)
        WHERE doc_id % 97 <> 0
        GROUP BY 1"""

  /** The 16 XOR-seeded min-hash columns over an `(doc_id, h)`-list CTE. */
  private def sqlSigs(hsCte: String): String =
    s"""SELECT doc_id,
        ${MinhashSeeds.zipWithIndex.map { case (s, j) =>
          s"list_min(list_transform(h, x -> xor(x, $s))) AS h$j" }.mkString(", ")}
        FROM $hsCte"""

  /** The 8 band rows per signature row of a sigs CTE. */
  private def sqlBands(sigsCte: String): String =
    (0 until 8).map(b =>
      s"SELECT doc_id, $b AS band, h${2 * b} AS k1, h${2 * b + 1} AS k2 FROM $sigsCte")
      .mkString(" UNION ALL ")

  /** The arriving-batch CTE body both incremental oracles share (the SQL
    * twin of `arrivingBatch`). */
  private def sqlBatch(offset: Long, halfAll: Boolean): String = {
    val half = "array_to_string(list_filter(string_split(text, ' '), (x, i) -> i % 2 = 1), ' ')"
    val text = if (halfAll) half
      else s"CASE WHEN doc_id % 20 = 0 THEN text ELSE $half END"
    s"SELECT doc_id + $offset AS doc_id, $text AS text FROM documents WHERE doc_id % 10 = 0"
  }

  /** cands/ver/m admission CTEs (the SQL twin of `admissionDecisions`):
    * batch bands vs reference bands, candidates verified over the two
    * (doc_id, h) shingle tables. */
  private def sqlAdmission(tag: String, batchBands: String, refBands: String,
      batchHs: String, refHs: String): String =
    s"""cands$tag AS (SELECT DISTINCT b.doc_id AS new_id, r.doc_id AS corpus_id
          FROM $batchBands b JOIN $refBands r
            ON b.band = r.band AND b.k1 = r.k1 AND b.k2 = r.k2),
        ver$tag AS (SELECT new_id, corpus_id, ni / CAST(ntot - ni AS DOUBLE) AS jac
          FROM (SELECT new_id, corpus_id,
                  len(list_intersect(n.h, c.h)) AS ni,
                  len(n.h) + len(c.h) AS ntot
                FROM cands$tag
                JOIN $batchHs n ON n.doc_id = cands$tag.new_id
                JOIN $refHs c ON c.doc_id = cands$tag.corpus_id) t
          WHERE ni / CAST(ntot - ni AS DOUBLE) >= 0.8),
        m$tag AS (SELECT new_id, count(*) AS n_matches, max(jac) AS best
          FROM ver$tag GROUP BY 1)"""

  /** Recursive transitive-closure CC prelude over any replayed pair query
    * (CTEs `pairs` → `cl(id, cluster_id)`) — closed by the caller's SELECT;
    * shared by m6_dup_clusters, m6_dup_density and Similarity's
    * m6_embed_clusters (one CTE shape, parameterized on the pair/id column
    * names). */
  private[operators] def sqlCCPrelude(pairsSql: String,
      aCol: String, bCol: String, idOut: String): String =
    s"""WITH RECURSIVE pairs AS ($pairsSql),
        edges AS (SELECT $aCol AS u, $bCol AS v FROM pairs
                  UNION ALL SELECT $bCol, $aCol FROM pairs),
        verts AS (SELECT DISTINCT u AS $idOut FROM edges),
        reach($idOut, r) AS (
          SELECT $idOut, $idOut FROM verts
          UNION
          SELECT e.u, reach.r FROM reach JOIN edges e ON e.v = reach.$idOut),
        cl AS (SELECT $idOut, min(r) AS cluster_id FROM reach GROUP BY 1)"""

  /** The full CC oracle: prelude + the label select. */
  private[operators] def sqlConnectedComponents(pairsSql: String,
      aCol: String, bCol: String, idOut: String): String =
    s"""${sqlCCPrelude(pairsSql, aCol, bCol, idOut)}
        SELECT $idOut, cluster_id FROM cl"""

  private def sqlAdmissionSelect(batchCte: String, mCte: String): String =
    s"""SELECT b.doc_id AS new_id,
        coalesce(n_matches, 0) AS n_matches,
        ${sqlRnd("coalesce(best, 0.0)", 4)} AS best_jaccard,
        coalesce(n_matches, 0) = 0 AS admitted
        FROM $batchCte b LEFT JOIN $mCte ON $mCte.new_id = b.doc_id"""

  /** The exact n-gram-Jaccard replay — shared by its own oracle and the
    * LSH-evaluation composition (which re-filters its ROUNDED jaccard). */
  private lazy val ngramOracleSql: String =
    s"""WITH sh AS (SELECT doc_id, lang, n_chars, $shSql AS s FROM documents),
        p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                len(list_intersect(a.s, b.s)) AS ni, len(a.s) + len(b.s) AS ntot
              FROM sh a JOIN sh b
                ON a.lang = b.lang AND a.doc_id < b.doc_id
               AND abs(a.n_chars - b.n_chars) <= 50)
        SELECT doc_a, doc_b, ${sqlRnd("jac", 4)} AS jaccard FROM (
          SELECT doc_a, doc_b, ni / CAST(ntot - ni AS DOUBLE) AS jac FROM p) t
        WHERE jac >= 0.5"""

  /** The MinHash pipeline's DuckDB replay — shared by its own oracle and
    * the corpus-build composition. */
  private lazy val minhashOracleSql: String =
    s"""WITH sh AS (SELECT doc_id, $shSql AS s FROM documents),
        hs AS (SELECT doc_id, list_distinct(list_transform(s, x -> ${sqlMd5Fold60("x")})) AS h FROM sh),
        sigs AS (${sqlSigs("hs")}),
        bands AS (${sqlBands("sigs")}),
        cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
                  FROM bands x JOIN bands y
                    ON x.band = y.band AND x.k1 = y.k1 AND x.k2 = y.k2
                  WHERE x.doc_id < y.doc_id),
        pairs AS (SELECT doc_a, doc_b,
                    len(list_intersect(a.h, b.h)) AS ni,
                    len(a.h) + len(b.h) AS ntot
                  FROM cands
                  JOIN hs a ON a.doc_id = cands.doc_a
                  JOIN hs b ON b.doc_id = cands.doc_b),
        scored AS (SELECT doc_a, doc_b, ni / CAST(ntot - ni AS DOUBLE) AS jac
                   FROM pairs)
        SELECT doc_a, doc_b, ${sqlRnd("jac", 4)} AS jaccard
        FROM scored WHERE jac >= 0.8"""

  /** The dedup-forget replay, shared VERBATIM by m6_dedup_purge (the purge
    * changes bytes, not answers). */
  private lazy val DedupForgetOracle: String =
    s"""WITH sh AS (SELECT doc_id, $shSql AS s FROM documents
                      WHERE doc_id % 20 <> 0),
          hs AS (SELECT doc_id, list_distinct(list_transform(s, x -> ${sqlMd5Fold60("x")})) AS h FROM sh),
          csigs AS (${sqlSigs("hs")}),
          cb AS (${sqlBands("csigs")}),
          batch AS (${sqlBatch(3000000, halfAll = false)}),
          bsh AS (SELECT doc_id, $shSql AS s FROM batch),
          bhs AS (SELECT doc_id, list_distinct(list_transform(s, x -> ${sqlMd5Fold60("x")})) AS h FROM bsh),
          bsigs AS (${sqlSigs("bhs")}),
          nb AS (${sqlBands("bsigs")}),
          ${sqlAdmission("1", "nb", "cb", "bhs", "hs")}
          ${sqlAdmissionSelect("batch", "m1")}"""

  /** The full two-batch incremental-commit replay: batch-1 decisions, the
    * catalog after the commit (corpus ∪ batch-1 ADMISSIONS — rejected docs
    * excluded), then batch-2 decisions against it. The engine's manifest
    * catalog never appears — its contents are re-derived from raw text end
    * to end. Shared VERBATIM by m6_dedup_compact (the OPTIMIZE rewrite
    * changes bytes, not answers) and the streaming admission m4q (a
    * stream-maintained dedup catalog must decide exactly what the
    * batch-maintained one decides). */
  private[graft] lazy val IncrementalCommitOracle: String =
    s"""WITH sh AS (SELECT doc_id, $shSql AS s FROM documents),
          hs AS (SELECT doc_id, list_distinct(list_transform(s, x -> ${sqlMd5Fold60("x")})) AS h FROM sh),
          csigs AS (${sqlSigs("hs")}),
          cb AS (${sqlBands("csigs")}),
          batch1 AS (${sqlBatch(3000000, halfAll = false)}),
          b1sh AS (SELECT doc_id, $shSql AS s FROM batch1),
          b1hs AS (SELECT doc_id, list_distinct(list_transform(s, x -> ${sqlMd5Fold60("x")})) AS h FROM b1sh),
          b1sigs AS (${sqlSigs("b1hs")}),
          nb1 AS (${sqlBands("b1sigs")}),
          ${sqlAdmission("1", "nb1", "cb", "b1hs", "hs")},
          adm1 AS (SELECT b.doc_id FROM batch1 b
                   LEFT JOIN m1 ON m1.new_id = b.doc_id
                   WHERE m1.new_id IS NULL),
          rsigs AS (SELECT * FROM csigs
                    UNION ALL
                    SELECT * FROM b1sigs
                    WHERE doc_id IN (SELECT doc_id FROM adm1)),
          rb AS (${sqlBands("rsigs")}),
          rhs AS (SELECT doc_id, h FROM hs
                  UNION ALL
                  SELECT doc_id, h FROM b1hs
                  WHERE doc_id IN (SELECT doc_id FROM adm1)),
          batch2 AS (${sqlBatch(4000000, halfAll = true)}),
          b2sh AS (SELECT doc_id, $shSql AS s FROM batch2),
          b2hs AS (SELECT doc_id, list_distinct(list_transform(s, x -> ${sqlMd5Fold60("x")})) AS h FROM b2sh),
          b2sigs AS (${sqlSigs("b2hs")}),
          nb2 AS (${sqlBands("b2sigs")}),
          ${sqlAdmission("2", "nb2", "rb", "b2hs", "rhs")}
          ${sqlAdmissionSelect("batch2", "m2")}"""

  val oracles: Map[String, String] = Map(
    // Sketch-merge replay: the same folds and XOR seeds as the minhash
    // oracle, reduced per source (min of mins = min of the union); the
    // exact side recounts the vocabulary-bounded (source, shingle) frame.
    "m6_source_overlap" ->
      s"""WITH sh AS (SELECT doc_id, $shSql AS s FROM documents),
          hs AS (SELECT doc_id, list_distinct(list_transform(s, x -> ${sqlMd5Fold60("x")})) AS h FROM sh),
          sigs AS (${sqlSigs("hs")}),
          ssig AS (SELECT source,
                     ${(0 until MinhashK).map(j => s"min(h$j) AS h$j").mkString(", ")}
                   FROM sigs JOIN documents USING (doc_id) GROUP BY 1),
          sv AS (SELECT DISTINCT source, h
                 FROM (SELECT source, unnest(h) AS h
                       FROM hs JOIN documents USING (doc_id))),
          sizes AS (SELECT source, count(*) AS n FROM sv GROUP BY 1),
          inter AS (SELECT a.source AS src_a, b.source AS src_b,
                      count(*) AS ninter
                    FROM sv a JOIN sv b
                      ON a.h = b.h AND a.source < b.source
                    GROUP BY 1, 2),
          est AS (SELECT x.source AS src_a, y.source AS src_b,
                    CAST((${(0 until MinhashK).map(j =>
                      s"CASE WHEN x.h$j = y.h$j THEN 1 ELSE 0 END")
                      .mkString(" + ")}) AS DOUBLE) / $MinhashK AS est_jaccard
                  FROM ssig x JOIN ssig y ON x.source < y.source)
          SELECT est.src_a, est.src_b, sa.n AS n_a, sb.n AS n_b,
                 coalesce(ninter, 0) AS ninter,
                 ${sqlRnd(
                   "coalesce(ninter, 0) / CAST(sa.n + sb.n - coalesce(ninter, 0) AS DOUBLE)",
                   4)} AS jaccard,
                 est_jaccard
          FROM est
          LEFT JOIN inter ON est.src_a = inter.src_a AND est.src_b = inter.src_b
          JOIN sizes sa ON sa.source = est.src_a
          JOIN sizes sb ON sb.source = est.src_b""",
    // Same token/shingle derivation as the decontaminate oracle, graded:
    // the per-document hit fraction instead of the shared-count gate, with
    // the partial plants mutated at the same every-16th-token positions
    // (DuckDB lambda indexes are 1-based where Spark's are 0-based, hence
    // the (i-1)).
    "m6_contamination_score" ->
      s"""WITH tk AS (SELECT doc_id, ${TextAnalysis.sqlNormTokens("text")} AS toks FROM documents),
          ptk AS (SELECT doc_id + 3000000 AS doc_id,
                    list_transform(toks, (x, i) ->
                      CASE WHEN (i - 1) % 16 = 0 THEN x || 'x' ELSE x END)
                      AS toks
                  FROM tk WHERE doc_id % 97 = 0),
          sh AS (SELECT doc_id, $sh8Sql AS s FROM tk
                 UNION ALL
                 SELECT doc_id, $sh8Sql AS s FROM ptk),
          ex AS (SELECT doc_id, unnest(list_transform(s, x -> ${sqlMd5Fold60("x")})) AS h FROM sh),
          held AS (SELECT DISTINCT h FROM ex WHERE doc_id % 97 = 0
                                               AND doc_id < 3000000),
          agg AS (SELECT ex.doc_id,
                    count(DISTINCT ex.h) AS n_grams,
                    count(DISTINCT CASE WHEN held.h IS NOT NULL THEN ex.h END)
                      AS n_hit
                  FROM ex LEFT JOIN held ON ex.h = held.h
                  WHERE ex.doc_id % 97 <> 0 OR ex.doc_id >= 3000000
                  GROUP BY 1)
          SELECT doc_id, n_grams, n_hit,
                 ${sqlRnd("CAST(n_hit AS DOUBLE) / CAST(n_grams AS DOUBLE)", 4)}
                   AS contamination
          FROM agg""",
    "m6_exact_dedup" ->
      """SELECT sha256(text) AS content_hash, min(doc_id) AS keeper_id,
         count(*) AS n_copies
         FROM (SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0) u
         GROUP BY 1""",
    // The oracle verifies over the RAW STRING shingles, so the 60-bit hashed
    // representation the engine joins on is itself under test here.
    "m6_ngram_jaccard" -> ngramOracleSql,
    // Containment replay: same staged-shingle derivation as the minhash
    // oracle's hs CTE, the same 2..50 df band, |∩| and |S_small| counted
    // over the same filtered universe, small-⊆-big orientation with the
    // id tie-break.
    "m6_containment" ->
      s"""WITH sh AS (SELECT doc_id, $shSql AS s FROM documents),
          hs AS (SELECT doc_id, list_distinct(list_transform(s, x -> ${sqlMd5Fold60("x")})) AS h FROM sh),
          d AS (SELECT doc_id, unnest(h) AS h FROM hs),
          fr AS (SELECT h FROM d GROUP BY h
                 HAVING count(*) >= 2 AND count(*) <= 50),
          disc AS (SELECT d.doc_id, d.h FROM d JOIN fr USING (h)),
          lens AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
                   FROM disc GROUP BY 1),
          inter AS (SELECT a.doc_id AS doc_small, b.doc_id AS doc_big,
                      CAST(count(*) AS BIGINT) AS n_shared
                    FROM disc a JOIN disc b
                      ON a.h = b.h AND a.doc_id <> b.doc_id
                    GROUP BY 1, 2),
          sc AS (SELECT doc_small, doc_big, ls.n AS n_small, lb.n AS n_big,
                   n_shared,
                   CAST(n_shared AS DOUBLE) / CAST(ls.n AS DOUBLE) AS c
                 FROM inter
                 JOIN lens ls ON ls.doc_id = doc_small
                 JOIN lens lb ON lb.doc_id = doc_big
                 WHERE ls.n < lb.n OR (ls.n = lb.n AND doc_small < doc_big))
          SELECT doc_small, doc_big, n_small, n_big, n_shared,
            ${sqlRnd("c", 4)} AS containment
          FROM sc WHERE c >= 0.8""",
    "m6_decontaminate" -> decontaminateOracleSql,
    // The Bloom prefilter is a plan optimization, not a semantics change:
    // false positives die in the exact verify join, false negatives don't
    // exist — so the sketch-prefiltered scan answers the SAME oracle.
    "m6_bloom_decontaminate" -> decontaminateOracleSql,
    // Full replay of the MinHash pipeline: same folds, same XOR seeds, same
    // banding, same verification — every intermediate is portable by
    // construction.
    "m6_minhash_dedup" -> minhashOracleSql,
    // Incremental admission: the oracle recomputes BOTH sides' signatures
    // from raw text (it never sees the staged tables — they stay
    // end-to-end verified through this replay).
    "m6_incremental_dedup" ->
      s"""WITH sh AS (SELECT doc_id, $shSql AS s FROM documents),
          hs AS (SELECT doc_id, list_distinct(list_transform(s, x -> ${sqlMd5Fold60("x")})) AS h FROM sh),
          csigs AS (${sqlSigs("hs")}),
          cb AS (${sqlBands("csigs")}),
          batch AS (${sqlBatch(3000000, halfAll = false)}),
          bsh AS (SELECT doc_id, $shSql AS s FROM batch),
          bhs AS (SELECT doc_id, list_distinct(list_transform(s, x -> ${sqlMd5Fold60("x")})) AS h FROM bsh),
          bsigs AS (${sqlSigs("bhs")}),
          nb AS (${sqlBands("bsigs")}),
          ${sqlAdmission("1", "nb", "cb", "bhs", "hs")}
          ${sqlAdmissionSelect("batch", "m1")}""",
    // The forget replay: the incremental-admission oracle with the
    // forgotten docs (doc_id % 20 = 0) ABSENT from the corpus side —
    // signatures never built, shingle references never consulted — which
    // is exactly what the tombstone anti-joins effect on the staged
    // catalog. Batch side unchanged.
    "m6_dedup_forget" -> DedupForgetOracle,
    // bytes-not-answers: the purge rewrite serves the forget's decisions
    // verbatim (the m6_index_purge / m6_ann_purge statement).
    "m6_dedup_purge" -> DedupForgetOracle,
    // The full two-batch replay: batch-1 decisions, the catalog after the
    // commit (corpus ∪ batch-1 ADMISSIONS — rejected docs excluded), then
    // batch-2 decisions against it. The engine's manifest catalog never
    // appears — its contents are re-derived from raw text end to end.
    "m6_incremental_commit" -> IncrementalCommitOracle,
    // bytes-not-answers: the OPTIMIZE rewrite serves the incremental
    // commit's decisions verbatim (the m6_index_compact / m6_ann_compact
    // statement on the third index family).
    "m6_dedup_compact" -> IncrementalCommitOracle,
    // Composes the two pair oracles (verbatim — including the ROUNDED
    // jaccard the engine also filters on, so the 0.8 bar can never
    // boundary-diverge) and counts the full-outer overlap; recall and
    // precision are single IEEE divides of exact longs.
    // Composes the two pair oracles (verbatim — including the ROUNDED
    // jaccard the engine also filters on, so the 0.8 bar can never
    // boundary-diverge) and counts the full-outer overlap; recall and
    // precision are single IEEE divides of exact longs.
    "m6_lsh_eval" -> {
      s"""WITH ex AS (SELECT doc_a, doc_b FROM ($ngramOracleSql) g
                      WHERE jaccard >= 0.8),
          ls AS (SELECT doc_a AS la, doc_b AS lb FROM ($minhashOracleSql) m),
          j AS (SELECT ex.doc_a, ls.la FROM ex
                FULL OUTER JOIN ls ON ex.doc_a = ls.la AND ex.doc_b = ls.lb),
          c AS (SELECT count(doc_a) AS n_exact, count(la) AS n_lsh,
                  count(CASE WHEN doc_a IS NOT NULL AND la IS NOT NULL THEN 1 END) AS n_common
                FROM j)
          SELECT n_exact, n_lsh, n_common,
            ${sqlRnd("CAST(n_common AS DOUBLE) / n_exact", 4)} AS recall,
            ${sqlRnd("CAST(n_common AS DOUBLE) / n_lsh", 4)} AS precision
          FROM c"""
    },
    // Five power iterations unrolled as chained CTEs over the replayed
    // MinHash pairs — same init, same damping, same per-edge IEEE divide;
    // the per-node sums differ only in addition order (last-ulp), ten
    // orders below the rnd(6) emission guard.
    "m6_pagerank" -> {
      val iters = (1 to 5).map { k =>
        s"""p$k AS (SELECT e.v AS node,
            0.15 / (SELECT n FROM nn) + 0.85 * sum(p.pr / d.deg) AS pr
            FROM edges e JOIN p${k - 1} p ON p.node = e.u
            JOIN deg d ON d.u = e.u
            GROUP BY e.v)"""
      }.mkString(", ")
      s"""WITH pairs AS ($minhashOracleSql),
          edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                    UNION ALL SELECT doc_b, doc_a FROM pairs),
          deg AS (SELECT u, count(*) AS deg FROM edges GROUP BY 1),
          nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
          p0 AS (SELECT u AS node, 1.0 / (SELECT n FROM nn) AS pr FROM deg),
          $iters
          SELECT node AS doc_id, ${sqlRnd("pr", 6)} AS pagerank FROM p5"""
    },
    // Connected components as a recursive transitive-closure CTE over the
    // replayed MinHash pairs: min reachable doc id IS the propagation fixed
    // point the engine iterates to.
    "m6_dup_clusters" ->
      sqlConnectedComponents(minhashOracleSql, "doc_a", "doc_b", "doc_id"),
    // CC labels joined to the quality replay; keeper = top quality per
    // cluster with the doc_id tie — row_number replays min(struct) exactly
    // because quality_score is already rounded on both sides.
    "m6_cluster_keep_best" ->
      s"""${sqlCCPrelude(minhashOracleSql, "doc_a", "doc_b", "doc_id")},
          q AS (${TextAnalysis.oracles("m6_quality_score")}),
          sc AS (SELECT cl.doc_id, cluster_id, quality_score
                 FROM cl JOIN q USING (doc_id)),
          b AS (SELECT cluster_id, doc_id AS keeper_id,
                  quality_score AS keeper_quality FROM (
                    SELECT cluster_id, doc_id, quality_score,
                      row_number() OVER (PARTITION BY cluster_id
                        ORDER BY quality_score DESC, doc_id) AS rn
                    FROM sc) t WHERE rn = 1)
          SELECT sc.doc_id, cluster_id, keeper_id,
                 sc.doc_id = keeper_id AS kept, keeper_quality
          FROM sc JOIN b USING (cluster_id)""",
    // The CC prelude's `pairs`/`cl` CTEs, aggregated to per-cluster graph
    // metrics; density = one IEEE multiply-divide of exact longs.
    "m6_dup_density" ->
      s"""${sqlCCPrelude(minhashOracleSql, "doc_a", "doc_b", "doc_id")},
          nodes AS (SELECT cluster_id, count(*) AS n_docs FROM cl GROUP BY 1),
          ed AS (SELECT cluster_id, count(*) AS n_edges
                 FROM pairs JOIN cl ON cl.doc_id = pairs.doc_a GROUP BY 1)
          SELECT cluster_id, n_docs, n_edges,
                 ${sqlRnd("n_edges * 2.0 / (n_docs * (n_docs - 1))", 4)} AS density
          FROM nodes JOIN ed USING (cluster_id)""",
    // Composed from the quality and minhash oracles — the build must equal
    // "filter ∘ mix ∘ dedup ∘ split" applied via plain SQL.
    "m6_corpus_build" ->
      s"""WITH q AS (${TextAnalysis.oracles("m6_quality_score")}),
          losers AS (SELECT DISTINCT doc_b FROM ($minhashOracleSql) m)
          SELECT doc_id, lang, quality_score,
            CASE WHEN band < 90 THEN 'train'
                 WHEN band < 95 THEN 'validation'
                 ELSE 'test' END AS split
          FROM (SELECT doc_id, lang, quality_score,
                  ${Exact.sqlFold60("CAST(doc_id AS VARCHAR)")} % 100 AS band
                FROM q
                WHERE quality_score >= 0.5
                  AND doc_id % 100 < CASE WHEN lang = 'en' THEN 30 ELSE 100 END
                  AND doc_id NOT IN (SELECT doc_b FROM losers)) t""",
    // Full replay of the SimHash pipeline: same bit votes, same chunk
    // blocking, same Hamming verification.
    "m6_simhash_pairs" ->
      s"""WITH sh AS (SELECT doc_id, $shSql AS s FROM documents),
          ex AS (SELECT doc_id, unnest(s) AS s FROM sh),
          hx AS (SELECT doc_id,
                   ('0x' || substring(md5(s), 1, 8))::BIGINT AS hi,
                   ('0x' || substring(md5(s), 9, 8))::BIGINT AS lo
                 FROM ex),
          votes AS (SELECT doc_id,
            ${(0 until 32).map(i => s"sum(((hi >> $i) & 1) * 2 - 1) AS b$i").mkString(", ")},
            ${(0 until 32).map(i => s"sum(((lo >> $i) & 1) * 2 - 1) AS c$i").mkString(", ")}
            FROM hx GROUP BY 1),
          sigs AS (SELECT doc_id,
            ${(0 until 32).map(i => s"(CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")} AS sim_hi,
            ${(0 until 32).map(i => s"(CASE WHEN c$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")} AS sim_lo
            FROM votes),
          params AS (SELECT CASE WHEN (SELECT count(*) FROM documents) >= 4096
                            THEN 16 ELSE 8 END AS w),
          chunks AS (
            SELECT doc_id, sim_hi, sim_lo, c,
              CASE WHEN c < 32 // w
                   THEN (sim_hi >> (w * (c % (32 // w)))) & ((1::BIGINT << w) - 1)
                   ELSE (sim_lo >> (w * (c % (32 // w)))) & ((1::BIGINT << w) - 1)
              END AS chunk
            FROM sigs, params, range(0, 8) t(c)
            WHERE c < 64 // w)
          SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
            CAST(bit_count(xor(x.sim_hi, y.sim_hi))
               + bit_count(xor(x.sim_lo, y.sim_lo)) AS INTEGER) AS hamming
          FROM chunks x, chunks y, params
          WHERE x.c = y.c AND x.chunk = y.chunk AND x.doc_id < y.doc_id
            AND bit_count(xor(x.sim_hi, y.sim_hi))
              + bit_count(xor(x.sim_lo, y.sim_lo)) <= (64 // params.w) - 1""")
}
