package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import TextAnalysis.{normTokens, shingles}

/** Materialized intermediates of the dedup pipeline — the tokenize → shingle
  * → hash base and the signature tables derived from it, built ONCE per
  * fixture dir and read back as parquet by every query in the family.
  *
  * Why this exists: ngram_jaccard, minhash, simhash, decontaminate and
  * corpus_build all start from the same per-document shingle sets. Computed
  * inline, each query re-runs the corpus-wide tokenize/shingle/digest pass —
  * acceptable at test scale, but at 100 TB that pass IS the dominant cost,
  * and a real pipeline materializes it once (the reference's staging-table
  * discipline, Learning Guide.txt:1007 §"staging"; the in-repo precedent is
  * StreamingJobs.stagedEvents). Per-query `persist()` only ever shared work
  * *within* one query plan; this shares it across the family, exactly like a
  * production corpus release would (shingle/signature tables land next to
  * the corpus, downstream jobs join against them).
  *
  * Correctness is end-to-end by construction: the DuckDB oracles replay every
  * pipeline from RAW TEXT (they never see the staging tables), so each
  * staged value is still hash-verified through the queries that consume it.
  *
  * Bench attribution: the one-time build is timed as its own `m6_stage_base`
  * entry (Bench pre-stages what the selected entries read), so per-query
  * numbers measure what a steady-state deployment pays — reads of the
  * staged tables — without hiding the staging cost from the report.
  */
object DedupStaging {

  import Exact.{fold60 => md5Fold60}

  /** Warehouse root for staged tables — a STABLE location (not per-JVM
    * scratch), so staging survives JVM restarts: the round's Bench builds
    * once and a later Verify (separate JVM) reads the committed tables
    * without rebuilding, exactly like production jobs sharing a corpus
    * release's staging area. Overridable for deployments that put staging
    * next to the corpus. */
  private def warehouseRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE",
      s"${sys.props("java.io.tmpdir")}/graft-warehouse")

  /** Content signature of whatever `path` holds: a regular file's
    * (size, mtime-millis) pair, or — for a DIRECTORY layout, e.g. a
    * multi-file parquet table — a digest over its recursive
    * (relative-name, size, mtime) entries, so a rewrite of any member file
    * changes the signature. None when the path is absent: an absent source
    * is UNCACHEABLE (r13 ADVICE — a constant 'absent' key would alias
    * every missing layout onto one memo slot, serving stale scalars after
    * an in-place regeneration). */
  private[graft] def contentSig(path: String): Option[String] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) None
    else if (java.nio.file.Files.isRegularFile(p))
      Some(s"${java.nio.file.Files.size(p)}-${java.nio.file.Files.getLastModifiedTime(p).toMillis}")
    else {
      val sb = new StringBuilder
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted().forEach { f =>
        if (java.nio.file.Files.isRegularFile(f))
          sb.append(p.relativize(f)).append('|')
            .append(java.nio.file.Files.size(f)).append('|')
            .append(java.nio.file.Files.getLastModifiedTime(f).toMillis)
            .append('\n')
      } finally walk.close()
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(sb.toString.getBytes("UTF-8"))
      Some(md.take(8).map(b => f"$b%02x").mkString)
    }
  }

  /** A memo of values derived from on-disk content (a corpus count, a
    * table's parquet schema), one slot per key. A slot is served only
    * while every path it was derived from still has the [[contentSig]] it
    * had then, so a table regenerated in place is derived again. A path
    * with no signature makes the call uncacheable: `compute` runs, and a
    * read it makes fails with the real missing-table error (r13 ADVICE). */
  private[graft] final class ContentMemo[K, V] {
    private val slots = scala.collection.concurrent.TrieMap.empty[K, (Seq[String], V)]

    private def sigs(paths: Seq[String]): Option[Seq[String]] = {
      val s = paths.map(contentSig)
      Option.when(s.forall(_.isDefined))(s.flatten)
    }

    def apply(key: K, paths: Seq[String])(compute: => V): V =
      sigs(paths) match {
        case None => compute
        case Some(s) => slots.get(key) match {
          case Some((`s`, v)) => v
          case _ =>
            val v = compute
            slots.put(key, (s, v))
            v
        }
      }

    /** Record `value` for the paths' current content — for a writer that
      * knows what a reader would derive from what it just wrote. */
    def seed(key: K, paths: Seq[String], value: V): Unit =
      sigs(paths).foreach(s => slots.put(key, (s, value)))
  }

  /** Content fingerprint of a fixture dir — the staged tables derive from
    * `documents.parquet` (text/dedup family) or `embeddings.parquet` (ANN
    * index family), so the pair of content signatures identifies the
    * corpus version. A regenerated fixture changes the fingerprint, which
    * changes every staged path: stale staged parquet can never be read
    * against a newer corpus (it is swept on the next build instead). One
    * fingerprint over both sources keeps the commit/sweep protocol
    * single-rooted; the cost — a docs-only regen also invalidates the ANN
    * tables — is one extra index build per regeneration, disclosed by
    * Bench's staging_cold flag. ('absent' is fine as a fingerprint
    * component — a table that appears later changes the fingerprint — it
    * is only the SCALAR memos that must refuse to cache on it.) */
  private def fingerprint(dir: String): String = {
    def sig(name: String): String =
      contentSig(s"$dir/$name").getOrElse("absent")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir|${sig("documents.parquet")}|${sig("embeddings.parquet")}"
        .getBytes("UTF-8"))
    md.take(6).map(b => f"$b%02x").mkString
  }

  private def sanitize(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9._-]", "_").replaceAll("^_+", "")

  /** Per-fixture-DIR key, independent of corpus version: the readable
    * sanitized path plus a hash of the RAW path, so two dirs that sanitize
    * identically (`/a/b` vs `/a_b`) can never claim — or sweep — each
    * other's warehouse entries. */
  private def fixtureKey(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8"))
    s"${sanitize(dir)}.${md.take(3).map(b => f"$b%02x").mkString}"
  }

  private def fixtureRoot(dir: String): String =
    s"$warehouseRoot/${fixtureKey(dir)}-${fingerprint(dir)}"

  /** Staged-table LAYOUT versions: bumped when a table's schema changes,
    * because the corpus fingerprint only tracks fixture content — a warm
    * warehouse built by older code would otherwise serve the old column
    * set to new readers. The version suffixes the table directory
    * (unsuffixed = v1), so old-layout directories under the same corpus
    * fingerprint are simply never read again (docs-sized parquet; swept
    * with the fixture root on the next corpus regeneration). */
  private val layoutVersion = Map(
    // v2 (r14): + n_words, n_norm_chars — the per-doc normalized word/char
    // counts the fertility report needs, computed once in the encode pass
    // instead of re-tokenizing the corpus per report run
    "bpe_manifest" -> 2,
    // v2 (r15): + 2-shingle occurrence rows — 2-token phrases were
    // structurally unservable (a k-token phrase decomposes into k−2
    // 3-shingles; k=2 yields zero). Same columns, different row set: a
    // warm r14 warehouse must not serve an index missing the bigram rows
    "phrase_index" -> 2,
    // v2 (r15): + tot_tokens — the exact integer total behind avgdl, the
    // stat incremental admission needs to merge release + delta exactly
    // (the float avgdl alone cannot be re-derived without drift)
    "bm25_index" -> 2)

  private[graft] def tablePath(dir: String, name: String): String = {
    val vn = layoutVersion.get(name).filter(_ > 1)
      .fold(name)(v => s"$name.v$v")
    s"${fixtureRoot(dir)}/$vn"
  }

  // in-JVM memo of paths already verified committed — keyed on the CONTENT
  // fingerprint, so a fixture regenerated mid-session stops hitting the old
  // entry instead of silently reading stale staged parquet
  private val staged =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]

  // every staged table fetched through `materialize` since the last
  // resetMemo, memo hit or not: what an entry actually read
  private val fetchedSet = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Test hook: the staged tables fetched since the last [[resetMemo]]. */
  private[graft] def fetched: Set[String] = {
    import scala.jdk.CollectionConverters._
    fetchedSet.asScala.toSet
  }

  /** Test hook: forget in-JVM memo state (the on-disk warehouse is the
    * durable layer under test) and the fetched-table record. */
  private[graft] def resetMemo(): Unit = { staged.clear(); fetchedSet.clear() }

  /** Build-once-read-many: the first caller PER CORPUS VERSION builds and
    * publishes the table through the warehouse's atomic-pointer commit
    * (Connectors.replaceTable) — later callers, including separate JVMs,
    * see the committed pointer and skip the build. The write is NOT
    * coalesced — it inherits the build's partitioning, so the read-back
    * side gets real splits instead of one. A crash mid-build leaves no
    * pointer, so the next caller simply rebuilds.
    *
    * Cross-JVM build races are serialized by an atomic lock file
    * (`Files.createFile` — create-if-absent is atomic on a local FS): the
    * commit protocol itself assumes one writer per table, and two JVMs
    * racing a first build could otherwise sweep each other's in-flight
    * generations. The loser polls for the winner's pointer; a lock whose
    * holder crashed (stale mtime, or poll timeout with no commit) is
    * broken and the build retried. */
  private def materialize(spark: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    materializeLaid(spark, dir, name)(Connectors.Layout(build))

  /** [[materialize]] of a laid-out build, written with its file cap. */
  private def materializeLaid(spark: SparkSession, dir: String, name: String)(
      build: => Connectors.Layout): DataFrame = {
    fetchedSet.add(name)
    val path = staged.getOrElseUpdate((fingerprint(dir), name), {
      val td = tablePath(dir, name)
      if (!Connectors.isCommitted(td)) buildLocked(spark, dir, name, td)(build)
      else System.err.println(s"[stage] $name reused (committed)")
      td
    })
    Connectors.readTable(spark, path)
  }

  private val LockStaleMs = 10 * 60 * 1000L // a lock not HEARTBEATEN >10 min has crashed
  private val LockPollMs = 500L
  private val LockWaitMs = 5 * 60 * 1000L
  // heartbeat period; test hook (specs shrink it to observe beats quickly).
  // Staleness is judged on the lock's MTIME, so a live build of any length
  // keeps its lock fresh — without the heartbeat, any build longer than
  // LockStaleMs would have its lock broken mid-build and its in-flight
  // generation swept by the second builder (the commit then aborts on the
  // vanished-generation check in Connectors, but the build is lost).
  @volatile private[graft] var lockBeatMs = 30 * 1000L

  private def buildLocked(spark: SparkSession, dir: String, name: String,
      td: String)(build: => Connectors.Layout): Unit = {
    val lock = java.nio.file.Paths.get(s"$td.building")
    java.nio.file.Files.createDirectories(lock.getParent)
    def tryAcquire(): Boolean =
      try { java.nio.file.Files.createFile(lock); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          // break locks whose holder died (never committed, stopped beating)
          val age = try System.currentTimeMillis() -
            java.nio.file.Files.getLastModifiedTime(lock).toMillis
          catch { case _: Exception => 0L } // lock vanished: retry next poll
          if (age > LockStaleMs) java.nio.file.Files.deleteIfExists(lock)
          false
      }
    val deadline = System.currentTimeMillis() + LockWaitMs
    var done = false
    while (!done) {
      if (Connectors.isCommitted(td)) {
        System.err.println(s"[stage] $name reused (committed by concurrent builder)")
        done = true
      } else if (tryAcquire()) {
        // keep the lock fresh while the build runs: a daemon bumps its
        // mtime every lockBeatMs (≪ LockStaleMs), so only a DEAD holder's
        // lock ever goes stale. If a breaker deleted the lock anyway, the
        // bump throws and the beat stops — the vanished-generation check
        // at commit time is the backstop.
        val beat = new Thread(() =>
          try while (!Thread.interrupted()) {
            Thread.sleep(lockBeatMs)
            java.nio.file.Files.setLastModifiedTime(lock,
              java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
          } catch { case _: InterruptedException | _: java.io.IOException => () },
          s"graft-stage-lock-beat-$name")
        beat.setDaemon(true)
        beat.start()
        try {
          if (!Connectors.isCommitted(td)) { // winner re-checks under the lock
            sweepStaleFixtures(dir)
            val t0 = System.nanoTime()
            Connectors.replaceTable(spark, td, build)
            System.err.println(f"[stage] $name built in ${(System.nanoTime() - t0) / 1e9}%.1f s")
          }
        } finally {
          beat.interrupt()
          java.nio.file.Files.deleteIfExists(lock)
        }
        done = true
      } else if (System.currentTimeMillis() > deadline) {
        // the holder looks alive but never commits — fail loudly rather
        // than risk sweeping its in-flight build
        throw new IllegalStateException(
          s"staging build lock held too long: $lock (holder alive but uncommitted)")
      } else Thread.sleep(LockPollMs)
    }
  }

  /** Superseded corpus versions of the same fixture dir (old fingerprints)
    * are dead weight — sweep them when a new version first builds. */
  private def sweepStaleFixtures(dir: String): Unit = try {
    val root = java.nio.file.Paths.get(warehouseRoot)
    val live = s"${fixtureKey(dir)}-${fingerprint(dir)}"
    if (java.nio.file.Files.isDirectory(root)) {
      val list = java.nio.file.Files.list(root)
      try list.forEach { p =>
        val n = p.getFileName.toString
        if (n.startsWith(s"${fixtureKey(dir)}-") && n != live) {
          val walk = java.nio.file.Files.walk(p)
          try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
          finally walk.close()
        }
      } finally list.close()
    }
  } catch { case _: Exception => () } // best-effort hygiene, never fails a build

  /** The immutable committed data dir behind a staged table — what the
    * incremental catalog references as its zero-copy base member. */
  private[graft] def committedDataDir(dir: String, name: String): Option[String] =
    Connectors.currentDataDir(tablePath(dir, name))

  /** doc_id, lang, n_chars + the distinct 3-shingle set hashed to 60-bit
    * folds (`hs`) — the shared base of ngram_jaccard / minhash /
    * corpus_build. Distinct'd AGAIN after the fold (oracles mirror with
    * `list_distinct`): the inclusion-exclusion Jaccard identity downstream
    * requires duplicate-free arrays, and a fold collision within one
    * document — however improbable — must not be able to break it. */
  def shingleBase(spark: SparkSession, dir: String): DataFrame =
    materialize(spark, dir, "shingle3") {
      graft.functions.GraftFunctions.register(spark)
      Dedup.withShingles(spark, dir)
        .withColumn("hs", array_distinct(transform(col("sh"), s => md5Fold60(s))))
        .drop("sh")
    }

  /** The AllPairs prefix index over the shingle base: for each document its
    * ⌊|hs|/2⌋ + 1 RAREST shingle hashes (ascending document frequency, the
    * PPJoin ordering) — the inverted-index release artifact behind the
    * exact near-dup join (Dedup.ngramJaccard has the lossless-filter
    * argument). One explode + one df aggregate + one per-document window,
    * built once per corpus release like every other table here. */
  def prefixIndex(spark: SparkSession, dir: String): DataFrame =
    materialize(spark, dir, "prefix3") {
      import org.apache.spark.sql.expressions.Window
      val ex = shingleBase(spark, dir).select(col("doc_id"), col("lang"),
        col("n_chars"), size(col("hs")).as("nsh"), explode(col("hs")).as("h"))
      val dfreq = ex.groupBy("h").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id").orderBy(col("df"), col("h"))
      ex.join(dfreq, Seq("h"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= floor(col("nsh") / 2) + 1)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("h"))
    }

  /** doc_id + the 16 XOR-seeded min-hashes (`h0`..`h15`), derived from the
    * staged shingle base — explode + 16 map-side-combined min aggregates
    * (Dedup.sigsOf, the single source of the seeds/shape; see
    * Dedup.minhashDedup for why this beats 16 transform passes). */
  def minhashSigs(spark: SparkSession, dir: String): DataFrame =
    materialize(spark, dir, "minhash_sigs") {
      Dedup.sigsOf(shingleBase(spark, dir).select("doc_id", "hs"))
    }

  /** doc_id + the 64-bit SimHash signature halves (`sim_hi`, `sim_lo`). */
  def simhashSigs(spark: SparkSession, dir: String): DataFrame =
    materialize(spark, dir, "simhash_sigs") {
      Dedup.simhashSignaturesBuild(spark, dir)
    }

  /** (doc_id, h) per distinct NORMALIZED 8-shingle — decontamination
    * granularity. Normalization (lowercase, punctuation-strip) happens here,
    * before hashing: an eval-leak scan that only matches verbatim text
    * misses trivially reformatted leaks (case changes, punctuation drift),
    * so the fold is taken over the canonical form. */
  def shingle8(spark: SparkSession, dir: String): DataFrame =
    materialize(spark, dir, "shingle8") {
      graft.functions.GraftFunctions.register(spark)
      shingle8Of(Tables.fanout(Tables.documents(spark, dir)))
    }

  /** The (doc_id, h) 8-shingle projection over an arbitrary (doc_id, text)
    * frame — shingle8's body, shared with the streaming decontamination
    * gate's per-micro-batch pass: distinct canonical-token shingles, then
    * hash-inside-array + explode. */
  private[graft] def shingle8Of(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        array_distinct(shingles(normTokens(col("text")), 8)).as("sh"))
      .select(col("doc_id"),
        explode(transform(col("sh"), s => md5Fold60(s))).as("h"))

  /** The verified MinHash near-dup decisions (doc_a, doc_b, jaccard) — the
    * dedup pipeline's end product, materialized like production does:
    * near-dup detection runs once per corpus release and every downstream
    * job (corpus_build's loser anti-join) reads the decision table instead
    * of re-running LSH. */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    materialize(spark, dir, "minhash_pairs") {
      Dedup.minhashDedup(spark, dir)
    }

  /** The trained BPE vocabulary (word, f, seq): every distinct corpus word
    * with its final symbol segmentation after the 8 learned merges — the
    * tokenizer-release artifact. Training is vocabulary-bounded work that
    * runs ONCE per corpus release; the encode pass — the half that
    * actually touches 100 TB — reads this table and equi-joins
    * documents against it (the fast-BPE word-memoization shape). Oracles
    * still replay the full train+encode from raw text, so the staged
    * segmentations stay hash-verified end to end. */
  def bpeVocab(spark: SparkSession, dir: String): DataFrame =
    materialize(spark, dir, "bpe_vocab") {
      TextAnalysis.bpeLearn(spark, dir)._2
    }

  /** The BPE encode-output manifest (doc_id, n_ids, ids_head, ids_fp) —
    * the per-document record a tokenized-shard writer lands next to the id
    * arrays themselves. The corpus-scale encode join (the encode query's
    * plan: corpus → word-position explode → staged-vocab equi-join) runs
    * ONCE per corpus release HERE; every derived layout/eval job —
    * sequence packing, the fertility report — reads this docs-sized table
    * instead of re-encoding the corpus (the ANN index's build-once/derive-many
    * precedent applied to tokenizer output; before r14, fertility's 100×
    * probe wall was ~60× for what is logically a docs-sized join plus a
    * 20-row report). Oracles still replay train+encode from raw text, so
    * every staged manifest row stays hash-verified through its consumers. */
  def bpeManifest(spark: SparkSession, dir: String): DataFrame =
    materialize(spark, dir, "bpe_manifest") {
      TextAnalysis.bpeEncode(spark, dir)
    }

  /** The BM25 inverted index (term, df, doc_id, tf, dl, n_docs, avgdl) —
    * the per-term posting rows plus the index-level stats a search needs,
    * built once per corpus release (TextAnalysis.bm25IndexBuild). The
    * ranker reads this with a static In(term, …) pushed
    * filter, so a search touches only its query terms' posting lists. */
  def bm25Index(spark: SparkSession, dir: String): DataFrame =
    materialize(spark, dir, "bm25_index") {
      TextAnalysis.bm25IndexBuild(spark, dir)
    }

  /** The positional phrase index (term, doc_id, pos) — one row per
    * 3- or 2-shingle occurrence with its 1-based token anchor, the index a
    * phrase-retrieval engine serves from (TextAnalysis.phraseIndexBuild).
    * The phrase search reads this with a static In(term, …) pushed filter
    * and verifies phrases index-only via anchor voting. */
  def phraseIndex(spark: SparkSession, dir: String): DataFrame =
    materialize(spark, dir, "phrase_index") {
      TextAnalysis.phraseIndexBuild(spark, dir)
    }

  /** The DSIR smoothed likelihood-ratio table (bucket, ratio) — 4096 rows,
    * kilobytes, the corpus-release curation artifact behind the DSIR
    * weights (TextAnalysis.dsirRatiosBuild). Staging it is what
    * lets the scoring pass STREAM at 100 TB: the census pass runs once per
    * release here; scoring broadcast-joins this table with no
    * corpus-sized persist (the r14 verdict's missing #2). */
  def dsirRatios(spark: SparkSession, dir: String): DataFrame =
    materialize(spark, dir, "dsir_ratios") {
      TextAnalysis.dsirRatiosBuild(spark, dir)
    }

  /** The IVF-Flat index: the corpus stored WITH its coarse-cell assignment
    * (vec_id, v, norm, cell) — what a production ANN deployment builds once
    * per corpus release and every search reads (FAISS's IndexIVFFlat stores
    * exactly this: vectors grouped into inverted lists). Before r12 the
    * searches re-ran the N×√N centroid assignment per query; now that cost
    * is paid once here, and a search is the cell-keyed equi-join alone.
    * Correctness is unchanged by construction: the build is the same
    * deterministic assignment, and the oracles still replay it from raw
    * embeddings.
    *
    * Laid out along the Morton curve of (cell, vec_id) at staging commit
    * (r17 — the s19/s20 layout verb composed with the warehouse that
    * serves searches): the index has TWO access patterns — a serving-path
    * probe reads by CELL (an nprobe-confined scan; FAISS's inverted lists
    * are exactly cell-clustered storage) while the retraction lifecycle
    * (forget/purge/compact) operates by VEC_ID range — and the z-layout
    * makes the files' ordinary per-column min/max stats tight in both
    * dimensions at once, where a 1-dim sort serves one pattern and
    * spreads the other across every file. One range shuffle (a sort's
    * cost) per index RELEASE, written by one task per core into 64 to
    * 64 + cores − 1 z-contiguous files; layout changes bytes touched,
    * never answers — the staged rows are identical, DedupStagingSpec pins
    * the files-touched contrast on both read shapes, and every ANN oracle
    * replays unchanged. The build itself is one map-side pass
    * (Similarity.assignToCells), which the range partitioner's sampling
    * job runs a second time. */
  def ivfCells(spark: SparkSession, dir: String): DataFrame =
    materializeLaid(spark, dir, "ivf_cells") {
      // envelope and row count come from one vec_id-column scan and the
      // memoized corpus count, so no action evaluates the assignment just
      // to size the layout
      Connectors.zlayout(Similarity.ivfIndexBuild(spark, dir),
        "cell", "vec_id", files = 64,
        envOpt = Similarity.ivfLayoutEnvelope(spark, dir))
    }

  /** The Lloyd-refined PQ codebook (c, s, cs) — M·K rows, kilobytes; the
    * training artifact a PQ index ships next to its codes. */
  def pqCodebook(spark: SparkSession, dir: String): DataFrame =
    materialize(spark, dir, "pq_codebook") {
      Similarity.pqCodebookBuild(spark, dir)
    }

  /** The PQ-encoded corpus (vec_id, codes[M]) — the 16-byte/vector
    * compressed index itself, stored in subspace order. Encoding against
    * the refined codebook happens once here; the ADC search reconstructs
    * from these codes instead of re-encoding the corpus per query. */
  def pqCodes(spark: SparkSession, dir: String): DataFrame =
    materialize(spark, dir, "pq_codes") {
      Similarity.pqCodesBuild(spark, dir, pqCodebook(spark, dir))
    }

  /** The Lloyd-refined IVF-PQ codebook trained on cell RESIDUALS — same
    * geometry as pq_codebook, different training input (FAISS trains
    * IndexIVFPQ's product quantizer on residuals for exactly this reason:
    * see Similarity.ivfPqCodebookBuild). */
  def ivfPqCodebook(spark: SparkSession, dir: String): DataFrame =
    materialize(spark, dir, "ivfpq_codebook") {
      Similarity.ivfPqCodebookBuild(spark, dir)
    }

  /** The IVF-PQ inverted-list payload (vec_id, cell, codes[M]) — cell id +
    * 16-byte residual code per vector, the entire search-time corpus
    * footprint of the IVF-PQ search. Z-laid-out on (cell, vec_id) like
    * ivf_cells — it serves the same two access patterns (cell-probed ADC
    * search, vec_id-ranged lifecycle) and shares the same precomputed
    * envelope (cells are centroid ids in both tables). */
  def ivfPqCodes(spark: SparkSession, dir: String): DataFrame =
    materializeLaid(spark, dir, "ivfpq_codes") {
      Connectors.zlayout(
        Similarity.ivfPqCodesBuild(spark, dir, ivfPqCodebook(spark, dir)),
        "cell", "vec_id", files = 64,
        envOpt = Similarity.ivfLayoutEnvelope(spark, dir))
    }

  /** A staged table: the build that materializes it, the staged tables
    * that build reads, whether it belongs to the ANN index release (Bench's
    * `m6_stage_ann`, built from embeddings) or to the text staging area
    * (`m6_stage_base`, built from documents), and the registered entries
    * that fetch it DIRECTLY. A table an entry reaches only through another
    * table's build is a dependency of that table, not a read of the entry.
    * StagingCoverageSpec runs every entry and checks `readers` against the
    * tables it fetched. */
  private[graft] final case class Staged(name: String, deps: Seq[String],
      ann: Boolean, build: (SparkSession, String) => DataFrame,
      readers: Set[String])

  /** Every staged table, in dependency order: a table's deps come before
    * it. The one place that says which entry reads which table. */
  private[graft] val tables: Seq[Staged] = Seq(
    Staged("shingle3", Nil, ann = false, shingleBase, Set(
      "m6_ngram_jaccard", "m6_minhash_dedup", "m6_lsh_eval",
      "m6_incremental_dedup", "m6_incremental_commit", "m6_containment",
      "m6_source_overlap", "m6_dedup_forget", "m6_dedup_purge",
      "m6_dedup_compact", "m4q_stream_dedup_admit",
      "m4s_stream_dedup_forget")),
    Staged("prefix3", Seq("shingle3"), ann = false, prefixIndex, Set(
      "m6_ngram_jaccard", "m6_lsh_eval")),
    Staged("minhash_sigs", Seq("shingle3"), ann = false, minhashSigs, Set(
      "m6_minhash_dedup", "m6_lsh_eval", "m6_incremental_dedup",
      "m6_incremental_commit", "m6_source_overlap", "m6_dedup_forget",
      "m6_dedup_purge", "m6_dedup_compact", "m4q_stream_dedup_admit",
      "m4s_stream_dedup_forget")),
    Staged("simhash_sigs", Nil, ann = false, simhashSigs, Set(
      "m6_simhash_pairs")),
    Staged("shingle8", Nil, ann = false, shingle8, Set(
      "m6_decontaminate", "m6_bloom_decontaminate", "m4t_stream_decon",
      "m6_contamination_score")),
    Staged("minhash_pairs", Seq("shingle3", "minhash_sigs"), ann = false,
      minhashPairs, Set(
      "m6_corpus_build", "m6_dup_clusters", "m6_dup_density",
      "m6_cluster_keep_best", "m6_pagerank")),
    Staged("bpe_vocab", Nil, ann = false, bpeVocab, Set(
      "m6_bpe_encode")),
    Staged("bpe_manifest", Seq("bpe_vocab"), ann = false, bpeManifest, Set(
      "m6_bpe_fertility", "m6_pack_bpe")),
    Staged("bm25_index", Nil, ann = false, bm25Index, Set(
      "m6_bm25_topk", "m6_rrf_fusion", "m6_rrf_fusion_ann",
      "m6_incremental_index", "m6_index_compact", "m6_index_forget",
      "m6_index_purge", "m4p_stream_forget")),
    Staged("phrase_index", Nil, ann = false, phraseIndex, Set(
      "m6_phrase_search")),
    Staged("dsir_ratios", Nil, ann = false, dsirRatios, Set(
      "m6_dsir_weights")),
    Staged("ivf_cells", Nil, ann = true, ivfCells, Set(
      "m6_ann_ivf", "m6_ann_ivf2", "m6_ivf_stats", "m6_ann_ivfpq_rerank",
      "m6_ann_eval", "m6_rrf_fusion_ann", "m6_incremental_ivf",
      "m6_ann_forget", "m6_ann_purge", "m6_ann_compact",
      "m4r_stream_ann_forget")),
    Staged("pq_codebook", Nil, ann = true, pqCodebook, Set(
      "m6_ann_pq")),
    Staged("pq_codes", Seq("pq_codebook"), ann = true, pqCodes, Set(
      "m6_ann_pq")),
    Staged("ivfpq_codebook", Seq("ivf_cells"), ann = true, ivfPqCodebook, Set(
      "m6_ann_ivfpq", "m6_ann_ivfpq_rerank", "m6_ann_eval",
      "m6_rrf_fusion_ann")),
    Staged("ivfpq_codes", Seq("ivf_cells", "ivfpq_codebook"), ann = true,
      ivfPqCodes, Set(
      "m6_ann_ivfpq", "m6_ann_ivfpq_rerank", "m6_ann_eval",
      "m6_rrf_fusion_ann")))

  /** The staged tables of one area (ANN index release when `ann`, text
    * staging otherwise) that `names` read directly, plus everything those
    * tables depend on, in dependency order. No names, no tables. */
  private[graft] def stagingFor(names: Set[String], ann: Boolean): Seq[Staged] = {
    val direct = tables.filter(t => t.ann == ann && t.readers.exists(names))
    // deps come before their dependents, so one pass from the end closes
    val need = tables.foldRight(direct.map(_.name).toSet) { (t, acc) =>
      if (acc(t.name)) acc ++ t.deps else acc
    }
    tables.filter(t => need(t.name))
  }

  /** The staged tables the entry `name` is declared to read directly. */
  private[graft] def readsOf(name: String): Set[String] =
    tables.filter(_.readers(name)).map(_.name).toSet

  /** Run the staged builds as a dependency DAG on concurrent driver
    * threads (guide §2.6: actions are only sequential because driver code
    * calls them sequentially — each staged build underfills the cluster
    * with a few small-shuffle jobs, so a cold multi-table build otherwise
    * serializes idle capacity). Each build starts the moment its declared
    * deps land — the r19 shape ran dependency WAVES with a barrier between
    * them, so e.g. minhash_sigs waited for bm25_index (an unrelated slow
    * wave-1 sibling) before starting, and the cold wall was the sum of
    * per-wave maxima instead of the longest dependency chain. Each build
    * still targets its own table path and lock file, and `materialize`'s
    * memo is a concurrent map. The first failure propagates after all
    * settle; dependents of a failed build fail with it. */
  private def runDag(spark: SparkSession, dir: String,
      builds: Seq[Staged]): Unit =
    if (builds.sizeIs <= 1) builds.foreach(_.build(spark, dir))
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(builds.size)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        // builds are in dependency order, so dep futures exist
        val fs = scala.collection.mutable.Map.empty[String, Future[Unit]]
        builds.foreach { t =>
          fs(t.name) = Future.sequence(t.deps.flatMap(fs.get))
            .map(_ => { t.build(spark, dir); () })
        }
        fs.values.foreach(Await.result(_, Duration.Inf))
      } finally pool.shutdown()
    }

  /** Build the text staging the named queries need — Bench's
    * `m6_stage_base` hook, scoped so a one-query dev loop doesn't pay for
    * the whole staging area (minhashPairs in particular runs the full LSH
    * band-join pipeline). */
  def ensureFor(spark: SparkSession, dir: String, names: Set[String]): Unit =
    runDag(spark, dir, stagingFor(names, ann = false))

  /** Build the ANN index tables the named queries need (Bench's
    * `m6_stage_ann` hook). */
  def ensureAnnFor(spark: SparkSession, dir: String, names: Set[String]): Unit =
    runDag(spark, dir, stagingFor(names, ann = true))

  private def committed(dir: String, ts: Seq[Staged]): Boolean =
    ts.forall(t => Connectors.isCommitted(tablePath(dir, t.name)))

  /** Stage-temperature probe for the ANN index tables. */
  def isAnnStagedFor(dir: String, names: Set[String]): Boolean =
    committed(dir, stagingFor(names, ann = true))

  /** Whether the text staging the named queries need is already committed
    * in the warehouse — Bench's stage-TEMPERATURE probe: the same
    * `m6_stage_base` entry measures ~seconds cold (first build for this
    * corpus version) and ~nothing warm (committed tables reused), and
    * round-over-round totals are only comparable when the artifact says
    * which one it was. */
  def isStagedFor(dir: String, names: Set[String]): Boolean =
    committed(dir, stagingFor(names, ann = false))
}
