package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** Source/sink connector surface (SURVEY.md §2.1): the Kafka producer
  * envelope + explicit partitioner (S2/S3), the batch key-upsert sink with
  * its sync watermark (S8/S9), and the partitioned/coalesced table writer
  * (S12).
  *
  * No Kafka broker or RDBMS exists in this environment, so the *transport*
  * ends at the serialized envelope / the parquet target dir — but everything
  * the engine owns is real: serialization, key partitioning, merge semantics,
  * watermark bookkeeping, partition layout. Swapping the final hop for
  * `.format("kafka")` / a JDBC `foreachPartition` writer changes no plan.
  */
object Connectors {

  /** Ceiling on the distinct partition values one merge batch may touch.
    * The merge commit collects that list to the driver to prune the
    * snapshot read and write the manifest — legitimate at partition
    * cardinality (days, hours, tenants), pathological at row cardinality.
    * 100k values ≈ 274 years of day-partitions: far above any real layout,
    * far below driver-OOM territory. */
  val MaxTouchedPartitions = 100000

  // ---- S2/S3: producer envelope + explicit partitioner ---------------------

  /** S2+S3: the Kafka producer's record envelope (reference
    * data_generator/producer.py:171-224): key = sensor id, value = the JSON
    * document, partition = stable function of the key so each sensor's
    * readings stay ordered within one partition (producer.py:227-243).
    *
    * `write.format("kafka")` takes exactly this (key, value, partition)
    * shape; the serialization below is the engine's contract. Numeric
    * `value` is serialized via the double→shortest-round-trip-string rule
    * that Spark and DuckDB share, keeping the envelope byte-identical and
    * oracle-able. Rows that fail the producer-side gate (V9) are not
    * serialized, matching the reference's pre-send validation. */
  def kafkaEnvelope(spark: SparkSession, dir: String): DataFrame =
    Validation.producerGate(spark, dir)
      .select(
        col("user_id").cast("string").as("key"),
        to_json(struct(
          col("event_id"),
          col("user_id"),
          col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
          col("value").cast("string").as("value"))).as("value"),
        pmod(col("user_id"), lit(3)).cast("int").as("kafka_partition"))

  // ---- S1/S4: Kafka consumer source + envelope parse -----------------------

  /** S1: the Kafka stream source with the reference's exact option surface
    * (streaming_job.py:205-230 — including the rate limit the reference
    * misspells into a no-op; here it is the real option). The connector jar
    * (`spark-sql-kafka-0-10`) ships with a Kafka deployment; it is absent
    * from this zero-egress environment (not in /opt/spark/jars nor the
    * offline dependency cache), and without it even `.load()` fails at
    * DataSource resolution — so a plan-level analysis test is not possible
    * here, and the builder is exercised end-to-end via `parseEnvelope` over
    * wire-shaped frames instead (s1_kafka_roundtrip), which covers
    * everything the engine owns. */
  def kafkaSource(spark: SparkSession, topic: String, servers: String): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", "latest")
      .option("failOnDataLoss", "false")
      .option("maxOffsetsPerTrigger", "10000")
      .load()

  /** S4+P1+P2: consumer-side envelope parse — schema-on-read `from_json`
    * over the Kafka wire schema (binary key/value), struct flatten, typed
    * re-parse of the serialized fields (streaming_job.py:233-271). Works
    * identically on the streaming source and on any wire-shaped batch
    * frame; malformed JSON nulls out (permissive mode), to be dropped by
    * the P4 null filters downstream. */
  def parseEnvelope(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val wire = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts", StringType),
      StructField("value", StringType)))
    df.select(
        col("key").cast("string").as("kafka_key"),
        from_json(col("value").cast("string"), wire).as("data"))
      .select(col("kafka_key"), col("data.*"))
      .withColumn("ts", to_timestamp(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .withColumn("value", col("value").cast("double"))
  }

  /** S1/S4 registered check: serialize → wire bytes → parse must reproduce
    * the gated source rows (timestamps at the envelope's second precision).
    * This is the producer/consumer contract the reference runs across a
    * broker, minus the broker. */
  def kafkaRoundtrip(spark: SparkSession, dir: String): DataFrame =
    parseEnvelope(
      kafkaEnvelope(spark, dir).select(
        col("key").cast("binary").as("key"),
        col("value").cast("binary").as("value")))

  // ---- S8: batch key-upsert sink (MERGE INTO over a parquet target) --------

  /** MERGE semantics over a parquet target dir: read the current snapshot,
    * full-outer join with `updates` on `keys` (updates win, snapshot fills
    * the gaps), rewrite. This is the engine's analog of the reference's
    * `INSERT ... ON CONFLICT (keys) DO UPDATE` batch sink
    * (mongo_to_postgres_sync.py:315-418) — and mechanically what a
    * copy-on-write Delta/Iceberg MERGE does: the join and rewrite are
    * distributed; only metadata bookkeeping is driver-side.
    *
    * Both layouts commit through the SAME atomic-pointer protocol (see the
    * snapshot-pointer section below): data lands in a fresh hidden `_gen-*`
    * dir, then one `_CURRENT` rename makes it live. No reader ever sees a
    * mixed old/new snapshot, and a crash at any point leaves the previous
    * snapshot fully readable (ConnectorsSpec walks every crash point on
    * both paths).
    *
    *   - `partitionCol = Some(p)` (p ∈ keys): the 100 TB path. The update
    *     batch's partition values are collected driver-side — a
    *     metadata-sized list, the same thing a table format reads from its
    *     manifest — the snapshot is read partition-PRUNED to those values,
    *     the merged slice is written (only the touched partitions — the
    *     copy-on-write unit) into a new generation dir, and the commit
    *     writes a MANIFEST mapping every live partition to the generation
    *     dir that holds it: touched partitions point at the new generation,
    *     untouched ones keep their old entries (their files are never read,
    *     never rewritten — byte-identity asserted in ConnectorsSpec). The
    *     pointer flip publishes the whole mapping at once.
    *   - `None`: unpartitioned small-table fallback — full rewrite into the
    *     next generation dir; the pointer names the dir itself. */
  def mergeInto(spark: SparkSession, targetDir: String, updates0: DataFrame,
      keys: Seq[String], partitionCol: Option[String] = None): Unit = {
    // the updates plan feeds the touched-partition collect AND the merge
    // join; persist so an expensive upstream (a full aggregation in
    // upsertSink's case) runs once
    val updates = updates0.persist()
    try {
      val current = readTable(spark, targetDir)
      val dataCols = current.columns.filterNot(keys.contains)
      val u = updates.columns.foldLeft(updates)((d, c) => d.withColumnRenamed(c, s"u_$c"))
      val joinCond = keys.map(k => col(k) <=> col(s"u_$k")).reduce(_ && _)
      def merged(snapshot: DataFrame): DataFrame = snapshot.join(u, joinCond, "full_outer")
        .select(
          keys.map(k => coalesce(col(s"u_$k"), col(k)).as(k)) ++
          dataCols.map(c => coalesce(col(s"u_$c"), col(c)).as(c)): _*)
      partitionCol match {
        case Some(p) =>
          require(keys.contains(p), s"partition column $p must be a merge key")
          // the touched-partition list is metadata-scale (same class as a
          // table format's commit path) and is the ONLY driver
          // materialization in the merge — cap it so a pathological update
          // set (e.g. a per-row-unique "partition" column) fails fast with
          // a diagnosis instead of OOMing the driver. limit(cap+1) bounds
          // the collect itself; the require distinguishes overflow from use.
          val cap = MaxTouchedPartitions
          val touched0 = updates.select(col(p)).distinct().limit(cap + 1).collect()
          require(touched0.length <= cap,
            s"mergeInto: update batch touches > $cap distinct '$p' partitions — " +
              "that is row-scale, not partition-scale; repartition the table " +
              "on a coarser column or merge unpartitioned")
          val touched = touched0.map(_.get(0))
          // empty incremental batch: nothing to merge, target untouched
          if (touched.isEmpty) return
          val vals = touched.filterNot(_ == null)
          val pruned = Seq(
            Option.when(vals.nonEmpty)(col(p).isin(vals: _*)),
            Option.when(touched.contains(null))(col(p).isNull))
            .flatten.reduce(_ || _)
          val prev = currentRef(targetDir)
          // a partitioned merge only preserves what it can re-point: the
          // current snapshot must be FRAGMENT-MAPPED (flat partitioned
          // layout, a partition-laid-out generation, or a partition
          // manifest). An unpartitioned generation or plain append members
          // would be silently dropped from the new manifest — reject that
          // combination instead of losing rows.
          require(isFragmentMapped(targetDir),
            s"$targetDir: current snapshot is not partition-mapped " +
              "(unpartitioned or append-member layout) — partitioned " +
              "mergeInto would drop it; compact(partitionCol = Some(...)) first")
          val gen = newGenName()
          // the merged slice goes straight into its own generation dir —
          // never an in-place overwrite, so there is no read-vs-write
          // conflict and no window where the target holds partial output
          val slice = merged(current.filter(pruned))
          slice.write.partitionBy(p).parquet(s"$targetDir/$gen")
          // fragments actually written (day=..., incl. the null-partition
          // dir) — listed once, driver-side metadata
          val newFrags = listFragments(Paths.get(targetDir, gen))
          requireGenAlive(targetDir, gen)
          val mapping = currentMapping(targetDir) ++ newFrags.map(_ -> gen)
          commitManifest(targetDir,
            mapping.toSeq.sorted.map { case (frag, d) => d -> Some(frag) })
          // every new fragment maps to `gen`: readSnapshot reads exactly
          // these, sorted, under `gen` as base path
          Tables.seedSchema(spark, slice.schema, Some(p),
            newFrags.sorted.map(f => s"$targetDir/$gen/$f"), Some(s"$targetDir/$gen"))
          sweepStale(targetDir, prev)
        case None =>
          val prev = currentRef(targetDir)
          val gen = newGenName()
          val all = merged(current)
          all.write.parquet(s"$targetDir/$gen")
          requireGenAlive(targetDir, gen)
          commitPointer(targetDir, gen)
          seedGeneration(spark, targetDir, gen, all)
          sweepStale(targetDir, prev)
      }
    } finally updates.unpersist()
  }

  /** Append-only commit through the same protocol: write `rows` as a new
    * generation dir and publish a manifest whose member list is the current
    * snapshot's members plus the new one — the log-structured append every
    * table format models as "add files, flip snapshot". O(increment): no
    * existing member is read or rewritten. Used by the incremental staging
    * catalog (DedupStaging) to admit new corpus batches. */
  def appendTo(spark: SparkSession, targetDir: String, rows: DataFrame): Unit = {
    Files.createDirectories(Paths.get(targetDir))
    val prev = currentRef(targetDir)
    val gen = newGenName()
    rows.write.parquet(s"$targetDir/$gen")
    requireGenAlive(targetDir, gen)
    val members = currentMembers(targetDir) :+ (gen -> None)
    commitManifest(targetDir, members)
    seedGeneration(spark, targetDir, gen, rows)
    sweepStale(targetDir, prev)
  }

  /** Generation file count for an admitted batch: ~`rowsPerFile` rows per
    * file, clamped to [1, 32] (the session's parallelism). Both extremes
    * are measured failure modes: `coalesce(1)` serializes a large batch's
    * generation write through ONE task (the r15 100× probe recorded 79 s —
    * the whole query's cost — on a multi-million-row posting generation),
    * while one-file-per-shuffle-partition litters the catalog with tiny
    * files at test scale. Callers pass the batch's row count (or a cheap
    * upper bound); the clamp keeps the write parallel when the batch is
    * big and single-file when it isn't. */
  def deltaFiles(batchRows: Long, rowsPerFile: Long = 5000L): Int =
    math.max(1L, math.min(32L, batchRows / rowsPerFile)).toInt

  /** Per-invocation scratch root for an incremental-admission catalog (the
    * PROTOCOL under test is what persists — released tables live in the
    * warehouse); swept on JVM exit so repeated bench/verify runs don't
    * accumulate appended generations in /tmp. */
  def scratchCatalog(prefix: String): String = {
    val catDir = Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        val walk = Files.walk(catDir)
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => Files.deleteIfExists(f))
        finally walk.close()
      } catch { case _: Exception => () }))
    catDir.toString
  }

  /** Idempotent append keyed by a COMMIT KEY — the exactly-once contract a
    * streaming foreachBatch sink needs: a retried micro-batch re-enters
    * with the same batchId and must not double-admit its rows. The key is
    * embedded in the generation name; an append whose key is already a
    * committed member is a no-op, and a half-written generation from a
    * crashed earlier attempt (never committed, so never read) is simply
    * overwritten by the retry before the one atomic pointer flip. */
  def appendKeyed(spark: SparkSession, targetDir: String, rows: DataFrame,
      key: String): Unit = {
    require(key.matches("[A-Za-z0-9._-]+"), s"unsafe commit key: '$key'")
    Files.createDirectories(Paths.get(targetDir))
    val gen = s"_gen-k-$key"
    if (!currentMembers(targetDir).exists(_._1 == gen)) {
      val prev = currentRef(targetDir)
      rows.write.mode("overwrite").parquet(s"$targetDir/$gen")
      requireGenAlive(targetDir, gen)
      commitManifest(targetDir, currentMembers(targetDir) :+ (gen -> None))
      seedGeneration(spark, targetDir, gen, rows)
      sweepStale(targetDir, prev)
    }
  }

  /** Append an EXTERNAL member — an absolute dir the table references
    * without copying (how table formats point at existing data files when a
    * table is created over them). O(1): commits metadata only. The referenced
    * dir must be immutable for the table's lifetime — reference a committed
    * generation dir, never a mutable root. */
  def appendMemberRef(spark: SparkSession, targetDir: String, memberDir: String): Unit = {
    require(memberDir.startsWith("/"), s"member ref must be absolute: $memberDir")
    Files.createDirectories(Paths.get(targetDir))
    val prev = currentRef(targetDir)
    commitManifest(targetDir, currentMembers(targetDir) :+ (memberDir -> None))
    sweepStale(targetDir, prev)
  }

  /** Publish `rows` as the complete new snapshot of `targetDir` (create or
    * replace) through the pointer protocol — the staging catalog's
    * build-once commit. Crash-safe like every other commit here: until the
    * pointer flips, readers see the previous snapshot (or no table). */
  def replaceTable(spark: SparkSession, targetDir: String, rows: DataFrame): Unit =
    replaceTable(spark, targetDir, Layout(rows))

  /** [[replaceTable]] of a laid-out frame, written with its file cap. */
  def replaceTable(spark: SparkSession, targetDir: String, laid: Layout): Unit = {
    Files.createDirectories(Paths.get(targetDir))
    val prev = currentRef(targetDir)
    val gen = newGenName()
    laid.write.parquet(s"$targetDir/$gen")
    requireGenAlive(targetDir, gen)
    commitPointer(targetDir, gen)
    seedGeneration(spark, targetDir, gen, laid.rows)
    sweepStale(targetDir, prev)
  }

  /** Seed the reader's schema memo (`Tables.seedSchema`) with generation
    * `gen` of `targetDir`, just committed from `rows`, as a whole-dir read
    * — the read every snapshot naming `gen` makes of it. */
  private def seedGeneration(spark: SparkSession, targetDir: String,
      gen: String, rows: DataFrame, partitionCol: Option[String] = None): Unit =
    Tables.seedSchema(spark, rows.schema, partitionCol, Seq(s"$targetDir/$gen"))

  /** Commit-time backstop against a concurrent writer that broke this
    * writer's build lock (believing it dead) and swept its in-flight
    * generation: committing a pointer to the vanished dir would publish an
    * unreadable — or worse, silently partial — snapshot. Abort instead;
    * the surviving writer's commit is the valid one. */
  private def requireGenAlive(targetDir: String, gen: String): Unit =
    if (!Files.isDirectory(Paths.get(targetDir, gen)))
      throw new IllegalStateException(
        s"generation $gen of $targetDir vanished before commit — a concurrent " +
          "writer broke this builder's lock and swept it; aborting the commit")

  /** OPTIMIZE: rewrite the current snapshot into ONE fresh generation and
    * flip the pointer — the small-file compaction every log-structured
    * table needs once appends accumulate members. Readers never block: the
    * rewrite lands beside the live data, the commit is the usual single
    * rename, and superseded members (and any external refs) survive the
    * one-commit retention window. With `partitionCol` the generation is
    * written partition-laid-out and the pointer names the dir itself —
    * partition discovery serves reads and the next partitioned merge picks
    * the fragments up from `currentMapping` unchanged. */
  def compact(spark: SparkSession, targetDir: String,
      partitionCol: Option[String] = None): Unit = {
    val prev = currentRef(targetDir)
    val gen = newGenName()
    val snapshot = readTable(spark, targetDir)
    partitionCol match {
      case Some(p) => snapshot.write.partitionBy(p).parquet(s"$targetDir/$gen")
      case None    => snapshot.write.parquet(s"$targetDir/$gen")
    }
    requireGenAlive(targetDir, gen)
    commitPointer(targetDir, gen)
    seedGeneration(spark, targetDir, gen, snapshot, partitionCol)
    sweepStale(targetDir, prev)
  }

  /** OPTIMIZE ZORDER BY — the compact rewrite with the Morton-curve layout:
    * the live snapshot is rewritten into ONE owned generation whose files
    * each cover a narrow rectangle in BOTH clustering dimensions (zvalue of
    * the two columns' 16-bit envelope bins, range-partitioned and sorted),
    * committed behind the same atomic pointer flip with the same one-commit
    * retention. Same bytes-level contract as compact — the layout verb must
    * never change an answer — plus the s19 clustering payoff: after the
    * rewrite, ordinary per-column min/max stats prune 2-dim box predicates.
    * This is the maintenance shape at 100 TB: ingest appends land in arrival
    * order (fast, unclustered), and the curve layout is restored by the
    * periodic OPTIMIZE instead of being paid on the write path. */
  def compactZorder(spark: SparkSession, targetDir: String,
      xCol: String, yCol: String, files: Int): Unit = {
    val prev = currentRef(targetDir)
    val gen = newGenName()
    val laid = zlayout(readTable(spark, targetDir), xCol, yCol, files)
    laid.write.parquet(s"$targetDir/$gen")
    requireGenAlive(targetDir, gen)
    commitPointer(targetDir, gen)
    seedGeneration(spark, targetDir, gen, laid.rows)
    sweepStale(targetDir, prev)
  }

  /** Run independent TABLE commits from concurrent driver threads (guide
    * §2.6 — each rewrite is a few small jobs that underfill the session,
    * and actions are only sequential because driver code calls them
    * sequentially). Callers must pass commits against DIFFERENT tables:
    * the protocol is single-writer per table, and that contract is
    * per-table, not global. Propagates the first failure after all
    * submitted commits settle. */
  private[graft] def commitInParallel(jobs: Seq[() => Unit]): Unit =
    if (jobs.sizeIs <= 1) jobs.foreach(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(jobs.size)
      try jobs.map(j => pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = j()
        })).foreach(_.get())
      finally pool.shutdown()
    }

  /** Whether a commit ever published this table (readable via the pointer). */
  def isCommitted(targetDir: String): Boolean = currentRef(targetDir).isDefined

  /** The current snapshot's member data dirs (absolute), for an incremental
    * reader that pins a member set once and later reads ONLY generations
    * appended since (the m4q micro-batch loop: the release part is derived
    * once and persisted, each batch bands only the delta members). Whole-dir
    * append layouts only — a fragment-mapped (partition-merged) snapshot has
    * no per-member read that preserves row ownership, so fail loudly. */
  private[graft] def memberDataDirs(targetDir: String): Seq[String] =
    currentMembers(targetDir).map { case (relDir, frag) =>
      require(frag.isEmpty,
        s"memberDataDirs: fragment-mapped member $relDir of $targetDir")
      if (relDir == ".") targetDir
      else if (relDir.startsWith("/")) relDir
      else s"$targetDir/$relDir"
    }

  /** The immutable data dir behind a single-generation table (replaceTable
    * output) — the thing an external member ref may safely point at. */
  private[operators] def currentDataDir(targetDir: String): Option[String] =
    currentRef(targetDir).filterNot(_.startsWith("_manifest-"))
      .map(gen => s"$targetDir/$gen")

  // ---- snapshot-pointer protocol ------------------------------------------
  //
  // `_CURRENT` at the table root is the ONLY thing a reader trusts; it is
  // committed by staging `_CURRENT.tmp` and atomically renaming over
  // `_CURRENT` — the single-file atomic-commit discipline every table
  // format's metadata pointer uses. Its contents name the live snapshot:
  //
  //   - `_gen-<ts>`       → that subdir IS the snapshot (full-rewrite path);
  //   - `_manifest-<ts>`  → a metadata file whose lines are the snapshot's
  //     MEMBERS, `relDir` (read the whole dir) or `relDir\tfragment` (read
  //     only partition dir `fragment` inside `relDir`, with `relDir` as the
  //     discovery base path). A partitioned merge publishes one line per
  //     live partition; an append publishes one line per member dir.
  //   - no `_CURRENT`     → the root's own files are the snapshot
  //     (pre-protocol layout, partitioned or flat — generation zero).
  //
  // Every protocol artifact is underscore-prefixed on purpose: Spark's file
  // listing skips hidden (`_`/`.`) paths, so a crashed merge's orphan
  // generation or half-written manifest is structurally invisible to any
  // plain parquet read of a pre-protocol table's root — not just
  // unreferenced, unlistable.
  //
  // Concurrency contract: ONE WRITER per table (the reference's sync loop
  // is single-writer too — mongo_to_postgres_sync.py runs one scheduled
  // sync); readers are unlimited and never block. Two concurrent writers
  // would last-commit-win at the pointer rename without corruption, but
  // the loser's update would be silently superseded — multi-writer needs
  // optimistic concurrency (re-read the pointer after commit, retry on
  // mismatch), which is exactly what table formats layer on this same
  // rename primitive.

  private def newGenName(): String = s"_gen-${System.nanoTime()}"

  /** Read the committed snapshot of a merge/append target. */
  def readTable(spark: SparkSession, targetDir: String): DataFrame =
    currentRef(targetDir) match {
      case None => Tables.parquet(spark, targetDir)
      case Some(ref) => readSnapshot(spark, targetDir, ref)
    }

  /** The current snapshot's ref — the thing a reader pins to time-travel
    * back to this exact state later (the snapshot id every table format's
    * AS OF read takes). Capture it BEFORE the next commit: retention is
    * one commit window (sweepStale), exactly like a table format's
    * VACUUM horizon. */
  def currentSnapshot(targetDir: String): Option[String] = currentRef(targetDir)

  /** Time travel: read a RETAINED snapshot by its captured ref — the
    * `SELECT ... VERSION AS OF` production shape. The named snapshot is
    * immutable once committed (generations and manifests are never edited,
    * only superseded), so this read serves exactly the bytes the snapshot
    * served when it was current; refs older than the one-commit retention
    * window have been swept and fail loudly at read. */
  def readTableAsOf(spark: SparkSession, targetDir: String,
      ref: String): DataFrame = {
    require(Files.exists(Paths.get(targetDir, ref)),
      s"snapshot $ref of $targetDir is not retained (swept past the " +
        "one-commit retention window, or never committed)")
    readSnapshot(spark, targetDir, ref)
  }

  private def readSnapshot(spark: SparkSession, targetDir: String,
      ref: String): DataFrame =
    ref match {
      case gen if !gen.startsWith("_manifest-") =>
        Tables.memberDirs(spark, s"$targetDir/$gen")
      case m =>
        val members = readManifest(Paths.get(targetDir, m))
        val reads = members.groupBy(_._1).toSeq.sortBy(_._1).map {
          case (relDir, entries) =>
            val base =
              if (relDir == ".") targetDir
              else if (relDir.startsWith("/")) relDir // external member ref
              else s"$targetDir/$relDir"
            val frags = entries.flatMap(_._2)
            // a member dir must be ALL-fragment or ALL-whole-dir: mixed
            // entries would silently read only the fragments and drop the
            // whole-dir member's rows. No writer here produces the mix
            // (isFragmentMapped guards mergeInto) — this rejects a
            // hand-edited or future-writer manifest loudly instead of
            // losing data.
            if (frags.nonEmpty && frags.length != entries.length)
              throw new IllegalStateException(
                s"manifest $m of $targetDir mixes whole-dir and " +
                  s"fragment entries for member $relDir — refusing a read " +
                  "that would drop the whole-dir member's rows")
            if (frags.isEmpty) Tables.memberDirs(spark, base)
            else Tables.parquetFragments(spark, base, frags.sorted.map(f => s"$base/$f"))
        }
        // allowMissingColumns: members appended after a schema widened (or
        // external refs with extra columns) read as null in the gap — the
        // additive schema evolution every table format permits
        reads.reduce(_.unionByName(_, allowMissingColumns = true))
    }

  /** The pointer's contents, if a commit ever happened. */
  private def currentRef(targetDir: String): Option[String] = {
    val cur = Paths.get(targetDir, "_CURRENT")
    if (Files.exists(cur)) Some(Files.readString(cur).trim) else None
  }

  /** Whether the current snapshot can be expressed as (partition fragment →
    * dir) entries without loss — the precondition of a partitioned merge. */
  private def isFragmentMapped(targetDir: String): Boolean =
    currentRef(targetDir) match {
      case Some(m) if m.startsWith("_manifest-") =>
        readManifest(Paths.get(targetDir, m)).forall(_._2.isDefined)
      case Some(gen) =>
        // a generation is mappable iff its data lives in k=v dirs (or it
        // is empty); loose files at its root would be dropped
        listVisible(Paths.get(targetDir, gen)).forall(p =>
          Files.isDirectory(p) && p.getFileName.toString.contains("="))
      case None =>
        listVisible(Paths.get(targetDir)).forall(p =>
          Files.isDirectory(p) && p.getFileName.toString.contains("="))
    }

  /** The live (partition fragment → member dir) mapping of a partitioned
    * target: manifest lines if committed, else the pre-protocol root layout
    * (each `k=v` dir is its own member, owned by the root, relDir "."). */
  private def currentMapping(targetDir: String): Map[String, String] =
    currentRef(targetDir) match {
      case Some(m) if m.startsWith("_manifest-") =>
        readManifest(Paths.get(targetDir, m))
          .collect { case (d, Some(f)) => f -> d }.toMap
      case Some(gen) => listFragments(Paths.get(targetDir, gen)).map(_ -> gen).toMap
      case None => listFragments(Paths.get(targetDir)).map(_ -> ".").toMap
    }

  /** The live member list of an append target (order preserved). */
  private def currentMembers(targetDir: String): Seq[(String, Option[String])] =
    currentRef(targetDir) match {
      case Some(m) if m.startsWith("_manifest-") => readManifest(Paths.get(targetDir, m))
      case Some(gen) => Seq(gen -> None)
      case None =>
        // pre-protocol root data (if any) is member zero
        if (listVisible(Paths.get(targetDir)).nonEmpty) Seq("." -> None) else Seq.empty
    }

  private def readManifest(path: Path): Seq[(String, Option[String])] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(path).asScala.toSeq
      .filter(_.nonEmpty).map { line =>
        line.split('\t') match {
          case Array(d)    => d -> None
          case Array(d, f) => d -> Some(f)
          case _ => throw new IllegalStateException(
            s"malformed manifest line in $path: '$line' (expected " +
              "'relDir' or 'relDir<TAB>fragment')")
        }
      }
  }

  /** Visible (non-protocol) entries at a dir — pre-protocol data files or
    * `k=v` partition dirs. */
  private def listVisible(dir: Path): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val list = Files.list(dir)
      val all = try list.iterator().asScala.toSeq finally list.close()
      all.filterNot { p =>
        val n = p.getFileName.toString
        n.startsWith("_") || n.startsWith(".")
      }
    }
  }

  /** The `k=v` partition dir names directly under `dir`. */
  private def listFragments(dir: Path): Seq[String] =
    listVisible(dir).filter(Files.isDirectory(_))
      .map(_.getFileName.toString).filter(_.contains("="))

  /** The atomic commit: stage the pointer contents, rename over `_CURRENT`.
    * Readers see the old snapshot until this rename and the new one after
    * it — never neither, never a mix. */
  private def commitPointer(targetDir: String, ref: String): Unit = {
    val tmp = Paths.get(targetDir, "_CURRENT.tmp")
    Files.writeString(tmp, ref)
    Files.move(tmp, Paths.get(targetDir, "_CURRENT"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Write a manifest file and commit the pointer to it. The manifest itself
    * is immutable once named — the pointer flip is the only mutation a
    * reader can observe. */
  private def commitManifest(targetDir: String,
      members: Seq[(String, Option[String])]): Unit = {
    val name = s"_manifest-${System.nanoTime()}"
    val lines = members.map {
      case (d, Some(f)) => s"$d\t$f"
      case (d, None)    => d
    }
    Files.writeString(Paths.get(targetDir, name), lines.mkString("\n"))
    commitPointer(targetDir, name)
  }

  /** Post-commit sweep with a ONE-COMMIT retention window: everything the
    * pointer referenced just before this commit survives until the next
    * one, so a reader that resolved `_CURRENT` moments before the flip can
    * still finish scanning its snapshot (pointer-resolve and file-read are
    * not atomic — the same reason table formats retain superseded
    * snapshots). Orphan generations/manifests from crashed commits and
    * members older than the window are deleted — including pre-protocol
    * flat data (and individual flat partition dirs) once no retained
    * snapshot references them. Best-effort by design: anything missed is
    * swept by a later commit; readers only follow the pointer. */
  private def sweepStale(targetDir: String, prevRef: Option[String]): Unit = {
    val root = Paths.get(targetDir)
    def refs(r: Option[String]): Seq[(String, Option[String])] = r match {
      case None => Seq("." -> None) // pre-protocol root was the snapshot
      case Some(m) if m.startsWith("_manifest-") =>
        (m -> None) +: readManifest(Paths.get(root.toString, m))
      case Some(gen) => Seq(gen -> None)
    }
    val live = refs(currentRef(targetDir)) ++ refs(prevRef)
    val liveDirs = live.map(_._1).toSet
    // flat partition dirs still referenced through a "." mapping entry
    val liveRootFrags = live.collect { case (".", Some(f)) => f }.toSet
    val keepRootData = live.exists { case (d, f) => d == "." && f.isEmpty }
    val list = Files.list(root)
    try list.forEach { p =>
      val name = p.getFileName.toString
      val isProtocol = name == "_CURRENT" || name == "_CURRENT.tmp"
      val isGen = name.startsWith("_gen-") || name.startsWith("_manifest-")
      val stale =
        if (isProtocol) false
        else if (isGen) !liveDirs.contains(name)
        else if (Files.isDirectory(p) && name.contains("="))
          !keepRootData && !liveRootFrags.contains(name)
        else !keepRootData
      if (stale) deleteRecursively(p)
    } finally list.close()
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally walk.close()
    }

  private val SyncCutoff = "2024-01-21 12:00:00"

  private def dailyTotals(df: DataFrame): DataFrame =
    df.groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(Exact.rnd(Exact.sumD("value"), 2).as("total_value"),
        count(lit(1)).as("cnt"))

  /** S8: initial load + incremental upsert through the merge sink, served
    * back from the target. The target is day-partitioned (the S12 layout),
    * so the merge takes the partition-pruned path: only the boundary day and
    * the new days are read and rewritten; the old days' files are untouched
    * (ConnectorsSpec). The mid-day cutoff makes the boundary day exist in
    * both batches, so the merge exercises all three actions: unchanged (old
    * days), updated (boundary day — the incremental batch's version wins,
    * the reference's re-sync overwrite), inserted (new days). */
  def upsertSink(spark: SparkSession, dir: String): DataFrame = {
    val target = Files.createTempDirectory("graft-upsert-target-").toString
    // cutoffs bound the raw scan column → pushed scans per batch
    val events = Tables.eventsWithRawTs(spark, dir)
    val cutoffN = graft.Tables.rawTs(SyncCutoff)
    // route each day's rows to one task before the partitioned write (the
    // catalogBootstrap pattern, guide §6 small-files): a 32-task aggregate
    // fanned out to ~21 day dirs otherwise writes task×day tiny files that
    // every later read (the merge's pruned scan, the served read-back) pays
    // to list and open
    dailyTotals(events.filter(col("ts_raw") < lit(cutoffN)))
      .repartition(col("day"))
      .write.partitionBy("day").mode("overwrite").parquet(target)
    mergeInto(spark, target,
      dailyTotals(events.filter(col("ts_raw") >= lit(cutoffN))),
      Seq("user_id", "day"), partitionCol = Some("day"))
    // read back through the pointer protocol: after the merge the root's
    // superseded flat boundary-day dir is retained for one commit window,
    // so only the manifest names the true live snapshot
    readTable(spark, target)
      .select(col("user_id"), col("day"), col("total_value"), col("cnt"))
  }

  /** S16: append → OPTIMIZE → pointer read-back — the full log-structured
    * table lifecycle under the oracle gate (previously only ConnectorsSpec
    * exercised compact): three midnight-disjoint daily-total batches land
    * as three appended members, `compact` rewrites the snapshot into one
    * fresh generation behind the same atomic pointer flip, and the served
    * result must equal the one-shot aggregation of the whole table — the
    * OPTIMIZE rewrite is correct only if it is byte-equivalent to never
    * having fragmented at all. Each batch's time bound rides the raw scan
    * column (pushed row-group pruning per batch). */
  def compactRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val target = Files.createTempDirectory("graft-compact-target-").toString
    val events = Tables.eventsWithRawTs(spark, dir)
    // The oracle aggregates the WHOLE table in one shot, so the three
    // batches must partition every row: cutoffs land on day boundaries
    // (no (user_id, day) group may span two batches) and the last batch
    // sweeps null timestamps (they group under a null day on both sides).
    // A misaligned cutoff would surface as a confusing hash mismatch —
    // fail loudly here instead.
    val (cut1, cut2) = ("2024-01-11 00:00:00", "2024-01-21 00:00:00")
    Seq(cut1, cut2).foreach { c =>
      require(c.endsWith(" 00:00:00"),
        s"compactRoundtrip cutoff '$c' is not midnight-aligned: a (user_id, day) " +
          "group would span two appended batches and double-count after compact")
    }
    val c1 = lit(Tables.rawTs(cut1))
    val c2 = lit(Tables.rawTs(cut2))
    appendTo(spark, target,
      dailyTotals(events.filter(col("ts_raw") < c1)).coalesce(1))
    appendTo(spark, target,
      dailyTotals(events.filter(col("ts_raw") >= c1 && col("ts_raw") < c2)).coalesce(1))
    appendTo(spark, target,
      dailyTotals(events.filter(col("ts_raw") >= c2 || col("ts_raw").isNull)).coalesce(1))
    compact(spark, target)
    readTable(spark, target)
      .select(col("user_id"), col("day"), col("total_value"), col("cnt"))
  }

  /** S17: additive schema evolution — the ADD COLUMN every long-lived table
    * undergoes: v1 batches land as (user_id, day, total_value); the
    * pipeline is upgraded and v2 batches land with an added `cnt` column;
    * a mergeSchema read reconciles both generations, surfacing cnt = NULL
    * on v1 history. At 100 TB the alternative — rewriting every historical
    * file on a schema change — is a full-corpus write; additive
    * merge-on-read is the production move (the same contract Delta/Iceberg
    * schema evolution provides; parquet footers carry per-file schemas and
    * the scan unions them, so old files are read untouched). Two pinned
    * footguns: `mergeSchema` is OFF by default — a plain read silently
    * adopts a single file's schema and either drops `cnt` or drops v1
    * rows' columns depending on file order; and the evolution must be
    * ADDITIVE-NULLABLE only (a type change or a dropped column is a
    * rewrite, not an evolution). The cutoff is day-aligned (s16
    * precedent) so each (user_id, day) group lives wholly in one
    * generation, and the v2 filter sweeps null timestamps so the two
    * generations partition every row — the oracle rebuilds both
    * generations and UNION ALLs them. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val out = Files.createTempDirectory("graft-evolve-").toString
    val events = Tables.eventsWithRawTs(spark, dir)
    val cut = "2024-01-21 00:00:00"
    require(cut.endsWith(" 00:00:00"),
      s"schemaEvolution cutoff '$cut' is not midnight-aligned: a (user_id, day) " +
        "group would span both schema generations and double-report")
    val c = lit(Tables.rawTs(cut))
    events.filter(col("ts_raw") < c)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(Exact.rnd(Exact.sumD("value"), 2).as("total_value"))
      .coalesce(1).write.mode("append").parquet(out)
    events.filter(col("ts_raw") >= c || col("ts_raw").isNull)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(Exact.rnd(Exact.sumD("value"), 2).as("total_value"),
        count(lit(1)).as("cnt"))
      .coalesce(1).write.mode("append").parquet(out)
    spark.read.option("mergeSchema", "true").parquet(out)
      .select(col("user_id"), col("day"), col("total_value"), col("cnt"))
  }

  /** S18: snapshot time travel — the `VERSION AS OF` read every table
    * format serves and every audit/debug/reproduce-the-training-run
    * workflow depends on: a reader captures the current snapshot ref
    * (`currentSnapshot`), later commits append new members, and the AS-OF
    * read of the captured ref serves EXACTLY the rows the snapshot served
    * when it was current — append-only history means time travel is a
    * pointer dereference, zero data copied, O(1) metadata. Retention is
    * the protocol's one-commit window (the VACUUM-horizon production
    * analog; an older ref fails loudly rather than reading swept bytes).
    * The query emits both reads side by side — the v1 history (pre-cutoff
    * days only, tagged 'v1') and the current snapshot (all days, 'v2') —
    * so the oracle's replay pins the invariant that the append did not
    * perturb the historical read. Cutoff day-aligned (s16 discipline) so
    * no (user_id, day) group spans the two generations. */
  def timeTravelRead(spark: SparkSession, dir: String): DataFrame = {
    val target = Files.createTempDirectory("graft-timetravel-").toString
    val events = Tables.eventsWithRawTs(spark, dir)
    val cut = "2024-01-21 00:00:00"
    require(cut.endsWith(" 00:00:00"),
      s"timeTravelRead cutoff '$cut' is not midnight-aligned: a (user_id, day) " +
        "group would span the two snapshots and double-count in v2")
    val c = lit(Tables.rawTs(cut))
    appendTo(spark, target,
      dailyTotals(events.filter(col("ts_raw") < c)).coalesce(1))
    val v1 = currentSnapshot(target).get // pin BEFORE the next commit
    appendTo(spark, target,
      dailyTotals(events.filter(col("ts_raw") >= c || col("ts_raw").isNull))
        .coalesce(1))
    readTableAsOf(spark, target, v1).withColumn("snapshot", lit("v1"))
      .unionAll(readTable(spark, target).withColumn("snapshot", lit("v2")))
      .select(col("snapshot"), col("user_id"), col("day"),
        col("total_value"), col("cnt"))
  }

  /** S9: sync-watermark bookkeeping (mongo_to_postgres_sync.py:241-294):
    * one row — the previous high watermark, the rows the next batch picks up
    * beyond it, and the advanced watermark (max event time of the batch).
    * The `ts > prev` predicate is exactly what pushes into the source scan
    * (S7), so the sync never rereads history.
    *
    * The strict `ts_raw > C` bound rides the raw MICROSECOND scan column,
    * so it pushes as a plain GreaterThan and matches the oracle's `ts > C`
    * exactly — the stored precision IS the compared precision, with no
    * sub-microsecond band to fall through. */
  def syncWatermark(spark: SparkSession, dir: String): DataFrame =
    Tables.eventsWithRawTs(spark, dir)
      .filter(col("ts_raw") > lit(graft.Tables.rawTs(SyncCutoff)))
      .agg(
        lit(SyncCutoff).cast("timestamp").as("prev_watermark"),
        max("ts").as("next_watermark"),
        count(lit(1)).as("rows_to_sync"))

  /** S13: JSON-lines batch source/sink roundtrip — the file-based analog of
    * the reference's JSON-over-Kafka wire format (producer.py serializes
    * JSON; here the same records ride newline-delimited files, the landing
    * format every batch ingest starts from). The write serializes
    * microsecond timestamps; the read applies an EXPLICIT schema — schema
    * inference over JSON is a full extra pass at 100 TB and type-unstable
    * (a column of all-null batches infers string), so production readers
    * always pin the schema. The roundtrip must be lossless against the
    * original parquet rows, which is exactly what the oracle checks —
    * including MICROSECONDS: Spark's default JSON timestampFormat emits
    * milliseconds, silently widening every sub-ms reading on the way out,
    * so the format is pinned to micro precision on both sides. */
  def jsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = Files.createTempDirectory("graft-jsonl-").toString
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value").map(col)
    val microFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(cols: _*)
      .write.mode("overwrite").option("timestampFormat", microFmt).json(out)
    spark.read
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
        "event_type STRING, value DOUBLE")
      .option("timestampFormat", microFmt)
      .json(out)
      .select(cols: _*)
  }

  /** S14: CSV batch source/sink roundtrip — the other landing format every
    * batch ingest starts from. The production option surface, pinned
    * explicitly: header on, EXPLICIT schema (inference is a full extra read
    * pass at 100 TB and type-unstable), microsecond timestampFormat (the
    * S13 lesson — the default silently widens sub-ms readings), and a
    * nullValue SENTINEL: CSV cannot distinguish NULL from empty string
    * without one, so a null `value` or `event_type` written as the default
    * empty field would come back null-for-string/empty-for-double
    * ambiguous; the sentinel makes nulls roundtrip losslessly, which the
    * oracle (original parquet rows) verifies. Doubles survive because Java
    * Double.toString is shortest-roundtrip. */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = Files.createTempDirectory("graft-csv-").toString
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value").map(col)
    val microFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(cols: _*)
      .write.mode("overwrite")
      .option("header", "true")
      .option("timestampFormat", microFmt)
      .option("nullValue", "\\N")
      .csv(out)
    spark.read
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
        "event_type STRING, value DOUBLE")
      .option("header", "true")
      .option("timestampFormat", microFmt)
      .option("nullValue", "\\N")
      .csv(out)
      .select(cols: _*)
  }

  /** S15: ORC columnar source/sink roundtrip WITH a pushed predicate — the
    * warehouse's second columnar format (a Hive-side table an engine must
    * both write and serve). The read-back applies a value bound that must
    * reach the ORC reader as a pushed filter (ORC carries min/max stripe
    * statistics exactly like parquet row groups, so the bound skips whole
    * stripes at scale — the plan audit shows `pushedFilters` on the ORC
    * scan). ORC timestamps carry nanosecond precision, so Spark's
    * microsecond timestamps roundtrip losslessly with no format pinning.
    * The `value >= 0` bound also drops value-NULL rows in both engines —
    * the oracle states the same bound on the original parquet. */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = Files.createTempDirectory("graft-orc-").toString
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value").map(col)
    Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(cols: _*)
      .write.mode("overwrite").orc(out)
    spark.read.orc(out)
      .filter(col("value") >= 0.0)
      .select(cols: _*)
  }

  // ---- S12: partitioned + coalesced output layout --------------------------

  /** S12: date-partitioned, small-file-compacted table write + read-back
    * (Learning Guide.txt:1045 §5: "partition output by date", "coalesce
    * small files, 1-2 per partition"). `repartition(col("day"))` routes each
    * day to one task before `partitionBy("day")`, so every partition dir
    * holds one file instead of one-per-task — the compaction the reference
    * asks for. The layout is what partition pruning keys on at 100 TB: a
    * day-filtered read lists only that day's directory. */
  def partitionedOutput(spark: SparkSession, dir: String): DataFrame = {
    val out = Files.createTempDirectory("graft-partitioned-out-").toString
    WindowAggregates.dailyMart(spark, dir)
      .repartition(col("day"))
      .write.partitionBy("day").mode("overwrite").parquet(out)
    // read back through the partitioned layout; `day` returns via partition
    // discovery (directory names), value columns via the data files
    Tables.parquet(spark, out)
      .select(col("user_id"), col("day"), col("avg_value"), col("max_value"),
        col("min_value"), col("cnt"))
  }

  // ---- S19: multi-dimensional clustering (Z-order) + stats skipping -------

  /** 32-bit Morton code: the low 16 bits of `x` and `y` interleaved
    * (x at even positions, y at odd). A static composition of 32
    * shift/mask/or terms — whole-stage-codegen'd, no UDF. */
  private[graft] def zvalue(x: org.apache.spark.sql.Column,
                            y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** The deterministic 2-dim query box both engines replay: each dimension's
    * envelope [min, max] shifted by span/5 (deliberately NOT dyadic-aligned —
    * an aligned box is one contiguous Z-run, the curve's best case; this one
    * crosses run boundaries) with side span/8. Integer division truncates
    * identically in Scala and DuckDB's `//` for the non-negative keys. */
  private[graft] def zorderBox(spark: SparkSession, dir: String): (Long, Long, Long, Long) = {
    val env = Tables.lineitem(spark, dir)
      .agg(min("l_partkey").cast("long"), max("l_partkey").cast("long"),
        min("l_suppkey").cast("long"), max("l_suppkey").cast("long")).head()
    val (pmin, pmax, smin, smax) =
      (env.getLong(0), env.getLong(1), env.getLong(2), env.getLong(3))
    val (plo, slo) = (pmin + (pmax - pmin) / 5, smin + (smax - smin) / 5)
    (plo, plo + (pmax - pmin) / 8, slo, slo + (smax - smin) / 8)
  }

  /** Writes `lineitem` Z-ORDERED on (l_partkey, l_suppkey) into a scratch
    * table — each dimension linearly binned to 16 bits from its measured
    * envelope, the Morton code range-partitioned and sorted within
    * partitions — and returns the table path. The layout, not the sort, is
    * the product: after it, every data file covers a narrow rectangle in
    * BOTH dimensions, so the files' ordinary per-column min/max stats become
    * a 2-dim index. */
  private[graft] def zorderTable(spark: SparkSession, dir: String, files: Int): String = {
    // swept scratch (shutdown-hook sweep): the layout is a full lineitem
    // copy per invocation — repeated bench/probe JVMs must not pile them up
    val out = scratchCatalog("graft-zorder-")
    zlayout(Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey",
        "l_suppkey", "l_quantity", "l_extendedprice", "l_returnflag"),
      "l_partkey", "l_suppkey", files)
      .write.mode("overwrite").parquet(out)
    out
  }

  /** The bounds a z-layout bins its two keys on, and the frame's row count,
    * which sizes its files. */
  private[graft] final case class ZEnvelope(xlo: Long, xhi: Long,
      ylo: Long, yhi: Long, rows: Long)

  /** A frame laid out for one write, and the per-file row cap that write
    * applies through the writer's `maxRecordsPerFile` option (0: no cap). */
  private[graft] final case class Layout(rows: DataFrame, maxRecordsPerFile: Long = 0L) {
    def write: DataFrameWriter[Row] =
      if (maxRecordsPerFile > 0) rows.write.option("maxRecordsPerFile", maxRecordsPerFile)
      else rows.write
  }

  /** Re-lays a frame out along the Morton curve of (xCol, yCol) into about
    * `files` z-contiguous files: each dimension linearly binned to 16 bits
    * from its measured envelope, the curve value range-partitioned into one
    * range per core (at most `files`) and sorted within partitions, then
    * dropped — the layout survives as file order, not as a column. The
    * write caps each file at ⌈rows / files⌉ rows, so a range splits into
    * consecutive files and the table lands as `files` to
    * `files + ranges − 1` files in z order of their names, written by one
    * task per range instead of one per file. One envelope action (with the
    * row count) + one range shuffle (a sort's cost); the range partitioner
    * samples by reading its input once more. */
  private[graft] def zlayout(df: DataFrame, xCol: String, yCol: String,
      files: Int, envOpt: Option[ZEnvelope] = None): Layout = {
    // envOpt: a caller-supplied CONSERVATIVE envelope (any superset of the
    // true bounds bins correctly, just at slightly coarser resolution) with
    // the exact row count — for frames whose construction is expensive,
    // measuring the envelope with an agg action would evaluate the build
    // subtree once more; a caller that can bound the keys and count the
    // rows cheaply (ivf_cells does it from one vec_id column scan and the
    // memoized corpus count) skips that.
    val bounds = envOpt.orElse {
      val env = df.agg(min(xCol).cast("long"), max(xCol).cast("long"),
        min(yCol).cast("long"), max(yCol).cast("long"), count(lit(1))).head()
      // a degenerate snapshot has no envelope in one or both dimensions
      // (empty frame → all four aggregates null; an all-null key column →
      // that dimension's pair null) — and nothing to cluster on: pass it
      // through instead of NPE-ing on the bounds. Rows whose key is null
      // in a NON-degenerate frame still lay out fine: bin() casts null to
      // a null _z, which range-partitions and sorts first — no special
      // case.
      if (env.isNullAt(0) || env.isNullAt(2)) None
      else Some(ZEnvelope(env.getLong(0), env.getLong(1), env.getLong(2),
        env.getLong(3), env.getLong(4)))
    }
    bounds match {
      case None => Layout(df)
      case Some(env) =>
        val ranges = math.min(files, df.sparkSession.sparkContext.defaultParallelism)
        Layout(df.withColumn("_z", zkey(col(xCol), col(yCol), env))
            .repartitionByRange(ranges, col("_z"))
            .sortWithinPartitions("_z")
            .drop("_z"),
          maxRecordsPerFile = (env.rows + files - 1) / files)
    }
  }

  /** The curve value zlayout orders rows by: each key linearly binned to
    * 16 bits over its side of the envelope. */
  private[graft] def zkey(x: Column, y: Column, env: ZEnvelope): Column = {
    // Spark's `/` is true division (double) — truncate back to the
    // integral bin explicitly rather than leaning on the per-term
    // implicit cast the zvalue shift ops would otherwise insert 32 times
    def bin(c: Column, lo: Long, hi: Long) =
      if (hi == lo) lit(0L)
      else ((c.cast("long") - lit(lo)) * lit(65535L) / lit(hi - lo)).cast("long")
    zvalue(bin(x, env.xlo, env.xhi), bin(y, env.ylo, env.yhi))
  }

  /** S19: Z-order (Morton-curve) data layout + multi-dimensional stats
    * skipping — the OPTIMIZE ZORDER BY every lakehouse table format ships.
    * A table range-partitioned on ONE column prunes that column only; a
    * table laid out along the Morton curve of TWO columns clusters both at
    * once, so a 2-dim box predicate touches the few files whose rectangles
    * intersect the box instead of every file (ConnectorsSpec pins the
    * contrast: the same box over an orderkey-laid-out control touches ~all
    * of 64 files, over the Z-layout a handful).
    *
    * At 100 TB the mechanism is the point: the curve value is 32 codegen'd
    * bit ops per row + one range shuffle (exactly a sort's cost, paid once
    * per release), and the payoff compounds — the table format's file-level
    * min/max manifest prunes the LISTING, parquet row-group stats prune
    * inside survivors, and both work on the ordinary per-column stats that
    * already exist; z-order just makes them tight in two dimensions
    * simultaneously. The served query reads back through the layout with the
    * box predicate pushed (PushedFilters carries all four bounds) and
    * aggregates by return flag; the oracle replays box + aggregate on the
    * raw table — the layout must never change an answer, only the bytes
    * touched. */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame =
    boxRead(spark, dir, Tables.parquet(spark, zorderTable(spark, dir, files = 64)))

  /** The served 2-dim box read both z-order queries share — ONE block so
    * s19 and s20 cannot drift apart under their shared oracle. */
  private def boxRead(spark: SparkSession, dir: String, table: DataFrame): DataFrame = {
    val (plo, phi, slo, shi) = zorderBox(spark, dir)
    table
      .filter(col("l_partkey").between(plo, phi) &&
        col("l_suppkey").between(slo, shi))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        Exact.sumD("l_extendedprice").as("revenue"))
  }

  /** S20: append → OPTIMIZE ZORDER → box read — the s16 lifecycle with the
    * s19 layout as the rewrite: three ingest batches land in ARRIVAL order
    * (append cost only — no clustering tax on the write path; every batch
    * spreads both box dimensions across all its files), then `compactZorder`
    * restores the curve layout in one owned generation behind the atomic
    * pointer flip. The served box read must equal s19's direct-layout
    * answers (shared oracle): OPTIMIZE ZORDER is correct only if it is
    * byte-equivalent to having clustered at write time — the layout verb
    * changes bytes touched, never answers. ConnectorsSpec pins the payoff
    * (box-files before ≈ all, after ≤ a handful) and the single-generation
    * pointer. */
  def zorderOptimize(spark: SparkSession, dir: String): DataFrame = {
    // swept scratch: at probe scale each generation is a full lineitem copy,
    // so repeated bench/probe JVMs must not accumulate them in /tmp
    val target = scratchCatalog("graft-zopt-target-")
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey",
      "l_suppkey", "l_quantity", "l_extendedprice", "l_returnflag")
    // three arrival-ordered ingest tranches keyed on orderkey — disjoint by
    // construction, so the appended table carries every row exactly once.
    // (Deliberately NOT persisted across the tranches: at scale each ingest
    // batch is its own arrival scan, and caching a table-sized snapshot to
    // save two test-scale scans would be a local-only win — r19 opt notes.)
    (0 to 2).foreach { i =>
      appendTo(spark, target, li.filter(pmod(col("l_orderkey"), lit(3)) === i))
    }
    compactZorder(spark, target, "l_partkey", "l_suppkey", files = 64)
    boxRead(spark, dir, readTable(spark, target))
  }

  /** S10: catalog/DDL bootstrap — the engine-side analog of the reference's
    * topic-bootstrap script (kafka/init_topics.py:190-252: idempotent
    * infrastructure setup, verified before the pipeline starts): the
    * warehouse layout is materialized (the S12 day-partitioned mart), an
    * EXTERNAL partitioned table is registered over it with idempotent DDL
    * (DROP IF EXISTS + CREATE), and partition DISCOVERY (`MSCK REPAIR`)
    * walks the directory layout into the catalog — the step that makes
    * partition PRUNING possible for every downstream reader. The registered
    * query reads back THROUGH the catalog table and aggregates per
    * partition, so the oracle verifies the whole bootstrap end to end:
    * DDL, discovery, partition-column recovery, and the data itself. */
  def catalogBootstrap(spark: SparkSession, dir: String): DataFrame = {
    val loc = Files.createTempDirectory("graft-catalog-").toString
    WindowAggregates.dailyMart(spark, dir)
      .repartition(col("day"))
      .write.partitionBy("day").mode("overwrite").parquet(loc)
    val table = "graft_daily_mart"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(
      s"""CREATE TABLE $table
          (user_id BIGINT, avg_value DOUBLE, max_value DOUBLE,
           min_value DOUBLE, cnt BIGINT, day DATE)
          USING parquet PARTITIONED BY (day) LOCATION '$loc'""")
    spark.sql(s"MSCK REPAIR TABLE $table")
    spark.table(table)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_sensors"), sum("cnt").as("n_readings"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s10_catalog_bootstrap" -> catalogBootstrap,
    "s13_jsonl_roundtrip"   -> jsonlRoundtrip,
    "s14_csv_roundtrip"     -> csvRoundtrip,
    "s15_orc_roundtrip"     -> orcRoundtrip,
    "s1_kafka_roundtrip"    -> kafkaRoundtrip,
    "s2_kafka_envelope"     -> kafkaEnvelope,
    "s8_upsert_sink"        -> upsertSink,
    "s16_compact_roundtrip" -> compactRoundtrip,
    "s17_schema_evolution" -> schemaEvolution,
    "s18_time_travel"      -> timeTravelRead,
    "s19_zorder_layout"    -> zorderLayout,
    "s20_zorder_optimize"  -> zorderOptimize,
    "s9_sync_watermark"     -> syncWatermark,
    "s12_partitioned_output" -> partitionedOutput)

  /** Shared by s19 and s20: the layout (direct write or OPTIMIZE rewrite)
    * never changes an answer, so both replay box + aggregate on raw rows. */
  private lazy val zorderOracleSql: String =
    s"""WITH env AS (SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
                            min(l_suppkey) AS smin, max(l_suppkey) AS smax
                     FROM lineitem),
        box AS (SELECT pmin + (pmax - pmin) // 5 AS plo,
                       pmin + (pmax - pmin) // 5 + (pmax - pmin) // 8 AS phi,
                       smin + (smax - smin) // 5 AS slo,
                       smin + (smax - smin) // 5 + (smax - smin) // 8 AS shi
                FROM env)
        SELECT l_returnflag, count(*) AS n_rows,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               ${Exact.sqlSum("l_extendedprice")} AS revenue
        FROM lineitem, box
        WHERE l_partkey BETWEEN plo AND phi AND l_suppkey BETWEEN slo AND shi
        GROUP BY 1"""

  val oracles: Map[String, String] = Map(
    // Aggregates the a3 mart oracle per day: the catalog table's partition
    // discovery + read-back must reproduce the mart's own numbers.
    "s10_catalog_bootstrap" ->
      s"""WITH mart AS (${WindowAggregates.oracles("a3_daily_mart")})
          SELECT day, count(*) AS n_sensors,
                 CAST(sum(cnt) AS BIGINT) AS n_readings
          FROM mart GROUP BY 1""",
    // Lossless roundtrip: the JSONL read-back equals the source rows.
    "s13_jsonl_roundtrip" ->
      """SELECT event_id, ts, user_id, event_type, value FROM events
         WHERE ts IS NOT NULL AND user_id IS NOT NULL""",
    // Null-sentinel CSV roundtrip is lossless against the source rows.
    "s14_csv_roundtrip" ->
      """SELECT event_id, ts, user_id, event_type, value FROM events
         WHERE ts IS NOT NULL AND user_id IS NOT NULL""",
    // The ORC read-back's pushed bound, stated on the original parquet.
    "s15_orc_roundtrip" ->
      """SELECT event_id, ts, user_id, event_type, value FROM events
         WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value >= 0""",
    "s1_kafka_roundtrip" ->
      """SELECT CAST(user_id AS VARCHAR) AS kafka_key,
         event_id, user_id, event_type,
         date_trunc('second', ts) AS ts, value
         FROM events
         WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
           AND event_type IS NOT NULL AND regexp_matches(event_type, '^[a-z]')""",
    "s2_kafka_envelope" ->
      """SELECT CAST(user_id AS VARCHAR) AS key,
         json_object('event_id', event_id, 'user_id', user_id,
                     'event_type', event_type,
                     'ts', strftime(ts, '%Y-%m-%d %H:%M:%S'),
                     'value', CAST(value AS VARCHAR)) AS value,
         CAST(user_id % 3 AS INTEGER) AS kafka_partition
         FROM events
         WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
           AND event_type IS NOT NULL AND regexp_matches(event_type, '^[a-z]')""",
    "s8_upsert_sink" ->
      s"""WITH base AS (
           SELECT user_id, CAST(ts AS DATE) AS day,
                  ${Exact.sqlRnd(Exact.sqlSum("value"), 2)} AS total_value, count(*) AS cnt
           FROM events WHERE ts < TIMESTAMP '$SyncCutoff' GROUP BY 1, 2),
         u AS (
           SELECT user_id, CAST(ts AS DATE) AS day,
                  ${Exact.sqlRnd(Exact.sqlSum("value"), 2)} AS total_value, count(*) AS cnt
           FROM events WHERE ts >= TIMESTAMP '$SyncCutoff' GROUP BY 1, 2)
         SELECT coalesce(u.user_id, base.user_id) AS user_id,
                coalesce(u.day, base.day) AS day,
                coalesce(u.total_value, base.total_value) AS total_value,
                coalesce(u.cnt, base.cnt) AS cnt
         FROM base FULL OUTER JOIN u
           ON base.user_id IS NOT DISTINCT FROM u.user_id
          AND base.day IS NOT DISTINCT FROM u.day""",
    // Both schema generations rebuilt and UNION ALL'd: v1 history carries
    // cnt = NULL exactly as the mergeSchema read surfaces it.
    "s17_schema_evolution" ->
      s"""SELECT user_id, CAST(ts AS DATE) AS day,
          ${Exact.sqlRnd(Exact.sqlSum("value"), 2)} AS total_value,
          CAST(NULL AS BIGINT) AS cnt
          FROM events WHERE ts < TIMESTAMP '2024-01-21 00:00:00' GROUP BY 1, 2
          UNION ALL
          SELECT user_id, CAST(ts AS DATE) AS day,
          ${Exact.sqlRnd(Exact.sqlSum("value"), 2)} AS total_value,
          CAST(count(*) AS BIGINT) AS cnt
          FROM events WHERE ts >= TIMESTAMP '2024-01-21 00:00:00' OR ts IS NULL
          GROUP BY 1, 2""",
    // The AS-OF read serves exactly the pre-append snapshot (v1: pre-cutoff
    // days only); the current read serves everything (v2) — appends must
    // never perturb retained history.
    "s18_time_travel" ->
      s"""SELECT 'v1' AS snapshot, user_id, CAST(ts AS DATE) AS day,
          ${Exact.sqlRnd(Exact.sqlSum("value"), 2)} AS total_value,
          count(*) AS cnt
          FROM events WHERE ts < TIMESTAMP '2024-01-21 00:00:00' GROUP BY 2, 3
          UNION ALL
          SELECT 'v2' AS snapshot, user_id, CAST(ts AS DATE) AS day,
          ${Exact.sqlRnd(Exact.sqlSum("value"), 2)} AS total_value,
          count(*) AS cnt
          FROM events GROUP BY 2, 3""",
    // The Z-order layout must never change an answer — only the bytes
    // touched. The oracle replays box + aggregate on the raw table, with the
    // box bounds derived by the same envelope arithmetic (`//` truncates like
    // Scala's Long division for these non-negative keys).
    "s19_zorder_layout" -> zorderOracleSql,
    // OPTIMIZE ZORDER must be byte-equivalent to having clustered at write
    // time — the append→rewrite lifecycle serves the direct layout's oracle.
    "s20_zorder_optimize" -> zorderOracleSql,
    // The compacted read-back must equal the never-fragmented aggregation.
    "s16_compact_roundtrip" ->
      s"""SELECT user_id, CAST(ts AS DATE) AS day,
          ${Exact.sqlRnd(Exact.sqlSum("value"), 2)} AS total_value,
          count(*) AS cnt
          FROM events GROUP BY 1, 2""",
    "s9_sync_watermark" ->
      s"""SELECT TIMESTAMP '$SyncCutoff' AS prev_watermark,
          max(ts) AS next_watermark, count(*) AS rows_to_sync
          FROM events WHERE ts > TIMESTAMP '$SyncCutoff'""",
    // Same result as the direct aggregation — the partitioned layout must be
    // a lossless round trip of a3_daily_mart.
    "s12_partitioned_output" ->
      s"""SELECT user_id, CAST(ts AS DATE) AS day,
         ${Exact.sqlRnd(Exact.sqlAvg("value"), 4)} AS avg_value,
         ${Exact.sqlRnd("max(value)", 2)} AS max_value,
         ${Exact.sqlRnd("min(value)", 2)} AS min_value,
         count(*) AS cnt
         FROM events GROUP BY 1, 2""")
}
