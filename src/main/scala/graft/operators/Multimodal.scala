package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column operators (builder brief; SURVEY.md §7.1 M6): media
  * payloads as opaque `binary` columns with typed metadata, plus a
  * decode / feature-extract stage.
  *
  * No media codecs exist in this environment, so the decode step is a
  * clearly-marked deterministic STUB — but everything Spark-side is real and
  * load-bearing: the binary column, the metadata projection, the typed
  * `Dataset` schema, and the partition-iterator batch shape (decoder
  * initialized once per partition, rows streamed through it — exactly how a
  * real model/codec rides `mapPartitions`, and the Scala analog of a
  * `mapInPandas` batch UDF).
  *
  * The `documents` table stands in for a media corpus: its UTF-8 bytes are
  * the "media payload". At 100 TB the payload column dominates I/O — the
  * metadata projection reads only the bytes it needs, and feature extraction
  * is a narrow map (no shuffle at all until features feed a downstream
  * join/ANN stage).
  */
object Multimodal {

  /** M7: binary ingest + metadata projection — payload byte length, content
    * digest, fake-decoded dimensions and a frame-sampling plan derived
    * arithmetically from the payload size (oracle-replayable). */
  def binaryMeta(spark: SparkSession, dir: String): DataFrame = {
    val blob = encode(col("text"), "UTF-8")
    val byteLen = octet_length(blob)
    Tables.documents(spark, dir).select(
      col("doc_id"),
      byteLen.as("byte_len"),
      sha2(blob, 256).as("checksum"),
      (pmod(byteLen, lit(64)) + 16).as("width"),
      (pmod(byteLen, lit(48)) + 16).as("height"),
      (floor(byteLen / 100) + 1).cast("int").as("n_frames"))
  }

  final case class MediaIn(doc_id: Long, payload: Array[Byte])
  final case class PpmFeatures(
      doc_id: Long, ok: Boolean, width: Int, height: Int,
      n_pixels: Int, mean_r: Double, mean_g: Double, mean_b: Double)

  /** A REAL binary-format decoder: PPM (P6), the simplest raster format any
    * codec zoo starts with — ASCII header (`P6\n<w> <h>\n<maxval>\n`) parsed
    * token-by-token from the raw bytes, then `w·h·3` bytes of RGB pixel
    * data. Malformed payloads (wrong magic, non-positive dims, maxval ≠
    * 255, truncated pixel array, junk header tokens) are REJECTED, never
    * thrown: a 100 TB media scan cannot die on one corrupt blob, so the
    * error channel is a typed `ok=false` row (MultimodalSpec drives every
    * rejection path). Features are the per-channel pixel means — the stripe
    * stats of the original stub, now computed from genuinely decoded
    * pixels. Each mean is ONE IEEE divide of an exact integer sum, so the
    * oracle replays it bit-for-bit. */
  object PpmDecoder {
    private def isWs(c: Byte) =
      c == ' ' || c == '\n' || c == '\t' || c == '\r'

    def decode(in: MediaIn): PpmFeatures = {
      val b = in.payload
      val bad = PpmFeatures(in.doc_id, ok = false, 0, 0, 0, 0.0, 0.0, 0.0)
      var i = 0
      def token(): String = {
        while (i < b.length && isWs(b(i))) i += 1
        val s = i
        while (i < b.length && !isWs(b(i))) i += 1
        new String(b, s, i - s, java.nio.charset.StandardCharsets.US_ASCII)
      }
      def intToken(): Int =
        try token().toInt catch { case _: NumberFormatException => -1 }
      if (token() != "P6") return bad
      val w = intToken(); val h = intToken(); val maxv = intToken()
      if (w <= 0 || h <= 0 || maxv != 255) return bad
      i += 1 // exactly one whitespace byte separates the header from pixels
      val need = w.toLong * h * 3
      if (need > Int.MaxValue || b.length - i < need) return bad
      var sr = 0L; var sg = 0L; var sb = 0L
      var j = i
      val end = i + need.toInt
      while (j < end) {
        sr += b(j) & 0xff; sg += b(j + 1) & 0xff; sb += b(j + 2) & 0xff
        j += 3
      }
      val n = w * h
      PpmFeatures(in.doc_id, ok = true, w, h, n,
        sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
    }

    /** Per-pixel gray values (r+g+b, no divide — exact integers) of a valid
      * P6 payload, or None for any malformed byte stream (same rejection
      * rules as decode). The pixel view behind the perceptual hash. */
    def grayPixels(in: MediaIn): Option[Array[Int]] = {
      val b = in.payload
      var i = 0
      def token(): String = {
        while (i < b.length && isWs(b(i))) i += 1
        val s = i
        while (i < b.length && !isWs(b(i))) i += 1
        new String(b, s, i - s, java.nio.charset.StandardCharsets.US_ASCII)
      }
      def intToken(): Int =
        try token().toInt catch { case _: NumberFormatException => -1 }
      if (token() != "P6") return None
      val w = intToken(); val h = intToken(); val maxv = intToken()
      if (w <= 0 || h <= 0 || maxv != 255) return None
      i += 1
      val need = w.toLong * h * 3
      if (need > Int.MaxValue || b.length - i < need) return None
      val n = w * h
      val out = new Array[Int](n)
      var j = i; var p = 0
      while (p < n) {
        out(p) = (b(j) & 0xff) + (b(j + 1) & 0xff) + (b(j + 2) & 0xff)
        j += 3; p += 1
      }
      Some(out)
    }
  }

  final case class AHashRow(doc_id: Long, ok: Boolean, hash_hi: Long,
    hash_lo: Long, letterboxed: Boolean)

  /** 64-bit block-mean average hash (aHash) of a gray-pixel array: the
    * pixel run splits into 64 floor-boundary blocks (block k spans
    * [k·n/64, (k+1)·n/64), nonempty whenever n ≥ 64) and bit k is set when
    * the block's mean gray is at least the image mean — compared in exact
    * integer cross-multiplied form (`blocksum·n ≥ total·blocksize`), so
    * the oracle replays every bit. Stored as two 32-bit halves, the
    * SimHash signature convention (bit 63 of a single long would need
    * unsigned arithmetic DuckDB rejects). */
  private[operators] def ahashOf(gray: Array[Int]): (Long, Long) = {
    val n = gray.length
    var total = 0L
    var p = 0
    while (p < n) { total += gray(p); p += 1 }
    var hi = 0L; var lo = 0L
    var k = 0
    while (k < 64) {
      val s = (k.toLong * n / 64).toInt
      val e = ((k + 1).toLong * n / 64).toInt
      var bs = 0L
      var q = s
      while (q < e) { bs += gray(q); q += 1 }
      if (bs * n >= total * (e - s)) {
        if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
      }
      k += 1
    }
    (hi, lo)
  }

  /** M7: typed decode / feature-extract pipeline over the binary column —
    * genuine byte decoding (PpmDecoder) through the `mapPartitions` batch
    * shape: decoder setup happens once per partition and rows stream
    * through it (how a real codec/model rides an executor). The corpus has
    * no media payloads, so each document's bytes are framed in-query as a
    * deterministic 16-wide PPM whose pixel data is the text itself (padded
    * with 'x' to the pixel grid) — the SAME framing expression the oracle
    * replays — and every 61st doc gets a wrong magic number planted, so the
    * rejection path is exercised corpus-wide in both engines. */
  def decodeFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaIn] = Tables.documents(spark, dir)
      .withColumn("h", expr("greatest(1, length(text) div 48)"))
      .select(col("doc_id"), encode(concat(
          when(col("doc_id") % 61 === 0, lit("P5")).otherwise(lit("P6")),
          lit("\n16 "), col("h").cast("string"), lit("\n255\n"),
          expr("substring(rpad(text, cast(h * 48 as int), 'x'), 1, cast(h * 48 as int))")),
        "UTF-8").as("payload"))
      .as[MediaIn]
    media.mapPartitions { rows =>
      val decoder = PpmDecoder // per-partition init point for a real codec
      rows.map(decoder.decode)
    }.toDF()
  }

  final case class PcmFrame(doc_id: Long, frame_no: Int, n_samples: Int,
      energy: Double)

  /** The audio leg of the codec zoo: payload bytes as 16-bit little-endian
    * PCM, cut into 256-sample frames (trailing partial frame dropped — a
    * feature extractor wants fixed-size windows), mean-square energy per
    * frame. The inner loop is exact integer arithmetic (Σ s², one 64-bit
    * accumulator — 256·32767² is far inside long range); the single IEEE
    * divide at the end is what the oracle replays bit-for-bit. Sign
    * extension is real ((hi << 8) | lo as signed 16-bit) even though ASCII
    * fixture bytes never set the sign bit — MultimodalSpec drives a
    * synthetic negative-sample payload through it. */
  object PcmDecoder {
    val FrameSamples = 256
    def decode(in: MediaIn): Iterator[PcmFrame] = {
      val b = in.payload
      val nFrames = (b.length / 2) / FrameSamples
      (0 until nFrames).iterator.map { f =>
        var acc = 0L
        var i = f * FrameSamples
        val end = i + FrameSamples
        while (i < end) {
          val s = ((b(2 * i + 1): Int) << 8) | (b(2 * i) & 0xff) // LE, signed hi
          acc += s.toLong * s
          i += 1
        }
        PcmFrame(in.doc_id, f, FrameSamples, acc.toDouble / FrameSamples)
      }
    }
  }

  /** M7: PCM frame energy — the audio feature-extraction pipeline through
    * the same mapPartitions batch shape as the PPM decoder: decoder bound
    * once per partition, each payload fanning out to one row per frame
    * (flatMap — work and output ∝ audio duration). Docs shorter than one
    * frame (512 bytes) emit nothing, exactly like a sub-window audio clip. */
  def pcmEnergy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[MediaIn]
      .mapPartitions { rows =>
        val decoder = PcmDecoder // per-partition init point for a real codec
        rows.flatMap(decoder.decode)
      }.toDF()
  }

  /** M7: audio silence segmentation — the VAD-style gaps-and-islands pass a
    * speech pipeline runs before clip extraction: each payload's PCM frame
    * sequence (m7_pcm_energy's decode, same mapPartitions batch shape) is
    * cut into maximal runs of quiet vs voiced frames, one row per segment
    * with its start frame, length and peak energy. A frame is QUIET when
    * its energy is below 0.8× the payload's mean frame energy — a per-clip
    * adaptive threshold (a global constant misclassifies whole quiet
    * recordings), compared EXACTLY: energy = acc/256 with acc ≤ 256·32767²
    * < 2⁵³, so acc round-trips the double exactly, and the comparison
    * acc·10·n_frames < 8·Σacc is integer — widened through decimal(19,0)
    * products to decimal(38,0) and the Σacc window sum through
    * decimal(29,0) (the sourceDivergence discipline), since both
    * acc·10·n_frames and Σacc overflow Long on long-enough clips
    * (~3.3M / ~3.3e7 max-amplitude frames) while the decimal forms match
    * the oracle's HUGEINT exactly at any clip length. Runs come from the classic islands key (frame_no − per-kind
    * row_number); both windows partition by doc_id, so at 100 TB no sort
    * ever sees more than one clip's frames. */
  def silenceSegments(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dw = Window.partitionBy("doc_id")
    val lhs = ((col("energy") * 256).cast("long") * 10L).cast("decimal(19,0)") *
      col("nf").cast("decimal(19,0)")
    val rhs = col("tot") * lit(8L).cast("decimal(19,0)")
    val framed = pcmEnergy(spark, dir)
      // acc summed as decimal(19,0) → decimal(29,0): the oracle's HUGEINT
      // sum is exact, and a plain Long sum wraps silently past ~3.3e7
      // max-amplitude frames in one doc (r15 ADVICE)
      .withColumn("tot",
        sum((col("energy") * 256).cast("long").cast("decimal(19,0)")).over(dw))
      .withColumn("nf", count(lit(1)).over(dw))
      .withColumn("is_quiet", lhs < rhs)
    val rw = Window.partitionBy("doc_id", "is_quiet").orderBy("frame_no")
    val sw = Window.partitionBy("doc_id").orderBy("start_frame")
    framed
      .withColumn("isl", col("frame_no") - row_number().over(rw))
      .groupBy(col("doc_id"), col("is_quiet"), col("isl"))
      .agg(min(col("frame_no")).as("start_frame"),
        count(lit(1)).as("n_frames"),
        max(col("energy")).as("peak")) // max is fold-order-free and exact
      .withColumn("seg_no", row_number().over(sw))
      .select(col("doc_id"), col("seg_no"), col("is_quiet"),
        col("start_frame"), col("n_frames"),
        Exact.rnd(col("peak"), 4).as("peak_energy"))
  }

  /** M7: frame sampling — every 4th frame of each payload's decode plan,
    * exploded to one row per sampled frame with its byte offset. The
    * video-frame-extraction shape: a narrow explode whose fan-out is bounded
    * by the sampling stride, so downstream per-frame feature work
    * parallelizes by frame, not by file. */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    val meta = binaryMeta(spark, dir)
    meta.select(col("doc_id"), col("byte_len"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(4))).as("frame_no"))
      .withColumn("frame_offset", col("frame_no") * 100)
      .select(col("doc_id"), col("frame_no"), col("frame_offset"), col("byte_len"))
  }

  /** M7: resize planning — per payload, the downscale geometry to the
    * model's 224×224 input: aspect-preserving scale factor, the resulting
    * pre-crop dimensions, and the decoded-output byte size. The pixel work
    * belongs to the stub decoder's successor; the geometry is pure
    * arithmetic over the metadata projection (narrow map, no payload read
    * beyond what binaryMeta already projects), which is exactly the part a
    * 100 TB pipeline plans centrally before shipping batches to codec
    * executors. */
  def resizePlan(spark: SparkSession, dir: String): DataFrame = {
    // scaled dims in INTEGER arithmetic — ceil(dim·224/min) as
    // (dim·224 + min − 1) div min. A float form (ceil(dim * rounded_scale))
    // is boundary-fragile: products land exactly on the integer in one
    // engine and epsilon above it in the other, flipping the ceil.
    binaryMeta(spark, dir).select(
      col("doc_id"), col("width"), col("height"),
      Exact.rnd(lit(224.0) / least(col("width"), col("height")), 4).as("scale"),
      expr("CAST((width * 224 + least(width, height) - 1) DIV least(width, height) AS INT)")
        .as("scaled_w"),
      expr("CAST((height * 224 + least(width, height) - 1) DIV least(width, height) AS INT)")
        .as("scaled_h"),
      lit(224 * 224 * 3).as("out_bytes"))
  }

  /** M7: perceptual image near-dup detection — the multimodal twin of the
    * text dedup family: 64-bit block-mean aHash from REAL decoded pixels
    * (PpmDecoder.grayPixels through the mapPartitions batch shape), then
    * the SimHash retrieval machinery — w-bit chunk buckets with
    * the corpus-adaptive Manku width (Dedup.simhashChunkBits: 8-bit chunks
    * / Hamming ≤ 7 at test scale, 16-bit / ≤ 3 past 4096 images) and exact
    * bit_count verification, so recall at the bound is pigeonhole-exact.
    * Plants: every 31st image re-encoded verbatim (Hamming 0) and every
    * 23rd with its last two pixels perturbed (a near-identical frame — the
    * thumbnail/re-encode case perceptual hashing exists for).
    *
    * Skew-robust blocking (r15): perceptual hashes of a real corpus are
    * heavily DEGENERATE — letterboxed frames, blank images, and (here) the
    * constant 'x' pad tail drive whole hash regions to fixed values, so
    * chunk buckets are not uniform: the r15 aHash census at the 100×
    * probe (BENCH_AHASH_sf10.json) measured 537,867 images → 2.24e9
    * doc-keyed candidate pairs with
    * 83% of that mass in ONE all-ones bucket, while only 26,929 DISTINCT
    * hashes exist (20× collapse) and their bucketed pair volume is 8.0e6
    * (280× less). ahashPairs therefore collapses identical signatures
    * FIRST (one linear groupBy on the 128-bit signature), runs the chunk
    * join + Hamming verify once per DISTINCT-signature pair, and expands
    * back to doc pairs at the end — within-group pairs (Hamming 0) by a
    * members self-join on the signature, cross-group pairs by an
    * output-sized membership join. The output SET is provably unchanged
    * (recall at the bound is pigeonhole-exact in both shapes), so the
    * oracle replay is untouched. At 100 TB the collapse is the production
    * shape: exact-signature dedup is linear, the quadratic-prone stage
    * only ever sees unique signatures, and a truly degenerate mega-group
    * (a billion black frames) surfaces as a cheap group-count census row
    * long before anyone asks for its quadratic pair list.
    *
    * ASCII precondition: the fake frame treats one CHARACTER of text as one
    * BYTE of pixel payload (length/substring/rpad count characters against
    * the decoder's byte budget, and the oracle grays code points where the
    * decoder grays UTF-8 bytes) — coherent only when every character IS one
    * byte. Non-ASCII documents are excluded up front by the
    * byte-length = char-length test, identically on both engines, instead
    * of silently producing engine/oracle divergence if the fixture ever
    * grows non-ASCII text. A real image pipeline takes binary payloads and
    * never faces this; it is a property of the text-as-pixels fixture. */
  def ahashNearDup(spark: SparkSession, dir: String): DataFrame = {
    val corpus = ahashCorpus(spark, dir)
    val w = Dedup.simhashChunkBits(corpus.count())
    ahashPairs(ahashHashedOf(spark, corpus), w)
  }

  /** The image-corpus fixture behind ahashNearDup: the ASCII documents plus
    * the two plant families (every 31st re-encoded verbatim, every 23rd
    * with its last two pixels perturbed). m4v's replay source
    * (`StreamingJobs.stagedImageClips`) and the specs build on it too. */
  private[graft] def ahashCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
      .filter(octet_length(col("text")) === length(col("text")))
    val mutated = docs.filter(col("doc_id") % 23 === 0)
      .select((col("doc_id") + 4000000).as("doc_id"),
        concat(expr("substring(text, 1, length(text) - 6)"),
          lit("qqqqqq")).as("text"))
    val exact = docs.filter(col("doc_id") % 31 === 0)
      .select((col("doc_id") + 5000000).as("doc_id"), col("text"))
    docs.unionAll(mutated).unionAll(exact)
  }

  final case class PadScan(doc_id: Long, ok: Boolean, height: Int, pad_rows: Int)

  /** M7: letterbox / constant-pad detection — the quarantine census for the
    * exact degeneracy the r15 aHash probe MEASURED (BENCH_AHASH_sf10.json:
    * the constant pad tail drives 11% of the corpus
    * to one all-ones hash region, 83% of naive candidate-pair mass): per
    * image, the count of TRAILING rows whose every pixel is the pad gray
    * (letterbox bars / blank frames in a real corpus), from genuinely
    * decoded pixels through the same mapPartitions batch shape as the
    * perceptual hash. A production pipeline runs this BEFORE near-dup
    * blocking — images past the 25% flag either crop the pad or route to an
    * exact-signature path, keeping perceptual-hash buckets un-degenerate.
    * The flag compares in integer space (pad_rows·4 ≥ height); the one
    * reported divide replays bit-for-bit. Narrow map, no shuffle at all. */
  def letterboxDetect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val padGray = 3 * 'x'.toInt // the pad byte 'x' in all three channels
    val media: Dataset[MediaIn] = Tables.documents(spark, dir)
      .filter(octet_length(col("text")) === length(col("text")))
      .withColumn("h", expr("greatest(4, length(text) div 48)"))
      .select(col("doc_id"), encode(concat(
          lit("P6\n16 "), col("h").cast("string"), lit("\n255\n"),
          expr("substring(rpad(text, cast(h * 48 as int), 'x'), 1, cast(h * 48 as int))")),
        "UTF-8").as("payload"))
      .as[MediaIn]
    media.mapPartitions { rows =>
      val decoder = PpmDecoder // per-partition init point for a real codec
      rows.map { m =>
        decoder.grayPixels(m) match {
          case Some(g) =>
            val h = g.length / 16
            def rowPad(r: Int): Boolean = {
              var k = r * 16; val end = k + 16
              while (k < end && g(k) == padGray) k += 1
              k == end
            }
            var r = h - 1
            while (r >= 0 && rowPad(r)) r -= 1
            PadScan(m.doc_id, ok = true, h, h - 1 - r)
          case None => PadScan(m.doc_id, ok = false, 0, 0)
        }
      }
    }.toDF().filter(col("ok"))
      .select(col("doc_id"), col("height"), col("pad_rows"),
        Exact.rnd(col("pad_rows").cast("double") / col("height").cast("double"), 4)
          .as("pad_frac"),
        (col("pad_rows") * 4 >= col("height")).as("letterboxed"))
  }

  /** PPM-frame + decode + 64-bit aHash of an image corpus — the narrow
    * map stage (mapPartitions; no shuffle). */
  private[graft] def ahashHashedOf(spark: SparkSession,
      corpus: DataFrame): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaIn] = corpus
      .withColumn("h", expr("greatest(4, length(text) div 48)"))
      .select(col("doc_id"), encode(concat(
          lit("P6\n16 "), col("h").cast("string"), lit("\n255\n"),
          expr("substring(rpad(text, cast(h * 48 as int), 'x'), 1, cast(h * 48 as int))")),
        "UTF-8").as("payload"))
      .as[MediaIn]
    media.mapPartitions { rows =>
      val decoder = PpmDecoder // per-partition init point for a real codec
      val padGray = 3 * 'x'.toInt
      rows.map { m =>
        decoder.grayPixels(m) match {
          case Some(g) =>
            val (hi, lo) = ahashOf(g)
            // the letterbox quarantine flag, from the SAME decoded pixels
            // (no second decode pass): trailing all-pad rows ≥ 25% of the
            // frame — the r15-measured degeneracy that drives whole hash
            // regions to fixed values (see letterboxDetect)
            val h = g.length / 16
            def rowPad(r: Int): Boolean = {
              var k = r * 16; val end = k + 16
              while (k < end && g(k) == padGray) k += 1
              k == end
            }
            var r = h - 1
            while (r >= 0 && rowPad(r)) r -= 1
            AHashRow(m.doc_id, ok = true, hi, lo, (h - 1 - r) * 4 >= h)
          case None => AHashRow(m.doc_id, ok = false, 0L, 0L, letterboxed = false)
        }
      }
    }.toDF().filter(col("ok"))
      .select("doc_id", "hash_hi", "hash_lo", "letterboxed")
  }

  /** The w-bit chunk explode over the hashed signatures (Manku blocking). */
  private[graft] def ahashChunksOf(hashed: DataFrame, w: Int): DataFrame = {
    val nchunks = 64 / w
    val perHalf = 32 / w
    val mask = (1L << w) - 1
    val chunkCols = (0 until nchunks).map { c =>
      val src = if (c < perHalf) col("hash_lo") else col("hash_hi")
      struct(lit(c).as("c"),
        shiftright(src, w * (c % perHalf)).bitwiseAND(lit(mask)).as("chunk"))
    }
    hashed
      .select(col("doc_id"), col("hash_hi"), col("hash_lo"),
        explode(array(chunkCols: _*)).as("ck"))
      .select(col("doc_id"), col("hash_hi"), col("hash_lo"),
        col("ck.c").as("c"), col("ck.chunk").as("chunk"))
  }

  /** Signature-collapsed candidate generation + exact Hamming verification
    * (see the ahashNearDup docstring for the measured skew rationale): the
    * chunk join and the bit_count verify run over DISTINCT signatures;
    * doc-level pairs are reconstituted by output-sized joins at the end.
    *
    * Letterbox quarantine (r16): pad-degenerate images — the measured
    * driver of the residual all-ones chunk bucket (BENCH_AHASH_sf10.json:
    * even after
    * signature collapse, one bucket holds the bulk of remaining candidate
    * mass, all of it pad-tail signatures) — are EXCLUDED from the chunk
    * join and route to the exact-signature path only: a quarantined
    * image's perceptual hash says "mostly pad", so its near-matches are
    * pad coincidences, not content duplicates, while verbatim re-encodes
    * (the true positives for degenerate frames) still surface at
    * Hamming 0 through the identical-signature path that covers ALL
    * images. The production shape letterboxDetect's docstring names:
    * quarantine BEFORE blocking keeps perceptual buckets un-degenerate. */
  private[graft] def ahashPairs(hashed0: DataFrame, w: Int): DataFrame = {
    // the signature frame is a mapPartitions DECODE output feeding four
    // plan branches (the distinct-signature build, both membership joins,
    // and the identical-signature self-join) — unpersisted, each branch
    // re-decoded the whole corpus (r17 verdict #3: four MapPartitions
    // subtrees per query plan). Persist: 4 machine words + a flag per doc,
    // the cheapest possible cache, and a lost block recomputes from
    // lineage. The result stays lazy; the caller's per-entry clearCache
    // drops the cache.
    ahashPairsOn(hashed0.persist(), w)
  }

  private def ahashPairsOn(hashed: DataFrame, w: Int): DataFrame = {
    val nchunks = 64 / w
    // one row per distinct signature OF THE CLEAN (non-letterboxed) docs,
    // keyed for the candidate join by its smallest clean member doc_id
    // (any total order works; min is deterministic) — doc-level gating,
    // mirrored per doc by the oracle.
    val clean = hashed.filter(!col("letterboxed"))
    val sigs = clean.groupBy("hash_hi", "hash_lo")
      .agg(min("doc_id").as("doc_id"))
    val chunks = ahashChunksOf(sigs, w)
    // candidate SIGNATURE pairs: chunk-bucketed, Hamming-verified once per
    // signature pair, deduped on the pair (a pair can share several chunks)
    val sigPairs = chunks.as("x").join(chunks.as("y"), Seq("c", "chunk"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.hash_hi").as("a_hi"), col("x.hash_lo").as("a_lo"),
        col("y.hash_hi").as("b_hi"), col("y.hash_lo").as("b_lo"),
        (bit_count(col("x.hash_hi").bitwiseXOR(col("y.hash_hi"))) +
         bit_count(col("x.hash_lo").bitwiseXOR(col("y.hash_lo")))).as("hamming"))
      .filter(col("hamming") <= nchunks - 1)
      .dropDuplicates("a_hi", "a_lo", "b_hi", "b_lo")
    // within-group doc pairs: identical signatures, Hamming 0 by definition
    val within = hashed.as("u").join(hashed.as("v"), Seq("hash_hi", "hash_lo"))
      .filter(col("u.doc_id") < col("v.doc_id"))
      .select(col("u.doc_id").as("doc_a"), col("v.doc_id").as("doc_b"),
        lit(0).as("hamming"))
    // cross-group doc pairs: every CLEAN member of signature a × every
    // CLEAN member of signature b — output-sized by construction (each doc
    // pair appears once: distinct signatures, deduped signature pairs);
    // quarantined docs never cross-pair, by design
    val cross = sigPairs
      .join(clean.as("ma"),
        col("a_hi") === col("ma.hash_hi") && col("a_lo") === col("ma.hash_lo"))
      .join(clean.as("mb"),
        col("b_hi") === col("mb.hash_hi") && col("b_lo") === col("mb.hash_lo"))
      .select(
        least(col("ma.doc_id"), col("mb.doc_id")).as("doc_a"),
        greatest(col("ma.doc_id"), col("mb.doc_id")).as("doc_b"),
        col("hamming"))
    within.unionAll(cross)
  }

  /** M7: audio near-dup fingerprinting — the PCM twin of the image aHash
    * family, completing dedup across text, image, and audio modalities:
    * a 64-bit frame-energy-band signature from REAL decoded samples (the
    * m7_pcm_energy 16-bit-LE decode, same mapPartitions batch shape)
    * through the SAME Manku chunk machinery as the image path
    * (`ahashPairs`: signature-collapse first, w-bit chunk buckets with the
    * corpus-adaptive width, exact bit_count verification — candidate
    * volume blocked by construction, never all-pairs).
    *
    * The signature is DELTA-CODED, not mean-thresholded: the clip's
    * samples split into 64 floor-boundary segments (the aHash block
    * geometry — segment k spans [k·n/64, (k+1)·n/64), nonempty whenever
    * n ≥ 64) and bit k compares NEIGHBORING segment energies around the
    * ring — the energy-difference sign coding audio fingerprinting uses
    * (Haitsma & Kalker's robust-hash shape), cross-multiplied exactly
    * (`acc_k·size_{k+1} > acc_{k+1}·size_k`; the long product is exact up
    * to ~5.9M samples and the kernel widens to a BigInt comparison past
    * that) so the oracle — which computes in HUGEINT at every length —
    * replays every bit at any clip length. Delta
    * coding makes the plant guarantee STRUCTURAL: a perturbation confined
    * to segment 0 can only flip bits 0 and 63 (its two neighboring
    * comparisons), so the planted near-dups (every 23rd eligible clip
    * with its first sample overwritten) sit at Hamming ≤ 2 BY
    * CONSTRUCTION — inside the ≤ 3 verify bound at every corpus size,
    * where a global-mean threshold could flip any near-threshold bit.
    * Verbatim plants (every 31st clip) sit at Hamming 0 and ride the
    * identical-signature leg.
    *
    * Degenerate-clip quarantine (the letterbox lesson, applied from the
    * start): a constant-energy clip — silence, test tones, the audio
    * analog of the all-pad frame — delta-codes to the all-zeros signature
    * (strict > around a ring is all-false iff all normalized energies are
    * equal), so those clips route to the exact-signature path only and
    * never enter the chunk join, keeping perceptual buckets un-degenerate.
    * Eligibility: ASCII docs of ≥ 128 chars (= 64 16-bit samples, the
    * minimum for nonempty segments); the byte-length = char-length test
    * excludes non-ASCII up front, same fixture precondition as the image
    * path (real audio takes binary payloads and never faces this). */
  def pcmNearDup(spark: SparkSession, dir: String): DataFrame = {
    val corpus = pcmCorpus(spark, dir)
    val w = Dedup.simhashChunkBits(corpus.count())
    ahashPairs(pcmSigOf(spark, corpus), w)
  }

  /** The audio-corpus fixture behind pcmNearDup: eligible ASCII clips plus
    * the two plant families (every 31st verbatim at Hamming 0, every 23rd
    * with its first sample — two leading chars — overwritten, confining
    * the perturbation to segment 0). */
  private[graft] def pcmCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
      .filter(octet_length(col("text")) === length(col("text")))
      .filter(length(col("text")) >= 128)
    val perturbed = docs.filter(col("doc_id") % 23 === 0)
      .select((col("doc_id") + 4000000).as("doc_id"),
        concat(lit("qq"), expr("substring(text, 3)")).as("text"))
    val verbatim = docs.filter(col("doc_id") % 31 === 0)
      .select((col("doc_id") + 5000000).as("doc_id"), col("text"))
    docs.unionAll(perturbed).unionAll(verbatim)
  }

  /** Marker bit for quarantined-clip CONTENT-KEY signatures: a constant-
    * energy clip delta-codes to all-zeros — a content-free signature — so
    * it routes to the exact-signature path with a SUBSTITUTED key (fold60
    * of the payload, the house content hash), not the collapsed zeros:
    * before r18 every constant-energy clip shared the one (0,0) signature
    * and the identical-signature leg reported silence and a loud constant
    * tone as "verbatim dups" (r17 ADVICE). The marker sits above the
    * 32-bit half-word range real signatures occupy, so a substituted key
    * can never collide with a live content signature in the
    * identical-signature join; quarantined clips now pair iff their
    * payload CONTENT KEYS match — a collision-negligible 60-bit digest
    * (fold60 is a truncation, not an injection: two distinct payloads
    * collide with probability ~2⁻⁶⁰, and the oracle replays the same
    * digest, so the two engines can never disagree about a pair) —
    * verbatim re-encodes of degenerate clips still surface at Hamming 0,
    * silence no longer pairs with tones. */
  private[graft] val QuarantineKeyMark = 1L << 62

  /** PCM decode + 64-bit delta-sign energy signature — the narrow map
    * stage (mapPartitions, no shuffle), emitting the (doc_id, hash_hi,
    * hash_lo, letterboxed) frame `ahashPairs` blocks on; `letterboxed`
    * carries the quarantine contract (here: constant-energy clips, whose
    * delta signature is all-zeros — substituted with the payload content
    * key, see `QuarantineKeyMark`). Bits pack as two 32-bit halves in
    * aHash's convention (bit k of the low half ↔ signature bit k). */
  private[graft] def pcmSigOf(spark: SparkSession,
      corpus: DataFrame): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaIn] = corpus
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[MediaIn]
    media.mapPartitions { rows =>
      rows.map { m =>
        pcmSignature(m.payload) match {
          case Some((hi, lo)) =>
            if (hi == 0L && lo == 0L) {
              val f = graft.functions.Fold60.fold(
                org.apache.spark.unsafe.types.UTF8String.fromBytes(m.payload))
              AHashRow(m.doc_id, ok = true,
                QuarantineKeyMark | (f >>> 32), f & 0xffffffffL,
                letterboxed = true)
            } else AHashRow(m.doc_id, ok = true, hi, lo, letterboxed = false)
          case None => AHashRow(m.doc_id, ok = false, 0L, 0L, letterboxed = false)
        }
      }
    }.toDF().filter(col("ok"))
      .select("doc_id", "hash_hi", "hash_lo", "letterboxed")
  }

  /** The pure signature kernel behind pcmSigOf (decode loop inlined at
    * segment width — PcmDecoder frames at a fixed 256 samples, the
    * fingerprint needs adaptive n/64 segments): 16-bit-LE samples, 64
    * floor-boundary segments, cross-multiplied delta-sign bits around the
    * ring, packed as two 32-bit halves (aHash's convention). Extracted so
    * GraftProps can pin the STRUCTURAL plant guarantee — a perturbation
    * confined to segment 0 flips only bits 0 and 63 — on arbitrary
    * generated clips, not just the fixture. None below 64 samples. */
  private[graft] def pcmSignature(b: Array[Byte]): Option[(Long, Long)] = {
    val n = b.length / 2
    if (n < 64) None
    else {
      val acc = new Array[Long](64)
      val sz = new Array[Long](64)
      var k = 0
      while (k < 64) {
        val st = (k.toLong * n / 64).toInt
        val en = ((k + 1).toLong * n / 64).toInt
        var a = 0L
        var j = st
        while (j < en) {
          val s = ((b(2 * j + 1): Int) << 8) | (b(2 * j) & 0xff) // LE, signed hi
          a += s.toLong * s
          j += 1
        }
        acc(k) = a; sz(k) = en - st
        k += 1
      }
      var hi = 0L; var lo = 0L
      // cross-multiplied comparison: acc ≤ sz·32767², so the long product
      // acc·sz' is exact while ceil(n/64)² · 2^30 < 2^63 — i.e. n below
      // ~5.93M samples (≈ 2 min at 44.1 kHz). Past that the comparison
      // widens to BigInt: the ORACLE computes in HUGEINT at every length,
      // so a silently wrapping long here would diverge engine-vs-oracle
      // on long clips, exactly the overflow class the silence-segment sum
      // already pays decimal for.
      val wide = n >= 5900000
      k = 0
      while (k < 64) {
        val kn = (k + 1) % 64
        val gt =
          if (wide) BigInt(acc(k)) * sz(kn) > BigInt(acc(kn)) * sz(k)
          else acc(k) * sz(kn) > acc(kn) * sz(k)
        if (gt) {
          if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
        }
        k += 1
      }
      Some((hi, lo))
    }
  }

  /** M7: temporal VIDEO near-dup fingerprinting — the clip-level member of
    * the perceptual family, completing the modality matrix (text MinHash/
    * SimHash, image aHash, audio PCM, video here): each clip decodes to a
    * SEQUENCE of frames through the real PPM decoder (one 16×1 P6 scanline
    * per `VideoFrameChars` bytes — the m7_frame_sample fixed-stride
    * geometry made concrete; trailing partial frame dropped, the
    * PcmDecoder convention), and the signature delta-codes ENERGY ALONG
    * TIME: the frames' gray pixels concatenate in temporal order and 64
    * floor-boundary segments of that stream compare neighboring energies
    * around the ring — the PCM delta-sign coding applied across frame
    * boundaries. Per-frame-only delta bits were considered and REJECTED on
    * measurement grounds: this fixture's clips carry ≤ 12 scanline frames
    * (longest doc 577 chars), so an F-bit frame-delta signature collapses
    * hundreds of clips into a handful of classes and the identical-
    * signature leg degenerates into a near-cartesian false-pair generator;
    * the 64-segment form keeps the fixed 64-bit width (and the Manku chunk
    * geometry) at ANY clip length, exactly like the audio path, while
    * still crossing frames — a re-encode that shifts one frame's content
    * moves every segment boundary comparison that frame participates in.
    *
    * Same machinery end to end: `ahashPairs` signature-collapsed Manku
    * blocking with the corpus-adaptive chunk width, exact bit_count
    * verification, constant-energy quarantine under payload content keys
    * (`QuarantineKeyMark` — silence-analog clips pair iff payloads match).
    * Plants: every 31st eligible clip verbatim (Hamming 0, the identical-
    * signature leg) and every 23rd with its FIRST PIXEL overwritten
    * (chars 1-3, one decoded pixel) — the perturbation is confined to
    * segment 0, so it can only flip ring bits 0 and 63: Hamming ≤ 2 BY
    * CONSTRUCTION (GraftProps pins this on arbitrary generated clips),
    * inside the verify bound at every corpus size. Eligibility: ASCII
    * clips of ≥ 192 chars = 4 scanline frames = 64 pixels, the minimum for
    * nonempty segments.
    *
    * 100 TB shape: decode + signature is one narrow mapPartitions pass
    * (O(clip bytes), no shuffle); everything after runs over 4-machine-
    * word signature rows through the same blocked pair search as the
    * image/audio paths — candidate volume bounded by distinct-signature
    * chunks, never all-pairs. */
  def videoNearDup(spark: SparkSession, dir: String): DataFrame = {
    val corpus = videoCorpus(spark, dir)
    val w = Dedup.simhashChunkBits(corpus.count())
    ahashPairs(videoSigOf(spark, corpus), w)
  }

  /** One decoded video frame = one 16×1 P6 scanline per 48 payload bytes
    * (16 RGB pixels); global pixel j therefore reads payload bytes
    * 3j..3j+2, which is what the oracle replays arithmetically. */
  private[graft] val VideoFrameChars = 48

  /** The video-corpus fixture behind videoNearDup: eligible ASCII clips
    * (≥ 192 chars = 4 frames) plus the two plant families (every 31st
    * verbatim at Hamming 0, every 23rd with its first decoded pixel —
    * three leading chars — overwritten, confining the perturbation to
    * segment 0). */
  private[graft] def videoCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
      .filter(octet_length(col("text")) === length(col("text")))
      .filter(length(col("text")) >= 192)
    val perturbed = docs.filter(col("doc_id") % 23 === 0)
      .select((col("doc_id") + 4000000).as("doc_id"),
        concat(lit("qqq"), expr("substring(text, 4)")).as("text"))
    val verbatim = docs.filter(col("doc_id") % 31 === 0)
      .select((col("doc_id") + 5000000).as("doc_id"), col("text"))
    docs.unionAll(perturbed).unionAll(verbatim)
  }

  /** Per-frame PPM decode + 64-bit temporal delta-sign signature — the
    * narrow map stage (mapPartitions, no shuffle), emitting the frame
    * `ahashPairs` blocks on. Every frame decodes through the REAL
    * PpmDecoder (one header + scanline payload per frame — the per-
    * partition decoder binding a real codec rides); a clip with any
    * undecodable frame takes the typed ok=false channel, never throws. */
  private[graft] def videoSigOf(spark: SparkSession,
      corpus: DataFrame): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaIn] = corpus
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[MediaIn]
    media.mapPartitions { rows =>
      val decoder = PpmDecoder // per-partition init point for a real codec
      val header = "P6\n16 1\n255\n"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      rows.map { m =>
        val nFrames = m.payload.length / VideoFrameChars
        val grays = new Array[Int](nFrames * 16)
        var ok = nFrames >= 1
        var f = 0
        while (ok && f < nFrames) {
          val fb = new Array[Byte](header.length + VideoFrameChars)
          System.arraycopy(header, 0, fb, 0, header.length)
          System.arraycopy(m.payload, f * VideoFrameChars,
            fb, header.length, VideoFrameChars)
          decoder.grayPixels(MediaIn(m.doc_id, fb)) match {
            case Some(g) => System.arraycopy(g, 0, grays, f * 16, 16)
            case None => ok = false
          }
          f += 1
        }
        if (!ok) AHashRow(m.doc_id, ok = false, 0L, 0L, letterboxed = false)
        else videoSignature(grays) match {
          case Some((hi, lo)) =>
            if (hi == 0L && lo == 0L) {
              val f60 = graft.functions.Fold60.fold(
                org.apache.spark.unsafe.types.UTF8String.fromBytes(m.payload))
              AHashRow(m.doc_id, ok = true,
                QuarantineKeyMark | (f60 >>> 32), f60 & 0xffffffffL,
                letterboxed = true)
            } else AHashRow(m.doc_id, ok = true, hi, lo, letterboxed = false)
          case None => AHashRow(m.doc_id, ok = false, 0L, 0L, letterboxed = false)
        }
      }
    }.toDF().filter(col("ok"))
      .select("doc_id", "hash_hi", "hash_lo", "letterboxed")
  }

  final case class ClipFrame(doc_id: Long, frame_no: Int, energy: Long,
      chars: String)

  /** Per-frame REAL PPM decode over a (doc_id, text) clip corpus — the one
    * narrow flatMap stage (one row per decodable scanline frame, work ∝
    * video bytes, no shuffle) shared by sceneCuts and keyframeAhash so
    * segmentation and keyframe extraction can never diverge. Each row
    * carries the frame's integer energy (the cut signal) and, when the
    * consumer asks for it, its raw 48-char payload slice (the keyframe
    * re-encode source). `withChars=false` skips the per-frame String
    * allocation + row encoding for energy-only consumers (sceneCuts
    * projects the column away, but a mapPartitions output can't be
    * column-pruned, so the saving has to happen at construction). */
  private[graft] def clipFrames(spark: SparkSession,
      corpus: DataFrame, withChars: Boolean = true): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaIn] = corpus
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[MediaIn]
    media.mapPartitions { rows =>
      val decoder = PpmDecoder // per-partition init point for a real codec
      val header = "P6\n16 1\n255\n"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      rows.flatMap { m =>
        val nFrames = m.payload.length / VideoFrameChars
        (0 until nFrames).iterator.flatMap { f =>
          val fb = new Array[Byte](header.length + VideoFrameChars)
          System.arraycopy(header, 0, fb, 0, header.length)
          System.arraycopy(m.payload, f * VideoFrameChars,
            fb, header.length, VideoFrameChars)
          decoder.grayPixels(MediaIn(m.doc_id, fb)).map { g =>
            var e = 0L; var i = 0
            while (i < g.length) { e += g(i); i += 1 }
            ClipFrame(m.doc_id, f, e,
              if (withChars)
                new String(m.payload, f * VideoFrameChars, VideoFrameChars,
                  java.nio.charset.StandardCharsets.US_ASCII)
              else "")
          }
        }
      }
    }.toDF()
  }

  /** The adaptive shot-boundary labeling over a decoded frame frame: a CUT
    * lands between consecutive frames whose absolute energy delta is at
    * least twice the clip's mean absolute delta, compared EXACTLY in
    * integer space (`|d|·n_deltas ≥ 2·Σ|d|` — |d| ≤ 12240 and frames ≤
    * clip bytes/48, so the products sit far inside Long while the oracle's
    * HUGEINT replays them bit-for-bit), and `scene_no` is the running cut
    * count + 1. Every window partitions by doc_id — no sort ever sees more
    * than one clip's frames (the silenceSegments islands discipline).
    * Extra input columns (e.g. the keyframe payload) ride through. */
  private[graft] def sceneLabeledFrames(frames: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dw = Window.partitionBy("doc_id")
    val ow = Window.partitionBy("doc_id").orderBy("frame_no")
    frames
      .withColumn("d", abs(col("energy") - lag(col("energy"), 1).over(ow)))
      // n_deltas = frames − 1; Σ|d| over the clip — both doc-partitioned
      .withColumn("nd", count(col("d")).over(dw))
      .withColumn("sumd", sum(col("d")).over(dw))
      // a cut opens a new scene AT this frame; frame 0 opens scene 1
      .withColumn("is_cut",
        when(col("d").isNotNull && col("sumd") > 0 &&
          col("d") * col("nd") >= col("sumd") * 2, 1L).otherwise(0L))
      .withColumn("scene_no",
        sum(col("is_cut")).over(ow.rowsBetween(Window.unboundedPreceding, 0))
          + 1)
  }

  /** M7: video scene-cut segmentation — the shot-boundary pass a video
    * pipeline runs before clip extraction (the silenceSegments analog for
    * the visual modality, completing the per-modality segmentation row:
    * audio VAD there, shot detection here): each clip's scanline-frame
    * sequence (the m7_video_neardup framing, REAL per-frame PPM decode
    * through the same mapPartitions batch shape) reduces to per-frame
    * integer energies, a CUT lands between consecutive frames whose
    * absolute energy delta is at least twice the clip's mean absolute
    * delta — a per-clip adaptive threshold (a global constant
    * misclassifies uniformly busy footage), compared EXACTLY in integer
    * space (`|d|·n_deltas ≥ 2·Σ|d|`; |d| ≤ 12240 and frames ≤ clip
    * bytes/48, so the products sit far inside Long while the oracle's
    * HUGEINT replays them bit-for-bit) — and scenes are the maximal runs
    * between cuts, one row per scene with its start frame, length, and
    * peak frame energy. A constant clip is one scene; a single-frame clip
    * has no deltas and is likewise one scene.
    *
    * 100 TB shape: decode is a narrow flatMap (one row per frame, work ∝
    * video duration); the threshold is two doc-partitioned window sums and
    * the scene id is a running cut count — every window partitions by
    * doc_id, so no sort ever sees more than one clip's frames (the
    * silenceSegments islands discipline, cut-count form). */
  def sceneCuts(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.documents(spark, dir)
      .filter(octet_length(col("text")) === length(col("text")))
      .filter(length(col("text")) >= VideoFrameChars)
      .select(col("doc_id"), col("text"))
    val scenes = sceneLabeledFrames(
      clipFrames(spark, corpus, withChars = false)
        .select("doc_id", "frame_no", "energy"))
    scenes.groupBy(col("doc_id"), col("scene_no"))
      .agg(min(col("frame_no")).as("start_frame"),
        count(lit(1)).as("n_frames"),
        max(col("energy")).as("peak_energy"))
      .select(col("doc_id"), col("scene_no").cast("long").as("scene_no"),
        col("start_frame"), col("n_frames"), col("peak_energy"))
  }

  /** Keyframe-id packing: kf_id = clip_id · 2²¹ + scene_no. scene_no ≤
    * frames = clip bytes / 48, and the 100× fixture's doc ids top out near
    * 10¹⁰, so the packed id sits under 2·10¹⁶ ≪ 2⁶³ for any reachable
    * clip; the pair output unpacks with DIV/MOD. */
  private[graft] val KeyframeStride = 1L << 21

  /** The clip corpus behind keyframeAhash: eligible ASCII clips (≥ 48
    * chars = 1 scanline frame) plus the RE-CUT plant family — every 37th
    * clip re-published with its opening frame intact and the rest of its
    * footage replaced (reversed), the "same cold-open, different edit"
    * case whole-clip temporal signatures miss by construction. */
  private[graft] def keyframeClipCorpus(spark: SparkSession,
      dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
      .filter(octet_length(col("text")) === length(col("text")))
      .filter(length(col("text")) >= VideoFrameChars)
    val recut = docs.filter(col("doc_id") % 37 === 0)
      .select((col("doc_id") + 6000000).as("doc_id"),
        concat(substring(col("text"), 1, VideoFrameChars),
          reverse(expr(s"substring(text, ${VideoFrameChars + 1})"))).as("text"))
    docs.unionAll(recut)
  }

  /** One keyframe image per scene: the scene's FIRST frame (arg-min by
    * frame_no via the min(struct) keyed agg — frame 0 always opens scene
    * 1, which is what makes shared-cold-open recall structural), its 16×1
    * scanline upsampled 4× horizontally (nearest neighbor — each payload
    * char quadrupled, the m7_resize_plan step made concrete) to the aHash
    * minimum 64-pixel geometry. The upsample is what keeps the signature
    * CONTENT-RICH: feeding the raw 48-char scanline through the image
    * path's ≥4-row padding would letterbox-quarantine every keyframe (75%
    * pad), and a vertical 4× tile carries only 16 effective bits — the
    * measured signature-collapse class where identical-signature groups
    * grow with the corpus over a fixed key space; the horizontal form's
    * 64 pixels mix neighboring source pixels (j reads chars ⌊3j/4⌋,
    * ⌊(3j+1)/4⌋, ⌊(3j+2)/4⌋), which keeps groups 92%-unique at sf0.1 —
    * but even this form collapses as the corpus grows (the keyframe census
    * at the 100× fixture, BENCH_KEYFRAME_sf10.json: 829 k keyframes over
    * 31 k distinct signatures,
    * max group 653 — near-identical opening frames are a property of the
    * DATA, not the hash), which is why keyframeAhash emits cluster star
    * edges rather than within-group pairs. */
  private[graft] def keyframeCorpus(spark: SparkSession,
      dir: String): DataFrame = {
    val frames = clipFrames(spark, keyframeClipCorpus(spark, dir))
    sceneLabeledFrames(frames)
      .groupBy(col("doc_id"), col("scene_no"))
      .agg(min(struct(col("frame_no"), col("chars"))).as("m"))
      .select(
        (col("doc_id") * KeyframeStride + col("scene_no")).as("doc_id"),
        expr(s"array_join(transform(sequence(1, $VideoFrameChars), " +
          "i -> repeat(substring(m.chars, i, 1), 4)), '')").as("text"))
  }

  /** M7: keyframe-level video dedup — the production video-dedup shape
    * (dedup KEYFRAMES, not clips): each clip segments into scenes
    * (`sceneCuts`'s adaptive shot-boundary pass, shared code), each scene
    * contributes one representative-frame image, and those keyframes run
    * through the image-signature machinery (`ahashHashedOf` real PPM
    * decode + letterbox quarantine, `ahashChunksOf` Manku blocking with
    * the corpus-adaptive chunk width) — so a re-cut clip that shares
    * scenes with a known clip surfaces at the keyframe level even when
    * the whole-clip temporal signatures (`m7_video_neardup`) differ.
    *
    * Output = duplicate-CLUSTER edges, not all pairs (round 19): one star
    * edge per keyframe to its identical-signature group's hub (the min
    * member, Hamming 0), plus one representative-level edge per chunk-
    * blocked near-dup signature pair (1 ≤ Hamming ≤ nchunks−1). Edges
    * unpack to (clip, scene); same-clip edges (adjacent scenes of one
    * video resembling each other) are dropped — cross-clip matches are
    * the dedup signal, and cluster membership (what dedup consumes —
    * the m6_dup_clusters star-edge convention, also used by
    * pairCuration's side-dup edges) is identical to the all-pairs form.
    * All-pairs output was REJECTED on measured grounds (the round-19
    * keyframe census, BENCH_KEYFRAME_sf10.json): opening frames collapse
    * onto few signatures as the corpus
    * grows — at the 100× fixture 829,094 keyframes share only 31,174
    * distinct signatures (92% unique at sf0.1; max group 653), so the
    * identical-signature pair leg alone held 37.8 M rows and the probe
    * read 40× wall. The real-corpus analog is black frames / studio
    * logos / intro cards: million-member signature groups whose pairwise
    * listing is quadratic and useless, while star edges stay one row per
    * keyframe. This is the r15 m7_ahash signature-collapse class, caught
    * by the same census discipline at the next scale up.
    *
    * Recall guarantee (plant): frame 0 opens scene 1 in EVERY clip, so a
    * plant sharing the original's opening frame shares scene 1's keyframe
    * payload verbatim → identical signature → same cluster via the group
    * hub (a DIRECT Hamming-0 edge when the group is exactly the pair),
    * regardless of where the re-cut moved every later scene boundary.
    * aHash's known constant-image trait carries over: constant-gray
    * scanlines all hash to all-ones and cluster via their group's star
    * edges (the image path's adjudicated semantics; the oracle replays
    * the hub rule bit-for-bit).
    *
    * 100 TB shape: decode + segmentation is the narrow clipFrames pass +
    * doc-partitioned windows; keyframes are 4-machine-word signature rows
    * (one per scene, ∝ content length); star edges are one keyed agg +
    * one equi-join (O(keyframes)); the near-dup leg is chunk-blocked over
    * DISTINCT signatures with no member fan-out — output is
    * O(keyframes + verified signature pairs), never quadratic in group
    * size. The keyframe frame is persisted: it feeds the
    * corpus-count (chunk geometry) and the hash path, and re-deriving it
    * would re-run decode + segmentation per consumer. */
  def keyframeAhash(spark: SparkSession, dir: String): DataFrame = {
    def result(kf: DataFrame, hashed: DataFrame): DataFrame = {
      val w = Dedup.simhashChunkBits(kf.count())
      keyframeClusterEdges(hashed, w)
        .select(
          expr(s"doc_a DIV $KeyframeStride").as("clip_a"),
          pmod(col("doc_a"), lit(KeyframeStride)).as("scene_a"),
          expr(s"doc_b DIV $KeyframeStride").as("clip_b"),
          pmod(col("doc_b"), lit(KeyframeStride)).as("scene_b"),
          col("hamming"))
        .filter(col("clip_a") =!= col("clip_b"))
    }
    // the ahashPairs persist convention: the keyframe corpus feeds the
    // corpus count and the hash path, and unpersisted each consumer would
    // re-run decode + segmentation. The HASHED frame is persisted too —
    // keyframeClusterEdges consumes it in three branches: hub groups, the
    // star join, and the clean-representative chunk path; unpersisted, the
    // keyframe aHash decode ran three times per query.
    val kf = keyframeCorpus(spark, dir).persist()
    result(kf, ahashHashedOf(spark, kf).persist())
  }

  /** Cluster-edge pair search over hashed keyframe signatures (see the
    * keyframeAhash docstring for the measured all-pairs rejection): star
    * edges hub → member within each identical-signature group (quarantined
    * rows join by their own signature and never cross-pair, the ahashPairs
    * convention), plus ONE representative-level edge per verified
    * chunk-blocked near-dup signature pair. Hub = min member, so edges are
    * always (smaller, larger)-oriented and a two-member group degenerates
    * to the direct pair. */
  private[graft] def keyframeClusterEdges(hashed: DataFrame, w: Int): DataFrame = {
    val nchunks = 64 / w
    val groups = hashed.groupBy("hash_hi", "hash_lo")
      .agg(min("doc_id").as("hub"))
    val star = hashed.join(groups, Seq("hash_hi", "hash_lo"))
      .filter(col("doc_id") =!= col("hub"))
      .select(col("hub").as("doc_a"), col("doc_id").as("doc_b"),
        lit(0).as("hamming"))
    // representative-level near-dup edges: the chunk join and the
    // bit_count verify run over CLEAN distinct signatures only (the
    // letterbox quarantine gates blocking exactly as in ahashPairs), and
    // the verified pair is emitted once at its representatives — no
    // member fan-out
    val reps = hashed.filter(!col("letterboxed"))
      .groupBy("hash_hi", "hash_lo").agg(min("doc_id").as("doc_id"))
    val chunks = ahashChunksOf(reps, w)
    val near = chunks.as("x").join(chunks.as("y"), Seq("c", "chunk"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        (bit_count(col("x.hash_hi").bitwiseXOR(col("y.hash_hi"))) +
         bit_count(col("x.hash_lo").bitwiseXOR(col("y.hash_lo")))).as("hamming"))
      .filter(col("hamming") <= nchunks - 1)
      .dropDuplicates("doc_a", "doc_b")
    star.unionAll(near)
  }

  /** The caption-pair fixture behind pairCuration: even documents act as
    * the image leg, odd documents as the caption leg, paired on the shared
    * derived key ⌊doc_id/2⌋ — assembled in ONE corpus pass (a keyed
    * aggregation pivots both legs out of the single scan; a self-join on
    * the pair key would read the corpus twice for the same frame). ASCII
    * eligibility applies to the image leg only (the image-fixture
    * precondition — see the ahashNearDup docstring). Plants: every 41st
    * pair re-published with the SAME image under a distinct caption
    * (reversed), every 43rd with the SAME caption over a distinct image —
    * the two duplication axes a crawl actually produces (one image scraped
    * with many alt-texts; one boilerplate caption across many images). */
  private[graft] def pairFixture(spark: SparkSession,
      dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .groupBy(expr("doc_id DIV 2").as("pair_id"))
      .agg(
        max(when(col("doc_id") % 2 === 0, col("doc_id"))).as("image_id"),
        max(when(col("doc_id") % 2 === 0, col("text"))).as("img_text"),
        max(when(col("doc_id") % 2 === 1, col("doc_id"))).as("caption_id"),
        max(when(col("doc_id") % 2 === 1, col("text"))).as("cap_text"))
      .filter(col("image_id").isNotNull && col("caption_id").isNotNull)
      .filter(octet_length(col("img_text")) === length(col("img_text")))
    val dupImage = base.filter(col("pair_id") % 41 === 0)
      .select((col("pair_id") + 10000000).as("pair_id"),
        (col("image_id") + 20000000).as("image_id"),
        (col("caption_id") + 20000000).as("caption_id"),
        col("img_text"), reverse(col("cap_text")).as("cap_text"))
    val dupCaption = base.filter(col("pair_id") % 43 === 0)
      .select((col("pair_id") + 11000000).as("pair_id"),
        (col("image_id") + 22000000).as("image_id"),
        (col("caption_id") + 22000000).as("caption_id"),
        reverse(col("img_text")).as("img_text"), col("cap_text"))
    base.select("pair_id", "image_id", "caption_id", "img_text", "cap_text")
      .unionAll(dupImage).unionAll(dupCaption)
  }

  /** M7: cross-modal caption-pair curation — the LAION shape: the curated
    * UNIT is the (image, caption) pair, not either modality alone. Three
    * existing components compose, each verbatim:
    *
    *   - pair-level gate = text quality (`TextAnalysis.classifyFrame`, the
    *     m6_quality_classifier inference core, over the caption leg) AND
    *     image non-degeneracy (`ahashHashedOf`'s letterbox quarantine flag
    *     over the image leg — a mostly-pad image is a broken scrape, not
    *     training signal);
    *   - pair near-dup clustering: either side duplicated ⇒ the pairs are
    *     one content group. Side duplication is exact-content (fold60
    *     keys); each side key contributes STAR edges to its group's min
    *     pair (blocked — never within-group all-pairs), and
    *     `Dedup.connectedComponents` closes transitively (pair A shares an
    *     image with B, B shares a caption with C ⇒ {A,B,C} — the
    *     large-star/small-star contraction, reused);
    *   - keep-best = the m6_cluster_keep_best rule at pair granularity:
    *     among a cluster's GATE-PASSING pairs, keep the highest caption
    *     quality (ties to the smaller pair id, min(struct) keyed agg — no
    *     window). A cluster with no passing pair keeps nothing
    *     (keeper_pair = −1).
    *
    * Output: one audit row per pair — gates, cluster, keeper, kept.
    *
    * 100 TB shape: one corpus scan builds the pair frame (persisted:
    * it feeds both gate legs, both side-key frames, and the output
    * scaffold); the caption gate is explode + one keyed agg, the image
    * gate one narrow mapPartitions decode; edges are key-grouped mins
    * (dup-group-sized, ∝ duplication rate, not corpus²); CC is
    * round-logarithmic; everything else is pair_id/cluster-keyed
    * equi-joins. No windows, no cartesians, no driver state. */
  def pairCuration(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    pairCurationOn(spark, pairFixture(spark, dir).persist())
  }

  private def pairCurationOn(spark: SparkSession, px: DataFrame): DataFrame = {
    // side-duplication star edges: per (side, content-key) group, everyone
    // links to the group min — connectivity-preserving and linear in the
    // group size (the within-group all-pairs form is quadratic in
    // duplication depth for zero extra information)
    val sides = px.select(col("pair_id"), lit(0).as("side"),
        Exact.fold60(col("img_text")).as("key"))
      .unionAll(px.select(col("pair_id"), lit(1).as("side"),
        Exact.fold60(col("cap_text")).as("key")))
    val roots = sides.groupBy("side", "key")
      .agg(min("pair_id").as("root"), count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
    val edges = sides.join(roots.select("side", "key", "root"),
        Seq("side", "key"))
      .filter(col("pair_id") =!= col("root"))
      .select(col("root").as("doc_a"), col("pair_id").as("doc_b"))
    val labels = Dedup.connectedComponents(edges, "pair_id")
    // the two gate legs, each the existing operator core verbatim
    val capGate = TextAnalysis.classifyFrame(
        px.select(col("pair_id").as("doc_id"), col("cap_text").as("text")))
      .select(col("doc_id").as("pair_id"), col("score"), col("keep"))
    val imgGate = ahashHashedOf(spark,
        px.select(col("pair_id").as("doc_id"), col("img_text").as("text")))
      .select(col("doc_id").as("pair_id"), (!col("letterboxed")).as("ok"))
    val gated = px.select("pair_id", "image_id", "caption_id")
      .join(imgGate, Seq("pair_id"), "left")
      .join(capGate, Seq("pair_id"), "left")
      .join(labels, Seq("pair_id"), "left")
      .select(col("pair_id"), col("image_id"), col("caption_id"),
        coalesce(col("cluster_id"), col("pair_id")).as("cluster_id"),
        coalesce(col("ok"), lit(false)).as("img_ok"),
        coalesce(col("keep"), lit(false)).as("cap_keep"),
        col("score"))
    val best = gated.filter(col("img_ok") && col("cap_keep"))
      .groupBy("cluster_id")
      .agg(min(struct((-col("score")).as("negq"), col("pair_id"))).as("m"))
      .select(col("cluster_id"), col("m.pair_id").as("keeper_pair"))
    val keeper = coalesce(col("keeper_pair"), lit(-1L))
    gated.join(best, Seq("cluster_id"), "left")
      .select(col("pair_id"), col("image_id"), col("caption_id"),
        col("cluster_id"), col("img_ok"), col("cap_keep"),
        keeper.as("keeper_pair"),
        (col("img_ok") && col("cap_keep") &&
          col("pair_id") === keeper).as("kept"))
  }

  /** The pure temporal-signature kernel behind videoSigOf: the decoded
    * gray-pixel stream in frame order, 64 floor-boundary segments,
    * cross-multiplied delta-sign bits around the ring (segment sizes
    * differ by at most one when n is not a multiple of 64), packed as two
    * 32-bit halves (aHash's convention). The long products are exact for
    * ANY reachable input: acc ≤ 765·sz (gray ≤ 3·255) so acc·sz' ≤
    * 765·sz·sz' ≤ 765·(n/64+1)², and n is a JVM array length < 2³¹ —
    * the product tops out near 8.6e17 < 2⁶³, so no BigInt widening is
    * needed where the PCM kernel (acc ≤ 32767²·sz) does need it. None
    * below 64 pixels. GraftProps pins the structural plant guarantee (a
    * perturbation confined to segment 0 flips only bits 0 and 63) on
    * arbitrary generated clips. */
  private[graft] def videoSignature(gray: Array[Int]): Option[(Long, Long)] = {
    val n = gray.length
    if (n < 64) None
    else {
      val acc = new Array[Long](64)
      val sz = new Array[Long](64)
      var k = 0
      while (k < 64) {
        val st = (k.toLong * n / 64).toInt
        val en = ((k + 1).toLong * n / 64).toInt
        var a = 0L
        var j = st
        while (j < en) { a += gray(j); j += 1 }
        acc(k) = a; sz(k) = en - st
        k += 1
      }
      var hi = 0L; var lo = 0L
      k = 0
      while (k < 64) {
        val kn = (k + 1) % 64
        if (acc(k) * sz(kn) > acc(kn) * sz(k)) {
          if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
        }
        k += 1
      }
      Some((hi, lo))
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m7_scene_cuts"     -> sceneCuts,
    "m7_keyframe_ahash" -> keyframeAhash,
    "m7_pair_curation"  -> pairCuration,
    "m7_video_neardup"  -> videoNearDup,
    "m7_pcm_neardup"    -> pcmNearDup,
    "m7_ahash_neardup"  -> ahashNearDup,
    "m7_binary_meta"    -> binaryMeta,
    "m7_frame_sample"   -> frameSample,
    "m7_resize_plan"    -> resizePlan,
    "m7_decode_features" -> decodeFeatures,
    "m7_pcm_energy"     -> pcmEnergy,
    "m7_silence_segments" -> silenceSegments,
    "m7_letterbox_detect" -> letterboxDetect)

  val oracles: Map[String, String] = Map(
    // Replays the scanline framing arithmetically (frame f's energy is the
    // code-point sum of chars 48f+1..48f+48), the same lag-delta, the same
    // exact integer adaptive-threshold cut (HUGEINT on the oracle side,
    // in-range longs on the engine side), the same running cut-count scene
    // id, and one group per scene.
    "m7_scene_cuts" ->
      """WITH d AS (
           SELECT doc_id, text FROM documents
           WHERE octet_length(encode(text)) = length(text)
             AND length(text) >= 48),
         fr AS (
           SELECT doc_id, CAST(u.fn AS INTEGER) AS frame_no,
             CAST(list_sum(list_transform(range(0, 48), j ->
               unicode(text[CAST(48*u.fn + j + 1 AS INTEGER)]))) AS BIGINT) AS energy
           FROM d, LATERAL unnest(range(0, length(text) // 48)) AS u(fn)),
         dd AS (
           SELECT doc_id, frame_no, energy,
             abs(energy - lag(energy) OVER (PARTITION BY doc_id ORDER BY frame_no)) AS dlt
           FROM fr),
         s AS (
           SELECT doc_id, frame_no, energy, dlt,
             count(dlt) OVER (PARTITION BY doc_id) AS nd,
             sum(dlt) OVER (PARTITION BY doc_id) AS sumd
           FROM dd),
         c AS (
           SELECT doc_id, frame_no, energy,
             CASE WHEN dlt IS NOT NULL AND sumd > 0
                       AND CAST(dlt AS HUGEINT) * nd >= CAST(sumd AS HUGEINT) * 2
                  THEN 1 ELSE 0 END AS is_cut
           FROM s),
         sc AS (
           SELECT doc_id, frame_no, energy,
             sum(is_cut) OVER (PARTITION BY doc_id ORDER BY frame_no
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1 AS scene_no
           FROM c)
         SELECT doc_id, CAST(scene_no AS BIGINT) AS scene_no,
           CAST(min(frame_no) AS INTEGER) AS start_frame,
           CAST(count(*) AS BIGINT) AS n_frames,
           max(energy) AS peak_energy
         FROM sc GROUP BY doc_id, scene_no""",
    // Full keyframe-dedup replay: the scene segmentation above (on the
    // plant-extended clip corpus), arg-min representative scanline per
    // scene, the 4x horizontal nearest-neighbor upsample replayed
    // arithmetically (upsampled pixel j grays as the code-point sum of
    // scanline chars ⌊3j/4⌋, ⌊(3j+1)/4⌋, ⌊(3j+2)/4⌋ — no string build
    // needed), the image path's aHash bits at n=64 (block k = pixel k, so
    // bit k is gr[k]·64 ≥ total), the letterbox rule at h=4 over tiled
    // rows (letterboxed ⟺ every scanline pixel grays to 3·'x' = 360), the
    // adaptive chunk geometry over the KEYFRAME count, quarantine excluded
    // from the chunk join, star edges to each signature group's min-member
    // hub, representative-level near-dup edges over clean distinct
    // signatures, and the (clip, scene) unpack with same-clip edges
    // dropped.
    "m7_keyframe_ahash" ->
      s"""WITH d AS (
           SELECT doc_id, text FROM documents
           WHERE octet_length(encode(text)) = length(text)
             AND length(text) >= 48),
         corpus AS (
           SELECT doc_id, text FROM d
           UNION ALL
           SELECT doc_id + 6000000,
                  substring(text, 1, 48) || reverse(substring(text, 49))
           FROM d WHERE doc_id % 37 = 0),
         fr AS (
           SELECT doc_id, CAST(u.fn AS INTEGER) AS frame_no,
             substring(text, CAST(48*u.fn + 1 AS INTEGER), 48) AS chars,
             CAST(list_sum(list_transform(range(0, 48), j ->
               unicode(text[CAST(48*u.fn + j + 1 AS INTEGER)]))) AS BIGINT) AS energy
           FROM corpus, LATERAL unnest(range(0, length(text) // 48)) AS u(fn)),
         dd AS (
           SELECT doc_id, frame_no, chars, energy,
             abs(energy - lag(energy) OVER (PARTITION BY doc_id ORDER BY frame_no)) AS dlt
           FROM fr),
         s AS (
           SELECT doc_id, frame_no, chars, dlt,
             count(dlt) OVER (PARTITION BY doc_id) AS nd,
             sum(dlt) OVER (PARTITION BY doc_id) AS sumd
           FROM dd),
         c AS (
           SELECT doc_id, frame_no, chars,
             CASE WHEN dlt IS NOT NULL AND sumd > 0
                       AND CAST(dlt AS HUGEINT) * nd >= CAST(sumd AS HUGEINT) * 2
                  THEN 1 ELSE 0 END AS is_cut
           FROM s),
         sc AS (
           SELECT doc_id, frame_no, chars,
             sum(is_cut) OVER (PARTITION BY doc_id ORDER BY frame_no
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1 AS scene_no
           FROM c),
         kf AS (
           SELECT doc_id, CAST(scene_no AS BIGINT) AS scene_no,
             arg_min(chars, frame_no) AS scanline
           FROM sc GROUP BY doc_id, scene_no),
         img AS (
           SELECT doc_id * $KeyframeStride + scene_no AS kf_id, scanline
           FROM kf),
         geom AS (SELECT CASE WHEN count(*) >= 4096 THEN 16 ELSE 8 END AS w,
                         CASE WHEN count(*) >= 4096 THEN 4 ELSE 8 END AS nchunks
                  FROM img),
         g AS (
           SELECT kf_id,
             list_transform(range(0, 64), j ->
               unicode(scanline[CAST((3*j)//4 + 1 AS INTEGER)])
               + unicode(scanline[CAST((3*j+1)//4 + 1 AS INTEGER)])
               + unicode(scanline[CAST((3*j+2)//4 + 1 AS INTEGER)])) AS gr
           FROM img),
         lb AS (
           -- trailing-pad-row rule, matching ahashHashedOf exactly: the
           -- keyframe image is a fixed 16x4 geometry (192 chars, never
           -- rpad'd), so "trailing all-pad rows * 4 >= h" degenerates to
           -- "the LAST row (pixels 49..64) is all pad-gray" — the same
           -- last-content-row convention the m7_ahash oracle replays in
           -- its general-h form
           SELECT kf_id,
             len(list_filter(gr[49:64], x -> x = 360)) = 16 AS letterboxed
           FROM g),
         t AS (SELECT kf_id, gr, list_sum(gr) AS tot FROM g),
         bits AS (
           SELECT kf_id,
             list_transform(range(0, 64), k ->
               CASE WHEN gr[CAST(k+1 AS INTEGER)] * 64 >= tot
                    THEN 1 ELSE 0 END) AS bv
           FROM t),
         hubs AS (
           SELECT bv, min(kf_id) AS hub FROM bits GROUP BY bv),
         star AS (
           SELECT hub AS kf_a, kf_id AS kf_b, 0 AS hamming
           FROM bits JOIN hubs USING (bv) WHERE kf_id <> hub),
         reps AS (
           SELECT bv, min(kf_id) AS kf_id
           FROM bits JOIN lb USING (kf_id) WHERE NOT letterboxed
           GROUP BY bv),
         chunks AS (
           SELECT kf_id, bv, c,
             list_sum(list_transform(range(0, w), tt ->
               bv[CAST(c*w + tt + 1 AS INTEGER)] * (1 << CAST(tt AS INTEGER)))) AS chunk
           FROM reps, geom,
                (SELECT unnest(range(0, 8)) AS c) cl
           WHERE c < nchunks),
         cand AS (
           SELECT DISTINCT x.kf_id AS kf_a, x.bv AS bva,
                           y.kf_id AS kf_b, y.bv AS bvb
           FROM chunks x JOIN chunks y ON x.c = y.c AND x.chunk = y.chunk
           WHERE x.kf_id < y.kf_id),
         ham AS (
           SELECT kf_a, kf_b,
             len(list_filter(range(0, 64), t ->
               bva[CAST(t + 1 AS INTEGER)] <> bvb[CAST(t + 1 AS INTEGER)])) AS hamming
           FROM cand),
         allp AS (
           SELECT kf_a, kf_b, hamming
           FROM ham, geom WHERE hamming <= nchunks - 1
           UNION ALL
           SELECT kf_a, kf_b, hamming FROM star)
         SELECT kf_a // $KeyframeStride AS clip_a,
                kf_a % $KeyframeStride AS scene_a,
                kf_b // $KeyframeStride AS clip_b,
                kf_b % $KeyframeStride AS scene_b, hamming
         FROM allp WHERE kf_a // $KeyframeStride <> kf_b // $KeyframeStride""",
    // Full pair-curation replay: the one-pass pair pivot with both plant
    // families, star edges per (side, fold60 content key), the recursive
    // transitive-closure CC (min reachable pair id — the contraction fixed
    // point), the m6_quality_classifier inference replay over captions,
    // the image-path letterbox replay over images, and the keep-best rule
    // (row_number replays min(struct) exactly — score is rounded on both
    // sides before comparison).
    "m7_pair_curation" ->
      s"""WITH RECURSIVE base AS (
           SELECT doc_id // 2 AS pair_id,
             max(CASE WHEN doc_id % 2 = 0 THEN doc_id END) AS image_id,
             max(CASE WHEN doc_id % 2 = 0 THEN text END) AS img_text,
             max(CASE WHEN doc_id % 2 = 1 THEN doc_id END) AS caption_id,
             max(CASE WHEN doc_id % 2 = 1 THEN text END) AS cap_text
           FROM documents GROUP BY 1),
         eligible AS (
           SELECT pair_id, image_id, caption_id, img_text, cap_text FROM base
           WHERE image_id IS NOT NULL AND caption_id IS NOT NULL
             AND octet_length(encode(img_text)) = length(img_text)),
         px AS (
           SELECT pair_id, image_id, caption_id, img_text, cap_text
           FROM eligible
           UNION ALL
           SELECT pair_id + 10000000, image_id + 20000000,
                  caption_id + 20000000, img_text, reverse(cap_text)
           FROM eligible WHERE pair_id % 41 = 0
           UNION ALL
           SELECT pair_id + 11000000, image_id + 22000000,
                  caption_id + 22000000, reverse(img_text), cap_text
           FROM eligible WHERE pair_id % 43 = 0),
         sides AS (
           SELECT 0 AS side, pair_id, ${Exact.sqlFold60("img_text")} AS key
           FROM px
           UNION ALL
           SELECT 1, pair_id, ${Exact.sqlFold60("cap_text")} AS key FROM px),
         roots AS (SELECT side, key, min(pair_id) AS root
                   FROM sides GROUP BY 1, 2 HAVING count(*) > 1),
         pairs AS (SELECT root AS doc_a, pair_id AS doc_b
                   FROM sides JOIN roots USING (side, key)
                   WHERE pair_id <> root),
         edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                   UNION ALL SELECT doc_b, doc_a FROM pairs),
         verts AS (SELECT DISTINCT u AS pair_id FROM edges),
         reach(pair_id, r) AS (
           SELECT pair_id, pair_id FROM verts
           UNION
           SELECT e.u, reach.r FROM reach JOIN edges e ON e.v = reach.pair_id),
         cl AS (SELECT pair_id, min(r) AS cluster_id FROM reach GROUP BY 1),
         cl2 AS (SELECT p.pair_id, COALESCE(cl.cluster_id, p.pair_id) AS cluster_id
                 FROM px p LEFT JOIN cl ON cl.pair_id = p.pair_id),
         tk AS (SELECT pair_id, ${TextAnalysis.sqlNormTokens("cap_text")} AS t
                FROM px),
         f AS (SELECT pair_id,
                 unnest(t || ${TextAnalysis.sqlShingles("t", 2)}) AS feat
               FROM tk),
         b AS (SELECT pair_id,
                 ${Exact.sqlFold60("feat || '|qc'")} % 4096 AS bucket FROM f),
         w AS (SELECT pair_id,
                 ${Exact.sqlFold60("CAST(bucket AS VARCHAR) || '|qw'")} % 2001 - 1000 AS w
               FROM b),
         qa AS (SELECT pair_id, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(w) AS BIGINT) AS sw
                FROM w GROUP BY 1),
         q AS (SELECT pair_id,
                 ${Exact.sqlRnd("0.1 + CAST(sw AS DOUBLE) / CAST(n AS DOUBLE) / 1000.0", 4)} AS score,
                 sw >= -100 * n AS keep FROM qa),
         im AS (SELECT pair_id, 16 * greatest(4, length(img_text) // 48) AS n,
                  substring(rpad(img_text, CAST(greatest(4, length(img_text) // 48) * 48 AS INTEGER), 'x'),
                            1, CAST(greatest(4, length(img_text) // 48) * 48 AS INTEGER)) AS ipx
                FROM px),
         gi AS (SELECT pair_id, n,
                  list_transform(range(0, n), j ->
                    unicode(ipx[CAST(3*j+1 AS INTEGER)])
                    + unicode(ipx[CAST(3*j+2 AS INTEGER)])
                    + unicode(ipx[CAST(3*j+3 AS INTEGER)])) AS gr
                FROM im),
         lb AS (SELECT pair_id,
                  (n // 16 - 1 - (list_max(list_transform(range(0, n), j ->
                     CASE WHEN gr[CAST(j+1 AS INTEGER)] <> 360 THEN j ELSE -1 END)) // 16))
                    * 4 >= n // 16 AS letterboxed
                FROM gi),
         gate AS (SELECT p.pair_id,
                    COALESCE(NOT lb.letterboxed, FALSE) AS img_ok,
                    COALESCE(q.keep, FALSE) AS cap_keep, q.score
                  FROM px p LEFT JOIN lb USING (pair_id)
                            LEFT JOIN q ON q.pair_id = p.pair_id),
         gated AS (SELECT g.pair_id, c.cluster_id, g.score
                   FROM gate g JOIN cl2 c USING (pair_id)
                   WHERE img_ok AND cap_keep),
         bk AS (SELECT cluster_id, pair_id AS keeper_pair FROM (
                  SELECT cluster_id, pair_id,
                    row_number() OVER (PARTITION BY cluster_id
                      ORDER BY score DESC, pair_id) AS rn
                  FROM gated) t WHERE rn = 1)
         SELECT p.pair_id, p.image_id, p.caption_id, c.cluster_id,
           g.img_ok, g.cap_keep,
           COALESCE(bk.keeper_pair, -1) AS keeper_pair,
           g.img_ok AND g.cap_keep
             AND p.pair_id = COALESCE(bk.keeper_pair, -1) AS kept
         FROM px p JOIN cl2 c USING (pair_id)
                   JOIN gate g ON g.pair_id = p.pair_id
         LEFT JOIN bk ON bk.cluster_id = c.cluster_id""",
    // Full temporal video-fingerprint replay: same eligibility (ASCII,
    // >= 192 chars = 4 scanline frames = 64 pixels), same plants, the same
    // frame framing replayed arithmetically (frame f's scanline is payload
    // bytes 48f..48f+47, so global pixel j grays as the code-point sum of
    // chars 3j+1..3j+3 — trailing partial frame dropped via n = 16*(len//48)),
    // the same 64 floor-boundary segments over the temporal pixel stream,
    // cross-multiplied delta-sign ring bits, adaptive chunk geometry,
    // quarantine excluded from the chunk join, and the content-key pairing
    // leg for quarantined clips (the m7_pcm_neardup convention).
    "m7_video_neardup" ->
      s"""WITH eligible AS (
           SELECT doc_id, text FROM documents
           WHERE octet_length(encode(text)) = length(text)
             AND length(text) >= 192),
         corpus AS (
           SELECT doc_id, text FROM eligible
           UNION ALL
           SELECT doc_id + 4000000, 'qqq' || substring(text, 4)
           FROM eligible WHERE doc_id % 23 = 0
           UNION ALL
           SELECT doc_id + 5000000, text FROM eligible WHERE doc_id % 31 = 0),
         geom AS (SELECT CASE WHEN count(*) >= 4096 THEN 16 ELSE 8 END AS w,
                         CASE WHEN count(*) >= 4096 THEN 4 ELSE 8 END AS nchunks
                  FROM corpus),
         px AS (SELECT doc_id, 16 * (length(text) // 48) AS n,
                  list_transform(range(0, 16 * (length(text) // 48)), j ->
                    unicode(text[CAST(3*j+1 AS INTEGER)])
                    + unicode(text[CAST(3*j+2 AS INTEGER)])
                    + unicode(text[CAST(3*j+3 AS INTEGER)])) AS gr
                FROM corpus),
         acc AS (SELECT doc_id,
                   list_transform(range(0, 64), k ->
                     list_sum(gr[CAST(k*n//64 + 1 AS INTEGER) : CAST((k+1)*n//64 AS INTEGER)])) AS e,
                   list_transform(range(0, 64), k ->
                     (k+1)*n//64 - k*n//64) AS sz
                 FROM px),
         bits AS (SELECT doc_id,
                    list_transform(range(0, 64), k ->
                      CASE WHEN e[CAST(k+1 AS INTEGER)] * sz[CAST((k+1)%64+1 AS INTEGER)]
                                > e[CAST((k+1)%64+1 AS INTEGER)] * sz[CAST(k+1 AS INTEGER)]
                           THEN 1 ELSE 0 END) AS bv
                  FROM acc),
         chunks AS (SELECT doc_id, bv, c,
                      list_sum(list_transform(range(0, w), tt ->
                        bv[CAST(c*w + tt + 1 AS INTEGER)] * (1 << CAST(tt AS INTEGER)))) AS chunk
                    FROM bits, geom,
                         (SELECT unnest(range(0, 8)) AS c) cl
                    WHERE c < nchunks AND list_sum(bv) <> 0),
         cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
                  FROM chunks x JOIN chunks y ON x.c = y.c AND x.chunk = y.chunk
                  WHERE x.doc_id < y.doc_id),
         ham AS (SELECT doc_a, doc_b,
                   len(list_filter(range(0, 64), t ->
                     a.bv[CAST(t + 1 AS INTEGER)] <> b.bv[CAST(t + 1 AS INTEGER)])) AS hamming
                 FROM cand JOIN bits a ON a.doc_id = cand.doc_a
                           JOIN bits b ON b.doc_id = cand.doc_b),
         pk AS (SELECT b.doc_id,
                  CASE WHEN list_sum(b.bv) = 0
                       THEN [CAST(-1 AS BIGINT), ${Exact.sqlFold60("c.text")}]
                       ELSE list_transform(b.bv, x -> CAST(x AS BIGINT)) END AS key
                FROM bits b JOIN corpus c USING (doc_id))
         SELECT doc_a, doc_b, hamming
         FROM ham, geom WHERE hamming <= nchunks - 1 AND hamming > 0
         UNION ALL
         SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, 0 AS hamming
         FROM pk x JOIN pk y ON x.key = y.key AND x.doc_id < y.doc_id""",
    // Full PCM-fingerprint replay: same eligibility (ASCII, >= 128 chars =
    // 64 16-bit samples), same plants, same floor-boundary segment
    // geometry, the same cross-multiplied delta-sign bits (exact integer —
    // DuckDB squares and sums in HUGEINT, Spark in overflow-safe longs),
    // the same adaptive chunk geometry, quarantine (all-zero signature)
    // excluded from the chunk join. Identical-signature pairs come from a
    // pairing-key leg over ALL clips where a quarantined clip's key is its
    // payload content hash ([-1, fold60] — a 2-element list can never
    // equal a 64-element live bit vector), mirroring the engine's
    // QuarantineKeyMark substitution: quarantined clips pair iff payloads
    // match, never on the collapsed zero signature (r17 ADVICE). Samples
    // decode little-endian: char 2j+1 (1-indexed) is the low byte, char
    // 2j+2 the high.
    "m7_pcm_neardup" ->
      s"""WITH eligible AS (
           SELECT doc_id, text FROM documents
           WHERE octet_length(encode(text)) = length(text)
             AND length(text) >= 128),
         corpus AS (
           SELECT doc_id, text FROM eligible
           UNION ALL
           SELECT doc_id + 4000000, 'qq' || substring(text, 3)
           FROM eligible WHERE doc_id % 23 = 0
           UNION ALL
           SELECT doc_id + 5000000, text FROM eligible WHERE doc_id % 31 = 0),
         geom AS (SELECT CASE WHEN count(*) >= 4096 THEN 16 ELSE 8 END AS w,
                         CASE WHEN count(*) >= 4096 THEN 4 ELSE 8 END AS nchunks
                  FROM corpus),
         smp AS (SELECT doc_id, length(text) // 2 AS n,
                   list_transform(range(0, length(text) // 2), j ->
                     CAST(unicode(text[CAST(2*j+2 AS INTEGER)]) * 256
                          + unicode(text[CAST(2*j+1 AS INTEGER)]) AS BIGINT)) AS s
                 FROM corpus),
         acc AS (SELECT doc_id,
                   list_transform(range(0, 64), k ->
                     list_sum(list_transform(
                       s[CAST(k*n//64 + 1 AS INTEGER) : CAST((k+1)*n//64 AS INTEGER)],
                       v -> v*v))) AS e,
                   list_transform(range(0, 64), k ->
                     (k+1)*n//64 - k*n//64) AS sz
                 FROM smp),
         bits AS (SELECT doc_id,
                    list_transform(range(0, 64), k ->
                      CASE WHEN e[CAST(k+1 AS INTEGER)] * sz[CAST((k+1)%64+1 AS INTEGER)]
                                > e[CAST((k+1)%64+1 AS INTEGER)] * sz[CAST(k+1 AS INTEGER)]
                           THEN 1 ELSE 0 END) AS bv
                  FROM acc),
         chunks AS (SELECT doc_id, bv, c,
                      list_sum(list_transform(range(0, w), tt ->
                        bv[CAST(c*w + tt + 1 AS INTEGER)] * (1 << CAST(tt AS INTEGER)))) AS chunk
                    FROM bits, geom,
                         (SELECT unnest(range(0, 8)) AS c) cl
                    WHERE c < nchunks AND list_sum(bv) <> 0),
         cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
                  FROM chunks x JOIN chunks y ON x.c = y.c AND x.chunk = y.chunk
                  WHERE x.doc_id < y.doc_id),
         ham AS (SELECT doc_a, doc_b,
                   len(list_filter(range(0, 64), t ->
                     a.bv[CAST(t + 1 AS INTEGER)] <> b.bv[CAST(t + 1 AS INTEGER)])) AS hamming
                 FROM cand JOIN bits a ON a.doc_id = cand.doc_a
                           JOIN bits b ON b.doc_id = cand.doc_b),
         pk AS (SELECT b.doc_id,
                  CASE WHEN list_sum(b.bv) = 0
                       THEN [CAST(-1 AS BIGINT), ${Exact.sqlFold60("c.text")}]
                       ELSE list_transform(b.bv, x -> CAST(x AS BIGINT)) END AS key
                FROM bits b JOIN corpus c USING (doc_id))
         SELECT doc_a, doc_b, hamming
         FROM ham, geom WHERE hamming <= nchunks - 1 AND hamming > 0
         UNION ALL
         SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, 0 AS hamming
         FROM pk x JOIN pk y ON x.key = y.key AND x.doc_id < y.doc_id""",
    // Full aHash replay: same framing, same exact integer block-mean bits,
    // same adaptive chunk geometry (count >= 4096, the simhashChunkBits
    // rule), candidate chunks re-assembled from the bit vector, Hamming as
    // the differing-bit count over the same 64 bits. Letterbox quarantine
    // replayed per doc: pad-degenerate images (trailing all-360 gray rows
    // >= 25% of the frame — the letterboxDetect rule over the SAME gray
    // list) are excluded from the chunk join; identical-signature pairs
    // (Hamming 0) come from a bv-equality leg that covers ALL images, the
    // exact-signature path quarantined docs route to. The two legs are
    // disjoint (distinct signatures have Hamming >= 1).
    "m7_ahash_neardup" ->
      """WITH ascii_docs AS (
           SELECT doc_id, text FROM documents
           WHERE octet_length(encode(text)) = length(text)),
         corpus AS (
           SELECT doc_id, text FROM ascii_docs
           UNION ALL
           SELECT doc_id + 4000000, substring(text, 1, length(text) - 6) || 'qqqqqq'
           FROM ascii_docs WHERE doc_id % 23 = 0
           UNION ALL
           SELECT doc_id + 5000000, text FROM ascii_docs WHERE doc_id % 31 = 0),
         geom AS (SELECT CASE WHEN count(*) >= 4096 THEN 16 ELSE 8 END AS w,
                         CASE WHEN count(*) >= 4096 THEN 4 ELSE 8 END AS nchunks
                  FROM corpus),
         img AS (SELECT doc_id, 16 * greatest(4, length(text) // 48) AS n,
                   substring(rpad(text, CAST(greatest(4, length(text) // 48) * 48 AS INTEGER), 'x'),
                             1, CAST(greatest(4, length(text) // 48) * 48 AS INTEGER)) AS px
                 FROM corpus),
         g AS (SELECT doc_id, n,
                 list_transform(range(0, n), j ->
                   unicode(px[CAST(3*j+1 AS INTEGER)])
                   + unicode(px[CAST(3*j+2 AS INTEGER)])
                   + unicode(px[CAST(3*j+3 AS INTEGER)])) AS gr
               FROM img),
         lb AS (SELECT doc_id,
                  (n // 16 - 1 - (list_max(list_transform(range(0, n), j ->
                     CASE WHEN gr[CAST(j+1 AS INTEGER)] <> 360 THEN j ELSE -1 END)) // 16))
                    * 4 >= n // 16 AS letterboxed
                FROM g),
         t AS (SELECT doc_id, n, gr, list_sum(gr) AS tot FROM g),
         bits AS (SELECT doc_id,
                    list_transform(range(0, 64), k ->
                      CASE WHEN list_sum(gr[CAST(k*n//64 + 1 AS INTEGER) : CAST((k+1)*n//64 AS INTEGER)]) * n
                                >= tot * ((k+1)*n//64 - k*n//64)
                           THEN 1 ELSE 0 END) AS bv
                  FROM t),
         chunks AS (SELECT doc_id, bv, c,
                      list_sum(list_transform(range(0, w), tt ->
                        bv[CAST(c*w + tt + 1 AS INTEGER)] * (1 << CAST(tt AS INTEGER)))) AS chunk
                    FROM bits JOIN lb USING (doc_id), geom,
                         (SELECT unnest(range(0, 8)) AS c) cl
                    WHERE c < nchunks AND NOT letterboxed),
         cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
                  FROM chunks x JOIN chunks y ON x.c = y.c AND x.chunk = y.chunk
                  WHERE x.doc_id < y.doc_id),
         ham AS (SELECT doc_a, doc_b,
                   len(list_filter(range(0, 64), t ->
                     a.bv[CAST(t + 1 AS INTEGER)] <> b.bv[CAST(t + 1 AS INTEGER)])) AS hamming
                 FROM cand JOIN bits a ON a.doc_id = cand.doc_a
                           JOIN bits b ON b.doc_id = cand.doc_b)
         SELECT doc_a, doc_b, hamming
         FROM ham, geom WHERE hamming <= nchunks - 1 AND hamming > 0
         UNION ALL
         SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, 0 AS hamming
         FROM bits x JOIN bits y ON x.bv = y.bv AND x.doc_id < y.doc_id""",
    // sha256 of the text's UTF-8 bytes == sha256 of the encoded blob.
    "m7_binary_meta" ->
      """SELECT doc_id,
         octet_length(encode(text)) AS byte_len,
         sha256(text) AS checksum,
         octet_length(encode(text)) % 64 + 16 AS width,
         octet_length(encode(text)) % 48 + 16 AS height,
         CAST(octet_length(encode(text)) // 100 + 1 AS INTEGER) AS n_frames
         FROM documents""",
    "m7_frame_sample" ->
      """SELECT doc_id, frame_no, frame_no * 100 AS frame_offset, byte_len
         FROM (SELECT doc_id,
                 octet_length(encode(text)) AS byte_len,
                 CAST(octet_length(encode(text)) // 100 + 1 AS INTEGER) AS n_frames
               FROM documents) m,
              LATERAL unnest(range(0, CAST(n_frames AS BIGINT), 4)) AS u(frame_no)""",
    "m7_resize_plan" ->
      s"""WITH m AS (SELECT doc_id,
             CAST(octet_length(encode(text)) % 64 + 16 AS INTEGER) AS width,
             CAST(octet_length(encode(text)) % 48 + 16 AS INTEGER) AS height
           FROM documents)
          SELECT doc_id, width, height,
            ${Exact.sqlRnd("224.0 / CAST(least(width, height) AS DOUBLE)", 4)} AS scale,
            CAST((width * 224 + least(width, height) - 1) // least(width, height) AS INTEGER) AS scaled_w,
            CAST((height * 224 + least(width, height) - 1) // least(width, height) AS INTEGER) AS scaled_h,
            CAST(150528 AS INTEGER) AS out_bytes
          FROM m""",
    // Replays the PPM framing + decode arithmetically: the pixel body is the
    // padded text itself, so each channel mean is a sum of `unicode(px[i])`
    // over that channel's 1-based positions (ASCII ⇒ codepoint == payload
    // byte; length == octet_length corpus-wide), divided once in IEEE
    // double. Malformed plants (doc_id % 61) must come back as rejected
    // zero rows — the decoder's typed error channel.
    "m7_decode_features" ->
      s"""WITH base AS (
            SELECT doc_id, doc_id % 61 = 0 AS malformed,
                   greatest(1, length(text) // 48) AS h,
                   substring(rpad(text, CAST(greatest(1, length(text) // 48) * 48 AS INTEGER), 'x'),
                             1, CAST(greatest(1, length(text) // 48) * 48 AS INTEGER)) AS px
            FROM documents)
          SELECT doc_id,
            NOT malformed AS ok,
            CASE WHEN malformed THEN 0 ELSE 16 END AS width,
            CASE WHEN malformed THEN 0 ELSE CAST(h AS INTEGER) END AS height,
            CASE WHEN malformed THEN 0 ELSE CAST(h * 16 AS INTEGER) END AS n_pixels,
            ${Seq("r" -> 1, "g" -> 2, "b" -> 3).map { case (c, o) =>
              s"""CASE WHEN malformed THEN 0.0 ELSE
                  CAST(list_sum(list_transform(range($o, CAST(h * 48 AS BIGINT) + 1, 3),
                    i -> unicode(px[CAST(i AS INTEGER)]))) AS DOUBLE)
                  / CAST(h * 16 AS DOUBLE) END AS mean_$c""" }.mkString(", ")}
          FROM base""",
    // Replays the 16-bit-LE framing arithmetically: sample i is byte 2i
    // (low) + byte 2i+1 (high) — 1-based text positions 2i+1 / 2i+2; ASCII
    // bytes never set the sign bit, so the signed interpretation equals the
    // unsigned one here (the sign-extension path is spec-covered). The
    // frame sum is exact integer arithmetic; the single divide replays
    // bit-for-bit.
    "m7_pcm_energy" ->
      """WITH f AS (
           SELECT doc_id, text, (length(text) // 2) // 256 AS n_frames
           FROM documents),
         fr AS (
           SELECT doc_id, text, CAST(u.fn AS INTEGER) AS frame_no
           FROM f, LATERAL unnest(range(0, n_frames)) AS u(fn))
         SELECT doc_id, frame_no, CAST(256 AS INTEGER) AS n_samples,
           CAST(list_sum(list_transform(
             list_transform(range(0, 256), k ->
               CAST(unicode(text[CAST(2 * (frame_no * 256 + k) + 2 AS INTEGER)]) * 256
                    + unicode(text[CAST(2 * (frame_no * 256 + k) + 1 AS INTEGER)]) AS BIGINT)),
             s -> s * s)) AS DOUBLE) / 256.0 AS energy
         FROM fr""",
    // Replays the frame decode to the exact integer acc (energy·256), the
    // same decimal/HUGEINT-exact quiet comparison, the same islands key,
    // and one divide for the peak (max over acc = max over energy: /256
    // is monotone and exact).
    "m7_silence_segments" ->
      s"""WITH f AS (
           SELECT doc_id, text, (length(text) // 2) // 256 AS n_frames
           FROM documents),
         fr AS (
           SELECT doc_id, text, CAST(u.fn AS INTEGER) AS frame_no
           FROM f, LATERAL unnest(range(0, n_frames)) AS u(fn)),
         e AS (
           SELECT doc_id, frame_no,
             CAST(list_sum(list_transform(
               list_transform(range(0, 256), k ->
                 CAST(unicode(text[CAST(2 * (frame_no * 256 + k) + 2 AS INTEGER)]) * 256
                      + unicode(text[CAST(2 * (frame_no * 256 + k) + 1 AS INTEGER)]) AS BIGINT)),
               s -> s * s)) AS BIGINT) AS acc
           FROM fr),
         s AS (
           SELECT doc_id, frame_no, acc,
             sum(acc) OVER (PARTITION BY doc_id) AS tot,
             count(*) OVER (PARTITION BY doc_id) AS nf
           FROM e),
         q AS (
           SELECT doc_id, frame_no, acc,
             CAST(acc AS HUGEINT) * 10 * nf < CAST(tot AS HUGEINT) * 8 AS is_quiet
           FROM s),
         i AS (
           SELECT *, frame_no - row_number() OVER (
             PARTITION BY doc_id, is_quiet ORDER BY frame_no) AS isl
           FROM q),
         g AS (
           SELECT doc_id, is_quiet, CAST(min(frame_no) AS INTEGER) AS start_frame,
             CAST(count(*) AS BIGINT) AS n_frames, max(acc) AS pk
           FROM i GROUP BY doc_id, is_quiet, isl)
         SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_frame)
             AS INTEGER) AS seg_no,
           is_quiet, start_frame, n_frames,
           ${Exact.sqlRnd("CAST(pk AS DOUBLE) / 256.0", 4)} AS peak_energy
         FROM g""",
    // Replays the aHash framing (ASCII docs, 16-wide, 'x' pad, truncate to
    // the pixel grid), grays each pixel as the 3-byte code-point sum, and
    // counts the trailing run of rows whose 16 pixels all equal the pad
    // gray (3·120) — pad_rows = height − (last non-pad row + 1), height
    // when every row is pad. Integer flag, one reported divide.
    "m7_letterbox_detect" ->
      s"""WITH d AS (
           SELECT doc_id, text FROM documents
           WHERE octet_length(encode(text)) = length(text)),
         img AS (SELECT doc_id, greatest(4, length(text) // 48) AS h,
                   substring(rpad(text, CAST(greatest(4, length(text) // 48) * 48 AS INTEGER), 'x'),
                             1, CAST(greatest(4, length(text) // 48) * 48 AS INTEGER)) AS px
                 FROM d),
         r AS (SELECT doc_id, h, CAST(u.rn AS BIGINT) AS rn,
                 list_sum(list_transform(range(0, 16), k ->
                   CASE WHEN unicode(px[CAST(rn*48 + 3*k + 1 AS INTEGER)])
                             + unicode(px[CAST(rn*48 + 3*k + 2 AS INTEGER)])
                             + unicode(px[CAST(rn*48 + 3*k + 3 AS INTEGER)]) = 360
                        THEN 1 ELSE 0 END)) = 16 AS padrow
               FROM img, LATERAL unnest(range(0, h)) AS u(rn)),
         s AS (SELECT doc_id, CAST(max(h) AS INTEGER) AS height,
                 CAST(max(h) - coalesce(max(CASE WHEN NOT padrow THEN rn + 1 END), 0)
                   AS INTEGER) AS pad_rows
               FROM r GROUP BY doc_id)
         SELECT doc_id, height, pad_rows,
           ${Exact.sqlRnd("CAST(pad_rows AS DOUBLE) / CAST(height AS DOUBLE)", 4)} AS pad_frac,
           pad_rows * 4 >= height AS letterboxed
         FROM s""")
}
