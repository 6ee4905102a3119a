package graft

import graft.operators.Generator
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** ScalaCheck properties for the pure invariants the operators lean on
  * (SURVEY.md §5 — the property-based layer; DataFrame-backed behavior is
  * covered by the ScalaTest suites and the DuckDB oracle). */
object GraftProps extends Properties("graft") {

  // ---- SimHash chunk blocking (Dedup.simhashPairs) -------------------------
  // Pigeonhole guarantee: any pair within Hamming distance 7 shares at least
  // one aligned 8-bit chunk, so chunk-bucket candidate generation has exact
  // recall at the <=7 output bound — for EVERY signature and flip pattern.
  property("simhash: hamming<=7 pairs always collide in some 8-bit chunk") =
    forAll(Gen.long, Gen.listOfN(7, Gen.choose(0, 63))) { (sig, bits) =>
      val other = bits.distinct.foldLeft(sig)((s, b) => s ^ (1L << b))
      (0 until 8).exists(c => ((sig >>> (8 * c)) & 0xFF) == ((other >>> (8 * c)) & 0xFF))
    }

  property("simhash: converse — equal chunk does not require hamming<=7 (blocking only filters, never decides)") =
    forAll(Gen.long) { sig =>
      // flipping all 56 bits outside one chunk keeps that chunk equal while
      // hamming = 56: candidates beyond the bound MUST still be verified
      val other = sig ^ ~0xFFL
      val sameChunk = ((sig >>> 0) & 0xFF) == ((other >>> 0) & 0xFF)
      val hamming = java.lang.Long.bitCount(sig ^ other)
      sameChunk && hamming > 7
    }

  // ---- Adaptive chunk width (Dedup.simhashChunkBits) -----------------------
  // The generalized pigeonhole behind simhashPairsAt: with 64/w aligned
  // w-bit chunks, any pair within Hamming distance (64/w − 1) shares an
  // untouched chunk — at BOTH widths the adaptive rule can pick.
  property("simhash: hamming<=(64/w-1) pairs collide in some w-bit chunk, w in {8,16}") =
    forAll(Gen.long, Gen.oneOf(8, 16), Gen.listOf(Gen.choose(0, 63))) { (sig, w, bits) =>
      val c = 64 / w
      val flips = bits.distinct.take(c - 1)
      val other = flips.foldLeft(sig)((s, b) => s ^ (1L << b))
      val mask = (1L << w) - 1
      (0 until c).exists(i => ((sig >>> (w * i)) & mask) == ((other >>> (w * i)) & mask))
    }

  // ---- Native shingle and SimHash kernels (graft.functions) ---------------
  // graft_shingles must equal the higher-order-function formulation it
  // replaced (kept in FunctionsSpec as the reference; repeated here so the
  // property stands alone). Both Columns are analyzed once per case and
  // evaluated on literal input, so no Spark job runs.
  private def evalColumn(c: org.apache.spark.sql.Column): Seq[String] = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    SparkFixture.session.range(1).select(c).queryExecution.analyzed.expressions.head
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty).asInstanceOf[ArrayData]
      .toArray[UTF8String](StringType).map(_.toString).toSeq
  }

  property("shingles: native graft_shingles == the lambda formulation, k in 1-8") =
    forAll(Gen.choose(0, 12).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("", "a", "b", "ab", "é", "漢字", "🙂"))),
      Gen.choose(1, 8)) { (toks, k) =>
      import org.apache.spark.sql.functions._
      val t = typedLit(toks)
      val lambda = when(size(t) >= k,
        transform(sequence(lit(0), size(t) - k),
          i => concat_ws(" ", (1 to k).map(j => element_at(t, i + j)): _*)))
        .otherwise(array())
      evalColumn(graft.operators.TextAnalysis.shingles(t, k)) == evalColumn(lambda)
    }

  property("simhash64: the signature does not depend on element order") =
    forAll(Gen.listOf(Gen.alphaNumStr), Gen.long) { (sh, seed) =>
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      import org.apache.spark.unsafe.types.UTF8String
      def sig(xs: Seq[String]) = graft.functions.SimHash64.of(
        new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any]))
      sig(sh) == sig(new scala.util.Random(seed).shuffle(sh))
    }

  // ---- AllPairs prefix filter (Dedup.ngramJaccard) -------------------------
  // The lossless-candidate lemma: under ANY shared total order, two distinct
  // sets with Jaccard >= 0.5 share an element within their first
  // floor(n/2)+1 elements. The implementation orders by (df, h); here the
  // order is the natural Int order — the lemma is order-agnostic as long as
  // both sides use the same one.
  private def prefix(s: Set[Int]): Set[Int] =
    s.toSeq.sorted.take(s.size / 2 + 1).toSet

  property("prefix filter: jaccard>=0.5 pairs always share a prefix element") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0, 60)), Gen.nonEmptyListOf(Gen.choose(0, 60))) {
      (la, lb) =>
        val (a, b) = (la.toSet, lb.toSet)
        val jac = a.intersect(b).size.toDouble / a.union(b).size
        jac < 0.5 || prefix(a).intersect(prefix(b)).nonEmpty
    }

  property("prefix filter: converse — a shared prefix element does not imply jaccard>=0.5 (candidates are verified)") = {
    val a = Set(1, 2, 3, 4)
    val b = Set(1, 50, 51, 52)
    Prop(prefix(a).intersect(prefix(b)).nonEmpty &&
      a.intersect(b).size.toDouble / a.union(b).size < 0.5)
  }

  // ---- Connected components (Dedup.connectedComponents) --------------------
  // Min-label propagation's fixed point must equal the true components —
  // checked against a union-find reference on random graphs.
  private def unionFind(n: Int, edges: Seq[(Int, Int)]): Map[Int, Int] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).map(i => i -> find(i)).toMap
  }

  private def minLabelFixpoint(n: Int, edges: Seq[(Int, Int)]): Map[Int, Int] = {
    val adj = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
    var labels = (0 until n).map(i => i -> i).toMap
    var changed = true
    while (changed) {
      val next = labels.map { case (v, l) =>
        v -> (adj.getOrElse(v, Nil).map(labels) :+ l).min
      }
      changed = next != labels
      labels = next
    }
    labels
  }

  property("connected components: min-label fixpoint equals union-find on random graphs") =
    forAll(Gen.choose(1, 20), Gen.listOf(Gen.zip(Gen.choose(0, 19), Gen.choose(0, 19)))) {
      (n0, rawEdges) =>
        val n = math.max(n0, 1)
        val edges = rawEdges.collect { case (a, b) if a < n && b < n && a != b => (a, b) }
        val uf = unionFind(n, edges)
        // canonicalize union-find roots to min member per component
        val canon = uf.groupMap(_._2)(_._1).flatMap { case (_, ms) =>
          ms.map(_ -> ms.min)
        }
        minLabelFixpoint(n, edges) == canon
    }

  // JVM model of Dedup.connectedComponentsWithRounds: one large-star +
  // small-star alternation over a canonical (hi > lo) edge set. Mirrors the
  // DataFrame plan operation-for-operation so the property exercises the
  // ALGORITHM (the Spark wiring is proven by the oracle + LlmPillarSpec).
  private def twoPhase(edges0: Seq[(Int, Int)]): (Map[Int, Int], Int) = {
    var edges = edges0.collect { case (a, b) if a != b =>
      (math.max(a, b), math.min(a, b)) }.toSet
    var rounds = 0
    while ({
      rounds += 1
      val sym = edges.toSeq.flatMap { case (h, l) => Seq(h -> l, l -> h) }
      val lmin = sym.groupMap(_._1)(_._2).map { case (u, vs) => u -> (vs :+ u).min }
      val large = sym.collect { case (u, v) if v > u =>
        (v, lmin(u)) }.filter { case (h, l) => h != l }.toSet
      val smin = large.groupMap(_._1)(_._2).map { case (h, ls) => h -> ls.min }
      val next = (large.toSeq.map { case (h, l) => (l, smin(h)) } ++ smin.toSeq)
        .collect { case (x, y) if x != y => (math.max(x, y), math.min(x, y)) }
        .toSet
      val go = next != edges
      edges = next
      go
    }) ()
    val roots = edges.map(_._2)
    (edges.map { case (h, l) => h -> l }.toMap ++ roots.map(r => r -> r), rounds)
  }

  property("two-phase contraction: fixpoint equals union-find on random graphs") =
    forAll(Gen.choose(2, 20), Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, 19), Gen.choose(0, 19)))) {
      (n0, rawEdges) =>
        val n = math.max(n0, 2)
        val edges = rawEdges.collect { case (a, b) if a < n && b < n && a != b => (a, b) }
        edges.isEmpty || {
          val uf = unionFind(n, edges)
          val touched = edges.flatMap(e => Seq(e._1, e._2)).toSet
          val canon = uf.groupMap(_._2)(_._1).flatMap { case (_, ms) =>
            val inPlay = ms.filter(touched)
            inPlay.map(_ -> inPlay.min)
          }
          twoPhase(edges)._1 == canon
        }
    }

  property("two-phase contraction: a path graph converges in O(log n) rounds, not O(n)") = {
    val n = 1000
    val path = (0 until n - 1).map(i => (i, i + 1))
    val (labels, rounds) = twoPhase(path)
    Prop(labels.values.forall(_ == 0) && labels.size == n &&
      rounds <= 2 * (math.log(n.toDouble) / math.log(2)).ceil.toInt + 4)
  }

  // ---- Exact.rnd (the cross-engine round) ----------------------------------
  private def rnd(x: Double, n: Int): Double = {
    val p = math.pow(10, n)
    math.floor(x * p + 0.5) / p
  }

  property("rnd: idempotent") =
    forAll(Gen.choose(-1e6, 1e6)) { x => rnd(rnd(x, 4), 4) == rnd(x, 4) }

  property("rnd: within half-step of the input") =
    forAll(Gen.choose(-1e6, 1e6)) { x => math.abs(rnd(x, 4) - x) <= 0.5e-4 + 1e-9 }

  property("rnd: exact 2-decimal doubles are fixed points") =
    forAll(Gen.choose(-100000000L, 100000000L)) { cents =>
      val x = cents / 100.0
      rnd(x, 2) == x
    }

  // ---- Generator corruption bands (Generator.withIssues) -------------------
  property("generator: bands are disjoint and cover their declared rates") = {
    val occupied = Generator.classes.flatMap { case (_, lo, hi) => lo until hi }
    Prop(occupied.distinct.size == occupied.size) :| "bands overlap" &&
      Prop(Generator.classes.forall { case (_, lo, hi) => lo < hi && hi <= 100 }) :| "band out of range"
  }

  property("generator: every event id lands in exactly one class or clean") =
    forAll(Gen.choose(0L, Long.MaxValue - 1)) { id =>
      val band = id % 100
      val hits = Generator.classes.count { case (_, lo, hi) => band >= lo && band < hi }
      hits <= 1
    }

  // ---- time-grid range join (Joins.rangeJoin) ------------------------------
  // Candidate-generation completeness: a point inside [start, end) always
  // lands in one of the interval's grid cells, for EVERY cell width and
  // alignment — the lemma that makes grid blocking safe to verify-after.
  property("range grid: a contained point's cell is always among the interval's cells") =
    forAll(Gen.choose(0L, 1L << 40), Gen.choose(0L, 1L << 20), Gen.choose(1L, 1L << 20),
      Gen.choose(60L, 86400L)) { (start, ofs, len, cell) =>
      val ts = start + (ofs % math.max(len, 1))  // start <= ts < end
      val end = start + len
      val (c0, c1, cp) = (start / cell, end / cell, ts / cell)
      c0 <= cp && cp <= c1
    }

  // ---- inclusion-exclusion Jaccard (Dedup.jaccardFrom) ---------------------
  // |A∪B| = |A|+|B|−|A∩B| on distinct-element sets: the identity that lets
  // pair verification skip the array_union allocation entirely.
  property("jaccard: inclusion-exclusion denominator equals the union size") =
    forAll(Gen.listOf(Gen.choose(0L, 1000L)), Gen.listOf(Gen.choose(0L, 1000L))) {
      (a0, b0) =>
        val (a, b) = (a0.distinct, b0.distinct)
        val i = a.toSet.intersect(b.toSet).size
        a.size + b.size - i == a.toSet.union(b.toSet).size
    }

  // ---- corpus-adaptive LSH width (Similarity.lshBits) ----------------------
  property("lshBits: minimal width with bucket population <= 16, monotone, clamped") =
    forAll(Gen.choose(1L, 1L << 24)) { n =>
      val b = graft.operators.Similarity.lshBits(n)
      val inRange = b >= 4 && b <= 16
      val covers = b == 16 || (16L << b) >= n          // population bound holds
      val minimal = b == 4 || (16L << (b - 1)) < n     // and b is the least such
      val monotone = graft.operators.Similarity.lshBits(n + 1) >= b
      inRange && covers && minimal && monotone
    }

  // ---- corpus-adaptive IVF stride (Similarity.ivfStride) -------------------
  property("ivfStride: floored sqrt cell size, monotone, sqrt-bracketed") =
    forAll(Gen.choose(1L, 1L << 40)) { n =>
      val s = graft.operators.Similarity.ivfStride(n)
      val floored = s >= 125L
      val agrees = s == math.max(125L, math.floor(math.sqrt(n.toDouble)).toLong)
      // above the floor's reach, stride is the integer sqrt: s² ≤ n < (s+1)²
      val bracketed = n < 125L * 125L || (s * s <= n && n < (s + 1) * (s + 1))
      val monotone = graft.operators.Similarity.ivfStride(n + 1) >= s
      floored && agrees && bracketed && monotone
    }

  // ---- fixed-size ANN probe batch (Similarity.probeStride) -----------------
  property("probeStride: floored at 50, monotone, probe batch stays ~40") =
    forAll(Gen.choose(1L, 1L << 40)) { n =>
      val s = graft.operators.Similarity.probeStride(n)
      val floored = s >= 50L
      val agrees = s == math.max(50L, n / 40L)
      // the whole point: the number of probes (ids ≡ 0 mod stride among
      // 0..n-1) never grows with the corpus — it is ≤ 41 for n > 2000 and
      // ≤ n/50 + 1 ≤ 41 below
      val batchBounded = (n - 1) / s + 1 <= 41
      val monotone = graft.operators.Similarity.probeStride(n + 1) >= s
      floored && agrees && batchBounded && monotone
    }

  // ---- corpus-adaptive pack shards (TextAnalysis.packShards) ---------------
  property("packShards: minimal power of two with ~256 docs/shard, monotone, clamped") =
    forAll(Gen.choose(1L, 1L << 24)) { n =>
      val s = graft.operators.TextAnalysis.packShards(n)
      val pow2 = Integer.bitCount(s) == 1
      val inRange = s >= 8 && s <= 4096
      val covers = s == 4096 || 256L * s >= n          // ~256 docs/shard holds
      val minimal = s == 8 || 256L * (s / 2) < n       // and s is the least such
      val monotone = graft.operators.TextAnalysis.packShards(n + 1) >= s
      pow2 && inRange && covers && minimal && monotone
    }

  // ---- pack layout (TextAnalysis.packSequencesAt) --------------------------
  // The windowed-cumsum layout re-expressed per shard IS a sequential packer:
  // consecutive docs tile the shard's token stream gap-free, and the chunk
  // span is exactly the chunks the doc's token range intersects — at ANY
  // shard count (the assignment changes, the per-shard layout law doesn't).
  property("pack layout: per-shard spans tile gap-free with exact chunk spans at any shard count") =
    forAll(Gen.nonEmptyListOf(Gen.choose(1, 600)), Gen.oneOf(1, 2, 8, 32, 256)) {
      (lens, shards) =>
        val docs = lens.zipWithIndex.map { case (n, i) => (i.toLong, n.toLong) }
        docs.groupBy { case (id, _) => id % shards }.values.forall { ds =>
          val sorted = ds.sortBy(_._1)
          val starts = sorted.scanLeft(0L) { case (off, (_, n)) => off + n }.init
          starts.zip(sorted).forall { case (start, (_, n)) =>
            val first = start / 512
            val last = (start + n - 1) / 512
            first <= last && last <= (start + n) / 512
          }
        }
    }

  // ---- two-phase token-budget admission (TextAnalysis.budgetAdmit) ---------
  // JVM model mirroring the DataFrame plan operation-for-operation: phase 1
  // buckets scores by floor(q·1000) and keeps the buckets whose
  // strictly-better buckets haven't already exhausted the budget; phase 2
  // runs the exact ordered admission cumsum over candidate rows only. Must
  // equal the naive full-corpus windowed-cumsum admission for EVERY corpus
  // and budget — including zero-token docs, score ties, duplicate ids
  // across languages, and budgets landing exactly on bucket boundaries.
  private case class BDoc(id: Long, lang: Int, q: Double, n: Long)

  private def naiveAdmit(docs: Seq[BDoc], budget: Long): Set[(Int, Long)] =
    docs.groupBy(_.lang).flatMap { case (lang, ds) =>
      val sorted = ds.sortBy(d => (-d.q, d.id))
      val before = sorted.scanLeft(0L)(_ + _.n).init // cum BEFORE each doc
      sorted.zip(before).collect { case (d, b) if b < budget => (lang, d.id) }
    }.toSet

  private def twoPhaseAdmit(docs: Seq[BDoc], budget: Long): Set[(Int, Long)] = {
    def qb(d: BDoc): Long = math.floor(d.q * 1000).toLong
    val hist = docs.groupBy(d => (d.lang, qb(d)))
      .view.mapValues(_.map(_.n).sum).toMap
    val cand = hist.keySet.filter { case (lang, b) =>
      hist.collect { case ((l, b2), t) if l == lang && b2 > b => t }.sum < budget
    }
    // phase 2 = the same ordered cumsum, restricted to candidate buckets
    naiveAdmit(docs.filter(d => cand((d.lang, qb(d)))), budget)
  }

  private val genBDoc = for {
    id <- Gen.choose(0L, 60L)
    lang <- Gen.choose(0, 3)
    q <- Gen.choose(0, 10000).map(_ / 10000.0) // a 4-decimal score, like rnd(…,4)
    n <- Gen.choose(0L, 500L)
  } yield BDoc(id, lang, q, n)

  property("token budget: two-phase threshold admission equals the windowed cumsum") =
    forAll(Gen.listOf(genBDoc), Gen.choose(1L, 3000L)) { (docs, budget) =>
      twoPhaseAdmit(docs, budget) == naiveAdmit(docs, budget)
    }

  // ---- gap-fill interpolation (AnalyticWindows.gapFill) --------------------
  // The interpolant is EXACT at the left reading (frac = 0 — the only
  // on-reading case the engine evaluates, since readings sort before their
  // co-timed grid point), within an ulp scale of the right reading, and
  // bounded by its endpoints in between.
  property("gap fill: linear interpolant is left-exact, right-close, bounded") =
    forAll(Gen.choose(-1e6, 1e6), Gen.choose(-1e6, 1e6),
      Gen.choose(0L, 1000000L), Gen.choose(1L, 1000000L)) { (pv, nv, off, span) =>
      val (pt, nt) = (off, off + span)
      def interp(t: Long) = pv + (nv - pv) * ((t - pt).toDouble / (nt - pt).toDouble)
      val mid = pt + span / 2
      val eps = 1e-9 * (math.abs(pv) + math.abs(nv) + 1)
      val lo = math.min(pv, nv) - eps
      val hi = math.max(pv, nv) + eps
      interp(pt) == pv && math.abs(interp(nt) - nv) <= eps &&
        interp(mid) >= lo && interp(mid) <= hi
    }

  // ---- portable md5 fold (Exact.fold60) ------------------------------------
  property("fold60: 15 hex chars parse to a non-negative 60-bit long") =
    forAll(Gen.alphaNumStr) { s =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      val v = java.lang.Long.parseLong(hex, 16)
      v >= 0L && v < (1L << 60)
    }

  // ---- 5-second dedup bucket (Validation.dedupBucket / StreamingJobs) ------
  property("dedup bucket contains its timestamp and aligns to 5s") =
    forAll(Gen.choose(0L, 4102444800000000L)) { micros => // through year 2100
      val bucket = (micros / 5000000L) * 5L // seconds, floor to 5s
      val sec = micros / 1000000L
      bucket % 5 == 0 && bucket <= sec && sec < bucket + 5
    }

  // ---- BPE merge application (TextAnalysis.applyMerge) ---------------------
  // One reference Sennrich merge step over the symbol array — the ground
  // truth both the pure formula property and the shipped-Column property
  // compare against.
  private def refMerge(syms: Vector[String], x: String, y: String): Vector[String] = {
    val out = Vector.newBuilder[String]; var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == x && syms(i + 1) == y) {
        out += x + y.stripPrefix("|"); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  // The anchored-replace FORMULA — append a trailing-space sentinel, replace
  // "X Y " with "XY " leftmost non-overlapping, strip the sentinel — is
  // exactly one Sennrich merge step over the symbol array, for EVERY word
  // and every merge history (both engines implement this same string
  // transformation: java.lang.String.replace / DuckDB replace). The
  // adversarial part of the generator replays PAST winners against the
  // already-merged sequence, which is precisely where the unanchored form
  // corrupted (a pair whose right symbol prefixes an earlier merge product
  // must be a no-op, not a phantom merge).
  property("bpe: anchored replace == reference merge over the symbol array") = {
    def formula(seq: String, x: String, y: String): String =
      (seq + " ").replace(s"$x $y ", s"$x${y.stripPrefix("|")} ")
        .reverse.dropWhile(_ == ' ').reverse
    val gen = for {
      word <- Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(12).mkString)
      picks <- Gen.listOfN(6, Gen.choose(0, 1000))
    } yield (word, picks)
    forAll(gen) { case (word, picks) =>
      var syms = word.map(ch => s"|$ch").toVector
      var history = List.empty[(String, String)]
      picks.forall { p =>
        // alternate fresh adjacent pairs with replays of past winners —
        // the replay must leave an already-merged sequence unchanged
        // wherever the pair no longer occurs, boundary-exactly
        val candidates =
          (if (syms.length >= 2) (0 until syms.length - 1)
            .map(i => (syms(i), syms(i + 1))).toList else Nil) ::: history
        candidates.nonEmpty && {
          val (x, y) = candidates(p % candidates.length)
          val got = formula(syms.mkString(" "), x, y)
          syms = refMerge(syms, x, y)
          history = (x, y) :: history
          got == syms.mkString(" ")
        } || candidates.isEmpty
      }
    }
  }

  // The SHIPPED Column expression (r13 ADVICE): the property above pins the
  // pure mirror; this one evaluates TextAnalysis.applyMerge itself — the
  // exact Catalyst tree every BPE query runs — over a deterministic batch
  // of generated merge histories in ONE DataFrame pass (a per-ScalaCheck-
  // case one-row job would schedule hundreds of Spark jobs), so an edit to
  // applyMerge that diverges from the mirror fails here, not just on
  // LlmPillarSpec's six fixed cases.
  property("bpe: shipped applyMerge Column == reference merge on a generated batch") =
    Prop.secure {
      val rnd = new scala.util.Random(20260814L)
      val cases = Seq.fill(120) {
        val word = Seq.fill(1 + rnd.nextInt(10))(
          ('a' + rnd.nextInt(26)).toChar).mkString
        var syms = word.map(ch => s"|$ch").toVector
        var history = List.empty[(String, String)]
        var acc = List.empty[(String, String, String)]
        (0 until 1 + rnd.nextInt(5)).foreach { _ =>
          val candidates =
            (if (syms.length >= 2) (0 until syms.length - 1)
              .map(i => (syms(i), syms(i + 1))).toList else Nil) ::: history
          if (candidates.nonEmpty) {
            val (x, y) = candidates(rnd.nextInt(candidates.length))
            val before = syms.mkString(" ")
            syms = refMerge(syms, x, y)
            history = (x, y) :: history
            acc ::= ((before, s"$x $y", syms.mkString(" ")))
          }
        }
        acc
      }.flatten
      // the suites' shared session — building a second one here would make
      // whichever getOrCreate ran first dictate every suite's master/conf
      val spark = SparkFixture.session
      import org.apache.spark.sql.functions.col
      import spark.implicits._
      cases.toDF("seq", "mpr", "expected")
        .select(col("expected"),
          graft.operators.TextAnalysis.applyMerge(col("seq"), col("mpr")).as("got"))
        .collect()
        .forall(r => r.getString(0) == r.getString(1))
    }

  // ---- Total-variation defect identity (TextAnalysis.sourceDivergence) ----
  // The engine computes TV over the UNION vocabulary while joining only the
  // SHARED terms, via 2·na·nb − Σ_shared (ca·nb + cb·na − |ca·nb − cb·na|).
  // Both the operator and its LlmPillarSpec replay use this identity, so a
  // wrong derivation would agree with itself; this property pins it against
  // the definition — Σ_union |ca·nb − cb·na| with missing counts as 0 — for
  // EVERY pair of count tables, including disjoint and identical supports.
  property("sourceDivergence: shared-term defect identity == union-vocabulary TV numerator") = {
    val countMap = Gen.nonEmptyMap(
      Gen.zip(Gen.choose('a', 'j').map(_.toString), Gen.choose(1L, 20L)))
    forAll(countMap, countMap) { (ca, cb) =>
      val (na, nb) = (BigInt(ca.values.sum), BigInt(cb.values.sum))
      val direct = (ca.keySet ++ cb.keySet).toSeq.map { t =>
        (BigInt(ca.getOrElse(t, 0L)) * nb - BigInt(cb.getOrElse(t, 0L)) * na).abs
      }.sum
      val defect = ca.keySet.intersect(cb.keySet).toSeq.map { t =>
        val (x, y) = (BigInt(ca(t)) * nb, BigInt(cb(t)) * na)
        x + y - (x - y).abs
      }.sum
      val viaIdentity = 2 * na * nb - defect
      (viaIdentity == direct: Prop) &&
        (direct >= 0 && direct <= 2 * na * nb: Prop) // TV ∈ [0, 1]
    }
  }

  // ---- Phrase anchor voting (TextAnalysis.phraseSearch) --------------------
  // The positional-intersection claim: a k-token phrase occurs at anchor a
  // iff ALL of its max(1, k−2) overlapping shingles (3-shingles for k ≥ 3;
  // the phrase's own 2-shingle for k = 2 — the r15 bigram rule) occur at
  // their offset positions (shingle j at a+j) — the vote count IS exact
  // verification, never a candidate filter. The ≥ direction is the subtle
  // one (overlapping shingle windows tile every phrase position), so
  // generate over a 3-letter alphabet to force the periodic/
  // self-overlapping cases (e.g. "a a a a") the fixture's natural text
  // never exercises, and compare against a naive sliding-window scan.
  // Mirrors the engine's join-count logic exactly: distinct offsets j
  // contribute at most one vote per anchor.
  property("phrase: shingle anchor voting == naive sliding-window match") = {
    val tok = Gen.oneOf("a", "b", "c")
    forAll(Gen.listOfN(25, tok), Gen.choose(2, 6).flatMap(Gen.listOfN(_, tok))) {
      (docL, phraseL) =>
        val (doc, phrase) = (docL.toVector, phraseL.toVector)
        val (n, k) = (doc.length, phrase.length)
        // naive: 1-based anchors where the full phrase matches
        val naive = (1 to n - k + 1)
          .filter(a => doc.slice(a - 1, a - 1 + k) == phrase).toSet
        // voting: shingle j of the phrase must occur at anchor + j
        val s = math.min(k, 3)
        val need = math.max(1, k - 2)
        val voted = (1 to n).filter { a =>
          (0 until need).count { j =>
            a + j + s - 1 <= n &&
              doc.slice(a + j - 1, a + j - 1 + s) == phrase.slice(j, j + s)
          } == need
        }.toSet
        voted == naive
    }
  }

  // ---- Morton curve (Connectors.zvalue — the s19/s20 z-order layout) ----

  /** Reference 32-bit Morton interleave over the low 16 bits (x even
    * positions, y odd), and its inverse. */
  private def refZ(x: Long, y: Long): Long =
    (0 until 16).foldLeft(0L)((acc, i) =>
      acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))
  private def unZ(z: Long): (Long, Long) =
    (0 until 16).foldLeft((0L, 0L)) { case ((x, y), i) =>
      (x | (((z >> (2 * i)) & 1L) << i), y | (((z >> (2 * i + 1)) & 1L) << i))
    }

  property("morton: z round-trips (injective) and dyadic cells are contiguous z-runs") =
    forAll(Gen.choose(0L, 65535L), Gen.choose(0L, 65535L), Gen.choose(0, 16)) {
      (x, y, k) =>
        val z = refZ(x, y)
        val s = 16 - k
        // injectivity: the interleave inverts exactly
        unZ(z) == ((x, y)) &&
        // locality: every point of the level-k dyadic cell containing (x, y)
        // shares the z prefix refZ(x >> s, y >> s) — the cell IS the
        // contiguous block [c·4^s, (c+1)·4^s), which is why an aligned box
        // is one file run and any box decomposes into few runs
        (z >> (2 * s)) == refZ(x >> s, y >> s)
    }

  property("zvalue: shipped Column == reference Morton on a generated batch") =
    Prop.secure {
      val rnd = new scala.util.Random(20260816L)
      val cases = Seq.fill(512)(
        (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
      val spark = SparkFixture.session
      import org.apache.spark.sql.functions.col
      import spark.implicits._
      cases.toDF("x", "y")
        .select(col("x"), col("y"),
          graft.operators.Connectors.zvalue(col("x"), col("y")).as("z"))
        .collect()
        .forall(r => r.getLong(2) == refZ(r.getLong(0), r.getLong(1)))
    }

  // ---- Bloom gate (m6_bloom_decontaminate / m4t_stream_decon) ----
  // The correctness of the sketch path rests on ONE property: no false
  // negatives — every inserted element passes might_contain, whatever the
  // sizing. (False positives are harmless by construction: the exact verify
  // join kills them.) Exercised through the same registered functions the
  // queries call, over both a properly-sized and a starved 64-bit sketch.
  property("bloom: might_contain has no false negatives, sized or starved") =
    Prop.secure {
      val rnd = new scala.util.Random(20260817L)
      val members = Seq.fill(500)(rnd.nextLong()).distinct
      val spark = SparkFixture.session
      graft.functions.GraftFunctions.register(spark)
      import org.apache.spark.sql.functions.{call_function, col, lit}
      import spark.implicits._
      val df = members.toDF("h")
      Seq(4096L, 64L).forall { bits =>
        val sketch = df.agg(call_function("graft_bloom_agg",
            col("h"), lit(members.size.toLong), lit(bits)).as("bf"))
          .head().getAs[Array[Byte]]("bf")
        df.filter(call_function("graft_bloom_might_contain",
            lit(sketch), col("h")))
          .count() == members.size
      }
    }

  // ---- IVF nearest-cell kernel (Similarity.assignToCells) ----------------
  // graft_nearest_cells must keep, per vector, exactly the cells the window
  // formulation it replaced ranks 1..k: row_number over (vec_id) ordered by
  // csim DESC, cent_id. The generated cases are built for the corners of
  // that order — exact ties (small-integer vectors, duplicated centroids),
  // NaN and ±∞ similarities (NaN/∞ norms and elements, tiny norms whose
  // product stays nonzero), zero norms (null csim without ANSI), null
  // vectors, norms, centroid vectors, elements and one null cent_id,
  // length mismatches, k above the centroid count, and cases with no
  // centroid at all. Every case runs in one DataFrame pass per k, keyed by
  // case id; the kernel sees each case's centroids in collect_list order,
  // so it is checked not to depend on that order either.
  private object Ivf {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.types._

    private val specials = Array(0.0, -0.0, 1e-160, -1e-160, 1e200,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    private def element(rnd: scala.util.Random): Any =
      if (rnd.nextInt(40) == 0) null
      else if (rnd.nextInt(6) == 0) specials(rnd.nextInt(specials.length))
      else (rnd.nextInt(5) - 2).toDouble
    private def vector(rnd: scala.util.Random): Any =
      if (rnd.nextInt(15) == 0) null
      else Seq.fill(if (rnd.nextInt(20) == 0) 2 else 3)(element(rnd))
    // zero divisors only where ANSI is off: there they score null
    private def norm(rnd: scala.util.Random, zeros: Boolean, tiny: Double): Any = {
      val pool = Seq[Any](null, 1.0, 2.0, 0.5, 3.0, -1.0, tiny, Double.NaN,
        Double.PositiveInfinity) ++ (if (zeros) Seq(0.0, -0.0) else Nil)
      pool(rnd.nextInt(pool.size))
    }

    private val vecSchema = StructType(Seq(StructField("case", IntegerType),
      StructField("vec_id", LongType), StructField("v", ArrayType(DoubleType)),
      StructField("norm", DoubleType)))
    private val centSchema = StructType(Seq(StructField("case", IntegerType),
      StructField("cent_id", LongType), StructField("cv", ArrayType(DoubleType)),
      StructField("cnorm", DoubleType)))

    /** (vectors, centroids) of `n` generated cases. */
    def cases(seed: Long, n: Int, zeros: Boolean): (DataFrame, DataFrame) = {
      val rnd = new scala.util.Random(seed)
      val vecs = Seq.newBuilder[Row]
      val cents = Seq.newBuilder[Row]
      (0 until n).foreach { c =>
        (0 until 1 + rnd.nextInt(4)).foreach { i =>
          vecs += Row(c, i.toLong, vector(rnd), norm(rnd, zeros, 1e-300))
        }
        val ids = rnd.shuffle((0 until 10).toList).take(rnd.nextInt(6))
        val nullId = if (rnd.nextInt(10) == 0) ids.headOption else None
        var last: Any = null
        ids.foreach { id =>
          // a third of the centroids repeat the previous one: exact ties
          val cv = if (last != null && rnd.nextInt(3) == 0) last else vector(rnd)
          last = cv
          cents += Row(c, if (nullId.contains(id)) null else id.toLong, cv,
            norm(rnd, zeros, 1e-10))
        }
      }
      val spark = SparkFixture.session
      import scala.jdk.CollectionConverters._
      (spark.createDataFrame(vecs.result().asJava, vecSchema),
        spark.createDataFrame(cents.result().asJava, centSchema))
    }

    import org.apache.spark.sql.functions._
    /** The window formulation assignToCells replaced, per case. */
    def reference(vecs: DataFrame, cents: DataFrame, k: Int): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("case", "vec_id")
        .orderBy(col("csim").desc, col("cent_id"))
      vecs.join(cents, "case")
        .withColumn("csim", call_function("graft_dot", col("v"), col("cv")) /
          (col("norm") * col("cnorm")))
        .withColumn("crn", row_number().over(w)).filter(col("crn") <= k)
        .select(col("case"), col("vec_id"), col("crn"), col("cent_id"))
    }
    /** The kernel against each case's centroid array. */
    def kernel(vecs: DataFrame, cents: DataFrame, k: Int): DataFrame =
      vecs.join(cents.groupBy("case").agg(collect_list(
          struct(col("cent_id"), col("cv"), col("cnorm"))).as("cents")), "case")
        .select(col("case"), col("vec_id"), posexplode(call_function(
          "graft_nearest_cells", col("v"), col("norm"), col("cents"), lit(k))))
        .select(col("case"), col("vec_id"), (col("pos") + 1).as("crn"),
          col("col").as("cent_id"))
    def rows(df: DataFrame): Seq[(Int, Long, Int, Option[Long])] =
      df.collect().toSeq.map(r => (r.getInt(0), r.getLong(1), r.getInt(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]))).sorted

    def withConf[T](pairs: (String, String)*)(f: => T): T = {
      val conf = SparkFixture.session.conf
      val prev = pairs.map { case (k, _) => k -> conf.getOption(k) }
      pairs.foreach { case (k, v) => conf.set(k, v) }
      try f finally prev.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None)    => conf.unset(k)
      }
    }
    def withAnsi[T](on: Boolean)(f: => T): T =
      withConf("spark.sql.ansi.enabled" -> on.toString)(f)
  }

  property("nearest cells: graft_nearest_cells == the csim window, zero norms scoring null") =
    Prop.secure {
      Ivf.withAnsi(on = false) {
        val (vecs, cents) = Ivf.cases(20261020L, 300, zeros = true)
        (1 to 4).forall(k =>
          Ivf.rows(Ivf.kernel(vecs, cents, k)) == Ivf.rows(Ivf.reference(vecs, cents, k))) &&
          // the interpreted path too, as a codegen fallback would run it
          Ivf.withConf("spark.sql.codegen.wholeStage" -> "false",
              "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
            Ivf.rows(Ivf.kernel(vecs, cents, 2)) == Ivf.rows(Ivf.reference(vecs, cents, 2))
          }
      }
    }

  property("nearest cells: graft_nearest_cells == the csim window under ANSI; a zero divisor fails both") =
    Prop.secure {
      Ivf.withAnsi(on = true) {
        val (vecs, cents) = Ivf.cases(20261021L, 300, zeros = false)
        val same = (1 to 4).forall(k =>
          Ivf.rows(Ivf.kernel(vecs, cents, k)) == Ivf.rows(Ivf.reference(vecs, cents, k)))
        // a zero norm under a non-null dot is DIVIDE_BY_ZERO in both
        val spark = SparkFixture.session
        import spark.implicits._
        val zv = Seq((0, 0L, Seq(1.0, 0.0), 0.0)).toDF("case", "vec_id", "v", "norm")
        val zc = Seq((0, 7L, Seq(1.0, 1.0), 1.0)).toDF("case", "cent_id", "cv", "cnorm")
        def fails(df: => org.apache.spark.sql.DataFrame) =
          scala.util.Try(df.collect()).failed.toOption
            .exists(e => String.valueOf(e.getMessage).contains("DIVIDE_BY_ZERO"))
        same && fails(Ivf.kernel(zv, zc, 1)) && fails(Ivf.reference(zv, zc, 1))
      }
    }

  property("nearest cells: assignToCells keeps every vector with its k best cells; no centroid, no row") =
    Prop.secure {
      import org.apache.spark.sql.functions.{col, desc}
      val (allVecs, allCents) = Ivf.cases(20261022L, 20, zeros = false)
      // the generated case with the most centroids
      val c = allCents.groupBy("case").count()
        .orderBy(desc("count"), col("case")).head().getInt(0)
      val (vecs, cents) = (allVecs.filter(col("case") === c), allCents.filter(col("case") === c))
      val one = vecs.drop("case")
      val table = graft.operators.Similarity.centroidTable(cents.drop("case"))
      val empty = graft.operators.Similarity.centroidTable(cents.drop("case").limit(0))
      (1 to 3).forall { k =>
        val got = graft.operators.Similarity.assignToCells(one, table, k)
          .select(col("vec_id"), col("cell")).collect()
          .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]))).sorted.toSeq
        val want = Ivf.rows(Ivf.reference(vecs, cents, k)).map(r => (r._2, r._4)).sorted
        got == want
      } && graft.operators.Similarity.assignToCells(one, empty, 1).count() == 0 &&
        graft.operators.Similarity.assignToCells(one, empty, 2).count() == 0
    }

  // The PCM fingerprint's STRUCTURAL plant guarantee, on arbitrary clips
  // rather than the fixture: delta-sign bits compare neighboring segment
  // energies around the ring, so a perturbation confined to segment 0 can
  // only change the two comparisons that touch segment 0 — signature bits
  // 0 and 63. This is what puts every planted near-dup inside the ≤ 3
  // verify bound BY CONSTRUCTION at any corpus size.
  private val pcmClip: Gen[Array[Byte]] = for {
    n <- Gen.choose(64, 400) // samples; 64 is the kernel's minimum
    bytes <- Gen.listOfN(2 * n, Gen.choose(32, 126)) // printable ASCII
  } yield bytes.map(_.toByte).toArray

  property("pcm signature: a first-sample perturbation flips only bits {0, 63}") =
    forAll(pcmClip, Gen.choose(32, 126), Gen.choose(32, 126)) { (b, c1, c2) =>
      import graft.operators.Multimodal
      val mut = b.clone(); mut(0) = c1.toByte; mut(1) = c2.toByte
      (Multimodal.pcmSignature(b), Multimodal.pcmSignature(mut)) match {
        case (Some((ahi, alo)), Some((bhi, blo))) =>
          ((alo ^ blo) & ~1L) == 0L && ((ahi ^ bhi) & ~(1L << 31)) == 0L
        case _ => false
      }
    }

  property("pcm signature: constant-energy clips delta-code to all-zeros (the quarantine trigger)") =
    forAll(Gen.choose(32, 126), Gen.choose(32, 126), Gen.choose(64, 300)) { (a, b, reps) =>
      import graft.operators.Multimodal
      val clip = Array.fill(reps)(Array(a.toByte, b.toByte)).flatten
      Multimodal.pcmSignature(clip).contains((0L, 0L))
    }

  property("pcm signature: sub-minimum clips (< 64 samples) emit nothing") =
    forAll(Gen.choose(0, 127)) { nBytesHalf =>
      import graft.operators.Multimodal
      Multimodal.pcmSignature(Array.fill(nBytesHalf)('a'.toByte)).isEmpty
    }

  // The video fingerprint's STRUCTURAL plant guarantee — the PCM argument
  // applied to the temporal gray-pixel stream: ring delta-sign bits compare
  // neighboring segment energies, so a perturbation confined to the first
  // decoded pixel (segment 0 is never empty at n >= 64) flips only
  // signature bits 0 and 63.
  private val videoGrays: Gen[Array[Int]] = for {
    n <- Gen.choose(64, 600) // pixels; 64 is the kernel's minimum
    gs <- Gen.listOfN(n, Gen.choose(0, 765)) // gray = r+g+b of byte pixels
  } yield gs.toArray

  property("video signature: a first-pixel perturbation flips only bits {0, 63}") =
    forAll(videoGrays, Gen.choose(0, 765)) { (g, p) =>
      import graft.operators.Multimodal
      val mut = g.clone(); mut(0) = p
      (Multimodal.videoSignature(g), Multimodal.videoSignature(mut)) match {
        case (Some((ahi, alo)), Some((bhi, blo))) =>
          ((alo ^ blo) & ~1L) == 0L && ((ahi ^ bhi) & ~(1L << 31)) == 0L
        case _ => false
      }
    }

  property("video signature: constant-gray clips delta-code to all-zeros (the quarantine trigger)") =
    forAll(Gen.choose(0, 765), Gen.choose(64, 500)) { (gray, n) =>
      import graft.operators.Multimodal
      Multimodal.videoSignature(Array.fill(n)(gray)).contains((0L, 0L))
    }

  property("video signature: sub-minimum clips (< 64 pixels) emit nothing") =
    forAll(Gen.choose(0, 63)) { n =>
      import graft.operators.Multimodal
      Multimodal.videoSignature(Array.fill(n)(100)).isEmpty
    }
}
