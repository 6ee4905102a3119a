package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Builds the sf1 scale-probe fixture (~10× sf0.1: ~6 M events, 50 k docs)
  * by replicating the driver-generated sf0.1 tables with disjoint key
  * spaces, so `graft.Bench` can run unmodified against it and per-query
  * times can be compared 10×-for-10× against sf0.1 (tools/scale_probe.py
  * drives the build + both bench runs and records the ratio artifact).
  *
  * Replication preserves each table's DISTRIBUTIONAL shape without
  * manufacturing artificial quadratic structure:
  *   - events/lineitem/orders: ids offset per replica (join keys offset
  *     consistently on both sides), value columns untouched;
  *   - documents: ids offset AND every token salted with the replica
  *     ordinal — replica texts are mutually disjoint at the shingle level,
  *     so the near-dup pair population scales ×10 (each replica keeps its
  *     own planted pairs) instead of ×45 artificial cross-replica
  *     duplicate cliques that no real 10× corpus would contain. The salt
  *     digit survives normalization (normText keeps [a-z0-9]).
  *   - small dims (region…part): copied verbatim — dimension tables grow
  *     sublinearly in every warehouse.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft-sf1"
    // replica count: 10 builds the sf1 (10×) fixture, 100 the sf10 (100×)
    // one — same construction, the key stride (10^8) dominates both spans
    val factor = if (args.length > 2) args(2).toInt else 10
    if (Files.exists(Paths.get(s"$out/_READY"))) {
      println(s"[scale] $out already built"); return
    }
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.bootstrap(spark)
    Files.createDirectories(Paths.get(out))

    def raw(t: String): DataFrame = Tables.parquet(spark, s"$src/$t.parquet")
    def write(t: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scale] $t: ${Tables.parquet(spark, s"$out/$t.parquet").count()} rows")
    }
    def replicated(t: String, keyCols: Seq[String], perReplica: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until factor).map { i =>
        val shifted = keyCols.foldLeft(raw(t))((d, k) =>
          d.withColumn(k, col(k) + lit(i * 100000000L)))
        if (i == 0) raw(t) else perReplica(shifted, i)
      }.reduce(_ unionAll _)

    // user_id stride is derived from the ACTUAL id span so replica ranges
    // are disjoint: a fixed stride smaller than the span (round 6 shipped
    // i*1000 against a 0..1499 span) overlaps neighboring replicas and
    // stacks identical (user_id, ts) rows 2-deep for the overlap — exactly
    // the tie-nondeterministic windows and inflated per-key state this
    // offset exists to avoid
    val userStride = raw("events")
      .agg(max(col("user_id")).cast("long")).head.getLong(0) + 1
    write("events", replicated("events", Seq("event_id"),
      (d, i) => d.withColumn("user_id", col("user_id") + lit(i * userStride))))
    write("documents", replicated("documents", Seq("doc_id"), (d, i) => d
      .withColumn("text", concat_ws(" ",
        transform(split(col("text"), " "), t => concat(t, lit(i.toString)))))
      .withColumn("n_chars", length(col("text")))))
    write("lineitem", replicated("lineitem", Seq("l_orderkey")))
    write("orders", replicated("orders", Seq("o_orderkey")))
    // embeddings: Walsh-pattern sign flips — replica i negates dims where
    // popcount(idx & i) is odd, so EVERY replica pair (i, j) differs on
    // ~half the dimensions (their patterns differ by the Walsh character
    // of i^j) and cross-replica cosine sits near 0, far under the 0.95
    // near-dup bar. A modular pattern (e.g. (idx+i)%3) would hand replicas
    // with equal i mod 3 identical vectors — exactly the artificial
    // cross-replica clique this fixture must not contain. With 64 dims the
    // Walsh index wraps at 64 (idx has 6 bits), so replicas i and i+64
    // would repeat a pattern at factor 100 — those get a GLOBAL negation
    // on top (cosine −1 vs their wrap partner: anti-parallel, equally far
    // from the +0.95 near-dup bar).
    write("embeddings", replicated("embeddings", Seq("vec_id"),
      (d, i) => d.withColumn("embedding",
        transform(col("embedding"), (x, idx) => {
          val flipped = when(
            bit_count(idx.bitwiseAND(lit(i % 64))) % 2 === 1, -x).otherwise(x)
          if (i >= 64) -flipped else flipped
        }))))
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => write(t, raw(t)))
    Files.writeString(Paths.get(s"$out/_READY"), s"src=$src factor=$factor")
    spark.stop()
  }
}
