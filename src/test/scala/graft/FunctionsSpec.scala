package graft

import graft.functions.{Fold60, Md5Half, Shingles}
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Bit-equality guarantees for the native expressions against the
  * formulations they replace. */
class FunctionsSpec extends AnyFunSuite with SparkFixture {

  /** The higher-order-function k-shingle formulation `graft_shingles`
    * replaced — kept here as its reference. */
  private def lambdaShingles(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", (1 to k).map(j => element_at(toks, i + j)): _*)))
      .otherwise(array())

  /** The explode + 64-vote aggregate SimHash formulation `graft_simhash64`
    * replaced, over a (doc_id, sh) frame — kept here as its reference. */
  private def voteAggregateSigs(docs: DataFrame): DataFrame = {
    val hashed = docs
      .select(col("doc_id"), explode(transform(col("sh"), s =>
        call_function("graft_md5_long64", s))).as("h64"))
      .select(col("doc_id"),
        shiftrightunsigned(col("h64"), 32).as("hi"),
        col("h64").bitwiseAND(lit(0xFFFFFFFFL)).as("lo"))
    val voteCols =
      (0 until 32).map(i =>
        sum(shiftright(col("hi"), i).bitwiseAND(lit(1L)) * 2 - 1).as(s"b$i")) ++
      (0 until 32).map(i =>
        sum(shiftright(col("lo"), i).bitwiseAND(lit(1L)) * 2 - 1).as(s"c$i"))
    val votes = hashed.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
    def fold(p: String) = (0 until 32).map(i =>
      when(col(s"$p$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
    votes.select(col("doc_id"), fold("b").as("sim_hi"), fold("c").as("sim_lo"))
  }

  test("graft_shingles equals the lambda formulation, in plan and in direct eval") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    for (k <- Seq(2, 3, 8);
         (name, toks) <- Seq("tokens" -> TextAnalysis.tokens(col("text")),
           "normTokens" -> TextAnalysis.normTokens(col("text")))) {
      val cmp = docs.select(toks.as("toks"))
        .select(TextAnalysis.shingles(col("toks"), k).as("n"),
          lambdaShingles(col("toks"), k).as("l"))
      assert(cmp.filter(!(col("n") <=> col("l"))).count() == 0, s"k=$k over $name")
      assert(cmp.filter(size(col("n")) > 0).count() > 0, s"k=$k over $name: no shingles")
    }
    // adversarial token arrays: the lambda evaluated by Spark against the
    // kernel evaluated directly
    val cases: Seq[Seq[String]] = Seq(Seq(), Seq("a"), Seq("a", "b"), Seq("a", "b", "c"),
      Seq("", "a", "", ""), Seq("é", "漢字", "x y", "🙂"), Seq("a", null, "b", "c"),
      Seq(null, null, "z"), Seq(null, null, null), Seq("", ""), null)
    val frame = spark.createDataFrame(
      java.util.Arrays.asList(cases.map(c => Row(c)): _*),
      StructType(Seq(StructField("toks", ArrayType(StringType, containsNull = true)))))
    for (k <- 1 to 4) {
      val expected = frame.select(lambdaShingles(col("toks"), k)).collect().map(_.getSeq[String](0))
      val native = cases.map { c =>
        val arr = if (c == null) null
          else new GenericArrayData(c.map(t => if (t == null) null
            else UTF8String.fromString(t)).toArray[Any])
        Shingles.of(arr, k).toArray[UTF8String](StringType)
          .map(_.toString).toSeq
      }
      assert(native == expected.toSeq, s"k=$k")
      val inPlan = frame.select(TextAnalysis.shingles(col("toks"), k)).collect().map(_.getSeq[String](0))
      assert(inPlan.toSeq == expected.toSeq, s"k=$k in plan")
    }
  }

  test("graft_simhash64 halves equal the explode + 64-vote aggregate at sf0.01") {
    val dir = java.nio.file.Files.createTempDirectory("simhash-").toString
    // sf0.01 plus a document too short for a 3-shingle, one with null text
    // and one whose two shingles tie on every bit where their hashes differ
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val extra = spark.createDataFrame(java.util.Arrays.asList(
        Row(9000001L, "x y", "en", "synthetic", 3L),
        Row(9000002L, null, "en", "synthetic", 0L),
        Row(9000003L, "p q r s", "en", "synthetic", 7L)), docs.schema)
    docs.unionByName(extra).write.parquet(s"$dir/documents.parquet")
    val native = Dedup.simhashSignaturesBuild(spark, dir)
    val reference = voteAggregateSigs(Tables.documents(spark, dir).select(col("doc_id"),
      array_distinct(TextAnalysis.shingles(TextAnalysis.tokens(col("text")), 3)).as("sh")))
    assert(native.count() == 501)
    assert(native.exceptAll(reference).count() == 0 && reference.exceptAll(native).count() == 0)
    assert(native.filter(col("doc_id").isin(9000001L, 9000002L)).count() == 0)
    // two voters: a bit is set iff both hashes set it; where they differ
    // the vote ties and the bit stays 0
    val Seq(h1, h2) = Seq("p q r", "q r s").map(s =>
      Md5Half.long64(UTF8String.fromString(s)))
    assert((h1 ^ h2) != 0L)
    val r = native.filter(col("doc_id") === 9000003L).head()
    assert(((r.getAs[Long]("sim_hi") << 32) | r.getAs[Long]("sim_lo")) == (h1 & h2))
  }

  test("graft_fold60 equals the hex conv formulation, in plan and in direct eval") {
    // whole-column comparison through the real codegen path
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val cmp = docs.select(
      call_function("graft_fold60", col("text")).as("native"),
      conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("hex"))
    assert(cmp.filter(col("native") =!= col("hex")).count() == 0)
    // adversarial strings (empty, multi-byte UTF-8, long) via direct eval
    for (s <- Seq("", "a", "hello world", "é漢字", "x" * 10000)) {
      val expected = java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)
      assert(Fold60.fold(UTF8String.fromString(s)) == expected, s"mismatch for '$s'")
    }
  }

  test("graft_md5_hi32/_lo32 equal the hex conv formulations, in plan and direct eval") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val cmp = docs.select(
      call_function("graft_md5_hi32", col("text")).as("nhi"),
      call_function("graft_md5_lo32", col("text")).as("nlo"),
      conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long").as("xhi"),
      conv(substring(md5(col("text")), 9, 8), 16, 10).cast("long").as("xlo"))
    assert(cmp.filter(col("nhi") =!= col("xhi") || col("nlo") =!= col("xlo")).count() == 0)
    for (s <- Seq("", "a", "hello world", "é漢字", "x" * 10000)) {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val u = UTF8String.fromString(s)
      assert(Md5Half.half(u, hi = true) == java.lang.Long.parseLong(hex.take(8), 16))
      assert(Md5Half.half(u, hi = false) == java.lang.Long.parseLong(hex.slice(8, 16), 16))
      // halves stay within unsigned 32-bit range (sign-safe in both engines)
      assert(Md5Half.half(u, hi = true) >= 0L && Md5Half.half(u, hi = true) < (1L << 32))
      // the single-digest long64 splits into exactly those halves
      assert((Md5Half.long64(u) >>> 32) == Md5Half.half(u, hi = true))
      assert((Md5Half.long64(u) & 0xFFFFFFFFL) == Md5Half.half(u, hi = false))
    }
  }

  test("graft_md5_long64 bit-splits to the hi32/lo32 halves in plan") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val h64 = call_function("graft_md5_long64", col("text"))
    val cmp = docs.select(
      shiftrightunsigned(h64, 32).as("hi"),
      h64.bitwiseAND(lit(0xFFFFFFFFL)).as("lo"),
      call_function("graft_md5_hi32", col("text")).as("ehi"),
      call_function("graft_md5_lo32", col("text")).as("elo"))
    assert(cmp.filter(col("hi") =!= col("ehi") || col("lo") =!= col("elo")).count() == 0)
  }

  test("register adds only missing names: repeated calls re-register nothing") {
    import graft.functions.GraftFunctions
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val registry = spark.sessionState.functionRegistry
    val names = Seq("graft_dot", "graft_fold60", "graft_md5_hi32", "graft_md5_lo32",
      "graft_md5_long64", "graft_bloom_agg", "graft_bloom_might_contain",
      "graft_shingles", "graft_simhash64", "graft_nearest_cells")
    GraftFunctions.register(spark)
    val infos = names.map(n => registry.lookupFunction(FunctionIdentifier(n)))
    assert(infos.forall(_.isDefined), s"unresolved: ${names.zip(infos)}")
    GraftFunctions.register(spark)
    // a re-registration installs a fresh ExpressionInfo: same instance = untouched
    names.zip(infos).foreach { case (n, before) =>
      val after = registry.lookupFunction(FunctionIdentifier(n))
      assert(after.exists(_ eq before.get), s"$n was re-registered")
    }
    val r = spark.sql("SELECT graft_fold60('a') AS f, graft_md5_long64('a') AS l, " +
      "graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head()
    assert(r.getAs[Double]("d") == 11.0)
  }
}
