package graft

import graft.functions.{Fold60, Md5Half}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Bit-equality guarantees for the native expressions against the
  * formulations they replace. */
class FunctionsSpec extends AnyFunSuite with SparkFixture {

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
      "graft_md5_long64", "graft_bloom_agg", "graft_bloom_might_contain")
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
