package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Registry glue for the engine's native Catalyst expressions.
  *
  * Two registration paths, same builders:
  *   - `GraftExtensions` for `spark.sql.extensions=graft.functions.GraftExtensions`
  *     (session-build-time injection — the standard extension-point route);
  *   - `GraftFunctions.register(spark)` for sessions the library did not build
  *     (idempotent; entry points and query builders call it defensively, so
  *     it adds only the names the session registry lacks — re-registering
  *     would log a "replaced a previously registered function" WARN per
  *     name per call).
  */
object GraftFunctions {

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> (es => DotProduct(es(0), es(1))),
    "graft_fold60" -> (es => Fold60(es(0))),
    "graft_md5_hi32" -> (es => Md5Half(es(0), hi = true)),
    "graft_md5_lo32" -> (es => Md5Half(es(0), hi = false)),
    "graft_md5_long64" -> (es => Md5Long64(es(0))),
    "graft_nearest_cells" -> (es => NearestCells(es(0), es(1), es(2), es(3))),
    "graft_shingles" -> (es => Shingles(es(0), es(1))),
    "graft_simhash64" -> (es => SimHash64(es(0))),
    // Spark's own runtime-filter machinery (whole-stage-codegen'd, no UDF),
    // surfaced as callable functions so queries can build and probe an
    // EXPLICIT Bloom sketch: agg(child: long, estimatedNumItems, numBits)
    // → binary; might_contain(bloomBinary, value: long) → boolean. The
    // probe side requires a foldable filter (a literal or scalar subquery)
    // — the same contract InjectRuntimeFilter honors.
    "graft_bloom_agg" -> (es => new BloomFilterAggregate(es(0), es(1), es(2))),
    "graft_bloom_might_contain" -> (es => BloomFilterMightContain(es(0), es(1))))

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  private[functions] def injectAll(ext: SparkSessionExtensions): Unit =
    builders.foreach { case (name, builder) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[DotProduct].getName, name),
        builder))
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.injectAll(ext)
}
