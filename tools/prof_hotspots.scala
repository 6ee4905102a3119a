// scratch: spark-shell --driver-class-path target/scala-2.13/classes -i tools/prof_hotspots.scala
import org.apache.spark.sql.DataFrame
import graft._
import graft.operators._
import graft.streaming._

val dir = "/root/testdata/sf0.1"
spark.conf.set("spark.sql.shuffle.partitions", "32")
Tables.bootstrap(spark)

def time(name: String)(df: => DataFrame): Unit = {
  val t0 = System.nanoTime()
  df.write.format("noop").mode("overwrite").save()
  println(f"## $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
}

// graft_dot sanity: codegen vs HOF reference on real data
graft.functions.GraftFunctions.register(spark)
locally {
  import org.apache.spark.sql.functions._
  val e = Tables.embeddings(spark, dir).limit(100)
    .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
  val chk = e.select(
    call_function("graft_dot", col("v"), col("v")).as("a"),
    aggregate(zip_with(col("v"), col("v"), (x, y) => x * y), lit(0.0), (acc, x) => acc + x).as("b"))
    .filter(col("a") =!= col("b") || col("a").isNull).count()
  println(s"## graft_dot mismatches: $chk")
}

time("m6_fingerprint")(TextAnalysis.fingerprint(spark, dir))
time("m6_cosine_topk")(Similarity.cosineTopK(spark, dir))
time("m6_ann_lsh")(Similarity.annLsh(spark, dir))
time("m6_minhash_dedup")(Dedup.minhashDedup(spark, dir))
time("m6_ngram_jaccard")(Dedup.ngramJaccard(spark, dir))
time("m6_simhash_pairs")(Dedup.simhashPairs(spark, dir))

val t1 = System.nanoTime()
val src = StreamingJobs.stage(Tables.events(spark, dir), 4)
println(f"## m4 stage                    ${(System.nanoTime() - t1) / 1e9}%8.2f s")
val t2 = System.nanoTime()
val sink = java.nio.file.Files.createTempDirectory("prof-sink-").toString
StreamingJobs.configureStreaming(spark)
StreamingJobs.drainUpdate(StreamingJobs.streamWindowAgg(StreamingJobs.readEventStream(spark, src)), sink)
println(f"## m4 drain                    ${(System.nanoTime() - t2) / 1e9}%8.2f s")
val t3 = System.nanoTime()
time("m4b full")(StreamingJobs.streamDedupQuery(spark, dir))
time("m4c full")(StreamingJobs.statefulDedupQuery(spark, dir))
System.exit(0)
