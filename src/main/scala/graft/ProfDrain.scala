package graft

// Drain-overhead census (round-19 optimization round): the 23 m4* drains
// carry ~80 s of the committed bench and are documented as fixed
// RocksDB/checkpoint machinery at test scale — but "fixed" deserves a
// decomposition before this round leaves them alone. This harness runs one
// registered drain with a progress listener attached and prints, per
// micro-batch, Spark's own durationMs breakdown (addBatch / getBatch /
// walCommit / stateCommit etc.), plus the wall spent before the first batch
// (source staging + query start) and after the last (awaitTermination +
// read-back). A provider A/B (RocksDB vs default) measured noise-level
// differences, so the breakdown decides whether anything here is movable.
//   usage: sbt "runMain graft.ProfDrain <sfDir> <m4-query> [m4-query ...]"
//          (one local core and one shuffle partition per available CPU)
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import scala.jdk.CollectionConverters._

object ProfDrain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("m4_stream_window_agg")
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.bootstrap(spark)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        println(s"##   query started ${System.nanoTime() / 1000000}")
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.toSeq.sortBy(-_._2.longValue)
          .map { case (k, v) => s"$k=$v" }.mkString(" ")
        println(s"##   batch ${p.batchId} rows=${p.numInputRows} $d")
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        println(s"##   query terminated ${System.nanoTime() / 1000000}")
    }
    spark.streams.addListener(listener)
    names.foreach { q =>
      val w0 = System.nanoTime()
      println(s"## $q start")
      val df = SparkEntry.queries(q)(spark, dir)
      val w1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val w2 = System.nanoTime()
      println(f"## $q construct+drain ${(w1 - w0) / 1e9}%6.2f s  " +
        f"readback-noop ${(w2 - w1) / 1e9}%6.2f s")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
