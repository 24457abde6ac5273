package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.SparkSuite
import graft.operators.Corpus

/** Streaming sketch contract: per-batch histogram partials merge into
  * EXACTLY the one-shot batch sketch, and quantile estimates off the
  * merged sketch equal the batch estimates. */
class SketchStreamSpec extends SparkSuite {
  test("merged stream partials == one-shot batch sketch; quantiles agree") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("sketch-stream").toString
    val (partialsPath, ckpt) = (s"$root/partials", s"$root/ckpt")

    val incoming = (1L to 100L)

    val src = MemoryStream[Long]
    val q = SketchStream.startSketch(
      src.toDF().toDF("v"), "v", 10L, partialsPath, ckpt)
    try {
      incoming.grouped(40).foreach { b => src.addData(b.toSeq: _*); q.processAllAvailable() }

      def asMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val oneShot = asMap(Corpus.histogramSketch(incoming.toDF("v"), col("v"), 10L))
      val streamed = asMap(SketchStream.sketch(spark, partialsPath))
      assert(streamed === oneShot)

      val batchQ = Corpus.histQuantiles(
          Corpus.histogramSketch(incoming.toDF("v"), col("v"), 10L), Seq(0.5, 0.9), 10L)
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      val streamQ = SketchStream.quantiles(spark, partialsPath, Seq(0.5, 0.9), 10L)
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      assert(streamQ === batchQ)
      // three batch partitions landed, each bins-sized
      assert(spark.read.parquet(partialsPath).count() <= 3L * 11)
    } finally q.stop()
  }
}
