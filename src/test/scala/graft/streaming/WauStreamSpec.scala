package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Streaming WAU contract: once-only (user, day) emission makes the
  * per-batch fanout counts associative, so the merged stream series
  * equals batch x122 on the union — including under re-delivery of
  * days already counted. */
class WauStreamSpec extends SparkSuite {
  private def ts(day: Int, hour: Int): Timestamp =
    new Timestamp(day * 86400000L + hour * 3600000L)

  test("merged stream partials == batch rolling WAU, re-delivered days emit nothing") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("wau-stream").toString
    val (partialsPath, ckpt) = (s"$root/partials", s"$root/ckpt")

    // users 1..3 active over days 0..9; batch 2 re-delivers user 1 day 0
    val batches = Seq(
      Seq((1L, ts(0, 1)), (1L, ts(0, 5)), (2L, ts(1, 2))),
      Seq((1L, ts(0, 9)), (1L, ts(3, 1)), (3L, ts(2, 4)), (2L, ts(9, 3))),
      Seq((3L, ts(9, 8)), (1L, ts(9, 23)))
    )

    val src = MemoryStream[(Long, Timestamp)]
    val q = WauStream.startWau(
      src.toDF().toDF("user_id", "ts"), partialsPath, ckpt)
    try {
      batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }

      val all = batches.flatten.toDF("user_id", "ts")
      val ud = all.select(col("user_id"),
          floor(unix_micros(col("ts")) / lit(86400000000L)).as("day"))
        .distinct()
      val dmax = ud.agg(max(col("day"))).collect().head.getLong(0)
      val batchWau = ud
        .select(col("user_id"), explode(sequence(lit(0L), lit(6L))).as("i"), col("day"))
        .select(col("user_id"), (col("day") + col("i")).as("report_day"))
        .filter(col("report_day") <= dmax)
        .groupBy(col("report_day")).agg(countDistinct(col("user_id")).as("wau"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      val streamWau = WauStream.wau(spark, partialsPath)
        .filter(col("report_day") <= dmax)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      assert(streamWau === batchWau)
      // the re-delivered (user 1, day 0) added no partial rows in batch 2:
      // total partial mass == number of unique (user, report_day) pairs
      val coveredPairs = ud
        .select(col("user_id"), explode(sequence(lit(0L), lit(6L))).as("i"), col("day"))
        .select(col("user_id"), (col("day") + col("i")).as("report_day"))
        .distinct().count()
      val partialMass = spark.read.parquet(partialsPath)
        .agg(sum(col("n"))).collect().head.getLong(0)
      assert(partialMass === coveredPairs)
    } finally q.stop()
  }
}
