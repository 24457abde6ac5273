package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Analytics
import graft.sources.Tables

/** Streaming anomaly-scoring contract: micro-batch z-scores against a
  * fixed reference equal the batch x84 scores on the same rows
  * (bit-identical — the stats frame is the same exact limb aggregation),
  * and the alert side table is exactly the |z| > 3 subset. */
class AnomalyStreamSpec extends SparkSuite {
  test("stream scores == batch scores; alerts are the |z|>3 subset") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("anomaly-stream").toString
    val (scoredPath, alertPath, ckpt) = (s"$root/scored", s"$root/alerts", s"$root/ckpt")

    val reference = Tables(spark, "/root/testdata/sf0.001").events
    val incoming = reference
      .filter(col("event_id") < 90)
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(incoming.length == 90)

    val src = MemoryStream[(Long, String, Double)]
    val q = AnomalyStream.startScoring(
      src.toDF().toDF("event_id", "event_type", "value"),
      reference, scoredPath, alertPath, ckpt)
    try {
      incoming.grouped(30).foreach { b => src.addData(b: _*); q.processAllAvailable() }

      // batch twin: x84's scoring of the same rows against the same stats
      val z = (col("value") - col("mean_v")) / col("std_v")
      val batch = reference
        .filter(col("event_id") < 90)
        .join(broadcast(Analytics.eventTypeStats(reference)), Seq("event_type"))
        .select(col("event_id"), z.as("z_score"), (abs(z) > 3.0).as("is_anomaly"))
        .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getBoolean(2)))).toMap

      val streamed = spark.read.parquet(scoredPath)
        .select("event_id", "z_score", "is_anomaly")
        .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getBoolean(2)))).toMap
      assert(streamed === batch) // bit-identical doubles

      val alerts = spark.read.parquet(alertPath)
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(alerts === batch.collect { case (id, (_, true)) => id }.toSet)
    } finally q.stop()
  }
}
