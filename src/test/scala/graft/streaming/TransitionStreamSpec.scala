package graft.streaming

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.Tables
import graft.streaming.TransitionStream.TEv

/** Transition-stream contract: the stateful consecutive-pair extraction
  * equals the lag-window form (the x75 shape) in batch mode, and a
  * 3-micro-batch stream over the same in-order events emits the identical
  * transition multiset — including the pairs that straddle batch
  * boundaries, which only the keyed LastEv state can produce. */
class TransitionStreamSpec extends SparkSuite {
  private def fixture() = {
    import spark.implicits._
    Tables(spark, "/root/testdata/sf0.001").events
      .filter(col("user_id") < 10)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .as[TEv]
  }

  private def windowForm(evs: Seq[TEv]): Map[(Long, String, String), Long] = {
    import spark.implicits._
    val seq = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    evs.toDF()
      .withColumn("prev_type", lag(col("event_type"), 1).over(seq))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("user_id"), col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => ((r.getLong(0), r.getString(1), r.getString(2)), r.getLong(3)))
      .toMap
  }

  test("batch transitions == lag-window form") {
    import spark.implicits._
    val evs = fixture().collect().toSeq
    val got = TransitionStream.transitions(fixture())
      .groupByKey(t => (t.user_id, t.prev_type, t.next_type))
      .count().collect().toMap
    assert(got === windowForm(evs))
  }

  test("3-batch stream == batch, including cross-batch pairs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // in-order delivery: one global (ts, event_id) order, split in thirds
    val evs = fixture().collect().toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    val batches = evs.grouped((evs.length + 2) / 3).toSeq
    assert(batches.length == 3)

    val src = MemoryStream[TEv]
    val q = TransitionStream.transitions(src.toDS())
      .writeStream.format("memory").queryName("trans_out")
      .outputMode("append").start()
    try {
      batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }
      val streamed = spark.table("trans_out")
        .groupBy(col("user_id"), col("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
        .collect()
        .map(r => ((r.getLong(0), r.getString(1), r.getString(2)), r.getLong(3)))
        .toMap
      assert(streamed === windowForm(evs))

      // the state path is genuinely exercised: some user's consecutive
      // pair straddles a batch boundary (last event of batch i, first of
      // a later batch for that user)
      val straddles = batches.indices.dropRight(1).exists { i =>
        val seen = batches.take(i + 1).flatten.map(_.user_id).toSet
        batches.drop(i + 1).flatten.exists(e => seen(e.user_id))
      }
      assert(straddles)
    } finally q.stop()
  }
}
