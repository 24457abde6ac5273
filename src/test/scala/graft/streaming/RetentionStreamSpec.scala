package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.Tables
import graft.streaming.RetentionStream.REv

/** Retention-stream contract: accumulating the per-batch new-active-day
  * feed reproduces the batch x76 cohort triangle exactly — including
  * users whose activity spans batches (cohort day fixed by their first
  * batch) and days re-delivered in later batches (emitted once). */
class RetentionStreamSpec extends SparkSuite {
  private def batchTriangle(evs: Seq[REv]): Map[(String, Long), Long] = {
    import spark.implicits._
    val active = evs.toDF()
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val cohorts = active.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    active.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .collect()
      .map(r => ((r.getDate(0).toString, r.getLong(1)), r.getLong(2)))
      .toMap
  }

  test("3-batch stream cohort feed == batch x76 triangle") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val evs = Tables(spark, "/root/testdata/sf0.001").events
      .filter(col("user_id") < 10)
      .select(col("user_id"), col("ts"))
      .as[REv].collect().toSeq.sortBy(_.ts.getTime)
    assert(evs.nonEmpty)
    val batches = evs.grouped((evs.length + 2) / 3).toSeq
    assert(batches.length == 3)

    val src = MemoryStream[REv]
    val q = RetentionStream.cohortHits(src.toDS())
      .writeStream.format("memory").queryName("ret_out")
      .outputMode("append").start()
    try {
      batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }
      val streamed = spark.table("ret_out")
        .groupBy(col("cohort_day"), col("day_offset"))
        .agg(count(lit(1)).as("n_users"))
        .collect()
        .map(r => ((r.getDate(0).toString, r.getLong(1)), r.getLong(2)))
        .toMap
      assert(streamed === batchTriangle(evs))

      // dedup-across-batches path exercised: some user is active on the
      // same day in two different batches
      val dayOf = (e: REv) => (e.user_id, Math.floorDiv(e.ts.getTime, 86400000L))
      val perBatch = batches.map(_.map(dayOf).toSet)
      assert(perBatch.combinations(2).exists { case Seq(a, b) => (a & b).nonEmpty })
    } finally q.stop()
  }
}
