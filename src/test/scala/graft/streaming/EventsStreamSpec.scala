package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.Tables

class EventsStreamSpec extends SparkSuite {
  lazy val events = Tables(spark, "/root/testdata/sf0.001").events

  test("windowedCounts incremental == batch") {
    import spark.implicits._
    // stage the (nanos-converted) events as a clean parquet stream source
    val dir = Files.createTempDirectory("events-stream").toString
    events.write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = EventsStream.windowedCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_counts").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql(
      "SELECT window.start AS ws, event_type, n_events FROM win_counts")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batch = EventsStream.windowedCounts(events)
      .select(col("window.start").as("ws"), col("event_type"), col("n_events"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("stream-stream interval join == batch interval join") {
    val dir = Files.createTempDirectory("events-ssj").toString
    events.write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = EventsStream.attributedPurchases(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("attributed").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("SELECT purchase_id, click_id FROM attributed")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = EventsStream.attributedPurchases(events)
      .select("purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming dedup drops replayed events") {
    val dir = Files.createTempDirectory("events-dedup").toString
    // stage the same events twice: a replayed source
    events.write.mode("overwrite").parquet(s"$dir/a")
    events.write.mode("overwrite").parquet(s"$dir/b")
    val schema = spark.read.parquet(s"$dir/a").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/{a,b}")
    val q = EventsStream.dedupedEvents(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_events").start()
    q.processAllAvailable()
    q.stop()
    val n = spark.sql("SELECT COUNT(*) FROM dedup_events").collect()(0).getLong(0)
    assert(n === events.count()) // each event_id exactly once despite replay
  }

  test("stateful sessionization matches the batch window formulation") {
    import spark.implicits._
    val evs = events
      .select(col("user_id"), col("event_id"), col("ts"))
      .as[EventsStream.Ev]
    val sessions = EventsStream.sessionizeStateful(evs, gapMinutes = 30).cache()
    // same session inventory as the batch lag/running-sum query (x13)
    val batch = graft.operators.TrainingData.all
      .find(_.name == "x13_sessionize").get
      .fn(Tables(spark, "/root/testdata/sf0.001"))
      .cache()
    assert(sessions.count() === batch.count())
    val statefulPerUser = sessions.groupByKey(_.user_id).count().collect().toMap
    val batchPerUser = batch.groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(statefulPerUser === batchPerUser)
    // total events across sessions == total events
    val totalEvents = sessions.collect().map(_.n_events.toLong).sum
    assert(totalEvents === events.count())
  }

  test("built-in session_window agrees with the gaps-and-islands formulation") {
    // Spark's native session windows (the built-in the engine prefers
    // when it fits) produce the exact session inventory of x13's
    // lag/running-sum form: same (user, n_events, start, end) per
    // session. (Boundary note: session_window closes at a gap of
    // EXACTLY 30 min while the lag form keeps it open; the fixture has
    // no exact-gap successor pairs, so the semantics coincide.)
    val batch = graft.operators.TrainingData.all
      .find(_.name == "x13_sessionize").get
      .fn(Tables(spark, "/root/testdata/sf0.001"))
      .select(col("user_id"), col("n_events"), col("start_us"), col("end_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val native = events
      .select(col("user_id"), col("ts"))
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"))
      .select(col("user_id"), col("n_events"), col("start_us"), col("end_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(native === batch)
  }

  test("streaming sessionization: timeout-closed sessions, no duplicate emission") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def ts(min: Int) = new Timestamp(min.toLong * 60000L)
    val src = MemoryStream[EventsStream.Ev]
    val evs = src.toDS().withWatermark("ts", "0 seconds").as[EventsStream.Ev]
    val out = EventsStream.sessionizeStateful(evs, gapMinutes = 30, batchMode = false)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sess_stream").start()

    // batch 1 (events start past epoch so the initial watermark=0 drops
    // nothing): user 1 has two events 10 min apart (one open session),
    // user 2 one event — nothing should be emitted yet (gap not elapsed)
    src.addData(EventsStream.Ev(1L, 100L, ts(60)), EventsStream.Ev(1L, 101L, ts(70)),
      EventsStream.Ev(2L, 200L, ts(65)))
    q.processAllAvailable()
    assert(spark.sql("SELECT * FROM sess_stream").count() === 0)

    // batch 2: user 1 continues within the gap (25 min ≤ 30) — the open
    // session extends in place, nothing emitted (no overlapping duplicate)
    src.addData(EventsStream.Ev(1L, 102L, ts(95)))
    q.processAllAvailable()
    // batches 3-4: push the watermark far past every timeout → both
    // sessions close via EventTimeTimeout, exactly once each
    src.addData(EventsStream.Ev(9L, 900L, ts(500)))
    q.processAllAvailable()
    src.addData(EventsStream.Ev(9L, 901L, ts(1000)))
    q.processAllAvailable()
    q.stop()

    val rows = spark.sql(
      "SELECT user_id, start_us, end_us, n_events FROM sess_stream WHERE user_id IN (1, 2)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    def us(min: Int) = min.toLong * 60000000L
    // exactly one row per closed session — the append stream never re-emits
    assert(rows === Set(
      (2L, us(65), us(65), 1),
      (1L, us(60), us(95), 3)))
  }

  test("idempotent parquet sink: batch-keyed layout, no duplicates across restart") {
    val src = Files.createTempDirectory("sink-src").toString
    val out = Files.createTempDirectory("sink-out").toString
    val ckpt = Files.createTempDirectory("sink-ckpt").toString
    events.limit(100).write.mode("overwrite").parquet(s"$src/a")
    val schema = spark.read.parquet(s"$src/a").schema

    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(s"$src/*")
      val q = StreamSinks.startIdempotentParquetSink(stream, out, ckpt)
      q.processAllAvailable()
      q.stop()
    }
    run()
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst === 100)
    // restart from the same checkpoint with one new file: old batches are
    // not re-emitted, the new file lands in a new batch_id directory
    events.limit(150).write.mode("overwrite").parquet(s"$src/b")
    run()
    val all = spark.read.parquet(out)
    assert(all.count() === 250)
    assert(all.select("batch_id").distinct().count() >= 2)
    // event_ids from the first batch appear exactly once
    val dupes = all.groupBy("event_id", "batch_id").count()
      .filter(col("count") > 1).count()
    assert(dupes === 0)
  }
}
