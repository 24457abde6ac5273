package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.Tables

/** SCD2 / funnel invariants beyond the oracle hash. */
class TemporalSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  test("scd2: exactly one current version per entity; ranges chain") {
    val t = Tables(spark, sf)
    val snap = Temporal.scd2Snapshot(
      t.orders, col("o_custkey"), col("o_orderdate"), col("o_orderkey")).cache()
    val entities = snap.select("o_custkey").distinct().count()
    val currents = snap.filter(col("is_current")).count()
    assert(currents === entities)
    // each non-current version's valid_to equals the next valid_from:
    // lead over the same ordering must reproduce valid_to for all rows
    val rechain = snap.withColumn("next_from",
      lead(col("valid_from"), 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey"))
          .orderBy(col("valid_from").asc, col("o_orderkey").asc)))
    val broken = rechain.filter(
      (col("valid_to").isNotNull || col("next_from").isNotNull) &&
        !(col("valid_to") <=> col("next_from"))).count()
    assert(broken === 0L)
  }

  test("funnel: converted iff a purchase strictly follows the first click; gap positive") {
    val t = Tables(spark, sf)
    val f = Temporal.conversionFunnel(
      t.events, "user_id", "event_type", "ts", "click", "purchase").cache()
    assert(f.filter(col("converted") && col("micros_to_convert") <= 0).count() === 0L)
    assert(f.filter(!col("converted") && col("first_to").isNotNull).count() === 0L)
    // spot-check one converted user against a direct computation
    val row = f.filter(col("converted")).orderBy(col("user_id")).limit(1).collect()(0)
    val uid = row.getLong(0)
    val firstClick = t.events
      .filter(col("user_id") === uid && col("event_type") === "click")
      .agg(min(col("ts"))).collect()(0).getTimestamp(0)
    assert(row.getTimestamp(1) === firstClick)
  }
}
