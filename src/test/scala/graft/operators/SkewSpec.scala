package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.Tables

/** Salting equivalence: the skew helpers must return exactly the unsalted
  * results (associative re-aggregation / replicated join). */
class SkewSpec extends SparkSuite {
  lazy val t = Tables(spark, "/root/testdata/sf0.001")

  test("saltedSum == plain groupBy sum (counts and integer sums)") {
    val ev = t.events.select(col("user_id"), lit(1L).as("one"),
      (col("value") * 100).cast("long").as("cents"))
    val direct = ev.groupBy(col("user_id"))
      .agg(sum(col("one")).as("n"), sum(col("cents")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val salted = Skew.saltedSum(ev, col("user_id"), salts = 8,
      Map("n" -> col("one"), "c" -> col("cents")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted === direct)
  }

  test("saltedJoin == plain join") {
    val left = t.orders.select(col("o_orderkey"), col("o_custkey"))
    val right = t.customer.select(col("c_custkey"), col("c_name"))
    val direct = left.join(right, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_name")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val salted = Skew.saltedJoin(left, right,
      col("o_custkey"), col("c_custkey"), salts = 4)
      .select("o_orderkey", "c_name")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(salted === direct)
  }
}
