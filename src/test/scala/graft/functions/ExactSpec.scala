package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.functions.Exact._
import graft.sources.Tables

/** Limb sums must equal the decimal-cast sums bit-for-bit — they are the
  * codegen fast path for the same exact arithmetic, not an approximation. */
class ExactSpec extends SparkSuite {
  lazy val li = Tables(spark, "/root/testdata/sf0.001").lineitem

  test("limb sums == decimal sums, grouped, incl. negative values") {
    // flip sign on ~half the rows so negative limbs are exercised
    val df = li.select(
      col("l_suppkey"),
      (col("l_extendedprice") * when(pmod(col("l_orderkey"), lit(2)) === 0, -1).otherwise(1))
        .as("v"))
    val viaDecimal = df.groupBy("l_suppkey")
      .agg(sum(col("v").cast(Dec)).cast("double").as("s"))
    val viaLimbs = df.groupBy("l_suppkey")
      .agg(limbAggs("v", unscaledLong(col("v"), 4)).head,
        limbAggs("v", unscaledLong(col("v"), 4)).tail: _*)
      .select(col("l_suppkey"), limbSumDouble("v").as("s"))
    val a = viaDecimal.collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    val b = viaLimbs.collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    assert(a.size === b.size)
    a.foreach { case (k, v) =>
      assert(java.lang.Double.doubleToLongBits(v) ===
        java.lang.Double.doubleToLongBits(b(k)), s"suppkey $k")
    }
  }

  test("limb product sums == decimal product sums (scale-4 revenue)") {
    val viaDecimal = li.groupBy("l_suppkey")
      .agg(round(sum(dec(col("l_extendedprice")) * (decOne - dec(col("l_discount")))), 4)
        .cast("double").as("s"))
    val u = unscaledLong(col("l_extendedprice"), 2) *
      (lit(100L) - unscaledLong(col("l_discount"), 2))
    val viaLimbs = li.groupBy("l_suppkey")
      .agg(limbAggs("rev", u).head, limbAggs("rev", u).tail: _*)
      .select(col("l_suppkey"), limbSumDouble("rev").as("s"))
    val a = viaDecimal.collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    val b = viaLimbs.collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    a.foreach { case (k, v) =>
      assert(java.lang.Double.doubleToLongBits(v) ===
        java.lang.Double.doubleToLongBits(b(k)), s"suppkey $k")
    }
  }

  test("limb re-aggregation (partial sums) is exact") {
    val u = unscaledLong(col("l_extendedprice"), 4)
    val partial = li.groupBy("l_suppkey", "l_returnflag")
      .agg(limbAggs("p", u).head, limbAggs("p", u).tail: _*)
    val reagged = partial.groupBy("l_suppkey")
      .agg(limbReaggs("p").head, limbReaggs("p").tail: _*)
      .select(col("l_suppkey"), limbSumDouble("p").as("s"))
    val direct = li.groupBy("l_suppkey")
      .agg(sum(col("l_extendedprice").cast(Dec)).cast("double").as("s"))
    val a = direct.collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    val b = reagged.collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    a.foreach { case (k, v) =>
      assert(java.lang.Double.doubleToLongBits(v) ===
        java.lang.Double.doubleToLongBits(b(k)), s"suppkey $k")
    }
  }

  test("property: limb sums equal BigDecimal reference on random 2dp data") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260812L)
    (1 to 5).foreach { trial =>
      // random 2-decimal values across magnitudes and signs, random keys
      val data = Seq.fill(2000) {
        val cents = rnd.between(-5000000000L, 5000000000L) // ±5e7 units
        (rnd.nextInt(11), cents / 100.0)
      }
      val df = data.toDF("k", "v").repartition(rnd.nextInt(7) + 2)
      val got = df.groupBy("k")
        .agg(limbAggs("v", unscaledLong(col("v"), 4)).head,
          limbAggs("v", unscaledLong(col("v"), 4)).tail: _*)
        .select(col("k"), limbSumDouble("v").as("s"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      // independent reference: exact BigDecimal sum per key → double
      val want = data.groupBy(_._1).map { case (k, vs) =>
        k -> vs.map(v => java.math.BigDecimal.valueOf(v._2).setScale(4))
          .reduce(_ add _).doubleValue()
      }
      assert(got.keySet === want.keySet, s"trial $trial")
      want.foreach { case (k, v) =>
        assert(java.lang.Double.doubleToLongBits(v) ===
          java.lang.Double.doubleToLongBits(got(k)), s"trial $trial key $k")
      }
    }
  }

  test("synthetic big-magnitude values exercise the top limb") {
    import spark.implicits._
    // values around 1e9 with binary-exact 2-decimal fractions (multiples
    // of .25, per the ≤4dp data contract): unscaled4 ≈ 1e13 > 1e12 → l2 > 0
    val df = (1 to 1000).map(i => (i % 7, i * 1.0e9 + (i % 4) * 0.25)).toDF("k", "v")
    val viaDecimal = df.groupBy("k")
      .agg(sum(col("v").cast(Dec)).cast("double").as("s"))
    val viaLimbs = df.groupBy("k")
      .agg(limbAggs("v", unscaledLong(col("v"), 4)).head,
        limbAggs("v", unscaledLong(col("v"), 4)).tail: _*)
      .select(col("k"), limbSumDouble("v").as("s"))
    val a = viaDecimal.collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    val b = viaLimbs.collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    a.foreach { case (k, v) =>
      assert(java.lang.Double.doubleToLongBits(v) ===
        java.lang.Double.doubleToLongBits(b(k)), s"k $k")
    }
  }
}
