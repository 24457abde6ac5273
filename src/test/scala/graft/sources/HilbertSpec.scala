package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.functions.{HilbertValue, ZValue}

/** Hilbert layout contract: the index is a bijection on the grid whose
  * consecutive values are ALWAYS grid neighbors (the continuity Morton
  * lacks — pinned comparatively), and writing a fact table
  * Hilbert-ordered shrinks the per-file span of BOTH keys vs naive,
  * exactly as the Z-order twin does. */
class HilbertSpec extends SparkSuite {
  /** Reference inverse (d2xy) of the order-16 curve, test-side only. */
  private def d2xy(dIn: Long): (Long, Long) = {
    var x = 0L; var y = 0L; var t = dIn
    var s = 1L
    while (s < (1L << 16)) {
      val rx = 1L & (t / 2)
      val ry = 1L & (t ^ rx)
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1 - x; y = s - 1 - y }
        val tmp = x; x = y; y = tmp
      }
      x += s * rx
      y += s * ry
      t /= 4
      s <<= 1
    }
    (x, y)
  }

  test("xy2d inverts d2xy; consecutive indices are always grid neighbors") {
    // sample stretches of the curve, including quadrant boundaries
    // (around s^2 multiples) where Morton jumps and Hilbert must not
    val starts = Seq(0L, 0xFFFEL, 0xFFFFFEL, 0x3FFFFFFEL, 0x55555550L)
    for (start <- starts; d <- start until math.min(start + 4096L, (1L << 32) - 1)) {
      val (x, y) = d2xy(d)
      assert(HilbertValue.xy2d(x, y) === d, s"xy2d(d2xy($d))")
      val (x2, y2) = d2xy(d + 1)
      assert(math.abs(x2 - x) + math.abs(y2 - y) === 1L,
        s"curve jump at d=$d: ($x,$y) -> ($x2,$y2)")
    }
    // Morton, by contrast, jumps at the very first quadrant boundary
    def zxy(z: Long): (Long, Long) = {
      def compact(v: Long): Long = {
        var x = v & 0x5555555555555555L
        x = (x | (x >> 1)) & 0x3333333333333333L
        x = (x | (x >> 2)) & 0x0F0F0F0F0F0F0F0FL
        x = (x | (x >> 4)) & 0x00FF00FF00FF00FFL
        x = (x | (x >> 8)) & 0x0000FFFF0000FFFFL
        x = (x | (x >> 16)) & 0x00000000FFFFFFFFL
        x
      }
      (compact(z), compact(z >> 1))
    }
    val mortonJumps = (0L until 4096L).map { z =>
      val (a1, b1) = zxy(z); val (a2, b2) = zxy(z + 1)
      math.abs(a2 - a1) + math.abs(b2 - b1)
    }.max
    assert(mortonJumps > 1L, "Morton should jump; Hilbert must not")
  }

  test("bijection on a sampled subgrid") {
    val pts = for (x <- 0L until 128L; y <- 0L until 128L)
      yield HilbertValue.xy2d(x * 509L % 65536L, y * 521L % 65536L)
    assert(pts.distinct.size === pts.size)
  }

  test("hilbert layout shrinks per-file spans of BOTH keys vs naive") {
    val root = Files.createTempDirectory("hilbert").toString
    val t = Tables(spark, "/root/testdata/sf0.01").lineitem
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))

    t.repartition(16).write.mode("overwrite").parquet(s"$root/naive")
    Sinks.writeHilbert(t, s"$root/hilbert", "l_partkey", "l_suppkey", 16)

    def spans(path: String): (Double, Double) = {
      val byFile = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg((max("l_partkey") - min("l_partkey")).as("ps"),
          (max("l_suppkey") - min("l_suppkey")).as("ss"))
        .agg(avg("ps"), avg("ss")).head()
      (byFile.getDouble(0), byFile.getDouble(1))
    }
    val (np, ns) = spans(s"$root/naive")
    val (hp, hs) = spans(s"$root/hilbert")
    assert(spark.read.parquet(s"$root/hilbert").count() === t.count())
    assert(hp < np * 0.5, s"partkey span $hp !< ${np * 0.5}")
    assert(hs < ns * 0.5, s"suppkey span $hs !< ${ns * 0.5}")
  }
}
