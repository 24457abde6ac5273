package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.functions.ZValue

/** Z-order layout contract: the Morton interleave is a correct bit
  * interleave, and writing a fact table z-ordered by two keys shrinks
  * the per-file span of BOTH keys vs a naive layout — the property that
  * makes parquet min/max stats prune files for predicates on either
  * column. */
class ZOrderSpec extends SparkSuite {
  test("interleave: round-trip bits, monotone in each dimension locally") {
    assert(ZValue.interleave(0L, 0L) === 0L)
    assert(ZValue.interleave(1L, 0L) === 1L)
    assert(ZValue.interleave(0L, 1L) === 2L)
    assert(ZValue.interleave(3L, 3L) === 15L)
    // spread puts bits at even positions only
    assert((ZValue.spread(0xFFFFFFFFL) & 0xAAAAAAAAAAAAAAAAL) === 0L)
    // interleave of (a, b) recovers a and b by de-interleaving
    def deinterleave(z: Long): (Long, Long) = {
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
    for (a <- Seq(0L, 7L, 12345L, 0xFFFFFFFFL); b <- Seq(0L, 3L, 99999L))
      assert(deinterleave(ZValue.interleave(a, b)) === ((a, b)))
  }

  test("z-ordered layout shrinks per-file spans of BOTH keys vs naive") {
    val root = Files.createTempDirectory("zorder").toString
    val t = Tables(spark, "/root/testdata/sf0.01").lineitem
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))

    // 16 files = 4 z-prefix bits = a 4×4 grid over the two normalized
    // keys, so each file should span ~1/4 of EACH key's domain
    t.repartition(16).write.mode("overwrite").parquet(s"$root/naive")
    Sinks.writeZOrdered(t, s"$root/zorder", "l_partkey", "l_suppkey", 16)

    def spans(path: String): (Double, Double) = {
      val byFile = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg((max("l_partkey") - min("l_partkey")).as("ps"),
          (max("l_suppkey") - min("l_suppkey")).as("ss"))
        .agg(avg("ps"), avg("ss")).head()
      (byFile.getDouble(0), byFile.getDouble(1))
    }
    val (np, ns) = spans(s"$root/naive")
    val (zp, zs) = spans(s"$root/zorder")
    // same rows, different layout
    assert(spark.read.parquet(s"$root/zorder").count() === t.count())
    // both dimensions gain locality; naive round-robin files span ~the
    // full key domain, z-ordered files a fraction of it
    assert(zp < np * 0.5, s"partkey span $zp !< ${np * 0.5}")
    assert(zs < ns * 0.5, s"suppkey span $zs !< ${ns * 0.5}")
  }

  test("guards: empty frame, all-null key, and extreme-domain keys") {
    import spark.implicits._
    val root = Files.createTempDirectory("zorder-guards").toString

    // empty input: bounds row is null — write must succeed, not NPE
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    Sinks.writeZOrdered(empty, s"$root/empty", "a", "b", 4)
    assert(spark.read.parquet(s"$root/empty").count() === 0)

    // all-null key column: same degenerate-bounds path
    val nullKey = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
      .withColumn("a", lit(null).cast("long"))
    Sinks.writeZOrdered(nullKey, s"$root/nullkey", "a", "b", 4)
    assert(spark.read.parquet(s"$root/nullkey").count() === 2)

    // a key domain wider than 2^63/65535 (the old multiply overflowed
    // int64 here silently): write succeeds and rows round-trip
    val wide = Seq(
      (Long.MinValue + 1, 1L), (-1L, 2L), (0L, 3L), (Long.MaxValue, 4L)
    ).toDF("a", "b")
    Sinks.writeZOrdered(wide, s"$root/wide", "a", "b", 2)
    val back = spark.read.parquet(s"$root/wide")
      .as[(Long, Long)].collect().toSet
    assert(back === Set((Long.MinValue + 1, 1L), (-1L, 2L), (0L, 3L),
      (Long.MaxValue, 4L)))
  }
}
