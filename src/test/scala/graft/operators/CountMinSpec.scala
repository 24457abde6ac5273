package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.Tables

/** Count-Min guarantees behind x167: estimates never undercount (cells
  * only gain from collisions), and the sketch is mergeable — cells
  * built per corpus partition combine by plain SUM into exactly the
  * whole-corpus cells, the property that makes the sketch a bounded
  * streaming/distributed summary. */
class CountMinSpec extends SparkSuite {
  private def cells(df: org.apache.spark.sql.DataFrame) =
    df.select(explode(split(col("text"), " ")).as("w"))
      .select(col("w"), explode(sequence(lit(0), lit(2))).as("r"))
      .select(col("r").cast("long").as("r"),
        expr("poly_hash(concat(cast(r AS string), w)) % 1024").as("bucket"))
      .groupBy(col("r"), col("bucket")).agg(count(lit(1)).as("total"))

  test("estimates never undercount; cells merge by SUM across partitions") {
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
      .select(col("doc_id"), col("text"))

    // no underestimate, for EVERY word (not just the top-20 the query emits)
    val whole = cells(docs).cache()
    val truth = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("true_cnt"))
    val probes = truth
      .select(col("w"), col("true_cnt"), explode(sequence(lit(0), lit(2))).as("r"))
      .select(col("w"), col("true_cnt"), col("r").cast("long").as("r"),
        expr("poly_hash(concat(cast(r AS string), w)) % 1024").as("bucket"))
    val est = probes.join(whole, Seq("r", "bucket"))
      .groupBy(col("w"), col("true_cnt")).agg(min(col("total")).as("est"))
    assert(est.filter(col("est") < col("true_cnt")).count() === 0L)

    // mergeability: per-partition cells + SUM == whole-corpus cells
    val merged = cells(docs.filter(col("doc_id") % 2 === 0))
      .unionAll(cells(docs.filter(col("doc_id") % 2 =!= 0)))
      .groupBy(col("r"), col("bucket")).agg(sum(col("total")).as("total"))
    assert(merged.unionAll(whole).distinct().count() === whole.count())
  }
}
