package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.Tables

/** Binary-quantization (1 bit/dim) mechanics and honesty pins.
  * Correctness of the registered queries (x168/x169/x170) is the DuckDB
  * hash oracle's job; this spec pins the structural contract (a total
  * 2-words-per-vector packing whose unpacked bits reproduce the sign
  * rule exactly, codes inside the sign-safe [0, 2³²) range), the
  * metric contract (Hamming symmetry, zero self-distance), and the
  * shortlist economics claim: with the shortlist opened to the corpus
  * size, the re-ranked top-k collapses to the exact quantized-L2
  * answer — the re-rank stage itself loses nothing; only shortlist
  * capture can.
  */
class BqSpec extends SparkSuite {
  lazy val emb = Tables(spark, "/root/testdata/sf0.001").embeddings

  test("bqEncode: total 2-word packing, codes in [0, 2^32), bits replay the sign rule") {
    val n = emb.count()
    val thr = Dedup.bqThresholds(emb, "vec_id", "embedding")
    assert(thr.count() === 64L)
    val codes = Dedup.bqEncode(emb, "vec_id", "embedding", thr).cache()
    assert(codes.count() === n * 2)
    assert(codes.select("vec_id", "word").distinct().count() === n * 2)
    val range = codes.agg(min("code"), max("code")).head()
    assert(range.getLong(0) >= 0L && range.getLong(1) < (1L << 32))

    // unpack every bit and compare against the raw q·cnt > s rule
    val bits = codes.select(col("vec_id"), col("word"),
        explode(sequence(lit(0), lit(31))).as("off"))
      .join(codes, Seq("vec_id", "word"))
      .select(col("vec_id"), (col("word") * 32 + col("off")).as("pos"),
        expr("(code >> cast(off as int)) & 1").as("bit"))
    val want = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        floor(col("v").cast("double") * lit(1000000.0)).cast("long").as("q"))
      .join(broadcast(thr), Seq("pos"))
      .select(col("vec_id"), col("pos"),
        when(col("q") * col("cnt") > col("s"), 1L).otherwise(0L).as("wbit"))
    val mismatches = bits.join(want, Seq("vec_id", "pos"))
      .filter(col("bit") =!= col("wbit")).count()
    assert(mismatches === 0L)
  }

  test("bqSearch: Hamming is symmetric, bounded by 64, and zero only for identical codes") {
    val top = Dedup.bqSearch(emb, "vec_id", "embedding",
      col("vec_id") < 8, topK = 5).cache()
    val rows = top.collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val h = r.getLong(2); h >= 0L && h <= 64L
    })
    // symmetry: d(a, b) among query pairs equals d(b, a)
    val qq = rows.filter(r => r.getLong(1) < 8)
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    qq.foreach { case ((a, b), h) =>
      qq.get((b, a)).foreach(h2 => assert(h2 === h))
    }
  }

  test("bq rerank with corpus-wide shortlist == exact quantized-L2 top-k") {
    val n = emb.count().toInt
    val viaBq = Dedup.bqSearchRerank(emb, "vec_id", "embedding",
      col("vec_id") < 8, topK = 3, shortlist = n)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.sqSearchRerank(emb, "vec_id", "embedding",
      col("vec_id") < 8, topK = 3, shortlist = n)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaBq === exact)
  }
}
