package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.Tables

/** x196 matryoshka-recall laws, pinned against a LOCAL replay of the
  * same arithmetic (sequential-fold double accumulation over float
  * prefixes, row_number tie-break on neighbor_id) — the plan-independent
  * ground truth the DuckDB oracle also encodes — plus the fixture-level
  * reading the audit exists for: recall@10 grows with the serving
  * prefix (0.11 → 0.21 → 0.35 at d = 8/16/32 here). */
class MatryoshkaSpec extends SparkSuite {
  lazy val emb = Tables(spark, "/root/testdata/sf0.01").embeddings

  lazy val got =
    Dedup.matryoshkaRecall(emb, "vec_id", "embedding",
      col("query_id") < 8, k = 10, dims = Seq(8, 16, 32), fullDim = 64)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
      .toMap

  test("matches a local replay of the prefix-cosine law") {
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float], d: Int): Double = {
      var acc = 0.0; var i = 0
      while (i < d) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def topk(q: Long, d: Int): Seq[Long] = {
      val a = vecs(q)
      vecs.toSeq.filter(_._1 != q).map { case (id, b) =>
        val c = dot(a, b, d) / (math.sqrt(dot(a, a, d)) * math.sqrt(dot(b, b, d)))
        (id, c)
      }.sortBy { case (id, c) => (-c, id) }.take(10).map(_._1)
    }
    val queries = vecs.keys.filter(_ < 8).toSeq
    val expect = (for {
      q <- queries; d <- Seq(8, 16, 32)
      truth = topk(q, 64).toSet
      hits = topk(q, d).count(truth.contains)
    } yield (d.toLong, q) -> ((hits.toLong, hits / 10.0))).toMap
    assert(got === expect)
  }

  test("recall grows with the serving prefix on this fixture") {
    val mean = got.toSeq.groupBy(_._1._1)
      .view.mapValues(v => v.map(_._2._2).sum / v.size).toMap
    assert(mean(8L) < mean(16L) && mean(16L) < mean(32L), mean.toString)
    got.values.foreach { case (h, r) =>
      assert(h >= 0L && h <= 10L && r >= 0.0 && r <= 1.0)
    }
  }
}
