package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.Tables

/** The property content-defined chunking exists for, pinned on real
  * docs: after inserting a sentence mid-document, the CDC chunk grid is
  * disturbed only NEAR the edit (boundaries depend on a k=4-word
  * window), while a fixed 16-word grid re-phases every chunk after the
  * edit point — so CDC preserves far more of the original chunk
  * inventory, which is exactly what keeps chunk-level dedup working
  * across lightly-edited copies. Plus the structural laws: word
  * conservation and layout invariance (the oracle pins cross-engine
  * exactness of x194 itself). */
class CdcSpec extends SparkSuite {
  lazy val docs = Tables(spark, "/root/testdata/sf0.01").documents

  private def chunkBag(df: org.apache.spark.sql.DataFrame): Map[(Long, String), Int] =
    Corpus.cdcChunks(df, "doc_id", "text")
      .select("doc_id", "chunk").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(identity).view.mapValues(_.length).toMap

  test("insertion-robustness: CDC preserves far more chunks than a fixed grid") {
    import spark.implicits._
    val base = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._2.split(" ").length >= 60)
      .take(50)
    assert(base.length === 50)
    // the edit: three words spliced in at mid-document
    val edited = base.map { case (id, t) =>
      val w = t.split(" ")
      val (a, b) = w.splitAt(w.length / 2)
      (id, (a ++ Array("INSERTED", "EDIT", "HERE") ++ b).mkString(" "))
    }

    def fixedBag(rows: Array[(Long, String)]): Map[(Long, String), Int] = rows
      .flatMap { case (id, t) =>
        t.split(" ").grouped(16).map(g => (id, g.mkString(" "))) }
      .groupBy(identity).view.mapValues(_.length).toMap

    def shared(a: Map[(Long, String), Int], b: Map[(Long, String), Int]): Int =
      a.keysIterator.map(k => math.min(a(k), b.getOrElse(k, 0))).sum

    val cdcBefore = chunkBag(base.toSeq.toDF("doc_id", "text"))
    val cdcAfter = chunkBag(edited.toSeq.toDF("doc_id", "text"))
    val cdcShared = shared(cdcBefore, cdcAfter).toDouble / cdcBefore.values.sum

    val fixShared = shared(fixedBag(base), fixedBag(edited)).toDouble /
      fixedBag(base).values.sum

    info(f"CDC preserved $cdcShared%.3f of chunks; fixed grid $fixShared%.3f")
    // fixed grid keeps only the pre-edit prefix (~half the corpus at a
    // mid-doc edit); CDC loses only the chunks touching the splice
    assert(cdcShared > 0.75, s"CDC preserved only $cdcShared")
    assert(cdcShared > fixShared + 0.2,
      s"CDC ($cdcShared) did not clearly beat the fixed grid ($fixShared)")
  }

  test("word conservation and layout invariance") {
    val chunks = Corpus.cdcChunks(docs, "doc_id", "text")
      .select(col("doc_id"),
        size(split(col("chunk"), " ")).cast("long").as("w"))
      .groupBy("doc_id").agg(sum("w").as("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val words = docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chunks === words)

    val a = chunkBag(docs.select("doc_id", "text"))
    val b = chunkBag(docs.select("doc_id", "text").repartition(13, col("doc_id")))
    assert(a === b)
    assert(a.nonEmpty)
  }
}
