package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.Tables

/** Cross-operator consistency for the round-7 composition queries: the
  * composed plans must agree with the component operators they claim to
  * compose — a guard the per-query oracle cannot provide (it checks each
  * query against SQL, not queries against each other). */
class CompositionSpec extends SparkSuite {
  private lazy val t = Tables(spark, "/root/testdata/sf0.001")

  test("x83 release set honors every component gate") {
    val released = TrainingData.x83.fn(t).cache()
    val ids = released.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.nonEmpty)

    // ≤ 10 docs per source (the x79 cap)
    val perSource = released.groupBy("source").count().collect()
    assert(perSource.forall(_.getLong(1) <= 10))

    // every released doc passed the x65 gate
    val kept = TrainingData.x65.fn(t).filter(col("kept"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(kept))

    // none is benchmark or contaminated per x40
    val x40 = TrainingData.x40.fn(t).cache()
    val contaminated = x40.filter(col("contaminated"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.intersect(contaminated).isEmpty)
    assert(ids.forall(_ % 97 != 0))

    // every released doc sits in its source's x70 band
    val banded = TrainingData.x70.fn(t).filter(col("keep"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(banded))

    // split agrees with the x43 content-hash assignment
    val x43 = TrainingData.x43.fn(t)
      .select("doc_id", "split_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val splits = released.select("doc_id", "split_name").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(splits.forall { case (id, s) => x43(id) == s })
    released.unpersist(); x40.unpersist()
  }

  test("x82 chunk inventory matches the stride arithmetic") {
    val chunks = TrainingData.x82.fn(t).cache()
    val lens = t.documents
      .select(col("doc_id"), size(split(col("text"), " ")).as("len"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val counts = chunks.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.keySet == lens.keySet)
    counts.foreach { case (id, n) =>
      val len = lens(id)
      val expected = if (len >= 32) (len - 32) / 16 + 1 else 1
      assert(n == expected, s"doc $id len $len: $n chunks, expected $expected")
    }
    // full windows carry exactly 32 tokens; only a doc's last chunk may be short
    val short = chunks.filter(col("n_tokens") =!= 32)
      .select("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    short.foreach { case (id, idx) => assert(idx == counts(id) - 1) }
    chunks.unpersist()
  }

  test("x81 merge arithmetic: carried + updated + inserted, tombstones gone") {
    val merged = TrainingData.x81.fn(t).cache()
    val ids = t.documents.select("doc_id").collect().map(_.getLong(0)).toSet
    val nDel = ids.count(_ % 19 == 0)
    val nUpd = ids.count(i => i % 7 == 0 && i % 19 != 0)
    // tombstones delete by KEY: inserted keys (+10M) are new ids that can
    // never be in the delete set, so every insert survives
    val nIns = ids.count(_ % 17 == 0)
    val byOrigin = merged.groupBy("origin").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byOrigin("updated") == nUpd)
    assert(byOrigin("inserted") == nIns)
    assert(byOrigin("carried") == ids.size - nDel - nUpd)
    // no tombstoned KEY survives (inserted +10M ids are out of scope), and
    // updates actually carry the new text
    assert(merged.filter(col("doc_id") % 19 === 0 && col("doc_id") < 10000000L)
      .count() == 0)
    assert(merged.filter(col("origin") === "updated")
      .filter(!col("text").endsWith(" v2")).count() == 0)
    merged.unpersist()
  }

  test("x182 release v2 honors every stage: gates, rewrite arithmetic, budget") {
    val released = TrainingData.x182.fn(t).cache()
    val rows = released
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val ids = rows.map(_._1).toSet

    // stage 1+2: every released doc passed BOTH gates
    val blocked = TrainingData.x180.fn(t)
      .filter(!col("kept")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val qKept = graft.operators.Corpus.qualityGate(t.documents, "doc_id", "text")
      .filter(col("kept")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids.intersect(blocked).isEmpty)
    assert(ids.subsetOf(qKept))

    // stage 3: n_tokens is the POST-REWRITE count over the survivor
    // corpus (strictly fewer than raw tokens whenever spans were cut)
    val surv = t.documents.select(col("doc_id"), col("text"))
      .join(TrainingData.x180.fn(t).filter(col("kept")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      .join(graft.operators.Corpus.qualityGate(t.documents, "doc_id", "text")
        .filter(col("kept")).select("doc_id"), Seq("doc_id"), "left_semi")
    val keptTok = Dedup.duplicateSpanRewrite(surv, "doc_id", "text")
      .select(col("doc_id"), (col("n_tokens") - col("n_removed")).as("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.forall { case (id, n, _) => keptTok(id) == n })

    // stage 4: cumulative budget respected and tight (adding the next
    // doc by priority would cross it, or nothing was left to add)
    assert(rows.forall(_._3 <= 15000L))
    released.unpersist()
  }

  test("x183 semantic cap: at most 3 per family, singletons survive, scores rank") {
    val out = TrainingData.x183.fn(t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty)
    val byKey = out.groupBy(_._2)
    assert(byKey.values.forall(_.length <= 3))
    // a family's kept members are its top-scored ones: keys equal to the
    // member's own id with no other members are singletons (kept whole)
    val total = t.documents.count()
    assert(out.length <= total)
    // every kept doc appears exactly once
    assert(out.map(_._1).distinct.length === out.length)
  }
}
