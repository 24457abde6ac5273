package graft.operators

import graft.SparkSuite
import graft.sources.Tables

class MultimodalSpec extends SparkSuite {
  lazy val docs = Tables(spark, "/root/testdata/sf0.001").documents

  test("packMedia: binary content + typed metadata struct") {
    val media = Multimodal.packMedia(docs).cache()
    assert(media.count() === docs.count())
    val r = media.filter(_.doc_id == 0).collect()(0)
    assert(r.content.nonEmpty)
    assert(r.meta.format === "fake/raw")
    assert(r.meta.width === r.content.length % 640)
    assert(r.meta.nFrames === r.content.length % 16 + 1)
  }

  test("frameSample: every k-th frame, payload fully partitioned") {
    val media = Multimodal.packMedia(docs)
    val frames = Multimodal.frameSample(media, everyN = 2).collect()
    val byDoc = frames.groupBy(_.doc_id)
    val metaByDoc = media.collect().map(r => r.doc_id -> r).toMap
    byDoc.foreach { case (id, fs) =>
      val n = math.max(metaByDoc(id).meta.nFrames, 1)
      assert(fs.length === (0 until n by 2).size)
      assert(fs.map(_.frame_idx).sorted.toSeq === (0 until n by 2).toSeq)
      fs.foreach(f => assert(f.frame.nonEmpty || metaByDoc(id).content.isEmpty))
    }
  }

  test("resize: deterministic subsample with updated metadata") {
    val media = Multimodal.packMedia(docs)
    val resized = Multimodal.resize(media, targetW = 64, targetH = 64).collect()
    resized.foreach { r =>
      assert(r.meta.width === 64 && r.meta.height === 64)
      assert(r.content.nonEmpty)
    }
    // deterministic under repartitioning
    val again = Multimodal.resize(
      Multimodal.packMedia(docs).repartition(5), 64, 64)
      .collect().map(r => r.doc_id -> r.content.toSeq).toMap
    resized.foreach(r => assert(again(r.doc_id) === r.content.toSeq))
  }

  test("resize: Catalyst expression form ≡ the original mapPartitions law") {
    val media = Multimodal.packMedia(docs)
    val got = Multimodal.resize(media, targetW = 64, targetH = 64)
      .collect().map(r => r.doc_id -> r).toMap
    // the pre-round-14 imperative law, replayed row-by-row
    media.collect().foreach { r =>
      val targetBytes = math.max(64 * 64 / 256, 1)
      val step = math.max(r.content.length / targetBytes, 1)
      val expected = r.content.indices.by(step).map(r.content).toArray
      val g = got(r.doc_id)
      assert(g.content.toSeq === expected.toSeq, s"doc ${r.doc_id}")
      assert(g.meta.width === 64 && g.meta.height === 64)
      assert(g.meta.format === r.meta.format && g.meta.nFrames === r.meta.nFrames)
    }
    // and it stays inside Catalyst: no object-serialization wall in the plan
    val plan = Multimodal.resize(media, 64, 64).queryExecution.executedPlan.toString
    assert(!plan.contains("MapPartitions"), plan)
  }

  test("frameSample: Catalyst HOF form ≡ the original mapPartitions law") {
    val media = Multimodal.packMedia(docs)
    val got = Multimodal.frameSample(media, everyN = 3).collect()
      .map(f => (f.doc_id, f.frame_idx) -> f.frame.toSeq).toMap
    // the pre-round-15 imperative law, replayed row-by-row
    var expectedCount = 0
    media.collect().foreach { r =>
      val n = math.max(r.meta.nFrames, 1)
      val size = math.max(r.content.length / n, 1)
      (0 until n by 3).foreach { i =>
        val from = i * size
        val until = math.min(from + size, r.content.length)
        val expected = r.content.slice(from, math.max(from, until)).toSeq
        assert(got((r.doc_id, i)) === expected, s"doc ${r.doc_id} frame $i")
        expectedCount += 1
      }
    }
    assert(got.size === expectedCount)
    // and it stays inside Catalyst: no object-serialization wall
    val plan = Multimodal.frameSample(media, 3).queryExecution.executedPlan.toString
    assert(!plan.contains("MapPartitions"), plan)
  }

  test("extractFeatures: codegen expressions ≡ the fakeDecode law, no object wall") {
    import graft.functions.MediaFeatureUtil
    val media = Multimodal.packMedia(docs)
    val got = Multimodal.extractFeatures(media).collect()
      .map(f => f.doc_id -> f).toMap
    media.collect().foreach { r =>
      val g = got(r.doc_id)
      assert(g.nBytes === r.content.length.toLong)
      assert(g.byteHistogram.toSeq === MediaFeatureUtil.hist16(r.content).toSeq)
      assert(g.embedding.toSeq === MediaFeatureUtil.embed8(r.content).toSeq)
    }
    val plan = Multimodal.extractFeatures(media).queryExecution.executedPlan.toString
    assert(!plan.contains("MapPartitions"), plan)
  }

  test("resize: step==1 short-circuits to the unchanged payload (byte-identical, no hex blow-up)") {
    val media = Multimodal.packMedia(docs)
    // target far above any payload: every byte is kept, so the output
    // must be the payload itself — same bytes the hex path would emit
    val resized = Multimodal.resize(media, targetW = 4096, targetH = 4096)
      .collect().map(r => r.doc_id -> r.content.toSeq).toMap
    media.collect().foreach { r =>
      assert(resized(r.doc_id) === r.content.toSeq, s"doc ${r.doc_id}")
    }
  }

  test("perceptualHashes luma hook: hashes decoded luma, falls back on NULL") {
    import org.apache.spark.sql.functions._
    import graft.functions.BlockHashUtil
    // synthetic "decoded" luma: the payload minus its first byte (a
    // binary substr, stays BinaryType) for even doc_ids, NULL (decoder
    // skipped) for odd ones
    val media = Multimodal.packMedia(docs).toDF()
      .withColumn("luma",
        when(col("doc_id") % 2 === 0,
          col("content").substr(lit(2), length(col("content")))))
    val got = Multimodal.perceptualHashes(media, "doc_id", "content", "luma")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    media.select("doc_id", "content", "luma").collect().foreach { r =>
      val id = r.getLong(0)
      val bytes = if (r.isNullAt(2)) r.getAs[Array[Byte]](1) else r.getAs[Array[Byte]](2)
      assert(got(id) === BlockHashUtil.hash(bytes), s"doc $id")
    }
    // near-dup pair plan is byte-identical code: pairs over the luma
    // signatures equal pairs over a frame whose content IS the luma
    val viaHook = Multimodal.perceptualNearDups(media, "doc_id", "content", "luma", 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaContent = Multimodal.perceptualNearDups(
      media.withColumn("content", coalesce(col("luma"), col("content"))),
      "doc_id", "content", maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaHook === viaContent)
  }

  test("extractFeatures: partition-batched, deterministic, consistent") {
    val media = Multimodal.packMedia(docs)
    val f1 = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    val f2 = Multimodal.extractFeatures(media.repartition(7)).collect().sortBy(_.doc_id)
    assert(f1.length === f2.length)
    f1.zip(f2).foreach { case (a, b) =>
      assert(a.doc_id === b.doc_id)
      assert(a.nBytes === b.nBytes)
      assert(a.byteHistogram.toSeq === b.byteHistogram.toSeq) // partitioning-invariant
      assert(a.embedding.toSeq === b.embedding.toSeq)
    }
    f1.foreach { f =>
      assert(f.byteHistogram.sum === f.nBytes) // every byte lands in a bucket
      assert(f.embedding.length === 8)
      assert(f.embedding.forall(v => v >= -0.5f && v <= 0.5f))
    }
  }

  test("blockHash: block-mean law on hand-computable payloads") {
    import graft.functions.BlockHashUtil.hash
    assert(hash(Array.emptyByteArray) === 0L)
    // uniform payload: no block mean strictly exceeds the global mean
    assert(hash(Array.fill[Byte](256)(42)) === 0L)
    // first half low, second half high: exactly blocks 32..63 set
    val split = Array.tabulate[Byte](128)(i => if (i < 64) 0 else 100)
    val expected = (32 until 64).foldLeft(0L)((acc, b) => acc | (1L << (63 - b)))
    assert(hash(split) === expected)
    // n < 64: only blocks with ⌊b·n/64⌋ < ⌊(b+1)·n/64⌋ are non-empty —
    // for n=2 that is block 31 (byte 0, low) and block 63 (byte 1,
    // high); only the high one exceeds the global mean
    val tiny = Array[Byte](0, 100)
    assert(hash(tiny) === 1L)
  }

  test("perceptual hash: SQL expression ≡ static helper, sign bit included") {
    import org.apache.spark.sql.functions._
    import graft.functions.BlockHashUtil
    val media = Multimodal.packMedia(docs).toDF()
    val viaExpr = Multimodal.perceptualHashes(media, "doc_id", "content")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaStatic = media.select(col("doc_id"), col("content")).collect()
      .map(r => r.getLong(0) -> BlockHashUtil.hash(r.getAs[Array[Byte]](1))).toMap
    assert(viaExpr === viaStatic)
    assert(viaExpr.nonEmpty)
  }

  test("perceptualNearDups: recall 1.0 vs brute force at hamming <= 7") {
    import org.apache.spark.sql.functions._
    import graft.functions.BlockHashUtil
    // planted single-byte perturbations, the x187 shape
    val pert = docs.filter(col("doc_id") % 5 === 0)
      .selectExpr("doc_id + 10000000 AS doc_id",
        "concat(substring(text, 1, cast(floor(length(text) / 2) as int)), '~', " +
          "substring(text, cast(floor(length(text) / 2) as int) + 2)) AS text")
    val corpus = docs.select(col("doc_id"), col("text")).unionAll(pert)
    val media = Multimodal.packMedia(corpus).toDF()
    val got = Multimodal.perceptualNearDups(media, "doc_id", "content", maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute-force ground truth over all pairs
    val sigs = media.collect()
      .map(r => r.getAs[Long]("doc_id") -> BlockHashUtil.hash(r.getAs[Array[Byte]]("content")))
    val truth = (for {
      (ia, ha) <- sigs; (ib, hb) <- sigs if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 7
    } yield (ia, ib, d.toLong)).toSet
    assert(got === truth)
    assert(got.nonEmpty) // the planted pairs actually surface
    // blocking guard: 8 bands cannot guarantee recall past 7 bits
    intercept[IllegalArgumentException] {
      Multimodal.perceptualNearDups(media, "doc_id", "content", maxHamming = 8)
    }
  }
}
