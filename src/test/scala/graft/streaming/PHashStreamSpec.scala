package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Multimodal
import graft.sources.Tables

/** Multi-batch contract of the streaming perceptual media gate: the
  * union of per-batch pair reports equals batch
  * [[Multimodal.perceptualNearDups]]' pair inventory EXACTLY (ids and
  * hamming values) over the same corpus — ingest-time and audit-time
  * media dedup can never diverge. Batches arrive SHUFFLED (not in id
  * order): every pair meets exactly once regardless of arrival order —
  * across batches through the registry, within a batch through the
  * id-ordered self-join. */
class PHashStreamSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  test("stream pair union across shuffled batches == batch perceptualNearDups") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("phash-stream").toString
    val (registryPath, pairsPath, ckpt) =
      (s"$root/registry", s"$root/pairs", s"$root/ckpt")
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, phash BIGINT"))
      .write.parquet(s"$registryPath/batch_id=-1")

    // the x187 corpus: documents plus planted single-byte perturbations
    val docs = Tables(spark, sf).documents
    val pert = docs.filter(col("doc_id") % 5 === 0)
      .selectExpr("doc_id + 10000000 AS doc_id",
        "concat(substring(text, 1, cast(floor(length(text) / 2) as int)), '~', " +
          "substring(text, cast(floor(length(text) / 2) as int) + 2)) AS text")
    val corpus = docs.select(col("doc_id"), col("text")).unionAll(pert)
    val media = Multimodal.packMedia(corpus)(spark).toDF()
      .select("doc_id", "content")

    // shuffled batching: deterministic LCG split, NOT id ranges — the
    // perturbed copy usually lands in a different batch than its source
    val rows = media.collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
      .sortBy { case (id, _) => ((id * 48271L) % 2147483647L, id) }
    val thirds = rows.grouped((rows.length + 2) / 3).toSeq
    assert(thirds.length === 3)

    val src = MemoryStream[(Long, Array[Byte])]
    val q = PHashStream.startPerceptualNearDup(
      src.toDF().toDF("doc_id", "content"),
      registryPath, pairsPath, ckpt, maxHamming = 7)
    try {
      thirds.foreach { b => src.addData(b: _*); q.processAllAvailable() }

      def pairSet(df: org.apache.spark.sql.DataFrame) = df
        .select("doc_a", "doc_b", "hamming")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

      val streamed = pairSet(spark.read.parquet(pairsPath))
      val batch = pairSet(
        Multimodal.perceptualNearDups(media, "doc_id", "content", maxHamming = 7))
      assert(batch.nonEmpty)
      assert(streamed === batch)

      // the registry ends as the corpus signature index
      val reg = spark.read.parquet(registryPath)
        .filter(col("batch_id") >= 0)
        .select("doc_id", "phash")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val sigs = Multimodal.perceptualHashes(media, "doc_id", "content")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reg === sigs)
    } finally q.stop()
  }

  test("duplicate ingest: re-arrived docs neither duplicate the registry nor re-meet prior partners") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("phash-dup").toString
    val (registryPath, pairsPath, ckpt) =
      (s"$root/registry", s"$root/pairs", s"$root/ckpt")
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, phash BIGINT"))
      .write.parquet(s"$registryPath/batch_id=-1")

    val docs = Tables(spark, sf).documents.filter(col("doc_id") < 60)
    val pert = docs.filter(col("doc_id") % 5 === 0)
      .selectExpr("doc_id + 10000000 AS doc_id",
        "concat(substring(text, 1, cast(floor(length(text) / 2) as int)), '~', " +
          "substring(text, cast(floor(length(text) / 2) as int) + 2)) AS text")
    val corpus = docs.select(col("doc_id"), col("text")).unionAll(pert)
    val media = Multimodal.packMedia(corpus)(spark).toDF()
      .select("doc_id", "content")
    val rows = media.collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
      .sortBy { case (id, _) => ((id * 48271L) % 2147483647L, id) }
    val (first, rest) = rows.splitAt(rows.length / 2)

    val src = MemoryStream[(Long, Array[Byte])]
    val q = PHashStream.startPerceptualNearDup(
      src.toDF().toDF("doc_id", "content"),
      registryPath, pairsPath, ckpt, maxHamming = 7)
    try {
      // batch 0: the first half; batch 1: the REST plus a full re-ingest
      // of the first half (every batch-0 doc arrives a second time);
      // batch 2: a third arrival of a few batch-0 docs, alone
      src.addData(first: _*); q.processAllAvailable()
      src.addData((rest ++ first): _*); q.processAllAvailable()
      src.addData(first.take(5): _*); q.processAllAvailable()

      // registry: exactly one row per doc_id over the stream's life
      val regIds = spark.read.parquet(registryPath)
        .filter(col("batch_id") >= 0).select("doc_id")
        .collect().map(_.getLong(0))
      assert(regIds.length === regIds.distinct.length)
      assert(regIds.toSet === rows.map(_._1).toSet)

      // pairs: each unordered pair appears EXACTLY once across all
      // batch partitions (counting rows, not the deduped set)
      val pairCounts = spark.read.parquet(pairsPath)
        .groupBy("doc_a", "doc_b").count()
        .filter(col("count") > 1).count()
      assert(pairCounts === 0L)

      // and the union still equals the batch inventory
      val streamed = spark.read.parquet(pairsPath)
        .select("doc_a", "doc_b", "hamming")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = Multimodal.perceptualNearDups(media, "doc_id", "content", maxHamming = 7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("in-batch duplicate ingest: same doc_id twice in ONE micro-batch leaves one registry row and meets each partner once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("phash-inbatch").toString
    val (registryPath, pairsPath, ckpt) =
      (s"$root/registry", s"$root/pairs", s"$root/ckpt")
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, phash BIGINT"))
      .write.parquet(s"$registryPath/batch_id=-1")

    val docs = Tables(spark, sf).documents.filter(col("doc_id") < 60)
    val pert = docs.filter(col("doc_id") % 5 === 0)
      .selectExpr("doc_id + 10000000 AS doc_id",
        "concat(substring(text, 1, cast(floor(length(text) / 2) as int)), '~', " +
          "substring(text, cast(floor(length(text) / 2) as int) + 2)) AS text")
    val corpus = docs.select(col("doc_id"), col("text")).unionAll(pert)
    val media = Multimodal.packMedia(corpus)(spark).toDF()
      .select("doc_id", "content")
    val rows = media.collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
      .sortBy { case (id, _) => ((id * 48271L) % 2147483647L, id) }
    val (first, rest) = rows.splitAt(rows.length / 2)

    val src = MemoryStream[(Long, Array[Byte])]
    val q = PHashStream.startPerceptualNearDup(
      src.toDF().toDF("doc_id", "content"),
      registryPath, pairsPath, ckpt, maxHamming = 7)
    try {
      // batch 0: every first-half doc arrives TWICE in the same batch;
      // batch 1: the rest, with a few docs tripled within the batch AND
      // overlapping batch 0 (both duplicate paths at once)
      src.addData((first ++ first): _*); q.processAllAvailable()
      src.addData((rest ++ rest.take(4) ++ rest.take(4) ++ first.take(3)): _*)
      q.processAllAvailable()

      val regIds = spark.read.parquet(registryPath)
        .filter(col("batch_id") >= 0).select("doc_id")
        .collect().map(_.getLong(0))
      assert(regIds.length === regIds.distinct.length)
      assert(regIds.toSet === rows.map(_._1).toSet)

      val dupPairs = spark.read.parquet(pairsPath)
        .groupBy("doc_a", "doc_b").count()
        .filter(col("count") > 1).count()
      assert(dupPairs === 0L)

      val streamed = spark.read.parquet(pairsPath)
        .select("doc_a", "doc_b", "hamming")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = Multimodal.perceptualNearDups(media, "doc_id", "content", maxHamming = 7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("registry compaction: pair inventory identical across a compaction boundary; partitions fold") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("phash-compact").toString
    val (registryPath, pairsPath, ckpt) =
      (s"$root/registry", s"$root/pairs", s"$root/ckpt")
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, phash BIGINT"))
      .write.parquet(s"$registryPath/batch_id=-1")

    val docs = Tables(spark, sf).documents
    val pert = docs.filter(col("doc_id") % 5 === 0)
      .selectExpr("doc_id + 10000000 AS doc_id",
        "concat(substring(text, 1, cast(floor(length(text) / 2) as int)), '~', " +
          "substring(text, cast(floor(length(text) / 2) as int) + 2)) AS text")
    val corpus = docs.select(col("doc_id"), col("text")).unionAll(pert)
    val media = Multimodal.packMedia(corpus)(spark).toDF()
      .select("doc_id", "content")
    val rows = media.collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
      .sortBy { case (id, _) => ((id * 48271L) % 2147483647L, id) }
    // five batches with compactMaxParts=2 → batch 2 is the first to find
    // three standing partitions (seed + batches 0,1), so folds fire at
    // batches 2, 3 and 4 — three boundaries, pairs spanning all of them
    val fifths = rows.grouped((rows.length + 4) / 5).toSeq
    assert(fifths.length === 5)

    val src = MemoryStream[(Long, Array[Byte])]
    val q = PHashStream.startPerceptualNearDup(
      src.toDF().toDF("doc_id", "content"),
      registryPath, pairsPath, ckpt, maxHamming = 7, compactMaxParts = 2)
    try {
      fifths.foreach { b => src.addData(b: _*); q.processAllAvailable() }

      val streamed = spark.read.parquet(pairsPath)
        .select("doc_a", "doc_b", "hamming")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = Multimodal.perceptualNearDups(media, "doc_id", "content", maxHamming = 7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch.nonEmpty)
      assert(streamed === batch)

      // the registry still indexes the whole corpus, one row per doc_id
      val reg = spark.read.parquet(registryPath)
        .select("doc_id", "phash")
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(reg.map(_._1).distinct.length === reg.length)
      assert(reg.toMap === Multimodal.perceptualHashes(media, "doc_id", "content")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)

      // and the folds kept the tiered bound: the batch-4 fold
      // (batch_id=-6) and batch 4's own partition stand, within
      // maxParts + 1 = 3 dirs
      val parts = new java.io.File(registryPath).listFiles()
        .map(_.getName).filter(_.startsWith("batch_id=")).toSet
      assert(parts.contains("batch_id=-6") && parts.contains("batch_id=4"), parts)
      assert(parts.size <= 3, parts)
    } finally q.stop()
  }

  test("blocking guard refuses thresholds past the pigeonhole bound") {
    intercept[IllegalArgumentException] {
      PHashStream.startPerceptualNearDup(
        spark.readStream.format("rate").load(), "/tmp/x", "/tmp/y", "/tmp/z",
        maxHamming = 8)
    }
  }
}
