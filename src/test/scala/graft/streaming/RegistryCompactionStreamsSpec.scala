package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.SparkSuite
import graft.operators.Corpus
import graft.sources.Tables

/** The size-tiered registry fold ([[RegistryCompaction]]) wired
  * through representative standing-registry streams: output inventory
  * must be IDENTICAL to the uncompacted run's (which the per-stream
  * specs already pin against the batch operators), the registry's
  * content must survive the folds, and the partition layout must stay
  * within the tiered bound. Two representatives get full
  * batch-operator equality: SegmentDedupStream (explicit-schema
  * standing read, min-per-key consumer) and NoveltyStream
  * (inferred-schema read, membership consumer); the remaining four
  * (incremental-dedup corpus, span registry, chunk store, embedding
  * registry) get the generic twin-run law — identical bit-faithful
  * outputs with compaction on and off over the same five batches.
  * PHashStream's own spec covers the pair-generation shape;
  * TieredCompactionSpec replays the crash windows of the fold
  * directly.
  *
  * Every compacted run uses `compactMaxParts = 2` over the seed plus
  * five batches: batch 2 is the first to find three standing
  * partitions, so folds fire at batches 2, 3 and 4, and the batch-4
  * fold lands at `batch_id=-6`. */
class RegistryCompactionStreamsSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"
  private val maxParts = 2

  /** The tiered bound after the five batches: the batch-4 fold and
    * batch 4's own partition stand, within `maxParts + 1` dirs. */
  private def assertFolded(reg: String, what: String): Unit = {
    val parts = partitionNames(reg)
    assert(parts.contains("batch_id=-6") && parts.contains("batch_id=4"),
      s"$what registry did not fold at batch 4: $parts")
    assert(parts.size <= maxParts + 1, s"$what registry over the tiered bound: $parts")
  }

  private def partitionNames(reg: String): Set[String] =
    new java.io.File(reg).listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).toSet

  /** Bit-faithful multiset image of a parquet dir, batch_id dropped —
    * the generic "same outputs" comparator for the twin-run tests. */
  private def image(path: String): Seq[String] = {
    val df = spark.read.parquet(path)
    val cols = df.columns.filterNot(_ == "batch_id").sorted
    df.select(cols.map(col): _*).collect()
      .map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToLongBits(d).toString
        case f: Float => java.lang.Float.floatToIntBits(f).toString
        case a: scala.collection.Seq[_] =>
          a.map(String.valueOf).mkString("[", ",", "]")
        case x => String.valueOf(x)
      }.mkString("|")).sorted.toSeq
  }

  test("segment dedup with compactMaxParts=2 over 5 batches: stats == batch x139, registry folds to winners") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("segdedup-compact").toString
    val (registryPath, statsPath, ckpt) =
      (s"$root/registry", s"$root/stats", s"$root/ckpt")
    Seq.empty[(Long, Long)].toDF("h", "k")
      .write.parquet(s"$registryPath/batch_id=-1")

    val docs = Tables(spark, sf).documents
      .select("doc_id", "source", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    // five ascending id-range batches (the ordered-arrival contract);
    // folds fire at batches 2, 3 and 4
    val batches = docs.grouped((docs.length + 4) / 5).toSeq
    assert(batches.length === 5)

    val src = MemoryStream[(Long, String, String)]
    val q = SegmentDedupStream.startSegmentDedup(
      src.toDF().toDF("doc_id", "source", "text"),
      registryPath, statsPath, ckpt, compactMaxParts = maxParts)
    try {
      batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }

      val streamed = spark.read.parquet(statsPath)
        .groupBy(col("source"))
        .agg(sum("n_segments").as("n_segments"), sum("n_kept").as("n_kept"),
          sum("tokens_before").as("tokens_before"),
          sum("tokens_after").as("tokens_after"))
        .collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      val batch = SparkEntry.queries("x139_segment_dedup")(spark, sf)
        .collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      assert(batch.nonEmpty)
      assert(streamed === batch)

      // registry content identical to the uncompacted law: the batch
      // winners, one (h, min k) per hash
      val docsDf = Tables(spark, sf).documents.select("doc_id", "source", "text")
      def pairs(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batchWinners = pairs(
        SegmentDedupStream.segments(docsDf)
          .groupBy(col("h")).agg(min(col("k")).as("kmin")))
      assert(pairs(SegmentDedupStream.winners(spark, registryPath))
        === batchWinners)

      assertFolded(registryPath, "segment")
    } finally q.stop()
  }

  test("remaining four registries: compacted twin-run outputs ≡ uncompacted, partitions fold") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val t = Tables(spark, sf)
    val docs = t.documents.filter(col("doc_id") < 60)
      .select(col("doc_id"), col("text"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val docBatches = docs.grouped((docs.length + 4) / 5).map(_.toSeq).toSeq
    assert(docBatches.length === 5)
    val vecs = t.embeddings.select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    val vecBatches = vecs.grouped((vecs.length + 4) / 5).map(_.toSeq).toSeq
    assert(vecBatches.length === 5)
    val cents = graft.operators.Dedup.ivfCentroids(
      t.embeddings, "vec_id", "embedding", k = 16)

    /** Runs `start(root, compactMaxParts)` over the five batches, twice
      * (uncompacted + `maxParts`), then asserts each relative output
      * path's image matches and the compacted run's `registrySub`
      * folded within the tiered bound. */
    def twinRun[T](
        prefix: String,
        registrySub: String,
        outputs: Seq[String],
        start: (String, Int) => (MemoryStream[T], org.apache.spark.sql.streaming.StreamingQuery),
        batches: Seq[Seq[T]]): Unit = {
      def run(compactMaxParts: Int): String = {
        val root = Files.createTempDirectory(s"$prefix-$compactMaxParts").toString
        val (src, q) = start(root, compactMaxParts)
        try batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }
        finally q.stop()
        root
      }
      val (a, b) = (run(0), run(maxParts))
      (outputs :+ registrySub).foreach { sub =>
        assert(image(s"$a/$sub") === image(s"$b/$sub"), s"$prefix $sub diverged")
        assert(image(s"$a/$sub").nonEmpty, s"$prefix $sub empty")
      }
      assertFolded(s"$b/$registrySub", prefix)
    }

    twinRun[(Long, String)]("dedup", "corpus", Seq("verdicts"),
      (root, mp) => {
        Seq((1000001L, "alpha beta gamma delta epsilon zeta"))
          .toDF("doc_id", "text").write.parquet(s"$root/corpus/batch_id=-1")
        val src = MemoryStream[(Long, String)]
        (src, DedupStream.startIncrementalDedup(
          src.toDF().toDF("doc_id", "text"),
          s"$root/corpus", s"$root/verdicts", s"$root/ckpt",
          "doc_id", "text", threshold = 0.5, compactMaxParts = mp))
      }, docBatches)

    twinRun[(Long, String)]("span", "registry", Seq("kept", "metrics"),
      (root, mp) => {
        Seq.empty[(Long, Long)].toDF("h", "kk")
          .write.parquet(s"$root/registry/batch_id=-1")
        val src = MemoryStream[(Long, String)]
        (src, SpanDedupStream.startSpanDedup(
          src.toDF().toDF("doc_id", "text"),
          s"$root/registry", s"$root/kept", s"$root/metrics", s"$root/ckpt",
          compactMaxParts = mp))
      }, docBatches)

    twinRun[(Long, String)]("chunk", "chunks", Seq("rewrites"),
      (root, mp) => {
        ChunkStream.seedChunks(
          Seq.empty[(Long, String)].toDF("doc_id", "text"),
          s"$root/chunks", "doc_id", "text")
        val src = MemoryStream[(Long, String)]
        (src, ChunkStream.startChunkRewrite(
          src.toDF().toDF("doc_id", "text"),
          s"$root/chunks", s"$root/rewrites", s"$root/ckpt",
          "doc_id", "text", compactMaxParts = mp))
      }, docBatches)

    twinRun[(Long, Seq[Float])]("embdedup", "registry", Seq("pairs"),
      (root, mp) => {
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(
            "vec_id BIGINT, cell BIGINT, embedding ARRAY<FLOAT>, nrm DOUBLE"))
          .write.parquet(s"$root/registry/batch_id=-1")
        val src = MemoryStream[(Long, Seq[Float])]
        (src, EmbeddingDedupStream.startEmbeddingNearDup(
          src.toDF().toDF("vec_id", "embedding")
            .withColumn("embedding", col("embedding").cast("array<float>")),
          cents, s"$root/registry", s"$root/pairs", s"$root/ckpt",
          threshold = 0.4, compactMaxParts = mp))
      }, vecBatches)
  }

  test("novelty scoring with compactMaxParts=2 over 5 batches: verdicts == batch, gram store folds intact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("novelty-compact").toString
    val (gramsPath, verdictsPath, ckpt) =
      (s"$root/grams", s"$root/verdicts", s"$root/ckpt")

    val corpus = Tables(spark, sf).documents
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), col("text"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(corpus.length === 50)
    val batches = corpus.grouped(10).toSeq

    NoveltyStream.seedGrams(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), gramsPath, "doc_id", "text")

    val src = MemoryStream[(Long, String)]
    val q = NoveltyStream.startNoveltyScoring(
      src.toDF().toDF("doc_id", "text"), gramsPath, verdictsPath, ckpt,
      "doc_id", "text", compactMaxParts = maxParts)
    try {
      batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }

      val streamed = spark.read.parquet(verdictsPath)
        .select("doc_id", "n_grams", "n_novel", "novelty")
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      val batch = Corpus.ngramNovelty(corpus.toSeq.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      assert(batch.nonEmpty)
      assert(streamed === batch)

      // the gram store still holds each distinct gram exactly once
      val stored = spark.read.parquet(gramsPath).select("h").collect().map(_.getLong(0))
      assert(stored.length === stored.distinct.length)
      val allGrams = Corpus.gramHashes(corpus.toSeq.toDF("doc_id", "text"), "doc_id", "text")
        .select("h").distinct().collect().map(_.getLong(0)).toSet
      assert(stored.toSet === allGrams)

      assertFolded(gramsPath, "novelty")
    } finally q.stop()
  }
}
