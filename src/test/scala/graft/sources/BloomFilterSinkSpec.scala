package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Contract of the Bloom-filter sink: the named columns carry a Bloom
  * filter in every row group of every written file (verified through
  * the parquet footer API, not just write options), unnamed columns and
  * plain writes carry none, and reads back are byte-identical. */
class BloomFilterSinkSpec extends SparkSuite {
  private def bloomOffsets(dir: String, column: String): Seq[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new HPath(dir).getFileSystem(conf)
    fs.listStatus(new HPath(dir)).toSeq
      .filter(s => s.getPath.getName.endsWith(".parquet"))
      .flatMap { s =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(s.getPath, conf))
        try r.getRowGroups.asScala.toSeq.map(
          _.getColumns.asScala.find(_.getPath.toDotString == column).get
            .getBloomFilterOffset)
        finally r.close()
      }
  }

  test("bloom filters present exactly on the requested columns") {
    val root = Files.createTempDirectory("bloom-sink").toString
    val docs = Tables(spark, "/root/testdata/sf0.01").documents
      .select("doc_id", "source", "n_chars")

    Sinks.writeWithBloomFilters(docs, s"$root/with", Seq("doc_id"),
      expectedDistinct = 100000L)
    docs.write.mode("overwrite").parquet(s"$root/without")

    val withOffsets = bloomOffsets(s"$root/with", "doc_id")
    assert(withOffsets.nonEmpty && withOffsets.forall(_ >= 0),
      s"doc_id bloom missing in some row group: $withOffsets")
    // only the named column gets one
    assert(bloomOffsets(s"$root/with", "source").forall(_ < 0))
    // a plain write has none
    assert(bloomOffsets(s"$root/without", "doc_id").forall(_ < 0))

    // reads back identically, and an equality probe returns the same rows
    val a = spark.read.parquet(s"$root/with")
      .filter(col("doc_id") === 42).collect().toSeq
    val b = docs.filter(col("doc_id") === 42).collect().toSeq
    assert(a === b)
    assert(spark.read.parquet(s"$root/with").count() === docs.count())
  }
}
