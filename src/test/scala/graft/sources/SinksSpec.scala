package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite

class SinksSpec extends SparkSuite {
  lazy val t = Tables(spark, "/root/testdata/sf0.001")

  test("JSON round-trip preserves rows and values (S8/S9)") {
    val dir = Files.createTempDirectory("json-sink").toString
    val src = t.customer
    Sinks.writeJson(src, s"$dir/customer")
    val back = Sinks.readJson(spark, s"$dir/customer", src.schema)
    assert(back.count() === src.count())
    val a = src.orderBy("c_custkey").collect().map(_.toSeq)
    val b = back.orderBy("c_custkey").collect().map(_.toSeq)
    assert(a === b)
  }

  test("CSV round-trip with explicit schema") {
    val dir = Files.createTempDirectory("csv-sink").toString
    val src = t.nation
    Sinks.writeCsv(src, s"$dir/nation")
    val back = Sinks.readCsv(spark, s"$dir/nation", src.schema)
    assert(back.orderBy("n_nationkey").collect().map(_.toSeq) ===
      src.orderBy("n_nationkey").collect().map(_.toSeq))
  }

  test("ORC round-trip preserves schema and values") {
    val dir = Files.createTempDirectory("orc-sink").toString
    val src = t.supplier
    Sinks.writeOrc(src, s"$dir/supplier")
    val back = Sinks.readOrc(spark, s"$dir/supplier")
    assert(back.schema === src.schema)
    assert(back.orderBy("s_suppkey").collect().map(_.toSeq) ===
      src.orderBy("s_suppkey").collect().map(_.toSeq))
  }

  test("partitioned layout round-trip keeps data + enables pruning") {
    val dir = Files.createTempDirectory("part-sink").toString
    Sinks.writePartitioned(t.orders, s"$dir/orders", "o_orderstatus")
    val back = spark.read.parquet(s"$dir/orders")
    assert(back.count() === t.orders.count())
    assert(new java.io.File(s"$dir/orders").listFiles()
      .exists(_.getName.startsWith("o_orderstatus=")))
  }

  test("robust JSON read quarantines malformed lines instead of failing") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("json-robust").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in.json"),
      """{"id": 1, "name": "ok"}
        |{"id": "NOT A NUMBER", "name": "bad type"}
        |this is not json at all
        |{"id": 3, "name": "fine"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val df = Sinks.readJsonRobust(spark, dir, schema).cache()
    assert(df.count() === 4) // no rows lost, no job failure
    val good = df.filter(col("_corrupt").isNull)
    val bad = df.filter(col("_corrupt").isNotNull)
    assert(good.count() === 2)
    assert(bad.count() === 2)
    assert(good.select("id").collect().map(_.getLong(0)).toSet === Set(1L, 3L))
  }

  test("JDBC all-VARCHAR silver sink round-trips through embedded Derby (S10)") {
    // the reference stages silver in Postgres (CREATE TABLE all-VARCHAR +
    // batched INSERT); same path against the in-process Derby that ships
    // with Spark — the write side is identical JDBC, only the URL differs
    val url = "jdbc:derby:memory:graft_sinks;create=true"
    val src = graft.pipeline.SilverNormalize.normalize(t.nation)
    Sinks.writeJdbcVarchar(src, url, "silver_nation", numPartitions = 2)
    val back = Sinks.readJdbc(spark, url, "silver_nation")
    assert(back.schema.forall(_.dataType.typeName === "string"))
    assert(back.orderBy("n_nationkey").collect().map(_.toSeq) ===
      src.orderBy("n_nationkey").collect().map(_.toSeq))
    // overwrite = drop + recreate (the reference's full refresh): second
    // write must not duplicate or fail
    Sinks.writeJdbcVarchar(src, url, "silver_nation", numPartitions = 2)
    assert(Sinks.readJdbc(spark, url, "silver_nation").count() === src.count())
    // the DDL actually pinned VARCHAR (Derby would otherwise use CLOB)
    val meta = java.sql.DriverManager.getConnection(url).getMetaData
      .getColumns(null, null, "SILVER_NATION", null)
    val types = Iterator.continually(meta)
      .takeWhile(_.next())
      .map(m => m.getString("TYPE_NAME"))
      .toList
    assert(types.nonEmpty && types.forall(_ === "VARCHAR"), types.toString)
  }

  test("JDBC sink measures and writes the SAME materialization (no double execution)") {
    val url = "jdbc:derby:memory:graft_sinks_nd;create=true"
    val acc = spark.sparkContext.longAccumulator("payload-computations")
    val counted = udf { (s: String) => acc.add(1L); s }
    // rand()-derived width: a second independent execution would draw NEW
    // widths, and any draw longer than the measured maximum fails the
    // INSERT — the at-scale race the persist-before-measure fix removes
    val src = spark.range(200)
      .select(col("id"), counted(
        expr("substring(repeat('x', 64), 1, cast(rand() * 64 as int) + 1)")).as("payload"))
    Sinks.writeJdbcVarchar(src, url, "nd_payload", varcharLen = 1, numPartitions = 2)
    // every row's non-deterministic payload was computed exactly once:
    // the width pass and the write read one shared materialization
    assert(acc.value === 200L)
    val back = Sinks.readJdbc(spark, url, "nd_payload")
    assert(back.count() === 200L)
  }

  test("s3a-scheme URIs round-trip through Hadoop FileSystem resolution") {
    // no object store in this environment: map the s3a scheme onto the
    // local filesystem (S3AStubFileSystem) so the path-resolution half
    // (scheme → FileSystem impl → committer → read-back) is exercised
    // with real URIs; on a cluster only fs.s3a.impl changes back
    val dir = Files.createTempDirectory("s3a-roundtrip").toString
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.impl", classOf[S3AStubFileSystem].getName)
    // Spark pre-wires the s3a scheme to the (absent) S3A committer
    // factory; route it to the default file committer for the stub
    hc.set("mapreduce.outputcommitter.factory.scheme.s3a",
      "org.apache.hadoop.mapreduce.lib.output.FileOutputCommitterFactory")
    try {
      val uri = s"s3a:$dir/bronze/games"
      val src = t.region
      Sinks.writeJson(src, uri)
      val back = Sinks.readJson(spark, uri, src.schema)
      assert(back.orderBy("r_regionkey").collect().map(_.toSeq) ===
        src.orderBy("r_regionkey").collect().map(_.toSeq))
    } finally {
      hc.unset("fs.s3a.impl")
      hc.unset("mapreduce.outputcommitter.factory.scheme.s3a")
    }
  }

  test("corpus shards: round-trip, manifest validates, tampering is caught") {
    val dir = Files.createTempDirectory("shards").toString
    val path = s"$dir/corpus"
    val docs = t.documents.select(col("doc_id"), col("text"))
    val manifest = Sinks.writeCorpusShards(docs, path, "doc_id", "text", nShards = 8)
    // every doc landed exactly once, shards cover [0, 8)
    val back = spark.read.parquet(path)
    assert(back.count() === docs.count())
    assert(back.select("doc_id").distinct().count() === docs.count())
    assert(manifest.count() === 8)
    assert(manifest.agg(sum("n_docs")).head.getLong(0) === docs.count())
    // clean validate: every shard ok
    val ok = Sinks.validateCorpusShards(spark, path, "text")
    assert(ok.filter(!col("ok")).count() === 0L)
    // tamper with one shard (drop a doc from shard 3's partition) — the
    // manifest must flag exactly that shard
    val s3 = spark.read.parquet(s"$path/shard_id=3")
    val victim = s3.limit(1).collect()(0)
    s3.filter(col("doc_id") =!= victim.getLong(0))
      .write.mode("overwrite").parquet(s"$dir/tmp3")
    spark.read.parquet(s"$dir/tmp3").write.mode("overwrite")
      .parquet(s"$path/shard_id=3")
    val bad = Sinks.validateCorpusShards(spark, path, "text")
    assert(bad.filter(!col("ok")).select("shard_id")
      .collect().map(_.getLong(0)).toSeq === Seq(3L))
  }
}
