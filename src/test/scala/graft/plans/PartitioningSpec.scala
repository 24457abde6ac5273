package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.Tables

/** Storage-layout levers from SCALE.md, demonstrated and pinned:
  * partition pruning on partitioned parquet and shuffle-free co-located
  * joins on bucketed tables.
  */
class PartitioningSpec extends SparkSuite {
  lazy val t = Tables(spark, "/root/testdata/sf0.001")

  test("partitioned write + partition pruning at the scan") {
    val dir = Files.createTempDirectory("part-parquet").toString
    t.lineitem.write.mode("overwrite")
      .partitionBy("l_returnflag").parquet(dir)
    val read = spark.read.parquet(dir).filter(col("l_returnflag") === "R")
    val plan = read.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("l_returnflag"), plan)
    // pruning is real: only the R partition's rows are read
    assert(read.count() ===
      t.lineitem.filter(col("l_returnflag") === "R").count())
  }

  test("bucketed tables join without an exchange (co-located join)") {
    val dir = Files.createTempDirectory("bucketed").toString
    spark.sql("CREATE DATABASE IF NOT EXISTS buckets")
    t.orders.write.mode("overwrite")
      .bucketBy(4, "o_custkey").sortBy("o_custkey")
      .option("path", s"$dir/orders_b").format("parquet")
      .saveAsTable("buckets.orders_b")
    t.customer.write.mode("overwrite")
      .bucketBy(4, "c_custkey").sortBy("c_custkey")
      .option("path", s"$dir/customer_b").format("parquet")
      .saveAsTable("buckets.customer_b")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("buckets.orders_b")
        .join(spark.table("buckets.customer_b"),
          col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(plan.contains("SortMergeJoin"), plan)
      // co-located: bucketing replaces the shuffle on both join sides
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      assert(joined.count() ===
        t.orders.join(t.customer, col("o_custkey") === col("c_custkey")).count())
    }
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    import spark.implicits._
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // one key owns ~95% of the left side — the classic hot key
      val left = spark.range(0, 200000)
        .select(when($"id" % 20 =!= 0, lit(7L)).otherwise($"id" % 100).as("k"),
          $"id".as("v"))
      val right = spark.range(0, 100).select($"id".as("k"), lit("dim").as("d"))
      val joined = left.join(right, "k")
      // execute THIS DataFrame's plan (count() would build a separate
      // QueryExecution and leave this adaptive plan un-finalized)
      assert(joined.collect().length === 200000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE should have split the hot partition:\n$finalPlan")
    }
  }

  test("AQE splits the skewed shingle bucket on the REAL x02 path, results unchanged") {
    import spark.implicits._
    // deliberately skewed corpus: one boilerplate 3-gram ("lorem ipsum
    // dolor …") opens ~90% of documents, so the shingle inverted-index
    // self-join (the x02 plan) funnels most candidate pairs through one
    // shuffle bucket — the hot-key configuration SCALE.md claims AQE
    // absorbs. Docs are padded with unique filler so each (doc, shingle)
    // row carries real bytes and the hot bucket crosses the lowered
    // skew threshold.
    val hot = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    val docs = (0 until 800).map { i =>
      // 10 crafted near-dup pairs (docs 2j/2j+1 share their filler too →
      // J ≈ 0.9); everyone else shares ONLY the boilerplate (J = 0.2,
      // below threshold) — so the skew lives in the candidate join, not
      // in the surviving pair set
      val fill = if (i < 20) i / 2 * 1000 else i
      val filler = (0 until 12).map(j => s"w${fill}_$j").mkString(" ")
      (i.toLong, s"$hot $filler")
    }.toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val expected = pairs(graft.operators.Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5))
    assert(expected.size === 10, s"fixture should yield the 10 crafted pairs: $expected")
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val skewed = graft.operators.Dedup
        .ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5)
      val got = pairs(skewed)
      val finalPlan = skewed.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE should have split the hot shingle bucket:\n$finalPlan")
      assert(got === expected, "skew split must not change the pair set")
      assert(got.nonEmpty)
    }
  }

  test("parquet aggregate pushdown: MIN/MAX/COUNT answered from footer stats") {
    val dir = java.nio.file.Files.createTempDirectory("agg-push").toString
    t.lineitem.select(col("l_orderkey"), col("l_quantity"))
      .write.mode("overwrite").parquet(dir)
    // pushdown is a DataSource-V2 feature: drop parquet from the V1 list
    withConf("spark.sql.parquet.aggregatePushdown" -> "true",
        "spark.sql.sources.useV1SourceList" -> "") {
      val agg = spark.read.parquet(dir)
        .agg(count(lit(1)).as("n"), min("l_orderkey").as("lo"), max("l_orderkey").as("hi"))
      val plan = agg.queryExecution.executedPlan.toString
      // the scan carries the aggregates: row groups are never decoded —
      // at 100 TB this answers table-level audits from metadata alone
      assert(plan.contains("PushedAggregation"), plan)
      val row = agg.head()
      assert(row.getLong(0) === t.lineitem.count())
      assert(row.getLong(1) === t.lineitem.agg(min("l_orderkey")).head().getLong(0))
    }
  }
}
