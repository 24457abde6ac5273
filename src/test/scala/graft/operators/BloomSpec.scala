package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.Tables

/** Bloom runtime-filter contract: no false negatives ever (every build
  * key passes membership), pruning is effective but conservative (every
  * joining probe row survives), and the pruned join is exactly the
  * plain join.
  */
class BloomSpec extends SparkSuite {
  lazy val t = Tables(spark, "/root/testdata/sf0.001")

  test("no false negatives: every build key passes mightContain") {
    val keys = t.supplier.select(col("s_suppkey"))
    val bloom = Bloom.build(keys, col("s_suppkey"), numBits = 1 << 12, numHashes = 3)
    val missed = keys.filter(!bloom.mightContain(col("s_suppkey"))).count()
    assert(missed === 0L)
  }

  test("pruning keeps every joining row and drops most non-joining ones") {
    val supp = t.supplier.filter(col("s_nationkey") < 5).select(col("s_suppkey"))
    val bloom = Bloom.build(supp, col("s_suppkey"), numBits = 1 << 16, numHashes = 3)
    val total = t.lineitem.count()
    val joining = t.lineitem
      .join(supp, col("l_suppkey") === col("s_suppkey"), "left_semi").count()
    val surviving = t.lineitem.filter(bloom.mightContain(col("l_suppkey"))).count()
    assert(surviving >= joining, "a joining row was pruned (false negative)")
    // 1 of 10 suppliers qualifies at sf0.001; with a 64 Ki-bit filter over
    // a handful of keys the false-positive rate is ~0, so survivors should
    // be well under half the fact table
    assert(surviving < total / 2,
      s"pruning ineffective: $surviving of $total rows survived")
    info(s"pruned ${total - surviving}/$total fact rows ($joining actually join)")
  }

  test("prunedJoin == plain join") {
    val supp = t.supplier.filter(col("s_nationkey") < 10)
      .select(col("s_suppkey"), col("s_name"))
    val direct = t.lineitem.join(supp, col("l_suppkey") === col("s_suppkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("s_name"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val pruned = Bloom.prunedJoin(
      t.lineitem, supp, col("l_suppkey"), col("s_suppkey"), numBits = 1 << 12)
      .select(col("l_orderkey"), col("l_linenumber"), col("s_name"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(pruned === direct)
  }

  test("saturation reflects set bits and stays low for a sized filter") {
    val keys = t.supplier.select(col("s_suppkey"))
    val bloom = Bloom.build(keys, col("s_suppkey"), numBits = 1 << 12, numHashes = 3)
    assert(bloom.saturation > 0.0)
    // 10 keys * 3 probes <= 30 bits of 4096
    assert(bloom.saturation <= 30.0 / 4096)
  }
}
