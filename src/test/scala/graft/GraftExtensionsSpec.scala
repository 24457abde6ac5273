package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier

/** `GraftExtensions` is the one registration path for the native SQL
  * functions: a session built with the extension has every one of them
  * without any per-session call, `DESCRIBE FUNCTION` shows each usage,
  * and an int-literal argument check names the function that failed. */
class GraftExtensionsSpec extends SparkSuite {

  private val names = Set(
    "float_vec_dot", "long_vec_sqdist", "long_vec_dot", "hyperplane_bands",
    "pq_subdist", "known_not_null_elements", "z_value", "hilbert_value",
    "poly_hash", "block_hash64", "cdc_cuts", "byte_hist16", "fake_embed8",
    "span_hashes")

  test("a fresh newSession() resolves every native function with no registration call") {
    assert(GraftExtensions.functions.map(_.name).sorted === names.toSeq.sorted)
    val fresh = spark.newSession()
    val missing = names.toSeq.sorted.filterNot(n =>
      fresh.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"not registered in a new session: ${missing.mkString(", ")}")
    val row = fresh.sql("SELECT poly_hash('a b'), z_value(1L, 2L), span_hashes('a b c', 2)").head()
    assert(row.getLong(0) === graft.functions.PolyHashUtil.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString("a b")))
    assert(row.getLong(1) === 9L)
    assert(row.getSeq[Long](2).size === 2)
  }

  test("DESCRIBE FUNCTION prints the usage line") {
    val lines = spark.sql("DESCRIBE FUNCTION poly_hash").collect().map(_.getString(0))
    assert(lines.contains("Usage: poly_hash(str) - portable polynomial string hash"),
      lines.mkString("\n"))
  }

  test("a non-literal int argument fails naming the function and argument") {
    val e = intercept[Exception] {
      spark.sql("SELECT pq_subdist(array(1f), array(1f), 0, CAST(id AS INT)) FROM range(1)")
        .collect()
    }
    assert(e.getMessage.contains("pq_subdist subDim must be an int literal"), e.getMessage)
    assert(!e.getMessage.contains("hyperplane_bands"), e.getMessage)
  }
}
