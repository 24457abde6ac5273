package graft.plans

import graft.SparkSuite

/** The limb-sum optimizer rule must change the plan (no decimal Sum
  * accumulator remains) without changing any result bit. */
class LimbSumRewriteSpec extends SparkSuite {

  private val sql =
    "SELECT l_returnflag, l_linestatus, " +
      "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price " +
      "FROM li GROUP BY l_returnflag, l_linestatus"

  private def withFlag[A](on: Boolean)(f: => A): A =
    withConf("spark.graft.limbSumRewrite" -> on.toString)(f)

  test("rewrites decimal sums to limb sums, results bit-identical") {
    graft.sources.Tables(spark, "/root/testdata/sf0.001").lineitem
      .createOrReplaceTempView("li")

    val (rewrittenPlan, rewrittenRows) = withFlag(on = true) {
      val df = spark.sql(sql)
      (df.queryExecution.optimizedPlan.toString, df.collect())
    }
    val (plainPlan, plainRows) = withFlag(on = false) {
      val df = spark.sql(sql)
      (df.queryExecution.optimizedPlan.toString, df.collect())
    }

    // plain plan keeps the decimal-cast sums; rewritten plan has none
    // (the cast to decimal disappears entirely — limbs are long sums)
    assert(plainPlan.contains("sum(cast("), plainPlan)
    assert(!rewrittenPlan.contains("sum(cast("), rewrittenPlan)

    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getString(1))
    val plain = plainRows.map(r => key(r) -> (r.getDouble(2), r.getDouble(3))).toMap
    val rewritten = rewrittenRows.map(r => key(r) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(rewritten.keySet === plain.keySet)
    plain.foreach { case (k, (a, b)) =>
      assert(java.lang.Double.doubleToLongBits(a) ===
        java.lang.Double.doubleToLongBits(rewritten(k)._1), s"sum_qty $k")
      assert(java.lang.Double.doubleToLongBits(b) ===
        java.lang.Double.doubleToLongBits(rewritten(k)._2), s"sum_price $k")
    }
  }

  test("fires on DataFrame-API plans too (Exact.exactSum call sites)") {
    import graft.functions.Exact
    import org.apache.spark.sql.functions._
    val df = graft.sources.Tables(spark, "/root/testdata/sf0.001").customer
      .groupBy(col("c_mktsegment"))
      .agg(Exact.exactSum(col("c_acctbal")).as("s"))
    // the remaining exactSum call sites (a03, s05, x17, …) are built via
    // the DataFrame API, not SQL text — the rule must still catch them
    assert(!df.queryExecution.optimizedPlan.toString.contains("sum(cast("),
      df.queryExecution.optimizedPlan.toString)
  }

  test("does not rewrite DISTINCT sums or non-(18,4) casts") {
    graft.sources.Tables(spark, "/root/testdata/sf0.001").lineitem
      .createOrReplaceTempView("li")
    val distinctSql =
      "SELECT CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) FROM li"
    val otherScaleSql =
      "SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) FROM li"
    withFlag(on = true) {
      assert(spark.sql(distinctSql).queryExecution.optimizedPlan
        .toString.contains("sum(distinct"))
      assert(spark.sql(otherScaleSql).queryExecution.optimizedPlan
        .toString.contains("sum(cast("))
    }
  }

  test("conditional-pivot shape (CASE WHEN p THEN CAST(x) END) is rewritten") {
    graft.sources.Tables(spark, "/root/testdata/sf0.001").lineitem
      .createOrReplaceTempView("li")
    val pivotSql =
      "SELECT l_returnflag, " +
        "CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE) AS s_o, " +
        "CAST(SUM(CASE WHEN l_linestatus = 'Z' THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE) AS s_z " +
        "FROM li GROUP BY 1"
    val (rewrittenPlan, viaRule) = withFlag(on = true) {
      val df = spark.sql(pivotSql)
      (df.queryExecution.optimizedPlan.toString, df.collect())
    }
    val (plainPlan, plain) = withFlag(on = false) {
      val df = spark.sql(pivotSql)
      (df.queryExecution.optimizedPlan.toString, df.collect())
    }
    // the decimal accumulator is gone — conditional sums run as long limbs
    // (the CASE turns into the limb-gating `if`, so no sum(CASE...) remains)
    assert(plainPlan.contains("sum(CASE WHEN"), plainPlan)
    assert(!rewrittenPlan.contains("sum(CASE WHEN"), rewrittenPlan)
    def m(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      r.getString(0) -> (
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    }.toMap
    assert(m(viaRule) === m(plain))
    // no row has linestatus 'Z' → the all-null sum stays NULL via both paths
    assert(m(plain).values.forall(_._2.isEmpty) && m(viaRule).values.forall(_._2.isEmpty))
  }

  test("FILTER clause and all-null groups survive the rewrite") {
    graft.sources.Tables(spark, "/root/testdata/sf0.001").lineitem
      .createOrReplaceTempView("li")
    val filterSql =
      "SELECT l_returnflag, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) " +
        "FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS s FROM li GROUP BY 1"
    val viaRule = withFlag(on = true) { spark.sql(filterSql).collect() }
    val plain = withFlag(on = false) { spark.sql(filterSql).collect() }
    def m(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(m(viaRule) === m(plain))
    // 'R' rows are never linestatus 'O' → that group must be NULL via both paths
    assert(m(plain).values.exists(_.isEmpty) === m(viaRule).values.exists(_.isEmpty))
  }
}
