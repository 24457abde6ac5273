package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.SparkSuite
import graft.sources.Tables

class VectorExpressionsSpec extends SparkSuite {
  private val hofDot =
    "aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
      "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"

  test("float_vec_dot is bit-identical to the portable HOF form") {
    val e = Tables(spark, "/root/testdata/sf0.001").embeddings
    val a = e.select(col("vec_id").as("ida"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("idb"), col("embedding").as("eb"))
    val pairs = a.filter(col("ida") < 20).join(b, col("ida") < col("idb"))
    val both = pairs.select(
      expr(hofDot).as("hof"),
      VectorExpressions.vecDot("ea", "eb").as("native")
    ).collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      // exact bit equality — same IEEE accumulation order
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("float_vec_dot property: matches scalar fold on random vectors") {
    val genVec = Gen.listOfN(64, Gen.chooseNum(-1.0f, 1.0f))
    val seed = org.scalacheck.rng.Seed(42L)
    var s = seed
    (1 to 25).foreach { _ =>
      val a = genVec.apply(Gen.Parameters.default, s).get.toArray
      s = s.next
      val b = genVec.apply(Gen.Parameters.default, s).get.toArray
      s = s.next
      val expected = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) =>
        acc + x.toDouble * y.toDouble
      }
      val got = FloatVecDot(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          a, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          b, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
      ).eval(null).asInstanceOf[Double]
      assert(java.lang.Double.doubleToLongBits(got) ===
        java.lang.Double.doubleToLongBits(expected))
    }
  }

  test("hyperplane_bands is bit-identical to the per-plane HOF folds") {
    val e = Tables(spark, "/root/testdata/sf0.001").embeddings
    val dims = 64
    // the oracle-twin fold for plane j (Dedup.planeDot's shape)
    def hofPlane(j: Int): String =
      s"aggregate(sequence(0, ${dims - 1}), CAST(0 AS DOUBLE), " +
        s"(acc, i) -> acc + CAST(element_at(embedding, i + 1) AS DOUBLE) * " +
        s"(CAST((($j * $dims + i) * 2654435761) % 2147483647 AS DOUBLE) / 2147483647.0 - 0.5))"
    val (bands, planes) = (4, 4)
    val hofKeys = (0 until bands).map { k =>
      (0 until planes).map { p =>
        when(expr(hofPlane(k * planes + p)) >= 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _).cast("long").as(s"hof_$k")
    }
    val rows = e.select(
      (expr(s"hyperplane_bands(embedding, $bands, $planes, $dims)").as("native") +:
        hofKeys): _*
    ).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val native = r.getSeq[Long](0)
      val hof = (1 to bands).map(r.getLong)
      assert(native === hof)
    }
  }

  test("pq_subdist is identical to the portable HOF quantize-and-sum form") {
    val e = Tables(spark, "/root/testdata/sf0.001").embeddings
    val a = e.select(col("vec_id").as("ida"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("idb"), col("embedding").as("eb"))
    val pairs = a.filter(col("ida") < 10).join(b, col("ida") < col("idb"))
      .select(col("ea"), col("eb"),
        explode(sequence(lit(0), lit(7))).as("sub"))
    // reference: slice the subspace, quantize each side to floor(v*1e6)
    // longs, sum squared diffs — the exact arithmetic the codegen claims
    val hof =
      "aggregate(zip_with(" +
        "transform(slice(ea, sub * 8 + 1, 8), x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)), " +
        "transform(slice(eb, sub * 8 + 1, 8), x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)), " +
        "(x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    val both = pairs.select(
      expr(hof).as("ref"),
      expr("pq_subdist(ea, eb, sub, 8)").as("native")).collect()
    assert(both.length >= 80 * 8)
    both.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("z_value interleave matches a bit-by-bit reference") {
    def ref(a: Long, b: Long): Long =
      (0 until 32).foldLeft(0L) { (acc, i) =>
        acc | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
      }
    val rows = spark.range(0, 200)
      .selectExpr("id * 2654435761 % 4294967296 AS a", "id * 40503 % 4294967296 AS b")
      .selectExpr("a", "b", "z_value(a, b) AS z").collect()
    rows.foreach(r => assert(r.getLong(2) === ref(r.getLong(0), r.getLong(1))))
  }

  test("hilbert_value through SQL matches the static xy2d on sampled points") {
    val rows = spark.range(0, 200)
      .selectExpr("id * 2654435761 % 65536 AS a", "id * 40503 % 65536 AS b")
      .selectExpr("a", "b", "hilbert_value(a, b) AS h").collect()
    rows.foreach(r =>
      assert(r.getLong(2) === HilbertValue.xy2d(r.getLong(0), r.getLong(1))))
    // codegen and interpreted paths agree (HilbertSpec pins the curve
    // math itself against the d2xy inverse)
  }

  test("long_vec_sqdist / long_vec_dot null-poison on null elements like the HOF twins") {
    // nullable-element arrays: a null slot must yield NULL, matching
    // aggregate(zip_with(...)) where the per-slot product is null and
    // acc + null poisons the fold
    val df = spark.sql(
      "SELECT * FROM VALUES " +
        "(array(1L, 2L, 3L), array(4L, 5L, 6L)), " +          // clean
        "(array(1L, CAST(NULL AS BIGINT), 3L), array(4L, 5L, 6L)), " + // null on left
        "(array(1L, 2L, 3L), array(4L, NULL, 6L)) " +         // null on right
        "AS t(a, b)")
    val hofSq = "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
    val hofDt = "aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    val rows = df.selectExpr(
      s"$hofSq AS hof_sq", "long_vec_sqdist(a, b) AS nat_sq",
      s"$hofDt AS hof_dt", "long_vec_dot(a, b) AS nat_dt").collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1))
      assert(r.isNullAt(2) === r.isNullAt(3))
      if (!r.isNullAt(0)) assert(r.getLong(0) === r.getLong(1))
      if (!r.isNullAt(2)) assert(r.getLong(2) === r.getLong(3))
    }
    assert(rows.count(_.isNullAt(1)) === 2)
    // float_vec_dot carries the same null-element law
    val fdf = spark.sql(
      "SELECT * FROM VALUES " +
        "(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))), " +
        "(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)), array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) " +
        "AS t(a, b)")
    val hofF = "aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
      "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    val frows = fdf.selectExpr(s"$hofF AS hof", "float_vec_dot(a, b) AS nat").collect()
    frows.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1))
      if (!r.isNullAt(0))
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
          java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    assert(frows.count(_.isNullAt(1)) === 1)
    // interpreted path agrees with codegen
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val lit = (xs: Array[Any]) =>
      Literal.create(new org.apache.spark.sql.catalyst.util.GenericArrayData(xs),
        ArrayType(LongType, containsNull = true))
    val withNull = lit(Array[Any](1L, null, 3L))
    val clean = lit(Array[Any](4L, 5L, 6L))
    assert(LongVecSqDist(withNull, clean).eval(null) === null)
    assert(LongVecDot(withNull, clean).eval(null) === null)
    assert(LongVecSqDist(clean, clean).eval(null) === 0L)
    assert(LongVecDot(clean, clean).eval(null) === (16L + 25L + 36L))
  }

  test("emitted-code shape both ways: nullable elements branch, tagged elements don't") {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
    // top-level nullable = false so the only possible isNullAt in the
    // generated text is the PER-SLOT element branch under test
    val fRef = BoundReference(0, ArrayType(FloatType, containsNull = true), nullable = false)
    val lRef = BoundReference(1, ArrayType(LongType, containsNull = true), nullable = false)
    def gen(e: Expression): String = e.genCode(new CodegenContext).code.toString
    // nullable elements ⇒ the poisoning branch IS emitted
    assert(gen(FloatVecDot(fRef, fRef)).contains("isNullAt"))
    assert(gen(LongVecSqDist(lRef, lRef)).contains("isNullAt"))
    assert(gen(LongVecDot(lRef, lRef)).contains("isNullAt"))
    // the boundary tag ⇒ branch-free hot loop (the round-17 drift class)
    val fTag = KnownNotNullElements(fRef)
    val lTag = KnownNotNullElements(lRef)
    assert(!gen(FloatVecDot(fTag, fTag)).contains("isNullAt"))
    assert(!gen(LongVecSqDist(lTag, lTag)).contains("isNullAt"))
    assert(!gen(LongVecDot(lTag, lTag)).contains("isNullAt"))
    // one tagged side is not enough — EITHER nullable side re-emits
    assert(gen(FloatVecDot(fTag, fRef)).contains("isNullAt"))
  }

  test("known_not_null_elements is a zero-cost pass-through that narrows the schema") {
    import org.apache.spark.sql.types.ArrayType
    val df = spark.sql(
      "SELECT known_not_null_elements(array(CAST(1.5 AS FLOAT), CAST(-2.5 AS FLOAT))) AS a, " +
        "known_not_null_elements(CAST(NULL AS ARRAY<FLOAT>)) AS b")
    assert(!df.schema("a").dataType.asInstanceOf[ArrayType].containsNull)
    val r = df.collect()(0)
    assert(r.getSeq[Float](0) === Seq(1.5f, -2.5f))
    assert(r.isNullAt(1)) // top-level nulls still pass through
    // dotting tagged columns is bit-identical to dotting raw ones
    val e = Tables(spark, "/root/testdata/sf0.001").embeddings // tagged at the scan
    val raw = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val viaTag = e.selectExpr("vec_id", "float_vec_dot(embedding, embedding) AS d")
    val viaRaw = raw.selectExpr("vec_id", "float_vec_dot(embedding, embedding) AS d")
    val joined = viaTag.alias("t").join(viaRaw.alias("r"), "vec_id")
      .selectExpr("t.d AS td", "r.d AS rd").collect()
    assert(joined.nonEmpty)
    joined.foreach(r2 =>
      assert(java.lang.Double.doubleToLongBits(r2.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r2.getDouble(1))))
  }

  test("testdata embeddings honor the non-null-element contract the boundary tag declares") {
    import org.apache.spark.sql.types.ArrayType
    // the "assert once at the scan boundary" leg of round-17 verdict
    // item 1: the tag is a declaration, so the declared fact is checked
    // HERE, per verify SF, against the raw parquet (no tag in the way)
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val raw = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
      // parquet always decodes list elements as nullable — the reason
      // the tag exists at all
      assert(raw.schema("embedding").dataType.asInstanceOf[ArrayType].containsNull)
      val bad = raw.filter(
        expr("embedding IS NULL OR exists(embedding, x -> x IS NULL)")).count()
      assert(bad === 0L, s"$sf embeddings violate the non-null-element contract")
    }
    // and the Tables boundary applies the tag
    val tagged = Tables(spark, "/root/testdata/sf0.001").embeddings
    assert(!tagged.schema("embedding").dataType.asInstanceOf[ArrayType].containsNull)
  }
}
