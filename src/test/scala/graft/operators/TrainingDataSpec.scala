package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.Tables

/** x189 contrastive-triplet mining on a SPARSE id space — the round-12
  * caveat the old `(query_id · 48271) mod n` negative pick got wrong:
  * on gapped ids most draws named a nonexistent id and the inner join
  * silently dropped those triplets. The round-15 law draws ENTIRELY in
  * dense RANK space (blocked row_number ≡ `ROW_NUMBER() OVER (ORDER BY
  * vec_id % 64, vec_id) − 1`): the seed of the multiply is the
  * anchor's own rank, not its raw id, so the product is bounded by
  * n·48271 and a snowflake-magnitude id (~1e18) can't overflow the
  * signed-64 multiply the round-14 form (`query_id · 48271`) wrapped
  * negative on. The specs replay the rank law locally (plain sort) and
  * pin the full output set on both a gapped id space and a
  * snowflake-magnitude one. */
class TrainingDataSpec extends SparkSuite {
  /** Runs x189 on `dir` and asserts it equals a local (plain-sort)
    * replay of the rank law: negId = rankToId((rank(anchor) · 48271)
    * mod n), then the same degenerate + margin filters with the cosine
    * computed by the same engine expression so float semantics can't
    * diverge. */
  private def assertMatchesLocalReplay(dir: String): Unit = {
    val got = graft.SparkEntry.queries("x189_contrastive_triplets")(spark, dir)
      .select("anchor_id", "pos_id", "neg_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val ids = emb.select("vec_id").collect().map(_.getLong(0))
    val n = ids.length.toLong
    val sorted = ids.sortBy(id => (id % 64, id))
    val rankToId = sorted.zipWithIndex
      .map { case (id, rn) => rn.toLong -> id }.toMap
    val idToRank = sorted.zipWithIndex
      .map { case (id, rn) => id -> rn.toLong }.toMap
    val k = math.max(16, math.sqrt(n.toDouble).toInt)
    val kc = math.max(4, math.sqrt(k.toDouble).toInt)
    val lists = Dedup.ivfSearchTwoLevel(emb, "vec_id", "embedding",
      lit(true), k = k, kc = kc, nprobe = 2, topK = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(lists.nonEmpty)
    // THE property: every draw is a real id (the old id-seeded law
    // failed here — gaps made draws miss; snowflake ids overflowed)
    val picks = lists.map { case (q, pos, posCos) =>
      val negId = rankToId((idToRank(q) * 48271L) % n)
      (q, pos, posCos, negId)
    }
    assert(picks.length === lists.length)
    import spark.implicits._
    val norms = Dedup.withNorm(emb, "vec_id", "embedding")
    val expected = picks.toSeq.toDF("anchor_id", "pos_id", "pos_cos", "neg_id")
      .join(norms.select(col("vec_id").as("anchor_id"),
        col("embedding").as("ae"), col("nrm").as("an")), "anchor_id")
      .join(norms.select(col("vec_id").as("neg_id"),
        col("embedding").as("be"), col("nrm").as("bn")), "neg_id")
      .withColumn("neg_cos",
        expr("float_vec_dot(ae, be)") / (col("bn") * col("an")))
      .filter(col("neg_id") =!= col("anchor_id") &&
        col("neg_id") =!= col("pos_id") &&
        col("neg_cos") <= col("pos_cos") - 0.1)
      .select("anchor_id", "pos_id", "neg_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("x189 on gapped ids: every LCG draw resolves; output == local replay") {
    val base = Tables(spark, "/root/testdata/sf0.001").embeddings
    // a hostile id space: a dropped residue class (20 % of the draw
    // range [0, n) names no row) plus a far-shifted tail — while keeping
    // ids < k present, which the registered deterministic seed-centroid
    // rule (`vec_id < k`, replayed by every IVF oracle) requires of any
    // corpus. The OLD x189 law silently dropped every triplet whose
    // draw hit a gap; the rank-space law drops none.
    val gapped = base
      .filter(col("vec_id") % 5 =!= 3)
      .withColumn("vec_id",
        when(col("vec_id") >= 800, col("vec_id") + 1000000L)
          .otherwise(col("vec_id")))
    val dir = Files.createTempDirectory("x189-gapped").toString
    gapped.write.parquet(s"$dir/embeddings.parquet")
    assertMatchesLocalReplay(dir)
  }

  test("x189 on snowflake-magnitude ids: rank-seeded LCG can't overflow") {
    val base = Tables(spark, "/root/testdata/sf0.001").embeddings
    // ids in the ~9e17 snowflake regime: the round-14 id-seeded
    // multiply `query_id * 48271` wraps negative here (9e17 · 48271 ≫
    // Long.MaxValue), the negative mod matches no rank, and every such
    // anchor's triplet silently vanishes — while DuckDB errors. The
    // rank-seeded law multiplies a value < n, so it is exact. Ids < k
    // stay small to satisfy the deterministic seed-centroid rule.
    val snowflake = base
      .withColumn("vec_id",
        when(col("vec_id") >= 800, col("vec_id") + 900000000000000000L)
          .otherwise(col("vec_id")))
    val dir = Files.createTempDirectory("x189-snowflake").toString
    snowflake.write.parquet(s"$dir/embeddings.parquet")
    assertMatchesLocalReplay(dir)
  }
}
