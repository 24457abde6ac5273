package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator for scaling-curve runs (SCALE.md's
  * sf0.1 → sf1 exponent table): replicates a driver testdata directory
  * `factor`× using key-shifted copies — the SAME scaling discipline the
  * driver's own sf0.001→0.1 series follows (table cardinality grows
  * linearly in SF; per-key densities, join fanouts, and dimension tables
  * stay constant), so runtime ratios between the base and generated
  * directories measure the ENGINE's scaling, not a distribution shift.
  *
  * Copy i of a row shifts every entity key by i × (max_key + 1) of its
  * owning table, keeping all FK edges within the copy — 10 disjoint
  * equally-shaped shards. Content columns that drive similarity
  * operators are decorrelated across copies (they would otherwise
  * create artificial 10-member duplicate families and quadratic
  * near-dup pair growth no organic corpus has):
  *  - `documents.text`: every 5th word of a copy>0 doc is replaced by a
  *    copy-salted token (kills 3-gram Jaccard across copies while
  *    preserving length and word-frequency shape); n_chars recomputed.
  *    The salt domain is SMALL (97 per copy) so the corpus vocabulary
  *    grows additively (~97×copies tokens), matching how organic corpus
  *    vocabulary grows sublinearly — a large salt domain would explode
  *    vocab-frame queries' scaling exponents with generator artifacts.
  *  - `embeddings.embedding`: copy>0 components get a deterministic
  *    ±5e-3 arithmetic-hash jitter (breaks exact/cosine near-dup pairs
  *    across copies, preserves the distribution).
  * All perturbations are pure column arithmetic (xxhash64-seeded) —
  * bit-reproducible on any partitioning, no RNG state anywhere.
  *
  * Usage: `SPARK_GRAFT_CPUS=8 runMain graft.GenSf <baseDir> <outDir> <factor> [--clustered]`
  * (the flag regenerates `embeddings.embedding` as a 32-cluster mixture
  * — the realistic-corpus twin of the default near-uniform vectors).
  * Do not point queries' CORRECTNESS runs here — this directory is for
  * relative timing only (the DuckDB oracle gate stays on driver data).
  */
object GenSf {

  /** The `--clustered` embedding law, shared by the generator main and
    * the IvfSpec clustered fixture (one definition — the spec pins
    * recall/hashes on EXACTLY the corpus the scaling runs time): each
    * component is regenerated as a 32-cluster mixture — center
    * component ±1-scale from xxhash on (vec_id mod 32, dim), ±0.05
    * jitter from xxhash on (vec_id, dim). Pure column arithmetic,
    * bit-reproducible on any partitioning. */
  def clusteredEmbedding(vecId: org.apache.spark.sql.Column,
      embedding: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(embedding, (_, i) =>
      ((pmod(xxhash64(pmod(vecId, lit(32L)), i), lit(2001))
          .cast("double") - lit(1000.0)) / lit(1000.0) +
        (pmod(xxhash64(vecId, i), lit(101))
          .cast("double") - lit(50.0)) / lit(1000.0)).cast("float"))

  def main(args: Array[String]): Unit = {
    val (baseDir, outDir, factor) = (args(0), args(1), args(2).toInt)
    // --clustered: regenerate the embedding COLUMN as a mixture of 32
    // tight deterministic clusters (centers ±1-scale from xxhash on
    // (cluster, dim), ±0.05 jitter from xxhash on (vec_id, dim))
    // instead of replicating the base's near-uniform vectors. The
    // uniform corpus is the pinned WORST case for every quantizer
    // (SCALE.md "PQ parameter laws (round 9)": its recall numbers are
    // worst-case-on-worst-case); real embedding corpora cluster, and
    // this mode is the timing/recall twin for that regime — in
    // particular the corpus where trained PQ codebooks
    // (pqCodebookLloyd) separate from seed books.
    // Same replication/id-shift discipline otherwise; timing-only, like
    // every GenSf output.
    val clustered = args.length > 3 && args(3) == "--clustered"
    val spark = Sessions.local(Sessions.cpus)
    spark.sparkContext.setLogLevel("WARN")

    def read(name: String): DataFrame =
      spark.read.parquet(s"$baseDir/$name.parquet")

    /** max(key)+1 of the base table — the per-copy shift stride. */
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    val copies = spark.range(factor).select(col("id").as("__copy"))

    /** Cross the base with `factor` copies, shifting each column in
      * `shifts` by __copy × its stride. Dimension-stable columns pass
      * through untouched. */
    def replicate(df: DataFrame, shifts: Map[String, Long]): DataFrame = {
      val crossed = df.crossJoin(broadcast(copies))
      val shifted = shifts.foldLeft(crossed) { case (d, (c, s)) =>
        d.withColumn(c, col(c) + col("__copy") * lit(s))
      }
      shifted
    }

    def write(df: DataFrame, name: String): Unit = {
      df.drop("__copy").write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      println(s"[gensf] $name written")
    }

    // fixed dimensions: copy through unchanged
    Seq("region", "nation").foreach(n => write(read(n), n))

    // events goes through Tables' type dispatch: testdata has shipped
    // `ts` as both TIMESTAMP(NANOS) (vectorized reader rejects without
    // the nanosAsLong conf) and TIMESTAMP(MICROS, NTZ) — a raw
    // spark.read.parquet would fail at replicate time on a NANOS round.
    // The replica is written back as plain TIMESTAMP, which the same
    // dispatch passes through on re-read.
    val (customer, supplier, part, orders, lineitem, events, documents,
      embeddings) = (read("customer"), read("supplier"), read("part"),
      read("orders"), read("lineitem"),
      graft.sources.Tables(spark, baseDir).events, read("documents"),
      read("embeddings"))

    val custS = stride(customer, "c_custkey")
    val suppS = stride(supplier, "s_suppkey")
    val partS = stride(part, "p_partkey")
    val ordS = stride(orders, "o_orderkey")
    val evS = stride(events, "event_id")
    val userS = events.agg(max(col("user_id"))).head().getLong(0) + 1L
    val docS = stride(documents, "doc_id")
    val vecS = stride(embeddings, "vec_id")

    write(replicate(customer, Map("c_custkey" -> custS)), "customer")
    write(replicate(supplier, Map("s_suppkey" -> suppS)), "supplier")
    write(replicate(part, Map("p_partkey" -> partS)), "part")
    write(replicate(orders,
      Map("o_orderkey" -> ordS, "o_custkey" -> custS)), "orders")
    write(replicate(lineitem, Map("l_orderkey" -> ordS,
      "l_partkey" -> partS, "l_suppkey" -> suppS)), "lineitem")
    write(replicate(events,
      Map("event_id" -> evS, "user_id" -> userS)), "events")

    // documents: decorrelate text across copies (see scaladoc)
    val reps = replicate(documents, Map("doc_id" -> docS))
    val perturbedText = when(col("__copy") === 0, col("text")).otherwise(
      array_join(
        zip_with(
          split(col("text"), " "),
          transform(split(col("text"), " "), (_, i) => i),
          (w, i) => when(i % 5 === pmod(col("doc_id"), lit(5)),
            concat(lit("c"), col("__copy"), lit("w"),
              pmod(xxhash64(col("doc_id"), i), lit(97))))
            .otherwise(w)),
        " "))
    write(
      reps.withColumn("text", perturbedText)
        .withColumn("n_chars", length(col("text")).cast("long")),
      "documents")

    // embeddings: deterministic jitter on copy>0 components (default),
    // or full clustered regeneration (--clustered; see main's scaladoc)
    val reps2 = replicate(embeddings, Map("vec_id" -> vecS))
    val outEmb =
      if (clustered)
        reps2.withColumn("embedding",
          clusteredEmbedding(col("vec_id"), col("embedding")))
      else
        reps2.withColumn("embedding",
          when(col("__copy") === 0, col("embedding")).otherwise(
            zip_with(
              col("embedding"),
              transform(col("embedding"), (_, i) => i),
              (v, i) => (v + (pmod(xxhash64(col("vec_id"), i), lit(10000))
                .cast("double") - lit(5000.0)) * lit(1e-6)).cast("float"))))
    write(outEmb, "embeddings")

    spark.stop()
  }
}
