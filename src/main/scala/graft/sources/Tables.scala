package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver-generated testdata tables (TESTDATA.md).
  *
  * One parquet file per table under `dir` (= `/root/testdata/sf*`).
  * All engine queries take their inputs from here so that the same code
  * runs at any scale factor — and, on a real cluster, against any
  * object-store path — by swapping `dir`.
  */
final class Tables private (val spark: SparkSession, val dir: String) {
  private def read(name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Register every table as a temp view (its bare name) for spark.sql. */
  def registerAll(): Unit = {
    Seq(
      "region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents, "embeddings" -> embeddings
    ).foreach { case (name, df) => df.createOrReplaceTempView(name) }
  }

  lazy val region: DataFrame     = read("region")
  lazy val nation: DataFrame     = read("nation")
  lazy val customer: DataFrame   = read("customer")
  lazy val supplier: DataFrame   = read("supplier")
  lazy val part: DataFrame       = read("part")
  lazy val orders: DataFrame     = read("orders")
  lazy val lineitem: DataFrame   = read("lineitem")
  /** `events.ts` has shipped as both parquet TIMESTAMP(NANOS) (which
    * Spark's vectorized reader rejects — read nanos as long, convert to
    * a microsecond timestamp; the source data is µs-aligned, so this is
    * lossless) and plain TIMESTAMP(MICROS) (pass through). Handle both
    * layouts by dispatching on the decoded type, so a testdata
    * regeneration can't strand every events query.
    * DuckDB oracles read the same values via `CAST(ts AS TIMESTAMP)`. */
  lazy val events: DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read("events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn(
          "ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // TIMESTAMP(MICROS, isAdjustedToUTC=false) decodes as NTZ;
        // downstream operators (unix_micros, range joins, watermarks)
        // expect TIMESTAMP. The session timezone is pinned to UTC
        // (Verify/Bench), so the cast relabels the same instants.
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  lazy val documents: DataFrame  = read("documents")
  /** `embedding` is re-tagged `array<float>` with
    * `containsNull = false` at the scan: parquet list elements always
    * decode as nullable (the writer marks them `optional` regardless
    * of the data, and an explicit read schema is re-widened by
    * `asNullable`), which would drag a per-slot isNullAt branch into
    * every downstream vector kernel (round-17 verdict item 1). The
    * data contract — the driver generator never writes null elements —
    * is asserted per-SF by VectorExpressionsSpec's boundary check, so
    * the [[graft.functions.KnownNotNullElements]] tag declares a fact,
    * and every frame derived from this column (norms, slices,
    * quantized transforms) inherits the branch-free schema. */
  lazy val embeddings: DataFrame =
    read("embeddings").withColumn(
      "embedding",
      org.apache.spark.sql.functions.expr("known_not_null_elements(embedding)"))
}

object Tables {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Tables]()

  /** Memoized per (session, dir): building a reader costs a driver-side
    * file listing + parquet footer read per table accessed, and the
    * driver contract constructs a Tables per query invocation — without
    * the memo every benched query re-pays that constant (measured
    * ~0.3-0.5s/query at sf0.01). DataFrames are immutable, so sharing
    * instances across callers is safe; entries live for the session
    * (a handful of plan objects each). */
  def apply(spark: SparkSession, dir: String): Tables =
    cache.computeIfAbsent((spark, dir), { case (s, d) => new Tables(s, d) })
}
