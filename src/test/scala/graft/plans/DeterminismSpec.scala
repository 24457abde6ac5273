package graft.plans

import graft.SparkEntry
import graft.SparkSuite

/** Partitioning-determinism pin: the engine's claim that every result
  * is bit-reproducible under ANY partitioning (exact decimal/limb sums,
  * integer fixed-point iteration, bounded heaps with total-order
  * tiebreaks, arithmetic PRNGs) — verified mechanically by running a
  * representative query set twice with different
  * `spark.sql.shuffle.partitions` and comparing rows EXACTLY, doubles
  * included bit-for-bit.
  *
  * The set covers every mechanism the claim rests on: decimal/limb
  * float aggregation (a01, g03), the model graph end-to-end (g05, g06),
  * hash/band dedup (x03), connected components (x33), quantized Lloyd
  * (x53), IVF split (x64), CDF/suffix-sum plans (x68, x128), sketch
  * quantiles (x111), capped Levenshtein (x142), IVF cells (x143), PQ
  * ADC + re-rank (x149, x151), integer PageRank (x152), the BPE
  * driver-loop train (x176), SemDeDup's quantized cell sums (x178),
  * and the composed gate→rewrite→budget pipeline (x182). The full
  * registry × 2-config sweep is the Verify oracle's job at the driver
  * level; this spec is the fast in-suite pin.
  */
class DeterminismSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.01"

  private val names = Seq(
    "a01_pricing_summary", "g03_team_weakness_unpivot", "g05_streaks_one_row",
    "g06_recommendations", "x03_dedup_minhash", "x33_dedup_clusters",
    "x53_ivf_lloyd_probe", "x64_semantic_safe_split", "x68_token_budget_select",
    "x128_activity_deciles", "x111_hist_quantiles", "x142_fuzzy_dedup_capped",
    "x143_embedding_neardup_ivf", "x149_pq_adc_topk", "x151_pq_rerank",
    "x152_copurchase_pagerank", "x176_bpe_train", "x178_semdedup",
    "x182_release_pipeline_v2",
    // round 14: the blocked dense-rank negative pick (x189) and the
    // three-level routed lists (x190) — both windows are partitioned,
    // so their images must not move with the shuffle layout
    "x189_contrastive_triplets", "x190_ivf3_topk")

  /** Canonical row images: doubles through exact bit patterns, rows
    * sorted by their full string image — any cross-partitioning float
    * drift or row-set difference shows up as inequality. */
  private def image(df: org.apache.spark.sql.DataFrame): Seq[String] = df
    .collect()
    .map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d).toString
      case f: Float => java.lang.Float.floatToIntBits(f).toString
      case other => String.valueOf(other)
    }.mkString(""))
    .sorted.toSeq

  test("representative queries are bit-identical under different shuffle partitioning") {
    val qs = SparkEntry.queries
    for (name <- names) {
      val a = image(qs(name)(spark, sf))
      val b = withConf("spark.sql.shuffle.partitions" -> "7")(image(qs(name)(spark, sf)))
      assert(a === b, s"$name differs across shuffle partitionings")
      assert(a.nonEmpty, s"$name returned no rows at $sf")
    }
  }
}
