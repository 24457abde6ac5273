package graft.operators

import graft.SparkSuite

/** Contracts of the shared-frame registry ([[Registries]]) and its two
  * registered frames:
  *  - memoization: the same (session, dir, key) returns the SAME pinned
  *    frame instance — the "built once per session" claim the graph and
  *    near-dup families now rest on;
  *  - isolation: a different session gets its own build (no cross-JVM
  *    or cross-session sharing surprises);
  *  - determinism: the frames themselves are bit-identical across
  *    shuffle partitionings (DeterminismSpec's x33/x152 runs now serve
  *    from one cached build, so the registry build step needs its OWN
  *    cross-partitioning pin — done here via two sibling sessions with
  *    different shuffle.partitions).
  */
class RegistriesSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.01"

  private def image(df: org.apache.spark.sql.DataFrame): Seq[String] = df
    .collect()
    .map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d).toString
      case other => String.valueOf(other)
    }.mkString("|"))
    .sorted.toSeq

  test("frame() memoizes per (session, dir, key) and isolates sessions") {
    val t = graft.sources.Tables(spark, sf)
    val a = TrainingData.coPurchasePairs(t)
    val b = TrainingData.coPurchasePairs(t)
    assert(a eq b, "same session+dir must serve the same pinned instance")

    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    val c = TrainingData.coPurchasePairs(graft.sources.Tables(s2, sf))
    assert(!(a eq c), "a different session must build its own frame")
    assert(image(a) === image(c), "sibling-session builds must agree")
  }

  test("registry frames are bit-identical across shuffle partitionings") {
    val s7 = spark.newSession()
    s7.conf.set("spark.sql.shuffle.partitions", "7")
    val t4 = graft.sources.Tables(spark, sf)
    val t7 = graft.sources.Tables(s7, sf)

    assert(image(TrainingData.coPurchasePairs(t4)) ===
      image(TrainingData.coPurchasePairs(t7)),
      "co-purchase pair registry differs across partitionings")
    assert(image(TrainingData.nearDupPairs(t4)) ===
      image(TrainingData.nearDupPairs(t7)),
      "near-dup pair registry differs across partitionings")
  }

  test("registered frames carry the documented schemas and are non-empty") {
    val t = graft.sources.Tables(spark, sf)
    val cp = TrainingData.coPurchasePairs(t)
    assert(cp.columns.toSeq === Seq("pa", "pb", "w"))
    assert(cp.filter(org.apache.spark.sql.functions.col("pa") >=
      org.apache.spark.sql.functions.col("pb")).count() === 0L,
      "pairs must be strictly ordered pa < pb")
    assert(cp.count() > 0L)

    val nd = TrainingData.nearDupPairs(t)
    assert(nd.columns.toSeq === Seq("doc_a", "doc_b", "common", "jaccard"))
    assert(nd.count() > 0L)
  }

  test("derived registries build through nested frame() calls in a fresh session") {
    // Round-17 advice (high): the old computeIfAbsent form ran builds
    // under the CHM bin lock, and a DERIVED registry's build calls
    // frame() again for its base — CHM's "Recursive update"
    // IllegalStateException whenever the two keys landed in one bin.
    // The crash was nondeterministic (key includes session identity
    // hash); the get/putIfAbsent + lazy-holder form can't hit it.
    // Repro condition: a serving layout requested FIRST in a fresh
    // session (bench subsets, single-query verify), so the nested base
    // build runs inside the outer build.
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    val t = graft.sources.Tables(s, sf)
    // derived-before-base: the min-support cut and both partitioned
    // PageRank serving layouts
    val min2 = TrainingData.coPurchasePairsMin2(t)
    val deg = TrainingData.coPurchaseUndDegByPk(t)
    val wdeg = TrainingData.coPurchaseUndWdegByPk(t)
    assert(deg.count() > 0L && wdeg.count() > 0L && min2.count() >= 0L)
    // the nested call memoized the base too: same instance afterwards
    val base = TrainingData.coPurchasePairs(t)
    assert(base eq TrainingData.coPurchasePairs(t))
  }

  test("framePartitioned serving layouts keep their hash layout into the scan") {
    // The r20 x152/x157 contract: a consumer joining/aggregating on the
    // pinned key plans ZERO Exchange over the registry scan. Under a
    // plain Pin.pin the localCheckpoint records UnknownPartitioning
    // (AQE's adaptive plan has no decided partitioning at checkpoint
    // time) and this aggregate would re-exchange the edge frame — the
    // regression this test exists to catch.
    import org.apache.spark.sql.functions._
    val t = graft.sources.Tables(spark, sf)
    for (und <- Seq(TrainingData.coPurchaseUndDegByPk(t),
        TrainingData.coPurchaseUndWdegByPk(t))) {
      val agg = und.groupBy(col("pk")).agg(count(lit(1)).as("n"))
      val plan = agg.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(!plan.contains("Exchange"),
        s"same-key aggregate over the partitioned registry planned an Exchange:\n$plan")
    }
    // and the layout carries the right rows: symmetric expansion of the
    // pair registry with the contributor's divisor attached
    val pairs = TrainingData.coPurchasePairs(t)
    val undDeg = TrainingData.coPurchaseUndDegByPk(t)
    assert(undDeg.count() === 2 * pairs.count())
    val degAgg = undDeg.groupBy(col("pk")).agg(count(lit(1)).as("n"),
      min(col("degree")).as("dmin"), max(col("degree")).as("dmax"))
    assert(degAgg.filter(col("n") =!= col("dmin") ||
      col("n") =!= col("dmax")).count() === 0L,
      "attached degree must equal the node's row count in the expansion")
  }

  test("purgeWhere evicts a session's entries and leaves others intact") {
    // The driver-path sweep (purgeStopped) drops entries whose context
    // is stopped; a local-mode suite cannot stop the shared context, so
    // the sweep is driven here by predicate (same code path).
    Registries.clear()
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    Seq(s1, s2).foreach(_.conf.set("spark.sql.shuffle.partitions", "4"))
    TrainingData.coPurchasePairs(graft.sources.Tables(s1, sf))
    TrainingData.coPurchasePairs(graft.sources.Tables(s2, sf))
    assert(Registries.size === 2)
    Registries.purgeWhere(_ eq s1)
    assert(Registries.size === 1)
    // s2's entry survived and still serves the same instance
    val kept = TrainingData.coPurchasePairs(graft.sources.Tables(s2, sf))
    assert(Registries.size === 1)
    assert(kept eq TrainingData.coPurchasePairs(graft.sources.Tables(s2, sf)))
    Registries.clear()
  }
}
