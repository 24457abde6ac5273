package graft.plans

import graft.SparkSuite

/** Job-count floors for the five most expensive sf0.1 queries
  * (BENCH_LOCAL's top of table: the x152/x157/x156 graph family, the
  * x182 composed release pipeline, the x104 IVF cohesion audit) —
  * [[GoldJobFloorSpec]]'s listener pattern extended past the gold six,
  * per the round-14 verdict: these queries' cost is iteration-bound
  * (bounded fixed-point rounds) plus broadcast builds, so a LOST
  * BROADCAST or an extra eager materialization in the graph family
  * multiplies by the iteration count and should fail tests, not drift
  * the bench table two rounds later.
  *
  * Unlike the gold six (pinned under the bench micro-suite profile),
  * these pin under the CLUSTER profile — the [[SparkSuite]] one: AQE
  * on, partitions = cores, broadcasts on — because that is the profile
  * the sf0.1 full pass (the artifact these queries are graded from)
  * runs. AQE makes a job
  * of every query-stage materialization, so the counts are higher and
  * tighter-coupled to exchange layout: exactly the sensitivity wanted.
  * Counts are data-size-free (iteration counts and exchange counts,
  * not row counts), measured at sf0.01 for spec speed. If a legitimate
  * plan change moves a count DOWN, update the pin and the BASELINE.md
  * footnote together; UP is the regression this spec exists to catch.
  */
class ScaleJobFloorSpec extends SparkSuite {

  /** The registry frames ([[graft.operators.Registries]]) are memoized
    * per session, and under sbt's shared-JVM test run another suite may
    * have built them FIRST inside a temporarily different profile
    * (DeterminismSpec runs queries at 7 partitions; measured: an sf0.01
    * co-purchase registry built under the AQE-off bench profile made
    * x165's downstream AQE plan over that differently-laid-out pinned
    * frame materialize 35 stage jobs instead of 15). The floors pin the
    * DRIVER's condition — registries built in Bench's own cluster
    * profile — so this suite drops any cross-suite entries and lets its
    * own warm runs rebuild them under the [[SparkSuite]] profile. */
  override protected def beforeAll(): Unit = {
    super.beforeAll()
    graft.operators.Registries.clear()
  }

  private val sf = "/root/testdata/sf0.01"

  private def jobsOf(name: String): Int = GoldJobFloorSpec.jobsOf(spark, sf, name)

  // the pinned floors — BASELINE.md "sf0.1 job-count floors" footnote.
  // x152 reads 24 in an isolated session and 25 under the full suite's
  // shared session (getOrCreate inherits whichever session an earlier
  // suite built, shifting one AQE stage boundary); the pin holds the
  // max of both contexts — the regression class this guard exists for
  // (a lost broadcast) multiplies across the 3 iterations and lands
  // well past +1.
  private val floors = Map(
    // graph family re-measured twice in round 17: after the shared
    // co-purchase pair registry landed, and again after the per-layout
    // registries (pre-partitioned und frames, min-support pairs, the
    // bipartite frame) moved each query's serving-layout derivation to
    // once-per-session as well. Final isolated readings 20/18/18/5/14
    // (+1 shared-session headroom, the x152 rule below). x136/x165
    // added per the round-16 verdict (item 3) — same regression class
    // (lost edge pre-partition / lost pin multiplies across
    // iterations).
    // x152/x157/x156 re-pinned after the round-20 restructure (edge
    // frame pinned WITH its partitioning via framePartitioned, divisor
    // riding the serving layout, edge-domain-only iteration, unrolled
    // round 1, memoized |part|): isolated readings 10/10/11, +1
    // shared-session headroom.
    "x152_copurchase_pagerank" -> 11,
    "x157_weighted_pagerank" -> 11,
    "x156_label_propagation" -> 12,
    "x136_copurchase_degree" -> 6,
    "x165_triangle_count" -> 15,
    "x182_release_pipeline_v2" -> 22,
    "x104_cluster_cohesion" -> 10,
    // the NB trainers measure 27/31 after the round-19 gate diet (truth
    // rides the predict tail instead of a test-corpus re-join; n_train
    // from the pinned class counts instead of a third train scan; one
    // combined broadcast; pivoted single-exchange grid) — down from
    // 31/35; +1 headroom for the x152-style shared-session AQE
    // stage-boundary shift. The count is pin-heavy by design (nc, cnt,
    // wt, classes each materialize once at fit time — all
    // vocab/class-bounded); a lost broadcast in the scoring join or a
    // corpus-sized pin reappearing (the round-15 trw regression class)
    // lands far past +1.
    "x201_naive_bayes_gate" -> 28,
    "x204_nb_vocab_cap" -> 32
  )

  floors.keys.toSeq.sorted.foreach { name =>
    test(s"$name: cluster-profile job count at its pinned floor") {
      val got = jobsOf(name); info(s"$name jobs=$got")
      assert(got <= floors(name),
        s"$name launched $got jobs (pinned floor ${floors(name)}) — a " +
          "lost broadcast or extra materialization multiplies across " +
          "this query's bounded iterations at sf0.1")
    }
  }
}
