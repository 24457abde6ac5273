package graft.plans

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.SparkSuite

/** Per-model Spark JOB-COUNT floors for the six gold analogs —
  * BASELINE.md's bench-gate decomposition made concrete: at sf0.01 the
  * ~0.1–0.2 s/job scheduler floor × jobs/model is the dominant term of
  * the gate-graded `total_small`, so a plan regression that adds a job
  * (a lost broadcast, an extra eager subquery, an AQE re-plan) must
  * fail TESTS here instead of surfacing as bench noise two rounds
  * later. Counts are pinned under the exact bench micro-suite profile
  * (local, shuffle.partitions=1, AQE off): if a legitimate plan change
  * moves a count DOWN, update the pin and BASELINE.md's footnote
  * together; a count moving UP is the regression this spec exists to
  * catch. */
class GoldJobFloorSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.01"

  // the exact bench-gate profile: single partition, AQE off (at sf0.01
  // AQE's per-query-stage materialization is one job of pure scheduler
  // floor per exchange; classic execution runs each model as one
  // multi-stage job plus its broadcast builds — see Bench.scala's
  // small-pass methodology comment)
  private val benchConf =
    Map("spark.sql.shuffle.partitions" -> "1", "spark.sql.adaptive.enabled" -> "false")
  private var priorConf = Map.empty[String, String]

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    priorConf = benchConf.map { case (k, _) => k -> spark.conf.get(k) }
    benchConf.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  override protected def afterAll(): Unit = {
    priorConf.foreach { case (k, v) => spark.conf.set(k, v) }
    super.afterAll()
  }

  private def jobsOf(name: String): Int = GoldJobFloorSpec.jobsOf(spark, sf, name)

  // the pinned floors — BASELINE.md "Per-model job-count floors";
  // the single source of truth lives in main scope (GoldAnalogs) so
  // Bench can emit the per-model floor product in its artifact
  private val floors = graft.operators.GoldAnalogs.jobFloors

  graft.operators.GoldAnalogs.all.map(_.name).foreach { name =>
    test(s"$name: job count at its pinned floor") {
      val floor = floors.getOrElse(name,
        fail(s"no pinned floor for $name — add it here and in BASELINE.md"))
      val got = jobsOf(name); info(s"$name jobs=$got")
      assert(got <= floor,
        s"$name launched $got jobs (pinned floor $floor) — a plan " +
          "regression added scheduler work the sf0.01 bench gate pays for")
    }
  }

  /** The profile-tuning claim the bench rests on, proven mechanically:
    * the bench profile (1 partition, AQE off) and the cluster profile
    * (32-way, AQE on, broadcasts on) produce BIT-IDENTICAL gold rows —
    * doubles compared through their exact bit patterns. If a future
    * Spark version or profile knob ever made the fast profile change a
    * result, this fails before the bench records a tainted number. */
  test("gold results are bit-identical across the bench and cluster profiles") {
    def image(df: org.apache.spark.sql.DataFrame): Seq[String] = df
      .collect()
      .map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToLongBits(d).toString
        case f: Float => java.lang.Float.floatToIntBits(f).toString
        case other => String.valueOf(other)
      }.mkString(" "))
      .sorted.toSeq
    graft.operators.GoldAnalogs.all.map(_.name).foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val benchProfile = image(fn(spark, sf)) // this session IS the bench profile
      val clusterProfile = withConf(
          "spark.sql.shuffle.partitions" -> "32", "spark.sql.adaptive.enabled" -> "true") {
        image(fn(spark, sf))
      }
      assert(benchProfile === clusterProfile,
        s"$name differs between the bench and cluster profiles")
      assert(benchProfile.nonEmpty, s"$name returned no rows at $sf")
    }
  }
}

object GoldJobFloorSpec {

  /** Jobs launched by one full materialization of query `name` (the
    * same noop-sink action Bench times). A first throwaway run absorbs
    * one-time work (codegen, file listing) so the count is the
    * steady-state one the bench's min-of-N passes measure. Shared by
    * both job-floor specs. */
  def jobsOf(spark: SparkSession, sf: String, name: String): Int = {
    val fn = graft.SparkEntry.queries(name)
    fn(spark, sf).write.format("noop").mode("overwrite").save() // warm
    jobsOf(spark)(fn(spark, sf).write.format("noop").mode("overwrite").save())
  }

  /** Jobs launched while `action` runs. */
  def jobsOf(spark: SparkSession)(action: => Unit): Int = {
    val n = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      // listener delivery is async; the bus has no public drain — a
      // bounded poll is enough (job starts are enqueued before the
      // action returns, the sleep only covers dispatch)
      val deadline = System.nanoTime() + 5_000_000_000L
      var last = -1
      while (System.nanoTime() < deadline && n.get() != last) {
        last = n.get(); Thread.sleep(100)
      }
      n.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
