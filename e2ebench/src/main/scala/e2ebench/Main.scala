package e2ebench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *  1. set up: a SparkContext and session with the inputs registered,
  *     timed from JVM start;
  *  2. the cold pass: the first full pass in that fresh session;
  *  3. warm passes in the same session until `--seconds` have passed,
  *     at least one (three in a traced run);
  *  4. the workload's output check, outside every timed pass (run.py
  *     compares the query results it writes with the DuckDB oracle);
  *  5. heap retained after forced GC, then a scheduler-floor probe.
  *
  * With `--trace 1` the cold pass and every other warm pass are traced;
  * the untraced warm passes around them give the tracing overhead. The result is one
  * JSON object written to `--out`.
  *
  * Usage: `e2ebench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --cores N --out FILE`.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val (data, work, cores) = (args("data"), args("work"), args("cores").toInt)
    val workload = Workload(workloadName, data, work, seed)

    val spark = session(cores, work)
    workload.setup(spark)
    val setUp = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val tracer = if (traced) Some(new SpanTracer(spark)) else None
    val tr = tracer.getOrElse(Tracer.Off)
    val failures = ArrayBuffer[String]()
    var attempted = 0L
    var passNo = 0
    def timedPass(name: String, on: Boolean): (Double, Long) = {
      tr.setEnabled(on)
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      failures ++= tr.span(name)(workload.pass(spark, passNo, tr))
      val dt = (System.nanoTime() - t0) / 1e9
      val gc = gcMillis() - gc0
      tr.setEnabled(false)
      failures ++= workload.afterPass(spark, passNo)
      attempted += workload.opsPerPass
      passNo += 1
      (dt, gc)
    }

    val (cold, _) = timedPass("pass.cold", on = true)
    // Warm passes. A traced run alternates untraced and traced passes and
    // ends on an untraced one, so each traced pass sits between two
    // untraced ones.
    val warm = ArrayBuffer[(Double, Long, Boolean)]()
    val minWarm = if (traced) 3 else 1
    while (warm.size < minWarm || warm.map(_._1).sum < seconds ||
        (traced && warm.size % 2 == 0)) {
      val on = traced && warm.size % 2 == 1
      val (dt, gc) = timedPass(if (on) "pass.warm" else "pass.warm.untraced", on)
      warm += ((dt, gc, on))
    }

    val storage = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    val pinnedMb = storage.map(r => r.memSize + r.diskSize).sum / 1048576.0
    val checkStart = System.nanoTime()
    val (checked, checkFailures) = workload.check(spark)
    val checkSeconds = (System.nanoTime() - checkStart) / 1e9
    attempted += checked
    failures ++= checkFailures

    val retainedMb = heapAfterGc()
    (1 to 3).foreach(_ => spark.range(1).count())
    val floor = median((1 to 9).map { _ =>
      val t = System.nanoTime(); spark.range(1).count(); (System.nanoTime() - t) / 1e9
    })

    val untracedWarm = warm.filter(!_._3).map(_._1)
    val metrics = ArrayBuffer[(String, Double)](
      "setup_s" -> setUp,
      "cold_pass_s" -> cold,
      "warm_pass_s" -> median(untracedWarm.toSeq),
      "retained_mb" -> retainedMb,
      "spark.sched_floor_s" -> floor)
    tracer.foreach { t =>
      metrics ++= Layers(t.finish(), cores, warm.toSeq, pinnedMb, storage.length,
        work, workloadName, seed)
    }
    spark.stop()

    val out = new PrintWriter(new File(args("out")), "UTF-8")
    try {
      out.println("{")
      out.println(s"""  "attempted": $attempted, "failed": ${failures.size},""")
      out.println(s"""  "failures": [${failures.map(Json.str).mkString(", ")}],""")
      out.println(s"""  "warm_passes": [${warm.map(_._1).mkString(", ")}],""")
      out.println(s"""  "check_s": $checkSeconds,""")
      out.println(s"""  "metrics": {${metrics.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString(", ")}}""")
      out.println("}")
    } finally out.close()
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("e2ebench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Heap used once forced collections stop freeing memory: blocks of
    * unreachable pinned frames are released by Spark's cleaner thread
    * after a collection finds them, so one collection is not enough. */
  def heapAfterGc(): Double = {
    def used(): Double = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var (last, now, rounds) = (Double.MaxValue, used(), 1)
    while (last - now > 1.0 && rounds < 8) { last = now; now = used(); rounds += 1 }
    now
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
