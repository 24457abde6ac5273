package e2ebench

import java.io.{File, PrintWriter}

/** Per-layer metrics of a traced run, derived from its spans. Unless
  * named otherwise, a metric is the median over the traced warm passes
  * of its per-pass value; a layer a workload does not touch reads 0. */
object Layers {
  private val MB = 1048576.0

  def apply(
      all: Seq[(Span, Counts, Double)],
      cores: Int,
      warmPasses: Seq[(Double, Long, Boolean)],
      pinnedMb: Double,
      pinnedFrames: Int,
      work: String,
      workload: String,
      seed: Long): Seq[(String, Double)] = {
    val byId = all.map(t => t._1.id -> t).toMap
    val kids = all.groupBy(_._1.parent)
    def below(id: Int): Seq[(Span, Counts, Double)] =
      kids.getOrElse(id, Nil).flatMap(k => k +: below(k._1.id))
    def total(id: Int): Counts = {
      val c = new Counts
      (byId(id) +: below(id)).foreach(t => c.add(t._2))
      c
    }
    def seconds(pass: Int, name: String): Double =
      below(pass).filter(_._1.name == name).map(_._1.seconds).sum

    val cold = all.find(_._1.name == "pass.cold").get._1
    val warm = all.filter(_._1.name == "pass.warm").map(_._1)
    def med(f: Span => Double): Double = Main.median(warm.map(f))
    def counted(f: Counts => Double): Double = med(p => f(total(p.id)))

    val construct = med(p => seconds(p.id, "construct"))
    val coldConstruct = seconds(cold.id, "construct")
    val assertJobs = med(p =>
      below(p.id).filter(_._1.name == "pipeline.assert").map(t => total(t._1.id).jobs).sum.toDouble)

    dump(all, s"$work/trace-$workload-$seed.tsv")
    Seq(
      "pipeline.bronze_silver_s" -> med(p => seconds(p.id, "pipeline.bronze_silver")),
      "pipeline.gold_write_s" -> med(p => seconds(p.id, "pipeline.gold_write")),
      "pipeline.tables_save_s" -> med(p => seconds(p.id, "pipeline.tables_save")),
      "pipeline.bi_read_s" -> med(p => seconds(p.id, "pipeline.bi_read")),
      "pipeline.assert_s" -> med(p => seconds(p.id, "pipeline.assert")),
      "pipeline.assert_jobs" -> assertJobs,
      "pipeline.json_scans" -> counted(_.jsonScans.toDouble),
      "pipeline.output_mb" -> counted(_.outputBytes / MB),
      "operators.construct_s" -> construct,
      "operators.cold_construct_s" -> coldConstruct,
      "operators.exec_s" -> med(p => seconds(p.id, "exec")),
      "registries.build_s" -> (coldConstruct - construct),
      "registries.pinned_mb" -> pinnedMb,
      "registries.pinned_frames" -> pinnedFrames.toDouble,
      "plans.analysis_ms" -> counted(_.analysisMs.toDouble),
      "plans.optimization_ms" -> counted(_.optimizationMs.toDouble),
      "plans.planning_ms" -> counted(_.planningMs.toDouble),
      "sources.scan_mb" -> counted(_.scanBytes / MB),
      "sources.scan_rows" -> counted(_.scanRows.toDouble),
      "spark.jobs" -> counted(_.jobs.toDouble),
      "spark.tasks" -> counted(_.tasks.toDouble),
      "spark.shuffle_write_mb" -> counted(_.shuffleWriteBytes / MB),
      "spark.spill_mb" -> counted(_.spillBytes / MB),
      "spark.busy_ratio" -> med(p => total(p.id).runMs / 1000.0 / (p.seconds * cores)),
      "jvm.gc_ms" -> Main.median(warmPasses.filter(_._3).map(_._2.toDouble)),
      "trace.pass_self_s" -> Main.median(all.filter(_._1.name == "pass.warm").map(_._3)),
      // Each traced pass against the mean of the untraced passes on either
      // side, which cancels a steady drift of pass times.
      "trace.overhead_pct" -> Main.median(warmPasses.indices.collect {
        case i if warmPasses(i)._3 =>
          (warmPasses(i)._1 / ((warmPasses(i - 1)._1 + warmPasses(i + 1)._1) / 2) - 1) * 100
      }))
  }

  /** Every span with its self time and own counts, one per line, and a
    * per-name summary on stderr. */
  private def dump(all: Seq[(Span, Counts, Double)], path: String): Unit = {
    val t0 = all.map(_._1.startNs).min
    val out = new PrintWriter(new File(path), "UTF-8")
    try {
      out.println("id\tparent\tname\tstart_s\tseconds\tself_s\tjobs\ttasks\trun_ms\t" +
        "scan_bytes\tscan_rows\tshuffle_write_bytes\tspill_bytes\toutput_bytes\t" +
        "analysis_ms\toptimization_ms\tplanning_ms\tjson_scans")
      all.foreach { case (s, c, self) =>
        out.println(Seq(s.id, s.parent, s.name, (s.startNs - t0) / 1e9, s.seconds, self,
          c.jobs, c.tasks, c.runMs, c.scanBytes, c.scanRows, c.shuffleWriteBytes,
          c.spillBytes, c.outputBytes, c.analysisMs, c.optimizationMs, c.planningMs,
          c.jsonScans).mkString("\t"))
      }
    } finally out.close()
    System.err.println("span\tcount\ttotal_s\tself_s")
    all.groupBy { case (s, _, _) =>
      if (s.name.startsWith("pass.") || s.name.startsWith("pipeline.") ||
          s.name == "construct" || s.name == "exec") s.name
      else "query"
    }.toSeq.sortBy(_._1).foreach { case (name, ts) =>
      System.err.println(f"$name\t${ts.size}\t${ts.map(_._1.seconds).sum}%.3f\t${ts.map(_._3).sum}%.3f")
    }
  }
}
