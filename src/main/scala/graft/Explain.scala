package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan inspector:
  * `SPARK_GRAFT_CPUS=8 runMain graft.Explain <queryName> [sfDir] [mode]`.
  * Prints the Catalyst plan (formatted mode by default) plus a parquet
  * scan count — the fast check that a query reads the fact table the
  * expected number of times and that filters/pruning reached the scan.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val mode = if (args.length > 2) args(2) else "formatted"
    val spark = Sessions.local(Sessions.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.queries(name)(spark, sfDir)
    val p = df.queryExecution.explainString(ExplainMode.fromString(mode))
    // count scans in the plan tree only (the details section repeats them)
    val scans = p.linesIterator.count(l => l.contains("Scan parquet") && l.contains("+-"))
    println(s"== parquet scans in plan tree: $scans ==")
    println(p)
    spark.stop()
  }
}
