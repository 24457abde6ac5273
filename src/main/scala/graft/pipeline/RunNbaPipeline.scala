package graft.pipeline

/** CLI entry for the NBA-parity pipeline (the reference DAG end-to-end):
  * `runMain graft.pipeline.RunNbaPipeline <bronzeJsonDir> <goldOutDir>`
  * Reads the seven bronze JSON files, builds silver + gold, writes gold
  * parquet, runs the 12 dbt-equivalent assertions, prints a summary.
  * Exits non-zero if any assertion fails.
  */
object RunNbaPipeline {
  def main(args: Array[String]): Unit = {
    val Array(bronzeDir, outDir) = args
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    spark.sparkContext.setLogLevel("WARN")
    val pipe = NbaPipeline(spark, bronzeDir)
    pipe.writeGold(outDir)
    pipe.gold.foreach { case (name, df) =>
      println(s"[gold] $name: ${spark.read.parquet(s"$outDir/$name").count()} rows")
    }
    // E3: expose silver/gold as a SQL schema and smoke a BI-style query
    pipe.saveAsTables(s"$outDir/warehouse")
    val champs = spark.sql(
      "SELECT season, team_name FROM gold.summary_by_season WHERE team_ranking = 1")
    println(s"[sql] champions: ${champs.collect().map(r => r.mkString("/")).mkString(", ")}")
    val failures = pipe.assertGold()
    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"[assert-fail] $f"))
      spark.stop()
      sys.exit(1)
    }
    println("[assertions] 12/12 green")
    spark.stop()
  }
}
