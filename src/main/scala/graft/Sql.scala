package graft

import graft.sources.Tables

/** Ad-hoc SQL entry point:
  * `SPARK_GRAFT_CPUS=8 runMain graft.Sql "<query>" [sfDir]`
  * Registers the testdata tables as views and runs the query — the
  * "switch your SQL client to this engine" surface (pair with
  * `NbaPipeline.saveAsTables` for the silver./gold. catalog). The
  * engine's native functions (float_vec_dot, poly_hash, ...) come with
  * the session: `Sessions.local` sets
  * `spark.sql.extensions=graft.GraftExtensions`, and any other SQL client
  * gets them with the same conf.
  */
object Sql {
  def main(args: Array[String]): Unit = {
    val query = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = Sessions.local(Sessions.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    Tables(spark, sfDir).registerAll()
    spark.sql(query).show(100, truncate = false)
    spark.stop()
  }
}
