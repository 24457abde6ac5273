package graft

import graft.sources.Tables

/** Ad-hoc SQL entry point:
  * `SPARK_GRAFT_CPUS=8 runMain graft.Sql "<query>" [sfDir]`
  * Registers the testdata tables as views plus the engine's native
  * functions (float_vec_dot, poly_hash) and runs the query — the
  * "switch your SQL client to this engine" surface (pair with
  * `NbaPipeline.saveAsTables` for the silver./gold. catalog).
  */
object Sql {
  def main(args: Array[String]): Unit = {
    val query = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = Sessions.local(Sessions.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    Tables(spark, sfDir).registerAll()
    graft.functions.VectorExpressions.ensureRegistered(spark)
    graft.functions.PolyHashFunctions.ensureRegistered(spark)
    spark.sql(query).show(100, truncate = false)
    spark.stop()
  }
}
