package graft

import org.apache.spark.sql.SparkSession

/** The one session profile every main and spec runs under:
  *  - `local[cores]` with `spark.sql.shuffle.partitions = cores`;
  *  - [[GraftExtensions]] (native functions + `LimbSumRewrite`), so the
  *    plan `Explain` prints is the plan `Verify` and `Bench` run;
  *  - AQE on, session timezone UTC, UI off.
  *
  * Per-read decode confs are not part of the profile: `Tables.events`
  * owns `spark.sql.legacy.parquet.nanosAsLong` and sets it on first read.
  *
  * `getOrCreate` semantics: in a JVM that already has a session (the
  * forked test JVM), the runtime confs above are re-applied to it and
  * the create-time ones (master, extensions) stay as first built —
  * which is this same profile when every caller goes through here.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, the core count every main runs at (default 4).
    * Set it on every invocation: the recorded `Bench` artifacts ran at 32
    * and the recorded `Explain` plans at 8. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4) { s =>
    s.toIntOption.filter(_ >= 1).getOrElse(sys.error(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
  }

  def local(cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("graft")
    .config("spark.sql.extensions", classOf[GraftExtensions].getName)
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
