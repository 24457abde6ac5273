package e2ebench

import java.io.{File, FileInputStream}

import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.pipeline.NbaPipeline
import graft.sources.Tables

/** One benchmark workload, driven by a single closed-loop client. */
trait Workload {
  /** Make the inputs visible to a fresh session. */
  def setup(spark: SparkSession): Unit

  /** Operations one full pass attempts. */
  def opsPerPass: Int

  /** One full pass; returns the names of the operations that failed. */
  def pass(spark: SparkSession, passNo: Int, tr: Tracer): Seq[String]

  /** Untimed check after a pass; returns failures. */
  def afterPass(spark: SparkSession, passNo: Int): Seq[String] = Nil

  /** Output check, run after the timed passes: returns the operations
    * checked and the names (with reasons) of those that failed. */
  def check(spark: SparkSession): (Int, Seq[String]) = (0, Nil)
}

object Workload {
  /** Registry-consuming `x` queries: graph, near-duplicate pairs and
    * vector code tables. */
  val RegistryIds: Seq[String] = Seq(
    "x136", "x152", "x162", "x165",
    "x33", "x52", "x104",
    "x149", "x155", "x159", "x169", "x172")

  /** Registered query names of the given ids, in the given order. */
  def resolve(ids: Seq[String]): Seq[String] = {
    val names = SparkEntry.queries.keys.toSeq
    ids.map { id =>
      names.filter(_.startsWith(id + "_")) match {
        case Seq(n) => n
        case other => sys.error(s"query id $id matches ${other.size} registered queries")
      }
    }
  }

  def apply(name: String, data: String, work: String, seed: Long): Workload = name match {
    case "nba-medallion" => new NbaWorkload(data, work)
    case "registry-serve" => new QueryWorkload(resolve(RegistryIds), data, work, seed)
    case other => sys.error(s"unknown workload $other")
  }
}

/** Registered queries over one data directory, each result collected to
  * the client as a serving client would; the seed permutes the query order
  * of every pass. Every later pass must deliver the cold pass's results
  * (same row count and order-independent row hash); the check writes the
  * last pass's results as parquet under `work/out/<query>`, where run.py
  * compares them with the DuckDB oracle. */
final class QueryWorkload(names: Seq[String], dir: String, work: String, seed: Long)
    extends Workload {
  private val queries = SparkEntry.queries
  private var delivered = Map.empty[String, (DataFrame, Array[Row])]
  private var cold = Map.empty[String, (Int, Int)]

  def setup(spark: SparkSession): Unit = Tables(spark, dir).registerAll()

  def opsPerPass: Int = names.size

  def pass(spark: SparkSession, passNo: Int, tr: Tracer): Seq[String] = {
    delivered = Map.empty
    new Random(seed * 1000003L + passNo).shuffle(names).flatMap { n =>
      try {
        tr.span(n) {
          val df = tr.span("construct")(queries(n)(spark, dir))
          delivered += n -> ((df, tr.span("exec")(df.collect())))
        }
        None
      } catch {
        case NonFatal(e) => Some(s"$n: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
  }

  override def afterPass(spark: SparkSession, passNo: Int): Seq[String] = {
    val prints = delivered.map { case (n, (_, rows)) => n -> ((rows.length, rows.map(_.hashCode).sum)) }
    if (passNo == 0) { cold = prints; Nil }
    else prints.toSeq.sortBy(_._1).collect {
      case (n, p) if cold.get(n).exists(_ != p) =>
        s"$n: pass $passNo delivered (rows, hash) $p, the cold pass ${cold(n)}"
    }
  }

  /** Writes the last pass's results and, in `oracle_sql.json`, the oracle
    * SQL of every query of the workload, in the layout
    * tools/check_oracle.py reads; run.py runs that comparison. A query
    * with no result or no oracle SQL fails it. */
  override def check(spark: SparkSession): (Int, Seq[String]) = {
    delivered.foreach { case (n, (df, rows)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.parquet(s"$work/out/$n")
    }
    delivered = Map.empty
    new File(s"$work/out").mkdirs()
    val sql = SparkEntry.oracleSql
    val entries = names.map(n => s"${Json.str(n)}: ${sql.get(n).map(Json.str).getOrElse("null")}")
    val out = new java.io.PrintWriter(new File(s"$work/out/oracle_sql.json"), "UTF-8")
    try out.println(entries.mkString("{\n", ",\n", "\n}")) finally out.close()
    (0, Nil)
  }
}

/** The paper's pipeline: bronze JSON → silver → six gold tables, gold
  * written as files and as catalog tables, dashboard reads over `gold.*`,
  * then the 12 schema assertions. */
final class NbaWorkload(bronze: String, work: String) extends Workload {
  private val tables = Seq("teams", "players", "games", "player_stats_by_game",
    "salaries", "free_agents", "injuries")

  /** Dashboard reads a BI client makes over the gold tables. */
  private val dashboard = Seq(
    "SELECT season, team_name, wins, losses, team_ranking FROM gold.summary_by_season " +
      "WHERE team_name = 'San Antonio Spurs' ORDER BY season",
    "SELECT location, sum(wins) AS wins, sum(games) AS games, avg(avg_points) AS pts " +
      "FROM gold.home_vs_away GROUP BY location ORDER BY location",
    "SELECT season2, resultado, count(*) AS n FROM gold.team_weaknesses_unpivoted " +
      "GROUP BY season2, resultado ORDER BY season2, resultado",
    "SELECT rubro, max(valor) AS best FROM gold.spurs_player_contributions_unpivoted " +
      "GROUP BY rubro ORDER BY rubro",
    "SELECT season2, weakness_type, recommended_player, salary FROM gold.players_recommendations " +
      "WHERE NOT is_injured ORDER BY season2, weakness_type, player_id")

  def setup(spark: SparkSession): Unit =
    tables.foreach { t =>
      require(new File(s"$bronze/$t.json").isFile, s"missing bronze input $t.json")
    }

  def opsPerPass: Int = 1

  def pass(spark: SparkSession, passNo: Int, tr: Tracer): Seq[String] =
    try {
      val p = NbaPipeline(spark, bronze)
      tr.span("pipeline.bronze_silver")(p.silver.values.foreach(_.schema))
      tr.span("pipeline.gold_write")(p.writeGold(s"$work/gold"))
      tr.span("pipeline.tables_save")(p.saveAsTables(s"$work/tables"))
      tr.span("pipeline.bi_read")(dashboard.foreach(spark.sql(_).collect()))
      tr.span("pipeline.assert")(p.assertGold()) match {
        case Seq() => Nil
        case failures => Seq(s"pipeline pass $passNo: assertions failed: ${failures.mkString("; ")}")
      }
    } catch {
      case NonFatal(e) =>
        Seq(s"pipeline pass $passNo: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  /** Gold row counts, in the catalog and in the written files, against
    * the counts the generator derived from the bronze it wrote. */
  override def check(spark: SparkSession): (Int, Seq[String]) = {
    val expected = new java.util.Properties
    val in = new FileInputStream(s"$bronze/expected_counts.properties")
    try expected.load(in) finally in.close()
    val names = expected.stringPropertyNames().toArray(Array.empty[String]).sorted.toSeq
    require(names.size == 6, s"expected counts for 6 gold tables, got ${names.size}")
    val failed = names.flatMap { t =>
      val want = expected.getProperty(t).trim.toLong
      def rows(df: => DataFrame): Either[String, Long] =
        try Right(df.count()) catch { case NonFatal(e) => Left(e.getMessage) }
      Seq("table" -> rows(spark.table(s"gold.$t")),
          "files" -> rows(spark.read.parquet(s"$work/gold/$t"))).collect {
        case (where, Right(n)) if n != want => s"gold.$t ($where): $n rows, expected $want"
        case (where, Left(err)) => s"gold.$t ($where): $err"
      }
    }
    (names.size, failed)
  }
}
