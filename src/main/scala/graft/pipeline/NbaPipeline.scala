package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.pipeline.GoldModels._
import graft.plans.Pin
import graft.sources.{HttpJsonSource, Sinks}

/** End-to-end pipeline mirroring the reference DAG (E1 in SURVEY.md §3):
  * bronze JSON fixtures → silver all-string tables → six gold models →
  * dbt-equivalent assertions. One SparkSession program replaces the
  * Airflow bronze/silver task groups and the dbt run; `ref()` becomes
  * ordinary function composition.
  *
  * Each layer is built once per instance: `silver` reads each bronze
  * file once and pins it ([[graft.plans.Pin.pin]]), `gold` is computed
  * from pinned silver and pinned in turn. The file writes, the catalog
  * tables and the dbt checks all read those pins, never the JSON.
  */
final case class NbaPipeline(
    spark: SparkSession,
    bronzeDir: String,
    httpSources: Map[String, String] = Map.empty,
    httpSleeper: Long => Unit = Thread.sleep) {

  /** Bronze read — fixture file by default; a table listed in
    * `httpSources` is fetched live through the S4 retrying HTTP source
    * instead (reference: the weekly DAG hits the NBA API with
    * tenacity backoff ×5 and a rate-limit pause before anything lands
    * in bronze — dags/spurs_historic_games.py:125,138). Both paths
    * parse identically (HttpJsonSourceSpec pins row-for-row parity). */
  private def bronze(name: String): DataFrame =
    httpSources.get(name) match {
      case Some(url) => HttpJsonSource.readJson(spark, url, sleeper = httpSleeper)
      case None => spark.read.option("multiLine", value = true).json(s"$bronzeDir/$name.json")
    }

  /** Seven silver tables (dags/spurs_historic_games.py:427-435), all
    * columns StringType; bronze `player_stats_by_game` is `player_stats`. */
  lazy val silver: Map[String, DataFrame] = Seq("teams", "players", "games",
      "player_stats_by_game", "salaries", "free_agents", "injuries").map { file =>
    file.stripSuffix("_by_game") -> Pin.pin(SilverNormalize.normalize(bronze(file)))
  }.toMap

  /** Six gold tables in dependency order, each pinned once;
    * `players_recommendations` consumes the pinned
    * `team_weaknesses_unpivoted` (the one model-on-model edge,
    * dbt/target/graph_summary.json). */
  lazy val gold: Map[String, DataFrame] = {
    val (games, teams) = (silver("games"), silver("teams"))
    val twu = Pin.pin(teamWeaknessesUnpivoted(games, teams))
    Map(
      "team_weaknesses_unpivoted" -> twu,
      "summary_by_season" -> Pin.pin(summaryBySeason(games, teams)),
      "home_vs_away" -> Pin.pin(homeVsAway(games, teams)),
      "spurs_player_contributions_unpivoted" ->
        Pin.pin(spursPlayerContributionsUnpivoted(silver("player_stats"))),
      "streaks_and_rivals" -> Pin.pin(streaksAndRivals(games)),
      "players_recommendations" -> Pin.pin(playersRecommendations(twu, silver("players"),
        silver("player_stats"), silver("free_agents"), silver("injuries"), silver("salaries")))
    )
  }

  /** Materialize gold as parquet, one swap-write per table (the
    * reference's CTAS-and-rename, S11). */
  def writeGold(outDir: String): Unit =
    gold.foreach { case (name, df) => Sinks.writeSwapped(df, s"$outDir/$name") }

  /** The 12 dbt schema tests; empty result = green. */
  def assertGold(): Seq[String] = Assertions.runAll(gold)

  /** E3 parity (SURVEY.md §3): expose silver/gold as catalog tables so
    * any SQL client (spark.sql, Thrift server/BI) can query them —
    * external parquet tables under `baseDir`, databases `silver`/`gold`,
    * each (re)created over files swap-written as in [[writeGold]]. */
  def saveAsTables(baseDir: String): Unit =
    Seq("silver" -> silver, "gold" -> gold).foreach { case (db, tables) =>
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      tables.foreach { case (name, df) =>
        val path = s"$baseDir/$db/$name"
        Sinks.writeSwapped(df, path)
        spark.sql(s"DROP TABLE IF EXISTS $db.$name")
        // the schema parquet inference would give, without its job
        val schema = StructType(df.schema.map(_.copy(nullable = true)))
        spark.catalog.createTable(s"$db.$name", "parquet", schema, Map("path" -> path))
      }
    }
}
