package graft.pipeline

import GoldModels.{recBranches, weaknessMetrics}

/** The six gold models as ANSI SQL text over the `silver.`/`gold.`
  * catalog databases ([[NbaPipeline.saveAsTables]]) — the E3 serving
  * surface: what a BI client (the reference serves Superset over its
  * gold schema) or a `graft.Sql` user actually sends. Each statement is
  * the SQL twin of its [[GoldModels]] DataFrame function, kept
  * value-identical (same cast discipline, same aggregate shapes) so the
  * two surfaces are interchangeable; SqlSurfaceSpec pins the equality
  * with GraftExtensions' optimizer rules active.
  *
  * `players_recommendations` reads `gold.team_weaknesses_unpivoted` —
  * the reference's one model-on-model `ref()`
  * (dbt/models/spurs_analysis/players_recommendations.sql:3-9).
  */
object GoldModelsSql {

  private val seasonNorm =
    "CASE WHEN season = '2024' THEN '2024-25' ELSE season END"

  /** AVG under the Postgres-numeric contract: decimal(18,6), exact. */
  private def avg6(c: String) = s"AVG(CAST($c AS DECIMAL(18,6)))"

  val summaryBySeason: String =
    s"""WITH nba AS (
       |  SELECT $seasonNorm AS season, g.team_name, g.wl, CAST(g.pts AS INT) AS pts
       |  FROM silver.games g JOIN silver.teams t ON g.team_id = t.id
       |), sumariza AS (
       |  SELECT season, team_name, COUNT(*) AS total_games,
       |         SUM(CASE WHEN wl = 'W' THEN 1 ELSE 0 END) AS wins,
       |         SUM(CASE WHEN wl = 'L' THEN 1 ELSE 0 END) AS losses,
       |         ROUND(${avg6("pts")}, 2) AS avg_points
       |  FROM nba GROUP BY season, team_name
       |)
       |SELECT season, team_name, wins, losses, total_games, avg_points,
       |       DENSE_RANK() OVER (PARTITION BY season
       |         ORDER BY wins DESC, losses ASC, avg_points DESC) AS team_ranking
       |FROM sumariza""".stripMargin

  val homeVsAway: String =
    s"""WITH base AS (
       |  SELECT $seasonNorm AS season, t.full_name AS team_name,
       |         CASE WHEN g.matchup LIKE '%@%' THEN 'Away' ELSE 'Home' END AS location,
       |         g.wl, CAST(g.pts AS INT) AS pts
       |  FROM silver.games g JOIN silver.teams t ON g.team_id = t.id
       |)
       |SELECT season, team_name, location, COUNT(*) AS games,
       |       SUM(CASE WHEN wl = 'W' THEN 1 ELSE 0 END) AS wins,
       |       SUM(CASE WHEN wl = 'L' THEN 1 ELSE 0 END) AS losses,
       |       ROUND(${avg6("pts")}, 2) AS avg_points
       |FROM base GROUP BY season, team_name, location""".stripMargin

  val teamWeaknessesUnpivoted: String = {
    def avgs(prefix: String) =
      weaknessMetrics.map { case (_, c, _) => s"${avg6(c)} AS $prefix$c" }.mkString(", ")
    val bests = weaknessMetrics.map { case (_, c, lower) =>
      s"${if (lower) "MIN" else "MAX"}(avg_$c) AS best_$c"
    }.mkString(", ")
    val branches = weaknessMetrics.map { case (label, c, lower) =>
      val cond = if (lower) s"avg_$c > lg_$c" else s"avg_$c < lg_$c"
      s"""SELECT season2, '$label' AS weakness_type, avg_$c AS valor_equipo,
         |       lg_$c AS valor_liga, best_$c AS valor_mejor_equipo,
         |       CASE WHEN $cond THEN 'Debilidad' ELSE 'Fortaleza' END AS resultado
         |FROM all_joined""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH with_season AS (
       |  SELECT *, $seasonNorm AS season2 FROM silver.games
       |), spurs_stats AS (
       |  SELECT season2, ${avgs("avg_")}
       |  FROM with_season WHERE team_name = 'San Antonio Spurs' GROUP BY season2
       |), joined AS (
       |  SELECT w.* FROM with_season w JOIN silver.teams t ON w.team_id = t.id
       |), league_avgs AS (
       |  SELECT season2, ${avgs("lg_")} FROM joined GROUP BY season2
       |), per_team AS (
       |  SELECT season2, team_name, ${avgs("avg_")} FROM joined GROUP BY season2, team_name
       |), best AS (
       |  SELECT season2, $bests FROM per_team GROUP BY season2
       |), all_joined AS (
       |  SELECT s.*, ${weaknessMetrics.map { case (_, c, _) => s"l.lg_$c" }.mkString(", ")},
       |         ${weaknessMetrics.map { case (_, c, _) => s"b.best_$c" }.mkString(", ")}
       |  FROM spurs_stats s
       |  JOIN league_avgs l ON s.season2 = l.season2
       |  JOIN best b ON s.season2 = b.season2
       |)
       |$branches""".stripMargin
  }

  val spursPlayerContributionsUnpivoted: String = {
    val metrics = weaknessMetrics.map { case (label, c, _) => (label, c) }
    val avgs = metrics.map { case (_, c) => s"${avg6(c)} AS avg_$c" }.mkString(", ")
    val branches = metrics.map { case (label, c) =>
      s"SELECT player_id, player_name, '$label' AS rubro, avg_$c AS valor FROM src"
    }.mkString("\nUNION ALL\n")
    s"""WITH src AS (
       |  SELECT player_id, player_name, team_abbreviation, $avgs
       |  FROM silver.player_stats WHERE team_abbreviation = 'SAS'
       |  GROUP BY player_id, player_name, team_abbreviation
       |)
       |$branches""".stripMargin
  }

  val streaksAndRivals: String = {
    val opponent =
      """CASE WHEN matchup LIKE '%vs.%' THEN SPLIT_PART(matchup, 'vs. ', 2)
        |     WHEN matchup LIKE '%@%' THEN SPLIT_PART(matchup, '@ ', 2)
        |     ELSE matchup END""".stripMargin
    s"""WITH spurs_games AS (
       |  SELECT $seasonNorm AS season, game_date, matchup,
       |         CAST(plus_minus AS DOUBLE) AS plus_minus,
       |         CASE WHEN wl = 'W' THEN 1 ELSE 0 END AS is_win,
       |         CASE WHEN wl = 'L' THEN 1 ELSE 0 END AS is_loss
       |  FROM silver.games WHERE team_abbreviation = 'SAS'
       |), islands AS (
       |  SELECT *, SUM(is_loss) OVER (ORDER BY game_date) AS loss_group,
       |            SUM(is_win) OVER (ORDER BY game_date) AS win_group
       |  FROM spurs_games
       |), bws AS (
       |  SELECT FIRST(season) AS best_winning_streak_season,
       |         FIRST(streak_length) AS best_winning_streak_length
       |  FROM (SELECT season, COUNT(*) AS streak_length FROM islands
       |        WHERE is_win = 1 GROUP BY season, loss_group
       |        ORDER BY streak_length DESC LIMIT 1)
       |), wls AS (
       |  SELECT FIRST(season) AS worst_losing_streak_season,
       |         FIRST(streak_length) AS worst_losing_streak_length
       |  FROM (SELECT season, COUNT(*) AS streak_length FROM islands
       |        WHERE is_loss = 1 GROUP BY season, win_group
       |        ORDER BY streak_length DESC LIMIT 1)
       |), bw AS (
       |  SELECT FIRST(season) AS biggest_win_season,
       |         FIRST(opponent) AS team_beat_by_most,
       |         FIRST(point_differential) AS biggest_win_margin
       |  FROM (SELECT season, $opponent AS opponent, plus_minus AS point_differential
       |        FROM spurs_games
       |        WHERE plus_minus = (SELECT MAX(plus_minus) FROM spurs_games)
       |        ORDER BY point_differential DESC LIMIT 1)
       |), bl AS (
       |  SELECT FIRST(season) AS biggest_loss_season,
       |         FIRST(opponent) AS team_lost_to_by_most,
       |         FIRST(point_differential) AS biggest_loss_margin
       |  FROM (SELECT season, $opponent AS opponent, plus_minus AS point_differential
       |        FROM spurs_games
       |        WHERE plus_minus = (SELECT MIN(plus_minus) FROM spurs_games)
       |        ORDER BY point_differential ASC LIMIT 1)
       |)
       |SELECT * FROM bws CROSS JOIN wls CROSS JOIN bw CROSS JOIN bl""".stripMargin
  }

  val playersRecommendations: String = {
    val statCols = Seq("fg_pct", "fg3_pct", "reb", "tov", "stl", "blk", "plus_minus")
    val pgsAvgs = statCols.map(c => s"${avg6(c)} AS avg_$c").mkString(", ")
    val rankCols = recBranches.map { case (_, avgCol, asc, _, _) =>
      s"ROW_NUMBER() OVER (ORDER BY $avgCol ${if (asc) "ASC" else "DESC"}) AS rank_$avgCol"
    }.mkString(", ")
    val branches = recBranches.map { case (label, avgCol, _, positions, reason) =>
      val posPred =
        if (positions.isEmpty) ""
        else s" AND position IN (${positions.map(p => s"'$p'").mkString(", ")})"
      s"""SELECT '$label' AS weakness_type, player_id, is_free_agent, is_injured,
         |       player_name, $avgCol AS metric_value, position, salary, '$reason' AS reason
         |FROM ranked WHERE rank_$avgCol <= 5$posPred""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH weak AS (
       |  SELECT season2, weakness_type FROM gold.team_weaknesses_unpivoted
       |  WHERE resultado = 'Debilidad'
       |), pgs AS (
       |  SELECT player_id, player_name AS pgs_player_name, $pgsAvgs
       |  FROM silver.player_stats GROUP BY player_id, player_name
       |), dp AS (
       |  SELECT DISTINCT player_id, player, position FROM silver.players
       |), sal AS (
       |  SELECT player_id, MAX(salary_usd) AS salary_usd
       |  FROM silver.salaries GROUP BY player_id
       |), inj AS (
       |  SELECT DISTINCT player_id FROM silver.injuries
       |), ranked AS (
       |  SELECT dp.player_id, dp.player AS player_name, dp.position,
       |         fa.player_id IS NOT NULL AS is_free_agent,
       |         inj.player_id IS NOT NULL AS is_injured,
       |         CAST(sal.salary_usd AS DECIMAL(18,6)) AS salary,
       |         ${statCols.map(c => s"pgs.avg_$c").mkString(", ")},
       |         $rankCols
       |  FROM dp
       |  JOIN pgs ON dp.player_id = pgs.player_id
       |  LEFT JOIN silver.free_agents fa ON dp.player_id = fa.player_id
       |  LEFT JOIN inj ON dp.player_id = inj.player_id
       |  LEFT JOIN sal ON dp.player_id = sal.player_id
       |), targets AS (
       |$branches
       |)
       |SELECT w.season2, t.weakness_type, t.player_name AS recommended_player,
       |       t.position, t.metric_value, t.salary, t.reason,
       |       t.player_id, t.is_free_agent, t.is_injured
       |FROM weak w JOIN targets t ON w.weakness_type = t.weakness_type""".stripMargin
  }

  /** Name → SQL, in NbaPipeline.gold's table-name vocabulary. */
  val all: Map[String, String] = Map(
    "summary_by_season" -> summaryBySeason,
    "home_vs_away" -> homeVsAway,
    "team_weaknesses_unpivoted" -> teamWeaknessesUnpivoted,
    "spurs_player_contributions_unpivoted" -> spursPlayerContributionsUnpivoted,
    "streaks_and_rivals" -> streaksAndRivals,
    "players_recommendations" -> playersRecommendations
  )
}
