package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The six gold models of the reference, as pure DataFrame → DataFrame
  * functions over the all-string silver tables. Each mirrors its dbt SQL
  * (dbt/models/spurs_analysis/) statement-for-statement, including the
  * byte-exact Spanish labels and reasons that are part of the output
  * contract (SURVEY.md §7.5-5).
  *
  * `::numeric` casts become DecimalType(18,6) (Postgres numeric AVG is
  * exact — SURVEY.md §1.2). Q-1 decision: `plus_minus` extremes are
  * numeric argmax (cast first), not the reference's accidental
  * lexicographic VARCHAR max.
  */
object GoldModels {

  private val num = DecimalType(18, 6)

  /** `CASE WHEN season LIKE '2024' THEN '2024-25' ELSE season END` —
    * wildcard-free LIKE ≡ equality (Q-5). */
  private def seasonNorm(c: Column): Column =
    when(c === "2024", "2024-25").otherwise(c)

  // ---- summary_by_season.sql ------------------------------------------

  def summaryBySeason(games: DataFrame, teams: DataFrame): DataFrame = {
    val nba = games.join(teams, games("team_id") === teams("id"), "inner")
    val base = nba.select(
      seasonNorm(col("season")).as("season"),
      col("team_name"),
      col("wl"),
      col("pts").cast("int").as("pts")
    )
    val sumariza = base
      .groupBy(col("season"), col("team_name"))
      .agg(
        count(lit(1)).as("total_games"),
        sum(when(col("wl") === "W", 1).otherwise(0)).as("wins"),
        sum(when(col("wl") === "L", 1).otherwise(0)).as("losses"),
        round(avg(col("pts").cast(num)), 2).as("avg_points")
      )
    val w = Window
      .partitionBy(col("season"))
      .orderBy(col("wins").desc, col("losses").asc, col("avg_points").desc)
    sumariza.select(
      col("season"), col("team_name"), col("wins"), col("losses"),
      col("total_games"), col("avg_points"),
      dense_rank().over(w).as("team_ranking")
    )
  }

  // ---- home_vs_away.sql -----------------------------------------------

  def homeVsAway(games: DataFrame, teams: DataFrame): DataFrame = {
    val nba = games
      .join(teams, games("team_id") === teams("id"), "inner")
      .withColumn("team_name2", col("full_name"))
    val base = nba.select(
      seasonNorm(col("season")).as("season"),
      col("team_name2").as("team_name"),
      when(col("matchup").like("%@%"), "Away").otherwise("Home").as("location"),
      col("wl"),
      col("pts").cast("int").as("pts")
    )
    base
      .groupBy(col("season"), col("team_name"), col("location"))
      .agg(
        count(lit(1)).as("games"),
        sum(when(col("wl") === "W", 1).otherwise(0)).as("wins"),
        sum(when(col("wl") === "L", 1).otherwise(0)).as("losses"),
        round(avg(col("pts").cast(num)), 2).as("avg_points")
      )
  }

  // ---- team_weaknesses_unpivoted.sql ----------------------------------

  /** (label, silver column, lower-is-better) in the SQL's UNION order —
    * the byte-exact labels GoldModelsSql also reads. */
  private[pipeline] val weaknessMetrics: Seq[(String, String, Boolean)] = Seq(
    ("Porcentaje de tiro de campo", "fg_pct", false),
    ("Porcentaje de tres", "fg3_pct", false),
    ("Pérdidas de balón", "tov", true),
    ("Rebotes", "reb", false),
    ("Robos", "stl", false),
    ("Bloqueos", "blk", false),
    ("Diferencial Puntos", "plus_minus", false)
  )

  def teamWeaknessesUnpivoted(games: DataFrame, teams: DataFrame): DataFrame = {
    def aggs(prefix: String): Seq[Column] =
      weaknessMetrics.map { case (_, c, _) =>
        avg(col(c).cast(num)).as(s"$prefix$c")
      }
    val withSeason = games.withColumn("season2", seasonNorm(col("season")))
    // spurs_stats (sql:4-18) — no teams join, filtered by team_name
    val spursStats = withSeason
      .filter(col("team_name") === "San Antonio Spurs")
      .groupBy("season2")
      .agg(aggs("avg_").head, aggs("avg_").tail: _*)
    // team_averages (sql:20-35) — league-wide, joined to teams
    val joined = withSeason.join(teams, withSeason("team_id") === teams("id"), "inner")
    val leagueAvgs = joined
      .groupBy("season2")
      .agg(aggs("lg_").head, aggs("lg_").tail: _*)
    // best_team_stats (sql:37-65) — per-team AVGs then MAX (MIN for tov)
    val perTeam = joined
      .groupBy(col("season2"), withSeason("team_name"))
      .agg(aggs("avg_").head, aggs("avg_").tail: _*)
    val best = perTeam
      .groupBy("season2")
      .agg(
        weaknessMetrics.map { case (_, c, lower) =>
          (if (lower) min(col(s"avg_$c")) else max(col(s"avg_$c"))).as(s"best_$c")
        }.head,
        weaknessMetrics.map { case (_, c, lower) =>
          (if (lower) min(col(s"avg_$c")) else max(col(s"avg_$c"))).as(s"best_$c")
        }.tail: _*
      )
    val all = spursStats
      .join(leagueAvgs, "season2")
      .join(best, "season2")
    // one-pass unpivot (exploded branch structs) — a 7-way UNION ALL would
    // recompute the aggregate subtree per branch; semantics identical to
    // the reference's UNION ALL (team_weaknesses_unpivoted.sql:67-156)
    all
      .select(col("season2"), explode(array(weaknessMetrics.map {
        case (label, c, lower) =>
          val team = col(s"avg_$c")
          val lg = col(s"lg_$c")
          val cond = if (lower) team > lg else team < lg
          struct(
            lit(label).as("weakness_type"),
            team.as("valor_equipo"),
            lg.as("valor_liga"),
            col(s"best_$c").as("valor_mejor_equipo"),
            when(cond, "Debilidad").otherwise("Fortaleza").as("resultado")
          )
      }: _*)).as("u"))
      .select(col("season2"), col("u.weakness_type"), col("u.valor_equipo"),
        col("u.valor_liga"), col("u.valor_mejor_equipo"), col("u.resultado"))
  }

  // ---- spurs_player_contributions_unpivoted.sql -----------------------

  def spursPlayerContributionsUnpivoted(playerStats: DataFrame): DataFrame = {
    val contribMetrics = weaknessMetrics.map { case (label, c, _) => (label, c) }
    val src = playerStats
      .filter(col("team_abbreviation") === "SAS")
      .groupBy(col("player_id"), col("player_name"), col("team_abbreviation"))
      .agg(
        contribMetrics.map { case (_, c) => avg(col(c).cast(num)).as(s"avg_$c") }.head,
        contribMetrics.map { case (_, c) => avg(col(c).cast(num)).as(s"avg_$c") }.tail: _*
      )
    src
      .select(col("player_id"), col("player_name"),
        explode(array(contribMetrics.map { case (label, c) =>
          struct(lit(label).as("rubro"), col(s"avg_$c").as("valor"))
        }: _*)).as("u"))
      .select(col("player_id"), col("player_name"), col("u.rubro"), col("u.valor"))
  }

  // ---- streaks_and_rivals.sql -----------------------------------------

  def streaksAndRivals(games: DataFrame): DataFrame = {
    val spursGames = games
      .filter(col("team_abbreviation") === "SAS")
      .select(
        seasonNorm(col("season")).as("season"),
        col("game_date"),
        col("matchup"),
        col("plus_minus").cast("double").as("plus_minus"), // Q-1: numeric
        when(col("wl") === "W", 1).otherwise(0).as("is_win"),
        when(col("wl") === "L", 1).otherwise(0).as("is_loss")
      )
    // W1: gaps-and-islands — running sum over game_date (ISO strings order
    // correctly). Unpartitioned, as in the reference; the scale-out variant
    // partitions by season/team first (SURVEY.md §7.4). One window pass
    // carries both running sums.
    val ord = Window.orderBy(col("game_date"))
    val islands = spursGames
      .withColumn("loss_group", sum(col("is_loss")).over(ord))
      .withColumn("win_group", sum(col("is_win")).over(ord))

    // J10: one row from 10 scalar subqueries, assembled in TWO fused
    // aggregation passes (not five separately-planned 1-row subtrees):
    // streak tops via tag → island count → min_by on the composite
    // (-length, season, grp) key, extremes via one min_by pair. The
    // reference leaves ties unordered; the composite keys here resolve
    // them deterministically (lowest season/group, earliest game). A
    // global agg over an empty frame still yields one row of NULLs —
    // the scalar-subquery-on-empty semantics (Q-6).
    val tagged = islands
      .filter(col("is_win") === 1 || col("is_loss") === 1)
      .select(
        when(col("is_win") === 1, lit("W")).otherwise(lit("L")).as("kind"),
        col("season"),
        when(col("is_win") === 1, col("loss_group"))
          .otherwise(col("win_group")).as("grp"))
    val tops = tagged
      .groupBy(col("kind"), col("season"), col("grp"))
      .agg(count(lit(1)).as("streak_length"))
      .groupBy(col("kind"))
      .agg(min_by(
        struct(col("season"), col("streak_length")),
        struct((-col("streak_length")).as("k1"), col("season").as("k2"),
          col("grp").as("k3"))).as("top"))
    val streakRow = tops.agg(
      max(when(col("kind") === "W", col("top.season")))
        .as("best_winning_streak_season"),
      max(when(col("kind") === "W", col("top.streak_length")))
        .as("best_winning_streak_length"),
      max(when(col("kind") === "L", col("top.season")))
        .as("worst_losing_streak_season"),
      max(when(col("kind") === "L", col("top.streak_length")))
        .as("worst_losing_streak_length"))

    val opponent = when(
      col("matchup").like("%vs.%"), split_part(col("matchup"), lit("vs. "), lit(2))
    ).when(
      col("matchup").like("%@%"), split_part(col("matchup"), lit("@ "), lit(2))
    ).otherwise(col("matchup"))

    val extremesRow = spursGames.agg(
        min_by(
          struct(col("season"), opponent.as("opponent"), col("plus_minus")),
          struct((-col("plus_minus")).as("k1"), col("game_date").as("k2"),
            col("matchup").as("k3"))).as("win"),
        min_by(
          struct(col("season"), opponent.as("opponent"), col("plus_minus")),
          struct(col("plus_minus").as("k1"), col("game_date").as("k2"),
            col("matchup").as("k3"))).as("loss"))
      .select(
        col("win.season").as("biggest_win_season"),
        col("win.opponent").as("team_beat_by_most"),
        col("win.plus_minus").as("biggest_win_margin"),
        col("loss.season").as("biggest_loss_season"),
        col("loss.opponent").as("team_lost_to_by_most"),
        col("loss.plus_minus").as("biggest_loss_margin"))

    streakRow.crossJoin(extremesRow)
  }

  // ---- players_recommendations.sql ------------------------------------

  /** branch spec: (weakness label, avg column, rank ascending?, positions
    * (empty = no filter), reason literal) — sql:54-147, byte-exact;
    * GoldModelsSql reads it too. */
  private[pipeline] val recBranches = Seq(
    ("Porcentaje de tiro de campo", "avg_fg_pct", false, Seq("G", "F"),
      "Contratar un tirador de élite para mejorar la eficiencia del tiro."),
    ("Porcentaje de tres", "avg_fg3_pct", false, Seq("G", "G-F", "F"),
      "Contratar un tirador de élite para abrir el campo."),
    ("Rebotes", "avg_reb", false, Seq("F", "F-C", "C"),
      "Adquirir un rebotador consistente para controlar los tableros."),
    ("Pérdidas de balón", "avg_tov", true, Seq("G"),
      "Incorporar un base que reduzca las pérdidas de balón."),
    ("Robos", "avg_stl", false, Seq("G", "F"),
      "Firmar un defensor perimetral para mejorar la defensa en el robo de balones."),
    ("Bloqueos", "avg_blk", false, Seq("F-C", "C"),
      "Contratar un defensor interior para proteger el aro y aumentar los bloqueos."),
    ("Diferencial Puntos", "avg_plus_minus", false, Seq.empty,
      "Contratar a un jugador con impacto positivo en el diferencial de puntos.")
  )

  def playersRecommendations(
      teamWeaknesses: DataFrame,
      players: DataFrame,
      playerStats: DataFrame,
      freeAgents: DataFrame,
      injuries: DataFrame,
      salaries: DataFrame
  ): DataFrame = {
    val statCols = Seq("fg_pct", "fg3_pct", "reb", "tov", "stl", "blk", "plus_minus")
    // spurs_weaknesses_unpivoted (sql:3-9)
    val weak = teamWeaknesses
      .filter(col("resultado") === "Debilidad")
      .select("season2", "weakness_type")
    // pgs subquery (sql:34-46)
    val pgs = playerStats
      .groupBy(col("player_id").as("pgs_player_id"), col("player_name"))
      .agg(
        statCols.map(c => avg(col(c).cast(num)).as(s"avg_$c")).head,
        statCols.map(c => avg(col(c).cast(num)).as(s"avg_$c")).tail: _*
      )
    val distinctPlayers = players.select("player_id", "player", "position").distinct()
    // free_agents is joined RAW (players_recommendations.sql:48 — no
    // dedup), so duplicate free-agent player_ids fan out exactly as the
    // reference's LEFT JOIN does; injuries below IS grouped (sql:49-50).
    val fa = freeAgents.select(col("player_id").as("fa_player_id"))
    val inj = injuries.select(col("player_id").as("inj_player_id")).distinct()
    val sal = salaries
      .groupBy(col("player_id").as("sal_player_id"))
      .agg(max(col("salary_usd")).as("salary_usd"))
    val ranked = distinctPlayers
      .join(pgs, col("player_id") === col("pgs_player_id"), "inner")
      .join(fa, col("player_id") === col("fa_player_id"), "left")
      .join(inj, col("player_id") === col("inj_player_id"), "left")
      .join(sal, col("player_id") === col("sal_player_id"), "left")
      .select(
        Seq(
          col("player_id"),
          col("player").as("player_name"),
          col("position"),
          when(col("fa_player_id").isNotNull, true).otherwise(false).as("is_free_agent"),
          when(col("inj_player_id").isNotNull, true).otherwise(false).as("is_injured"),
          col("salary_usd").cast(num).as("salary")
        ) ++ statCols.map(c => col(s"avg_$c")): _*
      )
    // W3 bounded: the reference runs seven global ROW_NUMBER leaderboards
    // (sql:26-32) — un-tiebroken windows whose single sort task is the
    // scale ceiling. Here the branches are exploded FIRST and the global
    // top-5 per branch comes from Ranks.topKPerGroup (per-partition
    // bounded prune: ≤5 rows per (partition, branch) reach the exchange).
    // (sort_value, player_id) totally orders each branch up to duplicate
    // free-agent fan-out rows, which are byte-identical copies — any
    // resolution of those ties yields the same multiset. Descending
    // metrics are negated so one ascending ordering serves all branches;
    // position predicates apply AFTER the top-5 cut, as in the reference.
    val targets = graft.operators.Ranks
      .topKPerGroup(
        ranked.select(
          col("player_id"), col("is_free_agent"), col("is_injured"),
          col("player_name"), col("position"), col("salary"),
          explode(array(recBranches.map { case (label, avgCol, asc, positions, reason) =>
            val posOk =
              if (positions.isEmpty) lit(true)
              else col("position").isin(positions: _*)
            struct(
              lit(label).as("weakness_type"),
              col(avgCol).as("metric_value"),
              (if (asc) col(avgCol) else -col(avgCol)).as("sort_value"),
              posOk.as("pos_ok"),
              lit(reason).as("reason")
            )
          }: _*)).as("b")
        ).select(
          col("b.weakness_type").as("weakness_type"),
          col("player_id"), col("is_free_agent"), col("is_injured"),
          col("player_name"),
          col("b.metric_value").as("metric_value"),
          col("position"), col("salary"),
          col("b.sort_value").as("sort_value"),
          col("b.pos_ok").as("pos_ok"),
          col("b.reason").as("reason")
        ),
        Seq("weakness_type"), Seq(("sort_value", true), ("player_id", true)), 5)
      .filter(col("pos_ok"))
      .drop("sort_value", "pos_ok")
    // final many-to-many join on weakness_type (sql:149-161); targets is
    // bounded at top-5 × 7 branches by construction — always broadcast
    weak
      .join(broadcast(targets), "weakness_type")
      .select(
        col("season2"), col("weakness_type"),
        col("player_name").as("recommended_player"),
        col("position"), col("metric_value"), col("salary"), col("reason"),
        col("player_id"), col("is_free_agent"), col("is_injured")
      )
  }
}
