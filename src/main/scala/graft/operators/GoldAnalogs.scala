package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Exact._
import graft.sources.Tables

/** The reference's six gold models (dbt/models/spurs_analysis SQL files)
  * re-expressed, shape-for-shape, on the testdata star schema:
  *
  *   games        → orders / lineitem facts
  *   teams        → nation (30-row broadcast dim)
  *   players      → part
  *   player_stats → lineitem per-part stats
  *
  * Each model keeps the reference's full operator composition (CTE chain,
  * UNION-ALL unpivot with per-branch CASE direction, global rank windows,
  * scalar-subquery single-row assembly) so the driver's DuckDB oracle
  * exercises the composed plans, not just single operators.
  *
  * A single metric-descriptor list drives BOTH the Spark code and the
  * oracle SQL text, so the two formulations cannot drift apart.
  */
object GoldAnalogs {

  /** season-label normalization, `summary_by_season.sql:13-14`:
    * CASE WHEN season LIKE '2024' THEN '2024-25' ELSE season END
    * (wildcard-free LIKE ≡ equality, Q-5). */
  private def seasonCol(d: Column): Column =
    when(year(d).cast("string") === "2001", "2001-02")
      .otherwise(year(d).cast("string"))

  private def sqlSeason(d: String): String =
    s"CASE WHEN CAST(year($d) AS VARCHAR) = '2001' THEN '2001-02' " +
      s"ELSE CAST(year($d) AS VARCHAR) END"

  /** One unpivot metric (team_weaknesses_unpivoted.sql:4-18): per-row
    * unscaled-long summand (Exact limb fast path) + SQL twin + comparison
    * direction + the recommendation branch's filter brand-list and reason
    * literal (players_recommendations.sql:54-147).
    *
    * `unscaled` is the exact scale-4 integer of the summand; averages are
    * rebuilt per group via Exact.limbAvg — bit-identical to the decimal
    * forms the oracle SQL computes, but accumulated as primitive longs
    * inside whole-stage codegen instead of per-row BigDecimal. The
    * revenue product is exact at scale 4 too: 2-decimal price × 2-decimal
    * (1-disc) carries ≤4 decimals, so the oracle's scale-8 decimal
    * product and `round(SUM, 4)` see the same rational value. */
  private final case class M(
      key: String,
      label: String,
      lowerIsBetter: Boolean,
      aggSql: String,
      unscaled: Column, // exact scale-4 integer summand (per-row)
      brands: Seq[String],
      reason: String
  )

  private val revenueUnscaled: Column =
    unscaledLong(col("l_extendedprice"), 2) *
      (lit(100L) - unscaledLong(col("l_discount"), 2))
  private val revenueSql: String =
    s"${sqlDec("l_extendedprice")} * ($sqlDecOne - ${sqlDec("l_discount")})"

  private val metrics: Seq[M] = Seq(
    M("qty", "Cantidad", lowerIsBetter = false,
      sqlAvg("l_quantity"), unscaledLong(col("l_quantity"), 4),
      (1 to 10).map(i => s"Brand#$i"),
      "Aumentar el volumen con partes de alta cantidad media."),
    M("price", "Precio", lowerIsBetter = false,
      sqlAvg("l_extendedprice"), unscaledLong(col("l_extendedprice"), 4),
      (6 to 18).map(i => s"Brand#$i"),
      "Incorporar partes de precio medio elevado."),
    M("disc", "Descuento", lowerIsBetter = true,
      sqlAvg("l_discount"), unscaledLong(col("l_discount"), 4),
      Seq("Brand#1", "Brand#5", "Brand#9", "Brand#13", "Brand#17", "Brand#21"),
      "Reducir el descuento medio concedido."),
    M("tax", "Impuesto", lowerIsBetter = false,
      sqlAvg("l_tax"), unscaledLong(col("l_tax"), 4),
      Seq("Brand#2", "Brand#4", "Brand#6", "Brand#8", "Brand#10", "Brand#12"),
      "Optimizar la carga impositiva media."),
    M("revenue", "Ingreso", lowerIsBetter = false,
      sqlAvgDec(revenueSql), revenueUnscaled,
      Seq.empty, // like the plus_minus branch: no position filter
      "Contratar partes con impacto positivo en el ingreso.")
  )

  private val focusNation = "NATION_7"
  private val streakNation = "NATION_3"

  // ---- shared SQL fragments -------------------------------------------

  /** lineitem ⋈ supplier ⋈ nation with season2 — the `games` silver table
    * analog (team_weaknesses_unpivoted.sql:20-35). */
  private val gamesSql: String =
    "games AS (SELECT l.*, n.n_name, " +
      s"${sqlSeason("l_shipdate")} AS season2 " +
      "FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey " +
      "JOIN nation n ON s.s_nationkey = n.n_nationkey)"

  private def aggList(prefix: String): String =
    metrics.map(m => s"${m.aggSql} AS $prefix${m.key}").mkString(", ")

  /** The full weakness-unpivot CTE chain, ending in `weaknesses`. */
  private val weaknessCtes: String = {
    val unionSql = metrics.map { m =>
      val op = if (m.lowerIsBetter) ">" else "<"
      s"SELECT ts.season2, '${m.label}' AS weakness_type, " +
        s"ts.avg_${m.key} AS valor_equipo, la.avg_league_${m.key} AS valor_liga, " +
        s"b.best_${m.key} AS valor_mejor_equipo, " +
        s"CASE WHEN ts.avg_${m.key} $op la.avg_league_${m.key} THEN 'Debilidad' " +
        "ELSE 'Fortaleza' END AS resultado " +
        "FROM team_stats ts JOIN league la ON ts.season2 = la.season2 " +
        "JOIN best b ON ts.season2 = b.season2"
    }.mkString(" UNION ALL ")
    s"$gamesSql, " +
      s"team_stats AS (SELECT season2, ${aggList("avg_")} FROM games " +
      s"WHERE n_name = '$focusNation' GROUP BY season2), " +
      s"league AS (SELECT season2, ${aggList("avg_league_")} FROM games GROUP BY season2), " +
      s"per_team AS (SELECT season2, n_name, ${aggList("avg_")} FROM games " +
      "GROUP BY season2, n_name), " +
      "best AS (SELECT season2, " +
      metrics.map { m =>
        val f = if (m.lowerIsBetter) "MIN" else "MAX"
        s"$f(avg_${m.key}) AS best_${m.key}"
      }.mkString(", ") +
      " FROM per_team GROUP BY season2), " +
      s"weaknesses AS ($unionSql)"
  }

  // ---- shared Spark fragments -----------------------------------------

  /** games analog DataFrame (both dims broadcast — 100/25 rows). */
  private def games(t: Tables): DataFrame =
    t.lineitem
      .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .withColumn("season2", seasonCol(col("l_shipdate")))

  /** Limb-sum aggregate columns for every metric plus the shared row
    * count — place inside `.agg(...)`, rebuild with [[avgCols]]. */
  private def limbAggCols: Seq[Column] =
    metrics.flatMap(m => limbAggs(m.key, m.unscaled)) :+ count(lit(1)).as("cnt")

  /** Rebuild `<prefix><key>` exact averages from limb sums. */
  private def avgCols(prefix: String): Seq[Column] =
    metrics.map(m => limbAvg(m.key, col("cnt")).as(s"$prefix${m.key}"))

  /** Spark twin of [[weaknessCtes]]'s final `weaknesses` CTE.
    *
    * One fact-table pass: per-(season, team) exact limb sums + counts,
    * from which all three aggregate levels (focus team, league, best team)
    * are re-derived — limb sums are associative long sums, so league
    * averages rebuilt from team sums are bit-identical to a direct scan
    * (the oracle SQL keeps the reference's three-CTE form; values match
    * exactly). A naive translation scans and joins the fact table three
    * times.
    */
  private[graft] def weaknesses(t: Tables): DataFrame = {
    val perTeamRaw = games(t)
      .groupBy(col("season2"), col("n_name"))
      .agg(limbAggCols.head, limbAggCols.tail: _*)
    // league + best-team stats as windows over the per-team aggregate: a
    // literal translation joins three aggregates of the same subtree, and
    // Catalyst pushes the focus-team filter below one of them, defeating
    // exchange reuse — three fact scans. Windows over the tiny per-team
    // frame need one scan and one micro-shuffle (|teams|×|seasons| rows).
    val wSeason = Window.partitionBy(col("season2"))
    val withAvgs = perTeamRaw.select(
      Seq(col("season2"), col("n_name"), col("cnt")) ++
        metrics.flatMap(m => limbCols(m.key)) ++
        avgCols("avg_"): _*
    )
    val joined = withAvgs
      .select(
        Seq(col("season2"), col("n_name")) ++
          metrics.map(m => col(s"avg_${m.key}")) ++
          metrics.map { m =>
            val ls = limbCols(m.key).map(c => sum(c).over(wSeason))
            (limbValueOf(ls(0), ls(1), ls(2), 4).cast("double") /
              sum(col("cnt")).over(wSeason)).as(s"avg_league_${m.key}")
          } ++
          metrics.map { m =>
            val c = col(s"avg_${m.key}")
            (if (m.lowerIsBetter) min(c) else max(c)).over(wSeason).as(s"best_${m.key}")
          }: _*
      )
      .filter(col("n_name") === focusNation)
    // Unpivot as ONE pass: a UNION-ALL of per-metric selects would make
    // Catalyst recompute the whole join+aggregate subtree per branch (5×);
    // exploding an array of branch structs keeps a single scan. Semantics
    // (and the UNION-ALL oracle SQL) are unchanged.
    val branches = array(metrics.map { m =>
      val team = col(s"avg_${m.key}")
      val lg = col(s"avg_league_${m.key}")
      val cond = if (m.lowerIsBetter) team > lg else team < lg
      struct(
        lit(m.label).as("weakness_type"),
        team.as("valor_equipo"),
        lg.as("valor_liga"),
        col(s"best_${m.key}").as("valor_mejor_equipo"),
        when(cond, "Debilidad").otherwise("Fortaleza").as("resultado")
      )
    }: _*)
    joined
      .select(col("season2"), explode(branches).as("u"))
      .select(col("season2"), col("u.weakness_type"), col("u.valor_equipo"),
        col("u.valor_liga"), col("u.valor_mejor_equipo"), col("u.resultado"))
  }

  // ---- G1: summary_by_season ------------------------------------------

  /** summary_by_season.sql — J1 + A4 (conditional counts) + W2 (dense_rank
    * per season by wins/losses/avg_points). */
  val g01 = Q(
    "g01_summary_by_season",
    Some(
      "WITH nba AS (SELECT o.*, n.n_name AS team_name FROM orders o " +
        "JOIN customer c ON o_custkey = c_custkey " +
        "JOIN nation n ON c_nationkey = n_nationkey), " +
        s"base AS (SELECT ${sqlSeason("o_orderdate")} AS season, team_name, " +
        "o_orderstatus AS wl, CAST(floor(o_totalprice) AS BIGINT) AS pts FROM nba), " +
        "sumariza AS (SELECT season, team_name, " +
        s"$sqlCount AS total_games, " +
        s"${sqlCountIf("wl = 'F'")} AS wins, " +
        s"${sqlCountIf("wl = 'O'")} AS losses, " +
        "CAST(SUM(pts) AS DOUBLE) / COUNT(pts) AS avg_points " +
        "FROM base GROUP BY season, team_name) " +
        "SELECT season, team_name, wins, losses, total_games, avg_points, " +
        "CAST(DENSE_RANK() OVER (PARTITION BY season " +
        "ORDER BY wins DESC, losses ASC, avg_points DESC) AS BIGINT) AS team_ranking " +
        "FROM sumariza"
    )
  ) { t =>
    val base = t.orders
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .select(
        seasonCol(col("o_orderdate")).as("season"),
        col("n_name").as("team_name"),
        col("o_orderstatus").as("wl"),
        floor(col("o_totalprice")).cast("long").as("pts")
      )
    val sumariza = base
      .groupBy(col("season"), col("team_name"))
      .agg(
        count(lit(1)).as("total_games"),
        countIf(col("wl") === "F").as("wins"),
        countIf(col("wl") === "O").as("losses"),
        (sum(col("pts")).cast("double") / count(col("pts"))).as("avg_points")
      )
    val w = Window
      .partitionBy(col("season"))
      .orderBy(col("wins").desc, col("losses").asc, col("avg_points").desc)
    sumariza.select(
      col("season"), col("team_name"), col("wins"), col("losses"),
      col("total_games"), col("avg_points"),
      dense_rank().over(w).cast("long").as("team_ranking")
    )
  }

  // ---- G2: home_vs_away ------------------------------------------------

  /** home_vs_away.sql — A5: same aggregate with a derived `location` key
    * (matchup LIKE '%@%' → Away analog: priority LIKE '%URGENT%'). */
  val g02 = Q(
    "g02_home_away_split",
    Some(
      "WITH nba AS (SELECT o.*, n.n_name AS team_name FROM orders o " +
        "JOIN customer c ON o_custkey = c_custkey " +
        "JOIN nation n ON c_nationkey = n_nationkey), " +
        s"base AS (SELECT ${sqlSeason("o_orderdate")} AS season, team_name, " +
        "CASE WHEN o_orderpriority LIKE '%URGENT%' THEN 'Rush' ELSE 'Standard' END AS location, " +
        "o_orderstatus AS wl, CAST(floor(o_totalprice) AS BIGINT) AS pts FROM nba) " +
        "SELECT season, team_name, location, " +
        s"$sqlCount AS games, " +
        s"${sqlCountIf("wl = 'F'")} AS wins, " +
        s"${sqlCountIf("wl = 'O'")} AS losses, " +
        "CAST(SUM(pts) AS DOUBLE) / COUNT(pts) AS avg_points " +
        "FROM base GROUP BY season, team_name, location"
    )
  ) { t =>
    t.orders
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .select(
        seasonCol(col("o_orderdate")).as("season"),
        col("n_name").as("team_name"),
        when(col("o_orderpriority").like("%URGENT%"), "Rush")
          .otherwise("Standard").as("location"),
        col("o_orderstatus").as("wl"),
        floor(col("o_totalprice")).cast("long").as("pts")
      )
      .groupBy(col("season"), col("team_name"), col("location"))
      .agg(
        count(lit(1)).as("games"),
        countIf(col("wl") === "F").as("wins"),
        countIf(col("wl") === "O").as("losses"),
        (sum(col("pts")).cast("double") / count(col("pts"))).as("avg_points")
      )
  }

  // ---- G3: team_weaknesses_unpivoted ----------------------------------

  /** team_weaknesses_unpivoted.sql — A1–A3 + J6 (3-way join on season2) +
    * U1 (5-way UNION ALL unpivot with per-branch CASE direction). */
  val g03 = Q(
    "g03_team_weakness_unpivot",
    Some(
      s"WITH $weaknessCtes SELECT season2, weakness_type, valor_equipo, " +
        "valor_liga, valor_mejor_equipo, resultado FROM weaknesses"
    )
  )(weaknesses)

  // ---- G4: spurs_player_contributions_unpivoted -----------------------

  /** spurs_player_contributions_unpivoted.sql — A7 (per-entity multi-metric
    * AVG, one team only) + U2 (unpivot to (rubro, valor) rows). */
  val g04 = Q(
    "g04_contributions_unpivot",
    Some {
      val union = metrics.map { m =>
        s"SELECT s_suppkey, s_name, '${m.label}' AS rubro, avg_${m.key} AS valor FROM src"
      }.mkString(" UNION ALL ")
      s"WITH $gamesSql, " +
        s"src AS (SELECT l_suppkey AS s_suppkey, s_name, ${aggList("avg_")} " +
        s"FROM games g JOIN supplier s ON g.l_suppkey = s.s_suppkey " +
        s"WHERE g.n_name = '$focusNation' GROUP BY l_suppkey, s_name) $union"
    }
  ) { t =>
    val src = games(t)
      .filter(col("n_name") === focusNation)
      .groupBy(col("l_suppkey").as("s_suppkey"), col("s_name"))
      .agg(limbAggCols.head, limbAggCols.tail: _*)
      .select(Seq(col("s_suppkey"), col("s_name")) ++ avgCols("avg_"): _*)
    src
      .select(
        col("s_suppkey"), col("s_name"),
        explode(array(metrics.map { m =>
          struct(lit(m.label).as("rubro"), col(s"avg_${m.key}").as("valor"))
        }: _*)).as("u")
      )
      .select(col("s_suppkey"), col("s_name"), col("u.rubro"), col("u.valor"))
  }

  // ---- G5: streaks_and_rivals -----------------------------------------

  /** streaks_and_rivals.sql — W1 (gaps-and-islands running sums) + A11 +
    * O1 (ORDER BY…LIMIT 1) + J9 (scalar-subquery argmax) + J10 (single-row
    * assembly of 10 scalars) + F1 (SPLIT_PART opponent extraction).
    * Numeric argmax per Q-1; unique (game_date, game_id) tiebreaks make
    * every LIMIT 1 deterministic. */
  val g05 = Q(
    "g05_streaks_one_row",
    Some(
      "WITH team_games AS (SELECT " +
        s"${sqlSeason("o_orderdate")} AS season, " +
        "o_orderdate AS game_date, o_orderkey AS game_id, " +
        "o_orderpriority AS matchup, " +
        "CAST(floor(o_totalprice) AS BIGINT) AS plus_minus, " +
        "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is_win, " +
        "CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS is_loss " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        s"WHERE n_name = '$streakNation' AND o_orderstatus IN ('F', 'O')), " +
        "winning_streaks AS (SELECT *, SUM(is_loss) OVER " +
        "(ORDER BY game_date, game_id) AS loss_group FROM team_games), " +
        "losing_streaks AS (SELECT *, SUM(is_win) OVER " +
        "(ORDER BY game_date, game_id) AS win_group FROM team_games), " +
        "best_winning_streak AS (SELECT season, CAST(COUNT(*) AS BIGINT) AS streak_length " +
        "FROM winning_streaks WHERE is_win = 1 GROUP BY season, loss_group " +
        "ORDER BY streak_length DESC, season, loss_group LIMIT 1), " +
        "worst_losing_streak AS (SELECT season, CAST(COUNT(*) AS BIGINT) AS streak_length " +
        "FROM losing_streaks WHERE is_loss = 1 GROUP BY season, win_group " +
        "ORDER BY streak_length DESC, season, win_group LIMIT 1), " +
        "biggest_win AS (SELECT season, CASE WHEN matchup LIKE '%-%' " +
        "THEN split_part(matchup, '-', 2) ELSE matchup END AS opponent, " +
        "plus_minus AS point_differential FROM team_games " +
        "WHERE plus_minus = (SELECT MAX(plus_minus) FROM team_games) " +
        "ORDER BY point_differential DESC, game_date, game_id LIMIT 1), " +
        "biggest_loss AS (SELECT season, CASE WHEN matchup LIKE '%-%' " +
        "THEN split_part(matchup, '-', 2) ELSE matchup END AS opponent, " +
        "plus_minus AS point_differential FROM team_games " +
        "WHERE plus_minus = (SELECT MIN(plus_minus) FROM team_games) " +
        "ORDER BY point_differential ASC, game_date, game_id LIMIT 1) " +
        "SELECT " +
        "(SELECT season FROM best_winning_streak) AS best_winning_streak_season, " +
        "(SELECT streak_length FROM best_winning_streak) AS best_winning_streak_length, " +
        "(SELECT season FROM worst_losing_streak) AS worst_losing_streak_season, " +
        "(SELECT streak_length FROM worst_losing_streak) AS worst_losing_streak_length, " +
        "(SELECT season FROM biggest_win) AS biggest_win_season, " +
        "(SELECT opponent FROM biggest_win) AS team_beat_by_most, " +
        "(SELECT point_differential FROM biggest_win) AS biggest_win_margin, " +
        "(SELECT season FROM biggest_loss) AS biggest_loss_season, " +
        "(SELECT opponent FROM biggest_loss) AS team_lost_to_by_most, " +
        "(SELECT point_differential FROM biggest_loss) AS biggest_loss_margin"
    )
  ) { t =>
    // Nation's n_name filter cuts 25 → 1 nation BEFORE the dims join,
    // so the (customer ⋈ nation) frame is 1/25th of customer and the
    // fact side probes one hash table with a semi-join-reduced build
    // side instead of probing ALL customers and filtering after. The
    // broadcast hint sits ONLY on the constant-25-row nation side: the
    // customer-reduced frame is broadcast-sized at any test SF (size
    // statistics pick BHJ without a hint, so the sf0.01 one-build job
    // floor in BENCH_NOTES_r12 is unchanged), but at 100 TB it is
    // hundreds of millions of keys — a forced broadcast there would
    // blow the 8 GB broadcast limit, so stats/AQE must be free to pick
    // a shuffle join (round-12 advice).
    val dims = t.customer
      .join(broadcast(t.nation.filter(col("n_name") === streakNation)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val teamGames = t.orders
      .join(dims, col("o_custkey") === col("c_custkey"))
      .filter(col("o_orderstatus").isin("F", "O"))
      .select(
        seasonCol(col("o_orderdate")).as("season"),
        col("o_orderdate").as("game_date"),
        col("o_orderkey").as("game_id"),
        col("o_orderpriority").as("matchup"),
        floor(col("o_totalprice")).cast("long").as("plus_minus"),
        when(col("o_orderstatus") === "F", 1).otherwise(0).as("is_win"),
        when(col("o_orderstatus") === "O", 1).otherwise(0).as("is_loss")
      )
      // Single consumer since the round-11 one-chain fusion below — no
      // materialization needed; the whole query is one scan, one window,
      // three aggregation levels, one job.
    // W1: unpartitioned ordered window — parity with the reference; at
    // 100 TB this becomes per-team via partitionBy (see SCALE.md). Both
    // running sums share one window spec → a single Window pass.
    val ord = Window.orderBy(col("game_date"), col("game_id"))
    val streaks = teamGames
      .withColumn("loss_group", sum(col("is_loss")).over(ord))
      .withColumn("win_group", sum(col("is_win")).over(ord))

    // ALL ten scalars in ONE aggregation chain over one scan — no
    // checkpoint, no crossJoin of separately-planned subtrees (the
    // round-10 shape cost ~2 jobs of pure scheduling at sf0.01).
    //
    // Streak tops: tag each W/L row with its island key, count islands,
    // min_by over the composite (-length, season, grp) key — exactly
    // the oracle's ORDER BY streak_length DESC, season, <grp> LIMIT 1,
    // deterministic because (season, grp) is the grouping key.
    //
    // Extremes RIDE THE SAME GROUPING LEVELS: min(struct(key, payload))
    // is associative, so the per-island minima of level 1 re-minimize
    // at level 2 and globally at level 3 to exactly the corpus-wide
    // argmin — valid because the W/L tag partitions every team game
    // (status ∈ {F, O}), so no row escapes level 1. The composite keys
    // (±plus_minus, game_date, game_id) replay the oracle's
    // WHERE plus_minus = (SELECT MAX/MIN …) ORDER BY … LIMIT 1 with a
    // total order (game_id is unique) — no tie left to chance.
    val opponent = when(
      col("matchup").like("%-%"),
      split_part(col("matchup"), lit("-"), lit(2))
    ).otherwise(col("matchup"))
    val payload = struct(col("season").as("season"),
      opponent.as("opponent"), col("plus_minus").as("plus_minus"))
    val wkey = struct((-col("plus_minus")).as("k1"),
      col("game_date").as("k2"), col("game_id").as("k3"))
    val lkey = struct(col("plus_minus").as("k1"),
      col("game_date").as("k2"), col("game_id").as("k3"))

    val tagged = streaks
      .filter(col("is_win") === 1 || col("is_loss") === 1)
      .select(
        when(col("is_win") === 1, lit("W")).otherwise(lit("L")).as("kind"),
        col("season"),
        when(col("is_win") === 1, col("loss_group"))
          .otherwise(col("win_group")).as("grp"),
        struct(wkey.as("k"), payload.as("p")).as("wv"),
        struct(lkey.as("k"), payload.as("p")).as("lv"))
    val lvl2 = tagged
      .groupBy(col("kind"), col("season"), col("grp"))
      .agg(count(lit(1)).as("streak_length"),
        min(col("wv")).as("w1"), min(col("lv")).as("l1"))
      .groupBy(col("kind"))
      .agg(min_by(
          struct(col("season"), col("streak_length")),
          struct((-col("streak_length")).as("k1"), col("season").as("k2"),
            col("grp").as("k3"))).as("top"),
        min(col("w1")).as("w2"), min(col("l1")).as("l2"))
    // Q-6: a global agg over a possibly-empty frame still yields one row
    // (of NULLs) — matching SQL scalar-subquery-on-empty semantics; a
    // kind with no rows leaves its pair of columns NULL the same way.
    lvl2.agg(
        max(when(col("kind") === "W", col("top.season")))
          .as("best_winning_streak_season"),
        max(when(col("kind") === "W", col("top.streak_length")))
          .as("best_winning_streak_length"),
        max(when(col("kind") === "L", col("top.season")))
          .as("worst_losing_streak_season"),
        max(when(col("kind") === "L", col("top.streak_length")))
          .as("worst_losing_streak_length"),
        min(col("w2")).as("wf"), min(col("l2")).as("lf"))
      .select(
        col("best_winning_streak_season"), col("best_winning_streak_length"),
        col("worst_losing_streak_season"), col("worst_losing_streak_length"),
        col("wf.p.season").as("biggest_win_season"),
        col("wf.p.opponent").as("team_beat_by_most"),
        col("wf.p.plus_minus").as("biggest_win_margin"),
        col("lf.p.season").as("biggest_loss_season"),
        col("lf.p.opponent").as("team_lost_to_by_most"),
        col("lf.p.plus_minus").as("biggest_loss_margin"))
  }

  // ---- G6: players_recommendations ------------------------------------

  /** players_recommendations.sql — the deepest graph: model-on-model
    * dependency (weaknesses CTE), J2–J5 left joins over pre-aggregated
    * subqueries, W3 (global rank windows ×5), U3 (per-weakness top-5
    * branches with literal reasons), J7 (many-to-many join on
    * weakness_type), P5–P8 predicates. */
  val g06 = Q(
    "g06_recommendations",
    Some {
      val rankCols = metrics.map { m =>
        val dir = if (m.lowerIsBetter) "ASC" else "DESC"
        s"row_number() OVER (ORDER BY pp.avg_${m.key} $dir, p.p_partkey) AS rank_${m.key}"
      }.mkString(", ")
      val targetUnion = metrics.map { m =>
        val brandPred =
          if (m.brands.isEmpty) ""
          else s" AND p_brand IN (${m.brands.map(b => s"'$b'").mkString(", ")})"
        s"SELECT '${m.label}' AS weakness_type, p_partkey, is_returned, is_open, " +
          s"p_name, avg_${m.key} AS metric_value, p_brand, list_price, " +
          s"'${m.reason}' AS reason FROM pool WHERE rank_${m.key} <= 5$brandPred"
      }.mkString(" UNION ALL ")
      s"WITH $weaknessCtes, " +
        "weak AS (SELECT season2, weakness_type FROM weaknesses WHERE resultado = 'Debilidad'), " +
        s"per_part AS (SELECT l_partkey, ${aggList("avg_")} FROM lineitem GROUP BY l_partkey), " +
        "pool AS (SELECT p.p_partkey, p.p_name, p.p_brand, " +
        "CASE WHEN r.l_partkey IS NOT NULL THEN TRUE ELSE FALSE END AS is_returned, " +
        "CASE WHEN op.l_partkey IS NOT NULL THEN TRUE ELSE FALSE END AS is_open, " +
        "mx.list_price, " + metrics.map(m => s"pp.avg_${m.key}").mkString(", ") +
        s", $rankCols " +
        "FROM (SELECT DISTINCT p_partkey, p_name, p_brand FROM part) p " +
        "JOIN per_part pp ON p.p_partkey = pp.l_partkey " +
        "LEFT JOIN (SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'R') r " +
        "ON p.p_partkey = r.l_partkey " +
        "LEFT JOIN (SELECT l_partkey FROM lineitem WHERE l_linestatus = 'O' " +
        "GROUP BY l_partkey) op ON p.p_partkey = op.l_partkey " +
        "LEFT JOIN (SELECT l_partkey, MAX(l_extendedprice) AS list_price FROM lineitem " +
        "GROUP BY l_partkey) mx ON p.p_partkey = mx.l_partkey), " +
        s"targets AS ($targetUnion) " +
        "SELECT w.season2, t.weakness_type, t.p_name AS recommended_part, t.p_brand, " +
        "t.metric_value, t.list_price, t.reason, t.p_partkey, t.is_returned, t.is_open " +
        "FROM weak w JOIN targets t ON w.weakness_type = t.weakness_type"
    }
  ) { t =>
    val weak = weaknesses(t)
      .filter(col("resultado") === "Debilidad")
      .select("season2", "weakness_type")
    // targets is BOUNDED at top-5 × |branches| rows by construction — the
    // one side of this many-to-many join that is broadcast-safe at any
    // scale (weak grows with |seasons|). The explicit hint also saves the
    // planner/AQE a re-plan round that measurably dominates at small SF
    // (lab: 1.06s → 0.61s at sf0.01).
    weak.join(broadcast(recTargets(t)), "weakness_type")
      .select(
        col("season2"), col("weakness_type"),
        col("p_name").as("recommended_part"), col("p_brand"),
        col("metric_value"), col("list_price"), col("reason"),
        col("p_partkey"), col("is_returned"), col("is_open")
      )
  }

  /** g06's recommendation-target side (pool → exploded branches → global
    * top-5 per branch), split out so the lab can time it against the
    * weakness side independently. */
  private[graft] def recTargets(t: Tables): DataFrame = {
    // ONE per-part pass: the oracle keeps the reference's three LEFT JOINs
    // over aggregated subqueries, but since every pooled part joins the
    // stats inner-join anyway, the existence flags and max-price collapse
    // into the same aggregate — identical values, 3 fewer fact scans.
    val perPartCols = limbAggCols ++ Seq(
      max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("ret_flag"),
      max(when(col("l_linestatus") === "O", 1).otherwise(0)).as("open_flag"),
      max(col("l_extendedprice")).as("list_price")
    )
    val perPart = t.lineitem
      .groupBy(col("l_partkey"))
      .agg(perPartCols.head, perPartCols.tail: _*)
      .select(
        Seq(col("l_partkey"), col("ret_flag"), col("open_flag"),
          col("list_price")) ++ avgCols("avg_"): _*
      )
    // CONTRACT: the oracle's SELECT DISTINCT over (p_partkey, p_name,
    // p_brand) is elided because p_partkey is assumed UNIQUE (the TPC-H
    // primary key) — the standard key-constraint rewrite, saving a full
    // shuffle of the dimension ahead of the stats join. A non-keyed
    // `part` input would duplicate pool rows; the oracle hash gate
    // re-verifies the equivalence on every round's data.
    val pool = t.part.select("p_partkey", "p_name", "p_brand")
      .join(perPart, col("p_partkey") === col("l_partkey"))
      .select(
        Seq(
          col("p_partkey"), col("p_name"), col("p_brand"),
          (col("ret_flag") === 1).as("is_returned"),
          (col("open_flag") === 1).as("is_open"),
          col("list_price")
        ) ++ metrics.map(m => col(s"avg_${m.key}")): _*
      )
    // W3 bounded: explode the 5 branch metrics FIRST, then global top-5
    // per branch via Ranks.topKPerGroup — per-partition bounded prunes
    // mean at most 5 rows per (partition, branch) ever reach the
    // exchange, where the reference shape (5 unpartitioned row_number
    // windows over the pool) sorts every pooled part in ONE task — the
    // scale ceiling at 100×. Output is identical because
    // (sort_value, p_partkey) totally orders each branch; descending
    // metrics are negated so one ascending ordering serves all branches
    // (exact for doubles). Brand predicates are evaluated AFTER the
    // top-5 cut, exactly as the reference ranks before filtering.
    val branchStructs = metrics.map { m =>
      val brandOk =
        if (m.brands.isEmpty) lit(true) else col("p_brand").isin(m.brands: _*)
      val c = col(s"avg_${m.key}")
      struct(
        lit(m.label).as("weakness_type"),
        c.as("metric_value"),
        (if (m.lowerIsBetter) c else -c).as("sort_value"),
        brandOk.as("brand_ok"),
        lit(m.reason).as("reason")
      )
    }
    val exploded = pool
      .select(
        col("p_partkey"), col("is_returned"), col("is_open"), col("p_name"),
        col("p_brand"), col("list_price"),
        explode(array(branchStructs: _*)).as("b")
      )
      .select(
        col("b.weakness_type").as("weakness_type"),
        col("p_partkey"), col("is_returned"), col("is_open"), col("p_name"),
        col("b.metric_value").as("metric_value"),
        col("p_brand"), col("list_price"),
        col("b.sort_value").as("sort_value"),
        col("b.brand_ok").as("brand_ok"),
        col("b.reason").as("reason")
      )
    Ranks
      .topKPerGroup(exploded, Seq("weakness_type"),
        Seq(("sort_value", true), ("p_partkey", true)), 5)
      .filter(col("brand_ok"))
      .drop("sort_value", "brand_ok")
  }

  val all: Seq[Q] = Seq(g01, g02, g03, g04, g05, g06)

  /** Pinned per-model Spark JOB counts under the bench micro-suite
    * profile (shuffle.partitions=1, AQE off) — BASELINE.md "Per-model
    * job-count floors", enforced by GoldJobFloorSpec and emitted by
    * Bench as `floor_small` (jobs × measured `sched_floor_p50`), so a
    * gate reading like "g01 at 2.38× of baseline" can be adjudicated
    * mechanically against the scheduler floor instead of in prose: a
    * model whose measured time is at or under its floor product is
    * floor-dominated — host tenancy, not engine work. */
  val jobFloors: Map[String, Int] = Map(
    "g01_summary_by_season" -> 3,
    "g02_home_away_split" -> 3,
    "g03_team_weakness_unpivot" -> 3,
    "g04_contributions_unpivot" -> 3,
    "g05_streaks_one_row" -> 3,
    "g06_recommendations" -> 5
  )
}
