package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, count_if}

/** The reference's 12 dbt schema tests (10 not_null + 2 accepted_values,
  * dbt/models/spurs_analysis/spurs_analysis.yml:12-147) as reusable
  * DataFrame checks. Each check returns the violating-row count; the
  * pipeline treats any non-zero as a data-quality failure.
  */
object Assertions {

  /** Rows matching each predicate, counted in ONE aggregate over `df`. */
  private def countEach(df: DataFrame, violations: Seq[Column]): Seq[Long] =
    if (violations.isEmpty) Nil
    else df.select(violations.map(count_if): _*).head().toSeq.map(_.asInstanceOf[Long])

  /** The violating rows of column `c`: not_null when `vals` is None,
    * else accepted_values. dbt's generated `NOT IN` lets NULLs pass
    * (three-valued logic), so accepted_values counts only non-null values
    * outside the set; null-ness is the job of not_null tests. */
  private def violation(c: String, vals: Option[Seq[String]]): Column =
    vals.fold(col(c).isNull)(v => col(c).isNotNull && !col(c).isin(v: _*))

  def notNullViolations(df: DataFrame, cols: Seq[String]): Long =
    countEach(df, cols.map(violation(_, None))).sum

  def acceptedValuesViolations(df: DataFrame, c: String, vals: Seq[String]): Long =
    countEach(df, Seq(violation(c, Some(vals)))).head

  /** dbt `unique` semantics: count of VALUES that appear more than once
    * (dbt groups by the column and counts groups having count(*) > 1);
    * NULLs are excluded (dbt's generated SQL filters them). */
  def uniqueViolations(df: DataFrame, c: String): Long =
    df.filter(col(c).isNotNull)
      .groupBy(col(c))
      .count()
      .filter(col("count") > 1)
      .count()

  /** dbt `relationships` semantics: child values (non-null) that have no
    * match in the parent column — a broadcast-friendly left-anti join. */
  def relationshipViolations(
      child: DataFrame, childCol: String, parent: DataFrame, parentCol: String): Long = {
    // alias the parent key so child==parent self-checks don't collide
    val keys = parent.select(col(parentCol).as("__parent_key")).distinct()
    child.filter(col(childCol).isNotNull)
      .join(keys, col(childCol) === col("__parent_key"), "left_anti")
      .count()
  }

  /** Per gold table, its tested columns in the reference's order: `None`
    * is not_null, `Some(vals)` is accepted_values. */
  private val schemaTests: Seq[(String, Seq[(String, Option[Seq[String]])])] = Seq(
    "team_weaknesses_unpivoted" -> Seq("season2" -> None, "weakness_type" -> None,
      "resultado" -> Some(Seq("Debilidad", "Fortaleza"))),
    "summary_by_season" -> Seq("season" -> None, "team_ranking" -> None),
    "players_recommendations" ->
      Seq("season2" -> None, "recommended_player" -> None, "player_id" -> None),
    "spurs_player_contributions_unpivoted" ->
      Seq("player_id" -> None, "player_name" -> None, "rubro" -> None),
    "home_vs_away" -> Seq("location" -> Some(Seq("Home", "Away")))
  )

  /** Run the full dbt test suite over the gold tables, one aggregate per
    * checked table; returns failure descriptions (empty = all 12 pass). */
  def runAll(gold: Map[String, DataFrame]): Seq[String] =
    schemaTests.flatMap { case (table, tests) =>
      gold.get(table).toSeq.flatMap { df =>
        val counts = countEach(df, tests.map((violation _).tupled))
        tests.zip(counts).collect { case ((c, vals), n) if n > 0 =>
          vals.fold(s"$table.$c: $n null rows")(v => s"$table.$c: $n rows outside $v")
        }
      }
    }
}
