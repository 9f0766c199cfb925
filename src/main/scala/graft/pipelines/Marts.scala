package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Det.{Dec => DecT}

/** Reference-parity marts: the three analytical jobs of the reference
  * (attack: dag-transform.py:131-239, defense: :243-320, discipline:
  * :324-389), re-expressed Spark-first.
  *
  * Semantics preserved exactly (SURVEY §2.4-2.6): inner equi-joins on the
  * `Team` string key (teams missing from any input drop out; duplicate keys
  * multiply), wide projections with the reference's non-identifier column
  * names (spaces, `(%)`), and the 30 derived metrics as `expr()` SQL
  * arithmetic. Division-by-zero yields NULL on every engine via explicit
  * `nullif` guards (Spark non-ANSI `x/0` is NULL already; the guard pins
  * the same behavior into the DuckDB oracle — SURVEY §2.6 caveat).
  *
  * Architecture difference from the reference (deliberate): inputs are
  * DataFrames, not re-materialized CSV; joins are declared and Catalyst
  * picks broadcast vs sort-merge; the A1 rollup
  * (dag-transform.py:166-169) uses order-independent decimal sums so the
  * result is stable under any partitioning/combine order — required for a
  * 1000-executor run to be reproducible.
  */
object Marts {

  /** The 30 derived metrics as (name, formula) with backtick quoting —
    * single source of truth for both the Spark `expr()` call and the
    * DuckDB oracle (translated by [[sqlFormula]]). */
  val attackMetrics: Seq[(String, String)] = Seq(
    "Goal Conversion Rate" -> "`Goals per Match` / nullif(`Big Chances`, 0)",
    "Clearance Efficiency" -> "`Total Clearances` / nullif(`Matches`, 0)",
    "Possession Effectiveness" -> "`Possession Won Final 3rd per Match` / nullif(`Touches in Opposition Box`, 0)",
    "Penalty Impact" -> "`Penalties Won` / nullif(`Total Goals Scored`, 0)",
    "Offensive Performance" -> "(`Goals per Match` + `Expected Goals`) / 2",
    "Assist to Goal Ratio" -> "`Actual Assists` / nullif(`Total Goals Scored`, 0)",
    "Shooting Efficiency" -> "`Shots on Target per Match` * `Shot Conversion Rate (%)` / 100",
    "Clean Sheet Impact" -> "`Clean Sheets` / nullif(`Matches`, 0)",
    "Chances per Possession" -> "`Big Chances` / nullif(`Possession Won Final 3rd per Match`, 0)",
    "Combined Attack Efficiency" -> "(`Big Chances` + `Expected Goals` + `Touches in Opposition Box`) / nullif(`Matches`, 0)")

  val defenseMetrics: Seq[(String, String)] = Seq(
    "Interceptions Efficiency" -> "`Total Interceptions` / nullif(`Matches`, 0)",
    "Goals Conceded Efficiency" -> "`Goals Conceded per Match`",
    "Save Effectiveness" -> "`Total Saves` / nullif(`Total Goals Conceded`, 0)",
    "Penalty Average per Match" -> "`Penalties Conceded` / nullif(`Matches`, 0)",
    "Penalty Impact on Goals" -> "`Penalty Goals Conceded` / nullif(`Total Goals Conceded`, 0)",
    "Saves per Match Ratio" -> "`Saves per Match` / nullif(`Matches`, 0)",
    "Successful Tackles Average" -> "`Successful Tackles per Match`",
    "Conceded vs Interceptions Ratio" -> "`Total Goals Conceded` / nullif(`Total Interceptions`, 0)",
    "Goals Conceded to Saves Ratio" -> "`Total Goals Conceded` / nullif(`Total Saves`, 0)",
    "Interceptions per Penalty Conceded" -> "`Total Interceptions` / nullif(`Penalties Conceded`, 0)")

  val disciplineMetrics: Seq[(String, String)] = Seq(
    "Interceptions Efficiency" -> "`Total Interceptions` / nullif(`Matches`, 0)",
    "Fouls to Interceptions Ratio" -> "`Fouls per Match` / nullif(`Interceptions per Match`, 0)",
    "Yellow Cards per Match" -> "`Yellow Cards` / nullif(`Matches`, 0)",
    "Red Cards per Match" -> "`Red Cards` / nullif(`Matches`, 0)",
    "Fouls per Yellow Card" -> "(`Fouls per Match` * `Matches`) / nullif(`Yellow Cards`, 0)",
    "Interceptions per Card" -> "`Total Interceptions` / nullif(`Yellow Cards` + `Red Cards`, 0)",
    "Cards per Match" -> "(`Yellow Cards` + `Red Cards`) / nullif(`Matches`, 0)",
    "Yellow to Red Cards Ratio" -> "`Yellow Cards` / nullif(`Red Cards`, 0)",
    "Discipline Index" -> "(`Yellow Cards` * 1 + `Red Cards` * 2 + `Fouls per Match` * `Matches`) / nullif(`Matches`, 0)",
    "Interceptions Impact" -> "`Total Interceptions` / nullif(`Fouls per Match` * `Matches`, 0)")

  /** Backtick → double-quote translation for the DuckDB oracle side. */
  def sqlFormula(f: String): String = f.replace('`', '"')

  private def applyMetrics(df: DataFrame, metrics: Seq[(String, String)]): DataFrame =
    metrics.foldLeft(df) { case (d, (name, formula)) =>
      d.withColumn(name, expr(formula)) // P4: withColumn(expr(...)) parity
    }

  private def innerJoinAll(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduceLeft((a, b) => a.join(b, Seq("Team"), "inner"))

  /** A1: player-level expected assists rolled up to team with
    * order-independent sums (reference dag-transform.py:166-169). */
  def assistRollup(playerAssists: DataFrame): DataFrame =
    playerAssists
      .groupBy(col("Team"))
      .agg(
        sum(col("Actual Assists").cast(DecT)).cast("double").as("Actual Assists"),
        sum(col("Expected Assists (xA)").cast(DecT)).cast("double").as("Expected Assists"))

  /** Attack mart (reference dag-transform.py:131-239): 10-way inner join on
    * Team — 9 stat tables + the A1 player→team assist rollup — then the
    * 18-column projection and 10 derived metrics. */
  def attack(t: Map[String, DataFrame]): DataFrame = {
    val joined = innerJoinAll(Seq(
      t("big_chance_team"), t("clean_sheet_team"), t("effective_clearance_team"),
      t("expected_goals_team"), t("ontarget_scoring_att_team"), t("penalty_won_team"),
      t("possession_won_att"), t("team_goals_per_match"), t("touches_in_opp_box_team"),
      assistRollup(t("player_expected_assists"))))
    attackProjectAndDerive(joined)
  }

  /** The attack tables fused (one scan, one shuffle —
    * RefTables.fusedStats) joined only with the per-player assist
    * rollup. Identical output to [[attack]] (shares its oracle via q13).
    * A refresh (`Runner.martBuilders`) needs no join at all: its one
    * aggregate carries the team-level assist sums
    * (`RefTables.TeamAssists`) and goes straight to
    * [[attackProjectAndDerive]]. */
  def attackFused(fusedStats: DataFrame, playerAssists: DataFrame): DataFrame =
    attackProjectAndDerive(
      fusedStats.join(assistRollup(playerAssists), Seq("Team"), "inner"))

  /** P1: 18-column projection incl. the reference's rename
    * (`Conversion Rate (%)` → `Penalties Conversion Rate (%)`, :192),
    * then the 10 derived metrics, over any frame carrying the 17 input
    * columns by name. */
  private[pipelines] def attackProjectAndDerive(joined: DataFrame): DataFrame = {
    val projected = joined.select(
      col("Team"),
      col("Big Chances"), col("Clean Sheets"),
      col("Clearances per Match"), col("Total Clearances"),
      col("Expected Goals"),
      col("Shots on Target per Match"), col("Shot Conversion Rate (%)"),
      col("Penalties Won"),
      col("Conversion Rate (%)").as("Penalties Conversion Rate (%)"),
      col("Possession Won Final 3rd per Match"), col("Total Possessions Won"),
      col("Goals per Match"), col("Total Goals Scored"), col("Matches"),
      col("Touches in Opposition Box"),
      col("Actual Assists"), col("Expected Assists"))
    applyMetrics(projected, attackMetrics)
  }

  /** Defense mart (reference dag-transform.py:243-320): 6-way inner join →
    * 13-column projection → 10 metrics. */
  def defense(t: Map[String, DataFrame]): DataFrame =
    defenseFused(innerJoinAll(Seq(
      t("expected_goals_conceded_team"), t("goals_conceded_team_match"),
      t("interception_team"), t("penalty_conceded_team"), t("saves_team"),
      t("won_tackle_team"))))

  /** The defense projection and metrics over any frame carrying its 13
    * input columns by name: the fused one-scan stat table (scale form)
    * or the joined reference tables ([[defense]]). */
  def defenseFused(stats: DataFrame): DataFrame = {
    val projected = stats.select(
      col("Team"), col("Matches"), col("Expected Goals Conceded"),
      col("Goals Conceded per Match"), col("Total Goals Conceded"),
      col("Interceptions per Match"), col("Total Interceptions"),
      col("Penalties Conceded"), col("Penalty Goals Conceded"),
      col("Saves per Match"), col("Total Saves"),
      col("Successful Tackles per Match"), col("Tackle Success (%)"))
    applyMetrics(projected, defenseMetrics)
  }

  /** Discipline mart (reference dag-transform.py:324-389): 3-way inner join
    * → 7-column projection → 10 metrics. */
  def discipline(t: Map[String, DataFrame]): DataFrame =
    disciplineFused(innerJoinAll(Seq(
      t("fk_foul_lost_team"), t("interception_team"), t("total_yel_card_team"))))

  /** The discipline projection and metrics over any frame carrying its 7
    * input columns by name: the fused one-scan stat table (scale form)
    * or the joined reference tables ([[discipline]]). */
  def disciplineFused(stats: DataFrame): DataFrame = {
    val projected = stats.select(
      col("Team"), col("Matches"), col("Fouls per Match"),
      col("Interceptions per Match"), col("Total Interceptions"),
      col("Yellow Cards"), col("Red Cards"))
    applyMetrics(projected, disciplineMetrics)
  }
}
