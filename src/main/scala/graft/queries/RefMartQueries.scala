package graft.queries

import graft.Q
import graft.ops.Det
import graft.pipelines.{Marts, RefTables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The reference's three analytical jobs as oracle-checked driver queries:
  * fixture-derived team-stat tables (RefTables) → exact reference mart
  * topology (Marts: 10/6/3-way inner joins on `Team`, wide projection,
  * 10 derived metrics each). SURVEY §2.3-2.6 / J1-J3 / A1 / P1-P4.
  */
object RefMartQueries {

  private def metricsSql(metrics: Seq[(String, String)]): String =
    metrics.map { case (n, f) => s"""  ${Marts.sqlFormula(f)} AS "$n"""" }.mkString(",\n")

  // ---- attack ---------------------------------------------------------

  def attack(spark: SparkSession, dir: String): DataFrame =
    Marts.attack(RefTables.tables(spark, dir)).orderBy(col("Team"))

  private val attackSql = {
    val tables = Seq(
      "big_chance_team", "clean_sheet_team", "effective_clearance_team",
      "expected_goals_team", "ontarget_scoring_att_team", "penalty_won_team",
      "possession_won_att", "team_goals_per_match", "touches_in_opp_box_team",
      "player_expected_assists")
    s"""${RefTables.withClause(tables)},
       |assists AS (
       |  SELECT "Team",
       |    ${Det.sqlSum("\"Actual Assists\"")} AS "Actual Assists",
       |    ${Det.sqlSum("\"Expected Assists (xA)\"")} AS "Expected Assists"
       |  FROM player_expected_assists GROUP BY 1
       |),
       |projected AS (
       |  SELECT "Team", "Big Chances", "Clean Sheets",
       |    "Clearances per Match", "Total Clearances", "Expected Goals",
       |    "Shots on Target per Match", "Shot Conversion Rate (%)",
       |    "Penalties Won",
       |    "Conversion Rate (%)" AS "Penalties Conversion Rate (%)",
       |    "Possession Won Final 3rd per Match", "Total Possessions Won",
       |    "Goals per Match", "Total Goals Scored", "Matches",
       |    "Touches in Opposition Box", "Actual Assists", "Expected Assists"
       |  FROM big_chance_team
       |  JOIN clean_sheet_team USING ("Team")
       |  JOIN effective_clearance_team USING ("Team")
       |  JOIN expected_goals_team USING ("Team")
       |  JOIN ontarget_scoring_att_team USING ("Team")
       |  JOIN penalty_won_team USING ("Team")
       |  JOIN possession_won_att USING ("Team")
       |  JOIN team_goals_per_match USING ("Team")
       |  JOIN touches_in_opp_box_team USING ("Team")
       |  JOIN assists USING ("Team")
       |)
       |SELECT projected.*,
       |${metricsSql(Marts.attackMetrics)}
       |FROM projected ORDER BY "Team"""".stripMargin
  }

  // ---- attack, fused (scale rewrite) ----------------------------------

  /** Same mart, one lineitem scan + one shuffle for all nine stat tables
    * (RefTables.fusedStats) — proves the scan-sharing rewrite against
    * the identical oracle. */
  def attackFused(spark: SparkSession, dir: String): DataFrame =
    Marts.attackFused(
      RefTables.fusedStats(spark, dir, RefTables.attackTableNames),
      RefTables.tables(spark, dir)("player_expected_assists"))
      .orderBy(col("Team"))

  def defenseFused(spark: SparkSession, dir: String): DataFrame =
    Marts.defenseFused(
      RefTables.fusedStats(spark, dir, RefTables.defenseTableNames))
      .orderBy(col("Team"))

  def disciplineFused(spark: SparkSession, dir: String): DataFrame =
    Marts.disciplineFused(
      RefTables.fusedStats(spark, dir, RefTables.disciplineTableNames))
      .orderBy(col("Team"))

  // ---- defense --------------------------------------------------------

  def defense(spark: SparkSession, dir: String): DataFrame =
    Marts.defense(RefTables.tables(spark, dir)).orderBy(col("Team"))

  private val defenseSql = {
    val tables = Seq(
      "expected_goals_conceded_team", "goals_conceded_team_match",
      "interception_team", "penalty_conceded_team", "saves_team",
      "won_tackle_team")
    s"""${RefTables.withClause(tables)},
       |projected AS (
       |  SELECT "Team", "Matches", "Expected Goals Conceded",
       |    "Goals Conceded per Match", "Total Goals Conceded",
       |    "Interceptions per Match", "Total Interceptions",
       |    "Penalties Conceded", "Penalty Goals Conceded",
       |    "Saves per Match", "Total Saves",
       |    "Successful Tackles per Match", "Tackle Success (%)"
       |  FROM expected_goals_conceded_team
       |  JOIN goals_conceded_team_match USING ("Team")
       |  JOIN interception_team USING ("Team")
       |  JOIN penalty_conceded_team USING ("Team")
       |  JOIN saves_team USING ("Team")
       |  JOIN won_tackle_team USING ("Team")
       |)
       |SELECT projected.*,
       |${metricsSql(Marts.defenseMetrics)}
       |FROM projected ORDER BY "Team"""".stripMargin
  }

  // ---- discipline -----------------------------------------------------

  def discipline(spark: SparkSession, dir: String): DataFrame =
    Marts.discipline(RefTables.tables(spark, dir)).orderBy(col("Team"))

  private val disciplineSql = {
    val tables = Seq("fk_foul_lost_team", "interception_team", "total_yel_card_team")
    s"""${RefTables.withClause(tables)},
       |projected AS (
       |  SELECT "Team", "Matches", "Fouls per Match",
       |    "Interceptions per Match", "Total Interceptions",
       |    "Yellow Cards", "Red Cards"
       |  FROM fk_foul_lost_team
       |  JOIN interception_team USING ("Team")
       |  JOIN total_yel_card_team USING ("Team")
       |)
       |SELECT projected.*,
       |${metricsSql(Marts.disciplineMetrics)}
       |FROM projected ORDER BY "Team"""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("q10_attack_mart", attack, Some(attackSql),
      "reference attack job: 10-way inner join + A1 rollup + 10 expr metrics"),
    Q("q13_attack_mart_fused", attackFused, Some(attackSql),
      "attack mart from one fused scan/shuffle — same oracle as q10"),
    Q("q11_defense_mart", defense, Some(defenseSql),
      "reference defense job: 6-way inner join + 10 expr metrics"),
    Q("q12_discipline_mart", discipline, Some(disciplineSql),
      "reference discipline job: 3-way inner join + 10 expr metrics"),
    Q("q14_defense_mart_fused", defenseFused, Some(defenseSql),
      "defense mart from one fused scan/shuffle — same oracle as q11"),
    Q("q15_discipline_mart_fused", disciplineFused, Some(disciplineSql),
      "discipline mart from one fused scan/shuffle — same oracle as q12"))
}
