package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, floor}
import graft.pipelines.{Marts, RefTables}

/** Golden tests for reference-parity mart semantics (SURVEY §5.3):
  * exact output column sets, inner-join drop of teams missing from any
  * input, NULL metrics on zero denominators, duplicate-key row
  * multiplication, hand-computed metric values.
  */
class MartsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- synthesized discipline inputs (3-way, small enough to hand-check)
  // Teams: Alpha (normal), Beta (Red Cards = 0 → NULL ratio), Gamma only
  // in two of three inputs (inner-join drop), Dup duplicated in one input.
  private def disciplineTables: Map[String, DataFrame] = Map(
    "fk_foul_lost_team" -> Seq(
      ("Alpha", 10L, 2.0), ("Beta", 20L, 1.5), ("Gamma", 5L, 3.0),
      ("Dup", 4L, 1.0))
      .toDF("Team", "Matches", "Fouls per Match"),
    "interception_team" -> Seq(
      ("Alpha", 8.0, 80L), ("Beta", 5.0, 100L),
      ("Dup", 2.0, 8L), ("Dup", 3.0, 12L))
      .toDF("Team", "Interceptions per Match", "Total Interceptions"),
    "total_yel_card_team" -> Seq(
      ("Alpha", 30L, 3L), ("Beta", 12L, 0L), ("Dup", 1L, 1L))
      .toDF("Team", "Yellow Cards", "Red Cards"))

  lazy val disc = Marts.discipline(disciplineTables).cache()

  test("discipline mart: exact 7 + 10 output columns") {
    val expected = Seq(
      "Team", "Matches", "Fouls per Match", "Interceptions per Match",
      "Total Interceptions", "Yellow Cards", "Red Cards") ++
      Marts.disciplineMetrics.map(_._1)
    assert(disc.columns.toSeq == expected)
  }

  test("inner join drops teams missing from any input") {
    val teams = disc.select("Team").as[String].collect().toSet
    assert(!teams.contains("Gamma")) // absent from total_yel_card_team
    assert(teams == Set("Alpha", "Beta", "Dup"))
  }

  test("duplicate key multiplies rows (reference §2.4 semantics)") {
    assert(disc.filter($"Team" === "Dup").count() == 2)
  }

  test("zero denominator yields NULL, not error (§2.6)") {
    val beta = disc.filter($"Team" === "Beta")
      .select("Yellow to Red Cards Ratio").collect()(0)
    assert(beta.isNullAt(0)) // Red Cards = 0
  }

  test("hand-computed metrics for Alpha") {
    val row = disc.filter($"Team" === "Alpha").collect()(0)
    def d(n: String) = row.getDouble(row.fieldIndex(n))
    assert(d("Yellow Cards per Match") == 3.0)        // 30/10
    assert(d("Red Cards per Match") == 0.3)           // 3/10
    assert(d("Cards per Match") == 3.3)               // 33/10
    assert(d("Fouls per Yellow Card") == 2.0 * 10 / 30)
    assert(d("Interceptions per Card") == 80.0 / 33)
    assert(d("Discipline Index") == (30 * 1 + 3 * 2 + 2.0 * 10) / 10)
    assert(d("Interceptions Impact") == 80 / (2.0 * 10))
  }

  // ---- attack: column-set parity (18 + 10) on minimal inputs ----------
  test("attack mart: exact 18 + 10 output columns and A1 rollup") {
    val one = Seq(("T1", 1.0)).toDF("Team", "v")
    def t(cols: (String, Double)*): DataFrame =
      cols.foldLeft(one)((d, c) => d.withColumn(c._1, $"v" * c._2)).drop("v")
    val tables = Map(
      "big_chance_team" -> t("Big Chances" -> 10),
      "clean_sheet_team" -> t("Clean Sheets" -> 4),
      "effective_clearance_team" -> t("Clearances per Match" -> 2, "Total Clearances" -> 20),
      "expected_goals_team" -> t("Expected Goals" -> 1.5),
      "ontarget_scoring_att_team" -> t("Shots on Target per Match" -> 5, "Shot Conversion Rate (%)" -> 50),
      "penalty_won_team" -> t("Penalties Won" -> 2, "Conversion Rate (%)" -> 100),
      "possession_won_att" -> t("Possession Won Final 3rd per Match" -> 4, "Total Possessions Won" -> 40),
      "team_goals_per_match" -> t("Goals per Match" -> 2, "Total Goals Scored" -> 20, "Matches" -> 10),
      "touches_in_opp_box_team" -> t("Touches in Opposition Box" -> 30),
      "player_expected_assists" -> Seq(
        ("T1", "p1", 3.0, 2.5), ("T1", "p2", 2.0, 1.5))
        .toDF("Team", "Player", "Actual Assists", "Expected Assists (xA)"))
    val out = Marts.attack(tables)
    assert(out.columns.length == 28)
    val row = out.collect()(0)
    // A1 rollup: sums over the two player rows
    assert(row.getDouble(row.fieldIndex("Actual Assists")) == 5.0)
    assert(row.getDouble(row.fieldIndex("Expected Assists")) == 4.0)
    // a §2.6 metric through expr(): (`Goals per Match`+`Expected Goals`)/2
    assert(row.getDouble(row.fieldIndex("Offensive Performance")) == (2.0 + 1.5) / 2)
    assert(row.getDouble(row.fieldIndex("Shooting Efficiency")) == 5.0 * 50 / 100)
  }

  test("defense mart: exact 13 + 10 output columns") {
    val one = Seq(("T1", 1.0)).toDF("Team", "v")
    def t(cols: (String, Double)*): DataFrame =
      cols.foldLeft(one)((d, c) => d.withColumn(c._1, $"v" * c._2)).drop("v")
    val tables = Map(
      "expected_goals_conceded_team" -> t("Matches" -> 10, "Expected Goals Conceded" -> 12),
      "goals_conceded_team_match" -> t("Goals Conceded per Match" -> 1.2, "Total Goals Conceded" -> 12),
      "interception_team" -> t("Interceptions per Match" -> 8, "Total Interceptions" -> 80),
      "penalty_conceded_team" -> t("Penalties Conceded" -> 3, "Penalty Goals Conceded" -> 2),
      "saves_team" -> t("Saves per Match" -> 4, "Total Saves" -> 40),
      "won_tackle_team" -> t("Successful Tackles per Match" -> 12, "Tackle Success (%)" -> 75))
    val out = Marts.defense(tables)
    assert(out.columns.length == 23)
    val row = out.collect()(0)
    assert(row.getDouble(row.fieldIndex("Save Effectiveness")) == 40.0 / 12)
    assert(row.getDouble(row.fieldIndex("Goals Conceded Efficiency")) == 1.2)
  }

  test("team-level assist sums equal the per-player assist rollup exactly") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val players = RefTables.tables(spark, dir)("player_expected_assists")
      // fractional per-player sums: the rollup's double → decimal round
      // trip has digits to lose
      for (c <- Seq("Actual Assists", "Expected Assists (xA)"))
        assert(!players.filter(col(c) =!= floor(col(c))).isEmpty,
          s"no fractional per-player $c at $dir")
      def rows(df: DataFrame) = df
        .select("Team", "Actual Assists", "Expected Assists")
        .as[(String, Double, Double)].collect().sortBy(_._1).toSeq
      val rolled = rows(Marts.assistRollup(players))
      val direct = rows(RefTables.fusedStats(spark, dir, Seq(RefTables.TeamAssists)))
      assert(rolled.nonEmpty)
      assert(direct == rolled) // exact, every double bit
    }
  }
}
