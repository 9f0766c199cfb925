package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.Catalog
import graft.ops.Det

/** Derives the reference's 18 team-stat tables (FIXTURES.md §B schemas)
  * from the fixture star schema, deterministically, with a 1:1 DuckDB CTE
  * per table — so the reference-parity marts run as driver queries with a
  * full oracle.
  *
  * Mapping: supplier = "Team" (s_name), lineitem = per-event facts. Each
  * stat is a per-supplier aggregate chosen to exercise a distinct shape:
  * conditional counts, distinct counts, decimal-exact sums, ratios of both.
  * Values are arbitrary but fixed — the point is operator semantics
  * (join/agg/expr), not football.
  *
  * Scale: [[tables]] keeps the reference's topology, one groupBy over
  * lineitem ⋈ broadcast supplier per table — the parity form the marts'
  * oracles and the benchmark's output check compare against. The
  * production path is [[fusedStats]]: any set of tables as ONE groupBy
  * over that join, so a mart refresh reads lineitem once
  * (`Runner.martBuilders` aggregates all three marts' tables, plus the
  * team-level assist sums [[TeamAssists]], in one pass). Output is
  * #suppliers rows, which the refresh collects to the driver: its
  * supplier count is bounded by the driver heap (`Runner.martBuilders`).
  */
object RefTables {

  private def base(spark: SparkSession, dir: String): DataFrame = {
    val li = Catalog.load(spark, dir, "lineitem")
    val s = Catalog.load(spark, dir, "supplier")
    li.join(broadcast(s), li("l_suppkey") === s("s_suppkey"))
  }

  private def cnt(cond: org.apache.spark.sql.Column) = count(when(cond, lit(1)))

  /** Per-table aggregate expressions, shared by the per-table plans and
    * the fused single-scan variant ([[fusedStats]]). */
  private def aggExprs: Map[String, Seq[org.apache.spark.sql.Column]] = {
    val matches = countDistinct(col("l_orderkey")).as("Matches")
    Map(
      "big_chance_team" -> Seq(cnt(col("l_quantity") >= 30).as("Big Chances")),
      "clean_sheet_team" -> Seq(cnt(col("l_discount") === 0).as("Clean Sheets")),
      "effective_clearance_team" -> Seq(
        (Det.dsum(col("l_quantity")) / count(lit(1))).as("Clearances per Match"),
        Det.dsum(col("l_quantity")).as("Total Clearances")),
      "expected_goals_team" -> Seq(
        (Det.dsum(col("l_extendedprice")) / lit(1000000)).as("Expected Goals")),
      "ontarget_scoring_att_team" -> Seq(
        (Det.dsum(col("l_quantity") * (lit(1) - col("l_discount"))) / count(lit(1)))
          .as("Shots on Target per Match"),
        (cnt(col("l_quantity") >= 30) * lit(100) / count(lit(1)))
          .as("Shot Conversion Rate (%)")),
      "penalty_won_team" -> Seq(
        cnt(col("l_returnflag") === "R").as("Penalties Won"),
        (cnt(col("l_returnflag") === "R") * lit(100) / count(lit(1)))
          .as("Conversion Rate (%)")),
      "possession_won_att" -> Seq(
        (Det.dsum(col("l_tax") * 100) / count(lit(1))).as("Possession Won Final 3rd per Match"),
        cnt(col("l_tax") > 0.03).as("Total Possessions Won")),
      "team_goals_per_match" -> Seq(
        (Det.dsum(col("l_quantity")) / countDistinct(col("l_orderkey"))).as("Goals per Match"),
        Det.dsum(col("l_quantity")).as("Total Goals Scored"), matches),
      "touches_in_opp_box_team" -> Seq(cnt(col("l_linenumber") === 1).as("Touches in Opposition Box")),
      "expected_goals_conceded_team" -> Seq(
        matches,
        Det.dsum(col("l_tax") * col("l_quantity")).as("Expected Goals Conceded")),
      "goals_conceded_team_match" -> Seq(
        (cnt(col("l_returnflag") === "A").cast("double") / countDistinct(col("l_orderkey")))
          .as("Goals Conceded per Match"),
        cnt(col("l_returnflag") === "A").as("Total Goals Conceded")),
      "interception_team" -> Seq(
        (cnt(col("l_linestatus") === "F").cast("double") / countDistinct(col("l_orderkey")))
          .as("Interceptions per Match"),
        cnt(col("l_linestatus") === "F").as("Total Interceptions")),
      "penalty_conceded_team" -> Seq(
        cnt(col("l_quantity") < 5).as("Penalties Conceded"),
        cnt(col("l_quantity") < 3).as("Penalty Goals Conceded")),
      "saves_team" -> Seq(
        (cnt(col("l_discount") >= 0.05).cast("double") / countDistinct(col("l_orderkey")))
          .as("Saves per Match"),
        cnt(col("l_discount") >= 0.05).as("Total Saves")),
      "won_tackle_team" -> Seq(
        (cnt(col("l_tax") <= 0.04).cast("double") / countDistinct(col("l_orderkey")))
          .as("Successful Tackles per Match"),
        (cnt(col("l_tax") <= 0.04) * lit(100) / count(lit(1))).as("Tackle Success (%)")),
      "fk_foul_lost_team" -> Seq(
        matches,
        (cnt(col("l_discount") > 0.07).cast("double") / countDistinct(col("l_orderkey")))
          .as("Fouls per Match")),
      "total_yel_card_team" -> Seq(
        cnt(col("l_returnflag") === "N").as("Yellow Cards"),
        cnt(col("l_returnflag") === "R" && col("l_linestatus") === "F").as("Red Cards")),
      TeamAssists -> Seq(
        Det.dsum(col("l_quantity") * col("l_discount")).as("Actual Assists"),
        Det.dsum(col("l_extendedprice") * col("l_discount")).as("Expected Assists")))
  }

  /** The attack mart's A1 assist columns summed straight to Team — the
    * one [[fusedStats]] entry that is not a reference table. Each row is
    * cast to decimal(38,6) before the sum, as in the per-player
    * `player_expected_assists` sums, and a player's exact decimal sum
    * (at most 15 significant digits, so the nearest double reads back as
    * the same decimal) survives `Marts.assistRollup`'s double →
    * decimal(38,6) round trip. So these equal the rollup of the
    * per-player rows exactly (MartsSpec pins it), without a second,
    * per-player aggregate. */
  val TeamAssists = "team_expected_assists"

  /** The six defense / three discipline stat tables in join order. */
  val defenseTableNames: Seq[String] = Seq(
    "expected_goals_conceded_team", "goals_conceded_team_match",
    "interception_team", "penalty_conceded_team", "saves_team", "won_tackle_team")
  val disciplineTableNames: Seq[String] = Seq(
    "fk_foul_lost_team", "interception_team", "total_yel_card_team")

  /** Generic fused stat table: the union of the named tables' aggregates
    * in ONE scan + ONE shuffle (they all group on Team and inner-join on
    * it, so the fused groupBy is semantically the joined result as long
    * as column names are disjoint — which each mart's table set is,
    * deduplicated here for the shared `Matches`). */
  def fusedStats(spark: SparkSession, dir: String, tableNames: Seq[String]): DataFrame = {
    // dedupe repeated aggregates (e.g. the shared `Matches` appears in two
    // defense tables as the identical Column) by their rendered form
    val cols = tableNames.flatMap(aggExprs).distinctBy(_.toString)
    base(spark, dir).groupBy(col("s_name").as("Team")).agg(cols.head, cols.tail: _*)
  }

  /** The nine attack stat tables in join order. */
  val attackTableNames: Seq[String] = Seq(
    "big_chance_team", "clean_sheet_team", "effective_clearance_team",
    "expected_goals_team", "ontarget_scoring_att_team", "penalty_won_team",
    "possession_won_att", "team_goals_per_match", "touches_in_opp_box_team")

  /** All 18 reference-shaped tables as DataFrames keyed by reference
    * name: one groupBy per team table of [[aggExprs]] (the assist sums
    * [[TeamAssists]] are not a reference table), plus the per-player
    * assists. */
  def tables(spark: SparkSession, dir: String): Map[String, DataFrame] = {
    val b = base(spark, dir)
    (aggExprs - TeamAssists).map { case (name, cs) =>
      name -> b.groupBy(col("s_name").as("Team")).agg(cs.head, cs.tail: _*)
    } + (
      // per-player rows: player = (Team, l_partkey); mart rolls up (A1)
      "player_expected_assists" -> b.groupBy(col("s_name").as("Team"), col("l_partkey").as("Player"))
        .agg(
          Det.dsum(col("l_quantity") * col("l_discount")).as("Actual Assists"),
          // NB: no post-division here — the per-player value must stay
          // exactly representable at 6 decimals, or the mart's re-cast to
          // decimal hits 1e-6 midpoints where Spark (HALF_UP) and DuckDB
          // (exact-binary nearest) round differently.
          Det.dsum(col("l_extendedprice") * col("l_discount"))
            .as("Expected Assists (xA)")))
  }

  // ---- DuckDB oracle CTEs (1:1 with the DataFrames above) -------------

  private val baseCte =
    """base AS (
      |  SELECT s_name AS "Team", l_orderkey, l_partkey, l_quantity,
      |         l_extendedprice, l_discount, l_tax, l_returnflag,
      |         l_linestatus, l_linenumber
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |)""".stripMargin

  private def dsumSql(e: String) = Det.sqlSum(e)

  /** CTE text per reference table, same names/aliases as [[tables]]. */
  val ctes: Map[String, String] = Map(
    "big_chance_team" ->
      """SELECT "Team", COUNT(*) FILTER (l_quantity >= 30) AS "Big Chances" FROM base GROUP BY 1""",
    "clean_sheet_team" ->
      """SELECT "Team", COUNT(*) FILTER (l_discount = 0) AS "Clean Sheets" FROM base GROUP BY 1""",
    "effective_clearance_team" ->
      s"""SELECT "Team", ${dsumSql("l_quantity")} / COUNT(*) AS "Clearances per Match",
         |       ${dsumSql("l_quantity")} AS "Total Clearances" FROM base GROUP BY 1""".stripMargin,
    "expected_goals_team" ->
      s"""SELECT "Team", ${dsumSql("l_extendedprice")} / 1000000 AS "Expected Goals" FROM base GROUP BY 1""",
    "ontarget_scoring_att_team" ->
      s"""SELECT "Team", ${dsumSql("l_quantity * (1 - l_discount)")} / COUNT(*) AS "Shots on Target per Match",
         |       COUNT(*) FILTER (l_quantity >= 30) * 100 / COUNT(*) AS "Shot Conversion Rate (%)"
         |FROM base GROUP BY 1""".stripMargin,
    "penalty_won_team" ->
      """SELECT "Team", COUNT(*) FILTER (l_returnflag = 'R') AS "Penalties Won",
        |       COUNT(*) FILTER (l_returnflag = 'R') * 100 / COUNT(*) AS "Conversion Rate (%)"
        |FROM base GROUP BY 1""".stripMargin,
    "possession_won_att" ->
      s"""SELECT "Team", ${dsumSql("l_tax * 100")} / COUNT(*) AS "Possession Won Final 3rd per Match",
         |       COUNT(*) FILTER (l_tax > 0.03) AS "Total Possessions Won" FROM base GROUP BY 1""".stripMargin,
    "team_goals_per_match" ->
      s"""SELECT "Team", ${dsumSql("l_quantity")} / COUNT(DISTINCT l_orderkey) AS "Goals per Match",
         |       ${dsumSql("l_quantity")} AS "Total Goals Scored",
         |       COUNT(DISTINCT l_orderkey) AS "Matches" FROM base GROUP BY 1""".stripMargin,
    "touches_in_opp_box_team" ->
      """SELECT "Team", COUNT(*) FILTER (l_linenumber = 1) AS "Touches in Opposition Box" FROM base GROUP BY 1""",
    "player_expected_assists" ->
      s"""SELECT "Team", l_partkey AS "Player",
         |       ${dsumSql("l_quantity * l_discount")} AS "Actual Assists",
         |       ${dsumSql("l_extendedprice * l_discount")} AS "Expected Assists (xA)"
         |FROM base GROUP BY 1, 2""".stripMargin,
    "expected_goals_conceded_team" ->
      s"""SELECT "Team", COUNT(DISTINCT l_orderkey) AS "Matches",
         |       ${dsumSql("l_tax * l_quantity")} AS "Expected Goals Conceded" FROM base GROUP BY 1""".stripMargin,
    "goals_conceded_team_match" ->
      """SELECT "Team", CAST(COUNT(*) FILTER (l_returnflag = 'A') AS DOUBLE) / COUNT(DISTINCT l_orderkey) AS "Goals Conceded per Match",
        |       COUNT(*) FILTER (l_returnflag = 'A') AS "Total Goals Conceded" FROM base GROUP BY 1""".stripMargin,
    "interception_team" ->
      """SELECT "Team", CAST(COUNT(*) FILTER (l_linestatus = 'F') AS DOUBLE) / COUNT(DISTINCT l_orderkey) AS "Interceptions per Match",
        |       COUNT(*) FILTER (l_linestatus = 'F') AS "Total Interceptions" FROM base GROUP BY 1""".stripMargin,
    "penalty_conceded_team" ->
      """SELECT "Team", COUNT(*) FILTER (l_quantity < 5) AS "Penalties Conceded",
        |       COUNT(*) FILTER (l_quantity < 3) AS "Penalty Goals Conceded" FROM base GROUP BY 1""".stripMargin,
    "saves_team" ->
      """SELECT "Team", CAST(COUNT(*) FILTER (l_discount >= 0.05) AS DOUBLE) / COUNT(DISTINCT l_orderkey) AS "Saves per Match",
        |       COUNT(*) FILTER (l_discount >= 0.05) AS "Total Saves" FROM base GROUP BY 1""".stripMargin,
    "won_tackle_team" ->
      """SELECT "Team", CAST(COUNT(*) FILTER (l_tax <= 0.04) AS DOUBLE) / COUNT(DISTINCT l_orderkey) AS "Successful Tackles per Match",
        |       COUNT(*) FILTER (l_tax <= 0.04) * 100 / COUNT(*) AS "Tackle Success (%)" FROM base GROUP BY 1""".stripMargin,
    "fk_foul_lost_team" ->
      """SELECT "Team", COUNT(DISTINCT l_orderkey) AS "Matches",
        |       CAST(COUNT(*) FILTER (l_discount > 0.07) AS DOUBLE) / COUNT(DISTINCT l_orderkey) AS "Fouls per Match" FROM base GROUP BY 1""".stripMargin,
    "total_yel_card_team" ->
      """SELECT "Team", COUNT(*) FILTER (l_returnflag = 'N') AS "Yellow Cards",
        |       COUNT(*) FILTER (l_returnflag = 'R' AND l_linestatus = 'F') AS "Red Cards" FROM base GROUP BY 1""".stripMargin)

  /** WITH-clause prelude containing base + the given reference tables. */
  def withClause(tableNames: Seq[String]): String = {
    val parts = baseCte +: tableNames.map(n => s"""$n AS (\n${ctes(n)}\n)""")
    "WITH " + parts.mkString(",\n")
  }
}
