package graft.pipelines

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** One-pass data-quality guard: attach row-count and per-column
  * null-count metrics to a frame via `observe()`, then validate them
  * AFTER the write action — zero extra scans, unlike the
  * count-then-write double pass most pipelines bolt on (which at 100 TB
  * is a full extra read of the mart). The metrics ride the same job
  * that materializes the data.
  *
  * Usage:
  * {{{
  *   val (guarded, obs) = Guard.withMetrics(mart, Seq("Team", "Goals"))
  *   sink.write(guarded, name)                   // one job
  *   Guard.check(obs, minRows = 1, maxNullFrac = 0.0, Seq("Team"))
  *     .left.foreach(violations => throw ...)    // no second scan
  * }}}
  */
object Guard {

  /** Attach metrics; returns the instrumented frame + its observation. */
  def withMetrics(df: DataFrame, nullCols: Seq[String]): (DataFrame, Observation) = {
    val obs = new Observation()
    val metrics = count(lit(1)).as("rows") +:
      nullCols.map(c => count(when(col(c).isNull, 1)).as(s"nulls_$c"))
    (df.observe(obs, metrics.head, metrics.tail: _*), obs)
  }

  /** ANALYZE-style numeric column profile: one row per column with
    * min/max/null count/exact distinct count — the stats table a
    * warehouse keeps per dataset, computed in ONE partial+final
    * aggregate pass over the data (every per-column aggregate rides the
    * same job; the unpivot to rows is a zero-cost projection of the
    * 1-row aggregate). Exact ndv by design: it is the expensive-but-
    * hashable choice (approx_count_distinct is engine-specific); at
    * 100 TB swap in the HLL rollup (q106) per column. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(min(col(c)).cast("double").as(s"min_$c"),
        max(col(c)).cast("double").as(s"max_$c"),
        count(when(col(c).isNull, 1)).as(s"nulls_$c"),
        count_distinct(col(c)).as(s"ndv_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    cols.map { c =>
      one.select(lit(c).as("col_name"), col(s"min_$c").as("min_v"),
        col(s"max_$c").as("max_v"), col(s"nulls_$c").as("n_nulls"),
        col(s"ndv_$c").as("ndv"))
    }.reduce(_.unionByName(_))
  }

  /** dbt-style integrity checks, each one aggregate returning a
    * violation count (0 = pass): key uniqueness, referential integrity
    * (child keys present in parent), and accepted-values domain. */
  def uniqueViolations(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .agg(coalesce(sum(col("n") - 1), lit(0L)).as("violations"))

  def refIntegrityViolations(child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame =
    child.select(col(childKey)).filter(col(childKey).isNotNull)
      .join(parent.select(col(parentKey).as(childKey)).distinct(),
        Seq(childKey), "left_anti")
      .agg(count(lit(1)).as("violations"))

  def acceptedValuesViolations(df: DataFrame, c: String,
      accepted: Seq[String]): DataFrame =
    df.filter(!col(c).isInCollection(accepted) || col(c).isNull)
      .agg(count(lit(1)).as("violations"))

  /** Declarative expectation set for [[expectations]]: not-null columns,
    * accepted-value domains and numeric [lo, hi] ranges. Everything here
    * folds into ONE aggregate pass. (Uniqueness and referential
    * integrity need their own shuffle/join by nature — use
    * [[uniqueViolations]] / [[refIntegrityViolations]] alongside.) */
  final case class Expectations(
      notNull: Seq[String] = Nil,
      accepted: Map[String, Seq[String]] = Map.empty,
      ranges: Map[String, (Double, Double)] = Map.empty)

  /** Compile the whole expectation set into ONE aggregate returning a
    * single report row: `rows` plus one violation count per rule
    * (`null_<col>`, `domain_<col>`, `range_<col>`); a row floor is a
    * comparison against `rows`. One scan, one
    * map-side-combinable aggregate, no matter how many rules — the
    * Deequ-style analyzer shape that stays a single pass at 100 TB,
    * where every per-rule `df.filter(...).count()` loop would be a full
    * extra read per rule. */
  def expectations(df: DataFrame, e: Expectations): DataFrame = {
    val aggs = count(lit(1)).as("rows") +: (
      e.notNull.map(c =>
        count(when(col(c).isNull, 1)).as(s"null_$c")) ++
      e.accepted.toSeq.sortBy(_._1).map { case (c, vs) =>
        count(when(col(c).isNull || !col(c).isInCollection(vs), 1))
          .as(s"domain_$c") } ++
      e.ranges.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
        count(when(col(c) < lo || col(c) > hi, 1)).as(s"range_$c") })
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Schema contract check — the fail-loud answer to the reference's
    * inferSchema-everywhere posture (SURVEY §1.2: a silent upstream
    * rename breaks select lists at runtime). Returns every drift as a
    * human-readable line: missing columns, unexpected extras, and type
    * changes. Column ORDER is deliberately not a violation (readers
    * select by name); nullability is compared only when
    * `checkNullability` (Spark often widens it on write). */
  def schemaDrift(df: org.apache.spark.sql.DataFrame,
      expected: org.apache.spark.sql.types.StructType,
      checkNullability: Boolean = false): Seq[String] = {
    val got = df.schema.map(f => f.name -> f).toMap
    val exp = expected.map(f => f.name -> f).toMap
    val missing = expected.map(_.name).filterNot(got.contains)
      .map(n => s"missing column: $n")
    val extra = df.schema.map(_.name).filterNot(exp.contains)
      .map(n => s"unexpected column: $n")
    val changed = expected.flatMap { f =>
      got.get(f.name).toSeq.flatMap { g =>
        val t = if (g.dataType != f.dataType)
          Seq(s"column ${f.name}: type ${g.dataType.simpleString} != " +
            s"expected ${f.dataType.simpleString}") else Nil
        val nl = if (checkNullability && g.nullable != f.nullable)
          Seq(s"column ${f.name}: nullable ${g.nullable} != " +
            s"expected ${f.nullable}") else Nil
        t ++ nl
      }
    }
    missing ++ extra ++ changed
  }

  /** Validate collected metrics; Left = human-readable violations. Call
    * only after an action has run on the instrumented frame. */
  def check(obs: Observation, minRows: Long, maxNullFrac: Double,
      nullCols: Seq[String]): Either[Seq[String], Map[String, Long]] = {
    val m = obs.get
    val rows = m("rows").asInstanceOf[Long]
    val nulls = nullCols.map(c => c -> m(s"nulls_$c").asInstanceOf[Long]).toMap
    val violations =
      (if (rows < minRows) Seq(s"rows=$rows below minRows=$minRows") else Nil) ++
        nulls.collect {
          case (c, n) if rows > 0 && n.toDouble / rows > maxNullFrac =>
            s"column $c: $n/$rows nulls exceeds maxNullFrac=$maxNullFrac"
        }
    if (violations.nonEmpty) Left(violations)
    else Right(nulls + ("rows" -> rows))
  }
}
