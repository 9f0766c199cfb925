package graft.queries

import graft.Q
import graft.catalog.Catalog
import graft.ops.Det._
import graft.ops.{DedupOps, GlobalRank, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Pin._

/** Round-14/15 COMPOSITIONS: each query chains machinery from several
  * already-proven operator families end-to-end — the staged reports a
  * real curation / analytics pipeline runs, not new scalar statistics
  * (the r13 verdict's "breadth continues into compositions" direction).
  * Every entry is class-A oracle-checked: the DuckDB statement replays
  * the WHOLE chain (including the recursive-CTE connected components
  * where near-dup clustering participates), so the driver hash-gates
  * the composition, not just its legs.
  *
  * Scale discipline carried over from the component families:
  * single-explode fused token profiles (two-stage exact aggregation, no
  * Expand), banded df-capped near-dup candidates (never corpus×corpus),
  * GlobalRank range-shuffle ranks instead of single-partition windows
  * on per-document frames, quota algebra only over stratum-sized
  * aggregates, and trailing-window statistics on bounded calendar
  * spines.
  */
object CompositionQueries {

  private def docs(spark: SparkSession, dir: String) =
    Catalog.load(spark, dir, "documents")

  private val Langs = Seq("en", "es", "de", "fr", "zh")
  private def stopsSql(l: String) =
    TextOps.stopwords(l).map(s => s"'$s'").mkString(", ")

  /** Fused per-doc text profile: ONE explode, two-stage EXACT
    * aggregation (per-(doc,tok) counts, then per-doc sums) so token
    * total, distinct count, English stop count and the five language
    * votes all come out of a single shuffle with combinable aggregates
    * — no Expand rewrite (countDistinct mixed with other aggs) and no
    * second corpus scan. The q52 quality score and the q53 stopword
    * argmax are then per-row arithmetic over exact counts, bit-identical
    * on any engine. */
  private def docProfile(d: DataFrame): DataFrame = {
    val tf = TextOps.exploded(d)
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val votes = Langs.map { l =>
      sum(when(col("tok").isInCollection(TextOps.stopwords(l)), col("cnt"))
        .otherwise(0L)).as(s"c_$l")
    }
    val aggs = Seq(
      count(lit(1)).as("n_distinct"),
      sum(when(col("tok").isInCollection(TextOps.stopwords("en")),
        col("cnt")).otherwise(0L)).as("n_stop")) ++ votes
    val prof = tf.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"), aggs: _*)
    val best = Langs.map(l => col(s"c_$l")).reduce((a, b) => greatest(a, b))
    val pred = Langs.foldRight(lit("und"): Column) { (l, rest) =>
      when(col(s"c_$l") === best && best > 0, l).otherwise(rest)
    }
    prof.select(col("doc_id"), col("n_tokens"),
      (least(col("n_tokens").cast("double") / 100, lit(1.0)) * 0.4 +
        (col("n_stop").cast("double") / col("n_tokens")) * 0.3 +
        (col("n_distinct").cast("double") / col("n_tokens")) * 0.3)
        .as("quality"),
      pred.as("pred_lang"))
  }

  // ---- q523: the curation funnel report ------------------------------

  /** End-to-end curation FUNNEL per (lang, source): corpus in →
    * language-confirmed (q53 stopword argmax agrees with the declared
    * label — the gate a multilingual pipeline applies before trusting
    * labels) → quality-passed (q52 score ≥ 0.5) → near-dup-deduplicated
    * (q65's exact 5-gram Jaccard ≥ 0.5 components; the kept doc is each
    * component's min-id member AMONG the quality survivors, so dedup
    * never resurrects a filtered doc), plus the token mass that survives
    * the whole chain. Stage counts are monotone non-increasing by
    * construction — the observability row a training-data pipeline reads
    * before committing a mixture (CompositionSpec pins monotonicity).
    *
    * Cost shape: one explode-aggregate for the profile ([[docProfile]]),
    * the q65 banded candidate join for components (df-capped postings —
    * never corpus×corpus), one doc-keyed join of the two, one window
    * over cluster partitions (component-sized frames), one final
    * combinable rollup on (lang, source). */
  /** The FRESH doc-grain builder — doc_id, lang, source, n_tokens,
    * quality, flags, cluster_rep: one fused profile pass joined to the
    * memoized component assignment. PlanSpec asserts the single-explode
    * / no-Expand shape HERE (the memoized handle below plans as a bare
    * `Scan ExistingRDD`, where a reintroduced second token pass would
    * be invisible). */
  private[graft] def curationDocGrainFresh(spark: SparkSession,
      dir: String): DataFrame = {
    val d = docs(spark, dir)
    val prof = docProfile(d)
    val clusters = CorpusFrames.clusters(spark, dir)
    d.select(col("doc_id"), col("lang"), col("source"))
      .join(prof, Seq("doc_id"), "left_outer")
      .withColumn("lang_ok",
        coalesce(col("pred_lang") === col("lang"), lit(false)))
      .withColumn("q_ok", col("lang_ok") && col("quality") >= 0.5)
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
      .join(clusters, "doc_id")
  }

  /** Session-memoized curation grain — q523 and q529 both consume it,
    * and each was paying the explode-profile pass per run.
    * [[SessionFrames]] localCheckpoints the frame (same staleness
    * contract as [[CorpusFrames.clusters]]; Bench pre-warms it), so
    * consumers must NOT re-checkpoint. */
  private[graft] def curationDocGrain(spark: SparkSession,
      dir: String): DataFrame =
    SessionFrames.cached("curation_grain", dir, spark)(
      curationDocGrainFresh(spark, dir))

  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    // per-component survivor rep via groupBy + join-back, NOT a window
    // over cluster_rep: a giant component (boilerplate family) would put
    // its whole membership through one window task's sort, while the
    // aggregate form pre-combines map-side and the join shuffles the
    // same key — identical exchange count, no skew cliff. The doc-grain
    // frame is consumed twice (rep aggregate + join) and by TWO queries
    // (q523, q529) — the session memo's checkpoint covers both, so the
    // explode/profile subtree can never replan per consumer (PlanSpec
    // pins one Generate on the fresh builder).
    val withClu = curationDocGrain(spark, dir)
    val survRep = withClu.filter(col("q_ok"))
      .groupBy(col("cluster_rep"))
      .agg(min(col("doc_id")).as("surv_rep"))
    withClu.join(survRep, Seq("cluster_rep"), "left_outer")
      .withColumn("kept", col("q_ok") && col("doc_id") === col("surv_rep"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("docs_in"),
        count(when(col("lang_ok"), 1)).as("n_lang_ok"),
        count(when(col("q_ok"), 1)).as("n_quality_ok"),
        count(when(col("kept"), 1)).as("n_kept"),
        sum(when(col("kept"), col("n_tokens")).otherwise(0L))
          .as("tokens_kept"))
      .orderBy(col("lang"), col("source"))
  }

  /** Shared oracle CTE: the fused per-doc profile (token total, quality,
    * predicted language) — the SQL twin of [[docProfile]]. */
  private val profCte = {
    val voteCols = Langs.map(l =>
      s"SUM(CASE WHEN tok IN (${stopsSql(l)}) THEN cnt ELSE 0 END) AS c_$l")
      .mkString(",\n    ")
    val best = s"greatest(${Langs.map(l => s"c_$l").mkString(", ")})"
    val pred = Langs.map(l => s"WHEN c_$l = $best AND $best > 0 THEN '$l'")
      .mkString("CASE ", " ", " ELSE 'und' END")
    s"""tf AS (
       |  SELECT doc_id, tok, COUNT(*) AS cnt
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |        FROM documents)
       |  GROUP BY 1, 2
       |), prof AS (
       |  SELECT doc_id, SUM(cnt) AS n_tokens, COUNT(*) AS n_distinct,
       |    SUM(CASE WHEN tok IN (${stopsSql("en")}) THEN cnt ELSE 0 END)
       |      AS n_stop,
       |    $voteCols
       |  FROM tf GROUP BY 1
       |), scored AS (
       |  SELECT doc_id, n_tokens,
       |    least(CAST(n_tokens AS DOUBLE) / 100, 1.0) * 0.4
       |      + (CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
       |      + (CAST(n_distinct AS DOUBLE) / n_tokens) * 0.3 AS quality,
       |    $pred AS pred_lang
       |  FROM prof
       |)""".stripMargin
  }

  private val curationFunnelSql =
    s"""WITH RECURSIVE ${DedupQueries.reachCtes}, rep AS (
       |  SELECT d.doc_id,
       |    CAST(LEAST(d.doc_id, COALESCE(MIN(r.v), d.doc_id)) AS BIGINT)
       |      AS cluster_rep
       |  FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
       |  GROUP BY d.doc_id
       |), $profCte, flags AS (
       |  SELECT d.doc_id, d.lang, d.source,
       |    COALESCE(s.pred_lang = d.lang, FALSE) AS lang_ok,
       |    COALESCE(s.pred_lang = d.lang AND s.quality >= 0.5, FALSE)
       |      AS q_ok,
       |    COALESCE(s.n_tokens, 0) AS n_tokens
       |  FROM documents d LEFT JOIN scored s USING (doc_id)
       |), surv AS (
       |  SELECT f.*,
       |    MIN(CASE WHEN f.q_ok THEN f.doc_id END)
       |      OVER (PARTITION BY r.cluster_rep) AS surv_rep
       |  FROM flags f JOIN rep r USING (doc_id)
       |)
       |SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS docs_in,
       |  CAST(COUNT(*) FILTER (lang_ok) AS BIGINT) AS n_lang_ok,
       |  CAST(COUNT(*) FILTER (q_ok) AS BIGINT) AS n_quality_ok,
       |  CAST(COUNT(*) FILTER (q_ok AND doc_id = surv_rep) AS BIGINT)
       |    AS n_kept,
       |  CAST(COALESCE(SUM(CASE WHEN q_ok AND doc_id = surv_rep
       |    THEN n_tokens ELSE 0 END), 0) AS BIGINT) AS tokens_kept
       |FROM surv
       |GROUP BY 1, 2
       |ORDER BY lang, source""".stripMargin

  // ---- q524: token-budgeted temperature mixture -----------------------

  /** Token budget for the q524 mixture — sized so it BITES at the
    * fixture scale (per-language token mass is 3.5k–12k at sf0.01). */
  private val MixBudgetTokens = 8000L

  /** Token-BUDGETED temperature mixture: q186's α = 0.5 temperature
    * reweighting applied to TOKEN mass (weight = floor(sqrt(lang
    * tokens)·10⁶)), q120's largest-remainder apportionment of a TOKEN
    * budget across languages, then q125's greedy prefix admission
    * INSIDE each language in the deterministic multiplicative-hash
    * order — i.e. the mixture composer a token-metered (not
    * doc-metered) pre-training run actually needs. A language's take
    * stops at the last doc whose cumulative tokens fit its quota, so
    * tokens_taken ≤ quota_tokens always, and a language with less mass
    * than quota contributes everything (deliberately under budget —
    * stealing the shortfall would distort the declared mixture).
    *
    * Scale shape: the quota algebra runs on the |langs|-row aggregate
    * (WindowSweep-allowlisted bounded frame); the per-document
    * rank+prefix-sum is [[GlobalRank.withRunningSum]] over the total
    * order (lang, hash, id) — one range shuffle, no single-partition
    * window and no per-stratum window task that would hold 1/|langs|
    * of a 100 TB corpus — with each language's in-stratum cumsum
    * recovered by subtracting the preceding languages' token mass
    * (broadcast |langs|-row offsets; integer sums reassociate freely
    * so this is bit-identical to the per-language window form). */
  def tokenBudgetedMixture(spark: SparkSession, dir: String): DataFrame = {
    val p = 1000000007L
    val d = docs(spark, dir).filter(col("lang").isNotNull)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tokens"))
    val perLang = d.groupBy(col("lang"))
      .agg(sum(col("n_tokens")).as("lang_tokens"))
      .withColumn("w",
        floor(sqrt(col("lang_tokens").cast("double")) * 1e6).cast("long"))
    val all = Window.partitionBy(lit(1))
    val quotas = perLang
      .withColumn("tot", sum(col("w")).over(all))
      .withColumn("base", expr(s"($MixBudgetTokens * w) div tot"))
      .withColumn("rem", expr(s"($MixBudgetTokens * w) % tot"))
      .withColumn("leftover",
        lit(MixBudgetTokens) - sum(col("base")).over(all))
      .withColumn("rk", row_number().over(
        Window.partitionBy(lit(1)).orderBy(col("rem").desc, col("lang")))
        .cast("long"))
      .withColumn("lang_offset",
        coalesce(sum(col("lang_tokens")).over(
          Window.partitionBy(lit(1)).orderBy(col("lang"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("lang"), col("w"), col("lang_offset"),
        (col("base") + when(col("rk") <= col("leftover"), 1L)
          .otherwise(0L)).as("quota_tokens"))
    val ranked = GlobalRank.withRunningSum(
      d.withColumn("hkey",
        pmod(pmod(col("doc_id"), lit(p)) * lit(2654435761L), lit(p))),
      Seq(col("lang"), col("hkey"), col("doc_id")),
      col("n_tokens"), "cum_all")
    ranked.join(broadcast(quotas), "lang")
      .withColumn("taken",
        col("cum_all") - col("lang_offset") <= col("quota_tokens"))
      .groupBy(col("lang"))
      .agg(min(col("w")).as("w"),
        min(col("quota_tokens")).as("quota_tokens"),
        count(when(col("taken"), 1)).as("docs_taken"),
        sum(when(col("taken"), col("n_tokens")).otherwise(0L))
          .as("tokens_taken"))
      .orderBy(col("lang"))
  }

  private val tokenBudgetedMixtureSql =
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents WHERE lang IS NOT NULL
       |), s AS (
       |  SELECT lang, SUM(n_tokens) AS lang_tokens,
       |    CAST(floor(sqrt(CAST(SUM(n_tokens) AS DOUBLE)) * 1e6) AS BIGINT)
       |      AS w
       |  FROM d GROUP BY 1
       |), q1 AS (
       |  SELECT lang, w, SUM(w) OVER () AS tot FROM s
       |), q2 AS (
       |  SELECT lang, w, ($MixBudgetTokens * w) // tot AS base,
       |    ($MixBudgetTokens * w) % tot AS rem
       |  FROM q1
       |), q3 AS (
       |  SELECT lang, w, base,
       |    $MixBudgetTokens - SUM(base) OVER () AS leftover,
       |    row_number() OVER (ORDER BY rem DESC, lang) AS rk
       |  FROM q2
       |), quotas AS (
       |  SELECT lang, w,
       |    CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
       |      AS quota_tokens
       |  FROM q3
       |), ranked AS (
       |  SELECT doc_id, lang, n_tokens,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY lang
       |      ORDER BY ((((doc_id % 1000000007) + 1000000007) % 1000000007)
       |                * 2654435761) % 1000000007, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_in_lang
       |  FROM d
       |)
       |SELECT q.lang, q.w, q.quota_tokens,
       |  CAST(COUNT(*) FILTER (r.cum_in_lang <= q.quota_tokens) AS BIGINT)
       |    AS docs_taken,
       |  CAST(COALESCE(SUM(r.n_tokens)
       |    FILTER (r.cum_in_lang <= q.quota_tokens), 0) AS BIGINT)
       |    AS tokens_taken
       |FROM ranked r JOIN quotas q USING (lang)
       |GROUP BY q.lang, q.w, q.quota_tokens
       |ORDER BY q.lang""".stripMargin

  // ---- q525: supplier risk scorecard ----------------------------------

  /** Supplier risk SCORECARD: per-supplier exact metrics from one
    * lineitem rollup (decimal-exact net revenue, return-line rate,
    * distinct-part breadth), account balance from the supplier dim,
    * then WITHIN-NATION tercile grading (ntile(3) over fully
    * deterministic orders — rank-based, so no cross-engine variance
    * arithmetic is needed) and a composite risk grade: a point each for
    * bottom-tercile revenue, top-tercile return rate, bottom-tercile
    * account balance. The relational composition twin of the curation
    * funnel: join + combinable rollup + partitioned window + case
    * grading in one report.
    *
    * Scale shape: lineitem collapses to the supplier grain FIRST
    * (partial-agg combinable; the join carries |suppliers| rows, never
    * fact rows), dims broadcast, the grading windows partition by
    * nation over the supplier-grain frame. */
  def supplierRiskScorecard(spark: SparkSession, dir: String): DataFrame = {
    val li = Catalog.load(spark, dir, "lineitem")
    val sup = Catalog.load(spark, dir, "supplier")
    val nat = Catalog.load(spark, dir, "nation")
    val m = li.groupBy(col("l_suppkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
        count(lit(1)).as("n_lines"),
        count(when(col("l_returnflag") === "R", 1)).as("n_returned"),
        countDistinct(col("l_partkey")).as("n_parts"))
      .withColumn("ret_rate",
        col("n_returned").cast("double") / col("n_lines"))
    val j = sup.join(broadcast(nat),
        sup("s_nationkey") === nat("n_nationkey"))
      .join(m, sup("s_suppkey") === m("l_suppkey"))
    val byNation = Window.partitionBy(col("n_name"))
    val graded = j
      .withColumn("rev_t", ntile(3).over(
        byNation.orderBy(col("revenue"), col("s_suppkey"))))
      .withColumn("ret_t", ntile(3).over(
        byNation.orderBy(col("ret_rate"), col("s_suppkey"))))
      .withColumn("bal_t", ntile(3).over(
        byNation.orderBy(col("s_acctbal"), col("s_suppkey"))))
      .withColumn("risk_points",
        when(col("rev_t") === 1, 1).otherwise(0) +
          when(col("ret_t") === 3, 1).otherwise(0) +
          when(col("bal_t") === 1, 1).otherwise(0))
    graded.select(col("s_suppkey"), col("s_name"),
        col("n_name").as("nation"), col("revenue"), col("ret_rate"),
        col("n_parts"), col("risk_points").cast("int").as("risk_points"),
        when(col("risk_points") === 3, "high")
          .when(col("risk_points") === 2, "elevated")
          .when(col("risk_points") === 1, "watch")
          .otherwise("low").as("grade"))
      .orderBy(col("s_suppkey"))
  }

  private val supplierRiskScorecardSql =
    s"""WITH m AS (
       |  SELECT l_suppkey,
       |    ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       |    COUNT(*) AS n_lines,
       |    COUNT(*) FILTER (l_returnflag = 'R') AS n_returned,
       |    CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
       |  FROM lineitem GROUP BY 1
       |), g AS (
       |  SELECT s.s_suppkey, s.s_name, n.n_name AS nation, m.revenue,
       |    CAST(m.n_returned AS DOUBLE) / m.n_lines AS ret_rate,
       |    m.n_parts,
       |    NTILE(3) OVER (PARTITION BY n.n_name
       |      ORDER BY m.revenue, s.s_suppkey) AS rev_t,
       |    NTILE(3) OVER (PARTITION BY n.n_name
       |      ORDER BY CAST(m.n_returned AS DOUBLE) / m.n_lines,
       |        s.s_suppkey) AS ret_t,
       |    NTILE(3) OVER (PARTITION BY n.n_name
       |      ORDER BY s.s_acctbal, s.s_suppkey) AS bal_t
       |  FROM supplier s
       |  JOIN nation n ON s.s_nationkey = n.n_nationkey
       |  JOIN m ON s.s_suppkey = m.l_suppkey
       |), p AS (
       |  SELECT *,
       |    (CASE WHEN rev_t = 1 THEN 1 ELSE 0 END
       |      + CASE WHEN ret_t = 3 THEN 1 ELSE 0 END
       |      + CASE WHEN bal_t = 1 THEN 1 ELSE 0 END) AS pts
       |  FROM g
       |)
       |SELECT s_suppkey, s_name, nation, revenue, ret_rate, n_parts,
       |  CAST(pts AS INT) AS risk_points,
       |  CASE WHEN pts = 3 THEN 'high' WHEN pts = 2 THEN 'elevated'
       |       WHEN pts = 1 THEN 'watch' ELSE 'low' END AS grade
       |FROM p
       |ORDER BY s_suppkey""".stripMargin

  // ---- q526: robust anomaly drilldown ---------------------------------

  /** Trailing-median anomaly DRILLDOWN over the events value stream:
    * the daily value spine (decimal-exact totals), each day scored
    * against the EXACT median of its trailing 7 full days (the robust
    * detector — a mean/σ window is distorted by the very spikes it
    * hunts; the exact middle order statistic of 7 values involves no
    * float accumulation at all, so it is bit-identical on any engine),
    * then the attribution leg: the top event_type by value share on
    * every scored day. q283 flags days against a GLOBAL mean; this is
    * its composed, windowed, drilled-in sibling — flag AND who did it.
    *
    * Scale shape: both legs collapse events to bounded frames first
    * (day spine; day×type cells) with combinable aggregates; the
    * trailing-median join is spine×7 (a century is < 40k rows), and
    * the top-type rank partitions by day over the |types|-sized
    * per-day frame. */
  def anomalyDrilldown(spark: SparkSession, dir: String): DataFrame = {
    val e = Catalog.load(spark, dir, "events")
    // ONE events pass feeds everything: the (day, type) cells carry the
    // exact decimal partial sums, and the day spine is their rollup —
    // decimal addition is exact and associative, so the rolled-up total
    // is bit-identical to a direct per-day dsum. The cells frame is
    // bounded (days × types) and consumed three ways (spine probe,
    // spine broadcast, top-type leg), so it is checkpointed; without
    // that each consumer would replan its own events scan (and the
    // spine's two join sides use different exchange kinds, so
    // ReusedExchange could never fire).
    val cells = e
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"),
        col("event_type"))
      .agg(sum(col("value").cast(graft.ops.Det.Dec)).as("tdec"),
        count(lit(1)).as("n"))
      .pinLazy
    val daily = cells.groupBy(col("day"))
      .agg(sum(col("tdec")).cast("double").as("total"),
        sum(col("n")).as("n_events"))
    val spine = daily.select(col("day").as("pday"), col("total").as("pt"))
    val med = daily.join(spine,
        col("pday").between(col("day") - 7, col("day") - 1))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("day")).orderBy(col("pt"), col("pday"))))
      .withColumn("c", count(lit(1)).over(Window.partitionBy(col("day"))))
      .filter(col("c") === 7 && col("rk") === 4)
      .select(col("day"), col("total"), col("n_events"),
        col("pt").as("med7"))
    val byType = cells
      .select(col("day"), col("event_type"),
        col("tdec").cast("double").as("type_total"))
    val top = byType.withColumn("trk", row_number().over(
        Window.partitionBy(col("day"))
          .orderBy(col("type_total").desc, col("event_type"))))
      .filter(col("trk") === 1)
      .select(col("day"), col("event_type").as("top_type"),
        col("type_total"))
    med.join(top, "day")
      .select(col("day"), col("total"), col("n_events"), col("med7"),
        (col("total") / col("med7")).as("vs_med7"),
        (col("total") > col("med7") * 2).as("is_spike"),
        col("top_type"),
        (col("type_total") / col("total")).as("top_share"))
      .orderBy(col("day"))
  }

  private val anomalyDrilldownSql =
    s"""WITH daily AS (
       |  SELECT epoch_ns(ts) // 1000 // 86400000000 AS day,
       |    ${sqlSum("value")} AS total, CAST(COUNT(*) AS BIGINT) AS n_events
       |  FROM events GROUP BY 1
       |), med AS (
       |  SELECT d.day, d.total, d.n_events, x.total AS med7,
       |    row_number() OVER (PARTITION BY d.day
       |      ORDER BY x.total, x.day) AS rk,
       |    COUNT(*) OVER (PARTITION BY d.day) AS c
       |  FROM daily d JOIN daily x ON x.day BETWEEN d.day - 7 AND d.day - 1
       |), byType AS (
       |  SELECT epoch_ns(ts) // 1000 // 86400000000 AS day, event_type,
       |    ${sqlSum("value")} AS type_total
       |  FROM events GROUP BY 1, 2
       |), top AS (
       |  SELECT day, event_type AS top_type, type_total,
       |    row_number() OVER (PARTITION BY day
       |      ORDER BY type_total DESC, event_type) AS trk
       |  FROM byType
       |)
       |SELECT m.day, m.total, m.n_events, m.med7,
       |  m.total / m.med7 AS vs_med7,
       |  m.total > m.med7 * 2 AS is_spike,
       |  t.top_type, t.type_total / m.total AS top_share
       |FROM med m JOIN top t ON m.day = t.day AND t.trk = 1
       |WHERE m.c = 7 AND m.rk = 4
       |ORDER BY m.day""".stripMargin

  // ---- q527: dedup token liability by quality decile -------------------

  /** Near-dedup token LIABILITY profile: how many tokens does near-dup
    * deduplication remove, and from which quality deciles? Composes the
    * q52 quality score, the q65 exact-Jaccard components (kept doc =
    * component min-id rep), and the q135-class exact global decile
    * ([[GlobalRank.withNtile]] — range shuffle, no single-partition
    * window over the per-doc frame), rolled to one row per decile with
    * exact token sums and an integer-exact savings rate in ppm. q171
    * answers "does low quality predict duplication" with a rate; this
    * answers the budgeting question — WHERE the token mass goes when
    * dedup runs — which is what a token-metered training plan needs. */
  def dedupTokenLiability(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val q = TextOps.qualityScored(d)
      .select(col("doc_id"), col("n_tokens"), col("quality"))
    val clus = CorpusFrames.clusters(spark, dir)
    val j = q.join(clus, "doc_id")
      .withColumn("is_rep", col("doc_id") === col("cluster_rep"))
    GlobalRank.withNtile(j, 10, Seq(col("quality"), col("doc_id")),
        "decile")
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("is_rep"), 1)).as("n_kept"),
        sum(col("n_tokens")).as("tokens_raw"),
        sum(when(col("is_rep"), col("n_tokens")).otherwise(0L))
          .as("tokens_kept"))
      .withColumn("savings_ppm",
        // decimal-widened numerator: a decile dropping > ~9.2e12 tokens
        // (plausible when long docs concentrate in one decile of a
        // 100 TB corpus) would overflow the long multiply — the same
        // x*1e6 idiom GlobalRank.intDiv widens for; IntegralDivide
        // returns LONG either way, so the output type is unchanged
        expr("(CAST(tokens_raw - tokens_kept AS DECIMAL(38,0)) * 1000000)" +
          " div tokens_raw"))
      .orderBy(col("decile"))
  }

  private val dedupTokenLiabilitySql = {
    val stops = stopsSql("en")
    s"""WITH RECURSIVE ${DedupQueries.reachCtes}, rep AS (
       |  SELECT d.doc_id,
       |    CAST(LEAST(d.doc_id, COALESCE(MIN(r.v), d.doc_id)) AS BIGINT)
       |      AS cluster_rep
       |  FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
       |  GROUP BY d.doc_id
       |), t AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents
       |), q AS (
       |  SELECT doc_id, COUNT(*) AS n_tokens,
       |    least(CAST(COUNT(*) AS DOUBLE) / 100, 1.0) * 0.4
       |      + (CAST(COUNT(*) FILTER (tok IN ($stops)) AS DOUBLE)
       |          / COUNT(*)) * 0.3
       |      + (CAST(COUNT(DISTINCT tok) AS DOUBLE) / COUNT(*)) * 0.3
       |      AS quality
       |  FROM t GROUP BY doc_id
       |), x AS (
       |  SELECT q.doc_id, q.n_tokens,
       |    (q.doc_id = r.cluster_rep) AS is_rep,
       |    CAST(NTILE(10) OVER (ORDER BY q.quality, q.doc_id) AS INT)
       |      AS decile
       |  FROM q JOIN rep r USING (doc_id)
       |), a AS (
       |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(COUNT(*) FILTER (is_rep) AS BIGINT) AS n_kept,
       |    CAST(SUM(n_tokens) AS BIGINT) AS tokens_raw,
       |    CAST(COALESCE(SUM(n_tokens) FILTER (is_rep), 0) AS BIGINT)
       |      AS tokens_kept
       |  FROM x GROUP BY 1
       |)
       |SELECT decile, n_docs, n_kept, tokens_raw, tokens_kept,
       |  CAST((CAST(tokens_raw - tokens_kept AS HUGEINT) * 1000000)
       |    // tokens_raw AS BIGINT) AS savings_ppm
       |FROM a
       |ORDER BY decile""".stripMargin
  }

  // ---- q528: RAG context assembly under a token budget ----------------

  /** The serving-side RAG composition: chunk the corpus (q104's 32/8
    * sliding chunks) → score every chunk against the fixed 3-term query
    * with BM25 (q143's rational-idf algebra at CHUNK granularity — the
    * per-term scores sum in a FIXED literal order, so the multi-term
    * score involves no engine-ordered float reduction) → assemble the
    * answer context greedily in score order under a token budget
    * (q125's prefix rule; cum_tokens is monotone, so the admitted set
    * is an exact prefix of the ranked candidates). The output is the
    * context MANIFEST a RAG server ships to the generator: rank, chunk
    * coordinates, tokens, score, running total.
    *
    * Scale shape: the chunk frame is one compiled partition-local pass
    * (checkpointed — corpus stats and term counting both consume it);
    * candidates are only chunks containing ≥1 query term (df-bounded,
    * never the whole corpus); corpus stats and document frequencies are
    * 1-row broadcasts; the score-ordered rank + running token sum is
    * ONE [[GlobalRank]] range pass (no single-partition window over the
    * candidate frame). */
  def ragContextPack(spark: SparkSession, dir: String): DataFrame = {
    val terms = Seq("join", "vector", "scan")
    val budget = 256L
    val ch = TextOps.chunked(docs(spark, dir), size = 32, overlap = 8)
      .pinLazy
    val corpus = ch.agg(count(lit(1)).as("n_chunks"),
      sum(col("n_chunk_tokens")).as("sum_dl"))
    val tfAggs = terms.map(t =>
      count(when(col("tok") === t, 1)).as(s"tf_$t"))
    val tf = ch.select(col("doc_id"), col("chunk_idx"),
        col("n_chunk_tokens").as("dl"),
        explode(split(col("chunk_text"), " ", -1)).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("chunk_idx"), col("dl"))
      .agg(tfAggs.head, tfAggs.tail: _*)
    val dfAggs = terms.map(t =>
      count(when(col(s"tf_$t") > 0, 1)).as(s"df_$t"))
    val dfreq = tf.agg(dfAggs.head, dfAggs.tail: _*)
    val nC = col("n_chunks").cast("double")
    def termScore(t: String): Column =
      when(col(s"tf_$t") > 0,
        ((nC - col(s"df_$t").cast("double") + lit(0.5)) /
          (col(s"df_$t").cast("double") + lit(0.5))) *
          (col(s"tf_$t").cast("double") * lit(2.2)) /
          (col(s"tf_$t").cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) *
              (col("dl").cast("double") /
                (col("sum_dl").cast("double") / nC)))))
        .otherwise(lit(0.0))
    // fixed left-to-right fold over the term list — never an
    // engine-ordered float reduction, and the term set lives in ONE place
    val scored = tf.crossJoin(broadcast(corpus)).crossJoin(broadcast(dfreq))
      .withColumn("score", terms.map(termScore).reduceLeft(_ + _))
      .select(col("doc_id"), col("chunk_idx"), col("dl"), col("score"))
    val ranked = GlobalRank.withRowNumberAndRunningSums(scored,
      Seq(-col("score"), col("doc_id"), col("chunk_idx")), "rank",
      Seq((col("dl"), "cum_tokens")))
    ranked.filter(col("cum_tokens") <= budget)
      .select(col("rank"), col("doc_id"), col("chunk_idx"),
        col("dl").as("n_chunk_tokens"), col("score"), col("cum_tokens"))
      .orderBy(col("rank"))
  }

  private val ragContextPackSql =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |), ch AS (
      |  SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
      |    array_to_string(t[k * 24 + 1 : least(k * 24 + 32, len(t))], ' ')
      |      AS chunk_text,
      |    CAST(least(k * 24 + 32, len(t)) - k * 24 AS BIGINT) AS dl
      |  FROM toks,
      |    unnest(range(0, CAST(ceil(len(t) / 24.0) AS BIGINT))) AS u(k)
      |), corpus AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |    CAST(SUM(dl) AS BIGINT) AS sum_dl
      |  FROM ch
      |), tf AS (
      |  SELECT doc_id, chunk_idx, dl,
      |    CAST(COUNT(*) FILTER (tok = 'join') AS BIGINT) AS tf_join,
      |    CAST(COUNT(*) FILTER (tok = 'vector') AS BIGINT) AS tf_vector,
      |    CAST(COUNT(*) FILTER (tok = 'scan') AS BIGINT) AS tf_scan
      |  FROM (SELECT doc_id, chunk_idx, dl,
      |          unnest(string_split(chunk_text, ' ')) AS tok
      |        FROM ch)
      |  WHERE tok IN ('join', 'vector', 'scan')
      |  GROUP BY 1, 2, 3
      |), dfreq AS (
      |  SELECT CAST(COUNT(*) FILTER (tf_join > 0) AS BIGINT) AS df_join,
      |    CAST(COUNT(*) FILTER (tf_vector > 0) AS BIGINT) AS df_vector,
      |    CAST(COUNT(*) FILTER (tf_scan > 0) AS BIGINT) AS df_scan
      |  FROM tf
      |), sc AS (
      |  SELECT doc_id, chunk_idx, dl,
      |    (CASE WHEN tf_join > 0 THEN
      |      ((CAST(n_chunks AS DOUBLE) - CAST(df_join AS DOUBLE) + 0.5)
      |        / (CAST(df_join AS DOUBLE) + 0.5))
      |      * (CAST(tf_join AS DOUBLE) * 2.2)
      |      / (CAST(tf_join AS DOUBLE) + 1.2 * (0.25 + 0.75
      |          * (CAST(dl AS DOUBLE)
      |             / (CAST(sum_dl AS DOUBLE) / CAST(n_chunks AS DOUBLE)))))
      |      ELSE 0.0 END
      |    + CASE WHEN tf_vector > 0 THEN
      |      ((CAST(n_chunks AS DOUBLE) - CAST(df_vector AS DOUBLE) + 0.5)
      |        / (CAST(df_vector AS DOUBLE) + 0.5))
      |      * (CAST(tf_vector AS DOUBLE) * 2.2)
      |      / (CAST(tf_vector AS DOUBLE) + 1.2 * (0.25 + 0.75
      |          * (CAST(dl AS DOUBLE)
      |             / (CAST(sum_dl AS DOUBLE) / CAST(n_chunks AS DOUBLE)))))
      |      ELSE 0.0 END
      |    + CASE WHEN tf_scan > 0 THEN
      |      ((CAST(n_chunks AS DOUBLE) - CAST(df_scan AS DOUBLE) + 0.5)
      |        / (CAST(df_scan AS DOUBLE) + 0.5))
      |      * (CAST(tf_scan AS DOUBLE) * 2.2)
      |      / (CAST(tf_scan AS DOUBLE) + 1.2 * (0.25 + 0.75
      |          * (CAST(dl AS DOUBLE)
      |             / (CAST(sum_dl AS DOUBLE) / CAST(n_chunks AS DOUBLE)))))
      |      ELSE 0.0 END) AS score
      |  FROM tf CROSS JOIN corpus CROSS JOIN dfreq
      |), r AS (
      |  SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id,
      |      chunk_idx) AS BIGINT) AS rank,
      |    doc_id, chunk_idx, dl AS n_chunk_tokens, score,
      |    CAST(SUM(dl) OVER (ORDER BY score DESC, doc_id, chunk_idx
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      |  FROM sc
      |)
      |SELECT rank, doc_id, chunk_idx, n_chunk_tokens, score, cum_tokens
      |FROM r WHERE cum_tokens <= 256
      |ORDER BY rank""".stripMargin

  // ---- q529: the training-mixture build manifest -----------------------

  /** q529's token budget — sized to BITE on the funnel SURVIVORS' token
    * mass at the fixture scale (survivor mass is a strict subset of the
    * q524 corpus mass, so this sits below [[MixBudgetTokens]]). */
  private val ManifestBudgetTokens = 6000L

  /** q529's packing bin size (q108 uses 2048 on the raw corpus; the
    * admitted-survivor manifest uses smaller bins so multiple bins per
    * language exist at the fixture scale). */
  private val PackTokens = 512L

  /** q529's survivor gate. The mixture build trusts the DECLARED
    * language label (mixtures are composed per declared language; the
    * funnel REPORT q523 is where the label-confirm rate gets audited —
    * its precision gate keeps 1 doc at fixture scale, which would make
    * the quota and packing algebra downstream vacuous) and takes a
    * quality bar that bites at the fixture's quality median (~0.38):
    * ~40–140 kept docs and 2.6k–9.2k surviving tokens per language, so
    * every stage of the chain does real work. */
  private val ManifestQualityBar = 0.35

  /** END-TO-END training-mixture BUILD — the r14 verdict's suggested
    * composition (a): the curation grain picks the survivors (quality ≥
    * [[ManifestQualityBar]], near-dup component rep among the quality
    * survivors — q523's dedup-never-resurrects rule), q524's
    * temperature-quota algebra apportions [[ManifestBudgetTokens]]
    * across the SURVIVOR languages' token mass, and q108's
    * concat-then-chunk packing lays the admitted docs into fixed
    * [[PackTokens]]-token bins — one doc-grain manifest (lang, doc,
    * tokens, quota, cursor, pack coordinates) a training data loader can
    * stream in order. The key composition fact: greedy in-language
    * admission is a PREFIX of the deterministic (hash, id) order, so
    * within the admitted set the in-language running sum computed over
    * ALL survivors IS the packing cursor — packing costs no second rank
    * pass.
    *
    * Scale shape, inherited from the legs: one explode-aggregate profile
    * pass + banded df-capped dedup candidates (the [[curationDocGrain]]
    * frame, checkpointed — consumed by the rep aggregate, the join-back,
    * the quota aggregate and the rank), quota algebra over the
    * |langs|-row aggregate (WindowSweep-bounded), ONE
    * [[GlobalRank.withRunningSum]] range pass over (lang, hash, id) with
    * in-language cursors recovered by subtracting broadcast per-language
    * offsets — no fact-sized or single-partition window anywhere. */
  def trainingMixtureManifest(spark: SparkSession, dir: String): DataFrame = {
    val p = 1000000007L
    val grain = curationDocGrain(spark, dir) // session memo, checkpointed
    val ok = col("quality") >= ManifestQualityBar && col("lang").isNotNull
    val survRep = grain.filter(ok)
      .groupBy(col("cluster_rep")).agg(min(col("doc_id")).as("surv_rep"))
    val surv = grain.join(survRep, Seq("cluster_rep"))
      .filter(ok && col("doc_id") === col("surv_rep"))
      .select(col("doc_id"), col("lang"), col("n_tokens"))
    val all = Window.partitionBy(lit(1))
    val quotas = surv.groupBy(col("lang"))
      .agg(sum(col("n_tokens")).as("lang_tokens"))
      .withColumn("w",
        floor(sqrt(col("lang_tokens").cast("double")) * 1e6).cast("long"))
      .withColumn("tot", sum(col("w")).over(all))
      .withColumn("base", expr(s"($ManifestBudgetTokens * w) div tot"))
      .withColumn("rem", expr(s"($ManifestBudgetTokens * w) % tot"))
      .withColumn("leftover",
        lit(ManifestBudgetTokens) - sum(col("base")).over(all))
      .withColumn("rk", row_number().over(
        Window.partitionBy(lit(1)).orderBy(col("rem").desc, col("lang")))
        .cast("long"))
      .withColumn("lang_offset",
        coalesce(sum(col("lang_tokens")).over(
          Window.partitionBy(lit(1)).orderBy(col("lang"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("lang"), col("lang_offset"),
        (col("base") + when(col("rk") <= col("leftover"), 1L)
          .otherwise(0L)).as("quota_tokens"))
    val ranked = GlobalRank.withRunningSum(
      surv.withColumn("hkey",
        pmod(pmod(col("doc_id"), lit(p)) * lit(2654435761L), lit(p))),
      Seq(col("lang"), col("hkey"), col("doc_id")),
      col("n_tokens"), "cum_all")
    ranked.join(broadcast(quotas), "lang")
      .withColumn("cum_in_lang", col("cum_all") - col("lang_offset"))
      .filter(col("cum_in_lang") <= col("quota_tokens"))
      .withColumn("before", col("cum_in_lang") - col("n_tokens"))
      .select(col("lang"), col("doc_id"), col("n_tokens"),
        col("quota_tokens"), col("cum_in_lang"),
        expr(s"before div $PackTokens").as("pack_id"),
        (col("before") % PackTokens).as("pack_offset"))
      .orderBy(col("lang"), col("cum_in_lang"))
  }

  private val trainingMixtureManifestSql =
    s"""WITH RECURSIVE ${DedupQueries.reachCtes}, rep AS (
       |  SELECT d.doc_id,
       |    CAST(LEAST(d.doc_id, COALESCE(MIN(r.v), d.doc_id)) AS BIGINT)
       |      AS cluster_rep
       |  FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
       |  GROUP BY d.doc_id
       |), $profCte, flags AS (
       |  SELECT d.doc_id, d.lang,
       |    COALESCE(s.quality >= $ManifestQualityBar, FALSE)
       |      AND d.lang IS NOT NULL AS m_ok,
       |    COALESCE(s.n_tokens, 0) AS n_tokens
       |  FROM documents d LEFT JOIN scored s USING (doc_id)
       |), surv AS (
       |  SELECT f.*,
       |    MIN(CASE WHEN f.m_ok THEN f.doc_id END)
       |      OVER (PARTITION BY r.cluster_rep) AS surv_rep
       |  FROM flags f JOIN rep r USING (doc_id)
       |), picked AS (
       |  SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens
       |  FROM surv WHERE m_ok AND doc_id = surv_rep
       |), s2 AS (
       |  SELECT lang, SUM(n_tokens) AS lang_tokens,
       |    CAST(floor(sqrt(CAST(SUM(n_tokens) AS DOUBLE)) * 1e6) AS BIGINT)
       |      AS w
       |  FROM picked GROUP BY 1
       |), q1 AS (
       |  SELECT lang, w, SUM(w) OVER () AS tot FROM s2
       |), q2 AS (
       |  SELECT lang, w, ($ManifestBudgetTokens * w) // tot AS base,
       |    ($ManifestBudgetTokens * w) % tot AS rem
       |  FROM q1
       |), q3 AS (
       |  SELECT lang, base,
       |    $ManifestBudgetTokens - SUM(base) OVER () AS leftover,
       |    row_number() OVER (ORDER BY rem DESC, lang) AS rk
       |  FROM q2
       |), quotas AS (
       |  SELECT lang,
       |    CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
       |      AS quota_tokens
       |  FROM q3
       |), ranked AS (
       |  SELECT doc_id, lang, n_tokens,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY lang
       |      ORDER BY ((((doc_id % 1000000007) + 1000000007) % 1000000007)
       |                * 2654435761) % 1000000007, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_in_lang
       |  FROM picked
       |)
       |SELECT r.lang, r.doc_id, r.n_tokens, q.quota_tokens, r.cum_in_lang,
       |  (r.cum_in_lang - r.n_tokens) // $PackTokens AS pack_id,
       |  (r.cum_in_lang - r.n_tokens) % $PackTokens AS pack_offset
       |FROM ranked r JOIN quotas q USING (lang)
       |WHERE r.cum_in_lang <= q.quota_tokens
       |ORDER BY lang, cum_in_lang""".stripMargin

  // ---- q530: index freshness SLO report --------------------------------

  private val FreshK = 5
  private val FreshNQ = 8 // query vectors: vec_id < 8, present in BOTH versions

  /** Index freshness SLO report — the r14 verdict's suggested
    * composition (b): publish two versions of a vector corpus through
    * the REAL [[graft.pipelines.Versioned]] machinery (v0 a
    * deterministic embeddings slice; v1 deletes every 15th non-query id
    * and inserts a disjoint slice), time-travel-read BOTH versions back,
    * and answer the serving question a staleness SLO is written about:
    * if queries are served from the STALE snapshot while the corpus has
    * moved on, how much of the FRESH exact top-k does each query still
    * see? Per query: overlap@k between the two brute-force top-k sets
    * (q70's scaled-integer cosine on each version read),
    * freshness_recall = overlap/k, how many fresh neighbors are NEW
    * docs (unreachable from the stale snapshot at any k), and the
    * version-diff row counts (added/removed via the anti-join diff over
    * the two time-travel reads). The oracle rebuilds both versions as
    * CTEs and replays the whole chain, so the hash certifies
    * publish → time-travel → diff → dual top-k → SLO arithmetic.
    *
    * Scale shape: queries broadcast against each version scan (the
    * [[VectorOps.cosineTopK]] contract — fused codegen similarity,
    * per-partition partial top-k); the id diff is one shuffle on vec_id;
    * the per-query legs join on (query_id, neighbor_id) at k·|queries|
    * rows; the diff counts enter as a 1-row broadcast (the one intended
    * nested-loop, q528's pattern). The published family is temp debris,
    * deleted after materialization. */
  /** Publish the two-version freshness fixture family into `out`
    * (v0 then v1) — factored out so PlanSpec can stage the same family
    * and pin the report frame's plan shape pre-materialization. */
  private[graft] def publishFreshnessFixture(spark: SparkSession,
      dir: String, out: String): Unit = {
    val base = Catalog.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val v0 = base.filter(col("vec_id") < FreshNQ || col("vec_id") % 3 === 0)
    val v1 = v0.filter(!(col("vec_id") >= FreshNQ &&
        col("vec_id") % 15 === 0))
      .unionByName(base.filter(col("vec_id") >= FreshNQ &&
        col("vec_id") % 3 === 1))
    graft.pipelines.Versioned.publish(v0, out, "corpus")
    graft.pipelines.Versioned.publish(v1, out, "corpus")
  }

  /** The SLO report frame over an already-published family — lazy; the
    * registered query materializes it before deleting the temp family. */
  private[graft] def freshnessFrame(spark: SparkSession,
      out: String): DataFrame = {
    val stale = graft.pipelines.Versioned.read(spark, out, "corpus",
      Some(0L))
    val fresh = graft.pipelines.Versioned.read(spark, out, "corpus",
      Some(1L))
    val stats = stale.select(col("vec_id").as("v0id"))
      .join(fresh.select(col("vec_id").as("v1id")),
        col("v0id") === col("v1id"), "full_outer")
      .agg(count(when(col("v0id").isNull, 1)).as("n_added"),
        count(when(col("v1id").isNull, 1)).as("n_removed"))
    val t0 = graft.ops.VectorOps
      .cosineTopK(stale, col("vec_id") < FreshNQ, FreshK)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("in_stale"))
    val t1 = graft.ops.VectorOps
      .cosineTopK(fresh, col("vec_id") < FreshNQ, FreshK)
      .select(col("query_id"), col("neighbor_id"))
    t1.join(t0, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(count(col("in_stale")).as("stale_hits"),
        count(when(col("neighbor_id") >= FreshNQ &&
          col("neighbor_id") % 3 === 1, 1)).as("new_doc_hits"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("stale_hits"),
        (col("stale_hits").cast("double") / FreshK)
          .as("freshness_recall"),
        col("new_doc_hits"), col("n_added"), col("n_removed"))
      .orderBy(col("query_id"))
  }

  def indexFreshnessSlo(spark: SparkSession, dir: String): DataFrame = {
    val out = java.nio.file.Files.createTempDirectory("graft_fresh_")
      .toString
    try {
      publishFreshnessFixture(spark, dir, out)
      val d = freshnessFrame(spark, out)
      // HARNESS-ONLY collect: the report must outlive the temp-dir
      // cleanup below, and it is |queries| rows by construction. A
      // production SLO job reading durable versions keeps this lazy.
      val rows = d.collect().toSeq
      val schema = d.schema
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
    } finally {
      // finally, not success-path-only: a failed rep must not leak a
      // published family into /tmp
      graft.pipelines.Fs.deleteRecursive(new org.apache.hadoop.fs.Path(out))
    }
  }

  /** One brute-force scaled-integer cosine top-k leg as CTEs over a
    * version CTE `v` — the exact arithmetic [[graft.ops.VectorOps
    * .cosineTopK]] computes (q70's oracle pins it), shared by the q530
    * and q533 oracles (their legs differ only in the version CTE and
    * the query-set / k constants). */
  private def scaledTopKCte(v: String, tag: String, nq: Int,
      k: Int): String =
    s"""u$tag AS (
       |  SELECT vec_id,
       |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000)
       |      AS BIGINT) AS xi,
       |    unnest(range(len(embedding))) AS i
       |  FROM $v
       |), n$tag AS (
       |  SELECT vec_id, SUM(xi * xi) AS n2 FROM u$tag GROUP BY 1
       |), d$tag AS (
       |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
       |    CAST(SUM(q.xi * d.xi) AS BIGINT) AS dot
       |  FROM u$tag q JOIN u$tag d ON q.i = d.i
       |  WHERE q.vec_id < $nq AND d.vec_id <> q.vec_id
       |  GROUP BY 1, 2
       |), s$tag AS (
       |  SELECT query_id, neighbor_id,
       |    CAST(dot AS DOUBLE) /
       |      (sqrt(CAST(qn.n2 AS DOUBLE)) * sqrt(CAST(dn.n2 AS DOUBLE)))
       |      AS cos_sim
       |  FROM d$tag
       |  JOIN n$tag qn ON query_id = qn.vec_id
       |  JOIN n$tag dn ON neighbor_id = dn.vec_id
       |), t$tag AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, neighbor_id) AS rn
       |    FROM s$tag)
       |  WHERE rn <= $k
       |)""".stripMargin

  private val indexFreshnessSloSql = {
    // the per-version scaled-integer top-k legs differ only in the
    // version CTE they scan — generate both from one template (the same
    // arithmetic q70's oracle pins)
    def topk(v: String, tag: String) = scaledTopKCte(v, tag, FreshNQ, FreshK)
    s"""WITH base AS (
       |  SELECT vec_id, embedding FROM embeddings
       |), v0 AS (
       |  SELECT * FROM base
       |  WHERE vec_id < $FreshNQ OR vec_id % 3 = 0
       |), v1 AS (
       |  SELECT * FROM v0
       |  WHERE NOT (vec_id >= $FreshNQ AND vec_id % 15 = 0)
       |  UNION ALL
       |  SELECT * FROM base
       |  WHERE vec_id >= $FreshNQ AND vec_id % 3 = 1
       |), ${topk("v0", "0")}, ${topk("v1", "1")}, stats AS (
       |  SELECT
       |    CAST((SELECT COUNT(*) FROM v1
       |          WHERE vec_id NOT IN (SELECT vec_id FROM v0)) AS BIGINT)
       |      AS n_added,
       |    CAST((SELECT COUNT(*) FROM v0
       |          WHERE vec_id NOT IN (SELECT vec_id FROM v1)) AS BIGINT)
       |      AS n_removed
       |), per AS (
       |  SELECT f.query_id,
       |    CAST(COUNT(s.neighbor_id) AS BIGINT) AS stale_hits,
       |    CAST(COUNT(*) FILTER (f.neighbor_id >= $FreshNQ
       |      AND f.neighbor_id % 3 = 1) AS BIGINT) AS new_doc_hits
       |  FROM t1 f LEFT JOIN t0 s USING (query_id, neighbor_id)
       |  GROUP BY 1
       |)
       |SELECT query_id, stale_hits,
       |  CAST(stale_hits AS DOUBLE) / $FreshK AS freshness_recall,
       |  new_doc_hits, n_added, n_removed
       |FROM per CROSS JOIN stats
       |ORDER BY query_id""".stripMargin
  }

  // ---- q531: corpus release gate report --------------------------------

  /** The release gates and their thresholds (ppm of docs unless the
    * name says otherwise). Literal policy constants: a release gate IS
    * a fixed contract, and fixed literals keep the oracle a pure
    * replay. Chosen so the fixture corpus reports an honest MIX — the
    * contamination gate genuinely fails there (the eval slice shares
    * rare shingle runs with two corpus docs), everything else passes —
    * because a gate report whose rows all pass tests nothing. */
  private val GateThresholds: Seq[(String, Long)] = Seq(
    "contamination_docs" -> 0L,
    "exact_dup_ppm" -> 10000L,
    "langid_mismatch_ppm" -> 650000L,
    "near_dup_removed_ppm" -> 100000L,
    "pii_ppm" -> 1000L,
    "undersized_ppm" -> 50000L)

  /** Pre-release GATE report — the go/no-go audit a corpus publisher
    * runs before shipping a version: one row per gate with the measured
    * value (exact integer ppm or count), its threshold, and the pass
    * verdict. Six gates across four proven families: exact-dup mass
    * (q219's card), near-dup removal mass (q65 components), language-ID
    * mismatch and undersized-doc mass (the q52/q53 fused profile), PII
    * incidence (q99's RE2-safe flags), and benchmark contamination
    * against the held-out source (q101's rare-shingle scan — threshold
    * ZERO, the only sound release policy for eval overlap).
    *
    * Scale shape: lang-mismatch, undersized AND near-dup removal come
    * out of the session-memoized curation grain in one combinable
    * aggregate (no re-paid profile explode or component pass); PII +
    * corpus size are one text scan; the exact-dup leg is a two-stage
    * distinct on md5 hashes (map-side combinable, 32-byte hashes
    * shuffle — never text, and never an Expand from mixing
    * countDistinct into the flag aggregate); contamination reuses its
    * df-capped machinery; the four 1-row legs then cross as broadcast
    * nested loops (q528's intended pattern) and stack() fans the single
    * row into the gate grain — no data-sized frame ever crosses a
    * join. */
  def releaseGateReport(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // three gates off the session-memoized curation grain in ONE leg:
    // lang_ok IS the oracle's COALESCE(pred_lang = lang, FALSE), grain
    // n_tokens is already null-coalesced, and cluster_rep rides along —
    // the profile explode and the component pass are never re-paid here
    val grainAgg = curationDocGrain(spark, dir)
      .agg(count(when(not(col("lang_ok")), 1)).as("n_mismatch"),
        count(when(col("n_tokens") < 10, 1)).as("n_undersized"),
        count(when(col("doc_id") =!= col("cluster_rep"), 1))
          .as("n_near_dup"))
    // PII + corpus size: one text scan (text lives only in this leg)
    val pii = col("text").rlike(TextOps.EmailPattern) ||
      col("text").rlike(TextOps.UrlPattern) ||
      col("text").rlike(TextOps.LongNumberPattern)
    val piiAgg = d.agg(count(lit(1)).as("n_docs"),
      count(when(pii, 1)).as("n_pii"))
    // text IS NOT NULL on BOTH sides: md5(NULL) groups null-text rows
    // into one phantom hash here while the oracle's COUNT(DISTINCT)
    // ignores NULLs — an off-by-#nulls ppm skew if the corpus ever
    // gains null documents (a null text is vacuously not a duplicate)
    val dupAgg = d.filter(col("text").isNotNull)
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("c"))
      // coalesce: an all-null-text corpus leaves ZERO hash groups, where
      // sum(c) is NULL while the oracle's COUNT arithmetic yields 0
      .agg(coalesce(sum(col("c")) - count(lit(1)), lit(0L))
        .as("n_exact_dup"))
    val contamAgg = CorpusFrames.evalContamination(spark, dir)
      .agg(countDistinct(col("doc_id")).as("n_contam"))
    val one = piiAgg.crossJoin(broadcast(grainAgg))
      .crossJoin(broadcast(dupAgg)).crossJoin(broadcast(contamAgg))
    val gates = one.selectExpr(
      "stack(6, " +
        "'contamination_docs', n_contam, " +
        "'exact_dup_ppm', (n_exact_dup * 1000000) div nullif(n_docs, 0), " +
        "'langid_mismatch_ppm', (n_mismatch * 1000000) div nullif(n_docs, 0), " +
        "'near_dup_removed_ppm', (n_near_dup * 1000000) div nullif(n_docs, 0), " +
        "'pii_ppm', (n_pii * 1000000) div nullif(n_docs, 0), " +
        "'undersized_ppm', (n_undersized * 1000000) div nullif(n_docs, 0)" +
        ") AS (gate, value)")
    val th = GateThresholds.foldRight(lit(null).cast("long")) {
      case ((g, t), rest) => when(col("gate") === g, lit(t)).otherwise(rest)
    }
    gates.withColumn("threshold", th)
      .withColumn("pass", col("value") <= col("threshold"))
      .orderBy(col("gate"))
  }

  private val releaseGateReportSql = {
    val thRows = GateThresholds.map { case (g, t) => s"('$g', $t)" }
      .mkString(", ")
    s"""WITH RECURSIVE ${DedupQueries.reachCtes}, $profCte, flags AS (
       |  SELECT d.doc_id,
       |    NOT COALESCE(s.pred_lang = d.lang, FALSE) AS mismatch,
       |    COALESCE(s.n_tokens, 0) < 10 AS undersized,
       |    (regexp_matches(d.text,
       |       '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')
       |     OR regexp_matches(d.text, 'https?://[^ ]+')
       |     OR regexp_matches(d.text, '[0-9]{9,}')) AS pii
       |  FROM documents d LEFT JOIN scored s USING (doc_id)
       |), base AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(COUNT(*) FILTER (mismatch) AS BIGINT) AS n_mismatch,
       |    CAST(COUNT(*) FILTER (undersized) AS BIGINT) AS n_undersized,
       |    CAST(COUNT(*) FILTER (pii) AS BIGINT) AS n_pii
       |  FROM flags
       |), dup AS (
       |  SELECT CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT)
       |    AS n_exact_dup
       |  FROM documents WHERE text IS NOT NULL
       |), rep AS (
       |  SELECT d.doc_id,
       |    CAST(LEAST(d.doc_id, COALESCE(MIN(r.v), d.doc_id)) AS BIGINT)
       |      AS cluster_rep
       |  FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
       |  GROUP BY d.doc_id
       |), near AS (
       |  SELECT CAST(COUNT(*) FILTER (doc_id <> cluster_rep) AS BIGINT)
       |    AS n_near_dup
       |  FROM rep
       |), corpus AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE source <> 'src0'
       |), ev AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE source = 'src0'
       |), cs AS (
       |  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS shingle
       |  FROM corpus, unnest(range(1, len(t) - 3)) AS u(i) WHERE len(t) >= 5
       |), dfreq AS (
       |  SELECT shingle, COUNT(*) AS c FROM cs GROUP BY 1
       |), rare AS (
       |  SELECT doc_id, shingle FROM cs JOIN dfreq USING (shingle)
       |  WHERE c <= 1000
       |), es AS (
       |  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS shingle
       |  FROM ev, unnest(range(1, len(t) - 3)) AS u(i) WHERE len(t) >= 5
       |), hits AS (
       |  SELECT r.doc_id, e.doc_id AS eval_id, COUNT(*) AS n_common
       |  FROM rare r JOIN es e USING (shingle)
       |  GROUP BY 1, 2
       |  HAVING COUNT(*) >= 3
       |), contam AS (
       |  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_contam FROM hits
       |), vals AS (
       |  SELECT 'contamination_docs' AS gate, n_contam AS value
       |  FROM contam
       |  UNION ALL
       |  SELECT 'exact_dup_ppm', (n_exact_dup * 1000000) // nullif(n_docs, 0)
       |  FROM dup CROSS JOIN base
       |  UNION ALL
       |  SELECT 'langid_mismatch_ppm', (n_mismatch * 1000000) // nullif(n_docs, 0)
       |  FROM base
       |  UNION ALL
       |  SELECT 'near_dup_removed_ppm', (n_near_dup * 1000000) // nullif(n_docs, 0)
       |  FROM near CROSS JOIN base
       |  UNION ALL
       |  SELECT 'pii_ppm', (n_pii * 1000000) // nullif(n_docs, 0)
       |  FROM base
       |  UNION ALL
       |  SELECT 'undersized_ppm', (n_undersized * 1000000) // nullif(n_docs, 0)
       |  FROM base
       |), th(gate, threshold) AS (VALUES $thRows)
       |SELECT v.gate, CAST(v.value AS BIGINT) AS value,
       |  CAST(t.threshold AS BIGINT) AS threshold,
       |  v.value <= t.threshold AS pass
       |FROM vals v JOIN th t USING (gate)
       |ORDER BY gate""".stripMargin
  }

  // ---- q532: corpus refresh audit across versions -----------------------

  /** Refresh-audit gates and thresholds (ppm of published docs; the two
    * drift gates are version-PAIR statistics, 0 at v0 by definition).
    * Fixed policy literals, q531's discipline: chosen so the fixture
    * reports an honest MIX — the two refresh-TREND gates genuinely fail
    * there (the tail 20% of the corpus rejects half its docs against
    * the 25% policy cap once quality-gated + deduped against the
    * published 80%, and the admitted survivors shift the language mix
    * 3.9% against the 2.5% cap), the four per-version gates pass —
    * because an all-pass trend report tests nothing. */
  private val RefreshGates: Seq[(String, Long)] = Seq(
    "batch_rejection_ppm" -> 250000L,
    "lang_mix_drift_ppm" -> 25000L,
    "pii_ppm" -> 1000L,
    "quality_below_bar_ppm" -> 0L,
    "residual_exact_dup_ppm" -> 0L,
    "undersized_ppm" -> 50000L)

  /** The gate-trend frame over an already-published corpus family —
    * lazy; the registered query materializes it before deleting the
    * temp family. `v0`/`v1` are the (table → version) maps the publish
    * and the append returned; each version's corpus is the union of its
    * three split tables read AT that version (the time-travel read a
    * refresh audit actually performs). */
  private[graft] def refreshGateFrame(spark: SparkSession, out: String,
      v0: Map[String, Long], v1: Map[String, Long],
      batchSize: Long): DataFrame = {
    import graft.pipelines.CorpusPublisher.{TrainTable, ValTable, TestTable}
    def corpusAt(vs: Map[String, Long]): DataFrame =
      Seq(TrainTable, ValTable, TestTable)
        .map(t => graft.pipelines.Versioned.read(spark, out, t, Some(vs(t))))
        .reduce(_.unionByName(_))
    val pii = col("text").rlike(TextOps.EmailPattern) ||
      col("text").rlike(TextOps.UrlPattern) ||
      col("text").rlike(TextOps.LongNumberPattern)
    // each version is scanned exactly TWICE: one combinable aggregate
    // at the (lang) grain carrying ALL the flag gates (the lang-drift
    // leg and the 1-row totals both derive from this |langs|-row frame,
    // checkpointed — no third scan for the lang counts), plus the
    // residual exact-dup leg, the q531 recipe — two-stage distinct on
    // md5, 32-byte hashes shuffle, never text, text IS NOT NULL on both
    // sides (md5(NULL) phantom-group parity)
    def perLang(c: DataFrame, tag: String): DataFrame =
      c.groupBy(col("lang")).agg(
        count(lit(1)).as(s"c_$tag"),
        count(when(pii, 1)).as(s"pii_$tag"),
        count(when(col("token_count") < 10, 1)).as(s"under_$tag"),
        count(when(col("quality") < lit(0.38), 1)).as(s"qb_$tag"))
        .pinLazy
    def dupAgg(c: DataFrame, tag: String): DataFrame =
      c.filter(col("text").isNotNull)
        .groupBy(md5(col("text")).as("h")).agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("c")) - count(lit(1)), lit(0L))
          .as(s"n_dup_$tag"))
    def totals(l: DataFrame, tag: String): DataFrame =
      l.agg(coalesce(sum(col(s"c_$tag")), lit(0L)).as(s"n_docs_$tag"),
        coalesce(sum(col(s"pii_$tag")), lit(0L)).as(s"n_pii_$tag"),
        coalesce(sum(col(s"under_$tag")), lit(0L)).as(s"n_under_$tag"),
        coalesce(sum(col(s"qb_$tag")), lit(0L)).as(s"n_qbelow_$tag"))
    val la = perLang(corpusAt(v0), "a")
    val lb = perLang(corpusAt(v1), "b")
    // ONE-ROW frame, checkpointed: both the drift leg (needs the two
    // doc totals) and the final assembly read it — without the
    // checkpoint each reference re-evaluates the whole per-version
    // aggregate subtree twice
    val a = totals(la, "a").crossJoin(broadcast(totals(lb, "b")))
      .crossJoin(broadcast(dupAgg(corpusAt(v0), "a")))
      .crossJoin(broadcast(dupAgg(corpusAt(v1), "b")))
      .pinLazy
    // language-mix drift: |langs|-row full-outer join of the two
    // per-version lang frames; per-version integer ppm shares (floored
    // identically on both engines — no cross-multiplied products, so
    // plain longs hold to 9e12 docs), half the L1 distance
    val drift = la.select(col("lang"), col("c_a"))
      .join(lb.select(col("lang"), col("c_b")), Seq("lang"), "full_outer")
      .crossJoin(broadcast(a.selectExpr("n_docs_a", "n_docs_b")))
      .selectExpr("abs((coalesce(c_a, 0) * 1000000) div nullif(n_docs_a, 0)" +
        " - (coalesce(c_b, 0) * 1000000) div nullif(n_docs_b, 0)) AS d")
      .agg(coalesce(sum(col("d")), lit(0L)).as("l1"))
      .selectExpr("l1 div 2 AS lang_drift")
    val one = a.crossJoin(broadcast(drift))
      .withColumn("batch_size", lit(batchSize))
    val gates = one.selectExpr(
      "stack(6, " +
        "'batch_rejection_ppm', CAST(0 AS BIGINT), " +
        "((batch_size - (n_docs_b - n_docs_a)) * 1000000) div nullif(batch_size, 0), " +
        "'lang_mix_drift_ppm', CAST(0 AS BIGINT), lang_drift, " +
        "'pii_ppm', (n_pii_a * 1000000) div nullif(n_docs_a, 0), " +
        "(n_pii_b * 1000000) div nullif(n_docs_b, 0), " +
        "'quality_below_bar_ppm', (n_qbelow_a * 1000000) div nullif(n_docs_a, 0), " +
        "(n_qbelow_b * 1000000) div nullif(n_docs_b, 0), " +
        "'residual_exact_dup_ppm', (n_dup_a * 1000000) div nullif(n_docs_a, 0), " +
        "(n_dup_b * 1000000) div nullif(n_docs_b, 0), " +
        "'undersized_ppm', (n_under_a * 1000000) div nullif(n_docs_a, 0), " +
        "(n_under_b * 1000000) div nullif(n_docs_b, 0)" +
        ") AS (gate, v0_value, v1_value)")
    val th = RefreshGates.foldRight(lit(null).cast("long")) {
      case ((g, t), rest) => when(col("gate") === g, lit(t)).otherwise(rest)
    }
    gates.withColumn("threshold", th)
      .withColumn("v0_pass", col("v0_value") <= col("threshold"))
      .withColumn("v1_pass", col("v1_value") <= col("threshold"))
      .orderBy(col("gate"))
  }

  /** Corpus REFRESH audit — the r15 verdict's suggested composition
    * (a): publish 80% of the corpus through the REAL
    * [[graft.pipelines.CorpusPublisher]] (one atomic versioned group),
    * admit the remaining 20% as an O(batch)
    * [[graft.pipelines.CorpusPublisher.appendBatch]] transaction, then
    * evaluate the release-gate battery (q531's discipline) AT EACH
    * published version — the gate-TREND report a continuously-ingesting
    * corpus ships with every refresh. Per gate: the measured value at
    * v0 (pre-append) and v1 (post-append), the threshold, and both pass
    * verdicts. The residual-dup and quality gates at v1 audit the
    * INCREMENTAL admission path itself (did the O(batch) vetting let
    * anything in a full republish would have caught?); the rejection
    * and drift gates measure the refresh.
    *
    * The oracle rebuilds BOTH published versions as CTEs (the full
    * quality-gate + exact-keeper + near-dup-rep pipeline over each doc
    * subset — admission ≡ republish on a non-bridging batch, the
    * equality q447 certifies and CorpusPublisherSpec pins) and replays
    * every gate, so the hash certifies
    * publish → append → time-travel → gate arithmetic end-to-end.
    *
    * Scale shape: the publish/append legs are the audited q441/q447
    * machinery (df-capped shingle joins, never corpus×corpus; O(batch)
    * admission); each version's gates are ONE combinable aggregate over
    * the split-table union plus the two-stage md5 distinct (32-byte
    * hashes shuffle, never text); the lang-mix leg joins two |langs|-row
    * frames; the assembly crosses 1-row broadcasts (q528's intended
    * pattern) and stack() fans the single row into the gate grain. */
  def corpusRefreshAudit(spark: SparkSession, dir: String): DataFrame = {
    val out = java.nio.file.Files.createTempDirectory("graft_refresh_")
      .toString
    try {
      val d = docs(spark, dir).pinLazy // publish + append
      // driver-side single long (the q447 recipe): the 80/20 cut the
      // fixture publishes at — production appends arrive pre-cut
      val n = d.agg(count(lit(1))).collect()(0).getLong(0)
      val cut = n * 4 / 5
      val v0 = graft.pipelines.CorpusPublisher.publish(
        d.filter(col("doc_id") < cut), out)
      val v1 = graft.pipelines.CorpusPublisher.appendBatch(
        d.filter(col("doc_id") >= cut), out, batchId = 1L)
      val rep = refreshGateFrame(spark, out, v0, v1, batchSize = n - cut)
      // HARNESS-ONLY collect: the 6-row report must outlive the temp-dir
      // cleanup below; a production audit over durable versions keeps
      // this lazy (q530's documented pattern)
      val rows = rep.collect().toSeq
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        rep.schema)
    } finally graft.pipelines.Fs.deleteRecursive(
      new org.apache.hadoop.fs.Path(out))
  }

  private val corpusRefreshAuditSql = {
    val thRows = RefreshGates.map { case (g, t) => s"('$g', $t)" }
      .mkString(", ")
    // per-version gate aggregates over a published-set CTE `src`,
    // output-suffixed `$g`
    def gateAggCte(g: String, src: String) =
      s"""g$g AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(COUNT(*) FILTER (
         |      regexp_matches(text, '${TextOps.EmailPattern}')
         |      OR regexp_matches(text, '${TextOps.UrlPattern}')
         |      OR regexp_matches(text, '${TextOps.LongNumberPattern}'))
         |      AS BIGINT) AS n_pii,
         |    CAST(COUNT(*) FILTER (n_tokens < 10) AS BIGINT) AS n_under,
         |    CAST(COUNT(*) FILTER (quality < 0.38) AS BIGINT) AS n_qbelow
         |  FROM $src
         |), d$g AS (
         |  SELECT CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT)
         |    AS n_dup
         |  FROM $src WHERE text IS NOT NULL
         |), l$g AS (
         |  SELECT lang, COUNT(*) AS c FROM $src GROUP BY 1
         |)""".stripMargin
    // v0 = the published 80% slice (its own slice-scoped pipeline, as
    // publish ran it); v1 = v0 plus the O(batch) ADMISSION — appendBatch
    // modeled rule for rule (OracleFragments.admissionCtes), NOT a full
    // republish, so the oracle holds at any scale including fixtures
    // where the documented rejected-neighbor asymmetry fires
    s"""WITH RECURSIVE cutv AS (
       |  SELECT COUNT(*) * 4 // 5 AS cut FROM documents
       |), ${OracleFragments.pipelinePrefix("a", "doc_id < (SELECT cut FROM cutv)")},
       |${OracleFragments.qualityCtes("a")},
       |${OracleFragments.reachChainAt("5", "0.5", "a")},
       |${OracleFragments.reachChainAt("3", "0.3", "a")},
       |${OracleFragments.pubCte("a")},
       |${OracleFragments.splitCte("a")},
       |${OracleFragments.pipelinePrefix("b", "TRUE")},
       |${OracleFragments.qualityCtes("b")},
       |${OracleFragments.admissionCtes("a", "b")},
       |pubv1 AS (
       |  SELECT doc_id, lang, quality, n_tokens, text FROM puba
       |  UNION ALL
       |  SELECT doc_id, lang, quality, n_tokens, text FROM adm
       |), ${gateAggCte("a", "puba")}, ${gateAggCte("b", "pubv1")},
       |drift AS (
       |  SELECT CAST(COALESCE(SUM(ABS(
       |      (COALESCE(la.c, 0) * 1000000) // nullif(ga.n_docs, 0)
       |      - (COALESCE(lb.c, 0) * 1000000) // nullif(gb.n_docs, 0))), 0) // 2
       |    AS BIGINT) AS lang_drift
       |  FROM la FULL OUTER JOIN lb ON la.lang = lb.lang
       |  CROSS JOIN ga CROSS JOIN gb
       |), batch AS (
       |  SELECT CAST(COUNT(*) - (SELECT cut FROM cutv) AS BIGINT)
       |    AS batch_size
       |  FROM documents
       |), vals AS (
       |  SELECT 'batch_rejection_ppm' AS gate,
       |    CAST(0 AS BIGINT) AS v0_value,
       |    ((batch_size - (gb.n_docs - ga.n_docs)) * 1000000)
       |      // nullif(batch_size, 0) AS v1_value
       |  FROM batch, ga, gb
       |  UNION ALL
       |  SELECT 'lang_mix_drift_ppm', CAST(0 AS BIGINT), lang_drift
       |  FROM drift
       |  UNION ALL
       |  SELECT 'pii_ppm', (n_pii * 1000000) // nullif(n_docs, 0),
       |    (SELECT (n_pii * 1000000) // nullif(n_docs, 0) FROM gb)
       |  FROM ga
       |  UNION ALL
       |  SELECT 'quality_below_bar_ppm',
       |    (n_qbelow * 1000000) // nullif(n_docs, 0),
       |    (SELECT (n_qbelow * 1000000) // nullif(n_docs, 0) FROM gb)
       |  FROM ga
       |  UNION ALL
       |  SELECT 'residual_exact_dup_ppm',
       |    (SELECT (n_dup * 1000000) // nullif(n_docs, 0)
       |     FROM da CROSS JOIN ga),
       |    (SELECT (n_dup * 1000000) // nullif(n_docs, 0)
       |     FROM db CROSS JOIN gb)
       |  UNION ALL
       |  SELECT 'undersized_ppm', (n_under * 1000000) // nullif(n_docs, 0),
       |    (SELECT (n_under * 1000000) // nullif(n_docs, 0) FROM gb)
       |  FROM ga
       |), th(gate, threshold) AS (VALUES $thRows)
       |SELECT v.gate, v0_value, v1_value, threshold,
       |  v0_value <= threshold AS v0_pass,
       |  v1_value <= threshold AS v1_pass
       |FROM vals v JOIN th USING (gate)
       |ORDER BY v.gate""".stripMargin
  }


  // ---- q533: per-version serving scorecard ------------------------------

  private val ServeK = 5
  private val ServeNQ = 8 // query vectors: vec_id < 8, present in EVERY version

  /** Serving-recall SLO floor (ppm of k·|queries| possible hits): a
    * version still serving ≥90% of the LATEST version's exact top-k is
    * servable; older snapshots honestly fail on the fixture (the
    * refresh and the delete both move the top-k sets) — the mixed
    * verdict a scorecard exists to show. */
  private val ServeSloPpm = 900000L

  /** Publish the three-version serving fixture family into `out`:
    * v0 a deterministic embeddings slice, v1 a REFRESH (v0 plus a
    * disjoint insert slice, a second [[graft.pipelines.Versioned]]
    * publish), v2 a DELETION refresh — stale vectors removed through
    * the real read→anti-join→publish transaction
    * ([[graft.pipelines.Incremental.publishDelete]], the corpus leg of
    * the q518 erasure path, here at keep=3 so the scorecard can still
    * time-travel the history it audits). */
  private[graft] def publishServingFixture(spark: SparkSession,
      dir: String, out: String): Unit = {
    val base = Catalog.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val v0 = base.filter(col("vec_id") < ServeNQ || col("vec_id") % 3 === 0)
    val adds = base.filter(col("vec_id") >= ServeNQ &&
      col("vec_id") % 3 === 1)
    graft.pipelines.Versioned.publish(v0, out, "serving", keep = 3)
    graft.pipelines.Versioned.publish(v0.unionByName(adds), out, "serving",
      keep = 3)
    graft.pipelines.Incremental.publishDelete(spark, out, "serving",
      servingVictims(spark, dir), Seq("vec_id"), keep = 3)
  }

  /** The stale ids v2 deletes: a deterministic subset of v0's slice
    * (every 12th id — inside v0's `% 3 = 0` residue), so they survive
    * the v1 refresh and vanish at v2. */
  private def servingVictims(spark: SparkSession, dir: String): DataFrame =
    Catalog.load(spark, dir, "embeddings")
      .filter(col("vec_id") >= ServeNQ && col("vec_id") % 12 === 0)
      .select(col("vec_id"))

  /** The scorecard frame over an already-published family — lazy; the
    * registered query materializes it before deleting the temp family. */
  private[graft] def servingFrame(spark: SparkSession, dir: String,
      out: String): DataFrame = {
    def at(v: Long) = graft.pipelines.Versioned.read(spark, out, "serving",
      Some(v))
    val victims = servingVictims(spark, dir)
    // the latest version's exact top-k is the yardstick every leg
    // probes — checkpointed once, read three times
    val tLatest = graft.ops.VectorOps
      .cosineTopK(at(2L), col("vec_id") < ServeNQ, ServeK)
      .select(col("query_id"), col("neighbor_id"))
      .pinLazy
    val denom = ServeK.toLong * ServeNQ
    def leg(v: Long): DataFrame = {
      val cur = at(v)
      // the yardstick version's own leg IS the checkpoint — recomputing
      // it would pay a 4th top-k scan to prove a definitional 100%
      val tV =
        if (v == 2L) tLatest
        else graft.ops.VectorOps
          .cosineTopK(cur, col("vec_id") < ServeNQ, ServeK)
          .select(col("query_id"), col("neighbor_id"))
      val hits = tV.join(tLatest, Seq("query_id", "neighbor_id"),
        "left_semi").agg(count(lit(1)).as("n_hits"))
      val resid = cur.join(victims, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).as("stale_resident"))
      val diff =
        if (v == 0L) at(0L).agg(count(lit(1)).as("n_added"))
          .withColumn("n_removed", lit(0L))
        else at(v).select(col("vec_id").as("cid"))
          .join(at(v - 1).select(col("vec_id").as("pid")),
            col("cid") === col("pid"), "full_outer")
          .agg(count(when(col("pid").isNull, 1)).as("n_added"),
            count(when(col("cid").isNull, 1)).as("n_removed"))
      cur.agg(count(lit(1)).as("n_vecs"))
        .crossJoin(broadcast(diff))
        .crossJoin(broadcast(hits))
        .crossJoin(broadcast(resid))
        .select(lit(v).as("version"), col("n_vecs"), col("n_added"),
          col("n_removed"), col("stale_resident"),
          expr(s"(n_hits * 1000000) div $denom").as("serving_recall_ppm"))
        .withColumn("slo_pass", col("serving_recall_ppm") >= ServeSloPpm)
    }
    leg(0L).unionByName(leg(1L)).unionByName(leg(2L))
      .orderBy(col("version"))
  }

  /** Per-version SERVING scorecard — the r15 verdict's suggested
    * composition (b), the rollup a serving owner reads per published
    * version: corpus size, version-diff churn (added/removed vs the
    * previous version, q530's anti-join diff), exact serving recall vs
    * the LATEST version (how much of today's true top-k a snapshot
    * still serves — the freshness dimension of q530 turned into a
    * cross-version TREND, q446's drift question answered exactly), and
    * stale-id residency (how many since-deleted ids each historical
    * snapshot still holds — the table-side audit dimension of q518's
    * erasure path, here for a retention-pruned deletion rather than a
    * GDPR erase, which would kill the very history this report reads).
    * Index-side ANN recall stays in q446's spec-bounded audit; this
    * scorecard is deliberately the EXACT-serving rollup so the oracle
    * replays it bit-for-bit.
    *
    * The oracle rebuilds all three versions as CTEs and replays
    * publish → refresh → delete → per-version dual top-k → diff →
    * residency, so the hash certifies the whole chain.
    *
    * Scale shape: queries broadcast against each version scan (the
    * cosineTopK contract — never corpus×corpus); the yardstick top-k
    * is computed once and checkpointed; diffs are one shuffle on
    * vec_id per version pair; every scorecard cell enters as a 1-row
    * broadcast cross (q528's pattern); victims probe as a left-semi
    * broadcast. */
  def servingScorecard(spark: SparkSession, dir: String): DataFrame = {
    val out = java.nio.file.Files.createTempDirectory("graft_serve_")
      .toString
    try {
      publishServingFixture(spark, dir, out)
      val rep = servingFrame(spark, dir, out)
      // HARNESS-ONLY collect: the 3-row scorecard must outlive the
      // temp-dir cleanup below (q530's documented pattern)
      val rows = rep.collect().toSeq
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        rep.schema)
    } finally graft.pipelines.Fs.deleteRecursive(
      new org.apache.hadoop.fs.Path(out))
  }

  private val servingScorecardSql = {
    val denom = ServeK * ServeNQ
    def hits(tag: String) =
      s"""hit$tag AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n
         |  FROM t$tag a JOIN t2y b ON a.query_id = b.query_id
         |    AND a.neighbor_id = b.neighbor_id
         |)""".stripMargin
    s"""WITH base AS (
       |  SELECT vec_id, embedding FROM embeddings
       |), v0 AS (
       |  SELECT * FROM base WHERE vec_id < $ServeNQ OR vec_id % 3 = 0
       |), v1 AS (
       |  SELECT * FROM v0
       |  UNION ALL
       |  SELECT * FROM base WHERE vec_id >= $ServeNQ AND vec_id % 3 = 1
       |), vict AS (
       |  SELECT vec_id FROM base WHERE vec_id >= $ServeNQ AND vec_id % 12 = 0
       |), v2 AS (
       |  SELECT * FROM v1 WHERE vec_id NOT IN (SELECT vec_id FROM vict)
       |), ${scaledTopKCte("v0", "0", ServeNQ, ServeK)},
       |${scaledTopKCte("v1", "1", ServeNQ, ServeK)},
       |${scaledTopKCte("v2", "2y", ServeNQ, ServeK)},
       |${hits("0")}, ${hits("1")}, ${hits("2y")},
       |legs AS (
       |  SELECT CAST(0 AS BIGINT) AS version,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM v0) AS n_vecs,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM v0) AS n_added,
       |    CAST(0 AS BIGINT) AS n_removed,
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM v0
       |     WHERE vec_id IN (SELECT vec_id FROM vict)) AS stale_resident,
       |    (SELECT (n * 1000000) // $denom FROM hit0) AS serving_recall_ppm
       |  UNION ALL
       |  SELECT CAST(1 AS BIGINT),
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM v1),
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM v1
       |     WHERE vec_id NOT IN (SELECT vec_id FROM v0)),
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM v0
       |     WHERE vec_id NOT IN (SELECT vec_id FROM v1)),
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM v1
       |     WHERE vec_id IN (SELECT vec_id FROM vict)),
       |    (SELECT (n * 1000000) // $denom FROM hit1)
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT),
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM v2),
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM v2
       |     WHERE vec_id NOT IN (SELECT vec_id FROM v1)),
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM v1
       |     WHERE vec_id NOT IN (SELECT vec_id FROM v2)),
       |    (SELECT CAST(COUNT(*) AS BIGINT) FROM v2
       |     WHERE vec_id IN (SELECT vec_id FROM vict)),
       |    (SELECT (n * 1000000) // $denom FROM hit2y)
       |)
       |SELECT version, n_vecs, n_added, n_removed, stale_resident,
       |  serving_recall_ppm,
       |  serving_recall_ppm >= $ServeSloPpm AS slo_pass
       |FROM legs
       |ORDER BY version""".stripMargin
  }

  // ---- q534: dedup threshold sensitivity sweep --------------------------

  /** The policy points a dedup owner compares. Descending: the tightest
    * cut keeps the most, the loosest collapses the most. */
  private val SweepTaus = Seq(0.9, 0.7, 0.5, 0.3)

  /** Dedup THRESHOLD sensitivity sweep — the report that answers "what
    * does moving the Jaccard cut actually buy/cost" before a policy
    * change ships: for each candidate threshold, the exact pair count,
    * connected-component cluster count, documents and tokens removed
    * (non-representatives), and removed-token ppm. The expensive stage
    * — the shingle/candidate/verify pair scan (q61/q163 machinery) —
    * runs ONCE at the loosest threshold and is checkpointed; each
    * policy point is a FILTER of that frame plus one component solve
    * (the threshold only enters the final Jaccard cut, the same
    * reuse-by-filter argument CorpusPublisher's admission relies on), so
    * sweeping four thresholds never re-pays the corpus scan. The oracle
    * replays all four chains (four recursive-CTE component solves over
    * one shared candidate prefix).
    *
    * Scale shape: one df-capped hashed-shingle pair pass (never
    * corpus×corpus) feeding four CC solves (large-star/small-star
    * O(log n) rounds at scale); per-threshold stats are two-stage
    * combinable aggregates on the cluster grain; the pair count enters
    * as a 1-row broadcast; decimal-widened ppm (the q527 overflow
    * recipe). */
  def dedupThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    require(SweepTaus.min >= CorpusFrames.PairFloor,
      s"sweep threshold ${SweepTaus.min} below the memoized pair-scan " +
        s"floor ${CorpusFrames.PairFloor} — pairs would be silently " +
        "missing while the oracle keeps them")
    val d = docs(spark, dir)
    // the session-memoized pair scan (already checkpointed — r16 memo
    // rule: consumers must NOT re-checkpoint); four policy filters below
    val pairs = CorpusFrames.scoredPairs03(spark, dir)
    val tok = TextOps.qualityScored(d)
      .select(col("doc_id"), col("n_tokens"))
      .pinLazy // joined by all four legs
    val legs = SweepTaus.map { t =>
      val pt = pairs.filter(col("jaccard") >= t)
      val nPairs = pt.agg(count(lit(1)).as("n_pairs"))
      val perCluster = DedupOps.clustersFromPairs(d, pt)
        .join(tok, "doc_id")
        .groupBy(col("cluster_rep"))
        .agg(count(lit(1)).as("sz"),
          sum(col("n_tokens")).as("tk"),
          sum(when(col("doc_id") === col("cluster_rep"), col("n_tokens"))
            .otherwise(0L)).as("tk_rep"))
      perCluster
        .agg(count(lit(1)).as("n_clusters"),
          coalesce(sum(col("sz") - 1), lit(0L)).as("docs_removed"),
          coalesce(sum(col("tk") - col("tk_rep")), lit(0L))
            .as("tokens_removed"),
          coalesce(sum(col("tk")), lit(0L)).as("tokens_total"))
        .crossJoin(broadcast(nPairs))
        .select(lit(t).as("threshold"), col("n_pairs"), col("n_clusters"),
          col("docs_removed"), col("tokens_removed"),
          expr("(CAST(tokens_removed AS DECIMAL(38,0)) * 1000000) div " +
            "nullif(tokens_total, 0)").as("removed_ppm"))
    }
    legs.reduce(_.unionByName(_)).orderBy(col("threshold"))
  }

  private val dedupThresholdSweepSql = {
    // per-threshold chain over the SHARED candidate prefix (reachCtes'
    // toks/sh/cold/cand/card/common block, emitted once below); the
    // pairs/edges/reach/rep block is DedupQueries' parameterized
    // fragment — one source of truth for the pinned dedup arithmetic
    def chain(tag: String, thr: Double) =
      s"""${DedupQueries.reachChainAt(tag, thr.toString)}, cl$tag AS (
         |  SELECT cluster_rep, COUNT(*) AS sz, SUM(q.n_tokens) AS tk,
         |    COALESCE(SUM(q.n_tokens)
         |      FILTER (rep$tag.doc_id = cluster_rep), 0) AS tk_rep
         |  FROM rep$tag JOIN q USING (doc_id)
         |  GROUP BY 1
         |), leg$tag AS (
         |  SELECT CAST($thr AS DOUBLE) AS threshold,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs$tag) AS n_pairs,
         |    CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |    CAST(COALESCE(SUM(sz - 1), 0) AS BIGINT) AS docs_removed,
         |    CAST(COALESCE(SUM(tk - tk_rep), 0) AS BIGINT)
         |      AS tokens_removed,
         |    CAST((CAST(COALESCE(SUM(tk - tk_rep), 0) AS HUGEINT) * 1000000)
         |      // nullif(SUM(tk), 0) AS BIGINT) AS removed_ppm
         |  FROM cl$tag
         |)""".stripMargin
    val stops = stopsSql("en")
    val tags = SweepTaus.map(t => (t, s"t${(t * 10).round}"))
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |), sh AS (
       |  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS shingle
       |  FROM toks, unnest(range(1, len(t) - 3)) AS u(i)
       |  WHERE len(t) >= 5
       |), cold AS (
       |  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 1000
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  JOIN cold ON a.shingle = cold.shingle
       |), card AS (
       |  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1
       |), common AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), tq AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents
       |), q AS (
       |  SELECT doc_id, COUNT(*) AS n_tokens FROM tq GROUP BY 1
       |), ${tags.map { case (t, g) => chain(g, t) }.mkString(",\n")}
       |SELECT * FROM (${tags.map { case (_, g) => s"SELECT * FROM leg$g" }
          .mkString(" UNION ALL ")})
       |ORDER BY threshold""".stripMargin
  }

  // ---- q535: quality-score calibration report ---------------------------

  /** Quality CALIBRATION report — does the quality score actually
    * predict the outcomes curation uses it for? Per exact quality
    * decile (the q527 GlobalRank/NTILE recipe): doc count, the decile's
    * quality band edges, near-dup share (docs that are not their
    * cluster representative), language-ID agreement share, and
    * undersized share — all in exact integer ppm. A signal worth its
    * gate shows dup share and langid disagreement falling as the decile
    * rises; this report is how that claim gets checked instead of
    * assumed. Everything reads from the session-memoized curation grain
    * (one explode pass, one component pass, both shared with
    * q523/q529/q531).
    *
    * Scale shape: ONE GlobalRank range pass for the deciles (no
    * single-partition window over the doc frame); per-decile stats are
    * one combinable aggregate; no joins beyond the memoized grain's
    * own. */
  def qualityCalibration(spark: SparkSession, dir: String): DataFrame = {
    val g = curationDocGrain(spark, dir)
      .filter(col("quality").isNotNull)
      .select(col("doc_id"), col("quality"), col("lang_ok"),
        col("n_tokens"), col("cluster_rep"))
    GlobalRank.withNtile(g, 10, Seq(col("quality"), col("doc_id")),
        "decile")
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("quality")).as("q_lo"),
        max(col("quality")).as("q_hi"),
        count(when(col("doc_id") =!= col("cluster_rep"), 1)).as("n_dup"),
        count(when(col("lang_ok"), 1)).as("n_lang_ok"),
        count(when(col("n_tokens") < 10, 1)).as("n_under"))
      .select(col("decile"), col("n_docs"), col("q_lo"), col("q_hi"),
        expr("(n_dup * 1000000) div nullif(n_docs, 0)").as("dup_ppm"),
        expr("(n_lang_ok * 1000000) div nullif(n_docs, 0)")
          .as("lang_agree_ppm"),
        expr("(n_under * 1000000) div nullif(n_docs, 0)")
          .as("undersized_ppm"))
      .orderBy(col("decile"))
  }

  private val qualityCalibrationSql =
    s"""WITH RECURSIVE ${DedupQueries.reachCtes}, rep AS (
       |  SELECT d.doc_id,
       |    CAST(LEAST(d.doc_id, COALESCE(MIN(r.v), d.doc_id)) AS BIGINT)
       |      AS cluster_rep
       |  FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
       |  GROUP BY d.doc_id
       |), $profCte, x AS (
       |  SELECT d.doc_id, s.quality,
       |    COALESCE(s.pred_lang = d.lang, FALSE) AS lang_ok,
       |    s.n_tokens, r.cluster_rep,
       |    CAST(NTILE(10) OVER (ORDER BY s.quality, d.doc_id) AS INT)
       |      AS decile
       |  FROM documents d
       |  JOIN scored s ON s.doc_id = d.doc_id
       |  JOIN rep r ON r.doc_id = d.doc_id
       |)
       |SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  MIN(quality) AS q_lo, MAX(quality) AS q_hi,
       |  (CAST(COUNT(*) FILTER (doc_id <> cluster_rep) AS BIGINT)
       |    * 1000000) // nullif(COUNT(*), 0) AS dup_ppm,
       |  (CAST(COUNT(*) FILTER (lang_ok) AS BIGINT) * 1000000)
       |    // nullif(COUNT(*), 0) AS lang_agree_ppm,
       |  (CAST(COUNT(*) FILTER (n_tokens < 10) AS BIGINT) * 1000000)
       |    // nullif(COUNT(*), 0) AS undersized_ppm
       |FROM x GROUP BY 1
       |ORDER BY decile""".stripMargin

  // ---- q536: split leakage audit ----------------------------------------

  /** The train/val/test bucket of a 0..99 residue — q100's carve rule
    * ([[DedupOps.splitOf]], the shared constants), applied by both
    * audit policies below. */
  private def splitOf(key: Column): Column = DedupOps.splitOf(key)

  /** Split LEAKAGE audit — the report that justifies the cluster-keyed
    * splitter (q100) over the naive per-document one: for each policy
    * (`naive` = doc_id-residue buckets, `cluster_safe` = q100's
    * cluster_rep-residue buckets), the number of near-dup pairs
    * (5-gram Jaccard ≥ 0.5, q61's exact machinery) that STRADDLE two
    * splits, the number of val/test documents with a near-duplicate in
    * train (the eval rows whose scores are quietly inflated), that
    * count as ppm of the eval side, and the token mass of the
    * contaminated eval docs. `cluster_safe` must show zero straddling
    * pairs by construction — the audit PROVES the safety property
    * instead of asserting it, and prices what naive splitting would
    * have leaked.
    *
    * Scale shape: the pair frame is the session-memoized candidate/
    * verify pass ([[CorpusFrames.scoredPairs03]]), and ONE shared
    * pair→assignment join carries both policies' carve columns — each
    * leg and orientation is a column-filter of that checkpointed
    * frame, never a re-join; split assignment is residue arithmetic on
    * the session-memoized curation grain (no new corpus pass); the
    * per-leg rollups are combinable aggregates whose 1-row results
    * cross as broadcasts (q534's pattern). Pairs join the doc-grain
    * assignment on doc ids — 8-byte shuffle keys, never text. */
  /** The audit's near-dup cut — q100's dedup threshold; must stay at
    * or above the memo's verify floor or the Spark leg would silently
    * read an incomplete pair set the oracle still has. */
  private val AuditTau = 0.5

  def splitLeakageAudit(spark: SparkSession, dir: String): DataFrame = {
    require(AuditTau >= CorpusFrames.PairFloor,
      s"audit threshold $AuditTau below the memoized pair-scan floor " +
        s"${CorpusFrames.PairFloor} — pairs would be silently missing")
    // the session-memoized pair scan at its 0.5 policy point
    val pairs = CorpusFrames.scoredPairs03(spark, dir)
      .filter(col("jaccard") >= AuditTau)
      .select(col("doc_a"), col("doc_b"))
    val asg = curationDocGrain(spark, dir)
      .select(col("doc_id"), col("n_tokens"),
        splitOf(col("doc_id")).as("naive"),
        splitOf(col("cluster_rep")).as("cluster_safe"))
    def side(t: String) = asg.select(col("doc_id").as(s"doc_$t"),
      col("naive").as(s"naive_$t"), col("cluster_safe").as(s"safe_$t"))
    // ONE pair→assignment join pass carries BOTH policies' carve
    // columns; each leg just reads different columns of it — at corpus
    // scale this halves the pair-sized shuffle joins
    val scored = pairs.join(side("a"), "doc_a").join(side("b"), "doc_b")
      .pinLazy // both legs × both orientations read it
    def leg(policy: String): DataFrame = {
      val (pa, pb) =
        if (policy == "naive") (col("naive_a"), col("naive_b"))
        else (col("safe_a"), col("safe_b"))
      val s = asg.select(col("doc_id"), col("n_tokens"),
        col(policy).as("split"))
      val crossPairs = scored.filter(pa =!= pb)
        .agg(count(lit(1)).as("n_cross_pairs"))
      // an eval doc is contaminated if EITHER pair orientation puts its
      // near-dup twin in train
      val evalHit = scored
        .filter(pa === "train" && pb.isin("val", "test"))
        .select(col("doc_b").as("doc_id"))
        .union(scored
          .filter(pb === "train" && pa.isin("val", "test"))
          .select(col("doc_a").as("doc_id")))
        .distinct()
      val evalStats = s.join(evalHit, Seq("doc_id"), "left_semi")
        .agg(count(lit(1)).as("n_eval_contam"),
          coalesce(sum(col("n_tokens")), lit(0L)).as("tokens_at_risk"))
      s.filter(col("split").isin("val", "test"))
        .agg(count(lit(1)).as("n_eval_docs"))
        .crossJoin(broadcast(crossPairs))
        .crossJoin(broadcast(evalStats))
        .select(lit(policy).as("policy"), col("n_cross_pairs"),
          col("n_eval_docs"), col("n_eval_contam"),
          expr("(n_eval_contam * 1000000) div nullif(n_eval_docs, 0)")
            .as("eval_contam_ppm"),
          col("tokens_at_risk"))
    }
    leg("cluster_safe").unionByName(leg("naive")).orderBy(col("policy"))
  }

  private val splitLeakageAuditSql = {
    def carve(key: String) =
      s"""CASE WHEN $key % 100 < 80 THEN 'train'
         |     WHEN $key % 100 < 90 THEN 'val' ELSE 'test' END""".stripMargin
    def legCtes(p: String) =
      s"""cp_$p AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_cross_pairs
         |  FROM pairs pr
         |  JOIN asg a ON a.doc_id = pr.doc_a
         |  JOIN asg b ON b.doc_id = pr.doc_b
         |  WHERE a.$p <> b.$p
         |), eh_$p AS (
         |  SELECT b.doc_id FROM pairs pr
         |  JOIN asg a ON a.doc_id = pr.doc_a
         |  JOIN asg b ON b.doc_id = pr.doc_b
         |  WHERE a.$p = 'train' AND b.$p IN ('val', 'test')
         |  UNION
         |  SELECT a.doc_id FROM pairs pr
         |  JOIN asg a ON a.doc_id = pr.doc_a
         |  JOIN asg b ON b.doc_id = pr.doc_b
         |  WHERE b.$p = 'train' AND a.$p IN ('val', 'test')
         |), es_$p AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_eval_contam,
         |    CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS tokens_at_risk
         |  FROM asg JOIN eh_$p USING (doc_id)
         |), et_$p AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_eval_docs
         |  FROM asg WHERE $p IN ('val', 'test')
         |), leg_$p AS (
         |  SELECT '$p' AS policy, n_cross_pairs, n_eval_docs,
         |    n_eval_contam,
         |    (n_eval_contam * 1000000) // nullif(n_eval_docs, 0)
         |      AS eval_contam_ppm,
         |    tokens_at_risk
         |  FROM cp_$p, et_$p, es_$p
         |)""".stripMargin
    s"""WITH RECURSIVE ${DedupQueries.reachCtes}, rep AS (
       |  SELECT d.doc_id,
       |    CAST(LEAST(d.doc_id, COALESCE(MIN(r.v), d.doc_id)) AS BIGINT)
       |      AS cluster_rep
       |  FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
       |  GROUP BY d.doc_id
       |), tq AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents
       |), q AS (
       |  SELECT doc_id, COUNT(*) AS n_tokens FROM tq GROUP BY 1
       |), asg AS MATERIALIZED (
       |  SELECT d.doc_id, COALESCE(q.n_tokens, 0) AS n_tokens,
       |    ${carve("d.doc_id")} AS naive,
       |    ${carve("r.cluster_rep")} AS cluster_safe
       |  FROM documents d
       |  JOIN rep r USING (doc_id)
       |  LEFT JOIN q USING (doc_id)
       |), ${legCtes("naive")}, ${legCtes("cluster_safe")}
       |SELECT * FROM leg_naive
       |UNION ALL SELECT * FROM leg_cluster_safe
       |ORDER BY policy""".stripMargin
  }

  // ---- q537: cluster merge audit (batch -> topology) ---------------------

  /** Cluster MERGE audit — what landing a batch does to the near-dup
    * component topology, the question incremental admission (q447)
    * sidesteps per batch but a corpus owner must still answer over
    * time: cluster the 80% slice alone, cluster the full corpus, and
    * classify every full-corpus component by effect — `unchanged` (one
    * v0 cluster, no batch member), `grown` (one v0 cluster gained
    * batch members), `merged` (batch docs BRIDGED ≥2 formerly-separate
    * v0 clusters — the event that invalidates cached representatives),
    * `new` (all-batch), `split` (representative churn WITHOUT a merge:
    * the candidate df cap is mirrored at each population's granularity,
    * so a shingle hot in the full corpus but cold in the slice can drop
    * a v0 edge and fragment a v0 cluster — inert on the fixtures, but
    * at hot-key scale the class keeps the report honest instead of
    * mislabeling fragments as unchanged/grown). Per class: component
    * count, doc count, batch doc count, and v0 representative churn
    * (v0 docs whose component representative changed — exactly the
    * rows a rep-keyed downstream cache must invalidate). Merges are
    * why q447's admission drops bridge clusters; this report measures
    * how often the topology event actually happens.
    *
    * Scale shape: two component passes (slice + full — the full one is
    * the session-memoized [[CorpusFrames.clusters]], so one NEW pass
    * per run) joined on doc_id; distinct-v0-cluster counting is the
    * two-stage exact form (per (rep, v0_rep) counts, then per rep) —
    * no Expand, no countDistinct rewrite; classification and the final
    * rollup run on the component grain, orders of magnitude smaller
    * than the corpus. The one driver-side action is the corpus COUNT
    * that places the 80% cut (q447's pattern — a scalar, not data). */
  def clusterMergeAudit(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).pinLazy // count + slice below
    val n = d.agg(count(lit(1))).collect()(0).getLong(0)
    val cut = n * 4 / 5
    val v0 = DedupOps.dedupClusters(d.filter(col("doc_id") < cut),
        n = 5, threshold = 0.5)
      .withColumnRenamed("cluster_rep", "v0_rep")
    val full = CorpusFrames.clusters(spark, dir)
    val perPair = full.join(v0, Seq("doc_id"), "left_outer")
      .groupBy(col("cluster_rep"), col("v0_rep"))
      .agg(count(lit(1)).as("c"))
    val perCluster = perPair.groupBy(col("cluster_rep"))
      .agg(sum(col("c")).as("n_docs"),
        coalesce(sum(when(col("v0_rep").isNull, col("c"))), lit(0L))
          .as("n_batch_docs"),
        count(when(col("v0_rep").isNotNull, 1)).as("n_v0_clusters"),
        coalesce(sum(when(col("v0_rep").isNotNull &&
          col("v0_rep") =!= col("cluster_rep"), col("c"))), lit(0L))
          .as("rep_churn"))
    perCluster
      .withColumn("effect",
        when(col("n_v0_clusters") === 0, "new")
          .when(col("n_v0_clusters") >= 2, "merged")
          .when(col("rep_churn") > 0, "split")
          .when(col("n_batch_docs") > 0, "grown")
          .otherwise("unchanged"))
      .groupBy(col("effect"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("n_batch_docs")).as("n_batch_docs"),
        sum(col("rep_churn")).as("v0_rep_churn"))
      .orderBy(col("effect"))
  }

  private val clusterMergeAuditSql =
    s"""WITH RECURSIVE cutv AS (
       |  SELECT COUNT(*) * 4 // 5 AS cut FROM documents
       |), ${OracleFragments.pipelinePrefix("a",
            "doc_id < (SELECT cut FROM cutv)")},
       |${OracleFragments.reachChainAt("5", "0.5", "a")},
       |${DedupQueries.reachCtes}, rep AS (
       |  SELECT d.doc_id,
       |    CAST(LEAST(d.doc_id, COALESCE(MIN(r.v), d.doc_id)) AS BIGINT)
       |      AS cluster_rep
       |  FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
       |  GROUP BY d.doc_id
       |), j AS (
       |  SELECT f.doc_id, f.cluster_rep, r5.cluster_rep AS v0_rep
       |  FROM rep f LEFT JOIN rep5a r5 USING (doc_id)
       |), pp AS (
       |  SELECT cluster_rep, v0_rep, COUNT(*) AS c FROM j GROUP BY 1, 2
       |), pc AS (
       |  SELECT cluster_rep, SUM(c) AS n_docs,
       |    COALESCE(SUM(c) FILTER (v0_rep IS NULL), 0) AS n_batch_docs,
       |    COUNT(*) FILTER (v0_rep IS NOT NULL) AS n_v0_clusters,
       |    COALESCE(SUM(c) FILTER (v0_rep IS NOT NULL
       |      AND v0_rep <> cluster_rep), 0) AS rep_churn
       |  FROM pp GROUP BY 1
       |), cls AS (
       |  SELECT CASE WHEN n_v0_clusters = 0 THEN 'new'
       |              WHEN n_v0_clusters >= 2 THEN 'merged'
       |              WHEN rep_churn > 0 THEN 'split'
       |              WHEN n_batch_docs > 0 THEN 'grown'
       |              ELSE 'unchanged' END AS effect,
       |    n_docs, n_batch_docs, rep_churn
       |  FROM pc
       |)
       |SELECT effect, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       |  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_batch_docs) AS BIGINT) AS n_batch_docs,
       |  CAST(SUM(rep_churn) AS BIGINT) AS v0_rep_churn
       |FROM cls GROUP BY 1
       |ORDER BY effect""".stripMargin

  // ---- q538: residual eval contamination after curation ------------------

  /** RESIDUAL contamination report — how much benchmark contamination
    * (q101: corpus docs sharing ≥3 rare 5-gram shingles with the eval
    * set) SURVIVES the curation funnel (q523's langid → quality →
    * near-dup-rep chain), per corpus source. Curation removes some
    * contaminated docs incidentally (they are often low-quality or
    * near-dups of each other); what remains is exactly the work a
    * dedicated decontamination pass must do — the difference between
    * "we filter, so we're probably fine" and a measured residual. Per
    * source: corpus docs, funnel survivors, contaminated docs,
    * contaminated docs STILL KEPT, their eval-pair link count and
    * token mass, and the kept-contamination rate in ppm of survivors.
    *
    * Scale shape: the contamination leg is the session-memoized
    * df-capped hashed-shingle equi-join ([[CorpusFrames
    * .evalContamination]] — q101's Σ posting² bound, the eval side
    * small and never capped, shared with q101/q531 instead of a third
    * private corpus pass); the funnel flags come from the
    * session-memoized curation grain (no new corpus pass) with the
    * survivor representative as a groupBy + join-back on cluster_rep
    * (q523's skew-safe form, not a window); the final rollup is one
    * combinable aggregate on the source grain. Joins key on doc_id —
    * 8-byte shuffles, never text. */
  def residualContamination(spark: SparkSession, dir: String): DataFrame = {
    val contam = CorpusFrames.evalContamination(spark, dir)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_eval_hit"))
    val grain = curationDocGrain(spark, dir)
    val survRep = grain.filter(col("q_ok"))
      .groupBy(col("cluster_rep"))
      .agg(min(col("doc_id")).as("surv_rep"))
    grain.filter(col("source") =!= "src0")
      .join(survRep, Seq("cluster_rep"), "left_outer")
      .withColumn("kept", col("q_ok") && col("doc_id") === col("surv_rep"))
      .join(contam, Seq("doc_id"), "left_outer")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("kept"), 1)).as("n_kept"),
        count(when(col("n_eval_hit").isNotNull, 1)).as("n_contam"),
        count(when(col("kept") && col("n_eval_hit").isNotNull, 1))
          .as("n_contam_kept"),
        coalesce(sum(when(col("kept"), col("n_eval_hit"))), lit(0L))
          .as("eval_links_kept"),
        coalesce(sum(when(col("kept") && col("n_eval_hit").isNotNull,
          col("n_tokens"))), lit(0L)).as("tokens_contam_kept"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        col("n_contam"), col("n_contam_kept"),
        expr("(n_contam_kept * 1000000) div nullif(n_kept, 0)")
          .as("residual_ppm"),
        col("eval_links_kept"), col("tokens_contam_kept"))
      .orderBy(col("source"))
  }

  private val residualContaminationSql =
    s"""WITH RECURSIVE ${DedupQueries.reachCtes}, rep AS (
       |  SELECT d.doc_id,
       |    CAST(LEAST(d.doc_id, COALESCE(MIN(r.v), d.doc_id)) AS BIGINT)
       |      AS cluster_rep
       |  FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
       |  GROUP BY d.doc_id
       |), $profCte, flags AS (
       |  SELECT d.doc_id, d.source,
       |    COALESCE(s.pred_lang = d.lang AND s.quality >= 0.5, FALSE)
       |      AS q_ok,
       |    COALESCE(s.n_tokens, 0) AS n_tokens
       |  FROM documents d LEFT JOIN scored s USING (doc_id)
       |), surv AS (
       |  SELECT f.*,
       |    MIN(CASE WHEN f.q_ok THEN f.doc_id END)
       |      OVER (PARTITION BY r.cluster_rep) AS surv_rep
       |  FROM flags f JOIN rep r USING (doc_id)
       |), corp AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE source <> 'src0'
       |), ev AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE source = 'src0'
       |), cs AS (
       |  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS shingle
       |  FROM corp, unnest(range(1, len(t) - 3)) AS u(i) WHERE len(t) >= 5
       |), dfreq AS (
       |  SELECT shingle, COUNT(*) AS c FROM cs GROUP BY 1
       |), rare AS (
       |  SELECT doc_id, shingle FROM cs JOIN dfreq USING (shingle)
       |  WHERE c <= 1000
       |), es AS (
       |  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS shingle
       |  FROM ev, unnest(range(1, len(t) - 3)) AS u(i) WHERE len(t) >= 5
       |), cpairs AS (
       |  SELECT r.doc_id, e.doc_id AS eval_id
       |  FROM rare r JOIN es e USING (shingle)
       |  GROUP BY 1, 2
       |  HAVING COUNT(*) >= 3
       |), ch AS (
       |  SELECT doc_id, COUNT(*) AS n_eval_hit FROM cpairs GROUP BY 1
       |)
       |SELECT s.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) FILTER (q_ok AND doc_id = surv_rep) AS BIGINT)
       |    AS n_kept,
       |  CAST(COUNT(*) FILTER (ch.n_eval_hit IS NOT NULL) AS BIGINT)
       |    AS n_contam,
       |  CAST(COUNT(*) FILTER (q_ok AND doc_id = surv_rep
       |    AND ch.n_eval_hit IS NOT NULL) AS BIGINT) AS n_contam_kept,
       |  (CAST(COUNT(*) FILTER (q_ok AND doc_id = surv_rep
       |      AND ch.n_eval_hit IS NOT NULL) AS BIGINT) * 1000000)
       |    // nullif(COUNT(*) FILTER (q_ok AND doc_id = surv_rep), 0)
       |    AS residual_ppm,
       |  CAST(COALESCE(SUM(ch.n_eval_hit)
       |    FILTER (q_ok AND doc_id = surv_rep), 0) AS BIGINT)
       |    AS eval_links_kept,
       |  CAST(COALESCE(SUM(s.n_tokens) FILTER (q_ok AND doc_id = surv_rep
       |    AND ch.n_eval_hit IS NOT NULL), 0) AS BIGINT)
       |    AS tokens_contam_kept
       |FROM surv s LEFT JOIN ch USING (doc_id)
       |WHERE s.source <> 'src0'
       |GROUP BY 1
       |ORDER BY s.source""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q523_curation_funnel", curationFunnel, Some(curationFunnelSql),
      "END-TO-END curation funnel per (lang, source): corpus -> langid-" +
        "confirmed -> quality-passed -> near-dup-deduplicated, with " +
        "surviving token mass — q52+q53+q65 chained into one staged " +
        "report, monotone by construction"),
    Q("q524_token_budgeted_mixture", tokenBudgetedMixture,
      Some(tokenBudgetedMixtureSql),
      "token-BUDGETED temperature mixture: sqrt-temperature weights on " +
        "token mass (q186) + largest-remainder token quotas (q120) + " +
        "greedy in-stratum prefix admission (q125) via one GlobalRank " +
        "range shuffle — the composer a token-metered run needs"),
    Q("q525_supplier_risk_scorecard", supplierRiskScorecard,
      Some(supplierRiskScorecardSql),
      "supplier risk scorecard: one lineitem rollup (exact revenue, " +
        "return rate, part breadth) + within-nation tercile grading + " +
        "composite risk grade — join/agg/window/case composed into one " +
        "supplier-grain report"),
    Q("q526_anomaly_drilldown", anomalyDrilldown,
      Some(anomalyDrilldownSql),
      "trailing-7-day exact-median robust anomaly score over the daily " +
        "value spine + top-contributing event_type per day — q283's " +
        "global-mean flag composed into a windowed, attributed report"),
    Q("q527_dedup_token_liability", dedupTokenLiability,
      Some(dedupTokenLiabilitySql),
      "near-dedup token savings by exact quality decile: q52 quality + " +
        "q65 components + GlobalRank deciles -> exact token sums and " +
        "ppm savings per decile — the token-budget liability report"),
    Q("q528_rag_context_pack", ragContextPack, Some(ragContextPackSql),
      "RAG context assembly: q104 chunks -> chunk-level BM25 (q143 " +
        "algebra, fixed-order multi-term sum) -> greedy token-budget " +
        "prefix (q125 rule) via one GlobalRank pass — the context " +
        "manifest a retrieval server ships to the generator"),
    Q("q529_training_mixture_manifest", trainingMixtureManifest,
      Some(trainingMixtureManifestSql),
      "training-mixture BUILD manifest: q523 funnel survivors -> q524 " +
        "temperature token quotas -> q108 bin packing of the admitted " +
        "prefix, one GlobalRank pass (admission prefix IS the packing " +
        "cursor) — the doc-grain manifest a data loader streams"),
    Q("q530_index_freshness_slo", indexFreshnessSlo,
      Some(indexFreshnessSloSql),
      "index freshness SLO: publish 2 corpus versions (real Versioned " +
        "machinery), time-travel both, per-query stale-vs-fresh exact " +
        "top-k overlap + new-doc share + version diff counts — the " +
        "staleness report an index rebuild cadence is tuned against"),
    Q("q531_release_gate_report", releaseGateReport,
      Some(releaseGateReportSql),
      "pre-release go/no-go gate report: exact-dup, near-dup, langid-" +
        "mismatch, undersized, PII and eval-contamination gates (q219/" +
        "q65/q53/q99/q101 legs) as measured-vs-threshold rows with pass " +
        "verdicts — the audit a corpus publisher ships against"),
    Q("q532_corpus_refresh_audit", corpusRefreshAudit,
      Some(corpusRefreshAuditSql),
      "corpus REFRESH audit: q441 publish + q447 O(batch) admission, " +
        "then the q531 gate battery time-travel-evaluated at BOTH " +
        "versions — per-gate v0/v1 values, rejection and lang-drift " +
        "trend gates, oracle rebuilds both versions as CTEs"),
    Q("q533_serving_scorecard", servingScorecard,
      Some(servingScorecardSql),
      "per-version serving scorecard: 3-version family (publish, " +
        "refresh, real publishDelete), exact top-k recall vs latest " +
        "per version + churn diffs + stale-id residency — q530's " +
        "freshness, q446's drift and q518's residency dimensions in " +
        "one exact, fully-oracled rollup"),
    Q("q534_dedup_threshold_sweep", dedupThresholdSweep,
      Some(dedupThresholdSweepSql),
      "dedup threshold sensitivity sweep: ONE checkpointed pair scan at " +
        "the loosest cut, four policy points as filters + component " +
        "solves — exact pairs/clusters/docs/tokens-removed per " +
        "threshold, the report a dedup policy change is judged against"),
    Q("q535_quality_calibration", qualityCalibration,
      Some(qualityCalibrationSql),
      "quality-score calibration by exact decile (q527 GlobalRank/NTILE " +
        "recipe): near-dup share, langid agreement, undersized share " +
        "per decile in integer ppm, all off the memoized curation " +
        "grain — the does-the-signal-predict-outcomes audit"),
    Q("q536_split_leakage_audit", splitLeakageAudit,
      Some(splitLeakageAuditSql),
      "split LEAKAGE audit: naive doc-id split vs q100's cluster-keyed " +
        "split — straddling near-dup pairs, contaminated eval docs " +
        "(ppm) and their token mass per policy, off ONE checkpointed " +
        "pair scan — proves the zero-leak property instead of " +
        "asserting it"),
    Q("q537_cluster_merge_audit", clusterMergeAudit,
      Some(clusterMergeAuditSql),
      "cluster MERGE audit: near-dup components of the 80% slice vs " +
        "the full corpus, each full component classed unchanged/grown/" +
        "merged/new with v0 representative churn — the topology-event " +
        "report behind q447's bridge-drop rule, two-stage exact " +
        "distinct (no Expand)"),
    Q("q538_residual_contamination", residualContamination,
      Some(residualContaminationSql),
      "residual eval contamination AFTER curation, per source: q101's " +
        "rare-shingle contamination joined to q523's funnel survivors " +
        "— kept-contaminated docs, ppm of survivors, eval links and " +
        "token mass; measures what a decontamination pass must still " +
        "remove"))
}
