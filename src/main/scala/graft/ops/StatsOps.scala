package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Det._
import graft.ops.Pin._

/** Second-moment statistics (variance / stddev / covariance / correlation)
  * with exact cross-engine determinism.
  *
  * Built-in `stddev`/`corr` stream Welford-style updates whose result
  * depends on partition merge order — fine numerically, but not
  * hash-comparable across engines or even across two runs at different
  * parallelism. Recipe here: accumulate the five raw moments (Σx, Σy,
  * Σx², Σy², Σxy) as exact decimals (order-independent), cast once to
  * double, and apply ONE closed-form IEEE expression per statistic —
  * written as the same SQL text on both engines so the operation order
  * is bit-identical. This is also the scale-correct shape: one partial+
  * final hash aggregate over the fact table, no second pass for the mean.
  */
object StatsOps {

  /** Grouped moment sums + derived stats for (x, y) per `key`. Output:
    * key, n, mean_x, var_x, stddev_x, covar_xy, corr_xy. */
  def momentStats(df: DataFrame, key: Column, x: Column, y: Column): DataFrame = {
    val m = df.groupBy(key).agg(
      count(lit(1)).as("n"),
      dsum(x).as("sx"), dsum(y).as("sy"),
      dsum(x * x).as("sxx"), dsum(y * y).as("syy"),
      dsum(x * y).as("sxy"))
    // One closed-form double expression per stat — identical text runs on
    // DuckDB (see AnalyticsQueries.statsPackSql), so IEEE op order matches.
    // Every product is followed by a division (a - b*b/n): the textbook
    // one-line corr formula (n*sxy - sx*sy) has bare mul-sub shapes that a
    // -ffp-contract compiler fuses into FMAs — measured 1-ulp divergence
    // vs the JVM — so corr is built from the division-guarded pieces.
    m.selectExpr(
        m.columns.head, "n",
        "sx / n AS mean_x",
        "(sxx - sx*sx/n) / (n - 1) AS var_x",
        "(syy - sy*sy/n) / (n - 1) AS var_y",
        "(sxy - sx*sy/n) / (n - 1) AS covar_xy")
      .selectExpr(
        m.columns.head, "n", "mean_x", "var_x",
        "sqrt(var_x) AS stddev_x",
        "covar_xy",
        "covar_xy / (sqrt(var_x) * sqrt(var_y)) AS corr_xy")
  }

  /** Exact grouped percentiles by explicit rank selection (no engine
    * quantile builtin: interpolation order differs across engines). The
    * chosen ranks — lower/upper median, ceil(0.9·n) for p90 — and the
    * final (lo+hi)/2 are the same integer/IEEE expressions on both sides.
    *
    * Plan shape (round 11): a `PARTITION BY key` window looks grouped
    * but is a scale trap when the key is LOW-CARDINALITY (event types,
    * priorities, regions — every caller here): each window task swallows
    * ~1/|keys| of the fact table. Instead the per-key rank derives from
    * [[GlobalRank]]'s grouped form — one range shuffle on (key, v, tb),
    * per-key base/size from an aggregate joined back (null-safe, so a
    * null key keeps its group exactly as the window form did; AQE
    * broadcasts the small side) — then the same rank-pick aggregate.
    * Values are identical to the window form at any key cardinality. */
  def rankPercentiles(df: DataFrame, key: Column, v: Column, tiebreak: Column): DataFrame = {
    val base = df.select(key.as("k"), v.as("v"), tiebreak.as("tb"))
    val r = GlobalRank.withRowNumber(base,
      Seq(col("k"), col("v"), col("tb")), "grn")
    val bounds = r.groupBy(col("k"))
      .agg(min(col("grn")).as("g0"), count(lit(1)).as("n"))
      .withColumnRenamed("k", "bk")
    val ranked = r.join(bounds, col("k") <=> col("bk"))
      .withColumn("rn", col("grn") - col("g0") + 1)
    ranked.groupBy(col("k")).agg(
        max(col("n")).as("n"),
        max(when(expr("rn = (n + 1) div 2"), col("v"))).as("med_lo"),
        max(when(expr("rn = (n + 2) div 2"), col("v"))).as("med_hi"),
        max(when(expr("rn = cast(ceil(n * 0.9) as bigint)"), col("v"))).as("p90"))
      .select(col("k"), col("n"),
        ((col("med_lo") + col("med_hi")) / 2).as("median"), col("p90"))
  }

  /** [[rankPercentiles]] for a GLOBAL (ungrouped) frame: same chosen
    * ranks — lower/upper median, ceil(0.9·n) — and the same final
    * expressions, but the rank comes from
    * [[GlobalRank.withRowNumber]]'s range shuffle + per-partition
    * offsets instead of a constant-key window (which the optimizer
    * folds to an unpartitioned WindowExec funnelling the whole frame
    * through ONE task). The frame size is driver-known from the same
    * pass, so the three order statistics are picked by a tiny isin
    * filter. Output (n, median, p90), hash-identical to the grouped
    * form under a constant key with k dropped; empty input → empty
    * output, as with the grouped form. */
  def globalRankPercentiles(df: DataFrame, v: Column, tiebreak: Column)
      : DataFrame = {
    val base = df.select(v.as("v"), tiebreak.as("tb"))
    val (ranked, n) = GlobalRank.withRowNumberAndTotal(
      base, Seq(col("v"), col("tb")), "rn")
    val rMedLo = (n + 1) / 2
    val rMedHi = (n + 2) / 2
    val rP90 = math.ceil(n * 0.9).toLong // same IEEE expr as the SQL form
    ranked.filter(col("rn").isin(rMedLo, rMedHi, rP90))
      .agg(
        max(when(col("rn") === rMedLo, col("v"))).as("med_lo"),
        max(when(col("rn") === rMedHi, col("v"))).as("med_hi"),
        max(when(col("rn") === rP90, col("v"))).as("p90"))
      .select(lit(n).as("n"),
        ((col("med_lo") + col("med_hi")) / 2).as("median"), col("p90"))
      .limit(if (n == 0) 0 else 1)
  }

  /** Misra–Gries heavy-hitters buffer: at most `k` tracked candidates. */
  case class MgBuf(counts: Map[String, Long])

  /** Misra–Gries mergeable heavy-hitters sketch as a typed Aggregator —
    * the bounded-memory member of the sketch family next to HLL (q106)
    * and the quantile sketch (q93): exact corpus term frequency needs a
    * full (term → count) shuffle; this tracks at most k candidates per
    * partition and merges by pairwise-sum + decrement, giving every
    * item with true frequency > n/k a guaranteed slot and per-item
    * count error ≤ n/k (the classic summary-merge bound from
    * Agarwal et al., "Mergeable Summaries"). The surviving candidate SET
    * can vary with partition layout (decrements depend on merge
    * grouping) — the guarantee itself holds under ANY layout, which is
    * what the spec asserts.
    * Finish emits (item, lower-bound count) pairs; callers re-count the
    * survivors exactly if they need true frequencies (one semi-join —
    * the standard two-pass heavy-hitters recipe). */
  class HeavyHittersAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[String, MgBuf, Map[String, Long]] {
    override def zero: MgBuf = MgBuf(Map.empty)

    private def offer(m: Map[String, Long], item: String, w: Long): Map[String, Long] = {
      if (m.contains(item)) m.updated(item, m(item) + w)
      else if (m.size < k) m.updated(item, w)
      else {
        // decrement all by the smallest of (w, min count); drop zeros,
        // and keep the remainder of the incoming item if any
        val dec = math.min(w, m.values.min)
        val kept = m.map { case (i, c) => i -> (c - dec) }.filter(_._2 > 0L)
        if (w - dec > 0L) kept.updated(item, w - dec) else kept
      }
    }

    override def reduce(b: MgBuf, item: String): MgBuf = MgBuf(offer(b.counts, item, 1L))
    override def merge(x: MgBuf, y: MgBuf): MgBuf =
      MgBuf(y.counts.toSeq.sortBy(_._1).foldLeft(x.counts) {
        case (m, (item, w)) => offer(m, item, w)
      })
    override def finish(r: MgBuf): Map[String, Long] = r.counts
    override def bufferEncoder: org.apache.spark.sql.Encoder[MgBuf] =
      org.apache.spark.sql.Encoders.product[MgBuf]
    override def outputEncoder: org.apache.spark.sql.Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  }

  /** Count-Min buffer: the depth×width counter matrix, row-major. */
  case class CmBuf(counts: Array[Long])

  /** Count-Min sketch (Cormode & Muthukrishnan) as a typed mergeable
    * Aggregator — the frequency-estimation member of the sketch family
    * next to HLL (q106, cardinality), the quantile sketch (q93) and
    * Misra–Gries ([[HeavyHittersAgg]], top candidates). Each item
    * increments one counter per row (hash seeded by the row index);
    * merge is ELEMENTWISE ADDITION, so unlike Misra–Gries the final
    * matrix is bit-identical under any partitioning or merge order —
    * the property the spec asserts. `estimate` (min over rows) never
    * underestimates, and overestimates by more than 2n∕width on a given
    * row with probability ≤ 1/2, i.e. on all `depth` rows with
    * probability ≤ 2^-depth. Fixed 4×256 longs = 8 KiB per group —
    * safe to keep per key at any corpus size. */
  class CountMinAgg(depth: Int = 4, width: Int = 256)
      extends org.apache.spark.sql.expressions.Aggregator[String, CmBuf, Array[Long]] {
    override def zero: CmBuf = CmBuf(new Array[Long](depth * width))

    private def cell(r: Int, item: String): Int = {
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(item),
        org.apache.spark.sql.types.StringType, r.toLong)
      r * width + java.lang.Math.floorMod(h, width.toLong).toInt
    }

    override def reduce(b: CmBuf, item: String): CmBuf = {
      if (item != null) {
        var r = 0
        while (r < depth) { b.counts(cell(r, item)) += 1L; r += 1 }
      }
      b
    }

    override def merge(x: CmBuf, y: CmBuf): CmBuf = {
      var i = 0
      while (i < x.counts.length) { x.counts(i) += y.counts(i); i += 1 }
      x
    }

    override def finish(r: CmBuf): Array[Long] = r.counts
    override def bufferEncoder: org.apache.spark.sql.Encoder[CmBuf] =
      org.apache.spark.sql.Encoders.product[CmBuf]
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()

    /** Point frequency estimate from a finished sketch (min over rows). */
    def estimate(sketch: Array[Long], item: String): Long = {
      var best = Long.MaxValue
      var r = 0
      while (r < depth) {
        val c = sketch(cell(r, item))
        if (c < best) best = c
        r += 1
      }
      best
    }
  }

  /** CMS accuracy audit over a token stream: sketch every token through
    * [[CountMinAgg]] (one partial matrix per task, tree-merged — no key
    * ever shuffles), then compare the sketch's estimates against the
    * exact counts of the `topN` most frequent tokens. `overest` is the
    * structural CMS guarantee and must be true on every row; SketchSpec
    * also bounds the absolute excess. This is the audit a 100 TB corpus
    * runs on a small slice to size (depth, width) before trusting the
    * sketch where exact per-key aggregation no longer fits. */
  def cmsFreqAudit(toks: org.apache.spark.sql.Dataset[String],
      depth: Int = 4, width: Int = 1024, topN: Int = 20): DataFrame = {
    val agg = new CountMinAgg(depth, width)
    val sk = toks.select(agg.toColumn).head()
    val est = udf((t: String) => agg.estimate(sk, t))
    toks.toDF("tok").groupBy(col("tok")).agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("tok")).limit(topN)
      .withColumn("est_n", est(col("tok")))
      .withColumn("overest", col("est_n") >= col("exact_n"))
      .orderBy(col("exact_n").desc, col("tok"))
  }

  /** The standard two-pass heavy-hitters recipe, as a runnable query:
    * pass 1 folds the token stream through [[HeavyHittersAgg]] (bounded
    * k-entry state per task, tree-merged — nothing keyed ever shuffles);
    * pass 2 recounts ONLY the surviving candidates exactly via a
    * broadcast semi-join (candidate set is ≤ k rows, so the recount
    * shuffles k keys instead of the whole vocabulary). Emits each
    * candidate's exact count next to its MG lower bound; SketchSpec pins
    * the two MG guarantees (no miss above n/k, error ≤ n/k). At 100 TB
    * this is the only exact-top-k shape that works: the full per-term
    * aggregate is the thing being avoided. */
  def heavyHittersAudit(toks: org.apache.spark.sql.Dataset[String],
      k: Int = 32): DataFrame = {
    val spark = toks.sparkSession
    import spark.implicits._
    val cands = toks.select(new HeavyHittersAgg(k).toColumn).head()
    val candDf = cands.toSeq.toDF("tok", "mg_lower")
    toks.toDF("tok")
      .join(broadcast(candDf), Seq("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("exact_n"),
        first(col("mg_lower")).as("mg_lower"))
      .orderBy(col("exact_n").desc, col("tok"))
  }

  /** KMV buffer: the k smallest DISTINCT 64-bit hashes seen, ascending. */
  case class KmvBuf(hs: Array[Long])

  /** K-Minimum-Values distinct sketch (Bar-Yossef et al., "Counting
    * distinct elements in a data stream") as a typed mergeable
    * Aggregator — the cardinality member of the sketch family whose
    * k-min SET (unlike HLL's engine-private registers) is an exact,
    * relationally checkable object: it equals
    * `slice(sort_array(collect_set(hash)), 1, k)` under ANY partitioning
    * (SketchSpec asserts bit-equality), because insert keeps the k
    * smallest distinct hashes and merge is a k-bounded set union — both
    * order-independent. State is ≤ k longs per group (k=256 → 2 KiB),
    * safe per key at any corpus size, where the exact collect_set twin
    * grows with the true cardinality. The estimator (k-1)/u_(k) maps the
    * k-th smallest signed hash monotonically onto [0,1); with fewer than
    * k distinct hashes the sketch IS the exact distinct count. */
  class KmvAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Long, KmvBuf, Array[Long]] {
    require(k > 1, "need k > 1")
    override def zero: KmvBuf = KmvBuf(Array.emptyLongArray)

    private def insert(a: Array[Long], h: Long): Array[Long] = {
      val i = java.util.Arrays.binarySearch(a, h)
      if (i >= 0) a // already present: distinct-ness is the invariant
      else {
        val ins = -i - 1
        if (a.length < k) {
          val out = new Array[Long](a.length + 1)
          System.arraycopy(a, 0, out, 0, ins)
          out(ins) = h
          System.arraycopy(a, ins, out, ins + 1, a.length - ins)
          out
        } else if (ins < k) { // displaces the current maximum
          val out = new Array[Long](k)
          System.arraycopy(a, 0, out, 0, ins)
          out(ins) = h
          System.arraycopy(a, ins, out, ins + 1, k - ins - 1)
          out
        } else a
      }
    }

    override def reduce(b: KmvBuf, h: Long): KmvBuf = KmvBuf(insert(b.hs, h))
    override def merge(x: KmvBuf, y: KmvBuf): KmvBuf =
      KmvBuf(y.hs.foldLeft(x.hs)(insert))
    override def finish(r: KmvBuf): Array[Long] = r.hs
    override def bufferEncoder: org.apache.spark.sql.Encoder[KmvBuf] =
      org.apache.spark.sql.Encoders.product[KmvBuf]
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Bottom-k sample buffer: parallel (hash, value) arrays, ascending
    * by (hash, value). */
  case class BkBuf(hs: Array[Long], vs: Array[Double])

  /** Bottom-k-by-hash row sample as a typed mergeable Aggregator — the
    * quantile member of the sketch family (MG counts, CMS frequencies,
    * HLL/KMV cardinality, this one distributions): keeping the k rows
    * with the smallest (hash, value) keys is a uniform random sample
    * whose membership is a pure function of the data — deterministic
    * under ANY partitioning (merge = k-bounded ordered union, spec
    * asserts bit-equality with the relational rank-k window), unlike
    * `TABLESAMPLE`/`rand()` whose stream is engine- and layout-private.
    * Quantile estimates are exact rank selections on the sample; state
    * is ≤ k (long, double) pairs per group. Ties on hash (id reuse,
    * 64-bit collisions) break on the value so the sample stays a total
    * function of the multiset. */
  class BottomKAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[(Long, Double), BkBuf, BkBuf] {
    require(k > 1, "need k > 1")
    override def zero: BkBuf = BkBuf(Array.emptyLongArray, Array.emptyDoubleArray)

    private def lt(h1: Long, v1: Double, h2: Long, v2: Double): Boolean =
      h1 < h2 || (h1 == h2 && v1 < v2)

    private def insert(b: BkBuf, h: Long, v: Double): BkBuf = {
      val n = b.hs.length
      if (n == k && !lt(h, v, b.hs(n - 1), b.vs(n - 1))) return b
      var ins = 0
      while (ins < n && lt(b.hs(ins), b.vs(ins), h, v)) ins += 1
      // drop exact (hash, value) duplicates only when they ARE the same
      // row key — identical hashes with identical values collapse; the
      // multiset semantics for true duplicates ride on distinct row ids
      if (ins < n && b.hs(ins) == h && b.vs(ins) == v) return b
      val m = math.min(n + 1, k)
      val hs = new Array[Long](m); val vs = new Array[Double](m)
      System.arraycopy(b.hs, 0, hs, 0, ins)
      System.arraycopy(b.vs, 0, vs, 0, ins)
      if (ins < m) { hs(ins) = h; vs(ins) = v }
      var i = ins + 1
      while (i < m) { hs(i) = b.hs(i - 1); vs(i) = b.vs(i - 1); i += 1 }
      BkBuf(hs, vs)
    }

    override def reduce(b: BkBuf, a: (Long, Double)): BkBuf = insert(b, a._1, a._2)
    override def merge(x: BkBuf, y: BkBuf): BkBuf = {
      var out = x
      var i = 0
      while (i < y.hs.length) { out = insert(out, y.hs(i), y.vs(i)); i += 1 }
      out
    }
    override def finish(r: BkBuf): BkBuf = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[BkBuf] =
      org.apache.spark.sql.Encoders.product[BkBuf]
    override def outputEncoder: org.apache.spark.sql.Encoder[BkBuf] =
      org.apache.spark.sql.Encoders.product[BkBuf]
  }

  /** Per-group quantile estimates from the [[BottomKAgg]] sample next to
    * the exact answers — the audit that sizes k before trusting the
    * sketch where the exact window no longer fits. The sketch pass
    * tree-merges bounded state (nothing keyed shuffles); the exact pass
    * is one rank window per group. `idCol` must be row-unique (the
    * sample key). */
  def bottomKQuantiles(df: DataFrame, by: Column, idCol: Column,
      valueCol: Column, k: Int = 256): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sk = df
      .select(by.cast("string").as("grp"), xxhash64(idCol).as("h"),
        valueCol.cast("double").as("v"))
      .as[(String, Long, Double)]
      .groupByKey(_._1).mapValues(t => (t._2, t._3))
      .agg(new BottomKAgg(k).toColumn.name("sample"))
      .toDF("grp", "sample")
      .select(col("grp"), sort_array(col("sample.vs")).as("sv"))
      .select(col("grp"), size(col("sv")).cast("long").as("n_samp"),
        element_at(col("sv"),
          ceil(size(col("sv")) * 0.5).cast("int")).as("est_p50"),
        element_at(col("sv"),
          ceil(size(col("sv")) * 0.9).cast("int")).as("est_p90"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("v"), col("h"))
    val exact = df
      .select(by.cast("string").as("grp"), xxhash64(idCol).as("h"),
        valueCol.cast("double").as("v"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        max(when(col("rn") === ceil(col("n") * 0.5), col("v")))
          .as("exact_p50"),
        max(when(col("rn") === ceil(col("n") * 0.9), col("v")))
          .as("exact_p90"))
    exact.join(sk, "grp")
      .select(col("grp"), col("n"), col("n_samp"),
        col("exact_p50"), col("est_p50"), col("exact_p90"), col("est_p90"))
  }

  /** Per-group KMV distinct estimate of `valueCol` within `by`: fold
    * hashes through [[KmvAgg]] (bounded per-task state, tree-merged; the
    * only shuffle moves ≤ k longs per group), then derive the estimate
    * from the k-min set in column space. Exact below k, (k-1)/u_(k)
    * above — relative error ~1/sqrt(k-2). */
  def kmvDistinct(df: DataFrame, by: Column, valueCol: Column,
      k: Int = 256): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val twoPow64 = 1.8446744073709552e19
    df.select(by.cast("string").as("grp"), xxhash64(valueCol).as("h"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new KmvAgg(k).toColumn.name("kmins"))
      .toDF("grp", "kmins")
      .select(col("grp"), size(col("kmins")).cast("long").as("n_mins"),
        when(size(col("kmins")) < k, size(col("kmins")).cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            (element_at(col("kmins"), size(col("kmins"))).cast("double")
              / twoPow64 + 0.5)).as("kmv_est"))
  }

  /** KMV set-similarity: Jaccard between per-group value SETS estimated
    * from the same bottom-k signatures [[kmvDistinct]] keeps — the
    * mergeable-sketch identity |A∩B| = |A|+|B|−|A∪B| where the union
    * sketch is just the k smallest of the merged signature (array_union
    * + sort + slice — sketches merge, raw sets never meet). Pairwise
    * over groups: |groups|² tiny rows, each carrying k longs. The
    * ±O(1/√k) error bound is spec-pinned against exact Jaccard. */
  def kmvJaccard(df: DataFrame, by: Column, valueCol: Column,
      k: Int = 256): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val twoPow64 = 1.8446744073709552e19
    def est(arr: Column): Column =
      when(size(arr) < k, size(arr).cast("double"))
        .otherwise(lit((k - 1).toDouble) /
          (element_at(arr, size(arr)).cast("double") / twoPow64 + 0.5))
    val sk = df.select(by.cast("string").as("grp"), xxhash64(valueCol).as("h"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new KmvAgg(k).toColumn.name("kmins"))
      .toDF("grp", "kmins")
      .pinLazy // both sides of the pairwise sketch join
    // sketch table is |groups| rows (k longs each) — broadcast one side
    // so the inequality pair join plans as BroadcastNestedLoopJoin, not
    // a CartesianProduct (localCheckpoint hides the tiny size estimate)
    sk.as("a").join(broadcast(sk.as("b")), col("a.grp") < col("b.grp"))
      .select(col("a.grp").as("grp_a"), col("b.grp").as("grp_b"),
        est(col("a.kmins")).as("na_est"), est(col("b.kmins")).as("nb_est"),
        est(slice(array_sort(array_union(col("a.kmins"), col("b.kmins"))),
          1, k)).as("union_est"))
      .withColumn("jaccard_est",
        greatest(col("na_est") + col("nb_est") - col("union_est"), lit(0.0))
          / col("union_est"))
  }

  /** Deterministic stratified sampling: within each stratum (`by`), rank
    * rows by a multiplicative-hash key of the id (exact BIGINT arithmetic
    * — the same expression runs on any engine, unlike rand(seed) whose
    * stream is engine-private) and keep the top ceil(frac·n). Every
    * stratum is sampled at the same rate regardless of size — the
    * balanced-subcorpus draw a training mix needs. One window per
    * stratum, no global sort, no driver round-trip. */
  def stratifiedSample(df: DataFrame, idCol: Column, by: Column,
      frac: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // reduce the id into [0, p) BEFORE the multiply: id * 2654435761
    // overflows BIGINT for |id| ≳ 3.5e9 (hash-derived ids), which under
    // ANSI mode throws; pmod-first keeps the product ≤ (p-1)·2654435761
    // ≈ 2.65e18 < Long.Max, and normalizes negative ids identically to
    // the SQL oracle's ((id % p) + p) % p form
    val p = 1000000007L
    val keyed = df.select(idCol.as("id"), by.as("stratum"))
      .withColumn("__key",
        pmod(pmod(col("id"), lit(p)) * lit(2654435761L), lit(p)))
    val w = Window.partitionBy(col("stratum"))
      .orderBy(col("__key"), col("id"))
    keyed
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("stratum"))))
      .filter(col("rk") <= ceil(col("n") * frac))
      .select(col("id"), col("stratum"), col("rk"))
  }

  /** Training-mix composer: apportion a document `budget` across strata
    * proportionally to integer `weightCol` via LARGEST-REMAINDER
    * (Hamilton) rounding — quotas sum exactly to the budget, which
    * floor-only or rate-based sampling can't guarantee — then take each
    * stratum's quota deterministically by the same multiplicative-hash
    * ranking as [[stratifiedSample]]. Everything is BIGINT arithmetic,
    * so the draw is engine-independent and reproducible on any cluster
    * layout. Quota math runs on the per-stratum aggregate (one row per
    * stratum — bounded by the same cardinality contract as Hive
    * partitioning), and the window over it orders that tiny frame only;
    * the per-document rank shuffles once on the stratum key.
    *
    * A stratum with fewer documents than its quota contributes all of
    * them (the rank filter caps at availability; the draw then lands
    * under budget — deliberate: silently stealing the shortfall from
    * other strata would distort the declared mixture). */
  def mixtureSample(df: DataFrame, idCol: Column, by: Column,
      weightCol: Column, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = 1000000007L
    val keyed = df.select(idCol.as("id"), by.as("stratum"),
      weightCol.cast("long").as("w"))
    // min (not first): weights are functionally dependent on the stratum
    // by contract, but min keeps the aggregate deterministic even if a
    // caller violates that
    val strata = keyed.groupBy(col("stratum")).agg(min(col("w")).as("w"))
    val all = Window.partitionBy(lit(1)) // the ≤O(strata) aggregate frame
    val quotas = strata
      .withColumn("tot", sum(col("w")).over(all))
      .withColumn("base", expr(s"($budget * w) div tot"))
      .withColumn("rem", expr(s"($budget * w) % tot"))
      .withColumn("leftover", lit(budget) - sum(col("base")).over(all))
      .withColumn("rk", row_number().over(
        Window.partitionBy(lit(1)).orderBy(col("rem").desc, col("stratum")))
        .cast("long"))
      .select(col("stratum"),
        (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .as("quota"))
    val w = Window.partitionBy(col("stratum"))
      .orderBy(pmod(pmod(col("id"), lit(p)) * lit(2654435761L), lit(p)),
        col("id"))
    keyed
      .withColumn("rk", row_number().over(w).cast("long"))
      .join(broadcast(quotas), "stratum")
      .filter(col("rk") <= col("quota"))
      .select(col("id"), col("stratum"), col("quota"), col("rk"))
  }

  /** 2-D Pareto skyline (maximize `sizeCol`, minimize `costCol`) in the
    * aggregate-then-broadcast shape: the naive NOT EXISTS form (the
    * oracle) is an O(n²) self-join, but in 2-D a row survives iff its
    * cost is the minimum within its size AND strictly below the best
    * cost of every strictly larger size. So: aggregate min cost per
    * distinct size (tiny frame, bounded by the size domain), running
    * min over it sorted by size descending, broadcast back — one
    * aggregate + one broadcast join over the data, no self-join. Ties
    * on both dimensions all survive (neither strictly dominates). */
  /** Quantile normalization across groups (the microarray/feature-prep
    * standard, coarsened to `k` buckets so unequal group sizes stay
    * well-defined): every row is ranked within its group into
    * `ntile(k)` buckets on a fully deterministic order, and the
    * normalized value is the cross-group mean of its bucket — after
    * which every group shares one distribution. The per-group ntile is
    * [[GlobalRank]]'s grouped form (low-cardinality groups would put
    * ~1/|groups| of the table through one window task — the round-11
    * plan policy), bucket-identical to the `PARTITION BY group` window;
    * the ≤k-row bucket reference broadcasts back. The decimal-sum mean
    * ([[Det.davg]]) keeps the result order-independent at any
    * parallelism.
    *
    * @param tieBreak unique column making the in-group order total —
    *   without it ntile on tied values is engine-dependent. */
  def quantileNormalize(df: DataFrame, group: Column, value: Column,
      tieBreak: Column, k: Int = 100): DataFrame = {
    val tagged = df.withColumn("__qn_g", group)
    val r = GlobalRank.withRowNumber(tagged,
      Seq(col("__qn_g"), value, tieBreak), "__qn_grn")
    // per-group bounds are |groups|-sized (quantile normalization is a
    // modest-group-count operation by nature) → broadcast; the bucketed
    // frame feeds BOTH the reference aggregate and the final join, so
    // pin it once instead of recomputing the join per consumer
    val bounds = r.groupBy(col("__qn_g"))
      .agg(min(col("__qn_grn")).as("__qn_g0"), count(lit(1)).as("__qn_n"))
      .withColumnRenamed("__qn_g", "__qn_bg")
    val bucketed = r.join(broadcast(bounds), col("__qn_g") <=> col("__qn_bg"))
      .withColumn("bucket", GlobalRank.ntileFromRowNumber(
        col("__qn_grn") - col("__qn_g0") + 1, col("__qn_n"), k))
      .drop("__qn_g", "__qn_grn", "__qn_bg", "__qn_g0", "__qn_n")
      .pinLazy
    val ref = bucketed.groupBy(col("bucket"))
      .agg(davg(value).as("norm_value"))
    bucketed.join(broadcast(ref), "bucket")
  }

  /** Sign-aware truncating integer division — BigInt `/` and DuckDB
    * `//`-on-non-negatives agree under this form, so fixed-point
    * recurrences land on identical values on every engine. */
  def idiv(x: Long, d: Long): Long = if (x < 0) -((-x) / d) else x / d

  /** Holt double exponential smoothing (level + trend) in fixed-point
    * micro-units over an already-collapsed series — the model step of a
    * forecast pipeline. The cluster's job ends at the daily aggregate
    * (1e12 raw rows → one row per day); the recurrence is inherently
    * sequential, so it runs driver-side on the model-sized series (the
    * same contract as k-means / power iteration). All integer: one
    * answer on any engine.
    *
    * @return (t, level, trend) per step, 1-based, in input units. */
  def holtSmooth(xs: Seq[Long], alphaMicro: Long = 300000L,
      betaMicro: Long = 300000L): Seq[(Long, Long, Long)] = {
    if (xs.isEmpty) return Seq.empty
    val M = 1000000L
    var l = xs.head
    var tr = 0L
    val out = Seq.newBuilder[(Long, Long, Long)]
    out += ((1L, l, tr))
    var t = 1
    while (t < xs.length) {
      val lNew = idiv(alphaMicro * xs(t) + (M - alphaMicro) * (l + tr), M)
      val trNew = idiv(betaMicro * (lNew - l) + (M - betaMicro) * tr, M)
      l = lNew; tr = trNew
      out += ((t + 1L, l, tr))
      t += 1
    }
    out.result()
  }

  /** Holt–Winters additive triple smoothing (level + trend + seasonal,
    * rotating `period`-slot seasonal state) in the same fixed-point
    * micro-unit integer arithmetic as [[holtSmooth]] — the recurrence
    * is sequential and runs driver-side on the collapsed model-sized
    * series; every operation is 64-bit integer, one answer anywhere.
    * Cold start: level = x₁, trend = 0, seasonal slots = 0 (slots warm
    * up over the first cycle).
    *
    * @return (t, level, trend, seasonal) per step, 1-based. */
  def holtWinters(xs: Seq[Long], period: Int = 7,
      alphaMicro: Long = 300000L, betaMicro: Long = 100000L,
      gammaMicro: Long = 200000L): Seq[(Long, Long, Long, Long)] = {
    if (xs.isEmpty) return Seq.empty
    val M = 1000000L
    val seas = Array.fill(period)(0L)
    var l = xs.head
    var tr = 0L
    val out = Seq.newBuilder[(Long, Long, Long, Long)]
    out += ((1L, l, tr, 0L))
    var t = 1
    while (t < xs.length) {
      val p = t % period // 0-based slot of step t+1
      val sOld = seas(p)
      val x = xs(t)
      val lNew = idiv(alphaMicro * (x - sOld) + (M - alphaMicro) * (l + tr), M)
      val trNew = idiv(betaMicro * (lNew - l) + (M - betaMicro) * tr, M)
      val sNew = idiv(gammaMicro * (x - lNew) + (M - gammaMicro) * sOld, M)
      seas(p) = sNew
      l = lNew; tr = trNew
      out += ((t + 1L, l, tr, sNew))
      t += 1
    }
    out.result()
  }

  def skyline2d(df: DataFrame, idCol: Column, sizeCol: Column,
      costCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = df.select(idCol.as("id"), sizeCol.as("size"),
      costCol.as("cost"))
    val perSize = rows.groupBy(col("size")).agg(min(col("cost")).as("mn"))
    // distinct sizes only → no peers; rowsBetween == rangeBetween here
    val larger = Window.partitionBy(lit(1)).orderBy(col("size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val thresh = perSize.withColumn("better", min(col("mn")).over(larger))
    rows.join(broadcast(thresh), "size")
      .filter(col("cost") === col("mn") &&
        (col("better").isNull || col("cost") < col("better")))
      .select(col("id"), col("size"), col("cost"))
  }
}
