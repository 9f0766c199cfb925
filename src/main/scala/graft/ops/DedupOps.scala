package graft.ops

import graft.Trace
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Pin._

/** Deduplication operators for training-data pipelines (SURVEY §2.7 /
  * north-star): exact (hash-groupBy), exact n-gram Jaccard via shingle
  * join, MinHash+LSH banding, SimHash.
  *
  * Scale design: nothing here compares all pairs. Exact dedup is one
  * shuffle on a 32-byte hash; Jaccard joins on rare shingles (cost =
  * Σ bucket², bounded by shingle rarity); MinHash reduces each document
  * to k minima then joins on band signatures; SimHash buckets on 16-bit
  * sub-bands. All use xxhash64 — a fixed, partition-order-independent
  * hash — so results are reproducible across any cluster layout.
  */
object DedupOps {

  /** Default document-frequency cap for candidate-join posting lists
    * (shingles, LSH bands, SimHash sub-bands). A key shared by d
    * documents contributes d·(d−1)/2 candidate pairs to a self-join, so
    * one boilerplate shingle ("click here to subscribe…") that appears in
    * 10⁸ documents would alone emit ~5·10¹⁵ pairs — the classic
    * quadratic blowup of MinHash at corpus scale. Capping df bounds the
    * self-join at |postings|·maxDf/2 pairs total. 1000 keeps every
    * fixture posting (≤500 docs) while bounding any single key's fan-out
    * at ~5·10⁵ pairs on a real corpus. */
  val DefaultMaxDf: Long = 1000L

  /** Drop postings whose key occurs in more than `maxDf` documents,
    * BEFORE a candidate self-join (maxDf ≤ 0 disables the cap).
    *
    * Recall trade (document-frequency capping, standard MinHash-at-scale
    * practice): a pair is surfaced only if it shares ≥1 key with
    * df ≤ maxDf. Pairs whose every common shingle/band is corpus-hot are
    * missed — but such pairs share only boilerplate, which is exactly
    * the similarity signal dedup wants to ignore. Verification stages
    * always run on FULL per-document sets, so the cap never changes a
    * reported jaccard value, only candidate recall.
    *
    * Cost: one count aggregate over the compact (doc, key) postings
    * (8-byte keys) + an anti-join against the hot-key list, which is at
    * most |postings|/maxDf keys and is typically broadcast-sized. */
  def capHotKeys(postings: DataFrame, keyCols: Seq[String], maxDf: Long): DataFrame = {
    if (maxDf <= 0L) postings
    else {
      val ks = keyCols.map(col)
      val hot = postings.groupBy(ks: _*)
        .agg(count(lit(1)).as("__df"))
        .filter(col("__df") > maxDf)
        .select(ks: _*)
      // usingColumns joins move the key columns first; restore the
      // caller's column order so the cap is a pure filter
      postings.join(hot, keyCols, "left_anti")
        .select(postings.columns.toIndexedSeq.map(col): _*)
    }
  }

  /** Exact duplicate groups keyed by sha256(text): representative id,
    * copy count. One shuffle; text itself never shuffles (hash only). */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(sha2(col("text"), 256).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distinct word n-gram shingles per document: (doc_id, shingle).
    * Built in a compiled partition-local loop (the `transform`+`slice`
    * HOF formulation runs interpreted and measured ~5× slower) with
    * per-document dedup in-row — no global distinct shuffle. */
  def shingles(docs: DataFrame, n: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val toks = if (text == null) Array.empty[String]
            else text.split(" ", -1) // limit -1: SQL trailing-"" semantics
          if (toks.length < n) Iterator.empty
          else {
            val seen = new java.util.HashSet[String](toks.length * 2)
            val out = Array.newBuilder[(Long, String)]
            var i = 0
            while (i <= toks.length - n) {
              val sb = new java.lang.StringBuilder(64)
              var j = 0
              while (j < n) {
                if (j > 0) sb.append(' ')
                sb.append(toks(i + j)); j += 1
              }
              val s = sb.toString
              if (seen.add(s)) out += ((id, s))
              i += 1
            }
            out.result().iterator
          }
        }
      }.toDF("doc_id", "shingle")
  }

  /** The exact verify step of every Jaccard pair join: match the
    * candidate pairs (doc_a, doc_b, …) to both sides' FULL shingle sets
    * `docsets` (doc_id, shs, n_sh), score
    * jaccard = |∩| / (|A|+|B|−|∩|) with `array_intersect`, and keep the
    * pairs at or above `threshold` as the candidate columns + jaccard. */
  private def verifiedJaccard(cand: DataFrame, docsets: DataFrame,
      threshold: Double): DataFrame =
    cand
      .join(docsets.as("a"), col("doc_a") === col("a.doc_id"))
      .join(docsets.as("b"), col("doc_b") === col("b.doc_id"))
      .withColumn("n_common",
        size(array_intersect(col("a.shs"), col("b.shs"))).cast("long"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("a.n_sh") + col("b.n_sh") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(cand.columns.map(col) :+ col("jaccard"): _*)

  /** Exact n-gram Jaccard near-duplicate pairs via shingle equi-join:
    * candidates share ≥1 shingle with df ≤ maxDf ([[capHotKeys]] — the
    * cap bounds the self-join's quadratic hot-key blowup at corpus
    * scale); each candidate is then verified with exact
    * jaccard = |∩| / (|A|+|B|−|∩|) over the FULL shingle sets, so the
    * cap affects candidate recall only, never a reported value. */
  def jaccardPairs(docs: DataFrame, n: Int = 5, threshold: Double = 0.5,
      maxDf: Long = DefaultMaxDf): DataFrame = {
    // localCheckpoint: sh feeds the docsets branch plus capHotKeys' two
    // consumers (df-count aggregate + anti-join) — without it the
    // compiled shingling pass re-executes once per consumer (the hashed
    // twin already checkpoints for exactly this reason)
    val sh = shingles(docs, n).pinLazy
    val docsets = sh.groupBy(col("doc_id"))
      .agg(collect_list(col("shingle")).as("shs"),
        count(lit(1)).as("n_sh")) // shingles are already distinct per doc
    val capped = capHotKeys(sh, Seq("shingle"), maxDf)
    val cand = capped.as("x")
      .join(capped.as("y"),
        col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifiedJaccard(cand, docsets, threshold)
  }

  /** Exact Jaccard pairs via PPJoin-style PREFIX FILTERING (Bayardo et
    * al. WWW'07; Xiao et al. WWW'08) — the LOSSLESS candidate pruner:
    * under any global token order, two sets with jaccard ≥ t must share
    * a token inside their first `|x| − ceil(t·|x|) + 1` tokens (if all
    * common tokens sat in x's suffix, the overlap would be ≤
    * ceil(t·|x|) − 1 < t·|x| ≤ |x∩y| — contradiction). Ordering tokens
    * RAREST-FIRST makes those prefixes land on low-df postings, so the
    * candidate join's Σ posting² collapses without the recall loss of
    * [[capHotKeys]] (which drops hot postings entirely): this variant's
    * output is exactly the uncapped join's. Shuffles carry 8-byte
    * hashed shingles; verification runs on full sets as always.
    * Cost: one df aggregate + one doc_id window + the (pruned)
    * candidate equi-join. */
  def jaccardPairsPrefix(docs: DataFrame, n: Int = 5,
      threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = hashedShingles(docs, n).pinLazy
    val docsets = sh.groupBy(col("doc_id"))
      .agg(collect_list(col("sh_h")).as("shs"), count(lit(1)).as("n_sh"))
    val dfreq = sh.groupBy(col("sh_h")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh_h"))
    val prefix = sh.join(dfreq, "sh_h")
      .withColumn("rnk", row_number().over(w))
      .withColumn("n_sh", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .filter(col("rnk") <=
        col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 1)
      .select(col("doc_id"), col("sh_h"))
    val cand = prefix.as("x")
      .join(prefix.as("y"),
        col("x.sh_h") === col("y.sh_h") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifiedJaccard(cand, docsets, threshold)
  }

  /** Containment near-dup pairs: |A∩B| / min(|A|,|B|) ≥ threshold.
    * One-sided similarity — a document wholly contained in a much larger
    * one scores 1.0 here but only |A|/|B| under Jaccard, so this is the
    * detector for quote-expansion / subset documents. Candidate
    * generation and full-set verification are exactly [[jaccardPairs]]'s
    * (df-capped equi-join; the cap never changes a reported value). */
  def containmentPairs(docs: DataFrame, n: Int = 5, threshold: Double = 0.8,
      maxDf: Long = DefaultMaxDf): DataFrame = {
    val sh = shingles(docs, n).pinLazy
    val docsets = sh.groupBy(col("doc_id"))
      .agg(collect_list(col("shingle")).as("shs"),
        count(lit(1)).as("n_sh"))
    val capped = capHotKeys(sh, Seq("shingle"), maxDf)
    val cand = capped.as("x")
      .join(capped.as("y"),
        col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(docsets.as("a"), col("doc_a") === col("a.doc_id"))
      .join(docsets.as("b"), col("doc_b") === col("b.doc_id"))
      .withColumn("n_common",
        size(array_intersect(col("a.shs"), col("b.shs"))).cast("long"))
      .withColumn("containment",
        col("n_common").cast("double") /
          least(col("a.n_sh"), col("b.n_sh")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("containment"))
  }

  /** Distinct hashed shingles per document: (doc_id, sh_h: long). The
    * shingle string is never materialized: token hashes are computed once
    * per token and combined per window in compiled JVM code
    * (mapPartitions — justified last resort here: the `transform` HOF
    * formulation runs its lambda through the expression interpreter and
    * measured ~2× slower than even string-building; this loop is ~6×
    * faster). Shingles are deduped per document inside the row, so NO
    * global distinct shuffle is needed — downstream shuffles 8-byte
    * longs only. Approximate (MinHash) path input; the exact-Jaccard
    * oracle path keeps real strings. */
  def hashedShingles(docs: DataFrame, n: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import scala.util.hashing.MurmurHash3
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val toks = if (text == null) Array.empty[String]
            else text.split(" ", -1) // limit -1: SQL trailing-"" semantics
          if (toks.length < n) Iterator.empty
          else {
            val th = new Array[Long](toks.length)
            var i = 0
            while (i < toks.length) {
              val lo = MurmurHash3.stringHash(toks(i), 0x12345678)
              val hi = MurmurHash3.stringHash(toks(i), 0x9747b28c)
              th(i) = (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
              i += 1
            }
            val seen = new java.util.HashSet[java.lang.Long](toks.length * 2)
            val out = Array.newBuilder[(Long, Long)]
            i = 0
            while (i <= toks.length - n) {
              var h = -7046029254386353131L // fixed odd seed
              var j = 0
              while (j < n) { h = h * 31 ^ th(i + j); j += 1 }
              if (seen.add(h)) out += ((id, h))
              i += 1
            }
            out.result().iterator
          }
        }
      }.toDF("doc_id", "sh_h")
  }

  /** splitmix64-style avalanche of a shingle hash with a permutation
    * index — the JVM-side minhash family (wrapping arithmetic is fine in
    * compiled code; the SQL surface can't wrap under ANSI mode). */
  @inline private def mix(h: Long, i: Int): Long = {
    var z = h ^ (i.toLong * 0x9E3779B97F4A7C15L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Per-document MinHash signatures + shingle set in ONE compiled
    * partition-local pass: (doc_id, mins: array<long>[k], shs: sorted
    * distinct shingle hashes). A document's signature depends only on its
    * own text, so there is NO shuffle here at all — each row is complete
    * when the scan task finishes: k·|shingles| compiled ops per
    * document. It is the engine's only MinHash signature path. */
  def minhashDocs(docs: DataFrame, n: Int = 5, k: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import scala.util.hashing.MurmurHash3
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val toks = if (text == null) Array.empty[String]
            else text.split(" ", -1) // limit -1: SQL trailing-"" semantics
          if (toks.length < n) (id, Array.fill(k)(Long.MaxValue), Array.empty[Long])
          else {
            val th = new Array[Long](toks.length)
            var i = 0
            while (i < toks.length) {
              val lo = MurmurHash3.stringHash(toks(i), 0x12345678)
              val hi = MurmurHash3.stringHash(toks(i), 0x9747b28c)
              th(i) = (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
              i += 1
            }
            val seen = new java.util.HashSet[java.lang.Long](toks.length * 2)
            val mins = Array.fill(k)(Long.MaxValue)
            i = 0
            while (i <= toks.length - n) {
              var h = -7046029254386353131L // same shingle hash as hashedShingles
              var j = 0
              while (j < n) { h = h * 31 ^ th(i + j); j += 1 }
              if (seen.add(h)) {
                var p = 0
                while (p < k) {
                  val m = mix(h, p)
                  if (m < mins(p)) mins(p) = m
                  p += 1
                }
              }
              i += 1
            }
            val shs = new Array[Long](seen.size)
            val itr = seen.iterator(); var s = 0
            while (itr.hasNext) { shs(s) = itr.next(); s += 1 }
            java.util.Arrays.sort(shs)
            (id, mins, shs)
          }
        }
      }.toDF("doc_id", "mins", "shs")
  }

  /** MinHash-LSH near-dup pairs, exact-verified: candidates collide in ≥1
    * band; each candidate pair is then verified with exact Jaccard over
    * its shingle sets (no all-pairs stage anywhere).
    *
    * Single-pass, shuffle-free signatures: [[minhashDocs]] computes each
    * doc's k minhashes AND its shingle set row-locally in one compiled
    * scan — the only shuffles left are the band self-join and the
    * candidate verify join, both on compact keys. Verification is a hash
    * join of candidate pairs against the doc→set table with
    * `array_intersect` for |∩| (exact, integer). */
  def minhashLshPairs(docs: DataFrame, n: Int = 5, k: Int = 64, r: Int = 4,
      threshold: Double = 0.5, maxDf: Long = DefaultMaxDf): DataFrame = {
    // docs shorter than n tokens have no shingles — banding their
    // sentinel signatures would collide them all with each other.
    // localCheckpoint: md feeds both the bands and the docsets branches
    // (the latter twice), and without it the compiled per-doc
    // MinHash+shingle pass re-executes once per consumer.
    val md = minhashDocs(docs, n, k).filter(size(col("shs")) > 0)
      .pinLazy
    val bandCols = (0 until k / r).map { b =>
      struct(lit(b).as("band_id"),
        xxhash64((b * r until (b + 1) * r).map(i =>
          element_at(col("mins"), i + 1)): _*).as("band_hash"))
    }
    val bands = md.select(col("doc_id"), explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.band_hash"))
    val docsets = md.select(col("doc_id"), col("shs"),
      size(col("shs")).cast("long").as("n_sh"))
    // df-cap on band postings: a band value shared by d docs yields d²/2
    // candidates; capping bounds the self-join on boilerplate-heavy
    // corpora (verification below still uses full shingle sets)
    val cappedBands = capHotKeys(bands, Seq("band_id", "band_hash"), maxDf)
    val cand = cappedBands.as("x")
      .join(cappedBands.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifiedJaccard(cand, docsets, threshold)
  }

  /** Winnowed document fingerprints (Schleimer/Wilkerson/Aiken): k-gram
    * rolling hashes over the token stream, then the minimum hash of every
    * sliding window of `w` consecutive k-grams (rightmost tie-break),
    * deduplicated per document. Guarantees any shared run of ≥ w+k-1
    * tokens contributes a shared fingerprint, with ~2/(w+1) sampling
    * density. Same compiled partition-local shape as [[hashedShingles]];
    * output (doc_id, fp) longs, no payload shuffle. */
  def winnowedFingerprints(docs: DataFrame, k: Int = 5, w: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import scala.util.hashing.MurmurHash3
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val toks = if (text == null) Array.empty[String]
            else text.split(" ", -1) // limit -1: SQL trailing-"" semantics
          val n = toks.length - k + 1
          if (n < 1) Iterator.empty
          else {
            val kh = new Array[Long](n)
            val th = toks.map { t =>
              val lo = MurmurHash3.stringHash(t, 0x12345678)
              val hi = MurmurHash3.stringHash(t, 0x9747b28c)
              (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
            }
            var i = 0
            while (i < n) {
              var h = -7046029254386353131L
              var j = 0
              while (j < k) { h = h * 31 ^ th(i + j); j += 1 }
              kh(i) = h; i += 1
            }
            val seen = new java.util.HashSet[java.lang.Long]()
            val out = Array.newBuilder[(Long, Long)]
            i = 0
            while (i + w <= n) { // window of w k-gram hashes
              var m = kh(i); var j = 1
              while (j < w) { if (kh(i + j) <= m) m = kh(i + j); j += 1 }
              if (seen.add(m)) out += ((id, m))
              i += 1
            }
            out.result().iterator
          }
        }
      }.toDF("doc_id", "fp")
  }

  /** Exact n-gram Jaccard pairs over HASHED shingles: same semantics as
    * [[jaccardPairs]] (modulo astronomically-unlikely 64-bit collisions),
    * much cheaper plan — shingle sets come shuffle-free from
    * [[minhashDocs]], the candidate self-join keys on 8-byte longs
    * instead of shingle strings, and |∩| is an `array_intersect` against
    * the compact doc→set table. The pair-graph builder for
    * [[dedupClusters]]/[[corpusClean]]; [[jaccardPairs]] stays as the
    * string-exact oracle path (q61). */
  def jaccardPairsHashed(docs: DataFrame, n: Int = 5,
      threshold: Double = 0.5, maxDf: Long = DefaultMaxDf): DataFrame = {
    // localCheckpoint: md fans out to the postings and docsets branches
    // (docsets twice) — without it the compiled shingle pass re-runs per
    // consumer. Eager, as in [[incrementalJaccardPairs]]: those branches
    // run as concurrent stages
    val md = minhashDocs(docs, n, k = 0).filter(size(col("shs")) > 0)
      .pinEager
    val sh = md.select(col("doc_id"), explode(col("shs")).as("sh_h"))
    val docsets = md.select(col("doc_id"), col("shs"),
      size(col("shs")).cast("long").as("n_sh"))
    // candidates key on df-capped postings; exact verify below uses the
    // full sets, so the cap trades only candidate recall on hot keys
    val capped = capHotKeys(sh, Seq("sh_h"), maxDf)
    val cand = capped.as("a")
      .join(capped.as("b"),
        col("a.sh_h") === col("b.sh_h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifiedJaccard(cand, docsets, threshold)
  }

  /** Distributed min-label propagation over a symmetric (u, v) edge
    * list: lbl(u) ← min(lbl(u), min over neighbors lbl(v)) until
    * fixpoint — one join + aggregate per round, O(component diameter)
    * rounds, nothing collected to the driver. Kept as the simple
    * reference solver (ScaleSpec asserts it agrees with
    * [[largeSmallStarLabels]], which needs far fewer rounds on skewed
    * graphs and is the production distributed path). Each round is
    * `localCheckpoint`ed: iterative plans otherwise nest one join per
    * round and re-execute the whole chain at every convergence check.
    * Returns (labels over the graph's vertices, rounds used); throws on
    * non-convergence (a silent split label would break determinism). */
  def minLabelPropagation(edges: DataFrame, maxIters: Int = 25)
      : (DataFrame, Int) = {
    var lbl = edges.select(col("u").as("doc_id"))
      .distinct()
      .withColumn("lbl", col("doc_id"))
      .pinEager
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val nbrMin = edges.join(lbl, edges("v") === lbl("doc_id"))
        .groupBy(col("u")).agg(min(col("lbl")).as("nbr_lbl"))
      val next = lbl.join(nbrMin, lbl("doc_id") === nbrMin("u"), "left")
        .select(lbl("doc_id"),
          least(lbl("lbl"), coalesce(col("nbr_lbl"), lbl("lbl"))).as("lbl"))
        .pinEager
      converged = next.as("nx").join(lbl.as("ol"), "doc_id")
        .filter(col("nx.lbl") < col("ol.lbl")).isEmpty
      lbl = next
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"minLabelPropagation did not converge in $maxIters iterations " +
        "(a component's diameter exceeds it); raise maxIters")
    (lbl, iter)
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR moves
    * (the MapReduce CC algorithm of Kiveris et al. 2014): large-star
    * hangs every neighbor LARGER than u off the minimum of u's closed
    * neighborhood; small-star re-hangs the smaller neighbors (and u
    * itself) off that minimum. Both moves preserve connectivity and
    * strictly flatten trees, converging to per-component stars rooted at
    * the component minimum in O(log n) rounds — where min-label
    * propagation needs O(diameter) rounds (a path graph of length d
    * costs d join rounds there, ~log d here, and near-dup corpora
    * produce exactly such chains through boilerplate bridges). Each move
    * is one window-min over the edge list partitioned by vertex — no
    * joins inside a round; rounds are `localCheckpoint`ed like every
    * iterative op here.
    *
    * Input: (u, v) edge list (either orientation, self-loops ignored).
    * Output: ((doc_id, lbl = component min) for every vertex appearing
    * in `edges`, rounds used). Throws on non-convergence. */
  def largeSmallStarLabels(edges: DataFrame, maxIters: Int = 25)
      : (DataFrame, Int) = {
    import org.apache.spark.sql.expressions.Window
    def canon(e: DataFrame) = e.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    def sym(e: DataFrame) = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val w = Window.partitionBy(col("u"))
    // large-star: for v ∈ Γ(u) with v > u, emit (v, min(Γ(u) ∪ {u}))
    def largeStar(e: DataFrame): DataFrame =
      sym(e).withColumn("m", least(min(col("v")).over(w), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    // small-star: orient (u > v); per u emit (v, m) for all smaller
    // neighbors v plus (u, m), m = min neighbor (all < u)
    def smallStar(e: DataFrame): DataFrame = {
      val o = canon(e).withColumn("m", min(col("v")).over(w))
      o.select(col("v").as("u"), col("m").as("v"))
        .union(o.select(col("u"), col("m").as("v")))
    }
    var cur = canon(edges).pinEager
    var rounds = 0
    var converged = cur.isEmpty
    while (!converged && rounds < maxIters) {
      val next = canon(smallStar(largeStar(cur))).pinEager
      // both sides are canonical distinct sets: equal size + next ⊆ cur
      // (anti-join, cheaper than except) ⇒ identical ⇒ fixpoint (stars)
      converged = next.count() == cur.count() &&
        next.join(cur, Seq("u", "v"), "left_anti").isEmpty
      cur = next
      rounds += 1
    }
    if (!converged) throw new IllegalStateException(
      s"largeSmallStarLabels did not converge in $maxIters rounds; " +
        "raise maxIters")
    val labels = sym(cur).groupBy(col("u")).agg(min(col("v")).as("mn"))
      .select(col("u").as("doc_id"), least(col("u"), col("mn")).as("lbl"))
    (labels, rounds)
  }

  /** Near-duplicate CLUSTERS: connected components over the exact-Jaccard
    * pair graph, labels = min doc_id reachable (the canonical "keeper" of
    * each dup cluster in a training-data pipeline).
    *
    * Output: (doc_id, cluster_rep) for EVERY document — singletons map to
    * themselves. Deterministic: the component minimum, whichever solver
    * runs.
    *
    * Hybrid solver: the pair graph after near-dup filtering is orders of
    * magnitude smaller than the corpus. If it has at most `driverEdgeCap`
    * edges (default 2²⁰ ≈ 16 MB of longs) the driver runs exact
    * union-find on the collected edge list and broadcasts the label map —
    * no iteration rounds at all; only the model-sized labels, never
    * documents, cross to the driver. Larger graphs run distributed
    * [[largeSmallStarLabels]] (O(log n) rounds even on skewed hot-hub
    * graphs). All paths produce identical output (asserted in
    * AnalyticsSpec / ScaleSpec). */
  def dedupClusters(docs: DataFrame, n: Int = 5, threshold: Double = 0.5,
      maxIters: Int = 25, driverEdgeCap: Long = 1L << 20,
      maxDf: Long = DefaultMaxDf): DataFrame =
    clustersFromPairs(docs,
      jaccardPairsHashed(docs, n, threshold, maxDf), maxIters, driverEdgeCap)

  /** Connected components over an ALREADY-SCORED near-dup pair frame
    * `(doc_a, doc_b, …)` — the [[dedupClusters]] solver with candidate
    * generation factored out, for callers that need components at
    * SEVERAL thresholds from one shingle pass: the Jaccard threshold
    * only enters the pair joins' final filter, so
    * `pairs(τ_hi) ≡ pairs(τ_lo).filter(jaccard ≥ τ_hi)` and the whole
    * candidate/verify machinery — the expensive part at corpus scale —
    * never reruns ([[graft.pipelines.CorpusPublisher]] clusters at both
    * its thresholds this way). */
  def clustersFromPairs(docs: DataFrame, scoredPairs: DataFrame,
      maxIters: Int = 25, driverEdgeCap: Long = 1L << 20): DataFrame =
      Trace.span("ops.DedupOps.clusters") {
    val spark = docs.sparkSession
    import spark.implicits._
    val pairs = scoredPairs.select(col("doc_a"), col("doc_b"))
    val edges = pairs.union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("u", "v").pinEager
    val nEdges = edges.count() // already materialized by the checkpoint
    val labels: DataFrame =
      if (nEdges == 0) spark.emptyDataset[(Long, Long)].toDF("doc_id", "lbl")
      else if (nEdges <= driverEdgeCap) {
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != c) { val p = parent(c); parent(c) = r; c = p }
          r
        }
        edges.as[(Long, Long)].collect().foreach { case (u, v) =>
          val (ru, rv) = (find(u), find(v))
          if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv }
        }
        val verts = parent.keySet ++ parent.values
        broadcast(verts.toSeq.sorted.map(x => (x, find(x))).toDF("doc_id", "lbl"))
      } else largeSmallStarLabels(edges, maxIters)._1
    docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_rep"))
  }

  /** Leakage-safe train/val/test split: assignment is keyed on the
    * near-dup CLUSTER representative, not the document id, so two
    * near-duplicates can never land in different splits — the classic
    * train/test-contamination bug a naive per-doc split commits at corpus
    * scale. Buckets are `cluster_rep % 100` (deterministic: the rep is
    * the min doc_id of the component), carved into train/val/test by the
    * given percentages. */
  def leakageSafeSplits(docs: DataFrame, n: Int = 5, threshold: Double = 0.5,
      trainPct: Int = 80, valPct: Int = 10,
      maxDf: Long = DefaultMaxDf): DataFrame =
    dedupClusters(docs, n, threshold, maxDf = maxDf)
      .withColumn("split", splitOf(col("cluster_rep"), trainPct, valPct))
      .select(col("doc_id"), col("cluster_rep"), col("split"))

  /** The 0..99-residue train/val/test carve [[leakageSafeSplits]] keys
    * on the cluster representative — exposed so audits of the split
    * rule (q536 applies it to BOTH the representative and the raw
    * doc_id) provably share the constants instead of re-hardcoding
    * them. */
  def splitOf(key: Column, trainPct: Int = 80, valPct: Int = 10): Column =
    when(key % 100 < trainPct, "train")
      .when(key % 100 < trainPct + valPct, "val")
      .otherwise("test")

  /** Benchmark-contamination scan: corpus documents sharing at least
    * `minCommon` RARE n-gram shingles (corpus df ≤ maxDf — ubiquitous
    * boilerplate n-grams are noise for contamination, and the cap is
    * what keeps the join linear) with any document of an evaluation set.
    * The standard pre-training hygiene pass: run before training with
    * every benchmark you intend to report. Equi-join on HASHED shingles
    * ([[hashedShingles]], both sides the same 64-bit hash — the shingle
    * string never shuffles, the checkpoint and join carry 8-byte longs):
    * cost is Σ posting², bounded by the df cap; the (small) eval side is
    * never capped. Counting distinct shared hashes instead of strings
    * can differ only on a 64-bit collision inside one (corpus doc, eval
    * doc) pair's shingles — vanishing at any corpus size that fits an
    * exabyte. */
  def contamination(corpus: DataFrame, evalDocs: DataFrame, n: Int = 5,
      minCommon: Long = 3, maxDf: Long = DefaultMaxDf): DataFrame = {
    // localCheckpoint: capHotKeys consumes the corpus postings twice
    // (df-count + anti-join); checkpointing stops the compiled corpus
    // shingling pass from re-executing per consumer
    val sh = hashedShingles(corpus, n).pinLazy
    val rare = capHotKeys(sh, Seq("sh_h"), maxDf)
    val es = hashedShingles(evalDocs, n)
    rare.as("c").join(es.as("e"), col("c.sh_h") === col("e.sh_h"))
      .groupBy(col("c.doc_id").as("doc_id"), col("e.doc_id").as("eval_id"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
  }

  /** [[contamination]] with a broadcast Bloom prefilter on the corpus
    * side — the shape that wins once the corpus is 100 TB and the eval
    * set is megabytes: corpus postings are probed against a bloom of the
    * eval set's shingle hashes BEFORE the shuffle join, so only the
    * ~fpp·|corpus postings| + true matches ever shuffle, instead of
    * every corpus posting. Result is EXACTLY [[contamination]]'s (same
    * oracle): the bloom only drops rows the equi-join would drop anyway;
    * false positives survive to the join and die there. The cap still
    * computes on the FULL postings df (same rarity semantics). The eval
    * side is counted once to size the filter — an action on the small
    * side only; the probe is a scala UDF by necessity (the sketch rides
    * as a broadcast object), acceptable because it guards a shuffle that
    * would otherwise move the whole corpus. */
  def contaminationBloom(corpus: DataFrame, evalDocs: DataFrame, n: Int = 5,
      minCommon: Long = 3, maxDf: Long = DefaultMaxDf,
      fpp: Double = 0.01): DataFrame = {
    val sh = hashedShingles(corpus, n).pinLazy
    val rare = capHotKeys(sh, Seq("sh_h"), maxDf)
    val es = hashedShingles(evalDocs, n).pinLazy
    val nEval = es.count()
    // an empty eval set can't contaminate anything; stat.bloomFilter over
    // zero rows also yields an unusable (bit-array-less) sketch — short
    // circuit rather than probe it
    val prefiltered =
      if (nEval == 0L) rare.filter(lit(false))
      else {
        val bloom = es.stat.bloomFilter("sh_h", nEval, fpp)
        val bc = corpus.sparkSession.sparkContext.broadcast(bloom)
        val probe = udf((h: Long) => bc.value.mightContainLong(h))
        rare.filter(probe(col("sh_h")))
      }
    prefiltered
      .as("c").join(es.as("e"), col("c.sh_h") === col("e.sh_h"))
      .groupBy(col("c.doc_id").as("doc_id"), col("e.doc_id").as("eval_id"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
  }

  /** Incremental dedup admission — vet a NEW batch of documents against
    * an already-deduplicated corpus, and within itself, WITHOUT ever
    * forming a corpus×corpus pair: candidate pairs are (batch×corpus) ∪
    * (batch×batch) only, keyed on df-capped hashed-shingle postings, so
    * the candidate join grows with the batch's postings, not with a
    * corpus re-pair. The corpus side is NOT O(batch): every call re-reads
    * and re-shingles the whole `corpus` frame ([[incrementalJaccardPairs]])
    * to build its postings, so a call costs one full corpus scan on top
    * of the batch-sized join. The corpus was cleaned once; every refresh
    * only admits newcomers.
    *
    * Verdicts per batch document (precedence order):
    * `exact_dup` (same text as a corpus doc, or as a smaller-id batch
    * doc), `near_dup` (Jaccard ≥ threshold against any corpus doc or any
    * smaller-id batch doc — greedy by id, the same min-keeper convention
    * as [[dedupClusters]]), else `admitted`. Verification always runs on
    * FULL shingle sets ([[capHotKeys]] contract). */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame, n: Int = 5,
      threshold: Double = 0.5, maxDf: Long = DefaultMaxDf): DataFrame = {
    // exact tier: 32-byte hashes, never the text
    val cHash = corpus.select(sha2(col("text"), 256).as("h")).distinct()
    val bHash = batch.select(col("doc_id"), sha2(col("text"), 256).as("h"))
      .pinLazy // three consumers below
    val exactDup = bHash.join(cHash, "h").select(col("doc_id"))
      .union(bHash
        .join(bHash.groupBy(col("h")).agg(min(col("doc_id")).as("keep")), "h")
        .filter(col("doc_id") =!= col("keep")).select(col("doc_id")))
      .distinct()
    // near tier: the scored admission pairs, thresholded to a drop set
    val nearDup = incrementalJaccardPairs(corpus, batch, n, threshold, maxDf)
      .select(col("doc_b").as("doc_id")).distinct()
    batch.select(col("doc_id"))
      .join(exactDup.withColumn("__e", lit(1)), Seq("doc_id"), "left")
      .join(nearDup.withColumn("__n", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__e").isNotNull, "exact_dup")
          .when(col("__n").isNotNull, "near_dup")
          .otherwise("admitted").as("status"))
  }

  /** The SCORED admission pairs behind [[incrementalDedup]]'s near tier:
    * every (batch doc, other doc) pair with n-gram Jaccard ≥ `threshold`,
    * where `other` ranges over the corpus AND smaller-id batch docs —
    * the (batch×corpus) ∪ (batch×batch) candidate join of the admission
    * pattern (never corpus×corpus), df-capped postings, full exact
    * verify. The corpus's shingle sets are recomputed from its text on
    * every call ([[minhashDocs]] over all of `corpus`). Keeping the
    * SCORE (instead of collapsing to a status) is what lets one
    * machinery run serve two thresholds downstream — the
    * [[graft.pipelines.CorpusPublisher]] two-threshold discipline
    * (dedup at the high cut, split/contamination scope at the loose
    * one), for an append and for a full publish (an empty `corpus`)
    * alike.
    *
    * @return (doc_b, doc_a, other_side, jaccard): doc_b is always the
    *         batch doc; other_side is "c" (corpus) or "b" (smaller-id
    *         batch doc). */
  def incrementalJaccardPairs(corpus: DataFrame, batch: DataFrame,
      n: Int = 5, threshold: Double = 0.5,
      maxDf: Long = DefaultMaxDf): DataFrame = Trace.span("ops.DedupOps.pairs") {
    // pinned EAGERLY: the postings and docsets exchanges below run as
    // concurrent stages over both sets, and a lazy pin is checkpointed
    // when the first of them finishes, dropping the lineage (and the
    // SQL metrics) that the other stage's running tasks still report
    // to — each such task logged "Failed to update accumulator"
    val cmd = minhashDocs(corpus, n, k = 0).filter(size(col("shs")) > 0)
      .pinEager
    val bmd = minhashDocs(batch, n, k = 0).filter(size(col("shs")) > 0)
      .pinEager
    def postings(md: DataFrame, side: String) =
      md.select(col("doc_id"), explode(col("shs")).as("sh_h"))
        .withColumn("side", lit(side))
    val posts = capHotKeys(
      postings(cmd, "c").union(postings(bmd, "b")), Seq("sh_h"), maxDf)
    val cand = posts.filter(col("side") === "b").as("x")
      .join(posts.as("y"),
        col("x.sh_h") === col("y.sh_h") &&
          (col("y.side") === "c" || col("x.doc_id") > col("y.doc_id")))
      .select(col("x.doc_id").as("doc_b"), col("y.doc_id").as("doc_a"),
        col("y.side").as("other_side"))
      .distinct()
    val docsets = cmd.union(bmd).select(col("doc_id"), col("shs"),
      size(col("shs")).cast("long").as("n_sh"))
    verifiedJaccard(cand, docsets, threshold)
  }

  /** End-to-end corpus cleaning — the composed training-data pipeline:
    * keep a document iff (1) its quality score clears `qualityMin`
    * (TextOps.qualityScored: length/stopword/diversity mix), (2) it is
    * its exact-dup group's keeper (min doc_id per sha256), and (3) it is
    * its near-dup cluster's representative ([[dedupClusters]], which also
    * covers exact dups of ≥n tokens — rule 2 catches the short ones).
    * Output: (doc_id, lang, quality) of survivors. */
  def corpusClean(docs: DataFrame, qualityMin: Double = 0.38,
      maxDf: Long = DefaultMaxDf, threshold: Double = 0.5): DataFrame = {
    val quality = TextOps.qualityScored(docs).select(col("doc_id"), col("quality"))
    val reps = dedupClusters(docs, threshold = threshold, maxDf = maxDf)
      .filter(col("doc_id") === col("cluster_rep")).select(col("doc_id"))
    val keepers = exactGroups(docs).select(col("keep_id").as("doc_id"))
    docs.select(col("doc_id"), col("lang"))
      .join(quality, "doc_id")
      .filter(col("quality") >= qualityMin)
      .join(reps, Seq("doc_id"), "left_semi")
      .join(keepers, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), col("quality"))
  }

  /** 64-bit SimHash per document: bitwise majority vote over
    * xxhash64(token), computed in ONE compiled partition-local pass —
    * a signature depends only on its own document, so there is NO
    * shuffle (the previous relational form exploded 64 rows per token
    * before its first aggregate; at 100 TB that is a 64× row inflation
    * feeding a corpus-wide shuffle). Bit-equal to [[simhashRelational]]
    * — the same token hash (XxHash64Function, seed 42, the interpreted
    * body of the SQL `xxhash64`) and the same `split(" ", -1)`
    * tokenization with trailing empties kept — asserted in
    * DedupTextSpec. */
  def simhash(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.unsafe.types.UTF8String
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        // null text contributes no tokens and therefore no signature —
        // the doc is skipped, matching the relational twin's explode(NULL)
        it.filter(_._2 != null).map { case (id, text) =>
          val toks = text.split(" ", -1) // limit -1: SQL trailing-"" semantics
          val counts = new Array[Int](64)
          var t = 0
          while (t < toks.length) {
            val h = XxHash64Function.hash(UTF8String.fromString(toks(t)),
              org.apache.spark.sql.types.StringType, 42L)
            var b = 0
            while (b < 64) {
              if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
              b += 1
            }
            t += 1
          }
          var sig = 0L
          var b = 0
          while (b < 64) { if (counts(b) > 0) sig |= 1L << b; b += 1 }
          (id, sig)
        }
      }.toDF("doc_id", "simhash64")
  }

  /** Relational twin of [[simhash]] (declarative column algebra: explode
    * tokens × 64 bit positions, two aggregates). Kept as the
    * cross-checkable specification of the signature — DedupTextSpec
    * asserts bit-equality — but the row-local form is the production
    * path: this one inflates 64 rows per token before its first
    * shuffle. */
  def simhashRelational(docs: DataFrame): DataFrame = {
    val tok = TextOps.exploded(docs).withColumn("h", xxhash64(col("tok")))
    tok
      .select(col("doc_id"), col("h"), explode(sequence(lit(0), lit(63))).as("b"))
      .withColumn("bit", expr("cast(shiftright(h, b) & 1 as int)"))
      .groupBy(col("doc_id"), col("b"))
      .agg(sum(col("bit") * 2 - 1).as("s"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("s") > 0, expr("shiftleft(cast(1 as bigint), b)")).otherwise(0L))
        .as("simhash64"))
  }

  /** SimHash near-dup candidates: 4×16-bit sub-band collision (any pair
    * with hamming distance ≤ 3 must agree on ≥1 sub-band), then exact
    * hamming via bit_count(xor). */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      maxDf: Long = DefaultMaxDf): DataFrame = {
    val s = simhash(docs)
    val allBanded = s.select(col("doc_id"), col("simhash64"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band_id"),
            expr(s"cast(shiftright(simhash64, ${b * 16}) & 65535 as int)").as("band_val"))): _*))
          .as("band"))
      .select(col("doc_id"), col("simhash64"), col("band.band_id"), col("band.band_val"))
    // df-cap bounds the sub-band self-join on corpora where many docs
    // share a sub-band (weakens the ≤3-hamming completeness guarantee
    // only for pairs whose every agreeing sub-band is corpus-hot)
    val banded = capHotKeys(allBanded, Seq("band_id", "band_val"), maxDf)
    banded.as("x")
      .join(banded.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("bit_count(x.simhash64 ^ y.simhash64)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** ALL token n-gram shingles per document WITH their 1-based token
    * position: (doc_id, pos, shingle). Unlike [[shingles]] this keeps
    * every occurrence (no per-doc dedup) — positions are what the
    * duplicated-span detector chains on. Same compiled partition-local
    * loop as [[shingles]] (the HOF formulation runs interpreted). */
  def positionedShingles(docs: DataFrame, n: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val toks = if (text == null) Array.empty[String]
            else text.split(" ", -1) // limit -1: SQL trailing-"" semantics
          if (toks.length < n) Iterator.empty
          else {
            val out = new Array[(Long, Int, String)](toks.length - n + 1)
            var i = 0
            while (i <= toks.length - n) {
              val sb = new java.lang.StringBuilder(64)
              var j = 0
              while (j < n) {
                if (j > 0) sb.append(' ')
                sb.append(toks(i + j)); j += 1
              }
              out(i) = ((id, i + 1, sb.toString))
              i += 1
            }
            out.iterator
          }
        }
      }.toDF("doc_id", "pos", "shingle")
  }

  /** Exact duplicated-substring spans across documents — the
    * exact-substring dedup step of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better"), reformulated as a
    * shingle-chain join instead of their suffix array: positioned
    * n-gram shingles are equi-joined across documents (df-capped —
    * a boilerplate shingle in every doc can't go quadratic), and
    * matches at constant offset delta with consecutive positions are
    * merged islands-style (pos − row_number) into maximal spans.
    *
    * A run of L matching n-shingles certifies an identical substring of
    * L+n−1 tokens, so `minRun` spans ≥ minRun+n−1 duplicated tokens.
    * The df cap can split (never invent) a span whose interior shingle
    * is corpus-hot — deterministically, which is why the oracle can
    * reproduce it. At 100 TB the join key becomes the 8-byte shingle
    * hash ([[hashedShingles]] recipe); strings here keep the DuckDB
    * oracle exact.
    *
    * @return (doc_a, doc_b, a_start, b_start, span_tokens), a < b. */
  def dupSpans(docs: DataFrame, n: Int = 6, maxDf: Long = 8,
      minRun: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // capHotKeys counts occurrences (postings), which here also bounds
    // the pair fan-out at C(maxDf, 2) per surviving shingle
    val sh = capHotKeys(positionedShingles(docs, n), Seq("shingle"), maxDf)
      .pinLazy // both sides of the pair self-join read it
    val m = sh.as("x").join(sh.as("y"),
        col("x.shingle") === col("y.shingle") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.pos").as("pa"), col("y.pos").as("pb"))
    // islands: within one (a, b, delta) diagonal pa is unique, so
    // pa − row_number is constant exactly along consecutive runs
    val w = Window.partitionBy(col("a"), col("b"), col("pa") - col("pb"))
      .orderBy(col("pa"))
    m.withColumn("g", col("pa") - row_number().over(w))
      .groupBy(col("a"), col("b"), (col("pa") - col("pb")).as("delta"),
        col("g"))
      .agg(min(col("pa")).cast("long").as("a_start"),
        min(col("pb")).cast("long").as("b_start"),
        count(lit(1)).as("run"))
      .filter(col("run") >= minRun)
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        col("a_start"), col("b_start"),
        (col("run") + lit(n - 1)).as("span_tokens"))
  }
}
