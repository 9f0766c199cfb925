package graft.pipelines

import graft.ops.{DedupOps, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Pin._

/** End-to-end TRAINING-CORPUS publisher — the document-side sibling of
  * the ANN index family ([[graft.ops.AnnIndex]]): compose the cleaning,
  * dedup, and split machinery the ops layer already proves into one
  * atomic versioned publish a training job can actually consume.
  *
  * Stages (all existing, spec'd operators — this file only composes):
  *   1. quality gate + exact-dup keeper + near-dup cluster
  *      representative ([[DedupOps.corpusClean]], threshold
  *      `dedupThreshold`);
  *   2. leakage-safe split assignment ([[DedupOps.leakageSafeSplits]])
  *      at a LOOSER `splitThreshold`: documents too dissimilar to
  *      dedup away but similar enough to contaminate an eval set land
  *      in the SAME split — the two-threshold discipline (dedup at
  *      high similarity, contamination-guard at moderate similarity)
  *      that a single-threshold pipeline gets wrong;
  *   3. per-split budget manifest (docs, whitespace tokens, chars) —
  *      the numbers a mixture/curriculum planner reads;
  *   4. ONE [[Versioned.publishGroupMembers]] transaction:
  *      `corpus_train` / `corpus_val` / `corpus_test` (doc_id, lang,
  *      quality, token_count, text, batch) + `corpus_manifest` —
  *      readers snapshot all four consistently via
  *      [[Versioned.readGroup]], and a crashed publish rolls forward
  *      exactly like any other group.
  *
  * The corpus tables are Hive-partitioned by ingest `batch` (the full
  * publish is batch 0), which is what makes [[appendBatch]] stage
  * O(batch) bytes: a new document batch stages ONE new partition per
  * table and links every prior batch through the manifest — the
  * admission move [[graft.ops.AnnIndex.append]] makes against its
  * frozen model, applied to the published corpus family. Vetting the
  * batch is not O(batch): it re-reads and re-shingles the whole
  * published corpus on every append.
  *
  * Scale: every stage is the already-audited operator (hashed-shingle
  * joins under the df cap, no all-pairs stage); the publish itself adds
  * one pass over the kept rows. Rebuilds version the whole family;
  * time travel and rollback come from [[Versioned]] for free.
  */
object CorpusPublisher {

  val TrainTable = "corpus_train"
  val ValTable = "corpus_val"
  val TestTable = "corpus_test"
  val ManifestTable = "corpus_manifest"

  private val SplitTables =
    Seq(TrainTable -> "train", ValTable -> "val", TestTable -> "test")

  /** The kept, split-assigned corpus rows (pre-publish view):
    * (doc_id, lang, quality, token_count, text, split).
    *
    * The shingle/candidate/verify machinery — the expensive stage at
    * corpus scale — runs ONCE: pairs are scored at the looser
    * `splitThreshold` and the dedup components reuse the same frame
    * filtered to `dedupThreshold` (the threshold only enters the final
    * Jaccard cut, so the filtered set is exactly what scoring at the
    * higher threshold would produce; CorpusPublisherSpec pins equality
    * with the independently-computed [[DedupOps.corpusClean]]). */
  def prepared(docs: DataFrame, qualityMin: Double = 0.38,
      dedupThreshold: Double = 0.5, splitThreshold: Double = 0.3,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(splitThreshold <= dedupThreshold,
      "the split scope must be at most as strict as the dedup cut")
    val pairsLow = DedupOps.jaccardPairsHashed(docs,
        threshold = splitThreshold)
      .pinLazy // feeds both component solves below
    val repsHigh = DedupOps.clustersFromPairs(docs,
        pairsLow.filter(col("jaccard") >= dedupThreshold))
      .filter(col("doc_id") === col("cluster_rep")).select(col("doc_id"))
    val quality = TextOps.qualityScored(docs)
      .select(col("doc_id"), col("quality"))
    val keepers = DedupOps.exactGroups(docs)
      .select(col("keep_id").as("doc_id"))
    val kept = docs.select(col("doc_id"), col("lang"))
      .join(quality, "doc_id")
      .filter(col("quality") >= qualityMin)
      .join(repsHigh, Seq("doc_id"), "left_semi")
      .join(keepers, Seq("doc_id"), "left_semi")
    val splits = DedupOps.clustersFromPairs(docs, pairsLow)
      .withColumn("split", splitOf(col("cluster_rep"), trainPct, valPct))
      .select(col("doc_id"), col("split"))
    kept
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
      .join(splits, "doc_id")
      .select(col("doc_id"), col("lang"), col("quality"),
        size(TextOps.tokens(col("text"))).cast("long").as("token_count"),
        col("text"), col("split"))
  }

  /** The deterministic split rule, shared by the full publish and the
    * standalone-cluster path of [[appendBatch]] (it must be the SAME
    * function or batch admission diverges from a full republish). */
  private def splitOf(clusterRep: org.apache.spark.sql.Column,
      trainPct: Int, valPct: Int): org.apache.spark.sql.Column =
    when(clusterRep % 100 < trainPct, "train")
      .when(clusterRep % 100 < trainPct + valPct, "val")
      .otherwise("test")

  /** A split table's member for a group publish: normally one new
    * `batch=` partition (GroupDelta) linking `reuse`; but a partitioned
    * version may not be EMPTY (the manifest must name at least one
    * partition directory), so an empty side with nothing to link is
    * published as a plain empty version instead — same columns, and
    * a later append over it simply starts its partition history then. */
  private def sideMember(t: String, rows: DataFrame, batchId: Long,
      reuse: Seq[(String, String)]): Versioned.GroupMember = {
    val withBatch = rows.withColumn("batch", lit(batchId))
    if (reuse.isEmpty && rows.isEmpty) Versioned.GroupFull(t, withBatch)
    else Versioned.GroupDelta(t, withBatch, "batch", reuse)
  }

  /** Publish the prepared corpus as one atomic versioned group (all
    * rows land in `batch` partition 0); returns (table → version). */
  def publish(docs: DataFrame, baseDir: String, qualityMin: Double = 0.38,
      dedupThreshold: Double = 0.5, splitThreshold: Double = 0.3,
      trainPct: Int = 80, valPct: Int = 10, keep: Int = 3): Map[String, Long] = {
    val prep = prepared(docs, qualityMin, dedupThreshold, splitThreshold,
        trainPct, valPct)
      .pinLazy // three split filters + the manifest below
    val manifest = prep.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("token_count")).cast("long").as("n_tokens"),
        sum(length(col("text")).cast("long")).cast("long").as("n_chars"))
      .orderBy(col("split"))
    def side(s: String) = prep.filter(col("split") === s).drop("split")
    Versioned.publishGroupMembers(
      SplitTables.map { case (t, s) =>
        sideMember(t, side(s), batchId = 0L, reuse = Nil)
      } :+ Versioned.GroupFull(ManifestTable, manifest), baseDir, keep)
  }

  /** Admit a NEW document batch into the published corpus family as one
    * group transaction that stages O(batch) bytes — the corpus-side
    * analogue of [[graft.ops.AnnIndex.append]] against its frozen
    * model: the batch is vetted against the PUBLISHED corpus (the
    * admission pattern — (batch×corpus) ∪ (batch×batch) shingle joins via
    * [[DedupOps.incrementalJaccardPairs]], never corpus×corpus), each
    * split table stages only its new `batch=<batchId>` partition with
    * every prior batch linked through the manifest, and the budget
    * manifest is updated from the OLD manifest + the batch's deltas
    * (exact long sums — no corpus re-aggregation). The vetting join is
    * batch-sized, but building its corpus-side postings reads every
    * published split table and re-shingles every published document, so
    * an append's cost still grows with the corpus. Batch `doc_id`s must
    * exceed every published id (the monotone-id contract), and batch
    * ids must be fresh — a reused batch id fails loudly against the
    * partition ledger.
    *
    * Admission rules, chosen so that on a non-bridging batch the result
    * EQUALS a full republish of (original docs ∪ batch)
    * (CorpusPublisherSpec pins the equality):
    *   - quality gate: same pure-function score, same floor;
    *   - exact tier: batch doc dropped if its sha256 matches any
    *     published doc (the published doc has the smaller id and stays
    *     keeper) or a smaller-id batch doc;
    *   - near tier at `dedupThreshold`: a batch CLUSTER (connected
    *     components over batch×batch pairs) is dropped entirely when
    *     any member pairs with a published doc (the published rep
    *     stays; transitively attached batch docs go with it, matching
    *     the republish cluster); a standalone batch cluster keeps its
    *     min-id representative only;
    *   - splits at `splitThreshold`: a batch cluster with published
    *     neighbors in exactly ONE split inherits it (its members join
    *     that cluster under republish, whose corpus rep — and therefore
    *     split — is unchanged); with NO published neighbors it is a new
    *     cluster and gets `splitOf(min batch id)`, the republish rule
    *     verbatim. A cluster whose neighbors span ≥2 splits is a BRIDGE:
    *     under republish it would merge two published clusters and flip
    *     existing docs' splits, which admission must never do — it is
    *     dropped (conservative: admitting it to either side would
    *     contaminate the other), so the leakage invariant holds
    *     UNCONDITIONALLY across versions and no published doc's split
    *     ever changes. Bridges are re-homed by the next full publish.
    *
    * Vetting compares against PUBLISHED docs only (like every admission
    * system): a batch doc near-duplicate of a previously REJECTED doc
    * is judged on its own merits — identical text still fails the same
    * pure-function quality gate, but a near-dup of a dropped
    * low-quality doc can be admitted where a from-scratch republish
    * containing the old doc would drop it. That asymmetry is inherent
    * to admission against the published state (the rejected doc is not
    * in it) and is the same trade [[graft.ops.AnnIndex.append]] makes
    * by encoding against the frozen model.
    *
    * @return (table → version) of the new group snapshot. */
  def appendBatch(batch: DataFrame, baseDir: String, batchId: Long,
      qualityMin: Double = 0.38, dedupThreshold: Double = 0.5,
      splitThreshold: Double = 0.3, trainPct: Int = 80, valPct: Int = 10,
      keep: Int = 3): Map[String, Long] = {
    require(splitThreshold <= dedupThreshold,
      "the split scope must be at most as strict as the dedup cut")
    val spark = batch.sparkSession
    import spark.implicits._
    // the snapshot-read → vet → group-publish span is ONE writer
    // transaction (r14): an erase or second append landing between this
    // read and the commit would be silently rolled back when this
    // journal becomes the family's latest
    Versioned.withFamilyLease(baseDir,
      SplitTables.map(_._1) :+ ManifestTable) {
    // family-aware snapshot: other group families may share the journal
    val vs = Versioned.latestGroupVersionsFor(baseDir, TrainTable)
      .getOrElse(throw new IllegalStateException(
        s"no published corpus family under $baseDir"))
    // reuse entries per split table: a missing manifest is legal only
    // for a table published EMPTY (the sideMember fallback) — anything
    // else is an old-layout publish that must be redone first
    val reuseOf = SplitTables.map { case (t, _) =>
      t -> (Versioned.manifest(baseDir, t, vs(t)) match {
        case Some(m) => m.entries
        case None =>
          require(
            Versioned.read(spark, baseDir, t, Some(vs(t))).isEmpty,
            s"$t v${vs(t)} has data but no partition manifest — " +
              "published by an older CorpusPublisher? republish first")
          Nil
      })
    }.toMap
    require(!reuseOf.values.exists(_.exists(_._1 == batchId.toString)),
      s"batch $batchId already admitted to the corpus (ids must be fresh)")
    val published = SplitTables.map { case (t, s) =>
      Versioned.read(spark, baseDir, t, Some(vs(t)))
        .select(col("doc_id"), col("text"), lit(s).as("split"))
    }.reduce(_ unionByName _).pinLazy // hash + shingle tiers
    val maxPublished = published.agg(coalesce(max(col("doc_id")), lit(-1L)))
      .as[Long].head()
    val b = batch.pinLazy // quality/hash/shingle/join fan-out
    require(b.filter(col("doc_id") <= maxPublished).isEmpty,
      "batch doc_ids must exceed every published id (monotone-id contract)")

    // exact tier: keeper within the batch, nothing identical to corpus
    val exactKeepers = DedupOps.exactGroups(b)
      .select(col("keep_id").as("doc_id"))
    val notCorpusCopy = b.select(col("doc_id"), sha2(col("text"), 256).as("h"))
      .join(published.select(sha2(col("text"), 256).as("h")), Seq("h"),
        "left_anti")
      .select(col("doc_id"))

    // the scored admission pairs, ONCE at the looser threshold; both
    // cuts below are filters over this one frame (two-threshold reuse)
    val pairsLow = DedupOps.incrementalJaccardPairs(
        published.select(col("doc_id"), col("text")), b,
        threshold = splitThreshold)
      .pinLazy

    // near tier at the dedup cut: batch clusters over batch×batch pairs;
    // drop clusters touching the corpus, keep standalone reps
    val pairsHighB = pairsLow.filter(col("other_side") === "b" &&
      col("jaccard") >= dedupThreshold)
    val highClusters = DedupOps.clustersFromPairs(b,
      pairsHighB.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val corpusDupIds = pairsLow.filter(col("other_side") === "c" &&
        col("jaccard") >= dedupThreshold)
      .select(col("doc_b").as("doc_id")).distinct()
    val corpusDupClusters = highClusters
      .join(corpusDupIds, Seq("doc_id"), "left_semi")
      .select(col("cluster_rep")).distinct()
    val nearKept = highClusters
      .join(corpusDupClusters, Seq("cluster_rep"), "left_anti")
      .filter(col("doc_id") === col("cluster_rep"))
      .select(col("doc_id"))

    // split tier at the loose cut: batch clusters + their published
    // neighbors' splits → inherit / new-cluster rule / bridge drop
    val lowClusters = DedupOps.clustersFromPairs(b,
        pairsLow.filter(col("other_side") === "b")
          .select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .pinLazy // joined twice below
    val neighborSplits = pairsLow.filter(col("other_side") === "c")
      .join(published.select(col("doc_id").as("doc_a"), col("split")), "doc_a")
      .join(lowClusters.select(col("doc_id").as("doc_b"),
        col("cluster_rep")), "doc_b")
      .groupBy(col("cluster_rep"))
      .agg(countDistinct(col("split")).as("n_splits"),
        min(col("split")).as("corpus_split"))
    val assigned = lowClusters
      .join(neighborSplits, Seq("cluster_rep"), "left")
      .filter(coalesce(col("n_splits"), lit(1L)) === 1L) // bridges out
      .select(col("doc_id"),
        coalesce(col("corpus_split"),
          splitOf(col("cluster_rep"), trainPct, valPct)).as("split"))

    val quality = TextOps.qualityScored(b)
      .select(col("doc_id"), col("quality"))
    val admitted = b.select(col("doc_id"), col("lang"), col("text"))
      .join(quality, "doc_id")
      .filter(col("quality") >= qualityMin)
      .join(exactKeepers, Seq("doc_id"), "left_semi")
      .join(notCorpusCopy, Seq("doc_id"), "left_semi")
      .join(nearKept, Seq("doc_id"), "left_semi")
      .join(assigned, "doc_id")
      .select(col("doc_id"), col("lang"), col("quality"),
        size(TextOps.tokens(col("text"))).cast("long").as("token_count"),
        col("text"), col("split"))
      .pinLazy // three split filters + the delta rollup

    // budget manifest: OLD manifest + this batch's exact deltas — the
    // published corpus is never re-aggregated
    val deltas = admitted.groupBy(col("split"))
      .agg(count(lit(1)).as("d_docs"),
        sum(col("token_count")).cast("long").as("d_tokens"),
        sum(length(col("text")).cast("long")).cast("long").as("d_chars"))
    val manifest = Versioned.read(spark, baseDir, ManifestTable,
        Some(vs(ManifestTable)))
      .join(deltas, Seq("split"), "full_outer")
      .select(col("split"),
        (coalesce(col("n_docs"), lit(0L)) +
          coalesce(col("d_docs"), lit(0L))).as("n_docs"),
        (coalesce(col("n_tokens"), lit(0L)) +
          coalesce(col("d_tokens"), lit(0L))).as("n_tokens"),
        (coalesce(col("n_chars"), lit(0L)) +
          coalesce(col("d_chars"), lit(0L))).as("n_chars"))
      .orderBy(col("split"))
    def side(s: String) = admitted.filter(col("split") === s).drop("split")
    Versioned.publishGroupMembers(
      SplitTables.map { case (t, s) =>
        sideMember(t, side(s), batchId, reuse = reuseOf(t))
      } :+ Versioned.GroupFull(ManifestTable, manifest), baseDir, keep)
    }
  }

  /** GDPR erasure over the PUBLISHED corpus family — the group-journaled
    * counterpart of [[Erasure.eraseEverywhere]]'s flat corpus leg, which
    * must NOT be pointed at this family (its `keep = 1` flat republish
    * would prune the versions the group journal still references,
    * breaking [[Versioned.readGroup]] and [[appendBatch]]; Erasure
    * guards against that composition and points here). ONE group
    * transaction rewrites every split table minus the victims —
    * `batch` partition values preserved, so the admitted-batch ledger
    * [[appendBatch]]'s freshness check reads keeps its history (a batch
    * erased to zero rows does drop out of the manifest; reusing such an
    * id afterwards is on the caller) — and recomputes the budget
    * manifest from the survivors.
    * With the default erasure retention (`keep = 1`) the pre-erase
    * versions are pruned once the journal commits, so time travel to
    * the erased rows dies with the erase. (A crash between the
    * journal's seal and that prune leaves the erase committed but the
    * old versions readable — retry the erase, or run
    * [[Versioned.enforceRetention]] per member: erasure pipelines are
    * at-least-once by construction, and a crash BEFORE the seal is
    * healed prune-included by [[Versioned.recoverGroups]].) Victims anywhere in ANY split
    * are removed — erasure must not depend on knowing which split a
    * subject landed in. Cost: O(sum of split tables), the table form of
    * delete (cheaper needs tombstoning the table too). Returns the new
    * (table → version) snapshot. */
  def erase(spark: SparkSession, baseDir: String, victims: DataFrame,
      keep: Int = 1): Map[String, Long] = {
    // one writer transaction across the whole family (r14): an append
    // committing between this snapshot read and the erase's journal
    // would be rolled back by the erase (resurrection in reverse — its
    // admitted docs silently vanish); the lease serializes them
    Versioned.withFamilyLease(baseDir,
      SplitTables.map(_._1) :+ ManifestTable) {
    // family-aware snapshot: other group families may share the journal
    val vs = Versioned.latestGroupVersionsFor(baseDir, TrainTable)
      .getOrElse(throw new IllegalStateException(
        s"no published corpus family under $baseDir"))
    val vKeys = victims.select(col("doc_id")).distinct()
    val sides = SplitTables.map { case (t, s) =>
      val survivors = Versioned.read(spark, baseDir, t, Some(vs(t)))
        .join(vKeys, Seq("doc_id"), "left_anti")
        .pinLazy // feeds the member write AND the manifest
      (t, s, survivors)
    }
    val manifest = sides.map { case (_, s, rows) =>
        rows.agg(count(lit(1)).as("n_docs"),
          sum(col("token_count")).cast("long").as("n_tokens"),
          sum(length(col("text")).cast("long")).cast("long").as("n_chars"))
          .select(lit(s).as("split"), col("n_docs"), col("n_tokens"),
            col("n_chars"))
      }.reduce(_ unionByName _)
      .filter(col("n_docs") > 0) // publish() lists only non-empty splits
      .orderBy(col("split"))
    Versioned.publishGroupMembers(
      sides.map { case (t, _, survivors) =>
        // empty side: the sideMember fallback representation (a plain
        // empty version — a partitioned version may not be empty)
        if (survivors.isEmpty) Versioned.GroupFull(t, survivors)
        else Versioned.GroupDelta(t, survivors, "batch", reuse = Nil)
      } :+ Versioned.GroupFull(ManifestTable, manifest), baseDir, keep)
    }
  }
}
