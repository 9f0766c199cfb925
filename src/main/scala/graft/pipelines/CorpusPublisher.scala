package graft.pipelines

import graft.Trace
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
  *   1. admission ([[admit]]) of the offered documents against a
  *      published snapshot: quality gate, exact-dup keeper, near-dup
  *      cluster representative at `dedupThreshold`, and a cluster-keyed
  *      split at a LOOSER `splitThreshold` — documents too dissimilar to
  *      dedup away but similar enough to contaminate an eval set land in
  *      the SAME split, the two-threshold discipline (dedup at high
  *      similarity, contamination-guard at moderate similarity) that a
  *      single-threshold pipeline gets wrong. [[appendBatch]] admits a
  *      batch against the published corpus; [[publish]] admits the whole
  *      corpus against an EMPTY snapshot, where every rule reduces to the
  *      full-corpus one: the kept set is [[DedupOps.corpusClean]]'s and
  *      the splits are [[DedupOps.leakageSafeSplits]]' at
  *      `splitThreshold` (CorpusPublisherSpec pins both);
  *   2. per-split budget manifest (docs, whitespace tokens, chars) —
  *      the numbers a mixture/curriculum planner reads;
  *   3. ONE [[Versioned.publishGroupMembers]] transaction:
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

  /** The admission rules, the ONE implementation behind [[publish]] and
    * [[appendBatch]]: vet the batch `b` (doc_id, lang, text) against the
    * `published` snapshot (doc_id, text, split), whose ids are all below
    * the batch's (the monotone-id contract), and return the admitted
    * rows (doc_id, lang, quality, token_count, text, split). The rules
    * are listed on [[appendBatch]]. With an empty `published` (planned
    * as an empty relation, so the corpus-side joins prune away) each
    * rule reduces to the full-publish one: no batch doc is a corpus
    * copy, no batch cluster touches the corpus or bridges splits, the
    * near tier keeps each batch cluster's min-id representative and the
    * split is [[DedupOps.splitOf]] of the batch cluster's rep.
    *
    * The shingle/candidate/verify machinery — the expensive stage at
    * corpus scale — runs ONCE: pairs are scored at the looser
    * `splitThreshold` and the dedup cut is a filter over the same frame
    * (the threshold only enters the final Jaccard cut, so the filtered
    * set is exactly what scoring at the higher threshold would
    * produce). */
  private def admit(published: DataFrame, b: DataFrame, qualityMin: Double,
      dedupThreshold: Double, splitThreshold: Double, trainPct: Int,
      valPct: Int): DataFrame = {
    require(splitThreshold <= dedupThreshold,
      "the split scope must be at most as strict as the dedup cut")
    // exact tier, batch side: the min-id keeper of each sha256 group
    val exactKeepers = DedupOps.exactGroups(b)
      .select(col("keep_id").as("doc_id"))

    // the scored admission pairs, ONCE at the looser threshold; both
    // cuts below are filters over this one frame (two-threshold reuse)
    val pairsLow = DedupOps.incrementalJaccardPairs(
        published.select(col("doc_id"), col("text")), b,
        threshold = splitThreshold)
      .pinLazy

    // near tier at the dedup cut: components over the batch's pairs on
    // BOTH sides. Every published id is below every batch id, so a batch
    // doc is its component's rep exactly when its batch cluster touches
    // no published doc and it is that cluster's min id
    val nearKept = DedupOps.clustersFromPairs(b,
        pairsLow.filter(col("jaccard") >= dedupThreshold))
      .filter(col("doc_id") === col("cluster_rep"))
      .select(col("doc_id"))

    // split tier at the loose cut: batch clusters + their published
    // neighbors' splits → inherit / new-cluster rule / bridge drop
    val lowClusters = DedupOps.clustersFromPairs(b,
      pairsLow.filter(col("other_side") === "b"))
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
          DedupOps.splitOf(col("cluster_rep"), trainPct, valPct)).as("split"))

    val quality = TextOps.qualityScored(b)
      .select(col("doc_id"), col("quality"))
    b.select(col("doc_id"), col("lang"))
      .join(quality, "doc_id")
      .filter(col("quality") >= qualityMin)
      .join(nearKept, Seq("doc_id"), "left_semi")
      .join(exactKeepers, Seq("doc_id"), "left_semi")
      .join(b.select(col("doc_id"), col("text")), "doc_id")
      // exact tier, corpus side: nothing identical to a published doc
      .join(published.select(sha2(col("text"), 256).as("h")),
        sha2(col("text"), 256) === col("h"), "left_anti")
      .join(assigned, "doc_id")
      .select(col("doc_id"), col("lang"), col("quality"),
        size(TextOps.tokens(col("text"))).cast("long").as("token_count"),
        col("text"), col("split"))
  }

  /** The per-split budget (n_docs, n_tokens, n_chars) of rows carrying
    * (split, token_count, text); only non-empty splits get a row. */
  private def budget(rows: DataFrame): DataFrame =
    rows.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("token_count")).as("n_tokens"),
        sum(length(col("text")).cast("long")).as("n_chars"))

  /** A split table's member for a group publish: normally the `batch=`
    * partitions of `rows` (GroupDelta) linking `reuse`; but a
    * partitioned version may not be EMPTY (the manifest must name at
    * least one partition directory), so an `empty` side with nothing to
    * link is published as a plain empty version instead — same columns,
    * and a later append over it simply starts its partition history
    * then. */
  private def sideMember(t: String, rows: DataFrame, empty: Boolean,
      reuse: Seq[(String, String)]): Versioned.GroupMember =
    if (reuse.isEmpty && empty) Versioned.GroupFull(t, rows)
    else Versioned.GroupDelta(t, rows, "batch", reuse)

  /** ONE group transaction over the family: each split table stages its
    * side of `rows` (which carry `split` and `batch`) linking its `reuse`
    * entries, next to the budget manifest that `manifest` derives from
    * `delta`, the [[budget]] of `rows`. When some side has nothing to
    * link, `delta` is collected once (one row per non-empty split): it
    * tells which sides are empty, and it enters the manifest as a local
    * relation instead of being aggregated again. */
  private def publishSides(rows: DataFrame, delta: DataFrame,
      manifest: DataFrame => DataFrame,
      reuse: String => Seq[(String, String)], baseDir: String,
      keep: Int): Map[String, Long] = {
    val collected =
      if (SplitTables.forall { case (t, _) => reuse(t).nonEmpty }) None
      else Some(delta.collect())
    val budgetDf = collected.fold(delta)(rs => rows.sparkSession
      .createDataFrame(java.util.Arrays.asList(rs: _*), delta.schema))
    Versioned.publishGroupMembers(
      SplitTables.map { case (t, s) =>
        sideMember(t, rows.filter(col("split") === s).drop("split"),
          collected.exists(!_.exists(_.getAs[String]("split") == s)),
          reuse(t))
      } :+ Versioned.GroupFull(ManifestTable,
        manifest(budgetDf).orderBy(col("split"))),
      baseDir, keep)
  }

  /** Run `body` on the family's latest group snapshot (table → version)
    * under the family lease: the snapshot-read → rewrite → group-publish
    * span is ONE writer transaction (r14) — an erase or append landing
    * between the read and the commit would otherwise be silently rolled
    * back when this journal becomes the family's latest. */
  private def underFamilyLease[A](baseDir: String)(
      body: Map[String, Long] => A): A =
    Versioned.withFamilyLease(baseDir,
      SplitTables.map(_._1) :+ ManifestTable) {
      // family-aware snapshot: other group families may share the journal
      body(Versioned.latestGroupVersionsFor(baseDir, TrainTable)
        .getOrElse(throw new IllegalStateException(
          s"no published corpus family under $baseDir")))
    }

  /** Publish `docs` as one atomic versioned group: the whole corpus is
    * admitted against an empty snapshot and lands in `batch` partition
    * 0; returns (table → version). */
  def publish(docs: DataFrame, baseDir: String, qualityMin: Double = 0.38,
      dedupThreshold: Double = 0.5, splitThreshold: Double = 0.3,
      trainPct: Int = 80, valPct: Int = 10, keep: Int = 3): Map[String, Long] =
      Trace.span("pipelines.CorpusPublisher.publish") {
    // limit(0) plans as an empty LocalRelation: the corpus-side joins of
    // the admission prune away instead of running over nothing
    val noCorpus = docs.select(col("doc_id"), col("text"), lit("").as("split"))
      .limit(0)
    val admitted = admit(noCorpus, docs, qualityMin, dedupThreshold,
        splitThreshold, trainPct, valPct)
      .pinLazy // three split filters + the manifest below
    publishSides(admitted.withColumn("batch", lit(0L)), budget(admitted),
      identity, _ => Nil, baseDir, keep)
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
    * Admission rules ([[admit]], the same function [[publish]] runs
    * against an empty snapshot). By construction, a batch whose clusters
    * touch no published doc is admitted exactly as a full republish of
    * (original docs ∪ batch) would admit it, and the rules for clusters
    * that do touch the corpus are chosen so that on a non-bridging batch
    * the result still EQUALS that republish (CorpusPublisherSpec checks
    * the equality):
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
      keep: Int = 3): Map[String, Long] =
      Trace.span("pipelines.CorpusPublisher.appendBatch") {
    val spark = batch.sparkSession
    import spark.implicits._
    underFamilyLease(baseDir) { vs =>
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

    val admitted = admit(published, b, qualityMin, dedupThreshold,
        splitThreshold, trainPct, valPct)
      .pinLazy // three split filters + the delta rollup
    // budget manifest: OLD manifest + this batch's exact deltas — the
    // published corpus is never re-aggregated
    def manifest(delta: DataFrame) = Versioned.read(spark, baseDir,
        ManifestTable, Some(vs(ManifestTable)))
      .unionByName(delta)
      .groupBy(col("split"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
    publishSides(admitted.withColumn("batch", lit(batchId)), budget(admitted),
      manifest, reuseOf, baseDir, keep)
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
      keep: Int = 1): Map[String, Long] =
    // one writer transaction across the whole family (r14): an append
    // committing between this snapshot read and the erase's journal
    // would be rolled back by the erase (resurrection in reverse — its
    // admitted docs silently vanish); the lease serializes them
    Trace.span("pipelines.CorpusPublisher.erase") {
      underFamilyLease(baseDir) { vs =>
        val vKeys = victims.select(col("doc_id")).distinct()
        val survivors = SplitTables.map { case (t, s) =>
          Versioned.read(spark, baseDir, t, Some(vs(t)))
            .join(vKeys, Seq("doc_id"), "left_anti")
            .withColumn("split", lit(s))
        }.reduce(_ unionByName _)
          .pinLazy // feeds the member writes AND the manifest
        publishSides(survivors, budget(survivors), identity, _ => Nil,
          baseDir, keep)
      }
    }
}
