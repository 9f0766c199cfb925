package graft.ops

import graft.Trace
import graft.pipelines.{Fs, Versioned}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.ops.Pin._

/** Published IVF-PQ index — the serving-layer decomposition of
  * [[VectorOps.ivfPqTopK]] (which trains + encodes + searches in one
  * call, retraining on every invocation). Here the build products
  * become a VERSIONED TABLE FAMILY under one directory:
  *
  *   - `ann_centroids`  (cell, centroid)            — coarse quantizer
  *   - `ann_codebooks`  (subspace, code, centroid)  — residual PQ model
  *   - `ann_codes`      (vec_id, cell, codes, batch) — compressed corpus,
  *                      Hive-partitioned by ingest batch
  *
  * published through [[Versioned.publishGroupMembers]] so every reader
  * resolves a CONSISTENT cross-table snapshot ([[Versioned.readGroup]]):
  * model and codes always belong to the same transaction, even while an
  * append or rebuild is landing.
  *
  * The serving-lifecycle operations a 100 TB ANN tier actually runs:
  *
  *   - [[build]]: train once over the corpus (the only full-scan job),
  *     publish model + codes atomically.
  *   - [[serveTopK]]: resolve ONE group snapshot, probe/rank ONLY — no
  *     training, no full-corpus pass. A driver-side snapshot cache holds
  *     one entry per index directory: the model, keyed by the (model
  *     tables → versions) part of the snapshot, so repeated serves
  *     against an unchanged model read no model files at all
  *     ([[modelLoads]] counts actual loads; AnnIndexSpec pins the second
  *     serve at zero), and — while the codes fit the session's broadcast
  *     budget — the snapshot's live codes, so a warm serve ranks on the
  *     driver and starts no Spark job; an append's serve reads only the
  *     added partition. Rankings are bit-identical to the one-shot path
  *     on both paths (AnnIndexSpec) because recon depends only on (cell,
  *     codes, model), all of which round-trip parquet exactly.
  *   - [[delete]]: row-level erasure WITHOUT a retrain — victims land
  *     as a tombstone delta (`ann_tombstones`, the fourth family
  *     member) and every serve drops them (anti-joined out of the
  *     codes scan, also when the snapshot cache loads the codes);
  *     [[compact]] folds them into the codes rewrite and drops the
  *     table from the snapshot; [[build]] clears them (the caller
  *     retrains over the already-erased corpus). A GDPR erasure is one
  *     O(victims) metadata transaction, not an O(corpus) retrain.
  *   - [[append]]: encode a NEW batch against the FROZEN model
  *     (the incremental-dedup admission pattern), stage only that
  *     batch's partition, and link everything else — model tables
  *     journal at their existing versions ([[Versioned.GroupLink]]),
  *     prior code batches link through the partition manifest
  *     ([[Versioned.GroupDelta]] reuse). Cost is O(batch) in both
  *     compute and bytes staged, never O(corpus).
  *   - [[recallAudit]] / [[maybeRebuild]]: the drift loop — sampled
  *     recall@k of the served index against exact brute force, per
  *     published version, and the measured rebuild trigger it feeds.
  *
  * Freezing the codebooks is the standard production trade: appended
  * vectors quantize against centroids trained on the build-time
  * distribution, so recall degrades slowly under drift. The answer is a
  * periodic [[build]] (full retrain), not per-batch retraining — and
  * "periodic" is not a policy until something measures the decay, which
  * is exactly what [[recallAudit]] does and [[maybeRebuild]] acts on.
  */
object AnnIndex {

  val CentroidsTable = "ann_centroids"
  val CodebooksTable = "ann_codebooks"
  val CodesTable = "ann_codes"
  val TombstonesTable = "ann_tombstones"

  private val AllTables =
    Seq(CentroidsTable, CodebooksTable, CodesTable, TombstonesTable)

  /** Run `body` as THE writer of this index, traced as the span
    * `ops.AnnIndex.<op>` — every mutating lifecycle op wraps itself in
    * this ([[Versioned.withFamilyLease]] over all
    * four member tables), so its read-snapshot → decide → publish span
    * can never interleave with another writer's: a delete racing an
    * append would otherwise commit a journal whose LINKED codes version
    * silently rolls back the append (lost update), and a compact racing
    * a delete could fold a tombstone set it never read. Re-entrant, so
    * the inner `publishGroupMembers` (which leases its members itself)
    * and a `delete`-triggered `compact` nest for free; a SECOND
    * process's writer is refused loudly
    * ([[Versioned.ConcurrentWriterException]]). */
  private def asIndexWriter[A](op: String, indexDir: String)(body: => A): A =
    Trace.span(s"ops.AnnIndex.$op") {
      Versioned.withFamilyLease(indexDir, AllTables)(body)
    }

  /** Index hyperparameters, persisted implicitly by the published model
    * shapes (nCells = centroid rows, m = distinct subspaces, pqK = codes
    * per subspace, dim = centroid length). */
  final case class Params(nCells: Int = 16, m: Int = 8, pqK: Int = 16,
      dim: Int = 64)

  // ---- batch admission ---------------------------------------------------
  // The codes manifest of the latest committed group snapshot is the one
  // idempotence ledger for micro-batch replays: its `batch=` values are
  // the admitted batch ids. Batch ids are monotone for the lifetime of
  // the index DIRECTORY (the Delta-sink txnVersion contract — the
  // durable checkpoint of [[graft.streaming.Streams.ingestDedupedIndexed]]
  // guarantees it for streamed epochs), so `batchId <= max batch=` means
  // "already admitted at some point". Every publish that writes all code
  // rows as ONE partition (compact, build, buildOrAppend's bootstrap)
  // labels it with the highest id the directory has admitted, so the
  // maximum survives the rewrite; and since the label commits with the
  // data in the same group transaction, no crash can leave the ledger
  // and the codes disagreeing.

  /** Train the IVF-PQ model over `emb`, encode the full corpus, and
    * publish all three tables as one atomic group transaction. Training
    * collects the first 4096 vectors in vec_id order to the driver in
    * one job and runs every Lloyd round there
    * ([[VectorOps.kmeansCentroids]], [[VectorOps.pqTrain]]); encoding is
    * one map-only pass ([[VectorOps.ivfPqEncodeWith]]). Returns
    * the published (table → version) map. The ONLY operation that scans
    * the whole corpus; everything after serves from the index. The codes
    * land in one partition labelled with the highest batch id this
    * directory has admitted ([[admittedHwm]]; 0 in a fresh directory),
    * so batch ids stay monotone across index generations and a replay of
    * a pre-rebuild epoch can never be re-admitted as fresh data. Any
    * pending tombstones are CLEARED (the new journal omits the table):
    * the caller retrains over the current, already-erased corpus, so the
    * erase is physical in the new generation. */
  def build(emb: DataFrame, indexDir: String, p: Params = Params(),
      keep: Int = 3): Map[String, Long] = asIndexWriter("build", indexDir) {
    buildLabelled(emb, indexDir, p, keep, math.max(admittedHwm(indexDir), 0L))
  }

  /** [[build]] with its codes partition labelled `batch`. */
  private def buildLabelled(emb: DataFrame, indexDir: String, p: Params,
      keep: Int, batch: Long): Map[String, Long] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (coarse, books) = VectorOps.trainIvfPq(emb, p.nCells, p.m, p.pqK, p.dim)
    require(coarse.nonEmpty,
      "cannot build an ANN index over an empty corpus (no quantizer to train)")
    // cell-sorted within files. A codes file is written as one parquet
    // row group spanning all its cells, so serveTopK's pushed In(cell, …)
    // filter prunes no bytes yet; it drops unprobed rows after the scan.
    // Encode is one map-only pass over the corpus, as in append.
    val codes = VectorOps.ivfPqEncodeWith(emb, coarse, books, p.dim)
      .withColumn("batch", lit(batch))
      .sortWithinPartitions(col("cell"), col("vec_id"))
    val centroidsDf = coarse.toDF("cell", "centroid")
    val booksDf = books.zipWithIndex
      .flatMap { case (book, s) => book.map { case (c, v) => (s, c, v) } }
      .toDF("subspace", "code", "centroid")
    Versioned.publishGroupMembers(Seq(
      Versioned.GroupFull(CentroidsTable, centroidsDf),
      Versioned.GroupFull(CodebooksTable, booksDf),
      Versioned.GroupDelta(CodesTable, codes, "batch", reuse = Nil)),
      indexDir, keep)
  }

  // ---- the snapshot cache (driver-sized, one entry per index directory) --
  //
  // One entry per index directory, replaced in place, never one per
  // version: the model of the snapshot a serve or append last resolved
  // and, once a serve has ranked on the driver, that snapshot's live
  // codes. The entry is keyed by (centroids version, codebooks version,
  // commit stamp): an append LINKS the model tables at their existing
  // versions, so the model stays hot across appends and reloads exactly
  // when a rebuild publishes new model versions. The commit-marker stamp
  // ([[Versioned.commitStamp]]) guards the delete-and-rebuild-same-path
  // hazard ADVICE r10 flagged: a fresh incarnation restarts versions at
  // 0, but its markers carry new incarnation tokens, so a stale entry
  // from the previous incarnation can never serve against the new codes.
  //
  // The codes are held only while their part files sum to at most the
  // session's `spark.sql.autoBroadcastJoinThreshold` (the byte budget
  // Spark already grants a driver-side table), grouped by partition and
  // cell, ids and packed codes only: no reconstruction is cached. An
  // append adds one `batch=` partition and links the rest, so the next
  // serve reads only the added partitions' files; a new tombstone
  // version (delete) or a manifest that drops an entry (build, compact)
  // reloads in full, the tombstones anti-joined out as on the
  // distributed path. The same budget bounds the codes held across
  // directories: loading one directory's codes past it drops the codes
  // (not the models) of the others. Entries are immutable and swapped
  // with compare-and-set, so concurrent serves never see a half-built
  // one.

  private type Model = (Seq[(Int, Array[Float])], Seq[Seq[(Int, Array[Float])]])

  /** One cell's live rows in one codes partition: the ids and their m
    * codes row-major, a byte each while every code id is below 256
    * (pqK ≤ 256), an int each otherwise. */
  private final class CellRows(val ids: Array[Long], narrow: Array[Byte],
      wide: Array[Int], m: Int) {
    def codes(r: Int): Array[Int] =
      if (wide == null) Array.tabulate(m)(s => narrow(r * m + s) & 0xFF)
      else java.util.Arrays.copyOfRange(wide, r * m, r * m + m)
  }

  private object CellRows {
    def apply(rows: Seq[(Long, Array[Int])], m: Int, wide: Boolean): CellRows = {
      val flat = rows.iterator.flatMap(_._2).toArray
      if (wide) new CellRows(rows.map(_._1).toArray, null, flat, m)
      else new CellRows(rows.map(_._1).toArray, flat.map(_.toByte), null, m)
    }
  }

  /** The live codes of one snapshot: its codes version, manifest entries
    * and tombstone version, the summed part-file bytes of those entries,
    * and — while the bytes are within budget — the rows themselves with
    * the tombstones applied, by partition (one map per manifest entry)
    * and cell. */
  private final case class Codes(version: Long, entries: Seq[(String, String)],
      tombstones: Option[Long], bytes: Long,
      rows: Option[Seq[Map[Int, CellRows]]])

  /** The codes table's columns as build, append and compact write them,
    * the `batch` partition column last. Reading under it skips the footer
    * read Spark runs as a job to infer a schema. */
  private val CodesSchema =
    StructType.fromDDL("vec_id BIGINT, cell INT, codes ARRAY<INT>, batch BIGINT")
  /** The tombstone table's columns as [[delete]] writes them, the `batch`
    * partition column last; pre-cutoff tables lack `cutoff`. */
  private val TombstonesSchema =
    StructType.fromDDL("vec_id BIGINT, cutoff BIGINT, batch BIGINT")

  private final case class Entry(key: (Long, Long, Long), model: Model,
      codes: Option[Codes]) {
    /** Part-file bytes of the codes rows this entry holds (0 for none). */
    def held: Long = codes.filter(_.rows.nonEmpty).fold(0L)(_.bytes)
  }

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Entry]()
  /** Directories whose entries the cache holds at once; the next new one
    * clears it (bounds a long session that serves many indexes). */
  private val MaxCachedDirs = 16
  /** Driver-side [[graft.Trace]] counters: model-parquet loads, and code
    * rows read into the cache. */
  private[graft] val ModelLoads = "ops.AnnIndex.model_loads"
  private[graft] val CodesRowsLoaded = "ops.AnnIndex.codes_rows_loaded"

  /** Number of ACTUAL model-parquet loads since JVM start — the
    * observability hook AnnIndexSpec uses to prove that a repeated serve
    * against an unchanged model reads no model files. */
  def modelLoads: Long = Trace.counter(ModelLoads)

  /** Directories the cache holds an entry for. */
  private[graft] def cachedDirs: Int = cache.size

  /** Part-file bytes of the codes rows the cache holds, all directories. */
  private[graft] def cachedCodesBytes: Long =
    cache.values.stream.mapToLong(_.held).sum

  /** Test hook: drop every cached entry. */
  private[graft] def invalidateModelCache(): Unit = cache.clear()

  /** Swap `from` (None: no entry) for `to` unless another thread swapped
    * first; the loser's entry is just not kept. */
  private def swap(indexDir: String, from: Option[Entry], to: Entry): Unit =
    from match {
      case Some(e) => cache.replace(indexDir, e, to)
      case None =>
        if (cache.size >= MaxCachedDirs) cache.clear()
        cache.putIfAbsent(indexDir, to)
    }

  /** The frozen model from the last committed group snapshot: coarse
    * centroids + per-subspace codebooks, reconstructed in the exact
    * `Seq` shapes [[VectorOps]] trains (floats round-trip parquet
    * bit-exactly, so a served model IS the built model). */
  private[graft] def loadModel(spark: SparkSession, indexDir: String): Model =
    cached(spark, indexDir, Versioned.latestGroupVersions(indexDir)).model

  /** The cache entry for `snapshot`'s model: the cached one when its key
    * matches, else a fresh entry with the model loaded and no codes.
    * Model-sized driver collect — nCells + m·pqK small vectors, never
    * the corpus — so it runs at most once per (directory, model
    * generation) while the entry lives. */
  private def cached(spark: SparkSession, indexDir: String,
      snapshot: Map[String, Long]): Entry = {
    val key = (snapshot(CentroidsTable), snapshot(CodebooksTable),
      Versioned.commitStamp(indexDir, CentroidsTable, snapshot(CentroidsTable)))
    val old = Option(cache.get(indexDir))
    old.filter(_.key == key).getOrElse {
      val fresh = Entry(key, loadModelAt(spark, indexDir, snapshot), None)
      swap(indexDir, old, fresh)
      fresh
    }
  }

  private def loadModelAt(spark: SparkSession, indexDir: String,
      versions: Map[String, Long]): Model = {
    import spark.implicits._
    val coarse = Versioned.read(spark, indexDir, CentroidsTable,
        Some(versions(CentroidsTable)))
      .as[(Int, Array[Float])].collect().sortBy(_._1).toSeq
    val books = Versioned.read(spark, indexDir, CodebooksTable,
        Some(versions(CodebooksTable)))
      .as[(Int, Int, Array[Float])].collect()
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(r => (r._2, r._3)).toSeq }
    Trace.count(ModelLoads)
    (coarse, books)
  }

  /** `snapshot`'s live codes `(vec_id, cell, codes)` in `cells`, from the
    * cache — brought up to date first (see the block comment above) — or
    * None when the codes' bytes exceed `budget`. */
  private def liveCodes(spark: SparkSession, indexDir: String,
      snapshot: Map[String, Long], entry: Entry, budget: Long,
      cells: Array[Int]): Option[Iterator[(Long, Int, Array[Int])]] = {
    val codes = codesAt(spark, indexDir, snapshot, entry, budget)
    if (!entry.codes.exists(_ eq codes)) {
      val next = entry.copy(codes = Some(codes))
      // the rows held across directories stay within the same budget:
      // the other directories give up their codes (not their models)
      val elsewhere = cachedCodesBytes - entry.held
      if (elsewhere > 0 && elsewhere + next.held > budget)
        cache.replaceAll((d, e) => if (d == indexDir) e else e.copy(codes = None))
      swap(indexDir, Some(entry), next)
    }
    codes.rows.filter(_ => codes.bytes <= budget).map { segments =>
      for (seg <- segments.iterator; c <- cells.iterator;
           rows <- seg.get(c).iterator; r <- rows.ids.indices.iterator)
        yield (rows.ids(r), c, rows.codes(r))
    }
  }

  private def codesAt(spark: SparkSession, indexDir: String,
      snapshot: Map[String, Long], entry: Entry, budget: Long): Codes = {
    val version = snapshot(CodesTable)
    val tombstones = snapshot.get(TombstonesTable)
    entry.codes match {
      case Some(c) if c.version == version && c.tombstones == tombstones &&
          (c.rows.nonEmpty || c.bytes > budget) => return c
      case _ =>
    }
    val m = codesManifest(indexDir, version)
    val now = m.entries.toSet
    // the cached partitions stay valid when the new manifest still holds
    // all of them under the same tombstones (an append); a build, a
    // compact or a delete reloads every partition
    val kept = entry.codes.filter(c =>
      c.tombstones == tombstones && c.entries.forall(now))
    val added = kept.fold(m.entries)(c => m.entries.filterNot(c.entries.toSet))
    val bytes = kept.fold(0L)(_.bytes) + partBytes(indexDir, added)
    val (nCodes, wide) =
      (entry.model._2.size, entry.model._2.exists(_.exists(_._1 > 255)))
    def read(es: Seq[(String, String)]) =
      readSegments(spark, indexDir, snapshot, m, es, nCodes, wide)
    val rows =
      if (bytes > budget) None
      else Some(kept.flatMap(_.rows).fold(read(m.entries))(segments =>
        segments ++ (if (added.isEmpty) Nil else read(added))))
    Codes(version, m.entries, tombstones, bytes, rows)
  }

  /** The codes manifest of `version`. */
  private def codesManifest(indexDir: String, version: Long): Versioned.Manifest =
    Versioned.manifest(indexDir, CodesTable, version)
      .getOrElse(throw new IllegalStateException(
        s"$CodesTable v$version has no partition manifest — " +
          "not an AnnIndex build?"))

  /** Summed part-file sizes of the codes manifest `entries` (a listing
    * per partition directory; no data read). */
  private def partBytes(indexDir: String,
      entries: Seq[(String, String)]): Long =
    entries.iterator.map { case (_, rel) =>
      Fs.list(new Path(s"$indexDir/$CodesTable/$rel"))
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        .map(_.getLen).sum
    }.sum

  /** Read the codes partitions `entries` to the driver with `snapshot`'s
    * tombstones anti-joined out, one map per entry, by cell. */
  private def readSegments(spark: SparkSession, indexDir: String,
      snapshot: Map[String, Long], m: Versioned.Manifest,
      entries: Seq[(String, String)], nCodes: Int,
      wide: Boolean): Seq[Map[Int, CellRows]] = {
    import spark.implicits._
    val rows = antiTombstones(spark, indexDir, snapshot,
        Versioned.readPartitions(spark, indexDir, CodesTable, m, entries,
          Some(CodesSchema)))
      .select(col("vec_id"), col("cell"), col("codes"), col("batch"))
      .as[(Long, Int, Array[Int], Long)].collect()
    Trace.count(CodesRowsLoaded, rows.length)
    val byBatch = rows.groupBy(_._4)
    entries.map { case (value, _) =>
      byBatch.getOrElse(value.toLong, Array.empty)
        .groupBy(_._2).map { case (cell, rs) =>
          cell -> CellRows(rs.toSeq.map(r => (r._1, r._3)), nCodes, wide)
        }
    }
  }

  /** One row per tombstoned id with its widest batch CUTOFF — the scope
    * a tombstone erases: codes batches admitted AT OR BEFORE the delete
    * (`batch <= cutoff`), never batches appended after it. Scoping by
    * `vec_id` alone (the pre-r13 shape, ADVICE r12) silently hid a
    * legitimate post-delete append reusing an erased id (re-consent /
    * id recycling) from every serve and let the next compact physically
    * drop it while the corpus upsert kept the doc — exactly the
    * table-vs-index divergence [[graft.pipelines.Erasure]] exists to
    * prevent. The table is read under its fixed schema
    * ([[TombstonesSchema]]), which skips Spark's schema-inference job;
    * tables written before the `cutoff` column existed then read a null
    * cutoff, which counts as ∞ (their historical "ids are never
    * reusable" semantics). A re-deleted id keeps its widest cutoff via
    * `max` — the later delete's scope covers the earlier one's. */
  private def tombstoneScope(spark: SparkSession, indexDir: String,
      version: Long): DataFrame =
    readTombstones(spark, indexDir, version)
      .select(col("vec_id"),
        coalesce(col("cutoff"), lit(Long.MaxValue)).as("cutoff"))
      .groupBy("vec_id").agg(max("cutoff").as("cutoff"))
      .select(col("vec_id").as("__t_vec_id"), col("cutoff").as("__t_cutoff"))

  /** The tombstone table's partition manifest at `version`; every
    * published tombstone version has one. */
  private def tombstoneManifest(indexDir: String,
      version: Long): Versioned.Manifest =
    Versioned.manifest(indexDir, TombstonesTable, version)
      .getOrElse(throw new IllegalStateException(
        s"$TombstonesTable v$version has no partition manifest"))

  /** The tombstone table at `version`, read under [[TombstonesSchema]]
    * (no schema-inference job). */
  private def readTombstones(spark: SparkSession, indexDir: String,
      version: Long): DataFrame = {
    val m = tombstoneManifest(indexDir, version)
    Versioned.readPartitions(spark, indexDir, TombstonesTable, m, m.entries,
      Some(TombstonesSchema))
  }

  /** Anti-join the snapshot's tombstones (if the snapshot carries any)
    * out of a codes frame, scoped to each victim's admission cutoff
    * ([[tombstoneScope]]). Applied AFTER the probed-cell filter so the
    * `In(cell, …)` filter still reaches the parquet scan. The tombstone
    * side is one id-sized aggregate: Catalyst broadcasts it while it
    * fits the broadcast budget and falls back to a shuffle anti-join
    * beyond that — correct either way, and [[delete]]'s `compactAbove`
    * bound forces a physical fold before the set can grow without limit
    * (AnnIndexSpec pins both regimes). Indexes published before any [[delete]] have no
    * tombstone member in their snapshot and skip the join entirely. */
  private def antiTombstones(spark: SparkSession, indexDir: String,
      snapshot: Map[String, Long], codes: DataFrame): DataFrame =
    snapshot.get(TombstonesTable).fold(codes) { v =>
      val t = tombstoneScope(spark, indexDir, v)
      codes.join(t,
        codes("vec_id") === t("__t_vec_id") &&
          codes("batch") <= t("__t_cutoff"),
        "left_anti")
    }

  /** Row-level DELETE from the published index — the GDPR-erasure path.
    * Victims (`vec_id` rows; extra columns ignored) are staged as one
    * new tombstone batch partition carrying a batch CUTOFF (the highest
    * code batch admitted at delete time, [[admittedHwm]]); codes and
    * model tables are LINKED unchanged, so the transaction stages
    * O(victims) bytes and zero corpus data. Every subsequent
    * [[serveTopK]] / [[serveTopKFiltered]] drops the snapshot's
    * tombstones from the probed candidates (an anti-join, on the
    * distributed path over the codes scan, on the driver path when the
    * snapshot cache reloads the codes) SCOPED to that cutoff
    * (`batch <= cutoff`), so an erased vector can never be returned —
    * while a LATER [[append]] legitimately reusing the id (re-consent,
    * id recycling) lands above the cutoff and stays fully servable
    * (AnnIndexSpec pins both; serve ≡ filtered-serve-over-the-complement
    * stays bit-identical). Tombstones are folded into the data (and the
    * table dropped from the snapshot) by the next [[compact]] or
    * [[build]]; [[maybeRebuild]] counts deletion pressure toward its
    * rebuild trigger. Deleting an id twice, or an id the index never
    * held, is a harmless no-op (set semantics); an EMPTY victims frame
    * returns the current snapshot untouched.
    *
    * BOUNDED standing set: when the folded tombstone count (DISTINCT
    * ids — a re-deleted id contributes one anti-join key no matter how
    * many delete generations name it) reaches the effective bound, this
    * call runs [[compact]] itself (one O(codes) rewrite) instead of
    * letting the set grow without limit — between folds an oversized
    * set only degrades the serve anti-join from broadcast to shuffle
    * (correct, slower), but nothing else would ever bound it when
    * callers skip `physical` erasure and never schedule compaction.
    * The effective bound is `min(compactAbove, [[compactTrigger]])`:
    * the trigger derives from the session's
    * `spark.sql.autoBroadcastJoinThreshold` so "bounded" means
    * "broadcastable" — the serve anti-join stays in the broadcast
    * regime instead of silently crossing into shuffle-anti well before
    * a fixed cap trips (the r13 mismatch: a 2²⁰-id cap ≈ 16 MB of
    * key+cutoff sat above Spark's 10 MB broadcast default).
    * `compactAbove` remains the absolute backstop for sessions that
    * disable auto-broadcast (threshold ≤ 0) or raise it past the cap.
    * A single oversized delete batch can still exceed the bound once
    * (the count runs after its publish) — the shuffle-anti regime is
    * correct there too (AnnIndexSpec pins it) and the fold fires
    * immediately. */
  def delete(victims: DataFrame, indexDir: String, keep: Int = 3,
      compactAbove: Long = 1L << 20): Map[String, Long] =
      asIndexWriter("delete", indexDir) {
    val spark = victims.sparkSession
    val snapshot = Versioned.latestGroupVersions(indexDir)
    val dedup = victims.select(col("vec_id")).distinct()
    if (dedup.isEmpty) return snapshot
    // scope: erase only batches admitted up to NOW
    val cutoff = admittedHwm(indexDir)
    val fresh = dedup.withColumn("cutoff", lit(cutoff))
    val (reuse, nextBatch, stage) = snapshot.get(TombstonesTable) match {
      case Some(v) =>
        val m = tombstoneManifest(indexDir, v)
        val prior = Versioned.read(spark, indexDir, TombstonesTable, Some(v))
        if (prior.columns.contains("cutoff"))
          (m.entries, m.entries.flatMap(_._1.toLongOption)
            .foldLeft(-1L)(math.max) + 1L, fresh)
        else
          // one-time O(tombstones) migration of a pre-cutoff-era table:
          // rewrite the legacy rows (cutoff = ∞, their historical
          // semantics) into this batch instead of linking them — linked
          // partitions with a DIFFERENT parquet schema would silently
          // drop the new column on read
          (Seq.empty[(String, String)], 0L,
            prior.select(col("vec_id"))
              .withColumn("cutoff", lit(Long.MaxValue))
              .unionByName(fresh))
      case None => (Seq.empty[(String, String)], 0L, fresh)
    }
    val published = Versioned.publishGroupMembers(Seq(
      Versioned.GroupLink(CentroidsTable, snapshot(CentroidsTable)),
      Versioned.GroupLink(CodebooksTable, snapshot(CodebooksTable)),
      Versioned.GroupLink(CodesTable, snapshot(CodesTable)),
      Versioned.GroupDelta(TombstonesTable,
        stage.withColumn("batch", lit(nextBatch)), "batch", reuse)),
      indexDir, keep)
    // the bound: one id-only DISTINCT count of the folded set per delete
    // (rows would overcount re-deleted ids — the anti-join key set is
    // what must stay broadcastable, and that set is distinct by
    // construction in [[tombstoneScope]])
    val folded = readTombstones(spark, indexDir, published(TombstonesTable))
      .select(col("vec_id")).distinct().count()
    if (folded >= math.min(compactAbove, compactTrigger(spark)))
      compact(spark, indexDir, keep)
    else published
  }

  /** In-memory bytes a broadcast tombstone entry costs, conservatively:
    * 16 bytes of payload (vec_id + cutoff longs) plus hash-relation
    * key/slot overhead. Used to translate the session's broadcast byte
    * budget into an id-count trigger. */
  val BytesPerTombstoneId = 32L

  /** The distinct-tombstone-id count above which [[delete]] forces a
    * [[compact]], derived from the session's
    * `spark.sql.autoBroadcastJoinThreshold` (bytes) so the standing set
    * stays inside the broadcast budget — i.e. the serve anti-join keeps
    * its BroadcastHashJoin shape. Sessions with auto-broadcast disabled
    * (threshold ≤ 0) get `Long.MaxValue` here and fall back to
    * [[delete]]'s absolute `compactAbove` backstop. */
  def compactTrigger(spark: SparkSession): Long = {
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold <= 0) Long.MaxValue
    else math.max(threshold / BytesPerTombstoneId, 1L)
  }

  /** The highest batch id ever ADMITTED to this index directory (−1
    * before any admission): the largest `batch=` value in the codes
    * manifest of the latest committed group snapshot — the admission
    * ledger (see "batch admission" above). [[delete]] takes its cutoff
    * from it; [[append]] reads the same ledger from the codes manifest
    * it already holds for its reuse list. Reading the snapshot, not
    * the codes table's own latest version, keeps it in step with what
    * serves and appends link: an append torn between its codes commit
    * and its journal seal is not admitted, so its replay lands. Exposed
    * so the streaming composition
    * ([[graft.streaming.Streams.ingestDedupedIndexed]]) can recognize
    * an engine-level epoch REPLAY before its index leg runs and scope
    * the corpus leg accordingly (the replay-after-erase note there). */
  def admittedHwm(indexDir: String): Long =
    Versioned.latestGroupVersionsFor(indexDir, CodesTable)
      .flatMap(vs => Versioned.manifest(indexDir, CodesTable, vs(CodesTable)))
      .fold(-1L)(m => highestBatch(m.entries))

  /** The largest `batch=` value among codes manifest entries (−1 for
    * none). */
  private def highestBatch(entries: Seq[(String, String)]): Long =
    entries.flatMap(_._1.toLongOption).foldLeft(-1L)(math.max)

  /** The vec_ids currently SERVABLE from the latest snapshot: codes
    * minus scoped tombstones, id-projected (one O(codes) id scan, no
    * vectors read). The membership oracle the streaming corpus leg uses
    * on replayed epochs: a doc whose vector was delivered but is not
    * servable was ERASED between the epoch's original run and its
    * replay, and must not be re-published. */
  def servableIds(spark: SparkSession, indexDir: String): DataFrame = {
    val snapshot = Versioned.latestGroupVersions(indexDir)
    antiTombstones(spark, indexDir, snapshot,
      Versioned.read(spark, indexDir, CodesTable, Some(snapshot(CodesTable))))
      .select(col("vec_id")).distinct()
  }

  /** (live codes rows, DEAD codes rows) for the current snapshot — the
    * deletion-pressure measurement [[maybeRebuild]] folds into its
    * trigger. "Dead" counts tombstoned ids ACTUALLY PRESENT in the
    * codes (a tombstone for an id the index never held is the
    * documented no-op and must not pressure a retrain); "live" is the
    * remainder, so pressure = dead / (live + dead) is the true erased
    * fraction of the index. Id-only semi-join counts; never reads
    * vectors. */
  def deletionPressure(spark: SparkSession, indexDir: String): (Long, Long) = {
    val snapshot = Versioned.latestGroupVersions(indexDir)
    val codes = Versioned.read(spark, indexDir, CodesTable,
      Some(snapshot(CodesTable)))
    val total = codes.count()
    val dead = snapshot.get(TombstonesTable) match {
      case None => 0L
      case Some(v) =>
        val t = tombstoneScope(spark, indexDir, v)
        codes.join(t,
          codes("vec_id") === t("__t_vec_id") &&
            codes("batch") <= t("__t_cutoff"),
          "left_semi").count()
    }
    (total - dead, dead)
  }

  /** Serve top-k from the published index: resolve ONE group snapshot,
    * take its model from the snapshot cache, and run ONLY the probe/rank
    * stages. `queries` is `(query_id, qv)` — external query vectors or a
    * corpus slice; a query also present in the corpus never matches
    * itself. No training, no full-corpus scan: the queries are collected
    * to the driver once (no job for a driver-built frame) and their probe
    * CELL SET (bounded by nCells no matter how many queries) is computed
    * there. Two paths rank them, with one kernel and bit-identical
    * results ([[VectorOps.rankProbed]]):
    *
    *   - driver path, while the snapshot's codes — the summed part-file
    *     sizes of its manifest partitions — are within the session's
    *     `spark.sql.autoBroadcastJoinThreshold`: the live codes are held
    *     in the snapshot cache and the probed cells are ranked on the
    *     driver. The result is a local relation, so a warm serve starts
    *     no Spark job; the first serve after an [[append]] reads only the
    *     added partition (one small job), and one after a [[build]],
    *     [[compact]] or [[delete]] reloads the cache in full.
    *   - distributed path, above that budget or at a threshold ≤ 0: the
    *     probe cells are pushed into the codes scan as an `In(cell, …)`
    *     parquet filter (which prunes no bytes today: each codes file is
    *     one row group spanning every cell in it, so the scan reads every
    *     code row and drops the unprobed ones), the snapshot's tombstones
    *     are anti-joined out, and each codes partition keeps a bounded
    *     top-k per query, so the rank adds no window and one exchange of
    *     at most partitions × queries × k rows.
    *
    * A `vec_id` held by two code rows (an id reused by a later [[append]])
    * ranks once, at its better score. Model and codes both come from the
    * SAME journaled transaction: a rebuild committing between any two
    * reads here can never mix generations. AnnIndexSpec pins both paths
    * against the one-shot [[VectorOps.ivfPqTopK]], the pushed filter, the
    * plan shape, the zero-job warm serve and the zero-model-read repeat
    * serve. */
  def serveTopK(spark: SparkSession, indexDir: String, queries: DataFrame,
      k: Int, nProbe: Int = 6): DataFrame =
    serveProbed(spark, indexDir, queries, k, nProbe, allowed = None)

  /** The serve both [[serveTopK]] and [[serveTopKFiltered]] run: one
    * group snapshot, its model from the cache, the queries' probe cells
    * computed on the driver, then the rank — on the driver over the
    * cached probed cells when the serve is unfiltered and the codes fit
    * the budget, else over the codes scan filtered to those cells (the
    * `In(cell, …)` filter is pushed into parquet but skips no row group
    * today) with the snapshot's tombstones anti-joined out and the
    * `allowed` semi join applied. */
  private def serveProbed(spark: SparkSession, indexDir: String,
      queries: DataFrame, k: Int, nProbe: Int,
      allowed: Option[DataFrame]): DataFrame = Trace.span("ops.AnnIndex.serve") {
    val snapshot = Versioned.latestGroupVersions(indexDir)
    val entry = cached(spark, indexDir, snapshot)
    val (coarse, books) = entry.model
    val dim = coarse.head._2.length
    val probed = VectorOps.probeQueries(queries, coarse, nProbe)
    val budget = spark.sessionState.conf.autoBroadcastJoinThreshold
    val local =
      if (k <= 0 || probed.ids.isEmpty) Some(Iterator.empty)
      else if (allowed.nonEmpty || budget <= 0) None
      else liveCodes(spark, indexDir, snapshot, entry, budget, probed.cellSet)
    local match {
      case Some(rows) =>
        VectorOps.rankProbedLocal(spark, rows, probed, k, coarse, books, dim)
      case None =>
        val codes = antiTombstones(spark, indexDir, snapshot,
          Versioned.read(spark, indexDir, CodesTable, Some(snapshot(CodesTable)))
            .filter(col("cell").isInCollection(probed.cellSet.toSeq)))
        val admitted = allowed.fold(codes)(a => codes.join(
          a.select(col("vec_id")).distinct(), Seq("vec_id"), "left_semi"))
        VectorOps.rankProbed(admitted, probed, k, coarse, books, dim)
    }
  }

  /** FILTERED serve — "top-k WHERE metadata predicate", the most common
    * real-world vector-search request: `allowed` is the (vec_id) key set
    * a metadata predicate admits (the caller filters its metadata table
    * and projects the key — any predicate, any table), and ranking runs
    * ONLY over admitted candidates, so k survivors are k TRUE matches.
    * The over-fetch-and-post-filter alternative (serve k', then drop
    * disallowed) loses recall under selective filters: a filter keeping
    * 1% of the corpus leaves ~k'/100 usable results.
    *
    * Always the distributed path of [[serveTopK]], whatever the budget:
    * it takes only the model from the snapshot cache. The codes scan
    * carries the probed-cell `In(cell, …)` filter (pushed, no bytes
    * pruned today), then a LEFT SEMI join on vec_id admits survivors
    * (Catalyst broadcasts a small key set, shuffles a large one — both
    * scale-safe), and only those are ADC-ranked. Model/codes come from
    * one journaled snapshot, same as the unfiltered path. AnnIndexSpec
    * pins: filtered serve ≡ one-shot IVF-PQ over the filtered corpus
    * (bit-identical), recall@k under a selective filter vs
    * brute-force-with-filter, and the pushed filter. */
  def serveTopKFiltered(spark: SparkSession, indexDir: String,
      queries: DataFrame, allowed: DataFrame, k: Int,
      nProbe: Int = 6): DataFrame =
    serveProbed(spark, indexDir, queries, k, nProbe, Some(allowed))

  /** Append a new vector batch to the published index: encode the batch
    * against the FROZEN model ([[VectorOps.ivfPqEncodeWith]] — one
    * map-only pass over the batch), stage it as one new `batch=`
    * partition, and journal a new group transaction that LINKS the
    * model tables at their existing versions and reuses every prior
    * batch partition through the manifest. Bytes staged and rows
    * scanned are O(batch); the existing corpus is never read. Returns
    * the new (table → version) map; an empty batch is a no-op returning
    * the current versions. Batch ids must be MONOTONE per index
    * directory (streamed epoch ids are): an id at or below the
    * snapshot's highest manifested batch ([[admittedHwm]]) is a replay. */
  def append(batch: DataFrame, indexDir: String, batchId: Long,
      keep: Int = 3, skipIfExists: Boolean = false): Map[String, Long] =
      asIndexWriter("append", indexDir) {
    val spark = batch.sparkSession
    val snapshot = Versioned.latestGroupVersions(indexDir)
    val (coarse, books) = cached(spark, indexDir, snapshot).model
    val dim = coarse.head._2.length
    val current = snapshot
    if (batch.isEmpty) return current
    val reuse = codesManifest(indexDir, snapshot(CodesTable)).entries
    // a batch id that already landed is a caller bug (fail) or a
    // micro-batch REPLAY after a failure (skip) — `skipIfExists` is how
    // [[buildOrAppend]] gets exactly-once admission from at-least-once
    // delivery, the same move as streaming-sink epoch dedup. Under the
    // writer lease `reuse` is the ledger [[admittedHwm]] would read.
    if (batchId <= highestBatch(reuse)) {
      if (skipIfExists) return current
      throw new IllegalArgumentException(
        s"batch $batchId already admitted to the index " +
          "(appends must use fresh, monotone ids)")
    }
    val codes = VectorOps.ivfPqEncodeWith(batch, coarse, books, dim)
      .withColumn("batch", lit(batchId))
      .sortWithinPartitions(col("cell"), col("vec_id")) // cell-sorted, as in build
    // tombstones (if any) ride along at their current version — an
    // append must never resurrect erased ids by dropping the tombstone
    // member from the snapshot
    Versioned.publishGroupMembers(Seq(
      Versioned.GroupLink(CentroidsTable, snapshot(CentroidsTable)),
      Versioned.GroupLink(CodebooksTable, snapshot(CodebooksTable)),
      Versioned.GroupDelta(CodesTable, codes, "batch", reuse)) ++
      snapshot.get(TombstonesTable)
        .map(v => Versioned.GroupLink(TombstonesTable, v)).toSeq,
      indexDir, keep)
  }

  /** Bootstrap-or-grow admission for streamed corpora
    * ([[graft.streaming.Streams.ingestDedupedIndexed]]): the FIRST call
    * trains and publishes the index over its batch ([[build]]) with the
    * codes labelled `batchId`, so a failure-replay of the bootstrap
    * epoch is recognized and skipped like any other replay (under a 0
    * label the bootstrap's vectors would re-append under the replay's
    * batch id — duplication); later calls are plain frozen-model
    * [[append]]s with `skipIfExists` — exactly-once admission over
    * at-least-once delivery. An empty batch is a no-op (and never
    * trains). A crash before the bootstrap's group commit leaves no
    * committed codes, so the replay bootstraps again (the orphan staging
    * dir ages out via vacuum/retention). */
  def buildOrAppend(batch: DataFrame, indexDir: String, batchId: Long,
      p: Params = Params(), keep: Int = 3): Map[String, Long] =
    asIndexWriter("buildOrAppend", indexDir) {
      // the bootstrap-or-grow DECISION is inside the writer span too: a
      // second writer between this check and the build would otherwise
      // race two bootstraps into one directory
      if (Versioned.latestVersion(indexDir, CodesTable).isEmpty) {
        if (batch.isEmpty) Map.empty
        else buildLabelled(batch, indexDir, p, keep, batchId)
      } else append(batch, indexDir, batchId, keep, skipIfExists = true)
    }

  /** Rewrite all code batches into one partition labelled with the
    * highest admitted batch id ([[admittedHwm]]; model tables linked
    * unchanged, one group transaction). Run when many small appends have
    * fragmented the codes table — the LSM/OPTIMIZE trade: an
    * O(corpus-codes) rewrite now buys back per-scan planning and
    * open-file costs forever after. Compacting the COMPRESSED codes is
    * cheap relative to the corpus: m small ints + 2 ids per vector. A
    * post-compaction [[serveTopK]] returns exactly what it did before
    * (AnnIndexSpec). The label keeps the admission ledger's maximum, so a
    * failure-replay of a pre-compaction epoch is still recognized and
    * skipped (AnnIndexSpec pins this); tombstone scoping (`batch <=
    * cutoff`) is unchanged, since any later [[delete]]'s cutoff is at
    * least the label. */
  def compact(spark: SparkSession, indexDir: String,
      keep: Int = 3): Map[String, Long] = asIndexWriter("compact", indexDir) {
    val snapshot = Versioned.latestGroupVersions(indexDir)
    // tombstones FOLD IN here: the rewrite anti-joins erased ids out of
    // the merged codes, and the new group journal simply omits the
    // tombstone member — the erase becomes physical and the snapshot
    // carries no tombstone table until the next delete
    val merged = antiTombstones(spark, indexDir, snapshot,
        Versioned.read(spark, indexDir, CodesTable,
          Some(snapshot(CodesTable))))
      .select(col("vec_id"), col("cell"), col("codes"),
        lit(admittedHwm(indexDir)).as("batch"))
      .sortWithinPartitions(col("cell"), col("vec_id")) // cell-sorted, as in build
    val published = Versioned.publishGroupMembers(Seq(
      Versioned.GroupLink(CentroidsTable, snapshot(CentroidsTable)),
      Versioned.GroupLink(CodebooksTable, snapshot(CodebooksTable)),
      Versioned.GroupDelta(CodesTable, merged, "batch", reuse = Nil)),
      indexDir, keep)
    // Tombstone cleanup after the fold commits. At ERASURE retention
    // (keep <= 1) the whole table dir goes: the victim id list must not
    // remain enumerable on disk once the erase is folded (the GDPR
    // point of `physical = true` in [[graft.pipelines.Erasure]], which
    // calls compact with keep = 1) — a reader mid-scan on the
    // pre-compact snapshot already races normal keep=1 version pruning
    // (the documented "size keep to exceed your longest query" trade),
    // so the dir removal adds no new hazard class. At keep > 1 the fold
    // leaves the table UNPUBLISHED forever, so per-table retention
    // (which only runs inside a publish to that table) would never
    // prune it again and the victim ids would stay enumerable on disk
    // indefinitely (ADVICE r12) — instead, retire every tombstone
    // version that no journal inside the retention window still
    // references ([[Versioned.pruneExcept]] keeps manifest-linked dirs
    // alive): time travel to the last `keep` group snapshots keeps
    // working, and once those journals age out of the window the next
    // compact removes the remainder. Both paths run even when THIS
    // snapshot carried no tombstones, so a crash between a previous
    // erase-compact's commit and its cleanup is healed by the next one.
    if (keep <= 1) {
      val tombDir = new Path(s"$indexDir/$TombstonesTable")
      if (Fs.exists(tombDir)) Fs.deleteRecursive(tombDir)
    } else {
      val referenced = Versioned.recentGroupVersions(indexDir, keep)
        .flatMap(_.get(TombstonesTable)).toSet
      Versioned.pruneExcept(indexDir, TombstonesTable, referenced)
    }
    published
  }

  // ---- recall-drift observability -------------------------------------

  /** Sampled recall@k of the SERVED index against exact brute-force
    * cosine, for the current published snapshot — the measurement that
    * turns "periodically rebuild" into a policy. `corpus` is the
    * ground-truth vector table the index currently covers (the index
    * stores only compressed codes, so exact similarities need the raw
    * vectors); queries are a deterministic hash-ordered sample of its
    * ids. One row: the audited versions, the sample size, and
    * recall@k = |served ∩ exact| / |exact|. Cost is O(sample × corpus)
    * for the ground truth — run it on a sample, per published version,
    * not per query. */
  def recallAudit(spark: SparkSession, indexDir: String, corpus: DataFrame,
      nQueries: Int = 32, k: Int = 10, nProbe: Int = 6): DataFrame = {
    import spark.implicits._
    val vs = Versioned.latestGroupVersions(indexDir)
    val ids = corpus.select(col("vec_id"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(nQueries).as[Long].collect().sorted.toSeq
    val pred = col("vec_id").isInCollection(ids)
    val queries = corpus.filter(pred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val truth = VectorOps.cosineTopK(corpus, pred, k)
      .select(col("query_id"), col("neighbor_id"))
      .pinLazy // denominator + hit join below
    val served = serveTopK(spark, indexDir, queries, k, nProbe)
      .select(col("query_id"), col("neighbor_id"))
    val nTruth = truth.count()
    val hits = truth.join(served, Seq("query_id", "neighbor_id"),
      "left_semi").count()
    Seq((vs(CodesTable), vs(CentroidsTable), ids.size.toLong, k.toLong,
        nProbe.toLong, hits,
        if (nTruth == 0) 1.0 else hits.toDouble / nTruth))
      .toDF("codes_version", "model_version", "n_queries", "k", "n_probe",
        "n_hits", "recall_at_k")
  }

  /** The measured rebuild trigger: audit the current snapshot's recall
    * and, when it has drifted below `minRecall` — or when DELETION
    * PRESSURE (tombstoned ids / live codes, see [[deletionPressure]])
    * reaches `maxDeletedFrac` — retrain over `corpus` ([[build]] — new
    * model generation, admitted batch ids kept, tombstones cleared) and
    * re-audit. Deletions count toward drift because the quantizer was
    * trained on a distribution that erased rows no longer represent,
    * and every serve pays for the tombstones until a rewrite folds them
    * in.
    * Returns one decision row either way, so a scheduler can log the
    * drift → rebuild loop per run. */
  def maybeRebuild(corpus: DataFrame, indexDir: String, minRecall: Double,
      nQueries: Int = 32, k: Int = 10, nProbe: Int = 6,
      p: Params = Params(), keep: Int = 3,
      maxDeletedFrac: Double = 1.0): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def audit() = recallAudit(spark, indexDir, corpus, nQueries, k, nProbe)
      .select(col("codes_version"), col("recall_at_k"))
      .as[(Long, Double)].head()
    val (vBefore, rBefore) = audit()
    val deletePressured = maxDeletedFrac < 1.0 && {
      val (live, dead) = deletionPressure(spark, indexDir)
      dead > 0 && dead.toDouble / math.max(live + dead, 1L) >= maxDeletedFrac
    }
    val rebuilt = rBefore < minRecall || deletePressured
    if (rebuilt) build(corpus, indexDir, p, keep)
    val (vAfter, rAfter) = if (rebuilt) audit() else (vBefore, rBefore)
    Seq((vBefore, rBefore, minRecall, rebuilt, vAfter, rAfter))
      .toDF("audited_version", "recall_before", "min_recall", "rebuilt",
        "current_version", "recall_after")
  }
}
