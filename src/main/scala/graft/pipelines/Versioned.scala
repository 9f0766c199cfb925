package graft.pipelines

import graft.Trace
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** Versioned parquet publishing — the Delta-lite upgrade of the sink
  * family (SURVEY §2.2): every publish writes a NEW immutable version
  * directory (`<name>/_v<k>/`) and commits it by exclusively creating a
  * `_COMMIT` marker inside it. Readers resolve "latest" as the highest
  * version with a marker, so they always see a complete version;
  * concurrent publishes never touch a directory a reader might be
  * scanning. Old versions stay readable for time travel / rollback until
  * pruned past `keep`.
  *
  * Runs on any Hadoop `FileSystem` ([[Fs]]): local disk, HDFS, or an
  * object-store connector resolved from the path's scheme — matching the
  * reference's S3-backed sink layer (dag-extract.py:75-86). The commit
  * point is `create(_COMMIT, overwrite=false)`: atomic create on HDFS, a
  * conditional PUT on S3-compatible stores. There is deliberately NO
  * mutable pointer file and NO rename anywhere in this protocol — every
  * object written is immutable until pruned, which is exactly the shape
  * object stores make cheap and consistent. Writer concurrency contract:
  * SINGLE writer per table (like a Delta transaction owner), ENFORCED
  * (r14) by an exclusive-create writer LEASE per table dir
  * (`<table>/_LEASE`): every mutating operation (publish / group
  * publish / vacuum / retention / [[Compaction.compact]]) takes the
  * lease for its whole read-decide-write span and a racing second
  * writer is refused with [[ConcurrentWriterException]] instead of
  * silently corrupting (the r13 "documented limit, unguarded" gap).
  * Crashed writers leave a stale lease that is reclaimable after
  * [[leaseTtlMs]]; readers still need no coordination at all. On
  * connectors whose exclusive create is check-then-PUT (classic S3A —
  * see [[Fs]]) the lease degrades to best-effort mutual exclusion:
  * two writers racing the same millisecond can both "win", so such
  * deployments still need the one-scheduler-slot-per-table deployment
  * contract as the load-bearing defense; everywhere with real atomic
  * create (local disk, HDFS, S3 conditional writes) the contract is
  * now an invariant.
  *
  * Partitioned versions (see [[publishDelta]] / [[GroupDelta]])
  * additionally carry a `_MANIFEST` mapping each partition value to the
  * directory holding its data — possibly inside an OLDER version, so an
  * incremental refresh rewrites only the partitions it touches and links
  * the rest (the Iceberg-manifest idea reduced to its load-bearing core).
  * Pruning never deletes a version directory still referenced by a
  * retained manifest. The manifest is also the only skipping structure
  * this layer keeps: a reader skips whole partitions through it, and
  * within the files it opens, parquet's own row-group statistics do
  * the rest. Reads write nothing ([[commitStamp]] included).
  */
object Versioned {

  private[pipelines] def tableDir(baseDir: String, name: String) =
    new Path(s"$baseDir/$name")
  private[pipelines] def vdir(t: Path, v: Long) = new Path(t, s"_v$v")
  private def commitPath(t: Path, v: Long) = new Path(vdir(t, v), "_COMMIT")

  /** Per-INCARNATION stamp of a committed version: if a table directory
    * is deleted and republished so version numbers restart, the same
    * (name, version) resolves to a different stamp. Caches keyed on
    * version numbers add this to their key so a stale entry from a
    * previous incarnation of the path can never serve
    * ([[graft.ops.AnnIndex]]'s model cache). Derived from the marker's
    * CONTENT — every publish writes a unique incarnation token into
    * `_COMMIT` — folded with its mtime: an mtime alone is not enough (a
    * delete-and-rebuild completing within one coarse (1 s) filesystem
    * tick reproduces the identical mtime), and the mtime fold keeps
    * markers written before the token existed distinguishable. Costs
    * one getFileStatus and one small read; writes nothing, so a reader
    * needs no write permission on the table. A version resolved through
    * a sealed group journal always reads its full token: the journal
    * seals only after every member's marker is written. */
  def commitStamp(baseDir: String, name: String, version: Long): Long = {
    val p = commitPath(tableDir(baseDir, name), version)
    val mtime = Fs.of(p).getFileStatus(p).getModificationTime
    scala.util.hashing.MurmurHash3.stringHash(Fs.readString(p)).toLong *
      1000003L ^ mtime
  }

  /** Commit-marker content: the version plus a UUID incarnation token
    * (see [[commitStamp]]); nothing parses the content beyond hashing. */
  private def commitBody(v: Long): String =
    s"$v ${java.util.UUID.randomUUID()}\n"
  private def manifestPath(t: Path, v: Long) = new Path(vdir(t, v), "_MANIFEST")

  // ---- single-writer lease enforcement ---------------------------------

  /** A mutating operation found the target leased by another live
    * writer — the single-writer contract, enforced instead of assumed.
    * Wait for the holder to finish (its lease file disappears) or, if
    * it crashed, for the lease to age past [[leaseTtlMs]]. */
  final class ConcurrentWriterException(msg: String)
      extends IllegalStateException(msg)

  /** This JVM's writer identity; every lease it takes carries it, so a
    * re-entrant acquire (an ANN delete's inner group publish, a compact
    * inside a delete) recognizes its own lease, and a releases-failed
    * leftover from THIS JVM is reclaimed without waiting out the TTL. */
  private[graft] val writerToken: String =
    java.util.UUID.randomUUID().toString

  /** Stale-lease reclaim horizon, ms. A crashed writer's lease blocks
    * other writers on its tables until it ages past this (measured
    * against the lease file's mtime — filesystem-clock skew is noise at
    * this scale); a HEALTHY operation longer than this risks losing its
    * lease to a reclaimer, so size it above your longest publish.
    * Mutable for tests and for deployments with multi-hour compactions. */
  @volatile private[graft] var leaseTtlMs: Long = 15L * 60 * 1000

  /** A commit point found the thread's lease stolen or gone — the loud
    * failure for a writer that outlived [[leaseTtlMs]] and lost its
    * lease to a stale-reclaim: the operation aborts BEFORE making its
    * work visible, instead of silently corrupting the reclaimer's. */
  final class LeaseLostException(msg: String)
      extends IllegalStateException(msg)

  private def leasePath(t: Path) = new Path(t, "_LEASE")

  // In-JVM half of the lease: per-lease-file ReentrantLock, so two
  // threads of ONE process (a streaming foreachBatch leg racing a
  // maintenance call) SERIALIZE instead of both passing the file check
  // (they share writerToken) — blocking is correct here because the
  // holder is alive by construction and release is guaranteed by the
  // finally in [[withLeases]]. Cross-process writers can't be waited on
  // (no notification channel), so they get the loud refusal instead.
  // Bounded: [[maybeEvictLocks]] drops idle entries past a high-water
  // mark (a process leasing 10⁵ distinct tables would otherwise grow
  // this monotonically for the JVM's lifetime); eviction is safe
  // because [[liveGens]] is the real in-JVM ownership witness — a
  // thread racing through a freshly re-created lock instance still
  // waits on the file protocol below.
  private val localLocks = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.locks.ReentrantLock]()

  // Every acquire gets a unique GENERATION, written into the lease
  // file next to the JVM token and registered here BEFORE the create
  // is attempted. An own-token file finding is then unambiguous with
  // no timing window at all: its generation ∈ liveGens = a live frame
  // of this process holds it (wait for it); ∉ = a leftover of a failed
  // release delete (reclaim immediately). A plain held-KEY set (the
  // previous design) could be wiped by a RELEASING thread racing a new
  // acquirer on the same key — erasing the new holder's witness and
  // letting a third thread "reclaim" a live lease; generations are
  // owned by exactly one acquire, so a release can only ever retire
  // its own.
  private val genCounter = new java.util.concurrent.atomic.AtomicLong(0)
  private val liveGens =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  // Per-thread held-lease (refcount, generation): re-entrancy (an ANN
  // delete's inner group publish re-enters its family leases) and the
  // exact set [[verifyLeasesHeld]] re-checks at commit points —
  // including the generation, so even a same-JVM takeover (which keeps
  // the token identical) is detected there.
  private val heldByThread =
    ThreadLocal.withInitial[scala.collection.mutable.Map[String, (Int, Long)]](
      () => scala.collection.mutable.Map.empty)

  private def leaseBody(gen: Long) = s"$writerToken $gen\n"
  /** (token, generation) of a lease file's content; generation None for
    * foreign/malformed content. */
  private def parseLease(content: String): (String, Option[Long]) = {
    val parts = content.trim.split(" ")
    (parts.headOption.getOrElse(""), parts.lift(1).flatMap(_.toLongOption))
  }

  /** Take the writer lease at `p` (blocking same-JVM rivals, refusing
    * live cross-process ones, reclaiming stale ones). Re-entrant per
    * thread; every acquire must be paired with [[releaseLease]]. */
  private def acquireLease(p: Path): Unit = {
    val key = p.toString
    val held = heldByThread.get
    held.get(key) match {
      case Some((n, g)) => held.update(key, (n + 1, g)); return // re-entrant
      case None => ()
    }
    val lock = localLocks.computeIfAbsent(key,
      _ => new java.util.concurrent.locks.ReentrantLock())
    lock.lock()
    val gen = genCounter.incrementAndGet()
    // the liveness witness is registered BEFORE the create can win, so
    // no same-JVM contender can ever observe our fresh file without it
    liveGens.add(gen)
    try {
      fileLease(p, gen)
      held.update(key, (1, gen))
    } catch { case e: Throwable =>
      liveGens.remove(gen); lock.unlock(); throw e }
  }

  /** The cross-process half: win the exclusive create of `p` or throw.
    * Never returns while another LIVE writer holds the file. */
  private def fileLease(p: Path, gen: Long): Unit = {
    var reclaims = 0
    while (true) {
      try { Fs.createExclusive(p, leaseBody(gen)); return }
      catch {
        case e: java.io.IOException =>
          // the holder can release BETWEEN our failed exclusive create
          // and the probes below: an already-exists failure with the
          // file now gone is that benign race — retry the create (found
          // by the cross-process LeaseStressSpec: the raw
          // FileAlreadyExistsException escaped here). Any OTHER failure
          // with no file standing is a real filesystem error.
          if (!Fs.isAlreadyExists(e) && !Fs.exists(p)) throw e
          // (content, mtime) of the standing lease; None = it vanished
          // between the failed create and this read (holder released)
          val held =
            try Some((Fs.readString(p).trim,
              Fs.of(p).getFileStatus(p).getModificationTime))
            catch { case _: java.io.IOException => None }
          held match {
            case None => () // retry the create
            case Some((content, mtime)) =>
              val (tok, g) = parseLease(content)
              if (tok == writerToken) {
                if (g.contains(gen))
                  // THE GENERATION WE ARE ACQUIRING: our create landed
                  // despite throwing (a connector that fails after the
                  // data file materialized) — the lease is ours
                  return
                else if (g.exists(liveGens.contains))
                  // a live frame of this JVM holds it (possibly through
                  // an evicted lock instance) — wait like lock() would;
                  // its release deletes the file and retires the gen
                  Thread.sleep(50)
                else
                  // our token but a dead generation: the leftover of a
                  // failed release delete — reclaim immediately
                  Fs.deleteRecursive(p)
              } else {
                val age = System.currentTimeMillis() - mtime
                if (age <= leaseTtlMs)
                  throw new ConcurrentWriterException(
                    s"$p is held by another writer (holder ${tok.take(8)}…, " +
                      s"age ${age}ms ≤ ttl ${leaseTtlMs}ms) — single-writer " +
                      "contract: wait for it to finish or go stale")
                // stale: reclaim through the generation-keyed marker,
                // then retry the create (a concurrent acquirer may win
                // it — the loop then reads the FRESH lease and refuses
                // above). Bounded so a pathological fs can't spin us.
                reclaims += 1
                if (reclaims > 3) throw new ConcurrentWriterException(
                  s"$p keeps reappearing after $reclaims stale reclaims")
                reclaimStale(p, content, mtime)
              }
          }
      }
    }
  }

  /** Delete a provably-stale lease SAFELY. A bare delete-then-create
    * would let two reclaimers both "win" (the second delete lands after
    * the first reclaimer's fresh create and destroys it — both then
    * hold a lease). Instead every reclaimer of one stale GENERATION
    * (identified by the observed token+mtime) contends on ONE exclusive
    * marker create: exactly one may touch the lease, and it re-verifies
    * the lease is still that generation before deleting — so a fresh
    * lease can never be deleted by a reclaim. A reclaimer that crashes
    * holding the marker blocks further reclaims of that generation
    * until the marker itself ages out; the delete-retry on an aged
    * marker reintroduces the race one level down, but reaching it takes
    * a crashed WRITER plus a crashed RECLAIMER plus two new racers
    * inside one sub-second window — documented residual, not a path a
    * real deployment walks. */
  private def reclaimStale(p: Path, observed: String, mtime: Long): Unit = {
    val r = new Path(p.getParent,
      p.getName + s".reclaim.$mtime.${observed.hashCode & 0x7fffffff}")
    try Fs.createExclusive(r, s"$writerToken\n")
    catch {
      case e: java.io.IOException =>
        if (!Fs.exists(r)) {
          // same benign race as [[fileLease]]'s create: the winning
          // reclaimer can run to completion (its finally deletes the
          // marker) between our failed exclusive create and this probe
          // — the reclaim happened, return and let the caller's loop
          // re-read the lease
          if (Fs.isAlreadyExists(e)) return
          throw e
        }
        val rAge =
          try System.currentTimeMillis() -
            Fs.of(r).getFileStatus(r).getModificationTime
          catch { case _: java.io.IOException => return } // marker gone — retry
        if (rAge > leaseTtlMs) { Fs.deleteRecursive(r); return } // crashed reclaimer
        throw new ConcurrentWriterException(
          s"$p is stale but its reclaim is already in progress " +
            s"(marker ${r.getName}, age ${rAge}ms)")
    }
    try {
      // verify the lease is STILL the generation judged stale — between
      // our read and this marker the old holder may have released and a
      // NEW writer acquired; deleting then would kill a live lease
      val still =
        try Some((Fs.readString(p).trim,
          Fs.of(p).getFileStatus(p).getModificationTime))
        catch { case _: java.io.IOException => None }
      if (still.contains((observed, mtime))) Fs.deleteRecursive(p)
    } finally Fs.deleteRecursive(r)
  }

  private def releaseLease(p: Path): Unit = {
    val key = p.toString
    val held = heldByThread.get
    held.get(key) match {
      case Some((n, g)) if n > 1 => held.update(key, (n - 1, g)) // inner frame
      case Some((_, gen)) =>
        // delete the file ONLY when it is provably OUR GENERATION (a
        // new same-JVM holder's file carries a different gen, so a
        // delayed release can never destroy it — the generation
        // replaces the fragile ordering rules earlier designs needed)
        // AND inside the TTL: past the TTL a cross-process reclaimer
        // may be mid-swap between our read and our delete (the overrun
        // is surfaced loudly at the commit points by
        // [[verifyLeasesHeld]]; the leftover file ages out through the
        // normal stale-reclaim path).
        try {
          if (Fs.exists(p)) {
            val (tok, g) = parseLease(Fs.readString(p))
            if (tok == writerToken && g.contains(gen) &&
                System.currentTimeMillis() -
                  Fs.of(p).getFileStatus(p).getModificationTime <= leaseTtlMs)
              Fs.deleteRecursive(p)
          }
        } catch { case _: Throwable => () }
        held.remove(key)
        liveGens.remove(gen)
        val lock = localLocks.get(key)
        if (lock != null && lock.isHeldByCurrentThread) lock.unlock()
        maybeEvictLocks()
      case None => () // not held by this thread
    }
  }

  // drop idle lock entries past the high-water mark; getHoldCount == 1
  // means only our probe holds it (not an outer frame of this thread),
  // hasQueuedThreads means someone is blocked on this instance — both
  // keep the entry. A thread that raced through a just-evicted instance
  // is still correct: the file protocol + ownHeld serialize it.
  private def maybeEvictLocks(): Unit =
    if (localLocks.size > 4096) {
      val it = localLocks.entrySet().iterator()
      while (it.hasNext) {
        val l = it.next().getValue
        if (l.tryLock()) {
          try { if (!l.hasQueuedThreads && l.getHoldCount == 1) it.remove() }
          finally l.unlock()
        }
      }
    }

  /** Re-read every lease THIS THREAD holds and confirm it still carries
    * our token — the guard at every commit/swap point against a writer
    * that outlived [[leaseTtlMs]] and lost its lease to a stale-reclaim:
    * the operation dies loudly ([[LeaseLostException]]) BEFORE its
    * commit marker / directory swap makes anything visible, instead of
    * silently overwriting the reclaiming writer's work. One small read
    * per held lease, paid once per commit. */
  private[pipelines] def verifyLeasesHeld(): Unit =
    heldByThread.get.foreach { case (key, (_, gen)) =>
      val p = new Path(key)
      // Some(true/false) = definitive answer; None = fs error. The
      // check is generation-exact, so even a same-JVM takeover (which
      // keeps the token identical) reads as lost. ONE bounded retry
      // covers both a thrown fs error AND a transient not-found (NFS
      // attribute-cache staleness, object-store negative caching) —
      // either way a single flaky read at the end of a multi-hour
      // operation must not abort it with a misdiagnosis when the lease
      // is intact.
      def check(): Option[Boolean] =
        try {
          if (!Fs.exists(p)) Some(false)
          else {
            val (tok, g) = parseLease(Fs.readString(p))
            Some(tok == writerToken && g.contains(gen))
          }
        } catch { case _: Throwable => None }
      val first = check()
      val verdict =
        if (first.contains(true)) first
        else { Thread.sleep(100); check().orElse(first) }
      verdict match {
        case Some(true) => () // still ours
        case Some(false) => throw new LeaseLostException(
          s"lease $key is no longer ours at commit time — this writer " +
            s"outlived leaseTtlMs=$leaseTtlMs and was reclaimed; aborting " +
            "before publishing over the new owner's work (re-run with a " +
            "TTL sized above the operation's duration)")
        case None => throw new LeaseLostException(
          s"lease $key could not be re-read at commit time (filesystem " +
            "error twice in a row) — aborting on the fail-safe side; the " +
            "lease may well still be ours, retry the operation")
      }
    }

  /** Run `body` holding the writer leases at `leaseFiles` — acquired in
    * sorted path order (one global order = no in-JVM deadlock between
    * writers taking overlapping sets), released in reverse, re-entrant
    * per thread. The building block under every mutating operation
    * here and [[Compaction.compact]]. */
  private[pipelines] def withLeases[A](leaseFiles: Seq[Path])(body: => A): A = {
    val ordered = leaseFiles.map(_.toString).distinct.sorted
      .map(new Path(_))
    val acquired = scala.collection.mutable.ListBuffer[Path]()
    try {
      ordered.foreach { p => acquireLease(p); acquired += p }
      body
    } finally acquired.toList.reverse.foreach(releaseLease)
  }

  /** Run `body` as THE writer of `names` under `baseDir` — the public
    * span for multi-step read-decide-write transactions over a table
    * FAMILY (an ANN index's delete reads the snapshot, publishes
    * tombstones, counts, maybe compacts: without a lease spanning all
    * of it, a concurrent append between the read and the publish is a
    * lost update). Leases every named table (sorted), re-entrant with
    * the per-operation leases the publish calls inside take themselves.
    * Throws [[ConcurrentWriterException]] when another live writer
    * holds any of them. */
  def withFamilyLease[A](baseDir: String, names: Seq[String])(body: => A): A =
    withLeases(names.map(n => leasePath(tableDir(baseDir, n))))(body)

  /** Every `_v<k>` directory on disk, committed or not (a publish that
    * crashed between data write and commit leaves an uncommitted orphan:
    * skipped by readers, stepped past by the version counter, deleted
    * once the retention window passes it). */
  private def versionsOnDisk(t: Path): Seq[Long] =
    Fs.list(t).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("_v")).flatMap(_.stripPrefix("_v").toLongOption)

  /** Highest committed version, or None before the first publish. */
  def latestVersion(baseDir: String, name: String): Option[Long] = {
    val t = tableDir(baseDir, name)
    versionsOnDisk(t).filter(v => Fs.exists(commitPath(t, v))).maxOption
  }

  /** Partition manifest of one version: the partition column, its DDL
    * type, and (value, dir-relative-to-table) per partition. Values are
    * the Hive directory strings with Hive's %XX escapes undone (so a
    * value with a space, colon or percent round-trips); values
    * containing tabs or newlines are not supported (the manifest is a
    * tab- and newline-delimited file). */
  final case class Manifest(partCol: String, partType: String,
      entries: Seq[(String, String)])

  /** Manifest of `version`, or None for a plain (non-partitioned) one. */
  def manifest(baseDir: String, name: String, version: Long): Option[Manifest] =
    manifestOf(tableDir(baseDir, name), version)

  private def manifestOf(t: Path, version: Long): Option[Manifest] = {
    if (!Fs.exists(manifestPath(t, version))) None
    else {
      val lines = Fs.readString(manifestPath(t, version)).split("\n").toSeq
        .filter(_.nonEmpty)
      val hdr = lines.take(2).map(_.split("\t", 2)).map(a => a(0) -> a(1)).toMap
      Some(Manifest(hdr("partCol"), hdr("partType"),
        lines.drop(2).map(_.split("\t", 2)).map(a => (a(0), a(1)))))
    }
  }

  private def writeManifest(t: Path, v: Long, m: Manifest): Unit = {
    require(m.entries.nonEmpty, "refusing to publish an empty partitioned " +
      "version (no partition directories were written)")
    val body = Seq(s"partCol\t${m.partCol}", s"partType\t${m.partType}") ++
      m.entries.map { case (value, rel) => s"$value\t$rel" }
    Fs.writeString(manifestPath(t, v), body.mkString("", "\n", "\n"))
  }

  /** Commit `next` (exclusive marker create — the atomic publish point),
    * then prune versions past the retention window. A version directory
    * older than the window survives while any retained manifest still
    * references it. Pruning runs AFTER the commit: a reader that resolved
    * "latest" before the commit may still be scanning keep-1 versions
    * back — size `keep` to exceed your longest query. */
  private def commitAndPrune(t: Path, next: Long, keep: Int): Unit = {
    verifyLeasesHeld() // abort loudly if our lease was stale-reclaimed
    Fs.createExclusive(commitPath(t, next), commitBody(next))
    pruneRetention(t, next, keep)
  }

  /** The retention half of [[commitAndPrune]], separated so GROUP
    * publishes can commit every member BEFORE any pruning runs: inside
    * a group, pruning in the member-commit loop would delete the
    * PREVIOUS group's journaled versions while that journal is still
    * the latest (keep=1 — the erasure setting — prunes everything but
    * the new version), so a crash before the group's `.committed`
    * marker, or any reader resolving the old journal in that window,
    * would read versions that no longer exist. */
  private def pruneRetention(t: Path, next: Long, keep: Int): Unit = {
    val cutoff = next - keep + 1
    val referenced = versionsOnDisk(t)
      .filter(v => v >= cutoff && Fs.exists(commitPath(t, v)))
      .flatMap { v =>
        v +: manifestOf(t, v).toSeq.flatMap(_.entries.flatMap {
          case (_, rel) => rel.takeWhile(_ != '/').stripPrefix("_v").toLongOption
        })
      }.toSet
    versionsOnDisk(t)
      .filter(v => v < cutoff && !referenced.contains(v))
      .foreach(v => Fs.deleteRecursive(vdir(t, v)))
  }

  /** Reclaim crashed-publish debris: delete uncommitted `_v<k>`
    * directories below the latest committed version. Those are exactly
    * the publishes that died between data write and commit and then
    * lost the id race to a later successful publish — under the
    * single-writer contract nothing can still be writing them, and no
    * manifest can reference an uncommitted directory, so removal never
    * affects a reader at any retention depth. An uncommitted directory
    * ABOVE the latest commit may be a publish in flight right now and
    * is only removed with `includeInflight = true` (call that from the
    * same scheduler slot that owns the writer lock). Returns the ids
    * reclaimed. Normal retention ([[publish]]'s `keep`) prunes old
    * COMMITTED versions; vacuum is the complement for dirs retention
    * never sees as live. */
  def vacuum(baseDir: String, name: String,
      includeInflight: Boolean = false): Seq[Long] = {
    val t = tableDir(baseDir, name)
    if (!Fs.exists(t)) return Nil
    withLeases(Seq(leasePath(t))) {
      val latest = latestVersion(baseDir, name).getOrElse(-1L)
      val dead = versionsOnDisk(t)
        .filterNot(v => Fs.exists(commitPath(t, v)))
        .filter(v => includeInflight || v < latest)
        .sorted
      verifyLeasesHeld() // deletes are as unsafe as commits when stolen
      dead.foreach(v => Fs.deleteRecursive(vdir(t, v)))
      dead
    }
  }

  /** Publish `df` as the next version; returns the new version id. The
    * next id steps past every on-disk directory, committed or orphaned,
    * so a crashed publish can never block or collide with the next one. */
  def publish(df: DataFrame, baseDir: String, name: String,
      keep: Int = 3): Long =
    publishStaged(baseDir, name, keep)(stage(_, df))

  /** Under the table's lease: `write` stages the next version (through
    * [[stage]], plus any sidecar that must land before the marker), then
    * commit it and prune. The single-table publish shape — one lease,
    * no journal. */
  private def publishStaged(baseDir: String, name: String, keep: Int)(
      write: Path => Long): Long = {
    require(keep >= 1, "keep must retain at least the current version")
    val t = tableDir(baseDir, name)
    withLeases(Seq(leasePath(t))) {
      val next = write(t)
      commitAndPrune(t, next, keep)
      next
    }
  }

  /** Stage `df` as `t`'s next, still uncommitted version and return its
    * id — the one data-writing step of every publish, single-table or
    * group. The id steps past every on-disk directory, committed or
    * orphaned, and the write is `ErrorIfExists`, so a crashed publish
    * can never collide with this one. With `delta = (partCol, reuse)`
    * the version is Hive-partitioned by `partCol` and its manifest
    * lists the freshly written partitions plus every `reuse` entry they
    * do not replace. Caller holds the table's lease. */
  private def stage(t: Path, df: DataFrame,
      delta: Option[(String, Seq[(String, String)])] = None): Long = {
    Fs.mkdirs(t)
    val next = versionsOnDisk(t).maxOption.getOrElse(-1L) + 1L
    val vd = vdir(t, next)
    delta match {
      case None => df.write.mode(SaveMode.ErrorIfExists).parquet(vd.toString)
      case Some((partCol, reuse)) =>
        df.write.mode(SaveMode.ErrorIfExists).partitionBy(partCol)
          .parquet(vd.toString)
        val fresh = partDirEntries(vd, s"_v$next", partCol)
        val freshVals = fresh.map(_._1).toSet
        writeManifest(t, next, Manifest(partCol,
          df.schema(partCol).dataType.catalogString,
          (fresh ++ reuse.filterNot(r => freshVals(r._1))).sortBy(_._1)))
    }
    next
  }

  // ---- group (multi-table) publish: WAL journal + roll-forward --------

  private def txnDir(baseDir: String) = new Path(s"$baseDir/_txn")
  private def stagedPath(baseDir: String, id: Long) =
    new Path(txnDir(baseDir), s"$id.staged")
  private def committedPath(baseDir: String, id: Long) =
    new Path(txnDir(baseDir), s"$id.committed")

  private def txnIds(baseDir: String, suffix: String): Seq[Long] =
    if (!Fs.exists(txnDir(baseDir))) Nil
    else Fs.list(txnDir(baseDir)).map(_.getPath.getName)
      .filter(_.endsWith(suffix))
      .flatMap(_.stripSuffix(suffix).toLongOption)

  /** One member of a group transaction ([[publishGroupMembers]]). */
  sealed trait GroupMember { def name: String }
  /** Full rewrite: stage `df` as the table's next plain version. */
  final case class GroupFull(name: String, df: DataFrame) extends GroupMember
  /** Partition-scoped rewrite: stage `df` (the REWRITTEN partitions)
    * Hive-partitioned by `partCol`, linking every `reuse` manifest entry
    * from a prior version unchanged — the group form of
    * [[publishDelta]]: an append touching 1 of N partitions stages
    * O(1/N) of the bytes. */
  final case class GroupDelta(name: String, df: DataFrame, partCol: String,
      reuse: Seq[(String, String)]) extends GroupMember
  /** No data movement: journal the table AT an existing committed
    * version. This is how a transaction rewrites one table of a family
    * while the snapshot ([[readGroup]]) stays consistent across ALL of
    * them — e.g. an ANN-index append re-journals the frozen model
    * tables at their build-time versions next to the grown codes table.
    * Retention caveat: linking does not pin — if the linked table later
    * accrues `keep` newer versions, per-table pruning can delete the
    * journaled version and time travel to this group breaks (the Delta
    * vacuum trade-off); the LATEST group is immune because its linked
    * versions are, by construction, each table's newest. */
  final case class GroupLink(name: String, version: Long) extends GroupMember

  /** Publish several tables as ONE logical transaction. Sequence:
    * (1) stage every table's next version directory (all the data I/O,
    * no commits yet); (2) write a journal listing (table, version) —
    * the group's write-ahead record; (3) commit each member (cheap
    * exclusive marker creates); (4) mark the journal committed.
    *
    * Per-table readers see each member appear in commit order over a
    * window of milliseconds (metadata ops only); a crash inside that
    * window is ROLLED FORWARD by [[recoverGroups]] — the journal is
    * written only after all data is staged, so completion is always
    * possible. For readers that must never see a torn group, [[readGroup]]
    * resolves the last fully-committed journal and reads every member AT
    * its journaled version — cross-table snapshot isolation built from
    * per-table time travel, no coordination on the read path. */
  def publishGroup(dfs: Seq[(String, DataFrame)], baseDir: String,
      keep: Int = 3): Map[String, Long] =
    publishGroupMembers(dfs.map { case (n, df) => GroupFull(n, df) },
      baseDir, keep)

  /** [[publishGroup]] generalized over member kinds (full rewrite /
    * partition delta / link-at-version): same staging → journal →
    * commit → done sequence, same crash roll-forward, same
    * [[readGroup]] snapshot contract. Linked members stage nothing and
    * are never re-committed (their `_COMMIT` already exists). */
  def publishGroupMembers(members: Seq[GroupMember], baseDir: String,
      keep: Int = 3): Map[String, Long] =
      Trace.span("pipelines.Versioned.publishGroupMembers") {
    require(keep >= 1, "keep must retain at least the current version")
    require(members.nonEmpty, "publishGroup needs at least one table")
    require(members.map(_.name).distinct.size == members.size,
      "group members must be distinct tables")
    // lease EVERY member, linked ones included: a transaction that
    // LINKS a table at version v asserts "v is still this family's
    // current state of that table" — a concurrent writer advancing it
    // mid-transaction would be silently rolled back when this journal
    // becomes the family's latest snapshot (the delete-vs-append
    // tombstone-resurrection race). Holding all members serializes
    // same-family writers; disjoint-family groups under one baseDir
    // still run concurrently (no shared lease; the journal-id
    // allocation below stays their only shared step).
    withFamilyLease(baseDir, members.map(_.name)) {
    Fs.mkdirs(txnDir(baseDir))
    // (name, version, freshlyStaged)
    val staged = members.map {
      case GroupLink(name, v) =>
        require(Fs.exists(commitPath(tableDir(baseDir, name), v)),
          s"linked version $v of $name is not committed")
        (name, v, false)
      case GroupFull(name, df) =>
        (name, stage(tableDir(baseDir, name), df), true)
      case GroupDelta(name, df, partCol, reuse) =>
        (name, stage(tableDir(baseDir, name), df, Some(partCol -> reuse)), true)
    }
    // trailing END sentinel: a journal truncated by a crash mid-write
    // must never be rolled forward as if it named the whole group.
    // The journal id is allocated by EXCLUSIVE create (retrying past
    // collisions): two concurrent group publishes over DISJOINT table
    // sets — which the per-TABLE single-writer contract permits — must
    // not overwrite each other's journal, or one group's .committed
    // marker would seal the OTHER group's member list.
    // The `#keep` line records the transaction's retention and each
    // member line carries F(resh)/L(inked) so [[recoverGroups]] can
    // finish the PRUNE step of a publish that crashed before sealing
    // EXACTLY as the live path would have — pruning only staged
    // members (pruning a linked member on recovery would delete
    // versions a crash-free publish retains). NOTE: on a connector
    // whose exclusive create is not atomic (classic S3A — see [[Fs]]),
    // the journal-id race protection below degrades to check-then-PUT;
    // there, concurrent group publishes under ONE baseDir additionally
    // need a single group-writer slot (per-table single writers are
    // not enough to serialize the shared journal).
    val body = (staged.map { case (n, v, fresh) =>
        s"$n\t$v\t${if (fresh) "F" else "L"}" } :+ s"#keep $keep")
      .mkString("", "\n", "\nEND\n")
    var id = (txnIds(baseDir, ".staged") ++ txnIds(baseDir, ".committed"))
      .maxOption.getOrElse(-1L) + 1L
    var allocated = false
    while (!allocated) {
      try { Fs.createExclusive(stagedPath(baseDir, id), body); allocated = true }
      catch {
        case e: java.io.IOException =>
          if (Fs.exists(stagedPath(baseDir, id))) id += 1
          else if (Fs.isAlreadyExists(e)) ()
          // already-exists with the staged file now ABSENT: the
          // competing journal vanished between our failed create and
          // the probe (e.g. recoverGroups reclaiming TTL-old unsealed
          // debris) — the id is free again, retry the SAME id (the
          // fileLease benign-race handling, mirrored here)
          else throw e
      }
    }
    // commit EVERY member first, then seal the journal, and only then
    // prune: pruning earlier would delete versions the still-latest
    // previous journal references (see [[pruneRetention]]). A crash
    // BEFORE the seal is rolled forward — including this prune — by
    // [[recoverGroups]] (the journal records `keep`); a crash AFTER the
    // seal but before the prune leaves the transaction fully committed
    // with retention not yet enforced — heal by retrying the operation
    // or calling [[enforceRetention]] (erasure callers do; an
    // at-least-once requirement every erasure pipeline has anyway).
    verifyLeasesHeld() // abort loudly if any family lease was reclaimed
    staged.foreach { case (n, v, freshlyStaged) =>
      if (freshlyStaged)
        Fs.createExclusive(commitPath(tableDir(baseDir, n), v), commitBody(v)) }
    Fs.createExclusive(committedPath(baseDir, id), "done\n")
    staged.foreach { case (n, v, freshlyStaged) =>
      if (freshlyStaged) pruneRetention(tableDir(baseDir, n), v, keep) }
    staged.map { case (n, v, _) => n -> v }.toMap
    }
  }

  /** Re-apply retention to `name` relative to its LATEST committed
    * version — idempotent, callable any time. Exists for the one crash
    * window group publishes cannot heal themselves: a kill between the
    * journal seal and the post-seal prune leaves the transaction
    * committed with old versions still on disk; an erasure caller
    * re-runs this (keep = 1) to guarantee the victims' old versions are
    * actually gone. */
  def enforceRetention(baseDir: String, name: String, keep: Int): Unit = {
    require(keep >= 1, "keep must retain at least the current version")
    withFamilyLease(baseDir, Seq(name)) {
      latestVersion(baseDir, name)
        .foreach(v => pruneRetention(tableDir(baseDir, name), v, keep))
    }
  }

  /** One parsed journal member: its version and whether the
    * transaction STAGED it (vs linked an existing version). */
  private final case class JournalEntry(version: Long, fresh: Boolean)

  /** Parsed journal body: the (table → entry) member map plus the
    * recorded retention. The `#keep` line is tab-less, so the member
    * collect skips it by construction; the third field (F/L =
    * fresh/linked) is absent in pre-r13 journals, which also carry no
    * `#keep`, so recovery never prunes them and the default is moot. */
  private def readJournal(baseDir: String,
      id: Long): (Map[String, JournalEntry], Option[Int]) =
    parseJournal(Fs.readString(stagedPath(baseDir, id)))

  private def parseJournal(body: String): (Map[String, JournalEntry], Option[Int]) = {
    val lines = body.split("\n")
      .filter(l => l.nonEmpty && l != "END").toSeq
    val entries = lines.map(_.split("\t")).collect {
      case Array(n, v) if v.toLongOption.isDefined =>
        n -> JournalEntry(v.toLong, fresh = true)
      case Array(n, v, flag) if v.toLongOption.isDefined =>
        n -> JournalEntry(v.toLong, fresh = flag == "F")
    }.toMap
    val keep = lines.collectFirst {
      case l if l.startsWith("#keep ") =>
        l.stripPrefix("#keep ").trim.toIntOption
    }.flatten
    (entries, keep)
  }

  /** Roll forward crashed group publishes: any journal without its
    * committed marker has all member data staged (journal writes follow
    * staging), so create each member's missing `_COMMIT`, mark the
    * journal done, and — when the journal records its retention — run
    * the prune step the crashed publisher never reached, so a recovered
    * keep=1 erasure actually erases. Unparseable / empty journals are
    * abandoned (their orphan version dirs age out through retention
    * pruning). Call on writer startup, like Delta log replay.
    *
    * LIVE-WRITER SAFE (r13 verdict item 6): "no committed marker" is
    * crash EVIDENCE, not crash PROOF — a publisher between its journal
    * write and its seal looks identical to a crashed one. Recovery
    * therefore takes each journal's member-table leases before touching
    * it: a LIVE publisher still holds them ([[publishGroupMembers]]
    * spans journal-write → seal → prune under the family lease), so its
    * in-flight journal is SKIPPED this call and picked up by a later
    * recovery only if it truly died (its lease gone or stale). After
    * acquiring, the committed marker is re-checked — the writer may
    * have finished while we waited — so a completed publish is never
    * double-rolled. Unsealed (no END sentinel) journals carry no
    * trustworthy member list to lease, so they are deleted only once
    * OLDER than [[leaseTtlMs]] (a live writer seals within milliseconds
    * of writing; an unsealed journal that old is crash debris) —
    * deleting a live writer's staged journal would otherwise make its
    * imminent seal marker point at nothing. A journal that vanishes
    * between the listing and its read (a concurrent recovery deleted it
    * as debris) is not pending. Returns the journal ids actually rolled
    * forward. */
  def recoverGroups(baseDir: String): Seq[Long] = {
    val pending = txnIds(baseDir, ".staged")
      .filterNot(id => Fs.exists(committedPath(baseDir, id))).sorted
    pending.filter { id =>
      val body =
        try Some(Fs.readString(stagedPath(baseDir, id)))
        catch { case _: java.io.FileNotFoundException => None }
      body.exists(rollForward(baseDir, id, _))
    }
  }

  /** [[recoverGroups]] for one pending journal with content `body`:
    * true when it was rolled forward. */
  private def rollForward(baseDir: String, id: Long, body: String): Boolean = {
    val sealed_ = body.split("\n").filter(_.nonEmpty).lastOption
      .contains("END")
    val (entries, keepRec) = parseJournal(body)
    val complete = sealed_ && entries.nonEmpty &&
      entries.forall { case (n, e) =>
        Fs.exists(vdir(tableDir(baseDir, n), e.version)) }
    if (complete) {
      try withFamilyLease(baseDir, entries.keys.toSeq) {
        // the writer may have sealed while we acquired — re-check
        // under the lease so a finished publish is never re-rolled
        if (Fs.exists(committedPath(baseDir, id))) false
        else {
          entries.foreach { case (n, e) =>
            val cp = commitPath(tableDir(baseDir, n), e.version)
            if (!Fs.exists(cp)) Fs.createExclusive(cp, commitBody(e.version))
          }
          Fs.createExclusive(committedPath(baseDir, id), "recovered\n")
          // prune exactly as the live path would have: STAGED members
          // only — a linked member's version predates this transaction
          // and pruning from it would delete versions a crash-free
          // publish retains (e.g. the model tables an ANN delete links)
          keepRec.foreach { k =>
            entries.foreach { case (n, e) =>
              if (e.fresh)
                pruneRetention(tableDir(baseDir, n), e.version, k) }
          }
          true
        }
      } catch {
        // a member lease is held by a LIVE writer: this journal is an
        // in-flight publish, not a crash — leave it alone
        case _: ConcurrentWriterException => false
      }
    } else {
      // incomplete: unsealed, empty, or missing staged data. Only
      // abandon it once provably dead (older than the lease horizon)
      // — a false-positive crash detection must not delete a journal
      // its writer is about to seal.
      val age =
        try System.currentTimeMillis() - Fs.of(stagedPath(baseDir, id))
          .getFileStatus(stagedPath(baseDir, id)).getModificationTime
        catch { case _: java.io.IOException => Long.MinValue }
      if (age > leaseTtlMs) Fs.deleteRecursive(stagedPath(baseDir, id))
      false
    }
  }

  /** The last fully-committed group's (table → journaled version) map —
    * ONE journal read resolving the whole snapshot. Callers that need
    * several member tables at a consistent point resolve this once and
    * read each member at its named version; resolving per-table
    * "latest" (or calling [[readGroup]] twice) can interleave with a
    * concurrent group commit and mix two snapshots. */
  def latestGroupVersions(baseDir: String): Map[String, Long] = {
    val id = txnIds(baseDir, ".committed").maxOption.getOrElse(
      throw new IllegalStateException("no committed group"))
    readJournal(baseDir, id)._1.map { case (n, e) => n -> e.version }
  }

  /** The most recent committed journal NAMING `table`, as its
    * (table → version) map — the family-aware resolution when several
    * group FAMILIES share one baseDir's journal (e.g. the corpus family
    * next to a maintained join view): [[latestGroupVersions]] alone
    * resolves whichever family committed LAST, which silently
    * misclassifies every other family's tables. Newest-first scan with
    * early exit (one tiny file read per journal walked; a table named
    * by the latest journal costs one read); None when no committed
    * journal names the table — that MISS costs O(journal history)
    * reads, so keep flat (non-group) tables out of baseDirs with busy
    * group journals (a journal-less baseDir answers in one listing). */
  def latestGroupVersionsFor(baseDir: String,
      table: String): Option[Map[String, Long]] =
    txnIds(baseDir, ".committed").sorted.reverse.iterator
      .map(id => readJournal(baseDir, id)._1)
      .find(_.contains(table))
      .map(_.map { case (n, e) => n -> e.version })

  /** The (table → version) maps of the most recent `n` committed group
    * journals, NEWEST FIRST — the reference set retention decisions on
    * a FOLDED group member need (a member a newer journal stopped
    * carrying never receives another publish, so per-table pruning
    * never sees it again; [[graft.ops.AnnIndex.compact]] prunes its
    * folded tombstone table against this window instead). */
  def recentGroupVersions(baseDir: String, n: Int): Seq[Map[String, Long]] =
    txnIds(baseDir, ".committed").sorted.takeRight(n).reverse
      .map(id => readJournal(baseDir, id)._1
        .map { case (nm, e) => nm -> e.version })

  /** Retention prune for a table that stopped receiving publishes (a
    * folded group member — normal pruning only runs inside
    * [[publish]]-to-that-table): delete every on-disk version NOT in
    * `retain`, keeping any version a retained manifest still links
    * partitions into (the same reference closure [[publish]]'s pruning
    * honors). Callers own the choice of `retain` — pass the versions
    * the journals still inside their retention window reference.
    * Returns the pruned ids. */
  def pruneExcept(baseDir: String, name: String, retain: Set[Long]): Seq[Long] = {
    val t = tableDir(baseDir, name)
    if (!Fs.exists(t)) return Nil
    withFamilyLease(baseDir, Seq(name)) {
      val referenced = retain.flatMap { v =>
        v +: manifestOf(t, v).toSeq.flatMap(_.entries.flatMap {
          case (_, rel) => rel.takeWhile(_ != '/').stripPrefix("_v").toLongOption
        })
      }
      val dead = versionsOnDisk(t).filterNot(referenced).sorted
      verifyLeasesHeld() // deletes are as unsafe as commits when stolen
      dead.foreach(v => Fs.deleteRecursive(vdir(t, v)))
      dead
    }
  }

  /** The last fully-committed group as (table → frame AT its journaled
    * version): a consistent cross-table snapshot even while newer
    * per-table versions land. When several group FAMILIES share the
    * baseDir's journal this resolves whichever family committed last —
    * use [[readGroupOf]] to anchor on a specific family. */
  def readGroup(spark: SparkSession, baseDir: String): Map[String, DataFrame] =
    latestGroupVersions(baseDir).map { case (n, v) =>
      n -> read(spark, baseDir, n, Some(v))
    }

  /** [[readGroup]] anchored on a FAMILY: the snapshot of the most
    * recent committed journal naming `member`
    * ([[latestGroupVersionsFor]]) — the read-side counterpart of the
    * family-aware write paths, for baseDirs whose journal interleaves
    * several families (a corpus family next to a maintained join view). */
  def readGroupOf(spark: SparkSession, baseDir: String,
      member: String): Map[String, DataFrame] =
    latestGroupVersionsFor(baseDir, member)
      .getOrElse(throw new IllegalStateException(
        s"no committed group names $member under $baseDir"))
      .map { case (n, v) => n -> read(spark, baseDir, n, Some(v)) }

  /** Hive-escaped partition-dir suffix → raw value (%XX unescape). */
  private def unescapePart(s: String): String =
    if (!s.contains('%')) s
    else {
      val sb = new java.lang.StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '%' && i + 2 < s.length) {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } else { sb.append(s.charAt(i)); i += 1 }
      }
      sb.toString
    }

  /** (value, relDir) for each `<partCol>=<value>` child of `vd`. */
  private def partDirEntries(vd: Path, vRel: String, partCol: String)
      : Seq[(String, String)] =
    Fs.list(vd).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith(partCol + "=")).sorted
      .map(dn => (unescapePart(dn.stripPrefix(partCol + "=")), s"$vRel/$dn"))

  /** Publish `delta` (rows of the partitions being REWRITTEN) as the next
    * version, linking every `reuse` entry — (value, relDir) rows from the
    * previous version's manifest — unchanged into the new manifest. The
    * untouched partitions' bytes are never read or written: the new
    * version references their existing files in place. This is the
    * partition-scoped refresh a 100 TB table needs — an upsert touching
    * 1 of N partitions costs O(1/N) of a full rewrite.
    *
    * The single-table form of [[GroupDelta]], kept for
    * [[Compaction.compact]], which rewrites one table in a baseDir that
    * group families may share: a one-member group journal would become
    * the baseDir's latest committed group, and [[readGroup]] would then
    * return only the compacted table. */
  def publishDelta(delta: DataFrame, baseDir: String, name: String,
      partCol: String, reuse: Seq[(String, String)], keep: Int = 3): Long =
    publishStaged(baseDir, name, keep)(stage(_, delta, Some(partCol -> reuse)))

  /** Read the manifest entries' data: entries are grouped by the version
    * directory that physically holds them and each group is ONE
    * `spark.read` with `basePath`, so Spark derives the partition column
    * from the directory names — the plan has at most `keep` reads no
    * matter how many partitions the table carries (a per-partition union
    * would blow up driver-side planning at 10⁴ partitions). The
    * partition column is cast to the manifest's declared type (directory
    * inference alone would guess). A given `schema` (a frame this
    * method returned earlier, partition column included) skips the
    * footer read Spark runs as a job to infer one. */
  private def readEntries(spark: SparkSession, t: Path, m: Manifest,
      entries: Seq[(String, String)],
      schema: Option[StructType] = None): DataFrame = {
    require(entries.nonEmpty, "no partitions to read")
    entries.groupBy(_._2.takeWhile(_ != '/')).toSeq.sortBy(_._1)
      .map { case (vRel, group) =>
        schema.fold(spark.read)(spark.read.schema)
          .option("basePath", new Path(t, vRel).toString)
          .parquet(group.map { case (_, rel) => new Path(t, rel).toString }: _*)
      }
      .map(df => df.withColumn(m.partCol, col(m.partCol).cast(m.partType)))
      .reduce(_.unionByName(_))
  }

  /** Read the latest version (default) or time-travel to `version`.
    * Partitioned versions come back as data columns in written order with
    * the partition column last. */
  def read(spark: SparkSession, baseDir: String, name: String,
      version: Option[Long] = None): DataFrame =
      Trace.span("pipelines.Versioned.read") {
    val t = tableDir(baseDir, name)
    val v = version.orElse(latestVersion(baseDir, name)).getOrElse(
      throw new IllegalStateException(s"no published version of $name"))
    if (!Fs.exists(commitPath(t, v))) throw new IllegalStateException(
      s"version $v of $name is pruned or was never published")
    manifest(baseDir, name, v) match {
      case None => spark.read.parquet(vdir(t, v).toString)
      case Some(m) => readEntries(spark, t, m, m.entries)
    }
  }

  /** Read a subset of a manifest version's partitions (same grouped-read
    * plan shape as [[read]]), under `schema` when given. */
  def readPartitions(spark: SparkSession, baseDir: String, name: String,
      m: Manifest, entries: Seq[(String, String)],
      schema: Option[StructType] = None): DataFrame =
    readEntries(spark, tableDir(baseDir, name), m, entries, schema)

  /** Version history as a DataFrame — the operational observability
    * surface (Delta's DESCRIBE HISTORY reduced to what the protocol
    * stores): one row per on-disk version with commit status, file/byte
    * totals (only files physically inside the version dir — a manifest
    * version's linked partitions are counted where they live), and the
    * partition count for manifest versions. Driver-side listing only;
    * never reads data files. */
  def describe(spark: SparkSession, baseDir: String, name: String): org.apache.spark.sql.DataFrame = {
    val t = tableDir(baseDir, name)
    val latest = latestVersion(baseDir, name)
    val rows = versionsOnDisk(t).sorted.map { v =>
      val files = Fs.list(vdir(t, v)).filter(!_.isDirectory) ++
        Fs.list(vdir(t, v)).filter(_.isDirectory)
          .flatMap(d => Fs.list(d.getPath).filter(!_.isDirectory))
      val parquet = files.filter(_.getPath.getName.endsWith(".parquet"))
      (v, Fs.exists(commitPath(t, v)), latest.contains(v),
        parquet.size.toLong, parquet.map(_.getLen).sum,
        manifestOf(t, v).map(_.entries.size.toLong))
    }
    import spark.implicits._
    rows.toDF("version", "committed", "is_latest", "n_files", "bytes",
      "n_partitions")
  }

  /** Row-level change set between two published versions: every row of
    * `vNew` not in `vOld` tagged `added`, every row of `vOld` not in
    * `vNew` tagged `removed` (multiset semantics via EXCEPT ALL, so a
    * duplicated row appearing one extra time shows up once). An updated
    * row is an add+remove pair under its key — the caller joins the two
    * sides on the key to see updates as such. Answers "what did that
    * publish actually change?" across time travel without any external
    * diff tool.
    *
    * MANIFEST-AWARE: when both versions carry partition manifests on
    * the same partition column, a partition whose manifest entry is
    * IDENTICAL in both (same linked relDir → physically the same
    * files, therefore the same rows — exceptAll of equal multisets is
    * empty) is skipped without reading a byte. Only partitions that
    * were staged, dropped, or re-pointed between the versions are
    * scanned — the read-side mirror of [[publishDelta]]'s O(touched)
    * write: diffing a one-partition delta publish of a 100 TB table
    * costs one partition, not two full-table shuffles. Falls back to
    * the full two-sided EXCEPT ALL when either version has no manifest
    * or the partition column changed (PublishSpec pins both paths). */
  def diff(spark: SparkSession, baseDir: String, name: String,
      vOld: Long, vNew: Long): DataFrame = {
    val t = tableDir(baseDir, name)
    def full() = {
      val before = read(spark, baseDir, name, Some(vOld))
      val after = read(spark, baseDir, name, Some(vNew))
      diffFrames(before, after)
    }
    (manifestOf(t, vOld), manifestOf(t, vNew)) match {
      case (Some(mo), Some(mn)) if mo.partCol == mn.partCol =>
        val om = mo.entries.toMap
        val nm = mn.entries.toMap
        val touchedOld = mo.entries.filter { case (v, rel) =>
          !nm.get(v).contains(rel) }
        val touchedNew = mn.entries.filter { case (v, rel) =>
          !om.get(v).contains(rel) }
        // an untouched side becomes a schema-only empty relation (no
        // file scan in the plan — `diff(v, v)` must read zero bytes)
        def empty(schema: org.apache.spark.sql.types.StructType) =
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        (touchedOld, touchedNew) match {
          case (Nil, Nil) =>
            val schema = read(spark, baseDir, name, Some(vNew)).schema
            diffFrames(empty(schema), empty(schema))
          case (o, Nil) =>
            val before = readEntries(spark, t, mo, o)
            diffFrames(before, empty(before.schema))
          case (Nil, n) =>
            val after = readEntries(spark, t, mn, n)
            diffFrames(empty(after.schema), after)
          case (o, n) =>
            diffFrames(readEntries(spark, t, mo, o), readEntries(spark, t, mn, n))
        }
      case _ => full()
    }
  }

  private def diffFrames(before: DataFrame, after: DataFrame): DataFrame =
    after.exceptAll(before).withColumn("change", lit("added"))
      .unionByName(before.exceptAll(after).withColumn("change", lit("removed")))
}
