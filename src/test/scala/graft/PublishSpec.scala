package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipelines.{Compaction, Fs, Incremental, Runner, Versioned}
import org.apache.hadoop.fs.Path

/** The publishing layer on the Hadoop `FileSystem` API: a non-`file:`
  * scheme end-to-end (the production object-store shape) and partition-
  * scoped incremental refresh (manifest-linked untouched partitions).
  */
class PublishSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("graftfs:// scheme: versioned publish/read/upsert + atomic sink run " +
    "through a registered non-file FileSystem end-to-end") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val base = s"graftfs://${tmp("graftfs")}"
    val v0 = Seq((1, "a"), (2, "b")).toDF("k", "v")
    assert(Versioned.publish(v0, base, "t") == 0L)
    assert(Versioned.latestVersion(base, "t") == Some(0L))
    assert(Versioned.read(spark, base, "t").as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "b")))
    // upsert through the same scheme
    val delta = Seq((2, "B"), (3, "c")).toDF("k", "v")
    assert(Incremental.publishUpsert(spark, base, "t", delta, Seq("k")) == 1L)
    assert(Versioned.read(spark, base, "t").as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "B"), (3, "c")))
    // time travel still reaches v0
    assert(Versioned.read(spark, base, "t", Some(0L))
      .as[(Int, String)].collect().toSet == Set((1, "a"), (2, "b")))
    // the atomic (versioned) member of the sink family runs on the scheme
    Runner.VersionedSink(base).write(v0.repartition(2), "atomic")
    assert(Fs.exists(new Path(s"$base/atomic/_v0/_COMMIT")))
    assert(Versioned.read(spark, base, "atomic").count() == 2)
    // and compaction (list/size/publish through the FileSystem API)
    val r = Compaction.compact(spark, base, "atomic", targetBytes = 1L << 30)
    assert(r.filesBefore == 2 && r.outputFiles == 1 && r.filesAfter == 1)
    assert(Versioned.latestVersion(base, "atomic").contains(1L))
    assert(Versioned.read(spark, base, "atomic").as[(Int, String)]
      .collect().toSet == Set((1, "a"), (2, "b")))
  }

  private def partParquetBytes(dir: String): Long = {
    def walk(p: Path): Long = Fs.list(p).map { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (st.getPath.getName.endsWith(".parquet")) st.getLen
      else 0L
    }.sum
    walk(new Path(dir))
  }

  /** Publish `df` as table `name`, partitioned by `partCol` and linking
    * `reuse`, in one group transaction — the path AnnIndex and
    * CorpusPublisher publish through. */
  private def publishParts(base: String, name: String, df: DataFrame,
      partCol: String, reuse: Seq[(String, String)] = Nil,
      keep: Int = 3): Long =
    Versioned.publishGroupMembers(
      Seq(Versioned.GroupDelta(name, df, partCol, reuse)), base, keep)(name)

  /** A partition-scoped upsert on that path: the partitions `incoming`
    * touches (matched on typed values through the manifest's declared
    * type) are merged on key `k` and restaged, every other partition is
    * linked unchanged. */
  private def upsertParts(base: String, name: String, incoming: DataFrame,
      partCol: String, keep: Int = 3): Long = {
    val m = Versioned.manifest(base, name,
      Versioned.latestVersion(base, name).get).get
    val incVals = incoming.select(col(partCol).cast(m.partType)).distinct()
      .collect().map(_.get(0)).toSet
    val typed = m.entries.map(_._1).toDF("value")
      .select(col("value").cast(m.partType)).collect().map(_.get(0))
    val (touched, untouched) = m.entries.zip(typed)
      .partition { case (_, tv) => incVals(tv) }
    val merged =
      if (touched.isEmpty) incoming
      else Incremental.upsert(Versioned.readPartitions(spark, base, name, m,
        touched.map(_._1)), incoming, Seq("k"))
    publishParts(base, name, merged, partCol, untouched.map(_._1), keep)
  }

  test("partition-scoped upsert: only touched partitions rewritten, " +
    "untouched files linked byte-identical, O(1/N) bytes written") {
    val base = tmp("part-upsert")
    val v0 = (0 until 300).map(i => (i.toLong, s"val$i", i % 3))
      .toDF("k", "v", "p")
    assert(publishParts(base, "t", v0, "p") == 0L)
    val m0 = Versioned.manifest(base, "t", 0L).get
    assert(m0.entries.map(_._1).sorted == Seq("0", "1", "2"))
    assert(m0.entries.forall(_._2.startsWith("_v0/")))

    // batch touches ONLY partition p=1: update k=1, insert k=1000
    val delta = Seq((1L, "UPDATED", 1), (1000L, "NEW", 1)).toDF("k", "v", "p")
    assert(upsertParts(base, "t", delta, "p") == 1L)

    // new version dir holds ONLY the rewritten partition
    val v1dirs = Fs.list(new Path(s"$base/t/_v1"))
      .filter(_.isDirectory).map(_.getPath.getName)
    assert(v1dirs == Seq("p=1"))
    // manifest links untouched partitions to their _v0 files IN PLACE —
    // the same physical part-files, trivially byte-identical
    val m1 = Versioned.manifest(base, "t", 1L).get
    assert(m1.entries.toMap == Map(
      "0" -> "_v0/p=0", "1" -> "_v1/p=1", "2" -> "_v0/p=2"))
    // a 1-of-3-partition refresh writes well under half the table's bytes
    assert(partParquetBytes(s"$base/t/_v1") < partParquetBytes(s"$base/t/_v0") / 2)

    // merged read: update applied, insert present, other partitions intact
    val latest = Versioned.read(spark, base, "t")
    assert(latest.count() == 301)
    assert(latest.filter(col("k") === 1).select("v").as[String].head() == "UPDATED")
    assert(latest.filter(col("k") === 1000).select("v").as[String].head() == "NEW")
    assert(latest.filter(col("p") === 0).count() == 100)
    // time travel: v0 still serves the pre-upsert state
    val old = Versioned.read(spark, base, "t", Some(0L))
    assert(old.count() == 300)
    assert(old.filter(col("k") === 1).select("v").as[String].head() == "val1")

    // DESCRIBE-style history: both versions committed, v1 latest; both
    // expose 3 logical partitions but v1 physically holds only the
    // rewritten one (fewer bytes in its own dir)
    val hist = Versioned.describe(spark, base, "t")
      .as[(Long, Boolean, Boolean, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    assert(hist(0L)._2 && !hist(0L)._3)
    assert(hist(1L)._2 && hist(1L)._3)
    assert(hist.values.forall(_._6 == Some(3L)))
    assert(hist(1L)._5 < hist(0L)._5)
  }

  test("partition-scoped upsert matches touched partitions on TYPED values " +
    "(timestamp dir rendering differs from Timestamp.toString)") {
    val base = tmp("upsert-ts")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // two hourly partitions; Timestamp.toString renders '…:00:00.0' while
    // the Hive dir value is '…:00:00' — a string compare would miss the
    // match, skip the merge, and drop k=1/k=2 from the rewritten partition
    val v0 = Seq((1L, "a", ts("2024-01-01 00:00:00")),
        (2L, "b", ts("2024-01-01 00:00:00")),
        (3L, "c", ts("2024-01-01 01:00:00")))
      .toDF("k", "v", "h")
    assert(publishParts(base, "t", v0, "h") == 0L)
    val delta = Seq((2L, "B", ts("2024-01-01 00:00:00")),
        (9L, "new", ts("2024-01-01 00:00:00")))
      .toDF("k", "v", "h")
    assert(upsertParts(base, "t", delta, "h") == 1L)
    val latest = Versioned.read(spark, base, "t")
      .select(col("k"), col("v")).as[(Long, String)].collect().toSet
    // k=1 must SURVIVE the partition rewrite; k=2 updated; k=9 inserted
    assert(latest == Set((1L, "a"), (2L, "B"), (3L, "c"), (9L, "new")))
    // and the untouched hour-01 partition is manifest-linked, not rewritten
    val m1 = Versioned.manifest(base, "t", 1L).get
    assert(m1.entries.collect {
      case (v, rel) if v.startsWith("2024-01-01 01") => rel
    }.forall(_.startsWith("_v0/")))
  }

  test("partition-scoped upsert round-trips string partition values that " +
    "Hive-escape in dir names (space, colon, percent)") {
    val base = tmp("upsert-esc")
    // dir names become e.g. 'p=a b%3Ac' — the manifest stores the
    // unescaped value and matching must survive the round trip
    val weird = Seq("a b:c", "100%", "plain")
    val v0 = weird.zipWithIndex.map { case (p, i) => (i.toLong, s"v$i", p) }
      .toDF("k", "v", "p")
    assert(publishParts(base, "t", v0, "p") == 0L)
    val delta = Seq((0L, "UPD", "a b:c"), (9L, "NEW", "a b:c"))
      .toDF("k", "v", "p")
    assert(upsertParts(base, "t", delta, "p") == 1L)
    val latest = Versioned.read(spark, base, "t")
      .as[(Long, String, String)].collect().toSet
    assert(latest == Set((0L, "UPD", "a b:c"), (9L, "NEW", "a b:c"),
      (1L, "v1", "100%"), (2L, "v2", "plain")))
  }

  test("vacuum reclaims crashed-publish orphans below the latest commit, " +
    "spares in-flight dirs above it unless asked, never touches committed") {
    val base = tmp("vacuum")
    val df = Seq((1, "a")).toDF("k", "v")
    assert(Versioned.publish(df, base, "t") == 0L)
    // crashed publish: data written as _v1, no _COMMIT; a later publish
    // steps past it to _v2
    df.write.parquet(s"$base/t/_v1")
    assert(Versioned.publish(df, base, "t") == 2L)
    // in-flight publish above the latest commit: _v3 without _COMMIT
    df.write.parquet(s"$base/t/_v3")
    assert(Versioned.vacuum(base, "t") == Seq(1L))
    assert(!Fs.exists(new Path(s"$base/t/_v1")))
    assert(Fs.exists(new Path(s"$base/t/_v3")), "in-flight dir spared")
    assert(Fs.exists(new Path(s"$base/t/_v0/_COMMIT")), "committed spared")
    assert(Versioned.vacuum(base, "t", includeInflight = true) == Seq(3L))
    assert(!Fs.exists(new Path(s"$base/t/_v3")))
    // reads and time travel unaffected
    assert(Versioned.read(spark, base, "t").count() == 1L)
    assert(Versioned.read(spark, base, "t", Some(0L)).count() == 1L)
    assert(Versioned.vacuum(base, "missing") == Nil)
  }

  test("diff: upsert's change set recovered exactly across time travel " +
    "(update = add+remove pair, untouched rows absent, multiset exact)") {
    val base = tmp("vdiff")
    // duplicate row (1,"a") on purpose: multiset semantics
    val v0 = Seq((1, "a"), (1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    assert(Versioned.publish(v0, base, "t") == 0L)
    val v1 = Seq((1, "a"), (2, "B"), (4, "d")).toDF("k", "v") // full replace
    assert(Versioned.publish(v1, base, "t") == 1L)
    val d = Versioned.diff(spark, base, "t", 0L, 1L)
      .as[(Int, String, String)].collect().toSeq
      .groupBy(_._3).view.mapValues(_.map(r => (r._1, r._2)).sorted).toMap
    assert(d("added") == Seq((2, "B"), (4, "d")))
    // one of the two (1,"a") copies survives → exactly one removal
    assert(d("removed") == Seq((1, "a"), (2, "b"), (3, "c")))
    // identical versions diff to empty
    assert(Versioned.diff(spark, base, "t", 1L, 1L).count() == 0L)
  }

  test("diff is manifest-aware: a delta publish diffs by reading ONLY the " +
    "touched partition's files; linked partitions contribute zero I/O") {
    val base = tmp("vdiff-manifest")
    val v0 = (0 until 300).map(i => (i.toLong, s"val$i", i % 3))
      .toDF("k", "v", "p")
    assert(publishParts(base, "t", v0, "p") == 0L)
    // delta touches ONLY p=1 (one update, one insert)
    val delta = Seq((1L, "UPDATED", 1), (1000L, "NEW", 1)).toDF("k", "v", "p")
    assert(upsertParts(base, "t", delta, "p") == 1L)
    val d = Versioned.diff(spark, base, "t", 0L, 1L)
    // the plan reads only files under the touched partition's two version
    // dirs — never the linked p=0 / p=2 bytes (at 100 TB that is the
    // difference between an O(touched) answer and two full-table shuffles)
    val files = d.inputFiles.toSeq
    assert(files.nonEmpty)
    assert(files.forall(f => f.contains("/p=1")), files.mkString("\n"))
    // and the change set is still exact
    val rows = d.as[(Long, String, Int, String)].collect().toSeq
      .groupBy(_._4).view
      .mapValues(_.map(r => (r._1, r._2)).sorted).toMap
    assert(rows("added") == Seq((1L, "UPDATED"), (1000L, "NEW")))
    assert(rows("removed") == Seq((1L, "val1")))
    // identical manifest versions: zero partitions touched, empty diff
    assert(Versioned.diff(spark, base, "t", 1L, 1L).count() == 0L)
    // fallback stays pinned: unpartitioned publishes (no manifest) diff
    // over full reads — the previous test exercises that path; here the
    // manifest version against ITSELF must also read no files at all
    assert(Versioned.diff(spark, base, "t", 1L, 1L).inputFiles.isEmpty)
  }

  test("group delta: an EMPTY member frame stages no partition, links " +
    "every prior one, and commits with the rest of the group") {
    val base = tmp("group-empty-delta")
    def epoch(e: Int, rows: (Int, String)*) =
      rows.toSeq.toDF("k", "v").withColumn("epoch", lit(e))
    def member(n: String, df: DataFrame) =
      Versioned.GroupDelta(n, df, "epoch", Versioned.latestVersion(base, n)
        .flatMap(Versioned.manifest(base, n, _)).map(_.entries).getOrElse(Nil))
    Versioned.publishGroupMembers(Seq(
      member("a", epoch(7, 1 -> "x")), member("j", epoch(7, 1 -> "x"))), base)
    val j0 = Versioned.manifest(base, "j", 0L).get
    // epoch 8: `a` gains a partition, `j`'s frame is empty
    val v = Versioned.publishGroupMembers(Seq(
      member("a", epoch(8, 2 -> "y")), member("j", epoch(8))), base)
    assert(v == Map("a" -> 1L, "j" -> 1L))
    assert(Fs.list(new Path(s"$base/j/_v1")).forall(!_.isDirectory))
    assert(Versioned.manifest(base, "j", 1L).get.entries == j0.entries)
    // the epoch is recorded by the member that staged it, and the journal
    // names both members at their new versions
    assert(Versioned.manifest(base, "a", 1L).get.entries.map(_._1) ==
      Seq("7", "8"))
    assert(Versioned.latestGroupVersions(base) == v)
    val g = Versioned.readGroup(spark, base)
    assert(g("a").count() == 2L && g("j").count() == 1L)
    // with nothing to link, an empty partitioned version is refused
    // before the journal is written: the family's snapshot is unchanged
    intercept[IllegalArgumentException] {
      Versioned.publishGroupMembers(Seq(
        member("a", epoch(9, 3 -> "z")), member("fresh", epoch(9))), base)
    }
    assert(Versioned.latestGroupVersions(base) == v)
  }

  test("latestGroupVersionsFor resolves the right FAMILY when several " +
    "group families share one baseDir's journal; latestGroupVersions " +
    "alone returns whichever committed last") {
    val base = tmp("two-families")
    Versioned.publishGroup(Seq("x" -> Seq((1, "a")).toDF("k", "v")), base)
    Versioned.publishGroup(Seq("y" -> Seq((2, "b")).toDF("k", "v")), base)
    assert(Versioned.latestGroupVersions(base).keySet == Set("y"))
    assert(Versioned.latestGroupVersionsFor(base, "x")
      .contains(Map("x" -> 0L)))
    assert(Versioned.latestGroupVersionsFor(base, "y")
      .contains(Map("y" -> 0L)))
    assert(Versioned.latestGroupVersionsFor(base, "zz").isEmpty)
  }

  test("recoverGroups finishes the PRUNE step of a crashed publish from " +
    "the journal's recorded keep (a recovered keep=1 erasure erases)") {
    val base = tmp("recover-prune")
    Versioned.publishGroup(Seq("t" -> Seq((1, "a")).toDF("k", "v")), base,
      keep = 1)
    Versioned.publishGroup(Seq("t" -> Seq((2, "b")).toDF("k", "v")), base,
      keep = 1)
    assert(Versioned.describe(spark, base, "t")
      .filter(col("committed")).count() == 1L)
    // hand-craft the crash: data staged as _v2, journal written with
    // #keep 1, process dies before member commits / seal / prune
    Seq((3, "c")).toDF("k", "v").write.parquet(s"$base/t/_v2")
    Fs.writeString(new Path(s"$base/_txn/9.staged"), "t\t2\n#keep 1\nEND\n")
    assert(Versioned.latestVersion(base, "t").contains(1L)) // not yet live
    val recovered = Versioned.recoverGroups(base)
    assert(recovered == Seq(9L))
    assert(Versioned.latestVersion(base, "t").contains(2L))
    // the recorded keep was applied: the pre-crash version is GONE
    assert(Versioned.describe(spark, base, "t")
      .filter(col("committed")).count() == 1L,
      "recovery must finish the crashed publish's retention prune")
    assert(Versioned.read(spark, base, "t").as[(Int, String)]
      .collect().toSet == Set((3, "c")))
  }

  // ---- single-writer lease enforcement (r13 verdict items 3 & 6) ------

  private def foreignLease(path: String, ageMs: Long = 0L): Unit = {
    Fs.mkdirs(new Path(path).getParent)
    Fs.writeString(new Path(path), "eeeeeeee-dead-beef-0000-000000000000\n")
    if (ageMs > 0)
      assert(new java.io.File(path)
        .setLastModified(System.currentTimeMillis() - ageMs))
  }

  test("publish: a second concurrent publisher is REFUSED while another " +
    "writer's lease is live, reclaims it once stale, and releases on exit") {
    val base = tmp("lease-pub")
    Versioned.publish(Seq((1, "a")).toDF("k", "v"), base, "t")
    foreignLease(s"$base/t/_LEASE")
    val ex = intercept[Versioned.ConcurrentWriterException] {
      Versioned.publish(Seq((2, "b")).toDF("k", "v"), base, "t")
    }
    assert(ex.getMessage.contains("another writer"))
    // the refused publish staged nothing and committed nothing
    assert(Versioned.latestVersion(base, "t").contains(0L))
    // stale (older than the TTL): reclaimed, publish proceeds
    foreignLease(s"$base/t/_LEASE", ageMs = Versioned.leaseTtlMs + 5000)
    assert(Versioned.publish(Seq((2, "b")).toDF("k", "v"), base, "t") == 1L)
    assert(!Fs.exists(new Path(s"$base/t/_LEASE")),
      "the lease must be released when the publish completes")
  }

  test("group publish: refused when ANY member is leased by another " +
    "writer — including a LINKED member, whose journaled version would " +
    "otherwise roll back that writer's concurrent publish") {
    val base = tmp("lease-group")
    Versioned.publishGroup(Seq(
      "alpha" -> Seq((1, "a")).toDF("k", "v"),
      "beta" -> Seq((2, "b")).toDF("k", "v")), base)
    foreignLease(s"$base/beta/_LEASE")
    intercept[Versioned.ConcurrentWriterException] {
      Versioned.publishGroupMembers(Seq(
        Versioned.GroupFull("alpha", Seq((3, "c")).toDF("k", "v")),
        Versioned.GroupLink("beta", 0L)), base)
    }
    // nothing of the refused transaction is visible
    assert(Versioned.latestVersion(base, "alpha").contains(0L))
    assert(Versioned.latestGroupVersions(base) ==
      Map("alpha" -> 0L, "beta" -> 0L))
    Fs.deleteRecursive(new Path(s"$base/beta/_LEASE"))
    val v = Versioned.publishGroupMembers(Seq(
      Versioned.GroupFull("alpha", Seq((3, "c")).toDF("k", "v")),
      Versioned.GroupLink("beta", 0L)), base)
    assert(v == Map("alpha" -> 1L, "beta" -> 0L))
  }

  test("vacuum and Compaction.compact are refused on a dataset leased " +
    "by another writer (the quiesce contract, enforced)") {
    val base = tmp("lease-maint")
    Versioned.publish(Seq((1, "a")).toDF("k", "v"), base, "t")
    foreignLease(s"$base/t/_LEASE")
    intercept[Versioned.ConcurrentWriterException] { Versioned.vacuum(base, "t") }
    Fs.deleteRecursive(new Path(s"$base/t/_LEASE"))
    assert(Versioned.vacuum(base, "t").isEmpty)
    // compaction takes the same <table>/_LEASE every publish takes
    foreignLease(s"$base/t/_LEASE")
    intercept[Versioned.ConcurrentWriterException] {
      Compaction.compact(spark, base, "t")
    }
    assert(Versioned.latestVersion(base, "t").contains(0L),
      "a refused compaction publishes nothing")
    Fs.deleteRecursive(new Path(s"$base/t/_LEASE"))
    val r = Compaction.compact(spark, base, "t", targetBytes = 1L << 30)
    assert(r.outputFiles == 1)
    assert(Versioned.latestVersion(base, "t").contains(1L))
    assert(!Fs.exists(new Path(s"$base/t/_LEASE")), "released after compact")
  }

  test("stale-lease reclaim is serialized on a generation-keyed marker: " +
    "a second reclaimer is refused while the marker is live, so two " +
    "racers can never both win the lease") {
    val base = tmp("lease-reclaim")
    Versioned.publish(Seq((1, "a")).toDF("k", "v"), base, "t")
    // a crashed writer's stale lease…
    foreignLease(s"$base/t/_LEASE", ageMs = Versioned.leaseTtlMs + 5000)
    // …whose reclaim ANOTHER writer already owns (fresh marker for this
    // exact generation: mtime+tokenHash of the stale lease)
    val lp = new Path(s"$base/t/_LEASE")
    val mt = Fs.of(lp).getFileStatus(lp).getModificationTime
    val tokHash = "eeeeeeee-dead-beef-0000-000000000000".hashCode & 0x7fffffff
    val marker = s"$base/t/_LEASE.reclaim.$mt.$tokHash"
    Fs.writeString(new Path(marker), "other-reclaimer\n")
    val ex = intercept[Versioned.ConcurrentWriterException] {
      Versioned.publish(Seq((2, "b")).toDF("k", "v"), base, "t")
    }
    assert(ex.getMessage.contains("reclaim is already in progress"))
    // the reclaimer crashed: its marker ages out, then the next writer
    // reclaims cleanly and leaves no marker debris behind
    assert(new java.io.File(marker)
      .setLastModified(System.currentTimeMillis() - Versioned.leaseTtlMs - 5000))
    assert(Versioned.publish(Seq((2, "b")).toDF("k", "v"), base, "t") == 1L)
    assert(!Fs.exists(new Path(marker)), "reclaim marker must be released")
    assert(!Fs.exists(lp), "lease must be released after the publish")
  }

  test("a writer that LOSES its lease mid-span dies loudly at the commit " +
    "point instead of publishing over the new owner's work; an overrun " +
    "release leaves the (possibly reclaimed) lease file untouched") {
    val base = tmp("lease-lost")
    Versioned.publish(Seq((1, "a")).toDF("k", "v"), base, "t")
    // simulate the reclaim landing mid-span: inside our held lease,
    // the file suddenly carries another writer's token
    intercept[Versioned.LeaseLostException] {
      Versioned.withFamilyLease(base, Seq("t")) {
        foreignLease(s"$base/t/_LEASE") // the reclaimer's fresh lease
        Versioned.publish(Seq((2, "b")).toDF("k", "v"), base, "t")
      }
    }
    // nothing committed: the staged _v dir is an orphan, latest still 0
    assert(Versioned.latestVersion(base, "t").contains(0L))
    Fs.deleteRecursive(new Path(s"$base/t/_LEASE"))
    // overrun release: a span longer than the TTL must NOT delete the
    // lease on exit (a reclaimer may be mid-swap at that very moment) —
    // the leftover ages out through the normal stale path instead
    val prevTtl = Versioned.leaseTtlMs
    try {
      Versioned.leaseTtlMs = 100L
      Versioned.withFamilyLease(base, Seq("t")) { Thread.sleep(250) }
      assert(Fs.exists(new Path(s"$base/t/_LEASE")),
        "an overrun lease must be left for the stale-reclaim path")
    } finally Versioned.leaseTtlMs = prevTtl
    // and the leftover (our own token, no live holder) is reclaimed
    // immediately by the next acquire — no TTL wait for own debris
    assert(Versioned.publish(Seq((3, "c")).toDF("k", "v"), base, "t") >= 1L)
    assert(!Fs.exists(new Path(s"$base/t/_LEASE")))
  }

  test("in-JVM writers to one table SERIALIZE on the lease instead of " +
    "corrupting or failing: two concurrent publishes both land") {
    val base = tmp("lease-threads")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val fs = (1 to 2).map { i =>
      Future(Versioned.publish(Seq((i, s"v$i")).toDF("k", "v"), base, "t"))
    }
    val versions = fs.map(Await.result(_, 120.seconds)).toSet
    assert(versions == Set(0L, 1L), s"lost update: $versions")
    assert(Versioned.latestVersion(base, "t").contains(1L))
    assert(!Fs.exists(new Path(s"$base/t/_LEASE")))
  }

  test("racing recoverGroups over an aged unsealed journal: the journal " +
    "another recovery deletes between listing and read is not pending, " +
    "and no racer throws") {
    val base = tmp("recover-race")
    Versioned.publishGroup(Seq("alpha" -> Seq((1, "a")).toDF("k", "v")), base)
    val prevTtl = Versioned.leaseTtlMs
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      Versioned.leaseTtlMs = 50L
      (1 to 40).foreach { round =>
        val journal = new Path(s"$base/_txn/${100 + round}.staged")
        Fs.writeString(journal, "alpha\t0\n") // no END: unsealed
        Thread.sleep(80) // aged past the TTL: crash debris
        val start = new java.util.concurrent.CountDownLatch(1)
        val racers = (1 to 8).map { _ =>
          pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
            def call(): Seq[Long] = { start.await(); Versioned.recoverGroups(base) }
          })
        }
        start.countDown()
        // Future.get rethrows a racer's exception
        racers.foreach(f => assert(f.get().isEmpty))
        assert(!Fs.exists(journal), s"round $round: debris survived")
      }
    } finally {
      Versioned.leaseTtlMs = prevTtl
      pool.shutdown()
    }
    assert(Versioned.latestGroupVersions(base) == Map("alpha" -> 0L))
  }

  test("recoverGroups SKIPS a sealed journal whose member leases are " +
    "held by a live writer (false-positive crash detection) and rolls " +
    "it forward once the writer is provably dead") {
    val base = tmp("lease-recover")
    Versioned.publishGroup(Seq("t" -> Seq((1, "a")).toDF("k", "v")), base)
    // hand-craft a crashed publish: data staged, journal sealed, no
    // member commit, no .committed — exactly what a LIVE writer looks
    // like between its journal write and its seal/commit steps
    Seq((2, "b")).toDF("k", "v").write.parquet(s"$base/t/_v1")
    Fs.writeString(new Path(s"$base/_txn/9.staged"), "t\t1\tF\n#keep 3\nEND\n")
    // the "writer" is alive: its lease on t is fresh
    foreignLease(s"$base/t/_LEASE")
    assert(Versioned.recoverGroups(base).isEmpty,
      "recovery must not finish a transaction whose writer may be alive")
    assert(Versioned.latestVersion(base, "t").contains(0L))
    assert(Fs.exists(new Path(s"$base/_txn/9.staged")))
    // writer provably dead: lease stale → recovery completes the txn
    foreignLease(s"$base/t/_LEASE", ageMs = Versioned.leaseTtlMs + 5000)
    assert(Versioned.recoverGroups(base) == Seq(9L))
    assert(Versioned.latestVersion(base, "t").contains(1L))
    // idempotent: a second recovery re-rolls nothing
    assert(Versioned.recoverGroups(base).isEmpty)
  }

  test("pruning keeps version dirs still referenced by retained manifests") {
    val base = tmp("part-prune")
    val v0 = (0 until 90).map(i => (i.toLong, s"v$i", i % 3)).toDF("k", "v", "p")
    publishParts(base, "t", v0, "p", keep = 2)
    def touchP1(tag: String) =
      Seq((1L, tag, 1)).toDF("k", "v", "p")
    // three scoped upserts: _v0 leaves the keep=2 window but stays
    // referenced by every retained manifest (p=0, p=2 data live there)
    for (i <- 1 to 3)
      upsertParts(base, "t", touchP1(s"u$i"), "p", keep = 2)
    assert(Fs.exists(new Path(s"$base/t/_v0")), "_v0 referenced, must survive")
    assert(Versioned.read(spark, base, "t").count() == 90)
    // two FULL rewrites drop every reference to _v0 → it is pruned
    for (_ <- 1 to 2)
      publishParts(base, "t", v0, "p", keep = 2)
    assert(!Fs.exists(new Path(s"$base/t/_v0")), "_v0 unreferenced, pruned")
    assert(Versioned.read(spark, base, "t").count() == 90)
  }

  test("publishGroup: cross-table snapshot via readGroup; crash between " +
    "member commits rolls forward; torn journal abandoned") {
    val base = tmp("group-pub")
    val v = Versioned.publishGroup(Seq(
      "alpha" -> Seq((1, "a")).toDF("k", "v"),
      "beta" -> Seq((2, "b")).toDF("k", "v")), base)
    assert(v == Map("alpha" -> 0L, "beta" -> 0L))
    // a later single-table publish moves alpha ahead...
    Versioned.publish(Seq((9, "a2")).toDF("k", "v"), base, "alpha")
    assert(Versioned.latestVersion(base, "alpha") == Some(1L))
    // ...but the group read still serves the journaled consistent pair
    val g = Versioned.readGroup(spark, base)
    assert(g("alpha").as[(Int, String)].collect().toSeq == Seq((1, "a")))
    assert(g("beta").as[(Int, String)].collect().toSeq == Seq((2, "b")))

    // crash simulation: second group publish, then tear out one member's
    // commit marker and the group's committed marker
    val v2 = Versioned.publishGroup(Seq(
      "alpha" -> Seq((10, "a3")).toDF("k", "v"),
      "beta" -> Seq((20, "b3")).toDF("k", "v")), base)
    Fs.deleteRecursive(new Path(s"$base/beta/_v${v2("beta")}/_COMMIT"))
    Fs.deleteRecursive(new Path(s"$base/_txn/1.committed"))
    assert(Versioned.latestVersion(base, "beta") == Some(0L)) // torn
    assert(Versioned.recoverGroups(base) == Seq(1L)) // rolled forward
    assert(Versioned.latestVersion(base, "beta") == Some(v2("beta")))
    val g2 = Versioned.readGroup(spark, base)
    assert(g2("alpha").as[(Int, String)].collect().toSeq == Seq((10, "a3")))
    assert(g2("beta").as[(Int, String)].collect().toSeq == Seq((20, "b3")))

    // a journal truncated mid-write (no END sentinel) is abandoned —
    // but only once provably dead (older than the lease horizon): a
    // FRESH unsealed journal may belong to a live writer about to seal
    // it (r13 verdict item 6 — false-positive crash detection), so the
    // first pass must leave it alone
    Fs.writeString(new Path(s"$base/_txn/7.staged"), "alpha\t0\n")
    assert(Versioned.recoverGroups(base).isEmpty)
    assert(Fs.exists(new Path(s"$base/_txn/7.staged")),
      "a young unsealed journal may be a live writer's — keep it")
    assert(new java.io.File(s"$base/_txn/7.staged")
      .setLastModified(System.currentTimeMillis() - Versioned.leaseTtlMs - 5000))
    assert(Versioned.recoverGroups(base).isEmpty)
    assert(!Fs.exists(new Path(s"$base/_txn/7.staged")),
      "an unsealed journal older than the lease horizon is crash debris")
  }

  test("applyCdc: highest-seq op wins per key; D removes, I/U upsert, " +
    "untouched keys pass through; schema contract enforced") {
    import graft.pipelines.Incremental.applyCdc
    val snap = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val log = Seq(
      (2L, "B1", "U", 1), (2L, "B2", "U", 2),   // last update wins
      (3L, "c", "D", 1),                        // delete
      (4L, "d", "I", 1), (4L, "dX", "D", 2),    // insert then delete: gone
      (5L, "e", "D", 1), (5L, "E", "I", 2)      // delete then re-insert
    ).toDF("k", "v", "op", "seq")
    val got = applyCdc(snap, log, Seq("k")).as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "B2"), (5L, "E")))
    // duplicate seq: op DESC tie-break (U > I > D) is deterministic
    val dup = Seq((1L, "x", "U", 1), (1L, "y", "D", 1)).toDF("k", "v", "op", "seq")
    assert(applyCdc(snap, dup, Seq("k")).as[(Long, String)].collect().toSet
      == Set((1L, "x"), (2L, "b"), (3L, "c")))
    intercept[IllegalArgumentException] {
      applyCdc(snap, log.drop("seq"), Seq("k"))
    }
  }

  test("publishDelete: erased keys gone in the new version; time travel " +
    "reaches the pre-delete state until pruned") {
    import graft.pipelines.Incremental
    val base = tmp("gdpr-del")
    val v0 = (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v")
    assert(Versioned.publish(v0, base, "t") == 0L)
    val deletes = Seq(3L, 7L, 99L).toDF("k") // 99 absent: no-op
    assert(Incremental.publishDelete(spark, base, "t", deletes,
      Seq("k")) == 1L)
    val now = Versioned.read(spark, base, "t")
      .select("k").as[Long].collect().toSet
    assert(now == (1L to 10L).toSet -- Set(3L, 7L))
    // pre-delete version still serves until retention prunes it
    assert(Versioned.read(spark, base, "t", Some(0L)).count() == 10)
  }

  test("VersionedSink: each mart run publishes a new version with time travel") {
    val base = tmp("vsink")
    val dir = "/root/testdata/sf0.001"
    val r1 = Runner.run(spark, dir, Runner.VersionedSink(base),
      runDate = java.time.LocalDate.of(2026, 8, 11))
    val r2 = Runner.run(spark, dir, Runner.VersionedSink(base),
      runDate = java.time.LocalDate.of(2026, 8, 12))
    assert(r1.statuses.values.forall(_.isRight))
    assert(r2.statuses.values.forall(_.isRight))
    for (m <- Seq("attack", "defense", "discipline")) {
      assert(Versioned.latestVersion(base, m) == Some(1L))
      val latest = Versioned.read(spark, base, m)
      assert(latest.select("run_date").distinct().as[String].head() == "2026-08-12")
      // yesterday's mart still served by version 0
      assert(Versioned.read(spark, base, m, Some(0L))
        .select("run_date").distinct().as[String].head() == "2026-08-11")
    }
  }
}
