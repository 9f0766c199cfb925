package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.catalog.Catalog
import graft.ops.DedupOps
import graft.pipelines.{CorpusPublisher, Versioned}

/** The composed training-corpus publisher: conservation through the
  * stages, the two-threshold leakage guarantee, manifest/data agreement,
  * and group-snapshot consistency.
  */
class CorpusPublisherSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = Catalog.load(spark, dir, "documents")

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("corpus_pub_").toString

  test("publish: kept set == corpusClean; splits partition it; manifest " +
    "matches the published data; snapshot has all four tables") {
    val idx = tmp()
    val versions = CorpusPublisher.publish(docs, idx)
    assert(versions.keySet == Set(CorpusPublisher.TrainTable,
      CorpusPublisher.ValTable, CorpusPublisher.TestTable,
      CorpusPublisher.ManifestTable))
    val snap = Versioned.readGroup(spark, idx)
    val published = Seq(CorpusPublisher.TrainTable, CorpusPublisher.ValTable,
      CorpusPublisher.TestTable).map(snap)
    val allIds = published.flatMap(_.select("doc_id").as[Long].collect())
    // partition of the kept set: no doc in two splits, union == corpusClean
    assert(allIds.distinct.size == allIds.size)
    val kept = DedupOps.corpusClean(docs, qualityMin = 0.38)
      .select("doc_id").as[Long].collect().toSet
    assert(allIds.toSet == kept)
    // every published doc passes the quality gate
    published.foreach { t =>
      assert(t.filter(col("quality") < 0.38).count() == 0)
    }
    // manifest == recomputation from the published tables
    val manifest = snap(CorpusPublisher.ManifestTable)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val bySplit = Map(
      "train" -> snap(CorpusPublisher.TrainTable),
      "val" -> snap(CorpusPublisher.ValTable),
      "test" -> snap(CorpusPublisher.TestTable))
    val recomputed = bySplit.toSeq.sortBy(_._1).map { case (name, t) =>
      (name, t.count(),
        t.agg(coalesce(sum("token_count"), lit(0L))).as[Long].collect()(0),
        t.agg(coalesce(sum(length(col("text")).cast("long")), lit(0L)))
          .as[Long].collect()(0))
    }.filter(_._2 > 0)
    assert(manifest == recomputed)
  }

  test("erase removes victims from EVERY split table in one group " +
    "transaction, recomputes the budget manifest, prunes pre-erase " +
    "versions at erasure retention, and keeps appendBatch working; the " +
    "flat Erasure path refuses group-journaled tables") {
    val idx = tmp()
    CorpusPublisher.publish(docs, idx)
    val before = publishedWithSplit(idx)
    val victims = before.filter(col("doc_id") % 5 === 2)
      .select(col("doc_id"))
    val victimSet = victims.as[Long].collect().toSet
    assert(victimSet.nonEmpty)
    val survivorsExpected = before.filter(!(col("doc_id") % 5 === 2))
      .select(col("doc_id")).as[Long].collect().toSet
    // the flat keep=1 path must refuse: it would prune versions the
    // family's group journal still references
    val ex = intercept[IllegalArgumentException] {
      graft.pipelines.Erasure.eraseEverywhere(spark, idx,
        CorpusPublisher.TrainTable, Seq("doc_id"),
        s"$idx/__no_index", victims)
    }
    assert(ex.getMessage.contains("group-journaled"))
    // the family-atomic path
    CorpusPublisher.erase(spark, idx, victims)
    val snap = Versioned.readGroup(spark, idx)
    val after = publishedWithSplit(idx)
    val afterIds = after.select("doc_id").as[Long].collect().toSet
    assert(afterIds == survivorsExpected,
      "erase must remove exactly the victims, across all splits")
    // erasure retention: exactly one committed version per split table
    Seq(CorpusPublisher.TrainTable, CorpusPublisher.ValTable,
      CorpusPublisher.TestTable).foreach { t =>
      assert(Versioned.describe(spark, idx, t)
        .filter(col("committed")).count() == 1L,
        s"$t: pre-erase versions must be pruned at keep=1")
    }
    // manifest matches a recomputation over the survivors
    val manifest = snap(CorpusPublisher.ManifestTable)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val recomputed = Seq(
      "test" -> snap(CorpusPublisher.TestTable),
      "train" -> snap(CorpusPublisher.TrainTable),
      "val" -> snap(CorpusPublisher.ValTable)).map { case (name, t) =>
        (name, t.count(),
          t.agg(coalesce(sum("token_count"), lit(0L))).as[Long].collect()(0),
          t.agg(coalesce(sum(length(col("text")).cast("long")), lit(0L)))
            .as[Long].collect()(0))
      }.filter(_._2 > 0)
    assert(manifest == recomputed)
    // admission still works on the erased family (manifest reuse intact);
    // batch docs are novel (unique tokens) with enough stopword mass to
    // clear the quality gate
    val batch = (0 until 20).map { i =>
      (1000000L + i,
        s"the zq${i}a a zq${i}b of zq${i}c and zq${i}d to zq${i}e " +
          s"in zq${i}f is zq${i}g", "en")
    }.toDF("doc_id", "text", "lang")
    CorpusPublisher.appendBatch(batch, idx, batchId = 1L)
    val finalIds = publishedWithSplit(idx)
      .select("doc_id").as[Long].collect().toSet
    assert(finalIds.intersect(victimSet).isEmpty,
      "appendBatch after erase must not resurrect victims")
    assert((finalIds -- survivorsExpected).nonEmpty,
      "the post-erase batch admitted nothing — append broke")
  }

  private def publishedWithSplit(idx: String) = {
    val snap = Versioned.readGroup(spark, idx)
    Seq(CorpusPublisher.TrainTable -> "train",
      CorpusPublisher.ValTable -> "val",
      CorpusPublisher.TestTable -> "test").map { case (t, s) =>
        snap(t).withColumn("split", lit(s))
      }.reduce(_ unionByName _)
  }

  private def tableRows(idx: String) = publishedWithSplit(idx)
    .select(col("doc_id"), col("lang"), col("quality"), col("token_count"),
      length(col("text")).as("n_chars"), col("split"))
    .as[(Long, String, Double, Long, Int, String)].collect().sortBy(_._1).toSeq

  test("appendBatch == full republish on a non-bridging batch (same kept " +
    "docs, same splits, same manifest), staged as O(batch): the new " +
    "version holds ONLY the batch partition") {
    val incr = tmp()
    val full = tmp()
    val base = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    CorpusPublisher.publish(base, incr)
    val v0 = publishedWithSplit(incr)
      .select(col("doc_id"), col("split"))
      .as[(Long, String)].collect().toMap
    val versions = CorpusPublisher.appendBatch(batch, incr, batchId = 1L)
    CorpusPublisher.publish(docs, full)
    assert(tableRows(incr) == tableRows(full)) // admission ≡ republish
    // manifests agree too (incremental one came from old + deltas)
    val mIncr = Versioned.readGroup(spark, incr)(CorpusPublisher.ManifestTable)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val mFull = Versioned.readGroup(spark, full)(CorpusPublisher.ManifestTable)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(mIncr == mFull)
    // split STABILITY: no published doc moved
    val v1 = publishedWithSplit(incr).select(col("doc_id"), col("split"))
      .as[(Long, String)].collect().toMap
    assert(v0.forall { case (id, s) => v1.get(id).contains(s) })
    // O(batch) physically: each split table's new version directory
    // contains at most the batch=1 partition; batch=0 is reached through
    // the manifest link (or the table was empty and stayed linked)
    Seq(CorpusPublisher.TrainTable, CorpusPublisher.ValTable,
      CorpusPublisher.TestTable).foreach { t =>
      val v = versions(t)
      val dirs = graft.pipelines.Fs.list(
          new org.apache.hadoop.fs.Path(s"$incr/$t/_v$v"))
        .filter(_.isDirectory).map(_.getPath.getName).toSet
      assert(dirs.subsetOf(Set("batch=1")), s"$t staged $dirs")
      val m = Versioned.manifest(incr, t, v)
      assert(m.forall(_.entries.forall { case (b, rel) =>
        b == "1" || !rel.startsWith(s"_v$v/") }))
    }
    // leakage invariant ACROSS versions: no admitted doc sits within the
    // split threshold of a published doc in another split
    val admitted = publishedWithSplit(incr)
      .join(base.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val pairs = graft.ops.DedupOps.incrementalJaccardPairs(
      publishedWithSplit(incr).select(col("doc_id"), col("text")),
      admitted.select(col("doc_id"), col("text")), threshold = 0.3)
    val splits = publishedWithSplit(incr).select(col("doc_id"), col("split"))
    val crossSplit = pairs
      .join(splits.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("split", "sb"), "doc_b")
      .join(splits.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("split", "sa"), "doc_a")
      .filter(col("sa") =!= col("sb"))
    assert(crossSplit.count() == 0)
    // a reused batch id is refused loudly
    intercept[IllegalArgumentException] {
      CorpusPublisher.appendBatch(batch, incr, batchId = 1L)
    }
  }

  test("sequential appends chain through the manifest: two batches land " +
    "as batch=1 and batch=2, the reuse links accumulate, and the final " +
    "state still equals one full republish") {
    val incr = tmp()
    val full = tmp()
    CorpusPublisher.publish(docs.filter(col("doc_id") < 300), incr)
    CorpusPublisher.appendBatch(
      docs.filter(col("doc_id") >= 300 && col("doc_id") < 400), incr,
      batchId = 1L)
    val v2 = CorpusPublisher.appendBatch(
      docs.filter(col("doc_id") >= 400), incr, batchId = 2L)
    CorpusPublisher.publish(docs, full)
    assert(tableRows(incr) == tableRows(full))
    val mIncr = Versioned.readGroup(spark, incr)(CorpusPublisher.ManifestTable)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val mFull = Versioned.readGroup(spark, full)(CorpusPublisher.ManifestTable)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(mIncr == mFull)
    // every non-empty split table's ledger names each admitted batch at
    // most once, and all its linked partitions resolve
    Seq(CorpusPublisher.TrainTable, CorpusPublisher.ValTable,
      CorpusPublisher.TestTable).foreach { t =>
      Versioned.manifest(incr, t, v2(t)).foreach { m =>
        val ids = m.entries.map(_._1)
        assert(ids.distinct == ids)
        assert(ids.toSet.subsetOf(Set("0", "1", "2")))
      }
    }
  }

  test("randomized multi-batch admission (seeded): split stability and " +
    "exact manifest bookkeeping after every step; the leakage invariant " +
    "holds over the final corpus") {
    val rnd = new scala.util.Random(774422L)
    val idx = tmp()
    CorpusPublisher.publish(docs.filter(col("doc_id") < 250), idx)
    // remaining docs in 4 random-width contiguous slices, appended in
    // id order (the monotone-id contract)
    val bounds = (Seq(250L, 500L) ++ Seq.fill(3)(250L + rnd.nextInt(250)))
      .distinct.sorted
    val slices = bounds.zip(bounds.tail)
    slices.zipWithIndex.foreach { case ((lo, hi), i) =>
      val before = publishedWithSplit(idx).select(col("doc_id"), col("split"))
        .as[(Long, String)].collect().toMap
      CorpusPublisher.appendBatch(
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi), idx,
        batchId = i + 1L)
      val after = publishedWithSplit(idx).select(col("doc_id"), col("split"))
        .as[(Long, String)].collect().toMap
      // stability: nothing previously published moved or vanished
      assert(before.forall { case (id, s) => after.get(id).contains(s) })
      // manifest == recompute from the published tables, every step
      val manifest = Versioned.readGroup(spark, idx)(
          CorpusPublisher.ManifestTable)
        .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
      val recomputed = publishedWithSplit(idx)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"),
          sum(col("token_count")).as("t"),
          sum(length(col("text")).cast("long")).as("c"))
        .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(manifest.filter(_._2 > 0) == recomputed)
    }
    // leakage invariant over the FINAL corpus: no split-threshold pair
    // crosses a split boundary
    val fin = publishedWithSplit(idx).localCheckpoint(true)
    val pairs = graft.ops.DedupOps.jaccardPairsHashed(
      fin.select(col("doc_id"), col("text")), threshold = 0.3)
    val splits = fin.select(col("doc_id"), col("split"))
    val cross = pairs
      .join(splits.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("split", "sa"), "doc_a")
      .join(splits.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("split", "sb"), "doc_b")
      .filter(col("sa") =!= col("sb"))
    assert(cross.count() == 0)
  }

  test("a BRIDGE batch doc (split-threshold-similar to published docs in " +
    "two different splits) is dropped — admission never merges published " +
    "clusters or flips a split — while a one-sided neighbor inherits its " +
    "split") {
    // synthetic corpus with controlled 5-gram overlaps; quality gate off
    def text(lo: Int, hi: Int) = (lo to hi).map(i => s"t$i").mkString(" ")
    val base = Seq(
      (1L, "en", text(1, 40)),     // rep 1   -> 1  % 100 = 1  -> train
      (95L, "en", text(101, 140))) // rep 95  -> 95 % 100 = 95 -> test
      .toDF("doc_id", "lang", "text")
    val idx = tmp()
    CorpusPublisher.publish(base, idx, qualityMin = 0.0)
    val v0 = publishedWithSplit(idx).select(col("doc_id"), col("split"))
      .as[(Long, String)].collect().toMap
    assert(v0 == Map(1L -> "train", 95L -> "test"))
    // X bridges both published docs (~0.34 jaccard to each, below the
    // 0.5 dedup cut); Y overlaps only the test doc (~0.41)
    val batch = Seq(
      (1000L, "en", text(1, 25) + " " + text(101, 125)), // bridge
      (1001L, "en", text(116, 155)))                     // test-side only
      .toDF("doc_id", "lang", "text")
    CorpusPublisher.appendBatch(batch, idx, batchId = 1L, qualityMin = 0.0)
    val v1 = publishedWithSplit(idx).select(col("doc_id"), col("split"))
      .as[(Long, String)].collect().toMap
    assert(!v1.contains(1000L)) // the bridge is refused
    assert(v1.get(1001L).contains("test")) // inheritance, not the id rule
    assert(v1(1L) == "train" && v1(95L) == "test") // nothing flipped
  }

  test("two-threshold leakage guarantee: docs in the same near-dup cluster " +
    "at the LOOSER split threshold always land in the same split") {
    val idx = tmp()
    CorpusPublisher.publish(docs, idx)
    val snap = Versioned.readGroup(spark, idx)
    val withSplit = Seq(
      CorpusPublisher.TrainTable -> "train",
      CorpusPublisher.ValTable -> "val",
      CorpusPublisher.TestTable -> "test").map { case (t, s) =>
        snap(t).select(col("doc_id")).withColumn("split", lit(s))
      }.reduce(_ unionByName _)
    val clusters = DedupOps.dedupClusters(docs, threshold = 0.3)
      .select(col("doc_id"), col("cluster_rep"))
    val straddlers = withSplit.join(clusters, "doc_id")
      .groupBy(col("cluster_rep"))
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1)
    assert(straddlers.count() == 0)
    // the split LABEL itself: each published doc's split is the
    // independent leakageSafeSplits decision at the split threshold
    val published = withSplit.as[(Long, String)].collect().toMap
    val reference = DedupOps.leakageSafeSplits(docs, threshold = 0.3)
      .select(col("doc_id"), col("split")).as[(Long, String)].collect()
      .toMap.filter { case (id, _) => published.contains(id) }
    assert(published.nonEmpty && published == reference)
  }
}
