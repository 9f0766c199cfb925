package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.catalog.Catalog
import graft.ops.{AnnIndex, VectorOps}
import graft.pipelines.{Fs, Versioned}
import org.apache.hadoop.fs.Path

/** The published IVF-PQ index family: build+serve must be bit-identical
  * to the one-shot search, appends must stage O(batch) bytes against the
  * frozen model, and every read must resolve a consistent cross-table
  * snapshot.
  */
class AnnIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = Catalog.load(spark, dir, "embeddings")

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("ann_idx_spec_").toString
  private def tmpRoot(): String = tmp()

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.get(key)
    try { spark.conf.set(key, value); body } finally spark.conf.set(key, prev)
  }

  /** Serves take the distributed path when auto-broadcast is off. */
  private def distributed[A](body: => A): A =
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(body)

  /** `body` on the driver path (the session's broadcast budget holds the
    * test indexes' codes) and again on the distributed path. */
  private def onBothPaths(body: => Unit): Unit = { body; distributed(body) }

  private def collectTopK(df: org.apache.spark.sql.DataFrame) =
    df.select(col("query_id"), col("rn"), col("neighbor_id"), col("cos_sim"))
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq

  test("serve from the published index == one-shot ivfPqTopK (bit-identical)") {
    onBothPaths {
      val idx = tmp()
      val versions = AnnIndex.build(emb, idx)
      assert(versions == Map(AnnIndex.CentroidsTable -> 0L,
        AnnIndex.CodebooksTable -> 0L, AnnIndex.CodesTable -> 0L))
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val served = collectTopK(AnnIndex.serveTopK(spark, idx, queries, 5))
      val oneShot = collectTopK(VectorOps.ivfPqTopK(emb, col("vec_id") < 8, 5))
      assert(served == oneShot) // exact, including every cos_sim bit
    }
  }

  test("serve pushes the probe-cell set into the codes scan; pruning is " +
    "result-neutral") {
    val idx = tmp()
    AnnIndex.build(emb, idx)
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val served = distributed(AnnIndex.serveTopK(spark, idx, queries, 5))
    // the bounded probe-cell set reaches the parquet scan as In(cell, …).
    // Each codes file is one row group spanning all its cells, so the
    // filter skips no bytes yet: the scan reads every code row and the
    // filter drops the unprobed ones
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(cell"), plan)
    val (coarse, books) = AnnIndex.loadModel(spark, idx)
    val full = VectorOps.ivfPqRank(
      Versioned.readGroup(spark, idx)(AnnIndex.CodesTable)
        .select("vec_id", "cell", "codes"),
      queries, 5, coarse, books, nProbe = 6, dim = coarse.head._2.length)
    assert(collectTopK(served) == collectTopK(full))
  }

  test("filtered serve: all-pass filter == unfiltered serve; selective " +
    "filter is sound (only admitted ids) and recall-bounded vs filtered " +
    "brute force") {
    val idx = tmp()
    AnnIndex.build(emb, idx)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    // 1) an all-pass filter must be BIT-IDENTICAL to the unfiltered path
    val allIds = emb.select(col("vec_id"))
    val allPass = collectTopK(
      AnnIndex.serveTopKFiltered(spark, idx, queries, allIds, 5))
    assert(allPass == collectTopK(AnnIndex.serveTopK(spark, idx, queries, 5)))
    // 2) a selective metadata filter: every returned neighbor satisfies it
    val allowedPred = col("label").isin(3, 7)
    val allowed = emb.filter(allowedPred).select(col("vec_id"))
    val allowedSet = allowed.as[Long].collect().toSet
    assert(allowedSet.nonEmpty && allowedSet.size < emb.count())
    val served = AnnIndex.serveTopKFiltered(spark, idx, queries, allowed, 5)
    val servedRows = collectTopK(served)
    assert(servedRows.nonEmpty)
    assert(servedRows.forall(r => allowedSet(r._3)),
      "filtered serve returned a disallowed neighbor")
    // 3) recall@5 vs exact brute force over the ADMITTED corpus — the
    // contract over-fetch-and-post-filter cannot give under selective
    // filters. Same scaled-int cosine as VectorOps.cosineTopK, with the
    // candidate side restricted to the filter's survivors.
    val base = emb.filter(allowedPred).select(col("vec_id"), col("embedding"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos_sim").desc,
        col("neighbor_id"))
    val truth = base.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        graft.functions.ScaledIntCosine.scaledCosine(
          col("qv"), col("embedding")).as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().toSet
    val hits = servedRows.map(r => (r._1, r._3)).count(truth)
    val recall = hits.toDouble / truth.size
    assert(recall >= 0.5, s"filtered recall@5 = $recall (expected >= 0.5)")
    // 4) the filter COMPOSES with the probed-cell pushdown: the codes
    // scan still carries In(cell, …)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("In(cell"), plan)
  }

  test("append encodes against the FROZEN model, stages only the new batch, " +
    "and serve sees the union") {
    val idx = tmp()
    val n = emb.count()
    val cut = n / 2
    val base = emb.filter(col("vec_id") < cut)
    val rest = emb.filter(col("vec_id") >= cut)
    AnnIndex.build(base, idx)
    val (coarse0, books0) = AnnIndex.loadModel(spark, idx)
    val v1 = AnnIndex.append(rest, idx, batchId = 1L)
    // model tables linked at their build versions — no new model data
    assert(v1(AnnIndex.CentroidsTable) == 0L)
    assert(v1(AnnIndex.CodebooksTable) == 0L)
    assert(v1(AnnIndex.CodesTable) == 1L)
    // model is FROZEN: identical before and after the append
    val (coarse1, books1) = AnnIndex.loadModel(spark, idx)
    assert(coarse0.map { case (c, v) => (c, v.toSeq) } ==
      coarse1.map { case (c, v) => (c, v.toSeq) })
    assert(books0.map(_.map { case (c, v) => (c, v.toSeq) }) ==
      books1.map(_.map { case (c, v) => (c, v.toSeq) }))
    // O(batch) staging, physically: the new codes version directory
    // contains ONLY the batch=1 partition; batch=0 lives in _v0 and is
    // reached through the manifest link
    val v1dirs = Fs.list(new Path(s"$idx/${AnnIndex.CodesTable}/_v1"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(v1dirs == Set("batch=1"))
    val m = Versioned.manifest(idx, AnnIndex.CodesTable, 1L).get
    assert(m.entries.toMap == Map("0" -> "_v0/batch=0", "1" -> "_v1/batch=1"))
    // the served corpus is the union: every vector is indexed exactly once
    val codes = Versioned.readGroup(spark, idx)(AnnIndex.CodesTable)
    assert(codes.count() == n)
    assert(codes.select("vec_id").distinct().count() == n)
    // appended codes == encoding the batch with the frozen model directly
    val expect = VectorOps.ivfPqEncodeWith(rest, coarse0, books0,
        coarse0.head._2.length)
      .as[(Long, Int, Seq[Int])].collect().sortBy(_._1).toSeq
    val got = codes.filter(col("batch") === 1L)
      .select(col("vec_id"), col("cell"), col("codes"))
      .as[(Long, Int, Seq[Int])].collect().sortBy(_._1).toSeq
    assert(got == expect)
    // and serving ranks the full union under that frozen model
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val served = collectTopK(AnnIndex.serveTopK(spark, idx, queries, 5))
    val expectRank = collectTopK(VectorOps.ivfPqRank(
      codes.select("vec_id", "cell", "codes"), queries, 5, coarse0, books0,
      nProbe = 6, dim = coarse0.head._2.length))
    assert(served == expectRank)
  }

  test("the index family runs end-to-end on a non-file FileSystem scheme " +
    "(graftfs://) — build, append, serve resolve through the Hadoop API") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val idx = s"graftfs://${tmp()}"
    AnnIndex.build(emb.filter(col("vec_id") < 300), idx)
    AnnIndex.append(emb.filter(col("vec_id") >= 300), idx, batchId = 1L)
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val served = collectTopK(AnnIndex.serveTopK(spark, idx, queries, 5))
    // identical to the same build+append on plain local disk
    val local = tmp()
    AnnIndex.build(emb.filter(col("vec_id") < 300), local)
    AnnIndex.append(emb.filter(col("vec_id") >= 300), local, batchId = 1L)
    assert(served == collectTopK(AnnIndex.serveTopK(spark, local, queries, 5)))
  }

  test("a graftfs:// build creates its commit markers, group journal and " +
    "writer leases through the FileSystem") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val dir = tmp()
    val idx = s"graftfs://$dir"
    val before = GraftTestFs.mutations.size
    AnnIndex.build(emb.filter(col("vec_id") < 300), idx)
    val creates = GraftTestFs.mutations.drop(before)
      .filter(m => m.startsWith("create ") && m.contains(s"$dir/"))
    def created(what: String) = creates.exists(_.contains(what))
    assert(created("/_COMMIT"), creates.mkString("\n"))
    assert(created("/_txn/"), creates.mkString("\n"))
    assert(created("/_LEASE"), creates.mkString("\n"))
  }

  test("randomized append sequences (seeded): row conservation, manifest " +
    "ledger exactness, and serve == frozen-model rank after every step") {
    val rnd = new scala.util.Random(4242L)
    val idx = tmp()
    val n = emb.count()
    AnnIndex.build(emb.filter(col("vec_id") < 200), idx)
    val (coarse, books) = AnnIndex.loadModel(spark, idx)
    // carve the remainder into 3 random contiguous batches
    var lo = 200L
    val cuts = Seq(lo + 50 + rnd.nextInt(50), lo + 150 + rnd.nextInt(50), n)
    cuts.zipWithIndex.foreach { case (hi, i) =>
      AnnIndex.append(
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi), idx,
        batchId = i + 1L)
      lo = hi
      val codes = Versioned.readGroup(spark, idx)(AnnIndex.CodesTable)
      assert(codes.count() == (if (hi == n) n else hi)) // conservation
      assert(codes.select("vec_id").distinct().count() == codes.count())
      val m = Versioned.manifest(idx, AnnIndex.CodesTable,
        Versioned.latestVersion(idx, AnnIndex.CodesTable).get).get
      assert(m.entries.map(_._1).sorted ==
        (0 to (i + 1)).map(_.toString).sorted) // ledger == appended ids
    }
    // model never moved; serve equals ranking the union under it
    val (coarse2, books2) = AnnIndex.loadModel(spark, idx)
    assert(coarse.map { case (c, v) => (c, v.toSeq) } ==
      coarse2.map { case (c, v) => (c, v.toSeq) })
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val served = collectTopK(AnnIndex.serveTopK(spark, idx, queries, 5))
    val expect = collectTopK(VectorOps.ivfPqRank(
      Versioned.readGroup(spark, idx)(AnnIndex.CodesTable)
        .select("vec_id", "cell", "codes"),
      queries, 5, coarse, books, nProbe = 6, dim = coarse.head._2.length))
    assert(served == expect)
  }

  test("append with a duplicate batch id is refused; empty batch is a no-op") {
    val idx = tmp()
    AnnIndex.build(emb.filter(col("vec_id") < 100), idx)
    val more = emb.filter(col("vec_id") >= 100 && col("vec_id") < 150)
    AnnIndex.append(more, idx, batchId = 1L)
    intercept[IllegalArgumentException] {
      AnnIndex.append(more, idx, batchId = 1L)
    }
    val before = Versioned.latestVersion(idx, AnnIndex.CodesTable)
    val after = AnnIndex.append(emb.filter(lit(false)), idx, batchId = 2L)
    assert(Versioned.latestVersion(idx, AnnIndex.CodesTable) == before)
    assert(after(AnnIndex.CodesTable) == before.get)
  }

  test("compact rewrites all batches into one partition labelled with " +
    "the highest admitted id; serve is unchanged") {
    val idx = tmp()
    AnnIndex.build(emb.filter(col("vec_id") < 250), idx)
    AnnIndex.append(emb.filter(col("vec_id") >= 250 && col("vec_id") < 400),
      idx, batchId = 1L)
    AnnIndex.append(emb.filter(col("vec_id") >= 400), idx, batchId = 2L)
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val servedBefore = collectTopK(AnnIndex.serveTopK(spark, idx, queries, 5))
    AnnIndex.compact(spark, idx)
    val m = Versioned.manifest(idx,
      AnnIndex.CodesTable,
      Versioned.latestVersion(idx, AnnIndex.CodesTable).get).get
    assert(m.entries.map(_._1) == Seq("2")) // one partition again
    assert(Versioned.readGroup(spark, idx)(AnnIndex.CodesTable).count() ==
      emb.count())
    val servedAfter = collectTopK(AnnIndex.serveTopK(spark, idx, queries, 5))
    assert(servedAfter == servedBefore)
    // a rebuild into the same directory keeps the label too
    val rebuilt = AnnIndex.build(emb, idx)
    assert(Versioned.manifest(idx, AnnIndex.CodesTable,
      rebuilt(AnnIndex.CodesTable)).get.entries.map(_._1) == Seq("2"))
  }

  test("append crash between journal and commit rolls FORWARD: the torn " +
    "Delta member's _COMMIT is restored by recoverGroups and the index " +
    "serves the full union") {
    val idx = tmp()
    AnnIndex.build(emb.filter(col("vec_id") < 300), idx)
    val v1 = AnnIndex.append(emb.filter(col("vec_id") >= 300), idx,
      batchId = 1L)
    // crash simulation (the PublishSpec pattern, on the Delta/Link
    // member kinds): tear out the appended codes version's commit
    // marker and the group journal's committed marker
    Fs.deleteRecursive(new Path(
      s"$idx/${AnnIndex.CodesTable}/_v${v1(AnnIndex.CodesTable)}/_COMMIT"))
    Fs.deleteRecursive(new Path(s"$idx/_txn/1.committed"))
    assert(Versioned.latestVersion(idx, AnnIndex.CodesTable) == Some(0L))
    assert(Versioned.recoverGroups(idx) == Seq(1L))
    assert(Versioned.latestVersion(idx, AnnIndex.CodesTable) ==
      Some(v1(AnnIndex.CodesTable)))
    // the recovered snapshot serves build + append
    assert(Versioned.readGroup(spark, idx)(AnnIndex.CodesTable).count() ==
      emb.count())
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    assert(collectTopK(AnnIndex.serveTopK(spark, idx, queries, 5)).nonEmpty)
  }

  test("repeat serve against an unchanged model reads NO model files: the " +
    "model cache keys on the published model versions, stays hot across " +
    "appends (which link the model), and invalidates on rebuild") {
    val idx = tmp()
    AnnIndex.build(emb.filter(col("vec_id") < 300), idx)
    AnnIndex.invalidateModelCache()
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val l0 = AnnIndex.modelLoads
    val s1 = collectTopK(AnnIndex.serveTopK(spark, idx, queries, 5))
    assert(AnnIndex.modelLoads == l0 + 1) // first serve loads the model
    val s2 = collectTopK(AnnIndex.serveTopK(spark, idx, queries, 5))
    assert(AnnIndex.modelLoads == l0 + 1) // second serve: zero new loads
    assert(s2 == s1) // and bit-identical results
    // an append links the model tables at their existing versions — the
    // cache key doesn't move, so append + the serve after it still load
    // nothing
    AnnIndex.append(emb.filter(col("vec_id") >= 300), idx, batchId = 1L)
    AnnIndex.serveTopK(spark, idx, queries, 5).count()
    assert(AnnIndex.modelLoads == l0 + 1)
    // a rebuild publishes a NEW model generation → exactly one reload
    AnnIndex.build(emb, idx)
    AnnIndex.serveTopK(spark, idx, queries, 5).count()
    assert(AnnIndex.modelLoads == l0 + 2)
  }

  test("serves change nothing on disk: three serves right after a build " +
    "make zero mutating filesystem calls") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val idx = s"graftfs://${tmp()}"
    AnnIndex.build(emb.filter(col("vec_id") < 300), idx)
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    // every path under the index with its mtime: also catches a write
    // that bypasses the FileSystem, since a directory's mtime moves when
    // an entry is created or deleted in it
    def tree(p: Path): Seq[String] = Fs.list(p).flatMap { st =>
      s"${st.getPath} ${st.getModificationTime}" +:
        (if (st.isDirectory) tree(st.getPath) else Nil)
    }
    val treeBefore = tree(new Path(idx))
    // the serves start at once, while the build's commit markers are
    // seconds old: a read path must not write even for a fresh marker
    val before = GraftTestFs.mutations.size
    for (_ <- 1 to 3)
      assert(collectTopK(AnnIndex.serveTopK(spark, idx, queries, 5)).nonEmpty)
    val writes = GraftTestFs.mutations.drop(before)
    assert(writes.isEmpty, writes.mkString("serves mutated storage:\n", "\n", ""))
    assert(tree(new Path(idx)) == treeBefore)
  }

  test("an index deleted and rebuilt at the same path serves the new " +
    "model: versions restart at 0, and the next serve loads it once") {
    val idx = tmp()
    // k-means seeds its cells from the lowest ids, so both corpora keep
    // ids 0..15; otherwise they are disjoint
    AnnIndex.build(emb.filter(col("vec_id") < 16 || col("vec_id") >= 250), idx)
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    AnnIndex.serveTopK(spark, idx, queries, 5).count() // caches the old model
    Fs.deleteRecursive(new Path(idx))
    // different vectors, same path, same (table, version) names
    val fresh = emb.filter(col("vec_id") < 250)
    assert(AnnIndex.build(fresh, idx) == Map(AnnIndex.CentroidsTable -> 0L,
      AnnIndex.CodebooksTable -> 0L, AnnIndex.CodesTable -> 0L))
    val l0 = AnnIndex.modelLoads
    val served = collectTopK(AnnIndex.serveTopK(spark, idx, queries, 5))
    assert(AnnIndex.modelLoads == l0 + 1)
    assert(served ==
      collectTopK(VectorOps.ivfPqTopK(fresh, col("vec_id") < 4, 5)))
  }

  test("serve resolves model AND codes from one journaled snapshot (no " +
    "per-table latest reads that a concurrent commit could interleave)") {
    val idx = tmp()
    AnnIndex.build(emb.filter(col("vec_id") < 300), idx)
    AnnIndex.append(emb.filter(col("vec_id") >= 300), idx, batchId = 1L)
    val vs = Versioned.latestGroupVersions(idx)
    assert(vs == Map(AnnIndex.CentroidsTable -> 0L,
      AnnIndex.CodebooksTable -> 0L, AnnIndex.CodesTable -> 1L))
    // the snapshot the serve path reads == journaled versions (model at
    // the linked build version, codes at the appended version)
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val served = AnnIndex.serveTopK(spark, idx, queries, 5)
    assert(collectTopK(served).nonEmpty)
  }

  test("a replay of a batch that landed BEFORE compaction or a rebuild " +
    "is still recognized and skipped: the collapsed partition keeps the " +
    "highest admitted id") {
    val idx = tmp()
    AnnIndex.build(emb.filter(col("vec_id") < 300), idx)
    val b1 = emb.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    AnnIndex.append(b1, idx, batchId = 1L)
    AnnIndex.compact(spark, idx)
    val n = Versioned.readGroup(spark, idx)(AnnIndex.CodesTable).count()
    // failure-replay of epoch 1 after the compact: the one remaining
    // partition carries the highest admitted id, so batch 1 reads as
    // admitted — skipped, not duplicated
    val before = Versioned.latestVersion(idx, AnnIndex.CodesTable)
    AnnIndex.append(b1, idx, batchId = 1L, skipIfExists = true)
    assert(Versioned.latestVersion(idx, AnnIndex.CodesTable) == before)
    assert(Versioned.readGroup(spark, idx)(AnnIndex.CodesTable).count() == n)
    // without the replay flag it is a caller bug, loudly
    intercept[IllegalArgumentException] {
      AnnIndex.append(b1, idx, batchId = 1L)
    }
    // fresh monotone ids still admit normally after the compact
    val b2 = emb.filter(col("vec_id") >= 400)
    AnnIndex.append(b2, idx, batchId = 2L)
    assert(Versioned.readGroup(spark, idx)(AnnIndex.CodesTable).count() ==
      emb.count())
    // a full rebuild into the same directory: replays of both earlier
    // batches are still skipped under skipIfExists and refused without it
    AnnIndex.build(emb, idx)
    val rebuilt = Versioned.latestVersion(idx, AnnIndex.CodesTable)
    for ((b, id) <- Seq(b1 -> 1L, b2 -> 2L)) {
      AnnIndex.append(b, idx, batchId = id, skipIfExists = true)
      assert(Versioned.latestVersion(idx, AnnIndex.CodesTable) == rebuilt)
      assert(Versioned.readGroup(spark, idx)(AnnIndex.CodesTable).count() ==
        emb.count())
      intercept[IllegalArgumentException] {
        AnnIndex.append(b, idx, batchId = id)
      }
    }
  }

  test("recall drift is measurable per published version, and " +
    "maybeRebuild acts on it: fresh build recall > recall after " +
    "distribution-shifted appends, rebuild recovers it") {
    val idx = tmp()
    val base = emb.filter(col("vec_id") < 300)
      .select(col("vec_id"), col("embedding"))
    // a shifted second wave: scaled + offset vectors land far from the
    // frozen build-time centroids, so their PQ residuals quantize badly
    val shifted = emb.filter(col("vec_id") >= 300)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => (x * lit(-3.0f) + lit(2.0f)).cast("float")).as("embedding"))
    val corpus0 = base
    val corpus1 = base.unionByName(shifted).localCheckpoint(true)
    AnnIndex.build(corpus0, idx)
    val fresh = AnnIndex.recallAudit(spark, idx, corpus0, nQueries = 24)
      .select(col("codes_version"), col("recall_at_k"))
      .as[(Long, Double)].head()
    assert(fresh._1 == 0L)
    AnnIndex.append(shifted, idx, batchId = 1L)
    val drifted = AnnIndex.recallAudit(spark, idx, corpus1, nQueries = 24)
      .select(col("codes_version"), col("recall_at_k"))
      .as[(Long, Double)].head()
    assert(drifted._1 == 1L) // audits are per published version
    assert(drifted._2 < fresh._2,
      s"expected drift: fresh=${fresh._2} drifted=${drifted._2}")
    // the measured trigger: threshold between the two recalls → rebuild
    val thr = (fresh._2 + drifted._2) / 2
    val decision = AnnIndex.maybeRebuild(corpus1, idx, minRecall = thr,
        nQueries = 24)
      .select(col("rebuilt"), col("recall_before"), col("recall_after"))
      .as[(Boolean, Double, Double)].head()
    assert(decision._1) // drifted below the floor → retrained
    assert(decision._3 > decision._2,
      s"rebuild should recover recall: ${decision._2} -> ${decision._3}")
    // and a healthy index is left alone
    val noop = AnnIndex.maybeRebuild(corpus1, idx, minRecall = thr,
        nQueries = 24)
      .select(col("rebuilt")).as[Boolean].head()
    assert(!noop)
  }

  test("randomized interleaved append / replay / compact sequence " +
    "(seeded): every vector is admitted exactly once at every step, " +
    "the ledger stays exact across manifest collapses, and the final " +
    "serve ranks the full union") {
    val rnd = new scala.util.Random(20260814L)
    val idx = tmp()
    val n = emb.count()
    AnnIndex.build(emb.filter(col("vec_id") < 100), idx)
    // carve the remainder into 8 contiguous slices = candidate batches
    val cuts = (100L to n by ((n - 100) / 8).max(1)).toSeq :+ n
    val slices = cuts.zip(cuts.tail).filter(p => p._2 > p._1).take(8)
    var admitted = 100L // vectors currently in the index
    var landed = Vector.empty[(Long, Long, Long)] // (batchId, lo, hi)
    var nextSlice = 0
    var nextBatch = 1L
    for (_ <- 1 to 14) {
      rnd.nextInt(3) match {
        case 0 if nextSlice < slices.size => // fresh append
          val (lo, hi) = slices(nextSlice)
          AnnIndex.append(
            emb.filter(col("vec_id") >= lo && col("vec_id") < hi), idx,
            batchId = nextBatch)
          landed :+= ((nextBatch, lo, hi))
          admitted += hi - lo; nextSlice += 1; nextBatch += 1
        case 1 if landed.nonEmpty => // failure replay of a landed batch
          val (b, lo, hi) = landed(rnd.nextInt(landed.size))
          AnnIndex.append(
            emb.filter(col("vec_id") >= lo && col("vec_id") < hi), idx,
            batchId = b, skipIfExists = true)
        case 2 => AnnIndex.compact(spark, idx)
        case _ => // chosen op not applicable this step
      }
      val codes = Versioned.readGroup(spark, idx)(AnnIndex.CodesTable)
      assert(codes.count() == admitted) // exactly-once, no duplicates
      assert(codes.select("vec_id").distinct().count() == admitted)
    }
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    assert(collectTopK(AnnIndex.serveTopK(spark, idx, queries, 5)).nonEmpty)
  }

  test("readGroup snapshot stays consistent across appends (linked model + " +
    "grown codes in ONE journaled transaction)") {
    val idx = tmp()
    AnnIndex.build(emb.filter(col("vec_id") < 200), idx)
    AnnIndex.append(emb.filter(col("vec_id") >= 200 && col("vec_id") < 260),
      idx, batchId = 1L)
    val snap = Versioned.readGroup(spark, idx)
    assert(snap.keySet == Set(AnnIndex.CentroidsTable,
      AnnIndex.CodebooksTable, AnnIndex.CodesTable))
    // snapshot codes = latest committed group's codes (both batches)
    assert(snap(AnnIndex.CodesTable).count() == 260)
    // the model tables in the snapshot are the (only) build versions
    assert(snap(AnnIndex.CentroidsTable).count() == 16)
    assert(snap(AnnIndex.CodebooksTable).count() == 8 * 16)
  }

  test("row-level delete: serve after delete ≡ filtered serve over the " +
    "complement (bit-identical), erased ids never return, O(victims) " +
    "transaction") {
    val idx = tmp()
    AnnIndex.build(emb, idx)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val victimPred = col("vec_id") % 7 === 3
    val victims = emb.filter(victimPred).select(col("vec_id"))
    val victimSet = victims.as[Long].collect().toSet
    assert(victimSet.nonEmpty)
    // expected = the already-pinned filtered path over the complement,
    // computed BEFORE the delete (no tombstones in its snapshot)
    val complement = emb.filter(!victimPred).select(col("vec_id"))
    val expected = collectTopK(
      AnnIndex.serveTopKFiltered(spark, idx, queries, complement, 5))
    val vs = AnnIndex.delete(victims, idx)
    // erase is a metadata transaction: codes + model tables all LINKED
    assert(vs(AnnIndex.CodesTable) == 0L && vs(AnnIndex.CentroidsTable) == 0L)
    assert(vs.contains(AnnIndex.TombstonesTable))
    val served = AnnIndex.serveTopK(spark, idx, queries, 5)
    val servedRows = collectTopK(served)
    assert(servedRows.forall(r => !victimSet(r._3)),
      "serve returned an erased vector")
    assert(servedRows == expected) // anti-join(victims) ≡ semi-join(complement)
    // the probed-cell parquet pushdown survives the tombstone anti-join
    // on the distributed path, which serves the same rows
    val plan = distributed {
      val d = AnnIndex.serveTopK(spark, idx, queries, 5)
      assert(collectTopK(d) == expected)
      d.queryExecution.executedPlan.toString
    }
    assert(plan.contains("In(cell"), plan)
    // the filtered path composes with tombstones too
    val filteredServed = collectTopK(AnnIndex.serveTopKFiltered(
      spark, idx, queries, emb.select(col("vec_id")), 5))
    assert(filteredServed == expected)
    // deleting the same ids again is a no-op on results
    AnnIndex.delete(victims, idx)
    assert(collectTopK(AnnIndex.serveTopK(spark, idx, queries, 5)) == expected)
  }

  test("delete survives append (tombstones linked forward) and compact " +
    "folds it in physically (table leaves the snapshot, serve unchanged)") {
    val idx = tmp()
    val n = emb.count()
    val cut = n / 2
    AnnIndex.build(emb.filter(col("vec_id") < cut), idx)
    val victims = emb.filter(col("vec_id") < cut && col("vec_id") % 5 === 1)
      .select(col("vec_id"))
    val victimSet = victims.as[Long].collect().toSet
    AnnIndex.delete(victims, idx)
    // an append AFTER the delete must not resurrect the victims
    AnnIndex.append(emb.filter(col("vec_id") >= cut), idx, batchId = 1L)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val before = collectTopK(AnnIndex.serveTopK(spark, idx, queries, 5))
    assert(before.forall(r => !victimSet(r._3)),
      "append resurrected an erased vector")
    assert(Versioned.latestGroupVersions(idx).contains(AnnIndex.TombstonesTable))
    // pressure counts tombstoned ids ACTUALLY IN the codes (dead) and
    // the live remainder — a tombstone for an id the index never held
    // must not count (it's the documented no-op)
    val (live, dead) = AnnIndex.deletionPressure(spark, idx)
    assert(dead == victimSet.size && live == n - victimSet.size)
    AnnIndex.delete(emb.sparkSession.range(10).select(
      (col("id") + 1000000L).as("vec_id")), idx) // ids never indexed
    val (live2, dead2) = AnnIndex.deletionPressure(spark, idx)
    assert(dead2 == dead && live2 == live,
      "phantom tombstones must not register as deletion pressure")
    // compact (default retention): erase becomes physical in the codes,
    // the tombstone member leaves the snapshot, serve is bit-identical;
    // the tombstone DIRECTORY survives within retention (readers on the
    // pre-compact snapshot keep their no-coordination contract) — only
    // erasure retention (keep = 1, the Erasure path) removes it
    AnnIndex.compact(spark, idx)
    val snapAfter = Versioned.latestGroupVersions(idx)
    assert(!snapAfter.contains(AnnIndex.TombstonesTable))
    assert(Fs.exists(new Path(s"$idx/${AnnIndex.TombstonesTable}")),
      "default-retention compact must leave tombstone versions readable")
    val merged = Versioned.read(spark, idx, AnnIndex.CodesTable,
      Some(snapAfter(AnnIndex.CodesTable)))
    assert(merged.count() == n - victimSet.size)
    assert(merged.filter(col("vec_id").isInCollection(victimSet.toSeq))
      .isEmpty)
    assert(collectTopK(AnnIndex.serveTopK(spark, idx, queries, 5)) == before)
  }

  test("buildOrAppend: bootstrap labels its codes with its epoch id, so " +
    "a replayed bootstrap batch is skipped, not re-appended; later ids " +
    "append normally") {
    val idx = tmp()
    val batch = emb.filter(col("vec_id") < 100)
    AnnIndex.buildOrAppend(batch, idx, batchId = 6L)
    val n0 = Versioned.read(spark, idx, AnnIndex.CodesTable).count()
    assert(n0 == 100L)
    AnnIndex.buildOrAppend(batch, idx, batchId = 6L) // at-least-once replay
    assert(Versioned.read(spark, idx, AnnIndex.CodesTable).count() == n0,
      "replayed bootstrap epoch must not duplicate its vectors")
    AnnIndex.buildOrAppend(
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 150), idx, 7L)
    assert(Versioned.read(spark, idx, AnnIndex.CodesTable).count() == 150L)
  }

  test("Erasure.eraseEverywhere: one call removes victims from the " +
    "corpus table (old versions pruned) AND the index (tombstone + " +
    "physical fold); lazy variant leaves tombstones standing but serves " +
    "clean") {
    import graft.pipelines.{Erasure, Incremental}
    val docs = Catalog.load(spark, dir, "documents")
    val victimPred = col("doc_id") % 7 === 3
    val victims = docs.filter(victimPred).select(col("doc_id"))
    val victimSet = victims.as[Long].collect().toSet
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    def setup(): String = {
      val tmp = tmpRoot()
      Incremental.publishUpsert(spark, tmp, "corpus", docs, Seq("doc_id"))
      Incremental.publishUpsert(spark, tmp, "corpus", docs.limit(10),
        Seq("doc_id")) // a second version, so pruning has something to prune
      AnnIndex.build(emb, s"$tmp/index")
      tmp
    }
    // physical erase (default): victims gone from corpus + codes + serve
    val t1 = setup()
    Erasure.eraseEverywhere(spark, t1, "corpus", Seq("doc_id"),
      s"$t1/index", victims)
    assert(Versioned.read(spark, t1, "corpus")
      .filter(col("doc_id").isInCollection(victimSet.toSeq)).isEmpty)
    assert(Versioned.describe(spark, t1, "corpus").count() == 1L,
      "keep=1 erase must prune the pre-erase corpus versions")
    val snap1 = Versioned.latestGroupVersions(s"$t1/index")
    assert(!snap1.contains(AnnIndex.TombstonesTable)) // folded physically
    assert(!Fs.exists(new Path(s"$t1/index/${AnnIndex.TombstonesTable}")),
      "erasure-retention compact must remove the victim id list from disk")
    assert(Versioned.read(spark, s"$t1/index", AnnIndex.CodesTable)
      .filter(col("vec_id").isInCollection(victimSet.toSeq)).isEmpty)
    val served1 = collectTopK(AnnIndex.serveTopK(spark, s"$t1/index",
      queries, 5))
    assert(served1.nonEmpty && served1.forall(r => !victimSet(r._3)))
    // lazy erase: tombstones stand, serve is equally clean
    val t2 = setup()
    Erasure.eraseEverywhere(spark, t2, "corpus", Seq("doc_id"),
      s"$t2/index", victims, physical = false)
    assert(Versioned.latestGroupVersions(s"$t2/index")
      .contains(AnnIndex.TombstonesTable))
    val served2 = collectTopK(AnnIndex.serveTopK(spark, s"$t2/index",
      queries, 5))
    assert(served2 == served1,
      "lazy and physical erase must serve identically")
  }

  test("delete scopes tombstones to the admission cutoff: a later append " +
    "reusing the erased id is servable, compact folds exactly the scoped " +
    "rows, and a re-delete erases the recycled id again") {
    onBothPaths {
      val idx = tmp()
      AnnIndex.build(emb.filter(col("vec_id") < 100), idx)
      // query = id 7's own vector under a non-corpus query_id, so its cell
      // is always probed and (when alive) it ranks with cos_sim = 1
      val q = emb.filter(col("vec_id") === 7)
        .select(lit(999L).as("query_id"), col("embedding").as("qv"))
      val seven = emb.filter(col("vec_id") === 7)
        .select(col("vec_id"), col("embedding"))
      val only7 = spark.range(1).select(lit(7L).as("vec_id"))
      def servable7(): Boolean = {
        val filtered = collectTopK(
          AnnIndex.serveTopKFiltered(spark, idx, q, only7, 5)).exists(_._3 == 7L)
        // k above the index size: id 7 (in a probed cell) ranks iff live
        val unfiltered = collectTopK(
          AnnIndex.serveTopK(spark, idx, q, 1000)).exists(_._3 == 7L)
        assert(unfiltered == filtered, "serveTopK and the filtered serve disagree")
        filtered
      }
      assert(servable7())
      AnnIndex.delete(only7, idx)
      assert(!servable7(), "deleted id still servable")
      val (live0, dead0) = AnnIndex.deletionPressure(spark, idx)
      assert(dead0 == 1L && live0 == 99L)
      // the id comes BACK (re-consent / id recycling): an append ABOVE the
      // delete's cutoff must be fully servable — a vec_id-only tombstone
      // (the pre-r13 shape) hid it from every serve and the next compact
      // physically dropped it while the corpus kept the doc (ADVICE r12)
      AnnIndex.append(seven, idx, batchId = 1L)
      assert(servable7(), "re-appended id hidden by the earlier tombstone")
      val (live1, dead1) = AnnIndex.deletionPressure(spark, idx)
      assert(dead1 == 1L && live1 == 100L,
        "the re-appended row must not count as dead")
      // compact folds ONLY the scoped (batch <= cutoff) row
      AnnIndex.compact(spark, idx)
      assert(Versioned.read(spark, idx, AnnIndex.CodesTable)
        .filter(col("vec_id") === 7).count() == 1L)
      assert(servable7(), "compact dropped the re-appended row")
      // a SECOND delete's cutoff covers the recycled generation too
      AnnIndex.delete(only7, idx)
      assert(!servable7(), "re-delete must erase the recycled id")
      // and an append after that cutoff is servable again
      AnnIndex.append(seven, idx, batchId = 2L)
      assert(servable7(), "append above the second cutoff hidden")
    }
  }

  test("delete auto-compacts when the folded tombstone set crosses the " +
    "compactAbove bound — the standing set can never grow without limit") {
    val idx = tmp()
    AnnIndex.build(emb.filter(col("vec_id") < 100), idx)
    AnnIndex.delete(spark.range(5).select(col("id").as("vec_id")), idx,
      compactAbove = 8L)
    assert(Versioned.latestGroupVersions(idx)
      .contains(AnnIndex.TombstonesTable), "below the bound: lazy tombstones")
    AnnIndex.delete(spark.range(5, 12).select(col("id").as("vec_id")), idx,
      compactAbove = 8L)
    val snap = Versioned.latestGroupVersions(idx)
    assert(!snap.contains(AnnIndex.TombstonesTable),
      "crossing the bound must fold the tombstones physically")
    val codes = Versioned.read(spark, idx, AnnIndex.CodesTable)
    assert(codes.count() == 88L)
    assert(codes.filter(col("vec_id") < 12).isEmpty)
  }

  test("serve stays correct when the tombstone set exceeds the broadcast " +
    "regime: the anti-join degrades to a shuffle join, results identical") {
    val idx = tmp()
    AnnIndex.build(emb, idx)
    val victimPred = col("vec_id") % 7 === 3
    val victims = emb.filter(victimPred).select(col("vec_id"))
    val victimSet = victims.as[Long].collect().toSet
    AnnIndex.delete(victims, idx, compactAbove = Long.MaxValue)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val expected = collectTopK(AnnIndex.serveTopK(spark, idx, queries, 5))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val served = AnnIndex.serveTopK(spark, idx, queries, 5)
      val plan = served.queryExecution.executedPlan.toString
      assert(plan.contains("LeftAnti"), plan)
      assert(!"""BroadcastHashJoin[^\n]*LeftAnti""".r
        .findFirstIn(plan).isDefined,
        "threshold -1 must push the tombstone anti-join off broadcast")
      val rows = collectTopK(served)
      assert(rows == expected, "shuffle-anti regime changed the results")
      assert(rows.forall(r => !victimSet(r._3)))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("a distributed serve reads the tombstones under their fixed schema: " +
    "no schema-inference job, same rows, and a pre-cutoff tombstone table " +
    "still erases its ids") {
    val idx = tmp()
    AnnIndex.build(emb, idx)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val victimPred = col("vec_id") % 7 === 3
    val victims = emb.filter(victimPred).select(col("vec_id"))
    val expected = collectTopK(AnnIndex.serveTopKFiltered(spark, idx, queries,
      emb.filter(!victimPred).select(col("vec_id")), 5))
    def serve() = distributed(SparkJobs.counted(spark)(
      collectTopK(AnnIndex.serveTopK(spark, idx, queries, 5))))
    val (_, clean) = serve()
    AnnIndex.delete(victims, idx)
    val (rows, scoped) = serve()
    info(s"distributed serve: $clean jobs without tombstones, $scoped with")
    assert(rows == expected)
    // the shuffle anti-join adds two shuffle stages (the tombstone
    // aggregate's and the codes side's); inferring the tombstone schema
    // cost a third job
    assert(scoped - clean == 2, s"$clean jobs without tombstones, $scoped with")

    // a table written before the cutoff column existed: vec_id + batch
    // only, every id erased for good (cutoff = ∞)
    val legacy = tmp()
    val vs = AnnIndex.build(emb, legacy)
    Versioned.publishGroupMembers(Seq(
      Versioned.GroupLink(AnnIndex.CentroidsTable, vs(AnnIndex.CentroidsTable)),
      Versioned.GroupLink(AnnIndex.CodebooksTable, vs(AnnIndex.CodebooksTable)),
      Versioned.GroupLink(AnnIndex.CodesTable, vs(AnnIndex.CodesTable)),
      Versioned.GroupDelta(AnnIndex.TombstonesTable,
        victims.withColumn("batch", lit(0L)), "batch", Nil)), legacy)
    assert(!Versioned.read(spark, legacy, AnnIndex.TombstonesTable)
      .columns.contains("cutoff"))
    onBothPaths {
      assert(collectTopK(AnnIndex.serveTopK(spark, legacy, queries, 5)) == expected)
    }
  }

  test("the forced-compact trigger derives from the session's broadcast " +
    "budget (bounded ⇒ broadcastable) and counts DISTINCT ids — a " +
    "re-deleted id is one anti-join key, not one row per generation") {
    // trigger arithmetic against the live session conf
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    assert(threshold > 0, "suite assumes auto-broadcast enabled")
    assert(AnnIndex.compactTrigger(spark) ==
      math.max(threshold / AnnIndex.BytesPerTombstoneId, 1L))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(AnnIndex.compactTrigger(spark) == Long.MaxValue,
        "broadcast disabled → only the absolute backstop bounds the set")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        (320L * AnnIndex.BytesPerTombstoneId).toString)
      assert(AnnIndex.compactTrigger(spark) == 320L)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    val idx = tmp()
    AnnIndex.build(emb.filter(col("vec_id") < 100), idx)
    // 5 ids deleted TWICE → 10 tombstone ROWS, 5 distinct ids: the r13
    // row-counting bound would trip compactAbove = 7 here; the id
    // count (what the anti-join actually broadcasts) must not
    AnnIndex.delete(spark.range(5).select(col("id").as("vec_id")), idx,
      compactAbove = 7L)
    AnnIndex.delete(spark.range(5).select(col("id").as("vec_id")), idx,
      compactAbove = 7L)
    assert(Versioned.latestGroupVersions(idx)
      .contains(AnnIndex.TombstonesTable),
      "5 distinct ids across two delete generations must not trip a bound of 7")
    // below the derived trigger, the serve anti-join IS broadcast-shaped
    // — the invariant the derivation exists to provide. These codes fit
    // the budget, so the unfiltered serve ranks on the driver; the
    // filtered serve always scans, and an all-pass filter serves the
    // same rows
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scanned = AnnIndex.serveTopKFiltered(spark, idx, queries,
      emb.select(col("vec_id")), 5)
    assert(collectTopK(scanned) ==
      collectTopK(AnnIndex.serveTopK(spark, idx, queries, 5)))
    val plan = scanned.queryExecution.executedPlan.toString
    assert("""BroadcastHashJoin[^\n]*LeftAnti""".r.findFirstIn(plan).isDefined,
      s"standing set below the broadcast budget must serve broadcast-anti:\n$plan")
    // and when the session budget shrinks below the standing set, the
    // NEXT delete folds it physically even with a huge absolute cap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        (4L * AnnIndex.BytesPerTombstoneId).toString) // trigger = 4 ids
      AnnIndex.delete(spark.range(5, 7).select(col("id").as("vec_id")), idx,
        compactAbove = Long.MaxValue)
      assert(!Versioned.latestGroupVersions(idx)
        .contains(AnnIndex.TombstonesTable),
        "7 distinct ids ≥ trigger 4 must force the physical fold")
      assert(Versioned.read(spark, idx, AnnIndex.CodesTable)
        .filter(col("vec_id") < 7).isEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("compact at keep>1 retires tombstone versions once no journal in " +
    "the retention window references them (folded members don't " +
    "accumulate victim ids forever)") {
    val idx = tmp()
    AnnIndex.build(emb.filter(col("vec_id") < 100), idx) // journal 0
    AnnIndex.delete(spark.range(3).select(col("id").as("vec_id")), idx) // j1
    AnnIndex.compact(spark, idx) // j2: folds; j1 (in window) still refs v0
    assert(Versioned.latestVersion(idx, AnnIndex.TombstonesTable)
      .contains(0L), "tombstone v0 still referenced by a retained journal")
    // push the delete journal out of the keep=3 window…
    AnnIndex.append(emb.filter(col("vec_id") >= 100 && col("vec_id") < 120)
      .select(col("vec_id"), col("embedding")), idx, batchId = 1L) // j3
    AnnIndex.append(emb.filter(col("vec_id") >= 120 && col("vec_id") < 140)
      .select(col("vec_id"), col("embedding")), idx, batchId = 2L) // j4
    AnnIndex.compact(spark, idx) // j5: window = {j3,j4,j5}, no tomb refs
    assert(Versioned.latestVersion(idx, AnnIndex.TombstonesTable).isEmpty,
      "unreferenced tombstone versions must be retired by the next compact")
    // and the data outcome is untouched: victims stayed folded out
    assert(Versioned.read(spark, idx, AnnIndex.CodesTable)
      .filter(col("vec_id") < 3).isEmpty)
  }

  test("maybeRebuild counts deletion pressure toward the rebuild trigger " +
    "and the rebuild clears the tombstones") {
    val idx = tmp()
    AnnIndex.build(emb, idx)
    val victims = emb.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
    AnnIndex.delete(victims, idx)
    val corpus = emb.join(victims, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("embedding")).localCheckpoint(true)
    // recall is healthy (floor 0), but ~1/3 of the codes are tombstoned —
    // the deletion-pressure leg alone must trigger the retrain
    val decision = AnnIndex.maybeRebuild(corpus, idx, minRecall = 0.0,
        nQueries = 16, maxDeletedFrac = 0.25)
      .select(col("rebuilt")).as[Boolean].head()
    assert(decision)
    val snap = Versioned.latestGroupVersions(idx)
    assert(!snap.contains(AnnIndex.TombstonesTable)) // cleared by build
    val (liveAfter, deadAfter) = AnnIndex.deletionPressure(spark, idx)
    assert(deadAfter == 0L && liveAfter == corpus.count())
    // and with the default threshold the same pressure is ignored
    val idx2 = tmp()
    AnnIndex.build(emb, idx2)
    AnnIndex.delete(victims, idx2)
    val noop = AnnIndex.maybeRebuild(corpus, idx2, minRecall = 0.0,
        nQueries = 16)
      .select(col("rebuilt")).as[Boolean].head()
    assert(!noop)
  }

  test("rank edge cases: k <= 0 and an empty query frame give the empty " +
    "four-column frame; a query whose probed cells hold only its own id " +
    "gets no rows") {
    onBothPaths {
      val idx = tmp()
      AnnIndex.build(emb, idx)
      val queries = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val columns = Seq("query_id", "rn", "neighbor_id", "cos_sim")
      for (k <- Seq(0, -1)) {
        val out = AnnIndex.serveTopK(spark, idx, queries, k)
        assert(out.columns.toSeq == columns && out.isEmpty, s"k = $k")
      }
      val none = AnnIndex.serveTopK(spark, idx, queries.filter(lit(false)), 5)
      assert(none.columns.toSeq == columns && none.isEmpty)
      // a one-vector index: every probed cell holds only the query's own id
      val solo = tmp()
      AnnIndex.build(emb.filter(col("vec_id") === 0), solo)
      val v0 = emb.filter(col("vec_id") === 0)
      assert(AnnIndex.serveTopK(spark, solo,
        v0.select(col("vec_id").as("query_id"), col("embedding").as("qv")), 5)
        .isEmpty)
      // the same vector under another query id does find it
      assert(collectTopK(AnnIndex.serveTopK(spark, solo,
        v0.select(lit(999L).as("query_id"), col("embedding").as("qv")), 5))
        .map(r => (r._2, r._3)) == Seq((1L, 0L)))
    }
  }

  test("a vec_id reused by a later append ranks once per query, at the " +
    "larger of its two scores, on every run and shuffle width") {
    onBothPaths {
      val idx = tmp()
      AnnIndex.build(emb, idx)
      val codes0 = Versioned.readGroup(spark, idx)(AnnIndex.CodesTable)
        .select("vec_id", "cell", "codes").as[(Long, Int, Array[Int])]
        .collect()
      val (_, cell5, codes5) = codes0.find(_._1 == 5L).get
      // id 5 comes back with the vector of an id x in its cell whose codes
      // differ: both rows of id 5 sit in one probed cell, scored apart
      val x = codes0.filter(r => r._2 == cell5 && r._1 != 5L &&
        !r._3.sameElements(codes5)).map(_._1).min
      AnnIndex.append(emb.filter(col("vec_id") === x)
        .select(lit(5L).as("vec_id"), col("embedding")), idx, batchId = 1L)
      def vec(id: Long) = emb.filter(col("vec_id") === id).select("embedding")
        .as[Array[Float]].head()
      // 998 ranks id 5's first row higher, 999 its second
      val probes = Seq(998L -> vec(5L), 999L -> vec(x))
      val queries = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        .unionByName(probes.toDF("query_id", "qv"))
      // the two code rows of id 5, scored by the cosine expression itself
      val (coarse, books) = AnnIndex.loadModel(spark, idx)
      val sub = coarse.head._2.length / books.size
      val recons = Versioned.readGroup(spark, idx)(AnnIndex.CodesTable)
        .filter(col("vec_id") === 5).select("cell", "codes")
        .as[(Int, Array[Int])].collect().map { case (cell, cs) =>
          val out = coarse.toMap.apply(cell).clone()
          for (s <- books.indices; i <- 0 until sub)
            out(s * sub + i) += books(s).toMap.apply(cs(s))(i)
          out
        }
      assert(recons.length == 2)
      val served = collectTopK(AnnIndex.serveTopK(spark, idx, queries, 10))
      assert(served.groupBy(r => (r._1, r._3)).forall(_._2.size == 1),
        "a neighbor ranked twice for one query")
      for ((qid, qv) <- probes) {
        val scores = recons.toSeq.toDF("recon")
          .select(graft.functions.CosineSimilarity.cosineSim(
            typedLit(qv), col("recon")))
          .as[Double].collect()
        assert(scores(0) != scores(1))
        assert(served.filter(r => r._1 == qid && r._3 == 5L).map(_._4) ==
          Seq(scores.max), s"query $qid")
      }
      assert(collectTopK(AnnIndex.serveTopK(spark, idx, queries, 10)) == served)
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        for (n <- Seq("1", "8")) {
          spark.conf.set("spark.sql.shuffle.partitions", n)
          assert(collectTopK(AnnIndex.serveTopK(spark, idx, queries, 10)) ==
            served, s"shuffle.partitions = $n")
        }
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
  }

  test("ivfPqRank == the relational rank (broadcast probe join, " +
    "row_number window) over the same codes, bit for bit") {
    val idx = tmp()
    AnnIndex.build(emb, idx)
    val (coarse, books) = AnnIndex.loadModel(spark, idx)
    val dim = coarse.head._2.length
    val sub = dim / books.size
    val codes = Versioned.readGroup(spark, idx)(AnnIndex.CodesTable)
      .select("vec_id", "cell", "codes")
    val queries = emb.filter(col("vec_id") < 12)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val coarseMap = coarse.toMap
    val lookup = books.map(_.toMap).toArray
    val recon = codes.as[(Long, Int, Array[Int])].map { case (id, cell, cs) =>
      val out = coarseMap(cell).clone()
      for (s <- lookup.indices; i <- 0 until sub)
        out(s * sub + i) += lookup(s)(cs(s))(i)
      (id, cell, out)
    }.toDF("vec_id", "cell", "recon")
    val probes = queries.select(col("query_id"), col("qv"),
      explode(graft.functions.NearestCentroids.nearestCells(
        col("qv"), coarse, 6)).as("cell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    val scored = recon.join(broadcast(probes),
        recon("cell") === probes("cell") &&
          recon("vec_id") =!= probes("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        graft.functions.CosineSimilarity.cosineSim(col("qv"), col("recon"))
          .as("cos_sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
    for (k <- Seq(1, 5, 50)) {
      val expected = collectTopK(scored.filter(col("rn") <= k))
      assert(expected.nonEmpty)
      assert(collectTopK(VectorOps.ivfPqRank(codes, queries, k, coarse, books,
        nProbe = 6, dim = dim)) == expected, s"k = $k")
    }
  }

  test("serve plan: no window and at most one exchange; probe cells of a " +
    "driver-built query frame start no Spark job") {
    val idx = tmp()
    AnnIndex.build(emb, idx)
    val local = emb.filter(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq.toDF("query_id", "qv")
    val plan = distributed(AnnIndex.serveTopK(spark, idx, local, 5))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert("Exchange".r.findAllMatchIn(plan).size <= 1, plan)
    val (coarse, books) = AnnIndex.loadModel(spark, idx)
    val codes = Versioned.readGroup(spark, idx)(AnnIndex.CodesTable)
      .select("vec_id", "cell", "codes")
    val (ranked, jobs) = SparkJobs.counted(spark) {
      VectorOps.ivfPqRank(codes, local, 5, coarse, books, nProbe = 6,
        dim = coarse.head._2.length)
    }
    assert(jobs == 0,
      "computing probe cells for a driver-built query frame ran a job")
    assert(collectTopK(ranked).size == 4 * 5)
  }

  test("build trains from one collected prefix: at most 4 Spark jobs") {
    val idx = tmp()
    val (_, jobs) = SparkJobs.counted(spark)(AnnIndex.build(emb, idx))
    info(s"AnnIndex.build started $jobs jobs")
    assert(jobs <= 4, s"AnnIndex.build started $jobs jobs")
  }

  test("the training prefix is the first vectors in vec_id order: a " +
    "corpus with every id shifted by 10,000 builds the same cells, codes " +
    "and serves") {
    val shift = 10000L
    val shifted = emb.withColumn("vec_id", col("vec_id") + shift)
    val (a, b) = (tmp(), tmp())
    AnnIndex.build(emb, a)
    AnnIndex.build(shifted, b)
    val (coarseA, booksA) = AnnIndex.loadModel(spark, a)
    val (coarseB, booksB) = AnnIndex.loadModel(spark, b)
    def same(x: Seq[(Int, Array[Float])], y: Seq[(Int, Array[Float])]) =
      x.map(_._1) == y.map(_._1) &&
        x.zip(y).forall { case ((_, u), (_, v)) => u.sameElements(v) }
    assert(same(coarseA, coarseB))
    assert(booksA.size == booksB.size &&
      booksA.zip(booksB).forall { case (x, y) => same(x, y) })
    def codes(idx: String, d: Long) =
      Versioned.readGroup(spark, idx)(AnnIndex.CodesTable)
        .select((col("vec_id") - d).as("vec_id"), col("cell"), col("codes"))
        .as[(Long, Int, Array[Int])].collect()
        .map { case (id, cell, cs) => (id, cell, cs.toSeq) }.sortBy(_._1).toSeq
    assert(codes(a, 0L) == codes(b, shift))
    def queries(d: Long) = emb.filter(col("vec_id") < 8)
      .select((col("vec_id") + d).as("query_id"), col("embedding").as("qv"))
    val servedB = collectTopK(AnnIndex.serveTopK(spark, b, queries(shift), 5))
      .map { case (q, rn, n, sim) => (q - shift, rn, n - shift, sim) }
    assert(collectTopK(AnnIndex.serveTopK(spark, a, queries(0L), 5)) == servedB)
  }

  test("a warm serve starts no Spark job: an append's serve reads only the " +
    "added partition in at most one job, build / compact / delete reload " +
    "the cached codes, and the cache holds one entry per directory") {
    val idx = tmp()
    AnnIndex.build(emb.filter(col("vec_id") < 200), idx)
    AnnIndex.invalidateModelCache()
    val local = emb.filter(col("vec_id") < 6)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq.toDF("query_id", "qv")
    def serve() = SparkJobs.counted(spark)(
      collectTopK(AnnIndex.serveTopK(spark, idx, local, 5)))
    def scanned() = distributed(serve()._1)
    def warm(expected: Seq[(Long, Long, Long, Double)], what: String) = {
      val (rows, jobs) = serve()
      assert(jobs == 0, s"a warm serve $what started $jobs jobs")
      assert(rows == expected, what)
    }
    def loaded[A](body: => A): (A, Long) = {
      val r0 = Trace.counter(AnnIndex.CodesRowsLoaded)
      val a = body
      (a, Trace.counter(AnnIndex.CodesRowsLoaded) - r0)
    }
    val (cold, coldRows) = loaded(serve()._1)
    assert(coldRows == 200L)
    assert(cold == collectTopK(
      VectorOps.ivfPqTopK(emb.filter(col("vec_id") < 200), col("vec_id") < 6, 5)))
    warm(cold, "after the build")
    for (b <- 1 to 3) {
      val batch = emb.filter(col("vec_id") >= 100 + 100 * b &&
        col("vec_id") < 200 + 100 * b)
      val (_, appendRows) = loaded(AnnIndex.append(batch, idx, batchId = b))
      assert(appendRows == 0L, "append read codes into the cache")
      val ((rows, jobs), extendRows) = loaded(serve())
      assert(jobs <= 1, s"the serve after append $b started $jobs jobs")
      assert(extendRows == 100L, s"append $b: the serve reloaded the codes")
      assert(rows == scanned(), s"append $b")
      warm(rows, s"after append $b")
      assert(AnnIndex.cachedDirs == 1)
    }
    val beforeCompact = serve()._1
    AnnIndex.compact(spark, idx)
    val (afterCompact, compactRows) = loaded(serve()._1)
    assert(compactRows == 500L)
    assert(afterCompact == beforeCompact)
    warm(afterCompact, "after the compact")
    // a delete adds tombstones: the live rows reload with them anti-joined
    // out, in four jobs (the tombstone table's schema inference, the
    // shuffle and the broadcast of its per-id cutoffs, the codes read)
    val victimPred = col("vec_id") % 7 === 3
    val complement = emb.filter(!victimPred).select(col("vec_id"))
    val filtered = collectTopK(
      AnnIndex.serveTopKFiltered(spark, idx, local, complement, 5))
    AnnIndex.delete(emb.filter(victimPred).select(col("vec_id")), idx)
    val ((afterDelete, deleteJobs), deleteRows) = loaded(serve())
    assert(deleteRows == 500L - (0 until 500).count(_ % 7 == 3))
    assert(deleteJobs <= 4, s"the serve after the delete started $deleteJobs jobs")
    assert(afterDelete == filtered && afterDelete != afterCompact)
    warm(afterDelete, "after the delete")
    val l0 = AnnIndex.modelLoads
    AnnIndex.build(emb, idx)
    val rebuilt = serve()._1
    assert(AnnIndex.modelLoads == l0 + 1)
    assert(rebuilt == collectTopK(VectorOps.ivfPqTopK(emb, col("vec_id") < 6, 5)))
    warm(rebuilt, "after the rebuild")
    assert(AnnIndex.cachedDirs == 1)
  }

  test("pqK above 256 packs the cached codes as ints: the driver path " +
    "equals the distributed path and one-shot ivfPqTopK bit for bit") {
    val idx = tmp()
    AnnIndex.build(emb, idx, AnnIndex.Params(pqK = 300))
    AnnIndex.invalidateModelCache()
    assert(AnnIndex.loadModel(spark, idx)._2.exists(_.exists(_._1 > 255)),
      "no code id above 255: the int packing is not exercised")
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val r0 = Trace.counter(AnnIndex.CodesRowsLoaded)
    val onDriver = collectTopK(AnnIndex.serveTopK(spark, idx, queries, 5))
    assert(Trace.counter(AnnIndex.CodesRowsLoaded) - r0 == 500L, "the serve did not rank on the driver")
    assert(onDriver.nonEmpty)
    assert(onDriver == distributed(
      collectTopK(AnnIndex.serveTopK(spark, idx, queries, 5))))
    assert(onDriver == collectTopK(
      VectorOps.ivfPqTopK(emb, col("vec_id") < 8, 5, pqK = 300)))
  }

  test("the snapshot cache holds codes within the broadcast budget across " +
    "directories: serving a second index drops the first one's codes, " +
    "not its model") {
    val (a, b) = (tmp(), tmp())
    AnnIndex.build(emb.filter(col("vec_id") < 200), a)
    AnnIndex.build(emb.filter(col("vec_id") < 200), b)
    AnnIndex.invalidateModelCache()
    val local = emb.filter(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq.toDF("query_id", "qv")
    def serve(idx: String) = collectTopK(AnnIndex.serveTopK(spark, idx, local, 5))
    val first = serve(a)
    val bytes = AnnIndex.cachedCodesBytes
    assert(bytes > 0L)
    withConf("spark.sql.autoBroadcastJoinThreshold", (bytes * 3 / 2).toString) {
      serve(b)
      assert(AnnIndex.cachedCodesBytes == bytes, "both indexes' codes are held")
      assert(AnnIndex.cachedDirs == 2)
      val (l0, r0) = (AnnIndex.modelLoads, Trace.counter(AnnIndex.CodesRowsLoaded))
      assert(serve(a) == first)
      assert(Trace.counter(AnnIndex.CodesRowsLoaded) - r0 == 200L, "a's codes were kept")
      assert(AnnIndex.modelLoads == l0, "a's model was dropped")
      assert(AnnIndex.cachedCodesBytes == bytes)
    }
  }
}
