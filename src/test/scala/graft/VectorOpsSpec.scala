package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.catalog.Catalog
import graft.ops.VectorOps
import graft.functions.CosineSimilarity.cosineSim

class VectorOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = Catalog.load(spark, dir, "embeddings")

  test("codegen CosineSimilarity == HOF double-fold formulation (bit-exact)") {
    val hof = aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x) /
      (sqrt(aggregate(transform(col("a"), x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, x) => acc + x)) *
        sqrt(aggregate(transform(col("b"), x => x.cast("double") * x.cast("double")),
          lit(0.0), (acc, x) => acc + x)))
    val pairs = emb.select(col("embedding").as("a"), col("vec_id"))
      .crossJoin(emb.select(col("embedding").as("b"), col("vec_id").as("v2")))
      .filter(col("vec_id") < 3 && col("v2") < 20)
    val diffs = pairs.select((cosineSim(col("a"), col("b")) - hof).as("d"))
      .agg(max(abs(col("d")))).as[Double].collect()(0)
    assert(diffs == 0.0)
  }

  test("cosine_sim: self-similarity 1.0, null-safe, zero-norm → 0.0") {
    val d = Seq(
      (1L, Array(1f, 2f, 3f), Array(1f, 2f, 3f)),
      (2L, Array(0f, 0f, 0f), Array(1f, 2f, 3f)))
      .toDF("id", "a", "b")
    val r = d.select(col("id"), cosineSim(col("a"), col("b")).as("s"))
      .as[(Long, Double)].collect().toMap
    assert(math.abs(r(1L) - 1.0) < 1e-12)
    assert(r(2L) == 0.0)
    val withNull = d.withColumn("a", when(col("id") === 1, col("a")))
      .filter(col("id") === 2 || col("id") === 1)
      .select(cosineSim(when(lit(false), col("a")), col("b")).as("s"))
    assert(withNull.collect().forall(_.isNullAt(0)))
  }

  test("ANN multiprobe recall@5 vs brute force ≥ 0.7") {
    val exact = VectorOps.cosineTopK(emb, col("vec_id") < 8, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ann = VectorOps.annTopK(emb, col("vec_id") < 8, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ann).size.toDouble / exact.size
    info(s"ANN recall@5 = $recall (${(exact & ann).size}/${exact.size})")
    assert(recall >= 0.7)
  }

  test("IVF top-k recall vs brute force (6/16 cells probed)") {
    val exact = VectorOps.cosineTopK(emb, col("vec_id") < 8, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = VectorOps.ivfTopK(emb, col("vec_id") < 8, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    info(s"IVF recall@5 = $recall")
    assert(recall >= 0.5)
  }

  test("IVF model reuse: train once, serve many query batches identically") {
    val model = VectorOps.kmeansCentroids(emb, k = 16, iters = 2)
    val inline = VectorOps.ivfTopK(emb, col("vec_id") < 8, 5)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val reused = VectorOps.ivfTopKWith(emb, col("vec_id") < 8, 5, model)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(inline.sameElements(reused))
    // a second batch against the SAME model — no retraining job
    val batch2 = VectorOps.ivfTopKWith(emb,
      col("vec_id") >= 8 && col("vec_id") < 12, 5, model)
    assert(batch2.select(countDistinct(col("query_id"))).as[Long].collect()(0) == 4L)
  }

  test("hardNegatives: never the query's own label, top-k of exactly the " +
    "other-label candidates") {
    val labels = emb.select(col("vec_id"), col("label"))
      .as[(Long, Int)].collect().toMap
    val hn = VectorOps.hardNegatives(emb, col("vec_id") < 8, 5)
      .as[(Long, Long, Long, Int, Double)].collect()
    assert(hn.length == 8 * 5)
    assert(hn.forall { case (q, _, n, negLabel, _) =>
      labels(n) == negLabel && negLabel != labels(q) })
    // per query: ranks 1..5, similarity non-increasing in rank
    hn.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to 5L))
      assert(sorted.sliding(2).forall(w => w(0)._5 >= w(1)._5))
    }
  }

  test("fused nearest-cells == crossJoin+window rank form, no join node " +
    "in the assignment plan") {
    import org.apache.spark.sql.expressions.Window
    val model = VectorOps.kmeansCentroids(emb, k = 16, iters = 1)
    // relational specification form: crossJoin every vector with all k
    // centroids, rank by (sim desc, cell asc), keep rank ≤ n
    def relational(n: Int) = {
      val cdf = broadcast(model.toDF("cell", "cv"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("__sim").desc, col("cell"))
      emb.select(col("vec_id"), col("embedding"))
        .crossJoin(cdf)
        .withColumn("__sim", cosineSim(col("embedding"), col("cv")))
        .withColumn("__r", row_number().over(w))
        .filter(col("__r") <= n)
        .select(col("vec_id"), col("__r"), col("cell"))
    }
    val fused = emb.select(col("vec_id"),
        posexplode(graft.functions.NearestCentroids.nearestCells(
          col("embedding"), model, 6)).as(Seq("pos", "cell")))
      .select(col("vec_id"), (col("pos") + 1).as("__r"), col("cell"))
    val a = relational(6).as[(Long, Int, Int)].collect().sortBy(r => (r._1, r._2))
    val b = fused.as[(Long, Int, Int)].collect().sortBy(r => (r._1, r._2))
    assert(a.sameElements(b))
    // the fused assignment plan contains NO join node at all — the
    // centroids ride as a reference object, not a relation
    val assignPlan = emb.select(element_at(
        graft.functions.NearestCentroids.nearestCells(col("embedding"), model, 1), 1))
      .queryExecution.executedPlan.toString
    assert(!assignPlan.contains("CartesianProduct") &&
      !assignPlan.contains("Join"), assignPlan)
  }

  test("UDAF centroids == relational centroids exactly") {
    val a = VectorOps.labelCentroids(emb).orderBy("label", "i")
      .as[(Int, Long, Double)].collect()
    val b = VectorOps.labelCentroidsUdaf(emb).orderBy("label", "i")
      .as[(Int, Long, Double)].collect()
    assert(a.sameElements(b))
  }

  test("joint pqTrain == per-subspace training, element-wise (the round-9 " +
    "one-job-per-round rewrite must not move a single centroid bit)") {
    // the reference: per subspace, the Spark loop of one job per round
    val joint = VectorOps.pqTrain(emb)
    val perSub = SparkLloyd.pqTrain(emb)
    assert(joint.size == perSub.size)
    assert(joint.zip(perSub).forall { case (a, b) => sameModel(a, b) })
  }

  private def sameModel(a: Seq[(Int, Array[Float])],
      b: Seq[(Int, Array[Float])]): Boolean =
    a.map(_._1) == b.map(_._1) &&
      a.zip(b).forall { case ((_, x), (_, y)) => x.sameElements(y) }

  test("driver-side kmeansCentroids == the job-per-round Spark loop, " +
    "element-wise, at k = 1 and 16 and iters 0, 1, 2, an emptied cell " +
    "included") {
    // vector 1 copies vector 0: initial cells 0 and 1 coincide, every tie
    // goes to the lower cell, so cell 1 empties in the first round
    val v0 = emb.filter(col("vec_id") === 0).select("embedding")
      .as[Array[Float]].head()
    val twin = emb.withColumn("embedding",
      when(col("vec_id") === 1, typedLit(v0)).otherwise(col("embedding")))
    for (corpus <- Seq(emb, twin); k <- Seq(1, 16); iters <- 0 to 2) {
      val driver = VectorOps.kmeansCentroids(corpus, k, iters)
      assert(sameModel(driver, SparkLloyd.kmeansCentroids(corpus, k, iters)),
        s"k = $k, iters = $iters")
    }
    val emptied = VectorOps.kmeansCentroids(twin, 16, 1).map(_._1)
    assert(emptied.size == 15 && !emptied.contains(1), emptied)
  }

  test("kmeansCentroids and pqTrain each start exactly one Spark job, " +
    "whatever iters is") {
    for (iters <- Seq(0, 2, 5)) {
      val (_, kmJobs) = SparkJobs.counted(spark)(
        VectorOps.kmeansCentroids(emb, 16, iters))
      val (_, pqJobs) = SparkJobs.counted(spark)(
        VectorOps.pqTrain(emb, iters = iters))
      assert((kmJobs, pqJobs) == ((1, 1)), s"iters = $iters")
    }
  }

  test("PQ: deterministic codebooks, codes in range, reconstruction " +
    "beats the global-centroid baseline") {
    import graft.ops.VectorOps
    val books = VectorOps.pqTrain(emb)
    assert(books.size == 8 && books.forall(_.nonEmpty))
    // deterministic retrain (fixed prefix init, exact integer means)
    val again = VectorOps.pqTrain(emb)
    assert(books.zip(again).forall { case (a, b) =>
      a.map(_._1) == b.map(_._1) &&
        a.zip(b).forall { case ((_, x), (_, y)) => x.sameElements(y) }
    })
    val audit = VectorOps.pqAudit(emb, books)
      .select(col("codes"), col("cos_recon"))
      .as[(Array[Int], Double)].collect()
    assert(audit.nonEmpty)
    val validIds = books.map(_.map(_._1).toSet)
    assert(audit.forall { case (codes, _) =>
      codes.length == 8 && codes.zipWithIndex.forall {
        case (c, s) => validIds(s)(c) }
    })
    val meanCos = audit.map(_._2).sum / audit.length
    // baseline: quantize everything to the single global centroid
    val global = VectorOps.kmeansCentroids(emb, 1, 0)
    val base = VectorOps.pqAudit(emb, (0 until 8).map(s =>
        global.map { case (id, v) => (id, v.slice(s * 8, s * 8 + 8)) }))
      .select(col("cos_recon")).as[Double].collect()
    val meanBase = base.sum / base.length
    assert(meanCos > meanBase + 0.05,
      s"PQ mean cos $meanCos vs global-centroid baseline $meanBase")
  }

  test("IVF-PQ: recall vs brute force with 6/16 cells probed and " +
    "residual codes; beats nothing-probed baseline by construction") {
    import graft.ops.VectorOps
    val k = 10
    val exact = VectorOps.cosineTopK(emb, col("vec_id") < 8, k)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val ivfpq = VectorOps.ivfPqTopK(emb, col("vec_id") < 8, k)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.keys.toSeq.map(q =>
      (exact(q) & ivfpq.getOrElse(q, Set.empty)).size.toDouble
        / exact(q).size)
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall >= 0.3, s"IVF-PQ mean recall@10 $meanRecall")
  }

  test("MMR: first pick is the exact top-1; lambda=1 degenerates to " +
    "plain top-k; selected set is no less diverse than plain top-k") {
    import graft.ops.VectorOps
    val top5 = VectorOps.cosineTopK(emb, col("vec_id") === 0, 5)
      .select(col("neighbor_id")).as[Long].collect().toSeq
    val mmr = VectorOps.mmrTopK(emb, col("vec_id") === 0, 5)
      .select(col("rn"), col("vec_id")).as[(Long, Long)].collect()
      .sortBy(_._1).map(_._2).toSeq
    assert(mmr.length == 5 && mmr.distinct.length == 5)
    assert(mmr.head == top5.head, "MMR first pick must be the top-1")
    val lam1 = VectorOps.mmrTopK(emb, col("vec_id") === 0, 5, lambda = 1.0)
      .select(col("rn"), col("vec_id")).as[(Long, Long)].collect()
      .sortBy(_._1).map(_._2).toSeq
    assert(lam1 == top5, "lambda=1 must reproduce plain top-k order")
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      if (na * nb == 0) 0.0 else dot / (na * nb)
    }
    def meanPairSim(ids: Seq[Long]): Double = {
      val ps = for (i <- ids.indices; j <- i + 1 until ids.length)
        yield cos(vecs(ids(i)), vecs(ids(j)))
      ps.sum / ps.length
    }
    assert(meanPairSim(mmr) <= meanPairSim(top5) + 1e-12,
      s"MMR ${meanPairSim(mmr)} vs top-k ${meanPairSim(top5)}")
  }

  test("nearestCells fails loudly on dimension mismatch " +
    "(no silent truncation)") {
    // embeddings are 64-dim; a 3-dim centroid must throw
    def msgs(t: Throwable): Seq[String] = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).take(10).map(m => String.valueOf(m.getMessage)).toSeq
    val badModel = Seq((0, Array(1f, 0f, 0f)))
    val e = intercept[Throwable] {
      emb.select(graft.functions.NearestCentroids.nearestCells(
        col("embedding"), badModel, 1)).collect()
    }
    assert(msgs(e).exists(_.contains("nearest_cells")), msgs(e).mkString(" | "))
  }
}
