package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Encoder, Encoders}
import graft.functions.CosineSimilarity.cosineSim
import graft.ops.Pin._

/** Similarity-search operators over `array<float>` embedding columns
  * (north-star extensions): exact brute-force cosine top-k (the oracle
  * baseline), random-hyperplane LSH with multiprobe (the scale path),
  * IVF and IVF-PQ search, per-label centroids via a typed Aggregator
  * UDAF.
  *
  * Quantizer training (the IVF coarse cells and the PQ codebooks) reads
  * a bounded prefix of the corpus, collected to the driver in one job,
  * and runs every Lloyd round there ([[kmeansCentroids]]); encoding
  * and search are Spark plans over the trained model.
  *
  * Determinism: the oracle-checked path scales floats to exact integers
  * (floor(x·10⁶)) so dot products and norms are exact BIGINT sums —
  * order-independent and engine-independent; only the final
  * divide-by-sqrt runs in (deterministic, single-operation) IEEE double.
  *
  * Scale notes: exact top-k for a query batch broadcasts the queries;
  * the `row_number` window over the scored pairs is planned by Spark as
  * a partial `WindowGroupLimit` per partition before the window's hash
  * exchange, so at most k rows per query leave each partition
  * (PlanSpec pins this for [[cosineTopK]] and [[hardNegatives]]).
  * [[ivfPqRank]] keeps its bounded top-k inside one `mapPartitions`
  * and needs no window at all. LSH reduces candidates to same-bucket
  * vectors (multiprobe widens recall); at 100 TB you shard buckets over
  * executors and the per-bucket rerank stays local.
  */
object VectorOps {

  /** floor(x·10⁶) as exact long — the determinism contract above. */
  def scaled(v: Column): Column =
    transform(v, x => floor(x.cast("double") * 1000000).cast("long"))

  /** Brute-force exact cosine top-k neighbors for a set of query vectors.
    * Queries are broadcast; similarity is the fused codegen
    * [[graft.functions.ScaledIntCosine]] (bit-identical to the oracle's
    * scaled-integer arithmetic, no intermediate arrays); ranking is a
    * window over each query's candidates with deterministic tie-break. */
  def cosineTopK(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"))
    val queries = base.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    base.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        graft.functions.ScaledIntCosine.scaledCosine(col("qv"), col("embedding"))
          .as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn").cast("long").as("rn"),
        col("neighbor_id"), col("cos_sim"))
  }

  /** Contrastive hard-negative mining: for each query vector, the top-k
    * most cosine-similar vectors with a DIFFERENT label — the negatives
    * that actually teach an embedding model (random negatives are too
    * easy; these sit right at the decision boundary). Same plan shape
    * and scaled-int determinism contract as [[cosineTopK]]: queries
    * broadcast, fused codegen similarity, Spark's partial
    * `WindowGroupLimit` per partition before the window's exchange. */
  def hardNegatives(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"), col("label"))
    val queries = base.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    base.join(broadcast(queries), col("label") =!= col("qlabel"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        col("label").as("neg_label"),
        graft.functions.ScaledIntCosine.scaledCosine(col("qv"), col("embedding"))
          .as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn").cast("long").as("rn"),
        col("neighbor_id"), col("neg_label"), col("cos_sim"))
  }

  /** Deterministic pseudo-random hyperplanes (fixed seed). */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** LSH bucket id: sign bits of the vector against `planes`, via the
    * fused codegen expression (one compiled loop over all planes). */
  def lshBucket(v: Column, planes: Seq[Array[Double]]): Column =
    graft.functions.LshBucketExpr.lshBucket(v, planes)

  /** Approximate cosine top-k: multi-table random-hyperplane LSH with
    * hamming-1 multiprobe, exact rerank inside probed buckets via the
    * codegen'd CosineSimilarity expression.
    *
    * Candidate set = union over `nTables` independent hash tables of the
    * query's bucket and the `nPlanes` buckets one bit away. Recall is
    * data-dependent (near-orthogonal corpora need more tables/probes) and
    * tunable via (nTables, nPlanes); with the defaults the sf0.001 spec
    * measures ≥0.9 recall@5. Cost per query ≈ nTables·(nPlanes+1) bucket
    * lookups instead of a full scan — at scale, buckets shard across
    * executors and the rerank stays bucket-local.
    */
  def annTopK(emb: DataFrame, queryPred: Column, k: Int,
      nTables: Int = 6, nPlanes: Int = 5, dim: Int = 64): DataFrame = {
    def perTable(vCol: String, out: String) = (0 until nTables).map { t =>
      val planes = hyperplanes(nPlanes, dim, seed = 42L + t)
      struct(lit(t).as("tbl"), lshBucket(col(vCol), planes).as(out))
    }
    // Corpus side: streamed straight into the join — never cached. The
    // query side re-derives its buckets from the (tiny, broadcast-bound)
    // filtered rows instead of reusing the corpus plan, so nothing needs
    // to be materialized in executor storage memory.
    val base = emb.select(col("vec_id"), col("embedding"),
        explode(array(perTable("embedding", "bucket"): _*)).as("tb"))
      .select(col("vec_id"), col("embedding"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val flips = lit(0) +: (0 until nPlanes).map(j => lit(1 << j))
    val queries = emb.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        explode(array(perTable("embedding", "qbucket"): _*)).as("tb"))
      .select(col("query_id"), col("qv"), col("tb.tbl").as("tbl"),
        explode(array(flips: _*)).as("flip"), col("tb.qbucket").as("qbucket"))
      .select(col("query_id"), col("qv"), col("tbl"),
        col("qbucket").bitwiseXOR(col("flip")).as("probe"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    base.join(broadcast(queries),
        base("tbl") === queries("tbl") && base("bucket") === queries("probe") &&
          base("vec_id") =!= queries("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("qv"), col("embedding"))
      .dropDuplicates("query_id", "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosineSim(col("qv"), col("embedding")).as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn").cast("long").as("rn"),
        col("neighbor_id"), col("cos_sim"))
  }

  /** The default Lloyd rounds and training-prefix size of every trainer. */
  private val TrainIters = 2
  private val TrainCap = 4096

  /** Deterministic k-means (Lloyd's) coarse-quantizer training over a
    * bounded prefix of the corpus: the first `trainCap` vectors in
    * vec_id order, collected to the driver in one job, then `iters`
    * rounds of [[lloyd]] on the driver, starting from the first k of
    * them. Standard IVF practice: the coarse quantizer needs a
    * representative sample, never the full corpus. The driver holds the
    * prefix, about `trainCap × dim × 4` bytes (1 MB at the defaults and
    * 64 dimensions); training far more cells needs far more points and
    * a distributed trainer. */
  def kmeansCentroids(emb: DataFrame, k: Int, iters: Int = TrainIters,
      trainCap: Int = TrainCap): Seq[(Int, Array[Float])] =
    lloyd(trainingPrefix(emb, trainCap), k, iters)

  /** The first `trainCap` vectors of `emb` in vec_id order (rows with a
    * null id or vector skipped), by one top-k collect: a single Spark
    * job when `emb`'s plan has no exchange. */
  private def trainingPrefix(emb: DataFrame,
      trainCap: Int): Array[Array[Float]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      .orderBy("vec_id").limit(trainCap)
      .select("embedding").as[Array[Float]].collect()
  }

  /** Lloyd's k-means on the driver, with the arithmetic of the Spark
    * form it replaced (VectorOpsSpec asserts element-wise equality):
    * init from the first k vectors as cells 0..k−1; each round assigns
    * every vector to its nearest cell ([[nearestCells]], the search
    * [[graft.functions.NearestCentroids]] runs in a plan) and replaces
    * each centroid by its members' exact mean — floor(x·10⁶) longs
    * summed exactly, then `sum / n / 10⁶` in double, then float. A cell
    * left without members is dropped and its id is not reused. An empty
    * training set gives the empty model. */
  private def lloyd(train: Array[Array[Float]], k: Int,
      iters: Int): Seq[(Int, Array[Float])] = {
    var model: Seq[(Int, Array[Float])] =
      train.take(k).toSeq.zipWithIndex.map(_.swap)
    for (_ <- 0 until iters if model.nonEmpty) {
      val (ids, centroids) = (model.map(_._1).toArray, model.map(_._2).toArray)
      model = train.groupBy(v => nearestCells(v, ids, centroids, 1)(0))
        .toSeq.sortBy(_._1).map { case (cell, members) =>
          (cell, Array.tabulate(members.head.length) { i =>
            var sum = 0L
            members.foreach(v => sum += math.floor(v(i).toDouble * 1000000).toLong)
            (sum.toDouble / members.length / 1000000.0).toFloat
          })
        }
    }
    model
  }

  /** `v`'s `n` nearest cells on the driver, by the same search
    * [[graft.functions.NearestCentroids]] runs in a plan. */
  private def nearestCells(v: Array[Float], cellIds: Array[Int],
      centroids: Array[Array[Float]], n: Int): Array[Int] =
    graft.functions.NearestCentroids.topCells(
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(v), cellIds, centroids, n).toIntArray()

  /** IVF (inverted-file) approximate top-k: the second ANN scale path
    * next to LSH. Coarse quantizer = k-means-trained centroids
    * ([[kmeansCentroids]]; pass `trainIters = 0` for the raw first-k
    * init). Every vector is assigned to its nearest cell (one pass,
    * broadcast centroids); queries probe their `nProbe` nearest cells and
    * rerank exactly inside them. At scale the cell assignment is a
    * partitioning key: each executor owns whole cells and the rerank
    * never leaves the node. */
  def ivfTopK(emb: DataFrame, queryPred: Column, k: Int,
      nCells: Int = 16, nProbe: Int = 6,
      trainIters: Int = TrainIters): DataFrame =
    ivfTopKWith(emb, queryPred, k, kmeansCentroids(emb, nCells, trainIters),
      nProbe)

  /** IVF search against an ALREADY-TRAINED coarse quantizer — the
    * production shape: at scale you train the centroids once
    * ([[kmeansCentroids]], a bounded-prefix job), persist the model-sized
    * Seq, and serve every subsequent query batch from it without paying
    * the training loop again (IvfModelSpec asserts search-with-reused-
    * model ≡ train-inside-the-call). */
  def ivfTopKWith(emb: DataFrame, queryPred: Column, k: Int,
      model: Seq[(Int, Array[Float])], nProbe: Int = 6): DataFrame = {
    // an empty corpus trains an empty quantizer: the search result is
    // the empty top-k frame, not a crash (zero-row inputs are routine —
    // a pruned partition, a quiet ingest day)
    if (model.isEmpty) return emptyTopKFrame(emb.sparkSession)
    // fused cell search ([[graft.functions.NearestCentroids]]): the
    // corpus-side assignment is ONE compiled pass per vector over the
    // reference-object centroid array — the previous
    // crossJoin-all-centroids + rank-1 window inflated every corpus row
    // k× before filtering, the dominant cost at realistic cell counts
    def cells(vCol: Column, n: Int): Column =
      graft.functions.NearestCentroids.nearestCells(vCol, model, n)
    val assigned = emb.select(col("vec_id"), col("embedding"),
      element_at(cells(col("embedding"), 1), 1).as("cell"))
    val queryProbes = emb.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        explode(cells(col("embedding"), nProbe)).as("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    assigned.join(broadcast(queryProbes),
        assigned("cell") === queryProbes("cell") &&
          assigned("vec_id") =!= queryProbes("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineSim(col("qv"), col("embedding")).as("cos_sim"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn").cast("long").as("rn"),
        col("neighbor_id"), col("cos_sim"))
  }

  /** MMR (maximal marginal relevance) diverse top-k: greedily pick the
    * candidate maximizing λ·sim(query, d) − (1−λ)·max_{s∈selected}
    * sim(d, s) — the standard diversity rerank between retrieval and a
    * RAG prompt, which plain top-k (near-duplicate neighbors) can't
    * give. Two stages with the standard serving contract: the CLUSTER
    * ranks a bounded candidate list (exact [[cosineTopK]] — broadcast
    * query, partial per-partition top-k), then the greedy loop reranks
    * those `candidates` rows driver-side — k·candidates model-sized
    * work on a list that is bounded by construction at any corpus
    * scale, exactly where every production MMR implementation runs it.
    * Ties break on lower vec_id; the loop is single-threaded over
    * doubles → deterministic. */
  def mmrTopK(emb: DataFrame, queryPred: Column, k: Int,
      lambda: Double = 0.7, candidates: Int = 50): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cand = cosineTopK(emb, queryPred, candidates)
      .select(col("neighbor_id"), col("cos_sim"))
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding")),
        "neighbor_id")
      .as[(Long, Double, Array[Float])].collect()
      .sortBy { case (id, rel, _) => (-rel, id) }
    val selectedVecs = scala.collection.mutable.ArrayBuffer[Array[Float]]()
    val selected = scala.collection.mutable.ArrayBuffer[(Long, Double, Double)]()
    val pool = scala.collection.mutable.ArrayBuffer(cand: _*)
    while (selected.length < k && pool.nonEmpty) {
      var bestIdx = -1; var bestScore = Double.NegativeInfinity
      var bestId = Long.MaxValue
      for (i <- pool.indices) {
        val (id, rel, v) = pool(i)
        val pen =
          if (selectedVecs.isEmpty) 0.0
          else selectedVecs.map(s => cosine(v, s)).max
        val score = lambda * rel - (1 - lambda) * pen
        if (score > bestScore || (score == bestScore && id < bestId)) {
          bestScore = score; bestIdx = i; bestId = id
        }
      }
      val (id, rel, v) = pool.remove(bestIdx)
      selectedVecs += v
      selected += ((id, rel, bestScore))
    }
    selected.zipWithIndex
      .map { case ((id, rel, score), i) => (i + 1L, id, rel, score) }
      .toSeq.toDF("rn", "vec_id", "relevance", "mmr_score")
  }

  /** Mutable buffer for [[CentroidAgg]]: element-wise sums + row count. */
  case class CentroidBuf(sums: Array[Long], n: Long)

  /** Typed Aggregator UDAF: element-wise sum of scaled-long vectors →
    * exact centroid. Demonstrates the Aggregator surface (SURVEY §2.7)
    * with an order-independent (exact integer) merge, so the result is
    * reproducible under any partitioning. */
  class CentroidAgg(dim: Int) extends Aggregator[Array[Long], CentroidBuf, Array[Double]] {
    override def zero: CentroidBuf = CentroidBuf(Array.fill(dim)(0L), 0L)
    override def reduce(b: CentroidBuf, a: Array[Long]): CentroidBuf = {
      var i = 0; while (i < dim && i < a.length) { b.sums(i) += a(i); i += 1 }
      CentroidBuf(b.sums, b.n + 1)
    }
    override def merge(x: CentroidBuf, y: CentroidBuf): CentroidBuf = {
      var i = 0; while (i < dim) { x.sums(i) += y.sums(i); i += 1 }
      CentroidBuf(x.sums, x.n + y.n)
    }
    override def finish(r: CentroidBuf): Array[Double] =
      r.sums.map(s => s.toDouble / r.n / 1000000.0)
    override def bufferEncoder: Encoder[CentroidBuf] = Encoders.product[CentroidBuf]
    override def outputEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }

  /** Per-label centroids via the relational plan (partial+final hash agg
    * on exact ints), exploded to (label, i, c) rows for the oracle. */
  def labelCentroids(emb: DataFrame): DataFrame =
    emb.select(col("label"), posexplode(scaled(col("embedding"))).as(Seq("i", "xi")))
      .groupBy(col("label"), col("i"))
      .agg((sum(col("xi")).cast("double") / count(lit(1)) / 1000000.0).as("c"))
      .select(col("label"), col("i").cast("long").as("i"), col("c"))

  /** Per-label centroids via the [[CentroidAgg]] UDAF — same exact result
    * as [[labelCentroids]] (asserted in spec; shares its oracle). */
  def labelCentroidsUdaf(emb: DataFrame, dim: Int = 64): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(col("label"), scaled(col("embedding")).as("sv"))
      .as[(Int, Array[Long])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new CentroidAgg(dim).toColumn.name("centroid"))
      .toDF("label", "centroid")
      .select(col("label"), posexplode(col("centroid")).as(Seq("i", "c")))
      .select(col("label"), col("i").cast("long").as("i"), col("c"))
  }

  /** Product-quantization codebooks: split the `dim`-dim embedding into
    * `m` contiguous subspaces and train an independent codebook per
    * subspace by [[lloyd]] over the same bounded training prefix as
    * [[kmeansCentroids]] (one collect, then every round on the driver).
    * PQ is how a 100 TB corpus fits serving memory: d floats become m
    * small codes (d=64, m=8, k=16 → 8 nibbles ≈ 64× compression), and
    * IVF-PQ is the standard production ANN layout (coarse cells from
    * [[kmeansCentroids]], residual codes from here). */
  def pqTrain(emb: DataFrame, m: Int = 8, k: Int = 16, dim: Int = 64,
      iters: Int = TrainIters,
      trainCap: Int = TrainCap): Seq[Seq[(Int, Array[Float])]] =
    pqBooks(trainingPrefix(emb, trainCap), m, k, dim, iters)

  /** One [[lloyd]] codebook per subspace slice of `train`. */
  private def pqBooks(train: Array[Array[Float]], m: Int, k: Int, dim: Int,
      iters: Int): Seq[Seq[(Int, Array[Float])]] = {
    require(m > 0 && dim % m == 0, s"dim $dim must split into m=$m subspaces")
    val sub = dim / m
    (0 until m).map(s =>
      lloyd(train.map(_.slice(s * sub, (s + 1) * sub)), k, iters))
  }

  /** The IVF-PQ model of [[ivfPqTopK]] and [[graft.ops.AnnIndex.build]]:
    * the coarse quantizer ([[kmeansCentroids]]) and the codebooks of the
    * prefix's residuals ([[pqTrain]] over [[ivfResiduals]]), both at
    * their default `iters` and `trainCap`, from ONE collect of the
    * training prefix — the residuals are computed on the driver with
    * [[ivfResiduals]]' subtract. An empty corpus gives an empty coarse
    * model. */
  private[ops] def trainIvfPq(emb: DataFrame, nCells: Int, m: Int, pqK: Int,
      dim: Int): (Seq[(Int, Array[Float])], Seq[Seq[(Int, Array[Float])]]) = {
    val prefix = trainingPrefix(emb, TrainCap)
    val coarse = lloyd(prefix, nCells, TrainIters)
    if (coarse.isEmpty) return (Nil, Nil)
    val (ids, centroids) = (coarse.map(_._1).toArray, coarse.map(_._2).toArray)
    val coarseMap = coarse.toMap
    val residuals = prefix.map(v =>
      residual(v, coarseMap(nearestCells(v, ids, centroids, 1)(0))))
    (coarse, pqBooks(residuals, m, pqK, dim, TrainIters))
  }

  /** Encode every vector as its m nearest-subcentroid codes — one fused
    * [[graft.functions.NearestCentroids]] pass per subspace over the
    * broadcast codebooks, all m inside a single projection (no joins,
    * no shuffle, codegen end to end). */
  def pqEncode(emb: DataFrame, books: Seq[Seq[(Int, Array[Float])]],
      dim: Int = 64): DataFrame = {
    // an empty corpus trains empty codebooks — encode nothing, same
    // zero-row contract as ivfTopKWith
    if (books.isEmpty || books.exists(_.isEmpty))
      return emb.select(col("vec_id"),
        array().cast("array<int>").as("codes")).limit(0)
    emb.select(col("vec_id"), pqCodes(books, dim).as("codes"))
  }

  /** Reconstruction audit: decode each vector's codes back to the
    * concatenated subspace centroids and report cosine(original,
    * reconstruction) — the distortion number that decides (m, k) before
    * trusting PQ distances at scale. Codes come from the codegen
    * [[pqEncode]] path (single source of truth for assignment); the
    * decode+cosine is one partition-local typed pass with the
    * model-sized codebooks as a closure reference — nothing shuffles
    * but the 8-byte-keyed code join. */
  def pqAudit(emb: DataFrame, books: Seq[Seq[(Int, Array[Float])]],
      dim: Int = 64): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val m = books.size
    val sub = dim / m
    // code -> centroid lookup per subspace (cell ids are 0..k-1 from
    // kmeansCentroids; map is robust to gaps after empty-cluster drops)
    val lookup: Array[Map[Int, Array[Float]]] =
      books.map(_.toMap).toArray
    emb.select(col("vec_id"), col("embedding"))
      .join(pqEncode(emb, books, dim), "vec_id")
      .as[(Long, Array[Float], Array[Int])]
      .mapPartitions(_.map { case (id, v, codes) =>
        var dot = 0.0; var nx = 0.0; var ny = 0.0
        var s = 0
        while (s < m) {
          val cv = lookup(s)(codes(s))
          var i = 0
          while (i < sub) {
            val xi = v(s * sub + i).toDouble
            val yi = cv(i).toDouble
            dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
          }
          s += 1
        }
        val denom = math.sqrt(nx) * math.sqrt(ny)
        (id, codes, if (denom == 0.0) 0.0 else dot / denom)
      })
      .toDF("vec_id", "codes", "cos_recon")
  }

  /** The empty `(query_id, rn, neighbor_id, cos_sim)` frame — what every
    * ANN search returns over an empty corpus / empty model. A local
    * relation: collecting it starts no job. */
  private def emptyTopKFrame(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("rn",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("neighbor_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cos_sim",
          org.apache.spark.sql.types.DoubleType))))

  /** Residuals v − centroid(nearest cell) against a FROZEN coarse model:
    * `(vec_id, embedding = residual, cell)`. One fused-argmin pass +
    * one partition-local subtract — no shuffle. The encode stage of
    * [[ivfPqEncodeWith]], so the one-shot [[ivfPqTopK]] and the
    * published-index build/append paths ([[graft.ops.AnnIndex]])
    * quantize identically. */
  def ivfResiduals(emb: DataFrame,
      coarse: Seq[(Int, Array[Float])]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val coarseMap = coarse.toMap
    emb.select(col("vec_id"), col("embedding"),
        element_at(graft.functions.NearestCentroids.nearestCells(
          col("embedding"), coarse, 1), 1).as("cell"))
      .as[(Long, Array[Float], Int)]
      .mapPartitions(_.map { case (id, v, cell) =>
        (id, residual(v, coarseMap(cell)), cell)
      }).toDF("vec_id", "embedding", "cell")
  }

  /** v − c, element by element in float. */
  private def residual(v: Array[Float], c: Array[Float]): Array[Float] = {
    val r = new Array[Float](v.length)
    var i = 0
    while (i < v.length) { r(i) = v(i) - c(i); i += 1 }
    r
  }

  /** The m-subspace PQ code array of the `embedding` column as ONE
    * projection: per subspace, the fused-argmin
    * [[graft.functions.NearestCentroids]] search over its codebook.
    * Composable into an existing select, so encode rides the residual
    * pass with NO vec_id join (the join form shuffles the corpus on
    * vec_id just to glue `cell` back onto `codes` that were computed
    * from the same rows). */
  private def pqCodes(books: Seq[Seq[(Int, Array[Float])]],
      dim: Int): Column = {
    val m = books.size
    val sub = dim / m
    array((0 until m).map { s =>
      element_at(graft.functions.NearestCentroids.nearestCells(
        slice(col("embedding"), s * sub + 1, sub), books(s), 1), 1)
    }: _*)
  }

  /** Encode a corpus against a FROZEN IVF-PQ model: assign cells,
    * compute residuals, PQ-encode them → `(vec_id, cell, codes)` — the
    * complete compressed representation the serving tier stores (~m
    * small codes + a cell id per vector instead of d floats). One
    * map-only pass: cell assignment and residual subtract
    * ([[ivfResiduals]]), then all m code lookups in one projection — no
    * join, no shuffle. [[graft.ops.AnnIndex.build]] encodes its whole
    * corpus with it, and it is the O(batch) admission path: appending a
    * new batch to a published index runs exactly this over the batch,
    * never touching the existing corpus ([[graft.ops.AnnIndex.append]]). */
  def ivfPqEncodeWith(emb: DataFrame, coarse: Seq[(Int, Array[Float])],
      books: Seq[Seq[(Int, Array[Float])]], dim: Int = 64): DataFrame = {
    val residuals = ivfResiduals(emb, coarse)
    if (books.isEmpty || books.exists(_.isEmpty))
      return residuals.select(col("vec_id"), lit(0).as("cell"),
        array().cast("array<int>").as("codes")).limit(0)
    residuals.select(col("vec_id"), col("cell"), pqCodes(books, dim).as("codes"))
  }

  /** Rank probed-cell candidates for `queries` `(query_id, qv)` against
    * a compressed corpus `(vec_id, cell, codes)` under a frozen model:
    * recon = centroid(cell) + decode(codes), cosine(qv, recon),
    * deterministic (cos desc, id asc) top-k; a query never matches its
    * own id, and a neighbor id held by two code rows ranks once, at its
    * better score. Queries keep their original (asymmetric) vectors.
    *
    * Plan: the queries and their probe cells are computed on the driver
    * ([[probeQueries]]; no job for a driver-built query frame), then
    * [[rankProbed]]: one `mapPartitions` over the codes scores each row
    * only against the queries probing its cell and keeps a bounded top-k
    * per query, and one single-partition exchange carries those ≤
    * partitions × queries × k rows to the merge that assigns `rn`. No
    * join, no window, no shuffle of the scored candidates. The same two
    * kernels rank [[graft.ops.AnnIndex]]'s cached codes on the driver
    * ([[rankProbedLocal]]), so there is one ranking implementation.
    * Bit-identical between the one-shot and published-index paths
    * because recon depends only on (cell, codes, model) — all of which
    * round-trip parquet exactly — and the cosine is
    * [[graft.functions.CosineSimilarity]]'s arithmetic. */
  def ivfPqRank(codes: DataFrame, queries: DataFrame, k: Int,
      coarse: Seq[(Int, Array[Float])], books: Seq[Seq[(Int, Array[Float])]],
      nProbe: Int = 6, dim: Int = 64): DataFrame =
    rankProbed(codes, probeQueries(queries, coarse, nProbe), k, coarse, books,
      dim)

  /** Queries collected to the driver with each one's `nProbe` nearest
    * cells, by the same fused search [[graft.functions.NearestCentroids]]
    * runs in a plan. Rows with a null id or vector probe nothing. */
  private[ops] final case class ProbedQueries(ids: Array[Long],
      vecs: Array[Array[Float]], cells: Array[Array[Int]]) {
    /** Every cell some query probes, ascending. */
    def cellSet: Array[Int] = cells.flatten.distinct.sorted
  }

  private[ops] def probeQueries(queries: DataFrame,
      coarse: Seq[(Int, Array[Float])], nProbe: Int): ProbedQueries = {
    val spark = queries.sparkSession
    import spark.implicits._
    val rows = queries.select(col("query_id").cast("long"), col("qv"))
      .as[(Option[Long], Array[Float])].collect()
      .collect { case (Some(id), v) if v != null => (id, v) }
    val cellIds = coarse.map(_._1).toArray
    val centroids = coarse.map(_._2).toArray
    ProbedQueries(rows.map(_._1), rows.map(_._2), rows.map { case (_, v) =>
      nearestCells(v, cellIds, centroids, nProbe)
    })
  }

  /** The rank of [[ivfPqRank]] over probed queries, as a Spark plan:
    * [[partitionTopK]] in each codes partition, one single-partition
    * exchange, then [[mergeTopK]]. The offer order never matters (the
    * bounded top-k's order is total), so [[rankProbedLocal]] running the
    * same two kernels over rows on the driver returns the same rows. */
  private[ops] def rankProbed(codes: DataFrame, q: ProbedQueries, k: Int,
      coarse: Seq[(Int, Array[Float])], books: Seq[Seq[(Int, Array[Float])]],
      dim: Int): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    if (k <= 0 || q.ids.isEmpty) return emptyTopKFrame(spark)
    codes.select(col("vec_id"), col("cell"), col("codes"))
      .as[(Long, Int, Array[Int])]
      .mapPartitions(partitionTopK(q, k, coarse, books, dim))
      .repartition(1)
      .mapPartitions(mergeTopK(k))
      .toDF("query_id", "rn", "neighbor_id", "cos_sim")
  }

  /** [[rankProbed]] over `(vec_id, cell, codes)` rows already on the
    * driver: the same two kernels run over them as one partition, and
    * the result is a local relation, so collecting it starts no job. */
  private[ops] def rankProbedLocal(spark: org.apache.spark.sql.SparkSession,
      rows: Iterator[(Long, Int, Array[Int])], q: ProbedQueries, k: Int,
      coarse: Seq[(Int, Array[Float])], books: Seq[Seq[(Int, Array[Float])]],
      dim: Int): DataFrame = {
    import spark.implicits._
    if (k <= 0 || q.ids.isEmpty) return emptyTopKFrame(spark)
    mergeTopK(k)(partitionTopK(q, k, coarse, books, dim)(rows)).toSeq
      .toDF("query_id", "rn", "neighbor_id", "cos_sim")
  }

  /** The per-partition half of the rank: score each row only against the
    * queries probing its cell (recon = centroid(cell) + decode(codes),
    * [[cosine]]) and keep a bounded top-k per query, emitted as
    * (query_id, neighbor_id, cos_sim). */
  private def partitionTopK(q: ProbedQueries, k: Int,
      coarse: Seq[(Int, Array[Float])], books: Seq[Seq[(Int, Array[Float])]],
      dim: Int): Iterator[(Long, Int, Array[Int])] => Iterator[(Long, Long, Double)] = {
    val m = books.size
    val sub = dim / m
    val coarseMap = coarse.toMap
    val lookup: Array[Map[Int, Array[Float]]] = books.map(_.toMap).toArray
    val (ids, vecs) = (q.ids, q.vecs)
    val probing: Map[Int, Array[Int]] = q.cells.zipWithIndex
      .flatMap { case (cs, qi) => cs.map(_ -> qi) }
      .groupMap(_._1)(_._2)
    rows => {
      val tops = Array.fill(ids.length)(new BoundedTopK(k))
      rows.foreach { case (id, cell, cs) =>
        probing.get(cell).foreach { qis =>
          val recon = coarseMap(cell).clone()
          var s = 0
          while (s < m) {
            val cv = lookup(s)(cs(s))
            var i = 0
            while (i < sub) { recon(s * sub + i) += cv(i); i += 1 }
            s += 1
          }
          qis.foreach { qi =>
            if (ids(qi) != id) tops(qi).offer(id, cosine(vecs(qi), recon))
          }
        }
      }
      ids.indices.iterator.flatMap { qi =>
        tops(qi).ranked.map { case (n, sim) => (ids(qi), n, sim) }
      }
    }
  }

  /** The merge half: fold every partition's (query_id, neighbor_id,
    * cos_sim) candidates into one bounded top-k per query and number
    * them, as (query_id, rn, neighbor_id, cos_sim) by query id. */
  private def mergeTopK(k: Int)
      : Iterator[(Long, Long, Double)] => Iterator[(Long, Long, Long, Double)] =
    rows => {
      val tops = scala.collection.mutable.HashMap.empty[Long, BoundedTopK]
      rows.foreach { case (qid, n, sim) =>
        tops.getOrElseUpdate(qid, new BoundedTopK(k)).offer(n, sim)
      }
      tops.toSeq.sortBy(_._1).iterator.flatMap { case (qid, top) =>
        top.ranked.zipWithIndex.map { case ((n, sim), r) =>
          (qid, r + 1L, n, sim)
        }
      }
    }

  /** cosine(x, y) with [[graft.functions.CosineSimilarity]]'s arithmetic:
    * float→double terms accumulated in index order over the shorter
    * length, 0.0 when either norm is zero — so scores are bit-identical
    * to the expression's. */
  private def cosine(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xi = x(i).toDouble
      val yi = y(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** The best `k > 0` of a stream of (id, score) offers, one entry per
    * id at its best score, in the `orderBy(score.desc, id)` order a
    * window would give: scores compare as Spark SQL orders doubles (NaN
    * above everything, 0.0 == -0.0), ties go to the lower id. The order
    * is total, so the result does not depend on offer order — the same
    * entries come out of any partitioning. Offers below a full list's
    * last entry cost one comparison; the rest scan the ≤ k entries. */
  private final class BoundedTopK(k: Int) {
    private var ids = new Array[Long](math.min(k, 16))
    private var sims = new Array[Double](math.min(k, 16))
    private var n = 0

    /** (sa, ia) ranks strictly before (sb, ib); for one id, the better
      * of two SQL-equal scores is the larger by `Double.compare`. */
    private def before(sa: Double, ia: Long, sb: Double, ib: Long): Boolean = {
      val c = if (sa == sb) 0 else java.lang.Double.compare(sa, sb)
      c > 0 || (c == 0 &&
        (ia < ib || (ia == ib && java.lang.Double.compare(sa, sb) > 0)))
    }

    def offer(id: Long, sim: Double): Unit =
      if (n < k || before(sim, id, sims(n - 1), ids(n - 1))) {
        var at = 0
        while (at < n && ids(at) != id) at += 1
        if (at == n || before(sim, id, sims(at), id)) {
          if (at == n && n == k) at = n - 1 // evict the last entry
          else if (at == n) {
            if (n == ids.length) {
              val cap = math.min(k.toLong, 2L * n).toInt
              ids = java.util.Arrays.copyOf(ids, cap)
              sims = java.util.Arrays.copyOf(sims, cap)
            }
            n += 1
          }
          // entries before `at` that rank after the offer shift down
          var j = at
          while (j > 0 && before(sim, id, sims(j - 1), ids(j - 1))) {
            ids(j) = ids(j - 1); sims(j) = sims(j - 1); j -= 1
          }
          ids(j) = id; sims(j) = sim
        }
      }

    /** The kept entries, best first. */
    def ranked: Iterator[(Long, Double)] =
      Iterator.range(0, n).map(j => (ids(j), sims(j)))
  }

  /** IVF-PQ search — the composed production ANN layout: a coarse
    * quantizer partitions the corpus into cells ([[kmeansCentroids]]),
    * PQ codebooks are trained on the RESIDUALS v − centroid(cell)
    * (residuals are smaller than raw vectors, so the same code budget
    * quantizes finer — the standard IVF-PQ detail), and each query
    * probes its `nProbe` nearest cells ranking candidates by
    * cosine(query, centroid + residual-reconstruction). Corpus vectors
    * are represented by cell id + m codes only: at 100 TB the serving
    * tier holds ~1 byte-per-subspace per vector instead of d floats,
    * cells shard across executors, and the rank join touches probed
    * cells only. Queries keep their original (asymmetric) vectors.
    *
    * This one-shot form trains, encodes, and searches in a single call;
    * the production decomposition — publish the trained model + codes
    * once, serve and append O(batch) forever after — is
    * [[graft.ops.AnnIndex]], built from the same [[trainIvfPq]] /
    * [[ivfPqEncodeWith]] / [[ivfPqRank]] stages, so the two paths return
    * bit-identical rankings (AnnIndexSpec). */
  def ivfPqTopK(emb: DataFrame, queryPred: Column, k: Int,
      nCells: Int = 16, nProbe: Int = 6, m: Int = 8, pqK: Int = 16,
      dim: Int = 64): DataFrame = {
    val (coarse, books) = trainIvfPq(emb, nCells, m, pqK, dim)
    if (coarse.isEmpty) return emptyTopKFrame(emb.sparkSession)
    // compressed representation: (vec_id, cell, codes) is ALL the
    // serving tier keeps; recon = centroid(cell) + decode(codes)
    val codes = ivfPqEncodeWith(emb, coarse, books, dim)
    val queries = emb.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    ivfPqRank(codes, queries, k, coarse, books, nProbe, dim)
  }

  /** Greedy k-center (farthest-first / Gonzalez) coreset selection — the
    * diversity-sampling pass that picks k maximally-spread exemplars
    * (2-approx to the optimal cover radius): seed with the smallest
    * vec_id, then k−1 times add the point FARTHEST (in cosine distance
    * 1−cos) from everything chosen so far, ties to the smallest id.
    *
    * Each round is one broadcast map over the corpus (the ≤k chosen
    * vectors ride as literals) + a 1-row argmax aggregate — k driver
    * round-trips of one row each, never the data. min-distance over
    * chosen is recomputed per round (k² per row total), trading a tiny
    * recompute for NO iterative lineage/checkpoint state.
    *
    * @return (rank, vec_id, min_dist) — min_dist is the selection-time
    *   distance to the already-chosen set (the cover radius after rank−1
    *   centers); the seed's is 2.0 (the cosine-distance supremum). */
  def kCenterCoreset(emb: DataFrame, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val base = emb.select(col("vec_id"), col("embedding"))
      .pinLazy // scanned k times below
    val seed = base.orderBy(col("vec_id")).limit(1)
      .as[(Long, Array[Float])].collect()
    if (seed.isEmpty) return Seq.empty[(Int, Long, Double)]
      .toDF("rank", "vec_id", "min_dist")
    var chosen = Vector((seed(0)._1, seed(0)._2, 2.0))
    for (_ <- 1 until k) {
      val minDist = chosen.map { case (_, v, _) =>
        lit(1.0) - cosineSim(typedLit(v), col("embedding"))
      }.reduce(least(_, _))
      val next = base.filter(!col("vec_id").isInCollection(chosen.map(_._1)))
        .select(col("vec_id"), col("embedding"), minDist.as("d"))
        .agg(max(struct(col("d"), (-col("vec_id")).as("nid"),
          col("embedding"))).as("m"))
        .select(col("m.d"), (-col("m.nid")).as("vec_id"),
          col("m.embedding"))
        .as[(Double, Long, Array[Float])].collect()
      if (next.nonEmpty) chosen :+= ((next(0)._2, next(0)._3, next(0)._1))
    }
    chosen.zipWithIndex
      .map { case ((id, _, d), i) => (i + 1, id, d) }
      .toDF("rank", "vec_id", "min_dist")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    * the corpus with the IVF coarse quantizer ([[kmeansCentroids]], one
    * broadcast argmin pass per vector), then inside each cluster drop
    * every vector that has an earlier (smaller vec_id) cluster-mate with
    * cosine ≥ tau. Cluster scoping is the scale contract: the quadratic
    * pair join runs per cell, cells partition the corpus, and nothing
    * crosses cells — exactly the published algorithm's reason for
    * clustering first. Chains collapse to their smallest id (the
    * keep-one-per-group policy, deterministic on any engine).
    *
    * @return (vec_id, cell, is_dup) for every input vector. */
  def semDedup(emb: DataFrame, nCells: Int = 16, tau: Double = 0.97,
      trainIters: Int = 2): DataFrame = {
    val model = kmeansCentroids(emb, nCells, trainIters)
    if (model.isEmpty)
      return emb.select(col("vec_id"), lit(0).as("cell"),
        lit(false).as("is_dup")).filter(lit(false))
    val assigned = emb.select(col("vec_id"), col("embedding"),
        element_at(graft.functions.NearestCentroids.nearestCells(
          col("embedding"), model, 1), 1).as("cell"))
      .pinLazy // both sides of the in-cell pair join
    val dropped = assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.vec_id") < col("b.vec_id") &&
          cosineSim(col("a.embedding"), col("b.embedding")) >= tau)
      .select(col("b.vec_id").as("vec_id")).distinct()
    assigned.join(dropped.withColumn("is_dup", lit(true)),
        Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
  }

  /** Typed Aggregator for the upper-triangle gram matrix Σ xᵢxⱼ (i ≤ j)
    * of a scaled-integer embedding corpus — the d(d+1)/2 exact sums that
    * feed covariance/PCA. ONE pass, map-side partial aggregation of a
    * flat long array, a single d²-sized reduce — at 100 TB the shuffle
    * carries one 2080-long buffer per map task, nothing row-shaped
    * (contrast the relational posexplode self-join, which inflates every
    * row d(d+1)/2×). Overflow contract: per-term |xᵢxⱼ| ≤ scale², so a
    * long holds ≥ 9.2e18/scale² rows — scale 10⁴ gives ~9e10 rows of
    * headroom; drop scale (coarser quantization) to buy more. */
  class GramAgg(dim: Int, scale: Double)
      extends Aggregator[Array[Float], Array[Long], Array[Long]] {
    private val len = dim * (dim + 1) / 2
    override def zero: Array[Long] = new Array[Long](len)
    override def reduce(b: Array[Long], v: Array[Float]): Array[Long] = {
      val s = new Array[Long](dim)
      var i = 0
      while (i < dim) { s(i) = math.floor(v(i) * scale).toLong; i += 1 }
      var k = 0; i = 0
      while (i < dim) {
        var j = i
        while (j < dim) { b(k) += s(i) * s(j); j += 1; k += 1 }
        i += 1
      }
      b
    }
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var k = 0; while (k < len) { x(k) += y(k); k += 1 }; x
    }
    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Embedding gram matrix as (i, j, g) rows (upper triangle, exact
    * scaled-int), via [[GramAgg]]. The index arrays mapping the flat
    * buffer position back to (i, j) ride as literals — no join, no UDF. */
  def gramMatrix(emb: DataFrame, dim: Int = 64,
      scale: Double = 10000.0): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val iIdx = (0 until dim).flatMap(i => (i until dim).map(_ => i))
    val jIdx = (0 until dim).flatMap(i => i until dim)
    emb.select(col("embedding")).as[Array[Float]]
      .select(new GramAgg(dim, scale).toColumn.name("g"))
      .select(posexplode(col("g")).as(Seq("k", "g")))
      .select(
        element_at(typedLit(iIdx), col("k") + 1).cast("long").as("i"),
        element_at(typedLit(jIdx), col("k") + 1).cast("long").as("j"),
        col("g"))
  }

  /** Dominant eigenvector of the embedding gram matrix (the top
    * principal direction, un-centered PCA) by fixed-point power
    * iteration. The cluster's only job is the ONE-pass [[GramAgg]]
    * reduce; the d×d model then iterates driver-side — the same
    * model-sized-work-on-the-driver contract as [[mmrTopK]] and
    * kmeans, valid at any corpus scale. All arithmetic is integer
    * (gram and vector renormalized to ±10⁶ micro-units each step;
    * BigInt for the normalize product, mirroring the oracle's
    * HUGEINT), so the result is bit-identical on any engine and any
    * cluster layout — the Det.scala iterative-recurrence rule. */
  def powerIteration(emb: DataFrame, dim: Int = 64, scale: Double = 10000.0,
      iters: Int = 8): Seq[(Int, Long)] = {
    val g = Array.ofDim[Long](dim, dim)
    gramMatrix(emb, dim, scale).collect().foreach { r =>
      val (i, j, v) = (r.getLong(0).toInt, r.getLong(1).toInt, r.getLong(2))
      g(i)(j) = v; g(j)(i) = v
    }
    val gmax = g.flatMap(_.map(math.abs)).max max 1L
    def norm(x: Long, m: Long): Long =
      if (x < 0) -((BigInt(-x) * 1000000) / m).toLong
      else ((BigInt(x) * 1000000) / m).toLong
    val gn = g.map(_.map(norm(_, gmax)))
    var vv = Array.fill(dim)(1000000L)
    for (_ <- 0 until iters) {
      val w = Array.tabulate(dim) { i =>
        var s = 0L; var j = 0
        while (j < dim) { s += gn(i)(j) * vv(j); j += 1 }
        s
      }
      val m = w.map(math.abs).max max 1L
      vv = w.map(norm(_, m))
    }
    (0 until dim).map(i => (i, vv(i)))
  }

  /** Full ranked retrieval per query vector with a same-label relevance
    * flag — the shared scaffold for rank-quality metrics (MRR, average
    * precision). Same contract as [[cosineTopK]]: queries broadcast,
    * fused scaled-int cosine, deterministic (cos desc, id asc) ranks. */
  def rankedRetrieval(emb: DataFrame, queryPred: Column): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"), col("label"))
    val queries = base.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    base.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qlabel"),
        col("vec_id").as("neighbor_id"),
        (col("label") === col("qlabel")).as("rel"),
        graft.functions.ScaledIntCosine.scaledCosine(col("qv"), col("embedding"))
          .as("cos_sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
  }
}
