package graftbench

import java.nio.file.Path

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.ops.{AnnIndex, VectorOps}
import graft.pipelines.Versioned

/** Retrieval for RAG: build the IVF-PQ index, then one client sends a
  * closed loop of top-k requests with an index append every
  * [[Gen.AppendEvery]]-th request, in whole cycles of [[Gen.Cycle]]
  * requests, so every run sees the same read/write mix and the same query
  * sizes. */
final class VectorServe(val ctx: Ctx) extends Workload {
  import Workload._
  import Gen.{Append, Serve}

  /** Queries sampled from the corpus for the recall measurement. */
  private val RecallQueries = 16
  /** A sanity floor: far below what the index reaches on these inputs, far
    * above what a broken index (random neighbours) would give. */
  private val RecallFloor = 0.3

  private var in: Gen.VectorInputs = _
  private var appended = 0
  private var results = 0L
  private var modelLoads, filesWritten, bytesWritten = 0L
  private var recall = Double.NaN

  def generate(dir: Path): Unit =
    in = Gen.vectors(spark, ctx.fixtures, ctx.seed, path(dir))

  def inputSizes: Seq[(String, Double, String)] = Seq(
    ("base_vectors", in.baseVectors.toDouble, "vectors"),
    ("dimensions", Gen.Dim.toDouble, "count"),
    ("vectors_per_append", Gen.AppendSize.toDouble, "vectors"),
    ("requests_per_append", Gen.AppendEvery.toDouble, "count"),
    ("input_bytes", in.bytes.toDouble, "bytes"))

  private def queryFrame(q: Seq[(Long, Array[Float])]): DataFrame = {
    val s = spark
    import s.implicits._
    q.toDF("query_id", "qv")
  }

  def run(out: Path, seconds: Double, maxOps: Int, t: Tracer): Pass = {
    val idx = path(out.resolve("index"))
    var attempted, failed = 0
    def attempt[A](what: String)(body: => A): Option[A] = {
      attempted += 1
      try Some(body)
      catch { case NonFatal(e) => failed += 1; Console.err.println(s"$what: $e"); None }
    }
    val passStart = System.nanoTime()
    var unmeasured = 0.0
    filesWritten = 0
    bytesWritten = 0
    t.runId = 0
    val (_, buildS) = timed(attempt("build") {
      if (t.enabled) layeredBuild(t, idx)
      else AnnIndex.build(Catalog.load(spark, in.dir, "embeddings"), idx)
    })
    unmeasured += timed(Heap.sample())._2
    // check work, outside the window, on the index as built
    if (!t.enabled) unmeasured += timed { recall = measureRecall(idx) }._2
    val loads0 = AnnIndex.modelLoads
    results = 0
    val serves, appends = Seq.newBuilder[Double]
    var answered = 0L
    appended = 0
    val requests = Gen.requests(in)
    val start = System.nanoTime()
    val unmeasured0 = unmeasured
    val cpu0 = processCpuSeconds()
    var i = 0
    def elapsed = (System.nanoTime() - start) / 1e9 - (unmeasured - unmeasured0)
    // the traced pass, which only times the layers, stops after a block
    val unit = if (t.enabled) Gen.AppendEvery else Gen.Cycle
    while (i % unit != 0 || i == 0 || (elapsed < seconds && i < maxOps)) {
      t.runId = i + 1
      requests.next() match {
        case Serve(q) =>
          val (rows, s) = timed(attempt(s"serve $i") {
            if (t.enabled) t.span("op.serve") {
              t.span("pipelines.Versioned.snapshot") { Versioned.latestGroupVersions(idx) }
              t.span("ops.AnnIndex.serveTopK") {
                AnnIndex.serveTopK(spark, idx, queryFrame(q), Gen.K).collect()
              }
            }
            else AnnIndex.serveTopK(spark, idx, queryFrame(q), Gen.K).collect()
          })
          serves += s
          rows.foreach { r =>
            results += r.length
            if (r.map(_.getAs[Long]("query_id")).distinct.length == q.length)
              answered += q.length
            else { failed += 1; Console.err.println(s"serve $i: missing answers") }
          }
        case Append(b) =>
          val (batch, genS) = timed(Gen.appendBatch(spark, in, b))
          unmeasured += genS
          val (_, s) = timed(attempt(s"append $b") {
            if (t.enabled) t.span("op.append") {
              val before = listing(java.nio.file.Paths.get(idx))
              t.span("ops.AnnIndex.append") { AnnIndex.append(batch, idx, b) }
              val (f, bytes) = written(before, listing(java.nio.file.Paths.get(idx)))
              filesWritten += f
              bytesWritten += bytes
            }
            else AnnIndex.append(batch, idx, b)
            appended = b
          })
          appends += s
      }
      i += 1
    }
    modelLoads = AnnIndex.modelLoads - loads0
    Pass(buildS, serves.result(), appends.result(), answered, elapsed,
      (System.nanoTime() - passStart) / 1e9 - unmeasured, attempted, failed,
      processCpuSeconds() - cpu0, unmeasured)
  }

  /** The build with the quantizer training called on its own first. */
  private def layeredBuild(t: Tracer, idx: String): Unit = t.span("op.build") {
    val emb = t.span("catalog.load") {
      val e = Catalog.load(spark, in.dir, "embeddings").persist()
      noop(e)
      e
    }
    val coarse = t.span("ops.VectorOps.kmeans") { VectorOps.kmeansCentroids(emb, 16) }
    t.span("ops.VectorOps.pqTrain") {
      val residuals = VectorOps.ivfResiduals(emb, coarse).persist()
      VectorOps.pqTrain(residuals, 8, 16, Gen.Dim)
      residuals.unpersist()
    }
    emb.unpersist() // or the real build would read the cached corpus
    val before = listing(java.nio.file.Paths.get(idx))
    t.span("ops.AnnIndex.build") {
      AnnIndex.build(Catalog.load(spark, in.dir, "embeddings"), idx)
    }
    val (f, b) = written(before, listing(java.nio.file.Paths.get(idx)))
    filesWritten += f
    bytesWritten += b
  }

  def headline(p: Pass): Seq[(String, Double, String)] = {
    val (pct, tail, n) = Stats.tail(p.ops.map(_ * 1000))
    Seq(("index_build_s", p.build, "s"),
      ("serve_p50_ms", Stats.median(p.ops) * 1000, "ms"),
      ("serve_tail_ms", tail, "ms"),
      ("serve_tail_percentile", pct, "%"),
      ("serve_samples", n.toDouble, "count"),
      ("serve_qps", p.items / p.itemSeconds, "1/s"),
      ("index_append_p50_ms", Stats.median(p.writes) * 1000, "ms"),
      ("recall_at_10", recall, "ratio"))
  }

  /** Every appended id is servable; recall@10 of the index as built,
    * measured before the loop, is above [[RecallFloor]]. */
  def check(out: Path): Seq[String] = {
    val appendedIds = (1 to appended).flatMap { b =>
      val first = in.firstAppendId(b)
      first until first + Gen.AppendSize
    }
    val servable = AnnIndex.servableIds(spark, path(out.resolve("index")))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val missing = appendedIds.count(id => !servable.contains(id))
    Seq(
      if (appended == 0) Some("no append ran") else None,
      if (missing > 0) Some(s"$missing appended ids are not servable") else None,
      if (!(recall >= RecallFloor)) Some(f"recall@10 $recall%.3f below $RecallFloor")
      else None).flatten
  }

  /** recall@10 of the served index against brute-force cosine top-k, on a
    * seeded sample of the corpus used as queries (each query's own vector
    * left out of both sides). */
  private def measureRecall(idx: String): Double = {
    val corpus = Catalog.load(spark, in.dir, "embeddings").select("vec_id", "embedding")
      .persist()
    val rng = Gen.rng(in.seed, 6, 0)
    val sample = Seq.fill(RecallQueries)(rng.nextInt(in.baseVectors).toLong).distinct
    val exact = VectorOps.cosineTopK(corpus, col("vec_id").isin(sample: _*), Gen.K)
      .select("query_id", "neighbor_id")
    val served = AnnIndex.serveTopK(spark, idx,
        corpus.filter(col("vec_id").isin(sample: _*))
          .select(col("vec_id").as("query_id"), col("embedding").as("qv")), Gen.K + 1)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id", "rn")
    val served10 = served.withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id").orderBy("rn")))
      .filter(col("r") <= Gen.K).select("query_id", "neighbor_id")
    val hits = served10.join(exact, Seq("query_id", "neighbor_id")).count()
    corpus.unpersist()
    hits.toDouble / (sample.length * Gen.K)
  }

  def layers(t: Tracer, p: Pass, out: Path): Map[String, Double] = {
    val n = p.opCount.toDouble
    val serveRows = t.countersOf("ops.AnnIndex.serveTopK").inputRecords
    Map(
      "ops.VectorOps.kmeans_s" -> t.meanSeconds("ops.VectorOps.kmeans"),
      "ops.VectorOps.pqTrain_s" -> t.meanSeconds("ops.VectorOps.pqTrain"),
      "ops.AnnIndex.model_loads" -> modelLoads.toDouble,
      "ops.AnnIndex.rows_per_result" -> serveRows.toDouble / math.max(1L, results),
      "ops.AnnIndex.recall_at_10" -> recall,
      "pipelines.Versioned.files_written" -> filesWritten / n,
      "pipelines.Versioned.bytes_written" -> bytesWritten / n)
  }
}
