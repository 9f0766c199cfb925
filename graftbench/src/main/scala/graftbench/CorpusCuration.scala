package graftbench

import java.nio.file.Path

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.ops.{DedupOps, TextOps}
import graft.pipelines.{CorpusPublisher, Versioned}

/** LLM corpus preparation: one full `CorpusPublisher.publish` of the base
  * corpus, then one `appendBatch` per incoming batch until the time is up.
  * Like a curation batch job, it starts cold. */
final class CorpusCuration(val ctx: Ctx) extends Workload {
  import Workload._

  /** The publisher's default split threshold: pairs at or above it must
    * share a split. */
  private val SplitThreshold = 0.3
  /** Appends after the publish that every pass runs. */
  private val MinAppends = 2

  private var in: Gen.CorpusInputs = _
  private var splitsAfterPublish: Map[Long, String] = Map.empty
  private var offered = 0L
  private var filesWritten, bytesWritten, pairsOut = 0L

  def generate(dir: Path): Unit =
    in = Gen.corpus(spark, ctx.fixtures, ctx.seed, path(dir))

  def inputSizes: Seq[(String, Double, String)] = Seq(
    ("base_documents", in.baseDocs.toDouble, "docs"),
    ("documents_per_batch", Gen.BatchDocs.toDouble, "docs"),
    ("exact_duplicate_share", in.exactDups.toDouble / in.baseDocs, "ratio"),
    ("near_duplicate_share", in.nearDups.toDouble / in.baseDocs, "ratio"),
    ("input_bytes", in.bytes.toDouble, "bytes"))

  private def splits(base: String): DataFrame =
    Versioned.readGroupOf(spark, base, CorpusPublisher.TrainTable)
      .collect { case (t, df) if t != CorpusPublisher.ManifestTable =>
        df.select(col("doc_id"), col("text"),
          lit(t.stripPrefix("corpus_")).as("split"))
      }.reduce(_ unionByName _)

  def run(out: Path, seconds: Double, maxOps: Int, t: Tracer): Pass = {
    val base = path(out.resolve("corpus"))
    filesWritten = 0
    bytesWritten = 0
    pairsOut = 0
    var attempted, failed = 0
    var unmeasured = 0.0
    def attempt(what: String)(body: => Unit): Double = {
      attempted += 1
      timed {
        try body
        catch { case NonFatal(e) => failed += 1; Console.err.println(s"$what: $e") }
      }._2
    }
    t.runId = 0
    val passStart = System.nanoTime()
    val publishS = attempt("publish") {
      if (t.enabled) layeredPublish(t, base)
      else CorpusPublisher.publish(Catalog.load(spark, in.dir, "documents"), base)
    }
    unmeasured += timed(Heap.sample())._2
    // check work, outside the window: the splits the publish assigned
    if (!t.enabled) unmeasured += timed {
      splitsAfterPublish = splits(base).select("doc_id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    }._2
    val appends = Seq.newBuilder[Double]
    var docs = in.baseDocs.toLong
    val cpu0 = processCpuSeconds()
    val start = System.nanoTime()
    val unmeasured0 = unmeasured
    def elapsed = (System.nanoTime() - start) / 1e9 - (unmeasured - unmeasured0)
    var b = 1
    while (b <= math.min(MinAppends, maxOps) || (elapsed < seconds && b <= maxOps)) {
      t.runId = b
      val (batch, genS) = timed(Gen.batch(spark, in, b))
      unmeasured += genS
      val bid = b
      appends += attempt(s"append $b") {
        if (t.enabled) layeredAppend(t, batch, base, bid)
        else CorpusPublisher.appendBatch(batch, base, bid)
      }
      docs += Gen.BatchDocs
      b += 1
    }
    offered = docs
    val ops = appends.result()
    Pass(publishS, ops, Nil, docs, publishS + ops.sum,
      (System.nanoTime() - passStart) / 1e9 - unmeasured, attempted, failed,
      processCpuSeconds() - cpu0, unmeasured)
  }

  private def layeredPublish(t: Tracer, base: String): Unit = t.span("op.publish") {
    val docs = t.span("catalog.load") {
      val d = Catalog.load(spark, in.dir, "documents").persist()
      noop(d)
      d
    }
    t.span("ops.TextOps.qualityScored") { noop(TextOps.qualityScored(docs)) }
    val pairs = t.span("ops.DedupOps.pairs") {
      val p = DedupOps.jaccardPairsHashed(docs, threshold = SplitThreshold).persist()
      noop(p)
      p
    }
    pairsOut += pairs.count()
    t.span("ops.DedupOps.clusters") { noop(DedupOps.clustersFromPairs(docs, pairs)) }
    // uncached first, or the real publish would read the frames above
    pairs.unpersist()
    docs.unpersist()
    writing(t, "pipelines.CorpusPublisher.publish", base) {
      CorpusPublisher.publish(Catalog.load(spark, in.dir, "documents"), base)
    }
    t.span("pipelines.Versioned.snapshot") {
      Versioned.latestGroupVersionsFor(base, CorpusPublisher.TrainTable)
    }
  }

  private def layeredAppend(t: Tracer, batch: DataFrame, base: String,
      id: Long): Unit = t.span("op.append") {
    t.span("ops.TextOps.qualityScored") { noop(TextOps.qualityScored(batch)) }
    writing(t, "pipelines.CorpusPublisher.appendBatch", base) {
      CorpusPublisher.appendBatch(batch, base, id)
    }
    t.span("pipelines.Versioned.snapshot") {
      Versioned.latestGroupVersionsFor(base, CorpusPublisher.TrainTable)
    }
  }

  private def writing(t: Tracer, name: String, base: String)(body: => Unit): Unit = {
    val before = listing(java.nio.file.Paths.get(base))
    t.span(name)(body)
    val (f, b) = written(before, listing(java.nio.file.Paths.get(base)))
    filesWritten += f
    bytesWritten += b
  }

  def headline(p: Pass): Seq[(String, Double, String)] = Seq(
    ("corpus_publish_s", p.build, "s"),
    ("corpus_append_p50_s", Stats.median(p.ops), "s"),
    ("curation_docs_per_s", p.items / p.itemSeconds, "docs/s"))

  /** No published document changes split after the publish; no pair at
    * the split threshold straddles train and test; the manifest counts
    * equal the published rows. */
  def check(out: Path): Seq[String] = {
    val base = path(out.resolve("corpus"))
    val published = splits(base).persist()
    val now = published.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val moved = splitsAfterPublish.count { case (id, s) => !now.get(id).contains(s) }
    val s = published.select(col("doc_id"), col("split"))
    val straddling = DedupOps.jaccardPairsHashed(published.select("doc_id", "text"),
        threshold = SplitThreshold)
      .join(s.toDF("doc_a", "split_a"), "doc_a")
      .join(s.toDF("doc_b", "split_b"), "doc_b")
      .filter(array_sort(array(col("split_a"), col("split_b"))) ===
        array(lit("test"), lit("train")))
      .count()
    val manifest = Versioned.readGroupOf(spark, base, CorpusPublisher.TrainTable)(
        CorpusPublisher.ManifestTable)
      .select("split", "n_docs").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = published.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    published.unpersist()
    Seq(
      if (splitsAfterPublish.isEmpty) Some("the publish admitted no documents") else None,
      if (moved > 0) Some(s"$moved published documents changed split") else None,
      if (straddling > 0) Some(s"$straddling near-duplicate pairs straddle train and test")
      else None,
      if (manifest.filter(_._2 > 0) != rows) Some(s"manifest $manifest != published rows $rows")
      else None).flatten
  }

  private def admitted(out: Path): Long =
    splits(path(out.resolve("corpus"))).count()

  def layers(t: Tracer, p: Pass, out: Path): Map[String, Double] = {
    val n = p.opCount.toDouble
    val standalone = Seq("ops.TextOps.qualityScored", "ops.DedupOps.pairs",
      "ops.DedupOps.clusters").map(t.totalSeconds).sum
    val publisher = t.totalSeconds("pipelines.CorpusPublisher.publish") +
      t.totalSeconds("pipelines.CorpusPublisher.appendBatch")
    Map(
      "ops.TextOps.qualityScored_s" -> t.meanSeconds("ops.TextOps.qualityScored"),
      "ops.DedupOps.pairs_s" -> t.meanSeconds("ops.DedupOps.pairs"),
      "ops.DedupOps.pairs_out" -> pairsOut.toDouble,
      "ops.DedupOps.shuffle_mb" -> t.countersOf("ops.DedupOps.pairs").shuffleBytes / 1e6,
      "ops.DedupOps.clusters_s" -> t.meanSeconds("ops.DedupOps.clusters"),
      "pipelines.CorpusPublisher.self_s" -> (publisher - standalone) / n,
      "pipelines.CorpusPublisher.admit_ratio" -> admitted(out).toDouble / offered,
      "pipelines.Versioned.files_written" -> filesWritten / n,
      "pipelines.Versioned.bytes_written" -> bytesWritten / n)
  }
}
