package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Catalog

/** Seeded workload inputs. Everything here is a pure function of the seed
  * and the read-only fixture tables: the same seed writes the same rows,
  * another seed writes different ones. Sizes do not depend on the seed,
  * so seeds vary the values a run sees, not the amount of work. Batches
  * that the measured loop consumes (corpus batches, vector appends) are
  * made on demand from the seed and the batch number, so a run never runs
  * out of them and the mix of operations stays fixed however fast the
  * engine is. */
object Gen {

  /** splitmix64 finalizer over (a, b): independent seeds for items of one
    * seeded stream. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The random stream for item `i` of stream `salt` of a seed. */
  def rng(seed: Long, salt: Long, i: Long): java.util.Random =
    new java.util.Random(mix(mix(seed, salt), i))

  // ---- mart_refresh ---------------------------------------------------

  /** The day keeps the orders whose seeded hash falls in one of this many
    * buckets: one sixteenth of the fixture's orders. */
  val OrderBuckets = 16

  final case class MartInputs(dayDir: String, lineitemRows: Long, bytes: Long)

  /** One day's catalog directory: a seeded sixteenth of the fixture's
    * orders (all their `lineitem` rows, about 37k) with jittered values
    * (seeded quantities, prices, discounts, taxes and flags), in four
    * files, next to the other catalog tables, copied unchanged. */
  def mart(spark: SparkSession, fixtures: String, seed: Long,
      out: String): MartInputs = {
    val dir = s"$out/day"
    def h(k: Int) = xxhash64(lit(seed), lit(k), col("l_orderkey"), col("l_linenumber"))
    Catalog.load(spark, fixtures, "lineitem")
      .filter(pmod(xxhash64(lit(seed), col("l_orderkey")), lit(OrderBuckets.toLong)) === 0)
      .select(
          col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber"),
          greatest(lit(1.0), col("l_quantity") + (pmod(h(1), lit(7L)) - 3))
            .as("l_quantity"),
          round(col("l_extendedprice") * (lit(0.9) + pmod(h(2), lit(21L)) / 100.0), 2)
            .as("l_extendedprice"),
          (pmod(h(3), lit(11L)) / 100.0).as("l_discount"),
          (pmod(h(4), lit(9L)) / 100.0).as("l_tax"),
          element_at(array(lit("A"), lit("N"), lit("R")),
            (pmod(h(5), lit(3L)) + 1).cast("int")).as("l_returnflag"),
          when(pmod(h(6), lit(2L)) === 0, "F").otherwise("O").as("l_linestatus"),
          col("l_shipdate"))
      .repartition(4, col("l_orderkey"))
      .write.parquet(Catalog.lineitem.path(dir))
    Catalog.all.filterNot(_.name == "lineitem").foreach { t =>
      copyTree(Paths.get(t.path(fixtures)), Paths.get(t.path(dir)))
    }
    MartInputs(dir, Catalog.load(spark, dir, "lineitem").count(), sizeOf(Paths.get(dir)))
  }

  // ---- corpus_curation ------------------------------------------------

  val BaseDocs = 5000
  val BatchDocs = 50
  val ExactDupShare = 0.10
  val NearDupShare = 0.10

  /** Tokens, language and source of one document. */
  type Doc = (Array[String], String, String)

  final case class CorpusInputs(dir: String, baseDocs: Int, exactDups: Int,
      nearDups: Int, bytes: Long, seed: Long, fixtureDocs: Array[Doc],
      originals: Array[Doc]) {
    def firstBatchId(b: Int): Long = baseDocs + (b - 1L) * BatchDocs
  }

  /** The documents of one batch, with how many of them are exact and near
    * duplicates. */
  final case class CorpusBatch(rows: Seq[Row], exactDups: Int, nearDups: Int)

  /** Makes documents from a seeded stream. Originals recombine token
    * chunks of two fixture documents; a share of documents copies an
    * earlier original's text exactly, another share copies it with a few
    * token edits (5-shingle Jaccard stays above the publisher's dedup
    * cut). */
  private final class DocMaker(src: Array[Doc], rng: java.util.Random,
      val originals: ArrayBuffer[Doc]) {
    var exact, near = 0

    private def original(): Doc = {
      val (a, lang, source) = src(rng.nextInt(src.length))
      val b = src(rng.nextInt(src.length))._1
      val out = ArrayBuffer.empty[String]
      while (out.length < a.length) {
        val from = if (rng.nextBoolean()) a else b
        val len = math.min(4 + rng.nextInt(5), from.length)
        val at = rng.nextInt(from.length - len + 1)
        out ++= from.slice(at, at + len)
      }
      (out.toArray, lang, source)
    }

    private def edited(t: Array[String]): Array[String] = {
      val buf = t.toBuffer
      val edits = math.max(1, math.round(t.length * 0.03).toInt)
      (0 until edits).foreach { _ =>
        val at = rng.nextInt(buf.length)
        val word = src(rng.nextInt(src.length))._1.head
        rng.nextInt(3) match {
          case 0 => buf(at) = word
          case 1 => buf.insert(at, word)
          case _ => if (buf.length > 8) buf.remove(at) else buf(at) = word
        }
      }
      buf.toArray
    }

    def doc(id: Long): Row = {
      val r = rng.nextDouble()
      val (toks, lang, source) =
        if (originals.nonEmpty && r < ExactDupShare) {
          exact += 1; originals(rng.nextInt(originals.length))
        } else if (originals.nonEmpty && r < ExactDupShare + NearDupShare) {
          near += 1
          val (t, l, s) = originals(rng.nextInt(originals.length))
          (edited(t), l, s)
        } else { val o = original(); originals += o; o }
      val text = toks.mkString(" ")
      Row(id, text, lang, source, text.length.toLong)
    }
  }

  /** A base corpus of [[BaseDocs]] documents at `<dir>/documents.parquet`,
    * made by seeded recombination of the fixture documents, with
    * [[ExactDupShare]] exact and [[NearDupShare]] near duplicates. */
  def corpus(spark: SparkSession, fixtures: String, seed: Long,
      out: String): CorpusInputs = {
    val src: Array[Doc] = Catalog.load(spark, fixtures, "documents")
      .select("doc_id", "text", "lang", "source").orderBy("doc_id").collect()
      .map(r => (r.getString(1).split(' '), r.getString(2), r.getString(3)))
    val maker = new DocMaker(src, rng(seed, 1, 0), ArrayBuffer.empty)
    val base = (0L until BaseDocs).map(maker.doc)
    val dir = s"$out/corpus"
    spark.createDataFrame(base.asJava, Catalog.documents.schema)
      .write.parquet(Catalog.documents.path(dir))
    CorpusInputs(dir, BaseDocs, maker.exact, maker.near, sizeOf(Paths.get(dir)),
      seed, src, maker.originals.toArray)
  }

  /** Batch `b` (from 1) of [[BatchDocs]] documents with the base corpus's
    * duplicate shares; its duplicates copy originals of the base corpus or
    * of the batch itself, as a real feed's would. */
  def corpusBatch(in: CorpusInputs, b: Int): CorpusBatch = {
    val maker = new DocMaker(in.fixtureDocs, rng(in.seed, 2, b),
      ArrayBuffer.from(in.originals))
    val first = in.firstBatchId(b)
    val rows = (0 until BatchDocs).map(i => maker.doc(first + i))
    CorpusBatch(rows, maker.exact, maker.near)
  }

  def batch(spark: SparkSession, in: CorpusInputs, b: Int): DataFrame =
    spark.createDataFrame(corpusBatch(in, b).rows.asJava, Catalog.documents.schema)

  // ---- vector_serve ---------------------------------------------------

  val BaseVectors = 50000
  val AppendSize = 200
  val Dim = 64
  /** Every fifth request is an append: an arbitrary read/write mix, not
    * taken from a trace. */
  val AppendEvery = 5
  /** Requests in which every serve size 1 to 8 occurs once: two appends
    * and eight serves. */
  val Cycle = 2 * AppendEvery
  val K = 10
  /** Per-component standard deviation of the mixture around a fixture
    * embedding (unit vectors, so a fixture component is about 1/8): an
    * arbitrary choice, derived neither from a trace nor from the
    * fixtures. */
  val Spread = 0.045

  /** Every [[AppendEvery]]-th request is an append of the next batch; the
    * others serve 1 to 8 query vectors, every size once per eight serve
    * requests in seeded order (so any run of whole blocks has the same
    * mix). */
  sealed trait Request
  final case class Serve(queries: Seq[(Long, Array[Float])]) extends Request
  final case class Append(batch: Int) extends Request

  final case class VectorInputs(dir: String, baseVectors: Int,
      centers: Array[Array[Float]], labels: Array[Int], seed: Long, bytes: Long) {
    def firstAppendId(b: Int): Long = baseVectors.toLong + (b - 1L) * AppendSize
  }

  /** A unit vector near a uniformly drawn center: (center index, vector). */
  def mixturePoint(rng: java.util.Random,
      centers: Array[Array[Float]]): (Int, Array[Float]) = {
    val c = rng.nextInt(centers.length)
    val v = Array.tabulate(Dim)(j =>
      centers(c)(j) + (rng.nextGaussian() * Spread).toFloat)
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    (c, v.map(_ / n))
  }

  /** [[BaseVectors]] vectors at `<dir>/embeddings.parquet`: a seeded
    * Gaussian mixture around the fixture embeddings, each vector drawn
    * from its own stream, so the output does not depend on how the work
    * is split. */
  def vectors(spark: SparkSession, fixtures: String, seed: Long,
      out: String): VectorInputs = {
    val fx = Catalog.load(spark, fixtures, "embeddings")
      .select("vec_id", "embedding", "label").orderBy("vec_id").collect()
    val centers = fx.map(_.getSeq[Float](1).toArray)
    val labels = fx.map(_.getInt(2))
    val dir = s"$out/vectors"
    val s = spark
    import s.implicits._
    spark.range(0, BaseVectors, 1, 4).map { id =>
        val (c, v) = mixturePoint(rng(seed, 3, id), centers)
        (id.longValue, v, labels(c))
      }.toDF("vec_id", "embedding", "label")
      .write.parquet(Catalog.embeddings.path(dir))
    VectorInputs(dir, BaseVectors, centers, labels, seed, sizeOf(Paths.get(dir)))
  }

  /** Append batch `b` (from 1): [[AppendSize]] new vectors from the same
    * mixture, with ids above every earlier one. */
  def appendBatch(spark: SparkSession, in: VectorInputs, b: Int): DataFrame = {
    val r = rng(in.seed, 4, b)
    val first = in.firstAppendId(b)
    val rows = (0 until AppendSize).map { i =>
      val (c, v) = mixturePoint(r, in.centers)
      Row(first + i, v.toSeq, in.labels(c))
    }
    spark.createDataFrame(rows.asJava, Catalog.embeddings.schema)
  }

  /** The closed-loop request stream: endless, and a pure function of the
    * seed. Query ids are unique across the stream. */
  def requests(in: VectorInputs): Iterator[Request] = {
    val r = rng(in.seed, 5, 0)
    var sizes = List.empty[Int]
    Iterator.from(0).map { i =>
      if (i % AppendEvery == AppendEvery - 1) Append(i / AppendEvery + 1)
      else {
        if (sizes.isEmpty) sizes = new scala.util.Random(r).shuffle((1 to 8).toList)
        val n = sizes.head
        sizes = sizes.tail
        Serve((0 until n).map(q => (i * 8L + q, mixturePoint(r, in.centers)._2)))
      }
    }
  }

  // ---- shared ---------------------------------------------------------

  def sizeOf(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t)
    } finally s.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}
