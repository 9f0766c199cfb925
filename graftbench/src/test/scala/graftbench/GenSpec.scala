package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.Catalog

/** The workload generator is a pure function of the seed and the fixtures,
  * and its inputs land on their stated shapes. */
class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val fixtures = sys.env.getOrElse("GRAFT_FIXTURES",
    sys.props("user.home") + "/testdata/sf0.1")
  private lazy val work: Path = {
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    Files.createDirectories(tmp)
    Files.createTempDirectory(tmp, "genspec")
  }
  private lazy val spark: SparkSession = {
    val s = graft.GraftSession.create("genspec", "local[2]")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = {
    spark.stop()
    Gen.deleteTree(work)
  }

  /** Order-independent content hash of a frame: row count and the sum of
    * per-row hashes over every column. */
  private def contentHash(df: DataFrame): (Long, BigInt) = {
    val r = df.select(count(lit(1)), coalesce(sum(xxhash64(df.columns.map(col): _*)
      .cast(DecimalType(38, 0))), lit(0)).cast("string")).head()
    (r.getLong(0), BigInt(r.getString(1)))
  }

  private var runs = 0
  private def out(): String = { runs += 1; work.resolve(s"g$runs").toString }

  private def martHash(seed: Long) = {
    val in = Gen.mart(spark, fixtures, seed, out())
    contentHash(Catalog.load(spark, in.dayDir, "lineitem"))
  }

  private def corpusHash(seed: Long) = {
    val in = Gen.corpus(spark, fixtures, seed, out())
    (contentHash(Catalog.load(spark, in.dir, "documents")),
      (1 to 3).map(b => contentHash(Gen.batch(spark, in, b))))
  }

  private def vectorHash(seed: Long) = {
    val in = Gen.vectors(spark, fixtures, seed, out())
    val requests = Gen.requests(in).take(200).map {
      case Gen.Serve(q) => q.map { case (id, v) => (id, v.toSeq) }
      case a => a
    }.toList
    (contentHash(Catalog.load(spark, in.dir, "embeddings")),
      (1 to 3).map(b => contentHash(Gen.appendBatch(spark, in, b))),
      requests)
  }

  test("the same seed gives identical inputs; another seed gives different ones") {
    assert(martHash(1) == martHash(1))
    assert(martHash(1) != martHash(2))
    assert(corpusHash(1) == corpusHash(1))
    assert(corpusHash(1) != corpusHash(2))
    assert(vectorHash(1) == vectorHash(1))
    assert(vectorHash(1) != vectorHash(2))
  }

  test("the corpus duplicate shares land on their targets") {
    val in = Gen.corpus(spark, fixtures, 7, out())
    val batches = (1 to 20).map(Gen.corpusBatch(in, _))
    val docs = Catalog.load(spark, in.dir, "documents")
      .unionByName(spark.createDataFrame(batches.flatMap(_.rows).asJava,
        Catalog.documents.schema))
    val n = docs.count()
    val exact = in.exactDups + batches.map(_.exactDups).sum
    val near = in.nearDups + batches.map(_.nearDups).sum
    assert(n == Gen.BaseDocs + 20 * Gen.BatchDocs)
    assert(math.abs(exact.toDouble / n - Gen.ExactDupShare) < 0.01)
    assert(math.abs(near.toDouble / n - Gen.NearDupShare) < 0.01)
    // every exact duplicate repeats an earlier text; originals and edited
    // copies are distinct
    val distinct = docs.select("text").distinct().count()
    assert(n - distinct >= exact * 0.99 && n - distinct <= exact * 1.01 + 5)
    // batch ids continue the base corpus's, without gaps
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (0L until n))
  }

  test("the request stream mixes 1-8 query vectors and appends every Nth request") {
    val in = Gen.vectors(spark, fixtures, 7, out())
    val rs = Gen.requests(in).take(2000).toSeq
    val sizes = rs.collect { case Gen.Serve(q) => q.length }
    // every block of eight serve requests carries each size once
    assert(sizes.grouped(8).filter(_.length == 8).forall(_.sorted == (1 to 8)))
    assert(sizes.take(8) != sizes.slice(8, 16), "the order within blocks is seeded")
    val appends = rs.zipWithIndex.collect { case (Gen.Append(b), i) => (b, i) }
    assert(appends.map(_._1) == (1 to rs.length / Gen.AppendEvery))
    assert(appends.forall { case (_, i) => i % Gen.AppendEvery == Gen.AppendEvery - 1 })
    assert(rs.collect { case Gen.Serve(q) => q.map(_._1) }.flatten.distinct.length ==
      sizes.sum)
  }
}
