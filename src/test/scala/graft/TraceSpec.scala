package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.catalog.Catalog
import graft.ops.AnnIndex
import graft.pipelines.{CorpusPublisher, Runner}

/** The engine's tracer: every job a lifecycle operation starts is keyed
  * by an engine span, the per-key job counts agree with an independent
  * job counter ([[SparkJobs]]), a warm serve records its span with no
  * job, and spans nest and stay on their own thread. */
class TraceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = Catalog.load(spark, dir, "embeddings")
  private def sc = spark.sparkContext

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("trace_").toString

  /** The tracer's per-key records of exactly `body`'s jobs, with
    * [[SparkJobs.counted]]'s count of them. */
  private def traced(body: => Any): (Map[String, Trace.Record], Int) = {
    val (keys, jobs) = SparkJobs.counted(spark) {
      Trace.window(sc)
      body
      Trace.window(sc)._2
    }
    (keys.toMap, jobs)
  }

  private def allJobsSpanned(what: String)(body: => Any): Unit = {
    val (keys, jobs) = traced(body)
    val withJobs = keys.filter(_._2("jobs") > 0)
    info(s"$what: $jobs jobs; " +
      withJobs.map { case (k, r) => s"$k ${r("jobs")}" }.mkString(", "))
    assert(jobs > 0, s"$what started no job")
    assert(withJobs.keys.forall(k => k.startsWith("ops.") ||
      k.startsWith("pipelines.")), s"$what: jobs outside every engine span")
    assert(withJobs.values.map(_("jobs")).sum == jobs)
  }

  test("every job of runGrouped, appendBatch, AnnIndex.build and a cold " +
    "serveTopK carries an engine span key; per-key job counts sum to " +
    "SparkJobs.counted's count") {
    allJobsSpanned("runGrouped")(Runner.runGrouped(spark, dir, tmp()))
    val corpus = tmp()
    CorpusPublisher.publish(Catalog.load(spark, dir, "documents"), corpus)
    val batch = (0 until 20).map { i =>
      (1000000L + i,
        s"the zq${i}a a zq${i}b of zq${i}c and zq${i}d to zq${i}e " +
          s"in zq${i}f is zq${i}g", "en")
    }.toDF("doc_id", "text", "lang")
    allJobsSpanned("appendBatch")(
      CorpusPublisher.appendBatch(batch, corpus, batchId = 1L))
    val idx = tmp()
    allJobsSpanned("AnnIndex.build")(AnnIndex.build(emb, idx))
    AnnIndex.invalidateModelCache()
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    allJobsSpanned("cold serveTopK")(
      AnnIndex.serveTopK(spark, idx, queries, 5).collect())
  }

  test("a warm serveTopK records its span with 0 jobs") {
    val idx = tmp()
    AnnIndex.build(emb.filter(col("vec_id") < 200), idx)
    val local = emb.filter(col("vec_id") < 6)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq.toDF("query_id", "qv")
    AnnIndex.serveTopK(spark, idx, local, 5).collect() // loads the cache
    val (keys, jobs) = traced(AnnIndex.serveTopK(spark, idx, local, 5).collect())
    assert(jobs == 0)
    val serve = keys("ops.AnnIndex.serve")
    assert(serve("calls") == 1 && serve("jobs") == 0 && serve("wall_ns") > 0)
    assert(keys.values.map(_("jobs")).sum == 0)
  }

  test("nested spans restore the outer key, also when the body throws or " +
    "returns early") {
    def key = Option(sc.getLocalProperty(Trace.SpanKey))
    def job() = sc.parallelize(1 to 4, 2).count()
    def early(): Int = Trace.span("test.early") {
      if (key.contains("test.early")) return 1
      2
    }
    val (keys, _) = traced {
      Trace.span("test.outer") {
        job()
        Trace.span("test.inner") { assert(key.contains("test.inner")); job() }
        assert(key.contains("test.outer"))
        intercept[IllegalStateException](Trace.span("test.inner") {
          job()
          throw new IllegalStateException("boom")
        })
        assert(key.contains("test.outer"))
        assert(early() == 1)
        assert(key.contains("test.outer"))
        job()
      }
    }
    assert(key.isEmpty)
    assert(Option(sc.getLocalProperty("spark.job.description")).isEmpty)
    assert(keys("test.outer")("jobs") == 2 && keys("test.outer")("calls") == 1)
    assert(keys("test.inner")("jobs") == 2 && keys("test.inner")("calls") == 2)
    assert(keys("test.early")("calls") == 1)
  }

  test("a span on one thread does not tag another thread's jobs") {
    val spanOpen = new java.util.concurrent.CountDownLatch(1)
    // started outside every span, so it inherits no span property
    val other = new Thread(() => {
      spanOpen.await()
      sc.parallelize(1 to 4, 2).count()
    })
    other.start()
    Trace.window(sc)
    Trace.span("test.spanned") {
      spanOpen.countDown()
      other.join() // the other thread's job runs while this span is open
      sc.parallelize(1 to 4, 2).count()
    }
    val (totals, byKey) = Trace.window(sc)
    val keys = byKey.toMap
    assert(keys("test.spanned")("jobs") == 1)
    val unspanned = keys.filter { case (k, r) => k != "test.spanned" && r("jobs") > 0 }
    assert(unspanned.values.map(_("jobs")).sum == 1, unspanned.keys)
    assert(unspanned.keys.forall(_.contains("TraceSpec.scala")), unspanned.keys)
    assert(totals("jobs") == 2 && totals("tasks") == 4)
  }
}
