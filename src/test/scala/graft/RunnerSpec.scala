package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipelines.Runner

class RunnerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("gate short-circuits on missing inputs (no work, no marker)") {
    val out = java.nio.file.Files.createTempDirectory("runner-gated").toString
    val report = Runner.run(spark, "/tmp/definitely-missing-sf",
      Runner.SingleFileCsvSink(out), markerDir = Some(out))
    assert(report.gated)
    assert(report.statuses.isEmpty)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/transform_SUCCESS")))
  }

  test("full run: three marts fan out, statuses Right, marker + _SUCCESS written") {
    val out = java.nio.file.Files.createTempDirectory("runner-out").toString
    val date = java.time.LocalDate.of(2026, 8, 12)
    val report = Runner.run(spark, dir, Runner.SingleFileCsvSink(out),
      runDate = date, markerDir = Some(out))
    assert(!report.gated)
    assert(report.statuses.keySet == Set("attack", "defense", "discipline"))
    assert(report.statuses.values.forall(_.isRight))
    for (m <- Seq("attack", "defense", "discipline")) {
      val d = java.nio.file.Paths.get(s"$out/$m")
      assert(java.nio.file.Files.exists(d.resolve("_SUCCESS"))) // committer marker
      val csvs = java.nio.file.Files.list(d).filter(_.toString.endsWith(".csv"))
      assert(csvs.count() == 1) // K3 single-file semantics
    }
    val marker = java.nio.file.Paths.get(s"$out/transform_SUCCESS")
    assert(java.nio.file.Files.readString(marker) == "2026-08-12")
  }

  test("per-mart error isolation: one failing sink → Left, others complete, no marker") {
    val out = java.nio.file.Files.createTempDirectory("runner-isolate").toString
    final case class FailOn(inner: Runner.Sink, name: String) extends Runner.Sink {
      def write(df: org.apache.spark.sql.DataFrame, n: String): Unit =
        if (n == name) throw new RuntimeException("injected sink failure")
        else inner.write(df, n)
    }
    val report = Runner.run(spark, dir,
      FailOn(Runner.PartitionedParquetSink(out, Nil), "defense"),
      markerDir = Some(out))
    assert(report.statuses("defense").isLeft)
    assert(report.statuses("attack").isRight)
    assert(report.statuses("discipline").isRight)
    // partial success must NOT publish the completion marker
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/transform_SUCCESS")))
    // ...but the failing mart gets its per-mart _ERROR marker (reference
    // parity: dag-extract.py's per-table error markers) so a downstream
    // gate can skip just that mart
    val errMarker = java.nio.file.Paths.get(s"$out/defense_ERROR")
    assert(java.nio.file.Files.exists(errMarker))
    assert(java.nio.file.Files.readString(errMarker)
      .contains("injected sink failure"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/attack_ERROR")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/discipline_ERROR")))

    // a later clean run must retract the stale defense_ERROR marker —
    // otherwise transform_SUCCESS and defense_ERROR coexist and the
    // downstream per-mart gates read a contradiction
    val report2 = Runner.run(spark, dir,
      Runner.PartitionedParquetSink(out, Nil), markerDir = Some(out))
    assert(report2.statuses.values.forall(_.isRight))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/transform_SUCCESS")))
    assert(!java.nio.file.Files.exists(errMarker))
  }

  test("expectations: whole rule set compiles to ONE aggregate pass; " +
    "violation counts exact") {
    import graft.pipelines.Guard
    import graft.pipelines.Guard.Expectations
    val spark0 = spark
    import spark0.implicits._
    val df = Seq(
      (1L, "ok", 5.0), (2L, null, 50.0), (3L, "bad", -1.0), (4L, "ok", 7.0))
      .toDF("id", "status", "score")
    val e = Expectations(
      notNull = Seq("status"),
      accepted = Map("status" -> Seq("ok", "retry")),
      ranges = Map("score" -> (0.0, 10.0)))
    val rep = Guard.expectations(df, e)
    // single aggregate pass: no join, no window, at most the one
    // final-aggregate exchange
    val plan = rep.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
    assert("Exchange".r.findAllIn(plan).size <= 1, plan)
    val row = rep.collect()(0)
    assert(row.getAs[Long]("rows") == 4L)
    assert(row.getAs[Long]("null_status") == 1L)
    assert(row.getAs[Long]("domain_status") == 2L) // null + 'bad'
    assert(row.getAs[Long]("range_score") == 2L)   // 50.0 and -1.0
  }

  test("schemaDrift: missing/extra/type-changed columns reported; " +
    "order never flagged") {
    import graft.pipelines.Guard
    import org.apache.spark.sql.types._
    val spark0 = spark
    import spark0.implicits._
    val expected = StructType(Seq(StructField("a", LongType),
      StructField("b", StringType), StructField("c", IntegerType)))
    val df = Seq(("x", 1L, 2.0)).toDF("b", "a", "d") // reordered, c→d, no c
    val drift = Guard.schemaDrift(df.withColumn("a", $"a"), expected)
    assert(drift.exists(_.contains("missing column: c")))
    assert(drift.exists(_.contains("unexpected column: d")))
    // pure reorder with right types: clean
    val ok = Seq((1L, "x", 3)).toDF("a", "b", "c").select("c", "a", "b")
    assert(Guard.schemaDrift(ok, expected).isEmpty)
    // type change detected
    val retyped = Seq((1, "x", 3)).toDF("a", "b", "c") // a is Int not Long
    assert(Guard.schemaDrift(retyped, expected)
      .exists(_.contains("type int != expected bigint")))
  }

  test("runGrouped: all three marts publish as one atomic group; " +
    "readGroup serves the complete run") {
    import graft.pipelines.Versioned
    val out = java.nio.file.Files.createTempDirectory("runner-group").toString
    val v = Runner.runGrouped(spark, dir, out).get
    assert(v.keySet == Set("attack", "defense", "discipline"))
    val g = Versioned.readGroup(spark, out)
    assert(g.keySet == v.keySet)
    g.values.foreach(df => assert(df.count() > 0))
    assert(g("attack").columns.contains("run_date"))
  }

  test("runGrouped publishes the join-topology marts row for row, exact " +
    "doubles, on sf0.001 and sf0.01") {
    import graft.pipelines.{Marts, RefTables, Versioned}
    for (sf <- Seq(dir, "/root/testdata/sf0.01")) {
      val out = java.nio.file.Files.createTempDirectory("runner-parity").toString
      Runner.runGrouped(spark, sf, out).get
      val got = Versioned.readGroup(spark, out)
      val t = RefTables.tables(spark, sf)
      for ((name, mart) <- Seq("attack" -> Marts.attack(t),
          "defense" -> Marts.defense(t), "discipline" -> Marts.discipline(t))) {
        val expected = mart.collect().toSeq
        val published = got(name)
          .select(mart.columns.map(org.apache.spark.sql.functions.col): _*)
          .collect().toSeq
        assert(expected.nonEmpty, s"$name mart of $sf is empty")
        assert(published.diff(expected).isEmpty && expected.diff(published).isEmpty,
          s"$name mart of $sf differs from the join-topology mart")
      }
    }
  }

  test("one runGrouped starts at most 8 Spark jobs and reads lineitem once") {
    import graft.catalog.Catalog
    val out = java.nio.file.Files.createTempDirectory("runner-jobs").toString
    val rows = Seq("lineitem", "supplier")
      .map(Catalog.load(spark, dir, _).count()).sum
    for (run <- 1 to 2) {
      val (_, jobs, records) =
        SparkJobs.measured(spark)(Runner.runGrouped(spark, dir, out))
      info(s"runGrouped call $run: $jobs jobs, $records input records")
      assert(jobs <= 8, s"runGrouped call $run started $jobs jobs")
      assert(records == rows,
        s"runGrouped call $run read $records records, not lineitem + supplier once ($rows)")
    }
  }

  test("mart timeout: finite timeout → Left(TimeoutException); default is unbounded") {
    import scala.concurrent.duration._
    val out = java.nio.file.Files.createTempDirectory("runner-timeout").toString
    final case class SlowSink(inner: Runner.Sink, delayMs: Long) extends Runner.Sink {
      def write(df: org.apache.spark.sql.DataFrame, n: String): Unit = {
        Thread.sleep(delayMs); inner.write(df, n)
      }
    }
    // a mart that completes — but past the configured timeout — is a Left
    val slow = Runner.run(spark, dir,
      SlowSink(Runner.PartitionedParquetSink(out, Nil), delayMs = 5000),
      retries = 0, timeout = 200.millis)
    assert(slow.timeout == 200.millis)
    assert(slow.statuses.values.forall(s => s.isLeft &&
      s.left.exists(_.isInstanceOf[java.util.concurrent.TimeoutException])))
    // the default (Duration.Inf) never times a healthy mart out
    val ok = Runner.run(spark, dir,
      SlowSink(Runner.PartitionedParquetSink(
        java.nio.file.Files.createTempDirectory("runner-timeout2").toString,
        Nil), delayMs = 50))
    assert(ok.timeout == Duration.Inf)
    assert(ok.statuses.values.forall(_.isRight))
  }

  test("retry with backoff: once-failing sink succeeds on the retry") {
    val out = java.nio.file.Files.createTempDirectory("runner-retry").toString
    val failedOnce = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    final case class FlakySink(inner: Runner.Sink) extends Runner.Sink {
      def write(df: org.apache.spark.sql.DataFrame, n: String): Unit = {
        if (failedOnce.add(n)) throw new RuntimeException("transient failure")
        inner.write(df, n)
      }
    }
    val report = Runner.run(spark, dir,
      FlakySink(Runner.PartitionedParquetSink(out, Nil)),
      markerDir = Some(out), retries = 2,
      backoff = scala.concurrent.duration.Duration(50, "ms"))
    assert(report.statuses.values.forall(_.isRight))
    assert(failedOnce.size == 3) // every mart really did fail once
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/transform_SUCCESS")))
    // retries=0 keeps the old fail-fast behavior: the one transient
    // failure is terminal
    failedOnce.clear()
    val report0 = Runner.run(spark, dir,
      FlakySink(Runner.PartitionedParquetSink(
        java.nio.file.Files.createTempDirectory("runner-retry0").toString, Nil)),
      retries = 0)
    assert(report0.statuses.values.forall(_.isLeft))
  }

  test("quality guard: metrics ride the write job, thresholds validate after") {
    import graft.pipelines.Guard
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, "a"), (2L, null.asInstanceOf[String]), (3L, "c"))
      .toDF("id", "name")
    val (guarded, obs) = Guard.withMetrics(df, Seq("name"))
    val out = java.nio.file.Files.createTempDirectory("guard").toString
    guarded.write.parquet(s"$out/t") // the ONE job; metrics collected here
    assert(Guard.check(obs, minRows = 1, maxNullFrac = 0.5, Seq("name")) ==
      Right(Map("name" -> 1L, "rows" -> 3L)))
    val (g2, obs2) = Guard.withMetrics(df, Seq("name"))
    g2.count()
    val strict = Guard.check(obs2, minRows = 10, maxNullFrac = 0.0, Seq("name"))
    assert(strict.isLeft && strict.left.toOption.get.size == 2)
  }

  test("a failed run retracts a stale transform_SUCCESS from an earlier " +
    "run (the mirror of the per-mart error retraction)") {
    val out = java.nio.file.Files.createTempDirectory("runner-stale").toString
    val ok = Runner.run(spark, dir, Runner.PartitionedParquetSink(out, Nil),
      markerDir = Some(out))
    assert(ok.statuses.values.forall(_.isRight))
    val marker = java.nio.file.Paths.get(s"$out/transform_SUCCESS")
    assert(java.nio.file.Files.exists(marker))
    final case class FailAll() extends Runner.Sink {
      def write(df: org.apache.spark.sql.DataFrame, n: String): Unit =
        throw new RuntimeException("injected")
    }
    val bad = Runner.run(spark, dir, FailAll(), markerDir = Some(out))
    assert(bad.statuses.values.forall(_.isLeft))
    assert(!java.nio.file.Files.exists(marker),
      "yesterday's transform_SUCCESS must not survive a failed run")
  }

  test("partitioned parquet sink round-trips with partition pruning layout") {
    val out = java.nio.file.Files.createTempDirectory("runner-parq").toString
    val report = Runner.run(spark, dir,
      Runner.PartitionedParquetSink(out, Seq("run_date")),
      runDate = java.time.LocalDate.of(2026, 8, 12))
    assert(report.statuses.values.forall(_.isRight))
    // Hive-style layout (reference key template analog) + readable back
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/attack/run_date=2026-08-12")))
    val back = spark.read.parquet(s"$out/attack")
    assert(back.count() == report.statuses("attack").toOption.get)
    assert(back.columns.contains("run_date"))
  }
}
