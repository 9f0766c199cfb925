package graft.pipelines

import org.apache.hadoop.fs.Path
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Pipeline orchestration preserving the reference's semantics
  * (SURVEY §2.8), minus its bugs (§2 "Reference bugs"):
  *
  *  - gate: short-circuit the whole run unless every input table exists
  *    (reference: 18 `_SUCCESS` marker probes, dag-transform.py:55-63)
  *  - fan-out: the three marts (reference TaskGroup,
  *    dag-transform.py:452-472) share ONE scan and ONE aggregate of the
  *    facts ([[martBuilders]]); each mart's derive-and-write then runs
  *    concurrently
  *  - per-mart error isolation: one failure → Left in the status map,
  *    the others still complete (reference dag-extract.py:90-97). It
  *    covers derive-and-write only: a failed shared scan fails all three
  *    (each retries it)
  *  - markers: explicit `transform_SUCCESS` after all marts land
  *    (reference dag-transform.py:393-412) and a per-mart `<mart>_ERROR`
  *    on failure (reference writes per-table error markers,
  *    dag-extract.py:128-157) so downstream gates can skip per-mart;
  *    per-mart `_SUCCESS` comes free from Spark's FileOutputCommitter
  *  - the partition date is computed once per run and threaded through
  *    (the reference computed it at import time — stale across midnight)
  *
  * All filesystem access goes through the Hadoop `FileSystem` API
  * ([[Fs]]) so gates, markers, and the versioned sink run identically on
  * local disk, HDFS, and object-store connectors.
  */
object Runner {

  /** Pluggable sink family (K1-K5 analogs, SURVEY §2.2) — open for
    * user-defined sinks (a "pluggable" family can't be sealed). */
  trait Sink { def write(df: DataFrame, name: String): Unit }

  /** K2 analog: partitioned parquet, idempotent overwrite. */
  final case class PartitionedParquetSink(baseDir: String, partitionCols: Seq[String])
      extends Sink {
    def write(df: DataFrame, name: String): Unit = {
      val w = df.write.mode(SaveMode.Overwrite)
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(s"$baseDir/$name")
    }
  }

  /** K3 analog: the reference's single-file CSV mart (`coalesce(1)` is the
    * reference's deliberate anti-scale choice — kept for parity, used only
    * for final small marts, never mid-pipeline). */
  final case class SingleFileCsvSink(baseDir: String) extends Sink {
    def write(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode(SaveMode.Overwrite)
        .option("header", "true").csv(s"$baseDir/$name")
  }

  /** Versioned-publish sink: every run lands as a NEW immutable version
    * of `<name>` with time travel and rollback ([[Versioned]]) — the
    * atomic member of the family, safe on object stores too (no renames
    * anywhere; the commit is an exclusive marker create = conditional
    * PUT). */
  final case class VersionedSink(baseDir: String, keep: Int = 3) extends Sink {
    def write(df: DataFrame, name: String): Unit = {
      Versioned.publish(df, baseDir, name, keep); ()
    }
  }

  /** K4 analog: JDBC full-replace (drop+recreate = pandas
    * `if_exists="replace"`). Exercised against embedded Derby in specs. */
  final case class JdbcSink(url: String, props: java.util.Properties) extends Sink {
    def write(df: DataFrame, name: String): Unit =
      df.write.mode(SaveMode.Overwrite).jdbc(url, name, props)
  }

  final case class RunReport(
      date: java.time.LocalDate,
      statuses: Map[String, Either[Throwable, Long]],
      gated: Boolean,
      timeout: Duration = Duration.Inf)

  /** Gate: all catalog tables present under sfDir (S4 analog). */
  def gate(sfDir: String): Boolean =
    graft.catalog.Catalog.all.forall(t => Fs.exists(new Path(t.path(sfDir))))

  /** Bounded retry with doubling backoff (§2.8: the reference declares
    * `retries` + `retry_delay` per task, dag-extract.py:171-172). Only
    * non-fatal errors retry; the last failure propagates to the caller
    * (→ a Left in the status map). */
  @annotation.tailrec
  private def withRetry[T](retriesLeft: Int, delay: Duration)(body: () => T): T =
    Try(body()) match {
      case Success(v) => v
      case Failure(e) if retriesLeft > 0 && scala.util.control.NonFatal(e) =>
        Thread.sleep(delay.toMillis)
        withRetry(retriesLeft - 1, delay * 2)(body)
      case Failure(e) => throw e
    }

  /** Production mart builders: ONE scan and ONE aggregate feed all three
    * marts. [[RefTables.fusedStats]] over the union of the marts' stat
    * tables plus the team-level assist sums ([[RefTables.TeamAssists]])
    * is collected once and rebuilt as a local relation; attack, defense
    * and discipline are projected and derived from it, each written as
    * one file (`coalesce(1)`, like the reference's single-file marts).
    * The collect is a lazy val the three builders share, so [[run]]'s
    * concurrent builds start one scan between them, and a failed collect
    * runs again on the next build attempt. Driver-size limit: a refresh
    * collects one row per team (supplier, about 40 columns) to the
    * driver, so the supplier count is bounded by the driver heap — a
    * limit the distributed per-mart aggregates did not have. RunnerSpec and the benchmark's output check
    * compare the derived marts with the reference's join-topology forms
    * row for row. */
  def martBuilders(spark: SparkSession,
      sfDir: String): Map[String, () => DataFrame] = {
    lazy val stats = {
      val fused = RefTables.fusedStats(spark, sfDir,
        (RefTables.attackTableNames ++ RefTables.defenseTableNames ++
          RefTables.disciplineTableNames :+ RefTables.TeamAssists).distinct)
      spark.createDataFrame(java.util.Arrays.asList(fused.collect(): _*),
        fused.schema)
    }
    Map[String, DataFrame => DataFrame](
      "attack" -> Marts.attackProjectAndDerive,
      "defense" -> Marts.defenseFused,
      "discipline" -> Marts.disciplineFused)
      .map { case (n, derive) => n -> (() => derive(stats).coalesce(1)) }
  }

  /** Run all marts and publish them as ONE [[Versioned]] group: the
    * reference's "write transform_SUCCESS only after all marts land"
    * contract (dag-transform.py:393-412), made actually atomic — either
    * every mart of this run becomes visible or (after a crash) the group
    * is rolled forward in one recovery step; `Versioned.readGroup` serves
    * the last complete run even while a new one is mid-publish. Starts
    * with journal replay, like any write-ahead-log owner. */
  def runGrouped(spark: SparkSession, sfDir: String, baseDir: String,
      runDate: java.time.LocalDate = java.time.LocalDate.now(),
      keep: Int = 3): Option[Map[String, Long]] = {
    if (!gate(sfDir)) return None
    Versioned.recoverGroups(baseDir)
    val marts = martBuilders(spark, sfDir).toSeq.sortBy(_._1).map {
      case (n, build) => n -> build().withColumn("run_date",
        org.apache.spark.sql.functions.lit(runDate.toString))
    }
    Some(Versioned.publishGroup(marts, baseDir, keep))
  }

  /** Run the three reference marts concurrently against sfDir, writing
    * each through `sink`; returns per-mart statuses (row count or error).
    * Each mart's build+write retries up to `retries` times with doubling
    * `backoff` before counting as failed. `timeout` bounds each mart's
    * total wall time and defaults to unbounded — a healthy 100 TB mart
    * can legitimately run for hours, so only set a finite timeout when an
    * external scheduler needs this process to yield (note: on timeout the
    * mart is reported Left(TimeoutException) but its Spark jobs keep
    * running detached). */
  def run(spark: SparkSession, sfDir: String, sink: Sink,
      runDate: java.time.LocalDate = java.time.LocalDate.now(),
      markerDir: Option[String] = None,
      retries: Int = 2,
      backoff: FiniteDuration = 500.millis,
      timeout: Duration = Duration.Inf): RunReport = {
    if (!gate(sfDir)) return RunReport(runDate, Map.empty, gated = true, timeout)

    val marts = martBuilders(spark, sfDir)

    implicit val ec: ExecutionContext = ExecutionContext.global
    val futures = marts.map { case (name, build) =>
      name -> Future {
        withRetry(retries, backoff) { () =>
          val df = build().withColumn("run_date",
            org.apache.spark.sql.functions.lit(runDate.toString))
          // row count rides the write job via observe() — the previous
          // df.count() recomputed every mart a second time (fresh
          // Observation per attempt: one instance can only collect once)
          val (observed, obs) = Guard.withMetrics(df, Nil)
          sink.write(observed, name)
          obs.get("rows").asInstanceOf[Long]
        }
      }
    }
    val statuses = futures.map { case (name, f) =>
      name -> (Try(Await.result(f, timeout)) match {
        case Success(n) => Right(n): Either[Throwable, Long]
        case Failure(e) => Left(e): Either[Throwable, Long]
      })
    }
    markerDir.foreach { d =>
      Fs.mkdirs(new Path(d))
      statuses.foreach {
        case (name, Left(e)) =>
          Fs.writeString(new Path(s"$d/${name}_ERROR"),
            s"$runDate\n${e.getClass.getName}: ${e.getMessage}\n")
        case (name, Right(_)) =>
          // a success must retract any stale failure marker from an
          // earlier run, or downstream per-mart gates keep tripping on
          // transform_SUCCESS + <mart>_ERROR coexisting
          Fs.deleteRecursive(new Path(s"$d/${name}_ERROR"))
      }
      if (statuses.values.forall(_.isRight))
        Fs.writeString(new Path(s"$d/transform_SUCCESS"), runDate.toString)
      else
        // the mirror of the per-mart retraction above: a FAILED run must
        // retract a stale transform_SUCCESS from an earlier day, or a
        // downstream existence gate proceeds against yesterday's success
        // next to today's <mart>_ERROR
        Fs.deleteRecursive(new Path(s"$d/transform_SUCCESS"))
    }
    RunReport(runDate, statuses, gated = false, timeout)
  }
}
