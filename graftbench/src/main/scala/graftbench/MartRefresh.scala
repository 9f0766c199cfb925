package graftbench

import java.nio.file.Path

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}

import graft.catalog.Catalog
import graft.pipelines.{Marts, RefTables, Runner, Versioned}

/** The reference's daily medallion run: each operation refreshes the three
  * marts from the day's catalog directory with `Runner.runGrouped` (gate,
  * fused marts, one atomic group publish with retention). The build is the
  * first refresh, into an empty output. */
final class MartRefresh(val ctx: Ctx) extends Workload {
  import Workload._

  private val date0 = java.time.LocalDate.of(2024, 1, 1)
  private var in: Gen.MartInputs = _
  /** Refreshes after the build that every pass runs. */
  private val MinRefreshes = 2
  private var firstPublish: Map[String, Seq[Row]] = Map.empty
  private var filesWritten, bytesWritten = 0L

  def generate(dir: Path): Unit =
    in = Gen.mart(spark, ctx.fixtures, ctx.seed, path(dir))

  def inputSizes: Seq[(String, Double, String)] = Seq(
    ("lineitem_rows", in.lineitemRows.toDouble, "rows"),
    ("input_bytes", in.bytes.toDouble, "bytes"))

  def run(out: Path, seconds: Double, maxOps: Int, t: Tracer): Pass = {
    val base = path(out.resolve("marts"))
    filesWritten = 0
    bytesWritten = 0
    var attempted, failed = 0
    var unmeasured = 0.0
    def refresh(i: Int): Double = {
      t.runId = i
      val date = date0.plusDays(i)
      val (ok, s) = timed {
        try {
          if (t.enabled) layered(t, in.dayDir, base, out.resolve("standalone"), date)
          else Runner.runGrouped(spark, in.dayDir, base, date).isDefined
        } catch { case NonFatal(e) => Console.err.println(s"refresh $i: $e"); false }
      }
      attempted += 1
      if (!ok) failed += 1
      s
    }
    val passStart = System.nanoTime()
    val build = refresh(0)
    unmeasured += timed(Heap.sample())._2
    // kept for the first refresh's check, before retention prunes it
    if (!t.enabled) unmeasured += timed { firstPublish = published(base) }._2
    val ops = Seq.newBuilder[Double]
    val start = System.nanoTime()
    val unmeasured0 = unmeasured
    def elapsed = (System.nanoTime() - start) / 1e9 - (unmeasured - unmeasured0)
    val cpu0 = processCpuSeconds()
    var i = 1
    while (i <= math.min(MinRefreshes, maxOps) || (elapsed < seconds && i <= maxOps)) {
      ops += refresh(i)
      i += 1
    }
    val o = ops.result()
    Pass(build, o, Nil, in.lineitemRows * o.length, o.sum,
      (System.nanoTime() - passStart) / 1e9 - unmeasured, attempted, failed,
      processCpuSeconds() - cpu0, unmeasured)
  }

  /** One refresh with every layer called on its own, in dependency order,
    * each output materialized, followed by the real `runGrouped`. The
    * Runner's own work is its gate probe and the journal recovery it runs
    * before building. */
  private def layered(t: Tracer, day: String, base: String, standalone: Path,
      date: java.time.LocalDate): Boolean = t.span("op.refresh") {
    t.span("pipelines.Runner.gate") {
      Runner.gate(day)
      Versioned.recoverGroups(base)
    }
    t.span("catalog.load") {
      noop(Catalog.load(spark, day, "lineitem"))
      noop(Catalog.load(spark, day, "supplier"))
    }
    val stats: Seq[DataFrame] = t.span("pipelines.RefTables.fusedStats") {
      val fused = Seq(RefTables.attackTableNames, RefTables.defenseTableNames,
          RefTables.disciplineTableNames)
        .map(names => RefTables.fusedStats(spark, day, names)) :+
        RefTables.tables(spark, day)("player_expected_assists")
      fused.foreach(f => noop(f.persist()))
      fused
    }
    val marts = t.span("pipelines.Marts.build") {
      val m = Seq(
        "attack" -> Marts.attackFused(stats(0), stats(3)),
        "defense" -> Marts.defenseFused(stats(1)),
        "discipline" -> Marts.disciplineFused(stats(2)))
        .map { case (n, df) => n -> df.withColumn("run_date", lit(date.toString)).persist() }
      m.foreach(x => noop(x._2))
      m
    }
    t.span("pipelines.Versioned.publish") {
      Versioned.publishGroup(marts, path(standalone), keep = 3)
    }
    // uncached first, or the real refresh would read the frames above
    (stats ++ marts.map(_._2)).foreach(_.unpersist())
    val before = listing(java.nio.file.Paths.get(base))
    val ok = t.span("pipelines.Runner.runGrouped") {
      Runner.runGrouped(spark, day, base, date).isDefined
    }
    val (f, b) = written(before, listing(java.nio.file.Paths.get(base)))
    filesWritten += f
    bytesWritten += b
    t.span("pipelines.Versioned.snapshot") { Versioned.latestGroupVersions(base) }
    ok
  }

  def headline(p: Pass): Seq[(String, Double, String)] = Seq(
    ("refresh_p50_s", Stats.median(p.ops), "s"),
    ("refresh_rows_per_s", p.items / p.itemSeconds, "rows/s"))

  /** The published fused marts equal the join-topology marts, after the
    * first and after the last refresh. */
  def check(out: Path): Seq[String] = {
    val expected = joinTopologyMarts(in.dayDir)
    Seq("first" -> firstPublish, "last" -> published(path(out.resolve("marts"))))
      .flatMap { case (which, got) =>
        expected.toSeq.flatMap { case (name, rows) =>
          val g = got(name).map(r => Row.fromSeq(rows.head.schema.fieldNames.map(r.getAs[Any])))
          if (rows.diff(g).nonEmpty || g.diff(rows).nonEmpty)
            Some(s"$name mart of the $which refresh differs from the join-topology mart")
          else None
        }
      }
  }

  private def published(base: String): Map[String, Seq[Row]] =
    Versioned.readGroup(spark, base).map { case (n, df) => n -> df.collect().toSeq }

  /** The reference's marts over the 18 separately aggregated stat tables. */
  private def joinTopologyMarts(day: String): Map[String, Seq[Row]] = {
    val tables = RefTables.tables(spark, day)
    val marts = Map("attack" -> Marts.attack(tables),
      "defense" -> Marts.defense(tables), "discipline" -> Marts.discipline(tables))
      .map { case (n, df) => n -> df.collect().toSeq }
    marts.foreach { case (n, rows) => require(rows.nonEmpty, s"$n mart for $day is empty") }
    marts
  }

  def layers(t: Tracer, p: Pass, out: Path): Map[String, Double] = {
    val n = p.opCount.toDouble
    Map(
      "pipelines.RefTables.fusedStats_s" -> t.meanSeconds("pipelines.RefTables.fusedStats"),
      "pipelines.RefTables.shuffle_mb" -> t.countersOf("pipelines.RefTables.fusedStats").shuffleBytes / 1e6 / n,
      "pipelines.Marts.build_s" -> t.meanSeconds("pipelines.Marts.build"),
      "pipelines.Runner.self_s" -> t.meanSeconds("pipelines.Runner.gate"),
      "pipelines.Versioned.publish_s" -> t.meanSeconds("pipelines.Versioned.publish"),
      "pipelines.Versioned.files_written" -> filesWritten / n,
      "pipelines.Versioned.bytes_written" -> bytesWritten / n)
  }
}
