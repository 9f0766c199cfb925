package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import graft.GraftSession
import graft.bench.HostCpu

/** The benchmark's one command:
  *
  * {{{
  * Main --workload <mart_refresh|corpus_curation|vector_serve> --seed <n>
  *      --seconds <s> --trace <0|1> --fixtures <dir> --work <dir> --traces <dir>
  * }}}
  *
  * One JVM, one client thread, a `GraftSession` on `local[nproc]`. Prints
  * labelled lines (inputs, the workload's own figures, host load, and with
  * `--trace 1` the per-layer numbers), then one JSON result line. Exits
  * non-zero when an output check or an operation fails.
  */
object Main {

  /** Operations after the build that the traced pass repeats
    * (vector_serve rounds up to a block of requests). */
  val TracedOps = 1

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_heap_mb" -> "MB", "items_per_s" -> "1/s")

  val PerLayer: Seq[(String, String)] = Seq(
    "catalog.load_s" -> "s",
    "pipelines.RefTables.fusedStats_s" -> "s",
    "pipelines.RefTables.shuffle_mb" -> "MB",
    "pipelines.Marts.build_s" -> "s",
    "pipelines.Runner.self_s" -> "s",
    "pipelines.Versioned.publish_s" -> "s",
    "pipelines.Versioned.files_written" -> "count",
    "pipelines.Versioned.bytes_written" -> "bytes",
    "pipelines.Versioned.snapshot_ms" -> "ms",
    "pipelines.CorpusPublisher.self_s" -> "s",
    "pipelines.CorpusPublisher.admit_ratio" -> "ratio",
    "ops.TextOps.qualityScored_s" -> "s",
    "ops.DedupOps.pairs_s" -> "s",
    "ops.DedupOps.pairs_out" -> "count",
    "ops.DedupOps.shuffle_mb" -> "MB",
    "ops.DedupOps.clusters_s" -> "s",
    "ops.VectorOps.kmeans_s" -> "s",
    "ops.VectorOps.pqTrain_s" -> "s",
    "ops.AnnIndex.model_loads" -> "count",
    "ops.AnnIndex.rows_per_result" -> "ratio",
    "ops.AnnIndex.recall_at_10" -> "ratio",
    "spark.jobs_per_op" -> "count",
    "spark.tasks_per_op" -> "count",
    "spark.sched_wait_s" -> "s",
    "spark.task_cpu_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.shuffle_mb" -> "MB",
    "tracing.overhead_s" -> "s")

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, fixtures: String, work: Path, traces: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case a => throw new IllegalArgumentException(s"bad argument ${a.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("fixtures"), Paths.get(get("work")),
      Paths.get(get("traces")))
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val code =
      try run(parse(args), t0)
      catch { case NonFatal(e) => e.printStackTrace(); 2 }
    System.out.flush()
    sys.exit(code)
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def run(o: Opts, t0: Long): Int = {
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.create("graftbench", s"local[$nproc]")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = Ctx(spark, o.fixtures, o.seed)
    val w: Workload = o.workload match {
      case "mart_refresh" => new MartRefresh(ctx)
      case "corpus_curation" => new CorpusCuration(ctx)
      case "vector_serve" => new VectorServe(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val (_, generateS) = Workload.timed(w.generate(o.work.resolve("inputs")))
    val setupS = sessionS + generateS

    val untraced = new Tracer(spark, enabled = false)
    Heap.reset()
    val host0 = HostCpu.sample()
    val load0 = loadAverage()
    val cpu0 = Workload.processCpuSeconds()
    val c0 = untraced.counters()
    val pass = w.run(o.work.resolve("pass"), o.seconds, Int.MaxValue, untraced)
    val c1 = untraced.counters()
    val cpuS = Workload.processCpuSeconds() - cpu0
    val (otherShare, selfShare) = HostCpu.fracs(host0, HostCpu.sample())
    Heap.sample()
    val peakMb = Heap.peakMb

    val (failures, checkS) = Workload.timed(w.check(o.work.resolve("pass")))

    val (tailPct, tailS, tailN) = Stats.tail(pass.ops)
    val e2e = Map(
      "setup_s" -> setupS,
      "peak_heap_mb" -> peakMb,
      "items_per_s" -> pass.items / pass.itemSeconds)

    w.inputSizes.foreach { case (n, v, u) => println(s"input $n ${fmt(v)} $u") }
    println(s"setup session_s=${fmt(sessionS)} " +
      s"generate_s=${fmt(generateS)}")
    println(s"host nproc=$nproc loadavg_1m=${fmt(load0)} " +
      s"other_cpu_share=${fmt(otherShare)} self_cpu_share=${fmt(selfShare)}")
    println(s"ops attempted=${pass.attempted} failed=${pass.failed} " +
      s"failed_frac=${fmt(pass.failed.toDouble / pass.attempted)} " +
      s"op_samples=${pass.ops.length} highest_percentile_with_ten_beyond=${fmt(tailPct)} " +
      s"value_ms=${fmt(tailS * 1000)} op_ms=${pass.ops.map(x => f"${x * 1000}%.0f").mkString(",")}")
    (w.headline(pass) ++ Seq(("build_s", pass.build, "s"), ("cpu_s", cpuS, "s"),
        ("cpu_s_per_op", pass.loopCpu / pass.loopOps, "s"))).foreach { case (n, v, u) =>
      println(s"metric $n ${fmt(v)} $u")
    }
    println(s"checks failures=${failures.length} check_s=${fmt(checkS)} " +
      s"unmeasured_s=${fmt(pass.unmeasured)}")
    failures.foreach(f => println(s"check FAILED $f"))

    var tracedFailed = 0
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) EndToEnd.map { case (n, u) => (n, e2e(n), u) }
      else {
        val tracer = new Tracer(spark, enabled = true)
        val tracedPass = w.run(o.work.resolve("traced"), Double.PositiveInfinity,
          math.min(pass.loopOps, TracedOps), tracer)
        val layers = w.layers(tracer, tracedPass, o.work.resolve("traced"))
        tracedFailed = tracedPass.failed
        Files.createDirectories(o.traces)
        val spansFile = o.traces.resolve(s"${o.workload}-seed${o.seed}.jsonl")
        tracer.writeJsonLines(spansFile)
        val n = pass.opCount.toDouble
        val d = c1 - c0
        val measured = layers ++ Map(
          "catalog.load_s" -> tracer.meanSeconds("catalog.load"),
          "pipelines.Versioned.snapshot_ms" -> tracer.meanSeconds("pipelines.Versioned.snapshot") * 1000,
          "spark.jobs_per_op" -> d.jobs / n,
          "spark.tasks_per_op" -> d.tasks / n,
          "spark.sched_wait_s" -> d.schedWaitMs / 1e3 / n,
          "spark.task_cpu_s" -> d.taskCpuNs / 1e9 / n,
          "spark.gc_s" -> d.gcMs / 1e3 / n,
          "spark.shuffle_mb" -> d.shuffleBytes / 1e6 / n,
          "tracing.overhead_s" -> tracer.overheadSeconds / tracedPass.opCount)
        println(s"trace spans=${tracer.spans.length} file=${o.traces.getFileName}/${spansFile.getFileName} " +
          s"traced_wall_s=${fmt(tracedPass.wall)} recording_s=${fmt(tracer.overheadSeconds)} " +
          s"failed=$tracedFailed")
        tracer.spans.map(_.name).distinct.foreach { name =>
          val s = tracer.spans.filter(_.name == name)
          val c = tracer.countersOf(name)
          println(s"span $name calls=${s.length} total_s=${fmt(tracer.totalSeconds(name))} " +
            s"self_s=${fmt(tracer.selfSeconds(name))} jobs=${c.jobs} tasks=${c.tasks} " +
            s"task_cpu_s=${fmt(c.taskCpuNs / 1e9)} shuffle_mb=${fmt(c.shuffleBytes / 1e6)} " +
            s"spill_mb=${fmt(c.spillBytes / 1e6)} " +
            s"input_records=${c.inputRecords}")
        }
        PerLayer.map { case (n, u) => (n, measured.getOrElse(n, 0.0), u) }
      }
    metrics.foreach { case (n, v, u) => println(s"${if (o.trace) "layer" else "e2e"} $n ${fmt(v)} $u") }

    val correct = failures.isEmpty && metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    val json = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${fmt(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${pass.attempted}, """ +
      s""""failed": ${pass.failed}, "metrics": {$json}}""")
    spark.stop()
    if (correct && pass.failed == 0 && tracedFailed == 0) 0 else 1
  }

  private def loadAverage(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}
