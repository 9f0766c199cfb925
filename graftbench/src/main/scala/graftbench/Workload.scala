package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one pass of a workload's measured loop produced.
  *
  * @param build   seconds of the pass's one-off build (first refresh into
  *                an empty output, the full corpus publish, the index build)
  * @param ops     seconds of each steady-state operation (refresh, batch
  *                append, serve request)
  * @param writes  seconds of each write beside the reads (index appends)
  * @param items   input units handled: lineitem rows, documents offered,
  *                query vectors answered
  * @param itemSeconds the seconds `items` took
  * @param wall    seconds from the pass's start to its end, less `unmeasured`
  * @param loopCpu process CPU seconds of the operations after the build
  * @param unmeasured seconds of the pass outside the measured window:
  *                heap samples and check work that needs the build's output
  */
final case class Pass(build: Double, ops: Seq[Double], writes: Seq[Double],
    items: Long, itemSeconds: Double, wall: Double, attempted: Int,
    failed: Int, loopCpu: Double, unmeasured: Double) {
  /** Operations after the build. */
  def loopOps: Int = ops.length + writes.length
  def opCount: Int = loopOps + 1
}

final case class Ctx(spark: SparkSession, fixtures: String, seed: Long)

/** A benchmark workload: seeded inputs, a closed measured loop driven by
  * one client thread, and output checks that run after the timed window.
  * There is no warmup: the loop's first operation is the one-off build
  * (first refresh, full publish, index build), which the JVM runs cold, as
  * a fresh batch job or a freshly started server does, and the steady
  * operations after it are the ones the medians describe. */
trait Workload {
  def ctx: Ctx
  def spark: SparkSession = ctx.spark

  /** Generate the inputs under `dir`. */
  def generate(dir: Path): Unit

  /** Input sizes, as (name, value, unit). */
  def inputSizes: Seq[(String, Double, String)]

  /** Build, then run operations until `seconds` have passed since the
    * build ended or `maxOps` ran after the build (at least one runs),
    * writing outputs under `out`.
    * Layer calls go through `t`; when `t.enabled`, each operation first
    * calls every layer on its own. The heap is sampled after the build,
    * outside the window. */
  def run(out: Path, seconds: Double, maxOps: Int, t: Tracer): Pass

  /** The workload's own headline figures for a pass, by the names the
    * workload description uses. */
  def headline(p: Pass): Seq[(String, Double, String)]

  /** Checks on the outputs of the pass written under `out`; returns the
    * failures. */
  def check(out: Path): Seq[String]

  /** Per-layer numbers from a traced pass. */
  def layers(t: Tracer, p: Pass, out: Path): Map[String, Double]
}

/** Peak old-generation usage after a full collection, sampled after the
  * build and after the measured loop, outside the timed calls: the live
  * data the workload holds, without the noise of when the collector
  * happened to run. The
  * collection repeats, after a pause in which Spark's context cleaner can
  * drop the blocks the previous one found unreachable, until usage stops
  * falling. */
object Heap {
  private val oldGen = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getName.matches(".*(Old|Tenured).*")).toSeq
  @volatile private var peak = 0L

  def reset(): Unit = peak = 0L

  private def collected(): Long = {
    System.gc()
    oldGen.map(_.getUsage.getUsed).sum
  }

  def sample(): Unit = {
    var last = collected()
    var settled = false
    var rounds = 0
    while (!settled && rounds < 5) {
      Thread.sleep(100)
      val now = collected()
      settled = now > last * 0.98
      last = math.min(last, now)
      rounds += 1
    }
    peak = math.max(peak, last)
  }

  def peakMb: Double = peak / 1e6
}

object Workload {
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Relative path → size of every regular file under `dir`. */
  def listing(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => dir.relativize(f).toString -> Files.size(f)).toMap
      finally s.close()
    }

  /** Files (and their bytes) present after a write that were not before. */
  def written(before: Map[String, Long], after: Map[String, Long]): (Long, Long) = {
    val added = after.filter { case (p, _) => !before.contains(p) }
    (added.size.toLong, added.values.sum)
  }

  def path(p: Path): String = p.toAbsolutePath.toString

  def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9
}
