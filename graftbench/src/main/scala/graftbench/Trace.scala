package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graft.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark-side counters for one window of work, read from task-end events. */
final case class Counters(jobs: Long = 0, tasks: Long = 0, taskCpuNs: Long = 0,
    gcMs: Long = 0, schedWaitMs: Long = 0, shuffleBytes: Long = 0,
    spillBytes: Long = 0, inputRecords: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    taskCpuNs - o.taskCpuNs, gcMs - o.gcMs, schedWaitMs - o.schedWaitMs,
    shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes,
    inputRecords - o.inputRecords)
  def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks,
    taskCpuNs + o.taskCpuNs, gcMs + o.gcMs, schedWaitMs + o.schedWaitMs,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes,
    inputRecords + o.inputRecords)
}

/** Accumulates [[Counters]] from the listener bus. Scheduling wait is the
  * time each task spent between its stage's submission and its launch:
  * the time work waited for a task slot. */
final class CountingListener extends SparkListener {
  private var c = Counters()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { c = c.copy(jobs = c.jobs + 1) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitted.put(e.stageInfo.stageId, java.lang.Long.valueOf(
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val wait = Option(stageSubmitted.get(e.stageId))
      .map(s => math.max(0L, e.taskInfo.launchTime - s)).getOrElse(0L)
    val m = Option(e.taskMetrics)
    c = c + Counters(
      tasks = 1,
      taskCpuNs = m.map(_.executorCpuTime).getOrElse(0L),
      gcMs = m.map(_.jvmGCTime).getOrElse(0L),
      schedWaitMs = wait,
      shuffleBytes = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      spillBytes = m.map(_.diskBytesSpilled).getOrElse(0L),
      inputRecords = m.map(_.inputMetrics.recordsRead).getOrElse(0L))
  }

  def snapshot(): Counters = synchronized(c)
}

/** One timed call into a layer. `runId` groups the spans of one
  * operation (one refresh, one append, one serve request). */
final case class Span(id: Int, parent: Int, name: String, runId: Long,
    startNs: Long, endNs: Long, counters: Counters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. When enabled, a workload calls each layer on
  * its own, in dependency order, before the real operation, and spans are
  * recorded; when disabled, [[span]] only runs its body, so the measured
  * run pays nothing for the tracer's existence. Spans are written out
  * once, at the end of the run. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val listener = new CountingListener
  spark.sparkContext.addSparkListener(listener)
  private val recorded = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var bookkeepingNs = 0L
  var runId: Long = 0

  /** Counters since the tracer started, after draining the listener bus. */
  def counters(): Counters = {
    BenchBus.flush(spark.sparkContext)
    listener.snapshot()
  }

  /** Seconds the tracer spent outside the spans' bodies: draining the
    * listener bus, reading counters and keeping the records. */
  def overheadSeconds: Double = bookkeepingNs / 1e9

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val c0 = counters()
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      bookkeepingNs += t0 - b0
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        recorded += Span(id, parent, name, runId, t0, t1, counters() - c0)
        bookkeepingNs += System.nanoTime() - t1
      }
    }

  def spans: Seq[Span] = recorded.toSeq

  /** Summed self time of every span called `name`: its duration minus
    * the time covered by its direct children. */
  def selfSeconds(name: String): Double = {
    val children = recorded.groupBy(_.parent)
    recorded.filter(_.name == name).map { s =>
      s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum
    }.sum
  }

  def totalSeconds(name: String): Double =
    recorded.filter(_.name == name).map(_.seconds).sum

  def calls(name: String): Int = recorded.count(_.name == name)

  /** Seconds per call of the spans called `name`; 0 when none ran. */
  def meanSeconds(name: String): Double =
    if (calls(name) == 0) 0.0 else totalSeconds(name) / calls(name)

  def countersOf(name: String): Counters =
    recorded.filter(_.name == name).map(_.counters).foldLeft(Counters())(_ + _)

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = recorded.map { s =>
      val c = s.counters
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""run_id":${s.runId},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""jobs":${c.jobs},"tasks":${c.tasks},"task_cpu_ns":${c.taskCpuNs},""" +
        s""""gc_ms":${c.gcMs},"sched_wait_ms":${c.schedWaitMs},""" +
        s""""shuffle_bytes":${c.shuffleBytes},"spill_bytes":${c.spillBytes},""" +
        s""""input_records":${c.inputRecords}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
