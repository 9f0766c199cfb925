package graft

import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.graft.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.RDDBlockId

/** The engine's one tracer. `span("layer.function") { … }` sets the name
  * as the `graft.span` local property and the job description of the
  * calling thread, so every Spark job its body starts carries it; on
  * exit (normal, thrown or a non-local return) the outer span's values
  * come back. Local properties are per thread (a thread started inside a
  * span inherits a copy, as Spark's broadcast threads do), and each span
  * keeps the values it replaced, so nested spans form a per-thread stack
  * and one thread's span never tags another thread's jobs.
  *
  * One listener, attached once per SparkContext, adds each finished
  * task's metrics to the key of its job — the innermost span, or for a
  * job started outside every span its call site ("collect at
  * Foo.scala:12") — and to process totals, which also count RDD block
  * storage and the peak executor memory. A span also records its calls
  * and wall time under its key. A layer that only builds a plan starts
  * no job: its span shows calls and wall time, and the jobs show under
  * the span that runs the action. [[count]] keeps driver-side counters
  * that no task metric sees (model loads, rows cached on the driver).
  *
  * The listener only adds up events and never drains the listener bus;
  * [[window]] drains it once per call. */
object Trace {
  val SpanKey = "graft.span"
  private val DescriptionKey = "spark.job.description"

  /** The figures of one record, in order. All are sums except the
    * `peak_` ones, which are maxima; `calls` and `wall_ns` are the span's
    * own, the rest come from its jobs' tasks. */
  private val Fields: Vector[String] = Vector("calls", "wall_ns", "jobs", "tasks",
    "run_ms", "cpu_ms", "gc_ms", "mem_spilled", "disk_spilled",
    "shuffle_read", "shuffle_write", "input_records", "rdd_mem_stored",
    "rdd_disk_stored", "rdd_blocks_dropped", "peak_storage_mem",
    "peak_exec_mem", "peak_heap")
  private val index = Fields.zipWithIndex.toMap
  private val FirstPeak = index("peak_storage_mem")

  /** One key's (or the process's) figures over a window. */
  final case class Record(values: Vector[Long]) {
    def apply(field: String): Long = values(index(field))
    /** A JSON object of the fields; `calls` and `wall_ns` only when the
      * key ran as a span. */
    def toJson: String = Fields.zip(values)
      .filter { case (f, _) => values(0) > 0 || index(f) > index("wall_ns") }
      .map { case (f, v) => s""""$f":$v""" }.mkString("{", ",", "}")
  }

  // guarded by `this`
  private val total = new Array[Long](Fields.size)
  private val byKey = mutable.LinkedHashMap.empty[String, Array[Long]]
  private val counters = mutable.HashMap.empty[String, Long]
  private val attached = new AtomicReference[SparkContext]()

  private def add(rec: Array[Long], figures: (String, Long)*): Unit =
    figures.foreach { case (f, v) =>
      val i = index(f)
      rec(i) = if (i >= FirstPeak) math.max(rec(i), v) else rec(i) + v
    }

  private def keyed(key: String) =
    byKey.getOrElseUpdate(key, new Array[Long](Fields.size))

  private def listen(sc: SparkContext): Unit = {
    val prev = attached.get
    if ((prev ne sc) && attached.compareAndSet(prev, sc))
      sc.addSparkListener(Listener)
  }

  def span[A](name: String)(body: => A): A = {
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext).filterNot(_.isStopped)
    val outer = sc.map { c =>
      listen(c)
      val saved = (c.getLocalProperty(SpanKey), c.getLocalProperty(DescriptionKey))
      c.setLocalProperty(SpanKey, name)
      c.setLocalProperty(DescriptionKey, name)
      saved
    }
    val t0 = System.nanoTime()
    try body
    finally {
      for (c <- sc; (key, description) <- outer) {
        c.setLocalProperty(SpanKey, key)
        c.setLocalProperty(DescriptionKey, description)
      }
      val wall = System.nanoTime() - t0
      synchronized(add(keyed(name), "calls" -> 1L, "wall_ns" -> wall))
    }
  }

  /** Add `n` to the driver-side counter `name`. */
  def count(name: String, n: Long = 1L): Unit =
    synchronized(counters(name) = counters.getOrElse(name, 0L) + n)

  /** The counter `name` since JVM start. */
  def counter(name: String): Long = synchronized(counters.getOrElse(name, 0L))

  /** The process totals and the per-key records (keys in first-seen
    * order) since the previous window, zeroing both. Attaches the
    * listener to `sc` if it is not yet, and drains the listener bus
    * first, so every event of a finished job is in. */
  def window(sc: SparkContext): (Record, Seq[(String, Record)]) = {
    listen(sc)
    BenchBus.flush(sc)
    synchronized {
      val out = (Record(total.toVector),
        byKey.toSeq.map { case (k, r) => k -> Record(r.toVector) })
      java.util.Arrays.fill(total, 0L)
      byKey.clear()
      out
    }
  }

  private object Listener extends SparkListener {
    private val stageKey = mutable.HashMap.empty[Int, String]
    private val jobStages = mutable.HashMap.empty[Int, Seq[Int]]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      // the result stage is the job's last and is named by its call site
      val key = prop(SpanKey).orElse(prop("callSite.short"))
        .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
        .getOrElse("unknown")
      Trace.synchronized {
        jobStages(e.jobId) = e.stageIds
        e.stageIds.foreach(stageKey(_) = key)
        add(keyed(key), "jobs" -> 1L)
        add(total, "jobs" -> 1L)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.synchronized {
      jobStages.remove(e.jobId).foreach(_.foreach(stageKey.remove))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.synchronized {
      val recs = total +: stageKey.get(e.stageId).map(keyed).toSeq
      val m = e.taskMetrics
      if (m != null) recs.foreach(add(_, "tasks" -> 1L,
        "run_ms" -> m.executorRunTime,
        "cpu_ms" -> m.executorCpuTime / 1000000L,
        "gc_ms" -> m.jvmGCTime,
        "mem_spilled" -> m.memoryBytesSpilled,
        "disk_spilled" -> m.diskBytesSpilled,
        "shuffle_read" -> (m.shuffleReadMetrics.localBytesRead +
          m.shuffleReadMetrics.remoteBytesRead),
        "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
        "input_records" -> m.inputMetrics.recordsRead))
      val em = e.taskExecutorMetrics
      if (em != null) recs.foreach(add(_,
        "peak_storage_mem" -> em.getMetricValue("OnHeapStorageMemory"),
        "peak_exec_mem" -> em.getMetricValue("OnHeapExecutionMemory"),
        "peak_heap" -> em.getMetricValue("JVMHeapMemory")))
    }

    // RDD blocks (localCheckpoint pins) landing in memory or on disk, and
    // dropped (a memory-only block evicted, to be recomputed)
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isInstanceOf[RDDBlockId]) Trace.synchronized {
        if (!info.storageLevel.isValid) add(total, "rdd_blocks_dropped" -> 1L)
        else add(total, "rdd_mem_stored" -> info.memSize,
          "rdd_disk_stored" -> info.diskSize)
      }
    }
  }
}
