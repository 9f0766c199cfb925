package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts. Jobs carry the submitting
  * thread's local properties, so the block runs under a unique tag and
  * a listener counts the jobs that carry it. The listener bus delivers
  * in order: once a marker job submitted after the block is seen, every
  * job the block started, and every task they ran, has been seen too. */
object SparkJobs {
  private val Key = "graft.spec.jobs"

  def counted[A](spark: SparkSession)(body: => A): (A, Int) = {
    val (out, jobs, _) = measured(spark)(body)
    (out, jobs)
  }

  /** [[counted]] plus the input records the block's tasks read. */
  def measured[A](spark: SparkSession)(body: => A): (A, Int, Long) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val records = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
          .foreach { t =>
            if (t == tag) e.stageIds.foreach(stages.add)
            started.add(t)
          }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    def tagged[B](t: String)(b: => B): B = {
      sc.setLocalProperty(Key, t)
      try b finally sc.setLocalProperty(Key, null)
    }
    sc.addSparkListener(listener)
    try {
      val out = tagged(tag)(body)
      tagged(s"$tag/marker")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30000000000L
      while (!started.contains(s"$tag/marker")) {
        assert(System.nanoTime() < deadline, "marker job never reported")
        Thread.sleep(10)
      }
      (out, started.toArray.count(_ == tag), records.get)
    } finally sc.removeSparkListener(listener)
  }
}
