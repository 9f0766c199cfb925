package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts. Jobs carry the submitting
  * thread's local properties, so the block runs under a unique tag and
  * a listener counts the jobs that carry it. The listener bus delivers
  * in order: once a marker job submitted after the block is seen, every
  * job the block started has been seen too. */
object SparkJobs {
  private val Key = "graft.spec.jobs"

  def counted[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
          .foreach(started.add)
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
      (out, started.toArray.count(_ == tag))
    } finally sc.removeSparkListener(listener)
  }
}
