package graft

import org.apache.hadoop.fs.Path
import graft.pipelines.{Fs, Versioned}

/** Forked-JVM worker for [[LeaseStressSpec]] — the CROSS-PROCESS half of
  * the lease protocol's test coverage (r14 verdict item 4). PublishSpec
  * proves refusal and reclaim arithmetic inside one JVM, where the
  * in-process `liveGens` witness short-circuits most of the file
  * protocol; what it cannot prove is that two real processes, which
  * share nothing but the filesystem, serialize through
  * `Fs.createExclusive` alone. Each worker is its own JVM (own
  * `writerToken`, own generation counter), launched by the spec via
  * ProcessBuilder, and reports through a log file.
  *
  * Modes:
  *  - `crash`: take the family lease, then `Runtime.halt` while holding
  *    it — leaves the stale lease file a real crashed writer leaves
  *    (no finally, no shutdown hooks), for the others to reclaim.
  *  - `lock`: hammer `withFamilyLease` around a critical section guarded
  *    by an exclusive `_STRESS_INSIDE` marker. Two processes inside the
  *    section at once (the only way the marker create can fail) is a
  *    mutual-exclusion VIOLATION — the observable corruption a
  *    double-reclaim would cause.
  *  - `publish`: boot a local SparkSession and hammer the real
  *    publish/vacuum/enforceRetention surface on one table, logging
  *    every version id this worker committed; the spec asserts the
  *    claims are globally disjoint and each is committed and readable.
  */
object LeaseStressWorker {

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val base = args(1)
    val table = args(2)
    val worker = args(3)
    val durationMs = args(4).toLong
    val ttlMs = args(5).toLong
    val logPath = args(6)
    Versioned.leaseTtlMs = ttlMs
    val log = new java.io.PrintWriter(new java.io.FileWriter(logPath), true)
    try mode match {
      case "crash" =>
        Versioned.withFamilyLease(base, Seq(table)) {
          log.println(s"CRASHING while holding the lease ($worker)")
          log.flush()
          // skip finally blocks AND shutdown hooks — a kill -9, not an exit
          Runtime.getRuntime.halt(7)
        }
      case "lock" => lockHammer(base, table, worker, durationMs, log)
      case "publish" => publishHammer(base, table, worker, durationMs, log)
      case "group" => groupHammer(base, worker, durationMs, log)
      case "mix" => mixHammer(base, table, worker, durationMs, log)
      case "maint" => maintHammer(base, table, worker, durationMs, log)
      case other => sys.error(s"unknown mode $other")
    } catch {
      case e: Throwable =>
        log.println(s"FATAL ${e.getClass.getName}: ${e.getMessage}")
        log.close()
        sys.exit(2)
    }
    log.close()
  }

  /** Mutual-exclusion hammer, no Spark: high iteration count, so the
    * acquire/release/reclaim file protocol gets hundreds of
    * cross-process collisions per run. */
  private def lockHammer(base: String, table: String, worker: String,
      durationMs: Long, log: java.io.PrintWriter): Unit = {
    val inside = new Path(s"$base/$table/_STRESS_INSIDE")
    val rnd = new java.util.Random(worker.hashCode.toLong)
    var acquired = 0L; var refused = 0L; var violations = 0L
    val end = System.currentTimeMillis() + durationMs
    while (System.currentTimeMillis() < end) {
      try {
        Versioned.withFamilyLease(base, Seq(table)) {
          // the exclusive create is the detector: it can only fail while
          // ANOTHER process is between its own create and delete — i.e.
          // two holders of one single-writer lease
          val won =
            try { Fs.createExclusive(inside, worker); true }
            catch { case _: java.io.IOException =>
              violations += 1
              log.println(s"VIOLATION $worker found _STRESS_INSIDE held")
              false
            }
          Thread.sleep(1 + rnd.nextInt(3).toLong)
          if (won) Fs.deleteRecursive(inside)
          acquired += 1
        }
      } catch {
        case _: Versioned.ConcurrentWriterException =>
          refused += 1
          Thread.sleep(rnd.nextInt(8).toLong)
        case e: Throwable =>
          log.println(s"ERROR ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    log.println(s"""SUMMARY {"worker":"$worker","acquired":$acquired,""" +
      s""""refused":$refused,"violations":$violations}""")
  }

  /** The real mutating surface: publish (mostly), vacuum and
    * enforceRetention (interleaved) against one versioned table from
    * this JVM's own SparkSession. */
  private def publishHammer(base: String, table: String, worker: String,
      durationMs: Long, log: java.io.PrintWriter): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .appName(s"lease-stress-$worker")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory(s"ls-wh-$worker").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val rnd = new java.util.Random(worker.hashCode.toLong)
    var iter = 0; var refused = 0L; var leaseLost = 0L
    val end = System.currentTimeMillis() + durationMs
    while (System.currentTimeMillis() < end) {
      iter += 1
      try {
        if (iter % 9 == 0) {
          val dead = Versioned.vacuum(base, table)
          log.println(s"vacuum $worker reclaimed ${dead.size}")
        } else if (iter % 7 == 0) {
          Versioned.enforceRetention(base, table, keep = 10000)
          log.println(s"retention $worker")
        } else {
          val v = Versioned.publish(
            Seq((worker, iter)).toDF("worker", "iter"),
            base, table, keep = 10000)
          log.println(s"pub $v $worker $iter")
        }
      } catch {
        case _: Versioned.ConcurrentWriterException =>
          refused += 1
          Thread.sleep(rnd.nextInt(15).toLong)
        case e: Versioned.LeaseLostException =>
          leaseLost += 1
          log.println(s"LEASELOST $worker: ${e.getMessage}")
        case e: Throwable =>
          log.println(s"ERROR ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    log.println(s"""SUMMARY {"worker":"$worker","iters":$iter,""" +
      s""""refused":$refused,"leaseLost":$leaseLost}""")
    spark.stop()
  }

  private def bootSpark(worker: String) = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .appName(s"lease-stress-$worker")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory(s"ls-wh-$worker").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Mixed producer for the maintenance leg: versioned publishes on
    * `table` (mostly) interleaved with publishes of the second table
    * `flat` — the two tables the maintenance worker's vacuum and
    * compactor respectively race against. */
  private def mixHammer(base: String, table: String, worker: String,
      durationMs: Long, log: java.io.PrintWriter): Unit = {
    val spark = bootSpark(worker)
    import spark.implicits._
    val rnd = new java.util.Random(worker.hashCode.toLong)
    var iter = 0; var refused = 0L
    val end = System.currentTimeMillis() + durationMs
    while (System.currentTimeMillis() < end) {
      iter += 1
      try {
        if (iter % 4 == 0) {
          val v = Versioned.publish(
            Seq((worker, iter)).toDF("worker", "iter"),
            base, "flat", keep = 10000)
          log.println(s"sink $v $worker $iter")
        } else {
          val v = Versioned.publish(
            Seq((worker, iter)).toDF("worker", "iter"),
            base, table, keep = 10000)
          log.println(s"pub $v $worker $iter")
        }
      } catch {
        case _: Versioned.ConcurrentWriterException =>
          refused += 1
          Thread.sleep(rnd.nextInt(15).toLong)
        case e: Versioned.LeaseLostException =>
          log.println(s"LEASELOST $worker: ${e.getMessage}")
        case e: Throwable =>
          log.println(s"ERROR ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    log.println(s"""SUMMARY {"worker":"$worker","iters":$iter,""" +
      s""""refused":$refused}""")
    spark.stop()
  }

  /** The maintenance side of that leg: Versioned.vacuum on the table
    * (orphan reclaim — alternating the includeInflight variant) and
    * Compaction.compact on the `flat` table (under its lease), both
    * racing the two live mix producers from a separate JVM. In a
    * crash-free run vacuum must reclaim ONLY pre-seeded debris — a
    * single reclaimed live in-flight dir is the corruption this leg
    * exists to catch (the spec counts reclaims exactly). */
  private def maintHammer(base: String, table: String, worker: String,
      durationMs: Long, log: java.io.PrintWriter): Unit = {
    val spark = bootSpark(worker)
    val rnd = new java.util.Random(worker.hashCode.toLong)
    var iter = 0; var refused = 0L; var compacts = 0L
    val end = System.currentTimeMillis() + durationMs
    while (System.currentTimeMillis() < end) {
      iter += 1
      try {
        if (iter % 2 == 0) {
          val dead = Versioned.vacuum(base, table,
            includeInflight = iter % 4 == 0)
          log.println(s"vacuum $worker ${dead.size}")
        } else if (Versioned.latestVersion(base, "flat").nonEmpty) {
          val r = graft.pipelines.Compaction.compact(spark, base, "flat",
            targetBytes = 1L << 30)
          compacts += 1
          log.println(s"compact $worker ${r.filesBefore} ${r.filesAfter}")
        }
      } catch {
        case _: Versioned.ConcurrentWriterException =>
          refused += 1
          Thread.sleep(rnd.nextInt(15).toLong)
        case e: Versioned.LeaseLostException =>
          log.println(s"LEASELOST $worker: ${e.getMessage}")
        case e: Throwable =>
          log.println(s"ERROR ${e.getClass.getName}: ${e.getMessage}")
      }
      Thread.sleep(rnd.nextInt(10).toLong)
    }
    log.println(s"""SUMMARY {"worker":"$worker","iters":$iter,""" +
      s""""refused":$refused,"compacts":$compacts}""")
    spark.stop()
  }

  /** Group-transaction hammer: two-table publishGroup transactions with
    * recoverGroups interleaved — recovery racing LIVE cross-process
    * writers is the contested path (a misfire would either roll forward
    * an in-flight journal, making the writer's own seal explode, or
    * delete a journal about to be sealed). In a crash-free run recovery
    * must roll NOTHING; the spec asserts that and per-journal payload
    * atomicity. */
  private def groupHammer(base: String, worker: String,
      durationMs: Long, log: java.io.PrintWriter): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .appName(s"lease-stress-grp-$worker")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory(s"lsg-wh-$worker").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val rnd = new java.util.Random(worker.hashCode.toLong)
    var iter = 0; var refused = 0L
    val end = System.currentTimeMillis() + durationMs
    while (System.currentTimeMillis() < end) {
      iter += 1
      try {
        if (iter % 5 == 0) {
          val rolled = Versioned.recoverGroups(base)
          log.println(s"recover $worker ${rolled.mkString(",")}")
        } else {
          val df = Seq((worker, iter)).toDF("worker", "iter")
          val vs = Versioned.publishGroup(
            Seq("a" -> df, "b" -> df), base, keep = 10000)
          log.println(s"grp ${vs("a")} ${vs("b")} $worker $iter")
        }
      } catch {
        case _: Versioned.ConcurrentWriterException =>
          refused += 1
          Thread.sleep(rnd.nextInt(15).toLong)
        case e: Versioned.LeaseLostException =>
          log.println(s"LEASELOST $worker: ${e.getMessage}")
        case e: Throwable =>
          log.println(s"ERROR ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    log.println(s"""SUMMARY {"worker":"$worker","iters":$iter,""" +
      s""""refused":$refused}""")
    spark.stop()
  }
}
