package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.Path
import graft.pipelines.{Fs, Versioned}

/** Cross-PROCESS lease stress (r14 verdict item 4). PublishSpec pins the
  * protocol's refusal/reclaim arithmetic inside one JVM; these tests
  * hammer it across real process boundaries — separate JVMs that share
  * nothing but the filesystem, so the only serialization available is
  * the one the protocol claims is load-bearing: `Fs.createExclusive` on
  * the lease file. A crashed holder (`Runtime.halt`, no finally) and
  * continuously re-seeded backdated foreign leases force the
  * stale-reclaim path, including concurrent reclaimers of one stale
  * generation; the `_STRESS_INSIDE` exclusive marker detects any
  * mutual-exclusion violation (the observable corruption of a
  * double-reclaim) directly, and the publish run asserts the end-state
  * invariants the verdict names: no lost version (every committed
  * version on disk is exactly one worker's claim), no stranded lease,
  * no leftover reclaim marker.
  */
class LeaseStressSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // same list as build.sbt's jdk17AddOpens — the worker creates a
  // SparkSession outside spark-submit in publish mode
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Fork a LeaseStressWorker JVM; stdout/stderr land in `out`. */
  private def fork(out: java.io.File, xmx: String, args: String*): Process = {
    val java = System.getProperty("java.home") + "/bin/java"
    val cmd = Seq(java) ++ addOpens ++ Seq(s"-Xmx$xmx",
      "-Dspark.ui.enabled=false", "-cp",
      System.getProperty("java.class.path"),
      "graft.LeaseStressWorker") ++ args
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(out)
    pb.start()
  }

  private def slurp(f: java.io.File): String =
    if (f.exists) new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    else ""

  test("three processes + a crashed holder + re-seeded stale foreign " +
    "leases: mutual exclusion holds through createExclusive alone " +
    "(zero violations), every process makes progress, nothing stranded") {
    val base = tmp("lease-stress-lock")
    val table = "t"
    val lease = new Path(s"$base/$table/_LEASE")
    val dir = new java.io.File(base)

    // 1. a writer crashes (halt — no finally, no hooks) holding the lease
    val crashOut = new java.io.File(dir, "crash.out")
    val crashLog = new java.io.File(dir, "crash.log")
    val crasher = fork(crashOut, "256m", "crash", base, table, "w-crash",
      "0", "600000", crashLog.getPath)
    assert(crasher.waitFor(60, java.util.concurrent.TimeUnit.SECONDS),
      s"crasher hung:\n${slurp(crashOut)}")
    assert(crasher.exitValue == 7,
      s"crasher should halt(7):\n${slurp(crashOut)}\n${slurp(crashLog)}")
    assert(Fs.exists(lease), "the crash must leave its stale lease behind")

    // 2. three hammers with a 1.5 s TTL must wait out the fresh-looking
    // stale lease, reclaim it (contending on the reclaim marker), then
    // slug it out live for the rest of the run
    val durationMs = 8000L
    val workers = (1 to 3).map { i =>
      val out = new java.io.File(dir, s"w$i.out")
      val log = new java.io.File(dir, s"w$i.log")
      (i, out, log, fork(out, "256m", "lock", base, table, s"w$i",
        durationMs.toString, "1500", log.getPath))
    }

    // 3. seeder: keep injecting BACKDATED foreign leases whenever the
    // file is free, so the reclaim path runs dozens of times per run
    // (not just once for the crasher's) — stops well before the workers
    // so the last seed is always reclaimed
    val seedUntil = System.currentTimeMillis() + durationMs - 2500
    var seeded = 0
    while (System.currentTimeMillis() < seedUntil) {
      try {
        // no exists pre-check: the atomic create IS the check — a gap
        // between worker releases is narrow, so seize it in one syscall
        Fs.createExclusive(lease, "dead-foreign-writer 1\n")
        Fs.of(lease).setTimes(lease, System.currentTimeMillis() - 20000, -1)
        seeded += 1
      } catch { case _: java.io.IOException => () } // a worker holds it
      Thread.sleep(20)
    }

    val summaries = workers.map { case (i, out, log, p) =>
      assert(p.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
        s"worker w$i hung:\n${slurp(out)}")
      assert(p.exitValue == 0, s"worker w$i failed:\n${slurp(out)}\n${slurp(log)}")
      val body = slurp(log)
      assert(!body.contains("VIOLATION") && !body.contains("ERROR") &&
        !body.contains("FATAL"), s"worker w$i log:\n$body")
      val acq = """"acquired":(\d+)""".r.findFirstMatchIn(body)
        .map(_.group(1).toLong)
      val vio = """"violations":(\d+)""".r.findFirstMatchIn(body)
        .map(_.group(1).toLong)
      assert(acq.isDefined && vio.isDefined, s"no summary from w$i:\n$body")
      (acq.get, vio.get)
    }
    assert(summaries.map(_._2).sum == 0, "mutual-exclusion violations")
    // every process reclaimed/contended its way to real progress
    summaries.zipWithIndex.foreach { case ((acq, _), i) =>
      assert(acq >= 1, s"worker ${i + 1} never acquired")
    }
    // liveness floor, not a throughput bar: each worker's >=1 above is
    // the reclaim/contention proof; the total only guards against a
    // near-deadlocked run (a loaded host mid-suite reaches ~40, a quiet
    // one 100+)
    assert(summaries.map(_._1).sum >= 15,
      s"suspiciously little total progress: $summaries")
    // the crasher's lease plus every seeded one each force a reclaim
    // cycle; with three contenders per cycle the reclaim-marker
    // contention path runs multiple times per run
    assert(seeded >= 1, s"seeder injected only $seeded stale leases — " +
      "the reclaim path wasn't exercised beyond the crasher's")
    // nothing stranded: no lease, no reclaim marker, no critical-section
    // marker survive the run
    val leftovers = Fs.list(new Path(s"$base/$table")).map(_.getPath.getName)
    assert(!Fs.exists(lease), s"stranded lease; dir: $leftovers")
    assert(!leftovers.exists(_.contains(".reclaim.")),
      s"leftover reclaim marker: $leftovers")
    assert(!leftovers.contains("_STRESS_INSIDE"),
      s"leftover critical-section marker: $leftovers")
  }

  test("two publishing processes on one table: every committed version " +
    "is exactly one worker's claim (no lost update, no phantom), all " +
    "claims readable, no stranded lease") {
    val base = tmp("lease-stress-pub")
    val table = "t"
    val dir = new java.io.File(base)
    val workers = (1 to 2).map { i =>
      val out = new java.io.File(dir, s"p$i.out")
      val log = new java.io.File(dir, s"p$i.log")
      (i, out, log, fork(out, "1200m", "publish", base, table, s"p$i",
        "12000", "600000", log.getPath))
    }
    val claims = workers.map { case (i, out, log, p) =>
      assert(p.waitFor(240, java.util.concurrent.TimeUnit.SECONDS),
        s"publisher p$i hung:\n${slurp(out)}")
      assert(p.exitValue == 0,
        s"publisher p$i failed:\n${slurp(out).takeRight(4000)}\n${slurp(log)}")
      val body = slurp(log)
      assert(!body.contains("LEASELOST") && !body.contains("ERROR") &&
        !body.contains("FATAL"), s"publisher p$i log:\n$body")
      val pubs = """(?m)^pub (\d+) (\S+) (\d+)$""".r.findAllMatchIn(body)
        .map(m => m.group(1).toLong -> m.group(3).toInt).toMap
      assert(pubs.nonEmpty, s"publisher p$i never published:\n$body")
      s"p$i" -> pubs
    }.toMap
    // claims are globally disjoint — two workers never committed the
    // same version id (the lost-update shape a broken lease would allow)
    val all = claims.values.flatMap(_.keys).toSeq
    assert(all.size == all.distinct.size,
      s"duplicate version claims across processes: $claims")
    // the on-disk committed set IS the union of the claims: no lost
    // version (a claim whose commit vanished), no phantom (a commit
    // nobody claims) — and the interleaved vacuums deleted none of them
    val t = new Path(s"$base/$table")
    val committed = Fs.list(t).filter(_.isDirectory)
      .map(_.getPath).filter(p => p.getName.startsWith("_v"))
      .filter(p => Fs.exists(new Path(p, "_COMMIT")))
      .flatMap(_.getName.stripPrefix("_v").toLongOption).toSet
    assert(committed == all.toSet,
      s"on-disk committed $committed != claimed ${all.toSet}")
    assert(Versioned.latestVersion(base, table).contains(all.max))
    // spot-read each worker's first and last claim: the committed bytes
    // are that worker's payload, not a racer's
    import spark.implicits._
    claims.foreach { case (w, pubs) =>
      Seq(pubs.keys.min, pubs.keys.max).foreach { v =>
        val rows = Versioned.read(spark, base, table, Some(v))
          .as[(String, Int)].collect().toSeq
        assert(rows == Seq((w, pubs(v))),
          s"version $v claimed by $w holds $rows")
      }
    }
    val leftovers = Fs.list(t).map(_.getPath.getName)
    assert(!leftovers.contains("_LEASE"), s"stranded lease: $leftovers")
    assert(!leftovers.exists(_.contains(".reclaim.")),
      s"leftover reclaim marker: $leftovers")
  }

  test("two group-publishing processes with interleaved recovery: every " +
    "journal is sealed and ATOMIC (both members carry one worker's " +
    "payload), recovery never rolls forward a live writer's journal") {
    val base = tmp("lease-stress-grp")
    val dir = new java.io.File(base)
    val workers = (1 to 2).map { i =>
      val out = new java.io.File(dir, s"g$i.out")
      val log = new java.io.File(dir, s"g$i.log")
      (i, out, log, fork(out, "1200m", "group", base, "unused", s"g$i",
        "12000", "600000", log.getPath))
    }
    val claims = workers.flatMap { case (i, out, log, p) =>
      assert(p.waitFor(240, java.util.concurrent.TimeUnit.SECONDS),
        s"group worker g$i hung:\n${slurp(out)}")
      assert(p.exitValue == 0,
        s"group worker g$i failed:\n${slurp(out).takeRight(4000)}\n${slurp(log)}")
      val body = slurp(log)
      assert(!body.contains("LEASELOST") && !body.contains("ERROR") &&
        !body.contains("FATAL"), s"group worker g$i log:\n$body")
      // crash-free run: recovery must have rolled forward NOTHING — a
      // non-empty roll means it mistook a live writer for a crash
      """(?m)^recover \S+ (.+)$""".r.findAllMatchIn(body).foreach { m =>
        assert(m.group(1).trim.isEmpty,
          s"recovery rolled live journals: ${m.matched}")
      }
      val grps = """(?m)^grp (\d+) (\d+) (\S+) (\d+)$""".r
        .findAllMatchIn(body)
        .map(m => (m.group(1).toLong, m.group(2).toLong,
          m.group(3), m.group(4).toInt)).toSeq
      assert(grps.nonEmpty, s"group worker g$i never published:\n$body")
      grps
    }
    // member versions are globally disjoint per table (no lost update)
    assert(claims.map(_._1).distinct.size == claims.size, claims.toString)
    assert(claims.map(_._2).distinct.size == claims.size, claims.toString)
    // every staged journal was sealed — none abandoned, none in flight
    val txn = Fs.list(new org.apache.hadoop.fs.Path(s"$base/_txn"))
      .map(_.getPath.getName)
    val staged = txn.filter(_.endsWith(".staged"))
      .map(_.stripSuffix(".staged")).toSet
    val committed = txn.filter(_.endsWith(".committed"))
      .map(_.stripSuffix(".committed")).toSet
    assert(staged == committed,
      s"unsealed journals: ${(staged -- committed).toSeq.sorted}")
    assert(staged.size == claims.size,
      s"${staged.size} journals vs ${claims.size} claims")
    // ATOMICITY: each claimed (va, vb) pair holds ONE worker's payload
    // in both tables — a torn group would mix writers across members
    import spark.implicits._
    claims.foreach { case (va, vb, w, it) =>
      val ra = Versioned.read(spark, base, "a", Some(va))
        .as[(String, Int)].collect().toSeq
      val rb = Versioned.read(spark, base, "b", Some(vb))
        .as[(String, Int)].collect().toSeq
      assert(ra == Seq((w, it)) && rb == ra,
        s"torn group ($va, $vb): a=$ra b=$rb expected ($w, $it)")
    }
    // the group snapshot read resolves the newest journal coherently
    val latest = Versioned.latestGroupVersions(base)
    assert(Set("a", "b").subsetOf(latest.keySet), latest.toString)
    assert(claims.exists(c => c._1 == latest("a") && c._2 == latest("b")),
      s"latest group $latest matches no claim")
    Seq("a", "b").foreach { n =>
      val names = Fs.list(new org.apache.hadoop.fs.Path(s"$base/$n"))
        .map(_.getPath.getName)
      assert(!names.contains("_LEASE"), s"stranded lease on $n: $names")
    }
  }

  test("a compactor+vacuum maintenance process interleaved with two " +
    "mixed publishers on one family (r15 verdict item 5): vacuum " +
    "reclaims ONLY the pre-seeded orphan (never a live in-flight dir), " +
    "every committed version survives, and both the versioned and the " +
    "flat-sink snapshots stay readable mid-compact") {
    val base = tmp("lease-stress-maint")
    val table = "t"
    val dir = new java.io.File(base)
    // seed ONE crashed-publish orphan (an uncommitted version dir) —
    // with live publishers under the lease, this must be the ONLY thing
    // any vacuum of the whole run ever reclaims
    Fs.mkdirs(new Path(s"$base/$table/_v999999"))
    Fs.writeString(new Path(s"$base/$table/_v999999/part-junk"), "debris")
    // boot the reader's own session first: started lazily by its first
    // probe, it would spend the workers' whole 12 s window booting
    spark.range(1).collect()
    val workers = Seq(("m1", "mix"), ("m2", "mix"), ("c1", "maint"))
      .map { case (w, mode) =>
        val out = new java.io.File(dir, s"$w.out")
        val log = new java.io.File(dir, s"$w.log")
        (w, out, log, fork(out, "1200m", mode, base, table, w,
          "12000", "600000", log.getPath))
      }
    // READER while they run — the "snapshot always readable mid-compact"
    // contract, probed live: the latest COMMITTED version of either
    // table must read as exactly one writer's one-row payload at every
    // instant. Nothing renames, so there is no missing-directory window.
    // The one read allowed to fail is of a `flat` version that retention
    // pruned mid-read (compaction keeps the default 3 versions — the
    // size-keep-above-your-longest-query contract), and such a version
    // is gone from disk.
    import spark.implicits._
    var vReads = 0; var fReads = 0; var fPruned = 0
    // probe until the workers EXIT (their 12 s clocks start after their
    // ~15 s Spark boot, so a fixed wall deadline here would spend itself
    // entirely inside the boot phase and read nothing), with a hard cap
    // against a hung fleet
    val cap = System.currentTimeMillis() + 200000
    var probes = 0
    while (workers.exists(_._4.isAlive) && System.currentTimeMillis() < cap) {
      probes += 1
      Versioned.latestVersion(base, table).foreach { v =>
        val rows = Versioned.read(spark, base, table, Some(v))
          .as[(String, Int)].collect().toSeq
        assert(rows.length == 1, s"torn versioned snapshot at _v$v: $rows")
        vReads += 1
      }
      Versioned.latestVersion(base, "flat").foreach { v =>
        try {
          val rows = Versioned.read(spark, base, "flat", Some(v))
            .as[(String, Int)].collect().toSeq
          assert(rows.length == 1, s"torn flat snapshot at _v$v: $rows")
          fReads += 1
        } catch {
          case e: org.scalatest.exceptions.TestFailedException => throw e
          case e: Throwable =>
            if (Fs.exists(new Path(s"$base/flat/_v$v/_COMMIT"))) throw e
            fPruned += 1
        }
      }
      Thread.sleep(40)
    }
    val logs = workers.map { case (w, out, log, p) =>
      assert(p.waitFor(240, java.util.concurrent.TimeUnit.SECONDS),
        s"worker $w hung:\n${slurp(out)}")
      assert(p.exitValue == 0,
        s"worker $w failed:\n${slurp(out).takeRight(4000)}\n${slurp(log)}")
      val body = slurp(log)
      assert(!body.contains("LEASELOST") && !body.contains("ERROR") &&
        !body.contains("FATAL"), s"worker $w log:\n$body")
      w -> body
    }.toMap
    // versioned claims: globally disjoint, all still committed on disk
    // (no lost version — vacuum deleted nothing committed), latest wins
    val claims = logs.filterKeys(_.startsWith("m")).toMap.map {
      case (w, body) =>
        w -> """(?m)^pub (\d+) (\S+) (\d+)$""".r.findAllMatchIn(body)
          .map(m => m.group(1).toLong -> m.group(3).toInt).toMap
    }
    claims.foreach { case (w, pubs) =>
      assert(pubs.nonEmpty, s"$w never published") }
    val all = claims.values.flatMap(_.keys).toSeq
    assert(all.size == all.distinct.size,
      s"duplicate version claims: $claims")
    val t = new Path(s"$base/$table")
    val committed = Fs.list(t).filter(_.isDirectory)
      .map(_.getPath).filter(_.getName.startsWith("_v"))
      .filter(p => Fs.exists(new Path(p, "_COMMIT")))
      .flatMap(_.getName.stripPrefix("_v").toLongOption).toSet
    assert(committed == all.toSet,
      s"on-disk committed $committed != claimed ${all.toSet}")
    // vacuum accounting: EXACTLY the one seeded orphan across the whole
    // run — any second reclaim would be a live publisher's in-flight dir
    val vacuumed = """(?m)^vacuum \S+ (\d+)$""".r
      .findAllMatchIn(logs("c1")).map(_.group(1).toLong).sum
    assert(vacuumed == 1L,
      s"vacuum reclaimed $vacuumed dirs — expected only the seeded orphan")
    assert(!Fs.exists(new Path(s"$base/$table/_v999999")),
      "the seeded orphan survived every vacuum")
    // the compactor really ran against live producers
    val compacts = """"compacts":(\d+)""".r.findFirstMatchIn(logs("c1"))
      .map(_.group(1).toLong)
    assert(compacts.exists(_ >= 1), s"no successful compact:\n${logs("c1")}")
    // flat: producer claims are disjoint versions, every one still on
    // disk reads as exactly its payload, and the latest version
    // (possibly a compaction of one) is a payload some producer wrote
    val flatClaims = logs.values.flatMap(
      """(?m)^sink (\d+) (\S+) (\d+)$""".r.findAllMatchIn(_)
        .map(m => m.group(1).toLong -> (m.group(2), m.group(3).toInt))).toSeq
    assert(flatClaims.nonEmpty, "no producer ever wrote the flat table")
    assert(flatClaims.map(_._1).distinct.size == flatClaims.size,
      s"duplicate flat version claims: $flatClaims")
    flatClaims.foreach { case (v, payload) =>
      if (Fs.exists(new Path(s"$base/flat/_v$v/_COMMIT")))
        assert(Versioned.read(spark, base, "flat", Some(v))
          .as[(String, Int)].collect().toSeq == Seq(payload),
          s"flat _v$v does not read as its producer's payload $payload")
    }
    val flat = Versioned.read(spark, base, "flat")
      .as[(String, Int)].collect().toSeq
    assert(flat.length == 1 && flatClaims.map(_._2).contains(flat.head),
      s"flat end state $flat is not a producer's payload")
    // the reader made real progress on both tables (each read is a
    // Spark job on a host also running three worker JVMs — a 12 s
    // overlap window yields 5-10 of each; these are liveness floors, not
    // throughput bars, and every in-loop read already asserted
    // completeness)
    assert(vReads >= 3 && fReads >= 1,
      s"only $vReads versioned and $fReads flat reads ($fPruned pruned)")
    // nothing stranded on either table
    Seq(t, new Path(s"$base/flat")).foreach { d =>
      val leftovers = Fs.list(d).map(_.getPath.getName)
      assert(!leftovers.contains("_LEASE"), s"stranded lease: $leftovers")
      assert(!leftovers.exists(_.contains(".reclaim.")),
        s"leftover reclaim marker: $leftovers")
    }
  }
}
