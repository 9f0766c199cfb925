package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.Streams
import graft.queries.EventQueries

/** Streaming twins must agree with their batch forms: the memory-sink
  * results of the streaming plans are compared against the batch
  * (oracle-checked) EventQueries outputs on the same fixture.
  */
class StreamsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"

  /** Max fixture event time in µs — via the unit-aware catalog load, so
    * the spec holds under either physical ts layout. */
  private lazy val maxTsUs: Long =
    graft.catalog.Catalog.load(spark, dir, "events")
      .agg(max(unix_micros(col("ts")))).as[Long].head()

  /** Stage a one-row sentinel events file at `tsUs` into `staged`, with
    * ts written as a µs timestamp to match the fixture layout. */
  private def stageSentinel(staged: java.nio.file.Path, tsUs: Long,
      eventType: String = "sentinel"): Unit = {
    val tmpOut = java.nio.file.Files.createTempDirectory("sentinel-out")
    spark.range(1).select(
        lit(-1L).as("event_id"),
        timestamp_micros(lit(tsUs)).as("ts"),
        lit(-1L).as("user_id"),
        lit(eventType).as("event_type"),
        lit(0.0).as("value"),
        lit("{}").as("props"))
      .coalesce(1).write.mode("overwrite").parquet(tmpOut.toString)
    val part = java.nio.file.Files.list(tmpOut)
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.copy(part, staged.resolve("sentinel.parquet"))
  }

  test("update-mode upserts maintain a versioned view incrementally") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("stream-mv").toString
    val in = MemoryStream[(Long, Double)]
    val agg = in.toDF().toDF("user_id", "value")
      .groupBy("user_id").agg(sum(col("value")).as("total"))
    val q = Streams.publishUpserts(agg, base, "totals", Seq("user_id")).start()
    try {
      in.addData((1L, 2.0), (2L, 3.0)); q.processAllAvailable()
      val v0 = graft.pipelines.Versioned.read(spark, base, "totals")
        .as[(Long, Double)].collect().toMap
      assert(v0 == Map(1L -> 2.0, 2L -> 3.0))
      // second batch touches only user 1 → the delta upserts, user 2 survives
      in.addData((1L, 5.0)); q.processAllAvailable()
      val v1 = graft.pipelines.Versioned.read(spark, base, "totals")
        .as[(Long, Double)].collect().toMap
      assert(v1 == Map(1L -> 7.0, 2L -> 3.0))
      // the pre-update state is still time-travelable
      val prev = graft.pipelines.Versioned.latestVersion(base, "totals").get - 1
      assert(graft.pipelines.Versioned.read(spark, base, "totals", Some(prev))
        .as[(Long, Double)].collect().toMap == v0)
    } finally q.stop()
  }

  test("streaming tumbling counts == batch tumbling (complete mode)") {
    // file stream sources need a directory: stage the fixture file
    val staged = java.nio.file.Files.createTempDirectory("events-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      staged.resolve("events.parquet"))
    val q = Streams.tumblingCounts(Streams.eventStream(spark, staged.toString))
      .writeStream.format("memory").queryName("tumb")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("tumb")
      .select("win_start_us", "event_type", "n", "sum_value")
      .as[(Long, String, Long, Double)].collect().toSet
    val batch = EventQueries.tumbling(spark, dir)
      .as[(Long, String, Long, Double)].collect().toSet
    assert(streamed == batch)
  }

  test("streaming sessionizer: EventTimeTimeout emits each session exactly once") {
    val staged = java.nio.file.Files.createTempDirectory("events-sess-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      staged.resolve("events.parquet"))
    val q = Streams.sessionizeStreamFromRaw(Streams.eventStream(spark, staged.toString))
      .toDF().writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    q.processAllAvailable()
    // Second micro-batch: one sentinel event far past every fixture ts
    // pushes the watermark beyond every real session's close time, so the
    // timeout path must flush every remaining open session.
    stageSentinel(staged, maxTsUs + Streams.GapUs + 100L * 1000000L)
    q.processAllAvailable(); q.stop()
    val emitted = spark.table("sess").filter($"user_id" >= 0)
      .select("user_id", "sess_start_us", "sess_end_us", "n_events")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // exactly once: no session may be emitted twice across micro-batches
    assert(emitted.size == emitted.toSet.size)
    val batch = EventQueries.sessions(spark, dir)
      .select("user_id", "sess_start_us", "sess_end_us", "n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(emitted.toSet == batch)
  }

  test("streaming funnel: watermark-flushed state == batch funnel query") {
    val staged = java.nio.file.Files.createTempDirectory("events-funnel-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      staged.resolve("events.parquet"))
    // long horizon: every user's full fixture history buffers as one funnel
    val q = Streams.funnelStreamFromRaw(
        Streams.eventStream(spark, staged.toString),
        quietUs = 365L * 86400L * 1000000L)
      .toDF().writeStream.format("memory").queryName("funnel")
      .outputMode("append").start()
    q.processAllAvailable()
    // sentinel far past every fixture ts + horizon forces the flush
    stageSentinel(staged, maxTsUs + 366L * 86400L * 1000000L)
    q.processAllAvailable(); q.stop()
    val emitted = spark.table("funnel").filter($"user_id" >= 0)
      .as[(Long, Option[Long], Option[Long], Option[Long], Int)]
      .collect().toSet
    val batch = EventQueries.funnel(spark, dir)
      .as[(Long, Long, Option[Long], Option[Long], Int)].collect()
      .map(r => (r._1, Some(r._2): Option[Long], r._3, r._4, r._5)).toSet
    assert(emitted == batch)
    assert(emitted.map(_._1).size == emitted.size) // exactly one per user
  }

  test("streaming attribution: watermark-flushed state == batch q121 " +
    "window query") {
    val staged = java.nio.file.Files.createTempDirectory("events-attrib-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      staged.resolve("events.parquet"))
    val q = Streams.attributionStreamFromRaw(
        Streams.eventStream(spark, staged.toString),
        quietUs = 365L * 86400L * 1000000L)
      .toDF().writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    q.processAllAvailable()
    stageSentinel(staged, maxTsUs + 366L * 86400L * 1000000L)
    q.processAllAvailable(); q.stop()
    val emitted = spark.table("attrib").filter($"user_id" >= 0)
      .as[(Long, Long, Option[String], Option[String], Long)]
      .collect().map(r => (r._2, r._1, r._3, r._4, r._5)).toSet
    val batch = EventQueries.attribution(spark, dir)
      .as[(Long, Long, Option[String], Option[String], Long)].collect()
      .toSet
    assert(emitted == batch)
    assert(emitted.nonEmpty)
  }

  test("streaming forward-fill: watermark-flushed state == batch q146 " +
    "window query") {
    val staged = java.nio.file.Files.createTempDirectory("events-fill-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      staged.resolve("events.parquet"))
    val q = Streams.forwardFillStreamFromRaw(
        Streams.eventStream(spark, staged.toString),
        quietUs = 365L * 86400L * 1000000L)
      .toDF().writeStream.format("memory").queryName("ffill")
      .outputMode("append").start()
    q.processAllAvailable()
    stageSentinel(staged, maxTsUs + 366L * 86400L * 1000000L)
    q.processAllAvailable(); q.stop()
    val emitted = spark.table("ffill").filter($"user_id" >= 0)
      .as[(Long, Long, Long, Option[Double])].collect().toSet
    val batch = EventQueries.forwardFill(spark, dir)
      .as[(Long, Long, Long, Option[Double])].collect().toSet
    assert(emitted == batch)
    assert(emitted.exists(_._4.isDefined)) // fills actually happened
  }

  test("maintainAggregate: streaming MV == one-shot aggregate at every " +
    "version (decimal-exact)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("stream-mv").toString
    val in = MemoryStream[(String, Double)]
    val rows = in.toDF().toDF("k", "x")
      .withColumn("sx", col("x").cast("decimal(38,6)")).drop("x")
    val q = graft.streaming.Streams.maintainAggregate(
      rows, base, "mv", Seq("k"), Seq("sx")).start()
    val b1 = Seq(("a", 1.5), ("b", 2.0), ("a", 0.25))
    val b2 = Seq(("b", 4.0), ("c", 8.5))
    def oneShot(data: Seq[(String, Double)]) =
      data.toDF("k", "x").withColumn("sx", col("x").cast("decimal(38,6)"))
        .groupBy($"k").agg(sum($"sx").as("sx"), count(lit(1)).as("cnt"))
        .select($"k", $"sx".cast("string"), $"cnt").as[(String, String, Long)]
        .collect().toSet
    in.addData(b1: _*); q.processAllAvailable()
    val v0 = graft.pipelines.Versioned.read(spark, base, "mv")
      .select($"k", $"sx".cast("string"), $"cnt").as[(String, String, Long)]
      .collect().toSet
    assert(v0 == oneShot(b1))
    in.addData(b2: _*); q.processAllAvailable(); q.stop()
    val v1 = graft.pipelines.Versioned.read(spark, base, "mv")
      .select($"k", $"sx".cast("string"), $"cnt").as[(String, String, Long)]
      .collect().toSet
    assert(v1 == oneShot(b1 ++ b2))
    // the view time-travels: version 0 still serves the first batch's state
    assert(graft.pipelines.Versioned.read(spark, base, "mv", Some(0L))
      .select($"k", $"sx".cast("string"), $"cnt").as[(String, String, Long)]
      .collect().toSet == oneShot(b1))
  }

  test("ingestDeduped: micro-batches build a corpus that is clean at " +
    "every version") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("ingest-dedup").toString
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val q = graft.streaming.Streams.ingestDeduped(docs, base, "corpus").start()
    val a = "a1 a2 a3 a4 a5 a6 a7 a8"
    val b = "b1 b2 b3 b4 b5 b6 b7 b8"
    in.addData((1L, a), (2L, b)); q.processAllAvailable()
    assert(graft.pipelines.Versioned.read(spark, base, "corpus")
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    // batch 2: exact dup of 1, near-dup of 2, one clean doc
    in.addData((10L, a), (11L, b.replace("b8", "zz")), (12L, "c1 c2 c3 c4 c5 c6"))
    q.processAllAvailable(); q.stop()
    val v1 = graft.pipelines.Versioned.read(spark, base, "corpus")
      .select("doc_id").as[Long].collect().toSet
    assert(v1 == Set(1L, 2L, 12L)) // dups rejected, clean doc admitted
    // time travel still serves the pre-batch-2 corpus
    assert(graft.pipelines.Versioned
      .read(spark, base, "corpus", Some(0L))
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("ingestDedupedIndexed: admitted docs land in corpus AND index " +
    "each epoch, duplicates admit nothing on either leg, replayed " +
    "bootstrap epoch is skipped, final serve covers the union") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("ingest-idx").toString
    val base = s"$tmp/corpus"
    val idx = s"$tmp/index"
    val emb = graft.catalog.Catalog.load(spark, dir, "embeddings")
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val embedFn: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      admitted => emb.select($"vec_id", $"embedding")
        .join(admitted.select($"doc_id".as("vec_id")), Seq("vec_id"), "left_semi")
    val q = graft.streaming.Streams.ingestDedupedIndexed(
        docs, base, "corpus", idx, embedFn)
      .option("checkpointLocation", s"$tmp/_ck").start()
    try {
      val a = "a1 a2 a3 a4 a5 a6 a7 a8"
      val b = "b1 b2 b3 b4 b5 b6 b7 b8"
      // epoch 0: bootstrap — two clean docs train and publish the index
      in.addData((1L, a), (2L, b)); q.processAllAvailable()
      def indexed() = graft.pipelines.Versioned
        .read(spark, idx, graft.ops.AnnIndex.CodesTable)
        .select($"vec_id").as[Long].collect().toSet
      assert(indexed() == Set(1L, 2L))
      // the bootstrap's codes partition carries its batch id (epoch
      // 0 + 1), so the codes manifest alone records that epoch as admitted
      val codesV = graft.pipelines.Versioned
        .latestVersion(idx, graft.ops.AnnIndex.CodesTable).get
      assert(graft.pipelines.Versioned.manifest(idx,
        graft.ops.AnnIndex.CodesTable, codesV).get.entries.map(_._1) ==
        Seq("1"))
      // epoch 1: an exact dup, a near dup, one clean doc → only the
      // clean doc reaches the corpus AND the index (frozen-model append)
      in.addData((10L, a), (11L, b.replace("b8", "zz")),
        (12L, "c1 c2 c3 c4 c5 c6"))
      q.processAllAvailable()
      assert(graft.pipelines.Versioned.read(spark, base, "corpus")
        .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 12L))
      assert(indexed() == Set(1L, 2L, 12L))
      // model tables still at their bootstrap versions — the appends
      // never retrained
      val vs = graft.pipelines.Versioned.latestGroupVersions(idx)
      assert(vs(graft.ops.AnnIndex.CentroidsTable) == 0L)
      // epoch 2: pure logical replay — nothing admitted anywhere
      in.addData((1L, a), (2L, b)); q.processAllAvailable()
      assert(graft.pipelines.Versioned.read(spark, base, "corpus")
        .count() == 3L)
      assert(indexed() == Set(1L, 2L, 12L))
      // the published union is servable
      val queries = emb.filter($"vec_id" === 0L)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      val served = graft.ops.AnnIndex.serveTopK(spark, idx, queries, 3)
        .select($"neighbor_id").as[Long].collect()
      assert(served.nonEmpty && served.forall(Set(1L, 2L, 12L)))
    } finally q.stop()
  }

  test("erasure issued between micro-batches of a LIVE ingestDedupedIndexed " +
    "stream: victim unservable + absent from the corpus head immediately; " +
    "later epochs, engine-level replays, and the ledger/tombstone " +
    "interleave cannot resurrect it; a post-erase logical re-delivery is " +
    "re-admitted above the tombstone cutoff (re-consent)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("ingest-erase").toString
    val base = s"$tmp/corpus"
    val idx = s"$tmp/index"
    val emb = graft.catalog.Catalog.load(spark, dir, "embeddings")
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val embedFn: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      admitted => emb.select($"vec_id", $"embedding")
        .join(admitted.select($"doc_id".as("vec_id")), Seq("vec_id"), "left_semi")
    val q = graft.streaming.Streams.ingestDedupedIndexed(
        docs, base, "corpus", idx, embedFn)
      .option("checkpointLocation", s"$tmp/_ck").start()
    try {
      val a = "a1 a2 a3 a4 a5 a6 a7 a8"
      val b = "b1 b2 b3 b4 b5 b6 b7 b8"
      val c = "c1 c2 c3 c4 c5 c6 c7 c8"
      // ≤3 docs are ever live at once and every serve asks k=3, so a
      // serve returns EXACTLY the live servable set — membership
      // assertions below are exact, not recall-dependent
      val queries = emb.filter($"vec_id" === 0L)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      def servedIds() = graft.ops.AnnIndex.serveTopK(spark, idx, queries, 3)
        .select($"neighbor_id").as[Long].collect().toSet
      def corpusIds() = graft.pipelines.Versioned.read(spark, base, "corpus")
        .select($"doc_id").as[Long].collect().toSet
      // epoch 0 admits the victim-to-be (doc 1) and a bystander
      in.addData((1L, a), (2L, b)); q.processAllAvailable()
      assert(servedIds() == Set(1L, 2L))
      // ERASE while the stream is LIVE, between micro-batches — the
      // single-writer-safe interleave (an erase concurrent with a
      // running foreachBatch body would be two writers on one table,
      // which the protocol excludes by contract). Lazy (physical=false):
      // tombstones standing is the harder case for resurrection.
      graft.pipelines.Erasure.eraseEverywhere(spark, base, "corpus",
        Seq("doc_id"), idx, Seq(1L).toDF("doc_id"), physical = false)
      // (a) immediate: unservable + gone from the corpus head, and
      // keep=1 pruned the pre-erase corpus versions (time travel died)
      assert(servedIds() == Set(2L), "victim servable after erase")
      assert(corpusIds() == Set(2L), "victim still in the corpus head")
      assert(graft.pipelines.Versioned.describe(spark, base, "corpus")
        .filter($"committed").count() == 1L)
      // a later epoch flows normally and carries the tombstone forward
      in.addData((3L, c)); q.processAllAvailable()
      assert(corpusIds() == Set(2L, 3L))
      assert(servedIds() == Set(2L, 3L),
        "epoch after the erase either lost a doc or resurrected the victim")
      // (b) engine-level replay of the VICTIM'S OWN epoch (at-least-once
      // redelivery of the bootstrap batch, SAME batch id, vectors 1+2 —
      // i.e. the replayed payload CONTAINS the erased vector): the
      // admission ledger skips it, so the victim's vector cannot
      // re-enter the codes; a later epoch's replay likewise skips and
      // keeps the tombstone member linked — no resurrection path
      graft.ops.AnnIndex.buildOrAppend(
        emb.filter($"vec_id".isin(1L, 2L)).select($"vec_id", $"embedding"),
        idx, batchId = 1L)
      assert(servedIds() == Set(2L, 3L),
        "bootstrap replay re-admitted the erased vector")
      graft.ops.AnnIndex.append(
        emb.filter($"vec_id" === 3L).select($"vec_id", $"embedding"),
        idx, batchId = 2L, skipIfExists = true)
      assert(graft.pipelines.Versioned.latestGroupVersions(idx)
        .contains(graft.ops.AnnIndex.TombstonesTable))
      assert(servedIds() == Set(2L, 3L))
      // logical re-delivery of the erased doc: the corpus no longer
      // holds it, so the dedup vet ADMITS it as new data and its vector
      // lands above the tombstone's cutoff — fully servable again
      // (re-consent semantics; GDPR-wise the upstream must stop sending
      // an erased subject's data, the pipeline can't know)
      in.addData((1L, a)); q.processAllAvailable()
      assert(corpusIds() == Set(1L, 2L, 3L))
      assert(servedIds() == Set(1L, 2L, 3L),
        "re-admitted doc must serve from above the tombstone cutoff")
    } finally q.stop()
  }

  test("engine-level replay of a fully-landed epoch after an erase does " +
    "NOT re-admit the erased doc to the corpus (no corpus/index " +
    "divergence), while a crash-between-legs replay still completes the " +
    "corpus leg") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("replay-erase").toString
    val base = s"$tmp/corpus"
    val idx = s"$tmp/index"
    val emb = graft.catalog.Catalog.load(spark, dir, "embeddings")
    val embedFn: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      admitted => emb.select($"vec_id", $"embedding")
        .join(admitted.select($"doc_id".as("vec_id")), Seq("vec_id"), "left_semi")
    val a = "a1 a2 a3 a4 a5 a6 a7 a8"
    val b = "b1 b2 b3 b4 b5 b6 b7 b8"
    val c = "c1 c2 c3 c4 c5 c6 c7 c8"
    def corpusIds() = graft.pipelines.Versioned.read(spark, base, "corpus")
      .select($"doc_id").as[Long].collect().toSet
    def runEpoch(ck: String, rows: (Long, String)*): Unit = {
      val in = MemoryStream[(Long, String)]
      val q = graft.streaming.Streams.ingestDedupedIndexed(
          in.toDF().toDF("doc_id", "text"), base, "corpus", idx, embedFn)
        .option("checkpointLocation", s"$tmp/$ck").start()
      try { in.addData(rows.toSeq); q.processAllAvailable() } finally q.stop()
    }
    // epoch lands fully (index + corpus), stream goes down (q.stop)
    runEpoch("ck1", (1L, a), (2L, b))
    assert(corpusIds() == Set(1L, 2L))
    // erase doc 1 while the stream is down (lazy — tombstones standing)
    graft.pipelines.Erasure.eraseEverywhere(spark, base, "corpus",
      Seq("doc_id"), idx, Seq(1L).toDF("doc_id"), physical = false)
    assert(corpusIds() == Set(2L))
    // ENGINE replay of that epoch: a fresh checkpoint restarts epoch ids
    // at 0, so the same payload re-arrives under its original batch id
    // (1) — at or below the admission high-water mark. The erased doc's
    // vector is ledger-skipped AND tombstone-hidden, so the corpus leg
    // must NOT re-admit the doc: erasure wins over redelivery.
    runEpoch("ck2", (1L, a), (2L, b))
    assert(corpusIds() == Set(2L),
      "replay re-admitted an erased doc (corpus/index divergence)")
    val codes = graft.pipelines.Versioned
      .read(spark, idx, graft.ops.AnnIndex.CodesTable)
    assert(codes.filter($"vec_id" === 1L).count() == 1L,
      "replay must not re-append the erased vector either")
    // crash-BETWEEN-legs completion still works: simulate the index leg
    // of epoch 1 (batchId 2) having landed with no corpus publish …
    graft.ops.AnnIndex.append(
      emb.filter($"vec_id" === 3L).select($"vec_id", $"embedding"),
      idx, batchId = 2L)
    // … then the replay re-delivers the epoch (fresh checkpoint, epoch 0
    // → batch id 1 ≤ hwm 2 → replay path): doc 3's vector IS servable,
    // so the guard passes it and the corpus leg completes
    runEpoch("ck3", (3L, c))
    assert(corpusIds() == Set(2L, 3L),
      "crash-between-legs replay failed to complete the corpus publish")
  }

  test("streaming dedup-within-watermark suppresses re-ingested duplicates") {
    val staged = java.nio.file.Files.createTempDirectory("events-dedup-stream")
    // the same fixture file lands twice (re-ingestion): every event is a dup
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"), staged.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"), staged.resolve("b.parquet"))
    val q = Streams.dedupStream(Streams.eventStream(spark, staged.toString))
      .select("event_id")
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val ids = spark.table("dedup").as[Long].collect()
    val expected = graft.catalog.Catalog.load(spark, dir, "events")
      .select(countDistinct("event_id")).as[Long].head()
    assert(ids.length.toLong == expected) // each id exactly once
    assert(ids.toSet.size == ids.length)
  }

  test("transformWithState initial state: batch backfill seeds the " +
    "stream, totals equal the all-streamed aggregate") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val all = graft.catalog.Catalog.load(spark, dir, "events")
      val (lo, hi) = all
        .agg(min(unix_micros($"ts")), max(unix_micros($"ts")))
        .as[(Long, Long)].head()
      val cutUs = (lo + hi) / 2
      val backfill = all.filter(unix_micros($"ts") < cutUs)
      val staged = java.nio.file.Files.createTempDirectory("events-twsinit")
      all.filter(unix_micros($"ts") >= cutUs)
        .write.mode("overwrite").parquet(staged.toString)
      val q = Streams.spendTotalsStream(
          Streams.eventStream(spark, staged.toString), backfill)
        .toDF().writeStream.format("memory").queryName("twsinit")
        .outputMode("update").start()
      q.processAllAvailable(); q.stop()
      val streamed = spark.table("twsinit")
        .groupBy($"user_id").agg(max($"n_purchases"), max($"total_cents"))
        .as[(Long, Long, Long)].collect()
      // cutover invariant: every user the stream touched lands on the
      // same totals as if the whole history had streamed
      val full = all.filter($"event_type" === "purchase")
        .groupBy($"user_id")
        .agg(count(lit(1)), sum(expr("cast(round(value * 100) as long)")))
        .as[(Long, Long, Long)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
      assert(streamed.nonEmpty)
      streamed.foreach { case (u, n, s) =>
        assert(full(u) == ((n, s)), s"user $u: ($n,$s) vs ${full(u)}")
      }
      // the warm start mattered: at least one streamed user had
      // backfill-era purchases folded in
      val backfillBuyers = backfill
        .filter($"event_type" === "purchase")
        .select($"user_id").distinct().as[Long].collect().toSet
      assert(streamed.exists(t => backfillBuyers(t._1)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState MapState: per-user type histogram equals the " +
    "batch groupBy, RocksDB-backed") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val staged = java.nio.file.Files.createTempDirectory("events-twsmap")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        staged.resolve("events.parquet"))
      val q = Streams
        .typeCountsStream(Streams.eventStream(spark, staged.toString))
        .toDF().writeStream.format("memory").queryName("twsmap")
        .outputMode("update").start()
      q.processAllAvailable(); q.stop()
      // last emission per (user, type) — counts are monotone
      val streamed = spark.table("twsmap")
        .groupBy($"user_id", $"event_type").agg(max($"n"))
        .as[(Long, String, Long)].collect().toSet
      val batch = graft.catalog.Catalog.load(spark, dir, "events")
        .groupBy($"user_id", $"event_type").agg(count(lit(1)))
        .as[(Long, String, Long)].collect().toSet
      assert(streamed.nonEmpty && streamed == batch)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState (state API v2): running spend totals equal " +
    "the batch aggregate, RocksDB-backed") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val staged = java.nio.file.Files.createTempDirectory("events-tws")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        staged.resolve("events.parquet"))
      val q = Streams
        .spendTotalsStream(Streams.eventStream(spark, staged.toString),
          backfill = graft.catalog.Catalog.load(spark, dir, "events").limit(0))
        .toDF().writeStream.format("memory").queryName("tws")
        .outputMode("update").start()
      q.processAllAvailable(); q.stop()
      // last emission per user — totals are monotone across micro-batches
      val streamed = spark.table("tws")
        .groupBy($"user_id")
        .agg(max($"n_purchases"), max($"total_cents"))
        .as[(Long, Long, Long)].collect().toSet
      val batch = graft.catalog.Catalog.load(spark, dir, "events")
        .filter($"event_type" === "purchase")
        .groupBy($"user_id")
        .agg(count(lit(1)),
          sum(expr("cast(round(value * 100) as long)")))
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed.nonEmpty && streamed == batch)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState growth accounting: streamed new/retained/" +
    "resurrected rollup equals the batch q390 columns") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val staged = java.nio.file.Files.createTempDirectory("events-growth")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        staged.resolve("events.parquet"))
      val q = Streams.growthStream(Streams.eventStream(spark, staged.toString))
        .toDF().writeStream.format("memory").queryName("growth")
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
      val streamed = spark.table("growth")
        .groupBy($"wk", $"status").count()
        .as[(Long, String, Long)].collect()
        .map { case (wk, st, n) => (wk, st) -> n }.toMap
      val batch = graft.queries.ScienceQueries
        .growthAccounting(spark, dir)
        .select($"wk", $"new_users", $"retained", $"resurrected")
        .as[(Long, Long, Long, Long)].collect()
      assert(batch.nonEmpty)
      batch.foreach { case (wk, nNew, nRet, nRes) =>
        assert(streamed.getOrElse((wk, "new"), 0L) == nNew, s"new@$wk")
        assert(streamed.getOrElse((wk, "retained"), 0L) == nRet, s"ret@$wk")
        assert(streamed.getOrElse((wk, "resurrected"), 0L) == nRes, s"res@$wk")
      }
      // nothing beyond the batch weeks was emitted
      assert(streamed.keys.map(_._1).toSet == batch.map(_._1).toSet)
      // the churn complement: growthRollup over the streamed emissions
      // reproduces q390's FULL frame — every column including churned,
      // which the stream deliberately never emits (the per-week
      // non-event timer would cost more state than this anti-join)
      val rolled = Streams.growthRollup(spark.table("growth"))
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      val batchFull = graft.queries.ScienceQueries
        .growthAccounting(spark, dir)
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      assert(rolled == batchFull)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("sessionizer state runs on the RocksDB state store provider") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val staged = java.nio.file.Files.createTempDirectory("events-rocksdb")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        staged.resolve("events.parquet"))
      val q = Streams.sessionizeStreamFromRaw(Streams.eventStream(spark, staged.toString))
        .toDF().writeStream.format("memory").queryName("sess_rocks")
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
      val emitted = spark.table("sess_rocks")
        .select("user_id", "sess_start_us", "sess_end_us", "n_events")
        .as[(Long, Long, Long, Long)].collect().toSet
      val batch = EventQueries.sessions(spark, dir)
        .select("user_id", "sess_start_us", "sess_end_us", "n_events")
        .as[(Long, Long, Long, Long)].collect().toSet
      // single batch, no sentinel: watermark-closed sessions only — must
      // be a nonempty exact subset of the batch session set
      assert(emitted.nonEmpty && emitted.subsetOf(batch))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("sessionizer on RocksDB-backed event-time timeouts == batch " +
    "sessions, exactly once") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val staged = java.nio.file.Files.createTempDirectory("events-sess-rocks")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        staged.resolve("events.parquet"))
      val q = Streams
        .sessionizeStreamFromRaw(Streams.eventStream(spark, staged.toString))
        .toDF().writeStream.format("memory").queryName("sess_rocks_all")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        // sentinel pushes the watermark past every real session's close
        // time → every pending per-user timeout fires and flushes
        stageSentinel(staged, maxTsUs + Streams.GapUs + 100L * 1000000L)
        q.processAllAvailable()
      } finally q.stop()
      val emitted = spark.table("sess_rocks_all").filter($"user_id" >= 0)
        .select("user_id", "sess_start_us", "sess_end_us", "n_events")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(emitted.size == emitted.toSet.size) // exactly once
      val batch = EventQueries.sessions(spark, dir)
        .select("user_id", "sess_start_us", "sess_end_us", "n_events")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(emitted.toSet == batch)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("stream-stream view->purchase join == identical batch join") {
    val staged = java.nio.file.Files.createTempDirectory("events-ssj-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      staged.resolve("events.parquet"))
    val q = Streams.viewPurchaseJoin(Streams.eventStream(spark, staged.toString))
      .writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ssj")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    val batchEvents = graft.catalog.Catalog.load(spark, dir, "events")
    val batch = Streams.viewPurchaseJoin(batchEvents) // same expr, batch plan
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("maintainHeavyHitters: MG candidates merged across micro-batches " +
    "keep the no-miss and undercount guarantees over the whole stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("mg-stream").toString
    val in = MemoryStream[String]
    val k = 16
    val q = Streams.maintainHeavyHitters(
      in.toDF().toDF("tok"), base, "hh", k).start()
    val b1 = Seq.fill(40)("hot") ++ (1 to 60).map(i => s"a${i % 30}")
    val b2 = Seq.fill(25)("warm") ++ (1 to 75).map(i => s"b${i % 40}")
    val b3 = Seq.fill(30)("hot") ++ Seq.fill(20)("warm") ++
      (1 to 50).map(i => s"c${i % 25}")
    in.addData(b1); q.processAllAvailable()
    in.addData(b2); q.processAllAvailable()
    in.addData(b3); q.processAllAvailable()
    q.stop()
    val all = b1 ++ b2 ++ b3
    val n = all.size.toLong
    val trueCounts = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cand = graft.pipelines.Versioned.read(spark, base, "hh")
      .as[(String, Long)].collect().toMap
    // no-miss: every token above n/k survives the cross-batch merges
    for ((tok, c) <- trueCounts if c > n / k)
      assert(cand.contains(tok), s"missed $tok ($c > ${n / k})")
    // summaries only undercount, by at most n/k
    for ((tok, lower) <- cand) {
      val c = trueCounts(tok)
      assert(lower <= c && c - lower <= n / k + 1, s"$tok: $lower vs $c")
    }
    // the candidate table versions: batch-1 state is still readable
    assert(graft.pipelines.Versioned.read(spark, base, "hh", Some(0L))
      .count() > 0)
  }

  test("maintainCdc: streamed I/U/D batches maintain a versioned replica " +
    "equal to one batch applyCdc of the concatenated log; time travel " +
    "reaches every intermediate state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("cdc-stream").toString
    val in = MemoryStream[(Long, String, String, Int)]
    val q = Streams.maintainCdc(
      in.toDF().toDF("k", "v", "op", "seq"), base, "rep", Seq("k")).start()
    // batch 1: bootstrap inserts (plus an in-batch U collapse on k=2)
    val b1 = Seq((1L, "a", "I", 1), (2L, "b0", "I", 1), (2L, "b", "U", 2),
      (3L, "c", "I", 1))
    // batch 2: delete k=1, update k=3, insert k=4
    val b2 = Seq((1L, "-", "D", 1), (3L, "C", "U", 1), (4L, "d", "I", 1))
    in.addData(b1); q.processAllAvailable()
    val afterB1 = graft.pipelines.Versioned.read(spark, base, "rep")
      .as[(Long, String)].collect().toSet
    in.addData(b2); q.processAllAvailable()
    q.stop()
    assert(afterB1 == Set((1L, "a"), (2L, "b"), (3L, "c")))
    val finalState = graft.pipelines.Versioned.read(spark, base, "rep")
      .as[(Long, String)].collect().toSet
    assert(finalState == Set((2L, "b"), (3L, "C"), (4L, "d")))
    // == one batch applyCdc over the whole log, seq re-numbered by arrival
    val whole = (b1.map { case (k, v, op, s) => (k, v, op, s) } ++
      b2.map { case (k, v, op, s) => (k, v, op, s + 10) })
      .toDF("k", "v", "op", "seq")
    val oneShot = graft.pipelines.Incremental.applyCdc(
        Seq.empty[(Long, String)].toDF("k", "v"), whole, Seq("k"))
      .as[(Long, String)].collect().toSet
    assert(oneShot == finalState)
    // batch-1 state still served by time travel
    assert(graft.pipelines.Versioned.read(spark, base, "rep", Some(0L))
      .as[(Long, String)].collect().toSet == afterB1)
  }

  test("maintainKmv: maintained sketch bit-identical to the one-shot " +
    "sketch of the whole stream, at every version") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("kmv-stream").toString
    val k = 16
    val in = MemoryStream[(String, Long)]
    val q = Streams.maintainKmv(
      in.toDF().toDF("grp", "v"), base, "kmv", k).start()
    val b1 = (1L to 40L).map(i => ("a", i)) ++ (1L to 10L).map(i => ("b", i))
    val b2 = (20L to 70L).map(i => ("a", i)) ++ (1L to 5L).map(i => ("c", i))
    in.addData(b1); q.processAllAvailable()
    in.addData(b2); q.processAllAvailable()
    q.stop()
    def oneShot(rows: Seq[(String, Long)]): Map[String, Seq[Long]] = {
      val agg = new graft.ops.StatsOps.KmvAgg(k)
      rows.toDF("grp", "v")
        .select(col("grp"), xxhash64(col("v")).as("h"))
        .as[(String, Long)].groupByKey(_._1).mapValues(_._2)
        .agg(agg.toColumn.name("kmins"))
        .collect().toMap.view.mapValues(_.toSeq).toMap
    }
    val maintained = graft.pipelines.Versioned.read(spark, base, "kmv")
      .as[(String, Array[Long])].collect().toMap.view
      .mapValues(_.toSeq).toMap
    assert(maintained == oneShot(b1 ++ b2))
    val v0 = graft.pipelines.Versioned.read(spark, base, "kmv", Some(0L))
      .as[(String, Array[Long])].collect().toMap.view
      .mapValues(_.toSeq).toMap
    assert(v0 == oneShot(b1))
  }

  test("stream-static broadcast enrichment == batch left join, and the " +
    "micro-batch plan carries a BroadcastHashJoin (stateless shape)") {
    val staged = java.nio.file.Files.createTempDirectory("events-enrich")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      staged.resolve("events.parquet"))
    val dim = (0L until 50L).map(u => (u, s"seg${u % 5}")).toDF("user_id", "segment")
    val q = Streams.enrichStream(
        Streams.eventStream(spark, staged.toString), dim)
      .select(col("event_id"), col("segment"))
      .writeStream.format("memory").queryName("enrich")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("enrich")
      .as[(Long, Option[String])].collect().toSet
    val batch = Streams.enrichStream(
        graft.catalog.Catalog.load(spark, dir, "events"), dim)
      .select(col("event_id"), col("segment"))
      .as[(Long, Option[String])].collect().toSet
    assert(streamed.nonEmpty && streamed == batch)
    // the batch twin's physical plan proves the stateless broadcast shape
    val phys = Streams.enrichStream(
      graft.catalog.Catalog.load(spark, dir, "events"), dim)
      .queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"), phys.take(400))
  }

  test("outer stream-stream join emits unmatched views after the watermark") {
    val staged = java.nio.file.Files.createTempDirectory("events-ssj-outer")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      staged.resolve("events.parquet"))
    val q = Streams.viewPurchaseJoinOuter(Streams.eventStream(spark, staged.toString))
      .writeStream.format("memory").queryName("ssjo")
      .outputMode("append").start()
    q.processAllAvailable()
    // sentinel far in the future closes every view's window → all
    // unmatched views must flush with null purchase columns
    stageSentinel(staged, maxTsUs + 3600L * 1000000L, eventType = "view")
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ssjo").filter($"user_id" >= 0)
      .as[(Long, Option[Long], Long, Long, Option[Long], Option[Double])]
      .collect().toSet
    val batch = Streams.viewPurchaseJoinOuter(
        graft.catalog.Catalog.load(spark, dir, "events"))
      .as[(Long, Option[Long], Long, Long, Option[Long], Option[Double])]
      .collect().toSet
    assert(streamed == batch)
    assert(streamed.exists(_._2.isEmpty)) // null-emitting path exercised
  }

  test("streaming snapshots publish atomically through the batch sink family") {
    val staged = java.nio.file.Files.createTempDirectory("events-snap-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      staged.resolve("events.parquet"))
    val out = java.nio.file.Files.createTempDirectory("snap-out").toString
    val q = Streams.publishSnapshots(
        Streams.tumblingCounts(Streams.eventStream(spark, staged.toString)),
        out, "tumbling")
      .start()
    q.processAllAvailable(); q.stop()
    // a committed version is the latest, its content == the batch form
    assert(graft.pipelines.Versioned.latestVersion(out, "tumbling").nonEmpty)
    val published = graft.pipelines.Versioned.read(spark, out, "tumbling")
      .as[(Long, String, Long, Double)].collect().toSet
    val batch = EventQueries.tumbling(spark, dir)
      .as[(Long, String, Long, Double)].collect().toSet
    assert(published == batch)
    // every micro-batch released the table's writer lease
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/tumbling/_LEASE")))
  }
}
