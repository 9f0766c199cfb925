package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.catalog.Catalog
import graft.ops.Pin._

/** Structured Streaming surface (SURVEY §2.7 / north-star): the event
  * queries re-expressed as streams — identical plan shapes as the batch
  * forms in EventQueries. Custom-state twins (sessionizer, funnel,
  * attribution, forward-fill) run on flatMapGroupsWithState with
  * event-time timeouts; the per-user running state of spend totals,
  * growth accounting and type counts runs on the v2 state API
  * (transformWithState). Each twin has exactly one streaming form.
  *
  * The reference has no streaming (daily Airflow batch); this is the
  * engine's forward path: the same `groupBy(window(...))` plan runs in
  * both modes, with `withWatermark` bounding state at scale.
  */
object Streams {

  /** File-source stream over a directory of events parquet files
    * (schema-declared — file streams require it; same catalog schema as
    * batch). The file source wants a directory, so callers stage the
    * fixture file into one (see StreamsSpec). Physical ts unit (µs
    * timestamp vs raw INT64 ns) is probed from the staged files once at
    * stream definition, mirroring [[Catalog.eventsFrom]]; files arriving
    * later must match. */
  def eventStream(spark: SparkSession, eventsDir: String): DataFrame =
    if (Catalog.tsIsNanos(spark, eventsDir))
      spark.readStream
        .schema(Catalog.eventsNsSchema)
        .parquet(eventsDir)
        .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else
      spark.readStream
        .schema(Catalog.events.schema)
        .parquet(eventsDir)

  /** Streaming tumbling 1-hour counts with a 10-minute watermark —
    * the streaming twin of EventQueries.tumbling. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(graft.ops.Det.Dec)).cast("double").as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n"), col("sum_value"))

  case class SessionState(events: List[(Long, Double)])
  case class Session(user_id: Long, sess_start_us: Long, sess_end_us: Long,
      n_events: Long, sum_value: Double)

  val GapUs: Long = 5 * 60 * 1000000L

  /** Custom-state sessionizer, STREAMING form: EventTimeTimeout +
    * watermark. Each invocation merges the state's open tail with the
    * new events, splits on the 5-minute gap, and emits ONLY sessions the
    * watermark has already closed (session end ≤ watermark — no later
    * event can extend or create anything before it). Emitted sessions
    * leave state; only the still-open tail is kept, and the timeout is
    * armed at that tail's close time so the session is flushed by the
    * watermark even if the user never returns. State per user is O(open
    * session), emissions are exactly-once — the multi-batch StreamsSpec
    * asserts no duplicates across micro-batches.
    *
    * `events` must carry an event-time `ts` timestamp column with
    * `withWatermark` already applied (see [[sessionizeStreamFromRaw]]). */
  def sessionizeStream(events: Dataset[EvT]): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[EvT], state: GroupState[SessionState]) =>
          val prev = state.getOption.map(_.events).getOrElse(Nil)
          val incoming = it.map { e =>
            val inst = e.ts.toInstant
            (inst.getEpochSecond * 1000000L + inst.getNano / 1000L, e.value)
          }.toList
          val all = (prev ++ incoming).sortBy(_._1)
          if (all.isEmpty) { state.remove(); Iterator.empty }
          else {
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            val sessions = splitSessions(uid, all)
            val (closed, open) = sessions.partition(_.sess_end_us <= wmUs)
            if (open.isEmpty) state.remove()
            else {
              val keepFrom = open.head.sess_start_us
              state.update(SessionState(all.filter(_._1 >= keepFrom)))
              // flush when the watermark passes the open tail's close time;
              // +1ms keeps the timeout strictly later than the watermark
              // (µs→ms truncation could otherwise land exactly on it)
              state.setTimeoutTimestamp(open.last.sess_end_us / 1000L + 1L)
            }
            closed.iterator
          }
      }
  }

  case class EvT(user_id: Long, ts: java.sql.Timestamp, value: Double)

  case class EvTyped(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  case class FunnelState(events: List[(Long, String)])
  case class FunnelOut(user_id: Long, view_us: Option[Long],
      click_us: Option[Long], purchase_us: Option[Long], stage: Int)

  /** Pure strict-order funnel computation (shared by the stream and the
    * batch twin's spec): first view, first click ≥ it, first purchase ≥
    * that — None (no emission) for users who never viewed, matching the
    * batch query's funnel-entry filter. */
  def computeFunnel(uid: Long, evs: Seq[(Long, String)]): Option[FunnelOut] =
    evs.collect { case (t, "view") => t }.minOption.map { v =>
      val click = evs.collect { case (t, "click") if t >= v => t }.minOption
      val purchase = click.flatMap(c =>
        evs.collect { case (t, "purchase") if t >= c => t }.minOption)
      FunnelOut(uid, Some(v), click, purchase, 1 + click.size + purchase.size)
    }

  /** Streaming conversion funnel: buffer each user's funnel-relevant
    * events; when the watermark passes `quietUs` of event-time silence,
    * compute the strict-order funnel over the COMPLETE buffered set and
    * emit it exactly once (state removed). Buffering until the horizon
    * closes is what makes the result order-insensitive — an on-the-fly
    * state machine would lock in a later view/click and give a different
    * answer under out-of-order arrival. A user who re-engages after a
    * flush starts a fresh funnel (windowed-funnel semantics); size
    * `quietUs` to the conversion horizon you mean. State per user is
    * O(funnel-relevant events inside one horizon). */
  def funnelStream(events: Dataset[EvTyped],
      quietUs: Long = GapUs): Dataset[FunnelOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val funnelTypes = Set("view", "click", "purchase")
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[EvTyped], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            val evs = state.getOption.map(_.events).getOrElse(Nil)
            state.remove()
            computeFunnel(uid, evs).iterator
          } else {
            val incoming = it.filter(e => funnelTypes(e.event_type)).map { e =>
              val inst = e.ts.toInstant
              (inst.getEpochSecond * 1000000L + inst.getNano / 1000L,
                e.event_type)
            }.toList
            val all = state.getOption.map(_.events).getOrElse(Nil) ++ incoming
            if (all.isEmpty) Iterator.empty
            else {
              state.update(FunnelState(all))
              // flush when the watermark passes the last event + horizon
              state.setTimeoutTimestamp(
                (all.map(_._1).max + quietUs) / 1000L + 1L)
              Iterator.empty
            }
          }
      }
  }

  case class EvFull(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
      event_type: String)
  case class AttribState(events: List[(Long, Long, String)])
  case class AttribOut(user_id: Long, event_id: Long,
      first_touch: Option[String], last_touch: Option[String],
      n_touches: Long)

  /** Pure attribution computation (shared by the stream and the batch
    * twin's spec): each purchase credited to the earliest and latest
    * PRECEDING non-purchase events in (ts, event_id) order — exactly
    * the q121 window semantics. */
  def computeAttribution(uid: Long,
      evs: Seq[(Long, Long, String)]): Seq[AttribOut] = {
    val sorted = evs.sortBy(e => (e._1, e._2))
    sorted.zipWithIndex.collect { case ((_, id, "purchase"), i) =>
      val prior = sorted.take(i).filter(_._3 != "purchase")
      AttribOut(uid, id, prior.headOption.map(_._3),
        prior.lastOption.map(_._3), prior.size.toLong)
    }
  }

  /** Streaming first/last-touch attribution: buffer each user's events;
    * when the watermark passes `quietUs` of event-time silence, compute
    * attribution over the COMPLETE buffered history and emit one row per
    * purchase (state removed). Same buffering rationale as
    * [[funnelStream]]: an on-the-fly state machine would lock in touches
    * in arrival order and diverge from the batch answer under
    * out-of-order events. State per user is O(events in one horizon). */
  def attributionStream(events: Dataset[EvFull],
      quietUs: Long = GapUs): Dataset[AttribOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[AttribState, AttribOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[EvFull], state: GroupState[AttribState]) =>
          if (state.hasTimedOut) {
            val evs = state.getOption.map(_.events).getOrElse(Nil)
            state.remove()
            computeAttribution(uid, evs).iterator
          } else {
            val incoming = it.map { e =>
              val inst = e.ts.toInstant
              (inst.getEpochSecond * 1000000L + inst.getNano / 1000L,
                e.event_id, e.event_type)
            }.toList
            val all = state.getOption.map(_.events).getOrElse(Nil) ++ incoming
            if (all.isEmpty) Iterator.empty
            else {
              state.update(AttribState(all))
              state.setTimeoutTimestamp(
                (all.map(_._1).max + quietUs) / 1000L + 1L)
              Iterator.empty
            }
          }
      }
  }

  case class FillState(events: List[(Long, Long, String, Double)])
  case class FillOut(user_id: Long, ts_us: Long, event_id: Long,
      filled: Option[Double])

  /** Pure forward-fill computation (shared by the stream and the batch
    * twin's spec): each event carries the most recent non-error value
    * at-or-before it in (ts, event_id) order — exactly the q146 window
    * semantics; events before the first non-error value emit None. */
  def computeForwardFill(uid: Long,
      evs: Seq[(Long, Long, String, Double)]): Seq[FillOut] = {
    val sorted = evs.sortBy(e => (e._1, e._2))
    var lastSeen: Option[Double] = None
    sorted.map { case (ts, id, tpe, v) =>
      if (tpe != "error") lastSeen = Some(v)
      FillOut(uid, ts, id, lastSeen)
    }
  }

  /** Streaming forward-fill (LOCF): buffer each user's events; when the
    * watermark passes `quietUs` of event-time silence, sort the COMPLETE
    * buffered history and emit every event with its carried-forward
    * value (state removed). Buffering until the horizon closes is what
    * keeps the fill order-insensitive — an on-the-fly "remember last
    * value" state machine fills in ARRIVAL order and diverges from the
    * batch answer the moment events arrive out of order. State per user
    * is O(events in one horizon). */
  def forwardFillStream(events: Dataset[EvFull2],
      quietUs: Long = GapUs): Dataset[FillOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FillState, FillOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[EvFull2], state: GroupState[FillState]) =>
          if (state.hasTimedOut) {
            val evs = state.getOption.map(_.events).getOrElse(Nil)
            state.remove()
            computeForwardFill(uid, evs).iterator
          } else {
            val incoming = it.map { e =>
              val inst = e.ts.toInstant
              (inst.getEpochSecond * 1000000L + inst.getNano / 1000L,
                e.event_id, e.event_type, e.value)
            }.toList
            val all = state.getOption.map(_.events).getOrElse(Nil) ++ incoming
            if (all.isEmpty) Iterator.empty
            else {
              state.update(FillState(all))
              state.setTimeoutTimestamp(
                (all.map(_._1).max + quietUs) / 1000L + 1L)
              Iterator.empty
            }
          }
      }
  }

  case class EvFull2(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
      event_type: String, value: Double)

  /** Raw catalog-schema stream → watermarked typed stream →
    * [[forwardFillStream]]. */
  def forwardFillStreamFromRaw(events: DataFrame,
      watermarkDelay: String = "10 seconds",
      quietUs: Long = GapUs): Dataset[FillOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    forwardFillStream(
      events.withWatermark("ts", watermarkDelay)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value")).as[EvFull2],
      quietUs)
  }

  /** Raw catalog-schema stream → watermarked typed stream →
    * [[attributionStream]]. */
  def attributionStreamFromRaw(events: DataFrame,
      watermarkDelay: String = "10 seconds",
      quietUs: Long = GapUs): Dataset[AttribOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    attributionStream(
      events.withWatermark("ts", watermarkDelay)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type")).as[EvFull],
      quietUs)
  }

  /** Raw catalog-schema stream → watermarked typed stream → funnel. */
  def funnelStreamFromRaw(events: DataFrame,
      watermarkDelay: String = "10 seconds",
      quietUs: Long = GapUs): Dataset[FunnelOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    funnelStream(
      events.withWatermark("ts", watermarkDelay)
        .select(col("user_id"), col("ts"), col("event_type")).as[EvTyped],
      quietUs)
  }

  /** Convenience wrapper: raw event stream (catalog schema) → watermarked
    * typed stream → [[sessionizeStream]]. */
  def sessionizeStreamFromRaw(events: DataFrame,
      watermarkDelay: String = "10 seconds"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    sessionizeStream(
      events.select(col("user_id"), col("ts"), col("value"))
        .withWatermark("ts", watermarkDelay)
        .as[EvT])
  }

  /** Streaming exact dedup: `dropDuplicatesWithinWatermark` keyed on
    * event_id — the streaming twin of DedupOps.exactGroups for a
    * continuously-ingested corpus. State holds only keys newer than the
    * watermark (bounded, unlike a plain streaming dropDuplicates whose
    * key state grows forever); duplicates arriving within the watermark
    * window are suppressed exactly once. */
  def dedupStream(events: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static dimension enrichment: join the event stream against a
    * small static dimension frame (the stream side keeps its incremental
    * execution; the static side is planned per micro-batch, and
    * `broadcast()` pins the dimension to every executor so no micro-batch
    * ever shuffles the stream on the join key — the only streaming join
    * shape that stays stateless). At 100 TB/day of events a re-read
    * dimension snapshot per batch is exactly how slowly-changing lookup
    * tables are consumed; pair with Versioned.read for a consistent
    * snapshot per restart. */
  def enrichStream(events: DataFrame, dim: DataFrame,
      key: String = "user_id"): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Stream-stream inner join with event-time bounds: each view joins the
    * purchases of the same user within the following `windowMinutes`.
    * Both sides carry watermarks and the join condition bounds purchase
    * time relative to view time, so Spark can size BOTH state stores and
    * evict rows the watermark has passed — the join every attribution
    * pipeline runs, in bounded memory. Batch twin: the identical join
    * expression over the static events table (asserted in StreamsSpec). */
  def viewPurchaseJoin(events: DataFrame, windowMinutes: Int = 10,
      watermarkDelay: String = "10 minutes",
      joinType: String = "inner"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", watermarkDelay)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("p_ts", watermarkDelay)
    views.join(purchases,
      col("v_user") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr(s"INTERVAL $windowMinutes MINUTES"),
      joinType)
      .select(col("view_id"), col("purchase_id"), col("v_user").as("user_id"),
        unix_micros(col("v_ts")).as("view_us"),
        unix_micros(col("p_ts")).as("purchase_us"), col("value"))
  }

  /** LEFT OUTER stream-stream join: unconverted views emit with null
    * purchase columns — but only once the watermark proves no purchase
    * can still arrive inside the window (the time bound is what makes an
    * outer streaming join well-defined at all). Same builder as the inner
    * form; StreamsSpec drives it across micro-batches with a sentinel to
    * force the null-emitting path. */
  def viewPurchaseJoinOuter(events: DataFrame, windowMinutes: Int = 10,
      watermarkDelay: String = "10 seconds"): DataFrame =
    viewPurchaseJoin(events, windowMinutes, watermarkDelay, "left_outer")

  /** Publish a streaming aggregation's complete-mode snapshots as
    * [[graft.pipelines.Versioned]] versions: every micro-batch is one
    * [[graft.pipelines.Versioned.publish]] of `name` (default retention),
    * committed by its `_COMMIT` marker. Readers (`Versioned.read`)
    * always see a whole snapshot; a crash mid-batch leaves the previous
    * version latest. This is the streaming face of the reference's
    * marker-file protocol (SURVEY §2.2 K5) — commit metadata instead of
    * `_SUCCESS` probes. */
  def publishSnapshots(agg: DataFrame, baseDir: String, name: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    agg.writeStream.outputMode("complete")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.pipelines.Versioned.publish(batch.toDF(), baseDir, name); ()
      }

  /** Publish complete-mode snapshots to a JDBC table with per-epoch
    * bookkeeping — the `foreachBatch` idempotence recipe for
    * transactional sinks: each micro-batch full-replaces `<name>` and
    * appends its epoch id to `<name>_epochs`; a replayed epoch (restart
    * recovery re-delivers the last uncommitted batch) finds its id
    * already recorded and is skipped, so the serving table never moves
    * backwards. The streaming twin of the reference's load phase
    * (dag-load.py: S3 csv → MySQL full-replace), minus its
    * read-everything-then-write single machine. */
  def publishToJdbc(agg: DataFrame, url: String, name: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    agg.writeStream.outputMode("complete")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val props = new java.util.Properties
        // Probe table EXISTENCE via JDBC metadata (first batch: no table
        // yet) instead of a catch-all around the read — a transient DB
        // error must propagate, not be misread as "first batch" (which
        // would redundantly rewrite the snapshot and duplicate the epoch
        // row).
        val epochsTable = s"${name}_epochs"
        val tableExists = {
          val conn = java.sql.DriverManager.getConnection(url)
          try {
            val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
            var found = false
            while (!found && rs.next())
              found = rs.getString("TABLE_NAME").equalsIgnoreCase(epochsTable)
            found
          } finally conn.close()
        }
        val alreadyDone = tableExists &&
          spark.read.jdbc(url, epochsTable, props)
            .filter(col("epoch") === id).count() > 0
        if (!alreadyDone) {
          batch.toDF().write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .jdbc(url, name, props)
          Seq(id).toDF("epoch")
            .write.mode(org.apache.spark.sql.SaveMode.Append)
            .jdbc(url, s"${name}_epochs", props)
        }
      }

  /** Incrementally-maintained materialized view: an UPDATE-mode
    * aggregation emits only the keys each micro-batch changed, and those
    * deltas upsert into a [[graft.pipelines.Versioned]] table — so the
    * view stays queryable (with time travel) while the stream runs, and
    * each refresh costs only the changed keys, not a full recompute.
    * The batch-streaming composition a 100 TB ingest wants: complete
    * mode rewrites the world every batch; this rewrites the delta. */
  def publishUpserts(agg: DataFrame, baseDir: String, name: String,
      keys: Seq[String], keep: Int = 3)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    agg.writeStream.outputMode("update")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          graft.pipelines.Incremental.publishUpsert(
            batch.sparkSession, baseDir, name, batch.toDF(), keys, keep)
          ()
        }
      }

  /** Streaming incremental materialized view: per micro-batch, compute
    * the batch's PARTIAL aggregates (sum/count per key) and fold them
    * into the latest published aggregate table with
    * [[graft.pipelines.Incremental.mergeAggregates]] — refresh cost is
    * O(batch + touched groups), never a recompute over history, and the
    * view time-travels like any versioned table. Sum columns should be
    * DECIMAL (cast upstream) so merge order can't drift doubles — with
    * decimals the maintained view is bit-equal to a one-shot aggregate
    * of all data ever seen (spec-asserted). Groups-only state lives in
    * the published table itself: the stream stays stateless (append
    * mode, no watermark state), so restarts replay at most one epoch —
    * and a replayed epoch WOULD double-count; run with exactly-once
    * sinks or idempotent batch ids in production (documented limit). */
  def maintainAggregate(rows: DataFrame, baseDir: String, name: String,
      keys: Seq[String], sumCols: Seq[String], keep: Int = 3)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val partial = batch.toDF().groupBy(keys.map(col): _*)
            .agg(sum(col(sumCols.head)).as(sumCols.head),
              (sumCols.tail.map(c => sum(col(c)).as(c)) :+
                count(lit(1)).as("cnt")): _*)
          val merged = graft.pipelines.Versioned
            .latestVersion(baseDir, name) match {
            case Some(_) => graft.pipelines.Incremental.mergeAggregates(
              graft.pipelines.Versioned.read(spark, baseDir, name),
              partial, keys, sumCols, "cnt")
            case None => partial
          }
          graft.pipelines.Versioned.publish(merged, baseDir, name, keep)
          ()
        }
      }

  /** Streaming heavy hitters: maintain a Misra–Gries candidate table
    * across micro-batches. Each batch folds its tokens through
    * [[graft.ops.StatsOps.HeavyHittersAgg]] (bounded k-entry state per
    * task, nothing keyed shuffles), and the batch's ≤k-entry summary is
    * merged into the published candidate set with the SAME offer/decrement
    * rule — Misra–Gries summaries are mergeable (Agarwal et al.), so the
    * maintained table keeps the no-miss guarantee over EVERYTHING ever
    * streamed: any token with total frequency > n/k since the start is
    * guaranteed a slot, with per-item undercount ≤ n/k (spec-asserted
    * across batches). The merge touches two ≤k maps — driver-trivial —
    * and the table versions like any published view, so the candidate
    * history time-travels. Exactly-once caveats are maintainAggregate's. */
  def maintainHeavyHitters(toks: DataFrame, baseDir: String, name: String,
      k: Int = 32, keep: Int = 3)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    toks.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          import spark.implicits._
          val agg = new graft.ops.StatsOps.HeavyHittersAgg(k)
          val batchMg = batch.toDF().select(col("tok")).as[String]
            .select(agg.toColumn).head()
          val prev: Map[String, Long] = graft.pipelines.Versioned
            .latestVersion(baseDir, name) match {
            case Some(_) => graft.pipelines.Versioned
              .read(spark, baseDir, name)
              .as[(String, Long)].collect().toMap
            case None => Map.empty
          }
          val merged = agg.merge(
            graft.ops.StatsOps.MgBuf(prev),
            graft.ops.StatsOps.MgBuf(batchMg)).counts
          graft.pipelines.Versioned.publish(
            merged.toSeq.toDF("tok", "lower_bound"), baseDir, name, keep)
          ()
        }
      }

  /** Streaming KMV maintenance — the cardinality twin of
    * [[maintainHeavyHitters]]: fold each micro-batch's ids into
    * per-group k-min hash sets and merge with the published state.
    * Unlike the MG candidates (layout-dependent set, layout-independent
    * GUARANTEE), KMV merge is a pure k-bounded set union, so the
    * maintained sketch is BIT-IDENTICAL to the one-shot sketch of the
    * whole stream at every version (spec-asserted) — incremental
    * distinct-count observability with time travel, state ≤ k longs per
    * group. Expects columns (grp: string, v: any) — v is hashed here. */
  def maintainKmv(rows: DataFrame, baseDir: String, name: String,
      k: Int = 256, keep: Int = 3)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          import spark.implicits._
          val agg = new graft.ops.StatsOps.KmvAgg(k)
          val batchSk = batch.toDF()
            .select(col("grp"), xxhash64(col("v")).as("h"))
            .as[(String, Long)].groupByKey(_._1).mapValues(_._2)
            .agg(agg.toColumn.name("kmins"))
            .collect().toMap
          val prev: Map[String, Array[Long]] = graft.pipelines.Versioned
            .latestVersion(baseDir, name) match {
            case Some(_) => graft.pipelines.Versioned
              .read(spark, baseDir, name)
              .as[(String, Array[Long])].collect().toMap
            case None => Map.empty
          }
          val merged = (batchSk.keySet ++ prev.keySet).toSeq.sorted.map { g =>
            val m = agg.merge(
              graft.ops.StatsOps.KmvBuf(prev.getOrElse(g, Array.emptyLongArray)),
              graft.ops.StatsOps.KmvBuf(
                batchSk.getOrElse(g, Array.emptyLongArray)))
            (g, m.hs)
          }
          graft.pipelines.Versioned.publish(
            merged.toDF("grp", "kmins"), baseDir, name, keep)
          ()
        }
      }

  /** Streaming CDC apply: each micro-batch of ordered I/U/D changes is
    * collapsed and merged into the CURRENT published snapshot with
    * [[graft.pipelines.Incremental.applyCdc]] and the result published
    * as the next [[graft.pipelines.Versioned]] version — a continuously
    * maintained replica with time travel, the streaming half of a
    * Debezium pipeline. Batch semantics are exactly the batch op's
    * (spec asserts the maintained table equals one applyCdc of the
    * concatenated log at every version). Within a micro-batch the `seq`
    * column orders ops; ACROSS batches arrival order wins (each batch's
    * survivors replace the keys they touch), so a replayed epoch
    * re-applies the same collapsed ops onto keys it already wrote —
    * idempotent, the foreachBatch recipe. First batch bootstraps the
    * snapshot from the insert/update payloads alone. */
  def maintainCdc(changes: DataFrame, baseDir: String, name: String,
      keys: Seq[String], keep: Int = 3)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    changes.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val payloadCols = batch.columns.filterNot(c => c == "op" || c == "seq")
          // the snapshot-read → apply → publish span is one writer
          // transaction (r14): a concurrent writer landing between the
          // read and the publish would be silently reverted by this
          // epoch's snapshot-replace
          graft.pipelines.Versioned.withFamilyLease(baseDir, Seq(name)) {
            val prev = graft.pipelines.Versioned
              .latestVersion(baseDir, name) match {
              case Some(_) =>
                graft.pipelines.Versioned.read(spark, baseDir, name)
              case None => // bootstrap: empty snapshot with the payload schema
                batch.toDF().select(payloadCols.map(col).toIndexedSeq: _*)
                  .limit(0)
            }
            val next = graft.pipelines.Incremental
              .applyCdc(prev, batch.toDF(), keys)
            graft.pipelines.Versioned.publish(next, baseDir, name, keep)
          }
          ()
        }
      }

  /** Streaming corpus ingestion with dedup admission — the composed
    * 100 TB training-data front door: every micro-batch of documents is
    * vetted against the CURRENT published corpus with
    * [[graft.ops.DedupOps.incrementalDedup]] (batch×corpus ∪ batch×batch
    * candidates only — the corpus is never re-paired), and only
    * `admitted` documents are appended as a new [[graft.pipelines.Versioned]]
    * version — so the corpus is clean at every version, and a bad batch
    * rolls back by time travel. The first batch bootstraps against an
    * empty corpus (self-dedup only). Batch semantics are exactly the
    * batch op's (spec-asserted); restart idempotence follows the
    * foreachBatch recipe — a replayed epoch re-admits the same already-
    * present doc_ids, which the upsert's key-replace absorbs. */
  def ingestDeduped(docs: DataFrame, baseDir: String, name: String,
      n: Int = 5, threshold: Double = 0.5, keep: Int = 3)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val admitted = dedupAdmitted(batch.toDF(), baseDir, name, n,
            threshold)
          if (!admitted.isEmpty) {
            graft.pipelines.Incremental.publishUpsert(batch.sparkSession,
              baseDir, name, admitted, Seq("doc_id"), keep)
            ()
          }
        }
      }

  /** The rows of `batch` that [[graft.ops.DedupOps.incrementalDedup]]
    * admits against the latest published `name` (an empty corpus before
    * the first publish) — the vet both dedup ingest writers run. */
  private def dedupAdmitted(batch: DataFrame, baseDir: String, name: String,
      n: Int, threshold: Double): DataFrame = {
    val spark = batch.sparkSession
    val corpus = graft.pipelines.Versioned.latestVersion(baseDir, name) match {
      case Some(_) => graft.pipelines.Versioned.read(spark, baseDir, name)
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
    }
    val verdicts = graft.ops.DedupOps.incrementalDedup(
      corpus, batch, n, threshold)
    batch.join(
      verdicts.filter(col("status") === "admitted").select("doc_id"),
      Seq("doc_id"), "left_semi")
  }

  /** [[ingestDeduped]] composed with ANN-INDEX admission — the streaming
    * front door of a SEARCHABLE corpus, which is what a training-data
    * tier actually serves: each micro-batch is dedup-vetted against the
    * published corpus exactly as [[ingestDeduped]] does, admitted
    * documents land as a new corpus version, AND their vectors (via
    * `embed` — an embedding lookup or featurizer over the admitted
    * frame, returning (vec_id, embedding)) are admitted to the
    * published IVF-PQ index in the same epoch. The first non-empty
    * epoch bootstraps the index (the only model-training pass); every
    * later epoch encodes against the frozen model in O(batch)
    * ([[graft.ops.AnnIndex.buildOrAppend]]). Replays are absorbed on
    * BOTH legs: logical duplicates are rejected by the dedup vet
    * (already-published docs read `exact_dup`/`near_dup` → nothing to
    * upsert or index), and engine-level epoch replays are skipped by
    * the index's admission check (batchId = epoch + 1, monotone, against
    * the batch ids its codes manifest holds —
    * [[graft.ops.AnnIndex.admittedHwm]]) and key-replaced by the corpus
    * upsert. Every admitted document is servable from the NEXT serve's
    * snapshot; corpus and index versions advance together, one group
    * transaction each.
    *
    * REPLAY vs ERASURE: an engine-level replay of an epoch that fully
    * landed once, arriving AFTER an [[graft.pipelines.Erasure]] call
    * erased some of its documents, would re-admit those docs corpus-side
    * (the vet no longer sees them) while the index rightly refuses their
    * vectors — permanent corpus/index divergence. The corpus leg
    * therefore excludes, on replayed epochs only (batch id at or below
    * [[graft.ops.AnnIndex.admittedHwm]]), any doc whose delivered
    * vector is not servable from the index — erased docs stay erased
    * under replay, while a crash between the index leg and the corpus
    * publish is still completed by the replay (those vectors ARE
    * servable), and a logical re-delivery in a NEW epoch is still
    * re-admitted (re-consent). StreamsSpec pins all three.
    *
    * The checkpoint location defaults to `<indexDir>/_stream_checkpoint`
    * (override with `.option("checkpointLocation", …)` on the returned
    * writer) and MUST stay durable across restarts: index admission depends
    * on MONOTONE epoch ids (batchId = epoch + 1 with skipIfExists), so a
    * restart on a fresh temporary checkpoint replays epochs from 0 and
    * every post-restart epoch colliding with an already-admitted id is
    * treated as an engine-level REPLAY — its new vectors are skipped
    * as already admitted and the replay-after-erase guard then drops
    * its docs from the corpus publish too (they are not index-backed):
    * genuinely-new data silently vanishes from BOTH stores, epoch after
    * epoch. The guard logs a loud per-epoch warning whenever a replay
    * drops admitted docs, which is also the signature to look for when
    * diagnosing exactly this misconfiguration (ADVICE r12; sharpened
    * r13 when the guard unified the two legs' replay handling). */
  def ingestDedupedIndexed(docs: DataFrame, baseDir: String, name: String,
      indexDir: String, embed: DataFrame => DataFrame,
      n: Int = 5, threshold: Double = 0.5, keep: Int = 3,
      p: graft.ops.AnnIndex.Params = graft.ops.AnnIndex.Params())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append")
      .option("checkpointLocation", s"$indexDir/_stream_checkpoint")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], epoch: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val admitted = dedupAdmitted(batch.toDF(), baseDir, name, n,
              threshold)
            .pinLazy // feeds the upsert AND the embed leg
          if (!admitted.isEmpty) {
            // Engine-level REPLAY detection, read BEFORE the index leg
            // can admit this batch: a batch id at or below the highest
            // one in the index's codes manifest was already admitted
            // once, so this delivery is an at-least-once redelivery,
            // not new data.
            val isReplay =
              graft.ops.AnnIndex.admittedHwm(indexDir) >= epoch + 1L
            // INDEX leg FIRST, corpus publish second — the crash-safe
            // order. A crash between the two legs replays the epoch:
            // with this order the docs are still absent from the
            // corpus, so the dedup vet re-admits them, the index
            // admission skips the already-landed batch id, and
            // the corpus publish completes — nothing is lost. The
            // reverse order would strand admitted docs forever
            // unindexed (the replay's vet reads them as exact_dup and
            // the embed leg never sees them again).
            val vecs = embed(admitted)
            val hasVecs = !vecs.isEmpty
            if (hasVecs) {
              graft.ops.AnnIndex.buildOrAppend(vecs, indexDir,
                batchId = epoch + 1L, p, keep)
              ()
            }
            // REPLAY-AFTER-ERASE guard on the corpus leg: a replayed
            // epoch publishes ONLY docs whose vectors are SERVABLE from
            // the post-leg index. A doc admitted on a replay (i.e.
            // absent from the corpus it already entered once) that is
            // not index-backed was ERASED between the epoch's original
            // run and this redelivery — tombstoned, folded away, or
            // gone from the embedding source itself — and re-publishing
            // it would reverse the erasure while leaving it permanently
            // unindexed, the silent corpus/index divergence this
            // composition exists to prevent. Servability (not
            // delivered-vector membership) is the criterion because the
            // realistic GDPR flow erases the embedding store too, which
            // hides the victim from any delivered-vector check. The
            // privacy-first trade: an originally-embedding-less doc
            // caught in a crash-between-legs replay is dropped rather
            // than re-published — a RECOVERABLE outcome (the source
            // re-delivers it in a fresh epoch and it admits normally),
            // whereas a reversed erasure is a silent compliance
            // violation. Crash-between-legs completion of indexed docs
            // still works (their vectors landed in the original first
            // leg and are servable); a LOGICAL re-delivery in a NEW
            // epoch is still re-admitted (re-consent). StreamsSpec pins
            // all of these. Dropped docs are logged loudly: with a
            // non-durable checkpoint every post-restart epoch reads as
            // a replay and this guard would silently discard
            // genuinely-new data (the docstring's durability warning).
            // (a replay implies a committed index: `isReplay` read its
            // codes manifest)
            val toPublish =
              if (!isReplay) admitted
              else admitted.join(
                graft.ops.AnnIndex.servableIds(spark, indexDir)
                  .select(col("vec_id").as("doc_id")),
                Seq("doc_id"), "left_semi")
            if (isReplay) {
              val dropped = admitted.count() - toPublish.count()
              if (dropped > 0)
                org.slf4j.LoggerFactory.getLogger("graft.streaming").warn(
                  s"ingestDedupedIndexed: replayed epoch $epoch dropped " +
                    s"$dropped admitted doc(s) not backed by the index " +
                    "(erased since the original run, or a non-durable " +
                    "checkpoint is colliding new data with admitted ids)")
            }
            if (!toPublish.isEmpty) {
              graft.pipelines.Incremental.publishUpsert(
                spark, baseDir, name, toPublish, Seq("doc_id"), keep)
              ()
            }
          }
        }
      }

  // ---- arbitrary stateful processing v2 (transformWithState) -----------

  case class SpendRow(user_id: Long, cents: Long)
  case class SpendTotal(user_id: Long, n_purchases: Long, total_cents: Long)

  /** Per-user running purchase totals on Spark 4's transformWithState —
    * the state-API-v2 successor to flatMapGroupsWithState (typed
    * composable state, TTL support, RocksDB-backed). ValueState holds
    * (count, cents); every micro-batch emits the updated totals for the
    * keys it touched (update-mode semantics). Integer cents keep the
    * accumulation exact in any within-batch arrival order, so the final
    * emission per user equals the batch aggregate bit-for-bit. Requires
    * the RocksDB state store provider (the only provider the v2 state
    * API supports).
    *
    * The totals are warm-started from the BATCH `backfill` (pass an empty
    * frame for a cold start) — the production bootstrap pattern: the
    * historical aggregate seeds per-key state via
    * StatefulProcessorWithInitialState.handleInitialState, then the
    * stream continues accumulating on top. Final totals equal the
    * aggregate over backfill+stream as if it had all streamed — the
    * cutover invariant a backfilled pipeline must satisfy. */
  def spendTotalsStream(events: DataFrame,
      backfill: DataFrame): Dataset[SpendTotal] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    def purchases(df: DataFrame) = df.filter(col("event_type") === "purchase")
      .select(col("user_id"),
        expr("cast(round(value * 100) as long)").as("cents"))
    val init = purchases(backfill)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).cast("long").as("s"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
    purchases(events)
      .as[SpendRow]
      .groupByKey(_.user_id)
      .transformWithState(new SpendProcessor, TimeMode.None(),
        OutputMode.Update(), init)
  }

  case class WeekEv(user_id: Long, wk: Long)
  case class GrowthEv(wk: Long, user_id: Long, status: String)

  /** STREAMING growth accounting — the q390 weekly
    * new/retained/resurrected classification as an incremental v2
    * stateful op: 8 bytes of ValueState per user (the last classified
    * week) instead of the batch job's full (user, week) frame. Each
    * user's weeks are classified in ascending order: no prior state →
    * `new`, exactly one week after the last → `retained`, a longer gap
    * → `resurrected`; duplicate/late weeks within the frontier are
    * dropped (the batch twin's distinct). Rolling the emissions up by
    * (wk, status) equals q390's new/retained/resurrected columns —
    * spec-pinned. Churn is the complement (prior-week actives minus
    * current) and stays a batch/rollup concern: emitting it streaming
    * would need a per-week timer per user for the NON-event, which
    * costs more state than the downstream anti-join it replaces —
    * that anti-join is [[growthRollup]], which completes the streamed
    * emissions to q390's full frame including `churned`. */
  def growthStream(events: DataFrame): Dataset[GrowthEv] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events.select(col("user_id"),
        expr("CAST(unix_date(CAST(date_trunc('WEEK', ts) AS DATE)) AS BIGINT)")
          .as("wk"))
      .as[WeekEv]
      .groupByKey(_.user_id)
      .transformWithState(new GrowthProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  /** The churn complement, downstream of [[growthStream]]: roll the
    * streamed emissions up to q390's FULL weekly frame —
    * new/retained/resurrected straight from the statuses, churned from
    * the emissions alone. The key property making this possible without
    * any extra input: every (user, active-week) pair gets EXACTLY ONE
    * emission (new | retained | resurrected), so the emission set IS the
    * distinct active frame, and churned(w) = actives(w−7) anti-joined
    * against actives(w). This is the batch half of the argued trade in
    * [[growthStream]]'s doc — emitting churn per-event would need a
    * per-week timer per user for the NON-event (more state than this
    * anti-join); running the complement as a small rollup over the
    * already-classified emissions costs one shuffle on (user, wk).
    * StreamsSpec asserts streamed-emissions → this rollup == batch q390,
    * all columns. */
  def growthRollup(emissions: DataFrame): DataFrame = {
    val uw = emissions.select(col("user_id"), col("wk"))
      .pinLazy // both sides of the churn anti-join
    val counts = emissions.groupBy(col("wk")).agg(
      sum(when(col("status") === "new", 1L).otherwise(0L)).as("new_users"),
      sum(when(col("status") === "retained", 1L).otherwise(0L)).as("retained"),
      sum(when(col("status") === "resurrected", 1L).otherwise(0L))
        .as("resurrected"))
    val churned = uw.select(col("user_id"), (col("wk") + 7).as("wk"))
      .join(uw, Seq("user_id", "wk"), "left_anti")
      .groupBy(col("wk")).agg(count(lit(1)).as("churned"))
    counts.join(churned, Seq("wk"), "left")
      .select(col("wk"), col("new_users"), col("retained"),
        col("resurrected"), coalesce(col("churned"), lit(0L)).as("churned"))
      .orderBy(col("wk"))
  }

  case class TypeCount(user_id: Long, event_type: String, n: Long)

  /** Per-user event-type histogram on v2 MapState — the state shape
    * next to ValueState (spend totals, growth accounting):
    * MapState[event_type → count] per user, each
    * micro-batch emitting the updated count for every type it touched
    * (update-mode). Keys are stored individually in the state store, so
    * a single hot user with many types never deserializes one giant
    * blob — the reason MapState exists over ValueState[Map]. */
  def typeCountsStream(events: DataFrame): Dataset[TypeCount] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events.select(col("user_id"), col("ts"), col("event_type")).as[EvTyped]
      .groupByKey(_.user_id)
      .transformWithState(new TypeCountProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** Pure gap-split: the session kernel of [[sessionizeStream]]. */
  def splitSessions(uid: Long, sorted: Seq[(Long, Double)]): Seq[Session] = {
    if (sorted.isEmpty) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[Session]
    var start = sorted.head._1
    var last = sorted.head._1
    var n = 0L
    var sum = BigDecimal(0)
    for ((t, v) <- sorted) {
      if (t - last >= GapUs) {
        out += Session(uid, start, last + GapUs, n, sum.toDouble)
        start = t; n = 0; sum = BigDecimal(0)
      }
      n += 1; sum += BigDecimal(v); last = t
    }
    out += Session(uid, start, last + GapUs, n, sum.toDouble)
    out.toSeq
  }
}

/** The StatefulProcessor behind [[Streams.spendTotalsStream]]: one
  * ValueState[(count, cents)] per user key, seeded by handleInitialState
  * from the batch backfill aggregate before the first micro-batch touches
  * the key. State reads/writes go through the v2 typed-state handle, so
  * the same processor runs unchanged on the RocksDB provider with
  * changelog checkpointing at scale. */
class SpendProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
      Long, Streams.SpendRow, Streams.SpendTotal, (Long, Long)] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var totals: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState[(Long, Long)]("totals",
      org.apache.spark.sql.Encoders.product[(Long, Long)], TTLConfig.NONE)

  override def handleInitialState(key: Long, initialState: (Long, Long),
      timerValues: TimerValues): Unit =
    totals.update(initialState)

  override def handleInputRows(key: Long, rows: Iterator[Streams.SpendRow],
      timerValues: TimerValues): Iterator[Streams.SpendTotal] = {
    val (c0, s0) = if (totals.exists()) totals.get() else (0L, 0L)
    var c = c0
    var s = s0
    rows.foreach { r => c += 1; s += r.cents }
    totals.update((c, s))
    Iterator.single(Streams.SpendTotal(key, c, s))
  }
}

/** The ValueState processor behind [[Streams.growthStream]]: last
  * classified week per user. Weeks inside one micro-batch are sorted
  * ascending before classification so arrival order within a batch
  * never changes a label. */
class GrowthProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, Streams.WeekEv, Streams.GrowthEv] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var lastWk: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    lastWk = getHandle.getValueState[Long]("lastWk",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[Streams.WeekEv],
      timerValues: TimerValues): Iterator[Streams.GrowthEv] = {
    val weeks = rows.map(_.wk).toArray.distinct.sorted
    val out = scala.collection.mutable.ArrayBuffer.empty[Streams.GrowthEv]
    var last = if (lastWk.exists()) lastWk.get() else Long.MinValue
    weeks.foreach { wk =>
      if (last == Long.MinValue) out += Streams.GrowthEv(wk, key, "new")
      else if (wk == last + 7) out += Streams.GrowthEv(wk, key, "retained")
      else if (wk > last + 7) out += Streams.GrowthEv(wk, key, "resurrected")
      // wk <= last: duplicate or late week — already classified, drop
      if (wk > last || last == Long.MinValue) last = wk
    }
    if (last != Long.MinValue) lastWk.update(last)
    out.iterator
  }
}

/** The MapState StatefulProcessor behind [[Streams.typeCountsStream]]:
  * one map entry per (user, event_type), incremented per row; the output
  * list is materialized eagerly so no state access outlives the
  * handleInputRows call. */
class TypeCountProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, Streams.EvTyped, Streams.TypeCount] {
  import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode, TimerValues, TTLConfig}

  @transient private var counts: MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    counts = getHandle.getMapState[String, Long]("counts",
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[Streams.EvTyped],
      timerValues: TimerValues): Iterator[Streams.TypeCount] = {
    val touched = scala.collection.mutable.LinkedHashSet.empty[String]
    rows.foreach { e =>
      val c = if (counts.containsKey(e.event_type))
        counts.getValue(e.event_type) else 0L
      counts.updateValue(e.event_type, c + 1L)
      touched += e.event_type
    }
    touched.toList
      .map(t => Streams.TypeCount(key, t, counts.getValue(t))).iterator
  }
}
