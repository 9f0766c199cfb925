package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

/** Keyed incremental refresh without a table format — the MERGE INTO
  * core as plain relational algebra: incoming rows replace existing
  * rows with the same key (anti-join keeps the survivors, union appends
  * the new batch). One shuffle on the key; the incoming batch is
  * typically broadcast-sized so Catalyst plans the anti-join broadcast.
  * Composed with [[Versioned]] the result is an upsert with time travel:
  * each refresh publishes a new immutable version, so a bad batch rolls
  * back by republishing the previous version instead of by
  * restore-from-backup.
  *
  * [[publishUpsert]] and [[publishDelete]] merge against the WHOLE
  * table. A partition-scoped refresh that rewrites only the partitions
  * a batch touches is a [[Versioned.GroupDelta]] publish, as
  * [[graft.ops.AnnIndex]] and [[CorpusPublisher]] do it. */
object Incremental {

  /** Pure upsert: `incoming` wins on key collision. Schemas must match
    * by name (unionByName); output keeps `existing`'s column order (the
    * using-columns anti-join would otherwise move key columns first,
    * drifting the published schema between versions). */
  def upsert(existing: DataFrame, incoming: DataFrame,
      keys: Seq[String]): DataFrame =
    existing.join(incoming.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .select(existing.columns.toIndexedSeq.map(col): _*)
      .unionByName(incoming)

  /** Upsert `incoming` into the latest published version of
    * `baseDir/name` (or bootstrap from `incoming` alone) and publish the
    * result as the next version; returns the new version id. */
  def publishUpsert(spark: SparkSession, baseDir: String, name: String,
      incoming: DataFrame, keys: Seq[String], keep: Int = 3): Long =
    // the read-merge-publish span is one writer transaction (r14): two
    // concurrent upserts that both read version v would otherwise each
    // publish a merge missing the other's rows — the second one to land
    // silently dropping the first (lost update)
    Versioned.withFamilyLease(baseDir, Seq(name)) {
      val merged = Versioned.latestVersion(baseDir, name) match {
        case Some(_) =>
          upsert(Versioned.read(spark, baseDir, name), incoming, keys)
        case None => incoming
      }
      Versioned.publish(merged, baseDir, name, keep)
    }

  /** Row-level delete on a versioned table (the GDPR/right-to-erasure
    * primitive): anti-join the latest version against the delete-key set
    * and publish the survivors as the next immutable version. Time travel
    * still reaches pre-delete versions until retention prunes them — set
    * `keep = 1` for erasure semantics where old versions must go away
    * with the next publishes. The delete set is typically tiny →
    * broadcast anti-join, one pass over the table. */
  def publishDelete(spark: SparkSession, baseDir: String, name: String,
      deleteKeys: DataFrame, keys: Seq[String], keep: Int = 3): Long =
    // read-anti-join-publish under one writer lease (r14): an upsert
    // landing between this read and the publish would be silently
    // reverted — for an ERASURE caller the inverse interleaving is
    // worse still (the erase wins the race but the republished upsert
    // resurrects the victims)
    Versioned.withFamilyLease(baseDir, Seq(name)) {
      val survivors = Versioned.read(spark, baseDir, name)
        .join(deleteKeys.select(keys.map(col): _*).distinct(), keys,
          "left_anti")
      Versioned.publish(survivors, baseDir, name, keep)
    }

  /** Incremental aggregate maintenance (the materialized-view refresh
    * core): merge a delta batch's partial SUM/COUNT aggregates into an
    * existing aggregate table instead of recomputing over all history —
    * refresh cost is O(delta + |groups touched|), not O(corpus). Only
    * self-mergeable aggregates qualify (sum, count; avg as sum/count at
    * read time); min/max merge too but can't handle deletions. `existing`
    * and `delta` must both carry (`keys`, `sumCols`, `cnt`); result
    * groups are the union with element-wise sums. Compose with
    * [[Versioned]] to publish each refresh as an immutable version. */
  def mergeAggregates(existing: DataFrame, deltaAgg: DataFrame,
      keys: Seq[String], sumCols: Seq[String], cntCol: String): DataFrame = {
    val valueCols = sumCols :+ cntCol
    require((keys ++ valueCols).forall(existing.columns.contains),
      s"existing must carry ${keys ++ valueCols}")
    existing.unionByName(deltaAgg.select((keys ++ valueCols).map(col): _*))
      .groupBy(keys.map(col): _*)
      .agg(sum(col(valueCols.head)).as(valueCols.head),
        valueCols.tail.map(c => sum(col(c)).as(c)): _*)
      .select((keys ++ valueCols).map(col): _*)
  }

  /** Apply an ordered change-data-capture log to a keyed snapshot — the
    * Debezium-shaped half of MERGE INTO: `log` carries the snapshot's
    * columns plus an op column ('I'nsert / 'U'pdate / 'D'elete) and a
    * monotone sequence column; for each key the HIGHEST-sequence op
    * wins, then D removes the key and I/U replace (or insert) the
    * payload. Intermediate history collapses before ever touching the
    * snapshot: the window runs over the log only (O(changes), and a
    * day's CDC batch is broadcast-sized next to the table), followed by
    * one key anti-join + union — the same single-shuffle shape as
    * [[upsert]]. Ties on (key, seq) break on op descending (U > I > D
    * alphabetically reversed — deterministic, documented, and a
    * malformed feed with duplicate sequence numbers still applies
    * identically on every engine). */
  def applyCdc(snapshot: DataFrame, log: DataFrame, keys: Seq[String],
      opCol: String = "op", seqCol: String = "seq"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val payload = snapshot.columns.toIndexedSeq
    require((payload ++ Seq(opCol, seqCol)).toSet == log.columns.toSet,
      s"log must carry exactly snapshot columns + $opCol + $seqCol")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(seqCol).desc, col(opCol).desc)
    val latest = log
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1)
    snapshot
      .join(latest.select(keys.map(col): _*), keys, "left_anti")
      .select(payload.map(col): _*)
      .unionByName(latest.filter(col(opCol) =!= "D")
        .select(payload.map(col): _*))
  }
}
