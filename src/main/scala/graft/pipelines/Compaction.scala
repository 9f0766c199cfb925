package graft.pipelines

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Small-file compaction for [[Versioned]] tables — the maintenance
  * operator every long-running ingest needs at scale: streaming/micro-
  * batch publishes and over-parallel writes leave thousands of KB-sized
  * files per version, and at 100 TB the resulting footer reads +
  * scheduler pressure dominate scan cost long before the bytes do.
  *
  * A compaction is an ordinary publish: the latest committed version is
  * rewritten into the next one, sized from its actual byte total
  * (ceil(bytes / targetBytes) files), so readers see either the old
  * fragmented version or the complete compacted one — never a partial
  * directory — and time travel still reaches the version before it. The
  * commit is [[Versioned]]'s exclusive marker create, so compaction runs
  * unchanged on local disk, HDFS and object stores; all listing/sizing
  * goes through the Hadoop `FileSystem` API ([[Fs]]).
  *
  * By default partitions merge with `coalesce` (no shuffle — the scale
  * default: compaction should move bytes once, not twice); pass
  * `shuffle = true` to `repartition` instead when inputs are skewed
  * enough that balanced output files matter more than the extra pass.
  */
object Compaction {

  final case class CompactReport(
      filesBefore: Int, filesAfter: Int, bytes: Long, outputFiles: Int)

  private def parquetFiles(dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    Fs.list(dir).filter(_.getPath.getName.endsWith(".parquet"))

  /** Compact the latest committed version of the [[Versioned]] table
    * `baseDir/name` into its next version (default retention).
    *
    *  - A plain version is rewritten whole and republished through
    *    [[Versioned.publish]].
    *  - A partitioned (manifest) version goes through ONE
    *    [[Versioned.publishDelta]]: only partitions holding more files
    *    than their own ceil(bytes / targetBytes) are rewritten (each
    *    sized independently), every other partition is linked unchanged
    *    — the layout is preserved and untouched partitions keep their
    *    bytes. When no partition needs it, nothing is published.
    *
    * The whole listing → rewrite → commit span holds the table's writer
    * lease (`<table>/_LEASE`, the one every publish takes), so a
    * compaction racing a live producer is REFUSED with
    * [[Versioned.ConcurrentWriterException]] instead of discarding what
    * the producer committed in between. The guard is only as atomic as
    * the connector's exclusive create — see the S3A caveat in [[Fs]].
    *
    * The report counts parquet files across the whole table before and
    * after, the bytes of the source version, and the file count the
    * compacted version is sized for. */
  def compact(spark: SparkSession, baseDir: String, name: String,
      targetBytes: Long = 128L * 1024 * 1024,
      shuffle: Boolean = false): CompactReport = {
    require(Versioned.latestVersion(baseDir, name).nonEmpty,
      s"$baseDir/$name has no committed version to compact")
    def sizeFor(bytes: Long): Int =
      math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    def sized(df: DataFrame, n: Int): DataFrame =
      if (shuffle) df.repartition(n) else df.coalesce(n)
    Versioned.withFamilyLease(baseDir, Seq(name)) {
      val t = Versioned.tableDir(baseDir, name)
      // resolved under the lease: a version resolved before it could be
      // superseded by a publish that this compaction would then undo
      val v = Versioned.latestVersion(baseDir, name).get
      Versioned.manifest(baseDir, name, v) match {
        case None =>
          val before = parquetFiles(Versioned.vdir(t, v))
          require(before.nonEmpty,
            s"version $v of $baseDir/$name has no parquet files to compact")
          val total = before.map(_.getLen).sum
          val nOut = sizeFor(total)
          val next = Versioned.publish(
            sized(Versioned.read(spark, baseDir, name, Some(v)), nOut),
            baseDir, name)
          CompactReport(before.size,
            parquetFiles(Versioned.vdir(t, next)).size, total, nOut)
        case Some(m) =>
          def files(entries: Seq[(String, String)]) =
            entries.map(e => e -> parquetFiles(new Path(t, e._2)))
          val before = files(m.entries)
          val target =
            before.map { case (e, fs) => e -> sizeFor(fs.map(_.getLen).sum) }.toMap
          val (rewrite, link) =
            before.partition { case (e, fs) => fs.size > target(e) }
          val after =
            if (rewrite.isEmpty) before
            else {
              // one read per rewritten partition, so each is sized alone
              val delta = rewrite.map { case (e, _) => sized(
                Versioned.readPartitions(spark, baseDir, name, m, Seq(e)),
                target(e))
              }.reduce(_.unionByName(_))
              val next = Versioned.publishDelta(delta, baseDir, name,
                m.partCol, reuse = link.map(_._1))
              files(Versioned.manifest(baseDir, name, next).get.entries)
            }
          CompactReport(before.map(_._2.size).sum, after.map(_._2.size).sum,
            before.flatMap(_._2).map(_.getLen).sum,
            before.map { case (e, fs) => math.min(fs.size, target(e)) }.sum)
      }
    }
  }
}
