package graft.engine

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Small-file compaction for export destinations.
  *
  * A long-running incremental backup pipeline (the reference re-exports
  * each table's new window per session — export.rb:145-169) accretes
  * one file set per session; at 100 TB / thousands of sessions the
  * destination degenerates into millions of KB-sized files, and every
  * restore or analytic scan pays file-listing + per-file open cost that
  * dwarfs the actual IO. Compaction rewrites a destination directory
  * into ~targetBytes-sized files, preserving rows, schema, Hive
  * partition layout, and sidecar files.
  *
  * Scale design:
  *  - sizing is metadata-only (FileSystem.listStatus byte sums + parquet
  *    footer row counts) — zero Spark jobs before the decision, so a
  *    fleet-wide "compact if beneficial" sweep over thousands of tables
  *    is cheap;
  *  - the rewrite is a narrow `coalesce` (no shuffle) reading the very
  *    row groups it replaces;
  *  - partitioned layouts compact each leaf partition independently —
  *    the unit of rewrite (and of failure) is one partition, never the
  *    table;
  *  - the swap is [[AtomicDir.replace]]: a crash can leave a stale
  *    copy but never a half-written destination, and
  *    [[AtomicDir.recover]] restores a destination (or partition)
  *    whose swap died between the renames;
  *  - a footer-count integrity gate (rows after == rows before) aborts
  *    the swap rather than publishing a lossy rewrite.
  *
  * Parquet-only by design: the footer row count is what makes the
  * integrity gate and the sizing decision free; text formats would need
  * a full scan to know either.
  */
object Compactor {

  final case class Report(dir: String, filesBefore: Int, filesAfter: Int,
                          bytes: Long, rows: Long, compacted: Boolean)

  private[graft] def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A store dir's data files: Spark's `_`/`.` bookkeeping excluded. */
  private[graft] def dataFiles(f: FileSystem, dir: Path): Array[FileStatus] =
    f.listStatus(dir).filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** Output file count for a `bytes`-sized rewrite at ~`targetBytes`
    * per file (at least one).
    */
  private[graft] def targetFiles(bytes: Long, targetBytes: Long): Int =
    math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt

  private def partitionDirs(f: FileSystem, dir: Path): Seq[Path] =
    f.listStatus(dir).filter { s =>
      val n = s.getPath.getName
      s.isDirectory && n.contains("=") && !AtomicDir.isArtifact(n)
    }.map(_.getPath).toSeq

  /** Compact one directory (recursing into Hive partition dirs) to
    * ~targetBytes files. No-ops (and says so in the report) when the
    * directory already has few enough files.
    */
  def compact(spark: SparkSession, dir: String,
              targetBytes: Long = 512L << 20,
              zorderCols: Seq[String] = Nil): Report = {
    val f = fs(spark, dir)
    AtomicDir.recover(f, dir)
    // a partition whose swap crashed must be restored (and its stale
    // copies cleared) before the listing, or it reads as a partition
    AtomicDir.recoverChildren(f, dir)
    val root = new Path(dir)
    val parts = partitionDirs(f, root)
    if (parts.nonEmpty) {
      // leaf-partition recursion: each partition is its own rewrite
      // unit; the layout (and partition pruning on restore) survives
      val reports =
        parts.map(p => compact(spark, p.toString, targetBytes, zorderCols))
      return Report(dir, reports.map(_.filesBefore).sum,
        reports.map(_.filesAfter).sum, reports.map(_.bytes).sum,
        reports.map(_.rows).sum, reports.exists(_.compacted))
    }

    val files = dataFiles(f, root)
    val bytes = files.map(_.getLen).sum
    val nOut = targetFiles(bytes, targetBytes)
    // nothing to rewrite: no files means no rows to cluster either —
    // a zorder request on an empty dir is a no-op, not a crash
    if (files.isEmpty)
      return Report(dir, 0, 0, 0L, 0L, compacted = false)
    // a z-order request is a RE-LAYOUT: it must rewrite even when the
    // file count is already at target (the point is clustering, not
    // merging)
    if (files.length <= nOut && zorderCols.isEmpty)
      return Report(dir, files.length, files.length, bytes,
        TableOps.parquetRowCount(spark, dir), compacted = false)

    val rowsBefore = TableOps.parquetRowCount(spark, dir)
    AtomicDir.replace(f, dir) { stage =>
      val src = spark.read.parquet(dir)
      val rewritten =
        if (zorderCols.nonEmpty) Layout.zorderBy(src, zorderCols, nOut)
        else src.coalesce(nOut)
      rewritten.write.mode("overwrite").parquet(stage)
      val rowsAfter = TableOps.parquetRowCount(spark, stage)
      if (rowsAfter != rowsBefore)
        throw new IllegalStateException(s"compaction of $dir dropped " +
          s"rows ($rowsBefore -> $rowsAfter); aborted")
    }
    val after = dataFiles(f, root)
    Report(dir, files.length, after.length, after.map(_.getLen).sum,
      rowsBefore, compacted = true)
  }

  final case class MajorReport(dir: String, rowsBefore: Long,
                               rowsAfter: Long, files: Int)

  /** HBase major compaction over a file-based restore target: imports
    * are additive (Hadoop Import appends cells — Importer.scala's
    * Append mode mirrors that), so a target restored from several
    * sessions accumulates every version of every key. Major compaction
    * enforces the column-family contract the catalog already records
    * (ColumnDescriptor.max_versions / ttl, mysql.rb:75-102 — HBase
    * drops beyond-maxVersions and TTL-expired cells when it rewrites
    * an HFile): keep the newest `maxVersions` rows per key, drop rows
    * older than the TTL, publish atomically.
    *
    * Scale: one hash shuffle on the key columns (the ranking window of
    * Exporter.versionCap — same skew bounds as a capped export), then
    * a sized write. The unit of rewrite is the table dir; at 100 TB
    * run it per partition dir like `compact` does.
    */
  def majorCompact(spark: SparkSession, dir: String, keyCols: Seq[String],
                   tsCol: String, tieBreakCols: Seq[String] = Nil,
                   maxVersions: Int = Int.MaxValue, ttlMs: Long = 0L,
                   nowMs: Long = 0L,
                   targetBytes: Long = 512L << 20): MajorReport = {
    require(keyCols.nonEmpty, "major compaction needs the row key columns")
    val f = fs(spark, dir)
    AtomicDir.recover(f, dir)
    val rowsBefore = TableOps.parquetRowCount(spark, dir)
    val nOut = targetFiles(dataFiles(f, new Path(dir)).map(_.getLen).sum,
      targetBytes)

    val df = spark.read.parquet(dir)
    // HBase expiry is `now - ts >= ttl` (strict survival: ts > now-ttl).
    // Integral ts columns are epoch millis and compare as such — a
    // cast("timestamp") would reinterpret them as SECONDS.
    val alive =
      if (ttlMs > 0L) {
        import org.apache.spark.sql.types.{IntegerType, LongType}
        val cutoff = nowMs - ttlMs
        df.schema(tsCol).dataType match {
          case LongType | IntegerType => df.filter(col(tsCol) > lit(cutoff))
          case _ => df.filter(col(tsCol).cast("timestamp") >
            timestamp_millis(lit(cutoff)))
        }
      } else df
    val kept = Exporter.versionCap(alive, keyCols, tsCol, tieBreakCols,
      maxVersions)
    val rowsAfter = AtomicDir.replace(f, dir) { stage =>
      kept.coalesce(nOut).write.mode("overwrite").parquet(stage)
      TableOps.parquetRowCount(spark, stage)
    }
    MajorReport(dir, rowsBefore, rowsAfter,
      dataFiles(f, new Path(dir)).length)
  }
}
