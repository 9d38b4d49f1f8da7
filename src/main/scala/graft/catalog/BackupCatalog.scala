package graft.catalog

import graft.engine.{AtomicDir, Compactor}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}

/** Parquet-backed backup-metadata catalog — the Spark-native stand-in
  * for the reference's MySQL/SimpleDB store
  * (/root/reference/lib/hbacker/mysql.rb, db.rb.old).
  *
  * Layout: `<root>/sessions`, `<root>/tables`, `<root>/descriptors`,
  * one Parquet dir each, on ANY Hadoop-supported filesystem (existence
  * probes go through the scheme-aware FileSystem API, not java.io).
  * The catalog is metadata-scale (one row per table per run), so
  * driver-side read-modify-write for session finalization is
  * deliberate — this is the control plane, not the data plane.
  *
  * Concurrency: reads AND writes serialize on the instance. Writers
  * racing in the shared `_temporary/` staging dir was the obvious
  * hazard, but an unsynchronized read can also observe a directory
  * that exists with no committed files yet (only `_temporary/`) and
  * fail schema inference — so `exists` during a concurrent export must
  * take the same lock.
  *
  * Unlike the reference, which marks a session "ended" when the last
  * job is *enqueued* (export.rb:96 — a real quirk, see SURVEY.md §3.1
  * step 8), [[graft.orchestrate.BackupRunner]] only calls [[endInfo]]
  * after every table job has completed.
  */
final class BackupCatalog(spark: SparkSession, root: String,
                          compactAfterFiles: Int = 64) {
  import spark.implicits._

  private val sessionsDir = s"$root/sessions"
  private val tablesDir = s"$root/tables"
  private val descsDir = s"$root/descriptors"
  private val purgesDir = s"$root/purges"

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def hasCommittedFiles(dir: String): Boolean = {
    val p = new Path(dir)
    val f = fs(dir)
    f.exists(p) && f.listStatus(p).exists { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Materialized read: rows are collected INSIDE the lock and
    * returned as a local Dataset. A lazy Dataset would snapshot a file
    * index under the lock but scan after release — racing endInfo's
    * rename could then read deleted part-files. Catalog data is
    * metadata-scale, so materializing costs KBs.
    */
  private def readOrEmpty[T <: Product : org.apache.spark.sql.Encoder](
      dir: String): Dataset[T] = {
    recoverIfNeeded()
    val rows: Seq[T] =
      if (hasCommittedFiles(dir)) spark.read.parquet(dir).as[T]
        .collect().toSeq
      else Seq.empty
    spark.createDataset(rows)
  }

  /** Crash recovery for a compaction swap ([[graft.engine.AtomicDir
    * .recover]]): a crash between the renames leaves a store with only
    * its previous copy, which is restored before any read or write. All
    * four append logs compact through the same swap, so all are checked.
    */
  private def recoverIfNeeded(): Unit = {
    val f = fs(root)
    Seq(sessionsDir, tablesDir, descsDir, purgesDir)
      .foreach(AtomicDir.recover(f, _))
  }

  /** The sessions store is an append-structured log: [[startInfo]] and
    * [[endInfo]] only ever APPEND rows, and this read resolves the log
    * per (mode, session_name) — last writer (greatest ended_at) wins,
    * error flags merge as OR, error_info keeps the latest non-empty.
    * O(1) write per session close at any catalog size; the log is
    * folded back to one row per session by [[compactSessions]] once
    * enough close rows accrue.
    */
  def sessions: Dataset[BackupSession] = synchronized {
    val purged = purgedKeys()
    spark.createDataset(resolveSessions(
      readOrEmpty[BackupSession](sessionsDir).collect().toSeq
        .filterNot(s => purged((s.mode, s.session_name)))))
  }

  private def resolveSessions(rows: Seq[BackupSession]): Seq[BackupSession] =
    rows.groupBy(s => (s.mode, s.session_name)).values.map { g =>
      // the final error_info component makes the pick TOTAL: two closes
      // with identical ended_at/error still resolve identically at any
      // read order (parquet row order is not deterministic)
      val best = g.maxBy(s =>
        (s.ended_at, s.error, s.error_info.nonEmpty, s.error_info))
      best.copy(error = g.exists(_.error),
        error_info = if (best.error_info.nonEmpty) best.error_info
          else g.map(_.error_info).filter(_.nonEmpty).sorted
            .lastOption.getOrElse(""))
    }.toSeq
  def tables: Dataset[TableRecord] = synchronized {
    val purged = purgedKeys()
    spark.createDataset(readOrEmpty[TableRecord](tablesDir)
      .collect().toSeq
      .filterNot(t => purged((t.mode, t.session_name))))
  }
  def descriptors: Dataset[ColumnDescriptor] = synchronized {
    // descriptors are export-side rows (only exportedTableInfo writes
    // them), so an export-mode purge is what forgets them
    val purged = purgedKeys()
    spark.createDataset(readOrEmpty[ColumnDescriptor](descsDir)
      .collect().toSeq
      .filterNot(d => purged(("export", d.session_name))))
  }

  /** The purge facts folded to keys — KB-scale (a takedown list). */
  private def purgedKeys(): Set[(String, String)] =
    readOrEmpty[PurgeRecord](purgesDir).collect()
      .map(p => (p.mode, p.session_name)).toSet

  // ---- writes (mysql.rb:143-267) ----

  /** Session start row (mysql.rb:226-239). */
  def startInfo(s: BackupSession): Unit = synchronized {
    Seq(s).toDS().write.mode(SaveMode.Append).parquet(sessionsDir)
  }

  /** Session end: a keyed update of (mode, session_name)
    * (mysql.rb:246-267), recorded as an APPENDED close row — the
    * resolved current row with ended_at/error/error_info updated.
    * [[sessions]]' last-writer-wins fold makes the append
    * indistinguishable from an in-place update, and the write cost is
    * one row regardless of catalog size (the old implementation
    * rewrote the whole sessions table per close — O(catalog) writes
    * per session at high session counts). Unknown keys append nothing,
    * matching the old no-op update.
    *
    * Once the log holds more than `compactAfterFiles` part files,
    * [[compactSessions]] folds it back to one row per session so read
    * cost stays bounded; a crash can lose at most the in-flight
    * append or leave the swap mid-rename, which [[recoverIfNeeded]]
    * already restores.
    */
  def endInfo(mode: String, sessionName: String, endedAt: Long,
              error: Boolean = false, errorInfo: String = ""): Unit =
    synchronized {
      val resolved = resolveSessions(
        readOrEmpty[BackupSession](sessionsDir).collect().toSeq)
      val closes = resolved
        .filter(s => s.mode == mode && s.session_name == sessionName)
        .map(s => s.copy(ended_at = endedAt, error = s.error || error,
          error_info = if (errorInfo.nonEmpty) errorInfo else s.error_info))
      if (closes.nonEmpty)
        closes.toDS().write.mode(SaveMode.Append).parquet(sessionsDir)
      if (dataFileCount(sessionsDir) > compactAfterFiles) compactSessions()
    }

  private def dataFileCount(dir: String): Int = {
    val p = new Path(dir)
    val f = fs(dir)
    if (!f.exists(p)) 0 else Compactor.dataFiles(f, p).length
  }

  /** Purge a session — the takedown path the append-only logs
    * otherwise lack (the tombstone discipline of the EXT stores on
    * the metadata plane): appends a (mode, session_name) purge FACT;
    * [[sessions]]/[[tables]]/[[descriptors]] anti-join it immediately
    * (every derived read — session info, table listings, watermarks,
    * incremental planning — forgets the session in the same call),
    * and the threshold compactions drop the dead rows physically.
    * At-least-once replays append duplicate facts, harmless (reads
    * fold to keys). Purging a session the catalog has never seen is
    * a typo, refused loudly — EXCEPT when a purge fact already exists
    * (the replay-after-compaction case, where the rows are already
    * physically gone).
    */
  def purgeSession(mode: String, sessionName: String,
                   purgedAt: Long): Unit = synchronized {
    val known = readOrEmpty[BackupSession](sessionsDir).collect()
      .exists(s => s.mode == mode && s.session_name == sessionName)
    require(known || purgedKeys()((mode, sessionName)),
      s"no $mode session '$sessionName' in the catalog to purge")
    Seq(PurgeRecord(mode, sessionName, purgedAt)).toDS()
      .coalesce(1).write.mode(SaveMode.Append).parquet(purgesDir)
    if (dataFileCount(purgesDir) > compactAfterFiles) compactPurges()
  }

  /** Run every threshold compaction NOW — the ops hook that makes a
    * purge PHYSICAL without waiting for the file-count thresholds
    * (the folds already read through the purge filter, so purged
    * rows are dropped from the rewritten logs).
    */
  def compactAll(): Unit = synchronized {
    compactSessions(); compactTables(); compactDescriptors()
    compactPurges()
  }

  /** Fold the sessions log back to one row per session (purged
    * sessions drop out — the folds read through the purge filter).
    * Every fold publishes through [[graft.engine.AtomicDir.replace]],
    * so a crash can lose at most the in-flight fold, never the existing
    * catalog (a plain Overwrite deletes-then-writes, leaving a
    * destroyed store dir if killed mid-way — fatal for a catalog whose
    * whole job is surviving crashed runs).
    */
  private def compactSessions(): Unit =
    AtomicDir.replace(fs(root), sessionsDir) { tmp =>
      sessions.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    }

  /** Fold the tables/descriptors logs to one part file each, dropping
    * the bit-identical duplicate rows a retried record op can append
    * (the keyed dedup [[columnDescriptorRows]] does at read, applied
    * once at rest). Unlike sessions there is no LWW resolution —
    * table records are immutable facts — so the fold is distinct +
    * coalesce; the win is small-file accretion: without it a
    * high-session-count catalog accretes one part-file set per
    * recorded table forever.
    */
  private def compactTables(): Unit =
    AtomicDir.replace(fs(root), tablesDir) { tmp =>
      tables.collect().toSeq.distinct
        .toDS().coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    }

  private def compactDescriptors(): Unit =
    AtomicDir.replace(fs(root), descsDir) { tmp =>
      descriptors.collect().toSeq.distinct
        .toDS().coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    }

  /** Fold the purge log to one row per (mode, session_name) — unlike
    * the other three logs it previously grew one small file per
    * takedown forever, and every catalog read ([[purgedKeys]]) re-reads
    * them all. The kept `purged_at` is the EARLIEST (the first takedown
    * is the fact of record; replays only re-assert it). The fold never
    * drops a key, so a purged session stays purged across any number of
    * compactions. No-op when no purge fact has ever landed — compaction
    * must not conjure an empty store dir.
    */
  private def compactPurges(): Unit = {
    if (!hasCommittedFiles(purgesDir)) return
    AtomicDir.replace(fs(root), purgesDir) { tmp =>
      readOrEmpty[PurgeRecord](purgesDir).collect().toSeq
        .groupBy(p => (p.mode, p.session_name)).values
        .map(g => g.minBy(_.purged_at)).toSeq
        .sortBy(p => (p.mode, p.session_name))
        .toDS().coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    }
  }

  /** Per-table record, export side (mysql.rb:154-190). Descriptors
    * land FIRST and the table row — the row `exists()` and every
    * count/watermark read key on — last: a retried record op (after a
    * failure between the two appends) can then only duplicate
    * descriptor rows, which [[columnDescriptorRows]] dedupes on read,
    * never the keyed table record.
    */
  def exportedTableInfo(t: TableRecord,
                        descs: Seq[ColumnDescriptor]): Unit = synchronized {
    require(t.mode == "export", s"mode=${t.mode}")
    if (descs.nonEmpty)
      descs.toDS().write.mode(SaveMode.Append).parquet(descsDir)
    Seq(t).toDS().write.mode(SaveMode.Append).parquet(tablesDir)
    compactIfAccreted()
  }

  /** Per-table record, import side (mysql.rb:200-215). */
  def importedTableInfo(t: TableRecord): Unit = synchronized {
    require(t.mode == "import", s"mode=${t.mode}")
    Seq(t).toDS().write.mode(SaveMode.Append).parquet(tablesDir)
    compactIfAccreted()
  }

  /** Threshold compaction for the append-only record logs — the same
    * upkeep [[endInfo]] runs for sessions, so tables/descriptors reads
    * stay bounded at high session counts instead of listing one
    * part-file set per recorded table forever.
    */
  private def compactIfAccreted(): Unit = {
    if (dataFileCount(tablesDir) > compactAfterFiles) compactTables()
    if (dataFileCount(descsDir) > compactAfterFiles) compactDescriptors()
  }

  // ---- reads: delegate to the shared CatalogOps logic ----

  def sessionInfo(mode: String, pattern: String): DataFrame =
    CatalogOps.sessionInfo(sessions.toDF(), mode, pattern)

  def sessionStarted(mode: String, cluster: String, sessionName: String,
                     destRoot: String): Boolean =
    !CatalogOps.sessionStarted(sessions.toDF(), mode, cluster,
      sessionName, destRoot).limit(1).isEmpty

  def listTableInfo(mode: String, sessionName: String,
                    tablePattern: String): DataFrame =
    CatalogOps.listTableInfo(tables.toDF(), mode, sessionName, tablePattern)

  def tableNames(mode: String, sessionPattern: String,
                 destRoot: String): Seq[String] =
    CatalogOps.tableNames(tables.toDF(), sessions.toDF(), mode,
      sessionPattern, destRoot).as[String].collect().toSeq.sorted

  def exists(mode: String, tableName: String, sessionName: String): Boolean =
    CatalogOps.exists(tables.toDF(), mode, tableName, sessionName)

  def columnDescriptorRows(sessionName: String,
                           tableName: String): Seq[ColumnDescriptor] =
    // distinct: a retried exportedTableInfo can legitimately re-append
    // descriptor rows (see its doc) — identical duplicates, dropped here
    descriptors.filter(d => d.session_name == sessionName &&
      d.table_name == tableName).collect().toSeq.distinct.sortBy(_.ordinal)

  def lastEndTime(mode: String, tableName: String): Long = {
    val rows = CatalogOps.lastEndTimes(tables.toDF(), mode)
      .filter(org.apache.spark.sql.functions.col("table_name") === tableName)
      .collect()
    if (rows.isEmpty) 0L else rows(0).getAs[Long]("last_end")
  }
}
