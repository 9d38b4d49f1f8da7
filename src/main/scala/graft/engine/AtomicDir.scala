package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Crash-safe publish of a persisted directory — the one home of the
  * rename protocol every store uses: export destinations and their
  * partitions ([[Compactor]]), the catalog's append logs, rollups, zone
  * maps, and the dedup / lexical / vector stores.
  *
  * [[replace]] writes the new copy into the sibling stage `<dir>__tmp`,
  * then publishes it with two checked renames (`<dir>` → `<dir>__old`,
  * stage → `<dir>`) and drops `__old`. A crash between any two steps
  * leaves exactly one complete copy reachable:
  *  - before the first rename `<dir>` is untouched; the stage is
  *    garbage;
  *  - between the renames `<dir>` is missing and `<dir>__old` holds the
  *    previous copy — the truth, which [[recover]] restores;
  *  - after the second rename `<dir>` is the new copy; a surviving
  *    `__old` is garbage.
  * The next [[replace]] of the same dir clears the garbage. Sidecar
  * files (`_`-prefixed, e.g. `_export_info.log`) are COPIED into the
  * stage, so the live copy keeps them at every step.
  *
  * Locking: the publish renames and every [[recover]] serialize on one
  * JVM-wide [[lock]]. "Dir missing, `__old` present" is also what a
  * healthy publish looks like between its two renames; an unserialized
  * recovery would rename `__old` back mid-publish and abort it. Across
  * processes, [[replace]] holds the store's [[StoreLease]] (lease
  * outer, lock inner — everywhere, so no lock-order inversion); a
  * reader in another process recovering during a writer's rename
  * window stays out of contract (single writer per store).
  */
object AtomicDir {

  private val StageSuffix = "__tmp"
  private val OldSuffix = "__old"

  /** JVM-wide lock over every namespace transition of a published dir
    * (publish renames, crash recovery, and the payload purge's stage
    * rename in [[TableOps.purgeSessionData]]).
    */
  private[graft] val lock = new Object

  /** Is `name` one of this protocol's siblings (stage, `__old`, lease)
    * rather than a live dir?
    */
  private[graft] def isArtifact(name: String): Boolean =
    Seq(StageSuffix, OldSuffix, StoreLease.Suffix).exists(name.endsWith)

  /** Crash recovery: a publish that died between its renames leaves
    * `<dir>__old` with no `<dir>` — restore the old copy. A no-op
    * otherwise; every store calls it before reading.
    */
  def recover(fs: FileSystem, dir: String): Unit = lock.synchronized {
    val (p, pOld) = (new Path(dir), new Path(dir + OldSuffix))
    if (!fs.exists(p) && fs.exists(pOld))
      require(fs.rename(pOld, p),
        s"crash recovery failed: cannot restore $pOld to $p")
  }

  /** [[recover]] on the session's filesystem for `dir`. */
  def recover(spark: SparkSession, dir: String): Unit =
    recover(new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration), dir)

  /** Recover every child of `parent` that a crashed [[replace]] left
    * behind and clear the children's stale stage and `__old` dirs, so a
    * listing of `parent` afterwards shows live children only (a Hive
    * partition `p=1__old` would otherwise read as partition value
    * "1__old").
    */
  def recoverChildren(fs: FileSystem, parent: String): Unit =
    fs.listStatus(new Path(parent)).iterator.filter(_.isDirectory)
      .map(_.getPath.toString)
      .collect {
        case p if p.endsWith(OldSuffix) => p.dropRight(OldSuffix.length)
        case p if p.endsWith(StageSuffix) => p.dropRight(StageSuffix.length)
      }.toSeq.distinct.foreach { dir =>
        StoreLease.withLease(fs, dir)(settle(fs, dir))
      }

  /** Recover `dir`, then clear its stale stage and (once `dir` is live)
    * its stale `__old`. Caller holds the lease.
    */
  private def settle(fs: FileSystem, dir: String): Unit = {
    recover(fs, dir)
    fs.delete(new Path(dir + StageSuffix), true)
    if (fs.exists(new Path(dir))) fs.delete(new Path(dir + OldSuffix), true)
  }

  /** Replace `dir` with what `write` puts into the stage path it is
    * given. If `write` throws, the stage is deleted and `dir` is left
    * untouched; a missing `dir` is published without staging. Returns
    * `write`'s result.
    */
  def replace[A](fs: FileSystem, dir: String)(write: String => A): A =
    StoreLease.withLease(fs, dir) {
      settle(fs, dir)
      val (p, pStage, pOld) = (new Path(dir),
        new Path(dir + StageSuffix), new Path(dir + OldSuffix))
      val out =
        try write(pStage.toString)
        catch {
          case e: Throwable =>
            scala.util.Try(fs.delete(pStage, true))
            throw e
        }
      lock.synchronized {
        val live = fs.exists(p)
        if (live) {
          // the rewrite's own _SUCCESS is already in the stage
          fs.listStatus(p).filter { s =>
            val n = s.getPath.getName
            s.isFile && n.startsWith("_") && n != "_SUCCESS" &&
              !fs.exists(new Path(pStage, n))
          }.foreach { s =>
            val in = fs.open(s.getPath)
            try {
              val o = fs.create(new Path(pStage, s.getPath.getName), false)
              try in.transferTo(o) finally o.close()
            } finally in.close()
          }
          require(fs.rename(p, pOld), s"cannot stage $p to $pOld")
        }
        if (!fs.rename(pStage, p)) {
          if (live) fs.rename(pOld, p) // roll back: never leave `dir` missing
          throw new IllegalStateException(s"cannot swap $pStage into $p")
        }
      }
      fs.delete(pOld, true)
      out
    }
}
