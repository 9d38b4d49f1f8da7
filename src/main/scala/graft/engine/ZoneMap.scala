package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Zone-map manifest: per-file min/max column statistics lifted out of
  * parquet footers into a queryable index — the restore-side
  * data-skipping complement to [[Layout]]'s z-order write.
  *
  * Why it exists when parquet already HAS footer stats: a scan still
  * pays one footer READ per file to discover them. At 100 TB /
  * millions of backup files on object storage that is millions of
  * round trips before the first data byte — per query. The manifest
  * pays them once at export/compaction time and turns every later
  * "which files can contain l_shipdate ≥ X?" into one scan of a
  * parquet sidecar (the same zone-map idea Snowflake micro-partitions
  * and the Delta/Iceberg file-stats manifests use). The sidecar is
  * one row per (file, indexed column): KBs for thousands of files,
  * but 100s of MBs at millions of files × several columns — so every
  * driver-side touch of it is either filtered to ONE column before
  * collecting ([[pruneFiles]], pushed into the parquet scan) or
  * names/delta-only ([[update]]).
  *
  * Build cost is metadata-only (footers, no row reads). The footer
  * reads run IN EXECUTORS: the driver lists the file names (names are
  * MBs even at millions of files), then `parallelize(paths)
  * .mapPartitions(read footers)` spreads the round trips across the
  * cluster — at millions of object-store files the driver-side loop
  * this replaces would serialize hours of latency before the first
  * manifest row. A driver-side twin ([[entriesLocal]]) is kept for
  * the parity spec: both paths share [[footerEntries]], so the
  * manifest content is identical by construction and asserted so in
  * ZoneMapSpec.
  *
  * Numeric (and numeric-logical: date/timestamp) columns only —
  * binary/string min/max truncation semantics differ across writers;
  * rather than prune wrongly, non-numeric columns are omitted
  * (unknown ⇒ never pruned, so omission is always safe).
  */
object ZoneMap {

  final case class Entry(file: String, rows: Long, column: String,
                         min_v: Double, max_v: Double, n_nulls: Long)

  /** Read footer stats for `cols` across every parquet file under
    * `dir` (recursive, so partitioned layouts index too). Footer
    * reads are distributed over executors; see the object doc.
    */
  def entries(spark: SparkSession, dir: String,
              cols: Seq[String]): Seq[Entry] = {
    val paths = listParquet(spark, dir)
    if (paths.isEmpty) return Seq.empty
    val confKv = confToSeq(spark.sessionState.newHadoopConf())
    val want = cols.toSet
    val slices = math.max(1, math.min(paths.size,
      spark.sparkContext.defaultParallelism * 4))
    spark.sparkContext.parallelize(paths, slices)
      .mapPartitions { it =>
        val conf = seqToConf(confKv)
        it.flatMap(p => footerEntries(conf, p, want))
      }
      .collect().toSeq
  }

  /** Driver-side twin of [[entries]] — same listing, same
    * [[footerEntries]] fold, no Spark job. Kept so the spec can
    * assert the distributed build is row-identical to the serial one.
    */
  private[engine] def entriesLocal(spark: SparkSession, dir: String,
                                   cols: Seq[String]): Seq[Entry] = {
    val conf = spark.sessionState.newHadoopConf()
    val want = cols.toSet
    listParquet(spark, dir).flatMap(p => footerEntries(conf, p, want))
  }

  /** Fold one file's row-group stats up to one [min,max,n_nulls] per
    * (file, col). Null accounting is independent of value stats: an
    * all-null row group has `hasNonNullValue == false` but its
    * `getNumNulls` still counts. A column whose non-null values are
    * non-numeric (string/binary) is omitted entirely — emitting the
    * empty-fold identity for it would prune files that DO contain
    * matching rows.
    *
    * A column that is entirely null in the file gets the empty-fold
    * identity (+∞, −∞): `v ∈ [lo,hi]` matches no null row, so pruning
    * such a file is exact, not just safe.
    *
    * A file that yields NO entries at all (every wanted column absent
    * or non-numeric) still emits one [[SentinelColumn]] row: without
    * it the file never joins the manifest's known-file set and
    * [[update]] re-reads its footer on every invocation — O(delta)
    * upkeep would silently degrade to O(such files) per call. The
    * sentinel's column name is reserved-empty, so [[pruneFiles]]'
    * per-column filter never matches it and the file stays in the
    * unknown ⇒ must-read bucket, which is exactly its truth.
    */
  private def footerEntries(conf: Configuration, file: String,
                            want: Set[String]): Seq[Entry] = {
    val rd = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), conf))
    try {
      val rows = rd.getRecordCount
      // (min, max, n_nulls, sawNonNumericValue) per column
      val acc = scala.collection.mutable.Map
        .empty[String, (Double, Double, Long, Boolean)]
      rd.getFooter.getBlocks.forEach { b =>
        b.getColumns.forEach { c =>
          val name = c.getPath.toDotString
          if (want(name)) {
            val st = c.getStatistics
            if (st != null) {
              val prev = acc.getOrElse(name,
                (Double.PositiveInfinity, Double.NegativeInfinity,
                  0L, false))
              val next =
                if (!st.hasNonNullValue) prev
                else (numeric(st.genericGetMin),
                  numeric(st.genericGetMax)) match {
                  case (Some(lo), Some(hi)) =>
                    (math.min(prev._1, lo), math.max(prev._2, hi),
                      prev._3, prev._4)
                  case _ => (prev._1, prev._2, prev._3, true)
                }
              acc(name) = (next._1, next._2,
                next._3 + st.getNumNulls, next._4)
            }
          }
        }
      }
      val out = acc.toSeq.collect {
        case (c, (lo, hi, nn, false)) => Entry(file, rows, c, lo, hi, nn)
      }
      if (out.nonEmpty) out
      else Seq(Entry(file, rows, SentinelColumn,
        Double.PositiveInfinity, Double.NegativeInfinity, 0L))
    } finally rd.close()
  }

  /** Reserved column name marking "footer read, nothing indexable" —
    * see [[footerEntries]]. Empty string cannot collide with a real
    * parquet column path.
    */
  val SentinelColumn: String = ""

  /** A data file: .parquet, and no hidden/underscore path segment
    * BELOW the scan root (excludes _zonemap itself, _spark_metadata,
    * .staging dirs — but a dotted ancestor of the root, e.g. a
    * `/home/u/.local/...` destination, must not hide everything).
    * `root` must be fully qualified (same scheme/authority as the
    * listed paths) or the ancestor walk never terminates at it.
    */
  private def isDataFile(p: Path, root: Path): Boolean = {
    var cur = p.getParent
    var hidden = p.getName.startsWith("_") || p.getName.startsWith(".")
    while (cur != null && cur != root && !hidden) {
      val n = cur.getName
      if (n.startsWith("_") || n.startsWith(".")) hidden = true
      cur = cur.getParent
    }
    p.getName.endsWith(".parquet") && !hidden
  }

  /** Committed-file filter: a streaming file sink's `_spark_metadata`
    * commit log is the source of truth for that directory — a raw
    * listing would also pick up orphan files from a crashed
    * micro-batch that a batch read (which honors the log) never sees.
    * When the log exists, restrict to the files the committed view
    * reads; otherwise accept everything.
    */
  private def committedFilter(spark: SparkSession, dir: String,
                              fs: org.apache.hadoop.fs.FileSystem)
      : String => Boolean = {
    val meta = new Path(dir, "_spark_metadata")
    if (!fs.exists(meta)) (_: String) => true
    else {
      val committed = spark.read.parquet(dir).inputFiles
        .map(u => new Path(java.net.URI.create(u)).toUri.getPath).toSet
      (f: String) => committed(new Path(f).toUri.getPath)
    }
  }

  private def numeric(v: Any): Option[Double] = v match {
    case n: java.lang.Number => Some(n.doubleValue)
    case _ => None // binary/string stats: omitted, never mis-pruned
  }

  /** Hadoop conf ↔ plain pairs, so executors can rebuild it without
    * depending on Spark-private serializable wrappers. The iterator
    * flattens defaults + loaded resources, so nothing is lost.
    */
  private def confToSeq(conf: Configuration): Seq[(String, String)] = {
    val b = Seq.newBuilder[(String, String)]
    val it = conf.iterator()
    while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
    b.result()
  }

  private def seqToConf(kv: Seq[(String, String)]): Configuration = {
    val conf = new Configuration(false)
    kv.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** The manifest as a Dataset (for joining/inspection). */
  def build(spark: SparkSession, dir: String,
            cols: Seq[String]): Dataset[Entry] = {
    import spark.implicits._
    spark.createDataset(entries(spark, dir, cols))
  }

  /** Persist the manifest as a parquet sidecar next to the data
    * (underscore-prefixed: data readers and the manifest build itself
    * ignore it). A rewrite (compaction, re-layout) changes the file
    * set — [[update]] the manifest afterwards.
    */
  def write(spark: SparkSession, dir: String, cols: Seq[String]): String = {
    val target = dir + "/_zonemap"
    build(spark, dir, cols).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(target)
    target
  }

  /** Incremental manifest maintenance: read footers ONLY for files not
    * yet in the sidecar, drop rows for files that no longer exist,
    * keep everything else as-is. An incremental backup destination
    * accretes a few files per session against millions already
    * indexed — re-reading every footer per session ([[write]]) would
    * make manifest upkeep O(destination) instead of O(delta). The
    * result is row-identical to a full rebuild (asserted in
    * ZoneMapSpec): entries are per-file facts, so set arithmetic on
    * file paths is exact, and the delta's footer reads distribute over
    * executors exactly like [[entries]]'.
    *
    * Driver memory: file NAMES only — the known-file set (the same
    * scale as the directory listing the driver must hold anyway) plus
    * the delta's entries. Entry VALUES for already-known files are
    * never collected; the kept ∪ added fold is a distributed
    * filter-union written to a staging sidecar and renamed into
    * place. The sidecar itself is one row per (file, indexed column)
    * — MBs at millions of files, not KBs — which is exactly why the
    * surviving collects are names-only and delta-only.
    *
    * The manifest's column set is pinned by the caller (`cols`), same
    * as [[write]] — changing the indexed columns needs a rebuild, and
    * the parity spec would catch a drifted call site.
    */
  def update(spark: SparkSession, dir: String,
             cols: Seq[String]): String = {
    val target = dir + "/_zonemap"
    val fs = new Path(target).getFileSystem(
      spark.sessionState.newHadoopConf())
    AtomicDir.recover(fs, target)
    if (!fs.exists(new Path(target))) return write(spark, dir, cols)
    import spark.implicits._
    val existing = spark.read.parquet(target)
    val known = existing.select("file").distinct().as[String]
      .collect().toSet
    val live = listParquet(spark, dir).toSet
    val dead = (known -- live).toSeq.sorted
    val fresh = (live -- known).toSeq.sorted
    if (dead.isEmpty && fresh.isEmpty) return target // already current
    val added =
      if (fresh.isEmpty) Seq.empty[Entry]
      else {
        val confKv = confToSeq(spark.sessionState.newHadoopConf())
        val want = cols.toSet
        val slices = math.max(1, math.min(fresh.size,
          spark.sparkContext.defaultParallelism * 4))
        spark.sparkContext.parallelize(fresh, slices)
          .mapPartitions { it =>
            val conf = seqToConf(confKv)
            it.flatMap(p => footerEntries(conf, p, want))
          }
          .collect().toSeq
      }
    // distributed fold: existing minus dead files, plus the delta.
    // `dead` is bounded by the delete delta (compaction/retention of
    // a few files per session), so the NOT-IN list stays small.
    val kept =
      if (dead.isEmpty) existing
      else existing.filter(!col("file").isin(dead: _*))
    // write-then-swap: the source sidecar is part of this plan's
    // input, so the new one is staged next to it (its underscore
    // prefix keeps the stage invisible to data readers and to
    // listParquet) and swapped in by AtomicDir
    AtomicDir.replace(fs, target) { stage =>
      kept.unionByName(spark.createDataset(added).toDF()).coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(stage)
    }
    // the swap happened behind Spark's FileStatusCache (a datasource
    // Overwrite would have refreshed it; a raw FS rename does not) —
    // without this, the next sidecar read resolves deleted part files
    spark.catalog.refreshByPath(target)
    target
  }

  /** Files whose [min,max] zone for `column` intersects [lo, hi] —
    * plus files with no entry for the column (unknown ⇒ must read:
    * pruning may only ever drop provably-disjoint files). The collect
    * here is driver-sized BY DESIGN, and bounded: the per-column
    * filter runs BEFORE the collect, so when `index` is the sidecar
    * read it pushes into the parquet scan and the driver receives one
    * row per FILE (for one column), never the full file × column
    * matrix — the same order as the `allFiles` list it is filtering,
    * which already lives on the driver.
    */
  def pruneFiles(index: DataFrame, allFiles: Seq[String], column: String,
                 lo: Double, hi: Double): Seq[String] = {
    val known = index.filter(col("column") === column)
      .select(col("file"), col("min_v"), col("max_v"))
      .collect()
    val knownFiles = known.map(_.getString(0)).toSet
    val keep = known.collect {
      case r if r.getDouble(1) <= hi && lo <= r.getDouble(2) =>
        r.getString(0)
    }.toSet
    allFiles.filter(f => keep(f) || !knownFiles(f))
  }

  /** Read only the files that can satisfy `column ∈ [lo, hi]` — the
    * caller applies the row-level filter on top (zones admit false
    * positives, never false negatives). `basePath` keeps
    * hive-partition columns alive: an explicit file list disables
    * partition discovery, which would otherwise null them out.
    */
  def prunedRead(spark: SparkSession, dir: String, index: DataFrame,
                 column: String, lo: Double, hi: Double): DataFrame = {
    val full = spark.read.parquet(dir)
    val schema = full.schema
    val allFiles = listParquet(spark, dir)
    val files = pruneFiles(index, allFiles, column, lo, hi)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.option("basePath", dir).schema(schema)
      .parquet(files: _*)
  }

  private def listParquet(spark: SparkSession, dir: String): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(dir).getFileSystem(conf)
    // qualify the root so the ancestor walk in isDataFile can MEET it:
    // listFiles returns fully-qualified (scheme://...) paths, and an
    // unqualified root would never compare equal — every file under a
    // dotted ancestor (e.g. ~/.local/...) would silently vanish.
    val path = fs.makeQualified(new Path(dir))
    val committed = committedFilter(spark, dir, fs)
    val out = Seq.newBuilder[String]
    val it = fs.listFiles(path, true)
    while (it.hasNext) {
      val f = it.next()
      if (isDataFile(f.getPath, path) && committed(f.getPath.toString))
        out += f.getPath.toString
    }
    out.result()
  }
}
