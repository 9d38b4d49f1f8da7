package perfbench

import java.io.File

import scala.collection.mutable

import graft.catalog.{BackupCatalog, BackupSession, ColumnDescriptor, TableRecord}
import org.apache.spark.sql.{SaveMode, SparkSession}

/** The catalog client of backup_cycle. The catalog it works on holds
  * `SeedSessions` export sessions of ten tables of history (seeded once
  * per checkout from the Model case classes, then compacted), plus
  * whatever the backup cycle records. After the cycle the client runs
  * one block of catalog calls: two reads of every kind and one whole
  * session recorded by hand (`startInfo`, `exportedTableInfo` per table,
  * `endInfo`), in a seeded order. Every read is checked against a model
  * of everything written.
  */
object CatalogMix {
  val SeedSessions = 300
  private val HourMs = 3600000L
  private val BaseMs = 1672531200000L // 2023-01-01
  private val Roots = Seq("file:///bk/a/", "file:///bk/b/")
  private val Stores = Seq("sessions", "tables", "descriptors")

  /** Column names per table, as recorded in descriptors (the corpus schema). */
  val Columns: Seq[(String, Seq[String])] = Seq(
    "region" -> Seq("r_regionkey", "r_name"),
    "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
    "events" -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "embedding", "label"))
  val TableNames: Seq[String] = Columns.map(_._1)
  private val TablePatterns = Seq("%", "lineitem", "%e%", "orders", "%s")

  private def fmt(ms: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochMilli(ms))

  /** The client's model of the catalog: everything it wrote. */
  final class Model {
    val sessions = mutable.LinkedHashMap.empty[String, BackupSession]
    val records = mutable.LinkedHashMap.empty[(String, String), TableRecord]
    var descriptorRows = 0L

    def session(i: Int, startMs: Long): BackupSession =
      BackupSession("export", s"cluster_${i % 3}", fmt(startMs), Roots(i % 2),
        startMs - 24 * HourMs, startMs, startMs, 0L, error = false, "")
    def record(s: BackupSession, t: String, i: Int): TableRecord =
      TableRecord("export", t, s.session_name, s.specified_start, s.specified_end, 100000L,
        empty = false, error = false, "", 1000L + (i * 7919L + t.length * 104729L) % 100000L)
    def descs(s: BackupSession, t: String): Seq[ColumnDescriptor] =
      Columns.toMap.apply(t).zipWithIndex.map { case (c, k) =>
        ColumnDescriptor(s.session_name, t, k, c, "string", nullable = true, 3, "NONE",
          in_memory = false, block_cache = true, 2147483647L, 65536L, "NONE")
      }

    def like(p: String, s: String): Boolean =
      if (!p.contains("%")) p == s
      else s.matches(p.split("%", -1).map(java.util.regex.Pattern.quote).mkString(".*"))

    /** What the backup runner recorded for one table of a session. */
    def recorded(r: TableRecord, columns: Int): Unit = {
      records((r.session_name, r.table_name)) = r
      descriptorRows += columns
    }
  }

  /** The seeded history: `n` ended export sessions of every table. */
  def seeded(n: Int): Model = {
    val model = new Model
    (0 until n).foreach { i =>
      val s = model.session(i, BaseMs + i * HourMs).copy(ended_at = BaseMs + i * HourMs + 600000L)
      model.sessions(s.session_name) = s
      TableNames.foreach { t =>
        model.records((s.session_name, t)) = model.record(s, t, i)
        model.descriptorRows += model.descs(s, t).size
      }
    }
    model
  }

  /** Writes the seeded history in the documented store layout
    * (`<root>/sessions`, `/tables`, `/descriptors`) from the Model case
    * classes, then compacts once. The runner does this once per checkout
    * and gives every run a fresh copy, like the corpus.
    */
  def writeSeed(spark: SparkSession, root: String): Unit = {
    import spark.implicits._
    val model = seeded(SeedSessions)
    val ss = model.sessions.values.toSeq
    model.sessions.values.toSeq.toDS().write.mode(SaveMode.Overwrite).parquet(s"$root/sessions")
    model.records.values.toSeq.toDS().write.mode(SaveMode.Overwrite).parquet(s"$root/tables")
    ss.flatMap(s => TableNames.flatMap(t => model.descs(s, t))).toDS()
      .write.mode(SaveMode.Overwrite).parquet(s"$root/descriptors")
    new BackupCatalog(spark, root).compactAll()
  }

  def dataFiles(root: String): Int = Stores.map { s =>
    Option(new File(root, s).listFiles).map(_.count { f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")
    }).getOrElse(0)
  }.sum

  final class Client(env: Env, cat: BackupCatalog, root: String, model: Model) {
    private val rng = env.rng
    private var open: Option[BackupSession] = None
    private var nextTable = 0
    private var written = 0
    private var files = dataFiles(root)
    // (op, ms, rows returned, ok) per call, and write-side compaction facts
    val samples = mutable.ArrayBuffer.empty[(String, Double, Long, Boolean)]
    val fileCounts = mutable.ArrayBuffer.empty[Double]
    var compactions = 0
    val compactingMs = mutable.ArrayBuffer.empty[Double]
    var rowsHeld = 0.0
    var rowsReturned = 0.0

    private def pickSession(): BackupSession = {
      val ks = model.sessions.valuesIterator.drop(rng.nextInt(model.sessions.size))
      ks.next()
    }
    private def dayPattern(s: BackupSession): String = s.session_name.take(9) + "%"

    private def call[A](op: String, held: Long)(body: => A)(rows: A => Long)(ok: A => Boolean): Unit = {
      val t0 = System.nanoTime()
      val a = try Right(env.trace.span("catalog", op, op)(body))
        catch { case e: Throwable => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      val good = a match {
        case Right(v) => ok(v)
        case Left(e) => env.res.note(s"catalog $op failed: $e"); false
      }
      if (a.isRight && !good) env.res.note(s"catalog $op: result differs from the model")
      val n = a.map(rows).getOrElse(0L)
      samples += ((op, ms, n, good))
      if (held > 0) { rowsHeld += held; rowsReturned += math.max(1L, n) }
      if (WriteOps.contains(op)) {
        val now = dataFiles(root)
        if (now < files) { compactions += 1; compactingMs += ms }
        files = now
        fileCounts += now
      }
    }

    /** Two reads of each kind, in a seeded order, around the steps of
      * one session recorded by hand (which stay in their order).
      */
    def block(): Unit = {
      val reads = rng.shuffle(ReadOps.indices.flatMap(k => Seq(k, k)))
      val writes = TableNames.size + 2
      val slots = rng.shuffle((0 until reads.size + writes).toVector).take(writes).toSet
      var r = 0
      (0 until reads.size + writes).foreach { i =>
        if (slots(i)) write() else { read(reads(r)); r += 1 }
      }
    }

    /** The client's calls as ops (a read that differs from the model is
      * a failed op), named values and per-layer metrics.
      */
    def report(): Unit = {
      val r = env.res
      val all = samples.toSeq
      all.foreach { case (op, ms, _, ok) =>
        r.op(s"catalog:$op", ms, ok)
        r.value(if (WriteOps.contains(op)) "catalog_write_ms" else "catalog_read_ms", ms)
      }
      if (env.traced) {
        def med(op: String) = Env.median(all.filter(_._1 == op).map(_._2))
        val L = r.layers
        (ReadOps ++ WriteOps).foreach(op => L(s"catalog.${op}_ms") = med(op))
        L("catalog.data_files") = Env.median(fileCounts.toSeq)
        L("catalog.rows_per_result") = rowsHeld / math.max(1.0, rowsReturned)
        L("catalog.compactions") = compactions.toDouble
        L("catalog.compacting_write_ms") = Env.median(compactingMs.toSeq)
      }
    }

    private def write(): Unit = open match {
      case None =>
        written += 1
        val s = model.session(SeedSessions + written, BaseMs + (SeedSessions + written) * HourMs)
        call("start_info", 0)(cat.startInfo(s))(_ => 0L)(_ => true)
        model.sessions(s.session_name) = s
        open = Some(s); nextTable = 0
      case Some(s) if nextTable < TableNames.size =>
        val t = TableNames(nextTable)
        val r = model.record(s, t, SeedSessions + written)
        val d = model.descs(s, t)
        call("table_info", 0)(cat.exportedTableInfo(r, d))(_ => 0L)(_ => true)
        model.records((s.session_name, t)) = r
        model.descriptorRows += d.size
        nextTable += 1
      case Some(s) =>
        val end = s.started_at + 600000L
        call("end_info", 0)(cat.endInfo("export", s.session_name, end))(_ => 0L)(_ => true)
        model.sessions(s.session_name) = s.copy(ended_at = end)
        open = None
    }

    def read(kind: Int): Unit = kind match {
      case 0 =>
        val p = dayPattern(pickSession())
        val want = model.sessions.values.filter(s => model.like(p, s.session_name))
          .map(s => (s.session_name, s.ended_at)).toSet
        call("session_info", model.sessions.size)(
          cat.sessionInfo("export", p).collect())(_.length.toLong)(rows =>
          rows.map(r => (r.getAs[String]("session_name"), r.getAs[Long]("ended_at"))).toSet == want)
      case 1 =>
        val s = pickSession().session_name
        val p = TablePatterns(rng.nextInt(TablePatterns.size))
        val want = model.records.values.filter(r => r.session_name == s && model.like(p, r.table_name))
          .map(r => (r.table_name, r.end_time, r.row_count)).toSet
        call("list_table_info", model.records.size)(
          cat.listTableInfo("export", s, p).collect())(_.length.toLong)(rows =>
          rows.map(r => (r.getAs[String]("table_name"), r.getAs[Long]("end_time"),
            r.getAs[Long]("row_count"))).toSet == want)
      case 2 =>
        val s = pickSession()
        val p = dayPattern(s)
        val root = Roots(rng.nextInt(2))
        val names = model.sessions.values
          .filter(x => x.dest_root == root && model.like(p, x.session_name)).map(_.session_name).toSet
        val want = model.records.values.filter(r => names(r.session_name))
          .map(_.table_name).toSeq.distinct.sorted
        call("table_names", model.records.size + model.sessions.size)(
          cat.tableNames("export", p, root))(_.size.toLong)(_ == want)
      case 3 =>
        val s = if (rng.nextInt(4) == 0) "19990101_000000" else pickSession().session_name
        val t = TableNames(rng.nextInt(TableNames.size))
        val want = model.records.contains((s, t))
        call("exists", model.records.size)(cat.exists("export", t, s))(b => if (b) 1L else 0L)(_ == want)
      case 4 =>
        val t = TableNames(rng.nextInt(TableNames.size))
        val want = model.records.values.filter(r => r.table_name == t && !r.error)
          .map(_.end_time).maxOption.getOrElse(0L)
        call("last_end_time", model.records.size)(cat.lastEndTime("export", t))(_ => 1L)(_ == want)
      case _ =>
        val s = pickSession()
        val t = TableNames(rng.nextInt(TableNames.size))
        val want = if (model.records.contains((s.session_name, t))) Columns.toMap.apply(t) else Nil
        call("descriptor_rows", model.descriptorRows)(
          cat.columnDescriptorRows(s.session_name, t))(_.size.toLong)(_.map(_.name) == want)
    }
  }

  val ReadOps = Seq("session_info", "list_table_info", "table_names", "exists",
    "last_end_time", "descriptor_rows")
  val WriteOps = Seq("start_info", "table_info", "end_info")
}
