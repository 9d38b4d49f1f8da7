package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.Tables
import graft.catalog.{BackupCatalog, BackupSession, ColumnDescriptor, TableRecord}
import graft.engine.Exporter.{ExportSpec, Exported, Outcome}
import graft.engine.Importer
import graft.incremental.Incremental
import graft.orchestrate.BackupRunner
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A `BackupRunner` that times and traces its three seams. Seam calls
  * run on the runner's pool threads; each one is an op of the workload.
  */
final class SeamRunner(env: Env, cat: BackupCatalog)
    extends BackupRunner(env.spark, cat, maxConcurrent = env.nproc) {
  /** (seam, table, seconds, ok) of every seam call, in completion order. */
  val calls = new ConcurrentLinkedQueue[(String, String, Double, Boolean)]()
  val attempts = new AtomicInteger

  private def seam[A](kind: String, layer: String, table: String)(body: => A): A = {
    if (kind != "record") attempts.incrementAndGet()
    val t0 = System.nanoTime()
    var ok = false
    try { val a = env.trace.span(layer, kind, table)(body); ok = true; a }
    finally calls.add((kind, table, (System.nanoTime() - t0) / 1e9, ok))
  }

  override protected def exportAttempt(spec: ExportSpec, sessionName: String,
                                       destRoot: String)
      : (Outcome, Seq[ColumnDescriptor]) =
    seam("export", "engine", spec.table)(
      super.exportAttempt(spec, sessionName, destRoot))

  override protected def importAttempt(exportCat: BackupCatalog, table: String,
                                       sessionName: String, destRoot: String,
                                       targetPath: String, format: String)
      : Importer.Imported =
    seam("import", "engine", table)(
      super.importAttempt(exportCat, table, sessionName, destRoot, targetPath,
        format))

  override protected def recordExport(spec: ExportSpec, sessionName: String,
                                      outcome: Outcome,
                                      descs: Seq[ColumnDescriptor]): Unit =
    seam("record", "catalog", spec.table)(
      super.recordExport(spec, sessionName, outcome, descs))

  def drainCalls(): Seq[(String, String, Double, Boolean)] = {
    val out = calls.asScala.toSeq
    calls.clear()
    out
  }
}

/** backup_cycle: one full export session of every corpus table,
  * `IncrSessions` incremental sessions of `events` (windows advancing
  * through its 30-day span from a seeded hour, a seeded version cap keyed
  * on `user_id`), then a restore of the full session with `importAll`.
  * The sessions are recorded in a catalog that already holds a history
  * of `CatalogMix.SeedSessions` sessions (this run's fresh copy of the
  * seeded catalog), as a long-lived backup catalog would. The cycle
  * starts in a cold JVM, as a backup run from the CLI does.
  *
  * After the cycle: the catalog client runs its block of checked reads
  * and hand-recorded writes (each call timed), and the restored tables
  * and the union of the incremental windows are compared with the source.
  */
object BackupCycle {
  private val DayMs = 86400000L
  private val EventsStartMs = 1704067200000L // 2024-01-01, the corpus's first day
  private val Guard = Incremental.HotTailGuardMs
  /** Fixed, so that every seed runs the same mix of sessions and ops. */
  val IncrSessions = 3

  def run(env: Env): Unit = {
    val spark = env.spark
    val src = env.corpus
    val tables = Tables.names
    // seeded: where the full session's 8-day window of `events` ends (to
    // the hour) and the incremental sessions' version cap
    val fullHours = 8 * 24 + env.rng.nextInt(24)
    val nIncr = IncrSessions
    val windowMs = 4 * DayMs
    val cap = 2 + env.rng.nextInt(3)
    val t0Ms = EventsStartMs + fullHours * 3600000L
    val windows = (0 until nIncr).map(j => (t0Ms + j * windowMs, t0Ms + (j + 1) * windowMs))
    env.res.info ++= Seq("full_window_hours" -> fullHours, "incremental_sessions" -> nIncr,
      "window_days" -> 4, "version_cap" -> cap)

    val fullSpecs: Seq[ExportSpec] = tables.map { t =>
      if (t == "events") ExportSpec(t, Tables.path(src, t), tsCol = Some("ts"), endMs = t0Ms)
      else ExportSpec(t, Tables.path(src, t))
    }
    val incrBase = ExportSpec("events", Tables.path(src, "events"),
      tsCol = Some("ts"), keyCols = Seq("user_id"), tieBreakCols = Seq("event_id"),
      versions = cap)

    // one catalog for the run: the fresh copy of the seeded history
    val model = CatalogMix.seeded(CatalogMix.SeedSessions)
    val cat = new BackupCatalog(spark, env.catalog)
    val client = new CatalogMix.Client(env, cat, env.catalog, model)
    env.res.info("catalog_seed_sessions") = CatalogMix.SeedSessions

    // the expected outputs, computed after the timed cycle so that the
    // cycle runs in a cold JVM
    def load(t: String): DataFrame = spark.read.parquet(Tables.path(src, t))
    lazy val expected = {
      val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
      Digest.ofTables(tables.map { t =>
        t -> (if (t == "events") Exporter0.window(load(t), 0L, t0Ms) else load(t))
      } :+ ("incremental" -> windows.map { case (lo, hi) =>
        Exporter0.window(load("events"), lo, hi)
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= cap).drop("__rn")
      }.reduce(_ union _)))
    }
    val srcBytes = tables.map(t => Env.bytesUnder(Tables.path(src, t))).sum

    def cycle(): Cycle = {
      val root = env.freshDir("cycle")
      val runner = new SeamRunner(env, cat)
      val c = new Cycle(root, s"$root/dest", runner)
      val (full, fullS) = timed(env.trace.span("orchestrate", "export_session", c.fullName)(
        runner.exportAll(fullSpecs, "bench", c.fullName, c.dest, t0Ms + Guard)))
      c.sessions += ((c.fullName, t0Ms + Guard, fullSpecs, full.outcomes))
      c.fullCalls = runner.drainCalls()
      c.fullS = fullS
      c.fullRows = full.outcomes.collect { case e: Exported => e.rows }.sum
      c.exportOk = full.outcomes.forall(_.isInstanceOf[Exported])
      windows.zipWithIndex.foreach { case ((lo, hi), j) =>
        val now = hi + Guard
        val (planned, planS) = timed(env.trace.span("incremental", "plan", s"incr$j")(
          Incremental.planIncremental(cat, Seq(incrBase), now)))
        c.planMs += planS * 1000
        c.planOk &&= planned.map(p => (p.startMs, p.endMs)) == Seq((lo, hi))
        val name = s"incr$j"
        val (out, s) = timed(env.trace.span("orchestrate", "incremental_session", name)(
          runner.exportAll(planned, "bench", name, c.dest, now)))
        c.sessions += ((name, now, planned, out.outcomes))
        c.incrS += s
        c.incrRows += out.outcomes.collect { case e: Exported => e.rows }.sum
        c.incrOk &&= out.outcomes.forall(_.isInstanceOf[Exported])
      }
      c.incrCalls = runner.drainCalls()
      val (imported, restoreS) = timed(env.trace.span("orchestrate", "restore_session", c.fullName)(
        runner.importAll(cat, tables, "bench", c.fullName, c.dest, s"$root/restore",
          windows.last._2 + DayMs, importSessionName = Some("restore"))))
      c.restoreCalls = runner.drainCalls()
      c.restoreS = restoreS
      c.restoreRows = imported.collect { case m: Importer.Imported => m.rows }.sum
      c.restoreOk = imported.forall(_.isInstanceOf[Importer.Imported])
      c
    }

    /** Teach the client's model what the runner recorded for the cycle. */
    def recordInModel(c: Cycle): Unit = c.sessions.foreach { case (name, now, specs, outs) =>
      model.sessions(name) = BackupSession("export", "bench", name, c.dest, 0L, Long.MaxValue,
        now, now + 1, error = false, "")
      outs.foreach {
        case e: Exported =>
          val spec = specs.find(_.table == e.table).get
          model.recorded(TableRecord("export", e.table, name, spec.startMs, spec.endMs,
            spec.versions, empty = false, error = false, "", e.rows),
            CatalogMix.Columns.toMap.apply(e.table).size)
        case _ => ()
      }
    }

    def verify(c: Cycle): Unit = {
      val r = env.res
      r.check(c.exportOk, "full export: a table did not export")
      r.check(c.incrOk, "incremental export: a session did not export")
      r.check(c.planOk, "planIncremental: window differs from the watermark plan")
      r.check(c.restoreOk, "restore: a table did not import")
      val got = Digest.ofTables(tables.map(t => t -> spark.read.parquet(s"${c.root}/restore/$t")) :+
        ("incremental" -> c.sessions.drop(1)
          .map(s => spark.read.parquet(s"${c.dest}/${s._1}/events")).reduce(_ union _)))
      (tables :+ "incremental").foreach { t =>
        r.check(got.get(t) == expected.get(t),
          s"$t: restored/exported ${got.get(t)} != expected ${expected.get(t)}")
      }
      Env.delete(new java.io.File(c.root))
    }

    var c: Cycle = null
    val unitS = env.measure { c = cycle(); c } { c =>
      c.bytesWritten = Env.bytesUnder(s"${c.dest}/${c.fullName}")
      c.incrBytes = c.sessions.drop(1).map(s => Env.bytesUnder(s"${c.dest}/${s._1}")).sum
      recordInModel(c)
      env.trace.on = env.traced
      try client.block() finally env.trace.on = false
      verify(c)
    }

    // ---- end-to-end samples: every session of the cycle, every seam
    // call, every planIncremental call and every catalog client call ----
    val r = env.res
    (c.fullCalls ++ c.incrCalls ++ c.restoreCalls)
      .foreach { case (k, t, s, ok) => r.op(s"$k:$t", s * 1000, ok) }
    c.planMs.foreach(ms => r.op("plan:events", ms, ok = true))
    r.value("export_rows_per_s", c.fullRows / c.fullS)
    r.value("restore_rows_per_s", c.restoreRows / c.restoreS)
    c.incrS.foreach(s => r.value("incr_export_s", s))
    r.value("rows_moved", (c.fullRows + c.incrRows.sum + c.restoreRows).toDouble)
    r.value("session_s", c.fullS + c.incrS.sum + c.restoreS)
    r.info("source_mb") = srcBytes / 1048576.0
    client.report()

    // ---- per-layer, from the traced cycle ----
    if (env.traced) {
      env.drain()
      val L = r.layers
      def seamS(calls: Seq[(String, String, Double, Boolean)], k: String) =
        calls.filter(_._1 == k).map(_._3)
      val slots = math.min(env.nproc, tables.size).toDouble
      L("orchestrate.session_s") = c.fullS
      L("orchestrate.pool_util") =
        (seamS(c.fullCalls, "export").sum + seamS(c.fullCalls, "record").sum) / (c.fullS * slots)
      L("orchestrate.attempts") = c.runner.attempts.get.toDouble
      L("orchestrate.retries") =
        (c.runner.attempts.get - tables.size * 2 - (c.sessions.size - 1)).toDouble
      L("engine.export_data_s") = seamS(c.fullCalls, "export").sum
      L("engine.export_critical_s") = seamS(c.fullCalls, "export").max
      L("engine.import_data_s") = seamS(c.restoreCalls, "import").sum
      L("engine.import_critical_s") = seamS(c.restoreCalls, "import").max
      L("engine.rows_written") = c.fullRows.toDouble
      L("engine.bytes_written_mb") = c.bytesWritten / 1048576.0
      L("engine.write_amp") = c.bytesWritten.toDouble / srcBytes
      val spans = env.trace.allSpans
      val children = (spans ++ env.trace.sparkJobs).groupBy(_.parent)
      val incrInput = spans.filter(_.name == "incremental_session")
        .map(s => env.trace.countersUnder(s, children).inputBytes).sum
      L("engine.incr_read_amp") = incrInput.toDouble / math.max(1L, c.incrBytes)
      L("incremental.plan_ms") = Env.median(c.planMs.toSeq)
      L("incremental.window_rows") = Env.median(c.incrRows.map(_.toDouble).toSeq)
      L("catalog.record_s") = seamS(c.fullCalls, "record").sum
    }
    Layers.report(env, unitS)
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  final class Cycle(val root: String, val dest: String, val runner: SeamRunner) {
    val fullName = "full"
    var fullS, restoreS = 0.0
    var fullRows, restoreRows, bytesWritten, incrBytes = 0L
    var exportOk, restoreOk, incrOk, planOk = true
    var fullCalls, incrCalls, restoreCalls = Seq.empty[(String, String, Double, Boolean)]
    /** (name, now, specs, outcomes) of every export session, full first. */
    val sessions = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Seq[ExportSpec], Seq[Outcome])]
    val incrS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val incrRows = scala.collection.mutable.ArrayBuffer.empty[Long]
    val planMs = scala.collection.mutable.ArrayBuffer.empty[Double]
  }
}

/** The HBase TimeRange filter the exporter applies, restated here so the
  * expected slices do not depend on the code under test.
  */
private object Exporter0 {
  def window(df: DataFrame, lo: Long, hi: Long): DataFrame = {
    val ts = col("ts").cast("timestamp")
    df.filter((if (lo > 0) ts >= timestamp_millis(lit(lo)) else lit(true)) &&
      ts < timestamp_millis(lit(hi)))
  }
}
