package perfbench

import java.io.File

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the seeded generator, the
  * run's fresh working directory, the corpus locations, the tracer and
  * the result being filled.
  */
final class Env(val spark: SparkSession, val seed: Long, val traced: Boolean,
                val trace: Trace, val work: String,
                val corpus: String, val catalog: String, val res: Result) {
  val nproc: Int = Runtime.getRuntime.availableProcessors
  val rng = new scala.util.Random(seed)
  private val heap = java.lang.management.ManagementFactory.getMemoryPoolMXBeans

  def freshDir(name: String): String = {
    val d = new File(work, name)
    Env.delete(d)
    d.mkdirs()
    d.getAbsolutePath
  }

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Runs the workload's one timed unit (a backup cycle, a query pass),
    * then its untimed, untraced output check. The amount of work is
    * fixed: it does not depend on how long the unit takes. Returns the
    * wall seconds of the timed work.
    */
  def measure[T](work: => T)(check: T => Unit): Double = {
    res.info("setup_phases_s") = Json.Obj(phases.toSeq)
    resetHeapPeak()
    res.firstOpMs = System.currentTimeMillis()
    trace.on = traced
    val u0 = System.nanoTime()
    val out = try work finally trace.on = false
    res.measuredS = (System.nanoTime() - u0) / 1e9
    check(out)
    res.measuredS
  }

  /** Setup phases, in seconds, for the report. */
  val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally phases(name) = (System.nanoTime() - t0) / 1e9
  }

  private def resetHeapPeak(): Unit = heap.forEach { p =>
    if (p.getType == java.lang.management.MemoryType.HEAP) p.resetPeakUsage()
  }

  def heapPeakMb: Double = {
    var s = 0L
    heap.forEach { p =>
      if (p.getType == java.lang.management.MemoryType.HEAP)
        s += p.getPeakUsage.getUsed
    }
    s / 1048576.0
  }

  /** Bench-style per-query reset: drop cached plans and every persisted
    * RDD, so no query inherits another's materialized state.
    */
  def resetState(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}

object Env {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }

  def bytesUnder(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else f.length
    walk(new File(path))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
