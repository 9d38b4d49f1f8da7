package perfbench

/** Per-layer metrics every workload derives the same way from its
  * traced unit (a backup cycle, a query pass): the Spark runtime
  * counters of the jobs charged to the benchmark's spans and each
  * layer's self time.
  */
object Layers {
  val Names: Seq[String] =
    Seq("orchestrate", "engine", "catalog", "incremental", "queries", "spark")

  def report(env: Env, unitS: Double): Unit = {
    if (!env.traced) return
    env.drain()
    val out = env.res.layers
    val c = new SparkCounters
    env.trace.countersBySpan.foreach { case (sid, x) => if (sid != 0L) c.add(x) }
    val mb = 1048576.0
    out("spark.jobs") = c.jobs.toDouble
    out("spark.tasks") = c.tasks.toDouble
    out("spark.task_s") = c.taskMs / 1000.0
    out("spark.gc_s") = c.gcMs / 1000.0
    out("spark.input_mb") = c.inputBytes / mb
    out("spark.shuffle_read_mb") = c.shuffleRead / mb
    out("spark.shuffle_write_mb") = c.shuffleWrite / mb
    out("spark.spill_mb") = c.spill / mb
    out("spark.driver_heap_peak_mb") = env.heapPeakMb
    out("spark.core_util") = c.taskMs / 1000.0 / (unitS * env.nproc)
    val self = Trace.selfTimeByLayer(env.trace.allSpans ++ env.trace.sparkJobs
      .filter(_.parent != 0L))
    Names.foreach(l => out(s"$l.self_s") = self.getOrElse(l, 0.0))
  }
}
