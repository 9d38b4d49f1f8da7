package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM. Runs one workload and writes its raw result
  * (see [[Result]]) to a JSON file; the Python runner turns it into
  * metrics.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <workDir>
  *             <corpusDir> <catalogDir> <resultJson>
  *
  * `seconds` is accepted for the command line's sake: a run does one
  * fixed unit of work however long it takes.
  * `catalogDir` is this run's copy of the seeded catalog (backup_cycle).
  * Workload `seed_catalog` writes the seeded catalog into `catalogDir`
  * and exits.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, _, trace, work, corpus, catalog, out) = args
    val nproc = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Trace(spark.sparkContext)
    if (trace == "1") {
      spark.sparkContext.addSparkListener(tracer.sparkListener)
      spark.listenerManager.register(tracer.queryListener)
    }
    val res = new Result
    val env = new Env(spark, seed.toLong, trace == "1", tracer, work,
      corpus, catalog, res)
    env.phases("jvm_start") = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0 -
      (System.nanoTime() - t0) / 1e9
    env.phases("spark_start") = (System.nanoTime() - t0) / 1e9
    if (workload == "seed_catalog") {
      try CatalogMix.writeSeed(spark, catalog) finally spark.stop()
      return
    }
    try workload match {
      case "backup_cycle" => BackupCycle.run(env)
      case "query_suite" => QuerySuite.run(env)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      Files.writeString(Paths.get(out), res.toJson)
      if (env.traced) {
        env.drain()
        // the spans, written once at the end; Spark jobs are the spans
        // of layer `spark`, children of the span that submitted them
        val lines = (tracer.allSpans ++ tracer.sparkJobs).sortBy(_.startNs).map { sp =>
          Json.obj(Seq("id" -> sp.id, "parent" -> sp.parent, "layer" -> sp.layer,
            "name" -> sp.name, "op" -> sp.op, "start_ns" -> sp.startNs, "end_ns" -> sp.endNs))
        }
        Files.writeString(Paths.get(out + ".spans.jsonl"), lines.mkString("", "\n", "\n"))
      }
      spark.stop()
    }
  }
}
