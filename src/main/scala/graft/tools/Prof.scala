package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev-loop job-level profiler (the Explain companion for TIME rather
  * than SHAPE): run one contract query under the bench's exact session
  * settings and print every Spark job's duration with its call site,
  * so a multi-job operator (store init, epoch loops, greedy rounds)
  * shows WHERE its seconds go. Usage:
  * `java … graft.tools.Prof <sfDir> <query> [reps]`. NOT part of the
  * shipped library.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = graft.Bench.session()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        // a future-submitted stage's own name is the generic
        // CompletableFuture frame — fall back to the deepest stage
        // RDD scope / first graft frame in the stage details
        def graftFrame(s: org.apache.spark.scheduler.StageInfo): String =
          s.details.linesIterator
            .find(l => l.contains("graft.") && !l.contains("tools.Prof"))
            .map(_.trim.take(90)).getOrElse(s.name)
        val named = j.stageInfos.map(s =>
          if (s.name.contains("CompletableFuture")) graftFrame(s)
          else s.name)
        val site = named.find(!_.contains("CompletableFuture"))
          .orElse(named.lastOption).getOrElse("?")
        jobs.put(j.jobId, (j.time, site))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(j.jobId)).foreach { case (t0, site) =>
          done.add((j.jobId, j.time - t0, site))
        }
      }
    })
    val fn = graft.SparkEntry.queries(name)
    for (rep <- 1 to reps) {
      done.clear()
      graft.Bench.resetState(spark)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tBuild = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val tExec = System.nanoTime()
      // listener events are async; give the bus a beat before reading
      Thread.sleep(300)
      println(f"== rep $rep: build ${(tBuild - t0) / 1e9}%.3f s, " +
        f"execute ${(tExec - tBuild) / 1e9}%.3f s, " +
        f"total ${(tExec - t0) / 1e9}%.3f s, jobs ${done.size()}")
      import scala.jdk.CollectionConverters._
      val byJob = done.asScala.toSeq.sortBy(_._1)
      val bySite = byJob.groupBy(_._3).view
        .mapValues(v => (v.size, v.map(_._2).sum)).toSeq
        .sortBy(-_._2._2)
      println("-- by call site (n jobs, total ms):")
      bySite.foreach { case (site, (n, ms)) =>
        println(f"   $ms%6d ms  n=$n%-4d $site")
      }
      if (rep == reps) {
        println("-- slowest 15 individual jobs:")
        byJob.sortBy(-_._2).take(15).foreach { case (id, ms, site) =>
          println(f"   job $id%4d  $ms%6d ms  $site")
        }
      }
    }
    spark.stop()
  }
}
