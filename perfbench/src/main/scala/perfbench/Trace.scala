package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a call from the benchmark into a graft layer,
  * or (layer `spark`) a Spark job charged to the span that submitted
  * it. Times are `System.nanoTime` values; `op` is the op or query id
  * the span belongs to.
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      op: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Per-span Spark counters, summed over the tasks of the jobs the span
  * submitted.
  */
final class SparkCounters {
  var jobs = 0L; var tasks = 0L; var taskMs = 0L; var gcMs = 0L
  var inputBytes = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
  var spill = 0L
  def add(o: SparkCounters): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill
  }
}

/** In-memory tracer. Spans are recorded only while `on` is set; the
  * Spark and query-execution listeners stay registered for the whole
  * traced run and charge jobs to the span named by the `perfbench.span`
  * local property, which [[span]] sets on the calling thread. Pool
  * threads that `BackupRunner` creates inside a traced call inherit the
  * caller's span stack (and Spark's local properties), so seam spans on
  * those threads nest under the session span that started them.
  */
final class Trace(sc: SparkContext) {
  @volatile var on = false

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new InheritableThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  // nanoTime of wall-clock ms 0: Spark events carry wall-clock ms
  private val nanoOfEpoch = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def msToNs(ms: Long): Long = ms * 1000000L + nanoOfEpoch

  def span[A](layer: String, name: String, op: String = "")(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val prop = sc.getLocalProperty(Trace.SpanProp)
      stack.set(id :: outer)
      sc.setLocalProperty(Trace.SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, outer.headOption.getOrElse(0L), layer, name, op,
          t0, System.nanoTime()))
        stack.set(outer)
        sc.setLocalProperty(Trace.SpanProp, prop)
      }
    }

  // ---- Spark side ----
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobSpans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.Map.empty[Long, SparkCounters]
  private val plans = mutable.ArrayBuffer.empty[(Long, Double)]
  private val executions = mutable.ArrayBuffer.empty[Long]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val sid = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Trace.SpanProp))).map(_.toLong).getOrElse(0L)
      jobSpan(e.jobId) = sid
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      counters.getOrElseUpdate(sid, new SparkCounters).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      val sid = jobSpan.getOrElse(e.jobId, 0L)
      val t0 = jobStart.getOrElse(e.jobId, e.time)
      jobSpans += Span(-e.jobId - 1L, sid, "spark", s"job-${e.jobId}", "",
        msToNs(t0), msToNs(e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val sid = stageJob.get(e.stageId).flatMap(jobSpan.get).getOrElse(0L)
      val c = counters.getOrElseUpdate(sid, new SparkCounters)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Planning time (analysis + optimization + planning) and the count
    * of SQL executions, stamped with the wall-clock start of each
    * execution's first phase; attributed to query spans by time, since
    * the listener runs on Spark's bus thread, not the caller's.
    */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      val startMs = if (phases.isEmpty) System.currentTimeMillis()
        else phases.values.map(_.startTimeMs).min
      plans += ((msToNs(startMs), planMs / 1000.0))
      executions += msToNs(startMs)
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  // ---- snapshots (take them after Env.drain) ----

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def sparkJobs: Seq[Span] = synchronized(jobSpans.toSeq)
  def countersBySpan: Map[Long, SparkCounters] = synchronized(counters.toMap)

  /** (planning seconds, executions) attributed to `s`'s interval. */
  def planWithin(s: Span): (Double, Int) = synchronized {
    val p = plans.filter { case (t, _) => t >= s.startNs && t <= s.endNs }
    (p.map(_._2).sum, executions.count(t => t >= s.startNs && t <= s.endNs))
  }

  /** Spark counters of `s` and every span beneath it. */
  def countersUnder(s: Span, children: Map[Long, Seq[Span]]): SparkCounters = {
    val all = countersBySpan
    val acc = new SparkCounters
    def walk(id: Long): Unit = {
      all.get(id).foreach(acc.add)
      children.getOrElse(id, Nil).foreach(c => walk(c.id))
    }
    walk(s.id)
    acc
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  /** Self time per layer: each span's duration minus the part of it
    * that its child spans (Spark jobs included) cover. Children on
    * parallel pool threads overlap; their union is what is subtracted.
    */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
        kids.foreach { case (a, b) =>
          if (a > curB) {
            if (curB > curA) covered += curB - curA
            curA = a; curB = b
          } else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        (s.durNs - covered) / 1e9
      }.sum
    }
  }
}
