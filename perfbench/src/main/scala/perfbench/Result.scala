package perfbench

import scala.collection.mutable

/** What one run measured, written as JSON for the Python runner, which
  * turns the raw samples into metrics.
  *
  *  - `ops`: every timed operation of the workload — its kind, latency
  *    and whether it succeeded;
  *  - `values`: named samples (one or more per run, e.g. one per
  *    incremental session); the runner reports their median;
  *  - `layers`: the per-layer metrics of the traced unit;
  *  - `checks`: output checks attempted and failed, with the first few
  *    failure messages.
  */
final class Result {
  val ops = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
  val values = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var checks = 0L
  var checkFailures = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  var firstOpMs = 0L
  var measuredS = 0.0

  def op(kind: String, ms: Double, ok: Boolean): Unit = ops += ((kind, ms, ok))
  def value(name: String, v: Double): Unit =
    values.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** One output check; a failed one is recorded with its message. */
  def check(ok: Boolean, what: => String): Boolean = {
    checks += 1
    if (!ok) {
      checkFailures += 1
      note(what)
    }
    ok
  }

  /** The message of a failure counted elsewhere (a failed op). */
  def note(what: String): Unit = if (failures.size < 20) failures += what

  def toJson: String = Json.obj(Seq(
    "first_op_ms" -> firstOpMs,
    "measured_s" -> measuredS,
    "ops" -> ops.map { case (k, ms, ok) => Seq(k, ms, ok) }.toSeq,
    "values" -> Json.Obj(values.map { case (k, v) => k -> v.toSeq }.toSeq),
    "layers" -> Json.Obj(layers.toSeq),
    "info" -> Json.Obj(info.toSeq),
    "checks" -> checks,
    "check_failures" -> checkFailures,
    "failures" -> failures.toSeq,
    "repr_probes" -> Digest.probes.map(d =>
      Seq(java.lang.Double.doubleToRawLongBits(d).toString, Digest.pyRepr(d))),
    "digest_probe" -> {
      val (cols, rows) = Digest.probeTable
      val (n, h) = Digest.ofRows(cols, rows.map(org.apache.spark.sql.Row.fromSeq))
      Json.Obj(Seq("columns" -> cols, "rows" -> rows, "count" -> n, "digest" -> h))
    }))
}

/** Minimal JSON writer for the result file. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Obj => obj(o.fields)
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
