package perfbench

import java.math.{MathContext, RoundingMode, BigDecimal => JBigDecimal}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Order-insensitive result digests.
  *
  * Cells are canonicalized as `scripts/check_oracle.py` does for its
  * DuckDB comparison: floats (and decimals, which that script turns
  * into floats) in Python `repr` form, booleans lower-case, columns in
  * name order. Rows are sorted before hashing, so the digest ignores row
  * order.
  */
object Digest {

  /** Python's `repr(float)`: the shortest decimal string that reads
    * back as the same double, in fixed notation for decimal exponents
    * -4 < decpt <= 16 and in `1.5e+16` form outside that range.
    */
  def pyRepr(d: Double): String = {
    if (d.isNaN) return "nan"
    if (d.isInfinite) return if (d > 0) "inf" else "-inf"
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"
    val exact = new JBigDecimal(math.abs(d))
    val bd = (1 to 17).iterator
      .map(p => exact.round(new MathContext(p, RoundingMode.HALF_EVEN)))
      .find(_.doubleValue == math.abs(d)).get.stripTrailingZeros
    val digits = bd.unscaledValue.toString
    val decpt = digits.length - bd.scale // value = 0.<digits> * 10^decpt
    val body =
      if (decpt <= -4 || decpt > 16) {
        val mant = if (digits.length == 1) digits
          else digits.head + "." + digits.tail
        val e = decpt - 1
        mant + "e" + (if (e < 0) "-" else "+") + f"${math.abs(e)}%02d"
      } else if (decpt <= 0) "0." + "0" * -decpt + digits
      else if (decpt < digits.length)
        digits.take(decpt) + "." + digits.drop(decpt)
      else digits + "0" * (decpt - digits.length) + ".0"
    if (d < 0) "-" + body else body
  }

  def canon(v: Any): String = v match {
    case null => "None"
    case d: Double => pyRepr(d)
    case f: Float => pyRepr(f.toDouble)
    case b: java.math.BigDecimal => pyRepr(b.doubleValue)
    case b: scala.math.BigDecimal => pyRepr(b.toDouble)
    case b: Boolean => if (b) "true" else "false"
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ", ", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ": " + canon(x) }.sorted
        .mkString("{", ", ", "}")
    case r: Row =>
      r.schema.fieldNames.indices.map(i => canon(r.get(i))).mkString("(", ", ", ")")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case other => other.toString
  }

  def sha256(lines: Iterable[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update(10: Byte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** (row count, digest) of a collected result, columns in name order. */
  def ofRows(columns: Seq[String], rows: Seq[Row]): (Long, String) = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("\u0001"))
    (rows.size.toLong, sha256(columns.sorted.mkString("\u0001") +: lines.sorted))
  }

  /** (row count, digest) of each of several large tables, computed in
    * one Spark job: the order-insensitive sum of a 64-bit hash of every
    * row, with the columns taken in name order. Equal for equal row
    * multisets.
    */
  def ofTables(tables: Seq[(String, DataFrame)]): Map[String, (Long, String)] =
    tables.map { case (name, df) =>
      df.select(lit(name).as("t"),
        xxhash64(df.columns.sorted.map(col).toSeq: _*).cast("decimal(38,0)").as("h"))
    }.reduce(_ union _).groupBy("t").agg(count(lit(1)), sum(col("h"))).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), String.valueOf(r.get(2))))).toMap

  /** Doubles whose Python repr exercises every branch of [[pyRepr]];
    * the runner checks the JVM's strings against Python's own repr.
    */
  val probes: Seq[Double] = Seq(0.0, -0.0, 1.0, -2.5, 0.1, 1.0 / 3, 2.0 / 3,
    1e16, 1e15, 123456789012345678.0, 1.5e-5, 0.0001, 0.00012345, 1e-7,
    5e-324, Double.MaxValue, 100.0, 1e22, 9007199254740993.0, 0.3,
    52952.003539333535, 114.3020000000001, 0.05424950644373894,
    0.054249506f.toDouble)

  /** A small result with floats, booleans, nulls and a column order that
    * differs from name order; the runner recomputes its digest in Python.
    */
  val probeTable: (Seq[String], Seq[Seq[Any]]) = (Seq("z", "a", "m"), Seq(
    Seq(0.1, "x", true), Seq(1e16, null, false), Seq(-2.5, "y", null),
    Seq(1.0 / 3, "x", true)))
}
