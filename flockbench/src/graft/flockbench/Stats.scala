package graft.flockbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order statistics over one op kind's samples. Nothing here pools
  * unlike ops: callers pass the samples of a single op kind.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Samples that lie strictly beyond the `p`-th percentile of `n`. */
  def beyond(n: Int, p: Double): Int =
    math.floor(n * (1.0 - p / 100.0) + 1e-9).toInt

  /** A tail percentile (p > 50), nearest-rank. Refused unless at least
    * `minBeyond` samples lie beyond it: a p75 over twelve samples is
    * decided by three of them, which is noise, not a tail.
    */
  def tailPercentile(xs: Seq[Double], p: Double, minBeyond: Int = 10): Double = {
    require(p > 50.0 && p < 100.0, s"tail percentile must lie in (50, 100): $p")
    val b = beyond(xs.length, p)
    require(b >= minBeyond,
      s"p$p over ${xs.length} samples leaves $b beyond it (< $minBeyond)")
    val s = xs.sorted
    s(math.ceil(p / 100.0 * s.length).toInt - 1)
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.length)
  }
}

/** The units of a run in order: one cold unit, `settle` untimed warm-up
  * units (JIT settle), then `timed` units, the only ones warm metrics
  * read.
  */
final case class Schedule(settle: Int, timed: Int) {
  def total: Int = 1 + settle + timed
  def timedUnits[T](units: Seq[T]): Seq[T] = units.slice(1 + settle, total)
}

/** Order-insensitive digest of a result: every row is rendered
  * canonically with its columns in name order, the renderings are
  * sorted, and the sorted list is hashed. Numbers compare the way the
  * oracle gate compares them: integers exactly, floats exactly after
  * widening to double, an integral float equal to the same integer.
  */
object Digest {

  private val Exact = 9007199254740992.0 // 2^53

  private def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d == math.rint(d) && math.abs(d) < Exact) d.toLong.toString
    else java.lang.Double.toString(d)

  def render(v: Any): String = v match {
    case null => "~"
    case b: Boolean => if (b) "T" else "F"
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Float => num(x.toDouble)
    case x: Double => num(x)
    case x: java.math.BigDecimal =>
      if (x.scale <= 0 || x.stripTrailingZeros.scale <= 0) x.toBigInteger.toString
      else num(x.doubleValue)
    case x: scala.math.BigDecimal => render(x.bigDecimal)
    case s: String => s"${s.length}:$s"
    case t: java.sql.Timestamp =>
      "ts" + (t.getTime / 1000 * 1000000L + t.getNanos / 1000 % 1000000L)
    case t: java.time.Instant =>
      "ts" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      render(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case b: Array[Byte] => "x" + b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted
        .mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Hex digest plus row count of `rows` under `schema`. */
  def of(rows: Array[Row], schema: StructType): String = {
    val order = schema.fieldNames.zipWithIndex
      .sortBy { case (n, _) => n.toLowerCase }.map(_._2)
    val header = order.map(i => schema.fieldNames(i).toLowerCase).mkString(",")
    val lines = rows.map(r => order.map(i => render(r.get(i))).mkString("\u0001"))
    java.util.Arrays.sort(lines.asInstanceOf[Array[AnyRef]])
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(header.getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    md.digest().take(16).map("%02x".format(_)).mkString + s"/${rows.length}"
  }
}

/** Minimal JSON writer for the result and span lines. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
