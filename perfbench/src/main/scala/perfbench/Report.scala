package perfbench

/** JSON rendering for the result file, with Jackson's Scala module. */
object Json {
  private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()

  def render(v: Any): String = mapper.writeValueAsString(v)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def gmean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest of p50/p90/p99 that has at least ten samples beyond
    * it, as (percentile, value). */
  def tail(xs: Seq[Double]): (Int, Double) =
    Seq(99, 90, 50).find(p => xs.size * (100 - p) / 100.0 >= 10.0)
      .map(p => (p, quantile(xs, p / 100.0)))
      .getOrElse((50, median(xs)))
}

/** Order-insensitive fingerprint of a result: each row is rendered to
  * a canonical string (columns sorted by name, floats rounded to three
  * decimals, timestamps as epoch microseconds, dates as epoch days),
  * hashed with MD5, and the first eight bytes of the digests summed
  * modulo 2^64. `pin.py` renders DuckDB's rows the same way. */
object RowHash {
  import org.apache.spark.sql.Row

  def cell(v: Any): String = v match {
    case null => "NULL"
    case b: Boolean => if (b) "true" else "false"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case d: java.math.BigDecimal => num(d.doubleValue)
    case d: scala.math.BigDecimal => num(d.toDouble)
    case n: java.lang.Number => n.longValue.toString
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case t: java.time.Instant => micros(t).toString
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: collection.Map[_, _] => m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("<", ",", ">")
    case xs: Iterable[_] => xs.map(cell).mkString("[", ",", "]")
    case s => s.toString
  }

  private def num(d: Double): String =
    if (d.isNaN) "NaN" else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_EVEN)
      .bigDecimal.unscaledValue.toString + "e-3"

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  def rowString(cols: Seq[String], r: Row): String =
    cols.indices.sortBy(cols(_)).map(i => cols(i) + "=" + cell(r.get(i))).mkString("\u001f")

  def rowHash(s: String): Long =
    java.nio.ByteBuffer.wrap(java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))).getLong

  /** (row count, order-insensitive hash as 16 hex digits). */
  def of(cols: Seq[String], rows: Seq[Row]): (Long, String) =
    (rows.size.toLong, f"${rows.map(r => rowHash(rowString(cols, r))).foldLeft(0L)(_ + _)}%016x")
}
