package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** PARTITION TRANSFORMS — Iceberg's HIDDEN-PARTITIONING idea:
  * a partition-spec generation may derive its path segments from a
  * raw payload column instead of naming a string column directly —
  * `days(ts)` lays files out by UTC day of a BIGINT epoch-micros
  * column, `bucket(n, col)` by a stable hash residue. The layout
  * column never exists in the served schema (hidden — analysts never
  * learn it), writers derive the segment value at write time, and the
  * SCAN converts an ordinary predicate on the RAW column into
  * partition-value pruning: `WHERE ts BETWEEN a AND b` skips whole
  * files from their `ts_day=…` path segments alone. At 100 TB this is
  * the difference between "every analyst must know the layout column"
  * and pruning that simply happens — the reason Iceberg ships
  * transform specs at all.
  *
  * Grammar (the PARTSPEC column list, comma-separated, paren-aware):
  *  - `col`            — identity: the STRING column itself rides the
  *                       path (the identity layout, unchanged).
  *  - `days(col)`      — `col` is BIGINT epoch MICROS (the engine's
  *                       TsUs convention); segment `col_day=YYYY-MM-DD`
  *                       (UTC, floorDiv — timezone-free by
  *                       construction).
  *  - `hours(col)`     — same contract at hour grain:
  *                       `col_hour=YYYY-MM-DD-HH` (Iceberg's hour
  *                       rendering).
  *  - `months(col)`    — same contract at month grain:
  *                       `col_month=YYYY-MM`.
  *  - `years(col)`     — same contract at year grain:
  *                       `col_year=YYYY`.
  *  - `bucket(n, col)` — `col` is BIGINT/INT/STRING; segment
  *                       `col_bucket=i`, i = murmur3(canonical string
  *                       rendering) mod n, seed 42. Writer and reader
  *                       share ONE JVM function, so the hash never
  *                       drifts between them.
  *
  * Derived segment names (`col_day`, `col_bucket`) are reserved: the
  * schema surface hides them, and evolution refuses a transform whose
  * derived name collides with a payload or path column. The raw
  * column STAYS in the payload (unlike identity columns, which ride
  * the path only) — every rewrite remains information-complete.
  */
sealed trait PartTransform extends Serializable {
  /** True for the TIME-GRAIN transforms (years/months/days/hours):
    * all derive from a BIGINT epoch-micros column, all prune range
    * predicates through [[TimePart.microsRange]], all report a
    * storage-partitioned-join key through the catalog's V2 grain
    * functions (`graft.sources.GraftTimeGrainFunction`), and
    * writes order by the raw column (contiguous time ranges per
    * task). */
  def isTime: Boolean = false
  /** The payload column the segment derives from (for identity: the
    * path-borne column itself). */
  def rawCol: String
  /** The `name` of the `name=value` path segment this spec writes. */
  def derivedName: String
  /** Canonical spec text as written in PARTSPEC / CALL arguments. */
  def spec: String
  def isIdentity: Boolean = false
  /** Writer-side derivation from the raw value (never called on
    * NULL — partition values cannot ride a path). */
  def segmentValue(v: Any): String
  /** The SAME derivation as a Spark Column (compaction's partitionBy
    * route) — must agree byte-for-byte with [[segmentValue]]. */
  def column(df: DataFrame): Column
}

final case class IdentityPart(rawCol: String) extends PartTransform {
  override def derivedName: String = rawCol
  override def spec: String = rawCol
  override def isIdentity: Boolean = true
  override def segmentValue(v: Any): String = String.valueOf(v)
  override def column(df: DataFrame): Column = df(rawCol)
}

/** The common face of days/hours/months — see [[PartTransform.isTime]]. */
sealed trait TimePart extends PartTransform {
  override def isTime: Boolean = true
  /** The inclusive epoch-micros range the segment value covers — what
    * the scan feeds the zonemap-admits logic (a time segment IS a
    * zonemap). */
  def microsRange(segVal: String): (Long, Long)
  /** Coerce a raw/runtime value to micros (runtime-filter values
    * arrive stringified). */
  protected def micros(v: Any): Long = v match {
    case n: java.lang.Number => n.longValue
    case s: String => s.toLong
    case other => throw new IllegalArgumentException(
      s"$spec: expected an epoch-micros BIGINT value, got $other")
  }
  /** The day-string SQL derivation every grain builds on, with the
    * loud NULL refusal (silently minting __HIVE_DEFAULT_PARTITION__
    * would defeat range pruning forever). */
  protected def guarded(dayExpr: String): Column =
    org.apache.spark.sql.functions.expr(
      s"IF(`$rawCol` IS NULL, " +
        s"raise_error('$spec: NULL partition value cannot ride a " +
        "path — delete or backfill the NULL rows, or evolve to a " +
        s"layout that does not derive from $rawCol'), $dayExpr)")
  /** The raw column as an epoch-micros SQL expression, by its type in
    * `df`: BIGINT columns ARE micros; TIMESTAMP flavors derive
    * through unix_micros — the same value InternalRow stores, so the
    * SQL route and the V2 row writer can never disagree (NTZ is UTC
    * by the engine's session-timezone contract). */
  protected def microsSql(df: DataFrame): String =
    df.schema.fields.find(_.name == rawCol).map(_.dataType) match {
      case Some(org.apache.spark.sql.types.TimestampType) =>
        s"unix_micros(`$rawCol`)"
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        PartTransform.ntzMicrosSql(rawCol)
      case _ => s"`$rawCol`"
    }
  protected def dayStringExpr(df: DataFrame): String =
    s"CAST(date_from_unix_date(CAST(FLOOR(${microsSql(df)} / " +
      "86400000000e0) AS INT)) AS STRING)"
}

final case class DaysPart(rawCol: String) extends TimePart {
  override def derivedName: String = rawCol + "_day"
  override def spec: String = s"days($rawCol)"
  override def segmentValue(v: Any): String =
    PartTransform.dayOfMicros(micros(v))
  override def microsRange(segVal: String): (Long, Long) =
    PartTransform.microsRangeOfDay(segVal)
  // date_from_unix_date renders DateType → 'YYYY-MM-DD' exactly like
  // LocalDate.toString; FLOOR(double) = floorDiv for |us| < 2^53
  // (~year 287000 — beyond any epoch-micros fixture).
  override def column(df: DataFrame): Column = guarded(dayStringExpr(df))
}

final case class HoursPart(rawCol: String) extends TimePart {
  override def derivedName: String = rawCol + "_hour"
  override def spec: String = s"hours($rawCol)"
  override def segmentValue(v: Any): String =
    PartTransform.hourOfMicros(micros(v))
  override def microsRange(segVal: String): (Long, Long) =
    PartTransform.microsRangeOfHour(segVal)
  override def column(df: DataFrame): Column = guarded(
    s"CONCAT(${dayStringExpr(df)}, '-', LPAD(CAST(pmod(CAST(FLOOR(" +
      s"${microsSql(df)} / 3600000000e0) AS BIGINT), 24) AS STRING), " +
      "2, '0'))")
}

final case class MonthsPart(rawCol: String) extends TimePart {
  override def derivedName: String = rawCol + "_month"
  override def spec: String = s"months($rawCol)"
  override def segmentValue(v: Any): String =
    PartTransform.monthOfMicros(micros(v))
  override def microsRange(segVal: String): (Long, Long) =
    PartTransform.microsRangeOfMonth(segVal)
  override def column(df: DataFrame): Column =
    guarded(s"SUBSTRING(${dayStringExpr(df)}, 1, 7)")
}

final case class YearsPart(rawCol: String) extends TimePart {
  override def derivedName: String = rawCol + "_year"
  override def spec: String = s"years($rawCol)"
  override def segmentValue(v: Any): String =
    PartTransform.yearOfMicros(micros(v))
  override def microsRange(segVal: String): (Long, Long) =
    PartTransform.microsRangeOfYear(segVal)
  // year() + LPAD with the [1, 9999] domain guard — byte-agreement
  // with yearOfMicros (a SUBSTRING of the date rendering would
  // truncate signed/5-digit years into a DIFFERENT year's segment).
  override def column(df: DataFrame): Column = {
    val d = s"date_from_unix_date(CAST(FLOOR(${microsSql(df)} / " +
      "86400000000e0) AS INT))"
    guarded(s"IF(year($d) BETWEEN 1 AND 9999, " +
      s"LPAD(CAST(year($d) AS STRING), 4, '0'), " +
      s"raise_error('years($rawCol): year outside the YYYY segment " +
      "domain [1, 9999] — is the column really epoch MICROS?'))")
  }
}

/** `truncate(n, col)` — the width transform completing the
  * Iceberg family: STRING columns segment by their first `n`
  * characters (the id-prefix clustering common for document corpora);
  * BIGINT/INT columns floor to a multiple of `n` (floorMod — negatives
  * floor DOWN, so every segment covers exactly the value range
  * [seg, seg + n - 1] and prunes like a zonemap). One derivation for
  * writer, pruning, and the planner's V2 `truncate` function, the
  * bucket discipline. */
final case class TruncatePart(n: Int, rawCol: String)
    extends PartTransform {
  require(n > 0, s"truncate($n, $rawCol): width must be positive")
  override def derivedName: String = rawCol + "_trunc"
  override def spec: String = s"truncate($n,$rawCol)"
  override def segmentValue(v: Any): String = v match {
    case s: String =>
      // Empty-string refusal: partitionBy renders
      // an empty segment as __HIVE_DEFAULT_PARTITION__ in the path while
      // probe-time pruning compares against "", so WHERE col = '' would
      // silently prune the file holding its rows. Refuse at write
      // exactly like NULL; probe-side callers catch and admit.
      require(s.nonEmpty, s"$spec: empty-string partition value cannot " +
        "ride a path — delete or backfill the empty rows, or evolve to " +
        s"a layout that does not derive from $rawCol")
      // Code points, not UTF-16 units: the SQL write
      // path (SUBSTRING) and the Iceberg reference semantics count code
      // points, and a UTF-16 substring can split a surrogate pair into
      // a segment no stored path carries.
      PartTransform.truncatePrefix(s, n)
    case u: org.apache.spark.unsafe.types.UTF8String =>
      segmentValue(u.toString)
    case num: java.lang.Number =>
      val l = num.longValue
      (l - Math.floorMod(l, n.toLong)).toString
    case other => throw new IllegalArgumentException(
      s"$spec: cannot derive a segment from probe value $other")
  }
  /** The integral segment's covered value range — a zonemap. Throws
    * on a non-integral (string) segment; callers catch conservative. */
  def longRange(segVal: String): (Long, Long) = {
    val lo = segVal.toLong
    require(Math.floorMod(lo, n.toLong) == 0L,
      s"$spec: '$segVal' is not a width-$n segment")
    // addExact: a segment near Long.MaxValue would wrap hi negative
    // and range probes would silently PRUNE live rows; the throw
    // lands in the caller's conservative catch (admit).
    (lo, Math.addExact(lo, (n - 1).toLong))
  }
  private def nullGuard(e: String): Column =
    org.apache.spark.sql.functions.expr(
      s"IF(`$rawCol` IS NULL, raise_error('$spec: NULL partition " +
        "value cannot ride a path — delete or backfill the NULL " +
        s"rows, or evolve to a layout that does not derive from " +
        s"$rawCol'), $e)")
  override def column(df: DataFrame): Column =
    df.schema.fields.find(_.name == rawCol).map(_.dataType) match {
      case Some(org.apache.spark.sql.types.StringType) =>
        // SUBSTRING counts code points — same as segmentValue's
        // truncatePrefix. Empty strings refuse like NULL: the
        // path sentinel they would ride as is unmatchable at probe
        // time.
        nullGuard(s"IF(`$rawCol` = '', raise_error('$spec: " +
          "empty-string partition value cannot ride a path — delete " +
          "or backfill the empty rows, or evolve to a layout that " +
          s"does not derive from $rawCol'), SUBSTRING(`$rawCol`, 1, $n))")
      case Some(org.apache.spark.sql.types.LongType) |
           Some(org.apache.spark.sql.types.IntegerType) =>
        nullGuard(s"CAST(CAST(`$rawCol` AS BIGINT) - " +
          s"pmod(CAST(`$rawCol` AS BIGINT), ${n}L) AS STRING)")
      case other => throw new IllegalArgumentException(
        s"$spec: needs a STRING or BIGINT/INT column, got " +
          other.fold("no such column")(_.sql))
    }
}

final case class BucketPart(n: Int, rawCol: String) extends PartTransform {
  require(n > 0, s"bucket($n, $rawCol): bucket count must be positive")
  override def derivedName: String = rawCol + "_bucket"
  override def spec: String = s"bucket($n,$rawCol)"
  override def segmentValue(v: Any): String =
    PartTransform.bucketOf(PartTransform.canonical(v), n).toString
  override def column(df: DataFrame): Column = {
    val f = org.apache.spark.sql.functions.udf((s: String) => {
      require(s != null,
        s"bucket($n, $rawCol): NULL partition value cannot ride a path")
      PartTransform.bucketOf(s, n).toString
    })
    f(df(rawCol).cast(org.apache.spark.sql.types.StringType))
  }
}

object PartTransform {

  /** Raw-column types a TIME-GRAIN transform accepts: BIGINT
    * epoch micros (the original convention), or a true TIMESTAMP /
    * TIMESTAMP_NTZ column — all three ride InternalRow as the same
    * epoch-micros long, so every derivation is shared. */
  val timeSourceTypes: Set[org.apache.spark.sql.types.DataType] = Set(
    org.apache.spark.sql.types.LongType,
    org.apache.spark.sql.types.TimestampType,
    org.apache.spark.sql.types.TimestampNTZType)

  /** Raw-column types the VALUE transforms (bucket, truncate) accept
    * (deduped): one definition for declaration, evolution, and
    * the V2 write gate — the next admitted type lands everywhere. */
  val hashableTypes: Set[org.apache.spark.sql.types.DataType] = Set(
    org.apache.spark.sql.types.LongType,
    org.apache.spark.sql.types.IntegerType,
    org.apache.spark.sql.types.StringType)

  val MicrosPerDay: Long = 86400000000L

  /** First `n` CODE POINTS of `s`: the SQL write path
    * (SUBSTRING), Spark's UTF8String.substringSQL, and Iceberg's
    * reference truncate all count code points, while String.substring
    * counts UTF-16 units — a supplementary character inside the first
    * `n` characters would make the JVM-side segment diverge from the
    * stored path segment and silently drop live rows at probe time.
    * ONE definition for every JVM-side truncate derivation. */
  def truncatePrefix(s: String, n: Int): String =
    s.substring(0,
      s.offsetByCodePoints(0, math.min(n, s.codePointCount(0, s.length))))

  /** TZ-INDEPENDENT epoch-micros SQL for a TIMESTAMP_NTZ column.
    * `unix_micros(CAST(ntz AS TIMESTAMP))` reads the wall clock in the
    * SESSION zone — a catalog attached to a non-UTC session would
    * write skewed segments/zonemaps that read-time pruning (which
    * probes NTZ values as-if-UTC) silently drops live rows against.
    * This expression instead reproduces NTZ's InternalRow long (the
    * wall clock as-if-UTC) from TZ-independent parts, byte-identical
    * to the V2 row writer in ANY session zone: date, hour, minute are
    * wall-clock extractions on NTZ, and extract(SECOND) carries the
    * micros fraction as DECIMAL(8,6). */
  def ntzMicrosSql(col: String): String =
    s"(CAST(unix_date(CAST(`$col` AS DATE)) AS BIGINT) * 86400000000 + " +
      s"CAST(hour(`$col`) AS BIGINT) * 3600000000 + " +
      s"CAST(minute(`$col`) AS BIGINT) * 60000000 + " + // INT*INT overflows
      s"CAST(extract(SECOND FROM `$col`) * 1000000 AS BIGINT))"

  /** UTC day of an epoch-micros instant, 'YYYY-MM-DD'. */
  def dayOfMicros(us: Long): String =
    java.time.LocalDate.ofEpochDay(Math.floorDiv(us, MicrosPerDay))
      .toString

  /** The inclusive epoch-micros range a day segment covers — what the
    * scan feeds the zonemap-admits logic to prune on raw-column range
    * predicates. */
  def microsRangeOfDay(day: String): (Long, Long) = {
    val d = java.time.LocalDate.parse(day).toEpochDay
    (d * MicrosPerDay, d * MicrosPerDay + MicrosPerDay - 1)
  }

  val MicrosPerHour: Long = 3600000000L

  /** UTC hour of an epoch-micros instant, 'YYYY-MM-DD-HH' (the
    * Iceberg hour rendering). */
  def hourOfMicros(us: Long): String = {
    val h = Math.floorDiv(us, MicrosPerHour)
    val day = java.time.LocalDate.ofEpochDay(Math.floorDiv(h, 24L))
    f"$day-${Math.floorMod(h, 24L)}%02d"
  }

  def microsRangeOfHour(seg: String): (Long, Long) = {
    val day = java.time.LocalDate.parse(seg.substring(0, 10))
    val hh = seg.substring(11).toLong
    val lo = day.toEpochDay * MicrosPerDay + hh * MicrosPerHour
    (lo, lo + MicrosPerHour - 1)
  }

  /** UTC month of an epoch-micros instant, 'YYYY-MM'. */
  def monthOfMicros(us: Long): String =
    java.time.LocalDate.ofEpochDay(Math.floorDiv(us, MicrosPerDay))
      .toString.substring(0, 7)

  def microsRangeOfMonth(seg: String): (Long, Long) = {
    val ym = java.time.YearMonth.parse(seg)
    (ym.atDay(1).toEpochDay * MicrosPerDay,
      ym.atEndOfMonth.toEpochDay * MicrosPerDay + MicrosPerDay - 1)
  }

  /** UTC year of an epoch-micros instant, 'YYYY' — zero-padded four
    * digits, domain-guarded to years [1, 9999]: outside it
    * LocalDate's rendering grows a sign/extra digits, a truncated
    * segment would parse back as a DIFFERENT year, and the wrong
    * range would silently prune live rows. Refusing loudly keeps
    * garbage micros (e.g. nanos written where micros belong) from
    * minting lying segments. */
  def yearOfMicros(us: Long): String = {
    val y = java.time.LocalDate.ofEpochDay(Math.floorDiv(us, MicrosPerDay))
      .getYear
    require(y >= 1 && y <= 9999,
      s"yearOfMicros: year $y outside the YYYY segment domain " +
        "[1, 9999] — is the column really epoch MICROS?")
    f"$y%04d"
  }

  /** TOTAL year rendering for the V2 SHUFFLE function: inside
    * the segment domain it is byte-identical to [[yearOfMicros]];
    * outside it the raw year renders unpadded (1–2 or 5+ chars, or
    * signed — never colliding with a valid 4-digit segment). A probe
    * side being shuffled to meet a years() layout may carry garbage
    * instants; they can never match a STORED segment (the writer
    * refuses the domain), so degrading deterministically beats
    * throwing mid-query on rows the join would drop anyway. */
  def yearOfMicrosTotal(us: Long): String = {
    val y = java.time.LocalDate.ofEpochDay(Math.floorDiv(us, MicrosPerDay))
      .getYear
    if (y >= 1 && y <= 9999) f"$y%04d" else y.toString
  }

  def microsRangeOfYear(seg: String): (Long, Long) = {
    // Strict: anything but a four-digit segment (a foreign or legacy
    // path) must throw — the caller's conservative catch then ADMITS
    // the file instead of pruning on a misparsed year.
    require(seg.length == 4 && seg.forall(_.isDigit),
      s"microsRangeOfYear: not a YYYY segment: '$seg'")
    val y = seg.toInt
    (java.time.LocalDate.of(y, 1, 1).toEpochDay * MicrosPerDay,
      java.time.LocalDate.of(y, 12, 31).toEpochDay * MicrosPerDay +
        MicrosPerDay - 1)
  }

  /** Canonical string rendering shared by writer (JVM row values) and
    * reader (pushed-filter literals): numbers render as their long
    * form, so a probe arriving as Integer matches a value written as
    * Long. */
  def canonical(v: Any): String = v match {
    case n: java.lang.Number => String.valueOf(n.longValue)
    case other => String.valueOf(other)
  }

  /** murmur3(utf-8 canonical, seed 42) mod n — one JVM function for
    * both sides of the protocol. */
  def bucketOf(canonical: String, n: Int): Int =
    Math.floorMod(
      scala.util.hashing.MurmurHash3.stringHash(canonical, 42), n)

  private val Days = """days\(\s*([^()\s,]+)\s*\)""".r
  private val Hours = """hours\(\s*([^()\s,]+)\s*\)""".r
  private val Months = """months\(\s*([^()\s,]+)\s*\)""".r
  private val Years = """years\(\s*([^()\s,]+)\s*\)""".r
  private val Bucket = """bucket\(\s*(\d+)\s*,\s*([^()\s,]+)\s*\)""".r
  private val Truncate = """truncate\(\s*(\d+)\s*,\s*([^()\s,]+)\s*\)""".r

  /** Parse one spec entry. Unknown transform shapes refuse LOUDLY —
    * `void(s)` must never be stored as an identity column named
    * "void(s)". */
  def parse(s: String): PartTransform = s.trim match {
    case Days(c) => DaysPart(c)
    case Hours(c) => HoursPart(c)
    case Months(c) => MonthsPart(c)
    case Years(c) => YearsPart(c)
    case Bucket(n, c) => BucketPart(n.toInt, c)
    case Truncate(n, c) => TruncatePart(n.toInt, c)
    case t if t.contains('(') || t.contains(')') =>
      throw new IllegalArgumentException(
        s"unsupported partition transform '$t' — supported: identity " +
          "column, years(col), months(col), days(col), hours(col), " +
          "bucket(n, col), truncate(n, col)")
    case t => IdentityPart(t)
  }

  /** Paren-aware comma split — `bucket(8,doc_id),lang` is two specs. */
  def split(csv: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    csv.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => out += cur.result(); cur.clear()
      case c => cur += c
    }
    out += cur.result()
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }
}
