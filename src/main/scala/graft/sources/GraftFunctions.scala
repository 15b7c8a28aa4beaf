package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction,
  ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types._

/** The catalog's V2 FUNCTION surface — one function, `bucket`,
  * and it exists for STORAGE-PARTITIONED JOINS over bucket-transform
  * layouts: when a scan reports `KeyGroupedPartitioning(bucket(n,
  * col))`, Spark resolves the named function THROUGH THE RELATION'S
  * CATALOG to (a) type-check the transform against the scan output,
  * (b) prove two sides' partitionings compatible (same canonical
  * name, same bucket count), and (c) evaluate the hash when it must
  * shuffle a non-bucketed side to match
  * (`spark.sql.sources.v2.bucketing.shuffle.enabled`). The
  * implementation is EXACTLY [[graft.operators.PartTransform
  * .bucketOf]] over the canonical string rendering — the one JVM
  * function the writer, the scan's pruning, and now the planner all
  * share, so a co-located plan can never disagree with the bytes on
  * disk. The canonical name embeds the VALUE type: bucketing a BIGINT
  * and bucketing its STRING rendering hash identically here, but two
  * differently-typed layouts must still never claim compatibility.
  */
/** The TIME-GRAIN V2 functions — `years`/`months`/`days`/`hours`
  * over a BIGINT epoch-micros column, each returning the STRING
  * segment rendering the writer lays files out by
  * ([[graft.operators.PartTransform.dayOfMicros]] and siblings — one
  * JVM function for writer, pruning, and planner, the bucket
  * discipline). Registered so Spark's SPJ machinery can resolve a
  * scan-reported `KeyGroupedPartitioning(days(ts))`: two
  * day-partitioned facts joined on the raw column then plan with ZERO
  * Exchange (equal raw values share a day by construction), and with
  * `v2.bucketing.shuffle.enabled` Spark can evaluate the grain to
  * shuffle ONE non-partitioned side to match. This is the single most
  * common co-location in an event pipeline — the conservative
  * bail ("no exposed V2 date function") is retired by exposing one. */
final class GraftTimeGrainFunction(grain: String,
    render: Long => String) extends UnboundFunction {

  override def name(): String = grain

  override def description(): String =
    s"$grain(col): UTC $grain segment of a BIGINT epoch-micros column " +
      "— the graft-table hidden-partitioning grain (storage-" +
      "partitioned joins)"

  override def bind(inputType: StructType): BoundFunction = {
    // BIGINT micros or a TIMESTAMP flavor — all three ride InternalRow
    // as the same epoch-micros long, and all derive the same segment,
    // so one canonical name covers them (a days(BIGINT) table and a
    // days(TIMESTAMP) table ARE join-compatible: equal instants share
    // a day whichever type carries them).
    require(inputType.fields.length == 1 &&
        graft.operators.PartTransform.timeSourceTypes(
          inputType.fields(0).dataType),
      s"$grain: expected one BIGINT epoch-micros or TIMESTAMP column, " +
        s"got $inputType")
    val inType = inputType.fields(0).dataType
    new ScalarFunction[org.apache.spark.unsafe.types.UTF8String] {
      override def inputTypes(): Array[DataType] = Array(inType)
      override def resultType(): DataType = StringType
      override def name(): String = grain
      override def canonicalName(): String = s"graft.$grain"
      // NULLABLE + TOTAL: when v2.bucketing.shuffle evaluates
      // the grain to move a NON-partitioned join side, that side may
      // carry NULLs (a stored side never can — the writer refuses
      // them). getLong(0) on a null slot reads 0 and would silently
      // shuffle the row into the 1970 segment; return null instead
      // (the Iceberg V2-transform convention — a null key matches no
      // stored segment, which is exactly its join semantics).
      override def isResultNullable: Boolean = true
      override def produceResult(input: InternalRow)
          : org.apache.spark.unsafe.types.UTF8String =
        if (input.isNullAt(0)) null
        else org.apache.spark.unsafe.types.UTF8String
          .fromString(render(input.getLong(0)))
    }
  }
}

object GraftTimeGrainFunction {
  import graft.operators.PartTransform
  val all: Map[String, GraftTimeGrainFunction] = Map(
    // yearOfMicrosTotal, not yearOfMicros: the planner-side function
    // must be TOTAL (see its doc) — write-path domain refusal stays
    // in YearsPart.column/segmentValue.
    "years" -> new GraftTimeGrainFunction("years",
      PartTransform.yearOfMicrosTotal),
    "months" -> new GraftTimeGrainFunction("months", PartTransform.monthOfMicros),
    "days" -> new GraftTimeGrainFunction("days", PartTransform.dayOfMicros),
    "hours" -> new GraftTimeGrainFunction("hours", PartTransform.hourOfMicros))
}

/** The V2 truncate function family — resolved by Spark's SPJ
  * machinery when a scan reports
  * `KeyGroupedPartitioning(truncate_<n>(col))`: two
  * truncate-partitioned tables joined on the raw column plan with
  * zero Exchange (equal values share a width segment by
  * construction), and with `v2.bucketing.shuffle.enabled` Spark can
  * evaluate it to shuffle a non-partitioned side to match. EXACTLY
  * [[graft.operators.TruncatePart.segmentValue]]'s derivation — one
  * function for writer, pruning, and planner.
  *
  * WHY the width rides the NAME and not an argument:
  * `KeyGroupedPartitioning.satisfies0` requires every partition
  * expression's leaves to be join attributes — a literal width
  * argument is a leaf that matches no clustering key, so a
  * `truncate(50, col)` transform can never satisfy a join
  * distribution (Spark special-cases `bucket` for exactly this,
  * carrying numBuckets OUT of the children). A width-parameterized
  * name keeps the transform a one-argument function; the width lands
  * in the canonical name, so `truncate_50` vs `truncate_25` layouts
  * can never claim compatibility. */
final class GraftTruncateFunction(n: Int) extends UnboundFunction {

  override def name(): String = s"truncate_$n"

  override def description(): String =
    s"truncate_$n(col): the first $n characters of a STRING, or a " +
      s"BIGINT/INT floored to a multiple of $n, as the STRING " +
      "segment the graft-table writer lays files out by"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 1,
      s"truncate_$n: expected one value column, got $inputType")
    val valueType = inputType.fields(0).dataType
    require(Set[DataType](LongType, IntegerType, StringType)(valueType),
      s"truncate_$n: value must be BIGINT/INT/STRING, got " +
        valueType.sql)
    new ScalarFunction[org.apache.spark.unsafe.types.UTF8String] {
      override def inputTypes(): Array[DataType] = Array(valueType)
      override def resultType(): DataType = StringType
      override def name(): String = s"truncate_$n"
      override def canonicalName(): String =
        s"graft.truncate_$n(${valueType.catalogString})"
      // Nullable + total, like every planner-side graft function: a
      // shuffled probe side may carry NULLs a stored side never can.
      override def isResultNullable: Boolean = true
      override def produceResult(input: InternalRow)
          : org.apache.spark.unsafe.types.UTF8String = {
        if (input.isNullAt(0)) return null
        val seg = valueType match {
          case LongType =>
            val l = input.getLong(0)
            (l - Math.floorMod(l, n.toLong)).toString
          case IntegerType =>
            val l = input.getInt(0).toLong
            (l - Math.floorMod(l, n.toLong)).toString
          case _ =>
            // substringSQL counts CODE POINTS — the
            // same derivation as TruncatePart.segmentValue/SUBSTRING;
            // the old String.substring counted UTF-16 units and could
            // split a surrogate pair into a segment no stored path
            // carries. Also avoids the per-row String copy.
            return input.getUTF8String(0).substringSQL(1, n)
        }
        org.apache.spark.unsafe.types.UTF8String.fromString(seg)
      }
    }
  }
}

object GraftTruncateFunction {
  private val Name = """truncate_(\d+)""".r
  /** loadFunction's pattern face: `truncate_<n>` for any positive n. */
  def forName(name: String): Option[GraftTruncateFunction] = name match {
    case Name(n) if n.toInt > 0 => Some(new GraftTruncateFunction(n.toInt))
    case _ => None
  }
}

object GraftBucketFunction extends UnboundFunction {

  override def name(): String = "bucket"

  override def description(): String =
    "bucket(n, col): murmur3(canonical string of col, seed 42) mod n — " +
      "the graft-table bucket-transform hash (storage-partitioned joins)"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2 &&
        inputType.fields(0).dataType == IntegerType,
      s"bucket: expected (INT numBuckets, value), got $inputType")
    val valueType = inputType.fields(1).dataType
    require(Set[DataType](LongType, IntegerType, StringType)(valueType),
      s"bucket: value must be BIGINT/INT/STRING, got ${valueType.sql}")
    new ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] =
        Array(IntegerType, valueType)
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String =
        s"graft.bucket(${valueType.catalogString})"
      // Nullable for the same shuffled-probe-side reason as the time
      // grains: a stored side never carries NULL bucket values,
      // a shuffled side may.
      override def isResultNullable: Boolean = true
      override def produceResult(input: InternalRow): Integer = {
        if (input.isNullAt(1)) return null
        val n = input.getInt(0)
        val canonical = valueType match {
          case LongType => String.valueOf(input.getLong(1))
          case IntegerType => String.valueOf(input.getInt(1).toLong)
          case _ => input.getUTF8String(1).toString
        }
        Integer.valueOf(graft.operators.PartTransform.bucketOf(canonical, n))
      }
    }
  }
}
