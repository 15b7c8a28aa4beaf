package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.VersionedTable

/** BATCH TABLE READ over a [[graft.operators.VersionedTable]] — the
  * engine's third DataSource V2 connector, and the one that makes the
  * commit protocol a first-class Spark TABLE:
  * `spark.read.format("graft-table").load(root)` plans the latest
  * snapshot; `.option("version", N)` time-travels. What the connector
  * adds over the library API (`VersionedTable.read/readRange`) is that
  * the SAME pruning now flows from ordinary Catalyst predicates:
  *
  *  - FILTER PUSHDOWN → MANIFEST PRUNING
  *    ([[SupportsPushDownFilters]]): range/equality predicates on the
  *    table's stats column (`.option("statsCol", c)` — the column
  *    `commitWithStats` recorded per-file min/max for) prune whole
  *    files at PLANNING time from manifest lines alone; a pruned
  *    file's footer is never opened anywhere. `df.where("c BETWEEN
  *    10 AND 40")` costs O(overlapping files) with no bespoke API —
  *    the user writes vanilla DataFrame code and the commit protocol's
  *    zonemaps do the skipping. Stats prune files, never rows, so
  *    every filter stays residual: Spark re-applies it row-level, and
  *    acceptance here is a planning optimization, never a correctness
  *    dependency (the graft-history discipline).
  *  - MERGE-ON-READ AT SCAN LEVEL: planning decodes each live
  *    deletion vector once on the driver
  *    (`VersionedTable.liveDeletes`, the resolution
  *    `VersionedTable.read` uses too) and the reader factory ships the
  *    key sets once per scan; each input partition is one surviving
  *    data file plus the names of the DVs whose origin-version scope
  *    covers it, and the executor drops the rows whose key those sets
  *    hold as it reads — one pass, no join in the plan, no DV file
  *    opened on an executor. Origin scoping is preserved exactly: a
  *    file appended after a delete is covered by no DV, so re-inserted
  *    keys survive.
  *  - COLUMN PRUNING ([[SupportsPushDownRequiredColumns]]): only
  *    requested fields are materialized (plus, transiently, the DV
  *    key column where a file has live DVs).
  *
  * One [[InputPartition]] per surviving file — the natural parallelism
  * of a manifest, and the pruning witness: `df.rdd.getNumPartitions`
  * IS the files-opened count. Schema-evolved versions (RENAME/WIDEN
  * mappings) are refused loudly — their per-directory schema mapping
  * is a plan-level union, served by `VersionedTable.read`; a scan
  * must not guess. V2 WRITES exist and go THROUGH the protocol, never
  * around it: batch append and the exactly-once streaming sink both
  * stage files on executors and publish via the atomic putIfAbsent
  * commit point (see [[GraftWriteBuilder]]).
  */
class GraftTableSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-table"

  /** The snapshot this load resolved, keyed by the options that pick it.
    * Spark builds a new provider for every `load`/`save` and calls
    * `inferSchema`, then `getTable`: both read this one snapshot, so a
    * commit landing between the two calls cannot pair one version's
    * schema with another version's files. */
  private var resolved: Option[((String, String, String), VersionedTable.Snapshot)] =
    None

  private def snapshot(opts: CaseInsensitiveStringMap): VersionedTable.Snapshot = {
    val key = (opts.get("path"), opts.get("version"), opts.get("ref"))
    resolved.collect { case (k, snap) if k == key => snap }.getOrElse {
      val snap = GraftTableSource.snapshotFor(opts.get("path"),
        GraftTableSource.requestedVersion(opts))
      resolved = Some((key, snap))
      snap
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftTableSource.dataSchema(snapshot(options))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val snap = snapshot(opts)
    // statsCol falls back to the manifest's own STATSCOL declaration —
    // self-describing, so SQL catalog scans (no options) still prune.
    new GraftTable(snap, schema,
      Option(opts.get("statsCol")).orElse(snap.statsCol))
  }
}

object GraftTableSource {
  /** The version the caller's options pin, if any: `version` (a commit
    * id) or `ref` (a named branch/tag — resolved to its head snapshot),
    * mutually exclusive. Absent both, the latest snapshot serves. */
  private[sources] def requestedVersion(
      opts: CaseInsensitiveStringMap): Option[Long] = {
    val ver = Option(opts.get("version")).map(_.toLong)
    val ref = Option(opts.get("ref"))
    require(ver.isEmpty || ref.isEmpty,
      "graft-table: options 'version' and 'ref' are mutually exclusive")
    ref match {
      case Some(r) =>
        val path = opts.get("path")
        Some(VersionedTable.refHead(java.nio.file.Paths.get(path), r)
          .getOrElse(throw new IllegalArgumentException(
            s"graft-table: no ref '$r' at $path"))._2)
      case None => ver
    }
  }

  /** The snapshot a read of `path` serves: the requested version, else
    * the latest one. */
  private[sources] def snapshotFor(path: String,
      requested: Option[Long]): VersionedTable.Snapshot = {
    require(path != null && path.nonEmpty,
      "graft-table: a table root path is required (…load(root))")
    val table = java.nio.file.Paths.get(path)
    snapshotFor(table, requested, VersionedTable.versions(table))
  }

  /** [[snapshotFor]] against an already-listed `history`. */
  private[sources] def snapshotFor(table: java.nio.file.Path,
      requested: Option[Long],
      history: Seq[Long]): VersionedTable.Snapshot = {
    val v = requested match {
      case Some(v) =>
        require(history.contains(v),
          s"graft-table: version $v was never committed at $table")
        v
      case None =>
        history.lastOption.getOrElse(throw new IllegalArgumentException(
          s"graft-table: no committed version at $table"))
    }
    VersionedTable.snapshot(table, v)
  }

  /** Percent-decode a partition path value — %XX ONLY, never the
    * URL-form `+`→space rule: Spark's partitionBy writes literal `+`
    * bytes un-escaped, so URLDecoder would silently corrupt any
    * partition value containing one ("a+b" → "a b"). Literal `+` is
    * shielded before the %XX pass. */
  private[sources] def pctDecode(s: String): String =
    if (!s.contains('%')) s
    else java.net.URLDecoder.decode(s.replace("+", "%2B"), "UTF-8")

  /** Partition `col=value` path segments of one manifest file path,
    * percent-decoded (both partitionBy and the V2 partitioned writer
    * escape path-hostile characters as %XX). */
  private[sources] def partitionValues(file: String): Seq[(String, String)] =
    file.split('/').toSeq.collect {
      case seg if seg.contains('=') =>
        val i = seg.indexOf('=')
        seg.substring(0, i) -> pctDecode(seg.substring(i + 1))
    }

  /** The connector Transform for `truncate(n, col)`: the
    * width-parameterized named form `truncate_<n>(<col>)`, resolvable
    * through the catalog's V2 function family for SPJ. The width must
    * NOT ride as a literal argument — a literal leaf in the transform
    * expression can never satisfy a join distribution
    * (KeyGroupedPartitioning.satisfies0 matches every leaf against
    * the clustering keys; Spark special-cases `bucket` for exactly
    * this reason), so `truncate(50, col)` would silently plan
    * shuffles forever. */
  private[sources] def truncateTransform(n: Int, c: String)
      : org.apache.spark.sql.connector.expressions.Transform =
    org.apache.spark.sql.connector.expressions.Expressions.apply(
      s"truncate_$n",
      org.apache.spark.sql.connector.expressions.Expressions.column(c))

  /** Is `f` a shape a TRANSFORM spec can prune on its raw column?
    * days → the zonemap range shapes; bucket → equality shapes. */
  private[sources] def transformPrunable(
      f: Filter, t: graft.operators.PartTransform): Boolean = t match {
    case _: graft.operators.TimePart => prunable(f, t.rawCol)
    case _: graft.operators.BucketPart => partPrunable(f, Set(t.rawCol))
    // truncate (r20): equality shapes always; an INTEGRAL layout's
    // segment is a value range, so zonemap range shapes prune too
    // (admits parses the segment — string segments stay conservative);
    // a LIKE 'prefix%' probe whose prefix covers the width pins a
    // STRING segment exactly.
    case tp: graft.operators.TruncatePart =>
      partPrunable(f, Set(t.rawCol)) || prunable(f, t.rawCol) ||
        (f match {
          case org.apache.spark.sql.sources.StringStartsWith(c, p) =>
            // Width in CODE POINTS (r21, ADVICE r20) — matching the
            // segment derivation; UTF-16 length could overcount a
            // prefix containing supplementary characters.
            c == t.rawCol && p.codePointCount(0, p.length) >= tp.n
          case _ => false
        })
    case _ => false
  }

  /** Might a file whose DERIVED segment for transform `t` is `segVal`
    * hold a row admitted by `f` (a predicate on the RAW column)?
    * days: the segment's day covers an epoch-micros range — exactly a
    * zonemap, so the zonemap admits logic applies verbatim. bucket:
    * an equality probe hashes to exactly one residue. Conservative on
    * unparseable segments and every other shape. */
  private[sources] def transformAdmits(f: Filter,
      t: graft.operators.PartTransform, segVal: String): Boolean =
    try t match {
      case tt: graft.operators.TimePart =>
        // A time segment IS a zonemap: its [lo, hi] micros range feeds
        // the zonemap admits logic verbatim, whatever the grain.
        val (lo, hi) = tt.microsRange(segVal)
        admits(f, tt.rawCol, lo, hi)
      case graft.operators.BucketPart(n, c) =>
        def ok(x: Any): Boolean = graft.operators.PartTransform
          .bucketOf(graft.operators.PartTransform.canonical(x), n)
          .toString == segVal
        f match {
          case EqualTo(`c`, x) => ok(x)
          case In(`c`, vs) => vs.isEmpty || vs.exists(ok)
          case org.apache.spark.sql.sources.And(l, r) =>
            transformAdmits(l, t, segVal) && transformAdmits(r, t, segVal)
          case _ => true
        }
      case tp @ graft.operators.TruncatePart(_, c) =>
        // Equality shapes map the probe through segmentValue — correct
        // for STRING and INTEGRAL layouts alike (the probe's own type
        // picks the derivation). Range shapes prune only INTEGRAL
        // segments, whose covered range [seg, seg + n - 1] is exactly
        // a zonemap; a string segment (longRange throws) stays
        // conservative there.
        def ok(x: Any): Boolean = tp.segmentValue(x) == segVal
        f match {
          case EqualTo(`c`, x) => ok(x)
          case In(`c`, vs) => vs.isEmpty || vs.exists(ok)
          case org.apache.spark.sql.sources.StringStartsWith(`c`, p)
              if p.codePointCount(0, p.length) >= tp.n =>
            // A probe prefix at least as long as the width (in CODE
            // POINTS, matching the segment derivation — r21) pins the
            // segment exactly.
            graft.operators.PartTransform.truncatePrefix(p, tp.n) == segVal
          case org.apache.spark.sql.sources.And(l, r) =>
            transformAdmits(l, t, segVal) && transformAdmits(r, t, segVal)
          case _ =>
            val (lo, hi) = tp.longRange(segVal)
            admits(f, c, lo, hi)
        }
      case _ => true
    } catch { case scala.util.control.NonFatal(_) => true }

  /** The Spark type a footer field serves (r19): scalar primitives
    * (with TIMESTAMP(MICROS)/DATE logical annotations deciding the
    * datetime flavors — MILLIS/NANOS and INT96 refuse loudly), plus
    * the ONE nested shape the format stores — the writer's standard
    * 3-level list over a primitive element (ARRAY payload). */
  private[sources] def sparkTypeOf(
      f: org.apache.parquet.schema.Type): DataType = {
    def primitive(p: org.apache.parquet.schema.PrimitiveType): DataType =
      p.getPrimitiveTypeName match {
        case INT64 => p.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            require(t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS,
              s"graft-table: unsupported timestamp unit ${t.getUnit} " +
                s"for column ${p.getName} — the format stores MICROS")
            if (t.isAdjustedToUTC) TimestampType else TimestampNTZType
          case _ => LongType
        }
        case INT32
            if p.getLogicalTypeAnnotation ==
              LogicalTypeAnnotation.dateType() => DateType
        case INT32 => IntegerType
        case DOUBLE => DoubleType
        case FLOAT => FloatType
        case BOOLEAN => BooleanType
        case BINARY
            if p.getLogicalTypeAnnotation ==
              LogicalTypeAnnotation.stringType() => StringType
        case other => throw new IllegalArgumentException(
          s"graft-table: unsupported parquet type $other " +
            s"for column ${p.getName}")
      }
    if (f.isPrimitive) primitive(f.asPrimitiveType())
    else {
      val g = f.asGroupType()
      require(g.getLogicalTypeAnnotation ==
          LogicalTypeAnnotation.listType() &&
          g.getFieldCount == 1 && !g.getType(0).isPrimitive &&
          g.getType(0).asGroupType().getFieldCount == 1 &&
          g.getType(0).asGroupType().getType(0).isPrimitive,
        s"graft-table: unsupported nested column ${f.getName}")
      ArrayType(primitive(
        g.getType(0).asGroupType().getType(0).asPrimitiveType()))
    }
  }

  /** Data schema from the snapshot's first data file's parquet footer
    * — one footer read; schema inference must not scan data. Partition
    * columns ride the manifest PATHS, not the payload (partitionBy
    * strips them), and are re-attached as strings — the
    * [[graft.operators.VersionedTable.readPartitions]] contract. */
  private[sources] def dataSchema(snap: VersionedTable.Snapshot): StructType = {
    val table = snap.table
    val first = snap.files.headOption.getOrElse(
      throw new IllegalArgumentException(s"graft-table: version " +
        s"${snap.version} of $table lists no data files"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(table.resolve(first).toString),
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()))
    val msg = try reader.getFileMetaData.getSchema finally reader.close()
    StructType(msg.getFields.asScala.map { f =>
      StructField(f.getName, GraftTableSource.sparkTypeOf(f),
        nullable = true)
    }.toSeq match {
      case dataFields =>
        val names = dataFields.map(_.name).toSet
        val withParts = dataFields ++ snap.partitionCols
          .filterNot(names).map(StructField(_, StringType, nullable = true))
        // ADDCOL/DROPCOL mappings (r16), folded IN COMMIT ORDER:
        // a column added by a metadata-only commit appears in the
        // served schema even though the footer predates it (files
        // lacking it read as typed NULLs; guarded by name — a
        // post-add INSERT's footer may already carry it), and a
        // dropped column vanishes from the served schema while its
        // bytes wait for compaction. Order matters: add q then drop
        // q nets to nothing.
        snap.columnMappings.foldLeft(withParts) {
          case (fields, ("addcol", c, t))
              if !fields.exists(_.name == c) =>
            fields :+ StructField(c,
              org.apache.spark.sql.types.DataType.fromDDL(t),
              nullable = true)
          case (fields, ("dropcol", c, _)) =>
            fields.filterNot(_.name == c)
          case (fields, _) => fields
        } match {
          case mapped =>
            // MV avg partials (r20): an MV declared with `avg(x) AS n`
            // physically stores the served ratio `n` PLUS maintained
            // `n__asum`/`n__acnt` partials (what the refresh folds).
            // The partials are maintenance state, not declared shape —
            // hide them, so SELECT * through the catalog serves
            // exactly what CALL create_mv declared (ADVICE r19).
            val partials = snap.mvAvgFolds
              .filter(f => mapped.exists(_.name == f._1)) // ratio stored
              .flatMap(f => Seq(f._2, f._3)).toSet
            if (partials.isEmpty) mapped
            else mapped.filterNot(f => partials.contains(f.name))
        }
    })
  }

  /** Does a file whose stats-column range is [mn, mx] possibly hold a
    * row admitted by `f`? Conservative: unrecognized shapes admit.
    * Datetime probe values coerce to the units the zonemaps store
    * (r19): epoch MICROS for timestamp columns (NTZ interpreted as
    * UTC — the engine's session-timezone contract), epoch DAYS for
    * dates. Anything unrecognized admits. */
  private[sources] def admits(f: Filter, statsCol: String,
                              mn: Long, mx: Long): Boolean = {
    def lv(x: Any): Option[Long] = x match {
      case n: java.lang.Number => Some(n.longValue)
      case t: java.sql.Timestamp =>
        val inst = t.toInstant
        Some(Math.addExact(Math.multiplyExact(inst.getEpochSecond,
          1000000L), inst.getNano / 1000L))
      case i: java.time.Instant =>
        Some(Math.addExact(Math.multiplyExact(i.getEpochSecond,
          1000000L), i.getNano / 1000L))
      case l: java.time.LocalDateTime =>
        val inst = l.toInstant(java.time.ZoneOffset.UTC)
        Some(Math.addExact(Math.multiplyExact(inst.getEpochSecond,
          1000000L), inst.getNano / 1000L))
      case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
      case d: java.time.LocalDate => Some(d.toEpochDay)
      case _ => None
    }
    f match {
      case EqualTo(c, x) if c == statsCol =>
        lv(x).forall(v => v >= mn && v <= mx)
      case GreaterThan(c, x) if c == statsCol => lv(x).forall(mx > _)
      case GreaterThanOrEqual(c, x) if c == statsCol => lv(x).forall(mx >= _)
      case LessThan(c, x) if c == statsCol => lv(x).forall(mn < _)
      case LessThanOrEqual(c, x) if c == statsCol => lv(x).forall(mn <= _)
      case In(c, vs) if c == statsCol =>
        vs.exists(x => lv(x).forall(v => v >= mn && v <= mx))
      case org.apache.spark.sql.sources.And(l, r) =>
        admits(l, statsCol, mn, mx) && admits(r, statsCol, mn, mx)
      case _ => true
    }
  }

  private[sources] def prunable(f: Filter, statsCol: String): Boolean =
    f match {
      case EqualTo(c, _) => c == statsCol
      case GreaterThan(c, _) => c == statsCol
      case GreaterThanOrEqual(c, _) => c == statsCol
      case LessThan(c, _) => c == statsCol
      case LessThanOrEqual(c, _) => c == statsCol
      case In(c, _) => c == statsCol
      case org.apache.spark.sql.sources.And(l, r) =>
        prunable(l, statsCol) || prunable(r, statsCol)
      case _ => false
    }

  private[sources] def bloomPrunable(f: Filter, cols: Set[String]): Boolean =
    f match {
      case EqualTo(c, _) => cols(c)
      case In(c, _) => cols(c)
      case org.apache.spark.sql.sources.And(l, r) =>
        bloomPrunable(l, cols) || bloomPrunable(r, cols)
      case _ => false
    }

  private[sources] def partPrunable(f: Filter, cols: Set[String]): Boolean =
    f match {
      case EqualTo(c, _) => cols(c)
      case In(c, _) => cols(c)
      case org.apache.spark.sql.sources.And(l, r) =>
        partPrunable(l, cols) || partPrunable(r, cols)
      case _ => false
    }

  /** Might a file whose partition value for `c` is `v` hold a row
    * admitted by `f`? Conservative: non-equality shapes admit. */
  private[sources] def partAdmits(f: Filter, c: String,
                                  v: String): Boolean = f match {
    case EqualTo(`c`, x) => String.valueOf(x) == v
    case In(`c`, vs) => vs.isEmpty || vs.exists(x => String.valueOf(x) == v)
    case org.apache.spark.sql.sources.And(l, r) =>
      partAdmits(l, c, v) && partAdmits(r, c, v)
    case _ => true
  }

  /** Might a file whose bloom bits for `c` are `bits` hold a row
    * admitted by `f`? Conservative: non-equality shapes admit. Probes
    * render via String.valueOf — the writer's CAST(col AS STRING). */
  private[sources] def bloomAdmits(f: Filter, c: String,
                                   bits: Array[Byte]): Boolean = f match {
    case EqualTo(`c`, x) =>
      graft.operators.FileBloom.mightContain(bits, String.valueOf(x))
    case In(`c`, vs) =>
      vs.isEmpty || vs.exists(x =>
        graft.operators.FileBloom.mightContain(bits, String.valueOf(x)))
    case org.apache.spark.sql.sources.And(l, r) =>
      bloomAdmits(l, c, bits) && bloomAdmits(r, c, bits)
    case _ => true
  }

  /** The file set a runtime V2 predicate admits on `_file`, if it is
    * one of the shapes the group-filtering rule produces (IN / =).
    * None = unrecognized → no pruning (safe: the scan then reads, and
    * the row-level commit replaces, every candidate file). */
  /** Parse a runtime predicate of shape `col IN (…)` / `col = v` into
    * (column, admitted values) — the producer is Spark's dynamic
    * pruning machinery (row-level group filtering hands `_file` sets,
    * join-driven DPP hands partition-column value sets). Unparseable
    * shapes return None: an unpruned scan is still correct. */
  private[sources] def colValuePredicateSet(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[(String, Set[String])] = {
    import org.apache.spark.sql.connector.expressions.{Expression, Literal, NamedReference}
    def ref(e: Expression): Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames()(0))
      case _ => None
    }
    def str(e: Expression): Option[String] = e match {
      case l: Literal[_] => Option(l.value).map(_.toString)
      case _ => None
    }
    p.name match {
      case "IN" if p.children().nonEmpty =>
        ref(p.children()(0)).flatMap { c =>
          val vs = p.children().drop(1).map(str)
          if (vs.forall(_.isDefined)) Some(c -> vs.flatten.toSet) else None
        }
      case "=" if p.children().length == 2 =>
        for (c <- ref(p.children()(0)); v <- str(p.children()(1)))
          yield c -> Set(v)
      case _ => None
    }
  }

  private[sources] def filePredicateSet(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[Set[String]] =
    colValuePredicateSet(p).collect { case ("_file", vs) => vs }
}

/** A table version, served from its one [[VersionedTable.Snapshot]]:
  * the scans, the row-level operation and the metadata delete all read
  * the snapshot resolved when the table was loaded. */
private[sources] class GraftTable(snap: graft.operators.VersionedTable.Snapshot,
    schema0: StructType, statsCol: Option[String])
    extends Table
    with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  import graft.operators.VersionedTable

  private val path = snap.table.toString

  /** The table's WRITE partition layout as identity transforms —
    * declared (DDL `PARTITIONED BY`), grown from `commitPartitioned`
    * paths, or the live spec generation after a partition-spec
    * evolution. Reported so SQL surfaces (DESCRIBE, CTAS validation)
    * see it and the V2 write can honor it; the SCAN keeps serving the
    * union of every generation's columns (old files re-attach theirs
    * from their own paths). */
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] =
    snap.writePartitionLayout.map(graft.operators.PartTransform.parse)
      .map {
        case graft.operators.DaysPart(c) =>
          org.apache.spark.sql.connector.expressions.Expressions.days(c)
        case graft.operators.HoursPart(c) =>
          org.apache.spark.sql.connector.expressions.Expressions.hours(c)
        case graft.operators.MonthsPart(c) =>
          org.apache.spark.sql.connector.expressions.Expressions.months(c)
        case graft.operators.YearsPart(c) =>
          org.apache.spark.sql.connector.expressions.Expressions.years(c)
        case graft.operators.BucketPart(n, c) =>
          org.apache.spark.sql.connector.expressions.Expressions
            .bucket(n, c)
        case graft.operators.TruncatePart(n, c) =>
          GraftTableSource.truncateTransform(n, c)
        case t => org.apache.spark.sql.connector.expressions.Expressions
          .identity(t.rawCol)
      }.toArray

  /** `_file` — each row's relative data-file path (the Delta/Iceberg
    * metadata column of the same name): the GROUP identity the
    * row-level runtime filter prunes on, and a lineage/debugging
    * column for ordinary reads (`SELECT _file, * FROM graftcat.t`).
    * Served by the scan from its split, zero cost. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_file"
      override def dataType(): org.apache.spark.sql.types.DataType =
        StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "relative data-file path of the row (its row-level group)"
    })

  /** SQL UPDATE / MERGE / rewrite-shaped DELETE — the group-based
    * copy-on-write path (see [[GraftRowLevelOperation]]); key-shaped
    * DELETEs still optimize back to the metadata DV commit below. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new GraftRowLevelOperationBuilder(snap, schema0, statsCol, info)

  override def name(): String = s"graft-table($path@v${snap.version})"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(snap, statsCol, schema0,
      options.getBoolean("reportStats", true))

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftWriteBuilder(snap, info)

  /** SQL DELETE → MERGE-ON-READ DV COMMIT: `DELETE FROM graftcat.t
    * WHERE key IN (…)` publishes a deletion-vector commit — cost
    * O(deleted keys) whatever the table weighs, never a rewrite (the
    * [[graft.operators.VersionedTable.deleteCommit]] contract, now
    * reachable from plain SQL). Supported predicate shapes: ONE
    * equality or IN on a single column — exactly what a key-list DV
    * can express; anything else refuses via `canDeleteWhere`, so Spark
    * raises the standard cannot-delete error instead of a silent
    * partial delete. Refused on branched tables (version-unaware
    * writer) and when live DVs use a different key column (readers
    * require one DV key per table). */
  private def deleteKeySet(
      filters: Array[Filter]): Option[(String, Seq[Any])] = filters match {
    case Array(EqualTo(c, v)) => Some((c, Seq(v)))
    case Array(In(c, vs)) if vs.nonEmpty => Some((c, vs.toSeq))
    case _ => None
  }

  /** SQL `TRUNCATE TABLE` — the legitimate empty-the-table verb (the
    * row-level path deliberately refuses a DELETE that removes every
    * row): publishes ONE commit replacing the snapshot with a single
    * zero-row file, so the SCHEMA stays self-describing (the DDL
    * bootstrap shape), CHECK constraints, STATSCOL and the DECLARED
    * partition layout carry (r16 — a truncated PARTITIONED BY table
    * keeps landing partitioned inserts; a layout grown only from
    * commitPartitioned paths has no declaration to carry and resets
    * to flat, its columns surviving as payload fields), history
    * stays time-travelable, and the KIND=update stamp lets a change
    * feed replay it as delete-everything preimage rows instead of
    * restarting. */
  override def truncateTable(): Boolean = {
    val spark = org.apache.spark.sql.SparkSession.active
    val table = java.nio.file.Paths.get(path)
    val dd = table.resolve("data").resolve(
      "trunc-" + java.util.UUID.randomUUID().toString.take(8))
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      schema0)
    // Zero rows still write a FOOTER: an INT96-defaulting session
    // would stage a schema every subsequent read refuses — the same
    // commit-time gate as every library write (r20 review).
    VersionedTable.ensureMicrosTimestamps(empty)
    empty.coalesce(1).write.parquet(dd.toString)
    val staged = {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dd)
      try walk.iterator().asScala.filter(p =>
          java.nio.file.Files.isRegularFile(p) &&
            p.toString.endsWith(".parquet"))
        .map(p => table.relativize(p).toString).toSeq.sorted
      finally walk.close()
    }
    VersionedTable.replaceFilesOn(spark, snap, snap.files, staged,
      "graft-table TRUNCATE", truncate = true)
    true
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    deleteKeySet(filters).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val (keyCol, values) = deleteKeySet(filters).getOrElse(
      throw new UnsupportedOperationException(
        "graft-table: DELETE supports one equality or IN predicate on " +
          s"a single column; got [${filters.mkString(", ")}]"))
    // The loaded snapshot, unless a commit landed since the load.
    val base = VersionedTable.latestFrom(snap)
    val existingKeyCols = base.deletionVectors.map(_._2).distinct
    require(existingKeyCols.forall(_ == keyCol),
      s"graft-table: live deletion vectors key on $existingKeyCols — a " +
        s"DELETE keyed on '$keyCol' would poison merge-on-read")
    val field = schema0.fields.find(_.name == keyCol).getOrElse(
      throw new IllegalArgumentException(
        s"graft-table: DELETE column '$keyCol' is not in the schema"))
    def coerce(v: Any): Any = (field.dataType, v) match {
      case (LongType, n: java.lang.Number) => java.lang.Long.valueOf(n.longValue)
      case (IntegerType, n: java.lang.Number) => Integer.valueOf(n.intValue)
      case (StringType, s) => String.valueOf(s)
      case _ => v
    }
    val spark = org.apache.spark.sql.SparkSession.active
    val keys = spark.createDataFrame(
      values.map(v => org.apache.spark.sql.Row(coerce(v))).asJava,
      StructType(Seq(field)))
    VersionedTable.deleteCommit(spark, base, keys, keyCol)
    ()
  }
}

private[sources] sealed trait MetaAggFunc extends Serializable
private[sources] case object MetaCount extends MetaAggFunc
private[sources] case object MetaMin extends MetaAggFunc
private[sources] case object MetaMax extends MetaAggFunc
private[sources] case class MetaAggPlan(groupCols: Seq[String],
    funcs: Seq[MetaAggFunc]) extends Serializable

private[sources] class GraftScanBuilder(
    snap: graft.operators.VersionedTable.Snapshot,
    statsCol: Option[String], schema0: StructType,
    reportStats: Boolean = true)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates {

  private var required: StructType = schema0
  private var pushed: Array[Filter] = Array.empty
  private var metaAgg: Option[MetaAggPlan] = None

  /** Columns with SECONDARY zonemap lines (a z-order's other
    * dimensions) — range predicates on them prune like the primary. */
  private lazy val secondaryStatsCols: Set[String] =
    snap.secondaryStats.map(_._2).toSet

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Filters on the stats column (range) or a bloom-indexed column
    * (equality) are recorded for manifest pruning; EVERYTHING stays
    * residual (skipping indexes prune files, not rows — Spark must
    * re-apply row-level). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val statsPrunable: Filter => Boolean = statsCol match {
      case Some(c) => GraftTableSource.prunable(_, c)
      case None => _ => false
    }
    pushed = filters.filter(f =>
      statsPrunable(f) ||
        secondaryStatsCols.exists(GraftTableSource.prunable(f, _)) ||
        // Equality probes on a bloom-indexed column prune whatever the
        // layout; partition columns prune by path segment alone.
        GraftTableSource.bloomPrunable(f, snap.bloomColumns.toSet) ||
        GraftTableSource.partPrunable(f, snap.partitionCols.toSet) ||
        // Hidden partitioning: a raw-column predicate prunes through
        // the transform that derived the path segments.
        snap.liveTransforms.exists(GraftTableSource.transformPrunable(f, _)))
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** METADATA-ONLY AGGREGATES — the Iceberg-manifest `count(*)` answer:
    * when every aggregate in the query is computable from manifest
    * lines alone (COUNT(*) from ROWS row counts, MIN/MAX of the stats
    * column from its per-file zonemaps, optionally grouped by partition
    * columns riding the manifest paths), the scan serves the FINISHED
    * aggregate rows and no data file is opened anywhere — at 100 TB a
    * row-count dashboard costs one manifest read, not a table scan.
    * COMPLETE pushdown only, and only when metadata is exact: refused
    * whenever a deletion vector lives (counts would overstate), a
    * schema mapping lives (stats could describe a renamed column), any
    * file lacks a ROWS line (counts) or carries the full-range
    * stats-less sentinel (min/max), the stats column is not BIGINT
    * (stats are long casts — exact only for long columns), or any
    * filter is present (our filters stay residual by design, so a
    * filtered aggregate must scan). Refusal means `pushAggregation` =
    * false and Spark plans the ordinary scan+aggregate — pruning
    * optimizations never become correctness dependencies. */
  private def planMetaAgg(agg: Aggregation): Option[MetaAggPlan] = {
    def name(e: Expression): Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames()(0))
      case _ => None
    }
    def longTyped(c: String): Boolean =
      schema0.fields.find(_.name == c).exists(_.dataType == LongType)
    if (pushed.nonEmpty) return None
    if (snap.columnMappings.nonEmpty) return None
    if (snap.deletionVectors.nonEmpty) return None
    val files = snap.statsManifest
    if (files.isEmpty) return None
    val gcols = agg.groupByExpressions.toSeq.map(name)
    if (gcols.exists(_.isEmpty)) return None
    val groupCols = gcols.flatten
    // Every group column must be a partition column present on EVERY
    // file's manifest path — the per-file partition value IS the group.
    if (!groupCols.forall(snap.partitionCols.contains)) return None
    if (!files.forall { case (f, _, _) =>
          val vals = GraftTableSource.partitionValues(f).map(_._1).toSet
          groupCols.forall(vals.contains)
        }) return None
    val rows = snap.rowCounts.toMap
    val exactStats = statsCol.exists(longTyped) && files.forall {
      case (_, mn, mx) => !(mn == Long.MinValue && mx == Long.MaxValue)
    }
    val funcs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar if files.forall(f => rows.contains(f._1)) =>
        Some(MetaCount)
      case m: Min if name(m.column).exists(statsCol.contains) && exactStats =>
        Some(MetaMin)
      case m: Max if name(m.column).exists(statsCol.contains) && exactStats =>
        Some(MetaMax)
      case _ => None
    }
    if (funcs.exists(_.isEmpty)) None
    else Some(MetaAggPlan(groupCols, funcs.flatten))
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    planMetaAgg(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    planMetaAgg(agg) match {
      case Some(p) =>
        metaAgg = Some(p)
        // The scan's output becomes the finished aggregate rows:
        // group columns (strings off the manifest paths) then one
        // BIGINT per aggregate — positional, the complete-pushdown
        // contract.
        required = StructType(
          p.groupCols.map(StructField(_, StringType, nullable = true)) ++
            p.funcs.zipWithIndex.map { case (f, i) =>
              StructField(s"agg_$i" + (f match {
                case MetaCount => "_count"
                case MetaMin => "_min"
                case MetaMax => "_max"
              }), LongType, nullable = true)
            })
        true
      case None => false
    }

  override def build(): Scan =
    new GraftScan(snap, statsCol, schema0, required, pushed, metaAgg,
      reportStats)
}

private[sources] class GraftScan(
    snap: graft.operators.VersionedTable.Snapshot,
    statsCol: Option[String], tableSchema: StructType, required: StructType,
    pushed: Array[Filter],
    metaAgg: Option[MetaAggPlan] = None, reportStats: Boolean = true)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
  import graft.operators.VersionedTable

  private val path = snap.table.toString
  private val version = snap.version

  /** RUNTIME GROUP FILTERING (r15) — the scan accepts a runtime
    * IN-predicate on `_file` and narrows its planned files to exactly
    * that set. Spark's `RowLevelOperationRuntimeGroupFiltering` is the
    * producer: for UPDATE/DELETE/MERGE it runs a matching-rows
    * subquery (target ⋉ condition, DISTINCT `_file`) and hands the
    * result here, so the copy-on-write rewrite touches ONLY files that
    * actually contain affected rows — beyond what static zonemaps can
    * prove, and the difference between rewriting a 100 TB table and
    * rewriting the matched fraction on every MERGE. Unparseable
    * predicate shapes are ignored: an unpruned scan is still correct
    * (the commit then replaces exactly what was scanned). */
  @volatile private var runtimeFiles: Option[Set[String]] = None

  /** Runtime-filterable columns — only ones RESOLVABLE in this scan's
    * output (Spark's PartitionPruning resolves these against the
    * relation and fails hard on a miss): `_file` when the scan serves
    * it (row-level operation scans request it as a metadata column),
    * plus any partition column in the output (lets join-driven dynamic
    * partition pruning hand us value sets). */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val names = required.fieldNames.toSet
    val parts = snap.partitionLayout.filter(names.contains)
    // Hidden partitioning (r18): the RAW column of a transform spec is
    // runtime-filterable too — join-driven DPP hands a value set on
    // `ts_us` and the scan prunes files by the DERIVED day/bucket
    // segments each value maps to (a date-dim join prunes the fact
    // scan with no layout column in the query).
    val raws = snap.liveTransforms.map(_.rawCol).filter(names.contains)
    ((if (names.contains("_file")) Seq("_file") else Nil) ++ parts ++
      raws).distinct
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray
  }

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Unit = {
    val partCols = snap.partitionLayout.toSet
    val transformsByRaw = snap.liveTransforms.groupBy(_.rawCol)
    val allFiles = snap.files
    val sets = predicates.flatMap { p =>
      GraftTableSource.colValuePredicateSet(p).flatMap {
        case ("_file", vs) => Some(vs)
        // Join-driven DPP on a partition column: admit files whose
        // path segment carries an admitted value; files WITHOUT the
        // segment (the flat bootstrap) are never pruned — their rows
        // may hold anything, so only the path is evidence.
        case (c, vs) if partCols.contains(c) =>
          Some(allFiles
            .filter(f => GraftTableSource.partitionValues(f).toMap
              .get(c).forall(vs.contains)).toSet)
        // Runtime value set on a transform's RAW column (r18): map
        // each value through the transform and admit files whose
        // DERIVED segment is among the mapped values; unparseable
        // values admit everything (an unpruned scan is still correct).
        case (c, vs) if transformsByRaw.contains(c) =>
          try {
            val admittedByT: Map[String, Set[String]] =
              transformsByRaw(c).map { t =>
                t.derivedName -> vs.map(v => t.segmentValue(v))
              }.toMap
            Some(allFiles.filter { f =>
              val segs = GraftTableSource.partitionValues(f).toMap
              admittedByT.forall { case (seg, admitted) =>
                segs.get(seg).forall(admitted.contains)
              }
            }.toSet)
          } catch { case scala.util.control.NonFatal(_) => None }
        case _ => None
      }
    }
    sets.reduceOption(_ intersect _).foreach(s => runtimeFiles = Some(s))
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** STORAGE-PARTITIONED JOIN (r18) — `SupportsReportPartitioning`:
    * when every surviving file carries EVERY layout column on its path
    * (one consistent identity spec — no flat bootstrap, no mid-
    * evolution rags), the scan reports [[KeyGroupedPartitioning]] over
    * the layout columns and each input partition exposes its
    * path-borne value tuple as the partition key. With
    * `spark.sql.sources.v2.bucketing.enabled`, Spark then groups
    * same-key files into one task and plans a join of two tables
    * partitioned on the same key with ZERO Exchange below the join —
    * the V2 sibling of session-catalog bucketing (Iceberg's flagship
    * join optimization). At 100 TB this is the difference between a
    * metadata-only co-located fact-fact join and shuffling both sides
    * on every join. Mixed-spec / partially-partitioned snapshots
    * report unknown partitioning — pruning optimizations never become
    * correctness dependencies, and Spark falls back to the ordinary
    * shuffle plan. Metadata-answered aggregates serve one finished
    * partition and report likewise.
    *
    * OPT-IN by `spark.graft.planning.preserveDataGrouping=true`
    * (Iceberg's preserve-data-grouping conf, same reasoning): once a
    * scan REPORTS KeyGroupedPartitioning, Spark must GROUP same-key
    * files into one task to make the report true — which caps a plain
    * scan's parallelism at the distinct-key count (catastrophic for a
    * SELECT over a 1000-files-per-day table) and is only a win when a
    * join/aggregation actually exploits the clustering. The session
    * opting in is the one planning the join. The decision is
    * snapshotted per scan so planning-time reports and execution-time
    * partition keys can never disagree mid-query. */
  private lazy val spjSpecs: Option[Seq[graft.operators.PartTransform]] =
    keySpecs()

  private def keySpecs(): Option[Seq[graft.operators.PartTransform]] = {
    if (metaAgg.isDefined) return None
    val optIn = try org.apache.spark.sql.SparkSession.active.conf
      .get("spark.graft.planning.preserveDataGrouping", "false") == "true"
    catch { case scala.util.control.NonFatal(_) => false }
    if (!optIn) return None
    // The key set is the physical clustering every live file exhibits:
    // the live WRITE spec on an evolved table (identity, bucket and —
    // r19 — time-grain transforms; transform keys resolve through the
    // catalog's V2 functions), the identity layout otherwise. Time
    // grains report `days(ts_us)` etc. exactly like Iceberg's
    // day-partitioned layouts: rows equal on the raw column share a
    // segment by construction, so a raw-column equi-join co-locates.
    val specs: Seq[graft.operators.PartTransform] =
      if (snap.partitionSpecs.nonEmpty)
        snap.writePartitionLayout.map(graft.operators.PartTransform.parse)
      else snap.partitionLayout.map(graft.operators.IdentityPart(_))
    if (specs.isEmpty) return None
    val live = livePrunedFiles()
    if (live.isEmpty) return None
    val names = specs.map(_.derivedName)
    val ok = live.forall { case (f, _, _) =>
      val cols = GraftTableSource.partitionValues(f).map(_._1).toSet
      names.forall(cols.contains)
    }
    if (ok) Some(specs) else None
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, UnknownPartitioning}
    try spjSpecs match {
      case Some(specs) =>
        val names = specs.map(_.derivedName)
        val groups = livePrunedFiles().map { case (f, _, _) =>
          val vals = GraftTableSource.partitionValues(f).toMap
          names.map(vals)
        }.distinct.size
        val keys = specs.map {
          case graft.operators.BucketPart(n, c) =>
            org.apache.spark.sql.connector.expressions.Expressions
              .bucket(n, c): Expression
          case graft.operators.YearsPart(c) =>
            org.apache.spark.sql.connector.expressions.Expressions
              .years(c): Expression
          case graft.operators.MonthsPart(c) =>
            org.apache.spark.sql.connector.expressions.Expressions
              .months(c): Expression
          case graft.operators.DaysPart(c) =>
            org.apache.spark.sql.connector.expressions.Expressions
              .days(c): Expression
          case graft.operators.HoursPart(c) =>
            org.apache.spark.sql.connector.expressions.Expressions
              .hours(c): Expression
          case graft.operators.TruncatePart(n, c) =>
            GraftTableSource.truncateTransform(n, c): Expression
          case t =>
            org.apache.spark.sql.connector.expressions.Expressions
              .identity(t.rawCol): Expression
        }
        new KeyGroupedPartitioning(keys.toArray, groups)
      case None => new UnknownPartitioning(0)
    } catch {
      // A version this scan would refuse at planning (mappings, empty
      // manifest) must not fail optimization with a worse error.
      case scala.util.control.NonFatal(_) => new UnknownPartitioning(0)
    }
  }

  /** The manifest pruning both planning and stats estimation run: a
    * file survives only if every pushed filter admits its zonemap
    * [min, max] (stats-less lines carry the full range — never
    * skippable, always correct), every pushed equality admits its
    * bloom bits (files without a bloom line for the probed column
    * always admit), every partition path segment is admitted, and any
    * runtime file set contains it. */
  private def livePrunedFiles(): Seq[(String, Long, Long)] = {
    val all = snap.statsManifest
    require(all.nonEmpty,
      s"graft-table: version $version of $path lists no data files")
    // Bloom bits decode only when a pushed filter can prune on them.
    val bloomCols = snap.bloomColumns
      .filter(c => pushed.exists(GraftTableSource.bloomPrunable(_, Set(c))))
    val bloomsByFile: Map[(String, String), Array[Byte]] =
      if (bloomCols.isEmpty) Map.empty
      else snap.blooms.map { case (f, c, bits) => (f, c) -> bits }.toMap
    // Secondary zonemaps (a z-order's other dimensions) prune exactly
    // like the primary data-line stats.
    val secondary: Map[(String, String), (Long, Long)] =
      snap.secondaryStats.map { case (f, c, mn, mx) => (f, c) -> (mn, mx) }
        .toMap
    val secondaryCols = secondary.keysIterator.map(_._2).toSet
    // Hidden partitioning: raw-column predicates prune each file by
    // its derived path segments — files WITHOUT a transform's segment
    // (older generations, flat bootstraps) always admit.
    val transforms = snap.liveTransforms
    all.filter { case (f, mn, mx) =>
      runtimeFiles.forall(_.contains(f)) &&
      statsCol.forall(c =>
        pushed.forall(GraftTableSource.admits(_, c, mn, mx))) &&
        secondaryCols.forall(c => secondary.get((f, c)).forall {
          case (smn, smx) =>
            pushed.forall(GraftTableSource.admits(_, c, smn, smx))
        }) &&
        bloomCols.forall(c => bloomsByFile.get((f, c)).forall(bits =>
          pushed.forall(GraftTableSource.bloomAdmits(_, c, bits)))) &&
        GraftTableSource.partitionValues(f).forall { case (c, v) =>
          pushed.forall(GraftTableSource.partAdmits(_, c, v))
        } && {
          lazy val segs = GraftTableSource.partitionValues(f).toMap
          transforms.forall(t => segs.get(t.derivedName).forall(v =>
            pushed.forall(GraftTableSource.transformAdmits(_, t, v))))
        }
    }
  }

  /** MANIFEST-DRIVEN STATISTICS (r17) — `SupportsReportStatistics`:
    * the scan reports sizeInBytes (sum of surviving files' on-disk
    * bytes × `spark.sql.sources.fileCompressionFactor`, the FileScan
    * convention) and numRows (sum of surviving files' ROWS lines, when
    * every survivor has one) to Catalyst, POST-pruning — a filtered
    * scan prices the surviving-file subset, not the table. This is
    * what lets a join over two graft catalog tables broadcast-decide
    * from metadata: without it every V2 relation weighs
    * `spark.sql.defaultSizeInBytes` (Long.MaxValue) and the planner
    * can never choose a broadcast join no matter how small the dim
    * side actually is — at 100 TB, the difference between a metadata
    * decision and a mandatory shuffle of the fact table. Withhold via
    * `.option("reportStats", "false")` (diagnostics/witnesses). DV'd
    * rows still count (an estimate must be cheap and an upper bound is
    * the safe direction for broadcast decisions); estimation never
    * throws — a version this scan would refuse at planning reports
    * unknown instead of failing optimization with a worse error. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    import java.util.OptionalLong
    val unknown = new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.empty()
      override def numRows(): OptionalLong = OptionalLong.empty()
    }
    if (!reportStats) return unknown
    try {
      val table = snap.table
      metaAgg match {
        case Some(plan) =>
          // The scan's output IS the finished aggregate rows.
          val n = metaAggRows(plan).length.toLong
          return new org.apache.spark.sql.connector.read.Statistics {
            override def sizeInBytes(): OptionalLong =
              OptionalLong.of(math.max(1L, n * 32L * required.size))
            override def numRows(): OptionalLong = OptionalLong.of(n)
          }
        case None => ()
      }
      val live = livePrunedFiles()
      val bytes = live.map { case (f, _, _) =>
        try java.nio.file.Files.size(table.resolve(f))
        catch { case scala.util.control.NonFatal(_) => 0L }
      }.sum
      val factor = try org.apache.spark.sql.SparkSession.active
        .sessionState.conf.fileCompressionFactor
      catch { case scala.util.control.NonFatal(_) => 1.0 }
      val rows = snap.rowCounts.toMap
      val nRows: OptionalLong =
        if (live.forall(f => rows.contains(f._1)))
          OptionalLong.of(live.map(f => rows(f._1)).sum)
        else OptionalLong.empty()
      // COLUMN statistics (r17): ANALYZE-published NDV/null counts for
      // the columns this scan outputs — what a cost-based optimizer
      // sizes join OUTPUTS with. Advisory (appends drift them), which
      // is the contract every engine's ANALYZE has. Since r18 the
      // GLOBAL min/max of every zonemapped BIGINT column folds in from
      // the surviving files' per-file ranges at ZERO extra cost (the
      // manifest is already resolved) — CBO join-selectivity and range-
      // filter estimates get real bounds, not guesses. Survivor-folded,
      // so a pruned scan reports the pruned range; full-range
      // stats-less sentinels poison nothing (skipped).
      val colStats: java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
        val m = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        val ndv = snap.ndvStats
        def longTyped(c: String): Boolean =
          required.fields.find(_.name == c).exists(_.dataType == LongType)
        val ranges: Map[String, (Long, Long)] = {
          val primary = statsCol.filter(longTyped).flatMap { c =>
            val real = live.filterNot { case (_, mn, mx) =>
              mn == Long.MinValue && mx == Long.MaxValue }
            if (real.isEmpty) None
            else Some(c -> (real.map(_._2).min, real.map(_._3).max))
          }
          val liveSet = live.map(_._1).toSet
          val secondary = snap.secondaryStats
            .filter { case (f, c, _, _) => liveSet(f) && longTyped(c) }
            .groupBy(_._2).map { case (c, zs) =>
              c -> (zs.map(_._3).min, zs.map(_._4).max)
            }
          (primary.toMap ++ secondary)
        }
        required.fieldNames.foreach { c =>
          val nd = ndv.get(c)
          val rg = ranges.get(c)
          if (nd.isDefined || rg.isDefined)
            m.put(org.apache.spark.sql.connector.expressions.Expressions
                .column(c),
              new org.apache.spark.sql.connector.read.colstats
                .ColumnStatistics {
                override def distinctCount(): OptionalLong =
                  nd.fold(OptionalLong.empty())(v => OptionalLong.of(v._1))
                override def nullCount(): OptionalLong =
                  nd.fold(OptionalLong.empty())(v => OptionalLong.of(v._2))
                override def min(): java.util.Optional[Object] =
                  rg.fold(java.util.Optional.empty[Object]())(r =>
                    java.util.Optional.of(java.lang.Long.valueOf(r._1)))
                override def max(): java.util.Optional[Object] =
                  rg.fold(java.util.Optional.empty[Object]())(r =>
                    java.util.Optional.of(java.lang.Long.valueOf(r._2)))
              })
        }
        m
      }
      new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): OptionalLong =
          OptionalLong.of(math.max(1L, (bytes * factor).toLong))
        override def numRows(): OptionalLong = nRows
        override def columnStats(): java.util.Map[
            org.apache.spark.sql.connector.expressions.NamedReference,
            org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
          colStats
      }
    } catch { case scala.util.control.NonFatal(_) => unknown }
  }

  /** The finished aggregate rows, computed at PLANNING time from the
    * manifest alone — group values are partition-path strings, agg
    * values fold per-file ROWS counts / zonemap bounds. One partition,
    * zero data files opened (the whole point). */
  private def metaAggRows(plan: MetaAggPlan): Array[Array[Any]] = {
    val rows = snap.rowCounts.toMap
    snap.statsManifest.groupBy { case (f, _, _) =>
      val vals = GraftTableSource.partitionValues(f).toMap
      plan.groupCols.map(vals(_))
    }.toSeq.sortBy(_._1.mkString("\u0001"))
      .map { case (groupVals, fs) =>
        (groupVals ++ plan.funcs.map {
          case MetaCount => fs.map(f => rows(f._1)).sum
          case MetaMin => fs.map(_._2).min
          case MetaMax => fs.map(_._3).max
        }).toArray[Any]
      }.toArray
  }

  override def planInputPartitions(): Array[InputPartition] = {
    metaAgg match {
      case Some(plan) =>
        return Array(MetaAggPartition(metaAggRows(plan)))
      case None => ()
    }
    // Schema-evolved versions carry a per-directory mapping the scan
    // must not guess at — refuse with the working alternative. ADDCOL
    // mappings (r16) are the exception the reader CAN serve exactly:
    // a requested column missing from a file's footer reads as a
    // typed NULL, which is precisely the add-column contract — so SQL
    // keeps working the moment the ALTER commits. Rename/widen still
    // wait for the compaction that materializes them, and an ADDCOL
    // never coexists with live deletion vectors keyed on it (guarded
    // below like VersionedTable.read's rule).
    val maps = snap.columnMappings
    require(maps.forall(m => m._1 == "addcol" || m._1 == "dropcol"),
      s"graft-table: version $version of $path carries schema-evolution " +
        "mappings (RENAME/WIDEN) — read it via VersionedTable.read, or " +
        "compact first")
    require(maps.isEmpty || snap.deletionVectors.isEmpty,
      s"graft-table: version $version of $path carries both deletion " +
        "vectors and schema mappings — compact before combining the two")
    val live = livePrunedFiles()
    // Merge-on-read: each file names the DVs whose origin-version
    // scope covers it (a file appended after a delete is covered by
    // none); the decoded keys ride in the reader factory, once.
    val covering = deletes.fold(Map.empty[String, Seq[String]])(_.covering)
    // Ordered key tuples for storage-partitioned joins: attached only
    // when the snapshot reports KeyGroupedPartitioning (every file
    // carries every key segment) — Spark groups same-key files into
    // one task and the join co-locates with no Exchange. Bucket keys
    // are INTs (the transform's result type); identity keys strings.
    live.map { case (f, _, _) =>
      val vals = GraftTableSource.partitionValues(f)
      GraftTablePartition(path, f, covering.getOrElse(f, Nil), vals,
        spjSpecs.map { specs =>
          val m = vals.toMap
          specs.map(t => m(t.derivedName)).toArray
        }.orNull,
        spjSpecs.map(_.map(
          _.isInstanceOf[graft.operators.BucketPart]).toArray).orNull)
        : InputPartition
    }.toArray
  }

  /** This version's live deletion vectors, decoded once per scan on
    * the driver over every data file of the version, so runtime file
    * filtering after planning can only narrow what it covers. */
  private lazy val deletes: Option[VersionedTable.LiveDeletes] =
    VersionedTable.liveDeletes(snap, snap.files, tableSchema(_).dataType)

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftTableReaderFactory(required, GraftSession.hadoopConf(),
      deletes.map(d => d.copy(covering = Map.empty)),
      // Only ADDCOL-introduced columns may legitimately be absent from
      // a file's footer (files predating the add) — the same gate the
      // change-feed reader applies. Any OTHER missing field is a real
      // schema mismatch (manifest corruption, a foreign file) and must
      // stay a loud failure, never a silent all-NULL column.
      snap.columnMappings.collect { case ("addcol", c, _) => c }.toSet)

  override def description(): String =
    s"graft-table path=$path version=$version " +
      s"columns=[${required.fieldNames.mkString(",")}] " +
      s"pushed=[${pushed.mkString(",")}]" +
      metaAgg.fold("")(p =>
        s" aggPushed=[groupBy=${p.groupCols.mkString(",")} " +
          s"funcs=${p.funcs.mkString(",")}]")
}

/** `keyVals` (r18): this file's partition-value tuple in key order —
  * non-null exactly when the scan reports KeyGroupedPartitioning, so
  * Spark's v2-bucketing machinery can group same-key files into one
  * task and co-locate joins. `keyIsBucket` marks INT bucket keys (a
  * bucket transform's result type); identity keys are strings. */
private[sources] case class GraftTablePartition(path: String, file: String,
    dvFiles: Seq[String],
    partValues: Seq[(String, String)] = Nil,
    keyVals: Array[String] = null,
    keyIsBucket: Array[Boolean] = null) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    InternalRow.fromSeq(keyVals.toIndexedSeq.zipWithIndex.map {
      case (v, i) if keyIsBucket != null && keyIsBucket(i) => v.toInt
      case (v, _) => UTF8String.fromString(v)
    })
}

/** The single partition of a metadata-answered aggregate: the finished
  * rows themselves (strings for group columns, longs for aggregates) —
  * nothing on the executor but a replay. */
private[sources] case class MetaAggPartition(rows: Array[Array[Any]])
    extends InputPartition

/** `deletes` carries the scan's decoded deletion-vector keys (without
  * the planning-only file coverage), shipped with the factory rather
  * than copied into every split; `hadoopConf` is the session's
  * broadcast Hadoop configuration. */
private[sources] class GraftTableReaderFactory(schema: StructType,
    hadoopConf: org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.SerializableConfiguration],
    deletes: Option[graft.operators.VersionedTable.LiveDeletes],
    nullableMissing: Set[String] = Set.empty)
    extends PartitionReaderFactory {
  import graft.operators.VersionedTable

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    p match {
      case MetaAggPartition(rows) =>
        // Finished aggregate rows computed at planning time — convert
        // to InternalRow per the (string group cols, long aggs) schema.
        return new PartitionReader[InternalRow] {
          private var i = -1
          override def next(): Boolean = { i += 1; i < rows.length }
          override def get(): InternalRow =
            InternalRow.fromSeq(rows(i).toIndexedSeq.map {
              case s: String => UTF8String.fromString(s)
              case other => other
            })
          override def close(): Unit = ()
        }
      case _ => ()
    }
    val gp = p.asInstanceOf[GraftTablePartition]
    // The executor's share of merge-on-read: a lookup in the keys the
    // driver decoded for this file's covering DVs, compared in the
    // key column's type (no DV file is opened here).
    val dead: Set[Any] = deletes.fold(Set.empty[Any])(_.keysOf(gp.dvFiles))
    val (keyCol, keyType) =
      deletes.fold(("", NullType: DataType))(d => (d.keyCol, d.keyType))

    new PartitionReader[InternalRow] {
      private val reader = ParquetReader.builder[Group](new GroupReadSupport(),
        new org.apache.hadoop.fs.Path(
          java.nio.file.Paths.get(gp.path).resolve(gp.file).toString))
        .withConf(hadoopConf.value.value)
        .build()
      private var cur: Group = _
      override def next(): Boolean = {
        cur = reader.read()
        // Skip rows a covering deletion vector killed.
        while (cur != null && dead.nonEmpty && {
          val i = cur.getType.getFieldIndex(keyCol)
          cur.getFieldRepetitionCount(i) > 0 &&
            dead.contains(VersionedTable.groupValue(cur, i, keyType))
        }) cur = reader.read()
        cur != null
      }
      // Partition columns are constants of this split, served from the
      // manifest path — the file payload never contains them. `_file`
      // (the metadata column) is likewise a split constant.
      private val partConst: Map[String, UTF8String] =
        gp.partValues.map { case (c, v) => c -> UTF8String.fromString(v) }
          .toMap + ("_file" -> UTF8String.fromString(gp.file))

      override def get(): InternalRow = {
        val vals = schema.fields.map { f =>
          if (partConst.contains(f.name)) partConst(f.name)
          // A column ADDED after this file was written (ADDCOL
          // mapping) is absent from the footer — serve the typed NULL
          // the add-column contract promises for legacy rows. ONLY
          // for those names: any other missing field falls through to
          // getFieldIndex's loud failure (a genuinely mismatched or
          // foreign file must never read as an all-NULL column).
          else if (!cur.getType.containsField(f.name) &&
              nullableMissing.contains(f.name)) null
          else {
            val i = cur.getType.getFieldIndex(f.name)
            if (cur.getFieldRepetitionCount(i) == 0) null
            else VersionedTable.groupValue(cur, i, f.dataType)
          }
        }
        InternalRow.fromSeq(vals.toIndexedSeq)
      }
      override def close(): Unit = reader.close()
    }
  }
}
