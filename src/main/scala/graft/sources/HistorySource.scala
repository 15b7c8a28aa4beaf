package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The engine's own DataSource V2 connector: the commit HISTORY of a
  * [[graft.operators.VersionedTable]] served as a queryable table —
  * `spark.read.format("graft-history").load(tableRoot)` yields one row
  * per (version, manifest line): the version, the listed file, and its
  * min/max clustering stats (full-range for stats-less lines). This is
  * the metadata-table idea every production format ships (DESCRIBE
  * HISTORY / the `history()` API): the commit log is itself data, so
  * retention auditing, change accounting and skipping diagnostics are
  * ordinary SQL instead of bespoke tooling.
  *
  * The full V2 read stack, deliberately exercised end to end:
  *  - [[TableProvider]] + [[DataSourceRegister]] (short name, schema
  *    inference = the fixed history schema);
  *  - one [[InputPartition]] PER VERSION — the natural parallelism of
  *    a commit log (each manifest is independent; a 10⁶-commit table
  *    scans its metadata distributed, never through the driver);
  *  - COLUMN PRUNING pushed into the reader
  *    ([[SupportsPushDownRequiredColumns]]): a `count(*)`-style query
  *    materializes no strings at all — the same contract the parquet
  *    scan honors for data files, honored here for metadata.
  *
  * Read-only by design: WRITES go through the commit protocol
  * (`commit`/`appendCommit`/`transact` — the putIfAbsent publish is
  * the whole point; a blind V2 write path would bypass it).
  *
  * Executors parse manifests themselves (the partition carries only
  * (root, version)), so nothing data-sized crosses the driver: the
  * driver ships O(versions) partition stubs, each executor resolves
  * one version's manifest — that may walk a DELTA chain
  * (`BASE` pointers), bounded by the writers' checkpoint cadence, so
  * per-partition work stays O(live files + checkpointEvery reads).
  */
class HistorySource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-history"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    HistorySource.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new HistoryTable(properties.get("path"))
}

object HistorySource {
  /** One row per manifest line; stats-less lines surface the full
    * (Long.Min, Long.Max) range — never skippable, always correct
    * (the statsManifest contract). */
  val schema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("file", StringType, nullable = false),
    StructField("mn", LongType, nullable = false),
    StructField("mx", LongType, nullable = false)))
}

private[sources] class HistoryTable(path: String) extends Table with SupportsRead {
  require(path != null && path.nonEmpty,
    "graft-history: a table root path is required (…load(root))")

  override def name(): String = s"graft-history($path)"
  override def schema(): StructType = HistorySource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new HistoryScanBuilder(path)
}

private[sources] class HistoryScanBuilder(path: String)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var required: StructType = HistorySource.schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    // Spark hands back a subset of our schema in our field order; an
    // empty struct (count(*)) is legal and yields zero-width rows.
    required = requiredSchema

  /** `version` predicates prune whole INPUT PARTITIONS (one manifest
    * per version never opens) — the connector's analogue of partition
    * pruning: `history.where("version = N")` costs one manifest read
    * regardless of history length. Everything else stays residual:
    * Spark re-applies pushed filters anyway, so acceptance here is a
    * planning optimization, never a correctness dependency. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, residual) =
      filters.partition(HistoryScanBuilder.versionPrunable)
    pushed = sup
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new HistoryScan(path, required, pushed)
}

private[sources] object HistoryScanBuilder {

  def versionPrunable(f: Filter): Boolean = f match {
    case EqualTo("version", _: java.lang.Number) => true
    case GreaterThan("version", _: java.lang.Number) => true
    case GreaterThanOrEqual("version", _: java.lang.Number) => true
    case LessThan("version", _: java.lang.Number) => true
    case LessThanOrEqual("version", _: java.lang.Number) => true
    case In("version", vs) => vs.forall(_.isInstanceOf[java.lang.Number])
    case _ => false
  }

  def admits(f: Filter, v: Long): Boolean = f match {
    case EqualTo("version", x: java.lang.Number) => v == x.longValue
    case GreaterThan("version", x: java.lang.Number) => v > x.longValue
    case GreaterThanOrEqual("version", x: java.lang.Number) => v >= x.longValue
    case LessThan("version", x: java.lang.Number) => v < x.longValue
    case LessThanOrEqual("version", x: java.lang.Number) => v <= x.longValue
    case In("version", vs) =>
      vs.exists { case x: java.lang.Number => v == x.longValue; case _ => false }
    case _ => true
  }
}

private[sources] class HistoryScan(path: String, required: StructType,
                                   pushed: Array[Filter])
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    // Version list is tiny (one dir listing); the manifests themselves
    // are parsed on executors. Pushed version predicates prune here —
    // pruned versions' manifests are never opened anywhere.
    val versions =
      graft.operators.VersionedTable.versions(java.nio.file.Paths.get(path))
        .filter(v => pushed.forall(HistoryScanBuilder.admits(_, v)))
    versions.map(v => HistoryPartition(path, v): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new HistoryReaderFactory(required.fieldNames)

  override def description(): String =
    s"graft-history path=$path columns=[${required.fieldNames.mkString(",")}]" +
      s" pushed=[${pushed.mkString(",")}]"
}

private[sources] case class HistoryPartition(path: String, version: Long)
    extends InputPartition

private[sources] class HistoryReaderFactory(columns: Array[String])
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val hp = p.asInstanceOf[HistoryPartition]
    new PartitionReader[InternalRow] {
      private val lines = graft.operators.VersionedTable
        .statsManifest(java.nio.file.Paths.get(hp.path), hp.version).iterator
      private var cur: (String, Long, Long) = _
      override def next(): Boolean = {
        val has = lines.hasNext
        if (has) cur = lines.next()
        has
      }
      override def get(): InternalRow = {
        // Only the pruned columns are materialized — `file`'s UTF8
        // conversion is skipped entirely unless asked for.
        val vals = columns.map {
          case "version" => hp.version
          case "file" => UTF8String.fromString(cur._1)
          case "mn" => cur._2
          case "mx" => cur._3
        }
        InternalRow.fromSeq(vals.toSeq)
      }
      override def close(): Unit = ()
    }
  }
}
