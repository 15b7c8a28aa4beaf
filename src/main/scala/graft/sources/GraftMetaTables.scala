package graft.sources

import graft.operators.VersionedTable
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  LocalScan, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.nio.file.{Files, Path, Paths}

/** METADATA TABLES (r17) — the Iceberg `table$files` idea: every graft
  * table exposes its own protocol state as SELECT-able relations,
  * answered from MANIFESTS ALONE (no data file is ever opened — at
  * 100 TB these queries cost a metadata read, which is the whole
  * point of keeping per-file rows/stats/paths in the commit log):
  *
  *  - `t$history`    — one row per commit: version, committed_ms,
  *                     kind, files_added, files_removed.
  *  - `t$files`      — the live snapshot's file inventory: path,
  *                     bytes, row_count (NULL without ROWS lines),
  *                     stats_min/stats_max (NULL without zonemaps),
  *                     partition (the `c=v/…` path segments, NULL for
  *                     flat files).
  *  - `t$partitions` — per-partition rollup: one STRING column per
  *                     layout column (NULL where a file's own spec
  *                     lacks it — evolution-aware), files,
  *                     row_count (NULL without ROWS lines).
  *  - `t$refs`       — name, type (tag/branch), version.
  *  - `t$specs`      — partition-spec generations (r18): generation,
  *                     spec text (identity/transforms as written, NULL
  *                     for flat), is_live (the write layout).
  *
  * Time travel composes: `SELECT … FROM g.`t$files` VERSION AS OF 3`
  * inventories version 3's snapshot — the catalog resolves the version
  * before the metadata table is built. All four are read-only.
  *
  * SCALE DISPOSITION (r18): the FILE-SIZED tables (`$files`,
  * `$partitions`) are served by a DISTRIBUTED V2 scan — the driver
  * ships O(parallelism) partition stubs and each EXECUTOR resolves the
  * manifest itself and takes a deterministic slice ($files: file-index
  * stride, so the per-file `Files.size` stat calls distribute too;
  * $partitions: partition-tuple hash, so each value tuple is rolled up
  * by exactly one task from its own full-manifest parse). Before r18
  * these materialized one driver-side InternalRow PER FILE at PLAN
  * time — fine at fixture scale, a driver-resident OOM during planning
  * at the 10⁶–10⁷-file tables 100 TB produces (the HistorySource
  * lesson, applied). The genuinely COMMIT-SIZED tables (`$history`,
  * `$refs`, `$stats` — O(versions)/O(refs)/O(columns) rows) stay on
  * the plan-time LocalScan, where a distributed scan would be pure
  * overhead. */
object GraftMetaTables {

  val Kinds: Set[String] =
    Set("history", "files", "partitions", "refs", "stats", "specs")

  def apply(snap: VersionedTable.Snapshot, kind: String): Table =
    new GraftMetaTable(snap, kind)

  private def utf(s: String): UTF8String = UTF8String.fromString(s)

  private[sources] def schemaOf(snap: VersionedTable.Snapshot,
                                kind: String): StructType = kind match {
    case "history" => StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("committed_ms", LongType, nullable = false),
      StructField("kind", StringType, nullable = true),
      StructField("files_added", LongType, nullable = false),
      StructField("files_removed", LongType, nullable = false)))
    case "files" => StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("row_count", LongType, nullable = true),
      StructField("stats_min", LongType, nullable = true),
      StructField("stats_max", LongType, nullable = true),
      StructField("partition", StringType, nullable = true)))
    case "partitions" => StructType(
      // The PHYSICAL layout (r18): hidden transform segments are the
      // DBA's business here — `ts_day` appears as a rollup column in
      // $partitions even though the data schema hides it.
      snap.physicalPartitionLayout.map(c =>
        StructField(c, StringType, nullable = true)) ++ Seq(
        StructField("files", LongType, nullable = false),
        StructField("row_count", LongType, nullable = true)))
    case "refs" => StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("type", StringType, nullable = false),
      StructField("version", LongType, nullable = false)))
    case "stats" => StructType(Seq(
      StructField("column", StringType, nullable = false),
      StructField("ndv", LongType, nullable = true),
      StructField("null_count", LongType, nullable = true),
      StructField("bloom_files", LongType, nullable = false),
      StructField("zonemap_files", LongType, nullable = false)))
    case "specs" => StructType(Seq(
      StructField("generation", LongType, nullable = false),
      StructField("spec", StringType, nullable = true),
      StructField("is_live", BooleanType, nullable = false)))
    case other => throw new IllegalArgumentException(
      s"graft-table: unknown metadata table '$other' — " +
        s"one of ${Kinds.toSeq.sorted.mkString(", ")}")
  }

  private[sources] def rowsOf(snap: VersionedTable.Snapshot,
                              kind: String): Array[InternalRow] = kind match {
    case "history" =>
      val table = snap.table
      VersionedTable.versionTimes(table).filter(_._1 <= snap.version).map {
        case (v, ms) =>
          InternalRow(v, ms,
            VersionedTable.commitKind(table, v).map(utf).orNull,
            VersionedTable.addedFiles(table, v).size.toLong,
            VersionedTable.removedDataFiles(table, v).size.toLong)
      }.toArray
    case "files" | "partitions" => throw new IllegalStateException(
      s"graft-table: '$kind' is served by the distributed scan, " +
        "never materialized on the driver")
    case "refs" =>
      VersionedTable.refs(snap.table).map { case (name, tpe, head) =>
        InternalRow(utf(name), utf(tpe), head)
      }.toArray
    case "stats" =>
      // The column-statistics + skipping-index inventory a DBA asks
      // "is this column ANALYZEd / indexed?" against: ANALYZE NDV/null
      // counts, per-column bloom-indexed file counts, and zonemap
      // coverage (the primary stats column's ranges ride every data
      // line; secondary columns ride STATS lines).
      val ndv = snap.ndvStats
      val bloomBy = snap.entries.collect { case b: VersionedTable.Bloom => b }
        .groupBy(_.col).map { case (c, bs) => c -> bs.size.toLong }
      val zoneBy = snap.secondaryStats
        .groupBy(_._2).map { case (c, zs) => c -> zs.size.toLong } ++
        snap.statsCol.map(_ -> snap.files.size.toLong).toMap
      (ndv.keySet ++ bloomBy.keySet ++ zoneBy.keySet).toSeq.sorted
        .map { c =>
          InternalRow(utf(c),
            ndv.get(c).map(v => java.lang.Long.valueOf(v._1)).orNull,
            ndv.get(c).map(v => java.lang.Long.valueOf(v._2)).orNull,
            bloomBy.getOrElse(c, 0L), zoneBy.getOrElse(c, 0L))
        }.toArray
    case "specs" =>
      // The partition-spec GENERATIONS (r18): identity columns and
      // transforms as written, highest generation = the live write
      // layout. Generation 0 = the implicit pre-evolution layout when
      // the table never evolved. Spec text NULL for a flat generation.
      val gens = snap.partitionSpecs
      val rows =
        if (gens.nonEmpty) gens.map { case (g, cols) =>
          (g, if (cols.isEmpty) null else cols.mkString(","),
            g == gens.last._1)
        }
        else Seq((0L,
          snap.partitionLayout match {
            case Nil => null
            case cols => cols.mkString(",")
          }, true))
      rows.map { case (g, spec, live) =>
        InternalRow(g, Option(spec).map(utf).orNull, live)
      }.toArray
    case other => throw new IllegalArgumentException(
      s"graft-table: unknown metadata table '$other'")
  }

  /** One executor task's slice of the `$files` inventory: files whose
    * manifest index ≡ chunk (mod nChunks) — the manifest is parsed ON
    * the executor (the partition stub carries only coordinates), and
    * the per-file `Files.size` stat calls distribute with the slice. */
  private[sources] def fileRowsChunk(table: Path, version: Long,
      chunk: Int, nChunks: Int): Iterator[InternalRow] = {
    val snap = VersionedTable.snapshot(table, version)
    val hasStats = snap.statsColumns.nonEmpty
    val rows = snap.rowCounts.toMap
    snap.statsManifest.iterator.zipWithIndex
      .collect { case ((f, mn, mx), i) if i % nChunks == chunk =>
        val part = f.split('/').dropRight(1)
          .filter(_.contains('=')).mkString("/")
        InternalRow(utf(f), Files.size(table.resolve(f)),
          rows.get(f).map(java.lang.Long.valueOf).orNull,
          if (hasStats) java.lang.Long.valueOf(mn) else null,
          if (hasStats) java.lang.Long.valueOf(mx) else null,
          if (part.isEmpty) null else utf(part))
      }
  }

  /** One executor task's slice of the `$partitions` rollup: the value
    * TUPLES whose hash ≡ chunk (mod nChunks) — each task parses the
    * full manifest (cheap text work) but rolls up only its own tuples,
    * so every partition row is emitted by exactly one task and nothing
    * file-sized ever crosses the driver. */
  private[sources] def partitionRowsChunk(table: Path, version: Long,
      layout: Seq[String], chunk: Int,
      nChunks: Int): Iterator[InternalRow] = {
    val snap = VersionedTable.snapshot(table, version)
    val rows = snap.rowCounts.toMap
    val hasRows = rows.nonEmpty
    snap.files.iterator
      .map { f =>
        val vals = GraftTableSource.partitionValues(f).toMap
        (layout.map(vals.get), f)
      }
      .filter { case (tuple, _) =>
        java.lang.Math.floorMod(tuple.hashCode, nChunks) == chunk }
      .toSeq.groupBy(_._1).iterator
      .map { case (values, fs) =>
        InternalRow.fromSeq(values.map(_.map(utf).orNull) ++ Seq(
          fs.size.toLong,
          if (hasRows)
            java.lang.Long.valueOf(fs.flatMap(x => rows.get(x._2)).sum)
          else null))
      }
  }
}

private[sources] case class MetaChunkPartition(table: String,
    kind: String, version: Long, layout: Seq[String], chunk: Int,
    nChunks: Int) extends InputPartition

/** The distributed scan behind `$files`/`$partitions`: O(parallelism)
  * partition stubs from the driver, manifest parsing and stat calls on
  * executors — the HistorySource discipline for the snapshot-sized
  * metadata tables. */
private[sources] class GraftMetaBatchScan(table: String, kind: String,
    version: Long, layout: Seq[String], out: StructType)
    extends Scan with Batch {

  override def readSchema(): StructType = out
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val n = math.max(1, math.min(32,
      org.apache.spark.sql.SparkSession.active
        .sparkContext.defaultParallelism))
    Array.tabulate(n)(i =>
      MetaChunkPartition(table, kind, version, layout, i, n))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(
          p: InputPartition): PartitionReader[InternalRow] = {
        val mp = p.asInstanceOf[MetaChunkPartition]
        val it = mp.kind match {
          case "files" => GraftMetaTables.fileRowsChunk(
            Paths.get(mp.table), mp.version, mp.chunk, mp.nChunks)
          case "partitions" => GraftMetaTables.partitionRowsChunk(
            Paths.get(mp.table), mp.version, mp.layout, mp.chunk,
            mp.nChunks)
          case other => throw new IllegalStateException(
            s"graft-table: '$other' is not a distributed metadata table")
        }
        new PartitionReader[InternalRow] {
          private var cur: InternalRow = _
          override def next(): Boolean = {
            val has = it.hasNext
            if (has) cur = it.next()
            has
          }
          override def get(): InternalRow = cur
          override def close(): Unit = ()
        }
      }
    }

  override def description(): String =
    s"graft-meta $table$$$kind@v$version (distributed manifest scan)"
}

private[sources] class GraftMetaTable(snap: VersionedTable.Snapshot,
    kind: String) extends Table with SupportsRead {

  override def name(): String =
    s"${snap.table.getFileName}$$$kind@v${snap.version}"

  override def schema(): StructType = GraftMetaTables.schemaOf(snap, kind)

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = kind match {
        // FILE-SIZED tables go distributed (r18): manifests parse on
        // executors, never materializing per-file rows on the driver.
        case "files" | "partitions" =>
          new GraftMetaBatchScan(snap.table.toString, kind, snap.version,
            snap.physicalPartitionLayout, schema())
        // COMMIT-SIZED tables (O(versions)/O(refs)/O(columns) rows)
        // stay plan-time local — a distributed scan would be overhead.
        case _ => new LocalScan {
          private val out = GraftMetaTables.rowsOf(snap, kind)
          override def readSchema(): StructType = schema()
          override def rows(): Array[InternalRow] = out
          override def description(): String =
            s"graft-meta ${name()} (manifest-only)"
        }
      }
    }
}
