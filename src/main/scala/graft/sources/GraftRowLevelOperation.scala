package graft.sources

import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.VersionedTable

/** SQL `UPDATE` / `MERGE INTO` / rewrite-shaped `DELETE` over a
  * versioned table — the GROUP-BASED copy-on-write row-level operation
  * (Spark's `SupportsRowLevelOperations` stack, the Iceberg
  * copy-on-write shape), so the statements every SQL user writes first
  * run against the commit protocol with no library calls:
  *
  * {{{
  *   UPDATE graftcat.docs SET n_chars = n_chars + 1 WHERE doc_id < 10
  *   MERGE INTO graftcat.docs t USING updates u ON t.doc_id = u.doc_id
  *     WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
  *   DELETE FROM graftcat.docs WHERE n_chars % 2 = 0   -- non-key shape
  * }}}
  *
  * How the pieces line up with the protocol:
  *
  *  - GROUPS ARE FILES. The operation's scan is the table's ordinary
  *    [[GraftScanBuilder]] — Spark's
  *    `GroupBasedRowLevelOperationScanPlanning` pushes the statement's
  *    condition into it, so the same manifest pruning every read gets
  *    (zonemaps, blooms) narrows WHICH files the statement rewrites at
  *    plan time: `UPDATE … WHERE doc_id BETWEEN 10 AND 40` on a
  *    stats-bearing table rewrites only the overlapping files — the
  *    [[graft.operators.VersionedTable.updateWhere]] pruning, reached
  *    from plain SQL. (Filters stay residual by design, so surviving
  *    groups are always read IN FULL — the group contract.) The scan
  *    records the planned files on the shared operation instance; they
  *    are exactly the groups the commit must replace.
  *  - THE WRITE IS A COMMIT. Executors stage replacement rows through
  *    the connector's parquet writer (driver sees no data), and commit
  *    publishes one
  *    [[graft.operators.VersionedTable.replaceFilesCommit]]: an
  *    RM-delta swapping the recorded files for the staged ones (full
  *    manifest when everything was touched), stats/ROWS recomputed,
  *    CHECK constraints validated and carried, KIND=update stamped so
  *    the change feed replays the statement as
  *    update_preimage/update_postimage pairs.
  *  - OCC, detect-and-refuse: staged rows are a function of the
  *    snapshot the statement read, so a concurrent commit fails the
  *    statement with a re-run instruction instead of silently losing
  *    either write.
  *
  *  - RUNTIME GROUP FILTERING: the operation requests the
  *    `_file` metadata column, so Spark's
  *    `RowLevelOperationRuntimeGroupFiltering` runs a matching-rows
  *    subquery (target rows the statement touches, DISTINCT `_file` —
  *    for MERGE that is a semi-join against the SOURCE) and
  *    runtime-prunes the main scan to exactly those files via the
  *    scan's `SupportsRuntimeV2Filtering`. A MERGE therefore rewrites
  *    only the files that actually hold matched keys — beyond
  *    anything static zonemaps can prove, and the difference between
  *    rewriting a 100 TB table and rewriting the matched fraction.
  *
  * Key-shaped `DELETE`s (one equality/IN on a column) never reach this
  * path: Spark's `OptimizeMetadataOnlyDeleteFromTable` converts them
  * back to [[GraftTable]]'s metadata delete — the O(deleted keys)
  * deletion-vector commit — via `canDeleteWhere`. This operation is
  * the rewrite fallback for every other shape. The library's
  * [[graft.operators.VersionedTable.mergeCommit]] stays the
  * merge-on-read alternative (no rewrite at all — a DV plus appends).
  */
private[sources] class GraftRowLevelOperationBuilder(
    snap: VersionedTable.Snapshot, schema0: StructType,
    statsCol: Option[String],
    info: RowLevelOperationInfo) extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new GraftRowLevelOperation(snap, schema0, statsCol, info.command)
}

private[sources] class GraftRowLevelOperation(snap: VersionedTable.Snapshot,
    schema0: StructType, statsCol: Option[String],
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  private val path = snap.table.toString
  private val version = snap.version

  /** The files the operation scan planned — the GROUPS this statement
    * replaces. Written at scan-planning time, read at commit time; the
    * one operation instance is shared between both sides (the
    * RowLevelOperationTable contract). When runtime group filtering
    * fires, TWO scans exist — the matching-rows subquery's and the
    * main (runtime-filtered) one; only the filtered scan's plan is the
    * replaced set, so once any scan receives `filter()`, recording is
    * exclusive to it ([[RecordingScan]]). */
  @volatile private[sources] var scannedFiles: Seq[String] = Nil
  @volatile private[sources] var filteredScan: AnyRef = null

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"graft-row-level $cmd $path@v$version"

  /** `_file` makes the GROUP identity visible to Spark: the rewrite
    * plans carry it, and `RowLevelOperationRuntimeGroupFiltering` can
    * then run the matching-rows subquery (DISTINCT `_file` of rows the
    * statement touches) and runtime-prune the main scan to exactly
    * those files — a MERGE rewrites only files holding matched keys,
    * not the table. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column("_file"))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(snap, statsCol, schema0) {
      override def build(): Scan =
        new RecordingScan(super.build(), GraftRowLevelOperation.this)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        private val stagingRel =
          "data/rlo-" + java.util.UUID.randomUUID().toString.take(8)
        override def toBatch: BatchWrite =
          new GraftReplaceDataWrite(snap, stagingRel, info.schema(), cmd,
            GraftRowLevelOperation.this)
        override def description(): String =
          s"graft-replace-data $cmd $path@v$version"
      }
    }
}

/** Wraps the table's ordinary scan to RECORD the planned files (the
  * groups the statement replaces) on the operation instance. Pure
  * pass-through otherwise — pruning, readers, pushdown, runtime group
  * filtering all stay the table scan's. Recording protocol: once any
  * of the operation's scans receives a runtime `filter()` call, that
  * scan is the MAIN scan (the matching-rows subquery's scan is never
  * runtime-filtered) and recording becomes exclusive to it — its
  * post-filter plan is the replaced set. */
private[sources] class RecordingScan(inner: Scan,
    op: GraftRowLevelOperation) extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  override def readSchema(): StructType = inner.readSchema()
  override def description(): String = inner.description()
  override def toBatch: Batch = this

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    inner.asInstanceOf[org.apache.spark.sql.connector.read
      .SupportsRuntimeV2Filtering].filterAttributes()

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Unit = {
    op.filteredScan = this
    inner.asInstanceOf[org.apache.spark.sql.connector.read
      .SupportsRuntimeV2Filtering].filter(predicates)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val ps = inner.toBatch.planInputPartitions()
    if (op.filteredScan == null || (op.filteredScan eq this))
      op.scannedFiles = ps.collect {
        case p: GraftTablePartition => p.file
      }.toSeq
    ps
  }

  override def createReaderFactory(): PartitionReaderFactory =
    inner.toBatch.createReaderFactory()
}

private[sources] class GraftReplaceDataWrite(snap: VersionedTable.Snapshot,
    stagingRel: String, schema: StructType,
    cmd: RowLevelOperation.Command,
    op: GraftRowLevelOperation) extends BatchWrite {

  private val path = snap.table.toString

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new GraftWriterFactory(path, stagingRel, schema,
      GraftSession.hadoopConf(), replaceDataRows = true)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.flatMap {
      case GraftCommitMessage(fs) => fs
      case other => throw new IllegalStateException(
        s"graft-replace-data: unexpected commit message $other")
    }.sorted.toSeq
    VersionedTable.replaceFilesOn(org.apache.spark.sql.SparkSession.active,
      snap, op.scannedFiles, staged, s"graft-table SQL $cmd")
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftWriterFactory.discard(path, messages)
}
