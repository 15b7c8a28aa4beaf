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
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** STREAMING CHANGE FEED over a [[graft.operators.VersionedTable]] —
  * the consumer half of the commit protocol (the producer half is the
  * streaming sink that publishes one version per micro-batch):
  * `spark.readStream.format("graft-changes").load(tableRoot)` serves
  * the rows each commit APPENDED, one micro-batch per commit, with a
  * `_commit_version` column — the Delta/Iceberg incremental-source
  * pattern (offsets are commit versions, not file positions), built on
  * the public DataSource V2 streaming stack:
  *
  *  - [[MicroBatchStream]] + [[SupportsAdmissionControl]]: offsets are
  *    the highest PROCESSED version; `latestOffset(start, limit)`
  *    advances `maxVersionsPerTrigger` (default 1) commits per batch,
  *    so batch boundaries ARE commit boundaries — the table's history
  *    replays as the stream's batch history.
  *  - Work discovery is O(the commit): a delta manifest's added lines
  *    are its stored tail ([[graft.operators.VersionedTable.addedLines]]
  *    — zero extra manifest reads), never a table diff.
  *  - One [[InputPartition]] per (version, added file): executors read
  *    the parquet payload themselves (parquet-hadoop's example Group
  *    API — the library Spark itself builds on), so nothing data-sized
  *    crosses the driver, and Spark's own offset log gives
  *    checkpoint-resume across drains: a commit landing between two
  *    AvailableNow runs is picked up exactly once by the second.
  *
  * Append-feed contract: a DELETE commit does not append rows —
  * by default the stream FAILS on one (silently serving nothing for a
  * version that removed data would misrepresent the feed); opt in to
  * skipping via `ignoreDeletes=true` (the Delta option of the same
  * name), or to the FULL change feed via `readChangeFeed=true`, which
  * adds a `_change_type` column ('insert' / 'delete' /
  * 'update_preimage' / 'update_postimage') and serves a delete
  * commit's deletion-vector keys as delete rows (the key column
  * populated, everything else NULL) — enough for a downstream
  * consumer to maintain a row-level mirror: apply inserts, anti-join
  * deletes, in commit order. REWRITE commits are served by their
  * `KIND` annotation: a KIND=compact commit is content-
  * preserving (`dataChange=false`) and serves NOTHING in every mode —
  * the offset advances through an empty batch instead of the
  * full-restart a raw rewrite forces; a KIND=update commit serves,
  * in change-feed mode, its RM'd files' rows as `update_preimage`
  * and its new files' as `update_postimage` in the same micro-batch —
  * a mirror deletes the preimage keys and inserts the postimage rows
  * atomically per commit (file granularity: rows the update's
  * predicate spared replay as identical pre/post pairs, a no-op under
  * that rule). Unannotated rewrites still fail the stream. A REWRITE
  * commit AT the explicit `startingVersion` is exempt from KIND
  * dispatch: its FULL MANIFEST replays as inserts — the feed's true
  * initial snapshot (bootstrap a mirror at a compaction or update
  * version and every live file's rows are served, then deltas
  * follow); live DVs at the snapshot version refuse. Append versions
  * at startingVersion keep cursor semantics (their adds only).
  * Schema-evolution commits always fail the
  * stream: a stream's schema is pinned at start. Options:
  * `startingVersion` (default 0 — serve history from the beginning),
  * `maxVersionsPerTrigger`, `ignoreDeletes`, `readChangeFeed`, and
  * `ref` (stream ONE branch's line of history — its advances since the
  * fork; without it a table holding branch refs is refused, since its
  * raw log interleaves lines of history).
  *
  * Supported payload columns: the parquet primitives the fixtures use
  * (BOOLEAN, INT32, INT64, FLOAT, DOUBLE, UTF8 BINARY). Nested and
  * logical types would extend the same Group-to-InternalRow mapping.
  */
class TableChangesSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-changes"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TableChangesSource.tableSchema(options.get("path"),
      options.getBoolean("readChangeFeed", false))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // Option keys arrive however the caller typed them — normalize.
    val opts = new CaseInsensitiveStringMap(properties)
    val ref = Option(opts.get("ref"))
    require(ref.isEmpty || !opts.containsKey("startingVersion"),
      "graft-changes: options 'ref' and 'startingVersion' are mutually " +
        "exclusive — a ref feed starts at the branch's fork (seed the " +
        "mirror with a batch readRef at the fork, then stream advances)")
    new ChangesTable(opts.get("path"), schema,
      opts.getOrDefault("startingVersion", "0").toLong,
      opts.getOrDefault("maxVersionsPerTrigger", "1").toInt,
      opts.getBoolean("ignoreDeletes", false),
      opts.getBoolean("readChangeFeed", false),
      ref)
  }
}

object TableChangesSource {
  import graft.operators.VersionedTable

  val VersionColumn = "_commit_version"
  val ChangeTypeColumn = "_change_type"

  /** Data schema from the latest manifest's first payload file's
    * parquet footer, plus the commit-version column (and, in
    * change-feed mode, the change-type column). One footer read —
    * schema inference must not scan data. */
  def tableSchema(path: String, readChangeFeed: Boolean = false): StructType = {
    require(path != null && path.nonEmpty,
      "graft-changes: a table root path is required (…load(root))")
    val table = java.nio.file.Paths.get(path)
    val snap = VersionedTable.latestSnapshot(table).getOrElse(
      throw new IllegalArgumentException(
        s"graft-changes: no committed version at $path"))
    val first = snap.files.headOption.getOrElse(
      throw new IllegalArgumentException(
        s"graft-changes: version ${snap.version} of $path lists no " +
          "data files"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(table.resolve(first).toString),
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()))
    val msg = try reader.getFileMetaData.getSchema finally reader.close()
    val dataFields = msg.getFields.asScala.map { f =>
      require(f.isPrimitive,
        s"graft-changes: unsupported nested column ${f.getName}")
      val p = f.asPrimitiveType()
      val dt = p.getPrimitiveTypeName match {
        case INT64 => LongType
        case INT32 => IntegerType
        case DOUBLE => DoubleType
        case FLOAT => FloatType
        case BOOLEAN => BooleanType
        case BINARY
            if p.getLogicalTypeAnnotation ==
              LogicalTypeAnnotation.stringType() => StringType
        case other =>
          throw new IllegalArgumentException(
            s"graft-changes: unsupported parquet type $other " +
              s"for column ${f.getName}")
      }
      StructField(f.getName, dt, nullable = true)
    }.toSeq
    // ADDCOL/DROPCOL mappings live at the head fold into the served
    // schema in commit order (the batch connector's rule): a fresh
    // feed sees the EVOLVED shape regardless of which footer the
    // first manifest file happens to carry. (Rename/widen commits
    // still fail the running feed at their version — schema is pinned
    // at start.)
    val evolved = snap.columnMappings.foldLeft(dataFields) {
      case (fields, ("addcol", c, t)) if !fields.exists(_.name == c) =>
        fields :+ StructField(c,
          org.apache.spark.sql.types.DataType.fromDDL(t),
          nullable = true)
      case (fields, ("dropcol", c, _)) => fields.filterNot(_.name == c)
      case (fields, _) => fields
    }
    // PARTITION COLUMNS: path-borne values never reach a footer,
    // but a mirror of a partitioned table must not LOSE the column —
    // serve them re-attached per file (string-typed, the batch
    // connector's contract). Union across the manifest: every
    // generation's columns appear, each file filling its own.
    val withParts = evolved ++
      snap.partitionCols.filterNot(c => evolved.exists(_.name == c))
        .map(StructField(_, StringType, nullable = true))
    val base = withParts :+
      StructField(VersionColumn, LongType, nullable = false)
    StructType(
      if (readChangeFeed)
        base :+ StructField(ChangeTypeColumn, StringType, nullable = false)
      else base)
  }
}

private[sources] class ChangesTable(path: String, schema0: StructType,
    startingVersion: Long, maxVersionsPerTrigger: Int, ignoreDeletes: Boolean,
    readChangeFeed: Boolean, ref: Option[String] = None)
    extends Table with SupportsRead {

  override def name(): String = s"graft-changes($path)"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      // Column pruning pushed into the streaming reader (the
      // graft-history discipline): a consumer projecting two columns
      // — or counting rows — materializes only those; the Group reader
      // simply skips unrequested fields.
      private var required: StructType = schema0
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = required
        override def description(): String =
          s"graft-changes path=$path " +
            s"columns=[${required.fieldNames.mkString(",")}]"
        override def toMicroBatchStream(
            checkpointLocation: String): MicroBatchStream =
          new ChangesStream(path, required, schema0, startingVersion,
            maxVersionsPerTrigger, ignoreDeletes, readChangeFeed, ref)
      }
    }
}

/** Offset = highest commit version already processed (inclusive);
  * `startingVersion - 1` before any batch ran. */
private[sources] case class VersionOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

/** `schema` is the pruned output, `tableSchema` the full one (a DV key
  * column's type, when the output does not carry it). */
private[sources] class ChangesStream(path: String, schema: StructType,
    tableSchema: StructType, startingVersion: Long,
    maxVersionsPerTrigger: Int, ignoreDeletes: Boolean,
    readChangeFeed: Boolean, ref: Option[String] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  import graft.operators.VersionedTable

  private val table = java.nio.file.Paths.get(path)

  /** BRANCH-PINNED FEED: with `option("ref", name)` the feed
    * serves ONLY the named branch's own line of history — its ref log
    * (fork + every CAS'd advance) IS that history, so admission
    * filters to those versions and other branches' interleaved commits
    * (and orphaned lost-race snapshots) are invisible. The feed starts
    * AFTER the fork: seed a mirror with a batch `readRef` at the fork,
    * then stream the advances — the Delta CDF "initial snapshot by
    * batch, then changes" pattern, which sidesteps the fork-content
    * question entirely. Re-read per trigger so advances landing
    * mid-stream are picked up. A rolled-back branch (advanceRef to an
    * older version) breaks offset monotonicity and fails loudly.
    * WITHOUT a ref, a table that HAS branch refs is refused: its raw
    * log interleaves lines of history, and a feed over it would hand a
    * trunk consumer another branch's rows. */
  private def refAdvances(): Option[(Long, Seq[Long])] = ref.map { r =>
    val es = VersionedTable.refEntries(table, r)
    require(es.nonEmpty, s"graft-changes: no ref '$r' at $path")
    require(es.head._2 == "branch",
      s"graft-changes: ref '$r' is a ${es.head._2} — a tag never " +
        "advances, so it has no change feed; read it batch via readRef")
    val vs = es.map(_._3)
    require(vs == vs.sorted,
      s"graft-changes: ref '$r' was rolled back (advances $vs are not " +
        "monotone) — restart the feed from a fresh checkpoint")
    (vs.head, vs.tail.distinct)
  }

  /** Per-trigger admission filter (the old
    * per-version `admissible(v)` re-ran [[refAdvances]] — a ref
    * directory listing plus a read of EVERY ref record — once per
    * CANDIDATE VERSION, O(N_versions × refEntries) filesystem reads
    * per trigger). Now the ref state is read ONCE per
    * latestOffset/planInputPartitions call and the returned predicate
    * closes over it; behavior is unchanged (the state is still
    * re-read each trigger, so mid-stream branch advances are still
    * picked up). */
  private def admissionFilter(): Long => Boolean = refAdvances() match {
    case Some((_, advances)) =>
      val live = advances.toSet
      live.contains _
    case None =>
      require(VersionedTable.refs(table).forall(_._2 != "branch"),
        s"graft-changes: $path has branch refs — commits of different " +
          "lines of history interleave in its log; pin option(\"ref\", " +
          "<branch>) to stream one line")
      _ => true
  }

  /** AvailableNow snapshot target: commits landing AFTER the run
    * started are left for the next run. Implemented natively (the file
    * source's pattern) because Spark's generic AvailableNow wrapper
    * deliberately IGNORES admission control and would serve everything
    * in one batch — losing the one-micro-batch-per-commit contract. */
  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(refAdvances() match {
      case Some((fork, advances)) => advances.lastOption.getOrElse(fork)
      case None =>
        VersionedTable.latestVersion(table).getOrElse(startingVersion - 1)
    })

  override def initialOffset(): Offset =
    VersionOffset(refAdvances() match {
      case Some((fork, _)) => fork // "processed through the fork"
      case None => startingVersion - 1
    })

  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.trim.toLong)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Admission control: advance at most `maxVersionsPerTrigger`
    * commits past `start` — one micro-batch per commit by default, so
    * the drain's batch count witnesses the feed's granularity. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[VersionOffset].version
    val admits = admissionFilter()
    val pending = VersionedTable.versions(table)
      .filter(v => v > from && availableNowTarget.forall(v <= _) &&
        admits(v))
    if (pending.isEmpty) start
    else VersionOffset(pending.take(maxVersionsPerTrigger).last)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "graft-changes drives latestOffset(start, limit) via " +
        "SupportsAdmissionControl")

  override def reportLatestOffset(): Offset = refAdvances() match {
    case Some((fork, advances)) =>
      VersionOffset(advances.lastOption.getOrElse(fork))
    case None =>
      VersionedTable.latestVersion(table).map(VersionOffset(_))
        .getOrElse(VersionOffset(startingVersion - 1))
  }

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[VersionOffset].version
    val hi = end.asInstanceOf[VersionOffset].version
    val admits = admissionFilter()
    VersionedTable.versions(table)
      .filter(v => v > lo && v <= hi && admits(v))
      .flatMap { v =>
        // The explicit startingVersion at a REWRITE version is the
        // feed's initial snapshot BY CONTRACT, dispatched before any
        // KIND match: the version's FULL MANIFEST replays as inserts —
        // not just its adds, which for a partial (KIND=update) rewrite
        // would silently omit every untouched file's rows, and for a
        // compaction would be an empty batch. Live DVs at the snapshot
        // version refuse (raw files would replay deleted rows); append
        // versions keep cursor semantics (serve the version's adds
        // only — "skip history before N").
        if (v == startingVersion &&
            VersionedTable.removedLines(table, v).nonEmpty) {
          val snap = VersionedTable.snapshot(table, v)
          require(snap.deletionVectors.isEmpty,
            s"graft-changes: startingVersion=$v is a rewrite commit " +
              "with live deletion vectors — the raw-file snapshot " +
              "would replay deleted rows; compact first or start at " +
              "a DV-free version")
          snap.files.map(f =>
            ChangesPartition(path, v, f,
              changeType = "insert"): InputPartition)
        }
        else VersionedTable.commitKind(table, v) match {
          // KIND=compact (consuming the writers' annotation): a
          // compaction reorganizes bytes but the CONTENT is identical
          // — the Delta `dataChange=false` skip. Serve NOTHING: the
          // offset still advances through the version, the batch
          // commits EMPTY (the progress counters witness zero rows),
          // and downstream mirrors keep streaming instead of
          // full-restarting on what used to be a hard failure.
          case Some("compact") => Nil
          // KIND=update: a stats-pruned copy-on-write UPDATE
          // rewrote whole files in place — representable only in
          // change-feed mode, as the Delta CDF pair: every RM'd
          // file's rows replay as `update_preimage`, every new
          // file's as `update_postimage`, SAME micro-batch, so a
          // mirror applies delete(preimage keys) + insert(postimage
          // rows) atomically per commit. Granularity is the FILE:
          // rows the predicate spared inside a touched file appear
          // as identical pre/post pairs — a no-op under that apply
          // rule, so the feed stays mirror-sufficient.
          case Some("update") =>
            if (!readChangeFeed) throw new IllegalStateException(
              s"graft-changes: version $v is an UPDATE commit (copy-" +
                "on-write rewrite) — an append feed cannot represent " +
                "it; set readChangeFeed=true to serve it as " +
                "update_preimage/update_postimage rows")
            VersionedTable.removedDataFiles(table, v).map(f =>
              ChangesPartition(path, v, f,
                changeType = "update_preimage"): InputPartition) ++
              addPartitions(v, "update_postimage")
          case _ =>
            // An UNANNOTATED rewrite commit (raw commit-as-compaction,
            // transact's copy-on-write) drops manifest lines with no
            // declared intent — unrepresentable: serving its adds as
            // inserts would double rows a mirror already holds and
            // silently skip the drops. Fail loudly (the Delta stance
            // on non-append changes) instead of corrupting downstream
            // state. (The startingVersion initial-snapshot exemption
            // is handled above, before any KIND dispatch.)
            require(VersionedTable.removedLines(table, v).isEmpty,
              s"graft-changes: version $v rewrites data files with no " +
                "KIND annotation (raw compaction/merge) — the change " +
                "feed serves append, delete, and annotated update/" +
                "compact commits only; restart the stream from a " +
                s"snapshot at or above it (startingVersion=$v)")
            addPartitions(v, "insert")
        }
      }.toArray
  }

  /** One [[InputPartition]] per payload file version `v` ADDED,
    * serving its rows as `changeType` — plus, for DV delete commits,
    * the key-list partitions change-feed mode serves as delete rows. */
  private def addPartitions(v: Long,
      changeType: String): Seq[InputPartition] =
    VersionedTable.addedLines(table, v).map(VersionedTable.parse).flatMap {
      case d: VersionedTable.DataFile =>
        Some(ChangesPartition(path, v, d.path,
          changeType = changeType): InputPartition)
      case dv: VersionedTable.Dv =>
        if (readChangeFeed) {
          // Full change feed: the DV's key list becomes delete
          // rows — key column populated, everything else NULL.
          Some(ChangesPartition(path, v, dv.path,
            deleteKeyCol = dv.keyCol, changeType = "delete"): InputPartition)
        } else if (ignoreDeletes) None
        else throw new IllegalStateException(
          s"graft-changes: version $v is a DELETE commit — an " +
            "append feed cannot represent it; set ignoreDeletes=" +
            "true to skip delete commits, or readChangeFeed=true " +
            "to serve them as _change_type='delete' rows")
      case _: VersionedTable.Mapping =>
        throw new IllegalStateException(
          s"graft-changes: version $v evolves the schema — restart " +
            "the stream to pick up the new schema")
      case spec: VersionedTable.PartSpec =>
        // A spec evolution that introduces a brand-new IDENTITY
        // partition column mid-stream evolves the schema exactly like
        // RENAME/WIDEN (future files carry a path-borne column this
        // stream's fixed schema cannot serve); a transform's RAW
        // column must likewise exist. Known columns (re-ordering, a
        // transform over an existing payload column) pass — the
        // mirror's schema is unchanged.
        val known = schema.fieldNames.toSet
        // (an evolve-to-flat spec has an EMPTY column list — nothing
        // to check)
        spec.specs.map(graft.operators.PartTransform.parse)
          .foreach(t => if (!known.contains(t.rawCol))
            throw new IllegalStateException(
              s"graft-changes: version $v evolves the partition spec " +
                s"with column '${t.rawCol}' unknown to this stream's " +
                "schema — restart the stream to pick up the new schema"))
        None
      // Every other kind carries no rows to serve: skipping indexes
      // (BLOOM/STATS/ROWS), table contracts (CHECK/STATSCOL/PARTCOL),
      // statistics and MV state.
      case _ => None
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new ChangesReaderFactory(schema, tableSchema, GraftSession.hadoopConf(),
      // Only ADDCOL-introduced columns may legitimately be absent from
      // a file's footer (files predating the add); any OTHER missing
      // field is a real schema mismatch and must stay a loud failure,
      // not a silent all-NULL column. The set is the union of ADDCOL
      // names across ALL history, not just the mappings live at head:
      // a compaction retires the mapping (head footers carry the
      // column) while a feed replaying from startingVersion=0 still
      // crosses the pre-add files — those footers legitimately lack
      // the column and must serve the typed NULL.
      VersionedTable.historicalAddColNames(table))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** `changeType` is the `_change_type` the partition's rows carry in
  * change-feed mode ('insert' / 'delete' / 'update_preimage' /
  * 'update_postimage'; ignored otherwise). `deleteKeyCol` non-empty
  * marks a DELETE partition: `file` is the DV key-list parquet, and
  * every output row populates only the key column + version + change
  * type. */
private[sources] case class ChangesPartition(path: String, version: Long,
    file: String, deleteKeyCol: String = "",
    changeType: String = "insert") extends InputPartition {
  /** This file's path-borne partition values — split constants the
    * reader serves for columns no footer carries (empty for DV key
    * lists and flat files). */
  def partValues: Seq[(String, String)] =
    if (deleteKeyCol.nonEmpty) Nil
    else GraftTableSource.partitionValues(file)
}

private[sources] class ChangesReaderFactory(schema: StructType,
    tableSchema: StructType,
    hadoopConf: org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.SerializableConfiguration],
    nullableMissing: Set[String] = Set.empty)
    extends PartitionReaderFactory {
  import graft.operators.VersionedTable

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val cp = p.asInstanceOf[ChangesPartition]
    val isDelete = cp.deleteKeyCol.nonEmpty
    val full = java.nio.file.Paths.get(cp.path).resolve(cp.file).toString
    new PartitionReader[InternalRow] {
      private val reader: ParquetReader[Group] =
        ParquetReader.builder[Group](new GroupReadSupport(),
          new org.apache.hadoop.fs.Path(full))
          .withConf(hadoopConf.value.value)
          .build()
      private var cur: Group = _
      /** A delete row's key in the column's type: Some(null) for a NULL
        * key, None for a key with no exact value in that type. */
      private var deleteKey: Option[Any] = None
      override def next(): Boolean = {
        cur = reader.read()
        // A DV key that converts to no value of the column's type
        // deletes nothing, so no delete row is served for it.
        while (isDelete && cur != null && { deleteKey = dvKey(); deleteKey.isEmpty })
          cur = reader.read()
        cur != null
      }
      /** The DV row's key, decoded in the DV file's own type and
        * converted to the column's type exactly as both read paths
        * convert it ([[graft.operators.VersionedTable.coerceKey]]). */
      private def dvKey(): Option[Any] = {
        val i = cur.getType.getFieldIndex(cp.deleteKeyCol)
        if (cur.getFieldRepetitionCount(i) == 0) Some(null)
        else {
          val dvType = GraftTableSource.sparkTypeOf(cur.getType.getType(i))
          VersionedTable.coerceKey(VersionedTable.groupValue(cur, i, dvType),
            dvType, tableSchema(cp.deleteKeyCol).dataType)
        }
      }
      private def readField(f: StructField): Any = {
        val fileType = cur.getType
        // A column an ADDCOL mapping introduced may be absent from a
        // file that predates it — typed NULL, the add-column contract.
        // Any OTHER missing field keeps the loud getFieldIndex failure
        // (a silent all-NULL column would mask a real mismatch).
        if (!fileType.containsField(f.name) &&
            nullableMissing.contains(f.name)) return null
        val i = fileType.getFieldIndex(f.name)
        if (cur.getFieldRepetitionCount(i) == 0) null
        else VersionedTable.groupValue(cur, i, f.dataType)
      }
      // Partition columns are split constants served from the file's
      // own path segments — footers never carry them.
      private val partConst: Map[String, UTF8String] =
        cp.partValues.map { case (c, v) =>
          c -> UTF8String.fromString(v)
        }.toMap
      override def get(): InternalRow = {
        val vals = schema.fields.map { f =>
          if (f.name == TableChangesSource.VersionColumn) cp.version
          else if (f.name == TableChangesSource.ChangeTypeColumn)
            UTF8String.fromString(cp.changeType)
          else if (isDelete) {
            // A delete row carries ONLY its key; the DV file's single
            // column is the key column, everything else is NULL.
            if (f.name == cp.deleteKeyCol) deleteKey.orNull else null
          } else if (partConst.contains(f.name)) partConst(f.name)
          else readField(f)
        }
        InternalRow.fromSeq(vals.toIndexedSeq)
      }
      override def close(): Unit = reader.close()
    }
  }
}
