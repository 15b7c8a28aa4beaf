package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._

import graft.operators.VersionedTable

/** V2 WRITE paths for the `graft-table` connector — both route through
  * the commit protocol's atomic publish, so a V2 write IS a commit,
  * never a bypass:
  *
  *  - BATCH APPEND (`df.write.format("graft-table").mode("append")
  *    .save(root)`): executors stage parquet files (no driver data
  *    path), the driver's `commit(messages)` publishes them as one
  *    O(batch) delta manifest at latest+1 through the commit producer
  *    (`VersionedTable.commitStaged`) — a lost race re-publishes the
  *    same staged files against the winner, rewriting nothing.
  *  - STREAMING SINK (`df.writeStream.format("graft-table")`):
  *    version = epochId + 1 (the table is BOOTSTRAPPED at v0 with its
  *    schema — see the query staging), so a replayed micro-batch
  *    recomputes the SAME version, finds it committed, and skips:
  *    exactly-once falls out of the putIfAbsent commit point with no
  *    sink-side dedup state (the `ev_stream_commit` discipline served
  *    as a native `StreamingWrite`). The sink owns the table past its
  *    bootstrap — a foreign commit at a sink version is refused as
  *    corruption rather than silently skipped.
  *
  * Writers emit rows through parquet-hadoop's example Group API (the
  * read path's mirror); an empty task deletes its file and stages
  * nothing, so manifests never carry zero-row files.
  */
private[sources] class GraftWriteBuilder(snap: VersionedTable.Snapshot,
    info: LogicalWriteInfo) extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {

  private var rewrite = false

  /** `mode("overwrite")` → a REWRITE commit: the staged files become
    * the table's ENTIRE next version (a full manifest, no BASE line —
    * exactly what compaction publishes), atomically replacing the
    * snapshot while every prior version stays readable. */
  override def truncate(): WriteBuilder = { rewrite = true; this }

  override def build(): Write = new GraftWrite(snap, info.schema(), rewrite)
}

/** `snap` is the version the write was planned on: it names the write
  * layout and is the commit's first base. */
private[sources] class GraftWrite(snap: VersionedTable.Snapshot,
    schema: StructType, truncate: Boolean = false) extends Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  private val path = snap.table.toString

  // One staging namespace per write attempt; files land under data/
  // like every commit's, invisible until a manifest lists them and
  // reclaimable by expire() if the write never commits.
  private val stagingRel =
    "data/v2w-" + java.util.UUID.randomUUID().toString.take(8)

  /** The table's partition layout at write time (declared via DDL or
    * grown from commitPartitioned paths): a V2 INSERT into a
    * partitioned table lands `c1=v1/c2=v2/…` files like every library
    * writer, so DDL-created partitioned tables get manifest partition
    * pruning from day one. */
  private val partCols: Seq[String] = snap.writePartitionLayout
  // Entries may be TRANSFORM specs (hidden partitioning): the
  // RAW column must be writable with the type the derivation demands;
  // identity columns keep the STRING rule (their value IS the path).
  private val partSpecs: Seq[graft.operators.PartTransform] =
    partCols.map(graft.operators.PartTransform.parse)
  partSpecs.foreach { t =>
    val f = schema.fields.find(_.name == t.rawCol).getOrElse(
      throw new IllegalArgumentException(
        s"graft-table: partition column '${t.rawCol}' missing from the " +
          s"write schema ${schema.fieldNames.mkString("[", ", ", "]")}"))
    t match {
      case _: graft.operators.IdentityPart =>
        require(f.dataType == org.apache.spark.sql.types.StringType,
          s"graft-table: partition column '${t.rawCol}' must be STRING " +
            "(partition values ride the path and read back as strings)")
      case _: graft.operators.TimePart =>
        require(graft.operators.PartTransform.timeSourceTypes(f.dataType),
          s"graft-table: ${t.spec} needs a BIGINT epoch-micros or " +
            s"TIMESTAMP column, got ${f.dataType.sql}")
      case _: graft.operators.BucketPart |
           _: graft.operators.TruncatePart =>
        require(graft.operators.PartTransform.hashableTypes(f.dataType),
          s"graft-table: ${t.spec} needs a BIGINT/INT/STRING column, " +
            s"got ${f.dataType.sql}")
    }
  }

  /** Cluster input by the partition column so each task writes few
    * files (the write-side shuffle every partitioned table format
    * requires at scale); unpartitioned writes impose nothing. */
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution = {
    import org.apache.spark.sql.connector.distributions.Distributions
    import org.apache.spark.sql.connector.expressions.Expressions
    if (partSpecs.isEmpty) Distributions.unspecified()
    else if (partSpecs.exists(_.isTime))
      // time grains (days/hours/months): ORDER by the raw columns — range partitioning puts
      // each day's rows in contiguous task ranges, so a backfill
      // writes ~tasks + days files. Hash-clustering by the raw column
      // would be backwards: micros are near-unique, every task would
      // see every day, and the batch would mint tasks × days files —
      // the small-files explosion the distribution exists to prevent
      // (self-review).
      Distributions.ordered(partSpecs.map(t =>
        Expressions.sort(Expressions.column(t.rawCol),
          org.apache.spark.sql.connector.expressions.SortDirection
            .ASCENDING)).toArray)
    else
      // identity/bucket: cluster by the RAW column. For identity the
      // raw column IS the segment. For bucket it is deliberately NOT
      // the transform expression: Spark hard-fails a bucket()
      // distribution on non-catalog writes ("bucket(n, col) is not
      // currently supported" — probed, not assumed), and raw-column
      // clustering still bounds each task to at most n open files —
      // n is a small DECLARED constant, unlike days' unbounded day
      // count, so the bound is acceptable where days' was not.
      Distributions.clustered(partSpecs.map(t =>
        Expressions.column(t.rawCol)
          : org.apache.spark.sql.connector.expressions.Expression)
        .toArray)
  }

  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    Array.empty

  override def toBatch: BatchWrite = new GraftBatchWrite(snap, stagingRel,
    schema, truncate, partCols)
  override def toStreaming: StreamingWrite = {
    require(!truncate,
      "graft-table: the streaming sink is append-only (complete-mode " +
        "rewrites belong to batch overwrite or compaction commits)")
    // Partitioned sink tables: each epoch's rows route to
    // `c=v/…` files under the table's WRITE layout, exactly like a
    // batch INSERT — the manifest partition pruning a day-partitioned
    // event stream needs from its very first micro-batch. (Without it a
    // partitioned sink would need a flat-sink-then-compact detour.)
    new GraftStreamingWrite(snap, stagingRel, schema, partCols)
  }
}

private[sources] case class GraftCommitMessage(files: Seq[String])
    extends WriterCommitMessage

private[sources] class GraftBatchWrite(snap: VersionedTable.Snapshot,
    stagingRel: String, schema: StructType, truncate: Boolean,
    partCols: Seq[String] = Nil) extends BatchWrite {

  private val path = snap.table.toString

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new GraftWriterFactory(path, stagingRel, schema,
      GraftSession.hadoopConf(), partCols = partCols)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.flatMap {
      case GraftCommitMessage(fs) => fs
      case other => throw new IllegalStateException(
        s"graft-table: unexpected commit message $other")
    }.sorted.toSeq
    if (files.nonEmpty || truncate) {
      // An overwrite that staged NOTHING would publish a manifest with
      // no data lines — unreadable (the first footer is the schema
      // source). Refuse with the legitimate verb.
      require(!truncate || files.nonEmpty,
        s"graft-table: INSERT OVERWRITE of $path staged zero rows — a " +
          "table needs at least one data file (its schema source); " +
          "use TRUNCATE TABLE to empty it")
      VersionedTable.commitStaged(org.apache.spark.sql.SparkSession.active,
        snap.table, if (truncate) "graft-table overwrite" else "graft-table append",
        Some(snap), snap.table.resolve(stagingRel), files, truncate)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftWriterFactory.discard(path, messages)
}

private[sources] class GraftStreamingWrite(snap: VersionedTable.Snapshot,
    stagingRel: String, schema: StructType,
    partCols: Seq[String] = Nil) extends StreamingWrite {

  private val path = snap.table.toString

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftWriterFactory(path, stagingRel, schema,
      GraftSession.hadoopConf(), partCols = partCols)

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val table = java.nio.file.Paths.get(path)
    val version = epochId + 1
    val files = messages.flatMap {
      case GraftCommitMessage(fs) => fs
      case other => throw new IllegalStateException(
        s"graft-table: unexpected commit message $other")
    }.sorted.toSeq
    if (VersionedTable.versions(table).contains(version)) {
      // The replayed-micro-batch path: this epoch already published —
      // drop the re-staged files, keep the committed truth. A foreign
      // commit would carry none of this sink's staging namespace; the
      // distinction is checked so corruption fails loudly.
      require(VersionedTable.addedLines(table, version)
          .map(VersionedTable.parse).forall {
            case VersionedTable.DataFile(_, None) => true
            case _ => false
          },
        s"graft-table: version $version of $path was committed outside " +
          "this streaming sink — one writer owns a sink table")
      GraftWriterFactory.discard(path, messages)
    } else if (files.nonEmpty)
      // A poisoned micro-batch fails its epoch BEFORE the commit point
      // — the streaming face of the CHECK gate.
      VersionedTable.commitEpoch(org.apache.spark.sql.SparkSession.active,
        snap, version, files)
    // An empty epoch publishes nothing: version numbering stays sparse
    // and the delta chain bases on the latest committed ancestor.
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit =
    GraftWriterFactory.discard(path, messages)
}

private[sources] object GraftWriterFactory {
  /** Abort/replay cleanup: delete the staged files the messages name. */
  def discard(path: String, messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case GraftCommitMessage(fs) => fs.foreach { f =>
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(path).resolve(f))
      }
      case _ => ()
    }

  /** StructType → parquet example MessageType (the write-side mirror
    * of the connector's footer mapping). */
  /** The parquet primitive for a scalar Spark type, or None for
    * non-scalar/unsupported types. Shared by top-level fields and
    * array elements so the two surfaces can never drift. */
  private def primitiveFor(dt: DataType, name: String)
      : Option[org.apache.parquet.schema.Types.PrimitiveBuilder[
        org.apache.parquet.schema.PrimitiveType]] = {
    import LogicalTypeAnnotation.TimeUnit
    dt match {
      case LongType => Some(Types.optional(INT64))
      case IntegerType => Some(Types.optional(INT32))
      case DoubleType => Some(Types.optional(DOUBLE))
      case FloatType => Some(Types.optional(FLOAT))
      case BooleanType => Some(Types.optional(BOOLEAN))
      case StringType =>
        Some(Types.optional(BINARY).as(LogicalTypeAnnotation.stringType()))
      // TIMESTAMP/DATE payload: parquet TIMESTAMP(MICROS) —
      // adjusted-to-UTC mirrors Spark's instant/NTZ split — and
      // DATE(INT32). Spark's internal representation for all three
      // is already the long/int the physical type stores, so the
      // Group writers pass values through bit-exact.
      case TimestampType => Some(Types.optional(INT64)
        .as(LogicalTypeAnnotation.timestampType(true, TimeUnit.MICROS)))
      case TimestampNTZType => Some(Types.optional(INT64)
        .as(LogicalTypeAnnotation.timestampType(false, TimeUnit.MICROS)))
      case DateType => Some(Types.optional(INT32)
        .as(LogicalTypeAnnotation.dateType()))
      case _ => None
    }
  }

  /** Append one Spark array value as a standard 3-level parquet list
    * repetition — shared by both row writers. Element NULLs refuse:
    * a vector with holes is corrupt, and a silent position shift
    * would be worse. */
  private[sources] def addArray(g: org.apache.parquet.example.data.Group,
      field: Int, at: ArrayType,
      arr: org.apache.spark.sql.catalyst.util.ArrayData,
      colName: String): Unit = {
    val lg = g.addGroup(field)
    var j = 0
    while (j < arr.numElements()) {
      require(!arr.isNullAt(j),
        s"graft-table: NULL element at position $j of array column " +
          s"'$colName' — the format stores dense arrays only")
      val el = lg.addGroup(0)
      at.elementType match {
        case LongType | TimestampType | TimestampNTZType =>
          el.add(0, arr.getLong(j))
        case IntegerType | DateType => el.add(0, arr.getInt(j))
        case DoubleType => el.add(0, arr.getDouble(j))
        case FloatType => el.add(0, arr.getFloat(j))
        case BooleanType => el.add(0, arr.getBoolean(j))
        case StringType =>
          el.add(0, Binary.fromString(arr.getUTF8String(j).toString))
        case other => throw new IllegalStateException(
          s"graft-table: unsupported array element type $other")
      }
      j += 1
    }
  }

  def messageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val p: org.apache.parquet.schema.Type = f.dataType match {
        // ARRAY payload: the standard parquet 3-level list
        // (optional group (LIST) { repeated group list { optional
        // element } }) over primitive elements — what embedding
        // vectors and ANN adjacency lists need to ride the commit
        // protocol. Element NULLs refuse at write (a vector with
        // holes is corrupt, and a silent position shift would be
        // worse); the list itself may be NULL like any column.
        case ArrayType(elem, _) =>
          val e = primitiveFor(elem, f.name).getOrElse(
            throw new IllegalArgumentException(
              s"graft-table: unsupported array element type $elem " +
                s"for ${f.name}"))
          Types.optionalGroup()
            .as(LogicalTypeAnnotation.listType())
            .addField(Types.repeatedGroup()
              .addField(e.named("element")).named("list"))
            .named(f.name)
        case dt => primitiveFor(dt, f.name).getOrElse(
          throw new IllegalArgumentException(
            s"graft-table: unsupported write type $dt for ${f.name}"))
          .named(f.name)
      }
      b.addField(p)
    }
    b.named("graft")
  }
}

/** `hadoopConf` is the session's broadcast Hadoop configuration; each
  * writer copies it to carry its file schema. */
private[sources] class GraftWriterFactory(path: String, stagingRel: String,
    schema: StructType,
    hadoopConf: org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.SerializableConfiguration],
    replaceDataRows: Boolean = false,
    partCols: Seq[String] = Nil)
    extends DataWriterFactory with StreamingDataWriterFactory {

  require(partCols.isEmpty || !replaceDataRows,
    "graft-table: group-replacement writes never target partitioned " +
      "tables (the row-level paths refuse them upstream)")

  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    writer(partitionId, taskId)

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    writer(partitionId, taskId)

  private def writer(partitionId: Int,
                     taskId: Long): DataWriter[InternalRow] =
    if (partCols.nonEmpty) partitionedWriter(partCols, partitionId, taskId)
    else flatWriter(partitionId, taskId)

  /** Partitioned INSERT: rows route to one open file per
    * partition VALUE TUPLE, under nested Hive-style `c1=v1/c2=v2/…`
    * segments in layout order (URL-encoded —
    * [[GraftTableSource.partitionValues]] decodes). The partition
    * columns are STRIPPED from the payload (they ride the path, the
    * commitPartitioned layout), and the write-side distribution
    * requirement clusters rows so a task sees few tuples. NULL
    * partition values refuse loudly — the path cannot carry them and
    * a default-partition convention would silently split the
    * columns' semantics. */
  private def partitionedWriter(pcs: Seq[String], partitionId: Int,
                                taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      // Specs may be transforms: identity columns are STRIPPED
      // from the payload (they ride the path, the commitPartitioned
      // layout); a transform's RAW column STAYS (the derived segment
      // is a lossy function — files must remain information-complete).
      private val specs = pcs.map(graft.operators.PartTransform.parse)
      private val partIdx = specs.map(t => schema.fieldIndex(t.rawCol))
        .toArray
      private val stripped = specs.collect {
        case t if t.isIdentity => t.rawCol }.toSet
      private val payload =
        StructType(schema.fields.filterNot(f => stripped.contains(f.name)))
      private val payloadIdx =
        payload.fields.map(f => schema.fieldIndex(f.name))
      private val msgType = GraftWriterFactory.messageType(payload)
      private val conf = new Configuration(hadoopConf.value.value)
      GroupWriteSupport.setSchema(msgType, conf)
      private val open = scala.collection.mutable.Map
        .empty[String, (org.apache.parquet.hadoop.ParquetWriter[
          org.apache.parquet.example.data.Group], Array[Long], String)]

      private def writerFor(segments: String) =
        open.getOrElseUpdate(segments, {
          val rel =
            f"$stagingRel/$segments/part-$partitionId%05d-$taskId.parquet"
          val full = java.nio.file.Paths.get(path).resolve(rel)
          val w = ExampleParquetWriter
            .builder(new org.apache.hadoop.fs.Path(full.toString))
            .withConf(conf)
            .withType(msgType)
            .build()
          (w, Array(0L), rel)
        })

      override def write(row: InternalRow): Unit = {
        val segments = specs.zip(partIdx).map { case (t, i) =>
          require(!row.isNullAt(i),
            s"graft-table: NULL partition value for '${t.rawCol}' — " +
              "partition values ride the path and cannot be NULL")
          val raw: Any = schema.fields(i).dataType match {
            // Timestamp flavors ride internally as epoch micros — the
            // exact value the time-grain derivations take (TZ-free by
            // construction; NTZ values are UTC by the engine's
            // session-timezone contract).
            case LongType | TimestampType | TimestampNTZType =>
              row.getLong(i)
            case IntegerType => row.getInt(i)
            case StringType => row.getUTF8String(i).toString
            case other => throw new IllegalStateException(
              s"graft-table: unsupported partition source type $other")
          }
          // %XX escaping (space as %20, never URL-form '+': the
          // reader decodes %XX only, so a literal '+' in a value
          // must ride as %2B — URLEncoder already does that — and
          // space must not become '+').
          s"${t.derivedName}=${java.net.URLEncoder.encode(
            t.segmentValue(raw), "UTF-8").replace("+", "%20")}"
        }.mkString("/")
        val (w, n, _) = writerFor(segments)
        val g = new SimpleGroup(msgType)
        var i = 0
        while (i < payload.fields.length) {
          val src = payloadIdx(i)
          if (!row.isNullAt(src)) payload.fields(i).dataType match {
            case LongType | TimestampType | TimestampNTZType =>
              g.add(i, row.getLong(src))
            case IntegerType | DateType => g.add(i, row.getInt(src))
            case DoubleType => g.add(i, row.getDouble(src))
            case FloatType => g.add(i, row.getFloat(src))
            case BooleanType => g.add(i, row.getBoolean(src))
            case StringType =>
              g.add(i, Binary.fromString(row.getUTF8String(src).toString))
            case at: ArrayType => GraftWriterFactory.addArray(
              g, i, at, row.getArray(src), payload.fields(i).name)
            case other => throw new IllegalStateException(
              s"graft-table: unsupported write type $other")
          }
          i += 1
        }
        w.write(g)
        n(0) += 1L
      }

      override def commit(): WriterCommitMessage = {
        val rels = open.values.toSeq.flatMap { case (w, n, rel) =>
          w.close()
          if (n(0) == 0L) {
            java.nio.file.Files.deleteIfExists(
              java.nio.file.Paths.get(path).resolve(rel))
            None
          } else Some(rel)
        }
        GraftCommitMessage(rels.sorted)
      }

      override def abort(): Unit =
        open.values.foreach { case (w, _, rel) =>
          w.close()
          java.nio.file.Files.deleteIfExists(
            java.nio.file.Paths.get(path).resolve(rel))
        }

      override def close(): Unit = ()
    }

  private def flatWriter(partitionId: Int,
                         taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val rel = f"$stagingRel/part-$partitionId%05d-$taskId.parquet"
      private val full = java.nio.file.Paths.get(path).resolve(rel)
      private val msgType = GraftWriterFactory.messageType(schema)
      private val conf = new Configuration(hadoopConf.value.value)
      GroupWriteSupport.setSchema(msgType, conf)
      private val out = ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(full.toString))
        .withConf(conf)
        .withType(msgType)
        .build()
      private var rows = 0L

      override def write(row: InternalRow): Unit = {
        // Group-replacement rows (SQL UPDATE/MERGE/DELETE rewrites)
        // arrive two ways: PROJECTED to the data schema when the
        // operation requests metadata attributes (ReplaceData's row
        // projection strips `__row_operation` and the metadata
        // columns), or RAW as `__row_operation:int +: data` through
        // the plain DataWritingSparkTask. info.schema() is the DATA
        // schema either way, so the row width decides the offset.
        val off =
          if (replaceDataRows) row.numFields - schema.fields.length else 0
        // Group-based semantics: every surviving group's kept rows are
        // written. A DELETE-tagged raw row (possible only in
        // delta-based plans) carries no payload to keep — skip
        // defensively.
        if (off == 1 && row.getInt(0) == 1) return
        val g = new SimpleGroup(msgType)
        var i = 0
        while (i < schema.fields.length) {
          if (!row.isNullAt(i + off)) schema.fields(i).dataType match {
            case LongType | TimestampType | TimestampNTZType =>
              g.add(i, row.getLong(i + off))
            case IntegerType | DateType => g.add(i, row.getInt(i + off))
            case DoubleType => g.add(i, row.getDouble(i + off))
            case FloatType => g.add(i, row.getFloat(i + off))
            case BooleanType => g.add(i, row.getBoolean(i + off))
            case StringType =>
              g.add(i, Binary.fromString(
                row.getUTF8String(i + off).toString))
            case at: ArrayType => GraftWriterFactory.addArray(
              g, i, at, row.getArray(i + off), schema.fields(i).name)
            case other => throw new IllegalStateException(
              s"graft-table: unsupported write type $other")
          }
          i += 1
        }
        out.write(g)
        rows += 1L
      }

      override def commit(): WriterCommitMessage = {
        out.close()
        if (rows == 0L) {
          // Nothing staged: manifests must never carry zero-row files.
          java.nio.file.Files.deleteIfExists(full)
          GraftCommitMessage(Nil)
        } else GraftCommitMessage(Seq(rel))
      }

      override def abort(): Unit = {
        out.close()
        java.nio.file.Files.deleteIfExists(full)
      }

      override def close(): Unit = ()
    }
}
