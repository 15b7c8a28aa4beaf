package graft.sources

import org.apache.avro.Schema
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileStream,
  DataFileWriter, SeekableInput}
import org.apache.avro.generic.{GenericData, GenericDatumReader,
  GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Avro object-container interchange — the commonest streaming-
  * interchange format a training-data pipeline ingests (Kafka dumps,
  * upstream CDC drops), served WITHOUT the optional `spark-avro`
  * module: this environment ships only Avro core (avro-1.12.1), so the
  * bridge is built directly on the public container-file API.
  *
  * Both directions are fully distributed:
  *
  *  - WRITE: one container file per input partition, created through
  *    the Hadoop FileSystem API (the same executor-side create every
  *    Spark sink uses — file://, hdfs://, s3a:// alike; the SESSION's
  *    Hadoop configuration rides a broadcast, so configured
  *    filesystems/credentials actually apply, ADVICE r17). Each task
  *    streams its rows through a [[DataFileWriter]]; nothing funnels
  *    through the driver. Files roll with the upstream partitioning,
  *    so sizing them is the usual `repartition(n)` decision.
  *  - READ (BLOCK-SPLITTABLE, r18): Avro containers are splittable on
  *    their 16-byte SYNC MARKERS — the Hadoop AvroInputFormat
  *    contract. The driver lists files and cuts BYTE RANGES (one
  *    split per `splitBytes`, default `spark.sql.files
  *    .maxPartitionBytes`); each task opens its file through the
  *    FileSystem API, `sync(start)`s to the first block boundary at
  *    or after its range start, and decodes blocks until
  *    `pastSync(end)` — every record lands in exactly one split, so a
  *    single pathological 100-GB container drop decodes on the whole
  *    cluster instead of serializing through one task (before r18:
  *    one task per FILE via binaryFile, which also buffered the whole
  *    container in memory).
  *
  * Type surface: BIGINT/INT/DOUBLE/FLOAT/BOOLEAN/STRING/BINARY, each
  * nullable via the standard `[null, T]` union — the interchange
  * subset every fixture table uses. Anything else refuses loudly
  * rather than guessing a logical-type mapping. Codec: deflate (pure
  * JDK — no native library dependency on either side).
  */
object AvroIO {

  /** Spark schema → Avro record schema: primitives, each nullable as
    * a `[null, T]` union (Spark fields are nullable by default and a
    * reader of foreign Avro must assume the same). */
  def avroSchema(schema: StructType, recordName: String = "row"): Schema = {
    val fields = schema.fields.map { f =>
      val t = f.dataType match {
        case LongType => Schema.Type.LONG
        case IntegerType => Schema.Type.INT
        case DoubleType => Schema.Type.DOUBLE
        case FloatType => Schema.Type.FLOAT
        case BooleanType => Schema.Type.BOOLEAN
        case StringType => Schema.Type.STRING
        case BinaryType => Schema.Type.BYTES
        case other => throw new IllegalArgumentException(
          s"AvroIO: unsupported column type ${other.sql} for " +
            s"'${f.name}' — the interchange subset is " +
            "BIGINT/INT/DOUBLE/FLOAT/BOOLEAN/STRING/BINARY")
      }
      new Schema.Field(f.name,
        Schema.createUnion(Schema.create(Schema.Type.NULL),
          Schema.create(t)),
        null, Schema.Field.NULL_DEFAULT_VALUE)
    }
    Schema.createRecord(recordName, null, "graft", false,
      fields.toSeq.asJava)
  }

  /** Avro record schema → Spark schema (the inverse, for reads of
    * foreign files): unwraps `[null, T]` unions, refuses non-primitive
    * fields. */
  def sparkSchema(schema: Schema): StructType = {
    def unwrap(s: Schema): (Schema, Boolean) =
      if (s.getType == Schema.Type.UNION) {
        val branches = s.getTypes.asScala.toSeq
        val nonNull = branches.filter(_.getType != Schema.Type.NULL)
        require(nonNull.size == 1,
          s"AvroIO: unsupported union ${s} — only [null, T] unions map")
        (nonNull.head, branches.size > nonNull.size)
      } else (s, false)
    StructType(schema.getFields.asScala.toSeq.map { f =>
      val (s, nullable) = unwrap(f.schema())
      val dt = s.getType match {
        case Schema.Type.LONG => LongType
        case Schema.Type.INT => IntegerType
        case Schema.Type.DOUBLE => DoubleType
        case Schema.Type.FLOAT => FloatType
        case Schema.Type.BOOLEAN => BooleanType
        case Schema.Type.STRING => StringType
        case Schema.Type.BYTES => BinaryType
        case other => throw new IllegalArgumentException(
          s"AvroIO: unsupported Avro type $other for '${f.name}'")
      }
      StructField(f.name, dt, nullable)
    })
  }

  /** Distributed write: each partition streams to ONE container file
    * under `dir` (empty partitions write nothing). Returns the number
    * of files written. */
  def write(df: DataFrame, dir: String): Long = {
    val avroJson = avroSchema(df.schema).toString
    val names = df.schema.fieldNames
    val conf = GraftSession.hadoopConf(df.sparkSession)
    val written = df.rdd.mapPartitionsWithIndex { (pid, rows) =>
      if (!rows.hasNext) Iterator.empty
      else {
        val sch = new Schema.Parser().parse(avroJson)
        val path = new org.apache.hadoop.fs.Path(dir, f"part-$pid%05d.avro")
        val out = path.getFileSystem(conf.value.value).create(path, true)
        val w = new DataFileWriter[GenericRecord](
          new GenericDatumWriter[GenericRecord](sch))
        w.setCodec(CodecFactory.deflateCodec(6))
        w.create(sch, out)
        try rows.foreach { r =>
          val rec = new GenericData.Record(sch)
          var i = 0
          while (i < names.length) {
            rec.put(names(i), r.get(i) match {
              case null => null
              case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
              case v => v
            })
            i += 1
          }
          w.append(rec)
        } finally w.close()
        Iterator.single(1L)
      }
    }.fold(0L)(_ + _)
    written
  }

  /** [[SeekableInput]] over the Hadoop FileSystem API — what lets a
    * [[DataFileReader]] `sync()` into the middle of a container on
    * any configured filesystem. */
  private class FsSeekableInput(
      fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path) extends SeekableInput {
    private val in = fs.open(path)
    private val len = fs.getFileStatus(path).getLen
    override def seek(p: Long): Unit = in.seek(p)
    override def tell(): Long = in.getPos
    override def length(): Long = len
    override def read(b: Array[Byte], off: Int, l: Int): Int =
      in.read(b, off, l)
    def close(): Unit = in.close()
  }

  /** Block-splittable distributed read of every `*.avro` container
    * under `dir`: schema from ONE header read driver-side (container
    * headers are self-describing), then one task per BYTE RANGE —
    * `sync(start)` / `pastSync(end)` assign every block to exactly one
    * range (the Hadoop AvroInputFormat split contract), so a single
    * huge container decodes cluster-wide. `splitBytes <= 0` uses
    * `spark.sql.files.maxPartitionBytes`. */
  def read(spark: SparkSession, dir: String,
           splitBytes: Long = 0L): DataFrame = {
    val conf = GraftSession.hadoopConf(spark)
    val pattern = new org.apache.hadoop.fs.Path(dir, "*.avro")
    val fs = pattern.getFileSystem(conf.value.value)
    val files = fs.globStatus(pattern)
    require(files != null && files.nonEmpty,
      s"AvroIO.read: no .avro container files under $dir")
    val header = new DataFileStream[GenericRecord](
      fs.open(files.head.getPath),
      new GenericDatumReader[GenericRecord]())
    val avro = try header.getSchema finally header.close()
    val struct = sparkSchema(avro)
    val names = struct.fieldNames
    val target =
      if (splitBytes > 0L) splitBytes
      else spark.sessionState.conf.filesMaxPartitionBytes
    // Byte-range splits: O(files) driver work from the listing alone
    // (no container is opened to plan), each range O(target) bytes.
    val splits: Seq[(String, Long, Long)] = files.toSeq.flatMap { st =>
      val len = st.getLen
      val n = math.max(1L, (len + target - 1) / target)
      (0L until n).map(i => (st.getPath.toString, i * target,
        math.min(len, (i + 1) * target)))
    }
    val rows = spark.sparkContext
      .parallelize(splits, splits.size)
      .flatMap { case (pathStr, start, end) =>
        val path = new org.apache.hadoop.fs.Path(pathStr)
        val in = new FsSeekableInput(
          path.getFileSystem(conf.value.value), path)
        // The reader constructor and the sync can THROW (corrupt or
        // truncated container, transient FS error) — the opened input
        // stream must not leak across task retries, so it closes on
        // that path before the completion listener exists.
        val r = try {
          val dr = new DataFileReader[GenericRecord](in,
            new GenericDatumReader[GenericRecord]())
          // Claim blocks whose sync marker sits in [start, end): the
          // first block at-or-after start, up to (not past) end — the
          // standard split ownership rule; record boundaries never tear.
          dr.sync(start)
          dr
        } catch {
          case e: Throwable =>
            try in.close() catch { case _: Throwable => () }
            throw e
        }
        def closeAll(): Unit = {
          try r.close() catch { case _: Throwable => () }
          try in.close() catch { case _: Throwable => () }
        }
        // A downstream operator may stop consuming early (limit,
        // take): close on task completion, not only on exhaustion.
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => closeAll()))
        new Iterator[Row] {
          override def hasNext: Boolean = {
            val h = r.hasNext && !r.pastSync(end)
            if (!h) closeAll()
            h
          }
          override def next(): Row = {
            val rec = r.next()
            Row.fromSeq(names.toIndexedSeq.map { n =>
              rec.get(n) match {
                case null => null
                case u: org.apache.avro.util.Utf8 => u.toString
                case b: java.nio.ByteBuffer =>
                  val a = new Array[Byte](b.remaining()); b.get(a); a
                case v => v
              }
            })
          }
        }
      }
    spark.createDataFrame(rows, struct)
  }
}
