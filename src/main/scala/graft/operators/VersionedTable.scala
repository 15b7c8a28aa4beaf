package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, BooleanType, ByteType,
  DataType, DateType, Decimal, DecimalType, DoubleType, FloatType,
  IntegerType, LongType, NumericType, ShortType, StringType,
  StructType, TimestampNTZType, TimestampType}

/** Minimal versioned-table commit protocol — the manifest/commit-log
  * layer (the Delta/Iceberg core idea, re-derived from first
  * principles) that gives the CDC/compaction/backfill family ATOMIC
  * version swap, snapshot isolation, and time-travel reads.
  *
  * Layout under a table root:
  * {{{
  *   data/v<version>-<slug>/part-*.parquet   one dir of NEW files per commit
  *   _commits/v<%06d version>.manifest       one line per data file (relative)
  *   _commits/.tmp-*                         in-flight, invisible to readers
  * }}}
  *
  * The COMMIT POINT is a single atomic link of the finished manifest
  * into `_commits/` — data files are written first and mean nothing
  * until a manifest names them, so a crash mid-commit (or mid-write)
  * leaves garbage data files but a perfectly readable previous
  * version: readers only ever see the set of fully-published manifests.
  * Because the final name encodes the version, two racing committers
  * of version N cannot both succeed — the second link fails on the
  * existing target (optimistic concurrency, the conditional-PUT/
  * putIfAbsent primitive object stores expose for exactly this).
  *
  * A manifest lists FILES, not data: a commit's cost is O(files it
  * writes + one tiny metadata rename), never O(table). An append
  * commit carries the previous version's file list forward verbatim
  * and adds its new files (no data movement); a copy-on-write MERGE
  * rewrites only what it must and lists the result. Reads plan over
  * exactly the listed files — time travel at version N is just
  * resolving manifest N instead of max.
  *
  * Local-filesystem realization of the primitives: an atomic
  * java.nio createLink as the conditional put (same deployment note as
  * GraftSession.stagingDir — a real cluster points SPARK_GRAFT_STAGING
  * at a shared mount; an object-store port swaps these few lines for
  * conditional PUTs, the protocol is unchanged).
  *
  * Metadata scaling: a manifest may be a DELTA — first line
  * `BASE\t<version>`, remaining lines the versions's ADDED entries —
  * so an append/delete commit's metadata cost is O(the commit), never
  * O(table). Readers resolve the chain (base's lines ++ delta lines);
  * every `checkpointEvery`-th delta materializes the full list instead
  * (the Delta-log "JSON deltas + periodic checkpoint" shape, Iceberg's
  * manifest-list idea flattened to one dimension), so chain length —
  * and therefore resolution cost — is bounded by a constant. The
  * commit point, snapshot isolation, and time travel are unchanged:
  * a delta still publishes through the same atomic link. Resolution
  * is still driver-side text parsing — O(live files) per read, which
  * with right-sized 128 MB–1 GB files covers a 100 TB table; past
  * 10⁶ files real formats read the metadata itself as a distributed
  * job (HistorySource already does, one partition per version).
  */
object VersionedTable {

  private def commitsDir(table: Path): Path = table.resolve("_commits")

  private def manifestName(version: Long): String =
    f"v$version%06d.manifest"

  private val ManifestRe = """v(\d{6})\.manifest""".r

  /** List the parquet part files under a freshly-written output dir —
    * RECURSIVE (a partitioned V2 write nests `col=value` dirs; flat
    * dirs walk identically) — as table-root-relative strings (sorted:
    * the manifest is a stable artifact, not an enumeration-order
    * accident). */
  private def partFiles(table: Path, dataDir: Path): Seq[String] = {
    val walk = Files.walk(dataDir)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map(p => table.relativize(p).toString)
      .toSeq.sorted
    finally walk.close()
  }

  /** Write `df` as version `version`'s new files and atomically
    * publish the manifest = carried ++ new. Returns the published
    * file list. `carried` is relative paths from a previous manifest
    * that remain live in this version (append/partial-rewrite
    * commits); pass Nil for a full copy-on-write snapshot. The raw
    * commits are full manifests on the closest committed version below
    * `version` (the [[produce]] table); on a branched table that
    * version may belong to another line of history, so they refuse:
    * write through [[branchCommit]] instead. */
  def commit(s: SparkSession, table: Path, version: Long,
             df: DataFrame, carried: Seq[String] = Nil): Seq[String] = {
    val dataDir = newDataDir(table, version)
    lazy val files = { writeData(df, dataDir); carried ++ partFiles(table, dataDir) }
    produce(s, table, "commit", At(version))(_ =>
      stagedIn(table, dataDir, Full(files)))
    files
  }

  /** Commit-time INT96 refusal: the graft footer reader refuses
    * INT96 timestamps, but a session NOT built through
    * `GraftSession.configure` keeps Spark's INT96 parquet default — a
    * library commit from it would successfully publish a version that
    * every subsequent graft-table read then refuses. Validate BEFORE
    * the version's bytes hit disk, so the refusal lands before the
    * publish instead of after it. (No per-write parquet option exists
    * for outputTimestampType — session conf is the only lever, so the
    * honest move is to refuse, not to silently mutate the caller's
    * session mid-commit.) */
  private[graft] def ensureMicrosTimestamps(df: DataFrame): Unit = {
    import org.apache.spark.sql.types.MapType
    def hasTs(dt: DataType): Boolean = dt match {
      case TimestampType => true
      case st: StructType => st.fields.exists(f => hasTs(f.dataType))
      case a: ArrayType => hasTs(a.elementType)
      case m: MapType => hasTs(m.keyType) || hasTs(m.valueType)
      case _ => false
    }
    if (df.schema.fields.exists(f => hasTs(f.dataType)) &&
        df.sparkSession.conf
          .get("spark.sql.parquet.outputTimestampType") == "INT96")
      throw new IllegalStateException(
        "graft commit: spark.sql.parquet.outputTimestampType=INT96 " +
          "would publish TIMESTAMP data files the graft footer reader " +
          "refuses — set TIMESTAMP_MICROS (GraftSession.configure " +
          "does) before committing timestamp columns")
  }

  /** Every commit's data/DV parquet write funnels here so the INT96
    * refusal cannot be bypassed by a new commit variant. */
  private def writeData(df: DataFrame, dir: Path,
                        partCols: Seq[String] = Nil): Unit = {
    ensureMicrosTimestamps(df)
    if (partCols.isEmpty) df.write.parquet(dir.toString)
    else df.write.partitionBy(partCols: _*).parquet(dir.toString)
  }

  /** Manifest lines for freshly-staged files under `dataDir`, matching
    * the INDEX SHAPE of the base snapshot (ingest must not degrade
    * pruning until the next compaction): stats-bearing data lines when
    * the base declares STATSCOL, ROWS lines when the base records them,
    * BLOOM and secondary-zonemap lines recomputed for every column the
    * base indexes. Plain lines when the base declares nothing or there
    * is no base — deciding costs no IO; recomputation costs one
    * aggregation per indexed column over the NEW files only. `only`
    * restricts the lines to the files a V2 write's commit messages
    * name, so an orphan a zombie task attempt left in the staging dir
    * is never committed. */
  private def indexedLines(s: SparkSession, table: Path, dataDir: Path,
                           base: Option[Snapshot],
                           only: String => Boolean = _ => true): Seq[String] =
    base.fold(partFiles(table, dataDir).filter(only)) { base =>
      val hadRows = base.rowCounts.nonEmpty
      val secCols = base.secondaryStats.map(_._2).distinct
        .filterNot(base.statsCol.contains)
      val data = base.statsCol match {
        case Some(c) =>
          statsRowsLines(fileColStats(s, table, dataDir, c)
            .filter(t => only(t._1)), hadRows)
        case None =>
          partFiles(table, dataDir).filter(only) ++
            (if (hadRows)
               fileRowsLines(s, table, dataDir).filter(l => only(fileOfLine(l)))
             else Nil)
      }
      data ++
        (base.bloomColumns.flatMap(fileBloomLines(s, table, dataDir, _)) ++
          secCols.flatMap(secondaryLines(s, table, dataDir, _)))
          .filter(l => only(fileOfLine(l)))
    }

  /** The data file a per-file index line (BLOOM/STATS/ROWS) indexes. */
  private def fileOfLine(line: String): String = fileOf(parse(line)).get

  /** Data lines with their zonemaps for `stats` (per-file path, min,
    * max, rows), plus a ROWS line per file when `rows`. */
  private def statsRowsLines(stats: Seq[(String, Long, Long, Long)],
                             rows: Boolean): Seq[String] =
    stats.map { case (f, mn, mx, _) => DataFile(f, Some((mn, mx))).line } ++
      (if (rows) stats.map { case (f, _, _, n) => Rows(f, n).line } else Nil)

  /** Secondary-zonemap STATS lines on `col` for the files under
    * `dataDir`. */
  private def secondaryLines(s: SparkSession, table: Path, dataDir: Path,
                             col: String): Seq[String] =
    fileColStats(s, table, dataDir, col).map { case (f, mn, mx, _) =>
      ColStats(f, col, mn, mx).line }

  /** Each commit ATTEMPT writes under its own unique slug: a crashed
    * or raced attempt's files can never collide with the winner's —
    * they just sit orphaned and invisible (manifests define
    * contents). */
  private def newDataDir(table: Path, version: Long): Path =
    table.resolve("data").resolve(
      f"v$version%06d-" + java.util.UUID.randomUUID().toString.take(8))

  /** The commit point, isolated so a test/witness can drive the
    * failure path: write the manifest under a dot-temp name (readers
    * skip non-matching names), then ONE atomic link to the
    * version-encoding final name. `createLink` rather than an
    * ATOMIC_MOVE rename: POSIX rename REPLACES an existing target, so
    * a move would let a racing committer of the same version silently
    * clobber the winner — the hard link fails with
    * FileAlreadyExistsException instead, which IS the
    * optimistic-concurrency conflict (putIfAbsent on an object
    * store). */
  def publish(table: Path, version: Long, files: Seq[String]): Seq[String] = {
    val dir = Files.createDirectories(commitsDir(table))
    val tmp = Files.createTempFile(dir, ".tmp-", ".manifest")
    Files.write(tmp, files.mkString("\n").getBytes(StandardCharsets.UTF_8))
    try Files.createLink(dir.resolve(manifestName(version)), tmp)
    finally Files.deleteIfExists(tmp)
    files
  }

  /** Stage version `version`'s data files and its manifest BUT crash
    * before the publish link — the atomicity witness. Leaves exactly what a
    * mid-commit failure leaves: orphan data files + a temp manifest
    * no reader resolves. */
  def failedCommit(s: SparkSession, table: Path, version: Long,
                   df: DataFrame): Unit = {
    val dataDir = newDataDir(table, version)
    writeData(df, dataDir)
    val dir = Files.createDirectories(commitsDir(table))
    val tmp = Files.createTempFile(dir, ".tmp-", ".manifest")
    Files.write(tmp,
      partFiles(table, dataDir).mkString("\n").getBytes(StandardCharsets.UTF_8))
    // no publish link: the commit never happened as far as any reader knows
  }

  /** Commit with per-file MIN/MAX statistics on `statsCol` (a BIGINT
    * column) — the data-skipping half of the protocol: real table
    * formats aggregate footer stats into the manifest at write time so
    * a reader can eliminate FILES (not just row groups) without
    * opening them. Stats cost one pass over the NEW files only
    * (grouped on input_file_name — commit-time work proportional to
    * the commit, like the write itself). Manifest lines become
    * `path<TAB>min<TAB>max`; plain lines (no stats) stay readable.
    * Skipping only pays when the layout clusters the column — pair
    * with repartitionByRange/z-order at write, exactly as production
    * tables do. */
  def commitWithStats(s: SparkSession, table: Path, version: Long,
                      df: DataFrame, statsCol: String,
                      carried: Seq[String] = Nil,
                      rowCounts: Boolean = false): Seq[String] = {
    val dataDir = newDataDir(table, version)
    // ROWS lines ride the same single stats pass — metadata-only
    // count(*) costs nothing extra at commit time. `carried` lines keep
    // whatever stats their own commit recorded (a byte-verbatim carry).
    lazy val stats = {
      writeData(df, dataDir)
      fileColStats(s, table, dataDir, statsCol)
    }
    produce(s, table, "commitWithStats", At(version))(_ =>
      stagedIn(table, dataDir, Full(carried ++ statsRowsLines(stats, rowCounts),
        tail = Seq(StatsCol(statsCol).line))))
    stats.map(_._1)
  }

  // ===== THE MANIFEST LINE FORMAT =====

  /** One parsed manifest line. [[parse]] is the one reader of the line
    * format and each entry's `line` its one writer; the kinds, their
    * fields and their carry rules are tabulated on [[Snapshot]]. */
  sealed trait Entry { def line: String }

  /** A data file; `stats` is its primary zonemap (min, max of the
    * STATSCOL column) when the line records one. */
  final case class DataFile(path: String,
      stats: Option[(Long, Long)] = None) extends Entry {
    def min: Long = stats.fold(Long.MinValue)(_._1)
    def max: Long = stats.fold(Long.MaxValue)(_._2)
    def line: String = stats.fold(path) { case (mn, mx) => s"$path\t$mn\t$mx" }
  }
  final case class Dv(path: String, keyCol: String, origin: Long)
      extends Entry {
    def line: String = s"DV\t$path\t$keyCol\t$origin"
  }
  /** A schema mapping: `op` is rename (`col` becomes `arg`), widen or
    * addcol (`arg` is the SQL type), or dropcol (`arg` is empty). */
  final case class Mapping(op: String, col: String, arg: String)
      extends Entry {
    def line: String =
      if (op == "dropcol") s"DROPCOL\t$col"
      else s"${op.toUpperCase(java.util.Locale.ROOT)}\t$col\t$arg"
  }
  final case class Bloom(file: String, col: String, b64: String)
      extends Entry {
    def line: String = s"BLOOM\t$file\t$col\t$b64"
  }
  final case class StatsCol(col: String) extends Entry {
    def line: String = s"STATSCOL\t$col"
  }
  final case class ColStats(file: String, col: String, min: Long, max: Long)
      extends Entry {
    def line: String = s"STATS\t$file\t$col\t$min\t$max"
  }
  final case class Rows(file: String, count: Long) extends Entry {
    def line: String = s"ROWS\t$file\t$count"
  }
  final case class Check(expr: String) extends Entry {
    def line: String = s"CHECK\t$expr"
  }
  final case class PartCol(col: String) extends Entry {
    def line: String = s"PARTCOL\t$col"
  }
  final case class PartSpec(gen: Long, specs: Seq[String]) extends Entry {
    def line: String = s"PARTSPEC\t$gen\t${specs.mkString(",")}"
  }
  final case class Ndv(col: String, distinct: Long, nulls: Long)
      extends Entry {
    def line: String = s"NDV\t$col\t$distinct\t$nulls"
  }
  final case class MvOf(base: Long) extends Entry {
    def line: String = s"MVOF\t$base"
  }
  final case class MvSql(groupCols: Seq[String], sql: String) extends Entry {
    def line: String = s"MVSQL\t${groupCols.mkString(",")}\t$sql"
  }
  final case class MvAvg(name: String, sumCol: String, countCol: String)
      extends Entry {
    def line: String = s"MVAVG\t$name\t$sumCol\t$countCol"
  }
  final case class MvFold(col: String, op: String) extends Entry {
    def line: String = s"MVFOLD\t$col\t$op"
  }
  final case class Kind(verb: String) extends Entry {
    def line: String = s"KIND\t$verb"
  }
  final case class Base(version: Long) extends Entry {
    def line: String = s"BASE\t$version"
  }
  final case class Rm(file: String) extends Entry {
    def line: String = s"RM\t$file"
  }

  /** Parse one manifest line. A line with no known kind prefix is a
    * data file: data paths live under `data/`, so no kind literal can
    * collide with one. */
  def parse(line: String): Entry = {
    val tab = line.indexOf('\t')
    if (tab < 0) return DataFile(line)
    val rest = line.substring(tab + 1)
    lazy val f = line.split("\t", -1)
    line.substring(0, tab) match {
      case "DV" => Dv(f(1), f(2), f(3).toLong)
      case "RENAME" | "WIDEN" | "ADDCOL" =>
        Mapping(f(0).toLowerCase(java.util.Locale.ROOT), f(1), f(2))
      case "DROPCOL" => Mapping("dropcol", rest, "")
      case "BLOOM" => Bloom(f(1), f(2), f(3))
      case "STATSCOL" => StatsCol(rest)
      case "STATS" => ColStats(f(1), f(2), f(3).toLong, f(4).toLong)
      case "ROWS" => Rows(f(1), f(2).toLong)
      case "CHECK" => Check(rest)
      case "PARTCOL" => PartCol(rest)
      case "PARTSPEC" =>
        // Paren-aware split: `bucket(8,doc_id),lang` is two specs.
        val t = rest.indexOf('\t')
        PartSpec(rest.substring(0, t).toLong,
          PartTransform.split(rest.substring(t + 1)))
      case "NDV" => Ndv(f(1), f(2).toLong, f(3).toLong)
      case "MVOF" => MvOf(rest.trim.toLong)
      case "MVSQL" =>
        val t = rest.indexOf('\t')
        MvSql(rest.substring(0, t).split(',').toSeq.map(_.trim)
          .filter(_.nonEmpty), rest.substring(t + 1))
      case "MVAVG" => MvAvg(f(1), f(2), f(3))
      case "MVFOLD" => MvFold(f(1), f(2))
      case "KIND" => Kind(rest)
      case "BASE" => Base(rest.trim.toLong)
      case "RM" => Rm(rest)
      case _ => DataFile(f(0), Some((f(1).toLong, f(2).toLong)))
    }
  }

  /** The data file an entry describes: a data line's own path, or the
    * file a BLOOM/STATS/ROWS line indexes (it dies with that file when
    * a rewrite or an RM removes it). Table-wide lines describe none. */
  private def fileOf(e: Entry): Option[String] = e match {
    case d: DataFile => Some(d.path)
    case b: Bloom => Some(b.file)
    case s: ColStats => Some(s.file)
    case r: Rows => Some(r.file)
    case _ => None
  }

  /** The data files among `lines`, by path. */
  private def dataFiles(lines: Seq[String]): Seq[String] =
    lines.map(parse).collect { case d: DataFile => d.path }

  /** One resolved chain level: its KIND-free lines, parsed, the
    * commit's own KIND and how many manifest files resolving it reads. */
  private final case class Level(lines: Vector[(String, Entry)],
      kind: Option[String], depth: Int)

  /** Resolve `version` into `memo`, reading each manifest of its BASE
    * chain that `memo` does not already hold once. A `BASE\tN` head
    * splices in N's resolved lines; `RM\t<f>` tail lines drop f's data
    * line and every line indexing f; KIND lines describe one commit and
    * are stripped, so no carry or checkpoint inherits one. Chain depth
    * is bounded by the writers' `checkpointEvery`. */
  private def resolve(table: Path, version: Long,
      memo: Map[Long, Level]): Map[Long, Level] =
    if (memo.contains(version)) memo
    else {
      val raw = rawManifest(table, version).toVector.map(l => (l, parse(l)))
      val kind = raw.collectFirst { case (_, Kind(k)) => k }
      val (lines, depth, m) = raw.headOption.map(_._2) match {
        case Some(Base(b)) =>
          val m = resolve(table, b, memo)
          val (rm, added) = raw.tail.partition(_._2.isInstanceOf[Rm])
          val dead = rm.map(_._2.asInstanceOf[Rm].file).toSet
          val kept = if (dead.isEmpty) m(b).lines
            else m(b).lines.filterNot(l => fileOf(l._2).exists(dead))
          (kept ++ added, m(b).depth + 1, m)
        case _ => (raw, 1, memo)
      }
      m + (version ->
        Level(lines.filterNot(_._2.isInstanceOf[Kind]), kind, depth))
    }

  /** ONE TABLE VERSION, parsed once: a single resolution of the
    * version's manifest chain and a single parse of its lines. Every
    * reader takes one snapshot per statement and reads its fields; the
    * derived views (layouts, transforms, decoded bloom bits) are lazy,
    * so a question costs only its own work.
    *
    * The line kinds, their fields, and what a FULL-manifest rewrite
    * (compaction, transact, overwrite, full-touch DML) does with them:
    * {{{
    *   line                               field(s)               full rewrite
    *   <path>[\t<min>\t<max>]             statsManifest          lists its own new files
    *   DV\t<dv path>\t<key col>\t<origin> deletionVectors        folds them into data
    *   RENAME\t<from>\t<to>               columnMappings         materializes (drops) them
    *   WIDEN|ADDCOL\t<col>\t<sql type>    columnMappings         materializes (drops) them
    *   DROPCOL\t<col>                     columnMappings         materializes (drops) them
    *   BLOOM\t<file>\t<col>\t<base64>     blooms                 recomputes for its files
    *   STATSCOL\t<col>                    statsColumns           restates
    *   STATS\t<file>\t<col>\t<min>\t<max> secondaryStats         recomputes for its files
    *   ROWS\t<file>\t<count>              rowCounts              recomputes iff base had any
    *   CHECK\t<sql expr>                  checks                 restates
    *   PARTCOL\t<col>                     declaredPartitionCols  restates
    *   PARTSPEC\t<gen>\t<spec,spec,…>     partitionSpecs         restates every generation
    *   NDV\t<col>\t<distinct>\t<nulls>    ndvStats               drops them
    *   MVOF\t<base version>               mvCursor               restates the live cursor
    *   MVSQL\t<group cols>\t<sql>         mvDefinition           an MV refresh restates
    *   MVAVG\t<name>\t<sum col>\t<count>  mvAvgFolds             an MV refresh restates
    *   MVFOLD\t<col>\t<min|max>           mvFoldOps              an MV refresh restates
    *   KIND\t<update|compact>             kind (this commit)     never carried
    *   BASE\t<version> (first line)       (delta structure)      never in a resolution
    *   RM\t<file>                         (delta structure)      never in a resolution
    * }}}
    *
    * Why the kinds are what they are:
    *  - DV: merge-on-read delete. A DV is SCOPED to the data files of
    *    its origin version, so a later append that re-inserts a deleted
    *    key survives (sequence-number semantics, not a tombstone).
    *  - Mappings are O(1) metadata schema evolution: no data file is
    *    rewritten. Files written before an ADDCOL read typed NULLs; a
    *    DROPCOL stops serving a column whose bytes stay until the next
    *    compaction, and is refused while the column is load-bearing.
    *  - STATSCOL makes the manifest self-describing, so readers that
    *    cannot pass options (a SQL catalog scan) still know what the
    *    data-line zonemaps describe; STATS lines add zonemaps for a
    *    z-order's other dimensions.
    *  - ROWS answers count(*) from metadata alone (the Iceberg
    *    `record_count` idea); a file without a line is simply absent,
    *    so callers check coverage.
    *  - CHECK is a table contract (Delta ADD CONSTRAINT): every
    *    row-adding commit validates its new files against it before
    *    the commit point; NULL passes, as in SQL.
    *  - PARTCOL declares a layout before any path can exhibit it (the
    *    zero-row DDL bootstrap is flat); PARTSPEC numbers the
    *    generations of an evolving layout (Iceberg spec evolution):
    *    old files keep their paths, new commits land under the highest
    *    generation, and an empty column list is a legal (flat) one.
    *  - NDV: ANALYZE column statistics, latest per column wins.
    *    Appends make them drift (advisory); a rewrite drops them,
    *    because stale certainty is worse than none.
    *  - MV lines: an MV is an aggregate table plus a cursor into its
    *    base's log (latest wins). MVSQL stores the refreshable
    *    definition, MVAVG how an avg recombines from its maintained
    *    sum/count partials, MVFOLD a min/max column's merge operator
    *    (a DV-delete refresh refuses while one lives).
    *  - KIND names one commit's intent: `update` replays through the
    *    change feed as preimage/postimage pairs, `compact` serves
    *    nothing (the Delta `dataChange=false` idea). */
  final class Snapshot private (val table: Path, val version: Long,
      levels: Map[Long, Level]) {
    private val level = levels(version)

    /** The resolved lines — what a full-manifest writer carries
      * forward verbatim. */
    val lines: Seq[String] = level.lines.map(_._1)
    val entries: Seq[Entry] = level.lines.map(_._2)
    /** This commit's own KIND annotation, if its writer declared one. */
    def kind: Option[String] = level.kind
    /** How many manifest files resolving this version reads (1 for a
      * full manifest): the checkpoint-cadence input. */
    def chainLength: Int = level.depth

    /** Data files as (path, min, max); a file committed without stats
      * has the full range (never skippable, always correct). */
    lazy val statsManifest: Seq[(String, Long, Long)] =
      entries.collect { case d: DataFile => (d.path, d.min, d.max) }
    lazy val files: Seq[String] = statsManifest.map(_._1)
    lazy val rowCounts: Seq[(String, Long)] =
      entries.collect { case Rows(f, n) => (f, n) }
    /** Declared stats columns, distinct in commit order (practically
      * one per table). */
    lazy val statsColumns: Seq[String] =
      entries.collect { case StatsCol(c) => c }.distinct
    def statsCol: Option[String] = statsColumns.headOption
    /** (dvPath, keyColumn, originVersion). */
    lazy val deletionVectors: Seq[(String, String, Long)] =
      entries.collect { case Dv(p, k, o) => (p, k, o) }
    /** (op, col, arg) in commit order — see [[Mapping]]. */
    lazy val columnMappings: Seq[(String, String, String)] =
      entries.collect { case Mapping(op, c, a) => (op, c, a) }
    /** Bloom-indexed columns, distinct in commit order. */
    lazy val bloomColumns: Seq[String] =
      entries.collect { case b: Bloom => b.col }.distinct
    /** (file, column, filter bits), decoded on first use. */
    lazy val blooms: Seq[(String, String, Array[Byte])] =
      entries.collect { case Bloom(f, c, b64) =>
        (f, c, java.util.Base64.getDecoder.decode(b64)) }
    /** Secondary zonemaps: (file, column, min, max). */
    lazy val secondaryStats: Seq[(String, String, Long, Long)] =
      entries.collect { case ColStats(f, c, mn, mx) => (f, c, mn, mx) }
    /** CHECK constraints in declaration order. */
    lazy val checks: Seq[String] =
      entries.collect { case Check(e) => e }.distinct
    /** DDL-declared partition columns, in declaration order. */
    lazy val declaredPartitionCols: Seq[String] =
      entries.collect { case PartCol(c) => c }
    /** Partition-spec generations, ascending: (gen, specs). */
    lazy val partitionSpecs: Seq[(Long, Seq[String])] =
      entries.collect { case PartSpec(g, cs) => (g, cs) }.sortBy(_._1)
    /** Column statistics: column → (approx distinct, nulls). */
    lazy val ndvStats: Map[String, (Long, Long)] =
      entries.collect { case Ndv(c, d, n) => c -> (d, n) }.toMap
    /** The MV refresh cursor: the highest MVOF base version. */
    lazy val mvCursor: Option[Long] =
      entries.collect { case MvOf(b) => b }.maxOption
    /** The MV's stored definition: (group columns, statement). */
    lazy val mvDefinition: Option[(Seq[String], String)] =
      entries.collectFirst { case MvSql(g, sql) => (g, sql) }
    /** Non-SUM merge operators: column → "min" | "max". */
    lazy val mvFoldOps: Map[String, String] =
      entries.collect { case MvFold(c, op) => c -> op }.toMap
    /** (served name, sum partial, count partial). */
    lazy val mvAvgFolds: Seq[(String, String, String)] =
      entries.collect { case MvAvg(n, s, c) => (n, s, c) }

    /** Every path-borne `col=value` segment name, hidden transform
      * segments included — the physical layout (`t$partitions`). */
    private lazy val pathPartitionCols: Seq[String] =
      files.flatMap(_.split('/').dropRight(1).toSeq.collect {
        case seg if seg.contains('=') => seg.substring(0, seg.indexOf('='))
      }).distinct
    private lazy val transforms: Seq[PartTransform] =
      partitionSpecs.flatMap(_._2).map(PartTransform.parse)
        .filterNot(_.isIdentity)
    /** Derived segment names of every transform any generation
      * declared (`ts_day`, `doc_id_bucket`): they ride paths and prune,
      * but are never served as columns. Retired generations count —
      * their files still carry the segments. */
    lazy val hiddenSegmentNames: Set[String] =
      transforms.map(_.derivedName).toSet
    /** Every transform spec any generation declared — what the scan
      * prunes raw-column predicates through. */
    lazy val liveTransforms: Seq[PartTransform] = transforms.distinct
    /** Path-derived partition columns without hidden segments, in
      * first-appearance order: what the served schema re-attaches. */
    lazy val partitionCols: Seq[String] =
      pathPartitionCols.filterNot(hiddenSegmentNames)
    /** Declared ∪ every path-borne segment, hidden ones included. */
    lazy val physicalPartitionLayout: Seq[String] =
      (declaredPartitionCols ++ pathPartitionCols).distinct
    /** Declared columns first, then any path-derived one: what readers
      * re-attach and `GraftTable.partitioning()` reports. */
    lazy val partitionLayout: Seq[String] =
      (declaredPartitionCols ++ partitionCols).distinct
    /** The layout NEW writes land under: the latest spec generation if
      * the table ever evolved, else [[partitionLayout]]. Entries may be
      * transform specs (`days(ts)`). Readers keep the union. */
    lazy val writePartitionLayout: Seq[String] =
      partitionSpecs.lastOption.map(_._2).getOrElse(partitionLayout)

    /** The resolved lines whose entry satisfies `p`, verbatim. */
    def linesWhere(p: Entry => Boolean): Seq[String] =
      level.lines.collect { case (l, e) if p(e) => l }

    /** The snapshot of version `v`: a level of this version's own
      * chain costs no IO; any other version resolves, reading only the
      * manifests this snapshot has not read. */
    private[VersionedTable] def at(v: Long): Snapshot =
      if (v == version) this
      else new Snapshot(table, v, resolve(table, v, levels))
  }

  object Snapshot {
    private[VersionedTable] def apply(table: Path, version: Long): Snapshot =
      new Snapshot(table, version, resolve(table, version, Map.empty))
  }

  /** Version `version` of `table`, resolved and parsed once. */
  def snapshot(table: Path, version: Long): Snapshot =
    Snapshot(table, version)

  /** The latest version's snapshot, if any commit ever succeeded. */
  def latestSnapshot(table: Path): Option[Snapshot] =
    latestVersion(table).map(snapshot(table, _))

  /** The latest snapshot, reusing `held` while it still is the latest
    * (one listing, no manifest read) and reading only the manifests it
    * lacks otherwise. */
  private[graft] def latestFrom(held: Snapshot): Snapshot =
    latestVersion(held.table).fold(throw new IllegalArgumentException(
      s"no committed version at ${held.table}"))(held.at)

  /** The per-commit KIND annotation of `version`, if its writer
    * declared one ("update" / "compact"). One raw manifest read. */
  def commitKind(table: Path, version: Long): Option[String] =
    rawManifest(table, version).map(parse).collectFirst { case Kind(k) => k }

  /** The manifest line declaring `col` as a partition column — what a
    * DDL bootstrap passes as `carried` so the layout is known before
    * any data file's path can exhibit it. */
  def partColLine(col: String): String = {
    require(col.nonEmpty && !col.contains('\t') && !col.contains('\n') &&
        !col.contains('/') && !col.contains('='),
      s"partColLine: invalid partition column name '$col'")
    PartCol(col).line
  }

  /** The manifest line declaring partition-spec generation `gen` with
    * `specs` (identity names and/or `days(col)`/`bucket(n,col)`
    * transforms) — what a DDL bootstrap carries so a TRANSFORM layout
    * exists from version 0 (a streaming sink owns every version past
    * the bootstrap, so evolution must ride the bootstrap there).
    * Validates the grammar; type checks are the caller's (the schema
    * is theirs). */
  def partSpecLine(gen: Long, specs: Seq[String]): String = {
    require(gen > 0, s"partSpecLine: generation must be positive, got $gen")
    val parsed = specs.map(PartTransform.parse) // grammar gate (truncate() is loud)
    val derived = parsed.map(_.derivedName)
    require(derived.distinct == derived,
      s"partSpecLine: two specs derive the same segment name " +
        s"(${derived.mkString(", ")})")
    PartSpec(gen, parsed.map(_.spec)).line
  }

  /** Write `out` under a (possibly transform-bearing) spec: transforms
    * derive their segment column via the SAME rendering the V2 row
    * writer uses, partitionBy strips exactly the derived names (raw
    * columns stay in the payload — transform files remain
    * information-complete), identity columns ride the path as always. */
  private def writeUnderSpec(out: DataFrame, writeCols: Seq[String],
                             dataDir: Path): Unit = {
    val specs = writeCols.map(PartTransform.parse)
    // A REAL payload column named like a derived segment would be
    // silently overwritten by the derivation and then hidden by every
    // read — refuse loudly (the DDL/evolve faces refuse at declaration;
    // this catches specs smuggled in through a raw carried= bootstrap).
    specs.filterNot(_.isIdentity).foreach(t =>
      require(!out.columns.contains(t.derivedName),
        s"writeUnderSpec: payload column '${t.derivedName}' shadows " +
          s"the derived segment of ${t.spec} — rename it or drop the " +
          "transform"))
    val derived = specs.foldLeft(out) { (df, t) =>
      if (t.isIdentity) df else df.withColumn(t.derivedName, t.column(df))
    }
    writeData(derived, dataDir, specs.map(_.derivedName))
  }

  /** PARTITION-SPEC EVOLUTION — change the table's write layout
    * in ONE O(1) metadata commit, rewriting nothing (Iceberg's
    * partition-spec evolution): publishes a delta manifest whose only
    * payload is the next `PARTSPEC` generation. From this version on,
    * INSERTs (V2 and library writers that consult the snapshot's
    * `writePartitionLayout`) land `c=v/` files under the NEW spec;
    * every existing file keeps its old path and keeps pruning under
    * the spec its path exhibits (the V2 scan prunes per-file, so a
    * predicate on a new-spec column skips new-spec files and
    * conservatively admits old ones — exactly Iceberg's contract).
    * A later [[compactCommit]] rewrites the whole snapshot under the
    * live spec, un-ragging the layout. At 100 TB this is the verb
    * that turns "we picked the wrong partition key three years ago"
    * from a quarter-long backfill into one commit plus incremental
    * maintenance.
    *
    * Every new spec column must resolve NOW, string-typed: payload
    * columns by schema lookup, current path-borne partition columns by
    * the layout (path values are strings by construction) — a column
    * in neither place would brick the next INSERT, so it refuses at
    * declaration time. Returns the published version. */
  def evolvePartitionLayout(s: SparkSession, table: Path,
                            newCols: Seq[String],
                            checkpointEvery: Int = 8): Long = {
    // TRANSFORM specs: each entry is an identity column, a time
    // grain (`years/months/days/hours(col)`) or `bucket(n, col)` —
    // parse refuses unknown shapes loudly (a `truncate(4, s)` must
    // never be stored as a column name).
    val specs = newCols.map(PartTransform.parse)
    require(specs.map(_.derivedName).distinct.size == specs.size &&
        newCols.distinct == newCols,
      s"evolvePartitionLayout: duplicate columns/derived names in " +
        s"$newCols")
    specs.foreach(t => partColLine(t.rawCol)) // tab/newline/slash/= gate
    val snap = latest(table, "evolvePartitionLayout")
    val base = snap.version
    val pathCols = snap.partitionLayout.toSet
    lazy val payload = readSnapshot(s, snap,
      mergeSchema = snap.columnMappings.nonEmpty).schema
    specs.foreach {
      case IdentityPart(c) if !pathCols(c) =>
        val f = payload.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"evolvePartitionLayout: column '$c' does not exist at " +
              s"version $base of $table"))
        require(f.dataType == org.apache.spark.sql.types.StringType,
          s"evolvePartitionLayout: column '$c' is ${f.dataType.sql} — " +
            "partition values ride the path and read back as STRING; " +
            "derive a string column, or use days()/bucket()")
      case _: IdentityPart => ()
      case t =>
        // A transform derives from a PAYLOAD column (never a path-only
        // column — old files' payloads must stay derivable), with the
        // type its derivation demands; the derived segment name must
        // shadow nothing.
        val f = payload.fields.find(_.name == t.rawCol).getOrElse(
          throw new IllegalArgumentException(
            s"evolvePartitionLayout: ${t.spec} — raw column " +
              s"'${t.rawCol}' is not a payload column at version $base"))
        t match {
          case _: TimePart =>
            require(PartTransform.timeSourceTypes(f.dataType),
              s"evolvePartitionLayout: ${t.spec} needs a BIGINT " +
                s"epoch-micros or TIMESTAMP column, got ${f.dataType.sql}")
          case _: BucketPart | _: TruncatePart =>
            require(PartTransform.hashableTypes(f.dataType),
              s"evolvePartitionLayout: ${t.spec} needs a BIGINT/INT/" +
                s"STRING column, got ${f.dataType.sql}")
          case _ => ()
        }
        require(!payload.fields.exists(_.name == t.derivedName) &&
            !pathCols(t.derivedName),
          s"evolvePartitionLayout: derived segment name " +
            s"'${t.derivedName}' collides with an existing column")
    }
    val gen = snap.partitionSpecs.lastOption.map(_._1).getOrElse(0L) + 1
    produce(s, table, "evolvePartitionLayout", At(base + 1),
      checkpointEvery = checkpointEvery, held = Some(snap))(_ =>
      Staged(Delta(Seq(PartSpec(gen, specs.map(_.spec)).line)))).version
  }

  /** MATERIALIZED VIEW bootstrap: commit `agg(base snapshot)` as
    * the MV table's v0, carrying the refresh cursor (`MVOF` = the base
    * version the aggregate reflects). The MV is an ordinary graft
    * table — time-travelable, taggable, SQL-readable through the
    * catalog; only the cursor line distinguishes it. */
  def createMaterialized(s: SparkSession, base: Path, mv: Path,
      agg: DataFrame => DataFrame): Long = {
    val snap = latest(base, "createMaterialized")
    commit(s, mv, 0L, agg(snapshotWithPartitions(s, snap)),
      carried = Seq(MvOf(snap.version).line))
    0L
  }

  /** The base snapshot with path-borne partition columns re-attached
    * (flat tables read plainly) — what MV creation aggregates over, so
    * group-by-partition-column views work on partitioned bases. */
  private def snapshotWithPartitions(s: SparkSession,
                                     snap: Snapshot): DataFrame =
    if (snap.partitionLayout.isEmpty) readSnapshot(s, snap)
    else readMultiPartitionedFiles(s, snap, snap.partitionLayout, snap.files)

  /** INCREMENTAL MV REFRESH — the maintenance loop that makes a
    * 100-TB dashboard aggregate affordable: instead of recomputing
    * `agg(base)` per refresh (O(base) — the thing that kills naive
    * MVs at scale), read ONLY the rows the base appended since the
    * cursor (`addedLines` of the commits in (cursor, latest] — the
    * change feed's batch face), aggregate THAT (`aggDelta`, cost
    * O(delta)), and fold it into the standing MV rows with `merge`
    * (cost O(MV) — an aggregate table is small by construction). The
    * walk understands commit KINDs exactly as the change feed does:
    * KIND=compact commits are content-preserving and SKIP; any other
    * commit that removed files (rewrites, DV deletes) REFUSES toward
    * a full re-create — serving a stale or double-counted aggregate
    * is never an option. Partitioned bases work: delta files
    * re-attach their path-borne columns per commit dir (the
    * compaction read), so day-partitioned fact tables refresh their
    * MVs like flat ones. Publishes the merged MV as a rewrite commit
    * carrying the advanced cursor.
    *
    * DV DELETES: for SUM-mergeable aggregates a deletion is
    * SUBTRACTABLE — the rows a DV kills are exactly the key-matching
    * rows alive in the snapshot the DV scopes (read through the
    * connector, which applies every EARLIER DV, so sequential deletes
    * never double-subtract), and `negateDelta` aggregates them with
    * negated partials, folded in by the same `merge`. Callers that
    * pass `negateDelta = None` (the default) keep the append-only refusal.
    * `dropDeadGroups` runs once after all folds IFF a negative was
    * applied — the SQL face uses the MV's count(*) column to remove
    * groups whose last row died (a group a recompute would not
    * produce). Refused toward re-create: true rewrites (removed
    * manifest lines), and DVs whose origin scope is NOT the full
    * prior snapshot (a partial-scope DV's kill set is not
    * reconstructible from one snapshot read).
    *
    * Returns (mvVersion, deltaFilesRead, baseFilesTotal) — the
    * O(delta) witness; a caught-up MV publishes nothing. */
  def refreshMaterialized(s: SparkSession, base: Path, mv: Path,
      aggDelta: DataFrame => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame,
      negateDelta: Option[DataFrame => DataFrame] = None,
      dropDeadGroups: DataFrame => DataFrame = identity,
      repair: DataFrame => DataFrame = identity)
      : (Long, Int, Int) = {
    val mvSnap = latest(mv, "refreshMaterialized")
    val mvV = mvSnap.version
    val cursor = mvSnap.mvCursor.getOrElse(
      throw new IllegalArgumentException(
        s"refreshMaterialized: $mv carries no MVOF cursor — create it " +
          "via createMaterialized"))
    val baseSnap = latest(base, "refreshMaterialized")
    val bv = baseSnap.version
    val baseTotal = baseSnap.files.size
    if (bv == cursor) return (mvV, 0, baseTotal)
    val history = versions(base)
    // The walk enumerates SURVIVING manifests: if expire() removed the
    // cursor version, the first survivor's addedLines diff against a
    // vanished ancestor would return its ENTIRE manifest and every
    // already-folded row would aggregate AGAIN — the silent
    // double-count this function exists to refuse.
    require(history.contains(cursor),
      s"refreshMaterialized: the MV cursor (base version $cursor) was " +
        s"expired from $base — the delta since the cursor is no longer " +
        "enumerable; re-create the MV from the current snapshot")
    val pending = history.filter(v => v > cursor && v <= bv)
    val negatives = scala.collection.mutable.ArrayBuffer
      .empty[DataFrame]
    val deltaFiles = pending.flatMap { v =>
      commitKind(base, v) match {
        case Some("compact") => Nil // content-preserving: nothing new
        case _ =>
          val added = addedLines(base, v).map(parse)
          val dvAdds = added.collect { case d: Dv => d }
          // A true rewrite removes manifest lines — unrepresentable as
          // a delta either way; a DV delete is representable exactly
          // when the caller can negate (sum-mergeable aggregates).
          require(removedLines(base, v).isEmpty &&
              (dvAdds.isEmpty || negateDelta.isDefined),
            s"refreshMaterialized: base version $v rewrites or deletes " +
              "rows — an append-derived refresh would serve a wrong " +
              "aggregate; re-create the MV from the current snapshot")
          if (dvAdds.nonEmpty) {
            // The killed rows: key-matching rows alive in the snapshot
            // just below v. The connector read applies every EARLIER
            // DV (sequential deletes never double-subtract) and serves
            // path-borne partition columns. Scope must be the FULL
            // prior snapshot — deleteCommit (origin = v, same files)
            // and mergeCommit (origin = prev) both qualify.
            val prev = history.filter(_ < v).last
            val prevFiles = baseSnap.at(prev).files.toSet
            dvAdds.groupBy(d => (d.keyCol, d.origin)).foreach {
              case ((keyCol, origin), dvs) =>
                require(baseSnap.at(origin).files.toSet == prevFiles,
                  s"refreshMaterialized: the DV at base version $v " +
                    s"scopes origin $origin, not the full prior " +
                    "snapshot — re-create the MV")
                val keys = s.read.parquet(
                  dvs.map(d => base.resolve(d.path).toString): _*)
                val snap = s.read.format("graft-table")
                  .option("version", prev.toString)
                  .load(base.toString)
                val killed = snap.join(
                  org.apache.spark.sql.functions.broadcast(keys),
                  Seq(keyCol), "left_semi")
                negatives += negateDelta.get(killed)
            }
          }
          added.collect { case d: DataFile => d.path }
      }
    }
    if (deltaFiles.isEmpty && negatives.isEmpty) {
      // Only content-preserving commits since the cursor (compactions):
      // the rows are already right — advance the cursor as a pure-meta
      // delta, no MV row rewritten.
      produce(s, mv, "refreshMaterialized", At(mvV + 1), held = Some(mvSnap))(
        _ => Staged(Delta(Seq(MvOf(bv).line))))
      return (mvV + 1, 0, baseTotal)
    }
    // PARTITIONED bases: the delta files re-attach their
    // path-borne partition columns per commit dir — the same
    // mixed-layout read compaction uses — so a day-partitioned fact
    // table refreshes its MVs exactly like a flat one.
    val layout = baseSnap.partitionLayout
    val positive =
      if (deltaFiles.isEmpty) None
      else if (layout.isEmpty)
        Some(s.read.parquet(
          deltaFiles.map(f => base.resolve(f).toString): _*))
      else Some(readMultiPartitionedFiles(s, baseSnap, layout, deltaFiles))
    val folded = negatives.foldLeft(
      positive.fold(readSnapshot(s, mvSnap))(d =>
        merge(readSnapshot(s, mvSnap), aggDelta(d))))(merge)
    // `repair`: the caller's post-merge fix-up pass — the
    // extremum-ledger hook (groups whose deleted rows TIED a standing
    // min/max recompute from the base; everything else rides the
    // incremental fold). Identity when no deletes ran.
    val merged =
      if (negatives.isEmpty) folded else repair(dropDeadGroups(folded))
    // KIND=update: the refresh is a copy-on-write rewrite of the MV —
    // a change feed on the MV replays it as preimage/postimage pairs
    // instead of refusing an unannotated rewrite. The MVSQL definition
    // (if declared) restates like every table-wide contract: a refresh
    // must not be the commit that forgets what the MV computes.
    commit(s, mv, mvV + 1, merged,
      carried = mvSnap.linesWhere {
        case _: MvSql | _: MvAvg | _: MvFold => true
        case _ => false
      } ++ Seq(MvOf(bv).line, Kind("update").line))
    (mvV + 1, deltaFiles.size, baseTotal)
  }

  /** `ANALYZE TABLE`-shape column statistics: ONE aggregate pass
    * over the snapshot computing `approx_count_distinct` (HLL — the
    * only affordable distinct count at 100 TB) and the null count for
    * each named column, published as NDV manifest lines in an O(1)
    * delta commit. The V2 scan serves them to Catalyst as
    * `columnStats`, the input a cost-based optimizer needs to size
    * JOIN OUTPUTS (sizeInBytes/numRows only size inputs). Partition
    * columns analyze too (the snapshot re-attaches them). Returns the
    * published version. */
  def analyzeCommit(s: SparkSession, table: Path, cols: Seq[String],
                    checkpointEvery: Int = 8): Long = {
    import org.apache.spark.sql.functions.{approx_count_distinct, col,
      count, lit, when}
    require(cols.nonEmpty && cols.distinct == cols,
      s"analyzeCommit: invalid column list $cols")
    val base = latest(table, "analyzeCommit")
    val snap = snapshotWithPartitions(s, base)
    cols.foreach(c => require(snap.columns.contains(c),
      s"analyzeCommit: column '$c' does not exist at version ${base.version} " +
        s"of $table (${snap.columns.mkString(", ")})"))
    produce(s, table, "analyzeCommit", At(base.version + 1),
      checkpointEvery = checkpointEvery, held = Some(base)) { _ =>
      val row = snap.agg(
        count(lit(1)).as("__n"),
        cols.flatMap(c => Seq(
          approx_count_distinct(col(c)).as(s"d_$c"),
          count(when(col(c).isNull, lit(1))).as(s"z_$c"))): _*).head()
      Staged(Delta(cols.map(c =>
        Ndv(c, row.getAs[Long](s"d_$c"), row.getAs[Long](s"z_$c")).line)))
    }.version
  }

  /** Run an MV's stored SQL over `input` (served as `__BASE__`). */
  private def runMvSql(s: SparkSession, sql: String,
                       input: DataFrame): DataFrame = {
    val view = "graft_mv_in_" + java.util.UUID.randomUUID()
      .toString.replace("-", "")
    input.createOrReplaceTempView(view)
    try s.sql(sql.replace("__BASE__", view))
    finally s.catalog.dropTempView(view)
  }

  /** The generic partial-fold for a stored-SQL MV: union the standing
    * rows with the delta aggregate and fold every non-group column by
    * its declared operator — SUM by default (the sum/count/avg-partial
    * surface), MIN/MAX for the append-only extremum columns the
    * declaration recorded as MVFOLD lines. Column order pinned
    * to the MV's. */
  private def mvMerge(groupCols: Seq[String], old: DataFrame,
                      delta: DataFrame,
                      foldOps: Map[String, String] = Map.empty,
                      avgFolds: Seq[(String, String, String)] = Nil)
      : DataFrame = {
    import org.apache.spark.sql.functions.{col, when}
    // Served avg ratios do NOT fold — drop them from both sides,
    // fold their sum/count partials by the ordinary SUM merge, then
    // recompute each ratio over the MERGED partials.
    val served = avgFolds.map(_._1).toSet
    val foldCols = old.columns.filterNot(served.contains)
    val aggCols = foldCols.filterNot(groupCols.contains)
    def op(c: String) = foldOps.getOrElse(c, "sum")
    val merged = old.select(foldCols.map(col).toIndexedSeq: _*)
      .unionByName(delta.select(foldCols.map(col).toIndexedSeq: _*))
      .groupBy(groupCols.map(col): _*)
      .agg(aggCols.head -> op(aggCols.head),
        aggCols.tail.map(c => c -> op(c)): _*)
      .toDF(groupCols ++ aggCols: _*)
    avgFolds.foldLeft(merged) { case (df, (n, sc, cc)) =>
      df.withColumn(n, when(col(cc) > 0, col(sc).cast("double") / col(cc)))
    }.select(old.columns.map(col).toIndexedSeq: _*)
  }

  /** SQL-defined MATERIALIZED VIEW bootstrap — the CALL-surface
    * face of [[createMaterialized]]: validates the statement (must
    * reference `__BASE__`, group columns must be output columns, every
    * other output column must be BIGINT or DOUBLE — the mergeable-sum
    * restriction, refused at declaration time), runs it over the base
    * snapshot, and commits the MV carrying BOTH the cursor and the
    * definition — so the refresh needs nothing but the two tables. */
  def createMaterializedSql(s: SparkSession, base: Path, mv: Path,
      groupCols: Seq[String], sql: String): Long = {
    require(!sql.exists(c => c == '\t' || c == '\n' || c == '\r'),
      "createMaterializedSql: the statement must not contain " +
        "tab/newline (manifest lines are TAB-structured)")
    require(sql.contains("__BASE__"),
      "createMaterializedSql: the statement must reference __BASE__")
    require(groupCols.nonEmpty && groupCols.distinct == groupCols,
      s"createMaterializedSql: invalid group columns $groupCols")
    val baseSnap = latest(base, "createMaterializedSql")
    val out0 = runMvSql(s, sql, snapshotWithPartitions(s, baseSnap))
    groupCols.foreach(c => require(out0.columns.contains(c),
      s"createMaterializedSql: group column '$c' is not an output " +
        s"column of the statement (${out0.columns.mkString(", ")})"))
    // AVG REWRITE: avg(x) is mechanically derivable — the
    // DECLARATION rewrites each bare `avg(expr) AS name` into
    // maintained `sum(expr)/count(expr)` partial columns (which fold
    // by the ordinary SUM merge across appends AND DV-delete
    // negation), records the recombination as an MVAVG line, and
    // [[readMaterializedSql]] folds the ratio at serve time. DISTINCT
    // and FILTER'd avgs stay un-rewritten and fall through to the
    // mergeability gate's refusal below.
    val avgNames: Seq[String] = locally {
      import org.apache.spark.sql.catalyst.expressions.Alias
      import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average}
      out0.queryExecution.analyzed.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.flatMap(_.aggregateExpressions.collect {
        case al @ Alias(ae: AggregateExpression, _)
            if ae.aggregateFunction.isInstanceOf[Average] &&
              !ae.isDistinct && ae.filter.isEmpty => al.name
      })
    }
    val (storedSql, avgFolds) =
      if (avgNames.isEmpty) (sql, Nil)
      else rewriteAvgSql(sql, avgNames.distinct)
    avgFolds.foreach { case (n, sc, cc) =>
      Seq(sc, cc).foreach(p => require(!out0.columns.contains(p),
        s"createMaterializedSql: avg rewrite partial column '$p' " +
          s"(for avg output '$n') collides with an existing output " +
          "column — rename one"))
    }
    val out =
      if (avgNames.isEmpty) out0
      else runMvSql(s, storedSql, snapshotWithPartitions(s, baseSnap))
    require(out.columns.length > groupCols.length,
      "createMaterializedSql: the statement must produce at least one " +
        "aggregate column beyond the group columns")
    out.schema.fields.filterNot(f => groupCols.contains(f.name))
      .foreach(f => require(
        f.dataType == org.apache.spark.sql.types.LongType ||
          f.dataType == org.apache.spark.sql.types.DoubleType,
        s"createMaterializedSql: aggregate column '${f.name}' is " +
          s"${f.dataType.sql} — refreshable aggregates must fold by " +
          "SUM, so BIGINT/DOUBLE only (avg = sum + count; decimals " +
          "widen under sum and would drift the schema)"))
    // The type proxy above is necessary but not SUFFICIENT: avg(x),
    // min/max, count(DISTINCT …) and HAVING all type-check as
    // BIGINT/DOUBLE yet do NOT fold by SUM — a refresh would silently
    // serve wrong aggregates after the first delta. The
    // ANALYZED plan is the ground truth: exactly one Aggregate, every
    // aggregate function sum/count, no DISTINCT, no FILTER clause, no
    // Filter ABOVE the aggregate (HAVING re-evaluates a predicate on
    // PARTIALS at refresh time — groups could wrongly appear/vanish).
    val foldOps: Seq[(String, String)] = locally {
      import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
      val analyzed = out.queryExecution.analyzed
      val aggNodes = analyzed.collect { case a: Aggregate => a }
      require(aggNodes.length == 1,
        s"createMaterializedSql: the statement must be exactly one " +
          s"GROUP BY aggregate over __BASE__ (found ${aggNodes.length} " +
          "Aggregate nodes)")
      analyzed.foreach {
        case f: Filter
            if f.child.collectFirst { case a: Aggregate => a }.isDefined =>
          throw new IllegalArgumentException(
            "createMaterializedSql: HAVING (a filter above the " +
              "aggregate) is not refreshable — a delta refresh would " +
              "re-evaluate the predicate on partial sums; filter in a " +
              "query over the MV instead")
        case _ => ()
      }
      // Each NON-GROUP output must be a BARE aggregate (one
      // Alias(AggregateExpression)) — a COMPOSITE like sum(x)/count(*)
      // or sum(x)+1 contains only legal Sum/Count nodes yet does NOT
      // fold by SUM (old_avg + delta_avg ≠ avg): the expression shape
      // is the contract, not just the functions inside it.
      aggNodes.head.aggregateExpressions.foreach {
        // A bare passthrough column is legal ONLY as a DECLARED group
        // column: `SELECT g, id, sum(v) … GROUP BY g, id` with
        // groupCols=[g] would type-check and then SUM `id` across
        // deltas in the fold.
        case a: org.apache.spark.sql.catalyst.expressions.Attribute
            if groupCols.contains(a.name) => ()
        case a: org.apache.spark.sql.catalyst.expressions.Attribute =>
          throw new IllegalArgumentException(
            s"createMaterializedSql: output column '${a.name}' is " +
              "grouped in the statement but not declared in " +
              s"group_cols ($groupCols) — the refresh fold would SUM " +
              "it; declare it as a group column")
        case al: org.apache.spark.sql.catalyst.expressions.Alias
            if groupCols.contains(al.name) => ()
        // The avg rewrite's OWN served-ratio composite: it does
        // not fold by SUM — the merge drops it and recomputes it from
        // the merged partials, so the shape is safe BY CONSTRUCTION
        // (the MVAVG line is the witness). User composites still
        // refuse below.
        case al: org.apache.spark.sql.catalyst.expressions.Alias
            if avgFolds.exists(_._1 == al.name) => ()
        case al: org.apache.spark.sql.catalyst.expressions.Alias =>
          require(al.child.isInstanceOf[AggregateExpression],
            s"createMaterializedSql: output '${al.name}' is a " +
              "COMPOSITE over aggregates — it does not fold by SUM " +
              "(e.g. sum(x)/count(*) summed across deltas is not the " +
              "ratio); emit the bare sum/count parts and recombine " +
              "when reading")
        case other => throw new IllegalArgumentException(
          s"createMaterializedSql: unsupported output expression " +
            s"$other — group columns and bare sum/count aggregates only")
      }
      aggNodes.head.aggregateExpressions.flatMap(_.collect {
        case ae: AggregateExpression => ae
      }).foreach { ae =>
        require(!ae.isDistinct,
          "createMaterializedSql: DISTINCT aggregates do not fold by " +
            "SUM across deltas (a value seen in two deltas would " +
            "double-count) — use an exact recompute instead")
        require(ae.filter.isEmpty,
          "createMaterializedSql: FILTER (WHERE …) aggregate clauses " +
            "are not validated for mergeability — move the predicate " +
            "to the statement's WHERE clause")
        ae.aggregateFunction match {
          case _: Sum | _: Count => ()
          // min/max: incrementally maintainable for APPEND-ONLY
          // deltas (new_min = min(old_min, delta_min)) — admitted and
          // recorded as MVFOLD lines below; the DV-delete refresh
          // refuses while they live (an extremum is not subtractable).
          case _: Min | _: Max => ()
          case other => throw new IllegalArgumentException(
            s"createMaterializedSql: aggregate '${other.prettyName}' " +
              "does not fold across deltas — sum/count (and avg via " +
              "the sum+count rewrite) fold by SUM, min/max fold for " +
              s"append-only bases; '${other.prettyName}' has no fold")
        }
      }
      // The non-SUM fold map this MV's merge applies per column.
      aggNodes.head.aggregateExpressions.collect {
        case al: org.apache.spark.sql.catalyst.expressions.Alias =>
          al.child match {
            case ae: AggregateExpression =>
              ae.aggregateFunction match {
                case _: Min => Some(al.name -> "min")
                case _: Max => Some(al.name -> "max")
                case _ => None
              }
            case _ => None
          }
      }.flatten
    }
    commit(s, mv, 0L, out, carried = Seq(MvOf(baseSnap.version).line,
      MvSql(groupCols, storedSql).line) ++
      avgFolds.map { case (n, sc, cc) => MvAvg(n, sc, cc).line } ++
      foldOps.map { case (c, op) => MvFold(c, op).line })
    0L
  }

  /** Textual select-list rewrite backing the avg declaration: each
    * `avg(expr) AS name` item (for `names`, located in the statement's
    * TOP-LEVEL select list, paren- and quote-aware) becomes the SERVED
    * ratio in place — `CASE WHEN count(expr) > 0 THEN CAST(sum(expr)
    * AS DOUBLE) / count(expr) END AS name` — with the maintained
    * `sum(expr) AS name__asum, count(expr) AS name__acnt` partials
    * appended at the END of the select list (the ratio is
    * PHYSICALLY stored so every SQL surface serves the declared shape;
    * the partials are what the refresh folds, and the connector hides
    * them). An avg the ANALYZER saw but this parse cannot locate
    * refuses loudly — the rewrite must be exact, never a guess.
    * Returns the rewritten statement and the (name, sumCol, countCol)
    * fold triples. */
  private def rewriteAvgSql(sql: String, names: Seq[String])
      : (String, Seq[(String, String, String)]) = {
    val lower = sql.toLowerCase(java.util.Locale.ROOT)
    def isWordAt(i: Int, w: String): Boolean =
      lower.startsWith(w, i) &&
        (i == 0 || { val p = lower.charAt(i - 1)
          !p.isLetterOrDigit && p != '_' }) &&
        (i + w.length >= sql.length || { val n = lower.charAt(i + w.length)
          !n.isLetterOrDigit && n != '_' })
    var depth = 0
    var inStr = false
    var selEnd = -1 // index just past the top-level SELECT keyword
    var fromAt = -1 // index of the matching top-level FROM keyword
    var i = 0
    while (i < sql.length && fromAt < 0) {
      val c = sql.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ if depth == 0 =>
          if (selEnd < 0 && isWordAt(i, "select")) selEnd = i + 6
          else if (selEnd >= 0 && isWordAt(i, "from")) fromAt = i
        case _ => ()
      }
      i += 1
    }
    require(selEnd >= 0 && fromAt > selEnd,
      "createMaterializedSql: could not locate the top-level " +
        "SELECT … FROM span to rewrite avg() — write the sum/count " +
        "partials explicitly")
    // Paren- and quote-aware comma split of the select list.
    val items = scala.collection.mutable.ArrayBuffer.empty[String]
    locally {
      val cur = new StringBuilder
      var d = 0
      var q = false
      sql.substring(selEnd, fromAt).foreach {
        case c if q => cur += c; if (c == '\'') q = false
        case '\'' => cur += '\''; q = true
        case '(' => d += 1; cur += '('
        case ')' => d -= 1; cur += ')'
        case ',' if d == 0 => items += cur.result(); cur.clear()
        case c => cur += c
      }
      items += cur.result()
    }
    val AvgItem =
      """(?is)^\s*avg\s*\((.+)\)\s+as\s+([A-Za-z_][A-Za-z0-9_]*|`[^`]+`)\s*$""".r
    def alias(a: String): String =
      if (a.startsWith("`")) a.substring(1, a.length - 1) else a
    val exprByName =
      scala.collection.mutable.LinkedHashMap.empty[String, String]
    val rewritten = items.map {
      case AvgItem(expr, a) if names.contains(alias(a)) =>
        val n = alias(a)
        exprByName(n) = expr
        s" (CASE WHEN count($expr) > 0 THEN CAST(sum($expr) AS " +
          s"DOUBLE) / count($expr) END) AS $n "
      case it => it
    }
    names.foreach { n =>
      val hits = items.count {
        case AvgItem(_, a) => alias(a) == n
        case _ => false
      }
      require(hits == 1,
        s"createMaterializedSql: avg output '$n' must appear exactly " +
          s"once as a top-level `avg(expr) AS $n` select item (found " +
          s"$hits) — write the sum/count partials explicitly")
    }
    val partials = names.map { n =>
      val e = exprByName(n)
      s" sum($e) AS ${n}__asum, count($e) AS ${n}__acnt "
    }
    (sql.substring(0, selEnd) + (rewritten ++ partials).mkString(",") +
      sql.substring(fromAt),
      names.map(n => (n, s"${n}__asum", s"${n}__acnt")))
  }

  /** Serve a SQL-defined MV in its DECLARED shape: every avg the
    * CREATE rewrote into sum/count partials recombines here
    * (`CAST(sum AS DOUBLE)/count`, NULL where the count is 0 — the
    * all-NULL-input group), the partial columns drop, and every other
    * column serves as stored. MVs without avg serve identically to
    * [[read]]. */
  def readMaterializedSql(s: SparkSession, mv: Path,
                          asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, when}
    val snap = asOf.fold(latest(mv, "readMaterializedSql"))(snapshot(mv, _))
    val folds = snap.mvAvgFolds
    val raw = readSnapshot(s, snap)
    if (folds.isEmpty) return raw
    if (folds.forall(f => raw.columns.contains(f._1))) {
      // The served ratio is physically stored (create/refresh
      // recompute it from the merged partials) — just hide the
      // maintenance partials, like the connector schema does.
      val partials = folds.flatMap(f => Seq(f._2, f._3)).toSet
      return raw.select(raw.columns.filterNot(partials.contains)
        .map(col).toIndexedSeq: _*)
    }
    val bySum = folds.map(f => (f._2, f)).toMap
    val cntCols = folds.map(_._3).toSet
    raw.select(raw.columns.toIndexedSeq.flatMap {
      case c if bySum.contains(c) =>
        val (name, sc, cc) = bySum(c)
        Some(when(col(cc) > 0, col(sc).cast("double") / col(cc))
          .as(name))
      case c if cntCols.contains(c) => None
      case c => Some(col(c))
    }: _*)
  }

  /** Refresh a SQL-defined MV from its STORED definition — the
    * [[refreshMaterialized]] walk with aggDelta/merge derived from the
    * MVSQL line; the definition carries like a CHECK, so the verb
    * needs nothing but the two table paths. */
  def refreshMaterializedSql(s: SparkSession, base: Path,
                             mv: Path): (Long, Int, Int) = {
    import org.apache.spark.sql.functions.col
    val mvSnap = latest(mv, "refreshMaterializedSql")
    val (groupCols, sql) = mvSnap.mvDefinition.getOrElse(
      throw new IllegalArgumentException(
        s"refreshMaterializedSql: $mv carries no MVSQL definition — " +
          "create it via createMaterializedSql"))
    // The MV's count(*) output column, if the definition has one —
    // what detects a group whose LAST row a delete killed (its merged
    // count hits 0 and a recompute would not produce it). Located from
    // the ANALYZED plan over a zero-row frame: plan-only, no job.
    lazy val countStarCol: Option[String] = {
      import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
      import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
      val probe = runMvSql(s, sql,
        snapshotWithPartitions(s, latest(base, "refreshMaterializedSql"))
          .limit(0))
      probe.queryExecution.analyzed.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
          a.aggregateExpressions.collectFirst {
            case al @ Alias(ae: AggregateExpression, _)
                if (ae.aggregateFunction match {
                  case c: Count => c.children == Seq(Literal(1))
                  case _ => false
                }) => al.name
          }
      }.flatten
    }
    val foldOps = mvSnap.mvFoldOps
    val avgFolds = mvSnap.mvAvgFolds
    // Per-DV KILLED-ROW AGGREGATES captured for the extremum repair —
    // the negation closure already runs the statement over each DV's
    // killed rows, so the repair folds those aggregates instead of
    // re-scanning the killed rows a second time.
    val killedAggs = scala.collection.mutable.ArrayBuffer
      .empty[DataFrame]
    // Group outputs resolved to their BASE-side columns (zero-row
    // analyzed probe, the countStarCol pattern): Some(map) when every
    // grouping output is a bare base attribute or a direct alias of
    // one — the repair can then PRE-FILTER the base scan to affected
    // groups (layout pruning on the base columns applies). An aliased-
    // to-an-expression group (legal at declaration) yields None: the
    // repair aggregates the full snapshot and filters the RESULT —
    // costlier but never resolves an MV output name against the wrong
    // base column.
    lazy val groupBaseCols: Option[Map[String, String]] = {
      import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
      val probe = runMvSql(s, sql,
        snapshotWithPartitions(s, latest(base, "refreshMaterializedSql"))
          .limit(0))
      probe.queryExecution.analyzed.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
          val m = groupCols.flatMap { g =>
            a.aggregateExpressions.collectFirst {
              case attr: AttributeReference if attr.name == g =>
                g -> attr.name
              case al @ Alias(src: AttributeReference, _)
                  if al.name == g => g -> src.name
            }
          }.toMap
          // Two outputs aliasing the same base column would collide in
          // the pre-filter key frame — fall back to the result filter.
          if (m.keySet == groupCols.toSet &&
              m.values.toSeq.distinct.size == m.size) Some(m) else None
      }.flatten
    }
    try refreshMaterialized(s, base, mv,
      aggDelta = df => runMvSql(s, sql, df),
      merge = (old, delta) =>
        mvMerge(groupCols, old, delta, foldOps, avgFolds),
      // DV-delete subtraction: aggregate the killed rows with the
      // stored statement, then NEGATE every sum-foldable column — the
      // ordinary merge folds it in (sum-mergeability is exactly what
      // createMaterializedSql validated). EXTREMUM columns are
      // not subtractable, so their negation emits NULL (which the
      // min/max merge folds away); whether a deletion actually REMOVED
      // an extremum is decided by the repair pass below, per group.
      negateDelta = Some { killed =>
        require(countStarCol.isDefined,
          "refreshMaterializedSql: a DV-delete refresh needs a " +
            "count(*) aggregate column in the MV definition to detect " +
            "emptied groups — re-create the MV (or declare it with " +
            "count(*))")
        val agg = runMvSql(s, sql, killed)
        // persist: this frame is evaluated once
        // inside the negation fold and AGAIN in the repair's
        // killed-extremum union — without the cache the killed rows'
        // whole lineage (snapshot semi-join included) runs twice per
        // refresh. O(groups)-sized; unpersisted in the finally below.
        if (foldOps.nonEmpty) killedAggs += agg.persist()
        agg.select(agg.columns.map(c =>
          if (groupCols.contains(c)) col(c)
          else if (foldOps.contains(c))
            org.apache.spark.sql.functions.lit(null)
              .cast(agg.schema(c).dataType).as(c)
          else (org.apache.spark.sql.functions.lit(0) - col(c)).as(c))
          .toIndexedSeq: _*)
      },
      dropDeadGroups = df =>
        countStarCol.fold(df)(c => df.where(col(c) > 0)),
      // EXTREMUM REPAIR:
      // min/max fold incrementally through a DV delete UNLESS the
      // deleted rows' per-group extremum TIES the merged one — the
      // pre-repair merged extremum folds over every row ever appended
      // (deletes only NULL out), so killed_min >= merged_min always,
      // and equality is exactly "the standing extremum may be among
      // the dead". Only TIED groups recompute, from the CURRENT base
      // snapshot restricted to those groups (broadcast semi-join on
      // the group keys — layout pruning on group columns applies);
      // the common delete-misses-the-extremum case stays O(delta),
      // and the rare tie costs the affected groups' rows, never a
      // whole-MV re-create. A fully-emptied group always ties, lands
      // in the affected set, and recomputes to zero rows — vanishing
      // exactly like the count(*)-detected death.
      repair = { merged =>
        if (foldOps.isEmpty || killedAggs.isEmpty) merged
        else {
          import org.apache.spark.sql.functions.broadcast
          val foldCols = foldOps.keys.toSeq.sorted
          // Fold the per-DV killed aggregates to one extremum row per
          // group (min of mins / max of maxes — each frame is already
          // aggregated, so this is an O(groups) fold, no row re-scan).
          val killedAgg = killedAggs
            .map(df => df.select((groupCols ++ foldCols)
              .map(col).toIndexedSeq: _*))
            .reduce(_ unionByName _)
            .groupBy(groupCols.map(col): _*)
            .agg(foldCols.head -> foldOps(foldCols.head),
              foldCols.tail.map(c => c -> foldOps(c)): _*)
            .toDF(groupCols ++ foldCols: _*)
          // NULL-SAFE keys everywhere below: a NULL group key is an
          // ordinary group (groupBy keeps it), and a plain equi-join
          // would skip exactly that group's repair — serving the
          // deleted extremum forever. Prefixed projections also give
          // each side fresh exprIds, so the self-lineage joins
          // (affected derives from merged) resolve unambiguously.
          def renamed(df: DataFrame, p: String): DataFrame =
            df.toDF(df.columns.map(p + _).toIndexedSeq: _*)
          val k = renamed(killedAgg, "__k_")
          val tie = foldOps.toSeq.sortBy(_._1).map { case (c, op) =>
            if (op == "min") k(s"__k_$c") <= merged(c)
            else k(s"__k_$c") >= merged(c)
          }.reduce(_ || _)
          val affected = merged.join(k,
              groupCols.map(g => merged(g) <=> k(s"__k_$g"))
                .reduce(_ && _))
            .where(tie)
            .select(groupCols.map(g => merged(g)): _*).distinct()
          val aff = renamed(affected, "__a_")
          val snap = snapshotWithPartitions(s,
            latest(base, "refreshMaterializedSql"))
          val scoped = groupBaseCols match {
            case Some(m) =>
              // Pre-filter the base scan to the affected groups — a
              // pure optimization (the result-side filter below is
              // what's load-bearing), valid only when every group
              // output names a real base column.
              val keys = affected.select(groupCols.map(g =>
                col(g).as("__b_" + m(g))): _*)
              snap.join(broadcast(keys),
                m.values.toSeq.map(bc =>
                  snap(bc) <=> keys(s"__b_$bc")).reduce(_ && _),
                "left_semi")
            case None => snap
          }
          val recomputed = runMvSql(s, sql, scoped)
          val fixed = recomputed.join(broadcast(aff),
            groupCols.map(g => recomputed(g) <=> aff(s"__a_$g"))
              .reduce(_ && _),
            "left_semi")
          merged.join(broadcast(aff),
              groupCols.map(g => merged(g) <=> aff(s"__a_$g"))
                .reduce(_ && _),
              "left_anti")
            .unionByName(fixed)
            .select(merged.columns.map(col).toIndexedSeq: _*)
        }
      })
    finally killedAggs.foreach(df =>
      try df.unpersist() catch { case scala.util.control.NonFatal(_) => () })
  }

  /** The CHECK constraints live at a version, in declaration order —
    * see [[Snapshot.checks]]. */
  def checkConstraints(table: Path, version: Long): Seq[String] =
    snapshot(table, version).checks

  /** Declare a CHECK constraint as a METADATA-ONLY commit — after
    * validating the CURRENT snapshot against it (the Delta ADD
    * CONSTRAINT contract: a constraint the existing data violates must
    * be refused, which costs one scan — the one place this surface
    * pays O(table), exactly as production formats do). From this
    * version on, every commit that adds rows validates them, and every
    * full manifest restates the constraint ([[produce]]); only a raw
    * [[publish]] of hand-built lines can shed one. */
  def constraintCommit(s: SparkSession, table: Path, version: Long,
                       expr: String, checkpointEvery: Int = 8): Seq[String] = {
    require(!expr.exists(c => c == '\t' || c == '\n' || c == '\r'),
      "constraintCommit: the expression must not contain tab/newline " +
        "(manifest lines are TAB-structured)")
    val base = latest(table, "constraintCommit")
    produce(s, table, "constraintCommit", At(version),
      checkpointEvery = checkpointEvery, held = Some(base)) { _ =>
      // Footer-provable snapshot: proving over the manifest's data files
      // is a SUPERSET of the live rows (DV-killed rows included), so a
      // footer pass that proves every file proves the snapshot; any
      // unprovable shape (incl. pre-rename footer names on old files)
      // falls back to the scan, which stays the refusing authority.
      if (!footerProvesChecks(table, base.files, Seq(expr)))
        violations(readSnapshot(s, base), Seq(expr)).foreach {
          case (e, n) => require(n == 0L,
            s"constraintCommit: $n existing row(s) violate CHECK ($e) — " +
              "a constraint the current snapshot breaks must not be declared")
        }
      Staged(Delta(Seq(Check(expr).line)))
    }.lines
  }

  /** Violation counts per CHECK expression over `data`, in ONE
    * aggregate pass (`count_if((e) = false)` — NULL passes, the SQL
    * CHECK rule). */
  private def violations(data: DataFrame,
                         cs: Seq[String]): Seq[(String, Long)] =
    if (cs.isEmpty) Nil
    else {
      val row = data.selectExpr(cs.zipWithIndex.map { case (e, i) =>
        s"count_if(($e) = false) AS c$i"
      }: _*).head()
      cs.zipWithIndex.map { case (e, i) => (e, row.getLong(i)) }
    }

  /** `(path, min, max)` of a version's data files — see
    * [[Snapshot.statsManifest]]. */
  def statsManifest(table: Path, version: Long): Seq[(String, Long, Long)] =
    snapshot(table, version).statsManifest

  /** Every column name an ADDCOL commit EVER introduced at this table,
    * across all of history — one raw-manifest read per version, no
    * resolution. A change feed replaying from below an ADDCOL commit
    * serves pre-add files whose footers lack the column; the mapping
    * may since have been RETIRED by a compaction (head footers carry
    * the column), so gating the typed-NULL fallback on the mappings
    * still live at head would crash a history replay on
    * getFieldIndex. The union over history is the correct gate: a name
    * in it was introduced by the add-column contract at SOME version,
    * so a footer missing it is legitimate; any other missing field
    * stays a loud failure. (Checkpoint manifests restating live ADDCOL
    * lines only re-add names already collected.) */
  def historicalAddColNames(table: Path): Set[String] =
    versions(table).flatMap(v => rawManifest(table, v).map(parse).collect {
      case Mapping("addcol", c, _) => c
    }).toSet

  /** Metadata-only RENAME commit: one manifest line, zero data files
    * touched — at 100 TB a column rename must not cost a rewrite.
    * Readers apply the mapping to files written under the old name;
    * time travel below `version` still sees the old name. */
  def renameCommit(table: Path, version: Long, from: String, to: String,
                   checkpointEvery: Int = 8): Seq[String] = {
    val base = priorSnapshot(table, version)
    require(base.forall(_.deletionVectors.isEmpty),
      s"renameCommit: live deletion vectors at $table — compact " +
        "(folding the DVs) first; mappings and DVs cannot coexist")
    // A transform in the LIVE WRITE SPEC derives its segments from
    // the raw column BY NAME — renaming it would brick every future
    // INSERT (the writer's schema lookup) and compaction's
    // re-derivation. Retired generations don't block (their files'
    // payloads are complete; only their conservative pruning is
    // forfeited), so the remedy — evolve the layout away first — is
    // actually satisfiable. Same dead-end guard as dropColumnCommit.
    val liveSpecTransforms = base.toSeq.flatMap(_.writePartitionLayout)
      .map(PartTransform.parse).filterNot(_.isIdentity)
    require(!liveSpecTransforms.exists(_.rawCol == from),
      s"renameCommit: '$from' feeds the live partition spec " +
        s"(${liveSpecTransforms.map(_.spec).mkString(", ")}) — evolve " +
        "the layout away from it first")
    schemaCommit(table, version, "renameCommit", base,
      Mapping("rename", from, to), checkpointEvery)
  }

  /** Metadata-only type-WIDENING commit (e.g. int → bigint): readers
    * cast files written under the narrow type at plan time. */
  def widenCommit(table: Path, version: Long, col: String, sqlType: String,
                  checkpointEvery: Int = 8): Seq[String] = {
    val base = priorSnapshot(table, version)
    require(base.forall(_.deletionVectors.isEmpty),
      s"widenCommit: live deletion vectors at $table — compact " +
        "(folding the DVs) first; mappings and DVs cannot coexist")
    schemaCommit(table, version, "widenCommit", base,
      Mapping("widen", col, sqlType), checkpointEvery)
  }

  /** Metadata-only ADD COLUMN commit — the most common schema
    * evolution, at the same O(1) cost as rename/widen: one manifest
    * line, zero data files touched. The column is NULLABLE by
    * construction (every pre-existing row reads as a typed NULL — a
    * NOT NULL add would instantly be violated by history, so callers
    * refuse it before reaching here); later writers see it in the
    * table schema and land real values; the next compaction
    * materializes the union and retires the mapping. Time travel
    * below `version` sees the old schema. `sqlType` must be on the
    * writer's primitive surface (long/int/double/float/boolean/
    * string) so a post-add INSERT can actually write it; the name
    * must be new — re-adding a live column refuses. */
  def addColumnCommit(s: SparkSession, table: Path, version: Long,
                      name: String, sqlType: String,
                      checkpointEvery: Int = 8): Seq[String] = {
    require(name.nonEmpty && !name.contains('\t') && !name.contains('\n'),
      s"addColumnCommit: invalid column name '$name'")
    val dt = org.apache.spark.sql.types.DataType.fromDDL(sqlType)
    require(Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.DoubleType,
        org.apache.spark.sql.types.FloatType,
        org.apache.spark.sql.types.BooleanType,
        org.apache.spark.sql.types.StringType).contains(dt),
      s"addColumnCommit: type $sqlType is outside the writer's " +
        "primitive surface (bigint/int/double/float/boolean/string)")
    // Plan-time schema only (one footer + the mapping fold) — the
    // metadata-only contract must not pay a per-file footer sweep.
    val base = snapshot(table, version - 1)
    val existing = readSnapshot(s, base).schema.fieldNames
    require(!existing.exists(_.equalsIgnoreCase(name)),
      s"addColumnCommit: column '$name' already exists in " +
        s"${existing.mkString("[", ", ", "]")}")
    // Path-borne partition columns are not in the payload schema the
    // check above reads — a duplicate add would shadow them. Hidden
    // transform segments reserve their names too.
    require(!base.partitionLayout.exists(_.equalsIgnoreCase(name)) &&
        !base.hiddenSegmentNames.exists(_.equalsIgnoreCase(name)),
      s"addColumnCommit: '$name' is a partition-layout column or " +
        "hidden transform segment")
    // The mirror of deleteCommit's guard: an evolution over live DVs
    // creates the same both-sides-refuse dead end.
    require(base.deletionVectors.isEmpty,
      s"addColumnCommit: live deletion vectors at $table — compact " +
        "(folding the DVs) first; mappings and DVs cannot coexist")
    // Re-adding a name a live DROPCOL removed would resurrect the old
    // files' STALE BYTES (the reader finds the footer field and serves
    // it) — refuse until a compaction physically drops them.
    require(!base.columnMappings
        .exists(m => m._1 == "dropcol" && m._2.equalsIgnoreCase(name)),
      s"addColumnCommit: '$name' was dropped by a live DROPCOL " +
        "mapping — compact first so the old files' bytes are gone")
    schemaCommit(table, version, "addColumnCommit", Some(base),
      Mapping("addcol", name, sqlType), checkpointEvery)
  }

  /** Metadata-only DROP COLUMN commit — one manifest line, zero
    * data files touched: readers stop serving the column immediately,
    * the bytes stay in the files until the next compaction physically
    * drops them, time travel below `version` still sees it. Refused
    * while the column is LOAD-BEARING — the table's stats column, a
    * bloom/secondary-zonemap index column, a live DV's key, a
    * partition-layout column, or referenced by a CHECK constraint —
    * and while rename/widen mappings live (they record footer-time
    * names; a drop recorded under an evolved name would miss its
    * target). Dropping the last column refuses: a table needs a
    * schema. */
  def dropColumnCommit(s: SparkSession, table: Path, version: Long,
                       name: String,
                       checkpointEvery: Int = 8): Seq[String] = {
    val base = snapshot(table, version - 1)
    require(base.columnMappings.forall(m =>
        m._1 == "addcol" || m._1 == "dropcol"),
      s"dropColumnCommit: rename/widen mappings live at version " +
        s"${base.version} — compact first (they record footer-time " +
        "column names)")
    val schema = readSnapshot(s, base).schema
    require(schema.fieldNames.contains(name),
      s"dropColumnCommit: column '$name' is not in " +
        s"${schema.fieldNames.mkString("[", ", ", "]")}")
    require(schema.fieldNames.length > 1,
      s"dropColumnCommit: '$name' is the table's last column")
    require(!base.statsColumns.contains(name),
      s"dropColumnCommit: '$name' is the table's stats column — " +
        "compact onto another stats column first")
    require(!base.bloomColumns.contains(name) &&
        !base.secondaryStats.exists(_._2 == name),
      s"dropColumnCommit: '$name' carries a skipping index — compact " +
        "first")
    require(base.deletionVectors.isEmpty,
      s"dropColumnCommit: live deletion vectors at $table — compact " +
        "(folding the DVs) first; mappings and DVs cannot coexist")
    require(!base.partitionLayout.contains(name) &&
        !base.writePartitionLayout.contains(name),
      s"dropColumnCommit: '$name' is a partition-layout column")
    // A transform in the LIVE WRITE SPEC derives its segments from a
    // payload column — dropping the raw column would brick every
    // future INSERT. Retired generations don't block (evolve-away is
    // the documented remedy and must actually work).
    require(!base.writePartitionLayout.map(PartTransform.parse)
        .exists(t => !t.isIdentity && t.rawCol == name),
      s"dropColumnCommit: '$name' feeds the live partition spec " +
        s"(${base.writePartitionLayout.mkString(", ")}) — " +
        "evolve the layout away from it first")
    // CHECK references are resolved the way Spark will resolve them:
    // parse the constraint and collect its attribute references,
    // compared case-INSENSITIVELY (Spark's resolution is — a
    // constraint written `CHECK (V >= 0)` over column `v` binds, and a
    // guard that missed it would let the drop brick every subsequent
    // write on an unresolvable-column error). Parsing also
    // stops the false refusal when the name appears only inside a
    // string literal. An unparseable constraint (none of ours are)
    // falls back to the conservative case-insensitive word regex.
    val dropLc = name.toLowerCase(java.util.Locale.ROOT)
    base.checks.foreach { expr =>
      val referenced: Boolean =
        try s.sessionState.sqlParser.parseExpression(expr).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.last.toLowerCase(java.util.Locale.ROOT)
        }.contains(dropLc)
        catch {
          case scala.util.control.NonFatal(_) =>
            java.util.regex.Pattern.compile(
              "\\b" + java.util.regex.Pattern.quote(name) + "\\b",
              java.util.regex.Pattern.CASE_INSENSITIVE)
              .matcher(expr).find()
        }
      require(!referenced,
        s"dropColumnCommit: '$name' is referenced by CHECK ($expr) — " +
          "drop or rewrite the constraint first")
    }
    schemaCommit(table, version, "dropColumnCommit", Some(base),
      Mapping("dropcol", name, ""), checkpointEvery)
  }

  /** A schema verb's one-line delta on `base`: no data file is staged,
    * so no session is needed. */
  private def schemaCommit(table: Path, version: Long, what: String,
      base: Option[Snapshot], m: Mapping, checkpointEvery: Int): Seq[String] =
    produce(SparkSession.active, table, what, At(version),
      checkpointEvery = checkpointEvery, held = base)(_ =>
      Staged(Delta(Seq(m.line)))).lines

  /** The deletion vectors live at a version — see
    * [[Snapshot.deletionVectors]] and [[deleteCommit]]. */
  def deletionVectors(table: Path, version: Long): Seq[(String, String, Long)] =
    snapshot(table, version).deletionVectors

  /** The live deletion vectors of one read, resolved on the driver.
    * `covering` maps each covered data file to the DV files whose
    * origin scope lists it; a file appended after a delete is covered
    * by none, so re-inserted keys survive. `keys` holds each DV file's
    * non-NULL keys, decoded once and held in `keyType` — the data
    * column's type, in the representation [[groupValue]] reads it
    * (Catalyst's internal one). Both read paths (`readLive` and the
    * graft-table scan) filter rows against these sets; neither opens
    * a DV file again. */
  private[graft] final case class LiveDeletes(keyCol: String,
      keyType: DataType, keys: Map[String, Set[Any]],
      covering: Map[String, Seq[String]]) {
    /** The keys the given covering DVs delete, as one set. */
    def keysOf(dvFiles: Seq[String]): Set[Any] = dvFiles match {
      case Seq(one) => keys(one)
      case many => many.iterator.flatMap(keys).toSet
    }
  }

  /** Resolve the deletion vectors live in `snap` for a read of
    * `files`; None when there are none. Each DV's scope is its origin
    * version's file list: an origin on the snapshot's own BASE chain
    * costs no IO, any other reads each manifest once. Only DVs that
    * cover a file of `files` are decoded, each exactly once.
    * `keyTypeOf` gives the data column's type for the key column. */
  private[graft] def liveDeletes(snap: Snapshot, files: Seq[String],
      keyTypeOf: String => DataType): Option[LiveDeletes] = {
    val dvs = snap.deletionVectors
    val table = snap.table
    if (dvs.isEmpty) None
    else {
      val keyCols = dvs.map(_._2).distinct
      require(keyCols.size == 1, s"mixed deletion-vector key columns at " +
        s"version ${snap.version}: $keyCols")
      val wanted = files.toSet
      val (_, pairs) = dvs.groupBy(_._3).toSeq.sortBy(_._1)
        .foldLeft((snap, Seq.empty[(String, String)])) {
          case ((known, acc), (origin, group)) =>
            val scope = known.at(origin)
            (scope, acc ++ scope.files.filter(wanted)
              .flatMap(f => group.map(dv => f -> dv._1)))
        }
      val covering = pairs.groupMap(_._1)(_._2)
        .map { case (f, d) => f -> d.distinct.sorted }
      val used = covering.valuesIterator.flatten.toSeq.distinct.sorted
      val keyType = keyTypeOf(keyCols.head)
      val keys = used.zip(mapFooters(used)(dv =>
        dvKeys(table.resolve(dv), keyCols.head, keyType))).toMap
      Some(LiveDeletes(keyCols.head, keyType, keys, covering))
    }
  }

  /** One DV file's non-NULL keys, converted from the DV's own column
    * type to `keyType` the way Spark's `=` compares mixed numeric
    * types: a key outside `keyType`'s range, or with no exact value in
    * it, matches no row and is dropped. Non-numeric types must match
    * exactly. */
  private def dvKeys(file: Path, keyCol: String,
                     keyType: DataType): Set[Any] = {
    val p = new org.apache.hadoop.fs.Path(file.toString)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, footerConf))
    val out = Set.newBuilder[Any]
    try {
      val dvType = footerSchema(p, r.getFooter)(keyCol).dataType
      val schema = r.getFooter.getFileMetaData.getSchema
      val io = new org.apache.parquet.io.ColumnIOFactory().getColumnIO(schema)
      var pages = r.readNextRowGroup()
      while (pages != null) {
        val rows = io.getRecordReader(pages,
          new org.apache.parquet.example.data.simple.convert
            .GroupRecordConverter(schema))
        var n = 0L
        while (n < pages.getRowCount) {
          val g = rows.read()
          val i = g.getType.getFieldIndex(keyCol)
          if (g.getFieldRepetitionCount(i) > 0)
            out ++= coerceKey(groupValue(g, i, dvType), dvType, keyType)
          n += 1
        }
        pages = r.readNextRowGroup()
      }
    } finally r.close()
    out.result()
  }

  private[graft] def coerceKey(v: Any, from: DataType, to: DataType): Option[Any] =
    (from, to) match {
      case _ if from == to => Some(v)
      case (_: NumericType, _: NumericType) =>
        val integralKey = v.isInstanceOf[java.lang.Long] ||
          v.isInstanceOf[java.lang.Integer] ||
          v.isInstanceOf[java.lang.Short] || v.isInstanceOf[java.lang.Byte]
        val double = v match {
          case d: Decimal => d.toDouble
          case n: java.lang.Number => n.doubleValue
        }
        // The key's exact value, for integral and decimal columns.
        lazy val exact: Option[java.math.BigDecimal] = v match {
          case d: Decimal => Some(d.toJavaBigDecimal)
          case n: java.lang.Number if integralKey =>
            Some(java.math.BigDecimal.valueOf(n.longValue))
          case _ => Option.when(!double.isNaN && !double.isInfinite)(
            java.math.BigDecimal.valueOf(double))
        }
        def whole(lo: Long, hi: Long): Option[Long] = exact
          .flatMap(b => scala.util.Try(b.longValueExact).toOption)
          .filter(l => l >= lo && l <= hi)
        to match {
          case DoubleType => Some(double)
          case FloatType =>
            if (integralKey) Some(v.asInstanceOf[java.lang.Number].floatValue)
            else Option.when(double.toFloat.toDouble == double)(double.toFloat)
          case ByteType => whole(Byte.MinValue, Byte.MaxValue).map(_.toByte)
          case ShortType => whole(Short.MinValue, Short.MaxValue).map(_.toShort)
          case IntegerType => whole(Int.MinValue, Int.MaxValue).map(_.toInt)
          case LongType => whole(Long.MinValue, Long.MaxValue)
          case t: DecimalType =>
            exact
              .flatMap(b => scala.util.Try(b.setScale(t.scale)).toOption)
              .filter(_.precision <= t.precision)
              .map(Decimal(_, t.precision, t.scale))
          case _ => None
        }
      case _ => throw new IllegalArgumentException(
        s"deletion-vector keys of type ${from.simpleString} cannot be " +
          s"compared with column type ${to.simpleString}")
    }

  /** Field `i` of a parquet-mr row as Catalyst holds a `dt` value
    * internally (epoch micros for timestamps, epoch days for dates,
    * UTF8String, Decimal, GenericArrayData for the format's one nested
    * shape, the standard 3-level list). The caller checks for NULL. */
  private[graft] def groupValue(g: org.apache.parquet.example.data.Group,
      i: Int, dt: DataType): Any = dt match {
    case LongType | TimestampType | TimestampNTZType => g.getLong(i, 0)
    case IntegerType | DateType => g.getInteger(i, 0)
    case ShortType => g.getInteger(i, 0).toShort
    case ByteType => g.getInteger(i, 0).toByte
    case DoubleType => g.getDouble(i, 0)
    case FloatType => g.getFloat(i, 0)
    case BooleanType => g.getBoolean(i, 0)
    case StringType =>
      org.apache.spark.unsafe.types.UTF8String
        .fromBytes(g.getBinary(i, 0).getBytes)
    case t: DecimalType =>
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
      g.getType.getType(i).asPrimitiveType.getPrimitiveTypeName match {
        case INT32 => Decimal(g.getInteger(i, 0).toLong, t.precision, t.scale)
        case INT64 => Decimal(g.getLong(i, 0), t.precision, t.scale)
        case _ => Decimal(new java.math.BigDecimal(
          new java.math.BigInteger(g.getBinary(i, 0).getBytes), t.scale),
          t.precision, t.scale)
      }
    case ArrayType(elem, _) =>
      val lg = g.getGroup(i, 0)
      val n = lg.getFieldRepetitionCount(0)
      val vals = new Array[Any](n)
      var j = 0
      while (j < n) {
        val el = lg.getGroup(0, j)
        vals(j) =
          if (el.getFieldRepetitionCount(0) == 0) null
          else groupValue(el, 0, elem)
        j += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(vals)
    case other => throw new IllegalStateException(
      s"unsupported column type ${other.simpleString} in a parquet row")
  }

  /** MERGE-ON-READ DELETE — the cheap-delete answer of every modern
    * table format (Delta deletion vectors / Iceberg delete files):
    * instead of rewriting every data file that contains a doomed row
    * (copy-on-write — cost O(touched files), the [[transact]] shape),
    * the commit writes ONLY a tiny key-list sidecar and carries the
    * previous version's data lines BYTE-VERBATIM; readers decode the
    * live deletion vectors once on the driver ([[liveDeletes]]) and
    * drop the rows whose key they list. Delete cost is O(deleted
    * keys) regardless of table size — at 100 TB the difference
    * between a GDPR erasure finishing in seconds or rewriting
    * terabytes. The debt is read-time (every read decodes and applies
    * the deleted keys), repaid when a compaction commit
    * ([[transact]] or `commit`) materializes the surviving rows and
    * drops the DV lines — exactly the merge-on-read → copy-on-write
    * fold production tables schedule.
    *
    * A DV is SCOPED to the data files listed at its ORIGIN version
    * (recorded in the manifest line): a later append that re-inserts
    * a deleted key produces a file the DV does not cover, so the new
    * row SURVIVES — delete-then-reinsert behaves like every
    * sequence-numbered table format, not like an eternal tombstone
    * (the trap an unscoped key list would be). Returns the published
    * lines. */
  def deleteCommit(s: SparkSession, table: Path, version: Long,
                   keys: DataFrame, keyCol: String,
                   checkpointEvery: Int = 8): Seq[String] =
    deleteOn(s, table, version, priorSnapshot(table, version), keys, keyCol,
      checkpointEvery)

  /** [[deleteCommit]] on the latest snapshot the caller already holds
    * (the SQL DELETE's): one version past it. */
  private[graft] def deleteCommit(s: SparkSession, base: Snapshot,
      keys: DataFrame, keyCol: String): Seq[String] =
    deleteOn(s, base.table, base.version + 1, Some(base), keys, keyCol, 8)

  private def deleteOn(s: SparkSession, table: Path, version: Long,
      base: Option[Snapshot], keys: DataFrame, keyCol: String,
      checkpointEvery: Int): Seq[String] = {
    // A DV and live schema mappings MUST NOT coexist (readLive and the
    // connector both refuse the combination) — and critically, the
    // resolution path would be bricked: compaction reads through
    // readLive, which refuses too. Refuse at COMMIT time, where the
    // user still has a working table and a working remedy.
    require(base.forall(_.columnMappings.isEmpty),
      s"deleteCommit: schema-evolution mappings live at $table — " +
        "compact first (a DV over a mapped version would make every " +
        "read, and the compaction that fixes it, refuse)")
    // A DV keyed on a PARTITION-LAYOUT column would poison every
    // subsequent scan: the column rides the file PATH, not the
    // payload, so the reader's per-row key lookup has no field to
    // read — the table would commit fine and then fail on read.
    // Refuse up front; a partition-valued delete is a file-level
    // operation (drop the partition's files via a rewrite commit),
    // not a row-level DV.
    require(!base.exists(_.partitionLayout.contains(keyCol)),
      s"deleteCommit: key column '$keyCol' is a partition-layout " +
        "column — its values ride file paths, not row payloads, so a " +
        "deletion vector cannot apply; drop the partition's files via " +
        "a rewrite commit instead")
    val dvDir = table.resolve("dv").resolve(
      f"v$version%06d-" + java.util.UUID.randomUUID().toString.take(8))
    // A delete is additive metadata (data lines are never removed, a
    // DV line is added), so it publishes as a delta like an append.
    produce(s, table, "deleteCommit", At(version),
      checkpointEvery = checkpointEvery, held = base) { _ =>
      writeData(keys.select(keyCol), dvDir)
      Staged(Delta(partFiles(table, dvDir).map(Dv(_, keyCol, version).line)))
    }.lines
  }

  /** MERGE (upsert) as ONE atomic merge-on-read commit — the row-level
    * `MERGE INTO … WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT` every
    * production table format serves: matched keys' old rows die, the
    * update rows (matched or new) appear, atomically. Instead of the
    * copy-on-write rewrite ([[transact]] — cost O(touched files)), the
    * commit publishes a deletion vector over the update KEYS plus the
    * update rows as ordinary data files, in a single manifest — cost
    * O(update batch), never O(table), which at 100 TB is the difference
    * between an upsert stream keeping up and falling hours behind.
    *
    * The DV's origin is pinned to the BASE version (latest at commit
    * time), so its scope covers only pre-merge files: the update rows
    * written by this same commit carry the very keys the DV lists, and
    * origin scoping is what lets them survive (the sequence-number
    * semantics [[deleteCommit]] documents, doing double duty here).
    * The read-time debt and its compaction repayment are identical to
    * a plain delete. Returns the merge's published version. */
  def mergeCommit(s: SparkSession, table: Path, updates: DataFrame,
                  keyCol: String, checkpointEvery: Int = 8): Long = {
    val snap = latest(table, "mergeCommit")
    val base = snap.version
    require(snap.columnMappings.isEmpty,
      s"mergeCommit: schema-evolution mappings live at $table — " +
        "compact first (a DV over a mapped version would make every " +
        "read, and the compaction that fixes it, refuse)")
    val version = base + 1
    val dvDir = table.resolve("dv").resolve(
      f"v$version%06d-merge-" + java.util.UUID.randomUUID().toString.take(8))
    val dataDir = newDataDir(table, version)
    // The upsert's new rows are validated against the CHECK contract
    // (the DV cannot introduce a violation) and join the base's
    // skipping indexes instead of carrying unprunable plain lines until
    // the next compaction.
    produce(s, table, "mergeCommit", At(version),
      checkpointEvery = checkpointEvery, held = Some(snap)) { _ =>
      writeData(updates.select(keyCol).distinct(), dvDir)
      writeData(updates, dataDir)
      stagedIn(table, dataDir, Delta(
        partFiles(table, dvDir).map(Dv(_, keyCol, base).line) ++
          indexedLines(s, table, dataDir, Some(snap))))
    }.version
  }

  /** Append at a PINNED version — the streaming-sink shape (version =
    * micro-batch id, so a replayed batch's publish hits the version
    * conflict and exactly-once falls out of the commit point). Same
    * delta/checkpoint metadata cost as [[appendCommit]], on the latest
    * version (sink numbering is sparse: empty micro-batches publish
    * nothing), without the retry loop: the caller owns conflict
    * semantics. */
  def commitAppend(s: SparkSession, table: Path, version: Long,
                   df: DataFrame, checkpointEvery: Int = 8): Seq[String] = {
    val dataDir = newDataDir(table, version)
    produce(s, table, "commitAppend", At(version, beyondLatest = true),
      checkpointEvery = checkpointEvery) { _ =>
      writeData(df, dataDir)
      stagedIn(table, dataDir, Delta(partFiles(table, dataDir)))
    }.lines
  }

  /** The V2 batch write's commit point: executors staged `files` under
    * `dataDir`, and the driver publishes them on the latest version,
    * rebasing on a lost race (one more manifest write, never a data
    * rewrite). An append is a delta whose lines join the base's
    * skipping indexes; an overwrite is a full manifest restating the
    * declarations and the CHECK contract. `held` is the snapshot the
    * write was planned on. Only the message-named `files` are
    * committed: an orphan a zombie task attempt left in `dataDir` stays
    * invisible. */
  private[graft] def commitStaged(s: SparkSession, table: Path, what: String,
      held: Option[Snapshot], dataDir: Path, files: Seq[String],
      overwrite: Boolean): Long =
    produce(s, table, what, Next, Rebase(10), held = held) { base =>
      require(overwrite || base.isDefined,
        s"$what: batch append needs a committed version at $table to " +
          "append to — bootstrap the table via VersionedTable.commit first")
      val lines = indexedLines(s, table, dataDir, base, files.toSet)
      Staged(if (overwrite) Full(lines, Seq(Declarations(true), Checks))
        else Delta(lines), files)
    }.version

  /** The streaming sink's commit of one epoch's staged `files` at
    * `version`: a plain delta on the latest version (see
    * [[commitAppend]]), reusing `held` — the snapshot the sink was
    * planned on — while it is still the latest. */
  private[graft] def commitEpoch(s: SparkSession, held: Snapshot,
      version: Long, files: Seq[String]): Unit =
    produce(s, held.table, "graft-table sink",
      At(version, beyondLatest = true), held = Some(held))(_ =>
      Staged(Delta(files), files))

  /** Range read with FILE-LEVEL skipping: plans over only the files
    * whose [min, max] overlaps [lo, hi], then re-applies the predicate
    * (stats prune files; they do not filter rows). Returns the frame
    * plus (filesRead, filesTotal) so callers can witness that pruning
    * actually happened. */
  def readRange(s: SparkSession, table: Path, statsCol: String,
                lo: Long, hi: Long,
                version: Option[Long] = None): (DataFrame, Int, Int) = {
    import org.apache.spark.sql.functions.col
    val snap = snapshotAt(table, version)
    val v = snap.version
    require(snap.columnMappings.isEmpty,
      s"readRange at version $v: schema mappings could have renamed " +
        s"'$statsCol' since the stats were recorded — use read() or " +
        "compact first")
    val all = snap.statsManifest
    require(all.nonEmpty,
      s"readRange at version $v of $table: the manifest lists no data files")
    val live = all.filter { case (_, mn, mx) => mx >= lo && mn <= hi }
    // Deletion vectors COMPOSE with stats pruning: the DV key
    // filter applies to the pruned file set exactly as read()
    // applies it to the full set — a DV's origin scope covers a
    // subset the same way it covers the whole, so a GDPR-erased
    // table keeps its range reads without waiting for compaction.
    val df =
      if (live.isEmpty)
        // No file can match: an empty frame with the right schema,
        // derived from ONE file's footer without reading its rows.
        s.read.parquet(table.resolve(all.head._1).toString).limit(0)
      else readLive(s, snap, live.map(_._1))
    (df.where(col(statsCol) >= lo && col(statsCol) <= hi),
      live.size, all.size)
  }

  /** PARTITIONED commit: `partitionBy(partCol)` layout, every leaf
    * file recorded in the manifest with its partition value riding
    * the path (`…/<partCol>=<value>/part-*.parquet` — the Hive
    * convention IS the per-file partition record). Pair with
    * [[readPartitions]] for manifest-level partition pruning. */
  def commitPartitioned(s: SparkSession, table: Path, version: Long,
                        df: DataFrame, partCol: String,
                        carried: Seq[String] = Nil,
                        statsCol: Option[String] = None,
                        rowCounts: Boolean = false): Seq[String] =
    commitPartitionedMulti(s, table, version, df, Seq(partCol), carried,
      statsCol, rowCounts)

  /** [[commitPartitioned]] with SEVERAL partition columns — the
    * day-one real layout ((date, region), (lang, shard)): values nest
    * as `c1=v1/c2=v2/…` path segments in declaration order, every
    * reader parses all segments ([[readPartitions]] prunes on any of
    * them), and stats/ROWS compose per file exactly as single-column
    * layouts do. */
  def commitPartitionedMulti(s: SparkSession, table: Path, version: Long,
                             df: DataFrame, partCols: Seq[String],
                             carried: Seq[String] = Nil,
                             statsCol: Option[String] = None,
                             rowCounts: Boolean = false): Seq[String] = {
    require(partCols.nonEmpty && partCols.distinct == partCols,
      s"commitPartitioned: invalid partition columns $partCols")
    val dataDir = newDataDir(table, version)
    produce(s, table, "commitPartitioned", At(version)) { _ =>
      writeData(df, dataDir, partCols)
      val files = statsCol match {
        // Partition value in the path AND per-file min/max on the line:
        // the two orthogonal skipping mechanisms compose on one manifest
        // entry ([[readPartitionRange]] consumes both).
        case Some(c) =>
          statsRowsLines(fileColStats(s, table, dataDir, c), rowCounts) :+
            StatsCol(c).line
        case None =>
          // Row counts without a stats column: one footer-free count
          // pass grouped on file (the same shape as the stats pass).
          partFiles(table, dataDir) ++
            (if (rowCounts) fileRowsLines(s, table, dataDir) else Nil)
      }
      stagedIn(table, dataDir, Full(carried ++ files))
    }.lines
  }

  /** [[fileRowsLines]] with zero-row synthesis (`ROWS <f> 0` for
    * files the count pass never saw) — every staged file gets a line. */
  private def fileRowsLinesAll(s: SparkSession, table: Path,
                               dataDir: Path): Seq[String] = {
    val counted = fileRowsLines(s, table, dataDir)
    val seen = counted.map(fileOfLine).toSet
    (counted ++ partFiles(table, dataDir).filterNot(seen)
      .map(Rows(_, 0L).line)).sorted
  }

  /** Per-file `ROWS` manifest lines for every parquet file under
    * `dataDir` — row counts come straight from the footers the write
    * just produced: a count pass over freshly-written files
    * re-reads the commit's own data, O(new data) where O(new files)
    * suffices. Zero-row files contribute no line (matching the old
    * aggregation pass, whose groupBy never saw them —
    * [[fileRowsLinesAll]] synthesizes those). */
  private def fileRowsLines(s: SparkSession, table: Path,
                            dataDir: Path): Seq[String] =
    mapFooters(partFiles(table, dataDir)) { f =>
      val n = footerBlocks(table.resolve(f)).map(_.getRowCount).sum
      if (n == 0L) None else Some(Rows(f, n).line)
    }.flatten.sorted

  /** One Hadoop conf for all footer reads — Configuration construction
    * parses the default XML resources (~15 ms), which at one instance
    * per footer would cost more than the Spark job the footer path
    * replaces. Hadoop Configuration is thread-safe for reads. */
  private lazy val footerConf = new org.apache.hadoop.conf.Configuration()

  /** The Spark schema of one parquet file, read from its footer
    * exactly as Spark's parquet schema inference reads it: the row
    * schema a Spark writer stores, else the footer's parquet schema
    * converted under `conf`. */
  private def footerSchema(file: Path,
      conf: org.apache.spark.sql.internal.SQLConf): StructType = {
    val p = new org.apache.hadoop.fs.Path(file.toString)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, footerConf))
    try footerSchema(p, r.getFooter, conf) finally r.close()
  }

  private def footerSchema(p: org.apache.hadoop.fs.Path,
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      conf: org.apache.spark.sql.internal.SQLConf =
        org.apache.spark.sql.internal.SQLConf.get): StructType =
    org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      .readSchemaFromFooter(new org.apache.parquet.hadoop.Footer(p, footer),
        new org.apache.spark.sql.execution.datasources.parquet
          .ParquetToSparkSchemaConverter(conf))

  /** The footer's row-group metadata for one parquet file. */
  private def footerBlocks(file: Path)
      : Seq[org.apache.parquet.hadoop.metadata.BlockMetaData] = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toString), footerConf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      import scala.jdk.CollectionConverters._
      r.getRowGroups.asScala.toSeq
    } finally r.close()
  }

  /** Map `f` over files on a bounded pool — footer reads are tiny
    * (one seek + a few KB) and independent; reading a 32-file commit's
    * footers sequentially would waste most of the latency. */
  private def mapFooters[A](files: Seq[String])(f: String => A): Seq[A] =
    if (files.sizeIs <= 1) files.map(f)
    else {
      import scala.concurrent.{Await, Future, ExecutionContext}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = footerPool
      Await.result(Future.traverse(files)(x => Future(f(x))), Duration.Inf)
    }

  private lazy val footerPool =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, Runtime.getRuntime.availableProcessors()),
        r => { val t = new Thread(r, "graft-footer"); t.setDaemon(true); t }))

  /** FOOTER-derived [[fileColStats]]: real table
    * formats aggregate parquet footer statistics into the manifest at
    * write time instead of re-scanning the rows they just wrote — the
    * commit-time stats pass was the one place this protocol re-read
    * its own commit. Applicable exactly when the column is a physical
    * INT32/INT64 whose footer value IS the manifest's long stat under
    * the established zonemap units: plain int/long,
    * TIMESTAMP(MICROS) instant or NTZ (= epoch micros, matching
    * unix_micros / ntzMicrosSql), DATE (= epoch days, matching
    * unix_date). DECIMAL-annotated ints are REFUSED (footer stats are
    * unscaled; the aggregation pass truncates values) as is every
    * other shape — `None` sends the caller to the aggregation pass,
    * so exotic columns keep byte-identical manifests. Per file:
    * all-null (or stats-less) row groups are skipped for min/max like
    * the aggregation's null-ignoring min/max; a file with NO usable
    * non-null chunk takes the never-skippable full range; zero-row
    * files are omitted (callers' *All variants synthesize them). */
  private[graft] def footerColStats(table: Path, dataDir: Path, statsCol: String)
      : Option[Seq[(String, Long, Long, Long)]] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
    // Per file: Some(None) = zero rows (omitted; *All variants
    // synthesize), Some(Some(t)) = a usable stat, None = this file
    // cannot be served from footers -> the whole column falls back.
    val perFile = mapFooters(partFiles(table, dataDir)) { f =>
      val blocks = footerBlocks(table.resolve(f))
      val rows = blocks.map(_.getRowCount).sum
      if (rows == 0L) Some(None)
      else {
        import scala.jdk.CollectionConverters._
        val chunks = blocks.map(_.getColumns.asScala.find(c =>
          c.getPath.size == 1 && c.getPath.iterator().next() == statsCol))
        if (chunks.exists(_.isEmpty)) None // column absent -> fallback
        else {
          val cols = chunks.map(_.get)
          val shapeOk = cols.forall { c =>
            val p = c.getPrimitiveType
            val ann = p.getLogicalTypeAnnotation
            (p.getPrimitiveTypeName == INT64 || p.getPrimitiveTypeName == INT32) &&
            (ann match {
              case null => true
              case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
              case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => true
              case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
                i.isSigned && (i.getBitWidth == 32 || i.getBitWidth == 64)
              case _ => false // DECIMAL/TIME/... -> aggregation pass
            })
          }
          if (!shapeOk) None
          else {
            var mn = Long.MaxValue; var mx = Long.MinValue; var any = false
            var usable = true
            cols.foreach { c =>
              val st = c.getStatistics
              if (st == null) usable = false
              else if (st.hasNonNullValue) {
                val (lo, hi) = st.genericGetMin match {
                  case l: java.lang.Long =>
                    (l.longValue, st.genericGetMax.asInstanceOf[java.lang.Long].longValue)
                  case i: java.lang.Integer =>
                    (i.longValue, st.genericGetMax.asInstanceOf[java.lang.Integer].longValue)
                  case _ => usable = false; (0L, 0L)
                }
                if (usable) { mn = math.min(mn, lo); mx = math.max(mx, hi); any = true }
              } else if (!(st.isNumNullsSet && st.getNumNulls == c.getValueCount)) {
                // no min/max AND not provably all-null: stats unusable
                usable = false
              }
            }
            if (!usable) None
            else Some(Some((f, if (any) mn else Long.MinValue,
              if (any) mx else Long.MaxValue, rows)))
          }
        }
      }
    }
    if (perFile.exists(_.isEmpty)) None
    else Some(perFile.flatMap(_.get).sortBy(_._1))
  }

  /** Attempt to PROVE the declared CHECK constraints hold for every
    * row of the staged `files` from parquet FOOTER statistics alone
    * — the [[footerColStats]] write-time-stats
    * discipline applied to constraint enforcement, so the common clean
    * commit pays O(new files) metadata reads instead of a second full
    * scan of its own data. Strictly SOUND, never complete: `true` only
    * when every constraint is a conjunction of provable shapes —
    * `col <op> <integer literal>` (and mirrors) over a plain
    * signed-int INT32/INT64 column, or `col IS NOT NULL` over any
    * column — AND every file's row groups prove them. Anything else
    * (other predicate shapes, DECIMAL/DATE/TIMESTAMP annotations whose
    * footer units or scales differ from SQL literals, partition-borne
    * columns absent from footers, missing or exotic statistics, an
    * unsatisfiable conjunction) returns `false` and the caller runs
    * the unchanged enforcement scan, which stays the single source of
    * refusal decisions and messages. NULL semantics match the scan's
    * `count_if(expr = false)`: a NULL comparison is not a violation,
    * so all-null row groups pass range conjuncts vacuously, while
    * IS NOT NULL demands a recorded zero null count outright. Parquet
    * int min/max stats are exact (truncation applies only to binary),
    * so min ≥ lo ∧ max ≤ hi genuinely bounds every non-null value. */
  private[graft] def footerProvesChecks(table: Path, files: Seq[String],
                                        cs: Seq[String]): Boolean = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
    import scala.util.control.NonFatal
    if (cs.isEmpty || files.isEmpty) return false
    def intLit(e: ce.Expression): Option[Long] = e match {
      case ce.Literal(v: Byte, _)  => Some(v.toLong)
      case ce.Literal(v: Short, _) => Some(v.toLong)
      case ce.Literal(v: Int, _)   => Some(v.toLong)
      case ce.Literal(v: Long, _)  => Some(v)
      case u: ce.UnaryMinus =>
        // -Long.MinValue overflows; bail to the scan on that corner.
        intLit(u.child).filter(_ != Long.MinValue).map(v => -v)
      case _ => None
    }
    def colName(e: ce.Expression): Option[String] = e match {
      case a: UnresolvedAttribute if a.nameParts.size == 1 =>
        Some(a.nameParts.head)
      case _ => None
    }
    def conjuncts(e: ce.Expression): Seq[ce.Expression] = e match {
      case ce.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other        => Seq(other)
    }
    // One conjunct -> a not-null demand (Left) or an inclusive
    // allowed-value interval (Right); None -> shape the footer cannot
    // decide. `a <op> b` with the literal on either side: `v >= col`
    // is `col <= v`, and the strict forms shift by one (bailing on
    // the representable-range edges instead of overflowing).
    def need(e: ce.Expression)
        : Option[Either[String, (String, Long, Long)]] = e match {
      case ce.IsNotNull(c) => colName(c).map(Left(_))
      case ce.GreaterThanOrEqual(a, b) =>
        (colName(a), intLit(b), colName(b), intLit(a)) match {
          case (Some(n), Some(v), _, _) => Some(Right((n, v, Long.MaxValue)))
          case (_, _, Some(n), Some(v)) => Some(Right((n, Long.MinValue, v)))
          case _ => None
        }
      case ce.GreaterThan(a, b) =>
        (colName(a), intLit(b), colName(b), intLit(a)) match {
          case (Some(n), Some(v), _, _) if v < Long.MaxValue =>
            Some(Right((n, v + 1, Long.MaxValue)))
          case (_, _, Some(n), Some(v)) if v > Long.MinValue =>
            Some(Right((n, Long.MinValue, v - 1)))
          case _ => None
        }
      case ce.LessThanOrEqual(a, b) =>
        (colName(a), intLit(b), colName(b), intLit(a)) match {
          case (Some(n), Some(v), _, _) => Some(Right((n, Long.MinValue, v)))
          case (_, _, Some(n), Some(v)) => Some(Right((n, v, Long.MaxValue)))
          case _ => None
        }
      case ce.LessThan(a, b) =>
        (colName(a), intLit(b), colName(b), intLit(a)) match {
          case (Some(n), Some(v), _, _) if v > Long.MinValue =>
            Some(Right((n, Long.MinValue, v - 1)))
          case (_, _, Some(n), Some(v)) if v < Long.MaxValue =>
            Some(Right((n, v + 1, Long.MaxValue)))
          case _ => None
        }
      case ce.EqualTo(a, b) =>
        (colName(a), intLit(b), colName(b), intLit(a)) match {
          case (Some(n), Some(v), _, _) => Some(Right((n, v, v)))
          case (_, _, Some(n), Some(v)) => Some(Right((n, v, v)))
          case _ => None
        }
      case _ => None
    }
    val parsed: Option[Seq[Either[String, (String, Long, Long)]]] =
      try {
        val all = cs.flatMap(c =>
          conjuncts(CatalystSqlParser.parseExpression(c))).map(need)
        if (all.exists(_.isEmpty)) None else Some(all.flatten)
      } catch { case NonFatal(_) => None }
    parsed.exists { needs =>
      val notNull = needs.collect { case Left(n) => n }.toSet
      val ranges = needs.collect { case Right(t) => t }
        .groupBy(_._1).map { case (n, ts) =>
          n -> ((ts.map(_._2).max, ts.map(_._3).min)) }
      // An unsatisfiable conjunction can still pass for all-null rows;
      // leave that corner to the scan rather than reason about it.
      ranges.valuesIterator.forall { case (lo, hi) => lo <= hi } && {
        def longRange(st: org.apache.parquet.column.statistics.Statistics[_])
            : Option[(Long, Long)] = st.genericGetMin match {
          case l: java.lang.Long => Some((l.longValue,
            st.genericGetMax.asInstanceOf[java.lang.Long].longValue))
          case i: java.lang.Integer => Some((i.longValue,
            st.genericGetMax.asInstanceOf[java.lang.Integer].longValue))
          case _ => None
        }
        def proveFile(f: String): Boolean =
          try footerBlocks(table.resolve(f)).forall { b =>
            b.getRowCount == 0L || {
              def chunk(col: String) = b.getColumns.asScala.find(c =>
                c.getPath.size == 1 && c.getPath.iterator().next() == col)
              notNull.forall(col => chunk(col).exists { c =>
                val st = c.getStatistics
                st != null && st.isNumNullsSet && st.getNumNulls == 0L
              }) &&
              ranges.forall { case (col, (lo, hi)) =>
                chunk(col).exists { c =>
                  val p = c.getPrimitiveType
                  val plainInt = (p.getPrimitiveTypeName == INT32 ||
                      p.getPrimitiveTypeName == INT64) &&
                    (p.getLogicalTypeAnnotation match {
                      case null => true
                      case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
                        i.isSigned
                      case _ => false // DECIMAL/DATE/TIMESTAMP units differ
                    })
                  val st = c.getStatistics
                  plainInt && st != null && {
                    if (st.hasNonNullValue)
                      longRange(st).exists { case (mn, mx) =>
                        mn >= lo && mx <= hi }
                    else // no min/max: provably all-null passes (NULL
                         // is not a violation); anything else bails
                      st.isNumNullsSet && st.getNumNulls == c.getValueCount
                  }
                }
              }
            }
          } catch { case NonFatal(_) => false }
        mapFooters(files)(proveFile).forall(identity)
      }
    }
  }

  /** Per-file `(path, min, max, rowCount)` for every parquet file under
    * `dataDir`. Served from the parquet FOOTERS the write just produced
    * whenever the column's physical shape makes the footer value the
    * zonemap unit ([[footerColStats]]) — O(new files) metadata
    * reads instead of a distributed re-scan of the commit's own data;
    * otherwise the original aggregation pass ([[aggColStats]]) runs,
    * keeping manifests byte-identical for exotic column shapes. */
  private def fileColStats(s: SparkSession, table: Path, dataDir: Path,
                           statsCol: String): Seq[(String, Long, Long, Long)] =
    footerColStats(table, dataDir, statsCol)
      .getOrElse(aggColStats(s, table, dataDir, statsCol))

  /** The distributed stats pass (flat or partitioned layout —
    * input_file_name resolves leaves either way); all-NULL files fall
    * back to the never-skippable full range. One pass over the new
    * files only; the row count rides the same aggregation for free. */
  private[graft] def aggColStats(s: SparkSession, table: Path, dataDir: Path,
                                 statsCol: String): Seq[(String, Long, Long, Long)] = {
    import org.apache.spark.sql.functions.{col, count, expr, input_file_name, lit, max, min}
    val df = s.read.parquet(dataDir.toString)
    // Zonemap units per column type: TIMESTAMP flavors store
    // epoch MICROS (a plain CAST(ts AS LONG) would store SECONDS —
    // a floor'd max wrongly prunes sub-second probes), DATE stores
    // epoch DAYS, numerics store their long value. The scan's admits
    // coerces probe values to the same units.
    val sc = df.schema.fields.find(_.name == statsCol)
      .map(_.dataType) match {
      case Some(org.apache.spark.sql.types.TimestampType) =>
        expr(s"unix_micros(`$statsCol`)")
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        // TZ-independent — see PartTransform.ntzMicrosSql: the
        // session-zone CAST route would skew zonemaps written from a
        // non-UTC session against the scan's as-if-UTC probes.
        expr(graft.operators.PartTransform.ntzMicrosSql(statsCol))
      case Some(org.apache.spark.sql.types.DateType) =>
        expr(s"unix_date(`$statsCol`)").cast("long")
      case _ => col(statsCol).cast("long")
    }
    df.groupBy(input_file_name().as("f"))
      .agg(min(sc).as("mn"),
        max(sc).as("mx"),
        count(lit(1)).as("n"))
      .collect()
      .map { r =>
        val p = java.nio.file.Paths.get(new java.net.URI(r.getString(0)))
        val (mn, mx) =
          if (r.isNullAt(1) || r.isNullAt(2)) (Long.MinValue, Long.MaxValue)
          else (r.getLong(1), r.getLong(2))
        (table.relativize(p).toString, mn, mx, r.getLong(3))
      }.toIndexedSeq.sortBy(_._1)
  }

  private def fileStatsLines(s: SparkSession, table: Path, dataDir: Path,
                             statsCol: String): Seq[String] =
    statsRowsLines(fileColStats(s, table, dataDir, statsCol), rows = false)

  /** [[fileColStats]] over `dataDir` with ZERO-ROW SYNTHESIS: a
    * zero-row parquet file (a truncate/compact of an emptied table)
    * contributes no aggregation row — it gets the never-skippable full
    * range and ROWS 0, so stats-bearing manifests can always cover
    * every staged file (a data-line-less manifest is unreadable). */
  private def fileColStatsAll(s: SparkSession, table: Path, dataDir: Path,
      statsCol: String): Seq[(String, Long, Long, Long)] = {
    val st = fileColStats(s, table, dataDir, statsCol)
    val seen = st.map(_._1).toSet
    st ++ partFiles(table, dataDir).filterNot(seen).sorted
      .map(f => (f, Long.MinValue, Long.MaxValue, 0L))
  }

  /** Commit with zonemaps on SEVERAL columns: `cols.head` rides the
    * data lines (the [[commitWithStats]] layout, fully
    * backward-compatible), the rest ride `STATS` meta lines — the
    * manifest shape a Z-ORDERED write needs, where every interleaved
    * dimension's per-file range is tight and a box predicate should
    * prune on all of them at once. One distributed stats pass per
    * column over the new files only. */
  def commitMultiStats(s: SparkSession, table: Path, version: Long,
                       df: DataFrame, cols: Seq[String],
                       carried: Seq[String] = Nil): Seq[String] = {
    require(cols.nonEmpty, "commitMultiStats: at least one stats column")
    val dataDir = newDataDir(table, version)
    lazy val lines = {
      writeData(df, dataDir)
      fileStatsLines(s, table, dataDir, cols.head) ++
        cols.tail.flatMap(secondaryLines(s, table, dataDir, _)) :+
        StatsCol(cols.head).line
    }
    produce(s, table, "commitMultiStats", At(version))(_ =>
      stagedIn(table, dataDir, Full(carried ++ lines)))
    lines
  }

  /** Multi-dimensional BOX read: plans over only the files whose
    * zonemap on EVERY requested column overlaps its range (primary
    * data-line stats + secondary STATS lines; columns without stats
    * never prune), then re-applies the predicates row-level. Returns
    * (frame, filesRead, perDimAdmitted, filesTotal) — the per-dim map
    * counts files each dimension ALONE admits, so a caller can
    * witness that every dimension's pruning contributed (the point of
    * a z-order layout over a single-column sort). */
  def readBox(s: SparkSession, table: Path,
              ranges: Seq[(String, Long, Long)],
              version: Option[Long] = None)
      : (DataFrame, Int, Map[String, Int], Int) = {
    import org.apache.spark.sql.functions.{col, lit}
    val snap = snapshotAt(table, version)
    val v = snap.version
    val all = snap.statsManifest
    require(all.nonEmpty,
      s"readBox at version $v of $table: the manifest lists no data files")
    val colStats: Map[String, Map[String, (Long, Long)]] =
      (snap.statsCol.map(c =>
        c -> all.map { case (f, mn, mx) => f -> (mn, mx) }.toMap).toSeq ++
        snap.secondaryStats.groupBy(_._2).map { case (c, rows) =>
          c -> rows.map(r => r._1 -> (r._3, r._4)).toMap
        }).toMap
    def admits(f: String, c: String, lo: Long, hi: Long): Boolean =
      colStats.get(c).flatMap(_.get(f)).forall { case (mn, mx) =>
        mx >= lo && mn <= hi
      }
    val files = all.map(_._1)
    val perDim = ranges.map { case (c, lo, hi) =>
      c -> files.count(admits(_, c, lo, hi))
    }.toMap
    val live = files.filter(f =>
      ranges.forall { case (c, lo, hi) => admits(f, c, lo, hi) })
    val df =
      if (live.isEmpty)
        s.read.parquet(table.resolve(files.head).toString).limit(0)
      else readLive(s, snap, live)
    val filtered = ranges.foldLeft(df) { case (d, (c, lo, hi)) =>
      d.where(col(c) >= lit(lo) && col(c) <= lit(hi))
    }
    (filtered, live.size, perDim, files.size)
  }

  /** Per-file `BLOOM` manifest lines for `bloomCol` over every parquet
    * file under `dataDir` — one distributed pass (map-side-combined
    * 1 KiB buffers; see [[FileBloom.agg]]), file-count-sized collect. */
  private def fileBloomLines(s: SparkSession, table: Path, dataDir: Path,
                             bloomCol: String): Seq[String] = {
    import org.apache.spark.sql.functions.{col, input_file_name, udaf}
    val bloomAgg = udaf(FileBloom.agg)
    s.read.parquet(dataDir.toString)
      .groupBy(input_file_name().as("f"))
      .agg(bloomAgg(col(bloomCol).cast("string")).as("bits"))
      .collect()
      .map { r =>
        val p = java.nio.file.Paths.get(new java.net.URI(r.getString(0)))
        val b64 = java.util.Base64.getEncoder
          .encodeToString(r.getAs[Array[Byte]]("bits"))
        Bloom(table.relativize(p).toString, bloomCol, b64).line
      }.toIndexedSeq.sorted
  }

  /** Commit with BOTH skipping indexes on the manifest: zonemap
    * min/max on `statsCol` (range pruning — needs a clustered layout
    * to bite) and a per-file bloom on `bloomCol` (equality pruning —
    * bites on ANY layout; the point-lookup answer zonemaps can't
    * give). Either column may be the other; blooms for several
    * columns would be further BLOOM lines. Readers that predate a
    * line kind ignore it — manifests stay forward-compatible. */
  def commitIndexed(s: SparkSession, table: Path, version: Long,
                    df: DataFrame, statsCol: String, bloomCol: String,
                    carried: Seq[String] = Nil): Seq[String] = {
    val dataDir = newDataDir(table, version)
    lazy val lines = {
      writeData(df, dataDir)
      fileStatsLines(s, table, dataDir, statsCol) ++
        fileBloomLines(s, table, dataDir, bloomCol) :+ StatsCol(statsCol).line
    }
    produce(s, table, "commitIndexed", At(version))(_ =>
      stagedIn(table, dataDir, Full(carried ++ lines)))
    lines
  }

  /** POINT LOOKUP with bloom skipping: plans over only the files whose
    * bloom for `col` might contain `value` (files without a bloom line
    * for `col` always might), then re-applies the equality row-level.
    * Returns the frame plus (filesRead, filesTotal) so callers can
    * witness that skipping actually happened. The probe is rendered
    * with `String.valueOf`, matching the writer's CAST(col AS STRING)
    * aggregation. */
  def readEquals(s: SparkSession, table: Path, colName: String, value: Any,
                 version: Option[Long] = None): (DataFrame, Int, Int) = {
    import org.apache.spark.sql.functions.{col, lit}
    val snap = snapshotAt(table, version)
    val v = snap.version
    val all = snap.files
    require(all.nonEmpty,
      s"readEquals at version $v of $table: the manifest lists no data files")
    val probe = String.valueOf(value)
    val filters = snap.blooms
      .collect { case (f, c, bits) if c == colName => f -> bits }.toMap
    val live = all.filter(f =>
      filters.get(f).forall(FileBloom.mightContain(_, probe)))
    val df =
      if (live.isEmpty)
        s.read.parquet(table.resolve(all.head).toString).limit(0)
      else readLive(s, snap, live)
    (df.where(col(colName) === lit(value)), live.size, all.size)
  }

  /** Manifest-level PARTITION PRUNING — the protocol sibling of
    * directory-listing partition pruning: the reader selects files by
    * the partition value recorded in their manifest path and plans
    * over only those, no directory listing, no non-matching file ever
    * opened. Returns (frame, filesRead, filesTotal) so callers can
    * witness the pruning, like [[readRange]]. The partition column is
    * re-attached from the manifest value (partitionBy strips it from
    * the file payload), typed string — cast downstream if needed. */
  def readPartitions(s: SparkSession, table: Path, partCol: String,
                     values: Seq[String],
                     version: Option[Long] = None): (DataFrame, Int, Int) = {
    val snap = snapshotAt(table, version)
    val v = snap.version
    val all = snap.files
    require(all.nonEmpty,
      s"readPartitions at version $v of $table: no data files")
    def valueOf(f: String): Option[String] =
      f.split('/').collectFirst {
        case seg if seg.startsWith(partCol + "=") =>
          // partitionBy escapes path-hostile characters; decode so the
          // manifest value compares against the logical one.
          java.net.URLDecoder.decode(seg.substring(partCol.length + 1),
            "UTF-8")
      }
    val byValue = all.flatMap(f => valueOf(f).map(_ -> f))
    require(byValue.size == all.size,
      s"readPartitions at version $v: some files carry no " +
        s"$partCol= path segment — commit them via commitPartitioned")
    val want = values.toSet
    val live = byValue.filter { case (value, _) => want.contains(value) }
    require(live.nonEmpty,
      s"readPartitions at version $v: no files match $partCol in $values")
    (readMultiPartitionedFiles(s, snap, Seq(partCol), live.map(_._2)),
      live.size, all.size)
  }

  /** Plan a read over partitioned-layout files of `snap`: one scan per
    * COMMIT DIR (basePath recovers the partition columns from the
    * `col=value` path segments), not per value — union legs scale with
    * the handful of commits, never with partition-value cardinality.
    * The columns are pinned to string so the read schema doesn't
    * depend on what partition inference guesses per dir. */
  private def readMultiPartitionedFiles(s: SparkSession, snap: Snapshot,
                                        partCols: Seq[String],
                                        files: Seq[String]): DataFrame = {
    // HIDDEN transform segments also surface through path discovery —
    // drop them: the raw column rides the payload, so the derived
    // segment is redundant AND ragged across generations (a days-spec
    // group would union 4 columns against an identity group's 3).
    // Hidden names are those of the version being read: a column that
    // was real payload at an older version and only later became a
    // derived segment name (drop-then-evolve) must survive that older
    // version's read.
    val table = snap.table
    val hidden = snap.hiddenSegmentNames
    files
      .groupBy(f => f.split('/').take(2).mkString("/"))
      .toSeq.sortBy(_._1)
      .map { case (dataDir, fs) =>
        val raw = s.read.option("basePath", table.resolve(dataDir).toString)
          .parquet(fs.map(f => table.resolve(f).toString): _*)
        val part = hidden.foldLeft(raw)((d, h) => d.drop(h))
        // Each group's partition columns come from path discovery;
        // a flat group (the DDL bootstrap) carries them in its payload
        // instead, and a column absent from both is a typed NULL
        // (zero-row groups only, by construction).
        partCols.foldLeft(part)((d, pc) =>
          if (d.columns.contains(pc)) d.withColumn(pc, d(pc).cast("string"))
          else d.withColumn(pc,
            org.apache.spark.sql.functions.lit(null).cast("string")))
      }
      .reduce(_.unionByName(_, allowMissingColumns = false))
  }

  /** PARTITION PRUNING × STATS SKIPPING in one read — the two
    * orthogonal manifest mechanisms composed, exactly as production
    * formats compose partition predicates with file-level zonemaps:
    * files are first selected by partition VALUE (path segment), then
    * by [min, max] overlap with [lo, hi] on the line's stats, and only
    * the doubly-surviving files are opened (the row predicate still
    * filters — stats prune files, never rows). Returns
    * (frame, filesRead, filesAfterPartitionPrune, filesTotal) so
    * callers can witness EACH pruning stage independently. */
  def readPartitionRange(s: SparkSession, table: Path, partCol: String,
                         values: Seq[String], statsCol: String,
                         lo: Long, hi: Long, version: Option[Long] = None)
      : (DataFrame, Int, Int, Int) = {
    import org.apache.spark.sql.functions.col
    val snap = snapshotAt(table, version)
    val v = snap.version
    require(snap.columnMappings.isEmpty,
      s"readPartitionRange at version $v: schema mappings could have " +
        s"renamed '$statsCol' — use read() or compact first")
    val all = snap.statsManifest
    require(all.nonEmpty,
      s"readPartitionRange at version $v of $table: no data files")
    val want = values.toSet
    val part = all.filter { case (f, _, _) =>
      f.split('/').exists { seg =>
        seg.startsWith(partCol + "=") &&
          want.contains(java.net.URLDecoder.decode(
            seg.substring(partCol.length + 1), "UTF-8"))
      }
    }
    require(part.nonEmpty,
      s"readPartitionRange at version $v: no files match $partCol in $values")
    val live = part.filter { case (_, mn, mx) => mx >= lo && mn <= hi }
    val df =
      if (live.isEmpty)
        readMultiPartitionedFiles(s, snap, Seq(partCol), Seq(part.head._1))
          .limit(0)
      else readMultiPartitionedFiles(s, snap, Seq(partCol), live.map(_._1))
    (df.where(col(statsCol) >= lo && col(statsCol) <= hi),
      live.size, part.size, all.size)
  }

  /** VACUUM: expire every version below `keepFrom` and delete the data
    * files nothing retained references — the reclamation half of the
    * protocol (old snapshots and crashed-attempt orphans accumulate
    * forever otherwise). Safety is purely set arithmetic: a file
    * survives iff SOME manifest ≥ `keepFrom` lists it, so files
    * carried forward across an expired boundary (append commits)
    * survive, while files referenced only by expired versions — and
    * orphans referenced by nothing — are removed. Expired manifests
    * are deleted LAST: a crash mid-vacuum leaves extra files (safe,
    * invisible), never a manifest pointing at deleted data. Returns
    * (filesDeleted, versionsExpired).
    *
    * `orphanGraceMs` (the Iceberg remove-orphan-files guard): a
    * file referenced by SOME manifest — even an expired one — was
    * PUBLISHED, so deleting it once no retained version lists it is
    * always safe. A file referenced by NO manifest at all may instead
    * be an IN-FLIGHT writer's staging (executors stage data files
    * BEFORE the driver's publish link) — vacuuming it would break the
    * commit about to reference it. With a positive grace, such
    * never-referenced orphans only delete once their mtime is older
    * than the grace window; 0 (the programmatic default) keeps the
    * immediate sweep for single-writer callers. The SQL CALL face
    * defaults to one hour — scheduled maintenance must assume
    * concurrent writers. */
  def expire(table: Path, keepFrom: Long,
             orphanGraceMs: Long = 0L): (Int, Int) = {
    val all = versions(table)
    val (dead, live) = all.partition(_ < keepFrom)
    require(live.nonEmpty,
      s"expire(keepFrom=$keepFrom) would delete every version of $table")
    // PIN the manifests a live version's resolution still needs: its
    // BASE chain (delta manifests splice ancestors' lines in) and
    // every live DV's ORIGIN (read() resolves a DV's file scope via
    // statsManifest(origin)). A pinned dead manifest stays on disk as
    // a chain/scope anchor; its files are reclaimed like any other
    // unreferenced file, so pinning never retains data.
    val pinned = scala.collection.mutable.Set[Long]()
    def visit(v: Long): Unit = if (pinned.add(v)) {
      rawManifest(table, v).headOption.map(parse)
        .collect { case Base(b) => b }.foreach(visit)
      snapshot(table, v).deletionVectors.map(_._3).foreach(visit)
    }
    def filesOf(v: Long): Seq[String] = {
      val snap = snapshot(table, v)
      snap.files ++ snap.deletionVectors.map(_._1)
    }
    // Ref heads (tags, branch tips) are ROOTS like live versions: a
    // release tag pinned at version 2 must survive an expire(keepFrom=
    // 10) — exactly the ref-retention rule production formats apply.
    val anchors = live ++ refs(table).map(_._3).filterNot(live.contains)
    anchors.foreach(visit)
    // Deletion-vector sidecars are referenced files like any other: a
    // DV listed by a retained version must survive, one referenced
    // only by expired versions is reclaimable.
    val referenced = anchors.flatMap(filesOf).toSet
    // Published-somewhere set for the orphan-grace split — resolved
    // only when a grace is in force (it reads every dead manifest).
    lazy val everReferenced: Set[String] = all.flatMap(filesOf).toSet
    val now = System.currentTimeMillis()
    var deleted = 0
    for (root <- Seq(table.resolve("data"), table.resolve("dv"))
         if Files.isDirectory(root)) {
      val walk = Files.walk(root)
      // Only PAYLOAD files are vacuum candidates: manifests list only
      // *.parquet, so an unrestricted sweep would delete _SUCCESS/.crc
      // write-sidecars inside LIVE versions' data dirs.
      try walk.iterator().asScala
        .filter { p =>
          Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet") &&
          !referenced.contains(table.relativize(p).toString) &&
          (orphanGraceMs <= 0L ||
            everReferenced.contains(table.relativize(p).toString) ||
            now - Files.getLastModifiedTime(p).toMillis >= orphanGraceMs)
        }
        .foreach { p => Files.delete(p); deleted += 1 }
      finally walk.close()
    }
    val removable = dead.filterNot(pinned)
    removable.foreach(v =>
      Files.deleteIfExists(commitsDir(table).resolve(manifestName(v))))
    (deleted, removable.size)
  }

  /** Result of an optimistic commit: the version that finally
    * published and how many conflicts (lost races) were absorbed on
    * the way — callers witness the concurrency path actually ran. */
  final case class Committed(version: Long, conflicts: Int)

  /** Blind APPEND with optimistic concurrency — the cheap half of a
    * multi-writer protocol. Data files are written exactly ONCE (an
    * append's content does not depend on the snapshot it lands on);
    * only the manifest publish retries, so losing a race costs one tiny
    * metadata round, never a data rewrite. This is why real table
    * formats classify appends as auto-rebaseable: they commute with any
    * concurrent commit, so conflict resolution is mechanical re-carry.
    * The appended files join the base's skipping indexes (stats, ROWS,
    * BLOOM and secondary lines matching the base's shape).
    *
    * `beforeAttempt(targetVersion)` fires after the attempt's target
    * version is chosen and before its publish — the race-injection
    * seam (a test/witness commits the target version inside it,
    * forcing the real FileAlreadyExistsException conflict path;
    * production passes the default no-op). Same design stance as
    * [[failedCommit]]: the failure paths must be drivable, not just
    * argued about. */
  def appendCommit(s: SparkSession, table: Path, df: DataFrame,
                   maxAttempts: Int = 10,
                   beforeAttempt: Long => Unit = _ => (),
                   checkpointEvery: Int = 8): Committed = {
    val dataDir = table.resolve("data").resolve(
      "append-" + java.util.UUID.randomUUID().toString.take(8))
    lazy val written = writeData(df, dataDir)
    produce(s, table, "appendCommit", Next, Rebase(maxAttempts),
      checkpointEvery, beforeAttempt = (_, target) => beforeAttempt(target)) {
      base =>
        require(base.isDefined,
          s"appendCommit: no committed version at $table to append to")
        written
        stagedIn(table, dataDir, Delta(indexedLines(s, table, dataDir, base)))
    }.committed
  }

  // ===== THE COMMIT PRODUCER =====

  /** Where a commit lands and the version it builds on. */
  private sealed trait Target
  /** The latest version + 1, on the latest version. */
  private case object Next extends Target
  /** A pinned version, on the closest committed version below it.
    * `beyondLatest` refuses a version below the latest (a sink's sparse
    * numbering must never fill a hole under later history); the latest
    * itself goes on to conflict, so a replayed batch skips. */
  private final case class At(version: Long, beyondLatest: Boolean = false)
      extends Target
  /** The latest version + 1, on a branch's head; the ref then CASes
    * forward. */
  private final case class OnBranch(name: String) extends Target

  /** A manifest body before it meets its base. */
  private sealed trait Body
  /** `added` lines, minus the data files `removed` and every line
    * indexing them. */
  private final case class Delta(added: Seq[String],
      removed: Seq[String] = Nil) extends Body
  /** A full manifest: `lines`, then the base's table-wide lines that
    * `restate` names, in that order, then `tail`. */
  private final case class Full(lines: Seq[String],
      restate: Seq[Restate] = Seq(Checks), tail: Seq[String] = Nil)
      extends Body

  /** The base's table-wide lines a full manifest restates. */
  private sealed trait Restate
  /** The CHECK constraints not already among the body's lines. */
  private case object Checks extends Restate
  /** STATSCOL (when kept), PARTCOL and every PARTSPEC generation. */
  private final case class Declarations(keepStatsCol: Boolean)
      extends Restate

  /** What a lost publish race does. */
  private sealed trait OnConflict
  /** Stage again on the winner's snapshot, at most `attempts` times. */
  private final case class Rebase(attempts: Int) extends OnConflict
  /** Refuse: the staged files derive from the superseded snapshot. */
  private case object Refuse extends OnConflict
  /** Rethrow the FileAlreadyExistsException to the caller that pinned
    * the version (a streaming replay skips on it). */
  private case object Rethrow extends OnConflict

  /** One attempt's staging: its body and the new data files the CHECK
    * contract validates, read from `dir` when the verb wrote one (so a
    * partitioned write's path-borne columns resolve). */
  private final case class Staged(body: Body, files: Seq[String] = Nil,
      dir: Option[Path] = None)

  /** `body`, validating every data file under `dataDir`. */
  private def stagedIn(table: Path, dataDir: Path, body: Body): Staged =
    Staged(body, partFiles(table, dataDir), Some(dataDir))

  /** A published commit: its version, the races it lost on the way, and
    * the lines it published. */
  private final case class Published(version: Long, conflicts: Int,
      lines: Seq[String]) {
    def committed: Committed = Committed(version, conflicts)
  }

  /** THE COMMIT PRODUCER — the one path from staged files to
    * `_commits/` (Iceberg's SnapshotProducer, Delta's
    * OptimisticTransaction). Every attempt:
    *  1. lists `_commits/` once and picks the base version and the
    *     target (a branch reads its ref log) — see the table below;
    *  2. refuses a branched table unless the verb is branch-aware;
    *  3. resolves the base [[Snapshot]] once — `held`, the snapshot the
    *     verb already holds, when it is still the base, else only the
    *     manifests `held` lacks — and runs `stage` on it, which writes
    *     the verb's data on first use and returns its [[Staged]] body;
    *  4. validates the staged files against `base.checks`: the footer
    *     proof first, the scan only when it cannot prove the rows, and
    *     neither again while the CHECK set and the files are those
    *     already validated — a constraint a racing winner declared is
    *     checked before the retry publishes;
    *  5. renders the body from the base: a delta (`BASE` + `RM` lines +
    *     the added lines), or the base's surviving lines + the added ones
    *     once the chain would exceed `checkpointEvery` manifests (a
    *     CHECKPOINT, bounding every read's chain walk); a full manifest
    *     restates the table-wide lines that its verb names;
    *  6. publishes, then CASes a branch ref forward, and on a lost race
    *     applies the verb's [[OnConflict]].
    *
    * {{{
    *   verb                                base                       body               lost race
    *   commit, commitWithStats,            closest version below      full + CHECK       rethrow
    *     commitPartitioned(Multi),           the pinned one
    *     commitMultiStats, commitIndexed,
    *     MV create/refresh (via commit)
    *   deleteCommit, constraintCommit,     closest version below      delta              rethrow
    *     rename/widen/addColumn/dropColumn   the pinned one
    *   commitAppend, the streaming sink    latest, below the pinned   delta              rethrow
    *   mergeCommit, analyzeCommit,         latest (pinned at +1)      delta              rethrow
    *     evolvePartitionLayout, MV cursor
    *   updateWhere                         latest (pinned at +1)      RM delta           rethrow
    *   compactCommit                       latest (pinned at +1)      full + CHECK,      rethrow
    *                                                                    PARTCOL, PARTSPEC
    *   clusterCommit                       latest (pinned at +1)      full + CHECK       rethrow
    *   compactPartitionsCommit             latest (pinned at +1)      RM delta           refuse, re-run
    *   replaceFilesCommit (SQL UPDATE,     the statement's version    RM delta, or full  refuse, re-run
    *     MERGE, TRUNCATE)                                               + CHECK + decls
    *   appendCommit, V2 INSERT             latest                     delta              rebase
    *   transact, V2 INSERT OVERWRITE       latest                     full + CHECK       rebase
    *                                                                    (+ decls for V2)
    *   branchCommit                        the branch head            delta              rebase
    *   promoteBranch                       the target branch head     RM delta, never    rebase
    *                                                                    a checkpoint
    * }}}
    *
    * `beforeAttempt(base, target)` fires after step 1: the seam a test
    * or witness drives a race through. */
  private def produce(s: => SparkSession, table: Path, what: String,
      target: Target, conflict: OnConflict = Rethrow,
      checkpointEvery: Int = 8, held: Option[Snapshot] = None,
      beforeAttempt: (Option[Long], Long) => Unit = (_, _) => ())(
      stage: Option[Snapshot] => Staged): Published = {
    var base = held
    var validated = Option.empty[(Seq[String], Seq[String])]
    var conflicts = 0
    while (true) {
      val history = versions(table)
      val (baseV, version, ref) = target match {
        case Next => (history.lastOption, history.lastOption.fold(0L)(_ + 1), None)
        case At(v, beyondLatest) =>
          require(!beyondLatest || history.forall(_ <= v),
            s"$what: version $v is not beyond the latest ${history.last}")
          (history.filter(_ < v).lastOption, v, None)
        case OnBranch(name) =>
          val (seq, kind, head) = refEntries(table, name).lastOption.getOrElse(
            throw new IllegalArgumentException(s"no ref '$name' at $table"))
          require(kind == "branch", s"ref '$name' is a $kind — tags are immutable")
          (Some(head), history.last + 1, Some((name, seq)))
      }
      if (ref.isEmpty) refuseBranched(table, what)
      beforeAttempt(baseV, version)
      base = baseV.map(v => base.fold(snapshot(table, v))(_.at(v)))
      val staged = stage(base)
      val checks = base.fold(Seq.empty[String])(_.checks)
      if (!validated.contains((checks, staged.files))) {
        if (checks.nonEmpty && staged.files.nonEmpty &&
            !footerProvesChecks(table, staged.files, checks))
          violations(staged.dir.fold(s.read.parquet(
              staged.files.map(f => table.resolve(f).toString): _*))(d =>
              s.read.parquet(d.toString)), checks).foreach { case (e, n) =>
            require(n == 0L, s"$what: $n row(s) in this commit violate " +
              s"CHECK ($e) — refused before the commit point (no partial " +
              "state published)")
          }
        validated = Some((checks, staged.files))
      }
      val lines = staged.body match {
        case Delta(added, removed) => base match {
          case None => added
          case Some(b) if b.chainLength + 1 > checkpointEvery =>
            val dead = removed.toSet
            b.linesWhere(e => fileOf(e).forall(!dead(_))) ++ added
          case Some(b) => Base(b.version).line +: (removed.map(Rm(_).line) ++ added)
        }
        case Full(own, restate, tail) =>
          own ++ restate.flatMap {
            case Checks => base.toSeq.flatMap(_.checks).map(Check(_).line)
              .filterNot(own.contains)
            case Declarations(keep) => base.toSeq.flatMap { b =>
              (if (keep) b.statsCol.map(StatsCol(_).line).toSeq else Nil) ++
                b.declaredPartitionCols.map(PartCol(_).line) ++
                b.partitionSpecs.map { case (g, cs) => PartSpec(g, cs).line }
            }
          } ++ tail
      }
      try {
        publish(table, version, lines)
        ref.foreach { case (name, seq) =>
          publishRef(table, name, seq + 1, "branch", version) }
        return Published(version, conflicts, lines)
      } catch {
        // A lost ref CAS leaves the published snapshot orphaned —
        // unreachable from any ref, reclaimed by expire().
        case lost: java.nio.file.FileAlreadyExistsException => conflict match {
          case Rebase(attempts) =>
            conflicts += 1
            if (conflicts >= attempts) throw new IllegalStateException(
              s"$what: lost $attempts straight races at $table")
          case Refuse => throw new IllegalStateException(
            s"$what: version $version was committed concurrently — the " +
              "staged files derive from the superseded snapshot; re-run " +
              "against the new snapshot")
          case Rethrow => throw lost
        }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The snapshot a commit pinned at `version` builds on: version − 1's,
    * none for version 0. */
  private def priorSnapshot(table: Path, version: Long): Option[Snapshot] =
    if (version == 0L) None else Some(snapshot(table, version - 1))

  /** The latest snapshot, or `what` refuses. */
  private def latest(table: Path, what: String): Snapshot =
    latestSnapshot(table).getOrElse(throw new IllegalArgumentException(
      s"$what: no committed version at $table"))

  /** The pinned version's snapshot, else the latest one. */
  private def snapshotAt(table: Path, version: Option[Long]): Snapshot =
    version.fold(latestSnapshot(table).getOrElse(
      throw new IllegalArgumentException(
        s"no committed version at $table")))(snapshot(table, _))

  /** General optimistic TRANSACTION — the copy-on-write half: `op`
    * reads the snapshot at the latest version and returns the full
    * new table contents (a MERGE/UPDATE shape). On a publish conflict
    * the transaction re-runs `op` against the winner's snapshot —
    * serializable as long as `op` is a function of the snapshot. Each
    * attempt writes its own data dir; a lost attempt's files are
    * orphans, invisible by construction and reclaimed by [[expire]].
    *
    * Fixture-scale note: `op` here returns the WHOLE table (full
    * rewrite per attempt). Production narrows the rewrite to touched
    * files exactly as `pipe_cdf` prices it — the retry protocol is
    * unchanged, only `carried` becomes the untouched-file list. */
  def transact(s: SparkSession, table: Path,
               op: DataFrame => DataFrame,
               maxAttempts: Int = 5,
               beforeAttempt: Long => Unit = _ => ()): Committed = {
    produce(s, table, "transact", Next, Rebase(maxAttempts),
      beforeAttempt = (_, target) => beforeAttempt(target)) { base =>
      val b = base.getOrElse(throw new IllegalArgumentException(
        s"transact: no committed version at $table"))
      val dataDir = newDataDir(table, b.version + 1)
      writeData(op(readSnapshot(s, b)), dataDir)
      stagedIn(table, dataDir, Full(partFiles(table, dataDir)))
    }.committed
  }

  /** Row-level UPDATE as a STATS-PRUNED copy-on-write commit — the
    * `UPDATE … WHERE statsCol BETWEEN lo AND hi SET …` every production
    * format serves by rewriting ONLY the files the predicate can touch:
    * the manifest zonemaps locate the overlapping files (the same
    * pruning [[readRange]] reads with), those files are rewritten with
    * `set` applied to matching rows (non-matching rows in a touched
    * file are carried through the rewrite byte-equal in value — file
    * granularity is the unit of copy-on-write), and every untouched
    * file's manifest line is carried BYTE-VERBATIM. Cost is O(files
    * overlapping the predicate), never O(table) — at 100 TB, an update
    * to last week's partition must not rewrite three years of history.
    *
    * `set` entries are (column, SQL expression) applied in order (a
    * later expression sees earlier updates, the multi-assignment SQL
    * rule). Stats (and ROWS lines, if the base version recorded any)
    * are recomputed for the new files in the one commit-time pass;
    * BLOOM/STATS meta lines indexing a rewritten file are dropped —
    * a stale skipping index on fresh data would prune wrongly.
    * METADATA is O(commit) too: the manifest is an RM delta (BASE +
    * `RM\t<touched>` + the new lines — the Delta add+remove-actions
    * shape), with the usual checkpoint cadence bounding the chain;
    * [[removedLines]] reports the removals, so the change feed refuses
    * the version exactly as it refuses any rewrite.
    * DV-bearing or schema-mapped versions are refused: compact first.
    * Returns (publishedVersion, filesRewritten, filesTotal); an update
    * whose range no file overlaps is a no-op returning the base
    * version with zero rewrites (nothing to publish). */
  def updateWhere(s: SparkSession, table: Path, statsCol: String,
                  lo: Long, hi: Long,
                  set: Seq[(String, String)],
                  checkpointEvery: Int = 8): (Long, Int, Int) = {
    import org.apache.spark.sql.functions.{col, expr, when}
    require(set.nonEmpty, "updateWhere: no SET assignments")
    val snap = latest(table, "updateWhere")
    val base = snap.version
    require(snap.columnMappings.isEmpty,
      s"updateWhere at version $base: schema mappings could have renamed " +
        s"'$statsCol' since the stats were recorded — compact first")
    require(snap.deletionVectors.isEmpty,
      s"updateWhere at version $base: live deletion vectors — compact " +
        "(fold the DVs into data) before a copy-on-write update")
    // Hive-partitioned layout: the partition column lives ONLY in the
    // manifest paths — a raw-leaf rewrite would silently drop it from
    // the rewritten rows. Refuse, like the DV/mapping gates above;
    // compactCommit (partition-aware) is the resolution.
    require(snap.partitionLayout.isEmpty,
      s"updateWhere at version $base: partition-layout files " +
        "(col=value path segments) — their partition column is not in " +
        "the payload and a rewrite would drop it; compact first")
    val all = snap.statsManifest
    require(all.nonEmpty,
      s"updateWhere at version $base of $table: no data files")
    val touched = all.collect {
      case (f, mn, mx) if mx >= lo && mn <= hi => f
    }.toSet
    if (touched.isEmpty) return (base, 0, all.size)
    val version = base + 1
    val dataDir = newDataDir(table, version)
    val hit = col(statsCol) >= lo && col(statsCol) <= hi
    val updated = set.foldLeft(
      s.read.parquet(touched.toSeq.sorted
        .map(f => table.resolve(f).toString): _*)) {
      case (d, (c, e)) => d.withColumn(c, when(hit, expr(e)).otherwise(col(c)))
    }
    produce(s, table, "updateWhere", At(version),
      checkpointEvery = checkpointEvery, held = Some(snap)) { _ =>
      // TRANSFORM layouts: replacement files land UNDER the live write
      // spec (segments re-derived from the rewritten rows — a SET on the
      // raw column re-routes correctly), so a copy-on-write update never
      // degrades hidden-partition pruning. Identity-layout files are
      // refused above (their column is path-only); a transform file's
      // payload is complete, so the rewrite is information-safe.
      val writeCols = snap.writePartitionLayout
      if (writeCols.nonEmpty) writeUnderSpec(updated, writeCols, dataDir)
      else writeData(updated, dataDir)
      // INDEX MAINTENANCE (the replaceFilesCommit discipline): an UPDATE
      // must not degrade point-lookup or box-read pruning until the next
      // compaction. KIND=update annotates the commit for the change
      // feed: its RM'd files replay as update_preimage rows, its new
      // files as update_postimage — a mirror applies the pair instead of
      // full-restarting. Stripped at resolution (never carried).
      stagedIn(table, dataDir, Delta(
        statsRowsLines(fileColStats(s, table, dataDir, statsCol),
          snap.rowCounts.nonEmpty) ++
          reindexLines(s, table, dataDir, snap, touched) :+ Kind("update").line,
        removed = touched.toSeq.sorted))
    }
    (version, touched.size, all.size)
  }

  /** BLOOM and secondary-zonemap lines for the files under `dataDir`,
    * for every column whose index covered a `touched` file of `base` —
    * a rewrite recomputes them in the same commit-time window (one
    * aggregation per indexed column over the NEW files only), so an
    * UPDATE or MERGE prunes exactly as well after as before. */
  private def reindexLines(s: SparkSession, table: Path, dataDir: Path,
                           base: Snapshot,
                           touched: Set[String]): Seq[String] = {
    val bloomCols = base.entries
      .collect { case Bloom(f, c, _) if touched(f) => c }.distinct
    val secCols = base.secondaryStats
      .collect { case (f, c, _, _) if touched(f) => c }.distinct
    bloomCols.flatMap(fileBloomLines(s, table, dataDir, _)) ++
      secCols.flatMap(secondaryLines(s, table, dataDir, _))
  }

  /** GROUP-REPLACEMENT COMMIT — the commit point of the SQL
    * row-level DML path ([[graft.sources.GraftTable]] as
    * `SupportsRowLevelOperations`): Spark's group-based rewrite read
    * version `base`, planned `replaced` (the files whose groups the
    * statement touches — the operation scan's zonemap/bloom pruning
    * already narrowed them when the condition allowed), executors
    * staged the replacement rows as `staged`, and this publishes
    * base+1 with `replaced` swapped for `staged` — RM-delta when a
    * subset survives (O(commit) metadata, the [[updateWhere]] shape),
    * a fresh full manifest when the statement rewrote every file.
    *
    * Contract inherited from the scan: staged rows are the replaced
    * files' LIVE rows post-statement (deletion vectors were applied
    * inside the scan, so a full replacement folds them away; a subset
    * replacement leaves the DV lines live for the untouched files
    * they still scope to). Stats and ROWS lines are recomputed for the
    * staged files when the base manifest declares them. KIND=update
    * annotates the commit — a SQL UPDATE, MERGE or rewrite-shaped
    * DELETE all replay through the change feed as
    * update_preimage/update_postimage pairs. The staged rows are a
    * function of `base`'s snapshot, so a table that moved past `base`
    * refuses with the re-run instruction, as a lost race does
    * ([[produce]]). */
  def replaceFilesCommit(s: SparkSession, table: Path, base: Long,
                         replaced: Seq[String], staged: Seq[String],
                         what: String, checkpointEvery: Int = 8,
                         truncate: Boolean = false): Long =
    replaceFilesOn(s, snapshot(table, base), replaced, staged, what,
      checkpointEvery, truncate)

  /** [[replaceFilesCommit]] on the snapshot the statement read. */
  private[graft] def replaceFilesOn(s: SparkSession, snap: Snapshot,
      replaced: Seq[String], staged: Seq[String], what: String,
      checkpointEvery: Int = 8, truncate: Boolean = false): Long = {
    val table = snap.table
    val base = snap.version
    val latest = latestVersion(table)
    require(latest.contains(base),
      s"$what: the statement read version $base but the table is now " +
        s"at ${latest.fold("<empty>")(_.toString)} — concurrent commit; " +
        "re-run the statement against the new snapshot")
    // ADDCOL/DROPCOL mappings compose with a rewrite: the
    // operation scan already serves the evolved schema (NULLs for
    // missing added columns, dropped columns omitted), so the staged
    // files carry the evolved schema physically; untouched files keep
    // reading through the mapping, and a FULL rewrite materializes it
    // (the from-scratch manifest drops the line — correctly, the new
    // files embody it). RENAME/WIDEN still wait for compaction: they
    // record footer-time names the partial rewrite would half-apply.
    require(snap.columnMappings.forall(m =>
        m._1 == "addcol" || m._1 == "dropcol"),
      s"$what at version $base: rename/widen schema mappings live — " +
        "compact first (the scan refuses these too)")
    // A partial rewrite of a partition layout would read raw leaves
    // and drop the path-borne partition columns — refuse. TRUNCATE is
    // the exception: it reads NOTHING (the staged zero-row file
    // carries the full schema incl. the partition columns, the DDL
    // bootstrap shape) and the declared layout is restated below.
    require(truncate || snap.partitionLayout.isEmpty,
      s"$what at version $base: partition-layout files (col=value " +
        "path segments) — their partition column is not in the payload " +
        "and a rewrite would drop it; compact first")
    val all = snap.files
    val touched = replaced.toSet
    require(touched.subsetOf(all.toSet),
      s"$what: replaced files ${touched -- all.toSet} are not in " +
        s"version $base's manifest")
    val version = base + 1
    // A statement that touched nothing (condition pruned every group)
    // publishes nothing — the no-op discipline of updateWhere.
    if (touched.isEmpty && staged.isEmpty) return base
    // A statement that deletes EVERY row would publish a manifest with
    // no data lines — unreadable (the first footer is the schema
    // source) and almost never what was meant. Refuse with the
    // alternatives instead of bricking the table.
    require(staged.nonEmpty || touched != all.toSet,
      s"$what: the statement removes every row of $table — a table " +
        "needs at least one data file (its schema source); DROP the " +
        "table, or DELETE by key (a deletion-vector commit keeps the " +
        "files), or overwrite with replacement rows")
    val statsColOpt = snap.statsCol
    val hadRows = snap.rowCounts.nonEmpty
    // Staged files share one staging dir (the V2 writer's namespace) —
    // stats/ROWS recompute in one pass over the new files only.
    val dataDir = staged.headOption
      .map(f => table.resolve(f).getParent).orNull
    produce(s, table, what, At(version), Refuse, checkpointEvery,
      Some(snap)) { _ =>
      val stagedStats = statsColOpt match {
        case Some(c) if staged.nonEmpty =>
          val st = fileColStats(s, table, dataDir, c)
          // Orphans (a zombie attempt's leftovers in the staging dir)
          // must never be committed: every aggregated file must be one
          // the write actually staged.
          require(st.map(_._1).toSet.subsetOf(staged.toSet),
            s"$what: staging dir $dataDir holds files the write did not " +
              s"commit (${st.map(_._1).toSet -- staged.toSet})")
          // The reverse gap is legitimate: a ZERO-ROW staged file
          // (TRUNCATE's schema-carrying empty file) contributes no
          // aggregation row — synthesize the never-skippable full range
          // and ROWS 0 so stats-bearing tables can truncate too.
          val aggregated = st.map(_._1).toSet
          st ++ staged.filterNot(aggregated).sorted
            .map(f => (f, Long.MinValue, Long.MaxValue, 0L))
        case _ => Nil
      }
      val stagedLines =
        if (statsColOpt.isDefined && staged.nonEmpty)
          statsRowsLines(stagedStats, hadRows)
        else staged ++
          (if (hadRows && staged.nonEmpty) fileRowsLines(s, table, dataDir)
           else Nil)
      // INDEX MAINTENANCE: untouched files' index lines carry as before,
      // the staged files' are recomputed ([[reindexLines]]).
      val indexLines =
        if (staged.isEmpty) Nil
        else reindexLines(s, table, dataDir, snap, touched)
      val update = Kind("update").line
      // A full rewrite is a from-scratch snapshot: DVs folded away by
      // the scan, indexes recomputed above, the contract and the
      // declarations restated.
      Staged(if (touched == all.toSet)
          Full(stagedLines ++ indexLines, Seq(Checks, Declarations(true)),
            Seq(update))
        else Delta(stagedLines ++ indexLines :+ update, replaced.sorted),
        staged)
    }.version
  }

  /** COMPACTION WITHOUT METADATA AMNESIA — the merge-on-read →
    * copy-on-write fold as a first-class commit: reads the latest
    * snapshot (deletion vectors folded away, schema mappings
    * MATERIALIZED into the current names/types — this is the "compact
    * first" resolution every mapped-version refusal points at),
    * rewrites it into `files` right-sized files (range-clustered on
    * `statsCol` when given, so the fresh zonemaps have teeth), and
    * publishes a FULL manifest that: recomputes per-file stats + ROWS
    * (ROWS iff the base recorded any), re-declares STATSCOL,
    * RECOMPUTES the bloom and secondary-zonemap indexes the base
    * carried (pruning must not degrade through maintenance) and
    * restates the table-wide lines ([[produce]]). Cost O(live rows),
    * the price of any compaction. Returns the published version. */
  def compactCommit(s: SparkSession, table: Path,
                    statsCol: Option[String] = None,
                    files: Int = 4): Long = {
    import org.apache.spark.sql.functions.col
    val snap = latest(table, "compactCommit")
    val base = snap.version
    val version = base + 1
    // Hive-partitioned layout: the partition columns live only in the
    // manifest paths, so the rewrite re-attaches them from those paths
    // (partition discovery per writer directory) and writes
    // partitionBy on the full layout — layout, pruning, and the
    // columns all survive the compaction. No DVs/mappings in the mix
    // (the flat path composes those; partitioned commits never carry
    // them today — refuse rather than guess), and RAGGED layouts
    // refuse below.
    val partCols = snap.partitionLayout
    // PARTITION-SPEC EVOLUTION: reads re-attach every file's path-borne
    // columns under the file's OWN spec (the union layout), but the
    // REWRITE lands under the LIVE spec — compaction is the maintenance
    // verb that un-rags an evolved table.
    val writeCols = snap.writePartitionLayout
    val evolved = snap.partitionSpecs.nonEmpty
    val dataDir = newDataDir(table, version)
    def clustered(df: DataFrame): DataFrame = statsCol match {
      case Some(c) => df.repartitionByRange(files, col(c))
      case None => df.repartition(files)
    }
    if (partCols.nonEmpty) {
      require(snap.deletionVectors.isEmpty && snap.columnMappings.isEmpty,
        s"compactCommit at version $base: partition-layout files " +
          "combined with deletion vectors or schema mappings — " +
          "unsupported composition")
      // A healthy NON-EVOLVED layout is UNIFORM: every data file
      // carries every layout column's segment (the flat zero-row DDL
      // bootstrap is the one exception). A RAGGED mix — files
      // partitioned on different column sets — has no faithful
      // rewrite under ONE declared layout (partitionBy would
      // materialize NULL segments); refuse rather than guess. An
      // EVOLVED table is legitimately ragged (each file under its
      // generation's spec); there the check relaxes to "every
      // segment column is a known layout column" and the rewrite
      // below un-rags under the live spec.
      snap.files.foreach { f =>
        val fileCols = f.split('/').dropRight(1).collect {
          case seg if seg.contains('=') =>
            seg.substring(0, seg.indexOf('='))
        }.toSet
        if (evolved)
          require(fileCols.subsetOf(partCols.toSet ++
              snap.hiddenSegmentNames),
            s"compactCommit at version $base: file $f carries " +
              s"partition segments $fileCols outside the table's " +
              s"known layout columns $partCols")
        else
          require(fileCols == partCols.toSet ||
              (fileCols.isEmpty && snap.declaredPartitionCols.nonEmpty),
            s"compactCommit at version $base: file $f carries " +
              s"partition segments $fileCols but the table layout is " +
              s"$partCols — ragged layouts refuse")
      }
    }
    produce(s, table, "compactCommit", At(version), held = Some(snap)) { _ =>
      if (partCols.nonEmpty) {
        val rows = readMultiPartitionedFiles(s, snap, partCols, snap.files)
        // A ZERO-ROW snapshot (a truncated/emptied partitioned table)
        // must not flow through dynamic partitionBy — with no rows it
        // writes NO files at all, and the published manifest would
        // list no data lines (an unreadable table). Fall back to the
        // flat zero-row bootstrap shape: one schema-carrying empty
        // file, partition columns riding the payload, declared layout
        // restated.
        if (rows.isEmpty) writeData(rows.coalesce(1), dataDir)
        else if (writeCols.nonEmpty)
          writeUnderSpec(clustered(rows), writeCols, dataDir)
        else // evolved back to flat: path columns fold into the payload
          writeData(clustered(rows), dataDir)
      } else {
        val rows = readSnapshot(s, snap,
          mergeSchema = snap.columnMappings.nonEmpty)
        // A flat-file table whose spec evolved to a partitioned layout
        // before any partitioned insert landed: the compaction itself
        // moves the snapshot under the live spec (empty snapshots keep
        // the flat schema-carrying shape — dynamic partitionBy of zero
        // rows would write no files at all).
        if (writeCols.nonEmpty && !rows.isEmpty)
          writeUnderSpec(clustered(rows), writeCols, dataDir)
        else
          writeData(clustered(rows), dataDir)
      }
      // INDEX MAINTENANCE: compaction must not be the path that silently
      // drops the skipping indexes either — recompute BLOOM and
      // secondary-zonemap lines for every column the base indexed, over
      // the fresh files (flat layouts only; partitioned bases never
      // carry these compositions today). The primary stats column's
      // zonemaps ride the data lines. KIND=compact marks the commit
      // content-preserving (dataChange=false): the change feed skips it
      // instead of failing downstream mirrors into a full restart.
      val indexLines =
        if (partCols.nonEmpty || writeCols.nonEmpty) Nil
        else snap.bloomColumns.flatMap(fileBloomLines(s, table, dataDir, _)) ++
          snap.secondaryStats.map(_._2).distinct.filterNot(statsCol.contains)
            .flatMap(secondaryLines(s, table, dataDir, _))
      Staged(Full(compactedLines(s, table, dataDir, statsCol,
          snap.rowCounts.nonEmpty) ++ statsCol.map(StatsCol(_).line) ++
          indexLines, Seq(Checks, Declarations(false)),
        Seq(Kind("compact").line)))
    }.version
  }

  /** Data lines for every file a compaction wrote under `dataDir`,
    * zero-row files included: zonemaps on `statsCol` when given, and a
    * ROWS line per file when the base recorded row counts. */
  private def compactedLines(s: SparkSession, table: Path, dataDir: Path,
      statsCol: Option[String], hadRows: Boolean): Seq[String] =
    statsCol match {
      case Some(c) =>
        statsRowsLines(fileColStatsAll(s, table, dataDir, c), hadRows)
      case None =>
        partFiles(table, dataDir) ++
          (if (hadRows) fileRowsLinesAll(s, table, dataDir) else Nil)
    }

  /** PARTITION-SCOPED COMPACTION — the maintenance shape a
    * 100-TB table actually runs: nobody compacts three years of
    * history to fix yesterday's small files. Rewrites ONLY the files
    * whose `partCol=value` path segment matches `values` (the hot
    * partitions an hourly stream just fragmented) into `files`
    * right-sized files under the table's WRITE layout; every untouched
    * file's manifest line carries BYTE-VERBATIM through an RM delta —
    * metadata cost O(touched), never O(table), the updateWhere shape
    * with compaction semantics. Stats/ROWS recompute for the new files
    * when the base recorded them; KIND=compact, so change feeds skip
    * the commit (content unchanged). On a spec-EVOLVED table the
    * scoped rewrite moves just those files to the live spec —
    * incremental un-ragging, partition by partition. Returns
    * (publishedVersion, filesRewritten, filesTotal); an empty scope
    * publishes nothing and returns (base, 0, total). */
  def compactPartitionsCommit(s: SparkSession, table: Path,
      partCol: String, values: Seq[String], files: Int = 4,
      checkpointEvery: Int = 8): (Long, Int, Int) = {
    import org.apache.spark.sql.functions.col
    require(values.nonEmpty && files > 0,
      s"compactPartitionsCommit: need partition values and files > 0")
    val snap = latest(table, "compactPartitionsCommit")
    val base = snap.version
    require(snap.deletionVectors.isEmpty && snap.columnMappings.isEmpty,
      s"compactPartitionsCommit at version $base: deletion vectors or " +
        "schema mappings live — run a full compactCommit first")
    val layout = snap.partitionLayout
    require(layout.contains(partCol),
      s"compactPartitionsCommit: '$partCol' is not a partition column " +
        s"of $table (layout $layout)")
    val all = snap.files
    val want = values.toSet
    def valueOf(f: String): Option[String] =
      f.split('/').collectFirst {
        case seg if seg.startsWith(partCol + "=") =>
          java.net.URLDecoder.decode(seg.substring(partCol.length + 1),
            "UTF-8")
      }
    val touched = all.filter(f => valueOf(f).exists(want))
    if (touched.isEmpty) return (base, 0, all.size)
    val version = base + 1
    val writeCols = snap.writePartitionLayout
    val dataDir = newDataDir(table, version)
    produce(s, table, "compactPartitionsCommit", At(version), Refuse,
      checkpointEvery, Some(snap)) { _ =>
      val rows = readMultiPartitionedFiles(s, snap, layout, touched)
      if (!rows.isEmpty) {
        val out = snap.statsCol match {
          case Some(c) => rows.repartitionByRange(files, col(c))
          case None => rows.repartition(files)
        }
        if (writeCols.nonEmpty)
          writeUnderSpec(out, writeCols, dataDir)
        else writeData(out, dataDir)
      }
      val staged =
        if (rows.isEmpty) Nil
        else compactedLines(s, table, dataDir, snap.statsCol,
          snap.rowCounts.nonEmpty)
      // A scope that holds only zero-row files compacts away entirely —
      // legal as long as the table keeps a data line (its schema source).
      require(staged.nonEmpty || touched.size < all.size,
        s"compactPartitionsCommit: the scope covers every file of $table " +
          "and holds no rows — TRUNCATE is the legitimate verb")
      Staged(Delta(staged :+ Kind("compact").line, touched.sorted))
    }
    (version, touched.size, all.size)
  }

  /** Normalized 2-D MORTON KEY column over two BIGINT columns — ONE
    * definition shared by the z-order queries and [[clusterCommit]]
    * (divergent copies would silently fork the layout semantics).
    * Dims are linearly scaled to a common 10-bit domain before
    * interleaving: raw interleave lets the wider dimension's high bits
    * own the top of every z value, collapsing the layout to a
    * one-column sort, while normalization keeps both dims' bits
    * alternating at the top — every file a RECTANGLE, not a stripe.
    * Costs one min/max aggregation pass over `df`. */
  def mortonColumn(df: DataFrame, c1: String, c2: String)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit, max, min, shiftleft}
    def spread(x: org.apache.spark.sql.Column) =
      Seq((8, 16711935L), (4, 252645135L), (2, 858993459L),
        (1, 1431655765L))
        .foldLeft(x.bitwiseAND(lit(65535L))) { case (c, (sh, mask)) =>
          c.bitwiseOR(shiftleft(c, sh)).bitwiseAND(lit(mask))
        }
    val r = df.agg(min(col(c1)), max(col(c1)),
      min(col(c2)), max(col(c2))).head()
    require(!r.isNullAt(0) && !r.isNullAt(2),
      s"mortonColumn: no non-NULL values to scale on ($c1, $c2)")
    def norm(c: org.apache.spark.sql.Column, lo: Long, hi: Long) =
      (c - lit(lo)) * lit(1023L) / lit(math.max(1L, hi - lo))
    spread(norm(col(c1), r.getLong(0), r.getLong(1)).cast("long"))
      .bitwiseOR(shiftleft(
        spread(norm(col(c2), r.getLong(2), r.getLong(3)).cast("long")), 1))
  }

  /** Z-ORDER CLUSTERING AS A MAINTENANCE COMMIT — the verb that
    * lets a production table SCHEDULE layout maintenance through the
    * protocol (reachable as `CALL <cat>.cluster(...)`): rewrites the
    * latest snapshot in Morton order over two BIGINT columns (or
    * range-clustered on one — [[compactCommit]] with teeth), and
    * publishes ONE full manifest with fresh zonemaps on EVERY
    * clustered column (primary on `cols.head` data lines, the rest as
    * secondary STATS lines), ROWS iff the base recorded them,
    * recomputed BLOOM + other secondary indexes the base carried, and
    * KIND=compact — so change feeds skip it and
    * box predicates prune on every dimension from the moment it
    * commits (the pipe_zorder_skip machinery, now schedulable).
    * Deletion vectors and live schema mappings fold away exactly as
    * compaction folds them. Partition-layout tables refuse (clustering
    * inside a partitioned layout is a different verb). More than two
    * columns refuses: only the 2-D interleave is recall-proven here.
    * Cost O(live rows) — the price of any re-layout. */
  def clusterCommit(s: SparkSession, table: Path, cols: Seq[String],
                    files: Int = 16): Long = {
    import org.apache.spark.sql.functions.col
    require(cols.nonEmpty && cols.size <= 2,
      s"clusterCommit: 1 (range) or 2 (Morton) cluster columns, got $cols")
    require(files > 0, s"clusterCommit: files=$files must be positive")
    val base = latest(table, "clusterCommit")
    val version = base.version + 1
    require(base.partitionLayout.isEmpty &&
        base.writePartitionLayout.isEmpty,
      s"clusterCommit: $table has a partition layout (or live " +
        "transform spec) — cluster rewrites the snapshot flat and " +
        "would drop it; compact instead")
    val snap = readSnapshot(s, base,
      mergeSchema = base.columnMappings.nonEmpty)
    cols.foreach(c => require(snap.schema.fields.exists(f =>
        f.name == c && f.dataType == org.apache.spark.sql.types.LongType),
      s"clusterCommit: column '$c' must exist with type BIGINT (the " +
        "zonemap domain)"))
    val dataDir = newDataDir(table, version)
    lazy val clustered = cols match {
      case Seq(c) =>
        snap.repartitionByRange(files, col(c)).sortWithinPartitions(col(c))
      case Seq(c1, c2) =>
        if (snap.isEmpty) snap.coalesce(1) // nothing to scale or cluster
        else snap.withColumn("__z", mortonColumn(snap, c1, c2))
          .repartitionByRange(files, col("__z"))
          .sortWithinPartitions(col("__z"))
          .drop("__z")
    }
    produce(s, table, "clusterCommit", At(version), held = Some(base)) { _ =>
      writeData(clustered, dataDir)
      // Secondary zonemaps: the OTHER clustered dimension(s), plus any
      // secondary column the base already indexed (maintenance must not
      // be the path that drops an index — the compactCommit amnesia rule).
      Staged(Full(compactedLines(s, table, dataDir, Some(cols.head),
          base.rowCounts.nonEmpty) ++ Seq(StatsCol(cols.head).line) ++
          (cols.tail ++ base.secondaryStats.map(_._2)).distinct
            .filterNot(_ == cols.head)
            .flatMap(secondaryLines(s, table, dataDir, _)) ++
          base.bloomColumns.flatMap(fileBloomLines(s, table, dataDir, _)),
        tail = Seq(Kind("compact").line)))
    }.version
  }

  /** PROMOTE a branch into another branch — the merge that turns a
    * validated experiment into production WITHOUT copying data: the
    * NET change `from`'s history made since its fork point (ref seq 0
    * records exactly where the branch was created) is published as
    * one snapshot based on `into`'s head, and `into`'s ref CASes
    * forward. Zero data movement — a promote is a metadata commit
    * whatever the branch weighs.
    *
    * Append-only branches FAST-FORWARD (BASE + added lines). A branch
    * that REWROTE files since the fork (updateWhere-shaped history,
    * hand-published rewrites) REBASES: its net removals replay
    * as RM lines against `into`'s head, its net additions append —
    * provided every removed line is still VERBATIM in `into`'s head
    * manifest. If `into` touched any of the same files (the removed
    * line is gone or its stats changed), the promote REFUSES: that is
    * a true three-way conflict only a human (or a re-run of the
    * branch's logic on the new base) can resolve — the overlapping-RM
    * rule. A rebase with removals is a rewrite to the change feed and
    * is stamped KIND=update (preimage = the removed files' rows,
    * postimage = the added files' — the mirror-correct pair); a pure
    * fast-forward stays unannotated and serves as plain inserts.
    * Removing a CHECK line can never ride a promote — a contract
    * change must be explicit, not a merge side effect.
    *
    * `from` itself is untouched (read it after the promote and it
    * still serves its own head). `beforeAttempt(intoHead)` is the race
    * seam ([[appendCommit]]'s pattern): it runs after each attempt
    * reads the target head, so a test can advance `into` underneath
    * the promote deterministically. */
  def promoteBranch(s: SparkSession, table: Path, from: String,
                    into: String, maxAttempts: Int = 10,
                    beforeAttempt: Long => Unit = _ => ()): Committed = {
    val fromEntries = refEntries(table, from)
    require(fromEntries.nonEmpty, s"promoteBranch: no ref '$from' at $table")
    val (_, intoKind) = refHead(table, into)
      .map(h => (h._2, h._1)).getOrElse(
        throw new IllegalArgumentException(
          s"promoteBranch: no ref '$into' at $table"))
    require(intoKind == "branch",
      s"promoteBranch: ref '$into' is a $intoKind — tags are immutable")
    val fork = fromEntries.head._3
    val fromHead = fromEntries.last._3
    val forkLines = snapshot(table, fork).lines
    val headLines = snapshot(table, fromHead).lines
    val forkSet = forkLines.toSet
    val headSet = headLines.toSet
    // The branch's NET change since the fork: lines it added, lines it
    // removed (rewrites). Removals rebase as RM deltas below; a
    // removed CHECK line refuses outright (contracts don't merge away).
    val removed = forkLines.filterNot(headSet)
    require(!removed.exists(parse(_).isInstanceOf[Check]),
      s"promoteBranch: branch '$from' dropped a CHECK constraint since " +
        s"its fork at v$fork — a contract change cannot ride a promote")
    val removedPaths = removed.map { line =>
      fileOf(parse(line)).getOrElse(
        throw new IllegalArgumentException(
          s"promoteBranch: branch '$from' removed table-wide metadata " +
            s"'${line.takeWhile(_ != '\t')}' since its fork — " +
            "unrebasable; compact first"))
    }.distinct
    // A per-FILE index line (BLOOM/STATS/ROWS) removed while its data
    // file survives cannot rebase: the replay RM names the FILE, which
    // would drop the kept data line along with the index. (DV removals
    // stand alone by design — folding a deletion vector away is a
    // legitimate net change whose RM names only the DV sidecar.)
    val removedDataPaths = dataFiles(removed).toSet
    removed.filterNot(parse(_).isInstanceOf[DataFile]).foreach {
      m => require(fileOf(parse(m)).forall(removedDataPaths.contains),
        s"promoteBranch: branch '$from' dropped index metadata " +
          s"('${m.takeWhile(_ != '\t')}') for a data file it kept — " +
          "unrebasable as a file-level RM; compact first")
    }
    val added = headLines.filterNot(forkSet)
    // The TARGET branch's constraints gate the promote on every attempt
    // (`into` may have declared a stricter CHECK after the fork, or
    // between a lost race and the retry); the rebase is a delta that
    // never checkpoints.
    produce(s, table, s"promoteBranch($from -> $into)", OnBranch(into),
      Rebase(maxAttempts), Int.MaxValue,
      beforeAttempt = (head, _) => beforeAttempt(head.get)) { base =>
      // Overlapping-RM conflict check, per attempt against the FRESH
      // head: every line the branch removed must still sit VERBATIM in
      // `into`'s manifest — if `into` touched the same file (line gone
      // or re-statted), the rebase would silently discard its change.
      if (removed.nonEmpty) {
        val intoSet = base.get.lines.toSet
        val conflicting = removed.filterNot(intoSet)
        require(conflicting.isEmpty,
          s"promoteBranch($from -> $into): both branches touched " +
            s"${conflicting.map(_.split('\t').head).distinct
              .mkString("[", ", ", "]")} since the fork — a true " +
            "conflict; rebase the branch's logic on the new base or " +
            "resolve manually")
      }
      Staged(Delta(
        if (removed.isEmpty) added else added :+ Kind("update").line,
        removedPaths.sorted), dataFiles(added))
    }.committed
  }

  /** Committed versions with their manifest publish times (epoch
    * millis, from the atomic link's mtime) — what `TIMESTAMP AS OF`
    * resolves against. */
  def versionTimes(table: Path): Seq[(Long, Long)] =
    versions(table).map { v =>
      v -> Files.getLastModifiedTime(
        commitsDir(table).resolve(manifestName(v))).toMillis
    }

  /** Committed versions, ascending (the readable history).
    *
    * Scale note (documented, deliberately unoptimized): this lists the
    * whole `_commits/` directory — O(history) dirents per call, cheap
    * until a table accumulates ~10⁶ commits. The production fix is the
    * Delta `_last_checkpoint` idea: a best-effort latest-version hint
    * file updated after each publish, trusted only as a lower bound
    * and probed forward by existence checks (hints can lag, never
    * lead, because versions are immutable once published and expire()
    * only removes BELOW a floor). Not built yet because every fixture
    * and the bench sit 4–5 orders of magnitude under the threshold and
    * a wrong hint is a correctness bug, not a slowdown. */
  def versions(table: Path): Seq[Long] = {
    val dir = commitsDir(table)
    if (!Files.isDirectory(dir)) Seq.empty
    else Files.list(dir).iterator().asScala
      .flatMap(p => p.getFileName.toString match {
        case ManifestRe(v) => Some(v.toLong)
        case _ => None
      }).toSeq.sorted
  }

  /** Latest committed version, if any commit ever succeeded. */
  def latestVersion(table: Path): Option[Long] = versions(table).lastOption

  // ===== NAMED REFS: tags and branches over the snapshot log =====
  //
  // The Iceberg refs idea re-derived on this layer's primitives: every
  // commit is a SNAPSHOT in one global log (`_commits/`, integer ids);
  // a REF is a named pointer into that log. A TAG is immutable (a
  // release pin); a BRANCH advances — `branchCommit` appends a snapshot
  // whose BASE is the branch head and CASes the ref forward, so two
  // branches interleave snapshots in one log yet each reads a linear
  // history. Zero data is copied at branch time (manifests are file
  // LISTS; both branches share every common file).
  //
  // A ref is an APPEND-ONLY LOG of its own: `_refs/<name>/r%06d.ref`,
  // each file one `<kind>\t<version>` record, head = max seq. Advancing
  // the ref is the same atomic createLink putIfAbsent as publishing a
  // manifest — a racing advance of the same seq fails on the existing
  // name, which IS the compare-and-swap (and the ref's own history
  // falls out for free). A branchCommit that loses the ref race leaves
  // its already-published snapshot ORPHANED in the log — unreachable
  // from any ref, reclaimed by [[expire]] like any lost attempt — and
  // retries from the winner's head; data files are written exactly
  // once (appends commute, the [[appendCommit]] discipline).
  //
  // Scope note, stated loudly: version-UNAWARE reads (`read()` with no
  // version, `latestVersion`) see the LATEST SNAPSHOT in the global
  // log, whatever ref produced it — the raw log, not a branch. Readers
  // that care which line of history they follow read through a ref
  // ([[readRef]]). Production formats make "main" such a ref and
  // default readers onto it; this layer keeps the default reader
  // ref-free so every pre-refs caller is byte-identical, and tables
  // that want main-semantics create the ref explicitly.

  private def refsDir(table: Path): Path = table.resolve("_refs")

  private val RefRe = """r(\d{6})\.ref""".r

  private def refDir(table: Path, name: String): Path = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"ref name '$name' — letters, digits, dot, underscore, dash")
    refsDir(table).resolve(name)
  }

  /** Atomically publish ref record `seq` → (kind, version): createLink
    * putIfAbsent, exactly the manifest commit point. Throws
    * FileAlreadyExistsException when `seq` is taken — the lost CAS. */
  private def publishRef(table: Path, name: String, seq: Long,
                         kind: String, version: Long): Unit = {
    val dir = Files.createDirectories(refDir(table, name))
    val tmp = Files.createTempFile(dir, ".tmp-", ".ref")
    Files.write(tmp, s"$kind\t$version".getBytes(StandardCharsets.UTF_8))
    try Files.createLink(dir.resolve(f"r$seq%06d.ref"), tmp)
    finally Files.deleteIfExists(tmp)
  }

  /** A ref's full advance history, ascending: (seq, kind, version). */
  def refEntries(table: Path, name: String): Seq[(Long, String, Long)] = {
    val dir = refDir(table, name)
    if (!Files.isDirectory(dir)) Seq.empty
    else Files.list(dir).iterator().asScala
      .flatMap(p => p.getFileName.toString match {
        case RefRe(seq) =>
          val Array(kind, v) = Files.readAllLines(p).get(0).split('\t')
          Some((seq.toLong, kind, v.toLong))
        case _ => None
      }).toSeq.sortBy(_._1)
  }

  /** The ref's current (kind, version), if the ref exists. */
  def refHead(table: Path, name: String): Option[(String, Long)] =
    refEntries(table, name).lastOption.map { case (_, k, v) => (k, v) }

  /** All refs of a table: (name, kind, headVersion). */
  def refs(table: Path): Seq[(String, String, Long)] = {
    val dir = refsDir(table)
    if (!Files.isDirectory(dir)) Seq.empty
    else Files.list(dir).iterator().asScala
      .filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSeq.sorted
      .flatMap(n => refHead(table, n).map { case (k, v) => (n, k, v) })
  }

  /** Create an IMMUTABLE tag at `version`. Immutability is the commit
    * point itself: a tag is seq 0 of its ref log and nothing ever
    * publishes seq 1 — a second create of the same name loses the
    * createLink race and throws. */
  def tagCreate(table: Path, name: String, version: Long): Unit = {
    require(versions(table).contains(version),
      s"tagCreate: version $version was never committed at $table")
    publishRef(table, name, 0L, "tag", version)
  }

  /** Create a branch pointing at `version` — zero files copied; the
    * branch and its source share every manifest line until the first
    * [[branchCommit]] diverges them. */
  def branchCreate(table: Path, name: String, version: Long): Unit = {
    require(versions(table).contains(version),
      s"branchCreate: version $version was never committed at $table")
    publishRef(table, name, 0L, "branch", version)
  }

  /** Every writer but [[branchCommit]] and [[promoteBranch]] bases on
    * the GLOBAL log — which, once branch refs exist, may be whichever
    * line of history last interleaved a commit. Basing trunk work on
    * another branch's head would silently merge histories, so
    * [[produce]] refuses those writers on branched tables (the change
    * feed's stance): write through [[branchCommit]] against an
    * explicit ref instead. */
  private def refuseBranched(table: Path, what: String): Unit =
    require(refs(table).forall(_._2 != "branch"),
      s"$what: $table has branch refs — lines of history interleave in " +
        "its log, and a version-unaware writer would base on whichever " +
        "advanced last; commit through branchCommit(<ref>) instead")

  /** CAS-advance a branch ref to an arbitrary committed version — the
    * ROLLBACK/RETARGET verb (Iceberg's replace-branch): moving a
    * branch back to a known-good snapshot after a bad deploy is one
    * ref record, zero data touched, and the abandoned snapshots stay
    * in the log for forensics until [[expire]] reclaims them. Tags
    * refuse (immutability). Also the seam that drives
    * [[promoteBranch]]'s rewritten-branch refusal in tests — the
    * [[failedCommit]] stance: failure paths must be drivable. */
  def advanceRef(table: Path, name: String, version: Long): Unit = {
    require(versions(table).contains(version),
      s"advanceRef: version $version was never committed at $table")
    val (seq, kind, _) = refEntries(table, name).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no ref '$name' at $table"))
    require(kind == "branch", s"ref '$name' is a $kind — tags are immutable")
    publishRef(table, name, seq + 1, "branch", version)
  }

  /** Snapshot read through a ref — the branch/tag-aware reader. */
  def readRef(s: SparkSession, table: Path, name: String): DataFrame = {
    val (_, v) = refHead(table, name).getOrElse(
      throw new IllegalArgumentException(s"no ref '$name' at $table"))
    read(s, table, Some(v))
  }

  /** APPEND to a branch: publish a snapshot whose BASE is the branch
    * head (global next id — branches interleave in one log), then CAS
    * the ref forward. Data files are written exactly once; on a lost
    * race (snapshot id taken, or the ref advanced underneath us) only
    * tiny metadata retries. Constraints are per LINE OF HISTORY: the
    * rows validate against the branch head's declarations. Returns the
    * published (version, conflicts absorbed). */
  def branchCommit(s: SparkSession, table: Path, name: String,
                   df: DataFrame, maxAttempts: Int = 10,
                   checkpointEvery: Int = 8): Committed = {
    val dataDir = table.resolve("data").resolve(
      s"branch-$name-" + java.util.UUID.randomUUID().toString.take(8))
    lazy val written = writeData(df, dataDir)
    produce(s, table, s"branchCommit($name)", OnBranch(name),
      Rebase(maxAttempts), checkpointEvery) { _ =>
      written
      stagedIn(table, dataDir, Delta(partFiles(table, dataDir)))
    }.committed
  }

  /** Manifest files read so far by this JVM — each [[rawManifest]]
    * call is one. The per-statement read count specs and run records
    * difference it. */
  private[graft] val manifestReads = new java.util.concurrent.atomic.AtomicLong

  /** The stored lines of version `version`'s manifest file, unresolved
    * (a delta keeps its BASE pointer). */
  private def rawManifest(table: Path, version: Long): Seq[String] = {
    val m = commitsDir(table).resolve(manifestName(version))
    require(Files.isRegularFile(m),
      s"version $version was never committed at $table")
    manifestReads.incrementAndGet()
    Files.readAllLines(m, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty)
  }

  /** The resolved lines of a committed version — see [[Snapshot.lines]]. */
  def manifest(table: Path, version: Long): Seq[String] =
    snapshot(table, version).lines

  /** How many manifest FILES a resolution of `version` reads (1 for a
    * full manifest) — see [[Snapshot.chainLength]]. */
  def chainLength(table: Path, version: Long): Int =
    snapshot(table, version).chainLength

  /** The manifest lines version `version` REMOVED vs its predecessor —
    * nonempty exactly for REWRITE commits (compaction, transact's
    * copy-on-write, RM deltas), which a change feed cannot represent as
    * appends+deletes. */
  def removedLines(table: Path, version: Long): Seq[String] = {
    val raw = rawManifest(table, version)
    raw.headOption.map(parse) match {
      case Some(Base(b)) =>
        // An RM-bearing delta removes: resolve exactly what its BASE
        // listed for the named files (data line + indexing meta lines)
        // — the same answer a full-manifest diff would give.
        val dead = raw.tail.map(parse).collect { case Rm(f) => f }.toSet
        if (dead.isEmpty) Seq.empty
        else snapshot(table, b).linesWhere(e => fileOf(e).exists(dead))
      case _ =>
        versions(table).filter(_ < version).lastOption match {
          case None => Seq.empty
          case Some(prev) =>
            val cur = raw.toSet
            manifest(table, prev).filterNot(cur)
        }
    }
  }

  /** The DATA files version `version` removed vs its predecessor —
    * [[removedLines]] narrowed to payload paths (indexing meta lines
    * die with their file but carry no rows). The change feed serves
    * these as `update_preimage` rows for a KIND=update commit. */
  def removedDataFiles(table: Path, version: Long): Seq[String] =
    dataFiles(removedLines(table, version))

  /** The manifest lines version `version` ADDED over its predecessor —
    * the change-feed primitive ([[graft.sources.TableChangesSource]]
    * plans micro-batches from it). For a delta manifest this is the
    * stored tail (zero extra reads); for a full manifest it is the
    * set difference against the closest committed ancestor's resolved
    * lines (v0, or a rewrite commit, adds everything it lists). KIND
    * lines are never reported. */
  def addedLines(table: Path, version: Long): Seq[String] = {
    val raw = rawManifest(table, version)
    (raw.headOption.map(parse) match {
      case Some(Base(_)) => raw.tail.filterNot(parse(_).isInstanceOf[Rm])
      case _ =>
        // Full manifest: diff against the closest committed ancestor
        // (batch-id histories may skip versions, so not version−1).
        versions(table).filter(_ < version).lastOption match {
          case None => raw
          case Some(prev) =>
            val prevSet = manifest(table, prev).toSet
            raw.filterNot(prevSet)
        }
    }).filterNot(parse(_).isInstanceOf[Kind])
  }

  /** The data files version `version` ADDED — [[addedLines]] narrowed
    * to payload paths. */
  def addedFiles(table: Path, version: Long): Seq[String] =
    dataFiles(addedLines(table, version))

  /** Snapshot read: latest version by default, time travel via
    * `version`. Plans over exactly the manifest's files — orphans from
    * failed commits are invisible by construction. (Routes through
    * [[statsManifest]] so stats-bearing and plain manifest lines read
    * alike.) */
  def read(s: SparkSession, table: Path, version: Option[Long] = None,
           mergeSchema: Boolean = false): DataFrame =
    readSnapshot(s, snapshotAt(table, version), mergeSchema)

  /** [[read]] of an already-resolved snapshot. */
  private def readSnapshot(s: SparkSession, snap: Snapshot,
                           mergeSchema: Boolean = false): DataFrame = {
    // A manifest carrying only metadata lines (every data file deleted
    // and compacted away) has no schema to serve — refuse with the
    // cause, not a reduce-on-empty crash.
    require(snap.files.nonEmpty, s"read at version ${snap.version} of " +
      s"${snap.table}: the manifest lists no data files")
    readLive(s, snap, snap.files, mergeSchema)
  }

  /** Plan a read over `relFiles` (the full manifest, or a pruned
    * subset) at version `v`, applying the version's live deletion
    * vectors and schema mappings.
    *
    * The data schema comes from one footer — the file Spark's own
    * inference would pick, the lexicographically first path — so no
    * schema-inference job runs; `mergeSchema` keeps Spark's inference.
    *
    * Merge-on-read: the live deletion vectors are decoded once on the
    * driver ([[liveDeletes]]), each SCOPED to the data files its
    * origin version listed — files appended after a delete are not
    * covered, so re-inserted keys survive (sequence-number semantics,
    * not eternal tombstones). Data files group by the set of DVs
    * covering them (in any sane history a handful of groups); each
    * group keeps the rows whose key is NULL or not in its key union,
    * exactly the rows a `left_anti` join on the key would keep. The
    * keys ride in the plan as literals, so the filter costs no job;
    * a compaction commit folds them away entirely. Scoping composes
    * with pruning: a DV covers a pruned subset exactly as it covers
    * the whole.
    *
    * Schema mappings (RENAME/WIDEN) apply per WRITER DIRECTORY — all
    * files of one commit share one footer schema, so grouping by
    * parent dir reads each historical schema once, maps it to the
    * current one, and unions (missing columns surface typed NULLs). */
  private def readLive(s: SparkSession, snap: Snapshot,
                       relFiles: Seq[String],
                       mergeSchema: Boolean = false): DataFrame = {
    val table = snap.table
    val maps = snap.columnMappings
    lazy val schema =
      footerSchema(table.resolve(relFiles.min), s.sessionState.conf)
    // A rename could retarget a DV's key column between its origin and
    // this version — refuse the ambiguity; compaction resolves it.
    val deletes =
      if (maps.isEmpty) liveDeletes(snap, relFiles, schema(_).dataType)
      else {
        require(snap.deletionVectors.isEmpty, s"version ${snap.version} " +
          "carries both deletion vectors and schema mappings " +
            "— compact (a rewrite commit) before combining the two")
        None
      }
    // mergeSchema: a version whose commits span an ADDED column
    // reconciles per-file footers into the union schema at plan time —
    // old files surface typed NULLs. Off by default: single-schema
    // reads should not pay the footer sweep.
    def readFiles(fs: Seq[String]): DataFrame =
      if (maps.isEmpty)
        (if (mergeSchema) s.read.option("mergeSchema", "true")
         else s.read.schema(schema))
          .parquet(fs.map(f => table.resolve(f).toString): _*)
      else
        fs.groupBy(f => f.substring(0, f.lastIndexOf('/')))
          .toSeq.sortBy(_._1)
          .map { case (_, group) =>
            val part =
              s.read.parquet(group.map(f => table.resolve(f).toString): _*)
            maps.foldLeft(part) {
              case (d, ("rename", from, to)) if d.columns.contains(from) =>
                d.withColumnRenamed(from, to)
              case (d, ("widen", c, t)) if d.columns.contains(c) =>
                d.withColumn(c, d(c).cast(t))
              // Added column: files written before the ADDCOL commit
              // surface a typed NULL; files written after carry it.
              case (d, ("addcol", c, t)) if !d.columns.contains(c) =>
                d.withColumn(c,
                  org.apache.spark.sql.functions.lit(null).cast(t))
              // Dropped column: stop serving it (older files still
              // carry the bytes until compaction).
              case (d, ("dropcol", c, _)) if d.columns.contains(c) =>
                d.drop(c)
              case (d, _) => d
            }
          }
          .reduce(_.unionByName(_, allowMissingColumns = true))
    deletes match {
      case None => readFiles(relFiles)
      case Some(d) =>
        relFiles.groupBy(f => d.covering.getOrElse(f, Nil)).toSeq
          .sortBy(_._1.mkString("\n"))
          .map { case (dvFiles, fs) =>
            val part = readFiles(fs)
            val keys = d.keysOf(dvFiles)
            if (keys.isEmpty) part
            else {
              val k = part(d.keyCol)
              part.where(k.isNull || !k.isin(keys.toSeq.map(x =>
                org.apache.spark.sql.catalyst.CatalystTypeConverters
                  .convertToScala(x, d.keyType)): _*))
            }
          }
          .reduce(_ unionByName _)
    }
  }
}
