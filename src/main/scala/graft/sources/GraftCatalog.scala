package graft.sources

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataTypes, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.VersionedTable

/** The commit protocol as a Spark SQL CATALOG — versioned tables
  * addressable by NAME in plain SQL, including the time-travel syntax
  * every production format exposes:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graftcat", classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graftcat.root", "/warehouse")
  *   spark.sql("SELECT * FROM graftcat.docs")                    // latest
  *   spark.sql("SELECT * FROM graftcat.docs VERSION AS OF 3")    // commit 3
  *   spark.sql("SELECT * FROM graftcat.docs TIMESTAMP AS OF '…'")// by time
  * }}}
  *
  * A catalog table is one directory under `root` (one versioned table
  * per subdirectory, resolved lazily — listTables lists committed
  * tables only). Every load serves the SAME [[GraftTable]] the
  * `graft-table` connector builds, so SQL reads get the full skipping
  * stack with NO options: the stats column comes from the manifest's
  * own STATSCOL declaration, blooms and partition values are
  * self-describing, and deletion vectors apply inside the scan.
  * `VERSION AS OF` maps to the commit version (TableCatalog's
  * string-version load); `TIMESTAMP AS OF` resolves to the NEWEST
  * commit published at-or-before the timestamp (manifest link mtime —
  * the snapshot-at-time semantics of Delta/Iceberg).
  *
  * DDL (r15) goes THROUGH the protocol, never around it: CREATE TABLE
  * [AS SELECT] bootstraps v0 as a schema-pinning zero-row commit (a
  * CTAS's rows append as v1), ALTER TABLE RENAME/ALTER COLUMN TYPE
  * publish the metadata-only rename/widen commits, and DROP TABLE is
  * ref-guarded (a tagged release or live branch refuses to vanish).
  * Every mutation is still one atomic putIfAbsent publish — the
  * catalog adds names, not a second write path.
  */
class GraftCatalog extends TableCatalog with ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  /** V2 FUNCTIONS (r18; time grains r19; truncate r20): `bucket`,
    * `truncate` and `years`/`months`/`days`/`hours` — resolved by
    * Spark's SPJ machinery when a scan reports a transform
    * KeyGroupedPartitioning (see [[GraftBucketFunction]] /
    * [[GraftTruncateFunction]] / [[GraftTimeGrainFunction]]). */
  override def listFunctions(namespace: Array[String]): Array[Identifier] = {
    if (namespace.nonEmpty) throw new NoSuchNamespaceException(namespace)
    // truncate_<n> resolves for ANY width via loadFunction's pattern
    // face; the listing names one representative width.
    (Array("bucket", "truncate_4") ++
        GraftTimeGrainFunction.all.keys.toArray.sorted)
      .map(Identifier.of(Array.empty, _)).toArray
  }

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction = {
    if (ident.namespace.isEmpty && ident.name == "bucket")
      GraftBucketFunction
    else if (ident.namespace.isEmpty &&
        GraftTimeGrainFunction.all.contains(ident.name))
      GraftTimeGrainFunction.all(ident.name)
    else if (ident.namespace.isEmpty)
      GraftTruncateFunction.forName(ident.name).getOrElse(
        throw new org.apache.spark.sql.catalyst.analysis
          .NoSuchFunctionException(ident))
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)
  }

  private var catalogName: String = _
  private var root: java.nio.file.Path = _

  /** SQL STORED PROCEDURES (r13) — the table-maintenance verbs as
    * plain `CALL` statements (Spark 4's ProcedureCatalog, the
    * Iceberg-procedures shape), so an operator runs the protocol's
    * lifecycle without touching the library API:
    * {{{
    *   CALL graftcat.compact('docs')              -- fold DVs/mappings,
    *                                              -- keep constraints
    *   CALL graftcat.compact('docs', 'doc_id', 8) -- re-cluster + stats
    *   CALL graftcat.expire('docs', 2)            -- vacuum below v2
    *   CALL graftcat.tag('docs', 'release', 3)    -- immutable pin
    * }}}
    * Each returns its witness rows (key, value) — published version,
    * files deleted, … — through a LocalScan, so the CALL's result is
    * inspectable in SQL like any query. DML-class refusals (branched
    * tables, tag re-creation) surface as the procedure's error. */
  private def tableAt(name: String): java.nio.file.Path = {
    val p = validName(name)
    if (VersionedTable.latestVersion(p).isEmpty)
      throw new NoSuchTableException(Identifier.of(Array.empty, name))
    p
  }

  private def proc(pname: String, doc: String,
                   ps: Seq[ProcedureParameter],
                   run: InternalRow => Seq[(String, Long)]): UnboundProcedure =
    new UnboundProcedure with BoundProcedure {
      override def name(): String = pname
      override def description(): String = doc
      override def bind(inputType: StructType): BoundProcedure = this
      override def parameters(): Array[ProcedureParameter] = ps.toArray
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val out = run(input)
        java.util.Collections.singletonList(new LocalScan {
          override def readSchema(): StructType = StructType(Seq(
            StructField("key", DataTypes.StringType, nullable = false),
            StructField("value", DataTypes.LongType, nullable = false)))
          override def rows(): Array[InternalRow] = out.map { case (k, v) =>
            InternalRow(UTF8String.fromString(k), java.lang.Long.valueOf(v))
          }.toArray
          override def description(): String = s"graft-procedure $pname"
        }: Scan).iterator()
      }
    }

  override def listProcedures(namespace: Array[String]): Array[Identifier] = {
    if (namespace.nonEmpty) throw new NoSuchNamespaceException(namespace)
    Array("analyze", "compact", "compact_partitions", "cluster",
      "create_mv", "evolve_layout", "expire", "hnsw_merge",
      "refresh_mv", "tag",
      "branch", "promote", "rollback", "update_where", "constrain",
      "rename_column", "widen_column")
      .map(Identifier.of(Array.empty, _))
  }

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    if (ident.namespace.nonEmpty)
      throw new RuntimeException(s"unknown procedure $ident")
    ident.name match {
      case "compact" => proc("compact",
        "Fold deletion vectors and schema mappings into right-sized " +
          "current-schema files; recompute stats/ROWS; carry CHECK " +
          "constraints. compact(table, stats_col => NULL, files => 4)",
        Seq(ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("stats_col", DataTypes.StringType)
            .defaultValue("NULL").build(),
          ProcedureParameter.in("files", DataTypes.IntegerType)
            .defaultValue("4").build()),
        { in =>
          val t = tableAt(in.getUTF8String(0).toString)
          val statsCol =
            if (in.isNullAt(1)) None else Some(in.getUTF8String(1).toString)
          val v = VersionedTable.compactCommit(
            org.apache.spark.sql.SparkSession.active, t, statsCol,
            in.getInt(2))
          Seq("version" -> v,
            "files" -> VersionedTable.statsManifest(t, v).size.toLong)
        })
      case "cluster" => proc("cluster",
        "Rewrite the table in Morton (z-order) layout over one or two " +
          "BIGINT columns and republish zonemaps on every clustered " +
          "column (+ blooms, ROWS, CHECKs) as one KIND=compact commit " +
          "— schedulable layout maintenance; change feeds skip it. " +
          "cluster(table, cols, files => 16); cols comma-separated.",
        Seq(ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("cols", DataTypes.StringType).build(),
          ProcedureParameter.in("files", DataTypes.IntegerType)
            .defaultValue("16").build()),
        { in =>
          val t = tableAt(in.getUTF8String(0).toString)
          val cols = in.getUTF8String(1).toString.split(',')
            .map(_.trim).filter(_.nonEmpty).toSeq
          val v = VersionedTable.clusterCommit(
            org.apache.spark.sql.SparkSession.active, t, cols,
            in.getInt(2))
          Seq("version" -> v,
            "files" -> VersionedTable.statsManifest(t, v).size.toLong)
        })
      case "analyze" => proc("analyze",
        "ANALYZE-shape column statistics: one aggregate pass computes " +
          "approx_count_distinct (HLL) + null count per named column, " +
          "published as NDV manifest lines in an O(1) delta commit; " +
          "the scan serves them to Catalyst as columnStats (CBO join-" +
          "output sizing). analyze(table, cols); cols comma-separated.",
        Seq(ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("cols", DataTypes.StringType).build()),
        { in =>
          val t = tableAt(in.getUTF8String(0).toString)
          val cols = in.getUTF8String(1).toString.split(',')
            .map(_.trim).filter(_.nonEmpty).toSeq
          val v = VersionedTable.analyzeCommit(
            org.apache.spark.sql.SparkSession.active, t, cols)
          Seq("version" -> v, "columns" -> cols.size.toLong)
        })
      case "create_mv" => proc("create_mv",
        "Create a MATERIALIZED VIEW: run the aggregate statement " +
          "(reference the base as __BASE__) over the base snapshot and " +
          "commit it as an ordinary graft table carrying the MVOF " +
          "refresh cursor and the MVSQL definition. Aggregate columns " +
          "must fold across deltas (BIGINT/DOUBLE): sum/count fold by " +
          "SUM, bare avg is rewritten into sum+count partials plus " +
          "the stored served ratio (r20 — SELECT * serves the " +
          "declared shape; the connector hides the partials), " +
          "min/max fold for " +
          "append-only deltas, and DV deletes repair per group (r20: " +
          "only groups whose killed extremum ties the standing one " +
          "recompute). create_mv(mv, base, group_cols, sql)",
        Seq(ProcedureParameter.in("mv", DataTypes.StringType).build(),
          ProcedureParameter.in("base", DataTypes.StringType).build(),
          ProcedureParameter.in("group_cols", DataTypes.StringType)
            .build(),
          ProcedureParameter.in("sql", DataTypes.StringType).build()),
        { in =>
          val mvPath = validName(in.getUTF8String(0).toString)
          val basePath = tableAt(in.getUTF8String(1).toString)
          val groups = in.getUTF8String(2).toString.split(',')
            .map(_.trim).filter(_.nonEmpty).toSeq
          VersionedTable.createMaterializedSql(
            org.apache.spark.sql.SparkSession.active, basePath, mvPath,
            groups, in.getUTF8String(3).toString)
          Seq("version" -> 0L,
            "cursor" -> VersionedTable.snapshot(mvPath, 0L).mvCursor.get)
        })
      case "refresh_mv" => proc("refresh_mv",
        "Incrementally refresh a SQL-defined MATERIALIZED VIEW from " +
          "its stored MVSQL definition: aggregate only the files the " +
          "base appended since the MVOF cursor and fold them into the " +
          "standing rows — O(delta + MV), never O(base). KIND=compact " +
          "base commits contribute nothing; rewrites/deletes refuse " +
          "toward re-create. refresh_mv(mv, base)",
        Seq(ProcedureParameter.in("mv", DataTypes.StringType).build(),
          ProcedureParameter.in("base", DataTypes.StringType).build()),
        { in =>
          val mvPath = tableAt(in.getUTF8String(0).toString)
          val basePath = tableAt(in.getUTF8String(1).toString)
          val (v, read, total) = VersionedTable.refreshMaterializedSql(
            org.apache.spark.sql.SparkSession.active, basePath, mvPath)
          Seq("version" -> v, "delta_files_read" -> read.toLong,
            "base_files_total" -> total.toLong)
        })
      case "compact_partitions" => proc("compact_partitions",
        "PARTITION-SCOPED compaction: rewrite only the files under the " +
          "named partition values into right-sized files (RM delta — " +
          "untouched files carry byte-verbatim, metadata O(touched)); " +
          "KIND=compact so change feeds skip it. " +
          "compact_partitions(table, col, vals, files => 4); " +
          "vals comma-separated.",
        Seq(ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("col", DataTypes.StringType).build(),
          ProcedureParameter.in("vals", DataTypes.StringType).build(),
          ProcedureParameter.in("files", DataTypes.IntegerType)
            .defaultValue("4").build()),
        { in =>
          val t = tableAt(in.getUTF8String(0).toString)
          val vals = in.getUTF8String(2).toString.split(',')
            .map(_.trim).filter(_.nonEmpty).toSeq
          val (v, rewritten, total) =
            VersionedTable.compactPartitionsCommit(
              org.apache.spark.sql.SparkSession.active, t,
              in.getUTF8String(1).toString, vals, in.getInt(3))
          Seq("version" -> v, "files_rewritten" -> rewritten.toLong,
            "files_total" -> total.toLong)
        })
      case "evolve_layout" => proc("evolve_layout",
        "PARTITION-SPEC EVOLUTION: change the table's write layout in " +
          "one O(1) metadata commit — no data rewritten. New INSERTs " +
          "land under the new spec; existing files keep their paths " +
          "and prune under the spec each path exhibits; CALL compact " +
          "later to un-rag the whole table under the live spec. " +
          "Transforms (r18, grains completed r19): years/months/days/" +
          "hours(col) over BIGINT micros or TIMESTAMP columns, and " +
          "bucket(n, col) — hidden partitioning; predicates on the " +
          "RAW column prune. " +
          "evolve_layout(table, cols); cols comma-separated, '' = flat.",
        Seq(ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("cols", DataTypes.StringType).build()),
        { in =>
          val t = tableAt(in.getUTF8String(0).toString)
          // Paren-aware split: bucket(8,doc_id)'s comma is not a
          // separator.
          val cols = graft.operators.PartTransform
            .split(in.getUTF8String(1).toString)
          val v = VersionedTable.evolvePartitionLayout(
            org.apache.spark.sql.SparkSession.active, t, cols)
          Seq("version" -> v,
            "generation" -> VersionedTable.snapshot(t, v).partitionSpecs
              .last._1)
        })
      case "hnsw_merge" => proc("hnsw_merge",
        "Graph-ANN SEGMENT MERGE as schedulable maintenance (r18, the " +
          "compact_partitions of the vector index): rebuild the named " +
          "small segments of an HNSW index under the catalog root into " +
          "ONE new segment — reading their stored vectors, never the " +
          "source corpus; untouched segments are never reopened. Since " +
          "r19 (array payload columns) an index can BE a graft table: " +
          "there the merge is ONE atomic rewrite commit (pre-merge " +
          "index stays time-travelable until expire). Legacy " +
          "plain-parquet seg= layouts keep the write-then-retire " +
          "ordering (a crash leaves a searchable superset). " +
          "hnsw_merge(index, segs, target); segs comma-separated.",
        Seq(ProcedureParameter.in("index", DataTypes.StringType).build(),
          ProcedureParameter.in("segs", DataTypes.StringType).build(),
          ProcedureParameter.in("target", DataTypes.IntegerType).build()),
        { in =>
          val idx = validName(in.getUTF8String(0).toString)
          require(Files.isDirectory(idx),
            s"graft catalog '$catalogName': no index directory at $idx")
          val spark = org.apache.spark.sql.SparkSession.active
          val merge = in.getUTF8String(1).toString.split(',')
            .map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
          VersionedTable.latestVersion(idx) match {
            case Some(v) =>
              // EXACT segment count (r20): single-seg files (mn==mx,
              // the normal per-segment commit shape) count from the
              // manifest alone; the rare span file (a multi-seg
              // commit, or a stats-less line) gets its seg column
              // scanned — NEVER the old zonemap-range enumeration,
              // which counted phantom ids the span covers but the
              // file does not contain. Manifest-only cost in the
              // common case, span-files-only scan otherwise.
              def segs(at: Long) = {
                val m = VersionedTable.statsManifest(idx, at)
                val exact = m.collect {
                  case (_, mn, mx) if mn == mx => mn }.toSet
                val spanFiles = m.collect {
                  case (f, mn, mx) if mn != mx => idx.resolve(f).toString }
                val scanned = if (spanFiles.isEmpty) Set.empty[Long]
                  else spark.read.parquet(spanFiles: _*)
                    .selectExpr("CAST(seg AS BIGINT) AS seg").distinct()
                    .collect().map(_.getLong(0)).toSet
                (exact ++ scanned).size.toLong
              }
              val before = segs(v)
              val v2 = graft.queries.EmbeddingQueries.hnswMergeCommit(
                spark, idx, merge, in.getInt(2))
              Seq("segments_before" -> before,
                "segments_after" -> segs(v2),
                "target" -> in.getInt(2).toLong)
            case None =>
              def segs() = {
                val st = Files.list(idx)
                try st.iterator().asScala.map(_.getFileName.toString)
                  .filter(_.startsWith("seg=")).size.toLong
                finally st.close()
              }
              val before = segs()
              graft.queries.EmbeddingQueries.hnswMergeSegments(
                spark, idx, merge, in.getInt(2))
              Seq("segments_before" -> before,
                "segments_after" -> segs(),
                "target" -> in.getInt(2).toLong)
          }
        })
      case "expire" => proc("expire",
        "Expire versions below keep_from and vacuum unreferenced files " +
          "(ref heads, BASE chains and DV origins stay pinned). " +
          "Never-PUBLISHED orphans (a crashed or in-flight writer's " +
          "staging) vacuum only when older than orphan_grace_ms — " +
          "scheduled maintenance must assume concurrent writers, so " +
          "the default is one hour; published-then-expired files " +
          "always delete. expire(table, keep_from, " +
          "orphan_grace_ms => 3600000)",
        Seq(ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("keep_from", DataTypes.LongType).build(),
          ProcedureParameter.in("orphan_grace_ms", DataTypes.LongType)
            .defaultValue("3600000").build()),
        { in =>
          val (deleted, expired) = VersionedTable.expire(
            tableAt(in.getUTF8String(0).toString), in.getLong(1),
            in.getLong(2))
          Seq("files_deleted" -> deleted.toLong,
            "versions_expired" -> expired.toLong)
        })
      case "tag" => proc("tag",
        "Create an immutable named pin at a committed version. " +
          "tag(table, name, version)",
        Seq(ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("name", DataTypes.StringType).build(),
          ProcedureParameter.in("version", DataTypes.LongType).build()),
        { in =>
          val t = tableAt(in.getUTF8String(0).toString)
          VersionedTable.tagCreate(t, in.getUTF8String(1).toString,
            in.getLong(2))
          Seq("version" -> in.getLong(2))
        })
      case "branch" => proc("branch",
        "Fork a zero-copy branch at a committed version. " +
          "branch(table, name, version)",
        Seq(ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("name", DataTypes.StringType).build(),
          ProcedureParameter.in("version", DataTypes.LongType).build()),
        { in =>
          val t = tableAt(in.getUTF8String(0).toString)
          VersionedTable.branchCreate(t, in.getUTF8String(1).toString,
            in.getLong(2))
          Seq("version" -> in.getLong(2))
        })
      case "promote" => proc("promote",
        "Fast-forward an append-only branch's additions into another " +
          "branch as one metadata commit. promote(table, from, into)",
        Seq(ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("from", DataTypes.StringType).build(),
          ProcedureParameter.in("into", DataTypes.StringType).build()),
        { in =>
          val c = VersionedTable.promoteBranch(
            org.apache.spark.sql.SparkSession.active,
            tableAt(in.getUTF8String(0).toString),
            in.getUTF8String(1).toString, in.getUTF8String(2).toString)
          Seq("version" -> c.version, "conflicts" -> c.conflicts.toLong)
        })
      case "rollback" => proc("rollback",
        "Retarget a branch ref to a known-good committed version — the " +
          "rollback verb (one ref record, no data touched; tags " +
          "refuse; a pinned feed on the ref fails loudly on the broken " +
          "monotonicity and restarts from a fresh checkpoint). " +
          "rollback(table, ref, version)",
        Seq(ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("ref", DataTypes.StringType).build(),
          ProcedureParameter.in("version", DataTypes.LongType).build()),
        { in =>
          val t = tableAt(in.getUTF8String(0).toString)
          VersionedTable.advanceRef(t, in.getUTF8String(1).toString,
            in.getLong(2))
          Seq("version" -> in.getLong(2))
        })
      case "update_where" => proc("update_where",
        "Stats-pruned copy-on-write UPDATE: rewrite only the files " +
          "whose zonemap overlaps [lo, hi] on the stats column, " +
          "applying `SET col = expr` to matching rows. " +
          "update_where(table, stats_col, lo, hi, col, expr)",
        Seq(ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("stats_col", DataTypes.StringType).build(),
          ProcedureParameter.in("lo", DataTypes.LongType).build(),
          ProcedureParameter.in("hi", DataTypes.LongType).build(),
          ProcedureParameter.in("col", DataTypes.StringType).build(),
          ProcedureParameter.in("expr", DataTypes.StringType).build()),
        { in =>
          val (v, rewritten, total) = VersionedTable.updateWhere(
            org.apache.spark.sql.SparkSession.active,
            tableAt(in.getUTF8String(0).toString),
            in.getUTF8String(1).toString, in.getLong(2), in.getLong(3),
            Seq(in.getUTF8String(4).toString -> in.getUTF8String(5).toString))
          Seq("version" -> v, "files_rewritten" -> rewritten.toLong,
            "files_total" -> total.toLong)
        })
      case "constrain" => proc("constrain",
        "Declare a CHECK constraint (validates the current snapshot " +
          "first; every later row-adding commit validates its batch). " +
          "constrain(table, expr)",
        Seq(ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("expr", DataTypes.StringType).build()),
        { in =>
          val t = tableAt(in.getUTF8String(0).toString)
          val v = VersionedTable.latestVersion(t).get + 1
          VersionedTable.constraintCommit(
            org.apache.spark.sql.SparkSession.active, t,
            v, in.getUTF8String(1).toString)
          Seq("version" -> v)
        })
      case "rename_column" => proc("rename_column",
        "Metadata-only column rename (no data rewritten; time travel " +
          "below it sees the old name). rename_column(table, from, to)",
        Seq(ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("from", DataTypes.StringType).build(),
          ProcedureParameter.in("to", DataTypes.StringType).build()),
        { in =>
          val t = tableAt(in.getUTF8String(0).toString)
          val v = VersionedTable.latestVersion(t).get + 1
          VersionedTable.renameCommit(t, v, in.getUTF8String(1).toString,
            in.getUTF8String(2).toString)
          Seq("version" -> v)
        })
      case "widen_column" => proc("widen_column",
        "Metadata-only type widening (e.g. int -> bigint; readers cast " +
          "narrow files at plan time). widen_column(table, col, type)",
        Seq(ProcedureParameter.in("table", DataTypes.StringType).build(),
          ProcedureParameter.in("col", DataTypes.StringType).build(),
          ProcedureParameter.in("type", DataTypes.StringType).build()),
        { in =>
          val t = tableAt(in.getUTF8String(0).toString)
          val v = VersionedTable.latestVersion(t).get + 1
          VersionedTable.widenCommit(t, v, in.getUTF8String(1).toString,
            in.getUTF8String(2).toString)
          Seq("version" -> v)
        })
      case other =>
        throw new RuntimeException(
          s"graft catalog '$catalogName': unknown procedure '$other' " +
            "(available: compact, cluster, expire, tag, branch, promote, " +
            "rollback, update_where, constrain, rename_column, " +
            "widen_column)")
    }
  }

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val r = options.get("root")
    require(r != null && r.nonEmpty,
      s"graft catalog '$name': set spark.sql.catalog.$name.root to a " +
        "directory holding versioned tables (one per subdirectory)")
    root = Paths.get(r)
  }

  override def name(): String = catalogName

  /** Table-name validation — a quoted identifier is arbitrary bytes,
    * and the catalog maps names to FILESYSTEM paths, so a name carrying
    * path segments (`` g.`../other/tbl` ``) would escape the catalog
    * root: loadTable would read a foreign directory and DROP TABLE
    * would erase one. Reject separators and dot-segments, then require
    * the resolved path to be a DIRECT child of the root (belt and
    * braces against platform path quirks) before any filesystem use. */
  private def validName(name: String): java.nio.file.Path = {
    require(name.nonEmpty && !name.contains('/') &&
        !name.contains('\\') && name != "." && name != "..",
      s"graft catalog '$catalogName': invalid table name '$name' — " +
        "names map to directories directly under the catalog root " +
        "(no path separators or dot-segments)")
    // '$' is the metadata-table namespace (`docs$files`): a CREATE-able
    // name carrying it would be permanently unloadable (load() routes
    // every '$'-bearing identifier to the metadata surface) and could
    // shadow a real table's metadata views (ADVICE r17).
    require(!name.contains('$'),
      s"graft catalog '$catalogName': invalid table name '$name' — " +
        "'$' is reserved for metadata tables (t$files, t$history, …)")
    val p = root.resolve(name).toAbsolutePath.normalize()
    require(p.getParent == root.toAbsolutePath.normalize(),
      s"graft catalog '$catalogName': table name '$name' escapes the " +
        "catalog root")
    p
  }

  private def tableRoot(ident: Identifier): java.nio.file.Path = {
    if (ident.namespace.nonEmpty)
      throw new NoSuchTableException(ident)
    validName(ident.name)
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace.isEmpty &&
      (try VersionedTable.latestVersion(tableRoot(ident)).isDefined
       catch { case _: IllegalArgumentException => false })

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (namespace.nonEmpty) throw new NoSuchNamespaceException(namespace)
    if (!Files.isDirectory(root)) Array.empty
    else {
      val stream = Files.list(root)
      try stream.iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          VersionedTable.latestVersion(p).isDefined)
        .map(p => Identifier.of(Array.empty, p.getFileName.toString))
        .toArray
      finally stream.close()
    }
  }

  private def load(ident: Identifier, version: Option[Long]): Table = {
    // METADATA TABLES (r17): `t$history` / `t$files` / `t$partitions` /
    // `t$refs` — the Iceberg metadata-table surface, answered from
    // manifests alone. `VERSION AS OF` composes (the version resolves
    // here, before the metadata table is built).
    if (ident.namespace.isEmpty && ident.name.contains('$')) {
      val i = ident.name.indexOf('$')
      val (base, meta) =
        (ident.name.substring(0, i), ident.name.substring(i + 1))
      if (!GraftMetaTables.Kinds.contains(meta))
        throw new NoSuchTableException(ident)
      return GraftMetaTables(snapshotOf(validName(base), version, ident),
        meta)
    }
    val snap = snapshotOf(tableRoot(ident), version, ident)
    // The footer schema is the WRITE-time one; the version's live
    // rename/widen mappings evolve it to the CURRENT names/types (ALTER
    // TABLE must be visible to the very next statement). The scan
    // still refuses mapped versions until a compaction materializes
    // the mapping; the NAME surface evolves immediately.
    val evolved = snap.columnMappings.foldLeft(
      GraftTableSource.dataSchema(snap)) {
      case (sch, ("rename", from, to)) =>
        StructType(sch.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f))
      case (sch, ("widen", c, t)) =>
        StructType(sch.fields.map(f =>
          if (f.name == c)
            f.copy(dataType =
              org.apache.spark.sql.types.DataType.fromDDL(t))
          else f))
      case (sch, _) => sch
    }
    new GraftTable(snap, evolved, snap.statsCol)
  }

  /** The one snapshot a statement reads: `_commits/` is listed once,
    * the version resolved once. */
  private def snapshotOf(p: java.nio.file.Path, version: Option[Long],
      ident: Identifier): VersionedTable.Snapshot = {
    val history = VersionedTable.versions(p)
    if (history.isEmpty) throw new NoSuchTableException(ident)
    GraftTableSource.snapshotFor(p, version, history)
  }

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** `VERSION AS OF <v>` — a number is the commit version; a string is
    * a NAMED REF (branch head or tag pin), the Iceberg convention:
    * `VERSION AS OF 'exp'` reads the exp branch's head snapshot,
    * `VERSION AS OF 'release'` the tagged one. An unknown ref (or a
    * name the ref grammar refuses) is an unknown table version. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(try version.toLong catch {
      case _: NumberFormatException =>
        (try VersionedTable.refHead(tableRoot(ident), version)
         catch { case _: IllegalArgumentException => None }) match {
          case Some((_, v)) => v
          case None => throw new NoSuchTableException(ident)
        }
    }))

  /** `TIMESTAMP AS OF <t>` — Spark hands epoch MICROS; serve the
    * newest commit published at-or-before it. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val p = tableRoot(ident)
    if (VersionedTable.latestVersion(p).isEmpty)
      throw new NoSuchTableException(ident)
    val at = VersionedTable.versionTimes(p)
      .filter { case (_, ms) => ms * 1000L <= timestamp }
      .lastOption.getOrElse(throw new NoSuchTableException(ident))._1
    load(ident, Some(at))
  }

  private def readOnly(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft catalog '$catalogName' is read-only for $op: it routes " +
        "through the commit protocol (VersionedTable.commit/" +
        "appendCommit/mergeCommit/transact)")

  /** SQL DDL (r15) — `CREATE TABLE [AS SELECT]`: version 0 is a
    * BOOTSTRAP commit pinning the declared schema as one zero-row
    * parquet file (the streaming sink's bootstrap shape — the
    * manifest's first footer IS the connector's schema source, so an
    * empty table still self-describes), published through the same
    * putIfAbsent as every commit. A CTAS then appends its rows as v1
    * through the ordinary V2 write — the data lands as its own atomic
    * version and `VERSION AS OF 0` time-travels to the empty
    * declaration forever. Partition transforms refuse (the protocol's
    * partition layout comes from `commitPartitioned`, not DDL). */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    if (ident.namespace.nonEmpty)
      throw new NoSuchNamespaceException(ident.namespace)
    // PARTITIONED BY (r16; transforms r18): IDENTITY columns are
    // STRING-typed (partition values ride Hive-style path segments and
    // read back as strings; several columns nest as c1=v1/c2=v2 in
    // declaration order). TRANSFORMS — PARTITIONED BY (days(ts),
    // bucket(n, id)) — are the hidden-partitioning specs: the derived
    // segment never enters the schema, predicates on the RAW column
    // prune. Identity-only declarations land as PARTCOL lines (the r16
    // shape, unchanged); a declaration with ANY transform lands as ONE
    // PARTSPEC generation instead — either way the very first
    // INSERT/CTAS/streaming epoch lands partitioned files and gets
    // manifest pruning from day one (a streaming sink owns every
    // version past the bootstrap, so this is the ONLY place a sink
    // table's transform layout can be declared).
    def singleRef(t: Transform): String = {
      val refs = t.references()
      require(refs.length == 1 && refs(0).fieldNames.length == 1,
        s"graft catalog '$catalogName': unsupported partition " +
          s"transform $t")
      refs(0).fieldNames()(0)
    }
    def fieldOf(c: String): org.apache.spark.sql.types.StructField =
      schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"graft catalog '$catalogName': partition column '$c' is " +
            "not in the table schema"))
    val partSpecSeq: Seq[String] = partitions.toSeq.map { t =>
      t.name() match {
        case "identity" =>
          val c = singleRef(t)
          require(fieldOf(c).dataType ==
              org.apache.spark.sql.types.StringType,
            s"graft catalog '$catalogName': partition column '$c' must " +
              "be STRING — partition values ride the path and read " +
              "back as strings (or use days()/bucket())")
          c
        case grain @ ("years" | "months" | "days" | "hours") =>
          val c = singleRef(t)
          require(graft.operators.PartTransform
              .timeSourceTypes(fieldOf(c).dataType),
            s"graft catalog '$catalogName': $grain($c) needs a BIGINT " +
              "epoch-micros or TIMESTAMP column, got " +
              fieldOf(c).dataType.sql)
          s"$grain($c)"
        case "bucket" =>
          val c = singleRef(t)
          val n = t.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_]
                if l.value().isInstanceOf[Int] =>
              l.value().asInstanceOf[Int]
          }.getOrElse(throw new IllegalArgumentException(
            s"graft catalog '$catalogName': bucket transform needs an " +
              s"INT bucket count, got $t"))
          require(graft.operators.PartTransform
              .hashableTypes(fieldOf(c).dataType),
            s"graft catalog '$catalogName': bucket($n, $c) needs a " +
              s"BIGINT/INT/STRING column, got ${fieldOf(c).dataType.sql}")
          s"bucket($n,$c)"
        case "truncate" =>
          val c = singleRef(t)
          // Width and column accepted in either order (the Iceberg
          // Spark DDL ambiguity) — collectFirst is position-blind.
          val n = t.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_]
                if l.value().isInstanceOf[Int] =>
              l.value().asInstanceOf[Int]
          }.getOrElse(throw new IllegalArgumentException(
            s"graft catalog '$catalogName': truncate transform needs " +
              s"an INT width, got $t"))
          require(graft.operators.PartTransform
              .hashableTypes(fieldOf(c).dataType),
            s"graft catalog '$catalogName': truncate($n, $c) needs a " +
              s"STRING/BIGINT/INT column, got ${fieldOf(c).dataType.sql}")
          s"truncate($n,$c)"
        case other => throw new UnsupportedOperationException(
          s"graft catalog '$catalogName': unsupported partition " +
            s"transform '$other' — identity columns, years/months/" +
            "days/hours(col), bucket(n, col), truncate(n, col)")
      }
    }
    require(partSpecSeq.distinct == partSpecSeq,
      s"graft catalog '$catalogName': duplicate partition columns " +
        s"$partSpecSeq")
    // DERIVED-name discipline, the same evolvePartitionLayout enforces
    // (ADVICE self-review r18): two transforms must not derive the
    // same segment (bucket(4,x) + bucket(8,x) both derive x_bucket),
    // and a derived name must not shadow a REAL schema column — a
    // payload column named ts_day next to days(ts) would be silently
    // dropped by every mixed-generation read and overwritten by
    // compaction's re-derivation.
    locally {
      val parsed = partSpecSeq.map(graft.operators.PartTransform.parse)
      val derived = parsed.map(_.derivedName)
      require(derived.distinct == derived,
        s"graft catalog '$catalogName': two partition transforms " +
          s"derive the same segment name (${derived.mkString(", ")})")
      parsed.filterNot(_.isIdentity).foreach(t =>
        require(!schema.fields.exists(_.name == t.derivedName),
          s"graft catalog '$catalogName': derived segment name " +
            s"'${t.derivedName}' collides with a schema column"))
    }
    val hasTransform = partSpecSeq.exists(_.contains('('))
    val partColSeq = if (hasTransform) Nil else partSpecSeq
    val p = tableRoot(ident)
    if (VersionedTable.latestVersion(p).isDefined)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(Array(catalogName, ident.name))
    // The writer's primitive surface gates the schema up front — a
    // CTAS must fail before committing anything it can't then write.
    GraftWriterFactory.messageType(schema)
    val spark = org.apache.spark.sql.SparkSession.active
    VersionedTable.commit(spark, p, 0L,
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        schema).coalesce(1),
      carried = partColSeq.map(VersionedTable.partColLine) ++
        (if (hasTransform)
           Seq(VersionedTable.partSpecLine(1L, partSpecSeq))
         else Nil))
    load(ident, None)
  }

  /** `ALTER TABLE` → the protocol's METADATA-ONLY evolution commits:
    * RENAME COLUMN → [[VersionedTable.renameCommit]], ALTER COLUMN
    * TYPE → [[VersionedTable.widenCommit]] (widenings only — the
    * commit validates). No data file is rewritten; time travel below
    * the commit sees the old schema; the connector's scan will ask for
    * a compaction before serving the mapped version (by design — the
    * mapping is debt the next compact materializes). Other changes
    * refuse. */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val p = tableAt(ident.name)
    // One change per statement: each evolution is its own atomic
    // commit, and a multi-change set would otherwise half-apply when a
    // later change refuses (there is no multi-commit transaction to
    // roll back).
    require(changes.length == 1,
      s"graft catalog '$catalogName': one change per ALTER TABLE " +
        s"statement (got ${changes.length}) — each evolution is its " +
        "own atomic commit")
    changes.foreach {
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          s"graft catalog '$catalogName': nested rename unsupported")
        VersionedTable.renameCommit(p,
          VersionedTable.latestVersion(p).get + 1,
          r.fieldNames()(0), r.newName)
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames.length == 1,
          s"graft catalog '$catalogName': nested type change unsupported")
        VersionedTable.widenCommit(p,
          VersionedTable.latestVersion(p).get + 1,
          u.fieldNames()(0), u.newDataType.sql.toLowerCase)
      // ALTER TABLE ADD COLUMN (r16): a metadata-only ADDCOL commit —
      // legacy rows read as typed NULLs immediately (no compaction
      // needed: the connector serves missing footer fields as NULL),
      // later INSERTs write real values. NULLABLE appends only: a NOT
      // NULL add would be violated by every existing row, and a
      // FIRST/AFTER position would reorder what historical footers
      // cannot — both refuse loudly.
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          s"graft catalog '$catalogName': nested add-column unsupported")
        require(a.isNullable,
          s"graft catalog '$catalogName': ADD COLUMN must be nullable " +
            "— existing rows have no value for it (add nullable, " +
            "backfill, then constrain)")
        require(a.position() == null,
          s"graft catalog '$catalogName': ADD COLUMN FIRST/AFTER " +
            "unsupported — new columns append at the end")
        VersionedTable.addColumnCommit(
          org.apache.spark.sql.SparkSession.active, p,
          VersionedTable.latestVersion(p).get + 1,
          a.fieldNames()(0), a.dataType.sql.toLowerCase)
      // ALTER TABLE DROP COLUMN (r16): a metadata-only DROPCOL commit
      // — readers stop serving the column immediately, its bytes wait
      // for compaction, time travel below sees it. Load-bearing
      // columns (stats/index/DV-key/partition/CHECK) refuse inside
      // the commit verb.
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          s"graft catalog '$catalogName': nested drop-column unsupported")
        VersionedTable.dropColumnCommit(
          org.apache.spark.sql.SparkSession.active, p,
          VersionedTable.latestVersion(p).get + 1, d.fieldNames()(0))
      case other => throw new UnsupportedOperationException(
        s"graft catalog '$catalogName': unsupported ALTER TABLE change " +
          s"$other (supported: ADD COLUMN, DROP COLUMN, RENAME COLUMN, " +
          "ALTER COLUMN TYPE)")
    }
    // The mapped version self-describes through VersionedTable.read;
    // return the table at its new head.
    load(ident, None)
  }

  /** `DROP TABLE` — REF-GUARDED: a table holding named refs (a
    * release tag, a live branch) refuses to vanish — drop the refs
    * first, the same explicitness expire() demands. Otherwise the
    * whole table directory (manifests, refs dir scaffolding, data) is
    * removed; DROP is the one operation that is ABOUT erasing history,
    * so it is not itself a commit. */
  override def dropTable(ident: Identifier): Boolean = {
    if (ident.namespace.nonEmpty) return false
    val p = tableRoot(ident)
    if (VersionedTable.latestVersion(p).isEmpty) return false
    val refs = VersionedTable.refs(p)
    require(refs.isEmpty,
      s"graft catalog '$catalogName': ${ident.name} holds named refs " +
        s"${refs.map(_._1).mkString("[", ", ", "]")} — a pinned " +
        "release or live branch must be dropped explicitly first")
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(f => { Files.deleteIfExists(f); () })
    finally walk.close()
    true
  }

  /** `ALTER TABLE … RENAME TO` (r16) — one atomic directory move: a
    * table is self-contained under its root (manifests reference data
    * files RELATIVELY, refs live in `_refs/` inside), so the rename
    * carries the entire history, every tag/branch, and every data
    * byte without touching any of them. The target name must be free;
    * readers holding the old path fail on their next manifest list,
    * exactly like any catalog rename. */
  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit = {
    if (oldIdent.namespace.nonEmpty)
      throw new NoSuchTableException(oldIdent)
    val from = validName(oldIdent.name)
    if (VersionedTable.latestVersion(from).isEmpty)
      throw new NoSuchTableException(oldIdent)
    // Spark may hand the new name catalog-qualified (RENAME TO g.b
    // arrives as namespace ["g"]) — strip our own name; any OTHER
    // namespace is a real (unsupported) move.
    require(newIdent.namespace.isEmpty ||
        newIdent.namespace.toSeq == Seq(catalogName),
      s"graft catalog '$catalogName': RENAME cannot move a table to a " +
        "namespace (tables live directly under the catalog root)")
    val to = validName(newIdent.name)
    if (VersionedTable.latestVersion(to).isDefined ||
        Files.exists(to))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(Array(catalogName, newIdent.name))
    // RESERVE the target name atomically before moving: POSIX rename()
    // silently replaces an existing EMPTY target directory, so a bare
    // exists-then-move could clobber a concurrent CREATE TABLE's
    // just-created directory in the check-to-move window (ADVICE r16).
    // createDirectory fails atomically if anyone else took the name;
    // the subsequent ATOMIC_MOVE then replaces exactly the empty
    // placeholder WE own (rename-over-empty-dir is now the mechanism,
    // not the hazard), and if a racer managed to write INTO the
    // placeholder the move fails DirectoryNotEmptyException — loud,
    // never a clobber. Readers still see empty-or-complete, never a
    // partially-moved table.
    try Files.createDirectory(to)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new org.apache.spark.sql.catalyst.analysis
          .TableAlreadyExistsException(Array(catalogName, newIdent.name))
    }
    Files.move(from, to,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }
}
