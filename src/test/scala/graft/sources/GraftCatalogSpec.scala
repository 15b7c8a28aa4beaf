package graft.sources

import graft.SparkSpec
import graft.operators.VersionedTable
import java.nio.file.Files

/** Catalog-level guarantees of the graft SQL catalog (the
  * query-surface witness is pipe_sql_time_travel): name resolution,
  * listTables, VERSION AS OF / TIMESTAMP AS OF loads, the
  * self-describing statsCol flowing into SQL pruning, and read-only
  * refusals for DDL.
  */
class GraftCatalogSpec extends SparkSpec {

  private def session(root: java.nio.file.Path) = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.g", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.g.root", root.toString)
    s2
  }

  private def staged(): java.nio.file.Path = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cat_spec_")
    val t = root.resolve("nums")
    VersionedTable.commitWithStats(spark, t, 0L,
      spark.range(0, 100).toDF("id").repartitionByRange(4, $"id"), "id")
    // mtime is millisecond-granular; keep the two commits apart so
    // TIMESTAMP AS OF has an unambiguous boundary to resolve.
    Thread.sleep(20)
    VersionedTable.commit(spark, t, 1L, Seq(1000L).toDF("id"),
      carried = VersionedTable.manifest(t, 0L))
    root
  }

  test("metadata tables: $history/$files/$partitions/$refs from manifests") {
    import spark.implicits._
    val root = staged()
    val s2 = session(root)
    // $files: stats table — zonemap bounds present, no ROWS lines →
    // row_count NULL, flat layout → partition NULL.
    val files = s2.sql("SELECT * FROM g.`nums$files`").collect()
    assert(files.length ==
      VersionedTable.statsManifest(root.resolve("nums"), 1L).size)
    assert(files.forall(r => r.isNullAt(r.fieldIndex("row_count")) &&
      r.isNullAt(r.fieldIndex("partition")) &&
      !r.isNullAt(r.fieldIndex("stats_min"))))
    // $history: two append commits, no kind, nothing removed.
    val hist = s2.sql("SELECT * FROM g.`nums$history` ORDER BY version")
      .collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    assert(hist.forall(r => r.isNullAt(r.fieldIndex("kind")) &&
      r.getLong(r.fieldIndex("files_removed")) == 0L))
    // $refs: empty until a ref exists; then lists it.
    assert(s2.sql("SELECT * FROM g.`nums$refs`").count() == 0)
    VersionedTable.tagCreate(root.resolve("nums"), "rel", 0L)
    assert(s2.sql("SELECT name, type, version FROM g.`nums$refs`")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq == Seq(("rel", "tag", 0L)))
    // VERSION AS OF composes with metadata tables.
    assert(s2.sql("SELECT * FROM g.`nums$history` VERSION AS OF 0")
      .count() == 1)
    // Evolution-aware $partitions: a mixed-spec table serves each
    // file's own values, NULL where its spec lacks a column.
    val t2 = root.resolve("mix")
    VersionedTable.commitPartitioned(spark, t2, 0L,
      Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "g", "h"), "g")
    VersionedTable.evolvePartitionLayout(spark, t2, Seq("h"))
    VersionedTable.commitPartitioned(spark, t2, 2L,
      Seq((3L, "a", "x")).toDF("id", "g", "h"), "h",
      carried = VersionedTable.manifest(t2, 1L))
    val parts = s2.sql("SELECT g, h, files FROM g.`mix$partitions`")
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getLong(2))).toSet
    assert(parts == Set((Some("a"), None, 1L), (Some("b"), None, 1L),
      (None, Some("x"), 1L)),
      s"evolution-aware partition rollup mismatch: $parts")
    // $stats: the ANALYZE + skipping-index inventory — the statsCol's
    // zonemaps ride every data line; an ANALYZE adds NDV/null rows.
    VersionedTable.analyzeCommit(spark, root.resolve("nums"), Seq("id"))
    val st = s2.sql("SELECT * FROM g.`nums$stats`").collect()
      .map(r => r.getString(0) ->
        (Option(r.get(1)), r.getLong(3), r.getLong(4))).toMap
    assert(st.contains("id") && st("id")._1.nonEmpty &&
      st("id")._3 == VersionedTable.statsManifest(root.resolve("nums"),
        VersionedTable.latestVersion(root.resolve("nums")).get).size,
      s"stats inventory mismatch: $st")
    // $specs: generations with the live flag; implicit gen 0 before
    // any evolution, the evolved generation after.
    assert(s2.sql("SELECT generation, spec, is_live FROM g.`nums$specs`")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getBoolean(2))).toSeq == Seq((0L, null, true)))
    val specs2 = s2.sql(
      "SELECT generation, spec, is_live FROM g.`mix$specs`")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getBoolean(2))).toSeq
    assert(specs2 == Seq((1L, "h", true)), s"got $specs2")
    // Unknown $kind and $meta on a missing table are unknown tables.
    intercept[Exception] { s2.sql("SELECT * FROM g.`nums$bogus`").collect() }
    intercept[Exception] { s2.sql("SELECT * FROM g.`ghost$files`").collect() }
  }

  test("create_mv/refresh_mv: stored definition, declaration-time refusals") {
    val root = staged()
    val s2 = session(root)
    // Statement must reference __BASE__; group col must be an output
    // column; non-group outputs must be sum-mergeable (BIGINT/DOUBLE).
    intercept[Exception] { s2.sql("CALL g.create_mv('m1', 'nums', 'id', " +
      "'SELECT id, count(*) AS n FROM nums GROUP BY id')").collect() }
    intercept[Exception] { s2.sql("CALL g.create_mv('m1', 'nums', 'k', " +
      "'SELECT id, count(*) AS n FROM __BASE__ GROUP BY id')").collect() }
    intercept[Exception] { s2.sql("CALL g.create_mv('m1', 'nums', 'id', " +
      "'SELECT id, CAST(sum(id) AS DECIMAL(20,2)) AS n FROM __BASE__ " +
      "GROUP BY id')").collect() }
    // refresh_mv on a table with no MVSQL definition refuses.
    intercept[Exception] {
      s2.sql("CALL g.refresh_mv('nums', 'nums')").collect()
    }
    // The valid lifecycle: create, append to base, refresh, read.
    s2.sql("CALL g.create_mv('m1', 'nums', 'b', " +
      "'SELECT CAST(id % 2 AS STRING) AS b, count(*) AS n " +
      "FROM __BASE__ GROUP BY 1')").collect()
    import spark.implicits._
    VersionedTable.appendCommit(spark, root.resolve("nums"),
      Seq(2000L, 2001L).toDF("id"))
    val appended = VersionedTable.addedFiles(root.resolve("nums"), 2L).size.toLong
    val res = s2.sql("CALL g.refresh_mv('m1', 'nums')").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(res("delta_files_read") == appended &&
      appended < res("base_files_total"))
    assert(s2.sql("SELECT sum(n) AS t FROM g.m1").head().getLong(0)
      == 103L)
    // The definition survives the refresh (the amnesia rule) — a
    // second append + refresh still works from the stored MVSQL.
    VersionedTable.appendCommit(spark, root.resolve("nums"),
      Seq(3000L).toDF("id"))
    s2.sql("CALL g.refresh_mv('m1', 'nums')").collect()
    assert(s2.sql("SELECT sum(n) AS t FROM g.m1").head().getLong(0)
      == 104L)
  }

  test("a SELECT reads each manifest of the versions it touches once") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cat_reads_")
    val t = root.resolve("t")
    VersionedTable.commit(spark, t, 0L, Seq(1L, 2L, 3L, 4L).toDF("id"))
    VersionedTable.appendCommit(spark, t, Seq(5L, 6L).toDF("id"))
    VersionedTable.deleteCommit(spark, t, 2L, Seq(2L).toDF("id"), "id")
    // A checkpoint: v3 restates the list, so its DVs' origin (2) lies
    // outside its own chain.
    VersionedTable.mergeCommit(spark, t, Seq(6L).toDF("id"), "id",
      checkpointEvery = 1)
    assert(VersionedTable.chainLength(t, 3L) == 1)
    val s2 = session(root)
    def reads(sql: String): (Long, Seq[Long]) = {
      val before = VersionedTable.manifestReads.get
      val ids = s2.sql(sql).collect().map(_.getLong(0)).toSeq.sorted
      (VersionedTable.manifestReads.get - before, ids)
    }
    // v2 = BASE 1 = BASE 0; its DV's origin is v2 itself: 3 versions.
    assert(reads("SELECT id FROM g.t VERSION AS OF 2") ==
      ((3L, Seq(1L, 3L, 4L, 5L, 6L))))
    // v3 (full) plus the origin's chain 2, 1, 0: 4 versions.
    assert(reads("SELECT id FROM g.t") == ((4L, Seq(1L, 3L, 4L, 5L, 6L))))
  }

  test("a DataFrame load resolves its snapshot once") {
    import spark.implicits._
    val t = Files.createTempDirectory("graft_cat_load_").resolve("t")
    VersionedTable.commit(spark, t, 0L, Seq(1L).toDF("id"))
    VersionedTable.appendCommit(spark, t, Seq(2L).toDF("id"))
    VersionedTable.appendCommit(spark, t, Seq(3L).toDF("id"))
    def loadReads(): Long = {
      val before = VersionedTable.manifestReads.get
      spark.read.format("graft-table").load(t.toString)
      VersionedTable.manifestReads.get - before
    }
    // inferSchema and getTable share one resolution of v2 = BASE 1 =
    // BASE 0 …
    assert(loadReads() == 3L)
    // … and Spark builds a new provider per load, so the next load sees
    // the next version (v3 = BASE 2: one manifest more).
    VersionedTable.appendCommit(spark, t, Seq(4L).toDF("id"))
    assert(loadReads() == 4L)
    assert(spark.read.format("graft-table").load(t.toString).count() == 4L)
  }

  test("a SQL INSERT and DELETE read only their base's chain") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cat_commit_reads_")
    val t = root.resolve("t")
    VersionedTable.commitWithStats(spark, t, 0L,
      Seq(1L, 2L).toDF("id").coalesce(1), "id")
    VersionedTable.constraintCommit(spark, t, 1L, "id >= 0")
    VersionedTable.appendCommit(spark, t, Seq(3L).toDF("id"))
    val s2 = session(root)
    def reads(sql: String): Long = {
      val before = VersionedTable.manifestReads.get
      s2.sql(sql)
      VersionedTable.manifestReads.get - before
    }
    // The statement resolves its base once, when it loads the table
    // (v2 = BASE 1 = BASE 0); the commit validates, renders and
    // publishes on that snapshot without reading a manifest again.
    assert(reads("INSERT INTO g.t VALUES (4)") == 3L)
    assert(VersionedTable.chainLength(t, 3L) == 4)
    assert(reads("DELETE FROM g.t WHERE id = 4") == 4L)
    assert(VersionedTable.deletionVectors(t, 4L).size == 1)
    assert(s2.sql("SELECT id FROM g.t").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 2L, 3L))
  }

  test("tables resolve by name; versions via VERSION AS OF") {
    val root = staged()
    val s2 = session(root)
    assert(s2.sql("SELECT count(*) AS n FROM g.nums").head().getLong(0)
      == 101)
    assert(s2.sql("SELECT count(*) AS n FROM g.nums VERSION AS OF 0")
      .head().getLong(0) == 100)
    intercept[Exception] {
      s2.sql("SELECT * FROM g.nums VERSION AS OF 9").collect()
    }
    intercept[Exception] { s2.sql("SELECT * FROM g.missing").collect() }
  }

  test("VERSION AS OF '<ref>' resolves branches and tags by name") {
    import spark.implicits._
    val root = staged()
    val t = root.resolve("nums")
    VersionedTable.tagCreate(t, "first", 0L)
    VersionedTable.branchCreate(t, "dev", 1L)
    VersionedTable.branchCommit(spark, t, "dev", Seq(2000L).toDF("id"))
    val s2 = session(root)
    assert(s2.sql("SELECT count(*) AS n FROM g.nums VERSION AS OF 'first'")
      .head().getLong(0) == 100)
    assert(s2.sql("SELECT count(*) AS n FROM g.nums VERSION AS OF 'dev'")
      .head().getLong(0) == 102)
    // The default read stays the raw log's latest snapshot.
    intercept[Exception] {
      s2.sql("SELECT * FROM g.nums VERSION AS OF 'nope'").collect()
    }
  }

  test("TIMESTAMP AS OF resolves publish times; listTables lists") {
    val root = staged()
    val s2 = session(root)
    val t0Millis = VersionedTable.versionTimes(root.resolve("nums")).head._2
    val t0 = java.time.Instant.ofEpochMilli(t0Millis)
    assert(s2.sql(
      s"SELECT count(*) AS n FROM g.nums TIMESTAMP AS OF '$t0'")
      .head().getLong(0) == 100,
      "a timestamp at v0's publish must serve v0")
    assert(s2.sql(
      "SELECT count(*) AS n FROM g.nums TIMESTAMP AS OF '2999-01-01'")
      .head().getLong(0) == 101)
    assert(s2.sql("SHOW TABLES IN g").collect()
      .map(_.getString(1)).toSeq == Seq("nums"))
  }

  test("SQL reads prune via the manifest's own STATSCOL declaration") {
    val root = staged()
    val s2 = session(root)
    val pruned = s2.sql(
      "SELECT id FROM g.nums VERSION AS OF 0 WHERE id BETWEEN 10 AND 20")
    assert(pruned.rdd.getNumPartitions < 4,
      "the catalog scan must pick up statsCol from the manifest")
    assert(pruned.count() == 11)
  }

  test("SQL count(*) over a counted table is answered from the manifest") {
    import spark.implicits._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val root = Files.createTempDirectory("graft_cat_spec_")
    VersionedTable.commitWithStats(spark, root.resolve("nums"), 0L,
      spark.range(0, 100).toDF("id").repartitionByRange(4, $"id"), "id",
      rowCounts = true)
    val s2 = session(root)
    val df = s2.sql("SELECT count(*) AS n, min(id) AS mn FROM g.nums")
    val physical = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(physical.collect { case b: BatchScanExec => b.scan.description() }
      .exists(_.contains("aggPushed=")),
      "a catalog SQL count/min over ROWS+zonemap manifests must be " +
        "answered at planning time")
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((100L, 0L)))
  }

  test("SQL DELETE publishes a DV commit; unsupported shapes refuse") {
    import spark.implicits._
    val root = staged()
    val t = root.resolve("nums")
    val s2 = session(root)
    s2.sql("DELETE FROM g.nums WHERE id IN (5, 7)")
    assert(VersionedTable.deletionVectors(
      t, VersionedTable.latestVersion(t).get).nonEmpty,
      "SQL DELETE must land as a deletion-vector commit")
    assert(s2.sql("SELECT count(*) AS n FROM g.nums").head().getLong(0)
      == 99) // 101 - 2
    // Equality form too — still the metadata DV path (the
    // OptimizeMetadataOnlyDeleteFromTable conversion).
    s2.sql("DELETE FROM g.nums WHERE id = 9")
    assert(s2.sql("SELECT count(*) AS n FROM g.nums").head().getLong(0)
      == 98)
    // A range predicate can't be a key-list DV — since r15 it falls
    // through to the group-based REWRITE path instead of refusing:
    // zonemap-pruned copy-on-write, stamped KIND=update, DVs applied
    // by the scan so nothing deleted resurrects.
    val beforeRw = VersionedTable.latestVersion(t).get
    s2.sql("DELETE FROM g.nums WHERE id > 50")
    val rwV = VersionedTable.latestVersion(t).get
    assert(rwV == beforeRw + 1)
    assert(VersionedTable.commitKind(t, rwV).contains("update"))
    assert(s2.sql("SELECT count(*) AS n FROM g.nums").head().getLong(0)
      == 48) // 0..50 minus the DV'd 5, 7, 9
    // INSERT INTO routes through the V2 write path: an O(batch) commit.
    val before = VersionedTable.latestVersion(t).get
    s2.sql("INSERT INTO g.nums SELECT 5000 AS id")
    assert(VersionedTable.latestVersion(t).contains(before + 1))
    assert(s2.sql("SELECT count(*) AS n FROM g.nums").head().getLong(0)
      == 49)
  }

  test("SQL UPDATE rewrites only zonemap-overlapping files") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cat_upd_")
    val t = root.resolve("nums")
    VersionedTable.commitWithStats(spark, t, 0L,
      spark.range(0, 100).selectExpr("id", "id AS v")
        .repartitionByRange(4, $"id"), "id", rowCounts = true)
    val s2 = session(root)
    s2.sql("UPDATE g.nums SET v = v + 1000 WHERE id BETWEEN 10 AND 40")
    val got = s2.sql("SELECT id, v FROM g.nums ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == (0L until 100L).map(i =>
      (i, if (i >= 10 && i <= 40) i + 1000 else i)))
    // The statement's condition pushed into the operation scan: files
    // whose zonemap misses [10, 40] were never rewritten — their
    // manifest lines carry byte-verbatim into v1.
    val untouched = VersionedTable.statsManifest(t, 0L).collect {
      case (f, mn, mx) if !(mx >= 10L && mn <= 40L) => f
    }.toSet
    assert(untouched.nonEmpty, "fixture must leave untouched files")
    assert(untouched.subsetOf(
      VersionedTable.statsManifest(t, 1L).map(_._1).toSet))
    assert(VersionedTable.commitKind(t, 1L).contains("update"))
    // Stats metadata survives the SQL rewrite: ROWS covers v1 exactly
    // and sums true; STATSCOL still declared.
    val rc = VersionedTable.snapshot(t, 1L).rowCounts
    assert(rc.map(_._1).toSet ==
      VersionedTable.statsManifest(t, 1L).map(_._1).toSet)
    assert(rc.map(_._2).sum == 100L)
    assert(VersionedTable.snapshot(t, 1L).statsColumns.headOption.contains("id"))
    // A no-match UPDATE is a no-op: nothing published.
    s2.sql("UPDATE g.nums SET v = 0 WHERE id BETWEEN -100 AND -50")
    assert(VersionedTable.latestVersion(t).contains(1L))
  }

  test("runtime group filtering rewrites only files containing matches") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cat_rtf_")
    val t = root.resolve("nums")
    // Committed WITHOUT stats: static zonemap pruning is impossible —
    // any partial rewrite below must come from the runtime
    // matching-rows subquery (DISTINCT _file of rows the statement
    // touches) pruning the operation scan.
    VersionedTable.commit(spark, t, 0L,
      spark.range(0, 100).selectExpr("id", "id AS v")
        .repartitionByRange(4, $"id"))
    val nFiles = VersionedTable.statsManifest(t, 0L).size
    assert(nFiles == 4)
    val s2 = session(root)
    // The _file metadata column itself serves from plain SQL.
    assert(s2.sql("SELECT count(DISTINCT _file) AS n FROM g.nums")
      .head().getLong(0) == nFiles)
    s2.sql("UPDATE g.nums SET v = -1 WHERE id = 7")
    assert(VersionedTable.removedDataFiles(t, 1L).size == 1,
      "a one-key UPDATE on a stats-less table must rewrite exactly " +
        "the one file holding the key (runtime group filtering)")
    assert(s2.sql("SELECT id, v FROM g.nums ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (0L until 100L).map(i => (i, if (i == 7) -1L else i)))
    // MERGE: the source touches ids 95..105 — one target file matches,
    // 100..105 insert. Only that file is replaced.
    s2.range(95, 106).selectExpr("id", "CAST(-2 AS BIGINT) AS v")
      .createOrReplaceTempView("u")
    s2.sql("""MERGE INTO g.nums t USING u ON t.id = u.id
              WHEN MATCHED THEN UPDATE SET v = u.v
              WHEN NOT MATCHED THEN INSERT (id, v) VALUES (u.id, u.v)""")
    assert(VersionedTable.removedDataFiles(t, 2L).size == 1,
      "a narrow-source MERGE must rewrite only the matching file")
    assert(s2.sql("SELECT id, v FROM g.nums ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (0L until 106L).map(i =>
        (i, if (i >= 95) -2L else if (i == 7) -1L else i)))
    // A DELETE matching every row would leave a manifest with no data
    // files (no schema source) — refused with the alternatives, table
    // intact.
    val e = intercept[Exception] {
      s2.sql("DELETE FROM g.nums WHERE v > -1000")
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage)
        .exists(_.contains("removes every row"))))
    assert(s2.sql("SELECT count(*) AS n FROM g.nums").head().getLong(0)
      == 106)
  }

  test("SQL UPDATE maintains the bloom skipping index") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cat_bloom_")
    val t = root.resolve("nums")
    VersionedTable.commitIndexed(spark, t, 0L,
      spark.range(0, 100).selectExpr("id", "id AS v")
        .repartitionByRange(4, $"id"), "id", "v")
    val s2 = session(root)
    s2.sql("UPDATE g.nums SET v = v + 1000 WHERE id BETWEEN 10 AND 40")
    // Full bloom coverage survives the rewrite: replaced files'
    // filters recomputed, untouched files' carried.
    val files1 = VersionedTable.statsManifest(t, 1L).map(_._1).toSet
    assert(VersionedTable.snapshot(t, 1L).blooms
      .collect { case (f, "v", _) => f }.toSet == files1)
    // And the recomputed filters have teeth: a point lookup on an
    // UPDATED value still prunes files.
    val (hit, read, total) = VersionedTable.readEquals(spark, t, "v",
      1035L)
    assert(hit.count() == 1 && read < total,
      s"bloom lookup read $read of $total files")
  }

  test("SQL INSERTs keep the skipping indexes alive") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cat_ins_")
    val t = root.resolve("nums")
    VersionedTable.commitWithStats(spark, t, 0L,
      spark.range(0, 100).selectExpr("id", "id AS v")
        .repartitionByRange(4, $"id"), "id", rowCounts = true)
    val s2 = session(root)
    // INSERT INTO: the appended files carry stats + ROWS like the
    // base's — a later range read prunes the old files away and the
    // metadata row counts still cover every file.
    s2.sql("INSERT INTO g.nums SELECT id, id AS v FROM range(200, 240)")
    val v1 = VersionedTable.latestVersion(t).get
    val (hit, read, total) = VersionedTable.readRange(spark, t, "id",
      200L, 239L)
    assert(hit.count() == 40 && read < total,
      s"range read $read of $total files after INSERT INTO")
    assert(VersionedTable.snapshot(t, v1).rowCounts.map(_._1).toSet ==
      VersionedTable.statsManifest(t, v1).map(_._1).toSet,
      "ROWS coverage must survive the insert")
    // INSERT OVERWRITE: the full manifest restates STATSCOL and
    // carries fresh stats — pruning survives the rewrite.
    s2.sql("INSERT OVERWRITE g.nums SELECT id, id AS v FROM range(50)")
    val v2 = VersionedTable.latestVersion(t).get
    assert(VersionedTable.snapshot(t, v2).statsColumns.headOption.contains("id"),
      "the overwrite must restate the STATSCOL declaration")
    assert(VersionedTable.snapshot(t, v2).rowCounts.map(_._2).sum == 50L)
    // An overwrite staging zero rows refuses (the table would lose its
    // schema source) — TRUNCATE TABLE is the legitimate verb.
    val e = intercept[Exception] {
      s2.sql("INSERT OVERWRITE g.nums SELECT id, id AS v FROM range(0)")
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage)
        .exists(_.contains("TRUNCATE TABLE"))))
    assert(s2.sql("SELECT count(*) AS n FROM g.nums").head().getLong(0)
      == 50)
  }

  test("the UPDATE plan carries the runtime group filter") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cat_rtfplan_")
    val t = root.resolve("nums")
    VersionedTable.commit(spark, t, 0L,
      spark.range(0, 20).selectExpr("id", "id AS v")
        .repartitionByRange(2, $"id"))
    val s2 = session(root)
    // The matching-rows subquery injects a dynamic-pruning runtime
    // filter into the operation scan — if this wiring regresses, the
    // statement silently degrades to a full-table rewrite.
    val plan = s2.sql("EXPLAIN UPDATE g.nums SET v = -1 WHERE id = 7")
      .head().getString(0)
    assert(plan.contains("dynamicpruning"),
      s"no runtime group filter in the UPDATE plan:\n$plan")
  }

  test("SQL MERGE INTO upserts through the group-replacement write") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cat_mrg_")
    val t = root.resolve("nums")
    VersionedTable.commitWithStats(spark, t, 0L,
      spark.range(0, 10).selectExpr("id", "id AS v")
        .repartitionByRange(2, $"id"), "id")
    val s2 = session(root)
    // newSession shares the SparkContext but not temp views — register
    // the source on s2 itself.
    s2.range(5, 15).selectExpr("id", "CAST(-1 AS BIGINT) AS v")
      .createOrReplaceTempView("upd")
    s2.sql("""MERGE INTO g.nums t USING upd u ON t.id = u.id
              WHEN MATCHED THEN UPDATE SET v = u.v
              WHEN NOT MATCHED THEN INSERT (id, v) VALUES (u.id, u.v)""")
    val got = s2.sql("SELECT id, v FROM g.nums ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == (0L until 15L).map(i => (i, if (i >= 5) -1L else i)))
    assert(VersionedTable.commitKind(t, 1L).contains("update"))
  }

  test("MERGE … NOT MATCHED BY SOURCE: the sync clauses, no wrongful group pruning") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cat_nmbs_")
    val t = root.resolve("nums")
    // 4 stats-less files; the source matches keys in ONE of them. The
    // correctness trap (r20): runtime group filtering must NOT prune
    // the rewrite to the matching file — source-ABSENT rows live in
    // the other three, and the NOT MATCHED BY SOURCE clause must reach
    // them. Spark plans the runtime filter only for merges without
    // the clause; this case would silently keep dead rows if that
    // ever regressed.
    VersionedTable.commit(spark, t, 0L,
      spark.range(0, 100).selectExpr("id", "id AS v")
        .repartitionByRange(4, $"id"))
    val s2 = session(root)
    // Source: ids 10..19 bumped (all in file 0's range), 200..204 new.
    s2.range(10, 20).selectExpr("id", "CAST(-5 AS BIGINT) AS v")
      .union(s2.range(200, 205).selectExpr("id", "CAST(-6 AS BIGINT) AS v"))
      .createOrReplaceTempView("snap")
    s2.sql("""MERGE INTO g.nums t USING snap u ON t.id = u.id
              WHEN MATCHED THEN UPDATE SET v = u.v
              WHEN NOT MATCHED THEN INSERT (id, v) VALUES (u.id, u.v)
              WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    val got = s2.sql("SELECT id, v FROM g.nums ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == ((10L until 20L).map((_, -5L)) ++
      (200L until 205L).map((_, -6L))),
      s"sync result wrong: $got")
    assert(VersionedTable.commitKind(t, 1L).contains("update"))
    // The UPDATE variant of the clause: source-absent rows take a
    // sentinel instead of dying.
    val t2 = root.resolve("nums2")
    VersionedTable.commit(spark, t2, 0L,
      spark.range(0, 20).selectExpr("id", "id AS v")
        .repartitionByRange(2, $"id"))
    s2.range(0, 5).selectExpr("id", "CAST(-7 AS BIGINT) AS v")
      .createOrReplaceTempView("snap2")
    s2.sql("""MERGE INTO g.nums2 t USING snap2 u ON t.id = u.id
              WHEN MATCHED THEN UPDATE SET v = u.v
              WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = -9""")
    val got2 = s2.sql("SELECT id, v FROM g.nums2 ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got2 == (0L until 20L).map(i => (i, if (i < 5) -7L else -9L)),
      s"NMBS UPDATE result wrong: $got2")
  }

  test("CALL procedures run the maintenance verbs from plain SQL") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cat_spec_")
    val t = root.resolve("nums")
    VersionedTable.commit(spark, t, 0L,
      spark.range(0, 50).toDF("id").repartition(8))
    VersionedTable.constraintCommit(spark, t, 1L, "id >= 0")
    VersionedTable.deleteCommit(spark, t, 2L, Seq(7L).toDF("id"), "id")
    val s2 = session(root)
    // compact: folds the DV, keeps the CHECK, reports its version.
    val res = s2.sql("CALL g.compact('nums', 'id', 2)").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(res("version") == 3L && res("files") <= 2L)
    assert(VersionedTable.deletionVectors(t, 3L).isEmpty)
    assert(VersionedTable.checkConstraints(t, 3L) == Seq("id >= 0"))
    // tag then expire: the pin survives the vacuum below it.
    s2.sql("CALL g.tag('nums', 'keep', 0)")
    val exp = s2.sql("CALL g.expire('nums', 3)").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exp("versions_expired") >= 1L)
    assert(VersionedTable.readRef(spark, t, "keep").count() == 50)
    assert(VersionedTable.read(spark, t).count() == 49)
    // Refusals surface as the CALL's error.
    intercept[Exception] { s2.sql("CALL g.tag('nums', 'keep', 3)") }
    intercept[Exception] { s2.sql("CALL g.nosuch('nums')") }
    // The ref lifecycle from SQL: branch at the clean snapshot, read
    // it by name, promote its (empty) additions — version advances.
    s2.sql("CALL g.branch('nums', 'dev', 3)")
    s2.sql("CALL g.branch('nums', 'main', 3)")
    assert(s2.sql("SELECT count(*) AS n FROM g.nums VERSION AS OF 'dev'")
      .head().getLong(0) == 49)
    val p = s2.sql("CALL g.promote('nums', 'dev', 'main')").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(p("version") == 4L && p("conflicts") == 0L)
  }

  test("CALL update_where/constrain/rename_column/widen_column complete the SQL-driven protocol") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cat_spec_")
    val t = root.resolve("nums")
    VersionedTable.commitWithStats(spark, t,
      0L, (1L to 40L).toDF("id").selectExpr("id", "id * 2 AS v")
        .repartitionByRange(4, org.apache.spark.sql.functions.col("id")),
      "id")
    val s2 = session(root)
    s2.sql("CALL g.constrain('nums', 'v >= 0')")
    val u = s2.sql(
      "CALL g.update_where('nums', 'id', 1, 10, 'v', 'v + 1000')")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(u("files_rewritten") > 0 &&
      u("files_rewritten") < u("files_total"),
      s"CALL update_where must partially rewrite, got $u")
    val got = VersionedTable.read(spark, t).selectExpr("id", "v")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 40L).forall(i =>
      got(i) == (if (i <= 10) i * 2 + 1000 else i * 2)))
    // A SET violating the CHECK refuses pre-publish.
    intercept[Exception] {
      s2.sql("CALL g.update_where('nums', 'id', 1, 5, 'v', '-1')")
    }
    // Metadata-only evolution from SQL.
    s2.sql("CALL g.rename_column('nums', 'v', 'val')")
    s2.sql("CALL g.widen_column('nums', 'val', 'decimal(20,0)')")
    assert(VersionedTable.read(spark, t).columns.toSeq
      .contains("val"))
    // Declaring a CHECK the snapshot violates refuses after its scan.
    intercept[Exception] { s2.sql("CALL g.constrain('nums', 'id > 5')") }
  }

  test("CALL rollback retargets a branch; INSERT OVERWRITE carries CHECKs") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cat_rb_")
    val t = root.resolve("nums")
    VersionedTable.commit(spark, t, 0L, spark.range(0, 5).toDF("id"))
    VersionedTable.branchCreate(t, "main", 0L)
    VersionedTable.branchCommit(spark, t, "main",
      spark.range(5, 8).toDF("id"))
    val s2 = session(root)
    // Rollback = one ref record, no data touched; the bad commit stays
    // readable in the log (time travel) but main serves v0 again.
    s2.sql("CALL g.rollback('nums', 'main', 0)")
    assert(VersionedTable.refHead(t, "main").get._2 == 0L)
    assert(VersionedTable.readRef(spark, t, "main").count() == 5)
    VersionedTable.tagCreate(t, "pin", 0L)
    intercept[Exception] { s2.sql("CALL g.rollback('nums', 'pin', 0)") }
    // INSERT OVERWRITE: the V2 truncate path is a rewrite commit that
    // VALIDATES against and CARRIES the declared CHECK constraints.
    val t2 = root.resolve("ow")
    VersionedTable.commit(spark, t2, 0L, spark.range(0, 5).toDF("id"))
    VersionedTable.constraintCommit(spark, t2, 1L, "id >= 0")
    s2.sql("INSERT OVERWRITE g.ow SELECT id + 100 AS id FROM range(3)")
    assert(s2.sql("SELECT count(*) AS n FROM g.ow").head().getLong(0) == 3)
    assert(VersionedTable.checkConstraints(t2,
      VersionedTable.latestVersion(t2).get) == Seq("id >= 0"))
    intercept[Exception] {
      s2.sql("INSERT OVERWRITE g.ow SELECT -5 AS id")
    }
    assert(s2.sql("SELECT count(*) AS n FROM g.ow").head().getLong(0) == 3)
    // TRUNCATE TABLE: one KIND=update commit, schema + CHECK + history
    // survive; the emptied table still reads and re-inserts validate.
    val vBefore = VersionedTable.latestVersion(t2).get
    s2.sql("TRUNCATE TABLE g.ow")
    assert(s2.sql("SELECT count(*) AS n FROM g.ow").head().getLong(0) == 0)
    val vT = VersionedTable.latestVersion(t2).get
    assert(vT == vBefore + 1 &&
      VersionedTable.commitKind(t2, vT).contains("update"))
    assert(VersionedTable.checkConstraints(t2, vT) == Seq("id >= 0"))
    assert(s2.sql(
      s"SELECT count(*) AS n FROM g.ow VERSION AS OF $vBefore")
      .head().getLong(0) == 3)
    intercept[Exception] { s2.sql("INSERT INTO g.ow SELECT -7 AS id") }
    s2.sql("INSERT INTO g.ow SELECT 7 AS id")
    assert(s2.sql("SELECT count(*) AS n FROM g.ow").head().getLong(0) == 1)
  }

  test("TRUNCATE TABLE works on stats/indexed tables (zero-row stats synthesized)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cat_trunc_")
    // commitWithStats — the framework's primary shape: the truncate
    // commit's single zero-row file contributes no aggregation row, so
    // the staged-stats pass must synthesize the never-skippable full
    // range + ROWS 0 instead of refusing.
    val t = root.resolve("st")
    VersionedTable.commitWithStats(spark, t, 0L,
      spark.range(0, 40).toDF("id").repartitionByRange(2, $"id"), "id",
      rowCounts = true)
    val s2 = session(root)
    s2.sql("TRUNCATE TABLE g.st")
    assert(s2.sql("SELECT count(*) AS n FROM g.st").head().getLong(0) == 0)
    val vT = VersionedTable.latestVersion(t).get
    // STATSCOL survives the rewrite; the synthesized line is the
    // full (never-skippable) range; ROWS records zero.
    assert(VersionedTable.snapshot(t, vT).statsColumns == Seq("id"))
    assert(VersionedTable.statsManifest(t, vT).map(m => (m._2, m._3)) ==
      Seq((Long.MinValue, Long.MaxValue)))
    assert(VersionedTable.snapshot(t, vT).rowCounts.map(_._2) == Seq(0L))
    // The emptied table still ingests with index continuity intact.
    s2.sql("INSERT INTO g.st SELECT 7 AS id")
    assert(s2.sql("SELECT sum(id) AS s FROM g.st").head().getLong(0) == 7)
    val vI = VersionedTable.latestVersion(t).get
    assert(VersionedTable.statsManifest(t, vI)
      .exists(m => m._2 == 7L && m._3 == 7L))
    // commitIndexed (stats + bloom) truncates the same way.
    val t2 = root.resolve("ix")
    VersionedTable.commitIndexed(spark, t2, 0L,
      spark.range(0, 40).toDF("id"), "id", "id")
    s2.sql("TRUNCATE TABLE g.ix")
    assert(s2.sql("SELECT count(*) AS n FROM g.ix").head().getLong(0) == 0)
  }

  test("table names carrying path segments refuse before any filesystem use") {
    val root = Files.createTempDirectory("graft_cat_esc_")
    // A victim table OUTSIDE the catalog root, reachable only by
    // traversal: DROP through a quoted identifier must not erase it.
    val outside = Files.createTempDirectory("graft_cat_victim_")
    VersionedTable.commit(spark, outside.resolve("v"), 0L,
      spark.range(0, 3).toDF("id"))
    val rel = root.relativize(outside).toString + "/v"
    val s2 = session(root)
    intercept[Exception] { s2.sql(s"DROP TABLE g.`$rel`") }
    assert(VersionedTable.latestVersion(outside.resolve("v"))
      .contains(0L), "the foreign table must survive")
    // The guard itself, at the catalog API (SQL may wrap the error):
    val cat = new GraftCatalog()
    cat.initialize("g", new org.apache.spark.sql.util
      .CaseInsensitiveStringMap(
        java.util.Collections.singletonMap("root", root.toString)))
    val direct = intercept[IllegalArgumentException] {
      cat.dropTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array.empty, rel))
    }
    assert(direct.getMessage.contains("invalid table name"))
    assert(VersionedTable.latestVersion(outside.resolve("v"))
      .contains(0L))
    // Same guard on the read/create faces.
    intercept[Exception] { s2.sql(s"SELECT * FROM g.`$rel`").collect() }
    intercept[Exception] {
      s2.sql(s"CREATE TABLE g.`../escape` (id BIGINT)")
    }
    assert(!Files.exists(root.getParent.resolve("escape")))
  }

  test("CREATE TABLE AS SELECT bootstraps v0 and lands data as v1") {
    val root = Files.createTempDirectory("graft_cat_ddl_")
    val s2 = session(root)
    s2.sql("CREATE TABLE g.made AS SELECT id, id * 2 AS v FROM range(5)")
    val t = root.resolve("made")
    // v0 = the schema-pinning empty bootstrap; v1 = the CTAS rows —
    // time travel to the declaration stays possible forever.
    assert(VersionedTable.versions(t) == Seq(0L, 1L))
    assert(s2.sql("SELECT count(*) AS n FROM g.made VERSION AS OF 0")
      .head().getLong(0) == 0)
    assert(s2.sql("SELECT sum(v) AS s FROM g.made").head().getLong(0)
      == 20)
    // Plain CREATE TABLE declares an empty table; re-creating refuses.
    s2.sql("CREATE TABLE g.empty (id BIGINT, name STRING)")
    assert(s2.sql("SELECT count(*) AS n FROM g.empty").head().getLong(0)
      == 0)
    intercept[Exception] { s2.sql("CREATE TABLE g.made (id BIGINT)") }
    // Unsupported column types fail BEFORE any commit exists.
    intercept[Exception] {
      s2.sql("CREATE TABLE g.bad (m MAP<STRING, STRING>)")
    }
    assert(VersionedTable.latestVersion(root.resolve("bad")).isEmpty)
  }

  test("RENAME TABLE moves history and refs atomically; CREATE OR REPLACE is ref-guarded") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cat_ren_")
    val t = root.resolve("a")
    VersionedTable.commit(spark, t, 0L, Seq(1L, 2L).toDF("id"))
    VersionedTable.appendCommit(spark, t, Seq(3L).toDF("id"))
    VersionedTable.tagCreate(t, "rel", 0L)
    val s2 = session(root)
    s2.sql("ALTER TABLE g.a RENAME TO g.b")
    // The whole history and the tag rode the move.
    assert(VersionedTable.latestVersion(root.resolve("a")).isEmpty)
    assert(s2.sql("SELECT count(*) AS n FROM g.b").head().getLong(0) == 3)
    assert(s2.sql("SELECT count(*) AS n FROM g.b VERSION AS OF 'rel'")
      .head().getLong(0) == 2)
    // Renaming onto a live table refuses; so does a traversal name.
    val t2 = root.resolve("c")
    VersionedTable.commit(spark, t2, 0L, Seq(9L).toDF("id"))
    intercept[Exception] { s2.sql("ALTER TABLE g.b RENAME TO g.c") }
    intercept[Exception] { s2.sql("ALTER TABLE g.b RENAME TO g.`../x`") }
    assert(s2.sql("SELECT count(*) AS n FROM g.b").head().getLong(0) == 3)
    // CREATE OR REPLACE: ref-guarded like DROP — the pinned release
    // refuses to vanish; after the refs are dropped, the replace
    // lands a fresh declaration + data.
    intercept[Exception] {
      s2.sql("CREATE OR REPLACE TABLE g.b AS SELECT 7L AS id")
    }
    assert(s2.sql("SELECT count(*) AS n FROM g.b").head().getLong(0) == 3)
    java.nio.file.Files.walk(root.resolve("b").resolve("_refs")).sorted(
      java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
    s2.sql("CREATE OR REPLACE TABLE g.b AS SELECT 7L AS id")
    assert(s2.sql("SELECT id FROM g.b").collect().map(_.getLong(0))
      .toSeq == Seq(7L))
    assert(VersionedTable.versions(root.resolve("b")) == Seq(0L, 1L),
      "the replace must land as a fresh bootstrap + data history")
  }

  test("CREATE TABLE PARTITIONED BY: layout declared, INSERT lands col=value, refusals") {
    val root = Files.createTempDirectory("graft_cat_part_")
    val s2 = session(root)
    s2.sql("CREATE TABLE g.p (id BIGINT, region STRING) " +
      "PARTITIONED BY (region)")
    val t = root.resolve("p")
    assert(VersionedTable.snapshot(t, 0L).declaredPartitionCols == Seq("region"))
    s2.sql("INSERT INTO g.p VALUES (1, 'east'), (2, 'west'), (3, 'east')")
    val files = VersionedTable.addedLines(t, 1L).filterNot(_.contains('\t'))
    assert(files.forall(_.contains("region=")) && files.size == 2,
      s"expected one file per region, got $files")
    // The partition column reads back from the path; values round-trip
    // through the URL encoding.
    assert(s2.sql("SELECT id, region FROM g.p ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "east"), (2L, "west"), (3L, "east")))
    // Static predicate pruning: one scan partition per surviving file
    // (+ the never-prunable flat bootstrap).
    assert(s2.sql("SELECT * FROM g.p WHERE region = 'west'")
      .rdd.getNumPartitions == 2)
    // Path-hostile partition values survive the encode/decode round
    // trip — including a literal '+', which URL-form decoding would
    // corrupt to a space (the codec is %XX-only); NULL partition
    // values refuse loudly.
    s2.sql("INSERT INTO g.p VALUES (4, 'a/b=c d'), (5, 'x+y')")
    assert(s2.sql("SELECT region FROM g.p WHERE id = 4").head()
      .getString(0) == "a/b=c d")
    assert(s2.sql("SELECT region FROM g.p WHERE id = 5").head()
      .getString(0) == "x+y")
    intercept[Exception] {
      s2.sql("INSERT INTO g.p VALUES (5, CAST(NULL AS STRING))")
    }
    // MULTI-COLUMN layout (r16): values nest in declaration order and
    // predicates on either column prune files.
    s2.sql("CREATE TABLE g.m (id BIGINT, d STRING, r STRING) " +
      "PARTITIONED BY (d, r)")
    s2.sql("INSERT INTO g.m VALUES (1, 'd1', 'east'), (2, 'd1', 'west'), " +
      "(3, 'd2', 'east'), (4, 'd2', 'east')")
    val m = root.resolve("m")
    val mFiles = VersionedTable.addedLines(m, 1L).filterNot(_.contains('\t'))
    assert(mFiles.size == 3 && mFiles.forall(f =>
      f.matches(".*d=d[12]/r=(east|west)/.*")),
      s"expected nested d=/r= segments, got $mFiles")
    assert(s2.sql("SELECT id FROM g.m WHERE d = 'd2' AND r = 'east'")
      .rdd.getNumPartitions == 2) // the one matching file + bootstrap
    assert(s2.sql("SELECT id, d, r FROM g.m ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq ==
      Seq((1L, "d1", "east"), (2L, "d1", "west"),
        (3L, "d2", "east"), (4L, "d2", "east")))
    // Compaction preserves the multi-column layout.
    s2.sql("CALL g.compact('m')")
    val v2files = VersionedTable.statsManifest(m, 2L).map(_._1)
    assert(v2files.forall(_.matches(".*d=d[12]/r=(east|west)/.*")),
      s"compaction must keep the layout, got $v2files")
    assert(VersionedTable.snapshot(m, 2L).declaredPartitionCols == Seq("d", "r"))
    assert(s2.sql("SELECT sum(id) AS s FROM g.m").head().getLong(0) == 10)
    // TRUNCATE on a partitioned table: reads nothing, keeps the
    // declared layout (PARTCOL restated), and re-inserts land
    // partitioned again.
    s2.sql("TRUNCATE TABLE g.m")
    assert(s2.sql("SELECT count(*) AS n FROM g.m").head().getLong(0) == 0)
    assert(VersionedTable.snapshot(m,
      VersionedTable.latestVersion(m).get).declaredPartitionCols == Seq("d", "r"))
    s2.sql("INSERT INTO g.m VALUES (9, 'd3', 'east')")
    assert(VersionedTable.addedLines(m,
        VersionedTable.latestVersion(m).get)
      .filterNot(_.contains('\t'))
      .forall(_.matches(".*d=d3/r=east/.*")),
      "post-TRUNCATE inserts must keep landing partitioned")
    // A DELETE keyed on a partition column refuses UP FRONT (its
    // values ride file paths — a DV could never apply at read time).
    val delEx = intercept[Exception] {
      s2.sql("DELETE FROM g.m WHERE d = 'd3'")
    }
    assert(Iterator.iterate(delEx: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .exists(c => Option(c.getMessage)
        .exists(_.contains("partition-layout"))))
    assert(s2.sql("SELECT count(*) AS n FROM g.m").head().getLong(0) == 1,
      "the refused DELETE must not commit anything")
    // Refusals: non-string identity partition column, and a TIME
    // transform on a non-BIGINT raw column (bucket/days are features
    // since r18, years since r19 — but only over epoch-micros BIGINTs).
    intercept[Exception] {
      s2.sql("CREATE TABLE g.bad1 (id BIGINT) PARTITIONED BY (id)")
    }
    intercept[Exception] {
      s2.sql("CREATE TABLE g.bad3 (id BIGINT, a STRING) " +
        "PARTITIONED BY (years(a))")
    }
    assert(VersionedTable.latestVersion(root.resolve("bad1")).isEmpty &&
      VersionedTable.latestVersion(root.resolve("bad3")).isEmpty)
  }

  test("ALTER TABLE ADD COLUMN: metadata-only, NULL history, refusals") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cat_addc_")
    val t = root.resolve("d")
    VersionedTable.commitWithStats(spark, t, 0L,
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v").coalesce(1), "id")
    val s2 = session(root)
    s2.sql("ALTER TABLE g.d ADD COLUMN extra STRING")
    // Metadata-only: no data dir grew, one ADDCOL mapping lives.
    assert(VersionedTable.snapshot(t, 1L).columnMappings ==
      Seq(("addcol", "extra", "string")))
    // Legacy rows read as typed NULLs from SQL immediately; stats
    // pruning on the original column still works underneath.
    val rows = s2.sql("SELECT id, v, extra FROM g.d ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.isNullAt(2)))
      .toSeq == Seq((1L, 10L, true), (2L, 20L, true)))
    // INSERT lands real values; the mixed read serves both.
    s2.sql("INSERT INTO g.d SELECT 3L AS id, 30L AS v, 'x' AS extra")
    assert(s2.sql("SELECT count(*) AS n FROM g.d WHERE extra IS NULL")
      .head().getLong(0) == 2)
    assert(s2.sql("SELECT extra FROM g.d WHERE id = 3").head()
      .getString(0) == "x")
    // Time travel below the ALTER sees the old schema.
    assert(!s2.sql("SELECT * FROM g.d VERSION AS OF 0")
      .schema.fieldNames.contains("extra"))
    // DML composes with the live mapping (r16): an UPDATE right after
    // the ADD rewrites its matched files under the evolved schema —
    // no compaction in between — and the untouched history keeps
    // serving NULLs through the carried mapping.
    s2.sql("UPDATE g.d SET extra = 'y' WHERE id = 1")
    assert(s2.sql("SELECT id, extra FROM g.d ORDER BY id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq ==
      Seq((1L, Some("y")), (2L, None), (3L, Some("x"))))
    // Refusals: duplicate name, NOT NULL, positioned add, bad type.
    intercept[Exception] { s2.sql("ALTER TABLE g.d ADD COLUMN v BIGINT") }
    intercept[Exception] {
      s2.sql("ALTER TABLE g.d ADD COLUMN req BIGINT NOT NULL")
    }
    intercept[Exception] {
      s2.sql("ALTER TABLE g.d ADD COLUMN pos BIGINT FIRST")
    }
    intercept[Exception] {
      s2.sql("ALTER TABLE g.d ADD COLUMN m MAP<STRING, STRING>")
    }
    // The library verb refuses re-adding a mapped (not yet
    // materialized) column too.
    intercept[IllegalArgumentException] {
      VersionedTable.addColumnCommit(spark, t,
        VersionedTable.latestVersion(t).get + 1, "extra", "bigint")
    }
    // A change feed pinned before the ALTER fails on the ADDCOL
    // commit (stream schema is pinned at start) rather than serving
    // rows under a stale schema.
    intercept[Exception] {
      val tmp = Files.createTempDirectory("graft_addc_feed_")
      val q = spark.readStream.format("graft-changes").load(t.toString)
        .writeStream.format("parquet")
        .option("path", s"$tmp/out")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      if (!q.awaitTermination(120000L)) q.stop()
      q.exception.foreach(throw _)
    }
  }

  test("CALL cluster rewrites in z-order and republishes prunable stats") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cat_cluster_")
    val s2 = session(root)
    val t = root.resolve("zt")
    // Two scrambled BIGINT dims committed FLAT with no stats at all —
    // the cluster call must create the whole skipping surface itself.
    VersionedTable.commit(spark, t, 0L,
      spark.range(0, 1024).selectExpr("id",
        "CAST((id * 37) % 1024 AS BIGINT) AS v",
        "CAST(id % 7 AS BIGINT) AS payload").repartition(8))
    VersionedTable.constraintCommit(spark, t, 1L, "payload >= 0")
    val out = s2.sql("CALL g.cluster('zt', 'id,v', files => 16)")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("version") == 2L)
    assert(VersionedTable.commitKind(t, 2L).contains("compact"))
    // Box predicates prune through the catalog scan — on BOTH
    // dimensions at once and on each dimension ALONE (the rectangle
    // property; a stripe layout would admit every file on one dim).
    val total = VersionedTable.statsManifest(t, 2L).size
    def planned(where: String): Int =
      s2.sql(s"SELECT * FROM g.zt WHERE $where").rdd.getNumPartitions
    assert(planned("id BETWEEN 256 AND 511 AND v BETWEEN 256 AND 511")
      < total)
    assert(planned("id BETWEEN 256 AND 511") < total)
    assert(planned("v BETWEEN 256 AND 511") < total)
    // Content preserved; the CHECK constraint survived the rewrite and
    // still gates inserts.
    assert(s2.sql("SELECT count(*) AS n FROM g.zt").head().getLong(0)
      == 1024)
    assert(VersionedTable.checkConstraints(t, 2L) == Seq("payload >= 0"))
    intercept[Exception] {
      s2.sql("INSERT INTO g.zt VALUES (5000, 5000, -1)")
    }
    // Refusals: >2 columns, and a non-BIGINT cluster column.
    intercept[Exception] { s2.sql("CALL g.cluster('zt', 'id,v,payload')") }
    intercept[Exception] { s2.sql("CALL g.cluster('zt', 'missing')") }
  }

  test("ALTER TABLE DROP COLUMN refuses load-bearing columns") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cat_dropc_")
    val s2 = session(root)
    // Stats column: refused.
    val t1 = root.resolve("st")
    VersionedTable.commitWithStats(spark, t1, 0L,
      Seq((1L, 2L)).toDF("id", "v").coalesce(1), "id")
    intercept[Exception] { s2.sql("ALTER TABLE g.st DROP COLUMN id") }
    // Non-load-bearing sibling drops fine; last column refused.
    s2.sql("ALTER TABLE g.st DROP COLUMN v")
    intercept[Exception] { s2.sql("ALTER TABLE g.st DROP COLUMN id") }
    // DV key column: refused while the DV lives.
    val t2 = root.resolve("dv")
    VersionedTable.commit(spark, t2, 0L,
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    VersionedTable.deleteCommit(spark, t2, 1L, Seq(1L).toDF("id"), "id")
    intercept[Exception] { s2.sql("ALTER TABLE g.dv DROP COLUMN id") }
    // CHECK-referenced column: refused with the constraint named.
    val t3 = root.resolve("ck")
    VersionedTable.commit(spark, t3, 0L,
      Seq((1L, 10L)).toDF("id", "v"))
    VersionedTable.constraintCommit(spark, t3, 1L, "v >= 0")
    intercept[Exception] { s2.sql("ALTER TABLE g.ck DROP COLUMN v") }
    // ...resolved case-INSENSITIVELY, the way Spark binds identifiers
    // (ADVICE r16: a guard that missed `CHECK (V >= 0)` over column
    // `v` would let the drop brick every subsequent write).
    val t3b = root.resolve("ckci")
    VersionedTable.commit(spark, t3b, 0L,
      Seq((1L, 10L)).toDF("id", "v"))
    VersionedTable.constraintCommit(spark, t3b, 1L, "V >= 0")
    intercept[Exception] { s2.sql("ALTER TABLE g.ckci DROP COLUMN v") }
    // ...and a name appearing only inside a string LITERAL does not
    // false-refuse (the old raw-text regex did).
    val t3c = root.resolve("cklit")
    VersionedTable.commit(spark, t3c, 0L,
      Seq((1L, 10L)).toDF("id", "v"))
    VersionedTable.constraintCommit(spark, t3c, 1L,
      "concat('v', 'x') = 'vx'")
    s2.sql("ALTER TABLE g.cklit DROP COLUMN v")
    assert(!s2.table("g.cklit").schema.fieldNames.contains("v"))
    // Partition column: refused.
    s2.sql("CREATE TABLE g.pt (id BIGINT, r STRING) PARTITIONED BY (r)")
    intercept[Exception] { s2.sql("ALTER TABLE g.pt DROP COLUMN r") }
    // Live rename mapping: refused (footer-time name hazard).
    val t4 = root.resolve("rn")
    VersionedTable.commit(spark, t4, 0L,
      Seq((1L, 10L)).toDF("id", "v"))
    s2.sql("ALTER TABLE g.rn RENAME COLUMN v TO w")
    intercept[Exception] { s2.sql("ALTER TABLE g.rn DROP COLUMN w") }
  }

  test("ALTER TABLE publishes rename/widen commits; DROP is ref-guarded") {
    val root = Files.createTempDirectory("graft_cat_ddl2_")
    val s2 = session(root)
    s2.sql("CREATE TABLE g.ev AS SELECT id, CAST(id AS INT) AS small " +
      "FROM range(4)")
    val t = root.resolve("ev")
    s2.sql("ALTER TABLE g.ev RENAME COLUMN small TO grown")
    s2.sql("ALTER TABLE g.ev ALTER COLUMN grown TYPE BIGINT")
    // Both are metadata-only commits; the library read serves the
    // evolved schema without a rewrite.
    assert(VersionedTable.versions(t) == Seq(0L, 1L, 2L, 3L))
    val evolved = VersionedTable.read(spark, t)
    assert(evolved.schema.fieldNames.toSeq == Seq("id", "grown"))
    assert(evolved.schema("grown").dataType ==
      org.apache.spark.sql.types.LongType)
    intercept[Exception] {
      s2.sql("ALTER TABLE g.ev ALTER COLUMN grown COMMENT 'x'")
    }
    // A multi-change set would half-apply if a later change refused —
    // one change per statement (each evolution its own atomic commit).
    val cat = new GraftCatalog()
    cat.initialize("g", new org.apache.spark.sql.util
      .CaseInsensitiveStringMap(
        java.util.Collections.singletonMap("root", root.toString)))
    val multi = intercept[IllegalArgumentException] {
      cat.alterTable(
        org.apache.spark.sql.connector.catalog.Identifier
          .of(Array.empty, "ev"),
        org.apache.spark.sql.connector.catalog.TableChange
          .renameColumn(Array("id"), "a"),
        org.apache.spark.sql.connector.catalog.TableChange
          .renameColumn(Array("grown"), "b"))
    }
    assert(multi.getMessage.contains("one change per ALTER"))
    // DROP refuses while a ref pins history; dropping after is final.
    VersionedTable.tagCreate(t, "keep", 1L)
    intercept[Exception] { s2.sql("DROP TABLE g.ev") }
    assert(VersionedTable.latestVersion(t).contains(3L))
    java.nio.file.Files.walk(t.resolve("_refs")).sorted(
      java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
    s2.sql("DROP TABLE g.ev")
    assert(VersionedTable.latestVersion(t).isEmpty)
    intercept[Exception] { s2.sql("SELECT * FROM g.ev").collect() }
  }

  test("'$' is reserved for metadata tables — CREATE refuses it") {
    val root = staged()
    val s2 = session(root)
    // A '$'-bearing name would be permanently unloadable (load() routes
    // every '$' identifier to the metadata surface) and could shadow a
    // real table's metadata views.
    intercept[Exception] {
      s2.sql("CREATE TABLE g.`docs$x` (id BIGINT)")
    }
    intercept[Exception] {
      s2.sql("CALL g.create_mv('m$files', 'nums', 'b', " +
        "'SELECT CAST(id % 2 AS STRING) AS b, count(*) AS n " +
        "FROM __BASE__ GROUP BY 1')").collect()
    }
  }

  test("CALL hnsw_merge: schedulable segment maintenance under the root") {
    import spark.implicits._
    val root = staged()
    val s2 = session(root)
    val idx = root.resolve("docs_idx")
    // Three tiny ingest segments of 8-dim vectors, the continuous-
    // ingest shape the merge policy exists to bound.
    def batch(seg: Int, lo: Long) =
      (lo until lo + 12L).map(i =>
        (i, Seq.tabulate(8)(d => ((i * 31 + d * 7) % 13).toDouble), seg))
        .toDF("vec_id", "e", "seg")
    Seq(0, 1, 2).foreach(sg =>
      graft.queries.EmbeddingQueries.hnswBuildSegments(
        batch(sg, sg * 12L), idx, efC = 8, m = 4, maxDeg = 8))
    val before = spark.read.parquet(idx.toString)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val res = s2.sql("CALL g.hnsw_merge('docs_idx', '0,1', 7)")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(res("segments_before") == 3L && res("segments_after") == 2L)
    // Every vector survives the merge; the untouched segment is intact.
    val after = spark.read.parquet(idx.toString)
    assert(after.select("vec_id").collect().map(_.getLong(0)).sorted
      .toSeq == before)
    assert(after.select("seg").distinct().collect().map(_.getInt(0))
      .sorted.toSeq == Seq(2, 7))
    // Refusals surface as the CALL's error: an existing target seg.
    intercept[Exception] {
      s2.sql("CALL g.hnsw_merge('docs_idx', '2', 7)").collect()
    }
  }

  test("CALL hnsw_merge on a VERSIONED index: one atomic rewrite commit") {
    import spark.implicits._
    val root = staged()
    val s2 = session(root)
    val idx = root.resolve("docs_idxv")
    def batch(seg: Int, lo: Long) =
      (lo until lo + 12L).map(i =>
        (i, Seq.tabulate(8)(d => ((i * 31 + d * 7) % 13).toDouble), seg))
        .toDF("vec_id", "e", "seg")
    Seq(0, 1, 2).foreach(sg =>
      graft.queries.EmbeddingQueries.hnswCommitSegments(
        batch(sg, sg * 12L), idx, efC = 8, m = 4, maxDeg = 8))
    assert(VersionedTable.latestVersion(idx).contains(2L))
    val before = spark.read.format("graft-table").load(idx.toString)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val res = s2.sql("CALL g.hnsw_merge('docs_idxv', '0,1', 7)")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(res("segments_before") == 3L && res("segments_after") == 2L)
    // One commit, every vector survives, the untouched segment rides
    // verbatim, and TIME TRAVEL still serves the pre-merge index.
    assert(VersionedTable.latestVersion(idx).contains(3L))
    val after = spark.read.format("graft-table").load(idx.toString)
    assert(after.select("vec_id").collect().map(_.getLong(0)).sorted
      .toSeq == before)
    assert(after.select("seg").distinct().collect().map(_.getInt(0))
      .sorted.toSeq == Seq(2, 7))
    assert(spark.read.format("graft-table").option("version", "2")
      .load(idx.toString).select("seg").distinct().collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(0, 1, 2))
    // Refusal: merging into an existing segment.
    intercept[Exception] {
      s2.sql("CALL g.hnsw_merge('docs_idxv', '2', 7)").collect()
    }
  }

  test("bucket-transform storage-partitioned join: zero shuffles via V2 function") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val root = staged()
    val s2 = session(root)
    def mk(name: String, rows: org.apache.spark.sql.DataFrame): Unit = {
      val t = root.resolve(name)
      VersionedTable.commit(spark, t, 0L, rows)
      VersionedTable.evolvePartitionLayout(spark, t, Seq("bucket(8,id)"))
      // Compaction un-rags the flat v0 under the bucket spec — every
      // live file then carries an id_bucket segment.
      VersionedTable.compactCommit(spark, t, files = 2)
    }
    mk("bfact", (0L until 200L).map(i => (i, i * 3)).toDF("id", "v"))
    mk("bdim", (0L until 200L by 2).map(i => (i, i * 7)).toDF("id", "w"))
    def shuffles(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }.size
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    def joined() = s2.sql(
      "SELECT f.id, f.v, d.w FROM g.bfact f JOIN g.bdim d ON f.id = d.id")
    // Without the opt-in: both sides shuffle.
    assert(shuffles(joined()) == 2)
    // With it: the bucket(8, id) KeyGroupedPartitioning resolves
    // through the catalog's V2 `bucket` function and the join plans
    // with ZERO exchanges — co-location proven from manifests alone.
    s2.conf.set("spark.graft.planning.preserveDataGrouping", "true")
    val spj = joined()
    assert(shuffles(spj) == 0,
      s"bucket SPJ must plan no Exchange:\n${spj.queryExecution.executedPlan}")
    assert(spj.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2))).sorted.toSeq ==
      (0L until 200L by 2).map(i => (i, i * 3, i * 7)))
    // Mismatched bucket counts must never claim compatibility.
    val t3 = root.resolve("bdim16")
    VersionedTable.commit(spark, t3, 0L,
      (0L until 200L by 2).map(i => (i, i * 7)).toDF("id", "w"))
    VersionedTable.evolvePartitionLayout(spark, t3, Seq("bucket(16,id)"))
    VersionedTable.compactCommit(spark, t3, files = 2)
    assert(shuffles(s2.sql("SELECT f.id, f.v, d.w FROM g.bfact f " +
      "JOIN g.bdim16 d ON f.id = d.id")) > 0,
      "bucket(8) vs bucket(16) must fall back to shuffle")
  }

  test("days-transform storage-partitioned join: zero shuffles via V2 grain function") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val root = staged()
    val s2 = session(root)
    val day0Us = 1704067200000000L // 2024-01-01T00:00Z in epoch micros
    def us(d: Long) = day0Us + d * 86400000000L
    def mk(name: String, rows: org.apache.spark.sql.DataFrame): Unit = {
      val t = root.resolve(name)
      VersionedTable.commit(spark, t, 0L, rows)
      VersionedTable.evolvePartitionLayout(spark, t, Seq("days(ts_us)"))
      VersionedTable.compactCommit(spark, t, files = 2)
    }
    // Equal ts_us values share a day by construction — the raw-column
    // equi-join is co-located under days(ts_us) on both sides.
    mk("dfact", (0L until 120L).map(i => (us(i % 4) + i % 3, i))
      .toDF("ts_us", "v"))
    mk("ddim", (0L until 4L).flatMap(d => (0L until 3L).map(k =>
      (us(d) + k, d * 10 + k))).toDF("ts_us", "w"))
    def shuffles(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }.size
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    def joined() = s2.sql(
      "SELECT f.ts_us, f.v, d.w FROM g.dfact f JOIN g.ddim d " +
        "ON f.ts_us = d.ts_us")
    // Without the opt-in: both sides shuffle (the r18 behavior).
    assert(shuffles(joined()) == 2)
    // With it: days(ts_us) resolves through the catalog's V2 `days`
    // grain function and the join plans with ZERO exchanges.
    s2.conf.set("spark.graft.planning.preserveDataGrouping", "true")
    val spj = joined()
    assert(shuffles(spj) == 0,
      s"days SPJ must plan no Exchange:\n${spj.queryExecution.executedPlan}")
    val expected = (0L until 120L).map(i => (us(i % 4) + i % 3, i))
      .flatMap { case (ts, v) =>
        val d = (ts - day0Us) / 86400000000L
        val k = ts % 3
        Seq((ts, v, d * 10 + k))
      }.sorted
    assert(spj.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2))).sorted.toSeq == expected)
    // Task grouping is per DAY, not per file.
    assert(spj.rdd.getNumPartitions == 4,
      s"expected 4 day-grouped tasks, got ${spj.rdd.getNumPartitions}")
    // A MIXED-grain pair (days vs months) must never claim
    // compatibility — canonical names differ, Spark falls back.
    val t3 = root.resolve("ddim_m")
    VersionedTable.commit(spark, t3, 0L,
      (0L until 4L).flatMap(d => (0L until 3L).map(k =>
        (us(d) + k, d * 10 + k))).toDF("ts_us", "w"))
    VersionedTable.evolvePartitionLayout(spark, t3, Seq("months(ts_us)"))
    VersionedTable.compactCommit(spark, t3, files = 2)
    assert(shuffles(s2.sql("SELECT f.ts_us, f.v, d.w FROM g.dfact f " +
      "JOIN g.ddim_m d ON f.ts_us = d.ts_us")) > 0,
      "days vs months grains must fall back to shuffle")
    // TRUE-TIMESTAMP grain SPJ (r19): days(ts) on TIMESTAMP_NTZ
    // columns reports the same grain function (micros view shared),
    // and two such tables join exchange-free too.
    def mkTs(name: String): Unit = {
      val t = root.resolve(name)
      VersionedTable.commit(spark, t, 0L,
        (0L until 40L).map(i => (us(i % 3) + i % 2, i)).toDF("us", "v")
          .selectExpr("CAST(timestamp_micros(us) AS TIMESTAMP_NTZ) " +
            "AS ts", "v"))
      VersionedTable.evolvePartitionLayout(spark, t, Seq("days(ts)"))
      VersionedTable.compactCommit(spark, t, files = 2)
    }
    mkTs("tfact")
    mkTs("tdim")
    val tsSpj = s2.sql("SELECT f.ts, f.v, d.v AS w FROM g.tfact f " +
      "JOIN g.tdim d ON f.ts = d.ts")
    assert(shuffles(tsSpj) == 0,
      s"timestamp-grain SPJ must plan no Exchange:\n" +
        s"${tsSpj.queryExecution.executedPlan}")
    assert(tsSpj.count() > 0)
  }

  test("years-transform SPJ: zero shuffles via the V2 years function") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val root = staged()
    val s2 = session(root)
    // 4 distinct years of epoch micros; equal instants share a year.
    def yUs(y: Long) = java.time.LocalDate.of(2020 + y.toInt, 1, 1)
      .toEpochDay * 86400000000L
    def mk(name: String, rows: org.apache.spark.sql.DataFrame): Unit = {
      val t = root.resolve(name)
      VersionedTable.commit(spark, t, 0L, rows)
      VersionedTable.evolvePartitionLayout(spark, t, Seq("years(ts_us)"))
      VersionedTable.compactCommit(spark, t, files = 2)
    }
    mk("yfact", (0L until 120L).map(i => (yUs(i % 4) + i % 3, i))
      .toDF("ts_us", "v"))
    mk("ydim", (0L until 4L).flatMap(y => (0L until 3L).map(k =>
      (yUs(y) + k, y * 10 + k))).toDF("ts_us", "w"))
    def shuffles(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }.size
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    def joined() = s2.sql(
      "SELECT f.ts_us, f.v, d.w FROM g.yfact f JOIN g.ydim d " +
        "ON f.ts_us = d.ts_us")
    assert(shuffles(joined()) == 2)
    s2.conf.set("spark.graft.planning.preserveDataGrouping", "true")
    val spj = joined()
    assert(shuffles(spj) == 0,
      s"years SPJ must plan no Exchange:\n${spj.queryExecution.executedPlan}")
    val expected = (0L until 120L).map(i => (yUs(i % 4) + i % 3, i))
      .map { case (ts, v) =>
        val y = (0L until 4L).find(d => ts >= yUs(d) && ts < yUs(d + 1)).get
        (ts, v, y * 10 + ts % 3)
      }.sorted
    assert(spj.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2))).sorted.toSeq == expected)
    assert(spj.rdd.getNumPartitions == 4,
      s"expected 4 year-grouped tasks, got ${spj.rdd.getNumPartitions}")
  }

  test("truncate-transform SPJ: zero shuffles via the V2 truncate function") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val root = staged()
    val s2 = session(root)
    def mk(name: String, rows: org.apache.spark.sql.DataFrame): Unit = {
      val t = root.resolve(name)
      VersionedTable.commit(spark, t, 0L, rows)
      VersionedTable.evolvePartitionLayout(spark, t,
        Seq("truncate(50,id)"))
      VersionedTable.compactCommit(spark, t, files = 2)
    }
    mk("trfact", (0L until 200L).map(i => (i, i * 3)).toDF("id", "v"))
    mk("trdim", (0L until 200L by 2).map(i => (i, i * 7)).toDF("id", "w"))
    def shuffles(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }.size
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    def joined() = s2.sql(
      "SELECT f.id, f.v, d.w FROM g.trfact f JOIN g.trdim d ON f.id = d.id")
    assert(shuffles(joined()) == 2)
    // truncate(50, id) resolves through the catalog's V2 `truncate`
    // function — equal ids share a width segment by construction.
    s2.conf.set("spark.graft.planning.preserveDataGrouping", "true")
    val spj = joined()
    assert(shuffles(spj) == 0,
      s"truncate SPJ must plan no Exchange:\n" +
        s"${spj.queryExecution.executedPlan}")
    assert(spj.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2))).sorted.toSeq ==
      (0L until 200L by 2).map(i => (i, i * 3, i * 7)))
    // Mismatched widths must never claim compatibility.
    val t3 = root.resolve("trdim25")
    VersionedTable.commit(spark, t3, 0L,
      (0L until 200L by 2).map(i => (i, i * 7)).toDF("id", "w"))
    VersionedTable.evolvePartitionLayout(spark, t3,
      Seq("truncate(25,id)"))
    VersionedTable.compactCommit(spark, t3, files = 2)
    assert(shuffles(s2.sql("SELECT f.id, f.v, d.w FROM g.trfact f " +
      "JOIN g.trdim25 d ON f.id = d.id")) > 0,
      "truncate(50) vs truncate(25) must fall back to shuffle")
  }

  test("string truncate: empty strings refuse at write; code-point segments (r21)") {
    val root = staged()
    val s2 = session(root)
    s2.sql("""CREATE TABLE g.trstr (id BIGINT, s STRING)
              PARTITIONED BY (truncate(2, s))""")
    // Empty-string refusal (VERDICT r20 #1): partitionBy would render
    // the segment as __HIVE_DEFAULT_PARTITION__, which probe-time
    // pruning can never match — the write must refuse, like NULL.
    val e = intercept[Exception] {
      s2.sql("INSERT INTO g.trstr VALUES (1, 'ok'), (2, '')").collect()
    }
    assert(e.getMessage != null || e.getCause != null) // refused, not silent
    // Code-point segments (ADVICE r20): U+1D54F is a surrogate PAIR in
    // UTF-16 — a UTF-16 substring(0, 2) would derive segment "𝕏" while
    // the stored path (SUBSTRING = code points) carries "𝕏r", and the
    // equality probe would silently prune the file holding its rows.
    val supp = "𝕏ray" // 𝕏ray
    s2.sql(s"INSERT INTO g.trstr VALUES (1, 'alpha'), (2, '$supp')")
    val table = root.resolve("trstr")
    val files = VersionedTable.addedFiles(table, 1L)
    assert(files.exists(_.contains("s_trunc=")), s"no segments in $files")
    val got = s2.sql(s"SELECT id FROM g.trstr WHERE s = '$supp'")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L),
      s"surrogate-pair equality probe lost its row: $got")
    // The width check counts code points too: a LIKE prefix of two
    // CODE POINTS (3 UTF-16 units) pins the segment and keeps the row.
    val like = s2.sql(s"SELECT id FROM g.trstr WHERE s LIKE '𝕏r%'")
      .collect().map(_.getLong(0)).toSeq
    assert(like == Seq(2L), s"code-point prefix probe lost its row: $like")
  }

  test("Table.partitioning() round-trips every declared transform") {
    import spark.implicits._
    val root = staged()
    val s2 = session(root)
    // One table per transform family; partitioning() must report the
    // DECLARED layout, never identity (the r19 years() fallthrough).
    val declared = Seq(
      "years(ts_us)" -> "years(ts_us)",
      "months(ts_us)" -> "months(ts_us)",
      "days(ts_us)" -> "days(ts_us)",
      "hours(ts_us)" -> "hours(ts_us)",
      "bucket(8,id)" -> "bucket(8, id)",
      // The width rides the NAME (truncate_100), never a literal
      // argument — a literal leaf can never satisfy a join
      // distribution (see GraftTruncateFunction's doc).
      "truncate(100,id)" -> "truncate_100(id)")
    declared.zipWithIndex.foreach { case ((spec, rendered), i) =>
      val t = root.resolve(s"rt$i")
      VersionedTable.commit(spark, t, 0L,
        Seq((1704067200000000L, 1L, "x")).toDF("ts_us", "id", "s"))
      VersionedTable.evolvePartitionLayout(spark, t, Seq(spec))
      val table = new GraftTableSource().getTable(null, Array.empty,
        new java.util.HashMap[String, String]() {
          put("path", t.toString) })
      val got = table.partitioning().map(_.describe()).toSeq
      assert(got == Seq(rendered),
        s"$spec round-tripped as $got")
    }
  }

  test("one-side-shuffle SPJ: a plain frame hashes through the V2 bucket function") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val root = staged()
    val s2 = session(root)
    val t = root.resolve("sfact")
    VersionedTable.commit(spark, t, 0L,
      (0L until 200L).map(i => (i, i * 3)).toDF("id", "v"))
    VersionedTable.evolvePartitionLayout(spark, t, Seq("bucket(8,id)"))
    VersionedTable.compactCommit(spark, t, files = 2)
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.graft.planning.preserveDataGrouping", "true")
    // The other side is a PLAIN in-memory frame — no storage layout.
    // (Temp views are session-scoped: register on s2, not spark.)
    s2.createDataFrame((0L until 200L by 2).map(i => (i, i * 7)))
      .toDF("id", "w").createOrReplaceTempView("plain_dim")
    def joined() = s2.sql(
      "SELECT f.id, f.v, d.w FROM g.sfact f JOIN plain_dim d " +
        "ON f.id = d.id")
    def shuffles(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }.size
    // Without shuffle-one-side: the KGP side cannot be matched, both
    // sides shuffle (2 exchanges).
    s2.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "false")
    assert(shuffles(joined()) == 2)
    // With it: Spark keeps the graft side in place and hashes ONLY the
    // plain side through the catalog's V2 bucket function — exactly
    // one exchange, and `GraftBucketFunction.produceResult` is the
    // hash that routes every probe row (the planner evaluates the
    // grouping function, proving the registered function actually
    // plans, not just documents).
    s2.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
    val oneSide = joined()
    assert(shuffles(oneSide) == 1,
      s"one-side-shuffle SPJ must plan exactly one Exchange:\n" +
        s"${oneSide.queryExecution.executedPlan}")
    assert(oneSide.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2))).sorted.toSeq ==
      (0L until 200L by 2).map(i => (i, i * 3, i * 7)),
      "one-side-shuffle SPJ must produce the exact join result — the " +
        "plain side's rows must hash to the same buckets the writer " +
        "laid files out by")
  }

  test("CREATE TABLE PARTITIONED BY (days(ts)) — transform DDL bootstrap") {
    val root = staged()
    val s2 = session(root)
    s2.sql("""CREATE TABLE g.evd (id BIGINT, ts_us BIGINT)
              PARTITIONED BY (days(ts_us))""")
    val t = root.resolve("evd")
    // The bootstrap carries the PARTSPEC generation — the live write
    // layout is the transform from version 0 (the only way a
    // streaming-sink table can be transform-partitioned: the sink owns
    // every later version).
    assert(VersionedTable.snapshot(t, 0L).writePartitionLayout ==
      Seq("days(ts_us)"))
    s2.sql("INSERT INTO g.evd VALUES (1, 1704067200000000), " +
      "(2, 1704153600000000)") // 2024-01-01, 2024-01-02
    val added = VersionedTable.addedFiles(t, 1L)
    assert(added.forall(_.contains("ts_us_day=2024-01-0")),
      s"INSERT must land hidden day files: $added")
    // The derived segment never reaches the schema surface.
    assert(s2.table("g.evd").columns.sorted.toSeq == Seq("id", "ts_us"))
    assert(s2.sql("SELECT id FROM g.evd WHERE ts_us >= 1704153600000000")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // Wrong raw type and unknown transforms refuse at declaration.
    intercept[Exception] {
      s2.sql("CREATE TABLE g.evbad (id BIGINT, s STRING) " +
        "PARTITIONED BY (days(s))")
    }
    intercept[Exception] {
      // truncate graduated in r20 (STRING s is now legal); an unknown
      // transform still refuses.
      s2.sql("CREATE TABLE g.evbad2 (id BIGINT, s STRING) " +
        "PARTITIONED BY (void(s))")
    }
    // bucket DDL bootstraps too.
    s2.sql("""CREATE TABLE g.evb (id BIGINT, v BIGINT)
              PARTITIONED BY (bucket(4, id))""")
    assert(VersionedTable.snapshot(root.resolve("evb"), 0L).writePartitionLayout ==
      Seq("bucket(4,id)"))
    // Derived-name discipline (self-review r18): a schema column
    // shadowing the derived segment, and two transforms deriving the
    // same segment, both refuse at declaration.
    intercept[Exception] {
      s2.sql("CREATE TABLE g.evshadow (ts BIGINT, ts_day STRING) " +
        "PARTITIONED BY (days(ts))")
    }
    intercept[Exception] {
      s2.sql("CREATE TABLE g.evdup (x BIGINT) " +
        "PARTITIONED BY (bucket(4, x), bucket(8, x))")
    }
  }
}
