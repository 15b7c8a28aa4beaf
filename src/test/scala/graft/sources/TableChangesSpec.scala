package graft.sources

import graft.SparkSpec
import graft.operators.VersionedTable
import java.nio.file.Files

/** Contract of the `graft-changes` streaming source beyond the
  * driver-checked drain (ev_stream_cdf): offset semantics
  * (startingVersion), the append-feed refusal of delete commits, and
  * the explicit ignoreDeletes opt-out. */
class TableChangesSpec extends SparkSpec {

  private def freshTable() =
    Files.createTempDirectory("graft_changes_spec_").resolve("t")

  private def df(ids: Long*) = {
    import spark.implicits._
    ids.toSeq.toDF("id")
  }

  private def drainAll(table: java.nio.file.Path,
      options: Map[String, String] = Map.empty): Seq[(Long, Long)] = {
    val tmp = Files.createTempDirectory("graft_changes_sink_")
    val reader = options.foldLeft(spark.readStream.format("graft-changes")) {
      case (r, (k, v)) => r.option(k, v)
    }
    val q = reader.load(table.toString)
      .writeStream.format("parquet")
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    if (!q.awaitTermination(120000L)) q.stop()
    q.exception.foreach(throw _)
    spark.read.parquet(s"$tmp/out")
      .collect()
      .map(r => (r.getLong(r.fieldIndex("id")),
        r.getLong(r.fieldIndex("_commit_version"))))
      .toSeq.sorted
  }

  test("serves each commit's appended rows labeled with its version") {
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2))
    VersionedTable.appendCommit(spark, t, df(3))
    VersionedTable.appendCommit(spark, t, df(4, 5))
    assert(drainAll(t) ==
      Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 2L), (5L, 2L)))
  }

  test("startingVersion skips history before N") {
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2))
    VersionedTable.appendCommit(spark, t, df(3))
    assert(drainAll(t, Map("startingVersion" -> "1")) == Seq((3L, 1L)))
  }

  test("appended metadata lines (ROWS/CHECK/PARTSPEC) serve no phantom rows") {
    import spark.implicits._
    val t = freshTable()
    // A ROWS-indexed table: every ingest appends data lines AND a ROWS
    // meta line per file — the feed must serve each file's rows ONCE
    // (before r17 the ROWS line fell through to the data-line branch
    // and double-served its file).
    VersionedTable.commitWithStats(spark, t, 0L,
      Seq(1L, 2L).toDF("id"), "id", rowCounts = true)
    VersionedTable.appendCommit(spark, t, Seq(3L).toDF("id"))
    // Pure-metadata commits (a CHECK declaration, a partition-spec
    // evolution) advance the feed with EMPTY batches — no phantom
    // file named "CHECK"/"PARTSPEC" is ever opened.
    VersionedTable.constraintCommit(spark, t,
      VersionedTable.latestVersion(t).get + 1, "id >= 0")
    VersionedTable.evolvePartitionLayout(spark, t, Nil)
    VersionedTable.appendCommit(spark, t, Seq(4L).toDF("id"))
    assert(drainAll(t) ==
      Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 4L)))
  }

  test("the feed serves path-borne partition columns per file") {
    import spark.implicits._
    val t = freshTable()
    VersionedTable.commitPartitioned(spark, t, 0L,
      Seq((1L, "a"), (2L, "b")).toDF("id", "g"), "g")
    VersionedTable.commitPartitioned(spark, t, 1L,
      Seq((3L, "a")).toDF("id", "g"), "g",
      carried = VersionedTable.manifest(t, 0L))
    val tmp = Files.createTempDirectory("graft_changes_psink_")
    val q = spark.readStream.format("graft-changes").load(t.toString)
      .writeStream.format("parquet")
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    if (!q.awaitTermination(120000L)) q.stop()
    q.exception.foreach(throw _)
    val got = spark.read.parquet(s"$tmp/out")
      .select("id", "g", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sorted.toSeq
    assert(got == Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "a", 1L)),
      s"a mirror of a partitioned table must keep the partition " +
        s"column, got $got")
  }

  test("option(ref) streams one branch's line; unpinned branched tables refuse") {
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2))
    VersionedTable.branchCreate(t, "a", 0L)
    VersionedTable.branchCreate(t, "b", 0L)
    VersionedTable.branchCommit(spark, t, "a", df(10))   // v1
    VersionedTable.branchCommit(spark, t, "b", df(20))   // v2
    VersionedTable.branchCommit(spark, t, "a", df(11))   // v3
    // Pinned to a: only a's advances, b's interleaved commit invisible.
    assert(drainAll(t, Map("ref" -> "a")) == Seq((10L, 1L), (11L, 3L)))
    // Unpinned: the raw log interleaves lines of history — refuse.
    val e = intercept[Exception] { drainAll(t) }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(_.contains("branch refs"))))
    // A tag has no feed; ref+startingVersion refuse together.
    VersionedTable.tagCreate(t, "pin", 0L)
    intercept[Exception] { drainAll(t, Map("ref" -> "pin")) }
    intercept[Exception] {
      drainAll(t, Map("ref" -> "a", "startingVersion" -> "1"))
    }
    // A rolled-back branch breaks monotonicity — fail loudly.
    VersionedTable.advanceRef(t, "a", 1L)
    intercept[Exception] { drainAll(t, Map("ref" -> "a")) }
  }

  test("a delete commit fails the append feed unless ignoreDeletes") {
    import spark.implicits._
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2, 3))
    VersionedTable.deleteCommit(spark, t, 1L, Seq(2L).toDF("id"), "id")
    VersionedTable.appendCommit(spark, t, df(9))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drainAll(t)
    }
    assert(ex.getMessage.contains("DELETE commit") ||
      Option(ex.getCause).exists(_.getMessage.contains("DELETE commit")))
    assert(drainAll(t, Map("ignoreDeletes" -> "true")) ==
      Seq((1L, 0L), (2L, 0L), (3L, 0L), (9L, 2L)),
      "ignoreDeletes must skip the delete commit but keep serving appends")
  }

  test("readChangeFeed serves delete commits as typed delete rows") {
    import spark.implicits._
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2, 3))
    VersionedTable.deleteCommit(spark, t, 1L, Seq(2L, 3L).toDF("id"), "id")
    VersionedTable.commit(spark, t, 2L, df(3),
      carried = VersionedTable.manifest(t, 1L))
    val tmp = Files.createTempDirectory("graft_changes_cdf_")
    val q = spark.readStream.format("graft-changes")
      .option("readChangeFeed", "true")
      .load(t.toString)
      .writeStream.format("parquet")
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    if (!q.awaitTermination(120000L)) q.stop()
    val rows = spark.read.parquet(s"$tmp/out").collect().map { r =>
      (r.getLong(r.fieldIndex("_commit_version")),
        r.getString(r.fieldIndex("_change_type")),
        r.getLong(r.fieldIndex("id")))
    }.toSeq.sorted
    assert(rows == Seq((0L, "insert", 1L), (0L, "insert", 2L),
      (0L, "insert", 3L), (1L, "delete", 2L), (1L, "delete", 3L),
      (2L, "insert", 3L)))
    // Applying the feed (inserts minus later deletes, per key) must
    // reproduce the table's latest state — incl. the re-inserted 3.
    val feed = spark.read.parquet(s"$tmp/out")
    val dels = feed.where($"_change_type" === "delete")
      .groupBy($"id")
      .agg(org.apache.spark.sql.functions.max($"_commit_version").as("dv"))
    val mirror = feed.where($"_change_type" === "insert")
      .join(dels, Seq("id"), "left")
      .where($"dv".isNull || $"_commit_version" > $"dv")
      .select($"id")
    assert(mirror.collect().map(_.getLong(0)).sorted.toSeq ==
      VersionedTable.read(spark, t).collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("readChangeFeed serves DV keys in the column's type") {
    import spark.implicits._
    // INT table, BIGINT deletion vector: 2 converts; 2^32 + 1 has no
    // INT value, deletes nothing, and so serves no delete row.
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, Seq(1, 2, 3).toDF("id"))
    VersionedTable.deleteCommit(spark, t, 1L,
      Seq(2L, (1L << 32) + 1L).toDF("id"), "id")
    val tmp = Files.createTempDirectory("graft_changes_dvtype_")
    val q = spark.readStream.format("graft-changes")
      .option("readChangeFeed", "true")
      .load(t.toString)
      .writeStream.format("parquet")
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    if (!q.awaitTermination(120000L)) q.stop()
    q.exception.foreach(throw _)
    val rows = spark.read.parquet(s"$tmp/out").collect().map { r =>
      (r.getLong(r.fieldIndex("_commit_version")),
        r.getString(r.fieldIndex("_change_type")),
        r.getInt(r.fieldIndex("id")))
    }.toSeq.sorted
    assert(rows == Seq((0L, "insert", 1), (0L, "insert", 2),
      (0L, "insert", 3), (1L, "delete", 2)))
  }

  test("a rewrite commit fails the feed; startingVersion at it serves a snapshot") {
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2, 3))
    VersionedTable.appendCommit(spark, t, df(4))
    // v2 = compaction: a full rewrite dropping v0/v1's files.
    VersionedTable.commit(spark, t, 2L,
      VersionedTable.read(spark, t).coalesce(1))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drainAll(t)
    }
    // Restarting AT the rewrite serves it as the initial snapshot.
    assert(drainAll(t, Map("startingVersion" -> "2"))
      .map(_._1).sorted == Seq(1L, 2L, 3L, 4L))
  }

  private def drainFeed(table: java.nio.file.Path,
      options: Map[String, String] = Map.empty)
      : Seq[(Long, Long, String)] = {
    val tmp = Files.createTempDirectory("graft_changes_feed_")
    val q = options.foldLeft(spark.readStream.format("graft-changes")
        .option("readChangeFeed", "true")) {
        case (r, (k, v)) => r.option(k, v)
      }
      .load(table.toString)
      .writeStream.format("parquet")
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    if (!q.awaitTermination(120000L)) q.stop()
    q.exception.foreach(throw _)
    spark.read.parquet(s"$tmp/out")
      .collect()
      .map(r => (r.getLong(r.fieldIndex("id")),
        r.getLong(r.fieldIndex("_commit_version")),
        r.getString(r.fieldIndex("_change_type"))))
      .toSeq.sorted
  }

  test("a KIND=compact commit is skipped in every mode (dataChange=false)") {
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2, 3))
    VersionedTable.compactCommit(spark, t) // v1, KIND=compact
    assert(VersionedTable.commitKind(t, 1L).contains("compact"))
    VersionedTable.appendCommit(spark, t, df(4)) // v2
    // The append feed used to hard-fail on ANY rewrite; an annotated
    // compaction now drains through as an empty batch — the content
    // is v0's rows plus v2's, nothing doubled, nothing from v1.
    assert(drainAll(t) == Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 2L)))
    assert(drainFeed(t) == Seq((1L, 0L, "insert"), (2L, 0L, "insert"),
      (3L, 0L, "insert"), (4L, 2L, "insert")))
  }

  test("startingVersion AT an annotated rewrite serves the initial snapshot") {
    // The initial-snapshot contract must run BEFORE the KIND dispatch:
    // a mirror bootstrapped at a compaction version gets the full
    // rewritten manifest (not the empty batch compact serves
    // mid-stream), then subsequent deltas — no silent zero-row start.
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2, 3))
    VersionedTable.compactCommit(spark, t) // v1, KIND=compact
    VersionedTable.appendCommit(spark, t, df(4)) // v2
    assert(drainAll(t, Map("startingVersion" -> "1")) ==
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L)))
    // Same exemption for a KIND=update bootstrap — and the snapshot is
    // the version's FULL MANIFEST, not just its adds: a partial
    // rewrite's untouched files' rows must be served too, or a mirror
    // bootstrapped here silently lacks them forever.
    val u = freshTable()
    import spark.implicits._
    VersionedTable.commitWithStats(spark, u, 0L,
      Seq(1L, 2L, 3L).toDF("id").repartitionByRange(2, $"id"), "id")
    // v1 rewrites ONLY the file holding id=2; the other file is
    // untouched and carried.
    val (_, rewritten, total) = VersionedTable.updateWhere(
      spark, u, "id", 2L, 2L, Seq("id" -> "id + 10L"))
    assert(rewritten < total, "the update must be a PARTIAL rewrite")
    VersionedTable.appendCommit(spark, u, df(4)) // v2
    assert(drainAll(u, Map("startingVersion" -> "1")) ==
      Seq((1L, 1L), (3L, 1L), (4L, 2L), (12L, 1L)))
  }

  test("a KIND=update commit serves preimage/postimage pairs in feed mode") {
    val t = freshTable()
    VersionedTable.commitWithStats(spark, t, 0L, df(1, 2, 3).coalesce(1),
      "id")
    val (v, rewritten, total) = VersionedTable.updateWhere(
      spark, t, "id", 2L, 2L, Seq("id" -> "id + 10L"))
    assert(v == 1L && rewritten == 1 && total == 1)
    // Change-feed mode: the rewritten file's old rows replay as
    // update_preimage, its new rows as update_postimage, same version
    // (file granularity — untouched rows pair up identically).
    assert(drainFeed(t) == Seq(
      (1L, 0L, "insert"), (1L, 1L, "update_postimage"),
      (1L, 1L, "update_preimage"),
      (2L, 0L, "insert"), (2L, 1L, "update_preimage"),
      (3L, 0L, "insert"), (3L, 1L, "update_postimage"),
      (3L, 1L, "update_preimage"),
      (12L, 1L, "update_postimage")))
    // The plain append feed cannot represent an update — fail loudly
    // with the remedy in the message.
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drainAll(t)
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage)
        .exists(_.contains("readChangeFeed"))))
  }

  test("a SQL UPDATE commit replays through the change feed") {
    val t = freshTable()
    VersionedTable.commitWithStats(spark, t, 0L, df(1, 2, 3).coalesce(1),
      "id")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.c", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.c.root", t.getParent.toString)
    s2.sql("UPDATE c.t SET id = id + 10 WHERE id = 2")
    // The statement's replaceFilesCommit is KIND=update like the
    // library verb — same preimage/postimage replay, no restart.
    assert(VersionedTable.commitKind(t, 1L).contains("update"))
    assert(drainFeed(t) == Seq(
      (1L, 0L, "insert"), (1L, 1L, "update_postimage"),
      (1L, 1L, "update_preimage"),
      (2L, 0L, "insert"), (2L, 1L, "update_preimage"),
      (3L, 0L, "insert"), (3L, 1L, "update_postimage"),
      (3L, 1L, "update_preimage"),
      (12L, 1L, "update_postimage")))
  }

  test("a rebase-promote commit replays through a ref-pinned feed") {
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2, 3))
    VersionedTable.branchCreate(t, "main", 0L)
    VersionedTable.branchCreate(t, "fix", 0L)
    VersionedTable.branchCommit(spark, t, "main", df(10)) // v1
    // fix rewrites: its head drops one of the fork's files.
    val head = VersionedTable.latestVersion(t).get + 1
    VersionedTable.publish(t, head, VersionedTable.manifest(t, 0L).drop(1))
    VersionedTable.advanceRef(t, "fix", head)
    val dropped = Set(1L, 2L, 3L) --
      VersionedTable.readRef(spark, t, "fix").collect()
        .map(_.getLong(0)).toSet
    val p = VersionedTable.promoteBranch(spark, t, "fix", "main")
    // The main-pinned feed serves its own append as an insert and the
    // promote's KIND=update rebase as preimage rows (the dropped
    // file's content; the rebase added nothing) — a downstream mirror
    // of main survives the merge without a restart.
    assert(drainFeed(t, Map("ref" -> "main")) ==
      (Seq((10L, 1L, "insert")) ++
        dropped.toSeq.sorted.map((_, p.version, "update_preimage")))
        .sorted)
  }

  test("a projected feed reads correctly through column pruning") {
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2))
    VersionedTable.appendCommit(spark, t, df(3))
    val tmp = Files.createTempDirectory("graft_changes_prune_")
    val q = spark.readStream.format("graft-changes").load(t.toString)
      .select("_commit_version")
      .writeStream.format("parquet")
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    if (!q.awaitTermination(120000L)) q.stop()
    // Misaligned pruning would surface as garbage version values here.
    assert(spark.read.parquet(s"$tmp/out").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(0L, 0L, 1L))
  }

  test("a fresh feed on an add-column-evolved table serves the evolved schema") {
    import spark.implicits._
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2))
    VersionedTable.addColumnCommit(spark, t, 1L, "extra", "bigint")
    // Post-evolution appends with MIXED footers: v2's file predates
    // any writer knowing `extra`, v3's carries it.
    VersionedTable.appendCommit(spark, t, Seq(3L).toDF("id"))
    VersionedTable.appendCommit(spark, t,
      Seq((4L, 40L)).toDF("id", "extra"))
    // A feed pinned ABOVE the ADDCOL commit serves the EVOLVED schema
    // (the mapping folds into tableSchema), and a footer missing the
    // column reads as a typed NULL instead of crashing the reader.
    val tmp = Files.createTempDirectory("graft_changes_addc_")
    val q = spark.readStream.format("graft-changes")
      .option("startingVersion", "2")
      .load(t.toString)
      .writeStream.format("parquet")
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    if (!q.awaitTermination(120000L)) q.stop()
    q.exception.foreach(throw _)
    val rows = spark.read.parquet(s"$tmp/out").collect()
      .map(r => (r.getLong(r.fieldIndex("id")),
        if (r.isNullAt(r.fieldIndex("extra"))) -1L
        else r.getLong(r.fieldIndex("extra"))))
      .toSeq.sorted
    assert(rows == Seq((3L, -1L), (4L, 40L)))
    // A feed crossing the ADDCOL commit itself still fails loudly
    // (stream schema is pinned at start).
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drainAll(t)
    }
  }

  test("a replay across a RETIRED add-column mapping still serves typed NULLs") {
    import spark.implicits._
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2))
    VersionedTable.addColumnCommit(spark, t, 1L, "extra", "bigint")
    VersionedTable.appendCommit(spark, t, Seq(3L).toDF("id")) // pre-add footer
    VersionedTable.appendCommit(spark, t, Seq((4L, 40L)).toDF("id", "extra"))
    // Compaction RETIRES the mapping (head footers carry the column) —
    // the NULL-serving gate must come from ADDCOL history, not from the
    // mappings still live at head (ADVICE r16: gating on live mappings
    // crashed exactly this replay on getFieldIndex).
    VersionedTable.compactCommit(spark, t)
    assert(VersionedTable.snapshot(t,
      VersionedTable.latestVersion(t).get).columnMappings.isEmpty)
    val tmp = Files.createTempDirectory("graft_changes_retired_")
    val q = spark.readStream.format("graft-changes")
      .option("startingVersion", "2")
      .load(t.toString)
      .writeStream.format("parquet")
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    if (!q.awaitTermination(120000L)) q.stop()
    q.exception.foreach(throw _)
    val rows = spark.read.parquet(s"$tmp/out").collect()
      .map(r => (r.getLong(r.fieldIndex("id")),
        if (r.isNullAt(r.fieldIndex("extra"))) -1L
        else r.getLong(r.fieldIndex("extra"))))
      .toSeq.sorted
    // v2's pre-add file serves the typed NULL; v3 carries the value;
    // the KIND=compact v4 serves nothing.
    assert(rows == Seq((3L, -1L), (4L, 40L)))
  }

  test("a schema-evolution commit fails the stream") {
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1))
    VersionedTable.renameCommit(t, 1L, "id", "key")
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drainAll(t, Map("ignoreDeletes" -> "true"))
    }
  }

  test("a PARTSPEC naming a column unknown to the stream fails loudly") {
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1L, 2L))
    // A spec over a KNOWN column is metadata-only for the feed: the
    // mirror schema is unchanged, the batch is empty.
    VersionedTable.evolvePartitionLayout(spark, t, Seq("bucket(4,id)"))
    VersionedTable.appendCommit(spark, t, df(3L))
    assert(drainAll(t) == Seq((1L, 0L), (2L, 0L), (3L, 2L)))
    // A spec naming a column this stream's schema lacks (a foreign
    // writer's manifest) means future files carry a path-borne column
    // the fixed mirror schema cannot serve — restart, like RENAME.
    val head = VersionedTable.latestVersion(t).get
    VersionedTable.publish(t, head + 1, Seq(s"BASE\t$head", "PARTSPEC\t9\tghost"))
    val e = intercept[org.apache.spark.sql.streaming
      .StreamingQueryException] { drainAll(t) }
    assert(e.getMessage.contains("restart"))
  }
}
