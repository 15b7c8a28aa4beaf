package graft.operators

import graft.SparkSpec
import java.nio.file.Files

/** Protocol-level guarantees of the manifest/commit-log layer that the
  * query-surface witnesses (pipe_table_commit / pipe_time_travel)
  * exercise end-to-end: atomic visibility, optimistic-concurrency
  * conflict on a version collision, file carry-over, and orphan
  * invisibility.
  */
class VersionedTableSpec extends SparkSpec {

  private def freshTable() =
    Files.createTempDirectory("graft_vt_spec_").resolve("t")

  private def df(ids: Long*) = {
    import spark.implicits._
    ids.toSeq.toDF("id")
  }

  test("no committed version -> read fails, latest is None") {
    val t = freshTable()
    assert(VersionedTable.latestVersion(t).isEmpty)
    assert(VersionedTable.versions(t).isEmpty)
    intercept[IllegalArgumentException] { VersionedTable.read(spark, t) }
  }

  test("the snapshot parser recognizes every line kind the writers emit") {
    import spark.implicits._
    // Indexes, contracts, statistics and a deletion vector.
    val a = freshTable()
    val rows = (0L until 40L).map(i => (i, i % 7)).toDF("id", "v")
    VersionedTable.commitWithStats(spark, a, 0L, rows.coalesce(1), "id",
      rowCounts = true)
    VersionedTable.commitIndexed(spark, a, 1L, rows.where($"id" < 5), "id",
      "v", carried = VersionedTable.manifest(a, 0L))
    VersionedTable.constraintCommit(spark, a, 2L, "id >= 0")
    VersionedTable.analyzeCommit(spark, a, Seq("id"))
    VersionedTable.clusterCommit(spark, a, Seq("id", "v"), files = 2)
    VersionedTable.deleteCommit(spark, a, 5L, Seq(3L).toDF("id"), "id")
    // A declared partition layout and schema mappings.
    val b = freshTable()
    VersionedTable.commit(spark, b, 0L,
      Seq.empty[(Long, String, Long)].toDF("id", "g", "x"),
      carried = Seq(VersionedTable.partColLine("g"),
        VersionedTable.partSpecLine(1L, Seq("g"))))
    VersionedTable.addColumnCommit(spark, b, 1L, "z", "bigint")
    VersionedTable.dropColumnCommit(spark, b, 2L, "z")
    VersionedTable.renameCommit(b, 3L, "x", "y")
    // A SQL-defined materialized view.
    val base = freshTable()
    VersionedTable.commit(spark, base, 0L, rows.withColumnRenamed("v", "g"))
    val mv = freshTable()
    VersionedTable.createMaterializedSql(spark, base, mv, Seq("g"),
      "SELECT g, count(*) AS n, avg(id) AS av, min(id) AS mn " +
        "FROM __BASE__ GROUP BY g")
    val snaps = Seq(VersionedTable.snapshot(a, 3L),
      VersionedTable.snapshot(a, 4L), VersionedTable.snapshot(a, 5L),
      VersionedTable.snapshot(b, 3L), VersionedTable.snapshot(mv, 0L))
    // A kind the parser missed would read as a data file: every data
    // entry must be a parquet file on disk, and every entry must render
    // back to its stored line.
    for (sn <- snaps) {
      assert(sn.files.nonEmpty && sn.files.forall(f => f.endsWith(".parquet")
        && Files.isRegularFile(sn.table.resolve(f))), sn.files)
      sn.lines.zip(sn.entries).foreach { case (l, e) => assert(e.line == l) }
    }
    val a5 = VersionedTable.snapshot(a, 5L)
    assert(a5.statsManifest.forall(_._2 != Long.MinValue))
    assert(a5.rowCounts.map(_._2).sum == 45L)
    assert(a5.statsColumns == Seq("id") && a5.statsCol.contains("id"))
    assert(a5.bloomColumns == Seq("v") && a5.blooms.nonEmpty)
    assert(a5.secondaryStats.map(_._2).toSet == Set("v"))
    assert(a5.checks == Seq("id >= 0"))
    assert(a5.deletionVectors.map(d => (d._2, d._3)) == Seq(("id", 5L)))
    assert(VersionedTable.snapshot(a, 4L).kind.contains("compact") &&
      a5.kind.isEmpty)
    assert(VersionedTable.snapshot(a, 3L).ndvStats.keySet == Set("id"))
    val b3 = VersionedTable.snapshot(b, 3L)
    assert(b3.declaredPartitionCols == Seq("g") &&
      b3.partitionSpecs == Seq((1L, Seq("g"))) &&
      b3.writePartitionLayout == Seq("g"))
    assert(b3.columnMappings == Seq(("addcol", "z", "bigint"),
      ("dropcol", "z", ""), ("rename", "x", "y")))
    val m0 = VersionedTable.snapshot(mv, 0L)
    assert(m0.mvCursor.contains(0L) && m0.mvDefinition.exists(_._1 ==
      Seq("g")) && m0.mvAvgFolds.map(_._1) == Seq("av") &&
      m0.mvFoldOps == Map("mn" -> "min"))
  }

  test("commit then read round-trips; latest resolves the max version") {
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2, 3))
    VersionedTable.commit(spark, t, 1L, df(4, 5))
    assert(VersionedTable.versions(t) == Seq(0L, 1L))
    assert(VersionedTable.read(spark, t).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(4L, 5L))
    assert(VersionedTable.read(spark, t, Some(0L)).count() == 3)
  }

  test("append commit carries prior files: old rows + new rows, no rewrite") {
    val t = freshTable()
    val v0Files = VersionedTable.commit(spark, t, 0L, df(1, 2, 3))
    VersionedTable.commit(spark, t, 1L, df(10, 11),
      carried = VersionedTable.manifest(t, 0L))
    val v1 = VersionedTable.manifest(t, 1L)
    assert(v0Files.forall(v1.contains),
      "v1's manifest must list every v0 file verbatim (no data movement)")
    assert(VersionedTable.read(spark, t).count() == 5)
    // Time travel still sees only v0.
    assert(VersionedTable.read(spark, t, Some(0L)).count() == 3)
  }

  test("a crashed commit is invisible; previous version stays readable") {
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2))
    VersionedTable.failedCommit(spark, t, 1L, df(99))
    assert(VersionedTable.versions(t) == Seq(0L),
      "the unrenamed manifest must not appear in the history")
    assert(VersionedTable.read(spark, t).count() == 2)
    intercept[IllegalArgumentException] {
      VersionedTable.read(spark, t, Some(1L))
    }
  }

  test("expire deletes only files no retained version references") {
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2, 3))
    // v1 APPENDS, carrying v0's files — those must survive v0's expiry.
    VersionedTable.commit(spark, t, 1L, df(4),
      carried = VersionedTable.manifest(t, 0L))
    // v2 rewrites fully — v1's new file becomes reclaimable once v1 dies.
    VersionedTable.commit(spark, t, 2L, df(7, 8))
    VersionedTable.failedCommit(spark, t, 3L, df(99)) // orphan litter
    val (deleted0, expired0) = VersionedTable.expire(t, keepFrom = 1L)
    assert(expired0 == 1)
    // v1 carried every v0 file, so only the orphan attempt's files die.
    assert(VersionedTable.read(spark, t, Some(1L)).count() == 4,
      "carried files must survive the carrier's ancestor expiring")
    val (_, expired1) = VersionedTable.expire(t, keepFrom = 2L)
    assert(expired1 == 1)
    assert(VersionedTable.read(spark, t).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(7L, 8L))
    intercept[IllegalArgumentException] {
      VersionedTable.read(spark, t, Some(1L))
    }
    // Refusing to expire the whole history.
    intercept[IllegalArgumentException] {
      VersionedTable.expire(t, keepFrom = 99L)
    }
    assert(deleted0 >= 1)
  }

  test("expire orphan grace: fresh never-published staging survives; expired files don't") {
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2, 3))
    VersionedTable.commit(spark, t, 1L, df(7, 8)) // full rewrite: v0 reclaimable
    // A crashed/in-flight writer's staging: data files published by NO
    // manifest. With a grace window they must SURVIVE (an in-flight
    // commit may be about to reference them); the published-then-
    // expired v0 files still delete immediately.
    VersionedTable.failedCommit(spark, t, 2L, df(99))
    val orphanCount = {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(t.resolve("data"))
      try w.iterator().asScala.count(p =>
        java.nio.file.Files.isRegularFile(p) &&
          p.toString.endsWith(".parquet"))
      finally w.close()
    }
    val (deletedGraced, _) = VersionedTable.expire(t, keepFrom = 1L,
      orphanGraceMs = 3600000L)
    assert(deletedGraced >= 1, "expired v0 files must vacuum")
    val afterGraced = {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(t.resolve("data"))
      try w.iterator().asScala.count(p =>
        java.nio.file.Files.isRegularFile(p) &&
          p.toString.endsWith(".parquet"))
      finally w.close()
    }
    assert(afterGraced < orphanCount, "the sweep must have deleted v0")
    assert(VersionedTable.read(spark, t).count() == 2)
    // A second pass with grace 0 reclaims the now-known-dead orphan.
    val (deletedNow, _) = VersionedTable.expire(t, keepFrom = 1L)
    assert(deletedNow >= 1, "grace 0 must reclaim the orphan staging")
  }

  test("appendCommit rebases onto a racing winner without rewriting data") {
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2))
    var raced = false
    val c = VersionedTable.appendCommit(spark, t, df(10, 11),
      beforeAttempt = { target =>
        if (!raced) {
          raced = true
          VersionedTable.commit(spark, t, target, df(5),
            carried = VersionedTable.manifest(t, target - 1))
        }
      })
    assert(c.conflicts == 1 && c.version == 2L)
    // The winner's file list is carried verbatim; both appends are live.
    val v1 = VersionedTable.manifest(t, 1L).toSet
    assert(v1.subsetOf(VersionedTable.manifest(t, 2L).toSet))
    assert(VersionedTable.read(spark, t).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 2L, 5L, 10L, 11L))
    // The rebase republished the SAME data files (append- dir written
    // once): v2 adds exactly two lines beyond v1's carry.
    assert((VersionedTable.manifest(t, 2L).toSet -- v1).forall(
      _.startsWith("data/append-")))
  }

  test("appendCommit validates the CHECK a racing winner declared") {
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2))
    // The winner of the first attempt's race declares a constraint the
    // batch violates: the retry, based on the winner, must refuse it.
    var raced = false
    val e = intercept[IllegalArgumentException] {
      VersionedTable.appendCommit(spark, t, df(-5),
        beforeAttempt = { target =>
          if (!raced) {
            raced = true
            VersionedTable.constraintCommit(spark, t, target, "id >= 0")
          }
        })
    }
    assert(e.getMessage.contains("CHECK (id >= 0)"), e.getMessage)
    assert(VersionedTable.versions(t) == Seq(0L, 1L),
      "the refused append must publish nothing")
    assert(VersionedTable.read(spark, t).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 2L))
  }

  test("commitAppend of the latest version conflicts, so a replayed batch skips") {
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1))
    VersionedTable.commitAppend(spark, t, 1L, df(2))
    // A streaming replay re-commits its batch's version: the publish
    // conflicts (the caller skips on it), nothing new is published.
    intercept[java.nio.file.FileAlreadyExistsException] {
      VersionedTable.commitAppend(spark, t, 1L, df(2))
    }
    assert(VersionedTable.versions(t) == Seq(0L, 1L))
    assert(VersionedTable.read(spark, t).count() == 2L)
    // A version below the latest still refuses: sparse numbering must
    // not fill a hole under later history.
    VersionedTable.commitAppend(spark, t, 3L, df(3))
    intercept[IllegalArgumentException] {
      VersionedTable.commitAppend(spark, t, 2L, df(4))
    }
  }

  test("appendCommit gives up after maxAttempts straight losses") {
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1))
    intercept[IllegalStateException] {
      VersionedTable.appendCommit(spark, t, df(9), maxAttempts = 2,
        beforeAttempt = { target =>
          VersionedTable.commit(spark, t, target, df(target),
            carried = VersionedTable.manifest(t, target - 1))
        })
    }
  }

  test("transact re-runs the op against the winner's snapshot") {
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(10, 20))
    var raced = false
    // op doubles every id; the racing append lands 30 mid-transaction,
    // so serializability demands 30 be doubled too.
    val c = VersionedTable.transact(spark, t,
      op = snap => snap.selectExpr("id * 2 AS id"),
      beforeAttempt = { target =>
        if (!raced) {
          raced = true
          VersionedTable.commit(spark, t, target, df(30),
            carried = VersionedTable.manifest(t, target - 1))
        }
      })
    assert(c.conflicts == 1 && c.version == 2L)
    assert(VersionedTable.read(spark, t).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(20L, 40L, 60L))
    // The lost attempt's files are orphans: expire reclaims them while
    // every retained version stays intact.
    val (deleted, _) = VersionedTable.expire(t, keepFrom = 2L)
    assert(deleted >= 1, "the discarded first-attempt files must be reclaimed")
    assert(VersionedTable.read(spark, t).count() == 3)
  }

  test("deletion vectors: O(k) delete, accumulation, compaction fold") {
    import spark.implicits._
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2, 3, 4, 5))
    VersionedTable.deleteCommit(spark, t, 1L, Seq(2L).toDF("id"), "id")
    VersionedTable.deleteCommit(spark, t, 2L, Seq(4L, 9L).toDF("id"), "id")
    // Data lines untouched by both deletes.
    assert(VersionedTable.statsManifest(t, 2L).map(_._1) ==
      VersionedTable.statsManifest(t, 0L).map(_._1))
    assert(VersionedTable.read(spark, t, Some(1L))
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 4L, 5L))
    assert(VersionedTable.read(spark, t)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 5L),
      "DVs must accumulate across versions (a never-present key is a no-op)")
    assert(VersionedTable.read(spark, t, Some(0L)).count() == 5,
      "time travel must see the undeleted snapshot")
    // Stats-range reads compose the DVs (r13): deleted keys stay gone.
    assert(VersionedTable.readRange(spark, t, "id", 0L, 10L)._1
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 5L))
    // Compaction folds the DVs; expire then reclaims them.
    VersionedTable.commit(spark, t, 3L, VersionedTable.read(spark, t, Some(2L)))
    assert(VersionedTable.deletionVectors(t, 3L).isEmpty)
    val (deleted, _) = VersionedTable.expire(t, keepFrom = 3L)
    assert(deleted >= 3, "expired data files AND dv sidecars must be reclaimed")
    assert(VersionedTable.read(spark, t)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 5L))
  }

  test("a re-appended key survives an earlier delete (DV scoping)") {
    import spark.implicits._
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2, 3))
    VersionedTable.deleteCommit(spark, t, 1L, Seq(2L).toDF("id"), "id")
    // Re-insert 2 via an append: the new file postdates the DV's
    // origin, so the DV must NOT cover it.
    VersionedTable.commit(spark, t, 2L, df(2),
      carried = VersionedTable.manifest(t, 1L))
    assert(VersionedTable.read(spark, t)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L),
      "sequence-number semantics: delete-then-reinsert must resurrect " +
        "the key, not tombstone it forever")
    // The ORIGINAL file's copy of 2 is still deleted: deleting 2 again
    // then reading v2 (pre-second-delete) must show it once.
    assert(VersionedTable.read(spark, t, Some(1L))
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
  }

  test("deletion vectors survive expiry while a retaining version lives") {
    import spark.implicits._
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2))
    VersionedTable.deleteCommit(spark, t, 1L, Seq(1L).toDF("id"), "id")
    // Expire v0 only: v1 still references v0's data lines (carried)
    // and its own DV — both must survive.
    VersionedTable.expire(t, keepFrom = 1L)
    assert(VersionedTable.read(spark, t)
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("append commits publish O(batch) manifest deltas; checkpoints bound the chain") {
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1L to 20L: _*).repartition(10))
    val v0Lines = VersionedTable.manifest(t, 0L).size
    assert(v0Lines >= 5, "v0 must be multi-file for the test to mean anything")
    // 12 one-file appends with checkpointEvery=4: each non-checkpoint
    // manifest is a BASE pointer + the batch's files — metadata bytes
    // track the BATCH, never the table.
    (1L to 12L).foreach { i =>
      val c = VersionedTable.appendCommit(spark, t,
        df(100 + i).coalesce(1), checkpointEvery = 4)
      assert(c.version == i)
    }
    val commitsDir = t.resolve("_commits")
    def manifestBytes(v: Long): Long =
      Files.size(commitsDir.resolve(f"v$v%06d.manifest"))
    val sizes = (1L to 12L).map(manifestBytes)
    val chains = (1L to 12L).map(v => VersionedTable.chainLength(t, v))
    // Chain length never exceeds the checkpoint bound.
    assert(chains.forall(_ <= 4), s"chain lengths $chains exceed checkpointEvery")
    // Delta manifests (chain > 1) are tiny: 2 lines, < 120 bytes —
    // far below a full 20+-file list; checkpoints are the big ones.
    val deltas = (1L to 12L).filter(v => VersionedTable.chainLength(t, v) > 1)
    assert(deltas.nonEmpty)
    deltas.foreach { v =>
      assert(manifestBytes(v) < 150,
        s"delta manifest v$v is ${manifestBytes(v)} bytes — it carried the table")
    }
    val checkpoints = (1L to 12L).filter(v => VersionedTable.chainLength(t, v) == 1)
    assert(checkpoints.nonEmpty, s"no checkpoint in 12 appends at cadence 4 (sizes $sizes)")
    // Resolution is unchanged by the layout: every version reads its
    // full history's rows.
    assert(VersionedTable.read(spark, t).count() == 20 + 12)
    assert(VersionedTable.read(spark, t, Some(6L)).count() == 20 + 6)
    // addedLines serves the change feed: exactly the batch's files.
    (1L to 12L).foreach { v =>
      assert(VersionedTable.addedLines(t, v).size == 1,
        s"v$v addedLines must be exactly the one appended file")
    }
    assert(VersionedTable.addedLines(t, 0L).size == VersionedTable.manifest(t, 0L).size)
  }

  test("expire pins BASE chains and DV origins a live version still needs") {
    import spark.implicits._
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2, 3, 4))
    // v1 = DV delete (delta, origin 1); v2 = append (delta on v1).
    VersionedTable.deleteCommit(spark, t, 1L, Seq(2L).toDF("id"), "id")
    VersionedTable.commit(spark, t, 2L, df(9),
      carried = VersionedTable.manifest(t, 1L))
    // Expire below v2: v0 (chain base) and v1 (DV origin + chain) are
    // pinned, so the retained v2 keeps resolving its DV scope.
    val (_, expired) = VersionedTable.expire(t, keepFrom = 2L)
    assert(expired == 0, "chain/origin manifests must be pinned, not expired")
    assert(VersionedTable.read(spark, t)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 4L, 9L))
    // After compaction the pins release and the history truly expires.
    VersionedTable.commit(spark, t, 3L, VersionedTable.read(spark, t))
    val (_, expired2) = VersionedTable.expire(t, keepFrom = 3L)
    assert(expired2 == 3)
    assert(VersionedTable.versions(t) == Seq(3L))
  }

  test("vacuum spares live versions' write sidecars (_SUCCESS, .crc)") {
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2))
    VersionedTable.commit(spark, t, 1L, df(3, 4))
    VersionedTable.expire(t, keepFrom = 1L)
    // v1's data dir keeps its _SUCCESS marker: vacuum must only ever
    // touch payload files.
    val v1Dir = t.resolve(VersionedTable.manifest(t, 1L).head).getParent
    assert(Files.exists(v1Dir.resolve("_SUCCESS")),
      "vacuum deleted a live commit's _SUCCESS sidecar")
    assert(VersionedTable.read(spark, t).count() == 2)
  }

  test("commitWithStats: an all-NULL stats file falls back to the full range") {
    import spark.implicits._
    val t = freshTable()
    val data = Seq((1L, Some(5L)), (2L, Some(7L)), (3L, None), (4L, None))
      .toDF("id", "k")
    // One file of NULL-only k, one with real values.
    VersionedTable.commitWithStats(spark, t, 0L,
      data.repartitionByRange(2, org.apache.spark.sql.functions.col("k")),
      "k")
    val stats = VersionedTable.statsManifest(t, 0L)
    assert(stats.exists { case (_, mn, mx) =>
      mn == Long.MinValue && mx == Long.MaxValue },
      s"the NULL-only file must carry the never-skippable full range: $stats")
    // The full-range file survives every range read (never skipped).
    val (dfR, _, total) = VersionedTable.readRange(spark, t, "k", 6L, 10L)
    assert(total == stats.size)
    assert(dfR.collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("footer-derived commit stats match the aggregation pass per type") {
    // r21: fileColStats serves long/int/timestamp/ntz/date columns from
    // the parquet footers the write just produced. The manifest must be
    // byte-identical to the distributed aggregation pass, and shapes the
    // footer gate cannot prove (decimal, string, double) must fall back.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val base = spark.range(0, 100)
      .withColumn("l", col("id") * 1000000L - 50000000L)
      .withColumn("i", expr("cast(id - 50 as int)"))
      .withColumn("ts", expr("timestamp_micros(id * 987654321)"))
      .withColumn("ntz",
        expr("cast(timestamp_micros(id * 123456789) as timestamp_ntz)"))
      .withColumn("d", expr("date_add(date'2020-01-01', cast(id as int))"))
      .withColumn("dec", expr("cast(id as decimal(10,2))"))
      .withColumn("s", expr("concat('k', id)"))
      .withColumn("f8", expr("cast(id as double)"))
      .repartition(3)
    val t = freshTable()
    VersionedTable.commitWithStats(spark, t, 0L, base, "l")
    val dataDir = t.resolve(VersionedTable.statsManifest(t, 0L).head._1)
      .getParent
    for (c <- Seq("l", "i", "ts", "ntz", "d")) {
      val footer = VersionedTable.footerColStats(t, dataDir, c)
      assert(footer.isDefined, s"footer path must serve column $c")
      assert(footer.get == VersionedTable.aggColStats(spark, t, dataDir, c),
        s"footer stats diverge from the aggregation pass on column $c")
    }
    for (c <- Seq("dec", "s", "f8")) {
      assert(VersionedTable.footerColStats(t, dataDir, c).isEmpty,
        s"column $c must refuse the footer path (unit/shape not provable)")
    }
    // All-NULL file: both paths yield the never-skippable full range.
    val t2 = freshTable()
    val withNulls = Seq((1L, Some(5L)), (2L, Some(7L)), (3L, None), (4L, None))
      .toDF("id", "k")
      .repartitionByRange(2, col("k"))
    VersionedTable.commitWithStats(spark, t2, 0L, withNulls, "k")
    val dataDir2 = t2.resolve(VersionedTable.statsManifest(t2, 0L).head._1)
      .getParent
    val footer2 = VersionedTable.footerColStats(t2, dataDir2, "k")
    assert(footer2.isDefined)
    assert(footer2.get == VersionedTable.aggColStats(spark, t2, dataDir2, "k"))
    assert(footer2.get.exists { case (_, mn, mx, _) =>
      mn == Long.MinValue && mx == Long.MaxValue })
  }

  test("footer stats prove range/not-null CHECKs; other shapes fall back") {
    // r21: enforceConstraints proves a clean commit from the footers
    // the write just produced (O(new files) metadata instead of a
    // second scan of the commit's own data). The proof must be SOUND:
    // exact at inclusive boundaries, refusing one-past them, refusing
    // nullable IS NOT NULL, and refusing every shape footers cannot
    // decide (strings, OR, IN, col-vs-col, partition-borne columns).
    import spark.implicits._
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L,
      Seq((10L, Some("en"), 5L), (20L, Some("de"), 7L),
        (30L, Option.empty[String], 9L))
        .toDF("id", "lang", "n").repartition(2))
    val files = VersionedTable.statsManifest(t, 0L).map(_._1)
    // Provable: integer ranges at the exact boundaries (both operand
    // orders, strict and non-strict, negative literal) and IS NOT NULL
    // on a never-null column.
    assert(VersionedTable.footerProvesChecks(t, files,
      Seq("n >= 5 AND n <= 9", "id IS NOT NULL")))
    assert(VersionedTable.footerProvesChecks(t, files,
      Seq("n > 4", "n < 10", "9 >= n", "5 <= n", "n >= -1")))
    // Boundary soundness: one inside the observed range must NOT prove
    // (the scan would refuse these — rows 5 and 9 violate).
    assert(!VersionedTable.footerProvesChecks(t, files, Seq("n >= 6")))
    assert(!VersionedTable.footerProvesChecks(t, files, Seq("n < 9")))
    // A column with a NULL cannot prove IS NOT NULL.
    assert(!VersionedTable.footerProvesChecks(t, files,
      Seq("lang IS NOT NULL")))
    // Undecidable shapes bail to the scan: string compare, IN, OR,
    // column-vs-column, arithmetic.
    for (c <- Seq("lang >= 'aa'", "lang IN ('en','de')",
        "n >= 5 OR id >= 0", "id >= n", "n + 0 >= 5"))
      assert(!VersionedTable.footerProvesChecks(t, files, Seq(c)),
        s"shape must fall back to the scan: $c")
    // All-NULL column: a range conjunct passes vacuously (NULL is not
    // a violation — count_if(expr = false) semantics).
    val t2 = freshTable()
    VersionedTable.commit(spark, t2, 0L,
      Seq((1L, Option.empty[Long]), (2L, Option.empty[Long]))
        .toDF("id", "n"))
    assert(VersionedTable.footerProvesChecks(t2,
      VersionedTable.statsManifest(t2, 0L).map(_._1), Seq("n >= 100")))
    // Partition-borne column: not in the footers, must bail (the scan
    // re-attaches path values and stays the deciding authority).
    val t3 = freshTable()
    VersionedTable.commitPartitioned(spark, t3, 0L,
      Seq((1L, "en"), (2L, "de")).toDF("id", "lang"), "lang")
    assert(!VersionedTable.footerProvesChecks(t3,
      VersionedTable.statsManifest(t3, 0L).map(_._1),
      Seq("lang IS NOT NULL")))
    // End-to-end through the enforcement hook: the provable append
    // lands, the violating one is still refused pre-publish.
    VersionedTable.constraintCommit(spark, t, 1L, "n >= 0")
    VersionedTable.appendCommit(spark, t,
      Seq((40L, Some("fr"), 11L)).toDF("id", "lang", "n"))
    intercept[IllegalArgumentException] {
      VersionedTable.appendCommit(spark, t,
        Seq((50L, Some("fr"), -1L)).toDF("id", "lang", "n"))
    }
    assert(VersionedTable.read(spark, t).count() == 4)
  }

  test("readRange composes deletion vectors with stats pruning") {
    import spark.implicits._
    val t = freshTable()
    val base = spark.range(0, 100).selectExpr("id")
      .repartitionByRange(5, org.apache.spark.sql.functions.col("id"))
    VersionedTable.commitWithStats(spark, t, 0L, base, "id")
    VersionedTable.deleteCommit(spark, t, 1L,
      Seq(12L, 15L, 90L).toDF("id"), "id")
    val (got, nRead, nTotal) = VersionedTable.readRange(spark, t, "id", 10L, 30L)
    assert(nRead < nTotal, "stats pruning must still fire with DVs live")
    assert(got.collect().map(_.getLong(0)).sorted.toSeq ==
      (10L to 30L).filterNot(Set(12L, 15L)),
      "deleted keys must not resurrect inside a pruned range read")
    // A key re-inserted after the delete survives even in range reads.
    VersionedTable.commit(spark, t, 2L, df(12),
      carried = VersionedTable.manifest(t, 1L))
    val (got2, _, _) = VersionedTable.readRange(spark, t, "id", 10L, 30L)
    assert(got2.collect().map(_.getLong(0)).sorted.toSeq ==
      (10L to 30L).filterNot(_ == 15L))
  }

  test("a read with live deletion vectors launches no more jobs than after compaction") {
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L,
      spark.range(0, 40).toDF("id").repartition(4))
    import spark.implicits._
    // Two origins (an append between the deletes), so the read groups
    // files by covering DV set.
    VersionedTable.deleteCommit(spark, t, 1L, Seq(3L, 17L).toDF("id"), "id")
    VersionedTable.commit(spark, t, 2L, spark.range(40, 50).toDF("id"),
      carried = VersionedTable.manifest(t, 1L))
    VersionedTable.deleteCommit(spark, t, 3L, Seq(5L, 44L).toDF("id"), "id")
    VersionedTable.deleteCommit(spark, t, 4L, Seq(21L, 99L).toDF("id"), "id")
    val expected = (0L until 50L).filterNot(Set(3L, 17L, 5L, 44L, 21L))
    var rows = Seq.empty[Long]
    val atDvs = jobsLaunchedBy {
      rows = VersionedTable.read(spark, t).collect().map(_.getLong(0)).toSeq
    }
    assert(rows.sorted == expected)
    VersionedTable.compactCommit(spark, t)
    assert(VersionedTable.deletionVectors(t, 5L).isEmpty)
    val compacted = jobsLaunchedBy {
      rows = VersionedTable.read(spark, t).collect().map(_.getLong(0)).toSeq
    }
    assert(rows.sorted == expected)
    assert(atDvs <= compacted,
      s"read with 3 live DVs launched $atDvs jobs, after compaction $compacted")
  }

  test("the data schema comes from one footer and equals Spark's inference") {
    import spark.implicits._
    val t = freshTable()
    val data = Seq(
      (1L, 1, "a", BigDecimal("1.25"), java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), Seq(1L, 2L)),
      (2L, 2, null, BigDecimal("2.50"), null, Seq.empty[Long]))
      .toDF("l", "i", "s", "d", "ts", "arr")
      .withColumn("d", $"d".cast("decimal(12,2)"))
    VersionedTable.commit(spark, t, 0L, data)
    VersionedTable.commit(spark, t, 1L, data.limit(1),
      carried = VersionedTable.manifest(t, 0L))
    VersionedTable.deleteCommit(spark, t, 2L, Seq(2L).toDF("l"), "l")
    val files = VersionedTable.statsManifest(t, 2L).map(f => t.resolve(f._1).toString)
    val inferred = spark.read.parquet(files: _*).schema
    assert(VersionedTable.read(spark, t, Some(1L)).schema == inferred)
    assert(VersionedTable.read(spark, t).schema == inferred)
    assert(VersionedTable.read(spark, t).count() == 2)
  }

  test("read/readRange refuse a data-file-less manifest with a clear error") {
    import spark.implicits._
    val t = freshTable()
    // A manifest carrying ONLY a DV line (no data): publish directly.
    VersionedTable.commit(spark, t, 0L, df(1))
    val ex = intercept[IllegalArgumentException] {
      VersionedTable.publish(t, 1L, Seq.empty)
      VersionedTable.read(spark, t, Some(1L))
    }
    assert(ex.getMessage.contains("no data files"))
    intercept[IllegalArgumentException] {
      VersionedTable.readRange(spark, t, "id", 0L, 5L, version = Some(1L))
    }
  }

  test("partitioned commit records partition values; reads prune at manifest level") {
    import spark.implicits._
    val t = freshTable()
    val data = Seq((1L, "en"), (2L, "de"), (3L, "en"), (4L, "fr"))
      .toDF("id", "lang")
    VersionedTable.commitPartitioned(spark, t, 0L, data, "lang")
    assert(VersionedTable.manifest(t, 0L).forall(_.contains("lang=")),
      "every manifest line must carry the partition value in its path")
    val (got, nRead, nTotal) =
      VersionedTable.readPartitions(spark, t, "lang", Seq("en", "fr"))
    assert(nRead < nTotal)
    assert(got.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 3L, 4L))
    assert(got.columns.contains("lang"))
  }

  test("partition pruning and stats skipping compose on one manifest") {
    import spark.implicits._
    val t = freshTable()
    val data = spark.range(0, 100)
      .selectExpr("id", "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS g")
      .repartitionByRange(4, $"id")
    VersionedTable.commitPartitioned(spark, t, 0L, data, "g",
      statsCol = Some("id"))
    // Every data line carries BOTH the partition path segment and real
    // stats; the commit also declares its stats column (r13).
    assert(VersionedTable.statsManifest(t, 0L).forall {
      case (f, mn, mx) =>
        f.contains("g=") && (mn, mx) != (Long.MinValue, Long.MaxValue)
    })
    assert(VersionedTable.snapshot(t, 0L).statsColumns == Seq("id"))
    val (df, nRead, nPart, nTotal) =
      VersionedTable.readPartitionRange(spark, t, "g", Seq("a"), "id", 0L, 20L)
    assert(nPart < nTotal, "partition stage must prune")
    assert(nRead < nPart, "stats stage must prune within the partition")
    assert(df.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L to 20L).filter(_ % 2 == 0))
    // An empty stats window returns an empty, correctly-shaped frame.
    val (empty, _, _, _) =
      VersionedTable.readPartitionRange(spark, t, "g", Seq("a"), "id",
        1000L, 2000L)
    assert(empty.count() == 0 && empty.columns.contains("g"))
  }

  test("multi-column partition layout: nested segments, stats compose, compaction preserves") {
    import spark.implicits._
    val t = freshTable()
    val data = spark.range(0, 120)
      .selectExpr("id",
        "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS g",
        "CAST(id % 3 AS STRING) AS h")
      .repartitionByRange(4, $"id")
    VersionedTable.commitPartitionedMulti(spark, t, 0L, data,
      Seq("g", "h"), statsCol = Some("id"), rowCounts = true)
    // Every data line nests BOTH segments in declaration order, with
    // real stats riding the same line.
    assert(VersionedTable.statsManifest(t, 0L).forall { case (f, mn, mx) =>
      f.matches(".*/g=[ab]/h=[012]/.*") &&
        (mn, mx) != (Long.MinValue, Long.MaxValue)
    })
    assert(VersionedTable.snapshot(t, 0L).rowCounts.map(_._2).sum == 120L)
    // The connector prunes on both columns at once.
    val pruned = spark.read.format("graft-table").load(t.toString)
      .where($"g" === "a" && $"h" === "0")
    val expect = VersionedTable.statsManifest(t, 0L).map(_._1)
      .count(f => f.contains("g=a") && f.contains("h=0"))
    assert(pruned.rdd.getNumPartitions == expect)
    assert(pruned.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 120L).filter(i => i % 2 == 0 && i % 3 == 0))
    // Compaction preserves the nested layout and the contents.
    VersionedTable.compactCommit(spark, t, Some("id"), files = 3)
    assert(VersionedTable.statsManifest(t, 1L).map(_._1)
      .forall(_.matches(".*/g=[ab]/h=[012]/.*")))
    val after = spark.read.format("graft-table").load(t.toString)
    assert(after.count() == 120L &&
      after.select("g", "h").distinct().count() == 6L)
  }

  test("rename + widen commits are metadata-only; old files read under the new schema") {
    import spark.implicits._
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L,
      Seq((1L, 10), (2L, 20)).toDF("id", "len"))
    VersionedTable.renameCommit(t, 1L, "len", "n_chars")
    VersionedTable.widenCommit(t, 2L, "n_chars", "bigint")
    // Both evolution commits added zero data files.
    assert(VersionedTable.statsManifest(t, 2L).map(_._1) ==
      VersionedTable.statsManifest(t, 0L).map(_._1))
    // New data lands under the evolved schema.
    VersionedTable.commit(spark, t, 3L,
      Seq((3L, 30L)).toDF("id", "n_chars"),
      carried = VersionedTable.manifest(t, 2L))
    val latest = VersionedTable.read(spark, t)
    assert(latest.schema("n_chars").dataType ==
      org.apache.spark.sql.types.LongType,
      "the widened type must surface in the read schema")
    assert(latest.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // Time travel below the rename still sees the old name.
    val v0 = VersionedTable.read(spark, t, Some(0L))
    assert(v0.columns.contains("len") && !v0.columns.contains("n_chars"))
  }

  test("mergeCommit upserts atomically: matched keys replaced, new keys inserted") {
    import spark.implicits._
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L,
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v"))
    // Update 2, insert 9 — one commit.
    val v1 = VersionedTable.mergeCommit(spark, t,
      Seq((2L, 21L), (9L, 90L)).toDF("id", "v"), "id")
    assert(VersionedTable.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((1L, 10L), (2L, 21L), (3L, 30L), (9L, 90L)))
    // Update-of-update: a second merge over an already-merged key must
    // serve the SECOND generation (its DV covers merge 1's files).
    VersionedTable.mergeCommit(spark, t, Seq((2L, 22L)).toDF("id", "v"), "id")
    assert(VersionedTable.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((1L, 10L), (2L, 22L), (3L, 30L), (9L, 90L)))
    // Time travel below the merges is untouched; between them sees gen 1.
    assert(VersionedTable.read(spark, t, Some(0L)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    assert(VersionedTable.read(spark, t, Some(v1)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((1L, 10L), (2L, 21L), (3L, 30L), (9L, 90L)))
    // O(batch) metadata: neither merge rewrote v0's data lines.
    val v0Files = VersionedTable.statsManifest(t, 0L).map(_._1).toSet
    assert(v0Files.subsetOf(
      VersionedTable.statsManifest(t, v1 + 1).map(_._1).toSet))
    // Compaction folds both DV generations away.
    VersionedTable.commit(spark, t, v1 + 2,
      VersionedTable.read(spark, t, Some(v1 + 1)))
    assert(VersionedTable.deletionVectors(t, v1 + 2).isEmpty)
    assert(VersionedTable.read(spark, t).count() == 4)
  }

  test("commitIndexed blooms prune point lookups; no false negatives") {
    import spark.implicits._
    val t = freshTable()
    // Residue-class layout: every file's zonemap spans [0, 400) —
    // stats pruning is toothless, only the bloom can skip.
    VersionedTable.commitIndexed(spark, t, 0L,
      spark.range(0, 400).toDF("id")
        .repartitionByRange(4, $"id" % 4), "id", "id")
    assert(VersionedTable.snapshot(t, 0L).blooms.size == 4)
    // No false negatives: every present key is found, exactly once.
    Seq(0L, 7L, 399L).foreach { k =>
      val (df, read, total) = VersionedTable.readEquals(spark, t, "id", k)
      assert(total == 4)
      assert(df.collect().map(_.getLong(0)).toSeq == Seq(k))
      assert(read < total, s"probe $k opened $read of $total files — " +
        "the bloom must prune an unclustered layout")
    }
    // An absent key reads empty (possibly through a false-positive file).
    val (none, _, _) = VersionedTable.readEquals(spark, t, "id", 123456L)
    assert(none.count() == 0)
    // Files without a bloom line for the column are never pruned.
    VersionedTable.commit(spark, t, 1L, Seq(5000L).toDF("id"),
      carried = VersionedTable.manifest(t, 0L))
    val (df1, _, total1) = VersionedTable.readEquals(spark, t, "id", 5000L)
    assert(total1 == 5)
    assert(df1.collect().map(_.getLong(0)).toSeq == Seq(5000L))
  }

  test("commitMultiStats: secondary zonemaps prune a 2-D box read") {
    import spark.implicits._
    val t = freshTable()
    // A grid clustered on BOTH dims: 4 range buckets of x, each file
    // covering all y — then re-bucketed so files are (x-range,
    // y-range) cells via a z-like composite.
    val grid = spark.range(0, 1024).selectExpr("id div 32 AS x",
      "id % 32 AS y", "id AS payload")
      .repartitionByRange(16, org.apache.spark.sql.functions.expr(
        "(x div 8) * 4 + (y div 8)"))
    VersionedTable.commitMultiStats(spark, t, 0L, grid, Seq("x", "y"))
    assert(VersionedTable.snapshot(t, 0L).statsColumns == Seq("x"))
    assert(VersionedTable.snapshot(t, 0L).secondaryStats.nonEmpty)
    val (df, nRead, perDim, nTotal) = VersionedTable.readBox(spark, t,
      Seq(("x", 0L, 7L), ("y", 0L, 7L)))
    assert(nTotal == 16)
    assert(perDim("x") < nTotal && perDim("y") < nTotal,
      "each dimension alone must prune")
    assert(nRead < perDim("x") && nRead < perDim("y"),
      "the combination must prune beyond either dimension")
    assert(df.count() == 64) // the 8x8 corner cell
    // Columns without stats never prune (and never corrupt).
    val (all, allRead, _, _) = VersionedTable.readBox(spark, t,
      Seq(("payload", 0L, 10L)))
    assert(allRead == 16 && all.count() == 11)
  }

  test("publishing the same version twice fails (optimistic concurrency)") {
    val t = freshTable()
    val files = VersionedTable.commit(spark, t, 0L, df(1))
    // A racing committer of version 0: the atomic rename must refuse
    // the existing target instead of clobbering it.
    intercept[java.nio.file.FileSystemException] {
      VersionedTable.publish(t, 0L, files)
    }
    // The original commit is untouched.
    assert(VersionedTable.manifest(t, 0L) == files)
  }

  test("rowCounts lines cover a counted commit and sum to the row count") {
    val t = freshTable()
    VersionedTable.commitWithStats(spark, t, 0L,
      df(1L to 20L: _*).repartition(4), "id", rowCounts = true)
    val rc = VersionedTable.snapshot(t, 0L).rowCounts
    assert(rc.map(_._1).toSet ==
      VersionedTable.statsManifest(t, 0L).map(_._1).toSet,
      "every data file must carry a ROWS line")
    assert(rc.map(_._2).sum == 20L)
    // Readers that predate ROWS lines skip them: the snapshot read is
    // unchanged.
    assert(VersionedTable.read(spark, t).count() == 20L)
  }

  test("tags are immutable; branches advance by CAS and stay isolated") {
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2, 3))
    VersionedTable.tagCreate(t, "rel", 0L)
    intercept[java.nio.file.FileSystemException] {
      VersionedTable.tagCreate(t, "rel", 0L)
    }
    intercept[IllegalArgumentException] {
      VersionedTable.branchCommit(spark, t, "rel", df(9))
    }
    VersionedTable.branchCreate(t, "a", 0L)
    VersionedTable.branchCreate(t, "b", 0L)
    val ca = VersionedTable.branchCommit(spark, t, "a", df(10, 11))
    val cb = VersionedTable.branchCommit(spark, t, "b", df(20))
    assert(ca.version == 1L && cb.version == 2L,
      "branch snapshots interleave in one global log")
    assert(VersionedTable.readRef(spark, t, "a").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 10L, 11L))
    assert(VersionedTable.readRef(spark, t, "b").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 20L))
    assert(VersionedTable.readRef(spark, t, "rel").count() == 3L)
    // Ref history is an append-only log of its own.
    assert(VersionedTable.refEntries(t, "a").map(_._3) == Seq(0L, 1L))
    assert(VersionedTable.refs(t).map(r => (r._1, r._2)) ==
      Seq(("a", "branch"), ("b", "branch"), ("rel", "tag")))
    // Version-unaware writers refuse a branched table: basing on the
    // global latest would silently merge lines of history.
    intercept[IllegalArgumentException] {
      VersionedTable.appendCommit(spark, t, df(99))
    }
    intercept[IllegalArgumentException] {
      VersionedTable.transact(spark, t, identity)
    }
    intercept[IllegalArgumentException] {
      VersionedTable.compactCommit(spark, t)
    }
  }

  test("expire pins ref heads: a tagged old version survives vacuum") {
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2))
    VersionedTable.tagCreate(t, "pin", 0L)
    // v1 rewrites the table; v0 is below keepFrom but tagged.
    VersionedTable.commit(spark, t, 1L, df(5, 6, 7))
    VersionedTable.expire(t, keepFrom = 1L)
    assert(VersionedTable.readRef(spark, t, "pin").count() == 2L,
      "the tag's snapshot must survive an expire below keepFrom")
    assert(VersionedTable.read(spark, t).count() == 3L)
  }

  test("updateWhere rewrites only overlapping files, carries the rest verbatim") {
    import spark.implicits._
    val t = freshTable()
    val base = (1L to 100L).toDF("id")
      .selectExpr("id", "id * 10 AS v")
      .repartitionByRange(5, org.apache.spark.sql.functions.col("id"))
    VersionedTable.commitWithStats(spark, t, 0L, base, "id",
      rowCounts = true)
    val (v, rewritten, total) =
      VersionedTable.updateWhere(spark, t, "id", 1L, 10L,
        Seq("v" -> "v + 1000000"))
    assert(v == 1L && rewritten > 0 && rewritten < total)
    // Untouched files byte-verbatim; rewritten files' ROWS recomputed
    // with full coverage.
    val v0 = VersionedTable.statsManifest(t, 0L)
    val kept = v0.collect { case (f, mn, mx) if !(mx >= 1L && mn <= 10L) => f }
    val v1Files = VersionedTable.statsManifest(t, 1L).map(_._1).toSet
    assert(kept.forall(v1Files.contains))
    val rc = VersionedTable.snapshot(t, 1L).rowCounts
    assert(rc.map(_._1).toSet == v1Files && rc.map(_._2).sum == 100L)
    // Row-level result: exactly ids 1..10 updated.
    val got = VersionedTable.read(spark, t)
      .selectExpr("id", "v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 100L).forall(i =>
      got(i) == (if (i <= 10) i * 10 + 1000000 else i * 10)))
    // No-match update is a no-op, not an empty commit.
    val (v2, r2, _) = VersionedTable.updateWhere(spark, t, "id",
      -5L, -1L, Seq("v" -> "0"))
    assert(v2 == 1L && r2 == 0)
    assert(VersionedTable.versions(t) == Seq(0L, 1L))
    // O(commit) metadata: the update manifest is an RM DELTA whose
    // bytes track the touched files, never the table (the Delta
    // add+remove-actions shape).
    val mBytes = java.nio.file.Files.size(
      t.resolve("_commits").resolve("v000001.manifest"))
    assert(mBytes < 500,
      s"update manifest is $mBytes bytes — it carried the table")
    // removedLines reports the rewrite (data line + its ROWS line), so
    // the change feed refuses this version like any rewrite.
    val removed = VersionedTable.removedLines(t, 1L)
    assert(removed.exists(!_.contains("ROWS\t")) &&
      removed.exists(_.startsWith("ROWS\t")),
      s"removedLines must name the rewritten data and meta lines: $removed")
    // Chained RM deltas resolve correctly: a second update over an
    // already-delta'd base.
    val (v3, r3, _) = VersionedTable.updateWhere(spark, t, "id",
      95L, 100L, Seq("v" -> "v + 5000000"))
    assert(v3 == 2L && r3 > 0)
    val got2 = VersionedTable.read(spark, t)
      .selectExpr("id", "v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2.size == 100)
    assert((1L to 100L).forall { i =>
      val base0 = i * 10
      val afterFirst = if (i <= 10) base0 + 1000000 else base0
      got2(i) == (if (i >= 95) afterFirst + 5000000 else afterFirst)
    })
  }

  test("CHECK constraints gate every row-adding path before the commit point") {
    import spark.implicits._
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L,
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    VersionedTable.constraintCommit(spark, t, 1L, "v >= 0")
    // Declaring a CHECK the snapshot violates is refused.
    intercept[IllegalArgumentException] {
      VersionedTable.constraintCommit(spark, t, 2L, "v > 15")
    }
    // Clean append passes; violating append fails pre-publish.
    VersionedTable.appendCommit(spark, t, Seq((3L, 30L)).toDF("id", "v"))
    intercept[IllegalArgumentException] {
      VersionedTable.appendCommit(spark, t, Seq((4L, -1L)).toDF("id", "v"))
    }
    assert(VersionedTable.versions(t) == Seq(0L, 1L, 2L))
    // NULL passes (SQL CHECK semantics).
    VersionedTable.appendCommit(spark, t,
      Seq((5L, Option.empty[Long])).toDF("id", "v"))
    assert(VersionedTable.read(spark, t).count() == 4)
    // The streaming/pinned path and merge/update enforce too.
    intercept[IllegalArgumentException] {
      VersionedTable.commitAppend(spark, t, 10L,
        Seq((6L, -5L)).toDF("id", "v"))
    }
    intercept[IllegalArgumentException] {
      VersionedTable.mergeCommit(spark, t,
        Seq((1L, -9L)).toDF("id", "v"), "id")
    }
    // A branch inherits its head's constraints.
    VersionedTable.branchCreate(t, "dev", 3L)
    intercept[IllegalArgumentException] {
      VersionedTable.branchCommit(spark, t, "dev",
        Seq((7L, -2L)).toDF("id", "v"))
    }
    assert(VersionedTable.checkConstraints(
      t, VersionedTable.latestVersion(t).get) == Seq("v >= 0"))
  }

  test("compactCommit folds DVs, materializes mappings, keeps the contract") {
    import spark.implicits._
    val t = freshTable()
    VersionedTable.commitWithStats(spark, t, 0L,
      (1L to 40L).toDF("id").selectExpr("id", "id * 2 AS len")
        .repartitionByRange(4, org.apache.spark.sql.functions.col("id")),
      "id", rowCounts = true)
    VersionedTable.constraintCommit(spark, t, 1L, "len >= 0")
    VersionedTable.deleteCommit(spark, t, 2L, Seq(7L).toDF("id"), "id")
    // A mapped+DV'd version would refuse every reader AND the
    // compaction that resolves it — a dead end two valid statements
    // used to be able to create. r16: the evolution commit REFUSES at
    // commit time instead, while the table is still readable and the
    // remedy (compact, folding the DV) still works.
    intercept[IllegalArgumentException] {
      VersionedTable.renameCommit(t, 3L, "len", "n")
    }
    assert(VersionedTable.read(spark, t).count() == 39L,
      "the refused rename must leave the table readable")
    // Compacting folds the DV; the rename then lands cleanly.
    VersionedTable.compactCommit(spark, t, Some("id"))
    VersionedTable.renameCommit(t, 4L, "len", "n")
    assert(VersionedTable.snapshot(t, 4L).columnMappings ==
      Seq(("rename", "len", "n")))
    // The supported single-debt path: a table with DVs OR mappings
    // (not both) compacts cleanly. Fresh table with DVs + constraint:
    val t2 = freshTable()
    VersionedTable.commitWithStats(spark, t2, 0L,
      (1L to 40L).toDF("id").selectExpr("id", "id * 2 AS len")
        .repartitionByRange(4, org.apache.spark.sql.functions.col("id")),
      "id", rowCounts = true)
    VersionedTable.constraintCommit(spark, t2, 1L, "len >= 0")
    VersionedTable.deleteCommit(spark, t2, 2L, Seq(7L).toDF("id"), "id")
    val v3 = VersionedTable.compactCommit(spark, t2, Some("id"))
    assert(VersionedTable.deletionVectors(t2, v3).isEmpty,
      "compaction must fold the deletion vectors away")
    assert(VersionedTable.checkConstraints(t2, v3) == Seq("len >= 0"),
      "compaction must carry the CHECK forward")
    val rc = VersionedTable.snapshot(t2, v3).rowCounts
    assert(rc.map(_._2).sum == 39L, "ROWS recomputed over the fold")
    assert(VersionedTable.read(spark, t2, Some(v3)).count() == 39L)
    intercept[IllegalArgumentException] {
      VersionedTable.appendCommit(spark, t2, Seq((9L, -1L)).toDF("id", "len"))
    }
    // And a mapped (DV-less) table compacts into plain current-schema
    // files the connector can serve again.
    val t3 = freshTable()
    VersionedTable.commit(spark, t3, 0L, Seq((1L, 5L)).toDF("id", "len"))
    VersionedTable.renameCommit(t3, 1L, "len", "n")
    val v2 = VersionedTable.compactCommit(spark, t3)
    assert(VersionedTable.snapshot(t3, v2).columnMappings.isEmpty,
      "compaction must materialize the mapping, not carry it")
    assert(VersionedTable.read(spark, t3).columns.toSeq == Seq("id", "n"))
  }

  test("promoteBranch fast-forwards additions; rewritten branches refuse") {
    import spark.implicits._
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2, 3))
    VersionedTable.branchCreate(t, "main", 0L)
    VersionedTable.branchCreate(t, "exp", 0L)
    VersionedTable.branchCommit(spark, t, "exp", df(10))
    VersionedTable.branchCommit(spark, t, "exp", df(11))
    VersionedTable.branchCommit(spark, t, "main", df(20))
    val p = VersionedTable.promoteBranch(spark, t, "exp", "main")
    assert(VersionedTable.readRef(spark, t, "main").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 10L, 11L, 20L))
    assert(VersionedTable.readRef(spark, t, "exp").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 10L, 11L))
    // The promote is a pure-metadata delta: BASE + exp's added lines.
    assert(VersionedTable.addedLines(t, p.version).forall(l =>
      VersionedTable.manifest(
        t, VersionedTable.refHead(t, "exp").get._2).contains(l)))
    // A branch whose history REWROTE files (head not a superset of its
    // fork) REBASES since r15: its net removal replays as an RM delta
    // against main's head — main keeps its own additions and loses
    // exactly the branch's dropped file; the commit is KIND=update so
    // the change feed can replay it as preimage/postimage.
    VersionedTable.branchCreate(t, "rw", 0L)
    val head = VersionedTable.latestVersion(t).get + 1
    // Simulate a rewrite on the rw branch: a full manifest that drops
    // one of the fork's files, published as the branch head.
    VersionedTable.publish(t, head,
      VersionedTable.manifest(t, 0L).drop(1))
    VersionedTable.advanceRef(t, "rw", head)
    val rwKept = VersionedTable.readRef(spark, t, "rw").collect()
      .map(_.getLong(0)).toSet
    val pr = VersionedTable.promoteBranch(spark, t, "rw", "main")
    assert(VersionedTable.commitKind(t, pr.version).contains("update"))
    assert(VersionedTable.readRef(spark, t, "main").collect()
      .map(_.getLong(0)).sorted.toSeq ==
      (rwKept ++ Set(10L, 11L, 20L)).toSeq.sorted)
    // A TRUE conflict still refuses: rw2 removes the same fork file
    // main just lost — the removed line is no longer verbatim in
    // main's head (the overlapping-RM rule).
    VersionedTable.branchCreate(t, "rw2", 0L)
    val head2 = VersionedTable.latestVersion(t).get + 1
    VersionedTable.publish(t, head2,
      VersionedTable.manifest(t, 0L).drop(1))
    VersionedTable.advanceRef(t, "rw2", head2)
    val ce = intercept[IllegalArgumentException] {
      VersionedTable.promoteBranch(spark, t, "rw2", "main")
    }
    assert(ce.getMessage.contains("both branches touched"))
    // Promoting into a tag refuses.
    VersionedTable.tagCreate(t, "pin", 0L)
    intercept[IllegalArgumentException] {
      VersionedTable.promoteBranch(spark, t, "exp", "pin")
    }
    // The TARGET's constraints gate a promote: a branch carrying rows
    // the target's post-fork CHECK forbids cannot fast-forward.
    val t2 = freshTable()
    VersionedTable.commit(spark, t2, 0L, df(1, 2))
    VersionedTable.branchCreate(t2, "dev", 0L)
    VersionedTable.branchCreate(t2, "prod", 0L)
    VersionedTable.branchCommit(spark, t2, "dev", df(-5))
    VersionedTable.branchCommit(spark, t2, "prod", df(3))
    // prod declares id >= 0 on its own line of history.
    val prodHead = VersionedTable.refHead(t2, "prod").get._2
    val cv = VersionedTable.latestVersion(t2).get + 1
    VersionedTable.publish(t2, cv,
      Seq("BASE\t" + prodHead, "CHECK\tid >= 0"))
    VersionedTable.advanceRef(t2, "prod", cv)
    intercept[IllegalArgumentException] {
      VersionedTable.promoteBranch(spark, t2, "dev", "prod")
    }
  }

  test("promoteBranch revalidates against the fresh head after a lost ref CAS") {
    import spark.implicits._
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2))
    VersionedTable.branchCreate(t, "dev", 0L)
    VersionedTable.branchCreate(t, "prod", 0L)
    VersionedTable.branchCommit(spark, t, "dev", df(-5)) // violates prod's
    // A CHECK commit on prod's line, PUBLISHED but not yet the ref
    // head — the concurrent writer the race seam will let win.
    val prodHead0 = VersionedTable.refHead(t, "prod").get._2
    val cv = VersionedTable.latestVersion(t).get + 1
    VersionedTable.publish(t, cv,
      Seq("BASE\t" + prodHead0, "CHECK\tid >= 0"))
    // Attempt 0 reads prod's head, then the seam advances prod to the
    // CHECK commit (stealing the ref CAS the promote will try). The
    // old behavior validated ONCE before the loop — the retry would
    // republish dev's -5 onto the constrained head unvalidated. The
    // fix revalidates per attempt against the FRESH head: refused.
    var fired = false
    val e = intercept[IllegalArgumentException] {
      VersionedTable.promoteBranch(spark, t, "dev", "prod",
        beforeAttempt = _ => if (!fired) {
          fired = true
          VersionedTable.advanceRef(t, "prod", cv)
        })
    }
    assert(e.getMessage.contains("CHECK"))
    // prod's line of history is intact: the lost attempt's snapshot is
    // orphaned (unreachable), never the ref head.
    assert(VersionedTable.refHead(t, "prod").get._2 == cv)
    assert(VersionedTable.readRef(spark, t, "prod").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // The same race with NON-violating rows absorbs the conflict and
    // promotes cleanly on retry (constraints re-checked, satisfied).
    VersionedTable.branchCreate(t, "ok", 0L)
    VersionedTable.branchCommit(spark, t, "ok", df(7))
    var fired2 = false
    val p = VersionedTable.promoteBranch(spark, t, "ok", "prod",
      beforeAttempt = _ => if (!fired2) {
        fired2 = true
        VersionedTable.branchCommit(spark, t, "prod", df(9))
      })
    assert(p.conflicts >= 1)
    assert(VersionedTable.readRef(spark, t, "prod").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 7L, 9L))
  }

  test("vacuum reclaims files an RM delta rewrote away; the delta chain stays resolvable") {
    import spark.implicits._
    val t = freshTable()
    VersionedTable.commitWithStats(spark, t, 0L,
      (1L to 50L).toDF("id").selectExpr("id", "id AS v")
        .repartitionByRange(5, org.apache.spark.sql.functions.col("id")),
      "id")
    val (v1, rewritten, total) =
      VersionedTable.updateWhere(spark, t, "id", 1L, 10L, Seq("v" -> "0"))
    assert(rewritten > 0 && rewritten < total)
    val rewrittenAway = VersionedTable.statsManifest(t, 0L).map(_._1).toSet
      .diff(VersionedTable.statsManifest(t, v1).map(_._1).toSet)
    assert(rewrittenAway.nonEmpty)
    // Expire v0: the RM'd files are referenced by nothing live and
    // must be reclaimed; v1 (an RM DELTA whose BASE is the expired
    // v0) must STILL resolve — the pinning keeps v0's manifest as a
    // chain anchor while its dead files go.
    val (deleted, _) = VersionedTable.expire(t, keepFrom = v1)
    assert(deleted >= rewrittenAway.size,
      s"vacuum deleted $deleted files; the ${rewrittenAway.size} " +
        "rewritten-away files were unreferenced and reclaimable")
    assert(rewrittenAway.forall(f => !Files.exists(t.resolve(f))))
    assert(VersionedTable.read(spark, t).count() == 50,
      "the RM delta must resolve through its pinned expired BASE")
  }

  test("updateWhere maintains skipping indexes across the rewrite") {
    import spark.implicits._
    val t = freshTable()
    val base = (1L to 40L).toDF("id").selectExpr("id", "id * 2 AS v")
      .repartitionByRange(4, org.apache.spark.sql.functions.col("id"))
    VersionedTable.commitIndexed(spark, t, 0L, base, "id", "v")
    val (_, rewritten, total) =
      VersionedTable.updateWhere(spark, t, "id", 1L, 5L,
        Seq("v" -> "v + 7"))
    assert(rewritten > 0 && rewritten < total)
    // No stale bloom survives (it would prune wrongly on fresh data)
    // AND no coverage is lost (r15): every v1 file carries a bloom —
    // rewritten files' filters recomputed, untouched files' carried.
    val v1Files = VersionedTable.statsManifest(t, 1L).map(_._1).toSet
    assert(VersionedTable.snapshot(t, 1L).blooms
      .collect { case (f, "v", _) => f }.toSet == v1Files,
      "bloom coverage must survive the rewrite exactly")
    // The recomputed filter has teeth on an updated value (id=3 →
    // v=13): the point lookup finds it while still pruning files.
    val (hit, read, totalF) = VersionedTable.readEquals(spark, t, "v",
      13L, Some(1L))
    assert(hit.count() == 1 && read < totalF,
      s"bloom lookup read $read of $totalF files")
    // And the refusals: DV-bearing or schema-mapped versions.
    VersionedTable.deleteCommit(spark, t, 2L, Seq(3L).toDF("id"), "id")
    intercept[IllegalArgumentException] {
      VersionedTable.updateWhere(spark, t, "id", 1L, 5L, Seq("v" -> "0"))
    }
  }

  test("compactCommit on a partition layout keeps layout, pruning, column") {
    import spark.implicits._
    val t = freshTable()
    // 8-way fragmented per partition value: the compaction has work.
    val data = Seq.tabulate(60)(i => (i.toLong, s"g${i % 3}"))
      .toDF("id", "g").repartition(8)
    VersionedTable.commitPartitioned(spark, t, 0L, data, "g",
      statsCol = Some("id"), rowCounts = true)
    val v = VersionedTable.compactCommit(spark, t,
      statsCol = Some("id"), files = 2)
    assert(v == 1L)
    assert(VersionedTable.commitKind(t, v).contains("compact"))
    // The partition layout survives: every file still carries g=… and
    // readPartitions prunes at the manifest level.
    val files = VersionedTable.statsManifest(t, v).map(_._1)
    assert(files.nonEmpty && files.forall(_.contains("g=")),
      "compaction flattened the partition layout")
    assert(files.size < VersionedTable.statsManifest(t, 0L).size,
      "compaction must reduce the file count")
    val (pruned, nRead, nTotal) =
      VersionedTable.readPartitions(spark, t, "g", Seq("g1"))
    assert(nRead < nTotal, "partition pruning must survive compaction")
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 60L).filter(_ % 3 == 1).toSeq,
      "the partition column (and its rows) must survive the rewrite")
    // Content losslessness + recomputed metadata.
    assert(VersionedTable.read(spark, t, Some(v)).count() == 60)
    assert(VersionedTable.snapshot(t, v).rowCounts.map(_._2).sum == 60L,
      "ROWS lines must be recomputed for the compacted files")
    assert(VersionedTable.snapshot(t, v).statsColumns == Seq("id"))
    // RAGGED layouts (files partitioned on different column sets)
    // refuse rather than guess — uniform multi-column layouts compact
    // fine (see the multi-column layout test above).
    val t2 = freshTable()
    VersionedTable.commitPartitioned(spark, t2, 0L,
      Seq((1L, "a")).toDF("id", "g"), "g")
    VersionedTable.commitPartitioned(spark, t2, 1L,
      Seq((2L, "b")).toDF("id", "h"), "h",
      carried = VersionedTable.manifest(t2, 0L))
    intercept[IllegalArgumentException] {
      VersionedTable.compactCommit(spark, t2)
    }
  }

  test("partition-spec evolution: O(1) metadata commit, per-spec files, compaction un-rags") {
    import spark.implicits._
    val t = freshTable()
    val batch1 = Seq.tabulate(30)(i => (i.toLong, s"g${i % 3}", s"h${i % 2}"))
      .toDF("id", "g", "h")
    VersionedTable.commitPartitioned(spark, t, 0L, batch1, "g")
    // The evolution is ONE metadata commit: a 2-line delta (BASE +
    // PARTSPEC), no data file touched.
    val ev = VersionedTable.evolvePartitionLayout(spark, t, Seq("h"))
    assert(ev == 1L)
    assert(VersionedTable.addedLines(t, ev) == Seq("PARTSPEC\t1\th"),
      "the evolve commit must add exactly one PARTSPEC line")
    assert(VersionedTable.snapshot(t, ev).partitionSpecs == Seq((1L, Seq("h"))))
    assert(VersionedTable.snapshot(t, ev).writePartitionLayout == Seq("h"),
      "new writes must land under the latest spec generation")
    assert(VersionedTable.snapshot(t, ev).partitionLayout == Seq("g"),
      "the reader union still carries the old generation's column")
    // A new batch lands under the NEW spec; old files keep their paths.
    val batch2 = Seq.tabulate(10)(i =>
      (100L + i, s"g${i % 3}", s"h${i % 2}")).toDF("id", "g", "h")
    VersionedTable.commitPartitioned(spark, t, 2L, batch2, "h",
      carried = VersionedTable.manifest(t, ev))
    val files2 = VersionedTable.statsManifest(t, 2L).map(_._1)
    assert(files2.exists(f => f.contains("g=") && !f.contains("h=")) &&
      files2.exists(f => f.contains("h=") && !f.contains("g=")),
      s"both generations' layouts must coexist, got $files2")
    // Compaction rewrites the WHOLE snapshot under the live spec.
    val v = VersionedTable.compactCommit(spark, t, files = 2)
    val files = VersionedTable.statsManifest(t, v).map(_._1)
    assert(files.nonEmpty &&
      files.forall(f => f.contains("h=") && !f.contains("g=")),
      s"compaction must un-rag under the live spec, got $files")
    // Content survives: both generations' rows, the retired partition
    // column folded into the payload.
    val (dfh, nRead, nTotal) =
      VersionedTable.readPartitions(spark, t, "h", Seq("h1"))
    assert(nRead < nTotal, "live-spec pruning must work post-compaction")
    val got = dfh.select("id", "g").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val want = (Seq.tabulate(30)(i => (i.toLong, s"g${i % 3}", s"h${i % 2}")) ++
      Seq.tabulate(10)(i => (100L + i, s"g${i % 3}", s"h${i % 2}")))
      .filter(_._3 == "h1").map(x => (x._1, x._2)).sorted
    assert(got == want,
      "both generations' rows (and the retired column) must survive")
    // The full-manifest rewrite restates the spec history (amnesia
    // rule) — writes after compaction keep landing under the live spec.
    assert(VersionedTable.snapshot(t, v).partitionSpecs == Seq((1L, Seq("h"))))
    assert(VersionedTable.snapshot(t, v).writePartitionLayout == Seq("h"))
  }

  test("materialized-view refresh: O(delta) reads, kind-aware walk, refusals") {
    import spark.implicits._
    val base = freshTable()
    val mv = base.resolveSibling("mv")
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"g").agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
    def merge(old: org.apache.spark.sql.DataFrame,
              delta: org.apache.spark.sql.DataFrame) =
      old.unionByName(delta).groupBy($"g")
        .agg(org.apache.spark.sql.functions.sum($"n").as("n"))
    VersionedTable.commit(spark, base, 0L,
      Seq((1L, "a"), (2L, "b")).toDF("id", "g"))
    VersionedTable.createMaterialized(spark, base, mv, agg)
    // Caught up: nothing published.
    assert(VersionedTable.refreshMaterialized(spark, base, mv, agg,
      merge) == ((0L, 0,
        VersionedTable.statsManifest(base, 0L).size)))
    assert(VersionedTable.versions(mv) == Seq(0L))
    // Append → refresh reads exactly the appended file.
    VersionedTable.appendCommit(spark, base, Seq((3L, "a")).toDF("id", "g"))
    val (v1, read1, _) =
      VersionedTable.refreshMaterialized(spark, base, mv, agg, merge)
    assert(v1 == 1L && read1 == 1)
    assert(VersionedTable.read(spark, mv).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq ==
      Seq(("a", 2L), ("b", 1L)))
    // An MV without a cursor refuses; a REWRITING base commit refuses
    // toward re-create (a DV delete drops rows appends can't see).
    val plain = freshTable()
    VersionedTable.commit(spark, plain, 0L, Seq(1L).toDF("id"))
    intercept[IllegalArgumentException] {
      VersionedTable.refreshMaterialized(spark, plain, plain, agg, merge)
    }
    VersionedTable.deleteCommit(spark, base,
      VersionedTable.latestVersion(base).get + 1,
      Seq(2L).toDF("id"), "id")
    intercept[IllegalArgumentException] {
      VersionedTable.refreshMaterialized(spark, base, mv, agg, merge)
    }
    // PARTITIONED base: the MV groups on the PATH-BORNE column —
    // creation and delta reads both re-attach it per commit dir.
    val pbase = freshTable()
    val pmv = pbase.resolveSibling("pmv")
    VersionedTable.commitPartitioned(spark, pbase, 0L,
      Seq((1L, "a"), (2L, "b")).toDF("id", "g"), "g")
    VersionedTable.createMaterialized(spark, pbase, pmv, agg)
    VersionedTable.commitPartitioned(spark, pbase, 1L,
      Seq((3L, "a")).toDF("id", "g"), "g",
      carried = VersionedTable.manifest(pbase, 0L))
    val (pv, pread, _) =
      VersionedTable.refreshMaterialized(spark, pbase, pmv, agg, merge)
    assert(pv == 1L && pread == 1)
    assert(VersionedTable.read(spark, pmv).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq ==
      Seq(("a", 2L), ("b", 1L)))
  }

  test("compactPartitionsCommit: scoped rewrite, verbatim carry, no-op scope") {
    import spark.implicits._
    val t = freshTable()
    val data = Seq.tabulate(40)(i => (i.toLong, s"g${i % 2}"))
      .toDF("id", "g").repartition(4)
    VersionedTable.commitPartitioned(spark, t, 0L, data, "g",
      statsCol = Some("id"), rowCounts = true)
    val before = VersionedTable.manifest(t, 0L)
    val g1Before = VersionedTable.statsManifest(t, 0L).map(_._1)
      .count(_.contains("g=g1"))
    assert(g1Before > 1, "scope must start fragmented")
    val (v, rewritten, total) =
      VersionedTable.compactPartitionsCommit(spark, t, "g", Seq("g1"),
        files = 1)
    assert(v == 1L && rewritten == g1Before &&
      total == VersionedTable.statsManifest(t, 0L).size)
    // Untouched partition lines carry byte-verbatim through the delta.
    val after = VersionedTable.manifest(t, 1L)
    assert(after.filter(_.contains("g=g0")).forall(before.contains),
      "untouched partition lines must carry byte-verbatim")
    assert(VersionedTable.statsManifest(t, 1L).map(_._1)
      .count(_.contains("g=g1")) == 1,
      "the scope must compact to one file")
    assert(VersionedTable.commitKind(t, 1L).contains("compact"))
    // Content, stats column and ROWS survive.
    val (dfp, _, _) = VersionedTable.readPartitions(spark, t, "g", Seq("g1"))
    assert(dfp.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 40L).filter(_ % 2 == 1).toSeq)
    assert(VersionedTable.snapshot(t, 1L).rowCounts.map(_._2).sum == 40L)
    // Empty scope publishes nothing.
    val filesNow = VersionedTable.statsManifest(t, 1L).size
    assert(VersionedTable.compactPartitionsCommit(spark, t, "g",
      Seq("nope")) == ((1L, 0, filesNow)))
    // Unknown partition column refuses.
    intercept[IllegalArgumentException] {
      VersionedTable.compactPartitionsCommit(spark, t, "id", Seq("1"))
    }
  }

  test("evolvePartitionLayout refusals and the evolve-to-flat generation") {
    import spark.implicits._
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    // Unknown column / non-string column / duplicates refuse at
    // declaration time, not first-write time.
    intercept[IllegalArgumentException] {
      VersionedTable.evolvePartitionLayout(spark, t, Seq("nope"))
    }
    intercept[IllegalArgumentException] {
      VersionedTable.evolvePartitionLayout(spark, t, Seq("id"))
    }
    intercept[IllegalArgumentException] {
      VersionedTable.evolvePartitionLayout(spark, t, Seq("s", "s"))
    }
    assert(VersionedTable.latestVersion(t).contains(0L),
      "refused evolutions must publish nothing")
    val v1 = VersionedTable.evolvePartitionLayout(spark, t, Seq("s"))
    assert(VersionedTable.snapshot(t, v1).writePartitionLayout == Seq("s"))
    // A live-spec column is load-bearing: DROP COLUMN refuses it.
    intercept[IllegalArgumentException] {
      VersionedTable.dropColumnCommit(spark, t, v1 + 1, "s")
    }
    // Evolving BACK TO FLAT is a legal generation.
    val v2 = VersionedTable.evolvePartitionLayout(spark, t, Nil)
    assert(VersionedTable.snapshot(t, v2).partitionSpecs ==
      Seq((1L, Seq("s")), (2L, Nil)))
    assert(VersionedTable.snapshot(t, v2).writePartitionLayout.isEmpty)
  }

  test("transact validates and carries CHECK constraints per attempt") {
    import spark.implicits._
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L,
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    VersionedTable.constraintCommit(spark, t, 1L, "v >= 0")
    // An op whose output violates the live CHECK must fail BEFORE the
    // commit point — the rewrite can't smuggle a violation in.
    intercept[IllegalArgumentException] {
      VersionedTable.transact(spark, t,
        op = snap => snap.selectExpr("id", "-v AS v"))
    }
    assert(VersionedTable.versions(t) == Seq(0L, 1L),
      "the refused transaction must publish nothing")
    // A clean rewrite publishes AND carries the contract.
    val c = VersionedTable.transact(spark, t,
      op = snap => snap.selectExpr("id", "v + 1 AS v"))
    assert(VersionedTable.checkConstraints(t, c.version) == Seq("v >= 0"),
      "transact dropped the declared CHECK — metadata amnesia")
    intercept[IllegalArgumentException] {
      VersionedTable.appendCommit(spark, t, Seq((9L, -1L)).toDF("id", "v"))
    }
  }

  test("every raw commit variant carries and enforces live CHECKs") {
    import spark.implicits._
    val good = Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
    val bad = Seq((3L, -5L)).toDF("id", "v")
    type Variant = (java.nio.file.Path, Long,
      org.apache.spark.sql.DataFrame) => Unit
    val variants: Seq[(String, Variant)] = Seq(
      "commit" -> ((t, ver, d) =>
        VersionedTable.commit(spark, t, ver, d)),
      "commitWithStats" -> ((t, ver, d) =>
        VersionedTable.commitWithStats(spark, t, ver, d, "id")),
      "commitPartitioned" -> ((t, ver, d) =>
        VersionedTable.commitPartitioned(spark, t, ver, d, "id")),
      "commitMultiStats" -> ((t, ver, d) =>
        VersionedTable.commitMultiStats(spark, t, ver, d, Seq("id", "v"))),
      "commitIndexed" -> ((t, ver, d) =>
        VersionedTable.commitIndexed(spark, t, ver, d, "id", "v")))
    variants.foreach { case (name, run) =>
      val t = freshTable()
      VersionedTable.commit(spark, t, 0L, good)
      VersionedTable.constraintCommit(spark, t, 1L, "v >= 0")
      // The full-manifest rewrite must refuse a violating batch …
      intercept[IllegalArgumentException] { run(t, 2L, bad) }
      assert(VersionedTable.versions(t) == Seq(0L, 1L),
        s"$name: the refused rewrite must publish nothing")
      // … and a clean one must carry the CHECK lines forward.
      run(t, 2L, good)
      assert(VersionedTable.checkConstraints(t, 2L) == Seq("v >= 0"),
        s"$name: the rewrite dropped the declared CHECK")
    }
  }

  test("commitKind annotates update/compact; resolution strips it") {
    import spark.implicits._
    val t = freshTable()
    VersionedTable.commitWithStats(spark, t, 0L,
      (1L to 20L).toDF("id").selectExpr("id", "id AS v")
        .repartitionByRange(4, org.apache.spark.sql.functions.col("id")),
      "id")
    VersionedTable.updateWhere(spark, t, "id", 1L, 5L, Seq("v" -> "0"))
    assert(VersionedTable.commitKind(t, 1L).contains("update"))
    val v2 = VersionedTable.compactCommit(spark, t, Some("id"), files = 2)
    assert(VersionedTable.commitKind(t, v2).contains("compact"))
    assert(VersionedTable.commitKind(t, 0L).isEmpty)
    // KIND describes ONE commit: resolution strips it, so no later
    // carry or checkpoint inherits the annotation.
    assert(VersionedTable.manifest(t, 1L).forall(!_.startsWith("KIND")))
    VersionedTable.appendCommit(spark, t, Seq((99L, 99L)).toDF("id", "v"))
    assert(VersionedTable.commitKind(t, v2 + 1).isEmpty,
      "an append must not inherit the prior commit's KIND")
  }

  test("branched tables refuse every version-unaware or raw-carry verb") {
    import spark.implicits._
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2, 3))
    VersionedTable.branchCreate(t, "dev", 0L)
    val refusals: Seq[(String, () => Any)] = Seq(
      "deleteCommit" -> (() =>
        VersionedTable.deleteCommit(spark, t, 1L, Seq(1L).toDF("id"), "id")),
      "constraintCommit" -> (() =>
        VersionedTable.constraintCommit(spark, t, 1L, "id >= 0")),
      "renameCommit" -> (() =>
        VersionedTable.renameCommit(t, 1L, "id", "id2")),
      "widenCommit" -> (() =>
        VersionedTable.widenCommit(t, 1L, "id", "bigint")),
      "commit" -> (() => VersionedTable.commit(spark, t, 1L, df(9))),
      "commitWithStats" -> (() =>
        VersionedTable.commitWithStats(spark, t, 1L, df(9), "id")),
      "commitPartitioned" -> (() =>
        VersionedTable.commitPartitioned(spark, t, 1L, df(9), "id")),
      "commitMultiStats" -> (() =>
        VersionedTable.commitMultiStats(spark, t, 1L, df(9), Seq("id"))),
      "commitIndexed" -> (() =>
        VersionedTable.commitIndexed(spark, t, 1L, df(9), "id", "id")))
    refusals.foreach { case (name, run) =>
      val e = intercept[IllegalArgumentException] { run() }
      assert(e.getMessage.contains("branch refs"), s"$name must refuse")
    }
    assert(VersionedTable.versions(t) == Seq(0L),
      "a refused verb must publish nothing")
  }

  test("rebase refuses a branch that dropped a kept file's index metadata") {
    import spark.implicits._
    val t = freshTable()
    VersionedTable.commitWithStats(spark, t, 0L, df(1, 2, 3).coalesce(1),
      "id", rowCounts = true)
    VersionedTable.branchCreate(t, "m", 0L)
    VersionedTable.branchCreate(t, "rw", 0L)
    // The branch head keeps every data file but drops the ROWS index
    // lines — a file-level RM replay would drop the kept data too.
    val head = VersionedTable.latestVersion(t).get + 1
    VersionedTable.publish(t, head,
      VersionedTable.manifest(t, 0L).filterNot(_.startsWith("ROWS")))
    VersionedTable.advanceRef(t, "rw", head)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.promoteBranch(spark, t, "rw", "m")
    }
    assert(e.getMessage.contains("index metadata"))
  }

  test("compactCommit recomputes the bloom index over the fresh files") {
    import spark.implicits._
    val t = freshTable()
    VersionedTable.commitIndexed(spark, t, 0L,
      (1L to 40L).toDF("id").selectExpr("id", "id * 2 AS v")
        .repartitionByRange(4, org.apache.spark.sql.functions.col("id")),
      "id", "v")
    val v = VersionedTable.compactCommit(spark, t, Some("id"), files = 2)
    val vFiles = VersionedTable.statsManifest(t, v).map(_._1).toSet
    assert(VersionedTable.snapshot(t, v).blooms
      .collect { case (f, "v", _) => f }.toSet == vFiles,
      "compaction must recompute bloom coverage, not drop it")
    val (hit, read, total) = VersionedTable.readEquals(spark, t, "v",
      26L, Some(v))
    assert(hit.count() == 1 && read < total,
      s"bloom lookup read $read of $total files after compaction")
  }

  test("replaceFilesCommit recomputes secondary zonemaps for staged files") {
    import spark.implicits._
    val t = freshTable()
    VersionedTable.commitMultiStats(spark, t, 0L,
      (1L to 40L).toDF("id").selectExpr("id", "id * 3 AS v")
        .repartitionByRange(4, $"id"), Seq("id", "v"))
    val files0 = VersionedTable.statsManifest(t, 0L).map(_._1)
    val dd = t.resolve("data").resolve("rlo-sec")
    (1L to 40L).toDF("id").selectExpr("id", "id * 3 + 1 AS v")
      .repartitionByRange(2, $"id").write.parquet(dd.toString)
    val staged = {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dd)
      try walk.iterator().asScala.filter(p =>
          java.nio.file.Files.isRegularFile(p) &&
            p.toString.endsWith(".parquet"))
        .map(p => t.relativize(p).toString).toSeq.sorted
      finally walk.close()
    }
    val v = VersionedTable.replaceFilesCommit(spark, t, 0L, files0,
      staged, "test")
    // The v-dimension zonemaps cover the staged files with true
    // bounds — the box read prunes on BOTH dims exactly as before the
    // rewrite.
    val sec = VersionedTable.snapshot(t, v).secondaryStats
      .collect { case (f, "v", mn, mx) => (f, mn, mx) }
    assert(sec.map(_._1).toSet == staged.toSet)
    assert(sec.forall { case (_, mn, mx) => mn >= 4L && mx <= 121L })
    val (_, read, perDim, total) = VersionedTable.readBox(spark, t,
      Seq(("id", 1L, 10L), ("v", 4L, 31L)), Some(v))
    assert(read < total && perDim("v") < total,
      s"box read $read/$total, perDim $perDim")
  }

  test("replaceFilesCommit detects concurrent commits and refuses") {
    import spark.implicits._
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L, df(1, 2, 3))
    val files0 = VersionedTable.statsManifest(t, 0L).map(_._1)
    // Stage replacement rows the way the V2 write would.
    val dd = t.resolve("data").resolve("rlo-test")
    df(10, 20).coalesce(1).write.parquet(dd.toString)
    val staged = {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dd)
      try walk.iterator().asScala.filter(p =>
          java.nio.file.Files.isRegularFile(p) &&
            p.toString.endsWith(".parquet"))
        .map(p => t.relativize(p).toString).toSeq.sorted
      finally walk.close()
    }
    // A commit lands between the statement's scan (base 0) and its
    // publish: the staged rows derive from a superseded snapshot —
    // detect-and-refuse with the re-run instruction, nothing published.
    VersionedTable.appendCommit(spark, t, df(4))
    val e = intercept[IllegalArgumentException] {
      VersionedTable.replaceFilesCommit(spark, t, 0L, files0, staged,
        "test")
    }
    assert(e.getMessage.contains("concurrent commit"))
    assert(VersionedTable.latestVersion(t).contains(1L))
    // Against the true latest it publishes: RM + adds, KIND=update.
    val v = VersionedTable.replaceFilesCommit(spark, t, 1L,
      files0, staged, "test")
    assert(v == 2L && VersionedTable.commitKind(t, 2L).contains("update"))
    assert(VersionedTable.read(spark, t).collect().map(_.getLong(0))
      .sorted.toSeq == Seq(4L, 10L, 20L))
    // Stale replaced-file names (not in the base manifest) refuse too.
    intercept[IllegalArgumentException] {
      VersionedTable.replaceFilesCommit(spark, t, 2L,
        Seq("data/nope.parquet"), Nil, "test")
    }
  }

  test("updateWhere refuses partition-layout tables") {
    import spark.implicits._
    val t = freshTable()
    VersionedTable.commitPartitioned(spark, t, 0L,
      Seq.tabulate(10)(i => (i.toLong, s"g${i % 2}")).toDF("id", "g"), "g",
      statsCol = Some("id"))
    val e = intercept[IllegalArgumentException] {
      VersionedTable.updateWhere(spark, t, "id", 0L, 5L, Seq("id" -> "0"))
    }
    assert(e.getMessage.contains("partition-layout"))
    // compactCommit is the documented resolution — and after it the
    // layout is still partitioned, so updateWhere still refuses (the
    // flat path is a plain commit of the current snapshot).
    VersionedTable.compactCommit(spark, t, Some("id"), files = 2)
    intercept[IllegalArgumentException] {
      VersionedTable.updateWhere(spark, t, "id", 0L, 5L, Seq("id" -> "0"))
    }
  }

  test("createMaterializedSql: the analyzed plan gates mergeability") {
    import spark.implicits._
    val base = freshTable()
    VersionedTable.commit(spark, base, 0L,
      Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "g"))
    def create(sql: String): Unit = {
      val mv = Files.createTempDirectory("graft_mv_gate_").resolve("mv")
      VersionedTable.createMaterializedSql(spark, base, mv, Seq("g"), sql)
    }
    // The BIGINT/DOUBLE type proxy alone admits all of these — the
    // plan inspection must refuse each (ADVICE r17: min/max/
    // count(DISTINCT)/HAVING silently break the SUM fold on refresh;
    // bare avg is REWRITTEN into partials since r19, but DISTINCT avg
    // has no fold and still refuses).
    intercept[IllegalArgumentException] { create(
      "SELECT g, avg(DISTINCT id) AS a FROM __BASE__ GROUP BY g") }
    // (max is admitted since r19 — it folds for append-only deltas;
    // stddev has no fold of any kind and still refuses.)
    intercept[IllegalArgumentException] { create(
      "SELECT g, stddev(id) AS sd FROM __BASE__ GROUP BY g") }
    intercept[IllegalArgumentException] { create(
      "SELECT g, count(DISTINCT id) AS d FROM __BASE__ GROUP BY g") }
    intercept[IllegalArgumentException] { create(
      "SELECT g, sum(id) AS s FROM __BASE__ GROUP BY g HAVING sum(id) > 1") }
    intercept[IllegalArgumentException] { create(
      "SELECT g, count(id) FILTER (WHERE id > 1) AS c " +
        "FROM __BASE__ GROUP BY g") }
    // COMPOSITES over aggregates refuse too (self-review r18): every
    // nested function is a legal Sum/Count, but sum(x)/count(*) does
    // not fold by SUM — the output SHAPE is the contract.
    intercept[IllegalArgumentException] { create(
      "SELECT g, sum(id) / count(*) AS a FROM __BASE__ GROUP BY g") }
    // A grouped passthrough column NOT declared in group_cols refuses:
    // the fold would SUM it (self-review r18).
    intercept[IllegalArgumentException] { create(
      "SELECT g, id, sum(id) AS s FROM __BASE__ GROUP BY g, id") }
    intercept[IllegalArgumentException] { create(
      "SELECT g, sum(id) + 1 AS s1 FROM __BASE__ GROUP BY g") }
    // The mergeable surface still passes: sum/count, WHERE below the
    // aggregate, arithmetic over the group key.
    create("SELECT g, sum(id) AS s, count(*) AS n FROM __BASE__ " +
      "WHERE id > 0 GROUP BY g")
  }

  test("refreshMaterialized refuses an expired cursor (double-count guard)") {
    import spark.implicits._
    val base = freshTable()
    val mv = base.resolveSibling("mv_exp")
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"g").agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
    def merge(old: org.apache.spark.sql.DataFrame,
              delta: org.apache.spark.sql.DataFrame) =
      old.unionByName(delta).groupBy($"g")
        .agg(org.apache.spark.sql.functions.sum($"n").as("n"))
    VersionedTable.commit(spark, base, 0L,
      Seq((1L, "a")).toDF("id", "g"))
    VersionedTable.createMaterialized(spark, base, mv, agg) // cursor = 0
    VersionedTable.commit(spark, base, 1L, Seq((2L, "b")).toDF("id", "g"),
      carried = VersionedTable.manifest(base, 0L))
    VersionedTable.commit(spark, base, 2L, Seq((3L, "a")).toDF("id", "g"),
      carried = VersionedTable.manifest(base, 1L))
    // Expire the cursor version: the first surviving manifest now diffs
    // against no ancestor, so a refresh would re-aggregate every
    // already-folded row — it must refuse instead (ADVICE r17).
    VersionedTable.expire(base, 2L)
    assert(!VersionedTable.versions(base).contains(0L))
    val e = intercept[IllegalArgumentException] {
      VersionedTable.refreshMaterialized(spark, base, mv, agg, merge)
    }
    assert(e.getMessage.contains("expired"))
  }

  test("partition transforms: hidden days/bucket layout, raw-predicate pruning") {
    import spark.implicits._
    val t = freshTable()
    val day0 = 19723L // 2024-01-01 as an epoch day
    def us(d: Long, k: Long) = d * 86400000000L + k
    val rows = Seq.tabulate(40)(i =>
      (i.toLong, us(day0 + i % 4, i.toLong), s"e${i % 2}"))
      .toDF("id", "ts_us", "kind")
    VersionedTable.commit(spark, t, 0L, rows.where($"id" < 8).coalesce(1))
    // Declaration-time refusals: unknown transforms, wrong raw types,
    // zero buckets — never stored, always loud.
    intercept[IllegalArgumentException] {
      VersionedTable.evolvePartitionLayout(spark, t,
        Seq("void(ts_us)")) // truncate graduated in r20; void is unknown
    }
    intercept[IllegalArgumentException] {
      VersionedTable.evolvePartitionLayout(spark, t, Seq("days(kind)"))
    }
    intercept[IllegalArgumentException] {
      VersionedTable.evolvePartitionLayout(spark, t, Seq("bucket(0,id)"))
    }
    // One O(1) metadata commit; the next V2 INSERT lands day files.
    VersionedTable.evolvePartitionLayout(spark, t, Seq("days(ts_us)"))
    rows.where($"id" >= 8).write.format("graft-table").mode("append")
      .save(t.toString)
    val newFiles = VersionedTable.addedFiles(t, 2L)
    assert(newFiles.nonEmpty &&
      newFiles.forall(_.contains("ts_us_day=2024-01-")),
      s"expected hidden day segments, got $newFiles")
    // HIDDEN: the served schema never surfaces the derived segment.
    val scan = spark.read.format("graft-table").load(t.toString)
    assert(scan.columns.sorted.toSeq == Seq("id", "kind", "ts_us"))
    // A predicate on the RAW column prunes by the derived segments:
    // matching day files + the conservatively-admitted flat v0 file.
    val (lo, hi) = graft.operators.PartTransform
      .microsRangeOfDay("2024-01-03")
    val pruned = scan.where($"ts_us" >= lo && $"ts_us" <= hi)
    val matching = newFiles.count(_.contains("ts_us_day=2024-01-03"))
    val oldFiles = VersionedTable.addedFiles(t, 0L).size
    assert(pruned.rdd.getNumPartitions == matching + oldFiles &&
      matching + oldFiles < newFiles.size + oldFiles,
      s"day predicate scanned ${pruned.rdd.getNumPartitions}, expected " +
        s"$matching matching + $oldFiles flat")
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 40L).filter(_ % 4 == 2))
    // Evolve again to a bucket spec; compaction un-rags the whole
    // snapshot under it, byte-identical contents.
    VersionedTable.evolvePartitionLayout(spark, t, Seq("bucket(4,id)"))
    VersionedTable.compactCommit(spark, t, files = 2)
    val files4 = VersionedTable.statsManifest(t, 4L).map(_._1)
    assert(files4.forall(f => f.contains("id_bucket=") &&
      !f.contains("ts_us_day=")))
    val probe = spark.read.format("graft-table").load(t.toString)
      .where($"id" === 7L)
    val b = graft.operators.PartTransform.bucketOf("7", 4).toString
    val expect = files4.count(_.contains(s"id_bucket=$b"))
    assert(probe.rdd.getNumPartitions == expect && expect < files4.size,
      s"bucket probe scanned ${probe.rdd.getNumPartitions} of " +
        s"${files4.size}, expected $expect")
    assert(probe.collect().map(_.getLong(0)).toSeq == Seq(7L))
    assert(spark.read.format("graft-table").load(t.toString)
      .count() == 40L)
    // A copy-on-write UPDATE keeps the transform layout: replacement
    // files re-derive their bucket segments from the rewritten rows.
    val (uv, _, _) = VersionedTable.updateWhere(spark, t, "id", 7L, 7L,
      Seq("kind" -> "'upd'"))
    val updFiles = VersionedTable.addedFiles(t, uv)
    assert(updFiles.nonEmpty && updFiles.forall(_.contains("id_bucket=")),
      s"update replacements must land under the live spec: $updFiles")
    val updated = spark.read.format("graft-table").load(t.toString)
    assert(updated.where($"id" === 7L).select("kind").head.getString(0)
      == "upd" && updated.count() == 40L)
    // …and the bucket probe still prunes the post-update snapshot.
    val probe2 = updated.where($"id" === 7L)
    val files5 = VersionedTable.statsManifest(t, uv).map(_._1)
    assert(probe2.rdd.getNumPartitions ==
      files5.count(_.contains(s"id_bucket=$b")))
    // The raw column feeding a live transform cannot be dropped OR
    // renamed — either would brick the writer's schema lookup,
    // compaction's re-derivation, and raw-predicate pruning.
    intercept[IllegalArgumentException] {
      VersionedTable.dropColumnCommit(spark, t,
        VersionedTable.latestVersion(t).get + 1, "id")
    }
    intercept[IllegalArgumentException] {
      VersionedTable.renameCommit(t,
        VersionedTable.latestVersion(t).get + 1, "id", "doc")
    }
    // …and the documented remedy actually works: evolve the layout
    // away, compact, and the rename is legal (retired generations
    // forfeit only their conservative pruning, never correctness).
    VersionedTable.evolvePartitionLayout(spark, t, Nil)
    VersionedTable.compactCommit(spark, t, files = 1)
    VersionedTable.renameCommit(t,
      VersionedTable.latestVersion(t).get + 1, "id", "doc")
    VersionedTable.compactCommit(spark, t, files = 1)
    assert(spark.read.format("graft-table").load(t.toString)
      .columns.contains("doc"))
  }

  test("SQL MV refresh subtracts DV deletes; emptied groups vanish") {
    import spark.implicits._
    val base = freshTable()
    val mv = base.resolveSibling("mv_dv")
    VersionedTable.commit(spark, base, 0L,
      Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"), (5L, "b"))
        .toDF("id", "g"))
    VersionedTable.createMaterializedSql(spark, base, mv, Seq("g"),
      "SELECT g, count(*) AS n, sum(id) AS s FROM __BASE__ GROUP BY g")
    VersionedTable.appendCommit(spark, base, Seq((6L, "b")).toDF("id", "g"))
    // Partial delete in one group, then the WHOLE other group — two
    // sequential DVs (the second's kill set must not re-subtract the
    // first's rows: the connector read applies earlier DVs).
    VersionedTable.deleteCommit(spark, base,
      VersionedTable.latestVersion(base).get + 1, Seq(2L).toDF("id"), "id")
    VersionedTable.deleteCommit(spark, base,
      VersionedTable.latestVersion(base).get + 1,
      Seq(4L, 5L, 6L).toDF("id"), "id")
    val (v, posRead, _) =
      VersionedTable.refreshMaterializedSql(spark, base, mv)
    assert(v == 1L && posRead >= 1) // the append is still O(delta)
    val rows = VersionedTable.read(spark, mv).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // Recompute truth: a = {1,3} (n=2, s=4); b died entirely — the
    // merged count hit 0 and the group must VANISH, not linger at 0.
    assert(rows == Seq(("a", 2L, 4L)), s"got $rows")
    // Caught up: a second refresh publishes nothing.
    assert(VersionedTable.refreshMaterializedSql(spark, base, mv)._1 == 1L)
    // An MV WITHOUT count(*) cannot detect emptied groups — the DV
    // refresh refuses toward re-create, loudly naming the remedy.
    val base2 = freshTable()
    val mv2 = base2.resolveSibling("mv_dv2")
    VersionedTable.commit(spark, base2, 0L,
      Seq((1L, "a"), (2L, "b")).toDF("id", "g"))
    VersionedTable.createMaterializedSql(spark, base2, mv2, Seq("g"),
      "SELECT g, sum(id) AS s FROM __BASE__ GROUP BY g")
    VersionedTable.deleteCommit(spark, base2, 1L, Seq(2L).toDF("id"), "id")
    val e = intercept[IllegalArgumentException] {
      VersionedTable.refreshMaterializedSql(spark, base2, mv2)
    }
    assert(e.getMessage.contains("count(*)"))
  }

  test("MV avg: declaration rewrite to partials, serve-time fold, refresh ≡ recompute") {
    import spark.implicits._
    val base = freshTable()
    val mv = base.resolveSibling("mv_avg")
    VersionedTable.commit(spark, base, 0L,
      Seq((1L, "a", 10L), (2L, "a", 30L), (3L, "b", 7L))
        .toDF("id", "g", "v"))
    VersionedTable.createMaterializedSql(spark, base, mv, Seq("g"),
      "SELECT g, count(*) AS n, avg(v) AS avg_v FROM __BASE__ GROUP BY g")
    // The declaration REWROTE avg into the stored served ratio PLUS
    // maintained partials (r20: the ratio is physical so every SQL
    // surface serves the declared shape; the partials are what the
    // refresh folds and the connector hides).
    assert(VersionedTable.read(spark, mv).columns.toSeq ==
      Seq("g", "n", "avg_v", "avg_v__asum", "avg_v__acnt"))
    assert(VersionedTable.snapshot(mv, 0L).mvAvgFolds ==
      Seq(("avg_v", "avg_v__asum", "avg_v__acnt")))
    def served(): Seq[(String, Long, Option[Double])] =
      VersionedTable.readMaterializedSql(spark, mv).collect()
        .map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))
        .sorted.toSeq
    assert(served() == Seq(("a", 2L, Some(20.0)), ("b", 1L, Some(7.0))))
    // Appends fold through the ordinary SUM merge.
    VersionedTable.appendCommit(spark, base,
      Seq((4L, "a", 50L), (5L, "b", 9L)).toDF("id", "g", "v"))
    VersionedTable.refreshMaterializedSql(spark, base, mv)
    assert(served() == Seq(("a", 3L, Some(30.0)), ("b", 2L, Some(8.0))))
    // DV deletes subtract the partials; the ratio stays exact.
    VersionedTable.deleteCommit(spark, base,
      VersionedTable.latestVersion(base).get + 1, Seq(2L).toDF("id"), "id")
    VersionedTable.refreshMaterializedSql(spark, base, mv)
    assert(served() == Seq(("a", 2L, Some(30.0)), ("b", 2L, Some(8.0))))
    // The serve face equals a recompute of the ORIGINAL statement.
    val recompute = VersionedTable.read(spark, base).groupBy($"g")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.avg($"v").as("avg_v"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.getDouble(2)))).sorted.toSeq
    assert(served() == recompute)
    // Refusals hold: a partial-name collision, and an avg the select
    // list can't locate textually (expression alias mismatch).
    val mv2 = base.resolveSibling("mv_avg2")
    intercept[IllegalArgumentException] {
      VersionedTable.createMaterializedSql(spark, base, mv2, Seq("g"),
        "SELECT g, sum(v) AS avg_v__asum, avg(v) AS avg_v " +
          "FROM __BASE__ GROUP BY g")
    }
  }

  test("TIMESTAMP/DATE payload: round-trip, micros zonemaps, days() on a true timestamp") {
    import spark.implicits._
    val t = freshTable()
    // 24 hourly rows over 2024-01-01..04 as NTZ timestamps + dates.
    val rows = spark.range(24).selectExpr("id",
      "CAST(timestamp_micros(1704067200000000 + id * 14400000000) " +
        "AS TIMESTAMP_NTZ) AS ts",
      "DATE'2024-01-01' + CAST(id % 5 AS INT) AS d")
    VersionedTable.commitWithStats(spark, t, 0L,
      rows.repartitionByRange(4, $"id"), statsCol = "ts")
    // The connector serves the true types and exact micros back.
    val scan = spark.read.format("graft-table").load(t.toString)
    assert(scan.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    assert(scan.schema("d").dataType ==
      org.apache.spark.sql.types.DateType)
    val got = scan.selectExpr(
      "unix_micros(CAST(ts AS TIMESTAMP)) AS us", "CAST(d AS STRING) s")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got.map(_._1) ==
      (0L until 24L).map(1704067200000000L + _ * 14400000000L))
    assert(got.head._2 == "2024-01-01" && got.last._2 == "2024-01-04")
    // Zonemaps store MICROS: a sub-second-precision timestamp
    // predicate prunes file-exactly (a seconds-floor'd max would
    // admit or skip wrongly at the boundary).
    val stats = VersionedTable.statsManifest(t, 0L)
    val probeUs = 1704067200000000L + 18L * 14400000000L
    val probe = scan.where(
      $"ts" >= org.apache.spark.sql.functions
        .expr(s"CAST(timestamp_micros($probeUs) AS TIMESTAMP_NTZ)"))
    val admitted = stats.count(_._3 >= probeUs)
    assert(probe.rdd.getNumPartitions == admitted &&
      admitted < stats.size,
      s"ts zonemap must prune: planned ${probe.rdd.getNumPartitions} " +
        s"of ${stats.size}, admitted $admitted")
    assert(probe.count() == 6)
    // days(ts) declares on the TRUE timestamp column — the BIGINT
    // ts_us contortion retires. Evolve + V2 insert lands hidden day
    // segments derived from the timestamp.
    VersionedTable.evolvePartitionLayout(spark, t, Seq("days(ts)"))
    spark.range(24, 30).selectExpr("id",
      "CAST(timestamp_micros(1704067200000000 + id * 14400000000) " +
        "AS TIMESTAMP_NTZ) AS ts",
      "DATE'2024-01-01' AS d")
      .write.format("graft-table").mode("append").save(t.toString)
    val added = VersionedTable.statsManifest(t, 2L).map(_._1)
      .filterNot(stats.map(_._1).toSet)
    assert(added.nonEmpty && added.forall(_.contains("ts_day=2024-01-0")),
      s"INSERT must land day segments from the timestamp: $added")
    // Raw timestamp-range predicate prunes NEW files by day segment
    // (old-spec files admit conservatively), and the derived segment
    // never reaches the schema.
    assert(!spark.read.format("graft-table").load(t.toString)
      .columns.contains("ts_day"))
    // Compaction re-derives day segments through the SQL route
    // (unix_micros on the timestamp) — whole table under the day spec.
    VersionedTable.compactCommit(spark, t, files = 1)
    val all3 = VersionedTable.statsManifest(t, 3L).map(_._1)
    assert(all3.forall(_.contains("ts_day=")),
      s"compaction must re-derive day segments: $all3")
    val day4 = spark.read.format("graft-table").load(t.toString)
      .where($"ts" >= org.apache.spark.sql.functions.expr(
        "TIMESTAMP_NTZ'2024-01-04 00:00:00'"))
    assert(day4.rdd.getNumPartitions ==
      all3.count(f => f.contains("ts_day=2024-01-04") ||
        f.contains("ts_day=2024-01-05")))
    assert(day4.selectExpr("id").collect().map(_.getLong(0)).sorted
      .toSeq == (18L until 30L))
  }

  test("MV min/max: incremental folds; DV deletes repair only extremum-tied groups") {
    import spark.implicits._
    val base = freshTable()
    val mv = base.resolveSibling("mv_mm")
    VersionedTable.commit(spark, base, 0L,
      Seq((1L, "a", 10L), (2L, "a", 30L), (3L, "b", 7L))
        .toDF("id", "g", "v"))
    VersionedTable.createMaterializedSql(spark, base, mv, Seq("g"),
      "SELECT g, count(*) AS n, min(v) AS mn, max(v) AS mx " +
        "FROM __BASE__ GROUP BY g")
    assert(VersionedTable.snapshot(mv, 0L).mvFoldOps ==
      Map("mn" -> "min", "mx" -> "max"))
    def served(): Seq[(String, Long, Long, Long)] =
      VersionedTable.read(spark, mv).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sorted.toSeq
    assert(served() == Seq(("a", 2L, 10L, 30L), ("b", 1L, 7L, 7L)))
    // Appends move one group's max and another's min; the fold tracks
    // exactly (new_min = min(old, delta) per MVFOLD line).
    VersionedTable.appendCommit(spark, base,
      Seq((4L, "a", 50L), (5L, "b", 2L), (6L, "b", 5L))
        .toDF("id", "g", "v"))
    VersionedTable.refreshMaterializedSql(spark, base, mv)
    assert(served() == Seq(("a", 3L, 10L, 50L), ("b", 3L, 2L, 7L)))
    // DV deletes (r20): min/max are not subtractable, but whether a
    // deletion REMOVED an extremum is decidable per group — the
    // killed rows' extremum TIES the standing one exactly when the
    // extremum row may be dead. A delete that MISSES every extremum
    // folds incrementally (no base recompute); one that HITS an
    // extremum recomputes ONLY the affected group.
    // id=6 (b, v=5): strictly inside b's [2, 7] — extrema untouched.
    VersionedTable.deleteCommit(spark, base,
      VersionedTable.latestVersion(base).get + 1, Seq(6L).toDF("id"), "id")
    VersionedTable.refreshMaterializedSql(spark, base, mv)
    assert(served() == Seq(("a", 3L, 10L, 50L), ("b", 2L, 2L, 7L)))
    // id=4 (a, v=50): a's standing max — the affected-group repair
    // recomputes a from the base; b rides the incremental fold.
    VersionedTable.deleteCommit(spark, base,
      VersionedTable.latestVersion(base).get + 1, Seq(4L).toDF("id"), "id")
    VersionedTable.refreshMaterializedSql(spark, base, mv)
    assert(served() == Seq(("a", 2L, 10L, 30L), ("b", 2L, 2L, 7L)))
    // A whole group dying always ties its own extremum — the repair
    // recomputes it to zero rows and the group vanishes.
    VersionedTable.deleteCommit(spark, base,
      VersionedTable.latestVersion(base).get + 1,
      Seq(3L, 5L).toDF("id"), "id")
    VersionedTable.refreshMaterializedSql(spark, base, mv)
    assert(served() == Seq(("a", 2L, 10L, 30L)))
    // The refreshed MV still equals a from-scratch recompute.
    val exact = VersionedTable.read(spark, base).groupBy($"g")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.min($"v").as("mn"),
        org.apache.spark.sql.functions.max($"v").as("mx"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sorted.toSeq
    assert(served() == exact)
  }

  test("MV min/max repair: NULL group keys and aliased group outputs (r20 review)") {
    import spark.implicits._
    // (1) A NULL group key is an ordinary group — the repair's joins
    // are null-safe, so killing the NULL group's extremum repairs it
    // (a plain equi-join would silently serve the deleted value).
    val base = freshTable()
    val mv = base.resolveSibling("mv_nullg")
    VersionedTable.commit(spark, base, 0L,
      Seq((1L, Option("a"), 10L), (2L, None, 5L), (3L, None, 9L))
        .toDF("id", "g", "v"))
    VersionedTable.createMaterializedSql(spark, base, mv, Seq("g"),
      "SELECT g, count(*) AS n, min(v) AS mn FROM __BASE__ GROUP BY g")
    VersionedTable.deleteCommit(spark, base, 1L, Seq(2L).toDF("id"), "id")
    VersionedTable.refreshMaterializedSql(spark, base, mv)
    val rows = VersionedTable.read(spark, mv).collect()
      .map(r => (if (r.isNullAt(0)) "<null>" else r.getString(0),
        r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(rows == Seq(("<null>", 1L, 9L), ("a", 1L, 10L)), s"got $rows")
    // (2) A group output ALIASED from a different base column — on a
    // base that ALSO has a column by the output's name (the wrong-
    // resolution trap): the repair must recompute via the RESULT-side
    // filter, never the misnamed base column.
    val base2 = freshTable()
    val mv2 = base2.resolveSibling("mv_alias")
    VersionedTable.commit(spark, base2, 0L,
      Seq((1L, "r1", "zzz", 10L), (2L, "r1", "zzz", 30L),
        (3L, "r2", "zzz", 7L)).toDF("id", "region", "g", "v"))
    VersionedTable.createMaterializedSql(spark, base2, mv2, Seq("g"),
      "SELECT region AS g, count(*) AS n, max(v) AS mx " +
        "FROM __BASE__ GROUP BY region")
    // Kill r1's max (id=2, v=30) — the repair recomputes group r1.
    VersionedTable.deleteCommit(spark, base2, 1L, Seq(2L).toDF("id"), "id")
    VersionedTable.refreshMaterializedSql(spark, base2, mv2)
    val rows2 = VersionedTable.read(spark, mv2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(rows2 == Seq(("r1", 1L, 10L), ("r2", 1L, 7L)), s"got $rows2")
  }

  test("ARRAY payload: library and V2 writes round-trip through the connector") {
    import spark.implicits._
    val t = freshTable()
    // Library commit (spark.write.parquet — standard 3-level lists).
    val rows = Seq(
      (1L, Seq(0.5, 1.5, 2.5), Seq(2L, 3L), "a"),
      (2L, Seq(-1.0, 0.0, 9.25), Seq(1L), "b"))
      .toDF("vec_id", "e", "nbrs", "tag")
    VersionedTable.commit(spark, t, 0L, rows.coalesce(1))
    val scan = spark.read.format("graft-table").load(t.toString)
    assert(scan.schema("e").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))
    def slurp(df: org.apache.spark.sql.DataFrame) =
      df.select($"vec_id", $"e", $"nbrs", $"tag").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toList,
          r.getSeq[Long](2).toList, r.getString(3))).sortBy(_._1).toList
    val expected = List(
      (1L, List(0.5, 1.5, 2.5), List(2L, 3L), "a"),
      (2L, List(-1.0, 0.0, 9.25), List(1L), "b"))
    assert(slurp(scan) == expected)
    // V2 append (the Group writer's list emission) reads back equal —
    // through the connector AND through Spark's own parquet reader
    // (the files must stay standard, never a private shape).
    rows.selectExpr("vec_id + 10 AS vec_id", "e", "nbrs", "tag")
      .write.format("graft-table").mode("append").save(t.toString)
    val both = spark.read.format("graft-table").load(t.toString)
    assert(slurp(both) == expected ++ expected.map(r =>
      r.copy(_1 = r._1 + 10)))
    assert(slurp(VersionedTable.read(spark, t)) ==
      expected ++ expected.map(r => r.copy(_1 = r._1 + 10)))
    // SQL over the array column through the catalog face.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.gva", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gva.root", t.getParent.toString)
    assert(s2.sql(s"SELECT sum(aggregate(e, 0D, (acc, x) -> acc + x)) " +
      s"AS s FROM gva.${t.getFileName}").head().getDouble(0) == 2 * 12.75)
  }

  test("hours()/months()/years() transforms: segments, pruning, grain ranges") {
    import spark.implicits._
    val day0 = 19723L // 2024-01-01
    def us(d: Long, h: Long) = d * 86400000000L + h * 3600000000L
    // JVM renderings pin the Iceberg segment formats.
    assert(graft.operators.PartTransform.hourOfMicros(us(day0, 3L) + 7L)
      == "2024-01-01-03")
    assert(graft.operators.PartTransform.monthOfMicros(us(day0 + 40L, 0L))
      == "2024-02")
    assert(graft.operators.PartTransform.microsRangeOfHour("2024-01-01-03")
      == (us(day0, 3L), us(day0, 4L) - 1))
    assert(graft.operators.PartTransform.microsRangeOfMonth("2024-01")
      == (us(day0, 0L), us(day0 + 31L, 0L) - 1))
    // End-to-end at hour grain: hidden segments, raw-range pruning.
    val t = freshTable()
    VersionedTable.commit(spark, t, 0L,
      Seq.empty[(Long, Long)].toDF("id", "ts_us"),
      carried = Seq(VersionedTable.partSpecLine(1L, Seq("hours(ts_us)"))))
    Seq.tabulate(12)(i => (i.toLong, us(day0, (i % 4).toLong)))
      .toDF("id", "ts_us")
      .write.format("graft-table").mode("append").save(t.toString)
    val files = VersionedTable.statsManifest(t, 1L).map(_._1)
    assert(files.exists(_.contains("ts_us_hour=2024-01-01-02")),
      s"expected hour segments, got $files")
    val scan = spark.read.format("graft-table").load(t.toString)
    assert(!scan.columns.contains("ts_us_hour"))
    val (lo, hi) = graft.operators.PartTransform
      .microsRangeOfHour("2024-01-01-02")
    val pruned = scan.where($"ts_us" >= lo && $"ts_us" <= hi)
    val matching = files.count(_.contains("ts_us_hour=2024-01-01-02"))
    val flat = files.count(!_.contains("ts_us_hour="))
    assert(pruned.rdd.getNumPartitions == matching + flat &&
      matching + flat < files.size,
      s"hour predicate scanned ${pruned.rdd.getNumPartitions} of " +
        s"${files.size}, expected $matching + $flat flat")
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 12L).filter(_ % 4 == 2))
    // Month grain through the evolve verb (grammar + type gates share
    // the TimePart path days already proved).
    val t2 = freshTable()
    VersionedTable.commit(spark, t2, 0L,
      Seq((1L, us(day0, 0L)), (2L, us(day0 + 40L, 0L)))
        .toDF("id", "ts_us"))
    VersionedTable.evolvePartitionLayout(spark, t2, Seq("months(ts_us)"))
    VersionedTable.compactCommit(spark, t2, files = 1)
    val mFiles = VersionedTable.statsManifest(t2, 2L).map(_._1)
    assert(mFiles.exists(_.contains("ts_us_month=2024-01")) &&
      mFiles.exists(_.contains("ts_us_month=2024-02")),
      s"expected month segments, got $mFiles")
    // Year grain (r19): rendering + range pin the leap-year end, then
    // the same evolve route lands ts_us_year segments and a raw-range
    // predicate prunes whole years.
    assert(graft.operators.PartTransform.yearOfMicros(us(day0 + 40L, 5L))
      == "2024")
    assert(graft.operators.PartTransform.microsRangeOfYear("2024")
      == (us(day0, 0L), us(day0 + 366L, 0L) - 1)) // 2024 is a leap year
    // Domain guards (review r19): out-of-[1,9999] years refuse at
    // derivation (a truncated '+55000' rendering would parse back as
    // year 550 and silently prune live rows), and a non-YYYY segment
    // refuses at parse so the scan's catch ADMITS instead of lying.
    intercept[IllegalArgumentException] {
      graft.operators.PartTransform.yearOfMicros(Long.MaxValue / 2)
    }
    intercept[IllegalArgumentException] {
      graft.operators.PartTransform.microsRangeOfYear("+550")
    }
    val t3 = freshTable()
    VersionedTable.commit(spark, t3, 0L,
      Seq((1L, us(day0, 0L)), (2L, us(day0 + 400L, 0L)))
        .toDF("id", "ts_us"))
    VersionedTable.evolvePartitionLayout(spark, t3, Seq("years(ts_us)"))
    VersionedTable.compactCommit(spark, t3, files = 1)
    val yFiles = VersionedTable.statsManifest(t3, 2L).map(_._1)
    assert(yFiles.exists(_.contains("ts_us_year=2024")) &&
      yFiles.exists(_.contains("ts_us_year=2025")),
      s"expected year segments, got $yFiles")
    val yScan = spark.read.format("graft-table").load(t3.toString)
    val yPruned = yScan.where($"ts_us" >= us(day0 + 370L, 0L))
    assert(yPruned.rdd.getNumPartitions == 1 &&
      yPruned.collect().map(_.getLong(0)).toSeq == Seq(2L))
  }
}
