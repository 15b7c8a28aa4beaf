package graft.sources

import graft.SparkSpec
import graft.operators.VersionedTable
import java.nio.file.Files

/** V2 write-path guarantees of the graft-table connector (the
  * query-surface witnesses are pipe_v2_write / ev_stream_sink): batch
  * append as an O(batch) delta commit, writer-side empty-file
  * suppression, the streaming sink's version-per-epoch mapping, and
  * its replayed-epoch idempotence.
  */
class GraftTableWriteSpec extends SparkSpec {

  private def fresh(): java.nio.file.Path =
    Files.createTempDirectory("graft_w_spec_").resolve("t")

  test("batch append publishes an O(batch) delta at latest+1") {
    import spark.implicits._
    val t = fresh()
    VersionedTable.commit(spark, t, 0L, Seq(1L, 2L).toDF("id"))
    Seq(3L, 4L).toDF("id").repartition(2).write
      .format("graft-table").mode("append").save(t.toString)
    assert(VersionedTable.latestVersion(t).contains(1L))
    assert(VersionedTable.read(spark, t).collect().map(_.getLong(0))
      .sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    // Delta metadata: the appended lines track the batch, not the table.
    assert(VersionedTable.addedLines(t, 1L).size <= 2)
    // A second append through the same path stacks.
    Seq(5L).toDF("id").write.format("graft-table").mode("append")
      .save(t.toString)
    assert(spark.read.format("graft-table").load(t.toString).count() == 5)
    // Appending to a never-committed table is refused with guidance.
    val t2 = fresh()
    val e = intercept[Exception] {
      Seq(1L).toDF("id").write.format("graft-table").mode("append")
        .save(t2.toString)
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("bootstrap") || msgs.contains("no committed"))
  }

  test("V2 appends honor CHECK constraints: a violating INSERT refuses") {
    import spark.implicits._
    val t = fresh()
    VersionedTable.commit(spark, t, 0L,
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    VersionedTable.constraintCommit(spark, t, 1L, "v >= 0")
    // Clean V2 append passes the gate.
    Seq((3L, 30L)).toDF("id", "v").write.format("graft-table")
      .mode("append").save(t.toString)
    assert(VersionedTable.latestVersion(t).contains(2L))
    // A violating batch fails BEFORE the commit point; the abort path
    // discards the staged orphans and the history is untouched.
    intercept[Exception] {
      Seq((4L, -1L)).toDF("id", "v").write.format("graft-table")
        .mode("append").save(t.toString)
    }
    assert(VersionedTable.versions(t) == Seq(0L, 1L, 2L),
      "the refused INSERT must publish nothing")
    assert(VersionedTable.read(spark, t).count() == 3)
  }

  test("orphan files in the staging dir are never committed") {
    import spark.implicits._
    // A zombie/speculative task attempt can leave a parquet file in
    // the staging dir whose abort() never ran. The manifest must
    // derive from the commit MESSAGES, not a directory listing —
    // otherwise the orphan's rows get committed (duplicates) and
    // bypass CHECK validation. The V2 commit takes the message-derived
    // file list and restricts the published lines to it.
    import scala.jdk.CollectionConverters._
    def plant(table: java.nio.file.Path, dir: java.nio.file.Path,
        name: String, ids: Seq[Long]): String = {
      val tmp = Files.createTempDirectory("graft_w_plant_")
      ids.toDF("id").coalesce(1).write.parquet(tmp.resolve("p").toString)
      val part = Files.list(tmp.resolve("p")).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.createDirectories(dir)
      Files.move(part, dir.resolve(name))
      table.relativize(dir.resolve(name)).toString
    }
    val t = fresh()
    VersionedTable.commitWithStats(spark, t, 0L,
      Seq(1L, 2L).toDF("id").coalesce(1), "id", rowCounts = true)
    val staging = t.resolve("data").resolve("v2w-orphantest")
    // Two real files sit in the staging dir; only one is in messages.
    val good = plant(t, staging, "part-good.parquet", Seq(3L))
    plant(t, staging, "part-zombie.parquet", Seq(99L))
    def commitStaged(table: java.nio.file.Path, dir: java.nio.file.Path,
        file: String, overwrite: Boolean): Long =
      VersionedTable.commitStaged(spark, table, "test",
        VersionedTable.latestSnapshot(table), dir, Seq(file), overwrite)
    val ingest = VersionedTable.addedLines(t,
      commitStaged(t, staging, good, overwrite = false))
    // Stats-bearing data lines + ROWS lines for the good file ONLY.
    assert(ingest.nonEmpty)
    assert(ingest.forall(_.contains("part-good.parquet")),
      s"orphan leaked into manifest lines: $ingest")
    val over = VersionedTable.manifest(t,
      commitStaged(t, staging, good, overwrite = true))
    assert(over.filterNot(_.startsWith("STATSCOL"))
      .forall(_.contains("part-good.parquet")),
      s"orphan leaked into overwrite lines: $over")
    // Plain (unindexed) base: same restriction via partFiles.
    val t2 = fresh()
    VersionedTable.commit(spark, t2, 0L, Seq(1L).toDF("id"))
    val st2 = t2.resolve("data").resolve("v2w-orphantest")
    val good2 = plant(t2, st2, "part-good.parquet", Seq(2L))
    plant(t2, st2, "part-zombie.parquet", Seq(98L))
    assert(VersionedTable.addedLines(t2,
      commitStaged(t2, st2, good2, overwrite = false)) == Seq(good2))
  }

  test("mode(overwrite) publishes a rewrite commit; history stays readable") {
    import spark.implicits._
    val t = fresh()
    VersionedTable.commit(spark, t, 0L, Seq(1L, 2L, 3L).toDF("id"))
    Seq(10L, 11L).toDF("id").write.format("graft-table")
      .mode("overwrite").save(t.toString)
    assert(VersionedTable.read(spark, t).collect().map(_.getLong(0))
      .sorted.toSeq == Seq(10L, 11L))
    // Time travel below the overwrite still serves the old snapshot.
    assert(VersionedTable.read(spark, t, Some(0L)).count() == 3)
    // A rewrite commit is a full manifest: no BASE chain to walk.
    assert(VersionedTable.chainLength(t, 1L) == 1)
  }

  test("mode(overwrite) carries CHECK constraints and refuses violations") {
    import spark.implicits._
    val t = fresh()
    VersionedTable.commit(spark, t, 0L,
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    VersionedTable.constraintCommit(spark, t, 1L, "v >= 0")
    // A violating INSERT OVERWRITE must fail BEFORE the commit point —
    // the rewrite is not the path that smuggles a violation in.
    intercept[Exception] {
      Seq((3L, -7L)).toDF("id", "v").write.format("graft-table")
        .mode("overwrite").save(t.toString)
    }
    assert(VersionedTable.versions(t) == Seq(0L, 1L),
      "the refused overwrite must publish nothing")
    // A clean overwrite publishes AND carries the contract forward …
    Seq((5L, 50L)).toDF("id", "v").write.format("graft-table")
      .mode("overwrite").save(t.toString)
    assert(VersionedTable.checkConstraints(t, 2L) == Seq("v >= 0"),
      "INSERT OVERWRITE dropped the declared CHECK — metadata amnesia")
    // … so the gate still bites on the next append.
    intercept[Exception] {
      Seq((6L, -1L)).toDF("id", "v").write.format("graft-table")
        .mode("append").save(t.toString)
    }
    assert(VersionedTable.read(spark, t).count() == 1)
  }

  test("V2 writes refuse branched tables (interleaved lines of history)") {
    import spark.implicits._
    val t = fresh()
    VersionedTable.commit(spark, t, 0L, Seq(1L).toDF("id"))
    VersionedTable.branchCreate(t, "dev", 0L)
    for (mode <- Seq("append", "overwrite")) {
      val e = intercept[Exception] {
        Seq(2L).toDF("id").write.format("graft-table").mode(mode)
          .save(t.toString)
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
      assert(msgs.contains("branch refs"), s"mode=$mode must refuse")
    }
  }

  test("empty tasks stage no files; manifests carry no zero-row files") {
    import spark.implicits._
    val t = fresh()
    VersionedTable.commit(spark, t, 0L, Seq(1L).toDF("id"))
    // 8 partitions, 2 rows: six writers see nothing.
    Seq(2L, 3L).toDF("id").repartition(8).write
      .format("graft-table").mode("append").save(t.toString)
    assert(VersionedTable.addedLines(t, 1L).size <= 2)
    assert(VersionedTable.read(spark, t).count() == 3)
  }

  test("streaming sink: one version per epoch, exactly-once on replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t = fresh()
    // Bootstrap v0 pins the sink table's schema.
    VersionedTable.commit(spark, t, 0L, Seq.empty[Long].toDF("id"))
    val cp1 = Files.createTempDirectory("graft_w_cp1_").toString

    val ms = MemoryStream[Long]
    ms.addData(1L, 2L, 3L)
    val q = ms.toDF().select($"value".as("id")).writeStream
      .format("graft-table").option("checkpointLocation", cp1)
      .start(t.toString)
    q.processAllAvailable()
    ms.addData(4L, 5L)
    q.processAllAvailable()
    q.stop()
    assert(VersionedTable.read(spark, t).collect().map(_.getLong(0))
      .sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // Epochs 0 and 1 landed as versions 1 and 2.
    assert(VersionedTable.versions(t) == Seq(0L, 1L, 2L))

    // A fresh checkpoint restarts epoch numbering at 0: its commit
    // recomputes version 1, finds it committed by this sink, and must
    // SKIP — the replayed-micro-batch path, no duplicate rows.
    val cp2 = Files.createTempDirectory("graft_w_cp2_").toString
    val ms2 = MemoryStream[Long]
    ms2.addData(1L, 2L, 3L)
    val q2 = ms2.toDF().select($"value".as("id")).writeStream
      .format("graft-table").option("checkpointLocation", cp2)
      .start(t.toString)
    q2.processAllAvailable()
    q2.stop()
    assert(VersionedTable.read(spark, t).count() == 5,
      "a replayed epoch must not double rows")
  }

  test("streaming sink into a PARTITIONED table lands c=v files that prune") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t = fresh()
    // DDL-shaped bootstrap: declared layout on a zero-row v0 (payload
    // carries the partition column; the PARTCOL line declares it).
    VersionedTable.commit(spark, t, 0L,
      Seq.empty[(Long, String)].toDF("id", "day"),
      carried = Seq(VersionedTable.partColLine("day")))
    val cp = Files.createTempDirectory("graft_w_cpp_").toString
    val ms = MemoryStream[Long]
    ms.addData(1L, 2L, 3L, 4L)
    val q = ms.toDF()
      .selectExpr("value AS id",
        "CASE WHEN value % 2 = 0 THEN 'd2' ELSE 'd1' END AS day")
      .writeStream
      .format("graft-table").option("checkpointLocation", cp)
      .start(t.toString)
    q.processAllAvailable()
    q.stop()
    // Every epoch file landed under its partition segment.
    val added = VersionedTable.addedLines(t, 1L).filterNot(_.contains('\t'))
    assert(added.nonEmpty && added.forall(_.contains("day=")),
      s"streamed files must land under day= segments, got $added")
    // …and manifest partition pruning works on the streamed files
    // (V2 scan: one input partition per surviving file; the flat
    // zero-row bootstrap is never value-prunable — a constant +1).
    val pruned = spark.read.format("graft-table").load(t.toString)
      .where("day = 'd1'")
    val d1Files = added.count(_.contains("day=d1"))
    assert(pruned.rdd.getNumPartitions == d1Files + 1 &&
      d1Files + 1 < added.size + 1,
      s"expected the $d1Files day=d1 files (+bootstrap) of ${added.size + 1}")
    assert(pruned.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 3L))
  }

  test("a foreign commit at a sink version fails the stream loudly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t = fresh()
    VersionedTable.commit(spark, t, 0L, Seq.empty[Long].toDF("id"))
    // Version 1 committed OUTSIDE the sink, with stats lines (tabbed).
    VersionedTable.commitWithStats(spark, t, 1L, Seq(9L).toDF("id"), "id",
      carried = VersionedTable.manifest(t, 0L))
    val cp = Files.createTempDirectory("graft_w_cp3_").toString
    val ms = MemoryStream[Long]
    ms.addData(1L)
    val q = ms.toDF().select($"value".as("id")).writeStream
      .format("graft-table").option("checkpointLocation", cp)
      .start(t.toString)
    val e = intercept[Exception] { q.processAllAvailable() }
    q.stop()
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("outside this streaming sink"))
  }

  test("streaming sink into a TRANSFORM layout derives hidden day segments") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t = fresh()
    // The transform layout rides the BOOTSTRAP (the DDL PARTITIONED BY
    // (days(ts_us)) shape): a streaming sink owns every version past
    // v0, so a post-bootstrap evolve commit would collide with epoch
    // numbering — declared up front, epoch 0 lands as v1 as always.
    VersionedTable.commit(spark, t, 0L,
      Seq.empty[(Long, Long)].toDF("id", "ts_us"),
      carried = Seq(VersionedTable.partSpecLine(1L, Seq("days(ts_us)"))))
    val day0 = 19723L // 2024-01-01
    val us = (d: Long) => d * 86400000000L
    val cp = Files.createTempDirectory("graft_w_cpt_").toString
    val ms = MemoryStream[Long]
    ms.addData(1L, 2L, 3L, 4L)
    val q = ms.toDF()
      .selectExpr("value AS id",
        s"CAST(${us(day0)}L + (value % 2) * 86400000000 AS BIGINT) " +
          "AS ts_us")
      .writeStream
      .format("graft-table").option("checkpointLocation", cp)
      .start(t.toString)
    q.processAllAvailable()
    q.stop()
    // Epoch files derive their HIDDEN day segment from the raw column.
    val added = VersionedTable.addedLines(t, 1L).filterNot(_.contains('\t'))
    assert(added.nonEmpty &&
      added.forall(_.contains("ts_us_day=2024-01-0")),
      s"streamed files must land under derived day segments: $added")
    val scan = spark.read.format("graft-table").load(t.toString)
    assert(scan.columns.sorted.toSeq == Seq("id", "ts_us"))
    // A raw-column predicate prunes the streamed files by day.
    val (lo, hi) = graft.operators.PartTransform
      .microsRangeOfDay("2024-01-02")
    val pruned = scan.where($"ts_us" >= lo && $"ts_us" <= hi)
    val d2 = added.count(_.contains("ts_us_day=2024-01-02"))
    assert(pruned.rdd.getNumPartitions == d2 + 1, // + flat bootstrap
      s"expected $d2 day files + bootstrap, got " +
        pruned.rdd.getNumPartitions)
    assert(pruned.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 3L))
  }
}
