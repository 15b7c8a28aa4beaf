package graft.sources

import graft.SparkSpec
import graft.operators.VersionedTable
import java.nio.file.Files

/** Connector-level guarantees of the graft-table DataSource V2 batch
  * read (the query-surface witness is pipe_table_scan): short-name
  * registration, snapshot/time-travel resolution, filter-pushdown →
  * manifest pruning, scan-level deletion vectors with origin scoping,
  * column pruning, and the schema-evolution refusal.
  */
class GraftTableSpec extends SparkSpec {

  private def fresh(): java.nio.file.Path =
    Files.createTempDirectory("graft_table_spec_").resolve("t")

  private def read(t: java.nio.file.Path, opts: (String, String)*) = {
    val r = spark.read.format("graft-table")
    opts.foreach { case (k, v) => r.option(k, v) }
    r.load(t.toString)
  }

  test("latest snapshot round-trips; option(version) time-travels") {
    import spark.implicits._
    val t = fresh()
    VersionedTable.commit(spark, t, 0L, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    VersionedTable.commit(spark, t, 1L, Seq((3L, "c")).toDF("id", "s"),
      carried = VersionedTable.manifest(t, 0L))
    assert(read(t).collect().map(r => (r.getLong(0), r.getString(1)))
      .sorted.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(read(t, "version" -> "0").count() == 2)
    intercept[Exception] { read(t, "version" -> "7").count() }
  }

  test("pushed range predicate prunes files at manifest level") {
    import spark.implicits._
    val t = fresh()
    VersionedTable.commitWithStats(spark, t, 0L,
      spark.range(0, 800).toDF("id").repartitionByRange(8, $"id"), "id")
    val all = read(t, "statsCol" -> "id")
    assert(all.rdd.getNumPartitions == 8)
    val pruned = all.where($"id" >= 100 && $"id" < 200)
    assert(pruned.rdd.getNumPartitions < 8,
      "a range predicate on the stats column must prune input partitions")
    // Stats prune files, never rows: the result is exactly the filter.
    assert(pruned.count() == 100)
    // A predicate on a non-stats column prunes nothing but stays correct.
    assert(read(t).where($"id" < 10).count() == 10)
  }

  test("deletion vectors apply inside the scan with origin scoping") {
    import spark.implicits._
    val t = fresh()
    VersionedTable.commit(spark, t, 0L, Seq(1L, 2L, 3L).toDF("id"))
    VersionedTable.deleteCommit(spark, t, 1L, Seq(2L).toDF("id"), "id")
    assert(read(t).collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // Re-insert postdates the DV's origin: the key must resurrect.
    VersionedTable.commit(spark, t, 2L, Seq(2L).toDF("id"),
      carried = VersionedTable.manifest(t, 1L))
    assert(read(t).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // Time travel composes with DVs.
    assert(read(t, "version" -> "1").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 3L))
    assert(read(t, "version" -> "0").count() == 3)
  }

  /** The ids both read paths serve at the latest version, sorted. */
  private def bothPaths[A: Ordering](t: java.nio.file.Path,
      get: org.apache.spark.sql.Row => A): (Seq[A], Seq[A]) =
    (VersionedTable.read(spark, t).collect().toSeq.map(get).sorted,
      read(t).collect().toSeq.map(get).sorted)

  test("both read paths compare DV keys in the data column's type") {
    import spark.implicits._
    // INT data, BIGINT deletion vector: 2 matches; 2^32 + 1 is out of
    // INT range and must match nothing (not truncate to 1).
    val t = fresh()
    VersionedTable.commit(spark, t, 0L, Seq(1, 2, 3).toDF("id"))
    VersionedTable.deleteCommit(spark, t, 1L,
      Seq(2L, (1L << 32) + 1L).toDF("id"), "id")
    assert(bothPaths(t, _.getInt(0)) == ((Seq(1, 3), Seq(1, 3))))
    // BIGINT data, INT deletion vector.
    val u = fresh()
    VersionedTable.commit(spark, u, 0L, Seq(1L, 2L, 3L).toDF("id"))
    VersionedTable.deleteCommit(spark, u, 1L, Seq(3).toDF("id"), "id")
    assert(bothPaths(u, _.getLong(0)) == ((Seq(1L, 2L), Seq(1L, 2L))))
  }

  test("both read paths keep NULL-key rows and apply STRING-keyed DVs") {
    import spark.implicits._
    val t = fresh()
    VersionedTable.commit(spark, t, 0L,
      Seq(("a", 1L), ("b", 2L), (null, 3L), ("c", 4L)).toDF("k", "v"))
    // A NULL key in the DV deletes nothing; a NULL key in the data is
    // never deleted (what a left_anti join on the key keeps).
    VersionedTable.deleteCommit(spark, t, 1L,
      Seq(Some("b"), None, Some("zz")).toDF("k"), "k")
    val expected = Seq(1L, 3L, 4L)
    assert(bothPaths(t, _.getLong(1)) == ((expected, expected)))
  }

  test("a scan with live DVs launches no more jobs than after compaction") {
    import spark.implicits._
    val t = fresh()
    VersionedTable.commit(spark, t, 0L,
      spark.range(0, 40).toDF("id").repartition(4))
    VersionedTable.deleteCommit(spark, t, 1L, Seq(3L, 17L).toDF("id"), "id")
    VersionedTable.deleteCommit(spark, t, 2L, Seq(5L, 39L).toDF("id"), "id")
    val expected = (0L until 40L).filterNot(Set(3L, 17L, 5L, 39L))
    var rows = Seq.empty[Long]
    val atDvs = jobsLaunchedBy {
      rows = read(t).collect().map(_.getLong(0)).toSeq.sorted
    }
    assert(rows == expected)
    VersionedTable.compactCommit(spark, t)
    val compacted = jobsLaunchedBy {
      rows = read(t).collect().map(_.getLong(0)).toSeq.sorted
    }
    assert(rows == expected)
    assert(atDvs <= compacted,
      s"scan with 2 live DVs launched $atDvs jobs, after compaction $compacted")
  }

  test("V2 writers write the same bytes under the session's Hadoop conf") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType)))
    def written(conf: org.apache.spark.broadcast.Broadcast[
                  org.apache.spark.util.SerializableConfiguration],
                partCols: Seq[String]): Seq[Array[Byte]] = {
      val root = Files.createTempDirectory("graft_table_conf_")
      val w = new GraftWriterFactory(root.toString, "stage", schema, conf,
        partCols = partCols).createWriter(0, 0L)
      (1 to 4).foreach(i => w.write(
        InternalRow(i.toLong, UTF8String.fromString(s"r${i % 2}"))))
      val GraftCommitMessage(rels) = w.commit()
      rels.map(r => Files.readAllBytes(root.resolve(r)))
    }
    val default = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        new org.apache.hadoop.conf.Configuration()))
    for (parts <- Seq(Nil, Seq("s"))) {
      val a = written(GraftSession.hadoopConf(spark), parts)
      val b = written(default, parts)
      assert(a.nonEmpty && a.map(_.toSeq) == b.map(_.toSeq),
        s"partCols=$parts: files differ")
    }
  }

  test("merge commits serve their latest generation through the connector") {
    import spark.implicits._
    val t = fresh()
    VersionedTable.commit(spark, t, 0L,
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    VersionedTable.mergeCommit(spark, t,
      Seq((2L, 21L), (9L, 90L)).toDF("id", "v"), "id")
    assert(read(t).collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq == Seq((1L, 10L), (2L, 21L), (9L, 90L)))
  }

  test("equality predicates prune via manifest blooms on any layout") {
    import spark.implicits._
    val t = fresh()
    VersionedTable.commitIndexed(spark, t, 0L,
      spark.range(0, 400).toDF("id")
        .repartitionByRange(4, $"id" % 4), "id", "id")
    val probed = read(t, "statsCol" -> "id").where($"id" === 37L)
    assert(probed.rdd.getNumPartitions < 4,
      "an equality probe must prune bloom-indexed files — zonemaps " +
        "cannot on a residue-class layout")
    assert(probed.collect().map(_.getLong(0)).toSeq == Seq(37L))
    // The bloom needs no statsCol option: the manifest is self-describing.
    assert(read(t).where($"id" === 37L).rdd.getNumPartitions < 4)
  }

  test("partitioned commits: path pruning and the re-attached column") {
    import spark.implicits._
    val t = fresh()
    VersionedTable.commitPartitioned(spark, t, 0L,
      Seq((1L, "en"), (2L, "fr"), (3L, "de"), (4L, "en"))
        .toDF("id", "lang"), "lang")
    val df = read(t)
    // The partition column is re-attached from the manifest path.
    assert(df.columns.toSeq == Seq("id", "lang"))
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).sorted
      .toSeq == Seq((1L, "en"), (2L, "fr"), (3L, "de"), (4L, "en")).sorted)
    // An equality predicate prunes whole partitions by path segment.
    val en = df.where($"lang" === "en")
    assert(en.rdd.getNumPartitions <
      VersionedTable.statsManifest(t, 0L).size)
    assert(en.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 4L))
    // isin prunes too, keeping both named partitions.
    assert(df.where($"lang".isin("fr", "de")).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
  }

  test("runtime partition-value predicates prune files (join-driven DPP)") {
    import spark.implicits._
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    val t = fresh()
    VersionedTable.commitPartitioned(spark, t, 0L,
      Seq((1L, "en"), (2L, "fr"), (3L, "de"), (4L, "en"))
        .toDF("id", "lang"), "lang")
    val snap = VersionedTable.snapshot(t, 0L)
    val table = new GraftTable(snap, GraftTableSource.dataSchema(snap), None)
    // The scan advertises the partition column as runtime-filterable
    // (resolvable in its output) — never _file, which a plain read
    // does not serve (the pre-r16 unconditional advertisement broke
    // Spark's PartitionPruning on any join over a partitioned table).
    val scan = table.newScanBuilder(
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      .build().asInstanceOf[GraftScan]
    val attrs = scan.filterAttributes().map(_.fieldNames()(0)).toSeq
    assert(attrs == Seq("lang"), s"expected [lang], got $attrs")
    // A runtime IN on the partition column (what DPP hands over after
    // the build side materializes) narrows the planned files to the
    // admitted values' segments.
    val total = scan.planInputPartitions().length
    scan.filter(Array(new Predicate("IN",
      Array(Expressions.column("lang"),
        Expressions.literal("en")))))
    val pruned = scan.planInputPartitions().length
    assert(pruned < total,
      s"runtime value filter pruned nothing ($pruned of $total)")
    assert(pruned == VersionedTable.statsManifest(t, 0L).map(_._1)
      .count(_.contains("lang=en")))
  }

  test("column pruning serves a projection and a count(*)") {
    import spark.implicits._
    val t = fresh()
    VersionedTable.commit(spark, t, 0L,
      Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "x"))
    assert(read(t).select("s").collect().map(_.getString(0)).sorted
      .toSeq == Seq("a", "b"))
    assert(read(t).count() == 2)
    // DVs force the key column through the reader even when unprojected.
    VersionedTable.deleteCommit(spark, t, 1L, Seq(1L).toDF("id"), "id")
    assert(read(t).select("s").collect().map(_.getString(0)).toSeq ==
      Seq("b"))
  }

  test("the scan reports manifest statistics to Catalyst, post-pruning") {
    import spark.implicits._
    val t = fresh()
    VersionedTable.commitWithStats(spark, t, 0L,
      spark.range(0, 800).toDF("id").repartitionByRange(8, $"id"), "id",
      rowCounts = true)
    def scanStats(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r.stats
      }.head
    val expectedBytes = VersionedTable.statsManifest(t, 0L)
      .map { case (f, _, _) => Files.size(t.resolve(f)) }.sum
    val full = scanStats(read(t))
    assert(full.sizeInBytes == BigInt(expectedBytes))
    assert(full.rowCount.contains(BigInt(800)))
    // Post-pruning: a pushed range predicate shrinks BOTH estimates to
    // the surviving-file subset.
    val pruned = scanStats(read(t).where("id < 100"))
    assert(pruned.sizeInBytes < full.sizeInBytes)
    assert(pruned.rowCount.exists(_ < BigInt(800)))
    // Withheld stats fall back to the planner's unknown default.
    assert(scanStats(read(t, "reportStats" -> "false")).sizeInBytes ==
      BigInt(spark.sessionState.conf.defaultSizeInBytes))
  }

  test("ANALYZE-published NDV/null counts reach Catalyst column stats") {
    import spark.implicits._
    val t = fresh()
    VersionedTable.commit(spark, t, 0L,
      Seq.tabulate(200)(i => (i.toLong, s"g${i % 7}",
        if (i % 5 == 0) null else s"v$i")).toDF("id", "g", "s"))
    val v = VersionedTable.analyzeCommit(spark, t, Seq("g", "s"))
    val ndv = VersionedTable.snapshot(t, v).ndvStats
    assert(ndv("g")._1 == 7L && ndv("g")._2 == 0L)
    assert(ndv("s")._2 == 40L, "null count must be exact")
    assert(math.abs(ndv("s")._1 - 160L) <= 16L,
      s"HLL distinct estimate ${ndv("s")._1} outside the envelope")
    // …and the scan serves them as Catalyst attribute statistics
    // (CBO join-output sizing input).
    val prior = spark.conf.get("spark.sql.cbo.enabled", "false")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val stats = read(t).queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r.stats
      }.head
      val byName = stats.attributeStats.toSeq
        .map { case (a, st) => a.name -> st }.toMap
      assert(byName.contains("g") && byName.contains("s"),
        s"analyzed columns missing from attributeStats: $byName")
      assert(byName("g").distinctCount.contains(BigInt(7)))
      assert(byName("s").nullCount.contains(BigInt(40)))
      assert(!byName.contains("id"),
        "unanalyzed columns must not fabricate statistics")
    } finally spark.conf.set("spark.sql.cbo.enabled", prior)
    // Unknown columns refuse at declaration time.
    intercept[IllegalArgumentException] {
      VersionedTable.analyzeCommit(spark, t, Seq("nope"))
    }
  }

  test("a footer missing a non-ADDCOL column fails loudly, never all-NULL") {
    import spark.implicits._
    val t = fresh()
    VersionedTable.commit(spark, t, 0L,
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    // Corrupt the manifest with a FOREIGN data file whose footer lacks
    // `v` (manifest tampering / a mis-listed file). The batch reader
    // must fail on the missing field — an all-NULL column would mask
    // real corruption (ADVICE r16; the ADDCOL typed-NULL contract is
    // gated on addcol-introduced names only).
    val foreign = t.resolve("data").resolve("foreign")
    Seq(99L).toDF("id").coalesce(1).write.parquet(foreign.toString)
    val rel = {
      val walk = Files.walk(foreign)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(p =>
          Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
          .map(p => t.relativize(p).toString).toSeq.head
      } finally walk.close()
    }
    VersionedTable.publish(t, 1L, Seq("BASE\t0", rel))
    val e = intercept[Exception] {
      spark.read.format("graft-table").load(t.toString).collect()
    }
    def messages(x: Throwable): Seq[String] =
      if (x == null) Nil
      else Option(x.getMessage).toSeq ++ messages(x.getCause)
    assert(messages(e).exists(m => m.contains("v") || m.contains("Field")),
      s"wrong failure: ${messages(e).mkString(" | ")}")
  }

  test("schema-evolved versions are refused with the working alternative") {
    import spark.implicits._
    val t = fresh()
    VersionedTable.commit(spark, t, 0L, Seq((1L, 5)).toDF("id", "len"))
    VersionedTable.renameCommit(t, 1L, "len", "n")
    val e = intercept[Exception] { read(t).collect() }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t0 => Option(t0.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("VersionedTable.read"))
    // The pre-evolution version still serves.
    assert(read(t, "version" -> "0").count() == 1)
  }

  private def aggPushed(df: org.apache.spark.sql.DataFrame): Boolean = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val physical = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    physical.collect { case b: BatchScanExec => b.scan.description() }
      .exists(_.contains("aggPushed="))
  }

  test("count/min/max are answered from manifest metadata alone") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val t = fresh()
    VersionedTable.commitWithStats(spark, t, 0L,
      spark.range(0, 500).toDF("id").repartitionByRange(5, $"id"), "id",
      rowCounts = true)
    val global = read(t).agg(count(lit(1)).as("n"),
      min($"id").as("mn"), max($"id").as("mx"))
    assert(aggPushed(global), "clean count/min/max must push to metadata")
    assert(global.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((500L, 0L, 499L)))
  }

  test("partition-grouped counts push; DVs and filters refuse pushdown") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, lit}
    val t = fresh()
    val df = spark.range(0, 300).selectExpr("id",
      "CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' " +
        "ELSE 'c' END AS g")
    VersionedTable.commitPartitioned(spark, t, 0L, df, "g",
      statsCol = Some("id"), rowCounts = true)
    val grouped = read(t).groupBy($"g").agg(count(lit(1)).as("n"))
    assert(aggPushed(grouped), "partition-grouped count must push")
    assert(grouped.collect().map(r => (r.getString(0), r.getLong(1)))
      .sorted.toSeq == Seq(("a", 100L), ("b", 100L), ("c", 100L)))
    // A row predicate can never be answered by file metadata: refuse
    // and serve the ordinary path correctly.
    val filtered = read(t).where($"id" >= 100L).agg(count(lit(1)).as("n"))
    assert(!aggPushed(filtered), "a filtered aggregate must not push")
    assert(filtered.head().getLong(0) == 200L)
    // A live deletion vector makes file counts overstate: refuse.
    VersionedTable.deleteCommit(spark, t, 1L, Seq(5L).toDF("id"), "id")
    val dv = read(t).agg(count(lit(1)).as("n"))
    assert(!aggPushed(dv), "a DV-bearing version must not push counts")
    assert(dv.head().getLong(0) == 299L)
    // A counted commit without stats still answers grouped counts
    // (CountStar needs ROWS coverage, not zonemaps) — but min/max on
    // an un-stats column must refuse.
    val t2 = fresh()
    VersionedTable.commitPartitioned(spark, t2, 0L, df, "g",
      rowCounts = true)
    val g2 = read(t2).groupBy($"g").agg(count(lit(1)).as("n"))
    assert(aggPushed(g2), "ROWS coverage alone must serve pure counts")
    assert(g2.collect().map(_.getLong(1)).sum == 300L)
  }

  test("zonemap-folded global min/max reach Catalyst column stats") {
    import spark.implicits._
    val t = fresh()
    VersionedTable.commitWithStats(spark, t, 0L,
      spark.range(100, 900).toDF("id").repartitionByRange(8, $"id"), "id")
    val prior = spark.conf.get("spark.sql.cbo.enabled", "false")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      def byName(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r.stats
        }.head.attributeStats.toSeq
          .map { case (a, st) => a.name -> st }.toMap
      // No ANALYZE ran: the range comes from the manifest zonemaps
      // alone, folded across surviving files at zero extra cost.
      val st = byName(read(t, "statsCol" -> "id"))
      assert(st.contains("id"), s"zonemap range missing: $st")
      assert(st("id").min.contains(100L) && st("id").max.contains(899L),
        s"global range must fold from per-file zonemaps: ${st("id")}")
      // Survivor-folded: a pruned scan reports the pruned range.
      val pruned = byName(
        read(t, "statsCol" -> "id").where($"id" >= 300 && $"id" < 500))
      assert(pruned("id").max.exists(_.asInstanceOf[Long] < 899L),
        s"pruned scan must fold only surviving files: ${pruned("id")}")
    } finally spark.conf.set("spark.sql.cbo.enabled", prior)
  }

  test("storage-partitioned join: co-partitioned tables join with no shuffle") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val fact = fresh()
    val dim = fresh()
    val rows = Seq.tabulate(60)(i =>
      (i.toLong, s"g${i % 3}", (i * 7).toLong)).toDF("id", "g", "v")
    // Several files per key on the fact side (grouping is exercised),
    // one per key on the dim side.
    VersionedTable.commitPartitioned(spark, fact, 0L,
      rows.repartition(4), "g", statsCol = Some("id"))
    VersionedTable.commitPartitioned(spark, dim, 0L,
      rows.groupBy($"g").agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n")), "g")
    def joined() = read(fact).join(read(dim), "g").select($"id", $"n")
    // Exchanges are inserted by EnsureRequirements: inspect the
    // EXECUTED plan, with AQE off so it is concrete at plan time.
    def shuffles(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }.size
    val priorB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val priorA = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // Without the preserve-data-grouping opt-in the scan reports no
      // partitioning (a plain scan must keep one-task-per-file
      // parallelism): both sides shuffle.
      assert(shuffles(joined()) == 2,
        "baseline must shuffle both sides")
      // With it: the reported KeyGroupedPartitioning co-locates the
      // join — ZERO exchanges anywhere in the plan.
      spark.conf.set("spark.graft.planning.preserveDataGrouping", "true")
      val spj = joined()
      assert(shuffles(spj) == 0,
        s"SPJ must plan no Exchange:\n${spj.queryExecution.executedPlan}")
      assert(spj.queryExecution.executedPlan.collect {
        case j: SortMergeJoinExec => j }.nonEmpty)
      assert(spj.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
        .toSeq == Seq.tabulate(60)(i => (i.toLong, 20L)).sorted)
      // One side needing a PARTIAL scan (a pushed range predicate
      // prunes fact files): still zero exchanges, still correct.
      val part = read(fact).where($"id" < 30).join(read(dim), "g")
        .select($"id", $"n")
      assert(shuffles(part) == 0,
        s"partial-scan SPJ must plan no Exchange:\n" +
          part.queryExecution.executedPlan)
      assert(part.collect().map(_.getLong(0)).sorted.toSeq ==
        (0L until 30L))
      // The same clustering serves AGGREGATION: a groupBy on the
      // partition key needs no exchange either.
      val agg = read(fact).groupBy($"g").agg(
        org.apache.spark.sql.functions.sum($"v").as("sv"))
      assert(shuffles(agg) == 0,
        s"KGP groupBy must plan no Exchange:\n" +
          agg.queryExecution.executedPlan)
      assert(agg.collect().map(r => (r.getString(0), r.getLong(1)))
        .sorted.toSeq ==
        Seq.tabulate(60)(i => (s"g${i % 3}", (i * 7).toLong))
          .groupBy(_._1).map { case (g, xs) => (g, xs.map(_._2).sum) }
          .toSeq.sorted)
      // Mismatched layouts (flat dim) fall back to the shuffle plan —
      // the fallback is Spark's, never a wrong co-location.
      val flat = fresh()
      VersionedTable.commit(spark, flat, 0L,
        rows.groupBy($"g").agg(
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n")))
      val mixed = read(fact).join(read(flat), "g").select($"id", $"n")
      assert(shuffles(mixed) == 2,
        "a flat right side must fall back to the ordinary shuffle join")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", priorB)
      spark.conf.set("spark.sql.adaptive.enabled", priorA)
      spark.conf.unset("spark.graft.planning.preserveDataGrouping")
    }
  }

  test("runtime value sets on a transform's raw column prune by derived segments") {
    import spark.implicits._
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    val t = fresh()
    val day0 = 19723L // 2024-01-01
    def us(d: Long, k: Long) = d * 86400000000L + k
    VersionedTable.commit(spark, t, 0L,
      Seq.empty[(Long, Long)].toDF("id", "ts_us"),
      carried = Seq(VersionedTable.partSpecLine(1L, Seq("days(ts_us)"))))
    Seq.tabulate(12)(i => (i.toLong, us(day0 + i % 3, i.toLong)))
      .toDF("id", "ts_us")
      .write.format("graft-table").mode("append").save(t.toString)
    val snap = VersionedTable.snapshot(t, 1L)
    val table = new GraftTable(snap, GraftTableSource.dataSchema(snap), None)
    val scan = table.newScanBuilder(
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      .build().asInstanceOf[GraftScan]
    // The RAW column is runtime-filterable — join-driven DPP against a
    // date dimension hands ts_us value sets here.
    assert(scan.filterAttributes().map(_.fieldNames()(0)).toSeq ==
      Seq("ts_us"))
    val total = scan.planInputPartitions().length
    // Two probe instants on the same day: files prune to that day's
    // segment (+ the flat zero-row bootstrap, which only the path can
    // clear and must conservatively survive).
    scan.filter(Array(new Predicate("IN",
      Array(Expressions.column("ts_us"),
        Expressions.literal(us(day0 + 1, 3L)),
        Expressions.literal(us(day0 + 1, 9L))))))
    val pruned = scan.planInputPartitions().length
    val dayFiles = VersionedTable.statsManifest(t, 1L).map(_._1)
      .count(_.contains("ts_us_day=2024-01-02"))
    val flat = VersionedTable.statsManifest(t, 1L).map(_._1)
      .count(!_.contains("ts_us_day="))
    assert(pruned == dayFiles + flat && pruned < total,
      s"expected $dayFiles day files + $flat flat of $total, got $pruned")
  }
}
