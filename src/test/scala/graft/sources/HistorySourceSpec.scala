package graft.sources

import graft.SparkSpec
import graft.operators.VersionedTable
import java.nio.file.Files

/** Connector-level guarantees of the graft-history DataSource V2
  * (the query-surface witness is pipe_table_history): short-name
  * registration, fixed schema, per-version partition planning,
  * zero-column pruning, and crashed-commit invisibility.
  */
class HistorySourceSpec extends SparkSpec {

  private def staged(): java.nio.file.Path = {
    import spark.implicits._
    val t = Files.createTempDirectory("graft_hist_spec_").resolve("t")
    VersionedTable.commitWithStats(spark, t, 0L,
      Seq(1L, 2L, 3L).toDF("id").repartition(1), "id")
    VersionedTable.commitWithStats(spark, t, 1L,
      Seq(10L).toDF("id").repartition(1), "id",
      carried = VersionedTable.manifest(t, 0L))
    VersionedTable.failedCommit(spark, t, 2L, Seq(99L).toDF("id"))
    t
  }

  test("short name resolves and the schema is the fixed history schema") {
    val t = staged()
    val df = spark.read.format("graft-history").load(t.toString)
    assert(df.schema == HistorySource.schema)
    assert(df.columns.toSeq == Seq("version", "file", "mn", "mx"))
  }

  test("one input partition per committed version; crash litter invisible") {
    val t = staged()
    val df = spark.read.format("graft-history").load(t.toString)
    assert(df.rdd.getNumPartitions == 2,
      "the scan must plan exactly one partition per committed version")
    val versions = df.select("version").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(versions == Seq(0L, 1L),
      "the crashed v2 must not surface in the history")
    // v1 carried v0's single line plus its own: 1 + 2 lines total.
    val counts = df.groupBy("version").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(0L -> 1L, 1L -> 2L))
  }

  test("stats ride the manifest lines through carries") {
    val t = staged()
    val df = spark.read.format("graft-history").load(t.toString)
    val v1 = df.where("version = 1").select("mn", "mx")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(v1 == Set((1L, 3L), (10L, 10L)),
      "the carried v0 line must keep its original stats next to the " +
        "append's own")
  }

  test("column pruning reaches the reader (count(*) and narrow selects)") {
    val t = staged()
    val df = spark.read.format("graft-history").load(t.toString)
    assert(df.count() == 3)
    val narrow = df.select("version", "mn")
    val plan = narrow.queryExecution.executedPlan.toString
    assert(!plan.contains("file#"),
      "the unused file column must be pruned out of the scan")
    assert(narrow.collect().length == 3)
  }

  test("version predicates prune input partitions (manifest-level skip)") {
    val t = staged()
    val df = spark.read.format("graft-history").load(t.toString)
    assert(df.where("version = 1").rdd.getNumPartitions == 1,
      "an equality predicate must plan exactly the one matching manifest")
    assert(df.where("version >= 1 AND mn > 0").rdd.getNumPartitions == 1,
      "the version half of a conjunction must prune; mn stays residual")
    assert(df.where("version IN (0, 7)").rdd.getNumPartitions == 1)
    assert(df.where("version > 99").rdd.getNumPartitions == 0,
      "an unsatisfiable predicate must plan zero partitions")
    // Pruning must not change results (Spark re-applies the filters).
    assert(df.where("version = 1").count() == 2)
    assert(df.where("version >= 1 AND mn > 5").count() == 1)
  }

  test("random histories: connector rows equal the manifests verbatim") {
    // Property: for ANY history of plain/stats/append/failed commits,
    // the connector serves exactly what statsManifest says per
    // committed version — no more (crash litter), no less (carries).
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val histGen = Gen.chooseNum(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("plain", "stats", "append", "failed")))
    val hists = (1 to 6).map(i =>
      histGen.pureApply(Gen.Parameters.default, Seed(9100L + i)))
    for ((hist, hi) <- hists.zipWithIndex) {
      val t = Files.createTempDirectory(s"graft_hist_prop_${hi}_").resolve("t")
      VersionedTable.commit(spark, t, 0L, Seq(0L).toDF("id"))
      var v = 0L
      hist.zipWithIndex.foreach { case (kind, i) =>
        val df = Seq(100L * (i + 1), 100L * (i + 1) + 1).toDF("id")
          .repartition(1)
        kind match {
          case "plain" => v += 1; VersionedTable.commit(spark, t, v, df)
          case "stats" => v += 1
            VersionedTable.commitWithStats(spark, t, v, df, "id")
          case "append" => v += 1
            VersionedTable.commit(spark, t, v, df,
              carried = VersionedTable.manifest(t, v - 1))
          case "failed" => VersionedTable.failedCommit(spark, t, v + 1, df)
        }
      }
      val got = spark.read.format("graft-history").load(t.toString)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      val expected = VersionedTable.versions(t).flatMap { ver =>
        VersionedTable.statsManifest(t, ver).map { case (f, mn, mx) =>
          (ver, f, mn, mx)
        }
      }.toSet
      assert(got == expected, s"history $hi ($hist): connector diverged")
      graft.sources.GraftSession.deleteTree(t.getParent)
    }
  }

  test("a missing path fails loudly") {
    intercept[Exception] {
      spark.read.format("graft-history").load()
    }
  }
}
