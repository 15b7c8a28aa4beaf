package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One list of every commit verb, run on a tiny fixture: the library
  * verbs, the SQL DML of the graft catalog and the streaming sink. Each
  * case builds its own tables under `root`; [[manifests]] renders every
  * published version's stored manifest with data and DV paths replaced
  * by ordinals, so two runs of the list compare byte for byte. Every
  * frame is written from one partition, so file counts do not depend on
  * the host's cores. */
object CommitVerbs {

  /** The case names, in run order: one golden file each. */
  val cases: Seq[String] = Seq("flat", "parted", "multi", "indexed",
    "schema", "mv_base", "mv", "mv_sql", "branch", "sql", "sql_parted",
    "sink")

  /** Run every verb; returns each case's table root. */
  def run(spark: SparkSession, root: Path): Map[String, Path] = {
    import org.apache.spark.sql.functions.sum
    import spark.implicits._
    def t(name: String): Path = root.resolve(name)
    def rows(xs: (Long, Long)*): DataFrame = xs.toDF("id", "v").coalesce(1)
    def keys(xs: Long*): DataFrame = xs.toDF("id").coalesce(1)

    // Flat table: stats, row counts, a CHECK, deletes, every rewrite.
    val a = t("flat")
    VersionedTable.commitWithStats(spark, a, 0L,
      rows((1, 10), (2, 20), (3, 30), (4, 40)), "id", rowCounts = true)
    VersionedTable.constraintCommit(spark, a, 1L, "v >= 0")
    VersionedTable.appendCommit(spark, a, rows((5, 50)), checkpointEvery = 2)
    VersionedTable.commitAppend(spark, a, 3L, rows((6, 60)))
    VersionedTable.deleteCommit(spark, a, 4L, keys(2), "id")
    VersionedTable.mergeCommit(spark, a, rows((3, 33), (7, 70)), "id")
    VersionedTable.analyzeCommit(spark, a, Seq("id", "v"))
    VersionedTable.compactCommit(spark, a, Some("id"), files = 1)
    VersionedTable.updateWhere(spark, a, "id", 1L, 1L, Seq("v" -> "v + 100"))
    VersionedTable.transact(spark, a,
      _.coalesce(1).selectExpr("id", "v + 1 AS v"))
    VersionedTable.commit(spark, a, 10L, rows((8, 80)),
      carried = VersionedTable.manifest(a, 9L))

    // Partitioned table: spec evolution, scoped and full compaction.
    val b = t("parted")
    VersionedTable.commitPartitioned(spark, b, 0L,
      Seq((1L, "a"), (2L, "b")).toDF("id", "p").coalesce(1), "p",
      statsCol = Some("id"), rowCounts = true)
    VersionedTable.constraintCommit(spark, b, 1L, "id > 0")
    VersionedTable.evolvePartitionLayout(spark, b, Seq("p", "bucket(2,id)"))
    VersionedTable.compactPartitionsCommit(spark, b, "p", Seq("a"), files = 1)
    VersionedTable.compactCommit(spark, b, Some("id"), files = 1)

    VersionedTable.commitPartitionedMulti(spark, t("multi"), 0L,
      Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "p", "q").coalesce(1),
      Seq("p", "q"), statsCol = Some("id"))

    // Multi-column zonemaps and blooms: index continuity and clustering.
    val c = t("indexed")
    def xy(xs: (Long, Long)*): DataFrame = xs.toDF("x", "y").coalesce(1)
    VersionedTable.commitMultiStats(spark, c, 0L, xy((1, 5), (2, 6)),
      Seq("x", "y"))
    VersionedTable.commitIndexed(spark, c, 1L, xy((3, 7)), "x", "y",
      carried = VersionedTable.manifest(c, 0L))
    VersionedTable.appendCommit(spark, c, xy((4, 8)))
    VersionedTable.clusterCommit(spark, c, Seq("x", "y"), files = 1)

    // Schema evolution.
    val d = t("schema")
    VersionedTable.commit(spark, d, 0L, Seq((1L, 1, "s")).toDF("id", "n", "s")
      .coalesce(1))
    VersionedTable.renameCommit(d, 1L, "s", "s2")
    VersionedTable.widenCommit(d, 2L, "n", "bigint")
    VersionedTable.compactCommit(spark, d, files = 1)
    VersionedTable.addColumnCommit(spark, d, 4L, "z", "string")
    VersionedTable.dropColumnCommit(spark, d, 5L, "z")

    // Materialized views: create, refresh, cursor-only refresh.
    val e = t("mv_base")
    val mv = t("mv")
    val mvSql = t("mv_sql")
    def grouped(xs: (Long, String, Long)*): DataFrame =
      xs.toDF("id", "g", "v").coalesce(1)
    def agg(df: DataFrame): DataFrame =
      df.groupBy("g").agg(sum("v").as("s")).coalesce(1)
    def merge(old: DataFrame, delta: DataFrame): DataFrame =
      old.unionByName(delta).groupBy("g").agg(sum("s").as("s")).coalesce(1)
    VersionedTable.commit(spark, e, 0L, grouped((1, "a", 1), (2, "b", 2)))
    VersionedTable.createMaterialized(spark, e, mv, agg)
    VersionedTable.createMaterializedSql(spark, e, mvSql, Seq("g"),
      "SELECT g, sum(v) AS s, count(*) AS n FROM __BASE__ GROUP BY g")
    VersionedTable.appendCommit(spark, e, grouped((3, "a", 3)))
    VersionedTable.refreshMaterialized(spark, e, mv, agg, merge)
    VersionedTable.refreshMaterializedSql(spark, e, mvSql)
    VersionedTable.compactCommit(spark, e, files = 1)
    VersionedTable.refreshMaterialized(spark, e, mv, agg, merge)

    // Branches: commits on two refs, a checkpoint on a branch, a promote.
    val f = t("branch")
    VersionedTable.commit(spark, f, 0L, keys(1))
    VersionedTable.branchCreate(f, "main", 0L)
    VersionedTable.branchCreate(f, "dev", 0L)
    VersionedTable.branchCommit(spark, f, "dev", keys(2), checkpointEvery = 2)
    VersionedTable.branchCommit(spark, f, "dev", keys(3), checkpointEvery = 2)
    VersionedTable.branchCommit(spark, f, "main", keys(4))
    VersionedTable.promoteBranch(spark, f, "dev", "main")

    // SQL DML through the catalog.
    val cat = t("cat")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.g", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.g.root", cat.toString)
    VersionedTable.commitWithStats(spark, cat.resolve("sql"), 0L,
      rows((1, 10), (2, 20)), "id", rowCounts = true)
    VersionedTable.constraintCommit(spark, cat.resolve("sql"), 1L, "v >= 0")
    s2.sql("INSERT INTO g.sql VALUES (3, 30)")
    s2.sql("DELETE FROM g.sql WHERE id = 3")
    s2.sql("UPDATE g.sql SET v = v + 1 WHERE id = 1")
    s2.sql("""MERGE INTO g.sql t USING (SELECT 2L AS id, 99L AS v) u
              ON t.id = u.id
              WHEN MATCHED THEN UPDATE SET v = u.v
              WHEN NOT MATCHED THEN INSERT (id, v) VALUES (u.id, u.v)""")
    s2.sql("INSERT OVERWRITE g.sql VALUES (5, 50)")
    s2.sql("TRUNCATE TABLE g.sql")
    s2.sql("CREATE TABLE g.sql_parted (id BIGINT, p STRING) PARTITIONED BY (p)")
    s2.sql("INSERT INTO g.sql_parted VALUES (1, 'a')")
    s2.sql("INSERT OVERWRITE g.sql_parted VALUES (2, 'b')")

    // The streaming sink: one version per micro-batch.
    val h = t("sink")
    VersionedTable.commit(spark, h, 0L, keys(0))
    locally {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = MemoryStream[Long]
      val q = ms.toDF().select($"value".as("id")).writeStream
        .format("graft-table")
        .option("checkpointLocation",
          Files.createTempDirectory("graft_verbs_cp_").toString)
        .start(h.toString)
      try {
        ms.addData(1L, 2L)
        q.processAllAvailable()
        ms.addData(3L)
        q.processAllAvailable()
      } finally q.stop()
    }

    Map("flat" -> a, "parted" -> b, "multi" -> t("multi"), "indexed" -> c,
      "schema" -> d, "mv_base" -> e, "mv" -> mv, "mv_sql" -> mvSql,
      "branch" -> f, "sql" -> cat.resolve("sql"),
      "sql_parted" -> cat.resolve("sql_parted"), "sink" -> h)
  }

  private val PathRe = """(?:data|dv)/[^\t\n]+""".r

  /** Every version's stored manifest, in version order, with each data
    * or DV path replaced by `F<n>`, numbered in order of first
    * appearance. */
  def manifests(table: Path): String = {
    val ids = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    VersionedTable.versions(table).map { v =>
      val stored = new String(Files.readAllBytes(
        table.resolve("_commits").resolve(f"v$v%06d.manifest")),
        StandardCharsets.UTF_8)
      f"== v$v%06d\n" + PathRe.replaceAllIn(stored, m =>
        "F" + ids.getOrElseUpdate(m.matched, ids.size))
    }.mkString("", "\n", "\n")
  }
}
