package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the SparkEntry ↔ driver contract shape itself: every oracle
  * must target an existing query (a typo'd key silently vanishes from
  * the driver's compare), and the set of queries WITHOUT an oracle —
  * which the driver only rows-checks — must stay exactly the declared
  * sketch/LSH set, so an accidentally dropped oracle can't silently
  * demote a query from hash-checked to rows-only.
  */
class EntryContractSpec extends AnyFunSuite {

  private val RowsOnly = Set(
    "dedup_minhash_lsh", "dedup_simhash",
    "emb_ann_topk", "emb_ivf_topk", "emb_ivf_persisted", "emb_ivf_append",
    "emb_ivfpq_persisted",
    "emb_hnsw_topk", "emb_hnsw_append", "emb_hnsw_merge",
    "emb_hnsw_routed", "emb_hnsw_versioned", "emb_hnsw_delete",
    "emb_pq_persisted",
    "emb_pq_topk",
    "emb_kmeans",
    "emb_recall_curve", "emb_dim_curve",
    "rel_approx_distinct", "rel_approx_quantiles",
    "txt_heavy_hitters", "txt_bpe_train", "pipe_profile_approx",
    "ev_hll_rollup", "ev_hll_setops", "ev_stream_hll")

  test("every oracle key names an existing query") {
    val orphans = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(orphans.isEmpty, s"oracles without a query: $orphans")
  }

  test("the rows-only set is exactly the declared sketch queries") {
    val actual = SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)
    assert(actual == RowsOnly,
      s"unexpected rows-only queries (oracle dropped?): ${actual.diff(RowsOnly)}; " +
        s"stale declarations: ${RowsOnly.diff(actual)}")
  }

  test("no duplicate query names across modules") {
    // Map construction silently keeps the last binding on a key clash;
    // compare against the per-module sum to catch a shadowed query.
    val perModule = SparkEntry.modules.map(_.queries.size).sum
    assert(SparkEntry.queries.size == perModule,
      "two modules define the same query name")
  }

  test("oracle SQL produces no HUGEINT columns (the round-2 hash-mismatch class)") {
    // DuckDB's sum() over integers returns HUGEINT (int128); the driver
    // hashes SERIALIZED values, so a HUGEINT column hash-mismatches a
    // Spark BIGINT even when every value compares equal — the one bug
    // class that ever reached the driver (round 2: 8 queries
    // rows-green, hash-red). Lint every oracle by BINDING it in DuckDB
    // (no execution — DESCRIBE-level type resolution) and failing on
    // any HUGEINT output column. Runs only where the dev python3 +
    // duckdb toolchain exists; the driver's own compare is the
    // authoritative gate either way.
    import scala.sys.process._
    val probe =
      try Seq("python3", "-c", "import duckdb; print('ok')").!!.trim
      catch { case _: Throwable => "missing" }
    assume(probe == "ok", "python3+duckdb not available; skipping lint")
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).isDirectory, "fixtures not mounted")
    val tmp = java.nio.file.Files.createTempDirectory("oracle_lint_")
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      java.nio.file.Files.writeString(tmp.resolve(s"$name.sql"), sql)
    }
    val script =
      """import duckdb, glob, os, sys
        |tables = ["region","nation","customer","supplier","part","orders",
        |          "lineitem","events","documents","embeddings"]
        |con = duckdb.connect()
        |for t in tables:
        |    p = os.path.join(sys.argv[2], t + ".parquet")
        |    if os.path.exists(p):
        |        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        |bad = []
        |for f in sorted(glob.glob(os.path.join(sys.argv[1], "*.sql"))):
        |    name = os.path.basename(f)[:-4]
        |    try:
        |        rel = con.sql(open(f).read())
        |        for c, t in zip(rel.columns, rel.types):
        |            if str(t) == "HUGEINT":
        |                bad.append(f"{name}.{c}")
        |    except Exception as e:
        |        bad.append(f"{name}: bind error: {e}")
        |print(";".join(bad))
        |""".stripMargin
    val out = Seq("python3", "-c", script, tmp.toString, sfDir).!!.trim
    assert(out.isEmpty,
      s"uncast integer aggregates (HUGEINT) or unbindable oracle SQL: $out")
  }

  /** Every code line of `src/main/scala` (comment lines skipped) as
    * (file, all of its lines, index): what the source guards scan. */
  private def mainCodeLines(): Seq[(java.nio.file.Path, IndexedSeq[String], Int)] =
    mainLines(comments = false)

  /** The code lines of `src/main/scala`, or with `comments` its comment
    * lines, as (file, all of its lines, index). */
  private def mainLines(comments: Boolean)
      : Seq[(java.nio.file.Path, IndexedSeq[String], Int)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"source root not found under ${root.toAbsolutePath}")
    val walk = java.nio.file.Files.walk(root)
    val files =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    for {
      f <- files
      lines = java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq
      i <- lines.indices
      if Seq("//", "*", "/*").exists(lines(i).trim.startsWith) == comments
    } yield (f, lines, i)
  }

  test("query code stages and materializes only through GraftSession") {
    // GraftSession.staged owns a staging tree's lifetime: it
    // materializes the result while the tree exists and deletes the
    // tree even when the query fails. A hand-written copy of that
    // lifecycle, or of the collect-and-rebuild idiom, is where a leaked
    // tree or a frame over deleted files comes from.
    val queries = java.nio.file.Paths.get("src/main/scala/graft/queries")
    val hits = for {
      (f, lines, i) <- mainCodeLines()
      t = lines(i)
      if (f.getFileName.toString != "GraftSession.scala" &&
          Seq("stagingDir(", "Arrays.asList(").exists(t.contains)) ||
        (f.startsWith(queries) && t.contains("deleteTree("))
    } yield s"$f:${i + 1}: ${t.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("comments give reasons, not the round that wrote them") {
    // A tag like (r12), ADVICE or VERDICT points at a review history
    // that is not part of the code; the reason it stood for belongs in
    // the comment itself. Code lines are exempt: SQL aliases such as
    // r1 and r2 are legitimate there.
    val tag = """\br[0-9]{1,2}\b|ADVICE|VERDICT|round[- ]?[0-9]+|guide §""".r
    val hits = for {
      (f, lines, i) <- mainLines(comments = true)
      if tag.findFirstIn(lines(i)).nonEmpty
    } yield s"$f:${i + 1}: ${lines(i).trim}"
    assert(hits.isEmpty, s"${hits.size} tagged comment lines:\n" + hits.mkString("\n"))
  }

  test("library code scopes session config and overlaps jobs only through GraftSession") {
    // A conf.set on a shared session is visible to every concurrent
    // query on it; an ad-hoc pool loses track of its threads. Library
    // code goes through GraftSession.scoped / overlap instead. The one
    // exemption is VersionedTable's footer pool: footer IO, no Spark
    // jobs.
    val banned = Seq("conf.set(", "conf.unset(", "newFixedThreadPool(")
    val hits = for {
      (f, lines, i) <- mainCodeLines()
      if f.getFileName.toString != "GraftSession.scala"
      t = lines(i).trim
      if banned.exists(t.contains)
      if !(t.contains("newFixedThreadPool(") &&
        lines.slice(i - 2, i).exists(_.contains("footerPool =")))
    } yield s"$f:${i + 1}: $t"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("library code takes Hadoop settings from the session, never a bare Configuration") {
    // A bare Configuration drops the user's filesystem settings (s3a
    // credentials, custom schemes); readers and writers take
    // GraftSession.hadoopConf instead. The one exemption is
    // VersionedTable.footerConf, shared by the driver-side footer reads.
    val banned = Seq("new Configuration()",
      "new org.apache.hadoop.conf.Configuration()")
    val hits = for {
      (f, lines, i) <- mainCodeLines()
      t = lines(i).trim
      if banned.exists(t.contains) && !t.contains("footerConf =")
    } yield s"$f:${i + 1}: $t"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("manifests are published only through the commit producer") {
    // One path validates, renders and publishes every commit
    // (VersionedTable.produce). The exemptions: the pipe_branch_promote
    // witness hand-builds a branch rewrite with the raw publish, the
    // streaming replay in EventStreams skips a batch whose version
    // already published, and a catalog rename reserves its target
    // directory (no manifest involved).
    val code = mainCodeLines()
    def named(f: java.nio.file.Path, n: String) = f.getFileName.toString == n
    val vt = code.collectFirst { case (f, ls, _) if named(f, "VersionedTable.scala") => ls }
      .getOrElse(IndexedSeq.empty)
    val start = vt.indexWhere(_.contains("private def produce("))
    val end = vt.indexWhere(_ == "  }", start)
    assert(start >= 0 && end > start, "VersionedTable.produce not found")
    def outside(f: java.nio.file.Path, i: Int) =
      !named(f, "VersionedTable.scala") || i < start || i > end
    val strayPublish = for {
      (f, ls, i) <- code
      t = ls(i).trim
      if t.matches(".*(^|[^A-Za-z])publish\\(.*") && !t.contains("def publish(")
      if outside(f, i)
      if !(named(f, "TableQueries.scala") && t.contains("VersionedTable.publish("))
    } yield s"$f:${i + 1}: $t"
    assert(strayPublish.isEmpty, strayPublish.mkString("\n"))
    val witnesses = code.count { case (f, ls, i) =>
      !named(f, "VersionedTable.scala") && ls(i).contains("VersionedTable.publish") }
    assert(witnesses == 1, s"$witnesses raw publishes outside VersionedTable")
    val catches = code.collect { case (f, ls, i)
        if ls(i).contains("FileAlreadyExistsException") && outside(f, i) =>
      (f, ls.slice(i - 5, i).mkString(" "), s"$f:${i + 1}: ${ls(i).trim}") }
    val stray = catches.filterNot { case (f, before, _) =>
      (named(f, "EventStreams.scala") && before.contains("commitAppend(")) ||
        (named(f, "GraftCatalog.scala") && before.contains("Files.createDirectory("))
    }
    assert(stray.isEmpty && catches.size == 2,
      (stray.map(_._3) :+ s"${catches.size} exempt catch sites").mkString("\n"))
  }

  test("the manifest line format stays inside VersionedTable") {
    // A line-kind literal elsewhere re-implements the format; readers
    // take typed entries (VersionedTable.parse, Snapshot fields).
    val kinds = Seq("DV", "RENAME", "WIDEN", "ADDCOL", "DROPCOL", "BLOOM",
      "STATSCOL", "STATS", "ROWS", "CHECK", "PARTCOL", "PARTSPEC", "NDV",
      "MVOF", "MVSQL", "MVAVG", "MVFOLD", "KIND", "BASE", "RM")
    val hits = for {
      (f, lines, i) <- mainCodeLines()
      if f.getFileName.toString != "VersionedTable.scala"
      t = lines(i)
      if kinds.exists(k => t.contains("\"" + k + "\\t"))
    } yield s"$f:${i + 1}: ${t.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
