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

  test("library code scopes session config and overlaps jobs only through GraftSession") {
    // A conf.set on a shared session is visible to every concurrent
    // query on it; an ad-hoc pool loses track of its threads. Library
    // code goes through GraftSession.scoped / overlap instead. The one
    // exemption is VersionedTable's footer pool: footer IO, no Spark
    // jobs.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"source root not found under ${root.toAbsolutePath}")
    val banned = Seq("conf.set(", "conf.unset(", "newFixedThreadPool(")
    val walk = java.nio.file.Files.walk(root)
    val files =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val hits = for {
      f <- files if f.getFileName.toString != "GraftSession.scala"
      lines = java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq
      (l, i) <- lines.zipWithIndex
      t = l.trim
      if !Seq("//", "*", "/*").exists(t.startsWith) && banned.exists(t.contains)
      if !(t.contains("newFixedThreadPool(") &&
        lines.slice(i - 2, i).exists(_.contains("footerPool =")))
    } yield s"$f:${i + 1}: $t"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
