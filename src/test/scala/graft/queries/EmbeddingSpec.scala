package graft.queries

import graft.SparkSpec

class EmbeddingSpec extends SparkSpec {

  test("ANN top-k is drawn from real candidates and overlaps the exact top-k") {
    val exact = graft.SparkEntry.queries("emb_knn")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = graft.SparkEntry.queries("emb_ann_topk")(spark, sf001).collect()
    assert(ann.nonEmpty)
    // rank<=3 per probe, so every ANN hit that is truly top-5 must be in
    // the exact set; measure overlap (recall of the sketch).
    val annPairs = ann.map(r => (r.getLong(0), r.getLong(2))).toSet
    val overlap = annPairs.count(exact.contains)
    info(s"ANN/exact overlap: $overlap/${annPairs.size}")
    // Sign-sketch LSH on near-orthogonal random vectors is weak by
    // nature; just require it found *some* true neighbors.
    assert(overlap > 0)
  }

  test("IVF top-k recall against exact kNN") {
    val exact = graft.SparkEntry.queries("emb_knn")(spark, sf001)
      .filter("rank <= 3").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = graft.SparkEntry.queries("emb_ivf_topk")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val overlap = ivf.count(exact.contains)
    info(s"IVF/exact top-3 overlap: $overlap/${exact.size}")
    // 10 cells, nprobe=3: ~30% of the corpus scanned; near-orthogonal
    // random vectors make cells weakly informative — require better
    // than trivial but don't over-promise.
    assert(overlap >= exact.size / 4, s"IVF recall too low: $overlap/${exact.size}")
  }

  test("PQ top-k recall against exact kNN") {
    val exact = graft.SparkEntry.queries("emb_knn")(spark, sf001)
      .filter("rank <= 3").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = graft.SparkEntry.queries("emb_pq_topk")(spark, sf001)
      .collect()
    assert(pq.length == 30, s"expected 10 probes x top-3, got ${pq.length}")
    val pqPairs = pq.map(r => (r.getLong(0), r.getLong(2))).toSet
    val overlap = pqPairs.count(exact.contains)
    info(s"PQ/exact top-3 overlap: $overlap/${exact.size}")
    // 5-entry sub-codebooks on near-orthogonal random vectors are a
    // coarse quantizer; the exact rerank of the top-30 shortlist is
    // what recall rides on. Require better than trivial.
    assert(overlap >= exact.size / 4, s"PQ recall too low: $overlap/${exact.size}")
  }

  test("graph-ANN (NSW) top-k recall against exact kNN; output is deterministic") {
    val exact = graft.SparkEntry.queries("emb_knn")(spark, sf001)
      .filter("rank <= 3").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val run1 = graft.SparkEntry.queries("emb_hnsw_topk")(spark, sf001)
      .collect()
    assert(run1.length == 30, s"expected 10 probes x top-3, got ${run1.length}")
    val got = run1.map(r => (r.getLong(0), r.getLong(2))).toSet
    val overlap = got.count(exact.contains)
    info(s"NSW/exact top-3 overlap: $overlap/${exact.size}")
    // The in-path gate enforces >= 9/10; the spec re-proves it from
    // the query surface (and the gate would have thrown already).
    assert(overlap * 10 >= exact.size * 9,
      s"graph-ANN recall too low: $overlap/${exact.size}")
    // Deterministic build + search: a second full build/serve pass
    // returns byte-identical rows (sequential insertion in vec_id
    // order, total (sim, id) ordering everywhere).
    val run2 = graft.SparkEntry.queries("emb_hnsw_topk")(spark, sf001)
      .collect()
    assert(run1.map(_.toString).toSeq == run2.map(_.toString).toSeq,
      "graph build/serve is not deterministic across runs")
  }

  test("routed graph-ANN (IVF×HNSW) recall and determinism") {
    val exact = graft.SparkEntry.queries("emb_knn")(spark, sf001)
      .filter("rank <= 3").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val run1 = graft.SparkEntry.queries("emb_hnsw_routed")(spark, sf001)
      .collect()
    assert(run1.length == 30, s"expected 10 probes x top-3, got ${run1.length}")
    val got = run1.map(r => (r.getLong(0), r.getLong(2))).toSet
    val overlap = got.count(exact.contains)
    info(s"routed NSW/exact top-3 overlap: $overlap/${exact.size}")
    // Routing trades recall for probe locality — the IVF floor, not
    // the unrouted 9/10 (the in-path gate enforces the same bound).
    assert(overlap >= exact.size / 4,
      s"routed graph-ANN recall too low: $overlap/${exact.size}")
    // Deterministic codebook, assignment, build and routed search.
    val run2 = graft.SparkEntry.queries("emb_hnsw_routed")(spark, sf001)
      .collect()
    assert(run1.map(_.toString).toSeq == run2.map(_.toString).toSeq,
      "routed build/serve is not deterministic across runs")
  }

  test("hnsw build/serve refuses a task above the materialization bound") {
    // Both graph passes hold one task's segments in memory; a
    // misconfigured segment count must REFUSE (r17), not OOM the
    // executor. The bound is sysprop-overridable exactly for this test.
    sys.props("spark.graft.hnsw.maxTaskRows") = "10"
    try {
      val e = intercept[Exception] {
        graft.SparkEntry.queries("emb_hnsw_topk")(spark, sf001).collect()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("sized to executor memory")),
        s"wrong failure: ${messages(e).mkString(" | ")}")
    } finally sys.props -= "spark.graft.hnsw.maxTaskRows"
  }

  test("versioned index DV delete: tombstone-aware serve never returns a killed vec_id") {
    import spark.implicits._
    import graft.operators.VersionedTable
    val tmp = graft.sources.GraftSession.stagingDir("graft_hnswdel_spec_")
    try {
      val idx = tmp.resolve("g")
      // 36 deterministic 8-dim vectors over 3 segments.
      def vec(i: Long): Seq[Double] =
        Seq.tabulate(8)(d => ((i * 31 + d * 7) % 13).toDouble + 1.0)
      val base = (0L until 36L).map(i => (i, vec(i), (i % 3).toInt))
        .toDF("vec_id", "e", "seg")
      EmbeddingQueries.hnswCommitSegments(base, idx, efC = 8, m = 4,
        maxDeg = 8)
      val pre = EmbeddingQueries.hnswServeVersioned(spark, idx,
        efServe = 16, segments = 3)
      val preRows = pre.out.collect()
      // Kill a vec_id the pre-delete serve RETURNED (non-vacuous) plus
      // a spread of others; probes (vec_id < 10) stay alive.
      val killFromServe = preRows.map(_.getLong(2)).filter(_ >= 10).head
      val killed = Set(killFromServe, 11L, 23L, 35L)
      VersionedTable.deleteCommit(spark, idx,
        VersionedTable.latestVersion(idx).get + 1,
        killed.toSeq.toDF("vec_id"), "vec_id")
      // The stored graph still carries dangling edges (the DV hides
      // rows, it rewrites nothing) — the serve must walk THROUGH that.
      val dangling = spark.read.format("graft-table")
        .option("version", "0").load(idx.toString)
        .selectExpr("explode(nbrs) AS nb")
        .where($"nb".isin(killed.toSeq.map(Long.box): _*)).count()
      assert(dangling > 0, "expected dangling adjacency after the DV")
      val post = EmbeddingQueries.hnswServeVersioned(spark, idx,
        efServe = 16, segments = 3).out.collect()
      assert(post.nonEmpty)
      assert(!post.exists(r => killed(r.getLong(2))),
        "a post-delete serve returned a deleted vec_id")
      // Time travel: version 0 still serves the killed neighbor.
      val tt = EmbeddingQueries.hnswServeVersioned(spark, idx,
        efServe = 16, segments = 3, asOf = Some(0L)).out.collect()
      assert(tt.map(_.toString).toSeq == preRows.map(_.toString).toSeq)
      assert(tt.exists(r => killed(r.getLong(2))))
    } finally graft.sources.GraftSession.deleteTree(tmp)
  }

  test("emb_cosine_pairs refuses to build above the O(n²) yardstick ceiling") {
    import spark.implicits._
    // 10001 vectors: one past the cap. The guard's count() runs before
    // any pair is built, so the oversized embedding payload can be
    // trivial — the veto must fire at plan-build time, not mid-join.
    val dir = java.nio.file.Files.createTempDirectory("yardstick").toString
    (0L until 10001L).map(i => (i, (i % 10).toInt, Array(1.0f)))
      .toDF("vec_id", "label", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val e = intercept[IllegalArgumentException] {
      graft.SparkEntry.queries("emb_cosine_pairs")(spark, dir)
    }
    assert(e.getMessage.contains("yardstick"))
    assert(e.getMessage.contains("emb_blocked_pairs"),
      "the refusal must point at the scale-safe route")
  }

  test("cosine pairs are symmetric-free (v1 < v2) and above threshold") {
    val rows = graft.SparkEntry.queries("emb_cosine_pairs")(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) >= 379999L) // floor(0.38e6) boundary
    }
  }
}
