package graft.queries

import graft.functions.ElementwiseSum
import graft.operators.VersionedTable
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over `embeddings.embedding` (`array<float>`,
  * dim 64 — FIXTURES.md): norms, brute-force cosine top-k (the exact
  * baseline), an all-pairs threshold join, fixed-point centroids, and a
  * random-hyperplane LSH path (the scale route: bucket first, score
  * inside buckets only).
  *
  * Float policy: element values are widened float→double (exact), all
  * scoring runs in doubles through the codegen'd
  * [[graft.functions.CosineSimilarity]] expression, and reported scores
  * are `floor(x·10⁶)` integers — identical doubles on both engines give
  * identical integers, so oracle hashes never ride on float formatting.
  */
object EmbeddingQueries extends QueryModule {

  /** Brute-force cosine top-k for the 10 standard probe vectors —
    * shared by the oracle-backed `emb_knn` query (k=5) and the in-path
    * recall gates of the three ANN routes (k=3 ground truth). ONE
    * definition so the ground truth can never drift from the query the
    * driver hash-checks. */
  private def knnPlan(s: SparkSession, dir: String, k: Int,
      corpusWhere: Option[String] = None): DataFrame = {
    import s.implicits._
    val emb = corpusWhere.foldLeft(
      Tables.embeddings(s, dir).select($"vec_id", $"embedding"))(
      (df, p) => df.where(p))
    val probes = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"vec_id")
    emb.join(broadcast(probes), $"vec_id" =!= $"qid")
      .withColumn("sim", call_function("cosine_sim", $"qe", $"embedding"))
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= k)
      .selectExpr("qid", "rank", "vec_id AS nid",
        "CAST(floor(sim * 1000000) AS BIGINT) AS sim_e6")
      .orderBy("qid", "rank")
  }

  /** Exact top-3 (qid, nid) ground-truth pairs for the ANN recall
    * gates. Cost: one broadcast-probe corpus scan — the same order as
    * the ANN query it audits, and the production shape anyway: ANN
    * recall is ALWAYS measured by brute-forcing a small fixed probe
    * set, so the gate is exactly the sampled audit a 100 TB deployment
    * runs beside its index build. Output is bounded at 3×|probes|. */
  private def exactTop3(s: SparkSession, dir: String,
      corpusWhere: Option[String] = None): Set[(Long, Long)] =
    knnPlan(s, dir, 3, corpusWhere).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet

  /** [[exactTop3]] started asynchronously: the yardstick reads the
    * fixture corpus, never the index under test, so the ANN lifecycle
    * queries start it the moment its inputs are final and join at the
    * recall gate — its corpus scan back-fills the cores the
    * commit/serve machinery leaves idle. */
  private def exactTop3Async(s: SparkSession, dir: String,
      corpusWhere: Option[String] = None)
      : graft.sources.GraftSession.Running[Set[(Long, Long)]] =
    graft.sources.GraftSession.async(exactTop3(s, dir, corpusWhere))

  /** The in-memory IVF route (emb_ivf_topk's body), factored so the
    * persisted-index variant can gate EXACT row equality against it:
    * label centroids as the coarse codebook (deterministic k-means
    * stand-in), nearest-cell assignment, nprobe=3 probe search. One
    * definition — a drifted copy would turn the equality gate into a
    * tautology or a flake. */
  private def ivfTop3InMemory(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sumAgg = udaf(new ElementwiseSum(64))
    val cent = Tables.embeddings(s, dir)
      .selectExpr("label",
        "transform(cast(embedding AS array<double>), x -> CAST(floor(x * 1000000) AS BIGINT)) AS e6")
      .groupBy($"label").agg(count(lit(1)).as("n"), sumAgg($"e6").as("sums"))
      .selectExpr("label AS cell",
        "transform(sums, x -> x / (n * 1000000.0)) AS cvec")
    val emb = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
    val wCell = Window.partitionBy($"vec_id").orderBy($"csim".desc, $"cell")
    val assigned = emb.crossJoin(broadcast(cent))
      .withColumn("csim", call_function("cosine_sim", $"embedding", $"cvec"))
      .withColumn("crk", row_number().over(wCell))
      .persist()
    val cells = assigned.where($"crk" === 1)
      .select($"vec_id", $"cell", $"embedding")
    val probeCells = assigned.where($"vec_id" < 10 && $"crk" <= 3)
      .select($"vec_id".as("qid"), $"embedding".as("qe"), $"cell")
    val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"vec_id")
    cells.join(broadcast(probeCells), Seq("cell"))
      .where($"vec_id" =!= $"qid")
      .withColumn("sim", call_function("cosine_sim", $"qe", $"embedding"))
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= 3)
      .selectExpr("qid", "rank", "vec_id AS nid", "cell",
        "CAST(floor(sim * 1000000) AS BIGINT) AS sim_e6")
      .orderBy("qid", "rank")
  }

  /** Nearest-cell assignment of `vectors` (vec_id, embedding) to a
    * FROZEN codebook (cell, cvec) — the IVF ingest kernel: one narrow
    * broadcast of the k-row codebook, no shuffle of the vectors beyond
    * the per-vector rank. Shared by the append-maintenance route's
    * build, its append pass, and its full-rebuild reference (one
    * definition keeps the equivalence gate honest). */
  private def assignToCells(vectors: DataFrame, cent: DataFrame): DataFrame = {
    val s = vectors.sparkSession
    import s.implicits._
    val wCell = Window.partitionBy($"vec_id").orderBy($"csim".desc, $"cell")
    vectors.crossJoin(broadcast(cent))
      .withColumn("csim", call_function("cosine_sim", $"embedding", $"cvec"))
      .withColumn("crk", row_number().over(wCell))
      .where($"crk" === 1)
      .select($"cell", $"vec_id", $"embedding")
  }

  /** nprobe=3 / top-3 probe search over an inverted file
    * (cell, vec_id, embedding) + codebook (cell, cvec) — the serve
    * math of the IVF maintenance route and its rebuild reference
    * (same tie rules as the persisted-index serve: sim desc then
    * vec_id; cells by csim desc then cell). */
  private def ivfProbeTop3(posts: DataFrame, cent: DataFrame): DataFrame = {
    val s = posts.sparkSession
    import s.implicits._
    val probes = posts.where($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val wP = Window.partitionBy($"qid").orderBy($"csim".desc, $"cell")
    val probeCells = probes.crossJoin(broadcast(cent))
      .withColumn("csim", call_function("cosine_sim", $"qe", $"cvec"))
      .withColumn("crk", row_number().over(wP))
      .where($"crk" <= 3)
      .select($"qid", $"qe", $"cell")
    val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"vec_id")
    posts.join(broadcast(probeCells), Seq("cell"))
      .where($"vec_id" =!= $"qid")
      .withColumn("sim", call_function("cosine_sim", $"qe", $"embedding"))
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= 3)
      .selectExpr("qid", "rank", "vec_id AS nid", "CAST(cell AS INT) AS cell",
        "CAST(floor(sim * 1000000) AS BIGINT) AS sim_e6")
      .orderBy("qid", "rank")
  }

  /** Local cosine over double vectors — the driver/executor-side twin
    * of the codegen'd expression, for the graph-ANN kernels that score
    * inside a per-segment in-memory search (no DataFrame in the inner
    * loop). Zero vectors score -1 so they sort last deterministically. */
  private def cosineLocal(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) -1.0 else dot / math.sqrt(na * nb)
  }

  /** Greedy best-first search over a navigable-small-world graph —
    * the HNSW serve kernel (single layer): expand the best unexplored
    * candidate, stop when it cannot improve the worst of `ef` results.
    * Total order (sim desc, id asc) everywhere, so results and the
    * visited count are DETERMINISTIC. Returns (top-ef results sorted,
    * nodes visited) — the visited count is the sublinearity witness:
    * it is the number of similarity computations paid, and the gate
    * requires it to stay well under the segment scan. */
  private def nswSearch(q: Array[Double], entry: Long,
      adj: Long => Seq[Long],
      vecs: scala.collection.Map[Long, Array[Double]],
      ef: Int): (Seq[(Long, Double)], Long) = {
    // Max-heap by sim, ties to the SMALLER id.
    val candOrd = new Ordering[(Long, Double)] {
      def compare(x: (Long, Double), y: (Long, Double)): Int = {
        val c = java.lang.Double.compare(x._2, y._2)
        if (c != 0) c else java.lang.Long.compare(y._1, x._1)
      }
    }
    val visited = scala.collection.mutable.HashSet[Long](entry)
    val cand = scala.collection.mutable.PriorityQueue(
      (entry, cosineLocal(q, vecs(entry))))(candOrd)
    val res = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
    var done = false
    while (!done && cand.nonEmpty) {
      val (cid, csim) = cand.dequeue()
      if (res.size >= ef && (csim < res.last._2 ||
          (csim == res.last._2 && cid > res.last._1))) done = true
      else {
        // Insert into res, kept sorted by (sim desc, id asc), capped.
        val at = res.indexWhere { case (rid, rs) =>
          rs < csim || (rs == csim && rid > cid) }
        res.insert(if (at < 0) res.size else at, (cid, csim))
        if (res.size > ef) res.remove(res.size - 1)
        adj(cid).foreach { nb =>
          // TOMBSTONE-AWARE: a DV-deleted neighbor has no stored
          // row — its vector is gone, so it can be neither waypoint
          // nor result (the Lucene live-docs serve model). Skip the
          // dangling edge; a merge rebuild reclaims it. During build
          // `vecs` holds every segment row, so this guard only ever
          // fires on a post-delete serve. ONE map lookup (this loop is
          // the build/serve hot path — a contains+apply pair measurably
          // taxes every insertion).
          val v = vecs.getOrElse(nb, null)
          if ((v ne null) && visited.add(nb))
            cand.enqueue((nb, cosineLocal(q, v)))
        }
      }
    }
    (res.toSeq, visited.size.toLong)
  }

  /** Build one segment's NSW graph — sequential insertion in vec_id
    * order (deterministic): each new node connects to its `m` nearest
    * among the already-inserted (found by the same greedy search that
    * will serve queries, ef = efC), bidirectionally; a node past
    * `maxDeg` trims to its most-similar neighbors. O(n · efC · deg)
    * similarity computations per segment — segments are sized to
    * executor memory (the Lucene-HNSW per-segment model), so the build
    * parallelizes across segments and never needs the whole corpus on
    * one node. */
  private def nswBuild(sorted: Array[(Long, Array[Double])], m: Int,
      efC: Int, maxDeg: Int): Map[Long, Array[Long]] = {
    val vecs = sorted.toMap
    val adj = scala.collection.mutable.LinkedHashMap[Long,
      scala.collection.mutable.ArrayBuffer[Long]]()
    sorted.foreach { case (id, e) =>
      if (adj.isEmpty) adj(id) = scala.collection.mutable.ArrayBuffer()
      else {
        val entry = adj.head._1
        val (cands, _) = nswSearch(e, entry,
          x => adj.get(x).map(_.toSeq).getOrElse(Nil), vecs, efC)
        val nbrs = cands.take(m).map(_._1)
        adj(id) = scala.collection.mutable.ArrayBuffer(nbrs: _*)
        nbrs.foreach { nb =>
          val buf = adj(nb)
          buf += id
          if (buf.size > maxDeg) {
            val kept = buf.toSeq
              .map(x => (x, cosineLocal(vecs(nb), vecs(x))))
              .sortBy { case (x, s0) => (-s0, x) }
              .take(maxDeg).map(_._1)
            buf.clear(); buf ++= kept
          }
        }
      }
    }
    adj.map { case (k, v) => k -> v.toArray.sorted }.toMap
  }

  /** Graph-ANN parameters, pinned by a measured ef/efC sweep of
    * recall and visited work: serve beam 16 over graphs built with
    * efC=48/m=12/degree≤24 gives 30/30 recall at sf0.01 and 29/30 at
    * sf0.1 while visiting under half the brute-force scan. Visited
    * work per probe per segment asymptotes at ~ef·degree regardless
    * of segment size — the whole point of the graph index. */
  private val HnswEfServe = 16
  private val HnswEfC = 48
  private val HnswM = 12
  private val HnswMaxDeg = 24

  /** Hard per-task materialization bound for the segment graphs:
    * both build and serve hold ONE task's segments in memory (the
    * Lucene per-segment contract — segments are sized to executor
    * memory), and before this guard a misconfigured segment count
    * OOM'd the executor instead of refusing. At 64-dim double vectors
    * + a ≤24-edge adjacency (~0.75 KB/row) the default 4M-row bound is
    * ~3 GB per task — generous for any sane executor, far below a
    * mis-sharded corpus. Overridable for tests (and fatter vectors)
    * via -Dspark.graft.hnsw.maxTaskRows. */
  private def hnswMaxTaskRows: Long =
    sys.props.get("spark.graft.hnsw.maxTaskRows").map(_.toLong)
      .getOrElse(4000000L)

  /** Materialize a task's rows under [[hnswMaxTaskRows]], refusing at
    * bound+1 while streaming — BEFORE the allocation that would OOM. */
  private def boundedTaskRows[T: scala.reflect.ClassTag](
      it: Iterator[T], bound: Long, what: String): Array[T] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[T]
    while (it.hasNext) {
      if (buf.length >= bound) throw new IllegalStateException(
        s"$what: a task materialized more than $bound rows of segment " +
          "graph — segments must be sized to executor memory; raise " +
          "the segment count (or spark.graft.hnsw.maxTaskRows if the " +
          "executors really have the headroom)")
      buf += it.next()
    }
    buf.toArray
  }

  /** One build+serve pass of the segment-NSW graph index (shared by
    * the `emb_hnsw_topk` query and the parameter probe tool): builds S
    * per-segment graphs in parallel, persists (vectors + adjacency)
    * partitioned by segment under `idx`, and serves the 10 standard
    * probes by greedy per-segment search merged across segments.
    * `visitedTotal` is a thunk (one distinct-aggregate over the
    * persisted serve rows) so gates can price it lazily. */
  private[graft] case class HnswRun(out: DataFrame,
      visitedTotal: () => Long, nVec: Long, nProbes: Long, segments: Int)

  /** Build NSW graphs for `vectors` (vec_id, e, seg) — one graph per
    * segment value present, in parallel — and persist (vectors +
    * adjacency) partitioned by segment under `idx` (append mode: a
    * later batch lands as ITS OWN segment next to the existing ones,
    * the Lucene segment-append model — base segments are never
    * reopened). */
  private[graft] def hnswBuildSegments(vectors: DataFrame,
      idx: java.nio.file.Path, efC: Int, m: Int, maxDeg: Int): Unit =
    hnswGraphRows(vectors, efC, m, maxDeg)
      .write.mode("append").partitionBy("seg").parquet(idx.toString)

  /** The ONE per-task graph-build body both persistence routes run
    *: materialize the task's rows bounded, build one NSW graph
    * per segment present, emit (vec_id, e, nbrs, seg). Shared so the
    * versioned index's graphs can never desynchronize from the plain
    * layout's. */
  private def buildGraphPartition(it: Iterator[(Long, Seq[Double], Int)],
      efC: Int, m: Int, maxDeg: Int, taskBound: Long)
      : Iterator[(Long, Seq[Double], Seq[Long], Int)] = {
    val rows = boundedTaskRows(it, taskBound, "hnswBuild")
    rows.groupBy(_._3).iterator.flatMap { case (sg, rs) =>
      val vec = rs.map(t => (t._1, t._2.toArray)).sortBy(_._1)
      val adj = nswBuild(vec, m = m, efC = efC, maxDeg = maxDeg)
      vec.iterator.map { case (id, e) =>
        (id, e.toSeq, adj(id).toSeq, sg) }
    }
  }

  /** The per-segment graph construction hnswBuildSegments persists —
    * factored out so the VERSIONED index lifecycle commits the
    * same rows through the table protocol. */
  private def hnswGraphRows(vectors: DataFrame, efC: Int, m: Int,
      maxDeg: Int): DataFrame = {
    val s = vectors.sparkSession
    import s.implicits._
    // Resolved on the DRIVER and captured: executor sysprops are not
    // the session's.
    val taskBound = hnswMaxTaskRows
    vectors
      .repartition(col("seg"))
      .as[(Long, Seq[Double], Int)]
      .mapPartitions(it =>
        buildGraphPartition(it, efC, m, maxDeg, taskBound))
      .toDF("vec_id", "e", "nbrs", "seg")
  }

  /** VERSIONED INDEX LIFECYCLE — the HNSW segments as a GRAFT
    * TABLE, the structural unlock array payloads buy: every build
    * batch is an APPEND COMMIT (O(batch) delta manifest, seg zonemaps
    * riding the data lines so an equality probe on `seg` prunes files
    * exactly like the `seg=` directories of the plain-parquet layout),
    * a segment MERGE is ONE atomic rewrite commit (crash-safe by the
    * putIfAbsent publish — a reader sees the pre-merge index or the
    * post-merge index, never a hole or a superset), time travel serves
    * any historical index version, and expire() vacuums retired
    * segment files on the operator's schedule. Segment rows cluster
    * one-seg-per-file by an EXACT partitioner (see the body) so a
    * merge can retire exactly the named segments' files; a misaligned
    * file (a foreign commit) refuses the merge loudly rather than
    * dropping innocent rows. */
  private[graft] def hnswCommitSegments(vectors: DataFrame,
      idx: java.nio.file.Path, efC: Int, m: Int, maxDeg: Int): Long = {
    val s = vectors.sparkSession
    import s.implicits._
    // ONE FILE PER SEGMENT BY CONSTRUCTION, one parallel job: an
    // EXACT partitioner routes each segment to its own task (never a
    // range-partitioner's sampling luck, never hash collisions), so a
    // merge can retire whole files without touching innocent rows and
    // each file's seg zonemap is exactly [seg, seg] — while a
    // multi-segment base build still constructs every graph in
    // parallel. The write introduces no shuffle after the build, so
    // task partitions become files one-to-one.
    val segs = vectors.select("seg").distinct().collect()
      .map(_.getInt(0)).sorted
    require(segs.nonEmpty, s"hnswCommitSegments: no segments in input")
    val segIdx = segs.zipWithIndex.toMap
    val taskBound = hnswMaxTaskRows
    val part = new org.apache.spark.Partitioner {
      override def numPartitions: Int = segs.length
      override def getPartition(key: Any): Int =
        segIdx(key.asInstanceOf[Int])
    }
    val built = vectors.as[(Long, Seq[Double], Int)].rdd
      .map(t => (t._3, t))
      .partitionBy(part)
      .values
      .mapPartitions(it =>
        buildGraphPartition(it, efC, m, maxDeg, taskBound))
    val graph = s.createDataset(built).toDF("vec_id", "e", "nbrs", "seg")
    VersionedTable.latestVersion(idx) match {
      case None =>
        VersionedTable.commitWithStats(s, idx, 0L, graph,
          statsCol = "seg", rowCounts = true)
        0L
      // Index continuity recomputes the new files' seg zonemaps in
      // the appendCommit itself — the batch joins the skipping index.
      case Some(_) => VersionedTable.appendCommit(s, idx, graph).version
    }
  }

  /** Merge the named segments of a VERSIONED index into `target` as
    * ONE rewrite commit: reads the stored vectors (never the source
    * corpus) at the latest version, rebuilds with the deterministic
    * vec_id-ordered insertion build, stages the new segment, and
    * atomically swaps the merged segments' files for it. Untouched
    * segments' manifest lines carry byte-verbatim; the pre-merge index
    * stays time-travelable until expire(). */
  private[graft] def hnswMergeCommit(s: SparkSession,
      idx: java.nio.file.Path, merge: Seq[Int], target: Int,
      efC: Int = HnswEfC, m: Int = HnswM, maxDeg: Int = HnswMaxDeg): Long = {
    val base = VersionedTable.latestVersion(idx).getOrElse(
      throw new IllegalArgumentException(
        s"hnswMergeCommit: no committed index at $idx"))
    val mergeSet = merge.toSet
    require(merge.nonEmpty && !mergeSet.contains(target),
      s"hnswMergeCommit: target seg=$target must be a NEW segment " +
        s"(merging $merge)")
    val stats = VersionedTable.statsManifest(idx, base)
    require(!stats.exists { case (_, mn, mx) => mn <= target && target <= mx },
      s"hnswMergeCommit: seg=$target already holds rows at version $base")
    merge.foreach(sg => require(
      stats.exists { case (_, mn, mx) => mn <= sg && sg <= mx },
      s"hnswMergeCommit: seg=$sg holds no rows at version $base"))
    val touched = stats.filter { case (_, mn, mx) =>
      merge.exists(sg => mn <= sg && sg <= mx) }
    touched.foreach { case (f, mn, mx) =>
      // Overflow-safe: a near-full-Long span would make mx - mn
      // negative and the range enumeration must never run.
      val span = mx - mn
      require(mx >= mn && span >= 0 && span <= 1024 &&
          (mn to mx).forall(v => mergeSet(v.toInt)),
        s"hnswMergeCommit: file $f spans segments [$mn, $mx] outside " +
          s"the merge set $merge — seg-misaligned files cannot retire " +
          "atomically; re-commit the index one segment per file")
    }
    val vecs = s.read.format("graft-table")
      .option("version", base.toString).load(idx.toString)
      .where(col("seg").isin(merge.map(Int.box): _*))
      .selectExpr("vec_id", "e", s"CAST($target AS INT) AS seg")
    val dataDir = idx.resolve("data").resolve(
      "merge-" + java.util.UUID.randomUUID().toString.take(8))
    locally {
      val g = hnswGraphRows(vecs, efC, m, maxDeg).coalesce(1)
      graft.operators.VersionedTable.ensureMicrosTimestamps(g)
      g.write.parquet(dataDir.toString)
    }
    val staged = {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dataDir)
      try walk.iterator().asScala.filter(p =>
          java.nio.file.Files.isRegularFile(p) &&
            p.toString.endsWith(".parquet"))
        .map(p => idx.relativize(p).toString).toSeq.sorted
      finally walk.close()
    }
    VersionedTable.replaceFilesCommit(s, idx, base, touched.map(_._1),
      staged, "hnswMergeCommit")
  }

  /** Serve the standard probes from a VERSIONED index — optionally at
    * a historical version (time travel over index state). */
  private[graft] def hnswServeVersioned(s: SparkSession,
      idx: java.nio.file.Path, efServe: Int, segments: Int,
      asOf: Option[Long] = None): HnswRun = {
    val r = s.read.format("graft-table")
    val g = asOf.fold(r)(v => r.option("version", v.toString))
      .load(idx.toString)
    hnswServeFrame(s, g, efServe, segments)
  }

  /** SEGMENT MERGE — the maintenance verb that keeps the
    * segment-append model honest (the Lucene merge policy): without
    * one, continuous ingest grows one segment per batch forever and
    * serve cost — each probe greedy-searches EVERY segment — grows
    * linearly with ingest history (a year of hourly batches ≈ 9k
    * segments and the sublinearity gate inverts). The merge rebuilds
    * the NAMED small segments into ONE new segment (reading their
    * stored vectors — never the source corpus — and running the same
    * deterministic vec_id-ordered insertion build), writes it as a new
    * segment directory, and only THEN retires the inputs, so a crash
    * leaves a searchable superset, never a hole. Untouched segments
    * are never reopened (the no-rebuild contract emb_hnsw_append
    * witnesses byte-for-byte). Cost O(Σ merged rows · efC · deg) —
    * the merged segments' size, independent of the base. */
  private[graft] def hnswMergeSegments(s: SparkSession,
      idx: java.nio.file.Path, merge: Seq[Int], target: Int,
      efC: Int = HnswEfC, m: Int = HnswM, maxDeg: Int = HnswMaxDeg): Unit = {
    require(merge.nonEmpty && !merge.contains(target),
      s"hnswMergeSegments: target seg=$target must be a NEW segment " +
        s"(merging $merge)")
    merge.foreach(sg => require(
      java.nio.file.Files.isDirectory(idx.resolve(s"seg=$sg")),
      s"hnswMergeSegments: seg=$sg does not exist under $idx"))
    require(!java.nio.file.Files.exists(idx.resolve(s"seg=$target")),
      s"hnswMergeSegments: seg=$target already exists under $idx")
    val vecs = s.read.parquet(idx.toString)
      .where(col("seg").isin(merge.map(Int.box): _*))
      .selectExpr("vec_id", "e", s"CAST($target AS INT) AS seg")
    hnswBuildSegments(vecs, idx, efC, m, maxDeg)
    // Inputs retire only after the replacement is fully written.
    val fs = new org.apache.hadoop.fs.Path(idx.toUri)
      .getFileSystem(s.sessionState.newHadoopConf())
    merge.foreach(sg =>
      fs.delete(new org.apache.hadoop.fs.Path(idx.resolve(s"seg=$sg").toUri), true))
  }

  /** ROUTED serve — the IVF×HNSW hybrid every large vector
    * store converges on (FAISS IVF-HNSW, SPANN's centroid router):
    * when segments are SPATIAL (each cell = a coarse-codebook
    * centroid's vectors, not an ingest slice), a probe needs only its
    * `nprobe` nearest cells — the coarse router costs O(k·probes) on
    * tiny broadcast centroids, and serve work per probe drops from
    * "every segment's graph" to nprobe graphs REGARDLESS of segment
    * count: this is the structural answer to segment proliferation
    * that merging alone only postpones. The scan itself prunes to the
    * routed cells' partition directories (seg= pushdown), so unprobed
    * segments are neither read nor searched. Recall is the IVF trade:
    * routing loss dominates (the per-cell graphs are near-exact), so
    * the gate is the IVF floor, not the unrouted 9/10. */
  private[graft] def hnswServeRouted(s: SparkSession,
      idx: java.nio.file.Path, efServe: Int, nprobe: Int): HnswRun = {
    import s.implicits._
    val g = s.read.parquet(idx.resolve("graph").toString)
    val cents = s.read.parquet(idx.resolve("centroids").toString)
      .selectExpr("cell", "CAST(cvec AS array<double>) AS cvec").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val probes = g.where($"vec_id" < 10)
      .select($"vec_id", $"e").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    // Coarse routing, driver-side: k centroids × 10 probes. Ties to
    // the smaller cell — the module's total-order rule.
    val routed: Map[Long, Set[Int]] = probes.map { case (qid, qe) =>
      qid -> cents.map { case (c, cv) => (cosineLocal(qe, cv), c) }
        .sortBy { case (sim, c) => (-sim, c) }
        .take(nprobe).map(_._2).toSet
    }.toMap
    val union = routed.values.flatten.toSet.toSeq.sorted
    val routedB = s.sparkContext.broadcast(routed)
    val probesB = s.sparkContext.broadcast(probes)
    val taskBound = hnswMaxTaskRows
    val served = g.where($"seg".isin(union.map(Int.box): _*))
      .select($"seg", $"vec_id", $"e", $"nbrs")
      .repartition(col("seg"))
      .as[(Int, Long, Seq[Double], Seq[Long])]
      .mapPartitions { it =>
        val rows = boundedTaskRows(it, taskBound, "hnswServeRouted")
        rows.groupBy(_._1).iterator.flatMap { case (sg, rs) =>
          val qs = probesB.value
            .filter { case (qid, _) => routedB.value(qid).contains(sg) }
          if (qs.isEmpty) Iterator.empty
          else {
            val vecs = rs.map(t => t._2 -> t._3.toArray).toMap
            val adj = rs.map(t => t._2 -> t._4).toMap
            val entry = rs.iterator.map(_._2).min
            qs.iterator.flatMap { case (qid, qe) =>
              val (cands, visited) = nswSearch(qe, entry,
                x => adj.getOrElse(x, Nil), vecs, ef = efServe)
              cands.take(8).map { case (nid, sim) =>
                (qid, nid, sim, sg, visited) }
            }
          }
        }
      }
      .toDF("qid", "nid", "sim", "seg", "visited")
      .persist()
    // ROUTING WITNESS, in-path: every probe's serve rows span exactly
    // its nprobe routed cells — counted from what actually ran, not
    // assumed from the routing table.
    val perProbe = served.select($"qid", $"seg").distinct()
      .groupBy($"qid").agg(count(lit(1)).as("cells")).collect()
    require(perProbe.length == probes.length &&
        perProbe.forall(_.getLong(1) == math.min(nprobe, cents.length)),
      s"hnswServeRouted: probes searched " +
        s"${perProbe.map(_.getLong(1)).toSeq} cells, expected " +
        s"$nprobe of ${cents.length} each")
    val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"nid")
    val out = served.where($"nid" =!= $"qid")
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= 3)
      .selectExpr("qid", "rank", "nid",
        "CAST(floor(sim * 1000000) AS BIGINT) AS sim_e6")
      .orderBy("qid", "rank")
    HnswRun(out,
      () => served.select($"qid", $"seg", $"visited").distinct()
        .agg(sum($"visited")).head().getLong(0),
      g.count(), probes.length.toLong, cents.length)
  }

  private[graft] def hnswBuildServe(s: SparkSession, dir: String,
      idx: java.nio.file.Path, segments: Int, efServe: Int,
      efC: Int = 24, m: Int = 8, maxDeg: Int = 16): HnswRun = {
    import s.implicits._
    // BUILD: one corpus pass, `segments` graphs in parallel.
    hnswBuildSegments(Tables.embeddings(s, dir)
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS e",
        s"CAST(vec_id % $segments AS INT) AS seg"),
      idx, efC, m, maxDeg)
    hnswServe(s, idx, efServe, segments)
  }

  /** Serve the 10 standard probes from the STORED segments under
    * `idx` — greedy per-segment search merged across segments; no
    * corpus reference. */
  private[graft] def hnswServe(s: SparkSession, idx: java.nio.file.Path,
      efServe: Int, segments: Int): HnswRun =
    hnswServeFrame(s, s.read.parquet(idx.toString), efServe, segments)

  /** [[hnswServe]] over an explicit segment frame — the
    * versioned-index read path serves through here too. */
  private[graft] def hnswServeFrame(s: SparkSession, g: DataFrame,
      efServe: Int, segments: Int): HnswRun = {
    import s.implicits._
    val probes = g.where($"vec_id" < 10)
      .select($"vec_id", $"e").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val probesB = s.sparkContext.broadcast(probes)
    // Co-locate each segment before grouping: the parquet read splits
    // big segment files across input partitions (maxPartitionBytes),
    // and a graph searched from HALF its adjacency map would crash or
    // mis-serve. One shuffle keyed on seg — the same clustering the
    // build pass used.
    val taskBound = hnswMaxTaskRows
    val served = g.select($"seg", $"vec_id", $"e", $"nbrs")
      .repartition(col("seg"))
      .as[(Int, Long, Seq[Double], Seq[Long])]
      .mapPartitions { it =>
        val rows = boundedTaskRows(it, taskBound, "hnswServe")
        rows.groupBy(_._1).iterator.flatMap { case (sg, rs) =>
          val vecs = rs.map(t => t._2 -> t._3.toArray).toMap
          val adj = rs.map(t => t._2 -> t._4).toMap
          val entry = rs.iterator.map(_._2).min
          probesB.value.iterator.flatMap { case (qid, qe) =>
            val (cands, visited) = nswSearch(qe, entry,
              x => adj.getOrElse(x, Nil), vecs, ef = efServe)
            cands.take(8).map { case (nid, sim) =>
              (qid, nid, sim, sg, visited) }
          }
        }
      }
      .toDF("qid", "nid", "sim", "seg", "visited")
      .persist()
    val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"nid")
    val out = served.where($"nid" =!= $"qid")
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= 3)
      .selectExpr("qid", "rank", "nid",
        "CAST(floor(sim * 1000000) AS BIGINT) AS sim_e6")
      .orderBy("qid", "rank")
    HnswRun(out,
      () => served.select($"qid", $"seg", $"visited").distinct()
        .agg(sum($"visited")).head().getLong(0),
      g.count(), probes.length.toLong, segments)
  }

  /** Hard ceiling for the deliberately-quadratic exactness yardstick
    * below: 10k vectors ≈ 5·10⁷ scored pairs, a few seconds on one
    * node — the most an O(n²) plan should ever silently run. Above it
    * the query REFUSES to build (the scale route is emb_blocked_pairs /
    * emb_ann_topk), instead of quietly burning a cluster. */
  private[queries] val CosinePairsYardstickMax = 10000L

  /** PQ geometry shared by the in-query route (emb_pq_topk) and the
    * persisted build/serve split (emb_pq_persisted): 8 subspaces of
    * 8 dims; the k exact label means act as every subspace's
    * sub-codebook (the deterministic k-means stand-in, same as IVF). */
  private val PqM = 8
  private val PqSub = 8

  /** The k-row label-mean codebook, exact fixed-point (floor(x·10⁶))
    * like every derived-centroid route in this module. */
  private def labelCodebook(s: SparkSession, dir: String): Array[Array[Double]] = {
    import s.implicits._
    val sumAgg = udaf(new ElementwiseSum(64))
    Tables.embeddings(s, dir)
      .selectExpr("label",
        "transform(cast(embedding AS array<double>), x -> CAST(floor(x * 1000000) AS BIGINT)) AS e6")
      .groupBy($"label").agg(count(lit(1)).as("n"), sumAgg($"e6").as("sums"))
      .selectExpr("label", "transform(sums, x -> x / (n * 1e6)) AS cvec")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2)
  }

  /** PQ ENCODE: per subspace, nearest sub-codebook entry by L2 (ties →
    * smaller code id); carries the reconstruction's squared norm so
    * scoring never touches the original floats. One typed pass. */
  private def pqEncode(s: SparkSession, emb: DataFrame,
      codes: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    val kN = codes.length
    emb.as[(Long, Array[Float])].map { case (id, e) =>
      val cs = new Array[Int](PqM)
      var norm2 = 0.0
      var m = 0
      while (m < PqM) {
        var best = 0; var bestD = Double.MaxValue; var k = 0
        while (k < kN) {
          var d = 0.0; var i = m * PqSub
          while (i < (m + 1) * PqSub) {
            val diff = e(i) - codes(k)(i); d += diff * diff; i += 1
          }
          if (d < bestD) { bestD = d; best = k }
          k += 1
        }
        cs(m) = best
        var i = m * PqSub
        while (i < (m + 1) * PqSub) {
          norm2 += codes(best)(i) * codes(best)(i); i += 1
        }
        m += 1
      }
      (id, cs, norm2)
    }.toDF("vec_id", "codes", "cnorm2")
  }

  /** ASYMMETRIC-DISTANCE score of one PQ-coded row against a probe:
    * dot(q, centroid reconstruction) / (|q|·|reconstruction|), in
    * fixed-point e6 — the compressed-domain scorer shared by the flat
    * PQ routes and the IVF×PQ composition (one definition keeps their
    * equality gates honest). */
  private def adcApproxE6(qe: Array[Float], cs: Array[Int],
      cnorm2: Double, codes: Array[Array[Double]]): Long = {
    var dot = 0.0; var qn2 = 0.0
    var i = 0
    while (i < qe.length) { qn2 += qe(i).toDouble * qe(i); i += 1 }
    var m = 0
    while (m < PqM) {
      val c = codes(cs(m))
      var j = m * PqSub
      while (j < (m + 1) * PqSub) { dot += qe(j) * c(j); j += 1 }
      m += 1
    }
    val denom = math.sqrt(qn2) * math.sqrt(cnorm2)
    val approx = if (denom > 0) dot / denom else -1.0
    math.floor(approx * 1000000).toLong
  }

  /** PQ SERVE: asymmetric-distance shortlist over the CODES table
    * (compressed-domain scan — dot(q, reconstruction) per (probe,
    * code row) in one typed pass over the broadcast probe join), then
    * an exact cosine rerank that fetches only the shortlist's full
    * vectors from `vectors` (vec_id, embedding). `corpusN` sizes the
    * shortlist (max(30, n/16)). */
  private def pqServe(s: SparkSession, enc: DataFrame, vectors: DataFrame,
      probes: DataFrame, codes: Array[Array[Double]],
      corpusN: Long): DataFrame = {
    import s.implicits._
    val scored = enc.join(broadcast(probes), $"vec_id" =!= $"qid")
      .select($"qid", $"qe", $"vec_id", $"codes", $"cnorm2")
      .as[(Long, Array[Float], Long, Array[Int], Double)]
      .map { case (qid, qe, vid, cs, cnorm2) =>
        (qid, vid, adcApproxE6(qe, cs, cnorm2, codes))
      }.toDF("qid", "nid", "approx_e6")
    val shortlist = math.max(30L, corpusN / 16)
    val wCand = Window.partitionBy($"qid").orderBy($"approx_e6".desc, $"nid")
    val cand = scored
      .withColumn("crk", row_number().over(wCand))
      .where($"crk" <= shortlist)
      .select($"qid", $"nid")
    // Exact rerank of the shortlist only.
    val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"nid")
    cand
      .join(vectors.select($"vec_id".as("nid"), $"embedding"), "nid")
      .join(broadcast(probes), "qid")
      .withColumn("sim", call_function("cosine_sim", $"qe", $"embedding"))
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= 3)
      .selectExpr("qid", "rank", "nid",
        "CAST(floor(sim * 1000000) AS BIGINT) AS sim_e6")
      .orderBy("qid", "rank")
  }

  /** IVF×PQ SERVE — the composed route (emb_ivfpq_persisted's body,
    * factored so the persisted variant gates EXACT row equality
    * against the same math over in-memory frames): probes pick their
    * nprobe=3 cells against the coarse codebook, the ADC
    * compressed-domain scan runs ONLY inside those cells' code
    * postings (never the whole codes table — the sublinear step IVF
    * adds to flat PQ), a per-probe shortlist reranks exactly from
    * `vectors`. The shortlist SCALES with the corpus (max(30, n/16),
    * the emb_pq_topk lesson: a fixed rerank budget silently starves
    * recall as the corpus grows — caught again here by the recall
    * gate at the 10× fixture). Tie rules match the whole module:
    * cells by csim desc then cell; candidates by approx desc then
    * nid; final by sim desc then nid. */
  private def ivfPqTop3(enc: DataFrame, cent: DataFrame,
      vectors: DataFrame, codes: Array[Array[Double]],
      corpusN: Long): DataFrame = {
    val s = enc.sparkSession
    import s.implicits._
    val probes = vectors.where($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val wP = Window.partitionBy($"qid").orderBy($"csim".desc, $"cell")
    val probeCells = probes.crossJoin(broadcast(cent))
      .withColumn("csim", call_function("cosine_sim", $"qe", $"cvec"))
      .withColumn("crk", row_number().over(wP))
      .where($"crk" <= 3)
      .select($"qid", $"qe", $"cell")
    val scored = enc.join(broadcast(probeCells), Seq("cell"))
      .where($"vec_id" =!= $"qid")
      .select($"qid", $"qe", $"vec_id", $"codes", $"cnorm2")
      .as[(Long, Array[Float], Long, Array[Int], Double)]
      .map { case (qid, qe, vid, cs, cnorm2) =>
        (qid, vid, adcApproxE6(qe, cs, cnorm2, codes))
      }.toDF("qid", "nid", "approx_e6")
    val shortlist = math.max(30L, corpusN / 16)
    val wCand = Window.partitionBy($"qid").orderBy($"approx_e6".desc, $"nid")
    val cand = scored
      .withColumn("crk", row_number().over(wCand))
      .where($"crk" <= shortlist)
      .select($"qid", $"nid")
    val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"nid")
    cand
      .join(vectors.select($"vec_id".as("nid"), $"embedding"), "nid")
      .join(broadcast(probes), "qid")
      .withColumn("sim", call_function("cosine_sim", $"qe", $"embedding"))
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= 3)
      .selectExpr("qid", "rank", "nid",
        "CAST(floor(sim * 1000000) AS BIGINT) AS sim_e6")
      .orderBy("qid", "rank")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Per-vector squared-norm (sequential double fold = DuckDB's
    // list_sum order) + per-label integer rollup.
    "emb_norms" -> ((s, dir) => {
      import s.implicits._
      Tables.embeddings(s, dir)
        .selectExpr("label", "size(embedding) AS dim",
          "CAST(floor(aggregate(cast(embedding AS array<double>), 0D, (acc, x) -> acc + x * x) * 1000000) AS BIGINT) AS norm2_e6")
        .groupBy($"label")
        .agg(count(lit(1)).as("n"), max($"dim").as("dim"),
          sum($"norm2_e6").as("sum_norm2_e6"))
        .orderBy("label")
    }),

    // Exact k-NN for 10 probe vectors: the 10-row probe side is
    // broadcast, so the scan side streams once with no shuffle — the
    // brute-force baseline every ANN variant is measured against.
    "emb_knn" -> ((s, dir) => knnPlan(s, dir, 5)),

    // All-pairs cosine ≥ 0.38 (fixture max is 0.513). Quadratic by
    // definition — correct at verify scale; the linear-ish route at
    // 100 TB is emb_ann_topk below.
    "emb_cosine_pairs" -> ((s, dir) => {
      import s.implicits._
      // Loud size guard: the quadratic yardstick must never silently
      // run at scale — a cheap metadata-backed count() vetoes the plan
      // before any pair is built (emb_blocked_pairs carries the SAME
      // oracle SQL and is the plan to run past this ceiling).
      val n = Tables.embeddings(s, dir).count()
      require(n <= CosinePairsYardstickMax,
        s"emb_cosine_pairs is the O(n²) exactness yardstick, capped at " +
          s"$CosinePairsYardstickMax vectors; got $n — run emb_blocked_pairs " +
          "(same oracle, block-pruned) at this scale instead")
      // spread: the 2M-pair scoring loop parallelizes over STREAM-side
      // splits, and the fixture file is a single split — one task would
      // run the whole quadratic loop (QueryModule.spread; no-op at scale).
      val a = QueryModule.spread(
        Tables.embeddings(s, dir).select($"vec_id".as("v1"), $"embedding".as("e1")))
      val b = Tables.embeddings(s, dir).select($"vec_id".as("v2"), $"embedding".as("e2"))
      a.join(b, $"v1" < $"v2")
        .withColumn("sim", call_function("cosine_sim", $"e1", $"e2"))
        .where($"sim" >= 0.38)
        .selectExpr("v1", "v2", "CAST(floor(sim * 1000000) AS BIGINT) AS sim_e6")
        .orderBy("v1", "v2")
    }),

    // The SCALE-SAFE exact sibling of emb_cosine_pairs: the same
    // threshold join (cosine ≥ 0.38, PROVABLY the same output — the
    // oracle is literally the same SQL), but block-structured instead
    // of all-pairs. Vectors are assigned to their nearest centroid cell
    // (one narrow typed pass; the K×64-double centroid table is the
    // same tiny collected offline step as the PQ codebook), each cell
    // records its angular radius r = max angle(member, center), and a
    // cell PAIR survives only if the spherical triangle inequality
    // allows a qualifying pair across it:
    //   angle(u,v) ≥ angle(ca,cb) − r_a − r_b   for u∈a, v∈b
    // so (a,b) is pruned when angle(ca,cb) − r_a − r_b > acos(τ) —
    // no qualifying pair can be lost, for ANY cell assignment (ties in
    // the argmax don't matter for correctness, only for pruning
    // quality). Exact cosine then verifies inside surviving pairs only,
    // keyed by pair id — equi-joins end to end, no cartesian (plan-
    // guarded). On this fixture's near-uniform embeddings the loose
    // τ=0.38 keeps most cell pairs (the honest cost of EXACT results on
    // unclustered data); on real clustered embeddings the same plan
    // prunes most of the K² pairs, and compute drops from n²/2 to
    // Σ_kept |a|·|b| — the blocked-join scale route.
    "emb_blocked_pairs" -> ((s, dir) => {
      import s.implicits._
      val tau = 0.38
      val sumAgg = udaf(new ElementwiseSum(64))
      // Offline step 1: per-label mean vectors as cell centers
      // (deterministic k-means stand-in, same convention as emb_ivf).
      val centers: Array[Array[Double]] = Tables.embeddings(s, dir)
        .selectExpr("label",
          "transform(cast(embedding AS array<double>), x -> CAST(floor(x * 1000000) AS BIGINT)) AS e6")
        .groupBy($"label").agg(count(lit(1)).as("n"), sumAgg($"e6").as("sums"))
        .selectExpr("label", "transform(sums, x -> x / (n * 1e6)) AS cvec")
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).map(_._2)
      val K = centers.length
      def cosFD(e: Array[Float], c: Array[Double]): Double = {
        var dot = 0.0; var n1 = 0.0; var n2 = 0.0; var i = 0
        while (i < e.length && i < c.length) {
          dot += e(i) * c(i); n1 += e(i).toDouble * e(i); n2 += c(i) * c(i); i += 1
        }
        val d = math.sqrt(n1) * math.sqrt(n2)
        if (d > 0) dot / d else -1.0
      }
      // Pure-double cosine for the center-center pruning bound: routing
      // one center through cosFD would truncate it to Float, perturbing
      // the cosine by ~1e-7 — amplified by acos near ±1, which exceeds a
      // 1e-9 slack and could (flakily) lose a boundary cell pair.
      def cosDD(a: Array[Double], b: Array[Double]): Double = {
        var dot = 0.0; var n1 = 0.0; var n2 = 0.0; var i = 0
        while (i < a.length && i < b.length) {
          dot += a(i) * b(i); n1 += a(i) * a(i); n2 += b(i) * b(i); i += 1
        }
        val d = math.sqrt(n1) * math.sqrt(n2)
        if (d > 0) dot / d else -1.0
      }
      val emb = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      // Assignment: one narrow typed pass, centers ride the closure.
      val assigned = QueryModule.spread(emb).as[(Long, Array[Float])]
        .map { case (id, e) =>
          var best = 0; var bestCos = -2.0; var k = 0
          while (k < K) {
            val cc = cosFD(e, centers(k))
            if (cc > bestCos) { bestCos = cc; best = k }
            k += 1
          }
          (id, best, bestCos, e)
        }
        .toDF("vec_id", "cell", "ccos", "embedding")
        .persist()
      // Offline step 2: per-cell angular radius — K tiny rows.
      def ang(c: Double): Double = math.acos(math.max(-1.0, math.min(1.0, c)))
      val radius: Map[Int, Double] = assigned.groupBy($"cell")
        .agg(min($"ccos").as("mn")).collect()
        .map(r => r.getInt(0) -> ang(r.getDouble(1))).toMap
      // Offline step 3: surviving cell pairs under the triangle bound.
      // Center-center angle computed in pure double (cosDD); the 1e-6
      // slack absorbs acos rounding with margin — pruning slack only
      // KEEPS extra pairs, so widening is always safe, and correctness
      // never rides on the boundary: the exact verify inside does the
      // real filtering.
      val thetaTau = ang(tau)
      val kept = for {
        a <- 0 until K if radius.contains(a)
        b <- a until K if radius.contains(b)
        if ang(cosDD(centers(a), centers(b))) -
          radius(a) - radius(b) <= thetaTau + 1e-6
      } yield (a.toLong * K + b, a, b)
      val pairs = kept.toDF("pid", "pa", "pb")
      // Candidate generation: both sides fan out over the (broadcast)
      // pair list on THEIR cell column, then meet in an equi-join on
      // the pair id — K² distinct keys, so the verify stage spreads
      // over pairs, not over the (few) cells.
      val left = assigned.select($"vec_id".as("v1"), $"cell", $"embedding".as("e1"))
        .join(broadcast(pairs), $"cell" === $"pa")
        .select($"pid", $"pa", $"pb", $"v1", $"e1")
      val right = assigned.select($"vec_id".as("v2"), $"cell", $"embedding".as("e2"))
        .join(broadcast(pairs), $"cell" === $"pb").select($"pid".as("pid2"), $"v2", $"e2")
      left.join(right, $"pid" === $"pid2")
        // A same-cell pair would otherwise appear mirrored (both sides
        // fan the cell out); order by id there. A cross-cell pair
        // appears in exactly one (pa,pb) arrangement already.
        .where($"pa" =!= $"pb" || $"v1" < $"v2")
        .withColumn("sim", call_function("cosine_sim", $"e1", $"e2"))
        .where($"sim" >= tau)
        .selectExpr("least(v1, v2) AS v1", "greatest(v1, v2) AS v2",
          "CAST(floor(sim * 1000000) AS BIGINT) AS sim_e6")
        .orderBy("v1", "v2")
    }),

    // Per-label centroids in fixed point: elements quantized to ints
    // (floor(x·10⁶)), summed element-wise by the custom Aggregator —
    // exact, order-independent, and only 64-long arrays cross the
    // shuffle. Output is (label, dim, sum) long form.
    "emb_centroid" -> ((s, dir) => {
      import s.implicits._
      val e6 = Tables.embeddings(s, dir).selectExpr("label",
        "transform(cast(embedding AS array<double>), x -> CAST(floor(x * 1000000) AS BIGINT)) AS e6")
      val sumAgg = udaf(new ElementwiseSum(64))
      e6.groupBy($"label").agg(count(lit(1)).as("n"), sumAgg($"e6").as("sums"))
        .selectExpr("label", "n", "posexplode(sums) AS (pos, sum_e6)")
        .selectExpr("label", "n", "pos + 1 AS dim", "sum_e6")
        .orderBy("label", "dim")
    }),

    // Int8 quantization calibration: per-dimension min/max and the
    // derived (range/255) scale — the parameter table an embedding
    // store needs before packing float vectors into int8 codes (PQ's
    // cheaper cousin, and the emb_pq_topk storage companion). All
    // fixed-point: values floor to 1e-6 ticks, the scale is reported in
    // 1e-9 ticks via integer division — no float leaves the plan.
    // Shape note: posexplode emits narrow (dim, long) rows and min/max
    // partial-aggregate collapses every map partition to ≤64 rows
    // before the shuffle, so the 64× row blow-up never crosses the
    // wire; 64 groups → one tiny final stage at any corpus size.
    "emb_int8_quant" -> ((s, dir) => {
      import s.implicits._
      Tables.embeddings(s, dir)
        .selectExpr("posexplode(cast(embedding AS array<double>)) AS (pos, v)")
        .selectExpr("pos + 1 AS dim",
          "CAST(floor(v * 1000000) AS BIGINT) AS v6")
        .groupBy($"dim")
        .agg(count(lit(1)).as("n"),
          min($"v6").as("vmin_e6"), max($"v6").as("vmax_e6"))
        .selectExpr("dim", "n", "vmin_e6", "vmax_e6",
          "(vmax_e6 - vmin_e6) * 1000 div 255 AS scale_e9")
        .orderBy("dim")
    }),

    // SCALAR-QUANTIZED (SQ8) SEARCH — the search path that
    // actually USES emb_int8_quant's parameter table: vectors packed
    // to 8-bit codes per dimension (4× less memory/bandwidth than
    // float32 — at 100 TB the difference between an in-RAM and an
    // on-disk index), probes scored by integer dot product in the
    // quantized domain. Everything is EXACT integer arithmetic
    // (per-dim global min/range in 1e-6 fixed point, q = (v−min)·255
    // div range ∈ [0,255], scores ≤ 64·255² fit comfortably), so
    // unlike the float ANN routes this one is FULLY ORACLE-BACKED:
    // DuckDB replays the identical quantize+dot+rank pipeline and the
    // driver hash-compares every rank. Shape: the dim-sized stats ride
    // into the plan as broadcast literals (bytes, not a join side),
    // quantization is a narrow codegen'd zip_with, and the probe scan
    // is the emb_knn broadcast-probe shape — one corpus pass, no
    // shuffle. Quantization loss vs the float route is the measured
    // trade, not a bug: the oracle proves the int8 route is computed
    // exactly, not that it equals float ranking.
    "emb_sq8_topk" -> ((s, dir) => {
      import s.implicits._
      val statRows = Tables.embeddings(s, dir)
        .selectExpr("posexplode(cast(embedding AS array<double>)) AS (pos, v)")
        .selectExpr("pos", "CAST(floor(v * 1000000) AS BIGINT) AS v6")
        .groupBy($"pos")
        .agg(min($"v6").as("mn"), max($"v6").as("mx"))
        .orderBy("pos").collect()
      require(statRows.length == 64, s"expected 64 dims, got ${statRows.length}")
      val mins = statRows.map(_.getLong(1)).toSeq
      val ranges = statRows.map(r => r.getLong(2) - r.getLong(1)).toSeq
      val q8 = Tables.embeddings(s, dir)
        .withColumn("mns", typedLit(mins))
        .withColumn("rs", typedLit(ranges))
        .selectExpr("vec_id",
          "zip_with(zip_with(transform(cast(embedding AS array<double>), " +
            "x -> CAST(floor(x * 1000000) AS BIGINT)), mns, (x, mn) -> x - mn), " +
            "rs, (d, r) -> CASE WHEN r = 0 THEN 0L ELSE d * 255 div r END) AS q")
      val probes = q8.where($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"q".as("pq"))
      val w = Window.partitionBy($"qid").orderBy($"score".desc, $"vec_id")
      q8.join(broadcast(probes), $"vec_id" =!= $"qid")
        .selectExpr("qid", "vec_id",
          "aggregate(zip_with(pq, q, (a, b) -> a * b), 0L, (acc, x) -> acc + x) AS score")
        .withColumn("rank", row_number().over(w))
        .where($"rank" <= 3)
        .selectExpr("qid", "CAST(rank AS BIGINT) AS rank",
          "vec_id AS nid", "score")
        .orderBy("qid", "rank")
    }),

    // BINARY QUANTIZATION + HAMMING SHORTLIST + EXACT RERANK —
    // the 1-bit end of the quantization family (float → int8 sq →
    // PQ → sign bit): each 64-dim vector compresses to ONE 64-bit
    // word (bit i = dim i above the per-dim corpus mean — 256×
    // smaller than float32), the probe scan ranks by
    // bit_count(code ^ pcode) — one XOR+popcount per candidate, the
    // cheapest similarity there is, and the reason BQ is the
    // first-stage filter of modern vector stores — and the hamming
    // top-10 shortlist is exactly reranked on the stored fixed-point
    // vectors. Fully deterministic (integer means via truncating
    // division, hamming and score ties by vec_id), so the oracle
    // replays the whole two-stage route exactly — quantization loss
    // vs float ranking is the measured trade, not a bug (the
    // emb_sq8_topk stance). At 100 TB: the corpus scan touches 8
    // bytes/vector; full vectors are read for 10 rows per probe.
    "emb_bq_topk" -> ((s, dir) => {
      import s.implicits._
      val v6 = Tables.embeddings(s, dir).selectExpr("vec_id",
        "transform(cast(embedding AS array<double>), " +
          "x -> CAST(floor(x * 1000000) AS BIGINT)) AS v6")
      val meanRows = v6.selectExpr("posexplode(v6) AS (pos, v)")
        .groupBy($"pos").agg(sum($"v").as("s"), count(lit(1)).as("n"))
        .orderBy("pos").collect()
      require(meanRows.length == 64,
        s"emb_bq_topk: expected 64 dims, got ${meanRows.length}")
      // Truncating integer division — deterministic and replayed
      // byte-identically by DuckDB's `//`.
      val means = meanRows.map(r => r.getLong(1) / r.getLong(2)).toSeq
      val coded = v6.withColumn("ms", typedLit(means))
        .selectExpr("vec_id", "v6",
          "aggregate(zip_with(zip_with(v6, ms, (x, m) -> CASE WHEN x > m " +
            "THEN 1L ELSE 0L END), sequence(0, 63), (b, p) -> " +
            "shiftleft(b, CAST(p AS INT))), 0L, (acc, x) -> acc | x) " +
            "AS code")
      val probes = coded.where($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"code".as("pcode"), $"v6".as("pv6"))
      val wH = Window.partitionBy($"qid").orderBy($"ham".asc, $"vec_id")
      val short = coded.join(broadcast(probes), $"vec_id" =!= $"qid")
        .selectExpr("qid", "vec_id", "v6", "pv6",
          "bit_count(code ^ pcode) AS ham")
        .withColumn("hrank", row_number().over(wH))
        .where($"hrank" <= 10)
      val wS = Window.partitionBy($"qid").orderBy($"score".desc, $"vec_id")
      short.selectExpr("qid", "vec_id",
          "aggregate(zip_with(pv6, v6, (a, b) -> a * b), 0L, " +
            "(acc, x) -> acc + x) AS score")
        .withColumn("rank", row_number().over(wS))
        .where($"rank" <= 3)
        .selectExpr("qid", "CAST(rank AS BIGINT) AS rank",
          "vec_id AS nid", "score")
        .orderBy("qid", "rank")
    }),

    // K-MEANS, Lloyd's algorithm: REAL iterative clustering (the
    // other emb queries use the label centroids as a deterministic
    // k-means stand-in — this is the trainer that would produce such a
    // codebook: IVF cells, PQ sub-codebooks, SemDeDup buckets). k=8,
    // init = the k lowest-vec_id vectors (deterministic, no RNG),
    // ITERS=5 fixed rounds. Per round, the 100-TB shape: centroids ride
    // into the plan as a BROADCAST LITERAL (k×64 doubles — bytes in the
    // plan, not a join side), the assignment is a NARROW codegen'd
    // per-row argmin over that literal (zip_with/aggregate — no
    // shuffle, no UDF), and the update is ONE partial+final aggregate
    // keyed by cluster whose output is k rows — per iteration the
    // corpus is scanned once and shuffles k rows per map partition,
    // nothing else. Element sums run in 1e-6 fixed point via the
    // ElementwiseSum Aggregator (exact + order-independent, so every
    // run converges identically regardless of partitioning; a raw
    // double sum would make the trained codebook depend on merge
    // order). Per-round inertia comes out of the SAME aggregate (no
    // extra pass). Rows-only (centroid trajectories are engine-local);
    // the in-path gate re-derives the final assignment exactly over
    // the fixture and `require`s cluster sizes identical + inertia
    // within fixed-point slack + the recorded inertia sequence
    // monotone non-increasing (Lloyd's invariant).
    "emb_kmeans" -> ((s, dir) => {
      import s.implicits._
      val K = 8; val ITERS = 5
      val sumAgg = udaf(new ElementwiseSum(64))
      val emb = Tables.embeddings(s, dir)
        .selectExpr("vec_id", "cast(embedding AS array<double>) AS e")
        .persist()
      var cents: Array[Array[Double]] = emb.orderBy("vec_id").limit(K)
        .select($"e").collect().map(_.getSeq[Double](0).toArray)
      // Assignment plan against the current centroid literal: d2s =
      // squared L2 to each centroid; ties (exact-equal distances) break
      // to the lowest cluster id via array_position's first-match.
      def assigned(cs: Array[Array[Double]]): DataFrame =
        emb.withColumn("cs", typedLit(cs.map(_.toSeq).toSeq))
          .selectExpr("vec_id",
            "transform(cs, c -> aggregate(zip_with(e, c, (a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x)) AS d2s",
            "transform(e, x -> CAST(floor(x * 1000000) AS BIGINT)) AS e6")
          .selectExpr("vec_id", "e6",
            "CAST(array_position(d2s, array_min(d2s)) - 1 AS INT) AS cluster",
            "CAST(floor(array_min(d2s) * 1000000) AS BIGINT) AS d2_e6")
      def step(cs: Array[Array[Double]]): DataFrame =
        assigned(cs).groupBy($"cluster")
          .agg(count(lit(1)).as("n_points"), sumAgg($"e6").as("sums"),
            sum($"d2_e6").as("inertia_e6"))
      val inertias = Array.newBuilder[Long]
      for (_ <- 0 until ITERS) {
        val rows = step(cents).collect() // k rows: the codebook update
        inertias += rows.map(_.getLong(3)).sum
        val byCluster = rows.map { r =>
          val n = r.getLong(1)
          r.getInt(0) -> r.getSeq[Long](2).map(_ / (n * 1000000.0)).toArray
        }.toMap
        // An emptied cluster keeps its previous centroid (standard
        // Lloyd's fallback; deterministic).
        cents = Array.tabulate(K)(i => byCluster.getOrElse(i, cents(i)))
      }
      val hist = inertias.result()
      val out = step(cents)
        .selectExpr("cluster", "n_points", "inertia_e6")
        .orderBy("cluster")
      QueryModule.gated("emb_kmeans", out) { rows =>
        // Exact local re-derivation — exhaustive by default (bounded at
        // fixture scale: ≤2000 64-dim vectors). Under
        // SPARK_GRAFT_AUDIT_SAMPLE < 1 only the deterministic audit
        // slice is collected (the driver never holds the full table at
        // production scale) and the equality checks relax to the
        // subset bounds a sample can witness: sampled per-cluster
        // sizes/inertia can never EXCEED the distributed totals.
        val sampled = QueryModule.auditSample < 1.0
        val src = if (sampled)
          emb.where(QueryModule.auditSelectedCol($"vec_id")) else emb
        val local = src.select($"vec_id", $"e").collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        val sizes = Array.fill(K)(0L); val inert = Array.fill(K)(0L)
        local.foreach { case (_, e) =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < K) {
            var d = 0.0; var i = 0
            while (i < 64) { val t = e(i) - cents(c)(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          sizes(best) += 1; inert(best) += math.floor(bestD * 1000000).toLong
        }
        rows.foreach { r =>
          val c = r.getInt(0)
          if (sampled) {
            require(sizes(c) <= r.getLong(1),
              s"emb_kmeans gate: audited cluster $c size ${sizes(c)} " +
                s"exceeds the distributed count ${r.getLong(1)}")
            require(inert(c) <= r.getLong(2) + r.getLong(1),
              s"emb_kmeans gate: audited cluster $c inertia ${inert(c)} " +
                s"exceeds the distributed total ${r.getLong(2)} beyond " +
                "fixed-point slack")
          } else {
            require(r.getLong(1) == sizes(c),
              s"emb_kmeans gate: cluster $c size ${r.getLong(1)} != exact ${sizes(c)}")
            require(math.abs(r.getLong(2) - inert(c)) <= r.getLong(1),
              s"emb_kmeans gate: cluster $c inertia ${r.getLong(2)} vs exact " +
                s"${inert(c)} beyond fixed-point slack")
          }
        }
        // Flooring slack is one unit per POINT of the distributed run
        // (not of the audit sample) — take the full count from the
        // output rows so a thin sample doesn't tighten the bound.
        val nFull = rows.map(_.getLong(1)).sum
        hist.sliding(2).foreach { w =>
          if (w.length == 2) require(w(1) <= w(0) + nFull,
            s"emb_kmeans gate: inertia rose ${w(0)} -> ${w(1)} " +
              "(Lloyd's monotonicity violated beyond flooring slack)")
        }
      }
    }),

    // ANN via IVF (inverted file): the label centroids act as the
    // coarse codebook (deterministic k-means stand-in), every vector is
    // assigned to its nearest cell, probes search their nprobe=3
    // nearest cells only — the classic linear-scan→cell-scan trade. At
    // 100 TB the assignment is a write-time partitioning column and a
    // probe touches 3/k of the data. Rows-only (ranking rides on
    // derived centroids); the spec measures recall vs emb_knn.
    "emb_ivf_topk" -> ((s, dir) => {
      val out = ivfTop3InMemory(s, dir)
      // In-path recall gate (EmbeddingSpec's bound, now enforced on
      // every run the driver times): nprobe=3 of ~10 weakly-informative
      // cells on near-uniform vectors must still beat a quarter of the
      // exact top-3.
      QueryModule.gated("emb_ivf_topk", out) { rows =>
        val exact = exactTop3(s, dir)
        val overlap = rows.map(r => (r.getLong(0), r.getLong(2)))
          .count(exact.contains)
        require(overlap >= exact.size / 4,
          s"emb_ivf_topk recall gate: $overlap/${exact.size} exact top-3 " +
            "pairs recovered, below the 1/4 floor")
      }
    }),

    // PERSISTED IVF INDEX — the amortization that makes ANN
    // viable at scale: emb_ivf_topk re-derives its codebook and cell
    // assignment inside the query, which is the right DEMO shape but
    // the wrong SERVING shape (a 100-TB index is built once at ingest
    // and queried thousands of times). Here the two phases are
    // physically split: BUILD writes the k-row centroid codebook and
    // the inverted file — postings `write.partitionBy(cell)`, so each
    // cell is its own directory — to the staging store; SERVE then
    // answers top-k from the STORED index alone: probe vectors are
    // fetched from the postings, their nprobe=3 cells come from a
    // broadcast of the k-row stored codebook (serve-time work is
    // O(k·probes), corpus-free), and the candidate join touches only
    // the probed cells' files. Two in-path guards make the split
    // load-bearing: (1) the serve plan's scan set must not contain the
    // source corpus — if `embeddings.parquet` appears anywhere in the
    // executed plan, the query silently re-clustered at query time and
    // fails; (2) the served rows must be IDENTICAL to the in-memory
    // route's (same codebook math, exact fixed-point centroids, same
    // tie rules — the round trip through parquet must not perturb a
    // single rank). Rows-only like emb_ivf_topk (ranking rides on
    // derived centroids), with the equality gate standing in for the
    // oracle at full strength.
    "emb_ivf_persisted" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_ivfidx_") { tmp =>
        val idx = tmp.resolve("index")
        // BUILD: one corpus pass for the codebook (k-row aggregate),
        // one for the assignment; the inverted file lands partitioned
        // by cell so a probe's scan is 3/k of the data BY LAYOUT.
        val sumAgg = udaf(new ElementwiseSum(64))
        val cent = Tables.embeddings(s, dir)
          .selectExpr("label",
            "transform(cast(embedding AS array<double>), x -> CAST(floor(x * 1000000) AS BIGINT)) AS e6")
          .groupBy($"label").agg(count(lit(1)).as("n"), sumAgg($"e6").as("sums"))
          .selectExpr("label AS cell",
            "transform(sums, x -> x / (n * 1000000.0)) AS cvec")
        cent.write.parquet(idx.resolve("centroids").toString)
        val wCell = Window.partitionBy($"vec_id").orderBy($"csim".desc, $"cell")
        Tables.embeddings(s, dir).select($"vec_id", $"embedding")
          .crossJoin(broadcast(s.read.parquet(idx.resolve("centroids").toString)))
          .withColumn("csim", call_function("cosine_sim", $"embedding", $"cvec"))
          .withColumn("crk", row_number().over(wCell))
          .where($"crk" === 1)
          .select($"cell", $"vec_id", $"embedding")
          .write.partitionBy("cell").parquet(idx.resolve("postings").toString)
        // SERVE: stored index only — no Tables.* reference below.
        val centS = s.read.parquet(idx.resolve("centroids").toString)
        val posts = s.read.parquet(idx.resolve("postings").toString)
        val probes = posts.where($"vec_id" < 10)
          .select($"vec_id".as("qid"), $"embedding".as("qe"))
        val wP = Window.partitionBy($"qid").orderBy($"csim".desc, $"cell")
        val probeCells = probes.crossJoin(broadcast(centS))
          .withColumn("csim", call_function("cosine_sim", $"qe", $"cvec"))
          .withColumn("crk", row_number().over(wP))
          .where($"crk" <= 3)
          .select($"qid", $"qe", $"cell")
        val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"vec_id")
        val out = posts.join(broadcast(probeCells), Seq("cell"))
          .where($"vec_id" =!= $"qid")
          .withColumn("sim", call_function("cosine_sim", $"qe", $"embedding"))
          .withColumn("rank", row_number().over(w))
          .where($"rank" <= 3)
          // cell comes back through partition-directory inference —
          // pin it to the codebook's INT so the equality gate compares
          // values, not inference accidents.
          .selectExpr("qid", "rank", "vec_id AS nid",
            "CAST(cell AS INT) AS cell",
            "CAST(floor(sim * 1000000) AS BIGINT) AS sim_e6")
          .orderBy("qid", "rank")
        QueryModule.gatedPlans.put("emb_ivf_persisted", out)
        val planStr = out.queryExecution.executedPlan.toString
        require(!planStr.contains("embeddings.parquet"),
          "emb_ivf_persisted: the serve plan scans the source corpus — " +
            "the index was re-derived at query time")
        val local = graft.sources.GraftSession.materialize(s, out)
        val rows = local.collect()
        // Equality gate vs the in-memory route (fixture-bounded
        // collect; a production audit samples probes instead).
        val mem = ivfTop3InMemory(s, dir).collect()
        require(rows.length == mem.length &&
            rows.zip(mem).forall { case (a, b) => a == b },
          "emb_ivf_persisted: served rows diverge from the in-memory " +
            "IVF route — the parquet round trip perturbed the index")
        local
      }
    }),

    // GRAPH ANN — the HNSW-family route that dominates current
    // vector-store practice, Spark-shaped: the corpus splits into
    // SEGMENTS (vec_id % S — at 100 TB, S tracks corpus/executor-memory
    // and segments build in parallel, the Lucene-HNSW per-segment
    // model), each segment builds a navigable-small-world graph by
    // deterministic sequential insertion (m=8 links, efC=24, degree cap
    // 16), and the graph PERSISTS next to its vectors partitioned by
    // segment. Serve is greedy best-first per segment (ef=24) merged
    // across segments — never a corpus scan. Three in-path gates:
    // (1) the serve plan reads the STORED graph only (plan guard);
    // (2) SUBLINEARITY — the summed visited-node count (= similarity
    // computations paid) stays under half a brute-force scan, the
    // measured per-probe witness; (3) RECALL ≥ 9/10 of the exact top-3
    // pairs (the emb_ann gate discipline). Rows-only: greedy graph
    // traversal is not SQL-expressible; EmbeddingSpec cross-checks.
    "emb_hnsw_topk" -> ((s, dir) => {
      graft.sources.GraftSession.staged(s, "graft_hnswidx_") { tmp =>
        val h = hnswBuildServe(s, dir, tmp.resolve("graph"),
          segments = 4, efServe = HnswEfServe, efC = HnswEfC,
          m = HnswM, maxDeg = HnswMaxDeg)
        val exactF = exactTop3Async(s, dir) // overlaps the serve collect
        QueryModule.gated("emb_hnsw_topk", h.out) { rows =>
          val planStr = QueryModule.gatedPlans.get("emb_hnsw_topk")
            .queryExecution.executedPlan.toString
          require(!planStr.contains("embeddings.parquet"),
            "emb_hnsw_topk: the serve plan scans the source corpus — " +
              "the graph index was re-derived at query time")
          // Sublinearity: summed visited nodes (= similarity
          // computations paid, one count per probe × segment) must
          // beat the brute-force probe scan. The margin is honest
          // about toy segments: a few-hundred-node graph is mostly
          // frontier, so the floor ramps from "strictly cheaper than
          // a scan" at fixture scale to "under half" once segments
          // reach graph-paying size — visited per probe per segment
          // asymptotes at ~ef·degree (≈ 400 here), so at 100 TB the
          // ratio keeps falling as segments grow.
          val visitedTotal = h.visitedTotal()
          val budget =
            if (h.nVec / h.segments >= 2000) h.nVec * h.nProbes / 2
            else h.nVec * h.nProbes
          require(visitedTotal < budget,
            s"emb_hnsw_topk: visited $visitedTotal nodes for " +
              s"${h.nProbes} probes over ${h.nVec} vectors (budget " +
              s"$budget) — the graph search is not sublinear")
          // Recall vs the exact brute-force top-3 (the shared ANN
          // ground truth; one bounded corpus pass, the sampled audit
          // every production deployment runs beside its index).
          val exact = exactF.get()
          val got = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
          val overlap = exact.count(got)
          require(overlap * 10 >= exact.size * 9,
            s"emb_hnsw_topk recall gate: $overlap/${exact.size} exact " +
              "pairs recovered — below the 9/10 floor")
        }
      }
    }),

    // INCREMENTAL GRAPH-ANN MAINTENANCE — the ingest path of the
    // served NSW index, the Lucene segment-append model: a new batch
    // builds ITS OWN segment graph (cost O(batch·efC·deg), whatever
    // the base weighs) and lands NEXT to the existing segments — base
    // graphs are never reopened (witnessed byte-for-byte: the base
    // segment files are identical before and after the append). Serve
    // reads the union of stored segments through the same greedy
    // merge. Gates: (1) no-rebuild (base files unchanged); (2) the
    // appended segment holds exactly the batch's vectors; (3) serve
    // plan reads stored segments only; (4) visited < brute-force scan;
    // (5) the module's 9/10 recall floor over the FULL corpus.
    "emb_hnsw_append" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_hnswapp_") { tmp =>
        val idx = tmp.resolve("graph")
        val S = 4
        // BASE: everything except the append batch (probes stay in
        // the base so serve's probe read is stable).
        hnswBuildSegments(Tables.embeddings(s, dir)
          .where("vec_id % 9 != 5 OR vec_id < 10")
          .selectExpr("vec_id", "CAST(embedding AS array<double>) AS e",
            s"CAST(vec_id % $S AS INT) AS seg"),
          idx, HnswEfC, HnswM, HnswMaxDeg)
        def listing(): Map[String, Long] = {
          val walk = java.nio.file.Files.walk(idx)
          try {
            import scala.jdk.CollectionConverters._
            walk.iterator().asScala
              .filter(p => java.nio.file.Files.isRegularFile(p) &&
                p.toString.endsWith(".parquet"))
              .map(p => idx.relativize(p).toString ->
                java.nio.file.Files.size(p))
              .toMap
          } finally walk.close()
        }
        val baseFiles = listing()
        // APPEND: the held-out batch as its OWN new segment.
        val batch = Tables.embeddings(s, dir)
          .where("vec_id % 9 = 5 AND vec_id >= 10")
          .selectExpr("vec_id", "CAST(embedding AS array<double>) AS e",
            s"CAST($S AS INT) AS seg")
        val batchN = batch.count()
        hnswBuildSegments(batch, idx, HnswEfC, HnswM, HnswMaxDeg)
        val after = listing()
        require(baseFiles.forall { case (f, sz) => after.get(f).contains(sz) },
          "emb_hnsw_append: the append REWROTE base segment files — " +
            "segment maintenance must never reopen existing graphs")
        require(after.size > baseFiles.size &&
            after.keys.filterNot(baseFiles.contains)
              .forall(_.contains(s"seg=$S")),
          "emb_hnsw_append: the batch must land as its own new segment")
        val exactF = exactTop3Async(s, dir) // overlaps the serve collect
        val h = hnswServe(s, idx, HnswEfServe, S + 1)
        QueryModule.gated("emb_hnsw_append", h.out) { rows =>
          val planStr = QueryModule.gatedPlans.get("emb_hnsw_append")
            .queryExecution.executedPlan.toString
          require(!planStr.contains("embeddings.parquet"),
            "emb_hnsw_append: the serve plan scans the source corpus")
          val segN = s.read.parquet(idx.toString)
            .where($"seg" === S).count()
          require(segN == batchN,
            s"emb_hnsw_append: appended segment holds $segN rows for " +
              s"a $batchN-row batch")
          require(h.visitedTotal() < h.nVec * h.nProbes,
            "emb_hnsw_append: the segment-union search is not cheaper " +
              "than a brute-force scan")
          val exact = exactF.get()
          val got = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
          val overlap = exact.count(got)
          require(overlap * 10 >= exact.size * 9,
            s"emb_hnsw_append recall gate: $overlap/${exact.size} " +
              "exact pairs recovered — below the 9/10 floor")
        }
      }
    }),

    // GRAPH-ANN SEGMENT MERGE — the other half of the Lucene
    // segment model emb_hnsw_append ships: append alone grows one
    // segment per ingest batch FOREVER, and serve cost (every probe
    // greedy-searches every segment) grows linearly with ingest
    // history. The merge verb rebuilds k
    // small segments into one (reading their STORED vectors, never the
    // source corpus; cost O(merged rows), independent of the base) and
    // retires the inputs only after the replacement is written.
    // Staged: base corpus over 4 segments, two small batches appended
    // as their own segments (6 total), then the two batch segments
    // merged into one (5 total). Gates: (1) fewer segments after the
    // merge; (2) every BASE segment file byte-identical — maintenance
    // never reopens untouched graphs; (3) the merged segment holds
    // exactly the two batches' vectors; (4) the post-merge serve reads
    // stored segments only, stays visited-sublinear, and returns
    // BYTE-IDENTICAL top-k to the pre-merge serve — merging reorganizes
    // the index, never the answers; (5) the module's 9/10 recall floor.
    // Rows-only: greedy graph traversal is not SQL-expressible.
    "emb_hnsw_merge" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_hnswmrg_") { tmp =>
        val idx = tmp.resolve("graph")
        val S = 4
        hnswBuildSegments(Tables.embeddings(s, dir)
          .where("(vec_id % 9 != 5 AND vec_id % 9 != 7) OR vec_id < 10")
          .selectExpr("vec_id", "CAST(embedding AS array<double>) AS e",
            s"CAST(vec_id % $S AS INT) AS seg"),
          idx, HnswEfC, HnswM, HnswMaxDeg)
        def batch(res: Int, seg: Int) = Tables.embeddings(s, dir)
          .where(s"vec_id % 9 = $res AND vec_id >= 10")
          .selectExpr("vec_id", "CAST(embedding AS array<double>) AS e",
            s"CAST($seg AS INT) AS seg")
        val n1 = batch(5, S).count()
        val n2 = batch(7, S + 1).count()
        hnswBuildSegments(batch(5, S), idx, HnswEfC, HnswM, HnswMaxDeg)
        hnswBuildSegments(batch(7, S + 1), idx, HnswEfC, HnswM, HnswMaxDeg)
        def listing(prefixes: Int => Boolean): Map[String, Long] = {
          val walk = java.nio.file.Files.walk(idx)
          try {
            import scala.jdk.CollectionConverters._
            walk.iterator().asScala
              .filter(p => java.nio.file.Files.isRegularFile(p) &&
                p.toString.endsWith(".parquet"))
              .map(p => idx.relativize(p).toString ->
                java.nio.file.Files.size(p))
              .filter { case (f, _) =>
                val seg = f.split('/').find(_.startsWith("seg="))
                  .map(_.stripPrefix("seg=").toInt)
                seg.exists(prefixes)
              }.toMap
          } finally walk.close()
        }
        def segCount(): Int = {
          val ls = java.nio.file.Files.list(idx)
          try {
            import scala.jdk.CollectionConverters._
            ls.iterator().asScala
              .count(_.getFileName.toString.startsWith("seg="))
          } finally ls.close()
        }
        val pre = hnswServe(s, idx, HnswEfServe, S + 2)
        val preRows = pre.out.collect()
        // Overlaps the merge rebuild + post-merge serve below.
        val exactF = exactTop3Async(s, dir)
        val preSegs = segCount()
        val baseFiles = listing(_ < S)
        hnswMergeSegments(s, idx, Seq(S, S + 1), S + 2)
        require(segCount() < preSegs,
          s"emb_hnsw_merge: ${segCount()} segments after merging " +
            s"$preSegs — the merge must REDUCE segment count")
        require(listing(_ < S) == baseFiles,
          "emb_hnsw_merge: the merge touched BASE segment files — " +
            "maintenance must never reopen untouched graphs")
        val mergedN = s.read.parquet(idx.toString)
          .where($"seg" === S + 2).count()
        require(mergedN == n1 + n2,
          s"emb_hnsw_merge: merged segment holds $mergedN rows for " +
            s"${n1 + n2} merged vectors")
        val h = hnswServe(s, idx, HnswEfServe, S + 1)
        QueryModule.gated("emb_hnsw_merge", h.out) { rows =>
          val planStr = QueryModule.gatedPlans.get("emb_hnsw_merge")
            .queryExecution.executedPlan.toString
          require(!planStr.contains("embeddings.parquet"),
            "emb_hnsw_merge: the serve plan scans the source corpus")
          require(rows.map(_.toString).toSeq ==
              preRows.map(_.toString).toSeq,
            "emb_hnsw_merge: the merged index changed the served " +
              "top-k — a merge must reorganize the index, not the " +
              "answers")
          require(h.visitedTotal() < h.nVec * h.nProbes,
            "emb_hnsw_merge: the post-merge search is not cheaper " +
              "than a brute-force scan")
          val exact = exactF.get()
          val got = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
          val overlap = exact.count(got)
          require(overlap * 10 >= exact.size * 9,
            s"emb_hnsw_merge recall gate: $overlap/${exact.size} " +
              "exact pairs recovered — below the 9/10 floor")
        }
      }
    }),

    // VERSIONED INDEX LIFECYCLE — the ANN artifact UNDER the
    // commit protocol, the structural unlock ARRAY payload columns
    // buy (index maintenance previously lived outside
    // versioning because the table format was primitives-only). The
    // HNSW segments are a graft table: the base build is v0 with seg
    // zonemaps on the data lines (an equality probe on `seg` prunes
    // files exactly like the plain layout's seg= directories), an
    // ingest batch is an O(batch) APPEND COMMIT whose delta adds only
    // the new segment's files, a segment merge is ONE atomic rewrite
    // commit (a reader sees the pre- or post-merge index, never a
    // hole — the crash-safety the plain layout only approximates with
    // write-then-delete ordering), TIME TRAVEL serves the pre-merge
    // index from its version number, and expire() vacuums retired
    // segment files on the operator's schedule. Gates: append delta
    // is data-lines-only; merge carries untouched files byte-verbatim
    // and preserves the served top-k; the version-1 read equals the
    // pre-merge serve row-for-row; seg-probe pruning is real; recall
    // holds the 9/10 floor; post-expire the current index still
    // serves identically while the historical version is gone.
    "emb_hnsw_versioned" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_hnswver_") { tmp =>
        val idx = tmp.resolve("graphv")
        val S = 4
        hnswCommitSegments(Tables.embeddings(s, dir)
          .where("vec_id % 9 != 5 OR vec_id < 10")
          .selectExpr("vec_id", "CAST(embedding AS array<double>) AS e",
            s"CAST(vec_id % $S AS INT) AS seg"),
          idx, HnswEfC, HnswM, HnswMaxDeg)
        val batch = Tables.embeddings(s, dir)
          .where("vec_id % 9 = 5 AND vec_id >= 10")
          .selectExpr("vec_id", "CAST(embedding AS array<double>) AS e",
            s"CAST($S AS INT) AS seg")
        val batchN = batch.count()
        val v1 = hnswCommitSegments(batch, idx, HnswEfC, HnswM,
          HnswMaxDeg)
        // Base = one commit (v0, one file per segment); the batch = v1.
        require(v1 == 1L,
          s"emb_hnsw_versioned: append committed v$v1, expected v1")
        // O(batch) witness: the append delta is data lines only, and
        // every added file's seg zonemap is exactly the new segment.
        val added = VersionedTable.addedFiles(idx, v1)
        val stats1 = VersionedTable.statsManifest(idx, v1)
        val addedFiles = added.toSet
        require(added.nonEmpty && stats1.filter(t => addedFiles(t._1))
            .forall { case (_, mn, mx) => mn == S && mx == S },
          s"emb_hnsw_versioned: append delta must add only seg=$S " +
            s"files: $added")
        require(s.read.format("graft-table").load(idx.toString)
            .where($"seg" === S).count() == batchN,
          "emb_hnsw_versioned: appended segment row count mismatch")
        val pre = hnswServeVersioned(s, idx, HnswEfServe, S + 1)
        val preRows = pre.out.collect()
        // Overlap the exact yardstick with the merge/time-travel
        // machinery below; join at the recall gate ([[exactTop3Async]]).
        val exactF = exactTop3Async(s, dir)
        // MERGE segments 0,1 → S+1: one atomic rewrite commit.
        val v2 = hnswMergeCommit(s, idx, Seq(0, 1), S + 1)
        require(v2 == v1 + 1,
          s"emb_hnsw_versioned: merge committed v$v2 — exactly ONE " +
            "atomic commit")
        // Untouched segments' manifest entries carry byte-verbatim.
        val stats2 = VersionedTable.statsManifest(idx, v2)
        val untouched = stats1.filter(_._2 >= 2)
        require(untouched.nonEmpty &&
            untouched.forall(stats2.contains) &&
            !stats2.exists { case (_, mn, mx) => mx <= 1 },
          "emb_hnsw_versioned: the merge must carry untouched segment " +
            "lines verbatim and retire every merged-segment file")
        // Seg-probe pruning through the zonemaps (the seg= dir
        // equivalent): one segment's probe plans a strict file subset.
        val g2 = s.read.format("graft-table")
          .option("statsCol", "seg").load(idx.toString)
        require(g2.where($"seg" === 2).rdd.getNumPartitions <
            stats2.size,
          "emb_hnsw_versioned: a seg probe must prune files via the " +
            "seg zonemaps")
        // TIME TRAVEL: the pre-merge index serves from version 1,
        // row-for-row identical to the pre-merge serve.
        val tt = hnswServeVersioned(s, idx, HnswEfServe, S + 1,
          asOf = Some(v1))
        require(tt.out.collect().map(_.toString).toSeq ==
            preRows.map(_.toString).toSeq,
          "emb_hnsw_versioned: time travel to the pre-merge version " +
            "must serve the pre-merge index")
        val h = hnswServeVersioned(s, idx, HnswEfServe, S)
        QueryModule.gated("emb_hnsw_versioned", h.out) { rows =>
          val planStr = QueryModule.gatedPlans.get("emb_hnsw_versioned")
            .queryExecution.executedPlan.toString
          require(!planStr.contains("embeddings.parquet"),
            "emb_hnsw_versioned: the serve plan scans the source corpus")
          require(rows.map(_.toString).toSeq ==
              preRows.map(_.toString).toSeq,
            "emb_hnsw_versioned: the merge changed the served top-k")
          require(h.visitedTotal() < h.nVec * h.nProbes,
            "emb_hnsw_versioned: the search is not cheaper than a " +
              "brute-force scan")
          val exact = exactF.get()
          val got = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
          val overlap = exact.count(got)
          require(overlap * 10 >= exact.size * 9,
            s"emb_hnsw_versioned recall gate: $overlap/${exact.size} " +
              "exact pairs recovered — below the 9/10 floor")
          // EXPIRE: the lifecycle's last verb — every file the merge
          // retired vacuums (manifest ANCHORS may stay pinned as v2's
          // BASE chain — pinning never retains data), and the current
          // index serves identically after. The retired count is
          // COMPUTED from the manifests, not assumed from the layout.
          val retiredN = stats1.count { case (f, _, mx) =>
            mx <= 1 && !stats2.exists(_._1 == f) }
          val (deleted, _) = VersionedTable.expire(idx, v2)
          require(retiredN >= 1 && deleted >= retiredN,
            s"emb_hnsw_versioned: expire removed $deleted files — all " +
              s"$retiredN merge-retired segment files must vacuum")
          val post = hnswServeVersioned(s, idx, HnswEfServe, S)
            .out.collect()
          require(post.map(_.toString).toSeq ==
              rows.map(_.toString).toSeq,
            "emb_hnsw_versioned: expire changed the served index")
        }
      }
    }),

    // DV DELETES ON THE VERSIONED ANN INDEX — the lifecycle's
    // last missing verb, and the GDPR shape every
    // real vector store must serve: `deleteCommit` over vec_id
    // publishes ONE O(kill-set) deletion-vector delta (no graph file
    // rewritten, no corpus read), the scan hides the killed rows, and
    // the greedy search is TOMBSTONE-AWARE — surviving rows' adjacency
    // still names killed vec_ids, and those dangling edges are skipped
    // (the Lucene live-docs model), never crashed on and never served.
    // Gates, all in-path: (1) the delete delta is DV lines only —
    // O(batch), zero data lines touched; (2) a post-delete serve never
    // returns a killed vec_id — including one deliberately chosen
    // BECAUSE it was a pre-delete top-3 result, so the gate can never
    // pass vacuously; (3) TIME TRAVEL to the pre-delete version still
    // serves the killed ids (the delete is a version, not a rewrite);
    // (4) recall vs the exact top-3 over the SURVIVING corpus holds
    // the 9/10 floor through the dangling edges; (5) a segment MERGE
    // after the delete rebuilds from the DV-filtered read — the merged
    // graph carries neither killed rows NOR dangling adjacency (the
    // tombstone-reclaim compaction), and still serves killed-free.
    "emb_hnsw_delete" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_hnswdel_") { tmp =>
        val idx = tmp.resolve("graphd")
        val S = 4
        hnswCommitSegments(Tables.embeddings(s, dir)
          .selectExpr("vec_id", "CAST(embedding AS array<double>) AS e",
            s"CAST(vec_id % $S AS INT) AS seg"),
          idx, HnswEfC, HnswM, HnswMaxDeg)
        val pre = hnswServeVersioned(s, idx, HnswEfServe, S)
        val preRows = pre.out.collect()
        // Kill set: a spread predicate PLUS two pre-delete top-3
        // neighbors (non-vacuity by construction). Probes 0..9 live.
        val servedKill = preRows.map(_.getLong(2))
          .filter(_ >= 10).distinct.take(2)
        require(servedKill.nonEmpty,
          "emb_hnsw_delete: no pre-delete neighbor eligible to kill")
        val killPred = s"(vec_id % 7 = 3 AND vec_id >= 10)"
        // The exact survivor yardstick depends only on the kill
        // predicate — fixed here, before the delete commits: overlap
        // it with the delete/time-travel/serve machinery below and
        // join at the gate ([[exactTop3Async]]).
        val exactF = exactTop3Async(s, dir,
          Some(s"NOT ($killPred) AND vec_id NOT IN " +
            servedKill.mkString("(", ",", ")")))
        val keys = Tables.embeddings(s, dir)
          .where(killPred).select($"vec_id")
          .union(servedKill.toSeq.toDF("vec_id")).distinct()
        val v0 = VersionedTable.latestVersion(idx).get
        VersionedTable.deleteCommit(s, idx, v0 + 1, keys, "vec_id")
        val vDel = v0 + 1
        // (1) O(kill-set): the delete delta adds DV lines ONLY and
        // removes nothing — no graph file was rewritten.
        val added = VersionedTable.addedLines(idx, vDel)
        require(added.nonEmpty && added.map(VersionedTable.parse)
            .forall(_.isInstanceOf[VersionedTable.Dv]) &&
            VersionedTable.removedLines(idx, vDel).isEmpty,
          s"emb_hnsw_delete: the delete must publish a pure DV delta, " +
            s"got $added")
        val killed = keys.collect().map(_.getLong(0)).toSet
        val killedInPre = preRows.count(r => killed(r.getLong(2)))
        require(killedInPre >= 2,
          "emb_hnsw_delete: the kill set must cover pre-delete results")
        // (3) Time travel: the pre-delete version still serves them.
        val tt = hnswServeVersioned(s, idx, HnswEfServe, S,
          asOf = Some(v0))
        require(tt.out.collect().map(_.toString).toSeq ==
            preRows.map(_.toString).toSeq,
          "emb_hnsw_delete: time travel must serve the pre-delete index")
        // (2)+(4): post-delete serve over the tombstoned graph.
        val h = hnswServeVersioned(s, idx, HnswEfServe, S)
        val killedB = s.sparkContext.broadcast(killed)
        QueryModule.gated("emb_hnsw_delete", h.out) { rows =>
          val planStr = QueryModule.gatedPlans.get("emb_hnsw_delete")
            .queryExecution.executedPlan.toString
          require(!planStr.contains("embeddings.parquet"),
            "emb_hnsw_delete: the serve plan scans the source corpus")
          require(!rows.exists(r => killedB.value(r.getLong(2))),
            "emb_hnsw_delete: a serve at the post-delete version " +
              "returned a deleted vec_id")
          require(h.visitedTotal() < h.nVec * h.nProbes,
            "emb_hnsw_delete: the search is not cheaper than a " +
              "brute-force scan")
          val exact = exactF.get()
          val got = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
          val overlap = exact.count(got)
          require(overlap * 10 >= exact.size * 9,
            s"emb_hnsw_delete recall gate: $overlap/${exact.size} " +
              "exact surviving pairs recovered — below the 9/10 floor")
          // (5) Tombstone reclaim: merge two segments — the rebuild
          // reads the DV-filtered live rows, so the merged segment
          // holds no killed row and no dangling edge.
          val vM = hnswMergeCommit(s, idx, Seq(0, 1), S)
          val merged = s.read.format("graft-table").load(idx.toString)
            .where($"seg" === S)
            .selectExpr("vec_id", "explode_outer(nbrs) AS nb").collect()
          require(merged.nonEmpty &&
              !merged.exists(r => killedB.value(r.getLong(0))) &&
              !merged.exists(r => !r.isNullAt(1) &&
                killedB.value(r.getLong(1))),
            "emb_hnsw_delete: the merge rebuild must reclaim every " +
              "killed row and dangling edge")
          val post = hnswServeVersioned(s, idx, HnswEfServe, S)
            .out.collect()
          require(!post.exists(r => killedB.value(r.getLong(2))),
            "emb_hnsw_delete: the post-merge serve returned a deleted " +
              "vec_id")
          val postGot = post.map(r => (r.getLong(0), r.getLong(2))).toSet
          val postOverlap = exact.count(postGot)
          require(postOverlap * 10 >= exact.size * 9,
            s"emb_hnsw_delete post-merge recall: $postOverlap/" +
              s"${exact.size} — below the 9/10 floor")
          require(vM == vDel + 1,
            "emb_hnsw_delete: the merge must be one atomic commit")
        }
      }
    }),

    // ROUTED GRAPH ANN — IVF×HNSW, the hybrid every large
    // vector store converges on and the STRUCTURAL answer to segment
    // proliferation (merging keeps segment COUNT bounded; routing
    // makes serve cost independent of it): segments are SPATIAL —
    // each coarse-codebook centroid's vectors form one cell, each
    // cell builds its own NSW graph — and a probe searches only its
    // nprobe=3 nearest cells, chosen by a driver-side O(k·probes)
    // pass over the broadcast-sized stored codebook. The scan prunes
    // to the routed cells' seg= partition directories, so unprobed
    // cells are neither read nor greedy-searched. Gates: (1) the
    // serve plan reads the stored index only; (2) ROUTING witness —
    // every probe searched exactly nprobe of the k cells (counted
    // from the served rows, not assumed); (3) visited work below the
    // brute-force budget; (4) recall vs the exact top-3 at the IVF
    // floor — the routing loss dominates on the near-uniform fixture
    // vectors (the per-cell graphs are near-exact), exactly the
    // recall/locality trade nprobe prices in production.
    "emb_hnsw_routed" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_hnswrt_") { tmp =>
        val idx = tmp.resolve("index")
        // BUILD: stored coarse codebook (exact fixed-point label
        // means), nearest-cell assignment, one NSW graph per cell.
        val sumAgg = udaf(new ElementwiseSum(64))
        Tables.embeddings(s, dir)
          .selectExpr("label",
            "transform(cast(embedding AS array<double>), x -> CAST(floor(x * 1000000) AS BIGINT)) AS e6")
          .groupBy($"label").agg(count(lit(1)).as("n"), sumAgg($"e6").as("sums"))
          .selectExpr("label AS cell",
            "transform(sums, x -> x / (n * 1000000.0)) AS cvec")
          .write.parquet(idx.resolve("centroids").toString)
        val wCell = Window.partitionBy($"vec_id").orderBy($"csim".desc, $"cell")
        val assigned = Tables.embeddings(s, dir)
          .select($"vec_id", $"embedding")
          .crossJoin(broadcast(
            s.read.parquet(idx.resolve("centroids").toString)))
          .withColumn("csim", call_function("cosine_sim", $"embedding", $"cvec"))
          .withColumn("crk", row_number().over(wCell))
          .where($"crk" === 1)
          .selectExpr("vec_id", "CAST(embedding AS array<double>) AS e",
            "CAST(cell AS INT) AS seg")
        hnswBuildSegments(assigned, idx.resolve("graph"),
          HnswEfC, HnswM, HnswMaxDeg)
        // Overlaps the routed serve below ([[exactTop3Async]]).
        val exactF = exactTop3Async(s, dir)
        // SERVE: stored index only (codebook router + routed graphs).
        val nprobe = 3
        val h = hnswServeRouted(s, idx, HnswEfServe, nprobe)
        QueryModule.gated("emb_hnsw_routed", h.out) { rows =>
          val planStr = QueryModule.gatedPlans.get("emb_hnsw_routed")
            .queryExecution.executedPlan.toString
          require(!planStr.contains("embeddings.parquet"),
            "emb_hnsw_routed: the serve plan scans the source corpus")
          require(h.segments > nprobe,
            s"emb_hnsw_routed: ${h.segments} cells — the routing " +
              s"witness needs more cells than nprobe=$nprobe")
          require(h.visitedTotal() < h.nVec * h.nProbes,
            "emb_hnsw_routed: routed search is not cheaper than a " +
              "brute-force scan")
          val exact = exactF.get()
          val got = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
          val overlap = exact.count(got)
          require(overlap >= exact.size / 4,
            s"emb_hnsw_routed recall gate: $overlap/${exact.size} " +
              "exact pairs recovered — below the IVF 1/4 floor")
        }
      }
    }),

    // INCREMENTAL IVF MAINTENANCE — the ingest path of a served
    // ANN index: emb_ivf_persisted amortizes the BUILD across queries,
    // but a live corpus also APPENDS, and rebuilding the index per
    // batch would make the amortization a lie. The standard answer
    // (FAISS/Lucene segment model): the codebook is FROZEN at build
    // time, an arriving batch is assigned to the existing centroids
    // (cost = one k-row broadcast over the BATCH — never a corpus
    // re-scan, never a re-clustering) and lands as a NEW postings
    // segment; serve reads the union of segments. Staged here:
    //   seg-000 = the initial corpus (vec_id%4 != 1) assigned to the
    //             codebook derived from it;
    //   seg-001 = the arriving batch (vec_id%4 == 1) assigned to the
    //             SAME stored codebook, written without touching
    //             seg-000 (gate: the segment's row count is exactly
    //             the batch's — append cost tracks the batch).
    // Serve answers from the stored codebook + both segments; probes
    // (vec_id < 10) deliberately span both. Gates: (1) the serve plan
    // never scans the source corpus; (2) REBUILD EQUIVALENCE — the
    // served rows are byte-identical to assigning the full corpus to
    // the same frozen codebook in one pass and serving that (append ≡
    // rebuild under a frozen codebook, the invariant that makes
    // segment ingest correct); (3) the emb_ivf_topk recall floor vs
    // the exact top-3. Rows-only (ranking rides on derived centroids);
    // codebook drift/retraining is a REBUILD, scheduled like
    // pipe_compact_commit, not an append.
    "emb_ivf_append" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_ivfapp_") { tmp =>
        val idx = tmp.resolve("index")
        val sumAgg = udaf(new ElementwiseSum(64))
        val initial = Tables.embeddings(s, dir).where($"vec_id" % 4 =!= 1)
        val batch = Tables.embeddings(s, dir).where($"vec_id" % 4 === 1)
        // BUILD: exact fixed-point label means of the INITIAL corpus
        // only — the batch must not leak into the codebook.
        initial
          .selectExpr("label",
            "transform(cast(embedding AS array<double>), x -> CAST(floor(x * 1000000) AS BIGINT)) AS e6")
          .groupBy($"label").agg(count(lit(1)).as("n"), sumAgg($"e6").as("sums"))
          .selectExpr("label AS cell",
            "transform(sums, x -> x / (n * 1000000.0)) AS cvec")
          .write.parquet(idx.resolve("centroids").toString)
        val centS = s.read.parquet(idx.resolve("centroids").toString)
        // The two segment writes assign DISJOINT row sets to the same
        // frozen codebook — independent jobs, overlapped so the smaller
        // batch write back-fills the initial write's task tail.
        var segN = 0L; var batchN = 0L
        graft.sources.GraftSession.overlap(
          () => assignToCells(initial.select($"vec_id", $"embedding"), centS)
            .write.partitionBy("cell")
            .parquet(idx.resolve("seg-000").toString),
          // APPEND: batch-only assignment to the frozen codebook.
          () => {
            assignToCells(batch.select($"vec_id", $"embedding"), centS)
              .write.partitionBy("cell")
              .parquet(idx.resolve("seg-001").toString)
            segN = s.read.parquet(idx.resolve("seg-001").toString).count()
            batchN = batch.count()
          })
        require(segN == batchN,
          s"emb_ivf_append: the appended segment holds $segN rows for a " +
            s"$batchN-row batch — append cost must track the batch exactly")
        // Overlaps the serve + rebuild-reference passes below.
        val exactF = exactTop3Async(s, dir)
        // SERVE: stored codebook + stored segments only. Segments are
        // independent partitioned roots (each with its own cell=
        // layout), so they load separately and union — the same
        // per-segment planning a segment-file index does natively.
        val posts = s.read.parquet(idx.resolve("seg-000").toString)
          .unionByName(s.read.parquet(idx.resolve("seg-001").toString))
        val out = ivfProbeTop3(posts, centS)
        QueryModule.gatedPlans.put("emb_ivf_append", out)
        val planStr = out.queryExecution.executedPlan.toString
        require(!planStr.contains("embeddings.parquet"),
          "emb_ivf_append: the serve plan scans the source corpus — " +
            "the index was re-derived at query time")
        val local = graft.sources.GraftSession.materialize(s, out)
        val rows = local.collect()
        // Rebuild-equivalence gate (fixture-bounded collect; a
        // production audit samples probes instead).
        val ref = ivfProbeTop3(
          assignToCells(
            Tables.embeddings(s, dir).select($"vec_id", $"embedding"),
            centS),
          centS).collect()
        require(rows.length == ref.length &&
            rows.zip(ref).forall { case (a, b) => a == b },
          "emb_ivf_append: segment-append serve diverges from the " +
            "full-rebuild reference under the same frozen codebook")
        val exact = exactF.get()
        val overlap = rows.map(r => (r.getLong(0), r.getLong(2)))
          .count(exact.contains)
        require(overlap >= exact.size / 4,
          s"emb_ivf_append recall gate: $overlap/${exact.size} exact " +
            "top-3 pairs recovered, below the 1/4 floor")
        local
      }
    }),

    // DIMENSION-TRUNCATION CURVE: the Matryoshka/MRL tuning table
    // — recall@3 when scoring on only the first d dimensions, the
    // question every embedding deployment asks before shipping
    // truncated vectors (4× less storage and bandwidth per halving).
    // Brute-force cosine over slice(embedding, 1, d) against the same
    // fixed probe set; ground truth is the full-width exact scan. At
    // d=64 the sliced scan IS the exact scan (same scorer, same tie
    // rules), so the gate requires recall EXACTLY 100% there — under
    // it means the sweep diverged from the ground-truth path, not that
    // truncation hurt. Recall at d<64 is reported, not bounded:
    // truncation loss is the measurement, and it is not provably
    // monotone.
    "emb_dim_curve" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
        .select($"vec_id", $"embedding").persist()
      val probes = emb.where($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding".as("qe"))
      // Yardstick async + the four INDEPENDENT width sweeps overlapped
      // (same shape as emb_recall_curve); the cache is forced once so
      // concurrent sweeps share one fill.
      val exactF = exactTop3Async(s, dir)
      emb.count()
      val widths = Seq(8, 16, 32, 64)
      val got = graft.sources.GraftSession.overlap(widths.map { d => () =>
        val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"vec_id")
        emb.join(broadcast(probes), $"vec_id" =!= $"qid")
          .withColumn("sim", call_function("cosine_sim",
            expr(s"slice(qe, 1, $d)"), expr(s"slice(embedding, 1, $d)")))
          .withColumn("rank", row_number().over(w))
          .where($"rank" <= 3)
          .select($"qid", $"vec_id")
          .collect().map(r => (r.getLong(0), r.getLong(1)))
      }: _*)
      val exact = exactF.get()
      val curve = widths.zip(got).map { case (d, pairs) =>
        val hits = pairs.count(exact.contains).toLong
        (d, hits, exact.size.toLong, hits * 1000000L / exact.size)
      }
      require(curve.last._4 == 1000000L,
        s"emb_dim_curve gate: full-width (d=64) sweep recovered only " +
          s"${curve.last._2}/${curve.last._3} exact pairs — the sweep " +
          "diverged from the ground-truth scan")
      curve.toDF("dims", "n_hits", "n_exact", "recall_ppm")
        .orderBy("dims")
    }),

    // RECALL CURVE: the tuning table every ANN deployment derives
    // before picking its operating point — recall@3 as a function of
    // IVF nprobe, over the same cells/probes as emb_ivf_topk. One
    // assignment pass (persisted), then one bounded cell-join per swept
    // nprobe; ground truth is the same brute-forced fixed probe set
    // every production recall audit uses. Self-asserting rather than
    // oracle-backed (ranking rides derived double centroids): the gate
    // requires recall MONOTONE in nprobe and EXACTLY 100% at
    // nprobe = K — at full probe width the cell search is exhaustive,
    // so anything under 1.0 means the candidate join or tie rules
    // diverged from the exact scan, not just a tuning miss.
    "emb_recall_curve" -> ((s, dir) => {
      import s.implicits._
      val sumAgg = udaf(new ElementwiseSum(64))
      val cent = Tables.embeddings(s, dir)
        .selectExpr("label",
          "transform(cast(embedding AS array<double>), x -> CAST(floor(x * 1000000) AS BIGINT)) AS e6")
        .groupBy($"label").agg(count(lit(1)).as("n"), sumAgg($"e6").as("sums"))
        .selectExpr("label AS cell",
          "transform(sums, x -> x / (n * 1000000.0)) AS cvec")
      val emb = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      val wCell = Window.partitionBy($"vec_id").orderBy($"csim".desc, $"cell")
      val assigned = emb.crossJoin(broadcast(cent))
        .withColumn("csim", call_function("cosine_sim", $"embedding", $"cvec"))
        .withColumn("crk", row_number().over(wCell))
        .persist()
      val k = cent.count().toInt
      val cells = assigned.where($"crk" === 1)
        .select($"vec_id", $"cell", $"embedding")
      val probes = assigned.where($"vec_id" < 10)
      // Yardstick async + INDEPENDENT per-nprobe sweeps overlapped:
      // each sweep is one read of the persisted assignment, so they
      // back-fill one another's task tails. The cache is forced ONCE
      // first — concurrent first-fills would duplicate the assignment
      // pass instead of sharing it.
      val exactF = exactTop3Async(s, dir)
      assigned.count()
      val sweep = (Seq(1, 2, 3) ++ Seq(k)).distinct.filter(_ <= k)
      val got = graft.sources.GraftSession.overlap(sweep.map { np => () =>
        val probeCells = probes.where($"crk" <= np)
          .select($"vec_id".as("qid"), $"embedding".as("qe"), $"cell")
        val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"vec_id")
        cells.join(broadcast(probeCells), Seq("cell"))
          .where($"vec_id" =!= $"qid")
          .withColumn("sim",
            call_function("cosine_sim", $"qe", $"embedding"))
          .withColumn("rank", row_number().over(w))
          .where($"rank" <= 3)
          .select($"qid", $"vec_id")
          .collect().map(r => (r.getLong(0), r.getLong(1)))
      }: _*)
      val exact = exactF.get()
      val curve = sweep.zip(got).map { case (np, pairs) =>
        val hits = pairs.count(exact.contains).toLong
        (np, hits, exact.size.toLong, hits * 1000000L / exact.size)
      }
      curve.sliding(2).foreach {
        case Seq((np1, h1, _, _), (np2, h2, _, _)) =>
          require(h1 <= h2,
            s"emb_recall_curve gate: recall fell $h1 -> $h2 widening " +
              s"nprobe $np1 -> $np2 — candidate search lost results")
        case _ => ()
      }
      require(curve.last._4 == 1000000L,
        s"emb_recall_curve gate: nprobe=$k (exhaustive) recovered only " +
          s"${curve.last._2}/${curve.last._3} exact pairs — the cell " +
          "search diverges from the exact scan")
      curve.toDF("nprobe", "n_hits", "n_exact", "recall_ppm")
        .orderBy("nprobe")
    }),

    // ANN via product quantization (the third ANN family next to IVF
    // and LSH: compressed-domain search). 64 dims split into 8
    // subspaces of 8; the per-label centroids restricted to each
    // subspace act as the trained sub-codebooks (the deterministic
    // k-means stand-in, same convention as emb_ivf_topk). Every vector
    // is encoded as 8 small code ids — at 100 TB the scored stream
    // carries (id, 8 bytes) instead of (id, 256 bytes of floats), the
    // entire point of PQ — probes score candidates against
    // reconstructed centroids (asymmetric distance), a shortlist by
    // approximate cosine is reranked exactly, and the final top-3 per
    // probe ships. The shortlist SCALES with the corpus (n/16, floor
    // 30): the in-path recall gate caught a fixed 30-candidate
    // budget silently degrading recall 8→4/30 at 10× corpus — the
    // rerank budget is a recall knob and must grow with n when the
    // quantizer is this coarse (K=10 labels), exactly the tuning a
    // production PQ deployment does against its recall target. The codebook itself is K×64 doubles — collected and
    // closed over, as codebook training is the tiny offline step of
    // every PQ deployment. Hash/centroid-dependent ranking → rows-only;
    // EmbeddingSpec measures recall against emb_knn.
    "emb_pq_topk" -> ((s, dir) => {
      import s.implicits._
      val codes = labelCodebook(s, dir)
      val emb = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      val probes = emb.where($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding".as("qe"))
      val out = pqServe(s, pqEncode(s, emb, codes), emb, probes, codes,
        Tables.embeddings(s, dir).count())
      // In-path recall gate (EmbeddingSpec's bound): the exact rerank
      // of a 30-candidate PQ shortlist must recover at least a quarter
      // of the exact top-3.
      QueryModule.gated("emb_pq_topk", out) { rows =>
        val exact = exactTop3(s, dir)
        val overlap = rows.map(r => (r.getLong(0), r.getLong(2)))
          .count(exact.contains)
        require(overlap >= exact.size / 4,
          s"emb_pq_topk recall gate: $overlap/${exact.size} exact top-3 " +
            "pairs recovered, below the 1/4 floor")
      }
    }),

    // PERSISTED PQ INDEX + EXACT RERANK — the PQ sibling of
    // emb_ivf_persisted, completing the persisted-ANN family:
    // emb_pq_topk derives its codes inside the query (the demo shape);
    // here BUILD writes the three artifacts a served PQ index is made
    // of — the k-row codebook, the PQ CODES table (vec_id, codes,
    // cnorm2: M bytes-ish per vector instead of 64 floats — the ~30×
    // memory reduction that is PQ's whole point), and the full vectors
    // (rerank storage, cold-path) — and SERVE answers top-k from the
    // STORED artifacts alone: ADC shortlists over the stored codes
    // (compressed-domain scan), then an exact rerank fetches ONLY the
    // shortlist's full vectors. In-path guards: (1) the serve plan
    // never scans the source corpus (plan-string require, the
    // emb_ivf_persisted discipline); (2) served rows are IDENTICAL to
    // the in-query route under the same codebook — the parquet round
    // trip (codes, norms, vectors) must not perturb a single rank;
    // (3) the emb_pq_topk recall floor vs the exact top-3. Rows-only
    // like emb_pq_topk (ranking rides on derived centroids).
    "emb_pq_persisted" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_pqidx_") { tmp =>
        val idx = tmp.resolve("index")
        // BUILD: one corpus pass for the codebook, one to encode, one
        // to lay down rerank storage. The rerank-storage write (and
        // the corpus count) are independent of the codebook→encode
        // chain — overlap them so the encode's task tail back-fills the
        // vector write's idle cores (the rel_source_roundtrip pattern).
        val sumAgg = udaf(new ElementwiseSum(64))
        val emb = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
        var codes: Array[Array[Double]] = null
        var corpusN = 0L
        graft.sources.GraftSession.overlap(
          () => {
            Tables.embeddings(s, dir)
              .selectExpr("label",
                "transform(cast(embedding AS array<double>), x -> CAST(floor(x * 1000000) AS BIGINT)) AS e6")
              .groupBy($"label").agg(count(lit(1)).as("n"), sumAgg($"e6").as("sums"))
              .selectExpr("label", "transform(sums, x -> x / (n * 1e6)) AS cvec")
              .write.parquet(idx.resolve("codebook").toString)
            codes = s.read
              .parquet(idx.resolve("codebook").toString)
              .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
              .sortBy(_._1).map(_._2)
            pqEncode(s, emb, codes)
              .write.parquet(idx.resolve("pqcodes").toString)
          },
          () => {
            emb.write.parquet(idx.resolve("vectors").toString)
            corpusN = emb.count()
          })
        // SERVE: stored artifacts only — no Tables.* reference below.
        val encS = s.read.parquet(idx.resolve("pqcodes").toString)
        val vecS = s.read.parquet(idx.resolve("vectors").toString)
        val probes = vecS.where($"vec_id" < 10)
          .select($"vec_id".as("qid"), $"embedding".as("qe"))
        val out = pqServe(s, encS, vecS, probes, codes, vecS.count())
        // Overlaps the serve + in-query reference passes below.
        val exactF = exactTop3Async(s, dir)
        QueryModule.gatedPlans.put("emb_pq_persisted", out)
        val planStr = out.queryExecution.executedPlan.toString
        require(!planStr.contains("embeddings.parquet"),
          "emb_pq_persisted: the serve plan scans the source corpus — " +
            "the index was re-derived at query time")
        val local = graft.sources.GraftSession.materialize(s, out)
        val rows = local.collect()
        // Equality gate vs the in-query route under the same stored
        // codebook (fixture-bounded collect; production samples probes).
        val memProbes = emb.where($"vec_id" < 10)
          .select($"vec_id".as("qid"), $"embedding".as("qe"))
        val mem = pqServe(s, pqEncode(s, emb, codes), emb, memProbes,
          codes, corpusN).collect()
        require(rows.length == mem.length &&
            rows.zip(mem).forall { case (a, b) => a == b },
          "emb_pq_persisted: served rows diverge from the in-query PQ " +
            "route — the parquet round trip perturbed the index")
        val exact = exactF.get()
        val overlap = rows.map(r => (r.getLong(0), r.getLong(2)))
          .count(exact.contains)
        require(overlap >= exact.size / 4,
          s"emb_pq_persisted recall gate: $overlap/${exact.size} exact " +
            "top-3 pairs recovered, below the 1/4 floor")
        local
      }
    }),

    // COMPOSED IVF×PQ PERSISTED INDEX — the production ANN shape
    // (FAISS IVFPQ): emb_ivf_persisted gives sublinear CANDIDATE
    // SELECTION (probe only nprobe cells), emb_pq_persisted gives
    // compressed-domain SCORING (8 code bytes instead of 256 float
    // bytes per scored row); composed, a query scans ~nprobe/k of the
    // corpus AND streams ~30× less per scanned row — at 100 TB both
    // factors are mandatory, not alternatives. BUILD writes the three
    // stored artifacts: the coarse codebook (k-row centroids), the PQ
    // CODES partitioned BY CELL (the layout is the index — a probe's
    // candidate read is nprobe directories), and the full vectors
    // (cold-path rerank storage). SERVE answers from the stored
    // artifacts alone: nprobe=3 cells → ADC shortlist INSIDE those
    // cells' postings → exact rerank of the shortlist. In-path guards:
    // (1) the serve plan never scans the source corpus; (2) PER-PROBE
    // SUBLINEARITY — the ADC scan of every probe touches strictly
    // fewer code rows than the corpus holds (the composition's whole
    // claim, asserted not assumed); (3) EXACT row equality vs the same
    // composed math over in-memory frames (the parquet round trip —
    // codes, norms, cell layout — must not perturb a single rank);
    // (4) the module's 1/4 recall floor vs the exact top-3. Rows-only
    // (ranking rides on derived centroids, like every ANN row).
    "emb_ivfpq_persisted" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_ivfpqidx_") { tmp =>
        val idx = tmp.resolve("index")
        // BUILD: codebook, cell assignment, PQ codes keyed by cell.
        // (a 3-way §2.6 overlap of the centroid/codebook/vector
        // passes was measured SLOWER here — three concurrent corpus
        // passes contend for the same cores while the serve+gates
        // dominate this query; kept sequential.)
        val sumAgg = udaf(new ElementwiseSum(64))
        Tables.embeddings(s, dir)
          .selectExpr("label",
            "transform(cast(embedding AS array<double>), x -> CAST(floor(x * 1000000) AS BIGINT)) AS e6")
          .groupBy($"label").agg(count(lit(1)).as("n"), sumAgg($"e6").as("sums"))
          .selectExpr("label AS cell",
            "transform(sums, x -> x / (n * 1000000.0)) AS cvec")
          .write.parquet(idx.resolve("centroids").toString)
        val centS = s.read.parquet(idx.resolve("centroids").toString)
        val codes = labelCodebook(s, dir)
        val emb = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
        val assigned = assignToCells(emb, centS)
        pqEncode(s, emb, codes)
          .join(assigned.select($"vec_id", $"cell"), "vec_id")
          .select($"cell", $"vec_id", $"codes", $"cnorm2")
          .write.partitionBy("cell")
          .parquet(idx.resolve("pqcodes").toString)
        emb.write.parquet(idx.resolve("vectors").toString)
        val corpusN = emb.count()
        // SERVE: stored artifacts only — no Tables.* reference below.
        val encS = s.read.parquet(idx.resolve("pqcodes").toString)
          .selectExpr("CAST(cell AS INT) AS cell", "vec_id", "codes",
            "cnorm2")
        val vecS = s.read.parquet(idx.resolve("vectors").toString)
        val out = ivfPqTop3(encS, centS, vecS, codes, corpusN)
        // Overlaps the ADC-scan witness + serve + reference passes.
        val exactF = exactTop3Async(s, dir)
        QueryModule.gatedPlans.put("emb_ivfpq_persisted", out)
        val planStr = out.queryExecution.executedPlan.toString
        require(!planStr.contains("embeddings.parquet"),
          "emb_ivfpq_persisted: the serve plan scans the source corpus " +
            "— the index was re-derived at query time")
        // Per-probe sublinearity: every probe's ADC scan must touch
        // strictly fewer code rows than the corpus holds — the nprobe
        // cells really do bound the compressed-domain scan.
        val wP = Window.partitionBy($"qid").orderBy($"csim".desc, $"cell")
        val probedCells = vecS.where($"vec_id" < 10)
          .select($"vec_id".as("qid"), $"embedding".as("qe"))
          .crossJoin(broadcast(centS))
          .withColumn("csim", call_function("cosine_sim", $"qe", $"cvec"))
          .withColumn("crk", row_number().over(wP))
          .where($"crk" <= 3)
          .select($"qid", $"cell")
        val maxScan = encS.join(broadcast(probedCells), Seq("cell"))
          .groupBy($"qid").count().agg(max($"count")).head().getLong(0)
        require(maxScan < corpusN,
          s"emb_ivfpq_persisted: a probe's ADC scan touched $maxScan " +
            s"of $corpusN code rows — the IVF stage added no " +
            "sublinearity over flat PQ")
        val local = graft.sources.GraftSession.materialize(s, out)
        val rows = local.collect()
        // Equality gate vs the composed route over in-memory frames
        // (fixture-bounded collect; production samples probes).
        val mem = ivfPqTop3(
          pqEncode(s, emb, codes)
            .join(assignToCells(emb, centS).select($"vec_id", $"cell"),
              "vec_id")
            .select($"cell", $"vec_id", $"codes", $"cnorm2"),
          centS, emb, codes, corpusN).collect()
        require(rows.length == mem.length &&
            rows.zip(mem).forall { case (a, b) => a == b },
          "emb_ivfpq_persisted: served rows diverge from the in-memory " +
            "composed route — the parquet round trip perturbed the index")
        val exact = exactF.get()
        val overlap = rows.map(r => (r.getLong(0), r.getLong(2)))
          .count(exact.contains)
        require(overlap >= exact.size / 4,
          s"emb_ivfpq_persisted recall gate: $overlap/${exact.size} " +
            "exact top-3 pairs recovered, below the 1/4 floor")
        local
      }
    }),

    // ANN via random-hyperplane LSH (sign sketch): 16 planes from a
    // deterministic ±1 hash pattern, banded 4×4 bits; candidates must
    // share a band with the probe, then exact cosine + top-3 inside the
    // candidate set only. Hash-dependent → rows-only; the spec measures
    // recall against emb_knn.
    "emb_ann_topk" -> ((s, dir) => {
      import s.implicits._
      // 16 fixed ±1 hyperplanes, derived once on the driver from a
      // splitmix-style generator and shipped in the task closure —
      // the sketch is then a tight typed-map loop per vector (the HOF
      // form re-derived the plane signs per vector: 1024 hash calls
      // × every row).
      val planes: Array[Array[Double]] = Array.tabulate(16, 64) { (j, d) =>
        var z = (j * 64 + d + 1).toLong * 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        if (((z ^ (z >>> 31)) & 1L) == 0L) -1.0 else 1.0
      }
      val sketched = Tables.embeddings(s, dir)
        .select($"vec_id", $"embedding").as[(Long, Array[Float])]
        .flatMap { case (id, emb) =>
          var bits = 0
          var j = 0
          while (j < 16) {
            val p = planes(j)
            var acc = 0.0; var d = 0
            while (d < emb.length && d < 64) { acc += emb(d) * p(d); d += 1 }
            if (acc > 0) bits |= (1 << j)
            j += 1
          }
          // 4 bands × 4 bits each: (vec_id, band, key, embedding)
          (0 until 4).map(b => (id, b, (bits >>> (b * 4)) & 0xF, emb))
        }
        .toDF("vec_id", "band", "key", "embedding")
        // the sketch feeds both the probe and candidate sides → persist
        // instead of recomputing the folds per use.
        .persist()
      val probes = sketched.where($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding".as("qe"), $"band", $"key")
      val cands = sketched.join(broadcast(probes), Seq("band", "key"))
        .where($"vec_id" =!= $"qid")
        .select($"qid", $"qe", $"vec_id", $"embedding")
        .distinct()
      val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"vec_id")
      val out = cands
        .withColumn("sim", call_function("cosine_sim", $"qe", $"embedding"))
        .withColumn("rank", row_number().over(w))
        .where($"rank" <= 3)
        .selectExpr("qid", "rank", "vec_id AS nid",
          "CAST(floor(sim * 1000000) AS BIGINT) AS sim_e6")
        .orderBy("qid", "rank")
      // In-path recall gate (EmbeddingSpec's bound): sign-sketch LSH on
      // near-orthogonal random vectors is weak by nature — the floor is
      // that it finds SOME true top-3 neighbors, i.e. the banding is
      // actually correlated with similarity rather than hashing noise.
      QueryModule.gated("emb_ann_topk", out) { rows =>
        val exact = exactTop3(s, dir)
        val overlap = rows.map(r => (r.getLong(0), r.getLong(2)))
          .count(exact.contains)
        require(overlap > 0,
          s"emb_ann_topk recall gate: 0/${exact.size} exact top-3 pairs " +
            "recovered — the LSH bands carry no similarity signal")
      }
    }),

    // CLUSTERING EVALUATION — purity of the label-centroid
    // assignment, the metric every clustering/codebook pipeline
    // reports: assign each vector to its nearest LABEL centroid, cross
    // the assignment against the true labels, and report each
    // cluster's majority share. Everything is exact integers: vectors
    // quantize to 1e-6 fixed point, centroids are sign-safe truncating
    // means of those integers, and squared L2 distances are BIGINT
    // sums — so the argmin (ties to the lowest label) and the whole
    // confusion matrix replay bit-for-bit in SQL. Shape: the 10×64
    // centroid table is collected (bounded by k·dim, the emb_kmeans
    // argument) and rides into the plan as a literal; assignment is a
    // narrow codegen'd per-row argmin — one scan, one confusion-matrix
    // aggregate, no joins.
    "emb_cluster_purity" -> ((s, dir) => {
      import s.implicits._
      val sumAgg = udaf(new ElementwiseSum(64))
      val emb = Tables.embeddings(s, dir)
        .selectExpr("vec_id", "label",
          "transform(CAST(embedding AS array<double>), " +
            "x -> CAST(floor(x * 1000000) AS BIGINT)) AS vq")
      val cents = emb.groupBy($"label")
        .agg(count(lit(1)).as("n"), sumAgg($"vq").as("s"))
        .collect()
        .map { r =>
          val n = r.getLong(1)
          (r.getInt(0),
            r.getSeq[Long](2).map(s => if (s < 0) -((-s) / n) else s / n))
        }.sortBy(_._1)
      val w = Window.partitionBy($"assigned").orderBy($"c".desc, $"label")
      emb.withColumn("cs", typedLit(cents.map(_._2.toSeq).toSeq))
        .selectExpr("label",
          "transform(cs, c -> aggregate(zip_with(vq, c, " +
            "(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)) AS ds")
        .selectExpr("label",
          // first-match array_position = lowest index = lowest label
          // (centroids sorted by label), the deterministic tiebreak.
          s"element_at(array(${cents.map(_._1).mkString(",")}), " +
            "CAST(array_position(ds, array_min(ds)) AS INT)) AS assigned")
        .groupBy($"assigned", $"label").agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(w))
        .withColumn("n", sum($"c").over(Window.partitionBy($"assigned")))
        .where($"rk" === 1)
        .selectExpr("assigned", "n", "label AS maj_label", "c AS maj_n",
          "c * 1000000L div n AS purity_ppm")
        .orderBy("assigned")
    }),

    // MAXSIM LATE INTERACTION — the ColBERT-style multi-vector
    // retrieval primitive: documents are GROUPS of vectors (gid =
    // vec_id div 8, ≤8 "token" vectors each), and a query document
    // scores a candidate as Σ_q max_d cos(q, d) — every query token
    // matches its best candidate token, scores summed. The operator
    // single-vector kNN cannot express: one bad token doesn't sink a
    // doc, and the per-token max is where late interaction beats
    // pooled embeddings. Shape: the probe set (3 docs × ≤8 vectors)
    // BROADCASTS onto one pass over the corpus vectors — cosines via
    // the codegen'd cosine_sim, then partial+final aggregates for the
    // per-(query-token, candidate) max and the per-candidate sum, and
    // a per-probe top-3 window. Determinism: each per-token max is
    // floored to e6 BEFORE the sum, so the score is an exact integer
    // sum of deterministic doubles (the emb_knn float policy applied
    // to an additive score).
    "emb_maxsim" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
        .selectExpr("vec_id", "vec_id div 8 AS gid", "embedding")
      val probes = e.where($"gid" < 3)
        .select($"gid".as("qgid"), $"vec_id".as("qvec"), $"embedding".as("qe"))
      val w = Window.partitionBy($"qgid").orderBy($"score_e6".desc, $"dgid")
      e.join(broadcast(probes), $"gid" =!= $"qgid")
        .select($"qgid", $"gid".as("dgid"), $"qvec",
          call_function("cosine_sim", $"qe", $"embedding").as("sim"))
        .groupBy($"qgid", $"dgid", $"qvec")
        .agg(expr("CAST(floor(max(sim) * 1000000) AS BIGINT)").as("m"))
        .groupBy($"qgid", $"dgid")
        .agg(sum($"m").as("score_e6"))
        .withColumn("rk", row_number().over(w))
        .where($"rk" <= 3)
        .select($"qgid", $"rk".cast("long").as("rk"), $"dgid", $"score_e6")
        .orderBy("qgid", "rk")
    }),

    // PCA TOP COMPONENT via power iteration — the spectral
    // primitive under embedding whitening/compression and drift
    // monitoring, in the engine's exact-replay style: the corpus pass
    // is ONE partial+final aggregate folding each row's 64×64 outer
    // product (quantized 1e3 fixed point, computed by a codegen'd
    // nested-transform — no explode, no shuffle of row×dim² rows; only
    // 4096-long Gram partials cross the exchange), and the 8-round
    // power iteration then runs DRIVER-SIDE on the collected 64×64
    // BIGINT matrix — bounded by dim², independent of corpus size,
    // which is exactly what makes this legitimate at 100 TB (contrast
    // rel_pagerank, whose node state is data-sized and must stay
    // distributed). All iteration arithmetic is overflow-free exact
    // integers: w = A·v; renorm v' = sign(w)·(|w| div (max|w| div
    // 1e6)) — positive-operand truncating division only, so Spark
    // `div`, Scala `/`, and DuckDB `//` agree sign-safely. The oracle
    // replays the identical Gram build + 8 unrolled rounds in SQL, so
    // the driver hash-compares the eigenvector exactly. Uncentered
    // (2nd-moment) PCA, stated plainly: no mean subtraction, which
    // keeps the pass one aggregate and the replay exact.
    "emb_pca_power" -> ((s, dir) => {
      import s.implicits._
      val gramAgg = udaf(new ElementwiseSum(4096))
      val gramDf = Tables.embeddings(s, dir)
        .selectExpr(
          "transform(CAST(embedding AS array<double>), " +
            "x -> CAST(floor(x * 1000) AS BIGINT)) AS q")
        .selectExpr("flatten(transform(q, x -> transform(q, y -> x * y))) AS op")
        .agg(gramAgg($"op").as("a"))
      // Inner-plan registry (ShowPlan / PlanShapeSpec): the returned
      // DataFrame is a driver-local eigenvector, but the plan that
      // must stay partial+final-with-no-explode is the Gram pass.
      QueryModule.gatedPlans.put("emb_pca_power", gramDf)
      val gram = gramDf.head().getSeq[Long](0).toArray
      require(gram.length == 4096, s"gram is ${gram.length}, want 64*64")
      var v = Array.fill(64)(1000000L)
      var lambdaFp = 0L
      for (_ <- 1 to 8) {
        // w = A·v in CHECKED Long arithmetic: Gram entries grow with
        // corpus size (≈N·1e6 for unit-norm 1e3-quantized vectors) and
        // v is renormalized to ≈1e6, so w_i ≈ 64·N·1e12 exceeds Long
        // near N ≈ 1.4e5 rows. Scala's `*`/`+` would wrap silently
        // while DuckDB's BIGINT raises — an asymmetric divergence the
        // hash compare could miss. add/multiplyExact makes the Spark
        // side fail loudly at the same boundary (the degenerate-Gram
        // require's fail-loud policy); at that corpus size the right
        // move is raising the quantization denominator, not wrapping.
        val w = Array.tabulate(64) { i =>
          var acc = 0L; var j = 0
          while (j < 64) {
            acc = Math.addExact(acc, Math.multiplyExact(gram(i * 64 + j), v(j)))
            j += 1
          }
          acc
        }
        lambdaFp = w.map(math.abs).max
        val scaled = lambdaFp / 1000000L
        require(scaled > 0, "emb_pca_power: degenerate Gram matrix (max|w| < 1e6)")
        v = w.map(x => { val m = math.abs(x) / scaled; if (x < 0) -m else m })
      }
      v.zipWithIndex
        .map { case (e, i) => (i + 1L, e, lambdaFp) }
        .toSeq.toDF("dim", "eigvec_fp", "lambda_fp")
        .orderBy("dim")
    })
  )

  /** ONE oracle text for both the all-pairs baseline and its blocked
    * sibling: identical SQL means the driver independently proves
    * output equality — the blocked plan must reproduce the brute-force
    * result bit for bit. */
  private val CosinePairsSql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
      |SELECT a.vec_id AS v1, b.vec_id AS v2,
      |  CAST(floor(list_cosine_similarity(a.v, b.v) * 1000000) AS BIGINT) AS sim_e6
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.v, b.v) >= 0.38
      |ORDER BY v1, v2""".stripMargin

  override def oracles: Map[String, String] = Map(
    "emb_blocked_pairs" -> CosinePairsSql,
    // The identical quantize + integer-dot + rank pipeline: per-dim
    // global min/range in 1e-6 fixed point, q = (v−min)·255 // range,
    // same (score desc, nid) tie-break.
    "emb_sq8_topk" ->
      """WITH q AS (SELECT vec_id, d.i AS i,
        |    CAST(floor(embedding[d.i]::DOUBLE * 1000000) AS BIGINT) AS v6
        |  FROM embeddings, range(1, 65) d(i)),
        |st AS (SELECT i, min(v6) AS mn, max(v6) AS mx FROM q GROUP BY i),
        |qq AS (SELECT vec_id, q.i,
        |    CASE WHEN mx = mn THEN 0
        |         ELSE (v6 - mn) * 255 // (mx - mn) END AS qv
        |  FROM q JOIN st USING (i)),
        |p AS (SELECT vec_id AS qid, i, qv AS pv FROM qq WHERE vec_id < 10),
        |dot AS (SELECT p.qid, qq.vec_id AS nid,
        |    CAST(sum(p.pv * qq.qv) AS BIGINT) AS score
        |  FROM p JOIN qq ON p.i = qq.i AND qq.vec_id != p.qid
        |  GROUP BY 1, 2),
        |r AS (SELECT qid, nid, score,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY score DESC, nid) AS rk
        |  FROM dot)
        |SELECT qid, CAST(rk AS BIGINT) AS rank, nid, score
        |FROM r WHERE rk <= 3
        |ORDER BY qid, rank""".stripMargin,
    // The identical two-stage route replayed relationally: per-dim
    // truncated-integer means (sign-safe //), sign bits, per-pair
    // hamming as a bit-diff sum (no packing needed relationally —
    // the 64-bit word + XOR/popcount is the Spark side's performance
    // form, not a semantic), hamming top-10 shortlist, exact
    // fixed-point dot rerank, ties by id everywhere.
    "emb_bq_topk" ->
      """WITH q AS (SELECT vec_id, d.i AS i,
        |    CAST(floor(embedding[d.i]::DOUBLE * 1000000) AS BIGINT) AS v6
        |  FROM embeddings, range(1, 65) d(i)),
        |m AS (SELECT i, CAST(sum(v6) AS BIGINT) AS s, count(*) AS n
        |  FROM q GROUP BY i),
        |mm AS (SELECT i,
        |    CASE WHEN s < 0 THEN -((-s) // n) ELSE s // n END AS mean6
        |  FROM m),
        |b AS (SELECT q.vec_id, q.i, q.v6,
        |    CASE WHEN q.v6 > mm.mean6 THEN 1 ELSE 0 END AS bit
        |  FROM q JOIN mm USING (i)),
        |ham AS (SELECT p.vec_id AS qid, c.vec_id AS vid,
        |    CAST(sum(CASE WHEN p.bit != c.bit THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ham
        |  FROM b p JOIN b c ON p.i = c.i
        |    AND p.vec_id < 10 AND c.vec_id != p.vec_id
        |  GROUP BY 1, 2),
        |short AS (SELECT qid, vid FROM (
        |    SELECT qid, vid,
        |      row_number() OVER (PARTITION BY qid ORDER BY ham, vid) AS hr
        |    FROM ham) WHERE hr <= 10),
        |sc AS (SELECT s.qid, s.vid AS nid,
        |    CAST(sum(p.v6 * c.v6) AS BIGINT) AS score
        |  FROM short s
        |  JOIN b p ON p.vec_id = s.qid
        |  JOIN b c ON c.vec_id = s.vid AND c.i = p.i
        |  GROUP BY 1, 2),
        |r AS (SELECT qid, nid, score,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY score DESC, nid) AS rk
        |  FROM sc)
        |SELECT qid, CAST(rk AS BIGINT) AS rank, nid, score
        |FROM r WHERE rk <= 3
        |ORDER BY qid, rank""".stripMargin,
    // Identical quantization, sign-safe centroid division, integer
    // distances, and (dist, label) argmin tiebreak.
    "emb_cluster_purity" ->
      """WITH q AS (SELECT vec_id, label, d.i AS i,
        |    CAST(floor(embedding[d.i]::DOUBLE * 1000000) AS BIGINT) AS v6
        |  FROM embeddings, range(1, 65) d(i)),
        |cs AS (SELECT label, i, CAST(sum(v6) AS BIGINT) AS s, count(*) AS n
        |  FROM q GROUP BY 1, 2),
        |c AS (SELECT label, i,
        |    CAST(CASE WHEN s < 0 THEN -((-s) // n) ELSE s // n END AS BIGINT) AS cfp
        |  FROM cs),
        |dist AS (SELECT q.vec_id, q.label AS tlabel, c.label AS clabel,
        |    CAST(sum((q.v6 - c.cfp) * (q.v6 - c.cfp)) AS BIGINT) AS d
        |  FROM q JOIN c USING (i) GROUP BY 1, 2, 3),
        |a AS (SELECT vec_id, tlabel, clabel AS assigned FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY d, clabel) AS rk FROM dist) WHERE rk = 1),
        |conf AS (SELECT assigned, tlabel, count(*) AS c FROM a GROUP BY 1, 2),
        |top AS (SELECT assigned, tlabel, c,
        |    row_number() OVER (PARTITION BY assigned ORDER BY c DESC, tlabel) AS rk,
        |    sum(c) OVER (PARTITION BY assigned) AS n
        |  FROM conf)
        |SELECT assigned, CAST(n AS BIGINT) AS n, tlabel AS maj_label,
        |  CAST(c AS BIGINT) AS maj_n,
        |  CAST(c * 1000000 // n AS BIGINT) AS purity_ppm
        |FROM top WHERE rk = 1
        |ORDER BY assigned""".stripMargin,

    // Same grouping, same per-token max→floor→sum policy, same
    // (score desc, dgid) tie-break.
    "emb_maxsim" ->
      """WITH e AS (SELECT vec_id, vec_id // 8 AS gid,
        |    embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT gid AS qgid, vec_id AS qvec, v AS qv FROM e WHERE gid < 3),
        |m AS (SELECT qgid, e.gid AS dgid, qvec,
        |    CAST(floor(max(list_cosine_similarity(qv, e.v)) * 1000000) AS BIGINT) AS m
        |  FROM q JOIN e ON e.gid != qgid
        |  GROUP BY 1, 2, 3),
        |sc AS (SELECT qgid, dgid, CAST(sum(m) AS BIGINT) AS score_e6
        |  FROM m GROUP BY 1, 2),
        |r AS (SELECT qgid, dgid, score_e6,
        |    row_number() OVER (PARTITION BY qgid
        |      ORDER BY score_e6 DESC, dgid) AS rk
        |  FROM sc)
        |SELECT qgid, CAST(rk AS BIGINT) AS rk, dgid, score_e6
        |FROM r WHERE rk <= 3
        |ORDER BY qgid, rk""".stripMargin,
    // The identical Gram build + 8 unrolled power-iteration rounds
    // (the rel_pagerank replay pattern): every operation is exact
    // integer arithmetic with positive-operand division, so the
    // eigenvector hash-matches bit for bit.
    "emb_pca_power" -> {
      val round = (k: Int) =>
        s"""w$k AS (SELECT a.i AS dim, CAST(sum(a.a * v${k - 1}.v) AS BIGINT) AS w
           |  FROM a JOIN v${k - 1} ON a.j = v${k - 1}.dim GROUP BY 1),
           |m$k AS (SELECT CAST(max(abs(w)) AS BIGINT) // 1000000 AS s FROM w$k),
           |v$k AS (SELECT dim, CAST(CASE WHEN w < 0 THEN -(abs(w) // s)
           |  ELSE abs(w) // s END AS BIGINT) AS v FROM w$k, m$k)""".stripMargin
      s"""WITH q AS (SELECT vec_id, d.i AS i,
         |    CAST(floor(embedding[d.i]::DOUBLE * 1000) AS BIGINT) AS qv
         |  FROM embeddings, range(1, 65) d(i)),
         |a AS (SELECT qi.i AS i, qj.i AS j,
         |      CAST(sum(qi.qv * qj.qv) AS BIGINT) AS a
         |      FROM q qi JOIN q qj USING (vec_id) GROUP BY 1, 2),
         |v0 AS (SELECT i AS dim, CAST(1000000 AS BIGINT) AS v
         |       FROM range(1, 65) t(i)),
         |${(1 to 8).map(round).mkString(",\n")}
         |SELECT CAST(v8.dim AS BIGINT) AS dim, v8.v AS eigvec_fp,
         |  (SELECT CAST(max(abs(w)) AS BIGINT) FROM w8) AS lambda_fp
         |FROM v8 ORDER BY dim""".stripMargin
    },
    "emb_norms" ->
      """SELECT label, count(*) AS n, max(len(embedding)) AS dim,
        |  CAST(sum(CAST(floor(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) * 1000000) AS BIGINT)) AS BIGINT) AS sum_norm2_e6
        |FROM embeddings
        |GROUP BY label
        |ORDER BY label""".stripMargin,
    "emb_knn" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
        |s AS (SELECT qid, e.vec_id AS nid, list_cosine_similarity(qv, e.v) AS sim
        |      FROM q JOIN e ON e.vec_id != qid),
        |r AS (SELECT qid, nid, sim,
        |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
        |      FROM s)
        |SELECT qid, rank, nid, CAST(floor(sim * 1000000) AS BIGINT) AS sim_e6
        |FROM r WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    "emb_cosine_pairs" -> CosinePairsSql,
    "emb_centroid" ->
      """WITH q AS (SELECT label,
        |    [CAST(floor(embedding[i]::DOUBLE * 1000000) AS BIGINT) FOR i IN range(1, len(embedding) + 1)] AS e6
        |  FROM embeddings),
        |n AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label)
        |SELECT q.label AS label, n.n, d.i AS dim, CAST(sum(e6[d.i]) AS BIGINT) AS sum_e6
        |FROM q JOIN n ON q.label = n.label, range(1, 65) d(i)
        |GROUP BY q.label, n.n, d.i
        |ORDER BY q.label, dim""".stripMargin,
    "emb_int8_quant" ->
      """WITH u AS (
        |  SELECT d.i AS dim,
        |    CAST(floor(embedding[d.i]::DOUBLE * 1000000) AS BIGINT) AS v6
        |  FROM embeddings, range(1, 65) d(i))
        |SELECT dim, count(*) AS n, min(v6) AS vmin_e6, max(v6) AS vmax_e6,
        |  CAST((max(v6) - min(v6)) * 1000 // 255 AS BIGINT) AS scale_e9
        |FROM u
        |GROUP BY 1
        |ORDER BY dim""".stripMargin
  )
}
