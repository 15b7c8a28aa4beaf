package graft.tools

import org.apache.spark.sql.SparkSession

/** Multi-executor smoke test (dev tool, like [[TimeQ]]): runs a
  * representative query slice on `local-cluster` mode — REAL separate
  * executor JVMs, so closure serialization, executor-side classloading
  * (MediaCodec's ImageIO init, typed-kernel lambdas) and codegen'd
  * custom expressions are exercised across process boundaries, which
  * `local[N]` can never do. This is the closest an offline container
  * gets to "would it run on a 1000-executor cluster".
  *
  * Launch (both env vars are required — the executor launcher needs a
  * full Spark layout and its Scala version, normally provided by
  * `load-spark-env.sh`):
  * {{{
  * SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *   sbt "runMain graft.tools.ClusterSmoke"
  * }}}
  * Verified green (2 workers x 4 cores, Spark 4.1.2) on: the typed
  * kernel, multimodal decode, cosine-kNN, the jaccard pipeline, and a
  * streaming drain.
  *
  * `--all` caveat: `mm_ingest` and `rel_bucketed_join` stage fixture
  * state (temp media files / a warehouse dir) via
  * `GraftSession.stagingDir` — driver-local temp by default, which
  * works here because `local-cluster` executors share the driver's
  * host; on a real multi-node cluster set `SPARK_GRAFT_STAGING` to a
  * shared mount (verified: `SPARK_GRAFT_STAGING=<dir> sbt "runMain
  * graft.tools.ClusterSmoke mm_ingest rel_bucketed_join"` stages
  * under the override and both queries pass with executors scanning
  * it) — the query plans themselves are unchanged. The
  * drains' scratch trees (sink + checkpoint) have the same share-a-
  * filesystem assumption in this harness; production checkpoints go to
  * HDFS/S3 by construction.
  */
object ClusterSmoke {
  def main(args: Array[String]): Unit = {
    if (args.contains("--pressure")) { pressureDemo(args); return }
    if (args.contains("--pressure-stream")) { pressureStreamDemo(args); return }
    val spark = graft.sources.GraftSession.configure(SparkSession.builder()
      .master("local-cluster[2,4,2048]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.executor.memory", "2g")
      // Ship the sbt-compiled classes to the executor JVMs (sbt runs
      // from classes, not a jar, so nothing is shipped automatically).
      .config("spark.executor.extraClassPath",
        graft.sources.GraftSession.classesDir)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sf = args.find(_.startsWith("/"))
      .getOrElse("/root/testdata/sf0.001")
    // Default: a representative slice. `--all` runs the full query
    // surface distributed — the heavyweight pre-round check.
    // `--batches` runs the whole streaming matrix: every drain is
    // multi-micro-batch (split source, maxFilesPerTrigger=1) with a
    // hard data-batch-count assert, so this slice proves cross-batch
    // watermark/state semantics hold when the micro-batches execute on
    // SEPARATE executor JVMs (state store, checkpoint IO and the
    // listener-counted progress all crossing process boundaries).
    // Explicit query names as args run exactly those (e.g. the staging
    // queries under an overridden SPARK_GRAFT_STAGING root).
    if (args.contains("--retry")) {
      retryDemo(spark, sf)
      spark.stop()
      return
    }
    val named = args.filter(graft.SparkEntry.queries.contains).toSeq
    val slice =
      if (args.contains("--all")) graft.SparkEntry.queries.keys.toSeq.sorted
      else if (args.contains("--batches"))
        graft.SparkEntry.queries.keys.filter(_.startsWith("ev_stream")).toSeq.sorted
      else if (named.nonEmpty) named
      else Seq("mr_wordcount", "mm_metadata", "emb_knn",
        "dedup_ngram_jaccard", "ev_stream_hourly")
    var failures = 0
    slice.foreach { q =>
      try {
        val n = graft.SparkEntry.queries(q)(spark, sf).count()
        println(s"[cluster] $q OK ($n rows)")
      } catch { case e: Throwable =>
        failures += 1
        println(s"[cluster] $q FAILED: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300))
      }
      spark.catalog.clearCache()
    }
    spark.stop()
    if (failures > 0) sys.exit(1)
  }

  /** R13 fault-tolerance demonstration (`--retry`): the reference
    * kernel's error handling is "print `system error:` and exit(1)" —
    * ANY worker failure kills the whole job. Spark's task retry
    * supplants that: this runs the flagship wordcount with a client
    * whose map DETERMINISTICALLY throws on the first attempt of
    * partition 0 (real executor JVMs here, and `local-cluster` keeps
    * the non-local default `spark.task.maxFailures=4`, unlike
    * `local[N]` where retries are off — which is why this lives in the
    * smoke harness, not the unit suite). The failed attempt's shuffle
    * output is never committed, the retried attempt (attemptNumber 1)
    * passes, and the output must be IDENTICAL to the clean run — the
    * exactly-once illusion over at-least-twice execution. */
  private def retryDemo(spark: SparkSession, sf: String): Unit = {
    import spark.implicits._
    import graft.mr.{MapReduce, MapReduceClient, WordCountClient}
    object FlakyWordCountClient
        extends MapReduceClient[Long, String, String, Long, String, Long] {
      override def map(docId: Long, text: String): IterableOnce[(String, Long)] = {
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0)
          throw new RuntimeException(
            "graft injected failure: first attempt of map partition 0")
        WordCountClient.map(docId, text)
      }
      override def reduce(w: String, counts: Iterator[Long]): IterableOnce[(String, Long)] =
        WordCountClient.reduce(w, counts)
    }
    val taskFailures = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.reason != org.apache.spark.Success) taskFailures.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val in = graft.sources.Tables.documents(spark, sf)
        .select("doc_id", "text").as[(Long, String)]
      val clean = MapReduce.run(in, WordCountClient, 8)
        .collect().sortBy(_._1).toSeq
      val flaky = MapReduce.run(in, FlakyWordCountClient, 8)
        .collect().sortBy(_._1).toSeq
      require(flaky == clean,
        s"retried run diverged: ${flaky.size} vs ${clean.size} rows")
      // Listener events drain asynchronously (the bus is private API);
      // poll briefly so the injected failure is visible before the
      // assert.
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (taskFailures.get < 1 && System.nanoTime() < deadline)
        Thread.sleep(50)
      require(taskFailures.get >= 1,
        "no task failure observed — the injection never fired")
      println(s"[cluster] retry OK: ${taskFailures.get} task failure(s) " +
        s"absorbed, output identical to the clean run (${clean.size} words)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Memory-pressure validation (`--pressure`): the difference between
    * "the right plan" and "the right plan under pressure". The
    * heaviest non-stream queries run on real executor JVMs that are
    * deliberately STARVED — 640 MB heaps and `spark.memory.fraction`
    * squeezed to 0.05, so the execution/storage pool is ~17 MB per
    * executor and every big hash aggregate, sort, and sort-merge join
    * is forced off its in-memory fast path into Spark's spill
    * machinery (UnsafeExternalSorter / hash-agg sort fallback). The
    * run must stay GREEN — correct answers with spills, not OOMs —
    * and the listener-summed task metrics must witness actual
    * spilling, or the demonstration is vacuous and the run fails.
    * Default fixture is sf0.1 (the bench scale) so the operators have
    * real volume to spill.
    * {{{
    * SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
    *   sbt "runMain graft.tools.ClusterSmoke --pressure"
    * }}}
    */
  private def pressureDemo(args: Array[String]): Unit = {
    val spark = graft.sources.GraftSession.configure(SparkSession.builder()
      .master("local-cluster[2,2,640]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.executor.memory", "640m")
      .config("spark.memory.fraction", "0.05")
      .config("spark.executor.extraClassPath",
        graft.sources.GraftSession.classesDir)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sf = args.find(_.startsWith("/")).getOrElse("/root/testdata/sf0.1")
    val memSpilled = new java.util.concurrent.atomic.AtomicLong
    val diskSpilled = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) {
          memSpilled.addAndGet(e.taskMetrics.memoryBytesSpilled)
          diskSpilled.addAndGet(e.taskMetrics.diskBytesSpilled)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val heavy = Seq("rel_pagerank", "dedup_clusters", "pipe_profile",
      "dedup_minhash_lsh", "tpch_q9", "tpch_q18", "tpch_q21",
      // Additions with real volume: the wedge-join triangle count
      // and the full versioned-table protocol cycle (writes + merges
      // + time-travel reads under starved executors).
      "rel_triangles", "pipe_table_commit",
      // Third session: the multi-writer conflict cycle (two extra
      // writers' full rewrites + rebases) and the segment ingest +
      // dual-route serve of the IVF index — both write-heavy shapes
      // whose broadcast/codebook maths must survive starved executors.
      "pipe_commit_conflict", "emb_ivf_append")
    var failures = 0
    heavy.foreach { q =>
      try {
        val n = graft.SparkEntry.queries(q)(spark, sf).count()
        println(s"[pressure] $q OK ($n rows, cumulative spill: " +
          s"mem=${memSpilled.get} disk=${diskSpilled.get})")
      } catch { case e: Throwable =>
        failures += 1
        println(s"[pressure] $q FAILED: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300))
      }
      spark.catalog.clearCache()
    }
    // Listener events drain asynchronously — poll before judging.
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (diskSpilled.get == 0 && System.nanoTime() < deadline)
      Thread.sleep(100)
    println(s"[pressure] total spill: mem=${memSpilled.get} bytes, " +
      s"disk=${diskSpilled.get} bytes across ${heavy.size} queries")
    spark.stop()
    if (failures > 0) {
      println(s"[pressure] $failures queries failed under memory pressure")
      sys.exit(1)
    }
    if (diskSpilled.get == 0) {
      println("[pressure] no spill observed — the run proved nothing; " +
        "shrink spark.memory.fraction or grow the fixture")
      sys.exit(1)
    }
  }

  /** STREAMING pressure validation (`--pressure-stream`): the stateful
    * drains on the SAME starved local-cluster config as `--pressure`
    * (640 MB heaps, memory.fraction 0.05) — micro-batch planning,
    * checkpoint IO, watermark advancement and per-row state commits all
    * crossing real process boundaries with ~17 MB of execution memory
    * per executor. The slice is the state-heaviest drains: the three
    * that run on the RocksDB provider by design (ev_stream_dedup — one
    * state row per event id in the horizon, the suite's largest state;
    * sessionize and the timed-window sessions), plus the stream-stream
    * full-outer join (two-sided buffered state) and the merge-target
    * upsert. The run must stay green AND the listener must witness
    * real state (rows and bytes summed from each drain's last
    * progress), or the demonstration is vacuous and the run fails.
    * {{{
    * SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
    *   sbt "runMain graft.tools.ClusterSmoke --pressure-stream"
    * }}}
    */
  private def pressureStreamDemo(args: Array[String]): Unit = {
    val spark = graft.sources.GraftSession.configure(SparkSession.builder()
      .master("local-cluster[2,2,640]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.executor.memory", "640m")
      .config("spark.memory.fraction", "0.05")
      .config("spark.executor.extraClassPath",
        graft.sources.GraftSession.classesDir)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sf = args.find(_.startsWith("/")).getOrElse("/root/testdata/sf0.1")
    // Per-query max of summed state rows/bytes across that drain's
    // progress updates (each update reports the batch's state
    // operators; the MAX over batches is the high-water mark).
    val stateRows = new java.util.concurrent.atomic.AtomicLong
    val stateBytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val ops = e.progress.stateOperators
        if (ops != null && ops.nonEmpty) {
          val rows = ops.map(_.numRowsTotal).sum
          val bytes = ops.map(_.memoryUsedBytes).sum
          stateRows.getAndAccumulate(rows, Math.max _)
          stateBytes.getAndAccumulate(bytes, Math.max _)
        }
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val drains = Seq("ev_stream_dedup", "ev_stream_sessionize",
      "ev_stream_tws", "ev_stream_fulljoin", "ev_stream_upsert")
    var failures = 0
    drains.foreach { q =>
      try {
        val n = graft.SparkEntry.queries(q)(spark, sf).count()
        println(s"[pressure-stream] $q OK ($n rows, state high-water: " +
          s"rows=${stateRows.get} bytes=${stateBytes.get})")
      } catch { case e: Throwable =>
        failures += 1
        println(s"[pressure-stream] $q FAILED: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300))
      }
      spark.catalog.clearCache()
    }
    println(s"[pressure-stream] state high-water across ${drains.size} " +
      s"drains: rows=${stateRows.get} bytes=${stateBytes.get}")
    spark.streams.removeListener(listener)
    spark.stop()
    if (failures > 0) {
      println(s"[pressure-stream] $failures drains failed under memory pressure")
      sys.exit(1)
    }
    if (stateRows.get == 0) {
      println("[pressure-stream] no state witnessed — the run proved nothing")
      sys.exit(1)
    }
  }
}
