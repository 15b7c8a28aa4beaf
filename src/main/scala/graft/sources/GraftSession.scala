package graft.sources

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** Session config shared by every entry point (Verify, Bench, tests).
  *
  * Central so that fixture-driven settings are visible at construction
  * time instead of mutated mid-session by readers (ADVICE r01):
  *
  *  - UTC session timezone: oracle parity (DuckDB runs in UTC), and it
  *    makes TIMESTAMP_NTZ↔TIMESTAMP casts wall-clock-preserving
  *    (`events.ts` is TIMESTAMP(MICROS) ntz parquet since the r10
  *    fixture refresh — FIXTURES.md).
  *  - [[graft.functions.GraftExtensions]]: registers the engine's native
  *    Catalyst functions (e.g. `cosine_sim`).
  */
object GraftSession {
  /** Deliberately NOT set here (cluster-deployment notes):
    *  - `spark.sql.shuffle.partitions`: the harness mains set it to the
    *    core count (local mode); on a cluster size it to ~2-3x total
    *    executor cores, or leave AQE coalescing (on by default in
    *    Spark 4) to shrink small shuffles at runtime.
    *  - `spark.sql.files.maxPartitionBytes` (default 128 MB): at 100 TB
    *    the default yields ~800k scan tasks — right order for 1000
    *    executors; raise toward 256-512 MB only if task overhead
    *    dominates and executor memory allows the bigger columnar
    *    batches.
    *  - AQE skew-join splitting (`spark.sql.adaptive.skewJoin.*`) stays
    *    at defaults: the engine's own skew paths (salting, broadcast,
    *    bucketed layouts) handle the planned cases, AQE catches the
    *    unplanned ones — demonstrated end-to-end by `rel_skew_aqe_join`
    *    (driver-oracle-checked; the split is hard-asserted in
    *    [[graft.operators.SkewJoin.aqeSkewJoinDemo]], with detection
    *    thresholds scaled to fixture size there, not here).
    *  - `spark.sql.streaming.stateStore.providerClass`: default
    *    (HDFS-backed) here; the two drains whose state grows with the
    *    data opt into RocksDB — `ev_stream_dedup` (per-row state: one
    *    entry per event id in the horizon) and `ev_stream_sessionize`
    *    (per-key-growing custom state: one mapGroupsWithState snapshot
    *    per user, never evicted). Measured A/B on the dedup drain
    *    shape (DrainProfile r9, sf0.1, ~10^5 state rows, tmpfs
    *    scratch, min of 3 interleaved reps): heap 3.40 s vs
    *    RocksDB 3.79 s — and on the sessionize shape (r11): heap
    *    1.57 s vs RocksDB 1.74 s — the provider costs ~12% at fixture scale
    *    (native-store commit machinery), the price of state that no
    *    longer lives on the JVM heap. At 100 TB that trade inverts:
    *    heap-backed state caps at executor memory and snapshots whole
    *    maps per batch, RocksDB spills to local SSTs and uploads
    *    changelogs. Deployment note: RocksDB's working/SST directory
    *    follows `spark.local.dir` (the executor's local scratch), NOT
    *    the checkpoint location — size local disks for state, not just
    *    shuffle. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    // TIMESTAMP payload columns in graft-table (r19) are INT64
    // micros by contract: the footer-driven schema inference and the
    // Group-API readers refuse INT96, so library commits (which write
    // through spark.write.parquet) must never emit the legacy type.
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")

  /** Run `body` on a child of `s` that carries the caller's SQL config
    * plus `settings`. The child (`s.newSession()`) shares the
    * SparkContext, cached data and extensions but owns its SQLConf,
    * temp views and streams, so a setting made here is never seen by
    * another query on `s`, concurrent ones included, and nothing needs
    * restoring. The caller's query-execution and streaming listeners
    * are registered on the child too, so what runs there stays visible
    * to whoever observes `s`. The child is the active session while
    * `body` runs:
    * plan statistics resolve their conf through the active session,
    * not the DataFrame's own. A DataFrame stays bound to the session
    * that built it, so whatever the settings must govern, a streaming
    * topology included, has to be built on the session `body` gets. */
  def scoped[T](s: SparkSession, settings: (String, String)*)(
      body: SparkSession => T): T = {
    val child = s.newSession()
    val inherited = child.conf.getAll
    (s.conf.getAll.filter { case (k, v) => !inherited.get(k).contains(v) } ++
      settings).foreach { case (k, v) => child.conf.set(k, v) }
    org.apache.spark.sql.GraftSessionAccess.queryListeners(s)
      .foreach(child.listenerManager.register)
    // Touch the child's streams only when there is a listener to carry
    // over, and skip the ones every session registers for itself.
    val streamListeners = s.streams.listListeners()
    if (streamListeners.nonEmpty) {
      val own = child.streams.listListeners().toSet
      streamListeners.filterNot(own).foreach(child.streams.addListener)
    }
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(child)
    try body(child)
    finally prev match {
      case Some(p) => SparkSession.setActiveSession(p)
      case None    => SparkSession.clearActiveSession()
    }
  }

  /** Run independent tasks concurrently, one fresh thread each, and
    * return their results in task order. Every task is joined before
    * this returns, so no thread outlives the call; the first failure in
    * task order is then rethrown. A thread created by the caller
    * inherits its Spark local properties (job group, description,
    * scheduler pool) and active session, so the tasks' jobs stay
    * attributed to the calling query — the reason these are fresh
    * threads rather than a reused pool. */
  def overlap[T](tasks: (() => T)*): Seq[T] = {
    val running = tasks.map(t => async(t()))
    running.foreach(_.await())
    running.map(_.get())
  }

  /** The session's Hadoop configuration, broadcast so executor tasks
    * resolve files with the settings the user configured (s3a
    * credentials, custom schemes); a bare `new Configuration()` drops
    * them. A broadcast is read once per executor: a conf captured in
    * a task closure is deserialized again by every task, about 12 ms
    * for the ~1,100 entries of a default local session. */
  def hadoopConf(spark: SparkSession = SparkSession.active)
      : Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))

  /** Start `body` now on a fresh thread, as one [[overlap]] task, and
    * return the handle that joins it. */
  def async[T](body: => T): Running[T] = new Running(() => body)

  /** A task started by [[async]]. */
  final class Running[T] private[GraftSession] (body: () => T) {
    private var outcome: Either[Throwable, T] = _
    private val thread = new Thread(() =>
      outcome = try Right(body()) catch { case e: Throwable => Left(e) },
      "graft-overlap")
    // A task whose caller failed before joining it must not hold the
    // JVM open.
    thread.setDaemon(true)
    thread.start()

    private[GraftSession] def await(): Unit = thread.join()

    /** Wait for the task; its result, or its failure rethrown. */
    def get(): T = { await(); outcome.fold(e => throw e, identity) }
  }

  /** Silence WindowExec's "No Partition Defined" warning — HARNESS
    * MAINS ONLY (Verify/Bench call this; the library itself never
    * does, so consumers keep the canary). The suite contains exactly
    * two deliberately unpartitioned windows: the two-level prefix sums
    * of `pipe_pack_sequences` / `pipe_shard_assign` run their GLOBAL
    * pass over tiny per-bucket/per-size aggregate tables — bounded
    * cardinality by design, a single partition is the point — and the
    * warning fires once per run of each, alarming every future reader
    * of the bench tail (r9 verdict). A constant partitionBy(lit(0))
    * does not survive Catalyst constant folding (verified r10), so the
    * honest fix is at the logger. The real regression guard is
    * PlanShapeSpec, which pins the corpus-side windows' partition keys
    * — losing one fails CI regardless of log level. */
  def quietWindowExecWarning(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

  /** Staging root for operators that WRITE a dataset mid-query and
    * read it back through executors (mm_ingest's `binaryFile` media
    * tree, rel_bucketed_join's bucketed warehouse). Default: a
    * driver-local temp dir — correct on `local[*]` and on
    * `local-cluster` (one host, shared /tmp). On a REAL cluster set
    * `SPARK_GRAFT_STAGING` to a shared-filesystem path (NFS/FUSE mount
    * visible at the SAME path on every node): executors open these
    * files directly, so a driver-only path would fail the scan there.
    * The env var takes a mounted filesystem path, not an object-store
    * URI — staging through s3://... would need the writers below to go
    * through Hadoop FS APIs instead of java.nio (deployment note, not
    * fixture machinery). Each call returns a fresh unique subdirectory
    * so concurrent queries never collide; callers delete their tree
    * when done (same hygiene as EventStreams.tempDir). */
  def stagingDir(tag: String): java.nio.file.Path =
    sys.env.get("SPARK_GRAFT_STAGING") match {
      case Some(root) =>
        val p = java.nio.file.Paths.get(root)
        try java.nio.file.Files.createDirectories(p)
        catch {
          case e: Exception => throw new IllegalArgumentException(
            s"SPARK_GRAFT_STAGING=$root cannot be created: ${e.getMessage}", e)
        }
        java.nio.file.Files.createTempDirectory(p, tag)
      case None => java.nio.file.Files.createTempDirectory(tag)
    }

  /** Where this build's graft classes live (sbt runs from a classes
    * directory, not a jar, so local-cluster dev smoke runs must ship it
    * to executor JVMs explicitly). Derived from the loaded class's own
    * code source so the path tracks wherever the repo is checked out;
    * `SPARK_GRAFT_CLASSPATH` overrides for exotic layouts — and is
    * REQUIRED under a classloader that reports no code source (some
    * app-container loaders return null there). Resolution goes through
    * `toURI`/`Paths.get`, not `URL.getPath`, so a checkout path with
    * spaces (percent-encoded in the URL) still yields a usable
    * filesystem path. */
  def classesDir: String = sys.env.get("SPARK_GRAFT_CLASSPATH")
    .orElse(
      Option(GraftSession.getClass.getProtectionDomain.getCodeSource)
        .map(cs => java.nio.file.Paths.get(cs.getLocation.toURI).toString))
    .getOrElse(throw new IllegalStateException(
      "cannot locate the graft classes directory: the classloader " +
        "reports no code source — set SPARK_GRAFT_CLASSPATH explicitly"))
}
