package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload hands the measured loop. */
trait Workload {
  /** Input generation, billed to set-up. */
  def prepare(ctx: Ctx): Unit
  /** One pass over the workload's fixed op list. */
  def pass(ctx: Ctx, passNo: Int): Unit
  /** The smallest number of whole passes a run makes, deadline or not. */
  def minPasses: Int = 2
  /** Workload-specific end-to-end metrics: name -> (value, unit). */
  def metrics(ctx: Ctx): Map[String, (Double, String)]
  /** Traced runs: the metrics of the layer this workload loads. */
  def layers(ctx: Ctx): Map[String, Double]
  /** Extra series for the result file. */
  def details(ctx: Ctx): Map[String, Any] = Map.empty
}

final class Ctx(val spark: SparkSession, val seed: Long, val work: Path,
                val ledger: Ledger, val smoke: Boolean) {
  val failures = mutable.ArrayBuffer.empty[String]
  def cpus: Int = spark.sparkContext.defaultParallelism
  /** Record a wrong output against an op. */
  def check(rec: OpRec, ok: Boolean, what: => String): Unit =
    if (!ok) {
      rec.ok = false
      failures += s"${rec.kind} ${rec.name}: $what"
      System.err.println(s"[perfbench] CHECK FAILED ${rec.kind} ${rec.name}: $what")
    }
}

object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "mr_corpus" -> (() => new MrCorpus),
    "query_mix" -> (() => new QueryMix),
    "table_history" -> (() => new TableHistory))

  /** Set-ups per run; `setup_s` is their median. Only the first starts
    * from JVM start, so the median is a set-up on a warm JVM; the first
    * is reported apart as `setup_cold_s`. */
  val SetUps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.get("trace").contains("1")
    val smoke = opts.get("smoke").contains("1")
    val out = Paths.get(opts("out"))
    val work = Paths.get(opts("work"))
    Pins.path = opts.get("pins").map(Paths.get(_))
    val make = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val result = run(workload, make, seed, seconds, traced, smoke, work)
    Files.createDirectories(out.getParent)
    Files.writeString(out, Json.render(result))
  }

  def session(work: Path): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val s = graft.sources.GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.catalog.graftcat", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graftcat.root", work.resolve("catalog").toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The same warm-up the engine's own bench does: one batch shape that
    * touches shuffle, join, window and codegen, and one tiny stream. */
  def warmUp(spark: SparkSession): Unit = {
    val warm = spark.range(200000L)
      .selectExpr("id", "id % 97 AS k", "md5(CAST(id AS STRING)) AS s")
    warm.groupBy("k").agg(org.apache.spark.sql.functions.countDistinct("s").as("d"))
      .join(warm.select("k", "id").limit(1000), "k")
      .selectExpr("k", "d", "row_number() OVER (PARTITION BY k ORDER BY id) AS rn")
      .count()
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Long]
    ms.addData(1L to 100L: _*)
    val q = ms.toDF().groupBy(($"value" % 7).as("k")).count()
      .writeStream.format("memory").queryName("perfbench_warm")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
    finally w.close()
  }

  def run(name: String, make: () => Workload, seed: Long, seconds: Double,
          traced: Boolean, smoke: Boolean, work: Path): Map[String, Any] = {
    val loadStart = Env.loadAvg
    // Set up several times and keep the last set-up for the measured
    // phase. The first set-up is timed from JVM start, the later ones
    // from the moment the previous session stopped. Each warms its own
    // session up: a fresh context's first jobs pay one-time costs that
    // would otherwise land on the first measured ops.
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    val setupPhases = mutable.ArrayBuffer.empty[Map[String, Double]]
    var ctx: Ctx = null
    var wl: Workload = null
    for (i <- 1 to (if (smoke) 1 else SetUps)) {
      if (ctx != null) {
        ctx.spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val t0 = if (i == 1) Clock.fromEpochMs(Jvm.startEpochMs) else Clock.nowNs
      deleteTree(work)
      Files.createDirectories(work)
      val spark = session(work)
      val t1 = Clock.nowNs
      warmUp(spark)
      val t2 = Clock.nowNs
      wl = make()
      ctx = new Ctx(spark, seed, work, new Ledger(spark, false, new Tracer), smoke)
      wl.prepare(ctx)
      val t3 = Clock.nowNs
      setupTimes += (t3 - t0) / 1e9
      setupPhases += Map("session_s" -> (t1 - t0) / 1e9, "warm_up_s" -> (t2 - t1) / 1e9,
        "inputs_s" -> (t3 - t2) / 1e9)
    }
    val tracer = new Tracer
    val ledger = new Ledger(ctx.spark, traced, tracer)
    val c = new Ctx(ctx.spark, seed, work, ledger, smoke)
    ledger.startMeasuring()
    val t0 = Clock.nowNs
    val deadline = t0 + (seconds * 1e9).toLong
    val passTimes = mutable.ArrayBuffer.empty[Double]
    while (passTimes.size < wl.minPasses || Clock.nowNs < deadline) {
      val p0 = Clock.nowNs
      wl.pass(c, passTimes.size + 1)
      passTimes += (Clock.nowNs - p0) / 1e9
    }
    val measuredS = (Clock.nowNs - t0) / 1e9
    val ops = ledger.ops.toSeq
    val lat = ops.map(_.wallNs / 1e6)
    val (tailP, tailV) = Stats.tail(lat)
    val e2e = Map(
      "setup_s" -> (Stats.median(setupTimes.toSeq), "s"),
      "pass_s" -> (Stats.median(passTimes.toSeq), "s"),
      "op_gmean_ms" -> (Stats.gmean(ops.groupBy(o => (o.kind, o.name)).values
        .map(g => Stats.median(g.map(_.wallNs / 1e6).toSeq)).toSeq), "ms"))
    val named = wl.metrics(c) + ("setup_cold_s" -> (setupTimes.head, "s"))
    val layers = if (traced) Layers.of(c, wl) else Map.empty[String, Double]
    val unreconciled = if (traced) ledger.unreconciled.map(o =>
      s"${o.kind} ${o.name}: jobs ran ${o.spillOverNs / 1e6} ms outside the op") else Nil
    val spans = tracer.spans
    val self = Spans.selfTimes(spans)
    val failed = ops.count(!_.ok)
    ctx.spark.stop()
    Map(
      "workload" -> name, "seed" -> seed, "trace" -> traced,
      "attempted" -> ops.size, "failed" -> failed,
      "failures" -> c.failures.toSeq, "unreconciled" -> unreconciled,
      "reconcile_tolerance_ms" -> Ledger.TolNs / 1e6,
      "measured_s" -> measuredS, "passes" -> passTimes.size,
      "pass_s" -> passTimes.toSeq, "setup_runs_s" -> setupTimes.toSeq, "setup_phases" -> setupPhases.toSeq,
      "op_p50_ms" -> Stats.median(lat),
      "op_tail" -> Map("p" -> tailP, "ms" -> tailV, "samples" -> lat.size),
      "peak_rss_mb" -> Jvm.peakRssMb,
      "env" -> (Env.stamp ++ Map("load_start" -> loadStart, "load_end" -> Env.loadAvg)),
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "workload_metrics" -> named.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> layers,
      "details" -> wl.details(c),
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> self(s.id))),
      "ops" -> ops.map(o => Map("kind" -> o.kind, "name" -> o.name, "ms" -> o.wallNs / 1e6,
        "ok" -> o.ok, "jobs" -> o.jobs, "in_job_ms" -> o.inJobNs / 1e6,
        "outside_ms" -> o.outsideNs / 1e6)))
  }
}

object Env {
  def loadAvg: Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  /** Filesystem type of the mount holding `p` (tmpfs vs disk). */
  def fsType(p: Path): String = try {
    val abs = p.toAbsolutePath.normalize.toString
    scala.io.Source.fromFile("/proc/mounts").getLines().map(_.split(' '))
      .filter(f => f.length > 2 && (abs == f(1) || abs.startsWith(f(1).stripSuffix("/") + "/")))
      .toSeq.sortBy(-_(1).length).headOption.map(_(2)).getOrElse("unknown")
  } catch { case _: Exception => "unknown" }

  def stamp: Map[String, Any] = {
    val scratch = sys.env.get("SPARK_GRAFT_SCRATCH").map(Paths.get(_))
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
      "scratch_root" -> scratch.map(_.toString).getOrElse(""),
      "scratch_fs" -> scratch.map(fsType).getOrElse(""),
      "jvm" -> System.getProperty("java.vm.version"),
      "source" -> sys.env.getOrElse("PERFBENCH_SOURCE", ""))
  }
}
