package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import scala.jdk.CollectionConverters._

class StreamingSpec extends SparkSpec {

  private def us(h: Int, m: Int): Long = // 2024-01-01 h:m UTC in micros
    (1704067200L + h * 3600L + m * 60L) * 1000000L

  test("streaming hourly counts match the batch computation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val events = in.toDF()
      .select(timestamp_micros($"_1").as("ts_utc"), $"_2".as("event_type"))
    val q = EventStreams.toMemory(
      EventStreams.hourlyCounts(events), "hc", OutputMode.Complete())
    try {
      in.addData((us(0, 10), "click"), (us(0, 50), "click"), (us(0, 20), "view"),
        (us(1, 5), "click"), (us(2, 0), "view"))
      q.processAllAvailable()
      val got = spark.table("hc")
        .select($"hour_start".cast("string"), $"event_type", $"n")
        .as[(String, String, Long)].collect().toSet
      assert(got == Set(
        ("2024-01-01 00:00:00", "click", 2L),
        ("2024-01-01 00:00:00", "view", 1L),
        ("2024-01-01 01:00:00", "click", 1L),
        ("2024-01-01 02:00:00", "view", 1L)))
      // Late-ish second batch still lands in its window (complete mode).
      in.addData((us(1, 30), "view"))
      q.processAllAvailable()
      val n2 = spark.table("hc")
        .filter($"event_type" === "view").agg(sum($"n")).as[Long].head()
      assert(n2 == 3L)
    } finally q.stop()
  }

  test("chained hourly->daily stateful aggregation emits closed days (append)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val events = in.toDF()
      .select(timestamp_micros($"_1").as("ts_utc"), $"_2".as("event_type"))
    val q = EventStreams.toMemory(
      EventStreams.hourlyThenDaily(events), "hd", OutputMode.Append())
    try {
      in.addData((us(0, 10), "click"), (us(1, 5), "click"), (us(3, 0), "view"))
      q.processAllAvailable()
      // Day 2024-01-01 is still open: nothing may have emitted.
      assert(spark.table("hd").isEmpty, "open day leaked out of the chained agg")
      // 2024-01-02 02:30 drives the watermark to 00:30 past the day
      // boundary, closing day 1 through BOTH stateful operators.
      in.addData((us(26, 30), "click"))
      q.processAllAvailable()
      val got = spark.table("hd")
        .select($"day".cast("string"), $"event_type", $"n")
        .as[(String, String, Long)].collect().toSet
      assert(got == Set(
        ("2024-01-01 00:00:00", "click", 2L),
        ("2024-01-01 00:00:00", "view", 1L)))
    } finally q.stop()
  }

  test("stateful sessionization splits on >30min gaps across triggers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreams.sessionize(in.toDS())
      .toDF("user_id", "n_sessions", "n_events")
      .writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Update()).start()
    try {
      // batch 1: user 1 has two events 10 min apart -> one session
      in.addData(Ev(1L, us(0, 0), "click"), Ev(1L, us(0, 10), "view"))
      q.processAllAvailable()
      val s1 = spark.table("sess").orderBy($"user_id")
        .as[(Long, Long, Long)].collect().last
      assert(s1 == ((1L, 1L, 2L)))
      // batch 2: 40 min after the last event -> state carries over and
      // a second session opens
      in.addData(Ev(1L, us(0, 50), "click"))
      q.processAllAvailable()
      val s2 = spark.table("sess").orderBy($"user_id", $"n_events")
        .as[(Long, Long, Long)].collect().last
      assert(s2 == ((1L, 2L, 3L)))
    } finally q.stop()
  }

  test("CDC compaction keeps the newest record per key across triggers " +
      "and never rolls back on out-of-order delivery") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[EvRec]
    val q = EventStreams.latestState(in.toDS())
      .toDF("user_id", "event_type", "last_event_id", "last_ts_us",
        "last_value", "n_events")
      .writeStream.format("memory").queryName("compact")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(
        EvRec(1L, 10L, us(0, 0), "click", 1.0),
        EvRec(1L, 11L, us(0, 30), "click", 2.0),
        EvRec(2L, 12L, us(0, 5), "view", 5.0))
      q.processAllAvailable()
      def latest(user: Long, typ: String) =
        spark.table("compact")
          .filter($"user_id" === user && $"event_type" === typ)
          .orderBy($"n_events".desc)
          .select($"last_event_id", $"last_value", $"n_events")
          .as[(Long, Double, Long)].collect().head
      assert(latest(1L, "click") == ((11L, 2.0, 2L)))
      // Batch 2: a LATE event (older ts) for user 1 must bump the count
      // but NOT displace the newer snapshot; user 2 advances normally.
      in.addData(
        EvRec(1L, 9L, us(0, 10), "click", 9.9),
        EvRec(2L, 13L, us(1, 0), "view", 7.0))
      q.processAllAvailable()
      assert(latest(1L, "click") == ((11L, 2.0, 3L)))
      assert(latest(2L, "view") == ((13L, 7.0, 2L)))
    } finally q.stop()
  }

  test("CDC compaction over randomized batched delivery matches the batch " +
      "max-over-struct on the same events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Seeded generator: ts collisions (mod 5 hours) force the eventId
    // tie-break; random batch boundaries exercise cross-trigger state.
    val rnd = new scala.util.Random(42)
    val evs = (1L to 60L).map { id =>
      EvRec(userId = rnd.nextInt(3) + 1L, eventId = id,
        tsUs = us(rnd.nextInt(5), rnd.nextInt(3) * 10),
        eventType = if (rnd.nextBoolean()) "click" else "view",
        value = rnd.nextInt(100).toDouble)
    }
    val batches = {
      val (a, rest) = rnd.shuffle(evs).splitAt(20)
      val (b, c) = rest.splitAt(20)
      Seq(a, b, c)
    }
    val in = MemoryStream[EvRec]
    val q = EventStreams.latestState(in.toDS())
      .toDF("user_id", "event_type", "last_event_id", "last_ts_us",
        "last_value", "n_events")
      .writeStream.format("memory").queryName("compact_rand")
      .outputMode(OutputMode.Update()).start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      // n_events grows monotonically, so the max-n row per key is the
      // final snapshot among the per-trigger re-emissions.
      val got = spark.table("compact_rand")
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"user_id", $"event_type").orderBy($"n_events".desc)))
        .where($"rk" === 1).drop("rk")
        .as[(Long, String, Long, Long, Double, Long)].collect().toSet
      val want = evs.toDS()
        .groupBy($"userId", $"eventType")
        .agg(count(lit(1)).as("n"),
          max(struct($"tsUs", $"eventId", $"value")).as("m"))
        .select($"userId", $"eventType", $"m.eventId", $"m.tsUs",
          $"m.value", $"n")
        .as[(Long, String, Long, Long, Double, Long)].collect().toSet
      assert(got == want)
    } finally q.stop()
  }

  test("closed sessions emit once: inline on a gap, by timeout for the idle tail") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreams.closedSessions(in.toDS())
      .toDF("user_id", "start_us", "end_us", "n_events")
      .writeStream.format("memory").queryName("closed")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 2's second event is 60 min after the first: the first
      // session closes INLINE. user 1's session (last event 0:10,
      // closeable from 0:40) is flushed by the event-time TIMEOUT:
      // this batch moves the watermark to 1:00 − 10 min = 0:50, and
      // processAllAvailable runs the follow-up no-data micro-batch in
      // which the timeout fires — no further user 1 events needed.
      in.addData(
        Ev(1L, us(0, 0), "click"), Ev(1L, us(0, 10), "view"),
        Ev(2L, us(0, 0), "click"), Ev(2L, us(1, 0), "click"))
      q.processAllAvailable()
      val b1 = spark.table("closed")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(b1 == Set(
        (2L, us(0, 0), us(0, 0), 1L),
        (1L, us(0, 0), us(0, 10), 2L)),
        s"expected user 2 inline-closed + user 1 timeout-closed, got $b1")
      // A later event from an unrelated user advances the watermark to
      // 1:50, past user 2's open session (last 1:00, closeable 1:30) —
      // it flushes by timeout; user 1's brand-new session stays open.
      in.addData(Ev(1L, us(2, 0), "click"))
      q.processAllAvailable()
      val b2 = spark.table("closed")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(b2 == b1 + ((2L, us(1, 0), us(1, 0), 1L)),
        s"watermark advance did not flush user 2's idle session: $b2")
    } finally q.stop()
  }

  test("streaming dedup drops cross-batch re-deliveries within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long)] // (event_id, ts_us)
    val events = in.toDF()
      .select($"_1".as("event_id"), timestamp_micros($"_2").as("ts_utc"))
    val q = EventStreams.dedupEvents(events)
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      in.addData((1L, us(0, 0)), (2L, us(0, 1)), (1L, us(0, 0))) // dup in-batch
      q.processAllAvailable()
      in.addData((1L, us(0, 0)), (3L, us(0, 2))) // dup across batches
      q.processAllAvailable()
      val ids = spark.table("dedup").select($"event_id")
        .as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L), s"got $ids")
    } finally q.stop()
  }

  test("stream-stream join attributes purchases to clicks within the hour") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long)]    // (user_id, ts_us)
    val purchases = MemoryStream[(Long, Long)]
    def df(m: MemoryStream[(Long, Long)]) =
      m.toDF().select($"_1".as("user_id"), timestamp_micros($"_2").as("ts_utc"))
    val q = EventStreams.attributePurchases(df(clicks), df(purchases))
      .writeStream.format("memory").queryName("attr")
      .outputMode("append").start()
    try {
      clicks.addData((1L, us(0, 0)), (2L, us(0, 5)))
      purchases.addData(
        (1L, us(0, 30)),  // joins: same user, 30 min after the click
        (1L, us(2, 0)),   // outside the 1 h window -> no join
        (3L, us(0, 30)))  // no click for this user -> no join
      q.processAllAvailable()
      val got = spark.table("attr")
        .select($"click_user", $"purch_ts".cast("string"))
        .as[(Long, String)].collect().toSet
      assert(got == Set((1L, "2024-01-01 00:30:00")), s"got $got")
    } finally q.stop()
  }

  test("left-outer stream-stream join emits unmatched clicks after the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long)]
    val purchases = MemoryStream[(Long, Long)]
    def df(m: MemoryStream[(Long, Long)]) =
      m.toDF().select($"_1".as("user_id"), timestamp_micros($"_2").as("ts_utc"))
    val q = EventStreams
      .attributePurchases(df(clicks), df(purchases), "left_outer")
      .writeStream.format("memory").queryName("attr_lo")
      .outputMode("append").start()
    try {
      clicks.addData((1L, us(0, 0)), (2L, us(0, 5))) // user 2 never converts
      purchases.addData((1L, us(0, 10)))
      q.processAllAvailable()
      // The null-extended row for user 2 may only be emitted once the
      // watermark (min across both streams) passes click_ts + 1 h; feed
      // both streams far-future rows across two batches (the watermark
      // a batch USES was computed at the END of the previous batch).
      clicks.addData((9L, us(4, 0))); purchases.addData((9L, us(4, 0)))
      q.processAllAvailable()
      clicks.addData((9L, us(5, 0))); purchases.addData((9L, us(5, 0)))
      q.processAllAvailable()
      val got = spark.table("attr_lo")
        .filter($"click_user" < 9L)
        .select($"click_user", $"purch_user")
        .as[(Long, Option[Long])].collect().toSet
      assert(got == Set((1L, Some(1L)), (2L, None)), s"got $got")
    } finally q.stop()
  }

  test("stream-static join enriches events against a batch dimension per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long)] // (user_id, ts_us)
    val events = in.toDF()
      .select($"_1".as("user_id"), timestamp_micros($"_2").as("ts_utc"))
    val users = Seq((1L, "pro"), (2L, "free")).toDF("user_id", "segment")
    val q = EventStreams.enrichWithUsers(events, users)
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      in.addData((1L, us(0, 0)), (2L, us(0, 1)), (7L, us(0, 2))) // 7 unknown
      q.processAllAvailable()
      val got = spark.table("enriched")
        .select($"user_id", $"segment")
        .as[(Long, Option[String])].collect().toSet
      assert(got == Set((1L, Some("pro")), (2L, Some("free")), (7L, None)), s"got $got")
    } finally q.stop()
  }

  test("parquet sink + checkpoint restart is exactly-once (no dup, no loss)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("ckpt").toString
    val (out, ckpt) = (s"$base/out", s"$base/ckpt")
    def start(in: MemoryStream[(Long, Long)]) =
      in.toDF().select($"_1".as("event_id"), timestamp_micros($"_2").as("ts_utc"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
    // Run 1: two events land in the sink, then the query stops (crash
    // stand-in). The checkpoint + the sink's file manifest carry the
    // exactly-once state.
    val in = MemoryStream[(Long, Long)]
    val q1 = start(in)
    try { in.addData((1L, us(0, 0)), (2L, us(0, 1))); q1.processAllAvailable() }
    finally q1.stop()
    // Run 2: a NEW query (same source, same checkpoint — a restarted
    // job resumes from the same upstream offsets) must resume from the
    // committed offset rather than re-deliver batch 0, and then pick up
    // the post-crash events — each event lands in the sink exactly
    // once.
    val q2 = start(in)
    try { in.addData((3L, us(0, 2))); q2.processAllAvailable() }
    finally q2.stop()
    val ids = spark.read.parquet(out).select($"event_id")
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"exactly-once violated: $ids")
  }

  test("parquet dir streams with the declared schema (one trigger of real fixture data)") {
    import spark.implicits._
    val stream = EventStreams.fromParquetDir(spark, sf0001)
    assert(stream.isStreaming)
    val q = EventStreams.toMemory(
      EventStreams.hourlyCounts(stream), "hc_pq", OutputMode.Complete())
    try {
      q.processAllAvailable()
      val total = spark.table("hc_pq").agg(sum($"n")).as[Long].head()
      assert(total == 1000L) // all sf0.001 events counted exactly once
    } finally q.stop()
  }

  test("driver-facing streaming queries are batch-equivalent (ev_stream_hourly horizon, ev_stream_compact exact)") {
    import spark.implicits._
    // ev_stream_hourly must equal the batch hourly aggregate RESTRICTED
    // to the append-mode emission horizon: windows whose end the final
    // watermark (max event time at ms precision − 2 h) has passed.
    val streamed = graft.SparkEntry.queries("ev_stream_hourly")(spark, sf0001)
      .select($"hour_start".cast("string"), $"event_type", $"n")
      .as[(String, String, Long)].collect().toSet
    val maxMs = graft.sources.Tables.events(spark, sf0001)
      .selectExpr(s"max(${graft.queries.QueryModule.TsUs} div 1000)")
      .as[Long].head()
    val batch = graft.sources.Tables.events(spark, sf0001)
      .groupBy(date_trunc("hour", $"ts_utc").as("h"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .where(unix_millis($"h".cast("timestamp")) + 3600000L <= maxMs - 7200000L)
      .select($"h".cast("string"), $"event_type", $"n")
      .as[(String, String, Long)].collect().toSet
    assert(streamed == batch,
      s"horizon mismatch: stream-only=${streamed.diff(batch).take(3)} " +
        s"batch-only=${batch.diff(streamed).take(3)}")
    assert(streamed.nonEmpty, "empty streaming result")

    // ev_stream_compact must equal the batch compaction EXACTLY.
    def rows(name: String) =
      graft.SparkEntry.queries(name)(spark, sf0001)
        .selectExpr("user_id", "event_type", "last_event_id", "last_ts_us",
          "n_events")
        .as[(Long, String, Long, Long, Long)].collect().toSet
    val cdc = rows("ev_stream_compact")
    assert(cdc == rows("ev_compact_latest") && cdc.nonEmpty,
      "streaming CDC drain diverged from the batch compaction")
  }

  test("pipeline drain equals the batch hourly rollup and restores the " +
      "session's shuffle partitions (r21 state-partition override)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    // While the drain runs, a second query on the SAME session must
    // keep seeing the session's own count, both in the conf and in the
    // shuffle its aggregate plans: the drain's 2 state partitions live
    // on its scoped child session only.
    val draining = new java.util.concurrent.atomic.AtomicBoolean(true)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val planned = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val watcher = new Thread(() =>
      while (draining.get()) {
        seen.add(spark.conf.get("spark.sql.shuffle.partitions"))
        val plan = spark.range(100).groupBy($"id" % 3).count()
          .queryExecution.executedPlan match {
            case a: AdaptiveSparkPlanExec => a.initialPlan
            case p => p
          }
        plan.collect { case e: ShuffleExchangeExec => e.numPartitions }
          .foreach(planned.add)
      })
    watcher.start()
    val streamed =
      try graft.SparkEntry.queries("ev_stream_pipeline")(spark, sf0001)
        .select($"hour_start".cast("string"), $"event_type", $"n",
          $"total_value")
        .as[(String, String, Long, Double)].collect().toSet
      finally { draining.set(false); watcher.join() }
    assert(seen.asScala == Set(prev),
      s"a concurrent reader saw the drain's override: $seen")
    assert(planned.asScala == Set(prev.toInt),
      s"a concurrent aggregate planned with $planned shuffle partitions, " +
        s"not the session's $prev")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == prev,
      "pipelineDrain leaked its shuffle-partition override")
    // Oracle shape: horizon-bounded hourly count + exact decimal sum
    // (the slices partition the table, so the final watermark is the
    // global max event time - 2 h).
    val maxMs = graft.sources.Tables.events(spark, sf0001)
      .selectExpr(s"max(${graft.queries.QueryModule.TsUs} div 1000)")
      .as[Long].head()
    val batch = graft.sources.Tables.events(spark, sf0001)
      .groupBy(date_trunc("hour", $"ts_utc").as("h"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("tv"))
      .where(unix_millis($"h".cast("timestamp")) + 3600000L <= maxMs - 7200000L)
      .select($"h".cast("string"), $"event_type", $"n", $"tv")
      .as[(String, String, Long, Double)].collect().toSet
    assert(streamed == batch,
      s"pipeline drain diverged: stream-only=${streamed.diff(batch).take(3)} " +
        s"batch-only=${batch.diff(streamed).take(3)}")
    assert(streamed.nonEmpty, "empty pipeline result")
  }

  test("processing-time drain emits the same horizon as the AvailableNow drain") {
    import spark.implicits._
    // Same topology, same source, different trigger CLOCK: the standing
    // ProcessingTime query (harness-stopped after quiescence) must emit
    // exactly the windows the drain-and-exit AvailableNow run emits —
    // the append horizon depends only on the final watermark.
    def rows(name: String) = graft.SparkEntry.queries(name)(spark, sf0001)
      .select($"hour_start".cast("string"), $"event_type", $"n")
      .as[(String, String, Long)].collect().toSet
    val pt = rows("ev_stream_ptime")
    assert(pt == rows("ev_stream_hourly"),
      "trigger clock changed the emitted horizon")
    assert(pt.nonEmpty)
  }

  test("transformWithState MapState counters equal the batch (user,type) aggregate") {
    import spark.implicits._
    val got = graft.SparkEntry.queries("ev_stream_tws")(spark, sf0001)
      .as[(Long, String, Long)].collect().toSet
    val want = graft.sources.Tables.events(spark, sf0001)
      .groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("n"))
      .as[(Long, String, Long)].collect().toSet
    assert(got == want,
      "the new state API's compacted changelog diverged from the batch count")
  }

  test("watermark drops a late row whose window end EQUALS the watermark (<= boundary)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Pins the drop predicate ev_stream_late's oracle encodes. After
    // batch 1 the watermark is 08:00; the MemoryStream pause lets a
    // no-data batch run, so by the second data batch the LATE-EVENTS
    // filter watermark (which lags one batch behind — SPARK-42376
    // two-watermark model) has caught up to 08:00 too. The late row in
    // hour [07:00,08:00) — window end == filter watermark EXACTLY —
    // must be dropped (<= boundary), while hour [08:00,09:00)
    // (end 09:00 > wm) is kept, and the engine's own accounting must
    // report exactly the one drop.
    val in = MemoryStream[(Long, String)]
    val events = in.toDF()
      .select(timestamp_micros($"_1").as("ts_utc"), $"_2".as("event_type"))
    val q = EventStreams.toMemory(
      EventStreams.hourlyCounts(events), "late_boundary", OutputMode.Append())
    try {
      in.addData((us(10, 0), "anchor"), (us(7, 30), "early"))
      q.processAllAvailable()
      in.addData((us(7, 45), "boundary"), (us(8, 15), "kept"))
      q.processAllAvailable()
      in.addData((us(23, 0), "flush"))
      q.processAllAvailable()
      val got = spark.table("late_boundary")
        .select($"hour_start".cast("string"), $"event_type", $"n")
        .as[(String, String, Long)].collect().toSet
      assert(got == Set(
        ("2024-01-01 07:00:00", "early", 1L),
        ("2024-01-01 08:00:00", "kept", 1L),
        ("2024-01-01 10:00:00", "anchor", 1L)),
        s"boundary semantics changed: $got")
      val drops = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      assert(drops == 1L, s"expected exactly the boundary drop, got $drops")
    } finally q.stop()
  }

  test("observed drain: source audit sums equal the batch table; output unperturbed") {
    import spark.implicits._
    EventStreams.withSplitEvents(spark, sf0001, 3) { (src, nf) =>
      val (out, obs) = EventStreams.drainAppendObserved(spark,
          "graft_spec_obs_", "audit_spec", minBatches = nf) { c =>
        EventStreams.hourlyCounts(src(c).observe("audit_spec",
          count(lit(1)).as("rows_seen"),
          sum(expr("CASE WHEN value IS NULL THEN 1 ELSE 0 END")).as("null_values")))
      }
      val ev = graft.sources.Tables.events(spark, sf0001)
      assert(obs("rows_seen") == ev.count(),
        "CollectMetrics missed or double-counted a micro-batch")
      assert(obs("null_values") ==
        ev.where($"value".isNull).count(),
        "per-batch null audit diverges from the batch count")
      // The observation must not perturb the drained result.
      val hourly = graft.SparkEntry.queries("ev_stream_hourly")(spark, sf0001)
        .select($"hour_start".cast("string"), $"event_type", $"n")
        .as[(String, String, Long)].collect().toSet
      val got = out
        .select($"hour_start".cast("string"), $"event_type", $"n")
        .as[(String, String, Long)].collect().toSet
      assert(got == hourly, "observe() changed the emitted horizon")
    }
  }

  test("incremental drain resumes from the checkpoint and covers the table exactly") {
    import spark.implicits._
    // incrementalDrain hard-asserts internally (from the progress
    // counters) that drain 2 ingested ONLY the file added between the
    // drains — reaching the comparison below proves incrementality held.
    val got = EventStreams.incrementalDrain(spark, sf0001)
      .as[(Long, Long, String)].collect().toSet
    val want = graft.sources.Tables.events(spark, sf0001)
      .selectExpr("event_id", "user_id", "event_type")
      .as[(Long, Long, String)].collect().toSet
    assert(got == want, "two incremental drains did not reassemble the batch table")
    assert(got.size == 1000)
  }

  test("stateful incremental drain equals the single-drain hourly horizon (state restored)") {
    import spark.implicits._
    // Two checkpoint-resumed drains split at a mid-hour event-time cut
    // must emit EXACTLY the windows one uninterrupted drain emits, with
    // identical counts — the cut hour's window only counts right if
    // drain 2 restored drain 1's open-window state and watermark.
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"hour_start".cast("string"), $"event_type", $"n")
      .as[(String, String, Long)].collect().toSet
    val twoRun = rows(EventStreams.incrementalAggDrain(spark, sf0001)
      .select($"hour_start".cast("timestamp_ntz").as("hour_start"), $"event_type", $"n"))
    val oneRun = rows(graft.SparkEntry.queries("ev_stream_hourly")(spark, sf0001))
    assert(twoRun == oneRun,
      s"two-only=${twoRun.diff(oneRun).take(3)} one-only=${oneRun.diff(twoRun).take(3)}")
    assert(twoRun.nonEmpty)
  }

  test("driver-facing left-outer funnel matches batch attribution + watermark-expired clicks") {
    import spark.implicits._
    val got = graft.SparkEntry.queries("ev_stream_funnel")(spark, sf0001)
      .as[(Long, Long, Long)].collect().toSet
    // Batch reference: matched pairs always emit; an unmatched click
    // emits iff the global watermark W = min(max click ms, max purch ms)
    // − 1 h passed the end of its 1 h match window.
    val ev = graft.sources.Tables.events(spark, sf0001)
      .selectExpr("user_id", "event_type",
        s"${graft.queries.QueryModule.TsUs} AS us")
    val clicks = ev.where($"event_type" === "click").select($"user_id", $"us".as("cus"))
    val purch = ev.where($"event_type" === "purchase").select($"user_id".as("pu"), $"us".as("pus"))
    val wm = math.min(
      clicks.agg(max($"cus" / 1000).cast("long")).as[Long].head(),
      purch.agg(max($"pus" / 1000).cast("long")).as[Long].head()) - 3600000L
    val j = clicks.join(purch,
      $"user_id" === $"pu" && $"pus".between($"cus", $"cus" + 3600000000L), "left")
    val want = j.where($"pus".isNotNull || ($"cus" / 1000).cast("long") + 3600000L < wm)
      .groupBy($"user_id")
      .agg(count($"pus").as("n_attributed"),
        sum(when($"pus".isNull, 1L).otherwise(0L)).as("n_expired"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want,
      s"stream-only=${got.diff(want).take(3)} batch-only=${want.diff(got).take(3)}")
    assert(got.exists(_._3 > 0), "no watermark-expired clicks exercised the outer emission")
  }

  test("foreachBatch merge target equals batch compaction under re-delivery") {
    // drainMergeTarget maintains the compacted table in the SINK
    // (stateless query, latest-wins merge per micro-batch, batchId-
    // versioned write-once). With every slice staged twice the final
    // target must still equal the batch latest-per-key over the raw
    // table — the at-least-once idempotence claim, checked engine-side
    // (the driver's oracle re-proves it against DuckDB).
    import spark.implicits._
    val streamed = graft.SparkEntry.queries("ev_stream_upsert")(spark, sf0001)
      .as[(Long, String, Long, Long, Double)].collect().toSet
    val batch = graft.SparkEntry.queries("ev_compact_latest")(spark, sf0001)
      .select($"user_id", $"event_type", $"last_event_id", $"last_ts_us",
        $"last_value")
      .as[(Long, String, Long, Long, Double)].collect().toSet
    assert(streamed == batch)
  }

  test("Trigger.AvailableNow drains the source then self-terminates") {
    // The batch-over-stream pattern: a scheduled (e.g. nightly) run of
    // the same streaming pipeline processes everything available and
    // exits — with a checkpoint this is incremental ingestion without a
    // resident cluster.
    import spark.implicits._
    val stream = EventStreams.fromParquetDir(spark, sf0001)
    val q = EventStreams.hourlyCounts(stream).writeStream
      .format("memory").queryName("hc_an")
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(120000), "AvailableNow query did not self-terminate")
      val total = spark.table("hc_an").agg(sum($"n")).as[Long].head()
      assert(total == 1000L)
    } finally q.stop()
  }
}
