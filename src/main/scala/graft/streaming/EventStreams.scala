package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import graft.sources.GraftSession.deleteTree

/** One event row in the typed streaming API. */
final case class Ev(userId: Long, tsUs: Long, eventType: String)

/** Running per-user session snapshot emitted by [[EventStreams.sessionize]]. */
final case class UserSessions(userId: Long, nSessions: Long, nEvents: Long)

private final case class SessState(lastUs: Long, nSessions: Long, nEvents: Long)

/** One COMPLETED session emitted by [[EventStreams.closedSessions]]. */
final case class ClosedSession(userId: Long, startUs: Long, endUs: Long, nEvents: Long)

private final case class EvT(
    userId: Long, tsUs: Long, eventType: String, evTs: java.sql.Timestamp)

private final case class OpenSession(startUs: Long, lastUs: Long, nEvents: Long)

/** One full event record for [[EventStreams.latestState]]. */
final case class EvRec(
    userId: Long, eventId: Long, tsUs: Long, eventType: String, value: Double)

/** Compacted latest-record snapshot per (user, type) key. */
final case class LatestRecord(userId: Long, eventType: String,
    lastEventId: Long, lastTsUs: Long, lastValue: Double, nEvents: Long)

private final case class LatestSt(tsUs: Long, eventId: Long, value: Double, n: Long)

/** Changelog row of [[EventStreams.typeCounts]]: the running count for
  * one (user, type) key after a batch that touched it. */
final case class TypeCount(userId: Long, eventType: String, n: Long)

/** `StatefulProcessor` behind [[EventStreams.typeCounts]]: one
  * `MapState[eventType → count]` per user key, updated entry-wise.
  * The batch's rows fold locally first (one state read+write per
  * touched type, not per row), then each touched entry emits its new
  * running count. Count updates are order-insensitive, so no in-batch
  * sort is needed (unlike the sessionize fold). */
private final class TypeCountProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, TypeCount] {
  @transient private var counts:
      org.apache.spark.sql.streaming.MapState[String, Long] = _
  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    counts = getHandle.getMapState[String, Long]("counts",
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.streaming.TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[Ev],
      tv: org.apache.spark.sql.streaming.TimerValues): Iterator[TypeCount] = {
    val batch = scala.collection.mutable.HashMap.empty[String, Long]
    rows.foreach(e =>
      batch.update(e.eventType, batch.getOrElse(e.eventType, 0L) + 1L))
    batch.iterator.map { case (tpe, add) =>
      val nw = (if (counts.containsKey(tpe)) counts.getValue(tpe) else 0L) + add
      counts.updateValue(tpe, nw)
      TypeCount(key, tpe, nw)
    }
  }
}

/** Structured Streaming surface (SURVEY.md §2.2 — the reference is
  * strictly batch; this is the extension mandate's stream path). The
  * same transformations as [[graft.queries.EventsQueries]], expressed
  * over unbounded input: `readStream → transform → writeStream`.
  *
  * All entry points take/return DataFrames or Datasets so they bind to
  * any source — `MemoryStream` in tests, a parquet directory via
  * [[fromParquetDir]], Kafka on a real deployment.
  */
object EventStreams {

  /** The events schema as the streaming file source needs it declared
    * up front (`ts` is TIMESTAMP(MICROS) ntz parquet — same convention
    * as the batch reader, FIXTURES.md). */
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Unbounded scan over the events parquet (new files = new data).
    * Takes the fixture ROOT and scopes to `events.parquet` — a bare
    * directory scan would also ingest every other table in the dir as
    * all-NULL rows under the declared schema (observed: 8890 phantom
    * rows at sf0.001). `ts_utc` stays TimestampType (not ntz): Spark 4
    * watermarks require it ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]);
    * under the UTC session the wall clock matches the batch reader's
    * ntz column. */
  def fromParquetDir(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(schema)
      // Glob form: the streaming file source insists its base path is a
      // directory, and the fixture's events table is a single file — a
      // glob keeps the base at `dir` while matching only that file.
      .parquet(s"$dir/{events.parquet}")
      .withColumn("ts_utc", col("ts").cast("timestamp"))

  /** Multi-micro-batch form of [[fromParquetDir]]: stage the events
    * table as `n` EVENT-TIME-CONTIGUOUS files under `tmp/src` (file k
    * holds the k-th slice of the `ts` range, named and
    * modification-stamped in slice order so the file source lists them
    * deterministically oldest-first) and return a
    * `maxFilesPerTrigger=1` streaming scan — an AvailableNow drain then
    * runs ONE MICRO-BATCH PER FILE, so watermark advancement, state
    * eviction and append-mode emission are exercised ACROSS batches,
    * not inside a single catch-all batch. Because the slices partition
    * the stream by event time, every batch's rows follow all of the
    * previous batch's in event time: nothing ever arrives late relative
    * to the watermark (maxts(earlier files) − delay), and cross-batch
    * per-key arrival order is guaranteed by construction — the property
    * stateful folds (sessionization) need, now a designed invariant of
    * the source rather than an accident of single-batch delivery.
    *
    * `redeliver=true` additionally stages a byte-identical COPY of each
    * slice file one position later (A0, A0', A1, A1', …): the file
    * source dedups on path, not content, so every row is re-delivered
    * in a LATER micro-batch — the at-least-once retry shape that makes
    * a cross-batch exactly-once dedup test honest. A re-delivered row
    * lands when the watermark is maxts(its own slice) − delay, so rows
    * from the slice's last `delay` are dropped by dedup STATE (still in
    * the horizon) and older ones by the watermark's late filter —
    * either way dropped, which is exactly the within-watermark
    * guarantee.
    *
    * Returns the scan plus the number of staged files (= the data-batch
    * count a drain must observe; a slice that happens to be empty is
    * not staged). */
  def splitEventsSource(spark: SparkSession, dir: String,
      tmp: java.nio.file.Path, n: Int,
      redeliver: Boolean = false): (DataFrame, Int) = {
    val staged = stageSplit(spark, dir, tmp, n, redeliver)
    (scanStaged(spark, tmp.resolve("src")), staged)
  }

  /** The staging half of [[splitEventsSource]]: write the slice files
    * under `tmp/src`, return the staged file count.
    *
    * Redeliver layout: copies are STAGGERED, not adjacent —
    * `O0 O1 C0 O2 C1 … O_{m-1} C_{m-2} C_{m-1}` instead of
    * `O0 C0 O1 C1 …` — so every copy sits at least TWO positions after
    * its original. A drain reading this tree with `maxFilesPerTrigger`
    * of 1 OR 2 still receives every re-delivery in a strictly LATER
    * micro-batch than its original (with 2: batches are consecutive
    * position pairs, and pos(C_k) ≥ pos(O_k) + 2), which is the
    * cross-batch at-least-once property the dedup/upsert drains
    * witness — at half the per-batch commit overhead when the caller
    * opts into pairing (see [[withSplitEvents]] `filesPerTrigger`). */
  private def stageSplit(spark: SparkSession, dir: String,
      tmp: java.nio.file.Path, n: Int, redeliver: Boolean): Int = {
    import java.nio.file.Files
    val src = Files.createDirectories(tmp.resolve("src"))
    // Slice arithmetic runs on epoch-micros longs (exact integers); the
    // ntz→timestamp cast is wall-clock-preserving under the UTC session.
    val raw = graft.sources.Tables.table(spark, dir, "events")
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
    val b = raw.agg(min(col("ts_us")), max(col("ts_us"))).head()
    val (tmin, tmax) = (b.getLong(0), b.getLong(1))
    val span = math.max(tmax - tmin + 1, n.toLong)
    // Pass 1: write each non-empty slice once, under a slice-named
    // temp file (delivery positions are assigned below).
    val origs = scala.collection.mutable.ArrayBuffer.empty[String]
    var k = 0
    while (k < n) {
      val lo = tmin + span * k / n
      val hi = tmin + span * (k + 1) / n
      val slice = raw.where(col("ts_us") >= lo && col("ts_us") < hi).drop("ts_us")
      val name = s"slice-$k.parquet"
      if (stageSourceFile(tmp, src, slice, name) > 0) origs += name
      else Files.deleteIfExists(src.resolve(name))
      k += 1
    }
    // Pass 2: lay the delivery order out as part-NNN names + mtimes.
    val order: Seq[(String, Boolean)] = // (slice temp name, isCopy)
      if (!redeliver) origs.map((_, false)).toSeq
      else {
        val m = origs.size
        (0 until m).flatMap(i =>
          Seq(origs(i) -> false) ++
            (if (i >= 1) Seq(origs(i - 1) -> true) else Nil)) ++
          (if (m >= 1) Seq(origs(m - 1) -> true) else Nil)
      }
    val placed = scala.collection.mutable.Map.empty[String, java.nio.file.Path]
    order.zipWithIndex.foreach { case ((nm, isCopy), pos) =>
      val dst = src.resolve(f"part-$pos%03d.parquet")
      if (!isCopy) { Files.move(src.resolve(nm), dst); placed(nm) = dst }
      else Files.copy(placed(nm), dst)
      stampOrder(dst, pos)
    }
    order.size
  }

  /** LATE-DELIVERY staging: FOUR time slices delivered OUT OF
    * EVENT-TIME ORDER — slice 0, then slice 3 (global max event time:
    * the watermark jumps to its final value), then slice 2, then
    * slice 1. This is the arrival pattern the watermark exists to make
    * tractable (a partitioned log replaying a backfilled region, a
    * slow upstream shard), and the four-batch shape is DELIBERATE:
    * Spark's stateful operators carry TWO watermarks per batch
    * (SPARK-42376) — late-row FILTERING uses the PREVIOUS batch's
    * watermark while eviction/emission uses the current one — so the
    * batch right after the jump (slice 2) is still admitted under the
    * pre-jump filter (merged and emitted: late-but-in-grace), and only
    * the batch after THAT (slice 1) meets the advanced filter and is
    * dropped. A 3-slice version (0,2,1) drops NOTHING — measured, and
    * exactly what the two-watermark model predicts. Every slice must
    * be non-empty or the scenario degenerates — staging fails loudly
    * rather than silently testing nothing. Staged on `spark`; `f` gets
    * the scan as a builder, like [[withSplitEvents]]. */
  def withLateEvents[T](spark: SparkSession, dir: String)(
      f: (SparkSession => DataFrame, Int) => T): T = {
    val staged = splitCache.computeIfAbsent((dir + "#late", 4, false), _ => {
      val tmp = tempDir("graft_ev_latestage_")
      try {
        val cnt = stageSplitLate(spark, dir, tmp)
        tmp -> cnt
      } catch { case e: Throwable => deleteTree(tmp); throw e }
    })
    f(scanStaged(_, staged._1.resolve("src")), staged._2)
  }

  /** [[stageSplit]]'s slice math with delivery ranks 0,3,2,1. Both the
    * file NAME and the mtime carry the rank (path order and
    * modification-time order must agree, so no source tie-break can
    * restore event-time order). */
  private def stageSplitLate(spark: SparkSession, dir: String,
      tmp: java.nio.file.Path): Int = {
    import java.nio.file.Files
    val src = Files.createDirectories(tmp.resolve("src"))
    val raw = graft.sources.Tables.table(spark, dir, "events")
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
    val b = raw.agg(min(col("ts_us")), max(col("ts_us"))).head()
    val (tmin, tmax) = (b.getLong(0), b.getLong(1))
    val span = math.max(tmax - tmin + 1, 4L)
    val rank = Map(0 -> 0, 1 -> 3, 2 -> 2, 3 -> 1)
    for (k <- 0 until 4) {
      val lo = tmin + span * k / 4
      val hi = tmin + span * (k + 1) / 4
      val slice = raw.where(col("ts_us") >= lo && col("ts_us") < hi).drop("ts_us")
      val name = f"part-${rank(k)}%03d.parquet"
      val n = stageSourceFile(tmp, src, slice, name)
      require(n > 0,
        s"stageSplitLate: slice $k is empty — the late-delivery scenario " +
          "needs four data batches")
      stampOrder(src.resolve(name), rank(k))
    }
    4
  }

  /** The scan half of [[splitEventsSource]]: a
    * `filesPerTrigger`-files-per-micro-batch streaming read over an
    * already-staged slice directory (files are consumed in stamped
    * mtime order, so batch membership is consecutive position
    * groups). */
  private def scanStaged(spark: SparkSession,
      src: java.nio.file.Path, filesPerTrigger: Int = 1): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(src.toString)
      .withColumn("ts_utc", col("ts").cast("timestamp"))

  /** Scoped [[splitEventsSource]] with a PROCESS-LIFETIME cache of the
    * staged tree, keyed by `(dir, n, redeliver)`: nine drain queries
    * stage byte-identical splits of the same events table, and the
    * staging (a min/max agg + n filtered writes) is harness FIXTURE
    * PREP, not part of the streaming semantics under test — in
    * production the source files already sit in the source directory.
    * Reuse is safe because the staged files are read-only inputs
    * (deterministic slicing; the file source only lists and reads) and
    * every drain still runs its own checkpoint/state/sink lifecycle
    * from scratch — the `minBatches` assert still counts real data
    * micro-batches per drain. The cached trees are deleted by a JVM
    * shutdown hook (replacing the old per-call delete), so repeated
    * Verify/Bench runs still leave no residue; a FAILED staging is
    * deleted eagerly and never cached. Keys are few by construction
    * (every caller uses n=3, redeliver ∈ {t,f}, one sfDir per run).
    *
    * The staging runs on `spark`; `f` gets the streaming scan as a
    * builder, so a drain can build it on its own scoped session (see
    * [[drainAppend]]).
    *
    * `filesPerTrigger`: batch up to that many staged files per
    * micro-batch — the staggered redeliver layout keeps every copy in
    * a later batch than its original at 2 files per trigger, so the
    * redeliver drains exercise the same cross-batch at-least-once
    * property in HALF the micro-batches (each batch carries a
    * per-partition state-commit constant that dominated the drain).
    * The expected-data-batch count passed to `f` scales accordingly. */
  def withSplitEvents[T](spark: SparkSession, dir: String, n: Int,
      redeliver: Boolean = false, filesPerTrigger: Int = 1)(
      f: (SparkSession => DataFrame, Int) => T): T = {
    val staged = splitCache.computeIfAbsent((dir, n, redeliver), _ => {
      val tmp = tempDir("graft_ev_split_")
      try {
        val cnt = stageSplit(spark, dir, tmp, n, redeliver)
        tmp -> cnt
      } catch { case e: Throwable => deleteTree(tmp); throw e }
    })
    val expectedBatches =
      (staged._2 + filesPerTrigger - 1) / filesPerTrigger
    f(scanStaged(_, staged._1.resolve("src"), filesPerTrigger),
      expectedBatches)
  }

  private val splitCache = {
    val m = new java.util.concurrent.ConcurrentHashMap[
      (String, Int, Boolean), (java.nio.file.Path, Int)]()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      m.values.forEach(v =>
        try deleteTree(v._1) catch { case _: Throwable => () })))
    m
  }

  /** The file source processes oldest-modification-time first: stamp
    * each staged file with a distinct, strictly increasing mtime so the
    * micro-batch order IS the slice order on any filesystem (write
    * order alone could tie within mtime granularity). */
  private def stampOrder(p: java.nio.file.Path, seq: Int): Unit =
    java.nio.file.Files.setLastModifiedTime(
      p, java.nio.file.attribute.FileTime.fromMillis(1000000000L + seq * 1000L))

  /** Tumbling hourly counts per event type, watermarked so state for
    * windows older than 2 h is dropped — the property that bounds state
    * size on an unbounded stream. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts_utc", "2 hours")
      .groupBy(window(col("ts_utc"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("n"))

  /** Hourly → daily two-level windowed aggregation: two STATEFUL
    * operators chained in one streaming query (multiple stateful ops in
    * append mode — the downsample-then-rollup topology of every metrics
    * pipeline). The second `window()` takes the first aggregate's
    * window STRUCT column directly, so the daily rollup re-windows the
    * hourly results without a round-trip through a sink, and the
    * watermark propagates through both states: hourly state drops after
    * 2 h, daily state when its day closes. At scale this replaces a
    * second job + intermediate table. */
  def hourlyThenDaily(events: DataFrame): DataFrame =
    events
      .withWatermark("ts_utc", "2 hours")
      .groupBy(window(col("ts_utc"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(window(col("w"), "1 day").as("d"), col("event_type"))
      .agg(sum(col("n")).as("n"))
      .select(col("d.start").as("day"), col("event_type"), col("n"))

  /** Stateful sessionization with explicit per-key state
    * (`mapGroupsWithState`): a >30 min gap starts a new session. Emits a
    * running (nSessions, nEvents) snapshot per user on every trigger —
    * the custom-state shape the built-in `session_window` can't express
    * (e.g. when session identity must feed another system). NoTimeout
    * means per-user state lives for the life of the query — fine for a
    * bounded user population; for unbounded keys use [[closedSessions]],
    * whose event-time timeout also REMOVES state as sessions close. */
  def sessionize(events: Dataset[Ev]): Dataset[UserSessions] = {
    import events.sparkSession.implicits._
    val gapUs = 30L * 60 * 1000 * 1000
    events
      .groupByKey(_.userId)
      .mapGroupsWithState[SessState, UserSessions](GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Ev], state: GroupState[SessState]) =>
          var st = state.getOption.getOrElse(SessState(Long.MinValue, 0L, 0L))
          rows.toSeq.sortBy(e => (e.tsUs, e.userId)).foreach { e =>
            val newSession = st.nSessions == 0 || e.tsUs - st.lastUs > gapUs
            st = SessState(
              lastUs = math.max(st.lastUs, e.tsUs),
              nSessions = st.nSessions + (if (newSession) 1 else 0),
              nEvents = st.nEvents + 1)
          }
          state.update(st)
          UserSessions(userId, st.nSessions, st.nEvents)
      }
  }

  /** Per-user per-type running counters on the NEW arbitrary-state API
    * (`transformWithState`, Spark 4 — the successor to
    * mapGroupsWithState): typed COMPOSITE state via a
    * `MapState[type → count]` per user key, the state shape the old
    * API could only fake by packing a map into one value blob (every
    * update rewriting the whole blob; MapState updates touch one
    * entry). Requires the RocksDB provider by design — the API is
    * built for state that lives off-heap. Emission is an update-mode
    * changelog (one row per touched (user, type) per batch, carrying
    * the running count); counts are monotone, so read-back compaction
    * is max-per-key. TTLConfig.NONE: the fixture's user population is
    * bounded; a production deployment sets a TTL and the provider
    * expires cold keys without a query change. */
  def typeCounts(events: Dataset[Ev]): Dataset[TypeCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.userId)
      .transformWithState(new TypeCountProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Sessionization in its production shape: emit each session ONCE,
    * when it CLOSES (`flatMapGroupsWithState` + event-time timeout),
    * instead of a running snapshot every trigger. A session closes two
    * ways: a later event from the same user arrives past the 30 min gap
    * (closed inline), or the event-time watermark passes
    * `lastEvent + gap` with no successor — the timeout path, which is
    * the only way the LAST session of an idle user ever flushes. State
    * per user is one open session (three longs): bounded regardless of
    * stream length, and removed entirely on timeout. Append-mode
    * output — each closed session is immutable, so downstream sinks
    * (parquet, Kafka) need no retraction handling. */
  def closedSessions(events: Dataset[Ev]): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapUs = 30L * 60 * 1000 * 1000
    val gapMs = gapUs / 1000
    events
      .select(col("userId"), col("tsUs"), col("eventType"),
        timestamp_micros(col("tsUs")).as("evTs"))
      // The watermark drives the timeout clock; 10 min of lateness
      // tolerance before a session is considered closeable.
      .withWatermark("evTs", "10 minutes")
      .as[EvT]
      .groupByKey(_.userId)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[EvT], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            // Watermark passed lastUs + gap: no in-order event can
            // extend this session any more.
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(userId, s.startUs, s.lastUs, s.nEvents))
          } else {
            val closed = List.newBuilder[ClosedSession]
            var open = state.getOption
            rows.toSeq.sortBy(_.tsUs).foreach { e =>
              open match {
                case Some(s) if e.tsUs - s.lastUs <= gapUs =>
                  open = Some(s.copy(lastUs = e.tsUs, nEvents = s.nEvents + 1))
                case Some(s) =>
                  closed += ClosedSession(userId, s.startUs, s.lastUs, s.nEvents)
                  open = Some(OpenSession(e.tsUs, e.tsUs, 1L))
                case None =>
                  open = Some(OpenSession(e.tsUs, e.tsUs, 1L))
              }
            }
            open.foreach { s =>
              state.update(s)
              // Fire once the watermark clears the gap after the last
              // event; clamp above the current watermark (setting a
              // timeout at-or-before it is rejected by Spark).
              state.setTimeoutTimestamp(
                math.max(s.lastUs / 1000 + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming CDC compaction — the streaming face of the batch
    * `ev_compact_latest` query: maintain the newest record per
    * (user, type) key and re-emit that key's refreshed snapshot each
    * trigger it changes (update-mode shape, the changelog a compacted
    * table view consumes). Newness ties break on eventId, matching the
    * batch max-over-struct exactly, so arrival order never matters:
    * an out-of-order delivery can bump nEvents but can't roll the
    * snapshot back. State is four fixed-width fields per LIVE key —
    * the same bound as the compacted table itself — and NoTimeout is
    * deliberate: a compaction snapshot must never forget a key that
    * stopped changing (contrast [[closedSessions]], where state is
    * transient and event-time timeout evicts it). */
  def latestState(events: Dataset[EvRec]): Dataset[LatestRecord] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.userId, e.eventType))
      .mapGroupsWithState[LatestSt, LatestRecord](GroupStateTimeout.NoTimeout) {
        case ((userId, eventType), rows, state) =>
          var st = state.getOption
            .getOrElse(LatestSt(Long.MinValue, Long.MinValue, 0.0, 0L))
          rows.foreach { e =>
            val newer = e.tsUs > st.tsUs ||
              (e.tsUs == st.tsUs && e.eventId > st.eventId)
            st =
              if (newer) LatestSt(e.tsUs, e.eventId, e.value, st.n + 1)
              else st.copy(n = st.n + 1)
          }
          state.update(st)
          LatestRecord(userId, eventType, st.eventId, st.tsUs, st.value, st.n)
      }
  }

  /** Streaming exactly-once dedup: drop re-deliveries of the same
    * `event_id` within the watermark horizon (the streaming face of the
    * batch dedup operators — state for ids older than the watermark is
    * dropped, so memory stays bounded on an unbounded stream).
    * `dropDuplicatesWithinWatermark` keys on the id alone, so a retry
    * whose timestamp was re-stamped at ingestion is still dropped
    * (plain dropDuplicates(id, ts) would pass it through). */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts_utc", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream join: attribute each purchase to the same user's
    * click in the preceding hour. BOTH sides carry watermarks and the
    * join condition time-bounds `purch_ts` to
    * [click_ts, click_ts + 1 h] — together these let Spark evict join
    * state once the watermark passes the bound; without them the state
    * store grows forever on an unbounded stream (and Spark rejects
    * outer stream-stream joins outright).
    *
    * `joinType` admits "inner" and "left_outer": left-outer
    * additionally emits never-converted clicks (null purchase columns)
    * once the watermark proves no matching purchase can still arrive —
    * the streaming face of the batch funnel query (`ev_funnel`). */
  def attributePurchases(
      clicks: DataFrame,
      purchases: DataFrame,
      joinType: String = "inner"): DataFrame = {
    val c = clicks
      .select(col("user_id").as("click_user"), col("ts_utc").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val p = purchases
      .select(col("user_id").as("purch_user"), col("ts_utc").as("purch_ts"))
      .withWatermark("purch_ts", "1 hour")
    c.join(p,
      expr("click_user = purch_user AND " +
        "purch_ts BETWEEN click_ts AND click_ts + INTERVAL 1 HOUR"),
      joinType)
  }

  /** Stream-static join: enrich a live event stream against a static
    * dimension table (user → segment). The static side is planned per
    * micro-batch as an ordinary batch relation, no state store
    * involved; deliberately UNHINTED so Catalyst auto-broadcasts a dim
    * under the broadcast threshold (stream side then never shuffles)
    * but still degrades to a shuffle join for a dim too big to ship —
    * a hard-coded broadcast would OOM there. Third cell of the join
    * matrix next to batch-batch and stream-stream. */
  def enrichWithUsers(events: DataFrame, users: DataFrame): DataFrame =
    events.join(users, Seq("user_id"), "left")

  /** Incremental ingestion made driver-visible: TWO AvailableNow drains
    * of the same file-source query against ONE persistent checkpoint.
    * The events table is split in half by `event_id % 2`; drain 1 sees
    * only the even file, then the odd file is dropped into the source
    * dir and drain 2 resumes from the SAME checkpoint. The file source
    * records processed files in the checkpoint, so drain 2 must ingest
    * ONLY the new file — asserted hard against the streaming progress
    * counters (`numInputRows` summed over each run's micro-batches), so
    * a checkpoint regression fails the correctness row loudly instead
    * of silently reprocessing everything (exactly-once would still make
    * the OUTPUT look right; the counters are the only witness that the
    * second run was incremental). The union of both drains is the full
    * table — the batch oracle.
    *
    * This is the scheduled-ingestion deployment shape: a nightly
    * AvailableNow job over a landing directory with a durable
    * checkpoint processes each day's new files only, at the cost of a
    * listing + the new data — never a growing rescan. */
  def incrementalDrain(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft_ev_incr_")
    try {
      val src = java.nio.file.Files.createDirectories(tmp.resolve("src"))
      val raw = graft.sources.Tables.table(spark, dir, "events")
      val stream = spark.readStream.schema(schema).parquet(src.toString)
        .select(col("event_id"), col("user_id"), col("event_type"))
      def drain(): Long = checkpointedDrain(spark, stream, tmp)
      val nEven = stageSourceFile(tmp, src,
        raw.where(col("event_id") % 2 === 0), "even.parquet")
      val got1 = drain()
      val nOdd = stageSourceFile(tmp, src,
        raw.where(col("event_id") % 2 === 1), "odd.parquet")
      val got2 = drain()
      assertIncremental(got1, nEven, got2, nOdd)
      loadAndClean(spark, tmp, stream.schema)
    } catch { case e: Throwable => deleteTree(tmp); throw e }
  }

  /** Stateful incrementality: the same two-drain checkpoint-resume
    * shape as [[incrementalDrain]], but through the WATERMARKED HOURLY
    * AGGREGATION — so what the checkpoint carries between runs is not
    * just file offsets but operator STATE (the open windows) and the
    * watermark itself. The events table is split at a mid-hour cut in
    * EVENT TIME (~60% into the range); drain 1 emits the windows its
    * watermark closes, drain 2 restores the open-window state and
    * finishes the rest. The window straddling the cut receives rows
    * from BOTH drains (the fixture is dense per hour), so its final
    * count equaling the batch count proves the restored state — a
    * fresh run over file 2 alone would under-count it. Progress
    * counters again hard-assert drain 2 read ONLY the new file, and
    * the result must equal the single-drain `ev_stream_hourly` horizon
    * (same final watermark, same emitted windows). */
  def incrementalAggDrain(spark: SparkSession, dir: String): DataFrame = {
    val tmp = tempDir("graft_ev_incragg_")
    try {
      val src = java.nio.file.Files.createDirectories(tmp.resolve("src"))
      val raw = graft.sources.Tables.table(spark, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      val b = raw.agg(min(col("ts_us")), max(col("ts_us"))).head()
      val (tmin, tmax) = (b.getLong(0), b.getLong(1))
      val hourUs = 3600L * 1000 * 1000
      // Cut on a half-hour boundary so the cut hour's window spans both
      // drains; all of file 2's event times sit at/above the cut, hence
      // above drain 1's watermark — nothing arrives late by design.
      val cut = ((tmin + (tmax - tmin) * 3 / 5) / hourUs) * hourUs + hourUs / 2
      val (got1, n1, got2, n2, aggSchema) =
        graft.sources.GraftSession.scoped(spark, stateConf(2): _*) { c =>
          val agg = hourlyCounts(
            c.readStream.schema(schema).parquet(src.toString)
              .withColumn("ts_utc", col("ts").cast("timestamp")))
          val n1 = stageSourceFile(tmp, src,
            raw.where(col("ts_us") < cut).drop("ts_us"), "t0.parquet")
          val got1 = checkpointedDrain(c, agg, tmp)
          val n2 = stageSourceFile(tmp, src,
            raw.where(col("ts_us") >= cut).drop("ts_us"), "t1.parquet")
          val got2 = checkpointedDrain(c, agg, tmp)
          (got1, n1, got2, n2, agg.schema)
        }
      assertIncremental(got1, n1, got2, n2)
      loadAndClean(spark, tmp, aggSchema)
    } catch { case e: Throwable => deleteTree(tmp); throw e }
  }

  /** STREAMING CHANGE-FEED consumer drain — the consumer half of
    * the commit protocol, mirror of drainVersionedCommits' producer
    * half: a versioned table is staged (v0 full, v1 append), then
    * `readStream.format("graft-changes")` drains it through a
    * PERSISTENT checkpoint — Spark's own offset log stores the commit
    * version, so the SECOND drain (after a commit lands in between)
    * ingests ONLY the late commit, hard-asserted via the progress
    * counters exactly like [[incrementalDrain]]. Admission control
    * serves ONE MICRO-BATCH PER COMMIT (also hard-asserted): the
    * table's commit history replays as the stream's batch history,
    * which is what makes the versioned table a pipeline backbone
    * rather than just a snapshot store. Result: every appended row
    * with its `_commit_version` — deterministic, so the batch oracle
    * reconstructs the feed exactly. */
  def commitFeedDrain(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val tmp = tempDir("graft_ev_cfeed_")
    try {
      val table = tmp.resolve("table")
      val docs = graft.sources.Tables.table(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      VersionedTable.commit(spark, table, 0L,
        docs.where(col("doc_id") % 3 === 0))
      VersionedTable.appendCommit(spark, table,
        docs.where(col("doc_id") % 3 === 1))
      val stream = spark.readStream.format("graft-changes")
        .load(table.toString)
      val (got1, batches1, _) = checkpointedDrainCounted(spark, stream, tmp)
      assertBatches(batches1, 2) // one micro-batch per commit: v0, v1
      // A commit lands BETWEEN drains: the checkpoint-resumed second
      // drain must serve exactly it.
      VersionedTable.appendCommit(spark, table,
        docs.where(col("doc_id") % 3 === 2))
      val (got2, batches2, _) = checkpointedDrainCounted(spark, stream, tmp)
      assertBatches(batches2, 1)
      val n01 = docs.where(col("doc_id") % 3 < 2).count()
      val n2 = docs.where(col("doc_id") % 3 === 2).count()
      assertIncremental(got1, n01, got2, n2)
      loadAndClean(spark, tmp, stream.schema)
    } catch { case e: Throwable => deleteTree(tmp); throw e }
  }

  /** FULL change-feed drain — [[commitFeedDrain]]'s append feed
    * upgraded to `readChangeFeed=true`: a history with a DELETE commit
    * (v0 base → v1 DV delete of doc_id%9==4 → v2 append re-inserting
    * doc 13) drains as typed rows — inserts carry data, deletes carry
    * ONLY their key (`_change_type` distinguishes them) — one
    * micro-batch per commit (hard-asserted: 3 batches). The in-path
    * gate proves the feed is SUFFICIENT to maintain a mirror: applying
    * it (inserts minus later deletes, per key, in commit order) must
    * reproduce the table's own latest read exactly — including the
    * re-inserted key the sequence-number scoping preserves. Returns
    * the raw feed, fully deterministic → batch oracle. */
  def changeFeedDrain(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val tmp = tempDir("graft_ev_cdffull_")
    try {
      val table = tmp.resolve("table")
      val docs = graft.sources.Tables.table(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      VersionedTable.commit(spark, table, 0L, docs)
      VersionedTable.deleteCommit(spark, table, 1L,
        docs.where(col("doc_id") % 9 === 4).select(col("doc_id")), "doc_id")
      VersionedTable.commit(spark, table, 2L,
        docs.where(col("doc_id") === 13)
          .selectExpr("doc_id", "lang", "n_chars + 1000L AS n_chars"),
        carried = VersionedTable.manifest(table, 1L))
      val stream = spark.readStream.format("graft-changes")
        .option("readChangeFeed", "true")
        .load(table.toString)
      val (_, batches, _) = checkpointedDrainCounted(spark, stream, tmp)
      assertBatches(batches, 3) // one micro-batch per commit: v0,v1,v2
      val feed = spark.read.parquet(s"$tmp/out")
      // Mirror gate: the feed applied = the table's latest snapshot.
      val dels = feed.where(col("_change_type") === "delete")
        .groupBy(col("doc_id"))
        .agg(max(col("_commit_version")).as("del_v"))
      val mirror = feed.where(col("_change_type") === "insert")
        .join(dels, Seq("doc_id"), "left")
        .where(col("del_v").isNull || col("_commit_version") > col("del_v"))
        .selectExpr("doc_id", "lang", "n_chars")
      val latest = VersionedTable.read(spark, table)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      require(mirror.exceptAll(latest).isEmpty &&
          latest.exceptAll(mirror).isEmpty,
        "changeFeedDrain: applying the change feed does not reproduce " +
          "the table's latest snapshot — the feed is not mirror-sufficient")
      loadAndClean(spark, tmp, stream.schema)
    } catch { case e: Throwable => deleteTree(tmp); throw e }
  }

  /** UPDATE/COMPACT change-feed drain — [[changeFeedDrain]]
    * extended to the REWRITE commits the feed used to hard-fail on,
    * consuming the `KIND` annotations the writers stamp: a history
    * of v0 base → v1 `updateWhere` (KIND=update) → v2 `compactCommit`
    * (KIND=compact) → v3 append drains as v0 inserts, v1's rewritten
    * file replayed as `update_preimage` (old rows) + `update_postimage`
    * (new rows) in ONE micro-batch, v2 as an EMPTY batch (zero rows
    * served, offset advanced — progress-counter-witnessed: the
    * compaction that used to force a downstream full-restart is now a
    * skip), and v3 alone in a checkpoint-RESUMED second drain (the
    * offset moved cleanly past both rewrites). v0 is staged as ONE
    * data file so the update's touched set — hence the preimage — is
    * the whole snapshot, layout-independent and oracle-reconstructable
    * (partial-rewrite pruning is priced in pipe_update_commit; this
    * query's subject is the FEED). In-path mirror gate: applying the
    * feed (inserts, then per update delete preimage keys + insert
    * postimage rows, in commit order) must reproduce the table's own
    * latest read exactly — the contract that lets a downstream replica
    * survive UPDATE and OPTIMIZE without restarts. */
  def cdfUpdateDrain(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val tmp = tempDir("graft_ev_cdfupd_")
    try {
      val table = tmp.resolve("table")
      val docs = graft.sources.Tables.table(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val n = docs.count()
      VersionedTable.commitWithStats(spark, table, 0L, docs.coalesce(1),
        "doc_id")
      val (v1, rewritten, total) = VersionedTable.updateWhere(
        spark, table, "doc_id", 10L, 40L,
        Seq("n_chars" -> "n_chars + 100000L"))
      require(v1 == 1L && rewritten == 1 && total == 1,
        s"cdfUpdateDrain: expected the single-file snapshot rewritten " +
          s"at v1, got $rewritten of $total at v$v1")
      val v2 = VersionedTable.compactCommit(spark, table, Some("doc_id"),
        files = 2)
      require(v2 == 2L &&
          VersionedTable.commitKind(table, v2).contains("compact"),
        "cdfUpdateDrain: compactCommit must land at v2 annotated " +
          "KIND=compact")
      val stream = spark.readStream.format("graft-changes")
        .option("readChangeFeed", "true")
        .load(table.toString)
      val (rows1, data1, empty1) =
        checkpointedDrainCounted(spark, stream, tmp)
      assertBatches(data1, 2) // v0 inserts; v1 preimage+postimage
      require(empty1 >= 1,
        "cdfUpdateDrain: the KIND=compact version must drain as an " +
          "EMPTY micro-batch — consumed, zero rows, no failure")
      require(rows1 == 3 * n,
        s"cdfUpdateDrain: drain 1 served $rows1 rows, expected ${3 * n} " +
          "(n inserts + n preimages + n postimages)")
      // A later append proves the checkpoint moved cleanly PAST the
      // rewrites: the resumed drain serves exactly it.
      VersionedTable.appendCommit(spark, table,
        spark.range(1).selectExpr("-1L AS doc_id",
          "CAST('zz' AS STRING) AS lang", "42L AS n_chars"))
      val (rows2, data2, _) = checkpointedDrainCounted(spark, stream, tmp)
      assertIncremental(rows1, 3 * n, rows2, 1L)
      assertBatches(data2, 1)
      val feed = spark.read.parquet(s"$tmp/out")
      // Mirror gate: inserts minus preimage-deleted keys, plus
      // postimage rows, in commit order = the table's latest snapshot.
      val pre = feed.where(col("_change_type") === "update_preimage")
        .groupBy(col("doc_id"))
        .agg(max(col("_commit_version")).as("upd_v"))
      val mirror = feed.where(col("_change_type") === "insert")
        .join(pre, Seq("doc_id"), "left")
        .where(col("upd_v").isNull || col("_commit_version") > col("upd_v"))
        .selectExpr("doc_id", "lang", "n_chars")
        .unionAll(feed.where(col("_change_type") === "update_postimage")
          .selectExpr("doc_id", "lang", "n_chars"))
      val latest = VersionedTable.read(spark, table)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      require(mirror.exceptAll(latest).isEmpty &&
          latest.exceptAll(mirror).isEmpty,
        "cdfUpdateDrain: applying the update feed does not reproduce " +
          "the table's latest snapshot — the feed is not " +
          "mirror-sufficient across UPDATE/OPTIMIZE")
      loadAndClean(spark, tmp, stream.schema)
    } catch { case e: Throwable => deleteTree(tmp); throw e }
  }

  /** STREAMING SINK drain — the PRODUCER half as a native V2
    * `StreamingWrite`: events stream `writeStream.format("graft-table")`
    * straight INTO a versioned table, no foreachBatch glue — version =
    * epoch + 1 over a schema-pinning v0 bootstrap, so exactly-once is
    * the commit point's putIfAbsent, not sink-side state (the
    * `ev_stream_commit` discipline, promoted into the connector). The
    * same two-drain checkpoint-resume shape as [[incrementalDrain]]:
    * drain 1 publishes the even file, a second file lands, drain 2
    * resumes from the checkpoint and publishes ONLY it. In-path
    * requires: row counts exact after each drain (no loss, no
    * duplication) and ≥2 sink versions over the bootstrap (each data
    * epoch was its own atomic commit). Returns the sink table read
    * back through the connector, detached from the staging dir. */
  def sinkDrain(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val tmp = tempDir("graft_ev_sink_")
    try {
      val src = java.nio.file.Files.createDirectories(tmp.resolve("src"))
      val raw = graft.sources.Tables.table(spark, dir, "events")
      val sel = Seq(col("event_id"), col("user_id"), col("event_type"))
      val table = tmp.resolve("table")
      VersionedTable.commit(spark, table, 0L,
        raw.select(sel: _*).limit(0).coalesce(1))
      val stream = spark.readStream.schema(schema).parquet(src.toString)
        .select(sel: _*)
      def drain(): Unit = {
        val q = stream.writeStream.format("graft-table")
          .option("checkpointLocation", tmp.resolve("ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(table.toString)
        q.awaitTermination()
      }
      val nEven = stageSourceFile(tmp, src,
        raw.where(col("event_id") % 2 === 0), "even.parquet")
      drain()
      require(VersionedTable.read(spark, table).count() == nEven,
        "sinkDrain: drain 1 must publish exactly the even file's rows")
      val nOdd = stageSourceFile(tmp, src,
        raw.where(col("event_id") % 2 === 1), "odd.parquet")
      drain()
      require(VersionedTable.read(spark, table).count() == nEven + nOdd,
        "sinkDrain: the resumed drain must publish only the new file — " +
          "no loss, no re-publication")
      require(VersionedTable.versions(table).size >= 3,
        "sinkDrain: each data epoch must land as its own commit")
      val out = spark.read.format("graft-table").load(table.toString)
        .orderBy("event_id")
      graft.sources.GraftSession.materialize(spark, out)
    } finally deleteTree(tmp)
  }

  /** END-TO-END PIPELINE drain — the versioned table as a
    * pipeline BACKBONE, both V2 connectors CHAINED through a stateful
    * operator in ONE streaming query:
    *
    *   source versioned table (3 event-time-sliced commits)
    *     → `graft-changes` change feed  (one micro-batch PER COMMIT,
    *       hard-asserted — so the watermark advances between commits
    *       and closes windows incrementally, not in one catch-all)
    *     → watermarked hourly aggregation (append mode; count + exact
    *       decimal-summed value)
    *     → `graft-table` exactly-once streaming sink (each emitting
    *       epoch its own atomic commit — putIfAbsent idempotency).
    *
    * The commits are TIME slices (oldest first), so delivery is
    * in-order and nothing is late-dropped; the emission horizon is the
    * standard one (final watermark = global max event time − 2 h) and
    * the slices partition the whole table, so the batch oracle is the
    * plain horizon-bounded hourly aggregate. The hour rides the sink
    * as epoch MICROS (the connector's Group-API writer is
    * primitive-typed by design) and converts back at the read edge.
    * This is the shape that makes the commit protocol a pipeline:
    * upstream publishes atomic versions, the feed replays them as
    * batch history, stateful streaming folds them, and the result
    * lands downstream exactly once — no glue tables, no foreachBatch. */
  def pipelineDrain(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val tmp = tempDir("graft_ev_pipe_")
    try {
      val srcTable = tmp.resolve("src")
      val sinkTable = tmp.resolve("sink")
      val ev = graft.sources.Tables.table(spark, dir, "events")
        .select(col("event_id"), col("event_type"), col("ts"), col("value"))
        .withColumn("ts_us", expr("unix_micros(CAST(ts AS TIMESTAMP))"))
      val b = ev.agg(min(col("ts_us")), max(col("ts_us"))).head()
      val (tmin, tmax) = (b.getLong(0), b.getLong(1))
      val span = math.max(tmax - tmin + 1, 3L)
      // The event time rides the source table as epoch MICROS: both
      // connectors' Group-API readers/writers are primitive-typed by
      // design, so the timestamp round-trips as a long and converts at
      // the stream edge (timestamp_micros) / read edge.
      def slice(i: Int) = ev
        .where(col("ts_us") >= tmin + span * i / 3 &&
          col("ts_us") < tmin + span * (i + 1) / 3)
        .drop("ts")
      // Sink bootstrap pins the AGGREGATE schema at v0. It touches
      // only sinkTable, so it runs CONCURRENTLY with the three source
      // commits below (the pipe_table_spj_days overlap pattern:
      // disjoint table roots, VersionedTable holds no shared mutable
      // statics); joined before the stream needs either table.
      val boot = graft.sources.GraftSession.async(
        VersionedTable.commit(spark, sinkTable, 0L,
          ev.limit(0).selectExpr("ts_us AS hour_us", "event_type",
            "CAST(0 AS BIGINT) AS n", "CAST(0.0 AS DOUBLE) AS total_value")
            .coalesce(1)))
      VersionedTable.commit(spark, srcTable, 0L, slice(0))
      VersionedTable.appendCommit(spark, srcTable, slice(1))
      VersionedTable.appendCommit(spark, srcTable, slice(2))
      boot.get()
      // The same reduced state partitions as drainAppend: with the
      // session's full count every micro-batch committed that many
      // state stores (and the sink received as many epoch writes) for
      // an hours×types-sized aggregate — about 0.8-1.2 s of
      // per-partition state machinery per batch at 32 partitions.
      // Hour-grain aggregate state is small at any corpus scale; a
      // production deployment sizes this off its key cardinality, not
      // its core count.
      val batches =
        graft.sources.GraftSession.scoped(spark, stateConf(2): _*) { c =>
          awaitCounted(c,
            c.readStream.format("graft-changes")
              .load(srcTable.toString)
              .withColumn("ts_utc", expr("timestamp_micros(ts_us)"))
              .withWatermark("ts_utc", "2 hours")
              .groupBy(window(col("ts_utc"), "1 hour").as("w"),
                col("event_type"))
              .agg(count(lit(1)).as("n"),
                sum(col("value").cast("decimal(18,2)")).cast("double")
                  .as("total_value"))
              .selectExpr("unix_micros(w.start) AS hour_us", "event_type",
                "n", "total_value")
              .writeStream.format("graft-table")
              .option("checkpointLocation", tmp.resolve("ckpt").toString)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start(sinkTable.toString))._2
        }
      assertBatches(batches, 3) // one micro-batch per source commit
      require(VersionedTable.versions(sinkTable).size >= 3,
        "pipelineDrain: emitting epochs must land as their own atomic " +
          "sink commits (bootstrap + >= 2 emissions)")
      val out = spark.read.format("graft-table").load(sinkTable.toString)
        .selectExpr(
          "CAST(timestamp_micros(hour_us) AS timestamp_ntz) AS hour_start",
          "event_type", "n", "total_value")
        .orderBy("hour_start", "event_type")
      graft.sources.GraftSession.materialize(spark, out)
    } finally deleteTree(tmp)
  }

  /** STREAMING SINK INTO A PARTITIONED TABLE (driver-checked):
    * the events stream drains into a graft table PARTITIONED BY
    * event_type — each micro-batch's rows route to `event_type=…`
    * files (the same partitioned writer batch INSERT uses), so the
    * sink table gets manifest partition pruning from its FIRST epoch:
    * a day/type-partitioned event mirror at 100 TB must never need a
    * flat-sink-then-compact detour to become prunable. Witnessed
    * in-path: every streamed data file carries its partition segment
    * (several values present), and a single-value SQL predicate scans
    * exactly that value's files (+ the never-prunable zero-row
    * bootstrap). Returns the per-type rollup read back through the V2
    * scan — the oracle proves the partitioned drain lost or doubled
    * nothing. */
  def partitionedSinkDrain(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.VersionedTable
    val tmp = tempDir("graft_ev_psink_")
    try {
      val sinkTable = tmp.resolve("sink")
      withSplitEvents(spark, dir, 3) { (src, nf) =>
        val shaped = src(spark).selectExpr("event_id", "event_type",
          "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us",
          "CAST(value AS DOUBLE) AS value")
        // Bootstrap pins the schema AND declares the layout before any
        // data path can exhibit it (the DDL PARTITIONED BY shape).
        VersionedTable.commit(spark, sinkTable, 0L,
          graft.sources.Tables.table(spark, dir, "events").limit(0)
            .selectExpr("event_id", "event_type",
              "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us",
              "CAST(value AS DOUBLE) AS value").coalesce(1),
          carried = Seq(VersionedTable.partColLine("event_type")))
        val (_, batches, _) = awaitCounted(spark,
          shaped.writeStream.format("graft-table")
            .option("checkpointLocation", tmp.resolve("ckpt").toString)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start(sinkTable.toString))
        assertBatches(batches, nf)
        val v = VersionedTable.latestVersion(sinkTable).get
        val streamed = (1L to v).flatMap(ver =>
          VersionedTable.addedFiles(sinkTable, ver))
        require(streamed.nonEmpty &&
            streamed.forall(_.contains("event_type=")),
          s"partitionedSinkDrain: streamed files must land under " +
            s"event_type= segments, got $streamed")
        val types = streamed.flatMap(_.split('/').collectFirst {
          case seg if seg.startsWith("event_type=") => seg }).distinct
        require(types.size > 1,
          "partitionedSinkDrain: fixture must span several event types")
        // Manifest partition pruning on the STREAMED files: one scan
        // partition per surviving file; the flat zero-row bootstrap is
        // never value-prunable (a constant +1, not a scale cost).
        val pruned = spark.read.format("graft-table")
          .load(sinkTable.toString).where("event_type = 'click'")
        val clickFiles = streamed.count(_.contains("event_type=click"))
        val scanned = pruned.rdd.getNumPartitions
        require(scanned == clickFiles + 1 &&
            scanned < streamed.size + 1,
          s"partitionedSinkDrain: predicate scanned $scanned files, " +
            s"expected the $clickFiles event_type=click files " +
            s"(+ bootstrap) of ${streamed.size + 1}")
        val out = spark.read.format("graft-table")
          .load(sinkTable.toString)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double")
              .as("total_value"))
          .orderBy("event_type")
        graft.sources.GraftSession.materialize(spark, out)
      }
    } finally deleteTree(tmp)
  }

  /** Stage a batch slice through a one-file write, then move the part
    * file into the flat source dir the stream lists as `fileName`;
    * returns its row count. */
  private def stageSourceFile(tmp: java.nio.file.Path, src: java.nio.file.Path,
      half: DataFrame, fileName: String): Long = {
    import java.nio.file.Files
    val stage = tmp.resolve(s"stage_$fileName")
    half.coalesce(1).write.parquet(stage.toString)
    val listing = Files.list(stage)
    val part =
      try listing.filter(_.toString.endsWith(".parquet")).findFirst().get()
      finally listing.close()
    Files.move(part, src.resolve(fileName))
    deleteTree(stage)
    half.count()
  }

  /** One AvailableNow run of `df` into `$tmp/out` against the PERSISTENT
    * checkpoint `$tmp/ckpt` (shared across calls — that is the point);
    * returns the run's total input-row count. */
  private def checkpointedDrain(spark: SparkSession, df: DataFrame,
      tmp: java.nio.file.Path): Long =
    checkpointedDrainCounted(spark, df, tmp)._1

  /** [[checkpointedDrain]] returning (rows, dataBatches, emptyBatches)
    * — for drains whose batch GRANULARITY is itself an assertion
    * target (emptyBatches witnesses versions the feed consumed but
    * served zero rows for, e.g. a KIND=compact skip). */
  private def checkpointedDrainCounted(spark: SparkSession, df: DataFrame,
      tmp: java.nio.file.Path): (Long, Int, Int) =
    awaitCounted(spark, appendSink(df, tmp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start())

  /** Per-run progress accumulator. Counting via a listener — NOT
    * `q.recentProgress` — because the retained progress array is capped
    * by `spark.sql.streaming.numRecentProgressUpdates` (default 100): a
    * drain exceeding 100 micro-batches would silently undercount its
    * input rows there and fail the incrementality asserts spuriously.
    * Keyed by runId so concurrent queries on the session can't
    * cross-contaminate counts. */
  private final class DrainCounter
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val rows = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]()
    val dataBatches = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Integer]()
    val emptyBatches = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Integer]()
    val terminated = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val n = e.progress.numInputRows
      rows.merge(e.progress.runId, java.lang.Long.valueOf(n), (a, b) =>
        java.lang.Long.valueOf(a.longValue + b.longValue))
      val tgt = if (n > 0) dataBatches else emptyBatches
      tgt.merge(e.progress.runId, java.lang.Integer.valueOf(1), (a, b) =>
        java.lang.Integer.valueOf(a.intValue + b.intValue))
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
      terminated.add(e.runId); ()
    }
  }

  /** Observed-metrics accumulator for [[drainAppendObserved]]: sums
    * every numeric field of the named observation across micro-batches
    * (`observe()` emits one metrics row per batch; no-data batches may
    * emit none — absence is simply not added). Not keyed by runId: the
    * listener is registered on the drain's own child session, whose
    * only query is that drain, so exactly one run reports to it. */
  private final class ObservedSums(obsName: String)
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val sums = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val row = e.progress.observedMetrics.get(obsName)
      if (row != null) {
        row.schema.fields.zipWithIndex.foreach { case (f, i) =>
          if (!row.isNullAt(i)) {
            val v: Long = row.get(i) match {
              case l: java.lang.Long     => l.longValue
              case n: java.lang.Number   => n.longValue
              case x => sys.error(s"non-numeric observed metric ${f.name}: $x")
            }
            sums.merge(f.name, java.lang.Long.valueOf(v),
              (a, b) => java.lang.Long.valueOf(a.longValue + b.longValue))
          }
        }
      }
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** Accumulates `numRowsDroppedByWatermark` across a run's stateful
    * operators and micro-batches. Same one-drain lifetime as
    * [[ObservedSums]]. */
  private final class DroppedCounter
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val dropped = new java.util.concurrent.atomic.AtomicLong()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      dropped.addAndGet(
        e.progress.stateOperators.map(_.numRowsDroppedByWatermark).sum)
      ()
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** [[drainAppend]] returning the engine's own LATE-ROW accounting
    * beside the result: total `numRowsDroppedByWatermark` over the
    * drain. The drop boundary is `window.end <= watermark` — pinned by
    * a StreamingSpec boundary test (a row whose window end equals the
    * watermark exactly IS dropped), the mirror of the append-emission
    * horizon's `<=`. */
  def drainAppendDropCounted(spark: SparkSession, tag: String,
      statePartitions: Int = 2, minBatches: Int = 0)(
      topology: SparkSession => DataFrame): (DataFrame, Long) = {
    val acc = new DroppedCounter
    (scopedDrain(spark, tag, statePartitions, minBatches)(topology)(
      appendNow(acc)), acc.dropped.get)
  }

  /** [[drainAppend]] plus the OBSERVABILITY path: the caller passes a
    * topology whose source carries `Dataset.observe(obsName, ...)`, and
    * the drain returns the result alongside the per-metric SUM over all
    * micro-batches — the production pattern for source audits (rows
    * ingested, nulls seen, late counts) that must be collected WITHOUT
    * a second scan: CollectMetrics rides the existing plan as a
    * zero-shuffle accumulator, and the listener is push-based (no
    * `recentProgress` cap — same rationale as [[DrainCounter]]). */
  def drainAppendObserved(spark: SparkSession, tag: String, obsName: String,
      statePartitions: Int = 2, minBatches: Int = 0)(
      topology: SparkSession => DataFrame): (DataFrame, Map[String, Long]) = {
    val acc = new ObservedSums(obsName)
    val out = scopedDrain(spark, tag, statePartitions, minBatches)(topology)(
      appendNow(acc))
    import scala.jdk.CollectionConverters._
    (out, acc.sums.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }

  /** Block until the (AvailableNow) query self-terminates and return
    * `(totalInputRows, dataBatches)` — micro-batches that actually read
    * rows, i.e. excluding the trailing no-data batch the engine runs to
    * emit what the final watermark closed. Listener events are async:
    * after `awaitTermination` the method waits for the run's terminated
    * event so every progress update has been delivered before the
    * counts are read — to the `extra` listeners too, which are
    * registered beside the counter for the run. */
  private def awaitCounted(spark: SparkSession,
      start: => org.apache.spark.sql.streaming.StreamingQuery,
      extra: Seq[org.apache.spark.sql.streaming.StreamingQueryListener] = Nil)
      : (Long, Int, Int) = {
    val counter = new DrainCounter
    val listeners = counter +: extra
    listeners.foreach(spark.streams.addListener)
    try {
      val q = start
      if (!q.awaitTermination(600000L)) q.stop()
      val run = q.runId
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!counter.terminated.contains(run) && System.nanoTime() < deadline)
        Thread.sleep(10)
      (Option(counter.rows.get(run)).map(_.longValue).getOrElse(0L),
        Option(counter.dataBatches.get(run)).map(_.intValue).getOrElse(0),
        Option(counter.emptyBatches.get(run)).map(_.intValue).getOrElse(0))
    } finally listeners.foreach(spark.streams.removeListener)
  }

  /** Processing-time-trigger counterpart of [[awaitCounted]]: a
    * `Trigger.ProcessingTime` query NEVER self-terminates — the trigger
    * clock keeps firing micro-batches forever — so the drain must
    * decide quiescence itself and `stop()` the query. Quiescence here
    * is two-phase: (1) every available source row has been ingested
    * (`processAllAvailable`, which waits on OFFSETS — so every DATA
    * batch has committed — not on emission); (2) at least ONE NO-DATA
    * micro-batch has committed IN TOTAL: the first empty batch after
    * the last data batch is the one that runs with the final slice's
    * watermark and emits the windows it closes (`noDataMicroBatches`,
    * on by default). The count is ABSOLUTE, not
    * relative-to-a-post-phase-1 snapshot: empty batches cannot occur
    * between data batches (a tick with files pending reads one — it is
    * a data batch), so any counted empty IS a final-watermark batch;
    * and once the watermark stops advancing the engine runs NO further
    * empty batches, so waiting for a second one relative to a snapshot
    * that might already include the first would just burn the whole
    * deadline (observed: 62 s for a 2 s drain). Stopping right after
    * phase 1 would race the final emission and lose the last closed
    * windows nondeterministically. Returns the data-batch count; capped
    * wait so a wedged clock can't hang the correctness run (same
    * philosophy as awaitCounted — a missing emission fails the oracle
    * compare loudly). */
  private def awaitQuiescent(spark: SparkSession,
      start: => org.apache.spark.sql.streaming.StreamingQuery): Int = {
    val counter = new DrainCounter
    spark.streams.addListener(counter)
    try {
      val q = start
      val run = q.runId
      try {
        q.processAllAvailable()
        def empties = Option(counter.emptyBatches.get(run)).map(_.intValue).getOrElse(0)
        val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
        while (empties < 1 && System.nanoTime() < deadline)
          Thread.sleep(25)
        // Deadline expiry with no empty batch means the final-watermark
        // micro-batch never fired (a wedged trigger clock) — fail HERE,
        // attributably, instead of stopping anyway and surfacing later
        // as a confusing oracle diff on the missing last windows
        //.
        if (empties < 1)
          throw new IllegalStateException(
            "awaitQuiescent: no no-data micro-batch committed within the " +
              "20 s deadline — the ProcessingTime trigger clock is wedged; " +
              "final-watermark windows were never emitted")
      } finally q.stop()
      Option(counter.dataBatches.get(run)).map(_.intValue).getOrElse(0)
    } finally spark.streams.removeListener(counter)
  }

  /** Hard multi-batch witness: a drain whose source was staged as N
    * files with `maxFilesPerTrigger=1` MUST have read them in N
    * separate micro-batches — if it didn't, the cross-batch claims
    * (watermark advancement, state eviction, checkpoint resume) were
    * not actually exercised, and the row must fail loudly rather than
    * pass on single-batch luck. */
  private def assertBatches(got: Int, want: Int): Unit =
    if (want > 0 && got < want)
      throw new IllegalStateException(
        s"drain ran $got data micro-batch(es), expected >= $want — " +
          "the split source was not consumed incrementally")

  private def assertIncremental(
      got1: Long, want1: Long, got2: Long, want2: Long): Unit =
    if (got1 != want1 || got2 != want2)
      throw new IllegalStateException(
        s"incremental drain not incremental: run1 read $got1 rows " +
          s"(expected $want1), run2 read $got2 rows (expected $want2 — " +
          "only the file added between the drains)")

  /** Convenience writer used by examples/tests: in-memory sink. */
  def toMemory(df: DataFrame, name: String, mode: OutputMode) =
    df.writeStream.format("memory").queryName(name).outputMode(mode).start()

  /** Batch-over-stream drain: process everything available through an
    * append-mode parquet files sink (`Trigger.AvailableNow`), block
    * until the query self-terminates, and return the sink's contents.
    * This is the scheduled-ingestion shape — with a persistent
    * checkpoint dir it becomes incremental; the fresh temp dir here
    * makes each call a full drain. Used by the driver-facing
    * `ev_stream_*` queries.
    *
    * `topology` builds the streaming query, source included, on the
    * session it is given: a child of `spark` scoped to the drain's
    * [[stateConf]], so the reduced state-partition count never reaches
    * another query on `spark`. The result is read back on `spark`.
    *
    * The drain runs with a reduced shuffle-partition count (default 2):
    * every stateful operator commits one state-store delta per
    * partition per micro-batch — a per-partition CONSTANT that
    * dominates when state is small (profiled on the fixture joins:
    * ~0.4 s/batch of summed commit time at 8 partitions for tens of KB
    * of state; 8→2 cut the stream-stream drains ~25%). Callers whose
    * state is per-ROW sized pass a higher count (see ev_stream_dedup);
    * on a real cluster pass the session's own setting — state
    * parallelism should match executor cores there. A checkpoint pins
    * its partition count in its own metadata, so a resumed query keeps
    * the count it started with.
    *
    * `minBatches > 0` hard-asserts the drain consumed at least that
    * many DATA micro-batches (pair with [[splitEventsSource]]'s staged
    * file count) — the witness that cross-batch semantics were really
    * exercised. The AvailableNow wait cap only exists so a wedged state
    * store can never hang the caller's whole correctness run — on
    * expiry the query is stopped and whatever the sink holds is
    * returned (a partial result fails the oracle compare loudly instead
    * of blocking it silently). */
  def drainAppend(spark: SparkSession, tag: String, statePartitions: Int = 2,
      minBatches: Int = 0, rocksdb: Boolean = false)(
      topology: SparkSession => DataFrame): DataFrame =
    scopedDrain(spark, tag, statePartitions, minBatches, rocksdb)(topology)(
      appendNow())

  /** What every settings-scoped drain shares: a scratch tree, the
    * topology built on a child of `spark` scoped to [[stateConf]], `run`
    * starting the query and returning its data-batch count, the
    * `minBatches` witness, and the sink read back on `spark`. */
  private def scopedDrain(spark: SparkSession, tag: String,
      statePartitions: Int, minBatches: Int, rocksdb: Boolean = false)(
      topology: SparkSession => DataFrame)(
      run: (SparkSession, DataFrame, java.nio.file.Path) => Int): DataFrame = {
    recordProvider(tag, rocksdb)
    val tmp = tempDir(tag)
    // Any failure from here on (drain error OR a failed batch-count
    // assert) must not leak the checkpoint/out tree — loadAndClean is
    // otherwise the only cleanup path.
    val schema =
      try graft.sources.GraftSession.scoped(spark,
          stateConf(statePartitions, rocksdb): _*) { c =>
        val df = topology(c)
        assertBatches(run(c, df, tmp), minBatches)
        df.schema
      } catch { case e: Throwable => deleteTree(tmp); throw e }
    loadAndClean(spark, tmp, schema)
  }

  /** One AvailableNow run of `df` into [[appendSink]], with `extra`
    * listeners on the run; its data-batch count. */
  private def appendNow(
      extra: org.apache.spark.sql.streaming.StreamingQueryListener*)(
      c: SparkSession, df: DataFrame, tmp: java.nio.file.Path): Int =
    awaitCounted(c, appendSink(df, tmp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(), extra)._2

  /** `df` into the append-mode parquet sink `$tmp/out`, checkpointed at
    * `$tmp/ckpt`. */
  private def appendSink(df: DataFrame, tmp: java.nio.file.Path) =
    df.writeStream
      .format("parquet")
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .outputMode(OutputMode.Append)

  /** [[drainAppend]] under a `Trigger.ProcessingTime` clock — the
    * resident-cluster shape (a standing query whose micro-batches fire
    * on wall-clock ticks) as opposed to AvailableNow's scheduled-job
    * shape. Everything the AvailableNow drains prove about PLAN
    * semantics carries over unchanged — same source, same watermarked
    * topology, same sink — what this exercises that they cannot is the
    * trigger CLOCK path: batches scheduled by timer rather than by the
    * drain-and-exit loop, no-data batches firing between ticks, and the
    * harness (not the engine) deciding quiescence and stopping the
    * query ([[awaitQuiescent]]). The short interval only sets tick
    * granularity at fixture scale; a production deployment picks the
    * latency/cost point (seconds to minutes), the semantics are
    * interval-independent. Same scoped state partitions, minBatches
    * witness and temp-tree hygiene as drainAppend. */
  def drainProcessingTime(spark: SparkSession, tag: String,
      statePartitions: Int = 2, minBatches: Int = 0,
      intervalMs: Long = 100)(
      topology: SparkSession => DataFrame): DataFrame =
    scopedDrain(spark, tag, statePartitions, minBatches)(topology) {
      (c, df, tmp) =>
        awaitQuiescent(c, appendSink(df, tmp)
          .trigger(org.apache.spark.sql.streaming.Trigger
            .ProcessingTime(intervalMs, java.util.concurrent.TimeUnit.MILLISECONDS))
          .start())
    }

  /** The session settings a drain's stateful operators run under:
    * `statePartitions` shuffle partitions and, with `rocksdb`, the
    * RocksDB state store. Read when a query starts, then pinned in its
    * checkpoint's own metadata for the query's lifetime.
    *
    * RocksDB is the at-100-TB state store choice: state lives off the
    * executor HEAP in native memory + local SST files instead of as a
    * JVM object map (HDFSBackedStateStore), so data-sized state (e.g.
    * one entry per event id in a dedup horizon) neither bloats GC nor
    * caps at executor memory, and commits upload changelogs rather
    * than full snapshots. Pure configuration — no query change.
    *
    * With it comes CHANGELOG CHECKPOINTING: commit each micro-batch's
    * state changelog instead of a full RocksDB snapshot — for
    * data-sized state (the dedup key set) the full-snapshot upload is
    * the dominant per-batch cost, and the changelog is O(batch) where
    * the snapshot is O(state). Snapshots still happen, just
    * asynchronously every N commits (Spark's maintenance interval).
    * Same state semantics, same oracle. */
  private def stateConf(statePartitions: Int,
      rocksdb: Boolean = false): Seq[(String, String)] =
    ("spark.sql.shuffle.partitions" -> statePartitions.toString) +: (
      if (!rocksdb) Nil
      else Seq(
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb" +
          ".changelogCheckpointing.enabled" -> "true"))

  /** Update-mode counterpart of [[drainAppend]]: a files sink can't
    * take update-mode output directly, so each micro-batch's refreshed
    * rows are APPENDED to parquet via foreachBatch — the production
    * changelog-to-files pattern — and the caller compacts the read-back
    * changelog to its final row per key (each key's emissions carry a
    * monotonically growing counter, so max-over-struct picks the
    * newest). Same scoped state settings, capped wait, `minBatches`
    * witness and temp-tree cleanup as drainAppend. */
  def drainUpdate(spark: SparkSession, tag: String, statePartitions: Int = 2,
      minBatches: Int = 0, rocksdb: Boolean = false)(
      topology: SparkSession => DataFrame): DataFrame =
    scopedDrain(spark, tag, statePartitions, minBatches, rocksdb)(topology) {
      (c, df, tmp) =>
        awaitCounted(c,
          df.writeStream
            .outputMode(OutputMode.Update)
            .option("checkpointLocation", s"$tmp/ckpt")
            .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
              batch.write.mode("append").parquet(s"$tmp/out"); ()
            }
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start())._2
    }

  /** MERGE-INTO-TARGET counterpart of [[drainUpdate]]: where
    * drainUpdate lands a CHANGELOG (per-batch refreshed rows appended,
    * compaction deferred to the reader), this drain maintains the
    * compacted TARGET TABLE itself — each micro-batch foreachBatch
    * MERGEs the batch's latest-per-key rows into the keyed files
    * target and rewrites it under a batchId-versioned directory,
    * skipping the write when that batch's directory already committed
    * (`_SUCCESS` present): the idempotent-sink trick every
    * exactly-once files pipeline hangs off foreachBatch's (batch,
    * batchId) contract. Latest-wins merge makes the target ALSO
    * idempotent under at-least-once re-delivery of the source (max
    * over re-seen rows is a no-op) — callers prove it by staging every
    * slice twice. The streaming query itself is STATELESS: no
    * watermark, no state store — all cross-batch memory lives in the
    * target files, the pattern that keeps engine state out of the
    * picture when the sink is already a table. At 100 TB the per-batch
    * rewrite becomes a partition-pruned MERGE (only files holding
    * touched keys rewrite — pipe_cdc_apply's join, scoped by the
    * delta's key range); the fixture target is keys-sized, so the full
    * rewrite is the honest small shape.
    *
    * Input contract: `df` = `keyCols` plus one struct column `m` whose
    * field-lexicographic max is latest-wins (ts first). */
  def drainMergeTarget(spark: SparkSession, tag: String, keyCols: Seq[String],
      minBatches: Int = 0)(topology: SparkSession => DataFrame): DataFrame = {
    val tmp = tempDir(tag)
    val keyExprs = keyCols.map(col)
    val current = new java.util.concurrent.atomic.AtomicReference[String](null)
    try {
      val schema = graft.sources.GraftSession.scoped(spark,
          stateConf(2): _*) { c =>
        val df = topology(c)
        assertBatches(awaitCounted(c,
          df.writeStream
            .outputMode(OutputMode.Append)
            .option("checkpointLocation", s"$tmp/ckpt")
            .foreachBatch {
              (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
                val out = s"$tmp/target_$bid"
                val done = new org.apache.hadoop.fs.Path(out, "_SUCCESS")
                val fs = done.getFileSystem(
                  c.sparkContext.hadoopConfiguration)
                if (!fs.exists(done)) {
                  val delta = batch
                    .groupBy(keyExprs: _*).agg(max(col("m")).as("m"))
                  val merged = Option(current.get) match {
                    case Some(p) => c.read.parquet(p)
                      .unionByName(delta)
                      .groupBy(keyExprs: _*).agg(max(col("m")).as("m"))
                    case None => delta
                  }
                  merged.write.mode("overwrite").parquet(out)
                }
                current.set(out)
                ()
            }
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start())._2, minBatches)
        df.schema
      }
      Option(current.get) match {
        case Some(p) =>
          // Same driver-side read-back contract as loadAndClean: the
          // final target is keys-sized by construction.
          graft.sources.GraftSession.materialize(spark,
            spark.read.parquet(p))
        case None => spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      }
    } finally deleteTree(tmp)
  }

  /** Streaming EXACTLY-ONCE table publishing through the versioned
    * commit protocol (operators.VersionedTable): each micro-batch is
    * an APPEND COMMIT — the batch's rows become new files, the prior
    * version's manifest is carried forward, and version number =
    * batchId. This is the mechanism that turns Spark's replayable-
    * source + idempotent-sink contract into end-to-end exactly-once
    * TABLE semantics: a batch retried after its commit published hits
    * the manifest's atomic-create conflict (the putIfAbsent) and is
    * skipped — the retry can never double-append, because the conflict
    * IS the "already done" signal (the Delta/Iceberg streaming-sink
    * txn-version dance, re-derived). A crash BEFORE publish leaves
    * only orphan files under a unique attempt slug; the replayed batch
    * commits fresh ones. Consumers meanwhile read any committed
    * version with full snapshot isolation — a reader planning over
    * version N is untouchable by in-flight commits, and the table's
    * HISTORY is the stream's batch history (time travel to "the table
    * after batch k"). The streaming query itself is stateless (no
    * watermark/state store: append-only publishing needs none).
    *
    * In-path witnesses: the committed history must be exactly
    * 0..lastBatch with strictly growing row counts, and version 0's
    * count must be below the latest (the append history is real, not
    * one fat batch). Returns the LATEST version as a local relation
    * (same read-back contract as loadAndClean). */
  def drainVersionedCommits(df: DataFrame, tag: String,
      minBatches: Int = 0): DataFrame = {
    import graft.operators.VersionedTable
    val spark = df.sparkSession
    val tmp = tempDir(tag)
    val table = tmp.resolve("table")
    try {
      val batches = awaitCounted(spark,
        df.writeStream
          .outputMode(OutputMode.Append)
          .option("checkpointLocation", s"$tmp/ckpt")
          .foreachBatch {
            (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
              // A trailing no-data micro-batch publishes nothing (an
              // empty append is not a version); commitAppend bases its
              // DELTA manifest on the latest committed version, not
              // bid-1, so the chain survives any skipped batch id —
              // and per-batch commit metadata is O(the batch), not
              // O(files in table) (manifest-delta publishing).
              if (!batch.isEmpty) {
                try VersionedTable.commitAppend(spark, table, bid, batch.toDF())
                catch {
                  // A retried batch whose commit already published:
                  // exactly-once by conflict, not by luck.
                  case _: java.nio.file.FileAlreadyExistsException => ()
                }
              }
              ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start())._2
      assertBatches(batches, minBatches)
      val history = VersionedTable.versions(table)
      require(history == (0L until batches.toLong),
        s"drainVersionedCommits: committed history $history is not " +
          s"exactly batches 0..${batches - 1}")
      val counts = history.map(v =>
        VersionedTable.read(spark, table, Some(v)).count())
      require(counts.zip(counts.tail).forall { case (a, b) => a < b },
        s"drainVersionedCommits: version row counts $counts must " +
          "strictly grow — some batch appended nothing")
      graft.sources.GraftSession.materialize(spark,
        VersionedTable.read(spark, table))
    } finally deleteTree(tmp)
  }

  /** Shared post-drain read-back: load the sink into a LOCAL relation
    * (drain results are harness read-backs bounded by the sink's size —
    * a production deployment's consumers read the sink files in place),
    * then delete the temp sink+checkpoint tree so repeated Verify/Bench
    * runs leave no `graft_ev_*` residue behind. An absent sink dir (a
    * source that produced no batch at all) degrades to an empty result
    * of the query's schema instead of a PATH_NOT_FOUND. */
  private[graft] def loadAndClean(
      spark: SparkSession, tmp: java.nio.file.Path,
      schema: StructType): DataFrame = {
    val outDir = tmp.resolve("out")
    val out =
      if (!java.nio.file.Files.isDirectory(outDir))
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      else {
        // Harness-scale contract: the read-back collects the WHOLE sink
        // through the driver, so it is only valid while drained sinks
        // stay fixture-sized (the largest today is ev_stream_dedup's
        // full events table, ~3 MB parquet at sf0.1). The byte ceiling
        // turns a silent future driver OOM (someone points a drain at a
        // big source) into a diagnosable assert at the boundary where
        // the contract is broken — checked on-disk, before any read.
        val bytes = {
          val walk = java.nio.file.Files.walk(outDir)
          try walk.filter(java.nio.file.Files.isRegularFile(_))
            .mapToLong(java.nio.file.Files.size(_)).sum()
          finally walk.close()
        }
        val ceiling = 256L * 1024 * 1024
        if (bytes > ceiling) {
          deleteTree(tmp)
          throw new IllegalStateException(
            s"drained sink is $bytes bytes on disk (> $ceiling): too big " +
              "for the harness's driver-side read-back — a production " +
              "consumer reads the sink files in place instead")
        }
        graft.sources.GraftSession.materialize(spark,
          spark.read.parquet(outDir.toString))
      }
    deleteTree(tmp)
    out
  }

  /** Scratch root for a drain's staged-source/checkpoint/sink tree.
    * Prefers tmpfs (`/dev/shm`) when present, writable, AND with at
    * least [[MinScratchBytes]] usable (a container-default 64 MB shm
    * would otherwise take every drain down with ENOSPC mid-drain —
    * and because the sink-size ceiling in loadAndClean is checked only
    * after the drain, an undersized tmpfs would fill RAM first): the
    * HDFS-backed state store fsyncs a delta file per partition per
    * micro-batch and the files sink commits a manifest per batch — on
    * a disk-backed `/tmp` that per-batch IO constant dominates a
    * multi-batch drain's cost (DrainProfile). The placement is a
    * HARNESS-LOCAL lever only: these trees are ephemeral by contract
    * (deleted in the same call, results materialized to local
    * relations first), so durability buys nothing here — a real
    * deployment puts checkpoints on HDFS/S3/DBFS, where durability is
    * the point, and pays the IO constant as the price of exactly-once
    * recovery. Falls back to `java.io.tmpdir` otherwise;
    * `SPARK_GRAFT_SCRATCH=<dir>` is the deliberate A/B lever and is
    * honored unconditionally: created if missing, and FAILING LOUDLY
    * if unusable — a typo'd override silently falling back to tmpfs
    * would invert the disk-vs-tmpfs A/B it exists for. No
    * capacity second-guessing on the explicit override. */
  private val MinScratchBytes = 512L * 1024 * 1024
  private[graft] def scratchRoot: java.nio.file.Path = {
    import java.nio.file.{Files, Paths}
    def writable(p: java.nio.file.Path) =
      Files.isDirectory(p) && Files.isWritable(p)
    def roomy(p: java.nio.file.Path) =
      try Files.getFileStore(p).getUsableSpace >= MinScratchBytes
      catch { case _: Exception => false }
    sys.env.get("SPARK_GRAFT_SCRATCH") match {
      case Some(dir) =>
        val p = Paths.get(dir)
        try Files.createDirectories(p)
        catch {
          case e: Exception => throw new IllegalArgumentException(
            s"SPARK_GRAFT_SCRATCH=$dir cannot be created: ${e.getMessage}", e)
        }
        if (!writable(p)) throw new IllegalArgumentException(
          s"SPARK_GRAFT_SCRATCH=$dir exists but is not a writable directory")
        p
      case None =>
        Some(Paths.get("/dev/shm")).filter(p => writable(p) && roomy(p))
          .getOrElse(Paths.get(sys.props("java.io.tmpdir")))
    }
  }
  private[graft] def tempDir(tag: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(scratchRoot, tag)

  /** Runtime record of each drain tag's state-store providerS — a SET
    * per tag, not last-write-wins: a tag that drains under both
    * providers in one process (DrainProfile's heap/rocksdb A/B) must
    * report both, or the bench JSON misattributes the rep that
    * actually ran. Bench observability: the driver
    * bench couldn't attribute floor_delta between host noise and
    * scratch/provider placement because neither was in the JSON. */
  private[graft] val drainProviders =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.Set[String]]()

  private[graft] def recordProvider(tag: String, rocksdb: Boolean): Unit =
    drainProviders
      .computeIfAbsent(tag.stripSuffix("_"),
        _ => java.util.concurrent.ConcurrentHashMap.newKeySet[String]())
      .add(if (rocksdb) "rocksdb" else "hdfs")
}
