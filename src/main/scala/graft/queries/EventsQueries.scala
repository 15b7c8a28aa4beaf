package graft.queries

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics over the `events` table (TIMESTAMP(MICROS)
  * ntz `ts`, JSON `props` — FIXTURES.md): tumbling/sliding/session
  * windows, sessionization via window functions, and JSON extraction.
  *
  * The reference has no streaming at all (SURVEY.md §2.2); these run as
  * batch plans, and the same transformations are exposed over
  * `readStream` in [[graft.streaming]]. Integer event-time math runs on
  * epoch micros on both sides: Spark via [[QueryModule.TsUs]], DuckDB
  * via `epoch_us(ts)` — identical longs, both read from the same
  * microsecond parquet column.
  */
object EventsQueries extends QueryModule {

  /** [[QueryModule.TsUs]], locally named for selectExpr interpolation. */
  private val TS_US = QueryModule.TsUs

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Cohort retention: users bucketed by first-seen date, counted when
    // they return exactly 0/1/7 days later. Cohort assignment is a
    // window min over (user_id, day)-deduped rows — ONE shuffle on
    // user_id, no self-join of the raw events — and after the dedup a
    // (user, cohort, offset) row is unique, so the final count is a
    // plain count, not a count-distinct shuffle.
    "ev_retention" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .select($"user_id", to_date($"ts_utc").as("d")).distinct()
        .withColumn("cohort_d", min($"d").over(Window.partitionBy($"user_id")))
        .withColumn("day_offset", datediff($"d", $"cohort_d"))
        .where($"day_offset".isin(0, 1, 7))
        .groupBy($"cohort_d", $"day_offset")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_d", "day_offset")
    }),

    // INCREMENTAL aggregate refresh: materialized-view
    // maintenance for ALGEBRAIC aggregates — the nightly-rollup
    // pattern. The base aggregate is STORED (staged to parquet here:
    // the stand-in for yesterday's materialization) and the refresh
    // scans ONLY the delta facts: one partial+final aggregate over the
    // new slice, then ONE key-level full-outer merge
    // (coalesce-and-add — count/sum are algebraic, so merging partials
    // ≡ recomputing) against the k-row stored table. Base facts are
    // never re-read — at 100 TB the refresh cost tracks the day's
    // delta, not corpus size (and the delta predicate becomes a
    // partition-pruned date filter on a date-partitioned layout; the
    // fixture's derived-column filter is the unpartitioned stand-in).
    // Sums ride decimal (exact, order-independent) and cast to double
    // once at the edge. Oracle = the FULL-table aggregate: the driver
    // proves merge-refresh ≡ full recompute.
    "ev_incr_refresh" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir).withColumn("ts_us", expr(TS_US))
      val b = ev.agg(min($"ts_us"), max($"ts_us")).head()
      val cutoff = b.getLong(0) + (b.getLong(1) - b.getLong(0)) * 2 / 3
      def aggOf(df: DataFrame): DataFrame = df.groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"value".cast("decimal(18,2)")).as("sv"))
      graft.sources.GraftSession.staged(s, "graft_incr_") { tmp =>
        aggOf(ev.where($"ts_us" < cutoff)).write.parquet(s"$tmp/base_agg")
        val stored = s.read.parquet(s"$tmp/base_agg")
          .select($"event_type", $"n".as("n_b"), $"sv".as("sv_b"))
        val delta = aggOf(ev.where($"ts_us" >= cutoff))
          .select($"event_type", $"n".as("n_d"), $"sv".as("sv_d"))
        val zero = lit(0).cast("decimal(18,2)")
        val out = stored.join(delta, Seq("event_type"), "full_outer")
          .select($"event_type",
            (coalesce($"n_b", lit(0L)) + coalesce($"n_d", lit(0L)))
              .as("n_events"),
            (coalesce($"sv_b", zero) + coalesce($"sv_d", zero))
              .cast("double").as("total_value"))
          .orderBy("event_type")
        out
      }
    }),

    // Tumbling 1-hour windows per event type. window() keeps the whole
    // agg in one shuffle; at scale the windows align with parquet
    // partition pruning on a date-partitioned layout.
    "ev_hourly" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy(window($"ts_utc", "1 hour").as("w"), $"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"value".cast("decimal(18,2)")).cast("double").as("total_value"))
        .select($"w.start".as("hour_start"), $"event_type", $"n", $"total_value")
        .orderBy("hour_start", "event_type")
    }),

    // Streaming face of ev_hourly, surfaced to the driver's correctness
    // gate: the same watermarked windowed aggregation that StreamingSpec
    // proves batch-equivalent, here drained end-to-end with
    // Trigger.AvailableNow (readStream over the events parquet → 2-hour
    // watermark → tumbling hourly agg → parquet files sink in APPEND
    // mode) and the sink read back as the result. Append mode emits a
    // window only once the watermark proves it final, so the result is
    // every window the final watermark (max event time − 2 h) passes —
    // the trailing windows it cannot yet finalize are exactly what a
    // resumed run would emit next, and the oracle encodes that horizon.
    // At scale this is the incremental-ingestion shape: a checkpointed
    // AvailableNow job processes new files and exits, no resident
    // cluster. The source is staged as 3 event-time slices consumed one
    // micro-batch each (maxFilesPerTrigger=1, hard-asserted), so the
    // watermark ADVANCES between batches, closing and emitting each
    // slice's finalized windows incrementally and evicting their state
    // — not one catch-all batch. The final watermark (and so the
    // emitted-window set, and the oracle) is identical to a single
    // drain: the horizon depends only on the global max event time.
    "ev_stream_hourly" -> ((s, dir) => {
      // hour_start leaves the watermark path as TIMESTAMP (watermarks
      // require it); cast back to ntz so the sink parquet's type matches
      // the batch reader's convention (UTC session ⇒ same wall clock).
      graft.streaming.EventStreams.withSplitEvents(s, dir, 3) { (src, nf) =>
        graft.streaming.EventStreams.drainAppend(s, "graft_ev_stream_",
            minBatches = nf)(c => graft.streaming.EventStreams.hourlyCounts(src(c)))
          .select(col("hour_start").cast("timestamp_ntz").as("hour_start"),
            col("event_type"), col("n"))
          .orderBy("hour_start", "event_type")
      }
    }),

    // LATE-DATA DROP semantics: the one watermark behavior no
    // in-order drain can exercise — rows arriving AFTER their window
    // closed. Four slices delivered 0, 3 (global max: the watermark
    // jumps to its final value), 2, 1: Spark's stateful operators
    // filter late rows with the PREVIOUS batch's watermark while
    // evicting with the current one (the SPARK-42376 two-watermark
    // model — measured here: a 3-slice 0,2,1 delivery drops NOTHING
    // because the post-jump batch is still admitted under the pre-jump
    // filter), so slice 2 is late-but-in-grace (merged and emitted)
    // and slice 1 — arriving once the filter watermark has caught up —
    // is DROPPED wholesale rather than double-emitted into finalized
    // windows. TWO witnesses: the in-path require checks the engine's
    // own accounting (numRowsDroppedByWatermark summed over the drain)
    // against the batch-computed expectation, and the oracle replays
    // the whole scenario in SQL — slice membership via the staging's
    // integer slice arithmetic, drops via the ms-precision
    // `window end <= watermark` predicate (boundary pinned by a
    // StreamingSpec test: end == wm IS dropped). The counter's unit is
    // itself a plan witness: the stateful operator sees POST-COMBINE
    // rows, so the expected count is the number of distinct late
    // (hour, event_type) GROUPS, not raw rows (measured 843 groups vs
    // 2480 rows at sf0.01) — map-side partial aggregation provably ran
    // before state. Exact equality holds because the staged slice is
    // one file ≪ maxPartitionBytes, i.e. one input split; a multi-
    // split slice would combine per split and overshoot.
    "ev_stream_late" -> ((s, dir) => {
      import s.implicits._
      graft.streaming.EventStreams.withLateEvents(s, dir) { (src, nf) =>
        val (out, dropped) =
          graft.streaming.EventStreams.drainAppendDropCounted(s,
            "graft_ev_late_", minBatches = nf)(
            c => graft.streaming.EventStreams.hourlyCounts(src(c)))
        val ev = Tables.events(s, dir).withColumn("ts_us", expr(TS_US))
        val b = ev.agg(min($"ts_us"), max($"ts_us")).head()
        val (tmin, tmax) = (b.getLong(0), b.getLong(1))
        val span = math.max(tmax - tmin + 1, 4L)
        val wmMs = tmax / 1000 - 7200000
        val expectedLate = ev
          .where($"ts_us" >= tmin + span / 4 &&
            $"ts_us" < tmin + span * 2 / 4)
          .where(expr(s"(ts_us div 3600000000 + 1) * 3600000 <= $wmMs"))
          .select(expr("ts_us div 3600000000").as("hr"), $"event_type")
          .distinct().count()
        require(dropped == expectedLate,
          s"ev_stream_late: engine dropped $dropped partial rows, batch " +
            s"replay expects $expectedLate late (hour, type) groups — " +
            "late accounting or the pre-state combine diverged")
        out.select(col("hour_start").cast("timestamp_ntz").as("hour_start"),
            col("event_type"), col("n"))
          .orderBy("hour_start", "event_type")
      }
    }),

    // STREAMING OBSERVABILITY: ev_stream_hourly's topology with
    // a `Dataset.observe()` SOURCE AUDIT riding the plan — rows
    // ingested and null-value count collected per micro-batch as
    // CollectMetrics (a zero-shuffle accumulator on the existing
    // scan; the way a production pipeline audits its source WITHOUT a
    // second pass), summed across batches by a push listener. The
    // in-path `require` makes the driver run witness the audit: the
    // observed source-row total must equal the table count — a
    // dropped-batch or double-read would surface HERE, not as a
    // downstream oracle diff. Output (and oracle) identical to
    // ev_stream_hourly: observation must not perturb the plan.
    "ev_stream_observe" -> ((s, dir) => {
      graft.streaming.EventStreams.withSplitEvents(s, dir, 3) { (src, nf) =>
        val (out, obs) = graft.streaming.EventStreams.drainAppendObserved(
            s, "graft_ev_obs_", "src_audit", minBatches = nf) { c =>
          graft.streaming.EventStreams.hourlyCounts(src(c).observe("src_audit",
            count(lit(1)).as("rows_seen"),
            sum(expr("CASE WHEN value IS NULL THEN 1 ELSE 0 END"))
              .as("null_values")))
        }
        val expected = Tables.events(s, dir).count()
        val seen = obs.getOrElse("rows_seen", -1L)
        require(seen == expected,
          s"ev_stream_observe: source audit saw $seen rows, table has " +
            s"$expected — a batch was dropped or double-read")
        out.select(col("hour_start").cast("timestamp_ntz").as("hour_start"),
            col("event_type"), col("n"))
          .orderBy("hour_start", "event_type")
      }
    }),

    // ev_stream_hourly's topology under a Trigger.ProcessingTime clock
    // (the one trigger path no AvailableNow drain can exercise):
    // a STANDING query whose micro-batches fire on wall-clock ticks,
    // with no-data batches advancing the watermark between ticks, and
    // the harness deciding quiescence + stopping the query — the
    // resident-cluster deployment shape. Emission horizon, and so the
    // oracle, is identical to ev_stream_hourly: the append horizon
    // depends only on the final watermark, not on which clock scheduled
    // the batches — the driver row proves exactly that equivalence.
    "ev_stream_ptime" -> ((s, dir) => {
      graft.streaming.EventStreams.withSplitEvents(s, dir, 3) { (src, nf) =>
        graft.streaming.EventStreams.drainProcessingTime(s,
            "graft_ev_ptime_", minBatches = nf)(
            c => graft.streaming.EventStreams.hourlyCounts(src(c)))
          .select(col("hour_start").cast("timestamp_ntz").as("hour_start"),
            col("event_type"), col("n"))
          .orderBy("hour_start", "event_type")
      }
    }),

    // Sliding windows: 2-hour length, 1-hour slide — each event lands in
    // exactly two windows (the oracle unions the two shifted buckets).
    "ev_sliding" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy(window($"ts_utc", "2 hours", "1 hour").as("w"), $"event_type")
        .agg(count(lit(1)).as("n"))
        .select($"w.start".as("win_start"), $"event_type", $"n")
        .orderBy("win_start", "event_type")
    }),

    // Sessionization with window functions: a session break is a gap
    // > 30 min between consecutive events of one user. Gap math on the
    // microsecond long (exact integers, no timestamp arithmetic).
    "ev_sessions" -> ((s, dir) => {
      import s.implicits._
      val byUser = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      Tables.events(s, dir)
        .withColumn("ts_us", expr(TS_US))
        .withColumn("gap_us", $"ts_us" - lag($"ts_us", 1).over(byUser))
        .withColumn("is_break", when($"gap_us" > 1800L * 1000 * 1000, 1L).otherwise(0L))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
          (sum($"is_break") + 1).as("n_sessions"))
        .orderBy("user_id")
    }),

    // Native session windows (30-minute gap), listing each session.
    "ev_session_window" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy($"user_id", session_window($"ts_utc", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select($"user_id", $"w.start".as("session_start"), $"n_events")
        .orderBy("user_id", "session_start")
    }),

    // Per-user value deltas (lag): the time-series diff shape. Deltas
    // are single subtractions of identical doubles — bit-exact, no
    // accumulation.
    "ev_value_delta" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      Tables.events(s, dir)
        .withColumn("ts_us", expr(TS_US))
        .withColumn("delta", $"value" - lag($"value", 1).over(w))
        .where($"delta".isNotNull && $"user_id" < 30)
        .select($"user_id", $"event_id", $"value", $"delta")
        .orderBy("user_id", "event_id")
    }),

    // Funnel: signups converted to a purchase within 7 days, counted by
    // signup day. Forward as-of via a reversed-order window (first
    // following purchase ts), not an inequality join.
    "ev_funnel" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .where($"event_type".isin("signup", "purchase"))
        .selectExpr("user_id", "event_id", s"$TS_US AS ts_us", "event_type",
          "ts_utc",
          s"CASE WHEN event_type = 'purchase' THEN $TS_US END AS purch_ts")
      val wFwd = Window.partitionBy($"user_id")
        .orderBy($"ts_us".desc, $"event_id".desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      ev.withColumn("next_purch_ts", last($"purch_ts", ignoreNulls = true).over(wFwd))
        .where($"event_type" === "signup")
        .groupBy(date_trunc("day", $"ts_utc").cast("timestamp_ntz").as("day"))
        .agg(count(lit(1)).as("signups"),
          count(when($"next_purch_ts" - $"ts_us" <= 7L * 86400 * 1000000, 1)).as("converted_7d"))
        .orderBy("day")
    }),

    // Fixed-width histogram of event values (10 × 50-unit buckets).
    // NULL values excluded on both sides: a NULL bucket would sort
    // NULLS FIRST in Spark but NULLS LAST in DuckDB, misaligning the
    // compare (latent on the fixtures — no NULL values — but kept total
    // for any corpus).
    "ev_histogram" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .where($"value".isNotNull)
        .withColumn("bucket", floor($"value" / 50).cast("long"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }),

    // Anomaly flagging: events above their type's p99 — the
    // aggregate-then-join-back shape (thresholds are a per-type scalar
    // table, broadcast back against the stream; at 100 TB the fact side
    // shuffles once for the percentile and once never — the flag join is
    // map-side). Threshold and values compared as e6-floored integers so
    // the boundary row lands identically on both engines (the exact
    // percentile parity is established by rel_percentiles).
    "ev_outliers" -> ((s, dir) => {
      import s.implicits._
      // feeds the threshold aggregation AND the flag join-back — persist
      // the two-column projection so the source scans once.
      val ev = Tables.events(s, dir)
        .where($"value".isNotNull)
        .select($"event_type", floor($"value" * 1000000).cast("long").as("v_e6"))
        .persist()
      val thresholds = ev.groupBy($"event_type")
        .agg(floor(expr("percentile(v_e6, 0.99)")).cast("long").as("p99_e6"))
      ev.join(broadcast(thresholds), Seq("event_type"))
        .groupBy($"event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(when($"v_e6" > $"p99_e6", 1L).otherwise(0L)).as("n_outliers"),
          max($"p99_e6").as("p99_e6"),
          max($"v_e6").as("max_e6"))
        .orderBy("event_type")
    }),

    // Trailing 1-hour moving aggregate per event: a RANGE frame over
    // event-time seconds (every other window in the suite is a ROWS
    // frame or a bucketed groupBy — a value-range frame is its own
    // executor path, WindowExec's range frame bound). Peers at the same
    // second share one frame by definition, so ties can't reorder the
    // result. All values ride as e6-floored integers: the frame sum is
    // exact and order-free on both engines. At 100 TB the frame is
    // bounded (1 h), so the partition key gains a coarse day bucket
    // with a 1-hour overlap replication at bucket edges — the standard
    // bounded-frame scale-out; the per-type partition here is the
    // fixture-size rendering of that.
    "ev_moving_agg" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"event_type").orderBy($"sec")
        .rangeBetween(-3600L, 0L)
      Tables.events(s, dir)
        .where($"value".isNotNull)
        .select($"event_id", $"event_type",
          expr(s"$TS_US div 1000000").as("sec"),
          floor($"value" * 1000000).cast("long").as("v_e6"))
        .withColumn("n_1h", count(lit(1)).over(w))
        .withColumn("sum_e6_1h", sum($"v_e6").over(w))
        .select($"event_id", $"event_type", $"sec", $"n_1h", $"sum_e6_1h")
        .orderBy("event_id")
    }),

    // Hourly resample + forward fill: aggregate to an epoch-hour grid,
    // join against the full (type × hour) spine so silent hours exist
    // as rows (n = 0), and carry the last observed hourly sum forward
    // with an IGNORE NULLS window. Gap-filling is the canonical
    // pre-step for time-series training data; the spine is generated
    // (sequence + explode), never collected, and the fill is one ROWS
    // window per type — the hourly table this runs on is already tiny
    // relative to the raw stream at any scale. Hours before a type's
    // first observation stay NULL on both engines.
    "ev_gap_fill" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select($"event_type", expr(s"$TS_US div 3600000000").as("hr"),
          floor($"value" * 1000000).cast("long").as("v_e6"))
      val hourly = ev.groupBy($"event_type", $"hr")
        .agg(count(lit(1)).as("n"), sum($"v_e6").as("sum_e6"))
      val bounds = ev.agg(min($"hr").as("mn"), max($"hr").as("mx"))
      val spine = ev.select($"event_type").distinct()
        .crossJoin(broadcast(bounds))
        .select($"event_type", explode(expr("sequence(mn, mx)")).as("hr"))
      val wFill = Window.partitionBy($"event_type").orderBy($"hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(hourly, Seq("event_type", "hr"), "left")
        .withColumn("filled_sum_e6",
          last($"sum_e6", ignoreNulls = true).over(wFill))
        .select($"event_type", $"hr", coalesce($"n", lit(0L)).as("n"),
          $"filled_sum_e6")
        .orderBy("event_type", "hr")
    }),

    // JSON property extraction (codegen'd path, no UDF).
    "ev_json" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .withColumn("k", get_json_object($"props", "$.k").cast("long"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
          min($"k").as("min_k"), max($"k").as("max_k"))
        .orderBy("event_type")
    }),

    // VARIANT SEMI-STRUCTURED EXTRACTION — the open-schema
    // ingestion shape ev_json's fixed-path get_json_object can't
    // cover: payloads whose SHAPE varies by row (fields present or
    // absent, nested arrays) parsed ONCE into Spark 4's binary
    // VARIANT type, then typed-path extraction (`variant_get` with a
    // target type, including an array index path) — no schema
    // declared anywhere, absent paths surface as typed NULLs that
    // aggregate away. The heterogeneous payloads are constructed
    // deterministically from fixture columns (purchase rows gain an
    // integer `amt`, error rows a one-element `code` array), so the
    // oracle rebuilds the identical strings and replays the paths
    // with its own JSON engine — cross-engine proof that the VARIANT
    // encode/decode round trip loses nothing. At 100 TB this is the
    // bronze-layer pattern: parse once at ingest, store the binary
    // variant, extract many times without re-tokenizing (the parse is
    // the expensive part; variant_get on the encoded form is not).
    "ev_variant" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .selectExpr("event_type",
          """parse_json(CASE
            |  WHEN event_type = 'purchase' THEN concat(
            |    '{"k": ', get_json_object(props, '$.k'),
            |    ', "amt": ', CAST(CAST(floor(value * 100) AS BIGINT) AS STRING), '}')
            |  WHEN event_type = 'error' THEN concat(
            |    '{"k": ', get_json_object(props, '$.k'),
            |    ', "code": [', CAST(event_id % 7 AS STRING), ']}')
            |  ELSE props END) AS v""".stripMargin)
        .selectExpr("event_type",
          "variant_get(v, '$.k', 'long') AS k",
          "variant_get(v, '$.amt', 'long') AS amt",
          "variant_get(v, '$.code[0]', 'long') AS code0")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"k").as("sum_k"),
          count($"amt").as("n_amt"), sum($"amt").as("sum_amt"),
          count($"code0").as("n_code"), sum($"code0").as("sum_code"))
        .orderBy("event_type")
    }),

    // Daily × event-type pivot (explicit value list so the output schema
    // is static; nulls from empty cells folded to 0).
    "ev_daily_pivot" -> ((s, dir) => {
      import s.implicits._
      val types = Seq("click", "error", "purchase", "signup", "view")
      val pivoted = Tables.events(s, dir)
        .groupBy(date_trunc("day", $"ts_utc").cast("timestamp_ntz").as("day"))
        .pivot("event_type", types)
        .count()
      types.foldLeft(pivoted)((df, t) =>
          df.withColumn(t, coalesce(col(t), lit(0L))))
        .orderBy("day")
    }),

    // CDC-style compaction: collapse an event log to the latest record
    // per (user, type) — the upsert/"keep newest version" shape every
    // changelog-to-snapshot pipeline needs. ONE shuffle as a plain
    // aggregate: max over struct(ts_us, event_id, value) picks the
    // newest row (event_id is unique, so `value` trails the comparison
    // and just rides along), and because it is an ordinary `max` it
    // gets map-side partial aggregation — at 100 TB the pre-shuffle
    // combine reduces each partition to one row per live key, which a
    // window row_number=1 formulation (sort the whole log) cannot do.
    "ev_compact_latest" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .withColumn("ts_us", expr(TS_US))
        .groupBy($"user_id", $"event_type")
        .agg(count(lit(1)).as("n_events"),
          max(struct($"ts_us", $"event_id", $"value")).as("m"))
        .select($"user_id", $"event_type",
          $"m.event_id".as("last_event_id"), $"m.ts_us".as("last_ts_us"),
          $"m.value".as("last_value"), $"n_events")
        .orderBy("user_id", "event_type")
    }),

    // Fifth driver-checked streaming row: the CHAINED two-level
    // stateful topology (hourly window agg re-windowed into a daily
    // rollup inside ONE streaming query — multiple stateful operators
    // in append mode). Emission semantics compose: a day emits once the
    // watermark (max event time − 2 h, ms precision) passes its end,
    // and by then every hour of that day has already flowed through the
    // first stage, so an emitted day always carries its full count —
    // the oracle is the batch daily aggregate restricted to fully
    // watermark-closed days.
    "ev_stream_daily" -> ((s, dir) => {
      // Split source (see ev_stream_hourly): the two chained stateful
      // operators both see the watermark advance batch-by-batch — the
      // hourly stage's emissions feed the daily stage incrementally.
      graft.streaming.EventStreams.withSplitEvents(s, dir, 3) { (src, nf) =>
        graft.streaming.EventStreams.drainAppend(s, "graft_ev_daily_",
            minBatches = nf)(c => graft.streaming.EventStreams.hourlyThenDaily(src(c)))
          .select(col("day").cast("timestamp_ntz").as("day"),
            col("event_type"), col("n"))
          .orderBy("day", "event_type")
      }
    }),

    // Fourth driver-checked streaming row: STREAM-STREAM self-join.
    // Clicks and purchases are two filters of the same unbounded events
    // scan; the inner join is time-bounded (purchase within 1 h of the
    // click) and both sides watermarked, so join state is evictable —
    // the only shape a stream-stream join survives at scale. Every
    // matched pair emits as soon as both sides are present, so the
    // AvailableNow drain's output is exactly the batch join; the result
    // aggregates to attributed-purchase counts per user and the oracle
    // is the equivalent batch self-join at MICROSECOND precision (the
    // streaming clock is the µs `ts` itself).
    "ev_stream_attrib" -> ((s, dir) => {
      import s.implicits._
      // One logical source, but the physical plan necessarily carries
      // TWO streaming scans of the staged files: each join side needs
      // its own watermark node, and a watermark is a property of a
      // scan's lineage — inherent to any stream-stream self-join, not a
      // missed reuse. Both scans list the same staged slices in the
      // same order, so batch k holds slice k on both sides; a click
      // whose purchase lands in a LATER slice matches cross-batch out
      // of join state (never late: slices are time-contiguous, and the
      // click can't have been evicted while a within-the-hour purchase
      // is still possible — eviction needs watermark > click + 1 h,
      // which implies any remaining match would be late itself). State
      // for pairs the advancing watermark has passed evicts batch by
      // batch instead of all at the end.
      graft.streaming.EventStreams.withSplitEvents(s, dir, 3) { (src, nf) =>
        graft.streaming.EventStreams.drainAppend(s, "graft_ev_attrib_",
            minBatches = nf) { c =>
          val ev = src(c)
          graft.streaming.EventStreams.attributePurchases(
            ev.where($"event_type" === "click"),
            ev.where($"event_type" === "purchase"))
        }
          .groupBy($"click_user".as("user_id"))
          .agg(count(lit(1)).as("n_attributed"))
          .orderBy("user_id")
      }
    }),

    // Third driver-checked streaming row: closed-session emission via
    // flatMapGroupsWithState + EVENT-TIME TIMEOUT (the custom-state API
    // at its trickiest), drained with AvailableNow to a parquet sink.
    // A session row is emitted exactly once — inline when a later event
    // from the same user arrives past the 30 min gap, or by timeout
    // when the final watermark (max event time − 10 min lateness, ms
    // precision) passes lastEvent + gap. The oracle reproduces both
    // rules on top of a batch gap-sessionization: every non-final
    // session per user, plus the final one iff its timeout timestamp is
    // strictly below the final watermark (Spark fires event-time
    // timeouts on timeoutTs < watermark).
    // Split source: sessions now open in one micro-batch and extend or
    // time out in LATER ones. A mid-run timeout can never split a
    // session the batch oracle would join: the timeout fires only when
    // the watermark (maxts of earlier slices − 10 min) passes
    // lastEvent + 30 min, and every future slice's events sit at/above
    // that maxts — so their gap to lastEvent provably exceeds 30 min
    // and they'd start a new session anyway. The emitted set therefore
    // equals the single-batch run's; what changes is that the
    // timeout/eviction machinery actually runs between batches.
    "ev_stream_sessions" -> ((s, dir) => {
      import s.implicits._
      graft.streaming.EventStreams.withSplitEvents(s, dir, 3) { (src, nf) =>
        graft.streaming.EventStreams.drainAppend(s, "graft_ev_sess_",
            minBatches = nf) { c =>
          graft.streaming.EventStreams.closedSessions(src(c)
            .selectExpr("user_id AS userId", s"$TS_US AS tsUs",
              "event_type AS eventType")
            .as[graft.streaming.Ev]).toDF()
        }
          .select($"userId".as("user_id"), $"startUs".as("start_us"),
            $"endUs".as("end_us"), $"nEvents".as("n_events"))
          .orderBy("user_id", "start_us")
      }
    }),

    // Streaming face of ev_compact_latest, surfaced to the driver: the
    // mapGroupsWithState CDC snapshot (EventStreams.latestState) drained
    // with Trigger.AvailableNow. Update-mode output can't go straight to
    // a files sink, so the query uses the production pattern for
    // changelog-to-files: foreachBatch appends each micro-batch's
    // refreshed snapshots to parquet, and the read-back compacts the
    // changelog to its final row per key. nEvents strictly grows across
    // a key's emissions (a key only re-emits when new events arrived),
    // so max-over-struct(nEvents, ...) picks each key's newest snapshot
    // regardless of how the source was micro-batched — the result is
    // batch-identical by construction, and the oracle is the SAME SQL
    // as ev_compact_latest.
    // Split source: keys re-emit refreshed snapshots across SEVERAL
    // micro-batches (the changelog now carries multiple generations
    // per key), and the max-over-struct compaction is what proves the
    // newest wins regardless of which batch emitted it.
    "ev_stream_compact" -> ((s, dir) => {
      import s.implicits._
      graft.streaming.EventStreams.withSplitEvents(s, dir, 3) { (src, nf) =>
      graft.streaming.EventStreams.drainUpdate(s, "graft_ev_cdc_",
          minBatches = nf) { c =>
        graft.streaming.EventStreams.latestState(src(c)
          .selectExpr("user_id AS userId", "event_id AS eventId",
            s"$TS_US AS tsUs", "event_type AS eventType", "value")
          .as[graft.streaming.EvRec]).toDF()
      }
        .groupBy($"userId", $"eventType")
        .agg(max(struct($"nEvents", $"lastTsUs", $"lastEventId", $"lastValue"))
          .as("m"))
        .select($"userId".as("user_id"), $"eventType".as("event_type"),
          $"m.lastEventId".as("last_event_id"), $"m.lastTsUs".as("last_ts_us"),
          $"m.lastValue".as("last_value"), $"m.nEvents".as("n_events"))
        .orderBy("user_id", "event_type")
      }
    }),

    // Streaming MERGE-INTO-TARGET upsert, driver-checked: the
    // SINK-side sibling of ev_stream_compact. Compact keeps latest-
    // per-key in ENGINE STATE and appends a changelog the reader must
    // compact; here the streaming query is STATELESS and foreachBatch
    // MERGEs each micro-batch into a keyed files TARGET, batchId-
    // versioned write-once (EventStreams.drainMergeTarget) — the sink
    // IS the queryable compacted table after every batch, the
    // materialized-view-over-files production pattern. The source
    // stages every slice TWICE (at-least-once re-delivery), so the
    // oracle ALSO witnesses that latest-wins merge absorbs duplicate
    // delivery without an engine dedup state. No n_events column on
    // purpose: a count is NOT re-delivery-idempotent (it double-counts
    // what the merge absorbs) — the honest target under at-least-once
    // carries only latest-wins fields.
    "ev_stream_upsert" -> ((s, dir) => {
      import s.implicits._
      // filesPerTrigger=2: same staggered-redeliver pairing as
      // ev_stream_dedup — copies still land in later batches, so the
      // merge still absorbs CROSS-BATCH duplicate delivery, in 3
      // batches (3 MERGE rounds) instead of 6.
      graft.streaming.EventStreams.withSplitEvents(s, dir, 3,
          redeliver = true, filesPerTrigger = 2) { (src, nf) =>
        graft.streaming.EventStreams.drainMergeTarget(
            s, "graft_ev_upsert_", Seq("user_id", "event_type"),
            minBatches = nf)(c => src(c).selectExpr("user_id", "event_type",
              s"struct($TS_US AS ts_us, event_id, value) AS m"))
          .select($"user_id", $"event_type",
            $"m.event_id".as("last_event_id"), $"m.ts_us".as("last_ts_us"),
            $"m.value".as("last_value"))
          .orderBy("user_id", "event_type")
      }
    }),

    // STREAMING VERSIONED-TABLE COMMITS: each micro-batch is an
    // APPEND COMMIT through the operators.VersionedTable protocol —
    // version = batchId, the batch's files plus the carried-forward
    // prior manifest, published by one atomic conditional create. The
    // exactly-once mechanism itself: a RETRIED batch's publish hits
    // the version-collision conflict and is skipped, so replay can
    // never double-append (the streaming-sink txn-version pattern
    // real table formats use); a crash before publish leaves only
    // invisible orphan files. The drain's in-path witnesses require
    // the committed history to be exactly one version per data batch
    // with strictly growing row counts — the table's history IS the
    // stream's batch history, time-travelable to "after batch k".
    // Stateless query (append-only publishing needs no watermark or
    // state store); the final version must be the events table exactly
    // once — the oracle is the raw projection.
    "ev_stream_commit" -> ((s, dir) => {
      import s.implicits._
      graft.streaming.EventStreams.withSplitEvents(s, dir, 3) { (src, nf) =>
        graft.streaming.EventStreams.drainVersionedCommits(
            src(s).selectExpr("event_id", "user_id", "event_type", "value"),
            "graft_ev_vcommit_", minBatches = nf)
          .orderBy("event_id")
      }
    }),

    // STREAMING CHANGE FEED over the versioned table — the
    // CONSUMER half ev_stream_commit's producer leaves open, served by
    // the engine's own DSv2 MicroBatchStream (`graft-changes`):
    // offsets are COMMIT VERSIONS, admission control serves one
    // micro-batch per commit (hard-asserted), work discovery reads
    // only the commit's delta manifest lines (O(commit), never a
    // table diff), and Spark's offset log makes the feed resumable —
    // a commit landing between the two checkpointed drains is served
    // exactly once by the second (progress-counter-asserted, the
    // ev_stream_incr pattern). Rows carry `_commit_version`, so the
    // oracle reconstructs the whole feed: which rows arrived AND in
    // which commit. This is what turns the commit protocol into a
    // pipeline backbone — downstream jobs tail the table instead of
    // rescanning it.
    "ev_stream_cdf" -> ((s, dir) => {
      import s.implicits._
      graft.streaming.EventStreams.commitFeedDrain(s, dir)
        .orderBy("_commit_version", "doc_id")
    }),

    // FULL CHANGE FEED over the versioned table — ev_stream_cdf's
    // append feed upgraded to serve DELETE commits too
    // (readChangeFeed=true, the Delta option of the same name): a
    // history with a merge-on-read DV delete drains as typed rows —
    // inserts carry data, deletes carry only their key — one
    // micro-batch per commit (hard-asserted). The in-path gate proves
    // mirror sufficiency: applying the feed (inserts minus later
    // deletes per key, in commit order) reproduces the table's own
    // latest read EXACTLY, including the key a later append
    // re-inserted (sequence-number scoping through the stream). This
    // is the consumer contract that lets a downstream system maintain
    // a row-level replica from the commit log alone — the full CDC
    // loop: exactly-once producer (ev_stream_commit), append feed
    // (ev_stream_cdf), and now deletes.
    "ev_stream_cdf_full" -> ((s, dir) => {
      import s.implicits._
      graft.streaming.EventStreams.changeFeedDrain(s, dir)
        .orderBy("_commit_version", "_change_type", "doc_id")
    }),

    // UPDATE/COMPACT CHANGE FEED — the rewrite commits the feed
    // used to hard-fail on, served via their KIND annotations: a
    // KIND=update commit (stats-pruned copy-on-write UPDATE) replays
    // its rewritten file as update_preimage (old rows) +
    // update_postimage (new rows) in ONE micro-batch, and a
    // KIND=compact commit (content-preserving OPTIMIZE,
    // dataChange=false) drains as an EMPTY batch — zero rows served,
    // offset advanced, progress-counter-witnessed — instead of
    // forcing the downstream full-restart every raw rewrite still
    // forces. A checkpoint-resumed second drain serves a later append
    // alone (the offset moved cleanly past both rewrites), and the
    // in-path mirror gate proves the feed stays sufficient: applying
    // it (inserts, delete-preimage-keys + insert-postimage per
    // update, in commit order) reproduces the table's latest read
    // exactly. This closes the CDC loop over DML: at 100 TB a mirror
    // must survive UPDATE and OPTIMIZE on the source table without
    // restarting from a snapshot.
    "ev_stream_cdf_update" -> ((s, dir) => {
      import s.implicits._
      graft.streaming.EventStreams.cdfUpdateDrain(s, dir)
        .orderBy("_commit_version", "_change_type", "doc_id")
    }),

    // Streaming exactly-once dedup, driver-checked: every source slice
    // is staged TWICE (a byte-identical copy one file later — the
    // at-least-once re-delivery every ingestion pipeline must
    // tolerate), so with maxFilesPerTrigger=1 each row's re-delivery
    // arrives in a LATER micro-batch and is dropped CROSS-BATCH: out of
    // dedup state if its id is still inside the 1 h watermark horizon,
    // or by the watermark's late filter if the horizon has already
    // passed it (the re-delivered slice spans hours, so both paths
    // run). State is the id set within the horizon, evicted as the
    // watermark advances between batches — bounded on an unbounded
    // stream where a plain dropDuplicates' state would grow forever.
    // Either drop path removes exactly the duplicates, so the result is
    // the original table: the oracle is the raw projection.
    "ev_stream_dedup" -> ((s, dir) => {
      import s.implicits._
      // statePartitions=8, not the drain default 2: dedup state is one
      // row PER EVENT ID in the watermark horizon (~10^5 at sf0.1 — by
      // far the largest state in the suite), so its commit cost is
      // per-row, not per-partition-constant, and parallelism wins.
      // rocksdb=true for the same reason: this is the suite's one
      // DATA-SIZED state row — exactly the shape that outgrows the
      // default heap-backed store first at 100 TB — so it runs on the
      // at-scale provider (off-heap RocksDB state, changelog-style
      // commits) and the driver's oracle proves the provider swap is
      // semantics-preserving. Every RocksDB drain also runs
      // CHANGELOG CHECKPOINTING (EventStreams.stateConf sets it): each
      // batch commits its O(batch) changelog instead of a full
      // O(state) snapshot — the dominant per-batch term for this
      // drain. DrainProfile (sf0.1, 3 reps interleaved):
      // dedup rocksdb 3.55/3.57/4.45 s vs heap 3.17/3.24/3.76 s —
      // the provider gap is down to the per-row JNI write cost, with
      // the snapshot upload off the commit path.
      // filesPerTrigger=2: the staggered staging
      // keeps every re-delivery in a LATER batch than its original at
      // two files per trigger, so the cross-batch dedup property is
      // exercised in 3 data batches instead of 6 — halving the
      // per-batch RocksDB commit constant that dominated this drain
      // (DrainProfile: ~0.4-0.6 s/batch at this state size). Both
      // drop paths still run: copies of the last slice's final hour
      // are still inside the watermark horizon (dedup STATE drops
      // them), everything older is late-filtered.
      graft.streaming.EventStreams.withSplitEvents(s, dir, 3,
          redeliver = true, filesPerTrigger = 2) { (src, nf) =>
        graft.streaming.EventStreams.drainAppend(s, "graft_ev_dedup_",
            statePartitions = 8, minBatches = nf, rocksdb = true)(
            c => graft.streaming.EventStreams.dedupEvents(src(c)))
          .select($"event_id", $"user_id", $"event_type", $"value")
          .orderBy("event_id")
      }
    }),

    // Stream-static join, driver-checked (the third cell of the join
    // matrix next to batch-batch and stream-stream): live events
    // enriched against a STATIC customer-segment dim, planned per
    // micro-batch as an ordinary batch relation — no state store, and
    // under the broadcast threshold the stream side never shuffles. The
    // dim keeps only every third customer so the left join's
    // null-extension is actually exercised; the post-drain rollup
    // counts events and distinct users per segment, unmatched bucketed
    // as '(unmatched)' (explicit label: a NULL group would sort
    // NULLS FIRST in Spark but NULLS LAST in DuckDB).
    "ev_stream_enrich" -> ((s, dir) => {
      import s.implicits._
      val dim = Tables.customer(s, dir)
        .where($"c_custkey" % 3 === 0)
        .select($"c_custkey".as("user_id"), $"c_mktsegment".as("segment"))
      // Split source: the static dim is re-planned (and re-broadcast)
      // against EACH micro-batch — the per-batch planning that defines
      // a stream-static join, visible only with >1 batch.
      graft.streaming.EventStreams.withSplitEvents(s, dir, 3) { (src, nf) =>
        graft.streaming.EventStreams.drainAppend(s, "graft_ev_enrich_",
            minBatches = nf)(
            c => graft.streaming.EventStreams.enrichWithUsers(src(c), dim))
          .groupBy(coalesce($"segment", lit("(unmatched)")).as("segment"))
          .agg(count(lit(1)).as("n"), countDistinct($"user_id").as("n_users"))
          .orderBy("segment")
      }
    }),

    // Checkpoint-resume made driver-visible: two AvailableNow drains of
    // one file-source query against a single persistent checkpoint, a
    // new source file dropped in between. The helper hard-asserts (via
    // the streaming progress counters) that the second drain ingested
    // ONLY the new file — the incremental-ingestion property itself,
    // not just its output — and returns the union of both drains, which
    // must equal the batch table. See EventStreams.incrementalDrain.
    "ev_stream_incr" -> ((s, dir) => {
      graft.streaming.EventStreams.incrementalDrain(s, dir)
        .orderBy("event_id")
    }),

    // STREAMING SINK INTO THE VERSIONED TABLE — writeStream
    // .format("graft-table"): the exactly-once producer as a native V2
    // StreamingWrite (version = epoch + 1, replay skips at the
    // putIfAbsent commit point), two-drain checkpoint-resume, each
    // data epoch one atomic commit. See EventStreams.sinkDrain for the
    // in-path requires; the oracle proves the drained table IS the
    // events table, exactly once.
    "ev_stream_sink" -> ((s, dir) =>
      graft.streaming.EventStreams.sinkDrain(s, dir)),

    // END-TO-END PIPELINE — both V2 connectors CHAINED through a
    // stateful operator in ONE streaming query: versioned source table
    // (3 time-sliced commits) → graft-changes feed (one micro-batch
    // per commit, hard-asserted — the watermark advances between
    // commits and closes windows incrementally) → watermarked hourly
    // count+sum (append mode) → graft-table exactly-once sink (each
    // emitting epoch its own atomic commit). The composition that
    // makes the commit protocol a PIPELINE backbone: upstream
    // publishes atomic versions, the feed replays them as batch
    // history, stateful streaming folds them, the result lands
    // downstream exactly once — no foreachBatch glue, no side tables.
    // Oracle: the horizon-bounded hourly aggregate (slices partition
    // the table, so the final watermark is the global one).
    "ev_stream_pipeline" -> ((s, dir) =>
      graft.streaming.EventStreams.pipelineDrain(s, dir)),

    // Streaming sink into a PARTITIONED graft table: each
    // micro-batch routes rows to event_type=… files, the sink gets
    // manifest partition pruning from its first epoch (witnessed:
    // segment paths, several values, a value predicate scans exactly
    // its files + the zero-row bootstrap). Oracle = the per-type
    // rollup over the source events — the partitioned drain must
    // lose or double nothing.
    "ev_stream_partitioned" -> ((s, dir) =>
      graft.streaming.EventStreams.partitionedSinkDrain(s, dir)),

    // LEFT-OUTER stream-stream join, driver-checked: same time-bounded
    // click→purchase attribution as ev_stream_attrib, but never-
    // converted clicks ALSO emit (null purchase columns) once the
    // watermark proves no matching purchase can still arrive. A click
    // expires when the global watermark W (min over both sides of
    // max-event-ms − 1 h) passes the end of its match window
    // (click_ts + 1 h) — only then is the null row emitted, so the
    // oracle restricts the unmatched side to watermark-expired clicks.
    // Per user the rollup counts attributed pairs vs expired clicks.
    "ev_stream_funnel" -> ((s, dir) => {
      import s.implicits._
      // Split source: expired-click null rows now emit INCREMENTALLY as
      // the watermark passes each click's match window between batches
      // (a single batch emits them all at the end). The emitted set is
      // unchanged — expiry depends only on the final watermark — so the
      // oracle is identical; what multi-batch adds is the actual
      // interleaving of match-state insertion, cross-batch matching and
      // watermark-driven eviction.
      graft.streaming.EventStreams.withSplitEvents(s, dir, 3) { (src, nf) =>
        graft.streaming.EventStreams.drainAppend(s, "graft_ev_funnel_",
            minBatches = nf) { c =>
          val ev = src(c)
          graft.streaming.EventStreams.attributePurchases(
            ev.where($"event_type" === "click"),
            ev.where($"event_type" === "purchase"),
            "left_outer")
        }
          .groupBy($"click_user".as("user_id"))
          .agg(count($"purch_user").as("n_attributed"),
            sum(when($"purch_user".isNull, 1L).otherwise(0L)).as("n_expired"))
          .orderBy("user_id")
      }
    }),

    // FULL-OUTER stream-stream join — the last cell of the
    // streaming join matrix (inner: ev_stream_attrib; left-outer:
    // ev_stream_funnel): BOTH unmatched sides emit null-padded rows
    // once the watermark proves their match window closed. The two
    // sides expire on DIFFERENT bounds, both derived from the join
    // condition: a click's window is [click_ts, click_ts + 1 h], so
    // its null row emits when W passes click_ts + 1 h; a purchase can
    // only match clicks at or before it, so its null row emits as
    // soon as W passes purch_ts itself. The oracle replays both
    // bounds against the final watermark (min over both sides of
    // max-event-ms − 1 h). Per user the rollup counts matched pairs,
    // expired clicks, and expired purchases — the conversion ledger
    // BOTH ways (which purchases had no attributable click is the
    // fraud/debug side left-outer cannot see).
    "ev_stream_fulljoin" -> ((s, dir) => {
      import s.implicits._
      graft.streaming.EventStreams.withSplitEvents(s, dir, 3) { (src, nf) =>
        graft.streaming.EventStreams.drainAppend(s, "graft_ev_fullj_",
            minBatches = nf) { c =>
          val ev = src(c)
          graft.streaming.EventStreams.attributePurchases(
            ev.where($"event_type" === "click"),
            ev.where($"event_type" === "purchase"),
            "full_outer")
        }
          .groupBy(coalesce($"click_user", $"purch_user").as("user_id"))
          .agg(
            sum(when($"click_user".isNotNull && $"purch_user".isNotNull,
              1L).otherwise(0L)).as("n_attributed"),
            sum(when($"purch_user".isNull, 1L).otherwise(0L))
              .as("n_expired_clicks"),
            sum(when($"click_user".isNull, 1L).otherwise(0L))
              .as("n_expired_purchases"))
          .orderBy("user_id")
      }
    }),

    // STATEFUL checkpoint-resume, driver-checked: ev_stream_incr proves
    // the file source resumes incrementally; this row proves OPERATOR
    // STATE survives the restart. Two AvailableNow drains of the
    // watermarked hourly aggregation against one checkpoint, the events
    // split at a mid-hour EVENT-TIME cut in between — the cut hour's
    // window gets rows from both drains, so its count is only right if
    // drain 2 restored drain 1's open-window state (and the watermark)
    // from the checkpoint. Result = the same append-emission horizon as
    // the single-drain ev_stream_hourly; same oracle.
    "ev_stream_incr_agg" -> ((s, dir) => {
      graft.streaming.EventStreams.incrementalAggDrain(s, dir)
        .select(col("hour_start").cast("timestamp_ntz").as("hour_start"),
          col("event_type"), col("n"))
        .orderBy("hour_start", "event_type")
    }),

    // Running-snapshot sessionization (mapGroupsWithState, NoTimeout —
    // the custom-state API's simplest shape, vs closedSessions' timeout
    // emission) drained through the update-mode changelog: per-user
    // (nSessions, nEvents) snapshots appended per trigger, compacted to
    // each user's final snapshot on read-back (nEvents grows
    // monotonically, so max-over-struct picks it). The state fold needs
    // per-user time order ACROSS batches; the split source guarantees
    // it by construction (slices partition the stream by event time, so
    // each batch's rows all follow the previous batch's) — a designed
    // invariant, not a single-batch arrival-order accident. Within a
    // batch the fold sorts. Final snapshot therefore equals the batch
    // gap-sessionization — same oracle family as ev_sessions.
    "ev_stream_sessionize" -> ((s, dir) => {
      import s.implicits._
      graft.streaming.EventStreams.withSplitEvents(s, dir, 3) { (src, nf) =>
        // RocksDB provider: this drain's state GROWS per key for
        // the whole run (mapGroupsWithState, NoTimeout — one snapshot
        // entry per user, never evicted), which is exactly the state
        // class that outgrows heap snapshots at 100 TB; running it on
        // RocksDB makes the suite witness per-key-growing custom state
        // on the production provider, not just the dedup drain's
        // per-row state. Oracle unchanged — the provider is pure
        // configuration (DrainProfile A/B: heap 1.57 s vs RocksDB
        // 1.74 s min-of-3 on this exact shape at sf0.1 — the ~0.2 s
        // constant is the changelog/SST machinery, the price of state
        // that no longer lives on the JVM heap).
        graft.streaming.EventStreams.drainUpdate(s, "graft_ev_sessz_",
            minBatches = nf, rocksdb = true) { c =>
          graft.streaming.EventStreams.sessionize(src(c)
            .selectExpr("user_id AS userId", s"$TS_US AS tsUs",
              "event_type AS eventType")
            .as[graft.streaming.Ev]).toDF()
        }
          .groupBy($"userId")
          .agg(max(struct($"nEvents", $"nSessions")).as("m"))
          .select($"userId".as("user_id"), $"m.nEvents".as("n_events"),
            $"m.nSessions".as("n_sessions"))
          .orderBy("user_id")
      }
    }),

    // STREAM-to-SCD2 TEMPORAL JOIN: point-in-time enrichment —
    // each streamed view event joins the dimension VERSION that was
    // valid at its event time (feature-store PIT correctness: the
    // enrichment must never read a future version). The dimension is
    // the SCD2 intervalization of the user's purchases (lead() closes
    // versions — the ev_scd2 shape); the stream side is a STATELESS
    // stream-static inner join, so every micro-batch broadcasts the
    // dim and appends immediately — no state, no watermark, the shape
    // that scales to any stream rate. Interval semantics are exact µs
    // longs: [valid_from, valid_to) half-open, so a view at a version
    // boundary lands in the newer version on both engines, and an
    // empty interval (two purchases at one instant) can never match.
    "ev_stream_scd_join" -> ((s, dir) => {
      import s.implicits._
      val wp = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      val dim = Tables.events(s, dir).where($"event_type" === "purchase")
        .withColumn("ts_us", expr(TS_US))
        .select($"user_id".as("d_user"), $"ts_us".as("valid_from"),
          lead($"ts_us", 1).over(wp).as("valid_to"),
          row_number().over(wp).as("version"), $"value".as("d_value"))
      graft.streaming.EventStreams.withSplitEvents(s, dir, 3) { (src, nf) =>
        graft.streaming.EventStreams.drainAppend(s, "graft_ev_scdj_",
            minBatches = nf) { c =>
          src(c).where($"event_type" === "view")
            .selectExpr("user_id", "event_id", s"$TS_US AS v_ts")
            .join(broadcast(dim),
              $"user_id" === $"d_user" && $"v_ts" >= $"valid_from" &&
                ($"valid_to".isNull || $"v_ts" < $"valid_to"))
            .select($"user_id", $"event_id", $"version", $"d_value")
        }
          .groupBy($"user_id", $"version")
          .agg(count(lit(1)).as("n_views"), max($"d_value").as("version_value"))
          .orderBy("user_id", "version")
      }
    }),

    // transformWithState: Spark 4's NEW arbitrary-state API —
    // the successor to mapGroupsWithState — driven end-to-end: per-user
    // MapState[type → count] composite state (entry-wise updates,
    // where the old API rewrites one whole value blob per key per
    // batch), RocksDB provider REQUIRED by the API (state built to
    // live off-heap), update-mode changelog drained through the files
    // sink and compacted max-per-key on read-back (counts are
    // monotone). Oracle: the plain batch (user, type) count — the new
    // state machinery must reproduce exactly what the shuffle
    // aggregate computes.
    "ev_stream_tws" -> ((s, dir) => {
      import s.implicits._
      graft.streaming.EventStreams.withSplitEvents(s, dir, 3) { (src, nf) =>
        graft.streaming.EventStreams.drainUpdate(s, "graft_ev_tws_",
            minBatches = nf, rocksdb = true) { c =>
          graft.streaming.EventStreams.typeCounts(src(c)
            .selectExpr("user_id AS userId", s"$TS_US AS tsUs",
              "event_type AS eventType")
            .as[graft.streaming.Ev]).toDF()
        }
          .groupBy($"userId", $"eventType")
          .agg(max($"n").as("n"))
          .select($"userId".as("user_id"), $"eventType".as("event_type"), $"n")
          .orderBy("user_id", "event_type")
      }
    }),

    // SCD TYPE-2 history build: intervalize a keyed changelog
    // into [valid_from, valid_to) versions — the warehouse-history
    // sibling of ev_compact_latest (which keeps only the newest row;
    // SCD2 keeps every version with its validity interval). ONE window
    // per (user, type) key: lead(ts) closes each version, row_number
    // stamps it, the open version (valid_to NULL) is current. No join,
    // no self-join on "next change" — the window rides a single
    // shuffle on the key, so at 100 TB this is one exchange of narrow
    // columns and a partition-local sort, the same cost class as any
    // keyed window. Interval math stays on the exact µs long clock.
    // user_id < 40 bounds the driver compare; the plan is
    // restriction-independent.
    "ev_scd2" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id", $"event_type")
        .orderBy($"ts_us", $"event_id")
      Tables.events(s, dir)
        .withColumn("ts_us", expr(TS_US))
        .where($"user_id" < 40)
        .withColumn("version", row_number().over(w))
        .withColumn("valid_to_us", lead($"ts_us", 1).over(w))
        .select($"user_id", $"event_type", $"version", $"event_id",
          $"value", $"ts_us".as("valid_from_us"), $"valid_to_us",
          $"valid_to_us".isNull.as("is_current"))
        .orderBy("user_id", "event_type", "version")
    }),

    // BEHAVIOR-FLOW TRANSITION MATRIX: per-user adjacent
    // event-type transitions (the Markov chain behind every Sankey /
    // user-flow dashboard) plus each transition's share of its source
    // state's outgoing edges in exact ppm. One keyed window (lead over
    // the per-user total order) + one aggregate + one windowed total
    // per source state — the shuffle count stays at two regardless of
    // corpus size, and nothing ever sorts globally.
    "ev_transitions" -> ((s, dir) => {
      import s.implicits._
      val byUser = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      val wSrc = Window.partitionBy($"from_type")
      Tables.events(s, dir)
        .withColumn("ts_us", expr(TS_US))
        .withColumn("next_type", lead($"event_type", 1).over(byUser))
        .where($"next_type".isNotNull)
        .groupBy($"event_type".as("from_type"), $"next_type".as("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share_ppm",
          expr("n * 1000000L div sum(n) OVER (PARTITION BY from_type)"))
        .orderBy("from_type", "to_type")
    }),

    // A/B EXPERIMENT READOUT: Welch's t statistic per event type
    // between two deterministic variants (user_id parity — the hash-
    // split every experimentation system uses). The rel_corr_matrix
    // determinism policy applied to hypothesis testing: ONE scan, one
    // partial+final aggregate of EXACT decimal sufficient statistics
    // (n, Σx, Σx² per variant, conditional aggregates pivoting both
    // variants into one row — no join, no second pass), then mean/
    // variance/t as a scalar double expression over identical inputs,
    // round(6) for rendering (the rel_corr_matrix policy: DuckDB's
    // int128-decimal→double cast can land 1 ulp apart, double-rounded, from
    // Java's single-step BigDecimal conversion once Σx²'s integer
    // representation exceeds 2^53 — observed at sf0.01 — and the
    // 6-decimal rendering absorbs exactly that class of divergence).
    // Adding a variant adds columns, not scans.
    "ev_abtest" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .where($"value".isNotNull)
        .select($"event_type", ($"user_id" % 2).as("v"),
          $"value".cast("decimal(18,6)").as("x"))
        .groupBy($"event_type")
        .agg(
          count(when($"v" === 0, 1)).as("n_a"),
          count(when($"v" === 1, 1)).as("n_b"),
          sum(when($"v" === 0, $"x")).as("sx_a"),
          sum(when($"v" === 1, $"x")).as("sx_b"),
          sum(when($"v" === 0, $"x" * $"x")).as("sxx_a"),
          sum(when($"v" === 1, $"x" * $"x")).as("sxx_b"))
        .selectExpr("event_type", "n_a", "n_b",
          "round(CAST(sx_a AS DOUBLE) / n_a, 6) AS mean_a",
          "round(CAST(sx_b AS DOUBLE) / n_b, 6) AS mean_b",
          "round((CAST(sx_a AS DOUBLE) / n_a - CAST(sx_b AS DOUBLE) / n_b) / " +
            "sqrt(((CAST(sxx_a AS DOUBLE) - CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE) / n_a) / (n_a - 1)) / n_a + " +
            "((CAST(sxx_b AS DOUBLE) - CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE) / n_b) / (n_b - 1)) / n_b), 6) AS t_stat")
        .orderBy("event_type")
    }),

    // STREAMING SKETCH MAINTENANCE — the HLL family's streaming
    // face: per-event-type user sketches maintained INCREMENTALLY by a
    // running (unwindowed, update-mode) streaming aggregate across
    // micro-batches, drained as a changelog and compacted to each
    // group's final emission (per-group row count strictly grows per
    // re-emission, so max-n picks it — the ev_stream_compact rule).
    // The claim gated in-path is the one that makes sketches the right
    // 100-TB architecture: register-max merge is associative and
    // order-independent, so the incrementally-maintained sketch must
    // yield the IDENTICAL estimate to a from-scratch batch rebuild —
    // exact equality, not a bound. One subtlety makes this precise
    // (caught live at sf0.1): DataSketches picks its estimator (HIP vs
    // composite) from the sketch's merge HISTORY, not its registers —
    // a direct-updated sketch keeps the HIP accumulator, a unioned one
    // drops it — and stream-vs-batch merge trees can land on different
    // sides of that flag (observed: 1488 vs 1480 on identical
    // registers). Both paths therefore read the estimate through a
    // SELF-UNION, which deterministically pins the composite
    // estimator; the estimate is then a pure function of register
    // state and exact equality is the honest invariant.
    "ev_stream_hll" -> ((s, dir) => {
      import s.implicits._
      graft.streaming.EventStreams.withSplitEvents(s, dir, 3) { (src, nf) =>
        val log = graft.streaming.EventStreams.drainUpdate(
            s, "graft_ev_hll_", minBatches = nf) { c =>
          src(c).groupBy($"event_type")
            .agg(hll_sketch_agg($"user_id", 12).as("sk"),
              count(lit(1)).as("n"))
        }
        val w = Window.partitionBy($"event_type").orderBy($"n".desc)
        val out = log
          .withColumn("rk", row_number().over(w))
          .where($"rk" === 1)
          .select($"event_type", $"n".as("n_events"),
            hll_sketch_estimate(hll_union($"sk", $"sk")).as("approx_users"))
          .orderBy("event_type")
        QueryModule.gated("ev_stream_hll", out) { rows =>
          val batch = Tables.events(s, dir)
            .groupBy($"event_type")
            .agg(count(lit(1)).as("n"),
              hll_sketch_agg($"user_id", 12).as("bsk"))
            .select($"event_type", $"n",
              hll_sketch_estimate(hll_union($"bsk", $"bsk")).as("est"))
            .collect()
            .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
          require(rows.length == batch.size,
            s"ev_stream_hll gate: ${rows.length} groups vs batch ${batch.size}")
          rows.foreach { r =>
            val (bn, bEst) = batch(r.getString(0))
            require(r.getLong(1) == bn,
              s"ev_stream_hll gate: ${r.getString(0)} saw ${r.getLong(1)} " +
                s"rows vs batch $bn — the drain lost or duplicated data")
            require(r.getLong(2) == bEst,
              s"ev_stream_hll gate: ${r.getString(0)} incremental estimate " +
                s"${r.getLong(2)} != batch rebuild $bEst — register merge " +
                "diverged from the batch merge tree")
          }
        }
      }
    }),

    // SKETCH SET ALGEBRA — audience overlap without a distinct
    // self-join: per-event-type HLL sketches of the user set, then for
    // every type PAIR the union estimate comes from one sketch merge
    // and the intersection via inclusion–exclusion (|A∩B| ≈ |A|+|B|−
    // |A∪B|) — the segment-overlap matrix marketing/experimentation
    // stacks compute over billions of users from kilobyte sketches.
    // The corpus pass is ONE sketch aggregate (5 rows out); the pair
    // table is |types|² — calendar-small, built by a broadcast self-
    // join of the 5-row sketch table. Rows-only (engine-local sketch
    // estimates); the gate recomputes EXACT pairwise intersections
    // (one distinct (type,user) pass self-joined on user) and bounds
    // every estimate: union within the lgK=12 4σ envelope, and the
    // intersection within the COMPOUND bound 4σ·(|A|+|B|+|A∪B|) —
    // inclusion–exclusion differences lose relative accuracy as the
    // intersection shrinks, which is exactly the operational caveat
    // this query documents by construction.
    "ev_hll_setops" -> ((s, dir) => {
      import s.implicits._
      val sk = Tables.events(s, dir)
        .groupBy($"event_type")
        .agg(hll_sketch_agg($"user_id", 12).as("sk"))
        .withColumn("est", hll_sketch_estimate($"sk"))
      val pairs = sk.as("a")
        .join(broadcast(sk.as("b")),
          $"a.event_type" < $"b.event_type")
        .select($"a.event_type".as("t1"), $"b.event_type".as("t2"),
          $"a.est".as("est_1"), $"b.est".as("est_2"),
          hll_sketch_estimate(
            hll_union($"a.sk", $"b.sk")).as("est_union"))
        .withColumn("est_inter",
          greatest($"est_1" + $"est_2" - $"est_union", lit(0L)))
        .orderBy("t1", "t2")
      QueryModule.gated("ev_hll_setops", pairs) { rows =>
        val tu = Tables.events(s, dir)
          .select($"event_type", $"user_id").distinct().persist()
        val exactSizes = tu.groupBy($"event_type").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val exactInter = tu.as("x").join(tu.as("y"),
            $"x.user_id" === $"y.user_id" &&
              $"x.event_type" < $"y.event_type")
          .groupBy($"x.event_type".as("t1"), $"y.event_type".as("t2"))
          .count().collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
        tu.unpersist()
        rows.foreach { r =>
          val (t1, t2) = (r.getString(0), r.getString(1))
          val (e1, e2) = (exactSizes(t1), exactSizes(t2))
          val exUnion = e1 + e2 - exactInter.getOrElse((t1, t2), 0L)
          val sigma = 0.065
          require(math.abs(r.getLong(4) - exUnion) <=
              math.max(8L, (sigma * exUnion).toLong),
            s"ev_hll_setops gate: union($t1,$t2) ${r.getLong(4)} vs exact " +
              s"$exUnion past the 4σ bound")
          val exInter = exactInter.getOrElse((t1, t2), 0L)
          val bound = math.max(16L, (sigma * (e1 + e2 + exUnion)).toLong)
          require(math.abs(r.getLong(5) - exInter) <= bound,
            s"ev_hll_setops gate: inter($t1,$t2) ${r.getLong(5)} vs exact " +
              s"$exInter past the compound inclusion-exclusion bound $bound")
        }
      }
    }),

    // CUPED VARIANCE REDUCTION — the readout every mature
    // experimentation platform layers over ev_abtest's plain Welch t:
    // each user's PRE-period metric is used as a control covariate for
    // their POST-period metric, removing the between-user variance the
    // randomization didn't create. The pre/post boundary is the
    // CALENDAR MIDPOINT of the fixture's date range (epoch-day
    // (min+max) div 2, one 1-row broadcast aggregate) keyed on
    // to_date(ts_utc) — NOT day-of-month, which would fold same-day-of-
    // month rows from different months together if the fixture ever
    // spans more than one month. Same
    // determinism policy as ev_abtest: per-user X/Y are EXACT decimal
    // sums (one shuffle on user_id), the pooled sufficient statistics
    // (n, ΣX, ΣY, ΣXY, ΣX²) and per-variant (n_v, ΣX_v, ΣY_v) are one
    // tiny partial+final aggregate each, and θ = cov(X,Y)/var(X) plus
    // the adjusted means are a single scalar double expression over
    // identical inputs, round(6) for rendering. The 1-row pooled side
    // broadcasts onto the 2-row variant side — adding a variant adds
    // rows to a 2-row table, never a scan.
    "ev_cuped" -> ((s, dir) => {
      import s.implicits._
      val dated = Tables.events(s, dir)
        .where($"value".isNotNull)
        .withColumn("d",
          datediff(to_date($"ts_utc"), lit("1970-01-01")).cast("long"))
      // Midpoint epoch day: positive operands, so Spark `div` and
      // DuckDB `//` agree; 1 row, broadcast onto the fact pass.
      val split = dated.agg(expr("(min(d) + max(d)) div 2").as("sd"))
      val perUser = dated.crossJoin(broadcast(split))
        .select($"user_id", ($"user_id" % 2).as("v"),
          when($"d" <= $"sd", $"value".cast("decimal(18,6)"))
            .otherwise(lit(0).cast("decimal(18,6)")).as("px"),
          when($"d" > $"sd", $"value".cast("decimal(18,6)"))
            .otherwise(lit(0).cast("decimal(18,6)")).as("py"))
        .groupBy($"user_id", $"v")
        .agg(sum($"px").as("x"), sum($"py").as("y"))
      val pooled = perUser.agg(
        count(lit(1)).as("n"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
      val byV = perUser.groupBy($"v")
        .agg(count(lit(1)).as("n_v"), sum($"x").as("sx_v"), sum($"y").as("sy_v"))
      byV.crossJoin(broadcast(pooled))
        .selectExpr("v AS variant", "n_v AS n_users",
          "round(CAST(sy_v AS DOUBLE) / n_v, 6) AS mean_y",
          "round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) / " +
            "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n), 6) AS theta",
          "round(CAST(sy_v AS DOUBLE) / n_v - " +
            "((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) / " +
            " (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)) * " +
            "(CAST(sx_v AS DOUBLE) / n_v - CAST(sx AS DOUBLE) / n), 6) AS mean_y_adj")
        .orderBy("variant")
    }),

    // EXPONENTIAL SMOOTHING — the EWMA baseline behind burn-rate
    // alerts and simple demand forecasts: per-day revenue smoothed
    // with α=0.2. The time axis is the EPOCH DAY
    // (datediff(to_date(ts_utc), 1970-01-01)) — a total order across
    // months, unlike a day-of-month key that would interleave
    // rows from different months into one series —
    // entirely in exact integer micro-units so the
    // sequential recurrence l_d = (2·x_d + 8·l_{d-1}) div 10 replays
    // identically anywhere (truncating division on non-negative
    // operands). Shape: the corpus pass is one partial+final per-day
    // aggregate; the recurrence then folds DRIVER-SIDE over the
    // day-bounded series (one row per day at any corpus scale — the
    // emb_pca_power materialization argument: state is calendar-sized,
    // not data-sized). The oracle replays the identical recurrence
    // with a RECURSIVE CTE over the day sequence.
    "ev_ewma" -> ((s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .where($"value".isNotNull)
        .groupBy(datediff(to_date($"ts_utc"), lit("1970-01-01")).as("day"))
        .agg(sum($"value".cast("decimal(18,6)")).as("rev"))
        .selectExpr("CAST(day AS BIGINT) AS day",
          "CAST(rev * 1000000 AS BIGINT) AS rev_e6")
        .orderBy("day")
        .collect()
      var level = 0L
      var first = true
      val out = daily.map { r =>
        val (d, x) = (r.getLong(0), r.getLong(1))
        require(x >= 0, s"ev_ewma: negative day revenue $x on day $d — " +
          "the truncating-div recurrence assumes non-negative series")
        level = if (first) { first = false; x }
          else (2L * x + 8L * level) / 10L
        (d, x, level)
      }
      out.toSeq.toDF("day", "rev_e6", "ewma_e6").orderBy("day")
    }),

    // MAX-CONCURRENT-SESSIONS via a day-partitioned SWEEP LINE:
    // interval-overlap counting without the O(n²) interval self-join.
    // Sessions (the 30-min-gap rule shared with ev_sessions) become
    // ±1 deltas at [start, end+1µs); a running sum over the deltas IS
    // the concurrency curve, and its max per day is the answer. The
    // scale move is the DAY CLIP: each session is first split at UTC
    // day boundaries (sequence+explode — sessions are gap-bounded, so
    // the per-row expansion is tiny), which keys every delta by day
    // and makes the sweep's sort PARTITIONED — no global single-
    // partition window anywhere, the 100-TB version just picks a finer
    // bucket. Determinism under ties: the sweep orders by (t, delta)
    // so closes (-1) precede opens (+1) at the same instant, and the
    // default RANGE frame makes tied rows peer-grouped — the running
    // value at any tie group is order-independent on both engines.
    "ev_concurrency" -> ((s, dir) => {
      import s.implicits._
      val dayUs = 86400000000L
      val byUser = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      val sess = Tables.events(s, dir)
        .withColumn("ts_us", expr(TS_US))
        .withColumn("gap_us", $"ts_us" - lag($"ts_us", 1).over(byUser))
        .withColumn("brk",
          when($"gap_us".isNull || $"gap_us" > 1800L * 1000 * 1000, 1L)
            .otherwise(0L))
        .withColumn("sess_id", sum($"brk").over(byUser))
        .groupBy($"user_id", $"sess_id")
        .agg(min($"ts_us").as("s_us"), max($"ts_us").as("e_us"))
      val deltas = sess
        .withColumn("day",
          explode(expr(s"sequence(s_us div $dayUs, e_us div $dayUs)")))
        .select($"day",
          greatest($"s_us", $"day" * dayUs).as("lo"),
          (least($"e_us", ($"day" + 1) * dayUs - 1) + 1).as("hi1"))
        .select($"day", explode(array(
          struct($"lo".as("t"), lit(1L).as("d")),
          struct($"hi1".as("t"), lit(-1L).as("d")))).as("x"))
        .select($"day", $"x.t".as("t"), $"x.d".as("d"))
      val sweep = Window.partitionBy($"day").orderBy($"t", $"d")
      deltas
        .withColumn("run", sum($"d").over(sweep))
        .groupBy($"day")
        .agg(max($"run").as("max_concurrent"))
        .select($"day".as("epoch_day"), $"max_concurrent")
        .orderBy("epoch_day")
    }),

    // MERGEABLE-SKETCH ROLLUP: per-day DataSketches HLL sketches
    // of the user set, window-UNIONED into a cumulative distinct-user
    // curve — the incremental distinct pattern a 100-TB pipeline runs
    // instead of rescanning the fact: build one small sketch row per
    // day (partial+final agg over the fact — the only heavy pass),
    // persist those, and answer any date-range distinct query by
    // merging sketches (register-max union, order- and partition-
    // independent) without touching the raw events again. The window
    // union runs over ONE ROW PER DAY — thousands of rows at any
    // scale, so the unbounded-preceding frame over a single ordered
    // partition is deliberate and free; the fact never sees a window.
    // Rows-only (DuckDB has no DataSketches HLL); the gate recomputes
    // the EXACT cumulative distinct curve via the first-seen-day trick
    // (min(day) per user, one extra shuffle) and requires every day's
    // estimate within the lgK=12 HLL error envelope.
    "ev_hll_rollup" -> ((s, dir) => {
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy(to_date($"ts_utc").as("d"))
        .agg(hll_sketch_agg($"user_id", 12).as("sk"),
          count(lit(1)).as("n_events"))
      val w = Window.orderBy($"d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val out = daily
        .withColumn("cum_users",
          hll_sketch_estimate(hll_union_agg($"sk", lit(false)).over(w)))
        .select($"d", $"n_events", $"cum_users")
        .orderBy("d")
      QueryModule.gated("ev_hll_rollup", out) { rows =>
        // Exact ground truth: per-day NEW-user counts (first-seen-day
        // trick — ≤ one row per day crosses to the driver), folded into
        // a running sum over the estimate's own day axis so a day with
        // zero new users still carries the previous total.
        val newPerDay = Tables.events(s, dir)
          .groupBy($"user_id").agg(min(to_date($"ts_utc")).as("d"))
          .groupBy($"d").agg(count(lit(1)).as("nu"))
          .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
        var cum = 0L
        rows.sortBy(_.getDate(0).toString).foreach { r =>
          val d = r.getDate(0).toString
          cum += newPerDay.getOrElse(d, 0L)
          val a = r.getLong(2)
          // lgK=12 → rsd ≈ 1.6%; 4σ ≈ 6.5%, absolute floor for tiny days.
          require(math.abs(a - cum) <= math.max(8L, (0.065 * cum).toLong),
            s"ev_hll_rollup gate: $d estimate $a vs exact $cum drifts past " +
              "the 4σ HLL bound")
        }
      }
    })
  )

  override def oracles: Map[String, String] = Map(
    "ev_retention" ->
      """WITH ev AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |c AS (SELECT user_id, d,
        |        min(d) OVER (PARTITION BY user_id) AS cohort_d
        |      FROM ev)
        |SELECT cohort_d, date_diff('day', cohort_d, d) AS day_offset,
        |  count(*) AS n_users
        |FROM c
        |WHERE date_diff('day', cohort_d, d) IN (0, 1, 7)
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    // Full-table aggregate: proves the staged-base + delta-merge
    // refresh equals a from-scratch recompute.
    "ev_incr_refresh" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1
        |ORDER BY event_type""".stripMargin,
    "ev_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour_start, event_type""".stripMargin,
    // Append-mode emission horizon: a window is in the result iff the
    // final watermark (max event time, truncated to ms, minus the 2 h
    // delay) has passed its end. Spark tracks event time in
    // milliseconds, so the horizon compares at ms precision.
    "ev_stream_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
        |  count(*) AS n
        |FROM events
        |WHERE epoch_ms(date_trunc('hour', ts) + INTERVAL 1 HOUR)
        |      <= (SELECT epoch_ms(max(ts)) - 7200000 FROM events)
        |GROUP BY 1, 2
        |ORDER BY hour_start, event_type""".stripMargin,
    // Full SQL replay of the late-delivery scenario: slice-1
    // membership via the staging's integer quarter arithmetic
    // (truncating division, identical on both engines), the drop via
    // the ms-precision `window end <= watermark` predicate, then the
    // standard emission horizon over the KEPT rows. Slices 0/2/3 are
    // never dropped (slice 2 is admitted under the lagging filter
    // watermark — see the query comment), so only slice 1 is excluded.
    "ev_stream_late" ->
      """WITH p AS (
        |  SELECT min(epoch_us(ts)) AS tmin,
        |    greatest(max(epoch_us(ts)) - min(epoch_us(ts)) + 1, 4) AS span,
        |    max(epoch_us(ts)) // 1000 - 7200000 AS wm
        |  FROM events),
        |kept AS (
        |  SELECT e.ts, e.event_type
        |  FROM events e, p
        |  WHERE NOT (epoch_us(e.ts) >= p.tmin + p.span * 1 // 4
        |         AND epoch_us(e.ts) < p.tmin + p.span * 2 // 4
        |         AND (epoch_us(e.ts) // 3600000000 + 1) * 3600000 <= p.wm))
        |SELECT CAST(date_trunc('hour', k.ts) AS TIMESTAMP) AS hour_start,
        |  k.event_type, count(*) AS n
        |FROM kept k, p
        |WHERE (epoch_us(k.ts) // 3600000000 + 1) * 3600000 <= p.wm
        |GROUP BY 1, 2
        |ORDER BY hour_start, event_type""".stripMargin,

    // Same horizon as ev_stream_hourly BY DESIGN: the CollectMetrics
    // observation must not perturb the watermark topology's output.
    "ev_stream_observe" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
        |  count(*) AS n
        |FROM events
        |WHERE epoch_ms(date_trunc('hour', ts) + INTERVAL 1 HOUR)
        |      <= (SELECT epoch_ms(max(ts)) - 7200000 FROM events)
        |GROUP BY 1, 2
        |ORDER BY hour_start, event_type""".stripMargin,
    // Same horizon as ev_stream_hourly BY DESIGN: the processing-time
    // clock must not change what the watermark emits.
    "ev_stream_ptime" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
        |  count(*) AS n
        |FROM events
        |WHERE epoch_ms(date_trunc('hour', ts) + INTERVAL 1 HOUR)
        |      <= (SELECT epoch_ms(max(ts)) - 7200000 FROM events)
        |GROUP BY 1, 2
        |ORDER BY hour_start, event_type""".stripMargin,
    "ev_sliding" ->
      """SELECT win_start, event_type, count(*) AS n FROM (
        |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start, event_type FROM events
        |  UNION ALL
        |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) - INTERVAL 1 HOUR, event_type FROM events)
        |GROUP BY win_start, event_type
        |ORDER BY win_start, event_type""".stripMargin,
    "ev_sessions" ->
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
        |  FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CASE WHEN gap_us > 1800000000 THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_sessions
        |FROM g
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    // Boundary semantics pinned empirically on Spark 4.1.2: two events
    // EXACTLY 30 min apart merge into ONE session (session_window's
    // merge test is ts <= window end, producing [00:00, 01:00) for
    // events at 00:00/00:30), so the oracle's break is strictly
    // gap > 30 min — same as ev_sessions. Do not change to >=.
    "ev_session_window" ->
      """WITH g AS (
        |  SELECT user_id, ts,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) > 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM g)
        |SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start, count(*) AS n_events
        |FROM s
        |GROUP BY user_id, sess
        |ORDER BY user_id, session_start""".stripMargin,
    "ev_value_delta" ->
      """SELECT user_id, event_id, value, delta FROM (
        |  SELECT user_id, event_id, value,
        |    value - lag(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS delta
        |  FROM events)
        |WHERE delta IS NOT NULL AND user_id < 30
        |ORDER BY user_id, event_id""".stripMargin,
    "ev_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, ts,
        |    CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END AS purch_ts
        |  FROM events WHERE event_type IN ('signup', 'purchase')),
        |f AS (
        |  SELECT user_id, ts_us, event_type, ts,
        |    last_value(purch_ts IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS next_purch_ts
        |  FROM ev)
        |SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |  count(*) AS signups,
        |  count(CASE WHEN next_purch_ts - ts_us <= 604800000000 THEN 1 END) AS converted_7d
        |FROM f
        |WHERE event_type = 'signup'
        |GROUP BY 1
        |ORDER BY day""".stripMargin,
    "ev_outliers" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS v_e6
        |  FROM events WHERE value IS NOT NULL),
        |th AS (
        |  SELECT event_type,
        |    CAST(floor(quantile_cont(v_e6, 0.99)) AS BIGINT) AS p99_e6
        |  FROM ev GROUP BY event_type)
        |SELECT ev.event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN v_e6 > p99_e6 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  max(p99_e6) AS p99_e6, max(v_e6) AS max_e6
        |FROM ev JOIN th ON ev.event_type = th.event_type
        |GROUP BY ev.event_type
        |ORDER BY ev.event_type""".stripMargin,
    "ev_histogram" ->
      """SELECT CAST(floor(value / 50) AS BIGINT) AS bucket, count(*) AS n
        |FROM events
        |WHERE value IS NOT NULL
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin,
    "ev_moving_agg" ->
      """WITH ev AS (
        |  SELECT event_id, event_type, epoch_us(ts) // 1000000 AS sec,
        |    CAST(floor(value * 1000000) AS BIGINT) AS v_e6
        |  FROM events WHERE value IS NOT NULL)
        |SELECT event_id, event_type, sec,
        |  count(*) OVER w AS n_1h,
        |  CAST(sum(v_e6) OVER w AS BIGINT) AS sum_e6_1h
        |FROM ev
        |WINDOW w AS (PARTITION BY event_type ORDER BY sec
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "ev_gap_fill" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
        |    CAST(floor(value * 1000000) AS BIGINT) AS v_e6
        |  FROM events),
        |hourly AS (
        |  SELECT event_type, hr, count(*) AS n, CAST(sum(v_e6) AS BIGINT) AS sum_e6
        |  FROM ev GROUP BY 1, 2),
        |b AS (SELECT min(hr) AS mn, max(hr) AS mx FROM ev),
        |spine AS (
        |  SELECT t.event_type, g.hr
        |  FROM (SELECT DISTINCT event_type FROM ev) t,
        |       (SELECT unnest(generate_series(mn, mx)) AS hr FROM b) g)
        |SELECT s.event_type, s.hr, coalesce(h.n, 0) AS n,
        |  last_value(h.sum_e6 IGNORE NULLS) OVER (
        |    PARTITION BY s.event_type ORDER BY s.hr
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum_e6
        |FROM spine s LEFT JOIN hourly h
        |  ON s.event_type = h.event_type AND s.hr = h.hr
        |ORDER BY s.event_type, s.hr""".stripMargin,
    "ev_json" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(props->>'$.k' AS BIGINT)) AS min_k,
        |  max(CAST(props->>'$.k' AS BIGINT)) AS max_k
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // Both expiry bounds replayed against the final watermark: clicks
    // expire at click_ms + 1 h < wm (as in ev_stream_funnel),
    // purchases at purch_ms < wm (a click at or before the purchase
    // could still arrive until then). Matched pairs are the inner
    // region, identical in both engines.
    "ev_stream_fulljoin" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS cus FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT user_id, epoch_us(ts) AS pus FROM events
        |      WHERE event_type = 'purchase'),
        |w AS (SELECT least((SELECT max(cus) FROM c) // 1000,
        |                   (SELECT max(pus) FROM p) // 1000)
        |             - 3600000 AS wm),
        |jc AS (SELECT c.user_id, c.cus, p.pus
        |       FROM c LEFT JOIN p ON c.user_id = p.user_id
        |         AND p.pus BETWEEN c.cus AND c.cus + 3600000000),
        |jp AS (SELECT p.user_id, p.pus
        |       FROM p LEFT JOIN c ON c.user_id = p.user_id
        |         AND p.pus BETWEEN c.cus AND c.cus + 3600000000
        |       WHERE c.user_id IS NULL),
        |rows_ AS (
        |  SELECT user_id,
        |    CASE WHEN pus IS NOT NULL THEN 1 ELSE 0 END AS attributed,
        |    CASE WHEN pus IS NULL THEN 1 ELSE 0 END AS exp_click,
        |    0 AS exp_purch
        |  FROM jc
        |  WHERE pus IS NOT NULL
        |     OR cus // 1000 + 3600000 < (SELECT wm FROM w)
        |  UNION ALL
        |  SELECT user_id, 0, 0, 1 FROM jp
        |  WHERE pus // 1000 < (SELECT wm FROM w))
        |SELECT user_id,
        |  CAST(sum(attributed) AS BIGINT) AS n_attributed,
        |  CAST(sum(exp_click) AS BIGINT) AS n_expired_clicks,
        |  CAST(sum(exp_purch) AS BIGINT) AS n_expired_purchases
        |FROM rows_
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    // The identical heterogeneous payloads rebuilt string-for-string,
    // the paths replayed by DuckDB's JSON engine — absent paths are
    // NULLs in both, so n_amt/n_code count exactly the shaped rows.
    "ev_variant" ->
      """WITH v AS (
        |  SELECT event_type,
        |    CASE
        |      WHEN event_type = 'purchase' THEN
        |        '{"k": ' || (props->>'$.k') || ', "amt": ' ||
        |        CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR) || '}'
        |      WHEN event_type = 'error' THEN
        |        '{"k": ' || (props->>'$.k') || ', "code": [' ||
        |        CAST(event_id % 7 AS VARCHAR) || ']}'
        |      ELSE props END AS j
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(j->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(count(CAST(j->>'$.amt' AS BIGINT)) AS BIGINT) AS n_amt,
        |  CAST(sum(CAST(j->>'$.amt' AS BIGINT)) AS BIGINT) AS sum_amt,
        |  CAST(count(CAST(j->>'$.code[0]' AS BIGINT)) AS BIGINT) AS n_code,
        |  CAST(sum(CAST(j->>'$.code[0]' AS BIGINT)) AS BIGINT) AS sum_code
        |FROM v
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "ev_daily_pivot" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS view
        |FROM events
        |GROUP BY 1
        |ORDER BY day""".stripMargin,
    // Window formulation (clearer in SQL); the engine side uses the
    // partial-aggregable max-over-struct — same rows by construction
    // because event_id is unique within a (user, type) group.
    "ev_compact_latest" ->
      """SELECT user_id, event_type, last_event_id, last_ts_us, last_value,
        |  n_events
        |FROM (
        |  SELECT user_id, event_type, event_id AS last_event_id,
        |    epoch_us(ts) AS last_ts_us, value AS last_value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn,
        |    count(*) OVER (PARTITION BY user_id, event_type) AS n_events
        |  FROM events)
        |WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,
    // Same latest-per-key rows as ev_compact_latest minus the count
    // column (counts are not re-delivery-idempotent; see the query).
    "ev_stream_upsert" ->
      """SELECT user_id, event_type, last_event_id, last_ts_us, last_value
        |FROM (
        |  SELECT user_id, event_type, event_id AS last_event_id,
        |    epoch_us(ts) AS last_ts_us, value AS last_value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,
    // Daily rollup over only the days the 2 h watermark has fully
    // closed (ms precision, <= — same emission rule as ev_stream_hourly
    // composed through the chained stages).
    "ev_stream_daily" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
        |  count(*) AS n
        |FROM events
        |WHERE epoch_ms(date_trunc('day', ts) + INTERVAL 1 DAY)
        |      <= (SELECT epoch_ms(max(ts)) - 7200000 FROM events)
        |GROUP BY 1, 2
        |ORDER BY day, event_type""".stripMargin,
    // Batch self-join at µs precision (epoch_us reads the same
    // microsecond clock the streaming side's tsUs carries).
    "ev_stream_attrib" ->
      """SELECT c.user_id AS user_id, count(*) AS n_attributed
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND epoch_us(p.ts) BETWEEN epoch_us(c.ts)
        |                         AND epoch_us(c.ts) + 3600000000
        |GROUP BY c.user_id
        |ORDER BY user_id""".stripMargin,
    // Batch gap-sessionization + the two append-emission rules: every
    // non-final session per user closed inline; the final session only
    // if its timeout (end_ms + 30 min gap) lies strictly below the
    // final watermark (max event ms − 10 min). Session end/timeout
    // compare at ms precision, matching Spark's watermark clock.
    "ev_stream_sessions" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
        |s AS (SELECT user_id, t,
        |        CASE WHEN lag(t) OVER w IS NULL
        |               OR t - lag(t) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |g AS (SELECT user_id, t,
        |        sum(brk) OVER (PARTITION BY user_id ORDER BY t
        |          ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM s),
        |sess AS (SELECT user_id, sid, min(t) AS start_us, max(t) AS end_us,
        |           count(*) AS n_events
        |         FROM g GROUP BY 1, 2)
        |SELECT user_id, start_us, end_us, n_events
        |FROM sess
        |WHERE sid < (SELECT max(sid) FROM sess s2 WHERE s2.user_id = sess.user_id)
        |   OR end_us // 1000 + 1800000
        |      < (SELECT epoch_ms(max(ts)) - 600000 FROM events)
        |ORDER BY user_id, start_us""".stripMargin,
    // The streaming drain is batch-identical by construction (the
    // changelog's final snapshot per key IS the compacted table), so
    // the oracle is the same window formulation.
    "ev_stream_compact" ->
      """SELECT user_id, event_type, last_event_id, last_ts_us, last_value,
        |  n_events
        |FROM (
        |  SELECT user_id, event_type, event_id AS last_event_id,
        |    epoch_us(ts) AS last_ts_us, value AS last_value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn,
        |    count(*) OVER (PARTITION BY user_id, event_type) AS n_events
        |  FROM events)
        |WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,
    // The re-delivered stream deduped within the watermark IS the
    // original table: event_id is unique in the fixture, each
    // re-delivery arrives ONE MICRO-BATCH after its original (staged as
    // a copied source file), and every duplicate is dropped on one of
    // the two within-watermark paths — by dedup state if its id is
    // still inside the 1 h horizon, or by the watermark's late-row
    // filter if the horizon already passed it. Originals are never
    // late (slices are time-contiguous), so nothing else is dropped.
    "ev_stream_dedup" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY event_id""".stripMargin,
    // The appended table after the last commit must be the events
    // table exactly once — same projection as ev_stream_dedup, but
    // proven through the commit protocol (append history + conflict
    // idempotency) instead of dedup state.
    "ev_stream_commit" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY event_id""".stripMargin,
    // The full feed replayed: v0's inserts, v1's delete keys (data
    // columns NULL), v2's re-insert of doc 13 (+1000 chars).
    "ev_stream_cdf_full" ->
      """SELECT doc_id, lang, n_chars,
        |  CAST(0 AS BIGINT) AS _commit_version, 'insert' AS _change_type
        |FROM documents
        |UNION ALL
        |SELECT doc_id, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
        |  CAST(1 AS BIGINT), 'delete'
        |FROM documents WHERE doc_id % 9 = 4
        |UNION ALL
        |SELECT doc_id, lang, n_chars + 1000,
        |  CAST(2 AS BIGINT), 'insert'
        |FROM documents WHERE doc_id = 13
        |ORDER BY _commit_version, _change_type, doc_id""".stripMargin,
    // The update/compact feed replayed: v0's inserts, v1's whole-
    // snapshot preimage (the single-file layout makes the touched set
    // the whole table) + postimage with the UPDATE's CASE applied,
    // v2's compaction serving NOTHING, v3's single late append.
    "ev_stream_cdf_update" ->
      """SELECT doc_id, lang, n_chars,
        |  CAST(0 AS BIGINT) AS _commit_version, 'insert' AS _change_type
        |FROM documents
        |UNION ALL
        |SELECT doc_id, lang, n_chars, CAST(1 AS BIGINT), 'update_preimage'
        |FROM documents
        |UNION ALL
        |SELECT doc_id, lang,
        |  CASE WHEN doc_id BETWEEN 10 AND 40 THEN n_chars + 100000
        |       ELSE n_chars END,
        |  CAST(1 AS BIGINT), 'update_postimage'
        |FROM documents
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT), 'zz', CAST(42 AS BIGINT),
        |  CAST(3 AS BIGINT), 'insert'
        |ORDER BY _commit_version, _change_type, doc_id""".stripMargin,

    // The feed replayed: which rows arrived, in which commit — v0 the
    // %3==0 snapshot, v1 and the late v2 the two appends.
    "ev_stream_cdf" ->
      """SELECT doc_id, lang, n_chars,
        |  CAST(doc_id % 3 AS BIGINT) AS _commit_version
        |FROM documents
        |ORDER BY _commit_version, doc_id""".stripMargin,
    "ev_stream_enrich" ->
      """SELECT coalesce(c.c_mktsegment, '(unmatched)') AS segment,
        |  count(*) AS n, count(DISTINCT e.user_id) AS n_users
        |FROM events e
        |LEFT JOIN (SELECT c_custkey, c_mktsegment FROM customer
        |           WHERE c_custkey % 3 = 0) c
        |  ON e.user_id = c.c_custkey
        |GROUP BY 1
        |ORDER BY segment""".stripMargin,
    // Both incremental drains together cover the full table exactly
    // once (the incrementality itself is hard-asserted engine-side from
    // the progress counters — see EventStreams.incrementalDrain).
    "ev_stream_incr" ->
      """SELECT event_id, user_id, event_type FROM events
        |ORDER BY event_id""".stripMargin,

    // The sink table read back: the whole events table, exactly once.
    "ev_stream_sink" ->
      """SELECT event_id, user_id, event_type FROM events
        |ORDER BY event_id""".stripMargin,

    // The pipeline's sink: the standard append-mode emission horizon
    // (window end ms <= global max event ms − 2 h) over the hourly
    // count+sum — the time slices partition the whole table, so the
    // final watermark is the global one and this is exactly
    // ev_stream_hourly's horizon with ev_hourly's value sum.
    "ev_stream_pipeline" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE epoch_ms(date_trunc('hour', ts) + INTERVAL 1 HOUR)
        |      <= (SELECT epoch_ms(max(ts)) - 7200000 FROM events)
        |GROUP BY 1, 2
        |ORDER BY hour_start, event_type""".stripMargin,

    // The partitioned drain is a stateless append: the read-back
    // rollup equals the exact per-type aggregate over the source.
    "ev_stream_partitioned" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // Matched pairs emit immediately; an unmatched click emits its null
    // row only once the global watermark W (min over both sides of
    // max event ms − 1 h) passes the end of its 1 h match window.
    // BOUNDARY ASSUMPTION (documented deliberately): the `< wm` cutoff
    // below is STRICT, matching Spark's eviction rule today (state is
    // evicted, and the null row emitted, only when the window end is
    // strictly below the watermark). If a future fixture ever lands a
    // click whose match-window end EQUALS the global watermark exactly,
    // a strict-vs-inclusive divergence would flip that one row — if
    // this query starts failing at a new scale factor, check this edge
    // first.
    "ev_stream_funnel" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS cus FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT user_id, epoch_us(ts) AS pus FROM events
        |      WHERE event_type = 'purchase'),
        |w AS (SELECT least((SELECT max(cus) FROM c) // 1000,
        |                   (SELECT max(pus) FROM p) // 1000)
        |             - 3600000 AS wm),
        |j AS (SELECT c.user_id, c.cus, p.pus
        |      FROM c LEFT JOIN p ON c.user_id = p.user_id
        |        AND p.pus BETWEEN c.cus AND c.cus + 3600000000)
        |SELECT user_id, count(pus) AS n_attributed,
        |  CAST(sum(CASE WHEN pus IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_expired
        |FROM j
        |WHERE pus IS NOT NULL
        |   OR cus // 1000 + 3600000 < (SELECT wm FROM w)
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    // Identical horizon to ev_stream_hourly: the second drain restores
    // the first's watermark and window state, so the two-run result
    // must equal the single-run emission set.
    "ev_stream_incr_agg" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
        |  count(*) AS n
        |FROM events
        |WHERE epoch_ms(date_trunc('hour', ts) + INTERVAL 1 HOUR)
        |      <= (SELECT epoch_ms(max(ts)) - 7200000 FROM events)
        |GROUP BY 1, 2
        |ORDER BY hour_start, event_type""".stripMargin,
    // Same gap-sessionization as the batch ev_sessions: the compacted
    // final snapshot per user must equal the batch aggregate.
    "ev_stream_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
        |  FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CASE WHEN gap_us > 1800000000 THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_sessions
        |FROM g
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    // Identical SCD2 intervalization + half-open containment join in
    // batch SQL — the streaming drain must enrich point-in-time
    // exactly like the batch join.
    "ev_stream_scd_join" ->
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS valid_from,
        |    lead(epoch_us(ts)) OVER w AS valid_to,
        |    row_number() OVER w AS version, value AS d_value
        |  FROM events WHERE event_type = 'purchase'
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |v AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS v_ts
        |  FROM events WHERE event_type = 'view')
        |SELECT v.user_id AS user_id, version, count(*) AS n_views,
        |  max(d_value) AS version_value
        |FROM v JOIN p ON v.user_id = p.user_id AND v_ts >= valid_from
        |  AND (valid_to IS NULL OR v_ts < valid_to)
        |GROUP BY v.user_id, version
        |ORDER BY v.user_id, version""".stripMargin,

    // Same per-user lead, same exact integer share.
    "ev_transitions" ->
      """WITH t AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS to_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, count(*) AS n
        |  FROM t WHERE to_type IS NOT NULL
        |  GROUP BY from_type, to_type)
        |SELECT from_type, to_type, n,
        |  CAST(n * 1000000 // sum(n) OVER (PARTITION BY from_type)
        |    AS BIGINT) AS share_ppm
        |FROM c
        |ORDER BY from_type, to_type""".stripMargin,

    // The compacted transformWithState changelog must equal the plain
    // batch count — the new state API reproduces the shuffle aggregate.
    "ev_stream_tws" ->
      """SELECT user_id, event_type, count(*) AS n
        |FROM events
        |GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,

    // Identical decimal sufficient statistics, identical double
    // expression tree — byte-equal t stats.
    "ev_abtest" ->
      """WITH d AS (
        |  SELECT event_type, user_id % 2 AS v,
        |    CAST(value AS DECIMAL(18,6)) AS x
        |  FROM events WHERE value IS NOT NULL),
        |a AS (
        |  SELECT event_type,
        |    count(CASE WHEN v = 0 THEN 1 END) AS n_a,
        |    count(CASE WHEN v = 1 THEN 1 END) AS n_b,
        |    sum(CASE WHEN v = 0 THEN x END) AS sx_a,
        |    sum(CASE WHEN v = 1 THEN x END) AS sx_b,
        |    sum(CASE WHEN v = 0 THEN x * x END) AS sxx_a,
        |    sum(CASE WHEN v = 1 THEN x * x END) AS sxx_b
        |  FROM d GROUP BY event_type)
        |SELECT event_type, n_a, n_b,
        |  round(CAST(sx_a AS DOUBLE) / n_a, 6) AS mean_a,
        |  round(CAST(sx_b AS DOUBLE) / n_b, 6) AS mean_b,
        |  round((CAST(sx_a AS DOUBLE) / n_a - CAST(sx_b AS DOUBLE) / n_b) /
        |    sqrt(((CAST(sxx_a AS DOUBLE) - CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE) / n_a) / (n_a - 1)) / n_a +
        |         ((CAST(sxx_b AS DOUBLE) - CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE) / n_b) / (n_b - 1)) / n_b), 6) AS t_stat
        |FROM a
        |ORDER BY event_type""".stripMargin,

    // Identical decimal sufficient statistics, identical double
    // expression tree for θ and the adjusted means.
    "ev_cuped" ->
      """WITH e AS (
        |  SELECT user_id, value,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
        |  FROM events WHERE value IS NOT NULL),
        |sp AS (SELECT (min(d) + max(d)) // 2 AS sd FROM e),
        |u AS (
        |  SELECT user_id, user_id % 2 AS v,
        |    sum(CASE WHEN d <= sd
        |        THEN CAST(value AS DECIMAL(18,6))
        |        ELSE CAST(0 AS DECIMAL(18,6)) END) AS x,
        |    sum(CASE WHEN d > sd
        |        THEN CAST(value AS DECIMAL(18,6))
        |        ELSE CAST(0 AS DECIMAL(18,6)) END) AS y
        |  FROM e, sp
        |  GROUP BY user_id, user_id % 2),
        |p AS (
        |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM u),
        |bv AS (
        |  SELECT v, count(*) AS n_v, sum(x) AS sx_v, sum(y) AS sy_v
        |  FROM u GROUP BY v)
        |SELECT v AS variant, n_v AS n_users,
        |  round(CAST(sy_v AS DOUBLE) / n_v, 6) AS mean_y,
        |  round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) /
        |    (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n), 6) AS theta,
        |  round(CAST(sy_v AS DOUBLE) / n_v -
        |    ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) /
        |     (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)) *
        |    (CAST(sx_v AS DOUBLE) / n_v - CAST(sx AS DOUBLE) / n), 6) AS mean_y_adj
        |FROM bv, p
        |ORDER BY variant""".stripMargin,

    // The identical integer recurrence, replayed as a RECURSIVE CTE
    // over the row-numbered day sequence.
    "ev_ewma" ->
      """WITH RECURSIVE daily AS (
        |  SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS rev_e6
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY 1),
        |d2 AS (SELECT day, rev_e6, row_number() OVER (ORDER BY day) AS rn
        |       FROM daily),
        |rec AS (
        |  SELECT day, rev_e6, rn, rev_e6 AS ewma_e6 FROM d2 WHERE rn = 1
        |  UNION ALL
        |  SELECT d2.day, d2.rev_e6, d2.rn,
        |    CAST((2 * d2.rev_e6 + 8 * rec.ewma_e6) // 10 AS BIGINT)
        |  FROM d2 JOIN rec ON d2.rn = rec.rn + 1)
        |SELECT day, rev_e6, ewma_e6 FROM rec ORDER BY day""".stripMargin,

    // Same keyed lead()-intervalization; versions stamped in the same
    // (ts_us, event_id) total order.
    "ev_scd2" ->
      """SELECT user_id, event_type, version, event_id, value,
        |  valid_from_us, valid_to_us, is_current
        |FROM (
        |  SELECT user_id, event_type,
        |    row_number() OVER w AS version, event_id, value,
        |    epoch_us(ts) AS valid_from_us,
        |    lead(epoch_us(ts), 1) OVER w AS valid_to_us,
        |    lead(epoch_us(ts), 1) OVER w IS NULL AS is_current
        |  FROM events
        |  WHERE user_id < 40
        |  WINDOW w AS (PARTITION BY user_id, event_type
        |               ORDER BY epoch_us(ts), event_id))
        |ORDER BY user_id, event_type, version""".stripMargin,
    // Same sessionize → day-clip → ±1 sweep construction; the default
    // RANGE window frame peer-groups tied (t, d) rows identically.
    "ev_concurrency" ->
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts_us,
        |    sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
        |             THEN 1 ELSE 0 END) OVER
        |      (PARTITION BY user_id ORDER BY ts_us, event_id) AS sess_id
        |  FROM g),
        |b AS (
        |  SELECT user_id, sess_id, min(ts_us) AS s_us, max(ts_us) AS e_us
        |  FROM s GROUP BY user_id, sess_id),
        |bd AS (
        |  SELECT s_us, e_us,
        |    unnest(generate_series(s_us // 86400000000,
        |                           e_us // 86400000000)) AS day
        |  FROM b),
        |d AS (
        |  SELECT day,
        |    greatest(s_us, day * 86400000000) AS lo,
        |    least(e_us, (day + 1) * 86400000000 - 1) + 1 AS hi1
        |  FROM bd),
        |del AS (
        |  SELECT day, lo AS t, 1 AS d FROM d
        |  UNION ALL
        |  SELECT day, hi1 AS t, -1 AS d FROM d),
        |r AS (
        |  SELECT day, sum(d) OVER (PARTITION BY day ORDER BY t, d) AS run
        |  FROM del)
        |SELECT day AS epoch_day, CAST(max(run) AS BIGINT) AS max_concurrent
        |FROM r GROUP BY day ORDER BY epoch_day""".stripMargin
  )
}
