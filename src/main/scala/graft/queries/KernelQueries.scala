package graft.queries

import graft.mr.{CharCountClient, CountOfCountsClient, CustomerOrderJoinClient, GroupedAggClient, MapReduce, SeqPatternClient, SequenceDigestClient, WordCountClient}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Queries that exercise the faithful MapReduce kernel end-to-end
  * (typed flatMap → group-by-key shuffle → flatMapGroups), i.e. the
  * reference's actual capability surface (SURVEY.md §2.1).
  */
object KernelQueries extends QueryModule {

  /** The reference's `multiThreadLevel` for these jobs: every core.
    * The fixture files are one split, so leaving parallelism unset
    * (natural splits) would run the whole map phase on ONE task —
    * the sample client's thread-count choice, made the Spark way. */
  private def mtl(s: SparkSession): Int = s.sparkContext.defaultParallelism

  private def docs(s: SparkSession, dir: String) = {
    import s.implicits._
    Tables.documents(s, dir).select("doc_id", "text").as[(Long, String)]
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mr_wordcount" -> ((s, dir) => {
      import s.implicits._
      MapReduce.run(docs(s, dir), WordCountClient, mtl(s))
        .toDF("word", "cnt")
        .orderBy("word")
    }),
    "mr_charcount" -> ((s, dir) => {
      import s.implicits._
      MapReduce.run(docs(s, dir), CharCountClient, mtl(s))
        .toDF("ch", "cnt")
        .orderBy("ch")
    }),

    // COMBINER wordcount: the same client through
    // MapReduce.runCombined — the Hadoop combiner contract the
    // reference kernel lacks. Where mr_wordcount ships EVERY (word, 1)
    // pair through the exchange and reduces whole groups, each map
    // task here folds its counts in a bounded hash map first (one
    // combined count per word per task crosses the shuffle while the
    // task's words fit the map; PlanShapeSpec checks the exchange's
    // record count). Same oracle as mr_wordcount: the combiner must be
    // output-invisible.
    "mr_combined_wordcount" -> ((s, dir) => {
      import s.implicits._
      MapReduce.runCombined(docs(s, dir), WordCountClient, (a: Long, b: Long) => a + b, mtl(s))
        .toDF("word", "cnt")
        .orderBy("word")
    }),
    // The reference's reduce-side join idiom: customer ⋈ orders through
    // the kernel (tagged union → groupByKey → whole-group reduce).
    "mr_join" -> ((s, dir) => {
      import s.implicits._
      val cust = Tables.customer(s, dir)
        .select($"c_custkey", concat(lit("C:"), $"c_name"))
        .as[(Long, String)]
      val ords = Tables.orders(s, dir)
        .select($"o_custkey",
          concat(lit("O:"), round($"o_totalprice" * 100, 0).cast("long")))
        .as[(Long, String)]
      MapReduce.run(cust.union(ords), CustomerOrderJoinClient, mtl(s))
        .select(
          $"_1".as("c_custkey"),
          $"_2._1".as("c_name"),
          $"_2._2".as("n_orders"),
          $"_2._3".as("total_spend"))
        .orderBy("c_custkey")
    }),
    // Multi-job chaining — the reference's composition pattern (run a
    // second startMapReduceJob over the first job's OutputVec): word
    // count → frequency histogram. The two kernel jobs fuse into ONE
    // lazy plan with two shuffles; the intermediate never lands on the
    // driver (the upgrade over the reference's shared output vector).
    "mr_count_of_counts" -> ((s, dir) => {
      import s.implicits._
      val words = MapReduce.run(docs(s, dir), WordCountClient, mtl(s))
      MapReduce.run(words, CountOfCountsClient, mtl(s))
        .toDF("cnt", "n_words")
        .orderBy("cnt")
    }),

    // SECONDARY SORT (lifted into the kernel API) — the
    // classic MapReduce pattern the reference's kernel cannot express:
    // its R3 sort orders by K2 ONLY, so reduce sees values in arbitrary
    // order and every order-sensitive reduce (sequence reconstruction,
    // sessionization, time-series folds) must buffer + sort per group
    // in user code — O(group) memory, the thing that dies on a hot
    // key. `MapReduce.runSorted` lowers to `flatMapSortedGroups`: the
    // value order rides the SHUFFLE's own sort machinery, the group
    // iterator arrives ordered, the reduce streams in O(1) memory per
    // group (see runSorted's scaladoc for the V2 order contract).
    // Workload: per-user event-sequence digest — count + md5 of the
    // comma-joined event types in (ts_us, event_id) order (a total
    // order, so the digest is deterministic on both engines).
    "mr_secondary_sort" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .selectExpr("user_id",
          s"struct(${QueryModule.TsUs} AS ts_us, event_id, event_type) AS ev")
        .as[(Long, (Long, Long, String))]
      // parallelism=0 (no map-side repartition): unlike the wordcount
      // family, this client's map is an identity emit — all real work
      // (sort, digest fold) happens at/after the group exchange, so a
      // spread would add a full extra shuffle of the events table for
      // nothing (measured: 0.89 s with mtl vs 0.45 s without at sf0.1).
      MapReduce.runSorted(ev, SequenceDigestClient)
        .map { case (uid, (n, md5)) => (uid, n, md5) }
        .toDF("user_id", "n_events", "seq_md5")
        .orderBy("user_id")
    }),

    // SEQUENCE-PATTERN MATCH through the kernel: the
    // MATCH_RECOGNIZE workload — users completing signup → view →
    // purchase with each step strictly later — as an O(1)-memory state
    // machine over runSorted's (ts_us, event_id) group order. SQL needs
    // three chained min-after joins (the oracle); the sorted reduce
    // does it in one pass of the one keyed exchange. Type filter
    // pushed below the shuffle: only the three step types move.
    "mr_seq_pattern" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .where($"event_type".isin("signup", "view", "purchase"))
        .selectExpr("user_id",
          s"struct(${QueryModule.TsUs} AS ts_us, event_id, event_type) AS ev")
        .as[(Long, (Long, Long, String))]
      // parallelism=0: identity map, same rationale as mr_secondary_sort.
      MapReduce.runSorted(ev, SeqPatternClient)
        .map { case (uid, (t1, t2, t3)) => (uid, t1, t2, t3) }
        .toDF("user_id", "signup_us", "view_us", "purchase_us")
        .orderBy("user_id")
    }),

    // Grouped aggregation through the kernel (TPC-H Q1 shape): the
    // reference's reduce sees the whole group; integral measures (unit
    // counts / cents) keep in-group order irrelevant.
    "mr_grouped_agg" -> ((s, dir) => {
      import s.implicits._
      val in = Tables.lineitem(s, dir)
        .selectExpr(
          "concat(l_returnflag, '|', l_linestatus) AS _1",
          "named_struct('_1', CAST(l_quantity AS BIGINT), " +
            "'_2', CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS _2")
        .as[(String, (Long, Long))]
      MapReduce.run(in, GroupedAggClient, mtl(s))
        .select(
          split($"_1", "\\|").getItem(0).as("l_returnflag"),
          split($"_1", "\\|").getItem(1).as("l_linestatus"),
          $"_2._1".as("sum_qty"),
          ($"_2._2" / 100.0).as("sum_base_price"))
        .orderBy("l_returnflag", "l_linestatus")
    })
  )

  override def oracles: Map[String, String] = Map(
    "mr_wordcount" ->
      """SELECT w AS word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |WHERE w <> ''
        |GROUP BY w
        |ORDER BY word""".stripMargin,
    // Byte-identical to mr_wordcount's oracle: the combiner is an
    // execution strategy, never a semantics change.
    "mr_combined_wordcount" ->
      """SELECT w AS word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |WHERE w <> ''
        |GROUP BY w
        |ORDER BY word""".stripMargin,
    "mr_charcount" ->
      """SELECT c AS ch, count(*) AS cnt
        |FROM (SELECT unnest(string_split(replace(text, ' ', ''), '')) AS c
        |      FROM documents)
        |GROUP BY c
        |ORDER BY ch""".stripMargin,
    "mr_join" ->
      """SELECT c.c_custkey, c.c_name, count(o.o_orderkey) AS n_orders,
        |  CAST(coalesce(sum(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spend
        |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY c.c_custkey, c.c_name
        |ORDER BY c.c_custkey""".stripMargin,
    "mr_count_of_counts" ->
      """SELECT cnt, count(*) AS n_words FROM (
        |  SELECT w, count(*) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> ''
        |  GROUP BY w)
        |GROUP BY cnt
        |ORDER BY cnt""".stripMargin,
    "mr_secondary_sort" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  md5(string_agg(event_type, ',' ORDER BY epoch_us(ts), event_id))
        |    AS seq_md5
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    // Chained min-after formulation: t2 = min view ts strictly after
    // t1, t3 = min purchase ts strictly after t2 — exactly what the
    // greedy state machine computes under the (ts_us, event_id) sort.
    "mr_seq_pattern" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events
        |  WHERE event_type IN ('signup', 'view', 'purchase')),
        |s1 AS (SELECT user_id, min(ts_us) AS t1 FROM ev
        |       WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(ts_us) AS t2 FROM ev e
        |       JOIN s1 USING (user_id)
        |       WHERE event_type = 'view' AND ts_us > t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(ts_us) AS t3 FROM ev e
        |       JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND ts_us > t2 GROUP BY e.user_id)
        |SELECT s1.user_id, t1 AS signup_us, t2 AS view_us, t3 AS purchase_us
        |FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin,
    "mr_grouped_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin
  )
}
