package graft.queries

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join/reshape shapes beyond plain equi-joins (SURVEY.md §2.2 row
  * "Joins … range/as-of"): as-of (backward) join, banded range join,
  * and unpivot.
  */
object AdvancedQueries extends QueryModule {

  /** Degree-ordered triangle counting over an undirected edge set
    * (`pairs`: distinct (u, v) with u < v, no self-loops) — the
    * library operator behind `rel_triangles`, factored so TriangleSpec
    * can property-test it against a local brute force on random
    * graphs. Returns one row (n_nodes, n_edges, n_triangles). Rank =
    * (degree, id); every edge is oriented low→high rank, bounding
    * out-degrees at O(√m), so wedge generation — the only superlinear
    * term — is O(m^1.5) worst case instead of Σdeg²'s hub explosion.
    * Both joins are plain equi-joins. */
  private[graft] def triangleStats(s: SparkSession, pairsIn: DataFrame): DataFrame = {
    import s.implicits._
    val pairs = pairsIn.persist()
    val deg = pairs.select($"u".as("n"))
      .unionAll(pairs.select($"v".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("d"))
    // Orient low→high by (degree, id); carry the high endpoint's
    // rank key so wedge endpoints can be ordered without a re-join.
    val oriented = pairs
      .join(deg.select($"n".as("u"), $"d".as("du")), "u")
      .join(deg.select($"n".as("v"), $"d".as("dv")), "v")
      .select(
        when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"),
          struct($"u".as("lo"), $"v".as("hi"), $"dv".as("dhi")))
          .otherwise(struct($"v".as("lo"), $"u".as("hi"), $"du".as("dhi")))
          .as("e"))
      .select($"e.lo".as("lo"), $"e.hi".as("hi"), $"e.dhi".as("dhi"))
      .persist()
    val wedges = oriented.select($"lo", $"hi".as("h1"), $"dhi".as("d1"))
      .join(oriented.select($"lo", $"hi".as("h2"), $"dhi".as("d2")), "lo")
      .where($"d1" < $"d2" || ($"d1" === $"d2" && $"h1" < $"h2"))
    // rank(h1) < rank(h2) ⇒ the closing edge, if present, is
    // oriented (h1 → h2): one equi-join decides each wedge.
    val tris = wedges
      .join(oriented.select($"lo".as("h1"), $"hi".as("h2")), Seq("h1", "h2"))
      .agg(count(lit(1)).as("n_triangles"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    val edges = pairs.agg(count(lit(1)).as("n_edges"))
    nodes.crossJoin(broadcast(edges)).crossJoin(broadcast(tris))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // AS-OF JOIN, backward: each purchase matched to the same user's
    // most recent earlier view. Implemented as union + one window pass
    // (single shuffle on user_id) instead of an inequality join — the
    // form that scales: an inequality join is O(n·m) per user, the
    // window pass is O(n log n) total and AQE-friendly.
    "rel_asof_join" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .where($"event_type".isin("view", "purchase"))
        .selectExpr("user_id", "event_id", s"${QueryModule.TsUs} AS ts_us",
          "event_type",
          s"CASE WHEN event_type = 'view' THEN ${QueryModule.TsUs} END AS view_ts")
      val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      ev.withColumn("prior_view_ts", last($"view_ts", ignoreNulls = true).over(w))
        .where($"event_type" === "purchase")
        .select($"user_id", $"event_id", $"ts_us", $"prior_view_ts")
        .orderBy("user_id", "event_id")
    }),

    // RANGE (theta) JOIN: events banded by value against a tiny inline
    // dimension. The band side broadcasts (BNLJ); at 100 TB you'd
    // precompute the band with a CASE/width_bucket instead — the join
    // form is here to cover the operator.
    "rel_range_join" -> ((s, dir) => {
      import s.implicits._
      val bands = Seq(
        ("p00_050", 0.0, 50.0), ("p05_100", 50.0, 100.0),
        ("p10_200", 100.0, 200.0), ("p20_500", 200.0, 500.0)
      ).toDF("band", "lo", "hi")
      Tables.events(s, dir)
        .join(broadcast(bands), $"value" >= $"lo" && $"value" < $"hi")
        .groupBy($"band")
        .agg(count(lit(1)).as("n"),
          sum($"value".cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy("band")
    }),

    // WIDTH-BUCKET BAND PROJECTION — the 100-TB sibling
    // rel_range_join's own comment names: the same banding computed as
    // a PROJECTION instead of an inequality join. Fixed band edges are
    // data the planner can fold into a CASE ladder, so the plan is one
    // narrow codegen'd projection + one partial+final aggregate — no
    // join operator at ALL (PlanShapeSpec asserts no
    // BroadcastNestedLoopJoin, the shape the join form pays). Same
    // bands, same half-open [lo, hi) semantics, and the SAME oracle
    // SQL as rel_range_join — the emb_blocked_pairs pairing pattern:
    // the driver independently proves the projection reproduces the
    // join's output bit for bit. This is the form that survives scale:
    // the BNLJ form evaluates n_bands predicates per row THROUGH a
    // join operator (and unmatched rows die in the join); here
    // unmatched rows die in a filter and the per-row cost is one
    // branch ladder inside whole-stage codegen.
    "rel_band_bucket" -> ((s, dir) => {
      import s.implicits._
      val bands = Seq(
        ("p00_050", 0.0, 50.0), ("p05_100", 50.0, 100.0),
        ("p10_200", 100.0, 200.0), ("p20_500", 200.0, 500.0))
      val ladder = bands.foldRight(lit(null).cast("string")) {
        case ((name, lo, hi), tail) =>
          when($"value" >= lo && $"value" < hi, lit(name)).otherwise(tail)
      }
      Tables.events(s, dir)
        .withColumn("band", ladder)
        .where($"band".isNotNull)
        .groupBy($"band")
        .agg(count(lit(1)).as("n"),
          sum($"value".cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy("band")
    }),

    // Exact percentiles (interpolating): per event type, p50/p90/p99 of
    // value, floored to micros — Spark `percentile` and DuckDB
    // `quantile_cont` share the (n-1)·p interpolation definition.
    "rel_percentiles" -> ((s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy($"event_type")
        .agg(
          count(lit(1)).as("n"),
          floor(expr("percentile(value, 0.5)") * 1000000).cast("long").as("p50_e6"),
          floor(expr("percentile(value, 0.9)") * 1000000).cast("long").as("p90_e6"),
          floor(expr("percentile(value, 0.99)") * 1000000).cast("long").as("p99_e6"))
        .orderBy("event_type")
    }),

    // Approximate quantiles: the mergeable-sketch counterpart of
    // rel_percentiles. Rows-only by contract (the sketch result depends
    // on partition merge order), cross-checked against the exact
    // percentiles in SketchSpec. At 100 TB this is the form you run:
    // fixed-size partial sketches merge associatively (map-side
    // combine), where exact percentile needs every group's values
    // gathered and sorted.
    "rel_approx_quantiles" -> ((s, dir) => {
      import s.implicits._
      val out = Tables.events(s, dir)
        .groupBy($"event_type")
        .agg(
          count(lit(1)).as("n"),
          floor(expr("approx_percentile(value, 0.5, 10000)") * 1000000).cast("long").as("p50_e6"),
          floor(expr("approx_percentile(value, 0.9, 10000)") * 1000000).cast("long").as("p90_e6"),
          floor(expr("approx_percentile(value, 0.99, 10000)") * 1000000).cast("long").as("p99_e6"))
        .orderBy("event_type")
      // In-path gate: approx_percentile's contract is a RANK bound, not
      // a value bound (the KLL-style sketch returns an actual element
      // within rank error n/accuracy of the target; merged partials
      // degrade with partition count, so a value-relative gate is
      // partitioning-sensitive — a 5% check that held on local[32]
      // tripped on local-cluster's different merge order at the sparse
      // p99 tail of the tiny smoke fixture). The gate therefore
      // asserts the principled property: each sketch percentile lies
      // within the exact interpolated [p−1%, p+1%] VALUE band of its
      // group — a generous rank margin (the configured accuracy's own
      // bound is 0.01% per partial) that is partitioning-independent.
      // p99's upper band is the exact max. Ground truth is one exact
      // pass over the same groups.
      QueryModule.gated("rel_approx_quantiles", out) { rows =>
        def e6(sql: String) = floor(expr(sql) * 1000000).cast("long")
        val exact = Tables.events(s, dir)
          .groupBy($"event_type")
          .agg(
            e6("percentile(value, 0.49)").as("p50_lo"),
            e6("percentile(value, 0.51)").as("p50_hi"),
            e6("percentile(value, 0.89)").as("p90_lo"),
            e6("percentile(value, 0.91)").as("p90_hi"),
            e6("percentile(value, 0.98)").as("p99_lo"),
            e6("percentile(value, 1.0)").as("p99_hi"))
          .collect()
          .map(r => r.getString(0) ->
            Seq((r.getLong(1), r.getLong(2)), (r.getLong(3), r.getLong(4)),
              (r.getLong(5), r.getLong(6))))
          .toMap
        require(rows.map(_.getString(0)).toSet == exact.keySet,
          "rel_approx_quantiles gate: group sets diverge from exact")
        rows.foreach { r =>
          val k = r.getString(0)
          Seq(r.getLong(2), r.getLong(3), r.getLong(4)).zip(exact(k))
            .zipWithIndex.foreach { case ((a, (lo, hi)), i) =>
              // ±1 covers the independent e6 floor roundings.
              require(a >= lo - 1 && a <= hi + 1,
                s"rel_approx_quantiles gate: $k p${Seq(50, 90, 99)(i)} " +
                  s"approx $a outside the exact rank band [$lo, $hi]")
            }
        }
      }
    }),

    // UNPIVOT (wide→long): part metrics melted to (key, metric, value).
    "rel_unpivot" -> ((s, dir) => {
      import s.implicits._
      Tables.part(s, dir)
        .where($"p_partkey" < 50)
        .select($"p_partkey",
          $"p_size".cast("double").as("size"),
          $"p_retailprice".as("retailprice"))
        .unpivot(Array($"p_partkey"), Array($"size", $"retailprice"),
          "metric", "value")
        .orderBy("p_partkey", "metric")
    }),

    // Z-ORDER write layout: interleave the low 16 bits of two join/scan
    // dimensions (part, supplier) into one Morton key — the multi-
    // column clustering trick behind data-skipping layouts. At 100 TB
    // the write path is `repartitionByRange($"z") .sortWithinPartitions
    // ($"z") .write`, after which parquet min/max page stats are
    // selective on BOTH dimensions at once (a sort on partkey alone
    // leaves suppkey scans full-table). This query materializes the
    // verifiable part: the per-z-bucket profile, whose tight
    // distinct-part/supp counts per bucket ARE the locality the layout
    // exists to create. All integer shift/mask arithmetic (the classic
    // bit-spreading ladder), identical on both engines.
    "pipe_zorder_layout" -> ((s, dir) => {
      import s.implicits._
      def spread(x: Column): Column =
        Seq((8, 16711935L), (4, 252645135L), (2, 858993459L), (1, 1431655765L))
          .foldLeft(x.bitwiseAND(lit(65535L))) { case (c, (sh, mask)) =>
            c.bitwiseOR(shiftleft(c, sh)).bitwiseAND(lit(mask))
          }
      Tables.lineitem(s, dir)
        .select($"l_partkey", $"l_suppkey",
          spread($"l_partkey").bitwiseOR(shiftleft(spread($"l_suppkey"), 1))
            .as("z"))
        .groupBy(expr("z div 65536").as("zbucket"))
        .agg(count(lit(1)).as("n"),
          countDistinct($"l_partkey").as("n_parts"),
          countDistinct($"l_suppkey").as("n_supps"))
        .orderBy("zbucket")
    }),

    // TRIANGLE COUNTING — the third graph primitive beside
    // connected components (frontier) and PageRank (dense iteration):
    // clustering/community structure over the co-purchase graph
    // (parts appearing in the same order; the %4 slice keeps the
    // fixture graph analysis-sized). The scale shape is DEGREE-ORDERED
    // ORIENTATION, the canonical distributed-triangle trick: rank
    // nodes by (degree, id), orient every edge low→high rank, generate
    // wedges by self-joining oriented edges on their LOW endpoint, and
    // close each wedge against the oriented edge set. Orientation
    // bounds every out-degree by O(√m), so the wedge count — the only
    // superlinear term — is O(m^1.5) worst case instead of Σdeg²'s
    // hub-explosion (a celebrity node of degree d contributes d² naive
    // wedges but ~m oriented ones). Both joins are plain equi-joins
    // (hash/SMJ at scale, no broadcast needed). The reported counts
    // (nodes/edges/triangles) are orientation-INVARIANT, so the oracle
    // counts the same triangles with the simple id-ordered triple join
    // — proving the optimized orientation changed nothing.
    "rel_triangles" -> ((s, dir) => {
      import s.implicits._
      val li = Tables.lineitem(s, dir)
        .where($"l_partkey" % 4 === 0)
        .select($"l_orderkey", $"l_partkey")
      val pairs = li.alias("a")
        .join(li.alias("b"),
          $"a.l_orderkey" === $"b.l_orderkey" &&
            $"a.l_partkey" < $"b.l_partkey")
        .select($"a.l_partkey".as("u"), $"b.l_partkey".as("v"))
        .distinct()
      triangleStats(s, pairs)
    }),

    // PAGERANK, fixed-point: 5 synchronous rounds of the random-
    // surfer update over the part↔supplier bipartite graph derived
    // from lineitem (edges = DISTINCT (l_partkey, l_suppkey) in both
    // directions; nodes encoded part→2k, supplier→2k+1 — symmetric, so
    // no dangling mass). All arithmetic is exact BIGINT fixed point
    // (init rank 1e12; r' = 0.15·1e12 + (85·Σ contrib) div 100, each
    // contrib = rank div outdeg — truncating integer division,
    // identical on both engines), so the oracle REPLAYS the identical
    // iteration as five chained CTEs and the driver hash-compares
    // exact integers: no float accumulation-order divergence, the
    // emb_kmeans fixed-point policy applied to graph iteration. Scale
    // shape: the EDGE list — annotated with outdeg once, persisted —
    // is the big side and never re-derives; per round the node-sized
    // rank table BROADCASTS onto it and one partial+final aggregate on
    // dst yields the next ranks, so an iteration costs one edge pass
    // plus a per-partition-combined shuffle of node rows. Unlike
    // dedup_clusters' frontier (delta-converging), PageRank updates
    // every node every round — the dense-iteration sibling. RDD-cut
    // per round keeps analyzer cost flat (the connectedComponents
    // discipline; 5 rounds would survive without it, 50 would not).
    // The per-round broadcast is GUARDED by node count (the
    // connectedComponents broadcastFrontierMax discipline): under 1M
    // nodes a rank row is ~16 bytes so the broadcast table is tens of
    // MB — cheaper than shuffling the edge list; above the bound the
    // rank table scales with the data and a forced broadcast would
    // OOM the driver/executors at a billion-node graph, so the join
    // degrades to a sort-merge/shuffle-hash join on src (the edge
    // side is already hash-partitionable on src; AQE picks the
    // strategy). PlanShapeSpec tolerates either join form.
    "rel_pagerank" -> ((s, dir) => {
      import s.implicits._
      val e0 = Tables.lineitem(s, dir)
        .select(($"l_partkey" * 2).as("src"), ($"l_suppkey" * 2 + 1).as("dst"))
        .distinct()
      val edges = e0.unionAll(e0.select($"dst".as("src"), $"src".as("dst")))
      val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
      val ed = edges.join(deg, "src").persist()
      // Every round's rank table is PERSISTED: broadcast() builds its
      // table by executing the input plan, so an uncached round-k
      // table would re-run rounds 1..k-1 through the edge join —
      // O(rounds²) edge passes. No eager count/unpersist per round
      // (the connectedComponents discipline) on purpose: round k+1's
      // broadcast is the action that materializes cut_k — lazily, in
      // order, through the already-cached predecessor — and the five
      // node-sized caches are negligible next to the edge cache, so
      // the per-round forcing job would only add scheduling overhead.
      // Caller clearCache drops all of it (QueryModule contract).
      var ranks = deg.select($"src".as("node"), lit(1000000000000L).as("pr"))
        .persist()
      // Node count for the broadcast guard, measured on the init rank
      // table — the count() doubles as the cache-forcing action the first round
      // would otherwise pay inside its broadcast build, so the guard
      // costs one scan of already-cached node rows, not an extra pass.
      // Same bound as connectedComponents' broadcastFrontierMax.
      val nodeCount = ranks.count()
      val broadcastNodeMax = 1000000L
      def maybeBroadcast(df: DataFrame): DataFrame =
        if (nodeCount <= broadcastNodeMax) broadcast(df) else df
      for (_ <- 1 to 5) {
        val next = ed.join(maybeBroadcast(ranks), $"src" === $"node")
          .select($"dst", expr("pr div deg").as("c"))
          .groupBy($"dst")
          .agg(expr("150000000000L + (85 * sum(c)) div 100").as("pr"))
          .select($"dst".as("node"), $"pr")
        // localCheckpoint: same lineage cut as the old
        // createDataFrame(next.rdd) (plans over a Scan ExistingRDD of
        // materialized rows — analyzer cost stays flat), but the rows
        // stay INTERNAL: the RDD-cut route deserialized every node row
        // to external Row and re-converted per round, and JobProfile
        // billed the rounds ~0.7 s of that churn. Eager, so each round
        // materializes here; replaces the per-round persist.
        ranks = next.localCheckpoint()
      }
      ranks.orderBy($"pr".desc, $"node").limit(50)
    }),

    // DYNAMIC PARTITION PRUNING: the partition-elimination
    // mechanism that decides SCAN volume at 100 TB — a fact table
    // laid out by day must not be re-scanned in full when the query
    // joins it against a dim whose filter is only known at runtime.
    // Stage: events written `partitionBy(d)` (repartitioned by day
    // first so each partition is one file, the layout discipline a
    // real table would have); dim: the "busy" days — strictly above
    // the mean signups/day, a predicate Catalyst cannot fold into a
    // static partition filter because it depends on an aggregate.
    // The dim broadcasts (it is day-sized at any SF), and Catalyst's
    // PartitionPruning rule reuses that broadcast as a pruning
    // subquery on the fact scan: the plan carries
    // `dynamicpruningexpression(d IN dynamicpruning#N)` in the scan's
    // PartitionFilters, so only busy-day directories are read.
    // PlanShapeSpec asserts both the expression and the runtime
    // "partitions read" metric via the inner-plan registry. The
    // output itself is exact relational algebra — full DuckDB oracle
    // over the unpartitioned fixture.
    "rel_partition_prune" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_dpp_") { stage =>
        val facts = s"$stage/events_by_day"
        Tables.events(s, dir)
          .withColumn("d", to_date($"ts_utc"))
          .repartition($"d")
          .write.partitionBy("d").parquet(facts)
        val fact = s.read.parquet(facts)
        val daily = Tables.events(s, dir)
          .where($"event_type" === "signup")
          .groupBy(to_date($"ts_utc").as("d"))
          .agg(count(lit(1)).as("n_signups"))
        val tot = daily.agg(count(lit(1)).as("n_days"),
          sum($"n_signups").as("total"))
        val dim = daily.crossJoin(broadcast(tot))
          .where($"n_signups" * $"n_days" > $"total")
          .select($"d", $"n_signups")
        val out = fact.join(broadcast(dim), Seq("d"))
          .groupBy($"d")
          .agg(count(lit(1)).as("n_events"),
            countDistinct($"user_id").as("n_users"),
            max($"n_signups").as("n_signups"))
          .orderBy("d")
        QueryModule.gatedPlans.put("rel_partition_prune", out)
        val local = graft.sources.GraftSession.materialize(s, out)
        // In-path witness: the executed fact scan must carry the DPP
        // subquery — without it this query silently reads every day.
        require(out.queryExecution.executedPlan.toString
            .contains("dynamicpruning"),
          "rel_partition_prune: fact scan lost its dynamic pruning filter")
        local
      }
    })
  )

  /** ONE oracle text for the inequality-join band form and its
    * width-bucket projection sibling (same pattern as
    * EmbeddingQueries.CosinePairsSql): identical SQL means the driver
    * proves output equality across the two plans. */
  private val RangeBandSql =
    """WITH bands(band, lo, hi) AS (VALUES
      |  ('p00_050', 0.0, 50.0), ('p05_100', 50.0, 100.0),
      |  ('p10_200', 100.0, 200.0), ('p20_500', 200.0, 500.0))
      |SELECT band, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events JOIN bands ON value >= lo AND value < hi
      |GROUP BY band
      |ORDER BY band""".stripMargin

  override def oracles: Map[String, String] = Map(
    "rel_asof_join" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
        |    CASE WHEN event_type = 'view' THEN epoch_us(ts) END AS view_ts
        |  FROM events
        |  WHERE event_type IN ('view', 'purchase'))
        |SELECT user_id, event_id, ts_us, prior_view_ts FROM (
        |  SELECT user_id, event_id, ts_us, event_type,
        |    last_value(view_ts IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_view_ts
        |  FROM ev)
        |WHERE event_type = 'purchase'
        |ORDER BY user_id, event_id""".stripMargin,
    // Orientation-invariant counts via the simple id-ordered triple
    // join — the degree-ordered plan must change nothing.
    "rel_triangles" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
        |            WHERE l_partkey % 4 = 0),
        |e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |      FROM li a JOIN li b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |n AS (SELECT count(DISTINCT x) AS n_nodes FROM
        |        (SELECT u AS x FROM e UNION ALL SELECT v FROM e)),
        |m AS (SELECT count(*) AS n_edges FROM e),
        |t AS (SELECT count(*) AS n_triangles
        |      FROM e e1
        |      JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
        |      JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v)
        |SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
        |  CAST(n_edges AS BIGINT) AS n_edges,
        |  CAST(n_triangles AS BIGINT) AS n_triangles
        |FROM n, m, t""".stripMargin,

    "rel_range_join" -> RangeBandSql,
    // IDENTICAL oracle text: the driver independently proves the
    // projection form reproduces the inequality-join form bit for bit
    // (the emb_cosine_pairs/emb_blocked_pairs pairing pattern).
    "rel_band_bucket" -> RangeBandSql,
    "rel_percentiles" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(floor(quantile_cont(value, 0.5) * 1000000) AS BIGINT) AS p50_e6,
        |  CAST(floor(quantile_cont(value, 0.9) * 1000000) AS BIGINT) AS p90_e6,
        |  CAST(floor(quantile_cont(value, 0.99) * 1000000) AS BIGINT) AS p99_e6
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "rel_unpivot" ->
      """SELECT p_partkey, metric, value FROM (
        |  SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value
        |  FROM part WHERE p_partkey < 50
        |  UNION ALL
        |  SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value
        |  FROM part WHERE p_partkey < 50)
        |ORDER BY p_partkey, metric""".stripMargin,
    // Same bit-spreading ladder, stepwise through CTEs (identical
    // constants as the Spark fold).
    "pipe_zorder_layout" ->
      """WITH b AS (SELECT l_partkey, l_suppkey,
        |    l_partkey & 65535 AS a0, l_suppkey & 65535 AS b0 FROM lineitem),
        |s1 AS (SELECT *, (a0 | (a0 << 8)) & 16711935 AS a1,
        |               (b0 | (b0 << 8)) & 16711935 AS b1 FROM b),
        |s2 AS (SELECT *, (a1 | (a1 << 4)) & 252645135 AS a2,
        |               (b1 | (b1 << 4)) & 252645135 AS b2 FROM s1),
        |s3 AS (SELECT *, (a2 | (a2 << 2)) & 858993459 AS a3,
        |               (b2 | (b2 << 2)) & 858993459 AS b3 FROM s2),
        |s4 AS (SELECT *, (a3 | (a3 << 1)) & 1431655765 AS a4,
        |               (b3 | (b3 << 1)) & 1431655765 AS b4 FROM s3)
        |SELECT (a4 | (b4 << 1)) // 65536 AS zbucket, count(*) AS n,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps
        |FROM s4
        |GROUP BY 1
        |ORDER BY zbucket""".stripMargin,

    // The identical fixed-point iteration, unrolled: five chained CTEs
    // replay r' = 0.15e12 + (85·Σ(pr // deg)) // 100 exactly (// on
    // positive BIGINTs ≡ Spark's div).
    "rel_pagerank" -> {
      val step = (i: Int) =>
        s"""r$i AS (SELECT dst AS node,
           |  CAST(150000000000 + (85 * CAST(sum(pr // deg) AS BIGINT)) // 100
           |    AS BIGINT) AS pr
           |  FROM ed JOIN r${i - 1} ON ed.src = r${i - 1}.node GROUP BY dst)"""
          .stripMargin
      s"""WITH e0 AS (SELECT DISTINCT l_partkey * 2 AS src,
         |    l_suppkey * 2 + 1 AS dst FROM lineitem),
         |edges AS (SELECT src, dst FROM e0
         |          UNION ALL SELECT dst AS src, src AS dst FROM e0),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |ed AS (SELECT edges.src, edges.dst, deg.deg
         |       FROM edges JOIN deg USING (src)),
         |r0 AS (SELECT src AS node, CAST(1000000000000 AS BIGINT) AS pr
         |       FROM deg),
         |${(1 to 5).map(step).mkString(",\n")}
         |SELECT node, pr FROM r5 ORDER BY pr DESC, node LIMIT 50""".stripMargin
    },

    // Same algebra over the unpartitioned fixture — the staged layout
    // changes WHAT IS READ, never the result.
    "rel_partition_prune" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d, count(*) AS n_signups
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |tot AS (SELECT count(*) AS n_days, sum(n_signups) AS total
        |        FROM daily),
        |dim AS (SELECT d, n_signups FROM daily, tot
        |        WHERE n_signups * n_days > total)
        |SELECT e.d, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
        |  CAST(max(dim.n_signups) AS BIGINT) AS n_signups
        |FROM (SELECT CAST(ts AS DATE) AS d, user_id FROM events) e
        |JOIN dim USING (d)
        |GROUP BY e.d
        |ORDER BY d""".stripMargin
  )
}
