package graft.queries

import graft.SparkSpec

/** Physical-plan regression guards: correctness gates don't catch a
  * query that silently stops pushing filters or broadcasting dims —
  * these do. (SURVEY.md: "iterate until it's the plan you'd want".) */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, sf001)
      .queryExecution.executedPlan.toString

  /** Plan of a GATED (rows-only) query: `gated()` returns a local
    * relation of the checked rows, so the real physical plan must be
    * read from the inner-plan registry it populates. */
  private def gatedPlan(name: String): String = {
    graft.SparkEntry.queries(name)(spark, sf001)
    QueryModule.gatedPlans.get(name).queryExecution.executedPlan.toString
  }

  test("filter+project reaches the parquet scan (pushdown + pruning)") {
    val p = plan("rel_filter_topn")
    assert(p.contains("PushedFilters: [IsNotNull"), "no pushed filters in scan")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_extendedprice:double"),
      "scan reads more columns than the projection needs")
  }

  test("global top-k avoids a full sort (TakeOrderedAndProject)") {
    assert(plan("rel_topk").contains("TakeOrderedAndProject"))
  }

  test("star join broadcasts the dimension side") {
    assert(plan("rel_join_revenue").contains("BroadcastHashJoin"))
  }

  test("semi/anti joins lower to the dedicated join types") {
    assert(plan("rel_semi_join").contains("LeftSemi"))
    assert(plan("rel_anti_join").contains("LeftAnti"))
  }

  test("q1 aggregation is partial+final hash agg (map-side combine)") {
    val p = plan("rel_q1_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expected partial and final HashAggregate")
  }

  test("kNN broadcasts the probe side, never shuffles the scan side") {
    val p = plan("emb_knn")
    assert(p.contains("BroadcastNestedLoopJoin"))
  }

  test("levenshtein pair mining is an equi-join on deletion variants, not all-pairs") {
    // r16: del≤2 SymSpell blocking — the candidate join must stay a
    // keyed join on the variant; a BNLJ/cross here is the O(vocab²)
    // all-pairs plan the rewrite exists to kill.
    val p = plan("txt_levenshtein")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "candidate join degenerated to BNLJ")
    assert(!p.contains("CartesianProduct"),
      "candidate join degenerated to a cross join")
  }

  test("jaccard candidate join is an equi-join on the shingle hash, not all-pairs") {
    val p = plan("dedup_ngram_jaccard")
    // The candidate self-join must stay keyed (hash/sort-merge on the
    // shingle hash); a BroadcastNestedLoopJoin or CartesianProduct here
    // means an "optimization" regressed the prefix index to all-pairs.
    assert(!p.contains("BroadcastNestedLoopJoin"), "candidate join degenerated to BNLJ")
    assert(!p.contains("CartesianProduct"), "candidate join degenerated to a cross join")
    assert(p.contains("sh_h"), "candidate join lost its shingle-hash key")
  }

  test("only fixed-width columns cross the jaccard candidate shuffle") {
    val df = graft.SparkEntry.queries("dedup_ngram_jaccard")(spark, sf001)
    // Inspect every Exchange in the candidate subplan: the prefix index
    // rows that shuffle into the self-join must carry only fixed-width
    // types (doc_id, xxhash64(shingle), sz, rk) — the moment a string
    // shingle or the ss array rides a candidate-side exchange, shuffle
    // bytes scale with document text again.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    // AQE wraps the real plan; collect inside it.
    val physical = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = physical.collect { case e: Exchange => e }
    assert(exchanges.nonEmpty, "expected shuffles in the candidate plan")
    val candidateExchanges = exchanges.filter(_.output.exists(_.name == "sh_h"))
    assert(candidateExchanges.nonEmpty, "no exchange carries the prefix index")
    candidateExchanges.foreach { e =>
      val varWidth = e.output.filterNot(a =>
        a.dataType == org.apache.spark.sql.types.LongType ||
          a.dataType == org.apache.spark.sql.types.IntegerType)
      assert(varWidth.isEmpty,
        s"variable-width columns cross the candidate shuffle: ${varWidth.map(_.name)}")
    }
  }

  test("span dedup: gram strings never cross an exchange (fingerprints do)") {
    val df = graft.SparkEntry.queries("dedup_spans")(spark, sf001)
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val physical = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // The first-occurrence ranking partitions on the 128-bit (h1, h2)
    // fingerprint; the moment an exchange carries the 8-token gram
    // STRING, shuffle bytes scale with text again — the exact failure
    // mode the fingerprint exists to prevent at 100 TB.
    val exchanges = physical.collect { case e: Exchange => e }
    assert(exchanges.nonEmpty, "expected a ranking shuffle in the span plan")
    exchanges.foreach { e =>
      assert(!e.output.exists(_.name == "gram"),
        s"gram string crosses an exchange: ${e.output.map(_.name)}")
    }
    assert(exchanges.exists(_.output.exists(_.name == "h1")),
      "no exchange carries the gram fingerprint — ranking key changed")
  }

  test("stratified sample aggregates bounded buffers — no window, partial+final") {
    val p = plan("pipe_stratified_sample")
    // The entire point vs the pipe_domain_mix window formulation: a
    // Window node here means the plan regressed to shuffling the whole
    // table into one partition per stratum.
    assert(!p.contains("Window"), "stratified sample regressed to a window plan")
    // Typed-Aggregator aggregation with a partial (map-side) phase.
    assert(p.contains("ObjectHashAggregate"), "TopKOrderedAgg agg node missing")
    assert(p.contains("partial"), "aggregation lost its map-side partial phase")
  }

  test("snapshot diff: text never crosses an exchange (digests do)") {
    val df = graft.SparkEntry.queries("pipe_snapshot_diff")(spark, sf001)
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val physical = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // The diff's at-scale contract: md5 computes scan-side, so the
    // full-outer join shuffles (doc_id, lang, digest) — a `text`
    // column in any exchange means snapshot diffing started moving
    // corpus bytes again.
    val exchanges = physical.collect { case e: Exchange => e }
    assert(exchanges.nonEmpty, "expected join shuffles in the diff plan")
    exchanges.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"text crosses an exchange: ${e.output.map(_.name)}")
    }
  }

  test("blocked cosine pair join is equi-keyed end to end — no cartesian") {
    val p = plan("emb_blocked_pairs")
    // The whole point vs emb_cosine_pairs: candidate generation rides
    // broadcast-hash fan-outs and the verify stage an equi-join on the
    // cell-pair id — a CartesianProduct or BNLJ here means the blocked
    // structure regressed to all-pairs.
    assert(!p.contains("CartesianProduct"), "blocked join degenerated to a cross join")
    assert(!p.contains("BroadcastNestedLoopJoin"), "blocked join degenerated to BNLJ")
    assert(p.contains("pid"), "verify join lost its pair-id key")
  }

  test("bucketed join runs with zero shuffle exchanges below the join") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val wh = java.nio.file.Files.createTempDirectory("graft_bkt_spec_")
    try {
      graft.operators.BucketedJoin.writeBucketed(spark, sf001, wh.toString)
      val df = graft.operators.BucketedJoin.plan(spark)
      val physical = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val smjs = physical.collect { case j: SortMergeJoinExec => j }
      assert(smjs.nonEmpty, s"expected a SortMergeJoin:\n$physical")
      // The co-location claim: NO exchange anywhere under the join —
      // both bucketed scans feed it directly. (The rollup above the
      // join still shuffles on its own key, which is fine.)
      smjs.foreach { j =>
        val shuffles = j.collect { case e: ShuffleExchangeExec => e }
        assert(shuffles.isEmpty,
          s"bucketed join still shuffles below the join:\n$j")
      }
      // And the layout is semantics-preserving: same rowcount as the
      // plain join.
      assert(df.collect().map(_.getLong(1)).sum ==
        graft.sources.Tables.orders(spark, sf001).count())
    } finally {
      graft.operators.BucketedJoin.dropTables(spark)
      graft.sources.GraftSession.deleteTree(wh)
    }
  }

  test("q4 EXISTS lowers to a semi-join; q21 keeps the semi+anti self-join pair") {
    val p4 = plan("tpch_q4")
    assert(p4.contains("LeftSemi"), "q4 EXISTS did not lower to a semi-join")
    val p21 = plan("tpch_q21")
    assert(p21.contains("LeftSemi") && p21.contains("LeftAnti"),
      "q21 lost its EXISTS/NOT-EXISTS join pair")
  }

  test("q13 keeps the outer join (filter stays in the join condition)") {
    // Q13's point is the left-outer join with the priority predicate in
    // the ON clause — if a rewrite pushes it to a WHERE, zero-order
    // customers vanish and the join may degrade to inner.
    val p = plan("tpch_q13")
    assert(p.contains("LeftOuter"), "q13 outer join degraded to inner")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "q13 lost one of its two aggregation levels")
  }

  test("q2 min-cost-per-part is a window, not a rejoined subquery") {
    val p = plan("tpch_q2")
    assert(p.contains("Window"), "q2 lost its partitioned-min window")
    assert(!p.contains("CartesianProduct"), "q2 grew a cross join")
    assert(p.contains("BroadcastHashJoin"), "q2 stopped broadcasting the dims")
  }

  test("q19's disjunctive predicate still extracts the equi-join key") {
    // The three OR'd conjunct groups mix part and lineitem columns;
    // Catalyst must still see l_partkey = p_partkey as the join key —
    // a BNLJ here reads the whole lineitem per part partition.
    val p = plan("tpch_q19")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "q19 degenerated to a non-equi join")
  }

  test("salted join runs the shuffle path it exists to spread") {
    // At fixture scale Catalyst would broadcast the dim side and the
    // salt would route nothing; the shuffle_hash hint pins the at-scale
    // path so the salted shuffle is what the plan actually exercises.
    val p = plan("rel_salted_join")
    assert(p.contains("ShuffledHashJoin"),
      "salted fact⋈dim join is not a shuffled hash join")
  }

  test("embedding dedup pairs only inside a coarse cell (equi-join on label)") {
    val p = plan("dedup_embedding")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "embedding dedup degenerated to all-pairs across cells")
  }

  test("CMS estimate join broadcasts the sketch table; build is partial+final") {
    val p = gatedPlan("txt_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"),
      "the 4×1024 CMS table should broadcast against the candidates")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "CMS build lost its map-side partial aggregation")
  }

  test("outlier flagging broadcasts the per-type threshold table") {
    assert(plan("ev_outliers").contains("BroadcastHashJoin"),
      "threshold join-back should broadcast, not shuffle the fact side")
  }

  test("moving aggregate runs one window pass with a range frame") {
    val p = plan("ev_moving_agg")
    assert(p.contains("RangeFrame"), "moving aggregate lost its range frame")
    assert("\\+- Window ".r.findAllIn(p).size == 1,
      "both frame aggregates must share one Window pass")
  }

  test("lm score broadcasts vocab-sized count tables onto the bigram stream") {
    val p = plan("txt_lm_score")
    assert(p.contains("BroadcastHashJoin"),
      "bigram/left-count lookups must broadcast")
    assert(!p.contains("CartesianProduct"),
      "the scalar vocab size must broadcast, not go cartesian")
    assert(!p.contains("SortMergeJoin"),
      "count tables are vocab-sized — a shuffle join means they stopped broadcasting")
  }

  test("abtest: one scan, conditional partial+final aggregate, no join") {
    val p = plan("ev_abtest")
    assert(!p.contains("Join"), "both variants must pivot in one aggregate")
    assert("FileScan|Scan parquet".r.findAllIn(p).size <= 1,
      "abtest re-scans the table per variant")
    assert("HashAggregate|SortAggregate|ObjectHashAggregate".r
        .findAllIn(p).size >= 2,
      "sufficient statistics lost their partial/final split")
  }

  test("combiner wordcount partial-aggregates before the exchange") {
    // The property itself rather than an operator name: each map task
    // ships at most one combined count per word, which is far fewer
    // records than the input's tokens.
    import org.apache.spark.sql.functions._
    val df = graft.SparkEntry.queries("mr_combined_wordcount")(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "one keyed exchange only — combined values ship, not raw pairs")
    val Seq((mapTasks, shipped)) = keyedShuffleWrites(df)
    val words = df.count()
    val tokens = spark.read.parquet(s"$sf001/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").count()
    assert(shipped <= mapTasks * words,
      s"$shipped records from $mapTasks map tasks over $words words")
    assert(shipped < tokens, s"$shipped records shipped for $tokens tokens")
  }

  test("kernel plans group on the key column, with no appended key copy") {
    // Grouping through a key lambda plans AppendColumns, which decodes
    // every pair and ships the key a second time.
    Seq("mr_wordcount", "mr_combined_wordcount", "mr_secondary_sort")
      .foreach { q =>
        assert(!plan(q).contains("AppendColumns"), s"$q plans AppendColumns")
      }
  }

  test("cdc roundtrip is exactly two keyed full-outer merges, no window") {
    val p = plan("pipe_cdc_roundtrip")
    assert("FullOuter".r.findAllIn(p).size == 2,
      "apply + undo must each be one full-outer join")
    assert(!p.contains("Window"), "no window machinery in the merge path")
  }

  test("seq pattern rides one group exchange; step-type filter reaches the scan") {
    val p = plan("mr_seq_pattern")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "state machine must ride the single keyed exchange")
    assert(p.contains("PushedFilters: [In(event_type"),
      "step-type filter must reach the parquet scan")
  }

  test("expectations: table checks share one scan; RI checks are broadcast anti-joins") {
    val p = plan("pipe_expectations")
    assert(p.contains("LeftAnti"),
      "referential integrity must lower to anti-joins")
    assert(!p.contains("CartesianProduct"), "no RI check may go cartesian")
    // lineitem appears exactly twice: once under the 4-metric stacked
    // aggregate, once as the fact side of the l_orderkey RI anti-join —
    // a third scan means a single-table check stopped sharing.
    assert("lineitem\\.parquet".r.findAllIn(p).size == 2,
      "lineitem single-table checks must share one aggregate scan")
  }

  test("pagerank: rounds are plan-cut; result is heap top-k over the last round") {
    val p = plan("rel_pagerank")
    assert(p.contains("TakeOrderedAndProject"),
      "top-50 must be heap top-k, not a global sort")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      "per-round RDD cut missing — analyzer cost would grow with rounds")
  }

  test("range join is auto-lowered to the CASE ladder by RangeBandRewrite") {
    val p = plan("rel_range_join")
    assert(!p.contains("Join"),
      "the disjoint-band inequality join must be rewritten to a " +
        "projection by the injected optimizer rule")
    assert(p.contains("CASE WHEN"), "expected the CASE ladder")
  }

  test("band bucket: banding is a projection — no join operator at all") {
    val p = plan("rel_band_bucket")
    assert(!p.contains("Join"),
      "the width-bucket sibling must not pay any join (that's rel_range_join's shape)")
    assert(!p.contains("CartesianProduct"), "no cross product")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "band counts must partial+final aggregate")
  }

  test("persisted IVF serve plan never rescans the source corpus") {
    val p = gatedPlan("emb_ivf_persisted")
    assert(!p.contains("embeddings.parquet"),
      "serve must plan over the stored index only — a corpus scan means " +
        "the index was re-derived at query time")
  }

  test("IVF append serve plan reads both segments, never the corpus") {
    val p = gatedPlan("emb_ivf_append")
    assert(!p.contains("embeddings.parquet"),
      "serve must plan over the stored segments only — a corpus scan " +
        "means the index was re-derived at query time")
    assert(p.contains("seg-000") && p.contains("seg-001"),
      "both the base segment and the appended segment must be planned")
  }

  test("triangle wedges close through keyed equi-joins, never all-pairs") {
    val p = plan("rel_triangles")
    // The only nested-loop joins allowed are the final composition of
    // the three 1-row aggregates; the wedge and closing joins must be
    // keyed (the join keys appear in a hash/merge join header).
    assert("(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \\[h1".r
        .findFirstIn(p).isDefined,
      "the closing join must be a keyed equi-join on (h1, h2)")
    assert(!p.contains("CartesianProduct"), "no cross product")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      "only the two 1-row aggregate compositions may nest-loop")
  }

  test("incremental join refresh: old sides are delta-scoped semi-joins") {
    val p = gatedPlan("rel_incr_join")
    assert("LeftSemi".r.findAllIn(p).size >= 2,
      "both old-side inputs must be semi-join scoped to the delta keys " +
        "before the delta join — otherwise refresh cost tracks the corpus")
  }

  test("transition matrix: windows stay keyed, no join, no global sort before output") {
    val p = plan("ev_transitions")
    assert(!p.contains("Join"), "adjacent transitions come from lead(), not a self-join")
    assert(!p.contains("Exchange SinglePartition"),
      "both the per-user lead and the per-source share must stay partitioned")
  }

  test("scd2 intervalizes in one keyed window pass — no self-join") {
    val p = plan("ev_scd2")
    assert(!p.contains("Join"),
      "scd2 must close versions with lead(), not a next-change self-join")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "row_number/lead must share the one keyed exchange")
    assert("\\+- Window ".r.findAllIn(p).size == 1,
      "version stamp and validity close must share one Window pass")
  }

  test("concurrency sweep stays day-partitioned — no global window, no join") {
    val p = plan("ev_concurrency")
    assert(!p.contains("Join"),
      "sweep line replaces the interval self-join; none may appear")
    assert(!p.contains("Exchange SinglePartition"),
      "the day clip exists so no window serializes to one partition")
  }

  test("gap-fill spine joins broadcast (bounds scalar + hourly table)") {
    val p = plan("ev_gap_fill")
    assert(!p.contains("CartesianProduct"),
      "spine × bounds should broadcast, not cartesian")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "gap-fill lost its broadcast joins")
  }

  test("PQ scoring broadcasts the probes; rerank joins stay keyed") {
    val p = gatedPlan("emb_pq_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "PQ probe side should broadcast")
    assert(!p.contains("CartesianProduct"), "PQ scoring degenerated to cartesian")
  }

  test("collocation unigram joins broadcast the vocabulary") {
    assert(plan("txt_collocations").contains("BroadcastHashJoin"),
      "PMI unigram joins should broadcast the vocab side")
  }

  test("simhash candidate join is an equi-join on the 16-bit chunks") {
    val p = plan("dedup_simhash")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "simhash blocking degenerated to all-pairs")
  }

  test("CDC compaction is a pure partial+final aggregate, not a window sort") {
    val p = plan("ev_compact_latest")
    // The max-over-struct formulation exists to get map-side combine; a
    // rewrite to row_number()=1 would reintroduce a full per-key sort.
    assert("HashAggregate|SortAggregate".r.findAllIn(p).size >= 2,
      "expected partial and final aggregate")
    assert(!p.contains("Window"), "compaction regressed to a window sort")
  }

  test("shard assignment broadcasts the size-base table; rank never " +
      "collapses the corpus to one partition") {
    val p = plan("pipe_shard_assign")
    assert(p.contains("BroadcastHashJoin"),
      "per-size base offsets should broadcast back onto the docs")
    // The within-size row_number must keep its partition spec: a Window
    // whose partitionBy vanished is the single-partition global sort
    // this query is shaped to avoid. Matched on the windowspecdefinition
    // expression (partition col first, then the order col), not the
    // whole Window node's pretty-print layout — the node layout shifts
    // across Spark versions (ADVICE r4), the expression render is far
    // more stable.
    assert(p.contains("row_number()"), "within-size row_number vanished")
    assert("windowspecdefinition\\(n_tok#\\d+L?, doc_id#".r
        .findFirstIn(p).isDefined,
      "within-size row_number lost its n_tok partitioning")
  }

  test("sequence packing: only the bucket table hits the global window") {
    val p = plan("pipe_pack_sequences")
    // The per-bucket base offsets must broadcast back onto the docs...
    assert(p.contains("BroadcastHashJoin"),
      "bucket-base offsets should broadcast back onto the docs")
    // ...and the corpus-wide running sum must partition by pid — its
    // windowspecdefinition renders (partition col, then order col) as
    // (pid, doc_id). The only unpartitioned window allowed in this plan
    // is the running sum over the tiny per-bucket aggregate (that's the
    // two-level prefix-sum design); the corpus cumsum losing its pid
    // partitioning would be the single-partition global sort this query
    // exists to avoid.
    assert("windowspecdefinition\\(pid#\\d+L?, doc_id#".r
        .findFirstIn(p).isDefined,
      "corpus cumsum window lost its pid partitioning")
  }

  test("secondary sort rides the group shuffle's own sort") {
    // MapReduce.runSorted must plan as ONE hash exchange + a
    // partition-local sort carrying the value struct (the (ts_us,
    // event_id, event_type) secondary keys) — the whole point over
    // buffering+sorting inside the reduce (O(group) memory on a hot
    // key). The sort node orders on (grouping key _1, value _2): two
    // ascending sort columns, no extra exchange.
    val p = plan("mr_secondary_sort")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "expected exactly one group shuffle")
    assert("Sort \\[_1#\\d+L? ASC[^,\\]]*, _2#\\d+[.\\w]* ASC[^\\]]*\\], false".r
        .findFirstIn(p).isDefined,
      "secondary sort value keys did not reach the shuffle-side sort")
  }

  test("cdc apply is one keyed full-outer merge, no extra joins") {
    // MERGE INTO lowered by hand: the whole apply must be ONE
    // full-outer join on the primary key (what table-format merges
    // compile to) — a second join or a window sneaking in would
    // re-shuffle the snapshot.
    val p = plan("pipe_cdc_apply")
    assert(p.contains("FullOuter"), "merge lost its full-outer form")
    assert("Join".r.findAllIn(p).size == 1,
      s"expected exactly one join in the merge plan")
  }

  test("conflict-bearing cdc apply is one pre-agg + one full-outer merge") {
    // Latest-wins resolution must be the ev_compact_latest shape — a
    // partial+final max-over-struct aggregate, NO window/sort ranking
    // (a row_number here would global-sort the change batch) — feeding
    // the same single full-outer join as pipe_cdc_apply.
    val p = plan("pipe_cdc_apply_multi")
    assert(p.contains("FullOuter"), "merge lost its full-outer form")
    assert("Join".r.findAllIn(p).size == 1,
      s"expected exactly one join in the merge plan")
    assert(!p.contains("Window"),
      "latest-wins resolution must be an aggregate, not a window rank")
    assert("HashAggregate|SortAggregate|ObjectHashAggregate".r
        .findAllIn(p).size >= 2,
      "latest-wins resolution lost its partial/final aggregate split")
    assert(!p.contains("Window"), "unexpected window in the merge plan")
  }

  test("profile runs one scan: aggregate then stack, no join, no rescan") {
    // The profiling shape at 100 TB: ONE pass computes every column's
    // stats in a single (expanded) aggregate; the long format comes
    // from stacking the 1-row aggregate output. A per-column union of
    // scans or a self-join here would multiply the corpus read.
    val p = plan("pipe_profile")
    assert(!p.contains("Join"), "profile must not join")
    assert("FileScan|Scan parquet".r.findAllIn(p).size <= 1,
      "profile re-scans the table per column")
    assert(p.contains("Generate stack"), "long format lost its stack")
    assert("HashAggregate|SortAggregate|ObjectHashAggregate".r
        .findAllIn(p).size >= 2,
      "profile aggregate lost its partial/final split")
  }

  test("sketch profile is one scan with NO Expand (single-pass HLL)") {
    // The 100-TB profile form: pipe_profile's exact multi-column
    // countDistinct lowers to an Expand that replicates every scanned
    // row once per profiled column into the partial aggregate; the
    // approx sibling's whole point is that the HLL sketches aggregate
    // in ONE pass. An Expand reappearing here means the sketch plan
    // regressed to the exact plan's shape. A gated query's plan has
    // EXECUTED, so AQE's toString repeats the tree under an
    // "== Initial Plan ==" section — count nodes in the final section
    // only, or every scan/agg double-counts.
    val p = gatedPlan("pipe_profile_approx").split("== Initial Plan ==")(0)
    assert(!p.contains("Expand"), "sketch profile must not Expand")
    assert(!p.contains("Join"), "profile must not join")
    assert("FileScan|Scan parquet".r.findAllIn(p).size <= 1,
      "profile re-scans the table per column")
    assert(p.contains("Generate stack"), "long format lost its stack")
    assert("HashAggregate|SortAggregate|ObjectHashAggregate".r
        .findAllIn(p).size >= 2,
      "profile aggregate lost its partial/final split")
  }

  test("weighted sample is heap top-k, no corpus sort or shuffle") {
    // A-ES weighted sampling = narrow per-row keying + global top-k.
    // The top-k must lower to TakeOrderedAndProject (per-partition
    // k-row heaps, k-row driver merge); a full Sort+Exchange of the
    // keyed corpus appearing instead is the shape that dies at 100 TB.
    val p = plan("pipe_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      "weighted sample lost its heap top-k")
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning"),
      "weighted sample shuffles the corpus")
  }

  test("corr matrix is one scan, one partial+final aggregate, no join") {
    // Pairwise Pearson r from exact decimal sufficient statistics:
    // everything reduces in ONE pass over lineitem. A Join (stats
    // computed per-pair and stitched), an Expand, or a second scan
    // means the plan regressed to a multi-pass shape.
    val p = plan("rel_corr_matrix")
    assert(!p.contains("Join"), "corr matrix must not join")
    assert(!p.contains("Expand"), "corr matrix must not Expand")
    assert("FileScan|Scan parquet".r.findAllIn(p).size <= 1,
      "corr matrix re-scans the table")
    assert("HashAggregate|SortAggregate|ObjectHashAggregate".r
        .findAllIn(p).size >= 2,
      "corr aggregate lost its partial/final split")
    assert(p.contains("Generate stack"), "long format lost its stack")
  }

  test("overlap chunking shuffles nothing before its output sort") {
    // The op's scale story: scan → generate → project is embarrassingly
    // parallel. The ONLY exchange allowed is the rangepartitioning for
    // the final presentation ORDER BY — a groupBy/window/join sneaking
    // in would shuffle the full chunk text at corpus scale.
    val p = plan("pipe_chunk_overlap")
    assert(p.contains("Generate explode") || p.contains("Generate posexplode"),
      "chunking lost its generate/explode form")
    val exchanges = "Exchange \\w+".r.findAllIn(p).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"non-sort exchange in the chunking plan: $exchanges")
  }

  test("oversampling broadcasts group sizes and the target scalar") {
    val p = plan("pipe_oversample")
    assert(p.contains("BroadcastHashJoin"), "group-size join should broadcast")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the 1-row target scalar should broadcast (never a shuffled cross join)")
  }

  test("entropy is two partial+final aggregates (explode feeds map-side combine)") {
    val p = plan("txt_entropy")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "expected partial+final pairs for both the (doc,word) count and the doc rollup")
  }

  test("int8 calibration partial-aggregates the posexplode before the shuffle") {
    val p = plan("emb_int8_quant")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expected partial and final aggregate around the 64-group shuffle")
    assert(!p.contains("Window"), "calibration must not sort — min/max only")
  }

  test("containment candidate join stays keyed on the shingle hash") {
    val p = plan("dedup_containment")
    assert(!p.contains("CartesianProduct"),
      "containment join degenerated to a cross join")
    assert(p.contains("sh_h"), "candidate join lost its shingle-hash key")
  }

  test("multimodal decode scan prunes to (doc_id, text)") {
    val p = plan("mm_metadata")
    // The typed map(decode) boundary is opaque to Catalyst, so pruning
    // must happen in the explicit projection BEFORE it — if the scan
    // ever reads the full documents row, the decode stage ships
    // lang/source/n_chars through the spread exchange for nothing.
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "documents scan reads more than the decode stage consumes")
  }

  test("bloom prefilter survives planning on the fact side of the join") {
    val p = plan("rel_bloom_prefilter")
    // The whole point is dropping fact rows BEFORE the join; if the
    // optimizer rewrote the predicate away the query silently degrades
    // to the plain join it is supposed to beat at scale.
    assert(p.contains("might_contain"),
      "bloom membership predicate missing from the physical plan")
    assert(p.contains("Subquery") || p.contains("bloom_filter_agg"),
      "bloom build subquery missing from the physical plan")
  }

  test("z-order layout skips row groups on a 2-D box predicate (scan metrics)") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    // The pipe_zorder_layout query profiles the clustering; THIS test
    // proves the layout's entire point — that a parquet read-back with
    // a box predicate on BOTH dimensions actually prunes row groups.
    // Same Morton ladder as the query.
    def spreadBits(x: Column): Column =
      Seq((8, 16711935L), (4, 252645135L), (2, 858993459L), (1, 1431655765L))
        .foldLeft(x.bitwiseAND(lit(65535L))) { case (c, (sh, mask)) =>
          c.bitwiseOR(shiftleft(c, sh)).bitwiseAND(lit(mask))
        }
    val li = graft.sources.Tables.lineitem(spark, sf001)
      .select($"l_orderkey", $"l_partkey", $"l_suppkey")
    val base = java.nio.file.Files.createTempDirectory("zorder").toString
    // The production write path from the query's doc: range-partition
    // by z, sort within, one row group per file at this size.
    li.withColumn("z",
        spreadBits($"l_partkey").bitwiseOR(shiftleft(spreadBits($"l_suppkey"), 1)))
      .repartitionByRange(16, $"z").sortWithinPartitions($"z").drop("z")
      .write.parquet(s"$base/zordered")
    // Control: identical rows, insertion-order layout (round-robin) —
    // every file spans the full key space, so min/max stats prune
    // nothing.
    li.repartition(16).write.parquet(s"$base/plain")
    def scanned(path: String): (Long, Long) = {
      val df = spark.read.parquet(path)
        .where($"l_partkey".between(1, 500) && $"l_suppkey".between(1, 25))
      // collect() on THIS df so the inspected plan is the one that ran
      // (count() would execute a separate query, leaving these metrics
      // at zero).
      val n = df.collect().length.toLong
      val scan = df.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case f: FileSourceScanExec => f }
        .getOrElse(fail("no FileSourceScanExec in the read-back plan"))
      (scan.metrics("numOutputRows").value, n)
    }
    val (zRows, zResult) = scanned(s"$base/zordered")
    val (pRows, pResult) = scanned(s"$base/plain")
    info(s"scan rows: z-ordered $zRows vs unclustered $pRows (result $zResult)")
    assert(zResult == pResult, "layouts must return identical results")
    assert(pRows > 0 && zRows > 0)
    // The unclustered control reads everything (observed: all 60k
    // rows); the Morton layout must read less than half (observed:
    // ~31% — files whose (partkey, suppkey) min/max box misses the
    // predicate box are skipped whole. partkey, owning the even/high
    // Morton bits, drives most of the pruning at 16 files; suppkey
    // stats tighten further only at finer splits — the classic z-order
    // asymmetry when one dimension's range dwarfs the other's).
    assert(zRows * 2 <= pRows,
      s"z-order layout scanned $zRows rows vs $pRows unclustered — no row-group skipping")
  }

  test("partitioned fact scan is dynamically pruned to the dim's days") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val result = graft.SparkEntry.queries("rel_partition_prune")(spark, sf001)
    val inner = QueryModule.gatedPlans.get("rel_partition_prune")
    val planStr = inner.queryExecution.executedPlan.toString
    assert(planStr.contains("dynamicpruningexpression"),
      s"fact scan carries no DPP filter:\n$planStr")
    // Runtime proof, not just plan shape: walk into the executed AQE
    // stages (collect() stops at QueryStageExec boundaries) and read
    // the fact scan's driver-side partition metric — the number of
    // day directories actually listed must equal the busy-day count,
    // strictly fewer than the days that exist.
    def all(p: SparkPlan): Seq[SparkPlan] = p +: (p.children ++ (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => Seq.empty
    })).flatMap(all)
    val scan = all(inner.queryExecution.executedPlan)
      .collectFirst {
        case f: FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("graft_dpp_")) => f
      }
      .getOrElse(fail("no staged-fact FileSourceScanExec in the executed plan"))
    val busyDays = result.count()
    val allDays = graft.sources.Tables.events(spark, sf001)
      .selectExpr("to_date(ts_utc)").distinct().count()
    val read = scan.metrics("numPartitions").value
    info(s"partitions read: $read of $allDays days (busy: $busyDays)")
    assert(read == busyDays,
      s"DPP read $read partitions, expected the $busyDays busy days")
    assert(read < allDays, "DPP pruned nothing — every day directory was read")
  }

  test("bucketed scan prunes to one bucket on an equality filter") {
    // The read-side payoff of the bucket layout beyond shuffle-free
    // joins: a point predicate on the bucket column must scan only the
    // bucket the key hashes to — 1 of 8 files — which the scan node
    // reports as SelectedBucketsCount. (DPP prunes partitions by dim
    // filter; THIS prunes buckets by key hash — the two layout-driven
    // scan eliminations a 100-TB table relies on.)
    val wh = java.nio.file.Files.createTempDirectory("graft_bktprune_")
    // A bare filter has no distribution requirement, so the
    // DisableUnnecessaryBucketedScan rule would drop the bucketed scan
    // ("Bucketed: false (disabled by query planner)") and with it the
    // pruning metadata; pin the bucketed read on for the assertion —
    // pruning is precisely the benefit that rule's heuristic misses.
    val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val autoPrev = spark.conf.get(autoKey)
    spark.conf.set(autoKey, "false")
    try {
      graft.operators.BucketedJoin.writeBucketed(spark, sf001, wh.toString)
      val df = spark.table(graft.operators.BucketedJoin.OrdersTable)
        .where(org.apache.spark.sql.functions.col("o_custkey") === 42L)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SelectedBucketsCount: 1 out of 8"),
        s"expected a single-bucket scan:\n$p")
      // And it still returns exactly what the unbucketed read returns.
      val expected = graft.sources.Tables.orders(spark, sf001)
        .where(org.apache.spark.sql.functions.col("o_custkey") === 42L).count()
      assert(df.count() == expected)
    } finally {
      spark.conf.set(autoKey, autoPrev)
      graft.operators.BucketedJoin.dropTables(spark)
      graft.sources.GraftSession.deleteTree(wh)
    }
  }

  test("e2e pipeline composes without a cartesian and anti-joins the contamination") {
    val p = plan("pipe_e2e_corpus")
    // The 1-row total-chunks crossJoin is the only nested-loop join
    // allowed; the contamination stage must stay a broadcast equi-join
    // + LeftAnti, and the whole four-stage plan must not degenerate to
    // CartesianProduct anywhere.
    assert(p.contains("LeftAnti"), s"decontamination lost its anti-join:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"pipeline degenerated to a cartesian:\n$p")
    assert(p.contains("PushedFilters"), "scan lost filter pushdown")
  }

  test("count/min/max is answered from parquet footer stats (agg pushdown)") {
    graft.SparkEntry.queries("rel_agg_pushdown")(spark, sf001)
    val p = QueryModule.gatedPlans.get("rel_agg_pushdown")
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedAggregation: [COUNT(*), MIN(l_orderkey), " +
      "MAX(l_orderkey), MIN(l_quantity), MAX(l_quantity)]"),
      s"aggregate not pushed to the footer:\n$p")
    // The scan's read schema is the aggregate results themselves —
    // no data column is decoded.
    assert(p.contains("ReadSchema: struct<count(*):bigint"),
      s"scan still reads data columns:\n$p")
  }

  test("maxsim broadcasts the probe vectors, never self-joins the corpus") {
    val p = plan("emb_maxsim")
    // The != gid theta-join must be a BroadcastNestedLoopJoin with the
    // tiny probe side broadcast (the emb_knn pattern); a corpus-side
    // cartesian or shuffled NLJ means the probe pruning regressed.
    assert(p.contains("BroadcastNestedLoopJoin"), s"probe join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"corpus self-cartesian:\n$p")
  }

  test("pca gram pass is one partial+final aggregate with no explode") {
    val p = gatedPlan("emb_pca_power")
    // Each row folds its 64x64 outer product inside the aggregator:
    // nothing generates row-per-element output, and only 4096-long
    // partials cross the exchange.
    assert(!p.contains("Generate"), s"gram pass explodes rows:\n$p")
    assert("ObjectHashAggregate|SortAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final aggregation for the gram fold:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"gram pass should shuffle once (partials to the final agg):\n$p")
  }

  test("hll rollup windows over day rows, never the fact (sketch partial+final)") {
    val p = gatedPlan("ev_hll_rollup")
    // The sketch aggregate is a TypedImperativeAggregate → partial +
    // final ObjectHashAggregate pair: the fact collapses to one row
    // per day BEFORE the cumulative union window runs.
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final sketch aggregation:\n$p")
    assert("Window".r.findAllIn(p).size >= 1, "missing the union window")
  }
}
