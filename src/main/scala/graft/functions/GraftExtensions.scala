package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType}

/** Registers the engine's native Catalyst functions on every session
  * built through [[graft.sources.GraftSession.configure]] (public
  * `spark.sql.extensions` mechanism — no internal SessionState access).
  *
  * Call sites use `functions.call_function("cosine_sim", a, b)` or SQL
  * `cosine_sim(a, b)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(
        classOf[CosineSimilarity].getName,
        null,
        "cosine_sim",
        "cosine_sim(a, b) - cosine similarity of two numeric arrays",
        ""),
      (children: Seq[Expression]) => {
        require(children.size == 2, "cosine_sim takes exactly 2 arguments")
        // float/double arrays are read IN PLACE by the expression
        // (float→double widening happens per element, exactly) — a
        // builder-side Cast here would allocate a fresh array per row
        // evaluated, which on the all-pairs joins is per PAIR
        // (~3.5 GB of garbage per emb_cosine_pairs bench run). Anything
        // else still casts (instead of ImplicitCastInputTypes, whose
        // types are private[sql]).
        val cast = children.map(c => c.dataType match {
          case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => c
          case _ => Cast(c, ArrayType(DoubleType))
        })
        CosineSimilarity(cast.head, cast(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(
        classOf[SortedIntersectCount].getName,
        null,
        "sorted_intersect_count",
        "sorted_intersect_count(a, b) - set-intersection size of two SORTED string arrays",
        ""),
      (children: Seq[Expression]) => {
        require(children.size == 2, "sorted_intersect_count takes exactly 2 arguments")
        SortedIntersectCount(children.head, children(1))
      }))
    // Spark's OWN runtime-filter machinery (the expressions AQE's
    // InjectRuntimeFilter rule plants), surfaced as SQL functions so a
    // query can build the bloom-prefiltered-join shape explicitly:
    // build a bloom over the selective side's keys, drop big-side rows
    // before they reach the shuffle. Registered — not reimplemented —
    // because these are the exact codegen'd operators a 1000-executor
    // cluster runs; the bit-array OR is order-independent, so the
    // sketch is deterministic under any partitioning.
    ext.injectFunction((
      new FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(
        classOf[BloomFilterAggregate].getName,
        null,
        "bloom_filter_agg",
        "bloom_filter_agg(key, est_items, num_bits) - bloom filter sketch of a BIGINT key column",
        ""),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "bloom_filter_agg takes exactly 3 arguments (key, est_items, num_bits)")
        // Size literals arrive as INT from SQL text; the aggregate
        // requires foldable LongType.
        new BloomFilterAggregate(children.head,
          Cast(children(1), LongType), Cast(children(2), LongType))
      }))
    // Engine-native optimizer rule: disjoint-literal-band inequality
    // joins lower to the CASE-ladder projection (see
    // graft.plans.RangeBandRewrite — semantics-guarded, falls back to
    // the join untouched when its preconditions don't hold).
    ext.injectOptimizerRule(_ => graft.plans.RangeBandRewrite)
    ext.injectFunction((
      new FunctionIdentifier("might_contain"),
      new ExpressionInfo(
        classOf[BloomFilterMightContain].getName,
        null,
        "might_contain",
        "might_contain(bloom, key) - true if the bloom sketch may contain key (no false negatives)",
        ""),
      (children: Seq[Expression]) => {
        require(children.size == 2, "might_contain takes exactly 2 arguments")
        BloomFilterMightContain(children.head, children(1))
      }))
  }
}
