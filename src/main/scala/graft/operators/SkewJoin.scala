package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

/** Skew mitigation for equi-joins (SURVEY.md "skewed keys → salting or
  * AQE skew-join"): AQE's skew handling covers sort-merge joins after
  * the fact; explicit salting is the plan-level tool when one hot key
  * would otherwise pin a whole task.
  *
  * `saltedInnerJoin(big, small, key, S)` replicates every `small` row S
  * ways and spreads `big` rows across the S salts with a deterministic
  * hash of the whole row, then joins on `(key, salt)` — a hot key's
  * rows land in S tasks instead of one. The result is exactly the plain
  * inner join (salt only routes rows; every big row still meets every
  * matching small row exactly once).
  */
object SkewJoin {

  def saltedInnerJoin(
      big: DataFrame, small: DataFrame, key: String, salts: Int): DataFrame = {
    require(salts > 0, "salts must be positive")
    require(!big.columns.contains("__salt") && !small.columns.contains("__salt"),
      "__salt is reserved by saltedInnerJoin; rename the input column")
    val bigCols = big.columns
    // Deterministic routing: hash of the full row (vs rand(): keeps the
    // plan deterministic and re-executable, e.g. under task retries).
    // Note hash() rejects MapType columns at analysis; pre-project such
    // inputs to hashable columns.
    val salted = big.withColumn("__salt",
      pmod(hash(bigCols.map(col): _*), lit(salts)))
    val replicated = small.withColumn("__salt",
      explode(array((0 until salts).map(lit): _*)))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Walk an EXECUTED physical plan including the subtrees AQE hides
    * inside materialized query stages (QueryStageExec is a leaf to
    * TreeNode traversal, so a plain `collect` never sees the join that
    * ran below the last exchange). */
  private def deepNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case other                    => other.children
    }
    p +: kids.flatMap(deepNodes)
  }

  /** Number of shuffled joins in `df`'s executed plan that AQE actually
    * REWROTE as skew joins (partition split + mirror replication). Only
    * meaningful after an action has run the plan to completion. */
  def skewSplitJoinCount(df: DataFrame): Int =
    deepNodes(df.queryExecution.executedPlan).count {
      case s: SortMergeJoinExec    => s.isSkewJoin
      case s: ShuffledHashJoinExec => s.isSkewJoin
      case _                       => false
    }

  /** Demonstration harness for AQE's RUNTIME skew handling — the
    * complement of [[saltedInnerJoin]]'s plan-level salting: the query
    * is written with no skew mitigation at all, and Spark's adaptive
    * re-plan detects the oversized shuffle partition after the map
    * stage runs and splits it across tasks (replicating the matching
    * build-side partition), exactly what a 100 TB join with an
    * unplanned hot key relies on. Executes `build` eagerly under
    * thresholds scaled DOWN to fixture size (the detection rule —
    * partition > max(factor × median, threshold) — is size-relative,
    * so at 100 TB the defaults fire the same path), HARD-ASSERTS the
    * split actually fired (a demo that silently degrades to a plain
    * join would prove nothing), and returns the result as a local
    * relation. `forceOptimizeSkewedJoin` lifts AQE's don't-add-a-
    * shuffle cost guard: the demo aggregates on a non-join key, so the
    * post-join exchange exists anyway and the guard would otherwise
    * veto the split as "introducing" it. The thresholds apply on a
    * scoped child session, which `build` receives. */
  def aqeSkewJoinDemo(spark: SparkSession)(
      build: SparkSession => DataFrame): DataFrame =
    graft.sources.GraftSession.scoped(spark,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8192",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2048",
      // Detection compares the hot partition against the MEDIAN map
      // output partition: at fixture scale the non-hot key space is a
      // handful of distinct keys, so with few shuffle partitions every
      // partition carries real data and the median sits too close to
      // the hot one for the factor test. 32 initial partitions spread
      // the thin key space out (most partitions near-empty — the
      // 100 TB geometry, where one hot key towers over the median) and
      // AQE coalesces the small ones back afterwards.
      "spark.sql.shuffle.partitions" -> "32",
      // The skewed side must actually SHUFFLE: at fixture scale the dim
      // would broadcast and there'd be no partition to split.
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") { c =>
      val df = build(c)
      val local = graft.sources.GraftSession.materialize(spark, df)
      val n = skewSplitJoinCount(df)
      require(n > 0,
        "AQE skew-join split did not fire: the demo row must witness a " +
          "runtime skew re-plan (SortMergeJoin/ShuffledHashJoin with " +
          "isSkewJoin=true in the executed plan), not a plain join")
      local
    }
}
