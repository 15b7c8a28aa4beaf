package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One named capability group of the engine. `SparkEntry` unions all
  * modules; every key in `queries` should appear in `oracles` unless the
  * operator is genuinely not expressible in ANSI SQL (approx sketches,
  * LSH candidates, ...), in which case the driver records a rows-only
  * check (SparkEntry contract).
  */
object QueryModule {
  /** Shared whitespace tokenizer (non-empty tokens). The SQL text must
    * stay byte-identical everywhere it appears — the dedup pipeline's
    * quality gate, the text module, and both oracles tokenize with the
    * same lambda, and a divergent copy would silently split their
    * semantics. */
  val Tokens = "filter(split(text, ' '), w -> w != '')"
  /** DuckDB rendering of [[Tokens]] for oracle SQL. */
  val DuckTokens = "list_filter(string_split(text, ' '), w -> w != '')"

  /** Word-3-gram expression over a token-array column named `arr` —
    * the shingling unit shared by the dedup family, decontamination,
    * and the repetition filter. Same byte-identity policy as [[Tokens]]:
    * ONE definition, or the near-dup semantics silently fork. */
  def grams3(arr: String): String =
    s"transform(sequence(1, size($arr) - 2), i -> concat_ws(' ', " +
      s"element_at($arr, i), element_at($arr, i + 1), element_at($arr, i + 2)))"

  /** DuckDB rendering of [[grams3]]. */
  def duckGrams3(arr: String): String =
    s"[$arr[i] || ' ' || $arr[i+1] || ' ' || $arr[i+2] FOR i IN range(1, len($arr) - 1)]"

  /** Restore task parallelism for a CPU-heavy narrow stage when the
    * scan yields fewer splits than cores. The fixture tables are tiny
    * single-row-group parquet files — one split, so a tokenize/shingle/
    * pair-scoring stage that follows the scan runs on ONE task no
    * matter how many cores the session has. At production scale the
    * same table is thousands of splits (> defaultParallelism) and this
    * helper is a planning-time no-op branch; it only ever injects the
    * round-robin exchange when the source is too small for it to
    * matter as shuffle volume. */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Exact discounted revenue Σ price·(1−disc) kept in the DECIMAL
    * domain: tight scales (12,2 × 7,4 stays inside precision 38),
    * rounded to scale 2 before any reuse — for queries that compare or
    * join on the rounded sum (Q11's threshold, Q15's max) before the
    * output cast. ONE definition: copies of this precision-critical
    * formula must not drift. */
  def revenueDec(ext: Column, disc: Column): Column =
    round(sum(ext.cast("decimal(12,2)") * (lit(1) - disc.cast("decimal(6,4)"))), 2)
      .cast("decimal(18,2)")

  /** [[revenueDec]] cast to double — the output form (single rounding
    * in the decimal domain on both engines, the module-wide
    * oracle-parity policy). */
  def revenue(ext: Column, disc: Column): Column =
    revenueDec(ext, disc).cast("double")

  /** DuckDB rendering of [[revenueDec]] over a named price column. */
  def duckRevenueDec(ext: String, disc: String = "l_discount"): String =
    s"CAST(round(sum(CAST($ext AS DECIMAL(12,2)) * (1 - CAST($disc AS DECIMAL(6,4)))), 2) AS DECIMAL(18,2))"

  /** DuckDB rendering of [[revenue]]. */
  def duckRevenue(ext: String = "l_extendedprice", disc: String = "l_discount"): String =
    s"CAST(${duckRevenueDec(ext, disc)} AS DOUBLE)"

  /** [[duckRevenue]] over the standard lineitem columns. */
  val DuckRevenue: String = duckRevenue()

  /** Epoch-microseconds of the events table's ntz `ts` — the integer
    * event-time clock every gap/as-of/session computation runs on
    * (exact long arithmetic; timestamp intervals would round-trip
    * through intervals/doubles). The ntz→timestamp cast is wall-clock-
    * preserving under the UTC session GraftSession pins; the DuckDB
    * rendering is `epoch_us(ts)` (identical values — both engines read
    * the same TIMESTAMP(MICROS) parquet since the fixture refresh).
    * Same byte-identity policy as [[Tokens]]. */
  val TsUs = "unix_micros(CAST(ts AS TIMESTAMP))"

  /** Session-scoped temp view over a fixture table, (re-)registered at
    * plan-build time: SQL-text statements read `g_src_<name>`
    * instead of `parquet.`<path>`` — a bare-path table reference runs
    * parquet schema inference on EVERY statement execution (~70-150 ms
    * of driver work + a footer job), while the view resolves through
    * [[graft.sources.Tables.table]]'s once-per-process schema memo.
    * Registration itself only builds a plan (no IO); idempotent, so
    * callers just interpolate `${srcView(s, dir, "events")}` into the
    * statement. */
  def srcView(s: SparkSession, dir: String, name: String): String = {
    val view = s"g_src_$name"
    graft.sources.Tables.table(s, dir, name).createOrReplaceTempView(view)
    view
  }

  /** Self-asserting harness for the rows-only queries (the ones the
    * driver checks only for non-emptiness because their output depends
    * on engine-local hashing/merge order): execute the plan eagerly,
    * run `check` — which recomputes the recall/error bound the query's
    * ScalaTest spec proves and `require`s it — and return the
    * materialized rows as a local relation, the same execute-assert-
    * return shape as `SkewJoin.aqeSkewJoinDemo`. A rows-only row in
    * CORRECTNESS then witnesses that the bound HELD in the executed
    * path, not merely that rows came back. The collect is safe by
    * contract: every gated query's output is bounded (top-k per fixed
    * probe set, per-group sketch rows, candidate pairs post-verify).
    *
    * The INNER (pre-gate) DataFrame is recorded in [[gatedPlans]] under
    * `name`: the returned local relation hides the real physical plan,
    * and the plan-shape guards (PlanShapeSpec) must keep asserting on
    * the plan that actually executed, not on a LocalTableScan. */
  def gated(name: String, df: DataFrame)(check: Array[Row] => Unit): DataFrame = {
    gatedPlans.put(name, df)
    val local = graft.sources.GraftSession.materialize(df.sparkSession, df)
    check(local.collect())
    local
  }

  /** Last inner plan per gated query name (test/diagnostic hook). */
  val gatedPlans =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** AUDIT FRACTION for the in-path gates whose ground-truth
    * recomputation is EXHAUSTIVE — the full exact pair join
    * (dedup_minhash_lsh), a whole-table collect (emb_kmeans), the
    * Expand-based exact profile (pipe_profile_approx). At fixture
    * scale the exhaustive audit IS the rows-only correctness witness
    * and stays the default (1.0); at production scale it would
    * dominate the query (or OOM the driver), so
    * `SPARK_GRAFT_AUDIT_SAMPLE` (env, deployments) or the
    * `spark.graft.audit.sample` system property (tests — settable
    * in-JVM) scales the audit down to a deterministic sample: the
    * gate still executes and still `require`s its bound, on
    * fraction-of-the-data evidence. Accepted range (0, 1]. */
  def auditSample: Double = {
    val f = sys.props.get("spark.graft.audit.sample")
      .orElse(sys.env.get("SPARK_GRAFT_AUDIT_SAMPLE"))
      .map(_.toDouble).getOrElse(1.0)
    require(f > 0.0 && f <= 1.0,
      s"SPARK_GRAFT_AUDIT_SAMPLE=$f must be in (0, 1]")
    f
  }

  /** Deterministic membership threshold for [[auditSample]]: an id is
    * audited iff `floorMod(id, 1000000) < auditThreshold` — the same
    * arithmetic on the Column side (`pmod`) and the driver side
    * (`Math.floorMod`), so the sampled ground truth and the sampled
    * output select IDENTICAL ids with no hash replay needed. */
  def auditThreshold: Long = math.ceil(auditSample * 1000000L).toLong

  def auditSelectedCol(c: Column): Column =
    pmod(c, lit(1000000L)) < lit(auditThreshold)

  def auditSelected(id: Long): Boolean =
    java.lang.Math.floorMod(id, 1000000L) < auditThreshold
}

trait QueryModule {
  /** name -> (spark, sfDir) -> result. Results must be deterministic:
    * small, fully sorted on a unique key, doubles derived via exact
    * decimal sums (SURVEY.md §7.4 oracle-parity notes).
    *
    * Caching contract: queries MAY `persist()` intermediates that feed
    * multiple branches of their own plan (shingle indexes, LSH
    * sketches, label tables) and do NOT unpersist them — the returned
    * DataFrame is lazy, so the cache must outlive the call for the
    * caller's action to benefit. Callers are expected to run
    * `spark.catalog.clearCache()` between queries, as Verify, Bench,
    * and the specs all do. */
  def queries: Map[String, (SparkSession, String) => DataFrame]

  /** name -> equivalent DuckDB SQL over views named like the parquet
    * tables, same ORDER BY, same column aliases.
    *
    * Type-parity rule (learned the hard way): every DuckDB
    * `sum()` over integer columns returns HUGEINT (int128) — the driver
    * hashes serialized values, so rows can match while the hash fails.
    * Wrap EVERY integer aggregate (and any arithmetic derived from
    * `list_sum`) in `CAST(... AS BIGINT)`; `tools/check_oracle.py` now
    * flags any column whose DuckDB type diverges from the Spark parquet
    * type. */
  def oracles: Map[String, String]
}
