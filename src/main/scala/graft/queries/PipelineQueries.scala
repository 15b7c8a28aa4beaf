package graft.queries

import graft.functions.TopKOrderedAgg
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation pipeline for LLM training data: cleaning,
  * decontamination, PII scrubbing, splits, sampling and mixing,
  * sequence packing and sharding, change-data capture, dataset
  * profiles and expectations, and the file-level maintenance a
  * corpus directory needs (backfill, compaction, schema evolution).
  */
object PipelineQueries extends QueryModule {

  import DedupQueries.{duckShingles, shingleArrays}

  private val TOKENS = QueryModule.Tokens

  /** Sketch precision for the approx profile. 0.02 rather than
    * rel_approx_distinct's 0.01: the HLL++ register count grows ~1/rsd²
    * and the profile carries EIGHT sketches in one aggregate buffer —
    * at rsd 0.01 that is ~16k buffer words (SortAggregate fallback +
    * multi-second codegen of the monster update expressions, measured
    * ~6.5 s for the approx pass alone at sf0.1, 2.6× the EXACT Expand
    * profile it exists to beat); at 0.02 the buffer is 4× smaller and
    * the pass is cheap while a ±2%-rsd distinct count remains far
    * tighter than any profile consumer needs. The in-path gate scales
    * its 4σ bound with this constant. */
  private val ProfileRsd = 0.02

  /** Shared plan for the two dataset-profile queries: one scan of
    * `orders` (plus the deterministic null-sparse derived column — the
    * fixture has no NULLs, and the null-count/null-ppm path is the
    * op's core claim, so a derived every-third-key-NULL column keeps it
    * load-bearing on both engines), one aggregate row, stacked to long
    * format AFTER aggregation — one output row per profiled column, no
    * per-column scans, no join. `exact = true` counts distincts with
    * `countDistinct` (lowers to one Expand — rows replicated once per
    * profiled column into the partial agg; fine at profile cadence,
    * oracle-checkable); `exact = false` uses `approx_count_distinct`
    * HLL++ sketches (single-pass, no Expand — the 100-TB form).
    * `spread`: the fixture table is one parquet split, so the partial
    * aggregate would otherwise run on a single task; at production
    * split counts this is a planning no-op (QueryModule.spread doc). */
  /** The profile's column inventory — shared between the plan and the
    * sampled audit's deterministic column selection. */
  private val ProfiledCols = Seq("o_orderkey", "o_custkey",
    "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
    "o_status_sparse")

  /** `onlyCols` restricts the profile to a subset of the
    * profiled columns — the sampled-audit entry: recomputing the
    * EXACT (Expand-based) profile for a fraction of the columns costs
    * that fraction of the Expand replication. Query-surface callers
    * pass None and profile everything. */
  private def profilePlan(
      s: SparkSession, dir: String, exact: Boolean,
      onlyCols: Option[Seq[String]] = None): DataFrame = {
    import s.implicits._
    def nulls(c: String) =
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls")
    def nd(c: String) =
      (if (exact) countDistinct(col(c))
       else approx_count_distinct(col(c), ProfileRsd)).as(s"${c}_nd")
    def mmStr(c: String) = Seq(
      min(col(c)).cast("string").as(s"${c}_min"),
      max(col(c)).cast("string").as(s"${c}_max"))
    def mmE2(c: String) = Seq(
      floor(min(col(c)) * 100).cast("long").cast("string").as(s"${c}_min"),
      floor(max(col(c)) * 100).cast("long").cast("string").as(s"${c}_max"))
    def mmTs(c: String) = Seq(
      date_format(min(col(c)), "yyyy-MM-dd HH:mm:ss").as(s"${c}_min"),
      date_format(max(col(c)), "yyyy-MM-dd HH:mm:ss").as(s"${c}_max"))
    val cols = onlyCols.map(oc => ProfiledCols.filter(oc.contains))
      .getOrElse(ProfiledCols)
    require(cols.nonEmpty, "profilePlan: onlyCols selected no columns")
    val mm: Map[String, Seq[org.apache.spark.sql.Column]] = Map(
      "o_totalprice" -> mmE2("o_totalprice"),
      "o_orderdate" -> mmTs("o_orderdate")
    ).withDefault(mmStr)
    val aggs = count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(nulls(c), nd(c)) ++ mm(c))
    val stackArgs = cols.map(c =>
      s"'$c', ${c}_nulls, ${c}_nd, ${c}_min, ${c}_max").mkString(", ")
    QueryModule.spread(Tables.orders(s, dir)
        .withColumn("o_status_sparse",
          when($"o_orderkey" % 3 === 0, lit(null).cast("string"))
            .otherwise($"o_orderstatus")))
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr("n_rows",
        s"stack(${cols.size}, $stackArgs) AS " +
          "(col_name, n_null, n_distinct, min_str, max_str)")
      .selectExpr("col_name", "n_rows", "n_null",
        "n_null * 1000000L div n_rows AS null_ppm",
        "n_distinct", "min_str", "max_str")
      .orderBy("col_name")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // INCREMENTAL DEDUP — the shape ingestion actually runs: a
    // NEW batch (the doc_id % 4 == 3 shard, the "today's crawl"
    // stand-in) deduped against the EXISTING corpus and against
    // earlier rows of itself, while the existing corpus is NEVER
    // re-deduped — at 100 TB the corpus side contributes only its
    // digest index (one narrow column shuffled, or in steady state a
    // pre-built bucketed digest table), and per-ingest cost scales
    // with the batch, not the corpus. One left-semi join kills
    // corpus-duplicated docs; one window over the batch's own digests
    // (first occurrence by doc_id wins) kills intra-batch dups; the
    // verdict per doc is emitted for audit (keep / dup_of_corpus /
    // dup_in_batch — counts are what dashboards track). The dedup key
    // is the word-SET fingerprint (md5 of the sorted distinct token
    // list — the canopy-level near-dup key; a raw-text md5 is vacuous
    // on this fixture, which has zero byte-identical docs). Batch =
    // doc_id % 4 == 3 (the late-arriving crawl shard), which exercises
    // every verdict class at sf0.01: 17 corpus-dups, 5 intra-batch
    // dups, 103 keeps.
    "pipe_incr_dedup" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .selectExpr("doc_id",
          s"md5(array_join(array_sort(array_distinct($TOKENS)), ' ')) AS digest")
      val corpus = docs.where($"doc_id" % 4 =!= 3).select($"digest").distinct()
      val batch = docs.where($"doc_id" % 4 === 3)
      val w = Window.partitionBy($"digest").orderBy($"doc_id")
      batch
        .join(corpus.withColumn("in_corpus", lit(1)), Seq("digest"), "left")
        .withColumn("rk", row_number().over(w))
        .selectExpr("doc_id",
          """CASE WHEN in_corpus IS NOT NULL THEN 'dup_of_corpus'
            |     WHEN rk > 1 THEN 'dup_in_batch'
            |     ELSE 'keep' END AS verdict""".stripMargin)
        .groupBy($"verdict")
        .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("first_doc"))
        .orderBy("verdict")
    }),

    // The composed cleaning pipeline every piece above exists for:
    // quality-gate → exact-dedup (keep lowest doc_id per digest) →
    // per-language corpus stats. One declarative plan; Catalyst fuses
    // the filter into the scan and the dedup is one shuffle on the
    // digest.
    "pipe_clean_corpus" -> ((s, dir) => {
      import s.implicits._
      val quality = Tables.documents(s, dir)
        .selectExpr("doc_id", "lang", "text", s"size($TOKENS) AS n_tokens",
          s"size(filter($TOKENS, w -> w IN ('a', 'the'))) AS stop_cnt")
        // greatest(n_tokens, 1) keeps the ANSI division total even if
        // the optimizer reorders conjuncts ahead of the length check;
        // bigint cast avoids int overflow on stopword-heavy docs.
        .where("n_tokens BETWEEN 10 AND 1000 AND " +
          "CAST(stop_cnt AS BIGINT) * 1000000 div greatest(n_tokens, 1) < 300000")
      // keep-lowest-doc_id per digest as one window pass (a groupBy +
      // join-back would recompute the quality subplan a second time).
      val wDigest = Window.partitionBy($"digest").orderBy($"doc_id")
      val deduped = quality
        .withColumn("digest", md5($"text"))
        .withColumn("rn", row_number().over(wDigest))
        .where($"rn" === 1)
      deduped.groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"))
        .orderBy("lang")
    }),

    // Benchmark decontamination: flag corpus docs sharing ANY word-3-
    // gram with the eval set (stand-in: doc_id < 10 — in production the
    // benchmark suite). Scale stance: the eval side's distinct shingles
    // are tiny by definition, so the contamination join BROADCASTS them
    // against the streaming corpus-shingle branch — no shuffle carries
    // corpus text. The remaining exchanges (flagged-id distinct, final
    // per-lang rollup) move only doc_id/lang-sized rows, and the base
    // count re-scans documents with just (doc_id, lang) pruned.
    "pipe_decontam" -> ((s, dir) => {
      import s.implicits._
      val sh = shingleArrays(s, dir)
        .selectExpr("doc_id", "explode(ss) AS shingle")
      val evalShingles = sh.where($"doc_id" < 10)
        .select($"shingle").distinct()
      val flagged = sh.where($"doc_id" >= 10)
        .join(broadcast(evalShingles), "shingle")
        .select($"doc_id").distinct()
        .withColumn("flag", lit(1L))
      Tables.documents(s, dir).where($"doc_id" >= 10)
        .join(flagged, Seq("doc_id"), "left")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce($"flag", lit(0L))).as("n_flagged"))
        .orderBy("lang")
    }),

    // PII scrubbing: redact the classes a corpus-release gate actually
    // screens — emails, phone-shaped tokens, credit cards (with a LUHN
    // checksum column proving the card class is checkable, not just
    // shape-matched), SSNs, IPv4 addresses, and AKIA-style access keys
    // (widened from an email/phone pair). The
    // fixture text is synthetic word salad, so the PII is injected
    // deterministically from doc_id first (same expression on both
    // engines) — the query under test is the scrub itself:
    // regexp_replace with patterns kept inside the Java-regex ∩ RE2
    // common subset (character classes, bounded repetition — no
    // lookaround, no backrefs), so the identical pattern text means
    // the identical match set on both engines. Class counts are taken
    // on the RAW synth, scrubs apply in one fixed order (email, card,
    // ssn, ip, key, phone) on both engines. The Luhn digit-doubling
    // sum runs over the extracted card's 16 digits as shared integer
    // expression text — the planted check digit is (doc_id*13)%10-
    // derived, so validity varies across docs and a broken checksum
    // flips real counts. Pure narrow map: no shuffle at any scale.
    "pipe_pii_scrub" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .selectExpr("doc_id",
          "concat(text, ' contact user', CAST(doc_id AS STRING), " +
            "'@mail', CAST(doc_id % 7 AS STRING), '.example.com'," +
            "' card 4111-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0')," +
            "'-', lpad(CAST((doc_id * 7) % 10000 AS STRING), 4, '0')," +
            "'-', lpad(CAST((doc_id * 13) % 10000 AS STRING), 4, '0')," +
            "' ssn 078-05-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0')," +
            "' ip 10.', CAST(doc_id % 256 AS STRING), '.', " +
            "CAST((doc_id div 256) % 256 AS STRING), '.7'," +
            "' key AKIA', upper(substr(md5(CAST(doc_id AS STRING)), 1, 16))," +
            "' or tel 555-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0')," +
            "' today') AS synth")
        // Regex patterns ride the COLUMN-FUNCTION API, never selectExpr:
        // Spark's SQL string literals eat backslash escapes ('\.'
        // would silently become '.'), while the function overloads and
        // DuckDB's SQL strings both take the pattern text verbatim.
        .withColumn("ccd",
          regexp_replace(regexp_extract($"synth", PiiCcRe, 0), "-", ""))
        .select($"doc_id",
          regexp_count($"synth", lit(PiiEmailRe)).as("n_emails"),
          regexp_count($"synth", lit(PiiPhoneRe)).as("n_phones"),
          regexp_count($"synth", lit(PiiCcRe)).as("n_cc"),
          expr("CASE WHEN length(ccd) = 16 AND aggregate(transform(" +
            "sequence(0, 15), " +
            "i -> CASE WHEN i % 2 = 0 THEN CAST(substr(ccd, 16 - i, 1) AS INT) " +
            "WHEN CAST(substr(ccd, 16 - i, 1) AS INT) * 2 > 9 " +
            "THEN CAST(substr(ccd, 16 - i, 1) AS INT) * 2 - 9 " +
            "ELSE CAST(substr(ccd, 16 - i, 1) AS INT) * 2 END), 0, " +
            "(acc, x) -> acc + x) % 10 = 0 THEN 1 ELSE 0 END").as("n_cc_luhn"),
          regexp_count($"synth", lit(PiiSsnRe)).as("n_ssn"),
          regexp_count($"synth", lit(PiiIpRe)).as("n_ip"),
          regexp_count($"synth", lit(PiiKeyRe)).as("n_keys"),
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            regexp_replace(regexp_replace($"synth", PiiEmailRe, "[EMAIL]"),
              PiiCcRe, "[CC]"), PiiSsnRe, "[SSN]"), PiiIpRe, "[IP]"),
            PiiKeyRe, "[KEY]"), PiiPhoneRe, "[PHONE]").as("scrubbed"))
        .select($"doc_id", $"n_emails", $"n_phones", $"n_cc", $"n_cc_luhn",
          $"n_ssn", $"n_ip", $"n_keys",
          md5($"scrubbed").as("scrub_md5"),
          length($"scrubbed").as("n_chars"))
        .orderBy("doc_id")
    }),

    // Deterministic train/val/test split (80/10/10): bucket by an
    // md5-derived hash of doc_id, so the split is reproducible across
    // runs, engines, and cluster sizes — at 100 TB this is a pure
    // narrow map (no shuffle, no sampling state), the only split
    // mechanism that re-derives identically when the corpus is re-read.
    "pipe_train_split" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .selectExpr("lang",
          "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 10 AS bucket")
        .selectExpr("lang",
          "CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split")
        .groupBy($"lang", $"split")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "split")
    }),

    // Domain-mixture sampling: draw a fixed-budget corpus whose
    // language mix follows configured weights (40% en, 15% each of
    // de/es/fr/zh of a 400-doc budget), deterministically — each group
    // keeps its K_g smallest md5(doc_id) values, so the sample is
    // reproducible across runs and engines, and a group short of quota
    // just contributes everything it has. One window pass (a single
    // shuffle on the domain column); at 100 TB the same shape runs with
    // lang swapped for any source/domain column and K_g from config —
    // no collect, no per-row randomness, re-runs are idempotent.
    "pipe_domain_mix" -> ((s, dir) => {
      import s.implicits._
      val quota = when($"lang" === "en", 160).otherwise(60)
      Tables.documents(s, dir)
        .select($"doc_id", $"lang", md5($"doc_id".cast("string")).as("h"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"lang").orderBy($"h", $"doc_id")))
        .where($"rn" <= quota)
        .select($"doc_id", $"lang")
        .orderBy("lang", "doc_id")
    }),

    // Corpus snapshot diff — the dataset-RELEASE audit step: classify
    // every doc across two corpus versions as added / removed /
    // modified / unchanged and roll the counts up per language. v2 is
    // derived deterministically from the fixture (drop doc_id%23,
    // revise %17, append %29 under high-bit-shifted ids: +2⁴⁰ is
    // SF-independent — no fixture's doc_id space reaches 2⁴⁰, so a
    // synthetic "added" id can never collide with a real v1 id the way
    // a +1e6 offset eventually would; both engines shift identically)
    // so the diff exercises
    // all four classes with no second table. At 100 TB the shape is
    // ONE full-outer join on the primary key comparing 16-byte
    // digests: md5 computes scan-side, so only (doc_id, lang, digest)
    // ever crosses the shuffle — text never moves, the same
    // digest-only stance as dedup_exact — and the per-lang rollup
    // aggregates partial before its (tiny) final exchange.
    "pipe_snapshot_diff" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val v1 = docs.selectExpr(
        "doc_id", "lang AS lang1", "md5(text) AS h1")
      val v2 = docs.where("doc_id % 23 != 0")
        .selectExpr("doc_id", "lang AS lang2",
          "md5(CASE WHEN doc_id % 17 = 0 THEN concat(text, ' rev2') ELSE text END) AS h2")
        .unionAll(docs.where("doc_id % 29 = 0")
          .selectExpr("doc_id + 1099511627776 AS doc_id", "lang AS lang2",
            "md5(concat(text, ' new')) AS h2"))
      v1.join(v2, Seq("doc_id"), "full_outer")
        .selectExpr("coalesce(lang2, lang1) AS lang",
          """CASE WHEN h1 IS NULL THEN 'added'
            |     WHEN h2 IS NULL THEN 'removed'
            |     WHEN h1 = h2 THEN 'unchanged'
            |     ELSE 'modified' END AS change_type""".stripMargin)
        .groupBy($"lang", $"change_type")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "change_type")
    }),

    // Exact stratified sample, k=20 per language — the BOUNDED-
    // AGGREGATOR sibling of pipe_domain_mix's window formulation:
    // same deterministic md5(doc_id) ordering, but selection runs in
    // a partial-combining Aggregator whose buffers cap at k, so each
    // map partition ships ≤ k rows per stratum. The window plan
    // shuffles the WHOLE table into one partition per stratum — and
    // strata are few by nature (5 languages here), so at 100 TB that
    // is maximal skew by construction; this shape never moves more
    // than k × partitions rows total. rk re-derives from selection
    // order, making the sample audit-reproducible with no RNG state.
    "pipe_stratified_sample" -> ((s, dir) => {
      import s.implicits._
      val topk = udaf(new TopKOrderedAgg(20))
      Tables.documents(s, dir)
        .select($"lang", md5($"doc_id".cast("string")).as("h"), $"doc_id")
        .groupBy($"lang")
        .agg(topk($"h", $"doc_id").as("ids"))
        .selectExpr("lang", "posexplode(ids) AS (rk0, doc_id)")
        .selectExpr("lang", "CAST(rk0 + 1 AS BIGINT) AS rk", "doc_id")
        .orderBy("lang", "rk")
    }),

    // Weighted sampling WITHOUT replacement: Efraimidis–Spirakis
    // A-ES — every row draws key = u^(1/w) with u uniform in (0,1] and
    // w its weight (n_chars here: longer docs proportionally likelier,
    // a standard pretraining mixing policy); the global top-k by key
    // IS an exact weighted sample without replacement. u derives from
    // md5(doc_id) — first 15 hex digits → a 60-bit integer, +1, /2^60
    // — so the draw is deterministic and engine-portable: both engines
    // evaluate the identical double and select the identical rows (no
    // RNG state, idempotent re-runs, and the oracle replays the exact
    // draw in SQL). Scale: the keying is a narrow per-row projection
    // and the top-k lowers to TakeOrderedAndProject (per-partition
    // k-row heaps + a k-row driver merge, plan-guarded) — no global
    // sort, no corpus shuffle; the only data movement is k rows per
    // partition.
    "pipe_weighted_sample" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .selectExpr("doc_id", "lang", "n_chars",
          "pow((CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) + 1)" +
            " / 1152921504606846976.0, 1.0 / n_chars) AS k")
        .orderBy($"k".desc, $"doc_id")
        .limit(50)
        .select($"doc_id", $"lang", $"n_chars")
        .orderBy("doc_id")
    }),

    // END-TO-END CORPUS PIPELINE — the composition proof: the
    // four pipeline stages a pretraining-data run actually chains —
    // quality filter (pipe_clean_corpus's rules) → fingerprint dedup
    // keep-lowest (pipe_incr_dedup's word-set key) → benchmark
    // decontamination (pipe_decontam's broadcast 3-gram join) →
    // sequence packing (pipe_pack_sequences' two-level gapless tape) —
    // as ONE lazy plan, reusing the SAME shared fragments (Tokens,
    // grams3) so stage semantics cannot drift from the standalone
    // operators. Catalyst sees the whole pipeline at once: the filters
    // push into the scan, the dedup window and the anti-join reorder
    // around each other, and nothing materializes between stages —
    // the argument for an engine where pipeline steps are plan
    // fragments, not jobs gated by intermediate tables. Output: the
    // per-language survivor profile plus chunk-boundary straddlers
    // and the global packed-chunk count — all exact integers, full
    // DuckDB oracle replaying the identical four stages.
    "pipe_e2e_corpus" -> ((s, dir) => {
      import s.implicits._
      val C = 2048L
      val base = Tables.documents(s, dir)
        .selectExpr("doc_id", "lang", s"$TOKENS AS toks")
        .selectExpr("doc_id", "lang", "toks",
          "CAST(size(toks) AS BIGINT) AS n_tok",
          "CAST(size(filter(toks, w -> w IN ('a', 'the'))) AS BIGINT) AS stop_cnt")
      val quality = base.where("doc_id >= 10 AND n_tok BETWEEN 10 AND 1000" +
        " AND stop_cnt * 1000000 div greatest(n_tok, 1) < 300000")
      val wFp = Window.partitionBy($"fp").orderBy($"doc_id")
      val deduped = quality
        .selectExpr("doc_id", "lang", "toks", "n_tok",
          "md5(array_join(array_sort(array_distinct(toks)), ' ')) AS fp")
        .withColumn("rn", row_number().over(wFp))
        .where($"rn" === 1)
      val evalGrams = base.where($"doc_id" < 10 && size($"toks") >= 3)
        .selectExpr(s"explode(${QueryModule.grams3("toks")}) AS g")
        .distinct()
      val flagged = deduped.where(size($"toks") >= 3)
        .selectExpr("doc_id", s"explode(${QueryModule.grams3("toks")}) AS g")
        .join(broadcast(evalGrams), "g")
        .select($"doc_id").distinct()
      val surv = deduped.join(flagged, Seq("doc_id"), "left_anti")
        .select($"doc_id", $"lang", $"n_tok")
      // Gapless token tape in doc_id order (the two-level cumulative
      // trick from pipe_pack_sequences — per-bucket bases keep the
      // corpus-side window partitioned).
      val d = surv.withColumn("pid", expr("doc_id div 100"))
      val bucketBase = d.groupBy($"pid").agg(sum($"n_tok").as("bsum"))
        .withColumn("base",
          coalesce(sum($"bsum").over(Window.orderBy($"pid")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select($"pid", $"base")
      val wLocal = Window.partitionBy($"pid").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val tape = d.join(broadcast(bucketBase), "pid")
        .withColumn("start_tok",
          $"base" + coalesce(sum($"n_tok").over(wLocal), lit(0L)))
        .withColumn("straddle",
          expr(s"start_tok div $C != (start_tok + n_tok - 1) div $C"))
      val tot = tape.agg(
        expr(s"CAST((sum(n_tok) + ${C - 1}) div $C AS BIGINT)")
          .as("total_chunks"))
      tape.groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"),
          count(when($"straddle", 1)).as("n_straddle"))
        .crossJoin(broadcast(tot))
        .orderBy("lang")
    }),

    // IDEMPOTENT PARTITION BACKFILL — dynamic partition
    // overwrite as the driver-checked repair primitive: a day-
    // partitioned table gets one day CORRUPTED (that day's rows
    // doubled, written with partitionOverwriteMode=dynamic — an
    // in-path `require` witnesses both that the corruption landed AND
    // that only that partition changed), then BACKFILLED by
    // recomputing just that day from source and overwriting again.
    // `dynamic` is the whole point: mode("overwrite") with the default
    // static mode would truncate the entire table; dynamic replaces
    // exactly the partitions present in the written batch, so a 100-TB
    // backfill rewrites one day, not the table — and re-running it is
    // a no-op (idempotent by construction). The oracle proves full
    // restoration: the per-day profile over the repaired table must
    // hash-match the profile DuckDB computes from the original events.
    "pipe_backfill" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_bf_") { stage =>
        val path = stage.resolve("events_by_day").toString
        val ev = Tables.events(s, dir)
          .select($"event_id", $"user_id", $"event_type", $"value",
            to_date($"ts_utc").as("d"))
        ev.repartition($"d").write.partitionBy("d").parquet(path)
        val day0 = ev.agg(min($"d")).head().getDate(0)
        val dayRows = ev.where($"d" === lit(day0))
        val n0 = dayRows.count()
        val othersBefore = s.read.parquet(path).where($"d" =!= lit(day0)).count()
        def overwriteDay(df: org.apache.spark.sql.DataFrame): Unit =
          df.repartition(1).write
            .partitionBy("d")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite").parquet(path)
        overwriteDay(dayRows.unionAll(dayRows)) // corrupt: doubled day
        require(s.read.parquet(path).where($"d" === lit(day0)).count() == 2 * n0,
          "pipe_backfill: corruption write did not land")
        require(s.read.parquet(path).where($"d" =!= lit(day0)).count() == othersBefore,
          "pipe_backfill: dynamic overwrite touched other partitions")
        overwriteDay(dayRows) // backfill: recompute the day from source
        val out = s.read.parquet(path)
          .groupBy($"d")
          .agg(count(lit(1)).as("n_events"),
            countDistinct($"user_id").as("n_users"),
            sum($"value".cast("decimal(18,6)")).cast("decimal(38,6)")
              .as("sum_value"))
          .selectExpr("d", "n_events", "n_users",
            "CAST(sum_value * 1000000 AS BIGINT) AS sum_value_e6")
          .orderBy("d")
        out
      }
    }),

    // Small-file COMPACTION: the table-maintenance op every
    // long-lived 100 TB corpus needs — streaming ingest and per-task
    // writers leave thousands of KB-sized parquet files per partition,
    // and scan/planning cost degrades with file count, not byte count.
    // The compaction itself is Spark's scan PACKING, not a shuffle:
    // reading the fragmented directory bin-packs small splits into few
    // read partitions (`files.maxPartitionBytes` as the bin size with
    // `files.openCostInBytes` charged per file — so many tiny files
    // coalesce into one task), and writing straight back out emits one
    // right-sized file per packed partition. No exchange anywhere: the
    // 100 TB rewrite moves every byte exactly once, executor-parallel
    // across partitions' bins. An in-path `require` witnesses the
    // physical claim (compacted file count strictly below fragmented);
    // the oracle proves content identity — the per-lang digest (count +
    // chars + XOR of per-doc content hashes, order-independent) over
    // the COMPACTED files must equal DuckDB's over the original table.
    // The fragmented staging copy is harness fixture-prep (the stand-in
    // for an ingest's file litter), driver-local by default —
    // SPARK_GRAFT_STAGING relocates it to a shared mount on a real
    // cluster (same deployment note as mm_ingest).
    "pipe_compact_files" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_compact_") { tmp =>
        val frag = tmp.resolve("fragmented").toString
        val comp = tmp.resolve("compacted").toString
        Tables.documents(s, dir).repartition(64).write.parquet(frag)
        def parquetFiles(p: String): Long = {
          val hp = new org.apache.hadoop.fs.Path(p)
          hp.getFileSystem(s.sparkContext.hadoopConfiguration)
            .listStatus(hp)
            .count(_.getPath.getName.endsWith(".parquet")).toLong
        }
        val nFrag = parquetFiles(frag)
        s.read.parquet(frag).write.parquet(comp)
        val nComp = parquetFiles(comp)
        require(nComp < nFrag,
          s"pipe_compact_files: rewrite did not compact ($nFrag -> $nComp)")
        val out = s.read.parquet(comp)
          .selectExpr("lang", "n_chars",
            "CAST(conv(substr(md5(text), 1, 15), 16, 10) AS BIGINT) AS h")
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_chars").as("sum_chars"),
            expr("bit_xor(h)").as("content_sig"))
          .orderBy("lang")
        out
      }
    }),

    // CDC ROUND-TRIP with BEFORE/AFTER images: the Debezium-
    // envelope changelog shape — each change carries its pre-image, so
    // the batch is INVERTIBLE: undo(apply(base, batch), batch) ≡ base.
    // apply is the pipe_cdc_apply single full-outer MERGE; undo is the
    // SAME join shape with the inverse op semantics (U restores the
    // before-image, D re-inserts it, I deletes its key). Two keyed
    // full-outer joins total, narrow columns only — the point-in-time
    // RESTORE path every table format builds from its changelog, and
    // the reason production CDC captures pre-images at all. The oracle
    // is the base table's own digest: the driver proves the round trip
    // is lossless, not merely row-count-preserving (per-doc hash XOR —
    // any flipped n_chars or resurrected/lost key breaks the
    // signature).
    "pipe_cdc_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val base = Tables.documents(s, dir)
        .select($"doc_id", $"lang", $"n_chars")
      val ch = Tables.documents(s, dir).where($"doc_id" % 7 < 3)
        .selectExpr(
          "CASE WHEN doc_id % 7 = 2 THEN doc_id + 1099511627776 " +
            "ELSE doc_id END AS key",
          "CASE CAST(doc_id % 7 AS INT) WHEN 0 THEN 'D' WHEN 1 THEN 'U' " +
            "ELSE 'I' END AS op",
          "lang AS c_lang",
          "CASE WHEN doc_id % 7 = 2 THEN CAST(NULL AS BIGINT) " +
            "ELSE n_chars END AS before_n",
          "CASE CAST(doc_id % 7 AS INT) WHEN 0 THEN CAST(NULL AS BIGINT) " +
            "WHEN 1 THEN n_chars + 1000 ELSE n_chars END AS after_n")
        .persist()
      val applied = base.join(ch, $"doc_id" === $"key", "full_outer")
        .where($"op".isNull || $"op" =!= "D")
        .selectExpr("coalesce(doc_id, key) AS doc_id",
          "coalesce(lang, c_lang) AS lang",
          "CASE WHEN op IN ('U', 'I') THEN after_n ELSE n_chars END AS n_chars")
      val undone = applied
        .join(ch.selectExpr("key AS key2", "op AS op2", "c_lang AS c_lang2",
          "before_n AS before_n2"), $"doc_id" === $"key2", "full_outer")
        .where($"op2".isNull || $"op2" =!= "I")
        .selectExpr("coalesce(doc_id, key2) AS doc_id",
          "coalesce(lang, c_lang2) AS lang",
          "CASE WHEN op2 IN ('U', 'D') THEN before_n2 ELSE n_chars END AS n_chars")
      undone.selectExpr("lang", "n_chars",
          "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':', " +
            "CAST(n_chars AS STRING))), 1, 15), 16, 10) AS BIGINT) AS h")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"),
          expr("bit_xor(h)").as("content_sig"))
        .orderBy("lang")
    }),

    // SCHEMA EVOLUTION read: a long-lived corpus directory holds
    // files written under SUCCESSIVE schemas — here v1 (doc_id, lang,
    // n_chars) and v2 adding a `quality` column. `mergeSchema`
    // reconciles the per-file footers into the union schema at PLAN
    // time and v1 rows surface NULL quality — the evolution path a
    // 100-TB corpus relies on when a column lands mid-ingest
    // (rewriting history is not an option; the scan adapts per file).
    // The aggregate witnesses both halves: per lang, the null-quality
    // count must equal the v1 rows (NULL backfill) and the v2 quality
    // sums ride exact decimal. Same staging + materialize-then-return
    // discipline as pipe_compact_files.
    "pipe_schema_evolve" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_evolve_") { tmp =>
        val root = tmp.resolve("table").toString
        val docs = Tables.documents(s, dir)
        docs.where($"doc_id" % 2 === 0)
          .select($"doc_id", $"lang", $"n_chars")
          .write.parquet(s"$root/v1")
        docs.where($"doc_id" % 2 === 1)
          .select($"doc_id", $"lang", $"n_chars",
            ($"n_chars" % 100).cast("double").as("quality"))
          .write.parquet(s"$root/v2")
        val out = s.read.option("mergeSchema", "true")
          .parquet(s"$root/v1", s"$root/v2")
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(expr("CASE WHEN quality IS NULL THEN 1 ELSE 0 END"))
              .as("n_legacy"),
            sum($"quality".cast("decimal(18,2)")).cast("double")
              .as("sum_quality"))
          .orderBy("lang")
        out
      }
    }),

    // Sequence packing (concat-and-chunk): lay every doc's tokens out
    // on one global tape in doc_id order and map each doc to its
    // 2048-token context windows — the packing step of every
    // pretraining data pipeline. The global offset is a two-level
    // prefix sum: per-bucket totals (one small aggregate) get a
    // running-sum window over the TINY bucket table, then a within-
    // bucket cumsum adds the broadcast bucket base — no single-
    // partition window over the corpus ever exists, which is the only
    // way a global ordered cumsum survives 100 TB. All integers.
    "pipe_pack_sequences" -> ((s, dir) => {
      import s.implicits._
      val C = 2048L
      val d = Tables.documents(s, dir)
        .selectExpr("doc_id", s"CAST(size($TOKENS) AS BIGINT) AS n_tok",
          "doc_id div 100 AS pid")
      // This window is DELIBERATELY unpartitioned: it runs over the
      // TINY per-bucket aggregate (bounded cardinality by design — that
      // is the whole two-level trick), so a single partition is
      // intended. WindowExec's "No Partition Defined" warning fires for
      // it; a constant partitionBy(lit(0)) does not survive constant
      // folding (verified), so the harness mains silence that
      // logger instead (GraftSession.quietWindowExecWarning) and
      // PlanShapeSpec pins the corpus-side window's partition keys.
      val bucketBase = d.groupBy($"pid").agg(sum($"n_tok").as("bsum"))
        .withColumn("base",
          coalesce(sum($"bsum").over(Window.orderBy($"pid")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select($"pid", $"base")
      val wLocal = Window.partitionBy($"pid").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      d.join(broadcast(bucketBase), "pid")
        .withColumn("start_tok",
          $"base" + coalesce(sum($"n_tok").over(wLocal), lit(0L)))
        .selectExpr("doc_id", "n_tok", "start_tok",
          "start_tok + n_tok AS end_tok",
          s"start_tok div $C AS chunk_first",
          s"(start_tok + n_tok - 1) div $C AS chunk_last")
        .where($"n_tok" > 0)
        .orderBy("doc_id")
    }),

    // Overlapping document chunking: slice each doc into 256-char
    // windows on a 192-char stride (64 overlap), the context-window
    // chunking step of RAG indexing and long-doc pretraining prep —
    // the per-DOC dual of pipe_pack_sequences' global tape. Pure
    // generate→explode inside one projection: NO shuffle, NO window —
    // embarrassingly parallel at any corpus size, output bounded at
    // size/stride ≈ 1.33x the input text. An empty doc still yields
    // its one (empty) chunk, keeping the op total.
    "pipe_chunk_overlap" -> ((s, dir) => {
      import s.implicits._
      val (size, stride) = (256, 192)
      Tables.documents(s, dir)
        .select($"doc_id", posexplode(expr(
          s"""transform(sequence(0L, CAST(greatest(length(text) - 1, 0) AS LONG), ${stride}L),
             |          st -> substring(text, CAST(st + 1 AS INT), $size))""".stripMargin)))
        .select($"doc_id", $"pos".cast("long").as("chunk_idx"),
          ($"pos" * stride).cast("long").as("chunk_start"),
          length($"col").cast("long").as("chunk_len"), $"col".as("chunk"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // Size-balanced shard assignment: spread docs over 16 output shards
    // so token totals even out (the writer-side step before exporting
    // training shards). Serpentine placement over the global
    // by-size rank (largest first; shard order reverses every block of
    // 16) is the classic greedy bin-balancer in closed form — no
    // driver-side loop. The global rank itself never builds a
    // single-partition window: docs group by exact n_tok (the
    // ordering key's coarse prefix), per-value bases come from a
    // running sum over the TINY distinct-size table (broadcast back),
    // and only the within-size row_number partitions by n_tok — the
    // same two-level prefix-sum shape as pipe_pack_sequences, so the
    // plan survives a corpus that no longer fits one sort partition.
    "pipe_shard_assign" -> ((s, dir) => {
      import s.implicits._
      val K = 16
      val d = Tables.documents(s, dir)
        .selectExpr("doc_id", s"CAST(size($TOKENS) AS BIGINT) AS n_tok")
      // Deliberately unpartitioned: tiny distinct-size table, single
      // partition intended — see pipe_pack_sequences' bucketBase note.
      val sizeBase = d.groupBy($"n_tok").agg(count(lit(1)).as("cnt"))
        .withColumn("base",
          coalesce(sum($"cnt").over(Window.orderBy($"n_tok".desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select($"n_tok", $"base")
      val wIn = Window.partitionBy($"n_tok").orderBy($"doc_id")
      d.join(broadcast(sizeBase), "n_tok")
        .withColumn("rank", $"base" + row_number().over(wIn))
        .selectExpr("doc_id", "n_tok",
          s"CASE WHEN ((rank - 1) div $K) % 2 = 0 THEN (rank - 1) % $K " +
            s"ELSE ${K - 1} - ((rank - 1) % $K) END AS shard")
        .groupBy($"shard")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("sum_tok"))
        .orderBy("shard")
    }),

    // Mixture oversampling to parity: every language is repeated up to
    // the size of the largest one (epoch-style upsampling, the
    // counterpart of pipe_domain_mix's downsampling). Docs get
    // ⌊target/n_g⌋ full epochs plus one partial epoch for the
    // `target mod n_g` docs with smallest md5 — deterministic across
    // runs/engines, exact to the row. The group sizes and the target
    // scalar are two tiny broadcast joins. The row-multiplying explode
    // is TWO-LEVEL (chunks of 4096, then epochs within the chunk):
    // sequence() materializes its array before exploding, so a single
    // flat sequence(1, n_epochs) would build an n_epochs-element array
    // per row — an OOM (or the array-size cap) when the mixture is
    // badly imbalanced at scale. Chunking bounds every array at 4096
    // and the blow-up streams through one map stage into the final
    // partial aggregate.
    "pipe_oversample" -> ((s, dir) => {
      import s.implicits._
      val C = 4096L
      val d = Tables.documents(s, dir)
        .select($"doc_id", $"lang", md5($"doc_id".cast("string")).as("h"))
      val sizes = d.groupBy($"lang").agg(count(lit(1)).as("n_g"))
      val target = sizes.agg(max($"n_g").as("target"))
      d.join(broadcast(sizes), "lang")
        .crossJoin(broadcast(target))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"lang").orderBy($"h", $"doc_id")))
        .withColumn("n_epochs",
          expr("target div n_g") +
            when($"rn" <= expr("target % n_g"), 1L).otherwise(0L))
        .where($"n_epochs" > 0)
        .withColumn("chunk",
          explode(sequence(lit(0L), expr(s"(n_epochs - 1) div $C"))))
        .withColumn("epoch",
          explode(sequence(expr(s"chunk * $C + 1"),
            expr(s"least(n_epochs, (chunk + 1) * $C)"))))
        .groupBy($"lang", $"epoch")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "epoch")
    }),

    // Dataset card: the corpus composition report published next to a
    // training set — docs, tokens, and exact-dup rate per (lang,
    // source) cell plus per-lang and grand-total rollup rows. One
    // ROLLUP aggregate; the dup rate rides on count(DISTINCT md5):
    // digest-only like dedup_exact, so no text crosses the shuffle,
    // and the ppm ratio stays in integer arithmetic. Rollup subtotal
    // rows label as 'ALL' via grouping() — NOT a bare coalesce, which
    // would conflate them with a genuine NULL key (a real "language
    // unknown" group renders '(none)') and leave the sort at the mercy
    // of engine NULL ordering.
    "pipe_dataset_card" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .selectExpr("lang", "source",
          s"CAST(size($TOKENS) AS BIGINT) AS n_tok", "md5(text) AS h")
        .rollup($"lang", $"source")
        .agg(grouping($"lang").as("gl"), grouping($"source").as("gs"),
          count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"),
          countDistinct($"h").as("n_unique"))
        .select(
          when($"gl" === 1, "ALL")
            .otherwise(coalesce($"lang", lit("(none)"))).as("lang"),
          when($"gs" === 1, "ALL")
            .otherwise(coalesce($"source", lit("(none)"))).as("source"),
          $"n_docs", $"n_tokens", $"n_unique",
          expr("(n_docs - n_unique) * 1000000L div n_docs AS dup_ppm"))
        .orderBy("lang", "source")
    }),

    // DATA-CONTRACT EXPECTATION SUITE: the Deequ/Great-
    // Expectations gate an ingest runs before training — declared
    // constraints evaluated in MINIMAL passes. All single-table
    // constraints for one table ride ONE partial+final aggregate scan
    // and stack to long form AFTER aggregation (the pipe_profile
    // shape: lineitem's four checks cost one scan, not four); each
    // referential-integrity constraint is one LEFT ANTI join counting
    // orphans (the dim side auto-broadcasts here; at 100 TB the same
    // plan shuffle-joins on the key — either way only the key column
    // moves). NULL handling is deliberately uniform: every row check
    // is `WHEN <expected> THEN 0 ELSE 1`, so a NULL predicate falls to
    // the ELSE and counts as a violation on BOTH engines (NULL IN /
    // NULL BETWEEN are NULL, not false — the formulation makes that a
    // feature instead of an engine-parity trap). Output: one row per
    // constraint (name, violation count, pass).
    "pipe_expectations" -> ((s, dir) => {
      import s.implicits._
      val li = Tables.lineitem(s, dir)
        .agg(
          sum(expr("CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1 END")).as("m1"),
          sum(expr("CASE WHEN l_discount BETWEEN 0 AND 1 THEN 0 ELSE 1 END")).as("m2"),
          sum(expr("CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END")).as("m3"),
          sum(expr("CASE WHEN l_quantity > 0 THEN 0 ELSE 1 END")).as("m4"))
        .selectExpr("stack(4, " +
          "'lineitem.l_shipdate IS NOT NULL', m1, " +
          "'lineitem.l_discount BETWEEN 0 AND 1', m2, " +
          "'lineitem.l_returnflag IN (A,N,R)', m3, " +
          "'lineitem.l_quantity > 0', m4) AS (con, violations)")
      def unique(df: DataFrame, table: String, key: String): DataFrame =
        df.agg((count(lit(1)) - countDistinct(col(key))).as("violations"))
          .select(lit(s"$table.$key UNIQUE").as("con"), $"violations")
      val docs = Tables.documents(s, dir)
        .agg(sum(expr("CASE WHEN n_chars = length(text) THEN 0 ELSE 1 END"))
          .as("violations"))
        .select(lit("documents.n_chars = length(text)").as("con"), $"violations")
      def orphans(fact: DataFrame, fk: String, dim: DataFrame, pk: String,
          label: String): DataFrame =
        fact.select(fk).join(dim.select(pk), col(fk) === col(pk), "left_anti")
          .agg(count(lit(1)).as("violations"))
          .select(lit(label).as("con"), $"violations")
      li.unionAll(unique(Tables.orders(s, dir), "orders", "o_orderkey"))
        .unionAll(unique(Tables.customer(s, dir), "customer", "c_custkey"))
        .unionAll(unique(Tables.events(s, dir), "events", "event_id"))
        .unionAll(docs)
        .unionAll(orphans(Tables.orders(s, dir), "o_custkey",
          Tables.customer(s, dir), "c_custkey",
          "orders.o_custkey IN customer.c_custkey"))
        .unionAll(orphans(Tables.lineitem(s, dir), "l_orderkey",
          Tables.orders(s, dir), "o_orderkey",
          "lineitem.l_orderkey IN orders.o_orderkey"))
        .select($"con".as("constraint_name"), $"violations",
          ($"violations" === 0).as("pass"))
        .orderBy("constraint_name")
    }),

    // CDC APPLY / MERGE: apply a keyed change batch (insert /
    // update / delete op codes) to a base snapshot — MERGE INTO
    // semantics as one FULL-OUTER join on the primary key, the shape
    // every open-table-format merge lowers to. Complements
    // ev_compact_latest (which compacts a changelog to latest-per-key):
    // this APPLIES a resolved delta to an existing snapshot. One
    // shuffle on the key; only narrow columns move (no text). The
    // change batch derives deterministically from the fixture (same
    // policy as pipe_snapshot_diff): doc_id%7==0 → D, %7==1 → U
    // (n_chars rewritten), %7==2 → I under a +2^40 key (collision-free
    // at any SF). Unmatched D ops are dropped silently — idempotent
    // re-apply, the at-least-once delivery posture.
    "pipe_cdc_apply" -> ((s, dir) => {
      import s.implicits._
      val base = Tables.documents(s, dir)
        .select($"doc_id", $"lang", $"n_chars")
      val changes = Tables.documents(s, dir)
        .where($"doc_id" % 7 < 3)
        .selectExpr(
          "CASE WHEN doc_id % 7 = 2 THEN doc_id + 1099511627776L " +
            "ELSE doc_id END AS doc_id",
          "CASE doc_id % 7 WHEN 0 THEN 'D' WHEN 1 THEN 'U' ELSE 'I' END AS op",
          "lang",
          "CASE doc_id % 7 WHEN 1 THEN n_chars + 1000L ELSE n_chars END " +
            "AS n_chars")
      base.join(changes.withColumnsRenamed(
          Map("lang" -> "c_lang", "n_chars" -> "c_n_chars")),
          Seq("doc_id"), "full_outer")
        .where(coalesce($"op", lit("")) =!= "D")
        .select($"doc_id",
          coalesce($"c_lang", $"lang").as("lang"),
          coalesce($"c_n_chars", $"n_chars").as("n_chars"),
          when($"op".isNull, "base")
            .when($"op" === "U", "updated")
            .otherwise("inserted").as("origin"))
        .orderBy("doc_id")
    }),

    // CDC APPLY with a CONFLICT-BEARING batch: pipe_cdc_apply
    // assumes at most one change per key — a real MERGE batch carries
    // several (a row updated then deleted, inserted then updated
    // within one commit window) and must resolve LATEST-WINS first.
    // This composes the ev_compact_latest shape (one groupBy, max over
    // a (seq, payload) struct — partial+final agg, no window/no sort)
    // in FRONT of the same single full-outer-join apply: exactly one
    // pre-aggregation + one join, one shuffle each on the key. The
    // fixture batch carries TWO ops per touched key in commit order
    // (seq): %7==0 → U(1) then D(2) (update superseded by delete —
    // resolved D, row removed); %7==1 → D(1) then U(2) (delete
    // superseded by update — resolved U, the conflict a naive
    // apply-in-arrival-order gets wrong); %7==2 → I(1) then U(2) under
    // the +2^40 key (insert refined in-batch — applies as an insert:
    // origin derives from base-side presence, not the resolved op
    // code). Idempotent re-apply as before.
    "pipe_cdc_apply_multi" -> ((s, dir) => {
      import s.implicits._
      val base = Tables.documents(s, dir)
        .select($"doc_id", $"lang", $"n_chars", lit(1).as("in_base"))
      val touched = Tables.documents(s, dir).where($"doc_id" % 7 < 3)
      val op1 = touched.selectExpr(
        "CASE WHEN doc_id % 7 = 2 THEN doc_id + 1099511627776L " +
          "ELSE doc_id END AS doc_id",
        "1L AS seq",
        "CASE doc_id % 7 WHEN 0 THEN 'U' WHEN 1 THEN 'D' ELSE 'I' END AS op",
        "lang", "n_chars")
      val op2 = touched.selectExpr(
        "CASE WHEN doc_id % 7 = 2 THEN doc_id + 1099511627776L " +
          "ELSE doc_id END AS doc_id",
        "2L AS seq",
        "CASE doc_id % 7 WHEN 0 THEN 'D' ELSE 'U' END AS op",
        "lang",
        "CASE doc_id % 7 WHEN 0 THEN n_chars ELSE n_chars + 1000L END " +
          "AS n_chars")
      val resolved = op1.unionAll(op2)
        .groupBy($"doc_id")
        .agg(max(struct($"seq", $"op", $"lang", $"n_chars")).as("m"))
        .select($"doc_id", $"m.op".as("op"),
          $"m.lang".as("c_lang"), $"m.n_chars".as("c_n_chars"))
      base.join(resolved, Seq("doc_id"), "full_outer")
        .where(coalesce($"op", lit("")) =!= "D")
        .select($"doc_id",
          coalesce($"c_lang", $"lang").as("lang"),
          coalesce($"c_n_chars", $"n_chars").as("n_chars"),
          when($"op".isNull, "base")
            .when($"in_base".isNull, "inserted")
            .otherwise("updated").as("origin"))
        .orderBy("doc_id")
    }),

    // Dataset PROFILE: the schema-validation report every ingest
    // runs before training — per column: row count, null count + ppm,
    // exact distinct count, and canonical min/max renderings. ONE scan,
    // one aggregate row, stacked to long format AFTER aggregation (the
    // stack explodes the 1 wide row into one row per profiled column —
    // no shuffle repetition, no per-column scans, no join;
    // plan-guarded). Renderings are engine-canonical on purpose:
    // longs/strings cast directly, the double as an e2-floored integer,
    // the timestamp via an explicit format — so the oracle compares
    // bytes, not float/temporal printers. The multi-column exact
    // countDistinct plans as one Expand (rows replicated once per
    // distinct column) — fine at profile cadence; at 100 TB run
    // `pipe_profile_approx` below: same one scan, no Expand, HLL
    // sketches in place of the exact distincts.
    "pipe_profile" -> ((s, dir) => profilePlan(s, dir, exact = true)),

    // Sketch PROFILE: the variant you actually run at 100 TB.
    // Same one-scan stacked shape as pipe_profile, but the per-column
    // distinct counts are HLL++ sketches (`approx_count_distinct`,
    // rsd=0.01) — single-pass partial+final aggregation, NO Expand, so
    // 100 TB flows through the first aggregate once instead of
    // once-per-profiled-column (pipe_profile's Expand×8 → 800 TB).
    // Everything else in the row (n_rows, null counts/ppm, min/max
    // renderings) is the same exact aggregate. Rows-only (HLL merge
    // order is engine-local); the in-path gate recomputes the exact
    // profile and `require`s every sketch within the rel_approx_distinct
    // 4σ bound AND every exact field byte-identical — the driver run
    // witnesses both. The exact sibling stays the oracle-checkable
    // yardstick, the same pairing as emb_cosine_pairs/emb_blocked_pairs.
    "pipe_profile_approx" -> ((s, dir) => {
      val out = profilePlan(s, dir, exact = false)
      QueryModule.gated("pipe_profile_approx", out) { rows =>
        // Exhaustive by default: re-derive the exact profile for EVERY
        // column (the fixture-scale witness). Under
        // SPARK_GRAFT_AUDIT_SAMPLE < 1 the exact recomputation — the
        // Expand-based plan this query exists to avoid — runs over a
        // deterministic FRACTION of the columns (spread selection, at
        // least one), cutting the Expand replication proportionally;
        // the sketch bound is then witnessed on the audited columns.
        val nAll = ProfiledCols.length
        val audited =
          if (QueryModule.auditSample >= 1.0) ProfiledCols
          else ProfiledCols.zipWithIndex.collect {
            case (c, i)
              if i.toLong * 1000000L / nAll < QueryModule.auditThreshold => c
          }
        val exact =
          profilePlan(s, dir, exact = true, onlyCols = Some(audited))
            .collect().map(r => r.getString(0) -> r).toMap
        require(rows.length == nAll,
          s"pipe_profile_approx gate: ${rows.length} rows vs " +
            s"$nAll profiled columns")
        require(exact.size == audited.length,
          s"pipe_profile_approx gate: exact audit returned ${exact.size} " +
            s"rows for ${audited.length} audited columns")
        rows.filter(r => exact.contains(r.getString(0))).foreach { r =>
          val e = exact(r.getString(0))
          // Exact fields must agree bit-for-bit: only the distinct
          // count is sketched.
          Seq(1, 2, 3, 5, 6).foreach { i =>
            require(r.get(i) == e.get(i),
              s"pipe_profile_approx gate: ${r.getString(0)} field $i " +
                s"diverges (${r.get(i)} vs exact ${e.get(i)})")
          }
          val (a, x) = (r.getLong(4), e.getLong(4))
          require(math.abs(a - x) <= math.max(4L, (4 * ProfileRsd * x).toLong),
            s"pipe_profile_approx gate: ${r.getString(0)} approx $a vs " +
              s"exact $x drifts past the 4σ HLL bound")
        }
      }
    }),

    // QUALITY FILTER FUNNEL — the ablation table every corpus
    // release publishes (the Dolma/FineWeb-style report): the cleaning
    // rules applied in a FIXED order, with per-stage input/drop/
    // survivor counts, so a reviewer can see which rule costs what.
    // Stages: length bounds → stopword saturation → 3-gram repetition
    // → language allowlist — every signal an EXACT integer expression
    // already proven element-wise by its standalone query (txt_quality,
    // txt_repetition, the shared grams3 fragment), so the funnel's
    // whole report is oracle-exact. Shape: ONE corpus scan computing
    // all signals, one partial+final aggregate producing five counters,
    // stacked to long format AFTER aggregation (the pipe_profile
    // pattern — the stack explodes 1 row, not the corpus). Order
    // matters and is part of the contract: n_in of stage k is n_out of
    // stage k−1, so a rule reordering shows up as a hash mismatch.
    "pipe_filter_funnel" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .selectExpr("lang", s"$TOKENS AS t")
        .selectExpr("lang",
          "CAST(size(t) AS BIGINT) AS n_tok",
          "CAST(size(filter(t, w -> w IN ('a', 'the'))) AS BIGINT) AS stop_cnt",
          "CASE WHEN size(t) >= 3 THEN CAST(size(array_distinct(" +
            s"${QueryModule.grams3("t")})) AS BIGINT) ELSE 0L END AS dg")
        .selectExpr(
          "n_tok BETWEEN 10 AND 1000 AS ok1",
          // Zero-token guard mirrors txt_quality's ANSI-div concern.
          "(CASE WHEN n_tok = 0 THEN 1000000L " +
            "ELSE stop_cnt * 1000000L div n_tok END) < 300000 AS ok2",
          "(CASE WHEN n_tok >= 3 THEN " +
            "(n_tok - 2 - dg) * 1000000L div (n_tok - 2) " +
            "ELSE 0L END) < 200000 AS ok3",
          "lang IN ('en', 'de', 'es', 'fr', 'zh') AS ok4")
        .agg(
          count(lit(1)).as("c0"),
          sum(when($"ok1", 1L).otherwise(0L)).as("c1"),
          sum(when($"ok1" && $"ok2", 1L).otherwise(0L)).as("c2"),
          sum(when($"ok1" && $"ok2" && $"ok3", 1L).otherwise(0L)).as("c3"),
          sum(when($"ok1" && $"ok2" && $"ok3" && $"ok4", 1L).otherwise(0L))
            .as("c4"))
        .selectExpr("stack(4, " +
          "1L, 'length', c0, c1, " +
          "2L, 'stopwords', c1, c2, " +
          "3L, 'repetition', c2, c3, " +
          "4L, 'language', c3, c4) AS (stage, rule, n_in, n_out)")
        .selectExpr("stage", "rule", "n_in",
          "n_in - n_out AS n_drop", "n_out")
        .orderBy("stage")
    })
  )

  /** PII patterns, shared verbatim by the Spark query and the DuckDB
    * oracle (Java-regex ∩ RE2 subset — see pipe_pii_scrub). */
  private val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PiiPhoneRe = "555-[0-9]{4}"
  private val PiiCcRe = "4[0-9]{3}-[0-9]{4}-[0-9]{4}-[0-9]{4}"
  private val PiiSsnRe = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
  private val PiiIpRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  private val PiiKeyRe = "AKIA[A-Z0-9]{16}"

  private val duckTokens = QueryModule.DuckTokens

  override def oracles: Map[String, String] = Map(

    // The identical four stages as CTEs, on the shared fragments.
    "pipe_e2e_corpus" ->
      s"""WITH base AS (
        |  SELECT doc_id, lang, $duckTokens AS toks FROM documents),
        |b2 AS (SELECT doc_id, lang, toks,
        |    CAST(len(toks) AS BIGINT) AS n_tok,
        |    CAST(len(list_filter(toks, w -> w IN ('a', 'the'))) AS BIGINT) AS stop_cnt
        |  FROM base),
        |quality AS (SELECT * FROM b2
        |  WHERE doc_id >= 10 AND n_tok BETWEEN 10 AND 1000
        |    AND stop_cnt * 1000000 // greatest(n_tok, 1) < 300000),
        |dd AS (SELECT *,
        |    md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
        |  FROM quality),
        |deduped AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |    FROM dd) WHERE rn = 1),
        |eg AS (SELECT DISTINCT unnest(${QueryModule.duckGrams3("toks")}) AS g
        |  FROM base WHERE doc_id < 10 AND len(toks) >= 3),
        |cg AS (SELECT doc_id, unnest(${QueryModule.duckGrams3("toks")}) AS g
        |  FROM deduped WHERE len(toks) >= 3),
        |flagged AS (SELECT DISTINCT cg.doc_id FROM cg JOIN eg USING (g)),
        |surv AS (SELECT doc_id, lang, n_tok FROM deduped
        |  WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
        |tape AS (SELECT lang, n_tok,
        |    coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
        |  FROM surv),
        |marks AS (SELECT lang, n_tok,
        |    (start_tok // 2048) != ((start_tok + n_tok - 1) // 2048) AS straddle
        |  FROM tape),
        |tot AS (SELECT CAST((sum(n_tok) + 2047) // 2048 AS BIGINT) AS total_chunks
        |  FROM marks)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(count(*) FILTER (WHERE straddle) AS BIGINT) AS n_straddle,
        |  total_chunks
        |FROM marks, tot
        |GROUP BY lang, total_chunks
        |ORDER BY lang""".stripMargin,

    // The per-day profile of the ORIGINAL events: the repaired staged
    // table must reproduce it exactly.
    "pipe_backfill" ->
      """SELECT CAST(ts AS DATE) AS d, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_value_e6
        |FROM events
        |GROUP BY 1
        |ORDER BY d""".stripMargin,

    // Same split arithmetic, same corpus-dup-over-batch-dup precedence,
    // same word-set fingerprint.
    "pipe_incr_dedup" ->
      s"""WITH d AS (SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct($duckTokens)), ' ')) AS digest
        |  FROM documents),
        |corpus AS (SELECT DISTINCT digest FROM d WHERE doc_id % 4 != 3),
        |batch AS (SELECT doc_id, digest FROM d WHERE doc_id % 4 = 3),
        |verdicts AS (
        |  SELECT doc_id,
        |    CASE WHEN digest IN (SELECT digest FROM corpus)
        |           THEN 'dup_of_corpus'
        |         WHEN row_number() OVER (PARTITION BY digest ORDER BY doc_id) > 1
        |           THEN 'dup_in_batch'
        |         ELSE 'keep' END AS verdict
        |  FROM batch)
        |SELECT verdict, CAST(count(*) AS BIGINT) AS n_docs,
        |  min(doc_id) AS first_doc
        |FROM verdicts
        |GROUP BY verdict
        |ORDER BY verdict""".stripMargin,
    "pipe_clean_corpus" ->
      s"""WITH q AS (
        |  SELECT doc_id, lang, text,
        |    len($duckTokens) AS n_tokens,
        |    len(list_filter($duckTokens, w -> w IN ('a', 'the'))) AS stop_cnt
        |  FROM documents),
        |f AS (SELECT * FROM q
        |      WHERE n_tokens BETWEEN 10 AND 1000
        |        AND (stop_cnt * 1000000) // greatest(n_tokens, 1) < 300000),
        |d AS (SELECT md5(text) AS digest, min(doc_id) AS keep_id FROM f GROUP BY 1)
        |SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |FROM f JOIN d ON md5(f.text) = d.digest AND f.doc_id = d.keep_id
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,
    "pipe_snapshot_diff" ->
      """WITH v1 AS (
        |  SELECT doc_id, lang AS lang1, md5(text) AS h1 FROM documents),
        |v2 AS (
        |  SELECT doc_id, lang AS lang2,
        |    md5(CASE WHEN doc_id % 17 = 0 THEN text || ' rev2' ELSE text END) AS h2
        |  FROM documents WHERE doc_id % 23 != 0
        |  UNION ALL
        |  SELECT doc_id + 1099511627776, lang, md5(text || ' new')
        |  FROM documents WHERE doc_id % 29 = 0)
        |SELECT coalesce(lang2, lang1) AS lang,
        |  CASE WHEN h1 IS NULL THEN 'added'
        |       WHEN h2 IS NULL THEN 'removed'
        |       WHEN h1 = h2 THEN 'unchanged'
        |       ELSE 'modified' END AS change_type,
        |  count(*) AS n_docs
        |FROM v1 FULL OUTER JOIN v2 USING (doc_id)
        |GROUP BY 1, 2
        |ORDER BY lang, change_type""".stripMargin,
    "pipe_stratified_sample" ->
      """SELECT lang, rk, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 20
        |ORDER BY lang, rk""".stripMargin,
    "pipe_decontam" ->
      s"""$duckShingles,
         |ev AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id < 10),
         |fl AS (SELECT DISTINCT doc_id
         |       FROM (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id >= 10)
         |       WHERE g IN (SELECT g FROM ev))
         |SELECT d.lang, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN fl.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
         |FROM documents d LEFT JOIN fl ON d.doc_id = fl.doc_id
         |WHERE d.doc_id >= 10
         |GROUP BY d.lang
         |ORDER BY lang""".stripMargin,
    "pipe_pii_scrub" ->
      s"""WITH s AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
        |      || ' card 4111-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      || '-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
        |      || '-' || lpad(CAST((doc_id * 13) % 10000 AS VARCHAR), 4, '0')
        |      || ' ssn 078-05-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
        |      || CAST((doc_id // 256) % 256 AS VARCHAR) || '.7'
        |      || ' key AKIA' || upper(substr(md5(CAST(doc_id AS VARCHAR)), 1, 16))
        |      || ' or tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      || ' today' AS synth
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, synth,
        |    replace(regexp_extract(synth, '$PiiCcRe'), '-', '') AS ccd,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(synth, '$PiiEmailRe', '[EMAIL]', 'g'),
        |      '$PiiCcRe', '[CC]', 'g'), '$PiiSsnRe', '[SSN]', 'g'),
        |      '$PiiIpRe', '[IP]', 'g'), '$PiiKeyRe', '[KEY]', 'g'),
        |      '$PiiPhoneRe', '[PHONE]', 'g') AS scrubbed
        |  FROM s)
        |SELECT doc_id,
        |  len(regexp_extract_all(synth, '$PiiEmailRe')) AS n_emails,
        |  len(regexp_extract_all(synth, '$PiiPhoneRe')) AS n_phones,
        |  len(regexp_extract_all(synth, '$PiiCcRe')) AS n_cc,
        |  CASE WHEN length(ccd) = 16 AND
        |    list_sum([CASE WHEN i % 2 = 0 THEN CAST(substr(ccd, 16 - i, 1) AS INT)
        |      WHEN CAST(substr(ccd, 16 - i, 1) AS INT) * 2 > 9
        |      THEN CAST(substr(ccd, 16 - i, 1) AS INT) * 2 - 9
        |      ELSE CAST(substr(ccd, 16 - i, 1) AS INT) * 2 END
        |      FOR i IN range(0, 16)]) % 10 = 0
        |  THEN 1 ELSE 0 END AS n_cc_luhn,
        |  len(regexp_extract_all(synth, '$PiiSsnRe')) AS n_ssn,
        |  len(regexp_extract_all(synth, '$PiiIpRe')) AS n_ip,
        |  len(regexp_extract_all(synth, '$PiiKeyRe')) AS n_keys,
        |  md5(scrubbed) AS scrub_md5,
        |  length(scrubbed) AS n_chars
        |FROM c
        |ORDER BY doc_id""".stripMargin,
    "pipe_train_split" ->
      """SELECT lang,
        |  CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs
        |FROM (SELECT lang,
        |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 AS b
        |      FROM documents)
        |GROUP BY 1, 2
        |ORDER BY lang, split""".stripMargin,
    "pipe_domain_mix" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= CASE WHEN lang = 'en' THEN 160 ELSE 60 END
        |ORDER BY lang, doc_id""".stripMargin,
    "pipe_weighted_sample" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    pow((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1)
        |        / 1152921504606846976.0, 1.0 / n_chars) AS k
        |  FROM documents
        |  ORDER BY k DESC, doc_id LIMIT 50)
        |ORDER BY doc_id""".stripMargin,
    "pipe_compact_files" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  bit_xor(('0x' || substr(md5(text), 1, 15))::BIGINT) AS content_sig
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,
    // Identical staged booleans over the shared tokenizer/grams
    // fragments; the funnel chaining (n_in_k = n_out_{k-1}) is part of
    // the compared output.
    "pipe_filter_funnel" ->
      s"""WITH sig AS (
        |  SELECT lang, $duckTokens AS t FROM documents),
        |x AS (
        |  SELECT lang, len(t) AS n_tok,
        |    len(list_filter(t, w -> w IN ('a', 'the'))) AS stop_cnt,
        |    CASE WHEN len(t) >= 3
        |      THEN len(list_distinct(${QueryModule.duckGrams3("t")}))
        |      ELSE 0 END AS dg
        |  FROM sig),
        |f AS (
        |  SELECT n_tok BETWEEN 10 AND 1000 AS ok1,
        |    (CASE WHEN n_tok = 0 THEN 1000000
        |      ELSE stop_cnt * 1000000 // n_tok END) < 300000 AS ok2,
        |    (CASE WHEN n_tok >= 3
        |      THEN (n_tok - 2 - dg) * 1000000 // (n_tok - 2)
        |      ELSE 0 END) < 200000 AS ok3,
        |    lang IN ('en', 'de', 'es', 'fr', 'zh') AS ok4
        |  FROM x),
        |c AS (SELECT count(*) AS c0,
        |    sum(CASE WHEN ok1 THEN 1 ELSE 0 END) AS c1,
        |    sum(CASE WHEN ok1 AND ok2 THEN 1 ELSE 0 END) AS c2,
        |    sum(CASE WHEN ok1 AND ok2 AND ok3 THEN 1 ELSE 0 END) AS c3,
        |    sum(CASE WHEN ok1 AND ok2 AND ok3 AND ok4 THEN 1 ELSE 0 END) AS c4
        |  FROM f)
        |SELECT CAST(stage AS BIGINT) AS stage, rule,
        |  CAST(n_in AS BIGINT) AS n_in,
        |  CAST(n_in - n_out AS BIGINT) AS n_drop,
        |  CAST(n_out AS BIGINT) AS n_out
        |FROM (
        |  SELECT 1 AS stage, 'length' AS rule, c0 AS n_in, c1 AS n_out FROM c
        |  UNION ALL SELECT 2, 'stopwords', c1, c2 FROM c
        |  UNION ALL SELECT 3, 'repetition', c2, c3 FROM c
        |  UNION ALL SELECT 4, 'language', c3, c4 FROM c)
        |ORDER BY stage""".stripMargin,
    "pipe_pack_sequences" ->
      s"""WITH d AS (SELECT doc_id, CAST(len($duckTokens) AS BIGINT) AS n_tok
         |           FROM documents),
         |o AS (SELECT doc_id, n_tok,
         |        coalesce(CAST(sum(n_tok) OVER (ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS start_tok
         |      FROM d)
         |SELECT doc_id, n_tok, start_tok, start_tok + n_tok AS end_tok,
         |  start_tok // 2048 AS chunk_first,
         |  (start_tok + n_tok - 1) // 2048 AS chunk_last
         |FROM o
         |WHERE n_tok > 0
         |ORDER BY doc_id""".stripMargin,
    "pipe_chunk_overlap" ->
      """SELECT doc_id, st // 192 AS chunk_idx, st AS chunk_start,
        |  length(substr(text, CAST(st + 1 AS INT), 256)) AS chunk_len,
        |  substr(text, CAST(st + 1 AS INT), 256) AS chunk
        |FROM documents,
        |  LATERAL unnest(generate_series(0, greatest(length(text) - 1, 0), 192))
        |    AS t(st)
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    // Single flat row_number (fine at oracle scale); the engine side
    // computes the identical rank via the two-level prefix sum.
    "pipe_shard_assign" ->
      s"""WITH d AS (SELECT doc_id, CAST(len($duckTokens) AS BIGINT) AS n_tok
         |           FROM documents),
         |r AS (SELECT doc_id, n_tok,
         |        row_number() OVER (ORDER BY n_tok DESC, doc_id) AS rank
         |      FROM d)
         |SELECT CAST(CASE WHEN ((rank - 1) // 16) % 2 = 0 THEN (rank - 1) % 16
         |            ELSE 15 - ((rank - 1) % 16) END AS BIGINT) AS shard,
         |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tok
         |FROM r
         |GROUP BY 1
         |ORDER BY shard""".stripMargin,
    "pipe_oversample" ->
      """WITH d AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h
        |           FROM documents),
        |s AS (SELECT lang, count(*) AS n_g FROM d GROUP BY 1),
        |t AS (SELECT max(n_g) AS target FROM s),
        |r AS (SELECT d.lang,
        |        row_number() OVER (PARTITION BY d.lang ORDER BY h, doc_id) AS rn,
        |        s.n_g, t.target
        |      FROM d JOIN s USING (lang) CROSS JOIN t),
        |e AS (SELECT lang,
        |        CAST(target // n_g
        |          + CASE WHEN rn <= target % n_g THEN 1 ELSE 0 END AS BIGINT)
        |          AS n_epochs
        |      FROM r),
        |u AS (SELECT lang, unnest(generate_series(1, n_epochs)) AS epoch
        |      FROM e WHERE n_epochs > 0)
        |SELECT lang, CAST(epoch AS BIGINT) AS epoch, count(*) AS n_docs
        |FROM u
        |GROUP BY 1, 2
        |ORDER BY lang, epoch""".stripMargin,
    "pipe_dataset_card" ->
      s"""WITH d AS (SELECT lang, source,
         |    CAST(len($duckTokens) AS BIGINT) AS n_tok, md5(text) AS h
         |  FROM documents)
         |SELECT CASE WHEN GROUPING(lang) = 1 THEN 'ALL'
         |            ELSE coalesce(lang, '(none)') END AS lang,
         |  CASE WHEN GROUPING(source) = 1 THEN 'ALL'
         |       ELSE coalesce(source, '(none)') END AS source,
         |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  count(DISTINCT h) AS n_unique,
         |  CAST((count(*) - count(DISTINCT h)) * 1000000 // count(*) AS BIGINT)
         |    AS dup_ppm
         |FROM d
         |GROUP BY ROLLUP (lang, source)
         |ORDER BY lang, source""".stripMargin,

    // The round trip must reproduce the BASE table bit-for-bit, so the
    // oracle is simply the base digest — no change machinery at all.
    "pipe_cdc_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |    CAST(n_chars AS VARCHAR)), 1, 15))::BIGINT) AS content_sig
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    // The two schema versions replayed as an explicit union with a
    // typed NULL — what mergeSchema materializes implicitly.
    "pipe_schema_evolve" ->
      """WITH u AS (
        |  SELECT doc_id, lang, n_chars, CAST(NULL AS DOUBLE) AS quality
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars, CAST(n_chars % 100 AS DOUBLE)
        |  FROM documents WHERE doc_id % 2 = 1)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN quality IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_legacy,
        |  CAST(sum(CAST(quality AS DECIMAL(18,2))) AS DOUBLE) AS sum_quality
        |FROM u GROUP BY lang ORDER BY lang""".stripMargin,

    // Same WHEN <expected> THEN 0 ELSE 1 formulation everywhere: a
    // NULL predicate (NULL IN, NULL BETWEEN) falls to ELSE on both
    // engines, so NULLs count as violations identically.
    "pipe_expectations" ->
      """WITH c AS (
        |  SELECT 'lineitem.l_shipdate IS NOT NULL' AS constraint_name,
        |    CAST(sum(CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS violations
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem.l_discount BETWEEN 0 AND 1',
        |    CAST(sum(CASE WHEN l_discount BETWEEN 0 AND 1 THEN 0 ELSE 1 END) AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem.l_returnflag IN (A,N,R)',
        |    CAST(sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END) AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem.l_quantity > 0',
        |    CAST(sum(CASE WHEN l_quantity > 0 THEN 0 ELSE 1 END) AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'orders.o_orderkey UNIQUE',
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'customer.c_custkey UNIQUE',
        |    CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT) FROM customer
        |  UNION ALL
        |  SELECT 'events.event_id UNIQUE',
        |    CAST(count(*) - count(DISTINCT event_id) AS BIGINT) FROM events
        |  UNION ALL
        |  SELECT 'documents.n_chars = length(text)',
        |    CAST(sum(CASE WHEN n_chars = length(text) THEN 0 ELSE 1 END) AS BIGINT)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'orders.o_custkey IN customer.c_custkey',
        |    CAST(count(*) AS BIGINT) FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |  UNION ALL
        |  SELECT 'lineitem.l_orderkey IN orders.o_orderkey',
        |    CAST(count(*) AS BIGINT) FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |SELECT constraint_name, violations, violations = 0 AS pass
        |FROM c ORDER BY constraint_name""".stripMargin,

    // Same derivation of the change batch, same single full-outer
    // MERGE; the USING-join's coalesced key renders as an explicit
    // coalesce here.
    "pipe_cdc_apply" ->
      """WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
        |c AS (SELECT
        |  CASE WHEN doc_id % 7 = 2 THEN doc_id + 1099511627776 ELSE doc_id END AS doc_id,
        |  CASE doc_id % 7 WHEN 0 THEN 'D' WHEN 1 THEN 'U' ELSE 'I' END AS op,
        |  lang AS c_lang,
        |  CASE doc_id % 7 WHEN 1 THEN n_chars + 1000 ELSE n_chars END AS c_n_chars
        |  FROM documents WHERE doc_id % 7 < 3)
        |SELECT CAST(coalesce(b.doc_id, c.doc_id) AS BIGINT) AS doc_id,
        |  coalesce(c.c_lang, b.lang) AS lang,
        |  CAST(coalesce(c.c_n_chars, b.n_chars) AS BIGINT) AS n_chars,
        |  CASE WHEN c.op IS NULL THEN 'base'
        |       WHEN c.op = 'U' THEN 'updated'
        |       ELSE 'inserted' END AS origin
        |FROM base b FULL OUTER JOIN c ON b.doc_id = c.doc_id
        |WHERE coalesce(c.op, '') <> 'D'
        |ORDER BY doc_id""".stripMargin,

    // Latest-wins resolution rendered as a DESC row_number window (the
    // portable SQL form of the engine's max-over-(seq, payload) struct
    // — seq is unique per key, so both pick the same row); then the
    // same full-outer merge as pipe_cdc_apply. origin comes from
    // base-side presence, not the resolved op code (an in-batch I→U
    // chain still applies as an insert).
    "pipe_cdc_apply_multi" ->
      """WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
        |t AS (SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 7 < 3),
        |c AS (SELECT
        |  CASE WHEN doc_id % 7 = 2 THEN doc_id + 1099511627776 ELSE doc_id END AS doc_id,
        |  1 AS seq,
        |  CASE doc_id % 7 WHEN 0 THEN 'U' WHEN 1 THEN 'D' ELSE 'I' END AS op,
        |  lang, n_chars
        |  FROM t
        |  UNION ALL
        |  SELECT
        |  CASE WHEN doc_id % 7 = 2 THEN doc_id + 1099511627776 ELSE doc_id END,
        |  2,
        |  CASE doc_id % 7 WHEN 0 THEN 'D' ELSE 'U' END,
        |  lang,
        |  CASE doc_id % 7 WHEN 0 THEN n_chars ELSE n_chars + 1000 END
        |  FROM t),
        |r AS (SELECT doc_id, op, lang AS c_lang, n_chars AS c_n_chars FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
        |    FROM c)
        |  WHERE rn = 1)
        |SELECT CAST(coalesce(b.doc_id, r.doc_id) AS BIGINT) AS doc_id,
        |  coalesce(r.c_lang, b.lang) AS lang,
        |  CAST(coalesce(r.c_n_chars, b.n_chars) AS BIGINT) AS n_chars,
        |  CASE WHEN r.op IS NULL THEN 'base'
        |       WHEN b.doc_id IS NULL THEN 'inserted'
        |       ELSE 'updated' END AS origin
        |FROM base b FULL OUTER JOIN r ON b.doc_id = r.doc_id
        |WHERE coalesce(r.op, '') <> 'D'
        |ORDER BY doc_id""".stripMargin,

    // One aggregate row, unioned to long format; every integer
    // aggregate CAST AS BIGINT (hugeint rule), min/max rendered with
    // the same canonical formats as the engine (e2-floored integer for
    // the double, strftime for the timestamp).
    "pipe_profile" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority", "o_status_sparse")
      def mm(c: String): (String, String) = c match {
        case "o_totalprice" =>
          (s"CAST(CAST(floor(min($c) * 100) AS BIGINT) AS VARCHAR)",
            s"CAST(CAST(floor(max($c) * 100) AS BIGINT) AS VARCHAR)")
        case "o_orderdate" =>
          (s"strftime(min($c), '%Y-%m-%d %H:%M:%S')",
            s"strftime(max($c), '%Y-%m-%d %H:%M:%S')")
        case _ =>
          (s"CAST(min($c) AS VARCHAR)", s"CAST(max($c) AS VARCHAR)")
      }
      val aggSel = cols.map { c =>
        val (lo, hi) = mm(c)
        s"""CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ${c}_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS ${c}_nd,
           |  $lo AS ${c}_min, $hi AS ${c}_max""".stripMargin
      }.mkString(",\n  ")
      val unions = cols.map { c =>
        s"""SELECT '$c' AS col_name, n_rows, ${c}_nulls AS n_null,
           |  CAST(${c}_nulls * 1000000 // n_rows AS BIGINT) AS null_ppm,
           |  ${c}_nd AS n_distinct, ${c}_min AS min_str, ${c}_max AS max_str
           |FROM a""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH o AS (
         |  SELECT *, CASE WHEN o_orderkey % 3 = 0 THEN NULL
         |            ELSE o_orderstatus END AS o_status_sparse
         |  FROM orders),
         |a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |  $aggSel
         |  FROM o)
         |$unions
         |ORDER BY col_name""".stripMargin
    }
  )
}
