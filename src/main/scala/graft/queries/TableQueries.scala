package graft.queries

import graft.operators.VersionedTable
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned-table lifecycle: commits, time travel, deletion vectors,
  * merges and updates, branches and tags, partition specs and their
  * evolution, materialized views, maintenance and conflicting
  * writers, through the library verbs and through SQL on the
  * `graftcat` catalog.
  */
object TableQueries extends QueryModule {

  /** Session settings of the storage-partitioned joins: broadcast and
    * AQE pinned off, V2 bucketing with partition-value padding on, and
    * the preserve-data-grouping OPT-IN (the Iceberg conf, mirrored):
    * reporting KeyGroupedPartitioning forces per-key task grouping on
    * every scan, so only the session planning the join enables it. */
  private val Spj = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
    "spark.graft.planning.preserveDataGrouping" -> "true")

  /** The documents fixture's (doc_id, lang, n_chars): the base table
    * most lifecycle queries commit. */
  private def docCols(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select("doc_id", "lang", "n_chars")

  /** Stage the shared v0→v2 version history used by BOTH
    * `pipe_table_commit` and `pipe_time_travel` (one definition — a
    * drifted copy would silently fork what "version 1" means between
    * the two oracles): v0 = base documents; v1 = copy-on-write MERGE
    * of the pipe_cdc_apply change batch over the v0 SNAPSHOT READ;
    * v2 = append-only commit (+2^41 clones of doc_id%7==3, n_chars+5)
    * carrying v1's file list verbatim. */
  private def stageVersionHistory(
      s: SparkSession, dir: String, table: java.nio.file.Path): Unit = {
    import s.implicits._
    val base = docCols(s, dir)
    VersionedTable.commit(s, table, 0L, base)
    val changes = Tables.documents(s, dir)
      .where($"doc_id" % 7 < 3)
      .selectExpr(
        "CASE WHEN doc_id % 7 = 2 THEN doc_id + 1099511627776L " +
          "ELSE doc_id END AS doc_id",
        "CASE doc_id % 7 WHEN 0 THEN 'D' WHEN 1 THEN 'U' ELSE 'I' END AS op",
        "lang AS c_lang",
        "CASE doc_id % 7 WHEN 1 THEN n_chars + 1000L ELSE n_chars END " +
          "AS c_n_chars")
    val merged = VersionedTable.read(s, table, Some(0L))
      .join(changes, Seq("doc_id"), "full_outer")
      .where(coalesce($"op", lit("")) =!= "D")
      .select($"doc_id",
        coalesce($"c_lang", $"lang").as("lang"),
        coalesce($"c_n_chars", $"n_chars").as("n_chars"))
    VersionedTable.commit(s, table, 1L, merged)
    val appended = Tables.documents(s, dir)
      .where($"doc_id" % 7 === 3)
      .selectExpr("doc_id + 2199023255552L AS doc_id", "lang",
        "n_chars + 5L AS n_chars")
    VersionedTable.commit(s, table, 2L, appended,
      carried = VersionedTable.manifest(table, 1L))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // VERSIONED-TABLE COMMIT PROTOCOL — the manifest/commit-log
    // layer (operators.VersionedTable) the whole CDC/compaction/
    // backfill family writes through in production: data files mean
    // nothing until a numbered manifest names them, the commit point
    // is ONE atomic rename, and readers resolve the latest (or a
    // requested) manifest — giving atomic swap, snapshot isolation,
    // and time travel over plain parquet. History staged here:
    //   v0 = base documents (full snapshot commit);
    //   v1 = copy-on-write MERGE of the pipe_cdc_apply change batch
    //        over the v0 SNAPSHOT READ (the composition the verdict
    //        asks for: CDC apply produces version N+1);
    //   v2 = APPEND-ONLY commit (doc_id%7==3 clones under +2^41,
    //        n_chars+5) that writes ONLY its new rows and carries v1's
    //        file list forward verbatim in the manifest — the
    //        O(new-data) commit cost that makes the layer viable at
    //        100 TB (v1's files are never rewritten or even opened);
    //   v3 = a commit that CRASHES between writing data files and the
    //        rename. The in-path atomicity witness requires the
    //        readable history to still be exactly {0,1,2} and the
    //        latest read to resolve v2 — orphan files are invisible
    //        because only manifests define table contents.
    // Output: per-version row count / char sum / lang count / content
    // signature via TIME-TRAVEL reads of all three versions; the
    // oracle reconstructs each version explicitly from `documents`, so
    // the driver hash-proves every snapshot, not just the latest.
    "pipe_table_commit" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_vtbl_") { tmp =>
        val table = tmp.resolve("table")
        stageVersionHistory(s, dir, table)
        VersionedTable.failedCommit(s, table, 3L,
          docCols(s, dir).limit(10))
        require(VersionedTable.versions(table) == Seq(0L, 1L, 2L),
          s"pipe_table_commit: readable history is " +
            s"${VersionedTable.versions(table)} — the failed v3 leaked " +
            "or a commit vanished")
        require(VersionedTable.latestVersion(table).contains(2L),
          "pipe_table_commit: latest must resolve to v2 after the crash")
        val out = Seq(0L, 1L, 2L).map { v =>
          VersionedTable.read(s, table, Some(v))
            .selectExpr("lang", "n_chars",
              "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':', " +
                "CAST(n_chars AS STRING))), 1, 15), 16, 10) AS BIGINT) AS h")
            .agg(count(lit(1)).as("n_rows"),
              sum($"n_chars").as("sum_chars"),
              countDistinct($"lang").as("n_langs"),
              expr("bit_xor(h)").as("content_sig"))
            .select(lit(v).as("version"), $"n_rows", $"sum_chars",
              $"n_langs", $"content_sig")
        }.reduce(_ unionAll _).orderBy("version")
        out
      }
    }),

    // TIME-TRAVEL READ — the consumer half of the commit
    // protocol above, proven at FULL ROW fidelity: after v2 is
    // committed (append visible at latest), a read AT VERSION 1 must
    // return exactly the v1 snapshot — every doc_id/lang/n_chars hash-
    // matched against the oracle's explicit reconstruction, not an
    // aggregate. This is the read path a reproducible training run
    // pins ("train on the corpus as of commit N"): resolving manifest
    // N instead of max is the entire cost difference, and the scan
    // plans over exactly v1's files — v2's appended files are never
    // opened (manifests define contents; nothing filters at runtime).
    // In-path: latest must see MORE rows than v1 (the append is live),
    // and resolving a never-committed version must fail loudly.
    "pipe_time_travel" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_vttt_") { tmp =>
        val table = tmp.resolve("table")
        stageVersionHistory(s, dir, table)
        val nLatest = VersionedTable.read(s, table).count()
        val v1 = VersionedTable.read(s, table, Some(1L))
        val local = graft.sources.GraftSession.materialize(s, v1.orderBy("doc_id"))
        val rows = local.collect()
        require(nLatest > rows.length,
          s"pipe_time_travel: latest ($nLatest rows) must see the v2 " +
            s"append beyond v1 (${rows.length} rows)")
        val missing = scala.util.Try(
          VersionedTable.read(s, table, Some(5L))).isFailure
        require(missing,
          "pipe_time_travel: reading a never-committed version must fail")
        local
      }
    }),

    // MANIFEST FILE SKIPPING — the data-skipping half of the
    // commit protocol, and the fourth scan-elimination mechanism next
    // to DPP (partition dirs), bucket pruning (hash files) and footer
    // aggregate pushdown (row-group stats): the COMMIT aggregates
    // per-file MIN/MAX of a clustering column into the manifest
    // (`path<TAB>min<TAB>max`, one pass over the new files — cost
    // tracks the commit), and a range read then eliminates whole
    // FILES without opening them. Skipping is only as good as the
    // layout: the write range-clusters by doc_id (repartitionByRange —
    // z-order's 1-D cousin), so per-file ranges are tight and
    // disjoint and a narrow predicate maps to few files. The in-path
    // require makes the pruning load-bearing (filesRead strictly
    // below filesTotal — without it the read silently degrades to a
    // full scan); stats prune files, the predicate still filters
    // rows, so the oracle proves FULL-ROW equality with the plain
    // filtered table.
    "pipe_manifest_skip" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_vskip_") { tmp =>
        val table = tmp.resolve("table")
        val base = docCols(s, dir)
          .repartitionByRange(8, $"doc_id")
        VersionedTable.commitWithStats(s, table, 0L, base, "doc_id")
        val (df, nRead, nTotal) =
          VersionedTable.readRange(s, table, "doc_id", 10L, 40L)
        require(nRead < nTotal,
          s"pipe_manifest_skip: no files skipped ($nRead of $nTotal " +
            "opened) — stats pruning is not load-bearing")
        val out = df.orderBy("doc_id")
        out
      }
    }),

    // COMPACTION AS A COMMIT + VACUUM — pipe_compact_files'
    // OPTIMIZE rewrite, upgraded from raw directories to the protocol:
    // v0 lands fragmented (64 tiny files — ingest litter), v1 is the
    // compaction commit (same rows, few right-sized files; the
    // in-path require proves the file count actually shrank), and
    // CRUCIALLY v0 stays readable after v1 publishes — compaction is
    // a new version, not an in-place mutation, so concurrent readers
    // planning over v0 are never broken (the torn-read hazard the raw
    // pipe_compact_files rewrite would have under concurrency). Then
    // VACUUM (expire < 1) reclaims v0's unreferenced files and its
    // manifest: the in-path requires witness v0 files deleted, v0
    // unreadable, and — the safety property — v1 STILL fully readable
    // (its files were never candidates). Output: the per-lang content
    // digest over v1 AFTER the vacuum, so the driver proves
    // compaction+reclamation end-to-end content-lossless against the
    // original table.
    "pipe_compact_commit" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_vcompact_") { tmp =>
        val table = tmp.resolve("table")
        val base = Tables.documents(s, dir)
          .select($"doc_id", $"lang", $"text", $"n_chars")
        VersionedTable.commit(s, table, 0L, base.repartition(64))
        val nFrag = VersionedTable.manifest(table, 0L).size
        // OPTIMIZE: one read of v0, one right-sized rewrite, commit v1.
        VersionedTable.commit(s, table, 1L,
          VersionedTable.read(s, table, Some(0L)).coalesce(2))
        val nComp = VersionedTable.manifest(table, 1L).size
        require(nComp < nFrag,
          s"pipe_compact_commit: rewrite did not compact ($nFrag -> $nComp)")
        require(VersionedTable.read(s, table, Some(0L)).count() ==
            VersionedTable.read(s, table, Some(1L)).count(),
          "pipe_compact_commit: v0 must stay readable (and equal) " +
            "after the compaction commit")
        val (nDeleted, nExpired) = VersionedTable.expire(table, keepFrom = 1L)
        require(nExpired == 1 && nDeleted >= nFrag,
          s"pipe_compact_commit: vacuum expired $nExpired versions / " +
            s"deleted $nDeleted files; expected v0's $nFrag+ files gone")
        require(scala.util.Try(
            VersionedTable.read(s, table, Some(0L)).count()).isFailure,
          "pipe_compact_commit: v0 must be unreadable after expiry")
        val out = VersionedTable.read(s, table)
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

    // SCHEMA EVOLUTION THROUGH THE COMMIT PROTOCOL —
    // pipe_schema_evolve proves mergeSchema over raw directories; this
    // composes it with versioning, the form a long-lived table
    // actually takes: v0 commits under schema A (doc_id, lang,
    // n_chars), v1 is an APPEND commit whose new files carry schema
    // A+quality — v0's files are carried verbatim (never rewritten:
    // schema evolution must not cost a table rewrite at 100 TB), and
    // a mergeSchema read of v1 reconciles the two footer schemas at
    // plan time, surfacing typed NULL quality for the legacy rows.
    // Time travel composes cleanly: a read AT v0 still sees pure
    // schema A (in-path require — the old snapshot must not grow a
    // column it never had). Aggregate witnesses both halves, exactly
    // like pipe_schema_evolve's: per lang, null-quality count == v0
    // rows, exact decimal quality sums for the v1 rows.
    "pipe_schema_commit" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_vschem_") { tmp =>
        val table = tmp.resolve("table")
        val docs = Tables.documents(s, dir)
        VersionedTable.commit(s, table, 0L,
          docs.where($"doc_id" % 2 === 0)
            .select($"doc_id", $"lang", $"n_chars"))
        VersionedTable.commit(s, table, 1L,
          docs.where($"doc_id" % 2 === 1)
            .select($"doc_id", $"lang", $"n_chars",
              ($"n_chars" % 100).cast("double").as("quality")),
          carried = VersionedTable.manifest(table, 0L))
        require(!VersionedTable.read(s, table, Some(0L))
            .columns.contains("quality"),
          "pipe_schema_commit: the v0 snapshot must keep schema A")
        val out = VersionedTable.read(s, table, mergeSchema = true)
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(when($"quality".isNull, 1L).otherwise(0L)).as("n_legacy"),
            sum($"quality".cast("decimal(18,2)")).cast("double")
              .as("sum_quality"))
          .orderBy("lang")
        out
      }
    }),

    // CHANGE DATA FEED between versions — "what changed from
    // v0 to v1" at ROW level, priced at FILE level: because data files
    // are immutable, any file listed in BOTH manifests cannot contain
    // a change — the row diff runs only over v0-only ∪ v1-only files,
    // so CDF cost tracks the commit's touched data, not the table
    // (pipe_snapshot_diff's full-table digest join is the
    // protocol-less sibling; this is why table formats derive their
    // change feeds from the commit log). The v1 commit itself is a
    // PARTIAL REWRITE scoped by manifest stats: the update batch
    // targets doc_id < 64, so only the stats-overlapping files are
    // read and rewritten (U: +1000 chars on doc_id%10!=3; D:
    // doc_id%10==3 removed) and every other file is carried verbatim
    // — in-path requires prove files were actually shared AND the
    // diff never opened them. Classification is one full-outer join
    // on the key over the two small file sets; rewritten-but-
    // unchanged rows (ids ≥ 64 sharing a rewritten file) fall out as
    // equal and are excluded. Oracle reconstructs the U/D sets
    // explicitly from the fixture.
    "pipe_cdf" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_vcdf_") { tmp =>
        val table = tmp.resolve("table")
        val base = docCols(s, dir)
          .repartitionByRange(8, $"doc_id")
        VersionedTable.commitWithStats(s, table, 0L, base, "doc_id")
        // Data lines only: a stats commit also declares its
        // STATSCOL as a metadata line, which carries no range to price.
        def file(line: String): VersionedTable.DataFile =
          VersionedTable.parse(line).asInstanceOf[VersionedTable.DataFile]
        val v0Lines = VersionedTable.manifest(table, 0L).filter(l =>
          VersionedTable.parse(l) match {
            case VersionedTable.DataFile(_, Some(_)) => true
            case _ => false
          })
        val (affected, carriedLines) = v0Lines.partition { l =>
          file(l).max >= 0L && file(l).min <= 63L
        }
        require(affected.nonEmpty && carriedLines.nonEmpty,
          "pipe_cdf: the [0,63] batch must touch some files and spare " +
            "others — otherwise the partial rewrite proves nothing")
        val touched = s.read.parquet(
          affected.map(l => table.resolve(file(l).path).toString): _*)
        val rewritten = touched
          .where(!($"doc_id" < 64 && $"doc_id" % 10 === 3))
          .select($"doc_id", $"lang",
            when($"doc_id" < 64, $"n_chars" + 1000L)
              .otherwise($"n_chars").as("n_chars"))
        VersionedTable.commit(s, table, 1L, rewritten, carried = carriedLines)
        val v0Set = v0Lines.toSet
        val v1Set = VersionedTable.manifest(table, 1L).toSet
        require((v0Set intersect v1Set) == carriedLines.toSet,
          "pipe_cdf: the carried files must be exactly the shared set")
        def readLines(lines: Set[String]): DataFrame =
          s.read.parquet(lines.toSeq.sorted
            .map(l => table.resolve(file(l).path).toString): _*)
        val oldRows = readLines(v0Set diff v1Set)
          .select($"doc_id", $"n_chars".as("old_n_chars"))
        val newRows = readLines(v1Set diff v0Set)
          .select($"doc_id", $"n_chars".as("new_n_chars"))
        val out = oldRows.join(newRows, Seq("doc_id"), "full_outer")
          .select($"doc_id",
            when($"new_n_chars".isNull, "D")
              .when($"old_n_chars".isNull, "I")
              .otherwise("U").as("op"),
            $"old_n_chars", $"new_n_chars")
          .where($"old_n_chars".isNull || $"new_n_chars".isNull ||
            $"old_n_chars" =!= $"new_n_chars")
          .orderBy("doc_id")
        out
      }
    }),

    // QUARANTINE ROUTING — the row-level complement of
    // pipe_expectations' violation COUNTS: every ingested row is
    // routed to its sink with a REASON (first failing rule in a fixed
    // order — bad_quantity → bad_discount → bad_flag → ok), in ONE
    // scan and one partitioned write, so the quarantine lands as
    // directory layout (`reason=...`) and downstream consumers read
    // the clean partition — or one failure class for triage — via
    // partition pruning, never rescanning the firehose. The fixture
    // is clean by construction, so each failure class is planted
    // deterministically (mutated clones of %97 key slices under a
    // shifted id space — the pipe_pii_scrub discipline); the oracle
    // rebuilds the identical plants and replays the routing CASE, so
    // counts AND content checksums per sink are driver-proven. The
    // in-path require pins the routing's physical materialization:
    // all four reason directories must exist on disk.
    "pipe_quarantine" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_quar_") { tmp =>
        val li = Tables.lineitem(s, dir).select(
          $"l_orderkey", $"l_linenumber", $"l_quantity",
          $"l_discount", $"l_returnflag")
        def dirt(m: Int, mut: String, col: String) =
          li.where($"l_orderkey" % 97 === m)
            .selectExpr("l_orderkey + 4398046511104 AS l_orderkey",
              "l_linenumber",
              if (col == "l_quantity") mut else "l_quantity",
              if (col == "l_discount") mut else "l_discount",
              if (col == "l_returnflag") mut else "l_returnflag")
        val input = li
          .unionAll(dirt(0, "-1.0D AS l_quantity", "l_quantity"))
          .unionAll(dirt(1, "1.5D AS l_discount", "l_discount"))
          .unionAll(dirt(2, "'X' AS l_returnflag", "l_returnflag"))
        input
          .withColumn("reason", expr(
            """CASE WHEN l_quantity IS NULL OR l_quantity <= 0
              |       THEN 'bad_quantity'
              |     WHEN l_discount NOT BETWEEN 0 AND 1
              |       THEN 'bad_discount'
              |     WHEN l_returnflag NOT IN ('A', 'N', 'R')
              |       THEN 'bad_flag'
              |     ELSE 'ok' END""".stripMargin))
          .write.partitionBy("reason").parquet(tmp.resolve("routed").toString)
        import scala.jdk.CollectionConverters._
        val dirs = java.nio.file.Files.list(tmp.resolve("routed"))
          .iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("reason=")).toSeq.sorted
        require(dirs == Seq("reason=bad_discount", "reason=bad_flag",
            "reason=bad_quantity", "reason=ok"),
          s"pipe_quarantine: routing layout incomplete — got $dirs")
        val out = s.read.parquet(tmp.resolve("routed").toString)
          .groupBy($"reason")
          .agg(count(lit(1)).as("n_rows"),
            countDistinct($"l_orderkey").as("n_orders"),
            sum($"l_quantity".cast("decimal(18,2)")).cast("double")
              .as("sum_qty"))
          .orderBy("reason")
        out
      }
    }),

    // MERGE-ON-READ DELETE via deletion vectors — the
    // cheap-delete half the copy-on-write family (transact /
    // pipe_cdc_apply) deliberately doesn't cover: a DELETE commit
    // writes ONLY a key-list sidecar and carries every data line
    // byte-verbatim (in-path require), so erasing k rows costs O(k)
    // regardless of table size — at 100 TB the difference between a
    // GDPR erasure finishing in seconds or rewriting terabytes.
    // Readers drop the live DVs' keys as they read; the debt
    // is repaid by a COMPACTION commit that materializes survivors
    // and drops the DV lines (merge-on-read → copy-on-write fold,
    // require-gated: v3 carries no DVs and fewer rows than v0's
    // files). Staged: v0 = base; v1 = DV delete of doc_id%9==4;
    // v2 = second DV delete of doc_id%9==7 (DVs accumulate);
    // v3 = compaction. Output digests all four versions — progressive
    // deletion, time travel to the undeleted v0, and the fold's
    // losslessness are each oracle-proven.
    "pipe_delete_dv" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_vdv_") { tmp =>
        val table = tmp.resolve("table")
        val docs = docCols(s, dir)
        VersionedTable.commit(s, table, 0L, docs)
        VersionedTable.deleteCommit(s, table, 1L,
          docs.where($"doc_id" % 9 === 4).select($"doc_id"), "doc_id")
        VersionedTable.deleteCommit(s, table, 2L,
          docs.where($"doc_id" % 9 === 7).select($"doc_id"), "doc_id")
        // The delete commits must not have touched a single data line.
        val dataLines = (v: Long) =>
          VersionedTable.statsManifest(table, v).map(_._1)
        require(dataLines(1L) == dataLines(0L) &&
            dataLines(2L) == dataLines(0L),
          "pipe_delete_dv: a delete commit rewrote data files — " +
            "merge-on-read must cost O(deleted keys)")
        require(VersionedTable.deletionVectors(table, 2L).size >= 2,
          "pipe_delete_dv: both deletion vectors must ride v2")
        // Compaction folds the DVs away.
        VersionedTable.commit(s, table, 3L,
          VersionedTable.read(s, table, Some(2L)))
        require(VersionedTable.deletionVectors(table, 3L).isEmpty,
          "pipe_delete_dv: compaction must drop the deletion vectors")
        val out = (0L to 3L).map { v =>
          VersionedTable.read(s, table, Some(v))
            .selectExpr("n_chars",
              "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':', " +
                "CAST(n_chars AS STRING))), 1, 15), 16, 10) AS BIGINT) AS h")
            .agg(count(lit(1)).as("n_rows"),
              sum($"n_chars").as("sum_chars"),
              expr("bit_xor(h)").as("content_sig"))
            .select(lit(v).as("version"), $"n_rows", $"sum_chars",
              $"content_sig")
        }.reduce(_ unionAll _).orderBy("version")
        out
      }
    }),

    // DELETION VECTORS × STATS PRUNING — the composition
    // refused: a range read over a DV-bearing version applies the
    // origin-scoped key filter INSIDE the pruned file set, so a
    // GDPR-erased 100-TB table keeps its cheap range reads without
    // waiting for compaction to repay the merge-on-read debt. Staged:
    // v0 = range-clustered stats commit (8 files); v1 = DV delete of
    // doc_id%9==4 (data lines untouched); v2 = append re-inserting
    // doc_id 13 (+1000 chars) — a key the DV killed, landing in a file
    // the DV's origin scope does not cover. The range read [10,40] at
    // latest must (in-path requires) still skip files AND serve
    // exactly: survivors of the delete, plus the re-inserted 13 —
    // pruning, merge-on-read, and sequence-number scoping all live in
    // one plan, each half oracle-proven at full row fidelity.
    "pipe_dv_skip" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_vdvskip_") { tmp =>
        val table = tmp.resolve("table")
        val base = docCols(s, dir)
          .repartitionByRange(8, $"doc_id")
        VersionedTable.commitWithStats(s, table, 0L, base, "doc_id")
        VersionedTable.deleteCommit(s, table, 1L,
          Tables.documents(s, dir).where($"doc_id" % 9 === 4)
            .select($"doc_id"), "doc_id")
        VersionedTable.commit(s, table, 2L,
          Tables.documents(s, dir).where($"doc_id" === 13)
            .selectExpr("doc_id", "lang", "n_chars + 1000L AS n_chars"),
          carried = VersionedTable.manifest(table, 1L))
        val (df, nRead, nTotal) =
          VersionedTable.readRange(s, table, "doc_id", 10L, 40L)
        require(nRead < nTotal,
          s"pipe_dv_skip: no files skipped ($nRead of $nTotal opened) — " +
            "stats pruning must survive live deletion vectors")
        val out = df.orderBy("doc_id")
        out
      }
    }),

    // ROW-LEVEL MERGE / UPSERT COMMIT — the `MERGE INTO … WHEN
    // MATCHED UPDATE / WHEN NOT MATCHED INSERT` shape as ONE atomic
    // merge-on-read commit: a deletion vector over the update keys
    // (origin-scoped to the BASE version, so the update rows the same
    // commit appends survive their own DV) plus the update rows as
    // ordinary data files, in a single manifest — cost O(update
    // batch), never O(table). Staged: v0 = documents; merge 1 updates
    // doc_id%6==2 (+7000 chars) and inserts %11==5 clones under new
    // ids; merge 2 re-updates the %12==2 half of the already-merged
    // keys (+9000 over the ORIGINAL chars) — update-of-update through
    // two DV generations, the sequencing a naive unscoped key list
    // gets wrong. In-path requires: neither merge rewrote a base data
    // line, and both DV generations ride the latest manifest. The
    // oracle replays the two merges relationally at full row fidelity.
    "pipe_merge_commit" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_vmerge_") { tmp =>
        val table = tmp.resolve("table")
        val docs = docCols(s, dir)
        VersionedTable.commit(s, table, 0L, docs)
        val u1 = docs.where($"doc_id" % 6 === 2)
          .selectExpr("doc_id", "lang", "n_chars + 7000L AS n_chars")
          .unionAll(docs.where($"doc_id" % 11 === 5)
            .selectExpr("doc_id + 2199023255552L AS doc_id", "lang",
              "n_chars"))
        val v1 = VersionedTable.mergeCommit(s, table, u1, "doc_id")
        val u2 = docs.where($"doc_id" % 12 === 2)
          .selectExpr("doc_id", "lang", "n_chars + 9000L AS n_chars")
        val v2 = VersionedTable.mergeCommit(s, table, u2, "doc_id")
        val v0Files = VersionedTable.statsManifest(table, 0L).map(_._1).toSet
        require(v0Files.subsetOf(
            VersionedTable.statsManifest(table, v2).map(_._1).toSet),
          "pipe_merge_commit: a merge rewrote base data files — upsert " +
            "must cost O(update batch), not O(table)")
        require(VersionedTable.deletionVectors(table, v2)
            .map(_._3).distinct.size == 2,
          "pipe_merge_commit: both merges' DV generations must ride " +
            s"the latest manifest (v1=$v1, v2=$v2)")
        val out = VersionedTable.read(s, table)
          .select($"doc_id", $"lang", $"n_chars").orderBy("doc_id")
        out
      }
    }),

    // THE VERSIONED TABLE AS A SPARK TABLE — the engine's THIRD
    // DataSource V2 connector (`graft-table`): the commit protocol
    // served through `spark.read.format(...)`, where a VANILLA
    // DataFrame predicate — `.where("doc_id BETWEEN 10 AND 40")`, no
    // bespoke API — flows through Catalyst's V2 pushdown into
    // MANIFEST-level file pruning, and the version's live deletion
    // vectors apply AT SCAN LEVEL (each input partition = one
    // surviving file + the names of its covering DVs, whose keys the
    // driver decoded once; the executor filters as it reads — no join
    // in the plan at all). Staged exactly as pipe_dv_skip (range-clustered stats
    // commit → DV delete → re-insert of a killed key), so the same
    // oracle proves the same rows now arrive through the connector
    // path. In-path requires: the scan's partition count (== files
    // opened) is strictly below the manifest's file count (pushdown
    // pruned), and the physical plan contains NO join node (the DVs
    // really are applied inside the scan).
    "pipe_table_scan" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_vscan_") { tmp =>
        val table = tmp.resolve("table")
        val base = docCols(s, dir)
          .repartitionByRange(8, $"doc_id")
        VersionedTable.commitWithStats(s, table, 0L, base, "doc_id")
        VersionedTable.deleteCommit(s, table, 1L,
          Tables.documents(s, dir).where($"doc_id" % 9 === 4)
            .select($"doc_id"), "doc_id")
        VersionedTable.commit(s, table, 2L,
          Tables.documents(s, dir).where($"doc_id" === 13)
            .selectExpr("doc_id", "lang", "n_chars + 1000L AS n_chars"),
          carried = VersionedTable.manifest(table, 1L))
        val filtered = s.read.format("graft-table")
          .option("statsCol", "doc_id")
          .load(table.toString)
          .where($"doc_id" >= 10 && $"doc_id" <= 40)
        val filesTotal = VersionedTable.statsManifest(table, 2L).size
        val filesRead = filtered.rdd.getNumPartitions
        require(filesRead < filesTotal,
          s"pipe_table_scan: no files pruned ($filesRead of $filesTotal " +
            "planned) — the pushed predicate must prune at manifest level")
        // Node-class check: merge-on-read must live inside the scan.
        import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
        import org.apache.spark.sql.execution.joins.BaseJoinExec
        val physical = filtered.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        require(physical.collect { case j: BaseJoinExec => j }.isEmpty,
          "pipe_table_scan: the deletion vectors planned as a join — " +
            "scan-level merge-on-read is not load-bearing")
        // Time travel through the same connector: v0 predates the
        // delete and the re-insert.
        require(s.read.format("graft-table").option("version", "0")
            .load(table.toString).count() ==
          Tables.documents(s, dir).count(),
          "pipe_table_scan: version=0 must serve the pre-delete snapshot")
        val out = filtered.select($"doc_id", $"lang", $"n_chars")
          .orderBy("doc_id")
        out
      }
    }),

    // MANIFEST-STATISTICS-DRIVEN JOIN PLANNING — the connector
    // reports `SupportsReportStatistics` (sum of surviving files'
    // on-disk bytes + ROWS counts, post-pruning), so a join over two
    // graft tables BROADCAST-decides from metadata: without reported
    // stats every V2 relation weighs spark.sql.defaultSizeInBytes
    // (Long.MaxValue) and the planner can never pick a broadcast join
    // however small the dim side — at 100 TB, a mandatory fact-table
    // shuffle on every dim join (the failure rel_cbo_broadcast
    // demonstrates on plain parquet). Staged: a multi-file fact table
    // (documents) and a tiny lang dimension, both graft tables; the
    // broadcast threshold is pinned BETWEEN their measured byte sizes,
    // so the planner's choice is provably stats-driven, not
    // small-fixture luck. In-path requires: (1) the stats-on plan
    // chooses BroadcastHashJoin with NO hint; (2) the same join with
    // `reportStats=false` on both scans loses the broadcast and falls
    // back to SortMergeJoin — the stats are load-bearing, not
    // decorative. The oracle replays the join at full row fidelity.
    "pipe_table_join" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_vjoin_") { tmp =>
        val factT = tmp.resolve("fact")
        val dimT = tmp.resolve("dim")
        val fact0 = docCols(s, dir)
        VersionedTable.commitWithStats(s, factT, 0L,
          fact0.repartitionByRange(8, $"doc_id"), "doc_id",
          rowCounts = true)
        VersionedTable.commit(s, dimT, 0L,
          fact0.groupBy($"lang").agg(count(lit(1)).as("lang_docs"))
            .coalesce(1))
        def bytesOf(t: java.nio.file.Path): Long =
          VersionedTable.statsManifest(t, 0L).map { case (f, _, _) =>
            java.nio.file.Files.size(t.resolve(f))
          }.sum
        val (dimBytes, factBytes) = (bytesOf(dimT), bytesOf(factT))
        require(dimBytes < factBytes,
          s"pipe_table_join: dim ($dimBytes B) must weigh less than " +
            s"fact ($factBytes B) for the threshold pin to mean anything")
        graft.sources.GraftSession.scoped(s,
            "spark.sql.autoBroadcastJoinThreshold" ->
              ((dimBytes + factBytes) / 2).toString) { s2 =>
          def scan(t: java.nio.file.Path, stats: Boolean) = {
            val r = s2.read.format("graft-table")
            (if (stats) r else r.option("reportStats", "false"))
              .load(t.toString)
          }
          def joined(stats: Boolean) =
            scan(factT, stats).join(scan(dimT, stats), "lang")
              .select($"doc_id", $"lang", $"n_chars", $"lang_docs")
              .where($"doc_id" < 60).orderBy($"doc_id")
          import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
          val out = joined(stats = true)
          require(out.queryExecution.sparkPlan.collect {
              case b: BroadcastHashJoinExec => b }.nonEmpty,
            "pipe_table_join: the planner did not choose a broadcast " +
              "join from the connector's reported statistics")
          val blind = joined(stats = false).queryExecution.sparkPlan
          require(blind.collect {
              case b: BroadcastHashJoinExec => b }.isEmpty &&
            blind.collect { case m: SortMergeJoinExec => m }.nonEmpty,
            "pipe_table_join: with reportStats=false the broadcast " +
              "must be LOST (defaultSizeInBytes) — the stats are not " +
              "load-bearing")
          graft.sources.GraftSession.materialize(s, out)
        }
      }
    }),

    // STORAGE-PARTITIONED JOIN — the V2 sibling of
    // rel_bucketed_join, from manifest metadata alone: both tables are
    // committed PARTITIONED BY (lang), the connector reports
    // KeyGroupedPartitioning over the layout (every input partition
    // carries its path-borne key tuple), and with
    // spark.sql.sources.v2.bucketing.enabled Spark groups same-key
    // files into one task and plans the join with ZERO Exchange — at
    // 100 TB, the difference between a metadata-only co-located
    // fact-fact join and shuffling the fact table on every join
    // (broadcast is pinned off; this is the non-broadcast-able case).
    // In-path requires: (1) the SPJ plan has NO ShuffleExchange
    // anywhere and the join is a SortMergeJoin; (2) same-key file
    // GROUPING is real — the unfiltered join's output partition count
    // equals the number of distinct lang values, not the file count;
    // (3) the negative witness: v2 bucketing off replans BOTH sides
    // behind exchanges — the co-location is the connector's report,
    // not fixture luck. The filtered join also exercises the
    // partial-scan side: the doc_id zonemap predicate prunes fact
    // files and the join stays exchange-free (missing partition
    // values pad via pushPartValues). Oracle replays the join at full
    // row fidelity.
    "pipe_table_spj" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_vspj_") { tmp =>
        val factT = tmp.resolve("fact")
        val dimT = tmp.resolve("dim")
        val fact0 = docCols(s, dir)
        VersionedTable.commitPartitioned(s, factT, 0L,
          fact0.repartitionByRange(8, $"doc_id"), "lang",
          statsCol = Some("doc_id"), rowCounts = true)
        VersionedTable.commitPartitioned(s, dimT, 0L,
          fact0.groupBy($"lang").agg(count(lit(1)).as("lang_docs")),
          "lang")
        graft.sources.GraftSession.scoped(s, Spj: _*) { s2 =>
          def scan(c: SparkSession, t: java.nio.file.Path) =
            c.read.format("graft-table").load(t.toString)
          def joined(c: SparkSession) =
            scan(c, factT).join(scan(c, dimT), "lang")
              .select($"doc_id", $"lang", $"n_chars", $"lang_docs")
          import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          import org.apache.spark.sql.execution.joins.SortMergeJoinExec
          def shuffles(df: org.apache.spark.sql.DataFrame) =
            df.queryExecution.executedPlan.collect {
              case e: ShuffleExchangeExec => e }.size
          val out = joined(s2).where($"doc_id" < 80)
          require(shuffles(out) == 0 &&
              out.queryExecution.executedPlan.collect {
                case j: SortMergeJoinExec => j }.nonEmpty,
            "pipe_table_spj: the co-partitioned join must plan a " +
              "SortMergeJoin with ZERO exchanges from the reported " +
              "KeyGroupedPartitioning")
          // Grouping witness: one task per KEY, not per file.
          val nLangs = VersionedTable.statsManifest(factT, 0L)
            .flatMap(f => f._1.split('/').collectFirst {
              case seg if seg.startsWith("lang=") => seg }).distinct.size
          val full = joined(s2)
          require(full.rdd.getNumPartitions == nLangs &&
              VersionedTable.statsManifest(factT, 0L).size > nLangs,
            s"pipe_table_spj: expected $nLangs key-grouped tasks over " +
              s"${VersionedTable.statsManifest(factT, 0L).size} files, " +
              s"got ${full.rdd.getNumPartitions}")
          // Negative witness: without the opt-in the scan reports no
          // partitioning and the SAME join shuffles both sides.
          require(graft.sources.GraftSession.scoped(s2,
              "spark.graft.planning.preserveDataGrouping" -> "false")(
              c => shuffles(joined(c).where($"doc_id" < 80))) == 2,
            "pipe_table_spj: without the preserve-data-grouping opt-in " +
              "the join must fall back to shuffling both sides — the " +
              "zero-exchange plan is the connector's report, not fixture " +
              "luck")
          val sorted = out.orderBy($"doc_id")
          graft.sources.GraftSession.materialize(s, sorted)
        }
      }
    }),

    // STORAGE-PARTITIONED JOIN OVER A TIME TRANSFORM — the
    // single most common co-location in an event pipeline: two tables
    // day-partitioned by days(ts_us) (hidden partitioning — no layout
    // column in any query) joined on the RAW timestamp column. Equal
    // raw values share a day by construction, so the connector's
    // KeyGroupedPartitioning(days(ts_us)) — resolved through the
    // catalog's V2 `days` grain function, the same JVM rendering the
    // writer laid files out by — lets Spark plan the join with ZERO
    // Exchange. The planner bails here without an exposed V2 date
    // function; the catalog exposes one, so it does not bail. Same
    // three witnesses as pipe_table_spj: (1) zero-Exchange
    // SortMergeJoin; (2) task grouping is per DAY, not per file (the
    // fact side holds several files per day); (3) the negative
    // witness — opt-in off shuffles both sides. Oracle replays the
    // join at full row fidelity.
    "pipe_table_spj_days" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.stagedCatalog(s, "graft_vspjd_", Spj: _*) { (tmp, s2) =>
        val ev = Tables.events(s, dir)
          .selectExpr("event_id", s"${QueryModule.TsUs} AS ts_us")
        def mk(name: String, rows: org.apache.spark.sql.DataFrame,
               files: Int): java.nio.file.Path = {
          val t = tmp.resolve(name)
          VersionedTable.commit(s, t, 0L, rows)
          VersionedTable.evolvePartitionLayout(s, t, Seq("days(ts_us)"))
          VersionedTable.compactCommit(s, t, files = files)
          t
        }
        // The two table stagings are independent lifecycles on disjoint
        // paths — overlap them so the dim's commit/evolve/compact jobs
        // back-fill the fact staging's task tails.
        val Seq(factT, _) = graft.sources.GraftSession.overlap(
          () => mk("fact", ev.where($"event_id" % 3 === 0), 2),
          () => mk("dim",
            ev.groupBy($"ts_us").agg(count(lit(1)).as("n_at_ts")), 1))
        def joined(c: SparkSession) = c.sql(
          "SELECT f.event_id, f.ts_us, d.n_at_ts " +
            "FROM graftcat.fact f JOIN graftcat.dim d " +
            "ON f.ts_us = d.ts_us")
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        import org.apache.spark.sql.execution.joins.SortMergeJoinExec
        def shuffles(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.executedPlan.collect {
            case e: ShuffleExchangeExec => e }.size
        val out = joined(s2)
        require(shuffles(out) == 0 &&
            out.queryExecution.executedPlan.collect {
              case j: SortMergeJoinExec => j }.nonEmpty,
          "pipe_table_spj_days: the day-partitioned raw-column join " +
            "must plan a SortMergeJoin with ZERO exchanges from the " +
            "reported KeyGroupedPartitioning(days(ts_us))")
        // Grouping witness: one task per DAY, not per file.
        val factFiles = VersionedTable.statsManifest(factT, 2L).map(_._1)
        val nDays = factFiles.flatMap(_.split('/').collectFirst {
          case seg if seg.startsWith("ts_us_day=") => seg }).distinct.size
        require(out.rdd.getNumPartitions == nDays &&
            factFiles.size > nDays,
          s"pipe_table_spj_days: expected $nDays day-grouped tasks " +
            s"over ${factFiles.size} fact files, got " +
            s"${out.rdd.getNumPartitions}")
        // Negative witness: without the opt-in both sides shuffle.
        require(graft.sources.GraftSession.scoped(s2,
            "spark.graft.planning.preserveDataGrouping" -> "false")(
            c => shuffles(joined(c))) == 2,
          "pipe_table_spj_days: without the preserve-data-grouping " +
            "opt-in the join must fall back to shuffling both sides")
        val sorted = out.orderBy($"event_id")
        sorted
      }
    }),

    // TIMESTAMP PAYLOAD COLUMNS — the table format stores true
    // TIMESTAMP(MICROS) parquet columns (instant and NTZ flavors) and
    // DATE, so `days(ts)` declares on the actual timestamp and the
    // BIGINT `ts_us` contortion retires. Witnessed in-path: (1) the
    // DDL bootstrap accepts `PARTITIONED BY (days(ts))` on a
    // TIMESTAMP_NTZ column and the INSERT lands hidden `ts_day=…`
    // files derived from the timestamp; (2) the served schema carries
    // the true NTZ type and hides the derived segment; (3) a raw
    // timestamp-range predicate plans exactly the matching day's
    // files (the probe value coerces to the epoch-micros units the
    // segments and zonemaps store — a seconds-floor'd bound would
    // prune wrongly at sub-second boundaries); (4) after CALL compact
    // with a ts stats column, the manifest's per-file zonemaps hold
    // MICROS-unit ranges. Oracle replays the day slice; event times
    // serve as epoch micros so the compare is integer-exact.
    "pipe_table_timestamp" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.stagedCatalog(s, "graft_vts_") { (tmp, s2) =>
        s2.sql("""CREATE TABLE graftcat.ev
                    (event_id BIGINT, ts TIMESTAMP_NTZ, event_type STRING)
                    PARTITIONED BY (days(ts))""")
        s2.sql(s"""INSERT INTO graftcat.ev
                     SELECT event_id, ts, event_type
                     FROM ${graft.queries.QueryModule.srcView(s2, dir, "events")}""")
        val table = tmp.resolve("ev")
        // The DDL bootstrap's zero-row schema file is flat; every
        // INSERTED file must carry a day segment derived from the
        // timestamp.
        val files = VersionedTable.statsManifest(table, 1L).map(_._1)
        val inserted = files.filterNot(
          VersionedTable.statsManifest(table, 0L).map(_._1).toSet)
        require(inserted.nonEmpty &&
            inserted.forall(_.contains("ts_day=")),
          s"pipe_table_timestamp: INSERT must land day segments " +
            s"derived from the TIMESTAMP column: $inserted")
        val scan = s2.table("graftcat.ev")
        require(scan.schema("ts").dataType ==
            org.apache.spark.sql.types.TimestampNTZType &&
            !scan.columns.contains("ts_day"),
          "pipe_table_timestamp: the schema must serve the true NTZ " +
            "type and hide the derived segment")
        // One-day slice on the RAW timestamp: planned files == that
        // day's segment count (hidden partitioning's whole point).
        val out = scan.where(
          $"ts" >= org.apache.spark.sql.functions.expr(
            "TIMESTAMP_NTZ'2024-01-10 00:00:00'") &&
          $"ts" < org.apache.spark.sql.functions.expr(
            "TIMESTAMP_NTZ'2024-01-11 00:00:00'"))
        // Segment-less files (the flat bootstrap) always admit — only
        // the path is evidence.
        val dayFiles = files.count(_.contains("ts_day=2024-01-10")) +
          files.count(!_.contains("ts_day="))
        require(out.rdd.getNumPartitions == dayFiles &&
            dayFiles < files.size,
          s"pipe_table_timestamp: expected $dayFiles planned files " +
            s"of ${files.size}, got ${out.rdd.getNumPartitions}")
        // Micros-unit zonemaps after a stats compaction.
        s2.sql("CALL graftcat.compact('ev', 'ts', 2)").collect()
        val v2 = VersionedTable.latestVersion(table).get
        val stats = VersionedTable.statsManifest(table, v2)
        require(stats.forall { case (_, mn, mx) =>
            mn > 1600000000000000L && mx < 1900000000000000L },
          "pipe_table_timestamp: ts zonemaps must store epoch MICROS")
        val sliced = s2.table("graftcat.ev").where(
          $"ts" >= org.apache.spark.sql.functions.expr(
            "TIMESTAMP_NTZ'2024-01-10 00:00:00'") &&
          $"ts" < org.apache.spark.sql.functions.expr(
            "TIMESTAMP_NTZ'2024-01-11 00:00:00'"))
          .selectExpr("event_id",
            "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us", "event_type")
          .orderBy($"event_id")
        sliced
      }
    }),

    // PER-FILE BLOOM FILTERS IN THE MANIFEST — the point-lookup
    // skipping index zonemaps cannot be: the table is laid out by
    // doc_id RESIDUE CLASS (mod 8 — a round-robin-like layout with
    // nothing clustered), so every file's doc_id [min,max] spans the
    // probes and stats pruning has zero teeth — while the ~1 KiB
    // bloom line per file answers "definitely not here" and an
    // equality probe opens O(1) files on ANY layout (at a 10⁶-file
    // table, one task instead of a full scan). Both the library route
    // (readEquals, witnessed) and the connector route (a vanilla
    // `.where(doc_id = p)` pushed into bloom pruning) are exercised;
    // the in-path require demands each probe plan strictly FEWER
    // files than its zonemap admits — bloom beating stats, not riding
    // them. The oracle proves the three probed rows at full fidelity.
    "pipe_point_skip" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_vbloom_") { tmp =>
        val table = tmp.resolve("table")
        val docs = docCols(s, dir)
          .repartitionByRange(8, $"doc_id" % 8)
        VersionedTable.commitIndexed(s, table, 0L, docs,
          statsCol = "doc_id", bloomCol = "doc_id")
        val stats = VersionedTable.statsManifest(table, 0L)
        val probes = Seq(13L, 137L, 399L)
        // Library route, probe 1: witnessed bloom skipping.
        val (one, oneRead, oneTotal) =
          VersionedTable.readEquals(s, table, "doc_id", probes.head)
        require(oneRead <
            stats.count { case (_, mn, mx) =>
              probes.head >= mn && probes.head <= mx },
          s"pipe_point_skip: readEquals opened $oneRead files — the " +
            "bloom must prune beyond what the zonemaps admit")
        // Connector route, every probe: vanilla equality predicates.
        val frames = probes.map { p =>
          val df = s.read.format("graft-table")
            .option("statsCol", "doc_id").load(table.toString)
            .where($"doc_id" === p)
          val admitted = stats.count { case (_, mn, mx) => p >= mn && p <= mx }
          val planned = df.rdd.getNumPartitions
          require(planned < admitted,
            s"pipe_point_skip: probe $p planned $planned of $admitted " +
              "zonemap-admitted files — bloom pruning is not load-bearing")
          df.select($"doc_id", $"lang", $"n_chars")
        }
        require(one.count() == 1, "pipe_point_skip: probe row must exist")
        val out = frames.reduce(_ unionAll _).orderBy("doc_id")
        out
      }
    }),

    // Z-ORDER + MULTI-COLUMN ZONEMAPS — pipe_zorder_layout's
    // write trick finally paired with the manifest machinery that
    // cashes it in: the table is written in MORTON ORDER over
    // (doc_id, n_chars) and committed with zonemaps on BOTH columns
    // (primary on the data line, secondary as STATS meta lines), so a
    // 2-D box predicate prunes on EVERY interleaved dimension at once
    // — the reason z-order beats a single-column sort, witnessed
    // rather than asserted: in-path requires demand each dimension
    // ALONE prunes files, and that the connector route (two vanilla
    // BETWEENs pushed through V2) plans EXACTLY the library route's
    // doubly-surviving file set. The box is derived from the data
    // (max/4 … max/2 per dim, integer div) so the staging is
    // scale-invariant; the oracle replays it relationally.
    "pipe_zorder_skip" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_vzskip_") { tmp =>
        val table = tmp.resolve("table")
        val docs = docCols(s, dir)
        // Dims NORMALIZED to a common 10-bit scale before interleaving
        // — raw interleave lets the wider dimension's high bits own the
        // top of every z value (doc_id spans 13 bits at sf0.1, n_chars
        // 10), collapsing the layout to a one-column sort. ONE
        // definition (VersionedTable.mortonColumn — the same key
        // CALL <cat>.cluster publishes, so this witness covers the
        // maintenance verb's layout too).
        val stats = docs.agg(min($"doc_id"), max($"doc_id"),
          min($"n_chars"), max($"n_chars")).head()
        val (dMax, nMax) = (stats.getLong(1), stats.getLong(3))
        val zed = docs
          .withColumn("z", VersionedTable.mortonColumn(docs,
            "doc_id", "n_chars"))
          .repartitionByRange(16, $"z").sortWithinPartitions($"z")
          .drop("z")
        VersionedTable.commitMultiStats(s, table, 0L, zed,
          Seq("doc_id", "n_chars"))
        val ranges = Seq(("doc_id", dMax / 4, dMax / 2),
          ("n_chars", nMax / 4, nMax / 2))
        val (_, nRead, perDim, nTotal) =
          VersionedTable.readBox(s, table, ranges)
        require(nRead < nTotal,
          s"pipe_zorder_skip: box read opened $nRead of $nTotal files — " +
            "2-D pruning is not load-bearing")
        ranges.foreach { case (c, _, _) =>
          require(perDim(c) < nTotal,
            s"pipe_zorder_skip: dimension $c alone admits all $nTotal " +
              "files — the z-order layout left it unclustered")
        }
        val filtered = s.read.format("graft-table").load(table.toString)
          .where($"doc_id".between(dMax / 4, dMax / 2) &&
            $"n_chars".between(nMax / 4, nMax / 2))
        require(filtered.rdd.getNumPartitions == nRead,
          s"pipe_zorder_skip: the connector planned " +
            s"${filtered.rdd.getNumPartitions} files, the library " +
            s"route $nRead — pushed 2-D pruning must match")
        val out = filtered.select($"doc_id", $"lang", $"n_chars")
          .orderBy("doc_id")
        out
      }
    }),

    // V2 BATCH WRITE THROUGH THE PROTOCOL — `df.write.format(
    // "graft-table").mode("append")` IS a commit: executors stage
    // parquet (nothing data-sized crosses the driver), the driver's
    // V2 commit publishes ONE O(batch) delta manifest at latest+1
    // with appendCommit's conflict-retry. Staged: v0 bootstrap (doc_id
    // %3==0) via the library, then TWO V2 appends (%3==1, %3==2). The
    // in-path requires prove each append landed as exactly one
    // version, the base data lines were never rewritten, and each
    // append's metadata tracks its batch (delta, not a table rewrite).
    // The oracle proves the final table at full row fidelity.
    "pipe_v2_write" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_v2w_") { tmp =>
        val table = tmp.resolve("table")
        val docs = docCols(s, dir)
        VersionedTable.commit(s, table, 0L, docs.where($"doc_id" % 3 === 0))
        docs.where($"doc_id" % 3 === 1).write.format("graft-table")
          .mode("append").save(table.toString)
        require(VersionedTable.latestVersion(table).contains(1L),
          "pipe_v2_write: the first V2 append must publish version 1")
        docs.where($"doc_id" % 3 === 2).write.format("graft-table")
          .mode("append").save(table.toString)
        require(VersionedTable.latestVersion(table).contains(2L),
          "pipe_v2_write: the second V2 append must publish version 2")
        val v0Files = VersionedTable.statsManifest(table, 0L).map(_._1).toSet
        require(v0Files.subsetOf(
            VersionedTable.statsManifest(table, 2L).map(_._1).toSet),
          "pipe_v2_write: a V2 append rewrote base data files")
        require(VersionedTable.addedLines(table, 1L).nonEmpty &&
            VersionedTable.addedLines(table, 1L)
              .forall(l => !v0Files.contains(l)),
          "pipe_v2_write: append metadata must track the batch (delta), " +
            "not restate the table")
        val out = s.read.format("graft-table").load(table.toString)
          .select($"doc_id", $"lang", $"n_chars").orderBy("doc_id")
        out
      }
    }),

    // THE PROTOCOL IN PLAIN SQL — CATALOG + TIME TRAVEL: a V2
    // TableCatalog (`graft.sources.GraftCatalog`) serves versioned
    // tables BY NAME, so `SELECT … FROM graftcat.docs VERSION AS OF 0`
    // is the whole API — the Delta/Iceberg SQL surface over this
    // engine's own commit protocol. The catalog scan takes NO options:
    // the stats column comes from the manifest's STATSCOL declaration
    // (self-describing), so a vanilla SQL BETWEEN prunes
    // files at manifest level (in-path require), and the deletion
    // vectors of the latest version apply inside the scan. TIMESTAMP
    // AS OF resolves publish mtimes (far-future == latest, required
    // in-path). The oracle replays both versions relationally.
    "pipe_sql_time_travel" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.stagedCatalog(s, "graft_vsql_") { (tmp, s2) =>
        val table = tmp.resolve("docs")
        VersionedTable.commitIndexed(s, table, 0L,
          Tables.documents(s, dir).select($"doc_id", $"lang", $"n_chars")
            .repartitionByRange(8, $"doc_id"),
          statsCol = "doc_id", bloomCol = "doc_id")
        VersionedTable.deleteCommit(s, table, 1L,
          Tables.documents(s, dir).where($"doc_id" % 9 === 4)
            .select($"doc_id"), "doc_id")
        val v0 = s2.sql(
          """SELECT doc_id, lang, n_chars FROM graftcat.docs VERSION AS OF 0
            |WHERE doc_id BETWEEN 10 AND 40""".stripMargin)
        val latest = s2.sql(
          """SELECT doc_id, lang, n_chars FROM graftcat.docs
            |WHERE doc_id BETWEEN 10 AND 40""".stripMargin)
        // No options anywhere: the BETWEEN must still prune via the
        // manifest's own STATSCOL declaration.
        val filesTotal = VersionedTable.statsManifest(table, 1L).size
        val planned = latest.rdd.getNumPartitions
        require(planned < filesTotal,
          s"pipe_sql_time_travel: planned $planned of $filesTotal files " +
            "— a catalog SQL read must prune from the self-describing " +
            "manifest")
        require(s2.sql(
            """SELECT count(*) AS n FROM graftcat.docs
              |TIMESTAMP AS OF '2999-01-01'""".stripMargin)
            .head().getLong(0) == latest
            .sparkSession.read.format("graft-table")
            .load(table.toString).count(),
          "pipe_sql_time_travel: a far-future TIMESTAMP AS OF must " +
            "serve the latest snapshot")
        val out = v0.select(lit(0L).as("version"), $"doc_id", $"lang",
            $"n_chars")
          .unionAll(latest.select(lit(1L).as("version"), $"doc_id",
            $"lang", $"n_chars"))
          .orderBy("version", "doc_id")
        out
      }
    }),

    // PARTITION VALUES IN THE MANIFEST — the protocol sibling of
    // rel_partition_prune: a partitioned commit records each file's
    // partition value in its manifest path (the Hive `col=value`
    // convention IS the per-file partition record), and a partition
    // read prunes at MANIFEST level — no directory listing, no
    // non-matching file ever opened, composing with everything else
    // the manifest gives (time travel, atomic swap, vacuum). Staged:
    // v0 = documents partitioned by lang; v1 = a partitioned APPEND
    // (doc_id%5==0 clones, +5 chars) carrying v0's lines verbatim.
    // The read of lang ∈ {en, fr} at latest must (in-path require)
    // open strictly fewer files than the manifest lists; the oracle
    // proves full-row equality including the re-attached partition
    // column.
    "pipe_partition_commit" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_vpart_") { tmp =>
        val table = tmp.resolve("table")
        VersionedTable.commitPartitioned(s, table, 0L,
          Tables.documents(s, dir).select($"doc_id", $"n_chars", $"lang"),
          "lang")
        val appended = Tables.documents(s, dir)
          .where($"doc_id" % 5 === 0)
          .selectExpr("doc_id + 2199023255552L AS doc_id",
            "n_chars + 5L AS n_chars", "lang")
        VersionedTable.commitPartitioned(s, table, 1L, appended, "lang",
          carried = VersionedTable.manifest(table, 0L))
        val (df, nRead, nTotal) =
          VersionedTable.readPartitions(s, table, "lang", Seq("en", "fr"))
        require(nRead < nTotal,
          s"pipe_partition_commit: no files pruned ($nRead of $nTotal) — " +
            "manifest-level partition pruning is not load-bearing")
        val out = df.select($"doc_id", $"lang", $"n_chars").orderBy("doc_id")
        out
      }
    }),

    // PARTITION PRUNING THROUGH THE CONNECTOR — the same staging
    // as pipe_partition_commit, but the read is a VANILLA DataFrame
    // predicate on the graft-table source: `.where(lang IN ('en',
    // 'fr'))` flows through V2 pushdown into path-segment pruning (the
    // manifest is self-describing — partition columns are detected
    // from the Hive-style `lang=…` segments a partitioned commit
    // records, no option needed), and the partition column itself is
    // served from the path, never from file payloads. In-path require:
    // the scan plans strictly fewer splits than the manifest lists.
    // The oracle is the same reconstruction — the deliverable is the
    // route.
    "pipe_table_part_scan" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_vpscan_") { tmp =>
        val table = tmp.resolve("table")
        VersionedTable.commitPartitioned(s, table, 0L,
          Tables.documents(s, dir).select($"doc_id", $"n_chars", $"lang"),
          "lang")
        val appended = Tables.documents(s, dir)
          .where($"doc_id" % 5 === 0)
          .selectExpr("doc_id + 2199023255552L AS doc_id",
            "n_chars + 5L AS n_chars", "lang")
        VersionedTable.commitPartitioned(s, table, 1L, appended, "lang",
          carried = VersionedTable.manifest(table, 0L))
        val df = s.read.format("graft-table").load(table.toString)
          .where($"lang".isin("en", "fr"))
        val filesTotal = VersionedTable.statsManifest(table, 1L).size
        val planned = df.rdd.getNumPartitions
        require(planned < filesTotal,
          s"pipe_table_part_scan: planned $planned of $filesTotal files " +
            "— pushed partition predicates must prune by path segment")
        val out = df.select($"doc_id", $"lang", $"n_chars").orderBy("doc_id")
        out
      }
    }),

    // PARTITION PRUNING × STATS SKIPPING — the two orthogonal
    // manifest mechanisms COMPOSED, the way production formats pair
    // partition predicates with file-level zonemaps: one
    // commitPartitioned(statsCol=doc_id) records the partition value
    // in each file's PATH and its doc_id min/max on the LINE; the read
    // then prunes twice — partition value first, stats overlap second
    // — and opens only the doubly-surviving files. The write
    // range-clusters doc_id BEFORE partitioning, so each (task, lang)
    // file covers one doc_id quartile and both prunings have real
    // teeth. In-path requires witness EACH stage independently
    // (partition-matched < total, opened < partition-matched); the
    // oracle proves full-row equality with the plain double filter.
    // MULTI-COLUMN partition layout — the (date, region)-shaped
    // day-one real layout as (lang, shard): values nest as
    // lang=…/shard=… path segments, per-file doc_id zonemaps and ROWS
    // compose on the same manifest lines, a predicate on BOTH columns
    // prunes through the connector (in-path require: one scan split
    // per surviving file, strictly fewer than the manifest lists),
    // and the compaction preserves the nested layout (in-path
    // require). Oracle proves full-row equality including both
    // re-attached partition columns.
    "pipe_partition_multi" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_vpmulti_") { tmp =>
        val table = tmp.resolve("table")
        VersionedTable.commitPartitionedMulti(s, table, 0L,
          Tables.documents(s, dir)
            .selectExpr("doc_id", "n_chars", "lang",
              "CAST(doc_id % 3 AS STRING) AS shard"),
          Seq("lang", "shard"), statsCol = Some("doc_id"),
          rowCounts = true)
        val files0 = VersionedTable.statsManifest(table, 0L).map(_._1)
        require(files0.forall(f =>
            f.contains("lang=") && f.contains("shard=")),
          s"pipe_partition_multi: files must nest both segments: $files0")
        // Both-column predicate prunes to exactly the matching files.
        val pruned = s.read.format("graft-table").load(table.toString)
          .where($"lang" === "en" && $"shard" === "1")
        val scanned = pruned.rdd.getNumPartitions
        val expect = files0.count(f =>
          f.contains("lang=en") && f.contains("shard=1"))
        require(scanned == expect && scanned < files0.size,
          s"pipe_partition_multi: scanned $scanned, expected $expect " +
            s"of ${files0.size}")
        // Compaction preserves the nested layout and the contents.
        VersionedTable.compactCommit(s, table, Some("doc_id"), files = 6)
        val files1 = VersionedTable.statsManifest(table, 1L).map(_._1)
        require(files1.forall(f =>
            f.contains("lang=") && f.contains("shard=")),
          s"pipe_partition_multi: compaction dropped the layout: $files1")
        // Read through the connector: partition columns re-attach from
        // the nested path segments.
        val out = s.read.format("graft-table").load(table.toString)
          .select($"doc_id", $"lang", $"shard", $"n_chars")
          .orderBy("doc_id")
        out
      }
    }),

    "pipe_partition_stats" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_vpstats_") { tmp =>
        val table = tmp.resolve("table")
        VersionedTable.commitPartitioned(s, table, 0L,
          Tables.documents(s, dir)
            .select($"doc_id", $"n_chars", $"lang")
            .repartitionByRange(4, $"doc_id"),
          "lang", statsCol = Some("doc_id"))
        val (df, nRead, nPart, nTotal) = VersionedTable.readPartitionRange(
          s, table, "lang", Seq("en", "fr"), "doc_id", 10L, 60L)
        require(nPart < nTotal,
          s"pipe_partition_stats: partition pruning idle ($nPart of $nTotal)")
        require(nRead < nPart,
          s"pipe_partition_stats: stats pruning idle ($nRead of $nPart " +
            "partition-matched files opened)")
        val out = df.select($"doc_id", $"lang", $"n_chars").orderBy("doc_id")
        out
      }
    }),

    // SCHEMA EVOLUTION: RENAME + TYPE WIDENING — the half
    // pipe_schema_commit (add-column) leaves open: long-lived tables
    // eventually rename columns and widen types, and at 100 TB neither
    // may cost a rewrite. Both are METADATA-ONLY commits (one manifest
    // line each — in-path require: the data-file list is byte-identical
    // across them); readers map each historical schema to the current
    // one at plan time, per writer directory. Staged: v0 commits under
    // legacy schema (len INT); v1 renames len→n_chars; v2 widens
    // n_chars to BIGINT; v3 appends rows whose n_chars exceeds INT
    // range — the widening is load-bearing, not cosmetic. In-path:
    // time travel to v0 still sees `len` and no `n_chars` (the old
    // snapshot must not be rewritten into the new world), and the
    // latest read's n_chars is LongType. Oracle proves full-row
    // equality across both schema generations.
    "pipe_schema_rename" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_vrename_") { tmp =>
        val table = tmp.resolve("table")
        val docs = Tables.documents(s, dir)
        VersionedTable.commit(s, table, 0L,
          docs.select($"doc_id", $"lang", $"n_chars".cast("int").as("len")))
        VersionedTable.renameCommit(table, 1L, "len", "n_chars")
        VersionedTable.widenCommit(table, 2L, "n_chars", "bigint")
        require(VersionedTable.statsManifest(table, 2L).map(_._1) ==
            VersionedTable.statsManifest(table, 0L).map(_._1),
          "pipe_schema_rename: an evolution commit touched data files — " +
            "rename/widen must be metadata-only")
        VersionedTable.commit(s, table, 3L,
          docs.where($"doc_id" % 7 === 3)
            .selectExpr("doc_id + 2199023255552L AS doc_id", "lang",
              "n_chars + 4294967296L AS n_chars"),
          carried = VersionedTable.manifest(table, 2L))
        val v0 = VersionedTable.read(s, table, Some(0L))
        require(v0.columns.contains("len") && !v0.columns.contains("n_chars"),
          "pipe_schema_rename: time travel below the rename must see " +
            "the old column name")
        val latest = VersionedTable.read(s, table)
        require(latest.schema("n_chars").dataType ==
            org.apache.spark.sql.types.LongType,
          "pipe_schema_rename: the widened type must surface in the " +
            "read schema")
        val out = latest.select($"doc_id", $"lang", $"n_chars")
          .orderBy("doc_id")
        out
      }
    }),

    // COMMIT HISTORY AS A TABLE via the engine's own DataSource V2
    // connector — `spark.read.format("graft-history")` serves
    // the versioned table's commit log as ordinary rows (version,
    // file, mn, mx): the metadata-table idea every production format
    // ships (DESCRIBE HISTORY), here exercising the full V2 read
    // stack the suite otherwise only consumes — TableProvider +
    // DataSourceRegister short name, one InputPartition PER VERSION
    // (a 10⁶-commit log scans its metadata distributed, never through
    // the driver), and COLUMN PRUNING pushed into the reader (the
    // projected query materializes no file-path strings at all).
    // Staged: v0 = stats commit over range-clustered docs (8 pinned
    // files), v1 = stats append (2 pinned files, v0's lines carried
    // byte-verbatim), plus a CRASHED v2 whose litter must be
    // invisible to the history read. Output: per-version file count +
    // global stats range — all derivable from the fixture, so the
    // oracle proves the connector serves exactly what the manifests
    // say. In-path: the plan must scan graft-history with `file`
    // pruned away.
    "pipe_table_history" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_vhist_") { tmp =>
        val table = tmp.resolve("table")
        val base = docCols(s, dir)
          .repartitionByRange(8, $"doc_id")
        VersionedTable.commitWithStats(s, table, 0L, base, "doc_id")
        val appended = Tables.documents(s, dir)
          .where($"doc_id" % 5 === 0)
          .selectExpr("doc_id + 2199023255552L AS doc_id", "lang", "n_chars")
          .repartition(2)
        VersionedTable.commitWithStats(s, table, 1L, appended, "doc_id",
          carried = VersionedTable.manifest(table, 0L))
        VersionedTable.failedCommit(s, table, 2L,
          docCols(s, dir).limit(5))
        val out = s.read.format("graft-history").load(table.toString)
          .groupBy($"version")
          .agg(count(lit(1)).as("n_files"),
            min($"mn").as("global_mn"), max($"mx").as("global_mx"))
          .orderBy("version")
        QueryModule.gatedPlans.put("pipe_table_history", out)
        val plan = out.queryExecution.executedPlan.toString
        require(plan.contains("graft-history"),
          "pipe_table_history: the plan must scan the V2 connector")
        require(!plan.contains("file#"),
          "pipe_table_history: column pruning did not reach the " +
            "reader — the unused file column survived into the scan")
        out
      }
    }),

    // MULTI-WRITER OPTIMISTIC CONCURRENCY — the retry/rebase
    // layer over the commit point's putIfAbsent primitive, exercised
    // through REAL lost races (not argued): the manifest hard-link of
    // a taken version throws FileAlreadyExistsException, and the two
    // writer classes of every optimistic table format resolve it
    // differently —
    //   APPEND (VersionedTable.appendCommit): commutes with anything,
    //     so a lost race re-carries the winner's file list and
    //     republishes. Data files are written ONCE; the retry costs
    //     one metadata round. Writer A resolves latest=v0, targets v1,
    //     and inside the race-injection seam writer B publishes v1
    //     first — A's link genuinely fails, A rebases onto B's
    //     manifest and lands v2 (gate: exactly 1 conflict, v1's file
    //     list carried verbatim into v2 — B's committed files were
    //     never rewritten or lost).
    //   MERGE (VersionedTable.transact): a function of the snapshot,
    //     so a lost race must RE-RUN against the winner's snapshot
    //     (rebasing the computation, not just the file list). Writer C
    //     updates n_chars+7 on doc_id%5==0 over latest; mid-flight
    //     writer D appends — C's first result (computed over v2,
    //     blind to D) publishes into a conflict, is discarded as
    //     orphans, and C re-derives over v3 so D's rows ARE updated
    //     in v4. The serializability witness: final content ≡ the
    //     serial schedule B, A, D, then C — which is exactly what the
    //     oracle reconstructs, every intermediate version digested.
    // At 100 TB: conflicts cost O(metadata) for appends and O(touched
    // files) for merges (pipe_cdf prices the narrowing); neither ever
    // blocks readers, who keep planning over the last published
    // manifest throughout.
    // METADATA-ONLY AGGREGATES — the Iceberg-manifest `count(*)`
    // answer, served through the graft-table connector's V2 aggregate
    // pushdown: the commit records per-file ROW COUNTS (`ROWS` lines,
    // riding the same single commit-time stats pass) next to the
    // doc_id zonemaps and the lang= partition paths, and then a
    // VANILLA `t.groupBy("lang").count()` / `t.agg(count, min, max)`
    // is answered at PLANNING time from manifest lines alone — the
    // scan's one input partition carries the finished rows and NO data
    // file is opened anywhere. At 100 TB this is a dashboard query
    // costing one metadata read instead of a table scan. Pushdown is
    // complete only when metadata is exact (no DVs, no schema
    // mappings, full ROWS coverage, non-sentinel stats, BIGINT stats
    // column); the in-path requires witness BOTH directions: the two
    // clean aggregates must push (aggPushed in the scan description),
    // and a FILTERED aggregate must refuse (filters stay residual by
    // design — a file-pruning index can never answer a row predicate)
    // yet still return the correct count through the ordinary path.
    "pipe_meta_agg" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_vmagg_") { tmp =>
        val table = tmp.resolve("table")
        val docs = docCols(s, dir)
        VersionedTable.commitPartitioned(s, table, 0L, docs, "lang",
          statsCol = Some("doc_id"), rowCounts = true)
        val t = s.read.format("graft-table").load(table.toString)
        def aggPushed(df: DataFrame): Boolean = {
          import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
          import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          val physical = df.queryExecution.executedPlan match {
            case a: AdaptiveSparkPlanExec => a.executedPlan
            case p => p
          }
          physical.collect { case b: BatchScanExec => b.scan.description() }
            .exists(_.contains("aggPushed="))
        }
        val grouped = t.groupBy($"lang").agg(count(lit(1)).as("n_rows"))
        val global = t.agg(count(lit(1)).as("total_rows"),
          min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
        require(aggPushed(grouped),
          "pipe_meta_agg: the partition-grouped count must be answered " +
            "from manifest ROWS lines (aggPushed missing from the scan)")
        require(aggPushed(global),
          "pipe_meta_agg: count/min/max must be answered from manifest " +
            "ROWS lines and zonemaps (aggPushed missing from the scan)")
        // Refusal honesty: a row predicate cannot be answered by
        // file-level metadata — the filtered count must take the
        // ordinary scan path and still be exact.
        val filtered = t.where($"doc_id" > 100L).agg(count(lit(1)).as("n"))
        require(!aggPushed(filtered),
          "pipe_meta_agg: a FILTERED aggregate pushed down — file-level " +
            "metadata cannot answer a row predicate exactly")
        require(filtered.head().getLong(0) ==
            docs.where($"doc_id" > 100L).count(),
          "pipe_meta_agg: the refused (ordinary-path) filtered count " +
            "is wrong")
        val out = grouped.crossJoin(global)
          .select($"lang", $"n_rows", $"total_rows", $"min_id", $"max_id")
          .orderBy("lang")
        out
      }
    }),

    // BRANCHES AND TAGS OVER THE SNAPSHOT LOG — the Iceberg refs
    // idea on this layer's primitives: every commit is a snapshot in
    // ONE global log; a ref is a named pointer (`_refs/<name>/`, an
    // append-only seq of createLink putIfAbsent records — the same
    // atomic CAS as the manifest commit point, with ref history for
    // free). Branching copies ZERO data (manifests are file lists;
    // both branches share every common file — witnessed in-path), a
    // branchCommit appends a snapshot whose BASE is the branch head
    // and CASes the ref forward, and two branches interleave snapshot
    // ids yet each reads a linear history. Tags are immutable pins
    // (seq 0, nothing ever publishes seq 1 — the second create LOSES
    // the link race, witnessed). The experiment workflow this serves
    // at 100 TB: fork a dev branch off production, run the risky
    // rewrite there, read both heads concurrently — no copy, no lock,
    // no interference (isolation witnessed both directions in-path).
    "pipe_table_branch" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_vref_") { tmp =>
        val table = tmp.resolve("table")
        val docs = docCols(s, dir)
        val base = docs.where($"doc_id" % 5 < 3)
        VersionedTable.commit(s, table, 0L, base)
        VersionedTable.branchCreate(table, "main", 0L)
        VersionedTable.branchCreate(table, "exp", 0L)
        VersionedTable.tagCreate(table, "release", 0L)
        val expRows = docs.where($"doc_id" % 5 === 3)
          .selectExpr("doc_id + 1099511627776L AS doc_id", "lang", "n_chars")
        val mainRows = docs.where($"doc_id" % 5 === 4)
          .selectExpr("doc_id + 2199023255552L AS doc_id", "lang", "n_chars")
        val ce = VersionedTable.branchCommit(s, table, "exp", expRows)
        val cm = VersionedTable.branchCommit(s, table, "main", mainRows)
        require(ce.version == 1L && cm.version == 2L,
          s"pipe_table_branch: branches must interleave snapshots in one " +
            s"log (exp landed v${ce.version}, main v${cm.version})")
        // Zero-copy: both branch snapshots carry v0's lines verbatim.
        val v0 = VersionedTable.manifest(table, 0L).toSet
        require(v0.subsetOf(VersionedTable.manifest(table, ce.version).toSet)
            && v0.subsetOf(VersionedTable.manifest(table, cm.version).toSet),
          "pipe_table_branch: a branch commit copied (or dropped) base " +
            "files — branching must share, not copy")
        // Isolation, both directions: neither branch sees the other's
        // append (id ranges are disjoint by construction).
        require(VersionedTable.readRef(s, table, "main")
            .where($"doc_id" >= 1099511627776L &&
              $"doc_id" < 2199023255552L).count() == 0,
          "pipe_table_branch: exp's append leaked into main")
        require(VersionedTable.readRef(s, table, "exp")
            .where($"doc_id" >= 2199023255552L).count() == 0,
          "pipe_table_branch: main's append leaked into exp")
        require(VersionedTable.readRef(s, table, "release").count()
            == base.count(),
          "pipe_table_branch: the release tag must pin the v0 snapshot")
        require(scala.util.Try(
            VersionedTable.tagCreate(table, "release", 2L)).isFailure,
          "pipe_table_branch: re-creating a tag must lose the CAS race")
        require(scala.util.Try(VersionedTable.branchCommit(
            s, table, "release", mainRows)).isFailure,
          "pipe_table_branch: committing to a tag must refuse")
        val out = Seq("exp", "main", "release").map { r =>
          VersionedTable.readRef(s, table, r)
            .selectExpr("lang", "n_chars",
              "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':', " +
                "CAST(n_chars AS STRING))), 1, 15), 16, 10) AS BIGINT) AS h")
            .agg(count(lit(1)).as("n_rows"),
              sum($"n_chars").as("sum_chars"),
              expr("bit_xor(h)").as("content_sig"))
            .select(lit(r).as("ref"), $"n_rows", $"sum_chars",
              $"content_sig")
        }.reduce(_ unionAll _).orderBy("ref")
        out
      }
    }),

    // STATS-PRUNED COPY-ON-WRITE UPDATE — `UPDATE … WHERE doc_id
    // BETWEEN 10 AND 40 SET n_chars = n_chars + 100000`: the manifest
    // zonemaps locate the files the predicate can touch (the same
    // pruning readRange reads with), ONLY those are rewritten (witness:
    // filesRewritten strictly below filesTotal — at 100 TB an update
    // to one key range must not rewrite the table), every untouched
    // file's manifest line is carried byte-verbatim (witnessed), and
    // the ROWS row counts are recomputed for the new files in the same
    // commit-time pass (witnessed: full coverage at v1, and the
    // metadata count equals the real count). A no-match update is a
    // no-op returning the base version — no empty commit published
    // (witnessed). The oracle proves FULL-ROW equality with the CASE
    // expression applied relationally.
    "pipe_update_commit" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_vupd_") { tmp =>
        val table = tmp.resolve("table")
        val base = docCols(s, dir)
          .repartitionByRange(8, $"doc_id")
        VersionedTable.commitWithStats(s, table, 0L, base, "doc_id",
          rowCounts = true)
        val (v, rewritten, total) = VersionedTable.updateWhere(
          s, table, "doc_id", 10L, 40L,
          Seq("n_chars" -> "n_chars + 100000L"))
        require(v == 1L && rewritten > 0 && rewritten < total,
          s"pipe_update_commit: expected a partial rewrite at v1, got " +
            s"$rewritten of $total files at v$v")
        // Untouched files' data lines carried byte-verbatim.
        val untouched = VersionedTable.statsManifest(table, 0L).collect {
          case (f, mn, mx) if !(mx >= 10L && mn <= 40L) => f
        }.toSet
        require(untouched.subsetOf(
            VersionedTable.statsManifest(table, 1L).map(_._1).toSet),
          "pipe_update_commit: an untouched file's manifest line " +
            "vanished in the rewrite")
        // Metadata row counts track the rewrite: full coverage, and
        // the manifest-summed count equals the real one.
        val rc = VersionedTable.snapshot(table, 1L).rowCounts
        require(rc.map(_._1).toSet ==
            VersionedTable.statsManifest(table, 1L).map(_._1).toSet &&
            rc.map(_._2).sum == VersionedTable.read(s, table).count(),
          "pipe_update_commit: ROWS lines must cover v1 exactly and " +
            "sum to the true row count")
        val (v2, r2, _) = VersionedTable.updateWhere(
          s, table, "doc_id", -100L, -50L, Seq("n_chars" -> "0L"))
        require(v2 == 1L && r2 == 0,
          "pipe_update_commit: a no-match update must be a no-op, " +
            s"not a commit (landed v$v2 rewriting $r2 files)")
        val out = VersionedTable.read(s, table)
          .select($"doc_id", $"lang", $"n_chars").orderBy("doc_id")
        out
      }
    }),

    // COMMIT-TIME CHECK CONSTRAINTS — the Delta ADD CONSTRAINT
    // idea on the manifest: `constraintCommit` declares a CHECK as a
    // metadata-only commit AFTER validating the current snapshot (a
    // constraint the existing data violates is refused — witnessed),
    // and from then on EVERY row-adding commit path validates its new
    // files in one O(batch) aggregate pass BEFORE the publish link —
    // a poisoned batch fails leaving only invisible orphans, never a
    // committed violation (witnessed: the bad append throws AND the
    // version history is unchanged). At 100 TB this is the difference
    // between rejecting a corrupt ingest batch at its own cost and
    // discovering NULL keys three joins downstream. NULL passes (the
    // SQL CHECK rule — a CHECK is not a NOT NULL unless written so).
    "pipe_commit_constraint" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_vchk_") { tmp =>
        val table = tmp.resolve("table")
        val docs = docCols(s, dir)
        VersionedTable.commit(s, table, 0L, docs)
        VersionedTable.constraintCommit(s, table, 1L,
          "n_chars >= 0 AND lang IS NOT NULL")
        // A constraint the current snapshot violates must be refused.
        require(scala.util.Try(VersionedTable.constraintCommit(
            s, table, 2L, "n_chars > 100000")).isFailure,
          "pipe_commit_constraint: declaring a CHECK the existing data " +
            "violates must be refused after the validation scan")
        val good = docs.where($"doc_id" % 7 === 3)
          .selectExpr("doc_id + 1099511627776L AS doc_id", "lang",
            "n_chars")
        val g = VersionedTable.appendCommit(s, table, good)
        require(g.version == 2L,
          s"pipe_commit_constraint: the clean append must land v2, " +
            s"got v${g.version}")
        val bad = docs.where($"doc_id" % 7 === 5)
          .selectExpr("doc_id + 2199023255552L AS doc_id", "lang",
            "-1L AS n_chars")
        require(scala.util.Try(
            VersionedTable.appendCommit(s, table, bad)).isFailure,
          "pipe_commit_constraint: a violating batch must fail before " +
            "the commit point")
        require(VersionedTable.versions(table) == Seq(0L, 1L, 2L),
          "pipe_commit_constraint: the refused batch published state — " +
            s"history reads ${VersionedTable.versions(table)}")
        // Compaction must not be the path that drops the contract:
        // compactCommit carries the CHECK forward and the gate still
        // bites (rows unchanged — same oracle proves losslessness).
        val v3 = VersionedTable.compactCommit(s, table)
        require(VersionedTable.checkConstraints(table, v3).nonEmpty,
          "pipe_commit_constraint: compaction dropped the CHECK — " +
            "metadata amnesia")
        require(scala.util.Try(
            VersionedTable.appendCommit(s, table, bad)).isFailure,
          "pipe_commit_constraint: the gate must survive compaction")
        val out = VersionedTable.read(s, table)
          .select($"doc_id", $"lang", $"n_chars").orderBy("doc_id")
        out
      }
    }),

    // BRANCH-AWARE SQL — VERSION AS OF '<ref>' — the refs layer
    // surfaced in plain SQL through the catalog, the Iceberg
    // convention: a NUMBER is a commit id, a STRING is a named ref —
    // `VERSION AS OF 'exp'` reads the exp branch's head, `VERSION AS
    // OF 'v0'` a tag pin. The connector grows the same addressing as
    // `.option("ref", name)` (mutually exclusive with version —
    // refused, witnessed). An unknown ref is an unknown version
    // (witnessed). The workflow this closes: an analyst A/B-reads a
    // production table against its experiment branch in two SQL
    // queries, no version numbers in sight.
    "pipe_sql_branch" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.stagedCatalog(s, "graft_vsqlb_") { (tmp, s2) =>
        val table = tmp.resolve("docs")
        val docs = docCols(s, dir)
        VersionedTable.commit(s, table, 0L, docs)
        VersionedTable.branchCreate(table, "exp", 0L)
        VersionedTable.branchCreate(table, "main", 0L)
        VersionedTable.tagCreate(table, "v0", 0L)
        VersionedTable.branchCommit(s, table, "exp",
          docs.where($"doc_id" % 7 === 1)
            .selectExpr("doc_id + 1099511627776L AS doc_id", "lang",
              "n_chars"))
        VersionedTable.branchCommit(s, table, "main",
          docs.where($"doc_id" % 7 === 2)
            .selectExpr("doc_id + 2199023255552L AS doc_id", "lang",
              "n_chars"))
        def digest(ref: String) = s2.sql(
          s"""SELECT '$ref' AS ref, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  bit_xor(CAST(conv(substr(md5(concat(
             |    CAST(doc_id AS STRING), ':',
             |    CAST(n_chars AS STRING))), 1, 15), 16, 10) AS BIGINT))
             |    AS content_sig
             |FROM graftcat.docs VERSION AS OF '$ref'""".stripMargin)
        require(scala.util.Try(s2.sql(
            "SELECT * FROM graftcat.docs VERSION AS OF 'nosuchref'")
            .collect()).isFailure,
          "pipe_sql_branch: an unknown ref must be an unknown version")
        // The connector's option('ref') addresses the same head.
        require(s.read.format("graft-table").option("ref", "exp")
            .load(table.toString).count() ==
          docs.count() + docs.where($"doc_id" % 7 === 1).count(),
          "pipe_sql_branch: option(ref=exp) must read the branch head")
        require(scala.util.Try(s.read.format("graft-table")
            .option("ref", "exp").option("version", "0")
            .load(table.toString).count()).isFailure,
          "pipe_sql_branch: version and ref together must be refused")
        val out = digest("exp").unionAll(digest("main"))
          .unionAll(digest("v0")).orderBy("ref")
        out
      }
    }),

    // BRANCH PROMOTE — fast-forward merge — the missing verb of
    // the refs workflow: a validated experiment branch lands in
    // production as ONE metadata commit, zero data copied whatever the
    // branch weighs. `promoteBranch` replays the lines `exp` ADDED
    // since its fork (the fork version is ref seq 0 — recorded at
    // branchCreate) as a snapshot based on `main`'s head and CASes
    // main forward; exp itself is untouched (witnessed). Rewriting
    // branches are refused — removals cannot replay as an append (the
    // change-feed stance, enforced by the fork-subset check;
    // spec-pinned). In-path: the promote snapshot's delta vs main's
    // old head is EXACTLY exp's additions (addedLines witness — the
    // zero-copy proof), and main's history shows base → own append →
    // promote while exp still reads its own line of history.
    "pipe_branch_promote" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_vprom_") { tmp =>
        val table = tmp.resolve("table")
        val docs = docCols(s, dir)
        VersionedTable.commit(s, table, 0L, docs)
        VersionedTable.branchCreate(table, "main", 0L)
        VersionedTable.branchCreate(table, "exp", 0L)
        VersionedTable.branchCommit(s, table, "exp",
          docs.where($"doc_id" % 7 === 1)
            .selectExpr("doc_id + 1099511627776L AS doc_id", "lang",
              "n_chars"))
        VersionedTable.branchCommit(s, table, "main",
          docs.where($"doc_id" % 7 === 2)
            .selectExpr("doc_id + 2199023255552L AS doc_id", "lang",
              "n_chars"))
        val expHead = VersionedTable.refHead(table, "exp").get._2
        val promoted = VersionedTable.promoteBranch(s, table, "exp", "main")
        // Zero-copy proof: the promote snapshot ADDED exactly what exp
        // added since the fork — nothing rewritten, nothing copied.
        val expAdded = VersionedTable.manifest(table, expHead)
          .filterNot(VersionedTable.manifest(table, 0L).toSet)
        require(VersionedTable.addedLines(table, promoted.version).toSet
            == expAdded.toSet,
          "pipe_branch_promote: the promote must add exactly the " +
            "branch's additions (a metadata commit, zero data moved)")
        // exp is untouched by the promote.
        require(VersionedTable.refHead(table, "exp").get._2 == expHead,
          "pipe_branch_promote: promoting must not advance the source " +
            "branch")
        // REBASE-PROMOTE: a branch whose history REWROTE files
        // (here: a whole-snapshot fix bumping n_chars by 500 where
        // doc_id % 9 = 0, staged as the raw-publish escape hatch — the
        // branch verbs are append-only) now promotes too: its net
        // removals replay as RM lines against main's head, its
        // replacements append, stamped KIND=update for the change
        // feed. main keeps everything it gained meanwhile (exp's
        // promote, its own add) — a three-way merge, refused only when
        // both branches touched the same file (spec-covered).
        VersionedTable.branchCreate(table, "fix", 0L)
        val fixDf = docs.selectExpr("doc_id", "lang",
          "CASE WHEN doc_id % 9 = 0 THEN n_chars + 500L " +
            "ELSE n_chars END AS n_chars")
        val dd = table.resolve("data").resolve("fix-rw")
        fixDf.write.parquet(dd.toString)
        val staged = {
          import scala.jdk.CollectionConverters._
          val walk = java.nio.file.Files.walk(dd)
          try walk.iterator().asScala.filter(p =>
              java.nio.file.Files.isRegularFile(p) &&
                p.toString.endsWith(".parquet"))
            .map(p => table.relativize(p).toString).toSeq.sorted
          finally walk.close()
        }
        val fixHead = VersionedTable.latestVersion(table).get + 1
        VersionedTable.publish(table, fixHead, staged)
        VersionedTable.advanceRef(table, "fix", fixHead)
        val promoted2 = VersionedTable.promoteBranch(s, table, "fix",
          "main")
        require(VersionedTable.commitKind(table, promoted2.version)
            .contains("update"),
          "pipe_branch_promote: a rebase with removals must stamp " +
            "KIND=update for the change feed")
        require(VersionedTable.removedDataFiles(table, promoted2.version)
            .toSet == VersionedTable.snapshot(table, 0L).files.toSet,
          "pipe_branch_promote: the rebase must remove exactly the " +
            "fork files the fix branch rewrote")
        val out = Seq("exp", "fix", "main").map { r =>
          VersionedTable.readRef(s, table, r)
            .selectExpr("lang", "n_chars",
              "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':', " +
                "CAST(n_chars AS STRING))), 1, 15), 16, 10) AS BIGINT) AS h")
            .agg(count(lit(1)).as("n_rows"),
              sum($"n_chars").as("sum_chars"),
              expr("bit_xor(h)").as("content_sig"))
            .select(lit(r).as("ref"), $"n_rows", $"sum_chars",
              $"content_sig")
        }.reduce(_ unionAll _).orderBy("ref")
        out
      }
    }),

    // SQL DML THROUGH THE CATALOG — DELETE and INSERT as plain
    // SQL, both routed through the commit protocol: `DELETE FROM
    // graftcat.docs WHERE doc_id IN (…)` publishes a MERGE-ON-READ
    // deletion-vector commit (O(deleted keys), base data lines carried
    // byte-verbatim — witnessed; the V2 SupportsDelete hook), and
    // `INSERT INTO graftcat.docs SELECT …` stages on executors and
    // publishes an O(batch) delta through the same putIfAbsent commit
    // point (the V2 write path — no bespoke API anywhere in this
    // query: a SQL user gets atomic versions, time travel, and
    // cheap deletes without knowing the protocol exists). In-path:
    // the delete rewrote nothing, the insert carried everything, both
    // landed as their own versions, and an unsupported DELETE
    // predicate (a range — not expressible as a key-list DV) refuses
    // loudly instead of partially deleting.
    "pipe_sql_dml" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.stagedCatalog(s, "graft_vdml_") { (tmp, s2) =>
        val table = tmp.resolve("docs")
        VersionedTable.commit(s, table, 0L,
          Tables.documents(s, dir).select($"doc_id", $"lang", $"n_chars"))
        s2.sql("DELETE FROM graftcat.docs WHERE doc_id IN (3, 17, 41)")
        require(VersionedTable.deletionVectors(table, 1L).nonEmpty,
          "pipe_sql_dml: the SQL DELETE must publish a deletion-vector " +
            "commit")
        require(VersionedTable.statsManifest(table, 0L).map(_._1).toSet
            .subsetOf(VersionedTable.statsManifest(table, 1L).map(_._1)
              .toSet),
          "pipe_sql_dml: the SQL DELETE rewrote data files — a delete " +
            "must cost O(deleted keys)")
        s2.sql(
          """INSERT INTO graftcat.docs
            |SELECT doc_id + 2199023255552, lang, n_chars
            |FROM graftcat.docs VERSION AS OF 0
            |WHERE doc_id IN (1, 2)""".stripMargin)
        require(VersionedTable.versions(table) == Seq(0L, 1L, 2L),
          "pipe_sql_dml: DELETE then INSERT must land as versions 1 " +
            s"and 2 — history reads ${VersionedTable.versions(table)}")
        // A non-key DELETE can't be a key-list DV — it falls
        // through to the GROUP-BASED REWRITE path
        // (SupportsRowLevelOperations) instead of refusing: runtime
        // group filtering rewrites only the files holding matching
        // rows (witnessed: something was removed, and any surviving
        // deletion vector stays correctly scoped to the untouched
        // files — the oracle proves the deleted keys stay dead either
        // way), stamped KIND=update for the change feed.
        s2.sql("DELETE FROM graftcat.docs " +
          "WHERE n_chars % 2 = 1 AND doc_id < 50")
        require(VersionedTable.latestVersion(table).contains(3L) &&
            VersionedTable.commitKind(table, 3L).contains("update"),
          "pipe_sql_dml: the rewrite DELETE must land as v3, " +
            "KIND=update")
        require(VersionedTable.removedDataFiles(table, 3L).nonEmpty,
          "pipe_sql_dml: the rewrite DELETE must replace the files " +
            "holding matching rows")
        val out = s2.sql(
          "SELECT doc_id, lang, n_chars FROM graftcat.docs ORDER BY doc_id")
        out
      }
    }),

    // SQL UPDATE — the literal statement: `UPDATE graftcat.docs
    // SET … WHERE doc_id BETWEEN …` through SupportsRowLevelOperations'
    // group-based copy-on-write path. The statement's condition is
    // pushed into the OPERATION SCAN (Spark's
    // GroupBasedRowLevelOperationScanPlanning), so the same zonemap
    // pruning every read gets decides WHICH files the statement
    // rewrites at plan time: witnessed exactly as pipe_update_commit —
    // untouched files' manifest lines carry byte-verbatim, ROWS
    // metadata recomputed and true, KIND=update stamped for the change
    // feed, and a no-match UPDATE publishes nothing. Same oracle as
    // pipe_update_commit: the library verb and the SQL statement are
    // the same commit, reached two ways.
    "pipe_sql_update" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.stagedCatalog(s, "graft_vsqlupd_") { (tmp, s2) =>
        val table = tmp.resolve("docs")
        VersionedTable.commitWithStats(s, table, 0L,
          Tables.documents(s, dir).select($"doc_id", $"lang", $"n_chars")
            .repartitionByRange(8, $"doc_id"), "doc_id",
          rowCounts = true)
        s2.sql("UPDATE graftcat.docs SET n_chars = n_chars + 100000 " +
          "WHERE doc_id BETWEEN 10 AND 40")
        require(VersionedTable.latestVersion(table).contains(1L) &&
            VersionedTable.commitKind(table, 1L).contains("update"),
          "pipe_sql_update: the statement must land as v1, KIND=update")
        // The condition reached the operation scan: files whose
        // zonemap misses [10, 40] were never rewritten.
        val untouched = VersionedTable.statsManifest(table, 0L).collect {
          case (f, mn, mx) if !(mx >= 10L && mn <= 40L) => f
        }.toSet
        require(untouched.nonEmpty && untouched.subsetOf(
            VersionedTable.statsManifest(table, 1L).map(_._1).toSet),
          "pipe_sql_update: an untouched file's manifest line vanished " +
            "— the SQL UPDATE must rewrite only zonemap-overlapping " +
            "files")
        val rc = VersionedTable.snapshot(table, 1L).rowCounts
        require(rc.map(_._1).toSet ==
            VersionedTable.statsManifest(table, 1L).map(_._1).toSet &&
            rc.map(_._2).sum == VersionedTable.read(s, table).count(),
          "pipe_sql_update: ROWS lines must cover v1 exactly and sum " +
            "to the true row count")
        // A no-match UPDATE is a no-op: nothing published.
        s2.sql("UPDATE graftcat.docs SET n_chars = 0 " +
          "WHERE doc_id BETWEEN -100 AND -50")
        require(VersionedTable.latestVersion(table).contains(1L),
          "pipe_sql_update: a no-match UPDATE must publish nothing")
        val out = s2.sql(
          "SELECT doc_id, lang, n_chars FROM graftcat.docs ORDER BY doc_id")
        out
      }
    }),

    // SQL MERGE INTO — the literal statement: matched rows
    // update, unmatched source rows insert, one atomic KIND=update
    // commit through the group-replacement write. RUNTIME GROUP
    // FILTERING prunes the rewrite to files that actually hold matched
    // keys (the matching-rows subquery on _file — here the matched set
    // doc_id%6==2 spans every file, so all rewrite; the narrow-source
    // pruning witness lives in GraftCatalogSpec). The library's
    // mergeCommit stays the O(update batch) merge-on-read alternative,
    // priced side by side in pipe_merge_commit. The oracle is
    // pipe_merge_commit's single-round shape: base with the matched
    // updates applied plus the unmatched inserts.
    "pipe_sql_merge" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.stagedCatalog(s, "graft_vsqlmrg_") { (tmp, s2) =>
        val table = tmp.resolve("docs")
        val docs = docCols(s, dir)
        VersionedTable.commit(s, table, 0L, docs)
        // The upsert source: +7000 chars for doc_id%6==2 (matched),
        // clones shifted past the id space for doc_id%11==5
        // (unmatched) — pipe_merge_commit's u1, as a temp view on the
        // catalog session.
        graft.sources.Tables.table(s2, dir, "documents")
          .select($"doc_id", $"lang", $"n_chars")
          .where($"doc_id" % 6 === 2)
          .selectExpr("doc_id", "lang", "n_chars + 7000L AS n_chars")
          .unionAll(graft.sources.Tables.table(s2, dir, "documents")
            .where($"doc_id" % 11 === 5)
            .selectExpr("doc_id + 2199023255552L AS doc_id", "lang",
              "n_chars"))
          .createOrReplaceTempView("upserts")
        s2.sql(
          """MERGE INTO graftcat.docs t USING upserts u
            |ON t.doc_id = u.doc_id
            |WHEN MATCHED THEN UPDATE SET n_chars = u.n_chars
            |WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
            |  VALUES (u.doc_id, u.lang, u.n_chars)""".stripMargin)
        require(VersionedTable.latestVersion(table).contains(1L) &&
            VersionedTable.commitKind(table, 1L).contains("update"),
          "pipe_sql_merge: the MERGE must land as one v1 KIND=update " +
            "commit")
        val out = s2.sql(
          "SELECT doc_id, lang, n_chars FROM graftcat.docs ORDER BY doc_id")
        out
      }
    }),

    // SQL MERGE … WHEN NOT MATCHED BY SOURCE — the
    // SNAPSHOT-SYNC statement (the clause matrix's last member,
    // rows absent from the source DELETE, so one
    // MERGE makes the target an exact mirror of an upstream snapshot —
    // the shape every replication/sync pipeline runs. Correctness trap
    // at scale, witnessed in-path: runtime group filtering must NOT
    // prune the rewrite to matched files here (a file with no matched
    // key may still hold rows the source no longer has — pruning it
    // would silently keep them; Spark plans the filter only for
    // merges WITHOUT the clause), so the sync rewrites every group and
    // the post-merge table equals the source EXACTLY. Lands as one
    // atomic KIND=update commit like every rewrite.
    "pipe_sql_merge_sync" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.stagedCatalog(s, "graft_vsqlsync_") { (tmp, s2) =>
        val table = tmp.resolve("docs")
        val docs = docCols(s, dir)
        VersionedTable.commit(s, table, 0L, docs)
        // The source snapshot: every doc_id%3==0 row with bumped
        // n_chars (matched → update), plus shifted clones (absent from
        // the target → insert); everything else is ABSENT from the
        // source (→ delete). Post-merge, the table IS this snapshot.
        graft.sources.Tables.table(s2, dir, "documents")
          .where($"doc_id" % 3 === 0)
          .selectExpr("doc_id", "lang", "n_chars + 1000L AS n_chars")
          .unionAll(graft.sources.Tables.table(s2, dir, "documents")
            .where($"doc_id" % 11 === 5)
            .selectExpr("doc_id + 2199023255552L AS doc_id", "lang",
              "n_chars"))
          .createOrReplaceTempView("snapshot")
        s2.sql(
          """MERGE INTO graftcat.docs t USING snapshot u
            |ON t.doc_id = u.doc_id
            |WHEN MATCHED THEN UPDATE SET n_chars = u.n_chars
            |WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
            |  VALUES (u.doc_id, u.lang, u.n_chars)
            |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
        require(VersionedTable.latestVersion(table).contains(1L) &&
            VersionedTable.commitKind(table, 1L).contains("update"),
          "pipe_sql_merge_sync: the sync must land as one v1 " +
            "KIND=update commit")
        val srcN = s2.table("snapshot").count()
        val out = s2.sql(
          "SELECT doc_id, lang, n_chars FROM graftcat.docs ORDER BY doc_id")
        val local = graft.sources.GraftSession.materialize(s, out)
        val rows = local.collect()
        require(rows.length.toLong == srcN,
          s"pipe_sql_merge_sync: post-sync row count ${rows.length} " +
            s"!= source snapshot $srcN — source-absent rows survived")
        local
      }
    }),

    // SQL DDL THROUGH THE CATALOG — the table LIFECYCLE as plain
    // statements, every one a protocol commit: `CREATE TABLE … AS
    // SELECT` bootstraps v0 as a schema-pinning zero-row commit and
    // lands the rows as v1 through the V2 write (witnessed: history
    // reads [0, 1] and VERSION AS OF 0 time-travels to the empty
    // declaration); `ALTER TABLE … RENAME COLUMN` publishes the
    // metadata-only rename commit, visible to the very next statement
    // and materialized by the next compaction; `DROP TABLE` is
    // REF-GUARDED — a tagged release refuses to vanish (witnessed),
    // while an unpinned scratch table drops cleanly (witnessed). With
    // DML and CALL maintenance this closes the loop: a SQL user now
    // creates, evolves, queries, and retires versioned tables without
    // ever importing the library.
    "pipe_sql_ddl" -> ((s, dir) => {
      graft.sources.GraftSession.stagedCatalog(s, "graft_vddl_") { (tmp, s2) =>
        s2.sql(s"""CREATE TABLE graftcat.docs AS
                     SELECT doc_id, lang, n_chars
                     FROM ${graft.queries.QueryModule.srcView(s2, dir, "documents")}""")
        val table = tmp.resolve("docs")
        require(VersionedTable.versions(table) == Seq(0L, 1L),
          "pipe_sql_ddl: CTAS must land as bootstrap v0 + data v1, " +
            s"got ${VersionedTable.versions(table)}")
        require(s2.sql(
            "SELECT count(*) AS n FROM graftcat.docs VERSION AS OF 0")
            .head().getLong(0) == 0L,
          "pipe_sql_ddl: VERSION AS OF 0 must serve the empty " +
            "schema-pinning declaration")
        s2.sql("ALTER TABLE graftcat.docs RENAME COLUMN n_chars TO chars")
        // The rename is metadata-only debt; the compaction
        // materializes it into the files (and re-clusters).
        s2.sql("CALL graftcat.compact('docs', 'doc_id', 4)")
        require(VersionedTable.snapshot(table, 3L).columnMappings.isEmpty,
          "pipe_sql_ddl: compaction must materialize the rename")
        // DROP is ref-guarded: a pinned release refuses to vanish.
        s2.sql("CALL graftcat.tag('docs', 'release', 3)")
        require(scala.util.Try(
            s2.sql("DROP TABLE graftcat.docs")).isFailure,
          "pipe_sql_ddl: DROP TABLE must refuse while a tag pins " +
            "history")
        // RENAME TABLE is one atomic directory move — history
        // rides along; CREATE OR REPLACE re-declares in place (drop +
        // create, both ref-guarded); an unpinned scratch table then
        // drops cleanly and is gone.
        s2.sql("CREATE TABLE graftcat.scratch (id BIGINT)")
        s2.sql("ALTER TABLE graftcat.scratch RENAME TO graftcat.scratch2")
        require(VersionedTable.latestVersion(
            tmp.resolve("scratch")).isEmpty &&
            VersionedTable.latestVersion(tmp.resolve("scratch2"))
              .contains(0L),
          "pipe_sql_ddl: RENAME TO must move the table directory")
        s2.sql("CREATE OR REPLACE TABLE graftcat.scratch2 " +
          "AS SELECT 5L AS id")
        require(s2.sql("SELECT id FROM graftcat.scratch2").head()
            .getLong(0) == 5L &&
            VersionedTable.versions(tmp.resolve("scratch2")) ==
              Seq(0L, 1L),
          "pipe_sql_ddl: CREATE OR REPLACE must re-declare from v0")
        s2.sql("DROP TABLE graftcat.scratch2")
        require(VersionedTable.latestVersion(
            tmp.resolve("scratch2")).isEmpty,
          "pipe_sql_ddl: DROP TABLE must remove the unpinned table")
        val out = s2.sql(
          "SELECT doc_id, lang, chars FROM graftcat.docs ORDER BY doc_id")
        out
      }
    }),

    // SQL CREATE TABLE … PARTITIONED BY — a DDL-created table
    // finally gets the manifest partition pruning the engine is
    // proudest of: the declaration lands as a PARTCOL line on the
    // zero-row bootstrap (the layout is known before any data path
    // can exhibit it), the V2 INSERT routes each row to Hive-style
    // `lang=value` files (partition column stripped from the payload,
    // write clustered by the column via the declared distribution
    // requirement), and the scan prunes files by partition value from
    // a plain SQL predicate — witnessed in-path: one scan partition
    // per surviving file, strictly fewer than the table's files.
    // CTAS PARTITIONED BY lands partitioned the same way (witnessed).
    "pipe_sql_partitioned" -> ((s, dir) => {
      graft.sources.GraftSession.stagedCatalog(s, "graft_vpart_") { (tmp, s2) =>
        s2.sql("""CREATE TABLE graftcat.docs
                    (doc_id BIGINT, lang STRING, n_chars BIGINT)
                    PARTITIONED BY (lang)""")
        val table = tmp.resolve("docs")
        require(VersionedTable.snapshot(table, 0L).declaredPartitionCols ==
            Seq("lang"),
          "pipe_sql_partitioned: the DDL must declare the layout on " +
            "the bootstrap")
        s2.sql(s"""INSERT INTO graftcat.docs
                     SELECT doc_id, lang, n_chars
                     FROM ${graft.queries.QueryModule.srcView(s2, dir, "documents")}""")
        // Every ingested file landed under its partition segment.
        val added = VersionedTable.addedFiles(table, 1L)
        require(added.nonEmpty && added.forall(_.contains("lang=")),
          s"pipe_sql_partitioned: INSERT must land col=value files, " +
            s"got $added")
        val langs = added.flatMap(f => f.split('/').collectFirst {
          case seg if seg.startsWith("lang=") => seg }).distinct
        require(langs.size > 1,
          "pipe_sql_partitioned: fixture must span several partitions")
        // MANIFEST PARTITION PRUNING from plain SQL: the scan plans
        // one input partition per surviving file, so a single-value
        // predicate must read strictly fewer files than the table
        // holds (the pipe_partition_commit witness, on a DDL table).
        val one = s2.sql(
          "SELECT * FROM graftcat.docs WHERE lang = 'en'")
        val scanned = one.rdd.getNumPartitions
        val enFiles = added.count(_.contains("lang=en"))
        // +1: the flat zero-row bootstrap carries no partition segment
        // so no value predicate can ever prune it — a constant, not a
        // scale cost.
        require(scanned == enFiles + 1 && scanned < added.size + 1,
          s"pipe_sql_partitioned: predicate scanned $scanned files, " +
            s"expected the $enFiles lang=en files (+ bootstrap) of " +
            s"${added.size + 1}")
        // CTAS PARTITIONED BY lands partitioned the same way.
        s2.sql(s"""CREATE TABLE graftcat.by_lang PARTITIONED BY (lang)
                     AS SELECT doc_id, lang, n_chars
                     FROM ${graft.queries.QueryModule.srcView(s2, dir, "documents")}
                     WHERE doc_id % 5 = 0""")
        val t2 = tmp.resolve("by_lang")
        val ctasFiles = VersionedTable.addedFiles(t2, 1L)
        require(ctasFiles.nonEmpty && ctasFiles.forall(_.contains("lang=")),
          "pipe_sql_partitioned: CTAS writes must land partitioned")
        val out = s2.sql(
          """SELECT d.doc_id, d.lang, d.n_chars,
             |  CASE WHEN b.doc_id IS NULL THEN 0L ELSE 1L END AS in_ctas
             |FROM graftcat.docs d LEFT JOIN graftcat.by_lang b
             |  ON d.doc_id = b.doc_id
             |ORDER BY d.doc_id""".stripMargin)
        out
      }
    }),

    // METADATA TABLES — the Iceberg `t$files` surface: a graft
    // table's protocol state as SELECT-able relations, answered from
    // MANIFESTS ALONE (at 100 TB, "how many rows per partition" /
    // "which files hold last week" are dashboard queries that must
    // cost a metadata read, never a scan). `t$history` (one row per
    // commit: kind, files added/removed), `t$files` (path, bytes,
    // ROWS count, zonemap bounds, partition segments), `t$partitions`
    // (per-partition file/row rollup — the layout columns as real
    // columns), `t$refs` (tags/branches) — and VERSION AS OF composes
    // with all of them (witnessed: the v0 inventory is smaller). The
    // oracle replays $partitions relationally: the per-lang row
    // counts served from ROWS manifest lines must equal the exact
    // GROUP BY over the fixture — the metadata IS the data's truth.
    "pipe_table_meta" -> ((s, dir) => {
      graft.sources.GraftSession.stagedCatalog(s, "graft_vmeta_") { (tmp, s2) =>
        val table = tmp.resolve("docs")
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        VersionedTable.commitPartitioned(s, table, 0L,
          docs.where("doc_id % 2 = 0"), "lang",
          statsCol = Some("doc_id"), rowCounts = true)
        VersionedTable.commitPartitioned(s, table, 1L,
          docs.where("doc_id % 2 = 1"), "lang",
          carried = VersionedTable.manifest(table, 0L),
          statsCol = Some("doc_id"), rowCounts = true)
        VersionedTable.tagCreate(table, "release", 1L)
        // $files: one row per live data file, bytes/ROWS/zonemaps from
        // the manifest (+ a stat call for bytes), partition segments.
        // Served DISTRIBUTED: the plan must show a real V2
        // BatchScan — executors parse the manifest and make the stat
        // calls; a LocalTableScan here would mean a driver-side
        // per-file materialization at PLAN time, the thing that OOMs
        // the driver at a 10⁷-file table. $partitions likewise.
        val filesDf = s2.sql("SELECT * FROM graftcat.`docs$files`")
        Seq(filesDf,
            s2.sql("SELECT * FROM graftcat.`docs$partitions`")).foreach {
          df =>
            val plan = df.queryExecution.executedPlan
            require(plan.collect {
                case b: org.apache.spark.sql.execution.datasources.v2
                  .BatchScanExec => b }.nonEmpty &&
              plan.collect {
                case l: org.apache.spark.sql.execution
                  .LocalTableScanExec => l }.isEmpty,
              "pipe_table_meta: file-sized metadata tables must be " +
                "served by a distributed V2 scan, not a driver-side " +
                "LocalTableScan")
        }
        val files = filesDf.collect()
        require(files.length ==
            VersionedTable.statsManifest(table, 1L).size,
          "pipe_table_meta: $files must inventory the live snapshot")
        require(files.forall(r => r.getLong(r.fieldIndex("bytes")) > 0 &&
            !r.isNullAt(r.fieldIndex("row_count")) &&
            r.getLong(r.fieldIndex("stats_min")) <=
              r.getLong(r.fieldIndex("stats_max")) &&
            r.getString(r.fieldIndex("partition")).startsWith("lang=")),
          "pipe_table_meta: $files rows must carry bytes, ROWS count, " +
            "zonemap bounds and partition segments")
        // Time travel composes: v0's inventory is strictly smaller.
        val v0Files = s2.sql(
          "SELECT * FROM graftcat.`docs$files` VERSION AS OF 0").count()
        require(v0Files < files.length && v0Files > 0,
          s"pipe_table_meta: VERSION AS OF 0 must serve v0's " +
            s"$v0Files-file inventory")
        // $history: one row per commit, kind and add/remove counts.
        val hist = s2.sql("SELECT version, files_added, files_removed " +
          "FROM graftcat.`docs$history` ORDER BY version").collect()
        require(hist.map(_.getLong(0)).toSeq == Seq(0L, 1L) &&
            hist.forall(r => r.getLong(1) > 0 && r.getLong(2) == 0),
          "pipe_table_meta: $history must report both append commits")
        // $refs: the tag with its pinned version.
        val refs = s2.sql("SELECT name, type, version " +
          "FROM graftcat.`docs$refs`").collect()
        require(refs.map(r => (r.getString(0), r.getString(1),
            r.getLong(2))).toSeq == Seq(("release", "tag", 1L)),
          s"pipe_table_meta: $$refs must list the tag, got " +
            refs.mkString(", "))
        // $partitions: the per-lang rollup — the ORACLE-CHECKED half.
        val out = s2.sql("SELECT lang, row_count " +
          "FROM graftcat.`docs$partitions` ORDER BY lang")
        out
      }
    }),

    // PARTITION-SPEC EVOLUTION — Iceberg's "we picked the wrong
    // partition key" verb, end-to-end through the catalog: a table
    // created PARTITIONED BY (lang) ingests a batch, CALL
    // evolve_layout('docs', 'source') changes the WRITE layout in one
    // O(1) metadata commit (witnessed: the commit adds exactly one
    // PARTSPEC line and zero data files — at 100 TB this is the
    // difference between one manifest write and a quarter-long
    // backfill), the next INSERT lands source=… files while every old
    // file keeps its lang=… path, the scan serves BOTH generations
    // (each file re-attaches its own path columns; the other column
    // rides its payload) and prunes each file under ITS OWN spec — a
    // source predicate skips non-matching new-spec files and
    // conservatively admits old-spec files (witnessed by scan
    // partition counts, both directions). CALL compact then un-rags
    // the table: every file rewritten under the live spec, content
    // byte-identical (witnessed), and the same predicate now prunes
    // the whole table. Oracle replays the two inserts relationally.
    "pipe_partition_evolve" -> ((s, dir) => {
      graft.sources.GraftSession.stagedCatalog(s, "graft_vevolve_") { (tmp, s2) =>
        s2.sql("""CREATE TABLE graftcat.docs
                    (doc_id BIGINT, lang STRING, source STRING,
                     n_chars BIGINT)
                    PARTITIONED BY (lang)""")
        val table = tmp.resolve("docs")
        s2.sql(s"""INSERT INTO graftcat.docs
                     SELECT doc_id, lang, source, n_chars
                     FROM ${graft.queries.QueryModule.srcView(s2, dir, "documents")}
                     WHERE doc_id % 3 = 0""")
        val oldFiles = VersionedTable.addedFiles(table, 1L)
        require(oldFiles.nonEmpty && oldFiles.forall(_.contains("lang=")),
          s"pipe_partition_evolve: batch 1 must land lang=… files")
        // The evolution itself: ONE metadata commit, zero data files.
        s2.sql("CALL graftcat.evolve_layout('docs', 'source')")
        require(VersionedTable.latestVersion(table).contains(2L),
          "pipe_partition_evolve: evolve_layout must publish one commit")
        val evolveAdds = VersionedTable.addedLines(table, 2L)
          .map(VersionedTable.parse)
        require(evolveAdds.size == 1 &&
            evolveAdds.head.isInstanceOf[VersionedTable.PartSpec],
          s"pipe_partition_evolve: the evolve commit must add exactly " +
            s"one PARTSPEC line, got $evolveAdds")
        require(VersionedTable.snapshot(table, 2L).writePartitionLayout ==
            Seq("source"),
          "pipe_partition_evolve: the live write layout must be the " +
            "new spec")
        // New data lands under the NEW spec; old files keep their
        // paths (nothing was rewritten).
        s2.sql(s"""INSERT INTO graftcat.docs
                     SELECT doc_id, lang, source, n_chars
                     FROM ${graft.queries.QueryModule.srcView(s2, dir, "documents")}
                     WHERE doc_id % 3 = 1""")
        val newFiles = VersionedTable.addedFiles(table, 3L)
        require(newFiles.nonEmpty &&
            newFiles.forall(f => f.contains("source=") &&
              !f.contains("lang=")),
          s"pipe_partition_evolve: batch 2 must land source=… files, " +
            s"got $newFiles")
        val srcVals = newFiles.flatMap(_.split('/').collectFirst {
          case seg if seg.startsWith("source=") => seg }).distinct
        require(srcVals.size > 1,
          "pipe_partition_evolve: fixture must span several sources")
        val oneSrc = srcVals.head.substring("source=".length)
        // PER-FILE-SPEC PRUNING, pre-compaction: a source predicate
        // must skip every non-matching NEW-spec file and
        // conservatively admit every OLD-spec file (+ the flat
        // bootstrap) — Iceberg's mixed-spec contract.
        val matching = newFiles.count(_.contains(s"source=$oneSrc"))
        val scanned = s2.sql("SELECT * FROM graftcat.docs " +
          s"WHERE source = '$oneSrc'").rdd.getNumPartitions
        require(scanned == matching + oldFiles.size + 1 &&
            scanned < oldFiles.size + newFiles.size + 1,
          s"pipe_partition_evolve: source predicate scanned $scanned " +
            s"files, expected $matching matching new-spec + " +
            s"${oldFiles.size} conservatively-admitted old-spec + " +
            "bootstrap")
        // …and the OLD spec still prunes its own generation: a lang
        // predicate skips non-matching old-spec files while admitting
        // every new-spec file.
        val oneLang = oldFiles.flatMap(_.split('/').collectFirst {
          case seg if seg.startsWith("lang=") => seg }).distinct
          .head.substring("lang=".length)
        val matchingOld = oldFiles.count(_.contains(s"lang=$oneLang"))
        val scannedLang = s2.sql("SELECT * FROM graftcat.docs " +
          s"WHERE lang = '$oneLang'").rdd.getNumPartitions
        require(scannedLang == matchingOld + newFiles.size + 1,
          s"pipe_partition_evolve: lang predicate scanned " +
            s"$scannedLang files, expected $matchingOld old-spec + " +
            s"${newFiles.size} admitted new-spec + bootstrap")
        val out = s2.sql("SELECT doc_id, lang, source, n_chars " +
          "FROM graftcat.docs ORDER BY doc_id")
        val local = graft.sources.GraftSession.materialize(s, out)
        val rows = local.collect()
        // Compaction un-rags the evolved table: everything rewritten
        // under the live spec, content identical, and the predicate
        // now prunes the WHOLE table.
        s2.sql("CALL graftcat.compact('docs', 'doc_id', 4)")
        val v = VersionedTable.latestVersion(table).get
        val files = VersionedTable.statsManifest(table, v).map(_._1)
        require(files.forall(f => f.contains("source=") &&
            !f.contains("lang=")),
          s"pipe_partition_evolve: compaction must rewrite every file " +
            s"under the live spec, got $files")
        val after = s2.sql("SELECT doc_id, lang, source, n_chars " +
          "FROM graftcat.docs ORDER BY doc_id").collect()
        require(after.toSeq == rows.toSeq,
          "pipe_partition_evolve: compaction changed the contents")
        val matchAfter = files.count(_.contains(s"source=$oneSrc"))
        val scanAfter = s2.sql("SELECT * FROM graftcat.docs " +
          s"WHERE source = '$oneSrc'").rdd.getNumPartitions
        require(scanAfter == matchAfter && scanAfter < files.size,
          s"pipe_partition_evolve: post-compact predicate scanned " +
            s"$scanAfter of ${files.size}, expected $matchAfter")
        local
      }
    }),

    // HIDDEN PARTITIONING — Iceberg's transform specs, the gap
    // identity-only evolution leaves: a `days(ts_us)` generation
    // lays new files out by UTC day of a BIGINT epoch-micros column,
    // the derived `ts_us_day=…` segment NEVER appears in the served
    // schema (analysts never learn the layout column), and a vanilla
    // predicate on the RAW column prunes whole files from the path
    // segments alone — at 100 TB, layout knowledge stops being part of
    // every analyst's query contract. Staged: an identity-partitioned
    // (event_type) table evolves to days(ts_us) in ONE metadata commit
    // (witnessed: exactly one PARTSPEC line, zero data files); the
    // next INSERT lands hidden day files; the scan (a) hides the
    // derived column, (b) prunes a raw ts_us range to the matching
    // day's files plus conservatively-admitted old-spec files, (c)
    // still prunes event_type probes against the OLD generation —
    // mixed-generation pruning both directions. Unknown transforms
    // (`void(…)`) refuse at declaration — never stored as lying
    // identity columns. CALL compact then un-rags the whole snapshot under
    // the day spec (contents witnessed identical) and the same raw
    // predicate prunes the entire table. Oracle replays the day slice.
    "pipe_partition_hidden" -> ((s, dir) => {
      graft.sources.GraftSession.stagedCatalog(s, "graft_vhidden_") { (tmp, s2) =>
        val table = tmp.resolve("ev")
        val ev = Tables.events(s, dir).selectExpr("event_id",
          s"${QueryModule.TsUs} AS ts_us", "event_type")
        VersionedTable.commitPartitioned(s, table, 0L,
          ev.where("event_id % 3 = 0"), "event_type")
        val oldFiles = VersionedTable.statsManifest(table, 0L).map(_._1)
        // Unsupported transforms refuse at declaration — never stored
        // (truncate is a supported transform; the
        // refusal witness keeps a genuinely-unknown shape).
        val refused = try {
          s2.sql("CALL graftcat.evolve_layout('ev', 'void(ts_us)')")
            .collect(); false
        } catch { case _: Exception => true }
        require(refused,
          "pipe_partition_hidden: void(…) must refuse at declaration")
        // The evolution: ONE metadata commit, zero data files.
        s2.sql("CALL graftcat.evolve_layout('ev', 'days(ts_us)')")
        val evolveAdds = VersionedTable.addedLines(table, 1L)
          .map(VersionedTable.parse)
        require(evolveAdds.size == 1 && (evolveAdds.head match {
            case VersionedTable.PartSpec(_, specs) =>
              specs.lastOption.contains("days(ts_us)")
            case _ => false
          }),
          s"pipe_partition_hidden: expected one PARTSPEC transform " +
            s"line, got $evolveAdds")
        s2.sql(s"""INSERT INTO graftcat.ev
                     SELECT event_id, unix_micros(CAST(ts AS TIMESTAMP))
                              AS ts_us, event_type
                     FROM ${graft.queries.QueryModule.srcView(s2, dir, "events")}
                     WHERE event_id % 3 <> 0""")
        val newFiles = VersionedTable.addedFiles(table, 2L)
        require(newFiles.nonEmpty && newFiles.forall(f =>
            f.contains("ts_us_day=") && !f.contains("event_type=")),
          s"pipe_partition_hidden: batch 2 must land hidden day files, " +
            s"got $newFiles")
        // HIDDEN: the derived segment is never a schema column.
        val cols = s2.table("graftcat.ev").columns.toSeq
        require(cols.sorted == Seq("event_id", "event_type", "ts_us"),
          s"pipe_partition_hidden: ts_us_day leaked into the schema: " +
            s"$cols")
        // A RAW ts_us predicate prunes by the derived segments: the
        // day's files + conservatively-admitted old-spec files.
        val day = "2024-01-10"
        val (lo, hi) = graft.operators.PartTransform.microsRangeOfDay(day)
        val matching = newFiles.count(_.contains(s"ts_us_day=$day"))
        def dayQuery = s2.sql("SELECT event_id, ts_us, event_type " +
          s"FROM graftcat.ev WHERE ts_us BETWEEN $lo AND $hi")
        require(matching > 0 &&
            dayQuery.rdd.getNumPartitions == matching + oldFiles.size &&
            matching + oldFiles.size < oldFiles.size + newFiles.size,
          s"pipe_partition_hidden: raw-predicate scan planned " +
            s"${dayQuery.rdd.getNumPartitions} files, expected " +
            s"$matching day files + ${oldFiles.size} old-spec admits")
        // …and the OLD identity generation still prunes its own files.
        val oneType = oldFiles.flatMap(_.split('/').collectFirst {
          case seg if seg.startsWith("event_type=") => seg }).distinct
          .head.substring("event_type=".length)
        val matchingOld = oldFiles.count(
          _.contains(s"event_type=$oneType"))
        val scannedType = s2.sql("SELECT * FROM graftcat.ev " +
          s"WHERE event_type = '$oneType'").rdd.getNumPartitions
        require(scannedType == matchingOld + newFiles.size,
          s"pipe_partition_hidden: event_type probe scanned " +
            s"$scannedType, expected $matchingOld old + " +
            s"${newFiles.size} new-spec admits")
        val out = dayQuery.orderBy("event_id")
        val local = graft.sources.GraftSession.materialize(s, out)
        val rows = local.collect()
        // Compaction un-rags everything under the day spec; contents
        // identical; the raw predicate now prunes the WHOLE table.
        s2.sql("CALL graftcat.compact('ev', 'event_id', 4)")
        val v = VersionedTable.latestVersion(table).get
        val files = VersionedTable.statsManifest(table, v).map(_._1)
        require(files.forall(f => f.contains("ts_us_day=") &&
            !f.contains("event_type=")),
          s"pipe_partition_hidden: compaction must rewrite under the " +
            s"day spec, got $files")
        val after = dayQuery.orderBy("event_id").collect()
        require(after.toSeq == rows.toSeq,
          "pipe_partition_hidden: compaction changed the contents")
        val matchAfter = files.count(_.contains(s"ts_us_day=$day"))
        require(dayQuery.rdd.getNumPartitions == matchAfter &&
            matchAfter < files.size,
          "pipe_partition_hidden: post-compact raw predicate must " +
            "prune the whole table")
        local
      }
    }),

    // TRUNCATE(n, col) HIDDEN PARTITIONING — the width
    // transform completing the Iceberg family:
    // STRING columns segment by their first n characters (the
    // id-prefix clustering common for document corpora), BIGINT/INT
    // columns floor to a multiple of n — and an INTEGRAL segment
    // covers exactly [seg, seg+n-1], so a plain range predicate on
    // the RAW column prunes whole files like a zonemap, from path
    // segments alone. Staged: DDL declares truncate(100, doc_id)
    // (position-blind width like bucket), the INSERT lands hidden
    // doc_id_trunc files, a BETWEEN probe plans exactly the matching
    // segment's files, the layout EVOLVES to truncate(1, lang) in one
    // metadata commit, the next INSERT lands letter segments, and
    // equality + LIKE-prefix probes prune the new generation while
    // old-generation files admit conservatively — mixed-generation
    // discipline identical to days()/bucket(). SPJ over truncate
    // (zero-Exchange co-located join via the V2 `truncate` function)
    // is witnessed in GraftTableSpec. Oracle replays the range slice.
    "pipe_partition_truncate" -> ((s, dir) => {
      graft.sources.GraftSession.stagedCatalog(s, "graft_vtrunc_") { (tmp, s2) =>
        val table = tmp.resolve("docs")
        s2.sql("""CREATE TABLE graftcat.docs
                    (doc_id BIGINT, lang STRING, n_chars BIGINT)
                    PARTITIONED BY (truncate(100, doc_id))""")
        s2.sql(s"""INSERT INTO graftcat.docs
                     SELECT doc_id, lang, n_chars
                     FROM ${graft.queries.QueryModule.srcView(s2, dir, "documents")}
                     WHERE doc_id % 2 = 0""")
        // The DDL bootstrap's zero-row file carries no segment and is
        // admitted conservatively by every probe — count it.
        val boot = VersionedTable.statsManifest(table, 0L).size
        val gen1 = VersionedTable.addedFiles(table, 1L)
        require(gen1.nonEmpty && gen1.forall(_.contains("doc_id_trunc=")),
          s"pipe_partition_truncate: batch 1 must land hidden width " +
            s"segments, got $gen1")
        // HIDDEN: the derived segment is never a schema column.
        val cols = s2.table("graftcat.docs").columns.toSeq
        require(cols.sorted == Seq("doc_id", "lang", "n_chars"),
          s"pipe_partition_truncate: doc_id_trunc leaked: $cols")
        // An integral segment IS a zonemap: the raw BETWEEN probe
        // plans exactly the matching segment's files.
        val matching1 = gen1.count(_.contains("doc_id_trunc=100/"))
        def slice = s2.sql("SELECT doc_id, lang, n_chars " +
          "FROM graftcat.docs WHERE doc_id BETWEEN 100 AND 199")
        require(matching1 > 0 &&
            slice.rdd.getNumPartitions == matching1 + boot &&
            matching1 < gen1.size,
          s"pipe_partition_truncate: range probe planned " +
            s"${slice.rdd.getNumPartitions} files, expected $matching1 " +
            s"of ${gen1.size}")
        // …and an equality probe pins one segment the same way.
        require(s2.sql("SELECT * FROM graftcat.docs WHERE doc_id = 250")
            .rdd.getNumPartitions ==
          gen1.count(_.contains("doc_id_trunc=200/")) + boot,
          "pipe_partition_truncate: equality probe must pin the one " +
            "covering segment")
        // EVOLVE to the string-prefix layout: one metadata commit.
        s2.sql("CALL graftcat.evolve_layout('docs', 'truncate(1,lang)')")
        val evolveAdds = VersionedTable.addedLines(table, 2L)
          .map(VersionedTable.parse)
        require(evolveAdds.size == 1 && (evolveAdds.head match {
            case VersionedTable.PartSpec(_, specs) =>
              specs.lastOption.contains("truncate(1,lang)")
            case _ => false
          }),
          s"pipe_partition_truncate: expected one PARTSPEC line, got " +
            s"$evolveAdds")
        s2.sql(s"""INSERT INTO graftcat.docs
                     SELECT doc_id, lang, n_chars
                     FROM ${graft.queries.QueryModule.srcView(s2, dir, "documents")}
                     WHERE doc_id % 2 = 1""")
        val gen2 = VersionedTable.addedFiles(table, 3L)
        require(gen2.nonEmpty && gen2.forall(f =>
            f.contains("lang_trunc=") && !f.contains("doc_id_trunc=")),
          s"pipe_partition_truncate: batch 2 must land letter " +
            s"segments, got $gen2")
        // Equality and LIKE-prefix probes prune the NEW generation;
        // old-generation files admit conservatively (no lang segment).
        val oneLang = s2.sql(
          "SELECT lang FROM graftcat.docs ORDER BY lang").head().getString(0)
        val letter = oneLang.substring(0, 1)
        val matching2 = gen2.count(_.contains(s"lang_trunc=$letter/"))
        val eqScan = s2.sql("SELECT * FROM graftcat.docs " +
          s"WHERE lang = '$oneLang'").rdd.getNumPartitions
        require(matching2 > 0 && matching2 < gen2.size &&
            eqScan == matching2 + gen1.size + boot,
          s"pipe_partition_truncate: lang probe scanned $eqScan, " +
            s"expected $matching2 new + ${gen1.size}+$boot admits")
        val likeScan = s2.sql("SELECT * FROM graftcat.docs " +
          s"WHERE lang LIKE '$letter%'").rdd.getNumPartitions
        require(likeScan == matching2 + gen1.size + boot,
          s"pipe_partition_truncate: prefix probe scanned $likeScan, " +
            s"expected $matching2 new + ${gen1.size} old-spec admits")
        val out = slice.orderBy("doc_id")
        out
      }
    }),

    // ANALYZE → COLUMN STATISTICS — the CBO input sizeInBytes
    // can't provide: CALL analyze(table, cols) runs ONE aggregate
    // pass (approx_count_distinct HLL + null count per column — the
    // only affordable distinct count at 100 TB) and publishes NDV
    // manifest lines in an O(1) delta commit; the V2 scan serves them
    // to Catalyst as columnStats, which is what a cost-based
    // optimizer sizes JOIN OUTPUTS with. Witnessed in-path: the
    // commit is a pure-meta delta (zero data files), the served NDVs
    // sit within the HLL error envelope of the exact distinct counts
    // (±10%), and the scan's estimateStatistics carries them for
    // exactly the analyzed columns. Oracle: the exact per-column
    // distinct/null profile the statistics approximate.
    "pipe_table_analyze" -> ((s, dir) => {
      graft.sources.GraftSession.stagedCatalog(s, "graft_vndv_") { (tmp, s2) =>
        s2.sql(s"""CREATE TABLE graftcat.docs AS
                     SELECT doc_id, lang, source, n_chars,
                       CASE WHEN doc_id % 7 = 0 THEN NULL
                            ELSE lang END AS maybe_lang
                     FROM ${graft.queries.QueryModule.srcView(s2, dir, "documents")}""")
        val table = tmp.resolve("docs")
        val before = VersionedTable.latestVersion(table).get
        s2.sql("CALL graftcat.analyze('docs', " +
          "'lang,source,doc_id,maybe_lang')")
        val v = VersionedTable.latestVersion(table).get
        require(v == before + 1 &&
            VersionedTable.addedLines(table, v).map(VersionedTable.parse)
              .forall(_.isInstanceOf[VersionedTable.Ndv]),
          "pipe_table_analyze: ANALYZE must publish one pure-meta " +
            "delta of NDV lines")
        val ndv = VersionedTable.snapshot(table, v).ndvStats
        // Exact truth for the envelope check and the oracle.
        val exact = s2.sql("""SELECT count(DISTINCT lang) AS d_lang,
               count(DISTINCT source) AS d_source,
               count(DISTINCT doc_id) AS d_doc,
               count(DISTINCT maybe_lang) AS d_maybe,
               count(CASE WHEN maybe_lang IS NULL THEN 1 END) AS z_maybe
               FROM graftcat.docs""").head()
        def within(est: Long, ex: Long): Boolean =
          math.abs(est - ex) <= math.max(1L, (ex * 0.10).toLong)
        require(within(ndv("lang")._1, exact.getLong(0)) &&
            within(ndv("source")._1, exact.getLong(1)) &&
            within(ndv("doc_id")._1, exact.getLong(2)) &&
            within(ndv("maybe_lang")._1, exact.getLong(3)) &&
            ndv("maybe_lang")._2 == exact.getLong(4) &&
            ndv("lang")._2 == 0L,
          s"pipe_table_analyze: served stats $ndv outside the HLL " +
            s"envelope of $exact")
        val out = s2.sql(
          """SELECT CAST(count(DISTINCT lang) AS BIGINT) AS d_lang,
            |  CAST(count(DISTINCT source) AS BIGINT) AS d_source,
            |  CAST(count(DISTINCT doc_id) AS BIGINT) AS d_doc,
            |  CAST(count(DISTINCT maybe_lang) AS BIGINT) AS d_maybe,
            |  CAST(count(CASE WHEN maybe_lang IS NULL THEN 1 END)
            |    AS BIGINT) AS n_null
            |FROM graftcat.docs""".stripMargin)
        out
      }
    }),

    // MATERIALIZED VIEWS FROM SQL — the full MV lifecycle with
    // zero library imports: CALL create_mv stores the aggregate
    // statement (base as __BASE__) and its group columns IN THE MV'S
    // MANIFEST (MVSQL line, carried like a CHECK) next to the MVOF
    // cursor, so CALL refresh_mv needs nothing but two table names —
    // it re-runs the stored statement over ONLY the appended files
    // (witnessed from the CALL's own result rows: delta_files_read ==
    // the appended count, < base total) and folds partials by the
    // sum-mergeable rule the CREATE validated. The MV is an ordinary
    // catalog table: SELECT-able, VERSION AS OF-able (witnessed: v0
    // reflects batch 1 alone). Oracle: the refreshed MV equals the
    // exact GROUP BY over everything the base ever ingested.
    "pipe_sql_mv" -> ((s, dir) => {
      graft.sources.GraftSession.stagedCatalog(s, "graft_vsqlmv_") { (tmp, s2) =>
        s2.sql(s"""CREATE TABLE graftcat.docs AS
                     SELECT doc_id, lang, n_chars
                     FROM ${graft.queries.QueryModule.srcView(s2, dir, "documents")}
                     WHERE doc_id % 3 = 0""")
        val created = s2.sql("CALL graftcat.create_mv('docs_by_lang', " +
          "'docs', 'lang', 'SELECT lang, count(*) AS n, " +
          "sum(n_chars) AS chars FROM __BASE__ GROUP BY lang')")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        require(created("cursor") == 1L,
          s"pipe_sql_mv: CREATE must pin the cursor at the base head, " +
            s"got $created")
        s2.sql(s"""INSERT INTO graftcat.docs
                     SELECT doc_id, lang, n_chars
                     FROM ${graft.queries.QueryModule.srcView(s2, dir, "documents")}
                     WHERE doc_id % 3 = 1""")
        s2.sql(s"""INSERT INTO graftcat.docs
                     SELECT doc_id, lang, n_chars
                     FROM ${graft.queries.QueryModule.srcView(s2, dir, "documents")}
                     WHERE doc_id % 3 = 2""")
        val base = tmp.resolve("docs")
        val appended = (2L to 3L).map(v =>
          VersionedTable.addedFiles(base, v).size).sum
        val res = s2.sql(
          "CALL graftcat.refresh_mv('docs_by_lang', 'docs')")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        require(res("delta_files_read") == appended &&
            res("delta_files_read") < res("base_files_total"),
          s"pipe_sql_mv: refresh witness $res, expected exactly the " +
            s"$appended appended files")
        // The MV is an ordinary catalog table: time travel below the
        // refresh reflects batch 1 alone.
        val v0n = s2.sql("SELECT sum(n) AS t FROM " +
          "graftcat.docs_by_lang VERSION AS OF 0").head().getLong(0)
        val batch1 = s2.sql(
          "SELECT count(*) AS n FROM graftcat.docs VERSION AS OF 1")
          .head().getLong(0)
        require(v0n == batch1,
          s"pipe_sql_mv: MV v0 must reflect batch 1 ($batch1), got $v0n")
        val out = s2.sql("SELECT lang, n, chars " +
          "FROM graftcat.docs_by_lang ORDER BY lang")
        out
      }
    }),

    // INCREMENTAL MATERIALIZED-VIEW REFRESH — the maintenance
    // loop that makes a 100-TB dashboard aggregate affordable: the MV
    // is an ordinary graft table carrying an MVOF cursor (the base
    // version its rows reflect); a refresh reads ONLY the files the
    // base appended since the cursor (witnessed: delta files read <
    // base total), aggregates the delta, and merges it into the
    // standing rows — O(delta + MV), never O(base). The walk
    // understands commit KINDs like the change feed: a KIND=compact
    // of the base between refreshes contributes NOTHING (witnessed:
    // the post-compaction refresh is a no-op reading zero files), and
    // a rewriting commit refuses toward re-create. Oracle: the final
    // MV must equal the exact GROUP BY over everything the base ever
    // appended — the incremental path must be indistinguishable from
    // the full recompute.
    "pipe_mv_refresh" -> ((s, dir) => {
      graft.sources.GraftSession.staged(s, "graft_vmv_") { tmp =>
        val base = tmp.resolve("docs")
        val mv = tmp.resolve("docs_by_lang")
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        def agg(df: org.apache.spark.sql.DataFrame) =
          df.groupBy(col("lang")).agg(count(lit(1)).as("n"),
            sum(col("n_chars")).as("chars"))
        def merge(old: org.apache.spark.sql.DataFrame,
                  delta: org.apache.spark.sql.DataFrame) =
          old.unionByName(delta).groupBy(col("lang"))
            .agg(sum(col("n")).as("n"), sum(col("chars")).as("chars"))
        VersionedTable.commit(s, base, 0L, docs.where("doc_id % 3 = 0"))
        VersionedTable.createMaterialized(s, base, mv, agg)
        require(VersionedTable.snapshot(mv, 0L).mvCursor.contains(0L),
          "pipe_mv_refresh: the bootstrap must carry the MVOF cursor")
        // Two appends land; the refresh reads ONLY their files.
        VersionedTable.appendCommit(s, base, docs.where("doc_id % 3 = 1"))
        VersionedTable.appendCommit(s, base, docs.where("doc_id % 3 = 2"))
        val newFiles = (1L to 2L).map(v =>
          VersionedTable.addedFiles(base, v).size).sum
        val (mvV, read1, total1) =
          VersionedTable.refreshMaterialized(s, base, mv, agg, merge)
        require(mvV == 1L && read1 == newFiles && read1 < total1,
          s"pipe_mv_refresh: refresh read $read1 of $total1 files, " +
            s"expected exactly the $newFiles appended ones")
        require(VersionedTable.snapshot(mv, 1L).mvCursor.contains(2L),
          "pipe_mv_refresh: the cursor must advance to the base head")
        // A content-preserving compaction of the base contributes
        // nothing: the next refresh is a no-op (zero files read, no
        // MV commit published).
        VersionedTable.compactCommit(s, base, files = 2)
        val (mvV2, read2, _) =
          VersionedTable.refreshMaterialized(s, base, mv, agg, merge)
        require(read2 == 0 && mvV2 == 2L &&
            VersionedTable.snapshot(mv, 2L).mvCursor.contains(3L),
          s"pipe_mv_refresh: a KIND=compact of the base must advance " +
            s"the cursor reading zero files, got read=$read2 v=$mvV2")
        require(VersionedTable.addedLines(mv, 2L).map(VersionedTable.parse)
            .forall(_.isInstanceOf[VersionedTable.MvOf]),
          "pipe_mv_refresh: the compaction-only refresh must be a " +
            "pure cursor-advance delta, no MV row rewritten")
        // The incremental MV equals the full recompute (the oracle
        // also proves it relationally).
        val full = agg(VersionedTable.read(s, base)).collect()
          .map(_.toString).sorted.toSeq
        val incr = VersionedTable.read(s, mv).collect()
          .map(_.toString).sorted.toSeq
        require(incr == full,
          "pipe_mv_refresh: incremental MV diverges from recompute")
        val out = VersionedTable.read(s, mv).orderBy("lang")
        out
      }
    }),

    // MV REFRESH OVER DV DELETES — no refusal for
    // the common production case: a dashboard MV over a fact table
    // with GDPR deletes. For the sum-mergeable surface create_mv
    // enforces, a deletion is SUBTRACTABLE: the refresh reads the
    // killed rows (key-matching rows of the pre-delete snapshot,
    // through the connector so EARLIER DVs apply and sequential
    // deletes never double-subtract), aggregates them with the stored
    // statement, NEGATES the partials, and folds them in with the
    // ordinary merge — never an O(base) recompute. A group whose last
    // row died is detected by the MV's count(*) column hitting 0 and
    // VANISHES (a recompute would not produce it) — witnessed by
    // deleting one lang entirely. Oracle: the refreshed MV equals the
    // exact GROUP BY over (everything ingested) minus (everything
    // deleted), replayed relationally.
    "pipe_mv_delete" -> ((s, dir) => {
      graft.sources.GraftSession.stagedCatalog(s, "graft_vmvdel_") { (tmp, s2) =>
        s2.sql(s"""CREATE TABLE graftcat.docs AS
                     SELECT doc_id, lang, n_chars
                     FROM ${graft.queries.QueryModule.srcView(s2, dir, "documents")}""")
        s2.sql("CALL graftcat.create_mv('mv_del', 'docs', 'lang', " +
          "'SELECT lang, count(*) AS n_docs, sum(n_chars) AS chars " +
          "FROM __BASE__ GROUP BY lang')").collect()
        // Appends and deletes INTERLEAVE below the cursor walk: clones
        // append, then a partial delete, then one lang dies entirely.
        s2.sql(s"""INSERT INTO graftcat.docs
                     SELECT doc_id + 1000000, lang, n_chars
                     FROM ${graft.queries.QueryModule.srcView(s2, dir, "documents")}
                     WHERE doc_id % 10 = 0""")
        // Distributed-key DV deletes: zero data-sized driver
        // round-trips — the key frames stay distributed end to end
        // (collecting them puts ~700 ids into a SQL IN-list, a
        // parse bomb at 100×). The library face is the route because
        // a DV delete is what an MV can refresh over: a SQL predicate
        // DELETE (`WHERE doc_id % 7 = 3`) plans as a copy-on-write
        // REWRITE, which the refresh rightly refuses toward re-create.
        import graft.operators.{VersionedTable => VT}
        val docsT = tmp.resolve("docs")
        require(s2.sql("SELECT count(*) AS n FROM graftcat.docs " +
            "WHERE doc_id % 7 = 3").head().getLong(0) > 0,
          "pipe_mv_delete: empty partial set")
        VT.deleteCommit(s2, docsT, VT.latestVersion(docsT).get + 1,
          s2.sql("SELECT doc_id FROM graftcat.docs WHERE doc_id % 7 = 3"),
          "doc_id")
        val deadLang = s2.sql("SELECT min(lang) FROM graftcat.docs")
          .head().getString(0)
        VT.deleteCommit(s2, docsT, VT.latestVersion(docsT).get + 1,
          s2.sql("SELECT doc_id FROM graftcat.docs " +
            s"WHERE lang = '$deadLang'"), "doc_id")
        // The refresh must SUCCEED, not refuse, with the
        // positive delta still O(appended files).
        val res = s2.sql("CALL graftcat.refresh_mv('mv_del', 'docs')")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        require(res("delta_files_read") < res("base_files_total"),
          s"pipe_mv_delete: refresh was not incremental: $res")
        // The dead lang's group must VANISH rather than linger at 0
        // (refresh ≡ recompute is the ORACLE's job — the relational
        // replay over ingested-minus-deleted IS the recompute, so an
        // in-path recompute here would just pay the aggregation twice).
        val out = s2.sql(
          "SELECT lang, n_docs, chars FROM graftcat.mv_del")
          .orderBy("lang")
        val local = graft.sources.GraftSession.materialize(s, out)
        val rows = local.collect()
        require(!rows.exists(_.getString(0) == deadLang),
          s"pipe_mv_delete: emptied group '$deadLang' must vanish")
        local
      }
    }),

    // MV WITH AVG (served shape) — a production dashboard's
    // first MV has an avg in it, and avg does NOT fold across deltas
    // (old_avg + delta_avg is not the ratio). The DECLARATION rewrites
    // each bare `avg(expr) AS name` into maintained sum+count PARTIAL
    // columns (which fold by the ordinary SUM merge, through appends
    // AND DV-delete negation alike) PLUS the physically-stored served
    // ratio recomputed from the merged partials at every refresh,
    // records the fold as an MVAVG manifest line, and the connector
    // HIDES the partials — so `SELECT * FROM cat.mv`, the very surface
    // CALL create_mv declared the MV on, serves exactly the declared
    // shape (the declared and served schemas must never
    // disagree). Witnessed in-path: the physical schema holds ratio +
    // partials, the catalog SQL read serves the declared three-column
    // shape with the correct post-refresh avg, the refresh stays
    // O(delta), and the oracle replays avg over everything-ingested-
    // minus-deleted with the SAME sum/count formula on both sides so
    // the comparison is bit-exact.
    "pipe_mv_avg" -> ((s, dir) => {
      graft.sources.GraftSession.stagedCatalog(s, "graft_vmvavg_") { (tmp, s2) =>
        s2.sql(s"""CREATE TABLE graftcat.docs AS
                     SELECT doc_id, lang, n_chars
                     FROM ${graft.queries.QueryModule.srcView(s2, dir, "documents")}""")
        s2.sql("CALL graftcat.create_mv('mv_avg', 'docs', 'lang', " +
          "'SELECT lang, count(*) AS n_docs, avg(n_chars) AS avg_chars " +
          "FROM __BASE__ GROUP BY lang')").collect()
        val mvT = tmp.resolve("mv_avg")
        // The rewrite witness: stored ratio + maintained partials.
        val phys = VersionedTable.read(s2, mvT).columns.toSeq
        require(phys == Seq("lang", "n_docs", "avg_chars",
            "avg_chars__asum", "avg_chars__acnt"),
          s"pipe_mv_avg: expected ratio + partial columns, got $phys")
        // Appends and a distributed-key DV delete interleave below the
        // refresh (the key frame never touches the driver — see
        // pipe_mv_delete for why the DV route, not a predicate
        // rewrite, is what an MV refreshes over).
        s2.sql(s"""INSERT INTO graftcat.docs
                     SELECT doc_id + 1000000, lang, n_chars
                     FROM ${graft.queries.QueryModule.srcView(s2, dir, "documents")}
                     WHERE doc_id % 10 = 0""")
        val docsT = tmp.resolve("docs")
        graft.operators.VersionedTable.deleteCommit(s2, docsT,
          graft.operators.VersionedTable.latestVersion(docsT).get + 1,
          s2.sql("SELECT doc_id FROM graftcat.docs WHERE doc_id % 7 = 3"),
          "doc_id")
        val res = s2.sql("CALL graftcat.refresh_mv('mv_avg', 'docs')")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        require(res("delta_files_read") < res("base_files_total"),
          s"pipe_mv_avg: refresh was not incremental: $res")
        // THE SQL SURFACE WITNESS: the same catalog
        // identifier create_mv declared the MV on serves the DECLARED
        // schema — partials hidden, ratio present and post-refresh.
        val sqlFace = s2.sql("SELECT * FROM graftcat.mv_avg")
        require(sqlFace.columns.toSeq ==
            Seq("lang", "n_docs", "avg_chars"),
          "pipe_mv_avg: SELECT * through the catalog must serve the " +
            s"declared shape, got ${sqlFace.columns.toSeq}")
        val out = VersionedTable.readMaterializedSql(s2, mvT)
          .orderBy("lang")
        require(out.columns.toSeq == Seq("lang", "n_docs", "avg_chars"),
          s"pipe_mv_avg: the serve face must fold partials back into " +
            s"the declared shape, got ${out.columns.toSeq}")
        val local = graft.sources.GraftSession.materialize(s, out)
        val rows = local.collect()
        // Library face and SQL face agree row-for-row.
        val sqlRows = sqlFace.orderBy("lang").collect()
        require(sqlRows.sameElements(rows),
          "pipe_mv_avg: catalog SQL rows disagree with the library " +
            "serve face")
        local
      }
    }),

    // MV WITH MIN/MAX — the extremum dashboard columns: bare
    // min/max fold for APPEND-ONLY deltas (new_min = min(old_min,
    // delta_min) — the declaration records an MVFOLD merge operator
    // per column, the refresh merge applies it instead of SUM), and a
    // DV delete REFUSES toward re-create (a deletion may have removed
    // the extremum; min is not subtractable) — refusal witnessed
    // in-path. Oracle replays the post-append extrema exactly.
    "pipe_mv_minmax" -> ((s, dir) => {
      graft.sources.GraftSession.stagedCatalog(s, "graft_vmvmm_") { (tmp, s2) =>
        s2.sql(s"""CREATE TABLE graftcat.docs AS
                     SELECT doc_id, lang, n_chars
                     FROM ${graft.queries.QueryModule.srcView(s2, dir, "documents")}""")
        s2.sql("CALL graftcat.create_mv('mv_mm', 'docs', 'lang', " +
          "'SELECT lang, count(*) AS n_docs, min(n_chars) AS min_chars, " +
          "max(n_chars) AS max_chars FROM __BASE__ GROUP BY lang')")
          .collect()
        val mvT = tmp.resolve("mv_mm")
        require(VersionedTable.snapshot(mvT, 0L).mvFoldOps ==
            Map("min_chars" -> "min", "max_chars" -> "max"),
          "pipe_mv_minmax: the declaration must record the MVFOLD " +
            "merge operators")
        // The append DOUBLES one clone's n_chars (moves maxima) and
        // floors another at 1 (moves minima) — the fold must track
        // real extremum movement, not ride unchanged groups.
        s2.sql(s"""INSERT INTO graftcat.docs
                     SELECT doc_id + 1000000, lang,
                       CASE WHEN doc_id % 20 = 0 THEN n_chars * 2
                            ELSE 1 END AS n_chars
                     FROM ${graft.queries.QueryModule.srcView(s2, dir, "documents")}
                     WHERE doc_id % 10 = 0""")
        val res = s2.sql("CALL graftcat.refresh_mv('mv_mm', 'docs')")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        require(res("delta_files_read") < res("base_files_total"),
          s"pipe_mv_minmax: refresh was not incremental: $res")
        // DV DELETES: min/max are not
        // subtractable, but whether a deletion REMOVED an extremum is
        // decidable per group — the refresh folds sum columns by
        // negation, and recomputes ONLY groups whose killed extremum
        // TIED the standing one (VersionedTableSpec witnesses the
        // incremental/repair split deterministically). The deleted
        // set below includes the doubled clones (every lang's standing
        // max where present) AND plain interior rows, so both paths
        // run; the oracle replays min/max over ingested-minus-deleted.
        val docsT = tmp.resolve("docs")
        VersionedTable.deleteCommit(s2, docsT,
          VersionedTable.latestVersion(docsT).get + 1,
          s2.sql("SELECT doc_id FROM graftcat.docs " +
            "WHERE doc_id % 20 = 0 OR doc_id % 13 = 4"),
          "doc_id")
        s2.sql("CALL graftcat.refresh_mv('mv_mm', 'docs')").collect()
        val out = s2.sql(
          "SELECT lang, n_docs, min_chars, max_chars FROM graftcat.mv_mm")
          .orderBy("lang")
        out
      }
    }),

    // PARTITION-SCOPED COMPACTION — the maintenance shape a
    // 100-TB table actually runs: an hourly stream fragments TODAY's
    // partition; nobody rewrites three years of history to fix it.
    // CALL compact_partitions(table, col, vals) rewrites ONLY the
    // named partitions' files (witnessed: every other partition's
    // manifest line carries BYTE-VERBATIM, the commit is an RM delta
    // — metadata O(touched), chain +1 — and the scoped file count
    // drops), stamps KIND=compact so change feeds skip it, and leaves
    // content identical (the oracle proves it: the post-maintenance
    // per-lang rollup equals the exact GROUP BY over the fixture).
    "pipe_partition_compact" -> ((s, dir) => {
      graft.sources.GraftSession.stagedCatalog(s, "graft_vpcomp_") { (tmp, s2) =>
        val table = tmp.resolve("docs")
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        // Two fragmented ingests: several files per partition value.
        VersionedTable.commitPartitioned(s, table, 0L,
          docs.where("doc_id % 2 = 0").repartition(4), "lang",
          statsCol = Some("doc_id"), rowCounts = true)
        VersionedTable.commitPartitioned(s, table, 1L,
          docs.where("doc_id % 2 = 1").repartition(4), "lang",
          carried = VersionedTable.manifest(table, 0L),
          statsCol = Some("doc_id"), rowCounts = true)
        val before = VersionedTable.statsManifest(table, 1L).map(_._1)
        val enBefore = before.count(_.contains("lang=en"))
        require(enBefore > 2,
          s"pipe_partition_compact: need a fragmented scope, " +
            s"got $enBefore lang=en files")
        val chainBefore = VersionedTable.chainLength(table, 1L)
        val res = s2.sql("CALL graftcat.compact_partitions(" +
          "'docs', 'lang', 'en', files => 2)").collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        require(res("files_rewritten") == enBefore &&
            res("version") == 2L,
          s"pipe_partition_compact: CALL witness $res, expected " +
            s"$enBefore files rewritten at version 2")
        val after = VersionedTable.statsManifest(table, 2L).map(_._1)
        val enAfter = after.count(_.contains("lang=en"))
        require(enAfter <= 2 && enAfter < enBefore,
          s"pipe_partition_compact: scope still holds $enAfter files")
        // Untouched partitions carry byte-verbatim; the commit is an
        // RM delta (chain +1), KIND=compact.
        val beforeLines = VersionedTable.manifest(table, 1L).toSet
        val carried = VersionedTable.manifest(table, 2L)
          .filterNot(l => l.contains("lang=en") ||
            (VersionedTable.parse(l) match {
              case _: VersionedTable.PartCol | _: VersionedTable.PartSpec =>
                true
              case _ => false
            }))
        require(carried.nonEmpty && carried.forall(beforeLines),
          "pipe_partition_compact: untouched partitions' lines must " +
            "carry byte-verbatim")
        require(VersionedTable.chainLength(table, 2L) == chainBefore + 1,
          "pipe_partition_compact: the scoped rewrite must publish an " +
            "RM delta, not a full manifest")
        require(VersionedTable.commitKind(table, 2L).contains("compact"),
          "pipe_partition_compact: the commit must stamp KIND=compact")
        val out = s2.sql("""SELECT lang, count(*) AS n,
                           |  sum(n_chars) AS chars
                           |FROM graftcat.docs
                           |GROUP BY lang ORDER BY lang""".stripMargin)
        out
      }
    }),

    // SQL ALTER TABLE ADD COLUMN — the most common schema
    // evolution, end-to-end in plain SQL: the ALTER publishes a
    // metadata-only ADDCOL commit (O(1) at any table size — no file is
    // rewritten), the very next SELECT serves legacy rows with typed
    // NULLs for the new column (the connector reads a footer-missing
    // field as NULL — no compaction needed to start querying), an
    // INSERT lands real values alongside, time travel below the ALTER
    // still sees the old schema, and the compaction that eventually
    // runs materializes the union and retires the mapping with content
    // unchanged (witnessed). The oracle replays the whole lifecycle
    // relationally: the base projection with a NULL quality column
    // plus the inserted rows with theirs.
    "pipe_sql_add_column" -> ((s, dir) => {
      graft.sources.GraftSession.stagedCatalog(s, "graft_vaddc_") { (tmp, s2) =>
        s2.sql(s"""CREATE TABLE graftcat.docs AS
                     SELECT doc_id, lang, n_chars
                     FROM ${graft.queries.QueryModule.srcView(s2, dir, "documents")}""")
        val table = tmp.resolve("docs")
        s2.sql("ALTER TABLE graftcat.docs ADD COLUMN quality BIGINT")
        require(VersionedTable.snapshot(table, 2L).columnMappings ==
            Seq(("addcol", "quality", "bigint")),
          "pipe_sql_add_column: the ALTER must land as one metadata-" +
            "only ADDCOL commit")
        // Visible to the very next statement: every legacy row serves
        // a typed NULL, no compaction in between.
        val n = s2.sql("SELECT count(*) AS n FROM graftcat.docs")
          .head().getLong(0)
        require(s2.sql("SELECT count(*) AS n FROM graftcat.docs " +
            "WHERE quality IS NULL").head().getLong(0) == n && n > 0,
          "pipe_sql_add_column: legacy rows must read as typed NULLs " +
            "immediately after the ALTER")
        // Time travel below the ALTER sees the old schema.
        require(!s2.sql("SELECT * FROM graftcat.docs VERSION AS OF 1")
            .schema.fieldNames.contains("quality"),
          "pipe_sql_add_column: VERSION AS OF below the ALTER must " +
            "not show the added column")
        // New rows land real values next to the NULL-serving history.
        s2.sql(s"""INSERT INTO graftcat.docs
                     SELECT doc_id + 4398046511104L AS doc_id, lang,
                            n_chars, n_chars * 2L AS quality
                     FROM ${graft.queries.QueryModule.srcView(s2, dir, "documents")}
                     WHERE doc_id % 9 = 4""")
        val out = s2.sql("SELECT doc_id, lang, n_chars, quality " +
          "FROM graftcat.docs ORDER BY doc_id")
        val local = graft.sources.GraftSession.materialize(s, out)
        val rows = local.collect()
        // The compaction MATERIALIZES the union (mapping retired,
        // content byte-identical) — the debt-repayment half.
        s2.sql("CALL graftcat.compact('docs', 'doc_id', 4)")
        require(VersionedTable.snapshot(table,
            VersionedTable.latestVersion(table).get).columnMappings.isEmpty,
          "pipe_sql_add_column: compaction must retire the ADDCOL " +
            "mapping")
        val after = s2.sql("SELECT doc_id, lang, n_chars, quality " +
          "FROM graftcat.docs ORDER BY doc_id").collect()
        require(after.toSeq == rows.toSeq,
          "pipe_sql_add_column: compaction changed the table contents")
        local
      }
    }),

    // SQL ALTER TABLE DROP COLUMN — the inverse evolution, same
    // O(1) metadata cost: the DROPCOL commit makes readers stop
    // serving the column immediately (bytes wait for the next
    // compaction), time travel below the ALTER still sees it, INSERTs
    // after the drop write the narrowed schema, and RE-ADDING the
    // dropped name refuses until compaction physically removes the
    // old bytes (otherwise the reader would resurrect stale values) —
    // then succeeds (witnessed). Oracle replays the lifecycle: the
    // projection without the dropped column plus the post-drop
    // inserts.
    "pipe_sql_drop_column" -> ((s, dir) => {
      graft.sources.GraftSession.stagedCatalog(s, "graft_vdropc_") { (tmp, s2) =>
        s2.sql(s"""CREATE TABLE graftcat.docs AS
                     SELECT doc_id, lang, n_chars,
                            n_chars * 3L AS scratch
                     FROM ${graft.queries.QueryModule.srcView(s2, dir, "documents")}""")
        val table = tmp.resolve("docs")
        s2.sql("ALTER TABLE graftcat.docs DROP COLUMN scratch")
        require(VersionedTable.snapshot(table, 2L).columnMappings ==
            Seq(("dropcol", "scratch", "")),
          "pipe_sql_drop_column: the ALTER must land as one metadata-" +
            "only DROPCOL commit")
        require(!s2.sql("SELECT * FROM graftcat.docs")
            .schema.fieldNames.contains("scratch"),
          "pipe_sql_drop_column: the column must vanish immediately")
        require(s2.sql("SELECT * FROM graftcat.docs VERSION AS OF 1")
            .schema.fieldNames.contains("scratch"),
          "pipe_sql_drop_column: time travel below the ALTER must " +
            "still see the column")
        s2.sql(s"""INSERT INTO graftcat.docs
                     SELECT doc_id + 8796093022208L AS doc_id, lang,
                            n_chars
                     FROM ${graft.queries.QueryModule.srcView(s2, dir, "documents")}
                     WHERE doc_id % 8 = 1""")
        // Re-adding the dropped name refuses while old bytes live…
        require(scala.util.Try(s2.sql(
            "ALTER TABLE graftcat.docs ADD COLUMN scratch BIGINT"))
            .isFailure,
          "pipe_sql_drop_column: re-adding a dropped name must refuse " +
            "before compaction (stale-byte resurrection)")
        val out = s2.sql("SELECT doc_id, lang, n_chars " +
          "FROM graftcat.docs ORDER BY doc_id")
        val local = graft.sources.GraftSession.materialize(s, out)
        val rows = local.collect()
        // …and succeeds once compaction physically drops them.
        s2.sql("CALL graftcat.compact('docs', 'doc_id', 4)")
        require(VersionedTable.snapshot(table,
            VersionedTable.latestVersion(table).get).columnMappings.isEmpty,
          "pipe_sql_drop_column: compaction must retire the mapping")
        s2.sql("ALTER TABLE graftcat.docs ADD COLUMN scratch BIGINT")
        require(s2.sql("SELECT count(*) AS n FROM graftcat.docs " +
            "WHERE scratch IS NULL").head().getLong(0) == rows.length,
          "pipe_sql_drop_column: the re-added column must be all-NULL " +
            "(no stale bytes resurrected)")
        local
      }
    }),

    // SQL STORED PROCEDURES — table maintenance from CALL — the
    // protocol's lifecycle verbs as plain SQL (Spark 4 ProcedureCatalog,
    // the Iceberg-procedures shape): stage a table carrying real debt
    // (a deletion vector from a SQL DELETE, a CHECK constraint, 32
    // ingest-fragmented files), then run the whole maintenance cycle
    // without touching the library API — `CALL graftcat.compact(...)`
    // folds the DV into right-sized re-clustered files and CARRIES the
    // constraint (witnessed), `CALL graftcat.tag(...)` pins the clean
    // snapshot, `CALL graftcat.expire(...)` vacuums the fragmented
    // history (witnessed: files and manifests reclaimed, the expired
    // version unreadable, the tag still serving). Each CALL returns
    // its witness rows through a LocalScan, inspectable in SQL. The
    // oracle proves the full cycle content-lossless: the final table
    // is exactly base minus the deleted keys.
    "pipe_sql_maintain" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.stagedCatalog(s, "graft_vmaint_") { (tmp, s2) =>
        val table = tmp.resolve("docs")
        VersionedTable.commit(s, table, 0L,
          Tables.documents(s, dir).select($"doc_id", $"lang", $"n_chars")
            .repartition(32))
        VersionedTable.constraintCommit(s, table, 1L, "n_chars >= 0")
        s2.sql("DELETE FROM graftcat.docs WHERE doc_id IN (3, 17)")
        val res = s2.sql("CALL graftcat.compact('docs', 'doc_id', 4)")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        require(res("version") == 3L && res("files") <= 4L,
          s"pipe_sql_maintain: CALL compact must report v3 with <= 4 " +
            s"files, got $res")
        require(VersionedTable.deletionVectors(table, 3L).isEmpty &&
            VersionedTable.checkConstraints(table, 3L)
              == Seq("n_chars >= 0"),
          "pipe_sql_maintain: compaction must fold the DV and carry " +
            "the CHECK")
        s2.sql("CALL graftcat.tag('docs', 'release', 3)")
        val exp = s2.sql("CALL graftcat.expire('docs', 3)")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        require(exp("files_deleted") > 0L && exp("versions_expired") >= 3L,
          s"pipe_sql_maintain: the vacuum must reclaim the fragmented " +
            s"pre-compaction files and manifests, got $exp")
        val nDocs = Tables.documents(s, dir).count()
        require(VersionedTable.readRef(s, table, "release").count()
            == nDocs - 2L,
          "pipe_sql_maintain: the release tag must read the compacted " +
            s"snapshot ($nDocs - 2 deleted) after the vacuum")
        require(scala.util.Try(
            VersionedTable.read(s, table, Some(0L))).isFailure,
          "pipe_sql_maintain: the expired fragmented version must be " +
            "unreadable after the vacuum")
        val out = s2.sql(
          "SELECT doc_id, lang, n_chars FROM graftcat.docs ORDER BY doc_id")
        out
      }
    }),

    "pipe_commit_conflict" -> ((s, dir) => {
      import s.implicits._
      graft.sources.GraftSession.staged(s, "graft_vocc_") { tmp =>
        val table = tmp.resolve("table")
        val docs = docCols(s, dir)
        VersionedTable.commit(s, table, 0L, docs)
        def clones(m: Long, shift: Long, bump: Long) =
          Tables.documents(s, dir).where($"doc_id" % 11 === m)
            .selectExpr(s"doc_id + ${shift}L AS doc_id", "lang",
              s"n_chars + ${bump}L AS n_chars")
        // Writer A (append, batch %11==5) loses its first race to
        // writer B (batch %11==7), injected at the seam between A's
        // version resolution and A's publish link.
        var bDone = false
        val a = VersionedTable.appendCommit(s, table,
          clones(5, 4398046511104L, 1L),
          beforeAttempt = { target =>
            if (!bDone) {
              bDone = true
              VersionedTable.commit(s, table, target,
                clones(7, 8796093022208L, 2L),
                carried = VersionedTable.manifest(table, target - 1))
            }
          })
        require(a.conflicts == 1 && a.version == 2L,
          s"pipe_commit_conflict: append expected 1 lost race landing " +
            s"v2, got ${a.conflicts} conflicts at v${a.version}")
        val v1Files = VersionedTable.manifest(table, 1L).toSet
        require(v1Files.subsetOf(VersionedTable.manifest(table, 2L).toSet),
          "pipe_commit_conflict: the rebased append must carry the " +
            "winner's v1 file list verbatim")
        // Writer C (merge) loses its first race to writer D's append
        // (batch %11==9) and must recompute over the D-bearing
        // snapshot — v4 updates D's rows too.
        var dDone = false
        val c = VersionedTable.transact(s, table,
          op = snap => snap.selectExpr("doc_id", "lang",
            "CASE WHEN doc_id % 5 = 0 THEN n_chars + 7 ELSE n_chars END " +
              "AS n_chars"),
          beforeAttempt = { target =>
            if (!dDone) {
              dDone = true
              VersionedTable.commit(s, table, target,
                clones(9, 17592186044416L, 3L),
                carried = VersionedTable.manifest(table, target - 1))
            }
          })
        require(c.conflicts == 1 && c.version == 4L,
          s"pipe_commit_conflict: merge expected 1 lost race landing " +
            s"v4, got ${c.conflicts} conflicts at v${c.version}")
        require(VersionedTable.versions(table) == Seq(0L, 1L, 2L, 3L, 4L),
          "pipe_commit_conflict: history must read 0..4 — a lost " +
            "attempt leaked a manifest or a commit vanished")
        val out = (0L to 4L).map { v =>
          VersionedTable.read(s, table, Some(v))
            .selectExpr("lang", "n_chars",
              "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':', " +
                "CAST(n_chars AS STRING))), 1, 15), 16, 10) AS BIGINT) AS h")
            .agg(count(lit(1)).as("n_rows"),
              sum($"n_chars").as("sum_chars"),
              countDistinct($"lang").as("n_langs"),
              expr("bit_xor(h)").as("content_sig"))
            .select(lit(v).as("version"), $"n_rows", $"sum_chars",
              $"n_langs", $"content_sig")
        }.reduce(_ unionAll _).orderBy("version")
        out
      }
    })
  )

  override def oracles: Map[String, String] = Map(

    // The two schemas replayed as an explicit union with a typed NULL
    // — what the mergeSchema read materializes implicitly (same form
    // as pipe_schema_evolve's oracle; here the split is the commit
    // boundary).
    "pipe_schema_commit" ->
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

    // The U/D sets reconstructed explicitly: deletes are doc_id<64 %10==3,
    // updates the rest of doc_id<64 with +1000 chars; no inserts.
    "pipe_cdf" ->
      """SELECT doc_id, 'D' AS op,
        |  CAST(n_chars AS BIGINT) AS old_n_chars,
        |  CAST(NULL AS BIGINT) AS new_n_chars
        |FROM documents WHERE doc_id < 64 AND doc_id % 10 = 3
        |UNION ALL
        |SELECT doc_id, 'U', CAST(n_chars AS BIGINT),
        |  CAST(n_chars + 1000 AS BIGINT)
        |FROM documents WHERE doc_id < 64 AND doc_id % 10 <> 3
        |ORDER BY doc_id""".stripMargin,

    // Same content digest as pipe_compact_files: compaction-as-commit
    // plus vacuum must be exactly as lossless as the raw rewrite.
    "pipe_compact_commit" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  bit_xor(('0x' || substr(md5(text), 1, 15))::BIGINT) AS content_sig
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    // Each committed version reconstructed EXPLICITLY from the fixture
    // (v0 = base; v1 = the pipe_cdc_apply batch applied; v2 = v1 plus
    // the +2^41 append), so the driver proves every snapshot the
    // manifests claim — same per-row digest as pipe_cdc_roundtrip.
    "pipe_table_commit" ->
      """WITH v1 AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 7 = 1 THEN n_chars + 1000 ELSE n_chars END
        |      AS n_chars
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1099511627776, lang, n_chars
        |  FROM documents WHERE doc_id % 7 = 2),
        |v2 AS (
        |  SELECT * FROM v1
        |  UNION ALL
        |  SELECT doc_id + 2199023255552, lang, n_chars + 5
        |  FROM documents WHERE doc_id % 7 = 3)
        |SELECT CAST(0 AS BIGINT) AS version,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |    CAST(n_chars AS VARCHAR)), 1, 15))::BIGINT) AS content_sig
        |FROM documents
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT), CAST(count(DISTINCT lang) AS BIGINT),
        |  bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |    CAST(n_chars AS VARCHAR)), 1, 15))::BIGINT)
        |FROM v1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT), CAST(count(DISTINCT lang) AS BIGINT),
        |  bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |    CAST(n_chars AS VARCHAR)), 1, 15))::BIGINT)
        |FROM v2
        |ORDER BY version""".stripMargin,

    // File skipping must not change results: full-row equality with
    // the plainly filtered table.
    "pipe_manifest_skip" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
        |  CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents
        |WHERE doc_id BETWEEN 10 AND 40
        |ORDER BY doc_id""".stripMargin,

    // The identical plants + the identical first-failure routing CASE,
    // aggregated per sink.
    "pipe_quarantine" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber, l_quantity,
        |                   l_discount, l_returnflag FROM lineitem),
        |input AS (
        |  SELECT * FROM li
        |  UNION ALL
        |  SELECT l_orderkey + 4398046511104, l_linenumber, -1.0,
        |         l_discount, l_returnflag
        |  FROM li WHERE l_orderkey % 97 = 0
        |  UNION ALL
        |  SELECT l_orderkey + 4398046511104, l_linenumber, l_quantity,
        |         1.5, l_returnflag
        |  FROM li WHERE l_orderkey % 97 = 1
        |  UNION ALL
        |  SELECT l_orderkey + 4398046511104, l_linenumber, l_quantity,
        |         l_discount, 'X'
        |  FROM li WHERE l_orderkey % 97 = 2),
        |routed AS (
        |  SELECT *,
        |    CASE WHEN l_quantity IS NULL OR l_quantity <= 0
        |           THEN 'bad_quantity'
        |         WHEN l_discount NOT BETWEEN 0 AND 1
        |           THEN 'bad_discount'
        |         WHEN l_returnflag NOT IN ('A', 'N', 'R')
        |           THEN 'bad_flag'
        |         ELSE 'ok' END AS reason
        |  FROM input)
        |SELECT reason, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_qty
        |FROM routed
        |GROUP BY reason
        |ORDER BY reason""".stripMargin,

    // Progressive deletion replayed: v1 drops %9==4, v2 additionally
    // %9==7, v3 ≡ v2 (compaction is content-lossless); v0 intact.
    "pipe_delete_dv" ->
      """WITH sig AS (
        |  SELECT 0 AS version, doc_id, n_chars FROM documents
        |  UNION ALL
        |  SELECT 1, doc_id, n_chars FROM documents WHERE doc_id % 9 <> 4
        |  UNION ALL
        |  SELECT 2, doc_id, n_chars FROM documents
        |  WHERE doc_id % 9 <> 4 AND doc_id % 9 <> 7
        |  UNION ALL
        |  SELECT 3, doc_id, n_chars FROM documents
        |  WHERE doc_id % 9 <> 4 AND doc_id % 9 <> 7)
        |SELECT CAST(version AS BIGINT) AS version,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |    CAST(n_chars AS VARCHAR)), 1, 15))::BIGINT) AS content_sig
        |FROM sig
        |GROUP BY version
        |ORDER BY version""".stripMargin,

    // The pruned range read over live DVs, reconstructed: survivors of
    // the %9==4 delete inside [10,40], plus the re-inserted doc 13
    // (+1000 chars) whose new file postdates the DV's origin scope.
    "pipe_dv_skip" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id BETWEEN 10 AND 40 AND doc_id % 9 <> 4
        |UNION ALL
        |SELECT doc_id, lang, n_chars + 1000 FROM documents
        |WHERE doc_id = 13
        |ORDER BY doc_id""".stripMargin,

    // The two merges replayed relationally: merge 1 = base minus
    // matched keys plus updates+inserts; merge 2 = that state minus
    // the re-updated keys plus their second-generation rows (values
    // derived from the ORIGINAL fixture, exactly as the query builds
    // its update batches).
    "pipe_merge_commit" ->
      """WITH u1 AS (
        |  SELECT doc_id, lang, n_chars + 7000 AS n_chars FROM documents
        |  WHERE doc_id % 6 = 2
        |  UNION ALL
        |  SELECT doc_id + 2199023255552, lang, n_chars FROM documents
        |  WHERE doc_id % 11 = 5),
        |t1 AS (
        |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 6 <> 2
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars FROM u1),
        |u2 AS (
        |  SELECT doc_id, lang, n_chars + 9000 AS n_chars FROM documents
        |  WHERE doc_id % 12 = 2)
        |SELECT doc_id, lang, n_chars FROM t1
        |WHERE doc_id NOT IN (SELECT doc_id FROM u2)
        |UNION ALL
        |SELECT doc_id, lang, n_chars FROM u2
        |ORDER BY doc_id""".stripMargin,

    // The 2-D box replayed relationally, box bounds derived the same
    // way (integer division of per-dim maxima).
    "pipe_zorder_skip" ->
      """WITH b AS (SELECT max(doc_id) // 4 AS dlo, max(doc_id) // 2 AS dhi,
        |  max(n_chars) // 4 AS nlo, max(n_chars) // 2 AS nhi
        |  FROM documents)
        |SELECT doc_id, lang, n_chars FROM documents, b
        |WHERE doc_id BETWEEN dlo AND dhi AND n_chars BETWEEN nlo AND nhi
        |ORDER BY doc_id""".stripMargin,

    // The bootstrap plus both V2 appends is just … the whole table.
    "pipe_v2_write" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,

    // Both SQL time-travel reads replayed: v0 = everything in range,
    // latest = survivors of the %9==4 delete.
    "pipe_sql_time_travel" ->
      """SELECT CAST(0 AS BIGINT) AS version, doc_id, lang, n_chars
        |FROM documents WHERE doc_id BETWEEN 10 AND 40
        |UNION ALL
        |SELECT 1, doc_id, lang, n_chars FROM documents
        |WHERE doc_id BETWEEN 10 AND 40 AND doc_id % 9 <> 4
        |ORDER BY version, doc_id""".stripMargin,

    // Same staging as pipe_dv_skip, so the same reconstruction — the
    // deliverable is that these rows now arrive through the V2
    // connector's pushed-down, scan-level merge-on-read path.
    "pipe_table_scan" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id BETWEEN 10 AND 40 AND doc_id % 9 <> 4
        |UNION ALL
        |SELECT doc_id, lang, n_chars + 1000 FROM documents
        |WHERE doc_id = 13
        |ORDER BY doc_id""".stripMargin,

    // The stats-driven broadcast join replayed relationally: fact rows
    // under 60 joined to the per-lang dimension.
    "pipe_table_join" ->
      """SELECT d.doc_id, d.lang, d.n_chars, x.lang_docs
        |FROM documents d
        |JOIN (SELECT lang, CAST(count(*) AS BIGINT) AS lang_docs
        |      FROM documents GROUP BY lang) x ON d.lang = x.lang
        |WHERE d.doc_id < 60
        |ORDER BY d.doc_id""".stripMargin,

    // The hidden-partitioning day slice replayed relationally:
    // 2024-01-10 in epoch micros (19732 * 86400000000).
    "pipe_partition_hidden" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, event_type
        |FROM events
        |WHERE epoch_us(ts)
        |  BETWEEN 1704844800000000 AND 1704931199999999
        |ORDER BY event_id""".stripMargin,

    // The truncate(100, doc_id) range slice replayed relationally.
    "pipe_partition_truncate" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
        |  CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id BETWEEN 100 AND 199
        |ORDER BY doc_id""".stripMargin,

    // The storage-partitioned join replayed relationally: fact rows
    // under 80 joined to the per-lang dimension.
    "pipe_table_spj" ->
      """SELECT d.doc_id, d.lang, d.n_chars, x.lang_docs
        |FROM documents d
        |JOIN (SELECT lang, CAST(count(*) AS BIGINT) AS lang_docs
        |      FROM documents GROUP BY lang) x ON d.lang = x.lang
        |WHERE d.doc_id < 80
        |ORDER BY d.doc_id""".stripMargin,

    // The day-partitioned raw-timestamp join replayed relationally:
    // every third event joined to the per-instant event count.
    "pipe_table_spj_days" ->
      """SELECT f.event_id, epoch_us(f.ts) AS ts_us, x.n_at_ts
        |FROM events f
        |JOIN (SELECT epoch_us(ts) AS ts_us,
        |             CAST(count(*) AS BIGINT) AS n_at_ts
        |      FROM events GROUP BY 1) x ON epoch_us(f.ts) = x.ts_us
        |WHERE f.event_id % 3 = 0
        |ORDER BY f.event_id""".stripMargin,

    // The timestamp-partitioned day slice replayed relationally.
    "pipe_table_timestamp" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, event_type
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-11 00:00:00'
        |ORDER BY event_id""".stripMargin,

    // The three bloom-pruned point lookups, replayed plainly.
    "pipe_point_skip" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id IN (13, 137, 399)
        |ORDER BY doc_id""".stripMargin,

    // The lang ∈ {en, fr} partitions of both commits — base rows plus
    // the partitioned append's clones.
    "pipe_partition_commit" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang IN ('en', 'fr')
        |UNION ALL
        |SELECT doc_id + 2199023255552, lang, n_chars + 5 FROM documents
        |WHERE doc_id % 5 = 0 AND lang IN ('en', 'fr')
        |ORDER BY doc_id""".stripMargin,

    // The same reconstruction as pipe_partition_commit — these rows
    // now arrive through the connector's pushed path-segment pruning.
    "pipe_table_part_scan" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang IN ('en', 'fr')
        |UNION ALL
        |SELECT doc_id + 2199023255552, lang, n_chars + 5 FROM documents
        |WHERE doc_id % 5 = 0 AND lang IN ('en', 'fr')
        |ORDER BY doc_id""".stripMargin,

    // The double filter replayed plainly — partition and range
    // predicates over the base table.
    "pipe_partition_stats" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang IN ('en', 'fr') AND doc_id BETWEEN 10 AND 60
        |ORDER BY doc_id""".stripMargin,

    // The multi-column layout round-trips content-losslessly, both
    // partition columns re-attached from the nested path segments.
    "pipe_partition_multi" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
        |  CAST(doc_id % 3 AS VARCHAR) AS shard,
        |  CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // Both schema generations under the evolved names/types: legacy
    // rows (committed as len INT, read as n_chars BIGINT) plus the
    // post-widening append whose values exceed INT range.
    "pipe_schema_rename" ->
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents
        |UNION ALL
        |SELECT doc_id + 2199023255552, lang, n_chars + 4294967296
        |FROM documents WHERE doc_id % 7 = 3
        |ORDER BY doc_id""".stripMargin,

    // What the manifests must say, derived from the fixture: v0 = 8
    // range-clustered files spanning the full doc_id range; v1 adds
    // the 2 append files whose clones extend the max, carrying v0's
    // stats verbatim (so the v1 min is still the base min). The
    // crashed v2 must not appear.
    "pipe_table_history" ->
      """SELECT CAST(0 AS BIGINT) AS version, CAST(8 AS BIGINT) AS n_files,
        |  min(doc_id) AS global_mn, max(doc_id) AS global_mx
        |FROM documents
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), CAST(10 AS BIGINT),
        |  (SELECT min(doc_id) FROM documents),
        |  (SELECT max(doc_id + 2199023255552) FROM documents
        |   WHERE doc_id % 5 = 0)
        |ORDER BY version""".stripMargin,

    // The serial schedule the optimistic writers must be equivalent
    // to — B's append, A's rebased append, D's append, then C's merge
    // recomputed over the D-bearing snapshot — every intermediate
    // version digested, so the driver proves the conflict resolutions
    // (re-carry for appends, re-run for merges) content-exact.
    "pipe_commit_conflict" ->
      """WITH v1 AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 8796093022208, lang, n_chars + 2
        |  FROM documents WHERE doc_id % 11 = 7),
        |v2 AS (
        |  SELECT * FROM v1
        |  UNION ALL
        |  SELECT doc_id + 4398046511104, lang, n_chars + 1
        |  FROM documents WHERE doc_id % 11 = 5),
        |v3 AS (
        |  SELECT * FROM v2
        |  UNION ALL
        |  SELECT doc_id + 17592186044416, lang, n_chars + 3
        |  FROM documents WHERE doc_id % 11 = 9),
        |v4 AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 5 = 0 THEN n_chars + 7 ELSE n_chars END
        |      AS n_chars
        |  FROM v3),
        |sig AS (
        |  SELECT 0 AS version, doc_id, lang, n_chars FROM documents
        |  UNION ALL SELECT 1, doc_id, lang, n_chars FROM v1
        |  UNION ALL SELECT 2, doc_id, lang, n_chars FROM v2
        |  UNION ALL SELECT 3, doc_id, lang, n_chars FROM v3
        |  UNION ALL SELECT 4, doc_id, lang, n_chars FROM v4)
        |SELECT CAST(version AS BIGINT) AS version,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |    CAST(n_chars AS VARCHAR)), 1, 15))::BIGINT) AS content_sig
        |FROM sig
        |GROUP BY version
        |ORDER BY version""".stripMargin,

    // The v1 snapshot at full row fidelity — the exact table a
    // time-travel read at version 1 must return after v2 is live.
    "pipe_time_travel" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
        |  CAST(n_chars AS BIGINT) AS n_chars
        |FROM (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 7 = 1 THEN n_chars + 1000 ELSE n_chars END
        |      AS n_chars
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1099511627776, lang, n_chars
        |  FROM documents WHERE doc_id % 7 = 2)
        |ORDER BY doc_id""".stripMargin,

    // Metadata-answered aggregates must EQUAL the relational ones —
    // grouped count per lang, plus the global count/min/max on every
    // row (the Spark side serves them from manifest ROWS/zonemap lines
    // without opening a data file; equality here is what makes that
    // safe).
    "pipe_meta_agg" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST((SELECT count(*) FROM documents) AS BIGINT) AS total_rows,
        |  CAST((SELECT min(doc_id) FROM documents) AS BIGINT) AS min_id,
        |  CAST((SELECT max(doc_id) FROM documents) AS BIGINT) AS max_id
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    // Each ref's snapshot replayed relationally: base = doc_id%5<3;
    // exp appends the %5=3 clones (+2^40 ids), main the %5=4 clones
    // (+2^41), release pins base — same per-row digest as
    // pipe_table_commit.
    "pipe_table_branch" ->
      """WITH base AS (
        |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 5 < 3),
        |exp AS (
        |  SELECT * FROM base
        |  UNION ALL
        |  SELECT doc_id + 1099511627776, lang, n_chars
        |  FROM documents WHERE doc_id % 5 = 3),
        |main AS (
        |  SELECT * FROM base
        |  UNION ALL
        |  SELECT doc_id + 2199023255552, lang, n_chars
        |  FROM documents WHERE doc_id % 5 = 4),
        |refs AS (
        |  SELECT 'exp' AS ref, doc_id, lang, n_chars FROM exp
        |  UNION ALL SELECT 'main', doc_id, lang, n_chars FROM main
        |  UNION ALL SELECT 'release', doc_id, lang, n_chars FROM base)
        |SELECT ref, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |    CAST(n_chars AS VARCHAR)), 1, 15))::BIGINT) AS content_sig
        |FROM refs
        |GROUP BY ref
        |ORDER BY ref""".stripMargin,

    // The constrained table: base + the clean append only — the
    // refused batch must have left no trace.
    "pipe_commit_constraint" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
        |  CAST(n_chars AS BIGINT) AS n_chars
        |FROM (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1099511627776, lang, n_chars
        |  FROM documents WHERE doc_id % 7 = 3)
        |ORDER BY doc_id""".stripMargin,

    // Each SQL-addressed ref's snapshot replayed relationally: exp =
    // base + %7=1 clones (+2^40), main = base + %7=2 clones (+2^41),
    // the v0 tag pins base.
    "pipe_sql_branch" ->
      """WITH exp AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1099511627776, lang, n_chars
        |  FROM documents WHERE doc_id % 7 = 1),
        |main AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2199023255552, lang, n_chars
        |  FROM documents WHERE doc_id % 7 = 2),
        |refs AS (
        |  SELECT 'exp' AS ref, doc_id, lang, n_chars FROM exp
        |  UNION ALL SELECT 'main', doc_id, lang, n_chars FROM main
        |  UNION ALL SELECT 'v0', doc_id, lang, n_chars FROM documents)
        |SELECT ref, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |    CAST(n_chars AS VARCHAR)), 1, 15))::BIGINT) AS content_sig
        |FROM refs
        |GROUP BY ref
        |ORDER BY ref""".stripMargin,

    // After the promote: main = base + its own %7=2 clones + exp's
    // %7=1 clones; exp = base + its %7=1 clones only (untouched by
    // the promote).
    "pipe_branch_promote" ->
      """WITH expadd AS (
        |  SELECT doc_id + 1099511627776 AS doc_id, lang, n_chars
        |  FROM documents WHERE doc_id % 7 = 1),
        |exp AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  UNION ALL SELECT * FROM expadd),
        |fix AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 9 = 0 THEN n_chars + 500
        |         ELSE n_chars END AS n_chars
        |  FROM documents),
        |main AS (
        |  SELECT doc_id, lang, n_chars FROM fix
        |  UNION ALL
        |  SELECT doc_id + 2199023255552, lang, n_chars
        |  FROM documents WHERE doc_id % 7 = 2
        |  UNION ALL SELECT * FROM expadd),
        |refs AS (
        |  SELECT 'exp' AS ref, doc_id, lang, n_chars FROM exp
        |  UNION ALL SELECT 'fix', doc_id, lang, n_chars FROM fix
        |  UNION ALL SELECT 'main', doc_id, lang, n_chars FROM main)
        |SELECT ref, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |    CAST(n_chars AS VARCHAR)), 1, 15))::BIGINT) AS content_sig
        |FROM refs
        |GROUP BY ref
        |ORDER BY ref""".stripMargin,

    // The maintenance cycle must be content-lossless: the final table
    // is exactly base minus the two SQL-deleted keys.
    "pipe_sql_maintain" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
        |  CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents
        |WHERE doc_id NOT IN (3, 17)
        |ORDER BY doc_id""".stripMargin,

    // The SQL DML triple applied relationally: base minus the three
    // DV-deleted keys, plus the two inserted clones (selected from the
    // PRE-delete snapshot — doc_id 1 and 2 survive the delete anyway),
    // minus the rewrite DELETE's predicate rows (odd n_chars under
    // doc_id 50; the clones' ids are far above 50).
    "pipe_sql_dml" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
        |  CAST(n_chars AS BIGINT) AS n_chars
        |FROM (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  WHERE doc_id NOT IN (3, 17, 41)
        |  UNION ALL
        |  SELECT doc_id + 2199023255552, lang, n_chars
        |  FROM documents WHERE doc_id IN (1, 2))
        |WHERE NOT (n_chars % 2 = 1 AND doc_id < 50)
        |ORDER BY doc_id""".stripMargin,

    // The copy-on-write update applied relationally, full-row: the
    // partial rewrite must change exactly the predicate's rows and
    // nothing else.
    "pipe_update_commit" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
        |  CAST(CASE WHEN doc_id BETWEEN 10 AND 40
        |       THEN n_chars + 100000 ELSE n_chars END AS BIGINT) AS n_chars
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // The literal SQL UPDATE statement — same semantics, same oracle
    // shape as the library verb (pipe_update_commit): one commit,
    // exactly the predicate's rows changed.
    "pipe_sql_update" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
        |  CAST(CASE WHEN doc_id BETWEEN 10 AND 40
        |       THEN n_chars + 100000 ELSE n_chars END AS BIGINT) AS n_chars
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // The DDL lifecycle is content-preserving: CTAS + rename + compact
    // serve exactly the source projection under the new column name.
    "pipe_sql_ddl" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
        |  CAST(n_chars AS BIGINT) AS chars
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // DROP COLUMN replayed relationally: the projection without the
    // dropped column plus the post-drop inserts.
    "pipe_sql_drop_column" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
        |  CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents
        |UNION ALL
        |SELECT CAST(doc_id + 8796093022208 AS BIGINT), lang,
        |  CAST(n_chars AS BIGINT)
        |FROM documents WHERE doc_id % 8 = 1
        |ORDER BY doc_id""".stripMargin,

    // The partitioned lifecycle replayed relationally: every document
    // row, flagged by membership in the CTAS's doc_id%5 slice.
    "pipe_sql_partitioned" ->
      """SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang,
        |  CAST(d.n_chars AS BIGINT) AS n_chars,
        |  CAST(CASE WHEN d.doc_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS in_ctas
        |FROM documents d
        |ORDER BY d.doc_id""".stripMargin,

    // The exact profile the ANALYZE statistics approximate (the ±10%
    // envelope gate runs in-path; the oracle pins the exact truth).
    "pipe_table_analyze" ->
      """SELECT CAST(count(DISTINCT lang) AS BIGINT) AS d_lang,
        |  CAST(count(DISTINCT source) AS BIGINT) AS d_source,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS d_doc,
        |  CAST(count(DISTINCT CASE WHEN doc_id % 7 = 0 THEN NULL
        |       ELSE lang END) AS BIGINT) AS d_maybe,
        |  CAST(count(CASE WHEN doc_id % 7 = 0 THEN 1 END) AS BIGINT)
        |    AS n_null
        |FROM documents""".stripMargin,

    // The SQL-defined MV, refreshed from its stored definition, must
    // equal the exact GROUP BY over everything the base ingested.
    "pipe_sql_mv" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // The incremental MV must be indistinguishable from the full
    // recompute: the exact GROUP BY over everything the base appended.
    "pipe_mv_refresh" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // The DV-refreshed MV must equal the exact GROUP BY over
    // (ingested) minus (deleted): clones appended, the doc_id%7=3
    // slice deleted, the minimum lang deleted entirely (its group must
    // be ABSENT, which the relational replay produces naturally).
    "pipe_mv_delete" ->
      """WITH full_set AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang, n_chars FROM documents
        |  WHERE doc_id % 10 = 0)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM full_set
        |WHERE doc_id % 7 <> 3
        |  AND lang <> (SELECT min(lang) FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // The avg MV replayed relationally over ingested-minus-deleted,
    // with the avg computed as the SAME sum/count fold the serve face
    // applies (bit-exact double division on both sides).
    "pipe_mv_avg" ->
      """WITH full_set AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang, n_chars FROM documents
        |  WHERE doc_id % 10 = 0)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(CAST(sum(n_chars) AS DOUBLE) / count(n_chars) AS DOUBLE)
        |    AS avg_chars
        |FROM full_set
        |WHERE doc_id % 7 <> 3
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // The min/max MV replayed relationally over base + clones.
    // Ingested-minus-deleted: the DV delete below the min/max MV
    // folds/repairs instead of refusing, so the oracle replays the
    // extrema over the surviving rows.
    "pipe_mv_minmax" ->
      """WITH full_set AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang,
        |    CASE WHEN doc_id % 20 = 0 THEN n_chars * 2 ELSE 1 END
        |      AS n_chars
        |  FROM documents WHERE doc_id % 10 = 0)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars
        |FROM full_set
        |WHERE NOT (doc_id % 20 = 0 OR doc_id % 13 = 4)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // Partition-scoped compaction is content-preserving maintenance:
    // the post-CALL rollup must equal the exact fixture GROUP BY.
    "pipe_partition_compact" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // The $partitions metadata table replayed relationally: per-lang
    // row counts folded from ROWS manifest lines must equal the exact
    // GROUP BY over the fixture rows the two commits ingested.
    "pipe_table_meta" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS row_count
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    // Partition-spec evolution replayed relationally: the two insert
    // batches, whichever layout generation their files landed under —
    // the layouts are a physical concern the logical result must be
    // invariant to.
    "pipe_partition_evolve" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, source,
        |  CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents
        |WHERE doc_id % 3 = 0 OR doc_id % 3 = 1
        |ORDER BY doc_id""".stripMargin,

    // ADD COLUMN replayed relationally: the base projection carries a
    // typed NULL for the added column, the inserted clones carry real
    // values — exactly what the mapped read (and the compaction that
    // materializes it) must serve.
    "pipe_sql_add_column" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
        |  CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST(NULL AS BIGINT) AS quality
        |FROM documents
        |UNION ALL
        |SELECT CAST(doc_id + 4398046511104 AS BIGINT), lang,
        |  CAST(n_chars AS BIGINT), CAST(n_chars * 2 AS BIGINT)
        |FROM documents WHERE doc_id % 9 = 4
        |ORDER BY doc_id""".stripMargin,

    // The literal MERGE INTO replayed relationally — the single-round
    // shape of pipe_merge_commit's oracle: matched rows take the
    // source's n_chars, unmatched source rows insert.
    "pipe_sql_merge" ->
      """WITH u1 AS (
        |  SELECT doc_id, lang, n_chars + 7000 AS n_chars FROM documents
        |  WHERE doc_id % 6 = 2
        |  UNION ALL
        |  SELECT doc_id + 2199023255552, lang, n_chars FROM documents
        |  WHERE doc_id % 11 = 5)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
        |  CAST(n_chars AS BIGINT) AS n_chars
        |FROM (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  WHERE doc_id % 6 <> 2
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars FROM u1)
        |ORDER BY doc_id""".stripMargin,

    // The snapshot-sync MERGE replayed relationally: the post-merge
    // table IS the source snapshot (matched updates + inserts, with
    // every source-absent row deleted).
    "pipe_sql_merge_sync" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
        |  CAST(n_chars + 1000 AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id % 3 = 0
        |UNION ALL
        |SELECT CAST(doc_id + 2199023255552 AS BIGINT), lang,
        |  CAST(n_chars AS BIGINT)
        |FROM documents WHERE doc_id % 11 = 5
        |ORDER BY doc_id""".stripMargin
  )
}
