package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Expected (row count, [[RowHash]]) per named query over the fixture,
  * read from `pins.tsv` in the benchmark directory. */
object Pins {
  @volatile var path: Option[Path] = None

  lazy val all: Map[String, (Long, String)] = path.filter(Files.exists(_)).map { p =>
    Files.readAllLines(p).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split('\t')).map(f => f(0) -> (f(1).toLong, f(2))).toMap
  }.getOrElse(Map.empty)
}

/** The engine's own bench traffic: read-only TPC-H, relational and text
  * queries and a streaming drain, all through `SparkEntry.queries` over
  * the generated fixture. One pass is a drain sweep, the queries in a
  * seeded order, and a second drain sweep, so the slowdown between
  * sweeps in one JVM is a named number. Each result is checked against
  * its pin. */
final class QueryMix extends Workload {
  import QueryMix._

  private var dir: String = _
  /** (pass, drain sweep or 0 for a query, op) of every measured call. */
  private val calls = mutable.ArrayBuffer.empty[(Int, Int, OpRec)]

  /** One pass holds the list once and the drains twice; a second pass
    * would double the run for no new kind of sample. */
  override def minPasses: Int = 1

  def prepare(ctx: Ctx): Unit = {
    dir = ctx.work.resolve("fixture").toString
    Fixture.write(ctx.spark, dir, Sf)
  }

  def pass(ctx: Ctx, passNo: Int): Unit = {
    val queries = new scala.util.Random(ctx.seed * 7919L + passNo).shuffle(Queries)
    val sweep = if (ctx.smoke) Drains.take(1) else Drains
    val ops = sweep.map(n => (2 * passNo - 1, n)) ++
      (if (ctx.smoke) queries.take(1) else queries).map(n => (0, n)) ++
      sweep.map(n => (2 * passNo, n))
    for ((sweepNo, n) <- ops) {
      val (out, rec) = ctx.ledger.op(if (sweepNo > 0) "drain" else "query", n)(runOne(ctx.spark, n, dir))
      out.foreach { got =>
        val want = Pins.all.get(n)
        ctx.check(rec, want.contains(got), s"result $got, pinned ${want.getOrElse("nothing")}")
      }
      calls += ((passNo, sweepNo, rec))
      ctx.spark.catalog.clearCache()
    }
  }

  private def queryOps = calls.filter(_._2 == 0).map(_._3).toSeq
  private def drainOps(sweep: Int = 0) =
    calls.filter(c => c._2 > 0 && (sweep == 0 || c._2 == sweep)).map(_._3).toSeq
  private def secs(xs: Seq[OpRec]) = xs.map(_.wallNs / 1e9)

  def metrics(ctx: Ctx): Map[String, (Double, String)] = {
    val q = secs(queryOps)
    val byPass = calls.filter(_._2 == 0).groupBy(_._1).values.map(_.map(_._3.wallNs / 1e9).sum)
    Map(
      "query_total_s" -> (Stats.median(byPass.toSeq), "s"),
      "query_p50_s" -> (Stats.median(q), "s"),
      "query_p90_s" -> (Stats.quantile(q, 0.9), "s"),
      "drain_p50_s" -> (Stats.median(secs(drainOps())), "s"),
      "drain_sweep1_p50_s" -> (Stats.median(secs(drainOps(1))), "s"),
      "drain_sweep2_p50_s" -> (Stats.median(secs(drainOps(2))), "s"))
  }

  def layers(ctx: Ctx): Map[String, Double] = {
    val drains = drainOps()
    val batches = drains.flatMap(_.batches)
    def phase(p: String) = Stats.median(batches.map(_.phases.getOrElse(p, 0L).toDouble))
    val outside = drains.map(d => d.wallNs / 1e9 - d.batches.map(_.durMs).sum / 1e3)
    val (p1, p2) = (Stats.median(secs(drainOps(1))), Stats.median(secs(drainOps(2))))
    Map(
      "streaming.batches_per_drain" -> batches.size.toDouble / math.max(1, drains.size),
      "streaming.batch_p50_ms" -> Stats.median(batches.map(_.durMs.toDouble)),
      "streaming.add_batch_ms" -> phase("addBatch"),
      "streaming.wal_commit_ms" -> phase("walCommit"),
      "streaming.commit_offsets_ms" -> phase("commitOffsets"),
      "streaming.query_planning_ms" -> phase("queryPlanning"),
      "streaming.latest_offset_ms" -> phase("latestOffset"),
      "streaming.state_rows" -> batches.map(_.stateRows).sum.toDouble / math.max(1, batches.size),
      "streaming.state_commit_ms" -> Stats.median(batches.map(_.stateCommitMs.toDouble)),
      "streaming.outside_batches_s" -> Stats.median(outside),
      "streaming.pass1_p50_s" -> p1,
      "streaming.pass2_p50_s" -> p2,
      "streaming.pass2_over_pass1" -> p2 / p1)
  }
}

object QueryMix {
  /** Fixture scale factor (sf 1 = 6M line items). */
  val Sf = 0.02

  /** The heaviest queries of each family (TPC-H, relational, text), in
    * order of their `min` time in the engine's `BENCH_LOCAL.json` (sf
    * 0.1), until they cover 30% of that family's time: 11 of the 90
    * read-only queries, 35% of the list's time there. The whole list
    * takes about 75 s a pass on the fixture, more than a run can hold. */
  val Queries: Seq[String] = Seq(
    "tpch_q11", "tpch_q16", "tpch_q21", "tpch_q18",
    "rel_pagerank", "rel_source_roundtrip", "rel_triangles", "rel_incr_join",
    "txt_lm_score", "txt_bpe_train", "txt_heavy_hitters")

  /** The heaviest `ev_stream_*` drain in `BENCH_LOCAL.json`, and the one
    * that slows most between its sweeps there (6.0 s, then 9.8 s). */
  val Drains: Seq[String] = Seq("ev_stream_pipeline")

  /** Build, run and fingerprint one named query. */
  def runOne(spark: SparkSession, name: String, dir: String): (Long, String) = {
    val df = SparkEntry.queries(name)(spark, dir)
    RowHash.of(df.columns.toSeq, df.collect().toSeq)
  }
}
