package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

import graft.mr.{JobState, MapReduce, Stage, WordCountClient}

/** The paper's kernel on a seeded word corpus: `run`, `runCombined`,
  * `runSorted` and `startJob` (polled through `getJobState`) over two
  * key distributions. */
final class MrCorpus extends Workload {
  import Corpus._

  private val dists = Seq(Zipf, Uniform)
  private var inputs = Map.empty[Dist, Dataset[(Long, String)]]
  private var docs = 0
  private val words = 40
  /** First fingerprint seen per distribution; every later job must match. */
  private val expected = mutable.Map.empty[Dist, (Long, Long, Long)]
  private val pollLatUs = mutable.ArrayBuffer.empty[Double]
  private var regressions = 0
  val PollMs = 5L

  def tokens: Long = docs.toLong * words

  def prepare(ctx: Ctx): Unit = {
    docs = if (ctx.smoke) 2000 else 15000
    inputs = dists.map { d =>
      // Several input splits per core: map tasks then balance across
      // cores instead of every stage waiting on its slowest core.
      val ds = Corpus.docs(ctx.spark, ctx.seed, d, docs, words, 4 * ctx.cpus)
        .persist(StorageLevel.MEMORY_ONLY)
      ds.count()
      d -> ds
    }.toMap
    // One small job through each entry point so first-use costs
    // (encoders, codegen) land in set-up.
    import ctx.spark.implicits._
    val tiny = inputs(Zipf).limit(100)
    MrCorpus.fingerprint(MapReduce.run(tiny, WordCountClient))
    MrCorpus.fingerprint(MapReduce.runCombined(tiny, WordCountClient, (a: Long, b: Long) => a + b))
    MrCorpus.fingerprint(MapReduce.runSorted(tiny, WordCountClient))
  }

  def pass(ctx: Ctx, passNo: Int): Unit = {
    import ctx.spark.implicits._
    for (d <- dists) {
      val in = inputs(d)
      val jobs: Seq[(String, () => (Long, Long, Long))] = Seq(
        "mr.run" -> (() => MrCorpus.fingerprint(MapReduce.run(in, WordCountClient))),
        "mr.run_combined" -> (() => MrCorpus.fingerprint(
          MapReduce.runCombined(in, WordCountClient, (a: Long, b: Long) => a + b))),
        "mr.run_sorted" -> (() => MrCorpus.fingerprint(MapReduce.runSorted(in, WordCountClient))),
        "mr.start_job" -> (() => startAndPoll(ctx, in)))
      for ((kind, job) <- jobs) {
        val (out, rec) = ctx.ledger.op(kind, d.name)(job())
        out.foreach { fp =>
          ctx.check(rec, fp._2 == tokens, s"counts sum to ${fp._2}, generator made $tokens tokens")
          val want = expected.getOrElseUpdate(d, fp)
          ctx.check(rec, fp == want, s"output $fp differs from the first job's $want")
        }
      }
    }
  }

  private def startAndPoll(ctx: Ctx, in: Dataset[(Long, String)]): (Long, Long, Long) = {
    import ctx.spark.implicits._
    val h = MapReduce.startJob(ctx.spark, in, WordCountClient)
    var last = JobState(Stage.Undefined, 0f)
    def rank(s: Stage) = Seq(Stage.Undefined, Stage.Map, Stage.Shuffle, Stage.Reduce).indexOf(s)
    def observe(st: JobState): Unit = {
      if (rank(st.stage) < rank(last.stage) ||
          (st.stage == last.stage && st.percentage < last.percentage)) regressions += 1
      last = st
    }
    val giveUp = System.nanoTime() + 120L * 1000000000L
    var done = false
    while (!done && System.nanoTime() < giveUp) {
      val t0 = System.nanoTime()
      val st = h.getJobState
      pollLatUs += (System.nanoTime() - t0) / 1e3
      observe(st)
      done = st.stage == Stage.Reduce && st.percentage >= 100f
      if (!done) Thread.sleep(PollMs)
    }
    val out = h.waitForJob()
    h.close()
    val end = h.getJobState
    observe(end)
    require(end == JobState(Stage.Reduce, 100f), s"getJobState ended at $end")
    MrCorpus.fingerprintLocal(out)
  }

  private def byKind(ctx: Ctx, kind: String) = ctx.ledger.ops.filter(_.kind == kind)

  def metrics(ctx: Ctx): Map[String, (Double, String)] = {
    val jobs = ctx.ledger.ops.filter(_.kind.startsWith("mr."))
    val secs = jobs.map(_.wallNs / 1e9).toSeq
    Map(
      "mr_records_per_s" -> (if (secs.sum > 0) jobs.size * tokens / secs.sum else 0.0, "1/s"),
      "mr_job_p50_s" -> (Stats.median(secs), "s"))
  }

  def layers(ctx: Ctx): Map[String, Double] = {
    def med(kind: String) = Stats.median(byKind(ctx, kind).map(_.wallNs / 1e9).toSeq)
    def ratio(d: Dist) = {
      val run = byKind(ctx, "mr.run").filter(_.name == d.name).map(_.shuffleWrite).sum
      val comb = byKind(ctx, "mr.run_combined").filter(_.name == d.name).map(_.shuffleWrite).sum
      if (run > 0) comb.toDouble / run else 0.0
    }
    Map(
      "mr.run_s" -> med("mr.run"),
      "mr.run_combined_s" -> med("mr.run_combined"),
      "mr.run_sorted_s" -> med("mr.run_sorted"),
      "mr.start_job_s" -> med("mr.start_job"),
      "mr.shuffle_records" -> ctx.ledger.ops.map(_.shuffleRecords).sum.toDouble,
      "mr.combine_ratio" -> ratio(Zipf),
      "mr.combine_ratio_uniform" -> ratio(Uniform),
      "mr.get_job_state_us" -> Stats.median(pollLatUs.toSeq),
      "mr.progress_regressions" -> regressions.toDouble)
  }
}

object MrCorpus {
  /** Order-insensitive fingerprint of a word-count output:
    * (distinct words, summed counts, summed per-pair hash). */
  def pairHash(w: String, c: Long): Long =
    scala.util.hashing.MurmurHash3.stringHash(w).toLong * 0x9E3779B97F4A7C15L + c

  def fingerprint(out: Dataset[(String, Long)]): (Long, Long, Long) = {
    import out.sparkSession.implicits._
    out.map(t => (1L, t._2, pairHash(t._1, t._2)))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
  }

  def fingerprintLocal(out: Seq[(String, Long)]): (Long, Long, Long) =
    out.foldLeft((0L, 0L, 0L)) { case ((n, s, h), (w, c)) => (n + 1, s + c, h + pairHash(w, c)) }
}
