package perfbench

/** The per-layer ledger of a traced run. `BENCHMARK.json` names the
  * metrics and their units; `run.py` reports a layer the workload does
  * not load as 0. */
object Layers {
  /** Engine-wide numbers every workload has, plus the workload's own
    * layer. */
  def of(ctx: Ctx, wl: Workload): Map[String, Double] = {
    val ops = ctx.ledger.ops.toSeq
    val inJob = ops.map(_.inJobNs).sum / 1e9
    val taskS = ops.map(_.taskNs).sum / 1e9
    val wall = ops.map(_.wallNs).sum / 1e9
    val measured = Map[String, Double](
      "spark.jobs" -> ops.map(_.jobs).sum,
      "spark.stages" -> ops.map(_.stages).sum,
      "spark.tasks" -> ops.map(_.tasks).sum,
      "spark.failed_tasks" -> ops.map(_.failedTasks).sum,
      "spark.unattributed_jobs" -> (ops.map(o => o.jobs - o.groupedJobs).sum + ctx.ledger.strayJobs),
      "spark.in_job_s" -> inJob,
      "spark.task_s" -> taskS,
      "spark.task_cpu_s" -> ops.map(_.cpuNs).sum / 1e9,
      "spark.busy_cores" -> (if (inJob > 0) taskS / inJob else 0.0),
      "spark.shuffle_write_bytes" -> ops.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> ops.map(_.shuffleRead).sum.toDouble,
      "spark.spill_bytes" -> ops.map(_.spill).sum.toDouble,
      "spark.task_wait_s" -> ops.map(_.waitNs).sum / 1e9,
      "driver.outside_s" -> (wall - inJob),
      "driver.outside_share" -> (if (wall > 0) (wall - inJob) / wall else 0.0),
      "queries.plan_ms" -> Stats.median(ops.map(_.planNs / 1e6)),
      "queries.executions" -> ops.map(_.executions).sum,
      "queries.jobs_per_query" -> (if (ops.nonEmpty) ops.map(_.jobs).sum.toDouble / ops.size else 0.0),
      "jvm.gc_s" -> ctx.ledger.gcMs / 1000.0,
      "jvm.jit_ms" -> ctx.ledger.jitMs.toDouble,
      "jvm.heap_after_gc_mb" -> Jvm.heapAfterGcMb,
      "jvm.peak_rss_mb" -> Jvm.peakRssMb,
      "trace.op_p50_ms" -> Stats.median(ops.map(_.wallNs / 1e6)))
    measured ++ wl.layers(ctx)
  }
}
