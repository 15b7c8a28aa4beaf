package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch profiler (dev only): drains one streaming query and dumps
  * per-micro-batch duration breakdowns from StreamingQueryProgress. */
object DrainProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val parts = if (args.length > 1) args(1).toInt else 8
    val spark = graft.sources.GraftSession.configure(SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // warm both batch and streaming paths
    spark.range(10000).groupBy($"id" % 7).count().count()
    graft.streaming.EventStreams.drainAppend(spark, "warm_", parts)(c =>
      graft.streaming.EventStreams.hourlyCounts(
        graft.streaming.EventStreams.fromParquetDir(c, sfDir))).count()

    def profile(tag: String,
        topology: SparkSession => org.apache.spark.sql.DataFrame): Unit = {
      // Same scratch resolution as the harness drains (a profiler
      // placing its sink/ckpt on disk-backed java.io.tmpdir while the
      // harness runs tmpfs measures a constant the harness doesn't
      // pay). SPARK_GRAFT_SCRATCH stays the disk-vs-tmpfs A/B lever for
      // both.
      val tmp = graft.streaming.EventStreams.tempDir("prof_")
      val t0 = System.nanoTime()
      val q = graft.sources.GraftSession.scoped(spark,
          "spark.sql.shuffle.partitions" -> parts.toString) { c =>
        topology(c).writeStream.format("parquet")
          .option("path", s"$tmp/out").option("checkpointLocation", s"$tmp/ckpt")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      q.awaitTermination(600000L)
      val total = (System.nanoTime() - t0) / 1e9
      println(f"[prof] $tag parts=$parts total=$total%.2f s, batches=${q.recentProgress.length}")
      q.recentProgress.foreach { p =>
        val d = p.durationMs
        println(s"[prof]   batch=${p.batchId} rows=${p.numInputRows} trigger=${d.get("triggerExecution")} addBatch=${d.get("addBatch")} getBatch=${d.get("getBatch")} latestOffset=${d.get("latestOffset")} walCommit=${d.get("walCommit")} commitBatch=${d.get("commitBatch")} planning=${d.get("queryPlanning")}" +
          p.stateOperators.map(so => s" state[${so.operatorName}: commit=${so.allUpdatesTimeMs}u/${so.commitTimeMs}c rows=${so.numRowsTotal}]").mkString)
      }
      graft.sources.GraftSession.deleteTree(tmp)
    }
    def funnel(ev: org.apache.spark.sql.DataFrame) =
      graft.streaming.EventStreams.attributePurchases(
        ev.where($"event_type" === "click"),
        ev.where($"event_type" === "purchase"), "left_outer")
    profile("hourly/1batch", c => graft.streaming.EventStreams.hourlyCounts(
      graft.streaming.EventStreams.fromParquetDir(c, sfDir)))
    profile("funnel/1batch",
      c => funnel(graft.streaming.EventStreams.fromParquetDir(c, sfDir)))
    // The shapes the driver-facing queries actually run:
    // 3 event-time-contiguous staged files, one micro-batch per file.
    graft.streaming.EventStreams.withSplitEvents(spark, sfDir, 3) { (src, _) =>
      profile("hourly/split3",
        c => graft.streaming.EventStreams.hourlyCounts(src(c)))
    }
    graft.streaming.EventStreams.withSplitEvents(spark, sfDir, 3) { (src, _) =>
      profile("funnel/split3", c => funnel(src(c)))
    }
    // Heap vs RocksDB A/B on the EXACT ev_stream_dedup drain shape (the
    // suite's one data-sized state: one id per event in the watermark
    // horizon, redelivered source, statePartitions=8). Three reps each,
    // interleaved, report all + min — the number GraftSession's
    // provider-choice comment must cite.
    (1 to 3).foreach { rep =>
      Seq(false, true).foreach { rocks =>
        graft.streaming.EventStreams.withSplitEvents(spark, sfDir, 3,
            redeliver = true) { (src, nf) =>
          val t0 = System.nanoTime()
          graft.streaming.EventStreams.drainAppend(spark, "prof_dedup_",
            statePartitions = 8, minBatches = nf, rocksdb = rocks)(
            c => graft.streaming.EventStreams.dedupEvents(src(c))).count()
          val t = (System.nanoTime() - t0) / 1e9
          println(f"[prof] dedup/${if (rocks) "rocksdb" else "heap"}/rep$rep total=$t%.2f s")
        }
      }
    }
    // Heap vs RocksDB A/B on the EXACT ev_stream_sessionize drain shape
    // (the suite's per-key-GROWING custom state: mapGroupsWithState,
    // NoTimeout, one snapshot per user for the whole run,
    // statePartitions=2 via drainUpdate's default). Same protocol as
    // the dedup A/B — the number ev_stream_sessionize's rocksdb=true
    // comment must cite.
    (1 to 3).foreach { rep =>
      Seq(false, true).foreach { rocks =>
        graft.streaming.EventStreams.withSplitEvents(spark, sfDir, 3) {
          (src, nf) =>
            val t0 = System.nanoTime()
            graft.streaming.EventStreams.drainUpdate(spark, "prof_sessz_",
                minBatches = nf, rocksdb = rocks) { c =>
              graft.streaming.EventStreams.sessionize(src(c)
                .selectExpr("user_id AS userId",
                  s"${graft.queries.QueryModule.TsUs} AS tsUs",
                  "event_type AS eventType")
                .as[graft.streaming.Ev]).toDF()
            }.count()
            val t = (System.nanoTime() - t0) / 1e9
            println(f"[prof] sessionize/${if (rocks) "rocksdb" else "heap"}/rep$rep total=$t%.2f s")
        }
      }
    }
    spark.stop()
  }
}
