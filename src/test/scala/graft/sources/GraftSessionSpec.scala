package graft.sources

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

class GraftSessionSpec extends SparkSpec {

  private def overlapThreadsAlive(): Boolean = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala
      .exists(t => t.getName == "graft-overlap" && t.isAlive)
  }

  test("overlap runs every task's jobs under the caller's job group, in order") {
    val sc = spark.sparkContext
    // Each task runs one job with a task count no other job here has,
    // so its job-start event identifies it.
    val groupOf = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).foreach(g =>
          groupOf.put(e.stageInfos.map(_.numTasks).sum, g))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("graft-overlap-spec", "overlap attribution")
    try {
      val counts = GraftSession.overlap(
        (0 until 3).map(i => () => sc.parallelize(1 to 100, 17 + i).count()): _*)
      assert(counts == Seq(100L, 100L, 100L))
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (groupOf.size < 3 && System.nanoTime() < deadline) Thread.sleep(10)
      assert((17 to 19).map(n => Option(groupOf.get(n))) ==
        Seq.fill(3)(Some("graft-overlap-spec")),
        s"jobs by task count -> job group: $groupOf")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(!overlapThreadsAlive(), "an overlap thread outlived the call")
  }

  test("overlap rethrows a failing task's error only after the others finish") {
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      GraftSession.overlap(
        () => throw new IllegalStateException("task 0 failed"),
        () => { Thread.sleep(500); slowDone.set(true) })
    }
    assert(e.getMessage == "task 0 failed")
    assert(slowDone.get(), "the failure surfaced before the slow task ended")
    assert(!overlapThreadsAlive(), "an overlap thread outlived the call")
  }

  test("scoped runs on an active child with the caller's config, listeners and its settings") {
    val key = "spark.sql.shuffle.partitions"
    val marker = "spark.graft.spec.inherited"
    val prev = spark.conf.get(key)
    val executions = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        if (qe.sparkSession ne spark) executions.incrementAndGet()
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.conf.set(marker, "yes")
    spark.listenerManager.register(listener)
    try {
      val seen = GraftSession.scoped(spark, key -> "3") { c =>
        assert(c ne spark)
        assert(org.apache.spark.sql.SparkSession.getActiveSession.contains(c))
        c.range(3).collect()
        (c.conf.get(key), c.conf.get(marker), spark.conf.get(key))
      }
      assert(seen == (("3", "yes", prev)))
      assert(spark.conf.get(key) == prev)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (executions.get == 0 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(executions.get == 1,
        "the caller's execution listener missed the child's query")
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.unset(marker)
    }
  }

  test("staged deletes its tree after the body returns") {
    var tree: java.nio.file.Path = null
    val out = GraftSession.staged(spark, "graft_spec_") { t =>
      tree = t
      java.nio.file.Files.writeString(t.resolve("f.txt"), "x")
      spark.range(3).toDF("id")
    }
    assert(tree != null && !java.nio.file.Files.exists(tree))
    assert(out.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
  }

  test("staged deletes its tree when the body throws and rethrows the body's error") {
    var tree: java.nio.file.Path = null
    val failure = new IllegalStateException("body failed")
    val e = intercept[IllegalStateException] {
      GraftSession.staged(spark, "graft_spec_") { t =>
        tree = t
        java.nio.file.Files.createDirectories(t.resolve("sub"))
        throw failure
      }
    }
    assert(e eq failure)
    assert(tree != null && !java.nio.file.Files.exists(tree))
  }

  test("staged returns a local frame on the caller's session that outlives its tree") {
    var tree: java.nio.file.Path = null
    val out = GraftSession.staged(spark, "graft_spec_") { t =>
      tree = t
      val p = t.resolve("p").toString
      spark.range(5).write.parquet(p)
      spark.read.parquet(p)
    }
    assert(!java.nio.file.Files.exists(tree))
    assert(out.sparkSession eq spark)
    var ids = Seq.empty[Long]
    assert(jobsLaunchedBy { ids = out.collect().map(_.getLong(0)).toSeq } == 0)
    assert(ids.sorted == (0L until 5L))
  }

  test("stagedCatalog resolves graftcat over the tree, never on the caller's session") {
    var tree: java.nio.file.Path = null
    val out = GraftSession.stagedCatalog(spark, "graft_spec_") { (t, c) =>
      tree = t
      assert(c ne spark)
      c.sql("CREATE TABLE graftcat.docs (id BIGINT)")
      c.sql("INSERT INTO graftcat.docs VALUES (2), (1)")
      assert(java.nio.file.Files.isDirectory(t.resolve("docs")))
      c.sql("SELECT id FROM graftcat.docs ORDER BY id")
    }
    assert(!java.nio.file.Files.exists(tree))
    assert(out.sparkSession eq spark)
    assert(out.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(spark.conf.getOption("spark.sql.catalog.graftcat").isEmpty)
  }
}
