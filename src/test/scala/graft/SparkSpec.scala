package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per JVM — suites reuse it). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"

  /** The number of Spark jobs `body` launches on this session. A marker
    * job after `body` flushes the asynchronous listener bus: once its
    * start event arrives, every earlier job's has arrived too. */
  def jobsLaunchedBy(body: => Any): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = "jobs-" + java.util.UUID.randomUUID()
    val marker = group + "-marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach { p =>
            if (p.getProperty("spark.job.description") == marker) flushed.countDown()
            else jobs.incrementAndGet()
          }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      body
      sc.setJobDescription(marker)
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the marker job's start event never arrived")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
  def sf001 = "/root/testdata/sf0.01"

  /** Run `ds` and return, for each hash-partitioned exchange it ran,
    * the number of map tasks that wrote to it and the records they
    * wrote, read from the executed plan's shuffle metrics. */
  def keyedShuffleWrites(ds: org.apache.spark.sql.Dataset[_]): Seq[(Int, Long)] = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    ds.collect()
    new AdaptiveSparkPlanHelper {}.collect(ds.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] =>
        (e.shuffleDependency.rdd.getNumPartitions,
          e.metrics("shuffleRecordsWritten").value)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = graft.sources.GraftSession.configure(
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false"))
    .getOrCreate()
}
