package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One client call into the engine, as the closed-loop client saw it,
  * plus (traced runs only) what the listeners attributed to it. */
final class OpRec(val id: Long, val kind: String, val name: String,
                  val startNs: Long, val endNs: Long) {
  def wallNs: Long = endNs - startNs
  var ok = true
  var jobs = 0
  var groupedJobs = 0
  var inJobNs = 0L
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var taskNs = 0L
  var cpuNs = 0L
  var waitNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var shuffleRecords = 0L
  var planNs = 0L
  var executions = 0
  var syscr = 0L
  var rchar = 0L
  var wchar = 0L
  /** Jobs' union extending outside the op window, in ns. */
  var spillOverNs = 0L
  val batches = mutable.ArrayBuffer.empty[BatchRec]
  def outsideNs: Long = wallNs - inJobNs
}

final case class BatchRec(startNs: Long, durMs: Long, phases: Map[String, Long],
                          stateRows: Long, stateCommitMs: Long)

private final class JobRec(val id: Int, val group: String, val startMs: Long,
                           val stageIds: Seq[Int]) {
  @volatile var endMs = -1L
  var tasks = 0
  var failedTasks = 0
  var taskMs = 0L
  var cpuNs = 0L
  var waitMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var shuffleRecords = 0L
}

/** The per-layer ledger, built entirely from Spark's public listener
  * interfaces. In an untraced run no listener is registered and `op`
  * only times the call. */
final class Ledger(spark: SparkSession, val traced: Boolean, tracer: Tracer) {
  import Ledger._

  val ops = mutable.ArrayBuffer.empty[OpRec]
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  @volatile private var currentOp = 0L
  private val pendingPlan = new ConcurrentHashMap[Long, Array[Long]]()
  private val pendingBatches = new ConcurrentHashMap[Long, mutable.ArrayBuffer[BatchRec]]()
  @volatile private var measuring = false
  private var gc0 = 0L
  private var jit0 = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (measuring) {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.put(e.jobId, new JobRec(e.jobId, g, e.time, e.stageIds))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(e.stageInfo.stageId, t))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized {
          j.tasks += 1
          if (e.taskInfo.failed || e.taskInfo.killed) j.failedTasks += 1
          j.taskMs += e.taskInfo.duration
          val sub = stageSubmitMs.getOrDefault(e.stageId, e.taskInfo.launchTime)
          j.waitMs += math.max(0L, e.taskInfo.launchTime - sub)
          Option(e.taskMetrics).foreach { m =>
            j.cpuNs += m.executorCpuTime
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Some(currentOp).filter(_ > 0).foreach { op =>
      val ph = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(p => ph.get(p)).map(_.durationMs).sum
      val acc = pendingPlan.computeIfAbsent(op, _ => Array(0L, 0L))
      acc.synchronized { acc(0) += ms; acc(1) += 1 }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Some(currentOp).filter(_ > 0).foreach { op =>
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val phases = Option(p.durationMs).map(_.asScala.map { case (k, v) =>
          k -> v.longValue }.toMap).getOrElse(Map.empty)
        val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
        val b = BatchRec(Clock.fromEpochMs(start), p.batchDuration, phases,
          ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum)
        val acc = pendingBatches.computeIfAbsent(op, _ => mutable.ArrayBuffer.empty)
        acc.synchronized { acc += b }
      }
  }

  if (traced) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Open the measured phase: everything before it is set-up. */
  def startMeasuring(): Unit = {
    if (traced) PerfbenchAccess.drainListenerBus(spark.sparkContext)
    gc0 = Jvm.gcMs; jit0 = Jvm.jitMs
    measuring = true
  }

  def gcMs: Long = Jvm.gcMs - gc0
  def jitMs: Long = Jvm.jitMs - jit0

  /** Time one client call. The op's Spark jobs carry its span id as
    * their job group; `body` runs on the calling thread. */
  def op[T](kind: String, name: String)(body: => T): (Option[T], OpRec) = {
    val id = tracer.newId()
    val sc = spark.sparkContext
    val io0 = if (traced) ProcIo.read() else ProcIo.Zero
    if (traced) {
      sc.setJobGroup(s"$GroupPrefix$id", name, interruptOnCancel = false)
      sc.setJobDescription(s"$kind $name")
    }
    currentOp = id
    val t0 = Clock.nowNs
    val out = try Some(body) catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] $kind $name FAILED: $e")
        None
    } finally {
      if (traced) sc.clearJobGroup()
    }
    val t1 = Clock.nowNs
    val rec = new OpRec(id, kind, name, t0, t1)
    rec.ok = out.isDefined
    if (traced) {
      val io1 = ProcIo.read()
      rec.syscr = io1.syscr - io0.syscr
      rec.rchar = io1.rchar - io0.rchar
      rec.wchar = io1.wchar - io0.wchar
      PerfbenchAccess.drainListenerBus(sc)
      attribute(rec, id)
    }
    currentOp = 0L
    ops += rec
    tracer.add(Span(id, 0L, "op", s"$kind $name", t0, t1))
    (out, rec)
  }

  private def attribute(rec: OpRec, id: Long): Unit = {
    val group = s"$GroupPrefix$id"
    val mine = jobs.values.asScala.filter { j =>
      j.group == group || (!j.group.startsWith(GroupPrefix) &&
        Clock.fromEpochMs(j.startMs) >= rec.startNs - TolNs &&
        Clock.fromEpochMs(j.startMs) <= rec.endNs)
    }.toSeq.sortBy(_.id)
    val ivs = mine.map { j =>
      val e = if (j.endMs >= 0) j.endMs else j.startMs
      (Clock.fromEpochMs(j.startMs), Clock.fromEpochMs(e))
    }
    val clipped = ivs.map { case (s, e) =>
      (math.max(s, rec.startNs), math.min(e, rec.endNs)) }
    rec.jobs = mine.size
    rec.groupedJobs = mine.count(_.group == group)
    rec.inJobNs = Spans.unionNs(clipped)
    rec.spillOverNs = Spans.unionNs(ivs) - rec.inJobNs
    rec.stages = mine.map(_.stageIds.size).sum
    mine.foreach { j =>
      j.synchronized {
        rec.tasks += j.tasks; rec.failedTasks += j.failedTasks
        rec.taskNs += j.taskMs * 1000000L; rec.cpuNs += j.cpuNs
        rec.waitNs += j.waitMs * 1000000L
        rec.shuffleWrite += j.shuffleWrite; rec.shuffleRead += j.shuffleRead
        rec.spill += j.spill; rec.shuffleRecords += j.shuffleRecords
      }
      tracer.add(Span(tracer.newId(), id, "job", s"job ${j.id}",
        Clock.fromEpochMs(j.startMs), Clock.fromEpochMs(math.max(j.endMs, j.startMs))))
      jobs.remove(j.id)
    }
    Option(pendingPlan.remove(id)).foreach { a => rec.planNs = a(0) * 1000000L; rec.executions = a(1).toInt }
    Option(pendingBatches.remove(id)).foreach { bs =>
      rec.batches ++= bs.sortBy(_.startNs)
      bs.foreach(b => tracer.add(Span(tracer.newId(), id, "batch", "micro-batch",
        b.startNs, b.startNs + b.durMs * 1000000L)))
    }
  }

  /** Jobs that ran in the measured phase but overlapped no op. */
  def strayJobs: Int = jobs.size

  /** Ops whose jobs ran outside the op window by more than the
    * tolerance: for them in-job + outside would not add up to wall. */
  def unreconciled: Seq[OpRec] = ops.filter(_.spillOverNs > TolNs).toSeq
}

object Ledger {
  val GroupPrefix = "perfbench-op-"
  /** Listener times have millisecond resolution and are stamped on the
    * scheduler thread: a job may appear to start or end up to a few ms
    * outside the client's window. */
  val TolNs: Long = 5L * 1000000L
}

/** `/proc/self/io` counters of the JVM. */
final case class ProcIo(syscr: Long, rchar: Long, wchar: Long)
object ProcIo {
  val Zero = ProcIo(0L, 0L, 0L)
  def read(): ProcIo = try {
    val m = scala.io.Source.fromFile("/proc/self/io").getLines()
      .map(_.split(":\\s*")).collect { case Array(k, v) => k -> v.trim.toLong }.toMap
    ProcIo(m.getOrElse("syscr", 0L), m.getOrElse("rchar", 0L), m.getOrElse("wchar", 0L))
  } catch { case _: Exception => Zero }
}

object Jvm {
  import java.lang.management.ManagementFactory
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)
  def heapAfterGcMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  /** Peak resident set (VmHWM) of this process, in MB. */
  def peakRssMb: Double = try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)
  } catch { case _: Exception => 0.0 }
  def startEpochMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}
