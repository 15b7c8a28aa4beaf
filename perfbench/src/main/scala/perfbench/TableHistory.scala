package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.operators.VersionedTable

/** A single client writing and reading one versioned table through the
  * `graftcat` SQL catalog and the `VersionedTable` API.
  *
  * Script, repeated in cycles: INSERT and DELETE alternate (each DELETE
  * removes the live keys of a seeded key range, a deletion-vector
  * commit), every write is followed by a latest SQL read, a
  * `VERSION AS OF` read of the version two commits back and a
  * `VersionedTable.read`, and every [[CycleWrites]] writes a
  * `CALL graftcat.compact` folds the history (followed by the same three
  * reads). Every read's count and sum are checked against the client's
  * model of that version. */
final class TableHistory extends Workload {
  import TableHistory._

  private var root: Path = _
  private var rnd: scala.util.Random = _
  private var initial = 0
  private var batch = 0
  // The model: live keys, and (count, sum) per published version.
  private val live = mutable.BitSet.empty
  private var next = 0
  private var count = 0L
  private var sum = 0L
  private val model = mutable.LinkedHashMap.empty[Long, (Long, Long)]
  private var writes = 0
  private val reads = mutable.ArrayBuffer.empty[(OpRec, Long, Int, Boolean)] // op, version, live DVs, after compact
  private val commits = mutable.ArrayBuffer.empty[(OpRec, Int)] // op, files in the new manifest
  private var lastCompacted = false

  def table: Path = root.resolve(Name)

  def value(id: Long, seed: Long): Long = Math.floorMod(id * 2654435761L + seed, 1000L)

  private def rows(from: Int, until: Int, seed: Long) =
    s"SELECT id, pmod(id * 2654435761 + $seed, 1000) AS v FROM range($from, $until)"

  private def add(from: Int, until: Int, seed: Long): Unit = for (i <- from until until) {
    live += i; count += 1; sum += value(i, seed)
  }

  private def publish(): Long = {
    val v = VersionedTable.latestVersion(table).get
    model(v) = (count, sum)
    v
  }

  def prepare(ctx: Ctx): Unit = {
    root = ctx.work.resolve("catalog")
    rnd = new scala.util.Random(ctx.seed)
    initial = if (ctx.smoke) 2000 else 50000
    batch = if (ctx.smoke) 200 else 2000
    ctx.spark.sql(s"CREATE TABLE graftcat.$Name AS ${rows(0, initial, ctx.seed)}")
    add(0, initial, ctx.seed)
    next = initial
    publish()
  }

  def pass(ctx: Ctx, passNo: Int): Unit = {
    for (_ <- 1 to CycleWrites) {
      write(ctx)
      readAll(ctx)
    }
    val (out, rec) = ctx.ledger.op("table.compact", Name) {
      ctx.spark.sql(s"CALL graftcat.compact('$Name')").collect()
    }
    if (out.isDefined) committed(ctx, rec)
    lastCompacted = true
    readAll(ctx)
  }

  private def write(ctx: Ctx): Unit = {
    writes += 1
    lastCompacted = false
    if (writes % 2 == 1) {
      val (from, until) = (next, next + batch)
      val (out, rec) = ctx.ledger.op("table.insert", Name) {
        ctx.spark.sql(s"INSERT INTO graftcat.$Name ${rows(from, until, ctx.seed)}").collect()
      }
      if (out.isDefined) { add(from, until, ctx.seed); next = until; committed(ctx, rec) }
    } else {
      // The live keys of a seeded range; retried until the range holds some.
      var doomed = Seq.empty[Int]
      while (doomed.isEmpty) {
        val a = rnd.nextInt(next)
        doomed = live.rangeFrom(a).iterator.take(DeleteKeys).toSeq
      }
      val (out, rec) = ctx.ledger.op("table.delete", Name) {
        ctx.spark.sql(s"DELETE FROM graftcat.$Name WHERE id IN (${doomed.mkString(",")})").collect()
      }
      if (out.isDefined) {
        doomed.foreach { i => live -= i; count -= 1; sum -= value(i, ctx.seed) }
        committed(ctx, rec)
      }
    }
  }

  private def committed(ctx: Ctx, rec: OpRec): Unit = {
    val v = publish()
    commits += ((rec, VersionedTable.statsManifest(table, v).size))
  }

  private def readAll(ctx: Ctx): Unit = {
    // Time travel two commits back: the same distance on every seed, so
    // the read's cost does not depend on which version a seed happens to
    // pick.
    val versions = model.keys.toSeq
    val latest = versions.last
    val pick = versions(math.max(0, versions.size - 3))
    val dvs = VersionedTable.deletionVectors(table, latest).size
    def agg(df: org.apache.spark.sql.DataFrame) = {
      val r = df.selectExpr("count(*)", "sum(v)").head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val kinds: Seq[(String, Long, () => (Long, Long))] = Seq(
      ("table.read_sql", latest, () => agg(ctx.spark.sql(s"SELECT * FROM graftcat.$Name"))),
      ("table.read_as_of", pick, () => agg(ctx.spark.sql(s"SELECT * FROM graftcat.$Name VERSION AS OF $pick"))),
      ("table.read_api", latest, () => agg(VersionedTable.read(ctx.spark, table))))
    for ((kind, v, body) <- kinds) {
      val (out, rec) = ctx.ledger.op(kind, Name)(body())
      out.foreach(got => ctx.check(rec, got == model(v), s"read $got, model has ${model(v)}"))
      reads += ((rec, v, dvs, lastCompacted))
    }
  }

  private def commitOps = commits.map(_._1).toSeq
  private def readOps = reads.map(_._1).toSeq

  def metrics(ctx: Ctx): Map[String, (Double, String)] = {
    val c = commitOps.map(_.wallNs / 1e6)
    val r = readOps.map(_.wallNs / 1e6)
    val dirBytes = treeBytes(table)
    Map(
      "commit_p50_ms" -> (Stats.median(c), "ms"), "commit_p90_ms" -> (Stats.quantile(c, 0.9), "ms"),
      "read_p50_ms" -> (Stats.median(r), "ms"), "read_p90_ms" -> (Stats.quantile(r, 0.9), "ms"),
      "bytes_per_user_byte" -> (dirBytes.toDouble / math.max(1L, count * 16L), "ratio"))
  }

  def layers(ctx: Ctx): Map[String, Double] = {
    val rd = readOps
    val all = rd ++ commitOps
    val api = reads.filter(_._1.kind == "table.read_api").toSeq
    val maxDvs = if (api.isEmpty) 0 else api.map(_._3).max
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Map(
      "versioned_table.jobs_per_read" -> mean(rd.map(_.jobs.toDouble)),
      "versioned_table.in_job_ms_per_read" -> mean(rd.map(_.inJobNs / 1e6)),
      "versioned_table.outside_ms_per_read" -> mean(rd.map(_.outsideNs / 1e6)),
      "versioned_table.outside_ms_per_commit" -> mean(commitOps.map(_.outsideNs / 1e6)),
      "versioned_table.live_dvs_max" -> maxDvs.toDouble,
      "versioned_table.api_jobs_at_max_dvs" -> mean(api.filter(_._3 == maxDvs).map(_._1.jobs.toDouble)),
      "versioned_table.api_jobs_after_compact" -> mean(api.filter(_._4).map(_._1.jobs.toDouble)),
      "versioned_table.files_per_commit" -> mean(commits.map(_._2.toDouble).toSeq),
      "versioned_table.manifest_bytes" -> treeBytes(table.resolve("_commits")).toDouble,
      "versioned_table.syscr_per_op" -> mean(all.map(_.syscr.toDouble)),
      "versioned_table.rchar_per_op" -> mean(all.map(_.rchar.toDouble)),
      "versioned_table.wchar_per_commit" -> mean(commitOps.map(_.wchar.toDouble)),
      "versioned_table.compact_s" ->
        Stats.median(commitOps.filter(_.kind == "table.compact").map(_.wallNs / 1e9)))
  }

  /** The read series behind the deletion-vector findings. */
  override def details(ctx: Ctx): Map[String, Any] = Map("reads" -> reads.map { case (o, v, d, c) =>
    Map("kind" -> o.kind, "version" -> v, "live_dvs" -> d, "after_compact" -> c,
      "jobs" -> o.jobs, "ms" -> o.wallNs / 1e6) }.toSeq)

  private def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val w = Files.walk(p)
    try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum finally w.close()
  }
}

object TableHistory {
  val Name = "hist"
  val CycleWrites = 4
  val DeleteKeys = 200
}
