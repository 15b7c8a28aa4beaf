package graft.operators

import graft.SparkSpec
import java.nio.file.Files
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Serializability of the optimistic-concurrency layer under RANDOM
  * schedules: any mix of appends and merges, each losing 0..2 races to
  * interloper appends injected at the publish seam, must leave the
  * table equal to folding the actions in COMMIT-VERSION order over the
  * initial state — the definition of serializable for this protocol
  * (appends rebase by re-carry; merges rebase by re-running on the
  * winner's snapshot, so a mid-flight interloper's rows are
  * transformed too). The directed pipe_commit_conflict query pins one
  * canonical schedule; this spec samples the schedule space.
  */
class OccSpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).map(i => g.pureApply(Gen.Parameters.default, Seed(7042L + i)))

  private sealed trait Op
  private case class Append(tag: Int) extends Op
  private case class Merge(delta: Long) extends Op

  /** Each op carries how many races it must lose before publishing. */
  private val scheduleGen: Gen[List[(Op, Int)]] = for {
    n <- Gen.chooseNum(2, 4)
    ops <- Gen.listOfN(n, for {
      isAppend <- Gen.oneOf(true, false)
      delta <- Gen.chooseNum(1L, 9L)
      races <- Gen.chooseNum(0, 2)
      tag <- Gen.chooseNum(0, 999)
    } yield (if (isAppend) Append(tag): Op else Merge(delta): Op, races))
  } yield ops

  /** Deterministic distinct id block per appender (base op i -> block
    * 100·(i+1); interloper j of op i -> block 10000·(i+1) + 100·j). */
  private def ids(block: Int): Seq[Long] =
    Seq(block.toLong * 1000 + 1, block.toLong * 1000 + 2)

  private def mergeSql(delta: Long): String =
    s"CASE WHEN id % 2 = 0 THEN id + $delta ELSE id END AS id"

  private def mergeModel(delta: Long)(s: Seq[Long]): Seq[Long] =
    s.map(v => if (v % 2 == 0) v + delta else v)

  test("random append/delete/compact sequences track a multiset model") {
    // Merge-on-read deletion vectors against a driver-side model:
    // delete removes the key's CURRENTLY PRESENT copies only (a later
    // re-append resurrects it — DV scoping), compaction never changes
    // contents, and every version remains time-travelable to its
    // model state.
    import spark.implicits._
    sealed trait DvOp
    case class Add(ids: Seq[Long]) extends DvOp
    case class Del(keys: Seq[Long]) extends DvOp
    case object Compact extends DvOp
    val universe = (1L to 6L)
    val opGen: Gen[DvOp] = Gen.frequency(
      4 -> Gen.someOf(universe).map(s => Add(s.toSeq)),
      4 -> Gen.someOf(universe).map(s => Del(s.toSeq)),
      2 -> Gen.const(Compact))
    val seqGen = Gen.chooseNum(2, 5).flatMap(n => Gen.listOfN(n, opGen))
    for ((ops, si) <- samples(seqGen, 6).zipWithIndex) {
      val t = Files.createTempDirectory(s"graft_dv_prop_${si}_").resolve("t")
      VersionedTable.commit(spark, t, 0L, Seq(1L, 2L).toDF("id"))
      var model = Seq(1L, 2L) // multiset of present ids
      val states = scala.collection.mutable.Map(0L -> model)
      var v = 0L
      ops.foreach { op =>
        v += 1
        op match {
          case Add(ids) =>
            VersionedTable.commit(spark, t, v,
              (if (ids.isEmpty) Seq(-1L) else ids).toDF("id"),
              carried = VersionedTable.manifest(t, v - 1))
            model = model ++ (if (ids.isEmpty) Seq(-1L) else ids)
          case Del(keys) =>
            VersionedTable.deleteCommit(spark, t, v,
              (if (keys.isEmpty) Seq(-99L) else keys).toDF("id"), "id")
            val dead = (if (keys.isEmpty) Seq(-99L) else keys).toSet
            model = model.filterNot(dead.contains)
          case Compact =>
            VersionedTable.commit(spark, t, v,
              VersionedTable.read(spark, t, Some(v - 1)))
        }
        states(v) = model
      }
      // Every version time-travels to its model state.
      states.foreach { case (ver, st) =>
        val got = VersionedTable.read(spark, t, Some(ver))
          .collect().map(_.getLong(0)).sorted.toSeq
        assert(got == st.sorted,
          s"sequence $si ($ops): version $ver diverged from the model")
      }
      graft.sources.GraftSession.deleteTree(t.getParent)
    }
  }

  test("genuinely concurrent appenders all land; history stays contiguous") {
    // Unlike the injected races above, this drives REAL thread
    // parallelism at the publish link: four appenders race freely, the
    // conflict count is whatever the scheduler produces, and the
    // invariants are what OCC actually promises — no lost update, no
    // version gap, no duplicate.
    import spark.implicits._
    val t = Files.createTempDirectory("graft_occ_par_").resolve("t")
    VersionedTable.commit(spark, t, 0L, Seq(1L).toDF("id"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 4).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long =
            VersionedTable.appendCommit(spark, t, ids(i).toDF("id")).version
        })
      }
      val versions = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(versions.toSet.size == 4, "two appenders claimed one version")
      assert(VersionedTable.versions(t) == (0L to 4L).toSeq)
      val got = VersionedTable.read(spark, t)
        .collect().map(_.getLong(0)).sorted.toSeq
      val expected = (1L +: (1 to 4).flatMap(ids)).sorted
      assert(got == expected, "a concurrent append was lost or duplicated")
    } finally {
      pool.shutdownNow()
      graft.sources.GraftSession.deleteTree(t.getParent)
    }
  }

  test("random schedules with lost races fold serially by commit version") {
    import spark.implicits._
    for ((schedule, si) <- samples(scheduleGen, 8).zipWithIndex) {
      val t = Files.createTempDirectory(s"graft_occ_${si}_").resolve("t")
      VersionedTable.commit(spark, t, 0L, Seq(1L, 2L, 3L).toDF("id"))
      // version -> model action, recorded as commits actually land.
      val actions = scala.collection.mutable.Map[Long, Seq[Long] => Seq[Long]]()
      for (((op, races), oi) <- schedule.zipWithIndex) {
        var left = races
        var interloper = 0
        val inject: Long => Unit = { target =>
          if (left > 0) {
            left -= 1
            interloper += 1
            val extra = ids(10 * (oi + 1) + interloper)
            VersionedTable.commit(spark, t, target, extra.toDF("id"),
              carried = VersionedTable.manifest(t, target - 1))
            actions(target) = (s: Seq[Long]) => s ++ extra
          }
        }
        op match {
          case Append(_) =>
            val mine = ids(oi + 1)
            val c = VersionedTable.appendCommit(spark, t, mine.toDF("id"),
              beforeAttempt = inject)
            assert(c.conflicts == races,
              s"schedule $si op $oi: expected $races lost races, " +
                s"got ${c.conflicts}")
            actions(c.version) = (s: Seq[Long]) => s ++ mine
          case Merge(delta) =>
            val c = VersionedTable.transact(spark, t,
              op = snap => snap.selectExpr(mergeSql(delta)),
              beforeAttempt = inject)
            assert(c.conflicts == races)
            actions(c.version) = mergeModel(delta)
        }
      }
      // History must be contiguous: v0 plus one version per action.
      val vs = VersionedTable.versions(t)
      assert(vs == (0L to actions.keys.max).toSeq,
        s"schedule $si: history $vs has gaps or leaks")
      val expected = vs.drop(1).foldLeft(Seq(1L, 2L, 3L)) { (st, v) =>
        actions(v)(st)
      }.sorted
      val got = VersionedTable.read(spark, t)
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == expected,
        s"schedule $si ($schedule): table diverged from the serial fold")
      graft.sources.GraftSession.deleteTree(t.getParent)
    }
  }

  test("random branch interleavings stay isolated; promote folds exactly the additions") {
    // Two branches forked at the same base, commits interleaved in a
    // RANDOM order — the snapshot ids interleave in one global log,
    // yet each ref must read base ++ exactly its own commits, in any
    // schedule; a final promote moves a's additions into b and
    // nothing else (a untouched). The directed pipe_table_branch /
    // pipe_branch_promote queries pin one canonical schedule; this
    // samples the space.
    import spark.implicits._
    val schedGen: Gen[List[Boolean]] = for {
      n <- Gen.chooseNum(2, 6)
      picks <- Gen.listOfN(n, Gen.oneOf(true, false))
    } yield picks
    samples(schedGen, 4).zipWithIndex.foreach { case (sched, si) =>
      val t = Files.createTempDirectory("graft_refprop_").resolve("t")
      val base = Seq(1L, 2L, 3L)
      VersionedTable.commit(spark, t, 0L, base.toDF("id"))
      VersionedTable.branchCreate(t, "a", 0L)
      VersionedTable.branchCreate(t, "b", 0L)
      var aIds = Seq.empty[Long]; var bIds = Seq.empty[Long]
      sched.zipWithIndex.foreach { case (toA, i) =>
        val ids = Seq(100L * (i + 1) + 1, 100L * (i + 1) + 2)
        if (toA) {
          VersionedTable.branchCommit(spark, t, "a", ids.toDF("id"))
          aIds ++= ids
        } else {
          VersionedTable.branchCommit(spark, t, "b", ids.toDF("id"))
          bIds ++= ids
        }
      }
      def refIds(r: String): Seq[Long] =
        VersionedTable.readRef(spark, t, r).collect()
          .map(_.getLong(0)).sorted.toSeq
      assert(refIds("a") == (base ++ aIds).sorted,
        s"schedule $si ($sched): branch a polluted or lost commits")
      assert(refIds("b") == (base ++ bIds).sorted,
        s"schedule $si ($sched): branch b polluted or lost commits")
      VersionedTable.promoteBranch(spark, t, "a", "b")
      assert(refIds("b") == (base ++ aIds ++ bIds).sorted,
        s"schedule $si: promote must fold exactly a's additions into b")
      assert(refIds("a") == (base ++ aIds).sorted,
        s"schedule $si: promote must not advance the source branch")
      graft.sources.GraftSession.deleteTree(t.getParent)
    }
  }
}
