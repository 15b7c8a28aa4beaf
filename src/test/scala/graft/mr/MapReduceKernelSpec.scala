package graft.mr

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** A struct-encoded intermediate key: the kernel groups on its fields. */
final case class SpecKey(word: String, bucket: Long)

/** Kernel ≡ collections model, as multisets (SURVEY.md §5.2): for any
  * input and client, MapReduce.run == input.flatMap(map).groupBy(key)
  * .flatMap(reduce), ignoring order (the reference's output order is
  * nondeterministic by design — §2.1 R7).
  *
  * Uses raw ScalaCheck generators with fixed seeds (scalatestplus bridge
  * is not among the resolvable deps).
  */
class MapReduceKernelSpec extends SparkSpec {

  private def model[K1, V1, K2, V2, K3, V3](
      input: Seq[(K1, V1)],
      client: MapReduceClient[K1, V1, K2, V2, K3, V3]): Seq[(K3, V3)] =
    input
      .flatMap { case (k, v) => client.map(k, v) }
      .groupBy(_._1)
      .toSeq
      .flatMap { case (k, kvs) => client.reduce(k, kvs.map(_._2).iterator) }

  private def asMultiset[A](xs: Seq[A]): Map[A, Int] =
    xs.groupBy(identity).view.mapValues(_.size).toMap

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).map(i => g.pureApply(Gen.Parameters.default, Seed(42L + i)))

  test("wordcount client: kernel matches collections model on generated docs") {
    import spark.implicits._
    val word = Gen.oneOf("spark", "join", "merge", "scan", "agg", "x", "")
    val doc = Gen.listOf(word).map(_.mkString(" "))
    val docsGen = Gen.listOf(Gen.zip(Gen.choose(0L, 50L), doc))
    samples(docsGen, 8).foreach { docs =>
      val got = MapReduce.run(docs.toDS(), WordCountClient).collect().toSeq
      assert(asMultiset(got) == asMultiset(model(docs, WordCountClient)))
    }
  }

  test("flat semantics: map and reduce may emit 0..N pairs") {
    import spark.implicits._
    // map emits key twice for even values, nothing for odd; reduce emits
    // one pair per distinct value seen plus a total — both flat, neither
    // 1:1. This is the shape reduceByKey could NOT express.
    val client = new MapReduceClient[Long, Long, Long, Long, String, Long] {
      def map(k: Long, v: Long) =
        if (v % 2 == 0) Seq((v % 5, v), (v % 5, v)) else Nil
      def reduce(k: Long, vs: Iterator[Long]) = {
        val seq = vs.toSeq
        seq.distinct.sorted.map(v => (s"$k:$v", v)) :+ ((s"$k:total", seq.sum))
      }
    }
    val inputGen = Gen.listOf(Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 30L)))
    samples(inputGen, 8).foreach { input =>
      val got = MapReduce.run(input.toDS(), client).collect().toSeq
      assert(asMultiset(got) == asMultiset(model(input, client)))
    }
  }

  test("reduce sees all values of one key at once") {
    import spark.implicits._
    // Reduce output depends on the WHOLE group (median), so partial
    // aggregation would change the answer — verifies full-group delivery.
    val client = new MapReduceClient[Long, Long, Long, Long, Long, Long] {
      def map(k: Long, v: Long) = Seq((k % 3, v))
      def reduce(k: Long, vs: Iterator[Long]) = {
        val sorted = vs.toSeq.sorted
        Seq((k, sorted(sorted.size / 2)))
      }
    }
    val input = (1L to 100L).map(i => (i, i * 7 % 31))
    val got = MapReduce.run(input.toDS(), client).collect().toSeq
    assert(asMultiset(got) == asMultiset(model(input, client)))
  }

  test("runSorted: sorted-group iterator matches the groupBy+sortBy model") {
    import spark.implicits._
    // Reduce output is the ORDER-SENSITIVE concatenation of the group's
    // values — under plain `run` this would be nondeterministic; under
    // `runSorted` it must equal the model that sorts each group by the
    // natural (lexicographic tuple) V2 ordering before folding. ASCII
    // strings only: Spark's UTF8String sort is byte-wise, Scala's is
    // code-unit-wise, and they only provably coincide on ASCII.
    val client = new MapReduceClient[Long, (Long, String), Long, (Long, String), Long, String] {
      def map(k: Long, v: (Long, String)) = Seq((k % 4, v))
      def reduce(k: Long, vs: Iterator[(Long, String)]) =
        Seq((k, vs.map { case (a, s) => s"$a:$s" }.mkString("|")))
    }
    val inputGen = Gen.listOf(Gen.zip(Gen.choose(0L, 9L),
      Gen.zip(Gen.choose(0L, 20L), Gen.oneOf("a", "b", "c", "ab", ""))))
    samples(inputGen, 8).foreach { input =>
      val got = MapReduce.runSorted(input.toDS(), client).collect().toSeq
      val want = input
        .flatMap { case (k, v) => client.map(k, v) }
        .groupBy(_._1)
        .toSeq
        .flatMap { case (k, kvs) =>
          client.reduce(k, kvs.map(_._2).sorted.iterator) }
      assert(asMultiset(got) == asMultiset(want))
    }
  }

  test("runCombined obeys the combiner law: identical output to the plain run") {
    import spark.implicits._
    // For an algebraic client (wordcount-shape sum), the combiner must
    // be output-invisible under any grouping/partitioning of the input.
    val inputGen = Gen.listOf(Gen.zip(Gen.choose(0L, 9L),
      Gen.oneOf("a", "b", "c", "d", "ab")))
    samples(inputGen, 8).foreach { input =>
      val ds = input.toDS()
      val plain = MapReduce.run(ds, WordCountClient).collect().toSeq
      val combined = MapReduce
        .runCombined(ds, WordCountClient, (a: Long, b: Long) => a + b)
        .collect().toSeq
      assert(asMultiset(plain) == asMultiset(combined))
    }
  }

  test("runCombined equals run when one map task drains its combine map several times") {
    import spark.implicits._
    // One map task, 100k distinct keys (more than the map-side cap),
    // each key on two neighbouring pairs and again 200k pairs later: the
    // map combines within a fill, drains when full, and ships some keys
    // from more than one drain. A sum and a max both must come out as
    // run's whole-group reduce.
    val n = 300000L
    val keys = 100000L
    // Two range slices, the second filtered empty: one map task holds
    // every pair, yet the keyed exchange stays (a one-partition input
    // would already satisfy the grouping and skip it). Shipping more
    // records than keys then means that task drained more than once.
    val input = spark.range(0L, 2 * n, 1L, 2).as[Long].filter(_ < n)
      .map(i => (i, i * 7919L % 1000003L))
    def client(fold: Iterator[Long] => Long) =
      new MapReduceClient[Long, Long, Long, Long, Long, Long] {
        def map(i: Long, v: Long) = Seq(((i / 2) % keys, v))
        def reduce(k: Long, vs: Iterator[Long]) = Seq((k, fold(vs)))
      }
    Seq[(Iterator[Long] => Long, (Long, Long) => Long)](
      (_.sum, _ + _), (_.max, math.max)).foreach { case (fold, combine) =>
      val plain = MapReduce.run(input, client(fold)).collect().toMap
      val combined = MapReduce.runCombined(input, client(fold), combine)
      val Seq((_, shipped)) = keyedShuffleWrites(combined)
      assert(shipped > keys && shipped < n,
        s"$shipped pairs shipped: expected partial combining over several drains")
      assert(combined.collect().toMap == plain)
      assert(plain.size == keys)
    }
  }

  test("runCombined hands the client's reduce exactly one value per key") {
    import spark.implicits._
    // Each reduce call reports how many values it was given; every key
    // appears in all four map tasks, so the reduce side must fold their
    // partial values before calling the client.
    val client = new MapReduceClient[Long, Long, Long, Long, Long, Int] {
      def map(k: Long, v: Long) = Seq((v % 10, v))
      def reduce(k: Long, vs: Iterator[Long]) = Seq((k, vs.size))
    }
    val input = (1L to 400L).map(i => (i, i)).toDS().repartition(4)
    val got = MapReduce.runCombined(input, client, (a: Long, b: Long) => a + b)
      .collect().toSeq
    assert(got.map(_._1).sorted == (0L until 10L))
    assert(got.forall(_._2 == 1), s"reduce calls saw ${got.map(_._2)} values")
  }

  test("struct and null keys group like the collections model in every entry point") {
    import spark.implicits._
    // The kernel groups on the encoded key column: a case-class or tuple
    // K2 groups on its fields, and a null key is one group.
    val docs = (1L to 60L).map(i => (i, Seq("a", "b", "ab", "")(i.toInt % 4)))
    def check[K2](client: MapReduceClient[Long, String, K2, Long, String, Long])(
        implicit e2: org.apache.spark.sql.Encoder[(K2, Long)],
        ek2: org.apache.spark.sql.Encoder[K2], ord: Ordering[K2]): Unit = {
      val ds = docs.toDS().repartition(3)
      val want = asMultiset(model(docs, client))
      assert(asMultiset(MapReduce.run(ds, client).collect().toSeq) == want)
      assert(asMultiset(MapReduce.runSorted(ds, client).collect().toSeq) == want)
      assert(asMultiset(MapReduce.runCombined(ds, client,
        (a: Long, b: Long) => a + b).collect().toSeq) == want)
    }
    implicit val bySpecKey: Ordering[SpecKey] = Ordering.by(k => (k.word, k.bucket))
    check(new MapReduceClient[Long, String, SpecKey, Long, String, Long] {
      def map(k: Long, v: String) = Seq((SpecKey(v, k % 3), k))
      def reduce(k: SpecKey, vs: Iterator[Long]) = Seq((s"${k.word}/${k.bucket}", vs.sum))
    })
    check(new MapReduceClient[Long, String, (String, Long), Long, String, Long] {
      def map(k: Long, v: String) = Seq(((v, k % 2), k))
      def reduce(k: (String, Long), vs: Iterator[Long]) = Seq((s"${k._1}/${k._2}", vs.sum))
    })
    check(new MapReduceClient[Long, String, String, Long, String, Long] {
      def map(k: Long, v: String) = Seq((if (v.isEmpty) null else v, k))
      def reduce(k: String, vs: Iterator[Long]) = Seq((k, vs.sum))
    })
  }

  test("startJob reaches the scheduler while the global execution context is saturated") {
    import spark.implicits._
    import scala.concurrent.{ExecutionContext, Future}
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    // Blocked futures on every thread of the JVM-wide pool must not
    // hold a new job back: it runs on its own thread.
    val threads = Runtime.getRuntime.availableProcessors
    val started = new CountDownLatch(threads)
    val release = new CountDownLatch(1)
    (1 to threads).foreach { _ =>
      Future { started.countDown(); release.await() }(ExecutionContext.global)
    }
    var handle: JobHandle[(String, Long)] = null
    try {
      assert(started.await(30, TimeUnit.SECONDS), "the pool never filled")
      handle = MapReduce.startJob(spark,
        (1L to 100L).map(i => (i, s"w${i % 7}")).toDS(), WordCountClient)
      val deadline = System.nanoTime + TimeUnit.SECONDS.toNanos(30)
      while (handle.getJobState != JobState(Stage.Reduce, 100f) &&
          System.nanoTime < deadline) Thread.sleep(10)
      assert(handle.getJobState == JobState(Stage.Reduce, 100f),
        s"job stuck at ${handle.getJobState} while the pool was busy")
    } finally {
      release.countDown()
      if (handle != null) handle.close()
    }
  }

  test("SeqPatternClient matches the chained min-after model on random event logs") {
    import spark.implicits._
    // Model: t1 = min signup ts; t2 = min view ts > t1; t3 = min
    // purchase ts > t2 — the oracle SQL's formulation. The kernel path
    // must produce exactly the matched users with identical step
    // timestamps, for any event mix including ts ties (distinct
    // event_ids keep the V2 sort total).
    val types = Seq("signup", "view", "purchase", "click")
    val inputGen = Gen.listOf(
      Gen.zip(Gen.choose(0L, 5L),
        Gen.zip(Gen.choose(0L, 8L), Gen.oneOf(types))))
    samples(inputGen, 8).foreach { raw =>
      val input = raw.zipWithIndex.map { case ((uid, (ts, tpe)), i) =>
        (uid, (ts, i.toLong, tpe))
      }
      val steps = input.filter(e => e._2._3 != "click")
      val got = MapReduce.runSorted(steps.toDS(), SeqPatternClient)
        .collect().toMap
      val want = steps.groupBy(_._1).flatMap { case (uid, evs) =>
        val ts = evs.map(_._2)
        def minAfter(tpe: String, after: Long): Option[Long] = {
          val c = ts.filter(e => e._3 == tpe && e._1 > after).map(_._1)
          if (c.isEmpty) None else Some(c.min)
        }
        for {
          t1 <- { val c = ts.filter(_._3 == "signup").map(_._1)
                  if (c.isEmpty) None else Some(c.min) }
          t2 <- minAfter("view", t1)
          t3 <- minAfter("purchase", t2)
        } yield uid -> (t1, t2, t3)
      }
      assert(got == want)
    }
  }

  test("parallelism pins map-side width like multiThreadLevel") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    val input = (1L to 64L).map(i => (i, s"w$i"))
    val ds = MapReduce.run(
      input.toDS(),
      new MapReduceClient[Long, String, Long, String, Long, Long] {
        def map(k: Long, v: String) = Seq((k % 8, v))
        def reduce(k: Long, vs: Iterator[String]) = Seq((k, vs.size.toLong))
      },
      parallelism = 3)
    val pinned = ds.queryExecution.analyzed.collect {
      case r: Repartition if r.numPartitions == 3 => r
    }
    assert(pinned.nonEmpty)
    assert(ds.collect().map(_._2).sum == 64)
  }

  test("flagship wordcount over sf0.001 documents matches a local recount") {
    import org.apache.spark.sql.functions._
    val got = graft.SparkEntry.queries("mr_wordcount")(spark, sf0001)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val expected = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").count()
      .withColumnRenamed("count", "cnt")
      .orderBy("word")
    assert(got.collect().toSeq == expected.collect().toSeq)
  }

  test("emit-style client (reference API shape) matches the iterator-style client") {
    import spark.implicits._
    // charcount written the way the course API reads: emit2/emit3 calls
    val emitStyle = new EmitClient[Long, String, String, Long, String, Long] {
      def map(id: Long, text: String, emit2: (String, Long) => Unit): Unit =
        text.foreach(c => if (c != ' ') emit2(c.toString, 1L))
      def reduce(ch: String, vs: Iterator[Long], emit3: (String, Long) => Unit): Unit =
        emit3(ch, vs.sum)
    }
    val docs = Seq((1L, "a b ab"), (2L, "ba b"))
    val viaEmit = MapReduce.run(docs.toDS(), EmitClient.adapt(emitStyle)).collect().toSeq
    val direct = MapReduce.run(docs.toDS(), CharCountClient).collect().toSeq
    assert(asMultiset(viaEmit) == asMultiset(direct))
    assert(asMultiset(viaEmit) == Map(("a", 3L) -> 1, ("b", 4L) -> 1))
  }

  test("job handle reports progress stages and completes") {
    import spark.implicits._
    val input = (1L to 1000L).map(i => (i, s"word${i % 97}"))
    val handle = MapReduce.startJob(
      spark, input.toDS(),
      new MapReduceClient[Long, String, String, Long, String, Long] {
        def map(k: Long, v: String) = Seq((v, 1L))
        def reduce(k: String, vs: Iterator[Long]) = Seq((k, vs.sum))
      })
    val out = handle.waitForJob()
    // waitForJob forces the terminal snapshot (listener-bus delivery is
    // async), so this read is race-free by construction.
    val st = handle.getJobState
    assert(out.map(_._2).sum == 1000L)
    assert(st.stage == Stage.Reduce && st.percentage == 100f)
    handle.close()
  }

  test("MAP phase is observed mid-run under default AQE (ADVICE r01)") {
    import spark.implicits._
    // Slow map (2ms/element over 256 elements across 4 partitions) keeps
    // the shuffle-map stage alive long enough for the polling thread to
    // observe stage=MAP — the state the old max-stage-id heuristic never
    // reported under AQE.
    val input = (1L to 256L).map(i => (i, i))
    val handle = MapReduce.startJob(
      spark, input.toDS().repartition(4),
      new MapReduceClient[Long, Long, Long, Long, Long, Long] {
        def map(k: Long, v: Long) = { Thread.sleep(2); Seq((v % 16, v)) }
        def reduce(k: Long, vs: Iterator[Long]) = Seq((k, vs.sum))
      })
    val observed = scala.collection.mutable.Set[Stage]()
    @volatile var stop = false
    val poller = new Thread(() => {
      while (!stop) {
        observed.synchronized { observed += handle.getJobState.stage }
        Thread.sleep(1)
      }
    })
    poller.start()
    handle.waitForJob()
    stop = true; poller.join(1000)
    handle.close()
    assert(observed.synchronized(observed.contains(Stage.Map)),
      s"MAP never observed; saw $observed")
  }

  test("SHUFFLE phase surfaces between map completion and reduce submission") {
    import org.apache.spark.scheduler.{GraftTestEvents, SparkListenerStageCompleted, SparkListenerStageSubmitted}
    import GraftTestEvents._
    // Why synthetic events: the LIVE SHUFFLE window under AQE is the
    // driver's replanning gap between the shuffle-map job finishing and
    // the reduce stage submitting — typically sub-millisecond on
    // local[*], so a polling thread cannot observe it reliably (the MAP
    // test above stretches its window with slow tasks; nothing can
    // stretch a driver-side replan). Driving the listener with the
    // exact event sequence the scheduler emits asserts the transition
    // deterministically instead of flakily.
    val jp = new JobProgress("g1")
    val mapStage = stageInfo(0, 4, shuffleDepId = Some(7))
    val reduceStage = stageInfo(1, 2, shuffleDepId = None)
    jp.onJobStart(jobStart("g1", Seq(mapStage, reduceStage)))
    assert(jp.state == JobState(Stage.Undefined, 0f))
    jp.onStageSubmitted(SparkListenerStageSubmitted(mapStage))
    assert(jp.state == JobState(Stage.Map, 0f))
    (1 to 2).foreach(_ => jp.onTaskEnd(successfulTaskEnd(0)))
    assert(jp.state == JobState(Stage.Map, 50f))
    (1 to 2).foreach(_ => jp.onTaskEnd(successfulTaskEnd(0)))
    jp.onStageCompleted(SparkListenerStageCompleted(mapStage))
    assert(jp.state.stage == Stage.Shuffle,
      s"SHUFFLE not reported after map-stage completion; got ${jp.state}")
    jp.onStageSubmitted(SparkListenerStageSubmitted(reduceStage))
    assert(jp.state == JobState(Stage.Reduce, 0f))
    (1 to 2).foreach(_ => jp.onTaskEnd(successfulTaskEnd(1)))
    assert(jp.state == JobState(Stage.Reduce, 100f))
    // Events from a foreign job group must not perturb the state.
    val foreign = stageInfo(9, 8, Some(1))
    jp.onJobStart(jobStart("other-group", Seq(foreign)))
    jp.onStageSubmitted(SparkListenerStageSubmitted(foreign))
    assert(jp.state == JobState(Stage.Reduce, 100f))
  }

  test("concurrent jobs do not corrupt each other's progress (job-group scoping)") {
    import spark.implicits._
    val client = new MapReduceClient[Long, Long, Long, Long, Long, Long] {
      def map(k: Long, v: Long) = { Thread.sleep(1); Seq((v % 8, v)) }
      def reduce(k: Long, vs: Iterator[Long]) = Seq((k, vs.sum))
    }
    val in = (1L to 200L).map(i => (i, i))
    val h1 = MapReduce.startJob(spark, in.toDS().repartition(4), client)
    val h2 = MapReduce.startJob(spark, in.toDS().repartition(4), client)
    val o1 = h1.waitForJob(); val o2 = h2.waitForJob()
    assert(o1.map(_._2).sum == o2.map(_._2).sum)
    assert(h1.getJobState.stage == Stage.Reduce && h1.getJobState.percentage == 100f)
    assert(h2.getJobState.stage == Stage.Reduce && h2.getJobState.percentage == 100f)
    h1.close(); h2.close()
  }
}
