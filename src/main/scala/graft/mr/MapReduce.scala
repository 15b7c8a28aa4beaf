package graft.mr

import graft.sources.GraftSession
import org.apache.spark.sql.{Dataset, Encoder, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Spark-native re-expression of the reference's only executor,
  * `startMapReduceJob(client, inputVec, outputVec, multiThreadLevel)`
  * (SURVEY.md §3.1).
  *
  * The reference's four physical phases map onto one declarative Spark
  * plan; every piece of its hand-built machinery is replaced by a Spark
  * built-in that scales past one process:
  *
  *  - MAP (morsel-stealing worker threads)  → `Dataset.flatMap` tasks
  *  - SORT (per-thread `std::sort` by K2)   → Spark's sort-based shuffle
  *  - BARRIER (pthread barrier)             → the stage boundary at the
  *    shuffle `Exchange`
  *  - SHUFFLE (single thread 0 merging all runs — the reference's
  *    scalability bottleneck) → fully parallel hash-partitioned exchange;
  *    deliberately NOT reproduced single-threaded
  *  - REDUCE (semaphore-fed workers)        → `flatMapGroups` tasks
  *
  * Grouping semantics: the reference groups K2 by *ordering equivalence*
  * (`!(a<b) && !(b<a)`, SURVEY.md §1.2). We require an `Ordering[K2]` and
  * group by the encoded key; for any lawful Ordering (consistent with
  * equals) these coincide, and requiring the Ordering keeps the contract
  * explicit in the signature, like the reference's `operator<` mandate.
  *
  * Output is an unordered bag, exactly like the reference's
  * mutex-appended `OutputVec` (order nondeterministic, multiset
  * semantics).
  */
object MapReduce {

  /** Run a MapReduce job and return the output dataset (lazy — attach an
    * action to execute, like the reference's `waitForJob`).
    *
    * @param parallelism the reference's `multiThreadLevel`. 0 (default)
    *   keeps the input's partitioning and the session's
    *   `spark.sql.shuffle.partitions` — the right choice on a real
    *   cluster. A positive value pins the map-side width only (like
    *   `multiThreadLevel` pins worker count); reduce-side width still
    *   comes from `spark.sql.shuffle.partitions` / AQE.
    *
    * Grouping is on the encoded key column `_1` of the mapped pairs, so
    * the key crosses the shuffle once and is decoded by `ek2` for the
    * client's reduce.
    */
  def run[K1, V1, K2, V2, K3, V3](
      input: Dataset[(K1, V1)],
      client: MapReduceClient[K1, V1, K2, V2, K3, V3],
      parallelism: Int = 0)(implicit
      ord: Ordering[K2],
      e2: Encoder[(K2, V2)],
      ek2: Encoder[K2],
      e3: Encoder[(K3, V3)]): Dataset[(K3, V3)] = {
    // parallelism pins the map-side width the way multiThreadLevel pins
    // worker count. The reduce-side width belongs to
    // spark.sql.shuffle.partitions + AQE (which coalesces small shuffles
    // at low SF and re-plans skew at high SF) — the harness pins it to
    // the CPU count, and at 100 TB AQE's choice beats any hardcoded one.
    val sized = if (parallelism > 0) input.repartition(parallelism) else input
    grouped(sized.flatMap { case (k1, v1) => client.map(k1, v1) })
      .flatMapGroups { (k2, pairs) =>
        client.reduce(k2, pairs.map(_._2)).iterator
      }
  }

  /** [[run]] with a COMBINER — Hadoop's classic map-side
    * pre-aggregation contract, which the reference kernel cannot
    * express (its reduce only ever sees the full shuffled group): the
    * caller supplies an associative+commutative `combine` over V2, and
    * each map task folds its own pairs before the exchange (in-mapper
    * combining), so a task ships one combined value per key instead
    * of every intermediate pair — the map-side-combine shape that makes
    * high-cardinality-key aggregation survive 100 TB.
    *
    * The fold lives in the same `mapPartitions` as `client.map`: a hash
    * map from K2 to the running V2. It holds at most a fixed number of
    * keys; when full it is drained into the shuffle and starts again,
    * and it is drained once more at the end of the task. A task's
    * memory is therefore bounded by that cap, not by its partition, and
    * a key that spans several drains simply ships several partial
    * values. The reduce side folds each group's partial values with
    * `combine` and hands the client's reduce that single value.
    *
    * Contract (the Hadoop combiner law): for every key,
    * `client.reduce(k, vs)` must equal
    * `client.reduce(k, Iterator(vs.reduce(combine)))` — i.e. the
    * reduce must be algebraic in `combine`. The client's reduce runs
    * once per key on the single combined value, so emission shape
    * (0..N outputs, K3/V3 mapping) stays fully client-controlled.
    *
    * Key contract: the map-side fold keys on K2's `equals`/`hashCode`,
    * while the shuffle groups on K2's encoding, and the encoding decides
    * what is one key. `equals` must therefore never merge two keys whose
    * encodings differ (the same lawfulness [[run]] asks of
    * `Ordering[K2]`). An `equals` finer than the encoding, such as an
    * array's identity, only combines less; the result is unchanged. */
  def runCombined[K1, V1, K2, V2, K3, V3](
      input: Dataset[(K1, V1)],
      client: MapReduceClient[K1, V1, K2, V2, K3, V3],
      combine: (V2, V2) => V2,
      parallelism: Int = 0)(implicit
      e2: Encoder[(K2, V2)],
      ek2: Encoder[K2],
      ev2: Encoder[V2],
      e3: Encoder[(K3, V3)]): Dataset[(K3, V3)] = {
    val sized = if (parallelism > 0) input.repartition(parallelism) else input
    val combined = sized.mapPartitions { in =>
      new MapSideCombiner[K2, V2](
        in.flatMap { case (k1, v1) => client.map(k1, v1) }, combine)
    }
    grouped(combined).flatMapGroups { (k2, pairs) =>
      client.reduce(k2, Iterator.single(pairs.map(_._2).reduce(combine))).iterator
    }
  }

  /** [[run]] with SECONDARY SORT: reduce sees each group's values in
    * ascending V2 order, streamed in O(1) memory per group — the
    * classic MapReduce pattern the reference's kernel cannot express
    * (its R3 sort orders by K2 only, so an order-sensitive reduce —
    * sequence reconstruction, sessionization, time-series folds — must
    * buffer + sort the whole group in user code: O(group) memory, the
    * thing that dies on a hot key). Here the value order RIDES THE
    * SHUFFLE'S OWN SORT MACHINERY (`flatMapSortedGroups` plans one
    * Exchange + one SortExec over (key, value), exactly the sort the
    * sort-based shuffle already does for grouping) — no second shuffle,
    * no per-group buffer.
    *
    * Order contract (the V2 analogue of `run`'s K2 note): values
    * arrive in Spark's ascending order of V2's ENCODED form — for
    * primitives the natural order, for case classes / tuples the
    * lexicographic order of their encoder fields. A client whose
    * desired order is not a field prefix of V2 reshapes V2 so it is
    * (the same discipline MapReduce-era secondary sort imposed via
    * composite keys). */
  def runSorted[K1, V1, K2, V2, K3, V3](
      input: Dataset[(K1, V1)],
      client: MapReduceClient[K1, V1, K2, V2, K3, V3],
      parallelism: Int = 0)(implicit
      ord: Ordering[K2],
      e2: Encoder[(K2, V2)],
      ek2: Encoder[K2],
      e3: Encoder[(K3, V3)]): Dataset[(K3, V3)] = {
    val sized = if (parallelism > 0) input.repartition(parallelism) else input
    val mapped = sized.flatMap { case (k1, v1) => client.map(k1, v1) }
    // "_2" is the VALUE side of the grouped (K2, V2) pair. For a
    // struct-encoded V2 (tuples/case classes), sort on its fields
    // EXPANDED in declaration order rather than on the struct column:
    // identical lexicographic order (the documented V2 contract), but
    // each sort key is a flat column, so SortExec compares
    // field-by-field directly instead of through the interpreted
    // struct ordering (measured neutral at fixture scale — the win is
    // wider rows/deeper structs, where the struct comparator's
    // per-comparison allocation shows). Scalar V2 sorts on the column
    // itself. NULL handling is identical for the non-null V2 values a
    // typed client emits. The column is taken from `mapped` itself, not
    // by name: a tuple K2 groups on fields that are also named _1, _2.
    val value = mapped.col("_2")
    val sortCols = mapped.schema("_2").dataType match {
      case s: StructType => s.fieldNames.toSeq.map(value.getField)
      case _ => Seq(value)
    }
    grouped(mapped).flatMapSortedGroups(sortCols: _*) {
      (k2, pairs) => client.reduce(k2, pairs.map(_._2)).iterator
    }
  }

  /** Async launch — parity with `startMapReduceJob` returning an opaque
    * handle immediately while threads run (SURVEY.md §3.1/§3.3). The
    * returned [[JobHandle]] supports `getJobState` (via a registered
    * [[JobProgress]] listener), `waitForJob`, and `close`. */
  def startJob[K1, V1, K2, V2, K3, V3](
      spark: SparkSession,
      input: Dataset[(K1, V1)],
      client: MapReduceClient[K1, V1, K2, V2, K3, V3],
      parallelism: Int = 0)(implicit
      ord: Ordering[K2],
      e2: Encoder[(K2, V2)],
      ek2: Encoder[K2],
      e3: Encoder[(K3, V3)]): JobHandle[(K3, V3)] = {
    // Job-group scoping: the listener bus is context-wide, so the
    // progress listener filters to this group id — concurrent jobs on
    // the same session no longer interleave into one Snap.
    val groupId = s"graft-mr-${java.util.UUID.randomUUID()}"
    val progress = new JobProgress(groupId)
    spark.sparkContext.addSparkListener(progress)
    val ds = run(input, client, parallelism)
    // A fresh thread, not a shared pool: a pool whose threads are all
    // blocked elsewhere would hold the job back from the scheduler, and
    // getJobState would read UNDEFINED until a thread freed.
    val running = GraftSession.async {
      // Job groups are thread-local; set it on the thread that runs the
      // action so every physical job (incl. AQE sub-jobs) carries it.
      spark.sparkContext.setJobGroup(groupId, "graft MapReduce job")
      try ds.collect().toSeq
      finally spark.sparkContext.clearJobGroup()
    }
    new JobHandle(spark, progress, running)
  }

  /** The shuffle every entry point shares: group the mapped pairs on
    * their encoded key column `_1`, which the exchange carries anyway.
    * A key lambda (`groupByKey(_._1)`) would decode every pair to call
    * it and append a second copy of the key for the exchange to ship. A
    * struct-encoded K2 (case class, tuple) groups on its fields, which
    * `ek2` decodes by name. */
  private def grouped[K2, V2](mapped: Dataset[(K2, V2)])(implicit
      e2: Encoder[(K2, V2)],
      ek2: Encoder[K2]): KeyValueGroupedDataset[K2, (K2, V2)] = {
    val keyCols = mapped.schema("_1").dataType match {
      case s: StructType => s.fieldNames.toSeq.map(f => col(s"_1.$f"))
      case _ => Seq(col("_1"))
    }
    mapped.groupBy(keyCols: _*).as[K2, (K2, V2)]
  }

  /** Keys a [[MapSideCombiner]] holds before it drains. */
  private val CombineCap = 65536

  /** `runCombined`'s in-mapper fold over one task's pairs: values fold
    * per key into a hash map, which is drained whenever it holds
    * [[CombineCap]] keys and once more when the pairs run out. Lazy, so
    * a task holds at most the map, never its whole partition. */
  private final class MapSideCombiner[K, V](
      pairs: Iterator[(K, V)],
      combine: (V, V) => V) extends Iterator[(K, V)] {
    private val table = new java.util.HashMap[K, V]()
    private var drain = table.entrySet.iterator

    def hasNext: Boolean = drain.hasNext || { refill(); drain.hasNext }

    def next(): (K, V) = {
      if (!hasNext) throw new NoSuchElementException("no combined pairs left")
      val e = drain.next()
      (e.getKey, e.getValue)
    }

    private def refill(): Unit = {
      table.clear()
      while (table.size < CombineCap && pairs.hasNext) {
        val (k, v) = pairs.next()
        val prev = table.get(k)
        // A null V2 is a value, not a missing key.
        table.put(k,
          if (prev == null && !table.containsKey(k)) v else combine(prev, v))
      }
      drain = table.entrySet.iterator
    }
  }
}

/** Parity facade for the reference's `JobHandle` + `getJobState` +
  * `waitForJob` + `closeJobHandle` (SURVEY.md §2.1 R8–R11). */
final class JobHandle[OUT] private[mr] (
    spark: SparkSession,
    progress: JobProgress,
    result: GraftSession.Running[Seq[OUT]]) {

  /** `getJobState` — stage + percentage from the listener. */
  def getJobState: JobState = progress.state

  /** `waitForJob` — blocks until done; idempotent like the reference's
    * single-join guard. Forces the terminal listener state: bus delivery
    * is async, so without this a `getJobState` immediately after could
    * still see a mid-run snapshot. */
  def waitForJob(): Seq[OUT] = {
    val out = result.get()
    progress.finish()
    out
  }

  /** `closeJobHandle` — wait, then detach the listener. The listener is
    * detached even when the job failed (waitForJob rethrows the job's
    * exception), otherwise every failed startJob would leak a listener
    * on the context bus for the life of the session. */
  def close(): Unit =
    try waitForJob()
    finally spark.sparkContext.removeSparkListener(progress)
}
