package graft.mr

/** Example clients, mirroring the course's sample client (SURVEY.md §2.1
  * R12: map splits input into units emitting (unit, 1); reduce sums).
  */

/** Word frequency over (docId, text) inputs — the flagship workload.
  * The course sample counts chars; words keep the identical
  * map→group→reduce shape while staying SQL-oracle-friendly
  * (SURVEY.md §7.2). */
object WordCountClient
    extends MapReduceClient[Long, String, String, Long, String, Long] {
  override def map(docId: Long, text: String): IterableOnce[(String, Long)] =
    text.split(' ').iterator.filter(_.nonEmpty).map(w => (w, 1L))
  override def reduce(word: String, counts: Iterator[Long]): IterableOnce[(String, Long)] =
    Iterator.single((word, counts.sum))
}

/** Reduce-side join — the ONLY join the reference can express
  * (SURVEY.md §2.2): concatenate tagged inputs into one InputVec, group
  * by the join key, and let `reduce` see both sides of each key at
  * once. Values are strings tagged "C:" (customer name) / "O:" (order
  * total in cents — kept integral so the in-group sum is exact and
  * order-independent, like the decimal policy in the relational layer).
  */
object CustomerOrderJoinClient
    extends MapReduceClient[Long, String, Long, String, Long, (String, Long, Double)] {
  override def map(custkey: Long, tagged: String): IterableOnce[(Long, String)] =
    Iterator.single((custkey, tagged))
  override def reduce(custkey: Long, vs: Iterator[String]): IterableOnce[(Long, (String, Long, Double))] = {
    var name = ""; var nOrders = 0L; var cents = 0L
    vs.foreach { v =>
      if (v.startsWith("C:")) name = v.substring(2)
      else { nOrders += 1; cents += v.substring(2).toLong }
    }
    Iterator.single((custkey, (name, nOrders, cents / 100.0)))
  }
}

/** Grouped aggregation via the kernel — the TPC-H Q1 shape expressed
  * the only way the reference can: map emits (group-key, measures),
  * reduce folds the whole group. Measures are integral (unit counts and
  * cents) so in-group summation order cannot change the result. */
object GroupedAggClient
    extends MapReduceClient[String, (Long, Long), String, (Long, Long), String, (Long, Long)] {
  override def map(k: String, v: (Long, Long)): IterableOnce[(String, (Long, Long))] =
    Iterator.single((k, v))
  override def reduce(k: String, vs: Iterator[(Long, Long)]): IterableOnce[(String, (Long, Long))] = {
    var qty = 0L; var cents = 0L
    vs.foreach { case (q, c) => qty += q; cents += c }
    Iterator.single((k, (qty, cents)))
  }
}

/** Count-of-counts (word-frequency histogram): consumes the OUTPUT of
  * [[WordCountClient]] as its input — the reference's multi-job
  * pattern, where a second `startMapReduceJob` runs over the previous
  * job's OutputVec. In Spark the two jobs compose as one lazy plan
  * (two shuffles), so the intermediate word counts never land on the
  * driver the way the reference's shared OutputVec does. */
object CountOfCountsClient
    extends MapReduceClient[String, Long, Long, Long, Long, Long] {
  override def map(word: String, cnt: Long): IterableOnce[(Long, Long)] =
    Iterator.single((cnt, 1L))
  override def reduce(cnt: Long, ones: Iterator[Long]): IterableOnce[(Long, Long)] =
    Iterator.single((cnt, ones.sum))
}

/** Per-user event-sequence digest — the order-sensitive reduce that
  * requires [[MapReduce.runSorted]]: values are (tsUs, eventId,
  * eventType) tuples, so the kernel's V2 sort contract (lexicographic
  * encoder-field order) delivers them in (ts_us, event_id) order — a
  * total order, event_id being unique — and the reduce streams a
  * count + MD5 of the comma-joined event types in O(1) memory per
  * group. Under plain [[MapReduce.run]] the same reduce would be
  * nondeterministic (bag order); under the reference's kernel it would
  * need an O(group) in-reduce buffer+sort. */
object SequenceDigestClient
    extends MapReduceClient[Long, (Long, Long, String),
      Long, (Long, Long, String), Long, (Long, String)] {
  override def map(uid: Long, ev: (Long, Long, String)): IterableOnce[(Long, (Long, Long, String))] =
    Iterator.single((uid, ev))
  override def reduce(uid: Long, vs: Iterator[(Long, Long, String)]): IterableOnce[(Long, (Long, String))] = {
    var n = 0L
    val sb = new StringBuilder
    vs.foreach { v =>
      n += 1
      // NULL event_type: counted (count(*) semantics) but skipped in
      // the digest — DuckDB's string_agg drops NULLs, and appending
      // null would render the literal "null".
      if (v._3 != null) {
        if (sb.nonEmpty) sb.append(',')
        sb.append(v._3)
      }
    }
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(sb.toString.getBytes("UTF-8"))
    Iterator.single((uid, (n, d.map("%02x".format(_)).mkString)))
  }
}

/** Ordered 3-step sequence detection (signup → view → purchase, each
  * strictly later than the previous step) — MATCH_RECOGNIZE-style
  * pattern matching as an O(1)-memory state machine riding
  * [[MapReduce.runSorted]]'s (ts_us, event_id) group order. Greedy
  * first-qualifying IS min-qualifying under the sort, so the emitted
  * (t1, t2, t3) equal the SQL formulation's chained
  * `min(ts) WHERE ts > prev` exactly: a step candidate at ts == prev
  * fails the strict > on both engines, and any candidate sorted before
  * the previous step's match can't qualify (sort order ⇒ ts ≤ prev).
  * Users that never complete the pattern emit nothing. */
object SeqPatternClient
    extends MapReduceClient[Long, (Long, Long, String),
      Long, (Long, Long, String), Long, (Long, Long, Long)] {
  override def map(uid: Long, ev: (Long, Long, String)): IterableOnce[(Long, (Long, Long, String))] =
    Iterator.single((uid, ev))
  override def reduce(uid: Long, vs: Iterator[(Long, Long, String)]): IterableOnce[(Long, (Long, Long, Long))] = {
    var t1 = -1L; var t2 = -1L; var t3 = -1L
    vs.foreach { case (ts, _, tpe) =>
      if (t1 < 0) { if (tpe == "signup") t1 = ts }
      else if (t2 < 0) { if (tpe == "view" && ts > t1) t2 = ts }
      else if (t3 < 0) { if (tpe == "purchase" && ts > t2) t3 = ts }
    }
    if (t3 >= 0) Iterator.single((uid, (t1, t2, t3))) else Iterator.empty
  }
}

/** Character frequency — the literal course sample client shape. */
object CharCountClient
    extends MapReduceClient[Long, String, String, Long, String, Long] {
  override def map(docId: Long, text: String): IterableOnce[(String, Long)] =
    text.iterator.filterNot(_ == ' ').map(c => (c.toString, 1L))
  override def reduce(ch: String, counts: Iterator[Long]): IterableOnce[(String, Long)] =
    Iterator.single((ch, counts.sum))
}
