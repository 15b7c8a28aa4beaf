package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded top-k by (sortKey, id), smallest first — exact per-group
  * sampling with MAP-SIDE combine.
  *
  * The alternative formulation — `row_number() OVER (PARTITION BY
  * stratum ORDER BY key)` then `rk <= k` — shuffles EVERY row of the
  * table into one window partition per stratum. Strata are few by
  * nature (languages, sources, splits), so that plan concentrates a
  * 100 TB table onto a handful of tasks: maximal skew, by
  * construction. This aggregator instead caps every partial buffer at
  * k entries, so each map partition ships at most k rows per stratum
  * and the reduce side merges tiny sorted lists — the same partial/
  * final split Spark gives any agg, applied to exact sampling.
  *
  * The (sortKey, id) pair ordering makes the selection deterministic:
  * callers pass a uniform hash of the row id as sortKey (a keyed
  * md5/xxhash), giving a reproducible uniform sample with no RNG state
  * — re-running on the same corpus picks the same rows (the property
  * sample auditing needs), and adding documents only perturbs the
  * selection locally.
  */
final class TopKOrderedAgg(k: Int)
    extends Aggregator[(String, Long), Seq[(String, Long)], Seq[Long]] {

  // k = 0 would make reduce's full-buffer fast path (buf.length == k)
  // evaluate buf.last on the empty initial buffer and throw mid-task;
  // a zero-row sample is a degenerate ask anyway — reject at
  // construction.
  require(k > 0, s"TopKOrderedAgg needs k > 0, got $k")

  private val ord: Ordering[(String, Long)] =
    Ordering.Tuple2(Ordering.String, Ordering.Long)

  override def zero: Seq[(String, Long)] = Vector.empty

  override def reduce(buf: Seq[(String, Long)],
      row: (String, Long)): Seq[(String, Long)] =
    if (buf.length == k && ord.gteq(row, buf.last)) buf
    else ((buf :+ row).sorted(ord)).take(k)

  override def merge(x: Seq[(String, Long)],
      y: Seq[(String, Long)]): Seq[(String, Long)] =
    (x ++ y).sorted(ord).take(k)

  override def finish(r: Seq[(String, Long)]): Seq[Long] = r.map(_._2)

  override def bufferEncoder: Encoder[Seq[(String, Long)]] =
    ExpressionEncoder[Seq[(String, Long)]]()
  override def outputEncoder: Encoder[Seq[Long]] =
    ExpressionEncoder[Seq[Long]]()
}
