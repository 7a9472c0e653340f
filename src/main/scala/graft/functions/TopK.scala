package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded bottom-k typed [[Aggregator]] over (group_key, sort1,
  * sort2, payload) rows — [[TopKScored]]'s ASCENDING, all-integer
  * sibling: per group, the k rows with the smallest (sort1, sort2),
  * kept sorted, payload carried along untouched. Same scale argument
  * as TopKScored: the buffer never exceeds k entries and Aggregators
  * partial-aggregate, so each map task ships AT MOST k rows per group
  * to the shuffle — the shape that replaces
  * `row_number().over(Window.partitionBy(g).orderBy(s1, s2))` when a
  * group's candidate set scales with the corpus (q159's per-label and
  * q167's per-anchor selections: few groups × huge corpus means each
  * window partition is corpus-sized, and the window form degenerates
  * to a handful of mega-partition sorts). Ordering is (sort1 ASC,
  * sort2 ASC) with sort2 a unique tiebreak by contract, so the output
  * sequence order IS the rank — bit-identical to the window form,
  * which the PlanSpec twin test pins.
  */
class BottomKRanked(k: Int)
    extends Aggregator[(Long, Long, Long, Long), Seq[(Long, Long, Long)],
      Seq[(Long, Long, Long)]] {
  private def bounded(s: Seq[(Long, Long, Long)]): Seq[(Long, Long, Long)] =
    s.sortBy(t => (t._1, t._2)).take(k)
  override def zero: Seq[(Long, Long, Long)] = Vector.empty
  override def reduce(b: Seq[(Long, Long, Long)],
      a: (Long, Long, Long, Long)): Seq[(Long, Long, Long)] =
    bounded(b :+ ((a._2, a._3, a._4)))
  override def merge(b1: Seq[(Long, Long, Long)],
      b2: Seq[(Long, Long, Long)]): Seq[(Long, Long, Long)] = bounded(b1 ++ b2)
  override def finish(r: Seq[(Long, Long, Long)]): Seq[(Long, Long, Long)] =
    bounded(r)
  override def bufferEncoder: Encoder[Seq[(Long, Long, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[(Long, Long, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
}

/** Bounded top-k typed [[Aggregator]] over (q_id, vec_id, cosine)
  * rows — the §4.3 "top-k heap aggregator" extension point: per-group
  * top-k WITHOUT a per-group window sort. The buffer never holds more
  * than k entries, and because Aggregators partial-aggregate, each map
  * task ships AT MOST k rows per group to the shuffle — at 100 TB the
  * difference between "sort every group's candidate set" (the window
  * form ranks all rows before cutting) and "merge tasks×k survivors"
  * (the TakeOrdered shape, but PER GROUP and composable inside any
  * aggregation).
  *
  * Ordering matches the window form exactly: cosine DESC then vec_id
  * ASC, with cosine computed by the same IEEE expression
  * ([[Portable.cosineq]]) on both paths, so q99 hash-matches q19's
  * brute-force oracle. k is tiny by contract; the O(k log k) insert
  * sort is a deliberate simplicity trade a production kernel replaces
  * with a bounded priority queue at large k — same plan shape.
  */
class TopKScored(k: Int)
    extends Aggregator[(Long, Long, Double), Seq[(Long, Double)],
      Seq[(Long, Double)]] {
  private def bounded(s: Seq[(Long, Double)]): Seq[(Long, Double)] =
    s.sortBy(t => (-t._2, t._1)).take(k)
  override def zero: Seq[(Long, Double)] = Vector.empty
  override def reduce(b: Seq[(Long, Double)],
      a: (Long, Long, Double)): Seq[(Long, Double)] =
    bounded(b :+ ((a._2, a._3)))
  override def merge(b1: Seq[(Long, Double)],
      b2: Seq[(Long, Double)]): Seq[(Long, Double)] = bounded(b1 ++ b2)
  override def finish(r: Seq[(Long, Double)]): Seq[(Long, Double)] = bounded(r)
  override def bufferEncoder: Encoder[Seq[(Long, Double)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[(Long, Double)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
}
