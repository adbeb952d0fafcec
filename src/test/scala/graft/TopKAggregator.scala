package graft

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Bounded top-k buffer: parallel (sims, ids) arrays, never more than k
  * entries. Encodes with the plain product encoder, so it shuffles as two
  * primitive arrays.
  */
case class TopKBuf(sims: Array[Double], ids: Array[Long])

/** The typed-udaf top-k that production paths ran before
  * [[graft.functions.TopKAgg]] replaced it, kept as the reference
  * implementation TopKAggSpec compares TopKAgg against.
  *
  * Map-side-partial top-k: each partition's partial buffer keeps at most k
  * (sim, id) entries per group, so the shuffle moves |groups|·k·|partitions|
  * rows — never the corpus. Ordering is (sim, id) descending-lexicographic
  * (id DESC tie-break), matching the DuckDB oracle's
  * `ORDER BY cos DESC, neighbor_id DESC`.
  */
class TopKAggregator(k: Int) extends Aggregator[(Double, Long), TopKBuf, TopKBuf] {
  private def gt(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    s1 > s2 || (s1 == s2 && i1 > i2)

  override def zero: TopKBuf = TopKBuf(Array.empty, Array.empty)

  override def reduce(b: TopKBuf, in: (Double, Long)): TopKBuf = {
    val (s, id) = in
    if (b.sims.length < k) TopKBuf(b.sims :+ s, b.ids :+ id)
    else {
      var mi = 0
      var i  = 1
      while (i < b.sims.length) {
        if (gt(b.sims(mi), b.ids(mi), b.sims(i), b.ids(i))) mi = i
        i += 1
      }
      if (gt(s, id, b.sims(mi), b.ids(mi))) { b.sims(mi) = s; b.ids(mi) = id }
      b
    }
  }

  private def sortedDesc(b: TopKBuf): Array[(Double, Long)] =
    b.sims.zip(b.ids).sortWith { case ((s1, i1), (s2, i2)) => gt(s1, i1, s2, i2) }

  override def merge(a: TopKBuf, b: TopKBuf): TopKBuf = {
    val all = (sortedDesc(a) ++ sortedDesc(b)).sortWith { case ((s1, i1), (s2, i2)) => gt(s1, i1, s2, i2) }
    val top = all.take(k)
    TopKBuf(top.map(_._1), top.map(_._2))
  }

  override def finish(b: TopKBuf): TopKBuf = {
    val top = sortedDesc(b)
    TopKBuf(top.map(_._1), top.map(_._2))
  }

  override def bufferEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
  override def outputEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
}
