package graft

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

/** Round 17: [[graft.functions.TopKAgg]] (TypedImperativeAggregate over raw
  * rows) replaced the typed `udaf(TopKAggregator)` in every ANN/top-k path.
  * These tests pin (1) bit-for-bit equivalence against the legacy aggregator
  * on tie-heavy data, and (2) the plan property the rewrite exists for: no
  * Encoder round trip (Serialize/DeserializeToObject) around the aggregate.
  */
class TopKAggSpec extends SparkSpec {
  import spark.implicits._

  /** Tie-heavy scored rows: sims quantized to 1/20 so the id-DESC tie-break
    * decides most boundaries; 7 query groups × ~700 candidates.
    */
  private lazy val scored = {
    val rnd = new scala.util.Random(7)
    (0 until 5000).map { i =>
      val sim = math.floor(rnd.nextDouble() * 20) / 20.0
      ((i % 7).toLong, i.toLong, sim)
    }.toDF("query_id", "__nid", "__sim")
  }

  private def collectTop(df: org.apache.spark.sql.DataFrame): Map[Long, (Seq[Double], Seq[Long])] =
    df.select(col("query_id"), col("top.sims"), col("top.ids"))
      .as[(Long, Seq[Double], Seq[Long])]
      .collect()
      .map { case (q, s, i) => q -> (s, i) }
      .toMap

  test("TopKAgg matches the legacy udaf(TopKAggregator) exactly, ties included") {
    for (k <- Seq(1, 5, 64)) {
      val legacyAgg = udaf(new TopKAggregator(k),
        Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong))
      val legacy = collectTop(
        scored.groupBy(col("query_id")).agg(legacyAgg(col("__sim"), col("__nid")).as("top")))
      val fresh = collectTop(
        scored.groupBy(col("query_id"))
          .agg(graft.functions.NativeFunctions.topK(col("__sim"), col("__nid"), k).as("top")))
      assert(fresh.keySet == legacy.keySet)
      fresh.keySet.foreach { q =>
        assert(fresh(q)._1 == legacy(q)._1, s"k=$k query $q sims differ")
        assert(fresh(q)._2 == legacy(q)._2, s"k=$k query $q ids differ")
      }
    }
  }

  test("top-k plan has no Encoder round trip and uses an object aggregate") {
    val plan = scored.groupBy(col("query_id"))
      .agg(graft.functions.NativeFunctions.topK(col("__sim"), col("__nid"), 3).as("top"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SerializeFromObject"), s"unexpected SerializeFromObject:\n$plan")
    assert(!plan.contains("DeserializeToObject"), s"unexpected DeserializeToObject:\n$plan")
    assert(plan.contains("graft_topk"), s"aggregate missing from plan:\n$plan")
  }

  test("k larger than any group returns whole groups, sorted (sim, id) descending") {
    val fresh = collectTop(
      scored.where(col("query_id") === 0).limit(10).groupBy(col("query_id"))
        .agg(graft.functions.NativeFunctions.topK(col("__sim"), col("__nid"), 100).as("top")))
    val (sims, ids) = fresh(0L)
    assert(sims.length == 10 && ids.length == 10)
    val pairs = sims.zip(ids)
    assert(pairs == pairs.sortWith { case ((s1, i1), (s2, i2)) =>
      s1 > s2 || (s1 == s2 && i1 > i2) })
  }
}
