package graft

import graft.similarity.Ann
import org.apache.spark.sql.functions._

/** The candidateJoin strategies are PLAN alternatives, not semantic ones:
  * shuffle-by-cell and broadcast-hash pair the exact same (query, corpus)
  * candidates, so the scored top-k must agree wherever cosine scores are
  * untied. Round 14 adjudicated them on one HEAD (shuffle won); see
  * SCALE.md round 14 for the measurements.
  */
class IvfJoinStrategySpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  test("shuffle and broadcast candidate pairing return identical top-k sets") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val c = math.max(8L, e.count() / 64L).toInt // force a multi-cell layout
    val queries = e.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id").as("qid"), col("embedding"))
    def run(strategy: String) =
      Ann.ivfTopK(e, queries, "vec_id", "embedding", "qid", "embedding",
          k = 5, numCentroids = c, nprobe = 2, candidateJoin = strategy)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cos"))
    val b = run("broadcast").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val s = run("shuffle").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // compare as (query, neighbor, score) SETS: rank order within equal
    // scores may differ between physical plans, membership may not
    assert(b == s, s"strategies disagree: only-broadcast=${(b -- s).take(5)} only-shuffle=${(s -- b).take(5)}")
    assert(b.nonEmpty)
  }

  test("sq8 codec agrees across strategies too") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val c = math.max(8L, e.count() / 64L).toInt
    val queries = e.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id").as("qid"), col("embedding"))
    def run(strategy: String) =
      Ann.ivfTopK(e, queries, "vec_id", "embedding", "qid", "embedding",
          k = 5, numCentroids = c, nprobe = 2, codec = "sq8", candidateJoin = strategy)
        .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cos"))
    val b = run("broadcast").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val s = run("shuffle").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(b == s, s"sq8 strategies disagree")
  }

  test("candidateJoin rejects unknown strategies") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val ex = intercept[IllegalArgumentException] {
      Ann.ivfTopK(e, e.limit(1).select(col("vec_id").as("qid"), col("embedding")),
        "vec_id", "embedding", "qid", "embedding", candidateJoin = "hash")
    }
    assert(ex.getMessage.contains("candidateJoin"))
  }
}
