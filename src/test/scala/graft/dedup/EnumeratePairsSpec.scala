package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Dedup.enumeratePairs]] has two strategies — "inrow" (collect each
  * bucket, explode ordered pairs) and "join" (self-join on the bucket
  * keys) — and each call site picks one from its input. This pins what
  * each enumerates from one capped blocking relation that holds every edge
  * case: they agree on every non-null key, and differ on a null key, which
  * join never matches and inrow groups like any other key. No caller feeds
  * a null key (see enumeratePairs' scaladoc).
  */
class EnumeratePairsSpec extends graft.SparkSpec {
  import spark.implicits._

  private val cap = 3

  /** (k, id) blocking rows: a two-member null-key bucket, a singleton
    * bucket, an over-cap bucket, a pair sharing two keys and a plain
    * three-member bucket.
    */
  private lazy val blocked: DataFrame = Seq[(Option[String], Long)](
    (None, 1L), (None, 2L),
    (Some("single"), 3L),
    (Some("big"), 4L), (Some("big"), 5L), (Some("big"), 6L), (Some("big"), 7L),
    (Some("x"), 8L), (Some("x"), 9L), (Some("y"), 9L), (Some("y"), 8L),
    (Some("t"), 10L), (Some("t"), 11L), (Some("t"), 12L),
  ).toDF("k", "id")

  private def pairs(impl: String): Set[(Long, Long)] =
    Dedup.enumeratePairs(Dedup.dropOversized(blocked, cap, 2, "k"), Seq("k"),
        struct(col("id")), impl)
      .select(col("__a.id"), col("__b.id"))
      .as[(Long, Long)].collect().toSet

  test("inrow and join enumerate the same (id_a, id_b) set on non-null keys") {
    val nonNull = Set((8L, 9L), (10L, 11L), (10L, 12L), (11L, 12L))
    val nullKeyPair = (1L, 2L)
    assert(pairs("join") == nonNull)
    assert(pairs("inrow") == nonNull + nullKeyPair)
  }
}
