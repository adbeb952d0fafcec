package graft

import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the SparkEntry slot registry that name-keyed Map literals
  * enforced silently or not at all: a duplicate key in a `Map(...)` keeps
  * the last entry without a word, while a `Seq` keeps both.
  */
class SlotRegistrySpec extends AnyFunSuite {
  private val slots = SparkEntry.slots

  test("slot names are unique") {
    val dups = slots.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    assert(dups.isEmpty, s"duplicate slot names: ${dups.mkString(", ")}")
  }

  test("208 slots, 194 of them oracle-checked") {
    assert(slots.size == 208)
    assert(slots.count(_.oracle.isDefined) == 194)
  }

  test("the exact dials pinned to the oracle SF, each with an oracle") {
    val pinned = slots.filter(_.pinnedToOracleSf)
    assert(pinned.map(_.name).toSet == Set(
      "q12_neardup_minhash", "q40_neardup_ngram", "q51_dedup_near", "q55_range_join",
      "q137_knn_join", "q142_split_leakage", "q168_semdedup", "q179_jaccard_join_exact"))
    assert(pinned.forall(_.oracle.isDefined))
  }

  test("the ingest-bearing at-rest twins") {
    assert(slots.filter(_.ingestOnFirstPass).map(_.name).toSet ==
      Set("q137_knn_join_atrest", "q183_sq8_ivf_atrest"))
  }

  test("slot lookup finds a slot and names an unknown one") {
    assert(SparkEntry.slot("q01_agg").name == "q01_agg")
    val e = intercept[NoSuchElementException](SparkEntry.slot("nope"))
    assert(e.getMessage.contains("nope"))
  }
}
