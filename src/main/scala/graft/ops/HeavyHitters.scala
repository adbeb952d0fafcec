package graft.ops

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Heavy hitters (frequent terms / n-grams) over a text corpus — single-pass
  * bounded memory, then an exact recount of the surviving candidates.
  *
  * Why not plain `groupBy(term).count.orderBy.limit(k)`: that shuffles the
  * ENTIRE term dictionary. At 100 TB of web text the dictionary (typos, URLs,
  * hashes, code identifiers) is billions of keys — the shuffle is the
  * bottleneck and the reduce side holds state proportional to the vocabulary.
  * The sketch path never shuffles more than `capacity` rows per map task:
  *
  *   1. **Misra–Gries** (Misra & Gries 1982; mergeable-summaries semantics
  *      per Agarwal et al., PODS'12): each map task folds its tokens into a
  *      ≤`capacity`-entry summary; partial summaries merge pairwise (sum,
  *      then subtract the (capacity+1)-th largest and drop ≤0 — the merge
  *      that keeps the error bound additive). Guarantee: any term with true
  *      frequency > N/(capacity+1) SURVIVES into the merged summary.
  *   2. **Exact recount**: the ≤`capacity` candidates broadcast back over
  *      the token stream for exact counts — one scan, no full-dictionary
  *      shuffle (the broadcast-semi-join keeps only candidate rows).
  *   3. **Coverage proof at runtime**: if the sketch NEVER evicted, the
  *      candidate set is the complete dictionary and the result is exact by
  *      construction (even when the corpus has fewer than k distinct terms).
  *      Otherwise a full k rows whose k-th exact count exceeds
  *      N/(capacity+1) proves no evicted term can reach the top-k —
  *      asserted, not assumed. Failure is LOUD (raise capacity), never a
  *      silent approximation.
  *
  * The typed `Aggregator` shape keeps the sketch inside Spark's partial
  * aggregation (map-side combine) instead of a hand-rolled mapPartitions.
  *
  * **Cache vs rescan (deliberate):** the sketch pass and the recount pass
  * each scan the token stream once — two clean scans total. At 100 TB,
  * caching the exploded tokens to avoid the second scan would itself cost a
  * full materialization (tokens are ~1× the text bytes) plus eviction
  * pressure on every executor; two streaming scans of columnar parquet are
  * cheaper and embarrassingly parallel. Callers at small scale who already
  * hold a cached input pay nothing extra either way.
  */
object HeavyHitters {

  /** Misra–Gries state sentinels, stored alongside the term counts so
    * coverage can be proven without a second scan. Keys embed `\u0000`
    * (written as escapes — never literal NUL bytes in source), which the
    * whitespace tokenizer cannot produce, so they cannot collide with a
    * real token.
    */
  private val TotalKey = "\u0000total\u0000"

  /** Nonzero value ⇔ some decrement/subtraction step ran somewhere in the
    * sketch's history — i.e. the candidate set MAY be incomplete. When this
    * stays 0, the summary holds the complete dictionary with exact counts.
    */
  private val EvictedKey = "\u0000evicted\u0000"

  private def isSentinel(k: String): Boolean = k == TotalKey || k == EvictedKey

  final class MisraGries(capacity: Int)
      extends Aggregator[String, java.util.HashMap[String, Long], Seq[(String, Long)]] {
    require(capacity > 0, "capacity must be positive")

    override def zero: java.util.HashMap[String, Long] = new java.util.HashMap[String, Long]()

    private def trackedSize(b: java.util.HashMap[String, Long]): Int =
      b.size() - (if (b.containsKey(TotalKey)) 1 else 0) - (if (b.containsKey(EvictedKey)) 1 else 0)

    override def reduce(
        b: java.util.HashMap[String, Long], term: String): java.util.HashMap[String, Long] = {
      b.merge(TotalKey, 1L, (x: Long, y: Long) => x + y)
      val cur = b.get(term)
      if (cur != null) b.put(term, cur + 1L)
      else if (trackedSize(b) < capacity) b.put(term, 1L)
      else {
        // decrement-all step: every tracked count pays one; zeros evicted.
        // From here on the summary is a lower-bound sketch, not a census.
        b.put(EvictedKey, 1L)
        val it = b.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (!isSentinel(e.getKey)) {
            if (e.getValue <= 1L) it.remove() else e.setValue(e.getValue - 1L)
          }
        }
      }
      b
    }

    override def merge(
        b1: java.util.HashMap[String, Long],
        b2: java.util.HashMap[String, Long]): java.util.HashMap[String, Long] = {
      val (big, small) = if (b1.size() >= b2.size()) (b1, b2) else (b2, b1)
      small.forEach { (k, v) =>
        big.merge(k, v, (x: Long, y: Long) => x + y) // sentinels sum too: evicted stays nonzero
      }
      if (trackedSize(big) > capacity) {
        // subtract the (capacity+1)-th largest count from all, drop <=0 —
        // the mergeable-summaries reduction that preserves the MG bound
        big.put(EvictedKey, big.getOrDefault(EvictedKey, 0L) + 1L)
        val counts = new Array[Long](trackedSize(big))
        var i      = 0
        big.forEach { (k, v) => if (!isSentinel(k)) { counts(i) = v; i += 1 } }
        java.util.Arrays.sort(counts)
        val sub = counts(counts.length - capacity - 1)
        val it  = big.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (!isSentinel(e.getKey)) {
            if (e.getValue <= sub) it.remove() else e.setValue(e.getValue - sub)
          }
        }
      }
      big
    }

    override def finish(b: java.util.HashMap[String, Long]): Seq[(String, Long)] = {
      val out = Seq.newBuilder[(String, Long)]
      out += ((TotalKey, b.getOrDefault(TotalKey, 0L)))
      out += ((EvictedKey, b.getOrDefault(EvictedKey, 0L)))
      b.forEach { (k, v) => if (!isSentinel(k)) out += ((k, v)) }
      out.result()
    }

    override def bufferEncoder: Encoder[java.util.HashMap[String, Long]] =
      Encoders.kryo[java.util.HashMap[String, Long]]
    override def outputEncoder: Encoder[Seq[(String, Long)]] =
      ExpressionEncoder[Seq[(String, Long)]]()
  }

  /** One token row per whitespace token of the lower-cased text (the q76
    * tokenizer, so sketch counts and term-stats counts agree).
    */
  private def tokenRows(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextFunctions.tokens(lower(col(textCol)))).as("term"))

  /** Space-joined word n-grams of the q76 token sequence, one row per gram.
    * Pure codegen (sequence + transform + slice + array_join) — no UDF, no
    * shuffle; the gram stream is ~n× the token bytes but streams through
    * the same sketch without materializing.
    */
  private def ngramRows(df: DataFrame, textCol: String, n: Int): DataFrame = {
    // Two-stage projection ON PURPOSE: the gram expression references the
    // token array 3× (two size()s + slice), and inlining the regex split
    // into each reference re-tokenizes every document 3× — measured 10×
    // slower at sf0.1. Materializing the array under an alias
    // keeps one split per row; CollapseProject leaves multi-referenced
    // non-cheap producers staged, so the plan stays two projections.
    val staged = df.select(TextFunctions.tokens(lower(col(textCol))).as("__toks"))
    val toks   = col("__toks")
    // sequence(1, 0) yields a DESCENDING [1, 0] in Spark, so short docs
    // need an explicit empty-grams branch rather than an empty sequence
    val starts: Column = when(size(toks) >= n, sequence(lit(1), size(toks) - (n - 1)))
      .otherwise(array().cast("array<int>"))
    val grams: Column = transform(starts, i => array_join(slice(toks, i, lit(n)), " "))
    staged.select(explode(grams).as("term"))
  }

  /** One distributed sketch pass: the ≤(capacity+2)-row MG summary of a
    * token stream (sentinel rows included) — the unit the incremental
    * store persists and merges.
    */
  private[graft] def summarize(toks: DataFrame, capacity: Int): Seq[(String, Long)] =
    toks.as[String](Encoders.STRING)
      .select(new MisraGries(capacity).toColumn)
      .head()

  /** Fold two summaries with the mergeable-summaries law (sum, then
    * subtract the (capacity+1)-th largest and drop ≤0) — the same `merge`
    * the distributed aggregation uses, so a summary maintained batch-by-
    * batch carries exactly the one-pass guarantee: any term with true
    * TOTAL frequency > N/(capacity+1) survives.
    */
  private[graft] def mergeSummaries(
      a: Seq[(String, Long)], b: Seq[(String, Long)], capacity: Int): Seq[(String, Long)] = {
    val agg = new MisraGries(capacity)
    def toMap(s: Seq[(String, Long)]) = {
      val m = new java.util.HashMap[String, Long]()
      s.foreach { case (t, c) => m.merge(t, c, (x: Long, y: Long) => x + y) }
      m
    }
    agg.finish(agg.merge(toMap(a), toMap(b)))
  }

  /** Hard ceiling for [[topK]]'s capacity self-healing: 2^20 summary
    * entries ≈ tens of MB collected once — still the "bounded config"
    * driver-collect budget class; a corpus needing more than this for a
    * PROVABLE top-k has a tail too flat for a hitters query to mean much.
    */
  private val MaxAutoCapacity = 1 << 20

  /** Shared engine: sketch pass → exact recount of candidates → runtime
    * coverage proof. Output: (term, n) ordered (n desc, term asc).
    *
    * SELF-HEALING capacity (round 11, found by the sf10 sweep): the MG
    * coverage bound N/(capacity+1) must stay below the k-th hitter's true
    * count, and that relation is data-dependent — a fixed dial that proves
    * coverage at one decade can fail the proof at the next (bigram tail at
    * sf10: N grew 10× while the k-th count grew ~6×). Rather than fail a
    * job that already paid two corpus scans, retry at 4× capacity
    * (deterministic — same result set once proven; each retry is two fresh
    * scans) and fail loudly only at [[MaxAutoCapacity]]. Callers keep the
    * capacity arg as the STARTING dial; sizing it right still saves the
    * retry scans.
    */
  private def topK(spark: org.apache.spark.sql.SparkSession,
                   toks: DataFrame, k: Int, capacity: Int,
                   autoGrow: Boolean): DataFrame = {
    var cap = capacity
    while (true) {
      val summary = summarize(toks, cap)
      try {
        return recountProven(spark, toks, summary, k, cap)
      } catch {
        // recountProven's only require is the coverage proof; a capacity
        // retry is exactly the remedy its message prescribes
        case e: IllegalArgumentException if autoGrow && cap < MaxAutoCapacity =>
          System.err.println(s"[hitters] coverage proof failed at capacity $cap, " +
            s"retrying at ${cap * 4}: ${e.getMessage}")
          cap *= 4
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Exact recount of a summary's candidates over the token stream, with
    * the MG coverage bound asserted at runtime (see object scaladoc).
    */
  private[graft] def recountProven(
      spark: org.apache.spark.sql.SparkSession,
      toks: DataFrame, summary: Seq[(String, Long)], k: Int, capacity: Int): DataFrame = {
    val total      = summary.find(_._1 == TotalKey).map(_._2).getOrElse(0L)
    val evicted    = summary.find(_._1 == EvictedKey).exists(_._2 > 0L)
    val candidates = summary.collect { case (t, _) if !isSentinel(t) => t }
    val errorBound = if (total == 0L) 0L else total / (capacity + 1L)

    import spark.implicits._
    val candDf = broadcast(candidates.toDF("term"))
    val exact = toks.join(candDf, Seq("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("term"))
      .limit(k)

    // the top-k result is bounded (k rows) — collect once, prove coverage,
    // hand back the proven rows instead of re-running the recount scan.
    // No eviction ⇒ candidates are the complete dictionary and the
    // (possibly <k-row) result is exact with no bound to check.
    val top = exact.collect()
    if (total > 0L && evicted) {
      require(
        top.length == k && top.map(_.getLong(1)).min > errorBound,
        s"top-$k not provably exact: got ${top.length} candidates, k-th count " +
          s"${if (top.isEmpty) "-" else top.map(_.getLong(1)).min} vs error bound $errorBound " +
          s"(N=$total, capacity=$capacity) — raise capacity")
    }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](java.util.Arrays.asList(top: _*)),
      exact.schema)
  }

  /** Exact top-k most frequent terms, proven exact via the sketch coverage
    * bound (or via the no-eviction census case).
    *
    * @param capacity sketch entries per summary — the memory/coverage dial.
    *                 Coverage needs the k-th hitter's frequency > N/(capacity+1);
    *                 for zipf-ish web text capacity ≈ 50–100× k is ample.
    * @param autoGrow opt-in: retry at 4× capacity (two fresh scans) when
    *                 the coverage proof fails, up to 2^20 entries — see
    *                 [[MaxAutoCapacity]]. DEFAULT FALSE (round 12):
    *                 `capacity` is a hard memory contract that fails
    *                 loudly; a caller who sized it as a memory bound must
    *                 not silently get 256× that plus extra corpus scans.
    *                 Pass true when completion beats the sizing contract
    *                 (the coverage relation is data-dependent — a dial
    *                 provable at one decade can fail at the next).
    */
  def topKTerms(df: DataFrame, textCol: String, k: Int, capacity: Int = 4096,
                autoGrow: Boolean = false): DataFrame =
    topK(df.sparkSession, tokenRows(df, textCol), k, capacity, autoGrow)

  /** Exact top-k most frequent word n-grams — the phrase-mining op curation
    * pipelines want (boilerplate detection, common template extraction).
    * Same sketch, same proof, over the n-gram stream; n=1 degenerates to
    * [[topKTerms]].
    */
  def topKNgrams(df: DataFrame, textCol: String, n: Int, k: Int,
                 capacity: Int = 4096, autoGrow: Boolean = false): DataFrame = {
    require(n >= 1, "n must be >= 1")
    topK(df.sparkSession, ngramRows(df, textCol, n), k, capacity, autoGrow)
  }

  // ── Incremental hitter store (the q139 HLL-store pattern for MG) ──────
  //
  // A continuously-ingesting corpus can't re-sketch 100 TB per batch. The
  // MG summary is MERGEABLE, so the store persists one ≤(capacity+2)-row
  // summary table; each new batch pays one sketch pass over ITS OWN tokens
  // plus an O(capacity) driver-side fold — never a historical rescan. The
  // final top-k still recounts candidates exactly over the full corpus
  // (one scan, at report time only) and asserts the same coverage bound,
  // now against the store's accumulated total.

  /** Overwrite the hitter store with the summary of `df`'s tokens. */
  def buildHitterStore(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
                       textCol: String, table: graft.model.Table,
                       capacity: Int = 4096): Unit =
    writeStore(spark, summarize(tokenRows(df, textCol), capacity), table, capacity)

  /** Fold a new batch's summary into the store. The persisted capacity is
    * authoritative — merging summaries of different capacities silently
    * weakens the coverage bound, so a mismatch is a hard error.
    */
  def appendHitterStore(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
                        textCol: String, table: graft.model.Table,
                        capacity: Int = 4096): Unit = {
    val (stored, storeCap) = readStore(spark, table)
    require(storeCap == capacity,
      s"Hitter store ${table.qualifiedName} was built with capacity=$storeCap; " +
        s"merging a batch summarized at capacity=$capacity would weaken the MG bound. " +
        "Pass the store's capacity (or rebuild the store).")
    val merged = mergeSummaries(stored, summarize(tokenRows(df, textCol), capacity), capacity)
    writeStore(spark, merged, table, capacity)
  }

  /** Exact top-k over the accumulated corpus using the store's candidates:
    * one recount scan of `corpus`, the coverage bound asserted against the
    * store's lifetime token total.
    */
  def topKTermsFromStore(spark: org.apache.spark.sql.SparkSession, corpus: DataFrame,
                         textCol: String, table: graft.model.Table, k: Int): DataFrame = {
    val (summary, capacity) = readStore(spark, table)
    recountProven(spark, tokenRows(corpus, textCol), summary, k, capacity)
  }

  /** Fold one batch into the store, creating it if absent — the unit a
    * streaming `foreachBatch` sink calls per micro-batch (see
    * `StreamingSample` for the sibling reservoir sink). Replay caveat,
    * stated honestly: unlike the reservoir (idempotent by determinism),
    * an MG summary fold is additive — a replayed micro-batch double-counts
    * its tokens in the SUMMARY. That cannot create a false positive (the
    * exact recount scores candidates from the real corpus) and cannot
    * evict a true heavy hitter (extra mass only widens the candidate set's
    * margin); it can only inflate the stored `total`, making the coverage
    * assert strictly MORE conservative. Exactly-once summaries need the
    * batchId-gated write the checkpoint already provides for the sink's
    * own progress; the store stays a safe lower-bound sketch either way.
    */
  def foldBatchIntoStore(spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
                         textCol: String, table: graft.model.Table,
                         capacity: Int = 4096): Unit =
    if (spark.catalog.tableExists(table.qualifiedName))
      appendHitterStore(spark, batch, textCol, table, capacity)
    else buildHitterStore(spark, batch, textCol, table, capacity)

  private def writeStore(spark: org.apache.spark.sql.SparkSession,
                         summary: Seq[(String, Long)], table: graft.model.Table,
                         capacity: Int): Unit = {
    import spark.implicits._
    // the summary is O(capacity) rows — the store rewrite is a bounded
    // driver-side write, same budget class as the HLL sketch store.
    // publish (generation write + atomic view flip), NOT overwrite: the
    // streaming sink folds once per micro-batch, and overwrite's
    // drop-then-rewrite window would mean a crash between the drop and the
    // rewrite silently loses the ENTIRE accumulated summary — the store
    // would rebuild from later batches only and the coverage assert would
    // then hold against an understated total, the one replay failure mode
    // the additive-fold analysis does not cover. With publish a mid-write
    // crash leaves the previous generation live.
    graft.ops.TableIO.publish(
      spark, summary.toDF("term", "cnt").withColumn("capacity", lit(capacity)), table)
    spark.catalog.refreshTable(table.qualifiedName)
  }

  private def readStore(spark: org.apache.spark.sql.SparkSession,
                        table: graft.model.Table): (Seq[(String, Long)], Int) = {
    val rows = spark.table(table.qualifiedName)
      .select(col("term"), col("cnt"), col("capacity")).collect()
    require(rows.nonEmpty, s"Hitter store ${table.qualifiedName} is empty — build it first")
    (rows.toSeq.map(r => (r.getString(0), r.getLong(1))), rows.head.getInt(2))
  }
}
