package graft.ops

import graft.functions.GraftUnaryCodegen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** Corpus term statistics — the exact-integer core of TF-IDF ranking,
  * inverted-index construction, and vocabulary building (beyond-reference
  * scope: training-data curation; the reference delegates any such SQL to
  * its warehouses). Kept integer-only (tf, df, docs) so results are
  * engine-portable bit-for-bit; idf weighting (`ln(docs/df)` or variants)
  * is a trivial derived column the caller applies with the weighting of
  * their choice.
  *
  * Scale shape: both aggregations run with map-side partial aggregation
  * ((doc, term) then (term) — the second input is already one row per
  * doc-term, so document frequency is a plain count). The final join
  * re-shuffles by `term`, the same key the df aggregate just produced, so
  * AQE/exchange-reuse keeps it one effective repartition of each side. No
  * driver-side state, no vocabulary cap — a 100 TB corpus's term dictionary
  * stays distributed.
  */
object TermStats {

  /** Per-(doc, term) frequency joined with each term's document frequency:
    * `(idCol, term, tf, df)`. Tokenization is the engine-wide whitespace
    * rule ([[graft.functions.TextFunctions.tokens]], reused directly):
    * lower-cased, trimmed, split on runs of whitespace; blank documents
    * contribute no terms.
    *
    * @param minDf drop terms seen in fewer than this many documents (hapax
    *   pruning — the standard vocabulary-size lever; 1 keeps everything).
    */
  def termStats(df: DataFrame, idCol: String, textCol: String, minDf: Long = 1L): DataFrame = {
    require(minDf >= 1, "minDf must be >= 1")
    // TextFunctions.tokens: blank/whitespace-only text -> empty array, so
    // explode drops the row instead of minting a phantom "" term
    val toks = df.select(
      col(idCol),
      explode(graft.functions.TextFunctions.tokens(lower(col(textCol)))).as("term"),
    )
    val tf = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
    tf.join(docFreq, Seq("term"))
      .select(col(idCol), col("term"), col("tf"), col("df"))
  }

  /** Top-`vocabSize` corpus vocabulary by total term frequency, ties broken
    * to the lexicographically smaller term: `(term, tf)`. The sort runs over
    * the already-aggregated term dictionary (one row per distinct term), not
    * the corpus.
    */
  def vocabulary(df: DataFrame, textCol: String, vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, "vocabSize must be >= 1")
    df.select(explode(graft.functions.TextFunctions.tokens(lower(col(textCol)))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("term").asc)
      .limit(vocabSize)
  }

  /** BM25 ranked retrieval: top-`k` documents per query —
    * `(query_id, rank, doc_id, score)`. The keyword-search primitive of a
    * curation/RAG pipeline ("pull the corpus passages for this probe set"),
    * complementing the embedding-space search in [[graft.similarity.Ann]].
    *
    * Scoring is the Lucene-variant BM25: per matched term,
    * `ln(1 + (N - df + 0.5)/(df + 0.5)) · tf·(k1+1)/(tf + k1·(1 - b + b·dl/avgdl))`
    * with `N`/`avgdl` over ALL corpus docs (empty docs count toward both;
    * they can never match). Query terms are de-duplicated; ranking
    * tie-breaks deterministically (score DESC, doc id DESC — the
    * [[graft.functions.TopKAgg]] order).
    *
    * Scale shape: the probe vocabulary (distinct query terms — tiny)
    * broadcasts and filters the exploded token stream BEFORE any shuffle,
    * so the (doc, term) tf aggregation only ever moves tokens that match a
    * query term — never the corpus dictionary. df for those terms falls
    * out of the same pruned tf (df(t) counts docs containing t; pruning to
    * t ∈ queries keeps every such row), so no full-dictionary aggregation
    * exists anywhere in the plan. Doc length is `size(tokens)` computed
    * in-scan (no second explode); N/avgdl is a 1-row agg cross-joined in.
    * Per-query top-k is the bounded-heap partial aggregate — the shuffle
    * after scoring moves at most |queries|·k·|partitions| rows.
    */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val toksCol = graft.functions.TextFunctions.tokens(lower(col(textCol)))
    val dl = docs.select(col(idCol).as("__did"), size(toksCol).as("dl"))
    val corpusStats = dl.agg(
      count(lit(1)).cast("double").as("__n"),
      avg(col("dl")).as("__avgdl"))
    val qterms = queries.select(col(queryIdCol).as("query_id"),
        explode(graft.functions.TextFunctions.tokens(lower(col(queryTextCol)))).as("term"))
      .distinct()
    val probeVocab = qterms.select(col("term")).distinct()
    val tf = docs
      .select(col(idCol).as("__did"),
        explode(graft.functions.TextFunctions.tokens(lower(col(textCol)))).as("term"))
      .join(broadcast(probeVocab), Seq("term"))
      .groupBy(col("__did"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val docFreq = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val scored = tf
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(docFreq), Seq("term"))
      .join(dl, Seq("__did"))
      .crossJoin(broadcast(corpusStats))
      .select(col("query_id"), col("__did"),
        (log(lit(1.0) + (col("__n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl"))))
          .as("__contrib"))
      .groupBy(col("query_id"), col("__did"))
      // rounded BEFORE ranking: the per-doc sum's association order is
      // engine-dependent (1-ulp wiggle); ranking the rounded value plus the
      // id tie-break keeps the top-k deterministic across engines
      .agg(round(sum(col("__contrib")), 6).as("__score"))
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.NativeFunctions.topK(col("__score"), col("__did"), k).as("top"))
      .select(col("query_id"),
        posexplode(arrays_zip(col("top.sims").as("score"), col("top.ids").as("doc_id"))))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.doc_id").as("doc_id"), col("col.score").as("score"))
  }

  /** Reciprocal-rank fusion (Cormack et al. SIGIR'09) of two ranked
    * retrieval lists — the standard hybrid-search combiner (BM25 ⊕
    * embedding cosine): score = Σ 1/(c + rank) over the lists a document
    * appears in, re-ranked per query. Inputs are (query_id, rank, idCol)
    * frames; missing membership contributes 0 (full outer join). The
    * per-query fused list is ≤ the two input list lengths — O(config)
    * rows per query, so the re-rank window never sees corpus-scale
    * partitions. Score arithmetic is 1/(c+integer-rank) sums in a fixed
    * order, deterministic across engines; ties break to the smaller id.
    */
  def rrfFuse(
      a: DataFrame,
      b: DataFrame,
      idCol: String,
      k: Int = 10,
      c: Double = 60.0,
  ): DataFrame = {
    val ar = a.select(col("query_id"), col(idCol),
      (lit(1.0) / (lit(c) + col("rank"))).as("__ra"))
    val br = b.select(col("query_id"), col(idCol),
      (lit(1.0) / (lit(c) + col("rank"))).as("__rb"))
    val fused = ar.join(br, Seq("query_id", idCol), "full_outer")
      .select(col("query_id"), col(idCol),
        (coalesce(col("__ra"), lit(0.0)) + coalesce(col("__rb"), lit(0.0))).as("__rrf"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__rrf").desc, col(idCol).asc)
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol),
        round(col("__rrf"), 6).as("rrf"))
  }

  /** Per-document n-gram NOVELTY: the fraction of a document's distinct
    * k-word shingles that occur in NO other document —
    * `(idCol, n_grams, n_novel, novelty)`. The diversity complement of the
    * dedup family: near-dup scores say how much a doc repeats the corpus,
    * novelty says how much of it is seen nowhere else (boilerplate-heavy
    * docs score ~0, unique prose ~1) — a standard mixture-curation signal.
    *
    * Scale shape: shingles explode once as (id, gram) with per-doc
    * `array_distinct` applied BEFORE the explode; gram document-frequency
    * is one partial-agg shuffle; the re-join is by the gram key the
    * aggregate just produced (exchange reuse). Text never shuffles.
    */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    val grams = df.select(col(idCol),
      explode(array_distinct(
        graft.functions.TextFunctions.wordShingles(col(textCol), k))).as("gram"))
    val dfreq = grams.groupBy(col("gram")).agg(count(lit(1)).as("gdf"))
    grams.join(dfreq, Seq("gram"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("gdf") === 1L, 1L).otherwise(0L)).as("n_novel"))
      .select(col(idCol), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams"), 4).as("novelty"))
  }

  /** Per-document out-of-vocabulary stats against the corpus's own
    * top-`vocabSize` vocabulary — the tokenizer-coverage check run before
    * committing to a vocab size: `(idCol, n_tokens, oov_count, oov_frac)`.
    *
    * The vocabulary is one aggregate collected to the driver (bounded
    * config, vocab-sized), then the per-doc pass is a single codegen'd
    * scan: [[OovCountExpr]] tests every token against the hash set shipped
    * as a reference object — no explode, no join, no shuffle at scoring
    * time, the same shape as [[Dsir]]'s scoring pass.
    */
  def oovStats(df: DataFrame, idCol: String, textCol: String, vocabSize: Int): DataFrame = {
    val vocab = vocabulary(df, textCol, vocabSize).collect().map(_.getString(0))
    val toks  = graft.functions.TextFunctions.tokens(lower(col(textCol)))
    val n     = size(toks).cast("long")
    val oov   = ColumnBridge.column(OovCountExpr(ColumnBridge.expression(toks), vocab))
    df.select(col(idCol), n.as("n_tokens"), oov.as("oov_count"),
      round(when(n === 0L, 0.0).otherwise(oov.cast("double") / n), 4).as("oov_frac"))
  }
}

object TermStatsImpl {
  /** Count of array elements NOT in `set`. */
  def oovCount(toks: ArrayData, set: java.util.HashSet[String]): Long = {
    var acc = 0L
    var i   = 0
    val n   = toks.numElements()
    while (i < n) {
      if (!set.contains(toks.getUTF8String(i).toString)) acc += 1
      i += 1
    }
    acc
  }
}

/** Tokens-outside-vocabulary count as a single codegen'd tree node; the
  * vocabulary rides as a HashSet reference object (one copy per task).
  */
case class OovCountExpr(child: Expression, vocab: Array[String]) extends GraftUnaryCodegen {
  @transient private lazy val set: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](vocab.length * 2)
    vocab.foreach(s.add)
    s
  }
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    TermStatsImpl.oovCount(input.asInstanceOf[ArrayData], set)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("oovVocab", set, "java.util.HashSet")
    defineCodeGen(ctx, ev, c => s"graft.ops.TermStatsImpl.oovCount($c, $ref)")
  }
  override protected def staticCall(c: String): String =
    throw new IllegalStateException("doGenCode overridden")
  override protected def withNewChildInternal(newChild: Expression): OovCountExpr =
    copy(child = newChild)
}
