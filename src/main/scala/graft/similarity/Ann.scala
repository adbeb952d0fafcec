package graft.similarity

import graft.functions.{NativeFunctions, VectorFunctions}
import graft.functions.VectorFunctions.cosine
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`) — the
  * beyond-reference similarity component (SURVEY.md §7 step 10).
  *
  * Three paths:
  *  - [[bruteForceTopK]]: exact cosine top-k. Queries broadcast; the corpus
  *    streams once with no corpus shuffle; top-k is a genuine bounded-heap
  *    partial aggregate ([[graft.functions.TopKAgg]]).
  *  - [[lshTopK]]: SRP-LSH bucketed candidates (multi-table + query-side
  *    multiprobe for recall) — sub-linear when the corpus is clustered
  *    (real embedding corpora). Near-orthogonal (random) data defeats every
  *    sign-hash family; use IVF there.
  *  - [[ivfTopK]]: IVF-flat — corpus rows partition by nearest centroid,
  *    queries probe their `nprobe` nearest cells. Recall/cost is directly
  *    tunable by nprobe/numCentroids regardless of data distribution.
  */
object Ann {

  /** Per-row vector norm — sqrt of the float self-dot, the exact `na`/`nb`
    * sub-expression of [[graft.functions.HashImpl.cosineF]].
    */
  private[similarity] def normOfVec(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sqrt(NativeFunctions.dot(v, v))
  private def normOf(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column = normOfVec(v)

  /** cosine(q, n) with the two self-dots HOISTED to per-row columns
    * (round 17, guide §1.2/§2.3): every candidate-pair loop in this file
    * evaluated `cosineF(q, n)`, whose two norm terms depend on ONE row
    * each — at pair volume (n·nprobe per query, n² for the exact dials)
    * that recomputes each row's norm once per PAIR. Computing
    * `__qn`/`__nn` once per row and folding
    * `when(qn = 0 ∨ nn = 0, 0) otherwise dot(q, n) / (qn · nn)` per pair
    * is the identical FP op sequence (same dot accumulation order, same
    * sqrt, same multiply/divide order, same zero-norm and null cases), so
    * scores are bit-equal — only the per-pair flops drop ~3×.
    */
  private[similarity] def cosineWithNorms(qv: org.apache.spark.sql.Column, nv: org.apache.spark.sql.Column,
      qn: org.apache.spark.sql.Column, nn: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    // null guard FIRST: cosineF is null-intolerant (either vector null →
    // null), and the zero-norm test must not short-circuit past a null on
    // the other side; the two norms are tested individually (never as a
    // product, whose underflow could fake a zero)
    when(qn.isNull || nn.isNull, lit(null).cast("double"))
      .when(qn === lit(0.0) || nn === lit(0.0), lit(0.0))
      .otherwise(NativeFunctions.dot(qv, nv) / (qn * nn))

  /** Exact top-k neighbors per query vector.
    *
    * @param corpus  (idCol, vecCol) rows — arbitrarily large
    * @param queries (queryIdCol, vecCol) rows — SMALL (broadcast)
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      corpusId: String,
      corpusVec: String,
      queryId: String,
      queryVec: String,
      k: Int = 10,
  ): DataFrame = {
    val scored = corpus
      .select(col(corpusId).as("__nid"), col(corpusVec).as("__nvec"),
        normOf(col(corpusVec)).as("__nn"))
      .crossJoin(broadcast(queries.select(col(queryId).as("query_id"),
        col(queryVec).as("__qvec"), normOf(col(queryVec)).as("__qn"))))
      .select(
        col("query_id"),
        col("__nid"),
        cosineWithNorms(col("__qvec"), col("__nvec"), col("__qn"), col("__nn")).as("__sim"),
      )
    topKOf(scored, k)
  }

  /** Hard-negative mining for contrastive training: for each query, the
    * top-k most-similar corpus rows whose label DIFFERS from the query's —
    * "close in embedding space, different class" is exactly the negative a
    * bi-encoder learns the most from. Same execution shape as
    * [[bruteForceTopK]] (queries broadcast, corpus streams once, bounded-heap
    * top-k); the label inequality is a codegen'd filter on the streamed side,
    * so mining negatives costs the same single corpus pass as plain search.
    * For corpora where even one pass is too much, run the same filter over
    * [[ivfTopK]]'s probed candidates instead (widen k to survive the filter).
    */
  def hardNegativesTopK(
      corpus: DataFrame,
      queries: DataFrame,
      corpusId: String,
      corpusVec: String,
      corpusLabel: String,
      queryId: String,
      queryVec: String,
      queryLabel: String,
      k: Int = 10,
  ): DataFrame = {
    val scored = corpus
      .select(col(corpusId).as("__nid"), col(corpusVec).as("__nvec"),
        col(corpusLabel).as("__nlab"), normOf(col(corpusVec)).as("__nn"))
      .crossJoin(broadcast(queries.select(col(queryId).as("query_id"),
        col(queryVec).as("__qvec"), col(queryLabel).as("__qlab"),
        normOf(col(queryVec)).as("__qn"))))
      .where(col("__nlab") =!= col("__qlab"))
      .select(
        col("query_id"),
        col("__nid"),
        cosineWithNorms(col("__qvec"), col("__nvec"), col("__qn"), col("__nn")).as("__sim"),
      )
    topKOf(scored, k)
  }

  /** MMR diverse re-ranking (Carbonell & Goldstein SIGIR'98): exact top-
    * `candidateK` per query, then greedy λ·relevance − (1−λ)·redundancy
    * selection of `k` — the standard RAG-retrieval step that stops five
    * near-identical passages from filling the context window.
    *
    * Scale shape: the selection is a native per-row expression over each
    * query's BOUNDED candidate arrays (collect_list of candidateK rows —
    * O(config), never corpus-sized), so the only corpus work is the
    * candidate search itself; swap [[bruteForceTopK]] for [[ivfTopK]]
    * candidates when one exact pass is too much. Returns
    * (query_id, pick, selected_id) in pick order.
    */
  def mmrRerank(
      corpus: DataFrame,
      queries: DataFrame,
      corpusId: String,
      corpusVec: String,
      queryId: String,
      queryVec: String,
      candidateK: Int = 20,
      k: Int = 5,
      lambda: Double = 0.7,
  ): DataFrame = {
    mmrFromCandidates(
      bruteForceTopK(corpus, queries, corpusId, corpusVec, queryId, queryVec, candidateK),
      corpus, corpusId, corpusVec, k, lambda)
  }

  /** [[mmrRerank]] over IVF candidates — the scale path the exact variant's
    * scaladoc promises: candidate search is the constant-cell-size probe
    * join instead of one exact corpus pass; the greedy selection is the
    * same bounded per-query expression. Recall of the candidate stage is
    * the IVF dial's (q156/AnnIndexSpec); the selection stage is identical.
    */
  def mmrRerankIvf(
      corpus: DataFrame,
      queries: DataFrame,
      corpusId: String,
      corpusVec: String,
      queryId: String,
      queryVec: String,
      candidateK: Int = 20,
      k: Int = 5,
      lambda: Double = 0.7,
      numCentroids: Int = 256,
      nprobe: Int = 16,
      candidateJoin: String = "broadcast",
  ): DataFrame =
    mmrFromCandidates(
      ivfTopK(corpus, queries, corpusId, corpusVec, queryId, queryVec, candidateK,
        numCentroids, nprobe, candidateJoin = candidateJoin),
      corpus, corpusId, corpusVec, k, lambda)

  /** Shared MMR tail: join candidate rows back to their vectors, then the
    * greedy λ-selection as a native expression over each query's BOUNDED
    * candidate arrays (≤ candidateK rows — O(config), never corpus-sized).
    */
  private def mmrFromCandidates(
      cands: DataFrame,
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      k: Int,
      lambda: Double,
  ): DataFrame = {
    val withVec = cands.join(
      corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__nvec")),
      Seq("neighbor_id"))
    withVec
      .groupBy(col("query_id"))
      .agg(array_sort(collect_list(struct(col("rank").as("r"),
        col("neighbor_id").cast("long").as("i"), col("cosine").as("s"),
        col("__nvec").as("v")))).as("cs"))
      .select(col("query_id"),
        posexplode(NativeFunctions.mmrSelect(
          transform(col("cs"), x => x.getField("i")),
          transform(col("cs"), x => x.getField("s")),
          transform(col("cs"), x => x.getField("v")),
          k, lambda)))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("pick"),
        col("col").as("selected_id"))
  }

  /** groupBy(query_id) bounded-heap top-k over (`__sim`, `__nid`) rows →
    * (query_id, rank, neighbor_id, cosine).
    *
    * Round 17: the aggregate is [[graft.functions.TopKAgg]], a
    * TypedImperativeAggregate over raw InternalRows — the previous typed
    * `udaf(TopKAggregator)` paid an Encoder round trip per candidate row
    * (Serialize/DeserializeToObject around the aggregate in every ANN
    * plan). Ordering, tie-break, and output schema are bit-identical
    * (see TopKAgg's scaladoc); the old aggregator lives on in test scope
    * as the reference TopKAggSpec compares TopKAgg against.
    */
  private[similarity] def topKOf(scored: DataFrame, k: Int): DataFrame = {
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.NativeFunctions.topK(col("__sim"), col("__nid"), k).as("top"))
      .select(col("query_id"),
        posexplode(arrays_zip(col("top.sims").as("cosine"), col("top.ids").as("neighbor_id"))))
      .select(
        col("query_id"),
        (col("pos") + 1).as("rank"),
        col("col.neighbor_id").as("neighbor_id"),
        col("col.cosine").as("cosine"),
      )
  }

  /** Approximate top-k: candidates from `tables` independent SRP-LSH bucket
    * joins; the query side additionally probes every 1-bit-flip neighbour
    * bucket when `multiprobe` (recall ↑ at no corpus-side cost), then exact
    * cosine + top-k within candidates only.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      corpusId: String,
      corpusVec: String,
      queryId: String,
      queryVec: String,
      k: Int = 10,
      bits: Int = 8,
      tables: Int = 8,
      multiprobe: Boolean = true,
  ): DataFrame = {
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__nvec"),
      posexplode(array((0 until tables).map(t =>
        VectorFunctions.srpBucket(col(corpusVec), bits, seed = 7L + t)): _*)))
      .toDF("neighbor_id", "__nvec", "tbl", "bucket")
    // query side: base bucket + (optionally) all 1-bit flips, per table
    val probesOf = (vec: org.apache.spark.sql.Column, t: Int) => {
      val base = VectorFunctions.srpBucket(vec, bits, seed = 7L + t)
      if (multiprobe) array(base +: (0 until bits).map(i => base.bitwiseXOR(lit(1L << i))): _*)
      else array(base)
    }
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).as("__qvec"),
      posexplode(array((0 until tables).map(t => probesOf(col(queryVec), t)): _*)))
      .toDF("query_id", "__qvec", "tbl", "probes")
      .select(col("query_id"), col("__qvec"), col("tbl"), explode(col("probes")).as("bucket"))
    val candidates = c.join(broadcast(q), Seq("tbl", "bucket"))
      .select(col("query_id"), col("neighbor_id").as("__nid"), col("__qvec"), col("__nvec"))
      .dropDuplicates("query_id", "__nid")
      .select(col("query_id"), col("__nid"), cosine(col("__qvec"), col("__nvec")).as("__sim"))
    topKOf(candidates, k)
  }

  /** IVF-flat approximate top-k. Centroids are a deterministic hash-ordered
    * sample of `numCentroids` corpus vectors (collected to the driver —
    * bounded and small, the one legitimate driver-side step); corpus rows
    * assign to their nearest centroid ONCE, queries probe `nprobe` cells.
    * The cell join broadcasts the (queries × nprobe) side, so the corpus
    * never shuffles: scan → hash-filter to probed cells → cosine → partial
    * top-k.
    *
    * Fraction of corpus scanned ≈ nprobe / numCentroids on unstructured
    * data; far less on clustered corpora where probed cells are the dense
    * ones near the query.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      corpusId: String,
      corpusVec: String,
      queryId: String,
      queryVec: String,
      k: Int = 10,
      numCentroids: Int = 256,
      nprobe: Int = 16,
      codec: String = "float",
      codecFit: Option[DataFrame] = None,
      candidateJoin: String = "broadcast",
  ): DataFrame = {
    require(codec == "float" || codec == "sq8", s"codec must be float or sq8, got $codec")
    require(candidateJoin == "broadcast" || candidateJoin == "shuffle",
      s"candidateJoin must be broadcast or shuffle, got $candidateJoin")
    // Candidate pairing strategy (round 14). "broadcast" hash-joins the
    // (queries × nprobe) side into every corpus task — right when the
    // query batch is BOUNDED (the retrieval case: the build relation stays
    // cache-resident and the corpus never shuffles). When the query side
    // GROWS WITH THE CORPUS (corpus-sweep twins: every 17th row), the
    // build relation outgrows cache and every probe is a random-access
    // miss; "shuffle" instead exchanges both sides by cell — sequential
    // merge access, the same shape [[knnJoin]] uses (measured linear,
    // 3.07× at 3× data, where the broadcast path measured ~4×).
    def pairByCell(c: DataFrame, q: DataFrame): DataFrame =
      if (candidateJoin == "shuffle") c.join(q, Seq("cell"))
      else c.join(broadcast(q), Seq("cell"))
    val cents = sampleCentroids(corpus, corpusId, corpusVec, numCentroids)
    val corpusCells = corpus.select(
      col(corpusId).as("__nid"),
      col(corpusVec).as("__nvec"),
      element_at(cellAssign(col(corpusVec), cents, 1), 1).as("cell"),
    )
    val queryCells = queries.select(
      col(queryId).as("query_id"),
      col(queryVec).as("__qvec"),
      explode(cellAssign(col(queryVec), cents, nprobe)).as("cell"),
    )
    val scored =
      if (codec == "sq8") {
        // candidate scoring over SQ8 codes: the probed-candidate scan —
        // the volume term at scale — reads int8 codes (4× fewer bytes than
        // float32) and decodes per row in-CPU at scan time, scoring in
        // decoded space (Sq8.sq8Roundtrip — raw-code scoring distorts
        // rankings). Cell assignment stays float (centroids are a
        // config-bounded literal either way). Dimensionality is the same
        // hard contract as Sq8.topKQuantizedFrame: the query frame fixes
        // the width, corpus rows of any other width are EXCLUDED from fit
        // and search (a ragged row would otherwise stretch the fit and
        // decode to lo-padded tails — fabricated mass, garbage neighbors).
        // The fit collects ONCE (pass `codecFit` to reuse a precomputed or
        // sampled fit across calls and skip the fit scan entirely).
        val qd = queries.where(col(queryVec).isNotNull)
          .select(size(col(queryVec))).distinct().collect()
        require(qd.length == 1,
          s"query frame must carry exactly one vector dimensionality, saw ${qd.length}")
        val dim = qd.head.getInt(0)
        val f = codecFit.getOrElse(Sq8.fit(
          corpus.where(col(corpusVec).isNotNull && size(col(corpusVec)) === dim), corpusVec))
        val (los, steps, fdim) = Sq8.collectFit(f)
        require(fdim == dim,
          s"codecFit covers $fdim dimensions but the query frame carries $dim")
        // norms hoisted per row via withColumn AFTER the decode projection
        // (CollapseProject keeps a non-cheap alias referenced twice in its
        // own Project, so the decode runs once per row, not once per term)
        val ccoded = corpusCells
          .where(col("__nvec").isNotNull && size(col("__nvec")) === dim)
          .select(col("__nid"), col("cell"),
            Sq8.roundtripExpr(col("__nvec"), los, steps, dim).as("__dvec"))
          .withColumn("__nn", normOf(col("__dvec")))
        val qcoded = queryCells
          .select(col("query_id"), col("cell"),
            Sq8.roundtripExpr(col("__qvec"), los, steps, dim).as("__qdvec"))
          .withColumn("__qn", normOf(col("__qdvec")))
        pairByCell(ccoded, qcoded)
          .select(col("query_id"), col("__nid"),
            cosineWithNorms(col("__qdvec"), col("__dvec"), col("__qn"), col("__nn")).as("__sim"))
      } else
        pairByCell(
          corpusCells.withColumn("__nn", normOf(col("__nvec"))),
          queryCells.withColumn("__qn", normOf(col("__qvec"))))
          .select(col("query_id"), col("__nid"),
            cosineWithNorms(col("__qvec"), col("__nvec"), col("__qn"), col("__nn")).as("__sim"))
    topKOf(scored, k)
  }

  /** Distributed kNN JOIN: top-k nearest `right` rows for EVERY `left` row,
    * where BOTH sides are large. [[bruteForceTopK]] broadcasts the query
    * side — right for a query batch, impossible corpus×corpus; here both
    * sides assign to coarse IVF cells (centroids broadcast), the left side
    * probes its `nprobe` nearest cells, and the join SHUFFLES BY CELL —
    * candidate volume is Σ_cell |L_probe(cell)|·|R(cell)| ≈ n²·nprobe/C on
    * uniform data, never an all-pairs product — then per-left-row top-k is
    * the bounded-heap partial aggregate. The SemDeDup / retrieval-pairing
    * primitive ("give every document its k nearest corpus neighbors").
    *
    * `nprobe >= numCentroids` degrades to exact (each (l, r) pair meets
    * exactly once — right rows live in ONE cell): the oracle dial.
    * `excludeSelf` drops same-id pairs for self-join use.
    */
  def knnJoin(
      left: DataFrame,
      right: DataFrame,
      leftId: String,
      leftVec: String,
      rightId: String,
      rightVec: String,
      k: Int = 10,
      numCentroids: Int = 256,
      nprobe: Int = 16,
      excludeSelf: Boolean = false,
  ): DataFrame = {
    val cents = sampleCentroids(right, rightId, rightVec, numCentroids)
    // Block salt (round 16, guide §2.5/§2.6): the pairing join is keyed by
    // cell, so with few cells (the C=8 oracle dials) at most C tasks carry
    // all the candidate scoring. Splitting each side's ids into S
    // deterministic groups and joining on (cell, ga, gb) pairs every
    // (left, right) row exactly once — identical candidate set and top-k —
    // while parallelism becomes C·S². S adapts to the session
    // (⌈√(shuffle.partitions / C)⌉) and collapses to 1 at production cell
    // counts (C ≫ cores), where the salt — and its S× replication — vanish.
    val parts = left.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val salt  = math.max(1, math.ceil(math.sqrt(parts.toDouble / numCentroids)).toInt)
    val blocks = typedlit((0 until salt).toList)
    val rightCells = right.select(
      col(rightId).as("__nid"),
      col(rightVec).as("__nvec"),
      element_at(cellAssign(col(rightVec), cents, 1), 1).as("cell"),
      explode(blocks).as("__ga"),
      // coalesce (round 17, ADVICE r16): defensive null-id anchoring — a
      // null id must land in a deterministic block on both sides rather
      // than fall out of the equi-join when salt > 1 (Spark's xxhash64
      // hashes a null input to its seed, so this is belt-and-braces)
      coalesce(pmod(xxhash64(col(rightId)), lit(salt)), lit(0L)).as("__gb"),
      // norm hoisted per (row × S) replica — still O(n·S) evaluations vs
      // the O(n²·nprobe/C) pair volume it retires from the cosine
      normOf(col(rightVec)).as("__nn"),
    )
    val leftCells = left.select(
      col(leftId).as("query_id"),
      col(leftVec).as("__qvec"),
      explode(cellAssign(col(leftVec), cents, nprobe)).as("cell"),
      coalesce(pmod(xxhash64(col(leftId)), lit(salt)), lit(0L)).as("__ga"),
      normOf(col(leftVec)).as("__qn"),
    ).withColumn("__gb", explode(blocks))
    val paired = leftCells.join(rightCells, Seq("cell", "__ga", "__gb"))
    val nonSelf = if (excludeSelf) paired.where(col("query_id") =!= col("__nid")) else paired
    val scored = nonSelf
      .select(col("query_id"), col("__nid"),
        cosineWithNorms(col("__qvec"), col("__nvec"), col("__qn"), col("__nn")).as("__sim"))
    topKOf(scored, k)
  }

  /** Majority-vote label prediction from a neighbor table: joins each
    * (query_id, neighbor_id) edge to the corpus label and keeps the
    * most-voted label per query, tie-broken deterministically (votes DESC,
    * label ASC — SQL-mirrorable, no RNG).
    *
    * Scale shape: `neighbors` is |queries|·k rows; the label join shuffles
    * by id (AQE broadcasts whichever side is small), and the vote window
    * runs over ≤ k rows per query — bounded regardless of corpus size.
    */
  def voteLabels(
      neighbors: DataFrame,
      labels: DataFrame,
      labelId: String,
      labelCol: String,
  ): DataFrame = {
    val joined = neighbors.select(col("query_id"), col("neighbor_id"))
      .join(labels.select(col(labelId).as("neighbor_id"), col(labelCol).as("label")), Seq("neighbor_id"))
    val votes = joined.groupBy(col("query_id"), col("label")).agg(count(lit(1)).as("votes"))
    val w     = Window.partitionBy(col("query_id")).orderBy(col("votes").desc, col("label").asc)
    votes.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("query_id"), col("label"), col("votes"))
  }

  /** kNN label classification: predict every query row's label by majority
    * vote over its k nearest corpus neighbors (cosine). Built on
    * [[knnJoin]], so both dials come for free — `nprobe >= numCentroids`
    * is EXACT (the oracle dial), `nprobe < numCentroids` is the IVF
    * production dial that scans ≈ nprobe/C of the corpus per query.
    * `excludeSelf` drops same-id pairs BEFORE the top-k, making
    * corpus-as-queries a leave-one-out evaluation (the prediction never
    * sees the row's own label). Beyond-reference component: the
    * label-propagation / weak-supervision primitive ("tag the unlabeled
    * web crawl from the curated seed set").
    */
  def knnClassify(
      corpus: DataFrame,
      queries: DataFrame,
      corpusId: String,
      corpusVec: String,
      corpusLabel: String,
      queryId: String,
      queryVec: String,
      k: Int = 10,
      numCentroids: Int = 256,
      nprobe: Int = 16,
      excludeSelf: Boolean = true,
  ): DataFrame = {
    val nbrs = knnJoin(queries, corpus, queryId, queryVec, corpusId, corpusVec,
      k, numCentroids, nprobe, excludeSelf)
    voteLabels(nbrs, corpus, corpusId, corpusLabel)
  }

  /** C at or above this uses two-level assignment. Below it the flat scan
    * is both faster (no group indirection) and EXACT, which keeps every
    * oracle-dial plan (C = 8 everywhere in SparkEntry) bit-identical.
    */
  private val TwoLevelThreshold = 64

  private def driverCosine(a: Array[Float], b: Array[Float]): Double = {
    val n    = math.min(a.length, b.length)
    var dotv = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dotv += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) -2.0 else dotv / math.sqrt(na * nb)
  }

  /** Driver-side centroid hierarchy for two-level assignment: G = ⌈√C⌉
    * group reps (the first G of the hash-ordered centroid sample — an
    * unbiased subsample), every centroid attached to its nearest rep.
    * O(C·G) = O(C^1.5) driver flops over a CONFIG-BOUNDED array (C ≤ ~10⁵
    * even at 100 TB cell sizing), never data-proportional.
    */
  private[similarity] def buildTwoLevel(
      cents: Array[Array[Float]]): (Array[Array[Float]], Array[Array[Int]]) = {
    val g    = math.ceil(math.sqrt(cents.length.toDouble)).toInt.max(1)
    val reps = cents.take(g)
    val buckets = Array.fill(g)(scala.collection.mutable.ArrayBuffer.empty[Int])
    var ci = 0
    while (ci < cents.length) {
      var best = 0
      var bs   = driverCosine(cents(ci), reps(0))
      var gi   = 1
      while (gi < g) {
        val s = driverCosine(cents(ci), reps(gi))
        if (s > bs) { bs = s; best = gi }
        gi += 1
      }
      buckets(best) += ci
      ci += 1
    }
    (reps, buckets.map(_.toArray))
  }

  /** Cell-assignment column: flat exact scan for small C, two-level
    * (O(√C)-per-row, wprobe=2 group probing) once C reaches
    * [[TwoLevelThreshold]] — the piece that keeps constant-cell-size IVF
    * (C ∝ corpus) linear; see
    * [[graft.functions.HashImpl.nearestCentroidsTwoLevel]].
    */
  private def cellAssign(
      vec: org.apache.spark.sql.Column,
      cents: Array[Array[Float]],
      nprobe: Int): org.apache.spark.sql.Column =
    if (cents.length < TwoLevelThreshold) NativeFunctions.nearestCentroids(vec, cents, nprobe)
    else {
      val (reps, members) = buildTwoLevel(cents)
      NativeFunctions.nearestCentroidsTwoLevel(vec, reps, members, cents, nprobe, wprobe = 2)
    }

  /** Public handle on the PRODUCTION two-level assignment column at an
    * explicit dial, independent of [[TwoLevelThreshold]] — what the q182
    * quality gate materializes so both engines can measure the two-level
    * path's agreement/regret against their own exact flat argmax
    * (the q156 materialize-and-measure shape). `nprobe = 1` yields the
    * assignment cell.
    */
  def twoLevelCellAssign(
      vec: org.apache.spark.sql.Column,
      cents: Array[Array[Float]],
      nprobe: Int = 1): org.apache.spark.sql.Column = {
    val (reps, members) = buildTwoLevel(cents)
    NativeFunctions.nearestCentroidsTwoLevel(vec, reps, members, cents, nprobe, wprobe = 2)
  }

  /** Public handle on the deterministic coarse-centroid sample — shared by
    * the IVF paths here and [[graft.dedup.Dedup.semanticDedup]]'s
    * cluster-then-dedup blocking.
    */
  def coarseCentroids(
      corpus: DataFrame, idCol: String, vecCol: String, numCentroids: Int): Array[Array[Float]] =
    sampleCentroids(corpus, idCol, vecCol, numCentroids)

  /** Deterministic centroid sample: `numCentroids` corpus vectors in
    * hash-of-id order — stable across reruns and partitionings. Bounded
    * driver state (C × dim floats), the one legitimate collect in the IVF
    * path.
    */
  private[similarity] def sampleCentroids(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      numCentroids: Int,
  ): Array[Array[Float]] = {
    val cents = corpus
      .select(xxhash64(col(corpusId)).as("__h"), col(corpusVec).as("__v"))
      .orderBy(col("__h"))
      .limit(numCentroids)
      .select(col("__v"))
      .collect()
      .map(_.getSeq[Float](0).toArray)
    require(cents.nonEmpty, "IVF: empty corpus")
    cents
  }

  /** Persist an IVF index AT REST: pay centroid sampling + cell assignment
    * once at ingest, write the corpus BUCKETED BY CELL (plus a small
    * centroid table), and answer every later query batch against the
    * layout. The 100 TB shape — [[ivfTopK]] re-assigns the whole corpus per
    * call (the O(N·√C) term the round-14 profiler measured at ~15% of twin
    * runtime); this amortizes it to ingest time.
    *
    * Assignment uses the same flat/two-level dial as [[ivfTopK]]
    * ([[cellAssign]]): at constant-cell-size production sizing (C ∝ N) the
    * flat O(N·C) assignment would be quadratic at build time, so once C
    * reaches [[TwoLevelThreshold]] the O(√C)-per-row hierarchy runs here
    * too. Below the threshold the flat scan is exact and bit-identical to
    * the previous rounds' oracle plans (q56 builds at C = 8).
    *
    * `codec = "float"` stores `(id, vec, cell)`. `codec = "sq8"` stores
    * `(id, codes, cell)` — int8-range codes as `array<smallint>`, 4× less
    * at-rest/scan width per dimension than float32 — plus the per-dimension
    * fit `(dim, lo, hi, cnt, step)` in `fitTable`, which later query
    * batches reuse ([[graft.similarity.Sq8]]'s decoded-space scoring
    * contract: raw codes are never scored). The dims contract at BUILD
    * time: a mixed-width (or empty-vector) corpus is REJECTED with a typed
    * error — the fit is not yet frozen here, so admitting ragged rows
    * would stretch the grid for everyone; filter to one width before
    * building. (This differs from [[appendToIvfIndex]] and [[ivfTopK]],
    * where the fitted width is already fixed and off-width rows are
    * excluded against it.) The width check rides the fit aggregation's own
    * scan ([[Sq8.fitWithCounts]] — equal per-dim counts ⟺ one width), so
    * the build pays no separate dimensionality pass (round 16, VERDICT r15
    * task 6).
    */
  def buildIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      indexTable: graft.model.Table,
      centroidTable: graft.model.Table,
      numCentroids: Int = 256,
      numBuckets: Int = 64,
      codec: String = "float",
      fitTable: Option[graft.model.Table] = None,
  ): Unit = {
    import spark.implicits._
    require(codec == "float" || codec == "sq8", s"codec must be float or sq8, got $codec")
    require(codec == "float" || fitTable.nonEmpty, "codec=sq8 requires a fitTable")
    val cents = sampleCentroids(corpus, corpusId, corpusVec, numCentroids)
    graft.ops.TableIO.overwrite(spark,
      cents.zipWithIndex.toSeq.map { case (v, i) => (i, v.toSeq) }.toDF("cell", "centroid"),
      centroidTable)
    val assigned =
      if (codec == "sq8") {
        val clean = corpus.where(col(corpusVec).isNotNull)
        val f     = Sq8.fitWithCounts(clean, corpusVec)
        graft.ops.TableIO.overwrite(spark, f, fitTable.get)
        // the width check reads the PERSISTED fit (a dims-bounded table) —
        // no separate corpus pass: one width ⟺ every dim has the same cnt,
        // and an empty vector surfaces as a null-dim row (fitWithCounts)
        val persisted = spark.table(fitTable.get.qualifiedName)
        val cnts = persisted.select(col("dim").isNull.as("empty"), col("cnt")).distinct().collect()
        require(!cnts.exists(_.getBoolean(0)),
          "corpus contains empty vectors — filter size(vec) > 0 before building")
        require(cnts.map(_.getLong(1)).distinct.length == 1,
          "corpus must carry exactly one vector dimensionality " +
            "(mixed widths are rejected at build time — filter to one width first)")
        // collect the PERSISTED fit (not the in-plan aggregate) so the codes
        // written here and every later decode read the identical constants
        val (los, steps, fdim) = Sq8.collectFit(persisted)
        clean.select(
          col(corpusId).as("id"),
          Sq8.codesExpr(col(corpusVec), los, steps, fdim).cast("array<smallint>").as("codes"),
          element_at(cellAssign(col(corpusVec), cents, 1), 1).as("cell"),
        )
      } else
        corpus.select(
          col(corpusId).as("id"),
          col(corpusVec).as("vec"),
          element_at(cellAssign(col(corpusVec), cents, 1), 1).as("cell"),
        )
    graft.ops.TableIO.overwriteBucketed(spark, assigned, indexTable,
      Seq("cell"), numBuckets, Seq("cell"))
  }

  /** Centroids of a persisted index, cell-ordered — the config-bounded
    * (C × dim floats) driver collect every index query/append pays once.
    */
  private def loadIndexCentroids(
      spark: org.apache.spark.sql.SparkSession,
      centroidTable: graft.model.Table): Array[Array[Float]] = {
    val cents = spark.table(centroidTable.qualifiedName)
      .orderBy(col("cell"))
      .select(col("centroid"))
      .collect()
      .map(_.getSeq[Float](0).toArray)
    require(cents.nonEmpty, s"IVF: empty centroid table ${centroidTable.qualifiedName}")
    cents
  }

  /** Assign a frame's vectors to their `nprobe` nearest cells of a
    * PERSISTED index — the query-ingest step of the at-rest recipe
    * (round 16, VERDICT r15 task 3). Returns `(query_id, __qvec, cell)`,
    * one row per probe, ready for [[queryIvfIndexAssigned]]; persist it
    * (bucketed by `cell` with the index's own bucket count, so the
    * steady-state pair join is exchange-free on BOTH sides) and the sweep
    * that answers the batch never touches centroids at all — the last
    * super-linear residual of the at-rest path (query-side O(|Q|·√C)
    * assignment, |Q| ∝ N in the corpus-sweep twins) moves to ingest.
    *
    * Assignment rides the same flat/two-level dial as everywhere else
    * ([[cellAssign]]): O(√C) per row at production C.
    */
  def assignToIndex(
      spark: org.apache.spark.sql.SparkSession,
      centroidTable: graft.model.Table,
      frame: DataFrame,
      idCol: String,
      vecCol: String,
      nprobe: Int = 16,
  ): DataFrame = {
    val cents = loadIndexCentroids(spark, centroidTable)
    frame.select(
      col(idCol).as("query_id"),
      col(vecCol).as("__qvec"),
      explode(cellAssign(col(vecCol), cents, nprobe)).as("cell"),
    )
  }

  /** Query a persisted IVF index. The probed-cell set (≤ min(|queries| ×
    * nprobe, C) distinct ids) becomes an `IN` filter on the bucket column,
    * so the scan PRUNES non-probed buckets at the source
    * (`SelectedBucketsCount` in the plan — asserted in AnnIndexSpec): a
    * query batch physically reads ~nprobe/numCentroids of the corpus, with
    * zero corpus shuffle after it.
    *
    * Query-side cell assignment rides the same flat/two-level dial as the
    * corpus side ([[cellAssign]]): a corpus-proportional query batch (the
    * at-rest corpus-sweep twin) against constant-cell-size C would
    * otherwise pay a flat O(|Q|·C) = super-linear probe. To retire even
    * the O(|Q|·√C) term, pre-assign the batch at its own ingest
    * ([[assignToIndex]]) and answer with [[queryIvfIndexAssigned]].
    *
    * `candidateJoin` is [[ivfTopK]]'s round-14 dial, same semantics:
    * "broadcast" (default) force-broadcasts the query side — right for
    * BOUNDED query batches; "shuffle" removes the forced hint and lets
    * Catalyst/AQE choose, the only safe setting when the query batch grows
    * with the corpus (a data-proportional broadcast build relation is the
    * cache-miss trap SCALE.md round 14 measured at ~2×).
    *
    * An index built with `codec = "sq8"` is scored over DECODED codes
    * against the persisted fit (pass the same `fitTable` given at build
    * time) — identical arithmetic to [[ivfTopK]]'s sq8 path, so the two
    * agree set-for-set at the same dial (pinned in AnnIndexSpec).
    *
    * `excludeSelf` drops same-id (query, corpus) pairs before the top-k —
    * with `queries` = the indexed corpus itself this is the AT-REST kNN
    * self-join ([[knnJoin]]'s layout twin, round 16).
    *
    * `nprobe >= numCentroids` degrades gracefully to an exact scan-all
    * (recall 1.0) — still shuffle-free under the broadcast dial.
    */
  def queryIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexTable: graft.model.Table,
      centroidTable: graft.model.Table,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int = 10,
      nprobe: Int = 16,
      candidateJoin: String = "broadcast",
      fitTable: Option[graft.model.Table] = None,
      excludeSelf: Boolean = false,
  ): DataFrame =
    queryIvfIndexAssigned(spark, indexTable,
      assignToIndex(spark, centroidTable, queries, queryId, queryVec, nprobe),
      k, candidateJoin, fitTable, excludeSelf)

  /** [[queryIvfIndex]] over an ALREADY-ASSIGNED query frame `(query_id,
    * __qvec, cell)` — [[assignToIndex]]'s output, typically read back from
    * a table persisted at query ingest. The steady state is then pure
    * probe-scan: collect the probed-cell set from the assigned frame (one
    * cheap columnar action, which for the sq8 codec also carries the
    * width-vs-fit contract check — no separate dimensionality pass), prune
    * the index scan to those buckets, pair by cell, bounded-heap top-k.
    * No centroid load, no per-row assignment.
    *
    * Default `candidateJoin` here is "shuffle": a PRE-ASSIGNED batch is by
    * design the corpus-proportional case (bounded ad-hoc batches just call
    * [[queryIvfIndex]]), and forcing a data-proportional broadcast is the
    * round-14 trap. When both the index and the assigned table are
    * bucketed by `cell` with the same bucket count, the pair join reads
    * co-located buckets with no exchange on either side.
    */
  def queryIvfIndexAssigned(
      spark: org.apache.spark.sql.SparkSession,
      indexTable: graft.model.Table,
      assigned: DataFrame,
      k: Int = 10,
      candidateJoin: String = "shuffle",
      fitTable: Option[graft.model.Table] = None,
      excludeSelf: Boolean = false,
  ): DataFrame = {
    require(candidateJoin == "broadcast" || candidateJoin == "shuffle",
      s"candidateJoin must be broadcast or shuffle, got $candidateJoin")
    Seq("query_id", "__qvec", "cell").foreach(c =>
      require(assigned.columns.contains(c),
        s"assigned frame must carry (query_id, __qvec, cell) — missing $c (use assignToIndex)"))
    // ONE action over the assigned frame collects the probed-cell set
    // (bounded by C) AND the distinct query widths (bounded, for the sq8
    // width-vs-fit require below) — folding what used to be a separate
    // full-frame distinct pass into the collect the pruning needs anyway
    // (round 16, VERDICT r15 task 6)
    val stats = assigned.agg(
      collect_set(col("cell")).as("cells"),
      collect_set(size(col("__qvec"))).as("widths")).collect()(0)
    val probed = stats.getSeq[Int](0)
    val widths = stats.getSeq[Int](1)
    require(probed.nonEmpty, "assigned query frame is empty — nothing to probe")
    val index = spark.table(indexTable.qualifiedName)
      .where(col("cell").isin(probed.map(Int.box): _*))
    val selfFilter = (df: DataFrame) =>
      if (excludeSelf) df.where(col("query_id") =!= col("id")) else df
    val scored =
      if (index.columns.contains("codes")) {
        require(fitTable.nonEmpty,
          s"index ${indexTable.qualifiedName} stores sq8 codes — pass the fitTable it was built with")
        val (los, steps, dim) = Sq8.collectFit(spark.table(fitTable.get.qualifiedName))
        require(widths.length == 1 && widths.head == dim,
          s"query frame width must match the fitted $dim dimensions")
        val qcoded = assigned.select(col("query_id"), col("cell"),
          Sq8.roundtripExpr(col("__qvec"), los, steps, dim).as("__qdvec"))
          .withColumn("__qn", normOf(col("__qdvec")))
        // decode BEFORE the pair join (the ivfTopK shape): per corpus row
        // once, not per candidate pair — a probed cell's row pairs with
        // every query probing it, and re-decoding per pair would multiply
        // the transform by the pair fan-out
        val decoded = index.select(col("id"), col("cell"),
          Sq8.decodeExpr(col("codes"), los, steps, dim).as("__dvec"))
          .withColumn("__nn", normOf(col("__dvec")))
        selfFilter(
          if (candidateJoin == "shuffle") decoded.join(qcoded, Seq("cell"))
          else decoded.join(broadcast(qcoded), Seq("cell")))
          .select(col("query_id"), col("id").as("__nid"),
            cosineWithNorms(col("__qdvec"), col("__dvec"), col("__qn"), col("__nn")).as("__sim"))
      } else
        selfFilter(
          if (candidateJoin == "shuffle")
            index.withColumn("__nn", normOf(col("vec")))
              .join(assigned.withColumn("__qn", normOf(col("__qvec"))), Seq("cell"))
          else index.withColumn("__nn", normOf(col("vec")))
            .join(broadcast(assigned.withColumn("__qn", normOf(col("__qvec")))), Seq("cell")))
          .select(col("query_id"), col("id").as("__nid"),
            cosineWithNorms(col("__qvec"), col("vec"), col("__qn"), col("__nn")).as("__sim"))
    topKOf(scored, k)
  }

  /** Incrementally grow a persisted IVF index (round 16 — VERDICT r15
    * task 2, the [[Pq.streamingIndexSink]] pattern for the IVF family):
    * encode/assign `newRows` against the PERSISTED centroids and fit — no
    * re-clustering, no re-fit, so new codes stay comparable with every row
    * ever ingested — and bucket-append to the layout. At 100 TB a
    * full-overwrite-only index loses most of the assign-at-ingest win to
    * every corpus delta; this makes the delta cost O(|delta|·√C).
    *
    * `numBuckets` must match the spec [[buildIvfIndex]] created — Spark
    * rejects mismatched bucketed appends, so drift fails loudly.
    *
    * Dims contract (the frozen-fit rule, matching [[ivfTopK]]'s corpus
    * side): for an sq8 index the fit is already fixed, so appended rows
    * whose width differs from the fitted width are EXCLUDED — they cannot
    * join the grid without lo-padding (fabricated mass). Quality under
    * growth is a GATE, not an assumption: re-measure the recall floor
    * after appending (the q129/q194 pattern — GateFloorSpec holds the
    * floor+teeth pair, SparkEntry q194 the oracle-checked reading).
    */
  def appendToIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      newRows: DataFrame,
      corpusId: String,
      corpusVec: String,
      indexTable: graft.model.Table,
      centroidTable: graft.model.Table,
      numBuckets: Int,
      fitTable: Option[graft.model.Table] = None,
  ): Unit = {
    require(spark.catalog.tableExists(indexTable.qualifiedName),
      s"appendToIvfIndex: ${indexTable.qualifiedName} must exist (Ann.buildIvfIndex first)")
    val cents = loadIndexCentroids(spark, centroidTable)
    val assigned =
      if (spark.table(indexTable.qualifiedName).columns.contains("codes")) {
        require(fitTable.nonEmpty,
          s"index ${indexTable.qualifiedName} stores sq8 codes — pass the fitTable it was built with")
        val (los, steps, dim) = Sq8.collectFit(spark.table(fitTable.get.qualifiedName))
        newRows
          .where(col(corpusVec).isNotNull && size(col(corpusVec)) === dim)
          .select(
            col(corpusId).as("id"),
            Sq8.codesExpr(col(corpusVec), los, steps, dim).cast("array<smallint>").as("codes"),
            element_at(cellAssign(col(corpusVec), cents, 1), 1).as("cell"),
          )
      } else
        newRows.select(
          col(corpusId).as("id"),
          col(corpusVec).as("vec"),
          element_at(cellAssign(col(corpusVec), cents, 1), 1).as("cell"),
        )
    graft.ops.TableIO.appendBucketed(spark, assigned, indexTable,
      Seq("cell"), numBuckets, Seq("cell"))
    spark.catalog.refreshTable(indexTable.qualifiedName)
  }
}
