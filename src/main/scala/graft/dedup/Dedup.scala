package graft.dedup

import graft.functions.TextFunctions._
import graft.functions.NativeFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus deduplication for training-data pipelines (beyond-reference scope,
  * SURVEY.md §7 step 10): exact, MinHash-LSH, SimHash, n-gram Jaccard,
  * embedding-cosine near-dup.
  *
  * Design rules for 100 TB:
  *  - **candidate generation is always blocked/bucketed — never all-pairs.**
  *    Every near-dup variant shuffles by a bucket key (LSH band, SimHash
  *    chunk, SRP bucket), compares only within buckets, and caps pathological
  *    bucket sizes so one boilerplate cluster cannot go quadratic.
  *  - **signatures are native single-node expressions**
  *    ([[graft.functions.HashImpl]]) — one pass per row, O(1) expression
  *    tree. Round 2 composed them from 128 higher-order functions, which
  *    cost 200–440 s of plan compilation per query and evaluated interpreted.
  *  - **the band explode carries only (id, band, bucket)** — ids, never
  *    payload arrays. Shingle sets re-join by id for the Jaccard verify, so
  *    the 32-band explode amplifies the shuffle by 32 × a 16-byte row, not
  *    32 × the document's shingle set.
  */
object Dedup {

  /** Exact dedup: keep one deterministic representative (min id) per
    * normalized-text group. Grouping key is the 128-bit fingerprint, not the
    * document body — shuffle rows stay tiny regardless of document size.
    * Collisions: md5 over normalized text makes false merges ~2^-64 at
    * corpus scale, the standard exact-dedup trade.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(fingerprint(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Exact dedup on explicit key columns (`dropDuplicates` with a
    * deterministic survivor instead of an arbitrary one).
    */
  def exactByKeys(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** MinHash signature (array<bigint> of length `numHashes`) over k-word
    * shingles — one-permutation MinHash with densification
    * ([[graft.functions.HashImpl.minHashSignature]]): O(|shingles|), not
    * O(numHashes × |shingles|).
    */
  def minHashSignature(text: Column, numHashes: Int = 128, shingleK: Int = 3): Column =
    NativeFunctions.minHashSignature(NativeFunctions.shingleHashes(text, shingleK), numHashes)

  /** Near-duplicate PAIRS via banded MinHash-LSH:
    * shingle → minhash → `bands` band-buckets → shuffle on (band, bucket) →
    * candidate pairs within buckets only → exact-Jaccard verify on the
    * re-joined shingle sets.
    *
    * With numHashes=128, bands=32 (r=4), the S-curve midpoint is
    * (1/32)^(1/4) ≈ 0.42; pairs at `threshold` ≥ 0.7 are caught with
    * probability > 0.99.
    *
    * ==Choosing `bands` — the production dial==
    * The default `bands = 32` (r = 4 signature rows per band) is the
    * 100 TB setting: candidate volume stays proportional to the true
    * near-dup density. For provable completeness (e.g. an oracle-checked
    * run where LSH recall must be exact), pass
    * [[recallExactBands]]:
    * {{{
    * val pairs = Dedup.nearDupPairsMinHash(docs, "doc_id", "text",
    *   threshold = 0.5, bands = Dedup.recallExactBands(0.5)) // r=2
    * }}}
    * r=2 makes any pair with J ≳ 0.1 a coin-flip candidate — on a corpus
    * with ordinary background similarity that sweeps a large share of ALL
    * pairs into the exact-Jaccard verify (candidate-volume ratio asserted
    * in DedupSimilaritySpec). Do NOT ship r=2 to a production-scale corpus;
    * it exists for recall-exactness, not throughput.
    *
    * @param maxBucketSize drop degenerate buckets larger than this (boiler-
    *   plate clusters) instead of letting one bucket go quadratic.
    */
  def nearDupPairsMinHash(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.7,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleK: Int = 3,
      maxBucketSize: Int = 1000,
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    verifyPairs(shingleSets(df, idCol, textCol, shingleK),
      numHashes, bands, threshold, maxBucketSize)
  }

  /** The (id, shingle-hash set) projection every MinHash dial starts from.
    * The CC-family operators cache it for the duration of their (eager)
    * component computation — the verify tail re-joins it twice by id, so
    * an uncached pipeline computes the shingle pass three times inside one
    * execution (round 16, guide §1.2).
    */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3): DataFrame =
    df.select(
      col(idCol).as("id"),
      NativeFunctions.shingleHashes(col(textCol), shingleK).as("sh"),
    )

  /** n-gram Jaccard near-dup: identical LSH pipeline but over character
    * n-gram sets — robust to word-boundary noise (whitespace mangling, OCR).
    */
  def nearDupPairsNgram(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.7,
      ngram: Int = 5,
      numHashes: Int = 128,
      bands: Int = 32,
      maxBucketSize: Int = 1000,
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val sets = df.select(
      col(idCol).as("id"),
      NativeFunctions.charNgramHashes(col(textCol), ngram).as("sh"),
    )
    verifyPairs(sets, numHashes, bands, threshold, maxBucketSize)
  }

  /** (id, band, bucket) rows — NO payload columns ride the 32× explode. */
  private[dedup] def banded(sets: DataFrame, numHashes: Int, bands: Int): DataFrame =
    sets.select(
      col("id"),
      posexplode(NativeFunctions.bandBuckets(
        NativeFunctions.minHashSignature(col("sh"), numHashes), bands)),
    ).toDF("id", "band", "bucket")

  /** [[banded]] plus the set SIZE (one int per row — payload arrays still
    * never ride the explode): `n` feeds the exact length filter at pair
    * enumeration, before any array is shuffled.
    */
  private[dedup] def bandedSized(sets: DataFrame, numHashes: Int, bands: Int): DataFrame =
    sets.select(
      col("id"), size(col("sh")).as("n"),
      posexplode(NativeFunctions.bandBuckets(
        NativeFunctions.minHashSignature(col("sh"), numHashes), bands)),
    ).toDF("id", "n", "band", "bucket")

  /** Drop rows whose key group exceeds `cap` — the degenerate-bucket cut
    * shared by every blocking family (LSH bands, winnow fingerprints,
    * SimHash chunks, SRP tables, SemDeDup cells).
    *
    * ==Why count-over-window (round 13 — round 12's rewrite reverted)==
    * Round 12 replaced this window with an aggregate-count + left-anti
    * join, diagnosing the char-ngram dial's sf30 super-linearity as the
    * window sorting the hottest bucket into one task. The round-13
    * adjudication (both impls on one HEAD, nine slots covering all six
    * blocking families, sf1 + sf10 + sf30 probes) showed that diagnosis
    * was a MISATTRIBUTION: the super-linear cost was the unfiltered
    * verify volume (fixed by the length filter in [[verifyPairs]]), and
    * with it gone the window wins at every measured scale for every
    * family — sf10 totals 397.7 s (window) vs 918.6 s (anti-join); sf30
    * char-ngram 24.7 s vs 29.7 s, word-shingle 59.8 s vs 98.7 s. The
    * anti-join's price is structural: the blocking relation is consumed
    * twice (count pass + probe), so its upstream — image decode for
    * perceptual hashes, fingerprinting for winnow — runs twice, and for
    * near-unique keys (winnow) the "thin" count shuffle is as wide as the
    * relation itself; a localCheckpoint pin traded recompute for a write
    * of the exploded relation and measured worse still on winnow (352 s
    * vs window's 53 s at sf10). The anti-join was deleted after that
    * adjudication. Known limit: a single bucket of ≳10⁸ rows sorts in one
    * task, which AQE could skew-split in an anti-join but not in a window.
    */
  private[dedup] def dropOversized(df: DataFrame, cap: Int, minSize: Int, keys: String*): DataFrame =
    // `minSize = 2` (round 16, scoped per call site in round 17 —
    // ADVICE r16): consumers that enumerate WITHIN-relation pairs pass
    // 2, because a single-member bucket can produce no pair — dropping
    // singletons is output-free for THEM and removes the overwhelming
    // majority of rows on sparse-bucket dials (r=4 production banding,
    // winnow fingerprints), which keeps the inrow pair aggregate in
    // hash mode (ObjectHashAggregate falls back to sort-based past its
    // key threshold) and shrinks the join strategy's probe input
    // identically. Consumers whose capped relation joins an EXTERNAL
    // side (similarTextTopK: corpus bands vs uncapped query bands — a
    // corpus doc alone in its bucket can still match a query) pass 1.
    df.withColumn("__bsz",
        count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .where(col("__bsz") <= cap && col("__bsz") >= minSize).drop("__bsz")

  /** Ordered within-bucket candidate-pair enumeration over a cap-bounded
    * blocking relation — the step every blocking family shares after
    * [[dropOversized]]. `member` must be a struct whose FIRST field is the
    * id. Output rows carry the two member structs as (__a, __b) with
    * __a.id < __b.id; the caller applies its verify filter and dedup.
    *
    * Two strategies, chosen per call site from its input by a measured
    * A/B (round 16):
    *  - "inrow" (default): collect each bucket's members (bounded by the
    *    cap) on the cap window's own hash partitioning — no new exchange —
    *    and stream ordered pairs out of two Generate steps. ONE execution
    *    of the upstream blocking pipeline.
    *  - "join": the classic self-join on the bucket keys. The upstream
    *    pipeline (shingle/minhash/banding, or the codec+hash pass for
    *    perceptual families) executes once per join side and its explode
    *    exchanges once per side. [[substringDupPairs]] picks it for winnow
    *    fingerprints (`winnowWindow > 1`).
    *
    * Both give the same pairs on non-null keys (EnumeratePairsSpec). Keys
    * must be non-null: join never matches a null key, while inrow groups a
    * null-key bucket like any other and pairs its members. Every caller's
    * keys are non-null — band positions and bucket hashes, window hashes,
    * and hash chunks ([[hash64Chunks]] drops null hashes).
    */
  private[dedup] def enumeratePairs(capped: DataFrame, keys: Seq[String], member: Column,
      impl: String = "inrow"): DataFrame =
    impl match {
      case "join" =>
        val a = capped.select(keys.map(col) :+ member.as("__a"): _*)
        val b = capped.select(keys.map(col) :+ member.as("__b"): _*)
        a.join(b, keys).where(col("__a.id") < col("__b.id"))
          .select(col("__a"), col("__b"))
      case _ =>
        capped.groupBy(keys.map(col): _*)
          .agg(sort_array(collect_list(member)).as("__m"))
          .where(size(col("__m")) >= 2)
          .select(col("__m"), posexplode(col("__m")).as(Seq("__i", "__a")))
          .select(col("__a"),
            explode(slice(col("__m"), col("__i") + lit(2), size(col("__m")))).as("__b"))
          .where(col("__a.id") < col("__b.id"))
    }

  /** Shared LSH tail: cap bucket sizes, self-join ids within (band, bucket),
    * LENGTH-FILTER the enumerated pairs, dedup candidates, then join the
    * shingle sets back BY ID for the exact-Jaccard verify. Two corpus passes
    * (banding + set re-join) instead of shipping every set through the
    * 32-band shuffle.
    *
    * ==The length filter (round 13 — the q40_prod residual fix)==
    * J(A,B) ≥ t forces |A∩B| ≥ t·|A∪B| ≥ t·max(|A|,|B|) while
    * |A∩B| ≤ min(|A|,|B|), so any pair with min/max < t can be dropped
    * with ZERO false dismissals (the size-ratio filter of the exact
    * similarity-join literature — PPJoin's length bound). Set sizes ride
    * the band explode as one int, so the filter runs at pair-enumeration
    * time — BEFORE the pair-dedup shuffle and before any payload array
    * moves. On the sf30 probe this cut 30.8M enumerated candidates to
    * 6.5M (identical 188,583 verified pairs) and the verify stage from
    * ~104 s to ~20 s: the residual super-linearity was not the verify
    * JOIN's partitioning (32 vs 128 vs 512 partitions and SHUFFLE_HASH
    * all measured flat-to-worse) but its VOLUME — candidate pairs × two
    * ~215-element hash arrays each ≈ 52 GB through one shuffle, 99.4% of
    * it false positives at t=0.9. Bytes not moved beat bytes moved well.
    */
  private def verifyPairs(
      sets: DataFrame,
      numHashes: Int,
      bands: Int,
      threshold: Double,
      maxBucketSize: Int,
  ): DataFrame = {
    val capped = dropOversized(bandedSized(sets, numHashes, bands),
      maxBucketSize, 2, "band", "bucket")
    // pair enumeration via [[enumeratePairs]] (round 16, guide §2.4), with
    // the PPJoin length filter evaluated on the pair row BEFORE the dedup
    // shuffle — set sizes ride the band explode as one int either way.
    val candidates = enumeratePairs(capped, Seq("band", "bucket"),
        struct(col("id"), col("n")))
      .where(least(col("__a.n"), col("__b.n")) >=
        greatest(col("__a.n"), col("__b.n")) * threshold)
      .select(col("__a.id").as("id_a"), col("__b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    candidates
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", NativeFunctions.jaccardSorted(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Remove near-duplicates: connected candidates collapse onto the min-id
    * representative (single-hop union toward the smallest matched id — for
    * chains A~B~C where A≁C this keeps A and C, the standard one-pass
    * approximation; full transitive closure would need iterative
    * connected-components).
    */
  def dedupNear(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.7,
      bands: Int = 32,
  ): DataFrame = {
    val pairs  = nearDupPairsMinHash(df, idCol, textCol, threshold, bands = bands)
    val losers = pairs.select(col("id_b").as("__loser")).distinct()
    df.join(losers, col(idCol) === col("__loser"), "left_anti")
  }

  /** VERBATIM answer-leak decontamination: flag corpus docs containing ANY
    * of the `answers` strings as a SUBSTRING of the lowercased text — the
    * complement of the n-gram overlap checks ([[contaminated]] and
    * friends), which cannot see answers shorter than a shingle ("42", a
    * named entity, a short code literal). All answers compile into ONE
    * Aho–Corasick automaton (driver-built, reference-object broadcast), so
    * the corpus scans once at O(chars) per doc regardless of answer count —
    * the SQL `EXISTS contains(...)` formulation is O(chars·answers).
    * Output: `(idCol, n_hits)` for flagged docs, n_hits = distinct answers
    * found.
    */
  def contaminatedSubstring(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      answers: Seq[String],
  ): DataFrame = {
    val patterns = answers.map(_.toLowerCase).filter(_.nonEmpty)
    // an empty (or all-empty-string) answer batch is a legitimate production
    // input — it means "nothing to decontaminate", i.e. zero hits, not a
    // failed job (the Automaton requires ≥1 non-empty pattern)
    if (patterns.isEmpty)
      return corpus.select(col(idCol), lit(0L).as("n_hits")).where(lit(false))
    val automaton = new graft.functions.MultiMatchImpl.Automaton(patterns.toArray)
    val hits = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.MultiMatchCountExpr(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(lower(col(textCol))),
        automaton))
    corpus.select(col(idCol), hits.as("n_hits")).where(col("n_hits") > 0)
  }

  /** Train/test CONTAMINATION check: near-dup pairs whose members sit in
    * DIFFERENT splits — the leakage report run after any split and before
    * any training run (a test doc with a near-copy in train silently
    * inflates eval). Output: `(id_a, id_b, split_a, split_b, jaccard)` for
    * crossing pairs only.
    *
    * Scale shape: the pair search is the standard banded/bucket-capped
    * MinHash pipeline; the split labels join back as (id, label) rows —
    * payloads never re-shuffle. At [[recallExactBands]] the report is
    * COMPLETE over J ≥ threshold (the oracle dial of q142) but candidate
    * volume grows with Σcluster² when duplicate clusters grow with the
    * corpus — the production dial is default banding plus a HARD
    * `maxBucketSize` (the q40 lesson: the cap IS the linearity guarantee,
    * O(N·cap·bands)).
    */
  def splitLeakage(
      df: DataFrame,
      idCol: String,
      textCol: String,
      splitCol: String,
      threshold: Double = 0.7,
      bands: Int = 32,
      maxBucketSize: Int = 1000,
  ): DataFrame = {
    val pairs  = nearDupPairsMinHash(df.select(col(idCol), col(textCol)),
      idCol, textCol, threshold, bands = bands, maxBucketSize = maxBucketSize)
    val labels = df.select(col(idCol), col(splitCol))
    pairs
      .join(labels.select(col(idCol).as("id_a"), col(splitCol).as("split_a")), Seq("id_a"))
      .join(labels.select(col(idCol).as("id_b"), col(splitCol).as("split_b")), Seq("id_b"))
      .where(col("split_a") =!= col("split_b"))
      .select(col("id_a"), col("id_b"), col("split_a"), col("split_b"), col("jaccard"))
  }

  /** Band count for a RECALL-EXACT run at `threshold`: pick r (rows/band) so
    * the S-curve miss probability at J=threshold is < 1e-6, i.e. the
    * LSH-candidate set provably contains every pair the exact-Jaccard verify
    * would accept. r=4 (the scale default) is right for thresholds ≥0.7;
    * mid thresholds (0.5–0.6) need r=2 — more candidates (any pair with
    * J ≳ 0.1 has a coin-flip chance of becoming one), which the exact verify
    * then filters. The dial: r trades candidate volume against recall at the
    * threshold; callers that need completeness (oracle-checked dedup) use
    * this, callers at 100 TB with high thresholds keep r=4.
    */
  def recallExactBands(threshold: Double, numHashes: Int = 128): Int = {
    var r = numHashes
    // largest r with miss = (1 - t^r)^(numHashes/r) below 1e-6
    while (r > 1 && math.pow(1 - math.pow(threshold, r), numHashes.toDouble / r) > 1e-6) r /= 2
    numHashes / r
  }

  /** Connected components over candidate pairs by iterative min-label
    * propagation: label(v) ← min(label(v), min label of neighbours) until
    * fixpoint (or `maxIter` join rounds past the aggregate-only first
    * round). Converges in O(component diameter) rounds —
    * near-dup clusters are shallow (boilerplate stars, edit chains), so
    * single digits in practice; `localCheckpoint` truncates the growing
    * lineage each round. Input columns: (id_a, id_b); output: (id, label)
    * with label = the component's min id.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // ONE pass over the (possibly expensive) upstream pair plan: each pair
    // explodes into both directed edges inline, and the result is
    // hash-partitioned by dst ONCE and cached, so every round's join reuses
    // the cached layout with no per-round edge exchange (round 16 — guide
    // §2.4: the previous shape cached the pairs TWICE, fwd plus the
    // mirrored union, and re-shuffled the edge side every round). Ids keep
    // their native type — min-label propagation only needs an ordering, so
    // string ids work as well as numeric ones.
    val edges = pairs.select(inline(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))))
      .repartition(col("dst"))
      .cache()
    // INIT = round 1 for free (round 16): at round 1 every neighbour's
    // label IS its id, which the edge rows already carry — so the first
    // propagation is a plain aggregate over the cached edges (no join),
    // and the loop below starts from min(id, neighbour ids). One fewer
    // join round for every component; the fixpoint is unchanged. LAZY
    // checkpoint: round 1's convergence count materializes it.
    var labels = edges.groupBy(col("dst"))
      .agg(least(col("dst"), min(col("src"))).as("label"))
      .select(col("dst").as("id"), col("label"))
      .localCheckpoint(false)
    var changed = 1L
    var i       = 0
    while (changed > 0 && i < maxIter) {
      // ONE join + ONE aggregate per round (round 16 — the previous shape
      // joined twice: neighbour-min, then labels back in for the change
      // count): newLabel(v) = min over {v's own label} ∪ {neighbour
      // labels}, and the own row (exactly one per vertex) rides the same
      // aggregate, so the old label — and with it the convergence count —
      // falls out with no second join.
      val contrib = edges.join(labels, edges("dst") === labels("id"))
        .select(col("src").as("cid"), col("label").as("lbl"), lit(false).as("own"))
        .unionByName(labels.select(col("id").as("cid"), col("label").as("lbl"),
          lit(true).as("own")))
      // LAZY checkpoint + count-as-materializer: the convergence count is
      // the first action on the checkpointed plan, so one job per round
      // both truncates the lineage and measures progress (an eager
      // localCheckpoint would pay a second, pure-materialization job).
      val updated = contrib.groupBy(col("cid"))
        .agg(min(col("lbl")).as("newLabel"),
          min(when(col("own"), col("lbl"))).as("label"))
        .select(col("cid").as("id"), col("label"), col("newLabel"))
        .localCheckpoint(false)
      changed = updated.filter(col("newLabel") < col("label")).count()
      labels = updated.select(col("id"), col("newLabel").as("label"))
      i += 1
    }
    edges.unpersist()
    labels
  }

  /** Shared head of the CC-family operators: LSH pairs at the caller's
    * dial → connected components, with the shingle-set projection CACHED
    * across its three in-plan uses (banding + the two verify re-joins) and
    * dropped as soon as the labels have materialized —
    * [[connectedComponents]] is eager (the convergence loop runs actions),
    * and nothing these operators return still references the sets, so the
    * cache lives exactly as long as the pair computation (round 16, guide
    * §1.2: one shingle pass instead of three, zero lifetime risk).
    */
  private def componentLabels(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      bands: Int,
      maxIter: Int,
  ): DataFrame = {
    // fail fast on a signature-truncating band count (ADVICE r16): this
    // call bypasses nearDupPairsMinHash's divisibility require, and
    // bandBuckets would silently ignore the last numHashes % bands hashes
    require(bands >= 1 && 128 % bands == 0,
      s"bands must divide 128 (got $bands) — a non-divisor silently truncates the signature")
    val sets   = shingleSets(df, idCol, textCol).cache()
    val labels = connectedComponents(
      verifyPairs(sets, 128, bands, threshold, 1000), maxIter)
    sets.unpersist()
    labels
  }

  /** Duplicate-cluster size histogram — the dedup AUDIT report (how much
    * of the corpus is duplicated, and in what cluster shapes) that decides
    * dial settings before any destructive dedup runs:
    * `(cluster_size, n_clusters)` with singletons counted as size-1
    * clusters. Same LSH + connected-components machinery as
    * [[dedupNearTransitive]]; the histogram itself is two tiny aggregates
    * over (id, label) — the corpus payload never enters either shuffle.
    */
  def clusterSizeHistogram(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.7,
      maxIter: Int = 20,
      bands: Int = 32,
  ): DataFrame = {
    val labels = componentLabels(df, idCol, textCol, threshold, bands, maxIter)
    df.select(col(idCol).as("id")).join(labels, Seq("id"), "left")
      .select(coalesce(col("label"), col("id")).as("comp"))
      .groupBy("comp").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
  }

  /** Cross-source duplication matrix: for every source pair (a < b), how
    * many DISTINCT normalized texts appear in both — the audit that shows
    * which ingest feeds mirror each other (syndication networks, crawl
    * overlaps) BEFORE a destructive dedup decides which source "owns" the
    * shared content. Complements [[clusterSizeHistogram]] (within-corpus
    * cluster shape) with the between-feed view.
    *
    * Scale shape: one distinct over (fingerprint, source) — the shuffle
    * carries 32-hex keys, never text — then a groupBy(fingerprint) whose
    * per-key state is bounded by the SOURCE count (feeds, not documents);
    * pair expansion is O(sources²) per shared fingerprint, tiny because
    * sources number in the hundreds. No corpus-sized broadcast, no
    * cartesian product.
    */
  def crossSourceOverlap(df: DataFrame, textCol: String, sourceCol: String): DataFrame = {
    // null text/source rows carry no shareable content (and SQL null-join
    // semantics would silently disagree with a groupBy-by-null-key here:
    // Spark groups null as a key, an equi-join never matches it) — drop
    // them so both engines see the same pair universe
    val fp = df.where(col(textCol).isNotNull && col(sourceCol).isNotNull)
      .select(fingerprint(col(textCol)).as("fp"), col(sourceCol).as("src")).distinct()
    val sets = fp.groupBy(col("fp")).agg(array_sort(collect_set(col("src"))).as("srcs"))
      .where(size(col("srcs")) >= 2)
    val pairs = sets.select(explode(flatten(transform(col("srcs"), (a, i) =>
      transform(slice(col("srcs"), i + 2, size(col("srcs"))),
        b => struct(a.as("sa"), b.as("sb")))))).as("p"))
    pairs.groupBy(col("p.sa").as("source_a"), col("p.sb").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Top-k most similar corpus documents per query document — similar-doc
    * SEARCH over text (the shingle-Jaccard complement of the embedding ANN
    * in similarity/Ann): exact k-word-shingle Jaccard, LSH-pruned. Output
    * `(query_id, corpus_id, jaccard)` ranked per query with ties broken by
    * ascending corpus id; same-id matches are excluded so a corpus member
    * can query itself away. Recall contract mirrors the dedup family: at
    * [[recallExactBands]](threshold) every pair with J ≥ threshold is a
    * candidate, so the top-k is EXACT over the ≥-threshold neighborhood.
    *
    * Scale shape: corpus bands are bucket-capped; the band join carries ids
    * only; shingle sets re-join by id for verify; the rank window partitions
    * by query (bounded by candidates per query, not corpus size).
    */
  def similarTextTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      threshold: Double = 0.5,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleK: Int = 3,
      maxBucketSize: Int = 1000,
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val cSets = corpus.select(col(idCol).as("corpus_id"),
      NativeFunctions.shingleHashes(col(textCol), shingleK).as("c_sh"))
    val qSets = queries.select(col(idCol).as("query_id"),
      NativeFunctions.shingleHashes(col(textCol), shingleK).as("q_sh"))
    val cBands = bandedSized(
      cSets.select(col("corpus_id").as("id"), col("c_sh").as("sh")), numHashes, bands)
    // minSize = 1 (round 17, ADVICE r16): the capped CORPUS bands join the
    // UNCAPPED query bands — a corpus doc alone in its (band, bucket) can
    // still match a query row, so singleton buckets must survive here
    val capped = dropOversized(cBands, maxBucketSize, 1, "band", "bucket")
    val qBands = bandedSized(
      qSets.select(col("query_id").as("id"), col("q_sh").as("sh")), numHashes, bands)
    // exact length filter at enumeration time (see verifyPairs): J ≥ t
    // requires size-ratio ≥ t, so below-ratio pairs drop before the
    // pair-dedup shuffle and the array re-join
    val cand = capped.select(
        col("band"), col("bucket"), col("id").as("corpus_id"), col("n").as("cn"))
      .join(qBands.select(
          col("band"), col("bucket"), col("id").as("query_id"), col("n").as("qn")),
        Seq("band", "bucket"))
      .where(col("corpus_id") =!= col("query_id") &&
        least(col("cn"), col("qn")) >= greatest(col("cn"), col("qn")) * threshold)
      .select(col("query_id"), col("corpus_id"))
      .dropDuplicates("query_id", "corpus_id")
    val scored = cand.join(qSets, Seq("query_id")).join(cSets, Seq("corpus_id"))
      .withColumn("jaccard", NativeFunctions.jaccardSorted(col("q_sh"), col("c_sh")))
      .where(col("jaccard") >= threshold)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("jaccard").desc, col("corpus_id").asc)
    scored.withColumn("__rn", row_number().over(w)).where(col("__rn") <= k)
      .select(col("query_id"), col("corpus_id"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Soft dedup: instead of DROPPING near-duplicates, weight every doc by
    * `1 / cluster_size` so each duplicate cluster contributes one document's
    * worth of training mass (SoftDeDup-style loss reweighting; singletons
    * get weight 1). Non-destructive — the pipeline downstream multiplies
    * loss/sampling probability by `weight`. Same machinery as
    * [[clusterSizeHistogram]]; the sizes join is keyed on component labels
    * (id-sized), never on payload.
    */
  def softDedupWeights(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.7,
      maxIter: Int = 20,
      bands: Int = 32,
  ): DataFrame = {
    val labels = componentLabels(df, idCol, textCol, threshold, bands, maxIter)
    val withComp = df.select(col(idCol).as("id")).join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("comp"))
    val sizes = withComp.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
    withComp.join(sizes, Seq("comp"))
      .select(col("id").as(idCol), col("cluster_size"),
        round(lit(1.0) / col("cluster_size"), 6).as("weight"))
  }

  /** Near-dedup with FULL transitive closure: all connected near-dup docs
    * collapse onto the component's min id (vs [[dedupNear]]'s cheaper
    * one-hop approximation that keeps chain endpoints).
    */
  def dedupNearTransitive(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.7,
      maxIter: Int = 20,
      bands: Int = 32,
  ): DataFrame = {
    val losers = componentLabels(df, idCol, textCol, threshold, bands, maxIter)
      .filter(col("id") =!= col("label"))
      .select(col("id").as("__loser"))
    df.join(losers, col(idCol) === col("__loser"), "left_anti")
  }

  /** Transitive near-dedup that keeps the BEST document per duplicate
    * cluster instead of the min-id one: every connected component of the
    * near-dup graph collapses onto the row ranked first by `orderBy`
    * (ties broken by ascending id so the survivor is deterministic). The
    * standard production variant of [[dedupNearTransitive]] — web-scale
    * pipelines keep the longest / highest-quality copy of a duplicated
    * page, not an arbitrary one (reference scope: training-data curation
    * beyond astro-sdk; cf. SURVEY.md §2 LLM-pipeline addenda).
    *
    * Scale shape: the ranking window runs ONLY over rows that belong to
    * some component (inner join with the CC labels — a tiny fraction of
    * the corpus at real dup rates); the untouched majority passes through
    * with an anti-join against that same small label set, so the full
    * corpus is never shuffled by the window.
    */
  def dedupNearKeepBest(
      df: DataFrame,
      idCol: String,
      textCol: String,
      orderBy: Seq[Column],
      threshold: Double = 0.7,
      maxIter: Int = 20,
      bands: Int = 32,
  ): DataFrame = {
    val labels = componentLabels(df, idCol, textCol, threshold, bands, maxIter)
      .select(col("id").as("__cc_id"), col("label").as("__cc_label"))
    val inComponents = df.join(labels, df(idCol) === col("__cc_id"))
    val w = Window.partitionBy(col("__cc_label"))
      .orderBy(orderBy :+ col(idCol).asc: _*)
    val winners = inComponents
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn", "__cc_id", "__cc_label")
    val untouched = df.join(labels, df(idCol) === col("__cc_id"), "left_anti")
    untouched.unionByName(winners)
  }

  /** C4-style boilerplate-line removal: delete every line that occurs in at
    * least `max(minDocs, ceil(maxDocFrac × corpus size))` DISTINCT documents
    * (nav bars, cookie banners, boilerplate footers), preserving the
    * remaining lines in original order. Documents whose every line is
    * boilerplate survive with empty text (dropping them is a separate
    * quality-filter decision). Blank/whitespace-only lines are NEVER
    * treated as boilerplate — they are document structure (paragraph
    * breaks), not repeated content, and would otherwise cross the cutoff
    * in any real corpus and get stripped everywhere.
    *
    * Scale shape: the line-frequency pass groups by the 128-bit md5 of the
    * line (16-byte shuffle keys, never line text); the frequent-line set —
    * tiny by construction, it only holds lines repeated across ≥ that many
    * documents — broadcasts into an anti-join against the exploded lines;
    * reconstruction shuffles each surviving line once, grouped by doc id.
    * No driver-side state beyond one corpus count.
    */
  def stripBoilerplateLines(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDocFrac: Double = 0.01,
      minDocs: Long = 2L,
      delimiter: String = "\n",
  ): DataFrame = {
    require(maxDocFrac > 0 && maxDocFrac <= 1, "maxDocFrac must be in (0, 1]")
    val nDocs  = df.count() // bounded driver scalar: one long
    val cutoff = math.max(minDocs, math.ceil(maxDocFrac * nDocs).toLong)
    val lines = df.select(
      col(idCol).as("__id"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(delimiter))),
    ).toDF("__id", "__pos", "__line")
      .withColumn("__lh", md5(col("__line")))
    val frequent = lines.where(length(trim(col("__line"))) > 0)
      .groupBy(col("__lh"))
      .agg(count_distinct(col("__id")).as("__docs"))
      .where(col("__docs") >= cutoff)
      .select(col("__lh"))
    val kept = lines.join(broadcast(frequent), Seq("__lh"), "left_anti")
    val rebuilt = kept.groupBy(col("__id"))
      .agg(concat_ws(delimiter,
        transform(sort_array(collect_list(struct(col("__pos"), col("__line")))),
          s => s.getField("__line"))).as("__clean"))
    df.join(rebuilt, df(idCol) === col("__id"), "left")
      .withColumn("__clean", coalesce(col("__clean"), lit("")))
      .drop("__id")
  }

  /** Benchmark decontamination: train-set documents sharing any k-word
    * shingle with the eval corpus (the contamination filter every serious
    * training pipeline runs before training). Grams are md5-hashed so the
    * join shuffles 16-byte keys, never gram text; the eval side (benchmark
    * suites — inherently small) broadcasts, so the corpus-side scan streams
    * once with no shuffle at all. Output: distinct contaminated train ids.
    */
  def contaminated(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
  ): DataFrame = {
    val tg = train.select(col(idCol).as("id"),
      explode(array_distinct(wordShingles(col(textCol), k))).as("gram"))
      .select(col("id"), md5(col("gram")).as("gh"))
    val eg = eval.select(explode(array_distinct(wordShingles(col(textCol), k))).as("gram"))
      .select(md5(col("gram")).as("gh")).distinct()
    tg.join(broadcast(eg), Seq("gh")).select(col("id")).distinct()
  }

  /** [[contaminated]] with an overlap threshold instead of any-hit: a train
    * document is contaminated when it shares at least `minShared` distinct
    * k-grams with the eval corpus AND those cover at least `minFraction`
    * of its own distinct grams — the dial real decontamination runs at
    * (single-gram hits on 8-word shingles are near-certain matches, but
    * shorter grams or OCR-noisy corpora need "several hits / a real
    * fraction of the doc" before discarding training data).
    *
    * Output: (id, n_shared, n_grams) for every flagged doc — the evidence
    * columns an audit of dropped documents wants.
    *
    * Scale shape: identical to [[contaminated]] (eval grams broadcast,
    * corpus streams once); the per-doc gram total is computed inline
    * before the explode, so no second aggregation pass over the corpus.
    */
  def contaminatedThreshold(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      minShared: Int = 1,
      minFraction: Double = 0.0,
  ): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    require(minFraction >= 0.0 && minFraction <= 1.0, s"minFraction out of range: $minFraction")
    val base = train.select(col(idCol).as("id"),
      array_distinct(wordShingles(col(textCol), k)).as("__gs"))
    val tg = base.select(col("id"), size(col("__gs")).as("n_grams"),
      explode(col("__gs")).as("gram"))
      .select(col("id"), col("n_grams"), md5(col("gram")).as("gh"))
    val eg = eval.select(explode(array_distinct(wordShingles(col(textCol), k))).as("gram"))
      .select(md5(col("gram")).as("gh")).distinct()
    tg.join(broadcast(eg), Seq("gh"))
      .groupBy(col("id"), col("n_grams"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared &&
        col("n_shared") >= col("n_grams") * minFraction)
      .select(col("id"), col("n_shared"), col("n_grams"))
  }

  /** [[contaminated]] for eval corpora too large to broadcast as an exact
    * gram set (a full benchmark-suite union runs to hundreds of millions of
    * grams). A fixed-size Bloom filter over the eval gram hashes is built
    * once and embedded in the plan ([[graft.functions.BloomMightContainExpr]]
    * — codegen'd, no UDF); the corpus-side gram stream drops ~(1-fpp) of
    * its rows BEFORE the exchange, and only the filter survivors enter the
    * exact shuffle join against the eval grams. Bloom false positives are
    * killed by that verify join; false negatives are impossible — the
    * result is bit-identical to [[contaminated]] (md5 gram keys both ways),
    * with the broadcast requirement reduced from O(|eval grams|) to the
    * filter's fixed bits.
    *
    * `expectedGrams` sizes the filter; pass an estimate to skip the count
    * pass (oversizing only wastes bits).
    */
  def contaminatedBloom(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      expectedGrams: Long = 0L,
      fpp: Double = 0.01,
  ): DataFrame = {
    import graft.functions.BloomFunctions
    val eg = eval.select(explode(array_distinct(wordShingles(col(textCol), k))).as("gram"))
      .select(md5(col("gram")).as("gh"), xxhash64(col("gram")).as("gh64"))
      .distinct()
    val n     = if (expectedGrams > 0) expectedGrams else eg.count()
    val bloom = eg.stat.bloomFilter("gh64", math.max(n, 1L), fpp)
    val bytes = BloomFunctions.serialize(bloom)
    val tg = train.select(col(idCol).as("id"),
      explode(array_distinct(wordShingles(col(textCol), k))).as("gram"))
      .select(col("id"), md5(col("gram")).as("gh"), xxhash64(col("gram")).as("gh64"))
      .where(BloomFunctions.mightContainLong(col("gh64"), bytes))
    tg.join(eg.select(col("gh")), Seq("gh")).select(col("id")).distinct()
  }

  /** Cross-document long-substring duplicate pairs: (id_a, id_b) for
    * documents sharing at least one `minLen`-codepoint window of NORMALIZED
    * text — the exact-substring duplication signal of Lee et al. 2021
    * ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499), whose suffix-array construction this re-expresses
    * as a window-hash join (distributable; no global suffix array).
    *
    * Dials, same pattern as the LSH banding dial:
    *  - `winnowWindow = 1` (verification dial): EVERY window's 64-bit hash
    *    joins — result is exactly the shared-`minLen`-substring pair set
    *    (modulo ~2⁻⁶⁴ hash collisions). O(chars) explode rows per doc.
    *  - `winnowWindow = w > 1` (production dial): winnowing fingerprints
    *    (~2/(w+1) density, [[TextImpl.winnowFingerprints]]) generate
    *    candidates — the winnowing guarantee catches every shared run of
    *    ≥ minLen+w-1 chars — then candidate pairs verify EXACTLY against
    *    the full window-hash sets of candidate docs only (broadcast
    *    semi-join; the non-colliding corpus majority is never re-hashed).
    *    Output: all pairs sharing ≥ minLen+w-1 chars, plus any
    *    winnow-caught pairs sharing ≥ minLen.
    *
    * `maxBucketSize` caps docs per window key so corpus-wide boilerplate
    * (license headers) can't go quadratic — the same bound as the LSH
    * bucket cap.
    */
  def substringDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int = 40,
      winnowWindow: Int = 1,
      maxBucketSize: Int = 1000,
  ): DataFrame = {
    require(minLen >= 2, "minLen must be >= 2")
    require(winnowWindow >= 1, "winnowWindow must be >= 1")
    val base = df.select(col(idCol).as("id"), col(textCol).as("__text"))
    val keys =
      if (winnowWindow == 1) NativeFunctions.windowHashes64(col("__text"), minLen)
      else NativeFunctions.winnowFingerprints(col("__text"), minLen, winnowWindow)
    val fps = base.select(col("id"), explode(keys).as("wh"))
    val capped = dropOversized(fps, maxBucketSize, 2, "wh")
    // pair enumeration via [[enumeratePairs]] (round 16) — one execution
    // of the fingerprint + cap pipeline on the inrow strategy
    val cands = enumeratePairs(capped, Seq("wh"), struct(col("id")),
      if (winnowWindow == 1) "inrow" else "join")
      .select(col("__a.id").as("id_a"), col("__b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    if (winnowWindow == 1) cands
    else {
      // candIds is Θ(N) on a duplicate-saturated corpus (every id in some
      // candidate pair), so it must never be a FORCED broadcast (the
      // round-14 build-relation audit's one genuine hazard: ~80 GB of ids
      // at 10^10 docs would OOM the driver). Unhinted, AQE broadcasts the
      // semi-join's small side when it IS small and falls back to a hash
      // shuffle on the 8-byte id key when it isn't — never wrong, never
      // driver-fatal.
      val candIds = cands.select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
      val sets = base.join(candIds, Seq("id"), "left_semi")
        .select(col("id"), NativeFunctions.windowHashes64(col("__text"), minLen).as("ws"))
      cands
        .join(sets.select(col("id").as("id_a"), col("ws").as("ws_a")), Seq("id_a"))
        .join(sets.select(col("id").as("id_b"), col("ws").as("ws_b")), Seq("id_b"))
        .where(arrays_overlap(col("ws_a"), col("ws_b")))
        .select(col("id_a"), col("id_b"))
    }
  }

  /** Cross-document long-substring REMOVAL — the other half of the Lee
    * et al. 2021 semantics ([[substringDupPairs]] finds the pairs; this
    * cuts the spans): every `minLen`-codepoint window of NORMALIZED text
    * that occurs in more than one document is removed from ALL documents
    * carrying it (C4-style "cut the boilerplate everywhere" stance — a
    * keep-one-copy variant is a policy layer over the same covered-position
    * set). Output: (idCol, clean_text) for EVERY input document,
    * clean_text = the normalized text minus the union of shared windows
    * (unchanged normalized text when nothing is shared).
    *
    * Dials, mirroring [[substringDupPairs]]:
    *  - `winnowWindow = 1` (verification dial): every window's position
    *    hash joins — exact covered set, O(chars) explode rows per doc.
    *  - `winnowWindow = w > 1` (production dial): winnowing fingerprints
    *    (~2/(w+1) density) first find the DOCUMENTS that could share a run
    *    of ≥ minLen+w-1 chars (the winnowing guarantee); only those docs
    *    explode full positional windows. Runs in [minLen, minLen+w-2] can
    *    be missed — the standard winnowing trade, stated here.
    *
    * Scale shape: unlike the pairs op this needs NO pair join at all —
    * shared-window detection is a count-distinct-docs per window key, so
    * corpus-wide boilerplate (the worst skew case for pairs) costs one
    * hot-but-bounded aggregation key, not a quadratic bucket. Per-doc
    * covered positions come back as a `collect_list` bounded by document
    * length (positions are ints; a 1 MB doc is ≤ 4 MB of positions in the
    * degenerate all-covered case). Payload text never rides the explode.
    */
  def removeSharedSubstrings(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int = 40,
      winnowWindow: Int = 1,
  ): DataFrame = {
    require(minLen >= 2, "minLen must be >= 2")
    require(winnowWindow >= 1, "winnowWindow must be >= 1")
    val base = df.select(col(idCol).as("id"), col(textCol).as("__text"))
    val candidates =
      if (winnowWindow == 1) base
      else {
        val fps = base.select(col("id"),
          explode(NativeFunctions.winnowFingerprints(col("__text"), minLen, winnowWindow))
            .as("fp")).distinct()
        val dupFp = fps.groupBy("fp").agg(count(lit(1)).as("__n"))
          .where(col("__n") > 1).select(col("fp"))
        val candIds = fps.join(dupFp, Seq("fp"), "left_semi").select(col("id")).distinct()
        base.join(candIds, Seq("id"), "left_semi")
      }
    val wh = candidates
      .select(col("id"), posexplode(NativeFunctions.windowHashSeq(col("__text"), minLen)))
      .withColumnRenamed("col", "wh")
    val dup = wh.select(col("id"), col("wh")).distinct()
      .groupBy(col("wh")).agg(count(lit(1)).as("__n"))
      .where(col("__n") > 1).select(col("wh"))
    val covered = wh.join(dup, Seq("wh"), "left_semi")
      .groupBy(col("id")).agg(collect_list(col("pos")).as("__ps"))
    base.join(covered, Seq("id"), "left")
      .select(col("id").as(idCol),
        NativeFunctions.cutWindows(col("__text"),
          coalesce(col("__ps"), array().cast("array<int>")), minLen).as("clean_text"))
  }

  /** 64-bit SimHash over tokens — native one-pass expression
    * ([[graft.functions.HashImpl.simHash64]]); bit i is the sign of the
    * token-hash-bit vote.
    */
  def simHash(text: Column): Column = NativeFunctions.simHash64(text)

  /** [[simHash]] with an md5-derived token hash — same vote/packing
    * semantics, but every step is expressible in portable SQL, so results
    * built on it are oracle-checkable end-to-end (see
    * [[graft.functions.HashImpl.simHash64Md5]] for the exact contract).
    * The xxhash [[simHash]] stays the throughput default.
    */
  def simHashPortable(text: Column): Column = NativeFunctions.simHash64Md5(text)

  /** SimHash near-dup pairs: pigeonhole blocking — split the 64-bit hash into
    * `maxHamming + 1` chunks; any pair within `maxHamming` bits shares at
    * least one exact chunk, so candidates come from chunk-equality joins
    * (never all-pairs), then verify popcount(xor) ≤ maxHamming. The 64-bit
    * `sim` value rides the explode (it IS the payload — 8 bytes).
    *
    * `portable = true` swaps the token hash for the md5-derived
    * [[simHashPortable]] variant (SQL-mirrorable, so the full pipeline —
    * votes, packing, pigeonhole blocking, hamming verify — hash-checks
    * against a declarative oracle); blocking and verification are
    * hash-agnostic, so everything this operator does is exercised
    * identically under either variant.
    */
  def nearDupPairsSimHash(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000,
      portable: Boolean = false,
  ): DataFrame = {
    val h = if (portable) simHashPortable(col(textCol)) else simHash(col(textCol))
    nearDupPairsHash64(
      df.select(col(idCol).as("id"), h.as("sim")),
      "id", "sim", maxHamming, maxBucketSize)
  }

  /** Generic pigeonhole near-dup over ANY precomputed 64-bit hash column —
    * the blocking engine behind [[nearDupPairsSimHash]] (text) and
    * [[graft.multimodal.Multimodal.imageDHash]] (perceptual image dedup):
    * split the hash into `maxHamming + 1` chunks; any pair within
    * `maxHamming` bits shares at least one exact chunk, so candidates come
    * from chunk-equality joins (never all-pairs), then verify
    * popcount(xor) ≤ maxHamming. The 64-bit hash value rides the explode
    * (it IS the payload — 8 bytes). Null hashes (undecodable payloads) are
    * dropped up front.
    */
  /** Pigeonhole chunk rows for a 64-bit similarity hash: `(id, sim, chunk,
    * val)` — any two hashes within `chunks - 1` hamming share at least one
    * identical chunk. Shared by the batch pair-join and the incremental
    * index ([[IncrementalDedup.buildHash64Index]]).
    */
  private[dedup] def hash64Chunks(
      df: DataFrame, idCol: String, hashCol: String, chunks: Int): DataFrame = {
    val width = 64 / chunks
    df.select(col(idCol).as("id"), col(hashCol).as("sim"))
      .where(col("sim").isNotNull)
      .select(
        col("id"), col("sim"),
        posexplode(array((0 until chunks).map { j =>
          shiftrightunsigned(col("sim"), j * width).bitwiseAND(lit((1L << width) - 1))
        }: _*)),
      ).toDF("id", "sim", "chunk", "val")
  }

  def nearDupPairsHash64(
      df: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000,
  ): DataFrame = {
    val chunks  = maxHamming + 1
    val blocked = hash64Chunks(df, idCol, hashCol, chunks)
    val capped = dropOversized(blocked, maxBucketSize, 2, "chunk", "val")
    // verify BEFORE dedup: popcount(xor) is one instruction, so filtering
    // the enumerated pairs ahead of the dropDuplicates shuffle cuts that
    // shuffle to the survivors only. Pair enumeration via
    // [[enumeratePairs]] (round 16): on the inrow strategy the hash/chunk
    // pipeline — for perceptual families, the image/audio decode pass —
    // executes once instead of once per join side. (Null-hash rows never
    // get here: hash64Chunks drops them.)
    enumeratePairs(capped, Seq("chunk", "val"), struct(col("id"), col("sim")))
      .withColumn("hamming",
        call_function("bit_count", col("__a.sim").bitwiseXOR(col("__b.sim"))))
      .where(col("hamming") <= maxHamming)
      .select(col("__a.id").as("id_a"), col("__b.id").as("id_b"), col("hamming"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Transitive dedup over ANY 64-bit hash column: [[nearDupPairsHash64]]
    * candidates → connected components → min-id survivor per component —
    * the perceptual-image analog of [[dedupNearTransitive]] (feed
    * [[graft.multimodal.Multimodal.imageDHash]] output; also applies to
    * SimHash). Rows whose hash is null (undecodable payloads) always
    * survive — they belong to no component.
    */
  def dedupHash64Transitive(
      df: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000,
      maxIter: Int = 20,
  ): DataFrame = {
    // EXACT-EQUAL PRE-COLLAPSE: hamming(x,x)=0, so rows sharing a hash value
    // are one component member-set by definition — collapse each distinct
    // hash to its min-id representative BEFORE the pigeonhole pairing.
    // Web-scale corpora carry mega-clusters (the same logo/tile duplicated
    // millions of times); without this the chunk join pairs every member
    // against every other and candidate volume grows with rows², while the
    // collapsed form grows with DISTINCT hashes² — the difference between a
    // linear shuffle and a quadratic one at 100 TB. Each transitive
    // component (over rows) keeps exactly its min id; the one behavior
    // change vs the pre-collapse-free form is deliberate: an exact-equal
    // mega-cluster larger than maxBucketSize previously overflowed every
    // chunk bucket and survived undeduped — now its non-min members are
    // collapsed unconditionally. Ids stay in their NATIVE type (min and
    // the component labeling only need an ordering), so string ids work.
    // CACHE the (id, hash) projection — 16ish bytes per row at any scale.
    // Without it every consumer (rep election, the keep join, and the
    // loser list) re-executes the FULL upstream plan, which for the
    // perceptual families is the image/audio synth + decode + hash
    // pipeline: three codec passes over the corpus instead of one
    // (round 16, guide §1.2 — don't recompute what a tiny cache holds).
    val groups = df.select(col(idCol).as("__gid"), col(hashCol).as("__ghash"))
      .where(col("__ghash").isNotNull)
      .cache()
    val reps = groups.groupBy(col("__ghash")).agg(min(col("__gid")).as("__rid")).cache()
    val pairs = nearDupPairsHash64(reps, "__rid", "__ghash", maxHamming, maxBucketSize)
      .select(col("id_a"), col("id_b"))
    // component label per representative (isolated reps label themselves),
    // broadcast back over the hash groups: the ONLY surviving row of a
    // component is the one whose id equals the component's min rep id
    val cc = connectedComponents(pairs, maxIter)
    val keep = reps.join(cc, reps("__rid") === cc("id"), "left")
      .select(col("__ghash"), coalesce(col("label"), col("__rid")).as("__keep"))
    // EAGER loser list (round 17 — the componentLabels lifetime pattern,
    // ADVICE r16): the returned lazy anti-join must not keep the cached
    // (id, hash) projections pinned forever in a long-lived session, so the
    // loser ids (tiny — non-survivors only) materialize once via
    // localCheckpoint (ContextCleaner frees the blocks when the result is
    // dropped, unlike CacheManager entries) and both caches unpersist here.
    val losers = groups.join(keep, Seq("__ghash"))
      .filter(col("__gid") =!= col("__keep"))
      .select(col("__gid").as("__loser"))
      .localCheckpoint()
    groups.unpersist()
    reps.unpersist()
    df.join(losers, col(idCol) === col("__loser"), "left_anti")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): assign each embedding to its nearest coarse
    * centroid, compare cosines ONLY within a cluster, and collapse every
    * connected duplicate group onto its min-id representative. The
    * cluster-then-dedup shape is the production alternative to multi-table
    * LSH ([[nearDupPairsEmbedding]]) at the 100 TB scale: one centroid
    * pass + one shuffle by cell, embarrassingly parallel per cluster, and
    * the cell assignment can be persisted at ingest
    * ([[graft.similarity.Ann.buildIvfIndex]] writes exactly this layout).
    * Trade-off (inherent to the method, documented in the paper): pairs
    * straddling a cluster boundary are missed — recall is centroid-
    * dependent, so outputs are engine-specific (property-tested in
    * CurationOpsSpec rather than oracle-checked; q14 is the recall-exact
    * oracle-checked embedding dedup).
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      numCentroids: Int = 256,
      maxClusterCompare: Int = 2000,
  ): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    if (base.isEmpty) return df // nothing to cluster; match the other variants
    val cents = graft.similarity.Ann.coarseCentroids(base, "id", "vec", numCentroids)
    val assigned = base.select(
      col("id"),
      col("vec"),
      element_at(NativeFunctions.nearestCentroids(col("vec"), cents, 1), 1).as("cell"),
    )
    // CACHE the capped assignment (round 17 — Clustering.semDedup parity,
    // VERDICT r16 item 6): both pair-join sides would otherwise re-run the
    // O(N·C) centroid scoring + cap window once each. Lifetime is exactly
    // the eager connectedComponents call below (the componentLabels
    // pattern — CC's labels are checkpoint-backed, so nothing returned
    // still references this cache).
    val capped = dropOversized(assigned, maxClusterCompare, 2, "cell").cache()
    // Block salt (round 17 — same algebra as Clustering.semDedup /
    // Ann.knnJoin, guide §2.5/§2.6): the pair join is keyed by cell, so
    // parallelism capped at the cell count however many cores exist. Each
    // side's ids split into S deterministic groups, join on
    // (cell, ga, gb) — every unordered pair meets in exactly one of the S²
    // blocks (identical pair set), parallelism cells·S². S collapses to 1
    // at production cell counts (cells ≫ cores): zero replication at scale.
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val salt  = math.max(1, math.ceil(math.sqrt(parts.toDouble / numCentroids)).toInt)
    val blocks = typedlit((0 until salt).toList)
    val a = capped.select(col("cell"), col("id").as("id_a"), col("vec").as("vec_a"),
      coalesce(pmod(xxhash64(col("id")), lit(salt)), lit(0L)).as("__ga"),
      explode(blocks).as("__gb"))
    val b = capped.select(col("cell"), col("id").as("id_b"), col("vec").as("vec_b"),
      explode(blocks).as("__ga"),
      coalesce(pmod(xxhash64(col("id")), lit(salt)), lit(0L)).as("__gb"))
    val pairs = a.join(b, Seq("cell", "__ga", "__gb"))
      .where(col("id_a") < col("id_b"))
      .where(NativeFunctions.cosine(col("vec_a"), col("vec_b")) >= threshold)
      .select(col("id_a"), col("id_b"))
    val losers = connectedComponents(pairs) // eager; labels checkpoint-backed
      .filter(col("id") =!= col("label"))
      .select(col("id").as("__loser"))
    capped.unpersist()
    df.join(losers, col(idCol) === col("__loser"), "left_anti")
  }

  /** Corpus-level exact line dedup (CCNet-style: a line's corpus-wide FIRST
    * occurrence survives, every later copy is removed; cf. the reference's
    * transform-based cleanup ops, python-sdk/src/astro/sql/operators/
    * transform.py:1, generalized to line granularity).
    *
    * Semantics: blank lines (whitespace-only per the space/tab/CR trim rule
    * shared with [[graft.functions.TextFunctions.dedupLines]]) are structure,
    * not content — they are always kept. A non-blank line is kept iff its
    * (idCol, ordinal) is the corpus-wide minimum for that exact line string.
    *
    * 100 TB design: NO window over the line partition, and ONE scan of the
    * text column. First-occurrence is `groupBy(key).agg(min(struct(id, ord,
    * line)))` — map-side partial aggregation collapses each task's copies
    * of a duplicated line to ONE shuffle row, so a boilerplate line
    * repeated a billion times costs a billion-row shuffle partition under
    * a window but only tasks-many rows here. Blank lines get a per-row
    * unique key (the "B"/"C" prefixes keep the two key spaces disjoint no
    * matter what bytes a content line holds) so they ride the SAME
    * aggregate and always survive — the alternative (a separate filtered
    * branch unioned back in) reads and explodes the corpus twice, which at
    * 100 TB costs far more than shuffling the skew-free ~24-byte blank
    * rows. The per-doc input line count rides the explode as one extra
    * long instead of a second scan+join of the text column, so reassembly
    * is just the second groupBy on the doc id — ONE corpus scan and two
    * linear shuffles total, both combiner-friendly. A document whose every
    * line is owned elsewhere (no blanks, all content seen first in other
    * docs) has no kept rows and drops from the output — the honest answer
    * for a fully-duplicated document.
    *
    * Shuffle-width trade, made explicit: the group key carries the RAW
    * line text, so the first shuffle ships each line's bytes twice (key +
    * payload struct). A 64-bit pre-key (xxhash64(line) as the shuffle key,
    * full line kept only in the payload) would halve that width — but a
    * hash collision between two DISTINCT lines would silently merge them
    * and DELETE one from every document it appears in, an unbounded
    * correctness loss that no verify step downstream would catch (at
    * corpus scale, 64-bit birthday collisions are expected past ~5×10⁹
    * distinct lines). Collision-safe variants (group by (hash, line) pays
    * both widths; hash-bucket then verify-within-bucket adds a second
    * shuffle) cost what they save, so exactness keeps the raw-text key;
    * revisit only if line-shuffle bytes ever dominate a profile.
    */
  def dedupLinesCorpus(df: DataFrame, idCol: String, lineText: Column): DataFrame = {
    val arr = df.select(col(idCol).as("__id"), split(lineText, "\n", -1).as("__arr"))
    val lines = arr
      .select(col("__id"), size(col("__arr")).cast("long").as("__n"),
        posexplode(col("__arr")))
      .toDF("__id", "__n", "__ord", "__line")
    val isBlank = trim(col("__line"), " \t\r") === ""
    val key = when(isBlank,
      concat(lit("B"), col("__id").cast("string"), lit("_"), col("__ord").cast("string")))
      .otherwise(concat(lit("C"), col("__line")))
    val kept = lines
      .groupBy(key.as("__k"))
      .agg(min(struct(col("__id").as("i"), col("__ord").as("o"), col("__line").as("l"),
        col("__n").as("n"))).as("m"))
      .select(col("m.i").as("__id"), col("m.o").as("__ord"), col("m.l").as("__line"),
        col("m.n").as("__n"))
    kept
      .groupBy(col("__id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("__ord").as("o"), col("__line").as("l")))),
            x => x.getField("l")),
          "\n").as("text_dedup"),
        min(col("__n")).as("n_lines_in"), // constant within the doc group
        count(lit(1)).cast("long").as("n_lines_kept"),
      )
      .select(col("__id").as(idCol), col("text_dedup"), col("n_lines_in"),
        col("n_lines_kept"))
  }

  /** Semantic (embedding-space) decontamination: score every training row by
    * its max cosine against a benchmark/test embedding set and flag rows at
    * or above `threshold` — the embedding analog of [[contaminated]]'s
    * n-gram overlap gate, catching paraphrased benchmark leakage that exact
    * n-grams miss.
    *
    * 100 TB design: the test set is a benchmark (thousands of rows, not
    * corpus-scale) and is BROADCAST; the corpus streams through one
    * narrow pass, and the per-row max collapses map-side before the
    * trivial unique-id shuffle. Nothing here is corpus × corpus.
    */
  def contaminatedEmbedding(
      train: DataFrame,
      test: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
  ): DataFrame = {
    val t = test.select(col(vecCol).as("__tvec"))
    train
      .select(col(idCol).as("__id"), col(vecCol).as("__vec"))
      .crossJoin(broadcast(t))
      .groupBy(col("__id"))
      .agg(max(NativeFunctions.cosine(col("__vec"), col("__tvec"))).as("max_cos"))
      .select(col("__id").as(idCol), col("max_cos"),
        (col("max_cos") >= lit(threshold)).as("contaminated"))
  }

  /** Embedding-cosine near-dup: SRP-LSH bucket join (multi-table for recall)
    * + exact cosine verify. Candidates only within equal buckets; vectors
    * re-join by id after the candidate pairs are known, so the `tables`×
    * explode carries (id, bucket) only.
    */
  def nearDupPairsEmbedding(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      bits: Int = 12,
      tables: Int = 4,
      maxBucketSize: Int = 2000,
  ): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val bucketed = base.select(
      col("id"),
      posexplode(array((0 until tables).map(t =>
        NativeFunctions.srpBucket(col("vec"), bits, seed = 42L + t)): _*)),
    ).toDF("id", "tbl", "bucket")
    val capped = dropOversized(bucketed, maxBucketSize, 2, "tbl", "bucket")
    val a = capped.select(col("tbl"), col("bucket"), col("id").as("id_a"))
    val b = capped.select(col("tbl"), col("bucket"), col("id").as("id_b"))
    val candidates = a.join(b, Seq("tbl", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    candidates
      .join(base.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .withColumn("cosine", NativeFunctions.cosine(col("vec_a"), col("vec_b")))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }
}
