package graft

import graft.dedup.{Dedup, IncrementalDedup}
import graft.functions.TextFunctions
import graft.model._
import graft.ops._
import graft.similarity.{Ann, Bitext, Clustering, Sq8}
import graft.streaming.{StreamingHitters, StreamingLoad, StreamingSample}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The query slots that Verify, Bench and RunOne run — see SURVEY.md §7.
  *
  * Each [[Slot]] exercises one operator from SURVEY.md §2 (or a
  * beyond-reference LLM-pipeline component) end-to-end through the public
  * graft API, reading the parquet fixtures from `dir`. All 194 slots with
  * an oracle are checked against full DuckDB SQL — including the LSH
  * near-dup family, which runs in recall-exact banding so its verified
  * output equals the exact all-pairs answer (see Dedup.recallExactBands),
  * and the approximate searches, whose production dials are materialized
  * and scored against each engine's own exact answer (the recall gates).
  * The 14 slots without one are bench-only production-dial twins.
  *
  * Determinism rules (the driver hash-compares values after sorting columns
  * by name): every floating aggregate is `round(x, 2)` on BOTH sides; counts
  * are BIGINT on both sides; LIMIT/top-k queries carry a unique-key
  * tie-break; raw double column passthroughs (no re-aggregation) are safe
  * bit-for-bit.
  */
object SparkEntry {

  /** Scratch space for round-trip fixtures (inside the repo per the brief). */
  private val scratch = "/root/repo/target/graft-scratch"

  /** Fixed materialization path for q156: Spark writes the production-dial
    * ANN result here and reads it back, and the DuckDB oracle reads the
    * SAME table — making approximate-search recall hash-checkable (each
    * engine brings its own exact top-k to the join).
    */
  private val annRecallPath = s"$scratch/q156_ann"

  /** Fixed materialization paths for the round-9 quality gates — same
    * pattern as [[annRecallPath]]: the Spark query runs the PRODUCTION
    * dial, writes its engine-specific output here, and both engines then
    * independently measure it against their own exact computation, so the
    * quality metric (not just a row count) is hash-checked.
    */
  private val pqRecallPath     = s"$scratch/q124_pq"
  private val dedupProdPath    = s"$scratch/q77_prod"
  private val keepBestProdPath = s"$scratch/q78_prod"
  private val substrProdPath   = s"$scratch/q92_prod"
  private val removeProdPath   = s"$scratch/q93_prod"
  private val bpeModelPath     = s"$scratch/q126_bpe_model"
  private val bpeModelPath132  = s"$scratch/q132_bpe_model"
  private val ivfCentroidPath  = s"$scratch/q19_centroids"
  private val knnProdPath      = s"$scratch/q164_knn"
  private val kmeansInitPath   = s"$scratch/q166_kmeans_init"
  private val kmeansInitPath167 = s"$scratch/q167_kmeans_init"
  private val kmeansInitPath168 = s"$scratch/q168_kmeans_init"
  private val twoLevelPath      = s"$scratch/q182_twolevel"
  private val sq8ProdPath       = s"$scratch/q183_sq8"
  private val sq8AtrestPath     = s"$scratch/q193_sq8_atrest"
  private val sq8AppendPath     = s"$scratch/q194_sq8_append"
  private val mmrProdPath       = s"$scratch/q185_mmr"
  private val bitextProdPath    = s"$scratch/q188_bitext"
  private val rrfProdPath       = s"$scratch/q189_rrf"
  private val trimProdPath      = s"$scratch/q190_trim"

  /** Declarative replay of [[graft.similarity.Clustering.kmeans]] for the
    * DuckDB oracle — the q126/q19 learned-model pattern applied to Lloyd
    * iterations: `iters` unrolled (assign → quantized-mean update) rounds
    * from the materialized init table, then the final assignment. Kept in
    * lockstep with the operator's reproducibility contract: index-order
    * double accumulation, (cos DESC, cell ASC) argmax tie-break, the
    * explicit `floor(x·1e6 + 0.5)/1e6` centroid quantizer, and empty cells
    * retaining their previous centroid (the LEFT JOIN COALESCE).
    */
  private def kmeansReplaySql(initPath: String, iters: Int,
      finalSelect: String =
        "SELECT vec_id, CAST(cell AS INTEGER) AS cluster, round(cos, 6) AS cosine FROM af",
      sourceSql: String = "SELECT vec_id, embedding FROM embeddings"): String = {
    def assignSel(cTbl: String) =
      s"""SELECT vec_id, cell,
         |  CASE WHEN nv = 0 OR nc = 0 THEN -2.0 ELSE dotv / (sqrt(nv) * sqrt(nc)) END AS cos
         |FROM (SELECT ev.vec_id, c.cell, ev.nv,
         |    list_sum(list_transform(generate_series(1, len(ev.v)), i -> ev.v[i] * c.centroid[i])) AS dotv,
         |    list_sum(list_transform(c.centroid, x -> x * x)) AS nc
         |  FROM ev CROSS JOIN $cTbl c)""".stripMargin
    val sb = new StringBuilder
    sb ++= s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM ($sourceSql)),
              |ev AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS nv FROM e),
              |c0 AS (SELECT cell, centroid FROM read_parquet('$initPath/*.parquet'))""".stripMargin
    for (t <- 1 to iters) {
      sb ++= s""",
                |a$t AS (SELECT vec_id, cell FROM (SELECT vec_id, cell,
                |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rn
                |  FROM (${assignSel(s"c${t - 1}")})) WHERE rn = 1),
                |m$t AS (SELECT cell, list(mv ORDER BY i) AS centroid FROM (
                |  SELECT cell, i, floor(sum(val) / count(*) * 1000000 + 0.5) / 1000000 AS mv FROM (
                |    SELECT a.cell, unnest(generate_series(1, len(ev.v))) AS i, unnest(ev.v) AS val
                |    FROM a$t a JOIN ev USING (vec_id)) GROUP BY cell, i) GROUP BY cell),
                |c$t AS (SELECT p.cell, COALESCE(m.centroid, p.centroid) AS centroid
                |  FROM c${t - 1} p LEFT JOIN m$t m USING (cell))""".stripMargin
    }
    sb ++= s""",
              |af AS (SELECT vec_id, cell, cos FROM (
              |  SELECT vec_id, cell, cos,
              |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rn
              |  FROM (${assignSel(s"c$iters")})) WHERE rn = 1)
              |$finalSelect""".stripMargin
    sb.toString
  }

  /** Declarative replay of greedy MMR selection (the q166 unrolled-iteration
    * pattern): exact top-`candidateK` per query, a per-query candidate-pair
    * cosine table, then `k` unrolled pick steps — each scores the remaining
    * candidates λ·simq − (1−λ)·max-cos-to-selected and takes the arg-max
    * (score DESC, id ASC), exactly [[graft.functions.HashImpl.mmrSelect]].
    * All cosines are the index-order double formula (dot / (na·nb)); the λ
    * and 1−λ literals interpolate from the SAME doubles the engine uses, so
    * pick order matches bit-for-bit with no rounding anywhere.
    */
  private def mmrReplaySql(nQueries: Int, candidateK: Int, k: Int, lambda: Double): String = {
    val lam  = s"$lambda"
    val oneM = s"${1.0 - lambda}"
    val sb   = new StringBuilder
    sb ++= s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
              |ev AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
              |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM ev WHERE vec_id < $nQueries),
              |sims AS (SELECT q.query_id, e2.vec_id AS id, e2.v AS vec, e2.nrm AS vn,
              |  list_sum(list_transform(generate_series(1, len(q.qv)), i -> q.qv[i] * e2.v[i]))
              |    / (q.qn * e2.nrm) AS simq
              |  FROM q CROSS JOIN ev e2),
              |cand AS (SELECT query_id, id, vec, vn, simq FROM (
              |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY simq DESC, id DESC) AS rn
              |  FROM sims) WHERE rn <= $candidateK),
              |pairc AS (SELECT a.query_id, a.id AS ia, b.id AS ib,
              |  list_sum(list_transform(generate_series(1, len(a.vec)), i -> a.vec[i] * b.vec[i]))
              |    / (a.vn * b.vn) AS c
              |  FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.id <> b.id),
              |p1 AS (SELECT query_id, id FROM (SELECT query_id, id,
              |    row_number() OVER (PARTITION BY query_id ORDER BY $lam * simq DESC, id ASC) AS rn
              |  FROM cand) WHERE rn = 1),
              |s1 AS (SELECT query_id, id, 1 AS pick FROM p1)""".stripMargin
    for (t <- 2 to k) {
      sb ++= s""",
                |r$t AS (SELECT c.query_id, c.id, c.simq, max(pc.c) AS relax
                |  FROM cand c
                |  JOIN s${t - 1} s ON s.query_id = c.query_id
                |  JOIN pairc pc ON pc.query_id = c.query_id AND pc.ia = c.id AND pc.ib = s.id
                |  WHERE NOT EXISTS (SELECT 1 FROM s${t - 1} x
                |    WHERE x.query_id = c.query_id AND x.id = c.id)
                |  GROUP BY c.query_id, c.id, c.simq),
                |p$t AS (SELECT query_id, id FROM (SELECT query_id, id,
                |    row_number() OVER (PARTITION BY query_id
                |      ORDER BY ($lam * simq - $oneM * relax) DESC, id ASC) AS rn
                |  FROM r$t) WHERE rn = 1),
                |s$t AS (SELECT * FROM s${t - 1}
                |  UNION ALL SELECT query_id, id, $t AS pick FROM p$t)""".stripMargin
    }
    sb ++= s"""
              |SELECT query_id, CAST(pick AS BIGINT) AS pick, id AS selected_id FROM s$k""".stripMargin
    sb.toString
  }

  /** All fixture reads flow through the real loadFile operator. */
  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    LoadFile.toDataFrame(s, File(s"$dir/$name.parquet"))

  /** Content fingerprint of a fixture file/dir (name:size:mtime of every
    * part, md5-hexed) — the freshness key of the at-rest index twins
    * (round 16, ADVICE r15): a regenerated scratch SF with the SAME row
    * count must still trigger a rebuild, which a row-count key silently
    * missed.
    */
  private def dirFingerprint(dir: String, name: String): String = {
    val root = new java.io.File(s"$dir/$name.parquet")
    val parts =
      if (root.isDirectory) root.listFiles().sortBy(_.getName)
      else Array(root)
    val sig = parts.map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString("|")
    java.security.MessageDigest.getInstance("MD5").digest(sig.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** True when `stampTable` exists and records exactly `fp` — paired with
    * [[writeStamp]], the build-stamp freshness gate of the at-rest twins.
    */
  private def stampFresh(s: SparkSession, stampTable: Table, fp: String): Boolean =
    s.catalog.tableExists(stampTable.qualifiedName) &&
      s.table(stampTable.qualifiedName).collect().headOption.exists(_.getString(0) == fp)

  private def writeStamp(s: SparkSession, stampTable: Table, fp: String): Unit = {
    import s.implicits._
    TableIO.overwrite(s, Seq(fp).toDF("fingerprint"), stampTable)
  }

  /** Older fixture generations wrote events.ts as TIMESTAMP(NANOS), which
    * Spark's parquet reader rejects by default; this conf reads it as long.
    * Newer generations write timestamp[us] (TIMESTAMP_NTZ), where the conf is
    * a no-op. Kept so BOTH fixture vintages load.
    */
  private def allowNanos(s: SparkSession): Unit =
    try s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case _: Throwable => () }

  /** Schema-adaptive epoch extraction for events.ts — the fixture's physical
    * type has drifted across driver regenerations (TIMESTAMP(NANOS) read as
    * long nanos under allowNanos; then timestamp[us] read as TIMESTAMP_NTZ),
    * so epoch math must dispatch on the type actually read, not on an
    * assumed vintage. Session timezone is UTC in every entrypoint, so
    * NTZ→TZ cast preserves the naive value and matches DuckDB's
    * `epoch_ns(ts)` on the same file.
    */
  private def epochSec(df: DataFrame, c: String): org.apache.spark.sql.Column =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.LongType => expr(s"$c div 1000000000")
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_seconds(col(c).cast(org.apache.spark.sql.types.TimestampType))
      case _ => unix_seconds(col(c))
    }

  private def epochMicros(df: DataFrame, c: String): org.apache.spark.sql.Column =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.LongType => expr(s"$c div 1000")
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col(c).cast(org.apache.spark.sql.types.TimestampType))
      case _ => unix_micros(col(c))
    }

  /** Run `f` with `spark.sql.shuffle.partitions` temporarily lowered: a
    * stateful stream pays one state-store commit (+fsync) per partition per
    * micro-batch, so fixture-scale streaming queries want few, fat state
    * partitions. Production streams size this to keyspace, not cores.
    */
  private def withStatePartitions[A](s: SparkSession, n: Int)(f: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Stage two single-file parquet micro-batches into a fresh scratch dir and
    * return a reader of them as a `maxFilesPerTrigger=1` file stream; each
    * call of the reader is a new streaming source. Batch 2 is the far-future
    * watermark sentinel (see q32): it pushes the watermark past every real
    * event, so append-mode stateful output is complete and deterministic —
    * mirrorable by batch SQL in the oracle.
    */
  private def twoBatchStream(s: SparkSession, tag: String, batch1: DataFrame,
      batch2: DataFrame): () => DataFrame = {
    val streamDir = s"$scratch/${tag}_${java.util.UUID.randomUUID().toString.take(8)}"
    new java.io.File(streamDir).mkdirs()
    def stage(df: DataFrame, name: String): Unit = {
      val tmp = s"$streamDir-$name-tmp"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(s"$streamDir/$name"))
    }
    stage(batch1, "0001.parquet")
    stage(batch2, "0002.parquet")
    val schema = s.read.parquet(streamDir).schema
    () => s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(streamDir)
  }

  /** Run `stream` to completion (AvailableNow, append mode, 8 state
    * partitions) into a fresh memory sink; returns the sink's table.
    */
  private def drainToMemory(s: SparkSession, tag: String, stream: DataFrame): DataFrame = {
    val sink = s"graft_${tag}_${java.util.UUID.randomUUID().toString.take(8)}"
    withStatePartitions(s, 8) {
      stream.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    s.table(sink)
  }

  /** The drifted near-duplicate fixture: every (doc_id, text) row of `d`
    * again under doc_id + 1000000, with `tail` appended to its text.
    */
  private def drifted(d: DataFrame, tail: String): DataFrame =
    d.select((col("doc_id") + 1000000).as("doc_id"), concat(col("text"), lit(tail)).as("text"))

  /** `d` plus a two-link drift chain: every doc drifted once, and that copy
    * drifted again.
    */
  private def driftChain(d: DataFrame): DataFrame = {
    val b = drifted(d, " chain link one two three")
    d.unionByName(b).unionByName(drifted(b, " more drift four five six"))
  }

  /** Spark side of the recall@10 gates: write the production dial's top-10
    * `ann` to `path` and read it back (the DuckDB oracle reads the same
    * table, see [[recallAt10Sql]]), then score it against the exact top-10
    * of `queries` over `e`.
    */
  private def recallAt10(s: SparkSession, e: DataFrame, queries: DataFrame, ann: DataFrame,
      path: String): DataFrame = {
    ann.select(col("query_id"), col("neighbor_id")).write.mode("overwrite").parquet(path)
    val hits  = s.read.parquet(path).withColumn("__hit", lit(1L))
    val exact = Ann.bruteForceTopK(e, queries, "vec_id", "embedding", "qid", "embedding", k = 10)
      .select(col("query_id"), col("neighbor_id"))
    exact.join(hits, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg((sum(coalesce(col("__hit"), lit(0L))).cast("double") / 10.0).as("r"))
      .select(col("query_id"), round(col("r"), 3).as("recall_at_10"))
  }

  /** Flagship: multi-table join + aggregation (orders ⋈ customer ⋈ nation →
    * revenue per nation) on sf=0.001; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    revenueByNation(spark, "/root/testdata/sf0.001")

  private def revenueByNation(s: SparkSession, dir: String): DataFrame = {
    val o = tbl(s, dir, "orders")
    val c = tbl(s, dir, "customer")
    val n = tbl(s, dir, "nation")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum("o_totalprice"), 2).as("revenue"), count(lit(1)).as("num_orders"))
  }

  /** One bench and verify slot: a named query over the fixtures in `dir`
    * plus, when it has one, the DuckDB oracle that checks its output.
    *
    * @param oracle DuckDB SQL over the same fixtures; `Verify` runs and
    *   dumps the slots that have one. `None` marks a bench-only
    *   production-dial twin: the dial the 100 TB path actually runs,
    *   measured at EVERY sweep SF. Its quality evidence is the
    *   oracle-checked gates (q156/q124 recall, q77/q78 dedup flags) and the
    *   recall-pinning specs (AnnIndexSpec, DedupSimilaritySpec); its job is
    *   the slope, not the hash.
    * @param pinnedToOracleSf an exact dial whose cost is super-linear BY
    *   CONSTRUCTION — it exists to give an approximate operator a bit-exact
    *   oracle (q137 probes every IVF cell so the answer equals brute force;
    *   q12 runs recall-exact r=2 banding so LSH output equals the all-pairs
    *   Jaccard set). That construction is the whole point at the ORACLE SF
    *   and a bench-protocol bug above it: at sf10 the q137 exact dial
    *   extrapolates to ~21 h of corpus² cosines measuring nothing the
    *   100 TB path would ever run. Bench sweeps above sf0.1 skip these
    *   (loudly — they land in the JSON's `pinned_skipped` list) and measure
    *   the production twins instead; correctness runs (Verify, sf0.01)
    *   always execute them.
    * @param ingestOnFirstPass an at-rest index twin whose PASS 1 may include
    *   one-time ingest (build index + pre-assign queries when the layout is
    *   absent or stale). Bench exempts these from the skip-repeat rule
    *   (round 16 — ADVICE r15): a cold pass 1 that exceeds
    *   SPARK_GRAFT_SKIP_REPEAT_SEC must still be re-measured on pass 2,
    *   otherwise the artifact books the ingest-inclusive time as the
    *   "steady state". Ingest cost stays visible in the sweep log's pass-1
    *   line.
    */
  final case class Slot(
      name: String,
      oracle: Option[String],
      run: (SparkSession, String) => DataFrame,
      pinnedToOracleSf: Boolean = false,
      ingestOnFirstPass: Boolean = false)

  /** Every slot, one family after another. A `def` (as are the families):
    * each family is its own method so no single method nears the JVM's
    * 64 KB bytecode limit, and nothing here is built at object init.
    */
  def slots: Seq[Slot] =
    coreSlots ++ ioSlots ++ dedupSlots ++ textSlots ++ samplingSlots ++
      similaritySlots ++ multimodalSlots ++ streamingSlots

  /** The slot called `name`; throws naming it when there is none. */
  def slot(name: String): Slot =
    slots.find(_.name == name)
      .getOrElse(throw new NoSuchElementException(s"unknown SparkEntry slot: $name"))

  /** Relational core: load_file + Catalyst, transform, merge, append, checks,
    * windows, joins, table lifecycle, profiling.
    */
  private def coreSlots: Seq[Slot] = Seq(
    Slot("q01_agg", run = (s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          count(lit(1)).as("cnt"),
        ),
      oracle = Some("""SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
        |round(sum(l_extendedprice), 2) AS sum_base,
        |round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |count(*) AS cnt FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // transform: templated SQL, table + scalar params, filter/sort/limit
    // (the reference's calculate_popular_movies shape)
    Slot("q02_filter_sort_limit", run = (s, dir) =>
      Transform.run(
        s,
        "SELECT p_name, p_brand, p_retailprice FROM {{part}} " +
          "WHERE p_brand = :brand ORDER BY p_retailprice DESC, p_name LIMIT 5",
        Map("part" -> tbl(s, dir, "part"), "brand" -> "Brand#1"),
      ),
      oracle = Some("""SELECT p_name, p_brand, p_retailprice FROM part WHERE p_brand = 'Brand#1'
        |ORDER BY p_retailprice DESC, p_name LIMIT 5""".stripMargin)),

    Slot("q03_join_agg", run = (s, dir) => revenueByNation(s, dir),
      oracle = Some("""SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS num_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name""".stripMargin)),

    // transform CTAS: materialize to a catalog table, read it back
    Slot("q04_transform_ctas", run = (s, dir) => {
      val out = Table("graft_q04_ctas")
      Transform.toTable(
        s,
        "SELECT c_mktsegment, count(*) AS num_customers, round(sum(c_acctbal), 2) AS total_bal " +
          "FROM {{c}} GROUP BY c_mktsegment",
        out,
        Map("c" -> tbl(s, dir, "customer")),
      )
      s.table(out.qualifiedName)
    },
      oracle = Some("""SELECT c_mktsegment, count(*) AS num_customers, round(sum(c_acctbal), 2) AS total_bal
        |FROM customer GROUP BY c_mktsegment""".stripMargin)),

    // merge strategy=update: upsert source into target on c_custkey
    Slot("q05_merge_update", run = (s, dir) => {
      val cust = tbl(s, dir, "customer")
      val tgt  = Table("graft_q05_target")
      TableIO.overwrite(s, cust.filter(col("c_custkey") % 3 === 0), tgt)
      val src = cust.filter(col("c_custkey") % 2 === 0).select(
        col("c_custkey"),
        concat(lit("upd_"), col("c_name")).as("c_name"),
        col("c_nationkey"),
        (col("c_acctbal") + 100).as("c_acctbal"),
        col("c_mktsegment"),
      )
      Merge.mergeDf(s, src, tgt, Map.empty, Seq("c_custkey"), MergeConflict.Update)
      s.table(tgt.qualifiedName)
    },
      oracle = Some("""WITH src AS (SELECT c_custkey, 'upd_' || c_name AS c_name, c_nationkey,
        |c_acctbal + 100 AS c_acctbal, c_mktsegment FROM customer WHERE c_custkey % 2 = 0),
        |tgt AS (SELECT * FROM customer WHERE c_custkey % 3 = 0)
        |SELECT * FROM src
        |UNION ALL SELECT * FROM tgt WHERE c_custkey NOT IN (SELECT c_custkey FROM src)""".stripMargin)),

    // merge strategy=ignore: insert-only-new
    Slot("q06_merge_ignore", run = (s, dir) => {
      val cust = tbl(s, dir, "customer")
      val tgt  = Table("graft_q06_target")
      TableIO.overwrite(s, cust.filter(col("c_custkey") % 3 === 0), tgt)
      val src = cust.filter(col("c_custkey") % 2 === 0).select(
        col("c_custkey"),
        concat(lit("new_"), col("c_name")).as("c_name"),
        col("c_nationkey"),
        (col("c_acctbal") + 100).as("c_acctbal"),
        col("c_mktsegment"),
      )
      Merge.mergeDf(s, src, tgt, Map.empty, Seq("c_custkey"), MergeConflict.Ignore)
      s.table(tgt.qualifiedName)
    },
      oracle = Some("""WITH src AS (SELECT c_custkey, 'new_' || c_name AS c_name, c_nationkey,
        |c_acctbal + 100 AS c_acctbal, c_mktsegment FROM customer WHERE c_custkey % 2 = 0),
        |tgt AS (SELECT * FROM customer WHERE c_custkey % 3 = 0)
        |SELECT * FROM tgt
        |UNION ALL SELECT * FROM src WHERE c_custkey NOT IN (SELECT c_custkey FROM tgt)""".stripMargin)),

    // append with column mapping (region rows into a nation-shaped table)
    Slot("q07_append", run = (s, dir) => {
      val tgt = Table("graft_q07_nation")
      TableIO.overwrite(s, tbl(s, dir, "nation"), tgt)
      Append.appendDf(s, tbl(s, dir, "region"), tgt,
        Map("r_name" -> "n_name", "r_regionkey" -> "n_regionkey"))
      s.table(tgt.qualifiedName)
    },
      oracle = Some("""SELECT n_nationkey, n_name, n_regionkey FROM nation
        |UNION ALL SELECT CAST(NULL AS INTEGER) AS n_nationkey, r_name AS n_name,
        |r_regionkey AS n_regionkey FROM region""".stripMargin)),

    // check_column: all checks in ONE aggregate pass
    Slot("q08_check_column", run = (s, dir) => {
      import s.implicits._
      val stats = Checks.checkColumn(
        tbl(s, dir, "customer"),
        Map(
          "c_acctbal" -> Map("min" -> Checks.Bound(), "max" -> Checks.Bound()),
          "c_custkey" -> Map("distinct_check" -> Checks.Bound(), "unique_check" -> Checks.Bound()),
          "c_name"    -> Map("null_check" -> Checks.Bound()),
        ),
      )
      stats.map(r => (r.column, r.check, r.value)).toDF("col_name", "check_name", "value")
    },
      oracle = Some("""SELECT 'c_acctbal' AS col_name, 'max' AS check_name, CAST(max(c_acctbal) AS DOUBLE) AS value FROM customer
        |UNION ALL SELECT 'c_acctbal', 'min', CAST(min(c_acctbal) AS DOUBLE) FROM customer
        |UNION ALL SELECT 'c_custkey', 'distinct_check', CAST(count(DISTINCT c_custkey) AS DOUBLE) FROM customer
        |UNION ALL SELECT 'c_custkey', 'unique_check', CAST(count(c_custkey) - count(DISTINCT c_custkey) AS DOUBLE) FROM customer
        |UNION ALL SELECT 'c_name', 'null_check', CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS DOUBLE) FROM customer""".stripMargin)),

    // check_table: named boolean checks, one aggregate pass
    Slot("q09_check_table", run = (s, dir) => {
      import s.implicits._
      val res = Checks.checkTable(
        tbl(s, dir, "orders"),
        Map(
          "has_rows"           -> "count(*) > 0",
          "non_negative_price" -> "o_totalprice >= 0",
          "custkey_present"    -> "o_custkey IS NOT NULL",
        ),
      )
      res.toSeq.sortBy(_._1).toDF("check_name", "passed")
    },
      oracle = Some("""SELECT 'custkey_present' AS check_name, bool_and(o_custkey IS NOT NULL) AS passed FROM orders
        |UNION ALL SELECT 'has_rows', count(*) > 0 FROM orders
        |UNION ALL SELECT 'non_negative_price', bool_and(o_totalprice >= 0) FROM orders""".stripMargin)),

    Slot("q23_raw_sql", run = (s, dir) =>
      RawSql.run(
        s,
        "SELECT o_orderpriority, count(*) AS cnt, round(sum(o_totalprice), 2) AS total " +
          "FROM {{o}} WHERE o_totalprice > :minp GROUP BY o_orderpriority",
        Map("o" -> tbl(s, dir, "orders"), "minp" -> 1000.0),
      ).toOption.get,
      oracle = Some("""SELECT o_orderpriority, count(*) AS cnt, round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_totalprice > 1000.0 GROUP BY o_orderpriority""".stripMargin)),

    Slot("q24_get_value_list", run = (s, dir) => {
      import s.implicits._
      tbl(s, dir, "orders").createOrReplaceTempView("graft_q24_orders")
      RawSql.getValueList(s, "SELECT DISTINCT o_orderstatus FROM graft_q24_orders", 100)
        .map(_.getString(0)).toDF("o_orderstatus")
    },
      oracle = Some("SELECT DISTINCT o_orderstatus FROM orders")),

    Slot("q25_window_rank", run = (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      tbl(s, dir, "orders")
        .withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rnk"), col("o_totalprice"))
    },
      oracle = Some("""SELECT o_custkey, o_orderkey, CAST(rn AS BIGINT) AS rnk, o_totalprice FROM (
        |SELECT o_custkey, o_orderkey, o_totalprice,
        |row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |FROM orders) WHERE rn <= 3""".stripMargin)),

    // co-bucketed join: both sides bucketed on custkey → the join runs
    // without an exchange (result identical to a plain join — oracle-checked)
    Slot("q30_bucketed_join", run = (s, dir) => {
      TableIO.overwriteBucketed(s, tbl(s, dir, "orders"), Table("graft_q30_orders"),
        Seq("o_custkey"), 8, Seq("o_custkey"))
      TableIO.overwriteBucketed(s, tbl(s, dir, "customer"), Table("graft_q30_customer"),
        Seq("c_custkey"), 8, Seq("c_custkey"))
      s.table("graft_q30_orders")
        .join(s.table("graft_q30_customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("orders"), round(sum("o_totalprice"), 2).as("revenue"))
    },
      oracle = Some("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS orders,
        |round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin)),

    // dataframe op: catalog tables → user DataFrame=>DataFrame function →
    // catalog table (reference dataframe.py:99-343 — minus the pandas
    // memory cliff; the function composes into the distributed plan)
    Slot("q33_dataframe_op", run = (s, dir) => {
      val tN = Table("graft_q33_nation")
      val tR = Table("graft_q33_region")
      TableIO.overwrite(s, tbl(s, dir, "nation"), tN)
      TableIO.overwrite(s, tbl(s, dir, "region"), tR)
      val out = Table("graft_q33_out")
      DataframeOp.toTable(s, Seq(tN, tR), { case Seq(n, r) =>
        n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(count(lit(1)).as("nations"))
      }, out)
      s.table(out.qualifiedName)
    },
      oracle = Some("""SELECT r_name, CAST(count(*) AS BIGINT) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin)),

    // transform_file: SQL text loaded from a .sql file, CTAS'd to a table
    Slot("q35_transform_file", run = (s, dir) => {
      val sqlPath = s"$scratch/q35_${java.util.UUID.randomUUID().toString.take(8)}.sql"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(scratch))
      java.nio.file.Files.write(java.nio.file.Paths.get(sqlPath),
        ("SELECT s_nationkey, count(*) AS suppliers, round(sum(s_acctbal), 2) AS total_bal " +
          "FROM {{sup}} GROUP BY s_nationkey").getBytes("UTF-8"))
      val out = Table("graft_q35_out")
      Transform.fromFile(s, sqlPath, out, Map("sup" -> tbl(s, dir, "supplier")))
      s.table(out.qualifiedName)
    },
      oracle = Some("""SELECT s_nationkey, CAST(count(*) AS BIGINT) AS suppliers,
        |round(sum(s_acctbal), 2) AS total_bal
        |FROM supplier GROUP BY s_nationkey""".stripMargin)),

    // salted skew-join: hot keys spread over 8 reducers; result must equal
    // the plain join (oracle-checked — salting is pure partitioning)
    Slot("q39_salted_join", run = (s, dir) => {
      val o = tbl(s, dir, "orders").select(col("o_custkey").as("custkey"), col("o_totalprice"))
      val c = tbl(s, dir, "customer").select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      Skew.saltedJoin(o, c, Seq("custkey"), salts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("orders"), round(sum("o_totalprice"), 2).as("revenue"))
    },
      oracle = Some("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS orders,
        |round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin)),

    // end-to-end ELT pipeline (the reference's core value prop): load into
    // auto-named temp tables -> templated transform -> upsert into the
    // persistent target -> temp GC via the registry; the returned table is
    // read AFTER cleanup, proving the target outlives the temps
    Slot("q45_pipeline", run = (s, dir) => {
      val target = Table("graft_q45_target")
      Pipeline.run(s) { reg =>
        val sup = reg.track(Table.temp())
        TableIO.overwrite(s, tbl(s, dir, "supplier"), sup)
        val nat = reg.track(Table.temp())
        TableIO.overwrite(s, tbl(s, dir, "nation"), nat)
        val agg = reg.track(Table.temp())
        Transform.toTable(s,
          "SELECT n_name, count(*) AS suppliers, round(sum(s_acctbal), 2) AS total_bal " +
            "FROM {{sup}} JOIN {{nat}} ON s_nationkey = n_nationkey GROUP BY n_name",
          agg, Map("sup" -> sup, "nat" -> nat))
        TableIO.overwrite(s, s.table(agg.qualifiedName).limit(0), target)
        Merge.mergeDf(s, s.table(agg.qualifiedName), target, Map.empty,
          Seq("n_name"), MergeConflict.Update)
      }
      s.table(target.qualifiedName)
    },
      oracle = Some("""SELECT n_name, CAST(count(*) AS BIGINT) AS suppliers,
        |round(sum(s_acctbal), 2) AS total_bal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin)),

    // row_count / exists helpers surfaced through one oracle-checked row
    Slot("q47_row_count", run = (s, dir) => {
      import s.implicits._
      val t = Table("graft_q47_orders")
      TableIO.overwrite(s, tbl(s, dir, "orders"), t)
      val n      = RawSql.rowCount(s, t)
      val exists = RawSql.tableExists(s, t)
      val cols   = RawSql.columnsExist(s, t, Seq("o_orderkey", "o_custkey"))
      Seq((n, exists, cols)).toDF("n", "table_exists", "columns_exist")
    },
      oracle = Some("""SELECT CAST(count(*) AS BIGINT) AS n, true AS table_exists, true AS columns_exist
        |FROM orders""".stripMargin)),

    // query_modifier: pre-queries set up session state the main statement
    // depends on; post-queries tear it down (reference query_modifier.py)
    Slot("q48_query_modifier", run = (s, dir) => {
      tbl(s, dir, "region").createOrReplaceTempView("graft_q48_src")
      val qm = QueryModifier(
        preQueries = Seq(
          "CREATE OR REPLACE TEMPORARY VIEW graft_q48_view AS " +
            "SELECT r_regionkey, upper(r_name) AS r_name_up FROM graft_q48_src"),
        postQueries = Seq("DROP VIEW IF EXISTS graft_q48_view"),
      )
      qm.runWith(s)(s.sql("SELECT r_regionkey, r_name_up FROM graft_q48_view"))
    },
      oracle = Some("SELECT r_regionkey, upper(r_name) AS r_name_up FROM region")),

    // Table/File JSON round-trip (the reference's XCom hand-off contract):
    // the row is built from the DESERIALIZED pointers, so any serializer
    // drift breaks the oracle match
    Slot("q49_serde_roundtrip", run = (s, dir) => {
      import s.implicits._
      val t  = Table("graft_q49", Metadata(database = Some("db1")), temp = false)
      val t2 = Table.fromJson(t.toJson)
      val f  = File(s"$dir/region.parquet", Some(FileType.Parquet))
      val f2 = File.fromJson(f.toJson)
      Seq((t2.name, t2.metadata.database.getOrElse(""), t2.temp,
        f2.resolvedType.map(_.name).getOrElse(""), f2.path.split('/').last))
        .toDF("name", "database", "temp", "filetype", "file_base")
    },
      oracle = Some("""SELECT 'graft_q49' AS name, 'db1' AS database, false AS temp,
        |'parquet' AS filetype, 'region.parquet' AS file_base""".stripMargin)),

    // salted two-phase aggregation: one hot key spread over 8 reducers in
    // phase 1, merged in phase 2 — result must equal the direct groupBy
    Slot("q52_salted_agg", run = (s, dir) => {
      val o = tbl(s, dir, "orders")
      Skew.saltedAgg(o, Seq("o_orderstatus"), salts = 8)(
        _.agg(count(lit(1)).as("pc"), sum("o_totalprice").as("ps")),
        _.agg(sum("pc").as("orders"), round(sum("ps"), 2).as("revenue")),
      )
    },
      oracle = Some("""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS orders,
        |round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // as-of join: latest click at-or-before each purchase per user — one
    // union + window pass, never the per-key cross product (AsofJoin doc).
    // Micros granularity on both sides (epochMicros adapts to the fixture's
    // ts vintage; DuckDB's epoch_ns // 1000 floors identically).
    Slot("q54_asof_join", run = (s, dir) => {
      allowNanos(s)
      val ev = tbl(s, dir, "events")
      val buys = ev.where(col("event_type") === "purchase").select(
        col("user_id"),
        col("event_id").as("buy_id"),
        epochMicros(ev, "ts").as("buy_us"),
      )
      val clicks = ev.where(col("event_type") === "click").select(
        col("user_id"),
        epochMicros(ev, "ts").as("click_us"),
        col("event_id").as("click_id"),
        col("value").as("click_value"),
      )
      AsofJoin.asof(buys, clicks, on = Seq("user_id"), leftTs = "buy_us",
          rightTs = "click_us", rightCols = Seq("click_id", "click_value"),
          rightTieBreak = "click_id")
        .select(col("user_id"), col("buy_id"), col("buy_us"),
          coalesce(col("click_id"), lit(-1L)).as("click_id"),
          coalesce(col("click_value"), lit(-1.0)).as("click_value"))
    },
      // DuckDB ASOF LEFT JOIN; right side deduped per (user, ts) to the max
      // event_id — the same tie winner AsofJoin's rightTieBreak picks.
      oracle = Some("""WITH buys AS (SELECT user_id, event_id AS buy_id, epoch_us(ts) AS buy_us
        |  FROM events WHERE event_type = 'purchase'),
        |clicks AS (SELECT user_id, epoch_us(ts) AS click_us, event_id AS click_id, value AS click_value
        |  FROM events WHERE event_type = 'click'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, epoch_us(ts) ORDER BY event_id DESC) = 1)
        |SELECT b.user_id, b.buy_id, b.buy_us,
        |  coalesce(c.click_id, -1) AS click_id,
        |  coalesce(c.click_value, -1.0) AS click_value
        |FROM buys b ASOF LEFT JOIN clicks c
        |  ON b.user_id = c.user_id AND c.click_us <= b.buy_us""".stripMargin)),

    // range join: customers whose balance falls in any supplier's ±100 band
    // — bin-bucketed equi-join (one shuffle, bounded interval replication),
    // not the BroadcastNestedLoop a bare BETWEEN join plans to.
    Slot("q55_range_join", run = (s, dir) => {
      val pts = tbl(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"))
      val iv = tbl(s, dir, "supplier").select(col("s_suppkey"),
        (col("s_acctbal") - 100.0).as("lo"), (col("s_acctbal") + 100.0).as("hi"))
      RangeJoin.pointInInterval(pts, "c_acctbal", iv, "lo", "hi", binWidth = 200.0)
        .select(col("c_custkey"), col("s_suppkey"))
    },
      oracle = Some("""SELECT c_custkey, s_suppkey FROM customer JOIN supplier
        |ON c_acctbal >= s_acctbal - 100.0 AND c_acctbal <= s_acctbal + 100.0""".stripMargin),
      // round-12: output-quadratic BY CONSTRUCTION on this fixture — both
      // sides of the ±100-band join grow with the corpus over a FIXED
      // acctbal domain, so per-bin occupancy grows ~N on both sides and
      // the TRUE MATCH COUNT (not just the candidate count) grows ~N²
      // (161× sf1→sf10; sf10 output ≈ 1.6e9 rows). No dial fixes an
      // output-quadratic query; the scale-linear production shape is a
      // fixed-size interval side — q55_range_join_prod.
      pinnedToOracleSf = true),

    // range join at the SCALE-LINEAR shape (round 12 — q55's 161×/decade
    // twin): the interval side is a FIXED O(config) band table (512 rate
    // bands over the acctbal domain — the rate-table/SLA-band production
    // case), points grow with the corpus. Bin occupancy on the interval
    // side is then CONSTANT in N (~2 intervals/bin), so co-binned
    // comparisons and output are both O(|points|) — the regime the
    // operator's scaladoc promises. The exact dial (q55, both sides
    // growing over a fixed domain) is output-quadratic by construction
    // and pinned to the oracle SF.
    Slot("q55_range_join_prod", run = (s, dir) => {
      val pts = tbl(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"))
      val iv = s.range(0, 512).select(col("id").as("band_id"),
        (col("id") * 22.0 - 1000.0).as("lo"),
        (col("id") * 22.0 - 1000.0 + 30.0).as("hi"))
      RangeJoin.pointInInterval(pts, "c_acctbal", iv, "lo", "hi", binWidth = 30.0)
        .select(col("c_custkey"), col("band_id"))
    },
      oracle = None),

    // rollup (grouping-sets family): subtotals + grand total in one pass —
    // Catalyst expands to a single Expand + hash aggregate, no extra scans
    Slot("q57_rollup", run = (s, dir) =>
      tbl(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("orders"), round(sum("o_totalprice"), 2).as("revenue"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("orders"), col("revenue")),
      oracle = Some("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |coalesce(o_orderpriority, 'ALL') AS priority,
        |CAST(count(*) AS BIGINT) AS orders, round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin)),

    // set operations: INTERSECT / EXCEPT (both directions, tagged) — the
    // nation sets with customers vs suppliers
    Slot("q58_set_ops", run = (s, dir) => {
      val custN = tbl(s, dir, "customer").select(col("c_nationkey").as("nationkey")).distinct()
      val suppN = tbl(s, dir, "supplier").select(col("s_nationkey").as("nationkey")).distinct()
      custN.intersect(suppN).withColumn("which", lit("both"))
        .unionByName(custN.except(suppN).withColumn("which", lit("cust_only")))
        .unionByName(suppN.except(custN).withColumn("which", lit("supp_only")))
    },
      oracle = Some("""WITH c AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
        |s AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
        |SELECT nationkey, 'both' AS which FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)
        |UNION ALL SELECT nationkey, 'cust_only' FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)
        |UNION ALL SELECT nationkey, 'supp_only' FROM (SELECT nationkey FROM s EXCEPT SELECT nationkey FROM c)""".stripMargin)),

    // hive-style partitioned table + partition pruning: the status filter
    // prunes whole directories at scan time (PartitionFilters asserted in
    // Round4Spec) — the first scale lever for selective reads
    Slot("q59_partition_prune", run = (s, dir) => {
      val t = Table("graft_q59_orders")
      TableIO.overwrite(s, tbl(s, dir, "orders"), t, partitionBy = Seq("o_orderstatus"))
      s.table(t.qualifiedName).where(col("o_orderstatus") === "F")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("orders"), round(sum("o_totalprice"), 2).as("revenue"))
    },
      oracle = Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS orders,
        |round(sum(o_totalprice), 2) AS revenue
        |FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority""".stripMargin)),

    // HLL++ sketch distinct counts: approx_count_distinct aggregates with
    // true map-side partials (mergeable sketch state — the 100 TB distinct
    // count). The in-query bound vs the exact count makes the output
    // SQL-constant: sketch drift outside ±15% turns the row red.
    Slot("q64_approx_distinct", run = (s, dir) => {
      allowNanos(s)
      tbl(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(approx_count_distinct("user_id").as("approx_users"),
          countDistinct("user_id").as("exact_users"))
        .where(abs(col("approx_users") - col("exact_users")) <= col("exact_users") * 0.15)
        .select(col("event_type"), col("exact_users"))
    },
      oracle = Some("""SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
        |FROM events GROUP BY event_type""".stripMargin)),

    // quantile sketch (GK percentile_approx) gated by the exact percentile:
    // mergeable sketch state with map-side partials is the 100 TB quantile;
    // drift beyond 1% vs exact turns rows red, the emitted value is exact
    Slot("q69_approx_quantile", run = (s, dir) => {
      allowNanos(s)
      tbl(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(percentile_approx(col("value"), lit(0.5), lit(100000)).as("approx_med"),
          expr("percentile(value, 0.5)").as("exact_med"))
        .where(abs(col("approx_med") - col("exact_med")) <= abs(col("exact_med")) * 0.01 + 0.001)
        .select(col("event_type"), round(col("exact_med"), 2).as("median_value"))
    },
      oracle = Some("""SELECT event_type, round(quantile_cont(value, 0.5), 2) AS median_value
        |FROM events GROUP BY event_type""".stripMargin)),

    // table compaction: a 64-file fragmented table rewritten to
    // size-targeted files via a staged swap; rows must be untouched
    // (oracle = plain SELECT on the source) — file-count assertions live
    // in BucketingSpec
    Slot("q74_compact", run = (s, dir) => {
      val t = Table("graft_q74_orders")
      TableIO.overwrite(s, tbl(s, dir, "orders").repartition(64), t)
      TableIO.compact(s, t, targetFileBytes = 512L * 1024 * 1024)
      s.table(t.qualifiedName)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    },
      oracle = Some("SELECT o_orderkey, o_custkey, o_totalprice FROM orders")),

    // Atomic publication (round 6): publish v1 under a view-backed name,
    // publish an updated v2 (one CREATE OR REPLACE VIEW flip — readers
    // never see the name absent; AtomicSwapSpec races this), then compact
    // the published table. The read goes THROUGH the published view; the
    // oracle is the v2 transform on the source — any generation mix-up,
    // stale view, or compaction row damage breaks the hash.
    Slot("q79_publish", run = (s, dir) => {
      val t  = Table("graft_q79_cust")
      val v1 = tbl(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      TableIO.publish(s, v1, t)
      val v2 = v1.withColumn("c_acctbal", col("c_acctbal") + 10)
      TableIO.publish(s, v2, t)
      TableIO.compactPublished(s, t, targetFileBytes = 512L * 1024 * 1024)
      s.table(t.qualifiedName)
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal"), 2).as("c_acctbal"))
    },
      // the v2 publish payload: +10 on acctbal, rounded as the Spark side is
      oracle = Some("""SELECT c_custkey, c_name, round(c_acctbal + 10, 2) AS c_acctbal
        |FROM customer""".stripMargin)),

    // time-travel read: generationsBack=1 over a twice-published table
    // returns the previous publish's payload
    Slot("q84_time_travel", run = (s, dir) => {
      val t  = Table("graft_q84_cust")
      val v1 = tbl(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      TableIO.publish(s, v1, t)
      TableIO.publish(s, v1.withColumn("c_acctbal", col("c_acctbal") + 10), t)
      TableIO.readGeneration(s, t, generationsBack = 1)
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal"), 2).as("c_acctbal"))
    },
      // the generation BEHIND the live one: the v1 payload, no +10
      oracle = Some("""SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal
        |FROM customer""".stripMargin)),

    // dataset profiling: per-column counts/distincts/min/max/sum in ONE
    // distributed pass (exact distincts ⇒ Expand), unpivoted via stack
    Slot("q103_profile", run = (s, dir) =>
      Profile.numeric(tbl(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_suppkey")),
      oracle = Some(Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_suppkey")
      .map(c =>
        s"""SELECT '$c' AS column_name, CAST(count(*) AS BIGINT) AS row_cnt,
           |CAST(count($c) AS BIGINT) AS non_null_cnt,
           |CAST(count(*) - count($c) AS BIGINT) AS null_cnt,
           |CAST(count(DISTINCT $c) AS BIGINT) AS distinct_cnt,
           |CAST(min($c) AS DOUBLE) AS min_val, CAST(max($c) AS DOUBLE) AS max_val,
           |round(CAST(sum($c) AS DOUBLE), 2) AS sum_val FROM lineitem""".stripMargin)
      .mkString("\nUNION ALL\n"))),

    // semi-structured extraction: events.props is a JSON string column;
    // from_json with an explicit schema (no sampling pass) then a plain agg
    Slot("q115_json_props", run = (s, dir) => {
      val ev = tbl(s, dir, "events")
      ev.select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("k_sum"))
    },
      oracle = Some("""SELECT event_type,
        |CAST(count(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS n_with_k,
        |CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
        |FROM events GROUP BY event_type""".stripMargin)),

    // pivot with EXPLICIT values (no distinct-collection job): per user
    // cohort, one column per event type
    Slot("q116_pivot", run = (s, dir) => {
      val ev = tbl(s, dir, "events")
      ev.groupBy((col("user_id") % 10).as("cohort"))
        .pivot("event_type", Seq("click", "view", "error", "purchase", "signup"))
        .agg(round(sum("value"), 2))
    },
      // explicit CASE sums mirror the explicit pivot value list
      oracle = Some("""SELECT user_id % 10 AS cohort,
        |round(sum(CASE WHEN event_type = 'click' THEN value END), 2) AS click,
        |round(sum(CASE WHEN event_type = 'view' THEN value END), 2) AS view,
        |round(sum(CASE WHEN event_type = 'error' THEN value END), 2) AS error,
        |round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
        |round(sum(CASE WHEN event_type = 'signup' THEN value END), 2) AS signup
        |FROM events GROUP BY 1""".stripMargin)),

    // Z-order (Morton) clustering key at the closed-form dial: 8-bit
    // uniform buckets over two derived dims, bit-interleaved — the layout
    // key behind multi-dimension min/max file skipping. The quantitative
    // locality property (every clustered dim narrow per file, vs a
    // single-column sort) and the quantile dial for skew are pinned in
    // LayoutSpec.
    Slot("q135_zorder_key", run = (s, dir) => {
      val d = tbl(s, dir, "documents")
      val a = (col("doc_id") % 97).cast("double")
      val b = (col("doc_id") % 89).cast("double")
      d.select(col("doc_id"),
        Layout.zValue(Seq(
          Layout.uniformBucket(a, 0, 97, 8),
          Layout.uniformBucket(b, 0, 89, 8)), bits = 8).as("z"))
    },
      // same uniform buckets + Morton interleave in closed form
      oracle = Some("""WITH t AS (SELECT doc_id,
        |  least(255, greatest(0, CAST(floor((doc_id % 97) * 256.0 / 97) AS INT))) AS ba,
        |  least(255, greatest(0, CAST(floor((doc_id % 89) * 256.0 / 89) AS INT))) AS bb
        |  FROM documents)
        |SELECT doc_id, CAST(list_sum(list_transform(range(0, 8), i ->
        |  (((ba >> i) & 1) << (2*i + 1)) + (((bb >> i) & 1) << (2*i)))) AS BIGINT) AS z
        |FROM t""".stripMargin)),

    // profile-drift promotion gate: corpus v2 (a quantity filter) profiled
    // against v1, per (column, metric) relative change + verdict
    Slot("q138_profile_drift", run = (s, dir) => {
      val v1 = tbl(s, dir, "lineitem")
      val v2 = v1.where(col("l_quantity") <= 45)
      Profile.drift(v1, v2, Seq("l_quantity", "l_extendedprice", "l_suppkey"),
        maxRelChange = 0.05)
    },
      // mirrors Profile.drift metric for metric (mean uses the 2-rounded sum
      // exactly as the profile does)
      oracle = Some({
      val cols = Seq("l_quantity", "l_extendedprice", "l_suppkey")
      val ctes = cols.zipWithIndex.map { case (c, i) =>
        def side(tag: String, where: String) =
          s"""$tag$i AS (SELECT CAST(count(*) AS DOUBLE) AS row_cnt,
             |  CASE WHEN count(*) = 0 THEN 0 ELSE CAST(count(*) - count($c) AS DOUBLE) / count(*) END AS null_frac,
             |  CAST(count(DISTINCT $c) AS DOUBLE) AS distinct_cnt,
             |  CASE WHEN count($c) = 0 THEN 0 ELSE round(CAST(sum($c) AS DOUBLE), 2) / count($c) END AS mean
             |  FROM lineitem$where)""".stripMargin
        side("b", "") + ",\n" + side("a", " WHERE l_quantity <= 45") + ",\n" +
          s"""m$i AS (SELECT 'row_cnt' AS metric, b$i.row_cnt AS bv, a$i.row_cnt AS av FROM b$i, a$i
             |UNION ALL SELECT 'null_frac', b$i.null_frac, a$i.null_frac FROM b$i, a$i
             |UNION ALL SELECT 'distinct_cnt', b$i.distinct_cnt, a$i.distinct_cnt FROM b$i, a$i
             |UNION ALL SELECT 'mean', b$i.mean, a$i.mean FROM b$i, a$i)""".stripMargin
      }
      val selects = cols.zipWithIndex.map { case (c, i) =>
        s"""SELECT '$c' AS column_name, metric, round(bv, 4) AS before_val,
           |round(av, 4) AS after_val,
           |round(abs(av - bv) / greatest(abs(bv), 1e-12), 4) AS rel_change,
           |(abs(av - bv) / greatest(abs(bv), 1e-12)) <= 0.05 AS ok FROM m$i""".stripMargin
      }
      "WITH " + ctes.mkString(",\n") + "\n" + selects.mkString("\nUNION ALL\n")
    })),

    // incremental distinct counting via a persisted HLL sketch store: two
    // batches append per-source sketches; the estimate aggregates the
    // SKETCH TABLE only (no source rescan). At fixture cardinalities the
    // sketches are in exact coupon mode, so the estimate equals exact
    // COUNT(DISTINCT) — the oracle; at scale it's the standard HLL ±1.6%.
    Slot("q139_hll_incremental", run = (s, dir) => {
      val d  = tbl(s, dir, "documents").select(col("doc_id"), col("source"))
      val t  = Table("graft_q139_sketches")
      Sketches.buildDistinctStore(s, d.where(col("doc_id") % 2 === 0), "source", "doc_id", t, lgK = 14)
      Sketches.appendDistinctStore(s, d.where(col("doc_id") % 2 =!= 0), "source", "doc_id", t, lgK = 14)
      Sketches.estimateDistinct(s, t)
        .select(col("grp").as("source"), col("distinct_est").cast("long").as("n_distinct"))
    },
      // coupon-exact regime ⇒ estimates equal exact distincts
      oracle = Some("""SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct
        |FROM documents GROUP BY source""".stripMargin)),

    // fixed-width histogram (the distribution report behind bound-picking)
    Slot("q143_histogram", run = (s, dir) =>
      Profile.histogram(tbl(s, dir, "lineitem"), "l_extendedprice",
        min = 0.0, max = 120000.0, bins = 20),
      // same clamp-to-edge uniform bucket math as q135
      oracle = Some("""WITH b AS (SELECT least(19, greatest(0,
        |  CAST(floor(l_extendedprice * 20 / 120000.0) AS INT))) AS bin
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL)
        |SELECT bin, round(bin * 6000.0, 4) AS lo, round((bin + 1) * 6000.0, 4) AS hi,
        |  count(*) AS n FROM b GROUP BY bin""".stripMargin)),

    // key-skew report (the measurement before salting): top-10 heaviest
    // order-priority keys with row share
    Slot("q144_skew_report", run = (s, dir) =>
      Skew.keySkewReport(tbl(s, dir, "orders"), "o_orderpriority", topN = 10),
      oracle = Some("""SELECT CAST(o_orderpriority AS VARCHAR) AS key, count(*) AS n,
        |  round(CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM orders), 6) AS share
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY n DESC, key ASC LIMIT 10""".stripMargin)),

    // BATCH sessionization — the backfill twin of q32's streaming op, same
    // gap rule, same oracle; lag/cumsum windows are per-user, one shuffle
    Slot("q145_batch_sessionize", run = (s, dir) => {
      allowNanos(s)
      val ev0 = s.read.parquet(s"$dir/events.parquet")
      val ev  = ev0.select(col("user_id"), epochSec(ev0, "ts").as("sec"))
      Sessions.sessionize(ev, "user_id", "sec", gapSeconds = 3600)
    },
      // identical session SQL to q32 (shared gap rule ⇒ shared oracle)
      oracle = Some("""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS tsec FROM events),
        |m AS (SELECT user_id, tsec,
        |  CASE WHEN lag(tsec) OVER w IS NULL OR tsec - lag(tsec) OVER w >= 3600
        |       THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsec)),
        |g AS (SELECT user_id, tsec,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY tsec ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, CAST(min(tsec) AS BIGINT) AS session_start,
        |  CAST(max(tsec) AS BIGINT) AS session_end, CAST(count(*) AS BIGINT) AS events
        |FROM g GROUP BY user_id, sid""".stripMargin)),

    // rolling event-time window (RANGE frame): per event, how many of the
    // same user's events fall in the trailing hour — the batch rate/burst
    // feature; rangeBetween frames are per-key, no global sort
    Slot("q148_rolling_window", run = (s, dir) => {
      allowNanos(s)
      val ev0 = s.read.parquet(s"$dir/events.parquet")
      val ev  = ev0.select(col("user_id"), col("event_type"), epochSec(ev0, "ts").as("sec"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
        .rangeBetween(-3600L, Window.currentRow)
      ev.select(col("user_id"), col("sec"),
        count(lit(1)).over(w).as("events_last_hour"))
    },
      // DuckDB RANGE frame mirrors Spark rangeBetween (peers by value)
      oracle = Some("""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000000000 AS sec FROM events)
        |SELECT user_id, CAST(sec AS BIGINT) AS sec,
        |  CAST(count(*) OVER (PARTITION BY user_id ORDER BY sec
        |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT) AS events_last_hour
        |FROM e""".stripMargin)),

    // CUBE grouping (all 2^n grouping-set combinations — the remaining
    // grouping-analytics builtin next to q57's ROLLUP)
    Slot("q149_cube", run = (s, dir) =>
      tbl(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total")),
      oracle = Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin)),

    // ordered funnel: view → click-after-view → purchase-after-click per
    // user; k bounded min-agg rounds, one row per user out
    Slot("q151_funnel", run = (s, dir) => {
      allowNanos(s)
      val ev0 = s.read.parquet(s"$dir/events.parquet")
      val ev  = ev0.select(col("user_id"), col("event_type"), epochSec(ev0, "ts").as("sec"))
      Sessions.funnel(ev, "user_id", "event_type", "sec",
        Seq("view", "click", "purchase"))
    },
      // iterative min-after-previous-step mirror; highest step wins
      oracle = Some("""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000000000 AS sec FROM events),
        |u AS (SELECT DISTINCT user_id FROM e),
        |s0 AS (SELECT user_id, min(sec) AS t0 FROM e WHERE event_type = 'view' GROUP BY user_id),
        |s1 AS (SELECT e.user_id, min(sec) AS t1 FROM e JOIN s0 USING (user_id)
        |  WHERE event_type = 'click' AND sec >= t0 GROUP BY e.user_id),
        |s2 AS (SELECT e.user_id, min(sec) AS t2 FROM e JOIN s1 USING (user_id)
        |  WHERE event_type = 'purchase' AND sec >= t1 GROUP BY e.user_id)
        |SELECT u.user_id,
        |  CAST(CASE WHEN t2 IS NOT NULL THEN 3 WHEN t1 IS NOT NULL THEN 2
        |            WHEN t0 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS steps_completed
        |FROM u LEFT JOIN s0 USING (user_id) LEFT JOIN s1 USING (user_id)
        |LEFT JOIN s2 USING (user_id)""".stripMargin)),

    // weekly cohort retention anchored on first signup: distinct cohort
    // members active again k weeks later; activity set dedups before the
    // cohort join
    Slot("q152_retention", run = (s, dir) => {
      allowNanos(s)
      val ev0 = s.read.parquet(s"$dir/events.parquet")
      val ev  = ev0.select(col("user_id"), col("event_type"), epochSec(ev0, "ts").as("sec"))
      Sessions.cohortRetention(ev, "user_id", "event_type", "sec",
        anchorType = "signup", periodSeconds = 604800L, maxOffset = 8)
    },
      // integer week math; activity dedup before the cohort join
      oracle = Some("""WITH e AS (SELECT user_id, event_type,
        |  (epoch_ns(ts) // 1000000000) // 604800 AS p FROM events),
        |c AS (SELECT user_id, min(p) AS cohort FROM e
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, p FROM e)
        |SELECT cohort, p - cohort AS period_offset,
        |  CAST(count(DISTINCT a.user_id) AS BIGINT) AS active_keys
        |FROM c JOIN a USING (user_id)
        |WHERE p - cohort BETWEEN 0 AND 8
        |GROUP BY cohort, p - cohort""".stripMargin)),

    // batch hopping-window aggregation (window() with slide < size): every
    // event lands in size/slide overlapping windows — the smoothing
    // variant of q34's tumbling windows, same builtin surface at rest
    Slot("q153_hopping_window", run = (s, dir) => {
      allowNanos(s)
      val ev0 = s.read.parquet(s"$dir/events.parquet")
      val ev = ev0.select(col("user_id"),
        timestamp_seconds(epochSec(ev0, "ts")).as("ts"))
      ev.groupBy(window(col("ts"), "60 minutes", "30 minutes"))
        .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))
        .select(unix_timestamp(col("window.start")).as("w_start"),
          col("n_events"), col("n_users"))
    },
      // each event belongs to exactly size/slide = 2 epoch-aligned hops
      oracle = Some("""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS sec FROM events),
        |h AS (SELECT user_id, ((sec // 1800) - k) * 1800 AS w_start
        |  FROM e CROSS JOIN (SELECT unnest([0, 1]) AS k))
        |SELECT CAST(w_start AS BIGINT) AS w_start, count(*) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM h GROUP BY w_start""".stripMargin)),

    // the BUILTIN session_window() in batch — third implementation of the
    // same gap rule (hand-rolled batch q145, stateful streaming q32), all
    // three sharing one oracle: the builtin merges events whose gap to the
    // session end is < gap, exactly the flatMapGroupsWithState semantics
    Slot("q155_session_window_builtin", run = (s, dir) => {
      allowNanos(s)
      val ev0 = s.read.parquet(s"$dir/events.parquet")
      val ev = ev0.select(col("user_id"),
        timestamp_seconds(epochSec(ev0, "ts")).as("ts"))
      ev.groupBy(col("user_id"), session_window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("events"),
          unix_seconds(min(col("ts"))).as("session_start"),
          unix_seconds(max(col("ts"))).as("session_end"))
        .select(col("user_id"), col("session_start"), col("session_end"), col("events"))
    },
      // q145's session SQL verbatim — the gap rule is the shared contract
      oracle = Some("""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS tsec FROM events),
        |m AS (SELECT user_id, tsec,
        |  CASE WHEN lag(tsec) OVER w IS NULL OR tsec - lag(tsec) OVER w >= 3600
        |       THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsec)),
        |g AS (SELECT user_id, tsec,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY tsec ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, CAST(min(tsec) AS BIGINT) AS session_start,
        |  CAST(max(tsec) AS BIGINT) AS session_end, CAST(count(*) AS BIGINT) AS events
        |FROM g GROUP BY user_id, sid""".stripMargin)),

    Slot("q157_zorder_skipping", run = (s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val z = Layout.zValue(Seq(
        Layout.uniformBucket(col("l_partkey"), 0, 2000, 8),
        Layout.uniformBucket(col("l_suppkey"), 0, 100, 8)), bits = 8)
      val path = s"$scratch/q157_zorder"
      Layout.clusterByZ(li, z, numFiles = 16).write.mode("overwrite").parquet(path)
      s.read.parquet(path)
        .where(col("l_partkey") < 250 && col("l_suppkey") < 12)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber"))
    },
      // the clustered rewrite must be LOSSLESS: the 2-D range filter over
      // the z-ordered files equals the same filter on the original table
      oracle = Some("""SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber
        |FROM lineitem WHERE l_partkey < 250 AND l_suppkey < 12""".stripMargin)),
  )

  /** Locations and file formats: export/load round-trips, JDBC, HTTP, file
    * lists, bad records, schema evolution.
    */
  private def ioSlots: Seq[Slot] = Seq(
    Slot("q20_export_csv_roundtrip", run = (s, dir) => {
      val f = File(s"$scratch/region_export.csv", Some(FileType.Csv))
      ExportToFile.df(s, tbl(s, dir, "region"), f, IfExists.Replace, singleFile = true)
      LoadFile.toDataFrame(s, f)
        .select(col("r_regionkey").cast("int").as("r_regionkey"), col("r_name"))
    },
      oracle = Some("SELECT r_regionkey, r_name FROM region")),

    Slot("q21_export_ndjson_roundtrip", run = (s, dir) => {
      val f = File(s"$scratch/nation_export.ndjson", Some(FileType.Ndjson))
      ExportToFile.df(s, tbl(s, dir, "nation"), f, IfExists.Replace, singleFile = true)
      LoadFile.toDataFrame(s, f).select(
        col("n_nationkey").cast("int").as("n_nationkey"),
        col("n_name"),
        col("n_regionkey").cast("int").as("n_regionkey"),
      )
    },
      oracle = Some("SELECT n_nationkey, n_name, n_regionkey FROM nation")),

    // ndjson nested flatten (normalizeSep parity with pandas.json_normalize)
    Slot("q22_ndjson_flatten", run = (s, dir) => {
      val nested = tbl(s, dir, "customer").select(
        col("c_custkey").as("id"),
        struct(col("c_name").as("name"), col("c_acctbal").as("bal")).as("info"),
      )
      val f = File(s"$scratch/nested_customer.ndjson", Some(FileType.Ndjson))
      ExportToFile.df(s, nested, f, IfExists.Replace, singleFile = true)
      LoadFile.toDataFrame(s, f, LoadOptions(normalize = true))
        .select(col("id"), col("info_name"), col("info_bal"))
    },
      oracle = Some("SELECT c_custkey AS id, c_name AS info_name, c_acctbal AS info_bal FROM customer")),

    // JDBC round-trip through embedded Derby: nation → remote DB → back →
    // must equal the source (oracle = plain SELECT on the parquet)
    Slot("q31_jdbc_roundtrip", run = (s, dir) => {
      val url = "jdbc:derby:memory:graftq31;create=true"
      graft.sources.Jdbc.write(s, tbl(s, dir, "nation"), url, "q31_nation", IfExists.Replace)
      graft.sources.Jdbc.read(s, url, "q31_nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    },
      oracle = Some("SELECT n_nationkey, n_name, n_regionkey FROM nation")),

    // xlsx round-trip through the dependency-free SpreadsheetML codec
    // (driver-side single-file by format nature; reference xlsx.py)
    Slot("q41_xlsx_roundtrip", run = (s, dir) => {
      val f = File(s"$scratch/region_export.xlsx", Some(FileType.Xlsx))
      ExportToFile.df(s, tbl(s, dir, "region"), f, IfExists.Replace)
      LoadFile.toDataFrame(s, f)
        .select(col("r_regionkey").cast("int").as("r_regionkey"), col("r_name"))
    },
      oracle = Some("SELECT r_regionkey, r_name FROM region")),

    // load_file from an http:// location (reference locations/http.py):
    // an in-process server stands in for the remote endpoint; the staged
    // fetch + distributed read is the real production path
    Slot("q42_http_load", run = (s, dir) => {
      val server = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      try {
        val bytes = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"$dir/nation.parquet"))
        server.createContext("/nation.parquet", (ex: com.sun.net.httpserver.HttpExchange) => {
          ex.sendResponseHeaders(200, bytes.length.toLong)
          try ex.getResponseBody.write(bytes) finally ex.close()
        })
        server.start()
        val port = server.getAddress.getPort
        // staged-fetch cache is keyed by URL; the random port makes each
        // session fetch fresh
        LoadFile.toDataFrame(s,
            File(s"http://127.0.0.1:$port/nation.parquet", Some(FileType.Parquet)))
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      } finally server.stop(0)
    },
      oracle = Some("SELECT n_nationkey, n_name, n_regionkey FROM nation")),

    // get_file_list over a glob of files the query itself stages — output
    // is the (deterministic) basename set, mirrored by a VALUES oracle
    Slot("q46_get_file_list", run = (s, dir) => {
      import s.implicits._
      val d = s"$scratch/q46_list"
      val dirF = new java.io.File(d)
      dirF.mkdirs()
      Option(dirF.listFiles()).getOrElse(Array.empty).foreach(_.delete())
      Seq("alpha.csv", "beta.csv", "gamma.csv").foreach { n =>
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$d/$n"), "x,y\n1,2\n".getBytes("UTF-8"))
      }
      GetFileList(s, s"$d/*.csv")
        .map(p => p.split('/').last)
        .toDF("file_name")
    },
      oracle = Some("SELECT * FROM (VALUES ('alpha.csv'), ('beta.csv'), ('gamma.csv')) AS t(file_name)")),

    // JSON-ARRAY file round-trip (reference files/types/json.py — a JSON
    // array document, not ndjson; single-file rewrite wraps rows in [...])
    Slot("q60_json_roundtrip", run = (s, dir) => {
      val f = File(s"$scratch/region_export.json", Some(FileType.Json))
      ExportToFile.df(s, tbl(s, dir, "region"), f, IfExists.Replace, singleFile = true)
      LoadFile.toDataFrame(s, f)
        .select(col("r_regionkey").cast("int").as("r_regionkey"), col("r_name"))
    },
      oracle = Some("SELECT r_regionkey, r_name FROM region")),

    // columns_names_capitalization knob (reference constants.py:93,
    // utils/dataframe.py:17-33) applied on load
    Slot("q61_capitalization", run = (s, dir) =>
      LoadFile.toDataFrame(s, File(s"$dir/region.parquet"),
          LoadOptions(capitalization = Capitalization.Upper))
        .select(col("R_REGIONKEY"), col("R_NAME")),
      oracle = Some("""SELECT r_regionkey AS "R_REGIONKEY", r_name AS "R_NAME" FROM region""")),

    // merge pushed down to an EXTERNAL JDBC database: data ships into a
    // staging table (executor-parallel write), the upsert itself is one
    // in-database ANSI MERGE statement — the reference's per-dialect merge
    // SQL for remote targets (q05 is the catalog-table counterpart)
    Slot("q72_jdbc_merge", run = (s, dir) => {
      val url  = "jdbc:derby:memory:graftq72;create=true"
      val cust = tbl(s, dir, "customer")
      graft.sources.Jdbc.write(s,
        cust.filter(col("c_custkey") % 3 === 0)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal")),
        url, "q72_target", IfExists.Replace)
      val src = cust.filter(col("c_custkey") % 2 === 0).select(
        col("c_custkey"),
        concat(lit("upd_"), col("c_name")).as("c_name"),
        (col("c_acctbal") + 100).as("c_acctbal"),
      )
      graft.sources.Jdbc.merge(s, src, url, "q72_target", Seq("c_custkey"),
        MergeConflict.Update, initUniqueIndex = true)
      graft.sources.Jdbc.read(s, url, "q72_target")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    },
      // same upsert semantics as q05, three-column shape (the merge itself
      // ran inside Derby; doubles round-trip bit-exact through the JDBC DOUBLE)
      oracle = Some("""WITH src AS (SELECT c_custkey, 'upd_' || c_name AS c_name,
        |c_acctbal + 100 AS c_acctbal FROM customer WHERE c_custkey % 2 = 0),
        |tgt AS (SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 3 = 0)
        |SELECT * FROM src
        |UNION ALL SELECT * FROM tgt WHERE c_custkey NOT IN (SELECT c_custkey FROM src)""".stripMargin)),

    // ORC round-trip: the other Spark-native columnar format (beyond the
    // reference's five file types) — distributed write, schema'd read-back
    Slot("q80_export_orc_roundtrip", run = (s, dir) => {
      val f = File(s"$scratch/orders_export_orc", Some(FileType.Orc))
      ExportToFile.df(s,
        tbl(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderstatus")),
        f, IfExists.Replace, singleFile = false)
      LoadFile.toDataFrame(s, f)
        .where(col("o_totalprice") > 1000)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("total"))
    },
      oracle = Some("""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
        |round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_totalprice > 1000 GROUP BY o_orderstatus""".stripMargin)),

    // gzip-compressed csv single-file roundtrip: extension-through-codec
    // type detection (x.csv.gz IS a csv) + writer codec option
    Slot("q104_gzip_roundtrip", run = (s, dir) => {
      val f = File(s"$scratch/supplier_export.csv.gz")
      ExportToFile.df(s, tbl(s, dir, "supplier"), f, IfExists.Replace,
        singleFile = true, compression = Some("gzip"))
      LoadFile.toDataFrame(s, f).select(
        col("s_suppkey").cast("long").as("s_suppkey"),
        col("s_name"),
        col("s_nationkey").cast("long").as("s_nationkey"))
    },
      oracle = Some("SELECT s_suppkey, s_name, s_nationkey FROM supplier")),

    // bzip2 single-file ndjson roundtrip. Unlike gzip (q104), bzip2 is
    // SPLITTABLE: a 100 GB .bz2 text file reads as parallel tasks instead
    // of one, which makes it the right codec for large single-file text
    // drops. (zstd needs the native Hadoop codec, absent in this
    // environment — rejected with a clear CODEC_NOT_AVAILABLE.)
    Slot("q136_bzip2_roundtrip", run = (s, dir) => {
      val f = File(s"$scratch/nation_export.ndjson.bz2")
      ExportToFile.df(s, tbl(s, dir, "nation"), f, IfExists.Replace,
        singleFile = true, compression = Some("bzip2"))
      LoadFile.toDataFrame(s, f).select(
        col("n_nationkey").cast("int").as("n_nationkey"),
        col("n_name"),
        col("n_regionkey").cast("int").as("n_regionkey"))
    },
      oracle = Some("SELECT n_nationkey, n_name, n_regionkey FROM nation")),

    // malformed-record quarantine on ingest: PERMISSIVE load routes broken
    // lines into a corrupt-record column instead of failing the job or
    // silently dropping — the 100 TB ingest posture (a full reload to find
    // one bad line is not an option). The entry asserts the quarantine
    // count in-query, so a mis-routed line turns the whole row red.
    Slot("q140_bad_records", run = (s, dir) => {
      val clean = File(s"$scratch/q140_nation.ndjson")
      ExportToFile.df(s,
        tbl(s, dir, "nation").select(col("n_nationkey"), col("n_name"), col("n_regionkey")),
        clean, IfExists.Replace, singleFile = true)
      val dirty = s"$scratch/q140_dirty.ndjson"
      val lines = new java.util.ArrayList(
        java.nio.file.Files.readAllLines(java.nio.file.Paths.get(clean.path)))
      lines.add("{\"n_nationkey\": broken json")
      lines.add("not json at all")
      java.nio.file.Files.write(java.nio.file.Paths.get(dirty), lines)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_nationkey", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_name", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_regionkey", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("_corrupt", org.apache.spark.sql.types.StringType)))
      val loaded = LoadFile.toDataFrame(s, File(dirty), LoadOptions(
        readerOptions = Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt"),
        schema = Some(schema))).cache()
      val quarantined = loaded.where(col("_corrupt").isNotNull).count()
      require(quarantined == 2, s"expected 2 quarantined rows, got $quarantined")
      loaded.where(col("_corrupt").isNull)
        .select(col("n_nationkey").cast("int").as("n_nationkey"), col("n_name"),
          col("n_regionkey").cast("int").as("n_regionkey"))
    },
      // valid rows survive the quarantine untouched
      oracle = Some("SELECT n_nationkey, n_name, n_regionkey FROM nation")),

    // schema evolution across file generations: gen 2 adds a column; a
    // mergeSchema read surfaces the union schema with NULLs for the old
    // files — the additive-evolution contract of a long-lived dataset
    Slot("q141_schema_evolution", run = (s, dir) => {
      val r = tbl(s, dir, "region").select(col("r_regionkey"), col("r_name"))
      val d = s"$scratch/q141_evolve"
      r.write.mode("overwrite").parquet(s"$d/g1")
      r.withColumn("r_note", concat(lit("note-"), col("r_regionkey")))
        .write.mode("overwrite").parquet(s"$d/g2")
      LoadFile.toDataFrame(s, File(d, Some(FileType.Parquet)), LoadOptions(
          readerOptions = Map("mergeSchema" -> "true", "recursiveFileLookup" -> "true")))
        .select(col("r_regionkey"), col("r_name"), col("r_note"))
    },
      // union schema: old generation carries NULL for the added column
      oracle = Some("""SELECT r_regionkey, r_name, CAST(NULL AS VARCHAR) AS r_note FROM region
        |UNION ALL
        |SELECT r_regionkey, r_name, 'note-' || r_regionkey FROM region""".stripMargin)),
  )

  /** Dedup: exact, near-dup (MinHash, SimHash, n-gram, embedding),
    * incremental, substring, decontamination.
    */
  private def dedupSlots: Seq[Slot] = Seq(
    Slot("q10_dedup_exact", run = (s, dir) =>
      Dedup.exact(tbl(s, dir, "documents"), "text", "doc_id"),
      oracle = Some("""SELECT * FROM documents WHERE doc_id IN (
        |SELECT min(doc_id) FROM documents
        |GROUP BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))""".stripMargin)),

    Slot("q11_dedup_exact_keys", run = (s, dir) => {
      allowNanos(s)
      Dedup.exactByKeys(tbl(s, dir, "events"), Seq("user_id", "event_type"), "event_id")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    },
      oracle = Some("""SELECT event_id, user_id, event_type, value FROM events WHERE event_id IN (
        |SELECT min(event_id) FROM events GROUP BY user_id, event_type)""".stripMargin)),

    // near-dup MinHash-LSH over planted duplicates. Run in recall-exact mode
    // (r=2 banding: miss probability at J=0.6 is ~4e-13), so the output IS
    // the exact set {pairs with shingle-Jaccard >= 0.6} and the DuckDB
    // all-pairs Jaccard oracle compares hash-for-hash.
    Slot("q12_neardup_minhash", run = (s, dir) => {
      val d   = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val dup = drifted(d, " extra trailing token")
      Dedup.nearDupPairsMinHash(d.unionByName(dup), "doc_id", "text", threshold = 0.6,
          bands = Dedup.recallExactBands(0.6))
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    },
      // exact all-pairs 3-word-shingle Jaccard — the Spark side runs LSH in
      // recall-exact r=2 banding, so candidate-gen misses nothing at J>=0.6
      // and both engines emit the identical verified pair set.
      oracle = Some("""WITH base AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, regexp_split_to_array(trim(lower(text || ' extra trailing token')), '\s+') FROM documents),
        |s AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |  ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sh FROM base),
        |j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jac
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.6""".stripMargin),
      pinnedToOracleSf = true),

    // r=4 banding + default bucket caps on the RAW documents fixture — the
    // exact high-similarity regime whose r=2 oracle dial measured 41x at
    // sf10; the production answer to that regime is THIS dial
    Slot("q12_neardup_minhash_prod", run = (s, dir) => {
      val d   = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val dup = drifted(d, " extra trailing token")
      Dedup.nearDupPairsMinHash(d.unionByName(dup), "doc_id", "text", threshold = 0.6)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    },
      oracle = None),

    // SimHash near-dup, ORACLE-CHECKED (round 9 — replaces the rows-only
    // check): the portable md5-token-hash variant makes every step — per-bit
    // majority vote, 64-bit packing, pigeonhole chunk blocking, bucket cap,
    // hamming verify — expressible in DuckDB SQL, so the full pipeline
    // hash-checks. Blocking/verify are hash-agnostic: the oracle on this
    // variant covers the identical logic the xxhash default runs.
    Slot("q13_neardup_simhash", run = (s, dir) => {
      val d   = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val dup = drifted(d, " zz")
      Dedup.nearDupPairsSimHash(d.unionByName(dup), "doc_id", "text", maxHamming = 3,
          portable = true)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
    },
      // full SimHash mirror on the md5-token-hash variant: per-token 64-bit
      // hash = first 8 md5 bytes big-endian; per-bit majority vote packs the
      // doc hash (token-less docs = all-ones, like HashImpl.simHash64Md5);
      // pigeonhole 16-bit chunk join + bucket cap + popcount(xor) <= 3 —
      // each step the exact arithmetic twin of Dedup.nearDupPairsSimHash
      oracle = Some("""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text || ' zz' FROM documents),
        |t AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
        |  FROM corpus WHERE text IS NOT NULL),
        |h AS (SELECT doc_id, list_transform(toks,
        |  tok -> ('0x' || substring(md5(tok), 1, 16))::UBIGINT) AS hs FROM t),
        |sim AS (SELECT doc_id, CASE WHEN len(hs) = 0 THEN 18446744073709551615::UBIGINT
        |  ELSE CAST(list_sum(list_transform(generate_series(0, 63), i ->
        |    CASE WHEN list_sum(list_transform(hs, x ->
        |      CASE WHEN ((x >> i) & 1) = 1 THEN 1 ELSE -1 END)) >= 0
        |    THEN (1::HUGEINT << i) ELSE 0::HUGEINT END)) AS UBIGINT) END AS sim FROM h),
        |ch AS (SELECT doc_id, sim, j, (sim >> (j * 16)) & 65535 AS val
        |  FROM sim CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) b
        |  QUALIFY count(*) OVER (PARTITION BY j, val) <= 1000)
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
        |FROM ch a JOIN ch b ON a.j = b.j AND a.val = b.val AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sim, b.sim)) <= 3""".stripMargin)),

    // embedding near-dup. The planted dups are IDENTICAL vectors (cosine 1.0
    // → same SRP bucket in every table, so LSH always surfaces them) and the
    // fixture's max non-planted pairwise cosine is ≤0.60 at every SF — so at
    // threshold 0.99 the output is exactly the all-pairs cosine≥0.99 set and
    // the DuckDB oracle compares hash-for-hash.
    Slot("q14_neardup_embedding", run = (s, dir) => {
      val e   = tbl(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val dup = e.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Dedup.nearDupPairsEmbedding(e.unionByName(dup), "vec_id", "embedding", threshold = 0.99)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
    },
      // exact all-pairs cosine: planted dups are identical vectors and the
      // fixture's max non-planted cosine is ≤0.60 — see the q14 query comment.
      oracle = Some("""WITH e0 AS (SELECT vec_id, embedding FROM embeddings),
        |corpus AS (SELECT vec_id, embedding FROM e0
        |  UNION ALL SELECT vec_id + 1000000, embedding FROM e0 WHERE vec_id % 5 = 0),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_sum(list_transform(generate_series(1, len(a.embedding)),
        |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
        |  (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)),
        |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)))) *
        |   sqrt(list_sum(list_transform(generate_series(1, len(b.embedding)),
        |    i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) AS cos
        |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(cos, 6) AS cosine FROM p WHERE cos >= 0.99""".stripMargin)),

    // transitive near-dup: planted chain a~b~c (a≁c) must collapse onto one
    // survivor via connected components. Recall-exact r=2 banding makes the
    // edge set exactly {shingle-Jaccard >= 0.5}, so the DuckDB recursive-CTE
    // closure oracle compares hash-for-hash.
    Slot("q29_dedup_transitive", run = (s, dir) => {
      // 20% sample keeps the q29 bench entry about CC convergence, not
      // about re-running q12's LSH at 3x corpus size.
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 5 === 0)
      Dedup.dedupNearTransitive(driftChain(d), "doc_id", "text",
          threshold = 0.5, bands = Dedup.recallExactBands(0.5))
        .select(col("doc_id"))
    },
      // transitive closure of the exact Jaccard>=0.5 graph via recursive CTE;
      // survivors are docs that reach no smaller id (component min-id reps).
      oracle = Some("""WITH RECURSIVE d AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        |corpus AS (
        |  SELECT doc_id, text FROM d
        |  UNION ALL SELECT doc_id + 1000000, text || ' chain link one two three' FROM d
        |  UNION ALL SELECT doc_id + 2000000, text || ' chain link one two three more drift four five six' FROM d),
        |t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM corpus),
        |s AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |  ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sh FROM t),
        |e0 AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM s a JOIN s b
        |  ON a.doc_id <> b.doc_id
        |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        |reach AS (SELECT src, dst FROM e0
        |  UNION SELECT r.src, e.dst FROM reach r JOIN e0 e ON r.dst = e.src WHERE e.dst <> r.src),
        |lab AS (SELECT src AS id, min(dst) AS mn FROM reach GROUP BY src)
        |SELECT c.doc_id FROM corpus c LEFT JOIN lab ON c.doc_id = lab.id
        |WHERE lab.id IS NULL OR lab.mn > c.doc_id""".stripMargin)),

    // n-gram Jaccard near-dup (char 5-grams — robust to word-boundary
    // noise), recall-exact banding → full all-pairs oracle like q12.
    // Char grams have HIGH background similarity (~0.2 between unrelated
    // docs — common words share grams), so recall-exactness comes from
    // r=4 over 256 hashes (miss 2e-8 at J=0.7) instead of r=2, which
    // would sweep ~90% of all pairs into the verify stage. The 20% sample
    // keeps the bench entry about the operator, not corpus size.
    Slot("q40_neardup_ngram", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 5 === 0)
      val dup = drifted(d, " extra trailing token")
      Dedup.nearDupPairsNgram(d.unionByName(dup), "doc_id", "text", threshold = 0.7,
          ngram = 5, numHashes = 256, bands = Dedup.recallExactBands(0.7, numHashes = 256))
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    },
      oracle = Some("""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        |corpus AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm FROM d
        |  UNION ALL SELECT doc_id + 1000000,
        |    regexp_replace(lower(trim(text || ' extra trailing token')), '\s+', ' ', 'g') FROM d),
        |s AS (SELECT doc_id, CASE WHEN length(norm) <= 5 THEN [norm]
        |  ELSE list_distinct(list_transform(generate_series(1, length(norm) - 4),
        |    i -> substr(norm, i, 5))) END AS g FROM corpus),
        |j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
        |    (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) AS jac
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.7""".stripMargin),
      // found by the round-11 sf10 sweep: char 5-gram shingles survive the
      // fixture's per-replica letter mutations far better than word
      // shingles, so the template clusters stay band-coherent and the
      // recall-exact candidate volume goes cluster-quadratic — ~73 GB of
      // shuffle spill at sf10 (word-shingle q12's regime, one decade
      // later). The linear dial is q40_neardup_ngram_prod (hard bucket
      // cap bounds candidates at O(N·cap·bands)).
      pinnedToOracleSf = true),

    // char-ngram LSH near-dup at the LINEAR production dial: default r=4
    // banding + a HARD per-bucket cap (64) that bounds total candidate
    // volume at O(N·cap·bands) — the only sizing that survives a corpus
    // whose duplicate clusters grow WITH the corpus (template boilerplate:
    // this fixture, and real web crawl). The cap drops mega-clusters from
    // pair enumeration by design — kill those via the exact-key/lines
    // dedup family first; pair enumeration is for the long tail. The
    // recall-exact dial (q40) stays the oracle at sf<=0.1.
    Slot("q40_neardup_ngram_prod", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 5 === 0)
      val dup = drifted(d, " extra trailing token")
      Dedup.nearDupPairsNgram(d.unionByName(dup), "doc_id", "text",
          threshold = 0.9, ngram = 5, numHashes = 128, bands = 32,
          maxBucketSize = 64)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    },
      oracle = None),

    // dedup-at-rest: corpus written bucketed (+sorted) by the content
    // fingerprint, then exact dedup reads the bucketed layout — the window
    // needs hash distribution by fp, which the buckets already provide, so
    // the dedup pass runs with ZERO exchange (asserted in BucketedSpec).
    // The 100 TB shape: pay the clustering once at ingest, dedup for free.
    Slot("q50_dedup_bucketed", run = (s, dir) => {
      val withFp = tbl(s, dir, "documents")
        .withColumn("__fp", TextFunctions.fingerprint(col("text")))
      val t = Table("graft_q50_docs")
      TableIO.overwriteBucketed(s, withFp, t, Seq("__fp"), 8, Seq("__fp", "doc_id"))
      val docs = s.table(t.qualifiedName)
      val w = Window.partitionBy(col("__fp")).orderBy(col("doc_id"))
      docs.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
        .select(col("doc_id"), col("text"))
    },
      oracle = Some("""SELECT doc_id, text FROM documents WHERE doc_id IN (
        |SELECT min(doc_id) FROM documents
        |GROUP BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))""".stripMargin)),

    // one-hop near-dedup (keeps chain endpoints — the cheap variant vs
    // q29's transitive closure); recall-exact banding makes the removed
    // set exactly {id_b of pairs with Jaccard >= 0.6}
    Slot("q51_dedup_near", run = (s, dir) => {
      val d   = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val dup = drifted(d, " extra trailing token")
      Dedup.dedupNear(d.unionByName(dup), "doc_id", "text", threshold = 0.6,
          bands = Dedup.recallExactBands(0.6))
        .select(col("doc_id"))
    },
      // survivors = corpus minus the id_b side of the exact Jaccard>=0.6 pairs
      oracle = Some("""WITH base AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, regexp_split_to_array(trim(lower(text || ' extra trailing token')), '\s+') FROM documents),
        |s AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |  ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sh FROM base),
        |losers AS (SELECT DISTINCT b.doc_id AS id FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.6)
        |SELECT doc_id FROM base WHERE doc_id NOT IN (SELECT id FROM losers)""".stripMargin),
      // round-12: the two recall-exact-banding slots the round-11 sweep
      // showed entering the SAME Σcluster² regime one decade behind q40
      // (51× and 27× sf1→sf10 — recallExactBands(0.6) is r=2, and the
      // fixture's template clusters grow WITH the corpus, so candidate
      // volume grows cluster-quadratically until the bucket cap saturates
      // and starts silently eroding the recall-exactness the dial exists
      // for). Linear evidence: q12_neardup_minhash_prod (pair enumeration)
      // and q142_split_leakage_prod (the split dimension's own slope).
      pinnedToOracleSf = true),

    // benchmark decontamination: train docs sharing any 8-word shingle with
    // the eval corpus (eval = every 5th doc here). The join key is
    // md5(gram) — 16 bytes on the wire — and the eval side broadcasts, so
    // the corpus scan streams once with no shuffle.
    Slot("q65_decontaminate", run = (s, dir) => {
      val d  = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val ev = d.filter(col("doc_id") % 5 === 0)
      Dedup.contaminated(d, ev, "doc_id", "text", k = 8)
        .select(col("id").as("doc_id"))
    },
      // mirrors Dedup.contaminated(k=8): 8-word shingles, eval = doc_id%5=0
      oracle = Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |  ELSE list_distinct(list_transform(generate_series(1, len(toks) - 7),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' ||
        |         toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7])) END AS gs FROM t),
        |eg AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 5 = 0),
        |tg AS (SELECT doc_id, unnest(gs) AS gram FROM g)
        |SELECT DISTINCT tg.doc_id FROM tg JOIN eg USING (gram)""".stripMargin)),

    // transitive near-dedup keeping the BEST copy per duplicate cluster
    // (longest text, id tie-break) — q29's corpus, production survivor rule.
    // Recall-exact banding keeps the edge set equal to exact Jaccard>=0.5,
    // so the recursive-CTE closure + window oracle compares hash-for-hash.
    Slot("q73_dedup_keep_best", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 5 === 0)
      Dedup.dedupNearKeepBest(driftChain(d), "doc_id", "text",
          orderBy = Seq(length(col("text")).desc),
          threshold = 0.5, bands = Dedup.recallExactBands(0.5))
        .select(col("doc_id"))
    },
      // q29's transitive-closure oracle with the keep-best survivor rule:
      // component label = min reachable id; winner = longest text, id tie-break
      oracle = Some("""WITH RECURSIVE d AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        |corpus AS (
        |  SELECT doc_id, text FROM d
        |  UNION ALL SELECT doc_id + 1000000, text || ' chain link one two three' FROM d
        |  UNION ALL SELECT doc_id + 2000000, text || ' chain link one two three more drift four five six' FROM d),
        |t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM corpus),
        |s AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |  ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sh FROM t),
        |e0 AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM s a JOIN s b
        |  ON a.doc_id <> b.doc_id
        |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        |reach AS (SELECT src, dst FROM e0
        |  UNION SELECT r.src, e.dst FROM reach r JOIN e0 e ON r.dst = e.src WHERE e.dst <> r.src),
        |lab AS (SELECT src AS id, least(src, min(dst)) AS comp FROM reach GROUP BY src)
        |SELECT doc_id FROM (
        |  SELECT c.doc_id, row_number() OVER (PARTITION BY coalesce(l.comp, c.doc_id)
        |    ORDER BY length(c.text) DESC, c.doc_id) AS rn
        |  FROM corpus c LEFT JOIN lab l ON c.doc_id = l.id) ranked
        |WHERE rn = 1""".stripMargin)),

    // C4-style boilerplate-line removal: lines planted across >=1% of the
    // corpus (newsletter banner) disappear; per-doc unique closing lines
    // survive in original order
    Slot("q75_boilerplate", run = (s, dir) => {
      val corpus = tbl(s, dir, "documents").select(
        col("doc_id"),
        concat(col("text"), lit("\n"),
          when(col("doc_id") % 2 === 0, lit("subscribe to our newsletter today"))
            .otherwise(concat(lit("closing note "), col("doc_id")))).as("text"),
      )
      Dedup.stripBoilerplateLines(corpus, "doc_id", "text",
          maxDocFrac = 0.01, minDocs = 2)
        .select(col("doc_id"), col("__clean").as("clean_text"))
    },
      // mirrors Dedup.stripBoilerplateLines: line frequency over distinct
      // docs, cutoff max(2, ceil(0.01*n)), order-preserving reconstruction
      oracle = Some("""WITH corpus AS (SELECT doc_id, text || chr(10) ||
        |  CASE WHEN doc_id % 2 = 0 THEN 'subscribe to our newsletter today'
        |       ELSE 'closing note ' || CAST(doc_id AS VARCHAR) END AS text FROM documents),
        |lines AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM corpus),
        |freq AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS d FROM lines
        |    WHERE trim(line) <> '' GROUP BY line) q
        |  WHERE d >= greatest(2, CAST(ceil(0.01 * (SELECT count(*) FROM corpus)) AS BIGINT))),
        |fl AS (SELECT coalesce(list(line), []) AS fls FROM freq)
        |SELECT c.doc_id, array_to_string(list_filter(string_split(c.text, chr(10)),
        |  x -> NOT list_contains(fl.fls, x)), chr(10)) AS clean_text
        |FROM corpus c CROSS JOIN fl""".stripMargin)),

    // PRODUCTION-DIAL dedup QUALITY GATE (round 9, the q156 pattern —
    // replaces the rows-only check this slot carried through round 8). The
    // r=4-banding production dial (bands=32, the 100 TB setting) runs first
    // and its survivor set is materialized to a fixed parquet; then BOTH
    // engines independently compute the EXACT survivor set (Spark via
    // recall-exact r=2 banding = q29's dial; DuckDB via the recursive-CTE
    // Jaccard closure) and emit per-doc removal flags for every doc either
    // run removed. The hash match proves the exact sets agree AND the
    // production dial's precision/recall evidence is honest — shared43-style
    // invariants (prod removals ⊆ exact removals, i.e. precision 1.0 since
    // r=4 can only MISS edges, never invent them) are visible in the data.
    Slot("q77_dedup_transitive_prod", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 5 === 0)
      val corpus = driftChain(d)
      Dedup.dedupNearTransitive(corpus, "doc_id", "text", threshold = 0.5)
        .select(col("doc_id"))
        .write.mode("overwrite").parquet(dedupProdPath)
      val prodSurv  = s.read.parquet(dedupProdPath).withColumn("__p", lit(1))
      val exactSurv = Dedup.dedupNearTransitive(corpus, "doc_id", "text",
          threshold = 0.5, bands = Dedup.recallExactBands(0.5))
        .select(col("doc_id")).withColumn("__e", lit(1))
      corpus.select(col("doc_id"))
        .join(exactSurv, Seq("doc_id"), "left")
        .join(prodSurv, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("__e").isNull, 1L).otherwise(0L).as("exact_removed"),
          when(col("__p").isNull, 1L).otherwise(0L).as("prod_removed"))
        .where(col("exact_removed") === 1L || col("prod_removed") === 1L)
    },
      // q29's recursive-CTE exact closure gives DuckDB its OWN exact survivor
      // set; the production-dial survivors are the parquet Spark materialized.
      // Per-doc removal flags for docs removed by either run — the hash match
      // proves the exact sets agree and the r=4 dial's precision/recall is
      // honestly measured.
      oracle = Some(s"""WITH RECURSIVE d AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        |corpus AS (
        |  SELECT doc_id, text FROM d
        |  UNION ALL SELECT doc_id + 1000000, text || ' chain link one two three' FROM d
        |  UNION ALL SELECT doc_id + 2000000, text || ' chain link one two three more drift four five six' FROM d),
        |t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM corpus),
        |s AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |  ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sh FROM t),
        |e0 AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM s a JOIN s b
        |  ON a.doc_id <> b.doc_id
        |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        |reach AS (SELECT src, dst FROM e0
        |  UNION SELECT r.src, e.dst FROM reach r JOIN e0 e ON r.dst = e.src WHERE e.dst <> r.src),
        |lab AS (SELECT src AS id, min(dst) AS mn FROM reach GROUP BY src),
        |exact AS (SELECT c.doc_id FROM corpus c LEFT JOIN lab ON c.doc_id = lab.id
        |  WHERE lab.id IS NULL OR lab.mn > c.doc_id),
        |prod AS (SELECT doc_id FROM read_parquet('$dedupProdPath/*.parquet'))
        |SELECT c.doc_id,
        |  CASE WHEN e.doc_id IS NULL THEN 1 ELSE 0 END AS exact_removed,
        |  CASE WHEN p.doc_id IS NULL THEN 1 ELSE 0 END AS prod_removed
        |FROM corpus c
        |LEFT JOIN exact e ON c.doc_id = e.doc_id
        |LEFT JOIN prod p ON c.doc_id = p.doc_id
        |WHERE e.doc_id IS NULL OR p.doc_id IS NULL""".stripMargin)),

    // PRODUCTION-DIAL keep-best QUALITY GATE — q77's construction with the
    // keep-best (longest-text) survivor rule; exact side = q73's dial in
    // Spark, q73's ranked recursive closure in DuckDB.
    Slot("q78_dedup_keep_best_prod", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 5 === 0)
      val corpus = driftChain(d)
      Dedup.dedupNearKeepBest(corpus, "doc_id", "text",
          orderBy = Seq(length(col("text")).desc),
          threshold = 0.5)
        .select(col("doc_id"))
        .write.mode("overwrite").parquet(keepBestProdPath)
      val prodSurv  = s.read.parquet(keepBestProdPath).withColumn("__p", lit(1))
      val exactSurv = Dedup.dedupNearKeepBest(corpus, "doc_id", "text",
          orderBy = Seq(length(col("text")).desc),
          threshold = 0.5, bands = Dedup.recallExactBands(0.5))
        .select(col("doc_id")).withColumn("__e", lit(1))
      corpus.select(col("doc_id"))
        .join(exactSurv, Seq("doc_id"), "left")
        .join(prodSurv, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("__e").isNull, 1L).otherwise(0L).as("exact_removed"),
          when(col("__p").isNull, 1L).otherwise(0L).as("prod_removed"))
        .where(col("exact_removed") === 1L || col("prod_removed") === 1L)
    },
      // q73's ranked closure (keep-best = longest text, doc_id tie-break) as
      // the exact side; same flags contract as q77
      oracle = Some(s"""WITH RECURSIVE d AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        |corpus AS (
        |  SELECT doc_id, text FROM d
        |  UNION ALL SELECT doc_id + 1000000, text || ' chain link one two three' FROM d
        |  UNION ALL SELECT doc_id + 2000000, text || ' chain link one two three more drift four five six' FROM d),
        |t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM corpus),
        |s AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |  ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sh FROM t),
        |e0 AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM s a JOIN s b
        |  ON a.doc_id <> b.doc_id
        |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        |reach AS (SELECT src, dst FROM e0
        |  UNION SELECT r.src, e.dst FROM reach r JOIN e0 e ON r.dst = e.src WHERE e.dst <> r.src),
        |lab AS (SELECT src AS id, least(src, min(dst)) AS comp FROM reach GROUP BY src),
        |exact AS (SELECT doc_id FROM (
        |  SELECT c.doc_id, row_number() OVER (PARTITION BY coalesce(l.comp, c.doc_id)
        |    ORDER BY length(c.text) DESC, c.doc_id) AS rn
        |  FROM corpus c LEFT JOIN lab l ON c.doc_id = l.id) ranked
        |  WHERE rn = 1),
        |prod AS (SELECT doc_id FROM read_parquet('$keepBestProdPath/*.parquet'))
        |SELECT c.doc_id,
        |  CASE WHEN e.doc_id IS NULL THEN 1 ELSE 0 END AS exact_removed,
        |  CASE WHEN p.doc_id IS NULL THEN 1 ELSE 0 END AS prod_removed
        |FROM corpus c
        |LEFT JOIN exact e ON c.doc_id = e.doc_id
        |LEFT JOIN prod p ON c.doc_id = p.doc_id
        |WHERE e.doc_id IS NULL OR p.doc_id IS NULL""".stripMargin)),

    // incremental exact dedup: batch vs a persisted fingerprint store —
    // corpus state at rest, only the batch hashed; store streams once
    Slot("q81_dedup_exact_incremental", run = (s, dir) => {
      val d      = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = d.where(col("doc_id") % 3 =!= 0)
      val batch = d.where(col("doc_id") % 3 === 0)
        .unionByName(d.where(col("doc_id") % 6 === 1)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      val store = Table("graft_q81_store")
      IncrementalDedup.buildFingerprintStore(s, corpus, "text", store)
      IncrementalDedup.dedupExactIncremental(s, batch, "text", "doc_id", store)
        .select(col("doc_id"))
    },
      // survivors = min-id per normalized text within the batch, minus
      // anything whose normalized text is already in the corpus split
      oracle = Some("""WITH corpus AS (SELECT DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        |  FROM documents WHERE doc_id % 3 <> 0),
        |batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 6 = 1),
        |bn AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm FROM batch),
        |firsts AS (SELECT min(doc_id) AS doc_id, norm FROM bn GROUP BY norm)
        |SELECT f.doc_id FROM firsts f
        |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.norm = f.norm)""".stripMargin)),

    // incremental near-dup: batch vs a persisted LSH band index at the
    // recall-exact dial, so the result equals the full exact-Jaccard filter
    Slot("q82_dedup_near_incremental", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val near = drifted(d.where(col("doc_id") % 4 === 0), " extra trailing token")
      val fresh = d.where(col("doc_id") % 4 === 1)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat_ws(" ", reverse(split(trim(lower(col("text"))), "\\s+"))).as("text"))
      val index = Table("graft_q82_index")
      val bands = Dedup.recallExactBands(0.6)
      IncrementalDedup.buildLshIndex(s, d, "doc_id", "text", index, bands = bands)
      IncrementalDedup.dedupNearIncremental(s, near.unionByName(fresh), d,
          "doc_id", "text", index, threshold = 0.6, bands = bands)
        .select(col("doc_id"))
    },
      // survivors = batch docs with NO corpus doc at exact Jaccard >= 0.6
      // (recall-exact banding makes the LSH path equal the full filter)
      oracle = Some("""WITH base AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
        |batch AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |    regexp_split_to_array(trim(lower(text || ' extra trailing token')), '\s+') AS toks
        |  FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id,
        |    list_reverse(regexp_split_to_array(trim(lower(text)), '\s+')) AS toks
        |  FROM documents WHERE doc_id % 4 = 1),
        |cs AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |  ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sh FROM base),
        |bs AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |  ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sh FROM batch),
        |dup AS (SELECT DISTINCT b.doc_id FROM bs b JOIN cs c ON
        |  CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE) /
        |    (len(b.sh) + len(c.sh) - len(list_intersect(b.sh, c.sh))) >= 0.6)
        |SELECT doc_id FROM bs
        |WHERE NOT EXISTS (SELECT 1 FROM dup d WHERE d.doc_id = bs.doc_id)""".stripMargin)),

    // Bloom-prefiltered decontamination: same exact result as q65, with the
    // eval side reduced to a fixed-size filter before the verify join
    Slot("q83_decontaminate_bloom", run = (s, dir) => {
      val d  = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val ev = d.filter(col("doc_id") % 5 === 0)
      Dedup.contaminatedBloom(d, ev, "doc_id", "text", k = 8)
        .select(col("id").as("doc_id"))
    },
      // identical contract to q65 — the bloom is a prefilter, not a semantic
      oracle = Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |  ELSE list_distinct(list_transform(generate_series(1, len(toks) - 7),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' ||
        |         toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7])) END AS gs FROM t),
        |eg AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 5 = 0),
        |tg AS (SELECT doc_id, unnest(gs) AS gram FROM g)
        |SELECT DISTINCT tg.doc_id FROM tg JOIN eg USING (gram)""".stripMargin)),

    // cross-doc long-substring dup pairs (Lee et al. 2021 signal) at the
    // verification dial: every 40-char normalized window joins, so the
    // result is exactly the shared-substring pair set
    Slot("q85_substring_dup", run = (s, dir) =>
      Dedup.substringDupPairs(tbl(s, dir, "documents"), "doc_id", "text", minLen = 40),
      // pairs sharing any 40-char window of normalized text (whole-text
      // window for docs shorter than 40 normalized chars, as the Spark side)
      oracle = Some("""WITH t AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm FROM documents),
        |w AS (SELECT doc_id, unnest(list_distinct(CASE WHEN length(norm) <= 40 THEN [norm]
        |  ELSE list_transform(generate_series(1, length(norm) - 39), i -> substr(norm, i, 40)) END)) AS win FROM t)
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM w a JOIN w b ON a.win = b.win AND a.doc_id < b.doc_id""".stripMargin)),

    // threshold decontamination: flagged only at >= 2 shared 8-grams AND
    // >= 1% of the doc's own grams, with the evidence columns
    Slot("q87_decontaminate_threshold", run = (s, dir) => {
      val d  = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val ev = d.filter(col("doc_id") % 5 === 0)
      Dedup.contaminatedThreshold(d, ev, "doc_id", "text",
        k = 8, minShared = 2, minFraction = 0.01)
        .select(col("id").as("doc_id"), col("n_shared"),
          col("n_grams").cast("long").as("n_grams"))
    },
      // q65's 8-gram CTE with per-doc totals; HAVING encodes the
      // (minShared=2, minFraction=0.01) dial
      oracle = Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |  ELSE list_distinct(list_transform(generate_series(1, len(toks) - 7),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' ||
        |         toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7])) END AS gs FROM t),
        |eg AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 5 = 0),
        |tg AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS gram FROM g)
        |SELECT doc_id, count(*) AS n_shared, CAST(n_grams AS BIGINT) AS n_grams
        |FROM tg JOIN eg USING (gram)
        |GROUP BY doc_id, n_grams
        |HAVING count(*) >= 2 AND count(*) >= n_grams * 0.01""".stripMargin)),

    // long-substring span REMOVAL (Lee et al. 2021, the cut itself) at the
    // verification dial: every shared 40-char normalized window is removed
    // from every document carrying it
    Slot("q88_remove_substrings", run = (s, dir) =>
      Dedup.removeSharedSubstrings(tbl(s, dir, "documents"), "doc_id", "text", minLen = 40),
      // windows shared across docs -> covered char positions -> residual
      // string rebuilt char-by-char in position order; docs shorter than 40
      // normalized chars carry no windows and pass through uncut
      oracle = Some("""WITH t AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm FROM documents),
        |p AS (SELECT doc_id, unnest(CASE WHEN length(norm) >= 40
        |  THEN generate_series(1, length(norm) - 39) ELSE []::BIGINT[] END) AS pos FROM t),
        |w AS (SELECT p.doc_id, p.pos, substr(t.norm, CAST(p.pos AS INT), 40) AS win
        |  FROM p JOIN t USING (doc_id)),
        |d AS (SELECT win FROM (SELECT win, count(DISTINCT doc_id) AS n FROM w GROUP BY win) WHERE n > 1),
        |cov AS (SELECT DISTINCT w.doc_id, w.pos FROM w JOIN d USING (win)),
        |cc AS (SELECT DISTINCT doc_id, pos + unnest(generate_series(0, 39)) AS cpos FROM cov),
        |ch AS (SELECT doc_id, unnest(generate_series(1, length(norm))) AS cpos FROM t),
        |keep AS (SELECT ch.doc_id, ch.cpos FROM ch ANTI JOIN cc USING (doc_id, cpos)),
        |r AS (SELECT k.doc_id, string_agg(substr(t.norm, CAST(k.cpos AS INT), 1), '' ORDER BY k.cpos) AS clean_text
        |  FROM keep k JOIN t USING (doc_id) GROUP BY k.doc_id)
        |SELECT t.doc_id, coalesce(r.clean_text, '') AS clean_text
        |FROM t LEFT JOIN r USING (doc_id)""".stripMargin)),

    // winnowed substring dials, ORACLE-CHECKED (round 9, the q156
    // pattern — replaces round 7's rows-only twins). q85/q88 verify the
    // winnowWindow=1 dial; these run the winnowed (w=4) 100 TB dial, whose
    // sampled fingerprints are engine-specific — so the GATE materializes
    // the winnowed output to a fixed parquet and both engines measure it
    // against their own exact pair sets at minLen=40 and minLen+w-1=43.
    // The winnowing guarantee (every >=43-char shared run is caught) and
    // verification soundness (every emitted pair really shares a 40-char
    // window) become visible, hash-checked columns: shared43=1 ⇒
    // prod_caught=1 and prod_caught=1 ⇒ shared40=1 on every row.
    Slot("q92_substring_dup_prod", run = (s, dir) => {
      val docs = tbl(s, dir, "documents")
      Dedup.substringDupPairs(docs, "doc_id", "text", minLen = 40, winnowWindow = 4)
        .write.mode("overwrite").parquet(substrProdPath)
      val prod = s.read.parquet(substrProdPath)
        .select(col("id_a"), col("id_b")).withColumn("__p", lit(1))
      val exact40 = Dedup.substringDupPairs(docs, "doc_id", "text", minLen = 40)
        .withColumn("__e40", lit(1))
      val exact43 = Dedup.substringDupPairs(docs, "doc_id", "text", minLen = 43)
        .withColumn("__e43", lit(1))
      exact40.join(exact43, Seq("id_a", "id_b"), "full")
        .join(prod, Seq("id_a", "id_b"), "full")
        .select(col("id_a"), col("id_b"),
          coalesce(col("__e40"), lit(0)).cast("long").as("shared40"),
          coalesce(col("__e43"), lit(0)).cast("long").as("shared43"),
          coalesce(col("__p"), lit(0)).cast("long").as("prod_caught"))
    },
      // q85's window join at BOTH 40 and 43 chars gives DuckDB its own exact
      // pair sets; the winnowed-dial pairs are the parquet Spark materialized.
      // Flags over the union — winnowing guarantee and verification soundness
      // are hash-checked data
      oracle = Some(s"""WITH t AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm FROM documents),
        |w40 AS (SELECT doc_id, unnest(list_distinct(CASE WHEN length(norm) <= 40 THEN [norm]
        |  ELSE list_transform(generate_series(1, length(norm) - 39), i -> substr(norm, i, 40)) END)) AS win FROM t),
        |e40 AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM w40 a JOIN w40 b ON a.win = b.win AND a.doc_id < b.doc_id),
        |w43 AS (SELECT doc_id, unnest(list_distinct(CASE WHEN length(norm) <= 43 THEN [norm]
        |  ELSE list_transform(generate_series(1, length(norm) - 42), i -> substr(norm, i, 43)) END)) AS win FROM t),
        |e43 AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM w43 a JOIN w43 b ON a.win = b.win AND a.doc_id < b.doc_id),
        |prod AS (SELECT DISTINCT id_a, id_b FROM read_parquet('$substrProdPath/*.parquet')),
        |u AS (SELECT id_a, id_b FROM e40 UNION SELECT id_a, id_b FROM e43
        |  UNION SELECT id_a, id_b FROM prod)
        |SELECT u.id_a, u.id_b,
        |  CASE WHEN x40.id_a IS NOT NULL THEN 1 ELSE 0 END AS shared40,
        |  CASE WHEN x43.id_a IS NOT NULL THEN 1 ELSE 0 END AS shared43,
        |  CASE WHEN pp.id_a IS NOT NULL THEN 1 ELSE 0 END AS prod_caught
        |FROM u
        |LEFT JOIN e40 x40 ON u.id_a = x40.id_a AND u.id_b = x40.id_b
        |LEFT JOIN e43 x43 ON u.id_a = x43.id_a AND u.id_b = x43.id_b
        |LEFT JOIN prod pp ON u.id_a = pp.id_a AND u.id_b = pp.id_b""".stripMargin)),

    // span-REMOVAL gate: clean-text lengths under the winnowed dial must
    // sit between the exact minLen=40 cut (cuts most) and the exact
    // minLen=43 cut (the winnowing guarantee's floor) — the sandwich is an
    // oracle-checked column, per doc
    Slot("q93_remove_substrings_prod", run = (s, dir) => {
      val docs = tbl(s, dir, "documents")
      Dedup.removeSharedSubstrings(docs, "doc_id", "text", minLen = 40, winnowWindow = 4)
        .write.mode("overwrite").parquet(removeProdPath)
      val prod = s.read.parquet(removeProdPath)
        .select(col("doc_id"), length(col("clean_text")).cast("long").as("len_prod"))
      val e40 = Dedup.removeSharedSubstrings(docs, "doc_id", "text", minLen = 40)
        .select(col("doc_id"), length(col("clean_text")).cast("long").as("len_exact40"))
      val e43 = Dedup.removeSharedSubstrings(docs, "doc_id", "text", minLen = 43)
        .select(col("doc_id"), length(col("clean_text")).cast("long").as("len_exact43"))
      e40.join(prod, Seq("doc_id")).join(e43, Seq("doc_id"))
        .select(col("doc_id"), col("len_exact40"), col("len_prod"), col("len_exact43"),
          (col("len_exact40") <= col("len_prod") && col("len_prod") <= col("len_exact43"))
            .cast("long").as("sandwich_ok"))
    },
      // q88's covered-position arithmetic at 40 and 43 chars: clean length =
      // norm length minus covered positions — no string rebuild needed for
      // the length sandwich; prod lengths come from the materialized parquet
      oracle = Some(s"""WITH t AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm FROM documents),
        |p40 AS (SELECT doc_id, unnest(CASE WHEN length(norm) >= 40
        |  THEN generate_series(1, length(norm) - 39) ELSE []::BIGINT[] END) AS pos FROM t),
        |w40 AS (SELECT p.doc_id, p.pos, substr(t.norm, CAST(p.pos AS INT), 40) AS win
        |  FROM p40 p JOIN t USING (doc_id)),
        |d40 AS (SELECT win FROM (SELECT win, count(DISTINCT doc_id) AS n FROM w40 GROUP BY win) WHERE n > 1),
        |cov40 AS (SELECT DISTINCT w.doc_id, w.pos FROM w40 w JOIN d40 USING (win)),
        |cc40 AS (SELECT DISTINCT doc_id, pos + unnest(generate_series(0, 39)) AS cpos FROM cov40),
        |n40 AS (SELECT doc_id, count(*) AS nc FROM cc40 GROUP BY doc_id),
        |p43 AS (SELECT doc_id, unnest(CASE WHEN length(norm) >= 43
        |  THEN generate_series(1, length(norm) - 42) ELSE []::BIGINT[] END) AS pos FROM t),
        |w43 AS (SELECT p.doc_id, p.pos, substr(t.norm, CAST(p.pos AS INT), 43) AS win
        |  FROM p43 p JOIN t USING (doc_id)),
        |d43 AS (SELECT win FROM (SELECT win, count(DISTINCT doc_id) AS n FROM w43 GROUP BY win) WHERE n > 1),
        |cov43 AS (SELECT DISTINCT w.doc_id, w.pos FROM w43 w JOIN d43 USING (win)),
        |cc43 AS (SELECT DISTINCT doc_id, pos + unnest(generate_series(0, 42)) AS cpos FROM cov43),
        |n43 AS (SELECT doc_id, count(*) AS nc FROM cc43 GROUP BY doc_id),
        |prod AS (SELECT doc_id, length(clean_text) AS len_prod
        |  FROM read_parquet('$removeProdPath/*.parquet'))
        |SELECT t.doc_id,
        |  CAST(length(t.norm) - coalesce(n40.nc, 0) AS BIGINT) AS len_exact40,
        |  CAST(p.len_prod AS BIGINT) AS len_prod,
        |  CAST(length(t.norm) - coalesce(n43.nc, 0) AS BIGINT) AS len_exact43,
        |  CASE WHEN length(t.norm) - coalesce(n40.nc, 0) <= p.len_prod
        |    AND p.len_prod <= length(t.norm) - coalesce(n43.nc, 0) THEN 1 ELSE 0 END AS sandwich_ok
        |FROM t JOIN prod p USING (doc_id)
        |LEFT JOIN n40 USING (doc_id) LEFT JOIN n43 USING (doc_id)""".stripMargin)),

    // dedup audit: cluster-size histogram over q29's chained-replica corpus
    // (expected shape: mostly size-3 chains + singletons) — the report that
    // sizes dedup dials BEFORE any destructive pass
    Slot("q110_dedup_histogram", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 5 === 0)
      Dedup.clusterSizeHistogram(driftChain(d), "doc_id", "text",
        threshold = 0.5, bands = Dedup.recallExactBands(0.5))
    },
      // q29's recursive-CTE closure, relabeled to component = min reachable id
      // (incl. self), then two aggregates: per-component size → histogram
      oracle = Some("""WITH RECURSIVE d AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        |corpus AS (
        |  SELECT doc_id, text FROM d
        |  UNION ALL SELECT doc_id + 1000000, text || ' chain link one two three' FROM d
        |  UNION ALL SELECT doc_id + 2000000, text || ' chain link one two three more drift four five six' FROM d),
        |t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM corpus),
        |s AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |  ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sh FROM t),
        |e0 AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM s a JOIN s b
        |  ON a.doc_id <> b.doc_id
        |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        |reach AS (SELECT src, dst FROM e0
        |  UNION SELECT r.src, e.dst FROM reach r JOIN e0 e ON r.dst = e.src WHERE e.dst <> r.src),
        |lab AS (SELECT src AS id, min(dst) AS mn FROM reach GROUP BY src),
        |comp AS (SELECT c.doc_id,
        |  CASE WHEN lab.id IS NULL THEN c.doc_id ELSE least(c.doc_id, lab.mn) END AS comp
        |  FROM corpus c LEFT JOIN lab ON c.doc_id = lab.id),
        |sz AS (SELECT comp, CAST(count(*) AS BIGINT) AS cluster_size FROM comp GROUP BY comp)
        |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
        |FROM sz GROUP BY cluster_size""".stripMargin)),

    // soft dedup: every doc kept, weighted 1/cluster_size — duplicate
    // clusters contribute one doc's worth of training mass (non-destructive
    // alternative to q29's drop)
    Slot("q111_soft_dedup", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 5 === 0)
      Dedup.softDedupWeights(driftChain(d), "doc_id", "text",
        threshold = 0.5, bands = Dedup.recallExactBands(0.5))
    },
      // q110's closure + per-component sizes, joined back per doc
      oracle = Some("""WITH RECURSIVE d AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        |corpus AS (
        |  SELECT doc_id, text FROM d
        |  UNION ALL SELECT doc_id + 1000000, text || ' chain link one two three' FROM d
        |  UNION ALL SELECT doc_id + 2000000, text || ' chain link one two three more drift four five six' FROM d),
        |t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM corpus),
        |s AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |  ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sh FROM t),
        |e0 AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM s a JOIN s b
        |  ON a.doc_id <> b.doc_id
        |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        |reach AS (SELECT src, dst FROM e0
        |  UNION SELECT r.src, e.dst FROM reach r JOIN e0 e ON r.dst = e.src WHERE e.dst <> r.src),
        |lab AS (SELECT src AS id, min(dst) AS mn FROM reach GROUP BY src),
        |comp AS (SELECT c.doc_id,
        |  CASE WHEN lab.id IS NULL THEN c.doc_id ELSE least(c.doc_id, lab.mn) END AS comp
        |  FROM corpus c LEFT JOIN lab ON c.doc_id = lab.id),
        |sz AS (SELECT comp, CAST(count(*) AS BIGINT) AS cluster_size FROM comp GROUP BY comp)
        |SELECT comp.doc_id, sz.cluster_size, round(1.0 / sz.cluster_size, 6) AS weight
        |FROM comp JOIN sz USING (comp)""".stripMargin)),

    // incremental decontamination: eval 8-grams persisted once as an
    // md5-key store; each arriving batch checks against it — the store
    // streams once, only the batch is shingled
    Slot("q113_decontaminate_incremental", run = (s, dir) => {
      val d     = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val store = Table("graft_q113_gram_store")
      IncrementalDedup.buildGramStore(s, d.filter(col("doc_id") % 5 === 0), "text", store)
      IncrementalDedup.contaminatedIncremental(
        s, d.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", store)
    },
      // q65's gram construction with the batch/eval split made explicit
      oracle = Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |  ELSE list_distinct(list_transform(generate_series(1, len(toks) - 7),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' ||
        |         toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7])) END AS gs FROM t),
        |eg AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 5 = 0),
        |tg AS (SELECT doc_id, unnest(gs) AS gram FROM g WHERE doc_id % 5 <> 0)
        |SELECT DISTINCT tg.doc_id FROM tg JOIN eg USING (gram)""".stripMargin)),

    // similar-document search over text: top-2 shingle-Jaccard neighbors
    // per query doc at recall-exact banding — exact over the >=0.5
    // neighborhood (q29's chained corpus: each base doc's nearest is its
    // first replica)
    Slot("q114_similar_text_topk", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 5 === 0)
      Dedup.similarTextTopK(driftChain(d), d, "doc_id", "text",
        k = 2, threshold = 0.5, bands = Dedup.recallExactBands(0.5))
    },
      // exact all-pairs Jaccard ranked per query; WHERE filters before the
      // rank window on both engines, ties to the smaller corpus id
      oracle = Some("""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        |corpus AS (
        |  SELECT doc_id, text FROM d
        |  UNION ALL SELECT doc_id + 1000000, text || ' chain link one two three' FROM d
        |  UNION ALL SELECT doc_id + 2000000, text || ' chain link one two three more drift four five six' FROM d),
        |t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM corpus),
        |s AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |  ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sh FROM t),
        |q AS (SELECT doc_id AS query_id, sh FROM s WHERE doc_id < 1000000),
        |j AS (SELECT q.query_id, c.doc_id AS corpus_id,
        |  CAST(len(list_intersect(q.sh, c.sh)) AS DOUBLE) /
        |    (len(q.sh) + len(c.sh) - len(list_intersect(q.sh, c.sh))) AS jac
        |  FROM q JOIN s c ON c.doc_id <> q.query_id)
        |SELECT query_id, corpus_id, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.5
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY jac DESC, corpus_id ASC) <= 2""".stripMargin)),

    // intra-document exact line dedup (RefinedWeb's "remove duplicated lines
    // within a document") as a codegen'd per-row pass — the corpus-level
    // frequent-line remover is q75. documents.text is single-line by
    // construction, so lines are synthesized one-word-per-line plus a
    // repeated HEADER and a blank separator: real repeats, a blank line to
    // preserve, and a duplicate across the blank.
    Slot("q121_dedup_lines_intra", run = (s, dir) => {
      val d     = tbl(s, dir, "documents")
      val lined = concat(lit("HEADER\n"), regexp_replace(col("text"), " ", "\n"),
        lit("\n\nHEADER"))
      val deduped = TextFunctions.dedupLines(lined)
      d.select(col("doc_id"),
        deduped.as("text_dedup"),
        size(split(lined, "\n", -1)).cast("long").as("n_lines_in"),
        size(split(deduped, "\n", -1)).cast("long").as("n_lines_kept"))
    },
      // mirrors TextImpl.dedupLines: keep blank lines (space/tab/CR only) and
      // the FIRST occurrence of each non-blank line, join back in line order
      oracle = Some("""WITH lined AS (SELECT doc_id,
        |  'HEADER' || chr(10) || replace(text, ' ', chr(10)) ||
        |  chr(10) || chr(10) || 'HEADER' AS t FROM documents),
        |l AS (SELECT doc_id,
        |  unnest(string_split(t, chr(10))) AS line,
        |  generate_subscripts(string_split(t, chr(10)), 1) AS ord FROM lined),
        |k AS (SELECT doc_id, line, ord,
        |  (trim(line, ' ' || chr(9) || chr(13)) = ''
        |   OR row_number() OVER (PARTITION BY doc_id, line ORDER BY ord) = 1) AS keep
        |  FROM l)
        |SELECT doc_id,
        |  string_agg(line, chr(10) ORDER BY ord) FILTER (WHERE keep) AS text_dedup,
        |  CAST(count(*) AS BIGINT) AS n_lines_in,
        |  CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_lines_kept
        |FROM k GROUP BY doc_id""".stripMargin)),

    // split-leakage (train/test contamination) report: near-copies planted
    // across the corpus, hash-split 80/20, and every ≥0.6-Jaccard pair that
    // CROSSES the split surfaces with both labels — complete at the
    // recall-exact banding dial
    Slot("q142_split_leakage", run = (s, dir) => {
      val d   = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val dup = drifted(d, " extra trailing token")
      val all = Sampling.hashSplit(d.unionByName(dup), "doc_id",
        Seq(("train", 0.8), ("test", 1.0)))
      Dedup.splitLeakage(all, "doc_id", "text", "split", threshold = 0.6,
          bands = Dedup.recallExactBands(0.6))
        .select(col("id_a"), col("id_b"), col("split_a"), col("split_b"),
          round(col("jaccard"), 6).as("jaccard"))
    },
      // q12's exact all-pairs Jaccard + the q36 split mirror; crossing pairs only
      oracle = Some("""WITH base AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, regexp_split_to_array(trim(lower(text || ' extra trailing token')), '\s+') FROM documents),
        |lab AS (SELECT doc_id,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc'
        |       THEN 'train' ELSE 'test' END AS split FROM base),
        |s AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |  ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sh FROM base),
        |j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jac
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, la.split AS split_a, lb.split AS split_b,
        |  round(jac, 6) AS jaccard
        |FROM j JOIN lab la ON j.id_a = la.doc_id JOIN lab lb ON j.id_b = lb.doc_id
        |WHERE jac >= 0.6 AND la.split <> lb.split""".stripMargin),
      // round-12: the same recall-exact Σcluster² regime as q51_dedup_near
      // (see there); linear evidence: q142_split_leakage_prod.
      pinnedToOracleSf = true),

    // split-leakage at the LINEAR production dial (round 12 — q142's
    // 27×/decade twin): default r=4 banding + the hard 64-doc bucket cap
    // (the q40 lesson: the cap IS the linearity guarantee, O(N·cap·bands)).
    // The split-crossing join rides on already-enumerated pairs, so the
    // split dimension adds two label joins and nothing super-linear.
    // Completeness evidence is q142's recall-exact oracle at sf<=0.1.
    Slot("q142_split_leakage_prod", run = (s, dir) => {
      val d   = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val dup = drifted(d, " extra trailing token")
      val all = Sampling.hashSplit(d.unionByName(dup), "doc_id",
        Seq(("train", 0.8), ("test", 1.0)))
      Dedup.splitLeakage(all, "doc_id", "text", "split", threshold = 0.6,
          maxBucketSize = 64)
        .select(col("id_a"), col("id_b"), col("split_a"), col("split_b"),
          round(col("jaccard"), 6).as("jaccard"))
    },
      oracle = None),

    // verbatim answer-leak scan: eval "answers" are mid-document substrings
    // of every 97th doc; one Aho-Corasick automaton flags every doc
    // containing any of them — catches leaks below n-gram granularity
    Slot("q147_answer_leak", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val answers = d.where(col("doc_id") % 97 === 0)
        .select(substring(col("text"), 11, 20).as("ans"))
        .where(length(col("ans")) === 20)
        .distinct().collect().map(_.getString(0)).toSeq
      Dedup.contaminatedSubstring(d, "doc_id", "text", answers)
    },
      // mirrors contaminatedSubstring: distinct answers contained in the
      // lowercased text, flagged docs only
      oracle = Some("""WITH a AS (SELECT DISTINCT lower(substring(text, 11, 20)) AS ans
        |  FROM documents WHERE doc_id % 97 = 0 AND length(substring(text, 11, 20)) = 20)
        |SELECT d.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_hits
        |FROM documents d JOIN a ON position(a.ans IN lower(d.text)) > 0
        |GROUP BY d.doc_id""".stripMargin)),

    // CORPUS-level exact line dedup (round 9, CCNet-style): a line's
    // corpus-wide FIRST occurrence survives; blank lines are structure and
    // always kept. Lines synthesized as in q121 (one word per line, a
    // repeated HEADER, a blank separator), so cross-document repeats are
    // real: HEADER and every shared word survive only in their min-
    // (doc, ord) document. No window over the line key — first occurrence
    // is a combiner-friendly groupBy min (Dedup.dedupLinesCorpus), so a
    // billion-copy boilerplate line costs tasks-many shuffle rows; blanks
    // ride the same single-scan aggregate under per-row unique keys.
    Slot("q169_dedup_lines_corpus", run = (s, dir) => {
      val d     = tbl(s, dir, "documents")
      val lined = concat(lit("HEADER\n"), regexp_replace(col("text"), " ", "\n"),
        lit("\n\nHEADER"))
      Dedup.dedupLinesCorpus(d, "doc_id", lined)
    },
      // corpus-level first-occurrence line dedup: first = row_number over the
      // LINE partition ordered (doc_id, ord) — the declarative mirror of the
      // engine's groupBy-min; blanks (space/tab/CR trim, the q121 rule) are
      // always kept
      oracle = Some("""WITH lined AS (SELECT doc_id,
        |  'HEADER' || chr(10) || replace(text, ' ', chr(10)) ||
        |  chr(10) || chr(10) || 'HEADER' AS t FROM documents),
        |l AS (SELECT doc_id,
        |  unnest(string_split(t, chr(10))) AS line,
        |  generate_subscripts(string_split(t, chr(10)), 1) AS ord FROM lined),
        |f AS (SELECT doc_id, line, ord,
        |  trim(line, ' ' || chr(9) || chr(13)) = '' AS blank FROM l),
        |kept AS (
        |  SELECT doc_id, line, ord FROM (
        |    SELECT doc_id, line, ord,
        |      row_number() OVER (PARTITION BY line ORDER BY doc_id, ord) AS rn
        |    FROM f WHERE NOT blank) WHERE rn = 1
        |  UNION ALL
        |  SELECT doc_id, line, ord FROM f WHERE blank),
        |agg AS (SELECT doc_id,
        |  string_agg(line, chr(10) ORDER BY ord) AS text_dedup,
        |  CAST(count(*) AS BIGINT) AS n_lines_kept FROM kept GROUP BY doc_id),
        |cnt AS (SELECT doc_id,
        |  CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines_in FROM lined)
        |SELECT a.doc_id, a.text_dedup, c.n_lines_in, a.n_lines_kept
        |FROM agg a JOIN cnt c USING (doc_id)""".stripMargin)),

    // semantic decontamination (round 9): max cosine of every training row
    // against the broadcast test/benchmark set, flagged at the threshold —
    // the embedding analog of q65/q83/q87's n-gram gates, catching
    // PARAPHRASED benchmark leakage exact n-grams miss. One narrow corpus
    // pass; the per-row max collapses map-side before the unique-id
    // shuffle. The threshold cut is on the raw double (the index-order
    // cosine both engines share — the q168 precedent), rounding only the
    // reported score.
    Slot("q171_semantic_decontaminate", run = (s, dir) => {
      val e     = tbl(s, dir, "embeddings")
      val test  = e.filter(col("vec_id") < 30)
      val train = e.filter(col("vec_id") >= 30)
      Dedup.contaminatedEmbedding(train, test, "vec_id", "embedding",
          threshold = 0.35)
        .select(col("vec_id"), round(col("max_cos"), 6).as("max_cos"),
          col("contaminated").cast("long").as("contaminated"))
    },
      // max over the test set of the same index-order cosine; the threshold
      // cut compares the RAW double (q168 precedent), only the report rounds
      oracle = Some("""WITH t AS (SELECT embedding AS tv FROM embeddings WHERE vec_id < 30),
        |tr AS (SELECT vec_id, embedding AS ev FROM embeddings WHERE vec_id >= 30),
        |m AS (SELECT tr.vec_id, max(
        |  list_sum(list_transform(generate_series(1, len(tr.ev)),
        |    i -> CAST(tr.ev[i] AS DOUBLE) * CAST(t.tv[i] AS DOUBLE))) /
        |  (sqrt(list_sum(list_transform(generate_series(1, len(tr.ev)),
        |    i -> CAST(tr.ev[i] AS DOUBLE) * CAST(tr.ev[i] AS DOUBLE)))) *
        |   sqrt(list_sum(list_transform(generate_series(1, len(t.tv)),
        |    i -> CAST(t.tv[i] AS DOUBLE) * CAST(t.tv[i] AS DOUBLE)))))) AS mc
        |  FROM tr CROSS JOIN t GROUP BY tr.vec_id)
        |SELECT vec_id, round(mc, 6) AS max_cos,
        |  CAST(mc >= 0.35 AS BIGINT) AS contaminated FROM m""".stripMargin)),

    // CROSS-SOURCE DUPLICATION MATRIX (round 9): every 7th doc is planted
    // into a mirror feed; the matrix must recover exactly which source
    // pairs share content and how much — the between-feed audit run before
    // a destructive dedup decides which feed owns shared documents.
    Slot("q180_source_overlap", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"), col("source"))
      val mirrored = d.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"),
          concat(lit("m_"), col("source")).as("source"))
      Dedup.crossSourceOverlap(d.unionByName(mirrored), "text", "source")
    },
      // distinct (normalized text, source) pairs, then the shared count per
      // ordered source pair — the q10 normalization rule, mirrored
      oracle = Some("""WITH corpus AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text, 'm_' || source
        |    FROM documents WHERE doc_id % 7 = 0),
        |fp AS (SELECT DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS f, source
        |  FROM corpus)
        |SELECT a.source AS source_a, b.source AS source_b, CAST(count(*) AS BIGINT) AS n_shared
        |FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin)),
  )

  /** Text analysis and quality: statistics, language and quality scoring,
    * rules, tokenizers, packing, term statistics, heavy hitters.
    */
  private def textSlots: Seq[Slot] = Seq(
    Slot("q15_text_stats", run = (s, dir) =>
      tbl(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("char_len"),
        TextFunctions.fingerprint(col("text")).as("fp"),
      ),
      oracle = Some("""SELECT doc_id,
        |CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |CAST(length(text) AS BIGINT) AS char_len,
        |md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents""".stripMargin)),

    Slot("q16_lang_id", run = (s, dir) =>
      tbl(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.langId(col("text")).as("lang_id"),
      ),
      oracle = Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |len(list_filter(toks, x -> list_contains(['the','and','of','to','is','with'], x))) AS s_en,
        |len(list_filter(toks, x -> list_contains(['le','la','les','et','des','une'], x))) AS s_fr,
        |len(list_filter(toks, x -> list_contains(['der','die','das','und','nicht','ein'], x))) AS s_de,
        |len(list_filter(toks, x -> list_contains(['el','los','las','una','por','que'], x))) AS s_es
        |FROM t)
        |SELECT doc_id, CASE WHEN greatest(s_en, s_fr, s_de, s_es) = 0 THEN 'und'
        |WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
        |WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
        |WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
        |ELSE 'es' END AS lang_id FROM s""".stripMargin)),

    Slot("q17_quality_counts", run = (s, dir) => {
      val d = tbl(s, dir, "documents")
      d.select(
        col("doc_id"),
        TextFunctions.subwordCount(col("text")).cast("long").as("subword_cnt"),
        TextFunctions.punctCount(col("text")).cast("long").as("punct_cnt"),
        TextFunctions.stopwordCount(col("text")).cast("long").as("stopword_cnt"),
      )
    },
      oracle = Some("""SELECT doc_id,
        |CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS subword_cnt,
        |CAST(len(regexp_extract_all(text, '[.,;:!?''"()\[\]{}]')) AS BIGINT) AS punct_cnt,
        |CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |  x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], x))) AS BIGINT) AS stopword_cnt
        |FROM documents""".stripMargin)),

    // C4/Gopher-style quality gate: composite score + token budget, one
    // projection + filter, no shuffle (the 100 TB corpus-filter shape)
    Slot("q37_quality_filter", run = (s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("score"),
          // same one-pass stats struct the score uses — CSE folds them
          graft.functions.NativeFunctions.textStats(col("text"))
            .getField("tokens").cast("long").as("n_tokens"))
        .where(col("score") >= 0.7 && col("n_tokens").between(5, 10000))
        .select(col("doc_id"), round(col("score"), 2).as("score")),
      // mirrors TextFunctions.qualityScore term by term (same +/* order so the
      // FP sums are bit-identical); empty-text guards mirror the when() guards
      oracle = Some("""WITH t AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS clen,
        |  regexp_split_to_array(trim(text), '\s+') AS toks,
        |  regexp_split_to_array(trim(lower(text)), '\s+') AS ltoks FROM documents),
        |m AS (SELECT doc_id, clen, len(toks) AS ntoks,
        |  len(list_filter(ltoks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'], x))) AS stopc,
        |  len(regexp_extract_all(text, '[.,;:!?''"()\[\]{}]')) AS punctc,
        |  CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) AS meantok
        |  FROM t),
        |sc AS (SELECT doc_id, ntoks,
        |  (CASE WHEN clen >= 50 AND clen <= 100000 THEN 1.0 ELSE 0.0 END) * 0.4 +
        |  (CASE WHEN ntoks > 0 AND CAST(stopc AS DOUBLE) / ntoks > 0.05 THEN 1.0 ELSE 0.0 END) * 0.3 +
        |  (CASE WHEN clen = 0 OR CAST(punctc AS DOUBLE) / clen < 0.2 THEN 1.0 ELSE 0.0 END) * 0.15 +
        |  (CASE WHEN ntoks > 0 AND meantok BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.15 AS score
        |  FROM m)
        |SELECT doc_id, round(score, 2) AS score FROM sc
        |WHERE score >= 0.7 AND ntoks BETWEEN 5 AND 10000""".stripMargin)),

    // winnowing document fingerprints (SIGMOD'03): k-gram md5 hashes, sliding
    // min per window — passage-level copy detection whose fingerprint-equality
    // join replaces all-pairs comparison. md5-hex hashes are engine-neutral,
    // so the full fingerprint SET has a DuckDB oracle.
    Slot("q62_winnow_fingerprint", run = (s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextFunctions.winnowFingerprints(col("text"), k = 8, w = 4)).as("fp")),
      // mirrors TextFunctions.winnowFingerprints(k=8, w=4) gram by gram:
      // first-8-hex-of-md5 hashes, sliding min over 4, distinct, unnested
      oracle = Some("""WITH t AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm FROM documents),
        |g AS (SELECT doc_id, CASE WHEN length(norm) <= 8 THEN [norm]
        |  ELSE list_transform(generate_series(1, length(norm) - 7), i -> substr(norm, i, 8)) END AS grams FROM t),
        |h AS (SELECT doc_id, list_transform(grams, gr -> substring(md5(gr), 1, 8)) AS hs FROM g),
        |m AS (SELECT doc_id, CASE WHEN len(hs) <= 4 THEN [list_min(hs)]
        |  ELSE list_transform(generate_series(1, len(hs) - 3), j -> list_min(hs[j:j+3])) END AS mins FROM h)
        |SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM m""".stripMargin)),

    // Gopher-style repetition score: duplicate 3-shingle fraction per doc —
    // the boilerplate/degenerate-text filter signal
    Slot("q66_repetition", run = (s, dir) =>
      tbl(s, dir, "documents").select(col("doc_id"),
        round(TextFunctions.repeatedShingleFraction(col("text"), k = 3), 6)
          .as("dup_shingle_frac")),
      // same 3-shingle construction as q12's oracle; 1 - distinct/total
      oracle = Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |  ELSE list_transform(generate_series(1, len(toks) - 2),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS gs FROM t)
        |SELECT doc_id, round(1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs), 6)
        |  AS dup_shingle_frac FROM g""".stripMargin)),

    // greedy sequence packing: docs → fixed-token-budget packs per language,
    // id order — one shuffle + secondary sort + O(1)-state mapPartitions;
    // assignment is RNG-free so the DuckDB recursive-CTE oracle replays it
    Slot("q68_pack_greedy", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"),
        TextFunctions.langId(col("text")).as("lang_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      Packing.packGreedy(d, "lang_id", "doc_id", "n_tokens", budget = 200)
        .select(col("grp").as("lang_id"), col("id").as("doc_id"),
          col("tokens").as("n_tokens"), col("pack_id"))
    },
      // replays Packing.packGreedy(budget=200) row by row per language group:
      // recursive step walks rn → rn+1 carrying (pack_id, running token sum)
      oracle = Some("""WITH RECURSIVE t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
        |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |  FROM documents),
        |s AS (SELECT doc_id, n_tokens,
        |len(list_filter(toks, x -> list_contains(['the','and','of','to','is','with'], x))) AS s_en,
        |len(list_filter(toks, x -> list_contains(['le','la','les','et','des','une'], x))) AS s_fr,
        |len(list_filter(toks, x -> list_contains(['der','die','das','und','nicht','ein'], x))) AS s_de,
        |len(list_filter(toks, x -> list_contains(['el','los','las','una','por','que'], x))) AS s_es
        |FROM t),
        |l AS (SELECT doc_id, n_tokens, CASE WHEN greatest(s_en, s_fr, s_de, s_es) = 0 THEN 'und'
        |WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
        |WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
        |WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
        |ELSE 'es' END AS lang_id FROM s),
        |base AS (SELECT lang_id, doc_id, n_tokens,
        |  row_number() OVER (PARTITION BY lang_id ORDER BY doc_id) AS rn FROM l),
        |r AS (
        |  SELECT lang_id, doc_id, n_tokens, rn, CAST(0 AS BIGINT) AS pack_id,
        |    CAST(n_tokens AS BIGINT) AS acc
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.lang_id, b.doc_id, b.n_tokens, b.rn,
        |    CASE WHEN r.acc + b.n_tokens > 200 THEN r.pack_id + 1 ELSE r.pack_id END,
        |    CASE WHEN r.acc + b.n_tokens > 200 THEN CAST(b.n_tokens AS BIGINT)
        |         ELSE r.acc + b.n_tokens END
        |  FROM r JOIN base b ON b.lang_id = r.lang_id AND b.rn = r.rn + 1)
        |SELECT lang_id, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, pack_id FROM r""".stripMargin)),

    // PII scrub (C4-style pre-training cleanup): mask emails + phone-length
    // digit runs with stable tokens — two codegen'd regexp_replaces, one
    // projection, no shuffle; patterns chosen Java-regex/RE2-identical so
    // the DuckDB oracle matches span for span
    // The corpus text carries no PII shapes, so the query plants a
    // deterministic doc_id-derived specimen of every kind — email, phone,
    // IPv4, IPv6, SSN, and a card number from a fixed 4-cycle of two
    // Luhn-VALID and two Luhn-INVALID numbers — then scrubs. The oracle
    // builds the same text and states the expected masking by construction
    // (it knows which cycle members are valid), so the native Luhn gate is
    // hash-checked against an independently-derived answer: masking the
    // invalid look-alikes, or missing the valid ones, breaks the compare.
    Slot("q70_pii_mask", run = (s, dir) => {
      val cc = element_at(
        array(lit("4111 1111 1111 1111"), lit("5500-0000-0000-0004"),
          lit("4111 1111 1111 1112"), lit("1234-5678-9012-3456")),
        (col("doc_id") % 4).cast("int") + 1)
      val planted = concat(
        col("text"),
        lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
        lit(" tel +1415555"), col("doc_id").cast("string"),
        lit(" ip 10.0."), (col("doc_id") % 200).cast("string"),
        lit("."), (col("doc_id") % 100).cast("string"),
        lit(" v6 2001:db8:85a3:1:2:8a2e:370:7334"),
        lit(" ssn 123-45-"), (col("doc_id") % 9000 + 1000).cast("string"),
        lit(" card "), cc)
      tbl(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.maskPii(planted).as("masked"),
        coalesce(regexp_count(planted, lit(TextFunctions.EmailPattern)), lit(0))
          .cast("long").as("n_emails"),
        coalesce(regexp_count(planted, lit(TextFunctions.PhonePattern)), lit(0))
          .cast("long").as("n_phones"),
        graft.functions.NativeFunctions.luhnValid(cc).cast("long").as("n_cc_valid"),
      )
    },
      // mirrors TextFunctions.maskPii: email pass then phone pass, 'g' flag
      // for Spark's replace-all semantics
      // Masking order mirrors TextFunctions.maskPii exactly: email, card
      // (stated by construction from the known Luhn-valid cycle members —
      // DuckDB regex can't express the Luhn gate, so the oracle derives the
      // expected answer independently instead), IPv6, IPv4, SSN, phone.
      oracle = Some("""WITH c AS (
        |  SELECT doc_id, text,
        |    CASE CAST(doc_id % 4 AS INT)
        |      WHEN 0 THEN '4111 1111 1111 1111'
        |      WHEN 1 THEN '5500-0000-0000-0004'
        |      WHEN 2 THEN '4111 1111 1111 1112'
        |      ELSE '1234-5678-9012-3456' END AS cc,
        |    (doc_id % 4) IN (0, 1) AS ccv
        |  FROM documents
        |), p AS (
        |  SELECT doc_id, cc, ccv,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |      || ' tel +1415555' || CAST(doc_id AS VARCHAR)
        |      || ' ip 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR)
        |      || ' v6 2001:db8:85a3:1:2:8a2e:370:7334'
        |      || ' ssn 123-45-' || CAST(doc_id % 9000 + 1000 AS VARCHAR)
        |      || ' card ' || cc AS t
        |  FROM c
        |)
        |SELECT doc_id,
        |regexp_replace(
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        CASE WHEN ccv
        |          THEN replace(regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), cc, '<CC>')
        |          ELSE regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') END,
        |        '\b(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}\b|\b(?:[0-9A-Fa-f]{1,4}:){1,6}:(?:[0-9A-Fa-f]{1,4}:){0,5}[0-9A-Fa-f]{1,4}\b', '<IP>', 'g'),
        |      '\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9][0-9]|[0-9])\.){3}(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9][0-9]|[0-9])\b', '<IP>', 'g'),
        |    '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
        |  '\+?[0-9]{7,15}', '<PHONE>', 'g') AS masked,
        |COALESCE(CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT), 0) AS n_emails,
        |COALESCE(CAST(len(regexp_extract_all(t, '\+?[0-9]{7,15}')) AS BIGINT), 0) AS n_phones,
        |CAST(CASE WHEN ccv THEN 1 ELSE 0 END AS BIGINT) AS n_cc_valid
        |FROM p""".stripMargin)),

    // corpus term statistics (the exact-integer TF-IDF / inverted-index
    // core): per-(doc, term) tf joined with per-term document frequency —
    // two partial-aggregated shuffles on the keys they group by
    Slot("q76_term_stats", run = (s, dir) =>
      TermStats.termStats(tbl(s, dir, "documents"), "doc_id", "text", minDf = 2),
      // mirrors TermStats.termStats(minDf=2): whitespace tokens (blank docs
      // produce no terms, like TextFunctions.tokens), integer tf/df
      oracle = Some("""WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE trim(text) <> ''),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, term),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term HAVING count(*) >= 2)
        |SELECT tf.doc_id, tf.term, tf.tf, dfreq.df FROM tf JOIN dfreq USING (term)""".stripMargin)),

    // CCNet-style LM quality scoring: add-one bigram model trained on the
    // doc_id%3!=0 split, every doc scored against it — held-out docs
    // exercise the unseen-bigram path. Counts are exact integers; the
    // single log2 rounds at 3 decimals on both engines.
    Slot("q97_lm_score", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      LangModel.scoreBigram(d.filter(col("doc_id") % 3 =!= 0), d, "doc_id", "text")
    },
      // mirrors LangModel.scoreBigram: same tokenization as q86, parallel
      // list-slice unnest for bigrams, add-one smoothing (c12+1)/(c1+V),
      // -mean log2 rounded at 3
      oracle = Some("""WITH d AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
        |tr AS (SELECT toks FROM d WHERE doc_id % 3 <> 0),
        |u AS (SELECT unnest(toks) AS w FROM tr),
        |c1 AS (SELECT w, count(*) AS c1 FROM u GROUP BY w),
        |v AS (SELECT count(*) AS v FROM c1),
        |tb AS (SELECT unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2
        |  FROM tr WHERE len(toks) >= 2),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM tb GROUP BY w1, w2),
        |db AS (SELECT doc_id, len(toks) AS n_tokens,
        |  unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2
        |  FROM d WHERE len(toks) >= 2),
        |sc AS (SELECT db.doc_id, db.n_tokens, count(*) AS n_bigrams,
        |  sum(CASE WHEN c12.c12 IS NULL THEN 1 ELSE 0 END) AS n_unseen,
        |  sum(-log2((coalesce(c12.c12, 0) + 1)::DOUBLE / (coalesce(c1.c1, 0) + (SELECT v FROM v))::DOUBLE)) AS bits
        |  FROM db LEFT JOIN c1 ON db.w1 = c1.w
        |  LEFT JOIN c12 ON db.w1 = c12.w1 AND db.w2 = c12.w2
        |  GROUP BY db.doc_id, db.n_tokens)
        |SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(sc.n_unseen, 0) AS BIGINT) AS n_unseen,
        |  round(coalesce(sc.bits / sc.n_bigrams, 0.0), 3) AS bits_per_bigram
        |FROM d LEFT JOIN sc USING (doc_id)""".stripMargin)),

    // Gopher quality-rule battery (Rae et al. 2021 Appendix A): the full
    // published heuristic set as one codegen'd projection, with every rule
    // value surfaced (not just the verdict) — the curation-pipeline
    // pre-filter that runs at scan speed
    Slot("q98_quality_rules", run = (s, dir) =>
      QualityRules.gopherFlags(tbl(s, dir, "documents"), "doc_id", "text"),
      // mirrors QualityRules.gopherFlags rule by rule (same splits, same
      // non-overlapping replace-count for '...', same rounded values feeding
      // the verdict)
      oracle = Some("""WITH w AS (SELECT doc_id, text, trim(text) AS t,
        |  CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(trim(text), '\s+') END AS words,
        |  CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS lwords,
        |  list_transform(string_split(text, chr(10)), l -> trim(l)) AS lines
        |  FROM documents),
        |r AS (SELECT doc_id,
        |  CAST(len(words) AS BIGINT) AS n_words,
        |  round(CASE WHEN len(words) = 0 THEN 0.0
        |    ELSE coalesce(list_sum(list_transform(words, x -> length(x))), 0)::DOUBLE / len(words) END, 4) AS mean_word_len,
        |  round(CASE WHEN len(words) = 0 THEN 0.0 ELSE (
        |    (length(t) - length(replace(t, '#', ''))) +
        |    (length(t) - length(replace(t, '...', ''))) / 3 +
        |    (length(t) - length(replace(t, '…', '')))
        |  )::DOUBLE / len(words) END, 4) AS symbol_ratio,
        |  round(len(list_filter(lines, l -> l LIKE '•%' OR l LIKE '*%' OR l LIKE '-%'))::DOUBLE
        |    / len(lines), 4) AS bullet_line_frac,
        |  round(len(list_filter(lines, l -> l LIKE '%...' OR l LIKE '%…'))::DOUBLE
        |    / len(lines), 4) AS ellipsis_line_frac,
        |  round(CASE WHEN len(words) = 0 THEN 0.0
        |    ELSE len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE / len(words) END, 4) AS alpha_word_frac,
        |  CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
        |    s -> list_contains(lwords, s))) AS BIGINT) AS n_required_stopwords
        |  FROM w)
        |SELECT *, (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
        |  AND symbol_ratio <= 0.1 AND bullet_line_frac <= 0.9 AND ellipsis_line_frac <= 0.3
        |  AND alpha_word_frac >= 0.8 AND n_required_stopwords >= 2) AS passes
        |FROM r""".stripMargin)),

    // Gopher repetition battery (A1.2): duplicate-line fractions + top
    // n-gram char fractions, n-gram stats via distributed (doc, gram)
    // aggregation — never a per-row quadratic pass
    Slot("q99_repetition_rules", run = (s, dir) =>
      Repetition.gopherRepetition(tbl(s, dir, "documents"), "doc_id", "text"),
      // mirrors Repetition.gopherRepetition: same line split, same q12-style
      // normalized word n-grams, top gram ties to the smallest gram
      oracle = Some("""WITH d AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
        |  list_transform(string_split(text, chr(10)), l -> trim(l)) AS lines FROM documents),
        |base AS (SELECT doc_id,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  round(len(list_filter(lines, l -> len(list_filter(lines, x -> x = l)) > 1))::DOUBLE
        |    / len(lines), 4) AS dup_line_frac,
        |  round(CASE WHEN list_sum(list_transform(lines, l -> length(l))) = 0 THEN 0.0
        |    ELSE coalesce(list_sum(list_transform(
        |      list_filter(lines, l -> len(list_filter(lines, x -> x = l)) > 1),
        |      l -> length(l))), 0)::DOUBLE
        |      / list_sum(list_transform(lines, l -> length(l))) END, 4) AS dup_line_char_frac,
        |  length(array_to_string(toks, ' ')) AS chars, toks FROM d),
        |g2 AS (SELECT doc_id, chars, unnest(list_transform(generate_series(1, len(toks) - 1),
        |  i -> toks[i] || ' ' || toks[i+1])) AS gram FROM base WHERE len(toks) >= 2),
        |t2 AS (SELECT doc_id, round(count(*) * length(gram)::DOUBLE / chars, 4) AS top2gram_frac
        |  FROM g2 GROUP BY doc_id, chars, gram
        |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, gram ASC) = 1),
        |g3 AS (SELECT doc_id, chars, unnest(list_transform(generate_series(1, len(toks) - 2),
        |  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram FROM base WHERE len(toks) >= 3),
        |t3 AS (SELECT doc_id, round(count(*) * length(gram)::DOUBLE / chars, 4) AS top3gram_frac
        |  FROM g3 GROUP BY doc_id, chars, gram
        |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, gram ASC) = 1),
        |g4 AS (SELECT doc_id, chars, unnest(list_transform(generate_series(1, len(toks) - 3),
        |  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS gram
        |  FROM base WHERE len(toks) >= 4),
        |t4 AS (SELECT doc_id, round(count(*) * length(gram)::DOUBLE / chars, 4) AS top4gram_frac
        |  FROM g4 GROUP BY doc_id, chars, gram
        |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, gram ASC) = 1)
        |SELECT b.doc_id, b.n_lines, b.dup_line_frac, b.dup_line_char_frac,
        |  coalesce(t2.top2gram_frac, 0.0) AS top2gram_frac,
        |  coalesce(t3.top3gram_frac, 0.0) AS top3gram_frac,
        |  coalesce(t4.top4gram_frac, 0.0) AS top4gram_frac,
        |  (b.dup_line_frac <= 0.30 AND b.dup_line_char_frac <= 0.20
        |   AND coalesce(t2.top2gram_frac, 0.0) <= 0.20
        |   AND coalesce(t3.top3gram_frac, 0.0) <= 0.18
        |   AND coalesce(t4.top4gram_frac, 0.0) <= 0.16) AS passes
        |FROM base b LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
        |LEFT JOIN t4 USING (doc_id)""".stripMargin)),

    // context-window chunking: 200-char windows at stride 150 (50 chars of
    // overlap) — pure map-side Generate, no shuffle, text never exchanged
    Slot("q101_chunk_chars", run = (s, dir) =>
      Chunking.chunkChars(tbl(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", chunkSize = 200, stride = 150),
      // chunk starts 0,150,300,… while start < length; greatest(len,1) keeps
      // blank docs at exactly one (empty) chunk on both engines
      oracle = Some("""WITH e AS (SELECT doc_id, text,
        |  unnest(range(0, (greatest(length(text), 1) - 1) // 150 + 1)) AS chunk_id
        |  FROM documents)
        |SELECT doc_id, chunk_id,
        |  substring(text, CAST(chunk_id * 150 + 1 AS INT), 200) AS chunk
        |FROM e""".stripMargin)),

    // WET-style HTML → text extraction over a deterministically constructed
    // html column (fixtures carry no markup; the construction is mirrored
    // verbatim in the oracle, the EXTRACTION is the operator under test)
    Slot("q102_html_extract", run = (s, dir) => {
      val d = tbl(s, dir, "documents")
      val html = concat(
        lit("<html><head><style>p{color:red}</style></head><body><h1>"), col("source"),
        lit("</h1><p id=\"d"), col("doc_id"), lit("\">"), col("text"),
        lit("</p><script type=\"text/javascript\">var x = "), col("doc_id"),
        lit(";</script><br><b>tail &amp; "), col("lang"), lit(" &lt;ok&gt;</b></body></html>"))
      d.select(col("doc_id"),
        graft.functions.TextFunctions.htmlToText(html).as("clean_text"))
    },
      // mirrors TextImpl.htmlToText step for step (all RE2-compatible):
      // script/style blocks, then tags, then the six entities (amp last),
      // then [ \t\n\r\f]+ collapse + trim
      oracle = Some("""WITH h AS (SELECT doc_id,
        |  '<html><head><style>p{color:red}</style></head><body><h1>' || source ||
        |  '</h1><p id="d' || doc_id || '">' || text ||
        |  '</p><script type="text/javascript">var x = ' || doc_id ||
        |  ';</script><br><b>tail &amp; ' || lang || ' &lt;ok&gt;</b></body></html>' AS html
        |  FROM documents)
        |SELECT doc_id, trim(regexp_replace(
        |  replace(replace(replace(replace(replace(replace(
        |    regexp_replace(regexp_replace(regexp_replace(html,
        |      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |      '<[^>]*>', ' ', 'g'),
        |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
        |    '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
        |  '[ \t\n\r\f]+', ' ', 'g')) AS clean_text
        |FROM h""".stripMargin)),

    // URL normalization for URL-level dedup (CCNet/RefinedWeb first pass):
    // host/domain extraction + tracking-param strip as codegen'd scalar
    // expressions over a deterministically constructed url column
    Slot("q105_url_normalize", run = (s, dir) => {
      import graft.functions.UrlFunctions._
      val d = tbl(s, dir, "documents")
      val url = concat(
        lit("HTTPS://WWW."), upper(col("source")), lit(".Example.COM/cat"),
        col("doc_id") % 7, lit("/item/"), col("doc_id"),
        lit("?utm_source=news&id="), col("doc_id"),
        lit("&utm_medium=email&ref=abc&page=2#frag"))
      d.select(col("doc_id"), urlHost(url).as("host"),
        urlDomain(url).as("domain"), urlNormalize(url).as("url_norm"))
    },
      // mirrors UrlImpl: host/path/query via anchored RE2 extracts, tracking
      // params (utm_*/ref/fbclid/gclid keys) filtered with order preserved,
      // fragment dropped, scheme+host lowercased
      oracle = Some("""WITH u AS (SELECT doc_id,
        |  'HTTPS://WWW.' || upper(source) || '.Example.COM/cat' || (doc_id % 7) ||
        |  '/item/' || doc_id || '?utm_source=news&id=' || doc_id ||
        |  '&utm_medium=email&ref=abc&page=2#frag' AS url FROM documents),
        |p AS (SELECT doc_id,
        |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS host,
        |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
        |  regexp_extract(url, '\?([^#]*)', 1) AS q FROM u),
        |f AS (SELECT doc_id, scheme, host, path,
        |  array_to_string(list_filter(string_split(q, '&'),
        |    x -> x != '' AND NOT regexp_matches(x, '^(utm_[^=&]*|ref|fbclid|gclid)(=|$)')),
        |    '&') AS fq FROM p)
        |SELECT doc_id, host, regexp_extract(host, '[^.]+\.[^.]+$') AS domain,
        |  scheme || '://' || host || path ||
        |  CASE WHEN fq = '' THEN '' ELSE '?' || fq END AS url_norm
        |FROM f""".stripMargin)),

    // tokenizer-coverage check: per-doc OOV rate against the corpus's own
    // top-20 vocabulary (fixture dictionary is 31 terms, so coverage is
    // genuinely partial); scoring is one codegen'd scan, no shuffle
    Slot("q109_vocab_oov", run = (s, dir) =>
      TermStats.oovStats(tbl(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", vocabSize = 20),
      // q76-style tokenization; vocab rank = (tf desc, term asc), same
      // total order as TermStats.vocabulary; blank docs keep 0/0 → 0.0
      oracle = Some("""WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE trim(text) <> ''),
        |v AS (SELECT term FROM toks GROUP BY term
        |  QUALIFY row_number() OVER (ORDER BY count(*) DESC, term ASC) <= 20),
        |o AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov
        |  FROM toks t LEFT JOIN v ON t.term = v.term GROUP BY t.doc_id)
        |SELECT d.doc_id, coalesce(o.n, 0) AS n_tokens, coalesce(o.oov, 0) AS oov_count,
        |  round(CASE WHEN coalesce(o.n, 0) = 0 THEN 0.0
        |    ELSE o.oov::DOUBLE / o.n END, 4) AS oov_frac
        |FROM documents d LEFT JOIN o USING (doc_id)""".stripMargin)),

    // the composed curation pipeline as one call: exact dedup → token
    // bounds → decontamination vs the eval split → temperature mixture;
    // output is the per-stage funnel report a curation run logs
    Slot("q117_curation_pipeline", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      Curate.funnel(Curate.pipeline(
        corpus = d.filter(col("doc_id") % 5 =!= 0),
        evalDf = d.filter(col("doc_id") % 5 === 0),
        idCol = "doc_id", textCol = "text", langCol = "lang",
        minTokens = 25, maxTokens = 80))
    },
      // every stage mirrors its standalone oracle: q10's fingerprint dedup,
      // tokenCount bounds, q65's 8-gram any-hit, q107's temperature rates
      // (recomputed over the decontaminated survivors)
      oracle = Some("""WITH input AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 <> 0),
        |dd AS (SELECT * FROM input QUALIFY row_number() OVER (
        |  PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g') ORDER BY doc_id) = 1),
        |q AS (SELECT * FROM dd WHERE
        |  (CASE WHEN trim(text) = '' THEN 0
        |   ELSE len(regexp_split_to_array(trim(text), '\s+')) END) BETWEEN 25 AND 80),
        |tq AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM q),
        |gq AS (SELECT doc_id, CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |  ELSE list_distinct(list_transform(generate_series(1, len(toks) - 7),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' ||
        |         toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7])) END AS gs FROM tq),
        |te AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents WHERE doc_id % 5 = 0),
        |ge AS (SELECT doc_id, CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |  ELSE list_distinct(list_transform(generate_series(1, len(toks) - 7),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' ||
        |         toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7])) END AS gs FROM te),
        |eg AS (SELECT DISTINCT unnest(gs) AS gram FROM ge),
        |hits AS (SELECT DISTINCT t.doc_id FROM (SELECT doc_id, unnest(gs) AS gram FROM gq) t
        |  JOIN eg USING (gram)),
        |clean AS (SELECT * FROM q WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
        |c AS (SELECT lang AS g, CAST(count(*) AS DOUBLE) AS n FROM clean GROUP BY lang),
        |w AS (SELECT g, pow(n / (SELECT sum(n) FROM c), -0.5) AS wt FROM c),
        |m AS (SELECT max(wt) AS mw FROM w),
        |r AS (SELECT g, round(wt / (SELECT mw FROM m), 6) AS rt FROM w),
        |mixed AS (SELECT clean.* FROM clean JOIN r ON clean.lang = r.g
        |  WHERE CASE WHEN rt >= 1.0 THEN TRUE
        |    ELSE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
        |      printf('%08x', CAST(trunc(rt * 4294967296.0) AS BIGINT)) END)
        |SELECT CAST(0 AS BIGINT) AS stage_no, 'input' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM input
        |UNION ALL SELECT CAST(1 AS BIGINT), 'exact_dedup', CAST(count(*) AS BIGINT) FROM dd
        |UNION ALL SELECT CAST(2 AS BIGINT), 'quality', CAST(count(*) AS BIGINT) FROM q
        |UNION ALL SELECT CAST(3 AS BIGINT), 'decontaminated', CAST(count(*) AS BIGINT) FROM clean
        |UNION ALL SELECT CAST(4 AS BIGINT), 'mixture', CAST(count(*) AS BIGINT) FROM mixed""".stripMargin)),

    // registered-domain blocklist filter (broadcast LEFT ANTI — zero corpus
    // shuffle) + per-domain doc/token stats, the standard web-crawl curation
    // gate. URLs synthesized from (source, doc_id) so domains are dense.
    Slot("q122_domain_filter", run = (s, dir) => {
      import s.implicits._
      val d   = tbl(s, dir, "documents")
      val url = concat(lit("https://a."), col("source"), col("doc_id") % 3,
        lit(".org/p/"), col("doc_id"))
      val withUrl   = d.withColumn("url", url)
      val blocklist = Seq("src00.org", "src21.org").toDF("domain")
      val kept      = WebFilter.blockDomainsTable(withUrl, col("url"), blocklist)
      WebFilter.domainStats(kept, col("url"), col("text"))
    },
      // mirrors WebFilter: domain = last two host labels of the synthesized
      // URL = source || (doc_id%3) || '.org'; blocklist NOT IN; token count is
      // the engine-wide whitespace rule
      oracle = Some("""WITH u AS (SELECT doc_id, text,
        |  lower(source) || (doc_id % 3) || '.org' AS domain FROM documents)
        |SELECT domain, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS n_tokens
        |FROM u WHERE domain NOT IN ('src00.org', 'src21.org')
        |GROUP BY domain""".stripMargin)),

    // text sanitization battery (control/zero-width strip, CRLF normalize,
    // whitespace collapse, blank-run cap, trim) — one codegen'd projection.
    // Noise is injected deterministically so every cleanup step fires.
    Slot("q123_sanitize", run = (s, dir) => {
      val d     = tbl(s, dir, "documents")
      val noisy = concat(lit("  "), col("text"),
        lit(" \u0001\r\n\n\n\ntail\u200Bend  "))
      val clean = TextFunctions.sanitizeText(noisy)
      d.select(col("doc_id"), clean.as("text_clean"),
        (length(noisy) - length(clean)).cast("long").as("n_chars_removed"))
    },
      // mirrors TextImpl.sanitize step for step (all RE2): strip control +
      // zero-width chars, CRLF/CR -> LF, collapse space/tab runs, drop the
      // trailing space before each LF, cap LF runs at two, trim spaces/LFs
      oracle = Some("""WITH noisy AS (SELECT doc_id,
        |  '  ' || text || ' ' || chr(1) || chr(13) || chr(10) || chr(10) ||
        |  chr(10) || chr(10) || 'tail' || chr(8203) || 'end  ' AS t FROM documents),
        |s1 AS (SELECT doc_id, t, regexp_replace(t,
        |  '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x{200B}-\x{200D}\x{FEFF}]', '', 'g') AS c FROM noisy),
        |s2 AS (SELECT doc_id, t,
        |  replace(replace(c, chr(13) || chr(10), chr(10)), chr(13), chr(10)) AS c FROM s1),
        |s3 AS (SELECT doc_id, t, regexp_replace(c, '[ \t]+', ' ', 'g') AS c FROM s2),
        |s4 AS (SELECT doc_id, t, replace(c, ' ' || chr(10), chr(10)) AS c FROM s3),
        |s5 AS (SELECT doc_id, t,
        |  regexp_replace(c, '\n{3,}', chr(10) || chr(10), 'g') AS c FROM s4),
        |f AS (SELECT doc_id, t, trim(c, ' ' || chr(10)) AS clean FROM s5)
        |SELECT doc_id, clean AS text_clean,
        |  CAST(length(t) - length(clean) AS BIGINT) AS n_chars_removed FROM f""".stripMargin)),

    // real BPE token accounting, ORACLE-CHECKED (round 9 — replaces the
    // rows-only check): merge LEARNING stays engine-side (the sequential
    // driver loop, oracle-tested in BpeSpec on the Sennrich corpus), but
    // the learned merge list is materialized to a fixed parquet and the
    // DuckDB oracle REPLAYS the encoding declaratively — a recursive CTE
    // applies the lowest-rank-present merge one occurrence at a time
    // (provably the same fixpoint as the codegen'd kernel's batch passes),
    // so every document's token count hash-checks. Trains on the
    // distributed word-count dictionary, persists the merge table,
    // re-loads it (the cross-session production shape: train once, meter
    // every later batch), and counts via the codegen'd kernel.
    Slot("q126_bpe_tokens", run = (s, dir) => {
      import s.implicits._
      val d     = tbl(s, dir, "documents")
      val model = Bpe.train(d, "text", numMerges = 200)
      val t     = Table("graft_q126_bpe_model")
      Bpe.saveModel(s, model, t)
      model.merges.zipWithIndex.map { case ((a, b), r) => (r, a, b) }
        .toDF("rank", "lhs", "rhs")
        .write.mode("overwrite").parquet(bpeModelPath)
      val loaded = Bpe.loadModel(s, t)
      d.select(col("doc_id"), loaded.countTokens(col("text")).as("n_bpe_tokens"))
    },
      // declarative REPLAY of the learned BPE merges: the recursive CTE
      // applies the lowest-rank pair PRESENT in each word, one leftmost
      // occurrence per step (each step shrinks the word by exactly one
      // symbol, so the final state per word is its min-length row). This is
      // the same fixpoint as BpeImpl.bpeWord's batch passes: merging one
      // occurrence of the lowest-rank pair cannot create any lower-rank pair
      // (a training-order merge product can only appear in LATER-rank pairs),
      // so the next step picks the same pair's next occurrence — i.e. the
      // batch pass, one splice at a time.
      oracle = Some(s"""WITH RECURSIVE mm AS (SELECT rank, lhs, rhs FROM read_parquet('$bpeModelPath/*.parquet')),
        |t AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS toks FROM documents),
        |wocc AS (SELECT doc_id, unnest(toks) AS word FROM t),
        |init AS (SELECT DISTINCT word FROM wocc),
        |enc(word, syms) AS (
        |  SELECT word, list_append(string_split(word, ''), '</w>') FROM init
        |  UNION ALL
        |  SELECT word, syms[1:p-1] || [lhs || rhs] || syms[p+2:] FROM (
        |    SELECT e.word, e.syms, m.lhs, m.rhs,
        |      list_position(list_transform(generate_series(1, len(e.syms) - 1),
        |        i -> e.syms[i] || ' ' || e.syms[i+1]), m.lhs || ' ' || m.rhs) AS p,
        |      row_number() OVER (PARTITION BY e.word ORDER BY m.rank) AS rn
        |    FROM enc e JOIN mm m ON list_contains(list_transform(generate_series(1, len(e.syms) - 1),
        |      i -> e.syms[i] || ' ' || e.syms[i+1]), m.lhs || ' ' || m.rhs)
        |  ) WHERE rn = 1
        |),
        |fin AS (SELECT word, len(syms) AS n FROM enc
        |  QUALIFY row_number() OVER (PARTITION BY word ORDER BY len(syms) ASC) = 1),
        |ds AS (SELECT w.doc_id, sum(c.n) AS s FROM wocc w JOIN fin c USING (word) GROUP BY w.doc_id)
        |SELECT t.doc_id, CAST(coalesce(ds.s, 0) AS BIGINT) AS n_bpe_tokens
        |FROM t LEFT JOIN ds USING (doc_id)""".stripMargin)),

    // trained quality classifier (CCNet-style fastText-filter analog):
    // logistic regression over hashed word n-grams, trained on the even
    // halves of (clean docs, docs with an injected spam tail), scored on
    // the held-out odd halves. Everything is deterministic (hash-ordered
    // sampling, fixed full-batch GD), and the synthetic signal is cleanly
    // separable, so the held-out predictions equal the true labels — a
    // FULL oracle for a trained-model pipeline.
    Slot("q127_quality_classifier", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val spamTail = " cheap pills click here winner casino free bonus prize" +
        " offer deal spin jackpot lotto scam promo cheap pills click here" +
        " winner casino free bonus prize offer deal spin jackpot lotto scam promo"
      val spam = drifted(d, spamTail)
      val model = QualityClassifier.train(
        d.filter(col("doc_id") % 2 === 0), spam.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", dims = 1024, samplePerClass = 500, iters = 300)
      val t = Table("graft_q127_qc_model")
      QualityClassifier.saveModel(s, model, t)
      val loaded = QualityClassifier.loadModel(s, t)
      d.unionByName(spam).filter(col("doc_id") % 2 =!= 0)
        .select(col("doc_id"),
          when(loaded.score(col("text")) > 0.5, 1L).otherwise(0L).as("pred_quality"))
    },
      // held-out predictions equal the construction labels (clean < 1000000,
      // spam-tailed >= 1000000) — the classifier's correctness IS the oracle
      oracle = Some("""SELECT doc_id, CAST(1 AS BIGINT) AS pred_quality FROM documents WHERE doc_id % 2 = 1
        |UNION ALL
        |SELECT doc_id + 1000000, CAST(0 AS BIGINT) FROM documents WHERE doc_id % 2 = 1""".stripMargin)),

    // CCNet's head/middle/tail selection (Wenzek et al. §4.3): bucket docs
    // by reference-LM perplexity within each group (source stands in for
    // CCNet's language) — exact terciles, deterministic via the doc_id
    // tie-break
    Slot("q128_ccnet_buckets", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
      // production dial: the reference LM is PRUNED to a fixed top-K
      // (CCNet's fixed-model shape) — both scoring joins broadcast, cost
      // is O(docs) regardless of the train split's size; the bounds sit
      // below the fixture's natural 31-token/~930-bigram model so the
      // deterministic top-K tie-break is itself oracle-checked
      LangModel.perplexityBuckets(d.filter(col("doc_id") % 3 =!= 0), d,
        "doc_id", "text", "source", maxVocab = 24, maxBigrams = 600)
    },
      // q97's scoring mirror + per-source ntile terciles (tie-break doc_id),
      // model pruned to top-24 unigrams / top-600 bigrams (count desc, key
      // asc tie-break) with V = pruned vocab size — mirrors the fixed-LM dial
      oracle = Some("""WITH d AS (SELECT doc_id, source, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
        |tr AS (SELECT toks FROM d WHERE doc_id % 3 <> 0),
        |u AS (SELECT unnest(toks) AS w FROM tr),
        |c1f AS (SELECT w, count(*) AS c1 FROM u GROUP BY w),
        |c1 AS (SELECT w, c1 FROM c1f QUALIFY row_number() OVER (ORDER BY c1 DESC, w) <= 24),
        |v AS (SELECT count(*) AS v FROM c1),
        |tb AS (SELECT unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2
        |  FROM tr WHERE len(toks) >= 2),
        |c12f AS (SELECT w1, w2, count(*) AS c12 FROM tb GROUP BY w1, w2),
        |c12 AS (SELECT w1, w2, c12 FROM c12f
        |  QUALIFY row_number() OVER (ORDER BY c12 DESC, w1, w2) <= 600),
        |db AS (SELECT doc_id, len(toks) AS n_tokens,
        |  unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2
        |  FROM d WHERE len(toks) >= 2),
        |sc AS (SELECT db.doc_id, count(*) AS n_bigrams,
        |  sum(-log2((coalesce(c12.c12, 0) + 1)::DOUBLE / (coalesce(c1.c1, 0) + (SELECT v FROM v))::DOUBLE)) AS bits
        |  FROM db LEFT JOIN c1 ON db.w1 = c1.w
        |  LEFT JOIN c12 ON db.w1 = c12.w1 AND db.w2 = c12.w2
        |  GROUP BY db.doc_id),
        |f AS (SELECT d.doc_id, d.source, CAST(len(d.toks) AS BIGINT) AS n_tokens,
        |  round(coalesce(sc.bits / sc.n_bigrams, 0.0), 3) AS bits_per_bigram
        |  FROM d LEFT JOIN sc USING (doc_id)),
        |n AS (SELECT *, ntile(3) OVER (PARTITION BY source
        |  ORDER BY bits_per_bigram, doc_id) AS nt FROM f)
        |SELECT doc_id, source, n_tokens, bits_per_bigram,
        |  CASE WHEN nt = 1 THEN 'head' WHEN nt = 3 THEN 'tail'
        |       ELSE 'middle' END AS ppl_bucket FROM n""".stripMargin)),

    // GPT-style concat-and-chunk context-window packing, mechanics dial:
    // token-LENGTH ids in doc_id order make every step (EOS append, global
    // offsets, window slicing, padding) SQL-mirrorable — a FULL oracle for
    // the two-phase prefix-sum + slice-shuffle machinery. q132 runs the
    // real dial (BPE ids, hash order).
    Slot("q131_pack_windows", run = (s, dir) => {
      val d = tbl(s, dir, "documents")
      val ids = transform(TextFunctions.tokens(col("text")),
        t => length(t).cast("int"))
      val withIds = d.select(col("doc_id"), ids.as("ids"))
      Packing.packContextWindows(withIds, "doc_id", "ids", windowSize = 64,
          orderKey = Some(col("doc_id")))
        .select(col("window_id"),
          concat_ws(" ", col("ids").cast("array<string>")).as("ids_str"),
          col("n_tokens"), col("n_docs"))
    },
      // mirrors packContextWindows at the mechanics dial: EOS=2 append,
      // doc_id-order running offsets, token→window by pos//64, pad-to-64
      // with 0 on the final partial window
      oracle = Some("""WITH d AS (SELECT doc_id,
        |  CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |       ELSE regexp_split_to_array(trim(text), '\s+') END AS toks FROM documents),
        |i AS (SELECT doc_id,
        |  list_concat(list_transform(toks, t -> CAST(length(t) AS INT)),
        |              [CAST(2 AS INT)]) AS ids FROM d),
        |c AS (SELECT doc_id, ids,
        |  coalesce(sum(len(ids)) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off FROM i),
        |t AS (SELECT doc_id, off + generate_subscripts(ids, 1) - 1 AS pos,
        |  unnest(ids) AS id FROM c),
        |w AS (SELECT CAST(pos // 64 AS BIGINT) AS window_id,
        |  string_agg(CAST(id AS VARCHAR), ' ' ORDER BY pos) AS real_str,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |  FROM t GROUP BY 1)
        |SELECT window_id,
        |  CASE WHEN n_tokens < 64 THEN real_str || repeat(' 0', CAST(64 - n_tokens AS INT))
        |       ELSE real_str END AS ids_str,
        |  n_tokens, n_docs FROM w""".stripMargin)),

    // the real dial, ORACLE-CHECKED (round 9): BPE token ids through the
    // hash-order global-shuffle packing. The order key is the md5-derived
    // hash (same global-mix semantics as the xxhash default, but
    // SQL-mirrorable — the q160 trick), and the learned merges materialize
    // to parquet, so DuckDB can replay the encode (recursive CTE), rebuild
    // the token stream in the same order, and window it — (window_id,
    // n_tokens, n_docs) hash-check end-to-end. The full id VALUES path is
    // pinned against a naive reference in PackWindowsSpec/BpeSpec.
    Slot("q132_pack_bpe_ids", run = (s, dir) => {
      import s.implicits._
      val d     = tbl(s, dir, "documents")
      val model = Bpe.train(d, "text", numMerges = 200)
      model.merges.zipWithIndex.map { case ((a, b), r) => (r, a, b) }
        .toDF("rank", "lhs", "rhs")
        .write.mode("overwrite").parquet(bpeModelPath132)
      val withIds = d.select(col("doc_id"), model.encodeIds(col("text")).as("ids"))
      Packing.packContextWindows(withIds, "doc_id", "ids", windowSize = 512,
          orderKey = Some(substring(md5(col("doc_id").cast("string")), 1, 8)))
        .select(col("window_id"), col("n_tokens"), col("n_docs"))
    },
      // same merge replay (q132's own persisted model), then the packing
      // mirror: per-doc stream length = BPE symbols + 1 EOS, exclusive
      // prefix sum in (md5-hash, doc_id) order, interval/window overlap
      // arithmetic for (n_tokens, n_docs) per 512-token window
      oracle = Some(s"""WITH RECURSIVE mm AS (SELECT rank, lhs, rhs FROM read_parquet('$bpeModelPath132/*.parquet')),
        |t AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |    ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS toks FROM documents),
        |wocc AS (SELECT doc_id, unnest(toks) AS word FROM t),
        |init AS (SELECT DISTINCT word FROM wocc),
        |enc(word, syms) AS (
        |  SELECT word, list_append(string_split(word, ''), '</w>') FROM init
        |  UNION ALL
        |  SELECT word, syms[1:p-1] || [lhs || rhs] || syms[p+2:] FROM (
        |    SELECT e.word, e.syms, m.lhs, m.rhs,
        |      list_position(list_transform(generate_series(1, len(e.syms) - 1),
        |        i -> e.syms[i] || ' ' || e.syms[i+1]), m.lhs || ' ' || m.rhs) AS p,
        |      row_number() OVER (PARTITION BY e.word ORDER BY m.rank) AS rn
        |    FROM enc e JOIN mm m ON list_contains(list_transform(generate_series(1, len(e.syms) - 1),
        |      i -> e.syms[i] || ' ' || e.syms[i+1]), m.lhs || ' ' || m.rhs)
        |  ) WHERE rn = 1
        |),
        |fin AS (SELECT word, len(syms) AS n FROM enc
        |  QUALIFY row_number() OVER (PARTITION BY word ORDER BY len(syms) ASC) = 1),
        |ds AS (SELECT t.doc_id, CAST(coalesce(s.s, 0) + 1 AS BIGINT) AS len FROM t
        |  LEFT JOIN (SELECT w.doc_id, sum(c.n) AS s FROM wocc w JOIN fin c USING (word)
        |    GROUP BY w.doc_id) s USING (doc_id)),
        |o AS (SELECT doc_id, len,
        |  CAST(coalesce(sum(len) OVER (ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off FROM ds),
        |w AS (SELECT doc_id, off, len,
        |  unnest(generate_series(off // 512, (off + len - 1) // 512)) AS window_id FROM o)
        |SELECT CAST(window_id AS BIGINT) AS window_id,
        |  CAST(sum(least((window_id + 1) * 512, off + len) - greatest(window_id * 512, off)) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM w GROUP BY window_id""".stripMargin)),

    // corpus snapshot diff (v1 vs synthetic v2: every 10th doc removed,
    // every 10th+1 edited, a block of new ids added) — the pre-promotion
    // regression report; fingerprints join, payloads never shuffle
    Slot("q134_corpus_diff", run = (s, dir) => {
      val v1 = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val v2 = v1.where(col("doc_id") % 10 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 10 === 1, concat(col("text"), lit(" edited v2")))
            .otherwise(col("text")))
        .unionByName(v1.where(col("doc_id") % 10 === 2)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      Profile.diff(v1, v2, "doc_id", "text")
    },
      // v2 construction mirrored, statuses derived in closed form: %10=0
      // removed, %10=1 changed (suffix edit), +1000000 block added, rest
      // unchanged
      oracle = Some("""WITH s AS (
        |  SELECT CASE WHEN doc_id % 10 = 0 THEN 'removed'
        |              WHEN doc_id % 10 = 1 THEN 'changed'
        |              ELSE 'unchanged' END AS status FROM documents
        |  UNION ALL
        |  SELECT 'added' FROM documents WHERE doc_id % 10 = 2)
        |SELECT status, count(*) AS n_docs FROM s GROUP BY status""".stripMargin)),

    // per-doc n-gram novelty: fraction of a doc's distinct 3-shingles seen
    // in no other document — the diversity complement of the dedup scores
    Slot("q146_ngram_novelty", run = (s, dir) =>
      TermStats.ngramNovelty(tbl(s, dir, "documents"), "doc_id", "text", k = 3),
      // q12's shingle mirror + document frequency; novel = gdf 1
      oracle = Some("""WITH base AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |  ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sh FROM base),
        |g AS (SELECT doc_id, unnest(sh) AS gram FROM s),
        |d AS (SELECT gram, count(*) AS gdf FROM g GROUP BY gram)
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN d.gdf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  round(CAST(sum(CASE WHEN d.gdf = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS novelty
        |FROM g JOIN d USING (gram) GROUP BY g.doc_id""".stripMargin)),

    // source coverage curve: sources ranked by token mass with cumulative
    // share — the Zipf-concentration report behind mixture design ("top 3
    // sources are 80% of the tokens"). Windows run over the AGGREGATED
    // frame (one row per source — bounded), never the corpus.
    Slot("q154_source_coverage", run = (s, dir) => {
      val d = tbl(s, dir, "documents")
      val agg = d.groupBy(col("source"))
        .agg(sum(TextFunctions.tokenCount(col("text")).cast("long")).as("n_tokens"))
      val w = Window.orderBy(col("n_tokens").desc, col("source").asc)
      val cum = sum(col("n_tokens")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      val total = sum(col("n_tokens")).over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
      agg.select(col("source"), col("n_tokens"),
        row_number().over(w).cast("long").as("rank"),
        round(cum.cast("double") / total, 6).as("cum_share"))
    },
      // same whitespace token rule; cumulative share over (tokens DESC, source)
      oracle = Some("""WITH a AS (SELECT source,
        |  CAST(sum(CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source)
        |SELECT source, n_tokens,
        |  CAST(row_number() OVER w AS BIGINT) AS rank,
        |  round(CAST(sum(n_tokens) OVER (w ROWS UNBOUNDED PRECEDING) AS DOUBLE) /
        |    (SELECT sum(n_tokens) FROM a), 6) AS cum_share
        |FROM a WINDOW w AS (ORDER BY n_tokens DESC, source ASC)""".stripMargin)),

    // HEAVY HITTERS, proven exact: single-pass Misra-Gries sketch (bounded
    // memory, map-side partial agg) finds candidates, an exact recount of
    // the <=capacity survivors ranks them, and the MG coverage bound
    // (kth count > N/(capacity+1)) is ASSERTED so the sketch path returns
    // the same answer a full-dictionary groupBy would — without ever
    // shuffling the dictionary. Oracle = DuckDB's exact top-k.
    Slot("q158_heavy_hitters", run = (s, dir) =>
      HeavyHitters.topKTerms(tbl(s, dir, "documents"), "text", k = 15, capacity = 4096),
      // exact top-k by the q76 token rule, deterministic (n DESC, term ASC)
      oracle = Some("""WITH toks AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE trim(text) <> '')
        |SELECT term, CAST(count(*) AS BIGINT) AS n FROM toks
        |GROUP BY term ORDER BY n DESC, term ASC LIMIT 15""".stripMargin)),

    // n-gram heavy hitters (round 9): the same Misra-Gries sketch + exact
    // recount + runtime coverage proof over the word-BIGRAM stream — the
    // phrase-mining op curation pipelines want (boilerplate templates,
    // common spans). Pure-codegen gram generation, no UDF; bigram
    // dictionaries are flatter than unigram ones, so capacity carries a
    // larger margin for the MG bound.
    // autoGrow OPT-IN here (round 12: the default flipped to false so an
    // explicit capacity stays a hard memory contract): this slot runs the
    // same dial across three decades of sweep SFs, and the MG coverage
    // relation is data-dependent — the sf10 sweep proved 16384 fails the
    // proof there and heals at 4× (SCALE.md round 11); completion across
    // decades beats the sizing contract for a bench slot.
    Slot("q162_ngram_hitters", run = (s, dir) =>
      HeavyHitters.topKNgrams(tbl(s, dir, "documents"), "text", n = 2, k = 10,
        capacity = 16384, autoGrow = true),
      // exact top-k word bigrams, occurrence-counted (one gram per adjacent
      // token pair, not per distinct-per-doc), same deterministic order
      oracle = Some("""WITH t AS (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents WHERE trim(text) <> ''),
        |g AS (SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
        |  i -> toks[i] || ' ' || toks[i+1])) AS term FROM t WHERE len(toks) >= 2)
        |SELECT term, CAST(count(*) AS BIGINT) AS n FROM g
        |GROUP BY term ORDER BY n DESC, term ASC LIMIT 10""".stripMargin)),

    // BM25 ranked retrieval (round 9): Lucene-variant scoring, probe-set
    // queries broadcast against the corpus inverted stats, bounded-heap
    // top-10 per query. Score is rounded BEFORE ranking so the order is
    // engine-deterministic (see TermStats.bm25TopK).
    Slot("q165_bm25", run = (s, dir) => {
      import s.implicits._
      val d = tbl(s, dir, "documents")
      val qs = Seq((1L, "spark window merge"), (2L, "customer filter join"),
        (3L, "hash table scan"), (4L, "stream batch dup"), (5L, "vector query order"))
        .toDF("qid", "qtext")
      TermStats.bm25TopK(d, "doc_id", "text", qs, "qid", "qtext", k = 10)
    },
      // the full BM25 pipeline declaratively: whitespace tokens, per-(doc,
      // term) tf, per-term df, N/avgdl over ALL docs (avgdl sums integers —
      // exact in double regardless of order), the Lucene idf variant, and
      // the same round-before-rank + id-DESC tie-break as the engine
      oracle = Some("""WITH q(query_id, qtext) AS (VALUES
        |  (1, 'spark window merge'), (2, 'customer filter join'),
        |  (3, 'hash table scan'), (4, 'stream batch dup'), (5, 'vector query order')),
        |qt AS (SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id,
        |  unnest(regexp_split_to_array(trim(lower(qtext)), '\s+')) AS term FROM q),
        |t AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks FROM documents),
        |dl AS (SELECT doc_id, len(toks) AS dl FROM t),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
        |tfc AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM (
        |  SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY 1, 2),
        |dfc AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tfc GROUP BY 1),
        |sc AS (SELECT qt.query_id, tfc.doc_id,
        |  round(sum(ln(1.0 + (st.n - dfc.df + 0.5) / (dfc.df + 0.5)) * tfc.tf * 2.2 /
        |    (tfc.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
        |  FROM tfc JOIN qt USING (term) JOIN dfc USING (term) JOIN dl USING (doc_id)
        |  CROSS JOIN st GROUP BY 1, 2)
        |SELECT query_id, CAST(rn AS BIGINT) AS rank, doc_id, score FROM (
        |  SELECT query_id, doc_id, score,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id DESC) AS rn
        |  FROM sc) WHERE rn <= 10""".stripMargin)),

    // per-group exact percentile trim (round 9): drop each source's
    // char-length tails outside (p5, p95] — the per-domain outlier gate
    // static bounds can't express. One shuffle by group; rank + count are
    // per-group windows with an id tie-break so the cut is deterministic.
    Slot("q174_percentile_trim", run = (s, dir) => {
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"), col("source"), length(col("text")).cast("long").as("len"))
      QualityRules.trimOutliersByGroup(d, Seq("source"), "len", "doc_id",
        pLow = 0.05, pHigh = 0.95)
    },
      // per-source rank window with the (len, doc_id) total order; the
      // floor/ceil cut mirrors the engine's double arithmetic exactly
      oracle = Some("""WITH v AS (SELECT doc_id, source, CAST(length(text) AS BIGINT) AS len FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY len, doc_id) AS rank,
        |  count(*) OVER (PARTITION BY source) AS n FROM v)
        |SELECT doc_id, source, len, CAST(rank AS BIGINT) AS rank, CAST(n AS BIGINT) AS n_in_group
        |FROM r WHERE rank > floor(0.05 * n) AND rank <= ceil(0.95 * n)""".stripMargin)),

    // per-group percentile trim, NO-SORT production dial — the
    // percentile_approx cutoff path q174's exact rank form defers to for
    // executor-unsortable groups: sketch aggregate + broadcast filter,
    // zero windows. Agreement with the exact form is hash-gated
    // cross-engine by q190 (and spec-pinned); this twin's job is the
    // slope.
    Slot("q174_trim_prod", run = (s, dir) =>
      QualityRules.trimOutliersByGroupApprox(
        tbl(s, dir, "documents")
          .select(col("doc_id"), col("source"), length(col("text")).cast("long").as("len")),
        Seq("source"), "len", "doc_id", pLow = 0.05, pHigh = 0.95),
      oracle = None),

    // INCREMENTAL HEAVY HITTERS (round 9): the q139 HLL-store pattern for
    // Misra-Gries — the corpus arrives in two batches, each pays one sketch
    // pass over its own tokens, the O(capacity) summaries fold by the
    // mergeable-summaries law, and the report-time recount + coverage
    // proof still yields the EXACT top-k (oracle = plain exact SQL).
    Slot("q178_heavy_hitters_incremental", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val t = Table("graft_q178_hitters")
      HeavyHitters.buildHitterStore(s, d.where(col("doc_id") % 2 === 0), "text", t,
        capacity = 4096)
      HeavyHitters.appendHitterStore(s, d.where(col("doc_id") % 2 =!= 0), "text", t,
        capacity = 4096)
      HeavyHitters.topKTermsFromStore(s, d, "text", t, k = 12)
    },
      // exact top-k by the q76 token rule — batch-split must be invisible
      oracle = Some("""WITH toks AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE trim(text) <> '')
        |SELECT term, CAST(count(*) AS BIGINT) AS n FROM toks
        |GROUP BY term ORDER BY n DESC, term ASC LIMIT 12""".stripMargin)),

    // TRIM-PROD AGREEMENT GATE (round 11, the q185 shape — VERDICT r10
    // task 4): the no-sort percentile_approx trim (q174_trim_prod's dial)
    // materializes its kept set on the sf fixture, and both engines
    // measure per-group agreement against their OWN exact rank trim
    // (q174's form). n_* are exact integers. The two forms cut by VALUE
    // vs by RANK, so boundary tie-groups may split differently — the gate
    // turns that documented semantic gap into a measured per-group
    // number on real (heavily tied) doc-length data.
    Slot("q190_trim_prod_agree", run = (s, dir) => {
      val v = tbl(s, dir, "documents")
        .select(col("doc_id"), col("source"), length(col("text")).cast("long").as("len"))
      QualityRules.trimOutliersByGroupApprox(v, Seq("source"), "len", "doc_id",
          pLow = 0.05, pHigh = 0.95)
        .select(col("doc_id"), col("source"))
        .write.mode("overwrite").parquet(trimProdPath)
      val approx = s.read.parquet(trimProdPath)
      val nApprox = approx.groupBy(col("source")).agg(count(lit(1)).as("n_approx"))
      val exact = QualityRules.trimOutliersByGroup(v, Seq("source"), "len", "doc_id",
        pLow = 0.05, pHigh = 0.95)
      exact.select(col("doc_id"), col("source"))
        .join(approx.select(col("doc_id"), lit(1L).as("__hit")), Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_exact"), sum(coalesce(col("__hit"), lit(0L))).as("n_common"))
        .join(nApprox, Seq("source"))
        .select(col("source"), col("n_exact"), col("n_approx"), col("n_common"))
    },
      // q190: DuckDB's OWN exact rank trim (the q174 replay at the same
      // cuts) vs the materialized percentile_approx kept set — per-group
      // agreement counts, all exact BIGINTs
      oracle = Some(s"""WITH v AS (SELECT doc_id, source, CAST(length(text) AS BIGINT) AS len FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY len, doc_id) AS rank,
        |  count(*) OVER (PARTITION BY source) AS n FROM v),
        |exact AS (SELECT doc_id, source FROM r
        |  WHERE rank > floor(0.05 * n) AND rank <= ceil(0.95 * n)),
        |approx AS (SELECT doc_id, source FROM read_parquet('$trimProdPath/*.parquet')),
        |na AS (SELECT source, CAST(count(*) AS BIGINT) AS n_approx FROM approx GROUP BY source),
        |ea AS (SELECT e.source, CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(sum(CASE WHEN a.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_common
        |  FROM exact e LEFT JOIN approx a ON a.doc_id = e.doc_id GROUP BY e.source)
        |SELECT ea.source, ea.n_exact, na.n_approx, ea.n_common
        |FROM ea JOIN na ON na.source = ea.source""".stripMargin)),
  )

  /** Sampling and mixtures: splits, group and weighted samples, epoch
    * shuffles, token budgets, DSIR.
    */
  private def samplingSlots: Seq[Slot] = Seq(
    // deterministic train/val/test split: assignment is a pure function of
    // md5(doc_id) — stable across reruns, partitionings, and engines
    Slot("q36_hash_split", run = (s, dir) =>
      Sampling.hashSplit(tbl(s, dir, "documents").select(col("doc_id")), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.9, "test" -> 1.0)),
      // hexCut(0.8)=cccccccc, hexCut(0.9)=e6666666; fixed-length lowercase hex
      // compares lexicographically == numerically in both engines
      oracle = Some("""SELECT doc_id,
        |CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
        |     WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val'
        |     ELSE 'test' END AS split
        |FROM documents""".stripMargin)),

    // deterministic per-group sampling (per-language here): hash-ordered
    // row_number <= n — the reservoir-sample stand-in that re-runs stably
    Slot("q38_group_sample", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"),
        TextFunctions.langId(col("text")).as("lang_id"))
      Sampling.sampleByGroup(d, Seq("lang_id"), "doc_id", n = 3)
    },
      oracle = Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |len(list_filter(toks, x -> list_contains(['the','and','of','to','is','with'], x))) AS s_en,
        |len(list_filter(toks, x -> list_contains(['le','la','les','et','des','une'], x))) AS s_fr,
        |len(list_filter(toks, x -> list_contains(['der','die','das','und','nicht','ein'], x))) AS s_de,
        |len(list_filter(toks, x -> list_contains(['el','los','las','una','por','que'], x))) AS s_es
        |FROM t),
        |l AS (SELECT doc_id, CASE WHEN greatest(s_en, s_fr, s_de, s_es) = 0 THEN 'und'
        |WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
        |WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
        |WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
        |ELSE 'es' END AS lang_id FROM s),
        |r AS (SELECT doc_id, lang_id, row_number() OVER (PARTITION BY lang_id
        |  ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rn FROM l)
        |SELECT doc_id, lang_id FROM r WHERE rn <= 3""".stripMargin)),

    // deterministic source-mixture sampling: per-language keep-fractions
    // (en 50%, und 10%, rest 100%) as one hash filter — re-weighting corpus
    // sources toward a target mixture without an RNG or a shuffle
    Slot("q67_mixture", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"),
        TextFunctions.langId(col("text")).as("lang_id"))
      Sampling.mixture(d, "lang_id", "doc_id", Map("en" -> 0.5, "und" -> 0.1))
    },
      // hexCut(0.5)=80000000, hexCut(0.1)=19999999, default 'g' (keep-all
      // sentinel: compares greater than every 8-hex bucket)
      oracle = Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |len(list_filter(toks, x -> list_contains(['the','and','of','to','is','with'], x))) AS s_en,
        |len(list_filter(toks, x -> list_contains(['le','la','les','et','des','une'], x))) AS s_fr,
        |len(list_filter(toks, x -> list_contains(['der','die','das','und','nicht','ein'], x))) AS s_de,
        |len(list_filter(toks, x -> list_contains(['el','los','las','una','por','que'], x))) AS s_es
        |FROM t),
        |l AS (SELECT doc_id, CASE WHEN greatest(s_en, s_fr, s_de, s_es) = 0 THEN 'und'
        |WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
        |WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
        |WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
        |ELSE 'es' END AS lang_id FROM s)
        |SELECT doc_id, lang_id FROM l
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
        |  CASE lang_id WHEN 'en' THEN '80000000' WHEN 'und' THEN '19999999' ELSE 'g' END""".stripMargin)),

    // deterministic epoch shuffle: per-epoch permutation key + shard label
    // as a pure projection (NO Spark shuffle) — the training loader sorts
    // within shard by shuffle_key; a new epoch is a new permutation
    Slot("q71_epoch_shuffle", run = (s, dir) =>
      Sampling.epochShard(
        tbl(s, dir, "documents").select(col("doc_id")), "doc_id", epoch = 1),
      // mirrors Sampling.epochShard(epoch=1, shardChars=2)
      oracle = Some("""SELECT doc_id,
        |md5(CAST(doc_id AS VARCHAR) || ':' || '1') AS shuffle_key,
        |substring(md5(CAST(doc_id AS VARCHAR) || ':' || '1'), 1, 2) AS shard
        |FROM documents""".stripMargin)),

    // token-budget mixture: admit docs per language, in stable hash order,
    // until the running token sum hits the language's budget — the
    // "fill the mix to N tokens per source" op (targets in tokens, where
    // q67's are fractions and q38's are row counts)
    Slot("q86_token_budget", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"),
        TextFunctions.langId(col("text")).as("lang_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      Sampling.tokenBudget(d, "lang_id", "doc_id", "n_tokens",
        Map("en" -> 2000L, "und" -> 500L), defaultBudget = 1000L)
    },
      // q67's lang CTE + q15's token count + a running-sum window in the same
      // (md5-bucket, doc_id) order as Sampling.tokenBudget
      oracle = Some("""WITH t AS (SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id,
        |len(list_filter(toks, x -> list_contains(['the','and','of','to','is','with'], x))) AS s_en,
        |len(list_filter(toks, x -> list_contains(['le','la','les','et','des','une'], x))) AS s_fr,
        |len(list_filter(toks, x -> list_contains(['der','die','das','und','nicht','ein'], x))) AS s_de,
        |len(list_filter(toks, x -> list_contains(['el','los','las','una','por','que'], x))) AS s_es
        |FROM t),
        |l AS (SELECT doc_id, CASE WHEN greatest(s_en, s_fr, s_de, s_es) = 0 THEN 'und'
        |WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
        |WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
        |WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
        |ELSE 'es' END AS lang_id FROM s),
        |d AS (SELECT l.doc_id, l.lang_id,
        |  CAST(len(regexp_split_to_array(trim(t.text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM l JOIN t USING (doc_id)),
        |c AS (SELECT doc_id, lang_id, n_tokens,
        |  SUM(n_tokens) OVER (PARTITION BY lang_id
        |    ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS cum
        |  FROM d)
        |SELECT doc_id, lang_id, n_tokens FROM c
        |WHERE cum <= CASE lang_id WHEN 'en' THEN 2000 WHEN 'und' THEN 500 ELSE 1000 END""".stripMargin)),

    // temperature mixture (XLM-R sampling rule, alpha=0.5): flatten the
    // skewed lang distribution by the largest feasible downsample — the
    // smallest lang keeps 100%, en is cut hardest
    Slot("q107_temperature_mixture", run = (s, dir) =>
      Sampling.temperatureMixture(
        tbl(s, dir, "documents").select(col("doc_id"), col("lang")),
        "lang", "doc_id", alpha = 0.5),
      // mirrors Sampling.temperatureMixture: rate_g = p^(alpha-1)/max p^(alpha-1)
      // rounded to 6 decimals (so libm-vs-JVM pow ulps can't flip membership),
      // then the standard md5-hex cut; the >=1 branch mirrors hexCut's 'g'
      // sentinel (keep-everything groups must keep the ffffffff bucket too)
      oracle = Some("""WITH c AS (SELECT lang AS g, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY lang),
        |t AS (SELECT sum(n) AS total FROM c),
        |w AS (SELECT g, pow(n / (SELECT total FROM t), -0.5) AS wt FROM c),
        |m AS (SELECT max(wt) AS mw FROM w),
        |r AS (SELECT g, round(wt / (SELECT mw FROM m), 6) AS rt FROM w)
        |SELECT d.doc_id, d.lang FROM documents d JOIN r ON d.lang = r.g
        |WHERE CASE WHEN rt >= 1.0 THEN TRUE
        |  ELSE substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) <
        |    printf('%08x', CAST(trunc(rt * 4294967296.0) AS BIGINT)) END""".stripMargin)),

    // DSIR importance weights: every doc scored by hashed-bigram likelihood
    // ratio against the lang='de' target — integer micro-log2 arithmetic
    // end to end, scoring pass is one codegen'd scan with zero shuffles.
    // The filtered-target form fits BOTH histograms in one corpus scan
    // (round 11; output bit-identical to the two-frame form)
    Slot("q108_dsir_weights", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      Dsir.importanceWeightsFiltered(d, col("lang") === "de", "doc_id", "text", k = 2)
    },
      // mirrors Dsir.importanceWeights: q66-style bigram construction (no
      // distinct), first-2-hex-of-md5 buckets, per-TERM rounded micro-log2
      // units (ln(x)/ln(2), x>=1 so every round-half convention agrees),
      // integer sums, one final /1e6
      oracle = Some("""WITH t AS (SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, lang, CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |  ELSE list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1]) END AS gs FROM t),
        |b AS (SELECT doc_id, lang, substring(md5(unnest(gs)), 1, 2) AS bk FROM g),
        |rawc AS (SELECT bk, count(*) AS n FROM b GROUP BY bk),
        |tgtc AS (SELECT bk, count(*) AS n FROM b WHERE lang = 'de' GROUP BY bk),
        |ratios AS (SELECT r.bk,
        |  CAST(round(ln(coalesce(tg.n, 0) + 1) / ln(2) * 1000000) AS BIGINT) -
        |  CAST(round(ln(r.n + 1) / ln(2) * 1000000) AS BIGINT) AS ri
        |  FROM rawc r LEFT JOIN tgtc tg USING (bk)),
        |c AS (SELECT
        |  CAST(round(ln((SELECT count(*) FROM b) + 256) / ln(2) * 1000000) AS BIGINT) -
        |  CAST(round(ln((SELECT count(*) FROM b WHERE lang = 'de') + 256) / ln(2) * 1000000) AS BIGINT) AS ci),
        |w AS (SELECT b.doc_id, CAST(sum(ri) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
        |  FROM b JOIN ratios USING (bk) GROUP BY b.doc_id)
        |SELECT doc_id, n AS n_grams, CAST(s + n * ci AS BIGINT) / 1000000.0 AS logw
        |FROM w, c""".stripMargin)),

    // training-shard layout: hash-sharded partitionBy write, then the
    // manifest a training reader consumes (shard → row count) read back
    // from the partitioned layout itself
    Slot("q112_shard_manifest", run = (s, dir) => {
      val sharded = Sampling.epochShard(
        tbl(s, dir, "documents").select(col("doc_id")), "doc_id",
        epoch = 1, shardChars = 1)
      val out = s"$scratch/shards_${java.util.UUID.randomUUID().toString.take(8)}"
      sharded.write.mode("overwrite").partitionBy("shard").parquet(out)
      s.read.parquet(out)
        .groupBy(col("shard").cast("string").as("shard"))
        .agg(count(lit(1)).as("n_docs"))
    },
      // q71's shard rule aggregated: shard = first hex char of md5(id ':' epoch)
      oracle = Some("""SELECT substring(md5(CAST(doc_id AS VARCHAR) || ':' || '1'), 1, 1) AS shard,
        |CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1""".stripMargin)),

    // epoch-aware mixture (the multi-epoch data recipe: src0 runs 2.5
    // epochs, src1 half an epoch, src2 dropped, everything else 1) — whole
    // copies + a deterministic hash-cut fractional copy, epoch index out
    Slot("q130_epoch_mixture", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("source"))
      Sampling.epochMixture(d, "source", "doc_id",
        Map("src0" -> 2.5, "src1" -> 0.5, "src2" -> 0.0), defaultEpochs = 1.0)
    },
      // mirrors Sampling.epochMixture: floor(e) copies + one more when the
      // salted hash bucket clears the fractional cut (hexCut(0.5)=80000000)
      oracle = Some("""WITH c AS (SELECT doc_id, source,
        |  CASE WHEN source = 'src0' THEN 2 WHEN source = 'src1' THEN 0
        |       WHEN source = 'src2' THEN 0 ELSE 1 END
        |  + CASE WHEN substr(md5(doc_id || '#epoch'), 1, 8) <
        |      CASE WHEN source = 'src0' THEN '80000000'
        |           WHEN source = 'src1' THEN '80000000'
        |           ELSE '00000000' END
        |    THEN 1 ELSE 0 END AS copies
        |  FROM documents)
        |SELECT doc_id, source,
        |  CAST(unnest(generate_series(0, copies - 1)) AS BIGINT) AS epoch
        |FROM c WHERE copies >= 1""".stripMargin)),

    // exact-N deterministic uniform sample (distributed TakeOrdered — no
    // full sort, no single-partition window; same rows on any rerun)
    Slot("q133_sample_exact", run = (s, dir) => {
      val d = tbl(s, dir, "documents")
      Sampling.sampleExact(d, "doc_id", 100).select(col("doc_id"), col("source"))
    },
      // the 100 hash-smallest doc_ids (8-hex md5 bucket, id tie-break)
      oracle = Some("""SELECT doc_id, source FROM documents
        |ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
        |LIMIT 100""".stripMargin)),

    // WEIGHTED SAMPLE (A-ES, Efraimidis-Spirakis): exactly 100 docs drawn
    // proportionally to n_chars, deterministically (uniforms derive from
    // md5 of the key, mirrored bit-for-bit in the oracle) — the
    // token-weighted document sampler a mixture builder uses when "sample
    // 1% of tokens" matters more than "1% of documents".
    Slot("q160_weighted_sample", run = (s, dir) =>
      Sampling.weightedSample(
        tbl(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", n = 100),
      // the same A-ES rank formula, term by term: uniform = (md5_32 + 0.5)/2^32,
      // rank = u^(1/w), top-100 by rank with key tie-break
      oracle = Some("""SELECT doc_id, n_chars FROM documents
        |WHERE n_chars IS NOT NULL AND n_chars > 0
        |ORDER BY pow((('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5)
        |  / 4294967296.0, 1.0 / n_chars) DESC, doc_id
        |LIMIT 100""".stripMargin)),

    // Z-ORDER SKIPPING, end to end: write lineitem clustered on
    // (l_partkey, l_suppkey) via the Morton curve, then run a 2-D range
    // filter over the clustered files. The oracle checks the rewrite
    // preserved the data exactly (same filter on the original table); the
    // row-group PRUNING ratio itself — clustered scan materializes a
    // fraction of what the unclustered layout reads — is asserted on scan
    // metrics in LayoutSpec ("2-D range filter reads a fraction...").
    // STRATIFIED WEIGHTED SAMPLE: 20 docs per language, weight-proportional
    // to n_chars within each stratum, deterministic — the per-language
    // token-weighted pick a mixture builder uses to keep small languages
    // represented. Window ranks run per group, never a global sort.
    Slot("q161_weighted_sample_grouped", run = (s, dir) =>
      Sampling.weightedSamplePerGroup(
        tbl(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        "lang", "doc_id", "n_chars", nPerGroup = 20),
      // per-language QUALIFY over the same A-ES rank formula
      oracle = Some("""SELECT doc_id, lang, n_chars FROM documents
        |WHERE n_chars IS NOT NULL AND n_chars > 0
        |QUALIFY row_number() OVER (PARTITION BY lang
        |  ORDER BY pow((('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5)
        |    / 4294967296.0, 1.0 / n_chars) DESC, doc_id) <= 20""".stripMargin)),

    // MIXTURE WATERFILL (round 9): split a 120k-token budget across
    // languages toward a 5:2:2:2 target (fr unweighted → 0), saturating
    // under-supplied languages at availability and redistributing their
    // surplus — the closed-form planning step whose per-group outputs
    // feed tokenBudget. Exercises saturate+redistribute at sf0.01+,
    // the everything-fits NULL-level path at sf0.001.
    Slot("q176_mixture_waterfill", run = (s, dir) =>
      Sampling.budgetWaterfill(
        tbl(s, dir, "documents").select(col("lang"), col("n_chars")),
        "lang", "n_chars",
        Map("en" -> 5L, "zh" -> 2L, "es" -> 2L, "de" -> 2L),
        totalBudget = 120000L),
      // mirrors Sampling.budgetWaterfill op-for-op: every double is one
      // mult-then-div over exact BIGINT prefix sums (no accumulation-order
      // risk); sumW=11, budget=120000 interpolated as literals
      oracle = Some("""WITH avail AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS avail FROM documents GROUP BY lang),
        |w AS (SELECT lang, avail, CAST(CASE lang WHEN 'en' THEN 5 WHEN 'zh' THEN 2
        |  WHEN 'es' THEN 2 WHEN 'de' THEN 2 ELSE 0 END AS BIGINT) AS weight FROM avail),
        |r AS (SELECT *, CASE WHEN weight > 0
        |  THEN CAST(avail AS DOUBLE) * 11.0 / CAST(weight AS DOUBLE)
        |  ELSE 1.7976931348623157e308 END AS ratio FROM w),
        |c AS (SELECT *,
        |  coalesce(sum(avail) OVER (ORDER BY ratio, lang ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cuma,
        |  coalesce(sum(weight) OVER (ORDER BY ratio, lang ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumw FROM r),
        |l AS (SELECT *, CASE WHEN weight > 0
        |  THEN CAST(120000 - cuma AS DOUBLE) * 11.0 / CAST(11 - cumw AS DOUBLE) END AS lvl FROM c),
        |t AS (SELECT max(lvl) AS tstar FROM l WHERE weight > 0 AND ratio > lvl)
        |SELECT lang, avail, weight,
        |  CASE WHEN weight = 0 THEN 0
        |    WHEN (SELECT tstar FROM t) IS NULL THEN avail
        |    ELSE least(avail, CAST(floor(CAST(weight AS DOUBLE) * (SELECT tstar FROM t) / 11.0) AS BIGINT)) END AS alloc
        |FROM l""".stripMargin)),

    // DSIR RESAMPLING (round 10): the selection step q108's scoring op
    // defers to — Gumbel-top-n over logw, which by the Gumbel-top-k
    // identity IS sampling without replacement ∝ w^(1/τ), made
    // deterministic by the md5 content uniform (the A-ES machinery). The
    // oracle replays q108's integer-unit weight chain plus the same
    // one-chain key arithmetic (ln 2 interpolated so the constant matches
    // bit-for-bit) and takes the same top-150.
    Slot("q184_dsir_resample", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      val scored = Dsir.importanceWeightsFiltered(d, col("lang") === "de",
        "doc_id", "text", k = 2)
      Dsir.resample(scored, "doc_id", "logw", n = 150, tau = 1.0)
        .select(col("doc_id"), col("n_grams"), col("logw"),
          round(col("gumbel_key"), 6).as("gumbel_key"))
    },
      // q108's integer micro-log2 weight replay + the Gumbel key chain:
      // logw·ln2 − ln(−ln(u)) with u the A-ES md5 uniform; constants
      // interpolated from the Scala doubles so both engines use identical
      // bits; top-150 by (key DESC, doc_id ASC)
      oracle = Some(s"""WITH t AS (SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents),
        |g AS (SELECT doc_id, lang, CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |  ELSE list_transform(generate_series(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1]) END AS gs FROM t),
        |b AS (SELECT doc_id, lang, substring(md5(unnest(gs)), 1, 2) AS bk FROM g),
        |rawc AS (SELECT bk, count(*) AS n FROM b GROUP BY bk),
        |tgtc AS (SELECT bk, count(*) AS n FROM b WHERE lang = 'de' GROUP BY bk),
        |ratios AS (SELECT r.bk,
        |  CAST(round(ln(coalesce(tg.n, 0) + 1) / ln(2) * 1000000) AS BIGINT) -
        |  CAST(round(ln(r.n + 1) / ln(2) * 1000000) AS BIGINT) AS ri
        |  FROM rawc r LEFT JOIN tgtc tg USING (bk)),
        |c AS (SELECT
        |  CAST(round(ln((SELECT count(*) FROM b) + 256) / ln(2) * 1000000) AS BIGINT) -
        |  CAST(round(ln((SELECT count(*) FROM b WHERE lang = 'de') + 256) / ln(2) * 1000000) AS BIGINT) AS ci),
        |w AS (SELECT b.doc_id, CAST(sum(ri) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
        |  FROM b JOIN ratios USING (bk) GROUP BY b.doc_id),
        |scoredw AS (SELECT doc_id, n AS n_grams, CAST(s + n * ci AS BIGINT) / 1000000.0 AS logw FROM w, c),
        |keyed AS (SELECT doc_id, n_grams, logw,
        |  logw * ${math.log(2.0)} - ln(-ln(
        |    (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5) / 4294967296.0)) AS gk
        |  FROM scoredw)
        |SELECT doc_id, n_grams, logw, round(gk, 6) AS gumbel_key
        |FROM keyed ORDER BY gk DESC, doc_id LIMIT 150""".stripMargin)),
  )

  /** Similarity search: exact and ANN top-k, IVF/PQ/SQ8 indexes, kNN joins,
    * clustering, MMR, RRF, bitext mining.
    */
  private def similaritySlots: Seq[Slot] = Seq(
    Slot("q18_topk_cosine", run = (s, dir) => {
      val e       = tbl(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding"))
      Ann.bruteForceTopK(e, queries, "vec_id", "embedding", "qid", "embedding", k = 10)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      oracle = Some(exactTopKSql(firstQueries(5)))),

    // ANN via IVF-flat: the synthetic embeddings are near-random (top-10
    // neighbours at cosine 0.24–0.4), which defeats every sign-hash LSH
    // family — recall ≈ fraction-of-corpus-scanned on iid data. IVF makes
    // that trade explicit: C=8 cells, probe 6 → measured recall 0.98 here;
    // on clustered real corpora the same operator probes far fewer cells.
    // (SRP-LSH with multiprobe stays available as Ann.lshTopK and is
    // recall-tested on a clustered fixture in DedupSimilaritySpec.)
    // ORACLE-CHECKED (round 9, the q126 learned-model pattern): the one
    // engine-side artifact — the deterministic hash-ordered centroid
    // sample — materializes to parquet, and DuckDB REPLAYS the whole IVF
    // search declaratively (assign every corpus row to its argmax-cosine
    // cell, probe each query's top-nprobe cells, exact cosine top-k over
    // the probed candidates), mirroring the quantizer's tie-breaks
    // (first-index on equal cosine, dot/sqrt(nc*nv) accumulation) exactly.
    Slot("q19_topk_ann", run = (s, dir) => {
      import s.implicits._
      val e = tbl(s, dir, "embeddings")
      val cents = Ann.coarseCentroids(e, "vec_id", "embedding", numCentroids = 8)
      cents.zipWithIndex.toSeq.map { case (v, i) => (i, v.toSeq) }
        .toDF("cell", "centroid")
        .write.mode("overwrite").parquet(ivfCentroidPath)
      val queries = e.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding"))
      // ivfTopK re-derives the identical centroid sample (hash-ordered,
      // deterministic) — the parquet above is the oracle's copy of it
      Ann.ivfTopK(e, queries, "vec_id", "embedding", "qid", "embedding", k = 10,
        numCentroids = 8, nprobe = 6)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      // full declarative REPLAY of the IVF search against the materialized
      // centroid sample (the only engine-side artifact): corpus rows assign
      // to their argmax-cosine cell, queries probe their top-6 cells, exact
      // cosine top-10 within the probed candidates. Mirrors the quantizer
      // bit-for-bit: assignment cosine is dot/sqrt(nc*nv) (ONE sqrt of the
      // product — HashImpl.nearestCentroids), ties keep the LOWEST cell
      // index (cos DESC, cell ASC); final scoring is dot/(sqrt·sqrt)
      // (HashImpl.cosineF) with the q18 tie-break (cos DESC, id DESC).
      oracle = Some(s"""WITH cents AS (SELECT cell, centroid FROM read_parquet('$ivfCentroidPath/*.parquet')),
        |ca AS (SELECT vec_id, embedding, cell,
        |  CASE WHEN nc = 0 OR nv = 0 THEN -2.0 ELSE dotv / sqrt(nc * nv) END AS cos
        |  FROM (SELECT e.vec_id, e.embedding, c.cell,
        |    list_sum(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.centroid[i] AS DOUBLE))) AS dotv,
        |    list_sum(list_transform(generate_series(1, len(c.centroid)),
        |      i -> CAST(c.centroid[i] AS DOUBLE) * CAST(c.centroid[i] AS DOUBLE))) AS nc,
        |    list_sum(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) AS nv
        |  FROM embeddings e CROSS JOIN cents c)),
        |ecell AS (SELECT vec_id AS neighbor_id, embedding AS nvec, cell FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rn
        |  FROM ca) WHERE rn = 1),
        |qprobe AS (SELECT vec_id AS query_id, embedding AS qv, cell FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rn
        |  FROM ca WHERE vec_id < 5) WHERE rn <= 6),
        |sims AS (SELECT q.query_id, e.neighbor_id,
        |  list_sum(list_transform(generate_series(1, len(q.qv)),
        |    i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.nvec[i] AS DOUBLE))) /
        |  (sqrt(list_sum(list_transform(generate_series(1, len(q.qv)),
        |    i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))) *
        |   sqrt(list_sum(list_transform(generate_series(1, len(e.nvec)),
        |    i -> CAST(e.nvec[i] AS DOUBLE) * CAST(e.nvec[i] AS DOUBLE))))) AS cos
        |  FROM qprobe q JOIN ecell e USING (cell))
        |SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id, round(cos, 6) AS cosine FROM (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id DESC) AS rn
        |  FROM sims) WHERE rn <= 10""".stripMargin)),

    // pure-SQL surface: the native graft expressions registered as SQL
    // functions (graft.plans.GraftExtensions) — a SQL-only user computes
    // exact cosine top-k without touching the DataFrame API
    Slot("q43_sql_functions", run = (s, dir) => {
      graft.plans.GraftFunctions.register(s)
      tbl(s, dir, "embeddings").createOrReplaceTempView("graft_q43_emb")
      s.sql(
        """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM graft_q43_emb WHERE vec_id < 5),
          |sims AS (SELECT q.query_id, e.vec_id AS neighbor_id, graft_cosine(q.qv, e.embedding) AS cos
          |         FROM q CROSS JOIN graft_q43_emb e),
          |r AS (SELECT query_id, neighbor_id, cos,
          |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id DESC) AS rn
          |      FROM sims)
          |SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id, round(cos, 6) AS cosine
          |FROM r WHERE rn <= 10""".stripMargin)
    },
      // same exact-cosine-top-k oracle as q18 (q43 is the pure-SQL route)
      oracle = Some(exactTopKSql(firstQueries(5)))),

    // ANN over a PERSISTED IVF index: corpus bucketed by cell at build time;
    // the query batch prunes to its probed buckets at scan time. nprobe =
    // numCentroids here → provably exact (same oracle as q18); partial-probe
    // recall + bucket pruning are asserted in AnnIndexSpec.
    Slot("q56_ann_index", run = (s, dir) => {
      val e   = tbl(s, dir, "embeddings")
      val idx = Table("graft_q56_index")
      val cen = Table("graft_q56_centroids")
      Ann.buildIvfIndex(s, e, "vec_id", "embedding", idx, cen,
        numCentroids = 8, numBuckets = 8)
      val queries = e.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding"))
      Ann.queryIvfIndex(s, idx, cen, queries, "qid", "embedding", k = 10, nprobe = 8)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      // nprobe = numCentroids → the index query is exact: same oracle as q18
      oracle = Some(exactTopKSql(firstQueries(5)))),

    // PQ-ADC similarity search, production dial (rows-only BY DESIGN —
    // approximation is the point): the corpus scans as m=8-byte PQ codes
    // (32× fewer bytes than raw 64-d floats), each row scores as 8 LUT
    // lookups, and only the top-40 ADC pool per query is re-ranked exactly.
    // The 100 TB regime this measures: bytes-scanned-per-query-batch.
    // PQ-ANN recall@10, ORACLE-CHECKED (round 9, the q156 pattern): the
    // production-dial PQ search (ADC shortlist of 40, exact re-rank — no
    // full-corpus exact pass) is materialized to a fixed parquet; BOTH
    // engines read that same table and join it against their OWN
    // independently-computed exact top-10. The hash match proves the exact
    // sets agree across engines AND the recall arithmetic is honest —
    // replacing the rows-only check this slot carried through round 8.
    Slot("q124_pq_ann", run = (s, dir) => {
      val e       = tbl(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 50).select(col("vec_id").as("qid"), col("embedding"))
      val cb      = graft.similarity.Pq.train(e, "vec_id", "embedding", m = 8, k = 16)
      val ann = graft.similarity.Pq.pqTopK(e, queries, "vec_id", "embedding", "qid", "embedding",
          cb, k = 10, rerank = 40)
      recallAt10(s, e, queries, ann, pqRecallPath)
    },
      // recall@10 of the materialized PQ production dial (ADC shortlist +
      // exact re-rank) against DuckDB's OWN exact top-10 — identical shape to
      // q156; the ANN table is the parquet the Spark side wrote and read back
      oracle = Some(recallAt10Sql(pqRecallPath))),

    // persisted IVF-PQ index at the recall-exact dial (nprobe = all cells,
    // rerank ≥ corpus): the ENTIRE path — train, encode, bucketed code
    // table, cell probe, ADC, exact re-rank — runs end-to-end, and the
    // degenerate dial makes the answer equal exact brute force, so this has
    // a FULL oracle (q18's). Production dials are recall-tested in PqSpec.
    Slot("q125_pq_index", run = (s, dir) => {
      val e   = tbl(s, dir, "embeddings")
      val idx = Table("graft_q125_index")
      val cen = Table("graft_q125_centroids")
      val cbt = Table("graft_q125_codebook")
      graft.similarity.Pq.buildPqIndex(s, e, "vec_id", "embedding", idx, cen, cbt,
        m = 8, k = 16, numCentroids = 8, numBuckets = 8)
      val queries = e.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding"))
      graft.similarity.Pq.queryPqIndex(s, idx, cen, cbt, e, "vec_id", "embedding",
          queries, "qid", "embedding", k = 10, nprobe = 8, rerank = 2500)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      // recall-exact dial (nprobe = all cells, rerank >= corpus) ⇒ the exact
      // brute-force answer — same oracle as q18
      oracle = Some(exactTopKSql(firstQueries(5)))),

    // ANN index maintenance under ingest: seed an IVF-PQ index on the even
    // half of the embeddings, STREAM the odd half in through the persisted
    // codebook (no retrain — codes stay comparable), then query the grown
    // index at the recall-exact dial: the answer must equal brute force
    // over the FULL corpus (q18's oracle) — proving streamed rows are
    // first-class index citizens.
    Slot("q129_pq_stream_index", run = (s, dir) => {
      val e    = tbl(s, dir, "embeddings")
      val seed = e.filter(col("vec_id") % 2 === 0)
      val odd  = e.filter(col("vec_id") % 2 =!= 0)
      val idx  = Table("graft_q129_index")
      val cen  = Table("graft_q129_centroids")
      val cbt  = Table("graft_q129_codebook")
      graft.similarity.Pq.buildPqIndex(s, seed, "vec_id", "embedding", idx, cen, cbt,
        m = 8, k = 16, numCentroids = 8, numBuckets = 8)
      val stream = twoBatchStream(s, "q129",
        odd.filter(col("vec_id") % 4 === 1), odd.filter(col("vec_id") % 4 === 3))
      val ckpt   = s"$scratch/q129_ckpt_${java.util.UUID.randomUUID().toString.take(8)}"
      graft.similarity.Pq.streamingIndexSink(s, stream(),
        "vec_id", "embedding", idx, cen, cbt, ckpt, numBuckets = 8)
      val queries = e.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding"))
      graft.similarity.Pq.queryPqIndex(s, idx, cen, cbt, e, "vec_id", "embedding",
          queries, "qid", "embedding", k = 10, nprobe = 8, rerank = 2500)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      // grown index at the recall-exact dial ⇒ brute force over the FULL
      // embeddings table — identical to q18/q125's oracle
      oracle = Some(exactTopKSql(firstQueries(5)))),

    // distributed kNN self-join at the exact dial (nprobe = all cells ⇒
    // every pair meets exactly once through the cell shuffle — no side is
    // ever broadcast): every embedding gets its 3 nearest non-self
    // neighbors. The production dial's candidate-volume bound is the IVF
    // cell math (recall-tested in DedupSimilaritySpec shapes).
    Slot("q137_knn_join", run = (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Ann.knnJoin(e, e, "vec_id", "embedding", "vec_id", "embedding",
          k = 3, numCentroids = 8, nprobe = 8, excludeSelf = true)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      // exact-dial kNN self-join: all non-self pairs, top-3 per query
      oracle = Some("""WITH sims AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |  list_sum(list_transform(generate_series(1, len(a.embedding)),
        |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
        |  (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)),
        |    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)))) *
        |   sqrt(list_sum(list_transform(generate_series(1, len(b.embedding)),
        |    i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) AS cos
        |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id)
        |SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id, round(cos, 6) AS cosine FROM (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id DESC) AS rn
        |  FROM sims) WHERE rn <= 3""".stripMargin),
      pinnedToOracleSf = true),

    // AT-REST kNN JOIN — the q137 twin of the assign-at-ingest recipe
    // (round 16, VERDICT r15 task 1). q137_knn_join_prod re-derives BOTH
    // sides' cells per sweep: the right side's O(N·√C) assignment is
    // exactly the term buildIvfIndex retires, and the left side (every
    // corpus row probing nprobe cells) is the term assignToIndex retires.
    // Here both are paid once at ingest — the corpus persists bucketed by
    // cell (float codec: the kNN-join family scores raw floats), the
    // probe-side assignment persists co-bucketed — and the steady-state
    // sweep is the cell-co-located pair join + bounded-heap top-k, with
    // excludeSelf dropping same-id pairs (the self-join contract).
    // Quality evidence: set-equality with in-flight knnJoin at the same
    // dial (same deterministic centroid sample ⇒ same cells ⇒ identical
    // candidate pairs) is pinned in AnnIndexSpec; q137's exact-dial oracle
    // covers the family's arithmetic. This slot's job is the slope.
    Slot("q137_knn_join_atrest", run = (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val tag = java.lang.Integer.toHexString(dir.hashCode)
      val idx = Table(s"graft_q137_atrest_idx_$tag")
      val cen = Table(s"graft_q137_atrest_cen_$tag")
      val qas = Table(s"graft_q137_atrest_qas_$tag")
      val stamp = Table(s"graft_q137_atrest_stamp_$tag")
      val fp = dirFingerprint(dir, "embeddings")
      val fresh = Seq(idx, cen, qas).forall(t => s.catalog.tableExists(t.qualifiedName)) &&
        stampFresh(s, stamp, fp)
      if (!fresh) {
        val c = math.max(8L, e.count() / 256L).toInt
        Ann.buildIvfIndex(s, e, "vec_id", "embedding", idx, cen,
          numCentroids = c, numBuckets = 32, codec = "float")
        TableIO.overwriteBucketed(s,
          Ann.assignToIndex(s, cen, e, "vec_id", "embedding", nprobe = 2),
          qas, Seq("cell"), 32, Seq("cell"))
        writeStamp(s, stamp, fp)
      }
      Ann.queryIvfIndexAssigned(s, idx, s.table(qas.qualifiedName), k = 3,
          candidateJoin = "shuffle", excludeSelf = true)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      oracle = None,
      ingestOnFirstPass = true),

    // IVF kNN self-join at CONSTANT CELL SIZE: cells scale with the corpus
    // (C = n/256), so candidate volume per row is nprobe*256 = constant and
    // total work is linear — the only sizing that survives decades (a fixed
    // C is n²*nprobe/C: the first twin dial measured 19x/decade before this
    // redial). Assignment stays sub-linear per row via the two-level
    // centroid hierarchy (Ann.cellAssign, O(√C)); recall of partial-probe
    // dials is pinned in AnnIndexSpec.
    Slot("q137_knn_join_prod", run = (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val c = math.max(8L, e.count() / 256L).toInt
      Ann.knnJoin(e, e, "vec_id", "embedding", "vec_id", "embedding",
          k = 3, numCentroids = c, nprobe = 2, excludeSelf = true)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      oracle = None),

    // embedding-space drift: per-label centroid cosine between the corpus
    // and a half-shifted snapshot — the representation-level drift gate
    // (q138 is the scalar-metric one). Element-wise posexplode aggregation;
    // no group ever buffers its member vectors.
    Slot("q150_embedding_drift", run = (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val after = e.withColumn("embedding",
        when(col("vec_id") % 2 === 1,
          transform(col("embedding"), x => (x + lit(0.2f)).cast("float")))
          .otherwise(col("embedding")))
      graft.similarity.EmbeddingDrift.centroidDrift(e, after, "label", "embedding",
        roundTo = 5)
    },
      // element-wise means per (label, pos) both sides, cosine of the mean
      // vectors; float addition mirrored with explicit FLOAT casts
      oracle = Some("""WITH b AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
        |  unnest(embedding) AS v FROM embeddings),
        |bc AS (SELECT label, pos, avg(CAST(v AS DOUBLE)) AS m, count(*) AS n
        |  FROM b GROUP BY label, pos),
        |a0 AS (SELECT label, CASE WHEN vec_id % 2 = 1
        |    THEN list_transform(embedding, x -> CAST(x + CAST(0.2 AS FLOAT) AS FLOAT))
        |    ELSE embedding END AS emb FROM embeddings),
        |a AS (SELECT label, generate_subscripts(emb, 1) AS pos, unnest(emb) AS v FROM a0),
        |ac AS (SELECT label, pos, avg(CAST(v AS DOUBLE)) AS m, count(*) AS n
        |  FROM a GROUP BY label, pos),
        |j AS (SELECT bc.label, bc.m AS mb, ac.m AS ma, bc.n AS nb, ac.n AS na
        |  FROM bc JOIN ac USING (label, pos)),
        |f AS (SELECT label, max(nb) AS n_before, max(na) AS n_after,
        |  sum(mb * ma) AS dot, sqrt(sum(mb * mb)) AS l2b, sqrt(sum(ma * ma)) AS l2a
        |  FROM j GROUP BY label)
        |SELECT label, CAST(n_before AS BIGINT) AS n_before,
        |  CAST(n_after AS BIGINT) AS n_after,
        |  round(dot / (l2b * l2a), 5) AS centroid_cosine FROM f""".stripMargin)),

    // ANN recall@10, ORACLE-CHECKED: the production-dial IVF search
    // (nprobe < cells) is materialized to a fixed parquet path, then BOTH
    // engines read that same table and join it against their OWN
    // independently-computed exact top-10 sets — a hash match proves the
    // exact sets agree across engines AND the recall arithmetic is honest.
    // This is the oracle-backed evidence for what q19 (rows-only) claims.
    Slot("q156_ann_recall", run = (s, dir) => {
      val e       = tbl(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 50).select(col("vec_id").as("qid"), col("embedding"))
      val ann = Ann.ivfTopK(e, queries, "vec_id", "embedding", "qid", "embedding", k = 10,
          numCentroids = 8, nprobe = 6)
      recallAt10(s, e, queries, ann, annRecallPath)
    },
      // recall@10 of the materialized production-dial ANN table against
      // DuckDB's OWN exact top-10 (same tie-break as q18: cos DESC, id DESC);
      // the ANN table is the parquet the Spark side wrote and read back
      oracle = Some(recallAt10Sql(annRecallPath))),

    // BLOCKED FUZZY SELF-JOIN (record linkage): key-derived customer codes
    // within 1 edit, candidates limited to same-prefix blocks (all but the
    // last 2 chars — CONSTANT 100-member blocks at every scale, so the true
    // answer grows linearly; the first dial blocked low-vocabulary part
    // names, whose block size grew with the corpus — same density trap as
    // q119's first dial, 165 s at sf1). The levenshtein bound discriminates:
    // one differing trailing digit passes, two rejects.
    Slot("q159_fuzzy_join", run = (s, dir) => {
      val named = tbl(s, dir, "customer").select(
        col("c_custkey"),
        concat(lit("Customer#"), lpad(col("c_custkey").cast("string"), 12, "0")).as("code"))
      FuzzyJoin.fuzzySelfJoin(named, "c_custkey", "code",
        expr("substring(code, 1, length(code) - 2)"), maxDistance = 1)
    },
      // same blocking + verify semantics, declaratively: equal all-but-last-2
      // prefix, ordered pair, levenshtein <= 1
      oracle = Some("""WITH k AS (SELECT c_custkey,
        |    'Customer#' || lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS code
        |  FROM customer)
        |SELECT a.c_custkey AS id_a, b2.c_custkey AS id_b,
        |  CAST(levenshtein(a.code, b2.code) AS BIGINT) AS dist
        |FROM k a JOIN k b2
        |  ON substring(a.code, 1, length(a.code) - 2) = substring(b2.code, 1, length(b2.code) - 2)
        |  AND a.c_custkey < b2.c_custkey
        |WHERE levenshtein(a.code, b2.code) <= 1""".stripMargin)),

    // kNN label classification (round 9): majority-vote label from the 10
    // nearest neighbors, leave-one-out (excludeSelf — the prediction never
    // sees the row's own label). EXACT dial (nprobe = C, each pair meets
    // once) so the whole prediction — neighbor sets, vote counts, the
    // (votes DESC, label ASC) tie-break — hash-checks against the oracle.
    // The weak-supervision primitive: tag unlabeled crawl from a seed set.
    Slot("q163_knn_classify", run = (s, dir) => {
      val e       = tbl(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 200).select(col("vec_id").as("qid"), col("embedding"))
      Ann.knnClassify(e, queries, "vec_id", "embedding", "label", "qid", "embedding",
        k = 10, numCentroids = 8, nprobe = 8, excludeSelf = true)
    },
      // exact leave-one-out kNN vote, declaratively: cosine of every
      // (query, non-self corpus row) pair, top-10 by (cos DESC, id DESC) —
      // the TopKAggregator's exact ordering — then the (votes DESC, label
      // ASC) majority vote
      oracle = Some(exactSimsSql(firstQueries(200), " WHERE e.vec_id <> q.query_id") +
        """,
        |nb AS (SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id DESC) AS rn
        |  FROM sims) WHERE rn <= 10),
        |v AS (SELECT nb.query_id, e.label, count(*) AS votes
        |  FROM nb JOIN embeddings e ON nb.neighbor_id = e.vec_id GROUP BY 1, 2)
        |SELECT query_id, label, votes FROM (
        |  SELECT query_id, label, votes,
        |    row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label ASC) AS rn
        |  FROM v) WHERE rn = 1""".stripMargin)),

    // production-dial kNN classification, ORACLE-CHECKED via the q156
    // materialize-and-measure gate: the IVF dial (nprobe 6 < C 8 — scans
    // ~3/4 of the corpus per query here, far less on clustered real
    // corpora) writes its predictions to a fixed parquet; BOTH engines
    // then join that same table against their OWN exact predictions, so
    // the per-query agreement arithmetic is hash-checked, not asserted.
    Slot("q164_knn_agree", run = (s, dir) => {
      val e       = tbl(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 200).select(col("vec_id").as("qid"), col("embedding"))
      Ann.knnClassify(e, queries, "vec_id", "embedding", "label", "qid", "embedding",
          k = 10, numCentroids = 8, nprobe = 6, excludeSelf = true)
        .select(col("query_id"), col("label").as("label_ann"))
        .write.mode("overwrite").parquet(knnProdPath)
      val ann = s.read.parquet(knnProdPath)
      val exact = Ann.knnClassify(e, queries, "vec_id", "embedding", "label", "qid", "embedding",
          k = 10, numCentroids = 8, nprobe = 8, excludeSelf = true)
        .select(col("query_id"), col("label").as("label_exact"))
      exact.join(ann, Seq("query_id"))
        .select(col("query_id"), col("label_exact"), col("label_ann"),
          when(col("label_ann") === col("label_exact"), 1L).otherwise(0L).as("agree"))
    },
      // the q156 gate shape: DuckDB recomputes the exact leave-one-out
      // prediction itself and joins it against the parquet the production
      // dial materialized — agreement arithmetic hash-checked end-to-end
      oracle = Some(exactSimsSql(firstQueries(200), " WHERE e.vec_id <> q.query_id") +
        s""",
        |nb AS (SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id DESC) AS rn
        |  FROM sims) WHERE rn <= 10),
        |v AS (SELECT nb.query_id, e.label, count(*) AS votes
        |  FROM nb JOIN embeddings e ON nb.neighbor_id = e.vec_id GROUP BY 1, 2),
        |x AS (SELECT query_id, label FROM (
        |  SELECT query_id, label,
        |    row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label ASC) AS rn
        |  FROM v) WHERE rn = 1)
        |SELECT x.query_id, x.label AS label_exact, a.label_ann,
        |  CAST(CASE WHEN a.label_ann = x.label THEN 1 ELSE 0 END AS BIGINT) AS agree
        |FROM x JOIN read_parquet('$knnProdPath/*.parquet') a USING (query_id)""".stripMargin)),

    // distributed k-means (round 9): 3 Lloyd iterations, cosine
    // assignment, quantized-mean update — the SemDeDup / cluster-balanced
    // sampling primitive. Init (the one engine-side artifact) materializes
    // to parquet; the oracle replays every iteration declaratively (see
    // kmeansReplaySql). Assignment is a zero-shuffle codegen'd projection;
    // each update is one bounded groupBy(cell) shuffle.
    Slot("q166_kmeans", run = (s, dir) => {
      import s.implicits._
      val e    = tbl(s, dir, "embeddings")
      val init = Clustering.spreadInit(e, "vec_id", "embedding", k = 8)
      init.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .write.mode("overwrite").parquet(kmeansInitPath)
      val (assigned, _) = Clustering.kmeans(e, "vec_id", "embedding", init, iters = 3)
      assigned
    },
      oracle = Some(kmeansReplaySql(kmeansInitPath, iters = 3))),

    // cluster-balanced sampling (round 9): the kmeans assignment composed
    // with the deterministic per-group sampler — 10 vectors per semantic
    // cluster, the diversity-preserving curation pick ("don't let one
    // dense topic eat the whole sample"). Oracle replays the clustering
    // AND the md5-rank pick in one statement.
    Slot("q167_cluster_sample", run = (s, dir) => {
      import s.implicits._
      val e    = tbl(s, dir, "embeddings")
      val init = Clustering.spreadInit(e, "vec_id", "embedding", k = 8)
      init.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .write.mode("overwrite").parquet(kmeansInitPath167)
      val (assigned, _) = Clustering.kmeans(e, "vec_id", "embedding", init, iters = 2)
      Sampling.sampleByGroup(assigned.select(col("vec_id"), col("cluster")),
        Seq("cluster"), "vec_id", n = 10)
    },
      // kmeans replay + the md5-rank per-cluster pick (Sampling.sampleByGroup
      // semantics: order by hex-hash string, then key)
      oracle = Some(kmeansReplaySql(kmeansInitPath167, iters = 2,
      finalSelect = """SELECT vec_id, CAST(cell AS INTEGER) AS cluster FROM af
        |QUALIFY row_number() OVER (PARTITION BY cell
        |  ORDER BY substring(md5(CAST(vec_id AS VARCHAR)), 1, 8), vec_id) <= 10""".stripMargin))),

    // SemDeDup (round 9, arXiv:2303.09540): cluster, then drop
    // within-cluster cosine near-dups keeping the smallest id. The corpus
    // is embeddings plus an id-shifted exact copy of itself — every copy
    // MUST die (cosine 1 to its original in the same cluster) and any
    // natural >0.95 original pairs dedup too. Pair cosines reuse the
    // assignment's index-order double formula, so the threshold cut is
    // engine-deterministic with no rounding. Candidate volume is
    // per-cluster quadratic only (production sizing: k grows with the
    // corpus, constant cluster size — the IVF cell story).
    Slot("q168_semdedup", run = (s, dir) => {
      import s.implicits._
      val e = tbl(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val corpus = e.unionByName(
        e.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      val init = Clustering.spreadInit(corpus, "vec_id", "embedding", k = 8)
      init.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .write.mode("overwrite").parquet(kmeansInitPath168)
      Clustering.semDedup(corpus, "vec_id", "embedding", init, iters = 2,
        threshold = 0.95)
    },
      // kmeans replay over the duplicated corpus + the NOT EXISTS near-dup
      // cut: survivor = no smaller-id same-cluster row above 0.95 cosine
      oracle = Some(kmeansReplaySql(kmeansInitPath168, iters = 2,
      sourceSql = """SELECT vec_id, embedding FROM embeddings
        |UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings""".stripMargin,
      finalSelect = """SELECT a.vec_id, CAST(a.cell AS INTEGER) AS cluster
        |FROM (SELECT f.vec_id, f.cell, ev.v, ev.nv FROM af f JOIN ev USING (vec_id)) a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM (SELECT f.vec_id, f.cell, ev.v, ev.nv FROM af f JOIN ev USING (vec_id)) b
        |  WHERE b.cell = a.cell AND b.vec_id < a.vec_id
        |    AND (CASE WHEN a.nv = 0 OR b.nv = 0 THEN -2.0
        |         ELSE list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i]))
        |              / (sqrt(a.nv) * sqrt(b.nv)) END) > 0.95)""".stripMargin)),
      pinnedToOracleSf = true),

    // production SemDeDup: the q168 exact dial holds k at the oracle-
    // replayable 8 (cluster size grows with the corpus — per-cluster
    // quadratic BY CONSTRUCTION, so it pins to the oracle SF band); the
    // 100 TB path is approximate-neighbor SemDeDup on the constant-cell-
    // size IVF join — cells scale with the corpus, per-row candidates stay
    // constant, assignment is the two-level O(sqrt C) hierarchy — then the
    // same smaller-id threshold cut on the discovered neighbor pairs.
    // Exact-dial agreement on the copy-kill contract lives in
    // ClusteringSpec; this twin's job is the slope.
    Slot("q168_semdedup_prod", run = (s, dir) => {
      val e = tbl(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val corpus = e.unionByName(
        e.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      val c = math.max(8L, corpus.count() / 256L).toInt
      val losers = Ann.knnJoin(corpus, corpus, "vec_id", "embedding", "vec_id", "embedding",
          k = 3, numCentroids = c, nprobe = 2, excludeSelf = true)
        .where(col("neighbor_id") < col("query_id") && col("cosine") > 0.95)
        .select(col("query_id")).distinct()
      corpus.join(losers, corpus("vec_id") === losers("query_id"), "left_anti")
        .select(col("vec_id"))
    },
      oracle = None),

    // hard-negative mining (round 9): for each query vector, the top-5
    // nearest corpus embeddings with a DIFFERENT label — the "close in
    // embedding space, wrong class" rows a contrastive bi-encoder learns
    // most from. Execution is one broadcast corpus pass with the label
    // inequality as a codegen'd filter on the streamed side + bounded-heap
    // top-k; mining negatives costs the same as plain search.
    Slot("q170_hard_negatives", run = (s, dir) => {
      val e       = tbl(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding"), col("label"))
      Ann.hardNegativesTopK(e, queries, "vec_id", "embedding", "label",
          "qid", "embedding", "label", k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      // q18's exact-cosine oracle with the label-inequality predicate — the
      // same dot/(sqrt*sqrt) double formula, ties neighbor_id DESC
      oracle = Some(exactTopKSql(
        "SELECT vec_id AS query_id, embedding AS qv, label AS ql\n  FROM embeddings WHERE vec_id < 20",
        pairWhere = " WHERE e.label <> q.ql", k = 5))),

    // MMR re-ranking over IVF candidates at constant cell size — the scale
    // path q172's scaladoc promises ("swap bruteForceTopK for ivfTopK"),
    // proven to compile-and-scale: candidate search is the probe join, the
    // greedy selection is the same bounded per-query expression. Selection
    // correctness is q172's oracle; candidate recall is q156's gate.
    Slot("q172_mmr_prod", run = (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val c = math.max(8L, e.count() / 256L).toInt
      val queries = e.filter(col("vec_id") % 17 === 0)
        .select(col("vec_id").as("qid"), col("embedding"))
      Ann.mmrRerankIvf(e, queries, "vec_id", "embedding", "qid", "embedding",
        candidateK = 20, k = 5, lambda = 0.7, numCentroids = c, nprobe = 2,
        candidateJoin = "shuffle")
    },
      oracle = None),

    // MMR diverse re-ranking (round 9): exact top-20 candidates per query,
    // then greedy λ·relevance − (1−λ)·redundancy selection of 5 — the RAG
    // retrieval step that keeps near-identical passages from filling the
    // context window. The selection runs as a native per-row expression
    // over each query's BOUNDED candidate arrays; the oracle replays every
    // greedy pick declaratively (unrolled steps, the q166 Lloyd pattern)
    // with the same index-order double cosines, so pick order is
    // hash-checked bit-for-bit.
    Slot("q172_mmr_rerank", run = (s, dir) => {
      val e       = tbl(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding"))
      Ann.mmrRerank(e, queries, "vec_id", "embedding", "qid", "embedding",
        candidateK = 20, k = 5, lambda = 0.7)
    },
      // full declarative replay of the greedy MMR selection — see mmrReplaySql
      oracle = Some(mmrReplaySql(nQueries = 20, candidateK = 20, k = 5, lambda = 0.7))),

    // hybrid retrieval via reciprocal-rank fusion (round 9): BM25 over the
    // query document's text ⊕ cosine over its embedding (vec_id aligns
    // with doc_id in the fixtures — "more like this"), fused as
    // Σ 1/(60+rank) and re-ranked. Both input rankings reuse the
    // oracle-proven q165/q18 machinery; the fusion arithmetic is
    // 1/(c+integer-rank) sums — deterministic across engines.
    Slot("q173_hybrid_rrf", run = (s, dir) => {
      val d     = tbl(s, dir, "documents")
      val e     = tbl(s, dir, "embeddings")
      val qText = d.filter(col("doc_id") < 5).select(col("doc_id").as("qid"), col("text"))
      val qVec  = e.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding"))
      val lex = TermStats.bm25TopK(d, "doc_id", "text", qText, "qid", "text", k = 20)
        .select(col("query_id"), col("rank"), col("doc_id"))
      val sem = Ann.bruteForceTopK(e, qVec, "vec_id", "embedding", "qid", "embedding", k = 20)
        .select(col("query_id"), col("rank"), col("neighbor_id").as("doc_id"))
      TermStats.rrfFuse(lex, sem, "doc_id", k = 10)
    },
      // q165's BM25 replay (query text = the first five documents) ⊕ q18's
      // exact-cosine replay (their embeddings), fused as Σ 1/(60+rank) with
      // the lexical term first — the engine's coalesce order — and re-ranked
      // (rrf DESC, doc_id ASC). Shared with q189's overlap gate, which
      // nests this replay as its exact side.
      oracle = Some(rrfExactSql)),

    // RRF fusion with the semantic arm on IVF candidates — q173's fusion
    // arithmetic (oracle-checked there) over the production candidate
    // source; the lexical arm is the q165 BM25 probe-vocabulary path
    // unchanged. Per-query inputs stay ≤k rows, fusion is O(config).
    // The fused top-10's overlap vs exact fusion is hash-gated by q189.
    Slot("q173_rrf_prod", run = (s, dir) => {
      val d     = tbl(s, dir, "documents")
      val e     = tbl(s, dir, "embeddings")
      val c     = math.max(8L, e.count() / 256L).toInt
      val qText = d.filter(col("doc_id") < 5).select(col("doc_id").as("qid"), col("text"))
      val qVec  = e.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding"))
      val lex = TermStats.bm25TopK(d, "doc_id", "text", qText, "qid", "text", k = 20)
        .select(col("query_id"), col("rank"), col("doc_id"))
      val sem = Ann.ivfTopK(e, qVec, "vec_id", "embedding", "qid", "embedding",
          k = 20, numCentroids = c, nprobe = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id").as("doc_id"))
      TermStats.rrfFuse(lex, sem, "doc_id", k = 10)
    },
      oracle = None),

    // SQ8 QUANTIZED SEARCH (round 9): per-dim min/max fit → int8 codes →
    // brute-force top-10 by quantized cosine against vec 7. Codes are
    // BIGINT-exact end to end (integer dot + norms); the only floats are
    // the encode-time affine round and one final div — both mirrored
    // bit-for-bit by the oracle. The 4x-smaller codes table is the scan
    // a 100 TB re-ranker reads instead of float32 embeddings.
    Slot("q177_sq8_topk", run = (s, dir) =>
      Sq8.topKQuantized(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        queryId = 7L, k = 10),
      // mirrors Sq8 op-for-op: exact per-dim min/max fit, the same affine
      // round (non-negative args, so HALF_UP == half-away-from-zero in both
      // engines), exact integer dot/norms, one final sqrt-mult-div
      oracle = Some("""WITH d AS (SELECT vec_id, embedding AS emb FROM embeddings),
        |flat AS (SELECT vec_id, unnest(generate_series(1, len(emb))) AS i,
        |  CAST(unnest(emb) AS DOUBLE) AS x FROM d),
        |s AS (SELECT i, min(x) AS lo, max(x) AS hi, (max(x) - min(x)) / 255.0 AS st
        |  FROM flat GROUP BY i),
        |fc AS (SELECT f.vec_id, f.i,
        |  CASE WHEN s.st = 0 THEN 0
        |       ELSE least(greatest(CAST(round((f.x - s.lo) / s.st) AS BIGINT), 0), 255) END AS code
        |  FROM flat f JOIN s USING (i)),
        |qc AS (SELECT i, code AS qcode FROM fc WHERE vec_id = 7),
        |sc AS (SELECT fc.vec_id,
        |  CAST(sum(fc.code * qc.qcode) AS BIGINT) AS dot,
        |  CAST(sum(fc.code * fc.code) AS BIGINT) AS nd
        |  FROM fc JOIN qc USING (i) WHERE fc.vec_id <> 7 GROUP BY fc.vec_id),
        |nq AS (SELECT CAST(sum(qcode * qcode) AS BIGINT) AS nq FROM qc)
        |SELECT vec_id, dot,
        |  CASE WHEN nd = 0 OR (SELECT nq FROM nq) = 0 THEN 0.0
        |    ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(nd AS DOUBLE)) * sqrt(CAST((SELECT nq FROM nq) AS DOUBLE))) END AS qcos
        |FROM sc ORDER BY qcos DESC, vec_id LIMIT 10""".stripMargin)),

    // EXACT JACCARD SELF-JOIN (round 9): prefix-filtered AllPairs over a
    // planted-chain corpus at t=0.85 — the no-false-negative complement to
    // the LSH near-dup family. The oracle brute-forces every shared-token
    // pair; hash equality proves the prefix filter missed nothing and the
    // length filter dropped nothing it shouldn't. EXACT DIAL, pinned to
    // the oracle SF: the synthetic docs are template-generated near-
    // clones, so the ANSWER (all qualifying pairs) grows quadratically
    // with corpus size by construction — the same regime as q12 r=2; the
    // scale path for clique-heavy corpora is exact-dedup first, or LSH.
    Slot("q179_jaccard_join_exact", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 25 === 0)
      SimilarityJoin.jaccardSelfJoin(
        driftChain(d), "doc_id", "text", threshold = 0.85)
    },
      // brute force over every shared-token pair of the planted-chain corpus:
      // the single-div jaccard double mirrors the engine's arithmetic
      oracle = Some("""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0),
        |corpus AS (
        |  SELECT doc_id, text FROM d
        |  UNION ALL SELECT doc_id + 1000000, text || ' chain link one two three' FROM d
        |  UNION ALL SELECT doc_id + 2000000, text || ' chain link one two three more drift four five six' FROM d),
        |t AS (SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |  FROM corpus WHERE trim(text) <> ''),
        |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM t GROUP BY doc_id),
        |o AS (SELECT a.doc_id AS ida, b.doc_id AS idb, CAST(count(*) AS BIGINT) AS inter
        |  FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT ida AS id_a, idb AS id_b,
        |  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
        |FROM o JOIN s sa ON sa.doc_id = ida JOIN s sb ON sb.doc_id = idb
        |WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.85""".stripMargin),
      pinnedToOracleSf = true),

    // TWO-LEVEL ASSIGNMENT QUALITY GATE (round 10, the q156 materialize-
    // and-measure shape): the O(√C) two-level cell assignment — the
    // production path that keeps constant-cell-size IVF linear — runs at
    // C=96 (above its engagement threshold) and materializes per-vector
    // cells; BOTH engines then measure it against their OWN exact flat
    // argmax (kernel arithmetic: dot/sqrt(nc·nv), ties to the lowest cell
    // — the q19-proven replay) and hash-match per-vector agreement plus
    // assigned-cosine regret. Upgrades AnnIndexSpec's recall pin to an
    // oracle-checked gate.
    Slot("q182_twolevel_assign", run = (s, dir) => {
      import s.implicits._
      val e     = tbl(s, dir, "embeddings")
      val cents = Ann.coarseCentroids(e, "vec_id", "embedding", numCentroids = 96)
      cents.zipWithIndex.toSeq.map { case (v, i) => (i.toLong, v.toSeq) }
        .toDF("cid", "cvec")
        .write.mode("overwrite").parquet(s"${twoLevelPath}_cents")
      e.select(col("vec_id"),
          element_at(Ann.twoLevelCellAssign(col("embedding"), cents, nprobe = 1), 1)
            .cast("long").as("cell_two"))
        .write.mode("overwrite").parquet(twoLevelPath)
      val two = s.read.parquet(twoLevelPath)
      val cdf = s.read.parquet(s"${twoLevelPath}_cents")
      // Spark's own exact flat argmax — same kernel the oracle replays
      val flat = e.select(col("vec_id"),
        element_at(graft.functions.NativeFunctions.nearestCentroids(col("embedding"), cents, 1), 1)
          .cast("long").as("cell_flat"))
      // assignment-kernel cosine (dot/sqrt(nc·nv)) as index-order fold
      // arithmetic — the cross-engine-parity construct
      def kcos(v: org.apache.spark.sql.Column,
               cv: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        val dotv = aggregate(zip_with(v, cv, (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (a, b) => a + b)
        val nv = aggregate(transform(v, x => x.cast("double") * x.cast("double")),
          lit(0.0), (a, b) => a + b)
        val nc = aggregate(transform(cv, y => y.cast("double") * y.cast("double")),
          lit(0.0), (a, b) => a + b)
        when(nc === 0.0 || nv === 0.0, lit(-2.0)).otherwise(dotv / sqrt(nc * nv))
      }
      two.join(flat, "vec_id").join(e.select(col("vec_id"), col("embedding")), "vec_id")
        .join(cdf.select(col("cid").as("cell_two"), col("cvec").as("__tv")), Seq("cell_two"))
        .join(cdf.select(col("cid").as("cell_flat"), col("cvec").as("__fv")), Seq("cell_flat"))
        .select(col("vec_id"), col("cell_two"), col("cell_flat"),
          when(col("cell_two") === col("cell_flat"), 1L).otherwise(0L).as("agree"),
          round(kcos(col("embedding"), col("__fv")) - kcos(col("embedding"), col("__tv")), 6)
            .as("regret"))
    },
      // DuckDB's OWN exact flat argmax over the materialized centroid table
      // (kernel parity: dot/sqrt(nc*nv), ties keep the lowest cid — the q19
      // replay), measured against the materialized two-level assignment
      oracle = Some(s"""WITH c AS (SELECT cid, cvec FROM read_parquet('${twoLevelPath}_cents/*.parquet')),
        |two AS (SELECT vec_id, cell_two FROM read_parquet('$twoLevelPath/*.parquet')),
        |ca AS (SELECT vec_id, cid,
        |  CASE WHEN nc = 0 OR nv = 0 THEN -2.0 ELSE dotv / sqrt(nc * nv) END AS cos
        |  FROM (SELECT e.vec_id, c.cid,
        |    list_sum(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE))) AS dotv,
        |    list_sum(list_transform(generate_series(1, len(c.cvec)),
        |      i -> CAST(c.cvec[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE))) AS nc,
        |    list_sum(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) AS nv
        |  FROM embeddings e CROSS JOIN c)),
        |flat AS (SELECT vec_id, cid AS cell_flat, cos AS cos_flat FROM (
        |  SELECT vec_id, cid, cos,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
        |  FROM ca) WHERE rn = 1)
        |SELECT t.vec_id, t.cell_two, f.cell_flat,
        |  CAST(CASE WHEN t.cell_two = f.cell_flat THEN 1 ELSE 0 END AS BIGINT) AS agree,
        |  round(f.cos_flat - tc.cos, 6) AS regret
        |FROM two t JOIN flat f USING (vec_id)
        |JOIN ca tc ON tc.vec_id = t.vec_id AND tc.cid = t.cell_two""".stripMargin)),

    // SQ8 QUERY-FRAME RECALL GATE (round 10, the q156 shape): the
    // production SQ8 entry point — query FRAME, int8 codes at rest,
    // decoded-space scoring — materializes its top-10, and both engines
    // measure recall@10 against their OWN exact float top-10 (q156's
    // arithmetic and tie-breaks verbatim). q177 proved the raw-code
    // arithmetic bit-for-bit; this gate proves the production path's
    // QUALITY (0.99 avg recall on the fixture — raw-code scoring measured
    // 0.74, which is why production scores decoded). The default min/max
    // fit is the dial; fitClipped's outlier robustness is spec-pinned.
    Slot("q183_sq8_frame_recall", run = (s, dir) => {
      val e       = tbl(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 50).select(col("vec_id").as("qid"), col("embedding"))
      val ann = Sq8.topKQuantizedFrame(e, "vec_id", "embedding", queries, "qid", "embedding", k = 10)
      recallAt10(s, e, queries, ann, sq8ProdPath)
    },
      // recall@10 of the materialized production SQ8 frame search against
      // DuckDB's OWN exact float top-10 — q156's SQL verbatim over the SQ8
      // table (same exact arithmetic, same cos DESC / id DESC tie-break)
      oracle = Some(recallAt10Sql(sq8ProdPath))),

    // ASSIGN-AT-INGEST twin of q183_sq8_ivf_prod (round 15 — VERDICT r14
    // task 1): same corpus, same every-17th-row query batch, same SQ8
    // codec and constant-cell-size C — but centroid sampling, fit, codes,
    // and corpus cell assignment are paid ONCE into a bucketed-by-cell
    // at-rest index (Ann.buildIvfIndex codec=sq8), and the steady state
    // answers the batch against the layout (Ann.queryIvfIndex). That
    // retires the per-sweep O(N·√C) corpus re-assignment term (~15% of
    // twin runtime at sf30, 4.0× at 3× data in the round-14 profiler)
    // from the query path — the 100 TB recipe where the index outlives
    // the query batches. Protocol: the slot (re)builds only when this
    // SF's layout is absent or stale (row-count key), so pass 1 of a cold
    // sweep pays ingest and later passes measure the at-rest query;
    // min-of-passes — the artifact number — is the amortized per-batch
    // cost, with the one-time ingest visible in the sweep log. Quality
    // evidence: q193's oracle-checked recall gate (exact dial, hash-parity
    // with q183's) + AnnIndexSpec's at-rest/in-flight agreement pin; this
    // slot's job is the slope. The query side keeps the round-14 rule
    // (never force a data-proportional broadcast): candidateJoin is
    // "shuffle" here.
    //
    // Round 16 (VERDICT r15 tasks 3 + ADVICE): (a) the query batch is now
    // PRE-ASSIGNED at its own ingest (Ann.assignToIndex persisted bucketed
    // by cell alongside the index), so the steady state is pure
    // probe-scan — the last named super-linear residual (query-side
    // O(|Q|·√C) two-level assignment, |Q| ∝ N here) moves to ingest and
    // the pair join reads co-located buckets on both sides; (b) freshness
    // keys on a CONTENT fingerprint of the source parquet (build stamp),
    // not a row count — a regenerated same-size SF rebuilds instead of
    // silently reusing stale codes.
    Slot("q183_sq8_ivf_atrest", run = (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val tag = java.lang.Integer.toHexString(dir.hashCode)
      val idx = Table(s"graft_q183_atrest_idx_$tag")
      val cen = Table(s"graft_q183_atrest_cen_$tag")
      val fit = Table(s"graft_q183_atrest_fit_$tag")
      val qas = Table(s"graft_q183_atrest_qas_$tag")
      val stamp = Table(s"graft_q183_atrest_stamp_$tag")
      val fp = dirFingerprint(dir, "embeddings")
      val fresh = Seq(idx, cen, fit, qas).forall(t => s.catalog.tableExists(t.qualifiedName)) &&
        stampFresh(s, stamp, fp)
      if (!fresh) {
        val c = math.max(8L, e.count() / 256L).toInt
        Ann.buildIvfIndex(s, e, "vec_id", "embedding", idx, cen,
          numCentroids = c, numBuckets = 32, codec = "sq8", fitTable = Some(fit))
        val queries = e.filter(col("vec_id") % 17 === 0)
          .select(col("vec_id").as("qid"), col("embedding"))
        TableIO.overwriteBucketed(s,
          Ann.assignToIndex(s, cen, queries, "qid", "embedding", nprobe = 2),
          qas, Seq("cell"), 32, Seq("cell"))
        writeStamp(s, stamp, fp)
      }
      Ann.queryIvfIndexAssigned(s, idx, s.table(qas.qualifiedName), k = 10,
          candidateJoin = "shuffle",
          fitTable = Some(fit))
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      oracle = None,
      ingestOnFirstPass = true),

    // IVF search over SQ8 codes at constant cell size — the 100 TB search
    // dial (cells ∝ corpus, per-row candidates constant, candidate scan
    // 4× narrower than float32). Quality evidence: q183's oracle-checked
    // recall gate + QuantizeSpec's sq8-vs-float recall pin; this twin's
    // job is the slope.
    Slot("q183_sq8_ivf_prod", run = (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val c = math.max(8L, e.count() / 256L).toInt
      val queries = e.filter(col("vec_id") % 17 === 0)
        .select(col("vec_id").as("qid"), col("embedding"))
      // query batch ∝ corpus (every 17th row) ⇒ a broadcast build relation
      // would grow with N (cache-miss trap, SCALE.md round 14); default is
      // the cell-shuffle pairing (measured 1.8–2.2× faster at sf30, slope
      // 3.3→2.5)
      Ann.ivfTopK(e, queries, "vec_id", "embedding", "qid", "embedding",
          k = 10, numCentroids = c, nprobe = 2, codec = "sq8",
          candidateJoin = "shuffle")
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), round(col("cosine"), 6).as("cosine"))
    },
      oracle = None),

    // MMR-OVER-IVF QUALITY GATE (round 10, the q156 shape): the production
    // twin (q172_mmr_prod's dial — IVF candidates at nprobe < cells)
    // materializes its picks, and both engines measure per-query overlap
    // against their OWN exact-candidate MMR (Spark: mmrRerank; DuckDB: the
    // q172 declarative replay) — the twin's quality is now hash-checked,
    // not just spec-argued. Overlap counts are exact integers. Partial
    // overlap is the EXPECTED reading, not a defect: MMR's greedy
    // diversity selection runs over the probe dial's candidate set, so
    // candidate differences compound pick-by-pick; the gate makes that
    // trade measurable (≈3/5 at nprobe=2 on the clone-heavy fixture)
    // instead of asserted.
    Slot("q185_mmr_prod_overlap", run = (s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val c = math.max(8L, e.count() / 256L).toInt
      val queries = e.filter(col("vec_id") < 20).select(col("vec_id").as("qid"), col("embedding"))
      Ann.mmrRerankIvf(e, queries, "vec_id", "embedding", "qid", "embedding",
          candidateK = 20, k = 5, lambda = 0.7, numCentroids = c, nprobe = 2)
        .select(col("query_id"), col("selected_id"))
        .write.mode("overwrite").parquet(mmrProdPath)
      val prod = s.read.parquet(mmrProdPath).withColumn("__hit", lit(1L))
      val exact = Ann.mmrRerank(e, queries, "vec_id", "embedding", "qid", "embedding",
        candidateK = 20, k = 5, lambda = 0.7)
      exact.select(col("query_id"), col("selected_id"))
        .join(prod, Seq("query_id", "selected_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("__hit"), lit(0L))).as("overlap_at_5"))
    },
      // per-query overlap of the materialized IVF-candidate MMR picks
      // against DuckDB's OWN exact-candidate MMR (the q172 replay, nested
      // as a subquery) — integer counts, no float hand-off
      oracle = Some(s"""WITH exact AS (SELECT * FROM (${mmrReplaySql(nQueries = 20, candidateK = 20, k = 5, lambda = 0.7)})),
        |prod AS (SELECT DISTINCT query_id, selected_id
        |  FROM read_parquet('$mmrProdPath/*.parquet'))
        |SELECT e.query_id,
        |  CAST(sum(CASE WHEN p.selected_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS overlap_at_5
        |FROM exact e LEFT JOIN prod p
        |  ON p.query_id = e.query_id AND p.selected_id = e.selected_id
        |GROUP BY e.query_id""".stripMargin)),

    // RETRIEVAL EVAL nDCG@10 (round 10): the metric that closes the loop
    // on the retrieval family — BM25's ranking (q165/q173's oracle-proven
    // machinery, "more like this" doc queries) scored against graded
    // metadata relevance (same source = 2, same language = 1). Discounts
    // 1/log2(i+1) and their prefix sums are compile-time constants shared
    // with the oracle; DCG folds in ascending-rank order; IDCG comes from
    // per-grade COUNTS (no sort over the judged set) — see RetrievalEval.
    Slot("q186_retrieval_ndcg", run = (s, dir) => {
      val d     = tbl(s, dir, "documents")
      val qText = d.filter(col("doc_id") < 5).select(col("doc_id").as("qid"), col("text"))
      val ranked = TermStats.bm25TopK(d, "doc_id", "text", qText, "qid", "text", k = 10)
        .select(col("query_id"), col("rank"), col("doc_id"))
      val qmeta = d.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("lang").as("__ql"), col("source").as("__qs"))
      val qrels = d.select(col("doc_id"), col("lang"), col("source"))
        .crossJoin(broadcast(qmeta))
        .select(col("query_id"), col("doc_id"),
          when(col("source") === col("__qs"), 2L)
            .when(col("lang") === col("__ql"), 1L).otherwise(0L).as("rel"))
      RetrievalEval.ndcgAtK(ranked, qrels, k = 10)
        .withColumnRenamed("dcg_at_k", "dcg_at_10")
        .withColumnRenamed("idcg_at_k", "idcg_at_10")
        .withColumnRenamed("ndcg_at_k", "ndcg_at_10")
    },
      // q173's BM25 replay (rn <= 10) + graded metadata relevance; the
      // discount and prefix constants interpolate from RetrievalEval so both
      // engines use identical doubles; DCG is an in-rank-order list_sum;
      // IDCG is the two-grade closed form over exact counts (bitwise equal
      // to the engine's generic grade fold: 0.0+x = x, 1.0*x = x, and the
      // prefix at 0 is the literal 0.0).
      // ORACLE PINNED to q186's {0, 1, 2} grading: RetrievalEval.ndcgAtK is
      // grade-generic, but this closed form enumerates exactly the grades
      // q186's qrels can emit (same-source = 2, same-lang = 1, else 0). If
      // the gate's grading rule ever gains another grade, extend the `cnt` /
      // `ide` CTEs with its count term — otherwise the engines diverge with
      // no error.
      oracle = Some({
      val wl = RetrievalEval.discounts(10).mkString("[", ", ", "]")
      val pl = RetrievalEval.discountPrefix(10).mkString("[", ", ", "]")
      s"""WITH q AS (SELECT doc_id AS query_id, text AS qtext FROM documents WHERE doc_id < 5),
        |qt AS (SELECT DISTINCT query_id,
        |  unnest(regexp_split_to_array(trim(lower(qtext)), '\\s+')) AS term FROM q),
        |t AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN []::VARCHAR[]
        |  ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS toks FROM documents),
        |dl AS (SELECT doc_id, len(toks) AS dl FROM t),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
        |tfc AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM (
        |  SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY 1, 2),
        |dfc AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tfc GROUP BY 1),
        |sc AS (SELECT qt.query_id, tfc.doc_id,
        |  round(sum(ln(1.0 + (st.n - dfc.df + 0.5) / (dfc.df + 0.5)) * tfc.tf * 2.2 /
        |    (tfc.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
        |  FROM tfc JOIN qt USING (term) JOIN dfc USING (term) JOIN dl USING (doc_id)
        |  CROSS JOIN st GROUP BY 1, 2),
        |ranked AS (SELECT query_id, doc_id, rn AS rank FROM (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id DESC) AS rn
        |  FROM sc) WHERE rn <= 10),
        |meta AS (SELECT doc_id AS query_id, lang AS ql, source AS qs FROM documents WHERE doc_id < 5),
        |rels AS (SELECT m.query_id, d.doc_id,
        |  CASE WHEN d.source = m.qs THEN 2 WHEN d.lang = m.ql THEN 1 ELSE 0 END AS rel
        |  FROM documents d CROSS JOIN meta m),
        |dcg AS (SELECT r.query_id,
        |  list_sum(list(CAST(rl.rel AS DOUBLE) * ($wl)[r.rank] ORDER BY r.rank)) AS dcg
        |  FROM ranked r JOIN rels rl ON rl.query_id = r.query_id AND rl.doc_id = r.doc_id
        |  GROUP BY r.query_id),
        |cnt AS (SELECT query_id,
        |  sum(CASE WHEN rel = 2 THEN 1 ELSE 0 END) AS n2,
        |  sum(CASE WHEN rel = 1 THEN 1 ELSE 0 END) AS n1,
        |  CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nj
        |  FROM rels GROUP BY query_id),
        |ide AS (SELECT query_id, nj,
        |  2.0 * (($pl)[CAST(least(10, n2) AS INT) + 1] - ($pl)[1]) +
        |  1.0 * (($pl)[CAST(least(10, least(10, n2) + n1) AS INT) + 1] -
        |         ($pl)[CAST(least(10, n2) AS INT) + 1]) AS idcg
        |  FROM cnt)
        |SELECT d2.query_id, i.nj AS n_judged, round(d2.dcg, 6) AS dcg_at_10,
        |  round(i.idcg, 6) AS idcg_at_10,
        |  round(CASE WHEN i.idcg = 0 THEN 0.0 ELSE d2.dcg / i.idcg END, 6) AS ndcg_at_10
        |FROM dcg d2 JOIN ide i USING (query_id)""".stripMargin
    })),

    // MARGIN-BASED BITEXT MINING (round 10; Artetxe & Schwenk 2019 — the
    // CCMatrix parallel-pair miner): even vec_ids play the source
    // language, odd the target; per source, the argmax candidate by
    // cos/(neighborhood densities) — the ratio margin that demotes hub
    // sentences raw cosine cannot. Every cosine is the q18-parity kernel;
    // each normalizer folds exactly k cosines in rank order; the oracle
    // replays both kNN passes and the full margin chain declaratively.
    Slot("q187_bitext_margin", run = (s, dir) => {
      val e  = tbl(s, dir, "embeddings")
      val xs = e.where(col("vec_id") % 2 === 0 && col("vec_id") < 120)
        .select(col("vec_id").as("id"), col("embedding").as("v"))
      val xc = e.where(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("id"), col("embedding").as("v"))
      val yc = e.where(col("vec_id") % 2 =!= 0)
        .select(col("vec_id").as("id"), col("embedding").as("v"))
      Bitext.minePairs(xs, yc, xc, "id", "v", "id", "v", k = 4)
        .select(col("x_id"), col("y_id"),
          round(col("cosine"), 6).as("cosine"), round(col("margin"), 6).as("margin"))
    },
      // full replay of both kNN passes (the q18/q172 cosine + tie-break
      // conventions) and the margin chain: rank-ordered degree folds / 2k,
      // one division, argmax by (margin DESC, y ASC) — the shared
      // bitextExactPicksSql val, rounded here; q188 nests it unrounded
      oracle = Some(s"""SELECT x_id, y_id, round(cos, 6) AS cosine, round(margin, 6) AS margin
        |FROM ($bitextExactPicksSql)""".stripMargin)),

    // corpus x corpus bitext mining at constant cell size — BOTH kNN
    // passes on the probe join (q187's exact dial bounds the query batch
    // instead); the margin tail is identical and q187-oracle-proven, and
    // the picks themselves are hash-gated against exact mining by q188
    Slot("q187_bitext_prod", run = (s, dir) => {
      val e  = tbl(s, dir, "embeddings")
      val xc = e.where(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("id"), col("embedding").as("v"))
      val yc = e.where(col("vec_id") % 2 =!= 0)
        .select(col("vec_id").as("id"), col("embedding").as("v"))
      val c = math.max(8L, yc.count() / 256L).toInt
      Bitext.minePairsIvf(xc, yc, "id", "v", "id", "v",
          k = 4, numCentroids = c, nprobe = 2)
        .select(col("x_id"), col("y_id"),
          round(col("cosine"), 6).as("cosine"), round(col("margin"), 6).as("margin"))
    },
      oracle = None),

    // BITEXT-PROD OVERLAP GATE (round 11, the q185 shape — VERDICT r10
    // task 1): the production twin (q187_bitext_prod's dial — BOTH kNN
    // passes on constant-cell knnJoin, so candidate divergence compounds
    // TWICE) materializes its mined pairs, and both engines measure each
    // bounded-slice source's pick against their OWN exact minePairs (the
    // q187 dial). matched is an exact 0/1 integer per source; partial
    // agreement is the EXPECTED reading — the gate makes the two-pass
    // approximation's cost measurable instead of argued.
    Slot("q188_bitext_prod_overlap", run = (s, dir) => {
      val e  = tbl(s, dir, "embeddings")
      val xc = e.where(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("id"), col("embedding").as("v"))
      val yc = e.where(col("vec_id") % 2 =!= 0)
        .select(col("vec_id").as("id"), col("embedding").as("v"))
      val c = math.max(8L, yc.count() / 256L).toInt
      Bitext.minePairsIvf(xc, yc, "id", "v", "id", "v",
          k = 4, numCentroids = c, nprobe = 2)
        .select(col("x_id"), col("y_id"))
        .write.mode("overwrite").parquet(bitextProdPath)
      val prod = s.read.parquet(bitextProdPath)
        .select(col("x_id"), col("y_id").as("__prod_y"))
      val xs = e.where(col("vec_id") % 2 === 0 && col("vec_id") < 120)
        .select(col("vec_id").as("id"), col("embedding").as("v"))
      Bitext.minePairs(xs, yc, xc, "id", "v", "id", "v", k = 4)
        .select(col("x_id"), col("y_id").as("exact_y"))
        .join(prod, Seq("x_id"), "left")
        .select(col("x_id"), col("exact_y"),
          coalesce(col("__prod_y"), lit(-1L)).as("prod_y"),
          when(col("__prod_y") === col("exact_y"), 1L).otherwise(0L).as("matched"))
    },
      // q188: DuckDB's OWN exact picks (the q187 replay) LEFT JOIN the
      // materialized IVF-mined pairs — match flags are exact 0/1 integers,
      // no float hand-off
      oracle = Some(s"""WITH exact AS (SELECT x_id, y_id FROM ($bitextExactPicksSql)),
        |prod AS (SELECT x_id, y_id FROM read_parquet('$bitextProdPath/*.parquet'))
        |SELECT e.x_id, e.y_id AS exact_y,
        |  coalesce(p.y_id, -1) AS prod_y,
        |  CAST(CASE WHEN p.y_id = e.y_id THEN 1 ELSE 0 END AS BIGINT) AS matched
        |FROM exact e LEFT JOIN prod p USING (x_id)""".stripMargin)),

    // RRF-PROD OVERLAP GATE (round 11, the q185 shape — VERDICT r10
    // task 2): q173_rrf_prod's fused top-10 (IVF semantic arm at
    // constant cell size; lexical arm identical) materialized, then both
    // engines count per-query overlap against their OWN exact fusion
    // (q173's brute-force semantic arm). Overlap counts are exact
    // integers; only the semantic arm's candidate set can diverge, and
    // the lexical arm anchors the fusion, so high overlap is the
    // expected reading — now measured, not argued.
    Slot("q189_rrf_prod_overlap", run = (s, dir) => {
      val d     = tbl(s, dir, "documents")
      val e     = tbl(s, dir, "embeddings")
      val c     = math.max(8L, e.count() / 256L).toInt
      val qText = d.filter(col("doc_id") < 5).select(col("doc_id").as("qid"), col("text"))
      val qVec  = e.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding"))
      // lex feeds BOTH fusions (the materialized prod arm and the exact
      // arm) — two actions, so the whole BM25 pipeline (tokenize + tf/df
      // aggregation over every document) executed twice per run; the phase
      // profile put it at ~2/3 of the slot (guide §2.4 — don't compute it
      // twice). The ranked list is |queries|·k = 100 rows: localCheckpoint
      // materializes it once, eagerly, with no cache-lifetime leak
      // (ContextCleaner frees the blocks when the result is dropped).
      // Row set and both fusions' inputs are unchanged.
      val lex = TermStats.bm25TopK(d, "doc_id", "text", qText, "qid", "text", k = 20)
        .select(col("query_id"), col("rank"), col("doc_id"))
        .localCheckpoint()
      val semIvf = Ann.ivfTopK(e, qVec, "vec_id", "embedding", "qid", "embedding",
          k = 20, numCentroids = c, nprobe = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id").as("doc_id"))
      TermStats.rrfFuse(lex, semIvf, "doc_id", k = 10)
        .select(col("query_id"), col("doc_id"))
        .write.mode("overwrite").parquet(rrfProdPath)
      // dedup to mirror the oracle's SELECT DISTINCT over the same parquet:
      // rrfFuse's row_number top-10 cannot emit (query_id, doc_id) dups, but
      // if it ever did, only symmetric reads keep the gate measuring pick
      // divergence rather than engine-side double counting
      val prod = s.read.parquet(rrfProdPath)
        .dropDuplicates("query_id", "doc_id").withColumn("__hit", lit(1L))
      val semEx = Ann.bruteForceTopK(e, qVec, "vec_id", "embedding", "qid", "embedding", k = 20)
        .select(col("query_id"), col("rank"), col("neighbor_id").as("doc_id"))
      TermStats.rrfFuse(lex, semEx, "doc_id", k = 10)
        .select(col("query_id"), col("doc_id"))
        .join(prod, Seq("query_id", "doc_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("__hit"), lit(0L))).as("overlap_at_10"))
    },
      // q189: DuckDB's OWN exact fusion (the q173 replay) LEFT JOIN the
      // materialized IVF-armed fusion — per-query overlap as exact integers
      oracle = Some(s"""WITH exact AS (SELECT query_id, doc_id FROM ($rrfExactSql)),
        |prod AS (SELECT DISTINCT query_id, doc_id
        |  FROM read_parquet('$rrfProdPath/*.parquet'))
        |SELECT e.query_id,
        |  CAST(sum(CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS overlap_at_10
        |FROM exact e LEFT JOIN prod p
        |  ON p.query_id = e.query_id AND p.doc_id = e.doc_id
        |GROUP BY e.query_id""".stripMargin)),

    // CLIPPED SQ8 FIT, cross-engine (round 11 — VERDICT r10 task 5): the
    // outlier-robust per-dimension [p1, p99] grid fit (Sq8.fitClipped,
    // the exact sort-based percentile dial) on the embeddings fixture plus
    // a PLANTED 1000× wild row per the spec's threat model — min/max fit
    // would stretch every dimension's step ~1000× and collapse the code
    // range; the clipped fit must shrug it off. All arithmetic is double
    // end-to-end (the wild row is built in double space on both engines so
    // the 1000× product is IEEE-identical); Spark's exact `percentile` and
    // DuckDB's `quantile_cont` share the 1 + p·(n−1) linear-interpolation
    // definition.
    Slot("q191_sq8_clipped_fit", run = (s, dir) => {
      val base = tbl(s, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      val wild = base.filter(col("vec_id") === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("v"), x => x * lit(1000.0)).as("v"))
      Sq8.fitClipped(base.unionByName(wild), "v", pLow = 0.01, pHigh = 0.99)
        .select(col("dim"), round(col("lo"), 6).as("lo"), round(col("hi"), 6).as("hi"),
          round(col("step"), 8).as("step"))
    },
      // q191: the clipped grid fit replayed with quantile_cont (the same
      // 1 + p·(n−1) linear interpolation as Spark's exact `percentile`),
      // over double-cast values plus the SAME double-space 1000× wild row
      oracle = Some("""WITH base AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |wild AS (SELECT vec_id + 1000000 AS vec_id, list_transform(v, x -> x * 1000.0) AS v
        |  FROM base WHERE vec_id = 0),
        |all_rows AS (SELECT * FROM base UNION ALL SELECT * FROM wild),
        |ex AS (SELECT CAST(unnest(generate_series(1, len(v))) AS BIGINT) AS dim,
        |  unnest(v) AS x FROM all_rows),
        |q AS (SELECT dim, quantile_cont(x, 0.01) AS lo, quantile_cont(x, 0.99) AS hi
        |  FROM ex GROUP BY dim)
        |SELECT dim, round(lo, 6) AS lo, round(hi, 6) AS hi,
        |  round((hi - lo) / 255.0, 8) AS step FROM q""".stripMargin)),

    // bidirectional bitext mining at the production dial (round 12 —
    // VERDICT r11 task 5): BOTH directions' picks from constant-cell IVF
    // candidates, then the q192-oracle-proven union+max-margin+threshold
    // combine — one extra shuffle over rows already reduced to ≤|X|+|Y|
    // picks. Forward-direction quality is q188's measured gate; this
    // slot's job is the slope of the full bidirectional path.
    Slot("q192_bitext_bidi_prod", run = (s, dir) => {
      val e  = tbl(s, dir, "embeddings")
      val xc = e.where(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("id"), col("embedding").as("v"))
      val yc = e.where(col("vec_id") % 2 =!= 0)
        .select(col("vec_id").as("id"), col("embedding").as("v"))
      val c = math.max(8L, yc.count() / 256L).toInt
      Bitext.minePairsIvfBidirectional(xc, yc, "id", "v", "id", "v", k = 4,
          numCentroids = c, nprobe = 2, strategy = "union", marginThreshold = 1.0)
        .select(col("x_id"), col("y_id"),
          round(col("cosine"), 6).as("cosine"), round(col("margin"), 6).as("margin"))
    },
      oracle = None),

    // BIDIRECTIONAL BITEXT ACCEPTANCE (round 11 — VERDICT r10 task 8):
    // the paper's §3.2 semantics on bounded slices — mine per-x best y AND
    // per-y best x, union with max-margin dedup (a pair both directions
    // found carries bit-identical margins: same cos, same two normalizer
    // folds — IEEE mult is commutative), then the acceptance threshold cut
    // at 1.0 on RAW doubles (the q168/q172 threshold-parity precedent).
    // The oracle replays BOTH directions via the parameterized q187 SQL.
    Slot("q192_bitext_bidirectional", run = (s, dir) => {
      val e  = tbl(s, dir, "embeddings")
      val xc = e.where(col("vec_id") % 2 === 0 && col("vec_id") < 120)
        .select(col("vec_id").as("id"), col("embedding").as("v"))
      val yc = e.where(col("vec_id") % 2 =!= 0 && col("vec_id") < 120)
        .select(col("vec_id").as("id"), col("embedding").as("v"))
      Bitext.minePairsBidirectional(xc, yc, "id", "v", "id", "v", k = 4,
          strategy = "union", marginThreshold = 1.0)
        .select(col("x_id"), col("y_id"),
          round(col("cosine"), 6).as("cosine"), round(col("margin"), 6).as("margin"))
    },
      // q192: both mining directions replayed (roles swapped in the second),
      // the backward picks reoriented to (x, y), union + max-margin dedup,
      // raw-double threshold cut, rounding last
      oracle = Some({
      val fwd = bitextPicksSql(
        "vec_id % 2 = 0 AND vec_id < 120",
        "vec_id % 2 = 0 AND vec_id < 120",
        "vec_id % 2 <> 0 AND vec_id < 120")
      val bwd = bitextPicksSql(
        "vec_id % 2 <> 0 AND vec_id < 120",
        "vec_id % 2 <> 0 AND vec_id < 120",
        "vec_id % 2 = 0 AND vec_id < 120")
      s"""WITH f AS (SELECT x_id, y_id, cos, margin FROM ($fwd)),
        |b AS (SELECT y_id AS x_id, x_id AS y_id, cos, margin FROM ($bwd)),
        |u AS (SELECT x_id, y_id, max(cos) AS cos, max(margin) AS margin
        |  FROM (SELECT * FROM f UNION ALL SELECT * FROM b) GROUP BY x_id, y_id)
        |SELECT x_id, y_id, round(cos, 6) AS cosine, round(margin, 6) AS margin
        |FROM u WHERE margin >= 1.0""".stripMargin
    })),

    // SQ8 AT-REST-INDEX RECALL GATE (round 15, the q183 shape): the
    // assign-at-ingest path — codes + cell bucketed AT REST
    // (Ann.buildIvfIndex codec=sq8), queries answered against the layout
    // (Ann.queryIvfIndex) — materializes its top-10 at the exact dial
    // (nprobe = numCentroids, so the probe is complete and the only
    // approximation is the SQ8 codec itself), and both engines measure
    // recall@10 against their OWN exact float top-10 (q183's oracle SQL
    // verbatim over this slot's materialization path). Done-criterion
    // hash-parity with q183's gate: same fit, same decoded-space scoring
    // ⇒ the same recall readings row-for-row. The corpus-sweep slope of
    // this layout is the bench-only q183_sq8_ivf_atrest; partial-probe
    // recall and in-flight/at-rest set agreement are pinned in
    // AnnIndexSpec, and the floor+teeth pair lives in GateFloorSpec.
    Slot("q193_sq8_atrest_recall", run = (s, dir) => {
      val e   = tbl(s, dir, "embeddings")
      val idx = Table("graft_q193_atrest_idx")
      val cen = Table("graft_q193_atrest_cen")
      val fit = Table("graft_q193_atrest_fit")
      Ann.buildIvfIndex(s, e, "vec_id", "embedding", idx, cen,
        numCentroids = 8, numBuckets = 8, codec = "sq8", fitTable = Some(fit))
      val queries = e.filter(col("vec_id") < 50).select(col("vec_id").as("qid"), col("embedding"))
      val ann = Ann.queryIvfIndex(s, idx, cen, queries, "qid", "embedding", k = 10, nprobe = 8,
          fitTable = Some(fit))
      recallAt10(s, e, queries, ann, sq8AtrestPath)
    },
      // recall@10 of the materialized AT-REST sq8 IVF index query (build once
      // bucketed-by-cell, answer against the layout) — q183's oracle SQL
      // verbatim over this slot's materialization path: at the exact probe
      // dial the at-rest path and the in-flight frame search share fit and
      // decoded-space arithmetic, so the recall readings must hash-match
      // q183's row-for-row
      oracle = Some(recallAt10Sql(sq8AtrestPath))),

    // INCREMENTAL AT-REST IVF RECALL GATE (round 16 — VERDICT r15 task 2,
    // the q129 growth-gate pattern for the IVF family): build the sq8
    // index on HALF the corpus (even ids — the fit and centroids freeze
    // there), grow it to the full corpus with Ann.appendToIvfIndex (odd
    // ids encode against the PERSISTED fit/centroids, bucket-append), then
    // answer the q193 query batch at the exact probe dial against the
    // GROWN layout and measure recall@10 vs each engine's own exact float
    // top-10 (q193's oracle SQL verbatim over this slot's materialization
    // path). This is the staleness gate appendToIvfIndex's scaladoc
    // promises: quality under growth is re-measured, not assumed — the
    // half-corpus fit clips appended outliers to the frozen grid, and the
    // reading says whether that costs recall (floor+teeth in
    // GateFloorSpec). Build/append set agreement vs a fixed-fit in-flight
    // search is pinned in AnnIndexSpec.
    Slot("q194_sq8_append_recall", run = (s, dir) => {
      val e    = tbl(s, dir, "embeddings")
      val idx  = Table("graft_q194_append_idx")
      val cen  = Table("graft_q194_append_cen")
      val fit  = Table("graft_q194_append_fit")
      val seed = e.filter(col("vec_id") % 2 === 0)
      Ann.buildIvfIndex(s, seed, "vec_id", "embedding", idx, cen,
        numCentroids = 8, numBuckets = 8, codec = "sq8", fitTable = Some(fit))
      Ann.appendToIvfIndex(s, e.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding",
        idx, cen, numBuckets = 8, fitTable = Some(fit))
      val queries = e.filter(col("vec_id") < 50).select(col("vec_id").as("qid"), col("embedding"))
      val ann = Ann.queryIvfIndex(s, idx, cen, queries, "qid", "embedding", k = 10, nprobe = 8,
          fitTable = Some(fit))
      recallAt10(s, e, queries, ann, sq8AppendPath)
    },
      // recall@10 of the INCREMENTALLY GROWN at-rest sq8 index (build on
      // half, append the rest against the frozen fit/centroids, query the
      // grown layout at the exact probe dial) — q193's oracle SQL verbatim
      // over this slot's materialization path: the exact-dial answer set is
      // defined by the same decoded-space arithmetic, so the recall reading
      // measures exactly what the frozen-fit growth costs
      oracle = Some(recallAt10Sql(sq8AppendPath))),
  )

  /** Multimodal binary columns: stub and real image, audio and video codecs. */
  private def multimodalSlots: Seq[Slot] = Seq(
    // documents.text encoded to binary stands in for image payloads — the
    // bytes→meta decode is the deterministic STUB in Multimodal.stubDecode,
    // kept SQL-expressible so this entry has a full DuckDB oracle.
    Slot("q27_multimodal_meta", run = (s, dir) => {
      val imgs = tbl(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("img_bytes"))
      graft.multimodal.Multimodal.decodeImageMeta(imgs, "img_bytes")
        .select(col("doc_id"), col("meta.width").cast("long").as("width"),
          col("meta.height").cast("long").as("height"),
          col("meta.channels").cast("long").as("channels"), col("meta.format"))
    },
      // mirrors Multimodal.stubDecode: width=(len%1019)+1, height=((len*31)%761)+1
      oracle = Some("""SELECT doc_id,
        |CAST((octet_length(encode(text)) % 1019) + 1 AS BIGINT) AS width,
        |CAST(((octet_length(encode(text)) * 31) % 761) + 1 AS BIGINT) AS height,
        |CAST(3 AS BIGINT) AS channels, 'fake' AS format
        |FROM documents""".stripMargin)),

    // feature extraction (hash-derived stub embedding). The in-query filter
    // asserts the L2-norm==1/dim==16 invariant per row, which makes the
    // surviving output SQL-constant — so this has a full oracle: any broken
    // batch shape, dropped row, or denormalized vector turns the row red.
    Slot("q28_multimodal_features", run = (s, dir) => {
      val imgs = tbl(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("img_bytes"))
      val feats = graft.multimodal.Multimodal.extractFeatures(imgs, "img_bytes", dim = 16)
      feats.select(col("doc_id"),
          round(graft.functions.VectorFunctions.l2Norm(col("features")), 4).as("l2"),
          size(col("features")).cast("long").as("dim"))
        .where(col("l2") === 1.0 && col("dim") === 16)
    },
      // the invariant filter makes the surviving rows SQL-constant
      oracle = Some("SELECT doc_id, CAST(1.0 AS DOUBLE) AS l2, CAST(16 AS BIGINT) AS dim FROM documents")),

    // multimodal resize + frame-sampling plumbing: fixed target bytes and
    // frame count make the shape columns SQL-constant (decode is the
    // documented stub; batch shape and schema evolution are the contract)
    Slot("q53_multimodal_resize", run = (s, dir) => {
      val imgs = tbl(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("img_bytes"))
      val resized = graft.multimodal.Multimodal.resizeImage(imgs, "img_bytes", "resized", targetBytes = 64)
      val framed  = graft.multimodal.Multimodal.sampleFrames(resized, "resized", "frames", frames = 4)
      framed.select(col("doc_id"),
        octet_length(col("resized")).cast("long").as("resized_len"),
        size(col("frames")).cast("long").as("n_frames"),
        // frame payloads must tile the resized payload exactly
        aggregate(col("frames"), lit(0L), (acc, f) => acc + octet_length(f)).as("frame_bytes"))
        .where(col("resized_len") === 64 && col("n_frames") === 4 && col("frame_bytes") === 64)
    },
      oracle = Some("""SELECT doc_id, CAST(64 AS BIGINT) AS resized_len, CAST(4 AS BIGINT) AS n_frames,
        |CAST(64 AS BIGINT) AS frame_bytes FROM documents""".stripMargin)),

    // REAL image header decode (javax.imageio, no stub) with a full oracle:
    // payloads are deterministic gray PNGs rendered from row data
    // (synthGrayImages), so the decoded metadata is a pure function of
    // doc_id that DuckDB can predict
    Slot("q89_image_meta", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"))
      val imgs = graft.multimodal.Multimodal.synthGrayImages(d,
        seed = col("doc_id"), width = col("doc_id") % 17 + 8, height = col("doc_id") % 13 + 8)
      graft.multimodal.Multimodal.decodeImageMeta(imgs, "img_bytes")
        .select(col("doc_id"), col("meta.width").cast("long").as("width"),
          col("meta.height").cast("long").as("height"),
          col("meta.channels").cast("long").as("channels"), col("meta.format"))
    },
      // synthGrayImages renders a (doc_id%17+8) × (doc_id%13+8) single-band
      // PNG per row; the REAL javax.imageio header decode must read exactly
      // that back
      oracle = Some("""SELECT doc_id, doc_id % 17 + 8 AS width, doc_id % 13 + 8 AS height,
        |CAST(1 AS BIGINT) AS channels, 'png' AS format FROM documents""".stripMargin)),

    // perceptual image near-dup: dHash64 + pigeonhole hamming blocking.
    // Docs sharing doc_id % 40 render the SAME base image, brightened by a
    // per-doc saturation-free delta — dHash is exactly invariant to that,
    // so the pair set (hamming 0) is the same-seed pair set, SQL-exact.
    // Cross-seed images sit ~32 hamming bits apart (floor asserted in
    // ImageCodecSpec), far above maxHamming=4.
    Slot("q90_image_neardup", run = (s, dir) => {
      // constant 20-member image groups (floor(doc_id/20)) so the pair-list
      // answer grows linearly with the corpus — the %40 dial made group
      // size, and therefore the true answer, quadratic in rows (47x at the
      // sf1 sweep). Brightness deltas stay: dHash is gradient-based, so the
      // brightened variants still land in the same near-dup component.
      val d = tbl(s, dir, "documents").select(col("doc_id"))
      val imgs = graft.multimodal.Multimodal.synthGrayImages(d,
        seed = floor(col("doc_id") / 20), width = lit(32), height = lit(24),
        brightenDelta = (col("doc_id") % 3) * 10)
      val hashed = graft.multimodal.Multimodal.imageDHash(imgs, "img_bytes")
      Dedup.nearDupPairsHash64(hashed, "doc_id", "dhash",
          maxHamming = 4, maxBucketSize = 100000)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
    },
      // same-base pairs (doc_id % 40) — dHash is brightness-shift invariant
      // (saturation-free deltas), so same-base hashes are identical and no
      // cross-base pair comes within hamming 4
      oracle = Some("""SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS BIGINT) AS hamming
        |FROM documents a JOIN documents b
        |ON a.doc_id // 20 = b.doc_id // 20 AND a.doc_id < b.doc_id""".stripMargin)),

    // REAL resample: decode → bilinear 16×12 → re-encode → decode again;
    // the round-tripped header metadata is SQL-constant
    Slot("q91_image_resize", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"))
      val imgs = graft.multimodal.Multimodal.synthGrayImages(d,
        seed = col("doc_id"), width = col("doc_id") % 17 + 8, height = col("doc_id") % 13 + 8)
      val resized = graft.multimodal.Multimodal.resizeTo(imgs, "img_bytes", "resized", 16, 12)
      graft.multimodal.Multimodal.decodeImageMeta(resized.drop("img_bytes"), "resized")
        .select(col("doc_id"), col("meta.width").cast("long").as("width"),
          col("meta.height").cast("long").as("height"),
          col("meta.channels").cast("long").as("channels"), col("meta.format"))
    },
      // decode → bilinear 16×12 → re-encode round trip: constant output header
      oracle = Some("""SELECT doc_id, CAST(16 AS BIGINT) AS width, CAST(12 AS BIGINT) AS height,
        |CAST(1 AS BIGINT) AS channels, 'png' AS format FROM documents""".stripMargin)),

    // REAL WAV header decode with a full oracle: payloads are deterministic
    // square-wave WAVs rendered from row data (synthSquareWavs), so the
    // decoded header is a pure function of doc_id
    Slot("q94_audio_meta", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"))
      val wavs = graft.multimodal.Multimodal.synthSquareWavs(d,
        period = col("doc_id") % 9 + 2, frames = col("doc_id") % 500 + 100)
      graft.multimodal.Multimodal.decodeAudioMeta(wavs, "wav_bytes")
        .select(col("doc_id"),
          col("meta.sample_rate").cast("long").as("sample_rate"),
          col("meta.channels").cast("long").as("channels"),
          col("meta.bits").cast("long").as("bits"),
          col("meta.frames").as("frames"), col("meta.format"))
    },
      // synthSquareWavs writes 16-bit mono 8 kHz WAV with doc_id%500+100
      // frames; the REAL javax.sound header decode must read exactly that back
      oracle = Some("""SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate, CAST(1 AS BIGINT) AS channels,
        |CAST(16 AS BIGINT) AS bits, doc_id % 500 + 100 AS frames, 'wav' AS format
        |FROM documents""".stripMargin)),

    // REAL PCM decode + signal features with a full oracle: the square
    // wave's rms is exactly 0.5 (amplitude 16384/32768) and its strict
    // sign-change count is floor((frames-1)/period) — both closed-form
    Slot("q95_audio_features", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"))
      val wavs = graft.multimodal.Multimodal.synthSquareWavs(d,
        period = col("doc_id") % 9 + 2, frames = col("doc_id") % 500 + 100)
      graft.multimodal.Multimodal.audioFeatures(wavs, "wav_bytes")
        .select(col("doc_id"), round(col("audio.rms"), 6).as("rms"),
          col("audio.zero_crossings"), col("audio.frames"))
    },
      // square wave closed forms: rms = 16384/32768 = 0.5 exactly;
      // strict sign-change count = floor((frames-1)/period)
      oracle = Some("""SELECT doc_id, CAST(0.5 AS DOUBLE) AS rms,
        |(doc_id % 500 + 100 - 1) // (doc_id % 9 + 2) AS zero_crossings,
        |doc_id % 500 + 100 AS frames FROM documents""".stripMargin)),

    // REAL multi-frame sampling with a full oracle: animated GIFs (the one
    // multi-frame container the JVM decodes) with doc_id%7+2 frames; the
    // sampler keeps min(4, n) evenly-spaced frames, each re-encoded PNG
    // whose decoded header is constant — sampled count AND per-frame
    // dimensions are closed-form in doc_id
    Slot("q96_video_frames", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"))
      val gifs = graft.multimodal.Multimodal.synthAnimatedGifs(d,
        seed = col("doc_id"), nFrames = col("doc_id") % 7 + 2, width = 20, height = 10)
      val sampled = graft.multimodal.Multimodal.sampleGifFrames(gifs, "gif_bytes", "frames", frames = 4)
      val ex = sampled.select(col("doc_id"),
        posexplode(col("frames")).as(Seq("frame_idx", "frame")))
      graft.multimodal.Multimodal.decodeImageMeta(ex, "frame")
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("meta.width").cast("long").as("width"),
          col("meta.height").cast("long").as("height"), col("meta.format"))
    },
      // min(4, doc_id%7+2) sampled frames per doc, each decoding as a
      // 20×10 gray PNG
      oracle = Some("""SELECT doc_id, unnest(generate_series(0, least(4, doc_id % 7 + 2) - 1)) AS frame_idx,
        |CAST(20 AS BIGINT) AS width, CAST(10 AS BIGINT) AS height, 'png' AS format
        |FROM documents""".stripMargin)),

    // transitive perceptual image dedup: q90's twin groups collapse onto
    // their min-id member via dHash pairs + connected components — the
    // survivor set is closed-form (min doc_id per doc_id%40 base group)
    Slot("q100_image_dedup", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"))
      val imgs = graft.multimodal.Multimodal.synthGrayImages(d,
        seed = col("doc_id") % 40, width = lit(32), height = lit(24),
        brightenDelta = (col("doc_id") % 3) * 10)
      val hashed = graft.multimodal.Multimodal.imageDHash(imgs, "img_bytes")
      Dedup.dedupHash64Transitive(hashed, "doc_id", "dhash",
          maxHamming = 4, maxBucketSize = 100000)
        .select(col("doc_id"))
    },
      // every doc belongs to its doc_id%40 base group; the min id survives
      oracle = Some("""SELECT doc_id FROM documents
        |WHERE doc_id = (SELECT min(b.doc_id) FROM documents b
        |  WHERE b.doc_id % 40 = documents.doc_id % 40)""".stripMargin)),

    // incremental perceptual image dedup: dHash pigeonhole index persisted
    // for seed groups 0-19; the arriving batch (all 40 seed groups, with
    // brightness variants) keeps exactly the unseen groups — survivors are
    // closed-form (dHash is brightness-invariant in the fixture range,
    // cross-seed hamming floor > 4 per ImageCodecSpec)
    Slot("q118_image_dedup_incremental", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"))
      val storeImgs = graft.multimodal.Multimodal.synthGrayImages(
        d.filter(col("doc_id") < 20), seed = col("doc_id"),
        width = lit(32), height = lit(24), brightenDelta = lit(0))
      val storeHashed = graft.multimodal.Multimodal.imageDHash(storeImgs, "img_bytes")
        .select(col("doc_id"), col("dhash"))
      val index = Table("graft_q118_dhash_index")
      IncrementalDedup.buildHash64Index(s, storeHashed, "doc_id", "dhash", index, maxHamming = 4)
      val batchImgs = graft.multimodal.Multimodal.synthGrayImages(d,
        seed = col("doc_id") % 40, width = lit(32), height = lit(24),
        brightenDelta = (col("doc_id") % 3) * 10)
      val batchHashed = graft.multimodal.Multimodal.imageDHash(batchImgs, "img_bytes")
      IncrementalDedup.dedupHash64Incremental(s, batchHashed, "doc_id", "dhash", index,
          maxHamming = 4, updateIndex = false)
        .select(col("doc_id"))
    },
      // stored seed groups 0-19 absorb every batch doc in those groups
      oracle = Some("SELECT doc_id FROM documents WHERE doc_id % 40 >= 20")),

    // video near-dup via shared sampled-keyframe hashes: same seed group ⇒
    // byte-identical frames ⇒ closed-form pairs; seed spacing (×1000) keeps
    // frame sequences of different groups disjoint
    Slot("q119_video_neardup", run = (s, dir) => {
      // group = floor(doc_id/20): CONSTANT group size at every scale, so the
      // pair-report output (all intra-group pairs — videos in a group share
      // all frames) grows LINEARLY with the corpus. The earlier doc_id%25
      // dial made group size — and the true answer — grow with the corpus,
      // which probes output volume, not the operator (SCALE.md, r8).
      val d = tbl(s, dir, "documents").select(col("doc_id"))
      val vg = floor(col("doc_id") / 20)
      val gifs = graft.multimodal.Multimodal.synthAnimatedGifs(d,
        seed = vg * 1000,
        nFrames = vg % 3 + 3, width = 16, height = 12)
      graft.multimodal.Multimodal.videoNearDupPairs(gifs, "doc_id", "gif_bytes",
        sampleFrames = 4, minShared = 2)
    },
      // same-group videos share ALL sampled frames: group g has g%3+3 frames,
      // sampling picks min(4, n) of them
      oracle = Some("""SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |CAST(least(4, (a.doc_id // 20) % 3 + 3) AS BIGINT) AS shared_frames
        |FROM documents a JOIN documents b
        |ON a.doc_id < b.doc_id AND a.doc_id // 20 = b.doc_id // 20""".stripMargin)),

    // audio near-dup: perceptual audioHash64 over pseudo-noise fixtures —
    // same seed group ⇒ identical hash, cross-group bits are coin flips
    // (P(hamming<=4) ~ 1e-13), so transitive dedup keeps min-id per group
    Slot("q120_audio_dedup", run = (s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"))
      val wavs = graft.multimodal.Multimodal.synthNoiseWavs(d,
        seed = col("doc_id") % 30, frames = lit(4000))
      val hashed = graft.multimodal.Multimodal.audioHash(wavs, "wav_bytes")
      Dedup.dedupHash64Transitive(hashed, "doc_id", "ahash",
          maxHamming = 4, maxBucketSize = 100000)
        .select(col("doc_id"))
    },
      // min id survives per doc_id%30 audio seed group
      oracle = Some("""SELECT doc_id FROM documents
        |WHERE doc_id = (SELECT min(b.doc_id) FROM documents b
        |  WHERE b.doc_id % 30 = documents.doc_id % 30)""".stripMargin)),
  )

  /** Streaming: file streams drained to completion with AvailableNow. */
  private def streamingSlots: Seq[Slot] = Seq(
    // streaming Autoloader analog: AvailableNow file stream into a table
    Slot("q26_streaming_load", run = (s, dir) => {
      allowNanos(s)
      val out = Table("graft_q26_events")
      // Fresh checkpoint each run → recreate the output table for a
      // deterministic result (stale orphan locations are cleared inside
      // StreamingLoad).
      TableIO.prepareCreate(s, out)
      val ckpt   = s"$scratch/ckpt_q26_${java.util.UUID.randomUUID().toString.take(8)}"
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      StreamingLoad.run(s, File(s"$dir/events.parquet", Some(FileType.Parquet)),
        schema, out, ckpt)
      s.table(out.qualifiedName)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("total_value"))
    },
      oracle = Some("""SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS total_value
        |FROM events GROUP BY event_type""".stripMargin)),

    // stateful streaming sessionization WITH a full oracle: a far-future
    // sentinel event in a second micro-batch pushes the watermark past every
    // real session, so the append-mode output is exactly the batch-SQL
    // sessionization (gap semantics mirrored in DuckDB lag/cumsum SQL).
    Slot("q32_streaming_sessionize", run = (s, dir) => {
      allowNanos(s)
      import s.implicits._
      val ev0 = s.read.parquet(s"$dir/events.parquet")
      val ev  = ev0.select(col("user_id"), epochSec(ev0, "ts").as("sec"))
      val maxSec = ev.agg(max("sec")).collect()(0).getLong(0)
      val stream = twoBatchStream(s, "q32",
        ev.select(col("user_id").cast("long"), col("sec").cast("timestamp").as("ts")),
        Seq((-1L, maxSec + 10L * 86400)).toDF("user_id", "sec")
          .select(col("user_id").cast("long"), col("sec").cast("timestamp").as("ts")))
      val sessions = graft.streaming.Sessionize.sessionize(
        stream(), "user_id", "ts", gapSeconds = 3600, watermark = "0 seconds")
      drainToMemory(s, "q32", sessions.toDF()).where(col("key") =!= "-1")
        .select(col("key").cast("long").as("user_id"),
          col("session_start").cast("long").as("session_start"),
          col("session_end").cast("long").as("session_end"), col("events"))
    },
      // mirrors Sessionize gap semantics: same session iff gap < 3600s
      oracle = Some("""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS tsec FROM events),
        |m AS (SELECT user_id, tsec,
        |  CASE WHEN lag(tsec) OVER w IS NULL OR tsec - lag(tsec) OVER w >= 3600
        |       THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsec)),
        |g AS (SELECT user_id, tsec,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY tsec ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, CAST(min(tsec) AS BIGINT) AS session_start,
        |  CAST(max(tsec) AS BIGINT) AS session_end, CAST(count(*) AS BIGINT) AS events
        |FROM g GROUP BY user_id, sid""".stripMargin)),

    // streaming windowed aggregation (watermark + tumbling event-time
    // window), made oracle-exact by the far-future sentinel second batch
    Slot("q34_streaming_window", run = (s, dir) => {
      allowNanos(s)
      import s.implicits._
      val ev0 = s.read.parquet(s"$dir/events.parquet")
      val ev  = ev0.select(col("event_type"), epochSec(ev0, "ts").as("sec"))
      val maxSec = ev.agg(max("sec")).collect()(0).getLong(0)
      val stream = twoBatchStream(s, "q34",
        ev.select(col("event_type"), col("sec").cast("timestamp").as("ts")),
        Seq(("__sentinel", maxSec + 10L * 86400)).toDF("event_type", "sec")
          .select(col("event_type"), col("sec").cast("timestamp").as("ts")))
      val counts = StreamingLoad.windowedCounts(stream(), "ts", "event_type",
        windowDuration = "1 hour", watermark = "0 seconds")
      drainToMemory(s, "q34", counts).where(col("event_type") =!= "__sentinel")
        .select(col("event_type"), col("window.start").cast("long").as("win_start"),
          col("cnt"))
    },
      // tumbling 1h event-time windows are epoch-aligned in both engines
      oracle = Some("""WITH e AS (SELECT event_type, epoch_ns(ts) // 1000000000 AS tsec FROM events)
        |SELECT event_type, CAST(tsec // 3600 * 3600 AS BIGINT) AS win_start,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM e GROUP BY event_type, tsec // 3600 * 3600""".stripMargin)),

    // streaming exact-dedup: dropDuplicates state carries across
    // micro-batches (the keys are split over two batches on purpose), so
    // the emitted key set equals batch DISTINCT regardless of batch layout
    Slot("q44_streaming_dedup", run = (s, dir) => {
      allowNanos(s)
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("event_type"))
      val stream = twoBatchStream(s, "q44",
        ev.where(col("user_id") % 2 === 0), ev.where(col("user_id") % 2 =!= 0))
      drainToMemory(s, "q44", stream().dropDuplicates("user_id", "event_type")
        .select(col("user_id"), col("event_type")))
    },
      oracle = Some("SELECT DISTINCT user_id, event_type FROM events")),

    // stream-stream interval join: purchases ⋈ clicks within the preceding
    // hour, both sides streaming — inner-join output is complete independent
    // of watermark pace (matches emit with the later arrival); the generous
    // watermark here disables eviction at fixture scale, production uses the
    // real lateness bound so state stays O(lag window) per key
    Slot("q63_stream_stream_join", run = (s, dir) => {
      allowNanos(s)
      val ev0 = s.read.parquet(s"$dir/events.parquet")
      val ev = ev0.select(col("user_id"), col("event_id"), col("event_type"),
        epochSec(ev0, "ts").as("sec"))
      val src = twoBatchStream(s, "q63",
        ev.where(col("event_id") % 2 === 0), ev.where(col("event_id") % 2 =!= 0))
      val buys = src().where(col("event_type") === "purchase").select(
        col("user_id").as("buy_user"), col("event_id").as("buy_id"),
        col("sec").cast("timestamp").as("buy_ts"))
      val clicks = src().where(col("event_type") === "click").select(
        col("user_id").as("click_user"), col("event_id").as("click_id"),
        col("sec").cast("timestamp").as("click_ts"))
      val joined = graft.streaming.StreamJoin.intervalJoin(
        buys, "buy_user", "buy_ts", clicks, "click_user", "click_ts",
        maxLagSeconds = 3600, watermarkDelay = "3650 days")
      drainToMemory(s, "q63",
        joined.select(col("buy_user").as("user_id"), col("buy_id"), col("click_id")))
    },
      oracle = Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000000000 AS sec FROM events),
        |p AS (SELECT user_id, event_id AS buy_id, sec AS buy_sec FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS click_id, sec AS click_sec FROM e WHERE event_type = 'click')
        |SELECT p.user_id, buy_id, click_id FROM p JOIN c ON p.user_id = c.user_id
        |AND c.click_sec >= p.buy_sec - 3600 AND c.click_sec <= p.buy_sec""".stripMargin)),

    // streaming dedup with bounded state: dropDuplicatesWithinWatermark
    // evicts keys once the watermark passes them — the production shape for
    // endless streams, where q44's plain dropDuplicates would grow state
    // forever. Keys are split across the two micro-batches by user_id
    // parity, so no key recurs beyond the watermark and the complete output
    // equals batch DISTINCT.
    Slot("q106_streaming_dedup_watermark", run = (s, dir) => {
      allowNanos(s)
      val ev0 = s.read.parquet(s"$dir/events.parquet")
      val ev = ev0.select(col("user_id"), col("event_type"),
        timestamp_seconds(epochSec(ev0, "ts")).as("event_ts"))
      val stream = twoBatchStream(s, "q106",
        ev.where(col("user_id") % 2 === 0), ev.where(col("user_id") % 2 =!= 0))
      drainToMemory(s, "q106", stream().withWatermark("event_ts", "10 minutes")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type")))
    },
      oracle = Some("SELECT DISTINCT user_id, event_type FROM events")),

    // STREAMING WEIGHTED RESERVOIR (round 9): the corpus arrives as two
    // micro-batches; a bounded n-row reservoir folds in each batch's A-ES
    // top-n. Because A-ES ranks are content-derived and top-n is
    // merge-closed, the final reservoir is EXACTLY the batch sample —
    // hash-checked against the same plain-SQL oracle as q160.
    Slot("q175_streaming_weighted_sample", run = (s, dir) => {
      allowNanos(s)
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      val stream = twoBatchStream(s, "q175",
        d.where(col("doc_id") % 2 === 0), d.where(col("doc_id") % 2 =!= 0))
      val reservoir = Table(s"graft_q175_${java.util.UUID.randomUUID().toString.take(8)}")
      val ckpt = s"$scratch/ckpt_q175_${java.util.UUID.randomUUID().toString.take(8)}"
      withStatePartitions(s, 8) {
        StreamingSample.weightedReservoirSink(
          s, stream(), "doc_id", "n_chars", n = 100, reservoir, ckpt)
      }
      s.table(reservoir.qualifiedName)
    },
      // identical to q160's oracle: the streaming reservoir's contract is
      // "ends at exactly the batch A-ES sample" — same md5-derived uniforms,
      // same u^(1/w) rank, same (rank DESC, doc_id ASC) total order
      oracle = Some("""SELECT doc_id, n_chars FROM documents
        |WHERE n_chars IS NOT NULL AND n_chars > 0
        |ORDER BY pow((('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5)
        |  / 4294967296.0, 1.0 / n_chars) DESC, doc_id
        |LIMIT 100""".stripMargin)),

    // STREAMING HEAVY HITTERS (round 9): the corpus arrives as two
    // micro-batches; each folds one sketch pass into the persisted MG
    // store (q178's law, driven through foreachBatch), and the final
    // recount over the accumulated corpus is exactly the batch top-10.
    Slot("q181_streaming_heavy_hitters", run = (s, dir) => {
      allowNanos(s)
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val stream = twoBatchStream(s, "q181",
        d.where(col("doc_id") % 2 === 0), d.where(col("doc_id") % 2 =!= 0))
      val store = Table(s"graft_q181_${java.util.UUID.randomUUID().toString.take(8)}")
      val ckpt  = s"$scratch/ckpt_q181_${java.util.UUID.randomUUID().toString.take(8)}"
      withStatePartitions(s, 8) {
        StreamingHitters.hitterStoreSink(s, stream(), "text", capacity = 4096, store, ckpt)
      }
      HeavyHitters.topKTermsFromStore(s, d, "text", store, k = 10)
    },
      // exact top-k by the q76 token rule — stream arrival must be invisible
      oracle = Some("""WITH toks AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE trim(text) <> '')
        |SELECT term, CAST(count(*) AS BIGINT) AS n FROM toks
        |GROUP BY term ORDER BY n DESC, term ASC LIMIT 10""".stripMargin)),
  )

  /** The exact-cosine CTEs every DuckDB kNN oracle starts from: `q` holds
    * the query rows that `q` selects (`query_id`, `qv`, ...), `sims` their
    * index-order double cosine against each `embeddings` row `e` that
    * passes `pairWhere` (a leading-space `WHERE` clause, or empty).
    */
  private def exactSimsSql(q: String, pairWhere: String = ""): String =
    s"""WITH q AS ($q),
       |sims AS (SELECT q.query_id, e.vec_id AS neighbor_id,
       |  list_sum(list_transform(generate_series(1, len(q.qv)),
       |    i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) /
       |  (sqrt(list_sum(list_transform(generate_series(1, len(q.qv)),
       |    i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))) *
       |   sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
       |    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))) AS cos
       |  FROM q CROSS JOIN embeddings e$pairWhere)""".stripMargin

  /** The embeddings with `vec_id < n` as the `q` of [[exactSimsSql]]. */
  private def firstQueries(n: Int): String =
    s"SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < $n"

  /** Exact top-`k` neighbours per query, ties to the higher neighbor_id —
    * q18's oracle.
    */
  private def exactTopKSql(q: String, pairWhere: String = "", k: Int = 10): String =
    exactSimsSql(q, pairWhere) +
      s"""
         |SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id, round(cos, 6) AS cosine FROM (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id DESC) AS rn
         |  FROM sims) WHERE rn <= $k""".stripMargin

  /** DuckDB side of the recall@10 gates: the production dial's top-10 that
    * [[recallAt10]] wrote to `path`, scored per query against DuckDB's OWN
    * exact top-10 of the first 50 embeddings (q18's tie-break).
    */
  private def recallAt10Sql(path: String): String =
    exactSimsSql(firstQueries(50)) +
      s""",
         |exact AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id DESC) AS rn
         |  FROM sims) WHERE rn <= 10),
         |ann AS (SELECT DISTINCT query_id, neighbor_id
         |  FROM read_parquet('$path/*.parquet'))
         |SELECT e.query_id,
         |  round(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 10.0, 3) AS recall_at_10
         |FROM exact e LEFT JOIN ann a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         |GROUP BY e.query_id""".stripMargin

  /** DuckDB oracles. Notes on cross-engine parity:
    *  - DuckDB `regexp_replace` needs the 'g' flag to match Spark's
    *    replace-all semantics.
    *  - list math is spelled out with DOUBLE casts so both engines accumulate
    *    in float64 (DuckDB's list_cosine_similarity is float32).
    *  - counts are CAST to BIGINT to match Spark's long.
    */
  /** q173's full exact hybrid-RRF replay — q165's BM25 arm ⊕ q18's exact
    * cosine arm, fused as Σ 1/(60+rank), top-10 per query. A val (not an
    * inline map literal) because q189's production-overlap gate nests it
    * verbatim as its exact side.
    */
  private val rrfExactSql: String =
    """WITH q AS (SELECT doc_id AS query_id, text AS qtext FROM documents WHERE doc_id < 5),
      |qt AS (SELECT DISTINCT query_id,
      |  unnest(regexp_split_to_array(trim(lower(qtext)), '\s+')) AS term FROM q),
      |t AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN []::VARCHAR[]
      |  ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks FROM documents),
      |dl AS (SELECT doc_id, len(toks) AS dl FROM t),
      |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
      |tfc AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM (
      |  SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY 1, 2),
      |dfc AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tfc GROUP BY 1),
      |sc AS (SELECT qt.query_id, tfc.doc_id,
      |  round(sum(ln(1.0 + (st.n - dfc.df + 0.5) / (dfc.df + 0.5)) * tfc.tf * 2.2 /
      |    (tfc.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) AS score
      |  FROM tfc JOIN qt USING (term) JOIN dfc USING (term) JOIN dl USING (doc_id)
      |  CROSS JOIN st GROUP BY 1, 2),
      |lex AS (SELECT query_id, doc_id, rn AS rank FROM (
      |  SELECT query_id, doc_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id DESC) AS rn
      |  FROM sc) WHERE rn <= 20),
      |qv AS (SELECT vec_id AS query_id, embedding AS v FROM embeddings WHERE vec_id < 5),
      |cs AS (SELECT q2.query_id, e.vec_id AS doc_id,
      |  list_sum(list_transform(generate_series(1, len(q2.v)),
      |    i -> CAST(q2.v[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) /
      |  (sqrt(list_sum(list_transform(generate_series(1, len(q2.v)),
      |    i -> CAST(q2.v[i] AS DOUBLE) * CAST(q2.v[i] AS DOUBLE)))) *
      |   sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
      |    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))) AS cos
      |  FROM qv q2 CROSS JOIN embeddings e),
      |sem AS (SELECT query_id, doc_id, rn AS rank FROM (
      |  SELECT query_id, doc_id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id DESC) AS rn
      |  FROM cs) WHERE rn <= 20),
      |f AS (SELECT coalesce(l.query_id, s.query_id) AS query_id,
      |  coalesce(l.doc_id, s.doc_id) AS doc_id,
      |  coalesce(1.0 / (60.0 + l.rank), 0.0) + coalesce(1.0 / (60.0 + s.rank), 0.0) AS rrf
      |  FROM lex l FULL OUTER JOIN sem s ON l.query_id = s.query_id AND l.doc_id = s.doc_id)
      |SELECT query_id, CAST(rn AS BIGINT) AS rank, doc_id, round(rrf, 6) AS rrf FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS rn
      |  FROM f) WHERE rn <= 10""".stripMargin

  /** Exact bitext-mining replay minus the final rounding projection —
    * (x_id, y_id, cos, margin) argmax-margin picks, with the three corpus
    * slices parameterized so q192 can replay BOTH mining directions.
    * Shared by the q187 oracle (which rounds), q188's production-overlap
    * gate (which joins the materialized IVF picks against it), and q192's
    * bidirectional oracle.
    */
  private def bitextPicksSql(xqWhere: String, xcWhere: String, ycWhere: String): String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |ev AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
      |xq AS (SELECT vec_id AS id, v, nrm FROM ev WHERE $xqWhere),
      |xc AS (SELECT vec_id AS id, v, nrm FROM ev WHERE $xcWhere),
      |yc AS (SELECT vec_id AS id, v, nrm FROM ev WHERE $ycWhere),
      |sxy AS (SELECT x.id AS x_id, y.id AS y_id,
      |  list_sum(list_transform(generate_series(1, len(x.v)), i -> x.v[i] * y.v[i])) / (x.nrm * y.nrm) AS cos
      |  FROM xq x CROSS JOIN yc y),
      |nnxy AS (SELECT x_id, y_id, cos, rn FROM (
      |  SELECT *, row_number() OVER (PARTITION BY x_id ORDER BY cos DESC, y_id DESC) AS rn
      |  FROM sxy) WHERE rn <= 4),
      |degx AS (SELECT x_id, list_sum(list(cos ORDER BY rn)) / 8.0 AS degx FROM nnxy GROUP BY x_id),
      |cand AS (SELECT DISTINCT y_id FROM nnxy),
      |syx AS (SELECT c.y_id, x.id AS cx_id,
      |  list_sum(list_transform(generate_series(1, len(y.v)), i -> y.v[i] * x.v[i])) / (y.nrm * x.nrm) AS cos
      |  FROM cand c JOIN yc y ON y.id = c.y_id CROSS JOIN xc x),
      |nnyx AS (SELECT y_id, cos, rn FROM (
      |  SELECT *, row_number() OVER (PARTITION BY y_id ORDER BY cos DESC, cx_id DESC) AS rn
      |  FROM syx) WHERE rn <= 4),
      |degy AS (SELECT y_id, list_sum(list(cos ORDER BY rn)) / 8.0 AS degy FROM nnyx GROUP BY y_id),
      |m AS (SELECT n.x_id, n.y_id, n.cos, n.cos / (dx.degx + dy.degy) AS margin
      |  FROM nnxy n JOIN degx dx USING (x_id) JOIN degy dy USING (y_id))
      |SELECT x_id, y_id, cos, margin FROM (
      |  SELECT *, row_number() OVER (PARTITION BY x_id ORDER BY margin DESC, y_id ASC) AS rn2
      |  FROM m) WHERE rn2 = 1""".stripMargin

  /** q187/q188's exact side: bounded even-id query batch, full corpora. */
  private val bitextExactPicksSql: String =
    bitextPicksSql("vec_id % 2 = 0 AND vec_id < 120", "vec_id % 2 = 0", "vec_id % 2 <> 0")

}
