package graftbench

import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.model.{File, FileType, IfExists, MergeConflict, Table}
import graft.ops._
import graft.similarity.Ann
import graft.sources.Xlsx
import graft.streaming.StreamingLoad
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, length}
import org.apache.spark.sql.types._

/** What an op call produced, and so how the harness finishes and checks it. */
sealed trait Out
object Out {
  /** A lazy result: a timed call writes it to the `noop` sink. */
  final case class Frame(df: DataFrame) extends Out
  /** The op wrote this catalog table itself. */
  final case class Written(table: Table) extends Out
  /** The op wrote these parquet files itself. */
  final case class Files(path: String) extends Out
  /** A driver-side result (check outcomes, dropped tables). */
  final case class Local(rows: Seq[Row], schema: StructType) extends Out
}

/** Where one set-up round's ops read and write. `work` is private to the
  * round; tables go to the round's own current database.
  */
final class Ctx(val spark: SparkSession, val data: String, val work: String) {
  private var n = 0
  /** A directory no earlier call of this round used. */
  def fresh(prefix: String): String = { n += 1; s"$work/$prefix-$n" }
}

/** One task of a workload: `deps` must run earlier in the same pass. */
final case class Op(name: String, module: String, deps: Seq[String], run: Ctx => Out)

/** `ingest` is the one-time set-up work a deployment does before its DAG runs. */
final case class Workload(name: String, ingest: Ctx => Unit, ops: Seq[Op])

/** The benchmark's workloads, written against the program's public API
  * (graft.ops, graft.sources, graft.streaming, graft.functions, graft.dedup,
  * graft.similarity) the way a pipeline author would call it.
  *
  * Every pass does the same work: loads and transforms replace their
  * tables, merges are idempotent once their first call has run, the append
  * target is recreated by its upstream transform, and the tables a pass
  * leaves behind are dropped by its own DropTable and Cleanup tasks.
  */
object Workloads {

  def named(name: String): Workload = name match {
    case "dag"    => dag
    case "curate" => curate
    case other    => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def written(t: Table) = Out.Written(t)

  // ---- dag: small astro-sdk tasks, bound by driver work ----

  private val orders    = Table("orders")
  private val customers = Table("customers")
  private val lineitem  = Table("lineitem")
  private val totals    = Table("_tmp_order_totals")
  private val ranked    = Table("_tmp_ranked")
  private val updates   = Table("customer_updates")
  private val backfill  = Table("orders_backfill")
  private val dimUpdate = Table("dim_customers")
  private val dimInsert = Table("dim_customers_insert_only")
  private val events    = Table("events_stream")

  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("cust_id", LongType),
    StructField("ts", TimestampType), StructField("type", StringType),
    StructField("value", DoubleType)))

  private val checkSchema = StructType(Seq(
    StructField("column", StringType), StructField("check", StringType),
    StructField("value", DoubleType), StructField("passed", BooleanType)))

  private val namedFlags = StructType(Seq(
    StructField("name", StringType), StructField("flag", BooleanType)))

  val dag: Workload = Workload("dag",
    ingest = c => {
      val s = c.spark
      LoadFile.toTable(s, File(s"${c.data}/customer_updates.parquet"), updates)
      LoadFile.toTable(s, File(s"${c.data}/orders_backfill.parquet"), backfill)
      LoadFile.toTable(s, File(s"${c.data}/customers.ndjson"), dimUpdate)
      LoadFile.toTable(s, File(s"${c.data}/customers.ndjson"), dimInsert)
    },
    ops = Seq(
      Op("load_orders_csv", "ops", Nil, c =>
        written(LoadFile.toTable(c.spark, File(s"${c.data}/orders.csv"), orders))),
      Op("load_customers_ndjson", "ops", Nil, c =>
        written(LoadFile.toTable(c.spark, File(s"${c.data}/customers.ndjson"), customers))),
      Op("load_lineitem_parquet", "ops", Nil, c =>
        written(LoadFile.toTable(c.spark, File(s"${c.data}/lineitem.parquet"), lineitem))),
      Op("transform_join_agg", "ops",
        Seq("load_orders_csv", "load_customers_ndjson", "load_lineitem_parquet"), c =>
        written(Transform.toTable(c.spark,
          """SELECT c.segment, c.region, o.status, count(DISTINCT o.order_id) AS orders,
            |       sum(l.qty) AS qty, round(sum(l.price * (1 - l.discount)), 2) AS revenue
            |FROM {{o}} o JOIN {{l}} l ON l.order_id = o.order_id
            |JOIN {{c}} c ON c.cust_id = o.cust_id
            |GROUP BY c.segment, c.region, o.status""".stripMargin,
          totals, Map("o" -> orders, "l" -> lineitem, "c" -> customers)))),
      Op("transform_window_rank", "ops", Seq("load_orders_csv"), c =>
        written(Transform.toTable(c.spark,
          """SELECT cust_id, order_id, amount, rnk FROM (
            |  SELECT cust_id, order_id, amount,
            |         rank() OVER (PARTITION BY cust_id ORDER BY amount DESC, order_id) AS rnk
            |  FROM {{o}}) WHERE rnk <= :top""".stripMargin,
          ranked, Map("o" -> orders, "top" -> 5)))),
      Op("raw_sql", "ops", Seq("load_orders_csv"), c =>
        Out.Frame(RawSql.run(c.spark,
          """SELECT status, priority, count(*) AS n, round(avg(amount), 2) AS avg_amount
            |FROM {{o}} WHERE order_date >= :since GROUP BY status, priority""".stripMargin,
          Map("o" -> orders, "since" -> "2022-01-01")).toOption.get)),
      Op("merge_update", "ops", Nil, c =>
        written(Merge(c.spark, updates, dimUpdate, Map.empty, Seq("cust_id"), MergeConflict.Update))),
      Op("merge_ignore", "ops", Nil, c =>
        written(Merge(c.spark, updates, dimInsert, Map.empty, Seq("cust_id"), MergeConflict.Ignore))),
      Op("append_backfill", "ops", Seq("transform_window_rank"), c =>
        written(Append(c.spark, backfill, ranked))),
      Op("check_column", "ops", Seq("load_orders_csv"), c => {
        val results = Checks.checkColumn(c.spark.table(orders.qualifiedName), Map(
          "amount" -> Map("min" -> Checks.Bound(geqTo = Some(0.0)),
            "max" -> Checks.Bound(leqTo = Some(5000.0)), "null_check" -> Checks.Bound(equalTo = Some(0.0))),
          "order_id" -> Map("unique_check" -> Checks.Bound(equalTo = Some(0.0)),
            "distinct_check" -> Checks.Bound(geqTo = Some(1.0)))))
        Out.Local(results.map(r => Row(r.column, r.check, r.value, r.passed)), checkSchema)
      }),
      Op("check_table", "ops", Seq("append_backfill"), c => {
        val results = Checks.checkTable(c.spark, ranked, Map(
          "amount_positive" -> "amount > 0", "enough_rows" -> "count(*) > 5000",
          "rank_in_range" -> "rnk IS NULL OR rnk BETWEEN 1 AND 5"))
        Out.Local(results.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }, namedFlags)
      }),
      Op("export_csv_roundtrip", "ops", Seq("append_backfill"), c => {
        val out = File(s"${c.work}/export/ranked.csv")
        ExportToFile.table(c.spark, ranked, out, IfExists.Replace)
        Out.Frame(LoadFile.toDataFrame(c.spark, out))
      }),
      Op("stream_events", "streaming", Nil, c =>
        written(StreamingLoad.run(c.spark, File(s"${c.data}/events", Some(FileType.Ndjson)),
          eventSchema, events, c.fresh("checkpoint")))),
      Op("xlsx_roundtrip", "sources", Seq("load_customers_ndjson"), c => {
        val path = s"${c.work}/customers.xlsx"
        Xlsx.write(c.spark, c.spark.table(customers.qualifiedName), path)
        Out.Frame(Xlsx.read(c.spark, path))
      }),
      Op("drop_table", "ops", Seq("stream_events"), c => {
        DropTable(c.spark, events)
        Out.Local(Seq(Row(events.name, c.spark.catalog.tableExists(events.qualifiedName))), namedFlags)
      }),
      Op("cleanup", "ops", Seq("transform_join_agg", "check_table", "export_csv_roundtrip"), c => {
        val dropped = Cleanup(c.spark, Seq(totals, ranked))
        Out.Local(dropped.map(t => Row(t.name, c.spark.catalog.tableExists(t.qualifiedName))), namedFlags)
      }),
    ))

  // ---- curate: a chained curation pipeline over graft's own kernels ----

  private val docsRaw   = Table("docs_raw")
  private val docsMasked = Table("docs_masked")
  private val docsClean = Table("docs_clean")
  private val docsExact = Table("docs_exact")
  private val docsUniq  = Table("docs_unique")
  private val neighbors = Table("doc_neighbors")
  private val refHits   = Table("doc_reference_hits")
  private val curated   = Table("curated")
  private val refIndex  = Table("ref_index")
  private val refCells  = Table("ref_centroids")

  private def step(c: Ctx, input: Table, output: Table)(fn: DataFrame => DataFrame): Out =
    written(DataframeOp.toTable(c.spark, Seq(input), dfs => fn(dfs.head), output))

  val curate: Workload = Workload("curate",
    ingest = c => {
      val refs = LoadFile.toDataFrame(c.spark, File(s"${c.data}/references", Some(FileType.Parquet)))
      Ann.buildIvfIndex(c.spark, refs, "ref_id", "embedding", refIndex, refCells,
        numCentroids = 32, numBuckets = 8)
      LoadFile.toTable(c.spark, File(s"${c.data}/curated_snapshot.parquet"), curated)
    },
    ops = Seq(
      Op("load_documents", "ops", Nil, c =>
        written(LoadFile.toTable(c.spark, File(s"${c.data}/documents", Some(FileType.Parquet)), docsRaw))),
      Op("mask_pii", "functions", Seq("load_documents"), c => step(c, docsRaw, docsMasked) { d =>
        d.select(col("doc_id"), col("url"), TextFunctions.maskPii(col("text")).as("text"),
          col("embedding"))
      }),
      // drops the 2% shortest and longest documents of each quality level
      Op("score_filter", "functions", Seq("mask_pii"), c => step(c, docsMasked, docsClean) { d =>
        val scored = d.withColumn("quality", TextFunctions.qualityScore(col("text")))
          .withColumn("n_tokens", TextFunctions.tokenCount(col("text")))
        val kept = QualityRules.trimOutliersByGroup(scored, Seq("quality"), "n_tokens", "doc_id",
          pLow = 0.02, pHigh = 0.98)
        scored.join(kept.select("doc_id"), "doc_id")
      }),
      Op("dedup_exact", "dedup", Seq("score_filter"), c => step(c, docsClean, docsExact) { d =>
        Dedup.exact(d, "text", "doc_id")
      }),
      Op("dedup_near_keep_best", "dedup", Seq("dedup_exact"), c => step(c, docsExact, docsUniq) { d =>
        Dedup.dedupNearKeepBest(d, "doc_id", "text",
          orderBy = Seq(col("quality").desc, length(col("text")).desc), threshold = 0.7)
      }),
      Op("knn_join", "similarity", Seq("dedup_near_keep_best"), c => step(c, docsUniq, neighbors) { d =>
        Ann.knnJoin(d, d, "doc_id", "embedding", "doc_id", "embedding",
          k = 5, numCentroids = 32, nprobe = 2, excludeSelf = true)
      }),
      Op("ivf_query_assigned", "similarity", Seq("dedup_near_keep_best"), c =>
        step(c, docsUniq, refHits) { d =>
          Ann.queryIvfIndexAssigned(c.spark, refIndex,
            Ann.assignToIndex(c.spark, refCells, d, "doc_id", "embedding", nprobe = 2), k = 3)
        }),
      Op("merge_curated", "ops", Seq("dedup_near_keep_best"), c =>
        written(Merge(c.spark, docsUniq, curated, Map.empty, Seq("doc_id"), MergeConflict.Update))),
      Op("export_shards", "ops", Seq("merge_curated"), c => {
        val path = s"${c.work}/export/curated.parquet"
        ExportToFile.table(c.spark, curated, File(path), IfExists.Replace, singleFile = false)
        Out.Files(path)
      }),
    ))

  /** `ops` in an order that respects their `deps`, drawn from `rng`: at
    * each step one of the ready ops, uniformly.
    */
  def order(ops: Seq[Op], rng: scala.util.Random): Seq[Op] = {
    val done = scala.collection.mutable.LinkedHashSet.empty[String]
    val out = scala.collection.mutable.ArrayBuffer.empty[Op]
    while (out.size < ops.size) {
      val ready = ops.filter(o => !done(o.name) && o.deps.forall(done))
      require(ready.nonEmpty, s"op dependencies form a cycle: ${ops.map(_.name).filterNot(done)}")
      val next = ready(rng.nextInt(ready.size))
      done += next.name
      out += next
    }
    out.toSeq
  }
}
