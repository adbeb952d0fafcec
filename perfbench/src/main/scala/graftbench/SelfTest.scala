package graftbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The harness's own checks, run by perfbench/test_perfbench.py:
  *
  *  - the digest ignores row order and partitioning, keeps row
  *    multiplicity, and absorbs float noise below its rounding;
  *  - for every op of both workloads whose result is lazy, the timed action
  *    keeps the op's whole plan, while `count()` (the contrast) may prune.
  *
  * [[workload]] is a synthetic workload with one op that succeeds, one that
  * throws and one that never ends; a normal run of it checks that failed
  * calls are counted and that the run still ends.
  */
object SelfTest {

  val workload: Workload = Workload("selftest", ingest = _ => (),
    ops = Seq(
      Op("selftest_ok", "ops", Nil, c => Out.Frame(c.spark.range(0, 1000).toDF("id"))),
      Op("selftest_throw", "ops", Nil, _ => throw new IllegalStateException("planted failure")),
      Op("selftest_hang", "ops", Nil, c =>
        Out.Frame(c.spark.range(0, 4, 1, 4).select(udf((x: Long) => { Thread.sleep(600000L); x })
          .apply(col("id")).as("id")))),
      Op("selftest_local", "ops", Seq("selftest_ok"), _ =>
        Out.Local(Seq(Row(1L), Row(2L)), StructType(Seq(StructField("id", LongType))))),
    ))

  def run(cfg: JsonNode): java.util.Map[String, Any] = {
    val spark = Harness.session(cfg)
    val digest = digestChecks(spark)
    val data = cfg.get("data").asText()
    val runDir = cfg.get("run_dir").asText()
    val plans = Seq(Workloads.dag, Workloads.curate).flatMap { w =>
      spark.sql(s"CREATE DATABASE IF NOT EXISTS selftest_${w.name}")
      spark.catalog.setCurrentDatabase(s"selftest_${w.name}")
      val ctx = new Ctx(spark, data, s"$runDir/work/${w.name}")
      w.ingest(ctx)
      w.ops.map { op =>
        val r =
          try op.run(ctx) match {
            case Out.Frame(df) =>
              val (timed, counted) = PlanCheck.check(spark, df)
              J.obj("workload" -> w.name, "op" -> op.name, "lazy" -> true,
                "timed_missing" -> J.obj(timed.toSeq: _*),
                "count_missing" -> J.obj(counted.toSeq: _*), "error" -> "")
            case _ =>
              J.obj("workload" -> w.name, "op" -> op.name, "lazy" -> false, "error" -> "")
          } catch {
            case e: Throwable => J.obj("workload" -> w.name, "op" -> op.name, "error" -> e.toString.take(300))
          }
        Harness.dropCaches(spark)
        r
      }
    }
    spark.stop()
    J.obj("digest" -> digest, "plans" -> J.list(plans))
  }

  private def digestChecks(spark: org.apache.spark.sql.SparkSession): java.util.Map[String, Any] = {
    import spark.implicits._
    val rows = (0 until 500).map { i =>
      (i.toLong, s"row $i", i * 0.1, (i % 7).toFloat / 3f, Seq(i * 0.5f, -i.toFloat),
        Map(s"k${i % 3}" -> i, "z" -> -i), if (i % 11 == 0) null else s"n$i")
    }
    val base = rows.toDF("id", "s", "d", "f", "arr", "m", "maybe")
      .withColumn("st", struct(col("id"), col("d")))
    val dup = base.unionByName(base.limit(3))
    def d(df: DataFrame) = Digest.of(df)
    val ref = d(base)
    val shuffled = d(base.orderBy(rand(7)).repartition(7))
    val coalesced = d(base.repartition(3).coalesce(1))
    val noisy = d(base.withColumn("d", col("d") * (lit(1.0) + lit(1e-13))))
    val changed = d(base.withColumn("d", when(col("id") === 17, lit(-1.0)).otherwise(col("d"))))
    J.obj(
      "shuffled_equal" -> (shuffled == ref),
      "coalesced_equal" -> (coalesced == ref),
      "float_noise_equal" -> (noisy == ref),
      "changed_value_differs" -> (changed.hash != ref.hash),
      "duplicate_rows_differ" -> (d(dup).hash != ref.hash),
      "rows" -> ref.rows)
  }
}
