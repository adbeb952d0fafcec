package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across all suites (Spark startup dominates test
  * wall-clock otherwise).
  */
object SharedSpark {
  lazy val spark: SparkSession = {
    // local[threads, maxTaskFailures]: retries ON (plain local[4] pins
    // maxFailures to 1) so FailureInjectionSpec can prove a mid-write task
    // failure retries and converges — the cluster default behavior.
    val s = SparkSession.builder()
      .master("local[4, 3]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new java.io.File(
        s"target/test-warehouse-${java.util.UUID.randomUUID().toString.take(8)}").getAbsolutePath)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  /** A fresh dir under the checkout's `target/test-tmp` (forked tests run
    * from the project root, so relative paths resolve inside this checkout).
    */
  def tmpDir(): String = {
    val d = new java.io.File(
      s"target/test-tmp/${java.util.UUID.randomUUID().toString.take(12)}").getAbsolutePath
    new java.io.File(d).mkdirs()
    d
  }
}
