package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The two Spark-internal reads the benchmark's tracer needs. Both are
  * read-only: draining the listener bus only waits for already-posted
  * events, and the codegen counter is cumulative for the JVM.
  */
object BenchAccess {

  /** Block until every event posted so far has reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Cumulative Janino compile time of generated code, in nanoseconds. */
  def codegenNanos: Long = CodeGenerator.compileTime
}
