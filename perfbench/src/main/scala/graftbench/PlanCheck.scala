package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Does an action keep the op's whole plan?
  *
  * A plan's signature is the multiset of its computed-expression names
  * (every `Alias`, subqueries included) plus one `<sort>` entry per Sort
  * node. An action prunes when its optimized plan lacks part of the op
  * DataFrame's own optimized signature: `count()` lets Catalyst drop
  * computed columns, and an order-insensitive aggregate lets
  * `EliminateSorts` drop a final sort.
  */
object PlanCheck {

  def signature(plan: LogicalPlan): Map[String, Int] = {
    val names = mutable.ArrayBuffer[String]()
    plan.foreachWithSubqueries { node =>
      if (node.isInstanceOf[Sort]) names += "<sort>"
      node.expressions.foreach(_.foreach {
        case a: Alias => names += a.name
        case _        =>
      })
    }
    names.groupBy(identity).map { case (k, v) => k -> v.size }
  }

  /** Entries of `expected` that `actual` lacks, with the missing count. */
  def missing(expected: Map[String, Int], actual: Map[String, Int]): Map[String, Int] =
    expected.collect { case (k, n) if actual.getOrElse(k, 0) < n => k -> (n - actual.getOrElse(k, 0)) }

  /** Signature of everything `action` optimized: the union over the query
    * executions it ran, as reported to a listener.
    */
  def actionSignature(spark: SparkSession)(action: => Unit): Map[String, Int] = {
    val seen = mutable.ArrayBuffer[LogicalPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.synchronized(seen += qe.optimizedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      action
      org.apache.spark.sql.BenchAccess.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    seen.synchronized(seen.toList).map(signature).foldLeft(Map.empty[String, Int]) { (acc, m) =>
      (acc.keySet ++ m.keySet).map(k => k -> (acc.getOrElse(k, 0) + m.getOrElse(k, 0))).toMap
    }
  }

  /** What the timed action and, for contrast, `count()` drop from `df`. */
  def check(spark: SparkSession, df: DataFrame): (Map[String, Int], Map[String, Int]) = {
    val expected = signature(df.queryExecution.optimizedPlan)
    val timed = actionSignature(spark)(Harness.fullOutput(df))
    val counted = actionSignature(spark)(df.count())
    (missing(expected, timed), missing(expected, counted))
  }
}
