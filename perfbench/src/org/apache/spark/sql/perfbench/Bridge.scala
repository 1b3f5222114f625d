package org.apache.spark.sql.perfbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{CollectMetricsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** The few Spark internals the harness reads, kept in one place. They are
  * `private[spark]`/`private[sql]`, hence this package.
  */
object Bridge {

  /** Block until every posted listener event has been delivered. */
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Generated classes compiled so far in this JVM (codegen cache misses). */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Cumulative codegen compile time in this JVM, nanoseconds. */
  def codegenCompileNanos: Long = CodeGenerator.compileTime

  /** Observed metrics of every `observe` node in an executed plan, by name.
    * Descends the adaptive root and materialized query stages, which stock
    * traversals treat as leaves.
    */
  def observed(plan: SparkPlan): Map[String, Row] = {
    def gather(p: SparkPlan): Seq[(String, Row)] = {
      val here = p match {
        case a: AdaptiveSparkPlanExec => gather(a.executedPlan)
        case q: QueryStageExec        => gather(q.plan)
        case c: CollectMetricsExec    => Seq(c.name -> c.collectedMetrics)
        case _                        => Nil
      }
      here ++ p.children.flatMap(gather)
    }
    gather(plan).toMap
  }

  private def qe(df: DataFrame) =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution

  def executedPlan(df: DataFrame): SparkPlan = qe(df).executedPlan

  /** Catalyst phase durations already recorded by a frame's own tracker. */
  def phasesMs(df: DataFrame): Map[String, Long] =
    qe(df).tracker.phases.map { case (k, v) => k -> v.durationMs }

  /** Run the frame's own physical plan as one SQL execution and drop the
    * rows: a sink that, unlike a write (which plans the query again), leaves
    * the frame's `observe` results readable from the frame itself.
    */
  def runDiscarding(df: DataFrame): Unit = {
    val q = qe(df)
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(q, Some("perfbench")) {
      q.toRdd.foreach(_ => ())
    }
  }

  /** Input partitions the frame's scan plans, without running a job. */
  def partitions(df: DataFrame): Int = qe(df).toRdd.getNumPartitions
}
