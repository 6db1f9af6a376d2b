package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to `private[sql]` surface needed to expose a custom
  * Catalyst Expression as a user-facing Column / SQL function (the
  * documented extension pattern — same access path
  * SparkSessionExtensions-based libraries use). No Spark internals are
  * modified; this only re-exports two conversions and the function
  * registry hook. */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Materialize the optimizer rules an extensions object would inject,
    * operator-optimization and pre-CBO rules alike — lets tests verify
    * the `spark.sql.extensions` contract without building a whole new
    * SparkContext (the builders are private[sql]). */
  def optimizerRulesOf(ext: org.apache.spark.sql.SparkSessionExtensions,
                       spark: SparkSession): Seq[org.apache.spark.sql.catalyst.rules.Rule[
                         org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    ext.buildOptimizerRules(spark) ++ ext.buildPreCBORules(spark)

  /** Pin a DataFrame's current contents as a persisted RDD WITHOUT the
    * InternalRow→Row→InternalRow round-trip `df.rdd` +
    * `createDataFrame(rdd, schema)` pays (per-row decode to external
    * Row objects, then re-encode — measurable CPU + GC churn when an
    * iterative fixpoint pins every round). The rows are copied before
    * caching (toRdd reuses UnsafeRow buffers), stay in Tungsten binary
    * format, and the returned RDD handle gives the caller the explicit
    * unpersist that localCheckpoint lacks. */
  def pinInternal(df: org.apache.spark.sql.DataFrame,
                  level: org.apache.spark.storage.StorageLevel)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.rdd.RDD[_]) = {
    val classic = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rdd = df.queryExecution.toRdd.map(_.copy()).persist(level)
    (classic.internalCreateDataFrame(rdd, df.schema), rdd)
  }

  /** Block until the async listener bus has delivered every queued event —
    * the deterministic fence Bench needs before snapshotting per-query
    * task-metric counters (a fixed sleep misattributes late task-end
    * events from the previous query under load). Bounded by the bus's own
    * default timeout; a timeout degrades to the old best-effort behavior. */
  def drainListenerBus(spark: SparkSession): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** The QueryExecution an execution-end event carries (`private[sql]`). */
  def queryExecution(e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd)
      : org.apache.spark.sql.execution.QueryExecution = e.qe

  /** Listeners currently registered on the context's listener bus — the
    * probe a caller uses to check it removes what it adds. */
  def listenerCount(spark: SparkSession): Int =
    spark.sparkContext.listenerBus.listeners.size
}
