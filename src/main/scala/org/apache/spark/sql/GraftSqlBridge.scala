package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Package-private-API bridge: materialize a DataFrame from a
  * Catalyst logical plan. `Dataset.ofRows` is `private[sql]`, so this
  * one-liner lives in the `org.apache.spark.sql` package — the
  * conventional extension-library shim (Delta, Iceberg and friends do
  * the same). Used by graft's SQL DML front-end to evaluate a parsed
  * MERGE/INSERT source subplan against the session. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** Column ⇄ Expression converters (`ExpressionUtils` is
    * `private[sql]`): the one way to use a custom Expression that a
    * FunctionBuilder cannot construct — e.g. one carrying a Broadcast
    * handle, which is session state, not a child Expression. */
  def columnOf(e: catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
  def expressionOf(c: Column): catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** `df` computed exactly once into executor storage (an eager local
    * checkpoint, as `Dataset.localCheckpoint` takes it: the lineage is
    * cut, so every later use reads the same rows, even from a
    * nondeterministic plan), plus the call that frees its blocks —
    * which a failed computation has already called. The returned
    * frame's statistics come from the row count the computation
    * measured (at Spark's per-row size estimate), not from the origin
    * plan's estimate: a join's size-only estimate multiplies its
    * sides, and downstream write widths and broadcast decisions read
    * these statistics. */
  def materialize(df: DataFrame): (DataFrame, () => Unit) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    var rdd: org.apache.spark.rdd.RDD[catalyst.InternalRow] = null
    val release = () => { if (rdd != null) rdd.unpersist(blocking = false); () }
    val rows =
      try execution.SQLExecution.withNewExecutionId(ds.queryExecution,
          Some("localCheckpoint")) {
        rdd = ds.queryExecution.executedPlan.execute().map(_.copy())
        rdd.localCheckpoint()
        rdd.count()
      } catch { case e: Throwable => release(); throw e }
    val l = execution.LogicalRDD.fromDataset(rdd, ds, isStreaming = false)
    val bytes = catalyst.plans.logical.statsEstimation.EstimationUtils
      .getSizePerRow(l.output) * rows
    (ofRows(session, l.copy()(session,
      Some(catalyst.plans.logical.Statistics(bytes, Some(BigInt(rows)))),
      None)), release)
  }
}
