package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column and Dataset factories.
  *
  * Spark 4 removed the public `new Column(expr: Expression)`
  * constructor (Column now wraps a connect-compatible ColumnNode), so a
  * library registering custom Catalyst expressions needs this one-line
  * shim living inside the `org.apache.spark.sql` package. The Column
  * helpers depend on no internals beyond `classic.ExpressionUtils` (the
  * same helper Spark's own `functions.scala` uses);
  * [[localCheckpointPartitioned]] also reads the executed adaptive plan
  * and builds a `LogicalRDD` the way `Dataset.checkpoint` does.
  */
object GraftExpressionBridge {
  /** Wrap a raw Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Unwrap a Column back to its Catalyst expression. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a custom expression as a session SQL function, so the
    * EP2 surface (`spark.sql`) sees the same operators the Dataset API
    * does — e.g. `SELECT float_dot(a, b) FROM t`. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** `df.localCheckpoint()` that keeps the hash partitioning of the
    * plan that produced the checkpointed blocks. `Dataset.checkpoint`
    * reads the partitioning off the root of the executed plan, and
    * under AQE that root (the adaptive wrapper) always reports it as
    * unknown — so a checkpointed superstep state would forget what its
    * `repartition(n, key)` established, and the next superstep's join
    * against a co-partitioned side would shuffle it again. Here the
    * partitioning is read from the final adaptive plan, the one whose
    * RDD the checkpoint holds, and kept only when it is a hash
    * partitioning over the checkpoint's own columns with the RDD's
    * partition count; otherwise this is plain `localCheckpoint()`. */
  def localCheckpointPartitioned(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.AttributeSet
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val cp = df.localCheckpoint()
    def produced(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => produced(a.executedPlan)
      case q: QueryStageExec => produced(q.plan)
      case other => other
    }
    (cp.queryExecution.analyzed,
        produced(df.queryExecution.executedPlan).outputPartitioning) match {
      case (l: LogicalRDD, h: HashPartitioning)
          if h.references.subsetOf(AttributeSet(l.output)) &&
            h.numPartitions == l.rdd.getNumPartitions =>
        val session = cp.sparkSession.asInstanceOf[classic.SparkSession]
        classic.Dataset.ofRows(session,
          LogicalRDD(l.output, l.rdd, h, l.outputOrdering, l.isStreaming,
            l.stream)(session, Some(l.computeStats()), None))
      case _ => cp
    }
  }
}
