package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, RDDScanExec,
  SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.reuse.ReuseExchangeAndSubquery
import org.apache.spark.sql.types.DataType

/** Bridge into Spark's `private[sql]` Column and Dataset factories and
  * its query-execution steps.
  *
  * Spark 4 removed the public `new Column(expr: Expression)`
  * constructor (Column now wraps a connect-compatible ColumnNode), so a
  * library registering custom Catalyst expressions needs this one-line
  * shim living inside the `org.apache.spark.sql` package. The Column
  * helpers depend on no internals beyond `classic.ExpressionUtils` (the
  * same helper Spark's own `functions.scala` uses).
  *
  * [[checkpoint]], [[plan]] and [[Planned]] are the execution primitive
  * of the superstep loops and walks: a frame is planned physically
  * without adaptive execution — once per loop, its state scan swapped
  * for each superstep — and run as one job that also checkpoints it,
  * the way `Dataset.checkpoint` builds its `LogicalRDD`.
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

  /** `df`, optimized and planned without adaptive execution, run as
    * ONE Spark job whose blocks become a local checkpoint — see
    * [[Planned]]. Also returns the number of rows, or with `count` the
    * number of rows whose boolean column of that name is true, counted
    * by the job that materializes the blocks. */
  def checkpoint(df: DataFrame, count: Option[String] = None): (DataFrame, Long) = {
    val (session, optimized) = optimizedOf(df)
    Planned.execute(session, planned(session, optimized), optimized.stats, count)
  }

  /** `step` over the checkpoint `state` (a frame [[checkpoint]] or
    * [[Planned.run]] returned), planned once so that [[Planned.run]]
    * can run it over any later checkpoint of the same columns. When
    * the step's output may hold nulls in a column `state` declares
    * non-null, the plan is made over a `state` declared nullable
    * there, so every checkpoint the plan produces fits its own input. */
  def plan(step: DataFrame => DataFrame, state: DataFrame): Planned = {
    val session = state.sparkSession.asInstanceOf[classic.SparkSession]
    @scala.annotation.tailrec
    def fitted(leaf: LogicalRDD): (LogicalRDD, DataFrame) = {
      val df = step(classic.Dataset.ofRows(session, leaf))
      val out = df.schema.fields.map(_.nullable)
      val in = leaf.output.map(_.nullable)
      require(df.schema.fields.map(_.dataType).toSeq == leaf.output.map(_.dataType),
        s"a step over ${leaf.schema.simpleString} must return the same " +
          s"column types, not ${df.schema.simpleString}")
      if (out.zip(in).forall { case (o, i) => !o || i }) (leaf, df)
      else fitted(LogicalRDD(
        leaf.output.zip(out).map { case (a, o) => a.withNullability(a.nullable || o) },
        leaf.rdd, leaf.outputPartitioning, leaf.outputOrdering, leaf.isStreaming,
        leaf.stream)(session, Some(leaf.computeStats()), None))
    }
    val (leaf, df) = fitted(checkpointOf(state))
    val (_, optimized) = optimizedOf(df)
    // the plan keeps an empty hole where `state`'s blocks were, and no
    // link to its logical plan, so it pins no checkpoint of its own
    val hole = session.sparkContext.emptyRDD[InternalRow]
    val template = planned(session, optimized).transformUp {
      case s: RDDScanExec if s.rdd eq leaf.rdd => s.copy(rdd = hole)
    }
    require(template.exists { case s: RDDScanExec => s.rdd eq hole; case _ => false },
      s"the step does not read its state:\n$template")
    template.foreach { p =>
      p.unsetTagValue(SparkPlan.LOGICAL_PLAN_TAG)
      p.unsetTagValue(SparkPlan.LOGICAL_PLAN_INHERITED_TAG)
    }
    new Planned(session, template, hole, leaf.output.map(_.dataType),
      optimized.stats)
  }

  /** A frame's physical plan, made once and run many times — a
    * superstep loop's Catalyst work paid once per loop instead of once
    * per superstep. The plan is `QueryExecution.createSparkPlan` of the
    * optimized plan, prepared by `QueryExecution.prepareExecutedPlan`,
    * whose rules do not include `InsertAdaptiveSparkPlan`, and then
    * `ReuseExchangeAndSubquery`, as a non-adaptive query prepares it;
    * no session conf is read or written to turn adaptive execution
    * off, so loops running at once (`graft.Par.par2`) cannot see each
    * other. Without adaptive execution every exchange is a stage of
    * the one job that materializes the result, instead of a job of
    * its own; the plans are the same, because a superstep's exchanges
    * are explicit `repartition(n, key)`s, which adaptive execution
    * never coalesces, and its joins are co-partitioned.
    *
    * Each [[run]] puts the state's blocks into every scan of the hole
    * with a tree `transformUp`, which copies every ancestor of those
    * scans — so each run gets its own `ShuffleExchangeExec`, shuffle
    * dependency and shuffle id, while subtrees that do not read the
    * state (a cached graph artifact's scan) are shared. The result is
    * locally checkpointed by that one job and wrapped in a
    * `LogicalRDD` that carries the plan's own output partitioning when
    * it is a hash partitioning of the output columns with the RDD's
    * partition count, so the next superstep's join against a
    * co-partitioned side does not shuffle the state again. */
  final class Planned private[GraftExpressionBridge] (
      session: classic.SparkSession, template: SparkPlan,
      hole: RDD[InternalRow], holeTypes: Seq[DataType], stats: Statistics) {
    /** The plan each [[run]] copies, its state scans over an empty hole. */
    def executedPlan: SparkPlan = template

    /** The plan over `state`'s checkpoint, run as in [[checkpoint]]. */
    def run(state: DataFrame, count: Option[String] = None): (DataFrame, Long) = {
      val leaf = checkpointOf(state)
      require(leaf.output.map(_.dataType) == holeTypes,
        s"the plan reads ${holeTypes.mkString(", ")}, not ${leaf.schema.simpleString}")
      val rdd = leaf.rdd
      Planned.execute(session, template.transformUp {
        case s: RDDScanExec if s.rdd eq hole => s.copy(rdd = rdd)
      }, stats, count)
    }
  }

  private object Planned {
    def execute(session: classic.SparkSession, plan: SparkPlan,
        stats: Statistics, count: Option[String]): (DataFrame, Long) =
      session.withActive(SQLExecution.withSQLConfPropagated(session) {
        val rdd = plan.execute().map(_.copy())
        rdd.localCheckpoint()
        val column = count.map { c =>
          val i = plan.output.indexWhere(_.name == c)
          require(i >= 0, s"no column $c to count in ${plan.schema.simpleString}")
          i
        }
        val n = session.sparkContext.runJob(rdd, counter(column)).sum
        val partitioning = plan.outputPartitioning match {
          case h: HashPartitioning
              if h.references.subsetOf(AttributeSet(plan.output)) &&
                h.numPartitions == rdd.getNumPartitions => h
          case _ => UnknownPartitioning(rdd.getNumPartitions)
        }
        (classic.Dataset.ofRows(session, LogicalRDD(plan.output, rdd,
          partitioning, plan.outputOrdering, isStreaming = false)(
          session, Some(stats), None)), n)
      })

    /** Rows of a partition, or those whose boolean column `i` is true. */
    private def counter(i: Option[Int]): Iterator[InternalRow] => Long =
      it => i match {
        case None => it.size.toLong
        case Some(c) => it.count(r => !r.isNullAt(c) && r.getBoolean(c)).toLong
      }
  }

  private def optimizedOf(df: DataFrame): (classic.SparkSession, LogicalPlan) = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    (ds.sparkSession, ds.queryExecution.optimizedPlan)
  }

  /** The non-adaptive physical plan of `optimized`. Every cached
    * frame it scans that has not run yet is built first: a cached
    * plan reports its partitioning only once it has run, so a plan
    * made over an unbuilt graph artifact would shuffle the whole
    * artifact again to co-partition it with the state. */
  private def planned(session: classic.SparkSession,
      optimized: LogicalPlan): SparkPlan =
    session.withActive {
      optimized.foreach {
        case r: InMemoryRelation if !r.cacheBuilder.isCachedColumnBuffersLoaded =>
          SQLExecution.withSQLConfPropagated(session)(
            r.cacheBuilder.cachedColumnBuffers.count())
        case _ =>
      }
      ReuseExchangeAndSubquery(QueryExecution.prepareExecutedPlan(session,
        QueryExecution.createSparkPlan(session.sessionState.planner, optimized)))
    }

  private def checkpointOf(state: DataFrame): LogicalRDD =
    state.asInstanceOf[classic.Dataset[_]].logicalPlan match {
      case l: LogicalRDD => l
      case other => throw new IllegalArgumentException(
        s"expected a checkpointed frame, got:\n$other")
    }
}
