package org.apache.spark.sql.graft

import _root_.graft.functions.GraftExtensions.SqlFunction
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}

/** Bridge into Spark's private[sql] Column/Expression plumbing — the
  * narrow way to expose a native Catalyst Expression through the public
  * Column API without a build-time SparkSessionExtensions hook. Lives in
  * the org.apache.spark.sql namespace solely for private[sql] access;
  * contains no Spark code.
  */
object SqlBridgeImpl {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Scalar function: `SELECT name(args…)`, registered with its usage text. */
  def registerFunction(spark: SparkSession, fn: SqlFunction[Expression]): Unit =
    spark.sessionState.functionRegistry.registerFunction(fn._1, fn._2, fn._3)

  /** Table-valued function: `SELECT * FROM name(args…)` resolves through
    * the session's TableFunctionRegistry to a LogicalPlan.
    */
  def registerTableFunction(
      spark: SparkSession,
      fn: SqlFunction[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit =
    spark.sessionState.tableFunctionRegistry.registerFunction(fn._1, fn._2, fn._3)

  /** DataFrame from a raw LogicalPlan (custom plan nodes). */
  def ofRows(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Runs `ds` once, keeps its rows in an RDD persisted in memory
    * (spilling to disk), and returns a DataFrame over that RDD: graft's one
    * rule for rows that several consumers read. It is
    * `Dataset.localCheckpoint`'s shape with the lineage kept, so a lost or
    * released block is recomputed from `ds`'s plan. Nothing is registered
    * with the session's CacheManager (which would hold a `Dataset.persist`
    * until someone unpersists it); Spark's ContextCleaner unpersists the
    * RDD once the returned DataFrame (and everything planned from it) is
    * unreachable — at the first driver GC after that, since the cleaner
    * tracks weak references (its periodic GC,
    * `spark.cleaner.periodicGC.interval`, defaults to 30 min). The run is
    * one SQL execution, so query listeners see its plan and metrics, and
    * metrics `ds` observes (`Dataset.observe`) are filled by it. Like a
    * cached relation, the result is planned with its real row count
    * rather than the input's estimate, so small results still broadcast;
    * [[persistedRowCount]] reads that count, and [[releaseRows]] frees the
    * storage early where a loop supersedes its own copies. If the run
    * throws, the RDD is unpersisted before the exception propagates, so a
    * failed materialization leaves nothing stored.
    */
  def persistRows(ds: Dataset[_]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.AttributeSet
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
    import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
    val cds = ds.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val qe = cds.queryExecution
    val (rows, n) = SQLExecution.withNewExecutionId(qe, Some("persistRows")) {
      val r = qe.toRdd.map(_.copy()).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try (r, r.count())
      catch { case t: Throwable => r.unpersist(blocking = false); throw t }
    }
    // output attributes as Dataset.localCheckpoint derives them, but the
    // partitioning of the plan that produced the rows: under AQE that is
    // the final plan, which only exists now that it ran, so consumers
    // keyed like it (a hash-partitioned input) plan no shuffle of their own
    val lr = LogicalRDD.fromDataset(rows, cds, cds.isStreaming)
    val ran = qe.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val partitioning = ran.outputPartitioning match {
      case p: Expression if !p.references.subsetOf(AttributeSet(lr.output)) => lr.outputPartitioning
      case p => p
    }
    val stats = Statistics(sizeInBytes = EstimationUtils.getSizePerRow(lr.output) * n, rowCount = Some(n))
    org.apache.spark.sql.classic.Dataset.ofRows(
      cds.sparkSession,
      LogicalRDD(lr.output, rows, partitioning, lr.outputOrdering, lr.isStreaming)(cds.sparkSession, Some(stats), None))
  }

  /** The row count [[persistRows]] took while materializing `df` (no job). */
  def persistedRowCount(df: Dataset[_]): Long = persistedRdd(df).computeStats().rowCount match {
    case Some(n) => n.toLong
    case None => throw new IllegalArgumentException("persistedRowCount: the frame carries no row count")
  }

  /** Unpersists the rows behind a [[persistRows]] frame now instead of at
    * ContextCleaner's next pass. Lineage is kept, so a later read of the
    * frame recomputes rather than fails.
    */
  def releaseRows(df: Dataset[_]): Unit = persistedRdd(df).rdd.unpersist(blocking = false): Unit

  private def persistedRdd(df: Dataset[_]): org.apache.spark.sql.execution.LogicalRDD =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr
      case p => throw new IllegalArgumentException(s"not a persistRows frame: ${p.nodeName}")
    }

  /** Analyzed LogicalPlan of a Dataset (to embed as a custom node's child). */
  def analyzedPlan(df: Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed
}
