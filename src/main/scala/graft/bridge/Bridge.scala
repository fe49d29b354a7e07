package graft.bridge

import graft.functions.GraftExtensions.SqlFunction
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}

/** Public-side alias of the spark-namespace bridge. */
object SqlBridge {
  def column(e: Expression): Column = org.apache.spark.sql.graft.SqlBridgeImpl.column(e)
  def expression(c: Column): Expression = org.apache.spark.sql.graft.SqlBridgeImpl.expression(c)
  def registerFunction(spark: SparkSession, fn: SqlFunction[Expression]): Unit =
    org.apache.spark.sql.graft.SqlBridgeImpl.registerFunction(spark, fn)
  def registerTableFunction(spark: SparkSession, fn: SqlFunction[LogicalPlan]): Unit =
    org.apache.spark.sql.graft.SqlBridgeImpl.registerTableFunction(spark, fn)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.graft.SqlBridgeImpl.ofRows(spark, plan)
  def persistRows(ds: Dataset[_]): DataFrame =
    org.apache.spark.sql.graft.SqlBridgeImpl.persistRows(ds)
  def persistedRowCount(df: Dataset[_]): Long =
    org.apache.spark.sql.graft.SqlBridgeImpl.persistedRowCount(df)
  def releaseRows(df: Dataset[_]): Unit =
    org.apache.spark.sql.graft.SqlBridgeImpl.releaseRows(df)
  def analyzedPlan(df: Dataset[_]): LogicalPlan =
    org.apache.spark.sql.graft.SqlBridgeImpl.analyzedPlan(df)
}
