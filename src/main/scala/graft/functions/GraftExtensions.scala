package graft.functions

import graft.bridge.SqlBridge
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** SparkSessionExtensions injection point — the config-driven way to ship
  * graft's native expressions into ANY session, including ones the
  * library never sees constructed (spark-submit, Thrift server, notebook
  * kernels):
  *
  *   spark.sql.extensions=graft.functions.GraftExtensions
  *
  * or programmatically: `SparkSession.builder.withExtensions(new
  * GraftExtensions)`. On a live session, `GraftExtensions.install` does
  * the same from the same declarations.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    extensions.injectFunction(GraftFunctions.cosineSim)
    GraftExtensions.tableFunctions.foreach(extensions.injectTableFunction)
    // whole-operator path: plans graft.plans.KeyedFoldNode (sequential
    // per-key folds) into its physical operator
    extensions.injectPlannerStrategy(_ => graft.plans.KeyedFoldStrategy)
  }
}

object GraftExtensions {

  /** One SQL function as both registration paths take it: its name, its
    * metadata (the usage text `DESCRIBE FUNCTION` prints) and its builder.
    */
  type SqlFunction[T] = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => T)

  /** Declares a function of `owner` (the class `DESCRIBE FUNCTION` names). */
  private[functions] def declare[T](owner: Class[_], name: String, usage: String)(
      builder: Seq[Expression] => T): SqlFunction[T] =
    (FunctionIdentifier(name), new ExpressionInfo(owner.getName, null, name, usage, ""), builder)

  /** graft's table-valued functions: the fold detectors, then the
    * extension operators.
    */
  def tableFunctions: Seq[SqlFunction[LogicalPlan]] =
    FoldTableFunctions.functions ++ ExtTableFunctions.functions

  /** Registers the same functions and planner strategy as the extension
    * on a live session (including one built without graft's conf).
    * Idempotent: a repeat call re-registers identical entries.
    */
  def install(spark: SparkSession): Unit = {
    SqlBridge.registerFunction(spark, GraftFunctions.cosineSim)
    tableFunctions.foreach(SqlBridge.registerTableFunction(spark, _))
    graft.plans.KeyedFoldPlan.ensureStrategy(spark)
  }
}
