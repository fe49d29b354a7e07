package graft.plans

import graft.detect.{KeyedFold, StreamKernel}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, CoalescedHashPartitioning, Distribution, HashPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Whole-operator Catalyst integration of the keyed sequential fold
  * (SURVEY §4.2 recurrences: EMA, lag-EMA, derivative, bitmap, …) — the
  * (c)-tier custom operator from the builder brief: LogicalPlan +
  * SparkStrategy + SparkPlan, injectable via SparkSessionExtensions.
  *
  * Why a physical operator instead of the repartition→sortWithinPartitions
  * →mapPartitions composition (KeyedFold.foldOn): the composition
  * HARD-CODES its data movement — `repartition` always shuffles, even when
  * the input is already hash-distributed on the key (bucketed layout, an
  * upstream join or aggregation, a reused exchange). Declaring the
  * requirement instead (`requiredChildDistribution` =
  * ClusteredDistribution(key), `requiredChildOrdering` = (key, ts)) hands
  * the decision to EnsureRequirements: Catalyst inserts the exchange/sort
  * only when the child does not already satisfy them, reuses exchanges
  * across subtrees, and AQE re-plans the inserted exchange at runtime.
  * The detectors that join per-key stats BEFORE folding (lag-EMA, bitmap)
  * get their fold shuffle elided outright — the join already produced the
  * distribution. And because the node re-expresses hash(key) over its own
  * output, everything per-key DOWNSTREAM of the fold skips its shuffle
  * too; a typed MapPartitions erases that information (pinned by
  * FoldPlanSpec).
  *
  * The fold itself is the same single-pass bounded-state kernel run
  * (KeyedFold.run); only the planning of its input moved into Catalyst.
  * Kernel in/out types are erased in the node and rebuilt executor-side
  * from the carried ExpressionEncoders (resolved against the child by
  * field name — the standard object-boundary mechanics, but with
  * requirements declared instead of hard-coded).
  */
object KeyedFoldPlan {

  /** Idempotently install the strategy into a session's runtime planner —
    * works on ANY session (including the driver's vanilla one), no
    * config-time extensions required. `GraftExtensions.install` calls it
    * for the fold TVFs on a live session; `GraftExtensions` injects the
    * strategy for the `spark.sql.extensions` path. Synchronized: two
    * threads building fold queries concurrently must not lose each
    * other's check-then-append on the experimental-strategies list.
    */
  def ensureStrategy(spark: org.apache.spark.sql.SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraStrategies
    if (!cur.exists(_.isInstanceOf[KeyedFoldStrategy.type]))
      spark.experimental.extraStrategies = cur :+ KeyedFoldStrategy
  }

  /** Output attributes from an encoder's schema (fresh exprIds, carried in
    * the node so optimizer copies keep them stable).
    */
  def outputFor(enc: ExpressionEncoder[_]): Seq[Attribute] =
    enc.schema.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
}

/** Logical fold node. `child` must expose the kernel input type's fields
  * by name (the in-encoder binds against them); `keyName`/`tsName` are the
  * clustering / secondary-sort columns.
  */
final case class KeyedFoldNode(
    mkKernel: () => StreamKernel[Any, Any],
    keyOf: Any => Any,
    inEnc: ExpressionEncoder[_],
    outEnc: ExpressionEncoder[_],
    keyName: String,
    tsName: String,
    override val output: Seq[Attribute],
    child: LogicalPlan)
  extends UnaryNode {
  // the fold consumes every child column and emits a new attribute set
  override def references: AttributeSet = child.outputSet
  override def producedAttributes: AttributeSet = outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): KeyedFoldNode =
    copy(child = newChild)
}

/** Physical fold. Declares its input requirements and lets
  * EnsureRequirements plan (or elide) the exchange and sort.
  */
final case class KeyedFoldExec(
    mkKernel: () => StreamKernel[Any, Any],
    keyOf: Any => Any,
    inEnc: ExpressionEncoder[_],
    outEnc: ExpressionEncoder[_],
    keyName: String,
    tsName: String,
    override val output: Seq[Attribute],
    child: SparkPlan)
  extends UnaryExecNode {

  private def childAttr(name: String): Attribute =
    child.output.find(_.name == name).getOrElse(
      sys.error(s"KeyedFoldExec: child has no column '$name' in ${child.output}"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(childAttr(keyName))) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(
      SortOrder(childAttr(keyName), Ascending),
      SortOrder(childAttr(tsName), Ascending)))

  // one input key-group maps to one output key-group in place: the child's
  // hash distribution on the key survives, re-expressed over our output
  // attribute so downstream per-key operators skip their shuffle too.
  // Anything not remappable degrades to Unknown — republishing a child
  // partitioning phrased in child attributes would violate the SparkPlan
  // contract (outputPartitioning must reference this node's output).
  override def outputPartitioning: Partitioning = {
    def onOutputKey(h: HashPartitioning): Option[HashPartitioning] =
      if (h.expressions != Seq(childAttr(keyName))) None
      else output.find(_.name == keyName).map(a => HashPartitioning(Seq(a), h.numPartitions))
    child.outputPartitioning match {
      case h: HashPartitioning => onOutputKey(h).getOrElse(UnknownPartitioning(h.numPartitions))
      // AQE's coalesced read of a key exchange, or a materialized one
      case c: CoalescedHashPartitioning =>
        onOutputKey(c.from).map(h => c.copy(from = h)).getOrElse(UnknownPartitioning(c.numPartitions))
      case p if p.numPartitions == 1 => p // SinglePartition carries no attrs
      case other => UnknownPartitioning(other.numPartitions)
    }
  }

  // rows leave the kernel in (key, ts) order within each partition
  override def outputOrdering: Seq[SortOrder] =
    (output.find(_.name == keyName), output.find(_.name == tsName)) match {
      case (Some(k), Some(t)) => Seq(SortOrder(k, Ascending), SortOrder(t, Ascending))
      case _ => Nil
    }

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override protected def doExecute(): RDD[InternalRow] = {
    val mk = mkKernel
    val kOf = keyOf
    val boundIn = inEnc.resolveAndBind(child.output)
    val serEnc = outEnc.asInstanceOf[ExpressionEncoder[Any]]
    child.execute().mapPartitions({ it =>
      val de = boundIn.createDeserializer()
      val ser = serEnc.createSerializer()
      val objs = it.map(r => de(r).asInstanceOf[Any])
      KeyedFold.run[Any, Any, Any](objs, kOf, mk).map(o => ser(o): InternalRow)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): KeyedFoldExec =
    copy(child = newChild)
}

/** Planner strategy: KeyedFoldNode → KeyedFoldExec. */
object KeyedFoldStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case KeyedFoldNode(mk, keyOf, inEnc, outEnc, keyName, tsName, out, child) =>
      KeyedFoldExec(mk, keyOf, inEnc, outEnc, keyName, tsName, out, planLater(child)) :: Nil
    case _ => Nil
  }
}
