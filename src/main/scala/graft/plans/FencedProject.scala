package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning

/**
 * A projection deliberately fenced OUT of whole-stage codegen.
 *
 * Why this exists: a validation suite with many rule sections (the
 * reference ships 43 in `config_2.ini`) lowers to ONE `validations`
 * array expression whose generated Java exceeds janino's 64 KB
 * per-method bytecode limit inside WholeStageCodegen. Whole-stage
 * binds inputs to local variables (`currentVars`), and Spark's
 * per-expression code splitting (`Expression.reduceCodeSize`, the
 * SPARK-22543 machinery) is only legal in row-input mode
 * (`INPUT_ROW != null && currentVars == null`) — so the giant
 * projection cannot be split there, janino fails, and the ENTIRE
 * stage (scan + projection + downstream) silently falls back to
 * interpreted expression evaluation.
 *
 * The fix is not to chunk the expression (adjacent Projects re-collapse
 * under `CollapseProject`, and fenced chunk stages would re-materialize
 * the full record once per chunk) but to run this single projection as a
 * standalone row-mode operator: `UnsafeProjection.create` generates
 * row-input code where `reduceCodeSize` hoists every oversized
 * sub-expression into its own private method, so the 43-rule projection
 * compiles into many small methods. The scan below and the
 * explode/aggregate above each keep their own whole-stage codegen
 * stages; the one extra cost is the UnsafeRow materialization at this
 * operator's boundary — which a stage boundary would pay anyway.
 *
 * When to fence: the codegen probe in `ValidationPipeline.validateRecords`
 * alone decides. It compiles the un-fenced select once per (suite, input
 * schema) on the driver and fences only when janino fails; section count
 * plays no part, since code size follows the rule payloads.
 *
 * Output attributes are captured at construction (not derived from
 * aliases) because the analyzer's `CleanupAliases` strips top-level
 * aliases from non-Project nodes; positions, names, and exprIds stay
 * those of the originating `select`.
 *
 * Scale note (100 TB): this is a narrow per-row map — no exchange, no
 * state; partitioning and ordering pass through unchanged (every child
 * output attribute is preserved by construction in
 * [[FencedProject.select]]). Predicate/column pushdown does NOT
 * traverse an opaque node, so wrap only projections that consume
 * (nearly) the whole input schema — true for validation suites, whose
 * rules address most record fields.
 */
case class FencedProject(
    projectList: Seq[Expression],
    outputAttrs: Seq[Attribute],
    child: LogicalPlan)
  extends UnaryNode {

  override def output: Seq[Attribute] = outputAttrs

  override def producedAttributes: AttributeSet =
    AttributeSet(outputAttrs) -- AttributeSet(child.output)

  override def maxRows: Option[Long] = child.maxRows

  override protected def withNewChildInternal(newChild: LogicalPlan): FencedProject =
    copy(child = newChild)
}

case class FencedProjectExec(
    projectList: Seq[Expression],
    outputAttrs: Seq[Attribute],
    child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = outputAttrs

  override def producedAttributes: AttributeSet =
    AttributeSet(outputAttrs) -- AttributeSet(child.output)

  // Safe pass-through: FencedProject.select only builds nodes that keep
  // every child attribute in the output, so child partitioning/ordering
  // expressions remain resolvable downstream.
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitionsWithIndex { (index, iter) =>
      // Row-mode codegen: reduceCodeSize splits oversized expressions
      // into private methods (the entire point of this operator).
      val project = UnsafeProjection.create(projectList, child.output)
      project.initialize(index)
      iter.map(project)
    }

  override protected def withNewChildInternal(newChild: SparkPlan): FencedProjectExec =
    copy(child = newChild)
}

object FencedProjectStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case FencedProject(projectList, outputAttrs, child) =>
      FencedProjectExec(projectList, outputAttrs, planLater(child)) :: Nil
    case _ => Nil
  }
}

object FencedProject {
  /**
   * `df.select(cols…)` evaluated through a fenced (row-mode codegen)
   * projection. The columns are analyzed by running the ordinary select
   * first and rewrapping its resolved Project node, so name resolution,
   * star expansion, and type checking are exactly `Dataset.select`'s.
   * Callers must keep every input column they still need in `cols`
   * (as with any select).
   */
  def select(df: DataFrame, cols: Seq[Column]): DataFrame = {
    val analyzed = GraftBridge.analyzed(df.select(cols: _*))
    val fenced = analyzed match {
      case Project(projectList, child) =>
        FencedProject(projectList, projectList.map(_.toAttribute), child)
      case other =>
        // select() on some inputs analyzes to more than a bare Project
        // (e.g. with window expressions); fence only the plain case.
        other
    }
    GraftBridge.ofRows(df.sparkSession, fenced)
  }
}
