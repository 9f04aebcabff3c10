package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/**
 * Column ↔ Catalyst Expression bridge.
 *
 * Spark 4's Column is backed by the connect-agnostic ColumnNode API, and
 * the classic converters (`classic.ExpressionUtils`) are `private[sql]` —
 * so a library that defines its own native Expressions needs this one-file
 * shim inside the `org.apache.spark.sql` package to lift them into
 * user-facing Columns. Standard practice for Spark extension libraries.
 * The few plan-level internals the engine uses live here too: analyzed
 * plans, re-binding a stream's plan to a new micro-batch, and the
 * codegen probe.
 */
object GraftBridge {
  /** Wrap a Catalyst Expression as a Column. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Unwrap a Column to its Catalyst Expression (classic sessions). */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `types.AbstractDataType` is `private[sql]` in Spark 4 — re-export it
   *  so graft expressions can declare `ExpectsInputTypes.inputTypes`. */
  type AbstractType = types.AbstractDataType

  /** Accept any of the given types (re-export of `types.TypeCollection`). */
  def oneOf(ts: types.DataType*): AbstractType = types.TypeCollection(ts: _*)

  /** Analyzed logical plan of a (classic) Dataset — for custom LogicalPlan
   *  nodes that need resolved child attributes. */
  def analyzed(df: Dataset[_]): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Wrap a LogicalPlan back into a DataFrame (classic sessions). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The RDD leaf a `foreachBatch` micro-batch (or a checkpointed
    * Dataset) is planned over, when that leaf is its whole plan. */
  private def rddLeaf(df: Dataset[_]): Option[execution.LogicalRDD] = analyzed(df) match {
    case l: execution.LogicalRDD => Some(l)
    case _ => None
  }

  /** True when `to` is an RDD leaf with exactly `from`'s output
    * attributes, so a plan analyzed over `from` can [[rebind]] to it. */
  def rebindable(from: Dataset[_], to: Dataset[_]): Boolean =
    (rddLeaf(from), rddLeaf(to)) match {
      case (Some(a), Some(b)) => a.output == b.output
      case _ => false
    }

  /**
   * `df`'s analyzed plan with every leaf that reads `from`'s RDD reading
   * `to`'s RDD instead (see [[rebindable]]), as a DataFrame of `to`'s
   * session. Each replaced leaf keeps its own output attributes, so the
   * copies the analyzer de-duplicated (self-unions, self-joins) stay
   * distinct and nothing above the leaves changes. The new leaf carries
   * `to`'s statistics, partitioning, ordering and constraints, renamed
   * positionally onto those attributes.
   */
  def rebind(df: DataFrame, from: Dataset[_], to: Dataset[_]): DataFrame = {
    val src = rddLeaf(from).get
    val dst = rddLeaf(to).get
    ofRows(to.sparkSession, analyzed(df).transform {
      case l: execution.LogicalRDD if l.rdd eq src.rdd =>
        withOutput(dst, l.output, to.sparkSession.asInstanceOf[classic.SparkSession])
    })
  }

  /** `leaf` with its attributes renamed positionally to `output`, the way
    * `LogicalRDD.newInstance` renames them to fresh ones. */
  private def withOutput(leaf: execution.LogicalRDD, output: Seq[catalyst.expressions.Attribute],
                         session: classic.SparkSession): execution.LogicalRDD =
    if (leaf.output == output) leaf
    else {
      import catalyst.expressions.{Attribute, AttributeMap}
      val to = AttributeMap(leaf.output.zip(output))
      def re[T <: Expression](e: T): T =
        e.transform { case a: Attribute => to.getOrElse(a, a) }.asInstanceOf[T]
      val stats = leaf.computeStats()
      leaf.copy(output = output,
        outputPartitioning = leaf.outputPartitioning match {
          case p: Expression => re(p).asInstanceOf[catalyst.plans.physical.Partitioning]
          case p => p
        },
        outputOrdering = leaf.outputOrdering.map(re))(
        session,
        Some(stats.copy(attributeStats = AttributeMap(
          stats.attributeStats.toSeq.map { case (a, v) => to.getOrElse(a, a) -> v }))),
        Some(leaf.constraints.map(re)))
    }

  /**
   * Force-compile every codegen unit of a physical plan on the driver,
   * THROWING on janino failure instead of Spark's silent
   * interpreted-evaluation fallback — the PlanSpec pin that a plan's
   * generated code actually compiles (the r13 verdict found five
   * `Code grows beyond 64 KB` failures hiding behind the fallback).
   * Returns (wholeStageCodegenStages, fencedProjections) compiled.
   */
  def compileCodegenStages(plan: execution.SparkPlan): (Int, Int) = {
    var stages = 0
    var fenced = 0
    plan.foreach {
      case w: execution.WholeStageCodegenExec =>
        catalyst.expressions.codegen.CodeGenerator.compile(w.doCodeGen()._2)
        stages += 1
      case f: graft.plans.FencedProjectExec =>
        // no-fallback row-mode generation: what FencedProjectExec runs
        catalyst.expressions.codegen.GenerateUnsafeProjection.generate(
          catalyst.expressions.BindReferences.bindReferences(
            f.projectList, catalyst.expressions.AttributeSeq(f.child.output)))
        fenced += 1
      case _ =>
    }
    (stages, fenced)
  }
}

/** Parser factories for graft's native dateutil-chain expression —
  * built HERE because `TimestampFormatter`'s apply overloads are
  * `private[sql]`: each returned function is exactly what
  * `try_to_timestamp(col, lit(pattern))` evaluates under the default
  * CORRECTED parser policy (UTC session zone, US locale), so the
  * native chain and the Column chain are behavior-identical. */
object GraftTimeBridge {
  import java.time.ZoneOffset
  import org.apache.spark.sql.catalyst.util.{DateTimeUtils, TimestampFormatter}
  import org.apache.spark.unsafe.types.UTF8String

  /** micros since epoch, or null on mismatch — `to_timestamp(s, fmt)`. */
  def patternParser(pattern: String): String => java.lang.Long = {
    val f = TimestampFormatter(pattern, ZoneOffset.UTC, isParsing = true)
    (s: String) =>
      try java.lang.Long.valueOf(f.parse(s))
      catch { case _: Exception => null }
  }

  /** micros since epoch, or null — the formatless `CAST(s AS TIMESTAMP)`
    * string grammar. */
  def castParse(s: String): java.lang.Long =
    DateTimeUtils.stringToTimestamp(UTF8String.fromString(s), ZoneOffset.UTC)
      .map(java.lang.Long.valueOf(_)).orNull
}
