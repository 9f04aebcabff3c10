package graft.plans

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Last}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/**
 * As-of (backward) join as a first-class logical operator — the
 * whole-operator extension tier: a custom [[LogicalPlan]] node plus a
 * lowering [[Rule]] registered through `SparkSessionExtensions`
 * (`GraftExtensions`), so Catalyst's own pushdown/pruning run against the
 * lowered form.
 *
 * Semantics (time-series point-in-time join): for every left row, attach
 * the single right row with the greatest `rightTime <= leftTime` within
 * the same key group (ties on time broken by the largest `tieBreak`);
 * left rows with no prior right row keep nulls — i.e. DuckDB/Pandas
 * `ASOF LEFT JOIN`.
 *
 * Why not a physical SparkPlan: the scale-right evaluation is
 * union-the-sides + one hash exchange on the key + one in-partition sort
 * — exactly Spark's Window machinery, which is already whole-stage
 * codegen'd and AQE-planned. Lowering to Union+Window+Filter+Project
 * keeps all of that for free; a handwritten `doExecute` would forfeit
 * codegen and AQE. A naive `l.join(r, k && lt >= rt)` range join is the
 * wrong shape entirely: it materializes every (left, earlier-right) pair
 * before aggregating — quadratic per key group — where this plan is
 * n log n sort cost and ONE shuffle of n_left + n_right rows, which is
 * the 100 TB-safe formulation.
 */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftTime: Expression,
    rightTime: Expression,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    tieBreak: Option[Expression])
  extends BinaryNode {

  require(leftKeys.length == rightKeys.length, "as-of key arity mismatch")

  // Right side is outer: every right attribute becomes nullable.
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/**
 * Lowers [[AsOfJoin]] to Union + Window(last ignoreNulls) + Filter +
 * Project. Runs inside the operator-optimization batch (fixed point), so
 * column pruning and predicate pushdown re-fire against the lowered plan:
 * a filter on a join key keeps pushing down into BOTH parquet scans, and
 * unused right columns are pruned out of the union (PlanSpec pins both).
 *
 * Output attribute ids are preserved (left attrs pass through the union's
 * first branch; right attrs are re-aliased under their original exprIds),
 * so parent operators resolved against [[AsOfJoin.output]] are untouched.
 */
object LowerAsOfJoin extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j: AsOfJoin => lower(j)
  }

  private def lower(j: AsOfJoin): LogicalPlan = {
    val tbType = j.tieBreak.map(_.dataType).getOrElse(LongType)

    // The whole right row travels as ONE nullable struct, so the window's
    // `last(_, ignoreNulls)` picks every column from the SAME right row.
    // (Per-column last(ignoreNulls) would skip a null cell in the newest
    // right row and splice in an older row's value for just that column.)
    val rStructType = StructType(j.right.output.map(a =>
      StructField(a.name, a.dataType, a.nullable)))
    val rStruct = CreateNamedStruct(
      j.right.output.flatMap(a => Seq(Literal(a.name), a)))

    // Shared union schema: _k0.._kn, _t, _side, _tb, left cols, _r struct.
    val keyAliases = j.leftKeys.zipWithIndex.map { case (e, i) => Alias(e, s"_k$i")() }
    val leftBranch = Project(
      keyAliases ++ Seq(
        Alias(j.leftTime, "_t")(),
        Alias(Literal(1), "_side")(),
        Alias(Literal(null, tbType), "_tb")()) ++
        j.left.output :+
        Alias(Literal(null, rStructType), "_r")(),
      j.left)
    // ASOF equality semantics: a right row with a NULL time or NULL key
    // can never match any left row (rt <= lt and k = rk are both false
    // for null), but the window's nulls-first ordering and null-equal
    // grouping would otherwise hand it to null-time/null-key left rows.
    // Dropping them here also makes null-time/null-key LEFT rows come
    // back correctly null-extended (their partition holds no right rows).
    val rightFilter = (j.rightTime +: j.rightKeys)
      .map(e => IsNotNull(e): Expression).reduce(And)
    val rightBranch = Project(
      j.rightKeys.zipWithIndex.map { case (e, i) => Alias(e, s"_k$i")() } ++ Seq(
        Alias(j.rightTime, "_t")(),
        Alias(Literal(0), "_side")(),
        Alias(j.tieBreak.getOrElse(Literal(null, tbType)), "_tb")()) ++
        j.left.output.map(a => Alias(Literal(null, a.dataType), a.name)()) :+
        Alias(rStruct, "_r")(),
      Filter(rightFilter, j.right))

    val union = Union(leftBranch, rightBranch)
    val out = union.output
    val nk = j.leftKeys.length
    val (keyAttrs, tAttr, sideAttr, tbAttr) =
      (out.take(nk), out(nk), out(nk + 1), out(nk + 2))
    val leftAttrs = out.slice(nk + 3, nk + 3 + j.left.output.length)
    val rAttr = out.last

    // Right rows (side 0) sort before the left row at an equal timestamp,
    // so a right row AT the left time is matched (>= semantics); among
    // equal-time right rows the largest tieBreak wins (last in order).
    val spec = WindowSpecDefinition(
      partitionSpec = keyAttrs,
      orderSpec = Seq(
        SortOrder(tAttr, Ascending),
        SortOrder(sideAttr, Ascending),
        SortOrder(tbAttr, Ascending)),
      frameSpecification =
        SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))
    val filled = Alias(
      WindowExpression(
        AggregateExpression(Last(rAttr, ignoreNulls = true), Complete, isDistinct = false),
        spec),
      "_match")()

    val filtered = Filter(
      EqualTo(sideAttr, Literal(1)),
      Window(Seq(filled), keyAttrs, spec.orderSpec, union))

    // Restore the node's declared output ids: left attrs already carry
    // them through the union's first branch; right attrs are re-bound as
    // fields of the matched struct.
    val restored = leftAttrs ++ j.right.output.zipWithIndex.map {
      case (orig, i) =>
        Alias(GetStructField(filled.toAttribute, i, Some(orig.name)),
          orig.name)(exprId = orig.exprId)
    }
    Project(restored, filtered)
  }
}

/** DataFrame-level entry point for the as-of join operator. */
object AsOf {

  /**
   * `joinAsOf(left, right, "l_ts", "r_ts", Seq("user" -> "r_user"))`:
   * for each left row, the latest right row with `r_ts <= l_ts` in the
   * same key group (null-extended when none). Key/time columns are
   * resolved by name against each side; time columns must share a type.
   * `tieBreak` names a right column that deterministically picks among
   * right rows with identical (key, time). The session must install
   * `GraftExtensions`, which lowers the node; without it planning fails.
   */
  def joinAsOf(
      left: DataFrame,
      right: DataFrame,
      leftTimeCol: String,
      rightTimeCol: String,
      keys: Seq[(String, String)],
      tieBreak: Option[String] = None): DataFrame = {
    val lp = GraftBridge.analyzed(left)
    val rp0 = GraftBridge.analyzed(right)
    // self-join: both sides of the SAME analyzed plan share exprIds, and
    // AsOfJoin.output would carry duplicates (ambiguous downstream
    // resolution). Re-alias the right side under fresh ids, like Spark's
    // own join dedup.
    val rp: LogicalPlan =
      if (lp.outputSet.intersect(rp0.outputSet).isEmpty) rp0
      else Project(rp0.output.map(a => Alias(a, a.name)()), rp0)
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"as-of column '$name' not in [${p.output.map(_.name).mkString(", ")}]"))

    val lt = attr(lp, leftTimeCol)
    val rt = attr(rp, rightTimeCol)
    require(lt.dataType == rt.dataType,
      s"as-of time type mismatch: ${lt.dataType} vs ${rt.dataType}")
    keys.foreach { case (lk, rk) =>
      val (a, b) = (attr(lp, lk), attr(rp, rk))
      // the lowering runs post-analysis, so a type mismatch would build
      // an invalid Union nothing re-checks — fail loudly here instead
      require(a.dataType == b.dataType,
        s"as-of key type mismatch on ($lk, $rk): ${a.dataType} vs ${b.dataType}")
    }
    GraftBridge.ofRows(left.sparkSession, AsOfJoin(
      lp, rp, lt, rt,
      keys.map(k => attr(lp, k._1)), keys.map(k => attr(rp, k._2)),
      tieBreak.map(attr(rp, _))))
  }
}
