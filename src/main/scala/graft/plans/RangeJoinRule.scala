package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Optimizer extension (brief option (c): a `Rule[LogicalPlan]`): rewrite
  * a pure interval theta-join into a binned equi-join.
  *
  * Spark plans `fact JOIN ranges ON x >= lo AND x < hi` — no equality
  * key — as BroadcastNestedLoopJoin or a cartesian product: every fact
  * row is tested against every range, O(|fact|·|ranges|), the shape that
  * dies first at 100 TB (IP-range lookups, genomic intervals, time-range
  * enrichment). The standard fix (q121 writes it by hand; Databricks
  * ships it as the RANGE_JOIN hint) buckets both sides into fixed-width
  * bins so the join becomes an EQUI-join on the bin id:
  *
  *   fact:   bin  = x div W                      (one narrow projection)
  *   ranges: bins = sequence(lo div W, (hi−1) div W)  (bounded fan-out)
  *   join on bin, then re-apply the EXACT containment predicate.
  *
  * Correctness does not depend on the bin width or sign handling:
  * trunc-division is monotonic, so lo ≤ x < hi implies
  * lo div W ≤ x div W ≤ (hi−1) div W — every true match shares a bin —
  * and the re-applied range filter removes every false bin-mate. An
  * empty range (hi ≤ lo) yields a descending 2-arg sequence whose bogus
  * bins are likewise filtered out. The rewrite therefore only ever
  * changes the JOIN SHAPE, never the answer (q124's oracle states the
  * theta contract directly; RangeJoinRuleSpec pins bit-equality against
  * the un-rewritten plan).
  *
  * Scope guards (deliberately tight): INNER join whose condition is
  * exactly the two-conjunct long-typed range, value from one side,
  * bounds from the other (either orientation), and an explicitly
  * configured positive `spark.graft.rangeJoin.binWidth` — width choice
  * needs distribution knowledge the engine doesn't have, so it stays a
  * user decision, exactly like the Databricks hint parameter.
  *
  * [[GraftExtensions]] injects the rule into every session as a pre-CBO
  * rule; it stays dormant until a session sets the bin width.
  */
object RangeJoinRule extends Rule[LogicalPlan] {

  val BinWidthKey = "spark.graft.rangeJoin.binWidth"

  private def binWidth: Option[Long] =
    conf.getConfString(BinWidthKey, "0").toLongOption.filter(_ > 0)

  /** value from `from`, both bounds from `other`. */
  private def sidesMatch(x: Expression, lo: Expression, hi: Expression,
      from: LogicalPlan, other: LogicalPlan): Boolean =
    x.references.subsetOf(from.outputSet) && x.references.nonEmpty &&
      (lo.references ++ hi.references).subsetOf(other.outputSet) &&
      lo.references.nonEmpty && hi.references.nonEmpty

  private def allLong(es: Expression*): Boolean = es.forall(_.dataType == LongType)

  // every session carries the rule; without a width it does not walk the plan
  override def apply(plan: LogicalPlan): LogicalPlan = binWidth match {
    case None => plan
    case Some(w) => plan.transformUp {
      case j @ Join(left, right, Inner,
          Some(cond @ And(GreaterThanOrEqual(x, lo), LessThan(x2, hi))), hint)
          if x.semanticEquals(x2) && allLong(x, lo, hi) && j.resolved =>
        if (sidesMatch(x, lo, hi, left, right))
          rewrite(j, cond, left, x, right, lo, hi, w, hint)
        else if (sidesMatch(x, lo, hi, right, left))
          rewrite(j, cond, right, x, left, lo, hi, w, hint)
        else j
    }
  }

  /** `factSide` carries the value `x`; `rangeSide` carries `[lo, hi)`. */
  private def rewrite(j: Join, cond: Expression,
      factSide: LogicalPlan, x: Expression,
      rangeSide: LogicalPlan, lo: Expression, hi: Expression,
      w: Long, hint: JoinHint): LogicalPlan = {
    val width = Literal(w, LongType)
    val factBin = Alias(IntegralDivide(x, width), "graft_bin")()
    val factPlan = Project(factSide.output :+ factBin, factSide)
    // 2-arg Sequence infers its ±1 step, so an empty range degrades to
    // bogus-but-filtered candidates instead of a step error. Sequence is
    // TimeZoneAwareExpression (for its timestamp overloads), so it only
    // RESOLVES once a zone is attached — integer sequences ignore it.
    val bins = new Sequence(
      IntegralDivide(lo, width),
      IntegralDivide(Subtract(hi, Literal(1L, LongType)), width))
      .withTimeZone(conf.sessionLocalTimeZone)
    val rangeBin = AttributeReference("graft_bin", LongType,
      nullable = bins.dataType.asInstanceOf[ArrayType].containsNull)()
    val rangePlan = Generate(Explode(bins), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(rangeBin), rangeSide)
    val equiJoin = Join(factPlan, rangePlan, Inner,
      Some(EqualTo(factBin.toAttribute, rangeBin)), hint)
    // exact containment re-applied — the bin join only proposes
    Project(j.output, Filter(cond, equiJoin))
  }
}
