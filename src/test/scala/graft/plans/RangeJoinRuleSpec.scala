package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Unit tier for the interval-join optimizer rule: the rewrite fires
  * under its guards, never changes answers, and stays out of the way
  * otherwise. The rule comes with every GraftSession; each test arms it
  * with a bin width on an isolated sibling session, so the conf never
  * leaks into other suites' plans. */
class RangeJoinRuleSpec extends AnyFunSuite {

  private def session() = SparkSpec.spark.newSession()

  private def ranges(s: org.apache.spark.sql.SparkSession) = s.range(0, 30)
    .select(col("id").as("range_id"),
      (col("id") * 170 - 500).as("lo"), (col("id") * 170 - 200).as("hi"))

  private def fact(s: org.apache.spark.sql.SparkSession) = s.range(-1000, 5000)
    .select(col("id").as("v"))

  private def joined(s: org.apache.spark.sql.SparkSession) =
    fact(s).join(ranges(s), col("v") >= col("lo") && col("v") < col("hi"))
      .select("v", "range_id")

  test("rewrite fires: binned equi-join replaces the nested-loop product") {
    val s = session()
    s.conf.set(RangeJoinRule.BinWidthKey, "128")
    val df = joined(s)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"rule must replace the product join:\n$plan")
    assert(plan.contains("graft_bin"), s"bin key missing from plan:\n$plan")
  }

  test("rewrite is answer-invisible, negative values and overlaps included") {
    val s = session()
    s.conf.set(RangeJoinRule.BinWidthKey, "128")
    val rewritten = joined(s).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    s.conf.set(RangeJoinRule.BinWidthKey, "0") // rule dormant
    val naive = joined(s).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rewritten == naive,
      s"rewrite changed the answer: ${rewritten.diff(naive)} / ${naive.diff(rewritten)}")
    assert(naive.nonEmpty, "fixture must produce matches")
    // ranges [lo, hi) with lo < 0 exercise trunc-division monotonicity
    assert(naive.exists(_._1 < 0), "negative values must match some range")
  }

  test("guards: rule stays out of equi-joins and extra-conjunct conditions") {
    val s = session()
    s.conf.set(RangeJoinRule.BinWidthKey, "128")
    // extra conjunct REFERENCING BOTH SIDES → cannot be pushed below the
    // join by the main optimizer, so the rule sees three conjuncts and
    // must stay out (a single-side conjunct gets pushed first and the
    // remaining exact range IS in scope — that firing is correct)
    val extra = fact(s).join(ranges(s),
      col("v") >= col("lo") && col("v") < col("hi")
        && (col("v") + col("range_id")) =!= 3)
    val plan = extra.queryExecution.executedPlan.toString
    assert(!plan.contains("graft_bin"),
      s"rule must not fire on a three-conjunct condition:\n$plan")
    // unset width → dormant even for the exact shape
    s.conf.set(RangeJoinRule.BinWidthKey, "0")
    val dormant = joined(s).queryExecution.executedPlan.toString
    assert(!dormant.contains("graft_bin"),
      s"rule must be opt-in via bin width:\n$dormant")
  }
}
