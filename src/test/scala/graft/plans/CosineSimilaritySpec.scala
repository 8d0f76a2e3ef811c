package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Unit tier: the native cosine expression — codegen vs interpreted
  * parity, HOF-formula equivalence (bit-exact) — and the GraftExtensions
  * every GraftSession carries. */
class CosineSimilaritySpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  private def vecs = {
    import spark.implicits._
    Seq(
      (1L, Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (2L, Array(0.1, -0.2, 0.3), Array(-0.4, 0.5, -0.6)),
      (3L, Array(1e-30, 2e-30, 3e-30), Array(1e-30, 2e-30, 3e-30)))
      .toDF("id", "a", "b")
  }

  test("expression equals the sequential HOF fold bit-for-bit") {
    val rows = vecs
      .withColumn("native", call_function("graft_cosine", col("a"), col("b")))
      .withColumn("hof", expr(
        """aggregate(zip_with(a, b, (x, y) -> x * y), 0d, (acc, v) -> acc + v)
           / (sqrt(aggregate(zip_with(a, a, (x, y) -> x * y), 0d, (acc, v) -> acc + v))
              * sqrt(aggregate(zip_with(b, b, (x, y) -> x * y), 0d, (acc, v) -> acc + v)))"""))
      .select("native", "hof").collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0))
        == java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"native ${r.getDouble(0)} != hof ${r.getDouble(1)}")
    }
  }

  test("interpreted eval matches codegen") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    val a = ArrayData.toArrayData(Array(1.0, 2.0, 3.0))
    val b = ArrayData.toArrayData(Array(4.0, 5.0, 6.0))
    val e = CosineSimilarity(
      Literal.create(a, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)),
      Literal.create(b, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)))
    val interpreted = e.eval(null).asInstanceOf[Double]
    // expected: (4+10+18)/(sqrt(14)*sqrt(77))
    val expected = 32.0 / (math.sqrt(1 + 4 + 9.0) * math.sqrt(16 + 25 + 36.0))
    assert(interpreted == expected)
  }

  test("type check rejects non-double arrays") {
    import spark.implicits._
    val df = Seq((Array(1, 2), Array(3, 4))).toDF("a", "b")
    val e = intercept[Exception](
      df.select(call_function("graft_cosine", col("a"), col("b"))).collect())
    assert(e.getMessage.contains("graft_cosine") || e.getMessage.contains("array<double>"))
  }

  test("GraftSession siblings resolve every kernel and arm RangeJoinRule") {
    // newSession() starts from a fresh function registry with no temp
    // functions, so whatever resolves here came from the extensions
    val s = spark.newSession()
    for (session <- Seq(spark, s); (name, _) <- GraftExtensions.functions)
      assert(session.catalog.functionExists(name), s"$name does not resolve")
    assert(s.sql("SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d))")
      .head().getDouble(0) == 1.0)
    // q124's shape with only the bin width set: no rule registration
    s.conf.set(RangeJoinRule.BinWidthKey, "100")
    val ranges = s.range(0, 10).select(col("id").as("range_id"),
      (col("id") * 100).as("lo"), (col("id") * 100 + 150).as("hi"))
    val plan = s.range(0, 1000).select(col("id").as("v"))
      .join(ranges, col("v") >= col("lo") && col("v") < col("hi"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_bin") && !plan.contains("BroadcastNestedLoopJoin")
      && !plan.contains("CartesianProduct"), s"theta join not rewritten:\n$plan")
  }
}
