package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Unit tier: the native sign-projection expression — kernel vs a
  * reference Scala fold, interpreted vs codegen parity, and the
  * literal-index contract. */
class SignProjectSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  /** Reference implementation: the documented formula, plain Scala. */
  private def reference(e: Array[Double], i: Int): Double = {
    var acc = 0.0
    for (j <- e.indices) {
      val h = (1103515245L * (i.toLong * 1009L + j) + 12345L) / 1024L
      acc += (if ((h & 1L) == 0L) e(j) else -e(j))
    }
    acc
  }

  private def vecs = {
    import spark.implicits._
    Seq(
      (1L, Array(1.0, -2.5, 3.25, 0.125)),
      (2L, Array.tabulate(64)(j => math.sin(j + 1))),
      (3L, Array.empty[Double]))
      .toDF("id", "e")
  }

  test("expression matches the reference fold bit-for-bit, all 8 dims") {
    val cols = Seq(col("id"), col("e")) ++
      (0 until 8).map(i =>
        call_function("graft_sign_project", col("e"), lit(i)).as(s"p$i"))
    val rows = vecs.select(cols: _*).collect()
    rows.foreach { r =>
      val e = r.getSeq[Double](1).toArray
      for (i <- 0 until 8) {
        val exp = reference(e, i)
        val got = r.getDouble(2 + i)
        assert(java.lang.Double.doubleToLongBits(exp)
          == java.lang.Double.doubleToLongBits(got),
          s"id=${r.getLong(0)} dim=$i: reference $exp != native $got")
      }
    }
  }

  test("interpreted eval matches codegen") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val arr = new GenericArrayData(Array[Any](0.5, -1.5, 2.5))
    val ex = SignProject(Literal(arr, ArrayType(DoubleType)), Literal(2))
    val interpreted = ex.eval(null).asInstanceOf[Double]
    assert(java.lang.Double.doubleToLongBits(interpreted)
      == java.lang.Double.doubleToLongBits(
        reference(Array(0.5, -1.5, 2.5), 2)))
  }

  test("non-literal index is rejected at analysis") {
    val err = intercept[Exception] {
      vecs.select(call_function("graft_sign_project",
        col("e"), col("id").cast("int"))).collect()
    }
    assert(err.getMessage.contains("literal"),
      s"expected the literal-index contract in: ${err.getMessage}")
  }
}
