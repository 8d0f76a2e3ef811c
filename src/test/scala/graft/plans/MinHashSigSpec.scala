package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Unit tier: the native 64-lane MinHash signature kernel — exact
  * parity with the interpreted HOF spelling it replaces (s37's probe
  * side must produce the SAME band hashes as the corpus index built
  * from the columnar min() aggregates, or candidate recall silently
  * changes). */
class MinHashSigSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  test("lanes are bit-identical to array_min(transform(.., xxhash64(xxhash64(x), k))) on fixture shingles") {
    val sh = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("s", expr(graft.operators.Dedup.shinglesExpr))
      .filter(size(col("s")) > 0)
    val native = sh.select(col("doc_id"),
      call_function("graft_minhash_sig", col("s")).as("sig"))
    val hofCols = (0 until 64).map(k =>
      expr(s"array_min(transform(s, x -> xxhash64(xxhash64(x), $k)))")
        .as(s"m$k"))
    val hof = sh.select(col("doc_id") +: hofCols: _*)
      .select(col("doc_id"),
        array((0 until 64).map(k => col(s"m$k")): _*).as("sig"))
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty,
      "native kernel must emit exactly the HOF chain's 64 lanes")
  }

  test("single-element and duplicate-element arrays hash like the HOF chain") {
    import spark.implicits._
    val df = Seq(Seq("alpha"), Seq("alpha", "alpha"), Seq("a b c", ""))
      .toDF("s")
    val native = df.select(
      call_function("graft_minhash_sig", col("s")).as("sig"))
    val hof = df.select(array((0 until 64).map(k =>
      expr(s"array_min(transform(s, x -> xxhash64(xxhash64(x), $k)))")): _*)
      .as("sig"))
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty)
  }

  test("empty array yields an empty signature") {
    import spark.implicits._
    val out = Seq(Seq.empty[String]).toDF("s")
      .select(call_function("graft_minhash_sig", col("s")).as("sig"))
      .as[Seq[Long]].head()
    assert(out.isEmpty)
  }
}
