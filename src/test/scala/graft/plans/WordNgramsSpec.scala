package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Unit tier: the native word-n-gram kernel — split parity with
  * `split(text, ' ')` (empty tokens kept), short-input edges, and
  * codegen/interpreted agreement. */
class WordNgramsSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  private def ngrams(text: String, n: Int): Seq[String] = {
    import spark.implicits._
    Seq(text).toDF("t")
      .select(call_function("graft_word_ngrams", col("t"), lit(n)).as("g"))
      .as[Seq[String]].head()
  }

  test("3-grams of a plain sentence") {
    assert(ngrams("a b c d e", 3) == Seq("a b c", "b c d", "c d e"))
  }

  test("inputs shorter than n yield an empty array (not null, not partials)") {
    assert(ngrams("a b", 3) == Seq.empty)
    assert(ngrams("", 3) == Seq.empty)
  }

  test("n=1 returns the tokens themselves") {
    assert(ngrams("x y z", 1) == Seq("x", "y", "z"))
  }

  test("empty tokens from doubled/trailing spaces are kept — split(' ') parity") {
    // "a  b " splits to [a, , b, ] — java split(" ", -1) semantics
    assert(ngrams("a  b ", 2) == Seq("a ", " b", "b "))
    assert(ngrams("a  b ", 4) == Seq("a  b "))
  }

  test("multi-byte UTF-8 text slices on the space byte only") {
    assert(ngrams("héllo wörld 日本語 x", 2)
      == Seq("héllo wörld", "wörld 日本語", "日本語 x"))
  }

  test("expression equals the lead()-window formulation on fixture docs") {
    import spark.implicits._
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val native = docs
      .select(col("doc_id"),
        explode(call_function("graft_word_ngrams", col("text"), lit(3))).as("g"))
    val wspec = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val windowed = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .select(col("doc_id"),
        concat_ws(" ", col("w"), lead("w", 1).over(wspec), lead("w", 2).over(wspec)).as("g"),
        lead("w", 2).over(wspec).isNotNull.as("complete"))
      .filter(col("complete")).drop("complete")
    assert(native.exceptAll(windowed).isEmpty && windowed.exceptAll(native).isEmpty,
      "native kernel must emit exactly the window formulation's grams")
  }

  test("non-literal gram size is rejected at analysis") {
    import spark.implicits._
    val e = intercept[Exception] {
      Seq(("a b c", 2)).toDF("t", "n")
        .select(call_function("graft_word_ngrams", col("t"), col("n")))
        .collect()
    }
    assert(e.getMessage.toLowerCase.contains("literal"))
  }
}
