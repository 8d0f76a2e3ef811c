package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Unit tier: the native character-n-gram kernel — codepoint alignment
  * (multi-byte characters never split), short-input edges, and parity
  * with the interpreted HOF spelling it replaces. */
class CharNgramsSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  private def ngrams(text: String, n: Int): Seq[String] = {
    import spark.implicits._
    Seq(text).toDF("t")
      .select(call_function("graft_char_ngrams", col("t"), lit(n)).as("g"))
      .as[Seq[String]].head()
  }

  test("bigrams of a plain word") {
    assert(ngrams("hello", 2) == Seq("he", "el", "ll", "lo"))
  }

  test("inputs shorter than n yield an empty array (not null, not partials)") {
    assert(ngrams("h", 2) == Seq.empty)
    assert(ngrams("", 2) == Seq.empty)
  }

  test("n=1 returns the characters themselves") {
    assert(ngrams("abc", 1) == Seq("a", "b", "c"))
  }

  test("multi-byte UTF-8 slices on codepoint boundaries, never mid-sequence") {
    assert(ngrams("日本語", 2) == Seq("日本", "本語"))
    assert(ngrams("héllo", 2) == Seq("hé", "él", "ll", "lo"))
  }

  test("expression equals the HOF substring formulation on fixture words") {
    import spark.implicits._
    val words = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
    val native = words
      .select(explode(call_function("graft_char_ngrams", col("w"), lit(2))).as("g"))
    val hof = words
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("g"))
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty,
      "native kernel must emit exactly the HOF formulation's grams")
  }

  test("non-literal gram size is rejected at analysis") {
    import spark.implicits._
    val e = intercept[Exception] {
      Seq(("abc", 2)).toDF("t", "n")
        .select(call_function("graft_char_ngrams", col("t"), col("n")))
        .collect()
    }
    assert(e.getMessage.toLowerCase.contains("literal"))
  }
}
