package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Unit tier: the fused char-gram → md5-bucket kernel — exact parity
  * with the SQL md5 chain it replaces (the classifier weight table is
  * keyed by these buckets; a single drifted bucket re-keys features and
  * silently changes every classifier query). */
class CharGramBucketsSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  private val sqlBuckets =
    "transform(graft_char_ngrams(text, 3), g -> " +
      "cast(conv(substr(md5(g), 1, 15), 16, 10) AS BIGINT) % 4096)"

  test("buckets are bit-identical to conv(substr(md5(g),1,15),16,10) % 4096 on fixture documents") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val native = docs.select(col("doc_id"),
      call_function("graft_char_gram_buckets",
        col("text"), lit(3), lit(4096)).as("bs"))
    val sql = docs.select(col("doc_id"), expr(sqlBuckets).as("bs"))
    assert(native.exceptAll(sql).isEmpty && sql.exceptAll(native).isEmpty,
      "fused kernel must emit exactly the SQL md5-bucket chain's values")
  }

  test("multi-byte characters, short strings and other moduli match the SQL chain") {
    import spark.implicits._
    val df = Seq("héllo wörld", "ab", "abc", "ééé", "日本語のテキスト", "")
      .toDF("text")
    for (mod <- Seq(7, 4096, 65536)) {
      val native = df.select(call_function("graft_char_gram_buckets",
        col("text"), lit(3), lit(mod)).as("bs"))
      val sql = df.select(expr(
        "transform(graft_char_ngrams(text, 3), g -> " +
          s"cast(conv(substr(md5(g), 1, 15), 16, 10) AS BIGINT) % $mod)").as("bs"))
      assert(native.exceptAll(sql).isEmpty && sql.exceptAll(native).isEmpty,
        s"mod=$mod must match the SQL chain")
    }
  }

  test("text shorter than the gram size yields an empty array") {
    import spark.implicits._
    val out = Seq("ab").toDF("text")
      .select(call_function("graft_char_gram_buckets",
        col("text"), lit(3), lit(4096)).as("bs"))
      .as[Seq[Long]].head()
    assert(out.isEmpty)
  }
}
