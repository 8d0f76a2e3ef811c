package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** graft_classifier_score (plans/ClassifierScore.scala) — the native
  * codegen scorer behind q255/s39/s49. Pinned three ways:
  * (1) bucket equivalence: the byte-level md5 bucket must equal the SQL
  *     chain `conv(substr(md5(g),1,15),16,10) % 4096` the weight table
  *     was trained with — including multi-byte UTF-8 grams (md5 runs
  *     over the same UTF-8 bytes both ways);
  * (2) score equivalence: the whole expression must equal the former
  *     interpreted HOF chain (aggregate/transform/element_at/coalesce)
  *     on random gram arrays against a random sparse weight map —
  *     absent buckets take the default slot;
  * (3) both the codegen and interpreted (`expr.eval`) paths agree.
  */
class ClassifierScoreSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  private def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  private val gramGen: Gen[String] = Gen.listOfN(3, Gen.frequency(
    8 -> Gen.alphaNumChar,
    2 -> Gen.oneOf('é', 'ü', '中', '日', ' ', '!'))).map(_.mkString)

  /** The SQL chain the weight table is keyed by. */
  private val sqlBucket: Column =
    expr("cast(conv(substr(md5(_g), 1, 15), 16, 10) AS BIGINT) % 4096")

  test("bucket: md5-byte fast path equals the conv-substr SQL chain") {
    import spark.implicits._
    val grams = samples(gramGen, 200, 7100L).distinct
    val viaSql = grams.toDF("_g")
      .select(sqlBucket).as[Long].collect()
    grams.zip(viaSql).foreach { case (g, b) =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8"))
      val fast = ((d(6) & 0xFF) << 4) | ((d(7) & 0xFF) >>> 4)
      assert(fast.toLong == b, s"bucket mismatch for '$g': fast=$fast sql=$b")
    }
  }

  test("score: native expression equals the interpreted HOF chain") {
    import spark.implicits._
    // sparse random weight map (half the buckets absent) + default
    val rnd = new scala.util.Random(99)
    val wtMap: Map[Long, Long] =
      (0L until 4096L).filter(_ => rnd.nextBoolean())
        .map(b => b -> (rnd.nextInt(1000000).toLong)).toMap
    val dflt = 500000L
    val mapCol = typedLit(wtMap)
    val arrGen = Gen.chooseNum(0, 40)
      .flatMap(n => Gen.listOfN(n, gramGen))
    val docs = samples(arrGen, 80, 7300L)
    val df = docs.toDF("gr")
    val legacyCol = aggregate(
      transform(col("gr"), g =>
        coalesce(
          element_at(mapCol,
            conv(substring(md5(g.cast("binary")), 1, 15), 16, 10)
              .cast("long") % 4096),
          lit(dflt))),
      lit(0L), (acc, w) => acc + w)
    val want = df.select(legacyCol).as[Long].collect()
    val got = df.select(call_function("graft_classifier_score",
      col("gr"), mapCol, lit(dflt))).as[Long].collect()
    assert(got.toSeq == want.toSeq, "native scorer diverges from HOF chain")

    // interpreted eval path agrees with the codegen path
    val e = ClassifierScore(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        docs.head, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        wtMap, org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.LongType,
          org.apache.spark.sql.types.LongType, false)),
      org.apache.spark.sql.catalyst.expressions.Literal(dflt))
    assert(e.eval(null) == want.head,
      "interpreted eval diverges from codegen result")
  }

  test("null grams array yields null; null elements take the default") {
    import spark.implicits._
    val mapCol = typedLit(Map(0L -> 1L))
    val scoreOf = call_function("graft_classifier_score",
      col("gr"), mapCol, lit(7L))
    val nullArr = spark.sql("SELECT CAST(NULL AS ARRAY<STRING>) AS gr")
      .select(scoreOf.as("s"))
    assert(nullArr.collect().head.isNullAt(0), "null array must score null")
    val withNullElem = spark.sql("SELECT array('abc', NULL) AS gr")
      .select(scoreOf.as("s")).as[Long].collect().head
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest("abc".getBytes("UTF-8"))
    val b = ((d(6) & 0xFF) << 4) | ((d(7) & 0xFF) >>> 4)
    val abcW = if (b == 0) 1L else 7L
    assert(withNullElem == abcW + 7L,
      s"null element must take the default slot (got $withNullElem)")
  }

  test("non-foldable weight map is rejected at analysis") {
    val err = intercept[Exception] {
      spark.sql(
        """SELECT graft_classifier_score(array('a'),
                map(cast(id AS BIGINT), id), 0L)
           FROM range(3)""").collect()
    }
    assert(err.getMessage.contains("foldable"),
      s"expected a foldable-map analysis error, got: ${err.getMessage.take(200)}")
  }
}
