package graft.plans

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Property tier for the native codegen expressions and the CDC algebra:
  * each kernel is pinned to an independent straight-Scala reference over
  * ScalaCheck-generated inputs (sampled with fixed seeds — the
  * scalatest/scalacheck bridge artifact isn't on the offline classpath),
  * so a codegen bug that the fixture-driven oracles happen to miss still
  * fails here.
  */
class PropertySpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  private def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  test("property: graft_polyhash matches the code-point fold reference") {
    import spark.implicits._
    val strGen = Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar,
      2 -> Gen.oneOf('é', 'ü', '中', ' ', '!'))).map(_.mkString)
    val xs = samples(strGen, 60, 2000L)
    def ref(t: String): Long =
      t.codePoints().toArray.foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L)
    val got = xs.toDF("t")
      .select(call_function("graft_polyhash", col("t"))).as[Long].collect()
    xs.zip(got).foreach { case (t, h) =>
      assert(h == ref(t), s"polyhash mismatch for ${t.take(40)}")
    }
  }

  test("property: graft_char_ngrams equals the codepoint sliding window") {
    import spark.implicits._
    val strGen = Gen.listOf(Gen.frequency(
      7 -> Gen.alphaNumChar,
      3 -> Gen.oneOf('é', 'ü', '中', '日', ' '))).map(_.mkString)
    val xs = samples(strGen, 60, 4000L)
    def ref(t: String, n: Int): Seq[String] = {
      // codepoint-aligned reference: surrogate-safe sliding window
      val cps = t.codePoints().toArray
      if (cps.length < n) Seq.empty
      else cps.sliding(n).map(w => new String(w, 0, w.length)).toSeq
    }
    for (n <- Seq(1, 2, 3)) {
      val got = xs.toDF("t")
        .select(call_function("graft_char_ngrams", col("t"), lit(n)))
        .as[Seq[String]].collect()
      xs.zip(got).foreach { case (t, g) =>
        assert(g == ref(t, n), s"char-ngram($n) mismatch for '${t.take(40)}'")
      }
    }
  }

  test("property: graft_word_ngrams equals the naive sliding window (empty tokens kept)") {
    import spark.implicits._
    // tokens include empties so double/leading/trailing spaces are covered
    val tokGen = Gen.listOf(Gen.frequency(
      6 -> Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString),
      1 -> Gen.const(""),
      1 -> Gen.const("é中"))).map(_.mkString(" "))
    val xs = samples(tokGen, 60, 3000L)
    def ref(t: String): Seq[String] = {
      val toks = t.split(" ", -1).toSeq
      if (toks.length < 3) Seq.empty else toks.sliding(3).map(_.mkString(" ")).toSeq
    }
    val got = xs.toDF("t")
      .select(call_function("graft_word_ngrams", col("t"), lit(3)))
      .as[Seq[String]].collect()
    xs.zip(got).foreach { case (t, g) =>
      assert(g == ref(t), s"ngram mismatch for '${t.take(40)}'")
    }
  }

  test("property: graft_nfc equals java.text.Normalizer and is idempotent") {
    import spark.implicits._
    val strGen = Gen.listOf(Gen.frequency(
      6 -> Gen.alphaChar,
      2 -> Gen.oneOf('́', '̈', '̧'), // combining marks
      1 -> Gen.oneOf('é', 'Å'))).map(_.mkString)
    val xs = samples(strGen, 60, 4000L)
    def ref(t: String): String =
      java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC)
    val got = xs.toDF("t")
      .select(call_function("graft_nfc", col("t")).as("a"))
      .select(col("a"), call_function("graft_nfc", col("a")).as("b"))
      .as[(String, String)].collect()
    xs.zip(got).foreach { case (t, (a, b)) =>
      assert(a == ref(t), s"nfc mismatch for '${t.take(40)}'")
      assert(a == b, s"nfc not idempotent for '${t.take(40)}'")
    }
  }

  test("property: graft_cosine matches the sequential-fold double reference") {
    import spark.implicits._
    val vecGen = for {
      head <- Gen.choose(0.5, 5.0)
      rest <- Gen.listOfN(7, Gen.choose(-5.0, 5.0))
    } yield head :: rest
    val pairs = samples(Gen.zip(vecGen, vecGen), 50, 5000L)
    def ref(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val got = pairs.toDF("a", "b")
      .select(call_function("graft_cosine", col("a"), col("b"))).as[Double].collect()
    pairs.zip(got).foreach { case ((a, b), sim) =>
      // bit-exact: both sides run the identical operation sequence
      assert(java.lang.Double.doubleToLongBits(sim)
        == java.lang.Double.doubleToLongBits(ref(a, b)),
        s"cosine mismatch: $sim vs ${ref(a, b)}")
    }
  }

  test("property: graft_sign_project matches the LCG-sign fold reference") {
    import spark.implicits._
    def reference(e: Seq[Double], i: Int): Double = {
      var acc = 0.0
      for (j <- e.indices) {
        val h = (1103515245L * (i.toLong * 1009L + j) + 12345L) / 1024L
        acc += (if ((h & 1L) == 0L) e(j) else -e(j))
      }
      acc
    }
    val vecGen = Gen.listOf(Gen.chooseNum(-10.0, 10.0))
    val xs = samples(vecGen, 40, 7000L)
    val rows = xs.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
      .toDF("id", "e")
      .select(col("id"), col("e"),
        call_function("graft_sign_project", col("e"), lit(3)).as("p3"))
      .collect()
    rows.foreach { r =>
      val e = r.getSeq[Double](1)
      val exp = reference(e, 3)
      assert(java.lang.Double.doubleToLongBits(exp)
        == java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"id=${r.getLong(0)}: $exp != ${r.getDouble(2)}")
    }
  }

  test("property: Cdc.upsert is idempotent (re-applying a source is a no-op)") {
    import spark.implicits._
    val kvGen = Gen.listOf(Gen.zip(Gen.choose(0L, 20L), Gen.alphaStr.map(_.take(6))))
      .map(_.toMap.toSeq) // unique keys per frame
    samples(Gen.zip(kvGen, kvGen), 10, 6000L).foreach { case (t0, s0) =>
      val target = t0.toDF("k", "v")
      val source = s0.toDF("k", "v")
      val once = graft.operators.Cdc.upsert(target, source, Seq("k"))
        .as[(Long, String)].collect().toSet
      val twice = graft.operators.Cdc.upsert(
        graft.operators.Cdc.upsert(target, source, Seq("k")), source, Seq("k"))
        .as[(Long, String)].collect().toSet
      assert(once == twice, s"upsert not idempotent: $once vs $twice")
    }
  }

  test("property: Statistics.prefixSums matches a straight-Scala scan") {
    import spark.implicits._
    // distinct keys with two delta columns; few partitions so the
    // offset-table path (not just intra-partition cumsum) is exercised
    val rowsGen = Gen.listOf(Gen.zip(
        Gen.choose(-1000L, 1000L), Gen.choose(0L, 20L), Gen.choose(0L, 20L)))
      .map(_.groupBy(_._1).map { case (k, g) =>
        (k, g.map(_._2).sum, g.map(_._3).sum) }.toSeq)
    samples(rowsGen, 12, 7000L).filter(_.nonEmpty).foreach { rows =>
      val got = graft.operators.Statistics
        .prefixSums(rows.toDF("k", "d1", "d2"), "k", Seq("d1", "d2"),
          partitions = 4)
        .select("k", "cum_d1", "cum_d2")
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      val sorted = rows.sortBy(_._1)
      val exp = sorted.scanLeft((0L, 0L, 0L)) { case ((_, a, b), (k, d1, d2)) =>
        (k, a + d1, b + d2) }.drop(1)
      assert(got.toSeq == exp,
        s"distributed prefix sums diverged on ${rows.size} rows")
    }
  }
}
