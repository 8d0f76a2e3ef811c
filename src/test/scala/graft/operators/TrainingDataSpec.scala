package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkSpec}

/** Unit tier for the r4 training-data / CDC / compaction operators —
  * semantics the per-query oracle aggregates don't isolate. */
class TrainingDataSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val dir = "/root/testdata/sf0.001"

  test("redactPii replaces emails, phones, and SSNs without touching the rest") {
    import spark.implicits._
    val out = Seq("mail a.b@x.co, call 555-123-4567, ssn 987-65-4321, keep 12-34")
      .toDF("t").select(TrainingDataOps.redactPii(col("t"))).head().getString(0)
    assert(out == "mail [EMAIL], call [PHONE], ssn [SSN], keep 12-34")
  }

  test("redactPii leaves PII-free text byte-identical") {
    import spark.implicits._
    val in = "plain words 123-45 and x@y (no tld) survive"
    val out = Seq(in).toDF("t")
      .select(TrainingDataOps.redactPii(col("t"))).head().getString(0)
    assert(out == in)
  }

  test("Cdc.diff classifies insert/delete/update/unchanged with null-safe compare") {
    import spark.implicits._
    val old = Seq((1L, Option("a")), (2L, Option("b")), (3L, Option.empty[String]))
      .toDF("k", "v")
    val neu = Seq((2L, Option("B")), (3L, Option.empty[String]), (4L, Option("d")))
      .toDF("k", "v")
    val got = Cdc.diff(old, neu, Seq("k"), Seq("v"))
      .select("k", "change_type").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "delete", 2L -> "update", 3L -> "unchanged", 4L -> "insert"),
      s"got $got — null==null must classify unchanged, not update")
  }

  test("Cdc.upsert: source wins collisions, including legitimate null overwrites") {
    import spark.implicits._
    val target = Seq((1L, Option("t1")), (2L, Option("t2"))).toDF("k", "v")
    val source = Seq((2L, Option.empty[String]), (3L, Option("s3"))).toDF("k", "v")
    val got = Cdc.upsert(target, source, Seq("k"))
      .as[(Long, Option[String])].collect().toMap
    assert(got == Map(1L -> Some("t1"), 2L -> None, 3L -> Some("s3")),
      s"got $got — a null SOURCE value must overwrite (presence marker, not coalesce)")
  }

  test("graft_polyhash handles empty strings and multi-byte code points") {
    import spark.implicits._
    val rows = Seq("", "a", "é世").toDF("t")
      .selectExpr("graft_polyhash(t)").collect().map(_.getLong(0))
    assert(rows(0) == 0L, "empty string folds to the seed")
    assert(rows(1) == 'a'.toLong, "single char is its code point")
    assert(rows(2) == (0xe9.toLong * 31 + 0x4e16) % 1000000007L,
      "must fold CODE POINTS, not UTF-8 bytes or UTF-16 units")
  }

  test("graft_nfc composes decomposed sequences and is idempotent") {
    import spark.implicits._
    val rows = Seq(("cafe\u0301", "caf\u00e9")).toDF("dec", "com")
      .selectExpr("graft_nfc(dec)", "graft_nfc(com)", "graft_nfc(graft_nfc(dec))")
      .head()
    assert(rows.getString(0) == "caf\u00e9", "e + combining acute must compose")
    assert(rows.getString(1) == "caf\u00e9", "already-composed input unchanged")
    assert(rows.getString(2) == "caf\u00e9", "NFC must be idempotent")
  }

  test("Cdc.diff on key-only tables classifies insert/delete, never update") {
    import spark.implicits._
    val old = Seq(1L, 2L, 3L).toDF("k")
    val neu = Seq(2L, 3L, 4L).toDF("k")
    val got = Cdc.diff(old, neu, Seq("k"), Seq.empty)
      .select("k", "change_type").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "delete", 2L -> "unchanged",
      3L -> "unchanged", 4L -> "insert"), s"got $got")
  }

  test("Cdc.diff with ALL-null compare columns on both sides is unchanged") {
    import spark.implicits._
    val old = Seq((1L, Option.empty[String], Option.empty[String])).toDF("k", "a", "b")
    val neu = Seq((1L, Option.empty[String], Option.empty[String])).toDF("k", "a", "b")
    val got = Cdc.diff(old, neu, Seq("k"), Seq("a", "b"))
      .select("change_type").as[String].head()
    assert(got == "unchanged",
      "null <=> null must hold across EVERY compare column")
  }

  test("Cdc.upsert on key-only tables unions the key sets") {
    import spark.implicits._
    val target = Seq(1L, 2L).toDF("k")
    val source = Seq(2L, 3L).toDF("k")
    val got = Cdc.upsert(target, source, Seq("k"))
      .as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L), s"got $got")
  }

  test("Cdc.upsert rejects mismatched schemas loudly") {
    import spark.implicits._
    val target = Seq((1L, "a")).toDF("k", "v")
    val source = Seq((1L, "a", "extra")).toDF("k", "v", "w")
    val e = intercept[IllegalArgumentException](
      Cdc.upsert(target, source, Seq("k")))
    assert(e.getMessage.contains("schemas differ"))
  }

  test("Compaction.compact is idempotent on an already-compact directory") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact-idem")
    val in = s"$tmp/in"
    val out1 = s"$tmp/out1"
    val out2 = s"$tmp/out2"
    val src = graft.Tables(spark, dir, "events")
    src.coalesce(1).write.mode("overwrite").parquet(in)
    val (_, n1) = Compaction.compact(spark, in, out1, 64L * 1024 * 1024)
    val (_, n2) = Compaction.compact(spark, out1, out2, 64L * 1024 * 1024)
    assert(n1 == 1 && n2 == 1, s"single-file input must stay single ($n1, $n2)")
    assert(spark.read.parquet(out2).count() == src.count())
  }

  test("Compaction.compact reduces file count and preserves every row") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact-spec")
    val in = s"$tmp/in"
    val out = s"$tmp/out"
    val src = graft.Tables(spark, dir, "events")
    src.repartition(16).write.mode("overwrite").parquet(in)
    val (nIn, nOut) = Compaction.compact(spark, in, out, 64L * 1024 * 1024)
    assert(nIn == 16 && nOut < nIn, s"expected compaction, got $nIn -> $nOut")
    assert(spark.read.parquet(out).count() == src.count())
  }

  test("q58 ranking is pure integer arithmetic (no raw-double ordering)") {
    // the scored frame's ordering columns must be integral — a double
    // score would reintroduce the cross-engine ln() tie-break hazard
    val df = SparkEntry.queries("q58_tfidf_topk")(spark, dir)
    val fields = df.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(fields("score") == "long" && fields("tf") == "long"
      && fields("dfreq") == "long", s"got $fields")
  }

  test("q63 dup-ngram fraction brackets: permille in [0, 1000]") {
    val rows = SparkEntry.queries("q63_dup_ngram_fraction")(spark, dir)
      .select("dup_permille").collect().map(_.getLong(0))
    assert(rows.nonEmpty && rows.forall(p => p >= 0 && p <= 1000))
  }

  test("q67 honors per-source quotas exactly (ceil of the per-mille share)") {
    val rows = SparkEntry.queries("q67_source_mixture_sample")(spark, dir)
      .select("source", "n_total", "n_sampled").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val frac = if (r.getString(0).drop(3).toInt % 2 == 0) 500L else 250L
      val expected = (r.getLong(1) * frac + 999L) / 1000L
      assert(r.getLong(2) == expected,
        s"${r.getString(0)}: sampled ${r.getLong(2)}, expected $expected")
    }
  }

  test("q66 flags benchmark items drawn verbatim from the corpus") {
    // the benchmark is cut verbatim from corpus docs, so every item's
    // grams are contained and every row must flag contaminated
    val rows = SparkEntry.queries("q66_decontamination")(spark, dir)
      .select("hit_permille", "contaminated").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) == 1000L && r.getBoolean(1)),
      "verbatim-cut benchmark items must be 1000-permille contained")
  }

  test("q79 chunk geometry: counts match the stride formula, sizes bounded") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chunks = SparkEntry.queries("q79_doc_chunking")(spark, dir)
      .select("doc_id", "chunk_idx", "chunk_tokens").collect()
    assert(chunks.nonEmpty)
    chunks.foreach { r =>
      assert(r.getInt(2) >= 1 && r.getInt(2) <= 64,
        s"chunk size out of bounds: $r")
    }
    val perDoc = chunks.groupBy(_.getLong(0)).map { case (id, cs) => id -> cs.length }
    docs.foreach { case (id, n) =>
      val expected = 1L + (math.max(0L, n - 64) + 47) / 48
      assert(perDoc(id).toLong == expected,
        s"doc $id with $n tokens: ${perDoc(id)} chunks, expected $expected")
    }
  }

  test("q86 quotas: every source sampled, never above quota, floor of 1 respected") {
    val rows = SparkEntry.queries("q86_temperature_mixture")(spark, dir)
      .select("n_total", "quota", "n_sampled").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (total, quota, sampled) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(quota >= 1, s"quota floor violated: $r")
      assert(sampled == math.min(total, quota),
        s"sampled $sampled, expected min($total, $quota)")
    }
  }

  test("sequential Cdc.upsert batches: the later batch wins per key") {
    import spark.implicits._
    val t0 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val b1 = Seq((2L, "b1"), (3L, "c1")).toDF("k", "v")
    val b2 = Seq((3L, "c2"), (4L, "d2")).toDF("k", "v")
    val got = Cdc.upsert(Cdc.upsert(t0, b1, Seq("k")), b2, Seq("k"))
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "b1"), (3L, "c2"), (4L, "d2")),
      s"chained upsert must be last-writer-wins: $got")
  }
}
