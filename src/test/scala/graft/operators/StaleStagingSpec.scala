package graft.operators

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkSpec, Tables}

/** Staged fixture copies follow their fixture: a table regenerated in
  * place under the same sf directory name is re-staged, never served from
  * the previous content's staging — and staging a streaming landing
  * leaves no temp dirs behind in `java.io.tmpdir`. */
@graft.tags.Integration
class StaleStagingSpec extends AnyFunSuite {
  private def spark = SparkSpec.spark

  /** A fresh sf0.001 fixture dir, generated with the seed-deterministic
    * `DataGen` so it can be rewritten in place. */
  private def freshFixture(): String = {
    val dir = Files.createTempDirectory("graft-stale-fixture").resolve("sf0.001")
    Files.createDirectories(dir)
    graft.tools.DataGen.generate(spark, dir.toString, 0.001)
    dir.toString
  }

  /** Rewrite `dir/<name>.parquet` in place as the rows passing `keep`. */
  private def regenerate(dir: String, name: String, keep: org.apache.spark.sql.Column): Unit = {
    val out = Paths.get(dir).resolveSibling(s"regen_$name")
    Tables(spark, dir, name).filter(keep).coalesce(1).write.parquet(out.toString)
    val ls = Files.list(out)
    val part = try ls.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    finally ls.close()
    Files.move(part, Paths.get(dir, s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // DataGen's Hadoop rename left a checksum of the old bytes beside it
    Files.deleteIfExists(Paths.get(dir, s".$name.parquet.crc"))
  }

  private def run(name: String, dir: String): Seq[Row] =
    SparkEntry.queries(name)(spark, dir).collect().toSeq

  /** q36's aggregate computed straight from the orders parquet. */
  private def q36Direct(dir: String): Seq[Row] =
    Tables(spark, dir, "orders").groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), Exact.dsum(col("o_totalprice")).as("sum_total"))
      .orderBy("o_orderstatus").collect().toSeq

  /** q38's rows computed straight from the documents parquet: each
    * staged file holds the text's UTF-8 bytes. */
  private def q38Direct(dir: String): Seq[Row] = {
    val bytes = encode(col("text"), "UTF-8")
    Tables(spark, dir, "documents")
      .select(col("doc_id"), length(bytes).cast("long").as("length"),
        substring(bytes, 1, 4).cast("string").as("head4"))
      .orderBy("doc_id").collect().toSeq
  }

  private def tmpEntries(prefix: String): Set[String] = {
    val ls = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try ls.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith(prefix)).toSet
    finally ls.close()
  }

  test("a fixture regenerated in place is re-staged; landings leave no temp dirs") {
    val dir = freshFixture()
    try check(dir) finally StagingCleanup.async(Paths.get(dir).getParent)
  }

  private def check(dir: String): Unit = {
    assert(run("q36_csv_scan", dir) == q36Direct(dir))
    assert(run("q38_binaryfile_scan", dir) == q38Direct(dir))

    regenerate(dir, "orders", col("o_orderkey") % 3 =!= 0)
    regenerate(dir, "documents", col("doc_id") % 3 =!= 0)
    val q36 = run("q36_csv_scan", dir)
    assert(q36 == q36Direct(dir), "q36 served the previous orders' CSV staging")
    val q38 = run("q38_binaryfile_scan", dir)
    val (got, want) = (q38.size.toLong, Tables(spark, dir, "documents").count())
    assert(got == want, "q38 served the previous documents' file staging")
    assert(q38 == q38Direct(dir))

    // s39 stages a fresh documents landing for this fixture copy
    val before = tmpEntries("graft_stage")
    assert(run("s39_stream_classifier_gate", dir).nonEmpty)
    val leaked = tmpEntries("graft_stage") -- before
    assert(leaked.isEmpty, s"landing left temp dirs behind: ${leaked.mkString(", ")}")
  }
}
