package graft.pipeline

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.pipeline.transfer.{FtpPools, Stage, TransferBackend, TransferFactory}
import graft.pipeline.testkit.FakeFtpServer

/** E2E tier (top of the SURVEY §5 pyramid): full pipeline runs with
  * byte-exact content checks, mirroring /root/reference/tests/test_e2e.py:
  * local→local (:354-394), FTP→local (:248-295), local→FTP (:298-351),
  * FTP→FTP (:82-145), DLQ on missing file (:151-202) and invalid JSON
  * (:204-245), temp-file cleanup (tests/test_consumer.py:394-458).
  */
@graft.tags.E2E
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private var work: Path = _
  private var ftpRoot: Path = _
  private var ftp: FakeFtpServer = _

  override def beforeAll(): Unit = {
    work = Files.createTempDirectory("graft-e2e")
    ftpRoot = Files.createTempDirectory("graft-e2e-ftp")
    ftp = new FakeFtpServer(ftpRoot)
  }
  override def afterAll(): Unit = {
    ftp.stop()
    FtpPools.closeAll()
    import scala.jdk.CollectionConverters._
    for (d <- Seq(work, ftpRoot))
      Files.walk(d).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }

  private def pc = new PipelineConfig(Map(
    "SRC_TYPE" -> "local", "SRC_HOST" -> "localhost",
    "DST_TYPE" -> "local", "DST_HOST" -> "localhost",
    "FAKEFTP_TYPE" -> "ftp", "FAKEFTP_HOST" -> "127.0.0.1",
    "FAKEFTP_PORT" -> ftp.port.toString,
    "FAKEFTP_USERNAME" -> "u", "FAKEFTP_PASSWORD" -> "p",
    "FTP_POOL_SIZE" -> "2"))

  private def jobJson(id: String, sh: String, sp: String, dh: String, dp: String): String =
    s"""{"job_id":"$id","source":{"hostname":"$sh","path":"$sp"},""" +
      s""""destination":{"hostname":"$dh","path":"$dp"}}"""

  private def writeSrc(name: String, content: String): Path = {
    val p = work.resolve(name)
    Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes("UTF-8"))
    p
  }

  test("local→local roundtrip: byte-exact content at destination (test_e2e.py:354-394)") {
    val src = writeSrc("in/a.txt", "payload-A " * 100)
    val dst = work.resolve("out/a.txt")
    val raw = Seq(jobJson("j1", "src", src.toString, "dst", dst.toString)).toDF("value")
    val (results, dlq) = Pipeline.run(raw, pc)
    val r = results.collect()
    assert(r.length == 1 && r.head.status == "success")
    assert(r.head.bytes == Files.size(src))
    assert(dlq.count() == 0)
    assert(Files.readAllBytes(dst).sameElements(Files.readAllBytes(src)))
  }

  test("local→FTP→local chain is byte-exact (test_e2e.py:248-351)") {
    val content = "ftp chained content " * 50
    val src = writeSrc("in/f.txt", content)
    val back = work.resolve("out/f-back.txt")
    val up = Seq(jobJson("j-up", "src", src.toString, "fakeftp", "/store/f.txt")).toDF("value")
    val (r1, _) = Pipeline.run(up, pc)
    assert(r1.collect().head.status == "success")
    val down = Seq(jobJson("j-down", "fakeftp", "/store/f.txt", "dst", back.toString)).toDF("value")
    val (r2, _) = Pipeline.run(down, pc)
    assert(r2.collect().head.status == "success")
    assert(new String(Files.readAllBytes(back), "UTF-8") == content)
  }

  test("DLQ on missing source file carries job JSON + not_found (test_e2e.py:151-202)") {
    val raw = Seq(jobJson("j-miss", "src", work.resolve("ghost.txt").toString,
      "dst", work.resolve("out/ghost.txt").toString)).toDF("value")
    val (results, dlq) = Pipeline.run(raw, pc)
    val r = results.collect().head
    assert(r.status == "dlq" && r.error_type == "not_found")
    val d = dlq.collect().head
    assert(d.getAs[String]("original_message").contains("\"job_id\":\"j-miss\""))
    assert(d.getAs[String]("error").contains("FileNotFoundException"))
    assert(d.getAs[Int]("retry_count") == 0)
  }

  test("replayDlq increments retry_count per failed attempt; success drains the row") {
    // each attempt's DLQ is frozen (persist+count) before the next — the
    // replayDlq contract: deployments replay a MATERIALIZED DLQ sink, not
    // the live lineage of the previous run
    def freeze(df: org.apache.spark.sql.DataFrame) = { val f = df.persist(); f.count(); f }
    val missing = work.resolve("retry/ghost.txt")
    val raw = Seq(jobJson("j-retry", "src", missing.toString,
      "dst", work.resolve("retry/out.txt").toString)).toDF("value")
    val (_, dlq0) = Pipeline.run(raw, pc)
    // attempt 1: still missing → retry_count 0 → 1
    val (res1, dlq1raw) = Pipeline.replayDlq(freeze(dlq0), pc)
    assert(res1.collect().head.status == "dlq")
    val dlq1 = freeze(dlq1raw)
    val d1 = dlq1.collect()
    assert(d1.length == 1 && d1.head.getAs[Int]("retry_count") == 1)
    // attempt 2: still missing → 2
    val (_, dlq2raw) = Pipeline.replayDlq(dlq1, pc)
    val dlq2 = freeze(dlq2raw)
    assert(dlq2.collect().head.getAs[Int]("retry_count") == 2)
    // the file appears; attempt 3 succeeds and the DLQ drains
    writeSrc("retry/ghost.txt", "third time lucky")
    val (res3, dlq3) = Pipeline.replayDlq(dlq2, pc)
    val ok = res3.collect().head
    assert(ok.status == "success" && ok.job_id == "j-retry")
    assert(dlq3.count() == 0)
    assert(Files.readAllBytes(work.resolve("retry/out.txt"))
      .sameElements("third time lucky".getBytes("UTF-8")))
    Seq(dlq1, dlq2).foreach(_.unpersist())
  }

  test("replayDlq passes parse failures through, bumping retry_count (unrecoverable)") {
    val raw = Seq("{definitely not json").toDF("value")
    val (_, dlq0) = Pipeline.run(raw, pc)
    val (res, dlq1) = Pipeline.replayDlq(dlq0, pc)
    assert(res.count() == 0, "a {\"raw\":…} record must not become a job")
    val d = dlq1.collect().head
    assert(d.getAs[String]("error_type") == "parse")
    assert(d.getAs[Int]("retry_count") == 1)
    assert(d.getAs[String]("original_message").contains("definitely not json"))
  }

  test("mixed batch: invalid JSON + valid job split correctly (test_e2e.py:204-245)") {
    val src = writeSrc("in/ok.txt", "ok")
    val raw = Seq(
      "this is not json",
      jobJson("j-ok", "src", src.toString, "dst", work.resolve("out/ok.txt").toString))
      .toDF("value")
    val (results, dlq) = Pipeline.run(raw, pc)
    assert(results.filter(col("status") === "success").count() == 1)
    val dlqRows = dlq.collect()
    assert(dlqRows.length == 1)
    assert(dlqRows.head.getAs[String]("error").startsWith("Failed to parse message: "))
  }

  private def staging(): Set[String] = {
    import scala.jdk.CollectionConverters._
    val tmpDir = Path.of(System.getProperty("java.io.tmpdir"))
    Files.list(tmpDir).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("graft-transfer-")).toSet
  }

  test("temp staging files are always cleaned up (test_consumer.py:394-458)") {
    val before = staging()
    val src = writeSrc("in/c.txt", "cleanup")
    val raw = Seq(
      jobJson("c-ok", "src", src.toString, "dst", work.resolve("out/c.txt").toString),
      jobJson("c-fail", "src", work.resolve("nope.txt").toString,
        "dst", work.resolve("out/nope.txt").toString)).toDF("value")
    val (results, _) = Pipeline.run(raw, pc)
    assert(results.count() == 2) // force execution
    assert(staging() == before, "no staging temp files may survive, success or failure")
  }

  test("runOne: a non-fatal error is a DLQ row, a fatal one propagates; no temp file survives") {
    // a backend whose download fails AFTER the temp file exists (it asks
    // the stage for a path, which spills it), with the error its host
    // names: IOException is a transfer outcome, while an
    // InterruptedException (a cancelled task) must reach the executor
    class Failing(error: () => Throwable) extends TransferBackend {
      def connect(): Unit = ()
      def disconnect(): Unit = ()
      def download(remotePath: String, stage: Stage): Unit = {
        assert(Files.exists(stage.path()))
        throw error()
      }
      def upload(stage: Stage, remotePath: String): Unit = ()
    }
    TransferFactory.register("failing-io",
      _ => new Failing(() => new java.io.IOException("disk gone")))
    TransferFactory.register("failing-interrupt",
      _ => new Failing(() => new InterruptedException("task cancelled")))
    val fpc = new PipelineConfig(Map(
      "IO_TYPE" -> "failing-io", "IO_HOST" -> "localhost",
      "INTR_TYPE" -> "failing-interrupt", "INTR_HOST" -> "localhost",
      "DST_TYPE" -> "local", "DST_HOST" -> "localhost"))
    def job(src: String) = FileTransferJob("j-" + src, Endpoint(src, "/a.txt"),
      Endpoint("dst", work.resolve("out/never.txt").toString))
    val before = staging()
    val r = Pipeline.runOne(job("io"), fpc)
    assert(r.status == "dlq" && r.error_type == "io", s"got $r")
    assert(r.error == "IOException: disk gone")
    assert(staging() == before, "the failed transfer's temp file survived")
    intercept[InterruptedException](Pipeline.runOne(job("intr"), fpc))
    assert(staging() == before, "the interrupted transfer's temp file survived")
  }

  test("staging boundary: at the bound FTP→FTP stays in memory; one byte over spills, byte-exact") {
    import scala.jdk.CollectionConverters._
    val rnd = new scala.util.Random(7)
    def payload(n: Int) = { val b = new Array[Byte](n); rnd.nextBytes(b); b }
    val bytes = Map("at" -> payload(Stage.MemoryBound), "over" -> payload(Stage.MemoryBound + 1))
    Files.createDirectories(ftpRoot.resolve("bound"))
    bytes.foreach { case (n, b) => Files.write(ftpRoot.resolve(s"bound/$n.bin"), b) }
    def job(n: String) = FileTransferJob(s"bound-$n", Endpoint("fakeftp", s"/bound/$n.bin"),
      Endpoint("fakeftp", s"/bound/out/$n.bin"))
    // a temp file created and removed within one transfer leaves no trace
    // in a listing, so watch the temp dir for creations instead
    val tmpDir = Path.of(System.getProperty("java.io.tmpdir"))
    val watcher = tmpDir.getFileSystem.newWatchService()
    def created(waitMs: Long, enough: Seq[String] => Boolean): Seq[String] = {
      val deadline = System.currentTimeMillis() + waitMs
      var names = Seq.empty[String]
      while (!enough(names) && System.currentTimeMillis() < deadline) {
        val key = watcher.poll(50, java.util.concurrent.TimeUnit.MILLISECONDS)
        if (key != null) {
          names ++= key.pollEvents().asScala.flatMap(e => Option(e.context)).map(_.toString)
            .filter(n => n.startsWith("graft-transfer-") && n.endsWith(".tmp"))
          key.reset()
        }
      }
      names
    }
    try {
      tmpDir.register(watcher, java.nio.file.StandardWatchEventKinds.ENTRY_CREATE)
      val before = staging()
      val at = Pipeline.runOne(job("at"), pc)
      assert(at.status == "success" && at.bytes == Stage.MemoryBound, s"got $at")
      assert(created(1000, _ => false).isEmpty, "a file at the bound created a temp file")
      val over = Pipeline.runOne(job("over"), pc)
      assert(over.status == "success" && over.bytes == Stage.MemoryBound + 1L, s"got $over")
      assert(created(5000, _.nonEmpty).nonEmpty, "a file past the bound must spill to a temp file")
      assert(staging() == before, "the spilled temp file survived")
      bytes.foreach { case (n, b) =>
        assert(Files.readAllBytes(ftpRoot.resolve(s"bound/out/$n.bin")).sameElements(b), n)
      }
    } finally watcher.close()
  }

  test("staging: local→local keeps the source's mtime (copy2 parity, local.py:70,93)") {
    val src = writeSrc("in/mtime.txt", "keep my mtime")
    val old = java.nio.file.attribute.FileTime.fromMillis(1000000000000L)
    Files.setLastModifiedTime(src, old)
    val dst = work.resolve("out/mtime.txt")
    val r = Pipeline.runOne(FileTransferJob("mtime", Endpoint("src", src.toString),
      Endpoint("dst", dst.toString)), pc)
    assert(r.status == "success", s"got $r")
    assert(Files.getLastModifiedTime(dst) == old)
  }

  test("p08 order-up FTP bulk: full corpus succeeds, temp audit pinned at 0") {
    // law spec at birth for the p06 order-up stress (VERDICT r13 item 5):
    // every staged doc transfers through the 4-connection pool and the
    // two-phase map strands zero graft-transfer-*.tmp files — the same
    // audit the DuckDB oracle pins, asserted here at fixture scale
    val rows = graft.SparkEntry
      .queries("p08_ftp_bulk_contention")(spark, "/root/testdata/sf0.001")
      .collect()
    val audit = rows.filter(_.getString(0) == "zz_temp_audit")
    assert(audit.length == 1, s"audit row missing: ${rows.mkString("; ")}")
    assert(audit.head.getLong(2) == 0L,
      s"${audit.head.getLong(2)} stranded temp files")
    val succ = rows.filter(_.getString(0) == "success")
    assert(succ.length == 1 && succ.head.getLong(2) == 500L,
      s"expected all 500 sf0.001 docs to succeed: ${succ.mkString("; ")}")
    assert(rows.length == 2, s"unexpected statuses: ${rows.mkString("; ")}")
  }

  test("a connection death mid-upload routes to DLQ and replay converges byte-exact") {
    // the transfer pipeline STORs straight to the destination path
    // (reference parity — ftp.py:178 does the same), so its retry story
    // is idempotent OVERWRITE, not temp+rename: a killed upload leaves a
    // partial file that the DLQ replay truncates and rewrites in full
    val killRoot = Files.createTempDirectory("graft-e2e-kill")
    Files.createDirectories(killRoot.resolve("store"))
    val killer = new FakeFtpServer(killRoot, storKillAfterBytes = 2L, storKillCount = 1)
    try {
      val kpc = new PipelineConfig(Map(
        "SRC_TYPE" -> "local", "SRC_HOST" -> "localhost",
        "KILLFTP_TYPE" -> "ftp", "KILLFTP_HOST" -> "127.0.0.1",
        "KILLFTP_PORT" -> killer.port.toString,
        "KILLFTP_USERNAME" -> "u", "KILLFTP_PASSWORD" -> "p",
        "FTP_POOL_SIZE" -> "2"))
      val content = "survives a mid-upload connection death " * 20
      val src = writeSrc("kill/in.txt", content)
      val raw = Seq(jobJson("j-kill", "src", src.toString, "killftp", "/store/out.txt"))
        .toDF("value")
      val (res1, dlq1) = Pipeline.run(raw, kpc)
      // persist the RESULTS before anything executes: the kill-switch is
      // one-shot, so the transfer must run exactly once — the DLQ
      // projection then reuses the cached results instead of re-driving
      // the (now-healthy) upload and silently draining the DLQ
      val res1c = res1.persist(); res1c.count()
      val r1 = res1c.collect().head
      assert(r1.status == "dlq", s"the killed upload must fail the job, got $r1")
      val frozen = dlq1.persist(); frozen.count()
      res1c.unpersist()
      // the replay borrows from the pool — the dead session must be
      // NOOP-detected and replaced, and the overwrite STOR must converge
      val (res2, dlq2) = Pipeline.replayDlq(frozen, kpc)
      assert(res2.collect().head.status == "success")
      assert(dlq2.count() == 0)
      assert(new String(Files.readAllBytes(killRoot.resolve("store/out.txt")), "UTF-8") == content)
      frozen.unpersist()
    } finally { FtpPools.closeAll(); killer.stop() }
  }

  test("results aggregate: groupBy(status).count() — the §7.2 minimum slice") {
    val srcs = (1 to 6).map(i => writeSrc(s"in/m$i.txt", s"m$i"))
    val jobs = srcs.zipWithIndex.map { case (p, i) =>
      val sp = if (i % 3 == 0) work.resolve(s"missing$i.txt").toString else p.toString
      jobJson(s"m$i", "src", sp, "dst", work.resolve(s"out/m$i.txt").toString)
    }
    val (results, _) = Pipeline.run(jobs.toDF("value"), pc)
    val counts = results.groupBy("status").count().as[(String, Long)].collect().toMap
    assert(counts == Map("success" -> 4L, "dlq" -> 2L))
  }
}
