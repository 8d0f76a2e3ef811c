package graft.pipeline

import java.io.FileNotFoundException
import java.nio.file.{Files, Path}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.transfer._
import graft.pipeline.testkit.FakeFtpServer

/** Integration tier: FTP backend against the in-process fake server,
  * mirroring /root/reference/tests/test_ftp_integration.py:39-207
  * (connect, upload, download, roundtrip, nested dirs, not-found). */
@graft.tags.Integration
class FtpSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var root: Path = _
  private var server: FakeFtpServer = _
  private var local: Path = _

  private def cfg = ServerConfig("fake", "ftp", "127.0.0.1", server.port, "u", "p")

  override def beforeAll(): Unit = {
    root = Files.createTempDirectory("graft-ftp-root")
    local = Files.createTempDirectory("graft-ftp-local")
    server = new FakeFtpServer(root)
  }

  override def afterAll(): Unit = {
    server.stop()
    import scala.jdk.CollectionConverters._
    for (d <- Seq(root, local))
      Files.walk(d).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }

  test("connect + login + NOOP validation (ftp.py:43-113)") {
    val b = new FtpBackend(cfg)
    b.connect()
    assert(b.validate())
    b.disconnect()
    assert(!b.validate()) // disconnected backend fails validation
  }

  test("bad credentials → IOException") {
    val b = new FtpBackend(cfg.copy(password = "wrong"))
    val e = intercept[java.io.IOException](b.connect())
    assert(e.getMessage.contains("login failed"))
  }

  test("upload then download round-trips bytes exactly (test_ftp_integration.py roundtrip)") {
    val content = "graft ftp payload \u0000\u00ff binary-ish".getBytes("ISO-8859-1")
    val src = local.resolve("up.bin"); Files.write(src, content)
    val back = local.resolve("down.bin")
    val b = new FtpBackend(cfg)
    TransferBackend.withConnection(b) { be =>
      be.upload(src.toString, "/files/up.bin")
      be.download("/files/up.bin", back.toString)
    }
    assert(Files.readAllBytes(back).sameElements(content))
    assert(Files.readAllBytes(root.resolve("files/up.bin")).sameElements(content))
  }

  test("upload creates nested remote directories (ftp.py:186-212)") {
    val src = local.resolve("n.txt"); Files.write(src, "nested".getBytes)
    val b = new FtpBackend(cfg)
    TransferBackend.withConnection(b)(_.upload(src.toString, "/a/b/c/n.txt"))
    assert(new String(Files.readAllBytes(root.resolve("a/b/c/n.txt"))) == "nested")
  }

  test("ensured-dir cache skips the CWD/MKD walk on repeat uploads") {
    val src = local.resolve("cache1.txt"); Files.write(src, "one".getBytes)
    val root2 = Files.createTempDirectory("graft-ftp-dircache")
    val srv = new FakeFtpServer(root2)
    try {
      val b = new FtpBackend(
        ServerConfig("fake", "ftp", "127.0.0.1", srv.port, "u", "p"))
      TransferBackend.withConnection(b) { be =>
        be.upload(src.toString, "/deep/x/one.txt")
        val walked = srv.commandCount("CWD")
        be.upload(src.toString, "/deep/x/two.txt")
        assert(srv.commandCount("CWD") == walked,
          "second upload into an ensured dir must not re-walk")
      }
    } finally srv.stop()
  }

  test("a FAILED dir walk is NOT cached — the next upload retries the MKD") {
    // a transient MKD refusal cached as "ensured" would pin the failure
    // for the pooled connection's lifetime; it must stay retryable
    val src = local.resolve("cache2.txt"); Files.write(src, "two".getBytes)
    val root2 = Files.createTempDirectory("graft-ftp-mkdblip")
    val srv = new FakeFtpServer(root2, mkdFailures = 1)
    try {
      val b = new FtpBackend(
        ServerConfig("fake", "ftp", "127.0.0.1", srv.port, "u", "p"))
      TransferBackend.withConnection(b) { be =>
        intercept[java.io.IOException](
          be.upload(src.toString, "/blip/one.txt"))
        be.upload(src.toString, "/blip/two.txt")
      }
      assert(new String(Files.readAllBytes(root2.resolve("blip/two.txt"))) == "two",
        "the retried walk must create the dir and land the upload")
    } finally srv.stop()
  }

  test("download missing remote file → FileNotFoundException on 550 (ftp.py:143-146)") {
    val b = new FtpBackend(cfg)
    val e = intercept[FileNotFoundException] {
      TransferBackend.withConnection(b)(
        _.download("/no/such/file.bin", local.resolve("x.bin").toString))
    }
    assert(e.getMessage.startsWith("Remote file not found: "))
  }

  test("upload missing local file fails before any remote I/O (ftp.py:167-168)") {
    val b = new FtpBackend(cfg)
    val e = intercept[FileNotFoundException] {
      TransferBackend.withConnection(b)(
        _.upload(local.resolve("ghost.bin").toString, "/files/ghost.bin"))
    }
    assert(e.getMessage.startsWith("Local file not found: "))
  }

  test("active (PORT) mode round-trips when passive is disabled (ftp.py:80-82)") {
    val content = "active mode payload".getBytes("UTF-8")
    val src = local.resolve("active-up.bin"); Files.write(src, content)
    val back = local.resolve("active-down.bin")
    val b = new FtpBackend(cfg, passiveMode = false)
    TransferBackend.withConnection(b) { be =>
      be.upload(src.toString, "/active/a.bin")
      be.download("/active/a.bin", back.toString)
    }
    assert(Files.readAllBytes(back).sameElements(content))
  }

  test("PASV advertising 0,0,0,0 falls back to the control host (NAT'd servers)") {
    val root2 = Files.createTempDirectory("graft-ftp-natd")
    val natd = new FakeFtpServer(root2, pasvZeroHost = true)
    try {
      val cfg2 = ServerConfig("natd", "ftp", "127.0.0.1", natd.port, "u", "p")
      val src = local.resolve("natd-up.bin")
      Files.write(src, "through the NAT".getBytes("UTF-8"))
      val back = local.resolve("natd-down.bin")
      val b = new FtpBackend(cfg2)
      TransferBackend.withConnection(b) { be =>
        be.upload(src.toString, "/natd/a.bin")
        be.download("/natd/a.bin", back.toString)
      }
      assert(Files.readAllBytes(back).sameElements("through the NAT".getBytes("UTF-8")))
    } finally {
      natd.stop()
      import scala.jdk.CollectionConverters._
      Files.walk(root2).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
  }

  test("error taxonomy: 550 → not_found; protocol failure → io; pool wait → timeout") {
    // 550 on RETR surfaces as FileNotFoundException → DLQ class not_found
    val b = new FtpBackend(cfg)
    val e1 = intercept[FileNotFoundException] {
      TransferBackend.withConnection(b)(
        _.download("/taxonomy/none.bin", local.resolve("t.bin").toString))
    }
    assert(Model.ErrorType.of(e1) == Model.ErrorType.NotFound)

    // a non-550 protocol failure (STOR into a missing parent, raw client —
    // the backend's mkdir-p normally prevents this) is a plain IOException
    // → DLQ class io, distinct from not_found
    val c = new graft.pipeline.transfer.FtpClient("127.0.0.1", server.port)
    c.connect(); c.login("u", "p")
    val e2 = intercept[java.io.IOException](
      c.stor("/no/such/parent/taxo.txt")(_.write("x".getBytes)))
    assert(!e2.isInstanceOf[FileNotFoundException])
    assert(Model.ErrorType.of(e2) == Model.ErrorType.Io)
    c.quit(); c.close()

    // exhausted pool (all connections held) times out → DLQ class timeout
    val factory = new ConnectionFactory[FtpBackend] {
      def create(): FtpBackend = { val x = new FtpBackend(cfg); x.connect(); x }
      def validate(conn: FtpBackend): Boolean = conn.validate()
      def close(conn: FtpBackend): Unit = conn.disconnect()
    }
    val pool = new ConnectionPool[FtpBackend](factory, poolSize = 1, maxWaitSec = 0.2)
    val held = pool.borrow()
    val e3 = intercept[java.util.concurrent.TimeoutException](pool.borrow())
    assert(Model.ErrorType.of(e3) == Model.ErrorType.Timeout)
    pool.give(held)
    pool.closeAll()
  }

  test("pooled backends reuse control connections across borrows (pool.py:88-160)") {
    val pc = PipelineConfig("FTP_POOL_SIZE" -> "2", "FTP_POOL_MAX_WAIT" -> "5")
    val pool = FtpPools(cfg, pc)
    val before = server.connectionsOpened.get
    val src = local.resolve("pooled.txt"); Files.write(src, "pooled".getBytes)
    for (i <- 1 to 10)
      pool.withConnection(_.upload(src.toString, s"/pooled/f$i.txt"))
    val opened = server.connectionsOpened.get - before
    assert(opened <= 2, s"10 sequential transfers opened $opened connections (expected ≤ pool size 2)")
    assert(Files.exists(root.resolve("pooled/f10.txt")))
    FtpPools.closeAll()
  }
}
