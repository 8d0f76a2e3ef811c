package graft.pipeline.transfer

import java.io.FileNotFoundException
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.pipeline.ServerConfig

/** Transfer backend contract + registry.
  *
  * Mirrors /root/reference/src/etl/transfer/base.py:
  *  - connect/disconnect bracketing with disconnect guaranteed on
  *    exception (base.py:21-70) — expressed here as `withConnection`;
  *  - download = remote→local, upload = local→remote (base.py:40-60),
  *    here remote→[[Stage]] and Stage→remote: a backend streams into and
  *    out of the stage, which decides between memory and a temp file;
  *  - the factory registry keyed by server type, case-insensitive, with
  *    an error listing supported types for unknown ones (base.py:73-108).
  */
trait TransferBackend extends AutoCloseable {
  def connect(): Unit
  def disconnect(): Unit
  override def close(): Unit = disconnect()

  /** Copy remote `remotePath` into `stage`.
    * Missing source → FileNotFoundException; other failures → IOException. */
  def download(remotePath: String, stage: Stage): Unit

  /** Copy `stage`'s bytes to remote `remotePath`; remote parent dirs
    * created. */
  def upload(stage: Stage, remotePath: String): Unit

  /** Path form of download: `localPath` is the stage (parent dirs
    * created). */
  def download(remotePath: String, localPath: String): Unit =
    download(remotePath, Stage.at(Paths.get(localPath)))

  /** Path form of upload: the local file `localPath` is the stage.
    * Missing local source → FileNotFoundException. */
  def upload(localPath: String, remotePath: String): Unit =
    upload(Stage.at(Paths.get(localPath)), remotePath)
}

object TransferBackend {
  /** base.py:21-36 — context-manager semantics: disconnect always runs. */
  def withConnection[A](b: TransferBackend)(f: TransferBackend => A): A = {
    b.connect()
    try f(b)
    finally b.disconnect()
  }
}

/** Local-filesystem backend — /root/reference/src/etl/transfer/local.py.
  *
  * Both download and upload are "copy src→dst" (local.py:50-94; direction
  * is nominal). Copies preserve file attributes (`shutil.copy2` parity,
  * local.py:70,93) and create destination parent directories.
  */
final class LocalBackend extends TransferBackend {
  override def connect(): Unit = () // local.py:42-44 — no-op
  override def disconnect(): Unit = () // local.py:46-48 — no-op

  private def copy(src: Path, dst: Path, srcName: String): Unit = {
    if (!Files.exists(src)) throw new FileNotFoundException(s"Source file not found: $srcName")
    Option(dst.getParent).foreach(Files.createDirectories(_))
    Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.COPY_ATTRIBUTES)
  }

  // local.py:50-71 / :73-94 — identical copy in both directions; BOTH
  // directions use "Source file not found" (local.py:64,87 — only the
  // FTP backend's upload says "Local file not found", ftp.py:168). The
  // stage's path keeps the attributes across the two copies.
  override def download(remotePath: String, stage: Stage): Unit =
    copy(Paths.get(remotePath), stage.path(), remotePath)
  override def upload(stage: Stage, remotePath: String): Unit = {
    val src = stage.path()
    copy(src, Paths.get(remotePath), src.toString)
  }
}

/** base.py:73-108 — type→backend registry. Case-insensitive keys; unknown
  * type raises with the supported list (base.py:100-105). Kept extensible
  * (the reference plans s3/sftp: README.md:619-625).
  */
object TransferFactory {
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, ServerConfig => TransferBackend]()

  def register(serverType: String, make: ServerConfig => TransferBackend): Unit =
    registry.put(serverType.toLowerCase, make)

  def supportedTypes: Seq[String] = {
    import scala.jdk.CollectionConverters._
    registry.keySet.asScala.toSeq.sorted
  }

  def create(config: ServerConfig): TransferBackend = {
    val make = registry.get(config.serverType.toLowerCase)
    if (make == null)
      throw new IllegalArgumentException(
        s"Unsupported transfer type: ${config.serverType}. " +
          s"Supported types: ${supportedTypes.mkString(", ")}")
    make(config)
  }

  // Default registrations (ftp.py:216, local.py:108).
  register("local", _ => new LocalBackend)
  register("ftp", cfg => new FtpBackend(cfg))
}
