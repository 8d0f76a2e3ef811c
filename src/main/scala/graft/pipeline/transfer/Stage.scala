package graft.pipeline.transfer

import java.io.{InputStream, OutputStream}
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}

/** The bytes of one transfer, held between its download and its upload
  * (consumer.py:152-186 stages them in a temp file).
  *
  * Staging rule: a stage keeps the downloaded bytes in memory, up to
  * [[Stage.MemoryBound]] (8 MiB). It spills them to a
  * `graft-transfer-*.tmp` file only when
  *  - the download grows past the bound, or
  *  - a local-filesystem leg asks for a [[path]]: [[LocalBackend]] copies
  *    files with their attributes (`shutil.copy2` parity, local.py:70,93).
  *
  * A spilled temp file belongs to the stage, and [[close]] removes it on
  * every path. A stage made by [[Stage.at]] is a caller's own file
  * instead (the path forms of [[TransferBackend]]); close leaves it.
  */
final class Stage private (private var file: Path, owned: Boolean) extends AutoCloseable {
  private var mem: Array[Byte] = Array.emptyByteArray

  /** Bytes staged so far. */
  def size: Long = if (file == null) mem.length else Files.size(file)

  /** Replaces the contents with everything `in` yields: into memory up
    * to the bound, into the stage's file past it. */
  def fill(in: InputStream): Unit =
    if (file == null) {
      mem = in.readNBytes(Stage.MemoryBound + 1)
      if (mem.length > Stage.MemoryBound) {
        val out = Files.newOutputStream(path(), StandardOpenOption.APPEND)
        try in.transferTo(out) finally out.close()
      }
    } else {
      Option(file.getParent).foreach(Files.createDirectories(_))
      Files.copy(in, file, StandardCopyOption.REPLACE_EXISTING)
    }

  /** Streams the contents into `out`. */
  def writeTo(out: OutputStream): Unit =
    if (file == null) out.write(mem) else Files.copy(file, out)

  /** The contents as a file; an in-memory stage spills to its temp file
    * first. */
  def path(): Path = {
    if (file == null) {
      file = Files.createTempFile("graft-transfer-", ".tmp")
      try Files.write(file, mem)
      finally mem = Array.emptyByteArray
    }
    file
  }

  /** Removes the spilled temp file, if any (consumer.py:183-186). */
  override def close(): Unit = if (owned && file != null) Files.deleteIfExists(file)
}

object Stage {
  /** The most bytes a stage holds in memory: a larger download spills. A
    * constant, so an executor's staging memory is bounded by its cores
    * times this. */
  val MemoryBound: Int = 8 << 20

  /** An empty stage that spills to its own temp file. */
  def apply(): Stage = new Stage(null, owned = true)

  /** A stage that is the caller's file at `p`: written and read in place,
    * never removed. */
  def at(p: Path): Stage = new Stage(p, owned = false)
}
