package graft.operators

import java.nio.channels.FileChannel
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The one staging path for every fixture-derived directory: a
  * format-converted copy (CSV/JSON/ORC/XML, `doc_<id>` files), a
  * hive-partitioned or range-clustered copy, a persisted index, or a
  * streaming landing zone. Every query that stages at most once per
  * fixture goes through [[ensure]]; nothing else writes `_STAGED` or
  * takes the lock.
  *
  * The contract:
  *  - **content key**: the dir `graft_staged/<name>/<sf>-<key>` under
  *    `java.io.tmpdir` carries a key of the fixture's bytes+mtime, so a
  *    fixture regenerated in place stages into a fresh dir and never
  *    serves stale bytes. The key covers the fixture, not the code that
  *    derives from it: change `name` when the derivation changes.
  *  - **lock**: a `FileLock` on `.lock` in the dir (plus an in-process
  *    monitor, since JVM file locks don't nest) serializes concurrent
  *    stagers — a test JVM and a bench JVM never interleave writes.
  *  - **atomic marker**: `_STAGED` is placed by atomic move AFTER
  *    `stage` returns, so a half-staged dir is never trusted; the next
  *    run re-stages it.
  *  - **stage into a child**: Spark writes go to a child of the dir
  *    (`d.resolve("csv")`), never to the dir itself — an overwrite there
  *    would delete `.lock` and `_STAGED`. Readers point at the child, or
  *    at the dir when every staged file is one Spark lists (it skips the
  *    `.`/`_`-prefixed lock and marker).
  *  - **landings** (streaming file sources): Spark writes the parts to a
  *    `_`-prefixed child, each part file is moved into the dir under a
  *    fixed name, then the child is deleted. Time-ordered landings set
  *    strictly ascending mtimes (one minute apart from 2001-09-09) in
  *    landing order, because the file source reads oldest first.
  *
  * Fresh-per-run roots (the FTP server roots of q47/q56/s14/p06-p08, and
  * p07's fix step) are not at-most-once and do not use [[ensure]]; they
  * share only the doc-file writer [[writeDocFiles]].
  */
object Staging {

  private val jvmMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Content key for a fixture file or directory: total bytes + newest
    * mtime of its regular files, base-36. */
  private def fixtureKey(path: String): String = {
    import scala.jdk.CollectionConverters._
    val files = Files.walk(Paths.get(path)).iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq
    val size = files.map(Files.size(_)).sum
    val mtime = files.map(f => Files.getLastModifiedTime(f).toMillis)
      .maxOption.getOrElse(0L)
    java.lang.Long.toUnsignedString(size ^ java.lang.Long.rotateLeft(mtime, 21), 36)
  }

  /** Atomically place `marker` (with `content`) via temp + ATOMIC_MOVE;
    * losing a race to another stager is fine — first marker wins. */
  private def placeMarker(marker: Path, content: String): Unit = {
    val tmp = marker.resolveSibling(
      s".${marker.getFileName}.tmp-${ProcessHandle.current.pid}")
    Files.writeString(tmp, content)
    try Files.move(tmp, marker, StandardCopyOption.ATOMIC_MOVE)
    catch { case _: FileAlreadyExistsException => Files.deleteIfExists(tmp) }
  }

  /** Where (`name`, scale-factor of `sfDir`, content of `fixturePath`)
    * stages — pure path computation, no side effects. */
  def dirFor(name: String, sfDir: String, fixturePath: String): Path = {
    val sf = Paths.get(sfDir).getFileName.toString
    Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_staged", name, s"$sf-${fixtureKey(fixturePath)}")
  }

  /** The staging dir for (`name`, scale-factor of `sfDir`, content of
    * `fixturePath`), running `stage(dir)` at most once per fixture
    * content. `stage` returns the marker payload (e.g. a computed
    * cutoff literal; "" if unused) — read it back with
    * [[markerContent]]. */
  def ensure(name: String, sfDir: String, fixturePath: String)
      (stage: Path => String): Path = {
    val dir = dirFor(name, sfDir, fixturePath)
    val marker = dir.resolve("_STAGED")
    if (Files.exists(marker)) return dir
    val monitor = jvmMonitors.computeIfAbsent(dir.toString, _ => new Object)
    monitor.synchronized {
      if (Files.exists(marker)) return dir
      Files.createDirectories(dir)
      val ch = FileChannel.open(dir.resolve(".lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lock = ch.lock() // blocks until a concurrent JVM finishes
        try if (!Files.exists(marker)) placeMarker(marker, stage(dir))
        finally lock.release()
      } finally ch.close()
    }
    dir
  }

  def markerContent(dir: Path): String =
    Files.readString(dir.resolve("_STAGED")).trim

  /** Write each row of `docs` (`doc_id`, `text`) as the UTF-8 file
    * `dir/doc_<doc_id>.<ext>`, executor-side (no driver collect). The
    * single-row-group fixture scan is one task, so the frame is spread
    * across cores first; the guard keeps that a no-op on many-file
    * inputs. */
  def writeDocFiles(docs: DataFrame, dir: String, ext: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    graft.Tables.spread(docs.select("doc_id", "text"), col("doc_id"))
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        rows.foreach { r =>
          Files.write(Paths.get(s"$dir/doc_${r.getLong(0)}.$ext"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      }
  }
}
