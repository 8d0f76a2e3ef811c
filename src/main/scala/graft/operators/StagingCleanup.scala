package graft.operators

import java.nio.file.{Files, Path}
import java.util.Comparator

import scala.util.control.NonFatal

/** Deletes per-run staging trees OFF the timed path. The FTP fixture
  * queries (q47/q56/s14, p06-p08) stage thousands of files per
  * execution into a fresh temp root; leaked, those trees accumulate
  * across a bench run (at sf1: ~half a million files) and the
  * filesystem churn bleeds into every later slot. Deletion runs on a
  * daemon thread so a slot pays for its own work, not its teardown
  * I/O; by the time the next query needs the disk, the space is back. */
object StagingCleanup {
  def async(roots: Path*): Unit = {
    val t = new Thread(() => roots.foreach(delete), "graft-staging-cleanup")
    t.setDaemon(true)
    t.start()
  }

  /** Best-effort recursive delete of `root`, on the calling thread. */
  def delete(root: Path): Unit =
    try {
      val walk = Files.walk(root)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => { try { Files.deleteIfExists(p); () } catch { case NonFatal(_) => () } })
      finally walk.close()
    } catch { case NonFatal(_) => () }
}
