package graft.pipeline.transfer

import java.util.concurrent.{ArrayBlockingQueue, ConcurrentHashMap, TimeUnit, TimeoutException}

import scala.util.control.NonFatal

import graft.pipeline.{PipelineConfig, ServerConfig}

/** Thread-safe bounded connection pool.
  *
  * Scala counterpart of the reference's FTPConnectionPool
  * (/root/reference/src/etl/transfer/pool.py:44-257), generic over the
  * connection type so behavior is unit-testable without a live server:
  *
  *  - borrow (pool.py:88-160): try to reuse an idle connection; validate
  *    it (NOOP probe, pool.py:212-227); a stale one is closed, its slot
  *    freed, and the borrow retried; if under capacity, create a new
  *    connection (capped by createdCount under lock); otherwise block up
  *    to maxWait for a return → TimeoutException;
  *  - return (pool.py:162-182): offered back to the queue AS-IS —
  *    neither we nor the reference validate on return; staleness is
  *    caught by the next borrow's probe. If the pool is closed or full
  *    the connection is closed instead;
  *  - closeAll (pool.py:243-257): drains and closes everything. Return
  *    and closeAll synchronize on the pool lock so a connection given
  *    back concurrently with shutdown is either drained-and-closed or
  *    rejected-and-closed — never parked in a closed pool's queue.
  *
  * The reference's idle timeout is *stored but never enforced* (no
  * eviction loop exists — config.py:41-44); that parity is the DEFAULT.
  * `FTP_POOL_IDLE_ENFORCE=true` opts into enforcement — what a
  * long-lived deployment actually needs, or idle executors pin server
  * connection slots forever between micro-batches: connections idle
  * beyond the timeout are closed by a daemon sweeper (and re-checked at
  * borrow), freeing their capacity slots; in-use connections are never
  * touched.
  *
  * On Spark this lives as a per-executor JVM singleton (see
  * [[FtpPools]]): tasks on the same executor share pooled connections
  * across micro-batches, the reference's pool-per-process model mapped to
  * pool-per-executor.
  */
trait ConnectionFactory[C] extends Serializable {
  def create(): C
  def validate(conn: C): Boolean
  def close(conn: C): Unit
}

final class ConnectionPool[C](
    factory: ConnectionFactory[C],
    poolSize: Int,
    maxWaitSec: Double,
    idleTimeoutSec: Double = 300.0,
    enforceIdleTimeout: Boolean = false) {

  /** An idle connection + when it was parked (for idle-timeout aging). */
  private final case class IdleEntry(conn: C, returnedAt: Long)

  private val idle = new ArrayBlockingQueue[IdleEntry](poolSize)
  private val lock = new Object
  private var createdCount = 0
  @volatile private var closed = false

  def created: Int = lock.synchronized(createdCount)
  def idleCount: Int = idle.size()

  private def expired(e: IdleEntry): Boolean =
    enforceIdleTimeout && idleTimeoutSec > 0 &&
      (System.nanoTime() - e.returnedAt) > (idleTimeoutSec * 1e9).toLong

  /** pool.py:88-160 */
  @annotation.tailrec
  def borrow(): C = {
    if (closed) throw new IllegalStateException("Pool is closed")
    val polled = idle.poll()
    val conn =
      if (polled != null) reuse(polled)
      else {
        val fresh = lock.synchronized {
          if (createdCount < poolSize) { createdCount += 1; true } else false
        }
        if (fresh) {
          try Some(factory.create())
          catch { case e: Throwable => lock.synchronized(createdCount -= 1); throw e }
        } else {
          // at capacity: block for a return (pool.py:139-160)
          val e = idle.poll((maxWaitSec * 1000).toLong, TimeUnit.MILLISECONDS)
          if (e == null)
            throw new TimeoutException(
              s"Timeout waiting for connection from pool (waited ${maxWaitSec}s)")
          reuse(e)
        }
      }
    conn match {
      case Some(c) => c
      case None => borrow()
    }
  }

  /** An idle entry's connection, if it is still usable. One aged out
    * while idle, or stale by the validate probe, is closed and its slot
    * freed; None tells the borrow to retry (pool.py:117-125). */
  private def reuse(e: IdleEntry): Option[C] =
    if (!expired(e) && factory.validate(e.conn)) Some(e.conn)
    else { discard(e.conn); None }

  /** pool.py:162-182 — closed-check and offer are one atomic step under
    * the lock, so a return racing closeAll can't park a connection in a
    * queue that was already drained (it gets discarded instead). */
  def give(conn: C): Unit = {
    val returned = lock.synchronized(
      !closed && idle.offer(IdleEntry(conn, System.nanoTime())))
    if (!returned) discard(conn)
  }

  /** Close idle connections older than the timeout, freeing their slots.
    * Only meaningful with enforcement on; callable directly so tests are
    * deterministic. In-use connections are untouched — they re-age from
    * their next give(). */
  def evictIdle(): Unit = lock.synchronized {
    if (closed) return
    val keep = new java.util.ArrayList[IdleEntry]()
    var e = idle.poll()
    while (e != null) {
      if (expired(e)) {
        try factory.close(e.conn) catch { case NonFatal(_) => () }
        createdCount -= 1
      } else keep.add(e)
      e = idle.poll()
    }
    keep.forEach(k => idle.offer(k))
  }

  // opt-in background sweeper: without it, an idle executor would pin
  // server connection slots until its next borrow
  if (enforceIdleTimeout && idleTimeoutSec > 0) {
    val t = new Thread(() => {
      val periodMs = math.max((idleTimeoutSec * 1000 / 4).toLong, 10L)
      var interrupted = false
      while (!closed && !interrupted) {
        try { Thread.sleep(periodMs); evictIdle() }
        catch { case _: InterruptedException => interrupted = true }
      }
    }, "graft-pool-idle-sweeper")
    t.setDaemon(true)
    t.start()
  }

  private def discard(conn: C): Unit = {
    try factory.close(conn) catch { case NonFatal(_) => () }
    lock.synchronized(createdCount -= 1)
  }

  def withConnection[A](f: C => A): A = {
    val c = borrow()
    try f(c)
    finally give(c)
  }

  /** pool.py:243-257 — decrements createdCount per drained connection
    * (not a blanket reset): connections still borrowed keep their slots
    * accounted and are closed at their own give(), keeping the count
    * consistent instead of letting late returns drive it negative. */
  def closeAll(): Unit = lock.synchronized {
    closed = true
    var e = idle.poll()
    while (e != null) {
      try factory.close(e.conn) catch { case NonFatal(_) => () }
      createdCount -= 1
      e = idle.poll()
    }
  }
}

/** Pool-per-server manager — FTPPoolManager (pool.py:260-320).
  *
  * One pool per `host:port:username` key (pool.py:293), JVM-wide (i.e.
  * per Spark executor). Registered as a shutdown hook so executor
  * teardown closes live FTP sessions.
  */
object FtpPools {
  private val pools = new ConcurrentHashMap[String, ConnectionPool[FtpBackend]]()

  private final class FtpFactory(cfg: ServerConfig, passive: Boolean)
      extends ConnectionFactory[FtpBackend] {
    def create(): FtpBackend = {
      val b = new FtpBackend(cfg, passive)
      b.connect()
      b
    }
    def validate(conn: FtpBackend): Boolean = conn.validate()
    def close(conn: FtpBackend): Unit = conn.disconnect()
  }

  def apply(cfg: ServerConfig, pc: PipelineConfig): ConnectionPool[FtpBackend] = {
    val key = s"${cfg.host}:${cfg.port}:${cfg.username}" // pool.py:293
    pools.computeIfAbsent(key, _ =>
      new ConnectionPool[FtpBackend](
        new FtpFactory(cfg, pc.ftpPassiveMode), pc.ftpPoolSize, pc.ftpPoolMaxWaitSec,
        pc.ftpPoolIdleTimeoutSec, pc.ftpPoolIdleEnforce))
  }

  def closeAll(): Unit = {
    import scala.jdk.CollectionConverters._
    pools.values.asScala.foreach(_.closeAll())
    pools.clear()
  }

  sys.addShutdownHook(closeAll())
}
