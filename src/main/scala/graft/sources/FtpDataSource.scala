package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.{PipelineConfig, ServerConfig}
import graft.pipeline.transfer.FtpPools

/** FTP as a first-class `spark.read` source (SURVEY §7.3 stretch goal) —
  * DataSource V2 `TableProvider`:
  *
  * {{{
  * spark.read.format("graft-ftp")
  *   .option("host", h).option("port", p)
  *   .option("username", u).option("password", pw)
  *   .load("/remote/dir")          // → (path, length, content) rows
  * }}}
  *
  * Planning lists the tree via [[FtpListing]]: recursive by default,
  * names+sizes only, and past `listing.parallelThreshold` discovered
  * files the remaining subtrees are listed by a distributed job instead
  * of the driver's connection. Each chunk of files becomes an
  * InputPartition, so payload bytes are fetched ON EXECUTORS through
  * the per-executor connection pool ([[FtpPools]]) and never pass
  * through the driver. Schema mirrors Spark's `binaryFile` source.
  *
  * At cluster scale: file-count parallelism with pooled connections per
  * executor bounds server load at poolSize × executors, exactly like the
  * transfer pipeline's fan-out (SURVEY §2.8/O3).
  */
final class FtpDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-ftp"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FtpDataSource.Schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new FtpTable(new CaseInsensitiveStringMap(properties))
}

object FtpDataSource {
  // nullable: append-mode write resolution rejects nullable input columns
  // against a non-null table schema, and every realistic producer frame
  // carries nullable columns
  val Schema: StructType = new StructType()
    .add("path", StringType)
    .add("length", LongType)
    .add("content", BinaryType)

  private[sources] def serverConfig(o: CaseInsensitiveStringMap): ServerConfig =
    ServerConfig(
      hostname = "graft-ftp-source",
      serverType = "ftp",
      host = Option(o.get("host")).getOrElse(
        throw new IllegalArgumentException("graft-ftp: 'host' option is required")),
      port = Option(o.get("port")).map(_.toInt).getOrElse(21),
      username = Option(o.get("username")).getOrElse(""),
      password = Option(o.get("password")).getOrElse(""))

  private[sources] def dir(o: CaseInsensitiveStringMap): String =
    Option(o.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-ftp: load(path) is required"))
}

final class FtpTable(options: CaseInsensitiveStringMap) extends Table
    with SupportsRead with SupportsWrite {
  override def name(): String =
    s"graft-ftp://${options.get("host")}${FtpDataSource.dir(options)}"
  override def schema(): StructType = FtpDataSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE).asJava

  /** Write path: rows of the table schema (path, length, content) are
    * STOR'd executor-side through the per-executor pool. Each task
    * uploads to a task-attempt-unique temp name and RENAMEs to the final
    * path on task commit — speculative or retried attempts either lose
    * the (idempotent, overwriting) rename race or are DELE'd by abort,
    * so readers never observe a partially-written file. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
            new FtpWriterFactory(
              FtpDataSource.serverConfig(options),
              Option(options.get("pool.size")).map(_.toInt).getOrElse(4),
              info.schema())
          // files became visible at task commit (rename); nothing to do
          override def commit(messages: Array[WriterCommitMessage]): Unit = ()
          override def abort(messages: Array[WriterCommitMessage]): Unit = ()
        }
      }
    }

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns
        with SupportsPushDownFilters with Scan with Batch {
      // column pruning (SupportsPushDownRequiredColumns): a
      // `select("path","length")` scan never opens a data connection —
      // lengths come from SIZE (one control round-trip, no payload), and a
      // path-only / count(*) scan answers from the driver's NLST alone.
      // At 100 TB this is the difference between a metadata query and
      // downloading the corpus.
      private var required: StructType = FtpDataSource.Schema

      // path-filter pushdown (SupportsPushDownFilters): exact string
      // predicates on `path` (=, IN, LIKE's StartsWith/EndsWith/Contains
      // rewrites) are applied to the driver's NLST listing BEFORE
      // partitions are planned, so a `WHERE path LIKE '/docs/doc_1%'`
      // scan RETRs only the matching files. FTP has no reliable
      // server-side glob verb, so the listing still walks the whole
      // tree — names are cheap; payloads are not. Pushed predicates are
      // fully applied here (names are compared with the same Java string
      // semantics Spark would use), so they are NOT re-evaluated upstream.
      private var pushed: Array[Filter] = Array.empty
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        val (supported, residual) = filters.partition {
          case EqualTo("path", _: String)      => true
          case In("path", vs)                  => vs.forall(_.isInstanceOf[String])
          case StringStartsWith("path", _)     => true
          case StringEndsWith("path", _)       => true
          case StringContains("path", _)       => true
          case _                               => false
        }
        pushed = supported
        residual
      }
      override def pushedFilters(): Array[Filter] = pushed
      private def keep(path: String): Boolean = pushed.forall {
        case EqualTo("path", v: String)  => path == v
        case In("path", vs)              => vs.contains(path)
        case StringStartsWith("path", v) => path.startsWith(v)
        case StringEndsWith("path", v)   => path.endsWith(v)
        case StringContains("path", v)   => path.contains(v)
        case _                           => true
      }

      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = this
      override def readSchema(): StructType = required
      override def toBatch: Batch = this
      override def description(): String =
        s"${name()} [${required.fieldNames.mkString(",")}]" +
          (if (pushed.isEmpty) ""
           else s" PushedFilters: [${pushed.mkString(", ")}]")

      // listing: recursive by default (the reference nests transfer
      // dirs — ftp.py:186-212); past `listing.parallelThreshold`
      // discovered files the remaining subtrees are listed by a
      // distributed job, so the driver never performs a single
      // O(files) round-trip pass (see FtpListing). Lazy: Spark's
      // physical planning calls planInputPartitions more than once per
      // action — one Scan must list the tree exactly once.
      private lazy val listed: Seq[FtpListing.Listed] =
        FtpListing.listFiles(FtpListing.readOptions(options))

      override def planInputPartitions(): Array[InputPartition] =
        // temp-filter + pushed path predicates + deterministic order +
        // round-robin chunking — all shared with the streaming source
        // (FtpMicroBatchStream) via FtpListing, so the two paths can't
        // drift apart
        FtpListing.chunk(
          FtpListing.planFiles(listed, keep),
          FtpListing.readOptions(options),
          required.fieldNames.toSeq)

      override def createReaderFactory(): PartitionReaderFactory =
        new FtpReaderFactory

      // streaming read: the same listing/pruning/pushdown machinery,
      // driven per-trigger (see FtpMicroBatchStream — the reference's
      // poll loop as a DSv2 source)
      override def toMicroBatchStream(
          checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
        new FtpMicroBatchStream(options, required.fieldNames.toSeq, keep)
    }
}

/** Per-task FTP writer: STOR each row's content to a task-unique temp
  * name, RNFR/RNTO to the final path on task commit, DELE temps on abort.
  * One pooled connection per task, held for the task's lifetime (same
  * rationale as the read path). */
final class FtpWriterFactory(
    cfg: ServerConfig, poolSize: Int, schema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    require(schema.fieldNames.contains("path") && schema.fieldNames.contains("content"),
      s"graft-ftp write needs 'path' and 'content' columns, got: ${schema.fieldNames.mkString(",")}")
    val pathIdx = schema.fieldIndex("path")
    val contentIdx = schema.fieldIndex("content")
    new DataWriter[InternalRow] {
      private val pool =
        FtpPools(cfg, PipelineConfig("FTP_POOL_SIZE" -> poolSize.toString))
      private var conn: graft.pipeline.transfer.FtpBackend = _
      private val staged = scala.collection.mutable.ListBuffer.empty[(String, String)]

      override def write(row: InternalRow): Unit = {
        // the table schema is nullable (append resolution), so guard here
        // with a named-column error instead of an opaque task NPE
        if (row.isNullAt(pathIdx))
          throw new IllegalArgumentException(
            "graft-ftp write: column 'path' is null; every row must name its destination")
        val path = row.getUTF8String(pathIdx).toString
        if (row.isNullAt(contentIdx))
          throw new IllegalArgumentException(
            s"graft-ftp write: column 'content' is null for path '$path'")
        if (conn == null) conn = pool.borrow()
        val tmp = s"$path.inprog-$taskId"
        // record the temp BEFORE the upload: a STOR that dies mid-transfer
        // must still be DELE'd by abort(), or the orphaned partial temp
        // would be listed as a data file by later directory reads
        staged += ((tmp, path))
        conn.uploadBytes(row.getBinary(contentIdx), tmp)
      }

      override def commit(): WriterCommitMessage = {
        // Per-file commit: RNTO overwrite semantics are server-defined
        // (RFC 959 allows 550 when the target exists), so on the typed
        // permanent refusal — and only after confirming the target
        // actually exists — DELE it and retry once. That makes rewrites
        // and speculative-attempt convergence work on replace-refusing
        // servers, while a 550 that really means permission-denied or
        // bad-path rethrows WITHOUT deleting a live file a previous
        // commit wrote. Transient failures (4xx, timeout, 421) are plain
        // IOException and never reach the delete path. Job-level commit
        // is per-file, not atomic: an exception partway leaves earlier
        // files committed and later temps for abort() to clean
        // (documented in README).
        staged.foreach { case (tmp, fin) =>
          try conn.rename(tmp, fin)
          catch {
            case refusal: graft.pipeline.transfer.RenameRefusedException =>
              if (!targetExists(fin)) throw refusal
              try conn.delete(fin)
              catch { case _: java.io.IOException => () } // raced away is fine
              conn.rename(tmp, fin)
          }
        }
        staged.clear()
        FtpWriteCommit
      }

      /** Does `path` exist server-side? SIZE is authoritative where
        * supported; on servers without SIZE (or replying 550 for either
        * reason) fall back to an NLST of the parent — names may come
        * back bare or full-path, so match the basename either way. */
      private def targetExists(path: String): Boolean =
        conn.size(path) >= 0 || {
          val i = path.lastIndexOf('/')
          val dir = if (i <= 0) "/" else path.substring(0, i)
          val name = path.substring(i + 1)
          try conn.list(dir)
            .exists(n => n.substring(n.lastIndexOf('/') + 1) == name)
          catch { case _: java.io.IOException => false }
        }

      override def abort(): Unit = {
        staged.foreach { case (tmp, _) =>
          val cleaned = conn != null &&
            (try { conn.delete(tmp); true } catch { case NonFatal(_) => false })
          if (!cleaned) {
            // the session that staged this temp may have died mid-STOR —
            // which is exactly when abort runs. Retry through a fresh
            // pooled connection (the pool NOOP-validates and replaces the
            // dead one at borrow) so a partial temp does not outlive its
            // task. A DELE that still fails is swallowed: orphan temps
            // are invisible to readers (listings filter *.inprog-*) and
            // task-attempt-unique, so they can never collide or dupe.
            try {
              if (conn != null) { pool.give(conn); conn = null }
              conn = pool.borrow()
              conn.delete(tmp)
            } catch { case NonFatal(_) => () }
          }
        }
        staged.clear()
      }

      override def close(): Unit = if (conn != null) { pool.give(conn); conn = null }
    }
  }
}

case object FtpWriteCommit extends WriterCommitMessage

/** A chunk of remote files as (path, listedSize) pairs — listedSize -1
  * when the planning listing carried none; the reader holds one pooled
  * connection for the whole chunk (payloads fetched executor-side).
  * `columns` is the pruned projection, in read-schema order. */
final case class FtpFilesPartition(
    cfg: ServerConfig, files: Seq[(String, Long)], poolSize: Int,
    columns: Seq[String]) extends InputPartition

final class FtpReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[FtpFilesPartition]
    new PartitionReader[InternalRow] {
      private val needContent = p.columns.contains("content")
      private val needLength = p.columns.contains("length")
      private val pool =
        FtpPools(p.cfg, PipelineConfig("FTP_POOL_SIZE" -> p.poolSize.toString))
      private var conn: graft.pipeline.transfer.FtpBackend = _
      private val it = p.files.iterator
      private var row: InternalRow = _

      override def next(): Boolean = {
        if (!it.hasNext) return false
        val (path, listedSize) = it.next()
        // content pruned → no RETR; length served from the planning
        // listing when it carried sizes (zero per-file round-trips), else
        // one SIZE control round-trip; path-only/count(*) → no connection
        // at all (the driver listing suffices)
        if (conn == null && (needContent || (needLength && listedSize < 0)))
          conn = pool.borrow() // once per partition
        val cell: String => Any =
          if (needContent) {
            // straight to memory — no temp-file staging round-trip
            val bytes = conn.downloadBytes(path)
            Map("path" -> UTF8String.fromString(path),
              "length" -> bytes.length.toLong, "content" -> bytes)
          } else if (needLength) {
            // listing size first; SIZE is an extension (RFC 3659) — a
            // server without either falls back to RETR so `length` is the
            // same value a content-bearing scan would report: results
            // must not depend on the projection
            val sz =
              if (listedSize >= 0) listedSize
              else conn.size(path) match {
                case n if n >= 0 => n
                case _           => conn.downloadBytes(path).length.toLong
              }
            Map("path" -> UTF8String.fromString(path), "length" -> sz)
          } else Map("path" -> (UTF8String.fromString(path): Any))
        row = new GenericInternalRow(p.columns.map(cell).toArray)
        true
      }

      override def get(): InternalRow = row
      override def close(): Unit = if (conn != null) { pool.give(conn); conn = null }
    }
  }
}
