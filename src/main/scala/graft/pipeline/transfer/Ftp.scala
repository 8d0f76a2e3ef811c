package graft.pipeline.transfer

import java.io.{BufferedReader, FileNotFoundException, IOException, InputStream, InputStreamReader, OutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Paths}

import graft.pipeline.ServerConfig

/** RNTO replied 5xx — a permanent rename refusal. RFC 959 leaves
  * overwrite semantics server-defined, so 550 here MAY mean "target
  * exists" — but equally "permission denied" or "path invalid"; callers
  * that resolve by deleting the target must first confirm it exists. */
final class RenameRefusedException(text: String)
  extends IOException(s"RNTO failed: $text")

/** One remote directory entry from a typed listing: basename, whether it
  * is a subdirectory, and its size in bytes (-1 when the listing carried
  * no size — resolved later by SIZE/RETR if a consumer needs it). */
final case class RemoteEntry(name: String, isDir: Boolean, size: Long)

/** Minimal RFC 959 FTP client over raw sockets.
  *
  * The classpath has no FTP library, so the control/data protocol is
  * implemented directly: USER/PASS login, TYPE I binary mode, PASV or
  * PORT data connections, RETR/STOR streaming, CWD/MKD directory walk,
  * NOOP liveness probe. This is the Scala counterpart of the reference's
  * ftplib usage in /root/reference/src/etl/transfer/ftp.py:43-212.
  *
  * Error taxonomy matches ftp.py:143-150: a 550 reply on RETR maps to
  * FileNotFoundException; any other protocol failure maps to IOException.
  */
final class FtpClient(host: String, port: Int, timeoutMs: Int = 30000) {

  private var sock: Socket = _
  private var in: BufferedReader = _
  private var out: OutputStream = _
  var passive: Boolean = true

  final case class Reply(code: Int, text: String) {
    def ok: Boolean = code < 400
  }

  def connect(): Reply = {
    sock = new Socket()
    sock.connect(new InetSocketAddress(host, port), timeoutMs)
    sock.setSoTimeout(timeoutMs)
    // interactive control channel: disable Nagle so small commands and
    // replies are never held back waiting for a delayed ACK — the
    // server's write(150)→payload→write(226) sequence otherwise stalls
    // every transfer by one delayed-ACK period (~40 ms) per file
    sock.setTcpNoDelay(true)
    in = new BufferedReader(new InputStreamReader(sock.getInputStream, US_ASCII))
    out = sock.getOutputStream
    val greet = readReply()
    if (greet.code != 220) throw new IOException(s"FTP greeting failed: ${greet.text}")
    greet
  }

  def isConnected: Boolean = sock != null && sock.isConnected && !sock.isClosed

  /** Reads one (possibly multi-line, RFC 959 §4.2) reply. */
  private def readReply(): Reply = {
    val first = in.readLine()
    if (first == null) throw new IOException("FTP control connection closed")
    if (first.length < 4) return Reply(first.trim.toInt, first)
    val code = first.substring(0, 3).toInt
    val sb = new StringBuilder(first)
    if (first.charAt(3) == '-') {
      val end = f"$code%03d "
      var line = ""
      while ({ line = in.readLine(); line != null && !line.startsWith(end) })
        sb.append('\n').append(line)
      if (line != null) sb.append('\n').append(line)
    }
    Reply(code, sb.toString)
  }

  def cmd(command: String): Reply = {
    out.write((command + "\r\n").getBytes(US_ASCII))
    out.flush()
    readReply()
  }

  def login(user: String, pass: String): Unit = {
    val u = cmd(s"USER $user")
    val r = if (u.code == 331) cmd(s"PASS $pass") else u
    if (!r.ok) throw new IOException(s"FTP login failed: ${r.text}")
    val t = cmd("TYPE I") // binary mode — ftp.py:138,178 use binary RETR/STOR
    if (!t.ok) throw new IOException(s"FTP TYPE I failed: ${t.text}")
  }

  def noop(): Boolean =
    try cmd("NOOP").ok
    catch { case _: IOException => false }

  /** Opens a data connection (PASV by default, PORT when passive=false —
    * ftp.py:80-82 toggles this globally via config). */
  private def dataConnection[A](command: String)(use: (Reply, Socket) => A): A = {
    if (passive) {
      val p = cmd("PASV")
      if (p.code != 227) throw new IOException(s"PASV failed: ${p.text}")
      val nums = "\\d+".r.findAllIn(p.text.dropWhile(_ != '(')).map(_.toInt).toSeq
      if (nums.length < 6) throw new IOException(s"PASV parse failed: ${p.text}")
      val Seq(h1, h2, h3, h4, p1, p2) = nums.takeRight(6)
      val dataHost = if (h1 == 0 && h2 == 0 && h3 == 0 && h4 == 0) host else s"$h1.$h2.$h3.$h4"
      val data = new Socket()
      data.connect(new InetSocketAddress(dataHost, p1 * 256 + p2), timeoutMs)
      data.setTcpNoDelay(true) // same delayed-ACK rationale as the control sock
      try use(cmd(command), data)
      finally data.close()
    } else {
      val listener = new ServerSocket(0, 1, sock.getLocalAddress)
      try {
        listener.setSoTimeout(timeoutMs)
        val addr = sock.getLocalAddress.getHostAddress.replace('.', ',')
        val dp = listener.getLocalPort
        val r = cmd(s"PORT $addr,${dp / 256},${dp % 256}")
        if (!r.ok) throw new IOException(s"PORT failed: ${r.text}")
        val pre = cmd(command)
        if (pre.code >= 400) use(pre, null)
        else {
          val data = listener.accept()
          data.setTcpNoDelay(true)
          try use(pre, data)
          finally data.close()
        }
      } finally listener.close()
    }
  }

  /** Binary RETR — ftp.py:115-150. Once the server accepts the command,
    * `read` consumes the data stream; its value is returned after the
    * transfer-complete reply. A 550 reply → FileNotFoundException, any
    * other failure → IOException (ftp.py:143-150). */
  def retr[A](remotePath: String)(read: InputStream => A): A =
    dataConnection(s"RETR $remotePath") { (pre, data) =>
      if (pre.code == 550)
        throw new FileNotFoundException(s"Remote file not found: $remotePath")
      if (pre.code >= 400) throw new IOException(s"RETR failed: ${pre.text}")
      val a = read(data.getInputStream)
      val fin = readReply()
      if (!fin.ok) throw new IOException(s"RETR transfer failed: ${fin.text}")
      a
    }

  /** Binary STOR — ftp.py:152-184. Once the server accepts the command,
    * `write` streams the payload into the data connection, which is then
    * half-closed to end the file. Failures → IOException. */
  def stor(remotePath: String)(write: OutputStream => Unit): Unit =
    dataConnection(s"STOR $remotePath") { (pre, data) =>
      if (pre.code >= 400) throw new IOException(s"STOR failed: ${pre.text}")
      write(data.getOutputStream)
      data.getOutputStream.flush()
      data.shutdownOutput()
      val fin = readReply()
      if (!fin.ok) throw new IOException(s"STOR transfer failed: ${fin.text}")
    }

  /** RNFR/RNTO rename — the commit step of temp-name uploads. A 5xx
    * RNTO reply (permanent refusal — possibly, but not necessarily,
    * overwrite-refusal) throws the typed [[RenameRefusedException]] so
    * callers can branch without parsing message strings; transient
    * failures (4xx) stay plain IOException. */
  def rename(from: String, to: String): Unit = {
    val r1 = cmd(s"RNFR $from")
    if (r1.code != 350) throw new IOException(s"RNFR failed: ${r1.text}")
    val r2 = cmd(s"RNTO $to")
    if (r2.code >= 500) throw new RenameRefusedException(r2.text)
    if (!r2.ok) throw new IOException(s"RNTO failed: ${r2.text}")
  }

  /** DELE — abort-path cleanup of temp uploads. */
  def delete(remotePath: String): Unit = {
    val r = cmd(s"DELE $remotePath")
    if (!r.ok) throw new IOException(s"DELE failed: ${r.text}")
  }

  /** NLST: list file names in a remote directory (data connection). */
  def nlst(remoteDir: String): Seq[String] =
    dataConnection(s"NLST $remoteDir") { (pre, data) =>
      if (pre.code == 550) throw new FileNotFoundException(s"Remote dir not found: $remoteDir")
      if (pre.code >= 400) throw new IOException(s"NLST failed: ${pre.text}")
      val r = new BufferedReader(new InputStreamReader(data.getInputStream, US_ASCII))
      val names = Iterator.continually(r.readLine()).takeWhile(_ != null)
        .map(_.trim).filter(_.nonEmpty).toList
      val fin = readReply()
      if (!fin.ok) throw new IOException(s"NLST transfer failed: ${fin.text}")
      names
    }

  /** LIST: typed directory listing. Parses the de-facto unix `ls -l`
    * line format (what commons-net's default parser reads) into
    * name + directory flag + size — one data connection yields everything
    * a recursive lister needs, where NLST alone cannot distinguish a
    * subdirectory from a file without a per-entry probe. 550 → missing
    * dir (FileNotFoundException); unsupported verb or a non-unix line
    * format → IOException, which callers treat as "fall back to
    * NLST + CWD probing" ([[FtpBackend.listEntries]]). */
  def listStat(remoteDir: String): Seq[RemoteEntry] =
    dataConnection(s"LIST $remoteDir") { (pre, data) =>
      if (pre.code == 550) throw new FileNotFoundException(s"Remote dir not found: $remoteDir")
      if (pre.code >= 400) throw new IOException(s"LIST failed: ${pre.text}")
      val r = new BufferedReader(new InputStreamReader(data.getInputStream, US_ASCII))
      val lines = Iterator.continually(r.readLine()).takeWhile(_ != null)
        .map(_.trim).filter(_.nonEmpty).toList
      val fin = readReply()
      if (!fin.ok) throw new IOException(s"LIST transfer failed: ${fin.text}")
      lines.flatMap { line =>
        // -rw-r--r-- 1 owner group 1234 Jan 01 00:00 name (spaces kept by limit 9)
        val t = line.split("\\s+", 9)
        if (t.length < 9 || t(0).length < 10 || !"-dl".contains(t(0).charAt(0)))
          throw new IOException(s"LIST line not in unix format: $line")
        t(0).charAt(0) match {
          case 'l' =>
            // symlink lines render as "name -> target"; the line alone
            // can't say whether the TARGET is a directory — or exists at
            // all. Strip the target and classify the link itself
            // (control channel is free — the data transfer completed
            // above): CWD ok → directory; else SIZE ok → file with a
            // known size; else 550 → DANGLING, skipped (listing it as
            // data would poison every scan with a 550 on RETR). A 502
            // (server without SIZE) can't distinguish file from
            // dangling — kept as a file, the pre-existing behavior.
            val name = t(8).split(" -> ", 2)(0)
            val base = name.substring(name.lastIndexOf('/') + 1)
            val full =
              if (remoteDir.endsWith("/")) s"$remoteDir$base" else s"$remoteDir/$base"
            classifyLink(base, full)
          case typeCh =>
            val isDir = typeCh == 'd'
            val size =
              if (isDir) -1L
              else try t(4).toLong catch { case _: NumberFormatException => -1L }
            // names are conventionally basenames; normalize defensively
            Some(RemoteEntry(t(8).substring(t(8).lastIndexOf('/') + 1), isDir, size))
        }
      }
    }

  /** Classify a path whose type a listing could not determine: dir /
    * file(+size) / dangling-link (None). See listStat's symlink note. */
  private[transfer] def classifyLink(base: String, full: String): Option[RemoteEntry] = {
    val probe = cmd(s"CWD $full")
    if (probe.ok) { cmd("CWD /"); Some(RemoteEntry(base, isDir = true, -1L)) }
    else {
      val sz = cmd(s"SIZE $full")
      if (sz.code == 213)
        Some(RemoteEntry(base, isDir = false, sz.text.drop(4).trim.toLong))
      else if (sz.code == 502) // no SIZE verb: can't rule out a live file
        Some(RemoteEntry(base, isDir = false, -1L))
      else None // dangling link
    }
  }

  def quit(): Unit = {
    try if (isConnected) cmd("QUIT")
    catch { case _: IOException => () }
    finally close()
  }

  def close(): Unit = if (sock != null) { try sock.close() catch { case _: IOException => () } }
}

/** FTP transfer backend — /root/reference/src/etl/transfer/ftp.py.
  *
  * Semantics preserved (SURVEY §2.4):
  *  - passive mode default true, toggleable per config (ftp.py:80-82);
  *  - download: 550 → FileNotFoundException, other errors → IOException
  *    (ftp.py:143-150); its path form creates local parent dirs
  *    (ftp.py:131-136);
  *  - the path form of upload checks local-source existence first
  *    (ftp.py:167-168); every upload walks/creates the remote directory
  *    tree (ftp.py:186-212) ignoring permission errors, resetting to "/"
  *    afterwards.
  */
final class FtpBackend(cfg: ServerConfig, passiveMode: Boolean = true) extends TransferBackend {
  private[transfer] var client: FtpClient = _

  override def connect(): Unit = {
    client = new FtpClient(cfg.host, cfg.port)
    client.passive = passiveMode
    client.connect()
    client.login(cfg.username, cfg.password)
  }

  override def disconnect(): Unit = if (client != null) { client.quit(); client = null }

  def validate(): Boolean = client != null && client.isConnected && client.noop()

  /** List file names under a remote directory (non-recursive). */
  def list(remoteDir: String): Seq[String] = client.nlst(remoteDir)

  /** Typed listing: names + dir flags + sizes. LIST is the primary path
    * (one data connection for the whole directory); servers without it
    * — or with a line format we can't parse — fall back to NLST names
    * plus per-entry CWD/SIZE probes (same classification as LIST's
    * symlink handling: dir / file+size / dangling-link-skipped). A
    * missing directory stays FileNotFound on both paths. */
  def listEntries(remoteDir: String): Seq[RemoteEntry] =
    try client.listStat(remoteDir)
    catch {
      case e: FileNotFoundException => throw e
      case _: IOException =>
        client.nlst(remoteDir)
          .map(n => n.substring(n.lastIndexOf('/') + 1)).distinct
          .flatMap { n =>
            val full =
              if (remoteDir.endsWith("/")) s"$remoteDir$n" else s"$remoteDir/$n"
            client.classifyLink(n, full)
          }
    }

  /** Size of a remote file via SIZE (falls back to -1 when unsupported). */
  def size(remotePath: String): Long = {
    val r = client.cmd(s"SIZE $remotePath")
    if (r.code == 213) r.text.drop(4).trim.toLong else -1L
  }

  override def download(remotePath: String, stage: Stage): Unit =
    client.retr(remotePath)(stage.fill)

  override def upload(stage: Stage, remotePath: String): Unit = {
    ensureRemoteDir(parentOf(remotePath))
    client.stor(remotePath)(stage.writeTo)
  }

  override def upload(localPath: String, remotePath: String): Unit = {
    if (!Files.exists(Paths.get(localPath)))
      throw new FileNotFoundException(s"Local file not found: $localPath")
    super.upload(localPath, remotePath)
  }

  /** Download a remote file's bytes without touching local disk. */
  def downloadBytes(remotePath: String): Array[Byte] =
    client.retr(remotePath)(_.readAllBytes())

  /** Upload bytes directly (no local staging), creating parent dirs. */
  def uploadBytes(bytes: Array[Byte], remotePath: String): Unit = {
    ensureRemoteDir(parentOf(remotePath))
    client.stor(remotePath)(_.write(bytes))
  }

  /** Rename a remote file (RNFR/RNTO). */
  def rename(from: String, to: String): Unit = client.rename(from, to)

  /** Delete a remote file (DELE). */
  def delete(remotePath: String): Unit = client.delete(remotePath)

  private def parentOf(p: String): String = {
    val i = p.lastIndexOf('/')
    if (i <= 0) "" else p.substring(0, i)
  }

  /** ftp.py:186-212 — CWD-probe then MKD per component; permission errors
    * ignored; always resets the server CWD to "/" at the end. */
  // Directories this connection has already CWD/MKD-walked: a bulk write
  // of N files into one directory would otherwise pay the full probe walk
  // N times (2+ control round-trips per path component per file). Safe to
  // cache per connection: directories are only ever created, never
  // removed, by this client.
  private val ensuredDirs = scala.collection.mutable.HashSet.empty[String]

  private def ensureRemoteDir(dir: String): Unit = {
    if (dir.isEmpty || ensuredDirs.contains(dir)) return
    try {
      val parts = dir.split("/").filter(_.nonEmpty)
      var allOk = true
      for (part <- parts) {
        var cwd = client.cmd(s"CWD $part")
        if (!cwd.ok) {
          client.cmd(s"MKD $part") // errors (e.g. permission) ignored
          cwd = client.cmd(s"CWD $part")
        }
        if (!cwd.ok) allOk = false
      }
      // cache ONLY a walk whose every CWD succeeded: a transient MKD/CWD
      // failure cached here would pin "directory exists" for the pooled
      // connection's whole lifetime and lose the per-upload retry
      if (allOk) ensuredDirs += dir
    } finally client.cmd("CWD /")
  }
}
