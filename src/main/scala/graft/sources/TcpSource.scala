package graft.sources

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 micro-batch TCP syslog source — RFC 6587 framing over the same
  * row shape, buffer, offset, and admission machinery as the UDP source
  * ([[Ingest]]). Beyond-reference: the reference is UDP-only
  * (`/root/reference/main.go:67`), but framed TCP is the first transport
  * a production fleet asks for once datagram loss matters; the RFC
  * decode (`model.parseRfc`) is already transport-agnostic.
  *
  * Framing (RFC 6587, detected per message so mixed senders interleave
  * on one connection — the standard receiver heuristic, since a syslog
  * frame proper always starts with `<`):
  *   - octet counting (§3.4.1, `MSG-LEN SP MSG`): next byte is a nonzero
  *     digit — read the decimal length, the space, then exactly LEN
  *     bytes. Frames beyond 40 960 bytes truncate but CONSUME the full
  *     frame, so one oversized message cannot desynchronize the stream;
  *   - non-transparent framing (§3.4.2, LF-terminated): anything else —
  *     read to `\n`, strip a trailing `\r`, skip empty lines. A digit
  *     run not followed by SP falls back to this branch with the digits
  *     kept as message text (total: no input desyncs or throws).
  *
  * One accept loop per port; one daemon thread per connection feeding
  * the port's shared [[BoundedRowLog]] — when the log is full, appends
  * block, the reader stops draining the socket, and TCP backpressure
  * propagates to the sender (the framed-transport analogue of the UDP
  * source's kernel-drop contract; here it is lossless by design).
  *
  * Usage: spark.readStream.format("graft.sources.TcpSyslogSourceProvider")
  *   .option("port", "5514").load() → columns (raw, device, ts), or
  *   .option("ports", "6601,6602") for N parallel listeners; the
  *   `maxRowsPerBatch` and `flushInterval` options are the UDP source's.
  */
object TcpSyslogSourceProvider {
  val Schema: StructType = Ingest.Schema

  private val receivers = new ConcurrentHashMap[Int, TcpReceiver]()

  def receiver(port: Int): TcpReceiver = receiver(port, None)

  /** TLS config is bound at first open per port (listeners are shared
    * across planning calls, like the UDP registry). A later caller
    * requesting a DIFFERENT TLS setting for an already-bound port is an
    * error, not a silent downgrade: a query asking for tls=true must
    * never be handed a plaintext listener. */
  def receiver(port: Int, tls: Option[TlsServerConfig]): TcpReceiver = {
    val r = receivers.computeIfAbsent(port, p => { val rx = new TcpReceiver(p, tls); rx.start(); rx })
    if (r.tlsConfig != tls)
      throw new IllegalStateException(
        s"TCP syslog port $port is already bound with tls=${r.tlsConfig.isDefined}" +
          s"; a conflicting TLS configuration was requested (stop the port first)")
    r
  }

  def stop(port: Int): Unit = {
    val r = receivers.remove(port)
    if (r != null) r.shutdown()
  }
}

/** RFC 5425 transport config: server keystore (PKCS12) holding the
  * receiver's certificate + private key. RFC 5425 mandates
  * octet-counting framing, which [[TcpReceiver.readFrame]] already
  * speaks — TLS changes only the socket factory.
  *
  * Mutual authentication (RFC 5425 §5.2 — certificate-based client
  * auth is a MUST-support): set [[needClientAuth]] and point
  * [[truststorePath]] at a PKCS12 truststore of accepted sender
  * certs/CAs. A connecting client without a chainable cert fails the
  * handshake — its frames can never reach the log. */
case class TlsServerConfig(keystorePath: String, keystorePassword: String,
    truststorePath: Option[String] = None, truststorePassword: String = "",
    needClientAuth: Boolean = false) {
  private def loadStore(path: String, pw: String): java.security.KeyStore = {
    val ks = java.security.KeyStore.getInstance("PKCS12")
    val in = new java.io.FileInputStream(path)
    try ks.load(in, pw.toCharArray) finally in.close()
    ks
  }

  def serverSocket(port: Int): ServerSocket = {
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(loadStore(keystorePath, keystorePassword),
      keystorePassword.toCharArray)
    // trust managers from the explicit truststore when given (the mTLS
    // path); otherwise JVM default (server-auth-only — clients aren't
    // verified, so the default set is never consulted)
    val tms = truststorePath.map { tp =>
      val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
        javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
      tmf.init(loadStore(tp, truststorePassword))
      tmf.getTrustManagers
    }.orNull
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, tms, null)
    val s = ctx.getServerSocketFactory.createServerSocket()
      .asInstanceOf[javax.net.ssl.SSLServerSocket]
    if (needClientAuth) s.setNeedClientAuth(true)
    Ingest.bindServer(s, port) // dual-stack "::", v4 fallback
    s
  }
}

/** accept loop + per-connection RFC 6587/5425 frame readers; with a
  * [[TlsServerConfig]] the accept socket is an SSLServerSocket and every
  * connection handshakes TLS before the first frame byte (a plaintext
  * client's bytes die in the handshake — they can never reach the log) */
final class TcpReceiver(port: Int, tls: Option[TlsServerConfig] = None)
    extends Thread(s"graft-tcp-$port") {
  setDaemon(true)
  /** the config this listener was bound with — the registry's
    * conflicting-rebind guard compares against it */
  private[sources] val tlsConfig: Option[TlsServerConfig] = tls
  private val server = tls match {
    case Some(cfg) => cfg.serverSocket(port)
    case None =>
      val s = new ServerSocket()
      Ingest.bindServer(s, port) // dual-stack "::", v4 fallback
      s
  }
  val boundPort: Int = server.getLocalPort
  val log = new BoundedRowLog(Ingest.BufferLimit)

  private val conns = ConcurrentHashMap.newKeySet[Socket]()
  @volatile private var running = true

  override def run(): Unit = {
    while (running) {
      try {
        val sock = server.accept()
        conns.add(sock)
        val t = new Thread(() => handle(sock), s"graft-tcp-$port-${sock.getPort}")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: Throwable if !running => // server closed on shutdown
        case _: java.io.IOException => // transient accept error
        case e: Throwable =>
          // unexpected failure while live (thread exhaustion, SSL
          // internals): surface it and keep accepting — a silently dead
          // listener reads as network loss to the whole fleet. Brief
          // pause so a persistent fault can't spin the loop hot.
          System.err.println(s"graft-tcp-$port accept loop: $e")
          try Thread.sleep(100)
          catch { case _: InterruptedException => running = false }
      }
    }
  }

  private def handle(sock: Socket): Unit = {
    val device = Ingest.deviceOf(sock.getInetAddress, sock.getPort)
    try {
      val in = new BufferedInputStream(sock.getInputStream)
      var b = in.read()
      while (running && b >= 0) b = readFrame(in, b, device)
    } catch {
      case _: java.io.IOException => // connection reset: at-most-once, like UDP
    } finally {
      conns.remove(sock)
      try sock.close() catch { case _: java.io.IOException => }
    }
  }

  /** consume one frame starting at byte `first`; returns the first byte
    * of the NEXT frame (or -1 at EOF) */
  private def readFrame(in: InputStream, first: Int, device: String): Int = {
    if (first >= '1' && first <= '9') {
      // octet counting: NONZERO-DIGIT *DIGIT SP MSG
      var n = first - '0'
      var digits = 1
      var b = in.read()
      while (b >= '0' && b <= '9' && digits < 9) { n = n * 10 + (b - '0'); digits += 1; b = in.read() }
      if (b == ' ') {
        val keep = math.min(n, Ingest.MaxMessage)
        val buf = new Array[Byte](keep)
        var off = 0
        while (off < keep) {
          val r = in.read(buf, off, keep - off)
          if (r < 0) return -1 // EOF mid-frame: drop the partial message
          off += r
        }
        var excess = (n - keep).toLong
        while (excess > 0) { // truncate but consume — stay in sync
          val r = in.skip(excess)
          if (r <= 0) { if (in.read() < 0) return -1 else excess -= 1 }
          else excess -= r
        }
        log.append(new String(buf, 0, keep, "UTF-8"),
          device, System.currentTimeMillis() * 1000L)
        in.read()
      } else {
        // digits not followed by SP (or an absurd length): not octet
        // counting after all — keep what we consumed as line text
        val line = new ByteArrayOutputStream()
        line.write(String.valueOf(n).getBytes("UTF-8"))
        readLfLine(in, b, device, line)
      }
    } else {
      val line = new ByteArrayOutputStream()
      readLfLine(in, first, device, line)
    }
  }

  /** non-transparent framing: collect to LF (first byte `b` included),
    * strip trailing CR, skip empty lines; returns the next frame's first
    * byte */
  private def readLfLine(in: InputStream, b0: Int, device: String,
      line: ByteArrayOutputStream): Int = {
    var b = b0
    while (b >= 0 && b != '\n') {
      if (line.size() < Ingest.MaxMessage) line.write(b)
      b = in.read()
    }
    var bytes = line.toByteArray
    if (bytes.nonEmpty && bytes.last == '\r') bytes = bytes.dropRight(1)
    if (bytes.nonEmpty)
      log.append(new String(bytes, "UTF-8"), device, System.currentTimeMillis() * 1000L)
    if (b < 0) -1 else in.read()
  }

  def latest: Long = log.latest

  def shutdown(): Unit = {
    running = false
    try server.close() catch { case _: java.io.IOException => }
    conns.forEach(s => try s.close() catch { case _: java.io.IOException => () })
    log.close()
  }
}

class TcpSyslogSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TcpSyslogSourceProvider.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val ports = Option(properties.get("ports")) match {
      case Some(csv) => csv.split(",").map(_.trim.toInt).toSeq
      case None => Seq(properties.getOrDefault("port", "5514").toInt)
    }
    // RFC 5425: `tls=true` + `tlsKeystore`/`tlsKeystorePassword` (PKCS12);
    // mutual auth (§5.2): `tlsNeedClientAuth=true` +
    // `tlsTruststore`/`tlsTruststorePassword` (accepted sender certs/CAs)
    val tls = if (properties.getOrDefault("tls", "false").toBoolean) {
      val needClientAuth =
        properties.getOrDefault("tlsNeedClientAuth", "false").toBoolean
      val truststore = Option(properties.get("tlsTruststore"))
      if (needClientAuth && truststore.isEmpty)
        throw new IllegalArgumentException(
          "tlsNeedClientAuth=true requires tlsTruststore")
      Some(TlsServerConfig(
        Option(properties.get("tlsKeystore")).getOrElse(
          throw new IllegalArgumentException("tls=true requires tlsKeystore")),
        properties.getOrDefault("tlsKeystorePassword", ""),
        truststore,
        properties.getOrDefault("tlsTruststorePassword", ""),
        needClientAuth))
    } else None
    new TcpTable(ports, tls,
      properties.getOrDefault("maxRowsPerBatch",
        UdpSourceProvider.FlushRows.toString).toLong,
      Ingest.flushIntervalMs(properties))
  }
}

class TcpTable(ports: Seq[Int], tls: Option[TlsServerConfig],
    maxRowsPerBatch: Long, flushIntervalMs: Long) extends Table with SupportsRead {
  override def name(): String =
    s"${if (tls.isDefined) "tcp+tls" else "tcp"}:${ports.mkString(",")}"
  override def schema(): StructType = TcpSyslogSourceProvider.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = TcpSyslogSourceProvider.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new TcpMicroBatchStream(ports, tls, maxRowsPerBatch, flushIntervalMs)
      }
    }
}

class TcpMicroBatchStream(ports: Seq[Int], tls: Option[TlsServerConfig],
    maxRowsPerBatch: Long, flushIntervalMs: Long = 0L)
    extends BufferedMicroBatchStream(ports, maxRowsPerBatch, flushIntervalMs) {
  def this(port: Int, maxRowsPerBatch: Long) = this(Seq(port), None, maxRowsPerBatch)
  def this(ports: Seq[Int], maxRowsPerBatch: Long) = this(ports, None, maxRowsPerBatch)

  override protected def log(port: Int): BoundedRowLog =
    TcpSyslogSourceProvider.receiver(port, tls).log
  override protected def stopPort(port: Int): Unit = TcpSyslogSourceProvider.stop(port)
}
