package graft.sources

import java.net.DatagramPacket
import java.nio.charset.StandardCharsets
import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Custom DSv2 micro-batch UDP source — the one operator the reference
  * implements natively that Spark lacks (SURVEY.md Table A
  * `stream_source_udp`; `/root/reference/main.go:29-88`).
  *
  * Reference semantics preserved:
  *   - one row per datagram, payload capped at 40 960 bytes (the
  *     reference's receive buffer, main.go:38 — longer datagrams truncate);
  *   - `device` = "ip:port" of the sender (lopParse.go:36); IPv6 senders
  *     (the socket binds dual-stack "::", unlike the reference's v4-only
  *     wildcard) stamp RFC 5952 canonical form in brackets, "[::1]:514";
  *   - `ts` = receive time (lopParse.go:38) — ingest-time semantics;
  *   - bounded buffer of 10 000 datagrams (main.go:21): when full the
  *     receiver thread blocks, pushing drop decisions down to the kernel's
  *     UDP buffer — the same at-most-once contract as the reference.
  *
  * Usage: spark.readStream.format("graft.sources.UdpSourceProvider")
  *   .option("port", "5514").load() → columns (raw, device, ts), or
  *   .option("ports", "5514,5515,5516") for N parallel listeners;
  *   .option("flushInterval", "2 seconds") puts the whole flush rule in
  *   the source (see [[UdpSourceProvider.FlushRows]]).
  *
  * Scale note: ONE listener is the reference's shape (a single socket,
  * main.go:67-71) and a single-threaded receive loop is the ingest
  * ceiling; the `ports` form shards ingest across N independent
  * receiver threads — each with its own socket, 10 k bounded buffer,
  * and offset lane — and plans one InputPartition PER RECEIVER, so
  * downstream parse/aggregate work fans out N-wide. The per-batch
  * admission cap stays GLOBAL (max-min fair across receivers), keeping
  * the reference's 1000-row flush contract whatever N is. At fleet
  * scale the ingest edge is a partitioned log (Kafka); this source
  * exists for protocol parity + local e2e tests. Rows are shipped to
  * executors inside the planned InputPartition, like Spark's own socket
  * source. The buffer/offset/admission machinery is shared with the
  * RFC 6587 TCP twin ([[Ingest]] / [[TcpSyslogSourceProvider]]).
  */
object UdpSourceProvider {
  val Schema: StructType = Ingest.Schema

  val MaxDatagram: Int = Ingest.MaxMessage
  val BufferLimit: Int = Ingest.BufferLimit

  /** reference's count-based flush bound (`logCacheLimit = 1000`,
    * main.go:19 / lib/cacheManage.go:19-22): a batch flushes at 1000 rows
    * OR on the 2 s ticker, whichever first. Here both halves are source
    * admission: `maxRowsPerBatch` (≤ 0 disables) caps every batch, and
    * with `flushInterval` set ("2 seconds", the `ProcessingTime` syntax)
    * the source holds a batch back until the backlog reaches
    * `maxRowsPerBatch` or a pending row is older than the latest interval
    * tick, so the query runs on `Trigger.ProcessingTime(0)` (see
    * [[BufferedMicroBatchStream]]). Without `flushInterval` the time half
    * is the query's own trigger. */
  val FlushRows = 1000L

  /** one receiver per port, shared across micro-batch planning calls */
  private val receivers = new ConcurrentHashMap[Int, UdpReceiver]()

  def receiver(port: Int): UdpReceiver =
    receivers.computeIfAbsent(port, p => { val r = new UdpReceiver(p); r.start(); r })

  def stop(port: Int): Unit = {
    val r = receivers.remove(port)
    if (r != null) r.shutdown()
  }
}

/** background receive loop ≡ the reference's main.go:78-88 */
final class UdpReceiver(port: Int) extends Thread(s"graft-udp-$port") {
  setDaemon(true)
  private val socket = Ingest.bindUdp(port) // dual-stack "::", v4 fallback
  val boundPort: Int = socket.getLocalPort
  val log = new BoundedRowLog(UdpSourceProvider.BufferLimit)

  @volatile private var running = true

  override def run(): Unit = {
    val buf = new Array[Byte](UdpSourceProvider.MaxDatagram)
    val pkt = new DatagramPacket(buf, buf.length)
    while (running) {
      try {
        pkt.setLength(buf.length)
        socket.receive(pkt) // blocking, like ReadFromUDP
        val raw = new String(buf, 0, pkt.getLength, StandardCharsets.UTF_8)
        val device = Ingest.deviceOf(pkt.getAddress, pkt.getPort)
        val ts = System.currentTimeMillis() * 1000L // µs
        // bounded buffer: block ingest (kernel drops overflow) — the
        // reference's full-channel behavior (main.go:87)
        log.append(raw, device, ts)
      } catch {
        case _: Throwable if !running => // socket closed on shutdown
        case _: java.io.IOException => // transient receive error: drop (at-most-once)
      }
    }
  }

  def latest: Long = log.latest

  def shutdown(): Unit = {
    running = false
    socket.close()
    log.close()
  }
}

class UdpSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    UdpSourceProvider.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // `ports` (csv) = N sharded listeners; `port` = the reference's
    // single-socket shape. `ports` wins when both are set.
    val ports = Option(properties.get("ports")) match {
      case Some(csv) => csv.split(",").map(_.trim.toInt).toSeq
      case None => Seq(properties.getOrDefault("port", "5514").toInt)
    }
    new UdpTable(ports,
      properties.getOrDefault("maxRowsPerBatch",
        UdpSourceProvider.FlushRows.toString).toLong,
      Ingest.flushIntervalMs(properties))
  }
}

class UdpTable(ports: Seq[Int], maxRowsPerBatch: Long, flushIntervalMs: Long)
    extends Table with SupportsRead {
  override def name(): String = s"udp:${ports.mkString(",")}"
  override def schema(): StructType = UdpSourceProvider.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = UdpSourceProvider.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new UdpMicroBatchStream(ports, maxRowsPerBatch, flushIntervalMs)
      }
    }
}

class UdpMicroBatchStream(ports: Seq[Int], maxRowsPerBatch: Long, flushIntervalMs: Long = 0L)
    extends BufferedMicroBatchStream(ports, maxRowsPerBatch, flushIntervalMs) {
  def this(port: Int, maxRowsPerBatch: Long) = this(Seq(port), maxRowsPerBatch)

  override protected def log(port: Int): BoundedRowLog =
    UdpSourceProvider.receiver(port).log
  override protected def stopPort(port: Int): Unit = UdpSourceProvider.stop(port)
}
