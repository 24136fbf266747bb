package graft.sources

import java.util.Optional
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxRows, ReadMinRows, ReportsSourceMetrics, SupportsAdmissionControl}
import org.apache.spark.sql.execution.streaming.ProcessingTimeTrigger
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared ingest machinery for the socket sources — UDP datagrams
  * (`UdpSource.scala`, the reference's transport, main.go:67) and RFC 6587
  * framed TCP (`TcpSource.scala`). The transports differ ONLY in how bytes
  * become rows; everything downstream of that — the bounded per-listener
  * row log, lane-aligned offsets, global max-min fair admission,
  * checkpoint re-base, one InputPartition per listener — is identical and
  * lives here so the TCP twin genuinely reuses the UDP source's
  * offset/admission machinery instead of forking it. */
object Ingest {
  /** (raw, device, ts) — the reference's row shape (lib/lopParse.go:36-38) */
  val Schema: StructType = StructType(Seq(
    StructField("raw", StringType), StructField("device", StringType),
    StructField("ts", TimestampType)))

  /** reference's receive buffer (main.go:38): longer payloads truncate */
  val MaxMessage = 40960

  /** reference's bounded channel (main.go:21) */
  val BufferLimit = 10000

  /** Milliseconds in an interval written the way `Trigger.ProcessingTime`
    * takes it ("2 seconds", "500 milliseconds", "1 day"); anything that
    * does not parse to a POSITIVE interval is an IllegalArgumentException
    * naming the value. */
  def intervalMs(interval: String): Long = {
    val ms =
      try Trigger.ProcessingTime(interval) match { case t: ProcessingTimeTrigger => t.intervalMs }
      catch { case NonFatal(e) =>
        throw new IllegalArgumentException(s"'$interval' is not an interval: ${e.getMessage}") }
    if (ms <= 0) throw new IllegalArgumentException(s"'$interval' is not a positive interval")
    ms
  }

  /** the sources' `flushInterval` option in ms; 0 when unset */
  def flushIntervalMs(options: java.util.Map[String, String]): Long =
    Option(options.get("flushInterval")).fold(0L)(intervalMs)

  // ---- dual-stack binding + sender stamping -----------------------------
  /** Bind a UDP listener dual-stack: the IPv6 wildcard "::" accepts both
    * v6 senders and v4 senders (as v4-mapped addresses, which Java hands
    * back as Inet4Address) on a default Linux stack (bindv6only=0). The
    * reference binds the v4 wildcard only (main.go:32-35) and cannot hear
    * a v6 sender at all; hosts with IPv6 disabled fall back to exactly
    * that v4-wildcard shape. */
  def bindUdp(port: Int): java.net.DatagramSocket =
    try new java.net.DatagramSocket(port, java.net.InetAddress.getByName("::"))
    catch { case _: java.net.SocketException =>
      new java.net.DatagramSocket(port, java.net.InetAddress.getByName("0.0.0.0")) }

  /** same dual-stack-with-fallback discipline for a (plain or SSL)
    * server socket — bind is the only address-family-aware step the TCP
    * listeners have */
  def bindServer(s: java.net.ServerSocket, port: Int): Unit =
    try s.bind(new java.net.InetSocketAddress(
      java.net.InetAddress.getByName("::"), port), 64)
    catch { case _: java.net.SocketException =>
      s.bind(new java.net.InetSocketAddress("0.0.0.0", port), 64) }

  /** The sender stamp (reference: "ip:port", lib/lopParse.go:36),
    * extended for IPv6: v6 senders render in RFC 5952 canonical form
    * inside brackets — "[::1]:514" — so the ip/port split stays
    * unambiguous for every downstream consumer (`graft.model.deviceIp`
    * is the reading twin). v4 senders keep the reference's bare
    * dotted-quad:port, including v4 arriving on the dual-stack socket
    * (Java normalizes v4-mapped to Inet4Address). */
  def deviceOf(addr: java.net.InetAddress, port: Int): String = addr match {
    case v6: java.net.Inet6Address => s"[${canonicalV6(v6)}]:$port"
    case v4 => s"${v4.getHostAddress}:$port"
  }

  /** RFC 5952 text of an IPv6 address: lowercase hex groups, the single
    * longest zero run compressed to "::" (leftmost wins ties; a lone
    * zero group is never compressed), zone id preserved. Java's
    * getHostAddress prints the full 8-group form ("0:0:0:0:0:0:0:1"),
    * which no operator config or RFC example writes. */
  def canonicalV6(a: java.net.Inet6Address): String = {
    val b = a.getAddress
    val g = Array.tabulate(8)(i => ((b(2 * i) & 0xff) << 8) | (b(2 * i + 1) & 0xff))
    var bestStart = -1; var bestLen = 0; var i = 0
    while (i < 8) {
      if (g(i) == 0) {
        var j = i
        while (j < 8 && g(j) == 0) j += 1
        if (j - i > bestLen) { bestStart = i; bestLen = j - i }
        i = j
      } else i += 1
    }
    val hex = g.map(Integer.toHexString)
    val body =
      if (bestLen >= 2)
        hex.take(bestStart).mkString(":") + "::" +
          hex.drop(bestStart + bestLen).mkString(":")
      else hex.mkString(":")
    val zone = a.getHostAddress.dropWhile(_ != '%') // "" or "%<zone>"
    body + zone
  }
}

/** Index-ordered bounded row log, one per listener: offset n = "first n
  * rows ever admitted". Appends BLOCK while full — drop decisions push
  * down to the kernel (UDP) or to TCP backpressure, the reference's
  * full-channel behavior (main.go:87). */
final class BoundedRowLog(limit: Int) {
  private val rows = new ArrayBuffer[(String, String, Long)]()
  private var trimmed = 0L // rows dropped from the head after commit
  private var open = true

  def append(raw: String, device: String, tsUs: Long): Unit = synchronized {
    while (open && rows.length >= limit) wait(100)
    if (open) rows += ((raw, device, tsUs))
  }

  def latest: Long = synchronized { trimmed + rows.length }

  /** receive `ts` (µs) of the row at `offset` (clamped to the head, like
    * [[slice]]), or None when no such row is buffered */
  def tsAt(offset: Long): Option[Long] = synchronized {
    val i = math.max(offset - trimmed, 0L)
    if (i < rows.length) Some(rows(i.toInt)._3) else None
  }

  def slice(from: Long, until: Long): Array[(String, String, Long)] = synchronized {
    val lo = math.max(from - trimmed, 0L).toInt
    val hi = math.max(until - trimmed, 0L).toInt
    rows.slice(lo, hi).toArray
  }

  def trim(upTo: Long): Unit = synchronized {
    val n = math.max(upTo - trimmed, 0L).toInt min rows.length
    rows.remove(0, n)
    trimmed += n
    notifyAll()
  }

  /** fast-forward the offset space after a checkpoint restore: a restarted
    * JVM has a fresh (empty) log, so a committed offset from the previous
    * lifetime would otherwise index rows that no longer exist and silently
    * swallow the next `to` NEW rows (slice clamps). Re-basing aligns
    * "offset `to`" with the current head; the pre-restart rows themselves
    * are gone — socket ingest across a crash is at-most-once, same as the
    * reference's drop-on-error. */
  def rebase(to: Long): Unit = synchronized {
    val cur = trimmed + rows.length
    if (cur < to) trimmed += to - cur
  }

  /** release any blocked appenders and refuse new rows */
  def close(): Unit = synchronized { open = false; notifyAll() }
}

/** per-listener row counts, aligned with the stream's port list; a
  * single-port offset serializes to the same plain integer as before
  * (checkpoint compatibility with the one-port era) */
case class IngestOffset(ns: Seq[Long]) extends Offset {
  override def json(): String = ns.mkString(",")
}
object IngestOffset {
  def apply(n: Long): IngestOffset = IngestOffset(Seq(n))
  def fromJson(json: String): IngestOffset =
    IngestOffset(json.split(",").map(_.trim.toLong).toSeq)
}

case class IngestInputPartition(rows: Array[(String, String, Long)]) extends InputPartition

/** Transport-agnostic micro-batch stream over per-port [[BoundedRowLog]]s.
  * Subclasses supply the listener registry (`log`/`stopPort`); everything
  * else — admission, offsets, planning — is shared verbatim between the
  * UDP and TCP sources.
  *
  * Admission is the reference's flush rule (lib/cacheManage.go:19-29):
  * a batch holds at most `maxRowsPerBatch` rows (≤ 0: uncapped), split
  * max-min fair across listeners. With `flushIntervalMs` > 0 (the
  * sources' `flushInterval` option) the source ALSO decides when a batch
  * is due, so the query runs on `Trigger.ProcessingTime(0)` and
  * `latestOffset` returns its start until either half holds:
  *   - count half: the global backlog is at least `maxRowsPerBatch`;
  *   - time half: a pending row was received before the latest interval
  *     tick (multiples of the interval since the epoch, the phase
  *     `ProcessingTime` fires on). A count flush does not move the
  *     ticks, as in the reference.
  * The rule rides in the default read limit the way the Kafka source's
  * `minOffsetsPerTrigger`/`maxTriggerDelay` do — `ReadMinRows(rows,
  * interval)`, its delay read as the tick interval — so a trigger that
  * reads everything (`Trigger.Once`) is never held back. As with Kafka's
  * minimum, `processAllAvailable()` can return while rows below both
  * thresholds are still pending. Without the option every trigger admits
  * what is available (up to the cap) and the query's own trigger is the
  * time half. */
abstract class BufferedMicroBatchStream(ports: Seq[Int], maxRowsPerBatch: Long,
    flushIntervalMs: Long)
    extends MicroBatchStream with SupportsAdmissionControl with ReportsSourceMetrics {

  protected def log(port: Int): BoundedRowLog
  protected def stopPort(port: Int): Unit

  private def rxs = ports.map(log)

  /** admitted batches by the half of the flush rule that fired them
    * (without `flushInterval`, an uncapped batch counts as a time flush:
    * the query's trigger clock fired it) */
  private val countFlushes = new AtomicLong
  private val timeFlushes = new AtomicLong

  /** offsets written by an older (or re-configured) port list may carry
    * fewer/more lanes — missing lanes start at 0, surplus lanes' rows are
    * gone with their listeners (at-most-once, like the rebase path).
    * After a restart the engine hands `metrics` the offset log's
    * serialized form, hence the json branch. */
  private def aligned(o: Offset): Seq[Long] = (o match {
    case IngestOffset(ns) => ns
    case other => IngestOffset.fromJson(other.json).ns
  }).padTo(ports.length, 0L).take(ports.length)

  // start from 0, not rx.latest: rows buffered between listener bind and
  // stream start must land in the first batch, not be skipped
  override def initialOffset(): Offset = { rxs; IngestOffset(ports.map(_ => 0L)) }
  override def latestOffset(): Offset = IngestOffset(rxs.map(_.latest))

  // the reference's flush rule as micro-batch admission control: the cap
  // is GLOBAL across listeners, preserving the contract whatever the
  // listener count; the hold-back (see the class doc) only with an interval
  override def getDefaultReadLimit: ReadLimit = {
    val cap = if (maxRowsPerBatch > 0) ReadLimit.maxRows(maxRowsPerBatch) else ReadLimit.allAvailable()
    if (flushIntervalMs <= 0) cap
    else ReadLimit.compositeLimit(Array(ReadLimit.minRows(
      if (maxRowsPerBatch > 0) maxRowsPerBatch else Long.MaxValue, flushIntervalMs), cap))
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = aligned(start)
    val logs = rxs
    val avail = logs.zip(from).map { case (rx, f) => math.max(rx.latest - f, 0L) }
    val limits = limit match {
      case c: CompositeReadLimit => c.getReadLimits.toSeq
      case l => Seq(l)
    }
    val budget = limits.collectFirst { case r: ReadMaxRows => r.maxRows() }.getOrElse(Long.MaxValue)
    val hold = limits.collectFirst { case r: ReadMinRows => r }
    val backlog = avail.sum
    val countDue = backlog >= hold.fold(budget)(_.minRows())
    // held back: below both halves of the flush rule
    if (backlog > 0 && !countDue &&
        hold.exists(h => !pendingBeforeTick(logs, from, h.maxTriggerDelayMs()))) return start
    if (backlog > 0) (if (countDue) countFlushes else timeFlushes).incrementAndGet()
    IngestOffset(from.zip(fairShares(avail, budget)).map { case (f, take) => f + take })
  }

  /** time half: some listener's oldest pending row was received before
    * the latest tick (per-listener logs are in receive order) */
  private def pendingBeforeTick(logs: Seq[BoundedRowLog], from: Seq[Long],
      intervalMs: Long): Boolean = {
    val tickUs = System.currentTimeMillis() / intervalMs * intervalMs * 1000L
    logs.zip(from).exists { case (rx, f) => rx.tsAt(f).exists(_ < tickUs) }
  }

  /** `backlogRows`: rows received but not yet in a finished batch;
    * `countFlushes`/`timeFlushes`: batches admitted by each half of the
    * flush rule — so `lastProgress.sources(0).metrics` says why each
    * batch fired */
  override def metrics(latestConsumedOffset: Optional[Offset]): java.util.Map[String, String] = {
    val consumed = if (latestConsumedOffset.isPresent) aligned(latestConsumedOffset.get)
      else ports.map(_ => 0L)
    val backlog = rxs.zip(consumed).map { case (rx, n) => math.max(rx.latest - n, 0L) }.sum
    java.util.Map.of("backlogRows", backlog.toString,
      "countFlushes", countFlushes.get.toString, "timeFlushes", timeFlushes.get.toString)
  }

  /** max-min fair split of a global row budget across listeners: ports
    * are served smallest-backlog first, each taking at most an equal
    * share of what remains, so one bursting listener cannot starve the
    * others out of a batch */
  private def fairShares(avail: Seq[Long], budget: Long): Seq[Long] = {
    if (budget == Long.MaxValue) return avail
    val take = Array.fill(avail.length)(0L)
    var remaining = budget
    var left = avail.length
    avail.zipWithIndex.sortBy(_._1).foreach { case (a, i) =>
      val share = math.min(a, remaining / left)
      take(i) = share
      remaining -= share
      left -= 1
    }
    take.toSeq
  }

  override def reportLatestOffset(): Offset = IngestOffset(rxs.map(_.latest))

  // called when restoring offsets from a checkpoint: offsets minted by a
  // previous JVM index buffers that no longer exist, so re-base each
  // fresh listener to its restored position instead of letting it
  // swallow that many NEW rows (see BoundedRowLog.rebase)
  override def deserializeOffset(json: String): Offset = {
    val ns = aligned(IngestOffset.fromJson(json))
    rxs.zip(ns).foreach { case (rx, n) => rx.rebase(n) }
    IngestOffset(ns)
  }

  override def commit(end: Offset): Unit =
    rxs.zip(aligned(end)).foreach { case (rx, n) => rx.trim(n) }

  override def stop(): Unit = ports.foreach(stopPort)

  /** one InputPartition PER LISTENER with rows: downstream parse work
    * fans out as wide as the listener count */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    rxs.zip(aligned(start).zip(aligned(end))).flatMap { case (rx, (f, u)) =>
      val rows = rx.slice(f, u)
      if (rows.isEmpty) None else Some(IngestInputPartition(rows))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => new PartitionReader[InternalRow] {
      private val rows = partition.asInstanceOf[IngestInputPartition].rows
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = {
        val (raw, device, ts) = rows(i)
        InternalRow(UTF8String.fromString(raw), UTF8String.fromString(device), ts)
      }
      override def close(): Unit = ()
    }
}
