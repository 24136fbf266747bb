package graft

import java.net.{DatagramPacket, DatagramSocket, InetAddress}
import java.nio.file.Files

import graft.streaming.Pipeline
import org.scalatest.funsuite.AnyFunSuite

/** stream_source_udp e2e: real datagrams through the custom DSv2 source,
  * parsed by the shared projection, landed in parquet — the full reference
  * program (main.go) as one Spark pipeline. */
class UdpSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("IPv6 sender on the dual-stack socket stamps a bracketed RFC 5952 device") {
    // real bytes over the v6 loopback, not a mocked address: this is the
    // end-to-end proof the "::" bind + deviceOf stamp work together
    val v6 = try {
      val s = new DatagramSocket(0, InetAddress.getByName("::1")); s.close(); true
    } catch { case _: Throwable => false }
    assume(v6, "IPv6 loopback unavailable on this host")

    val rx = new sources.UdpReceiver(0)
    rx.start()
    val sender6 = new DatagramSocket(0, InetAddress.getByName("::1"))
    val sender4 = new DatagramSocket()
    try {
      val b6 = "firewall,info v6 datagram".getBytes("UTF-8")
      sender6.send(new DatagramPacket(b6, b6.length,
        InetAddress.getByName("::1"), rx.boundPort))
      var dl = System.currentTimeMillis() + 20000
      while (rx.latest < 1L && System.currentTimeMillis() < dl) Thread.sleep(50)
      assert(rx.latest >= 1L, "v6 datagram never reached the dual-stack socket")
      val (raw6, dev6, _) = rx.log.slice(0, 1).head
      assert(raw6 === "firewall,info v6 datagram")
      assert(dev6 === s"[::1]:${sender6.getLocalPort}",
        s"v6 sender must stamp bracketed canonical form, got $dev6")

      // a v4 sender on the SAME socket still stamps the reference's
      // bare dotted-quad:port (Java normalizes v4-mapped to Inet4Address)
      val b4 = "firewall,info v4 datagram".getBytes("UTF-8")
      sender4.send(new DatagramPacket(b4, b4.length,
        InetAddress.getByName("127.0.0.1"), rx.boundPort))
      dl = System.currentTimeMillis() + 20000
      while (rx.latest < 2L && System.currentTimeMillis() < dl) Thread.sleep(50)
      assert(rx.latest >= 2L, "v4 datagram lost on the dual-stack socket")
      val dev4 = rx.log.slice(1, 2).head._2
      assert(dev4 === s"127.0.0.1:${sender4.getLocalPort}",
        s"v4 sender must keep the reference stamp, got $dev4")
    } finally {
      sender6.close(); sender4.close(); rx.shutdown()
    }
  }

  test("canonicalV6 round-trips 500 random addresses through the JDK parser and the column decompressor") {
    import org.apache.spark.sql.functions.{col, lower}
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(46)
    // bias toward zero-heavy addresses so compression paths dominate
    val addrs = (1 to 500).map { _ =>
      val b = new Array[Byte](16)
      rnd.nextBytes(b)
      (0 until 16).foreach(i => if (rnd.nextInt(3) > 0) b(i) = 0)
      java.net.InetAddress.getByAddress(b).asInstanceOf[java.net.Inet6Address]
    }
    // JDK round-trip: the canonical text must parse back to the same bytes
    addrs.foreach { a =>
      val c = sources.Ingest.canonicalV6(a)
      val back = java.net.InetAddress.getByName(c)
      assert(java.util.Arrays.equals(back.getAddress, a.getAddress),
        s"canonical form $c does not parse back to ${a.getHostAddress}")
      assert(!c.contains(":::") && c.count(_ == '%') == 0)
    }
    // column-side round-trip: the q_ip6_funcs decompressor's norm of the
    // canonical form must equal the full lpad'd 8-group rendering
    def fullForm(a: java.net.Inet6Address): String = {
      val b = a.getAddress
      (0 until 8).map(i => f"${((b(2 * i) & 0xff) << 8) | (b(2 * i + 1) & 0xff)}%04x")
        .mkString(":")
    }
    // v4-MAPPED text forms (::ffff:a.b.c.d — the JDK parses these to
    // Inet4Address, so the expected bytes are constructed directly): the
    // decompressor's quad-tail rewrite must land every random quad on the
    // canonical 0:0:0:0:0:ffff:hi:lo rendering
    val mapped = (1 to 200).map { _ =>
      val o = Array.fill(4)(rnd.nextInt(256))
      (s"::ffff:${o(0)}.${o(1)}.${o(2)}.${o(3)}",
        f"0000:0000:0000:0000:0000:ffff:${o(0) * 256 + o(1)}%04x:${o(2) * 256 + o(3)}%04x")
    }
    val df = (addrs.map(a => (sources.Ingest.canonicalV6(a), fullForm(a))) ++ mapped)
      .toDF("ip", "expected")
    val mismatches = df
      .where(graft.functions.Scalars.ip6Norm(lower(col("ip"))) =!= col("expected"))
      .count()
    assert(mismatches === 0L, "column decompressor disagreed with the JDK on canonical forms")
  }

  test("canonicalV6: RFC 5952 compression rules") {
    def c(s: String): String = sources.Ingest.canonicalV6(
      InetAddress.getByName(s).asInstanceOf[java.net.Inet6Address])
    assert(c("0:0:0:0:0:0:0:1") === "::1")
    assert(c("0:0:0:0:0:0:0:0") === "::")
    assert(c("2001:db8:0:0:0:0:2:1") === "2001:db8::2:1")
    // tie between two runs: leftmost wins
    assert(c("2001:db8:0:0:1:0:0:1") === "2001:db8::1:0:0:1")
    // a single zero group is never compressed
    assert(c("2001:db8:0:1:1:1:1:1") === "2001:db8:0:1:1:1:1:1")
    // uppercase input renders lowercase
    assert(c("2001:DB8:0:0:0:0:CAFE:1") === "2001:db8::cafe:1")
    // no compression when no zero run
    assert(c("1:2:3:4:5:6:7:8") === "1:2:3:4:5:6:7:8")
  }

  test("UDP datagrams flow source → parse → parquet sink") {
    // bind an OS-assigned free port first, hand it to the source
    val probe = new DatagramSocket(0)
    val port = probe.getLocalPort
    probe.close()
    // bind the receiver BEFORE sending: datagrams to an unbound port are
    // silently dropped by the kernel (UDP), and the stream may take seconds
    // to initialize the source
    sources.UdpSourceProvider.receiver(port)

    val lines = spark.readStream
      .format(classOf[sources.UdpSourceProvider].getName)
      .option("port", port.toString)
      .load()
    val out = Files.createTempDirectory("graft_udp_sink").toString
    val ckpt = Files.createTempDirectory("graft_udp_ckpt").toString
    val q = Pipeline.start(lines, out, ckpt,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds"))

    val sender = new DatagramSocket()
    val target = InetAddress.getByName("127.0.0.1")
    val payloads = Seq(
      "firewall,info forward: in:ether1 out:ether2",
      "system,error,critical login failure",
      "nospacetoken")
    try {
      payloads.foreach { p =>
        val b = p.getBytes("UTF-8")
        sender.send(new DatagramPacket(b, b.length, target, port))
      }
      // UDP is lossy in principle; loopback practically isn't — poll the sink.
      // Generous deadline + gentle polling: under full-suite load the first
      // micro-batch contends with sibling suites for the scheduler, and each
      // poll is itself a Spark job (observed: 30 s expired with the batch
      // mid-write, the stop() interrupt surfacing as TASK_WRITE_FAILED)
      val deadline = System.currentTimeMillis() + 120000
      var n = 0L
      while (n < payloads.size && System.currentTimeMillis() < deadline) {
        Thread.sleep(1000)
        n = try spark.read.parquet(out).count() catch { case _: Throwable => 0L }
      }
      assert(n === payloads.size.toLong, "datagrams did not reach the sink")
      val sevs = spark.read.parquet(out)
        .select("severity").collect().map(_.getByte(0)).sorted.toSeq
      assert(sevs === Seq(3.toByte, 6.toByte, 6.toByte))
      val dev = spark.read.parquet(out).select("device").collect().head.getString(0)
      assert(dev.startsWith("127.0.0.1:"), s"device should be ip:port, got $dev")
    } finally {
      sender.close()
      q.stop()
    }
  }

  test("RFC datagrams flow source → rfc decode → sink: the real-syslog NOC path") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val probe = new DatagramSocket(0)
    val port = probe.getLocalPort
    probe.close()
    sources.UdpSourceProvider.receiver(port)

    val lines = spark.readStream
      .format(classOf[sources.UdpSourceProvider].getName)
      .option("port", port.toString)
      .load()
    val ckpt = Files.createTempDirectory("graft_udp_rfc_ckpt").toString
    val q = Pipeline.parseToRfcLog(lines).writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime("200 milliseconds"))
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("udp_rfc").start()

    val sender = new DatagramSocket()
    val target = InetAddress.getByName("127.0.0.1")
    // a mixed fleet on one socket: RFC 5424, RFC 3164, MikroTik topics
    val payloads = Seq(
      "<34>1 2003-10-11T22:14:15.003Z mymachine.example.com su - ID47 - auth failure",
      "<13>Oct 11 22:14:15 mymachine su: session opened",
      "firewall,info forward: in:ether1 out:ether2")
    try {
      payloads.foreach { p =>
        val b = p.getBytes("UTF-8")
        sender.send(new DatagramPacket(b, b.length, target, port))
      }
      val deadline = System.currentTimeMillis() + 120000
      var n = 0L
      while (n < payloads.size && System.currentTimeMillis() < deadline) {
        Thread.sleep(1000)
        n = try spark.table("udp_rfc").count() catch { case _: Throwable => 0L }
      }
      assert(n === payloads.size.toLong, "datagrams did not reach the sink")
      val rows = spark.table("udp_rfc")
        .select("format", "facility", "severity", "hostname")
        .collect().map(r => (r.getString(0),
          if (r.isNullAt(1)) -1 else r.getByte(1).toInt,
          r.getByte(2).toInt, if (r.isNullAt(3)) null else r.getString(3)))
        .sortBy(_._1).toSeq
      assert(rows === Seq(
        ("rfc3164", 1, 5, "mymachine"),
        ("rfc5424", 4, 2, "mymachine.example.com"),
        ("topics", -1, 6, null)), s"got $rows")
    } finally {
      sender.close()
      q.stop()
    }
  }

  test("restored offsets re-base a fresh receiver instead of swallowing new datagrams") {
    val probe = new DatagramSocket(0)
    val port = probe.getLocalPort
    probe.close()
    val stream = new sources.UdpMicroBatchStream(port, 1000)
    // simulate a checkpoint restore: offset 7 was committed by a previous
    // JVM; the fresh receiver's buffer is empty
    val restored = stream.deserializeOffset("7")
    val rx = sources.UdpSourceProvider.receiver(port)
    assert(rx.latest === 7L, "restore should fast-forward the offset space")
    val sender = new DatagramSocket()
    try {
      val target = InetAddress.getByName("127.0.0.1")
      (1 to 3).foreach { i =>
        val b = s"row $i".getBytes("UTF-8")
        sender.send(new DatagramPacket(b, b.length, target, port))
      }
      val dl = System.currentTimeMillis() + 10000
      while (rx.latest < 10L && System.currentTimeMillis() < dl) Thread.sleep(50)
      assert(rx.latest === 10L)
      // without the re-base these three rows would be eaten by the stale
      // offset range (slice clamps to the new buffer's head)
      val parts = stream.planInputPartitions(restored, sources.IngestOffset(rx.latest))
      val rows = parts.head.asInstanceOf[sources.IngestInputPartition].rows
      assert(rows.length === 3, "new datagrams swallowed by a stale restored offset")
      assert(rows.map(_._1).toSeq === Seq("row 1", "row 2", "row 3"))
    } finally {
      sender.close()
      sources.UdpSourceProvider.stop(port)
    }
  }

  test("multi-port ingest: rows from every receiver, one partition per port, global batch cap") {
    def freePort(): Int = {
      val p = new DatagramSocket(0); val n = p.getLocalPort; p.close(); n
    }
    val portA = freePort()
    val portB = freePort()
    // `ports` option resolves to an N-listener table
    val tbl = new sources.UdpSourceProvider().getTable(
      sources.UdpSourceProvider.Schema, Array.empty,
      java.util.Map.of("ports", s"$portA,$portB"))
    assert(tbl.name() === s"udp:$portA,$portB")

    val stream = new sources.UdpMicroBatchStream(Seq(portA, portB), 10)
    val start = stream.initialOffset() // binds both receivers
    val rxA = sources.UdpSourceProvider.receiver(portA)
    val rxB = sources.UdpSourceProvider.receiver(portB)
    val sender = new DatagramSocket()
    try {
      val target = InetAddress.getByName("127.0.0.1")
      def send(port: Int, tag: String, n: Int): Unit = (1 to n).foreach { i =>
        val b = s"$tag $i".getBytes("UTF-8")
        sender.send(new DatagramPacket(b, b.length, target, port))
      }
      send(portA, "a", 8)
      send(portB, "b", 7)
      val dl = System.currentTimeMillis() + 10000
      while ((rxA.latest < 8L || rxB.latest < 7L) && System.currentTimeMillis() < dl)
        Thread.sleep(50)
      assert(rxA.latest === 8L && rxB.latest === 7L, "datagrams lost on loopback")

      // batch 1: GLOBAL cap of 10 rows split max-min fair → 5 from each
      val end1 = stream.latestOffset(start,
        org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(10))
      val ns1 = end1.asInstanceOf[sources.IngestOffset].ns
      assert(ns1.sum === 10L, s"global cap violated: $ns1")
      assert(ns1 === Seq(5L, 5L), s"expected a fair split, got $ns1")
      val parts1 = stream.planInputPartitions(start, end1)
      assert(parts1.length === 2, "expected one InputPartition per receiver")
      val rows1 = parts1.flatMap(_.asInstanceOf[sources.IngestInputPartition].rows.map(_._1))
      assert(rows1.count(_.startsWith("a")) === 5)
      assert(rows1.count(_.startsWith("b")) === 5)

      // batch 2: the 5-row remainder (3 a + 2 b) drains, nothing lost
      val end2 = stream.latestOffset(end1,
        org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(10))
      val rows2 = stream.planInputPartitions(end1, end2)
        .flatMap(_.asInstanceOf[sources.IngestInputPartition].rows.map(_._1))
      assert((rows1 ++ rows2).sorted.toSeq ===
        ((1 to 8).map(i => s"a $i") ++ (1 to 7).map(i => s"b $i")).sorted)
    } finally {
      sender.close()
      stream.stop()
    }
  }

  test("maxRowsPerBatch caps micro-batch size under burst (count half of the flush rule)") {
    val probe = new DatagramSocket(0)
    val port = probe.getLocalPort
    probe.close()
    val rx = sources.UdpSourceProvider.receiver(port)

    // burst well past the 1000-row flush bound BEFORE the stream starts,
    // so all rows are pending at the first batch — the worst case the
    // reference's count-based flush exists for (lib/cacheManage.go:19-22)
    val sender = new DatagramSocket()
    val target = InetAddress.getByName("127.0.0.1")
    val total = 2500
    try {
      (1 to total).foreach { i =>
        val b = s"system,info burst row $i".getBytes("UTF-8")
        sender.send(new DatagramPacket(b, b.length, target, port))
        if (i % 100 == 0) Thread.sleep(1) // let the receiver drain; UDP drops else
      }
      val rxDeadline = System.currentTimeMillis() + 10000
      while (rx.latest < total && System.currentTimeMillis() < rxDeadline) Thread.sleep(50)
      val received = rx.latest
      assert(received > 1000, s"burst too small to exercise the cap: $received")

      val sizes = scala.collection.mutable.ArrayBuffer[Long]()
      val ckpt = Files.createTempDirectory("graft_udp_burst_ckpt").toString
      val q = spark.readStream
        .format(classOf[sources.UdpSourceProvider].getName)
        .option("port", port.toString)
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val n = b.count()
          sizes.synchronized { sizes += n }
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
        .start()
      try {
        val deadline = System.currentTimeMillis() + 30000
        while (sizes.synchronized(sizes.sum) < received &&
          System.currentTimeMillis() < deadline) Thread.sleep(100)
        val snap = sizes.synchronized(sizes.toSeq)
        assert(snap.sum >= received, s"rows lost: ${snap.sum} of $received")
        assert(snap.forall(_ <= sources.UdpSourceProvider.FlushRows),
          s"a micro-batch exceeded the ${sources.UdpSourceProvider.FlushRows}-row flush bound: $snap")
        assert(snap.count(_ == sources.UdpSourceProvider.FlushRows) >= 2,
          s"expected at least two full flush-bound batches from a $received-row burst: $snap")
      } finally q.stop()
    } finally sender.close()
  }

  // ---- the size-OR-time flush rule in the source (flushInterval set) ----
  // Rows go straight into the receivers' logs with chosen receive stamps:
  // a stamp an hour ahead can never be older than the latest tick, one two
  // intervals back always is, so no case waits on the clock.

  private val interval = 2000L
  private def future: Long = (System.currentTimeMillis() + 3600000L) * 1000L
  private def past: Long = (System.currentTimeMillis() - 2 * interval) * 1000L
  private def freePort(): Int = { val p = new DatagramSocket(0); val n = p.getLocalPort; p.close(); n }
  private def fill(port: Int, n: Int, tsUs: => Long): Unit =
    (1 to n).foreach(i => sources.UdpSourceProvider.receiver(port).log.append(s"row $i", "dev", tsUs))
  private def lanes(o: org.apache.spark.sql.connector.read.streaming.Offset): Seq[Long] =
    o.asInstanceOf[sources.IngestOffset].ns
  private def withStream(ports: Seq[Int], flushIntervalMs: Long)(
      body: sources.UdpMicroBatchStream => Unit): Unit = {
    val stream = new sources.UdpMicroBatchStream(ports, sources.UdpSourceProvider.FlushRows,
      flushIntervalMs)
    try body(stream) finally stream.stop()
  }

  test("flush rule: held below both thresholds, admitted at exactly 1000 rows (count half)") {
    val port = freePort()
    withStream(Seq(port), interval) { stream =>
      val start = stream.initialOffset()
      val limit = stream.getDefaultReadLimit
      fill(port, 999, future)
      assert(stream.latestOffset(start, limit) eq start, "999 fresh rows must wait")
      fill(port, 1, future)
      assert(lanes(stream.latestOffset(start, limit)) === Seq(1000L))
      assert(stream.metrics(java.util.Optional.of(start)).get("countFlushes") === "1")
    }
  }

  test("flush rule: one row received before the latest tick is admitted (time half)") {
    val port = freePort()
    withStream(Seq(port), interval) { stream =>
      val start = stream.initialOffset()
      fill(port, 1, past)
      assert(lanes(stream.latestOffset(start, stream.getDefaultReadLimit)) === Seq(1L))
      val m = stream.metrics(java.util.Optional.of(start))
      assert((m.get("backlogRows"), m.get("countFlushes"), m.get("timeFlushes")) === (("1", "0", "1")))
    }
  }

  test("flush rule: two listeners keep the global cap and the fair split") {
    val (portA, portB) = (freePort(), freePort())
    withStream(Seq(portA, portB), interval) { stream =>
      val start = stream.initialOffset()
      val limit = stream.getDefaultReadLimit
      // an old row on B is due: the time flush takes A's pending rows too
      fill(portA, 3, future)
      fill(portB, 1, past)
      val end1 = stream.latestOffset(start, limit)
      assert(lanes(end1) === Seq(3L, 1L))
      // 1500 fresh rows: one 1000-row batch, split max-min fair
      fill(portA, 800, future)
      fill(portB, 700, future)
      val end2 = stream.latestOffset(end1, limit)
      assert(lanes(end2) === Seq(503L, 501L), s"global cap or fair split violated: ${lanes(end2)}")
      // the 500-row remainder is fresh and below the count: held back
      assert(stream.latestOffset(end2, limit) eq end2)
    }
  }

  test("flush rule: without flushInterval every trigger admits what is available, as before") {
    val port = freePort()
    withStream(Seq(port), 0L) { stream =>
      assert(stream.getDefaultReadLimit ===
        org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(1000))
      val start = stream.initialOffset()
      fill(port, 5, future)
      assert(lanes(stream.latestOffset(start, stream.getDefaultReadLimit)) === Seq(5L))
      fill(port, 1200, future)
      assert(lanes(stream.latestOffset(start, stream.getDefaultReadLimit)) === Seq(1000L))
    }
  }
}
