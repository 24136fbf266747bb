package graft

import java.net.{DatagramPacket, DatagramSocket, InetAddress}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** env-driven deployment config: the reference's fail-fast `.env` contract
  * (main.go:96-99) and the whole-program `run()` wiring. */
class ConfigSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("fromEnv fails fast naming EVERY missing required variable") {
    val e = intercept[IllegalArgumentException](GraftConfig.fromEnv(Map.empty))
    GraftConfig.Required.foreach(k =>
      assert(e.getMessage.contains(k), s"$k not reported: ${e.getMessage}"))
  }

  test("fromEnv reports malformed values, not just missing ones") {
    val e = intercept[IllegalArgumentException](GraftConfig.fromEnv(Map(
      "GRAFT_UDP_PORT" -> "not-a-port",
      "GRAFT_SINK_URL" -> "jdbc:x",
      "GRAFT_SINK_TABLE" -> "t",
      "GRAFT_FLUSH_ROWS" -> "many",
      "GRAFT_TRIGGER" -> "soon")))
    assert(e.getMessage.contains("GRAFT_UDP_PORT"))
    assert(e.getMessage.contains("GRAFT_FLUSH_ROWS"))
    assert(e.getMessage.contains("GRAFT_TRIGGER"))
    // a zero or negative interval is malformed too: ticks need a period
    Seq("0 seconds", "-2 seconds").foreach { t =>
      val z = intercept[IllegalArgumentException](GraftConfig.fromEnv(Map(
        "GRAFT_UDP_PORT" -> "5514", "GRAFT_SINK_URL" -> "jdbc:x",
        "GRAFT_SINK_TABLE" -> "t", "GRAFT_TRIGGER" -> t)))
      assert(z.getMessage.contains("GRAFT_TRIGGER"), s"'$t' accepted: ${z.getMessage}")
    }
  }

  test("fromEnv parses a valid environment with defaults") {
    val cfg = GraftConfig.fromEnv(Map(
      "GRAFT_UDP_PORT" -> "5514",
      "GRAFT_SINK_URL" -> "jdbc:derby:memory:x",
      "GRAFT_SINK_TABLE" -> "logs"))
    assert(cfg.port === 5514)
    assert(cfg.flushRows === sources.UdpSourceProvider.FlushRows)
    assert(cfg.trigger === "2 seconds")
  }

  test(".env loading: file parsed, real env wins, missing file is fatal, malformed lines fail fast") {
    val dir = Files.createTempDirectory("graft_dotenv")
    val envFile = dir.resolve(".env")
    Files.write(envFile, java.util.Arrays.asList(
      "# deployment config",
      "",
      "GRAFT_UDP_PORT=5514",
      "export GRAFT_SINK_URL=\"jdbc:derby:memory:dotenv\"",
      "GRAFT_SINK_TABLE='logs'",
      "GRAFT_TRIGGER=5 seconds"))

    // file values flow through; quotes and export prefixes are stripped
    val cfg = GraftConfig.fromDotEnv(envFile.toString, env = Map.empty)
    assert(cfg.port === 5514)
    assert(cfg.sinkUrl === "jdbc:derby:memory:dotenv")
    assert(cfg.sinkTable === "logs")
    assert(cfg.trigger === "5 seconds")

    // a variable set in the real environment overrides the file
    val cfg2 = GraftConfig.fromDotEnv(envFile.toString,
      env = Map("GRAFT_UDP_PORT" -> "6000"))
    assert(cfg2.port === 6000 && cfg2.sinkTable === "logs")

    // reference parity: startup without a .env is fatal
    val missing = intercept[IllegalArgumentException](
      GraftConfig.fromDotEnv(dir.resolve("absent.env").toString, env = Map.empty))
    assert(missing.getMessage.contains("absent.env"))

    // malformed lines are named, not skipped
    val badFile = dir.resolve("bad.env")
    Files.write(badFile, java.util.Arrays.asList("GRAFT_UDP_PORT=5514", "not a pair"))
    val bad = intercept[IllegalArgumentException](
      GraftConfig.fromDotEnv(badFile.toString, env = Map.empty))
    assert(bad.getMessage.contains("line 2"))
  }

  test(".env inline comments: stripped from unquoted values, literal inside quotes") {
    val parsed = GraftConfig.parseDotEnv(Seq(
      "A=value # prod note",
      "B=\"quoted # not a comment\"",
      "C=bare#notcomment", // no space before # → part of the value (godotenv)
      "D= # only a comment",
      "E=\"quoted value\" # trailing note", // quote strip + comment strip together
      "F='single # literal' # note"))
    assert(parsed("A") === "value")
    assert(parsed("B") === "quoted # not a comment")
    assert(parsed("C") === "bare#notcomment")
    assert(parsed("D") === "")
    assert(parsed("E") === "quoted value")
    assert(parsed("F") === "single # literal")
  }

  test("run(): datagrams land in the configured JDBC table (the reference main() e2e)") {
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    val probe = new DatagramSocket(0)
    val port = probe.getLocalPort
    probe.close()
    sources.UdpSourceProvider.receiver(port) // bind before sending
    val db = Files.createTempDirectory("graft_cfg_derby").toString + "/cfgdb"
    val cfg = GraftConfig.fromEnv(Map(
      "GRAFT_UDP_PORT" -> port.toString,
      "GRAFT_SINK_URL" -> s"jdbc:derby:$db;create=true",
      "GRAFT_SINK_TABLE" -> "mikrotik_logs",
      "GRAFT_TRIGGER" -> "200 milliseconds"))
    val q = GraftConfig.run(spark, cfg)
    val sender = new DatagramSocket()
    try {
      val target = InetAddress.getByName("127.0.0.1")
      val payloads = Seq("firewall,info forward ok", "system,error,critical boom")
      payloads.foreach { p =>
        val b = p.getBytes("UTF-8")
        sender.send(new DatagramPacket(b, b.length, target, port))
      }
      val deadline = System.currentTimeMillis() + 30000
      var n = 0L
      while (n < payloads.size && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        n = try spark.read.jdbc(cfg.sinkUrl, cfg.sinkTable, new java.util.Properties).count()
        catch { case _: Throwable => 0L }
      }
      assert(n === payloads.size.toLong, "datagrams did not reach the JDBC sink")
    } finally {
      sender.close()
      q.stop()
    }
  }

  test("run(): 1000-row batches commit with no tick (count half of the flush rule)") {
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    val probe = new DatagramSocket(0)
    val port = probe.getLocalPort
    probe.close()
    val rx = sources.UdpSourceProvider.receiver(port) // bind before sending
    val db = Files.createTempDirectory("graft_cfg_count_derby").toString + "/cfgdb"
    // a one-day interval: the time half cannot fire within the test
    val cfg = GraftConfig.fromEnv(Map(
      "GRAFT_UDP_PORT" -> port.toString,
      "GRAFT_SINK_URL" -> s"jdbc:derby:$db;create=true",
      "GRAFT_SINK_TABLE" -> "mikrotik_logs",
      "GRAFT_TRIGGER" -> "1 day"))
    val q = GraftConfig.run(spark, cfg)
    val sender = new DatagramSocket()
    try {
      val target = InetAddress.getByName("127.0.0.1")
      val total = 2000
      // 100 datagrams at a time, each chunk received before the next is
      // sent, so the kernel's receive buffer never overflows
      (0 until total by 100).foreach { base =>
        (base until base + 100).foreach { i =>
          val b = s"system,info count flush $i".getBytes("UTF-8")
          sender.send(new DatagramPacket(b, b.length, target, port))
        }
        val dl = System.currentTimeMillis() + 5000
        while (rx.latest < base + 100 && System.currentTimeMillis() < dl) Thread.sleep(5)
      }
      assert(rx.latest === total.toLong, "datagrams lost on loopback")
      val deadline = System.currentTimeMillis() + 30000
      var n = 0L
      while (n < total && System.currentTimeMillis() < deadline) {
        Thread.sleep(250)
        n = try spark.read.jdbc(cfg.sinkUrl, cfg.sinkTable, new java.util.Properties).count()
        catch { case _: Throwable => 0L }
      }
      assert(n === total.toLong, "full batches did not commit without a tick")
      // the source says why each batch fired
      q.processAllAvailable()
      val m = q.lastProgress.sources.head.metrics
      Seq("backlogRows", "countFlushes", "timeFlushes").foreach(k =>
        assert(m.containsKey(k), s"source metric $k missing: $m"))
      assert((m.get("backlogRows"), m.get("countFlushes"), m.get("timeFlushes")) === (("0", "2", "0")))
    } finally {
      sender.close()
      q.stop()
    }
  }
}
