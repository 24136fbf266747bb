package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s.jackson.JsonMethods

import graft.{GraftConfig, GraftSession, SparkEntry}

/** JVM side of the benchmark. It drives the program only through its
  * public entry points and writes raw observations to `<work>/events.jsonl`;
  * `run.py` computes every metric and checks every output from them.
  *
  *   sql    <launch_ms> <data_dir> <work_dir> <seconds> <trace> <key>...
  *   ingest <launch_ms> <work_dir> <seconds> <trace> <port>
  *
  * `launch_ms` is the wall-clock time at which the caller started this JVM,
  * so that set-up time includes JVM start. */
object Harness {
  import Recorder.formats

  private val rec = new Recorder

  def main(args: Array[String]): Unit = args.toList match {
    case "sql" :: launch :: data :: work :: secs :: trace :: keys =>
      sql(launch.toDouble, data, work, secs.toDouble, trace == "1", keys)
    case "ingest" :: launch :: work :: secs :: trace :: port :: Nil =>
      ingest(launch.toDouble, work, secs.toDouble, trace == "1", port.toInt)
    case _ =>
      System.err.println("usage: Harness sql|ingest ... (see run.py)")
      sys.exit(2)
  }

  private def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def peakRssKb: Long = scala.io.Source.fromFile("/proc/self/status")
    .getLines().find(_.startsWith("VmHWM:"))
    .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  private def cpus: String = Runtime.getRuntime.availableProcessors().toString

  /** Memo caches dropped before every key, the same list `graft.Bench`
    * clears, so each key pays its own derived-frame builds. */
  private def clearCaches(): Unit = {
    graft.operators.Dedup.clearLabelsCache()
    graft.operators.Dedup.clearGramIndexCache()
    graft.operators.Dedup.clearSimhashIndexCache()
    graft.operators.Dedup.clearMinhashIndexCache()
    graft.operators.Dedup.clearSubstrIndexCache()
    graft.operators.Dedup.clearWinnowIndexCache()
    graft.operators.Dedup.clearSubstringSpansCache()
    graft.operators.TextAnalysis.clearBpeMergeCache()
    graft.operators.Similarity.clearCodebookCache()
    graft.operators.Similarity.clearSemanticIndexCache()
    graft.operators.Resolve.clearLabelsCache()
    graft.operators.Bucketing.clearTableCache()
    graft.operators.Relational.clearZOrderCache()
    graft.operators.Relational.clearTextFormatsCache()
    graft.operators.SketchTable.clearTableCache()
    graft.operators.CorpusOps.clearSourceSketchCache()
    graft.operators.CorpusOps.clearFrontierCache()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Calibration probes: the per-query floor (a one-row query) and box
    * speed (a fixed integer loop), so results from different boxes or
    * box states can be compared. */
  private def boxProbes(spark: SparkSession): Unit = {
    val floor = (1 to 7).map { _ =>
      val t = System.nanoTime(); spark.sql("SELECT 1 AS one").collect()
      (System.nanoTime() - t) / 1e6
    }.drop(2)
    val cpu = (1 to 4).map { _ =>
      val t = System.nanoTime()
      var x = 88172645463325252L; var i = 0
      while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 0) println("")
      (System.nanoTime() - t) / 1e6
    }.drop(1)
    rec.add("ev" -> "box", "floor_ms" -> median(floor), "cpu_ms" -> median(cpu),
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version)
  }

  private def finish(spark: SparkSession, work: String, measuredCpuNs: Long): Unit = {
    boxProbes(spark)
    rec.add("ev" -> "resources", "cpu_s" -> measuredCpuNs / 1e9, "peak_rss_kb" -> peakRssKb)
    spark.stop()
    rec.write(s"$work/events.jsonl")
  }

  // ---- SQL half --------------------------------------------------------

  def sql(launchMs: Double, data: String, work: String, seconds: Double,
      trace: Boolean, keys: Seq[String]): Unit = {
    val spark = GraftSession.benchLocal(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (nowUs / 1e3 - launchMs) / 1e3
    val queries = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    // check pass, which is also the warm-up: every key's output goes to
    // parquet for run.py to compare with the DuckDB oracle
    for (k <- keys) {
      clearCaches()
      try {
        val fn = queries.getOrElse(k, sys.error(s"no query key $k"))
        fn(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$work/out/$k")
        rec.add("ev" -> "check", "key" -> k, "ok" -> true, "oracle" -> oracle.get(k))
      } catch {
        case scala.util.control.NonFatal(e) =>
          rec.add("ev" -> "check", "key" -> k, "ok" -> false, "error" -> e.toString)
      }
    }
    // the check pass compiles the parquet sink; two untimed passes through
    // the noop sink compile the measured path before timing starts
    for (_ <- 1 to 2; k <- keys if queries.contains(k)) {
      clearCaches()
      try queries(k)(spark, data).write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(_) => }
    }
    rec.add("ev" -> "setup", "setup_s" -> (nowUs / 1e3 - launchMs) / 1e3,
      "session_s" -> sessionS)
    // closed loop, one client: whole passes over the key list, at least
    // two, until the measuring time is used up. A traced run alternates
    // traced and untraced passes, which gives the tracing overhead within
    // one run.
    val cpu0 = cpuNs
    val start = System.nanoTime()
    var pass = 0
    while (pass < 2 || (System.nanoTime() - start) / 1e9 < seconds) {
      val traced = trace && pass % 2 == 0
      if (traced) {
        spark.sparkContext.addSparkListener(rec.sparkListener)
        spark.listenerManager.register(rec.queryListener)
      }
      for (k <- keys) {
        clearCaches()
        val t0 = nowUs
        var t1 = t0
        val err = try {
          val df = queries(k)(spark, data)
          t1 = nowUs
          df.write.format("noop").mode("overwrite").save()
          None
        } catch { case scala.util.control.NonFatal(e) => Some(e.toString) }
        rec.add("ev" -> "key", "pass" -> pass, "key" -> k, "traced" -> traced,
          "t0_us" -> t0, "t1_us" -> t1, "t2_us" -> nowUs, "error" -> err)
      }
      if (traced) {
        // listener events are delivered asynchronously; let them drain
        // before the listeners are detached
        Thread.sleep(300)
        spark.sparkContext.removeSparkListener(rec.sparkListener)
        spark.listenerManager.unregister(rec.queryListener)
      }
      pass += 1
    }
    finish(spark, work, (cpuNs - cpu0) / pass)
  }

  // ---- ingest half -----------------------------------------------------

  def ingest(launchMs: Double, work: String, seconds: Double, trace: Boolean,
      port: Int): Unit = {
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (nowUs / 1e3 - launchMs) / 1e3
    spark.streams.addListener(rec.streamListener)
    val table = "mikrotik_logs"
    val url = "jdbc:derby:memory:perfbench;create=true"
    val cfg = GraftConfig.fromEnv(Map(
      "GRAFT_UDP_PORT" -> port.toString, "GRAFT_SINK_URL" -> url,
      "GRAFT_SINK_TABLE" -> table, "GRAFT_CHECKPOINT" -> s"$work/checkpoint"))
    val query = GraftConfig.run(spark, cfg)
    @volatile var committed = 0L
    @volatile var lastProgressMs = System.currentTimeMillis()
    @volatile var warmBatchStartMs = 0L
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        if (committed < 1000 && committed + e.progress.numInputRows >= 1000)
          warmBatchStartMs = java.time.Instant.parse(e.progress.timestamp).toEpochMilli
        committed += e.progress.numInputRows
        lastProgressMs = System.currentTimeMillis()
        // a traced run attaches the Spark listener to every other batch,
        // which gives the tracing overhead within one run
        if (trace && e.progress.numInputRows > 0) {
          if (e.progress.batchId % 2 == 0) spark.sparkContext.addSparkListener(rec.sparkListener)
          else spark.sparkContext.removeSparkListener(rec.sparkListener)
        }
      }
    })
    // the source binds its socket when the stream first plans; wait for it
    val bindDeadline = System.currentTimeMillis() + 60000
    while (!query.status.message.startsWith("Waiting") &&
        System.currentTimeMillis() < bindDeadline) Thread.sleep(20)
    // warm-up: one full 1000-row batch through the whole pipeline, sent at
    // 5000 msg/s, so the receive, parse and sink paths are compiled. The
    // trigger fires on multiples of its interval since the epoch, so the
    // engine then idles until the next tick, for a time set only by when
    // the JVM started. Set-up time leaves out that idle time: the sleep to
    // 0.1 s after a tick before sending, and the wait from the last send to
    // the start of the batch that commits the warm-up.
    val interval = 2000L
    val beforeAlign = System.currentTimeMillis()
    val alignMs = (beforeAlign / interval + 1) * interval + 100 - beforeAlign
    Thread.sleep(alignMs)
    val sock = new java.net.DatagramSocket()
    val lo = java.net.InetAddress.getLoopbackAddress
    for (i <- 0 until 1000) {
      val b = s"system,info warmup=$i".getBytes(StandardCharsets.UTF_8)
      sock.send(new java.net.DatagramPacket(b, b.length, lo, port))
      if (i % 5 == 4) Thread.sleep(1)
    }
    sock.close()
    val sentMs = System.currentTimeMillis()
    val warmDeadline = sentMs + 60000
    while (committed < 1000 && System.currentTimeMillis() < warmDeadline) Thread.sleep(20)
    val warm = committed
    if (warm != 1000) sys.error(s"warm-up committed $warm of 1000 rows")
    val tickWaitMs = math.max(0L, warmBatchStartMs - sentMs)
    rec.add("ev" -> "setup",
      "setup_s" -> (nowUs / 1e3 - launchMs - alignMs - tickWaitMs) / 1e3,
      "session_s" -> sessionS, "warm_rows" -> warm, "align_ms" -> alignMs,
      "tick_wait_ms" -> tickWaitMs)
    // The trigger fires on multiples of its interval since the epoch, so
    // the load starts at a fixed phase of the trigger clock: 0.5 s after a
    // tick, and at least 0.8 s from now for the generator to start.
    val t0 = ((System.currentTimeMillis() + 300) / interval + 1) * interval + 500
    Files.writeString(Paths.get(s"$work/ready.tmp"), Recorder.json("t0_ms" -> t0))
    Files.move(Paths.get(s"$work/ready.tmp"), Paths.get(s"$work/ready.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    while (System.currentTimeMillis() < t0) Thread.sleep(1)
    val cpu0 = cpuNs
    rec.add("ev" -> "load_start", "t0_ms" -> t0)
    // wait for the generator to finish, then for its rows to drain
    val done = Paths.get(s"$work/gen_done.json")
    val genDeadline = t0 + (seconds * 1000).toLong + 60000
    while (!Files.exists(done) && System.currentTimeMillis() < genDeadline) Thread.sleep(20)
    val sent = if (Files.exists(done))
      (JsonMethods.parse(Files.readString(done)) \ "sent").extract[Long]
    else 0L
    val drainDeadline = System.currentTimeMillis() + 60000
    // all sent rows committed, or no batch for three trigger intervals
    while (committed < warm + sent && System.currentTimeMillis() < drainDeadline &&
        System.currentTimeMillis() - lastProgressMs < 3 * interval) Thread.sleep(20)
    val cpu = cpuNs - cpu0
    query.stop()
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        s"""SELECT "timestamp", "severity", "categories", "message" FROM $table""")
      val w = Files.newBufferedWriter(Paths.get(s"$work/rows.jsonl"))
      try while (rs.next()) {
        val ts = rs.getTimestamp(1)
        w.write(Recorder.json("ts_us" -> (ts.getTime * 1000L + (ts.getNanos / 1000) % 1000),
          "severity" -> rs.getInt(2), "categories" -> rs.getString(3),
          "message" -> rs.getString(4)))
        w.write('\n')
      } finally w.close()
    } finally conn.close()
    finish(spark, work, cpu)
  }
}
