package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.streaming.Pipeline
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

case class RawLine(raw: String, device: String, ts: Timestamp)
case class Ev(event_id: Long, timestamp: Timestamp, user_id: Long)
case class LogRow(device: String, severity: Byte)
// the Spark Kafka connector's fixed record shape (what
// `.readStream.format("kafka")` emits — public, versioned schema)
case class KafkaRecord(key: Array[Byte], value: Array[Byte], topic: String,
  partition: Int, offset: Long, timestamp: Timestamp, timestampType: Int)

/** a local file system under its own `graftfake:` scheme: a non-`file:`
  * checkpoint path that needs no server */
class GraftFakeFs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(uri,
    new org.apache.hadoop.fs.RawLocalFileSystem, conf, "graftfake", false)

/** SURVEY.md §2 B.9 stream_* rows: the e2e reference pipeline, watermark
  * late-data drop, stateful dedup, and running state — all on
  * MemoryStream (no wall clock, no network; FIXTURES.md §3). */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("stream_pipeline_e2e: stream run produces exactly the batch rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lines = model.syslogFixture.map { case (_, raw, dev, t) => RawLine(raw, dev, ts(t)) }
    val ms = MemoryStream[RawLine]
    val out = Files.createTempDirectory("graft_sink").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString

    ms.addData(lines) // before start: AvailableNow snapshots offsets at start
    val q = Pipeline.start(ms.toDF(), out, ckpt, Trigger.AvailableNow())
    q.awaitTermination(60000)

    val streamed = spark.read.parquet(out)
      .drop("batch_id") // idempotency partition column, not pipeline data
      .orderBy("timestamp", "device", "message")
      .collect().toSeq
    val batch = Pipeline.parseToLog(lines.toDF())
      .orderBy("timestamp", "device", "message")
      .collect().toSeq
    assert(streamed === batch)
    assert(streamed.size === model.syslogFixture.size)
  }

  test("rfc ingest twin: stream run equals the batch decode on a mixed fleet") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // mixed MikroTik + RFC fleet: both fixtures through ONE decode
    val lines = (model.syslogFixture ++ model.rfcFixture.map {
      case (id, raw, dev, t) => (id + 100, raw, dev, t)
    }).map { case (_, raw, dev, t) => RawLine(raw, dev, ts(t)) }
    val ms = MemoryStream[RawLine]
    ms.addData(lines)
    val ckpt = Files.createTempDirectory("graft_rfc_ckpt").toString
    val rows = scala.collection.mutable.Buffer[Seq[org.apache.spark.sql.Row]]()
    val q = Pipeline.parseToRfcLog(ms.toDF()).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        rows.synchronized { rows += b.collect().toSeq }; ()
      }
      .start()
    q.awaitTermination(60000)
    val streamed = rows.flatten
      .sortBy(r => (r.getTimestamp(0).getTime, r.getString(1), r.getString(9)))
    val batch = Pipeline.parseToRfcLog(lines.toDF())
      .orderBy("timestamp", "device", "message")
      .collect().toSeq
    assert(streamed === batch)
    assert(streamed.size === model.syslogFixture.size + model.rfcFixture.size)
    // the RFC lines carry decoded facilities; the MikroTik lines don't
    val formats = streamed.map(_.getString(2)).toSet
    assert(formats.contains("rfc5424") && formats.contains("rfc3164")
      && formats.contains("topics"))
    assert(streamed.filter(_.getString(2) == "rfc5424").forall(!_.isNullAt(3)))
  }

  test("zoneSeverityCounts: streaming the fixture reproduces q_zone_severity_hourly exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the when-chain zone expression and the batch LPM join must agree
    // cell for cell: feed the whole fixture as one stream, compare to
    // the declared batch query
    val ms = MemoryStream[RawLine]
    graft.model.syslogFixture.foreach { case (_, raw, dev, t) =>
      ms.addData(RawLine(raw, dev, java.sql.Timestamp.valueOf(t)))
    }
    val q = Pipeline.zoneSeverityCounts(Pipeline.parseToLog(ms.toDF()))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("zone_sev").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("zone_sev")
      .select("zone", "hour", "n", "n_hi")
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getLong(3)))
      .sortBy(r => (r._1, r._2.getTime)).toSeq
    val batch = graft.operators.Syslog.zoneSeverityHourly(spark, TestSpark.sfDir)
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(streamed === batch, "streaming zone rollup diverged from the batch twin")

    // dual-stack: v6 senders (every stamp form deviceIp splits) classify
    // against the v6 catalog in the same stream
    val ms6 = MemoryStream[RawLine]
    val t6 = java.sql.Timestamp.valueOf("2024-02-01 00:10:00")
    ms6.addData(
      RawLine("fw,info a", "[2001:db8:85a3::1]:514", t6),   // doc-site /48
      RawLine("fw,error b", "[fe80::9%eth0]:1", t6),        // link-local /10, zone id
      RawLine("fw,info c", "2001:db8::5", t6),              // bare v6 → doc /32
      RawLine("fw,info d", "[64:ff9b::1]:2", t6),           // → ::/0 default
      RawLine("fw,info e", "myrouter.lan:514", t6),         // hostname → unzoned, not a crash
      RawLine("fw,info f", "[garbage", t6),                 // malformed stamp → unzoned
      RawLine("fw,info g", "266.0.0.5:514", t6),            // octet > 255 → unzoned, never wraps into a zone
      RawLine("fw,info h", "[::ffff:10.0.0.9]:514", t6),    // v4-MAPPED = v4 sender → v4 catalog (/29)
      RawLine("fw,info i", "::ffff:192.168.7.1", t6))       // bare mapped → v4 catalog (/16)
    val q6 = Pipeline.zoneSeverityCounts(Pipeline.parseToLog(ms6.toDF()))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("zone_sev6").start()
    q6.processAllAvailable()
    q6.stop()
    val zones6 = spark.table("zone_sev6")
      .select("zone", "n").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(zones6 === Set(("doc-site", 1L), ("link-local", 1L), ("doc", 1L),
        ("default", 1L), ("unzoned", 3L), ("corp-infra", 1L), ("lab", 1L)),
      s"v6/malformed zone classification wrong: $zones6")
  }

  test("stream_source_kafka_adapter: kafka-shaped records parse identically to UDP-shaped lines") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the UdpSourceSpec mixed fleet, as Kafka records: keyed by sender
    // (the per-host-ordering convention), one unkeyed record to pin the
    // topic/partition device fallback
    val t0 = ts("2024-03-01 10:00:00")
    val payloads = Seq(
      ("10.0.0.5:514", "<34>1 2003-10-11T22:14:15.003Z mymachine.example.com su - ID47 - auth failure"),
      ("10.0.0.6:514", "<13>Oct 11 22:14:15 mymachine su: session opened"),
      ("10.0.0.7:514", "firewall,info forward: in:ether1 out:ether2"))
    val kafkaRows = payloads.zipWithIndex.map { case ((dev, raw), i) =>
      KafkaRecord(dev.getBytes("UTF-8"), raw.getBytes("UTF-8"),
        "syslog", 0, i.toLong, t0, 0)
    } :+ KafkaRecord(null, "nospacetoken".getBytes("UTF-8"), "syslog", 3, 9L, t0, 0)
    val msK = MemoryStream[KafkaRecord]
    msK.addData(kafkaRows)
    val qK = Pipeline.parseToRfcLog(Pipeline.fromKafkaRecords(msK.toDF()))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("kafka_rfc").start()
    qK.processAllAvailable(); qK.stop()

    // the same payloads through the UDP-shaped path
    val msU = MemoryStream[RawLine]
    msU.addData(payloads.map { case (dev, raw) => RawLine(raw, dev, t0) }
      :+ RawLine("nospacetoken", "syslog/3", t0))
    val qU = Pipeline.parseToRfcLog(msU.toDF())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("udp_rfc_twin").start()
    qU.processAllAvailable(); qU.stop()

    def rows(t: String) = spark.table(t)
      .collect().map(_.toString).sorted.toSeq
    assert(rows("kafka_rfc") === rows("udp_rfc_twin"),
      "kafka-shaped ingest diverged from the UDP-shaped parse")
    // the unkeyed record stamped the per-lane fallback device
    assert(spark.table("kafka_rfc")
      .where(col("message") === "nospacetoken" ||
        col("device") === "syslog/3").count() >= 1)
  }

  test("stream_watermark_late: rows behind the watermark are dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[RawLine]
    val counts = Pipeline.severityCounts(
      Pipeline.parseToLog(ms.toDF()), watermark = "10 minutes")
    val q = counts.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("wm_counts").start()

    // batch 1: two rows at 10:00 → watermark still unset
    ms.addData(RawLine("fw,info a", "d1", ts("2024-01-01 10:00:00")))
    ms.addData(RawLine("fw,info b", "d1", ts("2024-01-01 10:05:00")))
    q.processAllAvailable()
    // batch 2: event at 12:00 advances watermark to 11:50
    ms.addData(RawLine("fw,info c", "d1", ts("2024-01-01 12:00:00")))
    q.processAllAvailable()
    // batch 3: late row at 10:20 — behind watermark, must be dropped
    ms.addData(RawLine("fw,info late", "d1", ts("2024-01-01 10:20:00")))
    q.processAllAvailable()
    q.stop()

    val hour10 = spark.sql(
      "SELECT max(n) FROM wm_counts WHERE ws = TIMESTAMP '2024-01-01 10:00:00'")
      .collect().head.getLong(0)
    assert(hour10 === 2L, "late row leaked into the 10:00 window")
  }

  test("stream_dedup: duplicate ids within the watermark collapse to one") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = Pipeline.dedupWithinWatermark(ms.toDF(), "event_id", "10 minutes")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_out").start()

    ms.addData(Ev(1, ts("2024-01-01 10:00:00"), 7))
    q.processAllAvailable()
    ms.addData(Ev(1, ts("2024-01-01 10:01:00"), 7)) // dup id, later ts
    ms.addData(Ev(2, ts("2024-01-01 10:02:00"), 8))
    q.processAllAvailable()
    q.stop()

    val ids = spark.sql("SELECT event_id FROM dedup_out ORDER BY event_id")
      .as[Long].collect().toSeq
    assert(ids === Seq(1L, 2L))
  }

  test("stream_stateful_count: per-device counters accumulate across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[LogRow]
    val q = Pipeline.statefulDeviceCounts(ms.toDF())
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("dev_counts").start()

    ms.addData(LogRow("d1", 6), LogRow("d1", 3), LogRow("d2", 7))
    q.processAllAvailable()
    ms.addData(LogRow("d1", 1), LogRow("d2", 6))
    q.processAllAvailable()
    q.stop()

    val last = spark.sql(
      """SELECT device, max(total) AS total, max(errors) AS errors
        |FROM dev_counts GROUP BY device ORDER BY device""".stripMargin)
      .as[(String, Long, Long)].collect().toSeq
    assert(last === Seq(("d1", 3L, 2L), ("d2", 2L, 0L)))
  }

  test("stream_topk: sharded space-saving state matches batch counts exactly under capacity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[LogRow]
    val q = Pipeline.streamTopDevices(ms.toDF())
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("topk_out").start()

    def rows(devs: (String, Int)*): Seq[LogRow] =
      devs.toSeq.flatMap { case (d, n) => Seq.fill(n)(LogRow(d, 6)) }
    ms.addData(rows("h1" -> 6, "h2" -> 4, "h3" -> 3, "h4" -> 1))
    q.processAllAvailable()
    // h1/h2 counters must ACCUMULATE across batches; h5 is new in batch 2
    ms.addData(rows("h1" -> 4, "h2" -> 2, "h5" -> 5))
    q.processAllAvailable()
    q.stop()

    // read-side merge: counters only grow, so the latest row per
    // (shard, device) is the max — with capacity >= distinct the merged
    // view is the exact batch count
    val merged = spark.table("topk_out").as[Pipeline.ShardTop].collect()
      .groupBy(r => (r.shard, r.device))
      .map { case ((_, d), rs) => d -> rs.map(_.cnt).max }
    assert(merged === Map("h1" -> 10L, "h2" -> 6L, "h3" -> 3L, "h4" -> 1L, "h5" -> 5L))
    val top3 = merged.toSeq.sortBy { case (d, c) => (-c, d) }.take(3).map(_._1)
    assert(top3 === Seq("h1", "h2", "h5"))
  }

  test("streaming session_window groups by 30-min inactivity gap (q_window_session twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val sessions = ms.toDF()
      .withWatermark("timestamp", "10 minutes")
      .groupBy(session_window(col("timestamp"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("ss"), col("user_id"), col("n"))
    val q = sessions.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sess_out").start()

    // user 7: two events 10 min apart (one session), then one 2h later
    ms.addData(Ev(1, ts("2024-01-01 10:00:00"), 7))
    ms.addData(Ev(2, ts("2024-01-01 10:10:00"), 7))
    ms.addData(Ev(3, ts("2024-01-01 12:00:00"), 7))
    q.processAllAvailable()
    // advance the watermark far past both sessions so append finalizes them
    ms.addData(Ev(4, ts("2024-01-01 15:00:00"), 8))
    q.processAllAvailable()
    q.stop()

    val got = spark.sql("SELECT ss, user_id, n FROM sess_out WHERE user_id = 7 ORDER BY ss")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq(
      (ts("2024-01-01 10:00:00"), 7L, 2L),
      (ts("2024-01-01 12:00:00"), 7L, 1L)))
  }

  test("stream-stream interval join: purchases match views within 1 hour, state bounded by watermarks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val joined = Pipeline.streamConversions(views.toDF(), purchases.toDF())
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ssj_out").start()

    views.addData(Ev(1, ts("2024-01-01 10:00:00"), 7))     // within 1h of purchase
    views.addData(Ev(2, ts("2024-01-01 08:00:00"), 7))     // too old
    views.addData(Ev(3, ts("2024-01-01 10:20:00"), 8))     // other user
    purchases.addData(Ev(10, ts("2024-01-01 10:30:00"), 7))
    q.processAllAvailable()
    q.stop()

    val got = spark.sql("SELECT p_id, v_id FROM ssj_out ORDER BY p_id, v_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((10L, 1L)))
  }

  test("streamConversions ≡ q_join_interval: streamed attribution equals the batch range join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = TestSpark.sfDir
    val ev = util.events(spark, dir)
      .select(col("event_id"), col("ts").as("timestamp"), col("user_id"), col("event_type"))
    def rows(t: String) = ev.where(col("event_type") === t)
      .select("event_id", "timestamp", "user_id")
      .as[(Long, Timestamp, Long)].collect().toSeq.map(r => Ev(r._1, r._2, r._3))
    val views = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    // one micro-batch: parity of the JOIN itself (the watermark-eviction
    // semantics are pinned by the dedicated interval-join test above)
    views.addData(rows("view"))
    purchases.addData(rows("purchase"))
    val q = Pipeline.streamConversions(views.toDF(), purchases.toDF())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("conv_out").start()
    q.processAllAvailable()
    q.stop()

    val streamed = spark.sql(
      """SELECT p_id, user_id, unix_micros(p_ts) AS p_ts, v_id, unix_micros(v_ts) AS v_ts
        |FROM conv_out ORDER BY p_id, v_id""".stripMargin)
      .collect().toSeq
    val batch = operators.Relational.joinInterval(spark, dir).collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty, "no view→purchase pairs at sf0.001")
  }

  test("streamEntityAbsorb: minted entities absorb and the next batch matches them") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val cust = util.t(spark, dir, "customer")
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
    val indexPath = Files.createTempDirectory("graft_entabs_idx").toString
    val idxPop = cust.where(col("c_custkey") % 10 < 8)
    graft.operators.Resolve.writeEntityIndex(idxPop, indexPath)
    val batch1 = cust.where(col("c_custkey") % 10 >= 8)
      .as[(Long, String, Int, String, Double)].collect().toSeq
    // batch 2: exact clones of every batch-1 record under fresh keys —
    // each must MATCH after batch 1 absorbs (at minimum its own clone
    // scores 100), and clones of batch-1 MINTED records must adopt the
    // minted entity
    val batch2 = batch1.map(r => (r._1 + 10000000L, r._2, r._3, r._4, r._5))
    val ms = MemoryStream[(Long, String, Int, String, Double)]
    val out = Files.createTempDirectory("graft_entabs_out").toString
    val ckpt = Files.createTempDirectory("graft_entabs_ckpt").toString
    // two sequential AvailableNow runs over one checkpoint = two
    // micro-batches (a single run would coalesce both addData blocks
    // into one batch, and a batch never matches itself)
    ms.addData(batch1)
    val q1 = Pipeline.streamEntityAbsorb(
      ms.toDF().toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal"),
      indexPath, out, ckpt, Trigger.AvailableNow())
    q1.awaitTermination(120000)
    ms.addData(batch2)
    val q2 = Pipeline.streamEntityAbsorb(
      ms.toDF().toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal"),
      indexPath, out, ckpt, Trigger.AvailableNow())
    q2.awaitTermination(120000)

    val streamed = spark.read.parquet(out)
    def assigns(df: org.apache.spark.sql.DataFrame) = df
      .select("probe_key", "entity_id", "minted", "best_score")
      .orderBy("probe_key").collect().toSeq
    // batch 1 ≡ the declared q_entity_absorb assignment (same 80/20
    // split, same index) — stream ≡ batch by construction
    val declared = graft.operators.Resolve.entityAbsorb(spark, dir)
      .select("probe_key", "entity_id", "minted")
      .orderBy("probe_key").collect().toSeq
    assert(assigns(streamed.where(col("batch_id") === 0))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) === declared
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
    // batch 2 ≡ the batch twin probing (index ∪ batch1), and 100% matched
    val b1df = batch1.toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
    val b2df = batch2.toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
    val twin = graft.operators.Resolve.probeMatches(idxPop.unionByName(b1df), b2df)
      .select(col("probe_key"),
        coalesce(col("matched_key"), col("probe_key")).as("entity_id"),
        col("matched_key").isNull.cast("long").as("minted"),
        col("best_score"))
      .orderBy("probe_key").collect().toSeq
    val got2 = assigns(streamed.where(col("batch_id") === 1))
    assert(got2 === twin)
    assert(got2.forall(_.getLong(2) == 0L), "a batch-2 clone failed to match")
    // clones of batch-1 MINTED records adopt the minted entity id
    val minted1 = declared.filter(_.getLong(2) == 1L).map(_.getLong(0)).toSet
    assert(minted1.nonEmpty, "fixture needs minted batch-1 records")
    val got2ById = got2.map(r => r.getLong(0) -> r.getLong(1)).toMap
    minted1.foreach { k =>
      assert(got2ById(k + 10000000L) === k,
        s"clone of minted $k adopted ${got2ById(k + 10000000L)}")
    }
    // replay marker present for both absorbed batches
    assert(new java.io.File(s"$indexPath/appended/0").exists())
    assert(new java.io.File(s"$indexPath/appended/1").exists())
  }

  test("streamGoldenUpsert: the live golden table equals the sequential at-rest recompute") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val cust = util.t(spark, dir, "customer")
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
    val idx = cust.where(col("c_custkey") % 10 < 8)
    val b1rows = cust.where(col("c_custkey") % 10 === 8)
      .as[(Long, String, Int, String, Double)].collect().toSeq
    val b2rows = cust.where(col("c_custkey") % 10 === 9)
      .as[(Long, String, Int, String, Double)].collect().toSeq
    val ei = Files.createTempDirectory("graft_sgu_ei").toString
    val gt = Files.createTempDirectory("graft_sgu").toString + "/golden"
    graft.operators.Resolve.writeEntityIndex(idx, ei)
    graft.operators.Resolve.writeGoldenTable(idx, gt)
    val ms = MemoryStream[(Long, String, Int, String, Double)]
    val ckpt = Files.createTempDirectory("graft_sgu_ckpt").toString
    def drain(): Unit = {
      val q = Pipeline.streamGoldenUpsert(
        ms.toDF().toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal"),
        ei, gt, ckpt, Trigger.AvailableNow())
      q.awaitTermination(120000)
    }
    ms.addData(b1rows); drain()
    ms.addData(b2rows); drain()
    // twin: the at-rest sequence ResolveSpec pins, replayed in memory
    val b1 = b1rows.toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
    val b2 = b2rows.toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
    val labels0 = graft.operators.Resolve.clusterLabelsFrom(idx)
    def assignTwin(pop: org.apache.spark.sql.DataFrame,
        batch: org.apache.spark.sql.DataFrame,
        mem: org.apache.spark.sql.DataFrame) =
      graft.operators.Resolve.probeMatches(pop, batch)
        .join(mem.select(col("c_custkey").as("matched_key"),
          col("entity_id").as("matched_entity")), Seq("matched_key"), "left")
        .select(col("probe_key").as("c_custkey"),
          coalesce(col("matched_entity"), col("probe_key")).as("entity_id"))
    val mem1 = labels0.unionByName(assignTwin(idx, b1, labels0))
    val mem2 = mem1.unionByName(assignTwin(idx.unionByName(b1), b2, mem1))
    val expected = mem2
      .join(cust.select("c_custkey", "c_name", "c_acctbal"), Seq("c_custkey"))
      .groupBy("entity_id").agg(
        count(lit(1)).as("n_members"),
        min_by(col("c_name"), col("c_custkey")).as("surv_name"),
        util.r4(max(col("c_acctbal"))).as("surv_bal"),
        util.r4(sum(util.d2(col("c_acctbal")))).as("total_bal"))
      .select("entity_id", "n_members", "surv_name", "surv_bal", "total_bal")
      .orderBy("entity_id").collect()
    assert(graft.operators.Resolve.readGoldenTable(spark, gt).collect() === expected)
    assert(expected.nonEmpty)
    // replay guard: both batches left their markers
    assert(new java.io.File(s"$gt/appended/0").exists())
    assert(new java.io.File(s"$gt/appended/1").exists())
  }

  test("streamGoldenApply: one CDC stream of upserts+deletes equals the sequential recompute") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val cust = util.t(spark, dir, "customer")
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
    val idx = cust.where(col("c_custkey") % 10 < 8)
    val b1 = cust.where(col("c_custkey") % 10 === 8)
    val b2 = cust.where(col("c_custkey") % 10 === 9)
    val ei = Files.createTempDirectory("graft_sga_ei").toString
    val gt = Files.createTempDirectory("graft_sga").toString + "/golden"
    graft.operators.Resolve.writeEntityIndex(idx, ei)
    graft.operators.Resolve.writeGoldenTable(idx, gt)
    def rowsOf(df: org.apache.spark.sql.DataFrame, op: String) =
      df.as[(Long, String, Int, String, Double)].collect().toSeq.map(r =>
        (r._1, r._2, r._3, r._4, r._5, op))
    // batch 1 is MIXED: b2 upserts plus deletes of base AND batch-0 records
    val delKeys = idx.unionByName(b1).where(col("c_custkey") % 7 === 3)
      .select("c_custkey")
    val ms = MemoryStream[(Long, String, Int, String, Double, String)]
    val ckpt = Files.createTempDirectory("graft_sga_ckpt").toString
    def drain(): Unit = {
      val q = Pipeline.streamGoldenApply(
        ms.toDF().toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment",
          "c_acctbal", "op"),
        ei, gt, ckpt, Trigger.AvailableNow())
      q.awaitTermination(120000)
    }
    ms.addData(rowsOf(b1, "upsert")); drain()
    ms.addData(rowsOf(cust.join(delKeys, Seq("c_custkey"), "left_semi"), "delete")
      ++ rowsOf(b2, "upsert")); drain()
    // batch 2: the CDC UPDATE shape — delete a batch-0 record and
    // re-insert it with a corrected balance IN THE SAME BATCH (deletes
    // apply first, so the absorb-once rule admits the new version)
    val updKey = b1.join(delKeys, Seq("c_custkey"), "left_anti")
      .orderBy("c_custkey").select("c_custkey").limit(1)
      .collect()(0).getLong(0)
    val updatedRow = cust.where(col("c_custkey") === updKey)
      .withColumn("c_acctbal", col("c_acctbal") + 100.0)
    ms.addData(rowsOf(cust.where(col("c_custkey") === updKey), "delete")
      ++ rowsOf(updatedRow, "upsert")); drain()
    // sequential twin: deletes apply before upserts within each batch,
    // and the upsert's assignment routes through the POST-delete members
    val labels0 = graft.operators.Resolve.clusterLabelsFrom(idx)
    def assignTwin(pop: org.apache.spark.sql.DataFrame,
        batch: org.apache.spark.sql.DataFrame,
        mem: org.apache.spark.sql.DataFrame) =
      graft.operators.Resolve.probeMatches(pop, batch)
        .join(mem.select(col("c_custkey").as("matched_key"),
          col("entity_id").as("matched_entity")), Seq("matched_key"), "left")
        .select(col("probe_key").as("c_custkey"),
          coalesce(col("matched_entity"), col("probe_key")).as("entity_id"))
    val mem1 = labels0.unionByName(assignTwin(idx, b1, labels0))
    val mem1d = mem1.join(delKeys, Seq("c_custkey"), "left_anti")
    val mem3 = mem1d.unionByName(assignTwin(idx.unionByName(b1), b2, mem1d))
    val mem4 = mem3.where(col("c_custkey") =!= updKey)
    val mem5 = mem4.unionByName(
      assignTwin(idx.unionByName(b1).unionByName(b2), updatedRow, mem4))
    // the updated record's NEW attributes must serve; splice them in
    val attrs = cust.select("c_custkey", "c_name", "c_acctbal")
      .where(col("c_custkey") =!= updKey)
      .unionByName(updatedRow.select("c_custkey", "c_name", "c_acctbal"))
    val expected = mem5
      .join(attrs, Seq("c_custkey"))
      .groupBy("entity_id").agg(
        count(lit(1)).as("n_members"),
        min_by(col("c_name"), col("c_custkey")).as("surv_name"),
        util.r4(max(col("c_acctbal"))).as("surv_bal"),
        util.r4(sum(util.d2(col("c_acctbal")))).as("total_bal"))
      .select("entity_id", "n_members", "surv_name", "surv_bal", "total_bal")
      .orderBy("entity_id").collect()
    assert(graft.operators.Resolve.readGoldenTable(spark, gt).collect() === expected)
    assert(expected.nonEmpty)
    // the mixed batch really deleted something that was served before it,
    // and the update really moved a served value
    assert(delKeys.count() > 0L)
    assert(new java.io.File(s"$gt/appended/0").exists())
    assert(new java.io.File(s"$gt/appended/1").exists())
    assert(new java.io.File(s"$gt/appended/2").exists())
    // contract guard (r21): two upserts of one key in one batch is an
    // ambiguous shape — the batch must FAIL before any write (no new
    // marker), unlike the delete+upsert UPDATE the batch above proved
    val dupRow = rowsOf(cust.where(col("c_custkey") === updKey), "upsert")
    ms.addData(dupRow ++ dupRow)
    val served = graft.operators.Resolve.readGoldenTable(spark, gt).collect()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = Pipeline.streamGoldenApply(
        ms.toDF().toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment",
          "c_acctbal", "op"),
        ei, gt, ckpt, Trigger.AvailableNow())
      q.awaitTermination(120000)
    }
    assert(ex.getMessage.contains("conflicting changes")
      || Option(ex.getCause).exists(_.getMessage.contains("conflicting changes")))
    assert(!new java.io.File(s"$gt/appended/3").exists(),
      "the failed batch must not leave a marker")
    // ...and the served table is untouched by the refused batch
    assert(graft.operators.Resolve.readGoldenTable(spark, gt).collect() === served)
  }

  test("streamEntityResolve: live probes against the persisted entity index match the batch form") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val cust = util.t(spark, dir, "customer")
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
    val indexPath = Files.createTempDirectory("graft_entidx_s").toString
    graft.operators.Resolve.writeEntityIndex(
      cust.where(col("c_custkey") % 10 < 8), indexPath)
    val probeRows = cust.where(col("c_custkey") % 10 >= 8)
      .as[(Long, String, Int, String, Double)].collect().toSeq
    val (firstHalf, secondHalf) = probeRows.splitAt(probeRows.size / 2)
    val ms = MemoryStream[(Long, String, Int, String, Double)]
    val out = Files.createTempDirectory("graft_ser_out").toString
    val ckpt = Files.createTempDirectory("graft_ser_ckpt").toString
    ms.addData(firstHalf)
    ms.addData(secondHalf)
    val q = Pipeline.streamEntityResolve(
      ms.toDF().toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal"),
      indexPath, out, ckpt, Trigger.AvailableNow())
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(out)
      .select("probe_key", "matched_key", "best_score")
      .orderBy("probe_key")
      .collect().toSeq
    val batch = graft.operators.Resolve.entityResolveIncremental(spark, dir)
      .collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streamEntityScoreDist: per-batch score histograms sum to the all-probes histogram") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val cust = util.t(spark, dir, "customer")
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
    val indexPath = Files.createTempDirectory("graft_esd_idx").toString
    graft.operators.Resolve.writeEntityIndex(
      cust.where(col("c_custkey") % 10 < 8), indexPath)
    val probes = cust.where(col("c_custkey") % 10 >= 8)
    val probeRows = probes.as[(Long, String, Int, String, Double)].collect().toSeq
    val (firstHalf, secondHalf) = probeRows.splitAt(probeRows.size / 2)
    val ms = MemoryStream[(Long, String, Int, String, Double)]
    val out = Files.createTempDirectory("graft_esd_out").toString
    val ckpt = Files.createTempDirectory("graft_esd_ckpt").toString
    ms.addData(firstHalf)
    ms.addData(secondHalf)
    val q = Pipeline.streamEntityScoreDist(
      ms.toDF().toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal"),
      indexPath, out, ckpt, Trigger.AvailableNow())
    q.awaitTermination(120000)
    // candidates partition by probe, so summing the per-batch histograms
    // must reproduce the one-shot histogram over all probes exactly
    val summed = spark.read.parquet(out)
      .groupBy("score", "is_match")
      .agg(sum(col("n_pairs")).as("n_pairs"),
        sum(col("n_same_seg")).as("n_same_seg"),
        sum(col("n_bal_close")).as("n_bal_close"),
        sum(col("n_exact_name")).as("n_exact_name"))
      .select("score", "n_pairs", "n_same_seg", "n_bal_close", "n_exact_name", "is_match")
      .orderBy("score").collect().toSeq
    val batch = graft.operators.Resolve.probeScoreDist(spark, probes, indexPath)
      .select("score", "n_pairs", "n_same_seg", "n_bal_close", "n_exact_name", "is_match")
      .orderBy("score").collect().toSeq
    assert(summed === batch,
      "summed per-batch score histograms diverged from the all-probes histogram")
    assert(batch.nonEmpty, "degenerate fixture: no scored candidates")
    // the drift signal is real: both match and non-match mass present
    assert(batch.map(_.getLong(5)).toSet === Set(0L, 1L),
      "fixture lacks scores on both sides of the threshold")
  }

  test("streamDedupIncremental: per-batch index probes reproduce the batch incremental dedup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val indexPath = graft.operators.Dedup.ensureGramIndex(spark, dir)
    // the declared batch split, streamed in two micro-batches
    val batchDocs = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") % 10 === 7)
      .select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val (firstHalf, secondHalf) = batchDocs.splitAt(batchDocs.size / 2)
    val ms = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("graft_sdi_out").toString
    val ckpt = Files.createTempDirectory("graft_sdi_ckpt").toString
    // add BEFORE start: AvailableNow snapshots available offsets at query
    // start, so data added after start() races the snapshot — under load
    // the stream can terminate having seen nothing (observed: empty sink
    // → UNABLE_TO_INFER_SCHEMA on the read-back)
    ms.addData(firstHalf)
    ms.addData(secondHalf)
    val q = Pipeline.streamDedupIncremental(
      ms.toDF().toDF("doc_id", "text"), indexPath, out, ckpt,
      Trigger.AvailableNow())
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(out)
      .select("new_id", "dup_of", "jaccard")
      .orderBy("new_id", "dup_of")
      .collect().toSeq
    val batch = graft.operators.Dedup.dedupIncremental(spark, dir)
      .collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty, "expected cross-split near-dup pairs at sf0.01")
  }

  test("streamContainmentDedup: per-batch containment probes reproduce the batch incremental form") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val indexPath = graft.operators.Dedup.ensureGramIndex(spark, dir)
    val batchDocs = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") % 10 === 7)
      .select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val (firstHalf, secondHalf) = batchDocs.splitAt(batchDocs.size / 2)
    val ms = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("graft_scd_out").toString
    val ckpt = Files.createTempDirectory("graft_scd_ckpt").toString
    // add BEFORE start — the AvailableNow snapshot race (see above)
    ms.addData(firstHalf)
    ms.addData(secondHalf)
    val q = Pipeline.streamContainmentDedup(
      ms.toDF().toDF("doc_id", "text"), indexPath, out, ckpt,
      Trigger.AvailableNow())
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(out)
      .select("new_id", "dup_of", "containment", "contained")
      .orderBy("new_id", "dup_of")
      .collect().toSeq
    val batch = graft.operators.Dedup.dedupContainmentIncremental(spark, dir)
      .collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty, "expected cross-split containment pairs at sf0.01")
  }

  test("streamDecontaminate: per-batch bloom probes reproduce the batch probe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val indexPath = Files.createTempDirectory("graft_bloom_stream_idx").toString
    graft.operators.Dedup.writeBloomIndex(spark, dir, indexPath)
    val evalDocs = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") % graft.operators.Dedup.DecontamEvalMod === 0)
      .select("doc_id", "text")
    val rows = evalDocs.as[(Long, String)].collect().toSeq
    val (firstHalf, secondHalf) = rows.splitAt(rows.size / 2)
    val ms = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("graft_sdc_out").toString
    val ckpt = Files.createTempDirectory("graft_sdc_ckpt").toString
    ms.addData(firstHalf)
    ms.addData(secondHalf)
    val q = Pipeline.streamDecontaminate(
      ms.toDF().toDF("doc_id", "text"), indexPath, out, ckpt,
      Trigger.AvailableNow())
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(out)
      .select("doc_id", "n_grams", "n_hit", "contamination")
      .orderBy("doc_id").collect().toSeq
    val batch = graft.operators.Dedup.probeBloomIndex(spark, evalDocs, indexPath)
      .orderBy("doc_id").collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty, "expected eval docs at sf0.01")
  }

  test("streamIngestDedup: batch N+1 near-dups against batch N via the absorbed index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // FRESH index (not the memoized ensureGramIndex one — this test
    // mutates the index by design)
    val indexPath = Files.createTempDirectory("graft_ingest_idx").toString
    graft.operators.Dedup.writeGramIndex(spark, dir, indexPath)

    val srcText = util.t(spark, dir, "documents")
      .where(col("doc_id") % 10 =!= 7).orderBy("doc_id")
      .select("text").limit(1).collect().head.getString(0)
    val novel = "zxq unique ingest document about stream admission " +
      "loops and band maintenance appends never seen in the corpus"
    val ms = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("graft_ingest_out").toString
    val ckpt = Files.createTempDirectory("graft_ingest_ckpt").toString
    // batch 1: a corpus near-dup + a NOVEL doc; batch 2: a clone of the
    // novel doc — only findable if batch 1 was absorbed into the index
    ms.addData(Seq((800001L, srcText), (800002L, novel)))
    val q1 = Pipeline.streamIngestDedup(
      ms.toDF().toDF("doc_id", "text"), indexPath, out, ckpt,
      Trigger.AvailableNow())
    q1.awaitTermination(120000)
    ms.addData(Seq((800003L, novel)))
    val q2 = Pipeline.streamIngestDedup(
      ms.toDF().toDF("doc_id", "text"), indexPath, out, ckpt,
      Trigger.AvailableNow())
    q2.awaitTermination(120000)

    val verdicts = spark.read.parquet(out)
      .select("batch_id", "new_id", "dup_of")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(verdicts.exists(_._1 == 800001L),
      s"batch-1 corpus near-dup not flagged: $verdicts")
    assert(verdicts.contains((800003L, 800002L)),
      s"batch-2 clone of the batch-1 novel doc not flagged — index absorption failed: $verdicts")
    // and the novel doc itself matched nothing when IT arrived (probe
    // precedes append: a batch never matches itself)
    assert(!verdicts.exists(_._1 == 800002L),
      s"novel doc should have no dup_of in its own batch: $verdicts")
    // replay guard: both processed batches left their append markers
    assert(new java.io.File(s"$indexPath/appended").list().nonEmpty)
  }

  test("streamIngestUrlFrontier: batch N+1's repeat urls are silent, novel ones emit with first carrier") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val indexPath = Files.createTempDirectory("graft_fr_idx").toString
    graft.operators.CorpusOps.writeUrlFrontier(spark, dir, indexPath)

    val ms = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("graft_fr_out").toString
    val ckpt = Files.createTempDirectory("graft_fr_ckpt").toString
    // batch 1: a url the CORPUS frontier already holds (doc 14 → host
    // www.example.com, scheme/case/query varied) + a novel one; batch 2:
    // the batch-1 novel url again + a second novel one
    ms.addData(Seq(
      (900001L, "seen HTTP://www.Example.com/p/14?utm=z end"),
      (900002L, "fresh https://crawl.example.net/x one")))
    val q1 = Pipeline.streamIngestUrlFrontier(
      ms.toDF().toDF("doc_id", "text"), indexPath, out, ckpt,
      Trigger.AvailableNow())
    q1.awaitTermination(120000)
    ms.addData(Seq(
      (900003L, "again https://crawl.example.net/x two https://crawl.example.net/y")))
    val q2 = Pipeline.streamIngestUrlFrontier(
      ms.toDF().toDF("doc_id", "text"), indexPath, out, ckpt,
      Trigger.AvailableNow())
    q2.awaitTermination(120000)

    val rows = spark.read.parquet(out)
      .select(col("batch_id").cast("long"), col("canon_url"), col("first_doc"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rows.contains((0L, "crawl.example.net/x", 900002L)),
      s"batch-1 novel url missing: $rows")
    assert(!rows.exists(_._2 == "www.example.com/p/14"),
      s"corpus-seen url must be silent: $rows")
    assert(rows.contains((1L, "crawl.example.net/y", 900003L)),
      s"batch-2 novel url missing: $rows")
    assert(!rows.exists(r => r._1 == 1L && r._2 == "crawl.example.net/x"),
      s"batch-1 url re-emitted in batch 2 — frontier absorption failed: $rows")
  }

  test("streamIngestSimhashDedup: cross-batch absorption through the band family") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val indexPath = Files.createTempDirectory("graft_ingest_sh_idx").toString
    graft.operators.Dedup.writeSimhashIndex(spark, dir, indexPath)

    val novel = "wvx singular broadcast document regarding chunk bucket " +
      "admission pipelines and signature families absent from the corpus"
    val ms = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("graft_ingest_sh_out").toString
    val ckpt = Files.createTempDirectory("graft_ingest_sh_ckpt").toString
    ms.addData(Seq((810001L, novel)))
    val q1 = Pipeline.streamIngestSimhashDedup(
      ms.toDF().toDF("doc_id", "text"), indexPath, out, ckpt,
      Trigger.AvailableNow())
    q1.awaitTermination(120000)
    ms.addData(Seq((810002L, novel)))
    val q2 = Pipeline.streamIngestSimhashDedup(
      ms.toDF().toDF("doc_id", "text"), indexPath, out, ckpt,
      Trigger.AvailableNow())
    q2.awaitTermination(120000)

    val verdicts = spark.read.parquet(out)
      .select("new_id", "dup_of", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // identical text → identical signature → Hamming 0 against the
    // absorbed batch-1 doc
    assert(verdicts.contains((810002L, 810001L, 0)),
      s"batch-2 clone not flagged against the absorbed batch-1 doc: $verdicts")
    assert(!verdicts.exists(v => v._1 == 810001L && v._2 == 810001L),
      "self-match leaked")
  }

  test("streamIngestSemanticDedup: cross-batch absorption through the semantic index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val indexPath = Files.createTempDirectory("graft_ingest_sem_idx").toString
    graft.operators.Similarity.writeSemanticIndex(spark, dir, indexPath)

    // a novel vector far from the corpus split, then its near-clone: the
    // clone is a dup only if batch 1 was absorbed into the cid lists
    val rnd = new scala.util.Random(41)
    val novel = Array.fill(64)(rnd.nextGaussian().toFloat)
    val clone = novel.clone(); clone(0) += 0.001f
    val ms = MemoryStream[(Long, Seq[Float])]
    val out = Files.createTempDirectory("graft_ingest_sem_out").toString
    val ckpt = Files.createTempDirectory("graft_ingest_sem_ckpt").toString
    ms.addData(Seq((820001L, novel.toSeq)))
    val q1 = Pipeline.streamIngestSemanticDedup(
      ms.toDF().toDF("vec_id", "embedding"), indexPath, out, ckpt,
      Trigger.AvailableNow())
    q1.awaitTermination(120000)
    ms.addData(Seq((820002L, clone.toSeq)))
    val q2 = Pipeline.streamIngestSemanticDedup(
      ms.toDF().toDF("vec_id", "embedding"), indexPath, out, ckpt,
      Trigger.AvailableNow())
    q2.awaitTermination(120000)

    val rows = spark.read.parquet(out)
      .select("vec_id", "dup_of", "is_dup")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getInt(2)))).toMap
    assert(rows.get(820002L).exists { case (d, v) => d == 820001L && v == 1 },
      s"batch-2 near-clone not flagged against the absorbed batch-1 vector: $rows")
  }

  test("streamMvMaintain: per-batch partial states read back as the batch MV, exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val rows = util.t(spark, dir, "orders")
      .select("o_orderpriority", "o_orderdate", "o_totalprice")
      .as[(String, Timestamp, Double)].collect().toSeq
    // split mid-stream so (priority, year) cells SPAN batches — the
    // reader must merge partial states across batch partitions
    val (firstHalf, secondHalf) = rows.splitAt(rows.size / 2)
    val ms = MemoryStream[(String, Timestamp, Double)]
    val mvDir = Files.createTempDirectory("graft_mv_out").toString
    val ckpt = Files.createTempDirectory("graft_mv_ckpt").toString
    // two separate AvailableNow runs over the same checkpoint: the
    // second half lands as its own batch_id, like a later trigger would
    ms.addData(firstHalf)
    val q1 = Pipeline.streamMvMaintain(
      ms.toDF().toDF("o_orderpriority", "o_orderdate", "o_totalprice"),
      mvDir, ckpt, Trigger.AvailableNow())
    q1.awaitTermination(120000)
    ms.addData(secondHalf)
    val q2 = Pipeline.streamMvMaintain(
      ms.toDF().toDF("o_orderpriority", "o_orderdate", "o_totalprice"),
      mvDir, ckpt, Trigger.AvailableNow())
    q2.awaitTermination(120000)

    // the log carries >1 batch partition for at least one group
    val perGroup = spark.read.parquet(mvDir)
      .groupBy("o_orderpriority", "o_year").count()
    assert(perGroup.where(col("count") > 1).count() > 0L,
      "expected at least one group's states split across batches")
    val streamed = operators.Relational.readMv(spark, mvDir).collect().toSeq
    val batch = operators.Relational.mvIncremental(spark, dir).collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streamMvRetract: signed batches read back as the post-delete view; replay never double-retracts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val rows = util.t(spark, dir, "orders")
      .select("o_orderpriority", "o_orderdate", "o_orderkey", "o_totalprice")
      .as[(String, Timestamp, Long, Double)].collect().toSeq
    val cutMs = java.sql.Timestamp.valueOf("2000-01-01 00:00:00").getTime
    val base = rows.filter(_._2.getTime < cutMs)
    val inserts = rows.filter(_._2.getTime >= cutMs)
    val deletes = base.filter(_._3 % 17 == 0)
    def signedRows(rs: Seq[(String, Timestamp, Long, Double)], sign: Int) =
      rs.map(r => (r._1, r._2, r._4, sign))
    val ms = MemoryStream[(String, Timestamp, Double, Int)]
    val mvDir = Files.createTempDirectory("graft_mvr_out").toString
    val ckpt = Files.createTempDirectory("graft_mvr_ckpt").toString
    def run(data: Seq[(String, Timestamp, Double, Int)]): Unit = {
      ms.addData(data)
      val q = Pipeline.streamMvRetract(
        ms.toDF().toDF("o_orderpriority", "o_orderdate", "o_totalprice", "sign"),
        mvDir, ckpt, Trigger.AvailableNow())
      q.awaitTermination(120000)
    }
    run(signedRows(base, 1))      // batch 0: the stored view
    run(signedRows(inserts, 1))   // batch 1: late-arriving inserts
    run(signedRows(deletes, -1))  // batch 2: the retraction
    def served = operators.Relational.readMvSigned(spark, mvDir).collect().toSeq
    val expected = {
      val o = util.t(spark, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderdate"), col("o_orderkey"),
          col("o_totalprice"))
      val cut = lit("2000-01-01").cast("date")
      o.where(col("o_orderdate") < cut && col("o_orderkey") % 17 =!= 0)
        .unionByName(o.where(col("o_orderdate") >= cut))
        .select(col("o_orderpriority"),
          year(col("o_orderdate")).cast("long").as("o_year"), col("o_totalprice"))
        .groupBy("o_orderpriority", "o_year")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("total_d"))
        .select(col("o_orderpriority"), col("o_year"), col("n"),
          util.r4(col("total_d")).as("total"),
          util.r4f(col("total_d").cast("double") / col("n")).as("avg_price"))
        .orderBy("o_orderpriority", "o_year").collect().toSeq
    }
    val first = served
    assert(first === expected,
      "signed MV log read diverged from the post-delete batch recompute")
    assert(first.nonEmpty)
    // REPLAY the retraction batch (same batch_id): the dynamic partition
    // overwrite must rewrite batch 2's own rows, never subtract again
    val deleteFrame = spark.createDataFrame(signedRows(deletes, -1))
      .toDF("o_orderpriority", "o_orderdate", "o_totalprice", "sign")
    Pipeline.writeMvSignedBatch(deleteFrame, 2L, mvDir)
    assert(served === expected, "replayed retraction double-retracted")
  }

  test("streamSketchDailies: per-batch state rows roll up to the batch sketch table's answers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val evRows = util.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[(Long, java.sql.Timestamp, Long, String, Double)].collect().toSeq
    val (firstHalf, secondHalf) = evRows.splitAt(evRows.size / 2)
    val ms = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val out = Files.createTempDirectory("graft_skd_out").toString
    val ckpt = Files.createTempDirectory("graft_skd_ckpt").toString
    ms.addData(firstHalf)
    ms.addData(secondHalf)
    val q = Pipeline.streamSketchDailies(
      ms.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      out, ckpt, Trigger.AvailableNow())
    q.awaitTermination(120000)

    // a (type, day) cell split across the two micro-batches yields TWO
    // state rows — the reader must merge across batches as it merges
    // across days, and the result must equal the one-pass batch table
    val streamed = graft.operators.SketchTable
      .rollupStates(spark.read.parquet(out)).collect().toSeq
    val batchTable = Files.createTempDirectory("graft_skd_batch").toString
    graft.operators.SketchTable.writeSketchDailies(spark, dir, batchTable)
    val batch = graft.operators.SketchTable
      .rollupStates(spark.read.parquet(batchTable)).collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty, "expected per-type rollup rows")
  }

  test("streamSplitRoute: live docs land under the batch query's split label, partitioned and replayable") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = TestSpark.sfDir
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val (firstHalf, secondHalf) = docs.splitAt(docs.size / 2)
    val ms = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("graft_route_out").toString
    val ckpt = Files.createTempDirectory("graft_route_ckpt").toString
    ms.addData(firstHalf) // BEFORE start — AvailableNow snapshot race
    ms.addData(secondHalf)
    val q = Pipeline.streamSplitRoute(
      ms.toDF().toDF("doc_id", "text"), out, ckpt, Trigger.AvailableNow())
    q.awaitTermination(120000)

    val routed = spark.read.parquet(out)
    assert(routed.count() === docs.size.toLong, "every doc routed exactly once")
    // stream labels ≡ the declared batch assignment, doc by doc
    val streamed = routed.select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val batch = operators.CorpusOps.splitAssign(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(streamed === batch, "stream split labels must match q_split_assign")
    // splits are prunable directory subtrees
    val splitDirs = new java.io.File(out).listFiles()
      .map(_.getName).filter(_.startsWith("split=")).sorted
    assert(splitDirs.toSeq === Seq("split=test", "split=train", "split=val"))
  }

  test("streamSemanticDedup: per-batch index probes reproduce the batch incremental semantic dedup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val indexPath = graft.operators.Similarity.ensureSemanticIndex(spark, dir)
    val batchVecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .where(col("vec_id") % graft.operators.Similarity.SemIncMod
        === graft.operators.Similarity.SemIncRem)
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    val (firstHalf, secondHalf) = batchVecs.splitAt(batchVecs.size / 2)
    val ms = MemoryStream[(Long, Seq[Float])]
    ms.addData(firstHalf)
    ms.addData(secondHalf)
    val out = Files.createTempDirectory("graft_ssd_out").toString
    val ckpt = Files.createTempDirectory("graft_ssd_ckpt").toString
    val q = Pipeline.streamSemanticDedup(
      ms.toDF().toDF("vec_id", "embedding"), indexPath, out, ckpt,
      Trigger.AvailableNow())
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(out)
      .select("vec_id", "dup_of", "cos", "is_dup")
      .orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val batch = graft.operators.Similarity.dedupSemanticIncremental(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty, "expected verdicts for the batch split at sf0.01")
  }

  test("streamSubstringDedup: per-batch hash probes reproduce the batch incremental substring dedup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val indexPath = graft.operators.Dedup.ensureSubstrIndex(spark, dir)
    val batchDocs = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") % graft.operators.Dedup.IncrementalMod
        === graft.operators.Dedup.IncrementalRem)
      .select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val (firstHalf, secondHalf) = batchDocs.splitAt(batchDocs.size / 2)
    val ms = MemoryStream[(Long, String)]
    ms.addData(firstHalf)
    ms.addData(secondHalf)
    val out = Files.createTempDirectory("graft_ssub_out").toString
    val ckpt = Files.createTempDirectory("graft_ssub_ckpt").toString
    val q = Pipeline.streamSubstringDedup(
      ms.toDF().toDF("doc_id", "text"), indexPath, out, ckpt,
      Trigger.AvailableNow())
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(out)
      .select("doc_id", "span_start", "span_end")
      .orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = graft.operators.Dedup.dedupSubstringIncremental(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed === batch,
      "streamed substring spans diverged from the batch incremental query")
    assert(streamed.nonEmpty, "expected duplicated spans for the batch split at sf0.01")
  }

  test("streamIngestSubstringDedup: cross-batch absorption through the hash set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val indexPath = Files.createTempDirectory("graft_ingest_sub_idx").toString
    graft.operators.Dedup.writeSubstrIndex(spark, dir, indexPath)

    val run = "INGEST-RUN-ZYXWVUTSRQPONMLKJIHGFEDCBA-77"
    val ms = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("graft_ingest_sub_out").toString
    val ckpt = Files.createTempDirectory("graft_ingest_sub_ckpt").toString
    ms.addData(Seq((830001L, "first-carrier####" + run)))
    val q1 = Pipeline.streamIngestSubstringDedup(
      ms.toDF().toDF("doc_id", "text"), indexPath, out, ckpt,
      Trigger.AvailableNow())
    q1.awaitTermination(120000)
    ms.addData(Seq((830002L, "second-carrier@@@@" + run + "~~~~tail")))
    val q2 = Pipeline.streamIngestSubstringDedup(
      ms.toDF().toDF("doc_id", "text"), indexPath, out, ckpt,
      Trigger.AvailableNow())
    q2.awaitTermination(120000)

    val verdicts = spark.read.parquet(out)
      .select("doc_id", "span_start", "span_end")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val zs = "second-carrier@@@@".length + 1L
    assert(verdicts.contains((830002L, zs, zs + run.length)),
      s"batch-2 clone of the batch-1 run not flagged — absorption failed: $verdicts")
    assert(!verdicts.exists(_._1 == 830001L),
      s"batch-1 novel doc should match nothing in its own batch: $verdicts")
  }

  test("streamIngestWinnowDedup: cross-batch absorption through the selected-fingerprint set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val indexPath = Files.createTempDirectory("graft_ingest_win_idx").toString
    graft.operators.Dedup.writeWinnowIndex(spark, dir, indexPath)

    // 41 chars >= L + w - 1, so the winnow guarantee must carry it
    val run = "WINNOW-INGEST-RUN-0123456789-QRSTUVWXYZ-3"
    val ms = MemoryStream[(Long, String)]
    val out = Files.createTempDirectory("graft_ingest_win_out").toString
    val ckpt = Files.createTempDirectory("graft_ingest_win_ckpt").toString
    ms.addData(Seq((840001L, "carrier-one####" + run)))
    val q1 = Pipeline.streamIngestWinnowDedup(
      ms.toDF().toDF("doc_id", "text"), indexPath, out, ckpt,
      Trigger.AvailableNow())
    q1.awaitTermination(120000)
    ms.addData(Seq((840002L, "carrier-two@@@@" + run + "~~~~end")))
    val q2 = Pipeline.streamIngestWinnowDedup(
      ms.toDF().toDF("doc_id", "text"), indexPath, out, ckpt,
      Trigger.AvailableNow())
    q2.awaitTermination(120000)

    val verdicts = spark.read.parquet(out)
      .select("doc_id", "span_start", "span_end")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(verdicts.exists(_._1 == 840002L),
      s"batch-2 clone of the batch-1 run not flagged via selected fingerprints: $verdicts")
    assert(!verdicts.exists(_._1 == 840001L),
      s"batch-1 novel doc should match nothing in its own batch: $verdicts")
  }

  test("streamSimhashDedup: per-batch band probes reproduce the batch incremental SimHash dedup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val indexPath = graft.operators.Dedup.ensureSimhashIndex(spark, dir)
    val batchDocs = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") % graft.operators.Dedup.IncrementalMod
        === graft.operators.Dedup.IncrementalRem)
      .select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val (firstHalf, secondHalf) = batchDocs.splitAt(batchDocs.size / 2)
    val ms = MemoryStream[(Long, String)]
    ms.addData(firstHalf)
    ms.addData(secondHalf)
    val out = Files.createTempDirectory("graft_ssh_out").toString
    val ckpt = Files.createTempDirectory("graft_ssh_ckpt").toString
    val q = Pipeline.streamSimhashDedup(
      ms.toDF().toDF("doc_id", "text"), indexPath, out, ckpt,
      Trigger.AvailableNow())
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(out)
      .select("new_id", "dup_of", "hamming")
      .orderBy("new_id", "dup_of")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val batch = graft.operators.Dedup.dedupSimhashIncremental(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(streamed === batch,
      "streamed SimHash verdicts diverged from the batch incremental query")
    assert(streamed.nonEmpty, "expected near-dup verdicts for the batch split at sf0.01")
  }

  test("streamMinhashDedup: per-batch band probes reproduce the batch incremental MinHash dedup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val indexPath = graft.operators.Dedup.ensureMinhashIndex(spark, dir)
    val batchDocs = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") % graft.operators.Dedup.IncrementalMod
        === graft.operators.Dedup.IncrementalRem)
      .select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val (firstHalf, secondHalf) = batchDocs.splitAt(batchDocs.size / 2)
    val ms = MemoryStream[(Long, String)]
    ms.addData(firstHalf)
    ms.addData(secondHalf)
    val out = Files.createTempDirectory("graft_smh_out").toString
    val ckpt = Files.createTempDirectory("graft_smh_ckpt").toString
    val q = Pipeline.streamMinhashDedup(
      ms.toDF().toDF("doc_id", "text"), indexPath, out, ckpt,
      Trigger.AvailableNow())
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(out)
      .select("new_id", "dup_of", "est_jaccard")
      .orderBy("new_id", "dup_of")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val batch = graft.operators.Dedup.dedupMinhashIncremental(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(streamed === batch,
      "streamed MinHash verdicts diverged from the batch incremental query")
    assert(streamed.nonEmpty, "expected near-dup verdicts for the batch split at sf0.01")
  }

  test("streamAnnProbe: micro-batched probes reproduce the batch IVF+PQ top-k") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val indexPath = java.nio.file.Files.createTempDirectory("graft_sap_idx").toString
    graft.operators.Similarity.writeIvfPqIndex(spark, dir, indexPath)
    val probeRows = spark.read.parquet(s"$dir/embeddings.parquet")
      .orderBy("vec_id").limit(4)
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    val (firstHalf, secondHalf) = probeRows.splitAt(2)
    val ms = MemoryStream[(Long, Seq[Float])]
    ms.addData(firstHalf)
    ms.addData(secondHalf)
    val out = java.nio.file.Files.createTempDirectory("graft_sap_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sap_ckpt").toString
    val q = Pipeline.streamAnnProbe(
      ms.toDF().toDF("pid", "pe"), indexPath, out, ckpt, k = 5,
      Trigger.AvailableNow())
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(out)
      .select("pid", "rank", "vec_id", "cos")
      .orderBy("pid", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val batchProbes = spark.createDataFrame(probeRows).toDF("pid", "pe")
    val batch = graft.operators.Similarity
      .ivfPqQueryIndexBatch(spark, indexPath, batchProbes, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(streamed === batch,
      "streamed ANN top-k diverged from the batch IVF+PQ query on the same probes")
    assert(streamed.nonEmpty, "expected top-k hits for the probe batch")
  }

  test("streamAnnProbeIvf: micro-batched probes reproduce the batch plain-IVF top-k") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val indexPath = java.nio.file.Files.createTempDirectory("graft_sai_idx").toString
    graft.operators.Similarity.writeIvfIndex(spark, dir, indexPath)
    val probeRows = spark.read.parquet(s"$dir/embeddings.parquet")
      .orderBy("vec_id").limit(4)
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    val (firstHalf, secondHalf) = probeRows.splitAt(2)
    val ms = MemoryStream[(Long, Seq[Float])]
    ms.addData(firstHalf)
    ms.addData(secondHalf)
    val out = java.nio.file.Files.createTempDirectory("graft_sai_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sai_ckpt").toString
    val q = Pipeline.streamAnnProbeIvf(
      ms.toDF().toDF("pid", "pe"), indexPath, out, ckpt, k = 5,
      Trigger.AvailableNow())
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(out)
      .select("pid", "rank", "vec_id", "cos")
      .orderBy("pid", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val batch = graft.operators.Similarity
      .annQueryIndexBatch(spark, indexPath, spark.createDataFrame(probeRows).toDF("pid", "pe"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(streamed === batch,
      "streamed plain-IVF top-k diverged from the batch query on the same probes")
    assert(streamed.nonEmpty, "expected top-k hits for the probe batch")
  }

  test("idempotent JDBC batch write: a replayed batch replaces its own rows (exactly-once)") {
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    import spark.implicits._
    val db = java.nio.file.Files.createTempDirectory("graft_jdbc_idem").toString + "/idemdb"
    val url = s"jdbc:derby:$db;create=true"
    val table = "idem_logs"
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    // batch 0 lands, then REPLAYS (partial-flush recovery): row count must
    // not grow — the delete-then-append replaced the batch's own output
    Pipeline.writeJdbcBatchIdempotent(b0, 0L, url, table)
    Pipeline.writeJdbcBatchIdempotent(b0, 0L, url, table)
    val props = new java.util.Properties
    assert(spark.read.jdbc(url, table, props).count() === 2L,
      "replayed batch duplicated rows — sink is not idempotent")
    // a NEW batch appends alongside, untouched by later replays of batch 0
    Pipeline.writeJdbcBatchIdempotent(Seq((3L, "c")).toDF("id", "v"), 1L, url, table)
    Pipeline.writeJdbcBatchIdempotent(b0, 0L, url, table)
    val rows = spark.read.jdbc(url, table, props)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(rows === Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 1L)))
  }

  test("idempotent JDBC sink tolerates each engine's missing-table SQLState, nothing else") {
    // the Derby path (42X05) is exercised live by the first write above;
    // Postgres (42P01) and the SQL-standard code (42S02) can't run in the
    // sandbox, so drive the production predicate with synthesized errors
    for (state <- Seq("42X05", "42S02", "42P01"))
      Pipeline.tolerateMissingTable {
        throw new java.sql.SQLException(s"table missing ($state)", state)
      } // must not throw: first-batch probe proceeds to the creating append
    // anything else (lock timeout, serialization failure) must propagate —
    // swallowing it would demote exactly-once to at-least-once silently
    for (state <- Seq("40001", "40XL1", null)) {
      val thrown = intercept[java.sql.SQLException] {
        Pipeline.tolerateMissingTable {
          throw new java.sql.SQLException(s"real failure ($state)", state)
        }
      }
      assert(thrown.getSQLState === state)
    }
  }

  test("streamQualityGate ≡ q_quality_filter: batch-derived p25 cut applied to the stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val (firstHalf, secondHalf) = docs.splitAt(docs.size / 2)
    val ms = MemoryStream[(Long, String)]
    ms.addData(firstHalf)
    ms.addData(secondHalf)
    val gated = Pipeline.streamQualityGate(ms.toDF().toDF("doc_id", "text"), dir)
    val q = gated.writeStream.format("memory").queryName("qgate")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("qgate").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val batch = graft.operators.TextAnalysis.qualityFilter(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(streamed === batch,
      "stream verdicts diverged from the batch two-phase filter")
    assert(streamed.nonEmpty && streamed.size < docs.size,
      "gate should keep a strict, non-empty subset")
  }

  test("streamTemperatureGate ≡ q_sample_temperature: batch-derived rates cut the stream doc-by-doc") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // skewed synthetic corpus: on the uniform sf fixtures every source sits
    // at tot/n = 20 sources < the 1/TempScale² = 16 saturation point, so
    // thr = 10000 (keep-all) and the cut path never runs. 360/40 skew gives
    // thrA ≈ 2635, thrB ≈ 7905 — both sources genuinely sampled.
    val dir = Files.createTempDirectory("graft_tgate").toString
    ((1L to 360L).map(i => (i, s"tok$i word", "en", "srcA")) ++
      (361L to 400L).map(i => (i, s"tok$i word", "en", "srcB")))
      .map { case (id, tx, lang, src) => (id, tx, lang, src, tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source").as[(Long, String)].collect().toSeq
    val (firstHalf, secondHalf) = docs.splitAt(docs.size / 2)
    val ms = MemoryStream[(Long, String)]
    ms.addData(firstHalf)
    ms.addData(secondHalf)
    val gated = Pipeline.streamTemperatureGate(ms.toDF().toDF("doc_id", "source"), dir)
    val q = gated.writeStream.format("memory").queryName("tgate")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("tgate")
      .collect().map(_.getLong(0)).toSet
    // the batch twin of the kept SET: replay rates + coin on the same table
    val rates = graft.operators.CorpusOps.temperatureRates(spark, dir)
      .select("source", "thr")
    val batchKept = spark.read.parquet(s"$dir/documents.parquet")
      .join(rates, "source")
      .where(graft.operators.CorpusOps.coin(col("doc_id")) % 10000 < col("thr"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed === batchKept, "stream keep-set diverged from the batch rule")
    assert(streamed.nonEmpty && streamed.size < docs.size,
      "gate should keep a strict, non-empty subset")
    // and the per-source survivor counts match the declared query's n_kept
    val bySource = spark.table("tgate").groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val declared = graft.operators.CorpusOps.sampleTemperature(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(4)).filter(_._2 > 0).toMap
    assert(bySource === declared, "per-source survivor counts diverged")
    // flattening direction: the head source is cut harder than the tail
    assert(bySource("srcA") < 360L, "head source should be sampled down")
    assert(bySource("srcA").toDouble / 360 < bySource.getOrElse("srcB", 0L).toDouble / 40,
      "tail source should keep a larger fraction")
  }

  test("gate stats frames: memoized across constructions, released by clearGateStatsCache") {
    import org.apache.spark.storage.StorageLevel
    val dir = "/root/testdata/sf0.001"
    // the gates are stream-static joins, but the builders accept any frame
    // — a batch probe input lets the gated output materialize with count()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    Pipeline.clearGateStatsCache()
    val base = Pipeline.gateStatsCacheSize
    // cacheManager matches by canonicalized plan, so a FRESH build of the
    // same stats frame reports the cached entry's storage level
    def ratesProbe = graft.operators.CorpusOps.temperatureRates(spark, dir)
    def thrProbe = graft.operators.TextAnalysis.qualityThresholdFrame(spark, dir)
    assert(ratesProbe.storageLevel == StorageLevel.NONE)

    (1 to 3).foreach { _ =>
      Pipeline.streamTemperatureGate(docs.select("doc_id", "source"), dir).count()
      Pipeline.streamQualityGate(docs.select("doc_id", "text"), dir).count()
    }
    assert(Pipeline.gateStatsCacheSize === base + 2,
      "repeated construction must reuse one entry per (dir, kind), not stack")
    assert(ratesProbe.storageLevel == StorageLevel.MEMORY_ONLY)
    assert(thrProbe.storageLevel == StorageLevel.MEMORY_ONLY)
    // liveRates path never touches the cache
    Pipeline.streamTemperatureGate(docs.select("doc_id", "source"), dir,
      liveRates = true).count()
    assert(Pipeline.gateStatsCacheSize === base + 2)

    Pipeline.clearGateStatsCache()
    assert(Pipeline.gateStatsCacheSize === 0)
    assert(ratesProbe.storageLevel == StorageLevel.NONE,
      "clearGateStatsCache must unpersist, not just forget")
    assert(thrProbe.storageLevel == StorageLevel.NONE)
  }

  test("streamCurateGate: the composed live-curation chain ≡ its batch backfill, exactly-once sink") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = TestSpark.sfDir
    val indexPath = graft.operators.Dedup.ensureGramIndex(spark, dir)
    // same arriving mix as CurateSpec: refused corpus copies + admissible
    // fresh docs, split across two micro-batches
    val copies = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") % 10 =!= 7).limit(5)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"),
        col("lang"), col("source"))
      .as[(Long, String, String, String)].collect().toSeq
    val fresh = (0 until 10).map { i =>
      (200000L + i,
        (0 until 60).map(j => f"zq${i}%02dw${j}%02dab").mkString(" "),
        "en", s"src$i")
    }
    val ms = MemoryStream[(Long, String, String, String)]
    ms.addData(copies ++ fresh.take(5))
    ms.addData(fresh.drop(5))
    val out = Files.createTempDirectory("graft_curate_out").toString
    val ckpt = Files.createTempDirectory("graft_curate_ckpt").toString
    val q = Pipeline.streamCurateGate(
      ms.toDF().toDF("doc_id", "text", "lang", "source"),
      dir, indexPath, out, ckpt, Trigger.AvailableNow())
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(out)
      .select("doc_id", "lang", "source", "text", "n_tok", "quality")
      .collect().map(_.toSeq).toSet
    // batch backfill of the identical arriving frame through the SAME core
    val arriving = (copies ++ fresh).toDF("doc_id", "text", "lang", "source")
    val batch = graft.operators.Curate.curateBatch(spark, arriving, dir, indexPath)
      .collect().map(_.toSeq).toSet
    assert(streamed === batch, "live verdicts diverged from the batch backfill")
    assert(streamed.map(_.head.asInstanceOf[Long]).forall(_ >= 200000L),
      "a corpus near-dup copy passed the live gate")
    assert(streamed.size === 10, "every high-quality fresh doc should be admitted")
    // the sink is partitioned by batch_id (AvailableNow may coalesce the
    // two adds into one batch; the per-batch_id replay contract itself is
    // pinned by the streamDedupIncremental/streamSplitRoute specs)
    assert(spark.read.parquet(out).select("batch_id").distinct().count() >= 1L)
  }

  test("trigger batching: AvailableNow with maxFilesPerTrigger bounds batches (rate-limit analog)") {
    import spark.implicits._
    // file-source twin of the bounded-channel admission control: write the
    // fixture as 4 files, read back maxFilesPerTrigger=1 → ≥4 micro-batches
    val srcDir = Files.createTempDirectory("graft_src").toString
    val lines = model.rawLines(spark)
    lines.repartition(4).write.mode("overwrite").parquet(srcDir)

    val stream = spark.readStream
      .schema(lines.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val out = Files.createTempDirectory("graft_sink2").toString
    val ckpt = Files.createTempDirectory("graft_ckpt2").toString
    var batches = 0
    val q = Pipeline.parseToLog(stream).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        b.write.mode("append").parquet(out)
      }
      .start()
    q.awaitTermination(60000)
    assert(batches >= 4, s"expected ≥4 rate-limited micro-batches, got $batches")
    assert(spark.read.parquet(out).count() === model.syslogFixture.size.toLong)
  }

  test("flatMapGroupsWithState sessionization closes sessions by gap and by watermark timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = Pipeline.sessionize(ms.toDF()).writeStream
      .outputMode(OutputMode.Append())
      .format("memory").queryName("sess_out").start()
    try {
      // one session: 10:00 + 10:10, still open at batch end
      ms.addData(Ev(1, ts("2024-01-01 10:00:00"), 1), Ev(2, ts("2024-01-01 10:10:00"), 1))
      q.processAllAvailable()
      assert(spark.table("sess_out").isEmpty, "open session emitted early")
      // 12:00 is 110 min past the last event → closes session 1 in-stream
      ms.addData(Ev(3, ts("2024-01-01 12:00:00"), 1))
      q.processAllAvailable()
      val closed = spark.table("sess_out").as[Pipeline.SessionOut].collect()
      assert(closed.exists(s => s.user_id == 1
        && s.session_start == ts("2024-01-01 10:00:00")
        && s.session_end == ts("2024-01-01 10:10:00") && s.n_events == 2),
        s"gap-closed session missing: ${closed.toSeq}")
      // push the watermark a day ahead via another user; the 12:00 session
      // times out (event-time timeout), emitting without any new user-1 row
      ms.addData(Ev(4, ts("2024-01-02 10:00:00"), 2))
      q.processAllAvailable()
      ms.addData(Ev(5, ts("2024-01-02 12:00:00"), 2))
      q.processAllAvailable()
      ms.addData(Ev(6, ts("2024-01-02 13:00:00"), 2))
      q.processAllAvailable()
      val all = spark.table("sess_out").as[Pipeline.SessionOut].collect()
      assert(all.exists(s => s.user_id == 1
        && s.session_start == ts("2024-01-01 12:00:00") && s.n_events == 1),
        s"timeout-closed session missing: ${all.toSeq}")
    } finally q.stop()
  }

  test("stream-batch parity: streamAnomaly over real events equals q_event_anomaly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = SparkEntry.queries("q_event_anomaly")(spark, TestSpark.sfDir)
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSet

    case class EvT(event_type: String, timestamp: Timestamp)
    val evs = graft.util.events(spark, TestSpark.sfDir)
      .selectExpr("event_type", "ts AS timestamp")
      .as[(String, Timestamp)].collect().toSeq
    val ms = MemoryStream[(String, Timestamp)]
    // uncapped horizon: the batch query baselines over ALL history, so
    // parity needs every hour retained (production default is a week)
    val q = Pipeline.streamAnomaly(
        ms.toDF().toDF("event_type", "timestamp"), maxHours = Int.MaxValue)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("anomaly_parity").start()
    try {
      ms.addData(evs)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("anomaly_parity").as[Pipeline.AnomalyOut].collect()
      .map(a => (a.event_type, a.hour.getTime, a.n, a.z, a.is_spike)).toSet
    assert(streamed === batch,
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
  }

  test("stream-batch parity: sessionize over real events equals q_window_session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // batch truth: the gaps-and-islands operator at µs precision
    val batch = SparkEntry.queries("q_window_session")(spark, TestSpark.sfDir)
      .select(col("user_id"), col("sess_start_us"), col("sess_end_us"), col("n_events"))
      .as[(Long, Long, Long, Long)].collect().toSet

    // same rows through the streaming path (timestamps keep their µs)
    val evs = graft.util.events(spark, TestSpark.sfDir)
      .selectExpr("event_id", "ts AS timestamp", "user_id")
      .as[Ev].collect().toSeq
    val ms = MemoryStream[Ev]
    val q = Pipeline.sessionize(ms.toDF()).writeStream
      .outputMode(OutputMode.Append())
      .format("memory").queryName("sess_parity").start()
    try {
      ms.addData(evs)
      q.processAllAvailable()
      // sentinel events far past everything advance the watermark so the
      // event-time timeout flushes each user's still-open last session
      val maxMs = evs.map(_.timestamp.getTime).max
      ms.addData(Ev(-1L, new Timestamp(maxMs + 7L * 24 * 3600 * 1000), -1L))
      q.processAllAvailable()
      ms.addData(Ev(-2L, new Timestamp(maxMs + 14L * 24 * 3600 * 1000), -1L))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("sess_parity").as[Pipeline.SessionOut].collect()
      .filter(_.user_id >= 0) // drop the watermark sentinels
      .map(s => (s.user_id, Pipeline.tsToUs(s.session_start),
        Pipeline.tsToUs(s.session_end), s.n_events)).toSet
    assert(streamed === batch,
      s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
  }

  test("three-way session parity: built-in session_window ≡ flatMapGroupsWithState ≡ batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // batch truth over the real events table, µs precision
    val batch = SparkEntry.queries("q_window_session")(spark, TestSpark.sfDir)
      .select(col("user_id"), col("sess_start_us"), col("sess_end_us"), col("n_events"))
      .as[(Long, Long, Long, Long)].collect().toSet

    val evs = graft.util.events(spark, TestSpark.sfDir)
      .selectExpr("event_id", "ts AS timestamp", "user_id")
      .as[Ev].collect().toSeq
    val maxMs = evs.map(_.timestamp.getTime).max

    def runStream(make: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        name: String): Set[(Long, Long, Long, Long)] = {
      val ms = MemoryStream[Ev]
      val q = make(ms.toDF()).writeStream
        .outputMode(OutputMode.Append()).format("memory").queryName(name).start()
      try {
        ms.addData(evs)
        q.processAllAvailable()
        // sentinels push the watermark far past every session so append
        // mode finalizes the still-open ones
        ms.addData(Ev(-1L, new Timestamp(maxMs + 7L * 24 * 3600 * 1000), -1L))
        q.processAllAvailable()
        ms.addData(Ev(-2L, new Timestamp(maxMs + 14L * 24 * 3600 * 1000), -1L))
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name)
        .selectExpr("user_id", "unix_micros(session_start)", "unix_micros(session_end)", "n_events")
        .as[(Long, Long, Long, Long)].collect().filter(_._1 >= 0).toSet
    }

    val builtin = runStream(Pipeline.sessionizeBuiltin(_), "sess3_builtin")
    val custom = runStream(
      df => Pipeline.sessionize(df).toDF(
        "user_id", "session_start", "session_end", "n_events"), "sess3_custom")
    assert(builtin === batch,
      s"builtin-only: ${(builtin -- batch).take(3)}; batch-only: ${(batch -- builtin).take(3)}")
    assert(custom === batch,
      s"custom-only: ${(custom -- batch).take(3)}; batch-only: ${(batch -- custom).take(3)}")
  }

  test("sessionize runs on the RocksDB state store provider (100 TB keyed-state path)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    Pipeline.useRocksDbStateStore(spark)
    try {
      val ms = MemoryStream[Ev]
      val q = Pipeline.sessionize(ms.toDF()).writeStream
        .outputMode(OutputMode.Append())
        .format("memory").queryName("sess_rocks").start()
      try {
        ms.addData(Ev(1, ts("2024-01-01 10:00:00"), 1), Ev(2, ts("2024-01-01 10:10:00"), 1))
        q.processAllAvailable()
        ms.addData(Ev(3, ts("2024-01-01 12:00:00"), 1)) // 110-min gap closes session 1
        q.processAllAvailable()
        val closed = spark.table("sess_rocks").as[Pipeline.SessionOut].collect()
        assert(closed.exists(s => s.user_id == 1 && s.n_events == 2),
          s"gap-closed session missing on RocksDB: ${closed.toSeq}")
        // the state operator must actually be running on RocksDB
        assert(q.lastProgress.json.contains("rocksdb"),
          "no rocksdb metrics in query progress — provider did not take effect")
      } finally q.stop()
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("parseToLog and the JDBC sink row keep their column types and nullability") {
    import org.apache.spark.sql.types._
    // the JDBC sink derives NOT NULL columns from this schema, so a parse
    // kernel's type drift must fail here rather than in a sink's DDL
    val lines = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sources.Ingest.Schema)
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq
    val head = Seq(("timestamp", TimestampType, true), ("device", StringType, true),
      ("severity", ByteType, false))
    assert(shape(Pipeline.parseToLog(lines)) === head ++ Seq(
      ("categories", ArrayType(StringType, containsNull = true), true),
      ("message", StringType, true)))
    assert(shape(Pipeline.jdbcRows(lines)) === head ++ Seq(
      ("categories", StringType, true), ("message", StringType, true)))
  }

  test("stream_sink_batched: JDBC sink round-trips into an embedded Derby table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    val db = Files.createTempDirectory("graft_derby").toString + "/logsdb"
    val url = s"jdbc:derby:$db;create=true"
    val ckpt = Files.createTempDirectory("graft_jdbc_ckpt").toString

    val lines = model.syslogFixture.map { case (_, raw, dev, t) => RawLine(raw, dev, ts(t)) }
    val ms = MemoryStream[RawLine]
    ms.addData(lines)
    val q = Pipeline.startJdbc(ms.toDF(), url, "mikrotik_logs", ckpt, Trigger.AvailableNow())
    q.awaitTermination(60000)

    val back = spark.read.jdbc(url, "mikrotik_logs", new java.util.Properties)
    assert(back.count() === model.syslogFixture.size.toLong)
    // the JDBC row is the parse projection with categories comma-flattened
    val expected = Pipeline.parseToLog(lines.toDF())
      .withColumn("categories", array_join(col("categories"), ","))
      .orderBy("timestamp", "device", "message").collect().toSeq
    val got = back.select("timestamp", "device", "severity", "categories", "message")
      .orderBy("timestamp", "device", "message").collect().toSeq
    assert(got.map(_.toSeq.map(String.valueOf)) === expected.map(_.toSeq.map(String.valueOf)))
  }

  private def fixtureLines: Seq[RawLine] =
    model.syslogFixture.map { case (_, raw, dev, t) => RawLine(raw, dev, ts(t)) }

  /** a JDBC table's rows as sorted strings, columns picked by name */
  private def jdbcTable(url: String, table: String): Seq[String] =
    spark.read.jdbc(url, table, new java.util.Properties)
      .select("timestamp", "device", "severity", "categories", "message")
      .collect().map(_.toSeq.mkString("\u0001")).toSeq.sorted

  test("writeJdbcBatch ≡ DataFrameWriter.jdbc: same DDL, same rows, appends by column name") {
    import spark.implicits._
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    val url = "jdbc:derby:memory:graft_writer_eq;create=true"
    val props = new java.util.Properties
    val rows = Pipeline.jdbcRows(fixtureLines.toDF())
    // fresh tables: each writer creates its own from the batch schema
    rows.write.mode("append").jdbc(url, "by_spark", props)
    Pipeline.writeJdbcBatch(rows, url, "by_graft", props)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      def columns(table: String) = {
        val rs = conn.getMetaData.getColumns(null, null, table, null)
        Iterator.continually(rs).takeWhile(_.next()).map(r => (r.getInt("ORDINAL_POSITION"),
          r.getString("COLUMN_NAME"), r.getString("TYPE_NAME"), r.getInt("COLUMN_SIZE"),
          r.getInt("NULLABLE"))).toList.sortBy(_._1)
      }
      assert(columns("BY_SPARK").map(_._2) ===
        Seq("timestamp", "device", "severity", "categories", "message"))
      assert(columns("BY_GRAFT") === columns("BY_SPARK"))
      // pre-existing tables whose columns are in another order: both
      // writers bind by name
      val st = conn.createStatement()
      try for (t <- Seq("reord_spark", "reord_graft"))
        st.executeUpdate(s"""CREATE TABLE $t ("message" CLOB, "categories" CLOB,
          "severity" SMALLINT NOT NULL, "device" CLOB, "timestamp" TIMESTAMP)""")
      finally st.close()
    } finally conn.close()
    rows.write.mode("append").jdbc(url, "reord_spark", props)
    Pipeline.writeJdbcBatch(rows, url, "reord_graft", props)
    val bySpark = jdbcTable(url, "by_spark")
    assert(bySpark.size === model.syslogFixture.size)
    for (t <- Seq("by_graft", "reord_spark", "reord_graft"))
      assert(jdbcTable(url, t) === bySpark, t)
  }

  test("startJdbc: each non-empty micro-batch runs one Spark job and no nested SQL execution") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    val url = "jdbc:derby:memory:graft_one_job;create=true"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val nested = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Option(e.properties).foreach { p =>
        if (p.getProperty("graft.test.drain") != null) drained.countDown()
        else Option(p.getProperty("sql.streaming.queryId"))
          .foreach(id => jobs.add(id -> p.getProperty("streaming.sql.batchId")))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart if x.rootExecutionId.exists(_ != x.executionId) =>
          nested.incrementAndGet()
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val q = try {
      val ms = MemoryStream[RawLine]
      ms.addData(fixtureLines)
      val q = Pipeline.startJdbc(ms.toDF(), url, "one_job", Files.createTempDirectory("graft_one_job").toString,
        Trigger.AvailableNow())
      q.awaitTermination(60000)
      // the bus delivers in order: once this marker job is seen, every
      // event the query posted has been seen too
      sc.setLocalProperty("graft.test.drain", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.test.drain", null)
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS))
      q
    } finally sc.removeSparkListener(listener)
    val nonEmpty = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId.toString).toSeq
    assert(nonEmpty.nonEmpty)
    val perBatch = jobs.toArray(Array.empty[(String, String)]).toSeq
      .filter(_._1 == q.id.toString).groupBy(_._2).map { case (b, js) => b -> js.size }
    assert(perBatch === nonEmpty.map(_ -> 1).toMap)
    assert(nested.get === 0, "the JDBC write planned a second, nested SQL execution")
  }

  test("startJdbc resumes a file: checkpoint at the next batch id with no duplicate rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    val url = "jdbc:derby:memory:graft_resume;create=true"
    val dir = Files.createTempDirectory("graft_resume_ckpt")
    val ckpt = dir.toUri.toString
    assert(ckpt.startsWith("file:"))
    val (first, second) = fixtureLines.splitAt(fixtureLines.size / 2)
    val ms = MemoryStream[RawLine]
    def run(): Seq[Long] = {
      val q = Pipeline.startJdbc(ms.toDF(), url, "resume_logs", ckpt, Trigger.AvailableNow())
      q.awaitTermination(60000)
      q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq
    }
    ms.addData(first)
    val before = run()
    ms.addData(second)
    val after = run()
    assert(before.nonEmpty && after === Seq(before.max + 1))
    assert(Files.exists(dir.resolve(s"commits/${before.max + 1}")))
    val expected = Pipeline.jdbcRows(fixtureLines.toDF())
      .collect().map(_.toSeq.mkString("\u0001")).toSeq.sorted
    assert(jdbcTable(url, "resume_logs") === expected)
  }

  test("checkpoint manager: file: paths get the FileSystem-based manager, other schemes Spark's default") {
    import graft.streaming.LocalFsCheckpointFileManager
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.streaming.checkpointing._
    val key = LocalFsCheckpointFileManager.ConfKey
    assert(spark.conf.get(key) === classOf[LocalFsCheckpointFileManager].getName)
    val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set(key, classOf[LocalFsCheckpointFileManager].getName)
    conf.set("fs.AbstractFileSystem.graftfake.impl", classOf[GraftFakeFs].getName)
    def delegate(path: String): Class[_] = CheckpointFileManager.create(new Path(path), conf) match {
      case m: LocalFsCheckpointFileManager => m.delegate.getClass
      case other => fail(s"Spark picked ${other.getClass} for $path")
    }
    val dir = Files.createTempDirectory("graft_cfm")
    assert(delegate(dir.toUri.toString) === classOf[FileSystemBasedCheckpointFileManager])
    // no scheme: resolved against fs.defaultFS, file: here
    assert(delegate(dir.toString) === classOf[FileSystemBasedCheckpointFileManager])
    // any other scheme: what Spark picks without the override
    assert(delegate(s"graftfake://${dir}") === classOf[FileContextBasedCheckpointFileManager])
  }

  test("streamMediaFeatures: per-batch decode kernel reproduces the batch features") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val media = graft.functions.Multimodal.synthesizeMedia(spark, dir)
    val rows = media.collect().map(m => (m.media_id, m.kind, m.content)).toSeq
    val (firstHalf, secondHalf) = rows.splitAt(rows.size / 2)
    val ms = MemoryStream[(Long, String, Array[Byte])]
    ms.addData(firstHalf)
    ms.addData(secondHalf)
    val out = Files.createTempDirectory("graft_smf_out").toString
    val ckpt = Files.createTempDirectory("graft_smf_ckpt").toString
    val q = Pipeline.streamMediaFeatures(
      ms.toDF().toDF("media_id", "kind", "content"), out, ckpt,
      Trigger.AvailableNow())
    q.awaitTermination(120000)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("media_id"), r.getAs[String]("kind"), r.getAs[String]("mime"),
        r.getAs[Long]("n_bytes"), r.getAs[Int]("width"), r.getAs[Int]("height"),
        r.getAs[Int]("sample_rate"), r.getAs[Seq[Float]]("embedding"))
    val streamed = spark.read.parquet(out).collect().map(key).sortBy(_._1).toSeq
    val batch = graft.functions.Multimodal.extractFeatures(media)
      .toDF().collect().map(key).sortBy(_._1).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty && streamed.map(_._2).toSet
      === Set("image", "audio", "video"))
  }
}
