package graft.streaming

import graft.model
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.jdbc.{JdbcOptionsInWrite, JdbcUtils}
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** The reference's native half (SURVEY.md §2 Table A) as Structured
  * Streaming: UDP datagrams → parse → micro-batch trigger → batched sink.
  *
  * Reference dataflow (`/root/reference/main.go:27-90`,
  * `lib/cacheManage.go:12-65`): receive loop → ParseLog → bounded channel
  * (cap 10 000) → flush every 1000 rows OR 2 s → bulk INSERT, errors drop
  * the batch (at-most-once).
  *
  * Spark mapping:
  *   - channel + ticker ≡ source admission control on a polling
  *     micro-batch loop: with the sources' `flushInterval` option (set by
  *     `GraftConfig.run`) the source admits a batch once 1000 rows are
  *     buffered OR a pending row is older than the latest 2 s tick, and
  *     the query runs on `Trigger.ProcessingTime(0)` — Spark's own shape
  *     for this rule is the Kafka source's minOffsetsPerTrigger +
  *     maxTriggerDelay. Callers of the `start*` entry points below that
  *     pass their own trigger and no `flushInterval` get the time half
  *     from that trigger and the count half as a per-batch cap;
  *   - bounded channel ≡ the sources' bounded row logs + pull-based
  *     backpressure (UdpSourceProvider.FlushRows caps every batch);
  *   - flushLogs ≡ foreachBatch parquet/JDBC append. Delivery: the parquet
  *     path is exactly-once — each batch lands in its own `batch_id=N`
  *     partition with dynamic partition OVERWRITE, so a batch replayed
  *     after a partial write replaces its own output instead of appending
  *     duplicates. The JDBC path (`startJdbc`) is at-least-once (blind
  *     bulk INSERT replay) — still strictly stronger than the reference's
  *     at-most-once drop-batch-on-error (lib/cacheManage.go:57-60).
  */
object Pipeline {

  /** reference's receive-buffer cap: datagrams beyond 40 960 bytes are
    * silently truncated (main.go:38, ReadFromUDP into a fixed buffer) */
  val MaxDatagramChars = 40960

  /** Memoized corpus-derived gate statistics (temperature rates, quality
    * threshold, curation threshold) keyed by (session, corpusDir, kind).
    * The gates re-plan their static side every micro-batch, so the frames
    * must be persisted — but a persist per gate CONSTRUCTION leaks: a
    * long-lived session building gates repeatedly accumulates MEMORY_ONLY
    * blocks with no release path. Same discipline as
    * [[graft.operators.Similarity]]'s codebook cache: one entry per key,
    * superseded entries (corpus rewritten → fingerprint changed)
    * unpersist on replacement, [[clearGateStatsCache]] releases all, and
    * a session's entries are evicted automatically when its underlying
    * SparkContext ends (onApplicationEnd listener) so stopped sessions
    * don't pin frames/plans until a manual clear.
    *
    * Corpus-rewrite caveat: the fingerprint-triggered replacement
    * unpersists the OLD frame, so a stream already running against a
    * cached gate silently falls back to per-batch recompute — against
    * files that have been rewritten under it. Restart streams built on
    * cached gates after rewriting their corpus; the cache serves the
    * restarted stream the fresh frame. */
  private val gateStatsCache =
    graft.Memo[(SparkSession, String, String), DataFrame](graft.Memo.unpersist)

  /** sessions whose SparkContext already carries the eviction listener
    * (one listener per session, not per entry; weak so the set itself
    * never pins a session) */
  private val evictionHooked =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  private def hookEviction(s: SparkSession): Unit =
    if (evictionHooked.add(s)) {
      s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          // the memo's own lock, which also guards evictionHooked.add
          gateStatsCache.synchronized {
            // the context is ending — just drop the references (no
            // unpersist RPC is possible against a stopped context)
            gateStatsCache.evict(_._1 eq s)
            evictionHooked.remove(s)
          }
      })
    }

  private def cachedGateFrame(s: SparkSession, corpusDir: String, kind: String)(
      build: => DataFrame): DataFrame =
    gateStatsCache.get((s, corpusDir, kind),
        graft.util.inputFingerprint(corpusDir, "documents.parquet")) {
      val df = build.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      hookEviction(s)
      df
    }

  /** unpersist and drop every cached gate-statistics frame (teardown /
    * test hook — the release path for long-lived sessions) */
  def clearGateStatsCache(): Unit = gateStatsCache.clear()

  private[graft] def gateStatsCacheSize: Int = gateStatsCache.size

  /** Transport adapter for Kafka-fronted fleets: map the Spark Kafka
    * source's FIXED record schema (key/value BINARY, topic STRING,
    * partition INT, offset LONG, timestamp TIMESTAMP — what
    * `.readStream.format("kafka")` emits once the spark-sql-kafka
    * connector jar is on the classpath) onto the (raw, device, ts)
    * shape every parse/admission/dedup gate here consumes. The gates
    * are transport-agnostic by design, so Kafka ingest is this ONE
    * projection — no second pipeline:
    *   - raw    = value decoded UTF-8 (the syslog line producers wrote);
    *   - device = the record KEY when present (fleets key by sender so
    *     per-host ordering survives partitioning) else
    *     "topic/partition" — a stable per-lane stamp, the multi-port
    *     UDP analog;
    *   - ts     = the broker/producer record timestamp.
    * Compose with [[parseToLog]] / [[parseToRfcLog]] unchanged
    * (StreamingSpec pins kafka-shaped ≡ UDP-shaped parse results on
    * the same payloads). No broker is required to test the contract:
    * the schema is the connector's public, versioned output. */
  def fromKafkaRecords(records: DataFrame): DataFrame =
    records.select(
      col("value").cast("string").as("raw"),
      coalesce(col("key").cast("string"),
        concat_ws("/", col("topic"), col("partition"))).as("device"),
      col("timestamp").as("ts"))

  /** parse projection shared by batch and streaming: (raw, device, ts) →
    * canonical log schema (SURVEY.md §1.1) */
  def parseToLog(lines: DataFrame): DataFrame =
    lines
      .withColumn("p", model.parseSyslog(substring(col("raw"), 1, MaxDatagramChars)))
      .select(
        col("ts").as("timestamp"),
        col("device"),
        col("p.severity").as("severity"),
        col("p.categories").as("categories"),
        col("p.message").as("message"))

  /** RFC-aware ingest twin of [[parseToLog]]: the same truncation cap
    * and streaming shape, with `model.parseRfc` supplying the full
    * header decode (format, facility, severity, header ts, hostname,
    * app, message — see q_parse_rfc5424). `severity` comes from the
    * `<PRI>` when a valid header exists and falls back to the topics
    * decode otherwise, so a mixed MikroTik + RFC fleet lands in ONE
    * stream with uniform severity semantics; stream ≡ batch by
    * construction (same expressions). */
  def parseToRfcLog(lines: DataFrame): DataFrame =
    lines
      .withColumn("p", model.parseRfc(substring(col("raw"), 1, MaxDatagramChars)))
      .select(
        col("ts").as("timestamp"),
        col("device"),
        col("p.format").as("format"),
        col("p.facility").as("facility"),
        col("p.severity").as("severity"),
        col("p.ts_text").as("header_ts_text"),
        col("p.ts_us").as("header_ts_us"),
        col("p.hostname").as("hostname"),
        col("p.appname").as("appname"),
        col("p.message").as("message"))

  /** the whole reference as one streaming query: lines → parse → 2 s
    * trigger → batched parquet sink (stream_pipeline_e2e).
    * Idempotent: batch N writes partition `batch_id=N` with dynamic
    * partition overwrite, so checkpoint replay after a partial write
    * rewrites that partition — exactly-once into files. */
  def start(lines: DataFrame, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    parseToLog(lines).writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // row→columnar pivot + bulk append ≡ PrepareBatch/Send
        // (lib/cacheManage.go:40-60)
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outDir)
      }
      .start()

  /** reference's actual sink: bulk INSERT into a JDBC table in 1000-row
    * statements (`lib/cacheManage.go:40-60` INSERT INTO mikrotik_logs;
    * `batchsize` ≡ logCacheLimit), one Spark job per micro-batch through
    * [[writeJdbcBatch]]. `categories` flattens to the raw comma-joined
    * topic string (lopParse.go:31 splits on ","; JDBC rows have no array
    * type). At-least-once: a batch replayed after a partial flush
    * re-inserts — the reference instead DROPS a failed batch
    * (at-most-once); swap the URL for ClickHouse/postgres in production. */
  def startJdbc(lines: DataFrame, url: String, table: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds"),
      connectionProperties: java.util.Properties = new java.util.Properties)
      : StreamingQuery =
    startJdbcWith(lines, checkpointDir, trigger) { (batch, _) =>
      writeJdbcBatch(batch, url, table, connectionProperties)
    }

  /** Append `batch` to a JDBC table with what `batch.write.mode("append")
    * .jdbc(url, table, props + batchsize=1000)` writes, in ONE Spark job
    * and with no second query. The driver resolves the table as Spark's
    * `JdbcRelationProvider` does in append mode (`tableExists`, then the
    * table's schema or `createTable` from the batch schema, then the
    * INSERT statement); each task hands its rows to Spark's own
    * `JdbcUtils.savePartition`, so the setters, the 1000-row statement
    * batches, the isolation level and the per-partition transaction are
    * Spark's. What goes is the writer's per-batch fixed cost: the nested
    * `SaveIntoDataSourceCommand` query with its plan string, the
    * `Dataset.rdd` deserializer plan, the closure's ASM scan and the
    * schema probe after the write. */
  def writeJdbcBatch(batch: DataFrame, url: String, table: String,
      connectionProperties: java.util.Properties = new java.util.Properties): Unit = {
    import scala.jdk.CollectionConverters._
    val options = new JdbcOptionsInWrite(url, table,
      connectionProperties.asScala.toMap + ("batchsize" -> "1000"))
    val schema = batch.schema
    val caseSensitive = batch.sparkSession.conf.get("spark.sql.caseSensitive").toBoolean
    val dialect = JdbcDialects.get(url)
    val conn = dialect.createConnectionFactory(options)(-1)
    val tableSchema =
      try {
        if (JdbcUtils.tableExists(conn, options)) JdbcUtils.getSchemaOption(conn, options)
        else {
          JdbcUtils.createTable(conn, options.table, schema, caseSensitive, options)
          Some(schema)
        }
      } finally conn.close()
    val insert = JdbcUtils.getInsertStatement(options.table, schema, tableSchema,
      caseSensitive, dialect)
    val scan = batch.queryExecution.toRdd
    val rows = options.numPartitions.filter(_ < scan.getNumPartitions).fold(scan)(scan.coalesce(_))
    batch.sparkSession.sparkContext.runJob(rows,
      new JdbcPartitionWriter(options, schema, insert, dialect),
      rows.partitions.indices, (_: Int, _: Unit) => ())
  }

  /** the JDBC sinks' row: [[parseToLog]] with `categories` comma-joined */
  private[graft] def jdbcRows(lines: DataFrame): DataFrame =
    parseToLog(lines).withColumn("categories", array_join(col("categories"), ","))

  /** shared JDBC stream builder: ONE parse projection + categories
    * flattening + writeStream scaffold for both delivery contracts, whose
    * `write`s both land rows through [[writeJdbcBatch]] — a future change
    * to the projection or the writer cannot silently fork the
    * at-least-once and exactly-once paths */
  private def startJdbcWith(lines: DataFrame, checkpointDir: String,
      trigger: Trigger)(write: (DataFrame, Long) => Unit): StreamingQuery = {
    // a ClickHouse URL gets the reference-parity dialect (Array(String)
    // categories, Int8 severity); any other URL is untouched
    graft.sources.ClickHouseDialect.register()
    jdbcRows(lines)
      .writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(write)
      .start()
  }

  /** One micro-batch of the idempotent JDBC sink: delete the batch's own
    * prior rows (keyed by batch_id), then bulk-append them with the
    * batch_id stamped — a replay after a partial flush REPLACES its own
    * output instead of duplicating it, the JDBC analog of the parquet
    * sink's dynamic per-batch_id partition overwrite. The DELETE is one
    * driver-side statement on the batch KEY (no data crosses the driver);
    * a missing table (first batch ever) is tolerated — the append creates
    * it. Exactly-once per batch under Spark's single-writer checkpoint
    * contract (no concurrent writers to the table). */
  /** SQLStates meaning "table does not exist" across the sink's target
    * engines: Derby 42X05, SQL-standard/MySQL 42S02, Postgres 42P01
    * (undefined_table — Postgres does NOT use the standard code, so the
    * first micro-batch against a fresh Postgres database would die on
    * the DELETE probe without it) */
  private[graft] val MissingTableSqlStates = Set("42X05", "42S02", "42P01")

  /** run `body`, swallowing exactly the missing-table SQLStates above */
  private[graft] def tolerateMissingTable(body: => Unit): Unit =
    try body catch {
      case e: java.sql.SQLException if MissingTableSqlStates(e.getSQLState) => ()
    }

  def writeJdbcBatchIdempotent(batch: DataFrame, batchId: Long,
      url: String, table: String,
      connectionProperties: java.util.Properties = new java.util.Properties): Unit = {
    // Spark's JDBC writer quotes COLUMN identifiers via the dialect (Derby
    // folds unquoted names to uppercase — an unquoted batch_id here would
    // miss the column and silently disable the delete, observed as
    // duplicated replays); table names pass through unquoted on both
    // paths, so they fold consistently
    val qcol = JdbcDialects.get(url).quoteIdentifier("batch_id")
    val conn = java.sql.DriverManager.getConnection(url, connectionProperties)
    try {
      val st = conn.createStatement()
      // tolerate ONLY "table does not exist" (first batch ever — the
      // append below creates it): Derby 42X05, SQL-standard 42S02,
      // Postgres 42P01 (undefined_table). Any
      // other failure (lock timeout, rollback, bad dialect SQL) must
      // propagate — swallowing it would silently demote the sink to
      // at-least-once while the API still claims exactly-once
      try tolerateMissingTable(
        st.executeUpdate(s"DELETE FROM $table WHERE $qcol = $batchId"))
      finally st.close()
    } finally conn.close()
    writeJdbcBatch(batch.withColumn("batch_id", lit(batchId)), url, table, connectionProperties)
  }

  /** [[startJdbc]] upgraded from at-least-once to EXACTLY-ONCE delivery:
    * same parse projection and flattening, but each micro-batch lands via
    * [[writeJdbcBatchIdempotent]] — replays replace their own rows. The
    * reference DROPS a failed batch (at-most-once,
    * /root/reference/lib/cacheManage.go:57-60); this is the strongest of
    * the three delivery contracts. */
  def startJdbcIdempotent(lines: DataFrame, url: String, table: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds"),
      connectionProperties: java.util.Properties = new java.util.Properties)
      : StreamingQuery =
    startJdbcWith(lines, checkpointDir, trigger) { (batch, batchId) =>
      writeJdbcBatchIdempotent(batch, batchId, url, table, connectionProperties)
    }

  /** event-time windowed severity counts with late-data drop
    * (stream_watermark_late): rows later than the watermark are excluded,
    * the principled version of the reference's fixed 2 s flush bound */
  def severityCounts(logs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    logs
      .withWatermark("timestamp", watermark)
      .groupBy(window(col("timestamp"), "1 hour"), col("severity"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("severity"), col("n"))

  /** Streaming twin of the batch `q_zone_severity_hourly`: the parsed
    * stream enriched per row with its LPM network zone
    * ([[graft.functions.Scalars.zoneOfDevice]] — the when-chain
    * projection form, so zone costs NO join and NO extra stateful
    * stage) and rolled into hourly (zone, n, n_hi) windows; n_hi counts
    * severity ≤ 3. The one stateful op is the windowed aggregate. */
  def zoneSeverityCounts(logs: DataFrame,
      watermark: String = "10 minutes"): DataFrame =
    logs
      .withColumn("zone", graft.functions.Scalars.zoneOfDevice(col("device")))
      .withWatermark("timestamp", watermark)
      .groupBy(window(col("timestamp"), "1 hour"), col("zone"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("severity") <= 3, 1L).otherwise(0L)).as("n_hi"))
      .select(col("window.start").as("hour"), col("zone"), col("n"), col("n_hi"))

  /** stateful dedup on an id column within the watermark (stream_dedup) */
  def dedupWithinWatermark(events: DataFrame, idCol: String = "event_id",
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("timestamp", watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** running per-device severity counters across batches
    * (stream_stateful_count) — custom state via mapGroupsWithState, the
    * KeyValueGroupedDataset path for semantics windowed aggs can't express */
  case class DeviceCount(device: String, total: Long, errors: Long)

  /** streaming sessionization with CUSTOM state (stream_stateful_count's
    * bigger sibling): the 30-min-inactivity-gap session semantics of
    * q_window_session, kept incrementally per user via
    * flatMapGroupsWithState + event-time timeout. A session closes (and
    * is emitted, append-mode) when a later event arrives past the gap OR
    * the watermark passes lastTs+gap — so state is bounded by the
    * watermark and sessions survive across micro-batches, which the
    * built-in session_window agg can also do but only for aggregations;
    * this path carries arbitrary per-session payloads. */
  /** state and session bounds are in MICROSECONDS since the epoch:
    * Timestamp.getTime is ms-truncated, but event timestamps carry µs
    * (TIMESTAMP(NANOS) parquet → µs), and the batch twin q_window_session
    * computes its 30-min gaps at µs precision — ms rounding here would
    * sessionize sub-ms boundary gaps differently than the batch operator
    * (the stream/batch parity spec pins this).
    *
    * The fields are named `startUs`/`lastUs` ON PURPOSE: an earlier
    * encoding stored epoch-ms under `start`/`last`, and a query restored
    * from such a checkpoint would silently deserialize ms values as µs
    * (1970-era sessions). The rename changes the state row schema, so
    * Spark's state-store schema check rejects a stale checkpoint loudly
    * instead — discard old checkpoints on upgrade. */
  case class SessionState(startUs: Long, lastUs: Long, n: Long)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long)

  /** µs component of a Timestamp rides in the nanos field */
  def tsToUs(t: java.sql.Timestamp): Long =
    t.getTime * 1000 + (t.getNanos % 1000000) / 1000
  def usToTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000000 * 1000)
    t.setNanos(((us % 1000000) * 1000).toInt)
    t
  }

  def sessionize(events: DataFrame, gapMinutes: Int = 30): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events.selectExpr("user_id", "timestamp")
      .withWatermark("timestamp", "1 hour")
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[SessionState]) =>
          val out = scala.collection.mutable.ArrayBuffer[SessionOut]()
          def emit(s: SessionState): Unit = out += SessionOut(user,
            usToTs(s.startUs), usToTs(s.lastUs), s.n)
          if (state.hasTimedOut) {
            state.getOption.foreach(emit)
            state.remove()
          } else {
            var cur = state.getOption.orNull
            rows.map(r => tsToUs(r._2)).toSeq.sorted.foreach { ts =>
              cur match {
                case null => cur = SessionState(ts, ts, 1)
                case s if ts - s.lastUs > gapUs => emit(s); cur = SessionState(ts, ts, 1)
                case s => cur = SessionState(s.startUs, math.max(s.lastUs, ts), s.n + 1)
              }
            }
            if (cur != null) {
              state.update(cur)
              // the timeout API is ms-granular; round UP so the timeout
              // never fires before the exact µs gap boundary
              state.setTimeoutTimestamp((cur.lastUs + gapUs + 999) / 1000)
            }
          }
          out.iterator
      }
  }

  /** built-in `session_window` twin of [[sessionize]] (SURVEY.md §2 B.9):
    * when the per-session payload is just aggregates, the native windowed
    * aggregation expresses the same 30-min-gap semantics without custom
    * state code — and merges sessions map-side before the shuffle, which
    * the flatMapGroupsWithState form cannot. `session_end` is the LAST
    * EVENT time (max(timestamp)), not `session_window.end` (= last + gap),
    * so the output is row-comparable with [[sessionize]] and the batch
    * `q_window_session`; the three-way parity spec pins all three. */
  def sessionizeBuiltin(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .withWatermark("timestamp", "1 hour")
      .groupBy(col("user_id"), session_window(col("timestamp"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"), max(col("timestamp")).as("session_end"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_end"), col("n_events"))

  /** RocksDB state store, opt-in (`GRAFT_STATE_STORE=rocksdb`): the
    * default HDFS-backed provider keeps every key's state on the JVM
    * heap — at 100 TB of keyed sessions that heap IS the streaming
    * scale-killer. RocksDB spills state to local disk with bounded
    * memory. Per-query: the provider is captured when a query starts, so
    * set it before `start()`; existing checkpoints keep their provider. */
  val RocksDbProviderClass =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def useRocksDbStateStore(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", RocksDbProviderClass)
    quietRocksDbNativeLogger()
  }

  /** rocksdbjni's `LoggerJniCallback` is invoked from NATIVE background
    * threads (compaction, flush, write-stall reporting); under sustained
    * WARN-level traffic it segfaulted the JVM twice in the round-13
    * StateVolume campaign at 100M keys × 4M rows/batch (SIGSEGV in
    * `LoggerJniCallback::Logv` called from `DBImpl::BackgroundCompaction`
    * — adjudicated in PERF.md's StateVolume section). Spark derives the
    * native `InfoLogLevel` from the slf4j level of its own
    * state-store RocksDB class logger (`RocksDB.createLogger`: root WARN
    * ⟹ native WARN_LEVEL), so a root logger at WARN — the usual quiet
    * setting — silently arms the fragile callback on every write-stall
    * message. Pinning THIS class logger to ERROR drops the native level
    * to ERROR_LEVEL, keeping the JNI callback out of the hot native
    * paths while real errors stay visible. Must run before `start()`
    * (the provider captures its logger when the query starts). */
  def quietRocksDbNativeLogger(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.state.RocksDB",
      org.apache.logging.log4j.Level.ERROR)

  /** Streaming heavy hitters (ClickHouse `topK` live, stream_topk):
    * sharded space-saving state over the device stream. Each of
    * [[TopKShards]] groups keeps ONE bounded space-saving counter set
    * (the same [[graft.functions.TopKAggregator]] buffer the batch
    * `q_udaf_topk` runs), updated per micro-batch; every batch it
    * re-emits its current counters (update mode). The global top-k is a
    * read-side merge of the ≤shards·capacity latest rows — space-saving
    * summaries merge with additive error bounds (Metwally et al. §4),
    * and with capacity ≥ distinct(shard) the result is exact, which is
    * what the stream≡batch parity spec pins.
    *
    * Scale shape: state is O(shards·capacity) regardless of stream
    * volume; sharding by a stable device hash spreads both rows and
    * state across tasks (one hot device still lands on one shard, but a
    * shard holds 1/shards of the DISTINCT devices — the counter update
    * itself is O(1) per row, so row skew costs CPU, not memory). At a
    * larger deployment raise shards, not capacity. */
  val TopKShards = 8

  case class ShardTop(shard: Int, device: String, cnt: Long)

  def streamTopDevices(logs: DataFrame, capacity: Int = 256,
      emitPerShard: Int = 16): Dataset[ShardTop] = {
    val spark = logs.sparkSession
    import spark.implicits._
    val shards = TopKShards
    logs.selectExpr("device").as[String]
      // math.floorMod of the JVM String hash: deterministic across
      // executors (String.hashCode is specified), non-negative
      .groupByKey(d => math.floorMod(d.hashCode, shards))
      .flatMapGroupsWithState[graft.functions.TopKBuffer, ShardTop](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard: Int, rows: Iterator[String],
         state: GroupState[graft.functions.TopKBuffer]) =>
          val agg = new graft.functions.TopKAggregator(emitPerShard, capacity)
          var buf = state.getOption.getOrElse(agg.zero)
          rows.foreach { d => buf = agg.reduce(buf, d) }
          state.update(buf)
          buf.counts.toSeq.sortBy { case (d, c) => (-c, d) }
            .take(emitPerShard)
            .map { case (d, c) => ShardTop(shard, d, c) }.iterator
      }
  }

  /** Streaming twin of the batch `q_event_anomaly`: per-type hourly
    * counts kept as custom state (hour→count map, capped at the
    * `maxHours` MOST RECENT hours so state is bounded — default one
    * trailing week), z-scores re-emitted for every retained hour each
    * batch (update mode). The arithmetic mirrors the batch operator
    * EXACTLY — exact Long moments, the same double closed form in the
    * same operation order, σ clamp, σ=0 ⇒ z=0, r4f rounding — so with
    * an uncapped horizon a single-batch run is row-identical to the
    * batch query (the parity spec pins this); with the production cap
    * the baseline is the trailing window instead of all history. At
    * scale: state is O(types·maxHours), grouping key is event_type; a
    * high-volume type costs CPU on one task but the counter map stays
    * tiny. */
  val AnomalyMaxHours = 168

  case class AnomalyOut(event_type: String, hour: java.sql.Timestamp,
      n: Long, z: Double, is_spike: Boolean)

  def streamAnomaly(events: DataFrame,
      maxHours: Int = AnomalyMaxHours): Dataset[AnomalyOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_type"), date_trunc("hour", col("timestamp")).as("hour"))
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Map[Long, Long], AnomalyOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (etype: String, rows: Iterator[(String, java.sql.Timestamp)],
         state: GroupState[Map[Long, Long]]) =>
          var m = state.getOption.getOrElse(Map.empty[Long, Long])
          rows.foreach { case (_, h) =>
            val us = tsToUs(h)
            m = m.updated(us, m.getOrElse(us, 0L) + 1L)
          }
          if (m.size > maxHours)
            m = m.toSeq.sortBy(-_._1).take(maxHours).toMap
          state.update(m)
          // exact Long moments; double math in the batch operator's order
          val cntD = m.size.toDouble
          val s1 = m.values.foldLeft(0L)(_ + _)
          val s2 = m.values.foldLeft(0L)((a, v) => a + v * v)
          val sd = math.sqrt(math.max(0d,
            (s2.toDouble - s1.toDouble * s1.toDouble / cntD) / cntD))
          val mean = s1.toDouble / cntD
          m.toSeq.sortBy(_._1).map { case (us, n) =>
            val zRaw = if (sd == 0d) 0d else (n.toDouble - mean) / sd
            val z = math.floor(zRaw * 10000d + 0.5d) / 10000d
            AnomalyOut(etype, usToTs(us), n, z, math.abs(z) >= 2.0d)
          }.iterator
      }
  }

  /** LIVE materialized-view maintenance — the streaming face of
    * `q_mv_incremental`, and THE ClickHouse idiom the reference's users
    * build over `mikrotik_logs` (README.md:132-137 positions the table
    * as "query-friendly storage" precisely so MVs/rollups can serve the
    * dashboards): each micro-batch of order-shaped rows reduces to its
    * RE-AGGREGABLE partial states (`Relational.mvPartialStates` — the
    * same aggregation the declared batch query runs, so stream ≡ batch
    * by construction) and lands under its own `batch_id=N` partition.
    * Deliberately NO read-modify-write merge into a single stored row
    * set: count/sum states would DOUBLE on a replayed batch, while the
    * per-partition dynamic overwrite keeps replays exactly-once — the
    * reader (`Relational.readMv`) merges across batch partitions in
    * O(batches × groups) rows, and a maintenance pass can compact the
    * log back to one partition whenever batches accumulate (same
    * discipline as `Sinks.compactDay`). Stateless foreachBatch: partial
    * states are complete within the arriving rows; streaming-agg state
    * would be pure overhead. */
  def streamMvMaintain(orders: DataFrame, mvDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    orders.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Relational.mvPartialStates(batch)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(mvDir)
      }
      .start()

  /** LIVE retractable-view maintenance — [[streamMvMaintain]]'s signed
    * twin (the CollapsingMergeTree idiom): each micro-batch carries
    * orders-shaped CHANGE rows with a `sign` column (+1 insert, −1
    * delete/correction), reduces to its signed partial states
    * (`Relational.mvSignedStates`-shaped: n = Σsign, total =
    * Σ sign·price — the retraction-mergeable subset; min/max
    * deliberately excluded, see `Relational.readMvSigned`) and lands
    * under its own `batch_id=N` partition. Exactly-once under replay by
    * the same per-partition dynamic overwrite: a REPLAYED RETRACTION
    * rewrites its own partition rather than double-retracting — the
    * property StreamingSpec pins by re-running a delete batch over the
    * same checkpoint. Stateless foreachBatch; the reader merges signed
    * rows per group and drops groups retracted to zero. */
  def streamMvRetract(changes: DataFrame, mvDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    changes.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeMvSignedBatch(batch, batchId, mvDir)
      }
      .start()

  /** one signed micro-batch of [[streamMvRetract]], exposed so the
    * replay contract is testable directly: calling it twice with the
    * same batchId rewrites the batch's own partition — a replayed
    * retraction never double-retracts */
  def writeMvSignedBatch(batch: DataFrame, batchId: Long, mvDir: String): Unit =
    batch
      .select(col("o_orderpriority"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        col("o_totalprice"), col("sign"))
      .groupBy("o_orderpriority", "o_year")
      .agg(sum(col("sign")).cast("long").as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)") * col("sign"))
          .cast("decimal(28,2)").as("total"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(mvDir)

  /** LIVE entity resolution — the streaming face of
    * `q_entity_resolve_incremental`: each micro-batch of customer-shaped
    * records probes the PERSISTED deletion-variant entity index
    * (`Resolve.writeEntityIndex`) and emits one best-match verdict per
    * arriving record (matched key + score, or nulls → would mint a new
    * entity on absorb). The batch function IS `Resolve.probeEntityIndex`
    * — the same code the declared batch query runs, so stream ≡ batch by
    * construction (pinned in ResolveSpec). Stateless foreachBatch (a
    * record's variants are complete within its own row); exactly-once
    * per-batch_id partition overwrite on replay. Absorption is a
    * separate `Resolve.appendEntityIndex` maintenance call, same
    * probe→absorb discipline as every other persisted index family. */
  def streamEntityResolve(cust: DataFrame, indexPath: String,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    cust.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Resolve.probeEntityIndex(batch.sparkSession, batch, indexPath)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outDir)
      }
      .start()

  /** LIVE entity resolution WITH ABSORPTION — closes the loop
    * [[streamEntityResolve]] leaves to a maintenance call, and the
    * streaming face of `q_entity_absorb`: each micro-batch probes the
    * persisted deletion-variant entity index and emits one entity
    * ASSIGNMENT per record (`Resolve.probeEntityAssign` — matched
    * probes adopt the matched entity, unmatched probes mint under
    * their own key, hash-stable, no sequence generator), then ABSORBS
    * the whole batch (matched evidence AND minted entities) via the
    * O(batch) `Resolve.appendEntityIndex` — so a batch-N+1 record
    * within one typo of a batch-N minted entity MATCHES it instead of
    * minting a duplicate. Probe precedes append: a batch never matches
    * itself (within-batch duplicates mint independently and reconcile
    * on their next appearance — the standard streaming-ER trade
    * against a quadratic within-batch pass). Verdicts AND append are
    * replay-guarded together by the per-batch marker (a replayed batch
    * whose append already committed would otherwise re-probe an index
    * containing itself and overwrite every verdict with a self-match)
    * — the [[streamIngestDedup]] ingestLoop contract, now covering the
    * ER family too. */
  def streamEntityAbsorb(cust: DataFrame, indexPath: String,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    ingestLoop(graft.operators.Resolve.probeEntityAssign,
        (s, path, b) => graft.operators.Resolve.appendEntityIndex(b, path))(
      cust, indexPath, outDir, checkpointDir, trigger)

  /** LIVE threshold-drift observability for the ER serving loop — the
    * streaming face of `q_entity_score_dist`: each micro-batch of
    * customer-shaped records probes the persisted entity index and
    * emits its Fellegi-Sunter score HISTOGRAM (per distinct score: pair
    * count, evidence-pattern counts, the verdict the shipped threshold
    * assigns) under its own `batch_id=N` partition — the artifact a
    * linkage deployment watches to notice the match/non-match score
    * populations drifting as absorbed batches shift the index. The
    * histogram derives from the SAME pre-threshold scored front the
    * verdicts use (`Resolve.probeScoreDist`), so observability and
    * serving can never disagree; candidates partition by probe, so the
    * per-batch histograms sum to the all-probes histogram over a fixed
    * index (StreamingSpec pin). Stateless; exactly-once per batch_id
    * partition overwrite; histogram rows are evidence-lattice-bounded
    * (≤ a dozen) whatever the batch size. */
  def streamEntityScoreDist(cust: DataFrame, indexPath: String,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    cust.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Resolve.probeScoreDist(batch.sparkSession, batch, indexPath)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outDir)
      }
      .start()

  /** LIVE golden-table maintenance — the streaming face of the at-rest
    * MDM loop (`Resolve.upsertGoldenTable` + `appendEntityIndex`), and
    * the serving stack's last piece: per micro-batch, matched records
    * upsert their entity's partial-state log, unmatched records mint,
    * and the batch absorbs into the entity index — so the NEXT batch
    * probes a population that includes this one, and the golden table
    * read (`Resolve.readGoldenTable`) always reflects every record
    * seen. The golden appends (state log + member facts) carry the
    * batch_id as their `seq`, so a REPLAYED batch appends byte-identical
    * rows the readers dedup per (entity, seq) / (record, entity, seq) —
    * replay-idempotent BY READ for every crash window EXCEPT the last
    * one: the index append runs last, so a crash anywhere before it
    * replays into a batch-free index — the re-probe is deterministic
    * and the duplicate golden rows dedup at read. The residual window
    * is index-append-committed-but-marker-missing: a replay would
    * re-probe an index containing the batch (self-matches can repoint
    * an assignment through a same-name twin), so that ONE batch's
    * assignments may drift from the original — bounded, and recovery
    * is the writeGoldenTable/writeEntityIndex rebuild, not replay. The
    * marker otherwise spares replays the work and keeps the
    * entity-index append from double-writing variant rows (harmless to
    * probe verdicts — candidates are `distinct` — but unbounded bloat
    * under repeated crash-replay). Probe precedes absorb: a batch
    * never matches itself. */
  def streamGoldenUpsert(cust: DataFrame, entityIndexPath: String,
      goldenPath: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    cust.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val marker = new org.apache.hadoop.fs.Path(s"$goldenPath/appended/$batchId")
        val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (!fs.exists(marker)) {
          val b = batch.localCheckpoint() // one materialization, two appends
          graft.operators.Resolve.upsertGoldenTable(
            s, b, entityIndexPath, goldenPath, seq = batchId)
          graft.operators.Resolve.appendEntityIndex(b, entityIndexPath)
          fs.mkdirs(marker.getParent)
          fs.createNewFile(marker)
          ()
        }
      }
      .start()

  /** LIVE CDC apply — the full change-data-capture loop over the MDM
    * serving stack, composing [[streamGoldenUpsert]] with the r20
    * delete path: ONE stream of customer-shaped change rows carrying an
    * `op` column (`"upsert"` inserts/absorbs the record, `"delete"`
    * retracts the record by key — only `c_custkey` is read on deletes),
    * applied per micro-batch under TWO seqs per batch_id: deletes at
    * 2·batch_id, upserts at 2·batch_id + 1 — both monotone across
    * batches, so the golden table's strictly-increasing-seq contract
    * holds with a single writer, and within a batch the delete's
    * rebuild (at the even seq) can never supersede the upsert's delta
    * (at the odd seq above it). DELETES apply before upserts — the
    * order that makes a CDC UPDATE (delete old version + re-insert new
    * version in one batch) land correctly: the delete retracts the old
    * member fact, then the upsert sees the key as no longer current
    * and absorbs the new version (the absorb-once rule in
    * `Resolve.upsertGoldenTable` would drop it under the opposite
    * order); deleting record A and absorbing record B of the SAME
    * entity in one batch is exact for the same reason (rebuild at the
    * even seq covers the pre-upsert members, B's delta at the odd seq
    * stays visible). Contract (VALIDATED per batch since r21, not just
    * documented): per key, a batch may carry ONE event, or exactly one
    * delete + one upsert — which is always interpreted as the CDC
    * UPDATE (delete first). A source that means "insert then delete"
    * within one batch is indistinguishable from UPDATE without an
    * event-order column and must collapse to the last event before the
    * sink; any other multi-event shape (two upserts, two deletes, 3+)
    * fails the batch before anything is written. Replay behavior and the
    * residual index-append window are [[streamGoldenUpsert]]'s,
    * verbatim: golden appends dedup by read; the index append runs
    * LAST. */
  def streamGoldenApply(changes: DataFrame, entityIndexPath: String,
      goldenPath: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    changes.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val marker = new org.apache.hadoop.fs.Path(s"$goldenPath/appended/$batchId")
        val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (!fs.exists(marker)) {
          val b = batch.localCheckpoint()
          // VALIDATE the per-key batch contract instead of trusting it
          // (r20 ADVICE): legal shapes per key are ONE event, or exactly
          // one delete + one upsert (the CDC UPDATE — applied
          // deletes-first by design, see the scaladoc). Anything else
          // (two upserts, two deletes, 3+ events) is ambiguous without
          // an event-order column and used to apply silently in
          // whatever order the ops sorted — now the batch fails BEFORE
          // any write (marker untouched, replay discipline intact) and
          // the operator sees the breach. One key-sized aggregate per
          // batch (the allowlisted per-batch action class).
          val bad = b.groupBy("c_custkey")
            .agg(count(lit(1)).as("n"), countDistinct(col("op")).as("ops"))
            .where(col("n") > 2 || (col("n") === 2 && col("ops") < 2))
            .limit(5).collect().map(_.getLong(0))
          if (bad.nonEmpty)
            throw new IllegalArgumentException(
              "streamGoldenApply: conflicting changes for one key in one " +
                s"micro-batch (keys ${bad.mkString(", ")}…) — legal per-key " +
                "shapes are one event or delete+upsert (UPDATE); collapse " +
                "the CDC feed to the last event per key before the sink")
          val ups = b.where(col("op") === "upsert").drop("op")
          val dels = b.where(col("op") === "delete").select("c_custkey")
          graft.operators.Resolve.deleteGoldenRecords(
            s, dels, goldenPath, seq = 2 * batchId)
          graft.operators.Resolve.upsertGoldenTable(
            s, ups, entityIndexPath, goldenPath, seq = 2 * batchId + 1)
          graft.operators.Resolve.appendEntityIndex(ups, entityIndexPath)
          fs.mkdirs(marker.getParent)
          fs.createNewFile(marker)
          ()
        }
      }
      .start()

  /** LIVE sketch-table maintenance — the streaming face of
    * `SketchTable.writeSketchDailies`: each micro-batch of events
    * reduces to its own (event_type, day) sketch-state rows (the SAME
    * `dailyStates` aggregation the batch build runs) and lands under
    * its `batch_id=N` partition. There is deliberately NO
    * read-modify-write merge into the daily table: sketch states are
    * re-aggregatable, so the reader (`SketchTable.rollupStates`) merges
    * across batch partitions exactly as it merges across days, and the
    * per-partition dynamic overwrite keeps replays exactly-once — a
    * replayed batch rewrites its own rows instead of double-counting
    * into a merged state (which would be idempotent for theta/HLL set
    * semantics but would DOUBLE freq counts and row totals). Stateless
    * foreachBatch: an event's (type, day) cell is complete within the
    * arriving data, cross-batch state would be pure overhead. */
  def streamSketchDailies(ev: DataFrame, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    ev.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.SketchTable.dailyStates(batch)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outDir)
      }
      .start()

  /** Live-ingest dedup: each micro-batch of documents (doc_id, text)
    * probes the PERSISTED corpus gram index (`Dedup.writeGramIndex`)
    * and emits (new_id, dup_of, jaccard) near-dup verdicts — the
    * streaming face of `q_dedup_incremental`. foreachBatch, not a
    * streaming aggregation: a document's grams all arrive in its own
    * micro-batch, so the probe is per-batch STATELESS and cross-batch
    * aggregation state would be pure overhead. The batch function IS
    * `Dedup.probeGramIndex` — the same code the declared batch query
    * runs, so stream ≡ batch by construction (pinned in StreamingSpec).
    * Exactly-once like [[start]]: each batch overwrites its own
    * `batch_id=N` partition on replay. */
  def streamDedupIncremental(docs: DataFrame, indexPath: String,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    docs.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Dedup.probeGramIndex(batch.sparkSession, batch, indexPath)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outDir)
      }
      .start()

  /** LIVE containment gate — [[streamDedupIncremental]]'s scoring twin
    * over the SAME persisted gram index: each micro-batch probes via
    * `Dedup.probeGramIndexContainment` and emits (new_id, dup_of,
    * containment, contained) — the subset-duplication class (a doc
    * mostly inside an indexed one, or swallowing a small indexed one)
    * that the Jaccard gate's shared/union threshold never fires on.
    * Identical code path to the batch `q_dedup_containment_incremental`,
    * so stream ≡ batch by construction. Stateless foreachBatch;
    * exactly-once per-batch_id partition overwrite. */
  def streamContainmentDedup(docs: DataFrame, indexPath: String,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    docs.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Dedup.probeGramIndexContainment(batch.sparkSession, batch, indexPath)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outDir)
      }
      .start()

  /** LIVE decontamination gate — each micro-batch of (doc_id, text)
    * probes the PERSISTED train-gram Bloom word table
    * (`Dedup.writeBloomIndex`, ~1 MiB broadcast whatever the train
    * corpus size) and emits per-doc contamination — the ingest-time
    * "is this eval/benchmark content leaking into train?" screen.
    * Contamination can only be INFLATED (Bloom: no false negatives),
    * so gating on a ceiling stays sound live. Same code path as the
    * batch probe (`Dedup.probeBloomIndex`); stateless foreachBatch;
    * exactly-once per-batch_id partition overwrite. */
  def streamDecontaminate(docs: DataFrame, indexPath: String,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    docs.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Dedup.probeBloomIndex(batch.sparkSession, batch, indexPath)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outDir)
      }
      .start()

  /** LIVE SimHash near-dup gate — [[streamDedupIncremental]]'s twin over
    * the persisted SimHash band index (`Dedup.writeSimhashIndex`): each
    * micro-batch of (doc_id, text) signatures map-side and probes the
    * corpus's (chunk, cv) buckets through the SAME `probeSimhashIndex`
    * path as the batch `q_dedup_simhash_incremental` — verdicts identical
    * live or in bulk. Stateless foreachBatch; exactly-once per-batch_id
    * partition overwrite. */
  def streamSimhashDedup(docs: DataFrame, indexPath: String,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    docs.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Dedup.probeSimhashIndex(batch.sparkSession, batch, indexPath)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outDir)
      }
      .start()

  /** LIVE exact-substring gate — [[streamDedupIncremental]]'s twin over
    * the persisted substring gram-hash set (`Dedup.writeSubstrIndex`):
    * each micro-batch of (doc_id, text) hashes its char L-grams
    * map-side, left-semi probes the corpus hash set, and emits merged
    * duplicated spans through the SAME `probeSubstrIndex` path as the
    * batch `q_dedup_substring_incremental` — verdicts identical live or
    * in bulk. Stateless foreachBatch; exactly-once per-batch_id
    * partition overwrite. */
  def streamSubstringDedup(docs: DataFrame, indexPath: String,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    docs.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Dedup.probeSubstrIndex(batch.sparkSession, batch, indexPath)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outDir)
      }
      .start()

  /** LIVE MinHash near-dup gate — the LSH twin of [[streamSimhashDedup]]
    * over the persisted MinHash band index (`Dedup.writeMinhashIndex`):
    * micro-batches shingle + signature map-side and probe the corpus's
    * (band, bh) buckets through the SAME `probeMinhashIndex` path as the
    * batch `q_dedup_minhash_incremental`. Stateless foreachBatch;
    * exactly-once per-batch_id partition overwrite. */
  def streamMinhashDedup(docs: DataFrame, indexPath: String,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    docs.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Dedup.probeMinhashIndex(batch.sparkSession, batch, indexPath)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outDir)
      }
      .start()

  /** LIVE ingest ADMISSION loop — the full production shape the one-way
    * gates above stop short of: each micro-batch of (doc_id, text) is
    * probed against the persisted gram index for near-dup verdicts and
    * THEN APPENDED into it (`Dedup.appendGramIndex`), so batch N+1
    * dedups against batches 1..N as well as the base corpus. Probe
    * precedes append, so a batch never matches itself. Verdicts stay
    * exactly-once (per-batch_id partition overwrite); the append is
    * guarded by a per-batch marker under `indexPath/appended/` (written
    * through the Hadoop FileSystem API, so HDFS/S3A layouts work)
    * because parquet-append is NOT idempotent under batch replay. A
    * crash between append and marker commit re-appends at most that one
    * batch — duplicate index entries inflate shared counts only for
    * that batch's docs, the same one-sided drift class the append
    * contract documents; a rebuild reclaims exactness.
    *
    * The VERDICT write is guarded by the SAME marker: once a batch's
    * append committed, the index contains the batch's own rows, so a
    * replayed probe would see every record match ITSELF (an ER probe
    * self-matches at score 100, a dedup probe at similarity 1.0) and
    * the partition-overwrite would silently flip the original verdicts
    * — minted 1→0, matched keys repointed to self. Marker present ⇒
    * the prior attempt got past BOTH writes (probe precedes append
    * precedes marker), so the whole batch body is skipped and the
    * verdicts on disk stay the pre-absorb truth. Marker absent USUALLY
    * means the probe side is still batch-free (the append hadn't run)
    * and the rewrite is deterministic; the residual window is
    * append-committed-but-marker-missing — a replay there still
    * re-probes an index containing the batch and overwrites that ONE
    * batch's verdicts with self-matches. One batch wide, recovery =
    * rebuild; the guard shrinks the r19 hazard from every-replay to
    * that single crash point, it does not close it. */
  private def ingestLoop(
      probe: (org.apache.spark.sql.SparkSession, DataFrame, String) => DataFrame,
      append: (org.apache.spark.sql.SparkSession, String, DataFrame) => Unit)(
      docs: DataFrame, indexPath: String,
      outDir: String, checkpointDir: String,
      trigger: Trigger): StreamingQuery =
    docs.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val marker = new org.apache.hadoop.fs.Path(s"$indexPath/appended/$batchId")
        val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (!fs.exists(marker)) {
          // materialized once: consumed by the probe AND the append below
          val b = batch.localCheckpoint()
          probe(s, b, indexPath)
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(outDir)
          append(s, indexPath, b)
          fs.mkdirs(marker.getParent)
          fs.createNewFile(marker)
          ()
        }
      }
      .start()

  def streamIngestDedup(docs: DataFrame, indexPath: String,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    ingestLoop(graft.operators.Dedup.probeGramIndex,
        graft.operators.Dedup.appendGramIndex)(
      docs, indexPath, outDir, checkpointDir, trigger)

  /** [[streamIngestDedup]]'s MinHash twin — probe the (band, bh) index,
    * absorb the batch under the index's persisted cap. */
  def streamIngestMinhashDedup(docs: DataFrame, indexPath: String,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    ingestLoop(graft.operators.Dedup.probeMinhashIndex,
        graft.operators.Dedup.appendMinhashIndex)(
      docs, indexPath, outDir, checkpointDir, trigger)

  /** [[streamIngestDedup]]'s URL-frontier twin — the live crawl-scheduler
    * gate: each micro-batch's output is exactly its genuinely-NEW
    * canonical URLs (+ first in-batch carrier); probe precedes append,
    * so a batch never matches itself, and the batch's URLs join the
    * at-rest frontier for batch N+1. Append is O(batch) with no read of
    * the existing set (`CorpusOps.appendUrlFrontier`). */
  def streamIngestUrlFrontier(docs: DataFrame, indexPath: String,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    ingestLoop(graft.operators.CorpusOps.probeUrlFrontier,
        graft.operators.CorpusOps.appendUrlFrontier)(
      docs, indexPath, outDir, checkpointDir, trigger)

  /** [[streamIngestDedup]]'s substring twin — probe the gram-hash set,
    * absorb the batch (append is O(batch): no read of the existing
    * index; see `Dedup.appendSubstrIndex`). */
  def streamIngestSubstringDedup(docs: DataFrame, indexPath: String,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    ingestLoop(graft.operators.Dedup.probeSubstrIndex,
        graft.operators.Dedup.appendSubstrIndex)(
      docs, indexPath, outDir, checkpointDir, trigger)

  /** the winnowed form of the substring admission loop — both the probe
    * and the absorbed rows are the ~2/(w+1) selected fingerprints
    * (`Dedup.writeWinnowIndex`), the right trade once the live corpus
    * is too big for the exact hash set */
  def streamIngestWinnowDedup(docs: DataFrame, indexPath: String,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    ingestLoop(graft.operators.Dedup.probeWinnowIndex,
        graft.operators.Dedup.appendWinnowIndex)(
      docs, indexPath, outDir, checkpointDir, trigger)

  /** [[streamIngestDedup]]'s SimHash twin — probe the (chunk, cv) index,
    * absorb the batch under the index's persisted cap. */
  def streamIngestSimhashDedup(docs: DataFrame, indexPath: String,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    ingestLoop(graft.operators.Dedup.probeSimhashIndex,
        graft.operators.Dedup.appendSimhashIndex)(
      docs, indexPath, outDir, checkpointDir, trigger)

  /** [[streamIngestDedup]]'s SEMANTIC twin — each micro-batch of
    * (vec_id, embedding) is probed for SemDeDup verdicts against the
    * persisted semantic index and then absorbed into its cid lists
    * (`Similarity.appendSemanticIndex` — assignment-append, no
    * retrain). Same exactly-once verdicts + marker-guarded appends. */
  def streamIngestSemanticDedup(vecs: DataFrame, indexPath: String,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    ingestLoop(graft.operators.Similarity.probeSemanticIndex,
        graft.operators.Similarity.appendSemanticIndex)(
      vecs, indexPath, outDir, checkpointDir, trigger)

  /** Streaming split router — the serving half of `q_split_assign`:
    * arriving documents are stamped with the IDENTICAL deterministic
    * md5-bucket split label the batch query declares (shared `splitOf`
    * expression — a doc gets the same split whether it arrives in a
    * batch backfill or live) and land partitioned by (split, batch_id),
    * so each split is one prunable directory subtree a trainer reads
    * directly. Stateless (the label is a pure function of doc_id — no
    * watermark, no state store); exactly-once via per-(split, batch_id)
    * dynamic partition overwrite like the other parquet sinks. */
  def streamSplitRoute(docs: DataFrame, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    docs.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch
          .withColumn("split", graft.operators.CorpusOps.splitOf(col("doc_id")))
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("split", "batch_id")
          .parquet(outDir)
      }
      .start()

  /** Streaming temperature-sampling gate — the serving half of
    * `q_sample_temperature`: per-source keep-thresholds derive batch-side
    * from the corpus (the α = ½ flattening rule, catalog-sized frame);
    * arriving docs keep/drop via the IDENTICAL md5 coin against the
    * broadcast thresholds — the same doc survives whether it arrives in
    * a backfill or live. Stateless map-side decision, no watermark, no
    * state store. Like [[streamQualityGate]], the static rates frame is
    * persisted by default via [[cachedGateFrame]] (it is re-planned every
    * micro-batch; without the cache a 2 s trigger re-aggregates the
    * corpus per batch for an unchanged catalog-sized table — and repeated
    * gate construction reuses ONE cached frame instead of stacking
    * blocks); pass `liveRates = true` to recompute
    * per batch so a corpus rewrite retunes the mix without a restart.
    * Input needs (doc_id, source). */
  def streamTemperatureGate(docs: DataFrame, corpusDir: String,
      liveRates: Boolean = false): DataFrame = {
    val s = docs.sparkSession
    val rates =
      if (liveRates) graft.operators.CorpusOps.temperatureRates(s, corpusDir)
      else cachedGateFrame(s, corpusDir, "temp_rates")(
        graft.operators.CorpusOps.temperatureRates(s, corpusDir))
    docs
      .join(broadcast(rates.select(col("source"), col("thr"))), "source")
      .where(graft.operators.CorpusOps.coin(col("doc_id")) % 10000 < col("thr"))
      .select("doc_id", "source")
  }

  /** Streaming quality gate — the serving half of `q_quality_filter`.
    * Arriving documents are scored with the IDENTICAL `qualityOf`
    * expression the batch corpus was scored with, then cut against the
    * p25 threshold derived from the batch corpus via a STREAM-STATIC
    * broadcast join. This is the two-phase contract at scale: the
    * statistics pass runs batch-side where a full distribution is cheap;
    * enforcement is a stateless map-side projection — no watermark, no
    * state store, no driver-side threshold plumbing.
    *
    * By default the 1-row threshold frame is persisted via
    * [[cachedGateFrame]]: the static side is re-PLANNED every
    * micro-batch, and without the cache that re-plan re-scores the whole
    * corpus on a 2 s trigger for an unchanged scalar (and repeated gate
    * construction reuses ONE cached frame — no block accumulation).
    * Pass `liveThreshold = true` to skip the cache and recompute per
    * batch — then rewriting the corpus mid-stream updates the cut without
    * a restart, at full corpus-scan cost per trigger.
    * Input needs (doc_id, text). */
  def streamQualityGate(docs: DataFrame, corpusDir: String,
      liveThreshold: Boolean = false): DataFrame = {
    val s = docs.sparkSession
    val thr =
      if (liveThreshold) graft.operators.TextAnalysis.qualityThresholdFrame(s, corpusDir)
      else cachedGateFrame(s, corpusDir, "quality_thr")(
        graft.operators.TextAnalysis.qualityThresholdFrame(s, corpusDir))
    docs
      .select(col("doc_id"), graft.operators.TextAnalysis.qualityOf(col("text")).as("quality"))
      .join(broadcast(thr), col("quality") >= col("thr"))
      .select(col("doc_id"), col("quality"))
  }

  /** The COMPOSED live-curation gate — the streaming serving twin of
    * `q_curate_e2e`: each micro-batch of arriving documents
    * (doc_id, text, lang, source) runs the full curation chain
    *
    *   near-dup drop vs the persisted corpus gram index
    *   → PII scrub → quality cut at the curated corpus's p25
    *   → temperature keep-coin at the corpus's per-source rates
    *
    * via [[graft.operators.Curate.curateBatch]] — the SAME function a
    * batch backfill calls, so a doc's verdict is identical whether it
    * arrives live or in bulk. The statistics frames (1-row quality
    * threshold, catalog-sized temperature rates) come from
    * [[cachedGateFrame]] — derived once, persisted across micro-batches
    * AND across repeated gate constructions, released by
    * [[clearGateStatsCache]]; per-trigger work is the arriving
    * slice only (index probe equi-join + stateless projections + two
    * broadcasts). foreachBatch like [[streamDedupIncremental]]: the
    * probe aggregation is per-batch stateless, so streaming-aggregation
    * state would be pure overhead. Exactly-once: each batch overwrites
    * its own `batch_id=N` partition on replay. */
  def streamCurateGate(docs: DataFrame, corpusDir: String, indexPath: String,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery = {
    val s = docs.sparkSession
    val qThr = cachedGateFrame(s, corpusDir, "curate_thr")(
      graft.operators.Curate.curateThresholdFrame(s, corpusDir))
    val rates = cachedGateFrame(s, corpusDir, "temp_rates")(
      graft.operators.CorpusOps.temperatureRates(s, corpusDir))
    docs.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Curate
          .curateBatch(batch.sparkSession, batch, indexPath, qThr, rates)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outDir)
      }
      .start()
  }

  /** LIVE media feature extraction — the streaming serving twin of
    * `q_media_features`' kernel: each micro-batch of
    * (media_id, kind, content) rows runs the SAME partition-local
    * batched decode kernel (`Multimodal.extractFeatures` — ImageIO
    * stills, WAV-PCM audio, MP4 sample-table frame decode, byte-sketch
    * fallback) as the batch path, so a media row's features are
    * identical whether it arrives live or in bulk. Metadata comes from
    * `probeMedia` on the arriving bytes — the binary column is the
    * source of truth at ingest, the same rule the batch kernel applies.
    * Stateless by design (per-row decode needs no cross-batch state);
    * media bytes never leave their arriving partition — only the
    * 16-float feature rows are written. Exactly-once per-batch_id
    * partition overwrite like the other gates. */
  def streamMediaFeatures(media: DataFrame, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    media.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s2 = batch.sparkSession
        import s2.implicits._
        // carried meta is a placeholder: extractFeatures probes the
        // container bytes itself (its documented source-of-truth rule),
        // so probing here too would walk every video's boxes twice per
        // batch for a field nothing reads
        val blank = graft.functions.Multimodal.MediaMeta(null, 0, 0, 0, 0)
        val typed = batch.select(col("media_id"), col("kind"), col("content"))
          .as[(Long, String, Array[Byte])]
          .map { case (id, kind, content) =>
            graft.functions.Multimodal.MediaRow(id, kind, content, blank)
          }
        graft.functions.Multimodal.extractFeatures(typed)
          .toDF()
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outDir)
      }
      .start()

  /** LIVE semantic dedup — the embedding-side twin of
    * [[streamDedupIncremental]]: each micro-batch of (vec_id, embedding)
    * rows probes the persisted corpus semantic index
    * (`Similarity.writeSemanticIndex`) and emits nearest-corpus-neighbor
    * verdicts through the SAME code path as the batch
    * `q_dedup_semantic_incremental`. Stateless by design (a vector's cell
    * assignment needs only the broadcast codebook; cross-batch state would
    * be pure overhead); exactly-once per-batch_id partition overwrite. */
  def streamSemanticDedup(vecs: DataFrame, indexPath: String,
      outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    vecs.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Similarity.probeSemanticIndex(batch.sparkSession, batch, indexPath)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outDir)
      }
      .start()

  /** LIVE ANN serving — the index-probe twin of [[streamSemanticDedup]]
    * for the IVF+PQ family: each micro-batch of (pid, pe) probe vectors
    * routes through [[graft.operators.Similarity.ivfPqQueryIndexBatch]]
    * — the SAME set-oriented IVFADC engine a batch query calls (routed
    * cells via bounded KnnTopK on the broadcast codebook, per-probe ADC
    * tables, exact re-rank of the top-R) — so a probe's top-k is
    * identical whether it arrives live or in bulk (StreamingSpec pins
    * stream ≡ batch ≡ single-probe). Stateless by design: a probe needs
    * only the broadcast quantizers and its routed cells, so cross-batch
    * streaming state would be pure overhead. Exactly-once: each batch
    * overwrites its own `batch_id=N` partition on replay. */
  def streamAnnProbe(probes: DataFrame, indexPath: String,
      outDir: String, checkpointDir: String, k: Int = 10,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    probes.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Similarity
          .ivfPqQueryIndexBatch(batch.sparkSession, indexPath, batch, k)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outDir)
      }
      .start()

  /** [[streamAnnProbe]]'s twin for the PLAIN IVF index family
    * (`Similarity.writeIvfIndex` layouts, exact re-rank without the PQ
    * approximate phase) via [[graft.operators.Similarity.annQueryIndexBatch]]
    * — every persisted-index family ships the same batch ≡ stream
    * contract. Stateless foreachBatch, exactly-once per-batch_id
    * partition overwrite. */
  def streamAnnProbeIvf(probes: DataFrame, indexPath: String,
      outDir: String, checkpointDir: String, k: Int = 10,
      trigger: Trigger = Trigger.ProcessingTime("2 seconds")): StreamingQuery =
    probes.writeStream
      .trigger(trigger)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Similarity
          .annQueryIndexBatch(batch.sparkSession, indexPath, batch, k)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outDir)
      }
      .start()

  /** Stream-stream INTERVAL join — live conversion attribution: each
    * purchase matches the same user's views within the trailing
    * `horizon`. Both sides carry watermarks, so the join's buffered state
    * is BOUNDED: a view older than purchase-watermark − horizon can never
    * match again and is evicted; at any stream volume the state is
    * O(events within horizon + watermark delay), not O(stream). The time
    * bound must be two-sided for that eviction to apply — an unbounded
    * `v_ts <= p_ts` alone would force Spark to keep every view forever.
    * Input frames need (event_id, timestamp, user_id). */
  def streamConversions(views: DataFrame, purchases: DataFrame,
      horizon: String = "1 HOUR", watermark: String = "10 minutes"): DataFrame = {
    val v = views
      .selectExpr("event_id AS v_id", "timestamp AS v_ts", "user_id AS v_user")
      .withWatermark("v_ts", watermark)
    val p = purchases
      .selectExpr("event_id AS p_id", "timestamp AS p_ts", "user_id AS p_user")
      .withWatermark("p_ts", watermark)
    p.join(v,
      expr(s"p_user = v_user AND v_ts <= p_ts AND v_ts >= p_ts - INTERVAL $horizon"))
      .select(col("p_id"), col("p_ts"), col("p_user").as("user_id"),
        col("v_id"), col("v_ts"))
  }

  def statefulDeviceCounts(logs: DataFrame): Dataset[DeviceCount] = {
    val spark = logs.sparkSession
    import spark.implicits._
    logs.selectExpr("device", "severity")
      .as[(String, Byte)]
      .groupByKey(_._1)
      .mapGroupsWithState[DeviceCount, DeviceCount](GroupStateTimeout.NoTimeout) {
        (device: String, rows: Iterator[(String, Byte)], state: GroupState[DeviceCount]) =>
          val prev = state.getOption.getOrElse(DeviceCount(device, 0L, 0L))
          var total = prev.total
          var errors = prev.errors
          rows.foreach { case (_, sev) =>
            total += 1
            if (sev <= 3) errors += 1
          }
          val next = DeviceCount(device, total, errors)
          state.update(next)
          next
      }
  }
}

/** The task side of [[Pipeline.writeJdbcBatch]]: converts the partition's
  * Catalyst rows to `Row`s and hands them to Spark's own
  * `JdbcUtils.savePartition`. A class rather than a lambda, passed
  * straight to `SparkContext.runJob`, so Spark's closure cleaner finds no
  * closure and reads no class file. */
private[streaming] final class JdbcPartitionWriter(options: JdbcOptionsInWrite,
    schema: StructType, insert: String, dialect: JdbcDialect)
    extends ((TaskContext, Iterator[InternalRow]) => Unit) with Serializable {
  def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Unit = {
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    JdbcUtils.savePartition(options.table, rows.map(toRow(_).asInstanceOf[Row]), schema,
      insert, options.batchSize, dialect, options.isolationLevel, options)
  }
}
