package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: a SparkSession configured the way every graft
  * operator expects — UTC, AQE on, nanosecond-parquet compatibility,
  * local streaming checkpoints written without Hadoop's fork-heavy
  * `FileContext` ([[streaming.LocalFsCheckpointFileManager]]), and a
  * shuffle-partition count sized to the execution environment instead of
  * the 200 default.
  *
  * On a real cluster pass the actual core count (or leave shufflePartitions
  * at 0 to let AQE coalesce from a high initial value); in local mode match
  * the local parallelism.
  */
object GraftSession {

  def builder(appName: String = "graft",
      master: Option[String] = None,
      shufflePartitions: Int = 0): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // events-style feeds carry TIMESTAMP(NANOS) parquet, unreadable by
      // Spark natively; ingest as BIGINT ns (see util.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(streaming.LocalFsCheckpointFileManager.ConfKey,
        classOf[streaming.LocalFsCheckpointFileManager].getName)
    val withMaster = master.fold(b)(b.master)
    if (shufflePartitions > 0)
      withMaster.config("spark.sql.shuffle.partitions", shufflePartitions)
    else withMaster
  }

  /** the dev mains' core count: SPARK_GRAFT_CPUS when set, else the JVM's */
  def envCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors())(_.toInt)

  /** local development/test session: local[n], shuffle partitions = n */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    builder(master = Some(s"local[$cores]"), shufflePartitions = cores)
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** The TIMED bench session shape, shared by Bench and tools.Profile so a
    * profile always reproduces bench-session partitioning (they drifted in
    * r21 and the profile stopped matching what it was meant to explain).
    *
    * AQE partition sizing for the local small-SF bench: the default 64 MB
    * advisory size coalesces every shuffle of KB-to-MB test data to ONE
    * post-shuffle task, serializing reduce work on a 32-core box. ~1 MB
    * advisory with a 64 KB floor restores reduce-side parallelism at
    * sf ≤ 0.1 without shattering reduce stages into tiny tasks; production
    * SFs should keep the Spark defaults (partitions fill out on their own
    * at TB scale). A 16 KB floor was tried in r21 and regressed the
    * local[32] suite 1.87× geomean (4× more sub-64 KB reduce tasks = pure
    * scheduling tax at 32 threads; nearly invisible at 8) — any future
    * change to these two values must be A/B-gated at BOTH local[32] and
    * local[8] before landing. */
  def benchLocal(cpus: String, appName: String = "graft-bench"): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
}

/** Environment-driven deployment config — the reference's `.env` contract
  * (`/root/reference/main.go:96-99` loads `.env` and exits non-zero when
  * it is absent; the UDP port and ClickHouse target come from env). Same
  * fail-fast stance: every missing or malformed variable is reported in
  * one exception at startup, not discovered mid-stream. */
final case class GraftConfig(
    port: Int,
    sinkUrl: String,
    sinkTable: String,
    flushRows: Long,
    /** the flush interval, `ProcessingTime` syntax: the time half of the
      * flush rule, which [[GraftConfig.run]] hands to the source */
    trigger: String,
    checkpointDir: String,
    /** "default" (HDFS-backed heap store) or "rocksdb" — see
      * [[streaming.Pipeline.useRocksDbStateStore]] */
    stateStore: String = "default")

object GraftConfig {
  val Required: Seq[String] = Seq("GRAFT_UDP_PORT", "GRAFT_SINK_URL", "GRAFT_SINK_TABLE")

  /** parse + validate; throws IllegalArgumentException naming EVERY
    * problem (reference behavior: fail fast before binding anything) */
  def fromEnv(env: Map[String, String] = sys.env): GraftConfig = {
    val problems = scala.collection.mutable.ArrayBuffer[String]()
    Required.filterNot(env.contains).foreach(k => problems += s"$k is not set")
    val port = env.get("GRAFT_UDP_PORT").flatMap(_.toIntOption)
    if (env.contains("GRAFT_UDP_PORT") && port.forall(p => p < 1 || p > 65535))
      problems += s"GRAFT_UDP_PORT must be a port number, got '${env("GRAFT_UDP_PORT")}'"
    val flushRows = env.get("GRAFT_FLUSH_ROWS")
      .map(v => v.toLongOption.getOrElse { problems += s"GRAFT_FLUSH_ROWS must be a number, got '$v'"; 0L })
      .getOrElse(sources.UdpSourceProvider.FlushRows)
    val trigger = env.getOrElse("GRAFT_TRIGGER", "2 seconds")
    try sources.Ingest.intervalMs(trigger)
    catch { case e: IllegalArgumentException => problems += s"GRAFT_TRIGGER: ${e.getMessage}" }
    val stateStore = env.getOrElse("GRAFT_STATE_STORE", "default").toLowerCase
    if (!Set("default", "rocksdb").contains(stateStore))
      problems += s"GRAFT_STATE_STORE must be 'default' or 'rocksdb', got '${env("GRAFT_STATE_STORE")}'"
    if (problems.nonEmpty)
      throw new IllegalArgumentException(s"invalid environment: ${problems.mkString("; ")}")
    GraftConfig(
      port = port.get,
      sinkUrl = env("GRAFT_SINK_URL"),
      sinkTable = env("GRAFT_SINK_TABLE"),
      flushRows = flushRows,
      trigger = trigger,
      checkpointDir = env.getOrElse("GRAFT_CHECKPOINT",
        java.nio.file.Files.createTempDirectory("graft_ckpt").toString),
      stateStore = stateStore)
  }

  /** dotenv parsing (reference `main.go:96-99`, godotenv.Load): KEY=VALUE
    * lines; `#` comments and blank lines skipped; an `export ` prefix and
    * one matched pair of single/double quotes stripped; a ` #`-prefixed
    * trailing comment on an UNQUOTED value is stripped (godotenv parity —
    * `#` inside quotes is literal); anything else fails fast with its
    * line number — a malformed deployment file should stop startup, not
    * silently drop a variable. */
  def parseDotEnv(lines: Seq[String]): Map[String, String] = {
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    val problems = scala.collection.mutable.ArrayBuffer[String]()
    lines.zipWithIndex.foreach { case (raw, i) =>
      val line = raw.trim
      if (line.nonEmpty && !line.startsWith("#")) {
        val body = if (line.startsWith("export ")) line.stripPrefix("export ").trim else line
        val eq = body.indexOf('=')
        if (eq <= 0) problems += s"line ${i + 1}: expected KEY=VALUE, got '$line'"
        else {
          val k = body.substring(0, eq).trim
          var v = body.substring(eq + 1).trim
          if (v.length >= 2 && (v.head == '"' || v.head == '\'')) {
            // quoted value: content runs to the MATCHING close quote, and
            // whatever follows may only be blank or a comment — so
            // `KEY="v" # note` yields v (godotenv parity; the pre-round-7
            // form tested head-and-last quote first and left the literal
            // quotes in), while `#` inside the quotes stays literal
            val q = v.head
            val close = v.indexOf(q, 1)
            val rest = if (close > 0) v.substring(close + 1).trim else v
            if (close > 0 && (rest.isEmpty || rest.startsWith("#")))
              v = v.substring(1, close)
            else if (v.last == q) // e.g. `"a"b"` — legacy outer-pair strip
              v = v.substring(1, v.length - 1)
          } else if (v.startsWith("#")) v = "" // `KEY= # comment` → empty
          else {
            val c = v.indexOf(" #")
            if (c >= 0) v = v.substring(0, c).trim
          }
          if (k.matches("[A-Za-z_][A-Za-z0-9_]*")) out(k) = v
          else problems += s"line ${i + 1}: invalid variable name '$k'"
        }
      }
    }
    if (problems.nonEmpty)
      throw new IllegalArgumentException(s"malformed .env: ${problems.mkString("; ")}")
    out.toMap
  }

  /** read `path` if present; an absent file is an empty map (the library
    * stance — tests and spark-submit deployments configure via real env) */
  def loadDotEnv(path: String = ".env"): Map[String, String] = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      parseDotEnv(scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(p)).asScala.toSeq)
    else Map.empty
  }

  /** reference-main parity: `.env` MUST exist (`main.go` exits non-zero
    * without one), file values merge UNDER the process environment — a
    * variable exported for the process always wins, godotenv's
    * non-override default. */
  def fromDotEnv(path: String = ".env", env: Map[String, String] = sys.env): GraftConfig = {
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      throw new IllegalArgumentException(s"Error loading .env file: '$path' not found")
    fromEnv(loadDotEnv(path) ++ env)
  }

  /** the whole reference program from config: UDP source → parse → JDBC
    * bulk sink — `main()` ≡ this one call. The source owns the reference's
    * whole flush rule (`flushRows` rows OR the `trigger` interval tick,
    * whichever first), so the query polls on `ProcessingTime(0)`: a full
    * batch commits as soon as its rows are in, not at the next tick. */
  def run(spark: SparkSession, cfg: GraftConfig): org.apache.spark.sql.streaming.StreamingQuery = {
    if (cfg.stateStore == "rocksdb") streaming.Pipeline.useRocksDbStateStore(spark)
    val lines = spark.readStream
      .format(classOf[sources.UdpSourceProvider].getName)
      .option("port", cfg.port.toString)
      .option("maxRowsPerBatch", cfg.flushRows.toString)
      .option("flushInterval", cfg.trigger)
      .load()
    streaming.Pipeline.startJdbc(lines, cfg.sinkUrl, cfg.sinkTable, cfg.checkpointDir,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
  }
}
