package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared helpers for every declared query (SURVEY.md §2 determinism rules).
  *
  * Determinism contract with the DuckDB oracle:
  *   - money/quantity aggregates run on DECIMAL (exact, order-independent),
  *     then round(…,4) and cast to DOUBLE — both engines produce identical
  *     bits, so the driver's hash compare is stable;
  *   - every query ends in a total ORDER BY (tie-broken);
  *   - events.ts is nanosecond parquet (Spark can't read TIMESTAMP(NANOS)):
  *     read with spark.sql.legacy.parquet.nanosAsLong=true → BIGINT ns, then
  *     truncate to µs (`ts div 1000`), which matches DuckDB `ts::TIMESTAMP`.
  */
object util {
  type Q = (SparkSession, String) => DataFrame

  // NOTE (r21): a per-(session, table) SCHEMA memo for t() was tried and
  // reverted — a one-off micro-bench measured cold schema inference at
  // ~57 ms vs ~5 ms with an explicit schema, but two full-bench A/Bs read the
  // memo as a wash (median per-query ratio 1.01x): in a long-lived bench
  // session the footer/listing work is already OS/session-cache warm, so
  // the memo only added bookkeeping.
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** events with ts normalized: ts_us (µs since epoch, BIGINT) and ts
    * (TIMESTAMP, µs precision) — DuckDB twin: epoch_us(ts::TIMESTAMP) /
    * ts::TIMESTAMP. Schema-adaptive because the generator has shipped
    * both encodings: TIMESTAMP(NANOS) parquet arrives as BIGINT ns
    * (spark.sql.legacy.parquet.nanosAsLong=true) and truncates to µs;
    * TIMESTAMP[µs] (NTZ or not) converts via unix_micros under the
    * UTC session, the same instant DuckDB's epoch_us sees. */
  def events(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val tsUs = raw.schema("ts").dataType match {
      case LongType => expr("ts div 1000")
      case _ => unix_micros(col("ts").cast(TimestampType))
    }
    raw.withColumn("ts_us", tsUs)
      .withColumn("ts", timestamp_micros(col("ts_us")))
  }

  /** exact decimal view of a 2-dp money/rate double */
  def d2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** round to 4 and emit DOUBLE (final output form for aggregates) */
  def r4(c: Column): Column = round(c, 4).cast(DoubleType)

  /** Tie-stable 4-dp rounding for pure-double pipelines: Spark's round()
    * decimalizes doubles via their SHORTEST string repr (0.5377499..95 →
    * "0.53775" → HALF_UP → .5378) while DuckDB rounds the binary value
    * (→ .5377). floor(x·10⁴+0.5)/10⁴ is plain IEEE arithmetic, so equal
    * input doubles give equal outputs in both engines.
    * Oracle twin: floor(x * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE */
  def r4f(c: Column): Column =
    (floor(c * 10000d + 0.5d) / 10000d).cast(DoubleType)

  /** exact decimal view of an r4f-rounded double. Safe only for such
    * inputs: the double is within an ulp of k·10⁻⁴, so Spark's
    * shortest-string cast and DuckDB's binary-scaled cast both land on
    * exactly k·10⁻⁴ — summing these decimals is exact and
    * partition-order-independent, unlike summing the doubles. */
  def d4(c: Column): Column = c.cast(DecimalType(18, 4))

  /** exact decimal average → double: sum(decimal)/count. The division is a
    * pure double, so the final rounding must be the tie-stable floor form
    * (r4f), NOT Spark round() — see r4f. DuckDB twin:
    * floor(CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE)/count(x)
    *       * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE */
  def avgD2(c: Column): Column =
    r4f(sum(d2(c)).cast(DoubleType) / count(c))

  /** Scale-adaptive fan-out before a row-amplifying kernel (deletion-
    * neighborhood explodes, shingle/n-gram generators, multi-pass regex):
    * hash-repartition `df` to the session's parallelism ONLY when its
    * file-scan leaves are too small to have split wide in the first place
    * (estimated splits = scan bytes / spark.sql.files.maxPartitionBytes).
    *
    * Why: a kernel that multiplies rows ×20 does its work on the MAP side
    * of the next exchange, so its parallelism is its input's — and both
    * sources of input parallelism collapse on small-vs-cores inputs: a
    * sub-split-size scan is ONE task (parquet can't split below a row
    * group), and an interior exchange below the kernel gets AQE-coalesced
    * by its *input* bytes, which undercount the kernel's amplification
    * (guide §2: AQE sizes partitions by shuffle bytes, not downstream
    * cost). Measured at sf0.1: the fuzzy2/ER candidate fronts ran their
    * whole explode → probe → verify pipeline in one 2-6 s task on a
    * 32-core box (plans/r21/ before-plans).
    *
    * At cluster scale (scan bytes ≫ splits × cores) the estimate clears
    * the bar and this is a NO-OP — the repartition never appears in the
    * 100 TB plan, so it costs nothing where scans already parallelize.
    * The partition count comes from `defaultParallelism` (total cores),
    * never a constant; keys must be high-cardinality data columns so the
    * hash placement is deterministic under task retry (guide §2.5). */
  def fanOut(df: DataFrame, keys: Column*): DataFrame = {
    require(keys.nonEmpty, "fanOut needs deterministic repartition keys")
    val sess = df.sparkSession
    val par = sess.sparkContext.defaultParallelism
    val maxSplit = sess.sessionState.conf.filesMaxPartitionBytes
    val leaves = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.sizeInBytes
    }
    val estSplits =
      if (leaves.isEmpty) Long.MaxValue // no visible scan — don't touch
      else leaves.map(b => math.max(1L, b / math.max(1L, maxSplit))).sum
    if (estSplits >= par) df
    else {
      // hash on a DERIVED key, not the raw columns: a repartition on the
      // raw key right above an aggregation/join keyed the same way is
      // elided by EnsureRequirements (child partitioning already
      // satisfies it) and the surviving ENSURE_REQUIREMENTS exchange is
      // then AQE-coalesced right back to ~1 partition — measured on
      // q_join_fuzzy2, whose name_a fan-out vanished from the plan. The
      // synthetic key is deterministic under retry (guide §2.5: derive
      // with xxhash64, never rand) and 64× the partition count so the
      // pmod spreads evenly.
      val syn = pmod(xxhash64(keys: _*), lit(par * 64L))
      df.repartition(par, syn)
    }
  }

  /** driver-side fingerprint of one input table's files (names + sizes +
    * mtimes) — O(#files), no data read. Cache keys derived from it
    * invalidate when the parquet under `dir` is rewritten mid-session
    * (the staleness hazard memoized derived frames would otherwise
    * have). */
  def inputFingerprint(dir: String, table: String): String = {
    val root = java.nio.file.Paths.get(dir, table)
    if (!java.nio.file.Files.exists(root)) "absent"
    else {
      val walk = java.nio.file.Files.walk(root)
      try {
        val entries = scala.jdk.CollectionConverters.IteratorHasAsScala(walk.iterator()).asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(p => s"$p:${java.nio.file.Files.size(p)}:${java.nio.file.Files.getLastModifiedTime(p).toMillis}")
          .toSeq.sorted
        java.util.UUID.nameUUIDFromBytes(entries.mkString("\n").getBytes("UTF-8")).toString
      } finally walk.close()
    }
  }

  /** best-effort recursive delete of a superseded on-disk index/cache
    * directory — replaced or cleared memo entries would otherwise orphan
    * a full corpus copy under /tmp per invalidation (the bench clears the
    * caches before EVERY measured run), unbounded over a session */
  def deleteRecursively(path: String): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(path)
      if (java.nio.file.Files.exists(root))
        java.nio.file.Files.walk(root).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(p => try java.nio.file.Files.delete(p) catch { case _: Throwable => })
    } catch { case _: Throwable => }
}
