package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch/streaming sinks (SURVEY.md §2 B.1 sink_parquet /
  * stream_sink_batched) — the at-rest layout half of the reference's
  * ClickHouse table.
  *
  * At 100 TB the layout IS the index: day-partitioned directories give
  * partition pruning on the canonical time-range scans (`q_date_trunc`
  * family), and sorting within files by timestamp gives parquet row-group
  * min/max skipping inside each day.
  */
object Sinks {

  /** day-partitioned, timestamp-sorted parquet layout for log rows
    * (columns per model.logSchema). `repartition(day)` gives one writer
    * task per partition value — no small-file explosion; files within a
    * day are row-group-sorted for min/max pruning. */
  def writeLogsPartitioned(logs: DataFrame, path: String): Unit =
    logs.withColumn("day", to_date(col("timestamp")))
      .repartition(col("day"))
      .sortWithinPartitions(col("timestamp"))
      .write.partitionBy("day").mode("append").parquet(path)

  /** Small-file compaction for one day partition of the
    * [[writeLogsPartitioned]] layout — the maintenance pass a streaming
    * sink needs: micro-batches append a file per trigger, and a 2 s
    * trigger writes ~43 k files/day/partition-column-value, which kills
    * scan planning long before data size matters. Rewrites the day's
    * rows into ceil(rows/targetRows) timestamp-sorted files via ONE
    * shuffle, replacing only that day's directory (dynamic partition
    * overwrite — concurrent readers of other days are untouched).
    * Idempotent: re-running on a compacted day is a no-op rewrite. */
  def compactDay(spark: org.apache.spark.sql.SparkSession, path: String,
      day: String, targetRows: Long = 1000000L): Unit = {
    val part = spark.read.parquet(path).where(col("day") === day)
    val n = part.count()
    if (n > 0) {
      val files = math.max(1, math.ceil(n.toDouble / targetRows).toInt)
      val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try part
        .repartition(files)
        .sortWithinPartitions(col("timestamp"))
        .write.partitionBy("day").mode("overwrite").parquet(path)
      finally prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  /** Training-data export: the corpus as deterministic JSONL shards —
    * the handoff format a trainer's data loader reads. Shard =
    * md5(doc_id) % shards, so (a) assignment is stable across runs and
    * engines (re-exports land every doc in the same shard — resumable
    * downstream caching), (b) shards are uniform regardless of doc_id
    * distribution, and (c) one writer task per shard (repartition on the
    * shard column), no small-file explosion. Spark's json sink IS
    * JSON-Lines: one object per line. */
  def writeCorpusShards(docs: DataFrame, path: String, shards: Int = 16): Unit =
    docs.withColumn("shard",
        pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10).cast("long"),
          lit(shards)))
      .repartition(col("shard"))
      .sortWithinPartitions(col("doc_id"))
      .write.partitionBy("shard").mode("overwrite").json(path)

  /** The at-rest half of `q_shuffle_shard` (operators/CorpusOps.scala):
    * materialize the deterministic global training shuffle as parquet
    * shards whose ROW ORDER is the training order. Each doc's shuffle key
    * is md5(seed ":" doc_id) (seed 0 ⇒ plain md5(doc_id), so the layout
    * matches the declared query's permutation exactly); its shard is the
    * key's coin mod `shards`; its stored `pos` is its 1-based rank within
    * the shard — the trainer resumes at step N by `WHERE pos > N`, and an
    * EPOCH is a re-export with the next seed (a fresh, equally
    * deterministic permutation — no state carried between epochs).
    *
    * One writer task per shard (repartition on the shard column), rows
    * sorted by pos within the file. Shard count scales with the corpus by
    * contract (training-file-sized shards), so the per-shard sort is
    * constant work — the `PackShards` rationale. */
  def writeTrainShards(docs: DataFrame, path: String, shards: Int = 64,
      seed: Long = 0L): Unit = {
    import org.apache.spark.sql.expressions.Window
    val skey =
      if (seed == 0L) md5(col("doc_id").cast("string"))
      else md5(concat_ws(":", lit(seed), col("doc_id").cast("string")))
    val w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    docs.withColumn("skey", skey)
      .withColumn("shard",
        conv(substring(col("skey"), 1, 8), 16, 10).cast("long") % shards)
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("skey")
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.partitionBy("shard").mode("overwrite").parquet(path)
  }

  /** Z-order (Morton) layout write — multi-column data skipping for the
    * at-rest corpus, the lakehouse OPTIMIZE ZORDER pattern: rows sort by
    * the bit-interleave of their key columns' RANK SPACES, so every
    * written file covers a narrow range of EVERY key, and parquet
    * row-group min/max stats prune scans filtered on any one of them. A
    * single-column sort gives perfect skipping on that column and none
    * on the others; Z-order trades a little of the first for skipping
    * on all.
    *
    * Rank-space normalization per key = sampling-based range bucketing
    * ([[ZOrderBits]] bits): approxQuantile boundaries are O(2^bits)
    * driver-side METADATA from one distributed Greenwald-Khanna pass
    * (the probe-planning class of collect, like the IVF codebook — never
    * a global window, never percent_rank's single task), and bucket
    * assignment is a pure map-side fold over the broadcast-literal
    * boundary array. Skewed keys cost nothing extra: quantile buckets
    * equalize mass by construction. The interleave is a pure shift/or
    * fold; `repartitionByRange` on the Z value then deals one file per
    * curve range. Numeric/timestamp key columns (cast to double for
    * bucketing — ties collapse to one bucket, which only coarsens
    * skipping, never corrupts it). */
  val ZOrderBits = 8

  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
      files: Int = 16): Unit = {
    val nBounds = (1 << ZOrderBits) - 1
    val probs = (1 to nBounds).map(_.toDouble / (nBounds + 1)).toArray
    val dd = zCols.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
      d.withColumn(s"__v$i", col(c).cast("double"))
    }
    val n = zCols.length
    graft.functions.VectorExpressions.register(df.sparkSession)
    // ONE Greenwald-Khanna pass for ALL key columns: the multi-column
    // approxQuantile overload scans the input once and returns each
    // column's boundary array, vs one full scan per key in the
    // column-at-a-time form — at a 100 TB layout build that is |zCols|
    // input scans collapsed to one
    val allBounds =
      dd.stat.approxQuantile(zCols.indices.map(i => s"__v$i").toArray, probs, 0.001)
    val bucketed = zCols.indices.foldLeft(dd) { case (d, i) =>
      val bounds = allBounds(i)
      // native codegen'd binary search over the sorted boundary array —
      // the HOF fold this replaces ran 2^bits interpreted lambda calls
      // per row; an empty bounds array (empty input) degrades to the
      // single bucket 0
      val bucket =
        if (bounds.isEmpty) lit(0L)
        else graft.functions.VectorExpressions.quantileBucket(col(s"__v$i"), bounds)
      d.withColumn(s"__b$i", bucket)
    }
    val interleave = zCols.indices.map { i =>
      // spread key i's bucket bits to every n-th position, offset by i:
      // Morton encoding generalized to n keys
      expr(s"aggregate(sequence(0, ${ZOrderBits - 1}), 0L, (acc, b) -> acc + " +
        s"shiftleft(shiftright(__b$i, b) & 1L, b * $n + $i))")
    }.reduce(_ + _)
    // materialize the Z value ONCE: repartitionByRange's range-boundary
    // sampling plus the write would otherwise each re-execute the whole
    // 2^bits-step bucket-fold chain (measured 3× the build cost); the
    // checkpointed frame is the input rows + one long column
    val withZ = bucketed.withColumn("__z", interleave)
      .drop(zCols.indices.flatMap(i => Seq(s"__v$i", s"__b$i")): _*)
      .localCheckpoint()
    withZ
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** order-independent digest modulus: row digests and their sum live in
    * [0, 2^61) so the exact-decimal sum fits any engine's arithmetic */
  val ManifestDigestMod: Long = 1L << 61

  /** The release-manifest JSON for an exported dataset directory,
    * deterministically rendered (sorted keys, fixed field order) so
    * producer and verifier can compare manifests byte-for-byte. Content
    * digest = Σ (60-bit md5 prefix of each row's canonical sorted-column
    * JSON) mod 2^61 — order- and partitioning-independent, recomputable
    * by any engine, and sensitive to any changed/added/dropped row.
    * Exact decimal summation, so no FP or overflow nondeterminism. */
  private def manifestJson(spark: org.apache.spark.sql.SparkSession,
      path: String, format: String): String = {
    val df = spark.read.format(format).load(path)
    val cols = df.columns.sorted
    val rowDigest = pmod(
      conv(substring(md5(to_json(struct(cols.map(col): _*))), 1, 15), 16, 10).cast("long"),
      lit(ManifestDigestMod))
    def digestAgg = pmod(sum(rowDigest.cast(org.apache.spark.sql.types.DecimalType(38, 0))),
      lit(ManifestDigestMod).cast(org.apache.spark.sql.types.DecimalType(38, 0)))
      .cast("long")
    val (rows, digest) = {
      val r = df.agg(count(lit(1)).as("n"), digestAgg.as("d")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val shardsJson =
      if (!df.columns.contains("shard")) ""
      else {
        val per = df.groupBy(col("shard").cast("string").as("s"))
          .agg(count(lit(1)).as("n"), digestAgg.as("d"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1)
          .map { case (s, n, d) => s""""$s":{"rows":$n,"digest":$d}""" }
          .mkString(",")
        s""","shards":{$per}"""
      }
    val schema = cols.map(c => s""""$c":"${df.schema(c).dataType.simpleString}"""").mkString(",")
    s"""{"format":"$format","rows":$rows,"digest":$digest,"schema":{$schema}$shardsJson}"""
  }

  /** Write `_MANIFEST.json` for an exported dataset directory — the
    * integrity contract between a dataset release and its trainer: row
    * count, schema, order-independent content digest, and per-shard
    * breakdown when the layout carries a `shard` column. Written via
    * tmp-file + atomic rename so a concurrent reader never observes a
    * torn manifest. */
  def writeManifest(spark: org.apache.spark.sql.SparkSession, path: String,
      format: String = "parquet"): Unit = {
    val json = manifestJson(spark, path, format)
    val dir = java.nio.file.Paths.get(path)
    val tmp = dir.resolve("_MANIFEST.json.tmp")
    java.nio.file.Files.write(tmp, (json + "\n").getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, dir.resolve("_MANIFEST.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Consumer-side integrity gate: recompute the manifest from the data
    * and compare byte-for-byte with the stored `_MANIFEST.json`. Any
    * changed, added, or dropped row (or schema drift) flips the digest
    * or counts; false also when no manifest exists. */
  def verifyManifest(spark: org.apache.spark.sql.SparkSession, path: String,
      format: String = "parquet"): Boolean = {
    val p = java.nio.file.Paths.get(path, "_MANIFEST.json")
    java.nio.file.Files.exists(p) && {
      val stored = new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim
      stored == manifestJson(spark, path, format)
    }
  }
}
