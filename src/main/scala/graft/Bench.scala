package graft
import scala.util.control.NonFatal
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // session shape (incl. the AQE partition-sizing rationale and the r21
    // 16k-floor post-mortem) lives in GraftSession.benchLocal, shared with
    // tools.Profile so profiles always reproduce bench partitioning
    val spark = GraftSession.benchLocal(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // warm up JVM/codegen/parquet-reader paths so the first measured query
    // doesn't absorb session startup cost
    try SparkEntry.entry(spark).count() catch { case NonFatal(_) => }
    // ... and the MEASURED execution path itself: entry() is a count(),
    // which skips the noop-sink write path and whole-stage-codegen
    // compilation the loop below exercises, so the first measured keys
    // still carried multi-x JIT warm-up spreads (q_severity_hourly hit
    // 20x min-of-2 in r17's driver artifact). Throwaway unmeasured runs
    // of the first ordered key plus the historical variance offender
    // through the SAME noop sink clean the variance head.
    for (name <- (SparkEntry.queries.keys.toSeq.sorted.take(1) ++
        Seq("q_severity_hourly")).distinct; fn <- SparkEntry.queries.get(name))
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
      catch { case NonFatal(_) => }
    // min of 2 runs per query, with the rounds INTERLEAVED (all queries
    // once, then all again) rather than back-to-back: consecutive runs of
    // the same query land in the same GC/JIT epoch, so a transient stall
    // poisons both and survives the min — measured 4.5 s on a 1.3 s query
    // with back-to-back min-of-2; decorrelating the attempts in time makes
    // the min a real steady-state signal
    // optional args: substring filters on query keys (any-match) —
    // local-iteration convenience mirroring Verify's; the driver passes
    // no args. Multiple args let one run cover a named subset (e.g. the
    // heavy-tail scaling set for BENCH_SF1).
    val filters = args.toSeq
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => filters.isEmpty || filters.exists(n.contains) }
    val best = scala.collection.mutable.Map[String, Double]()
    val worst = scala.collection.mutable.Map[String, Double]()
    val failed = scala.collection.mutable.SortedSet[String]()
    for (_ <- 1 to 2; (name, fn) <- ordered) {
      // memoized derived frames (dedup cluster labels, IVF codebook) are
      // dropped before EVERY measured run: with a warm cache the first
      // cluster-family query benched paid the whole propagation (a 42×
      // variance entry, ~26 s hidden from every per-query min in r6) and
      // the rest read cache — totals depended on alphabetical order
      Memo.clearAll()
      val t0 = System.nanoTime()
      // a query that throws is a FAILED key, never a fast time: it is
      // named in `failed`, left out of `total`, and fails benchdiff
      try {
        // noop-sink write, NOT .count(): count(1) lets Catalyst prune every
        // column the count doesn't need, so projection-only queries (e.g.
        // q_pii_scrub's three regex passes) measured as metadata-ish scans;
        // the noop sink evaluates every output column and discards rows
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        if (dt < best.getOrElse(name, Double.MaxValue)) best(name) = dt
        if (dt > worst.getOrElse(name, Double.MinValue)) worst(name) = dt
      } catch { case NonFatal(e) =>
        failed += name
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
    }
    val results = best.toMap -- failed
    // ms precision and sorted keys keep the line short and diffable
    // (full-precision doubles made it ~4 KB — long enough to fall off a
    // log tail mid-line and parse as garbage); locale-free formatting via
    // Double.toString of the rounded value
    def r3(v: Double): Double = math.round(v * 1000).toDouble / 1000
    def jmap(m: Map[String, Double]): String = m.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // per-query run-to-run spread (max/min): separates machine noise from
    // a real plan change when comparing rounds — a query whose min moved
    // but whose spread straddles both numbers is noise, not regression
    val spread = results.map { case (k, lo) =>
      k -> (if (lo > 0) worst(k) / lo else 1.0)
    }
    // measurement-method stamp: scripts/benchdiff.py refuses to compare
    // files whose methods differ (a noop-sink number against a count()
    // number, or a 4-core run against a 32-core one, is not a diff)
    val method = s"noop-sink/cold-caches/min-of-2-interleaved/local[$cpus]"
    val failedJson = failed.toSeq.map(k => "\"" + k + "\"").mkString("[", ",", "]")
    // cpus is quoted: SPARK_GRAFT_CPUS=* is a valid master setting
    // (local[*]) and a bare * would make the line unparseable JSON
    val localJson =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","method":"$method","cpus":"$cpus","queries":${jmap(results)},"variance":${jmap(spread)},"failed":$failedJson,"sf":"$sfDir"}"""
    // The driver's artifact keeps only the last 2000 chars of stdout, so
    // the full-precision named map (~5.3 KB at 216 queries) lost its head
    // three rounds running. Per-query times therefore print as a VALUES
    // ARRAY in sorted-key order at centisecond precision (~1.3 KB —
    // whole-line survivable): keys are sorted(SparkEntry.queries.keys),
    // pinned by qk_md5 = md5 of the '\n'-joined sorted key list, the same
    // list BENCH_LOCAL.json (full 3-decimal map, the authoritative
    // artifact) and Verify carry.
    def r2s(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val sortedKeys = results.keys.toSeq.sorted
    val qkMd5 = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(sortedKeys.mkString("\n").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
    }
    val qvLine =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","method":"$method","cpus":"$cpus","n_queries":${results.size},"qk_md5":"$qkMd5","qv":${sortedKeys.map(k => r2s(results(k))).mkString("[", ",", "]")},"sf":"$sfDir"}"""
    // a compact summary with no per-query map: short enough that a bounded
    // log-tail parser always sees the whole line — printed LAST
    val shortLine =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"sf":"$sfDir"}"""
    // stop FIRST so the JSON lines are the last stdout of the run, with no
    // shutdown logging after them; persist the full data for post-hoc use
    try spark.stop() catch { case NonFatal(_) => }
    // default artifact = BENCH_LAST_RUN.json, NOT BENCH_LOCAL.json: the
    // committed baseline (BENCH_LOCAL) is refreshed only through the
    // bench gate (precommit --bench passes SPARK_GRAFT_BENCH_OUT
    // explicitly after benchdiff passes); an un-gated run — e.g. the
    // driver's round-end bench on whatever box state it gets — archives
    // its full per-query map here instead of silently clobbering the
    // curated lineage (which is exactly how r16's loaded-box numbers
    // overwrote the idle-box baseline)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      new java.io.File("BENCH_LAST_RUN.json").getAbsolutePath)
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (localJson + "\n").getBytes("UTF-8"))
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] WARN: could not write $outPath: $e — file may be stale")
    }
    // full NAMED per-query map on stdout too (r21 PERF had n_common=0:
    // the driver's parser got only the totals line, and round-over-round
    // per-query comparison needed qv/md5 archaeology). Printed FIRST of
    // the JSON lines under its own sentinel so (a) a full-stdout grep can
    // recover it and (b) it can never displace the qv/short lines from a
    // bounded log tail — the three r21 lines below stay byte-identical.
    println("GRAFT_BENCH_QUERIES " + localJson)
    println(qvLine)
    // sentinel-prefixed copy: sbt wraps stdout lines in "[info] " and the
    // driver's tail parser has missed the bare JSON line three rounds
    // running — a greppable `GRAFT_BENCH ` prefix survives any wrapping.
    // The JSON file written above stays the authoritative artifact.
    println("GRAFT_BENCH " + shortLine)
    // bare compact JSON stays the LAST line for parsers that strip the
    // sbt prefix and json-parse the final line
    println(shortLine)
    System.out.flush()
  }
}
