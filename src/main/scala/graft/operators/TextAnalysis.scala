package graft.operators

import graft.util._
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** North-star text analysis over `documents` (SURVEY.md §2 B.11 +
  * training-data-pipeline extensions): corpus stats, token frequency,
  * heuristic language ID, quality scoring, token counting, and
  * winnowing-style document fingerprinting.
  *
  * Everything is per-row column expressions + one hash aggregation —
  * embarrassingly parallel at 100 TB; the only shuffles are the final
  * group-bys, all preceded by map-side partial aggregation.
  */
object TextAnalysis {

  private def toks: Column = split(col("text"), " ")

  // ---- corpus stats ---------------------------------------------------
  def textStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"), col("n_chars"), size(toks).as("n_words"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
        r4f(sum(col("n_words")).cast(DoubleType) / count(lit(1))).as("avg_words"))
      .orderBy("lang")

  val textStatsSql =
    """SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
      |CAST(floor(CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*) * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS DOUBLE) AS avg_words
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- token frequency top-20 ----------------------------------------
  def tokenFreq(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(20)

  val tokenFreqSql =
    """SELECT tok, count(*) AS cnt
      |FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents) x
      |WHERE tok <> '' GROUP BY 1 ORDER BY cnt DESC, tok ASC LIMIT 20""".stripMargin

  // ---- tokenizer-training pair statistics ----------------------------
  /** Top adjacent-token-pair frequencies over the corpus — the merge
    * statistics a BPE-style tokenizer-training pass computes each
    * round (Sennrich 2016 §3: count all symbol pairs, merge the most
    * frequent); at word granularity this is round-1's candidate table,
    * and at 100 TB it is the step that must be a distributed count,
    * not a driver-side dictionary. Shape: pairs are built per-row by a
    * zip_with over two slices of the SAME token array (one codegen'd
    * projection, no self-join of an exploded token table, no
    * positional window), then ONE explode feeds a (t1, t2) groupBy —
    * both aggregation keys scale with data. Total (cnt DESC, t1, t2)
    * order with a top-100 cut keeps the output driver-safe at any
    * corpus size. */
  def bpePairs(s: SparkSession, dir: String): DataFrame =
    pairCounts(t(s, dir, "documents")
        .select(split(lower(col("text")), " ").as("tk")))
      .orderBy(col("cnt").desc, col("t1").asc, col("t2").asc)
      .limit(100)

  val bpePairsSql =
    """WITH toks AS (SELECT string_split(lower(text), ' ') AS tk FROM documents),
      |pairs AS (
      |  SELECT tk[i] AS t1, tk[i+1] AS t2
      |  FROM toks JOIN generate_series(1, 100000) g(i) ON i <= len(tk) - 1)
      |SELECT t1, t2, count(*) AS cnt FROM pairs
      |WHERE t1 <> '' AND t2 <> ''
      |GROUP BY 1, 2 ORDER BY cnt DESC, t1 ASC, t2 ASC LIMIT 100""".stripMargin

  /** adjacent-pair frequencies of a token-array frame (column `tk`) —
    * the per-round count [[bpeTrain]] iterates; same plan shape as the
    * declared [[bpePairs]] */
  private def pairCounts(toks: DataFrame): DataFrame =
    // arrays_zip, not zip_with-with-a-lambda: higher-order functions
    // evaluate interpreted (no codegen) and this projection runs once
    // per corpus token in every BPE training round (§1.2 per-task work,
    // the qualityBigram r22 finding)
    toks.select(explode(expr(
        "arrays_zip(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1))")).as("p"))
      .select(col("p.0").as("t1"), col("p.1").as("t2"))
      .where(col("t1") =!= "" && col("t2") =!= "")
      .groupBy("t1", "t2").agg(count(lit(1)).as("cnt"))

  /** greedy left-to-right non-overlapping application of one merge —
    * the standard BPE apply step (a merged symbol cannot re-pair with
    * the token it just consumed within the same pass) */
  private[graft] def applyMerge(toks: Seq[String], a: String, b: String,
      joined: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < toks.length) {
      if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
        out += joined; i += 2
      } else { out += toks(i); i += 1 }
    }
    out.toSeq
  }

  /** Iterated BPE-style merge TRAINING (Sennrich 2016 §3) at word
    * granularity: each round counts all adjacent pairs DISTRIBUTED
    * (the [[pairCounts]] aggregation — scaling keys, map-side
    * combined), takes the argmax under the total (cnt DESC, t1, t2)
    * order, and applies the merge map-side (the winning pair is a
    * closure constant — no broadcast, no shuffle; merged token =
    * `t1 + " " + t2`, so a merged phrase is itself mergeable next
    * round). Output: one row per round (rank, t1, t2, cnt) — the merge
    * table a tokenizer ships.
    *
    * Scale design — the fast-trainer form: the full bigram count is
    * paid ONCE (round 0); every later round updates it INCREMENTALLY
    * from `bpe_pair_deltas`, which emits only the pairs a row's merge
    * occurrences actually changed (rows without the winning pair
    * short-circuit to nothing), so the per-round shuffle carries
    * O(occurrences-of-merged-pair) delta rows instead of every bigram
    * in the corpus. The running count frame is maintained exactly
    * equal to pairCounts(corpus-after-merges) — same argmax, same
    * tie-break, by construction. The corpus token arrays are
    * checkpointed ONCE (the old loop materialized a fresh remapped
    * corpus every round; peak storage drops from two corpus copies to
    * one) and each round re-derives the current symbol stream
    * map-side by folding the accepted merges — O(r) cheap JVM array
    * rewrites inside one projection, no corpus shuffle anywhere. The
    * driver sees exactly ONE row per round (the argmax —
    * merge-decision metadata, the allowlisted O(1)-per-action class);
    * the per-round lazy localCheckpoint discipline now guards the
    * SMALL (distinct-bigram) count frame, not the corpus. Rounds are
    * the serial dimension, as in every production BPE trainer.
    * Verified by BpeSpec: hand-computed merge sequence on a fixture
    * corpus (including the tie-break and the phrase-remerge case),
    * round-1 ≡ the declared [[bpePairs]] argmax on real data, and
    * full-sequence equality against a driver-side reference trainer
    * on randomized corpora. */
  def bpeTrain(docs: DataFrame, nMerges: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    bpeTrainMerges(docs, nMerges).toDF("rank", "t1", "t2", "cnt")
  }

  /** the driver-side merge list behind [[bpeTrain]] — the merge table IS
    * per-round decision metadata (one row per round, the allowlisted
    * O(1)-per-action class), so encode callers take it as a Seq instead
    * of re-collecting a DataFrame the driver just built */
  def bpeTrainMerges(docs: DataFrame,
      nMerges: Int): Seq[(Int, String, String, Long)] = {
    val s = docs.sparkSession
    graft.functions.TextExpressions.register(s)
    def ckptRdd(ds: Dataset[_]): Option[org.apache.spark.rdd.RDD[_]] =
      ds.queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }
    // ONE corpus materialization for the whole run; each round folds
    // the accepted merges onto it map-side (BpeMergeStep ≡ applyMerge,
    // BpeSpec-pinned) instead of checkpointing a remapped copy
    // NOTE (r21): a fanOut of tk0 was tried and reverted — the rounds'
    // frames are small enough that 32-wide stages cost more scheduling
    // than they save compute (q_bpe_encode 2.1 → 3.9 s at sf0.1)
    val tk0 = docs.select(split(lower(col("text")), " ").as("tk"))
      .localCheckpoint(false)
    val tk0Ckpt = ckptRdd(tk0)
    def foldedTk(ms: Seq[(String, String)]): Column =
      ms.foldLeft(col("tk")) { case (c, (x, y)) =>
        graft.functions.TextExpressions.bpeMergeStep(c, x, y)
      }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    // two-slot checkpoint tracking (the propagateMinLabelTracked
    // discipline), now over the SMALL running count frame: `pending` =
    // the current round's lazy checkpoint, materialized by the NEXT
    // argmax action; `live` = the previous, already-materialized one
    // that `pending` was computed from — unpersistable only once
    // pending materializes.
    var counts = pairCounts(tk0).localCheckpoint(false)
    var live: Option[org.apache.spark.rdd.RDD[_]] = None
    var pending: Option[org.apache.spark.rdd.RDD[_]] = ckptRdd(counts)
    var r = 1
    var dry = false
    while (r <= nMerges && !dry) {
      val top = counts
        .orderBy(col("cnt").desc, col("t1").asc, col("t2").asc)
        .limit(1).collect()
      // the argmax materialized `pending` — its input checkpoint is now
      // superseded
      live.foreach(rd => try rd.unpersist(false) catch { case _: Throwable => })
      live = pending
      pending = None
      if (top.isEmpty) dry = true
      else {
        val (a, b, n) = (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
        val prev = merges.map(m => (m._2, m._3)).toSeq
        merges += ((r, a, b, n))
        // incremental count maintenance: only the pairs this merge's
        // occurrences changed shuffle — the running frame stays exactly
        // pairCounts(corpus-after-merges)
        val deltas = tk0.select(explode(graft.functions.TextExpressions
            .bpePairDeltas(foldedTk(prev), a, b)).as("p"))
          .select(col("p.t1").as("t1"), col("p.t2").as("t2"),
            col("p.d").cast(LongType).as("cnt"))
        counts = counts.union(deltas)
          .groupBy("t1", "t2").agg(sum(col("cnt")).as("cnt"))
          .where(col("cnt") > 0)
          .localCheckpoint(false)
        pending = ckptRdd(counts)
      }
      r += 1
    }
    // the merge table is driver-side rows — every surviving checkpoint
    // is dead at return
    (live.toSeq ++ pending.toSeq ++ tk0Ckpt.toSeq)
      .foreach(rd => try rd.unpersist(false) catch { case _: Throwable => })
    merges.toSeq
  }

  def bpeTrain(s: SparkSession, dir: String, nMerges: Int = 8): DataFrame =
    bpeTrain(t(s, dir, "documents").select("text"), nMerges)

  /** merge table memoized per (session, dir, input fingerprint, n) — the
    * [[ensureSimhashIndex]]-style discipline, for driver metadata instead
    * of a persisted index: training is nMerges serial distributed rounds,
    * which the declared encode query shouldn't re-pay per call */
  private val bpeMergeCache =
    graft.Memo[(SparkSession, String), Seq[(String, String)]](graft.Memo.keep)

  def ensureBpeMerges(s: SparkSession, dir: String,
      nMerges: Int = 8): Seq[(String, String)] =
    bpeMergeCache.get((s, dir),
        graft.util.inputFingerprint(dir, "documents.parquet") + s":$nMerges") {
      bpeTrainMerges(t(s, dir, "documents").select("text"), nMerges)
        .sortBy(_._1).map(m => (m._2, m._3))
    }

  /** bench cold-cache hook: without it q_bpe_encode is measured warm
    * after its first run and the reported cost omits the nMerges-round
    * distributed training */
  def clearBpeMergeCache(): Unit = bpeMergeCache.clear()

  /** BPE-style ENCODE: apply a trained merge table to the corpus — one
    * greedy left-to-right non-overlapping pass per merge in rank order,
    * exactly the discipline [[bpeTrain]] applied per training round, so
    * encoding the training corpus with its own merge table reproduces
    * the symbol stream training ended with (BpeSpec pins the
    * equivalence). The merge list rides the closure as O(nMerges)
    * constants — no broadcast, no shuffle; the encode is embarrassingly
    * parallel map-side work. Output: (doc_id, syms, n_toks). */
  def bpeEncode(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    graft.functions.TextExpressions.register(docs.sparkSession)
    // the whole rank-ordered merge chain folds into ONE codegen'd
    // projection (BpeMergeStep ≡ applyMerge per rank) — no encoder
    // round-trip, no lambda; the merge table rides as literals
    val tk = split(lower(col("text")), " ")
    val syms = merges.foldLeft(tk) { case (c, (a, b)) =>
      graft.functions.TextExpressions.bpeMergeStep(c, a, b)
    }
    docs.select(col("doc_id"), syms.as("syms"),
      size(tk).cast(LongType).as("n_toks"))
  }

  // ---- BPE release artifact (persisted merge table) --------------------
  /** artifact layout version — bump on any layout or semantics change
    * (tokenization contract, merge application order) so a fleet can
    * never replay an artifact under different encode semantics */
  val BpeArtifactVersion = 1L

  /** the tokenization contract the merge table was trained under and
    * encode must replay — part of the artifact's identity, like the
    * winnow index's persisted `w` */
  val BpeTokenizer = "lower_whitespace"

  /** Persist a trained merge table as a versioned RELEASE artifact —
    * until now the trained merges lived only in-session (the memoized
    * [[ensureBpeMerges]]), so a tokenizer trained on one snapshot could
    * not ship to the fleet that encodes with it. Layout: `merges/`
    * parquet (rank, t1, t2) under `Sinks.writeManifest` integrity
    * (row digest + schema + count), `meta/` (key, value) rows pinning
    * the artifact version and the tokenization contract. */
  def writeBpeArtifact(s: SparkSession, path: String,
      merges: Seq[(String, String)]): Unit = {
    import s.implicits._
    merges.zipWithIndex.map { case ((a, b), i) => (i + 1, a, b) }
      .toDF("rank", "t1", "t2")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/merges")
    Seq(("version", BpeArtifactVersion.toString),
        ("tokenizer", BpeTokenizer),
        ("n_merges", merges.size.toString))
      .toDF("key", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    graft.sources.Sinks.writeManifest(s, s"$path/merges")
  }

  /** Load a persisted merge table for encode: refuses a failed manifest
    * check (any changed/added/dropped merge row flips the digest), a
    * different artifact version, or a different tokenization contract —
    * a silently drifted tokenizer corrupts every downstream token count.
    * The collect is O(nMerges) MODEL metadata (the merge table is
    * per-round decision rows, the same class bpeTrain's argmax is). */
  def loadBpeArtifact(s: SparkSession, path: String): Seq[(String, String)] = {
    // drop any cached file index for the path: a replaced-on-disk merge
    // file must reach the digest check, not trip a stale-length read
    s.catalog.refreshByPath(s"$path/merges")
    require(graft.sources.Sinks.verifyManifest(s, s"$path/merges"),
      s"BPE artifact at $path fails its manifest integrity check — " +
        "the merge table was modified, partially written, or never finalized")
    val meta = s.read.parquet(s"$path/meta").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    require(meta.get("version").contains(BpeArtifactVersion.toString),
      s"BPE artifact at $path is version ${meta.getOrElse("version", "?")}; " +
        s"this build reads version $BpeArtifactVersion")
    require(meta.get("tokenizer").contains(BpeTokenizer),
      s"BPE artifact at $path was trained under tokenizer " +
        s"${meta.getOrElse("tokenizer", "?")}; this build encodes with $BpeTokenizer")
    s.read.parquet(s"$path/merges").orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
  }

  /** encode ARBITRARY (doc_id, text) rows under a persisted artifact —
    * the fleet-side replay of a shipped tokenizer */
  def bpeEncodeFrom(s: SparkSession, docs: DataFrame, path: String): DataFrame =
    bpeEncode(docs, loadBpeArtifact(s, path))

  /** Declared query: per-doc encoding compression under the corpus's own
    * 8-merge table — n_toks → n_syms and the ratio, the tokenizer-fit
    * metric a data pipeline tracks per source/snapshot. No SQL oracle
    * (iterated greedy merges are not expressible as one query); BpeSpec
    * pins train/encode equivalence, hand-computed merge sequences, and
    * the flatten-reconstruction property. */
  def bpeEncodeQ(s: SparkSession, dir: String): DataFrame =
    bpeEncode(t(s, dir, "documents").select("doc_id", "text"),
      ensureBpeMerges(s, dir))
      .select(col("doc_id"), col("n_toks"),
        size(col("syms")).cast(LongType).as("n_syms"),
        r4f(size(col("syms")).cast(DoubleType) / col("n_toks"))
          .as("compression"))
      .orderBy("doc_id")

  // ---- heuristic language ID -----------------------------------------
  /** tiny per-language stopword lists; winner = running strict-> max in
    * list order (en,es,de,fr,zh) — deterministic, mirrored in the oracle */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "de", "et", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  def langId(s: SparkSession, dir: String): DataFrame = {
    // fanOut (util.scala): one array_intersect per language per row,
    // serialized on the 1-split documents scan and re-executed by the
    // orderBy's range sampler (tools.Profile: 1.15 s + 0.61 s 1-task
    // stages — the whole query)
    val base = fanOut(t(s, dir, "documents").select("doc_id", "lang", "text"),
        col("doc_id"))
      .select(col("doc_id"), col("lang"), toks.as("tk"))
    val scores = langStopwords.map { case (l, ws) =>
      l -> size(array_intersect(col("tk"), lit(ws.toArray)))
    }.toMap
    var bestLang: Column = lit(langStopwords.head._1)
    var bestScore: Column = scores(langStopwords.head._1)
    for ((l, _) <- langStopwords.tail) {
      val better = scores(l) > bestScore
      bestLang = when(better, lit(l)).otherwise(bestLang)
      bestScore = when(better, scores(l)).otherwise(bestScore)
    }
    base.select(col("doc_id"), col("lang"), bestLang.as("guessed"), bestScore.as("score"))
      .orderBy("doc_id")
  }

  val langIdSql = {
    def lst(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ", ", "]")
    val sc = langStopwords.map { case (l, ws) =>
      s"len(list_intersect(tk, ${lst(ws)})) AS s_$l"
    }.mkString(", ")
    // reverse-order strict-> CASE ≡ the Scala fold above
    val langs = langStopwords.map(_._1)
    val cases = langs.tail.reverse.map { l =>
      val prev = langs.take(langs.indexOf(l)).map("s_" + _)
      val prevMax = if (prev.size == 1) prev.head else s"greatest(${prev.mkString(", ")})"
      s"WHEN s_$l > $prevMax THEN '$l'"
    }.mkString(" ")
    val scoreExpr = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    // score = value of the winner = running max (strict fold keeps first-seen on ties = overall greatest)
    s"""SELECT doc_id, lang, CASE $cases ELSE 'en' END AS guessed, $scoreExpr::INT AS score
       |FROM (SELECT doc_id, lang, string_split(text, ' ') AS tk, $sc
       |      FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS tk FROM documents) i) x
       |ORDER BY doc_id""".stripMargin
  }

  // ---- quality scoring ------------------------------------------------
  /** the quality heuristic over (text, tk) as one column expression —
    * factored out so the composed curation pipeline ([[Curate]]) scores
    * SCRUBBED text with the identical formula; all-double arithmetic in
    * identical order both engines, then round(…,4) */
  private[operators] def qualityCol(text: Column, tk: Column): Column =
    r4f(
      least(lit(1.0), size(tk).cast(DoubleType) / 50.0) * 0.4
      + (size(array_distinct(tk)).cast(DoubleType) / size(tk)) * 0.3
      + least(lit(1.0), ((length(text) - (size(tk) - 1)).cast(DoubleType) / size(tk)) / 8.0) * 0.3)

  /** length / diversity / word-shape heuristic in [0,1] */
  def qualityScore(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("text"), toks.as("tk"))
      .select(col("doc_id"),
        size(col("tk")).as("n_words"),
        r4f(size(array_distinct(col("tk"))).cast(DoubleType) / size(col("tk"))).as("distinct_ratio"),
        qualityCol(col("text"), col("tk")).as("quality"))
      .orderBy("doc_id")

  val qualityScoreSql =
    """SELECT doc_id, len(tk) AS n_words,
      |CAST(floor(len(list_distinct(tk))::DOUBLE / len(tk) * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS DOUBLE) AS distinct_ratio,
      |CAST(floor((
      |  least(1.0::DOUBLE, len(tk)::DOUBLE / 50.0::DOUBLE) * 0.4::DOUBLE
      |  + (len(list_distinct(tk))::DOUBLE / len(tk)) * 0.3::DOUBLE
      |  + least(1.0::DOUBLE, ((length(text) - (len(tk) - 1))::DOUBLE / len(tk)) / 8.0::DOUBLE) * 0.3::DOUBLE
      |  ) * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS DOUBLE) AS quality
      |FROM (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents) x
      |ORDER BY doc_id""".stripMargin

  /** threshold-from-distribution filtering: drop the bottom quality
    * quartile — the standard "keep the best X%" curation cut where the
    * cutoff comes from the corpus itself, not a constant. Two-phase at
    * scale: ONE aggregation computes the p25 threshold (1-row frame,
    * broadcast), one map-side filter applies it — no global sort, no
    * single-partition window. The threshold and the scores are both
    * 4-dp-rounded doubles, so the boundary comparison is reproducible
    * cross-engine (same contract as q_agg_quantile). */
  /** the quality heuristic over a bare text column (tk derived inline) —
    * the public face of [[qualityCol]] for callers outside this package
    * (e.g. the streaming quality gate, which scores arriving docs with
    * the IDENTICAL expression the batch corpus was scored with) */
  def qualityOf(text: Column): Column = qualityCol(text, split(text, " "))

  /** 1-row (thr) frame: the corpus's p25 quality cut — the statistics
    * half of the two-phase filter, reusable by batch (broadcast join in
    * [[qualityFilter]]) and stream (stream-static join in
    * `Pipeline.streamQualityGate`) enforcement alike */
  def qualityThresholdFrame(s: SparkSession, dir: String): DataFrame =
    qualityScore(s, dir).agg(r4(expr("percentile(quality, 0.25)")).as("thr"))

  def qualityFilter(s: SparkSession, dir: String): DataFrame = {
    val q = qualityScore(s, dir).select(col("doc_id"), col("quality"))
    val thr = qualityThresholdFrame(s, dir)
    q.crossJoin(broadcast(thr))
      .where(col("quality") >= col("thr"))
      .select(col("doc_id"), col("quality"))
      .orderBy("doc_id")
  }

  val qualityFilterSql =
    s"""WITH q AS (SELECT doc_id, quality FROM ($qualityScoreSql) qq),
       |t AS (SELECT CAST(round(quantile_cont(quality, 0.25), 4) AS DOUBLE) AS thr FROM q)
       |SELECT doc_id, quality FROM q, t WHERE quality >= thr ORDER BY doc_id""".stripMargin

  // ---- token counting -------------------------------------------------
  /** whitespace tokens + BPE-ish regex tokens (word/number/punct runs) */
  def tokenCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        size(toks).as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).as("re_tokens"),
        length(col("text")).as("n_chars"))
      .orderBy("doc_id")

  val tokenCountSql =
    """SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
      |len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens,
      |length(text) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- stratified corpus sampling ------------------------------------
  /** language-rebalancing downsample, the curation step that caps a
    * dominant language: per-stratum keep-rates applied via the portable
    * md5 coin (same deterministic hash family as q_sample_hash — rerun
    * anywhere, same sample). Map-side filter, zero shuffles. */
  val StratRates: Seq[(String, Int)] =
    Seq("en" -> 10, "es" -> 50, "de" -> 50, "fr" -> 50, "zh" -> 50)
  val StratDefault = 25

  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    val rate = StratRates.foldRight(lit(StratDefault): Column) {
      case ((l, r), acc) => when(col("lang") === l, lit(r)).otherwise(acc)
    }
    t(s, dir, "documents")
      .where(conv(substring(md5(col("doc_id").cast(StringType)), 1, 8), 16, 10)
        .cast(LongType) % 100 < rate)
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }

  val sampleStratifiedSql: String = {
    val cases = StratRates.map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")
    s"""SELECT doc_id, lang, n_chars FROM documents
       |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100
       |  < CASE lang $cases ELSE $StratDefault END
       |ORDER BY doc_id""".stripMargin
  }

  // ---- sequence packing ----------------------------------------------
  /** pretraining sequence packing: per language, documents concatenate in
    * doc_id order and the token stream cuts every PackBudget tokens; a
    * doc's bin is its start-offset's chunk. Pure integer math (whitespace
    * token counts, window cumsum per lang, one groupBy) — the scalable
    * form of "pack the corpus into context windows" without a sequential
    * driver loop. Output: per (lang, bin) doc and token totals. */
  val PackBudget = 512

  def packContexts(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy("doc_id")
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), size(toks).cast(LongType).as("n_tok"))
      .withColumn("start_off", sum(col("n_tok")).over(w) - col("n_tok"))
      .withColumn("bin", expr(s"start_off div $PackBudget"))
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy("lang", "bin")
  }

  val packContextsSql =
    s"""WITH d AS (
       |  SELECT doc_id, lang, len(string_split(text, ' '))::BIGINT AS n_tok
       |  FROM documents),
       |o AS (SELECT lang, n_tok,
       |  sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start_off
       |  FROM d)
       |SELECT lang, (start_off // $PackBudget)::BIGINT AS bin,
       |  count(*) AS n_docs, sum(n_tok)::BIGINT AS n_tokens
       |FROM o GROUP BY 1, 2 ORDER BY lang, bin""".stripMargin

  /** the 100-TB form of q_pack_contexts: the per-lang running cumsum above
    * puts an entire language in ONE window partition — a single task
    * sorting half the corpus when one language dominates. Sharding each
    * language by a deterministic md5 coin bounds every window partition at
    * corpus/(langs·shards) and the packer parallelism scales with
    * PackShards; the (documented) tradeoff is that bins never span shards,
    * so up to PackShards-1 partially-filled tail bins per language. Same
    * cross-engine hash family as q_sample_stratified, so the oracle
    * replays the shard assignment exactly. */
  val PackShards = 8

  def packContextsSharded(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), size(toks).cast(LongType).as("n_tok"))
      .withColumn("shard",
        conv(substring(md5(col("doc_id").cast(StringType)), 1, 8), 16, 10)
          .cast(LongType) % PackShards)
      .withColumn("start_off", sum(col("n_tok")).over(w) - col("n_tok"))
      .withColumn("bin", expr(s"start_off div $PackBudget"))
      .groupBy("lang", "shard", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy("lang", "shard", "bin")
  }

  val packContextsShardedSql =
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % $PackShards AS shard,
       |    len(string_split(text, ' '))::BIGINT AS n_tok
       |  FROM documents),
       |o AS (SELECT lang, shard, n_tok,
       |  sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start_off
       |  FROM d)
       |SELECT lang, shard, (start_off // $PackBudget)::BIGINT AS bin,
       |  count(*) AS n_docs, sum(n_tok)::BIGINT AS n_tokens
       |FROM o GROUP BY 1, 2, 3 ORDER BY lang, shard, bin""".stripMargin

  /** Packing-efficiency observability — the diagnostic that tells you
    * whether [[PackBudget]] and [[PackShards]] are sized right before a
    * training run burns compute on padding: per language, bin count,
    * token mass, mean fill ratio against budget, and the two failure
    * tails (overflow bins — a straddling doc pushed past budget — and
    * under-half-full bins, the padding waste). Pure rollup of the
    * packing query's own bins: integer-exact sums, one double division
    * per group. */
  def packEfficiency(s: SparkSession, dir: String): DataFrame =
    packContextsSharded(s, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_bins"),
        sum(col("n_tokens")).as("n_tokens"),
        r4f(sum(col("n_tokens")).cast(DoubleType) / (count(lit(1)) * PackBudget)).as("avg_fill"),
        sum(when(col("n_tokens") > PackBudget, 1L).otherwise(0L)).as("n_overflow"),
        sum(when(col("n_tokens") < PackBudget / 2, 1L).otherwise(0L)).as("n_underfull"))
      .orderBy("lang")

  val packEfficiencySql =
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % $PackShards AS shard,
       |    len(string_split(text, ' '))::BIGINT AS n_tok
       |  FROM documents),
       |o AS (SELECT lang, shard, n_tok,
       |  sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start_off
       |  FROM d),
       |bins AS (SELECT lang, shard, (start_off // $PackBudget)::BIGINT AS bin,
       |  sum(n_tok)::BIGINT AS n_tokens FROM o GROUP BY 1, 2, 3)
       |SELECT lang, count(*) AS n_bins, sum(n_tokens)::BIGINT AS n_tokens,
       |  floor(sum(n_tokens)::DOUBLE / (count(*) * $PackBudget)
       |        * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS avg_fill,
       |  sum(CASE WHEN n_tokens > $PackBudget THEN 1 ELSE 0 END)::BIGINT AS n_overflow,
       |  sum(CASE WHEN n_tokens < ${PackBudget / 2} THEN 1 ELSE 0 END)::BIGINT AS n_underfull
       |FROM bins GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- TF-IDF top terms ----------------------------------------------
  /** per-doc top-3 salient terms by a log-free TF-IDF (tf · N / df — the
    * rational idf keeps every intermediate an exact integer, so the only
    * double op is one correctly-rounded IEEE division that both engines
    * compute bit-identically; ln() implementations differ in last ulps
    * and are deliberately avoided). Shape at scale: tf is one (doc, tok)
    * groupBy; df is a separate groupBy(tok).count() equi-joined back on
    * tok — NOT a window partitioned by tok: a stop-word's tok-partition
    * would hold ~n_docs rows in ONE window task at 100 TB, whereas the
    * aggregate is map-side combined and AQE can split the skewed join
    * key. The doc-count scalar broadcasts. Tie-stable: rank on
    * (rounded score desc, tok asc). */
  def tfidfTop(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = t(s, dir, "documents")
    val tf = d.select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val withDf = tf.join(df, "tok")
    val n = d.agg(count(lit(1)).as("n_docs"))
    withDf.crossJoin(broadcast(n))
      .withColumn("score", r4f(col("tf") * col("n_docs") / col("df")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok").asc)))
      .where(col("rn") <= 3)
      .select(col("doc_id"), col("tok"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("score").desc, col("tok"))
  }

  val tfidfTopSql =
    """WITH tf AS (
      |  SELECT doc_id, tok, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents) x
      |  WHERE tok <> '' GROUP BY 1, 2),
      |wd AS (SELECT doc_id, tok, tf, count(*) OVER (PARTITION BY tok) AS df FROM tf),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |sc AS (SELECT doc_id, tok, tf, df,
      |  floor(tf * n_docs / df * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS score
      |  FROM wd, n),
      |r AS (SELECT doc_id, tok, tf, df, score,
      |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok ASC) AS rn FROM sc)
      |SELECT doc_id, tok, tf, df, score FROM r WHERE rn <= 3
      |ORDER BY doc_id, score DESC, tok""".stripMargin

  // ---- repetition / duplication quality stats -------------------------
  /** Gopher-style repetition filter inputs (Rae et al. 2021 §A1.1
    * inputs, with documented deviations): per doc, the duplicate n-gram
    * fraction for n = 2..4 (1 − distinct / total n-grams) and the top
    * n-gram share for n = 1..4 (count of the most frequent n-gram /
    * total) — boilerplate and degenerate generation ("batch batch
    * batch") score high and get filtered before training. DEVIATIONS
    * from the paper: Gopher weights both families by characters and uses
    * n = 2..4 for top-gram / n = 5..10 for duplicate-gram; these columns
    * are COUNT-weighted over n = 1..4 / 2..4, so the paper's published
    * thresholds do not transfer — calibrate cutoffs on these columns.
    * Shape at scale: all seven columns are per-doc LOCAL, so they
    * compute map-side in one JVM pass per document
    * ([[graft.functions.RepetitionRatio]]) — no gram row ever rides a
    * shuffle; the only shuffle is the output orderBy. The
    * explode-over-4·len chain this replaced (gram built post-explode,
    * two shuffling groupBys on (doc_id, n, gram) / (doc_id, n), per-doc
    * pivot) survives verbatim as the spec's parity reference. Docs
    * shorter than n words get NULL for that n's columns (no n-grams
    * exist) — both engines agree. */
  def repetitionRatio(s: SparkSession, dir: String): DataFrame =
    repetitionRatioOf(t(s, dir, "documents"))

  private[graft] def repetitionRatioOf(documents: DataFrame): DataFrame = {
    graft.functions.TextExpressions.register(documents.sparkSession)
    val fields = Seq("top_share_1", "dup_frac_2", "top_share_2",
      "dup_frac_3", "top_share_3", "dup_frac_4", "top_share_4")
    documents
      .where(size(toks) >= 1)
      .select(col("doc_id"),
        graft.functions.TextExpressions.repetitionRatio(toks).as("m"))
      .select(col("doc_id") +: fields.map(f => col(s"m.$f").as(f)): _*)
      .orderBy("doc_id")
  }

  val repetitionRatioSql =
    """WITH tk AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 1),
      |g AS (
      |  SELECT doc_id, 1 AS n, tk[i] AS g
      |  FROM tk JOIN generate_series(1, 100000) s(i) ON i <= len(tk)
      |  UNION ALL
      |  SELECT doc_id, 2 AS n, tk[i] || ' ' || tk[i+1] AS g
      |  FROM tk JOIN generate_series(1, 100000) s(i) ON i <= len(tk) - 1
      |  UNION ALL
      |  SELECT doc_id, 3 AS n, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
      |  FROM tk JOIN generate_series(1, 100000) s(i) ON i <= len(tk) - 2
      |  UNION ALL
      |  SELECT doc_id, 4 AS n, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] AS g
      |  FROM tk JOIN generate_series(1, 100000) s(i) ON i <= len(tk) - 3),
      |c AS (SELECT doc_id, n, g, count(*) AS cnt FROM g GROUP BY 1, 2, 3),
      |a AS (SELECT doc_id, n, sum(cnt)::DOUBLE AS total, count(*)::DOUBLE AS dist,
      |  max(cnt)::DOUBLE AS topc FROM c GROUP BY 1, 2)
      |SELECT doc_id,
      |  max(CASE WHEN n = 1 THEN floor(topc / total * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE END) AS top_share_1,
      |  max(CASE WHEN n = 2 THEN floor((1::DOUBLE - dist / total) * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE END) AS dup_frac_2,
      |  max(CASE WHEN n = 2 THEN floor(topc / total * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE END) AS top_share_2,
      |  max(CASE WHEN n = 3 THEN floor((1::DOUBLE - dist / total) * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE END) AS dup_frac_3,
      |  max(CASE WHEN n = 3 THEN floor(topc / total * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE END) AS top_share_3,
      |  max(CASE WHEN n = 4 THEN floor((1::DOUBLE - dist / total) * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE END) AS dup_frac_4,
      |  max(CASE WHEN n = 4 THEN floor(topc / total * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE END) AS top_share_4
      |FROM a GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The PAPER-EXACT Gopher repetition metrics (Rae et al. 2021 §A1.1),
    * character-weighted over the paper's own n ranges — the companion to
    * [[repetitionRatio]]'s count-weighted variant, for users who want to
    * apply Gopher's PUBLISHED thresholds directly:
    *   - `top_char_frac_n` (n = 2..4): characters inside occurrences of
    *     the single most frequent n-gram / document characters
    *     (count × gram chars / doc chars — overlapping occurrences are
    *     counted per occurrence, as in the common reproductions, so
    *     degenerate docs can exceed 1.0; ties on count break to the
    *     lexicographically smallest gram for determinism);
    *   - `dup_char_frac_n` (n = 5..10): characters covered by ANY
    *     occurrence of a duplicated n-gram / document characters —
    *     overlap-deduplicated ("taking care not to count characters
    *     twice"), an exact interval union per (doc, n).
    * (The paper's remaining two families — duplicate line/paragraph
    * fractions — are `q_dedup_paragraph`'s concern.) Docs with no n-gram
    * of a given n get NULL for that n's column.
    *
    * Shape at scale: the metrics are per-doc LOCAL (docs are bounded at
    * the 40 960-char ingest cap), so all nine compute map-side in one
    * JVM pass per document ([[graft.functions.GopherRepetition]]) — no
    * token row ever rides a shuffle. The window-and-explode chain this
    * replaced (posexplode every token → doc-partitioned window with 18
    * lead columns → 9-way gram unpivot → two shuffling aggregations)
    * shuffled the whole tokenized corpus three times and was the
    * suite's steepest intrinsic scaler; it survives verbatim as the
    * parity reference in TextAnalysisSpec. The only shuffle left is
    * the output orderBy. */
  def repetitionGopher(s: SparkSession, dir: String): DataFrame =
    repetitionGopherOf(t(s, dir, "documents"))

  /** Deterministic 10% doc-sample variant (md5(doc_id) — the
    * [[Aggregates.sampleHash]] predicate, stable across runs/engines):
    * the Gopher metrics are per-doc, so the sampled chain is EXACT on
    * the docs it keeps — right for corpus-health dashboards where the
    * full per-doc frame's cost (the steepest intrinsic scaler in the
    * suite, ~5-6× at 10× data: 9 gram streams × every token ride the
    * unpivot) buys nothing a 10% panel doesn't. Curation cuts keep
    * using the exact form — a threshold filter must judge every doc. */
  def repetitionGopherSampled(s: SparkSession, dir: String): DataFrame =
    repetitionGopherOf(t(s, dir, "documents")
      .where(conv(substring(md5(col("doc_id").cast(StringType)), 1, 8), 16, 10)
        .cast(LongType) % 10 < 1))

  private[graft] def repetitionGopherOf(documents: DataFrame): DataFrame = {
    graft.functions.TextExpressions.register(documents.sparkSession)
    val fields = (2 to 4).map(n => s"top_char_frac_$n") ++
      (5 to 10).map(n => s"dup_char_frac_$n")
    fanOut(documents, col("doc_id")) // 9 gram streams per token — the suite's heaviest per-row kernel
      .select(col("doc_id"), graft.functions.TextExpressions
        .gopherRepetition(toks, length(col("text"))).as("m"))
      .select(col("doc_id") +: fields.map(f => col(s"m.$f").as(f)): _*)
      .orderBy("doc_id")
  }

  val repetitionGopherSql: String = repetitionGopherSqlOver("documents")

  /** the sampled twin replays the identical chain over the sampled
    * relation — same predicate text as [[Aggregates.sampleHashSql]] */
  val repetitionGopherSampledSql: String = repetitionGopherSqlOver(
    "(SELECT * FROM documents WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10 < 1)")

  private def repetitionGopherSqlOver(rel: String) =
    s"""WITH docs AS (SELECT * FROM $rel),
      |tk AS (
      |  SELECT doc_id, length(text) AS dl, string_split(text, ' ') AS tk FROM docs),
      |p AS (
      |  SELECT doc_id, dl, i - 1 AS pos, tk[i] AS tok
      |  FROM tk JOIN generate_series(1, 100000) s(i) ON i <= len(tk)),
      |w AS (
      |  SELECT doc_id, dl, pos, tok,
      |    coalesce(sum(length(tok) + 1) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cs
      |  FROM p),
      |w2 AS (SELECT *, cs + length(tok) AS ce FROM w),
      |g AS (
      |  SELECT a.doc_id, a.dl, n.n, a.pos, a.cs, b.ce,
      |    array_to_string(list_slice(t.tk, a.pos + 1, a.pos + n.n), ' ') AS g
      |  FROM w2 a
      |  JOIN tk t USING (doc_id)
      |  CROSS JOIN generate_series(2, 10) n(n)
      |  JOIN w2 b ON b.doc_id = a.doc_id AND b.pos = a.pos + n.n - 1),
      |tc AS (
      |  SELECT doc_id, n, g, count(*) AS cnt, max(dl) AS dl
      |  FROM g WHERE n BETWEEN 2 AND 4 GROUP BY 1, 2, 3),
      |tr AS (
      |  SELECT doc_id, n, cnt, dl, length(g) AS gl,
      |    row_number() OVER (PARTITION BY doc_id, n ORDER BY cnt DESC, g ASC) AS rn
      |  FROM tc),
      |top AS (
      |  SELECT doc_id, n,
      |    floor((cnt * gl)::DOUBLE / dl * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS frac,
      |    'top' AS kind
      |  FROM tr WHERE rn = 1),
      |dc AS (
      |  SELECT doc_id, dl, n, pos, cs, ce,
      |    count(*) OVER (PARTITION BY doc_id, n, g) AS cnt
      |  FROM g WHERE n BETWEEN 5 AND 10),
      |du AS (
      |  SELECT doc_id, dl, n, pos, cs, ce, cnt,
      |    max(CASE WHEN cnt >= 2 THEN ce END) OVER (PARTITION BY doc_id, n ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |  FROM dc),
      |ds AS (
      |  SELECT doc_id, n,
      |    floor(sum(CASE WHEN cnt >= 2
      |        THEN greatest(0, ce - greatest(coalesce(pm, 0), cs)) ELSE 0 END)::DOUBLE
      |      / max(dl) * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS frac,
      |    'dup' AS kind
      |  FROM du GROUP BY 1, 2),
      |u AS (SELECT * FROM top UNION ALL SELECT * FROM ds),
      |m AS (
      |  SELECT doc_id,
      |    max(CASE WHEN kind = 'top' AND n = 2 THEN frac END) AS top_char_frac_2,
      |    max(CASE WHEN kind = 'top' AND n = 3 THEN frac END) AS top_char_frac_3,
      |    max(CASE WHEN kind = 'top' AND n = 4 THEN frac END) AS top_char_frac_4,
      |    max(CASE WHEN kind = 'dup' AND n = 5 THEN frac END) AS dup_char_frac_5,
      |    max(CASE WHEN kind = 'dup' AND n = 6 THEN frac END) AS dup_char_frac_6,
      |    max(CASE WHEN kind = 'dup' AND n = 7 THEN frac END) AS dup_char_frac_7,
      |    max(CASE WHEN kind = 'dup' AND n = 8 THEN frac END) AS dup_char_frac_8,
      |    max(CASE WHEN kind = 'dup' AND n = 9 THEN frac END) AS dup_char_frac_9,
      |    max(CASE WHEN kind = 'dup' AND n = 10 THEN frac END) AS dup_char_frac_10
      |  FROM u GROUP BY doc_id)
      |SELECT d.doc_id, m.top_char_frac_2, m.top_char_frac_3, m.top_char_frac_4,
      |  m.dup_char_frac_5, m.dup_char_frac_6, m.dup_char_frac_7,
      |  m.dup_char_frac_8, m.dup_char_frac_9, m.dup_char_frac_10
      |FROM docs d LEFT JOIN m USING (doc_id) ORDER BY d.doc_id""".stripMargin

  /** Per-SOURCE quality deciles — the fair cross-source curation cut:
    * a single global threshold keeps whole sources whose score
    * distribution sits high and guts the rest, so curation recipes cut
    * at a PERCENTILE WITHIN EACH SOURCE ("drop every source's bottom
    * 20%"). decile = exact ntile(10) over (source, quality) — but the
    * naive window form runs ONE task per source (source is
    * low-cardinality: the canonical 100-TB scale-killer this library's
    * window twins exist for), so this is the q_win_ntile_dist two-phase
    * pattern applied per source: equal-width value buckets from each
    * source's broadcast min/max (ANY monotone bucketing gives exact
    * ranks — width only affects balance), per-(source, bucket) local
    * row_number (B·|sources|-way parallel), bucket offsets via a window
    * over the bounded (source × B) count frame, global rank = offset +
    * local, ntile from rank with SQL's bigger-tiles-first remainder
    * rule. Row-identical to the naive window (same oracle SQL). */
  def qualityPercentile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 10
    val nb = 32
    val scored = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"), toks.as("tk"))
      .select(col("doc_id"), col("source"),
        qualityCol(col("text"), col("tk")).as("quality"))
    val bounds = scored.groupBy("source")
      .agg(min("quality").as("qmin"), max("quality").as("qmax"))
    // quality is 4-dp-rounded into [0, 1]; hi = qmax + 1e-4 keeps the top
    // value inside bucket nb and keeps lo < hi on a degenerate source
    val bucketed = scored.join(broadcast(bounds), "source")
      .withColumn("bkt", expr(s"width_bucket(quality, qmin, qmax + 1.0e-4d, $nb)"))
      .drop("qmin", "qmax")
    val offs = bucketed.groupBy("source", "bkt").agg(count(lit(1)).as("cnt"))
      .withColumn("off",
        sum(col("cnt")).over(Window.partitionBy("source").orderBy("bkt")) - col("cnt"))
      .withColumn("n_total", sum(col("cnt")).over(Window.partitionBy("source")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .drop("cnt")
    bucketed.join(broadcast(offs), Seq("source", "bkt"))
      .withColumn("lr", row_number().over(
        Window.partitionBy("source", "bkt")
          .orderBy(col("quality").asc, col("doc_id").asc)))
      .withColumn("rnk", col("off") + col("lr"))
      .withColumn("base", expr(s"n_total div $k"))
      .withColumn("rem", expr(s"n_total % $k"))
      .withColumn("decile",
        when(col("rnk") <= col("rem") * (col("base") + 1),
          expr("(rnk - 1) div (base + 1) + 1"))
        .otherwise(expr("rem + (rnk - rem * (base + 1) - 1) div base + 1"))
        .cast(IntegerType))
      .select(col("doc_id"), col("source"), col("quality"), col("decile"))
      .orderBy("doc_id")
  }

  val qualityPercentileSql =
    """WITH q AS (
      |  SELECT doc_id, source,
      |    CAST(floor((
      |      least(1.0::DOUBLE, len(tk)::DOUBLE / 50.0::DOUBLE) * 0.4::DOUBLE
      |      + (len(list_distinct(tk))::DOUBLE / len(tk)) * 0.3::DOUBLE
      |      + least(1.0::DOUBLE, ((length(text) - (len(tk) - 1))::DOUBLE / len(tk)) / 8.0::DOUBLE) * 0.3::DOUBLE
      |      ) * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS DOUBLE) AS quality
      |  FROM (SELECT doc_id, source, text, string_split(text, ' ') AS tk FROM documents) x)
      |SELECT doc_id, source, quality,
      |  ntile(10) OVER (PARTITION BY source ORDER BY quality ASC, doc_id ASC) AS decile
      |FROM q ORDER BY doc_id""".stripMargin

  // ---- per-group sampling cap -----------------------------------------
  /** Per-source document cap (the "no domain dominates the corpus" op):
    * each source keeps its [[SampleCap]] docs with the highest 52-bit
    * md5(doc_id) prefix — a deterministic uniform sample without
    * replacement, portable across engines. Scale shape: the cap rides
    * the bounded [[graft.functions.KnnTopKAggregator]], so every map
    * task holds ≤cap rows per source and the shuffle carries
    * O(sources·cap) — no per-source window over raw rows, no
    * collect_list. 52 hex-prefix bits keep the score exact in a DOUBLE
    * (< 2^53), so Spark's double order equals DuckDB's BIGINT order. */
  val SampleCap = 20

  def samplePerSource(s: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast(StringType)), 1, 13), 16, 10)
      .cast(LongType).cast(DoubleType)
    t(s, dir, "documents")
      .select(col("source"), col("doc_id"), h.as("h"))
      .groupBy("source")
      .agg(graft.functions.KnnTopK.knnTopk(col("h"), col("doc_id"), SampleCap).as("hits"))
      .select(col("source"), posexplode(col("hits")).as(Seq("pos", "x")))
      .select(col("source"), (col("pos") + 1).cast(LongType).as("rank"),
        col("x.vec_id").as("doc_id"))
      .orderBy("source", "rank")
  }

  val samplePerSourceSql =
    s"""SELECT source, rn AS rank, doc_id FROM (
       |  SELECT source, doc_id,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::BIGINT DESC,
       |               doc_id ASC) AS rn
       |  FROM documents) x
       |WHERE rn <= $SampleCap ORDER BY source, rank""".stripMargin

  // ---- duplicated-span quality signal ---------------------------------
  /** Common-span ratio (the RefinedWeb/CCNet "duplicated text fraction"
    * signal): per doc, the fraction of its distinct word-5-gram spans
    * that appear in ≥ [[CommonSpanDf]] documents — boilerplate-heavy and
    * template-generated docs score high. Scale shape: native distinct
    * shingling (map-side WordNgrams), a map-side-combined df groupBy on
    * gram, and a 1:1 enrichment join (each span row matches exactly one
    * df row — no fan-out however common a span is), then a doc_id
    * groupBy. All keys scale with the data.
    *
    * The span key that shuffles (df groupBy + enrichment join, i.e.
    * TWICE) is a fixed-width 60-bit md5 prefix of the gram, not the raw
    * ~30-byte 5-gram string — the same cross-engine hash family as
    * dedupMinhashBands, mirrored in the oracle — cutting shuffle bytes
    * ~5×. A 60-bit collision would merge two spans' df counts; at n
    * distinct spans the expected collision count is n²/2^61 (≪ 1 up to
    * billions of spans), and both engines hash identically so the
    * comparison is unaffected either way. */
  /** ≥ this many docs makes a span "common". Sized to the data domain:
    * at sf0.01 the 5-gram doc-frequency distribution tops out at 3
    * (74 spans) — a threshold of 5 never fires, measuring nothing. 3
    * keeps the top of the distribution; the constant inlines into both
    * engines so retuning per corpus is one edit. */
  val CommonSpanDf = 3

  def commonSpanRatio(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExpressions.register(s)
    val spans = fanOut(t(s, dir, "documents") // per-token md5 kernel below
        .select("doc_id", "text"), col("doc_id"))
      .where(size(toks) >= 5)
      .select(col("doc_id"),
        explode(graft.functions.TextExpressions.wordNgrams(toks, 5)).as("g"))
      .select(col("doc_id"),
        graft.functions.TextExpressions.md5Prefix64(col("g"), 15).as("gh"))
    val dfs = spans.groupBy("gh").agg(count(lit(1)).as("df"))
    spans.join(dfs, "gh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df") >= CommonSpanDf, 1L).otherwise(0L)).as("n_common"))
      .select(col("doc_id"), col("n_spans"), col("n_common"),
        r4f(col("n_common").cast(DoubleType) / col("n_spans").cast(DoubleType))
          .as("common_ratio"))
      .orderBy("doc_id")
  }

  val commonSpanRatioSql =
    s"""WITH tk AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
       |  WHERE len(string_split(text, ' ')) >= 5),
       |grams AS (
       |  SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh FROM (
       |    SELECT DISTINCT doc_id,
       |      tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4] AS g
       |    FROM tk JOIN generate_series(1, 100000) s(i) ON i <= len(tk) - 4) x),
       |dfs AS (SELECT gh, count(*) AS df FROM grams GROUP BY 1)
       |SELECT doc_id, count(*)::BIGINT AS n_spans,
       |  sum(CASE WHEN df >= $CommonSpanDf THEN 1 ELSE 0 END)::BIGINT AS n_common,
       |  CAST(floor(sum(CASE WHEN df >= $CommonSpanDf THEN 1 ELSE 0 END)::DOUBLE
       |    / count(*)::DOUBLE * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS DOUBLE) AS common_ratio
       |FROM grams JOIN dfs USING (gh)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- corpus mixture statistics ---------------------------------------
  /** Training-mix weighting inputs: per (lang, source) document and token
    * totals plus each cell's share of the global token budget — the
    * numbers a data-mixture sweep reweights against. One map-side-combined
    * groupBy on (lang, source) (fixed-cardinality output), then the global
    * total joins back as a 1-row broadcast — no second pass over the
    * corpus, no window over the whole table. */
  def corpusMix(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "documents")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(toks)).cast(LongType).as("n_tokens"))
    val total = per.agg(sum(col("n_tokens")).cast(DoubleType).as("tot"))
    per.crossJoin(broadcast(total))
      .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
        r4f(col("n_tokens").cast(DoubleType) / col("tot")).as("token_share"))
      .orderBy("lang", "source")
  }

  val corpusMixSql =
    """WITH per AS (
      |  SELECT lang, source, count(*) AS n_docs,
      |    sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
      |  FROM documents GROUP BY 1, 2),
      |tot AS (SELECT sum(n_tokens)::DOUBLE AS tot FROM per)
      |SELECT lang, source, n_docs, n_tokens,
      |  CAST(floor(n_tokens::DOUBLE / tot * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS DOUBLE) AS token_share
      |FROM per, tot ORDER BY lang, source""".stripMargin

  // ---- mixture planning --------------------------------------------------
  /** The PLAN on top of [[corpusMix]]'s measurement — the arithmetic a
    * Pile/Dolma/DoReMi-style mixing table drives before a training run:
    * per source, natural token share vs a TARGET share (a weight
    * catalog; here derived deterministically from the source name the
    * way a deployment's config file would carry it), the sampling rate
    * that realizes the target at a one-total-token budget, the epochs of
    * that source the budget consumes, and the over-epoch flag (epochs >
    * 1 = the target repeats data — the DoReMi warning sign). Exactness:
    * integer token counts and weights; each double output is the same
    * op sequence in both engines, r4-rounded. One groupBy + a 1-row
    * broadcast total — corpusMix's scale shape. */
  /** per-source (source, n_tokens, w, tot, wtot) frame shared by the
    * plan and its apply */
  private def mixFrame(s: SparkSession, dir: String): DataFrame = {
    // weight catalog stand-in: the shared md5 coin of the source NAME —
    // total for any name (a substring-cast of 'srcN' would throw under
    // ANSI on a foreign catalog), deterministic, oracle-replayable; the
    // REAL-table path is mixFrameFrom (mixPlanFrom / mixPlanApplyFrom)
    val w = (graft.operators.CorpusOps.coin(col("source")) % 4 + 1).as("w")
    val per = t(s, dir, "documents")
      .groupBy("source")
      .agg(sum(size(toks)).cast(LongType).as("n_tokens"))
      .select(col("source"), col("n_tokens"), w)
    val tot = per.agg(sum(col("n_tokens")).cast(DoubleType).as("tot"),
      sum(col("w")).cast(DoubleType).as("wtot"))
    per.crossJoin(broadcast(tot))
  }

  /** [[mixFrame]] under an EXPLICIT (source, w) mixing table — the real
    * weight-catalog path the md5-coin stand-in's scaladoc points at,
    * provided the way [[qualityModelWeighted]] provides the quality
    * model's: same arithmetic, the weight column joined in from a frame
    * instead of derived from the name. The table is mixing-run CONFIG
    * (tens of rows — one per source), so it broadcasts; sources absent
    * from the table are EXCLUDED from the plan (a mixing table defines
    * the mix — an unlisted source contributes neither weight mass nor
    * output rows), which the inner join makes explicit. Integer weights
    * keep the exactness contract (scale any rational table to
    * milli-weights). */
  private def mixFrameFrom(s: SparkSession, dir: String,
      targets: DataFrame): DataFrame = {
    val per = t(s, dir, "documents")
      .groupBy("source")
      .agg(sum(size(toks)).cast(LongType).as("n_tokens"))
      .join(broadcast(targets.select(col("source"),
        col("w").cast(LongType).as("w"))), Seq("source"))
    val tot = per.agg(sum(col("n_tokens")).cast(DoubleType).as("tot"),
      sum(col("w")).cast(DoubleType).as("wtot"))
    per.crossJoin(broadcast(tot))
  }

  /** the plan projection over either weighting form */
  private def mixPlanOf(frame: DataFrame): DataFrame =
    frame
      .select(col("source"), col("n_tokens"), col("w"),
        r4f(col("n_tokens").cast(DoubleType) / col("tot")).as("natural_share"),
        r4f(col("w").cast(DoubleType) / col("wtot")).as("target_share"),
        r4f(col("w").cast(DoubleType) * col("tot")
          / (col("wtot") * col("n_tokens").cast(DoubleType))).as("epochs"),
        (col("w").cast(DoubleType) * col("tot")
          > col("wtot") * col("n_tokens").cast(DoubleType)).as("repeats_data"))
      .orderBy("source")

  def mixPlan(s: SparkSession, dir: String): DataFrame =
    mixPlanOf(mixFrame(s, dir))

  /** [[mixPlan]] driven by a real (source, w) mixing table */
  def mixPlanFrom(s: SparkSession, dir: String, targets: DataFrame): DataFrame =
    mixPlanOf(mixFrameFrom(s, dir, targets))

  val mixPlanSql: String =
    """WITH per AS (
      |  SELECT source, sum(len(string_split(text, ' ')))::BIGINT AS n_tokens,
      |    (('0x' || substr(md5(source), 1, 8))::BIGINT % 4 + 1) AS w
      |  FROM documents GROUP BY source),
      |tot AS (SELECT sum(n_tokens)::DOUBLE AS tot, sum(w)::DOUBLE AS wtot FROM per)
      |SELECT source, n_tokens, w,
      |  CAST(floor(n_tokens::DOUBLE / tot * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS DOUBLE) AS natural_share,
      |  CAST(floor(w::DOUBLE / wtot * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS DOUBLE) AS target_share,
      |  CAST(floor(w::DOUBLE * tot / (wtot * n_tokens::DOUBLE) * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS DOUBLE) AS epochs,
      |  w::DOUBLE * tot > wtot * n_tokens::DOUBLE AS repeats_data
      |FROM per, tot ORDER BY source""".stripMargin

  /** The mixing table EXECUTED: each doc emits `n_copies` = ⌊epochs⌋ of
    * its source plus one more when its md5 coin lands under the
    * fractional part — so summed over a source, expected token mass is
    * exactly the target share of the one-total-token budget, with
    * up-weighted sources repeating data (the `repeats_data` epochs > 1
    * case) and down-weighted ones subsampling. The coin is the shared
    * `CorpusOps.coin` (pure function of doc_id), so the realized sample
    * is reproducible anywhere; the fractional threshold scales by 2^32
    * (exact) to compare against the integer coin — no double-boundary
    * flakiness beyond the plan's own spec'd determinism. Docs drawing 0
    * copies drop out. */
  def mixPlanApply(s: SparkSession, dir: String): DataFrame =
    mixPlanApplyOf(s, dir, mixFrame(s, dir))

  /** [[mixPlanApply]] driven by a real (source, w) mixing table — docs
    * of unlisted sources draw no copies (the [[mixFrameFrom]] exclusion
    * contract carried through the inner join) */
  def mixPlanApplyFrom(s: SparkSession, dir: String,
      targets: DataFrame): DataFrame =
    mixPlanApplyOf(s, dir, mixFrameFrom(s, dir, targets))

  private def mixPlanApplyOf(s: SparkSession, dir: String,
      frame: DataFrame): DataFrame = {
    val e = col("w").cast(DoubleType) * col("tot") /
      (col("wtot") * col("n_tokens").cast(DoubleType))
    val plan = frame.select(col("source"), e.as("epochs"))
    t(s, dir, "documents").select(col("doc_id"), col("source"))
      .join(broadcast(plan), Seq("source"))
      .select(col("doc_id"), col("source"),
        (floor(col("epochs")).cast(LongType) +
          when(graft.operators.CorpusOps.coin(col("doc_id")).cast(DoubleType)
            < (col("epochs") - floor(col("epochs"))) * lit(4294967296.0), 1L)
            .otherwise(0L)).as("n_copies"))
      .where(col("n_copies") > 0)
      .orderBy("doc_id")
  }

  val mixPlanApplySql: String =
    """WITH per AS (
      |  SELECT source, sum(len(string_split(text, ' ')))::BIGINT AS n_tokens,
      |    (('0x' || substr(md5(source), 1, 8))::BIGINT % 4 + 1) AS w
      |  FROM documents GROUP BY source),
      |tot AS (SELECT sum(n_tokens)::DOUBLE AS tot, sum(w)::DOUBLE AS wtot FROM per),
      |plan AS (SELECT source, w::DOUBLE * tot / (wtot * n_tokens::DOUBLE) AS epochs
      |  FROM per, tot),
      |j AS (SELECT d.doc_id, d.source,
      |  floor(p.epochs)::BIGINT +
      |    CASE WHEN ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT::DOUBLE
      |              < (p.epochs - floor(p.epochs)) * 4294967296::DOUBLE
      |         THEN 1 ELSE 0 END AS n_copies
      |  FROM documents d JOIN plan p ON d.source = p.source)
      |SELECT doc_id, source, n_copies FROM j WHERE n_copies > 0
      |ORDER BY doc_id""".stripMargin

  // ---- common-span scrubbing (duplicated-text REMOVAL) -----------------
  /** The removal twin of [[commonSpanRatio]] (RefinedWeb/CCNet duplicated
    * text is REMOVED, not only measured): every token covered by any
    * word-5-gram span occurring in ≥ [[ScrubSpanDf]] docs is dropped,
    * the rest re-concatenate in order. The declared query emits
    * (doc_id, n_toks, n_kept, md5(scrubbed)) so the full rewritten corpus
    * is pinned by hash without shuffling document bodies into the result;
    * [[scrubCommonSpans]] returns the actual scrubbed text for pipeline
    * use.
    *
    * Scale shape: positional spans are a map-side projection; the common
    * set is one map-side-combined groupBy on the 60-bit span key; coverage
    * is a bounded equi-join on that key (1 df row per span — no fan-out on
    * hot spans beyond their own occurrences) + a per-doc distinct; the
    * rebuild is one groupBy on doc_id. Every shuffle keys on the span hash
    * or doc_id — both scale with the corpus. */
  /** scrub threshold is DELIBERATELY lower than [[CommonSpanDf]]: the
    * ratio op MEASURES boilerplate (higher bar avoids penalizing benign
    * coincidence); the scrub REMOVES duplicated text, where any span
    * shared across documents is exactly what near-dup leakage looks
    * like (RefinedWeb removes all inter-doc duplicated spans). */
  val ScrubSpanDf = 2

  def scrubCommonSpans(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExpressions.register(s)
    // fanOut: the per-token md5 span kernel AND the checkpointed spans
    // frame inherit this partitioning — on the 1-split scan the whole
    // query serialized (the materialized checkpoint was 1 partition)
    val tokd = fanOut(t(s, dir, "documents").select("doc_id", "text"),
        col("doc_id"))
      .select(col("doc_id"), toks.as("tk"))
    // ALL span occurrences with their 0-based start positions — the
    // coverage computation needs positions, so this is posexplode over an
    // index transform, not the distinct WordNgrams shingler
    // localCheckpoint: this projection (per-token md5 — the dominant cost
    // of the whole query) feeds TWO consumers, `common` and `covered`;
    // without truncation Spark re-executes the full 5-gram pipeline once
    // per consumer. Same reuse discipline as curateBatch/dedupEval. The
    // materialized payload is (doc_id, pos, gh) — 20 B/span, never the
    // token stream — so it stays executor-local and bounded at scale.
    val spans = tokd.where(size(col("tk")) >= 5)
      .select(col("doc_id"), posexplode(graft.functions.TextExpressions
        .wordNgramMd5p64(col("tk"), 5, 15)).as(Seq("pos", "gh")))
      .localCheckpoint()
    val common = spans.select(col("doc_id"), col("gh")).distinct()
      .groupBy("gh").agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= ScrubSpanDf)
      .select("gh")
    // no distinct on covered positions: overlapping spans duplicate (doc,
    // p) rows, but collect_set collapses them — dropping the distinct
    // saves a full shuffle+aggregate over ~5× the span count
    val covered = spans.join(common, "gh")
      .select(col("doc_id"), explode(expr("sequence(pos, pos + 4)")).as("p"))
    // Per-doc covered-position SET, then the rebuild is a pure projection:
    // filter each doc's (token, index) pairs against its coverage array —
    // no token-stream explode, no (doc_id, p) anti-join shuffle, no
    // collect_list re-sort. The only shuffles after candidate generation
    // are the coverage groupBy and one equi-join, both on doc_id (the
    // scaling key), and the shuffled payload is covered POSITIONS (≈5× the
    // common-span occurrences), never the full token stream. Only TOUCHED
    // docs (≥1 covered position — 71/500 at sf0.01) carry a coverage row;
    // untouched docs rejoin their own tokens map-side. The rebuild
    // kernel is the native scrub_positions expression (TextExpressions,
    // r22): the transform(filter(transform(tk, …))) HOF chain it
    // replaces ran its three lambdas interpreted — a lambda frame +
    // boxed struct + linear array_contains scan per token, profiled as
    // this query's hottest stage (24 s run / 16 s CPU at sf0.1) — where
    // the bitset loop is codegen'd, O(|tk| + |cov|), and
    // element-identical (parity-pinned in TextAnalysisSpec).
    val covSets = covered.groupBy("doc_id")
      .agg(array_sort(collect_set(col("p"))).as("cov"))
    // ONE left join, null coverage ⇒ keep-everything fallback: the
    // previous inner+left_anti two-branch union recomputed the entire
    // covSets subtree (and with it the 5-gram md5 pipeline — the
    // dominant cost) once per branch; the left join reads it once,
    // halving the measured query. Untouched docs (cov IS NULL) still
    // rebuild map-side from their own token array.
    tokd.join(covSets, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("tk")).cast(LongType).as("n_toks"),
        when(col("cov").isNull, col("tk"))
          .otherwise(graft.functions.TextExpressions
            .scrubPositions(col("tk"), col("cov"))).as("keptToks"))
      .select(col("doc_id"), col("n_toks"),
        size(col("keptToks")).cast(LongType).as("n_kept"),
        array_join(col("keptToks"), " ").as("scrubbed"))
  }

  def scrubSpans(s: SparkSession, dir: String): DataFrame =
    scrubCommonSpans(s, dir)
      .select(col("doc_id"), col("n_toks"), col("n_kept"),
        md5(col("scrubbed")).as("scrub_md5"))
      .orderBy("doc_id")

  val scrubSpansSql =
    s"""WITH tokd AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |tok AS (SELECT doc_id, i - 1 AS p, tk[i] AS tok
       |        FROM tokd JOIN generate_series(1, 100000) g(i) ON i <= len(tk)),
       |spans AS (
       |  SELECT doc_id, i - 1 AS pos,
       |    ('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4]), 1, 15))::BIGINT AS gh
       |  FROM tokd JOIN generate_series(1, 100000) g(i) ON i <= len(tk) - 4),
       |common AS (SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM spans) x
       |           GROUP BY gh HAVING count(*) >= $ScrubSpanDf),
       |covered AS (
       |  SELECT DISTINCT s.doc_id, s.pos + o AS p
       |  FROM spans s JOIN common USING (gh)
       |  JOIN generate_series(0, 4) r(o) ON true),
       |surv AS (SELECT t.doc_id, t.p, t.tok FROM tok t
       |         LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.p = c.p
       |         WHERE c.doc_id IS NULL),
       |kept AS (SELECT doc_id, count(*) AS n_kept,
       |                string_agg(tok, ' ' ORDER BY p) AS scrubbed
       |         FROM surv GROUP BY 1)
       |SELECT d.doc_id, len(d.tk)::BIGINT AS n_toks,
       |  coalesce(k.n_kept, 0)::BIGINT AS n_kept,
       |  md5(coalesce(k.scrubbed, '')) AS scrub_md5
       |FROM tokd d LEFT JOIN kept k USING (doc_id) ORDER BY d.doc_id""".stripMargin

  // ---- PII scrubbing ---------------------------------------------------
  /** Corpus-hygiene redaction pass (emails, IPv4s, US-style phone
    * numbers → typed placeholders) + per-doc redaction counts — the
    * standard pre-release scrub over web text. Patterns are restricted
    * to syntax Java regex and RE2 interpret identically (char classes,
    * bounded repeats, `\b`, `\d`), so the DuckDB oracle replays them
    * verbatim. Purely per-row expressions: zero shuffles, trivially
    * parallel at 100 TB. Counts are taken on the ORIGINAL text;
    * replacements apply email → IP → phone in both engines (order
    * matters only if patterns overlap — these cannot). */
  val EmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val Ipv4Re = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  val PhoneRe = """\b\d{3}-\d{3}-\d{4}\b"""

  /** the email → IP → phone redaction chain as one column expression —
    * factored out so the composed curation pipeline ([[Curate]]) scrubs
    * with the identical patterns in the identical order */
  private[operators] def scrubCol(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(text,
      EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), PhoneRe, "<PHONE>")

  def piiScrub(s: SparkSession, dir: String): DataFrame =
    // fanOut (util.scala): six full-text regex scans per row (3 counts +
    // 3 replaces) serialized on the 1-split documents scan and
    // re-executed by the orderBy's range sampler (tools.Profile: 0.44 s
    // + 0.39 s 1-task stages — the whole query)
    fanOut(t(s, dir, "documents").select("doc_id", "text"), col("doc_id"))
      .select(col("doc_id"),
        regexp_count(col("text"), lit(EmailRe)).cast(LongType).as("n_emails"),
        regexp_count(col("text"), lit(Ipv4Re)).cast(LongType).as("n_ips"),
        regexp_count(col("text"), lit(PhoneRe)).cast(LongType).as("n_phones"),
        scrubCol(col("text")).as("scrubbed"))
      .orderBy("doc_id")

  val piiScrubSql =
    s"""SELECT doc_id,
       |  len(regexp_extract_all(text, '$EmailRe'))::BIGINT AS n_emails,
       |  len(regexp_extract_all(text, '$Ipv4Re'))::BIGINT AS n_ips,
       |  len(regexp_extract_all(text, '$PhoneRe'))::BIGINT AS n_phones,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '$EmailRe', '<EMAIL>', 'g'), '$Ipv4Re', '<IP>', 'g'), '$PhoneRe', '<PHONE>', 'g') AS scrubbed
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---- unicode normalization ------------------------------------------
  /** Unicode NFC normalization via the native codegen'd
    * [[graft.functions.UnicodeNormalize]] expression — the hygiene step
    * that must run BEFORE fingerprinting/dedup (composed 'á' and
    * decomposed 'a'+U+0301 hash as different documents; real web corpora
    * mix both forms). Spark has no built-in for it; a Scala UDF would
    * box every row and fence whole-stage codegen next to the md5/split
    * projections this feeds.
    *
    * The declared query manufactures the DECOMPOSED variant in-plan
    * (every 'a' → 'a' + U+0301, the NFD form of 'á' — this corpus is
    * ASCII, so normalization would otherwise be unobservable; in
    * production the messy upstream source plays this role), composes it
    * back with NFC, and reports both code-point lengths plus the
    * normalized text — raw_len > norm_len exactly where 'a' occurs, and
    * the oracle's independent `nfc_normalize` must produce
    * byte-identical strings. Map-side only; the lone shuffle is the
    * declared orderBy. */
  def normalizeText(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExpressions.register(s)
    t(s, dir, "documents")
      .select(col("doc_id"),
        regexp_replace(col("text"), "a", "a\u0301").as("decomposed"))
      .select(col("doc_id"),
        length(col("decomposed")).cast(LongType).as("raw_len"),
        graft.functions.TextExpressions
          .unicodeNormalize(col("decomposed"), "NFC").as("norm_text"))
      .select(col("doc_id"), col("raw_len"),
        length(col("norm_text")).cast(LongType).as("norm_len"),
        col("norm_text"))
      .orderBy("doc_id")
  }

  val normalizeTextSql: String =
    """WITH x AS (
      |  SELECT doc_id, regexp_replace(text, 'a', 'a' || chr(769), 'g') AS decq
      |  FROM documents)
      |SELECT doc_id, length(decq) AS raw_len,
      |  length(nfc_normalize(decq)) AS norm_len,
      |  nfc_normalize(decq) AS norm_text
      |FROM x ORDER BY doc_id""".stripMargin

  // ---- model-based quality scoring (hashing-trick linear classifier) --
  /** Model-based quality filtering (the fastText-classifier step of
    * DCLM / FineWeb-Edu-style pipelines) expressed in its at-scale Spark
    * shape: a LINEAR text classifier is one map-side pass — per token a
    * weight lookup, per doc a sum, a threshold on the mean. No shuffle
    * touches the corpus; the model rides the closure/broadcast.
    *
    * The weights here are a deterministic hash-derived STAND-IN for
    * trained parameters (this sandbox trains nothing): each token's
    * integer milli-weight is ((60-bit md5 prefix) mod 2001) - 1000 ∈
    * [-1000, 1000] — i.e. the hashing trick in the D→∞ limit, where the
    * bucket IS the hash, so the oracle replays scoring without a weights
    * artifact. A production model swaps ONE expression: weight =
    * element_at(broadcast_weights, hash mod D). Plumbing, batch shape and
    * the keep/drop contract are the real thing; only the numbers inside
    * the weight vector are fake. The swap is PROVIDED, not just
    * promised: [[qualityModelWeighted]] scores under an explicit weight
    * vector or (dim, w_milli) frame, and TextAnalysisSpec proves the
    * stand-in and a table encoding the same function score identically.
    *
    * Exactness: integer milli-weights summed by an in-order HOF aggregate
    * (no float summation-order hazard); the mean is one double division,
    * r4-rounded; the verdict compares the EXACT integer sum against the
    * bias, so no rounded-boundary flakiness cross-engine. */
  val QualityModelBiasMilli = 0L

  def qualityModel(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExpressions.register(s)
    t(s, dir, "documents")
      .select(col("doc_id"), split(lower(col("text")), " ").as("tk"))
      .withColumn("hs",
        graft.functions.TextExpressions.wordNgramMd5p64(col("tk"), 1, 15))
      .withColumn("wsum", expr("aggregate(hs, 0L, (a, x) -> a + (x % 2001) - 1000L)"))
      .select(col("doc_id"), size(col("tk")).cast(LongType).as("n_tok"),
        r4(col("wsum").cast(DoubleType)
          / (size(col("tk")).cast(LongType) * 1000L).cast(DoubleType)).as("score"),
        when(col("wsum") >= QualityModelBiasMilli, 1).otherwise(0).as("keep"))
      .orderBy("doc_id")
  }

  /** The trained-model path the stand-in's scaladoc promises, actually
    * provided: score (doc_id, text) rows under an EXPLICIT D-bucket
    * milli-weight vector — weight = element_at(weights, (h mod D) + 1) —
    * with everything else (hashing, in-order integer sum, exact-integer
    * verdict) identical to [[qualityModel]]. The weight vector rides the
    * plan as ONE array literal (`typedLit`, not a D-child expression
    * tree), so the corpus still never shuffles and scoring stays one
    * map-side pass whatever D is. */
  def qualityModelWeighted(docs: DataFrame, weightsMilli: Seq[Long],
      biasMilli: Long = QualityModelBiasMilli): DataFrame = {
    require(weightsMilli.nonEmpty, "weight table must have at least one bucket")
    graft.functions.TextExpressions.register(docs.sparkSession)
    val d = weightsMilli.size.toLong
    val w = typedLit(weightsMilli)
    docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("tk"))
      .withColumn("hs",
        graft.functions.TextExpressions.wordNgramMd5p64(col("tk"), 1, 15))
      .withColumn("wsum", aggregate(col("hs"), lit(0L),
        (a, x) => a + element_at(w, (x % lit(d)).cast(IntegerType) + 1)))
      .select(col("doc_id"), size(col("tk")).cast(LongType).as("n_tok"),
        r4(col("wsum").cast(DoubleType)
          / (size(col("tk")).cast(LongType) * 1000L).cast(DoubleType)).as("score"),
        when(col("wsum") >= biasMilli, 1).otherwise(0).as("keep"))
      .orderBy("doc_id")
  }

  /** weights-FRAME form — (dim, w_milli) rows, the shape a trained
    * artifact lands in: one documented O(D) model-metadata collect (the
    * IVF-codebook pattern; D is a model constant, not data) converts it
    * to the vector form. Dims must be the contiguous 0..D-1 buckets. */
  def qualityModelWeighted(docs: DataFrame, weights: DataFrame,
      biasMilli: Long): DataFrame = {
    val rows = weights.orderBy("dim").select("dim", "w_milli").collect()
    require(rows.nonEmpty && rows.zipWithIndex.forall {
        case (r, i) => r.getInt(0) == i },
      "weights frame must carry contiguous dims 0..D-1")
    qualityModelWeighted(docs, rows.map(_.getLong(1)).toSeq, biasMilli)
  }

  val qualityModelSql =
    s"""WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
       |w AS (
       |  SELECT doc_id, len(tk)::BIGINT AS n_tok,
       |    list_sum(list_transform(tk,
       |      t -> (('0x' || substr(md5(t), 1, 15))::BIGINT % 2001) - 1000))::BIGINT AS wsum
       |  FROM d)
       |SELECT doc_id, n_tok,
       |  CAST(round(wsum::DOUBLE / (1000 * n_tok)::DOUBLE, 4) AS DOUBLE) AS score,
       |  CASE WHEN wsum >= $QualityModelBiasMilli THEN 1 ELSE 0 END AS keep
       |FROM w ORDER BY doc_id""".stripMargin

  // ---- winnowing fingerprints ----------------------------------------
  /** positional word-3-gram hashes (md5-derived 60-bit ints — portable),
    * sliding-window (w=5) minima, per-doc fingerprint summary. The
    * window-min dedup is the winnowing selection step (Schleimer et al.,
    * MOSS) — at scale the fingerprint set is the doc's dedup sketch. */
  def docFingerprint(s: SparkSession, dir: String): DataFrame = {
    // winnowing is per-document local math: gram hashes once, sliding
    // 5-window minima via slice over the hash array — a map-side
    // projection (the explode + per-doc window form sorted and shuffled
    // every gram row for what one row can compute)
    graft.functions.TextExpressions.register(s)
    // fanOut (util.scala): the per-gram md5 pass + interpreted
    // window-min transform serialize on the 1-split documents scan
    // (tools.Profile: 0.6 s + 0.4 s 1-task stages — the whole query)
    fanOut(t(s, dir, "documents").select("doc_id", "text"), col("doc_id"))
      .select(col("doc_id"), toks.as("tk"))
      .where(size(col("tk")) >= 3)
      .withColumn("hs",
        graft.functions.TextExpressions.wordNgramMd5p64(col("tk"), 3, 15))
      .withColumn("wmins", expr(
        "transform(sequence(1, size(hs)), i -> array_min(slice(hs, greatest(i - 4, 1), i - greatest(i - 4, 1) + 1)))"))
      .select(col("doc_id"),
        size(array_distinct(col("wmins"))).cast(LongType).as("n_fp"),
        array_min(col("wmins")).as("fp_min"), array_max(col("wmins")).as("fp_max"))
      .orderBy("doc_id")
  }

  val docFingerprintSql =
    """WITH g AS (
      |  SELECT doc_id, i - 1 AS pos,
      |    ('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 1, 15))::BIGINT AS h
      |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents WHERE len(string_split(text, ' ')) >= 3) x
      |  JOIN generate_series(1, 100000) s(i) ON i <= len(tk) - 2),
      |wm AS (SELECT doc_id, min(h) OVER (PARTITION BY doc_id ORDER BY pos
      |         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS wmin FROM g)
      |SELECT doc_id, count(DISTINCT wmin) AS n_fp, min(wmin) AS fp_min, max(wmin) AS fp_max
      |FROM wm GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, Q] = Map(
    "q_text_stats" -> textStats _,
    "q_token_freq" -> tokenFreq _,
    "q_bpe_pairs" -> bpePairs _,
    "q_bpe_encode" -> bpeEncodeQ _,
    "q_normalize_text" -> normalizeText _,
    "q_lang_id" -> langId _,
    "q_quality_score" -> qualityScore _,
    "q_token_count" -> tokenCount _,
    "q_doc_fingerprint" -> docFingerprint _,
    "q_tfidf_top" -> tfidfTop _,
    "q_sample_stratified" -> sampleStratified _,
    "q_pack_contexts" -> packContexts _,
    "q_pack_contexts_sharded" -> packContextsSharded _,
    "q_pack_efficiency" -> packEfficiency _,
    "q_repetition_ratio" -> repetitionRatio _,
    "q_repetition_gopher" -> repetitionGopher _,
    "q_repetition_gopher_sampled" -> repetitionGopherSampled _,
    "q_pii_scrub" -> piiScrub _,
    "q_sample_per_source" -> samplePerSource _,
    "q_quality_filter" -> qualityFilter _,
    "q_quality_percentile" -> qualityPercentile _,
    "q_common_span_ratio" -> commonSpanRatio _,
    "q_scrub_spans" -> scrubSpans _,
    "q_quality_model" -> qualityModel _,
    "q_corpus_mix" -> corpusMix _,
    "q_mix_plan" -> mixPlan _,
    "q_mix_plan_apply" -> mixPlanApply _)

  val oracle: Map[String, String] = Map(
    "q_tfidf_top" -> tfidfTopSql,
    "q_sample_stratified" -> sampleStratifiedSql,
    "q_pack_contexts" -> packContextsSql,
    "q_pack_contexts_sharded" -> packContextsShardedSql,
    "q_pack_efficiency" -> packEfficiencySql,
    "q_text_stats" -> textStatsSql,
    "q_token_freq" -> tokenFreqSql,
    "q_bpe_pairs" -> bpePairsSql,
    "q_normalize_text" -> normalizeTextSql,
    "q_lang_id" -> langIdSql,
    "q_quality_score" -> qualityScoreSql,
    "q_token_count" -> tokenCountSql,
    "q_doc_fingerprint" -> docFingerprintSql,
    "q_repetition_ratio" -> repetitionRatioSql,
    "q_repetition_gopher" -> repetitionGopherSql,
    "q_repetition_gopher_sampled" -> repetitionGopherSampledSql,
    "q_pii_scrub" -> piiScrubSql,
    "q_sample_per_source" -> samplePerSourceSql,
    "q_quality_filter" -> qualityFilterSql,
    "q_quality_percentile" -> qualityPercentileSql,
    "q_common_span_ratio" -> commonSpanRatioSql,
    "q_scrub_spans" -> scrubSpansSql,
    "q_quality_model" -> qualityModelSql,
    "q_corpus_mix" -> corpusMixSql,
    "q_mix_plan" -> mixPlanSql,
    "q_mix_plan_apply" -> mixPlanApplySql)
}
