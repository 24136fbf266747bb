package graft.operators

import graft.util._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-7 corpus-preparation operators (SURVEY.md §2 B.16) — the
  * dataset-assembly steps between "curated corpus" and "training run"
  * that the earlier rounds' curation family (dedup / scrub / quality /
  * pack) stops short of:
  *
  *   - deterministic train/val/test splitting (`q_split_assign`)
  *   - temperature-flattened source mixing (`q_sample_temperature`)
  *   - vocabulary coverage diagnostics (`q_vocab_coverage`)
  *   - the global training shuffle (`q_shuffle_shard`)
  *   - unigram-LM rarity scoring (`q_quality_unigram`)
  *   - sub-document keep-first block dedup (`q_dedup_paragraph`)
  *
  * Shared determinism contract: the only doubles are single
  * correctly-rounded IEEE ops (divide, sqrt, power-of-two scale) that
  * Spark and DuckDB compute bit-identically; everything else is exact
  * integer / md5 arithmetic, so the driver's hash compare is stable.
  */
object CorpusOps {

  private def toks: Column = split(col("text"), " ")

  /** the portable md5 coin shared with q_sample_hash / q_sample_stratified:
    * first 8 hex chars of md5(doc_id) as a BIGINT — replayable in any
    * engine, uniform, independent of partitioning. Public so the
    * streaming gates stamp the IDENTICAL decisions. */
  def coin(c: Column): Column =
    conv(substring(md5(c.cast(StringType)), 1, 8), 16, 10).cast(LongType)

  // ---- deterministic train/val/test split ------------------------------
  /** Hash-based split assignment — the reproducibility backbone of every
    * dataset release: membership is a pure function of doc_id (rerun
    * anywhere, any partitioning, same split), val/test rates are per-mille
    * bucket ranges so fractions are exact, and no state (no sampled id
    * list) needs to ship with the data. Pure map-side projection: zero
    * shuffles at any corpus size. */
  val SplitTestPerMille = 10
  val SplitValPerMille = 30 // test ∪ val = buckets [0, 30)

  /** split label of one doc_id — factored out so the streaming router
    * ([[graft.streaming.Pipeline.streamSplitRoute]]) stamps the IDENTICAL
    * assignment the batch query declares */
  def splitOf(docId: Column): Column = {
    val b = coin(docId) % 1000
    when(b < SplitTestPerMille, "test")
      .when(b < SplitValPerMille, "val")
      .otherwise("train")
  }

  def splitAssign(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), (coin(col("doc_id")) % 1000).as("bucket"),
        splitOf(col("doc_id")).as("split"))
      .orderBy("doc_id")

  val splitAssignSql: String =
    s"""SELECT doc_id, lang,
       |  ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000 AS bucket,
       |  CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000 < $SplitTestPerMille THEN 'test'
       |       WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000 < $SplitValPerMille THEN 'val'
       |       ELSE 'train' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---- temperature-flattened source mixing -----------------------------
  /** Multinomial temperature sampling (the mT5/XLM-R α-mixing rule at
    * α = 1/2): per-source keep-rate ∝ n^(α−1) = C·sqrt(N/n), so sampled
    * mass ∝ n^α — dominant sources flatten, tail sources keep everything
    * (rate caps at 1). α is FIXED at 1/2 because that makes the only
    * non-rational op an IEEE `sqrt`, which (unlike `pow`) is correctly
    * rounded and therefore bit-identical across engines; C = 1/4 is a
    * power of two, so the scale multiply is exact. The per-doc coin is
    * the shared md5 family — the same doc survives in any engine.
    *
    * Shape at scale: one map-side-combined groupBy for the source table
    * (sources are a catalog, not data-sized), a 1-row broadcast total, a
    * broadcast rate join, then a map-side filter — the corpus itself is
    * read once and never shuffled. */
  val TempScale = 0.25

  /** the per-source keep-thresholds (source, n_docs, n_tokens, thr) as a
    * catalog-sized frame — factored out so the streaming gate
    * ([[graft.streaming.Pipeline.streamTemperatureGate]]) cuts arriving
    * docs against the IDENTICAL batch-derived rates */
  def temperatureRates(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), size(toks).cast(LongType).as("n_tok"))
    val per = d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val tot = d.agg(count(lit(1)).cast(DoubleType).as("tot"))
    per.crossJoin(broadcast(tot))
      .withColumn("thr",
        floor(least(lit(1.0d), lit(TempScale) * sqrt(col("tot") / col("n_docs")))
          * 10000d).cast(LongType))
  }

  def sampleTemperature(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), size(toks).cast(LongType).as("n_tok"))
    val rates = temperatureRates(s, dir)
    val kept = d.join(broadcast(rates.select("source", "thr")), "source")
      .where(coin(col("doc_id")) % 10000 < col("thr"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum(col("n_tok")).as("tok_kept"))
    // both sides are catalog-sized (one row per source) — broadcast the
    // kept stats so the stitch never plans a sort-merge exchange pair
    rates.select("source", "n_docs", "n_tokens", "thr")
      .join(broadcast(kept), Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("thr"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("tok_kept"), lit(0L)).as("tok_kept"))
      .orderBy("source")
  }

  val sampleTemperatureSql: String =
    s"""WITH d AS (SELECT doc_id, source,
       |    len(string_split(text, ' '))::BIGINT AS n_tok FROM documents),
       |per AS (SELECT source, count(*) AS n_docs, sum(n_tok)::BIGINT AS n_tokens
       |        FROM d GROUP BY 1),
       |tot AS (SELECT count(*)::DOUBLE AS tot FROM d),
       |rates AS (SELECT source, n_docs, n_tokens,
       |    floor(least(1.0::DOUBLE, $TempScale::DOUBLE * sqrt(tot / n_docs))
       |      * 10000::DOUBLE)::BIGINT AS thr
       |  FROM per, tot),
       |kept AS (SELECT d.source, count(*) AS n_kept, sum(d.n_tok)::BIGINT AS tok_kept
       |  FROM d JOIN rates r ON d.source = r.source
       |  WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % 10000 < r.thr
       |  GROUP BY 1)
       |SELECT r.source, r.n_docs, r.n_tokens, r.thr,
       |  coalesce(k.n_kept, 0)::BIGINT AS n_kept,
       |  coalesce(k.tok_kept, 0)::BIGINT AS tok_kept
       |FROM rates r LEFT JOIN kept k ON r.source = k.source
       |ORDER BY r.source""".stripMargin

  // ---- vocabulary coverage ---------------------------------------------
  /** Tokenizer-sizing diagnostic: what fraction of all token occurrences
    * do the top-K types cover (Zipf head mass at K = 10 / 100 / 1000)?
    * Window-free at scale: the frequency table is one map-side-combined
    * groupBy, each K is a TakeOrdered (O(K) heap per partition + a K-row
    * driver merge — no global sort, no single-task window), and the
    * totals are a 1-row broadcast. Tie-stable top-K: (count desc, token
    * asc) is a total order in both engines. */
  val VocabKs: Seq[Int] = Seq(10, 100, 1000)

  def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val freq = t(s, dir, "documents")
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val tot = freq.agg(sum(col("cnt")).as("tot_occ"), count(lit(1)).as("n_types"))
    val heads = VocabKs.map { k =>
      freq.orderBy(col("cnt").desc, col("tok").asc).limit(k)
        .agg(lit(k.toLong).as("k"), sum(col("cnt")).as("covered"))
    }.reduce(_ unionAll _)
    heads.crossJoin(broadcast(tot))
      .select(col("k"), col("covered"), col("tot_occ"), col("n_types"),
        r4f(col("covered").cast(DoubleType) / col("tot_occ")).as("share"))
      .orderBy("k")
  }

  val vocabCoverageSql: String = {
    val heads = VocabKs.map { k =>
      s"SELECT $k::BIGINT AS k, sum(cnt)::BIGINT AS covered FROM r WHERE rn <= $k"
    }.mkString("\n|  UNION ALL ")
    s"""WITH tokf AS (SELECT tok, count(*) AS cnt
       |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents) x
       |  WHERE tok <> '' GROUP BY 1),
       |tot AS (SELECT sum(cnt)::BIGINT AS tot_occ, count(*)::BIGINT AS n_types FROM tokf),
       |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rn FROM tokf),
       |heads AS ($heads)
       |SELECT k, covered, tot_occ, n_types,
       |  floor(covered::DOUBLE / tot_occ * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS share
       |FROM heads, tot ORDER BY k""".stripMargin
  }

  // ---- deterministic global training shuffle ---------------------------
  /** The global shuffle every training run needs: doc order must be
    * decorrelated from ingest order, yet REPRODUCIBLE (resume from step
    * N, re-shard, or re-run an ablation on the identical stream). Each
    * doc's shuffle key is md5(doc_id); its shard is the key's coin mod
    * [[ShuffleShards]]; its position is the rank of its key within the
    * shard. The declared output pins the entire permutation with one row
    * per shard (count + Σ doc_id·pos — any reorder changes the sum)
    * instead of shuffling the corpus into the result.
    *
    * Scale shape: one hash shuffle on shard + a per-shard sort. The
    * per-shard window is bounded by corpus/[[ShuffleShards]] BY CONTRACT:
    * shards are training-file-sized (~1 GiB), so their COUNT scales with
    * the corpus while the per-shard sort stays constant — the same
    * rationale as [[TextAnalysis.PackShards]]. At 100 TB the checksum
    * would sum mod 2^61 to dodge ANSI overflow; at test SFs the exact sum
    * is the stronger pin. */
  val ShuffleShards = 64

  def shuffleShard(s: SparkSession, dir: String): DataFrame = {
    val keyed = t(s, dir, "documents")
      .select(col("doc_id"), md5(col("doc_id").cast(StringType)).as("skey"))
      .withColumn("shard",
        (conv(substring(col("skey"), 1, 8), 16, 10).cast(LongType) % ShuffleShards))
    val w = Window.partitionBy("shard").orderBy(col("skey"), col("doc_id"))
    keyed
      .withColumn("pos", row_number().over(w).cast(LongType))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id") * col("pos")).as("order_sum"))
      .orderBy("shard")
  }

  val shuffleShardSql: String =
    s"""WITH keyed AS (SELECT doc_id, md5(doc_id::VARCHAR) AS skey,
       |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % $ShuffleShards AS shard
       |  FROM documents),
       |pos AS (SELECT shard, doc_id,
       |    row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id)::BIGINT AS pos
       |  FROM keyed)
       |SELECT shard, count(*) AS n_docs, sum(doc_id * pos)::BIGINT AS order_sum
       |FROM pos GROUP BY 1 ORDER BY shard""".stripMargin

  // ---- unigram-LM rarity scoring ---------------------------------------
  /** The KenLM-perplexity filter (CCNet / LLaMA corpus prep) in its
    * cross-engine-exact form: a doc's rarity is Σ_tokens ⌊N / cnt(tok)⌋ —
    * the integer inverse-probability surprisal under the corpus's own
    * unigram model (a real LM swaps the corpus frequency table for its
    * own). High mean-rarity = hapax-heavy gibberish, low = boilerplate;
    * both tails get cut in production. Integer-exact end to end: log-space
    * scoring is deliberately avoided because ln() differs in last-ulps
    * across engines (the q_tfidf_top rule).
    *
    * Shape at scale: the (doc, tok) tf groupBy and the tok frequency
    * groupBy are both map-side combined; the tf⋈freq equi-join has ONE
    * frequency row per token (no fan-out on stop words, AQE can split the
    * hot keys); the corpus total is a 1-row broadcast. */
  def qualityUnigram(s: SparkSession, dir: String): DataFrame = {
    // NOTE (r22): a fanOut on the tokenize+explode+partial-count head
    // (the 2.2 s 1-task stage tools.Profile shows cold) was tried and
    // REVERTED — two interleaved A/B rounds read flat then −31%
    // (1.44/1.64 s fanned vs 1.41/1.25 s plain, same-window untouched
    // controls ±13%): the per-token count partial collapses map-side, so
    // the exchange buys back less than it costs, the sharedGramCounts
    // lesson again.
    val tf = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .where(col("tok") =!= "")
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val freq = tf.groupBy("tok").agg(sum(col("tf")).as("cnt"))
    val n = freq.agg(sum(col("cnt")).as("n_occ"))
    tf.join(freq, "tok").crossJoin(broadcast(n))
      .groupBy("doc_id")
      .agg(sum(col("tf") * expr("n_occ div cnt")).as("rarity"),
        sum(col("tf")).as("n_toks"))
      .select(col("doc_id"), col("n_toks"), col("rarity"),
        expr("rarity div n_toks").as("mean_rarity"))
      .orderBy("doc_id")
  }

  val qualityUnigramSql: String =
    """WITH tf AS (
      |  SELECT doc_id, tok, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents) x
      |  WHERE tok <> '' GROUP BY 1, 2),
      |freq AS (SELECT tok, sum(tf)::BIGINT AS cnt FROM tf GROUP BY 1),
      |n AS (SELECT sum(cnt)::BIGINT AS n_occ FROM freq),
      |sc AS (SELECT t.doc_id, sum(t.tf * (n.n_occ // f.cnt))::BIGINT AS rarity,
      |         sum(t.tf)::BIGINT AS n_toks
      |       FROM tf t JOIN freq f USING (tok), n GROUP BY 1)
      |SELECT doc_id, n_toks, rarity, (rarity // n_toks)::BIGINT AS mean_rarity
      |FROM sc ORDER BY doc_id""".stripMargin

  // ---- bigram-LM coherence scoring ---------------------------------------
  /** The word-ORDER half of the LM-perplexity filter that
    * [[qualityUnigram]]'s bag-of-words rarity cannot see: a scrambled
    * permutation of a clean doc has the IDENTICAL unigram profile but
    * lands in rare bigram cells, so its inverse-conditional surprisal
    * Σ tf(a,b) · ⌊cnt(a·) / cnt(a,b)⌋ blows up (cnt(a·) = occurrences
    * of `a` with a successor, so ⌊cnt(a·)/cnt(a,b)⌋ is the integer
    * inverse of P(b|a) under the corpus's own bigram model — a real LM
    * swaps in its own table). High mean = incoherent word order
    * (gibberish, shuffled scrapes), low = boilerplate; both tails get
    * cut, same as the unigram rule. Integer-exact end to end — the
    * q_tfidf_top no-ln() determinism rule.
    *
    * Shape at scale: per-doc bigram tf and the corpus bigram table are
    * both map-side-combined groupBys; context counts aggregate the
    * BIGRAM table (vocab-sized, not corpus-sized); the tf⋈cnt2⋈cnt1
    * equi-joins have one row per key on the build side (no fan-out). */
  def qualityBigram(s: SparkSession, dir: String): DataFrame = {
    // fanOut (util.scala): the bigram explode is map-side of three
    // sibling exchanges whose column pruning defeats exchange reuse —
    // measured 3 × 1.8 s single-task map stages at sf0.1
    val tf2 = fanOut(t(s, dir, "documents").select("doc_id", "text"),
        col("doc_id"))
      .select(col("doc_id"), split(lower(col("text")), " ").as("tk"))
      // arrays_zip + post-explode concat, NOT zip_with with a lambda:
      // higher-order functions evaluate interpreted (no codegen) and the
      // lambda ran once per token of the corpus in this, the query's
      // hottest stage (r22 profile: 34.6 s executor run / 6 s CPU on the
      // tf2 map stage — §1.2 per-task work)
      .select(col("doc_id"), explode(expr(
        "arrays_zip(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1))")).as("big"))
      .groupBy("doc_id", "big").agg(count(lit(1)).as("tf"))
      // localCheckpoint: tf2 feeds THREE consumers (cnt2, the join probe,
      // and cnt1 via cnt2) whose differing column pruning defeats
      // exchange reuse — the bigram explode ran 3× (3 × ~2 s at sf0.1).
      // What materializes is the narrow per-doc bigram tf table, the
      // Curate-discipline trade: one pass + three reads beats three
      // corpus explodes at any scale.
      .localCheckpoint()
    // `big` stays the (first, second) token STRUCT end to end — the
    // report never reads the bigram text, so the concat string and its
    // substring_index re-parse were pure allocation; ctx is a field read
    val cnt2 = tf2.groupBy("big").agg(sum(col("tf")).as("cnt2"))
      .withColumn("ctx", col("big.0"))
    val cnt1 = cnt2.groupBy("ctx").agg(sum(col("cnt2")).as("cnt1"))
    tf2.join(cnt2, "big").join(cnt1, "ctx")
      .groupBy("doc_id")
      .agg(sum(col("tf") * expr("cnt1 div cnt2")).as("surprisal"),
        sum(col("tf")).as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"), col("surprisal"),
        expr("surprisal div n_bigrams").as("mean_surprisal"))
      .orderBy("doc_id")
  }

  val qualityBigramSql: String =
    """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      |tf AS (
      |  SELECT doc_id, big, count(*) AS tf FROM (
      |    SELECT doc_id, tk[i] || ' ' || tk[i+1] AS big
      |    FROM toks JOIN generate_series(1, 100000) g(i) ON i <= len(tk) - 1) x
      |  GROUP BY 1, 2),
      |cnt2 AS (SELECT big, split_part(big, ' ', 1) AS ctx, sum(tf)::BIGINT AS cnt2
      |         FROM tf GROUP BY 1, 2),
      |cnt1 AS (SELECT ctx, sum(cnt2)::BIGINT AS cnt1 FROM cnt2 GROUP BY 1),
      |sc AS (SELECT t.doc_id,
      |         sum(t.tf * (c1.cnt1 // c2.cnt2))::BIGINT AS surprisal,
      |         sum(t.tf)::BIGINT AS n_bigrams
      |       FROM tf t JOIN cnt2 c2 USING (big) JOIN cnt1 c1 ON c2.ctx = c1.ctx
      |       GROUP BY 1)
      |SELECT doc_id, n_bigrams, surprisal, (surprisal // n_bigrams)::BIGINT AS mean_surprisal
      |FROM sc ORDER BY doc_id""".stripMargin

  // ---- sub-document keep-first block dedup ------------------------------
  /** Paragraph-granularity exact dedup (the C4 "three-sentence span" /
    * RefinedWeb paragraph rule, restated for this corpus's flat token
    * stream as fixed [[ParaBlock]]-token blocks): every block that
    * appears anywhere earlier — in ANY document, including earlier in its
    * own — is dropped; the FIRST occurrence (min (doc_id, block_idx))
    * survives. This differs from `q_scrub_spans` on purpose: scrubbing
    * removes ALL copies of a common span; paragraph dedup keeps exactly
    * one. The declared output pins every rewritten doc by md5 without
    * shuffling bodies.
    *
    * Shape at scale: blocks are a map-side posexplode (≤ n_toks/32 rows
    * per doc); first-occurrence is ONE map-side-combined min-of-struct
    * groupBy on the 128-bit block hash (no window, no self-join fan-out:
    * the keep join has one `first` row per hash); the rebuild is one
    * doc_id groupBy. Every shuffle keys on block hash or doc_id. */
  val ParaBlock = 32

  /** pipeline form: the REWRITTEN corpus — per doc the surviving blocks
    * re-concatenated in order (docs that empty out keep a row with
    * kept_text = ""); the declared query pins this frame by md5 without
    * shuffling bodies into the result */
  def dedupParagraphCorpus(s: SparkSession, dir: String): DataFrame = {
    // NOTE (r22): a fanOut on tokd was tried and REVERTED (1.42/1.76 s
    // fanned vs 1.38/1.52 s plain, 2 interleaved A/B rounds): the
    // ~0.7 s serial block kernel is under the exchange+AQE-job
    // break-even that paid off for the ≥1 s kernels (json/lang_id/psl).
    val tokd = t(s, dir, "documents").select(col("doc_id"), toks.as("tk"))
    val blocks = tokd.select(col("doc_id"), posexplode(expr(
      s"transform(sequence(0, (size(tk) - 1) div $ParaBlock), " +
        s"b -> concat_ws(' ', slice(tk, b * $ParaBlock + 1, $ParaBlock)))"))
      .as(Seq("bidx", "btext")))
      .withColumn("bh", md5(col("btext")))
    val first = blocks.groupBy("bh")
      .agg(min(struct(col("doc_id"), col("bidx"))).as("first"))
    val kept = blocks.join(first, "bh")
      .where(col("doc_id") === col("first.doc_id") && col("bidx") === col("first.bidx"))
    val rebuilt = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      array_join(
        expr("transform(array_sort(collect_list(struct(bidx, btext))), x -> x.btext)"),
        " ").as("kept_text"))
    tokd
      .select(col("doc_id"),
        expr(s"(size(tk) - 1) div $ParaBlock + 1").cast(LongType).as("n_blocks"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_blocks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  def dedupParagraph(s: SparkSession, dir: String): DataFrame =
    dedupParagraphCorpus(s, dir)
      .select(col("doc_id"), col("n_blocks"), col("n_kept"),
        md5(col("kept_text")).as("kept_md5"))
      .orderBy("doc_id")

  val dedupParagraphSql: String =
    s"""WITH tokd AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |blocks AS (
       |  SELECT doc_id, b AS bidx,
       |    array_to_string(tk[b * $ParaBlock + 1 : b * $ParaBlock + $ParaBlock], ' ') AS btext,
       |    md5(array_to_string(tk[b * $ParaBlock + 1 : b * $ParaBlock + $ParaBlock], ' ')) AS bh
       |  FROM tokd JOIN generate_series(0, 100000) g(b)
       |    ON b <= (len(tk) - 1) // $ParaBlock),
       |first AS (SELECT bh, min(struct_pack(d := doc_id, b := bidx)) AS f
       |          FROM blocks GROUP BY 1),
       |kept AS (SELECT bl.doc_id, bl.bidx, bl.btext
       |         FROM blocks bl JOIN first USING (bh)
       |         WHERE bl.doc_id = f.d AND bl.bidx = f.b),
       |reb AS (SELECT doc_id, count(*) AS n_kept,
       |               md5(string_agg(btext, ' ' ORDER BY bidx)) AS kept_md5
       |        FROM kept GROUP BY 1)
       |SELECT t.doc_id, ((len(t.tk) - 1) // $ParaBlock + 1)::BIGINT AS n_blocks,
       |  coalesce(r.n_kept, 0)::BIGINT AS n_kept,
       |  coalesce(r.kept_md5, md5('')) AS kept_md5
       |FROM tokd t LEFT JOIN reb r USING (doc_id) ORDER BY t.doc_id""".stripMargin

  // ---- token-length histogram ------------------------------------------
  /** Sequence-length distribution in power-of-two buckets — the
    * diagnostic that sizes context windows and packing budgets (how much
    * of the corpus fits 512? how heavy is the >2k tail?). The bucket is
    * ⌊log2 n⌋+1 computed EXACTLY as the bit length of the integer token
    * count (`length(bin(n))` — both engines print exact binary strings),
    * not via floating log2, whose last-ulp behavior at exact powers of
    * two differs across libm implementations. One map-side-combined
    * groupBy on a ≤64-value key. */
  def tokenHistogram(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(size(toks).cast(LongType).as("n_tok"))
      .withColumn("bucket", length(bin(col("n_tok"))).cast(LongType))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        min(col("n_tok")).as("min_tok"), max(col("n_tok")).as("max_tok"))
      .orderBy("bucket")

  val tokenHistogramSql: String =
    """WITH d AS (SELECT len(string_split(text, ' '))::BIGINT AS n_tok FROM documents)
      |SELECT length(bin(n_tok))::BIGINT AS bucket, count(*) AS n_docs,
      |  sum(n_tok)::BIGINT AS n_tokens,
      |  min(n_tok)::BIGINT AS min_tok, max(n_tok)::BIGINT AS max_tok
      |FROM d GROUP BY 1 ORDER BY bucket""".stripMargin

  // ---- corpus snapshot diff --------------------------------------------
  /** Corpus versioning: what changed between two snapshot releases —
    * added / removed / changed / same doc counts, detected by content
    * hash, never by comparing bodies. Snapshots here are deterministic
    * views of the one test table (v1 = doc_id%10 < 8; v2 = doc_id%10 ≥ 2,
    * with the %10 == 3 docs edited by an appended marker) so every status
    * branch is exercised and the oracle replays the same views; real use
    * passes two real corpus directories through [[corpusDiffFrames]].
    *
    * Shape at scale: ONE full-outer equi-join on doc_id (the scaling
    * key), md5 computed map-side per input row, counts map-side
    * combined. No sort, no window, no body shuffle beyond the join of
    * 16-byte hashes. */
  def corpusDiffFrames(v1: DataFrame, v2: DataFrame): DataFrame = {
    val a = v1.select(col("doc_id"), md5(col("text")).as("h1"))
    val b = v2.select(col("doc_id"), md5(col("text")).as("h2"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") === col("h2"), "same")
          .otherwise("changed"))
      .groupBy("status").agg(count(lit(1)).as("n_docs"))
      .orderBy("status")
  }

  def corpusDiff(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val v1 = d.where(col("doc_id") % 10 < 8).select(col("doc_id"), col("text"))
    val v2 = d.where(col("doc_id") % 10 >= 2)
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 3, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
    corpusDiffFrames(v1, v2)
  }

  val corpusDiffSql: String =
    """WITH v1 AS (SELECT doc_id, md5(text) AS h1 FROM documents WHERE doc_id % 10 < 8),
      |v2 AS (SELECT doc_id,
      |    md5(CASE WHEN doc_id % 10 = 3 THEN text || ' v2' ELSE text END) AS h2
      |  FROM documents WHERE doc_id % 10 >= 2),
      |j AS (SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id, h1, h2
      |      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
      |SELECT CASE WHEN h1 IS NULL THEN 'added'
      |            WHEN h2 IS NULL THEN 'removed'
      |            WHEN h1 = h2 THEN 'same' ELSE 'changed' END AS status,
      |  count(*) AS n_docs
      |FROM j GROUP BY 1 ORDER BY status""".stripMargin

  // ---- source-level content-overlap matrix ------------------------------
  /** Which crawls/dumps duplicate each other at the CONTENT level — the
    * acquisition-planning twin of `q_dedup_cross_source`: that query
    * aggregates the near-dup PAIR list (doc-level evidence, thresholded),
    * while this one compares whole sources as distinct-3-gram SETS, so
    * partial mirroring that never clears a per-document pair threshold
    * still shows up as shared gram mass. For every unordered source pair:
    * shared distinct grams, both set sizes, Jaccard (resemblance) and
    * overlap = shared/min (containment — "is the smaller source inside
    * the bigger one?").
    *
    * Shape at scale: the corpus collapses to distinct (source, gh) rows
    * map-side (gh = the family's 60-bit md5-prefix key) — ONE shuffle.
    * Per-gram source lists are bounded by the SOURCE CATALOG (a
    * dimension, like a partition key — thousands at most), not the
    * corpus, and pair rows hash-aggregate map-side into ≤|S|² matrix
    * cells, so the second shuffle carries ≤|S|² rows per partition
    * regardless of corpus size. No per-doc pair generation anywhere. */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExpressions.register(s)
    val sg = fanOut(t(s, dir, "documents") // the qualityBigram fan-out discipline
        .select("doc_id", "source", "text"), col("doc_id"))
      .select(col("source"),
        explode(graft.functions.TextExpressions.wordNgrams(toks, 3)).as("gram"))
      .select(col("source"),
        graft.functions.TextExpressions.md5Prefix64(col("gram"), 15).as("gh"))
      .distinct()
    val sizes = sg.groupBy("source").agg(count(lit(1)).as("n"))
    val pairRows = sg.groupBy("gh")
      .agg(sort_array(collect_list(col("source"))).as("ss"))
      .where(size(col("ss")) >= 2)
      .select(col("ss"), posexplode(col("ss")).as(Seq("i", "s1")))
      .select(col("s1"), col("i"), posexplode(col("ss")).as(Seq("j", "s2")))
      .where(col("j") > col("i"))
      .select("s1", "s2")
    pairRows.groupBy("s1", "s2").agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("source").as("s1"), col("n").as("n1")), "s1")
      .join(sizes.select(col("source").as("s2"), col("n").as("n2")), "s2")
      .select(col("s1"), col("s2"), col("shared"), col("n1"), col("n2"),
        r4(col("shared").cast(DoubleType) / (col("n1") + col("n2") - col("shared"))).as("jaccard"),
        r4(col("shared").cast(DoubleType) / least(col("n1"), col("n2"))).as("overlap"))
      .orderBy("s1", "s2")
  }

  val sourceOverlapSql: String =
    """WITH toks AS (SELECT source, string_split(text, ' ') AS tk FROM documents),
      |sg AS (
      |  SELECT DISTINCT source, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gh FROM (
      |    SELECT source, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS gram
      |    FROM toks JOIN generate_series(1, 100000) g(i) ON i <= len(tk) - 2
      |    WHERE len(tk) >= 3
      |    UNION ALL
      |    SELECT source, array_to_string(tk, ' ') AS gram FROM toks WHERE len(tk) < 3) x),
      |sizes AS (SELECT source, count(*) AS n FROM sg GROUP BY 1),
      |shr AS (SELECT a.source AS s1, b.source AS s2, count(*) AS shared
      |  FROM sg a JOIN sg b ON a.gh = b.gh AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT s1, s2, shared, n1.n AS n1, n2.n AS n2,
      |  CAST(round(shared::DOUBLE / (n1.n + n2.n - shared), 4) AS DOUBLE) AS jaccard,
      |  CAST(round(shared::DOUBLE / least(n1.n, n2.n), 4) AS DOUBLE) AS overlap
      |FROM shr JOIN sizes n1 ON shr.s1 = n1.source
      |         JOIN sizes n2 ON shr.s2 = n2.source
      |ORDER BY s1, s2""".stripMargin

  // ---- split leakage (release-gate contamination of the held-out sets) --
  /** Near-verbatim leakage from train into the ACTUAL held-out splits —
    * the release gate `q_decontaminate` approximates with its synthetic
    * mod-97 slice: a hash split is independent of content, so two
    * near-identical docs routinely land on opposite sides, and the
    * held-out loss silently turns into training-set recall. For every
    * doc [[splitOf]] assigns to val/test: the fraction of its distinct
    * 3-grams that appear in ANY train-assigned doc. The row set uses the
    * SAME md5 coin as `q_split_assign`/`streamSplitRoute`, so the
    * numbers price the split that actually ships.
    *
    * Shape at scale (the decontaminate shape): distinct train grams
    * build once (one shuffle on the 60-bit gh), held-out grams left-semi
    * join it (second gh shuffle) — never doc×doc; per-doc counts
    * map-side combine. */
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExpressions.register(s)
    // the qualityBigram fan-out discipline: sh feeds two pruned branches
    val sh = fanOut(t(s, dir, "documents").select("doc_id", "text"),
        col("doc_id"))
      .select(col("doc_id"),
        graft.functions.TextExpressions.wordNgrams(toks, 3).as("grams"),
        splitOf(col("doc_id")).as("split"))
    val held = sh.where(col("split") =!= "train")
    val heldG = held
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .select(col("doc_id"),
        graft.functions.TextExpressions.md5Prefix64(col("gram"), 15).as("gh"))
    val trainG = sh.where(col("split") === "train")
      .select(explode(col("grams")).as("gram"))
      .select(graft.functions.TextExpressions.md5Prefix64(col("gram"), 15).as("gh"))
      .distinct()
    val hits = heldG.join(trainG, Seq("gh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    held.select(col("doc_id"), col("split"),
        size(col("grams")).cast(LongType).as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        r4f(coalesce(col("n_hit"), lit(0L)).cast(DoubleType) / col("n_grams"))
          .as("leakage"))
      .orderBy("doc_id")
  }

  val splitLeakageSql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |grams AS (
       |  SELECT doc_id, gram FROM (
       |    SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS gram
       |    FROM toks JOIN generate_series(1, 100000) g(i) ON i <= len(tk) - 2
       |    WHERE len(tk) >= 3
       |    UNION
       |    SELECT doc_id, array_to_string(tk, ' ') AS gram FROM toks WHERE len(tk) < 3)),
       |lab AS (SELECT doc_id,
       |    CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000 < $SplitTestPerMille THEN 'test'
       |         WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000 < $SplitValPerMille THEN 'val'
       |         ELSE 'train' END AS split
       |  FROM documents),
       |gh AS (SELECT g.doc_id, l.split,
       |    ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gh
       |  FROM grams g JOIN lab l ON g.doc_id = l.doc_id),
       |train AS (SELECT DISTINCT gh FROM gh WHERE split = 'train'),
       |sizes AS (SELECT doc_id, split, count(*) AS n_grams FROM gh
       |          WHERE split <> 'train' GROUP BY 1, 2),
       |hits AS (SELECT e.doc_id, count(*) AS n_hit
       |         FROM gh e JOIN train t USING (gh)
       |         WHERE e.split <> 'train' GROUP BY 1)
       |SELECT s.doc_id, s.split, s.n_grams, coalesce(h.n_hit, 0) AS n_hit,
       |  floor(coalesce(h.n_hit, 0)::DOUBLE / s.n_grams * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS leakage
       |FROM sizes s LEFT JOIN hits h USING (doc_id) ORDER BY s.doc_id""".stripMargin

  /** Bloom twin of [[splitLeakage]] — the fixed-state path for when the
    * distinct train-gram set outgrows memory (at 100 TB the train split
    * is ~97% of the corpus, so its gram set is the largest state in the
    * release gate). Same schema; n_hit/leakage can only be INFLATED
    * (Bloom filters have no false negatives), so a release gate keyed on
    * a leakage CEILING stays sound. Build + probe ride
    * `Dedup.bloomGramHits` — the identical word-table fold and broadcast
    * probe the decontamination bloom uses, so the m/64-row shuffle bound
    * and the spec'd false-positive ceiling carry over. */
  def splitLeakageBloom(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExpressions.register(s)
    // the qualityBigram fan-out discipline (covers the Bloom word fold)
    val sh = fanOut(t(s, dir, "documents").select("doc_id", "text"),
        col("doc_id"))
      .select(col("doc_id"),
        graft.functions.TextExpressions.wordNgrams(toks, 3).as("grams"),
        splitOf(col("doc_id")).as("split"))
    val held = sh.where(col("split") =!= "train")
    Dedup.bloomGramHits(
        sh.where(col("split") === "train").select(explode(col("grams")).as("gram")),
        held.select("doc_id", "grams"))
      .join(held.select(col("doc_id"), col("split")), Seq("doc_id"))
      .select(col("doc_id"), col("split"), col("n_grams"), col("n_hit"),
        r4f(col("n_hit").cast(DoubleType) / col("n_grams")).as("leakage"))
      .orderBy("doc_id")
  }

  /** Sketch form of [[sourceOverlap]] — the fixed-state scale path: the
    * exact matrix shuffles the corpus's full distinct (source, gram) set,
    * state that grows with the corpus; this one folds each source's gram
    * stream into ONE theta sketch (map-side combined, ~KB at rest) and
    * answers every pair cell by sketch algebra (intersection + estimate)
    * over a |S|-row self-join — no gram ever shuffles twice, and the
    * matrix cost is independent of corpus size. Exactness contract
    * (the `q_agg_theta_ops` rule): sketches stay exact below the nominal
    * 4096 entries, so the sf0.001 spec pins the shared_est>0 cells
    * cell-for-cell equal to the exact query; above it the estimate error
    * is the spec-pinned theta bound. Unlike the exact twin (which only
    * emits pairs with shared grams), EVERY unordered source pair gets a
    * row here: in estimation mode an overlapping pair can estimate to 0,
    * and suppressing those cells would make "estimated 0" and "absent"
    * indistinguishable to a caller thresholding the matrix. */
  def sourceOverlapTheta(s: SparkSession, dir: String): DataFrame =
    overlapMatrixOfSketches(sourceGramSketches(s, dir))

  /** one row per source: its theta sketch over the distinct-3-gram
    * stream — the ~KB fixed state the theta matrix is computed from */
  def sourceGramSketches(s: SparkSession, dir: String): DataFrame =
    sketchRowsOf(t(s, dir, "documents").select("source", "text"))

  /** per-source theta fold of ANY (source, text) frame — shared by the
    * full-corpus build and batch appends */
  private def sketchRowsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    graft.functions.TextExpressions.register(s)
    graft.functions.ThetaSketch.register(s)
    import graft.functions.ThetaSketch._
    docs
      .select(col("source"),
        explode(graft.functions.TextExpressions.wordNgrams(toks, 3)).as("gram"))
      .groupBy("source").agg(thetaAgg(col("gram")).as("sk"))
  }

  /** the pair matrix by sketch algebra over ANY (source, sk) frame —
    * the in-flight fold and the persisted table produce identical cells
    * (theta state is a deterministic function of the input set, not of
    * fold order), which is exactly what lets the at-rest form answer
    * for the corpus-scale one */
  private def overlapMatrixOfSketches(sk: DataFrame): DataFrame = {
    graft.functions.ThetaSketch.register(sk.sparkSession)
    import graft.functions.ThetaSketch._
    val a = sk.select(col("source").as("s1"), col("sk").as("sk1"))
    val b = sk.select(col("source").as("s2"), col("sk").as("sk2"))
    a.join(broadcast(b), col("s1") < col("s2"))
      .select(col("s1"), col("s2"),
        round(thetaEstimate(thetaIntersect(col("sk1"), col("sk2")))).cast(LongType)
          .as("shared_est"),
        round(thetaEstimate(col("sk1"))).cast(LongType).as("n1_est"),
        round(thetaEstimate(col("sk2"))).cast(LongType).as("n2_est"))
      // every unordered pair stays in the matrix — including shared_est=0
      // cells. In estimation mode a genuinely-overlapping pair can retain
      // no shared hash (all its shared grams hashed above theta) and
      // estimate 0; filtering on the estimate would silently DROP that
      // cell where the exact matrix keeps it, so thresholding is the
      // caller's call, not this query's.
      .select(col("s1"), col("s2"), col("shared_est"), col("n1_est"), col("n2_est"),
        r4(col("shared_est").cast(DoubleType) /
          greatest(col("n1_est") + col("n2_est") - col("shared_est"), lit(1L)))
          .as("jaccard_est"),
        r4(col("shared_est").cast(DoubleType) /
          greatest(least(col("n1_est"), col("n2_est")), lit(1L))).as("overlap_est"))
      .orderBy("s1", "s2")
  }

  /** persist the per-source gram sketches as an at-rest table (the
    * `q_sketch_rollup` pattern): one parquet row per source, ~KB each,
    * total size = the SOURCE CATALOG's, whatever the corpus size */
  def writeSourceGramSketches(s: SparkSession, dir: String, path: String): Unit =
    sourceGramSketches(s, dir).write.mode("overwrite").parquet(path)

  /** memoized sketch table per (session, dir), staleness-guarded on the
    * documents fingerprint; Bench clears it so the declared query pays
    * its build honestly under the cold-cache rule */
  private val sourceSketchCache =
    graft.Memo[(SparkSession, String), String](graft.util.deleteRecursively)

  def clearSourceSketchCache(): Unit = sourceSketchCache.clear()

  private def sourceSketchTable(s: SparkSession, dir: String): String =
    sourceSketchCache.get((s, dir), inputFingerprint(dir, "documents.parquet")) {
      graft.Memo.tempDir("graft_src_sketches")(writeSourceGramSketches(s, dir, _))
    }

  /** `q_source_overlap_theta` answered from PERSISTED states only — the
    * matrix every acquisition dashboard re-asks, without refolding the
    * corpus per call: the corpus is read once per snapshot (the table
    * build), and every later matrix is |S|-row sketch algebra over the
    * parquet states. Cell-for-cell identical to the in-flight fold
    * (CorpusOpsSpec pins it, plus a plan pin that only the sketch table
    * is scanned). */
  def sourceOverlapPersisted(s: SparkSession, dir: String): DataFrame =
    overlapMatrixOfSketches(readSourceGramSketches(s, sourceSketchTable(s, dir)))

  /** Append a batch's per-source sketches as EXTRA rows — theta states
    * form a union monoid (the Bloom family's OR-log story), so appends
    * never rewrite existing bytes; readers merge per source on load.
    * In the exact regime (< nominal entries) the merged state is
    * bit-identical to a one-pass fold over the union; in estimation
    * the union is a valid theta sketch of the same set (same error
    * bounds) whose retained subset may differ from a one-pass fold's.
    * `docs` = (source, text) rows newly ingested; creates the table on
    * first append. High-frequency appenders compact via
    * [[IndexMaintenance.compactSketchTable]]. */
  def appendSourceGramSketches(s: SparkSession, path: String,
      docs: DataFrame): Unit =
    sketchRowsOf(docs).write.mode("append").parquet(path)

  /** merge-on-read: one theta union per source over a catalog-sized
    * frame — absorbs any number of appended row generations */
  def readSourceGramSketches(s: SparkSession, path: String): DataFrame = {
    graft.functions.ThetaSketch.register(s)
    s.read.parquet(path).groupBy("source")
      .agg(graft.functions.ThetaSketch.thetaMerge(col("sk")).as("sk"))
  }

  /** the overlap matrix straight off a persisted (possibly appended)
    * sketch table path — the fleet-side form of
    * [[sourceOverlapPersisted]] for tables maintained by ingest */
  def sourceOverlapFrom(s: SparkSession, path: String): DataFrame =
    overlapMatrixOfSketches(readSourceGramSketches(s, path))

  // ---- URL / domain hygiene ---------------------------------------------
  /** URL pattern for extraction — restricted (like the `q_pii_scrub`
    * family) to syntax Java regex and RE2 read identically: scheme,
    * host char class, optional path/query. */
  val UrlRe = """https?://[A-Za-z0-9.-]+(/[A-Za-z0-9._/?=&-]*)?"""

  /** host part of one URL */
  private val HostRe = """^https?://([A-Za-z0-9.-]+)"""

  /** Deterministic URL injection: this synthetic corpus carries no URLs
    * (the same gap `q_normalize_text` has with non-ASCII), so the
    * declared queries manufacture them IN-PLAN — doc_id picks hosts from
    * a 7-entry catalog spanning two-level and multi-part-TLD shapes;
    * doc_id%5==0 docs carry none, doc_id%3==0 docs carry a second URL on
    * an independently-chosen host. In production the crawler's raw text
    * plays this role and the extraction below runs unchanged. */
  private[graft] def urlified(s: SparkSession, dir: String): DataFrame = {
    val hostCat = Seq("www.example.com", "blog.example.com", "example.org",
      "docs.example.org", "news.site.io", "a.b.example.co.uk", "shop.example.co.uk")
    val hosts = array(hostCat.map(lit): _*)
    val h1 = element_at(hosts, pmod(col("doc_id"), lit(7)).cast(IntegerType) + 1)
    val h2 = element_at(hosts, pmod(col("doc_id") * 3 + 1, lit(7)).cast(IntegerType) + 1)
    val id = col("doc_id").cast(StringType)
    // no fanOut: tried and reverted — the cheap URL consumers (extract,
    // frontier) paid the exchange without a kernel heavy enough to
    // amortize it (family net +1.0 s at sf0.1)
    t(s, dir, "documents").select(col("doc_id"),
      when(pmod(col("doc_id"), lit(5)) === 0, col("text"))
        .when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"), lit(" see https://"), h1, lit("/p/"), id,
            lit(" and http://"), h2, lit("/q?id="), id))
        .otherwise(concat(col("text"), lit(" see https://"), h1, lit("/p/"), id))
        .as("text"))
  }

  /** the urlified corpus as a DuckDB CTE `u(doc_id, text)` */
  private val urlifiedCte = {
    val cat = Seq("www.example.com", "blog.example.com", "example.org",
      "docs.example.org", "news.site.io", "a.b.example.co.uk", "shop.example.co.uk")
      .map(h => s"'$h'").mkString("[", ", ", "]")
    s"""hostcat AS (SELECT $cat AS hs),
       |u AS (SELECT doc_id,
       |  CASE WHEN doc_id % 5 = 0 THEN text
       |       WHEN doc_id % 3 = 0 THEN text || ' see https://' || hs[(doc_id % 7)::INT + 1] ||
       |         '/p/' || doc_id::VARCHAR || ' and http://' || hs[((doc_id * 3 + 1) % 7)::INT + 1] ||
       |         '/q?id=' || doc_id::VARCHAR
       |       ELSE text || ' see https://' || hs[(doc_id % 7)::INT + 1] ||
       |         '/p/' || doc_id::VARCHAR END AS text
       |  FROM documents, hostcat)""".stripMargin
  }

  // ---- public-suffix catalog (registrable domains) ----------------------
  /** Default public-suffix catalog for [[regDomain]]: the multi-level
    * ICANN suffixes the host fixtures exercise plus representative
    * entries of each class a crawl corpus hits (country-code
    * second-level registries, a private-registry suffix à la
    * `github.io`). Production loads the FULL public-suffix list through
    * [[loadPslArtifact]] — same expression shape at 10k entries. */
  val DefaultPslCatalog: Seq[String] =
    Seq("co.uk", "org.uk", "com.au", "co.jp", "github.io",
      // one wildcard + exception pair so every oracle replay also
      // exercises the full PSL rule grammar (no fixture host matches
      // them, so declared values are unchanged)
      "*.ck", "!www.ck")

  /** the three PSL rule classes, parsed from the catalog's entry text:
    * plain suffixes, `*.tail` wildcards (any label + tail is a public
    * suffix), `!name` exceptions (name is NOT a public suffix despite a
    * wildcard covering it — publicsuffix.org's www.ck carve-out) */
  private case class PslRules(plainByK: Seq[(Int, Seq[String])],
      wildTailsByM: Seq[(Int, Seq[String])], exByN: Seq[(Int, Seq[String])])

  private def parsePsl(suffixes: Seq[String]): PslRules = {
    val d = suffixes.distinct
    val ex = d.filter(_.startsWith("!")).map(_.drop(1))
    val wild = d.filter(_.startsWith("*.")).map(_.drop(2))
    val plain = d.filterNot(s => s.startsWith("!") || s.startsWith("*."))
    def byLabels(xs: Seq[String]) =
      xs.groupBy(_.split("\\.").length).toSeq.sortBy(-_._1)
    PslRules(byLabels(plain), byLabels(wild), byLabels(ex))
  }

  /** Registrable domain of a host under a public-suffix catalog — the
    * publicsuffix.org algorithm: among matching rules an EXCEPTION wins
    * outright (the matching name IS the registrable domain), else the
    * longest suffix wins (wildcard `*.tail` counts its `*` as a label)
    * and the registrable domain is suffix + one label; no rule match →
    * last two labels (the implicit `*` default rule); dotless hosts and
    * hosts that ARE a listed suffix are their own registrable domain.
    *
    * Scale shape: the catalog folds into ONE per-row when-chain — per
    * DISTINCT RULE LABEL COUNT and class (a catalog property: the real
    * PSL spans ≤ 5 levels, 3 classes) one membership test, which
    * Catalyst rewrites to a hashed `InSet` above 10 entries — so a
    * 10k-entry PSL is O(levels) probes per row, zero shuffles, no join.
    * The size guards keep ANSI `element_at` total: without them a
    * 1-label host throws where DuckDB's list[-2] nulls (both wrong). */
  private[graft] def regDomainWith(host: Column, suffixes: Seq[String]): Column = {
    val ls = split(host, "\\.")
    def lastLabels(k: Int): Column =
      concat_ws(".", (k to 1 by -1).map(i => element_at(ls, -i)): _*)
    val rules = parsePsl(suffixes)
    // exceptions first: the matched name is its own registrable domain
    val exChain = rules.exByN.foldLeft(lit(null).cast(StringType)) {
      case (acc, (n, names)) =>
        coalesce(acc, when(size(ls) >= n &&
          lastLabels(n).isin(names.sorted: _*), lastLabels(n)))
    }
    // plain level k and wildcard tail m share an effective suffix label
    // count (k, m+1) — merge both rule classes per level, longest first
    val levels = (rules.plainByK.map { case (k, s) => (k, s, true) } ++
        rules.wildTailsByM.map { case (m, t) => (m + 1, t, false) })
      .sortBy(-_._1)
    val chain = levels.foldLeft(exChain) {
      case (acc, (k, entries, isPlain)) =>
        val hit =
          if (isPlain) lastLabels(k).isin(entries.sorted: _*)
          else lastLabels(k - 1).isin(entries.sorted: _*) // `*` label is free
        coalesce(acc, when(size(ls) >= k + 1 && hit, lastLabels(k + 1)))
    }
    coalesce(chain, when(size(ls) >= 2, lastLabels(2)).otherwise(host))
  }

  private def regDomain(host: Column): Column =
    regDomainWith(host, DefaultPslCatalog)

  /** [[regDomainWith]] under a SECTIONED catalog restricted to the given
    * sections — the ICANN-vs-PRIVATE policy dial the real list carries:
    * per-domain caps usually bucket by ICANN-registrable domain (one
    * budget per tenant SERVICE — capping github.io as a whole), while
    * blocklists and per-tenant policies respect private registries (each
    * `user.github.io` is its own domain). Same expression shape — the
    * filter is driver-side catalog prep, not plan work. */
  def regDomainSectioned(host: Column, entries: Seq[(String, String)],
      sections: Set[String]): Column =
    regDomainWith(host, pslSuffixes(entries, sections))

  /** DuckDB twin of [[regDomainWith]] over an expression `h` — generated
    * from the SAME catalog (all three rule classes, same precedence), so
    * the oracle replays the engine's suffix table verbatim */
  private[graft] def regDomainSqlExprWith(h: String, suffixes: Seq[String]): String = {
    def lastLabels(k: Int): String =
      (k to 1 by -1).map(i => s"string_split($h, '.')[-$i]").mkString(" || '.' || ")
    val rules = parsePsl(suffixes)
    def w(cond: String, res: String) = s"WHEN $cond THEN $res"
    // entries are interpolated into SQL string literals: escape quotes so
    // a loaded-artifact entry can never break (or inject into) the
    // generated oracle SQL and silently diverge the twins — real PSL
    // entries never carry quotes, but loadPslArtifact accepts any text
    def inList(xs: Seq[String]) =
      xs.sorted.map(x => s"'${x.replace("'", "''")}'").mkString(", ")
    val exWhens = rules.exByN.map { case (n, names) =>
      w(s"len(string_split($h, '.')) >= $n AND ${lastLabels(n)} IN (${inList(names)})",
        lastLabels(n))
    }
    val levels = (rules.plainByK.map { case (k, s) => (k, s, true) } ++
        rules.wildTailsByM.map { case (m, t) => (m + 1, t, false) })
      .sortBy(-_._1)
    val lvlWhens = levels.map { case (k, entries, isPlain) =>
      val hit =
        if (isPlain) s"${lastLabels(k)} IN (${inList(entries)})"
        else s"${lastLabels(k - 1)} IN (${inList(entries)})"
      w(s"len(string_split($h, '.')) >= ${k + 1} AND $hit", lastLabels(k + 1))
    }
    val whens = (exWhens ++ lvlWhens).mkString("\n|  ")
    s"""CASE $whens
       |  WHEN len(string_split($h, '.')) >= 2 THEN ${lastLabels(2)}
       |  ELSE $h END""".stripMargin
  }

  private def regDomainSqlExpr(h: String): String =
    regDomainSqlExprWith(h, DefaultPslCatalog)

  /** PSL artifact layout version — bump on any layout or semantics change
    * (suffix-match rule, label normalization) so a fleet can never bucket
    * domains under drifted suffix semantics. v2 adds the `section`
    * column (icann | private) carrying the list's
    * ===BEGIN ICANN/PRIVATE DOMAINS=== provenance per rule. */
  val PslArtifactVersion = 2L

  /** the two publicsuffix.org list sections: ICANN = registry-operated
    * TLD policy (the registrable-domain notion per-domain CAPS want);
    * PRIVATE = operator-submitted registry-LIKE services (github.io,
    * s3 website buckets — the notion BLOCKLISTS and per-tenant policies
    * want, where each user site is its own domain) */
  val PslSectionIcann = "icann"
  val PslSectionPrivate = "private"

  /** Parse publicsuffix.org's `public_suffix_list.dat` text into
    * (rule, section) rows — the official grammar
    * (https://publicsuffix.org/list/): one rule per line, text up to the
    * first whitespace; `//` lines are comments, with the
    * `===BEGIN/END ICANN|PRIVATE DOMAINS===` comment markers fencing the
    * two sections; rules carry `suffix`, `*.tail`, and `!name` forms
    * verbatim (regDomainWith parses the classes). Rules are lowercased
    * (the list ships lowercase; defensive) and IDN rules stay in their
    * published unicode form — hosts must be NFC-lowercased the same way
    * before bucketing, which is exactly what urlExtract's HostRe yields
    * for the ASCII hosts the fixtures carry. */
  def parsePslDat(lines: Iterator[String]): Seq[(String, String)] = {
    var section = PslSectionIcann
    val out = Seq.newBuilder[(String, String)]
    for (raw <- lines) {
      val line = raw.trim
      if (line.startsWith("//")) {
        if (line.contains("===BEGIN PRIVATE DOMAINS===")) section = PslSectionPrivate
        else if (line.contains("===BEGIN ICANN DOMAINS===")) section = PslSectionIcann
      } else if (line.nonEmpty) {
        out += ((line.split("\\s+")(0).toLowerCase(java.util.Locale.ROOT), section))
      }
    }
    out.result()
  }

  /** The REAL publicsuffix.org list (MPL-2.0, header kept verbatim in
    * the bundled file), shipped as a library resource so "PSL-correct"
    * needs no egress at run time: ~9.5k rules, both sections, all three
    * rule classes. Parsed once per JVM — the catalog is a constant of
    * the internet, not of the corpus. */
  lazy val BundledPsl: Seq[(String, String)] = {
    val in = getClass.getResourceAsStream("/graft/public_suffix_list.dat")
    require(in != null, "bundled public_suffix_list.dat missing from the classpath")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try parsePslDat(src.getLines()) finally src.close()
  }

  /** the rule texts of a sectioned catalog restricted to `sections` —
    * the [[regDomainWith]] input for section-scoped bucketing:
    * ICANN-only treats private registries (github.io) as ordinary
    * domains (one cap bucket per tenant SERVICE), the full list gives
    * every tenant site its own domain (one bucket per tenant) */
  def pslSuffixes(entries: Seq[(String, String)],
      sections: Set[String] = Set(PslSectionIcann, PslSectionPrivate)): Seq[String] =
    entries.collect { case (s, sec) if sections(sec) => s }

  /** Persist a public-suffix catalog as a versioned release artifact —
    * the [[graft.operators.TextAnalysis.writeBpeArtifact]] discipline:
    * `suffixes/` parquet under `Sinks.writeManifest` integrity (row
    * digest + schema + count), `meta/` (key, value) rows pinning the
    * artifact version, so every fleet member buckets domains under the
    * SAME suffix table or refuses to run. Entries carry the PSL rule
    * grammar verbatim (`suffix`, `*.tail`, `!name`) — the load returns
    * the text and [[regDomainWith]] parses the classes. */
  def writePslArtifact(s: SparkSession, path: String,
      suffixes: Seq[String]): Unit =
    writePslArtifactSectioned(s, path, suffixes.map((_, PslSectionIcann)))

  /** [[writePslArtifact]] with per-rule section provenance — the form
    * [[BundledPsl]] ships in */
  def writePslArtifactSectioned(s: SparkSession, path: String,
      entries: Seq[(String, String)]): Unit = {
    import s.implicits._
    val distinct = entries.distinct.sortBy(_._1)
    distinct.toDF("suffix", "section")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/suffixes")
    Seq(("version", PslArtifactVersion.toString),
        ("n_suffixes", distinct.size.toString))
      .toDF("key", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    graft.sources.Sinks.writeManifest(s, s"$path/suffixes")
  }

  /** Load a persisted suffix catalog: refuses a failed manifest check
    * (any changed/added/dropped suffix row flips the digest) or a
    * different artifact version — a silently drifted suffix table
    * re-buckets every per-domain cap and blocklist downstream. The
    * collect is O(catalog) MODEL metadata (the real PSL is ~10k rows,
    * a constant of the internet, not of the corpus — the BPE-merge /
    * IVF-codebook class), and the catalog rides query plans as InSet
    * literals, never as a join side. */
  def loadPslArtifact(s: SparkSession, path: String): Seq[String] =
    loadPslArtifactSectioned(s, path).map(_._1)

  /** [[loadPslArtifact]] keeping each rule's section. Loaded rule text
    * is VALIDATED (no quotes / whitespace / control chars — IDN rules
    * are fine): these strings ride both engines' generated SQL as
    * string literals, and though [[regDomainSqlExprWith]] escapes
    * quotes, an artifact row that couldn't have come from a real list
    * is better refused than silently bucketed. */
  def loadPslArtifactSectioned(s: SparkSession, path: String): Seq[(String, String)] = {
    s.catalog.refreshByPath(s"$path/suffixes")
    require(graft.sources.Sinks.verifyManifest(s, s"$path/suffixes"),
      s"PSL artifact at $path fails its manifest integrity check — " +
        "the suffix table was modified, partially written, or never finalized")
    val meta = s.read.parquet(s"$path/meta").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    require(meta.get("version").contains(PslArtifactVersion.toString),
      s"PSL artifact at $path is version ${meta.getOrElse("version", "?")}; " +
        s"this build reads version $PslArtifactVersion")
    val rows = s.read.parquet(s"$path/suffixes")
      .select("suffix", "section").orderBy("suffix").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    rows.foreach { case (suf, sec) =>
      require(suf.nonEmpty &&
          !suf.exists(c => c == '\'' || c == '"' || c.isWhitespace || c.isControl),
        s"PSL artifact at $path carries a malformed rule '${suf.take(40)}'")
      require(sec == PslSectionIcann || sec == PslSectionPrivate,
        s"PSL artifact at $path carries an unknown section '$sec'")
    }
    rows
  }

  /** URL/host/registrable-domain extraction over web-ish text — the
    * hygiene pass every crawl pipeline runs before per-domain policies
    * (caps, blocklists, licensing tiers) can exist. Pure per-row regex
    * work in the `q_pii_scrub` discipline: zero shuffles until the
    * presentation orderBy, trivially parallel at 100 TB. Emits match
    * counts, hosts in match order, and the distinct sorted registrable
    * domains per document. */
  def urlExtract(s: SparkSession, dir: String): DataFrame =
    urlExtractWith(s, dir, DefaultPslCatalog)

  /** [[urlExtract]] under an EXPLICIT suffix catalog (the
    * [[loadPslArtifact]] path) — the declared query IS this with the
    * default catalog, so the loaded-PSL path exercises the exact plan
    * the oracle checks. */
  def urlExtractWith(s: SparkSession, dir: String,
      suffixes: Seq[String]): DataFrame = {
    val urls = regexp_extract_all(col("text"), lit(UrlRe), lit(0))
    val hostsOf = transform(urls, u => regexp_extract(u, HostRe, 1))
    urlified(s, dir).select(
        col("doc_id"),
        size(urls).cast(LongType).as("n_urls"),
        // ','-joined (not arrays): the driver comparator hashes flat
        // columns only; ',' cannot occur in a host
        concat_ws(",", hostsOf).as("hosts"),
        concat_ws(",",
          array_sort(array_distinct(transform(hostsOf,
            regDomainWith(_, suffixes))))).as("domains"))
      .orderBy("doc_id")
  }

  val urlExtractSql: String = urlExtractSqlWith(DefaultPslCatalog)

  /** [[urlExtractSql]] under an explicit catalog — generated from the
    * SAME rule set as the Spark side, so `q_url_extract_psl` replays
    * the full bundled publicsuffix.org list through DuckDB verbatim
    * (~9.5k rules fold into one CASE with a few IN lists; constant
    * plan-time — PERF.md, "Round-17: a 10k-entry PSL catalog is
    * constant overhead, not per-row work") */
  def urlExtractSqlWith(suffixes: Seq[String]): String =
    s"""WITH $urlifiedCte,
       |x AS (SELECT doc_id, regexp_extract_all(text, '$UrlRe', 0) AS urls FROM u),
       |h AS (SELECT doc_id, urls,
       |  list_transform(urls, s -> regexp_extract(s, '$HostRe', 1)) AS hosts FROM x)
       |SELECT doc_id, len(urls)::BIGINT AS n_urls,
       |  coalesce(array_to_string(hosts, ','), '') AS hosts,
       |  coalesce(array_to_string(list_sort(list_distinct(list_transform(hosts,
       |    h -> ${regDomainSqlExprWith("h", suffixes).replace("\n", " ")}))), ','), '') AS domains
       |FROM h ORDER BY doc_id""".stripMargin

  /** Declared query: [[urlExtract]] under the REAL bundled
    * publicsuffix.org list (both sections) — the production
    * registrable-domain pass, oracle-checked: the DuckDB twin's suffix
    * CASE is generated from the same ~9.5k-rule catalog, so the full
    * rule grammar (plain/wildcard/exception at every level the real
    * list uses) is hash-compared, not just spec-pinned. Same plan shape
    * as the default-catalog form — the catalog only widens the InSet
    * literals. */
  def urlExtractPsl(s: SparkSession, dir: String): DataFrame =
    urlExtractWith(s, dir, pslSuffixes(BundledPsl))

  lazy val urlExtractPslSql: String = urlExtractSqlWith(pslSuffixes(BundledPsl))

  /** Canonical URL form for frontier dedup: lowercase, query/fragment
    * stripped, scheme dropped (http ≡ https for content identity),
    * trailing slash removed — the normalization a crawler applies
    * before its seen-set test. */
  private def canonUrl(u: Column): Column =
    regexp_replace(
      regexp_replace(regexp_replace(lower(u), "[?#].*$", ""), "^https?://", ""),
      "/$", "")

  private def canonUrlSqlExpr(u: String): String =
    s"regexp_replace(regexp_replace(regexp_replace(lower($u), '[?#].*$$', ''), '^https?://', ''), '/$$', '')"

  /** URL-frontier dedup (the crawler's seen-set, built as a batch
    * operator): every extracted URL canonicalized, then one row per
    * DISTINCT canonical URL with its occurrence count and first-carrier
    * doc — exactly the state a recrawl scheduler consults, and the
    * URL-level dedup that runs BEFORE content dedup ever pays a
    * shingle. The manufactured '?id=' query URLs collapse under
    * canonicalization, so the collapse is observable on this corpus.
    *
    * Scale: explode → map-side canon projection → ONE groupBy on the
    * canonical key (min/count partial-aggregate map-side). The frontier
    * is the output, never driver state. */
  def urlFrontier(s: SparkSession, dir: String): DataFrame =
    urlified(s, dir)
      .select(col("doc_id"),
        explode(regexp_extract_all(col("text"), lit(UrlRe), lit(0))).as("url"))
      .select(col("doc_id"), canonUrl(col("url")).as("canon_url"))
      .groupBy("canon_url")
      .agg(count(lit(1)).as("n_occurrences"), min(col("doc_id")).as("first_doc"))
      .orderBy("canon_url")

  val urlFrontierSql: String =
    s"""WITH $urlifiedCte,
       |x AS (SELECT doc_id, unnest(regexp_extract_all(text, '$UrlRe', 0)) AS url FROM u),
       |c AS (SELECT doc_id, ${canonUrlSqlExpr("url")} AS canon_url FROM x)
       |SELECT canon_url, count(*)::BIGINT AS n_occurrences,
       |  min(doc_id) AS first_doc
       |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  /** canonical-URL hashes of ANY (doc_id, text) frame — the frontier's
    * state rows (16 B/url, the substring-index discipline: a left-anti
    * membership probe needs no counts, no caps) */
  private[graft] def frontierHashesOf(docs: DataFrame): DataFrame = {
    graft.functions.TextExpressions.register(docs.sparkSession)
    docs
      .select(explode(regexp_extract_all(col("text"), lit(UrlRe), lit(0))).as("url"))
      .select(graft.functions.TextExpressions
        .md5Prefix64(canonUrl(col("url")), 15).as("h"))
      .distinct()
  }

  /** Persist the corpus split's URL frontier — the crawl scheduler's
    * seen-set at rest: distinct canonical-URL hashes, `hashes/`
    * clustered by h. Appends are O(batch) with NO read of the existing
    * set (left-anti membership is idempotent under duplicate rows —
    * the `appendSubstrIndex` contract); compaction dedups the bytes. */
  def writeUrlFrontier(s: SparkSession, dir: String, path: String): Unit =
    frontierHashesOf(urlified(s, dir)
        .where(col("doc_id") % Dedup.IncrementalMod =!= Dedup.IncrementalRem))
      .repartition(col("h"))
      .write.mode("overwrite").parquet(s"$path/hashes")

  /** admit a crawled batch's URLs into the frontier (post-probe) */
  def appendUrlFrontier(s: SparkSession, path: String, docs: DataFrame): Unit =
    frontierHashesOf(docs).write.mode("append").parquet(s"$path/hashes")

  /** Probe ARBITRARY (doc_id, text) rows against the persisted frontier:
    * emits each batch canonical URL NOT yet seen, with its first carrier
    * in the batch — the scheduler's "actually new work" list. One
    * left-anti equi-join on h; batch-sized work only. */
  def probeUrlFrontier(s: SparkSession, docs: DataFrame, path: String): DataFrame = {
    graft.functions.TextExpressions.register(s)
    docs
      .select(col("doc_id"),
        explode(regexp_extract_all(col("text"), lit(UrlRe), lit(0))).as("url"))
      .select(col("doc_id"), canonUrl(col("url")).as("canon_url"))
      .withColumn("h", graft.functions.TextExpressions.md5Prefix64(col("canon_url"), 15))
      .join(s.read.parquet(s"$path/hashes"), Seq("h"), "left_anti")
      .groupBy("canon_url").agg(min(col("doc_id")).as("first_doc"))
  }

  /** frontier memoized per (session, dir) on the documents fingerprint;
    * Bench clears it so the declared query pays its build honestly */
  private val frontierCache =
    graft.Memo[(SparkSession, String), String](graft.util.deleteRecursively)

  def clearFrontierCache(): Unit = frontierCache.clear()

  private def frontierPath(s: SparkSession, dir: String): String =
    frontierCache.get((s, dir), inputFingerprint(dir, "documents.parquet")) {
      graft.Memo.tempDir("graft_frontier")(writeUrlFrontier(s, dir, _))
    }

  /** Declared incremental form: the batch split's URLs probed against
    * the corpus split's persisted frontier — ingest-time URL dedup
    * without re-extracting the corpus per batch (the `q_dedup_*_
    * incremental` contract on the crawl-scheduling side). */
  def urlFrontierIncremental(s: SparkSession, dir: String): DataFrame =
    probeUrlFrontier(s,
        urlified(s, dir)
          .where(col("doc_id") % Dedup.IncrementalMod === Dedup.IncrementalRem),
        frontierPath(s, dir))
      .orderBy("canon_url")

  val urlFrontierIncrementalSql: String =
    s"""WITH $urlifiedCte,
       |x AS (SELECT doc_id, unnest(regexp_extract_all(text, '$UrlRe', 0)) AS url FROM u),
       |c AS (SELECT doc_id, ${canonUrlSqlExpr("url")} AS canon_url FROM x),
       |seen AS (SELECT DISTINCT canon_url FROM c
       |  WHERE doc_id % ${Dedup.IncrementalMod} <> ${Dedup.IncrementalRem}),
       |batch AS (SELECT * FROM c
       |  WHERE doc_id % ${Dedup.IncrementalMod} = ${Dedup.IncrementalRem})
       |SELECT canon_url, min(doc_id) AS first_doc FROM batch b
       |WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.canon_url = b.canon_url)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** per-domain doc cap for `q_sample_per_domain` */
  val PerDomainCap = 100

  /** Per-registrable-domain document caps — the anti-boilerplate
    * sampling step (C4/FineWeb keep at most N pages per domain so one
    * mirror farm can't dominate the mix): each doc keyed by its FIRST
    * URL's registrable domain ('(none)' when it carries no URL), the
    * [[PerDomainCap]] lowest-doc_id docs kept per domain.
    *
    * Scale shape: the cap rides the bounded KnnTopK aggregate (the ANN
    * family's per-group top-k) keyed on -doc_id, so per-domain state is
    * O(cap) and partially aggregated map-side — no corpus-wide window
    * sort, no skew hazard when one domain owns half the crawl. The
    * -doc_id double key is monotone (rounding preserves order) with the
    * aggregator's id-ASC tie-break, so selection is exact even past
    * 2^53. */
  def samplePerDomain(s: SparkSession, dir: String): DataFrame =
    samplePerDomainWith(s, dir, DefaultPslCatalog)

  /** [[samplePerDomain]] under an explicit suffix catalog — per-domain
    * caps keyed by the loaded PSL's registrable domains */
  def samplePerDomainWith(s: SparkSession, dir: String,
      suffixes: Seq[String]): DataFrame = {
    val firstUrl = regexp_extract(col("text"), UrlRe, 0)
    // fanOut HERE, not in urlified (that one was tried and reverted —
    // the cheap URL consumers lost the exchange cost): this consumer's
    // kernel is two full-text URL regex extracts plus the bundled-PSL
    // registered-domain CASE, serialized on the 1-split documents scan
    // at sf0.1 (tools.Profile: one 1.28 s 1-task stage — the whole
    // query). The heavy kernel amortizes the exchange the cheap
    // consumers couldn't.
    val keyed = fanOut(urlified(s, dir), col("doc_id")).select(
      when(firstUrl === "", "(none)")
        .otherwise(regDomainWith(regexp_extract(firstUrl, HostRe, 1), suffixes))
        .as("domain"),
      col("doc_id"))
    keyed.groupBy("domain")
      .agg(graft.functions.KnnTopK.knnTopk(
        negate(col("doc_id").cast(DoubleType)), col("doc_id"), PerDomainCap).as("hits"))
      .select(col("domain"), explode(col("hits.vec_id")).as("doc_id"))
      .orderBy("domain", "doc_id")
  }

  val samplePerDomainSql: String = samplePerDomainSqlWith(DefaultPslCatalog)

  /** [[samplePerDomainSql]] under an explicit catalog (see
    * [[urlExtractSqlWith]]) */
  def samplePerDomainSqlWith(suffixes: Seq[String]): String =
    s"""WITH $urlifiedCte,
       |f AS (SELECT doc_id,
       |  coalesce(regexp_extract(text, '$UrlRe', 0), '') AS first_url FROM u),
       |k AS (SELECT doc_id,
       |  CASE WHEN first_url = '' THEN '(none)'
       |       ELSE ${regDomainSqlExprWith(s"regexp_extract(first_url, '$HostRe', 1)", suffixes).replace("\n", " ")} END AS domain
       |  FROM f),
       |r AS (SELECT domain, doc_id,
       |  row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rk FROM k)
       |SELECT domain, doc_id FROM r WHERE rk <= $PerDomainCap
       |ORDER BY domain, doc_id""".stripMargin

  /** Declared query: [[samplePerDomain]]'s per-domain cap bucketed under
    * the REAL bundled publicsuffix.org list — the production cap pass,
    * oracle-checked like [[urlExtractPsl]]. ICANN-vs-PRIVATE policy note:
    * this keys by the FULL list (each private-registry tenant is its own
    * cap bucket); `regDomainSectioned` gives the ICANN-only bucketing
    * when one budget per tenant SERVICE is wanted. */
  def samplePerDomainPsl(s: SparkSession, dir: String): DataFrame =
    samplePerDomainWith(s, dir, pslSuffixes(BundledPsl))

  lazy val samplePerDomainPslSql: String =
    samplePerDomainSqlWith(pslSuffixes(BundledPsl))

  // ---- corpus novelty (diminishing-returns instrument) ------------------
  /** Per-document novel-gram fraction in ingestion (doc_id) order — the
    * "is more of this corpus still worth ingesting?" curve: a gram is
    * novel for the FIRST doc that carries it, so a corpus whose tail
    * documents trend toward novelty 0 is re-crawling content it already
    * has. Emits per doc: distinct-gram count, novel-gram count, and the
    * novelty fraction.
    *
    * Shape at scale: ONE gram-hash shuffle computing min(doc_id) per gh
    * (partial-aggregated map-side), then a doc-keyed count — both
    * map-side combinable, no windows, no sort until the final
    * presentation orderBy. Same 60-bit gh key as the dedup family. */
  def corpusNovelty(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExpressions.register(s)
    val shingles = t(s, dir, "documents")
      .select(col("doc_id"),
        graft.functions.TextExpressions.wordNgrams(toks, 3).as("grams"))
    val pairs = shingles
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .select(col("doc_id"),
        graft.functions.TextExpressions.md5Prefix64(col("gram"), 15).as("gh"))
    val novel = pairs.groupBy("gh").agg(min(col("doc_id")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    shingles.select(col("doc_id"),
        size(col("grams")).cast(LongType).as("n_grams"))
      .join(novel, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        r4(col("n_novel").cast(DoubleType) / col("n_grams")).as("novelty"))
      .orderBy("doc_id")
  }

  val corpusNoveltySql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |grams AS (
      |  SELECT doc_id, gram FROM (
      |    SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS gram
      |    FROM toks JOIN generate_series(1, 100000) g(i) ON i <= len(tk) - 2
      |    WHERE len(tk) >= 3
      |    UNION
      |    SELECT doc_id, array_to_string(tk, ' ') AS gram FROM toks WHERE len(tk) < 3)),
      |gh AS (SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gh FROM grams),
      |novel AS (SELECT doc_id, count(*) AS n_novel FROM (
      |    SELECT gh, min(doc_id) AS doc_id FROM gh GROUP BY 1) f GROUP BY 1),
      |sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY 1)
      |SELECT s.doc_id, s.n_grams, coalesce(n.n_novel, 0) AS n_novel,
      |  CAST(round(coalesce(n.n_novel, 0)::DOUBLE / s.n_grams, 4) AS DOUBLE) AS novelty
      |FROM sizes s LEFT JOIN novel n ON s.doc_id = n.doc_id
      |ORDER BY s.doc_id""".stripMargin

  // ---- composed dataset-assembly pipeline ------------------------------
  /** The assembly twin of `q_curate_e2e` — the WHOLE path from curated
    * corpus to training stream as one declarative frame:
    *
    *   split_assign(train) → sample_temperature → shuffle_shard digest
    *
    * Order is part of the contract: the temperature rates are computed
    * over the TRAIN population (val/test must not influence the mix, and
    * sampling before splitting would skew the held-out sets), and the
    * shuffle digests only what survives sampling. The sampling coin is
    * the SECOND md5 lane (hex chars 9–16) — independent of the split
    * coin (chars 1–8), so sampling cannot correlate with split
    * membership; `q_sample_temperature` standalone keeps lane 1, where
    * no second decision exists.
    *
    * Scale shape inherited from the pieces unchanged: map-side split
    * filter, catalog-sized source groupBy + 1-row broadcast total +
    * broadcast rate join, then the contract-bounded per-shard rank
    * window. Catalyst fuses the two map-side filters into the scan. */
  def assembleE2e(s: SparkSession, dir: String): DataFrame = {
    val c2 = conv(substring(md5(col("doc_id").cast(StringType)), 9, 8), 16, 10)
      .cast(LongType)
    val train = t(s, dir, "documents")
      .where(splitOf(col("doc_id")) === "train")
      .select(col("doc_id"), col("source"), size(toks).cast(LongType).as("n_tok"))
    val per = train.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val tot = train.agg(count(lit(1)).cast(DoubleType).as("tot"))
    val rates = per.crossJoin(broadcast(tot))
      .withColumn("thr",
        floor(least(lit(1.0d), lit(TempScale) * sqrt(col("tot") / col("n_docs")))
          * 10000d).cast(LongType))
    val kept = train.join(broadcast(rates.select("source", "thr")), "source")
      .where(c2 % 10000 < col("thr"))
    val keyed = kept
      .select(col("doc_id"), col("n_tok"), md5(col("doc_id").cast(StringType)).as("skey"))
      .withColumn("shard",
        (conv(substring(col("skey"), 1, 8), 16, 10).cast(LongType) % ShuffleShards))
    val w = Window.partitionBy("shard").orderBy(col("skey"), col("doc_id"))
    keyed.withColumn("pos", row_number().over(w).cast(LongType))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        sum(col("doc_id") * col("pos")).as("order_sum"))
      .orderBy("shard")
  }

  val assembleE2eSql: String =
    s"""WITH d AS (SELECT doc_id, source,
       |    len(string_split(text, ' '))::BIGINT AS n_tok,
       |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS c1,
       |    ('0x' || substr(md5(doc_id::VARCHAR), 9, 8))::BIGINT AS c2
       |  FROM documents),
       |train AS (SELECT doc_id, source, n_tok, c2 FROM d
       |          WHERE c1 % 1000 >= $SplitValPerMille),
       |per AS (SELECT source, count(*) AS n_docs FROM train GROUP BY 1),
       |tot AS (SELECT count(*)::DOUBLE AS tot FROM train),
       |rates AS (SELECT source,
       |    floor(least(1.0::DOUBLE, $TempScale::DOUBLE * sqrt(tot / n_docs))
       |      * 10000::DOUBLE)::BIGINT AS thr
       |  FROM per, tot),
       |kept AS (SELECT t.doc_id, t.n_tok FROM train t
       |         JOIN rates r ON t.source = r.source
       |         WHERE t.c2 % 10000 < r.thr),
       |keyed AS (SELECT doc_id, n_tok, md5(doc_id::VARCHAR) AS skey,
       |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % $ShuffleShards AS shard
       |  FROM kept),
       |pos AS (SELECT shard, doc_id, n_tok,
       |    row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id)::BIGINT AS pos
       |  FROM keyed)
       |SELECT shard, count(*) AS n_docs, sum(n_tok)::BIGINT AS n_tokens,
       |  sum(doc_id * pos)::BIGINT AS order_sum
       |FROM pos GROUP BY 1 ORDER BY shard""".stripMargin

  // ---- fixed-window chunking with overlap ------------------------------
  /** chunk geometry: windows of [[ChunkTokens]] tokens advancing by
    * [[ChunkStride]] (overlap = 16 tokens), the RAG/pretraining-context
    * chunker. A doc of n tokens emits 1 + ⌈(n−C)/S⌉ chunks (one when
    * n ≤ C); the final window is short rather than padded. */
  val ChunkTokens = 64
  val ChunkStride = 48

  /** Sliding-window document chunking — the step between a curated
    * corpus and an indexed / packed one: every doc becomes overlapping
    * token windows keyed (doc_id, chunk_id), each carrying its exact
    * token span so downstream embedding or packing never re-tokenizes.
    *
    * Scale shape: pure per-row projection + explode — ZERO shuffles at
    * any corpus size (the ORDER BY is the declared-output convention,
    * not part of the operator). Chunk count, spans, and text slices are
    * all exact integer arithmetic on the token array, replayed
    * verbatim by the oracle. */
  def chunkOverlap(s: SparkSession, dir: String): DataFrame = {
    val c = ChunkTokens; val st = ChunkStride
    t(s, dir, "documents")
      .select(col("doc_id"), toks.as("tk"))
      .withColumn("n", size(col("tk")))
      .withColumn("n_chunks",
        when(col("n") <= c, lit(1))
          .otherwise(lit(1) + expr(s"(n - $c + ${st - 1}) div $st")).cast(IntegerType))
      .select(col("doc_id"), col("tk"), col("n"),
        explode(expr("sequence(0, n_chunks - 1)")).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id").cast(LongType).as("chunk_id"),
        (col("chunk_id") * st).cast(LongType).as("tok_start"),
        least(lit(c), col("n") - col("chunk_id") * st).cast(LongType).as("n_tokens"),
        array_join(slice(col("tk"), col("chunk_id") * st + 1, lit(c)), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  val chunkOverlapSql =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |cnt AS (SELECT doc_id, tk, len(tk) AS n,
       |  CASE WHEN len(tk) <= $ChunkTokens THEN 1
       |       ELSE 1 + (len(tk) - $ChunkTokens + ${ChunkStride - 1}) // $ChunkStride
       |  END AS n_chunks FROM toks)
       |SELECT doc_id, i AS chunk_id, (i * $ChunkStride)::BIGINT AS tok_start,
       |  least($ChunkTokens, n - i * $ChunkStride)::BIGINT AS n_tokens,
       |  array_to_string(tk[i * $ChunkStride + 1 : i * $ChunkStride + $ChunkTokens], ' ') AS chunk_text
       |FROM cnt JOIN generate_series(0, 1000000) g(i) ON i < n_chunks
       |ORDER BY doc_id, chunk_id""".stripMargin

  // ---- registration ----------------------------------------------------
  val queries: Map[String, Q] = Map(
    "q_chunk_overlap" -> chunkOverlap _,
    "q_split_assign" -> splitAssign _,
    "q_sample_temperature" -> sampleTemperature _,
    "q_vocab_coverage" -> vocabCoverage _,
    "q_shuffle_shard" -> shuffleShard _,
    "q_quality_unigram" -> qualityUnigram _,
    "q_quality_bigram" -> qualityBigram _,
    "q_dedup_paragraph" -> dedupParagraph _,
    "q_token_histogram" -> tokenHistogram _,
    "q_corpus_diff" -> corpusDiff _,
    "q_source_overlap" -> sourceOverlap _,
    "q_source_overlap_theta" -> sourceOverlapTheta _,
    "q_source_overlap_persisted" -> sourceOverlapPersisted _,
    "q_corpus_novelty" -> corpusNovelty _,
    "q_url_extract" -> urlExtract _,
    "q_url_extract_psl" -> urlExtractPsl _,
    "q_sample_per_domain_psl" -> samplePerDomainPsl _,
    "q_url_frontier" -> urlFrontier _,
    "q_url_frontier_incremental" -> urlFrontierIncremental _,
    "q_sample_per_domain" -> samplePerDomain _,
    "q_split_leakage" -> splitLeakage _,
    "q_split_leakage_bloom" -> splitLeakageBloom _,
    "q_assemble_e2e" -> assembleE2e _)

  val oracle: Map[String, String] = Map(
    "q_chunk_overlap" -> chunkOverlapSql,
    "q_split_assign" -> splitAssignSql,
    "q_sample_temperature" -> sampleTemperatureSql,
    "q_vocab_coverage" -> vocabCoverageSql,
    "q_shuffle_shard" -> shuffleShardSql,
    "q_quality_unigram" -> qualityUnigramSql,
    "q_quality_bigram" -> qualityBigramSql,
    "q_dedup_paragraph" -> dedupParagraphSql,
    "q_token_histogram" -> tokenHistogramSql,
    "q_corpus_diff" -> corpusDiffSql,
    "q_source_overlap" -> sourceOverlapSql,
    "q_corpus_novelty" -> corpusNoveltySql,
    "q_url_extract" -> urlExtractSql,
    "q_url_extract_psl" -> urlExtractPslSql,
    "q_sample_per_domain_psl" -> samplePerDomainPslSql,
    "q_url_frontier" -> urlFrontierSql,
    "q_url_frontier_incremental" -> urlFrontierIncrementalSql,
    "q_sample_per_domain" -> samplePerDomainSql,
    "q_split_leakage" -> splitLeakageSql,
    "q_assemble_e2e" -> assembleE2eSql)
}
