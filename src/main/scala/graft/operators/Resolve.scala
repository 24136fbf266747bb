package graft.operators

import graft.util._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fuzzy matching + entity resolution — the record-linkage half of a
  * training-data pipeline (the reference's NOC/SIEM positioning,
  * README.md:42-50, implies exactly this class of device/hostname
  * reconciliation; the engine generalizes it to the standard ER stack).
  *
  * The scale problem: edit-distance predicates don't equi-join, and the
  * naive form is a cross join — O(|L|·|R|) comparisons, dead at 100 TB.
  * The fix used everywhere here is SYMSPELL-STYLE DELETION-NEIGHBORHOOD
  * BLOCKING: for Levenshtein distance ≤ 1, two strings always share a
  * member of their deletion neighborhoods (the string itself plus every
  * single-character deletion) —
  *   - equal strings share the string itself;
  *   - a substitution at position i: deleting i from both sides yields
  *     the same string;
  *   - an insertion/deletion: deleting the inserted character from the
  *     longer side yields the shorter side, which is in its own
  *     neighborhood.
  * So `explode(deletion_neighborhood) → equi-join on the variant` is a
  * LOSSLESS candidate generator for the dist ≤ 1 predicate (a superset:
  * variant collisions at distance 2 exist, e.g. "ab"/"ba" share "a"),
  * and one `levenshtein ≤ 1` verify on the candidates restores exactness.
  * Blocking cost is a ×(len+1) row multiplier into an equi-join on a
  * scaling key with bounded per-key fan-out — a shuffle that partitions,
  * never a cross join. Property-pinned in ResolveSpec (random dist ≤ 1
  * pairs always share a variant).
  *
  * All joins here are equi-joins; the only actions are inside
  * [[Dedup.propagateMinLabel]]'s convergence loop (one scalar count per
  * round over a metadata-sized label frame).
  */
object Resolve {

  /** Deletion neighborhood of a string column: the string itself plus
    * every single-character deletion, distinct. Pure per-row array
    * construction — ×(len+1) rows after explode, zero shuffles.
    * Native codegen'd expression since r22: the previous
    * `array_distinct(concat(array(c), transform(sequence(1, length(c)),
    * i -> concat(substr(...), substr(...)))))` form ran its lambda
    * INTERPRETED once per row of every ER/fuzzy candidate front (HOFs
    * don't codegen — the wordNgrams/quality-bigram lesson); the arrays
    * are element-identical (same first-seen distinct order, same
    * UTF8String substring semantics). */
  private[graft] def delNeighborhood(c: Column): Column = {
    graft.functions.TextExpressions.register(
      org.apache.spark.sql.SparkSession.active)
    graft.functions.TextExpressions.delNeighborhood(c, 1)
  }

  /** Depth-2 deletion neighborhood D≤2(s) — [[delNeighborhood]] composed
    * with itself (each depth-1 variant contributes its own neighborhood;
    * the self-elements make the union cover depths 0, 1 and 2). Lossless
    * for the dist ≤ 2 predicate by the same SymSpell argument applied
    * edit-by-edit: each of the ≤ 2 edits is cancelled by deleting ≤ 1
    * character from each side (substitution: the position from both;
    * indel: the inserted character from the longer side), so two strings
    * within distance 2 share a member of their depth-2 neighborhoods —
    * property-pinned in ResolveSpec over random 2-edit pairs. Row
    * multiplier ~(len+1)²/2 after dedup: the candidate join stays an
    * equi-join on a scaling key, the quadratic form never runs. */
  private[graft] def delNeighborhood2(c: Column): Column = {
    graft.functions.TextExpressions.register(
      org.apache.spark.sql.SparkSession.active)
    graft.functions.TextExpressions.delNeighborhood(c, 2)
  }

  /** The SymSpell prefix-truncation dial, anchored at the string's TAIL:
    * the depth-2 deletion neighborhood of only the LAST `window` chars
    * (the whole string when shorter). Bounds the ×(len+1)²/2 variant
    * multiplier at ×(window+1)²/2 whatever the key length.
    *
    * LOSSLESS for the dist ≤ 2 predicate at ANY window ≥ 1: take an
    * optimal alignment of a and b; each edit op leaves at most one
    * unmatched character in each side's window (a substitution: the
    * edited position on both sides; an indel: the inserted character on
    * one side plus, via the alignment shift, at most one matched partner
    * pushed out of the other side's window), so ≤ 2 deletions per side
    * reach a common string — the windows share a depth-2 deletion
    * variant. Property-pinned in ResolveSpec over random 2-edit pairs.
    * The dial trades variant count against block selectivity: the
    * blocking key carries only the window's characters, so collisions
    * grow where the tail is non-discriminative. The tail anchor (vs
    * SymSpell's head anchor) is deliberate: zero-padded sequential ids —
    * the declared fixture's key shape and the common one in the wild —
    * carry ALL their entropy in the suffix; a head window of such a key
    * is constant zeros and would collapse the block. */
  private[graft] def delNeighborhood2Window(c: Column, window: Int): Column =
    delNeighborhood2(
      substr(c, greatest(lit(1), length(c) - lit(window - 1)), lit(window)))

  // ---- fuzzy join ------------------------------------------------------

  /** Cross-system id linkage: the numeric suffixes of customer names
    * fuzzy-joined to the numeric suffixes of supplier names at edit
    * distance ≤ 1 — the "same entity, one typo apart in two systems"
    * join. Both sides distinct-project first (map-side combine), then
    * deletion-variant explode → variant equi-join → pair distinct →
    * levenshtein verify. No cross join anywhere; the variant join's key
    * cardinality scales with the data and per-key fan-out is bounded by
    * the alphabet (≤ 10 digit substitutions per position). */
  def joinFuzzy(s: SparkSession, dir: String): DataFrame =
    joinFuzzyFrom(
      t(s, dir, "customer")
        .select(regexp_extract(col("c_name"), "[0-9]+$", 0).as("name_a")).distinct(),
      t(s, dir, "supplier")
        .select(regexp_extract(col("s_name"), "[0-9]+$", 0).as("name_b")).distinct())

  /** [[joinFuzzy]] over explicit name frames (`name_a` / `name_b`
    * columns) — the declared query IS this over the fixture tables;
    * the scale instrument (tools/ResolveScaleTiming) feeds replicated
    * frames through the same plan. */
  def joinFuzzyFrom(a: DataFrame, b: DataFrame): DataFrame =
    fuzzyJoinWith(a, b, maxDist = 1)

  /** the shared blocked-join plan at either distance dial: depth-d
    * neighborhoods → variant equi-join → distinct → levenshtein ≤ d.
    * `window > 0` turns on the tail-window truncation dial at dist 2
    * ([[delNeighborhood2Window]] — fewer variants per key, verify
    * unchanged, so the result is bit-identical at any window). */
  private def fuzzyJoinWith(a: DataFrame, b: DataFrame, maxDist: Int,
      window: Int = 0): DataFrame = {
    val nb: Column => Column =
      if (maxDist <= 1) delNeighborhood
      else if (window > 0) delNeighborhood2Window(_, window)
      else delNeighborhood2
    // fanOut (util.scala): the ×(len+1)-to-×(window+1)²/2 neighborhood
    // explode and the candidate probe below it are MAP-side work of the
    // pair-distinct exchange, so their parallelism is `a`'s — and the
    // distinct's tiny post-shuffle output AQE-coalesces to ~1 partition
    // at bench scale (measured: the whole explode → probe → verify ran
    // as ONE 6.4 s task at sf0.1). Hash-spreading the deduped names
    // first is a KB-scale shuffle; a no-op once the scan is wide. Only
    // the `a` side spreads: `b` is the broadcast-build side, whose
    // explode is one cheap local pass.
    val av = fanOut(a, col("name_a"))
      .select(col("name_a"), explode(nb(col("name_a"))).as("v"))
    val bv = b.select(col("name_b"), explode(nb(col("name_b"))).as("v"))
    // dist is projected and then filtered; Catalyst inlines the alias
    // when pushing the filter, so whether levenshtein evaluates once or
    // twice per candidate is up to codegen subexpression elimination —
    // not a guarantee this plan shape provides. Semantics are unaffected
    // either way, and the verify is a small fraction of the join cost.
    //
    // The repartition before the final sort is a MATERIALIZATION
    // BARRIER, not a distribution need: a global orderBy samples its
    // child twice (range-boundary pass + shuffle pass), and with the
    // small-dimension side broadcast there is no materialized exchange
    // between the tiny name frames and the sort — so the sampling pass
    // would RE-EXECUTE the whole amplified explode → join → distinct →
    // verify stage (measured 2.0x the query wall at sf0.1). Shuffling
    // just the verified matches (the smallest frame in the plan) lets
    // the sampling read shuffle files instead.
    av.join(bv, "v")
      .select("name_a", "name_b").distinct()
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).cast(LongType).as("dist"))
      .where(col("dist") <= maxDist)
      .repartition(a.sparkSession.sparkContext.defaultParallelism,
        col("name_a"), col("name_b"))
      .orderBy("name_a", "name_b")
  }

  /** the distance-2 dial — real-world linkage tolerates two typos; the
    * candidate multiplier grows with depth but the plan shape is
    * IDENTICAL to the dist-1 form (one variant equi-join, no cross
    * join), which is the point of the SymSpell family: the tolerance
    * dial moves row counts, never the join algorithm. Runs under the
    * tail-window truncation dial at window 7 ([[delNeighborhood2Window]]
    * — lossless at any window, pinned in ResolveSpec): the 9-digit keys'
    * two leading characters are zero padding at every shipped sf, so a
    * 7-char tail window cuts the per-key variant count 46 → 29 (−37%
    * exploded rows into the shuffle) without widening the candidate
    * front. */
  def joinFuzzy2(s: SparkSession, dir: String): DataFrame =
    fuzzyJoinWith(
      t(s, dir, "customer")
        .select(regexp_extract(col("c_name"), "[0-9]+$", 0).as("name_a")).distinct(),
      t(s, dir, "supplier")
        .select(regexp_extract(col("s_name"), "[0-9]+$", 0).as("name_b")).distinct(),
      maxDist = 2, window = 7)

  val joinFuzzy2Sql: String =
    """WITH a AS (SELECT DISTINCT regexp_extract(c_name, '[0-9]+$', 0) AS name_a FROM customer),
      |b AS (SELECT DISTINCT regexp_extract(s_name, '[0-9]+$', 0) AS name_b FROM supplier)
      |SELECT name_a, name_b, levenshtein(name_a, name_b)::BIGINT AS dist
      |FROM a, b WHERE levenshtein(name_a, name_b) <= 2
      |ORDER BY name_a, name_b""".stripMargin

  val joinFuzzySql: String =
    """WITH a AS (SELECT DISTINCT regexp_extract(c_name, '[0-9]+$', 0) AS name_a FROM customer),
      |b AS (SELECT DISTINCT regexp_extract(s_name, '[0-9]+$', 0) AS name_b FROM supplier)
      |SELECT name_a, name_b, levenshtein(name_a, name_b)::BIGINT AS dist
      |FROM a, b WHERE levenshtein(name_a, name_b) <= 1
      |ORDER BY name_a, name_b""".stripMargin

  // ---- token-level fuzzy join -----------------------------------------

  /** per-side document frequency above which a token is a STOP TOKEN for
    * blocking: it can't discriminate, and blocking on it would make the
    * candidate front quadratic in that token's carrier count. Bounds
    * per-variant candidate work at ≤ cap² pairs, so the front is linear
    * in exploded rows × cap. A recall dial in principle — but the
    * declared query's oracle is the full cross join with the full
    * scoring formula, so the driver's hash compare proves no qualifying
    * pair was lost at the verified scale (the q_entity_blocking_eval
    * discipline). */
  val TokenDfCap = 16L

  /** Token-level fuzzy join over multi-token TEXT names — the form an
    * actual cross-system linkage user hits first: free-text names
    * ("united states customer 000000123") where whole-string edit
    * distance is useless (one differing token swamps it) and the right
    * semantics are TOKEN-SET scoring with per-token typo tolerance.
    *
    * Scoring: coverage Dice — cov_a = |{ta ∈ A : ∃ tb ∈ B,
    * lev(ta,tb) ≤ 1}|, cov_b symmetric, score = (cov_a + cov_b) /
    * (|A| + |B|); pairs at score ≥ 0.6 link. Deterministic (pure counts,
    * no matching heuristics) and exactly replayable in SQL.
    *
    * Blocking: PER-TOKEN deletion neighborhoods — each side explodes
    * (name, token) for tokens under the [[TokenDfCap]] df cap, then the
    * dist ≤ 1 variant equi-join from [[joinFuzzy]] generates candidates
    * that share a fuzzy RARE token; the full scoring formula then runs
    * only on candidates. For the declared fixture the cap-blocking is
    * exact, not just oracle-verified, and the argument covers BOTH name
    * shapes the fixture produces — 3-token ("canada customer 123") and
    * 4-token multi-word-nation ("united states customer 123"): the
    * constant tokens ("customer"/"supplier") can never fuzzy-match each
    * other, and nation tokens never fuzzy-match digit tokens, so a
    * pair's coverage comes only from nation-token and digit-token
    * matches. Without the digit token covered, the best case is all
    * nation tokens covered on both sides: (1+1)/(3+3) = 0.33 for 3v3,
    * (2+2)/(4+4) = 0.5 for 4v4, (1+2)/(3+4) ≈ 0.43 for the 3v4
    * cross-nation case sharing "united" — all below the 0.6 gate. So
    * every qualifying pair covers its digit token at dist ≤ 1, and
    * digit tokens have df ≈ 1, always under the cap
    * (PERF.md, "Round-19: the three new keys hash-proven at 10x
    * density": zero loss against the unblocked cross join at 10×,
    * executed distributed). The scale shape is the fuzzy-join family's:
    * explode → variant equi-join on a scaling key with cap-bounded
    * fan-out → verify. */
  def joinFuzzyTokens(s: SparkSession, dir: String): DataFrame = {
    val nat = t(s, dir, "nation")
      .select(col("n_nationkey"), lower(col("n_name")).as("nt"))
    val a = t(s, dir, "customer")
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .select(concat_ws(" ", col("nt"), lit("customer"),
        regexp_extract(col("c_name"), "[0-9]+$", 0)).as("name_a")).distinct()
    val b = t(s, dir, "supplier")
      .join(nat, col("s_nationkey") === col("n_nationkey"))
      .select(concat_ws(" ", col("nt"), lit("supplier"),
        regexp_extract(col("s_name"), "[0-9]+$", 0)).as("name_b")).distinct()
    fuzzyTokenJoin(a, b, minScore = 0.6, dfCap = TokenDfCap)
  }

  /** the token-set fuzzy join over explicit name frames: df-capped
    * per-token deletion blocking → candidate distinct → coverage-Dice
    * scoring over the FULL token sets (the blocking only gates which
    * pairs get scored, never what the score sees) */
  def fuzzyTokenJoin(a: DataFrame, b: DataFrame,
      minScore: Double, dfCap: Long): DataFrame = {
    // the fuzzyJoinWith fan-out discipline: `at` feeds the token explode
    // and (via the candidate join) the HOF scoring pass — both map-side
    // of AQE-coalesced-tiny exchanges at bench scale
    val at = fanOut(a, col("name_a")).select(col("name_a"),
      array_distinct(split(col("name_a"), " ")).as("toks_a"))
    val bt = b.select(col("name_b"),
      array_distinct(split(col("name_b"), " ")).as("toks_b"))
    def blockSide(t: DataFrame, name: String, toks: String): DataFrame = {
      val e = t.select(col(name), explode(col(toks)).as("tok"))
      // names are distinct and tokens distinct within a name, so the
      // row count per token IS its document frequency on this side
      val rare = e.groupBy("tok").agg(count(lit(1)).as("df"))
        .where(col("df") <= dfCap).select("tok")
      e.join(rare, Seq("tok"))
        .select(col(name), explode(delNeighborhood(col("tok"))).as("v"))
    }
    val cand = blockSide(at, "name_a", "toks_a")
      .join(blockSide(bt, "name_b", "toks_b"), Seq("v"))
      .select("name_a", "name_b").distinct()
    // the per-candidate HOF scoring (|A|×|B| levenshteins per pair) is
    // map-side of the final exchange — spread the deduped pair list
    fanOut(cand, col("name_a"), col("name_b"))
      .join(at, Seq("name_a")).join(bt, Seq("name_b"))
      .select(col("name_a"), col("name_b"),
        size(filter(col("toks_a"),
          ta => exists(col("toks_b"), tb => levenshtein(ta, tb) <= 1))).as("cov_a"),
        size(filter(col("toks_b"),
          tb => exists(col("toks_a"), ta => levenshtein(ta, tb) <= 1))).as("cov_b"),
        size(col("toks_a")).as("na"), size(col("toks_b")).as("nb"))
      .select(col("name_a"), col("name_b"),
        r4f((col("cov_a") + col("cov_b")).cast(DoubleType)
          / (col("na") + col("nb"))).as("score"))
      .where(col("score") >= minScore)
      // fuzzyJoinWith's materialization barrier: without it the sort's
      // range-boundary sampling pass re-executes the HOF scoring join
      .repartition(a.sparkSession.sparkContext.defaultParallelism,
        col("name_a"), col("name_b"))
      .orderBy("name_a", "name_b")
  }

  /** the honest twin: FULL cross join + the full scoring formula — no
    * blocking at all, so a blocked-side recall loss hash-mismatches */
  val joinFuzzyTokensSql: String =
    """WITH nat AS (SELECT n_nationkey, lower(n_name) AS nt FROM nation),
      |a AS (SELECT DISTINCT nt || ' customer ' || regexp_extract(c_name, '[0-9]+$', 0) AS name_a
      |      FROM customer c JOIN nat ON c.c_nationkey = nat.n_nationkey),
      |b AS (SELECT DISTINCT nt || ' supplier ' || regexp_extract(s_name, '[0-9]+$', 0) AS name_b
      |      FROM supplier s JOIN nat ON s.s_nationkey = nat.n_nationkey),
      |ta AS (SELECT name_a, list_distinct(string_split(name_a, ' ')) AS toks_a FROM a),
      |tb AS (SELECT name_b, list_distinct(string_split(name_b, ' ')) AS toks_b FROM b),
      |sc AS (SELECT name_a, name_b,
      |    len(list_filter(toks_a, x -> len(list_filter(toks_b, y -> levenshtein(x, y) <= 1)) > 0)) AS cov_a,
      |    len(list_filter(toks_b, y -> len(list_filter(toks_a, x -> levenshtein(x, y) <= 1)) > 0)) AS cov_b,
      |    len(toks_a) AS na, len(toks_b) AS nb
      |  FROM ta, tb)
      |SELECT name_a, name_b,
      |  floor((cov_a + cov_b)::DOUBLE / (na + nb) * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS score
      |FROM sc
      |WHERE floor((cov_a + cov_b)::DOUBLE / (na + nb) * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE >= 0.6
      |ORDER BY name_a, name_b""".stripMargin

  // ---- entity resolution ----------------------------------------------

  /** Candidate pairs within the nation block at name distance ≤ 1, with
    * the per-evidence columns the scorer reads. Blocking key =
    * (nationkey, deletion variant): standard ER practice — a cheap exact
    * attribute narrows the block, the neighborhood join handles the
    * fuzzy attribute inside it. */
  /** the blocked candidate front BEFORE the levenshtein verify — the
    * frame the blocking-eval instrument counts */
  private def rawCandidates(cust: DataFrame): DataFrame = {
    // fanOut (util.scala): the ×(len+1) explode + the blocked self-join
    // probe run map-side of the pair-distinct exchange — on a 1-split
    // scan they serialized into one ~2 s task at sf0.1; a KB-scale
    // keyed shuffle spreads them, and is a no-op on wide scans
    val v = fanOut(cust
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_mktsegment"), col("c_acctbal")), col("c_custkey"))
      .select(col("c_nationkey").as("nat"), col("c_custkey"), col("c_name"),
        col("c_mktsegment"), col("c_acctbal"),
        explode(delNeighborhood(col("c_name"))).as("v"))
    val a = v.select(col("nat"), col("v"), col("c_custkey").as("key_a"),
      col("c_name").as("name_a"), col("c_mktsegment").as("seg_a"),
      col("c_acctbal").as("bal_a"))
    val b = v.select(col("nat"), col("v"), col("c_custkey").as("key_b"),
      col("c_name").as("name_b"), col("c_mktsegment").as("seg_b"),
      col("c_acctbal").as("bal_b"))
    a.join(b, Seq("nat", "v"))
      .where(col("key_a") < col("key_b"))
      .select("key_a", "key_b", "name_a", "name_b", "seg_a", "seg_b", "bal_a", "bal_b")
      .distinct()
  }

  /** verified candidates, carrying `name_dist` so the scorer never
    * recomputes the levenshtein the verify already paid for */
  private def candidatePairs(cust: DataFrame): DataFrame =
    rawCandidates(cust)
      .withColumn("name_dist",
        levenshtein(col("name_a"), col("name_b")).cast(LongType))
      .where(col("name_dist") <= 1)

  /** Pairwise match scoring — Fellegi-Sunter-shaped integer evidence
    * weights (name 60/30 by distance, segment agreement 25, account
    * balance within 1000.0 adds 15), integer-exact so the oracle hash is
    * bit-stable. A pair at distance 1 needs segment agreement to reach
    * the [[MatchThreshold]]; balance proximity alone can't promote. */
  def entityResolve(s: SparkSession, dir: String): DataFrame =
    scoredPairsFrom(t(s, dir, "customer")).orderBy("key_a", "key_b")

  /** the scored-pair derivation over an explicit customer-shaped frame
    * (unordered — callers sort or aggregate) */
  def scoredPairsFrom(cust: DataFrame): DataFrame = {
    candidatePairs(cust)
      .select(col("key_a"), col("key_b"),
        col("name_dist"),
        (col("seg_a") === col("seg_b")).cast(LongType).as("same_seg"),
        (abs(col("bal_a") - col("bal_b")) <= 1000.0).cast(LongType).as("bal_close"))
      .select(col("key_a"), col("key_b"), col("name_dist"), col("same_seg"),
        col("bal_close"),
        (when(col("name_dist") === 0, 60).otherwise(30)
          + col("same_seg") * 25 + col("bal_close") * 15).cast(LongType).as("score"))
  }

  /** pairs scoring at or above this are merge edges */
  val MatchThreshold = 55

  /** shared CTE: the scored-pair derivation, verbatim in both cluster
    * oracles so the Spark and DuckDB edge sets can never drift */
  private val scoredPairsCte: String =
    """scored AS (
      |  SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
      |    levenshtein(a.c_name, b.c_name)::BIGINT AS name_dist,
      |    (a.c_mktsegment = b.c_mktsegment)::BIGINT AS same_seg,
      |    (abs(a.c_acctbal - b.c_acctbal) <= 1000.0)::BIGINT AS bal_close
      |  FROM customer a JOIN customer b
      |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      |  WHERE levenshtein(a.c_name, b.c_name) <= 1),
      |pairs AS (
      |  SELECT key_a, key_b, name_dist, same_seg, bal_close,
      |    (CASE WHEN name_dist = 0 THEN 60 ELSE 30 END
      |     + same_seg * 25 + bal_close * 15)::BIGINT AS score
      |  FROM scored)""".stripMargin

  val entityResolveSql: String =
    s"""WITH $scoredPairsCte
       |SELECT * FROM pairs ORDER BY key_a, key_b""".stripMargin

  /** Fellegi-Sunter threshold-calibration instrument — the score
    * HISTOGRAM of the blocked candidate front: one row per distinct
    * score with its pair count and the evidence-pattern breakdown
    * (exact-name / same-segment / balance-close counts), plus the
    * verdict the shipped [[MatchThreshold]] assigns. THE artifact a
    * linkage deployment reads to place (or move) its threshold: the
    * match/non-match score populations and the mass a ±1-evidence
    * shift would flip. One map-side-combinable groupBy over the same
    * scored-pair front every other ER query derives — score
    * cardinality is bounded by the evidence lattice (≤ 2·2·2·2 shapes
    * here), so the result is catalog-sized whatever the corpus. */
  def entityScoreDist(s: SparkSession, dir: String): DataFrame =
    scoreHistogram(scoredPairsFrom(t(s, dir, "customer")))

  /** the threshold-calibration histogram over ANY scored front carrying
    * (score, name_dist, same_seg, bal_close) — shared by the batch
    * instrument above and the live per-micro-batch twin
    * ([[probeScoreDist]] / [[graft.streaming.Pipeline.streamEntityScoreDist]]) */
  private[graft] def scoreHistogram(scored: DataFrame): DataFrame =
    scored
      .groupBy("score")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("same_seg")).as("n_same_seg"),
        sum(col("bal_close")).as("n_bal_close"),
        sum((col("name_dist") === 0).cast(LongType)).as("n_exact_name"))
      .withColumn("is_match",
        (col("score") >= MatchThreshold).cast(LongType))
      .orderBy("score")

  val entityScoreDistSql: String =
    s"""WITH $scoredPairsCte
       |SELECT score, count(*) AS n_pairs,
       |  sum(same_seg)::BIGINT AS n_same_seg,
       |  sum(bal_close)::BIGINT AS n_bal_close,
       |  sum((name_dist = 0)::BIGINT)::BIGINT AS n_exact_name,
       |  (score >= $MatchThreshold)::BIGINT AS is_match
       |FROM pairs GROUP BY score ORDER BY score""".stripMargin

  /** Every customer labeled with its entity id = the min custkey of its
    * match-graph connected component (singletons label themselves) — the
    * canonical ER output, golden-record selection's input. Components
    * come from [[Dedup.propagateMinLabel]]'s pointer-doubling min-label
    * loop (equi-joins on scaling keys, exact for any diameter, converges
    * in O(log d) rounds); the oracle replays the same components as a
    * recursive-CTE transitive closure. */
  def entityResolveClusters(s: SparkSession, dir: String): DataFrame =
    clusterLabelsCached(s, dir, "full", identity).orderBy("c_custkey")

  /** (c_custkey, entity_id) labels over an explicit customer-shaped
    * frame, unordered */
  def clusterLabelsFrom(cust: DataFrame): DataFrame = {
    val edges = scoredPairsFrom(cust)
      .where(col("score") >= MatchThreshold)
      .select(col("key_a").as("d1"), col("key_b").as("d2"))
    val labels = Dedup.propagateMinLabel(edges)
      .select(col("doc_id").as("c_custkey"), col("cluster_id"))
    cust.select(col("c_custkey"))
      .join(labels, Seq("c_custkey"), "left")
      .select(col("c_custkey"),
        coalesce(col("cluster_id"), col("c_custkey")).as("entity_id"))
  }

  /** Labels memoized per (session, dir, population variant) — the
    * `Dedup.labelsCache` discipline applied to the ER family: the four
    * cluster-consuming declared keys (clusters / golden / golden_attrs
    * over the full population; golden_incremental over the %10<8 index
    * split) were re-running `scoredPairsFrom` + the multi-round
    * `propagateMinLabel` loop once EACH — ~4 of the suite's top-5 walls,
    * paying the same propagation four times in one session. Now each
    * population variant pays it once; the propagation rounds are already
    * checkpoint-materialized, so reuse is a cheap scan + one equi-join.
    * A rewritten customer input invalidates the entry (fingerprint), and
    * Bench clears the cache before every measured run so committed
    * numbers stay honest. At-rest users avoid even this via
    * `writeEntityIndex`/`writeGoldenTable`; this is the in-session path.
    *
    * Contract (private[graft], fixed call sites): `variant` IS the cache
    * key for the population — it must uniquely name the `pop`
    * transformation ("full" = identity, "idx8" = the %10<8 split); a
    * new population needs a new name or it silently serves another
    * population's labels. The synchronized block spans the propagation
    * build (the Dedup.labelsCache discipline — one builder per session,
    * concurrent lookups of other variants wait; acceptable because the
    * declared-query drivers are single-threaded per session). */
  private val labelsCache =
    graft.Memo[(SparkSession, String, String), graft.Memo.Checkpointed](
      graft.Memo.unpersistCheckpoint)

  private[graft] def clusterLabelsCached(s: SparkSession, dir: String,
      variant: String, pop: DataFrame => DataFrame): DataFrame =
    labelsCache.get((s, dir, variant), graft.util.inputFingerprint(dir, "customer.parquet")) {
      val cust = pop(t(s, dir, "customer"))
      val edges = scoredPairsFrom(cust)
        .where(col("score") >= MatchThreshold)
        .select(col("key_a").as("d1"), col("key_b").as("d2"))
      val (lbl, ckpt) = Dedup.propagateMinLabelTracked(edges)
      val labels = cust.select(col("c_custkey"))
        .join(lbl.select(col("doc_id").as("c_custkey"), col("cluster_id")),
          Seq("c_custkey"), "left")
        .select(col("c_custkey"),
          coalesce(col("cluster_id"), col("c_custkey")).as("entity_id"))
      (labels, ckpt)
    }._1

  def clearLabelsCache(): Unit = labelsCache.clear()

  val entityResolveClustersSql: String =
    s"""WITH RECURSIVE $scoredPairsCte,
       |e AS (SELECT key_a AS x, key_b AS y FROM pairs WHERE score >= $MatchThreshold
       |      UNION SELECT key_b, key_a FROM pairs WHERE score >= $MatchThreshold),
       |reach(a, b) AS (
       |  SELECT x, y FROM e
       |  UNION
       |  SELECT reach.a, e.y FROM reach JOIN e ON reach.b = e.x),
       |lab AS (SELECT a AS node, least(a, min(b)) AS entity_id FROM reach GROUP BY a)
       |SELECT c.c_custkey, coalesce(lab.entity_id, c.c_custkey) AS entity_id
       |FROM customer c LEFT JOIN lab ON lab.node = c.c_custkey
       |ORDER BY c.c_custkey""".stripMargin

  /** Golden-record selection — the survivorship stage that makes ER
    * useful: per entity, ONE canonical row (highest account balance,
    * ties to the lowest custkey — a deterministic total order, so the
    * oracle hash is stable) plus the member count and the exact decimal
    * balance total the merged entity carries. The pick is a row_number
    * window PARTITIONED BY entity_id — a data-scaling key with
    * component-bounded group sizes, never a global window — and the
    * group stats ride the same shuffle partitioning. */
  def entityGolden(s: SparkSession, dir: String): DataFrame = {
    val labeled = clusterLabelsCached(s, dir, "full", identity)
      .join(t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal"), Seq("c_custkey"))
    val w = Window.partitionBy("entity_id")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    val golden = labeled
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("entity_id"), col("c_custkey").as("golden_custkey"),
        col("c_name").as("golden_name"), r4(col("c_acctbal")).as("golden_bal"))
    val stats = labeled.groupBy("entity_id")
      .agg(count(lit(1)).as("n_members"),
        r4(sum(d2(col("c_acctbal")))).as("total_bal"))
    stats.join(golden, Seq("entity_id"))
      .select("entity_id", "n_members", "golden_custkey", "golden_name",
        "golden_bal", "total_bal")
      .orderBy("entity_id")
  }

  val entityGoldenSql: String =
    s"""WITH RECURSIVE $scoredPairsCte,
       |e AS (SELECT key_a AS x, key_b AS y FROM pairs WHERE score >= $MatchThreshold
       |      UNION SELECT key_b, key_a FROM pairs WHERE score >= $MatchThreshold),
       |reach(a, b) AS (
       |  SELECT x, y FROM e
       |  UNION
       |  SELECT reach.a, e.y FROM reach JOIN e ON reach.b = e.x),
       |lab AS (SELECT a AS node, least(a, min(b)) AS entity_id FROM reach GROUP BY a),
       |labeled AS (
       |  SELECT c.c_custkey, coalesce(lab.entity_id, c.c_custkey) AS entity_id,
       |    c.c_name, c.c_acctbal
       |  FROM customer c LEFT JOIN lab ON lab.node = c.c_custkey),
       |ranked AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY entity_id ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
       |  FROM labeled),
       |stats AS (
       |  SELECT entity_id, count(*) AS n_members,
       |    CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 4) AS DOUBLE) AS total_bal
       |  FROM labeled GROUP BY 1)
       |SELECT s.entity_id, s.n_members, r.c_custkey AS golden_custkey,
       |  r.c_name AS golden_name,
       |  CAST(round(r.c_acctbal, 4) AS DOUBLE) AS golden_bal, s.total_bal
       |FROM stats s JOIN ranked r ON r.entity_id = s.entity_id AND r.rn = 1
       |ORDER BY s.entity_id""".stripMargin

  /** Attribute-level survivorship — the golden record real MDM systems
    * build: instead of electing ONE member row ([[entityGolden]]), each
    * attribute survives independently by its own rule:
    *   - surv_name:    the name of the LOWEST custkey member (oldest-id
    *                    rule; custkey is unique, so min_by is
    *                    deterministic with no tie clause),
    *   - surv_bal:     the MAX account balance across members,
    *   - surv_bal_key: the member holding that balance (ties to the
    *                    lowest custkey — an explicit row_number total
    *                    order, because max_by/arg_max leave ties
    *                    unspecified in BOTH engines),
    *   - surv_segment: the MOST FREQUENT segment (ties to the
    *                    lexicographically smallest — a deterministic
    *                    mode built from groupBy count + row_number;
    *                    the builtin mode() leaves ties unspecified),
    *   - total_bal:    the exact decimal balance total.
    * All three derivations partition by entity_id — a data-scaling key
    * with component-bounded group sizes — so they ride one shuffle
    * partitioning; no global windows, no collects. */
  def entityGoldenAttrs(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val labeled = clusterLabelsCached(s, dir, "full", identity)
      .join(cust.select("c_custkey", "c_name", "c_mktsegment", "c_acctbal"),
        Seq("c_custkey"))
    val base = labeled.groupBy("entity_id").agg(
      count(lit(1)).as("n_members"),
      min_by(col("c_name"), col("c_custkey")).as("surv_name"),
      r4(max(col("c_acctbal"))).as("surv_bal"),
      r4(sum(d2(col("c_acctbal")))).as("total_bal"))
    val wBal = Window.partitionBy("entity_id")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    val balKey = labeled.withColumn("rn", row_number().over(wBal))
      .where(col("rn") === 1)
      .select(col("entity_id"), col("c_custkey").as("surv_bal_key"))
    val wSeg = Window.partitionBy("entity_id")
      .orderBy(col("cnt").desc, col("c_mktsegment").asc)
    val segMode = labeled.groupBy("entity_id", "c_mktsegment")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(wSeg))
      .where(col("rn") === 1)
      .select(col("entity_id"), col("c_mktsegment").as("surv_segment"))
    base.join(balKey, Seq("entity_id")).join(segMode, Seq("entity_id"))
      .select("entity_id", "n_members", "surv_name", "surv_bal_key",
        "surv_bal", "surv_segment", "total_bal")
      .orderBy("entity_id")
  }

  val entityGoldenAttrsSql: String =
    s"""WITH RECURSIVE $scoredPairsCte,
       |e AS (SELECT key_a AS x, key_b AS y FROM pairs WHERE score >= $MatchThreshold
       |      UNION SELECT key_b, key_a FROM pairs WHERE score >= $MatchThreshold),
       |reach(a, b) AS (
       |  SELECT x, y FROM e
       |  UNION
       |  SELECT reach.a, e.y FROM reach JOIN e ON reach.b = e.x),
       |lab AS (SELECT a AS node, least(a, min(b)) AS entity_id FROM reach GROUP BY a),
       |labeled AS (
       |  SELECT c.c_custkey, coalesce(lab.entity_id, c.c_custkey) AS entity_id,
       |    c.c_name, c.c_mktsegment, c.c_acctbal
       |  FROM customer c LEFT JOIN lab ON lab.node = c.c_custkey),
       |base AS (
       |  SELECT entity_id, count(*) AS n_members,
       |    arg_min(c_name, c_custkey) AS surv_name,
       |    CAST(round(max(c_acctbal), 4) AS DOUBLE) AS surv_bal,
       |    CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 4) AS DOUBLE) AS total_bal
       |  FROM labeled GROUP BY 1),
       |balkey AS (
       |  SELECT entity_id, c_custkey AS surv_bal_key FROM (
       |    SELECT entity_id, c_custkey, row_number() OVER (
       |      PARTITION BY entity_id ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
       |    FROM labeled) WHERE rn = 1),
       |segmode AS (
       |  SELECT entity_id, c_mktsegment AS surv_segment FROM (
       |    SELECT entity_id, c_mktsegment, row_number() OVER (
       |      PARTITION BY entity_id ORDER BY cnt DESC, c_mktsegment ASC) AS rn
       |    FROM (SELECT entity_id, c_mktsegment, count(*) AS cnt
       |          FROM labeled GROUP BY 1, 2)) WHERE rn = 1)
       |SELECT b.entity_id, b.n_members, b.surv_name, k.surv_bal_key,
       |  b.surv_bal, m.surv_segment, b.total_bal
       |FROM base b JOIN balkey k ON k.entity_id = b.entity_id
       |JOIN segmode m ON m.entity_id = b.entity_id
       |ORDER BY b.entity_id""".stripMargin

  /** Blocking-quality instrument — the three numbers a blocking scheme
    * is judged by (Christen's ER evaluation triple): REDUCTION RATIO
    * (how much of the quadratic comparison space the blocking removed —
    * the cross count is arithmetic from per-nation sizes, the quadratic
    * join never executes), VERIFY YIELD (what fraction of blocked
    * candidates survive the levenshtein verify — the wasted-work dial),
    * and PAIRS COMPLETENESS (did the blocking lose a true match). The
    * Spark side derives n_truth from the blocked-then-verified front;
    * the DuckDB twin derives it from the INDEPENDENT within-nation
    * cross join — so the driver's hash compare IS the completeness
    * proof at the verified scale, not a self-check. The one quadratic
    * piece (the oracle's cross join) lives only in DuckDB; the engine
    * side stays blocked.
    *
    * Output-schema caveat (what each column measures when the
    * instrument runs STANDALONE, e.g. on a 100 TB sample where no
    * oracle runs): `n_cross`, `n_candidates`, `n_verified`,
    * `reduction_ratio` and `verify_yield` are engine measurements;
    * `n_truth` and `pairs_completeness` are ORACLE-BACKED CLAIMS — the
    * engine aliases n_verified as n_truth and asserts completeness 1.0
    * (the SymSpell losslessness property, pinned in ResolveSpec), and
    * only the DuckDB twin's independent cross join can falsify them.
    * Standalone, the instrument structurally cannot report a blocking
    * loss; a deployment that needs an engine-side completeness
    * measurement should cross-join a small record SAMPLE independently
    * and compare, which is exactly what running this declared query
    * under the driver's oracle does. A diagnostics instrument in the
    * q_dedup_eval discipline: run it on a sample at 100 TB, not the
    * corpus. */
  def entityBlockingEval(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val cross = c.groupBy("c_nationkey").count()
      .agg(coalesce(sum(col("count") * (col("count") - 1) / 2), lit(0))
        .cast(LongType).as("n_cross"))
    val counts = rawCandidates(c).agg(
      count(lit(1)).as("n_candidates"),
      count(when(levenshtein(col("name_a"), col("name_b")) <= 1, 1)).as("n_verified"))
    cross.crossJoin(broadcast(counts))
      .select(col("n_cross"), col("n_candidates"), col("n_verified"),
        col("n_verified").as("n_truth"),
        when(col("n_verified") > 0, lit(1.0d).cast(DoubleType)).as("pairs_completeness"),
        when(col("n_cross") > 0,
          r4(lit(1.0d) - col("n_candidates").cast(DoubleType) / col("n_cross")))
          .as("reduction_ratio"),
        when(col("n_candidates") > 0,
          r4(col("n_verified").cast(DoubleType) / col("n_candidates")))
          .as("verify_yield"))
  }

  val entityBlockingEvalSql: String =
    """WITH v AS (
      |  SELECT c_custkey, c_nationkey, c_name,
      |    unnest(list_distinct(list_append(
      |      list_transform(range(1, length(c_name)+1),
      |        i -> substr(c_name, 1, i-1) || substr(c_name, i+1, length(c_name))),
      |      c_name))) AS var
      |  FROM customer),
      |cand AS (
      |  SELECT DISTINCT a.c_custkey AS key_a, b.c_custkey AS key_b,
      |    a.c_name AS name_a, b.c_name AS name_b
      |  FROM v a JOIN v b ON a.c_nationkey = b.c_nationkey AND a.var = b.var
      |  WHERE a.c_custkey < b.c_custkey),
      |cr AS (SELECT coalesce(sum(n*(n-1)/2), 0)::BIGINT AS n_cross FROM
      |  (SELECT count(*) AS n FROM customer GROUP BY c_nationkey)),
      |m AS (SELECT
      |  (SELECT n_cross FROM cr) AS n_cross,
      |  (SELECT count(*) FROM cand) AS n_candidates,
      |  (SELECT count(*) FROM cand WHERE levenshtein(name_a, name_b) <= 1) AS n_verified,
      |  (SELECT count(*) FROM customer a JOIN customer b
      |     ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      |   WHERE levenshtein(a.c_name, b.c_name) <= 1) AS n_truth)
      |SELECT n_cross, n_candidates, n_verified, n_truth,
      |  CASE WHEN n_truth > 0
      |    THEN CAST(round(n_verified::DOUBLE / n_truth, 4) AS DOUBLE) END AS pairs_completeness,
      |  CASE WHEN n_cross > 0
      |    THEN CAST(round(1.0 - n_candidates::DOUBLE / n_cross, 4) AS DOUBLE) END AS reduction_ratio,
      |  CASE WHEN n_candidates > 0
      |    THEN CAST(round(n_verified::DOUBLE / n_candidates, 4) AS DOUBLE) END AS verify_yield
      |FROM m""".stripMargin

  // ---- incremental / persisted-index serving -------------------------

  /** Best-match verdicts for a probe batch against an index population —
    * the serving half of entity resolution: a new record arrives, does
    * it match a known entity? Candidates via the same (nationkey,
    * deletion-variant) blocking as the batch pass, scored identically,
    * then ONE best match per probe (max score, ties to the lowest index
    * key — deterministic) with the match threshold applied; unmatched
    * probes survive with null verdicts (they'd mint a new entity on
    * absorb). The row_number window partitions by probe key — a
    * data-scaling key. */
  def probeMatches(index: DataFrame, probes: DataFrame): DataFrame =
    probeMatchesExploded(sided(index, "i"), probes)

  /** one exploded row per (deletion variant, record) — the join side of
    * the (nat, v) candidate equi-join, and the index's at-rest schema */
  private def sided(df: DataFrame, side: String): DataFrame =
    // rawCandidates' fan-out discipline: spread under-parallel scans
    // before the ×(len+1) explode and the (nat, v) probe above it
    fanOut(df.select(col("c_nationkey"), col("c_custkey"), col("c_name"),
        col("c_mktsegment"), col("c_acctbal")), col("c_custkey"))
      .select(col("c_nationkey").as("nat"), col("c_custkey"), col("c_name"),
      col("c_mktsegment"), col("c_acctbal"),
      explode(delNeighborhood(col("c_name"))).as("v"))
      .select(col("nat"), col("v"), col("c_custkey").as(s"key_$side"),
        col("c_name").as(s"name_$side"), col("c_mktsegment").as(s"seg_$side"),
        col("c_acctbal").as(s"bal_$side"))

  /** the scored probe-candidate front BEFORE thresholding — the frame
    * both the verdict path ([[probeMatchesExploded]]) and the live
    * threshold-drift instrument ([[probeScoreDist]]) derive from, so
    * the served verdicts and the observability histogram can never
    * disagree about what was scored */
  private def probeScoredFront(idxExploded: DataFrame, probes: DataFrame): DataFrame =
    sided(probes, "p").join(idxExploded, Seq("nat", "v"))
      .select("key_p", "key_i", "name_p", "name_i", "seg_p", "seg_i", "bal_p", "bal_i")
      .distinct()
      .withColumn("name_dist",
        levenshtein(col("name_p"), col("name_i")).cast(LongType))
      .where(col("name_dist") <= 1)
      .select(col("key_p"), col("key_i"), col("name_dist"),
        (col("seg_p") === col("seg_i")).cast(LongType).as("same_seg"),
        (abs(col("bal_p") - col("bal_i")) <= 1000.0).cast(LongType).as("bal_close"))
      .withColumn("score",
        when(col("name_dist") === 0, 60).otherwise(30)
          + col("same_seg") * 25 + col("bal_close") * 15)

  /** [[probeMatches]] over an ALREADY-exploded index side (the persisted
    * layout) — the probe batch explodes fresh, the index never does */
  def probeMatchesExploded(idxExploded: DataFrame, probes: DataFrame): DataFrame = {
    val scored = probeScoredFront(idxExploded, probes)
      .select(col("key_p"), col("key_i"), col("score"))
      .where(col("score") >= MatchThreshold)
    val w = Window.partitionBy("key_p")
      .orderBy(col("score").desc, col("key_i").asc)
    val best = scored.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("key_p"), col("key_i").as("matched_key"),
        col("score").cast(LongType).as("best_score"))
    probes.select(col("c_custkey").as("probe_key"))
      .join(best.withColumnRenamed("key_p", "probe_key"), Seq("probe_key"), "left")
  }

  /** Declared incremental form: the 80% of customers with
    * `c_custkey % 10 < 8` ARE the entity index; the other 20% arrive as
    * the probe batch — O(batch × bounded-fanout) work against the
    * at-rest population, never a rescan of it. */
  def entityResolveIncremental(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    probeMatches(c.where(col("c_custkey") % 10 < 8),
        c.where(col("c_custkey") % 10 >= 8))
      .orderBy("probe_key")
  }

  val entityResolveIncrementalSql: String =
    s"""WITH idx AS (SELECT * FROM customer WHERE c_custkey % 10 < 8),
       |pr AS (SELECT * FROM customer WHERE c_custkey % 10 >= 8),
       |scored AS (
       |  SELECT p.c_custkey AS key_p, i.c_custkey AS key_i,
       |    (CASE WHEN levenshtein(p.c_name, i.c_name) = 0 THEN 60 ELSE 30 END
       |     + (p.c_mktsegment = i.c_mktsegment)::BIGINT * 25
       |     + (abs(p.c_acctbal - i.c_acctbal) <= 1000.0)::BIGINT * 15) AS score
       |  FROM pr p JOIN idx i ON p.c_nationkey = i.c_nationkey
       |  WHERE levenshtein(p.c_name, i.c_name) <= 1),
       |best AS (
       |  SELECT key_p, key_i, score, row_number() OVER (
       |    PARTITION BY key_p ORDER BY score DESC, key_i ASC) AS rn
       |  FROM scored WHERE score >= $MatchThreshold)
       |SELECT p.c_custkey AS probe_key, b.key_i AS matched_key,
       |  b.score::BIGINT AS best_score
       |FROM pr p LEFT JOIN best b ON b.key_p = p.c_custkey AND b.rn = 1
       |ORDER BY probe_key""".stripMargin

  /** The absorb step that closes the ER serving loop: probe verdicts
    * become ENTITY ASSIGNMENTS — matched probes join their matched
    * entity, unmatched probes MINT a new entity under their own key
    * (`coalesce(matched_key, probe_key)`: the min-key discipline the
    * batch clusters use, so the id assignment is hash-stable and needs
    * no sequence generator — a driver-side counter would serialize at
    * 100 TB, a record's own key never does). The declared query then
    * RE-PROBES the same batch against the absorbed population
    * (index ∪ batch) and shows the loop closed: every probe re-matches
    * (at minimum itself, at score 100 — identical name, segment and
    * balance), so `rematched_key` is never null. The at-rest twin —
    * writeEntityIndex → probeEntityIndex → appendEntityIndex(batch) →
    * re-probe — is pinned against this relational form in ResolveSpec
    * (probe → absorb → re-probe idempotence). */
  def entityAbsorb(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val idx = c.where(col("c_custkey") % 10 < 8)
    val batch = c.where(col("c_custkey") % 10 >= 8)
    val assigned = probeMatches(idx, batch)
      .select(col("probe_key"),
        coalesce(col("matched_key"), col("probe_key")).as("entity_id"),
        col("matched_key").isNull.cast(LongType).as("minted"))
    val re = probeMatches(idx.unionByName(batch), batch)
      .select(col("probe_key"), col("matched_key").as("rematched_key"),
        col("best_score").as("rematch_score"))
    assigned.join(re, Seq("probe_key")).orderBy("probe_key")
  }

  val entityAbsorbSql: String =
    s"""WITH idx AS (SELECT * FROM customer WHERE c_custkey % 10 < 8),
       |pr AS (SELECT * FROM customer WHERE c_custkey % 10 >= 8),
       |scored1 AS (
       |  SELECT p.c_custkey AS key_p, i.c_custkey AS key_i,
       |    (CASE WHEN levenshtein(p.c_name, i.c_name) = 0 THEN 60 ELSE 30 END
       |     + (p.c_mktsegment = i.c_mktsegment)::BIGINT * 25
       |     + (abs(p.c_acctbal - i.c_acctbal) <= 1000.0)::BIGINT * 15) AS score
       |  FROM pr p JOIN idx i ON p.c_nationkey = i.c_nationkey
       |  WHERE levenshtein(p.c_name, i.c_name) <= 1),
       |best1 AS (
       |  SELECT key_p, key_i, score, row_number() OVER (
       |    PARTITION BY key_p ORDER BY score DESC, key_i ASC) AS rn
       |  FROM scored1 WHERE score >= $MatchThreshold),
       |grown AS (SELECT * FROM idx UNION ALL SELECT * FROM pr),
       |scored2 AS (
       |  SELECT p.c_custkey AS key_p, i.c_custkey AS key_i,
       |    (CASE WHEN levenshtein(p.c_name, i.c_name) = 0 THEN 60 ELSE 30 END
       |     + (p.c_mktsegment = i.c_mktsegment)::BIGINT * 25
       |     + (abs(p.c_acctbal - i.c_acctbal) <= 1000.0)::BIGINT * 15) AS score
       |  FROM pr p JOIN grown i ON p.c_nationkey = i.c_nationkey
       |  WHERE levenshtein(p.c_name, i.c_name) <= 1),
       |best2 AS (
       |  SELECT key_p, key_i, score, row_number() OVER (
       |    PARTITION BY key_p ORDER BY score DESC, key_i ASC) AS rn
       |  FROM scored2 WHERE score >= $MatchThreshold)
       |SELECT p.c_custkey AS probe_key,
       |  coalesce(b1.key_i, p.c_custkey) AS entity_id,
       |  (b1.key_i IS NULL)::BIGINT AS minted,
       |  b2.key_i AS rematched_key, b2.score::BIGINT AS rematch_score
       |FROM pr p
       |LEFT JOIN best1 b1 ON b1.key_p = p.c_custkey AND b1.rn = 1
       |LEFT JOIN best2 b2 ON b2.key_p = p.c_custkey AND b2.rn = 1
       |ORDER BY probe_key""".stripMargin

  /** Incremental golden-record maintenance — MDM's golden-table UPSERT,
    * composing the absorb loop with the MV partial-refresh discipline:
    * the stored golden table holds RE-AGGREGABLE per-entity partial
    * states over the index population (member count, min member key +
    * its name, max balance, exact decimal total — every one mergeable
    * by sum/min/min_by/max/sum), an arriving batch reduces to the same
    * partial schema under its entity ASSIGNMENTS (matched records adopt
    * their matched record's ENTITY via the index labels; unmatched mint
    * under their own key), and the refresh touches ONLY assigned
    * entities: untouched golden rows pass through an anti join with
    * ZERO recompute, touched rows merge stored+delta states through one
    * group-bounded re-aggregation. At 100 TB with the golden table
    * partitioned by entity_id the semi join IS partition pruning — a
    * batch's refresh reads the entities it touches, not the table. The
    * oracle is the FULL recompute over (index ∪ assigned batch) with
    * identical entity definitions — hash equality proves the
    * stitched upsert loses nothing, including the `updated` flag
    * (touched ≡ has a batch member). */
  /** the golden table's RE-AGGREGABLE per-entity partial states over any
    * (entity_id, c_custkey, c_name, c_acctbal)-shaped member frame —
    * every column mergeable (sum / min / min_by-on-unique-key / max /
    * decimal sum), so k state rows per entity and their fold are
    * indistinguishable to a reader: the q_mv_incremental discipline,
    * shared by the declared incremental query and the at-rest table */
  private[graft] def goldenStates(df: DataFrame): DataFrame =
    df.groupBy("entity_id").agg(
      count(lit(1)).as("n_members"),
      min(col("c_custkey")).as("min_key"),
      min_by(col("c_name"), col("c_custkey")).as("surv_name"),
      max(col("c_acctbal")).as("max_bal"),
      // pinned to ONE decimal type: sum() widens per nesting level, and a
      // state log mixing decimal(28,2) and decimal(38,2) files is
      // unreadable (parquet physical-type mismatch across appends)
      sum(d2(col("c_acctbal"))).cast(DecimalType(28, 2)).as("total_bal_d"))

  /** merge any number of partial-state rows per entity back into one —
    * min_key is unique per source row, so the min_by tie never fires;
    * total stays in the canonical decimal(28,2) state type so a merged
    * fold can land back in the same log its inputs came from */
  private[graft] def mergeGoldenStates(states: DataFrame): DataFrame =
    states.groupBy("entity_id").agg(
      sum(col("n_members")).as("n_members"),
      min_by(col("surv_name"), col("min_key")).as("surv_name"),
      min(col("min_key")).as("min_key"),
      max(col("max_bal")).as("max_bal"),
      sum(col("total_bal_d")).cast(DecimalType(28, 2)).as("total_bal_d"))

  def entityGoldenIncremental(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val idx = c.where(col("c_custkey") % 10 < 8)
    val batch = c.where(col("c_custkey") % 10 >= 8)
    // (c_custkey, entity_id) of the index — memoized per population
    val labels = clusterLabelsCached(s, dir, "idx8",
      _.where(col("c_custkey") % 10 < 8))
    // localCheckpoints (the Curate discipline): `stored` feeds the anti
    // AND semi+merge branches, `assigned` feeds the delta whose two
    // consumers (touched, merged) would otherwise re-run the whole
    // deletion-variant probe front once each — entity/batch-sized
    // narrow frames, so one pass + N reads wins at any scale
    val stored = goldenStates(labels.join(idx, Seq("c_custkey")))
      .localCheckpoint() // the golden table
    val assigned = probeMatches(idx, batch)
      .join(labels.select(col("c_custkey").as("matched_key"),
        col("entity_id").as("matched_entity")), Seq("matched_key"), "left")
      .select(col("probe_key").as("c_custkey"),
        coalesce(col("matched_entity"), col("probe_key")).as("entity_id"))
      .join(batch, Seq("c_custkey"))
      .localCheckpoint()
    val delta = goldenStates(assigned)
    val touched = delta.select("entity_id")
    val untouched = stored
      .join(broadcast(touched), Seq("entity_id"), "left_anti")
      .withColumn("updated", lit(0L))
    val merged = mergeGoldenStates(stored
        .join(broadcast(touched), Seq("entity_id"), "left_semi")
        .unionByName(delta))
      .withColumn("updated", lit(1L))
    untouched.unionByName(merged, allowMissingColumns = false)
      .select(col("entity_id"), col("n_members"), col("surv_name"),
        r4(col("max_bal")).as("surv_bal"),
        r4(col("total_bal_d")).as("total_bal"), col("updated"))
      .orderBy("entity_id")
  }

  val entityGoldenIncrementalSql: String =
    s"""WITH RECURSIVE
       |idx AS (SELECT * FROM customer WHERE c_custkey % 10 < 8),
       |pr AS (SELECT * FROM customer WHERE c_custkey % 10 >= 8),
       |scored AS (
       |  SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
       |    levenshtein(a.c_name, b.c_name)::BIGINT AS name_dist,
       |    (a.c_mktsegment = b.c_mktsegment)::BIGINT AS same_seg,
       |    (abs(a.c_acctbal - b.c_acctbal) <= 1000.0)::BIGINT AS bal_close
       |  FROM idx a JOIN idx b
       |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
       |  WHERE levenshtein(a.c_name, b.c_name) <= 1),
       |pairs AS (
       |  SELECT key_a, key_b,
       |    (CASE WHEN name_dist = 0 THEN 60 ELSE 30 END
       |     + same_seg * 25 + bal_close * 15)::BIGINT AS score
       |  FROM scored),
       |e AS (SELECT key_a AS x, key_b AS y FROM pairs WHERE score >= $MatchThreshold
       |      UNION SELECT key_b, key_a FROM pairs WHERE score >= $MatchThreshold),
       |reach(a, b) AS (
       |  SELECT x, y FROM e
       |  UNION
       |  SELECT reach.a, e.y FROM reach JOIN e ON reach.b = e.x),
       |lab AS (SELECT a AS node, least(a, min(b)) AS entity_id FROM reach GROUP BY a),
       |labeled AS (
       |  SELECT i.c_custkey, coalesce(lab.entity_id, i.c_custkey) AS entity_id,
       |    i.c_name, i.c_acctbal
       |  FROM idx i LEFT JOIN lab ON lab.node = i.c_custkey),
       |pscored AS (
       |  SELECT p.c_custkey AS key_p, i.c_custkey AS key_i,
       |    (CASE WHEN levenshtein(p.c_name, i.c_name) = 0 THEN 60 ELSE 30 END
       |     + (p.c_mktsegment = i.c_mktsegment)::BIGINT * 25
       |     + (abs(p.c_acctbal - i.c_acctbal) <= 1000.0)::BIGINT * 15) AS score
       |  FROM pr p JOIN idx i ON p.c_nationkey = i.c_nationkey
       |  WHERE levenshtein(p.c_name, i.c_name) <= 1),
       |pbest AS (
       |  SELECT key_p, key_i, row_number() OVER (
       |    PARTITION BY key_p ORDER BY score DESC, key_i ASC) AS rn
       |  FROM pscored WHERE score >= $MatchThreshold),
       |assigned AS (
       |  SELECT p.c_custkey, coalesce(l.entity_id, p.c_custkey) AS entity_id,
       |    p.c_name, p.c_acctbal
       |  FROM pr p
       |  LEFT JOIN pbest b ON b.key_p = p.c_custkey AND b.rn = 1
       |  LEFT JOIN labeled l ON l.c_custkey = b.key_i),
       |allrows AS (
       |  SELECT entity_id, c_custkey, c_name, c_acctbal, 0 AS from_batch FROM labeled
       |  UNION ALL
       |  SELECT entity_id, c_custkey, c_name, c_acctbal, 1 FROM assigned)
       |SELECT entity_id, count(*) AS n_members,
       |  arg_min(c_name, c_custkey) AS surv_name,
       |  CAST(round(max(c_acctbal), 4) AS DOUBLE) AS surv_bal,
       |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 4) AS DOUBLE) AS total_bal,
       |  max(from_batch)::BIGINT AS updated
       |FROM allrows GROUP BY entity_id ORDER BY entity_id""".stripMargin

  /** Golden-table RETRACTION — MDM record deletion, the relational twin
    * of [[deleteGoldenRecords]] and the ER face of `q_mv_retract`'s
    * split: the stored golden states cover (index ∪ absorbed batch);
    * then every member record with `c_custkey % 7 = 3` is DELETED.
    * Untouched entities (no deleted member) pass through the stored
    * states with ZERO recompute via the broadcast anti join; touched
    * entities recompute from their SURVIVING members — min_key/
    * surv_name/max_bal are not retraction-mergeable (removing the
    * current max can only be answered by history), so the rebuild
    * discipline, not a signed merge, is the correct one for this state
    * vector; entities whose every member is deleted leave the table
    * (no rebuilt row ≡ the oracle's HAVING). Entity ids are STABLE
    * under deletion (survivors keep their entity even when the deleted
    * record was the min-key id source — re-clustering is a rebuild
    * concern, the standard MDM behavior, and what makes the oracle's
    * labels well-defined). The oracle is the full recompute over
    * (index ∪ assigned batch) ∖ deletes with identical entity
    * definitions, FILTER-aggregated in DuckDB — hash equality proves
    * the passthrough/rebuild stitch loses nothing, including the
    * per-entity `retracted` flag. */
  def entityGoldenRetract(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val idx = c.where(col("c_custkey") % 10 < 8)
    val batch = c.where(col("c_custkey") % 10 >= 8)
    val labels = clusterLabelsCached(s, dir, "idx8",
      _.where(col("c_custkey") % 10 < 8))
    val assigned = probeMatches(idx, batch)
      .join(labels.select(col("c_custkey").as("matched_key"),
        col("entity_id").as("matched_entity")), Seq("matched_key"), "left")
      .select(col("probe_key").as("c_custkey"),
        coalesce(col("matched_entity"), col("probe_key")).as("entity_id"))
      .join(batch, Seq("c_custkey"))
      // localCheckpoint: `members` feeds THREE consumers (stored,
      // touched, rebuilt) — without the pin each re-runs the probe
      // front; above the checkpoint only the cheap labels⋈idx join
      // replays per consumer (labels is already materialized)
      .localCheckpoint()
    val members = labels.join(idx, Seq("c_custkey"))
      .select("entity_id", "c_custkey", "c_name", "c_acctbal")
      .unionByName(assigned.select("entity_id", "c_custkey", "c_name", "c_acctbal"))
    val stored = goldenStates(members) // the golden table before the delete
    val touched = members.where(col("c_custkey") % 7 === 3)
      .select("entity_id").distinct()
    val untouched = stored
      .join(broadcast(touched), Seq("entity_id"), "left_anti")
      .withColumn("retracted", lit(0L))
    val rebuilt = goldenStates(members
        .join(broadcast(touched), Seq("entity_id"), "left_semi")
        .where(col("c_custkey") % 7 =!= 3))
      .withColumn("retracted", lit(1L))
    untouched.unionByName(rebuilt)
      .select(col("entity_id"), col("n_members"), col("surv_name"),
        r4(col("max_bal")).as("surv_bal"),
        r4(col("total_bal_d")).as("total_bal"), col("retracted"))
      .orderBy("entity_id")
  }

  val entityGoldenRetractSql: String =
    s"""WITH RECURSIVE
       |idx AS (SELECT * FROM customer WHERE c_custkey % 10 < 8),
       |pr AS (SELECT * FROM customer WHERE c_custkey % 10 >= 8),
       |scored AS (
       |  SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
       |    levenshtein(a.c_name, b.c_name)::BIGINT AS name_dist,
       |    (a.c_mktsegment = b.c_mktsegment)::BIGINT AS same_seg,
       |    (abs(a.c_acctbal - b.c_acctbal) <= 1000.0)::BIGINT AS bal_close
       |  FROM idx a JOIN idx b
       |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
       |  WHERE levenshtein(a.c_name, b.c_name) <= 1),
       |pairs AS (
       |  SELECT key_a, key_b,
       |    (CASE WHEN name_dist = 0 THEN 60 ELSE 30 END
       |     + same_seg * 25 + bal_close * 15)::BIGINT AS score
       |  FROM scored),
       |e AS (SELECT key_a AS x, key_b AS y FROM pairs WHERE score >= $MatchThreshold
       |      UNION SELECT key_b, key_a FROM pairs WHERE score >= $MatchThreshold),
       |reach(a, b) AS (
       |  SELECT x, y FROM e
       |  UNION
       |  SELECT reach.a, e.y FROM reach JOIN e ON reach.b = e.x),
       |lab AS (SELECT a AS node, least(a, min(b)) AS entity_id FROM reach GROUP BY a),
       |labeled AS (
       |  SELECT i.c_custkey, coalesce(lab.entity_id, i.c_custkey) AS entity_id,
       |    i.c_name, i.c_acctbal
       |  FROM idx i LEFT JOIN lab ON lab.node = i.c_custkey),
       |pscored AS (
       |  SELECT p.c_custkey AS key_p, i.c_custkey AS key_i,
       |    (CASE WHEN levenshtein(p.c_name, i.c_name) = 0 THEN 60 ELSE 30 END
       |     + (p.c_mktsegment = i.c_mktsegment)::BIGINT * 25
       |     + (abs(p.c_acctbal - i.c_acctbal) <= 1000.0)::BIGINT * 15) AS score
       |  FROM pr p JOIN idx i ON p.c_nationkey = i.c_nationkey
       |  WHERE levenshtein(p.c_name, i.c_name) <= 1),
       |pbest AS (
       |  SELECT key_p, key_i, row_number() OVER (
       |    PARTITION BY key_p ORDER BY score DESC, key_i ASC) AS rn
       |  FROM pscored WHERE score >= $MatchThreshold),
       |assigned AS (
       |  SELECT p.c_custkey, coalesce(l.entity_id, p.c_custkey) AS entity_id,
       |    p.c_name, p.c_acctbal
       |  FROM pr p
       |  LEFT JOIN pbest b ON b.key_p = p.c_custkey AND b.rn = 1
       |  LEFT JOIN labeled l ON l.c_custkey = b.key_i),
       |allrows AS (
       |  SELECT entity_id, c_custkey, c_name, c_acctbal FROM labeled
       |  UNION ALL
       |  SELECT entity_id, c_custkey, c_name, c_acctbal FROM assigned)
       |SELECT entity_id,
       |  count(*) FILTER (WHERE c_custkey % 7 <> 3) AS n_members,
       |  arg_min(c_name, c_custkey) FILTER (WHERE c_custkey % 7 <> 3) AS surv_name,
       |  CAST(round(max(c_acctbal) FILTER (WHERE c_custkey % 7 <> 3), 4) AS DOUBLE) AS surv_bal,
       |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2)))
       |    FILTER (WHERE c_custkey % 7 <> 3), 4) AS DOUBLE) AS total_bal,
       |  max((c_custkey % 7 = 3)::BIGINT)::BIGINT AS retracted
       |FROM allrows GROUP BY entity_id
       |HAVING count(*) FILTER (WHERE c_custkey % 7 <> 3) > 0
       |ORDER BY entity_id""".stripMargin

  /** Golden-table generation DIFF — the MDM AUDIT artifact: which
    * entities changed between the stored golden generation (the index
    * population's) and the next one (after the batch absorbed and the
    * `c_custkey % 7 = 3` records were deleted — the same fixture
    * `q_entity_golden_retract` maintains incrementally). One row per
    * CHANGED entity, classified `added` (minted by the batch) /
    * `removed` (fully retracted) / `updated` (membership or survivor
    * values moved), carrying both generations' values — the review feed
    * a data steward reads after every CDC window, and the regression
    * gate a deployment diffs before promoting a golden snapshot.
    * Unchanged entities are filtered OUT (the audit is
    * changed-rows-sized, not table-sized); comparisons run on the
    * rounded presentation values so the classification is
    * hash-stable. One full outer join on entity_id — a data-scaling
    * key — over two group-bounded aggregations. */
  def entityGoldenDiff(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val idx = c.where(col("c_custkey") % 10 < 8)
    val batch = c.where(col("c_custkey") % 10 >= 8)
    val labels = clusterLabelsCached(s, dir, "idx8",
      _.where(col("c_custkey") % 10 < 8))
    val assigned = probeMatches(idx, batch)
      .join(labels.select(col("c_custkey").as("matched_key"),
        col("entity_id").as("matched_entity")), Seq("matched_key"), "left")
      .select(col("probe_key").as("c_custkey"),
        coalesce(col("matched_entity"), col("probe_key")).as("entity_id"))
      .join(batch, Seq("c_custkey"))
      .localCheckpoint() // the retract discipline: probe front runs once
    val oldMembers = labels.join(idx, Seq("c_custkey"))
      .select("entity_id", "c_custkey", "c_name", "c_acctbal")
    val newMembers = oldMembers
      .unionByName(assigned.select("entity_id", "c_custkey", "c_name", "c_acctbal"))
      .where(col("c_custkey") % 7 =!= 3)
    def gen(members: DataFrame, tag: String): DataFrame =
      goldenStates(members).select(col("entity_id"),
        col("n_members").as(s"${tag}_members"),
        col("surv_name").as(s"${tag}_name"),
        r4(col("max_bal")).as(s"${tag}_bal"),
        r4(col("total_bal_d")).as(s"${tag}_total"))
    gen(oldMembers, "old").join(gen(newMembers, "new"), Seq("entity_id"), "full_outer")
      .withColumn("change",
        when(col("old_members").isNull, "added")
          .when(col("new_members").isNull, "removed")
          .when(col("old_members") =!= col("new_members")
            || col("old_name") =!= col("new_name")
            || col("old_bal") =!= col("new_bal")
            || col("old_total") =!= col("new_total"), "updated")
          .otherwise("unchanged"))
      .where(col("change") =!= "unchanged")
      .select("entity_id", "change", "old_members", "new_members",
        "old_name", "new_name", "old_bal", "new_bal", "old_total", "new_total")
      .orderBy("entity_id")
  }

  val entityGoldenDiffSql: String =
    s"""WITH RECURSIVE
       |idx AS (SELECT * FROM customer WHERE c_custkey % 10 < 8),
       |pr AS (SELECT * FROM customer WHERE c_custkey % 10 >= 8),
       |scored AS (
       |  SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
       |    levenshtein(a.c_name, b.c_name)::BIGINT AS name_dist,
       |    (a.c_mktsegment = b.c_mktsegment)::BIGINT AS same_seg,
       |    (abs(a.c_acctbal - b.c_acctbal) <= 1000.0)::BIGINT AS bal_close
       |  FROM idx a JOIN idx b
       |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
       |  WHERE levenshtein(a.c_name, b.c_name) <= 1),
       |pairs AS (
       |  SELECT key_a, key_b,
       |    (CASE WHEN name_dist = 0 THEN 60 ELSE 30 END
       |     + same_seg * 25 + bal_close * 15)::BIGINT AS score
       |  FROM scored),
       |e AS (SELECT key_a AS x, key_b AS y FROM pairs WHERE score >= $MatchThreshold
       |      UNION SELECT key_b, key_a FROM pairs WHERE score >= $MatchThreshold),
       |reach(a, b) AS (
       |  SELECT x, y FROM e
       |  UNION
       |  SELECT reach.a, e.y FROM reach JOIN e ON reach.b = e.x),
       |lab AS (SELECT a AS node, least(a, min(b)) AS entity_id FROM reach GROUP BY a),
       |labeled AS (
       |  SELECT i.c_custkey, coalesce(lab.entity_id, i.c_custkey) AS entity_id,
       |    i.c_name, i.c_acctbal
       |  FROM idx i LEFT JOIN lab ON lab.node = i.c_custkey),
       |pscored AS (
       |  SELECT p.c_custkey AS key_p, i.c_custkey AS key_i,
       |    (CASE WHEN levenshtein(p.c_name, i.c_name) = 0 THEN 60 ELSE 30 END
       |     + (p.c_mktsegment = i.c_mktsegment)::BIGINT * 25
       |     + (abs(p.c_acctbal - i.c_acctbal) <= 1000.0)::BIGINT * 15) AS score
       |  FROM pr p JOIN idx i ON p.c_nationkey = i.c_nationkey
       |  WHERE levenshtein(p.c_name, i.c_name) <= 1),
       |pbest AS (
       |  SELECT key_p, key_i, row_number() OVER (
       |    PARTITION BY key_p ORDER BY score DESC, key_i ASC) AS rn
       |  FROM pscored WHERE score >= $MatchThreshold),
       |assigned AS (
       |  SELECT p.c_custkey, coalesce(l.entity_id, p.c_custkey) AS entity_id,
       |    p.c_name, p.c_acctbal
       |  FROM pr p
       |  LEFT JOIN pbest b ON b.key_p = p.c_custkey AND b.rn = 1
       |  LEFT JOIN labeled l ON l.c_custkey = b.key_i),
       |oldg AS (
       |  SELECT entity_id, count(*) AS old_members,
       |    arg_min(c_name, c_custkey) AS old_name,
       |    CAST(round(max(c_acctbal), 4) AS DOUBLE) AS old_bal,
       |    CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 4) AS DOUBLE) AS old_total
       |  FROM labeled GROUP BY 1),
       |newrows AS (
       |  SELECT entity_id, c_custkey, c_name, c_acctbal FROM labeled
       |  UNION ALL
       |  SELECT entity_id, c_custkey, c_name, c_acctbal FROM assigned),
       |newg AS (
       |  SELECT entity_id, count(*) AS new_members,
       |    arg_min(c_name, c_custkey) AS new_name,
       |    CAST(round(max(c_acctbal), 4) AS DOUBLE) AS new_bal,
       |    CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 4) AS DOUBLE) AS new_total
       |  FROM newrows WHERE c_custkey % 7 <> 3 GROUP BY 1),
       |diff AS (
       |  SELECT coalesce(o.entity_id, n.entity_id) AS entity_id,
       |    CASE WHEN o.entity_id IS NULL THEN 'added'
       |         WHEN n.entity_id IS NULL THEN 'removed'
       |         WHEN o.old_members <> n.new_members OR o.old_name <> n.new_name
       |           OR o.old_bal <> n.new_bal OR o.old_total <> n.new_total
       |         THEN 'updated' ELSE 'unchanged' END AS change,
       |    o.old_members, n.new_members, o.old_name, n.new_name,
       |    o.old_bal, n.new_bal, o.old_total, n.new_total
       |  FROM oldg o FULL OUTER JOIN newg n ON o.entity_id = n.entity_id)
       |SELECT entity_id, change, old_members, new_members, old_name, new_name,
       |  old_bal, new_bal, old_total, new_total
       |FROM diff WHERE change <> 'unchanged' ORDER BY entity_id""".stripMargin

  // ---- the entity index AT REST ---------------------------------------

  /** Persist the deletion-variant index of a customer population — the
    * at-rest structure [[probeEntityIndex]] serves and
    * [[appendEntityIndex]] grows in O(batch): one exploded row per
    * (variant, record), the join side of the probe's (nat, v) equi-join.
    * The pre-write repartition only clusters rows into O(shuffle
    * partitions) well-sized files — a plain parquet write persists no
    * partitioning/bucketing metadata, so a probe join still shuffles
    * both sides and scans the index. If read-side alignment or pruning
    * mattered at a given deployment scale, the layout to reach for is
    * `partitionBy(nat)` (probe batches prune to their nations) or a
    * bucketed table on (nat, v); behavior is identical either way
    * (probe == direct pinned in ResolveSpec). */
  def writeEntityIndex(cust: DataFrame, path: String): Unit =
    sided(cust, "i")
      .repartition(col("nat"), col("v"))
      .write.mode("overwrite").parquet(path)

  /** probe a batch against the persisted index — identical verdict frame
    * to [[probeMatches]] (pinned in ResolveSpec), O(batch) work: the
    * index side is served as-stored, never re-exploded or rescanned
    * beyond the join */
  def probeEntityIndex(s: SparkSession, probes: DataFrame, path: String): DataFrame =
    probeMatchesExploded(s.read.parquet(path), probes)

  /** absorb a batch: append its variant rows — O(batch), no rewrite */
  def appendEntityIndex(batch: DataFrame, path: String): Unit =
    sided(batch, "i").write.mode("append").parquet(path)

  /** per-batch Fellegi-Sunter score histogram of a probe batch against
    * the persisted index — the serving loop's THRESHOLD-DRIFT
    * instrument: `q_entity_score_dist` prices the threshold once over
    * the at-rest population, but the live absorb loop keeps shifting
    * the score distribution as batches land; this is the same histogram
    * over each micro-batch's scored candidate front (pre-threshold, the
    * exact frame the verdicts derive from), so drift in the
    * match/non-match populations is observable while serving. Pair
    * candidates partition by probe, so per-batch histograms SUM to the
    * all-probes histogram over a fixed index (StreamingSpec pin). */
  def probeScoreDist(s: SparkSession, probes: DataFrame, path: String): DataFrame =
    scoreHistogram(probeScoredFront(s.read.parquet(path), probes))

  /** probe verdicts folded to entity ASSIGNMENTS — the per-record output
    * of the live absorb loop ([[graft.streaming.Pipeline.streamEntityAbsorb]]):
    * matched probes adopt the matched entity, unmatched probes MINT
    * under their own key — [[entityAbsorb]]'s discipline, shared so the
    * stream and the declared batch query can never drift */
  def probeEntityAssign(s: SparkSession, batch: DataFrame, path: String): DataFrame =
    probeEntityIndex(s, batch, path)
      .select(col("probe_key"),
        coalesce(col("matched_key"), col("probe_key")).as("entity_id"),
        col("matched_key").isNull.cast(LongType).as("minted"),
        col("best_score"))

  // ---- the golden table AT REST ----------------------------------------

  /** Persist the golden table of an index population — the MDM serving
    * stack's second at-rest structure, next to the entity index:
    *
    * `members/` holds the per-record membership FACTS as a signed log
    * (the CollapsingMergeTree idiom): (c_custkey, entity_id, c_name,
    * c_acctbal, seq, sign) — sign +1 on absorb, −1 on delete; readers
    * resolve current membership by netting signs ([[currentMembers]]).
    * Attributes ride along so a delete can recompute touched entities'
    * non-retractable states from `members/` alone, without the source.
    *
    * `states/` holds the re-aggregable per-entity partial states
    * ([[goldenStates]]) as an APPEND-ONLY LOG in the `streamMvMaintain`
    * discipline, with two bookkeeping columns:
    *   - `seq`: the append's position in the table's MONOTONE sequence
    *     (the streaming loop passes its batch_id; manual callers own
    *     strictly-increasing seqs). At most one state row lands per
    *     (entity, seq, rebuild), so a REPLAYED append duplicates rows
    *     exactly and the reader's dropDuplicates restores the
    *     single-append truth — appends are replay-IDEMPOTENT, a crash
    *     between append and any marker can no longer corrupt served
    *     values.
    *   - `rebuild`: true marks a FULL per-entity state (the base write,
    *     a delete's touched-entity recompute, a compaction fold); false
    *     marks an upsert DELTA. Visibility: per entity, the latest
    *     rebuild plus every delta after it ([[visibleGoldenStates]]) —
    *     min/max/min_by states are not retraction-mergeable, so a
    *     delete SUPERSEDES an entity's history instead of trying to
    *     subtract from it.
    * Upserts never read or rewrite stored state rows — the merge happens
    * at read, exactly like the MV log — and
    * `IndexMaintenance.compactGoldenTable` folds both logs at rest. */
  def writeGoldenTable(idx: DataFrame, path: String): Unit = {
    val labels = clusterLabelsFrom(idx)
    val mem = labels
      .join(idx.select("c_custkey", "c_name", "c_acctbal"), Seq("c_custkey"))
    mem.select(col("c_custkey"), col("entity_id"), col("c_name"), col("c_acctbal"))
      .withColumn("seq", lit(-1L)).withColumn("sign", lit(1))
      .repartition(col("entity_id"))
      .write.mode("overwrite").parquet(s"$path/members")
    goldenStates(mem)
      .withColumn("seq", lit(-1L)).withColumn("rebuild", lit(true))
      .repartition(col("entity_id"))
      .write.mode("overwrite").parquet(s"$path/states")
  }

  /** resolve the signed member log to CURRENT membership: net sign > 0
    * per (record, entity, attributes); the dropDuplicates first makes a
    * replayed batch's duplicate rows count once (replay idempotency) */
  private[graft] def currentMembers(members: DataFrame): DataFrame =
    members
      .dropDuplicates("c_custkey", "entity_id", "seq", "sign")
      .groupBy("c_custkey", "entity_id", "c_name", "c_acctbal")
      .agg(sum(col("sign")).as("net"))
      .where(col("net") > 0)
      .drop("net")

  /** visibility over the state log: per entity, the LATEST rebuild row
    * plus every delta appended after it (entities with no rebuild —
    * minted by upserts — serve all their deltas); duplicate rows from a
    * replayed append collapse first */
  private[graft] def visibleGoldenStates(states: DataFrame): DataFrame = {
    val dedup = states.dropDuplicates("entity_id", "seq", "rebuild")
    val rb = dedup.where(col("rebuild"))
      .groupBy("entity_id").agg(max(col("seq")).as("rb_seq"))
    dedup.join(rb, Seq("entity_id"), "left")
      .where((col("rebuild") && col("seq") === col("rb_seq")) ||
        (!col("rebuild") && (col("rb_seq").isNull || col("seq") > col("rb_seq"))))
      .drop("rb_seq")
  }

  /** the golden table as served: resolve visibility, merge the state
    * log per entity, drop fully-retracted entities and present —
    * O(states log) in, O(entities) out */
  def readGoldenTable(s: SparkSession, path: String): DataFrame =
    mergeGoldenStates(
      visibleGoldenStates(s.read.parquet(s"$path/states"))
        .drop("seq", "rebuild"))
      .where(col("n_members") > 0)
      .select(col("entity_id"), col("n_members"), col("surv_name"),
        r4(col("max_bal")).as("surv_bal"),
        r4(col("total_bal_d")).as("total_bal"))
      .orderBy("entity_id")

  /** UPSERT a batch into the at-rest golden table — O(batch), the
    * persisted form of [[entityGoldenIncremental]]'s refresh: probe the
    * entity index for verdicts, map matched records to their ENTITY via
    * the resolved `members/` view (covers index records AND previously
    * absorbed batches, minus deleted ones), mint unmatched under their
    * own key, then append the batch's delta states to the log and its
    * own signed (+1) member facts. No stored golden row is read,
    * re-aggregated or rewritten at upsert time — the merge happens at
    * read, exactly like the MV log. `seq` must be strictly greater than
    * every seq already in the table (the streaming loop passes its
    * monotone batch_id); a replayed append with the same seq duplicates
    * rows exactly and the readers dedup them — idempotent.
    *
    * ABSORB-ONCE: a batch record whose key is ALREADY a current member
    * is dropped before the appends — re-upserting an absorbed record
    * (an at-least-once source, or a CDC update arriving as a bare
    * re-insert) would otherwise append a second delta for the same
    * physical record, double-counting n_members/total_bal and leaving a
    * net-+2 member fact a single delete can't fully retract. The
    * supported UPDATE shape is therefore delete-then-reinsert
    * (ResolveSpec's delete → re-absorb sequence, or one
    * [[graft.streaming.Pipeline.streamGoldenApply]] batch, which
    * applies deletes first). Callers absorb the batch into the entity
    * index ([[appendEntityIndex]]) alongside, the same probe → absorb
    * step the streaming loop runs; probe precedes absorb, so a batch
    * never matches itself. */
  def upsertGoldenTable(s: SparkSession, batch: DataFrame,
      entityIndexPath: String, path: String, seq: Long): Unit = {
    val members = currentMembers(s.read.parquet(s"$path/members"))
    val fresh = batch.join(
      members.select("c_custkey").distinct(), Seq("c_custkey"), "left_anti")
    val assigned = probeEntityIndex(s, fresh, entityIndexPath)
      .join(members.select(col("c_custkey").as("matched_key"),
        col("entity_id").as("matched_entity")).distinct(), Seq("matched_key"), "left")
      .select(col("probe_key").as("c_custkey"),
        coalesce(col("matched_entity"), col("probe_key")).as("entity_id"))
      .join(fresh, Seq("c_custkey"))
      .localCheckpoint() // materialized once: feeds both appends below
    goldenStates(assigned)
      .withColumn("seq", lit(seq)).withColumn("rebuild", lit(false))
      .write.mode("append").parquet(s"$path/states")
    assigned
      .select(col("c_custkey"), col("entity_id"), col("c_name"), col("c_acctbal"))
      .withColumn("seq", lit(seq)).withColumn("sign", lit(1))
      .write.mode("append").parquet(s"$path/members")
  }

  /** DELETE records from the at-rest golden table — MDM record deletion
    * (the GDPR/correction path), O(deleted records × their components),
    * never a table rewrite: the two measure classes follow
    * `q_mv_retract`'s split. Retraction-mergeable states COULD subtract
    * by a signed merge, but min_key/surv_name/max_bal cannot (removing
    * the current max can only be answered by history) — so every
    * TOUCHED entity gets one REBUILD row recomputed from its surviving
    * `members/` facts (which carry the attributes for exactly this),
    * superseding its prior log history via the visibility rule; an
    * entity whose last member is deleted gets a zero-member tombstone
    * and leaves the served table. Untouched entities: zero reads, zero
    * writes. The deleted member facts append as sign −1 rows, so future
    * upserts stop routing matches through them. `seq` follows the same
    * monotone contract as the upsert; replays dedup at read. The entity
    * INDEX still carries the deleted records' blocking variants —
    * callers that must stop future probes from matching the deleted
    * records run `IndexMaintenance.deleteFromEntityIndex` alongside
    * (a probe that does match a deleted record before that runs finds
    * no current member mapping and mints — degraded, never corrupt).
    * Entity ids are STABLE under deletion: survivors keep their entity
    * even if the deleted record was the id's source (min-key) — the
    * standard MDM discipline; re-clustering is a rebuild concern. */
  def deleteGoldenRecords(s: SparkSession, delKeys: DataFrame,
      path: String, seq: Long): Unit = {
    val mem = currentMembers(s.read.parquet(s"$path/members"))
    val keys = delKeys.select("c_custkey")
    val victims = mem.join(keys, Seq("c_custkey"), "left_semi")
      .localCheckpoint() // pinned BEFORE the appends below touch members/
    val touched = victims.select("entity_id").distinct()
    val remaining = mem
      .join(broadcast(touched), Seq("entity_id"), "left_semi")
      .join(keys, Seq("c_custkey"), "left_anti")
      .localCheckpoint()
    val rebuilt = goldenStates(remaining)
    val tombstones = touched
      .join(rebuilt.select("entity_id"), Seq("entity_id"), "left_anti")
      .select(col("entity_id"),
        lit(0L).as("n_members"),
        lit(Long.MaxValue).as("min_key"),
        lit(null).cast(StringType).as("surv_name"),
        lit(null).cast(DoubleType).as("max_bal"),
        lit(null).cast(DecimalType(28, 2)).as("total_bal_d"))
    rebuilt.unionByName(tombstones)
      .withColumn("seq", lit(seq)).withColumn("rebuild", lit(true))
      .write.mode("append").parquet(s"$path/states")
    victims
      .select(col("c_custkey"), col("entity_id"), col("c_name"), col("c_acctbal"))
      .withColumn("seq", lit(seq)).withColumn("sign", lit(-1))
      .write.mode("append").parquet(s"$path/members")
  }

  val queries: Map[String, Q] = Map(
    "q_join_fuzzy" -> joinFuzzy _,
    "q_join_fuzzy2" -> joinFuzzy2 _,
    "q_join_fuzzy_tokens" -> joinFuzzyTokens _,
    "q_entity_resolve" -> entityResolve _,
    "q_entity_score_dist" -> entityScoreDist _,
    "q_entity_resolve_clusters" -> entityResolveClusters _,
    "q_entity_golden" -> entityGolden _,
    "q_entity_golden_attrs" -> entityGoldenAttrs _,
    "q_entity_golden_incremental" -> entityGoldenIncremental _,
    "q_entity_golden_retract" -> entityGoldenRetract _,
    "q_entity_golden_diff" -> entityGoldenDiff _,
    "q_entity_resolve_incremental" -> entityResolveIncremental _,
    "q_entity_absorb" -> entityAbsorb _,
    "q_entity_blocking_eval" -> entityBlockingEval _)

  val oracle: Map[String, String] = Map(
    "q_join_fuzzy" -> joinFuzzySql,
    "q_join_fuzzy2" -> joinFuzzy2Sql,
    "q_join_fuzzy_tokens" -> joinFuzzyTokensSql,
    "q_entity_resolve" -> entityResolveSql,
    "q_entity_score_dist" -> entityScoreDistSql,
    "q_entity_resolve_clusters" -> entityResolveClustersSql,
    "q_entity_golden" -> entityGoldenSql,
    "q_entity_golden_attrs" -> entityGoldenAttrsSql,
    "q_entity_golden_incremental" -> entityGoldenIncrementalSql,
    "q_entity_golden_retract" -> entityGoldenRetractSql,
    "q_entity_golden_diff" -> entityGoldenDiffSql,
    "q_entity_resolve_incremental" -> entityResolveIncrementalSql,
    "q_entity_absorb" -> entityAbsorbSql,
    "q_entity_blocking_eval" -> entityBlockingEvalSql)
}
