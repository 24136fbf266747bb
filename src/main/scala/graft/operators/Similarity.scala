package graft.operators

import graft.util._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** North-star similarity search over the `embeddings` table (SURVEY.md §2
  * B.11 `q_sim_cosine` + ANN extensions).
  *
  * Scale design:
  *   - brute-force cosine is the BASELINE: probe set broadcast, one pass
  *     over the big side, TakeOrderedAndProject top-k — linear scan, no
  *     shuffle of the embedding column;
  *   - the scale path is sign-LSH (random hyperplanes): an 8-bit bucket id
  *     computed per row from deterministic xxhash64-derived ±1 planes turns
  *     ANN into an equi-join on bucket — candidates ≈ N/256 per probe;
  *   - embedding near-dup = the same exact-cosine check LSH candidates
  *     would feed, run over a bounded probe sample (vec_id % 100 = 0);
  *   - all dot products via higher-order functions (zip_with + aggregate),
  *     CAST to DOUBLE per element → deterministic, codegen-friendly, and
  *     thresholds applied on ROUNDED cosine so the cut is reproducible
  *     cross-engine.
  */
object Similarity {

  /** cosine(e1, e2): native codegen'd Catalyst expression (see
    * functions.CosineSimilarity) — same math as the zip_with+aggregate
    * higher-order form, minus the per-element interpreted lambda calls */
  private def cosine(s: SparkSession, a: String, b: String): Column = {
    graft.functions.VectorExpressions.register(s)
    graft.functions.VectorExpressions.cosineSim(col(a), col(b))
  }

  /** DuckDB twin of cosine via correlated element sums (positional,
    * double-precision, matches Spark bit-for-bit after round(…,4)) */
  private def cosineOracle(probeSel: String, pairFilter: String): String =
    s"""WITH p AS ($probeSel),
       |terms AS (
       |  SELECT p.pid, e.vec_id,
       |    sum(e.embedding[i]::DOUBLE * p.pe[i]::DOUBLE) AS dot,
       |    sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE) AS n2,
       |    sum(p.pe[i]::DOUBLE * p.pe[i]::DOUBLE) AS np2
       |  FROM embeddings e, p, generate_series(1, 64) g(i)
       |  WHERE $pairFilter
       |  GROUP BY 1, 2)""".stripMargin

  // ---- brute-force top-k ----------------------------------------------
  // NOTE (r22): a fanOut of the corpus side (here and in simEvalPq's flat
  // ADC scan) was tried and REVERTED — tools.Profile shows the whole sim
  // family is driver/planning-bound at sf0.1 (q_sim_eval: 32 jobs, no
  // stage over 150 ms, embeddings scan 0.1 MB), so the spread had nothing
  // to parallelize and the exchange only added stages (same-subset A/B:
  // q_sim_cosine 0.16 → 0.19, q_sim_eval_pq 1.49 → 1.63, family net
  // 4.42 → 4.48 s). At cluster scale the scan splits wide on its own.
  def simCosine(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val probe = e.where(col("vec_id") === 0)
      .select(col("embedding").as("pe"))
    e.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), r4(cosine(s, "embedding", "pe")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(10)
  }

  val simCosineSql =
    cosineOracle("SELECT vec_id AS pid, embedding AS pe FROM embeddings WHERE vec_id = 0",
      "e.vec_id <> 0") +
    """
      |SELECT vec_id, CAST(round(dot / (sqrt(n2) * sqrt(np2)), 4) AS DOUBLE) AS cos
      |FROM terms ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin

  // ---- embedding cosine near-dup (probe-sampled exact scan) -----------
  /** fixed-size probe set: the broadcast side must NOT grow with the
    * table, so probes are the ProbeCap vectors with the smallest
    * (md5(vec_id), vec_id) — a deterministic hash-sample selected by
    * top-k (TakeOrderedAndProject: no full sort, no shuffle of the
    * embedding column), bounded at any N. At production scale this form
    * is the exact-check stage fed by LSH candidates; the probe sample
    * here exercises that exact check end-to-end. */
  val ProbeCap = 100

  def dedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val probes = e
      .orderBy(md5(col("vec_id").cast(StringType)), col("vec_id"))
      .limit(ProbeCap)
      .select(col("vec_id").as("d1"), col("embedding").as("e1"))
    e.select(col("vec_id").as("d2"), col("embedding").as("e2"))
      .join(broadcast(probes), col("d1") < col("d2"))
      .select(col("d1"), col("d2"), r4(cosine(s, "e1", "e2")).as("cos"))
      .where(col("cos") >= 0.8)
      .orderBy("d1", "d2")
  }

  val dedupEmbeddingSql =
    cosineOracle(
      s"""SELECT vec_id AS pid, embedding AS pe FROM embeddings
         |     ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $ProbeCap""".stripMargin,
      "p.pid < e.vec_id") +
    """
      |SELECT pid AS d1, vec_id AS d2, cos FROM (
      |  SELECT pid, vec_id, CAST(round(dot / (sqrt(n2) * sqrt(np2)), 4) AS DOUBLE) AS cos
      |  FROM terms) x
      |WHERE cos >= 0.8 ORDER BY d1, d2""".stripMargin

  // ---- sign-LSH ANN ---------------------------------------------------
  val LshPlanes = 8

  /** 8-bit random-hyperplane bucket id; plane components are deterministic
    * ±1 from xxhash64(plane, dim) — no stored model, recomputable anywhere.
    * Native codegen'd expression (functions.SignLshBucket): the earlier
    * nested-HOF formulation paid planes×dims (512) boxed lambda
    * invocations per row — the same interpreted-hot-loop anti-pattern the
    * MinHash/SimHash signatures eliminated. Bucket ids are bit-identical
    * to the HOF form (same xxhash64(j, d) plane family). */
  def lshBucket(s: SparkSession, embCol: String): Column = {
    graft.functions.VectorExpressions.register(s)
    graft.functions.VectorExpressions.signLshBucket(col(embCol), LshPlanes)
  }

  /** ANN top-10 for probe vec_id=0: exact cosine restricted to the probe's
    * LSH bucket (the N/256 candidate set) — deterministic, verified against
    * brute force in tests; no DuckDB oracle (approximate result set) */
  def simAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").withColumn("bucket", lshBucket(s, "embedding"))
    val probe = e.where(col("vec_id") === 0)
      .select(col("bucket"), col("embedding").as("pe"))
    e.where(col("vec_id") =!= 0)
      .join(broadcast(probe), Seq("bucket"))
      .select(col("vec_id"), r4(cosine(s, "embedding", "pe")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(10)
  }

  // ---- IVF ANN --------------------------------------------------------
  val IvfK = 16
  val IvfProbes = 4
  val IvfIters = 1

  /** deterministic iteration-0 codebook: the IvfK vectors with the
    * smallest (md5(vec_id), vec_id) — the k-means seeding step, a
    * hash-sample with the trained codebook's shape (broadcast-small,
    * fixed size at any N) that DuckDB can reproduce exactly */
  private def ivfCodebook(e: DataFrame, k: Int = IvfK): DataFrame =
    e.orderBy(md5(col("vec_id").cast(StringType)), col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))

  /** one Lloyd update: assign every vector to its nearest centroid (the
    * same map-side IvfAssign projection the search path uses), then move
    * each centroid to the per-dimension mean of its members. Member
    * coordinates are quantized to 4-dp integers first, so the sums are
    * exact integer arithmetic — identical in any partition/summation
    * order and replayable in the DuckDB oracle — at the cost of moving
    * each coordinate by ≤ 5e-5 (irrelevant to a coarse quantizer). The
    * mean narrows back to FLOAT (IEEE round-to-nearest in both engines).
    * Empty clusters keep their previous centroid. Scale shape: the only
    * exchange is the (cid, dim) groupBy, whose map-side partial combine
    * bounds the shuffle at partitions × K × dims rows regardless of N —
    * the classic distributed-k-means iteration cost. */
  private def lloydStep(s: SparkSession, e: DataFrame, book: DataFrame): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val bookArr = book.agg(collect_list(struct(col("cid"), col("ce"))).as("cents"))
    val assigned = e.crossJoin(broadcast(bookArr))
      .select(
        graft.functions.VectorExpressions.ivfAssign(col("embedding"), col("cents")).as("cid"),
        col("embedding"))
    val quantized = assigned
      .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("cid"), col("pos"),
        floor(col("v").cast(DoubleType) * 10000d + 0.5d).cast(LongType).as("q"))
    val means = quantized.groupBy("cid", "pos")
      .agg((sum(col("q")).cast(DoubleType) / count(lit(1)).cast(DoubleType) / 10000d)
        .cast(FloatType).as("m"))
    val updated = means.groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("ce1"))
    book.join(broadcast(updated), Seq("cid"), "left")
      .select(col("cid"), coalesce(col("ce1"), col("ce")).as("ce"))
  }

  /** md5 seed + IvfIters Lloyd updates — a real (small) k-means fit
    * expressed as DataFrame passes, no driver-side loops over data. The
    * K-row result is persisted: both consumers (assignment broadcast and
    * probe-list ranking) would otherwise re-run the training passes.
    * Memoized per (session, dir, input fingerprint): simAnnIvf and
    * embedClusterStats share one trained, cached codebook instead of each
    * persisting a fresh copy per invocation. The fingerprint (file names
    * + sizes + mtimes of the embeddings input) invalidates the entry when
    * the data under `dir` is rewritten mid-session — the replaced frame
    * is unpersisted, so stale MEMORY_ONLY blocks don't pin the executor
    * heap for the JVM lifetime. */
  private val codebookCache =
    graft.Memo[(SparkSession, String), DataFrame](graft.Memo.unpersist)

  /** driver-side listing of the embeddings input — see util.inputFingerprint */
  private def inputFingerprint(dir: String): String =
    graft.util.inputFingerprint(dir, "embeddings.parquet")

  /** md5 seed + [[IvfIters]] Lloyd updates over an arbitrary embedding
    * frame — the uncached training core shared by the full-corpus
    * memoized book and the corpus-split semantic index */
  private[graft] def trainCodebook(s: SparkSession, e: DataFrame,
      k: Int = IvfK): DataFrame =
    (1 to IvfIters).foldLeft(ivfCodebook(e, k))((b, _) => lloydStep(s, e, b))

  private def trainedCodebook(s: SparkSession, dir: String): DataFrame =
    codebookCache.get((s, dir), inputFingerprint(dir)) {
      trainCodebook(s, t(s, dir, "embeddings"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    }

  /** unpersist and drop every cached codebook (test/teardown hook) */
  def clearCodebookCache(): Unit = codebookCache.clear()

  /** CTE chain deriving the trained codebook in DuckDB: `cents0` is the
    * md5 sample; each iteration replays assignment (floor-rounded cosine
    * argmax, cid tie-break) and the quantized-integer centroid means —
    * row-identical to lloydStep. The final CTE is named `cents`. */
  private def lloydCentsSql(src: String = "embeddings"): String = {
    val sb = new StringBuilder(
      s"""cents0 AS (
         |  SELECT vec_id AS cid, embedding AS ce FROM $src
         |  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $IvfK)""".stripMargin)
    for (it <- 1 to IvfIters) {
      val prev = s"cents${it - 1}"
      val cur = if (it == IvfIters) "cents" else s"cents$it"
      sb.append(
        s""",
           |tac$it AS (
           |  SELECT e.vec_id, c.cid,
           |    floor(sum(e.embedding[i]::DOUBLE * c.ce[i]::DOUBLE)
           |      / (sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
           |         * sqrt(sum(c.ce[i]::DOUBLE * c.ce[i]::DOUBLE)))
           |      * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS ac
           |  FROM $src e, $prev c, generate_series(1, 64) g(i)
           |  GROUP BY e.vec_id, c.cid),
           |tassigned$it AS (
           |  SELECT vec_id, cid FROM (
           |    SELECT vec_id, cid,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY ac DESC, cid ASC) AS rn
           |    FROM tac$it) x
           |  WHERE rn = 1),
           |tqsum$it AS (
           |  SELECT a.cid, i AS pos,
           |    sum(floor(e.embedding[i]::DOUBLE * 10000::DOUBLE + 0.5::DOUBLE)::BIGINT)::BIGINT AS s,
           |    count(*)::BIGINT AS cnt
           |  FROM $src e JOIN tassigned$it a USING (vec_id), generate_series(1, 64) g(i)
           |  GROUP BY 1, 2),
           |$cur AS (
           |  SELECT c0.cid, coalesce(u.ce1, c0.ce) AS ce
           |  FROM $prev c0 LEFT JOIN (
           |    SELECT cid, list((s::DOUBLE / cnt::DOUBLE / 10000::DOUBLE)::REAL ORDER BY pos) AS ce1
           |    FROM tqsum$it GROUP BY cid) u USING (cid))""".stripMargin)
    }
    sb.toString
  }

  /** IVF ANN top-10 for probe vec_id=0 — the second scale path next to
    * sign-LSH. Codebook: md5 seed + IvfIters Lloyd updates (see
    * lloydStep). Coarse quantization: every vector maps to its nearest
    * codebook centroid via the native IvfAssign expression over a one-row
    * broadcast codebook column — a map-side projection (zero shuffles on
    * the search path, no K× row blowup). Search: the probe's IvfProbes
    * nearest lists are scanned with the exact codegen'd cosine and
    * re-ranked. Candidates ≈ N·(IvfProbes/IvfK). Fully deterministic
    * (quantized-integer centroid means, rounded-cosine argmax, cid
    * tie-break) → hard DuckDB oracle, unlike the recall-spec'd LSH. */
  /** the IVF probe-pruned candidate set (vec_id, embedding) — the
    * pre-re-rank frame shared by [[simAnnIvf]] and [[simEval]] */
  private def ivfCandidates(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val e = t(s, dir, "embeddings")
    val book = trainedCodebook(s, dir)
    val bookArr = book.agg(collect_list(struct(col("cid"), col("ce"))).as("cents"))
    val assigned = e.crossJoin(broadcast(bookArr))
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorExpressions.ivfAssign(col("embedding"), col("cents")).as("cid"))
    val probe = e.where(col("vec_id") === 0).select(col("embedding").as("pe"))
    val probeLists = book.crossJoin(broadcast(probe))
      .select(col("cid"), r4f(cosine(s, "ce", "pe")).as("ac"))
      .orderBy(col("ac").desc, col("cid").asc)
      .limit(IvfProbes)
      .select("cid")
    assigned.where(col("vec_id") =!= 0)
      .join(broadcast(probeLists), Seq("cid"))
      .select(col("vec_id"), col("embedding"))
  }

  def simAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val probe = e.where(col("vec_id") === 0).select(col("embedding").as("pe"))
    ivfCandidates(s, dir)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), r4(cosine(s, "embedding", "pe")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(10)
  }

  /** the full IVF pipeline replayed in SQL: same codebook seed + Lloyd
    * updates, same floor-rounded-cosine argmax assignment, same probe
    * lists, same exact re-rank — row-identical to the Spark plan */
  val simAnnIvfSql: String = {
    val r4fSql = (x: String) =>
      s"floor(($x) * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE"
    val cosSql =
      """sum(e.embedding[i]::DOUBLE * c.ce[i]::DOUBLE)
        |      / (sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
        |         * sqrt(sum(c.ce[i]::DOUBLE * c.ce[i]::DOUBLE)))""".stripMargin
    s"""WITH ${lloydCentsSql()},
       |ac AS (
       |  SELECT e.vec_id, c.cid, ${r4fSql(cosSql)} AS ac
       |  FROM embeddings e, cents c, generate_series(1, 64) g(i)
       |  GROUP BY e.vec_id, c.cid),
       |assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY ac DESC, cid ASC) AS rn
       |    FROM ac) x
       |  WHERE rn = 1),
       |plists AS (SELECT cid FROM ac WHERE vec_id = 0 ORDER BY ac DESC, cid ASC LIMIT $IvfProbes),
       |cand AS (SELECT a.vec_id FROM assigned a JOIN plists p USING (cid) WHERE a.vec_id <> 0),
       |p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0),
       |terms AS (
       |  SELECT e.vec_id,
       |    sum(e.embedding[i]::DOUBLE * p.pe[i]::DOUBLE) AS dot,
       |    sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE) AS n2,
       |    sum(p.pe[i]::DOUBLE * p.pe[i]::DOUBLE) AS np2
       |  FROM embeddings e JOIN cand USING (vec_id), p, generate_series(1, 64) g(i)
       |  GROUP BY 1)
       |SELECT vec_id, CAST(round(dot / (sqrt(n2) * sqrt(np2)), 4) AS DOUBLE) AS cos
       |FROM terms ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin
  }

  // ---- ANN rollout evaluation -----------------------------------------
  /** Recall@10 + scan efficiency of the probe-limited IVF search against
    * the exact cosine top-10 — the similarity-family twin of
    * `q_dedup_eval`, and the two numbers that justify an ANN rollout:
    * recall says how much of the true neighborhood the probe budget
    * reaches, scan_frac says what fraction of the corpus the search
    * actually touched (the speedup's origin — at `IvfProbes`/`IvfK`
    * cells, ≈ probes/K of the data). Both sides replay exactly in the
    * DuckDB oracle (the IVF chain is the `q_sim_ann_ivf` oracle, the
    * truth the `q_sim_cosine` one), so the metrics are hash-pinned. The
    * two 10-row top-k frames are `localCheckpoint`ed because each feeds
    * two consumers (its own count + the intersection) and their input
    * pipelines — Lloyd training, full-corpus cosine — are the expensive
    * path; the report is 1-row aggregates broadcast-crossed. */
  def simEval(s: SparkSession, dir: String): DataFrame = {
    val ex10 = simCosine(s, dir).select("vec_id").localCheckpoint()
    val ivf10 = simAnnIvf(s, dir).select("vec_id").localCheckpoint()
    val nCand = ivfCandidates(s, dir).agg(count(lit(1)).as("n_candidates"))
    val nTotal = t(s, dir, "embeddings").where(col("vec_id") =!= 0)
      .agg(count(lit(1)).as("n_total"))
    val hits = ivf10.join(ex10, Seq("vec_id"))
    ex10.agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(ivf10.agg(count(lit(1)).as("n_ivf"))))
      .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hits"))))
      .crossJoin(broadcast(nCand))
      .crossJoin(broadcast(nTotal))
      .select(col("n_exact"), col("n_ivf"), col("n_hits"),
        when(col("n_exact") > 0,
          r4(col("n_hits").cast(DoubleType) / col("n_exact"))).as("recall"),
        col("n_candidates"),
        when(col("n_total") > 0,
          r4(col("n_candidates").cast(DoubleType) / col("n_total"))).as("scan_frac"))
  }

  val simEvalSql: String = {
    val r4fSql = (x: String) =>
      s"floor(($x) * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE"
    val cosSql =
      """sum(e.embedding[i]::DOUBLE * c.ce[i]::DOUBLE)
        |      / (sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
        |         * sqrt(sum(c.ce[i]::DOUBLE * c.ce[i]::DOUBLE)))""".stripMargin
    s"""WITH ${lloydCentsSql()},
       |ac AS (
       |  SELECT e.vec_id, c.cid, ${r4fSql(cosSql)} AS ac
       |  FROM embeddings e, cents c, generate_series(1, 64) g(i)
       |  GROUP BY e.vec_id, c.cid),
       |assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY ac DESC, cid ASC) AS rn
       |    FROM ac) x
       |  WHERE rn = 1),
       |plists AS (SELECT cid FROM ac WHERE vec_id = 0 ORDER BY ac DESC, cid ASC LIMIT $IvfProbes),
       |cand AS (SELECT a.vec_id FROM assigned a JOIN plists p USING (cid) WHERE a.vec_id <> 0),
       |p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0),
       |ivft AS (
       |  SELECT e.vec_id,
       |    sum(e.embedding[i]::DOUBLE * p.pe[i]::DOUBLE) AS dot,
       |    sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE) AS n2,
       |    sum(p.pe[i]::DOUBLE * p.pe[i]::DOUBLE) AS np2
       |  FROM embeddings e JOIN cand USING (vec_id), p, generate_series(1, 64) g(i)
       |  GROUP BY 1),
       |ivf10 AS (SELECT vec_id FROM ivft
       |  ORDER BY CAST(round(dot / (sqrt(n2) * sqrt(np2)), 4) AS DOUBLE) DESC, vec_id ASC
       |  LIMIT 10),
       |ext AS (
       |  SELECT e.vec_id,
       |    sum(e.embedding[i]::DOUBLE * p.pe[i]::DOUBLE) AS dot,
       |    sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE) AS n2,
       |    sum(p.pe[i]::DOUBLE * p.pe[i]::DOUBLE) AS np2
       |  FROM embeddings e, p, generate_series(1, 64) g(i)
       |  WHERE e.vec_id <> 0
       |  GROUP BY 1),
       |ex10 AS (SELECT vec_id FROM ext
       |  ORDER BY CAST(round(dot / (sqrt(n2) * sqrt(np2)), 4) AS DOUBLE) DESC, vec_id ASC
       |  LIMIT 10),
       |m AS (SELECT
       |  (SELECT count(*) FROM ex10) AS n_exact,
       |  (SELECT count(*) FROM ivf10) AS n_ivf,
       |  (SELECT count(*) FROM ivf10 JOIN ex10 USING (vec_id)) AS n_hits,
       |  (SELECT count(*) FROM cand) AS n_candidates,
       |  (SELECT count(*) FROM embeddings WHERE vec_id <> 0) AS n_total)
       |SELECT n_exact::BIGINT AS n_exact, n_ivf::BIGINT AS n_ivf,
       |  n_hits::BIGINT AS n_hits,
       |  CASE WHEN n_exact > 0
       |    THEN CAST(round(n_hits::DOUBLE / n_exact, 4) AS DOUBLE) END AS recall,
       |  n_candidates::BIGINT AS n_candidates,
       |  CASE WHEN n_total > 0
       |    THEN CAST(round(n_candidates::DOUBLE / n_total, 4) AS DOUBLE) END AS scan_frac
       |FROM m""".stripMargin
  }

  /** per-cluster curation stats over the trained IVF assignment: list
    * size and cohesion (mean cosine of members to their centroid) — the
    * numbers a pretraining-data pipeline reads to find junk clusters and
    * skewed lists. Assignment is the same map-side IvfAssign projection
    * against the Lloyd-trained codebook; the per-member centroid cosine
    * comes from a broadcast join against the 16-row codebook — beyond
    * the two bounded training aggregations, the only shuffle is the
    * final groupBy(cid). */
  def embedClusterStats(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val e = t(s, dir, "embeddings")
    val book = trainedCodebook(s, dir)
    val bookArr = book.agg(collect_list(struct(col("cid"), col("ce"))).as("cents"))
    e.crossJoin(broadcast(bookArr))
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorExpressions.ivfAssign(col("embedding"), col("cents")).as("cid"))
      .join(broadcast(book), Seq("cid"))
      .select(col("cid"), r4f(cosine(s, "embedding", "ce")).as("ac"))
      .groupBy("cid")
      // ac is r4f-rounded, so the d4 decimal sum is exact — a plain double
      // sum would depend on partition order at a real cluster's scale
      .agg(count(lit(1)).as("n_members"),
        r4f(sum(d4(col("ac"))).cast(DoubleType) / count(lit(1))).as("cohesion"))
      .orderBy("cid")
  }

  val embedClusterStatsSql: String =
    s"""WITH ${lloydCentsSql()},
       |ac AS (
       |  SELECT e.vec_id, c.cid,
       |    floor(sum(e.embedding[i]::DOUBLE * c.ce[i]::DOUBLE)
       |      / (sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
       |         * sqrt(sum(c.ce[i]::DOUBLE * c.ce[i]::DOUBLE)))
       |      * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS ac
       |  FROM embeddings e, cents c, generate_series(1, 64) g(i)
       |  GROUP BY e.vec_id, c.cid),
       |assigned AS (
       |  SELECT vec_id, cid, ac FROM (
       |    SELECT vec_id, cid, ac,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY ac DESC, cid ASC) AS rn
       |    FROM ac) x
       |  WHERE rn = 1)
       |SELECT cid, count(*) AS n_members,
       |  floor(CAST(sum(ac::DECIMAL(18,4)) AS DOUBLE) / count(*) * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS cohesion
       |FROM assigned GROUP BY cid ORDER BY cid""".stripMargin

  /** outlier cut in z units: a vector whose best-centroid cosine sits
    * ≥ this many σ below its cluster's mean is flagged. Sized to the
    * corpus like [[SemDedupTau]]: real corpora use 2-3σ, but the
    * synthetic embeddings are near-i.i.d. Gaussian (min observed z at
    * sf0.01 is -1.49 — no true outliers exist), so 1.25 exercises both
    * verdicts; a deployment retunes this ONE constant. */
  val OutlierZ = 1.25

  /** Embedding-space outlier detection — the corpus-hygiene twin of
    * [[embedClusterStats]]: corrupt or off-distribution vectors (bad
    * decode, wrong modality, garbage text) show up as points far from
    * EVERY centroid, i.e. a best-centroid cosine well below their own
    * cluster's norm. Flags every vector whose assignment cosine is
    * ≥ [[OutlierZ]] σ below its cluster mean — the per-cluster z-score
    * form, so dense and sparse clusters each get their own scale.
    *
    * Scale shape: same map-side `IvfAssign` + broadcast codebook as the
    * whole IVF family; the per-cluster moments are ONE map-side-combined
    * groupBy to K rows, broadcast back — no window, no second pass over
    * vectors. Moments sum the r4f-rounded cosines as exact decimals (ac
    * is 4-dp, ac² is 8-dp), so mean/σ are partition-order-independent
    * and bit-identical cross-engine; z is then pure IEEE double
    * arithmetic on identical inputs. */
  def embedOutliers(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val e = t(s, dir, "embeddings")
    val book = trainedCodebook(s, dir)
    val bookArr = book.agg(collect_list(struct(col("cid"), col("ce"))).as("cents"))
    val assigned = e.crossJoin(broadcast(bookArr))
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorExpressions.ivfAssign(col("embedding"), col("cents")).as("cid"))
      .join(broadcast(book), Seq("cid"))
      .select(col("vec_id"), col("cid"), r4f(cosine(s, "embedding", "ce")).as("ac"))
    val stats = assigned.groupBy("cid")
      .agg(count(lit(1)).as("n"),
        sum(d4(col("ac"))).cast(DoubleType).as("sac"),
        sum(d4(col("ac")) * d4(col("ac"))).cast(DoubleType).as("sac2"))
      .select(col("cid"), (col("sac") / col("n")).as("mu"),
        sqrt((col("sac2") - col("sac") * col("sac") / col("n")) / col("n")).as("sigma"))
    assigned.join(broadcast(stats.where(col("sigma") > 0)), Seq("cid"))
      .select(col("vec_id"), col("cid"), col("ac"),
        r4f((col("ac") - col("mu")) / col("sigma")).as("z"))
      .where(col("z") <= -OutlierZ)
      .orderBy("z", "vec_id")
  }

  val embedOutliersSql: String =
    s"""WITH ${lloydCentsSql()},
       |ac AS (
       |  SELECT e.vec_id, c.cid,
       |    floor(sum(e.embedding[i]::DOUBLE * c.ce[i]::DOUBLE)
       |      / (sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
       |         * sqrt(sum(c.ce[i]::DOUBLE * c.ce[i]::DOUBLE)))
       |      * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS ac
       |  FROM embeddings e, cents c, generate_series(1, 64) g(i)
       |  GROUP BY e.vec_id, c.cid),
       |assigned AS (
       |  SELECT vec_id, cid, ac FROM (
       |    SELECT vec_id, cid, ac,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY ac DESC, cid ASC) AS rn
       |    FROM ac) x
       |  WHERE rn = 1),
       |moments AS (
       |  SELECT cid, count(*) AS n,
       |    CAST(sum(ac::DECIMAL(18,4)) AS DOUBLE) AS sac,
       |    CAST(sum(ac::DECIMAL(18,4) * ac::DECIMAL(18,4)) AS DOUBLE) AS sac2
       |  FROM assigned GROUP BY 1),
       |st AS (SELECT cid, sac / n AS mu,
       |    sqrt((sac2 - sac * sac / n) / n) AS sigma FROM moments),
       |zs AS (
       |  SELECT a.vec_id, a.cid, a.ac,
       |    floor((a.ac - mu) / sigma * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS z
       |  FROM assigned a JOIN st USING (cid) WHERE sigma > 0)
       |SELECT vec_id, cid, ac, z FROM zs WHERE z <= -$OutlierZ
       |ORDER BY z, vec_id""".stripMargin

  // ---- Johnson-Lindenstrauss random projection ------------------------
  /** JL random projection 64 → [[JlDims]] dims with a DETERMINISTIC
    * ±1/√k sign matrix (Achlioptas 2003's database-friendly variant:
    * entries ±1 scaled by 1/√k preserve pairwise distances in
    * expectation, no Gaussians needed) — the standard cost reducer run
    * BEFORE LSH bucketing or k-means when the full dimension is too
    * expensive: distances survive within (1±ε), downstream cosine work
    * drops 4×. The matrix entry sign comes from md5(i"_"j), so both
    * engines (and any two cluster runs) derive bit-identical matrices
    * with no stored state and no RNG — the projection IS reproducible
    * lineage, the property a training-data pipeline needs to re-derive
    * features years later.
    *
    * Shape at scale: the 16-row matrix broadcasts; the scan is one
    * map-side zip_with/aggregate per (vector, output-dim) — no shuffle
    * until the final per-vector collect_list (k rows per vector,
    * map-side combined). */
  val JlDims = 16

  def embedProject(s: SparkSession, dir: String): DataFrame = {
    val matrix = s.range(JlDims).toDF("j")
      .select(col("j").cast(IntegerType).as("j"),
        expr("transform(sequence(0, 63), i -> CASE WHEN cast(conv(substr(md5(concat(cast(i AS STRING), '_', cast(j AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2 = 0 THEN 1.0D ELSE -1.0D END)").as("sgn"))
    // long (vec_id, j, v) output — the driver's hash comparator needs
    // flat columns; a consumer pivots to arrays with the collect_list +
    // sort_array idiom when feeding LSH/k-means
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(matrix))
      .select(col("vec_id"), col("j"),
        r4f(expr("aggregate(zip_with(embedding, sgn, (x, g) -> cast(x AS DOUBLE) * g), 0D, (a, v) -> a + v)")
          / math.sqrt(JlDims.toDouble)).as("v"))
      .orderBy("vec_id", "j")
  }

  val embedProjectSql: String =
    s"""WITH m AS (
       |  SELECT j.j, i.i,
       |    CASE WHEN ('0x' || substr(md5(i.i::VARCHAR || '_' || j.j::VARCHAR), 1, 8))::BIGINT % 2 = 0
       |      THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END AS sgn
       |  FROM generate_series(0, ${JlDims - 1}) j(j)
       |  CROSS JOIN generate_series(0, 63) i(i))
       |SELECT e.vec_id, m.j,
       |  floor(sum(e.embedding[m.i + 1]::DOUBLE * m.sgn) / sqrt(${JlDims}::DOUBLE)
       |    * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS v
       |FROM embeddings e CROSS JOIN m
       |GROUP BY e.vec_id, m.j
       |ORDER BY e.vec_id, m.j""".stripMargin

  // ---- label-taxonomy health: centroid confusion matrix ---------------
  /** Per-label embedding centroids + the pairwise centroid-cosine
    * CONFUSION MATRIX — the label-taxonomy health check run before
    * training a classifier on a labeled corpus: two labels whose
    * centroids sit at high cosine are candidates for merging (or for
    * annotation-guideline drift), and the matrix is the evidence a
    * data-quality review reads alongside [[knnClassify]]'s per-vector
    * disagreements. Output: one row per unordered label pair (a < b)
    * with both labels' vector counts and the centroid cosine.
    *
    * Determinism across engines (the float-mean trap): a plain avg of
    * float components is partition-order-dependent, so components are
    * first rounded to 4 dp (exact per element, both engines identical)
    * and summed as DECIMAL(18,4) — exact, order-independent — then the
    * mean and the final cosine round through the shared r4f contract.
    *
    * Shape at scale: one posexplode to (label, dim, component) rows —
    * the only shuffle, map-side combined on the bounded (labels × 64)
    * key — then everything downstream (centroid pivot, L-row self-join)
    * is constant-sized. */
  def labelCentroids(s: SparkSession, dir: String): DataFrame = {
    val comp = t(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"),
        sum(d4(r4f(col("v").cast(DoubleType)))).cast(DoubleType).as("sv"))
      .select(col("label"), col("dim"), col("n"), r4f(col("sv") / col("n")).as("mu"))
    val cents = comp.groupBy("label")
      .agg(max(col("n")).as("n"),
        expr("transform(sort_array(collect_list(struct(dim, mu))), x -> x.mu)").as("ce"))
    val a = cents.select(col("label").as("label_a"), col("n").as("n_a"), col("ce").as("ca"))
    val b = cents.select(col("label").as("label_b"), col("n").as("n_b"), col("ce").as("cb"))
    a.join(b, col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        r4f(expr("aggregate(zip_with(ca, cb, (x, y) -> x * y), 0D, (s, t) -> s + t)")
          / (sqrt(expr("aggregate(ca, 0D, (s, x) -> s + x * x)"))
            * sqrt(expr("aggregate(cb, 0D, (s, x) -> s + x * x)")))).as("cos"))
      .orderBy("label_a", "label_b")
  }

  val labelCentroidsSql: String =
    """WITH comp AS (
      |  SELECT e.label, g.i - 1 AS dim, count(*) AS n,
      |    CAST(sum(CAST(floor(e.embedding[g.i]::DOUBLE * 10000::DOUBLE + 0.5::DOUBLE)
      |      / 10000::DOUBLE AS DECIMAL(18,4))) AS DOUBLE) AS sv
      |  FROM embeddings e, generate_series(1, 64) g(i)
      |  GROUP BY 1, 2),
      |mu AS (
      |  SELECT label, dim, n,
      |    floor(sv / n * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS mu
      |  FROM comp),
      |cents AS (
      |  SELECT label, max(n) AS n, list(mu ORDER BY dim) AS ce
      |  FROM mu GROUP BY label),
      |pairs AS (
      |  SELECT a.label AS label_a, b.label AS label_b, a.n AS n_a, b.n AS n_b,
      |    a.ce AS ca, b.ce AS cb
      |  FROM cents a JOIN cents b ON a.label < b.label),
      |terms AS (
      |  SELECT label_a, label_b, n_a, n_b,
      |    sum(ca[i] * cb[i]) AS dot,
      |    sum(ca[i] * ca[i]) AS na2, sum(cb[i] * cb[i]) AS nb2
      |  FROM pairs, generate_series(1, 64) g(i)
      |  GROUP BY 1, 2, 3, 4)
      |SELECT label_a, label_b, n_a, n_b,
      |  floor(dot / (sqrt(na2) * sqrt(nb2)) * 10000::DOUBLE + 0.5::DOUBLE)
      |    / 10000::DOUBLE AS cos
      |FROM terms ORDER BY label_a, label_b""".stripMargin

  // ---- semantic dedup (SemDeDup) --------------------------------------
  /** cosine threshold above which a vector counts as a semantic duplicate
    * of an earlier same-cluster vector. Sized to the corpus like
    * `CommonSpanDf`: the synthetic embeddings are near-i.i.d. (max
    * pairwise cosine ≈ 0.51 at sf0.01), so a production τ of 0.9+ would
    * label nothing; 0.45 exercises both verdicts. The τ is a named
    * constant precisely so a real deployment retunes ONE number. */
  val SemDedupTau = 0.45

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup as
    * cluster-then-compare — every vector is assigned to its trained-IVF
    * cluster with the map-side `IvfAssign` projection, and duplicate
    * candidates are compared ONLY within a cluster. Output: one verdict
    * row per vector that has at least one prior (smaller vec_id)
    * same-cluster member — its nearest such prior neighbor, their exact
    * rounded cosine, and the keep/drop verdict at `SemDedupTau` (keeper =
    * min vec_id, consistent with the whole dedup family).
    *
    * Scale shape: the all-pairs O(N²) comparison becomes O(N²/K) via the
    * cluster equi-join — the paper's trick, and the same candidates-by-
    * equi-join discipline as the MinHash/SimHash families (never
    * all-pairs). The only shuffles are the cid equi-join and the final
    * vec_id groupBy (map-side-combined: max of a 2-field struct). At
    * 100 TB, K must grow with N (the paper uses ~11k clusters for LAION;
    * K ≈ N / target-list-size) so per-cluster quadratic work stays
    * bounded — K is a training-time constant, the plan shape is
    * unchanged. A pathologically hot cluster is a data-quality signal
    * (see `q_embed_cluster_stats`) and splits under AQE skew-join
    * handling since Spark 3.2. */
  def dedupSemantic(s: SparkSession, dir: String): DataFrame =
    semanticVerdicts(s, t(s, dir, "embeddings"), trainedCodebook(s, dir))

  /** the plan core behind [[dedupSemantic]], parameterized on the
    * embeddings frame and trained codebook so the K-scaling evidence
    * tool (`tools/SemanticKScale`) can run the IDENTICAL shape with K
    * grown alongside N — the declared query always passes the memoized
    * [[IvfK]]-book, so oracles are untouched */
  private[graft] def semanticVerdicts(s: SparkSession, e: DataFrame,
      book: DataFrame): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val bookArr = book.agg(collect_list(struct(col("cid"), col("ce"))).as("cents"))
    val assigned = e.crossJoin(broadcast(bookArr))
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorExpressions.ivfAssign(col("embedding"), col("cents")).as("cid"))
    val prior = assigned.select(col("cid"), col("vec_id").as("d1"), col("embedding").as("e1"))
    val later = assigned.select(col("cid"), col("vec_id").as("d2"), col("embedding").as("e2"))
    // within-cluster candidate pairs; (cos DESC, d1 ASC) argmax per later
    // vector via max(struct): negated d1 makes the struct max pick the
    // smallest prior id among rounded-cosine ties — deterministic
    prior.join(later, Seq("cid")).where(col("d1") < col("d2"))
      .select(col("d2").as("vec_id"), col("d1"),
        r4(cosine(s, "e1", "e2")).as("cos"))
      .groupBy("vec_id")
      .agg(max(struct(col("cos"), (-col("d1")).as("nd"))).as("best"))
      .select(col("vec_id"), (-col("best.nd")).as("dup_of"), col("best.cos").as("cos"),
        when(col("best.cos") >= SemDedupTau, 1).otherwise(0).as("is_dup"))
      .orderBy("vec_id")
  }

  /** the shared CTE chain: trained codebook → rounded-argmax assignment →
    * within-cluster pairwise cosine → per-vector (cos DESC, d1 ASC) pick —
    * `best` is consumed by both the verdict query and the apply query */
  private val semanticBestCte: String =
    s"""${lloydCentsSql()},
       |ac AS (
       |  SELECT e.vec_id, c.cid,
       |    floor(sum(e.embedding[i]::DOUBLE * c.ce[i]::DOUBLE)
       |      / (sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
       |         * sqrt(sum(c.ce[i]::DOUBLE * c.ce[i]::DOUBLE)))
       |      * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS ac
       |  FROM embeddings e, cents c, generate_series(1, 64) g(i)
       |  GROUP BY e.vec_id, c.cid),
       |assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY ac DESC, cid ASC) AS rn
       |    FROM ac) x
       |  WHERE rn = 1),
       |pt AS (
       |  SELECT a2.vec_id AS vec_id, a1.vec_id AS d1,
       |    sum(e1.embedding[i]::DOUBLE * e2.embedding[i]::DOUBLE) AS dot,
       |    sum(e1.embedding[i]::DOUBLE * e1.embedding[i]::DOUBLE) AS n1,
       |    sum(e2.embedding[i]::DOUBLE * e2.embedding[i]::DOUBLE) AS n2
       |  FROM assigned a1 JOIN assigned a2 ON a1.cid = a2.cid AND a1.vec_id < a2.vec_id
       |    JOIN embeddings e1 ON e1.vec_id = a1.vec_id
       |    JOIN embeddings e2 ON e2.vec_id = a2.vec_id,
       |    generate_series(1, 64) g(i)
       |  GROUP BY 1, 2),
       |pc AS (
       |  SELECT vec_id, d1, CAST(round(dot / (sqrt(n1) * sqrt(n2)), 4) AS DOUBLE) AS cos
       |  FROM pt),
       |best AS (
       |  SELECT vec_id, d1, cos,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, d1 ASC) AS rn
       |  FROM pc)""".stripMargin

  /** exact replay: same trained codebook, same rounded-argmax assignment,
    * same within-cluster pairwise cosine, same (cos DESC, d1 ASC) pick */
  val dedupSemanticSql: String =
    s"""WITH $semanticBestCte
       |SELECT vec_id, d1 AS dup_of, cos,
       |  CASE WHEN cos >= $SemDedupTau::DOUBLE THEN 1 ELSE 0 END AS is_dup
       |FROM best WHERE rn = 1 ORDER BY vec_id""".stripMargin

  /** the last mile of semantic dedup, mirroring `q_dedup_apply`: drop every
    * document whose embedding is a semantic duplicate of an earlier
    * same-cluster one, emit the surviving corpus. Documents without an
    * embedding survive trivially (at sf0.1 only a subset of docs carries a
    * vector — real corpora embed lazily too). Anti-join on doc_id, the same
    * scaling key as the whole dedup family; the dropped side is the bounded
    * verdict frame filtered to drops. */
  def dedupSemanticApply(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val dropped = dedupSemantic(s, dir)
      .where(col("is_dup") === 1)
      .select(col("vec_id").as("doc_id"))
    docs.join(dropped, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  val dedupSemanticApplySql: String =
    s"""WITH $semanticBestCte,
       |dropped AS (
       |  SELECT vec_id FROM best
       |  WHERE rn = 1 AND cos >= $SemDedupTau::DOUBLE)
       |SELECT d.doc_id, d.lang, d.source, d.n_chars
       |FROM documents d
       |WHERE d.doc_id NOT IN (SELECT vec_id FROM dropped)
       |ORDER BY d.doc_id""".stripMargin

  // ---- persisted IVF index (the layout IS the index) -------------------
  /** Writes the trained IVF index as an at-rest parquet layout:
    * `codebook/` (K rows) plus `lists/` PARTITIONED BY cid. The layout
    * is the index: an ANN query scans only its probed list directories
    * (static partition pruning, asserted in IvfIndexSpec), i.e. a
    * probes/K fraction of the corpus — no index service, build once
    * after ingest, query from any Spark job. `repartition(cid)` gives
    * one writer task per list: no small-file explosion at any corpus
    * size. */
  def writeIvfIndex(s: SparkSession, dir: String, indexPath: String): Unit = {
    graft.functions.VectorExpressions.register(s)
    val e = t(s, dir, "embeddings")
    val book = trainedCodebook(s, dir)
    book.coalesce(1).write.mode("overwrite").parquet(s"$indexPath/codebook")
    val bookArr = book.agg(collect_list(struct(col("cid"), col("ce"))).as("cents"))
    e.crossJoin(broadcast(bookArr))
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorExpressions.ivfAssign(col("embedding"), col("cents")).as("cid"))
      .repartition(col("cid"))
      .write.partitionBy("cid").mode("overwrite").parquet(s"$indexPath/lists")
  }

  /** Incremental index maintenance — append a batch of new vectors to a
    * persisted IVF index WITHOUT retraining: the stored codebook stays
    * the single source of truth (so old and new vectors share one
    * geometry and existing probe plans stay valid), the batch is
    * assigned map-side against its broadcast copy, and each assigned
    * row APPENDS into its cid list directory. Centroids drift from the
    * true k-means of the grown corpus — the standard IVF trade
    * (FAISS's add-after-train); rebuild with [[writeIvfIndex]] when
    * recall decays.
    *
    * Scale shape: the batch (not the index) is the unit of work — one
    * map-side assign + one partitioned append, never a read of existing
    * lists; append mode cannot touch sibling cid directories. `newVecs`
    * must have columns (vec_id: bigint, embedding: array<float>). */
  def appendIvfIndex(s: SparkSession, indexPath: String, newVecs: DataFrame): Unit = {
    graft.functions.VectorExpressions.register(s)
    val book = s.read.parquet(s"$indexPath/codebook")
    val bookArr = book.agg(collect_list(struct(col("cid"), col("ce"))).as("cents"))
    newVecs.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(bookArr))
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorExpressions.ivfAssign(col("embedding"), col("cents")).as("cid"))
      .repartition(col("cid"))
      .write.partitionBy("cid").mode("append").parquet(s"$indexPath/lists")
  }

  /** ANN top-k against a PERSISTED index. The probe's nearest
    * [[IvfProbes]] lists are ranked on the K-row codebook and collected
    * — that collect is O(K) index METADATA (probe planning), not data,
    * and it is what makes the list scan a LITERAL `isin` partition
    * filter: static pruning that works at any scale (dynamic partition
    * pruning would need a join and doesn't fire on KB-scale local
    * inputs). The pruned lists are then exact-cosine re-ranked. */
  def annQueryIndex(s: SparkSession, indexPath: String, pe: Seq[Float],
      excludeVecId: Long = -1L, k: Int = 10): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    import s.implicits._
    val probe = Seq(Tuple1(pe)).toDF("pe")
    val cids = s.read.parquet(s"$indexPath/codebook")
      .crossJoin(broadcast(probe))
      .select(col("cid"), r4f(cosine(s, "ce", "pe")).as("ac"))
      .orderBy(col("ac").desc, col("cid").asc)
      .limit(IvfProbes)
      .collect().map(_.getLong(0))
    s.read.parquet(s"$indexPath/lists")
      .where(col("cid").isin(cids: _*) && col("vec_id") =!= excludeVecId)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), r4(cosine(s, "embedding", "pe")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Batch-probe form of [[annQueryIndex]] — the serving shape for a
    * whole query batch: rank each probe's [[IvfProbes]] lists on the
    * broadcast K-row codebook via the bounded KnnTopK aggregate, then
    * ONE equi-join of (pid, cid) pairs against the persisted lists and
    * an exact re-rank, again through KnnTopK. Unlike [[annQueryIndex]]
    * there is no O(probes) driver collect for probe PLANNING — but the
    * probe-side joins are plain equi-joins, so for a broadcast-size
    * batch Catalyst ships them to the lists scan (and can prune list
    * partitions), while a batch past the broadcast threshold degrades
    * to a shuffled hash join on (cid)/(pid) rather than failing —
    * don't force `broadcast()` here, size-tier selection is exactly
    * what the planner + AQE own. Candidates ≈ |batch|·N·(probes/K).
    * `probes` must have columns (pid: bigint, pe: array<float>). */
  def annQueryIndexBatch(s: SparkSession, indexPath: String,
      probes: DataFrame, k: Int = 10): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val book = s.read.parquet(s"$indexPath/codebook")
    val probeLists = probes.crossJoin(broadcast(book))
      .select(col("pid"), col("cid"), r4f(cosine(s, "ce", "pe")).as("ac"))
      .groupBy("pid")
      .agg(graft.functions.KnnTopK.knnTopk(col("ac"), col("cid"), IvfProbes).as("hits"))
      .select(col("pid"), explode(col("hits")).as("h"))
      .select(col("pid"), col("h.vec_id").as("cid"))
    s.read.parquet(s"$indexPath/lists")
      .join(probeLists, "cid")
      .join(probes, "pid")
      .where(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id"), r4(cosine(s, "embedding", "pe")).as("cos"))
      .groupBy("pid")
      .agg(graft.functions.KnnTopK.knnTopk(col("cos"), col("vec_id"), k).as("hits"))
      .select(col("pid"), posexplode(col("hits")).as(Seq("pos", "h")))
      .select(col("pid"), (col("pos") + 1).cast(LongType).as("rank"),
        col("h.vec_id").as("vec_id"), col("h.cos").as("cos"))
      .orderBy("pid", "rank")
  }

  // ---- incremental + streaming semantic dedup over a persisted index ---
  /** the deterministic corpus/batch split the incremental contract uses —
    * same convention as `Dedup.IncrementalMod/Rem` on the text side */
  val SemIncMod = 10
  val SemIncRem = 7

  /** Persist the CORPUS split's semantic index: an IVF index (codebook +
    * cid-partitioned lists) trained on, and containing, only the corpus
    * vectors (vec_id % [[SemIncMod]] ≠ [[SemIncRem]]). Arriving batches
    * probe it — work scales with the batch, the corpus is never
    * re-compared against itself (the embedding-side twin of
    * `Dedup.writeGramIndex`). */
  def writeSemanticIndex(s: SparkSession, dir: String, indexPath: String): Unit = {
    graft.functions.VectorExpressions.register(s)
    val corpus = t(s, dir, "embeddings")
      .where(col("vec_id") % SemIncMod =!= SemIncRem)
    // persist around the two consuming jobs: without it the full Lloyd
    // training lineage re-executes for the lists write
    val book = trainCodebook(s, corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    try {
      book.coalesce(1).write.mode("overwrite").parquet(s"$indexPath/codebook")
      val bookArr = book.agg(collect_list(struct(col("cid"), col("ce"))).as("cents"))
      corpus.crossJoin(broadcast(bookArr))
        .select(col("vec_id"), col("embedding"),
          graft.functions.VectorExpressions.ivfAssign(col("embedding"), col("cents")).as("cid"))
        .repartition(col("cid"))
        .write.partitionBy("cid").mode("overwrite").parquet(s"$indexPath/lists")
    } finally book.unpersist(blocking = false)
  }

  /** index path memoized per (session, dir, input fingerprint) — same
    * staleness contract as the text gram index */
  private val semIndexCache =
    graft.Memo[(SparkSession, String), String](graft.util.deleteRecursively)

  def ensureSemanticIndex(s: SparkSession, dir: String): String =
    semIndexCache.get((s, dir), inputFingerprint(dir)) {
      graft.Memo.tempDir("graft_sem_idx")(writeSemanticIndex(s, dir, _))
    }

  def clearSemanticIndexCache(): Unit = semIndexCache.clear()

  /** Probe a persisted semantic index with ARBITRARY vectors (vec_id,
    * embedding) — the reusable core: the declared incremental query feeds
    * it the deterministic split, `Pipeline.streamSemanticDedup` feeds it
    * each micro-batch. Each probe vector is coarse-assigned with the
    * index's own codebook (map-side) and compared against ONLY its cell's
    * corpus members via the cid equi-join — the SemDeDup candidate
    * discipline against an at-rest corpus. Output mirrors
    * [[dedupSemantic]]: nearest corpus neighbor + verdict at
    * [[SemDedupTau]], for probe vectors whose cell is non-empty. */
  def probeSemanticIndex(s: SparkSession, vecs: DataFrame,
      indexPath: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val book = s.read.parquet(s"$indexPath/codebook")
    val bookArr = book.agg(collect_list(struct(col("cid"), col("ce"))).as("cents"))
    val assigned = vecs.crossJoin(broadcast(bookArr))
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorExpressions.ivfAssign(col("embedding"), col("cents")).as("cid"))
    // explicit schema: an EMPTY corpus writes no list files (partitionBy
    // of zero rows), which would fail schema inference — and a serving
    // path should pin the contract it expects regardless
    val listsSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("cid", LongType)))
    val lists = s.read.schema(listsSchema).parquet(s"$indexPath/lists")
      .select(col("cid"), col("vec_id").as("d1"), col("embedding").as("e1"))
    assigned.join(lists, Seq("cid"))
      .select(col("vec_id"), col("d1"), r4(cosine(s, "e1", "embedding")).as("cos"))
      .groupBy("vec_id")
      .agg(max(struct(col("cos"), (-col("d1")).as("nd"))).as("best"))
      .select(col("vec_id"), (-col("best.nd")).as("dup_of"), col("best.cos").as("cos"),
        when(col("best.cos") >= SemDedupTau, 1).otherwise(0).as("is_dup"))
  }

  /** Add-after-build maintenance for the SEMANTIC index — the layout is
    * identical to the ANN IVF index (K-row `codebook/` + cid-partitioned
    * `lists/`), so [[appendIvfIndex]]'s assignment-append applies as-is:
    * new embeddings map-side assign against the trained codebook and
    * append into exactly their own cell partitions — no retrain, no
    * sibling rewrites. With this (and the text-side gram/band appends)
    * every dedup index family has add-after-build maintenance. */
  def appendSemanticIndex(s: SparkSession, indexPath: String,
      newVecs: DataFrame): Unit =
    appendIvfIndex(s, indexPath, newVecs)

  /** INCREMENTAL semantic dedup — the declared batch form: the new-batch
    * vectors (vec_id % [[SemIncMod]] = [[SemIncRem]]) probe the persisted
    * corpus index; memoized per input fingerprint like the text side. */
  // Sorted here, not in the probe, so the streaming foreachBatch path
  // doesn't pay a per-micro-batch sort no consumer reads (same split as
  // the text-side incremental queries).
  def dedupSemanticIncremental(s: SparkSession, dir: String): DataFrame = {
    val batch = t(s, dir, "embeddings")
      .where(col("vec_id") % SemIncMod === SemIncRem)
      .select(col("vec_id"), col("embedding"))
    probeSemanticIndex(s, batch, ensureSemanticIndex(s, dir))
      .orderBy("vec_id")
  }

  /** exact replay: codebook trained on the CORPUS split, both splits
    * rounded-argmax assigned, batch×corpus pairwise cosine within cells,
    * (cos DESC, corpus id ASC) pick, τ verdict */
  val dedupSemanticIncrementalSql: String =
    s"""WITH corpus AS (SELECT * FROM embeddings WHERE vec_id % $SemIncMod <> $SemIncRem),
       |newbatch AS (SELECT * FROM embeddings WHERE vec_id % $SemIncMod = $SemIncRem),
       |${lloydCentsSql("corpus")},
       |cac AS (
       |  SELECT e.vec_id, c.cid,
       |    floor(sum(e.embedding[i]::DOUBLE * c.ce[i]::DOUBLE)
       |      / (sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
       |         * sqrt(sum(c.ce[i]::DOUBLE * c.ce[i]::DOUBLE)))
       |      * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS ac
       |  FROM corpus e, cents c, generate_series(1, 64) g(i)
       |  GROUP BY e.vec_id, c.cid),
       |cassigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY ac DESC, cid ASC) AS rn
       |    FROM cac) x
       |  WHERE rn = 1),
       |bac AS (
       |  SELECT e.vec_id, c.cid,
       |    floor(sum(e.embedding[i]::DOUBLE * c.ce[i]::DOUBLE)
       |      / (sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
       |         * sqrt(sum(c.ce[i]::DOUBLE * c.ce[i]::DOUBLE)))
       |      * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS ac
       |  FROM newbatch e, cents c, generate_series(1, 64) g(i)
       |  GROUP BY e.vec_id, c.cid),
       |bassigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY ac DESC, cid ASC) AS rn
       |    FROM bac) x
       |  WHERE rn = 1),
       |ipt AS (
       |  SELECT b.vec_id AS vec_id, c.vec_id AS d1,
       |    sum(ec.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE) AS dot,
       |    sum(ec.embedding[i]::DOUBLE * ec.embedding[i]::DOUBLE) AS n1,
       |    sum(eb.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE) AS n2
       |  FROM bassigned b JOIN cassigned c ON b.cid = c.cid
       |    JOIN embeddings ec ON ec.vec_id = c.vec_id
       |    JOIN embeddings eb ON eb.vec_id = b.vec_id,
       |    generate_series(1, 64) g(i)
       |  GROUP BY 1, 2),
       |ipc AS (
       |  SELECT vec_id, d1, CAST(round(dot / (sqrt(n1) * sqrt(n2)), 4) AS DOUBLE) AS cos
       |  FROM ipt),
       |ibest AS (
       |  SELECT vec_id, d1, cos,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, d1 ASC) AS rn
       |  FROM ipc)
       |SELECT vec_id, d1 AS dup_of, cos,
       |  CASE WHEN cos >= $SemDedupTau::DOUBLE THEN 1 ELSE 0 END AS is_dup
       |FROM ibest WHERE rn = 1 ORDER BY vec_id""".stripMargin

  // ---- IVF+PQ ANN (IVFADC on the fly) ----------------------------------
  /** Fourth ANN family member and the composition of the other two
    * quantizers: IVF routes the probe to its [[IvfProbes]] nearest cells,
    * PQ's ADC tables score ONLY those cells' members (4 table lookups per
    * candidate — no full-corpus HOF pass like [[simAnnPq]]), and the
    * top-[[PqRerank]] approximate hits are exact-cosine re-ranked. This is
    * FAISS's IVFADC search loop as one declarative plan: every phase is a
    * broadcast of bounded training state (K-row codebook, M·K ADC tables,
    * 1-row probe) against a map-side scan — the only non-broadcast join is
    * the probed-cell restriction, an equi-join on cid. Deterministic
    * (same trained codebook + md5-sampled PQ cents as the persisted
    * index) — pinned to EXACT parity with [[ivfPqQueryIndex]] over a
    * written index in IvfPqIndexSpec; approximate vs brute force, so no
    * DuckDB oracle (recall contract instead, like LSH/PQ). */
  def simAnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val e = t(s, dir, "embeddings")
    val probe = e.where(col("vec_id") === 0).select(col("embedding").as("pe"))
    // PQ training + ADC tables (the simAnnPq pass, unchanged arithmetic);
    // route: candidates = members of the probed cells only (ivfCandidates),
    // then ADC scores on candidates, top-R, exact re-rank
    val onerow = pqAdcTables(pqSubCentroids(e), probe)
    exactRerank(s, pqAdcRerankSet(s, ivfCandidates(s, dir), onerow), probe)
  }

  // ---- persisted IVF+PQ index (IVFADC: route by cid, score by codes) ---
  /** The combined IVF+PQ layout — the canonical billion-scale ANN
    * architecture (FAISS "IVFADC", Jégou et al. TPAMI 2011 §IV) expressed
    * entirely through parquet + Catalyst pruning, no index service:
    *   - `codebook/`  K-row IVF coarse quantizer (the same trained book
    *     [[writeIvfIndex]] persists);
    *   - `pq/`        M rows of product-quantizer sub-centroid arrays
    *     (the [[simAnnPq]] code training, persisted);
    *   - `lists/`     one directory per coarse cell (PARTITIONED BY cid):
    *     (vec_id, c0..c3 byte-sized PQ codes, embedding).
    * A query touches probes/K of the directories (static partition
    * pruning) and, inside them, the approximate phase reads ONLY the
    * tiny code columns (parquet COLUMN pruning — the ~16× scan-byte
    * saving that is product quantization's point; the embedding column
    * stays on disk). The exact re-rank then re-opens the same pruned
    * directories for the embedding column, restricted to the top-R
    * candidate rows by a broadcast semi-join. Both prunings are plan
    * properties, asserted in IvfPqIndexSpec. */
  def writeIvfPqIndex(s: SparkSession, dir: String, indexPath: String): Unit = {
    graft.functions.VectorExpressions.register(s)
    val e = t(s, dir, "embeddings")
    val book = trainedCodebook(s, dir)
    book.coalesce(1).write.mode("overwrite").parquet(s"$indexPath/codebook")
    // PQ sub-centroids: the simAnnPq training pass (deterministic md5
    // sample → per-subspace centroid arrays in sorted-cid order)
    pqSubCentroids(e).coalesce(1).write.mode("overwrite").parquet(s"$indexPath/pq")
    // lists: coarse-assign every vector, encode its M codes, land it in
    // its cell directory; one writer task per cell — no small files.
    // pqArr derives from the just-written pq/ parquet (like the query
    // path) rather than perM's lineage — re-evaluating perM would re-run
    // its full-corpus md5 sample a second time
    val bookArr = book.agg(collect_list(struct(col("cid"), col("ce"))).as("cents"))
    val pqAggs = (0 until PqM).map(m => max(when(col("m") === m, col("cents"))).as(s"pq$m"))
    val pqArr = s.read.parquet(s"$indexPath/pq").groupBy().agg(pqAggs.head, pqAggs.tail: _*)
    e.crossJoin(broadcast(bookArr))
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorExpressions.ivfAssign(col("embedding"), col("cents")).as("cid"))
      .crossJoin(broadcast(pqArr))
      .select(Seq(col("vec_id"), col("embedding"), col("cid")) ++
        (0 until PqM).map(m => graft.functions.VectorExpressions.pqAssign(
          slice(col("embedding"), m * PqSub + 1, PqSub), col(s"pq$m")).as(s"c$m")): _*)
      .repartition(col("cid"))
      .write.partitionBy("cid").mode("overwrite").parquet(s"$indexPath/lists")
  }

  /** ANN top-k against the persisted IVF+PQ index: probe planning on the
    * K-row codebook (the same documented O(K) metadata collect as
    * [[annQueryIndex]]), ADC tables from the M-row `pq/` frame (a
    * broadcast one-row crossJoin, zero driver arithmetic), approximate
    * scores from the code columns alone, exact re-rank of the top-R
    * candidates only. */
  def ivfPqQueryIndex(s: SparkSession, indexPath: String, pe: Seq[Float],
      excludeVecId: Long = -1L, k: Int = 10): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    import s.implicits._
    val probe = Seq(Tuple1(pe)).toDF("pe")
    val cids = s.read.parquet(s"$indexPath/codebook")
      .crossJoin(broadcast(probe))
      .select(col("cid"), r4f(cosine(s, "ce", "pe")).as("ac"))
      .orderBy(col("ac").desc, col("cid").asc)
      .limit(IvfProbes)
      .collect().map(_.getLong(0))
    // ADC tables: dt[k]=dot(probe_sub, cent_k), nt[k]=|cent_k|² — M·K tiny
    // HOF evaluations once per query, broadcast to the code scan
    val tabs = s.read.parquet(s"$indexPath/pq")
      .crossJoin(broadcast(probe))
      .select(col("m"),
        expr(s"transform(cents, c -> aggregate(zip_with(c, slice(pe, m * $PqSub + 1, $PqSub), (x, y) -> cast(x AS DOUBLE) * cast(y AS DOUBLE)), 0D, (a, v) -> a + v))").as("dt"),
        expr("transform(cents, c -> aggregate(c, 0D, (a, x) -> a + cast(x AS DOUBLE) * cast(x AS DOUBLE)))").as("nt"),
        expr("aggregate(pe, 0D, (a, x) -> a + cast(x AS DOUBLE) * cast(x AS DOUBLE))").as("np2"))
    val tabAggs = (0 until PqM).flatMap(m => Seq(
      max(when(col("m") === m, col("dt"))).as(s"dt$m"),
      max(when(col("m") === m, col("nt"))).as(s"nt$m"))) :+ max(col("np2")).as("np2")
    val onerow = tabs.groupBy().agg(tabAggs.head, tabAggs.tail: _*)
    // approximate phase: probed directories only (partition pruning),
    // code columns only (column pruning — embedding NOT in ReadSchema)
    val codes = s.read.parquet(s"$indexPath/lists")
      .where(col("cid").isin(cids: _*) && col("vec_id") =!= excludeVecId)
      .select(Seq(col("vec_id")) ++ (0 until PqM).map(m => col(s"c$m")): _*)
    val cand = codes.crossJoin(broadcast(onerow))
      .select(col("vec_id"),
        r4f((0 until PqM).map(m => element_at(col(s"dt$m"), col(s"c$m") + 1)).reduce(_ + _)
          / (sqrt((0 until PqM).map(m => element_at(col(s"nt$m"), col(s"c$m") + 1)).reduce(_ + _))
            * sqrt(col("np2")))).as("approx_cos"))
      .orderBy(col("approx_cos").desc, col("vec_id").asc)
      .limit(PqRerank)
      .select("vec_id")
    // exact re-rank: same pruned directories, embedding column, candidate
    // rows only (broadcast left-semi on the R-row frame)
    s.read.parquet(s"$indexPath/lists")
      .where(col("cid").isin(cids: _*))
      .join(broadcast(cand), Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), r4(cosine(s, "embedding", "pe")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Batch-probe form of [[ivfPqQueryIndex]] — the IVFADC serving shape
    * for a whole query batch, and the probe engine behind
    * `Pipeline.streamAnnProbe`: per-probe cell routing via the bounded
    * KnnTopK aggregate on the broadcast K-row codebook (no O(probes)
    * driver collect), per-probe ADC tables computed as COLUMNS from the
    * broadcast M-row `pq/` frame (M·K doubles per probe — ~4 KB rows,
    * fine for a query batch, carried through one equi-join), then the
    * approximate phase scores ONLY the routed cells' code columns, the
    * top-[[PqRerank]] per probe re-rank exact. The probe-side joins are
    * plain equi-joins on (cid)/(pid)/(vec_id) — Catalyst/AQE pick
    * broadcast vs shuffled hash by size, so a batch past the broadcast
    * threshold degrades instead of failing. Self-matches (vec_id = pid)
    * are excluded, mirroring [[annQueryIndexBatch]]. Candidates ≈
    * |batch|·N·(probes/K) into the ADC phase, |batch|·R into the exact
    * one. `probes` must have columns (pid: bigint, pe: array<float>).
    * Pinned to EXACT per-probe parity with [[ivfPqQueryIndex]] in
    * IvfPqIndexSpec and to batch≡stream parity in StreamingSpec. */
  def ivfPqQueryIndexBatch(s: SparkSession, indexPath: String,
      probes: DataFrame, k: Int = 10): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val book = s.read.parquet(s"$indexPath/codebook")
    val probeLists = probes.crossJoin(broadcast(book))
      .select(col("pid"), col("cid"), r4f(cosine(s, "ce", "pe")).as("ac"))
      .groupBy("pid")
      .agg(graft.functions.KnnTopK.knnTopk(col("ac"), col("cid"), IvfProbes).as("hits"))
      .select(col("pid"), explode(col("hits")).as("h"))
      .select(col("pid"), col("h.vec_id").as("cid"))
    // per-probe ADC tables: dt_m[k] = dot(probe_sub_m, cent_k),
    // nt_m[k] = |cent_k|², np2 = |probe|² — the same arithmetic as the
    // single-probe query, pivoted to columns instead of a one-row frame
    val pqAggs = (0 until PqM).map(m => max(when(col("m") === m, col("cents"))).as(s"pq$m"))
    val pqArr = s.read.parquet(s"$indexPath/pq").groupBy().agg(pqAggs.head, pqAggs.tail: _*)
    val tabs = probes.crossJoin(broadcast(pqArr))
      .select(Seq(col("pid"),
        expr("aggregate(pe, 0D, (a, x) -> a + cast(x AS DOUBLE) * cast(x AS DOUBLE))").as("np2")) ++
        (0 until PqM).flatMap(m => Seq(
          expr(s"transform(pq$m, c -> aggregate(zip_with(c, slice(pe, $m * $PqSub + 1, $PqSub), (x, y) -> cast(x AS DOUBLE) * cast(y AS DOUBLE)), 0D, (a, v) -> a + v))").as(s"dt$m"),
          expr(s"transform(pq$m, c -> aggregate(c, 0D, (a, x) -> a + cast(x AS DOUBLE) * cast(x AS DOUBLE)))").as(s"nt$m"))): _*)
    // approximate phase: routed cells' code columns only (embedding NOT
    // read here — the same column-pruning contract as the single query)
    val codes = s.read.parquet(s"$indexPath/lists")
      .select(Seq(col("cid"), col("vec_id")) ++ (0 until PqM).map(m => col(s"c$m")): _*)
    val cand = codes.join(probeLists, "cid")
      .join(tabs, "pid")
      .where(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id"),
        r4f((0 until PqM).map(m => element_at(col(s"dt$m"), col(s"c$m") + 1)).reduce(_ + _)
          / (sqrt((0 until PqM).map(m => element_at(col(s"nt$m"), col(s"c$m") + 1)).reduce(_ + _))
            * sqrt(col("np2")))).as("approx_cos"))
      .groupBy("pid")
      .agg(graft.functions.KnnTopK.knnTopk(col("approx_cos"), col("vec_id"), PqRerank).as("hits"))
      .select(col("pid"), explode(col("hits")).as("h"))
      .select(col("pid"), col("h.vec_id").as("vec_id"))
    // exact re-rank: embedding column, restricted to the union of routed
    // cells (the batch twin of the single query's cid.isin partition
    // pruning — an equi-join on the partition column, DPP-eligible) and
    // then to candidate rows only
    s.read.parquet(s"$indexPath/lists")
      .join(probeLists.select("cid").distinct(), "cid")
      .select(col("vec_id"), col("embedding"))
      .join(cand, "vec_id")
      .join(probes, "pid")
      .select(col("pid"), col("vec_id"), r4(cosine(s, "embedding", "pe")).as("cos"))
      .groupBy("pid")
      .agg(graft.functions.KnnTopK.knnTopk(col("cos"), col("vec_id"), k).as("hits"))
      .select(col("pid"), posexplode(col("hits")).as(Seq("pos", "h")))
      .select(col("pid"), (col("pos") + 1).cast(LongType).as("rank"),
        col("h.vec_id").as("vec_id"), col("h.cos").as("cos"))
      .orderBy("pid", "rank")
  }

  /** Incremental maintenance for the IVF+PQ layout — FAISS's
    * add-after-train, the PQ twin of [[appendIvfIndex]]: BOTH stored
    * quantizers (`codebook/` coarse centroids, `pq/` sub-centroids) stay
    * the single source of truth, so old and new codes share one geometry
    * and existing ADC tables stay valid; the batch is coarse-assigned
    * and PQ-encoded map-side against their broadcast copies and APPENDS
    * into its cid cell directories. No per-batch retraining — codebooks
    * drift from the true k-means of the grown corpus (the standard IVF
    * trade); rebuild with [[writeIvfPqIndex]] when recall decays.
    *
    * Scale shape: the batch (not the index) is the unit of work — one
    * map-side assign+encode pass + one partitioned append, never a read
    * of existing lists; append mode cannot touch sibling cell
    * directories. `newVecs` must have columns (vec_id: bigint,
    * embedding: array<float>). */
  def appendIvfPqIndex(s: SparkSession, indexPath: String, newVecs: DataFrame): Unit = {
    graft.functions.VectorExpressions.register(s)
    val book = s.read.parquet(s"$indexPath/codebook")
    val bookArr = book.agg(collect_list(struct(col("cid"), col("ce"))).as("cents"))
    val pqAggs = (0 until PqM).map(m => max(when(col("m") === m, col("cents"))).as(s"pq$m"))
    val pqArr = s.read.parquet(s"$indexPath/pq").groupBy().agg(pqAggs.head, pqAggs.tail: _*)
    newVecs.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(bookArr))
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorExpressions.ivfAssign(col("embedding"), col("cents")).as("cid"))
      .crossJoin(broadcast(pqArr))
      .select(Seq(col("vec_id"), col("embedding"), col("cid")) ++
        (0 until PqM).map(m => graft.functions.VectorExpressions.pqAssign(
          slice(col("embedding"), m * PqSub + 1, PqSub), col(s"pq$m")).as(s"c$m")): _*)
      .repartition(col("cid"))
      .write.partitionBy("cid").mode("append").parquet(s"$indexPath/lists")
  }

  // ---- exact k-NN join over a bounded probe set ------------------------
  val KnnProbes = 16
  val KnnK = 4

  /** k-NN JOIN (every probe gets its k nearest), the multi-probe
    * generalisation of [[simCosine]]: probes are a deterministic
    * md5-hash sample bounded at [[KnnProbes]] (broadcast side fixed at
    * any N, same device as [[dedupEmbedding]]'s ProbeCap), candidates
    * are one map-side pass over the big table, and per-probe exact
    * top-k runs through the bounded [[graft.functions.KnnTopKAggregator]]
    * — partial aggregation keeps ≤k hits per probe per map task, so the
    * shuffle carries O(probes·k) rows, not the candidate set. No window
    * over a per-probe partition, no collect_list. At production scale
    * the same shape serves probes = a whole query batch. */
  def simKnn(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val probes = e
      .orderBy(md5(col("vec_id").cast(StringType)), col("vec_id"))
      .limit(KnnProbes)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"))
    e.join(broadcast(probes), col("pid") =!= col("vec_id"))
      .select(col("pid"), col("vec_id"), r4(cosine(s, "embedding", "pe")).as("cos"))
      .groupBy("pid")
      .agg(graft.functions.KnnTopK.knnTopk(col("cos"), col("vec_id"), KnnK).as("hits"))
      .select(col("pid"), posexplode(col("hits")).as(Seq("pos", "h")))
      .select(col("pid"), (col("pos") + 1).cast(LongType).as("rank"),
        col("h.vec_id").as("vec_id"), col("h.cos").as("cos"))
      .orderBy("pid", "rank")
  }

  val simKnnSql: String =
    cosineOracle(
      s"""SELECT vec_id AS pid, embedding AS pe FROM embeddings
         |     ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $KnnProbes""".stripMargin,
      "p.pid <> e.vec_id") +
    s"""
       |SELECT pid, rn AS rank, vec_id, cos FROM (
       |  SELECT pid, vec_id, cos,
       |    row_number() OVER (PARTITION BY pid ORDER BY cos DESC, vec_id ASC) AS rn
       |  FROM (SELECT pid, vec_id,
       |          CAST(round(dot / (sqrt(n2) * sqrt(np2)), 4) AS DOUBLE) AS cos
       |        FROM terms) x) r
       |WHERE rn <= $KnnK ORDER BY pid, rank""".stripMargin

  /** k-NN majority-vote label prediction over the bounded probe set —
    * the label-quality screen a training-data pipeline runs before
    * trusting a labeled corpus (the confident-learning/Cleanlab
    * intuition: a vector whose neighborhood disagrees with its own label
    * is a candidate annotation error, `correct = 0` rows are the review
    * queue; same neighborhood evidence auto-labels unlabeled vectors).
    * Reuses [[simKnn]]'s machinery end to end: deterministic md5
    * hash-sampled [[KnnProbes]] probe set, exact rounded-cosine top-[[KnnK]]
    * per probe through the bounded KnnTopK aggregate (shuffle is
    * O(probes·k), never O(N)), then the k hit rows join their labels
    * back (a k·probes-row broadcast side against the at-rest table) and
    * vote — ties break votes desc, label asc for determinism. */
  def knnClassify(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = t(s, dir, "embeddings")
    val probes = e
      .orderBy(md5(col("vec_id").cast(StringType)), col("vec_id"))
      .limit(KnnProbes)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"))
    val hits = e.join(broadcast(probes), col("pid") =!= col("vec_id"))
      .select(col("pid"), col("vec_id"), r4(cosine(s, "embedding", "pe")).as("cos"))
      .groupBy("pid")
      .agg(graft.functions.KnnTopK.knnTopk(col("cos"), col("vec_id"), KnnK).as("hits"))
      .select(col("pid"), explode(col("hits")).as("h"))
      .select(col("pid"), col("h.vec_id").as("vec_id"))
    val pred = hits
      .join(e.select(col("vec_id"), col("label").as("nlabel")), "vec_id")
      .groupBy("pid", "nlabel").agg(count(lit(1)).as("votes"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("pid").orderBy(col("votes").desc, col("nlabel").asc)))
      .where(col("rn") === 1)
    pred
      .join(e.select(col("vec_id").as("pid"), col("label").as("true_label")), "pid")
      .select(col("pid"), col("true_label"), col("nlabel").as("pred_label"),
        col("votes"),
        (col("nlabel") === col("true_label")).cast(IntegerType).as("correct"))
      .orderBy("pid")
  }

  val knnClassifySql: String =
    cosineOracle(
      s"""SELECT vec_id AS pid, embedding AS pe FROM embeddings
         |     ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $KnnProbes""".stripMargin,
      "p.pid <> e.vec_id") +
    s""",
       |knn AS (
       |  SELECT pid, vec_id,
       |    row_number() OVER (PARTITION BY pid ORDER BY
       |      CAST(round(dot / (sqrt(n2) * sqrt(np2)), 4) AS DOUBLE) DESC, vec_id ASC) AS rn
       |  FROM terms),
       |lab AS (
       |  SELECT k.pid, e.label AS nlabel
       |  FROM knn k JOIN embeddings e USING (vec_id) WHERE k.rn <= $KnnK),
       |v AS (SELECT pid, nlabel, count(*) AS votes FROM lab GROUP BY 1, 2),
       |pr AS (
       |  SELECT pid, nlabel, votes,
       |    row_number() OVER (PARTITION BY pid ORDER BY votes DESC, nlabel ASC) AS rn
       |  FROM v)
       |SELECT pr.pid, te.label AS true_label, pr.nlabel AS pred_label, pr.votes,
       |  CASE WHEN pr.nlabel = te.label THEN 1 ELSE 0 END AS correct
       |FROM pr JOIN embeddings te ON te.vec_id = pr.pid
       |WHERE pr.rn = 1 ORDER BY pr.pid""".stripMargin

  // ---- PQ (product-quantization) ANN ----------------------------------
  /** The third ANN family beside sign-LSH and IVF: product quantization
    * (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011). The 64-dim embedding splits into [[PqM]]
    * sub-spaces of [[PqSub]] dims; each sub-vector is encoded as the
    * index of its L2-nearest sub-centroid (native codegen'd
    * `pq_assign`), so a vector compresses to M small codes and the scan
    * never computes a full-dimension distance: the probe precomputes an
    * ADC (asymmetric distance computation) table of per-(subspace,
    * centroid) dot/norm contributions ONCE, and every candidate's
    * approximate cosine is M table lookups + adds — a pure map-side
    * projection with NO shuffle of embeddings, followed by
    * TakeOrderedAndProject of the [[PqRerank]] best and an exact-cosine
    * re-rank of that bounded set.
    *
    * At 100 TB: codes are built once at ingest (the same at-rest posture
    * as the IVF index — 4 bytes/vector here vs 256 for raw floats), the
    * ADC table is O(M·K) per query batch, and the scan is embarrassingly
    * parallel. The [[PqRerank]]-row TakeOrdered carries the embedding
    * column for the re-rank — bounded rows, so no join-back needed; an
    * at-rest deployment would instead join the candidate ids against the
    * stored vectors.
    *
    * Sub-codebooks seed from the same deterministic md5 hash-sample as
    * the IVF codebook; positions in the sorted-cid centroid arrays ARE
    * the codes, so table lookup indices never need an id→position map.
    * Deterministic end to end; oracle-free by design like
    * `q_sim_ann_lsh` (approximate candidate set) — recall and
    * planted-near-dup behavior pinned by spec. */
  /** K=32 / rerank=100, sized on measurement: on the worst case for any
    * quantizer — i.i.d. Gaussian embeddings, where cosine gaps between
    * the true top-10 and the bulk are a few hundredths — K=16/rerank=40
    * recovers only 1/10 of the exact top-10 at sf0.001, K=32/rerank=100
    * recovers 7/10 (spec bound ≥ 5/10). Clustered real-world embeddings
    * do far better; rerank is a constant, so the candidate FRACTION
    * shrinks with corpus size. */
  val PqM = 4
  val PqSub = 16
  val PqK = 32
  val PqRerank = 100

  /** deterministic PQ training: per-subspace sub-centroid arrays in
    * sorted-cid order (positions = codes), seeded from the same md5
    * hash-sample as the IVF codebook — one scan, M broadcast-small rows.
    * Shared by [[simAnnPq]], [[simAnnIvfPq]], [[simEvalPq]] and the
    * persisted [[writeIvfPqIndex]] layout. */
  private def pqSubCentroids(e: DataFrame): DataFrame =
    e.orderBy(md5(col("vec_id").cast(StringType)), col("vec_id"))
      .limit(PqK).select(col("vec_id").as("cid"), col("embedding"))
      .select(col("cid"), posexplode(expr(
        s"transform(sequence(0, ${PqM - 1}), m -> slice(embedding, m * $PqSub + 1, $PqSub))"))
        .as(Seq("m", "ce")))
      .groupBy("m")
      .agg(expr("transform(array_sort(collect_list(struct(cid, ce))), x -> x.ce)").as("cents"))

  /** the probe's ADC tables pivoted to ONE broadcastable row
    * (cents/dt/nt per subspace + |probe|²): dt[k] = dot(probe_sub,
    * cent_k), nt[k] = |cent_k|² — M·K tiny HOF evaluations total, NOT
    * per candidate row */
  private def pqAdcTables(perM: DataFrame, probe: DataFrame): DataFrame = {
    val tabs = perM.crossJoin(broadcast(probe))
      .select(col("m"), col("cents"),
        expr(s"transform(cents, c -> aggregate(zip_with(c, slice(pe, m * $PqSub + 1, $PqSub), (x, y) -> cast(x AS DOUBLE) * cast(y AS DOUBLE)), 0D, (a, v) -> a + v))").as("dt"),
        expr("transform(cents, c -> aggregate(c, 0D, (a, x) -> a + cast(x AS DOUBLE) * cast(x AS DOUBLE)))").as("nt"),
        expr("aggregate(pe, 0D, (a, x) -> a + cast(x AS DOUBLE) * cast(x AS DOUBLE))").as("np2"))
    val pivotAggs = (0 until PqM).flatMap(m => Seq(
      max(when(col("m") === m, col("cents"))).as(s"cents$m"),
      max(when(col("m") === m, col("dt"))).as(s"dt$m"),
      max(when(col("m") === m, col("nt"))).as(s"nt$m"))) :+ max(col("np2")).as("np2")
    tabs.groupBy().agg(pivotAggs.head, pivotAggs.tail: _*)
  }

  /** encode (M native pq_assign calls) + ADC-score (M table lookups)
    * every `cand` row (vec_id, embedding) against the one-row broadcast
    * tables; keeps the top-[[PqRerank]] by (approx_cos DESC, vec_id) —
    * the bounded set the exact re-rank touches */
  private def pqAdcRerankSet(s: SparkSession, cand: DataFrame, onerow: DataFrame): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    cand.crossJoin(broadcast(onerow))
      .select(Seq(col("vec_id"), col("embedding"), col("np2")) ++
        (0 until PqM).map(m => graft.functions.VectorExpressions.pqAssign(
          slice(col("embedding"), m * PqSub + 1, PqSub), col(s"cents$m")).as(s"c$m")) ++
        (0 until PqM).flatMap(m => Seq(col(s"dt$m"), col(s"nt$m"))): _*)
      .select(col("vec_id"), col("embedding"),
        r4f((0 until PqM).map(m => element_at(col(s"dt$m"), col(s"c$m") + 1)).reduce(_ + _)
          / (sqrt((0 until PqM).map(m => element_at(col(s"nt$m"), col(s"c$m") + 1)).reduce(_ + _))
            * sqrt(col("np2")))).as("approx_cos"))
      .orderBy(col("approx_cos").desc, col("vec_id").asc)
      .limit(PqRerank)
  }

  /** exact-cosine top-10 re-rank of a bounded (≤ [[PqRerank]]-row)
    * candidate set against the broadcast probe */
  private def exactRerank(s: SparkSession, candSet: DataFrame, probe: DataFrame): DataFrame =
    candSet.crossJoin(broadcast(probe))
      .select(col("vec_id"), r4(cosine(s, "embedding", "pe")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(10)

  def simAnnPq(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    val e = t(s, dir, "embeddings")
    val probe = e.where(col("vec_id") === 0).select(col("embedding").as("pe"))
    val onerow = pqAdcTables(pqSubCentroids(e), probe)
    exactRerank(s, pqAdcRerankSet(s, e.where(col("vec_id") =!= 0), onerow), probe)
  }

  // ---- PQ / IVF+PQ rollout evaluation ----------------------------------
  /** The quantizer-family rollout instrument (the PQ twin of
    * [[simEval]]): ONE frame, one row per search path (`ivfpq`, `pq`),
    * each carrying the two go/no-go numbers — recall@10 vs the exact
    * cosine top-10, and how much work bought it. `n_adc` counts the rows
    * the ADC phase scored (full corpus for flat PQ — cheap M-lookup
    * arithmetic over codes; only the probed cells' members for IVF+PQ),
    * `n_rerank` the rows the exact full-precision re-rank touched
    * (≤ [[PqRerank]] — the expensive phase both paths bound), with each
    * as a fraction of corpus size. Reading the pair tells a user what
    * IVF routing buys (adc_frac drops from 1.0 to ≈ probes/K at equal
    * recall) and what PQ compression costs in recall at a fixed rerank
    * budget.
    *
    * Every phase is deterministic (md5-sampled codebooks, quantized
    * Lloyd means, r4f-rounded ADC argsorts), so the WHOLE chain —
    * training, encoding, ADC ranking, re-rank, metrics — replays in
    * DuckDB and the row is hash-pinned, unlike the recall-bound specs
    * that cover the search paths alone. Scale shape: the two rerank-set
    * frames and the truth top-10 are `localCheckpoint`ed (each feeds two
    * consumers; their lineages hold the expensive passes), the IVF+PQ
    * candidate frame likewise (count + ADC scan); the report itself is
    * 1-row aggregates broadcast-crossed. */
  def simEvalPq(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val probe = e.where(col("vec_id") === 0).select(col("embedding").as("pe"))
    val onerow = pqAdcTables(pqSubCentroids(e), probe)
    val nTotal = e.where(col("vec_id") =!= 0).agg(count(lit(1)).as("n_total"))
    val ex10 = simCosine(s, dir).select("vec_id").localCheckpoint()
    // flat-PQ path: ADC over the whole corpus, exact re-rank of top-R
    val pqRr = pqAdcRerankSet(s, e.where(col("vec_id") =!= 0), onerow).localCheckpoint()
    val pq10 = exactRerank(s, pqRr, probe).select("vec_id")
    // IVF+PQ path: ADC over the probed cells only, same re-rank budget
    val cand = ivfCandidates(s, dir).localCheckpoint()
    val ivfRr = pqAdcRerankSet(s, cand, onerow).localCheckpoint()
    val ivfpq10 = exactRerank(s, ivfRr, probe).select("vec_id")

    def row(method: String, top10: DataFrame, nAdc: DataFrame, rr: DataFrame): DataFrame =
      ex10.agg(count(lit(1)).as("n_exact"))
        .crossJoin(broadcast(top10.join(ex10, Seq("vec_id")).agg(count(lit(1)).as("n_hits"))))
        .crossJoin(broadcast(nAdc))
        .crossJoin(broadcast(rr.agg(count(lit(1)).as("n_rerank"))))
        .crossJoin(broadcast(nTotal))
        .select(lit(method).as("method"), col("n_exact"), col("n_hits"),
          when(col("n_exact") > 0,
            r4(col("n_hits").cast(DoubleType) / col("n_exact"))).as("recall"),
          col("n_adc"), col("n_rerank"), col("n_total"),
          when(col("n_total") > 0,
            r4(col("n_adc").cast(DoubleType) / col("n_total"))).as("adc_frac"),
          when(col("n_total") > 0,
            r4(col("n_rerank").cast(DoubleType) / col("n_total"))).as("rerank_frac"))

    row("ivfpq", ivfpq10, cand.agg(count(lit(1)).as("n_adc")), ivfRr)
      .union(row("pq", pq10, nTotal.select(col("n_total").as("n_adc")), pqRr))
      .orderBy("method")
  }

  /** the full two-path chain replayed in SQL: Lloyd codebook + probe
    * lists (the `q_sim_eval` CTEs), PQ sub-centroids in sorted-cid order
    * (row_number = 1-based code), squared-L2 argmin encoding, ADC
    * tables, floor-rounded ADC ranking, exact re-rank, metric rows —
    * row-identical to the Spark plan */
  val simEvalPqSql: String = {
    val exactTopSql = (candCte: String, name: String) =>
      s"""${name}t AS (
         |  SELECT e.vec_id,
         |    sum(e.embedding[i]::DOUBLE * p.pe[i]::DOUBLE) AS dot,
         |    sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE) AS n2,
         |    sum(p.pe[i]::DOUBLE * p.pe[i]::DOUBLE) AS np2
         |  FROM embeddings e JOIN $candCte USING (vec_id), p, generate_series(1, 64) g(i)
         |  GROUP BY 1),
         |${name}10 AS (SELECT vec_id FROM ${name}t
         |  ORDER BY CAST(round(dot / (sqrt(n2) * sqrt(np2)), 4) AS DOUBLE) DESC, vec_id ASC
         |  LIMIT 10)""".stripMargin
    s"""WITH ${lloydCentsSql()},
       |ac AS (
       |  SELECT e.vec_id, c.cid,
       |    floor(sum(e.embedding[i]::DOUBLE * c.ce[i]::DOUBLE)
       |      / (sqrt(sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
       |         * sqrt(sum(c.ce[i]::DOUBLE * c.ce[i]::DOUBLE)))
       |      * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS ac
       |  FROM embeddings e, cents c, generate_series(1, 64) g(i)
       |  GROUP BY e.vec_id, c.cid),
       |assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY ac DESC, cid ASC) AS rn
       |    FROM ac) x
       |  WHERE rn = 1),
       |plists AS (SELECT cid FROM ac WHERE vec_id = 0 ORDER BY ac DESC, cid ASC LIMIT $IvfProbes),
       |cand AS (SELECT a.vec_id FROM assigned a JOIN plists p USING (cid) WHERE a.vec_id <> 0),
       |p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0),
       |ext AS (
       |  SELECT e.vec_id,
       |    sum(e.embedding[i]::DOUBLE * p.pe[i]::DOUBLE) AS dot,
       |    sum(e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE) AS n2,
       |    sum(p.pe[i]::DOUBLE * p.pe[i]::DOUBLE) AS np2
       |  FROM embeddings e, p, generate_series(1, 64) g(i)
       |  WHERE e.vec_id <> 0
       |  GROUP BY 1),
       |ex10 AS (SELECT vec_id FROM ext
       |  ORDER BY CAST(round(dot / (sqrt(n2) * sqrt(np2)), 4) AS DOUBLE) DESC, vec_id ASC
       |  LIMIT 10),
       |psamp AS (SELECT vec_id AS cid, embedding FROM embeddings
       |  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $PqK),
       |pcents AS (
       |  SELECT g.m, row_number() OVER (PARTITION BY g.m ORDER BY s.cid ASC) AS pos,
       |    s.embedding[g.m * $PqSub + 1 : g.m * $PqSub + $PqSub] AS ce
       |  FROM psamp s, generate_series(0, ${PqM - 1}) g(m)),
       |ptabs AS (
       |  SELECT c.m, c.pos,
       |    sum(c.ce[i]::DOUBLE * p.pe[c.m * $PqSub + i]::DOUBLE) AS dt,
       |    sum(c.ce[i]::DOUBLE * c.ce[i]::DOUBLE) AS nt
       |  FROM pcents c, p, generate_series(1, $PqSub) g(i)
       |  GROUP BY 1, 2),
       |pnp2 AS (SELECT sum(pe[i]::DOUBLE * pe[i]::DOUBLE) AS np2
       |  FROM p, generate_series(1, 64) g(i)),
       |pdist AS (
       |  SELECT e.vec_id, c.m, c.pos,
       |    sum((e.embedding[c.m * $PqSub + i]::DOUBLE - c.ce[i]::DOUBLE)
       |      * (e.embedding[c.m * $PqSub + i]::DOUBLE - c.ce[i]::DOUBLE)) AS d
       |  FROM embeddings e, pcents c, generate_series(1, $PqSub) g(i)
       |  WHERE e.vec_id <> 0
       |  GROUP BY 1, 2, 3),
       |pcodes AS (
       |  SELECT vec_id, m, pos FROM (
       |    SELECT vec_id, m, pos,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d ASC, pos ASC) AS rn
       |    FROM pdist) x
       |  WHERE rn = 1),
       |papprox AS (
       |  SELECT k.vec_id,
       |    floor(sum(t.dt) / (sqrt(sum(t.nt)) * sqrt((SELECT np2 FROM pnp2)))
       |      * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS approx_cos
       |  FROM pcodes k JOIN ptabs t USING (m, pos)
       |  GROUP BY 1),
       |prr AS (SELECT vec_id FROM papprox ORDER BY approx_cos DESC, vec_id ASC LIMIT $PqRerank),
       |irr AS (SELECT a.vec_id FROM papprox a JOIN cand USING (vec_id)
       |  ORDER BY a.approx_cos DESC, a.vec_id ASC LIMIT $PqRerank),
       |${exactTopSql("prr", "pq")},
       |${exactTopSql("irr", "ivfpq")},
       |tot AS (SELECT count(*) AS n_total FROM embeddings WHERE vec_id <> 0),
       |u AS (
       |  SELECT 'ivfpq' AS method,
       |    (SELECT count(*) FROM ex10) AS n_exact,
       |    (SELECT count(*) FROM ivfpq10 JOIN ex10 USING (vec_id)) AS n_hits,
       |    (SELECT count(*) FROM cand) AS n_adc,
       |    (SELECT count(*) FROM irr) AS n_rerank,
       |    (SELECT n_total FROM tot) AS n_total
       |  UNION ALL
       |  SELECT 'pq' AS method,
       |    (SELECT count(*) FROM ex10) AS n_exact,
       |    (SELECT count(*) FROM pq10 JOIN ex10 USING (vec_id)) AS n_hits,
       |    (SELECT n_total FROM tot) AS n_adc,
       |    (SELECT count(*) FROM prr) AS n_rerank,
       |    (SELECT n_total FROM tot) AS n_total)
       |SELECT method, n_exact::BIGINT AS n_exact, n_hits::BIGINT AS n_hits,
       |  CASE WHEN n_exact > 0
       |    THEN CAST(round(n_hits::DOUBLE / n_exact, 4) AS DOUBLE) END AS recall,
       |  n_adc::BIGINT AS n_adc, n_rerank::BIGINT AS n_rerank, n_total::BIGINT AS n_total,
       |  CASE WHEN n_total > 0
       |    THEN CAST(round(n_adc::DOUBLE / n_total, 4) AS DOUBLE) END AS adc_frac,
       |  CASE WHEN n_total > 0
       |    THEN CAST(round(n_rerank::DOUBLE / n_total, 4) AS DOUBLE) END AS rerank_frac
       |FROM u ORDER BY method""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q_sim_cosine" -> simCosine _,
    "q_dedup_embedding" -> dedupEmbedding _,
    "q_sim_ann_lsh" -> simAnnLsh _,
    "q_sim_ann_ivf" -> simAnnIvf _,
    "q_sim_eval" -> simEval _,
    "q_sim_eval_pq" -> simEvalPq _,
    "q_sim_ann_pq" -> simAnnPq _,
    "q_sim_ann_ivfpq" -> simAnnIvfPq _,
    "q_sim_knn" -> simKnn _,
    "q_knn_classify" -> knnClassify _,
    "q_embed_project" -> embedProject _,
    "q_label_centroids" -> labelCentroids _,
    "q_dedup_semantic" -> dedupSemantic _,
    "q_dedup_semantic_apply" -> dedupSemanticApply _,
    "q_dedup_semantic_incremental" -> dedupSemanticIncremental _,
    "q_embed_cluster_stats" -> embedClusterStats _,
    "q_embed_outliers" -> embedOutliers _)

  val oracle: Map[String, String] = Map(
    "q_sim_cosine" -> simCosineSql,
    "q_dedup_embedding" -> dedupEmbeddingSql,
    "q_sim_ann_ivf" -> simAnnIvfSql,
    "q_sim_eval" -> simEvalSql,
    "q_sim_eval_pq" -> simEvalPqSql,
    "q_sim_knn" -> simKnnSql,
    "q_knn_classify" -> knnClassifySql,
    "q_embed_project" -> embedProjectSql,
    "q_label_centroids" -> labelCentroidsSql,
    "q_dedup_semantic" -> dedupSemanticSql,
    "q_dedup_semantic_apply" -> dedupSemanticApplySql,
    "q_dedup_semantic_incremental" -> dedupSemanticIncrementalSql,
    "q_embed_cluster_stats" -> embedClusterStatsSql,
    "q_embed_outliers" -> embedOutliersSql)
}
