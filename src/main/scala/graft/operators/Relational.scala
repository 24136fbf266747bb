package graft.operators

import graft.util._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2 B.1 scans, B.2 projection/filter, B.3 joins, B.6
  * sort/limit/top-K, B.7 set ops.
  *
  * Scale notes (100 TB posture):
  *   - dimension joins (region/nation) use explicit broadcast();
  *   - big-big joins (orders⋈customer, orders⋈events) stay shuffle
  *     hash/sort-merge on their natural keys — no driver collect anywhere;
  *   - the theta band join is a broadcast-nested-loop over a bounded
  *     dimension (part), never big×big;
  *   - the as-of join composes range-join + per-key window (the standard
  *     distributed asof pattern — shuffle once on user_id, no cartesian).
  */
object Relational {

  // ---- B.1 scans -----------------------------------------------------
  def scanParquet(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "region").orderBy("r_regionkey")

  val scanParquetSql = "SELECT * FROM region ORDER BY r_regionkey"

  /** column pruning + predicate pushdown (explain-asserted in tests) */
  def scanPruned(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .where(col("l_quantity") >= 49)
      .orderBy("l_orderkey", "l_linenumber")

  val scanPrunedSql =
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |WHERE l_quantity >= 49 ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** text-format round-trip dirs memoized per (session, dir, input
    * fingerprint) — the same staleness-guarded cache pattern as the
    * dedup index caches */
  private val textFmtCache =
    graft.Memo[(SparkSession, String), String](graft.util.deleteRecursively)

  private def ensureTextFormats(s: SparkSession, dir: String): String =
    textFmtCache.get((s, dir), graft.util.inputFingerprint(dir, "documents.parquet")) {
      graft.Memo.tempDir("graft_textfmt") { path =>
        val docs = t(s, dir, "documents")
          .select("doc_id", "lang", "source", "text")
        docs.write.mode("overwrite").json(s"$path/jsonl")
        // RFC-4180 style: quote with `"`, escape by doubling — symmetric
        // options on both sides; multiLine on read survives embedded
        // newlines in text
        docs.write.mode("overwrite")
          .option("quote", "\"").option("escape", "\"")
          // the writer TRIMS cell whitespace by default — a silent
          // corruption for text columns (found by the adversarial spec)
          .option("ignoreLeadingWhiteSpace", "false")
          .option("ignoreTrailingWhiteSpace", "false")
          .option("nullValue", "\\N")
          .csv(s"$path/csv")
        // the other columnar interchange format Spark bundles a native
        // vectorized reader for — covers the binary round-trip too
        docs.write.mode("overwrite").orc(s"$path/orc")
      }
    }

  /** cold-cache hook for Bench — the round-trip query must pay its
    * three writes per measured run like every other memoized builder */
  def clearTextFormatsCache(): Unit = textFmtCache.clear()

  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("source", StringType), StructField("text", StringType)))

  /** JSONL + CSV + ORC ROUND-TRIP scan — training pipelines interchange
    * these formats constantly, and quoting/escaping/
    * encoding bugs corrupt silently: the documents table is written to
    * all three formats BY THE ENGINE, scanned back with explicit schemas
    * (never inferSchema — an inference pass is a second full scan and a
    * type lottery at 100 TB), and aggregated; the oracle computes the
    * SAME aggregates over the parquet truth, so one mangled newline,
    * quote, or unicode char in either direction breaks the hash. The
    * 60-bit-md5 text hash-sum (mod 2³¹−1 so the sum stays in int64) is
    * the content check; counts/lengths alone would miss transpositions. */
  def scanTextFormats(s: SparkSession, dir: String): DataFrame = {
    val path = ensureTextFormats(s, dir)
    val jsonl = s.read.schema(docsSchema).json(s"$path/jsonl")
    val csv = s.read.schema(docsSchema)
      .option("quote", "\"").option("escape", "\"").option("multiLine", "true")
      // the \N sentinel + emptyValue is the ONE combination (pinned by
      // SourcesSpec's adversarial case) where a quoted "" reads back as
      // the empty string instead of being conflated with null
      .option("nullValue", "\\N").option("emptyValue", "")
      .csv(s"$path/csv")
    val orc = s.read.schema(docsSchema).orc(s"$path/orc")
    def agg(df: DataFrame, fmt: String): DataFrame =
      df.groupBy()
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum(length(col("text"))).cast(LongType).as("total_chars"),
          sum(expr(
            "cast(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT) % 2147483647"))
            .cast(LongType).as("text_hash_sum"),
          sum(col("doc_id")).cast(LongType).as("id_sum"))
        .select(lit(fmt).as("format"), col("*"))
    agg(csv, "csv").unionByName(agg(jsonl, "jsonl"))
      .unionByName(agg(orc, "orc")).orderBy("format")
  }

  val scanTextFormatsSql =
    """WITH agg AS (
      |  SELECT count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
      |    sum(length(text))::BIGINT AS total_chars,
      |    sum(('0x' || substr(md5(text), 1, 15))::BIGINT % 2147483647)::BIGINT AS text_hash_sum,
      |    sum(doc_id)::BIGINT AS id_sum
      |  FROM documents)
      |SELECT 'csv' AS format, * FROM agg
      |UNION ALL SELECT 'jsonl' AS format, * FROM agg
      |UNION ALL SELECT 'orc' AS format, * FROM agg
      |ORDER BY format""".stripMargin

  // ---- B.2 projection / filter --------------------------------------
  def filterPred(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .where(col("event_type") === "error" && col("value") > 100)
      .select("event_id", "user_id", "value")
      .orderBy("event_id")

  val filterPredSql =
    """SELECT event_id, user_id, value FROM events
      |WHERE event_type = 'error' AND value > 100 ORDER BY event_id""".stripMargin

  /** derived arithmetic in exact DECIMAL (both engines), then round→double */
  def projectArith(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        r4((d2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - d2(col("l_discount")))
          * (lit(1).cast(DecimalType(18, 2)) + d2(col("l_tax")))).cast(DecimalType(38, 6)))
          .as("charge"))
      .orderBy("l_orderkey", "l_linenumber")

  val projectArithSql =
    """SELECT l_orderkey, l_linenumber,
      |CAST(round(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
      |     * (1 + CAST(l_tax AS DECIMAL(18,2))) AS DECIMAL(38,6)), 4) AS DOUBLE) AS charge
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  def filterInBetween(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .where(col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        && col("o_totalprice").between(50000, 100000))
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
      .orderBy("o_orderkey")

  val filterInBetweenSql =
    """SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
      |WHERE o_orderpriority IN ('1-URGENT','2-HIGH')
      |AND o_totalprice BETWEEN 50000 AND 100000 ORDER BY o_orderkey""".stripMargin

  /** outer-join-produced nulls + IS NULL / coalesce 3VL */
  def filterNull(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .select(col("c_custkey"), col("o_custkey").isNull.as("no_orders"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .orderBy("c_custkey")
  }

  val filterNullSql =
    """SELECT c_custkey, o.o_custkey IS NULL AS no_orders, coalesce(o.n_orders, 0) AS n_orders
      |FROM customer c LEFT JOIN (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1) o
      |ON c.c_custkey = o.o_custkey ORDER BY c_custkey""".stripMargin

  // ---- B.3 joins -----------------------------------------------------
  def joinInner(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), r4(sum(d2(col("o_totalprice")))).as("total"))
      .orderBy("c_mktsegment")
  }

  val joinInnerSql =
    """SELECT c_mktsegment, count(*) AS n,
      |CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 4) AS DOUBLE) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** small-dim broadcast join (explain-asserted BroadcastHashJoin) */
  def joinBroadcast(s: SparkSession, dir: String): DataFrame = {
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
      .orderBy("n_nationkey")
  }

  val joinBroadcastSql =
    """SELECT n_nationkey, n_name, r_name FROM nation JOIN region
      |ON n_regionkey = r_regionkey ORDER BY n_nationkey""".stripMargin

  def joinLeft(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"),
        r4(sum(d2(col("o_totalprice")))).as("total"))
      .orderBy("c_custkey")
  }

  val joinLeftSql =
    """SELECT c_custkey, count(o_orderkey) AS n_orders,
      |CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 4) AS DOUBLE) AS total
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  def joinFull(s: SparkSession, dir: String): DataFrame = {
    val su = t(s, dir, "supplier").groupBy("s_nationkey").agg(count(lit(1)).as("n_supp"))
    val cu = t(s, dir, "customer").groupBy("c_nationkey").agg(count(lit(1)).as("n_cust"))
    su.join(cu, su("s_nationkey") === cu("c_nationkey"), "full")
      .select(coalesce(col("s_nationkey"), col("c_nationkey")).as("nationkey"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"))
      .orderBy("nationkey")
  }

  val joinFullSql =
    """SELECT coalesce(s.s_nationkey, c.c_nationkey) AS nationkey,
      |coalesce(s.n_supp, 0) AS n_supp, coalesce(c.n_cust, 0) AS n_cust
      |FROM (SELECT s_nationkey, count(*) AS n_supp FROM supplier GROUP BY 1) s
      |FULL JOIN (SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY 1) c
      |ON s.s_nationkey = c.c_nationkey ORDER BY nationkey""".stripMargin

  def joinSemi(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
    c.join(o, Seq("c_custkey"), "left_semi")
      .select("c_custkey", "c_name").orderBy("c_custkey")
  }

  val joinSemiSql =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |ORDER BY c_custkey""".stripMargin

  def joinAnti(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
    c.join(o, Seq("c_custkey"), "left_anti")
      .select("c_custkey", "c_name").orderBy("c_custkey")
  }

  val joinAntiSql =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** Non-equi band join |price1 − price2| ≤ 5, executed as the bucketized
    * range join: bucket = floor(price/width); each left row probes buckets
    * {b−1, b, b+1} via a 3-way explode, the join itself is an EQUI-join on
    * bucket with the band predicate as residual. This replaces the O(n·m)
    * broadcast nested loop with a shuffle hash join that scales linearly —
    * the standard distributed range-join rewrite. A probe bucket and a
    * build bucket can match at most once per pair (the build side has ONE
    * bucket per row), so no pair dedup is needed.
    *
    * The declared output AGGREGATES per left key (band-partner count +
    * first partner) rather than listing pairs: the band matches ~20 M
    * pairs at sf0.1 already, and an unaggregated all-pairs dump — which
    * then needs a global sort whose range-sampling pass re-executes the
    * whole join — is exactly the anti-pattern a 100 TB range join must
    * avoid. The aggregate keeps every matched pair flowing through the
    * map-side-combined partial agg, so the JOIN work measured is
    * undiminished; only the output is sane. */
  def joinThetaRange(s: SparkSession, dir: String): DataFrame = {
    val width = 5.0
    val p1 = t(s, dir, "part")
      .select(col("p_partkey").as("k1"), col("p_retailprice").as("pr1"))
      .withColumn("bucket", explode(expr(
        s"array(floor(pr1 / $width) - 1, floor(pr1 / $width), floor(pr1 / $width) + 1)")))
    val p2 = t(s, dir, "part")
      .select(col("p_partkey").as("k2"), col("p_retailprice").as("pr2"))
      .withColumn("bucket", floor(col("pr2") / width))
    p1.join(p2, Seq("bucket"))
      .where(col("k1") < col("k2") && abs(col("pr1") - col("pr2")) <= width)
      .groupBy(col("k1"))
      .agg(count(lit(1)).as("n_band"), min(col("k2")).as("first_match"))
      .orderBy("k1")
  }

  val joinThetaRangeSql =
    """SELECT p1.p_partkey AS k1, count(*) AS n_band, min(p2.p_partkey) AS first_match
      |FROM part p1 JOIN part p2
      |ON p1.p_partkey < p2.p_partkey AND abs(p1.p_retailprice - p2.p_retailprice) <= 5.0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** As-of join: each purchase ⟵ the same user's latest prior signup/view.
    * Executed as a SINGLE window scan: one shuffle on user_id, then
    * last(match-candidate, ignoreNulls) over rows-to-current carries the
    * most recent prior event to every row — O(n) per user, vs the
    * range-join + row_number form whose fan-out is O(purchases × priors)
    * per user and goes quadratic as per-user history grows. */
  def joinAsof(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isPrior = col("event_type").isin("signup", "view")
    events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("event_type"))
      .withColumn("m_id", last(when(isPrior, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("m_type", last(when(isPrior, col("event_type")), ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase" && col("m_id").isNotNull)
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts_us").as("p_ts_us"), col("m_id"), col("m_type"))
      .orderBy("p_id")
  }

  val joinAsofSql =
    """SELECT p_id, user_id, p_ts_us, m_id, m_type FROM (
      |  SELECT event_id AS p_id, user_id, epoch_us(ts::TIMESTAMP) AS p_ts_us, event_type,
      |    last_value(CASE WHEN event_type IN ('signup','view') THEN event_id END IGNORE NULLS)
      |      OVER w AS m_id,
      |    last_value(CASE WHEN event_type IN ('signup','view') THEN event_type END IGNORE NULLS)
      |      OVER w AS m_type
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts::TIMESTAMP) ASC, event_id ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |) x WHERE event_type = 'purchase' AND m_id IS NOT NULL ORDER BY p_id""".stripMargin

  /** Interval join — ALL of a user's views within the trailing hour of
    * each purchase (conversion attribution; the batch twin of
    * `Pipeline.streamConversions`, pinned equal in StreamingSpec). Same
    * bucketized-range-join rewrite as [[joinThetaRange]]: both sides
    * bucket on (user_id, hour); each purchase probes buckets {h−1, h} so
    * every candidate pair co-locates once, the join is an EQUI-join on
    * (user_id, bucket) with the interval as residual — shuffle-partitioned
    * on a scaling key, no per-user window over unbounded history, no
    * nested loop. A (view, purchase) pair can match in at most one probed
    * bucket (the view's own), so no dedup pass is needed. */
  def joinInterval(s: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val ev = events(s, dir)
    val v = ev.where(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id"), col("ts_us").as("v_ts"))
      .withColumn("bkt", floor(col("v_ts") / hourUs))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts_us").as("p_ts"))
      .withColumn("bkt", explode(expr(
        s"array(floor(p_ts / $hourUs) - 1, floor(p_ts / $hourUs))")))
    p.join(v, Seq("user_id", "bkt"))
      .where(col("v_ts") <= col("p_ts") && col("v_ts") >= col("p_ts") - hourUs)
      .select(col("p_id"), col("user_id"), col("p_ts"), col("v_id"), col("v_ts"))
      .orderBy("p_id", "v_id")
  }

  val joinIntervalSql =
    """SELECT p.event_id AS p_id, p.user_id, epoch_us(p.ts::TIMESTAMP) AS p_ts,
      |  v.event_id AS v_id, epoch_us(v.ts::TIMESTAMP) AS v_ts
      |FROM events p JOIN events v
      |  ON p.user_id = v.user_id
      | AND p.event_type = 'purchase' AND v.event_type = 'view'
      | AND epoch_us(v.ts::TIMESTAMP) <= epoch_us(p.ts::TIMESTAMP)
      | AND epoch_us(v.ts::TIMESTAMP) >= epoch_us(p.ts::TIMESTAMP) - 3600000000
      |ORDER BY p_id, v_id""".stripMargin

  def joinCross(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "region").select(col("r_name"))
      .crossJoin(t(s, dir, "supplier").select(col("s_name")))
      .orderBy("r_name", "s_name")

  val joinCrossSql =
    "SELECT r_name, s_name FROM region CROSS JOIN supplier ORDER BY r_name, s_name"

  // ---- B.6 sort / limit / top-K --------------------------------------
  /** global top-10 (TakeOrderedAndProject physical op) */
  def topkGlobal(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)

  val topkGlobalSql =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin

  def sortMulti(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier")
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .orderBy(col("s_nationkey").asc_nulls_first, col("s_acctbal").desc, col("s_suppkey").asc)

  val sortMultiSql =
    """SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
      |ORDER BY s_nationkey ASC NULLS FIRST, s_acctbal DESC, s_suppkey ASC""".stripMargin

  /** top-3 per group (ClickHouse LIMIT BY analog) */
  def topkPerGroup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rn")
  }

  val topkPerGroupSql =
    """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
      |  SELECT *, row_number() OVER (PARTITION BY o_custkey
      |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn FROM orders) x
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  // ---- B.7 set ops ---------------------------------------------------
  def unionAll(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      .unionAll(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))
      .orderBy("nk")

  val unionAllSql =
    """SELECT c_nationkey AS nk FROM customer UNION ALL
      |SELECT s_nationkey FROM supplier ORDER BY nk""".stripMargin

  def unionDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      .union(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))
      .distinct()
      .orderBy("nk")

  val unionDistinctSql =
    """SELECT c_nationkey AS nk FROM customer UNION
      |SELECT s_nationkey FROM supplier ORDER BY nk""".stripMargin

  def intersectQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))
      .orderBy("nk")

  val intersectSql =
    """SELECT c_nationkey AS nk FROM customer INTERSECT
      |SELECT s_nationkey FROM supplier ORDER BY nk""".stripMargin

  def exceptQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      .except(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))
      .orderBy("nk")

  val exceptSql =
    """SELECT c_nationkey AS nk FROM customer EXCEPT
      |SELECT s_nationkey FROM supplier ORDER BY nk""".stripMargin

  /** bag-semantics set difference (EXCEPT ALL): each nation key keeps
    * max(customers − suppliers, 0) copies — the multiplicity-aware form
    * the distinct EXCEPT collapses. Spark plans both as aggregates +
    * joins, not sorts, so multiplicity math stays shuffle-partial. The
    * result is emitted as (nk, n_copies) rather than repeated rows so
    * the ordering is total without a synthetic tiebreak. */
  def exceptAllQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      .exceptAll(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))
      .groupBy("nk").agg(count(lit(1)).as("n_copies"))
      .orderBy("nk")

  val exceptAllSql =
    """SELECT nk, count(*) AS n_copies FROM (
      |  SELECT c_nationkey AS nk FROM customer EXCEPT ALL
      |  SELECT s_nationkey FROM supplier) x
      |GROUP BY nk ORDER BY nk""".stripMargin

  /** bag-semantics intersection (INTERSECT ALL): min(multiplicity) per
    * key, same counted-output convention as [[exceptAllQ]] */
  def intersectAllQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      .intersectAll(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))
      .groupBy("nk").agg(count(lit(1)).as("n_copies"))
      .orderBy("nk")

  val intersectAllSql =
    """SELECT nk, count(*) AS n_copies FROM (
      |  SELECT c_nationkey AS nk FROM customer INTERSECT ALL
      |  SELECT s_nationkey FROM supplier) x
      |GROUP BY nk ORDER BY nk""".stripMargin

  /** correlated scalar subquery — Catalyst decorrelates it into an
    * aggregate + join (RewriteCorrelatedScalarSubquery); the inner average
    * is computed as exact-decimal-sum / count so the strict comparison is
    * deterministic cross-engine */
  def scalarSubquery(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("customer_ss")
    s.sql(
      """SELECT c_custkey, c_nationkey, c_acctbal FROM customer_ss c
        |WHERE c_acctbal > (
        |  SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |  FROM customer_ss c2 WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin)
  }

  val scalarSubquerySql =
    """SELECT c_custkey, c_nationkey, c_acctbal FROM customer c
      |WHERE c_acctbal > (
      |  SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      |  FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
      |ORDER BY c_custkey""".stripMargin

  /** salted hot-key join (the explicit skew fallback from Skew.saltedJoin,
    * declared as a query). The derived key is Zipf-ish by construction:
    * every third lineitem lands on key 7, so one reducer would own ~36% of
    * the fact table in a plain shuffled equi-join. Salting scatters the
    * big side across 8 sub-keys and replicates the 25-row dim 8×, so the
    * hot key's rows land on 8 reducers instead of one. The dim side is
    * hinted shuffle_hash — broadcasting 25 rows would of course also work,
    * but then the salt would never reach a shuffle; the declared query
    * pins the pattern for the modest-but-not-broadcastable dim case.
    * Salting is plan-side only: the oracle is the plain join. */
  def joinSkewSalted(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").withColumn("sk",
      when(col("l_partkey") % 3 === 0, lit(7)).otherwise(col("l_partkey") % 25)
        .cast(LongType))
    val dim = t(s, dir, "nation")
      .select(col("n_nationkey").cast(LongType).as("sk"), col("n_name"))
    Skew.saltedJoin(li, dim.hint("shuffle_hash"), "sk", salts = 8)
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_rows"), r4(sum(d2(col("l_quantity")))).as("sum_qty"))
      .orderBy("n_name")
  }

  val joinSkewSaltedSql =
    """SELECT n_name, count(*) AS n_rows,
      |CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 4) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN nation
      |ON (CASE WHEN l_partkey % 3 = 0 THEN 7 ELSE l_partkey % 25 END) = n_nationkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** memoized z-ordered events layout per (session, dir) — built once
    * via [[graft.sources.Sinks.writeZOrdered]], staleness-guarded like
    * `Bucketing.tableCache`; Bench clears it before every measured run
    * so `q_scan_zorder` pays its full layout build honestly, and
    * replaced layouts are deleted from disk. */
  private val zorderCache =
    graft.Memo[(SparkSession, String), String](graft.util.deleteRecursively)

  def clearZOrderCache(): Unit = zorderCache.clear()

  private def zorderedEvents(s: SparkSession, dir: String): String =
    zorderCache.get((s, dir), inputFingerprint(dir, "events.parquet")) {
      // NOTE (r22): a fanOut on the layout build's input was tried
      // and REVERTED (q_scan_zorder 1.70/1.61 s fanned vs 1.91/1.48 s
      // plain — a wash): the ~0.6 s serial quantile/bucket head sits
      // under the exchange+AQE-job break-even.
      graft.Memo.tempDir("graft_zevents")(graft.sources.Sinks.writeZOrdered(
        events(s, dir).select("event_id", "user_id", "ts", "ts_us", "event_type", "value"),
        _, Seq("user_id", "ts_us")))
    }

  /** B.1 scan over the multi-dimension Z-ORDERED layout
    * ([[graft.sources.Sinks.writeZOrdered]]): a two-dimensional selection
    * (user slice × time slice) — the scan shape the layout exists for.
    * With rows Morton-clustered, parquet row-group min/max stats prune on
    * BOTH predicates, where a single-column sort prunes only its own key.
    * The oracle pins round-trip fidelity of the layout (the
    * interleave/sort must lose or duplicate nothing); the pruning
    * geometry itself is asserted in SinksSpec. */
  def scanZOrder(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(zorderedEvents(s, dir))
      .where(col("user_id").between(10, 60) &&
        col("ts") >= lit("2024-01-10 00:00:00").cast(TimestampType) &&
        col("ts") < lit("2024-01-15 00:00:00").cast(TimestampType))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), r4(sum(d2(col("value")))).as("sum_value"),
        min(col("event_id")).as("min_eid"), max(col("event_id")).as("max_eid"))
      .orderBy("event_type")

  val scanZOrderSql =
    """SELECT event_type, count(*) AS n,
      |  CAST(round(sum(CAST(value AS DECIMAL(18,2))), 4) AS DOUBLE) AS sum_value,
      |  min(event_id) AS min_eid, max(event_id) AS max_eid
      |FROM events
      |WHERE user_id BETWEEN 10 AND 60
      |  AND ts::TIMESTAMP >= TIMESTAMP '2024-01-10 00:00:00'
      |  AND ts::TIMESTAMP < TIMESTAMP '2024-01-15 00:00:00'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** wide→long reshape (UNPIVOT / melt): the four lineitem measures
    * become (measure, value) rows, profiled per measure. Spark's native
    * `unpivot` plans an Expand projection — the 4× row fan-out is pure
    * map-side work, so the only shuffle is the final 4-group aggregate
    * (map-side-combined down to 4 rows per task at any input size). */
  def unpivotMeasures(s: SparkSession, dir: String): DataFrame =
    // fanOut (util.scala): the 4× Expand + decimal partial aggregate are
    // map-side of the measure groupBy and serialized on the 3-row-group
    // lineitem scan at sf0.1 (tools.Profile: one 1.4 s 3-task stage —
    // the whole query); the exchange ships the 6 input columns once and
    // disarms itself where scans split wide.
    fanOut(t(s, dir, "lineitem"), col("l_orderkey"), col("l_linenumber"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "measure", "value")
      .groupBy("measure")
      .agg(count(lit(1)).as("n_rows"),
        r4(sum(d2(col("value")))).as("sum_value"),
        r4(min(col("value"))).as("min_value"),
        r4(max(col("value"))).as("max_value"))
      .orderBy("measure")

  val unpivotMeasuresSql =
    """SELECT measure, count(*) AS n_rows,
      |  CAST(round(sum(CAST(value AS DECIMAL(18,2))), 4) AS DOUBLE) AS sum_value,
      |  CAST(round(min(value), 4) AS DOUBLE) AS min_value,
      |  CAST(round(max(value), 4) AS DOUBLE) AS max_value
      |FROM (UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
      |               l_discount, l_tax FROM lineitem)
      |      ON l_quantity, l_extendedprice, l_discount, l_tax
      |      INTO NAME measure VALUE value)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** MERGE INTO / upsert semantics (the warehouse maintenance op every
    * engine ships; ClickHouse reaches it via ReplacingMergeTree, Delta/
    * Iceberg via MERGE): target = orders, source = a deterministic
    * change batch derived from it (updates: every 13th key gets status
    * 'U' and +10.00 on the price — decimal ADDITION, exact in both
    * engines; inserts: the same keys negated, status 'I', price
    * 100.00). Classic Spark shape: ONE full-outer shuffle join on the
    * key, action = which side(s) matched, merged columns by coalesce
    * (source wins). Output is the 3-row per-action audit (counts +
    * exact decimal sums over ALL merged rows), so the hash compare
    * pins the complete merge content without shipping the table. */
  def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val target = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        d2(col("o_totalprice")).as("price"))
    val updates = target.where(col("o_orderkey") % 13 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        lit("U").as("o_orderstatus"),
        (col("price") + d2(lit(10))).as("price"))
    val inserts = updates
      .select((-col("o_orderkey")).as("o_orderkey"), col("o_custkey"),
        lit("I").as("o_orderstatus"), d2(lit(100)).as("price"))
    val source = updates.unionByName(inserts)
    val merged = target.as("tgt")
      .join(source.as("src"), Seq("o_orderkey"), "full_outer")
      .select(col("o_orderkey"),
        when(col("tgt.o_custkey").isNull, lit("insert"))
          .when(col("src.o_custkey").isNull, lit("keep"))
          .otherwise(lit("update")).as("action"),
        coalesce(col("src.o_custkey"), col("tgt.o_custkey")).as("cust"),
        coalesce(col("src.price"), col("tgt.price")).as("price"))
    merged.groupBy("action")
      .agg(count(lit(1)).as("n_rows"),
        r4(sum(col("price"))).as("sum_price"),
        count_distinct(col("cust")).as("n_cust"))
      .orderBy("action")
  }

  val mergeUpsertSql: String =
    """WITH target AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |    o_totalprice::DECIMAL(18,2) AS price FROM orders),
      |updates AS (
      |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
      |    price + 10::DECIMAL(18,2) AS price
      |  FROM target WHERE o_orderkey % 13 = 0),
      |inserts AS (
      |  SELECT -o_orderkey AS o_orderkey, o_custkey, 'I' AS o_orderstatus,
      |    100::DECIMAL(18,2) AS price FROM updates),
      |src AS (SELECT * FROM updates UNION ALL SELECT * FROM inserts),
      |merged AS (
      |  SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
      |    CASE WHEN t.o_custkey IS NULL THEN 'insert'
      |         WHEN s.o_custkey IS NULL THEN 'keep'
      |         ELSE 'update' END AS action,
      |    coalesce(s.o_custkey, t.o_custkey) AS cust,
      |    coalesce(s.price, t.price) AS price
      |  FROM target t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey)
      |SELECT action, count(*) AS n_rows,
      |  CAST(round(sum(price), 4) AS DOUBLE) AS sum_price,
      |  count(DISTINCT cust) AS n_cust
      |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin

  /** Incremental materialized-view maintenance — the pattern that keeps
    * a 100 TB rollup queryable without nightly full recomputes: the MV
    * stores RE-AGGREGABLE partial states (count, exact decimal sum,
    * min, max — each mergeable by sum/sum/min/max), a delta batch
    * aggregates to the same partial schema, and the refresh is
    * `union → re-aggregate` over O(groups) rows, NOT a rescan of the
    * base. Derived measures (avg) are computed only at read time from
    * the merged states — storing avg itself would make the view
    * unmergeable. The declared query builds the base MV (orders before
    * 2000-01-01), merges the delta (orders after), and the oracle is
    * the FULL RECOMPUTE over all orders — hash equality IS the proof
    * that the incremental path loses nothing. The same split runs at
    * any batch cadence: cost per refresh is O(delta + groups). */
  /** re-aggregable partial states of the orders rollup over any
    * orders-shaped slice (o_orderpriority, o_orderdate, o_totalprice) —
    * shared by the declared incremental query, the streaming
    * maintenance twin ([[graft.streaming.Pipeline.streamMvMaintain]]),
    * and the at-rest reader [[readMv]], so the three can never drift */
  def mvPartialStates(slice: DataFrame): DataFrame =
    slice
      .select(col("o_orderpriority"),
        year(col("o_orderdate")).cast(LongType).as("o_year"),
        col("o_totalprice"))
      .groupBy("o_orderpriority", "o_year")
      .agg(count(lit(1)).as("n"),
        sum(d2(col("o_totalprice"))).as("total"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))

  /** merge any number of partial-state rows per group back into one —
    * total stays in the canonical decimal(28,2) state type so a merged
    * fold (compactMvLog) can land back in the same log its inputs came
    * from: sum() widens precision per nesting level, and a log mixing
    * decimal(28,2) and decimal(38,2) parquet files reads back as a
    * physical-type mismatch */
  def mvMergeStates(states: DataFrame): DataFrame =
    states.groupBy("o_orderpriority", "o_year")
      .agg(sum(col("n")).as("n"),
        sum(col("total")).cast(DecimalType(28, 2)).as("total"),
        min(col("min_price")).as("min_price"),
        max(col("max_price")).as("max_price"))

  /** read-time presentation: derived measures (avg) from merged states */
  def mvPresent(merged: DataFrame): DataFrame =
    merged.select(col("o_orderpriority"), col("o_year"), col("n"),
        r4(col("total")).as("total"),
        r4(col("min_price")).as("min_price"),
        r4(col("max_price")).as("max_price"),
        r4f(col("total").cast(DoubleType) / col("n")).as("avg_price"))
      .orderBy("o_orderpriority", "o_year")

  /** the MV AT REST: merge + present the partial-state log a
    * [[graft.streaming.Pipeline.streamMvMaintain]] stream appends —
    * O(batches × groups) rows in, O(groups) out. Replay-guarded against
    * compaction: partitions at or below the recorded fold ceiling
    * ([[IndexMaintenance.compactedThrough]]) are DROPPED — a batch the
    * compactor already folded into the `batch_id = -1` row that a
    * restarted stream replays (checkpoint behind the fold) would
    * otherwise double-count. */
  def readMv(s: SparkSession, mvDir: String): DataFrame =
    mvPresent(mvMergeStates(
      mvLogGuarded(s, mvDir)
        .select("o_orderpriority", "o_year", "n", "total", "min_price", "max_price")))

  /** the state log with the fold-ceiling guard applied (shared by
    * [[readMv]] and [[readMvSigned]]).
    *
    * CHECKPOINT-CONTINUITY contract (r20 ADVICE): the guard drops every
    * partition with 0 <= batch_id <= ceiling, which is only correct
    * when batch ids stay MONOTONE across restarts — i.e. a stream
    * restarted after a compaction must resume the SAME checkpoint. A
    * new generation started with a FRESH checkpoint restarts ids at 0,
    * so for a non-replayable source its first ceiling+1 batches would
    * be invisible here and the next compaction's fold filter would
    * permanently drop them. Starting a fresh checkpoint against a
    * compacted log requires clearing the `_compacted_through` sidecar
    * first (equivalently: treat the compacted dir + sidecar + checkpoint
    * as one unit). */
  private def mvLogGuarded(s: SparkSession, mvDir: String): DataFrame = {
    val df = s.read.parquet(mvDir)
    IndexMaintenance.compactedThrough(s, mvDir) match {
      case Some(through) =>
        df.where(col("batch_id") < 0 || col("batch_id") > through)
      case None => df
    }
  }

  def mvIncremental(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderdate"), col("o_totalprice"))
    val cut = lit("2000-01-01").cast(DateType)
    val baseMv = mvPartialStates(o.where(col("o_orderdate") < cut)) // the stored view
    val delta = mvPartialStates(o.where(col("o_orderdate") >= cut)) // the arriving batch
    mvPresent(mvMergeStates(baseMv.unionByName(delta)))
  }

  /** Partial refresh — the MV-maintenance pattern for HOLISTIC measures
    * (here count(DISTINCT o_custkey)) that no partial-state merge can
    * maintain: distinct counts don't add across batches. The refresh
    * instead (1) derives the TOUCHED group keys from the delta (a
    * group-count-bounded frame, broadcast), (2) serves every untouched
    * group straight from the stored view (anti join — zero recompute),
    * and (3) recomputes ONLY the touched groups from the full history
    * restricted by a semi join. At 100 TB with the base table
    * partitioned by the group key (e.g. date), step 3's semi join is
    * partition pruning: a day's delta re-reads a day, not the table —
    * the standard lambda-architecture refresh. The oracle is the full
    * recompute; hash equality proves the stitched view is exact. */
  def mvPartialRefresh(s: SparkSession, dir: String): DataFrame = {
    // NOTE (r22): a fanOut on `o` was tried and REVERTED (1.52/1.48 s
    // fanned vs 1.52/1.26 s plain): the two ~0.5 s serial view partials
    // sit under the exchange+AQE-job break-even.
    val o = t(s, dir, "orders")
      .select(col("o_orderpriority"),
        year(col("o_orderdate")).cast(LongType).as("o_year"),
        col("o_orderdate"), col("o_custkey"), col("o_totalprice"))
    def viewOf(df: DataFrame): DataFrame =
      df.groupBy("o_orderpriority", "o_year")
        .agg(count(lit(1)).as("n"),
          count_distinct(col("o_custkey")).as("n_cust"),
          sum(d2(col("o_totalprice"))).as("total_d"))
    val cut = lit("2000-01-01").cast(DateType)
    val storedMv = viewOf(o.where(col("o_orderdate") < cut))
    val touched = o.where(col("o_orderdate") >= cut)
      .select("o_orderpriority", "o_year").distinct()
    val untouched = storedMv
      .join(broadcast(touched), Seq("o_orderpriority", "o_year"), "left_anti")
    val recomputed = viewOf(
      o.join(broadcast(touched), Seq("o_orderpriority", "o_year"), "left_semi"))
    untouched.unionByName(recomputed)
      .select(col("o_orderpriority"), col("o_year"), col("n"), col("n_cust"),
        r4(col("total_d")).as("total"))
      .orderBy("o_orderpriority", "o_year")
  }

  /** Retraction — the DELETE path of incremental-view maintenance, the
    * CollapsingMergeTree analog (sign = ±1) a ClickHouse user of this
    * idiom reaches for the first time a correction or a GDPR delete
    * arrives. Two disciplines compose, one per measure class:
    *   - RETRACTION-MERGEABLE measures (count, exact decimal sum):
    *     deletes reduce to the SAME partial-state schema with sign −1
    *     and merge by plain sum — `stored + inserts − deletes` over
    *     O(groups) rows, never a history rescan; a group whose count
    *     reaches 0 is dropped (fully retracted).
    *   - NON-RETRACTABLE measures (min, max — removing the current min
    *     can only be answered by history): only the TOUCHED groups
    *     recompute, from history restricted by the broadcast semi join
    *     — the `q_mv_partial_refresh` discipline; untouched groups keep
    *     their stored values with zero recompute. At 100 TB with the
    *     base partitioned on the group key the semi join IS partition
    *     pruning.
    * The declared fixture: base = orders before 2000-01-01, inserts =
    * orders after, deletes = every 17th base order. The oracle is the
    * FULL RECOMPUTE over base ∖ deletes ∪ inserts — hash equality
    * proves the signed merge and the touched-group stitch lose nothing.
    * MvRetractSpec additionally pins signed-merged n/total ≡ the
    * recomputed n/total on touched groups (the merge IS exact, not just
    * end-to-end-coincidentally). Live form: [[graft.streaming.Pipeline
    * .streamMvRetract]] + [[readMvSigned]]. */
  /** signed partial states of an orders-shaped slice: the retractable
    * subset (count, exact decimal sum) weighted by ±1 */
  def mvSignedStates(slice: DataFrame, sign: Int): DataFrame =
    slice
      .select(col("o_orderpriority"),
        year(col("o_orderdate")).cast(LongType).as("o_year"),
        col("o_totalprice"))
      .groupBy("o_orderpriority", "o_year")
      .agg((count(lit(1)) * sign).cast(LongType).as("n"),
        sum(d2(col("o_totalprice")) * sign).cast(DecimalType(28, 2)).as("total"))

  /** merge signed state rows per group; groups retracted to n ≤ 0 drop;
    * total pinned to the canonical decimal(28,2) (see [[mvMergeStates]]) */
  def mvMergeSigned(states: DataFrame): DataFrame =
    states.groupBy("o_orderpriority", "o_year")
      .agg(sum(col("n")).as("n"),
        sum(col("total")).cast(DecimalType(28, 2)).as("total"))
      .where(col("n") > 0)

  def mvRetract(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderdate"), col("o_orderkey"),
        col("o_totalprice"))
    val cut = lit("2000-01-01").cast(DateType)
    val base = o.where(col("o_orderdate") < cut)
    val inserts = o.where(col("o_orderdate") >= cut)
    val deletes = base.where(col("o_orderkey") % 17 === 0)
    val keys = Seq("o_orderpriority", "o_year")
    val stored = mvPartialStates(base) // the stored view (n, total, min, max)
    val insD = mvSignedStates(inserts, 1)
    val delD = mvSignedStates(deletes, -1)
    val touched = insD.select(keys.map(col): _*)
      .unionByName(delD.select(keys.map(col): _*)).distinct()
    // retractable measures: one signed merge over O(groups) rows
    val merged = mvMergeSigned(
      stored.select(col("o_orderpriority"), col("o_year"), col("n"),
          col("total").cast(DecimalType(28, 2)).as("total"))
        .unionByName(insD).unionByName(delD))
    // non-retractable measures: untouched groups keep stored min/max,
    // touched groups recompute from post-change history via semi join
    val hist = base.join(deletes.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      .unionByName(inserts)
      .select(col("o_orderpriority"),
        year(col("o_orderdate")).cast(LongType).as("o_year"),
        col("o_totalprice"))
    val mmUntouched = stored
      .join(broadcast(touched), keys, "left_anti")
      .select(col("o_orderpriority"), col("o_year"),
        col("min_price"), col("max_price"))
    val mmTouched = hist
      .join(broadcast(touched), keys, "left_semi")
      .groupBy(keys.map(col): _*)
      .agg(min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))
    // inner join: a fully-retracted group has neither a merged row (n=0
    // dropped) nor surviving history — it leaves the view entirely
    mvPresent(merged.join(mmUntouched.unionByName(mmTouched), keys))
  }

  /** full recompute over base ∖ deletes ∪ inserts — the retraction path
    * must hash-match this */
  val mvRetractSql: String =
    """WITH hist AS (
      |  SELECT o_orderpriority, o_orderdate, o_totalprice FROM orders
      |  WHERE (o_orderdate < DATE '2000-01-01' AND o_orderkey % 17 <> 0)
      |     OR o_orderdate >= DATE '2000-01-01')
      |SELECT o_orderpriority, year(o_orderdate)::BIGINT AS o_year,
      |  count(*) AS n,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 4) AS DOUBLE) AS total,
      |  CAST(round(min(o_totalprice), 4) AS DOUBLE) AS min_price,
      |  CAST(round(max(o_totalprice), 4) AS DOUBLE) AS max_price,
      |  floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      |        * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS avg_price
      |FROM hist GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The signed MV log AT REST: merge the ± state rows a
    * [[graft.streaming.Pipeline.streamMvRetract]] stream appends and
    * present the retractable measures (count, exact sum, derived avg).
    * min/max are deliberately NOT served here — a signed log cannot
    * answer "what is the min after removing the current min" without
    * history; deployments that need them run the declared
    * [[mvRetract]]'s touched-group recompute against the base table, or
    * rebuild. O(batches × groups) in, O(groups) out. */
  def readMvSigned(s: SparkSession, mvDir: String): DataFrame =
    mvMergeSigned(
      mvLogGuarded(s, mvDir).select("o_orderpriority", "o_year", "n", "total"))
      .select(col("o_orderpriority"), col("o_year"), col("n"),
        r4(col("total")).as("total"),
        r4f(col("total").cast(DoubleType) / col("n")).as("avg_price"))
      .orderBy("o_orderpriority", "o_year")

  /** full recompute with the holistic measure — the stitched view must
    * hash-match this */
  val mvPartialRefreshSql: String =
    """SELECT o_orderpriority, year(o_orderdate)::BIGINT AS o_year,
      |  count(*) AS n, count(DISTINCT o_custkey) AS n_cust,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 4) AS DOUBLE) AS total
      |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** full recompute — the incremental path must hash-match this */
  val mvIncrementalSql: String =
    """SELECT o_orderpriority, year(o_orderdate)::BIGINT AS o_year,
      |  count(*) AS n,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 4) AS DOUBLE) AS total,
      |  CAST(round(min(o_totalprice), 4) AS DOUBLE) AS min_price,
      |  CAST(round(max(o_totalprice), 4) AS DOUBLE) AS max_price,
      |  floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      |        * 10000::DOUBLE + 0.5::DOUBLE) / 10000::DOUBLE AS avg_price
      |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val queries: Map[String, Q] = Map(
    "q_scan_zorder" -> scanZOrder _,
    "q_unpivot" -> unpivotMeasures _,
    "q_merge_upsert" -> mergeUpsert _,
    "q_mv_incremental" -> mvIncremental _,
    "q_mv_partial_refresh" -> mvPartialRefresh _,
    "q_mv_retract" -> mvRetract _,
    "q_scalar_subquery" -> scalarSubquery _,
    "q_scan_parquet" -> scanParquet _,
    "q_scan_pruned" -> scanPruned _,
    "q_scan_text_formats" -> scanTextFormats _,
    "q_filter_pred" -> filterPred _,
    "q_project_arith" -> projectArith _,
    "q_filter_in_between" -> filterInBetween _,
    "q_filter_null" -> filterNull _,
    "q_join_inner" -> joinInner _,
    "q_join_broadcast" -> joinBroadcast _,
    "q_join_left" -> joinLeft _,
    "q_join_full" -> joinFull _,
    "q_join_semi" -> joinSemi _,
    "q_join_anti" -> joinAnti _,
    "q_join_theta_range" -> joinThetaRange _,
    "q_join_asof" -> joinAsof _,
    "q_join_cross" -> joinCross _,
    "q_join_interval" -> joinInterval _,
    "q_join_skew_salted" -> joinSkewSalted _,
    "q_topk_global" -> topkGlobal _,
    "q_sort_multi" -> sortMulti _,
    "q_topk_per_group" -> topkPerGroup _,
    "q_union_all" -> unionAll _,
    "q_union_distinct" -> unionDistinct _,
    "q_intersect" -> intersectQ _,
    "q_except" -> exceptQ _,
    "q_except_all" -> exceptAllQ _,
    "q_intersect_all" -> intersectAllQ _)

  val oracle: Map[String, String] = Map(
    "q_scan_zorder" -> scanZOrderSql,
    "q_unpivot" -> unpivotMeasuresSql,
    "q_merge_upsert" -> mergeUpsertSql,
    "q_mv_incremental" -> mvIncrementalSql,
    "q_mv_partial_refresh" -> mvPartialRefreshSql,
    "q_mv_retract" -> mvRetractSql,
    "q_scalar_subquery" -> scalarSubquerySql,
    "q_scan_parquet" -> scanParquetSql,
    "q_scan_pruned" -> scanPrunedSql,
    "q_scan_text_formats" -> scanTextFormatsSql,
    "q_filter_pred" -> filterPredSql,
    "q_project_arith" -> projectArithSql,
    "q_filter_in_between" -> filterInBetweenSql,
    "q_filter_null" -> filterNullSql,
    "q_join_inner" -> joinInnerSql,
    "q_join_broadcast" -> joinBroadcastSql,
    "q_join_left" -> joinLeftSql,
    "q_join_full" -> joinFullSql,
    "q_join_semi" -> joinSemiSql,
    "q_join_anti" -> joinAntiSql,
    "q_join_theta_range" -> joinThetaRangeSql,
    "q_join_asof" -> joinAsofSql,
    "q_join_cross" -> joinCrossSql,
    "q_join_interval" -> joinIntervalSql,
    "q_join_skew_salted" -> joinSkewSaltedSql,
    "q_topk_global" -> topkGlobalSql,
    "q_sort_multi" -> sortMultiSql,
    "q_topk_per_group" -> topkPerGroupSql,
    "q_union_all" -> unionAllSql,
    "q_union_distinct" -> unionDistinctSql,
    "q_intersect" -> intersectSql,
    "q_except" -> exceptSql,
    "q_except_all" -> exceptAllSql,
    "q_intersect_all" -> intersectAllSql)
}
