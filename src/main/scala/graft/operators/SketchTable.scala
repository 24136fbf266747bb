package graft.operators

import graft.util._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The persisted SKETCH TABLE — the at-rest half of the re-aggregatable
  * sketch contract that `q_agg_hll_union` / `q_agg_freq_sketch` /
  * `q_agg_theta_ops` state rhetorically: one row per (event_type, day)
  * carrying HLL + frequent-items + theta states of that slice's users,
  * built in ONE pass over raw rows and persisted as plain parquet. Every
  * later question over ANY window — distinct users, top users, segment
  * overlap — is then kilobyte-state algebra over the table: at 100 TB
  * the raw rows are read once per day, never per dashboard query.
  *
  * `q_sketch_rollup` answers a two-week window per event type purely
  * from the persisted states. Its oracle is valid because the test
  * cardinalities keep both the frequent-items map (< 0.75·4096) and the
  * theta sketch (< 4096 retained) in their exact regimes — the same
  * contract the source queries document; the HLL column (never exact)
  * is exercised by the spec instead, so the oracle-pinned columns are
  * engine-exact. */
object SketchTable {

  /** (event_type, day) sketch states of an events slice — shared by the
    * batch table build and the streaming sink's per-micro-batch rows */
  def dailyStates(ev: DataFrame): DataFrame = {
    graft.functions.FreqSketch.register(ev.sparkSession)
    graft.functions.ThetaSketch.register(ev.sparkSession)
    graft.functions.KllSketch.register(ev.sparkSession)
    ev
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(
        count(lit(1)).as("n_rows"),
        hll_sketch_agg(col("user_id"), lit(12)).as("hll_users"),
        graft.functions.FreqSketch.freqAgg(
          col("user_id").cast(StringType)).as("freq_users"),
        graft.functions.ThetaSketch.thetaAgg(
          col("user_id").cast(StringType)).as("theta_users"),
        graft.functions.KllSketch.kllAgg(
          col("value").cast(DoubleType)).as("kll_value"))
  }

  /** build the per-(event_type, day) sketch table in one pass */
  def writeSketchDailies(s: SparkSession, dir: String, path: String): Unit =
    dailyStates(events(s, dir)).write.mode("overwrite").parquet(path)

  /** memoized sketch table per (session, dir), staleness-guarded on the
    * events fingerprint like the bucketed/z-order layouts; Bench clears
    * it so `q_sketch_rollup` pays its build honestly */
  private val tableCache =
    graft.Memo[(SparkSession, String), String](graft.util.deleteRecursively)

  def clearTableCache(): Unit = tableCache.clear()

  private def sketchTable(s: SparkSession, dir: String): String =
    tableCache.get((s, dir), inputFingerprint(dir, "events.parquet")) {
      graft.Memo.tempDir("graft_sketches")(writeSketchDailies(s, dir, _))
    }

  /** per-event-type rollup over ANY frame of sketch-state rows (daily
    * table, or the streaming sink's per-(batch, day) rows — states are
    * re-aggregatable, so the row granularity is irrelevant): distinct
    * users (theta merge), the top user and their event count (freq
    * merge + decode), and total rows — no raw-row access */
  def rollupStates(states: DataFrame): DataFrame = {
    graft.functions.FreqSketch.register(states.sparkSession)
    graft.functions.ThetaSketch.register(states.sparkSession)
    import graft.functions.{FreqSketch, ThetaSketch}
    states
      .groupBy("event_type")
      .agg(
        sum(col("n_rows")).as("n_rows"),
        ThetaSketch.thetaEstimate(
          ThetaSketch.thetaMerge(col("theta_users"))).as("n_users"),
        element_at(FreqSketch.freqTopK(
          FreqSketch.freqMerge(col("freq_users")), 1), 1).as("top"))
      .select(col("event_type"), col("n_rows"), col("n_users"),
        col("top.item").cast(LongType).as("top_user"),
        col("top.est").as("top_user_events"))
      .orderBy("event_type")
  }

  /** the declared two-week window over the persisted daily table */
  def sketchRollup(s: SparkSession, dir: String): DataFrame =
    rollupStates(s.read.parquet(sketchTable(s, dir))
      .where(col("day").between(lit("2024-01-08"), lit("2024-01-21"))))

  /** the ranks `q_agg_kll_quantile` decodes */
  val KllRanks: Seq[Double] = Seq(0.5, 0.9, 0.99)

  /** window VALUE-distribution percentiles from persisted KLL states
    * only — the quantile face of the sketch table. Oracle-free by
    * design (KLL is approximate at every cardinality, unlike the
    * freq/theta exact regimes); SketchTableSpec pins each estimate
    * inside the exact values at rank ± 2·ε for the library's published
    * ε ≈ 1.65% @ k = 200. */
  def kllQuantileRollup(s: SparkSession, dir: String): DataFrame = {
    graft.functions.KllSketch.register(s)
    s.read.parquet(sketchTable(s, dir))
      .where(col("day").between(lit("2024-01-08"), lit("2024-01-21")))
      .groupBy("event_type")
      .agg(graft.functions.KllSketch.kllQuantiles(
        graft.functions.KllSketch.kllMerge(col("kll_value")), KllRanks).as("q"))
      .select(col("event_type"),
        col("q").getItem(0).as("p50"),
        col("q").getItem(1).as("p90"),
        col("q").getItem(2).as("p99"))
      .orderBy("event_type")
  }

  /** exact-regime twin: the same window stats from raw rows; the in-
    * sketch top-1 tie-break ranks by the STRING item, mirrored here */
  val sketchRollupSql: String =
    """WITH w AS (SELECT event_type, user_id FROM events
      |  WHERE ts::DATE BETWEEN DATE '2024-01-08' AND DATE '2024-01-21'),
      |c AS (SELECT event_type, user_id, count(*) AS n FROM w GROUP BY 1, 2),
      |t AS (SELECT event_type, sum(n) AS n_rows, count(*) AS n_users
      |  FROM c GROUP BY 1),
      |top AS (SELECT event_type, user_id, n,
      |  row_number() OVER (PARTITION BY event_type
      |    ORDER BY n DESC, user_id::VARCHAR) AS rk FROM c)
      |SELECT t.event_type, t.n_rows::BIGINT AS n_rows,
      |  t.n_users::BIGINT AS n_users,
      |  top.user_id::BIGINT AS top_user, top.n::BIGINT AS top_user_events
      |FROM t JOIN top ON t.event_type = top.event_type AND top.rk = 1
      |ORDER BY t.event_type""".stripMargin

  val queries: Map[String, Q] = Map(
    "q_sketch_rollup" -> sketchRollup _,
    "q_agg_kll_quantile" -> kllQuantileRollup _)

  val oracle: Map[String, String] = Map(
    "q_sketch_rollup" -> sketchRollupSql)
}
