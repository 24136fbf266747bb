package graft.operators

import graft.util._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2 B.15: bucketed (pre-partitioned) tables and the
  * shuffle-free co-located join over them.
  *
  * At 100 TB the single biggest recurring shuffle is the fact⋈dim join
  * repeated by every downstream query. Bucketing amortizes it: write the
  * fact and dimension ONCE bucketed (hash-clustered + per-file sorted) on
  * the join key, and every subsequent sort-merge join on that key reads
  * co-located buckets directly — zero Exchange on either side, per plan
  * assert in BucketingSpec. This is the at-rest twin of what
  * `Similarity.writeIvfIndex` does for ANN: the LAYOUT is the
  * optimization, built once after ingest and reused by any number of
  * queries from any Spark job sharing the catalog.
  *
  * Scale posture: bucket count is a layout constant (8 here for local
  * test SFs; a 100 TB deployment sizes it to executors × a small factor,
  * e.g. 4096 — re-bucketing is one full shuffle, paid once). The bucketed
  * write itself repartitions by the bucket key so each task owns whole
  * buckets and file count stays bounded at any input size (no
  * one-file-per-task-per-bucket explosion). */
object Bucketing {

  val NumBuckets = 8

  /** (layout dir, (ordersTable, customerTable)) memoized per
    * (session, dir), staleness-guarded on both inputs' fingerprints; the
    * layout dir is deleted on replace/clear like every path memo's. */
  private val tableCache =
    graft.Memo[(SparkSession, String), (String, (String, String))](
      v => graft.util.deleteRecursively(v._1))

  /** Ensures bucketed twins of `orders` and `customer` exist for `dir`
    * (build-once), returns their catalog table names. External tables
    * under a run-private temp path: the catalog is in-memory per session,
    * so names only need to be unique per (dir) within one JVM. */
  def bucketedTables(s: SparkSession, dir: String): (String, String) =
    tableCache.get((s, dir),
        inputFingerprint(dir, "orders.parquet") + ":" +
          inputFingerprint(dir, "customer.parquet")) {
      val suffix = java.util.UUID.nameUUIDFromBytes(dir.getBytes("UTF-8"))
        .toString.replace("-", "").take(8)
      val names = (s"graft_orders_$suffix", s"graft_customer_$suffix")
      val base = graft.Memo.tempDir("graft_bucketed") { base =>
        // repartition on the bucket key first: every task then owns whole
        // buckets, so the write emits ≤ NumBuckets files per table however
        // many input partitions there are (bucketBy alone writes one file
        // per task per bucket — a small-file explosion at scale)
        t(s, dir, "orders")
          .repartition(NumBuckets, col("o_custkey"))
          .write.format("parquet")
          .bucketBy(NumBuckets, "o_custkey").sortBy("o_custkey")
          .option("path", s"$base/orders")
          .mode("overwrite").saveAsTable(names._1)
        t(s, dir, "customer")
          .repartition(NumBuckets, col("c_custkey"))
          .write.format("parquet")
          .bucketBy(NumBuckets, "c_custkey").sortBy("c_custkey")
          .option("path", s"$base/customer")
          .mode("overwrite").saveAsTable(names._2)
      }
      (base, names)
    }._2

  /** test/teardown hook: drops the memo and deletes the bucketed layout */
  def clearTableCache(): Unit = tableCache.clear()

  /** Per-customer order rollup through the CO-LOCATED join: both sides
    * read bucket-aligned on the join key, the merge hint pins the
    * sort-merge strategy (so the plan is identical at every SF instead of
    * flipping to broadcast at small ones), and the post-join groupBy on
    * the SAME key reuses the join's output partitioning — the whole
    * query's only shuffle is the final declared ORDER BY. Asserted in
    * BucketingSpec: zero ShuffleExchange under the SortMergeJoin.
    * Salting/AQE handle skew elsewhere; bucketing is the complementary
    * tool for the stable high-traffic key. */
  def joinBucketed(s: SparkSession, dir: String): DataFrame = {
    val (ot, ct) = bucketedTables(s, dir)
    val o = s.table(ot)
    val c = s.table(ct)
    o.hint("merge").join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_custkey"))
      .agg(min(col("c_mktsegment")).as("mkt"),
        count(lit(1)).as("n_orders"),
        r4(sum(d2(col("o_totalprice")))).as("total"))
      .orderBy("c_custkey")
  }

  /** oracle replays the same join over the PLAIN parquet tables — the
    * bucketed layout must be a pure physical optimization with identical
    * results */
  val joinBucketedSql =
    """SELECT c_custkey, min(c_mktsegment) AS mkt, count(*) AS n_orders,
      |CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 4) AS DOUBLE) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, Q] = Map(
    "q_join_bucketed" -> joinBucketed _)

  val oracle: Map[String, String] = Map(
    "q_join_bucketed" -> joinBucketedSql)
}
