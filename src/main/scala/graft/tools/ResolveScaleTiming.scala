package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool (not shipped surface): measure the entity-resolution family's
  * scaling by replicating the sf0.1 customer table K× in-memory and
  * driving the SAME frame-parameterized operators the declared queries
  * use (Resolve.scoredPairsFrom / clusterLabelsFrom / joinFuzzyFrom).
  *
  * Replication is measure-preserving and collision-free across copies
  * AT ANY K: copy k keeps the base key's digit block verbatim
  * ("%09d" of the ORIGINAL custkey, so every within-copy name pair is
  * bit-identical to its base-copy twin) and replaces the constant
  * "Customer#" head with a per-copy two-letter tag repeated ×3
  * ("AAABBB#…"), so any cross-copy name pair differs in ≥ 3 positions —
  * Levenshtein ≥ 3, beyond every dial this family ships (dist ≤ 2).
  * Each copy therefore contributes an EXACTLY isomorphic within-copy ER
  * problem and zero cross-copy edges: the right null hypothesis for a
  * scaling measurement (the cross-copy-duplicate regime is a different
  * dial: it grows edges quadratically in K by construction, not by plan
  * behavior).
  *
  * History: through round 18 the replication offset custkey by
  * k·1,111,110 and reformatted the name from the NEW key, arguing ≥ 6
  * differing digits "barring carries". At K = 100 the carries arrived:
  * offsets satisfying (k'−k)·1,111,110 + (r'−r) = d·10^p (e.g.
  * k'−k = 9, r' = r+10 → exactly +10^7) produce genuine cross-copy
  * dist-1 name pairs, and at 100 copies those edges percolated the
  * union graph into a near-critical chained component whose diameter
  * blew past propagateMinLabel's 2^17 reach — the convergence guard
  * correctly REFUSED to label it (and prompted raising the engine cap
  * to 2^21, Dedup.ClusterIters). The letter-tag scheme removes the
  * artifact class entirely instead of betting on sparser arithmetic.
  *
  * Printed per K: wall seconds for the scored-pair front and the full
  * cluster labeling, plus candidate-pair and match-edge counts, and the
  * within-nation cross-join pair count the blocking avoided.
  *
  * Usage: runMain graft.tools.ResolveScaleTiming [sfDir] [K ...]
  *        (defaults: /root/testdata/sf0.1, K = 1 10)
  */
object ResolveScaleTiming {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val ks = if (args.length > 1) args.drop(1).toSeq.map(_.toInt) else Seq(1, 10)
    val spark = graft.GraftSession.local(graft.GraftSession.envCores)
    spark.sparkContext.setLogLevel("WARN")

    val base = spark.read.parquet(s"$dir/customer.parquet")
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")

    def replicated(k: Int): DataFrame =
      (0 until k).map { i =>
        // per-copy tag: two letters repeated x3 — cross-copy names differ
        // in >= 3 positions, so no dist <= 2 edges can cross copies
        val tag = ('A' + i / 26).toChar.toString * 3 +
          ('A' + i % 26).toChar.toString * 3
        base.select(
          (col("c_custkey") + lit(i * 10000000L)).as("c_custkey"),
          concat(lit(tag + "#"),
            format_string("%09d", col("c_custkey"))).as("c_name"),
          col("c_nationkey"), col("c_mktsegment"), col("c_acctbal"))
      }.reduce(_ union _).repartition(32).cache()

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    for (k <- ks) {
      val cust = replicated(k)
      val n = cust.count() // materialize the cache so walls time the operator
      // within-nation cross-join pairs the blocking avoided: sum over
      // nations of m*(m-1)/2
      val crossPairs = cust.groupBy("c_nationkey").count()
        .agg(sum(col("count") * (col("count") - 1) / 2)).collect()(0).getDouble(0)
      val (pairs, tPairs) = time {
        graft.operators.Resolve.scoredPairsFrom(cust).count()
      }
      val (edges, tEdges) = time {
        graft.operators.Resolve.scoredPairsFrom(cust)
          .where(col("score") >= graft.operators.Resolve.MatchThreshold).count()
      }
      val (nEntities, tClusters) = time {
        graft.operators.Resolve.clusterLabelsFrom(cust)
          .agg(countDistinct(col("entity_id"))).collect()(0).getLong(0)
      }
      println(f"""{"k":$k,"rows":$n,"cross_pairs_avoided":${crossPairs.toLong},""" +
        f""""candidate_pairs":$pairs,"match_edges":$edges,"entities":$nEntities,""" +
        f""""sec_pairs":$tPairs%.2f,"sec_edges":$tEdges%.2f,"sec_clusters":$tClusters%.2f}""")

      // ---- the SERVING LOOP at the same K ladder (r19 verdict ask #6):
      // index/golden built over the K-scaled population minus a
      // FIXED-SIZE batch (the base copy's %10>=8 slice, constant rows at
      // every K), then the per-batch path is timed: probe→assign,
      // golden upsert (both appends), record deletion. The O(batch)
      // claim predicts near-flat walls as K grows — the only K-term
      // left is the index/members SCAN (a plain parquet layout carries
      // no pruning metadata; the at-rest scaladoc names partitionBy(nat)
      // as the pruning layout at deployment scale).
      val root = java.nio.file.Files.createTempDirectory(s"graft_rst_serve_$k").toString
      val ei = s"$root/ei"
      val gt = s"$root/golden"
      val batch = cust.where(col("c_custkey") < 10000000L && col("c_custkey") % 10 >= 8)
      val idxPop = cust.join(batch.select("c_custkey"), Seq("c_custkey"), "left_anti")
      val nBatch = batch.count()
      val (_, tBuildIdx) = time { graft.operators.Resolve.writeEntityIndex(idxPop, ei) }
      val (_, tBuildGt) = time { graft.operators.Resolve.writeGoldenTable(idxPop, gt) }
      val (_, tAssign) = time {
        graft.operators.Resolve.probeEntityAssign(spark, batch, ei)
          .write.format("noop").mode("overwrite").save()
      }
      val (_, tUpsert) = time {
        graft.operators.Resolve.upsertGoldenTable(spark, batch, ei, gt, seq = 0L)
        graft.operators.Resolve.appendEntityIndex(batch, ei)
      }
      val delKeys = batch.select("c_custkey").limit(500)
      val (_, tDelete) = time {
        graft.operators.Resolve.deleteGoldenRecords(spark, delKeys, gt, seq = 1L)
      }
      val (nGolden, tRead) = time {
        graft.operators.Resolve.readGoldenTable(spark, gt).count()
      }
      println(f"""{"k":$k,"batch_rows":$nBatch,"golden_entities":$nGolden,""" +
        f""""sec_build_index":$tBuildIdx%.2f,"sec_build_golden":$tBuildGt%.2f,""" +
        f""""sec_probe_assign":$tAssign%.2f,"sec_golden_upsert":$tUpsert%.2f,""" +
        f""""sec_delete":$tDelete%.2f,"sec_read":$tRead%.2f}""")
      graft.util.deleteRecursively(root)
      cust.unpersist()
    }
    spark.stop()
  }
}
