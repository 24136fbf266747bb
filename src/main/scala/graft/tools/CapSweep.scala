package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool (not shipped surface): measure incremental-probe RECALL as a
  * function of the band-index bucket cap on a given corpus — the tuning
  * instrument the 10× scaling run showed is needed (SimHash recall 0.78
  * under the default cap at 10× density; PERF.md "Round-12 scaling
  * measurement"). For each cap in the sweep, the SimHash index is built
  * at that cap and the declared batch split probed; truth is the
  * uncapped probe. Prints one line per cap: cap, n_truth, n_found,
  * recall, and the index bands/ row count (the fan-out price a bigger
  * cap pays). Usage: CapSweep <sfDir> [cap1,cap2,...] (default
  * 32,64,128,256).
  */
object CapSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/testdata_sf1")
    // "auto" sweeps the density-derived default (SimhashCapAuto); the
    // printed row shows the cap the derivation actually picked
    val caps = args.drop(1).headOption
      .map(_.split(",").map(_.trim).toSeq)
      .getOrElse(Seq("32", "64", "128", "256", "auto"))
      .map {
        case "auto" => graft.operators.Dedup.SimhashCapAuto
        case n => n.toInt
      }
    val spark = graft.GraftSession.benchLocal(graft.GraftSession.envCores.toString)
    spark.sparkContext.setLogLevel("WARN")

    val batch = graft.util.t(spark, sfDir, "documents")
      .where(col("doc_id") % graft.operators.Dedup.IncrementalMod
        === graft.operators.Dedup.IncrementalRem)
      .select("doc_id", "text")

    def probePairs(indexPath: String): DataFrame =
      graft.operators.Dedup.probeSimhashIndex(spark, batch, indexPath)
        .select("new_id", "dup_of")

    // truth: an effectively uncapped index (cap >= corpus size)
    val truthIdx = java.nio.file.Files.createTempDirectory("graft_capsweep_truth").toString
    graft.operators.Dedup.writeSimhashIndex(spark, sfDir, truthIdx,
      maxBucket = Int.MaxValue)
    val truth = probePairs(truthIdx).localCheckpoint()
    val nTruth = truth.count()
    println(s"CAPSWEEP truth pairs: $nTruth")

    for (cap <- caps) {
      val idx = java.nio.file.Files.createTempDirectory(s"graft_capsweep_$cap").toString
      graft.operators.Dedup.writeSimhashIndex(spark, sfDir, idx, maxBucket = cap)
      // the cap the build APPLIED (for auto, the derived value) lives in meta/
      val applied = spark.read.parquet(s"$idx/meta")
        .where(org.apache.spark.sql.functions.col("key") === "max_bucket")
        .select("value").collect().head.getLong(0)
      val label =
        if (cap == graft.operators.Dedup.SimhashCapAuto) s"auto($applied)"
        else cap.toString
      val nRows = spark.read.parquet(s"$idx/bands").count()
      val nFound = probePairs(idx).join(truth, Seq("new_id", "dup_of"), "left_semi").count()
      val recall = if (nTruth > 0) nFound.toDouble / nTruth else 1.0
      println(f"CAPSWEEP cap=$label%-12s index_rows=$nRows%-10d n_found=$nFound%-8d recall=$recall%.4f")
      graft.util.deleteRecursively(idx)
    }
    graft.util.deleteRecursively(truthIdx)
    spark.stop()
  }
}
