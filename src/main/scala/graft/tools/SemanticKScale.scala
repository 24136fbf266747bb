package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool (not shipped surface): measure the SemDeDup K-vs-N scaling
  * claim in `Similarity.dedupSemantic`'s scaladoc. The cluster-then-
  * compare shape does O(N²/K) pairwise work, so at a FIXED K the 10×
  * corpus pays ~10× per-cluster pair density (the BENCH_SF1_FULL
  * ratios). The documented production regime is K ≈ N / target-list-
  * size — K grows with N, per-cluster work stays constant, and the
  * family scales ~N. This tool runs the IDENTICAL plan core
  * (`semanticVerdicts`) at:
  *
  *   base   : sf0.1 embeddings, K = IvfK (the declared query's shape)
  *   fixedK : 10× embeddings,  K = IvfK        (the bench harness)
  *   grownK : 10× embeddings,  K = IvfK × 10   (the production dial)
  *
  * and reports wall (min-of-2 on a pre-materialized codebook, so the
  * pair phase is what's timed), candidate-pair counts, and max cluster
  * size. Expected: grownK pairs ≈ base pairs × 10 (not × 100), wall
  * ratio near-linear.
  *
  * Usage: SemanticKScale [baseDir] [scaledDir] (defaults
  * /root/testdata/sf0.1 and ./testdata_sf1).
  */
object SemanticKScale {
  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val scaledDir = args.drop(1).headOption.getOrElse("testdata_sf1")
    val spark = graft.GraftSession.local(graft.GraftSession.envCores)
    spark.sparkContext.setLogLevel("WARN")

    def emb(dir: String): DataFrame =
      spark.read.parquet(s"$dir/embeddings.parquet")

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // one verdict pass over a pre-trained, materialized book; noop sink
    def run(label: String, e: DataFrame, k: Int): (String, Double, Long, Long, Long) = {
      val n = e.count()
      val tTrain = System.nanoTime()
      val book = graft.operators.Similarity.trainCodebook(spark, e, k)
        .localCheckpoint() // train once; time the pair phase below
      val trainS = (System.nanoTime() - tTrain) / 1e9
      val walls = (1 to 2).map { _ =>
        timed {
          graft.operators.Similarity
            .semanticVerdicts(spark, e, book)
            .write.format("noop").mode("overwrite").save()
        }
      }
      // instrumentation pass (uncounted): candidate pairs + max cluster
      graft.functions.VectorExpressions.register(spark)
      val bookArr = book.agg(collect_list(struct(col("cid"), col("ce"))).as("cents"))
      val sizes = e.crossJoin(broadcast(bookArr))
        .select(graft.functions.VectorExpressions
          .ivfAssign(col("embedding"), col("cents")).as("cid"))
        .groupBy("cid").count()
      val stats = sizes.agg(
        sum((col("count") * (col("count") - 1) / 2).cast("long")).as("pairs"),
        max(col("count")).as("maxc")).collect()(0)
      println(f"$label%-8s n=$n%7d k=$k%4d train=$trainS%6.2fs " +
        f"wall=${walls.min}%6.2fs pairs=${stats.getLong(0)}%10d maxCluster=${stats.getLong(1)}%7d")
      (label, walls.min, n, stats.getLong(0), stats.getLong(1))
    }

    val k0 = graft.operators.Similarity.IvfK
    val base = run("base", emb(baseDir), k0)
    val fixedK = run("fixedK", emb(scaledDir), k0)
    val grownK = run("grownK", emb(scaledDir), k0 * 10)
    val out = Map(
      "base_wall" -> base._2, "fixedK_wall" -> fixedK._2, "grownK_wall" -> grownK._2,
      "base_pairs" -> base._4, "fixedK_pairs" -> fixedK._4, "grownK_pairs" -> grownK._4,
      "fixedK_ratio" -> fixedK._2 / base._2, "grownK_ratio" -> grownK._2 / base._2)
    println(out.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}"))
    spark.stop()
  }
}
