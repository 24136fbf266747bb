package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool (not shipped surface): measure the winnowing dial — coverage
  * recall AND row reduction as a function of the window w on a given
  * corpus, against the exact substring pass as truth. The w a 100 TB
  * deployment picks trades shuffle volume (selected fraction ≈ 2/(w+1))
  * against the detection guarantee (runs ≥ L+w−1); this prints the
  * measured curve so the choice is data, not folklore — the winnow twin
  * of `CapSweep`. One line per w: selected-position fraction, marked
  * positions, covered dup chars, char recall vs exact.
  * Usage: WinnowSweep <sfDir> [w1,w2,...] (default 3,5,9,17,33).
  */
object WinnowSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val ws = args.drop(1).headOption
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(3, 5, 9, 17, 33))
    val spark = graft.GraftSession.benchLocal(graft.GraftSession.envCores.toString)
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.TextExpressions.register(spark)
    val L = graft.operators.Dedup.SubstrL

    val docs = graft.util.t(spark, sfDir, "documents")
      .select("doc_id", "text").localCheckpoint()
    val nPositions = docs.where(length(col("text")) >= L)
      .agg(sum(length(col("text")) - (L - 1))).collect().head.getLong(0)

    def mass(spans: DataFrame): Long =
      spans.agg(coalesce(sum(col("span_end") - col("span_start")), lit(0L)))
        .collect().head.getLong(0)

    val exactSpans = graft.operators.Dedup.substringSpansOf(
        graft.operators.Dedup.dupSubstrPositionsOf(docs))
      .localCheckpoint()
    val exactMass = mass(exactSpans)
    println(s"""{"tool":"WinnowSweep","sf":"$sfDir","l":$L,""" +
      s""""n_positions":$nPositions,"exact_dup_chars":$exactMass}""")

    for (w <- ws) {
      import org.apache.spark.sql.expressions.Window
      val sel = docs
        .where(length(col("text")) >= L)
        .select(col("doc_id"), col("text"),
          explode(graft.functions.TextExpressions
            .winnowPositions(col("text"), L, w)).as("pos"))
      val nSel = sel.count()
      val marked = sel
        .select(col("doc_id"), col("pos"),
          unhex(md5(expr(s"substring(text, cast(pos AS INT), $L)"))).as("h"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("h").orderBy("doc_id", "pos")))
        .where(col("rn") >= 2)
        .select("doc_id", "pos")
      // winnow islands merge at max(L, w): within a shared run selected
      // gaps are <= w, so the L merge fragments long runs once w > L
      val wSpans = graft.operators.Dedup
        .substringSpansOf(marked, math.max(L, w)).localCheckpoint()
      val wMass = mass(wSpans)
      // honest recall/precision: winnow spans are no longer a subset of
      // exact spans once bridging can absorb inter-run slack, so score
      // the clipped per-doc overlap, not the raw mass ratio
      val inter = wSpans.as("w").join(exactSpans.as("e"),
          col("w.doc_id") === col("e.doc_id") &&
          col("w.span_start") < col("e.span_end") &&
          col("e.span_start") < col("w.span_end"))
        .select((least(col("w.span_end"), col("e.span_end")) -
          greatest(col("w.span_start"), col("e.span_start"))).as("ov"))
        .agg(coalesce(sum(col("ov")), lit(0L)))
        .collect().head.getLong(0)
      def r4(d: Double): Double = math.floor(d * 10000 + 0.5) / 10000
      println(s"""{"w":$w,"selected":$nSel,""" +
        s""""selected_frac":${r4(nSel.toDouble / nPositions)},""" +
        s""""winnow_chars":$wMass,"overlap_chars":$inter,""" +
        s""""char_recall":${if (exactMass > 0) r4(inter.toDouble / exactMass) else 1.0},""" +
        s""""precision":${if (wMass > 0) r4(inter.toDouble / wMass) else 1.0}}""")
    }
    spark.stop()
  }
}
