package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Dev tool (not shipped surface): measure the substring-dedup family on
  * documents LONGER than the old 2^20-position winnow ceiling — the
  * corpus shape (book-length docs, concatenated crawls) that round 14's
  * pair-comparison winnow and one-pass gram hashing exist for.
  *
  * Synthesizes `nDocs` random docs of `docChars` chars where each pair
  * (2k, 2k+1) shares a `sharedChars`-char region at different offsets,
  * then runs the EXACT pass (every gram shuffles) and the WINNOW pass at
  * the given w (only selected ~2/(w+1) of grams shuffle, spans bridged
  * at max(L, w)) and reports wall time, duplicated-char mass, and the
  * winnow spans' char recall against the exact spans.
  *
  * Usage: LongDocWinnow [nDocs] [docChars] [sharedChars] [w]
  * (defaults 16 docs × 3 Mchars, 200 kchar shared regions, w=50).
  */
object LongDocWinnow {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(16)
    val docChars = args.drop(1).headOption.map(_.toInt).getOrElse(3 << 20)
    val sharedChars = args.drop(2).headOption.map(_.toInt).getOrElse(200000)
    val w = args.drop(3).headOption.map(_.toInt).getOrElse(50)
    val spark = graft.GraftSession.local(graft.GraftSession.envCores)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    graft.functions.TextExpressions.register(spark)
    val L = graft.operators.Dedup.SubstrL

    def rand(n: Int, r: scala.util.Random): String = {
      val sb = new StringBuilder(n)
      (0 until n).foreach(_ => sb += ('a' + r.nextInt(26)).toChar)
      sb.toString
    }
    val docs = spark.sparkContext
      .parallelize(0 until nDocs, math.min(nDocs, 32))
      .map { i =>
        val rnd = new scala.util.Random(1000 + i)
        val shared = rand(sharedChars, new scala.util.Random(77 + i / 2))
        val off = (docChars / 4) * (1 + (i % 2))
        (i.toLong, rand(off, rnd) + shared + rand(docChars - off - sharedChars, rnd))
      }
      .toDF("doc_id", "text")
      .localCheckpoint() // time the passes, not the generator

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def dupChars(spans: DataFrame): Long = spans
      .agg(coalesce(sum(col("span_end") - col("span_start")), lit(0L)))
      .collect().head.getLong(0)

    // EXACT: every gram shuffles (docChars - L + 1 rows per doc — far
    // past 2^20 per doc at the default size)
    val (exactSpans, tExact) = timed {
      val sp = graft.operators.Dedup
        .substringSpansOf(graft.operators.Dedup.dupSubstrPositionsOf(docs))
        .localCheckpoint()
      sp.count()
      sp
    }
    val exactChars = dupChars(exactSpans)

    // WINNOW at w: selection + full md5 fused per row (WinnowGrams), only
    // selected positions shuffle, spans bridged at max(L, w)
    val (winSpans, tWin) = timed {
      import org.apache.spark.sql.expressions.Window
      val marked = docs
        .where(length(col("text")) >= L)
        .select(col("doc_id"), explode(graft.functions.TextExpressions
          .winnowGrams(col("text"), L, w)).as("g"))
        .select(col("doc_id"), col("g.pos").as("pos"), col("g.h").as("h"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("h").orderBy("doc_id", "pos")))
        .where(col("rn") >= 2)
        .select(col("doc_id"), col("pos").cast(LongType).as("pos"))
      val sp = graft.operators.Dedup
        .substringSpansOf(marked, math.max(L, w)).localCheckpoint()
      sp.count()
      sp
    }
    val winChars = dupChars(winSpans)

    // char recall of winnow spans against the exact spans
    val overlap = winSpans.as("w").join(exactSpans.as("e"), "doc_id")
      .select(greatest(lit(0L), least(col("w.span_end"), col("e.span_end")) -
        greatest(col("w.span_start"), col("e.span_start"))).as("ov"))
      .agg(coalesce(sum(col("ov")), lit(0L))).collect().head.getLong(0)
    val recall = if (exactChars > 0) overlap.toDouble / exactChars else 1.0
    val gramsPerDoc = docChars - L + 1

    println(f"""LONGDOCWINNOW {"n_docs":$nDocs,"doc_chars":$docChars,""" +
      f""""grams_per_doc":$gramsPerDoc,"shared_chars":$sharedChars,"w":$w,""" +
      f""""exact_sec":$tExact%.1f,"winnow_sec":$tWin%.1f,""" +
      f""""exact_dup_chars":$exactChars,"winnow_dup_chars":$winChars,""" +
      f""""char_recall_vs_exact":$recall%.4f}""")
    spark.stop()
  }
}
