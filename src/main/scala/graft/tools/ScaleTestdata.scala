package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool (not shipped surface): synthesize an sf1-equivalent testdata
  * dir from sf0.1 by replicating the heavy tables `factor`× under
  * measure-preserving per-copy transforms, so the heavy-tail bench can be
  * run at 10× data and per-query scaling factors MEASURED instead of
  * argued from plan shapes (BENCH_SF1.json / PERF.md).
  *
  * Replication semantics (copy k of K, ids offset by k·OFF with OFF a
  * multiple of 10 so every `% 10` split keeps its per-copy fraction):
  * - `documents.text`: copy k > 0 is rewritten by a per-copy
  *   SUBSTITUTION CIPHER (a-z, A-Z, 0-9 each rotated by k, composed
  *   with a seeded per-class permutation once k exceeds the class's
  *   cycle length — see `cipher` below — so factors beyond 26 stay
  *   collision-free) — an
  *   injective per-CHARACTER relabeling, so every within-copy statistic
  *   is preserved EXACTLY at both the token level (tokens remap 1:1,
  *   lengths unchanged) and the character level (L-gram equality is
  *   isomorphic); across copies nothing collides (a cross-copy match
  *   would need ≥ L chars with no letter or digit). The earlier `c<k>~`
  *   token-prefix scheme preserved token statistics but COLLAPSED
  *   char-gram entropy (~12-char periodicity around every token),
  *   inflating the 10× corpus's exact-substring dup mass ~16× with
  *   short mosaic collisions — a testdata artifact, not a property of
  *   the data, and it skewed every substring-family scaling ratio.
  *   Corpus-level workloads scale linearly in expectation — the right
  *   null hypothesis for a scaling measurement.
  * - `embeddings.embedding`: component i of copy k gets a deterministic
  *   ±0.024 perturbation ((k·31 + i) mod 17 − 8) · 0.003 — breaks the
  *   exact-duplicate degeneracy K identical copies would create (ties in
  *   kNN, K-sized exact-dup clusters in SemDeDup) while preserving the
  *   geometry the ANN/quality queries measure.
  * - `events` / `orders` / `lineitem`: id columns offset; value/time
  *   columns unchanged (10× density over the same time range and key
  *   domains — how a bigger day actually looks).
  * Remaining tables are copied as-is (the heavy tail never scans them).
  */
object ScaleTestdata {

  /** Long-run boilerplate passages planted under the `longruns` mode —
    * the corpus shape the winnow dial's large-w claim targets (license
    * pages, nav templates, quoted blocks: identical multi-hundred-char
    * to multi-KB runs repeated across a corpus). Deterministic text, one
    * of three lengths (~1000 / ~2000 / ~4000 chars) per planted doc, the
    * SAME across copies so the runs genuinely duplicate corpus-wide. */
  private def boilerplate(n: Int): String = {
    val unit = "All rights reserved worldwide under the governing terms; " +
      "redistribution of this page template, header, footer and navigation " +
      "block requires retention of this notice in every rendered copy. "
    val sb = new StringBuilder
    while (sb.length < n) sb.append(unit)
    sb.substring(0, n)
  }

  def main(args: Array[String]): Unit = {
    val (src, dst, factor, longruns) = args match {
      case Array(s, d)                 => (s, d, 10, false)
      case Array(s, d, f)              => (s, d, f.toInt, false)
      case Array(s, d, f, "longruns")  => (s, d, f.toInt, true)
      case _ => sys.error(
        "usage: ScaleTestdata <srcSfDir> <dstDir> [factor] [longruns]")
    }
    val spark = graft.GraftSession.local(graft.GraftSession.envCores)
    spark.sparkContext.setLogLevel("WARN")

    def off(df: DataFrame, idCol: String): Long = {
      val mx = df.agg(max(col(idCol))).collect().head.getLong(0)
      (mx / 10 + 1) * 10
    }
    /** union of `factor` copies; `remap(k)` rewrites each copy */
    def replicate(name: String, idCols: Seq[String],
        remap: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val o = off(base, idCols.head)
      val copies = (0 until factor).map { k =>
        val shifted = idCols.foldLeft(base) { (df, c) =>
          df.withColumn(c, col(c) + lit(k * o))
        }
        remap(shifted, k)
      }
      copies.reduce(_ union _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scale] $name: ${base.count()} x $factor")
    }

    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    val digits = "0123456789"
    def rot(s: String, k: Int): String = {
      val n = s.length; val r = ((k % n) + n) % n
      s.substring(r) + s.substring(0, r)
    }
    // Beyond the alphabet's cycle length the rotation cipher REPEATS
    // (k and k+26 share the letter mapping; k and k+10 the digit one),
    // so a factor-100 build would plant 4-way cross-copy char-gram
    // collisions — exactly the testdata artifact the cipher exists to
    // prevent. Each class therefore composes its rotation (k mod cycle)
    // with a Fisher-Yates permutation seeded by k / cycle: k below the
    // cycle length reproduces the historical pure-rotation copies
    // (seed 0 = identity), higher k gets a distinct class-preserving
    // bijection — still an injective per-character relabeling, so every
    // within-copy statistic is preserved exactly.
    def perm(s: String, seed: Int): String = {
      if (seed == 0) s
      else {
        val arr = s.toCharArray
        var state = (seed * 2654435761L + 0x9e3779b9L) & 0x7fffffffL
        def next(n: Int): Int = {
          state = (state * 48271) % 2147483647L
          (state % n).toInt
        }
        var i = arr.length - 1
        while (i >= 1) {
          val j = next(i + 1)
          val t = arr(i); arr(i) = arr(j); arr(j) = t
          i -= 1
        }
        new String(arr)
      }
    }
    def cipher(s: String, k: Int): String = perm(rot(s, k % s.length), k / s.length)
    replicate("documents", Seq("doc_id"), { (df, k) =>
      val relabeled =
        if (k == 0) df
        else df.withColumn("text",
          translate(col("text"), lower + upper + digits,
            cipher(lower, k) + cipher(upper, k) + cipher(digits, k)))
      // longruns: 1-in-7 docs get a long boilerplate passage appended
      // AFTER the per-copy relabeling (identical across copies → genuine
      // corpus-wide duplicated runs ≥ L+w−1 for w up to ~hundreds);
      // length rotates 1000/2000/4000 by doc_id so the sweep prices the
      // edge-loss-vs-run-length curve, not a single run size
      val planted =
        if (!longruns) relabeled
        else relabeled.withColumn("text",
          when(col("doc_id") % 7 === 2,
            concat(col("text"), lit(" "),
              when(col("doc_id") % 3 === 0, lit(boilerplate(1000)))
                .when(col("doc_id") % 3 === 1, lit(boilerplate(2000)))
                .otherwise(lit(boilerplate(4000)))))
            .otherwise(col("text")))
      planted.withColumn("n_chars", length(col("text")).cast("long"))
    })
    replicate("embeddings", Seq("vec_id"), { (df, k) =>
      if (k == 0) df
      else df.withColumn("embedding",
        transform(col("embedding"), (v, i) =>
          (v + ((lit(k * 31) + i) % 17 - 8).cast("float") * lit(0.003f))
            .cast("float")))
    })
    replicate("events", Seq("event_id", "user_id"), (df, _) => df)
    replicate("orders", Seq("o_orderkey", "o_custkey"), (df, _) => df)
    replicate("lineitem", Seq("l_orderkey"), (df, _) => df)

    for (t <- Seq("region", "nation", "customer", "supplier", "part")) {
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scale] $t: copied as-is")
    }
    spark.stop()
  }
}
