package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions (SURVEY.md §4.2): the optimizations the engine
  * relies on at 100 TB must actually appear in the plan — pushdown, column
  * pruning, broadcast join selection, top-K pushdown, partial aggregation,
  * whole-stage codegen. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  /** every column named in any hash exchange of the plan — the FULL key
    * list of each hashpartitioning, not just the first key, so a shuffle
    * that leads with an allowed key but drags a wide column along (e.g.
    * cid-first-but-embedding-carrying) still fails the subset check */
  private def exchangeKeys(p: String): Set[String] =
    "Exchange hashpartitioning\\(([^)]*)\\)".r.findAllMatchIn(p)
      .map(_.group(1))
      // util.fanOut's pre-kernel spread hashes on a SYNTHETIC
      // pmod(xxhash64(...)) key (REPARTITION_BY_NUM, structurally absent
      // at cluster scale) — it is not a scaling-key exchange, so the
      // per-query shuffle-key allowlists below don't govern it. The WHOLE
      // exchange is dropped, not just its first comma fragment: a
      // multi-key fan-out like hashpartitioning(pmod(xxhash64(a#1, b#2,
      // 42), 2048), 32) would otherwise leak "b" into the key set (and
      // the [^)]* regex truncates nested expressions at the first close
      // paren, so fragment-level matching can never see the full key).
      .filterNot(_.contains("xxhash64("))
      .flatMap(_.split(",\\s*").dropRight(1))   // last element is the partition count
      .map(_.trim.replaceAll("#\\d+\\w*$", ""))
      .toSet

  test("q_scan_pruned pushes the predicate and prunes columns at the parquet scan") {
    val p = plan("q_scan_pruned")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,49"),
      s"predicate not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"),
      s"columns not pruned:\n$p")
  }

  test("q_join_broadcast plans a BroadcastHashJoin") {
    assert(plan("q_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("q_join_inner on unhinted big sides plans a shuffle join, not nested loop") {
    val p = plan("q_join_inner")
    assert(p.contains("Join") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_topk_global pushes ORDER BY+LIMIT into TakeOrderedAndProject") {
    assert(plan("q_topk_global").contains("TakeOrderedAndProject"))
  }

  test("q_sim_ann_pq candidate scan never shuffle-joins: ADC is broadcast lookups + TakeOrdered") {
    val p = plan("q_sim_ann_pq")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k pushdown:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"embedding scan shuffle-joined — ADC must stay map-side:\n$p")
  }

  test("q_agg_hash uses two-phase hash aggregation (map-side partial)") {
    val p = plan("q_agg_hash")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial+final agg:\n$p")
  }

  test("q_agg_hash runs inside whole-stage codegen") {
    // AQE finalizes the plan only on execution; inspect the post-run plan
    val df = SparkEntry.queries("q_agg_hash")(spark, dir)
    df.collect()
    // codegen stages render as "*(n) Operator" in the executed plan
    val p = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) HashAggregate""".r.findFirstIn(p).isDefined,
      s"aggregation not inside a codegen stage:\n$p")
  }

  test("q_parse_syslog plan contains no UDF (pure expressions keep codegen)") {
    val p = plan("q_parse_syslog")
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"), p)
  }

  test("ingest projection: one native parse node, no CASE tree, small generated source") {
    import org.apache.spark.sql.catalyst.expressions.CaseWhen
    // an RDD scan, as a streaming batch plans: over a local relation the
    // optimizer folds the projection away
    val lines = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sources.Ingest.Schema)
    val df = streaming.Pipeline.jdbcRows(lines)
    val exprs = df.queryExecution.optimizedPlan.flatMap(_.expressions)
    val parses = exprs.flatMap(_.collect { case p: functions.SyslogParse => p })
    assert(parses.size === 1, df.queryExecution.optimizedPlan)
    assert(!exprs.exists(_.exists(_.isInstanceOf[CaseWhen])), df.queryExecution.optimizedPlan)
    // the Column-tree parse generated ~91 000 chars here
    val chars = org.apache.spark.sql.execution.debug
      .codegenStringSeq(df.queryExecution.executedPlan).map(_._2.length).sum
    assert(chars > 0 && chars < 20000, s"$chars chars of generated source")
  }

  test("q_dedup_minhash candidate generation is an equi-join (no cartesian)") {
    val p = plan("q_dedup_minhash")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"LSH bucket join degenerated:\n$p")
  }

  test("q_sim_cosine broadcasts the probe side") {
    assert(plan("q_sim_cosine").contains("BroadcastNestedLoopJoin")
      || plan("q_sim_cosine").contains("BroadcastExchange"))
  }

  test("q_decontaminate builds a semi-join gram index (no cartesian, no NL join)") {
    val p = plan("q_decontaminate")
    assert(p.contains("LeftSemi"), s"no semi join against the train-gram index:\n$p")
    assert(!p.contains("CartesianProduct"), s"gram join degenerated:\n$p")
  }

  test("q_sim_ann_ivf: search path stays map-side, only the bounded cid training aggs shuffle") {
    // the embeddings relation must never be repartitioned: the only
    // hashpartitioning exchanges allowed are the Lloyd centroid-update
    // aggregations, all keyed on cid (map-side combined, bounded at
    // partitions × K × dims rows) — assignment + probe-list search stay
    // broadcast-only with the top-k pushed down
    val p = plan("q_sim_ann_ivf")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not pushed down:\n$p")
    assert(!p.contains("SortMergeJoin"), s"search path degenerated to a shuffle join:\n$p")
    val keys = exchangeKeys(p)
    assert(keys.subsetOf(Set("cid", "pos")),
      s"embeddings-side shuffle leaked into the IVF plan, exchange keys = $keys:\n$p")
  }

  test("q_embed_cluster_stats shuffles only on cid (training aggs + final groupBy)") {
    val p = plan("q_embed_cluster_stats")
    assert(!p.contains("SortMergeJoin"), s"stats path degenerated to a shuffle join:\n$p")
    val keys = exchangeKeys(p)
    assert(keys.nonEmpty && keys.subsetOf(Set("cid", "pos")),
      s"expected every hash exchange keyed on cid/pos only, got $keys:\n$p")
  }

  // The three window anchors with distributed twins now SERVE the twins
  // (the naive single-task forms stay as parity references, called
  // directly here — they are deliberately NOT reachable through the
  // declared keys anymore).

  test("q_win_ntile_dist: row-identical to the global-window ntile, without its bottleneck") {
    val global = graft.operators.Windows.winNtile(spark, dir).collect().toSeq
    val dist = SparkEntry.queries("q_win_ntile_dist")(spark, dir).collect().toSeq
    assert(dist === global, "distributed ntile diverged from the global-window ntile")
    val p = plan("q_win_ntile_dist")
    // the ORDERS-side rank must run B-way parallel on the bucket key; the
    // only single-partition work is the bounded B-row offsets frame
    assert(p.contains("hashpartitioning(bkt"), s"per-bucket rank not parallel:\n$p")
    val single = "Exchange SinglePartition".r.findAllIn(
      graft.operators.Windows.winNtile(spark, dir)
        .queryExecution.executedPlan.toString).size
    assert(single >= 1, "naive winNtile lost its expected global exchange (update this spec)")
    // the DECLARED q_win_ntile key now serves this same distributed form —
    // PlanHygieneSpec's naive-window rule covers it (no longer allowlisted),
    // so a regression back to the single-task global window fails there
  }

  test("q_win_dist_bucketed: row-identical to the per-status window, rank runs per (status, bkt)") {
    val global = graft.operators.Windows.winDist(spark, dir).collect().toSeq
    val dist = SparkEntry.queries("q_win_dist_bucketed")(spark, dir).collect().toSeq
    assert(dist === global, "bucketed percent_rank/cume_dist diverged from the window form")
    val keys = exchangeKeys(plan("q_win_dist_bucketed"))
    assert(Set("o_orderstatus", "bkt").subsetOf(keys),
      s"two-level rank not keyed on (status, bkt); exchange keys = $keys")
  }

  test("q_win_range_frame_bucketed: halo replication reproduces the per-status range frame") {
    val global = graft.operators.Windows.winRangeFrame(spark, dir).collect().toSeq
    val dist = SparkEntry.queries("q_win_range_frame_bucketed")(spark, dir).collect().toSeq
    assert(dist === global, "halo-replicated range frame diverged from the window form")
    val keys = exchangeKeys(plan("q_win_range_frame_bucketed"))
    assert(Set("o_orderstatus", "bkt2").subsetOf(keys),
      s"range window not keyed on (status, bkt2); exchange keys = $keys")
  }

  test("q_win_range_frame_bucketed: ghost fan-out is structurally <= 2 copies/row") {
    // the bucket count is derived from the data's own price range
    // (width >= 2*band => at most one boundary inside any 1000-band
    // lookback), so NO data geometry can replicate a row more than once —
    // the r10 testdata regeneration made the fixed-constant variant's
    // fan-out data-dependent, which is exactly what this pins
    import org.apache.spark.sql.functions.col
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"))
    val n = o.count()
    val tagged = graft.operators.Windows.rangeFrameGhosts(o).count()
    assert(tagged <= 2 * n, s"halo replication fan-out $tagged > 2x input $n")
    // and on an adversarially narrow price range (all rows within one
    // band width), the derived count collapses to one bucket: zero ghosts
    val narrow = o.withColumn("o_totalprice",
      col("o_totalprice") % 500.0 + 100.0)
    val taggedNarrow = graft.operators.Windows.rangeFrameGhosts(narrow).count()
    assert(taggedNarrow === n,
      s"narrow-range input should produce zero ghosts, got $taggedNarrow vs $n rows")
  }

  test("q_corpus_novelty hash-shuffles only on gh and doc_id (the scaling keys)") {
    val p = plan("q_corpus_novelty")
    val keys = exchangeKeys(p)
    assert(keys.nonEmpty && keys.subsetOf(Set("gh", "doc_id")),
      s"expected every hash exchange keyed on gh/doc_id only, got $keys:\n$p")
  }

  test("q_source_overlap hash-shuffles only on gram hash and source keys") {
    val p = plan("q_source_overlap")
    val keys = exchangeKeys(p)
    assert(keys.nonEmpty && keys.subsetOf(Set("gh", "source", "s1", "s2")),
      s"expected exchanges keyed on gh/source/s1/s2 only, got $keys:\n$p")
    assert(!p.contains("CartesianProduct"), s"matrix path degenerated:\n$p")
  }

  test("q_split_leakage builds a semi-join gram gate (no cartesian, no NL join)") {
    val p = plan("q_split_leakage")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"leakage gate degenerated:\n$p")
    val keys = exchangeKeys(p)
    assert(keys.nonEmpty && keys.subsetOf(Set("gh", "doc_id")),
      s"expected exchanges keyed on gh/doc_id only, got $keys:\n$p")
  }

  test("q_quality_bigram: every hash exchange keys on big/ctx/doc_id (no token fan-out)") {
    val p = plan("q_quality_bigram")
    val keys = exchangeKeys(p)
    assert(keys.nonEmpty && keys.subsetOf(Set("big", "ctx", "doc_id")),
      s"expected exchanges keyed on big/ctx/doc_id only, got $keys:\n$p")
  }

  test("bucketed tables co-locate the join: no shuffle exchange on either side") {
    // the 100 TB pattern for repeated big-big joins: pre-bucket both sides
    // on the join key; the sort-merge join then reads buckets directly
    import org.apache.spark.sql.functions.col
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val c = spark.read.parquet(s"$dir/customer.parquet")
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS customer_b")
    o.write.bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("orders_b")
    c.write.bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("customer_b")
    val joined = spark.table("orders_b")
      .join(spark.table("customer_b"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment").count()
    joined.collect()
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning(o_custkey")
      && !p.contains("Exchange hashpartitioning(c_custkey"),
      s"bucketed join still shuffles:\n$p")
  }
}
