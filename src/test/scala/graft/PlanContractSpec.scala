package graft

/** Plan-shape contracts: lock in the structural fixes this engine's
  * performance depends on, so a future refactor that silently degrades
  * a plan (the q32 OR-join → BroadcastNestedLoopJoin regression class)
  * fails a test instead of a benchmark round. */
class PlanContractSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("q32: the seed lookup is a hash join, never a nested loop") {
    val p = plan("q32_country_normalize")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q65: aggregate dedup plans without any window") {
    val p = plan("q65_dedup_latest_agg")
    assert(!p.contains("Window"), p.take(2000))
  }

  test("q55: probe grams broadcast; the corpus side never shuffles " +
      "for candidates") {
    val p = plan("q55_decontamination")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("ANN queries prune with equi bucket joins — no nested loops " +
      "(q24, the brute-force BASELINE, is deliberately exhaustive)") {
    for (q <- Seq("q30_embedding_ann_lsh", "q49_embedding_ann_ivf")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n${p.take(2000)}")
      assert(p.contains("BroadcastHashJoin"), s"$q:\n${p.take(2000)}")
    }
  }

  test("q82: the shard-packing prefix-sum has no unpartitioned window") {
    val p = plan("q82_shard_packing")
    // every Window line must carry a partition spec (three bracket
    // groups: [fns], [partSpec], [orderSpec]) — the `Plans lint` rule,
    // locked here for the prefix-sum specifically
    val bad = p.linesIterator.map(_.replaceFirst("^[-+:*(0-9)\\s]*", ""))
      .filter(_.startsWith("Window "))
      .filterNot(_.matches(".*\\], \\[.*\\], \\[.*"))
      .toList
    assert(bad.isEmpty, bad.mkString("\n"))
    assert(p.contains("Window"), p.take(2000)) // the local window exists
  }

  test("q93: chunking is row-local — no joins, no windows, one shuffle") {
    val p = plan("q93_context_chunks")
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    // the per-source rollup is the ONLY exchange (AQE may add a final
    // coalesce read, but no second shuffle boundary)
    val shuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles <= 1, s"$shuffles shuffles:\n${p.take(2000)}")
  }

  test("q94/q95: LM and DSIR tables broadcast — the corpus token " +
      "stream never sort-merge-joins") {
    for (q <- Seq("q94_lm_quality_buckets", "q95_dsir_weights")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$q:\n${p.take(2000)}")
      assert(p.contains("BroadcastHashJoin"), s"$q:\n${p.take(2000)}")
    }
  }

  test("q96: the estimator never runs the pair join or touches " +
      "shingle arrays past the signature stage") {
    val p = plan("q96_dup_rate_estimate")
    assert(!p.contains("Join"), p.take(2000))
  }

  test("q106: per-column stats never plan a multi-distinct Expand") {
    val p = plan("q106_table_stats")
    assert(!p.contains("Expand"), p.take(2000))
  }

  test("q107: the sketch probe joins broadcast — no sort-merge; the " +
      "only nested loop is the rank's bounded triangular offsets join") {
    val p = plan("q107_heavy_hitters")
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .toList
    assert(bnlj.forall(_.contains("__pid")), bnlj.mkString("\n"))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q110: the rolling frame's window is partitioned (never global)") {
    val p = plan("q110_rolling_window")
    val bad = p.linesIterator.map(_.replaceFirst("^[-+:*(0-9)\\s]*", ""))
      .filter(_.startsWith("Window "))
      .filterNot(_.matches(".*\\], \\[.*\\], \\[.*"))
      .toList
    assert(bad.isEmpty, bad.mkString("\n"))
    assert(p.contains("Window"), p.take(2000))
  }

  test("q113: divergence joins are broadcast-only past the token " +
      "aggregate") {
    val p = plan("q113_source_divergence")
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q115: WAV construct/parse is row-local — no joins, no windows") {
    val p = plan("q115_wav_audio_frames")
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    val shuffles = p.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(shuffles == 0, s"$shuffles shuffles:\n${p.take(2000)}")
  }

  test("q128: the prefix-filter join never plans a cartesian and " +
      "verifies through equi joins only") {
    val p = plan("q128_prefix_filter_join")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q121: the bloom-pruned scan keeps the filter outside any join") {
    val p = plan("q121_bloom_prune")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the exact FP-removal join broadcasts the tiny probe side
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q133: the decile cut has no single-partition global window") {
    val p = plan("q133_revenue_deciles")
    val bad = p.linesIterator.map(_.replaceFirst("^[-+:*(0-9)\\s]*", ""))
      .filter(_.startsWith("Window "))
      .filterNot(_.matches(".*\\], \\[.*\\], \\[.*"))
      .toList
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("q136: the NB model grid broadcasts — the corpus token stream " +
      "never sort-merge-joins against it") {
    val p = plan("q136_naive_bayes_langid")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q135/q137/q138: no cartesians, no windows (rank/argmax paths " +
      "are aggregate- or range-based); q137/q138 no nested loops") {
    for (q <- Seq("q135_tfidf_cosine_pairs", "q137_cdc_apply",
        "q138_triangle_count")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n${p.take(2000)}")
      assert(!p.contains("Window"), s"$q:\n${p.take(2000)}")
      // q135/q138 carry deliberate single-row-aggregate cross
      // broadcasts (the q11 pattern); q137's joins must ALL be hash
      if (q == "q137_cdc_apply")
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n${p.take(2000)}")
    }
    graft.operators.InternalCache.release()
  }

  test("q139: the weighted draw has no single-partition global window") {
    val p = plan("q139_weighted_sample")
    val bad = p.linesIterator.map(_.replaceFirst("^[-+:*(0-9)\\s]*", ""))
      .filter(_.startsWith("Window "))
      .filterNot(_.matches(".*\\], \\[.*\\], \\[.*"))
      .toList
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("q1: filter pushes into the parquet scan, codegen spans exist") {
    // plain toString truncates scan metadata — use the formatted mode
    val df0 = SparkEntry.queries("q1_pricing_summary")(spark, dir)
    checkQ1(df0)
  }

  test("q175/q176/q177: the new curation queries keep their shapes — " +
      "no global window, no nested loop, q176 join-free") {
    // q177's triangular offsets join (≤ #sources² aggregated rows) is a
    // DELIBERATE bounded nested loop, like Ranking.offsets — only q175
    // must be loop-free
    val p175 = plan("q175_segment_dedup")
    assert(!p175.contains("BroadcastNestedLoopJoin") &&
      !p175.contains("CartesianProduct"), p175.take(2000))
    for (q <- Seq("q175_segment_dedup", "q177_source_cap")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n${p.take(2000)}")
      val bad = p.linesIterator.map(_.replaceFirst("^[-+:*(0-9)\\s]*", ""))
        .filter(_.startsWith("Window "))
        .filterNot(_.matches(".*\\], \\[.*\\], \\[.*"))
        .toList
      assert(bad.isEmpty, s"$q global windows:\n${bad.mkString("\n")}")
    }
    val p176 = plan("q176_dp_release")
    assert(!p176.contains("Join") && !p176.contains("Window"),
      p176.take(2000))
  }

  private def assertNoGlobalWindow(p: String): Unit = {
    val bad = p.linesIterator.map(_.replaceFirst("^[-+:*(0-9)\\s]*", ""))
      .filter(_.startsWith("Window "))
      .filterNot(_.matches(".*\\], \\[.*\\], \\[.*"))
      .toList
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("q208: the gini rank is distributed — every window partitioned, " +
      "dims broadcast") {
    val p = plan("q208_gini_concentration")
    assertNoGlobalWindow(p)
    assert(p.contains("Window"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    graft.operators.InternalCache.release()
  }

  test("q209: the daily series and its lag joins stay broadcast — " +
      "no sort-merge join, no window at all") {
    val p = plan("q209_revenue_acf")
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("q210: kendall runs on the contingency grid — no row-level " +
      "pair join, no cartesian, no window") {
    val p = plan("q210_kendall_tau")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      p.take(2000))
  }

  test("q211: adamic-adar wedges come from equi joins; rank windows " +
      "partitioned") {
    val p = plan("q211_adamic_adar")
    // (the Ranking offsets triangular join over the ≤nPart-row counts
    // frame is a deliberate BroadcastNestedLoopJoin — not forbidden)
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assertNoGlobalWindow(p)
    graft.operators.InternalCache.release()
  }

  test("q213: silhouette is one assignment scan — centroids are " +
      "literals, no joins, no windows") {
    val p = plan("q213_silhouette")
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    graft.operators.SharedFrames.release()
  }

  test("q196: the OLS fit is one map-side-combinable aggregate — " +
      "no joins, no windows") {
    val p = plan("q196_ols_price_model")
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    assert(p.contains("partial_sum"), p.take(2000))
  }

  test("q197: df/class-marginal tables broadcast — the presence " +
      "stream never sort-merge-joins") {
    val p = plan("q197_chi2_terms")
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q198: the AUC cumulative window is partitioned (never global)") {
    val p = plan("q198_quality_auc")
    assertNoGlobalWindow(p)
    assert(p.contains("Window"), p.take(2000))
  }

  test("q195: LPA windows are per-node partitioned; no cartesians") {
    val p = plan("q195_label_propagation")
    assertNoGlobalWindow(p)
    assert(!p.contains("CartesianProduct"), p.take(2000))
    graft.operators.InternalCache.release()
  }

  test("q218/q220/q224: every statistics-fit rank window is " +
      "partitioned — never a global sort of the corpus/vocab") {
    for (q <- Seq("q218_zipf_fit", "q220_term_burstiness",
        "q224_hill_tail_index")) {
      val p = plan(q)
      assertNoGlobalWindow(p)
      assert(!p.contains("CartesianProduct"), s"$q:\n${p.take(2000)}")
    }
  }

  test("q227: the idf table broadcasts — the token stream never " +
      "shuffles for scoring") {
    val p = plan("q227_source_novelty")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q235/q237: the revenue prefix-sums are distributed — every " +
      "window partitioned, no cartesian beyond single-row broadcasts") {
    for (q <- Seq("q235_pareto_customers", "q237_abc_parts")) {
      val p = plan(q)
      assertNoGlobalWindow(p)
      assert(!p.contains("CartesianProduct"), s"$q:\n${p.take(2000)}")
    }
  }

  test("q238: the SLA percentile never sorts the fact table — the " +
      "only window runs per-priority on the lag grid") {
    val p = plan("q238_shipping_sla")
    assertNoGlobalWindow(p)
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q200: fusion centroids broadcast; rank windows partitioned; " +
      "no cartesian product") {
    val p = plan("q200_hybrid_rank_fusion")
    assertNoGlobalWindow(p)
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastExchange"), p.take(2000))
  }

  test("hard-negative mining: the query set broadcasts; the corpus " +
      "aggregates map-side (one exchange, for the per-query TopK merge)") {
    // the operator plan directly (q190 itself serves the SharedFrames-
    // persisted result, whose InMemoryTableScan wrapper would obscure
    // the build plan under test)
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    import graft.sources.Tables
    val v = Tables.embeddings(spark, dir)
    val q = v.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("qvec"), col("label").as("qlabel"))
    val p = Similarity.hardNegativesTopK(v, "vec_id", "embedding",
      "label", q, "query_id", "qvec", "qlabel", 3)
      .queryExecution.executedPlan.toString
    // brute scan is DELIBERATELY a broadcast nested-loop (every corpus
    // row scores every query), but the corpus itself must never
    // shuffle before the partial TopK: one hash exchange only
    assert(p.contains("BroadcastExchange"), p.take(2000))
    val shuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(shuffles <= 1, s"$shuffles shuffles:\n${p.take(2000)}")
    // partial aggregation proves the TopK combines map-side
    assert(p.contains("partial_topk") || p.contains("ObjectHashAggregate"),
      p.take(2000))
  }

  private def checkQ1(df: org.apache.spark.sql.DataFrame): Unit = {
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      p.take(3000))
    // codegen annotations only exist once AQE finalizes — collect()
    // drives THIS queryExecution (count() would plan a different one),
    // then the final plan shows whole-stage spans as `*(n)` prefixes
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("isFinalPlan=true") &&
      executed.contains("*("), executed.take(3000))
  }

  test("column pruning reaches the scan: wide tables read only the " +
      "columns the query touches") {
    // at 100 TB the difference between ReadSchema<4 cols> and
    // ReadSchema<11 cols> is the difference between reading the
    // touched gigabytes and the whole table — lock the projection
    // pushdown for one wide relational query and one corpus query
    def readSchemas(q: String): Seq[String] = {
      val p = SparkEntry.queries(q)(spark, dir).queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode
          .fromString("formatted"))
      p.linesIterator.filter(_.contains("ReadSchema:")).toSeq
    }
    // q1 touches 7 of lineitem's 11 columns — the key ids must be gone
    val q1 = readSchemas("q1_pricing_summary").mkString("\n")
    assert(q1.contains("l_quantity"), q1)
    for (dropped <- Seq("l_orderkey", "l_partkey", "l_suppkey",
        "l_linenumber"))
      assert(!q1.contains(dropped), s"$dropped not pruned:\n$q1")
    // q56 touches text+lang of documents' 5 columns
    val q56 = readSchemas("q56_hash_split").mkString("\n")
    assert(q56.contains("text"), q56)
    for (dropped <- Seq("doc_id", "source", "n_chars"))
      assert(!q56.contains(dropped), s"$dropped not pruned:\n$q56")
  }

  test("q244: the fused salted join+agg shuffles on (key, salt) — " +
      "the hot key never lands whole on one reducer") {
    val p = plan("q244_salted_join_agg")
    // the join and the partial aggregate must both be distributed on
    // (custkey, __salt); only the bounded final merge (keys ×
    // saltBuckets input rows) repartitions on the bare key
    val saltedEx = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("__salt"))
    assert(saltedEx >= 1, p.take(3000))
    // the dim replication must not have collapsed the salt: the first
    // (salted) aggregate exists alongside the final merge
    val aggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 4, s"$aggs HashAggregate nodes:\n${p.take(3000)}")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q252: the covered-filter MV rewrite lands the date range in " +
      "PartitionFilters — the mart scan is pruned at listing time") {
    import org.apache.spark.sql.functions._
    import graft.functions.Functions.money
    val events = graft.sources.Tables.events(spark, dir)
    graft.sources.Materialize.partitionedTable(
      events.groupBy(date_trunc("day", col("ts")).as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(money(col("value"))).as("total")),
      "mv_pp_contract", "day")
    graft.plans.Mv.register(spark, "mv_pp_contract", events,
      keys = Seq("day" -> date_trunc("day", col("ts")),
        "event_type" -> col("event_type")),
      sums = Seq("total" -> money(col("value"))),
      countStar = Some("n_events"))
    try {
      def q = events
        .filter(date_trunc("day", col("ts")) >=
          lit("2024-01-15").cast("timestamp"))
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("mv_pp_contract"), p.take(3000))
      val i = p.indexOf("PartitionFilters: [")
      assert(i >= 0, p.take(3000))
      val pf = p.substring(i, p.indexOf("]", i) + 1)
      // the range itself must be a partition filter, not a post-scan
      // Filter over all partitions' rows
      assert(pf.contains("day") && pf.contains(">="),
        s"range not in PartitionFilters: $pf\n${p.take(3000)}")
      val got = rows(q.orderBy("day")).map(_.toSeq)
      graft.plans.Mv.deregister("mv_pp_contract")
      val direct = rows(q.orderBy("day")).map(_.toSeq)
      assert(got == direct, s"$got\nvs\n$direct")
    } finally graft.plans.Mv.deregister("mv_pp_contract")
  }
}
