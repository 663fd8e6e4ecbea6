package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-proof harness for the corpus pipelines (the VERDICT r3 item:
  * "the 100 TB claims rest on plan shape alone — run the corpus
  * pipelines at sf1 and show the curves are near-linear").
  *
  * Builds a `mult`-times replica of the sf0.1 `documents`/`embeddings`
  * fixtures under /tmp (ids offset per replica; every TOKEN suffixed
  * with a per-replica tag, a bijective vocabulary rename that keeps
  * token counts, shingle counts, and within-replica Jaccards exactly
  * equal to the base corpus while making cross-replica similarity ~0 —
  * i.e. a corpus `mult`× bigger with the SAME dup rate and doc-length
  * profile, so ideal-linear scaling is exactly `mult`×). Replica 0 is
  * byte-identical text to the base corpus.
  *
  * Embedding replicas are per-dimension perturbed (a scale factor
  * would be invisible to cosine), so ANN bucket structure stays
  * realistic instead of producing 10 exact copies per bucket.
  *
  * This harness NEVER feeds correctness oracles — it exists to measure
  * the scaling exponent of each pipeline. Usage:
  *   SPARK_GRAFT_SCALE_MULT=10 sbt "runMain graft.ScaleBench"
  * (`SPARK_GRAFT_ONLY=q22_exact_dedup,hardneg_fixedq` restricts the run)
  * Prints one JSON line per (query, mult) and a final summary line with
  * the t(mult)/t(1) ratio per query.
  */
object ScaleBench {

  private val ReplicaStride = 10000000L

  /** Write the replica corpus for `mult` (idempotent: skips if present). */
  def buildReplica(spark: SparkSession, baseDir: String, mult: Int,
      outDir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$outDir/_OK"))) return
    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    val embs = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val docLegs = (0 until mult).map { i =>
      val salted =
        if (i == 0) col("text")
        else regexp_replace(col("text"), lit("(\\S+)"), lit(s"$$1q$i"))
      docs.select(
        (col("doc_id") + lit(i * ReplicaStride)).as("doc_id"),
        salted.as("text"), col("lang"), col("source"), col("n_chars"))
    }
    docLegs.reduce(_ unionByName _)
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val embLegs = (0 until mult).map { i =>
      val perturbed =
        if (i == 0) col("embedding")
        else transform(col("embedding"),
          (x, idx) => x + ((idx * 31 + lit(i * 7)) % 11 - 5).cast("float")
            * lit(0.01f))
      embs.select(
        (col("vec_id") + lit(i * ReplicaStride)).as("vec_id"),
        perturbed.as("embedding"), col("label"))
    }
    embLegs.reduce(_ unionByName _)
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    fs.create(new org.apache.hadoop.fs.Path(s"$outDir/_OK")).close()
  }

  /** Write the relational replica for `mult` (idempotent): orders/
    * lineitem/customer/supplier/part/events with every key offset by
    * the replica stride — join-consistent within a replica, so each
    * replica is a disjoint tenant with the base corpus's exact per-key
    * volume and nation/region (fixed dims) copied verbatim. Ideal-
    * linear scaling is exactly `mult`× with constant per-key group
    * sizes; the lineitem co-occurrence graphs decompose into `mult`
    * disjoint components, so iterative graph queries should stay
    * linear too (same structure per component, same round count). */
  def buildRelationalReplica(spark: SparkSession, baseDir: String,
      mult: Int, outDir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$outDir/_OK_REL"))) return
    def rep(table: String, keyCols: Seq[String]): Unit = {
      val base = spark.read.parquet(s"$baseDir/$table.parquet")
      (0 until mult).map { i =>
        keyCols.foldLeft(base) { (df, k) =>
          // keep the source dtype: a widened key column would make the
          // replica exercise different casts than the base fixtures
          df.withColumn(k, (col(k) + lit(i * ReplicaStride))
            .cast(base.schema(k).dataType))
        }
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(s"$outDir/$table.parquet")
    }
    rep("orders", Seq("o_orderkey", "o_custkey"))
    rep("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    rep("customer", Seq("c_custkey"))
    rep("supplier", Seq("s_suppkey"))
    rep("part", Seq("p_partkey"))
    rep("events", Seq("event_id", "user_id"))
    Seq("nation", "region").foreach { t =>
      spark.read.parquet(s"$baseDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    fs.create(new org.apache.hadoop.fs.Path(s"$outDir/_OK_REL")).close()
  }

  /** The corpus queries whose scaling is under test (all read only
    * documents/embeddings, so the replica dir satisfies them). */
  private val corpusQueries = Seq(
    "q22_exact_dedup", "q23_minhash_near_dedup", "q25_simhash_near_dedup",
    "q26_ngram_jaccard", "q27_lang_id", "q28_quality_score",
    "q29_fingerprint_pairs", "q48_dedup_clusters", "q54_dedup_corpus",
    "q55_decontamination", "q56_hash_split", "q57_training_mix",
    "q78_repetition_signals", "q79_semantic_dedup", "q80_boilerplate_grams",
    "q81_incremental_near_dedup", "q82_shard_packing",
    "q83_cross_source_overlap", "q84_adaptive_quality_filter",
    "q85_curation_manifest", "q86_stream_near_dedup", "q87_pq_codes",
    "q90_span_boilerplate_removal", "q91_vocab_coverage",
    "q92_leakage_safe_split", "q93_context_chunks",
    "q94_lm_quality_buckets", "q95_dsir_weights", "q96_dup_rate_estimate",
    "q113_source_divergence", "q114_containment_pairs",
    "q115_wav_audio_frames", "q120_bpe_merges",
    "q128_prefix_filter_join", "q134_dedup_method_recall",
    "q135_tfidf_cosine_pairs", "q136_naive_bayes_langid",
    "q141_bm25_search", "q144_stratified_weighted_sample",
    "q148_bpe_encode", "q164_pmi_collocations", "q166_doc_keywords",
    "q173_survivorship_dedup", "q174_canary_decontamination",
    "q175_segment_dedup", "q176_dp_release", "q177_source_cap",
    "q180_rendezvous_resharding", "q182_snapshot_diff",
    // round-7 continuation: feature-selection/eval/drift/fusion
    // (q200's probe terms are FIXED, so the corpus side alone grows —
    // the honest retrieval scaling shape)
    "q197_chi2_terms", "q198_quality_auc", "q199_psi_drift",
    "q200_hybrid_rank_fusion", "q202_calibration_bins",
    // session-4 statistics family (documents-only readers)
    "q218_zipf_fit", "q219_kappa_panel", "q220_term_burstiness",
    "q221_ess_weights", "q222_ks_drift", "q227_source_novelty",
    "q230_randomized_response", "q240_heaps_fit",
    // round-8 addition: PQ codebook-utilization audit (embeddings)
    "q232_codebook_balance",
    // round-8 addition: the composed corpus-curation product — the
    // whole gate→dedup→decontaminate→pack→publish chain at 10× in one
    // probe (its cost includes the table writes, matching production)
    "q245_corpus_build_e2e",
    // round-8 session-2 additions: the erasure lifecycle (build +
    // partition-scoped erase), the persisted ANN index lifecycle
    // (train/append/erase/2-probe search — embeddings only), and the
    // sliding-window span scrub (windows collapse to hashes, rebuild
    // is row-local — the ideal-linear candidate)
    "q246_corpus_erasure", "q247_ann_index_lifecycle", "q248_span_scrub",
    // the retrain-decision monitor: two Lloyd's trainings + two index
    // builds + three search legs — the heaviest ANN composition
    "q249_ann_retrain_monitor",
    // round-11 continuation: the filtered-ANN strategy panel (brute
    // filtered exact + three IVF legs) and filtered serving on a
    // freshly built attribute-carrying index (train + topKWhere)
    "q254_filtered_ann_recall", "q255_ann_filtered_serve",
    // index-served incremental semantic dedup: train-on-base + the
    // delta's best-neighbor probes (the delta-proportional dedup path)
    "q256_index_incremental_dedup",
    // the same dedup as a continuous ingest: per-batch verdict + audit
    // + append (two micro-batches, cross-batch dedup included)
    "q257_stream_ingest_dedup",
    // round-12 additions: the incremental composed corpus build
    // (base run + delta continuation, near-dedup served from the
    // persisted band index) and the nProbe recall/cost curve (8
    // search legs + 2 brute baselines over a fresh attribute index)
    "q258_corpus_build_incremental", "q259_ann_nprobe_curve")

  /** Relational + graph pipelines under scale test (round 8, VERDICT
    * r7 #7: the q233-q242 family and the lineitem-graph operators were
    * absent from the 10× panel because only documents/embeddings had a
    * replica path — [[buildRelationalReplica]] closes that). */
  private val relationalQueries = Seq(
    "q111_pagerank", "q138_triangle_count", "q179_bfs_reach",
    "q195_label_propagation", "q211_adamic_adar", "q226_kcore",
    "q228_degree_histogram",
    "q233_cohort_ltv", "q235_pareto_customers", "q236_purchase_gaps",
    "q237_abc_parts", "q238_shipping_sla", "q239_lorenz_points",
    "q241_repeat_rate", "q242_basket_profile",
    // round-8 session-2: the composed warehouse builds (full and
    // base+incremental) at 10× in one probe each
    "q243_build_e2e", "q250_build_incremental")

  /** ANN with a FIXED query workload (replica 0 queries only): a corpus
    * scale-up grows the indexed side, not the query side — without the
    * fix both sides grow and bucket joins scale quadratically by
    * construction, which would measure the harness, not the operator. */
  private def annFixedQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val v = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = v.filter(col("vec_id") % 40 === 0 &&
        col("vec_id") < ReplicaStride)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    Similarity.ivfTopK(v, "vec_id", "embedding", q, "query_id", "qvec",
      3, 8, 16)
  }

  /** Hard-negative mining with the same FIXED query workload: anchors
    * from replica 0 only, while the label-filtered corpus side grows
    * with the scale-up — the honest scaling probe for the q190/q192
    * brute family (O(Q·N): linear in corpus size at fixed Q). */
  private def hardNegFixedQ(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val v = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = v.filter(col("vec_id") % 40 === 0 &&
        col("vec_id") < ReplicaStride)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("label").as("qlabel"))
    Similarity.hardNegativesTopK(v, "vec_id", "embedding", "label",
      q, "query_id", "qvec", "qlabel", 3)
  }

  /** The retrain lifecycle at scale (VERDICT r10 #3): a frozen-on-base
    * index with an appended delta, then ONE [[graft.operators.AnnIndex
    * .maintainMonitored]] call — compaction + the recall monitor + the
    * decision + the re-binned swap, under a threshold that always
    * trips so the probe measures the FULL maintenance bill an operator
    * pays when recall rot crosses the line (deterministic cost shape,
    * independent of the replica corpus's actual gap). Index build +
    * append run once per dir and are skipped on the second timed call,
    * so min-of-2 isolates the maintain cost itself. Fixed query panel
    * (replica 0); content, training, exact leg, and swap rewrite all
    * grow with the corpus. */
  private def annRetrainProbe(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.AnnIndex
    val name = s"scale_retrain_${math.abs(dir.hashCode)}"
    val v = spark.read.parquet(s"$dir/embeddings.parquet")
    if (!spark.catalog.tableExists(AnnIndex.postingsTable(name))) {
      AnnIndex.build(spark, v.filter(col("vec_id") % 5 =!= 0), "vec_id",
        "embedding", name, 16, 64, 3)
      AnnIndex.append(spark, name, v.filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding")
      ()
    }
    val q = v.filter(col("vec_id") % 40 === 0 &&
        col("vec_id") < ReplicaStride)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    AnnIndex.maintainMonitored(spark, name, q, "query_id", "qvec",
      3, 16, 64, 3, threshold = -1.0)
  }

  /** FILTERED serving at scale: an attribute-carrying index built once
    * per dir (untimed on the min-of-2), then [[graft.operators.AnnIndex
    * .topKWhere]] with a fixed query panel and a ~30%-selective label
    * predicate. The serve cost should track the MATCHING postings of
    * the probed cells — the predicate is pushed into the parquet scan
    * under the cell PartitionFilters, so the corpus-growth exponent
    * measures pruned-and-filtered reads, not index size. */
  private def annFilteredProbe(spark: SparkSession, dir: String)
      : DataFrame = {
    import graft.operators.AnnIndex
    val name = s"scale_annf_${math.abs(dir.hashCode)}"
    val v = spark.read.parquet(s"$dir/embeddings.parquet")
    if (!spark.catalog.tableExists(AnnIndex.postingsTable(name))) {
      AnnIndex.build(spark, v, "vec_id", "embedding", name, 16, 64, 3,
        attrCols = Seq("label"))
      ()
    }
    val q = v.filter(col("vec_id") % 40 === 0 &&
        col("vec_id") < ReplicaStride)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    AnnIndex.topKWhere(spark, name, q, "query_id", "qvec", 3,
      col("label") < 3)
  }

  /** UNFILTERED serving on the SAME index [[annFilteredProbe]] built —
    * the comparison row its claim needs: the filtered serve should
    * cost LESS than this (it reads only the ~30% matching row groups
    * of the probed partitions), and both should grow with the probed
    * cells' size, not the index. */
  private def annUnfilteredProbe(spark: SparkSession, dir: String)
      : DataFrame = {
    import graft.operators.AnnIndex
    val name = s"scale_annf_${math.abs(dir.hashCode)}"
    val v = spark.read.parquet(s"$dir/embeddings.parquet")
    if (!spark.catalog.tableExists(AnnIndex.postingsTable(name))) {
      AnnIndex.build(spark, v, "vec_id", "embedding", name, 16, 64, 3,
        attrCols = Seq("label"))
      ()
    }
    val q = v.filter(col("vec_id") % 40 === 0 &&
        col("vec_id") < ReplicaStride)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    AnnIndex.topK(spark, name, q, "query_id", "qvec", 3)
  }

  /** Monotone per-probe batch tag: every timed [[streamIngestProbe]]
    * call lands FRESH ids, so the append anti-join never absorbs the
    * batch and each call pays the full verdict + audit + append bill. */
  private var streamBatchSeq = 0

  /** CONTINUOUS ingest-with-dedup at scale: an index built once per
    * dir with the cell count sized TO the corpus (~125 postings per
    * cell — the production posture; a fixed cell count would grow
    * every probed cell linearly and measure the sizing mistake, not
    * the operator), then one fixed-size micro-batch drained through
    * [[graft.operators.AnnIndex.streamIngestDedup]] (verdict + audit
    * + append). Per-batch cost is ∝ batch × probed-cell size, so with
    * corpus-sized cells the 10× curve should be ~flat — the claim
    * that the ingest front door survives corpus growth. */
  private def streamIngestProbe(spark: SparkSession, dir: String)
      : DataFrame = {
    import graft.operators.AnnIndex
    val tag = math.abs(dir.hashCode)
    val name = s"scale_annsd_$tag"
    val v = spark.read.parquet(s"$dir/embeddings.parquet")
    if (!spark.catalog.tableExists(AnnIndex.postingsTable(name))) {
      val cells = math.max(16, (v.count() / 125L).toInt)
      AnnIndex.build(spark, v, "vec_id", "embedding", name, cells, 64, 3)
      ()
    }
    streamBatchSeq += 1
    val seq = streamBatchSeq
    // id base derived from the CURRENT index state, so a rerun against
    // a persisted index from an earlier panel still lands fresh ids
    // (a collided batch would be absorbed by the append anti-join and
    // time a different operation). Bounded: one pruned-column max.
    val base = spark.table(AnnIndex.postingsTable(name))
      .agg(max(col("id"))).head().getLong(0) / ReplicaStride + 1L
    val batch = v.filter(col("vec_id") % 40 === 0 &&
        col("vec_id") < ReplicaStride)
      .withColumn("vec_id",
        col("vec_id") + lit((base + seq) * ReplicaStride))
    val landing = s"/tmp/graft_scale_sd_land_${tag}_$seq"
    val audit = s"/tmp/graft_scale_sd_audit_${tag}_$seq"
    val ckpt = s"/tmp/graft_scale_sd_ckpt_${tag}_$seq"
    Seq(landing, audit, ckpt)
      .foreach(p => graft.sources.Ingest.deletePath(spark, p))
    batch.coalesce(1).write.mode("overwrite").parquet(landing)
    AnnIndex.streamIngestDedup(spark, name, landing, ckpt, "vec_id",
      "embedding", 0.4, audit, batch.schema)
    spark.read.parquet(s"$audit/b*")
  }

  /** The history-folded incremental aggregate at scale (q253's shape
    * over the replica events): four hash-split batches through
    * `aggIncremental(foldEvery = 2)` — two mid-run folds — into a
    * day-partitioned mart. Data volume grows with the scale-up while
    * the partition count (the fixed date range) does not, so the
    * expected shape is ~linear batch merges plus a near-constant fold
    * overhead (the fold reads pre-aggregated partials, not events).
    * State drops first: each timed call is the full lifecycle. */
  private def aggFoldProbe(spark: SparkSession, dir: String,
      hourly: Boolean = false): DataFrame = {
    import graft.sources.Materialize
    val name = s"scale_aggfold_${math.abs(dir.hashCode)}"
    Materialize.dropAggState(spark, name)
    val ev = spark.read.parquet(s"$dir/events.parquet")
    // the partitions-axis variant buckets by HOUR (24× the partition
    // count at identical data volume) — the fold/apply commit chains
    // are O(#slices) and this is the axis that grows them
    def partial(df: DataFrame): DataFrame =
      df.groupBy(
        (if (hourly) date_trunc("hour", col("ts"))
         else col("ts").cast("date")).as("day"),
        col("event_type"))
        .agg(count(lit(1)).as("n_events"))
    val h = pmod(graft.functions.Functions.md5Long(
      col("event_id").cast("string")), lit(4))
    (0 until 4).map { i =>
      Materialize.aggIncremental(spark, name, partial(ev.filter(h === i)),
        Seq("day", "event_type"), "day", f"b$i%02d", foldEvery = 2)
    }.last
  }

  /** The FOLD COMMIT alone on the partitions axis: state prepared
    * outside the clock (4 applies, no cadence folds), the timed body
    * is one explicit [[Materialize.checkpointPartials]] at the final
    * watermark — the operation whose r13 residual was 17× pure
    * FS-rename cost, and whose r14 manifest commit is supposed to be
    * partition-count-FLAT. [[aggFoldProbe]] keeps timing the whole
    * lifecycle, whose apply side (per-batch partitioned table writes)
    * remains O(#touched partitions) directory commits by the nature
    * of the directory layout. */
  private def aggFoldOnlyPrep(spark: SparkSession, dir: String,
      hourly: Boolean): Unit = {
    import graft.sources.Materialize
    val name = s"scale_aggfoldonly_${math.abs(dir.hashCode)}"
    Materialize.dropAggState(spark, name)
    val ev = spark.read.parquet(s"$dir/events.parquet")
    def partial(df: DataFrame): DataFrame =
      df.groupBy(
        (if (hourly) date_trunc("hour", col("ts"))
         else col("ts").cast("date")).as("day"),
        col("event_type"))
        .agg(count(lit(1)).as("n_events"))
    val h = pmod(graft.functions.Functions.md5Long(
      col("event_id").cast("string")), lit(4))
    (0 until 4).foreach { i =>
      Materialize.aggIncremental(spark, name, partial(ev.filter(h === i)),
        Seq("day", "event_type"), "day", f"b$i%02d", foldEvery = 0)
      ()
    }
  }

  private def aggFoldOnlyBody(spark: SparkSession, dir: String): Unit = {
    val name = s"scale_aggfoldonly_${math.abs(dir.hashCode)}"
    graft.sources.Materialize.checkpointPartials(spark, name,
      Seq("day", "event_type"), "day", "b03")
    ()
  }

  /** PARTITION-COUNT axis (VERDICT r12 #7): the composed builds'
    * commit chains — publish renames, MSCK repairs, per-slice drops,
    * dynamic-overwrite commits — are O(#partitions) DRIVER work, and
    * the data-volume axis never exercises it (10× data at the same
    * span is ~10× bytes in the same partition count ballpark). This
    * mode holds DATA CONSTANT (the x1 replica of the base fixture) and
    * shrinks the curated-table partition span 10× (the
    * `graft.corpus.partSpan` knob), so the composed corpus build, its
    * erasure, and the incremental continuation each commit ~10× the
    * partitions; the fold probe swaps its day partitioning for hours
    * (24×). A ratio near 1 says the commit machinery is
    * partition-count-insensitive; a ratio tracking the partition
    * growth says the serial metadata chain is the bottleneck at 100×
    * partition counts. Timed min-of-2 like the data axis; MetaOps
    * deltas ride each row so the commit bill is a recorded number. */
  private def partitionsAxis(spark: SparkSession, baseDir: String)
      : Unit = {
    import graft.queries.CorpusBuild
    val dir = "/tmp/graft_scale_x1"
    buildReplica(spark, baseDir, 1, dir)
    buildRelationalReplica(spark, baseDir, 1, dir)
    val spanDefault = CorpusBuild.curatedPartSpan
    val results = scala.collection.mutable.LinkedHashMap[String,
      (Double, Double)]()
    def timeOne(body: => Unit): (Double, Map[String, Long]) = {
      graft.sources.MetaOps.reset()
      val e = Tool.secs(body)
      val meta = graft.sources.MetaOps.snapshot
      Tool.cold(spark)
      (e, meta)
    }
    val eraseReq = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(CorpusBuild.EraseMod)) ===
        CorpusBuild.EraseRes)
    for ((tag, mult) <- Seq(("p1", 1), ("p10", 10))) {
      sys.props("graft.corpus.partSpan") =
        math.max(1L, spanDefault / mult).toString
      try {
        val raw = spark.read.parquet(s"$dir/documents.parquet")
        // the q258 split: base 80% / delta 20% by doc_id
        val cut = raw.agg(floor(max(col("doc_id")) * 0.8).cast("long"))
          .head().getLong(0)
        // (probe, untimed prep per rep, timed body): a repeated erase
        // would hit an already-erased corpus (no-op) and a replayed
        // incremental a converged state (near-no-op) — min-of-2 would
        // then time the WRONG operation, so each rep re-prepares state
        // OUTSIDE the clock
        for ((q, prep, body) <- Seq[(String, () => Unit, () => Unit)](
            ("corpus_build_parts", () => (),
              () => { CorpusBuild.run(spark, dir); () }),
            ("corpus_erase_parts",
              () => { CorpusBuild.run(spark, dir); () },
              () => { CorpusBuild.eraseDocs(spark, dir, eraseReq); () }),
            ("corpus_inc_parts",
              () => { CorpusBuild.run(spark, dir,
                raw.filter(col("doc_id") <= cut), suffix = "pa"); () },
              () => { CorpusBuild.runIncremental(spark, dir,
                raw.filter(col("doc_id") > cut), suffix = "pa")
                .collect(); () }),
            ("agg_fold_parts", () => (),
              () => { aggFoldProbe(spark, dir,
                hourly = mult > 1).count(); () }),
            ("agg_fold_only_parts",
              () => aggFoldOnlyPrep(spark, dir, hourly = mult > 1),
              () => aggFoldOnlyBody(spark, dir)))
            if Tool.picked(q)) {
          prep()
          val (t1, m1) = timeOne(body())
          prep()
          val (t2, m2) = timeOne(body())
          val t = math.min(t1, t2)
          val meta = Tool.jsonCounts(if (t1 <= t2) m1 else m2)
          results(q) =
            if (mult == 1) (t, results.get(q).map(_._2).getOrElse(0.0))
            else (results.get(q).map(_._1).getOrElse(0.0), t)
          println(
            f"""{"q":"$q","axis":"partitions","mult":$mult,"sec":$t%.3f,"metaops":$meta}""")
        }
      } finally { sys.props.remove("graft.corpus.partSpan"); () }
    }
    val rows = results.map { case (q, (t1, tm)) =>
      f""""$q":{"t1":$t1%.3f,"t10":$tm%.3f,"ratio":${tm / t1}%.2f}"""
    }.mkString(",")
    println(s"""{"scale_axis":"partitions","queries":{$rows}}""")
  }

  def main(args: Array[String]): Unit = {
    val baseDir = Tool.sfDir("/root/testdata/sf0.1")
    val mult = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULT", "10").toInt
    val spark = Tool.start()

    // SPARK_GRAFT_SCALE_AXIS=partitions: grow PARTITION COUNT at
    // constant data instead of data volume (the commit-chain axis)
    if (sys.env.get("SPARK_GRAFT_SCALE_AXIS").contains("partitions")) {
      partitionsAxis(spark, baseDir)
      spark.stop()
      return
    }

    def timeOne(df: => DataFrame): Double = {
      val e = Tool.secs(df.count())
      Tool.cold(spark)
      e
    }

    Tool.warm(spark, baseDir, Seq("q22_exact_dedup"))
    val results = scala.collection.mutable.LinkedHashMap[String,
      (Double, Double)]()
    // Build EVERY replica before ANY timed query, then settle the
    // JVM: in the r8 panel the 10× replica build ran immediately
    // before the 10× timed phase and its write-side debris (shuffle
    // files, block cache, old-gen garbage) contaminated the first
    // timed queries (q23 22.6 s in-sweep vs 6.3 s isolated, q81
    // 47.3 s vs 4.9 s — both ratio ≈2 when clean). Builds are
    // idempotent, so this pass is a no-op when the dirs exist.
    for (m <- Seq(1, mult)) {
      buildReplica(spark, baseDir, m, s"/tmp/graft_scale_x$m")
      buildRelationalReplica(spark, baseDir, m, s"/tmp/graft_scale_x$m")
    }
    // untimed warmup of each SELECTED query against the x1 dir: in the
    // full panel the first queries absorb the JVM's codegen/JIT
    // ramp-up for everyone, but a RESTRICTED panel (SPARK_GRAFT_ONLY=...)
    // otherwise times the first-ever compilation of its own path
    // inside the mult=1 leg and reads an inverted ratio (measured:
    // q245 36.7 s cold-x1 vs 10.6 s warm-x10 — the composed builds'
    // dozens of distinct codegen stages dominate the small fixture)
    val queries = (corpusQueries ++ relationalQueries).filter(Tool.picked)
    if (Tool.only.isDefined)
      Tool.warm(spark, "/tmp/graft_scale_x1", queries)
    val panel = queries.map(q => q -> SparkEntry.queries(q)) ++
      Seq[(String, (SparkSession, String) => DataFrame)](
        ("ann_ivf_fixedq", annFixedQ),
        ("hardneg_fixedq", hardNegFixedQ),
        ("ann_retrain_lifecycle", annRetrainProbe),
        ("ann_filtered_serve", annFilteredProbe),
        ("ann_serve_unfiltered", annUnfilteredProbe),
        ("stream_ingest_dedup", streamIngestProbe),
        ("agg_fold_lifecycle", (s, d) => aggFoldProbe(s, d)))
        .filter(p => Tool.picked(p._1))
    for (m <- Seq(1, mult)) {
      val dir = s"/tmp/graft_scale_x$m"
      Tool.cold(spark)
      for ((name, run) <- panel) {
        // min of 2: the scaling exponent needs the intrinsic cost, not
        // a GC hiccup
        val t = math.min(timeOne(run(spark, dir)), timeOne(run(spark, dir)))
        results(name) =
          if (m == 1) (t, results.get(name).map(_._2).getOrElse(0.0))
          else (results.get(name).map(_._1).getOrElse(0.0), t)
        println(f"""{"q":"$name","mult":$m,"sec":$t%.3f}""")
      }
    }
    val rows = results.map { case (q, (t1, tm)) =>
      f""""$q":{"t1":$t1%.3f,"t$mult":$tm%.3f,"ratio":${tm / t1}%.2f}"""
    }.mkString(",")
    println(s"""{"scale_mult":$mult,"queries":{$rows}}""")
    spark.stop()
  }
}
