package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.quality.{NonEmpty, NotNull, Unique}
import graft.sources.Materialize

/** The PERSISTED trained-IVF ANN index — the production form of the
  * inline trained-IVF search (q100: [[KMeans.nearestCells]] cells
  * through [[Similarity.probeTopK]]; reference basis: the
  * embedding/ANN surface of the LLM extension; the inline queries
  * re-train and re-assign per run, which a 100 TB corpus cannot
  * afford). The index is two published catalog tables:
  *
  *  - `<name>_centroids`: the k trained coarse centroids (WAP-audited
  *    publish — a half-trained centroid table is never visible);
  *  - `<name>_postings`: (id, vec) PARTITIONED BY assigned `cell`, so
  *    every later operation touches only the relevant cell slices.
  *
  * Lifecycle, each step cost-bounded by what it touches:
  *  - [[build]] trains ([[KMeans.fit]]: one scan per iteration,
  *    centroids broadcast, ≤ k-row collects) and assigns once;
  *  - [[append]] assigns a delta under the FROZEN published centroids
  *    and appends only ids not already present — the existence probe
  *    reads just the delta's own cells' id column (partition-pruned +
  *    column-pruned), so replaying a delta is a no-op and cost is
  *    ∝ delta, never ∝ index;
  *  - [[erase]] is the partition-scoped [[Materialize.eraseKeys]]
  *    delete (the GDPR story, same contract as the corpus build's);
  *  - [[topK]] is a 2-probe search (the `nProbe` knob buys recall at
  *    nProbe/cells of the postings read — q259 measures the curve):
  *    each query probes its nearest cells, the probed cell VALUES
  *    (bounded ≤ k) become a `PartitionFilters` entry on the postings
  *    scan — unprobed partitions are never listed or read
  *    (spec-locked) — and candidates are scored with exact cosine
  *    into the partial-aggregatable TopK;
  *  - [[topKWhere]] is the FILTERED serve: the predicate lands on the
  *    postings parquet scan itself, under the cell partition filters;
  *  - [[streamIngestDedup]] is the continuous front door: per-batch
  *    replay-invariant dedup verdict → idempotent audit → append;
  *  - [[maintain]]/[[maintainMonitored]] compact fragmented cells and
  *    run the measured retrain-swap decision.
  *
  * Determinism: assignment is the [[KMeans]] quantized-grid
  * first-wins argmin; centroid doubles round-trip parquet bit-exactly,
  * so frozen-centroid assignment in a later session (or engine —
  * the oracle replays from the same Lloyd's chain) equals the
  * build-time one.
  */
object AnnIndex {

  def centroidsTable(name: String): String = s"${name}_centroids"
  def postingsTable(name: String): String = s"${name}_postings"

  /** The postings columns that are NOT index machinery: everything the
    * build carried besides (id, vec) and the partition column — the
    * filterable attribute payload [[topKWhere]] serves against. */
  private def attrColumns(spark: SparkSession, name: String): Seq[String] =
    spark.table(postingsTable(name)).columns.toSeq
      .filterNot(c => c == "id" || c == "vec" || c == "cell")

  /** (id, vec, attrs..., cell) under the given centroids — the one
    * assignment path every lifecycle step shares, so build/append/
    * search cannot drift on cell boundaries. Attribute columns ride
    * unchanged next to the vector. */
  private def assign(df: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Double]], attrCols: Seq[String] = Nil)
      : DataFrame =
    cellOf(df.select(col(idCol).as("id") +: col(vecCol).as("vec") +:
        attrCols.map(col): _*)
        .withColumn("__vq", KMeans.quantize(col("vec"))), cents, attrCols)

  /** (id, vec, attrs..., cell) of a frame already carrying `__vq`. */
  private def cellOf(vq: DataFrame, cents: Array[Array[Double]],
      attrCols: Seq[String]): DataFrame =
    KMeans.nearestCells(vq, "__vq", cents, 1)
      .select(col("id") +: col("vec") +: attrCols.map(col) :+
        col("__probe0").cast("long").as("cell"): _*)

  /** Train on `vectors` and publish the index; returns the posting
    * count. `vectors` is scanned `iters + 1` times (persisted through
    * [[InternalCache]] for the duration of the build).
    *
    * `attrCols` names metadata columns of `vectors` to carry INTO the
    * postings (kept under the same names): the filterable payload of a
    * FILTERED index — [[topKWhere]] pushes its predicate into the
    * postings parquet scan, so at 100 TB a metadata-constrained search
    * reads only the probed cells' row groups that can match, instead
    * of joining a separate attribute table after the fact. Training
    * and assignment ignore the attributes entirely. */
  def build(spark: SparkSession, vectors: DataFrame, idCol: String,
      vecCol: String, name: String, k: Int, dims: Int,
      iters: Int, attrCols: Seq[String] = Nil): Long = {
    // the full internal/output namespace of the lifecycle, not just
    // build's own scratch: __rn (append's dedup window), __kd*/__probe*
    // (KMeans scratch), and the stream verdict's output names — a
    // colliding attrCol would otherwise surface later as a confusing
    // AnalysisException in append/search instead of failing here
    val reserved = Set("id", "vec", "cell", "query_id", "qvec", "probe",
      "dup_of", "is_dup", "cosine", "neighbor_id", "rank", "score")
    require(attrCols.forall(c => !reserved(c) && !c.startsWith("__")),
      s"attrCols may not use reserved index column names $reserved " +
        "or the __ internal prefix")
    val vq = InternalCache.persist(
      vectors.select(col(idCol).as("id") +: col(vecCol).as("vec") +:
        attrCols.map(col): _*)
        .withColumn("__vq", KMeans.quantize(col("vec"))))
    val cents = KMeans.fit(vq, "__vq", k, dims, iters)
    import spark.implicits._
    val cdf = cents.zipWithIndex.toIndexedSeq
      .map { case (c, m) => (m.toLong, c.toSeq) }
      .toDF("cell", "c")
    Materialize.publishSetAudited(centroidsTable(name), Seq(
      Materialize.Member(cdf, centroidsTable(name),
        Seq(NotNull("cell"), NotNull("c"), Unique(Seq("cell"))))))
    Materialize.partitionedTable(cellOf(vq, cents, attrCols),
      postingsTable(name), "cell")
    InternalCache.release()
    spark.table(postingsTable(name)).count()
  }

  /** The published centroid table, ordered by cell.
    * Bounded collect: ≤ k centroid rows (the [[KMeans.fit]] contract). */
  def loadCentroids(spark: SparkSession, name: String): Array[Array[Double]] =
    spark.table(centroidsTable(name)).orderBy(col("cell"))
      .collect().map(_.getSeq[Double](1).toArray)

  /** Assign `delta` under the frozen published centroids and append
    * the ids not already indexed; returns the appended count.
    * Replay-safe: a re-submitted id lands in the SAME cell
    * (deterministic assignment of the same vector), so the existence
    * anti-join only needs the delta's own cells — one partition-pruned
    * id-column scan, never the whole postings table.
    *
    * An attribute-carrying index ([[build]]'s `attrCols`) derives its
    * attribute list from the PUBLISHED postings schema, so the delta
    * must carry those columns under the postings' own names — a delta
    * missing one fails analysis loudly rather than appending nulls. */
  def append(spark: SparkSession, name: String, delta: DataFrame,
      idCol: String, vecCol: String): Long = {
    val post = postingsTable(name)
    val attrs = attrColumns(spark, name)
    // the anti-join below guards against ids ALREADY indexed; a delta
    // (or one streamed file) carrying the same id twice would pass it
    // twice and create duplicate postings — violating the unique-id
    // assumption topK's "candidates need no dedup" relies on. Keep-first
    // within the delta, deterministically (portable hash tie-break, so
    // a replayed/re-partitioned delta keeps the same row).
    val deduped = delta.withColumn("__rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol))
          .orderBy(graft.functions.Functions
            .md5Long(to_json(col(vecCol))))))
      .filter(col("__rn") === 1).drop("__rn")
    val a = InternalCache.persist(
      assign(deduped, idCol, vecCol, loadCentroids(spark, name), attrs))
    // bounded collect: ≤ k distinct cell VALUES
    val touched = a.select(col("cell")).distinct()
      .collect().map(_.getLong(0))
    val fresh = a.join(
      spark.table(post).filter(col("cell").isin(touched: _*))
        .select(col("id")),
      Seq("id"), "left_anti")
    // the appended count rides the append write itself (observe) —
    // pre-r14 this was a separate count() action, one extra pass of
    // driver latency per append in every lifecycle path (stream
    // ingest pays it per micro-batch). A fully-replayed delta appends
    // zero rows: the write job runs and commits nothing, and AQE's
    // empty-relation propagation may prune the CollectMetrics node —
    // Quality.obsLong reads that as 0, which is exact.
    val wObs = org.apache.spark.sql.Observation()
    // insertInto is positional: (id, vec, attrs...) data columns,
    // cell last — the partitionedTable layout
    fresh.observe(wObs, count(lit(1)).as("appended"))
      .select(col("id") +: col("vec") +: attrs.map(col) :+
        col("cell"): _*)
      .repartition(col("cell"))
      .write.mode("append").insertInto(post)
    val n = graft.quality.Quality.obsLong(wObs, "appended")
    if (n > 0) spark.catalog.refreshTable(post)
    InternalCache.release()
    n
  }

  /** Physically delete the given ids from the postings — a
    * partition-scoped rewrite of only the cells that hold them.
    * Returns the touched cell values. */
  def erase(spark: SparkSession, name: String, ids: DataFrame): Seq[Any] =
    Materialize.eraseKeys(spark, postingsTable(name), "id", ids, "cell")

  /** CONTINUOUS index ingestion: embedding files landed under
    * `landingDir` drain through [[append]] one micro-batch per file
    * (`maxFilesPerTrigger=1`, `Trigger.AvailableNow`); restarting with
    * the same checkpoint resumes from committed offsets. No batch-id
    * marker is needed — [[append]] is replay-CONVERGENT (the
    * cell-scoped id anti-join absorbs redelivered vectors), so
    * foreachBatch's at-least-once delivery collapses to
    * effectively-once, the same recovery story as the corpus build's
    * streaming front-end. Returns (batchId, appended) per batch. */
  def streamAppend(spark: SparkSession, name: String, landingDir: String,
      checkpoint: String, idCol: String, vecCol: String,
      schema: org.apache.spark.sql.types.StructType)
      : Seq[(Long, Long)] = {
    val counts = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(landingDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val n = append(spark, name, batch, idCol, vecCol)
        counts.synchronized { counts += ((id, n)); () }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    counts.toSeq
  }

  /** CONTINUOUS ingest WITH dedup — the full production front door for
    * a semantic-dedup corpus: each landed micro-batch is (1) verdict-ed
    * against the CURRENT index (best 2-probe neighbor, k = 1, dup at
    * `threshold` on the served rounded cosine — the q256 semantics),
    * (2) audited (one verdict row per batch doc, written to
    * `auditDir/b<batchId>` with OVERWRITE so a replayed batch rewrites
    * its own slice — at-least-once delivery collapses to idempotent
    * audits), and (3) the kept docs are appended, so a duplicate
    * arriving in a LATER batch is caught against its earlier twin —
    * the cross-batch dedup a one-shot delta check cannot do. Cost per
    * batch is ∝ batch × probed cells; the corpus is only ever read
    * through partition-pruned postings.
    *
    * Verdict candidates, per batch doc (ids must be orderable —
    * "smaller id" below is the id column's own ordering):
    *  - INDEX postings of its probed cells, the batch's OWN ids
    *    excluded — the exclusion makes the verdict replay-INVARIANT:
    *    a replayed batch whose kept docs already appended scores
    *    against exactly the index the clean run saw;
    *  - batch SIBLINGS with a SMALLER id whose assigned cell is one
    *    of the doc's probed cells — the append-then-search shape, so
    *    a burst of re-fetches inside one micro-batch keeps only its
    *    smallest-id representative instead of landing N copies.
    *    Leader-chaining (a ~ b ~ c, a !~ c) drops both b and c: each
    *    has a near-dup with a smaller id, and the cluster's duplicate
    *    content is represented by a alone.
    * The verdict is the best candidate overall by (cosine desc, id);
    * `dup_of` may therefore name a batch sibling that was itself
    * dropped — the evidence chain, not necessarily the surviving
    * copy. [[append]]'s id anti-join still collapses exact id
    * replays. Returns (batchId, dropped, appended) per batch.
    * `appended` counts rows physically landed by THIS invocation: a
    * replayed batch whose rows already landed reports `appended = 0`
    * (the append anti-join absorbed it) where the clean run reported
    * n — the crash-recovery contract guarantees index/audit STATE
    * convergence, not return-value equality.
    *
    * Crash recovery: the batch's offset commits only after the whole
    * foreachBatch body, so a crash ANYWHERE inside it (after the
    * audit write before the append, or after the append before the
    * offset commit) replays the batch on restart — the audit
    * overwrite re-lands the same rows (the verdict is
    * replay-invariant, above) and the append anti-join absorbs what
    * already landed, converging to the clean run's state (spec:
    * fault-injected via `crashAfterAudit` AND `crashAfterAppend`,
    * both TEST-ONLY). */
  def streamIngestDedup(spark: SparkSession, name: String,
      landingDir: String, checkpoint: String, idCol: String,
      vecCol: String, threshold: Double, auditDir: String,
      schema: org.apache.spark.sql.types.StructType,
      crashAfterAudit: Long = -1L, crashAfterAppend: Long = -1L)
      : Seq[(Long, Long, Long)] = {
    val counts =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(landingDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        // try/finally: a crash (injected or real) anywhere in the body
        // must still free the per-batch persisted frames — without it
        // the verdict frame would leak in the cache queue until an
        // unrelated later release()
        try {
          val cents = loadCentroids(spark, name)
          val qs = batch.select(col(idCol).as("query_id"),
            col(vecCol).as("qvec"))
          val qp = probeFrame(qs, cents, 2)
          // index leg, the batch's own ids excluded (replay
          // invariance — see the contract above)
          val idxScored = scoredAgainst(spark, name, qp, None,
            Some(batch.select(col(idCol).as("id"))))
          // sibling leg: smaller-id batch docs whose assigned cell is
          // probed — the shape append-then-search would have given
          val sibScored = Similarity.probeScores(
              assign(batch, idCol, vecCol, cents), "id", "vec", col("cell"),
              qp, "query_id", "qvec", col("__probes"))
            .filter(col("id") < col("query_id"))
          val best = Similarity
            .topKPerQuery(idxScored.unionByName(sibScored), 1)
            .select(col("query_id").as(idCol),
              col("neighbor_id").as("dup_of"), col("cosine"))
          // persisted: consumed by the audit write, the kept filter,
          // and the dropped count — one verdict, three readers
          val verdict = InternalCache.persist(
            batch.select(col(idCol)).join(best, Seq(idCol), "left")
              .select(col(idCol), col("dup_of"), col("cosine"),
                coalesce(col("cosine") >= threshold, lit(false))
                  .as("is_dup")))
          // the dropped count rides the audit write (observe over the
          // cached verdict) — pre-r14 it was its own count() action,
          // one extra action of driver latency per micro-batch. Read
          // BEFORE append: append() releases operator-internal caches
          // (its own contract), which would unpersist `verdict`, and
          // a post-append recompute would re-read the landed file.
          val dObs = org.apache.spark.sql.Observation()
          verdict.observe(dObs,
              sum(when(col("is_dup"), 1L).otherwise(0L)).as("dropped"))
            .write.mode("overwrite").parquet(s"$auditDir/b$bid")
          if (bid == crashAfterAudit)
            throw new Materialize.CrashInjected(bid.toInt)
          val dropped = graft.quality.Quality.obsLong(dObs, "dropped")
          val kept = batch.join(
            verdict.filter(col("is_dup")).select(col(idCol)),
            Seq(idCol), "left_anti")
          val n = append(spark, name, kept, idCol, vecCol)
          if (bid == crashAfterAppend)
            throw new Materialize.CrashInjected(bid.toInt)
          counts.synchronized { counts += ((bid, dropped, n)); () }
        } finally InternalCache.release()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    counts.toSeq
  }

  /** Post-append maintenance: every [[append]] adds at least one file
    * to each touched cell, so a long-running ingest fragments the
    * postings (per-file open cost dominates a scan once files ≪ the
    * split size). Compacts every cell whose file count exceeds
    * `maxFiles` — content bit-identical, only layout changes. Returns
    * the compacted cell values. */
  def maintain(spark: SparkSession, name: String,
      maxFiles: Int = 1): Seq[Any] =
    Materialize.compactFiles(spark, postingsTable(name), "cell", maxFiles)

  /** The retrain POLICY the q249 monitor feeds: frozen-centroid
    * appends slowly degrade recall as the corpus distribution drifts
    * away from the build-time quantizer, and this is the operator
    * that acts on that signal. It measures, over `queries`:
    *
    *  - recall@k of the LIVE index (frozen centroids, 2-probe) vs the
    *    exact brute-force top-k on the index's CURRENT content;
    *  - recall@k of a CANDIDATE index retrained on that same content
    *    (identical 2-probe search, evaluated inline — nothing
    *    published yet);
    *
    * and only when `retrained − frozen > threshold` (absolute recall
    * points — the q249 fixture reads a ~0.03 gap) swaps the retrained
    * centroids AND re-binned postings in as ONE all-or-nothing set
    * ([[Materialize.publishSetAudited]], postings staged PARTITIONED
    * BY cell): a crash mid-swap can never leave new centroids over
    * old cell assignments, which would silently break every
    * subsequent cell-scoped append/search. Below the threshold it
    * publishes nothing.
    *
    * Returns (frozenRecall, retrainedRecall, swapped?) — swapped is
    * true only when the threshold tripped AND the set audit published
    * (a failed audit publishes nothing and must not be reported as a
    * recovery). Cost when the gap is below threshold: the measurement
    * only — one exact scan over content × queries (the recall
    * denominator needs it) plus the candidate training's `iters`
    * scans; the swap cost is one re-binned postings rewrite, paid
    * only when buying the measured recall back.
    *
    * Crash recovery: the swap is a [[Materialize.publishSetAudited]]
    * under set name `<name>_retrain` — a crash mid-swap leaves the
    * `<name>_retrain__swapping` marker, and
    * `Materialize.recoverSet(spark, s"${name}_retrain")` rolls the index
    * back to one consistent generation (spec: "a crash mid-retrain-swap
    * is recoverable"). `crashAfter` is TEST-ONLY fault injection,
    * forwarded to the publish (centroids are member 0, postings
    * member 1). */
  def maintainWithRetrain(spark: SparkSession, name: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, cells: Int, dims: Int, iters: Int,
      threshold: Double, crashAfter: Int = -1)
      : (Double, Double, Boolean) = {
    val o = measureAndMaybeSwap(spark, name, queries, queryIdCol,
      queryVecCol, k, cells, dims, iters, threshold, crashAfter)
    (o.frozenRecall, o.retrainedRecall, o.swapped)
  }

  /** ONE-CALL lifecycle maintenance that closes the
    * monitor → decision → swap loop: compacts fragmented cells
    * ([[maintain]]), runs the q249 retrain monitor (frozen vs
    * retrained recall@k over `queries`), and acts on the monitor's
    * OWN numbers — the swap fires exactly when that report's recall
    * gap exceeds `threshold`. Returns the q249-shaped report the
    * decision consumed: one row per method (`ivf_frozen` /
    * `ivf_retrained`) with (n_exact, n_hit, recall), plus the action
    * columns (`swapped`, `compacted_cells`) — the measurement and the
    * action land as one record, so the numbers that justified a swap
    * are exactly the numbers reported (no second, drifting
    * measurement). Below threshold the call publishes nothing and the
    * report documents the no-op (spec: "maintainMonitored"). */
  def maintainMonitored(spark: SparkSession, name: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, cells: Int, dims: Int, iters: Int, threshold: Double,
      maxFiles: Int = 1, crashAfter: Int = -1): DataFrame = {
    val compacted = maintain(spark, name, maxFiles).size.toLong
    val o = measureAndMaybeSwap(spark, name, queries, queryIdCol,
      queryVecCol, k, cells, dims, iters, threshold, crashAfter)
    import spark.implicits._
    Seq(
      ("ivf_frozen", o.nExact, o.frozenHits,
        math.rint(o.frozenRecall * 1e6) / 1e6, o.swapped, compacted),
      ("ivf_retrained", o.nExact, o.retrainedHits,
        math.rint(o.retrainedRecall * 1e6) / 1e6, o.swapped, compacted))
      .toDF("method", "n_exact", "n_hit", "recall", "swapped",
        "compacted_cells")
  }

  /** Measurement + decision + (maybe) swap shared by
    * [[maintainWithRetrain]] and [[maintainMonitored]]. Hit COUNTS
    * (not just ratios) survive to the caller so the monitored form
    * can report exactly what the decision consumed. */
  private final case class RetrainOutcome(nExact: Long,
      frozenHits: Long, retrainedHits: Long, swapped: Boolean) {
    def frozenRecall: Double =
      if (nExact == 0L) 1.0 else frozenHits.toDouble / nExact
    def retrainedRecall: Double =
      if (nExact == 0L) 1.0 else retrainedHits.toDouble / nExact
  }

  private def measureAndMaybeSwap(spark: SparkSession, name: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, cells: Int, dims: Int, iters: Int,
      threshold: Double, crashAfter: Int): RetrainOutcome = try {
    // full rows minus the stale cell: the re-bin must publish the
    // attribute payload back, or a retrain swap would silently strip
    // every filterable column from an attribute-carrying index
    val attrs = attrColumns(spark, name)
    val content = InternalCache.persist(
      spark.table(postingsTable(name)).drop("cell"))
    val q = queries.select(col(queryIdCol).as("query_id"),
      col(queryVecCol).as("qvec"))
    val exact = InternalCache.persist(
      Similarity.bruteForceTopK(content, "id", "vec", q,
          "query_id", "qvec", k)
        .select(col("query_id"), col("neighbor_id")))
    // bounded: recall is scalar counts over ≤ |queries|·k rows
    val nExact = exact.count()
    def hitsOf(approx: DataFrame): Long =
      exact.join(
        approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
        .count()
    val frozenHits = hitsOf(topK(spark, name, q, "query_id", "qvec", k))
    // candidate: retrain on the current content; evaluate the SAME
    // 2-probe search inline, without publishing anything
    val vq = InternalCache.persist(
      content.withColumn("__vq", KMeans.quantize(col("vec"))))
    val cand = KMeans.fit(vq, "__vq", cells, dims, iters)
    val assigned = cellOf(vq, cand, attrs)
    val retrainedHits = hitsOf(Similarity.probeTopK(assigned, "id", "vec",
      col("cell"), probeFrame(q, cand, 2), "query_id", "qvec",
      col("__probes"), k))
    val pre = RetrainOutcome(nExact, frozenHits, retrainedHits,
      swapped = false)
    val doSwap = pre.retrainedRecall - pre.frozenRecall > threshold
    val published = doSwap && {
      import spark.implicits._
      val cdf = cand.zipWithIndex.toIndexedSeq
        .map { case (c, m) => (m.toLong, c.toSeq) }
        .toDF("cell", "c")
      // NonEmpty: an index swap must never replace a serving index
      // with nothing — row-level audits hold vacuously on zero rows
      // (retraining a legitimately empty index fails the gate loudly,
      // which is the right answer for a nonsense operation)
      val (ok, _) = Materialize.publishSetAudited(s"${name}_retrain", Seq(
        Materialize.Member(cdf, centroidsTable(name),
          Seq(NonEmpty(), NotNull("cell"), NotNull("c"),
            Unique(Seq("cell")))),
        Materialize.Member(assigned, postingsTable(name),
          Seq(NonEmpty(), NotNull("id"), NotNull("cell"),
            Unique(Seq("id"))),
          Some("cell"))),
        crashAfter = crashAfter)
      ok
    }
    pre.copy(swapped = published)
  } finally InternalCache.release()

  /** Multi-probe IVF search over the published index: per query, exact
    * cosine top-k among the postings of its `nProbe` nearest cells
    * (default 2 — nearest + runner-up, the contract every 2-probe
    * oracle replays; raise it to buy recall at nProbe/cells of the
    * postings read). Returns (query_id, rank, neighbor_id, cosine),
    * rank 1..k by (cosine desc, id), self-matches excluded. Probes are
    * distinct cells and every posting lives in exactly one cell, so
    * candidates need no dedup. */
  def topK(spark: SparkSession, name: String, queries: DataFrame,
      queryIdCol: String, queryVecCol: String, k: Int,
      nProbe: Int = 2): DataFrame =
    searchTopK(spark, name, queries, queryIdCol, queryVecCol, k,
      nProbe, None)

  /** FILTERED 2-probe search: [[topK]] restricted to postings matching
    * `predicate` (over the attribute columns [[build]] carried — e.g.
    * `col("label") < 3`). The filter lands on the postings scan ITSELF
    * — under the cell `PartitionFilters`, the predicate becomes a
    * parquet `PushedFilters` entry (spec-locked), so a narrow filter
    * skips non-matching row groups instead of scoring and discarding
    * them. This is PRE-filtering: every rank slot goes to a matching
    * candidate, so the result never starves the way post-filtering a
    * global search does (q254 measures that gap); recall under very
    * narrow filters is bought back with more probes, not more k —
    * `nProbe` is that knob (a filter at selectivity s thins each
    * probed cell to ~s·|cell| candidates; raising nProbe restores the
    * candidate count at nProbe/cells of the postings read, and a
    * probe-superset can never lower any query's scores). */
  def topKWhere(spark: SparkSession, name: String, queries: DataFrame,
      queryIdCol: String, queryVecCol: String, k: Int,
      predicate: org.apache.spark.sql.Column,
      nProbe: Int = 2): DataFrame =
    searchTopK(spark, name, queries, queryIdCol, queryVecCol, k,
      nProbe, Some(predicate))

  private def searchTopK(spark: SparkSession, name: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, nProbe: Int,
      predicate: Option[org.apache.spark.sql.Column])
      : DataFrame = {
    val qp = probeFrame(
      queries.select(col(queryIdCol).as("query_id"),
        col(queryVecCol).as("qvec")),
      loadCentroids(spark, name), nProbe)
    Similarity.topKPerQuery(
      scoredAgainst(spark, name, qp, predicate, None), k)
  }

  /** (query_id, qvec, __probes): each query's `nProbe` nearest cells
    * under `cents`, nearest first — the probe side of every index
    * search. */
  private def probeFrame(queries: DataFrame,
      cents: Array[Array[Double]], nProbe: Int): DataFrame =
    KMeans.nearestCells(
        queries.withColumn("__vq", KMeans.quantize(col("qvec"))),
        "__vq", cents, nProbe)
      .select(col("query_id"), col("qvec"),
        KMeans.probeList(nProbe).as("__probes"))

  /** (query_id, pidx, probe): the queries' (query_id, qvec) `nProbe`
    * nearest cells of the published index, one row per probe with its
    * rank `pidx` — the p-probe set is the prefix `pidx < p`, so one
    * frame serves every point of an nProbe curve. */
  def rankedProbes(spark: SparkSession, name: String, queries: DataFrame,
      nProbe: Int): DataFrame =
    probeFrame(queries, loadCentroids(spark, name), nProbe)
      .select(col("query_id"), // outer: see Similarity.probeRows
        posexplode_outer(col("__probes")).as(Seq("pidx", "probe")))

  /** Raw (query_id, id, score) candidate scores of the probed-cell
    * postings search — the shared scoring leg of [[searchTopK]] and
    * the stream verdict. `excludeIds` (an `id`-column frame) anti-joins
    * postings out BEFORE scoring: [[streamIngestDedup]] passes the
    * batch's own ids so a replayed batch scores against exactly the
    * index the clean run saw (its own appended docs excluded). */
  private def scoredAgainst(spark: SparkSession, name: String,
      qp: DataFrame, predicate: Option[org.apache.spark.sql.Column],
      excludeIds: Option[DataFrame]): DataFrame = {
    // bounded collect: ≤ k probed cell VALUES — this literal list is
    // what turns the postings scan into a PartitionFilters-pruned read
    val probed = Similarity.probeRows(qp, "query_id", "qvec",
        col("__probes"))
      .select(col("__probe")).distinct().collect().map(_.getLong(0))
    val posts0 = predicate.foldLeft(
      spark.table(postingsTable(name)))(_ filter _)
    val posts = excludeIds.foldLeft(posts0)((p, ex) =>
      p.join(broadcast(ex.select(col("id"))), Seq("id"), "left_anti"))
    Similarity.probeScores(posts.filter(col("cell").isin(probed: _*)),
      "id", "vec", col("cell"), qp, "query_id", "qvec", col("__probes"))
  }
}
