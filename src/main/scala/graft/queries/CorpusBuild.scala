package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Functions.{md5Long, normText, punctChars, tokenHits, tokens}
import graft.operators.{Ranking, TextDedup}
import graft.quality.{NotNull, Quality, Unique}
import graft.sources.{Materialize, Tables}

/** The composed LLM-corpus curation lifecycle as ONE product — the
  * training-data counterpart of [[graft.sources.WarehouseBuild]]
  * (reference basis: the corpus table + declared quality rules,
  * `/root/reference/data_gen/generate_and_load_script.py:43-45`,
  * `models/schema.yml:122-141`): quality gate → language filter →
  * exact dedup → NEAR-dedup (MinHash, the q23 configuration) →
  * eval-set removal → decontamination → curated-corpus
  * materialization → token-budget shard packing → audited manifest
  * publish, chained as a single run that returns ONE audit report.
  *
  * Instrumentation design (same as the warehouse build): the three
  * filter-stage counters ride the curated-corpus materialization via
  * `Dataset.observe` — one scan computes quality score, predicted
  * language, the dedup window, and every counter; nothing is counted
  * twice. Decontamination runs AGAINST THE STORED COPY (reading the
  * staged table back from the catalog), so the contamination subtree
  * cannot re-fire the observe nodes, and the report describes what a
  * reader of the published tables actually sees.
  *
  * Scale posture (100 TB): every stage is declarative — the quality
  * and language features are codegen'd column expressions on the one
  * corpus scan, exact dedup is a hash-partitioned window, near-dedup
  * is banded-bucket joins only (and delta × stored-index in the
  * incremental form), the probe gram set is BROADCAST (the corpus
  * never shuffles for candidates), shard packing is the distributed
  * range-partitioned prefix sum — and the only driver-side values are
  * the report's ~14 bounded Longs.
  */
object CorpusBuild {

  /** Minimum quality score to enter the corpus (the q28 scoring
    * formula — bit-identical across engines, so the threshold compare
    * is portable). */
  private val QualityMin = 0.5

  /** Whitespace-token budget per training shard (the q82 contract). */
  private val ShardBudget = 4096L

  /** doc_id span per curated-table partition: with append-only ids,
    * a delta's additions land in the tail partitions and a retroactive
    * removal touches only its doc's partition — the partition-scoped
    * merge in [[runIncremental]] rewrites exactly those slices. Sized
    * for the repo fixtures and their replicas; a deployment with
    * ~1e12 ids would pick ~1e9 (partition count = id range / span,
    * target a few hundred MB of text per partition). */
  private val CuratedPartSpan = 10000L

  /** The effective span: the `graft.corpus.partSpan` system property
    * overrides the default — a SCALE-HARNESS-ONLY knob
    * ([[graft.ScaleBench]]'s partitions axis grows partition count at
    * constant data to time the commit chains). Oracle SQL interpolates
    * the DEFAULT, so correctness runs must never set the property. */
  private[graft] def curatedPartSpan: Long =
    sys.props.get("graft.corpus.partSpan").map(_.toLong)
      .getOrElse(CuratedPartSpan)

  private def ptCol = ptOf(curatedPartSpan)

  private def ptOf(span: Long) = floor(col("doc_id") / lit(span))
    .cast("long").as("pt")

  /** The `pt` column of an EXISTING corpus whose curated table is
    * `curatedT`: over the span [[run]] recorded on that table as a
    * property (catalog metadata, no data action), so a delta or an
    * erasure addresses the slices the tables were built with, whatever
    * span is in force now; a table without the property takes the
    * span in force. */
  private def builtPtCol(spark: SparkSession, curatedT: String) =
    ptOf(org.apache.spark.sql.graft.CatalogMeta.of(spark, curatedT)
      .properties.get(SpanKey).map(_.toLong).getOrElse(curatedPartSpan))

  private val SpanKey = "graft.corpus.partSpan"

  private type Metric = (String, String, String, Long)

  /** One enriched scan over a documents frame: quality features +
    * language hits as codegen'd columns; every gate is a filter over
    * these. Shared by [[run]] and [[runIncremental]] so the full and
    * incremental paths cannot drift. */
  private def enrich(raw: DataFrame): DataFrame = {
    val w = tokens(col("text"))
    raw.select(
      Seq(col("doc_id"), col("text"), size(w).as("tok"),
        tokenHits(w, Llm.StopEn).as("stop_hits"),
        length(col("text")).as("chars"),
        punctChars(col("text")).as("punct")) ++
        Llm.langHitCols(w): _*)
      .withColumn("score", Llm.qualityScoreCol)
      .withColumn("predicted", Llm.langPredCol)
  }

  /** The normalized content hash both dedup paths key on. */
  private def contentHash = md5(normText(col("text")))

  /** Run the full curation build against the fixture at `dir`.
    * Returns the audit report: (step, relation, metric, value BIGINT).
    * Tables are suffixed per-`dir` so scale factors don't collide. */
  def run(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, Tables.documents(spark, dir))

  /** [[run]] over an explicit documents frame (a subset fixture), with
    * an optional extra table-name `suffix` so a query that stages its
    * own base build (q258) cannot collide with q245/q246's tables. */
  def run(spark: SparkSession, dir: String, raw: DataFrame,
      suffix: String = ""): DataFrame = {
    val h = math.abs(dir.hashCode).toString + suffix
    val enriched = enrich(raw)
    val (observed, gateObs) = Quality.observed(enriched, Seq(
      "rows_in" -> lit(true),
      "dropped_low_quality" -> (col("score") < QualityMin),
      "dropped_non_en" ->
        (col("score") >= QualityMin && col("predicted") =!= "en")))

    // ---- gates: quality + language, then exact dedup keep-first on
    // the normalized content hash (hash-partitioned window, never a
    // global sort), then eval-set removal (the benchmark docs
    // themselves must never be trained on).
    val gated = observed
      .filter(col("score") >= QualityMin && col("predicted") === "en")
    val deduped = gated
      .withColumn("__h", contentHash)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("__h")).orderBy(col("doc_id"))))
      .filter(col("__rn") === 1)
    val (dedupObserved, dedupObs) = Quality.observed(deduped, Seq(
      "rows_kept" -> lit(true),
      "eval_docs" -> (pmod(col("doc_id"), lit(Llm.DcProbeEvery)) === 0)))

    // ---- NEAR-dedup stage (the q23 minhash configuration, wired into
    // the product with the q85 precedence: exact_dup beats near_dup —
    // a doc dropped by the hash window never reaches this stage).
    // Keep-first against every earlier-SEEN candidate, dropped or
    // not: a doc loses iff some verified pair names a smaller-id
    // candidate — the rule whose incremental form ([[runIncremental]])
    // converges to this full form by construction under append-only
    // ids. Candidates are re-derived WITHOUT the observe nodes (the
    // near-dup legs ride the same action as the staging write; a
    // second occurrence of an observe node would double-fire its
    // counters), and persisted: read by the shingle legs, the band
    // publish, and the removed-archive publish.
    val candidates = graft.operators.InternalCache.persist(
      enriched
        .filter(col("score") >= QualityMin && col("predicted") === "en")
        .withColumn("__h", contentHash)
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("__h")).orderBy(col("doc_id"))))
        .filter(col("__rn") === 1)
        .filter(pmod(col("doc_id"), lit(Llm.DcProbeEvery)) =!= 0)
        .select(col("doc_id"), col("text")))
    val ndRows = graft.operators.InternalCache.persist(
      TextDedup.docShingleRows(candidates, "doc_id", "text",
        Llm.MhShingle))
    val ndBands = graft.operators.InternalCache.persist(
      TextDedup.lshBandRows(
        TextDedup.minhashSignatures(ndRows, Llm.MhHashes),
        Llm.MhBands, Llm.MhHashes / Llm.MhBands))
    val nearLosers = TextDedup
      .nearDupsFromBandRows(ndBands, ndRows, Llm.MhThreshold)
      .select(col("doc_b").as("doc_id")).distinct()

    // ---- materialize the staged corpus: the ONE action that fires
    // the observe nodes; everything downstream reads the stored copy.
    // the normalized content hash is STORED at admission: the
    // incremental path's dedup anti-join then reads one pruned column
    // instead of re-hashing every text in the corpus. rows_staged
    // rides the same write (near_dup_removed is then arithmetic).
    // OVERLAPPED (guide §2.6, r14 — the full build was a serial chain
    // of writes, JobProfile job-time sum ≈ wall) with the probe-set
    // publish, which reads only RAW rows and lands in its own table.
    val stObs = org.apache.spark.sql.Observation()
    var staged: DataFrame = null
    var probes: DataFrame = null
    graft.operators.Par.run(spark)(
      () => { staged = Materialize.table(
        dedupObserved
          .filter(pmod(col("doc_id"), lit(Llm.DcProbeEvery)) =!= 0)
          .join(nearLosers, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("text"), col("tok").cast("long"),
            col("__h").as("h"))
          .observe(stObs, count(lit(1)).as("rows_staged")),
        s"e2e_corpus_stage_$h") },
      // the eval set is itself a published artifact: an eval harness
      // needs it, and [[runIncremental]] dedups and
      // retro-decontaminates against the stored copy
      () => { probes = Materialize.table(
        raw.filter(pmod(col("doc_id"), lit(Llm.DcProbeEvery)) === 0)
          .select(col("doc_id"), col("text"), contentHash.as("h")),
        s"e2e_corpus_probes_$h") })
    val rowsStaged = Quality.obsLong(stObs, "rows_staged")

    // ---- band-index publish ∥ decontamination + curated write: the
    // band index reads the persisted band rows (materialized by the
    // staging action); the curated chain reads the stored stage +
    // probe tables. Different target tables — overlapped.
    // Decontamination is vs the raw probe set (broadcast grams; the
    // stored corpus is scanned once and never shuffled for candidates).
    // rows_final rides the curated write; contaminated_removed is then
    // arithmetic over already-observed counters (staged rows − final)
    // — neither costs an action of its own.
    val curObs = org.apache.spark.sql.Observation()
    var curated: DataFrame = null
    graft.operators.Par.run(spark)(
      // publish the band index of EVERY candidate, admitted or not
      // (PARTITIONED like the gram index): [[runIncremental]]'s
      // near-dedup candidates come from here, and a later delta must
      // be able to lose against a doc this run dropped — forward-only
      // keep-first needs the losers' fingerprints to stay visible
      () => { Materialize.partitionedTable(
        ndBands.withColumn("pt", ptCol), s"e2e_corpus_bands_$h", "pt")
        () },
      () => {
        val contaminated = TextDedup.contaminationPairs(staged, "doc_id",
            "text", probes, "doc_id", "text", Llm.DcN, Llm.DcMinShared)
          .select(col("doc_id")).distinct()
        curated = Materialize.partitionedTable(
          staged.join(contaminated, Seq("doc_id"), "left_anti")
            .withColumn("pt", ptCol)
            .observe(curObs, count(lit(1)).as("rows_final")),
          s"e2e_corpus_curated_$h", "pt")
        graft.sources.MetaOps.inc("set_properties")
        spark.sql(s"ALTER TABLE e2e_corpus_curated_$h SET TBLPROPERTIES " +
          s"('$SpanKey' = '$curatedPartSpan')")
      })
    val rowsFinal = Quality.obsLong(curObs, "rows_final")

    // ---- three independent consumers of the published curated table
    // (gram index, removed archive, shard manifest), each landing in
    // its own table — overlapped.
    var publishOk = false
    var audit: Seq[graft.quality.Quality.Result] = Seq.empty
    val (manifest, _) = repackManifest(spark, h)
    graft.operators.Par.run(spark)(
      // the decontamination gram INDEX (gh = md5Long(gram), doc_id
      // over the curated corpus): makes the incremental path's
      // retroactive decontamination a narrow hashed-pairs lookup
      // instead of re-shingling every stored text. Append-only;
      // entries of later-removed docs are harmless (their doc_ids
      // anti-join away). Partitioned by the SAME pt as the curated
      // table so [[eraseDocs]] can physically delete a doc's gram
      // rows by rewriting one slice.
      () => { Materialize.partitionedTable(
        TextDedup.docShingleRows(curated, "doc_id", "text", Llm.DcN)
          .select(col("doc_id"), md5Long(col("g")).as("gh"))
          .withColumn("pt", ptCol),
        s"e2e_corpus_grams_$h", "pt")
        () },
      // the REMOVED-candidate archive: every candidate that did not
      // reach the curated table (near-dup losers + decontamination
      // removals) with text and stored content hash — the incremental
      // path absorbs exact re-submissions through the hash and fetches
      // these texts to verify near-dup candidates against dropped
      // docs, exactly as a full rebuild would see them. Derived as
      // candidates MINUS published curated ids, so the stage
      // attribution can never drift from what actually published.
      () => { Materialize.partitionedTable(
        candidates
          .join(curated.select(col("doc_id")), Seq("doc_id"),
            "left_anti")
          .withColumn("h", contentHash)
          .withColumn("pt", ptCol)
          .select(col("doc_id"), col("text"), col("h"), col("pt")),
        s"e2e_corpus_removed_$h", "pt")
        () },
      // shard packing over the curated table: distributed
      // range-partitioned exclusive prefix sum (q82's contract — a doc
      // starts in the shard its prefix lands in), published through
      // the WAP audit gate
      () => {
        val (ok, a) =
          Materialize.publishSetAudited(corpusSet(h), Seq(manifest))
        publishOk = ok; audit = a.flatMap(_._2)
      })

    // read back from the catalog: the report describes the PUBLISHED
    // manifest (coalesce guards the degenerate empty-corpus case; the
    // tableExists guard covers a FIRST-ever publish whose audit failed
    // — no table exists yet, and the report must still come back with
    // published=0 rather than the read-back killing the build)
    val m = manifestReadBack(spark, h)

    // Quality.obsLong, not a strict map read: on an EMPTY corpus the
    // staging plan collapses under AQE empty-relation propagation and
    // the CollectMetrics nodes are pruned — zero is then exact
    val rowsIn = Quality.obsLong(gateObs, "rows_in")
    val dropQ = Quality.obsLong(gateObs, "dropped_low_quality")
    val dropL = Quality.obsLong(gateObs, "dropped_non_en")
    val keptDedup = Quality.obsLong(dedupObs, "rows_kept")
    // candidates = kept minus the eval docs filtered at staging; what
    // the staging write then dropped was the near-dedup stage, and
    // whatever of the staged rows did not reach the curated table was
    // removed by decontamination — all arithmetic, no count actions
    val nearRemoved =
      (keptDedup - Quality.obsLong(dedupObs, "eval_docs")) - rowsStaged
    val contamRemoved = rowsStaged - rowsFinal
    val report: Seq[Metric] = Seq[Metric](
      ("quality", "corpus", "rows_in", rowsIn),
      ("quality", "corpus", "dropped_low_quality", dropQ),
      ("langid", "corpus", "dropped_non_en", dropL),
      ("dedup", "corpus", "rows_kept", keptDedup),
      ("dedup", "corpus", "dup_rows_removed",
        (rowsIn - dropQ - dropL) - keptDedup),
      ("dedup", "corpus", "near_dup_removed", nearRemoved),
      ("decontam", "corpus", "eval_docs_removed",
        Quality.obsLong(dedupObs, "eval_docs")),
      ("decontam", "corpus", "contaminated_removed", contamRemoved),
      ("corpus", "curated", "rows_final", rowsFinal),
      ("shards", "manifest", "n_shards", m.getAs[Long]("n_shards")),
      ("shards", "manifest", "total_tokens", m.getAs[Long]("total_tokens")),
      ("shards", "manifest", "max_shard_tokens",
        m.getAs[Long]("max_shard_tokens")),
      ("shards", "manifest", "published", if (publishOk) 1L else 0L),
      ("shards", "manifest", "audit_violations",
        audit.map(_.violations).sum))
    // every published artifact is on disk; drop the candidate/shingle/
    // band caches (the report frame below is driver-local)
    graft.operators.InternalCache.release()
    import spark.implicits._
    report.toDF("step", "relation", "metric", "value")
  }

  /** INCREMENTAL continuation of [[run]] — the production path at
    * 100 TB: a delta of newly ingested documents is curated against
    * the PUBLISHED state instead of rebuilding the corpus. The full
    * rebuild's cost is proportional to the corpus; this run's cost is
    * proportional to the delta (plus one bounded retro-decontamination
    * scan of the stored corpus against only the NEW eval probes).
    *
    * Semantics (spec-pinned equivalent to a full [[run]] over
    * base ∪ delta, under the append-only ingest contract that delta
    * `doc_id`s sort after the base's and ids never repeat):
    *
    *  - same gates (shared [[enrich]] — the paths cannot drift);
    *  - keep-first dedup: within the delta by window, against the
    *    published corpus AND eval set by content-hash anti-join (the
    *    existing copy always wins — which IS keep-first when delta ids
    *    sort after base ids);
    *  - delta eval docs (raw, ungated — mirroring [[run]]) join the
    *    published probe set, replay-guarded by doc_id;
    *  - decontamination runs BOTH directions: new candidates vs all
    *    probes, and the published corpus vs the new probes — new eval
    *    docs retroactively protect the benchmark;
    *  - probe set and manifest republish through the same WAP audit
    *    gate ([[Materialize.publishSetAudited]]); the
    *    `Unique(doc_id)` audit makes an ingest-contract violation
    *    refuse the publish instead of corrupting the corpus.
    *
    * Replay-safe: re-applying the same delta converges to the same
    * published state (dedup absorbs resurvivors, probe append is
    * id-guarded, manifest recompute is deterministic). */
  def runIncremental(spark: SparkSession, dir: String,
      delta: DataFrame, suffix: String = ""): DataFrame = {
    val h = math.abs(dir.hashCode).toString + suffix
    val curatedT = s"e2e_corpus_curated_$h"
    val probesT = s"e2e_corpus_probes_$h"
    val manifestT = s"e2e_corpus_manifest_$h"
    val gramsT = s"e2e_corpus_grams_$h"
    val bandsT = s"e2e_corpus_bands_$h"
    val removedT = s"e2e_corpus_removed_$h"
    require(Seq(curatedT, probesT, gramsT, bandsT, removedT)
      .forall(spark.catalog.tableExists(_)),
      s"runIncremental continues a prior run: $curatedT/$probesT/" +
        s"$gramsT/$bandsT/$removedT missing")
    val ptCol = builtPtCol(spark, curatedT)

    // ---- delta gates ride one scan, counters via observe (the same
    // instrumentation contract as the full build)
    val gateChecks = Seq(
      "rows_in" -> lit(true),
      "dropped_low_quality" -> (col("score") < QualityMin),
      "dropped_non_en" ->
        (col("score") >= QualityMin && col("predicted") =!= "en"))
    val (observed, gateObs) = Quality.observed(enrich(delta), gateChecks)
    val gated = observed
      .filter(col("score") >= QualityMin && col("predicted") === "en")

    // ---- the delta's eval docs, straight from RAW (run() takes
    // probes before any gate), id-guarded against the published set
    val deltaEval = delta
      .filter(pmod(col("doc_id"), lit(Llm.DcProbeEvery)) === 0)
      .select(col("doc_id"), col("text"))
    val peObs = org.apache.spark.sql.Observation()
    val newProbes = Materialize.table(
      deltaEval.join(spark.table(probesT).select("doc_id"),
        Seq("doc_id"), "left_anti")
        .withColumn("h", contentHash)
        .observe(peObs, count(lit(1)).as("eval_added")),
      s"e2e_corpus_delta_probes_$h")
    // rides the staging write — no count action of its own
    val evalAdded = Quality.obsLong(peObs, "eval_added")

    // ---- candidate dedup: keep-first within the delta, then one
    // hash anti-join against everything already SEEN (published
    // corpus, published eval set, the delta's own eval docs, and the
    // removed-candidate archive — a re-submission of a dropped doc is
    // absorbed here, which also makes the near-dedup maintenance
    // appends below replay-safe). The stored hashes are pruned
    // columns — this never reads corpus text
    // a def, not a val: each use constructs FRESH catalog reads, so a
    // consumer built after the probe republish resolves the CURRENT
    // file listing instead of a frozen pre-swap one (post-republish the
    // probe table already contains the deltaEval hashes, so the set is
    // identical on both sides of the swap)
    def existingH: DataFrame = spark.table(curatedT)
      .select(col("h").as("__h"))
      .unionByName(spark.table(probesT).select(col("h").as("__h")))
      .unionByName(deltaEval.select(contentHash.as("__h")))
      .unionByName(spark.table(removedT).select(col("h").as("__h")))
      .distinct()
    def freshOf(g: DataFrame): DataFrame = g
      .filter(pmod(col("doc_id"), lit(Llm.DcProbeEvery)) =!= 0)
      .withColumn("__h", contentHash)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("__h")).orderBy(col("doc_id"))))
      .filter(col("__rn") === 1)
      .join(existingH, Seq("__h"), "left_anti")
    val fresh = freshOf(gated)

    // ---- NEAR-dedup of the delta, served from the PERSISTED band
    // index (delta-proportional: only the delta is shingled/signed;
    // prior docs named by a candidate pair are fetched individually
    // from the curated table or the removed archive). Losers: a
    // delta-vs-prior pair drops the delta doc (the existing copy won
    // — which IS keep-first under append-only ids, dropped priors
    // included); a within-delta pair (canonical a < b) drops doc_b.
    // The legs re-derive the fresh chain WITHOUT the observe nodes
    // (same one-action contract as the full build).
    val freshPlain = graft.operators.InternalCache.persist(
      freshOf(enrich(delta)
        .filter(col("score") >= QualityMin && col("predicted") === "en"))
        .select(col("doc_id"), col("text")))
    val ndPairs = TextDedup.minhashNearDupsIndexed(freshPlain,
      "doc_id", "text",
      spark.table(bandsT).select(col("doc_id"), col("band_id"),
        col("band_key")),
      spark.table(curatedT).select(col("doc_id"), col("text"))
        .unionByName(
          spark.table(removedT).select(col("doc_id"), col("text"))),
      Llm.MhShingle, Llm.MhHashes, Llm.MhBands, Llm.MhThreshold)
    val ndNewIds = freshPlain.select(col("doc_id").as("__nid"))
    val losers = ndPairs
      .join(ndNewIds, ndPairs("doc_b") === col("__nid"), "left")
      .select(when(col("__nid").isNotNull, col("doc_b"))
        .otherwise(col("doc_a")).as("doc_id"))
      .distinct()

    val (freshObserved, dedupObs) = Quality.observed(fresh, Seq(
      "rows_kept" -> lit(true)))
    // the ONE action that fires the observe nodes (and it reads the
    // OLD probe table — so it must run before the probe republish;
    // likewise the near-dedup legs read the PRE-append band index)
    val stObs = org.apache.spark.sql.Observation()
    val stagedDelta = Materialize.table(
      freshObserved
        .join(losers, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("text"),
          col("tok").cast("long"), col("__h").as("h"))
        .observe(stObs, count(lit(1)).as("rows_staged")),
      s"e2e_corpus_delta_stage_$h")
    val rowsStaged = Quality.obsLong(stObs, "rows_staged")

    // ---- band-index maintenance: EVERY delta candidate's band rows
    // append (losers included — a later delta loses against them,
    // exactly as a full rebuild would pair them). doc_id-guarded
    // within the delta's own pt slices so a crash-window replay
    // cannot double-append. Must run AFTER the staging action above
    // (whose verdict read the pre-append index) and before anything
    // re-reads the band table.
    val deltaBandRows = TextDedup.lshBandRows(
      TextDedup.minhashSignatures(
        TextDedup.docShingleRows(freshPlain, "doc_id", "text",
          Llm.MhShingle),
        Llm.MhHashes), Llm.MhBands, Llm.MhHashes / Llm.MhBands)
      .withColumn("pt", ptCol)
    // bounded collect: <= delta-partition VALUES
    val bandPts = deltaBandRows.select(col("pt")).distinct()
      .collect().map(_.getLong(0)).toIndexedSeq
    // band append ∥ probe republish (guide §2.6): the append reads
    // only the persisted delta band rows plus its own table's pruned
    // slices, the republish rewrites the probe table — disjoint. The
    // release() boundary below stays AFTER both join: an early release
    // could evict the persisted fresh chain mid-append and its
    // recompute would race the probe swap's file replacement.
    var probesOk = false
    var probesAudit: Seq[Quality.Result] = Seq.empty
    graft.operators.Par.run(spark)(
      () => if (bandPts.nonEmpty) {
        deltaBandRows
          .join(spark.table(bandsT).filter(col("pt").isin(bandPts: _*))
            .select(col("doc_id")).distinct(), Seq("doc_id"),
            "left_anti")
          .repartition(col("pt"))
          .write.mode("append").insertInto(bandsT)
        Materialize.refresh(spark, bandsT)
      },
      // republish the eval set (WAP staging+swap makes rewriting a
      // table the plan reads safe)
      () => {
        val (ok, a) = Materialize.publishSetAudited(corpusSet(h), Seq(
          Materialize.Member(spark.table(probesT).unionByName(newProbes),
            probesT, ProbeChecks)))
        probesOk = ok; probesAudit = a.flatMap(_._2)
      })
    // each republish boundary drops operator-internal persisted
    // frames: a persisted plan over the REPLACED version sameResult-
    // matches a fresh plan (same table path) and would recompute from
    // its frozen pre-swap file listing — found live when the manifest
    // packing read the pre-merge corpus (stale) and then, with the
    // relation cache fixed, died on the swapped-away files
    graft.operators.InternalCache.release()

    // ---- decontamination, both directions, both delta-bounded in
    // compute: the new candidates shingle only the DELTA against the
    // broadcast probe grams, and the retroactive direction looks the
    // NEW probes' grams up in the stored index — a narrow (gh, doc_id)
    // scan instead of re-shingling every stored text, and skipped
    // entirely when the delta added no eval docs
    val contamNew = TextDedup.contaminationPairs(stagedDelta, "doc_id",
        "text", spark.table(probesT), "doc_id", "text",
        Llm.DcN, Llm.DcMinShared)
      .select(col("doc_id")).distinct()
    val contamOld =
      if (evalAdded == 0L)
        spark.table(curatedT).select(col("doc_id")).limit(0)
      else spark.table(gramsT)
        .join(broadcast(
          TextDedup.docShingleRows(newProbes, "doc_id", "text", Llm.DcN)
            .select(col("doc_id").as("probe_id"),
              md5Long(col("g")).as("gh"))), "gh")
        .filter(col("doc_id") =!= col("probe_id"))
        .groupBy(col("doc_id"), col("probe_id"))
        .agg(count(lit(1)).cast("long").as("n_shared"))
        .filter(col("n_shared") >= Llm.DcMinShared)
        .select(col("doc_id")).distinct()
    // both decontamination counts in one collected union (one action)
    val removed = contamNew
      .agg(count(lit(1)).cast("long").as("value"))
      .select(lit("new").as("k"), col("value"))
      .unionByName(contamOld
        .agg(count(lit(1)).cast("long").as("value"))
        .select(lit("old").as("k"), col("value")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val removedNew = removed("new")
    val removedOld = removed("old")

    // ---- removed-archive maintenance: every delta candidate denied
    // admission (near-dup losers = fresh candidates missing from the
    // staged table; decontaminated staged docs) plus the
    // retro-decontaminated base docs — the latter captured from the
    // curated table BEFORE the merge deletes them. Their stored hashes
    // absorb future re-submissions; their texts serve future near-dup
    // verifications. doc_id-guarded like the band append. The loser
    // set is re-derived as a FRESH candidate chain MINUS staged ids —
    // not the `losers` plan (it reads the band table this run already
    // appended to) and not `freshPlain` (analyzed before the probe
    // republish, so its frozen relation would read swapped-away files).
    val removedDelta =
      freshOf(enrich(delta)
        .filter(col("score") >= QualityMin && col("predicted") === "en"))
        .select(col("doc_id"), col("text"))
        .join(stagedDelta.select(col("doc_id")), Seq("doc_id"),
          "left_anti")
        .withColumn("h", contentHash)
        .select(col("doc_id"), col("text"), col("h"))
      .unionByName(stagedDelta
        .join(contamNew, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("text"), col("h")))
      .unionByName(spark.table(curatedT)
        .join(contamOld, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("text"), col("h")))
      .withColumn("pt", ptCol)
    // bounded collect: <= delta-partition + removal-partition VALUES
    val rmPts = removedDelta.select(col("pt")).distinct()
      .collect().map(_.getLong(0)).toIndexedSeq
    if (rmPts.nonEmpty) {
      removedDelta
        .join(spark.table(removedT).filter(col("pt").isin(rmPts: _*))
          .select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
        .repartition(col("pt"))
        .write.mode("append").insertInto(removedT)
      Materialize.refresh(spark, removedT)
    }

    // ---- partition-scoped merge of the curated corpus: with
    // append-only ids the additions land in the tail partitions and
    // each retroactive removal touches its doc's partition — the
    // tableIncremental dynamic-overwrite machinery rewrites exactly
    // those slices; the rest of a 100 TB corpus is never read or
    // written. REPLAY is the recovery story (the tableIncremental
    // contract): every step is deterministic and absorbing, so
    // re-running the same delta from any partial state converges.
    val addKept = stagedDelta.join(contamNew, Seq("doc_id"), "left_anti")
      .withColumn("pt", ptCol)
    val touched = addKept.select(col("pt"))
      .unionByName(contamOld.select(ptCol))
      .distinct().collect().map(_.getLong(0)).toSeq
    // bounded collect: <= delta-partition + removal-partition VALUES
    if (touched.nonEmpty) {
      val cols = spark.table(curatedT).columns.toSeq // pt last
      Materialize.overwritePartitions(spark, curatedT,
        spark.table(curatedT)
          .filter(col("pt").isin(touched: _*))
          .join(contamOld, Seq("doc_id"), "left_anti")
          .select(cols.map(col): _*)
          .unionByName(addKept.select(cols.map(col): _*)),
        Seq("pt"), touched.map(Seq(_)))
      Materialize.refresh(spark, curatedT)
    }
    // gram-index append ∥ manifest republish (guide §2.6): the gram
    // index learns the additions (append-only; source is addKept,
    // empty on replay, so a re-applied delta appends nothing), the
    // manifest repacks the post-merge curated table — disjoint tables.
    // insertInto is positional: (doc_id, gh) data columns, pt last.
    // rows_final rides the manifest repack's curated scan — no count
    // action of its own.
    val (manifest, rowsObs) = repackManifest(spark, h)
    var publishOk = false
    var audit: Seq[Quality.Result] = Seq.empty
    graft.operators.Par.run(spark)(
      () => {
        TextDedup.docShingleRows(addKept, "doc_id", "text", Llm.DcN)
          .select(col("doc_id"), md5Long(col("g")).as("gh"))
          .withColumn("pt", ptCol)
          .repartition(col("pt"))
          .write.mode("append").insertInto(gramsT)
        // refresh through THIS session: under foreachBatch the append
        // command invalidates only the micro-batch clone's relation
        // cache (the Materialize.table contract note) — without this,
        // the next batch's retro lookup reads the pre-append listing
        Materialize.refresh(spark, gramsT)
      },
      () => {
        val (ok, a) =
          Materialize.publishSetAudited(corpusSet(h), Seq(manifest))
        publishOk = ok; audit = a.flatMap(_._2)
      })
    graft.operators.InternalCache.release() // see probes republish
    val m = manifestReadBack(spark, h)
    val rowsFinal = Quality.obsLong(rowsObs, "rows_final")
    // Quality.obsLong, NEVER a raw map read: a fully-duplicate or
    // replayed delta stages ZERO rows, AQE's empty-relation propagation
    // then prunes the CollectMetrics nodes, and a strict o.get(k) dies
    // with "key not found" — found live as the 538/539 r12 flake
    val kept = Quality.obsLong(dedupObs, "rows_kept")
    // the gate counters sit BELOW the dedup stages: when those come out
    // empty (an all-duplicate delta), AQE can prune the observe node
    // although the delta itself was not empty, so a pruned gate
    // observation is recounted by one aggregate over the delta
    val gate: Map[String, Long] =
      if (gateObs.get.nonEmpty)
        gateChecks.map { case (k, _) => k -> Quality.obsLong(gateObs, k) }
          .toMap
      else {
        val sums = gateChecks.map { case (k, bad) =>
          coalesce(sum(when(bad, 1L).otherwise(0L)), lit(0L)).as(k) }
        val r = enrich(delta).agg(sums.head, sums.tail: _*).head()
        gateChecks.map { case (k, _) => k -> r.getAs[Long](k) }.toMap
      }
    val report: Seq[Metric] = Seq[Metric](
      ("quality", "delta", "rows_in", gate("rows_in")),
      ("quality", "delta", "dropped_low_quality",
        gate("dropped_low_quality")),
      ("langid", "delta", "dropped_non_en", gate("dropped_non_en")),
      ("dedup", "delta", "rows_kept", kept),
      ("dedup", "delta", "near_dup_removed", kept - rowsStaged),
      ("decontam", "delta", "eval_docs_added", evalAdded),
      ("decontam", "delta", "contaminated_removed", removedNew),
      ("decontam", "corpus", "retro_contaminated_removed", removedOld),
      ("corpus", "curated", "rows_added", rowsStaged - removedNew),
      ("corpus", "curated", "rows_final", rowsFinal),
      ("shards", "manifest", "n_shards", m.getAs[Long]("n_shards")),
      ("shards", "manifest", "total_tokens", m.getAs[Long]("total_tokens")),
      ("shards", "manifest", "max_shard_tokens",
        m.getAs[Long]("max_shard_tokens")),
      ("shards", "manifest", "published",
        if (probesOk && publishOk) 1L else 0L),
      ("shards", "manifest", "audit_violations",
        (probesAudit ++ audit).map(_.violations).sum))
    graft.operators.InternalCache.release() // a replay starts clean
    import spark.implicits._
    report.toDF("step", "relation", "metric", "value")
  }

  /** The one publish set every corpus artifact releases through: its
    * marker is the mutex of all of a corpus's probe-set and manifest
    * publishes, whichever members each one carries. The marker names
    * the members in flight, so `Materialize.recoverSet(spark,
    * s"e2e_corpus_$h")` repairs a crash in any of them. */
  private def corpusSet(h: String): String = s"e2e_corpus_$h"

  private val ManifestChecks =
    Seq(NotNull("shard"), NotNull("shard_tokens"), Unique(Seq("shard")))
  private val ProbeChecks = Seq(NotNull("doc_id"), Unique(Seq("doc_id")))

  /** The shard manifest repacked from the current curated table, as a
    * publish-set member for the caller to release, plus the
    * observation its staging write fills with the curated row count
    * (`rows_final`). Shared by [[run]], [[runIncremental]] and
    * [[eraseDocs]] so the manifest contract cannot drift between the
    * lifecycle paths. */
  private def repackManifest(spark: SparkSession, h: String)
      : (Materialize.Member, org.apache.spark.sql.Observation) = {
    val packed = Ranking.withRunningTotal(
      spark.table(s"e2e_corpus_curated_$h")
        .select(col("doc_id"), col("tok")),
      col("doc_id").asc, col("tok"), "prev")
    // the curated row count rides the repack's corpus scan (the one
    // scan the manifest staging write already pays for)
    val rowsObs = org.apache.spark.sql.Observation()
    val manifest = packed
      .observe(rowsObs, count(lit(1)).as("rows_final"))
      .groupBy(floor(col("prev") / lit(ShardBudget.toDouble)).cast("long")
        .as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).cast("long").as("shard_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
    (Materialize.Member(manifest, s"e2e_corpus_manifest_$h",
      ManifestChecks), rowsObs)
  }

  /** Catalog read-back of the published manifest's summary metrics.
    * If the manifest has NEVER been published (first publish + failing
    * audit), the table does not exist — the report still comes back as
    * zeros, because the audit report itself is the gate's evidence. */
  private def manifestReadBack(spark: SparkSession, h: String)
      : org.apache.spark.sql.Row = {
    val name = s"e2e_corpus_manifest_$h"
    if (spark.catalog.tableExists(name))
      spark.table(name)
        .agg(count(lit(1)).as("n_shards"),
          coalesce(sum(col("shard_tokens")), lit(0L)).cast("long")
            .as("total_tokens"),
          coalesce(max(col("shard_tokens")), lit(0L)).cast("long")
            .as("max_shard_tokens"))
        .head()
    else {
      // schema-carrying zero row (a bare Row(...) has no schema and
      // would throw on the callers' getAs-by-name reads)
      import spark.implicits._
      Seq((0L, 0L, 0L))
        .toDF("n_shards", "total_tokens", "max_shard_tokens").head()
    }
  }

  /** Right-to-erasure for the PUBLISHED corpus (GDPR art. 17 /
    * copyright-opt-out takedown — the lifecycle step after [[run]] /
    * [[runIncremental]]): every trace of the requested `doc_id`s is
    * physically deleted from every published artifact — the curated
    * corpus, the decontamination gram index, the band fingerprints and
    * the removed archive (partition-scoped rewrites, via
    * [[Materialize.eraseKeysIn]], of ONLY the request's `pt` slices
    * that hold one of its docs; the rest of a 100 TB corpus is never
    * read or written) — then the eval probe set and the repacked shard
    * manifest republish as ONE audited set, so no published artifact
    * references an erased doc and a failed audit leaves neither
    * half-erased. Returns the audit report a DPO wants: rows deleted
    * per artifact, partitions rewritten, and the republished-manifest
    * state.
    *
    * One pass, no discovery action: all four tables are partitioned by
    * the same `pt` of `doc_id` (over the span recorded on the curated
    * table at build time), so the request's own `pt` values are the
    * candidate slices; each table erases in ONE write action that
    * rewrites only the candidates holding a requested doc (a replayed
    * request writes none), and every count the report needs rides
    * that write (observe metrics: rows erased, the slices that held
    * one, the slices left non-empty) — the probe count rides the probe
    * member's staging write, so the probe set republishes on every
    * request. The publish starts as soon as the curated rewrite lands,
    * overlapped with the other three.
    *
    * Contract notes (spec-pinned):
    *  - erasure FORGETS, it does not replay history: a duplicate that
    *    lost keep-first dedup against an erased doc is NOT
    *    resurrected (a full rebuild without the erased docs would
    *    differ exactly there); and because the stored content hash is
    *    erased with the doc, a future delta re-submitting the same
    *    content is admitted again — both are the intended "forget"
    *    semantics, not drift.
    *  - replay-safe: erasing the same ids twice is a content no-op
    *    (second report shows zero deletions).
    *  - `eraseIds` is a bounded request list, collected once and
    *    broadcast through every use; the other driver-side values are
    *    the report's Longs and the request's partition VALUES. */
  def eraseDocs(spark: SparkSession, dir: String,
      eraseIds: DataFrame): DataFrame = {
    val h = math.abs(dir.hashCode).toString
    val curatedT = s"e2e_corpus_curated_$h"
    val probesT = s"e2e_corpus_probes_$h"
    val gramsT = s"e2e_corpus_grams_$h"
    val bandsT = s"e2e_corpus_bands_$h"
    val removedT = s"e2e_corpus_removed_$h"
    require(Seq(curatedT, probesT, gramsT, bandsT, removedT)
      .forall(spark.catalog.tableExists(_)),
      s"eraseDocs amends a prior run: $curatedT/$probesT/$gramsT/" +
        s"$bandsT/$removedT missing")
    // the request, collected ONCE with each id's partition (bounded: a
    // broadcast collects it to the driver anyway): every later join
    // broadcasts this local copy instead of re-running the request's
    // plan, and the request's partitions are the candidate slices
    val req = eraseIds
      .select(col(eraseIds.columns.head).cast("long").as("doc_id"))
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), builtPtCol(spark, curatedT)).collect()
    val ids = {
      import spark.implicits._
      req.map(_.getLong(0)).distinct.toSeq.toDF("doc_id")
    }
    val candidates: Seq[Any] = req.map(_.get(1)).distinct.toSeq

    // partition-scoped physical deletes — band rows and the removed
    // archive carry content FINGERPRINTS and text, so erasure must
    // reach them too (a stale band entry would merely stop verifying,
    // but the right to erasure is about the bytes, not the behavior).
    // The four artifacts are four DIFFERENT tables — each write has
    // its own committer staging dir (contrast checkpointPartials'
    // same-table serial loop), so the rewrites run CONCURRENTLY and
    // each table's emptied slices drop in ONE batched ALTER. The outer
    // dynamic-overwrite wrap pins the session conf for the whole block
    // — the per-thread restores inside eraseKeysIn then always restore
    // to "dynamic", so no thread can yank the mode out from under a
    // sibling's in-flight write.
    //
    // The probe set (corpus-bounded-small: 1/DcProbeEvery of the docs)
    // and the manifest repacked from the erased curated table release
    // as ONE set — a failed audit on either leaves neither half-erased
    // — in the curated branch, as soon as its rewrite lands, overlapped
    // with the other three rewrites (it reads none of them; a failure
    // anywhere fails the call, and a replay converges). rows_final
    // rides the manifest repack's curated scan, the probe erasure
    // count the probe staging write.
    val tables = Seq(curatedT, gramsT, bandsT, removedT)
    val erased = new Array[(Long, Seq[Any])](tables.size)
    def erase(i: Int): Unit = erased(i) =
      Materialize.eraseKeysIn(spark, tables(i), "doc_id", ids, "pt",
        candidates)
    val probeObs = org.apache.spark.sql.Observation()
    val probes = Materialize.Member(
      spark.table(probesT)
        .join(broadcast(ids.withColumn("__erased", lit(true))),
          Seq("doc_id"), "left")
        .observe(probeObs, count(col("__erased")).as("erased"))
        .filter(col("__erased").isNull).drop("__erased"),
      probesT, ProbeChecks)
    var published: Seq[Metric] = Nil // the publish branch's report rows
    Materialize.withDynamicOverwrite(spark) {
      graft.operators.Par.run(spark)(
        () => {
          erase(0)
          // drop operator-internal persisted frames and only then build
          // the repack, so it never reads a pre-rewrite file listing
          graft.operators.InternalCache.release()
          val (manifest, rowsObs) = repackManifest(spark, h)
          val (ok, r) = Materialize.publishSetAudited(corpusSet(h),
            Seq(probes, manifest))
          val m = manifestReadBack(spark, h)
          published = Seq[Metric](
            ("corpus", "curated", "rows_final",
              Quality.obsLong(rowsObs, "rows_final")),
            ("shards", "manifest", "n_shards", m.getAs[Long]("n_shards")),
            ("shards", "manifest", "total_tokens",
              m.getAs[Long]("total_tokens")),
            ("shards", "manifest", "max_shard_tokens",
              m.getAs[Long]("max_shard_tokens")),
            ("shards", "manifest", "published", if (ok) 1L else 0L),
            ("shards", "manifest", "audit_violations",
              r.flatMap(_._2).map(_.violations).sum))
        },
        () => erase(1), () => erase(2), () => erase(3))
    }
    val Seq((nCurated, curatedHit), (nGrams, _), (nBands, _),
      (nRemoved, _)) = erased.toSeq
    val report: Seq[Metric] = Seq[Metric](
      ("erase", "curated", "docs_erased", nCurated),
      ("erase", "curated", "partitions_rewritten", curatedHit.size.toLong),
      ("erase", "grams", "rows_erased", nGrams),
      ("erase", "probes", "docs_erased", Quality.obsLong(probeObs, "erased")),
      ("erase", "bands", "rows_erased", nBands),
      ("erase", "removed", "docs_erased", nRemoved)) ++ published
    graft.operators.InternalCache.release()
    import spark.implicits._
    report.toDF("step", "relation", "metric", "value")
  }

  /** CONTINUOUS curation: document files landed under `landingDir`
    * stream through [[runIncremental]] one micro-batch per file
    * (`maxFilesPerTrigger=1`), run to completion with
    * `Trigger.AvailableNow`. Restarting with the same checkpoint
    * resumes from the committed offsets.
    *
    * No `oncePerBatch` marker is needed — [[runIncremental]] is
    * replay-CONVERGENT (dedup absorbs resurvivors, the probe append
    * is id-guarded, the partition merge is absorbing), so
    * `foreachBatch`'s at-least-once delivery collapses to
    * effectively-once. That is a STRONGER recovery story than a
    * marker: it also covers the marker's own crash window (body
    * committed, marker not yet written).
    *
    * Ingest contract: files must land in doc_id order (the append-only
    * id contract [[runIncremental]] documents) — the file source
    * processes them in listing order. */
  def streamIncremental(spark: SparkSession, dir: String,
      landingDir: String, checkpoint: String)
      : Seq[(Long, Map[(String, String, String), Long])] = {
    val reports =
      scala.collection.mutable.ArrayBuffer
        .empty[(Long, Map[(String, String, String), Long])]
    val q = spark.readStream
      .schema(Tables.documents(spark, dir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(landingDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val rep = runIncremental(spark, dir, batch).collect()
          .map(r => ((r.getString(0), r.getString(1), r.getString(2)),
            r.getLong(3))).toMap
        reports.synchronized { reports += ((id, rep)); () }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    reports.toSeq
  }

  // ------------------------------------------------------------ q245

  /** The composed corpus-curation product (the LLM-side analogue of
    * q243's warehouse build): [[run]] chains the full curation
    * lifecycle in one pipeline; the oracle recomputes EVERY report
    * metric independently from the raw `documents` table — including
    * the observe-derived gate counters, the post-dedup survivor set,
    * the contamination verdicts, and the shard manifest totals — so
    * the whole chain (gates, dedup window, broadcast decontamination,
    * prefix-sum packing, WAP publish) is hash-checked end to end. */
  /** The oracle CTE chain shared by q245 and q246: raw documents →
    * gates → keep-first dedup → corpus → probe/corpus gram sets →
    * contamination → `fin` (the curated set) → shard packing. Every
    * CTE that the chain or an oracle references more than once is
    * MATERIALIZED (the `Prep` k-means precedent): inlined, DuckDB
    * re-evaluates the prefix chain, minhash signatures included, for
    * each scalar subquery of the report. */
  private val corpusCtes =
    s"""b AS (
       |  SELECT doc_id, text, ${Llm.DTokens} AS w, length(text) AS chars,
       |    length(text) -
       |      length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS punct
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, text, len(w) AS tok,
       |    ${Llm.dHits(Llm.StopEn)} AS stop_hits, ${Llm.DLangHits},
       |    chars, punct
       |  FROM b),
       |sc AS MATERIALIZED (
       |  SELECT doc_id, text, tok,
       |    ${Llm.DScore} AS score,
       |    ${Llm.DLangPred} AS predicted
       |  FROM f),
       |keptq AS MATERIALIZED (
       |  SELECT doc_id, text, tok FROM sc
       |  WHERE score >= $QualityMin AND predicted = 'en'),
       |dd AS MATERIALIZED (
       |  SELECT doc_id, text, tok,
       |    md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h
       |  FROM keptq),
       |dk AS MATERIALIZED (
       |  SELECT doc_id, text, tok FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY h ORDER BY doc_id) AS rn FROM dd)
       |  WHERE rn = 1),
       |corpus AS MATERIALIZED (
       |  SELECT * FROM dk WHERE doc_id % ${Llm.DcProbeEvery} <> 0),
       |${Llm.minhashChainCtes("corpus", "nd")},
       |ndpairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM ndbands a JOIN ndbands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key
       |    AND a.doc_id < b.doc_id),
       |ndlosers AS MATERIALIZED (
       |  SELECT DISTINCT c.doc_b AS doc_id
       |  FROM ndpairs c
       |  JOIN ndsh x ON x.doc_id = c.doc_a
       |  JOIN ndsh y ON y.doc_id = c.doc_b
       |  WHERE len(list_intersect(x.s, y.s))::DOUBLE /
       |        len(list_distinct(list_concat(x.s, y.s)))::DOUBLE
       |          >= ${Llm.MhThreshold}),
       |corpus2 AS MATERIALIZED (
       |  SELECT * FROM corpus
       |  WHERE doc_id NOT IN (SELECT doc_id FROM ndlosers)),
       |ptoks AS (
       |  SELECT doc_id, ${Llm.DTokens} AS w FROM documents
       |  WHERE doc_id % ${Llm.DcProbeEvery} = 0),
       |psh AS (
       |  SELECT doc_id, list_distinct(
       |    [array_to_string(list_slice(w, i, i + ${Llm.DcN - 1}), ' ')
       |     for i in range(1, len(w) - ${Llm.DcN - 2})]) AS s
       |  FROM ptoks WHERE len(w) >= ${Llm.DcN}),
       |pg AS (SELECT doc_id AS probe_id, unnest(s) AS gram FROM psh),
       |ctoks AS (
       |  SELECT doc_id, ${Llm.DTokens} AS w FROM corpus2),
       |csh AS MATERIALIZED (
       |  SELECT doc_id, list_distinct(
       |    [array_to_string(list_slice(w, i, i + ${Llm.DcN - 1}), ' ')
       |     for i in range(1, len(w) - ${Llm.DcN - 2})]) AS s
       |  FROM ctoks WHERE len(w) >= ${Llm.DcN}),
       |cg AS (SELECT doc_id, unnest(s) AS gram FROM csh),
       |contam AS MATERIALIZED (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT cg.doc_id, pg.probe_id
       |    FROM cg JOIN pg USING (gram) WHERE cg.doc_id != pg.probe_id
       |    GROUP BY 1, 2 HAVING COUNT(*) >= ${Llm.DcMinShared})),
       |fin AS MATERIALIZED (
       |  SELECT * FROM corpus2
       |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
       |pk AS (
       |  SELECT doc_id, tok,
       |    COALESCE(SUM(tok) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
       |  FROM fin),
       |shd AS (
       |  SELECT CAST(FLOOR(prev / $ShardBudget.0) AS BIGINT) AS shard,
       |    SUM(tok) AS st
       |  FROM pk GROUP BY shard),
       |m AS MATERIALIZED (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_shards,
       |    CAST(COALESCE(SUM(st), 0) AS BIGINT) AS total_tokens,
       |    CAST(COALESCE(MAX(st), 0) AS BIGINT) AS max_shard_tokens
       |  FROM shd)""".stripMargin

  val q245 = Query(
    "q245_corpus_build_e2e",
    s"""WITH $corpusCtes
       |SELECT 'quality' AS step, 'corpus' AS relation,
       |  'rows_in' AS metric,
       |  (SELECT COUNT(*) FROM documents)::BIGINT AS value
       |UNION ALL SELECT 'quality', 'corpus', 'dropped_low_quality',
       |  (SELECT COUNT(*) FROM sc WHERE score < $QualityMin)
       |UNION ALL SELECT 'langid', 'corpus', 'dropped_non_en',
       |  (SELECT COUNT(*) FROM sc
       |   WHERE score >= $QualityMin AND predicted <> 'en')
       |UNION ALL SELECT 'dedup', 'corpus', 'rows_kept',
       |  (SELECT COUNT(*) FROM dk)
       |UNION ALL SELECT 'dedup', 'corpus', 'dup_rows_removed',
       |  (SELECT COUNT(*) FROM keptq) - (SELECT COUNT(*) FROM dk)
       |UNION ALL SELECT 'dedup', 'corpus', 'near_dup_removed',
       |  (SELECT COUNT(*) FROM ndlosers)
       |UNION ALL SELECT 'decontam', 'corpus', 'eval_docs_removed',
       |  (SELECT COUNT(*) FROM dk WHERE doc_id % ${Llm.DcProbeEvery} = 0)
       |UNION ALL SELECT 'decontam', 'corpus', 'contaminated_removed',
       |  (SELECT COUNT(*) FROM contam)
       |UNION ALL SELECT 'corpus', 'curated', 'rows_final',
       |  (SELECT COUNT(*) FROM fin)
       |UNION ALL SELECT 'shards', 'manifest', 'n_shards',
       |  (SELECT n_shards FROM m)
       |UNION ALL SELECT 'shards', 'manifest', 'total_tokens',
       |  (SELECT total_tokens FROM m)
       |UNION ALL SELECT 'shards', 'manifest', 'max_shard_tokens',
       |  (SELECT max_shard_tokens FROM m)
       |UNION ALL SELECT 'shards', 'manifest', 'published', 1::BIGINT
       |UNION ALL SELECT 'shards', 'manifest', 'audit_violations',
       |  0::BIGINT""".stripMargin) { (s, dir) =>
    run(s, dir)
  }

  // ------------------------------------------------------------ q246

  /** The deterministic erasure request set q246 exercises: every raw
    * doc_id ≡ EraseRes (mod EraseMod) — some in the curated corpus,
    * some in the eval probe set, some already removed by the gates
    * (an erasure request may name docs that are not published; the
    * report counts what was actually present). */
  private[graft] val EraseMod = 97L
  private[graft] val EraseRes = 3L

  /** The corpus-erasure lifecycle step, oracle-checked end to end:
    * [[run]] publishes the full curated state, then [[eraseDocs]]
    * deletes a deterministic request set; the oracle recomputes every
    * report metric — per-artifact deletion counts, touched partition
    * count, and the repacked manifest totals — independently from the
    * raw `documents` table. */
  val q246 = Query(
    "q246_corpus_erasure",
    s"""WITH $corpusCtes,
       |er AS (
       |  SELECT doc_id FROM fin
       |  WHERE doc_id % $EraseMod = $EraseRes),
       |fin2 AS (
       |  SELECT * FROM fin WHERE doc_id % $EraseMod <> $EraseRes),
       |gsz AS (
       |  SELECT CAST(COALESCE(SUM(len(s)), 0) AS BIGINT) AS g
       |  FROM csh JOIN er USING (doc_id)),
       |pk2 AS (
       |  SELECT doc_id, tok,
       |    COALESCE(SUM(tok) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
       |  FROM fin2),
       |shd2 AS (
       |  SELECT CAST(FLOOR(prev / $ShardBudget.0) AS BIGINT) AS shard,
       |    SUM(tok) AS st
       |  FROM pk2 GROUP BY shard),
       |m2 AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_shards,
       |    CAST(COALESCE(SUM(st), 0) AS BIGINT) AS total_tokens,
       |    CAST(COALESCE(MAX(st), 0) AS BIGINT) AS max_shard_tokens
       |  FROM shd2)
       |SELECT 'erase' AS step, 'curated' AS relation,
       |  'docs_erased' AS metric,
       |  (SELECT COUNT(*) FROM er)::BIGINT AS value
       |UNION ALL SELECT 'erase', 'curated', 'partitions_rewritten',
       |  (SELECT COUNT(DISTINCT CAST(FLOOR(doc_id / $CuratedPartSpan.0)
       |     AS BIGINT)) FROM er)
       |UNION ALL SELECT 'erase', 'grams', 'rows_erased',
       |  (SELECT g FROM gsz)
       |UNION ALL SELECT 'erase', 'probes', 'docs_erased',
       |  (SELECT COUNT(*) FROM documents
       |   WHERE doc_id % ${Llm.DcProbeEvery} = 0
       |     AND doc_id % $EraseMod = $EraseRes)
       |UNION ALL SELECT 'erase', 'bands', 'rows_erased',
       |  (SELECT ${Llm.MhBands}::BIGINT * COUNT(*) FROM ndsh
       |   WHERE doc_id % $EraseMod = $EraseRes)
       |UNION ALL SELECT 'erase', 'removed', 'docs_erased',
       |  (SELECT COUNT(*) FROM corpus
       |   WHERE doc_id % $EraseMod = $EraseRes
       |     AND doc_id NOT IN (SELECT doc_id FROM fin))
       |UNION ALL SELECT 'corpus', 'curated', 'rows_final',
       |  (SELECT COUNT(*) FROM fin2)
       |UNION ALL SELECT 'shards', 'manifest', 'n_shards',
       |  (SELECT n_shards FROM m2)
       |UNION ALL SELECT 'shards', 'manifest', 'total_tokens',
       |  (SELECT total_tokens FROM m2)
       |UNION ALL SELECT 'shards', 'manifest', 'max_shard_tokens',
       |  (SELECT max_shard_tokens FROM m2)
       |UNION ALL SELECT 'shards', 'manifest', 'published', 1::BIGINT
       |UNION ALL SELECT 'shards', 'manifest', 'audit_violations',
       |  0::BIGINT""".stripMargin) { (s, dir) =>
    run(s, dir)
    eraseDocs(s, dir,
      Tables.documents(s, dir).select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(EraseMod)) === EraseRes))
  }

  // ------------------------------------------------------------ q258

  /** q258's oracle: the INCREMENTAL report recomputed from scratch.
    * The corpus is split at the 80th-percentile doc_id (both engines
    * derive the cut from the data); the base chain is replayed in
    * full (gates → exact dedup → near-dedup → decontamination), then
    * every delta-relative counter: fresh candidates (keep-first
    * within the delta, hashes of every base candidate + probe + delta
    * eval doc absorbed), near-dup losers against the base band index
    * and within the delta, contamination against ALL probes, and the
    * retroactive removals the new probes cause. The final-state
    * metrics (rows_final + manifest) come from the FULL chain over
    * base ∪ delta — the convergence property, checked by value here
    * and by table equality in the spec. */
  private def incrementalOracle: String = {
    val pe = Llm.DcProbeEvery
    val nh = """md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))"""
    val dcShingle: (String, String) => String = (out, in) =>
      s"""${out}toks AS (
         |  SELECT doc_id, ${Llm.DTokens} AS w FROM $in),
         |${out}sh AS (
         |  SELECT doc_id, list_distinct(
         |    [array_to_string(list_slice(w, i, i + ${Llm.DcN - 1}), ' ')
         |     for i in range(1, len(w) - ${Llm.DcN - 2})]) AS s
         |  FROM ${out}toks WHERE len(w) >= ${Llm.DcN}),
         |${out}g AS (
         |  SELECT doc_id, unnest(s) AS gram FROM ${out}sh)"""
        .stripMargin
    val jac: (String, String) => String = (x, y) =>
      s"""len(list_intersect($x.s, $y.s))::DOUBLE /
         |        len(list_distinct(list_concat($x.s, $y.s)))::DOUBLE"""
        .stripMargin
    s"""WITH $corpusCtes,
       |cut AS (
       |  SELECT CAST(floor(max(doc_id) * 0.8) AS BIGINT) AS c
       |  FROM documents),
       |bdk AS (
       |  SELECT doc_id, text, tok, h FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY h ORDER BY doc_id) AS rn
       |    FROM dd WHERE doc_id <= (SELECT c FROM cut))
       |  WHERE rn = 1),
       |bcorpus AS (SELECT * FROM bdk WHERE doc_id % $pe <> 0),
       |${Llm.minhashChainCtes("bcorpus", "nb")},
       |bprobes AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id <= (SELECT c FROM cut) AND doc_id % $pe = 0),
       |nbpairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM nbbands a JOIN nbbands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key
       |    AND a.doc_id < b.doc_id),
       |nblosers AS (
       |  SELECT DISTINCT c.doc_b AS doc_id FROM nbpairs c
       |  JOIN nbsh x ON x.doc_id = c.doc_a
       |  JOIN nbsh y ON y.doc_id = c.doc_b
       |  WHERE ${jac("x", "y")} >= ${Llm.MhThreshold}),
       |bcorpus2 AS (
       |  SELECT * FROM bcorpus
       |  WHERE doc_id NOT IN (SELECT doc_id FROM nblosers)),
       |${dcShingle("bc2", "bcorpus2")},
       |${dcShingle("bp", "bprobes")},
       |bcontam AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT g.doc_id, p.doc_id AS probe_id
       |    FROM bc2g g JOIN bpg p USING (gram)
       |    WHERE g.doc_id != p.doc_id
       |    GROUP BY 1, 2 HAVING COUNT(*) >= ${Llm.DcMinShared})),
       |bfin AS (
       |  SELECT * FROM bcorpus2
       |  WHERE doc_id NOT IN (SELECT doc_id FROM bcontam)),
       |dsc AS (SELECT * FROM sc WHERE doc_id > (SELECT c FROM cut)),
       |deval AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id > (SELECT c FROM cut) AND doc_id % $pe = 0),
       |hh AS (
       |  SELECT h FROM bcorpus
       |  UNION SELECT $nh AS h FROM bprobes
       |  UNION SELECT $nh AS h FROM deval),
       |dfresh AS (
       |  SELECT doc_id, text, tok, h FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY h ORDER BY doc_id) AS rn
       |    FROM dd WHERE doc_id > (SELECT c FROM cut)
       |      AND doc_id % $pe <> 0)
       |  WHERE rn = 1 AND h NOT IN (SELECT h FROM hh)),
       |${Llm.minhashChainCtes("dfresh", "dl")},
       |dlx AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM dlbands a JOIN nbbands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key),
       |dln AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM dlbands a JOIN dlbands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key
       |    AND a.doc_id < b.doc_id),
       |dlosers AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT c.doc_a AS doc_id FROM dlx c
       |    JOIN dlsh x ON x.doc_id = c.doc_a
       |    JOIN nbsh y ON y.doc_id = c.doc_b
       |    WHERE ${jac("x", "y")} >= ${Llm.MhThreshold}
       |    UNION ALL
       |    SELECT c.doc_b AS doc_id FROM dln c
       |    JOIN dlsh x ON x.doc_id = c.doc_a
       |    JOIN dlsh y ON y.doc_id = c.doc_b
       |    WHERE ${jac("x", "y")} >= ${Llm.MhThreshold})),
       |dstaged AS (
       |  SELECT * FROM dfresh
       |  WHERE doc_id NOT IN (SELECT doc_id FROM dlosers)),
       |allprobes AS (
       |  SELECT * FROM bprobes UNION ALL SELECT * FROM deval),
       |${dcShingle("ds", "dstaged")},
       |${dcShingle("ap", "allprobes")},
       |dcontam AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT g.doc_id, p.doc_id AS probe_id
       |    FROM dsg g JOIN apg p USING (gram)
       |    WHERE g.doc_id != p.doc_id
       |    GROUP BY 1, 2 HAVING COUNT(*) >= ${Llm.DcMinShared})),
       |${dcShingle("de", "deval")},
       |retro AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT g.doc_id, p.doc_id AS probe_id
       |    FROM bc2g g JOIN deg p USING (gram)
       |    WHERE g.doc_id != p.doc_id
       |      AND g.doc_id IN (SELECT doc_id FROM bfin)
       |    GROUP BY 1, 2 HAVING COUNT(*) >= ${Llm.DcMinShared}))
       |SELECT 'quality' AS step, 'delta' AS relation,
       |  'rows_in' AS metric,
       |  (SELECT COUNT(*) FROM documents
       |   WHERE doc_id > (SELECT c FROM cut))::BIGINT AS value
       |UNION ALL SELECT 'quality', 'delta', 'dropped_low_quality',
       |  (SELECT COUNT(*) FROM dsc WHERE score < $QualityMin)
       |UNION ALL SELECT 'langid', 'delta', 'dropped_non_en',
       |  (SELECT COUNT(*) FROM dsc
       |   WHERE score >= $QualityMin AND predicted <> 'en')
       |UNION ALL SELECT 'dedup', 'delta', 'rows_kept',
       |  (SELECT COUNT(*) FROM dfresh)
       |UNION ALL SELECT 'dedup', 'delta', 'near_dup_removed',
       |  (SELECT COUNT(*) FROM dfresh) - (SELECT COUNT(*) FROM dstaged)
       |UNION ALL SELECT 'decontam', 'delta', 'eval_docs_added',
       |  (SELECT COUNT(*) FROM deval)
       |UNION ALL SELECT 'decontam', 'delta', 'contaminated_removed',
       |  (SELECT COUNT(*) FROM dcontam)
       |UNION ALL SELECT 'decontam', 'corpus', 'retro_contaminated_removed',
       |  (SELECT COUNT(*) FROM retro)
       |UNION ALL SELECT 'corpus', 'curated', 'rows_added',
       |  (SELECT COUNT(*) FROM dstaged) - (SELECT COUNT(*) FROM dcontam)
       |UNION ALL SELECT 'corpus', 'curated', 'rows_final',
       |  (SELECT COUNT(*) FROM fin)
       |UNION ALL SELECT 'shards', 'manifest', 'n_shards',
       |  (SELECT n_shards FROM m)
       |UNION ALL SELECT 'shards', 'manifest', 'total_tokens',
       |  (SELECT total_tokens FROM m)
       |UNION ALL SELECT 'shards', 'manifest', 'max_shard_tokens',
       |  (SELECT max_shard_tokens FROM m)
       |UNION ALL SELECT 'shards', 'manifest', 'published', 1::BIGINT
       |UNION ALL SELECT 'shards', 'manifest', 'audit_violations',
       |  0::BIGINT""".stripMargin
  }

  /** The composed build's INCREMENTAL form, driver-checked end to end
    * (the spec proves table-level convergence; this checks every
    * report counter against an independent recomputation): a base
    * build over the first 80% of doc_ids, then [[runIncremental]]
    * over the remaining 20% — gates, delta-keep-first dedup, the
    * index-served near-dedup, bidirectional decontamination, the
    * partition-scoped merge, and the manifest republish, with cost ∝
    * delta (the base corpus is read only through pruned hash/band/
    * gram columns and the partitions the delta touches). */
  val q258 = Query("q258_corpus_build_incremental", incrementalOracle) {
    (s, dir) =>
    val raw = Tables.documents(s, dir)
    // bounded collect: ONE scalar — the data-derived 80th-percentile
    // id split both engines compute identically
    val cut = raw.agg(floor(max(col("doc_id")) * 0.8).cast("long"))
      .head().getLong(0)
    run(s, dir, raw.filter(col("doc_id") <= cut), suffix = "i")
    runIncremental(s, dir, raw.filter(col("doc_id") > cut), suffix = "i")
  }

  val all: Seq[Query] = Seq(q245, q246, q258)
}
