package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Functions._
import graft.operators.{SharedFrames, Similarity, TextDedup}
import graft.sources.Tables

/** LLM training-data pipeline queries over the `documents` /
  * `embeddings` fixtures (the project's north-star extension; the
  * reference repo has no document layer, so these are specified by the
  * task brief rather than reference files): text statistics, exact +
  * near deduplication (MinHash LSH, SimHash, n-gram Jaccard,
  * fingerprint sampling), language ID, quality scoring, and embedding
  * similarity search (brute-force + hyperplane-LSH ANN).
  *
  * Every query has a full DuckDB oracle running the IDENTICAL pipeline
  * (portable md5-based hashing; strict left-fold double arithmetic), so
  * even the approximate operators are hash-checkable end to end.
  */
object Llm {

  /** DuckDB fragment: whitespace tokens of lowercased text. */
  private[queries] val DTokens =
    "string_split_regex(trim(lower(text)), '\\s+')"

  /** DuckDB fragment: portable 60-bit md5 hash of an expression. */
  private[queries] def dHash64(e: String) =
    s"('0x' || substr(md5($e), 1, 15))::BIGINT"

  // ------------------------------------------------------------ q21

  /** Per-language corpus statistics: all metrics are exact integer sums
    * with at most one final division (double sums across rows would be
    * partitioning-order-dependent; integer sums are not). */
  val q21 = Query(
    "q21_text_stats",
    s"""SELECT lang,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(len($DTokens)) AS BIGINT) AS total_ws_tokens,
       |  CAST(SUM(len(regexp_extract_all(text, '$BpeishPattern'))) AS BIGINT)
       |    AS total_bpeish_tokens,
       |  CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       |  CAST(SUM(length(text) -
       |    length(regexp_replace(text, '[[:punct:]]', '', 'g'))) AS BIGINT)
       |    AS total_punct_chars,
       |  ROUND(CAST(SUM(len($DTokens)) AS DOUBLE) / COUNT(*), 6)
       |    AS avg_ws_tokens
       |FROM documents GROUP BY lang""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text")))).cast("long").as("total_ws_tokens"),
        sum(bpeishTokenCount(col("text"))).cast("long")
          .as("total_bpeish_tokens"),
        sum(length(col("text"))).cast("long").as("total_chars"),
        sum(punctChars(col("text"))).cast("long").as("total_punct_chars"),
        round(sum(size(tokens(col("text")))).cast("double") /
          count(lit(1)), 6).as("avg_ws_tokens"))
  }

  // ------------------------------------------------------------ q22

  /** Exact-duplicate audit: raw and normalized content hashes. */
  val q22 = Query(
    "q22_exact_dedup",
    """WITH r AS (
      |  SELECT md5(text) AS h FROM documents),
      |n AS (
      |  SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h
      |  FROM documents),
      |ra AS (
      |  SELECT CAST(SUM(c) AS BIGINT) AS n_docs,
      |    CAST(COUNT(*) AS BIGINT) AS n_distinct_raw,
      |    CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_dup_groups_raw,
      |    CAST(SUM(c - 1) AS BIGINT) AS n_dup_rows_raw
      |  FROM (SELECT h, COUNT(*) AS c FROM r GROUP BY h)),
      |na AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct_norm,
      |    CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_dup_groups_norm,
      |    CAST(SUM(c - 1) AS BIGINT) AS n_dup_rows_norm
      |  FROM (SELECT h, COUNT(*) AS c FROM n GROUP BY h))
      |SELECT ra.*, na.* FROM ra, na""".stripMargin) { (s, dir) =>
    TextDedup.exactDupStats(Tables.documents(s, dir), "text")
  }

  // ------------------------------------------------------------ q23

  // shared with the composed corpus build's near-dedup stage — the
  // flagship product runs the SAME minhash configuration q23 checks
  private[queries] val MhShingle = 3
  private[queries] val MhHashes = 16
  private[queries] val MhBands = 4
  private[queries] val MhThreshold = 0.5

  private[queries] def minhashOracle: String =
    minhashOracleCand("AND a.doc_id < b.doc_id")

  /** The minhash CTE chain (tokens → distinct shingle sets →
    * Carter-Wegman signatures → banded bucket keys) as a WITH-list
    * FRAGMENT, reading docs from relation `src` and emitting CTEs
    * `${p}toks/${p}sh/${p}sig/${p}bands` — lets a composite oracle
    * (the corpus build's near-dedup stage) embed the q23-checked
    * pipeline over an intermediate CTE without name collisions.
    * `sh`, `sig` and `bands` are MATERIALIZED: each is referenced
    * more than once (`sig` by every band leg, `bands` on both sides of
    * the candidate self-join, `sh` by the verification joins), and
    * inlining would re-run the signatures — 32 md5 per shingle — per
    * reference. */
  private[queries] def minhashChainCtes(src: String, p: String): String = {
    val r = MhHashes / MhBands
    // Carter-Wegman family: member i = h1 + i * (h2 mod 2^50) — must
    // match TextDedup.minhashSignatures exactly
    val sigs = (0 until MhHashes)
      .map(i => s"list_min([${dHash64("x")} + $i * " +
        s"(${dHash64("'999:' || x")} % ${1L << 50}) for x in s]) AS sig$i")
      .mkString(",\n    ")
    val bandLegs = (0 until MhBands).map { j =>
      val cols = (j * r until (j + 1) * r).map(i => s"sig$i")
        .mkString(" || '|' || ")
      s"SELECT doc_id, $j AS band_id, md5($cols) AS band_key FROM ${p}sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""${p}toks AS (
  SELECT doc_id, $DTokens AS w FROM $src),
${p}sh AS MATERIALIZED (
  SELECT doc_id,
    list_distinct([array_to_string(list_slice(w, i, i + ${MhShingle - 1}), ' ')
                   for i in range(1, len(w) - ${MhShingle - 2})]) AS s
  FROM ${p}toks WHERE len(w) >= $MhShingle),
${p}sig AS MATERIALIZED (
  SELECT doc_id, s, $sigs FROM ${p}sh),
${p}bands AS MATERIALIZED (
  $bandLegs)"""
  }

  /** The shared CTE prefix of every minhash oracle: the chain over the
    * raw `documents` table, unprefixed. */
  private def minhashBandsCtes: String =
    "WITH " + minhashChainCtes("documents", "")

  /** The minhash pipeline oracle with a pluggable candidate-join
    * predicate (q23 uses the canonical a<b; q81's incremental variant
    * restricts the left side to the new batch). */
  private def minhashOracleCand(candPred: String): String =
    s"""${minhashJacCtes(candPred)}
SELECT doc_a, doc_b, ROUND(j, 6) AS jaccard FROM jac WHERE j >= $MhThreshold"""

  /** CTE prefix through the exact-Jaccard verification of every
    * candidate pair (unthresholded — consumers filter `j`; set sizes
    * and overlap ride along for containment-style consumers). */
  private[queries] def minhashJacCtes(candPred: String): String = {
    s"""$minhashBandsCtes,
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
    $candPred),
jac AS (
  SELECT c.doc_a, c.doc_b,
    len(list_intersect(x.s, y.s)) AS ovl,
    len(x.s) AS sz_a, len(y.s) AS sz_b,
    len(list_intersect(x.s, y.s))::DOUBLE /
      len(list_distinct(list_concat(x.s, y.s)))::DOUBLE AS j
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b)"""
  }

  /** The UNTHRESHOLDED verified candidate-pair frame (jraw + jaccard) —
    * the one expensive minhash build, SHARED: q23/q48/q83/q85/q92 read
    * it through the [[minhashPairsShared]] filter and q97's histogram
    * reads it whole. */
  private[queries] def minhashPairsAllShared(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    SharedFrames.getOrBuild(SharedFrames.key(s, dir, "minhash_pairs_all",
        s"$MhShingle:$MhHashes:$MhBands")) {
      TextDedup.minhashNearDupsAll(Tables.documents(s, dir), "doc_id",
        "text", MhShingle, MhHashes, MhBands)
    }

  /** The verified minhash near-dup pair graph — a SHARED materialized
    * intermediate: q23 reports it, q48 clusters over it. A filter on
    * the raw (unrounded) Jaccard of [[minhashPairsAllShared]] — the
    * identical comparison the thresholded pipeline made when it built
    * the frame itself, so derived consumers see byte-identical pairs. */
  private[queries] def minhashPairsShared(s: org.apache.spark.sql.SparkSession,
      dir: String) =
    minhashPairsAllShared(s, dir)
      .filter(col("jraw") >= MhThreshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** MinHash+LSH near-dedup: shingle → 16 seeded minhashes → 4 banded
    * buckets → candidate pairs within buckets only → exact-Jaccard
    * verification. The oracle replays the identical pipeline, so the
    * LSH recall profile itself is checked, not just the final filter. */
  val q23 = Query("q23_minhash_near_dedup", minhashOracle) { (s, dir) =>
    minhashPairsShared(s, dir)
  }

  // ------------------------------------------------------------ q81

  private val IncEvery = 10

  /** Incremental near-dedup — the DAILY-run form of q23: docs with
    * doc_id ≡ 0 (mod 10) stand in for today's batch, checked against
    * the whole corpus through the banded index WITHOUT generating any
    * existing×existing pair (`TextDedup.minhashNearDupsIncremental`).
    * New-vs-existing pairs keep the new doc as doc_a; within-batch
    * pairs are canonicalized a<b. The oracle replays the identical
    * pipeline with the identical candidate predicate. */
  val q81 = Query(
    "q81_incremental_near_dedup",
    minhashOracleCand(
      s"""AND a.doc_id % $IncEvery = 0 AND a.doc_id != b.doc_id
         |    AND (b.doc_id % $IncEvery != 0 OR a.doc_id < b.doc_id)"""
        .stripMargin)) { (s, dir) =>
    TextDedup.minhashNearDupsIncremental(Tables.documents(s, dir),
      "doc_id", "text", col("doc_id") % IncEvery === 0,
      MhShingle, MhHashes, MhBands, MhThreshold)
  }

  // ------------------------------------------------------------ q86

  /** q81 AS A STREAM: the same new-doc set (doc_id ≡ 0 mod 10) arrives
    * as two micro-batch files (≡ 0 and ≡ 10 mod 20) through
    * `Streaming.incrementalDedupStream` — each batch is near-dedup
    * checked against the growing corpus state, pairs accumulate across
    * batches, and the batch joins the state. The oracle is q81's pair
    * set with unordered (least/greatest) ids: the accumulated stream
    * output must equal the ONE-SHOT batch answer whatever the
    * micro-batch arrival order — a cross-batch pair is emitted exactly
    * once, by whichever of its docs arrives later. */
  val q86 = Query(
    "q86_stream_near_dedup",
    s"""WITH inc AS (
       |${minhashOracleCand(
            s"""AND a.doc_id % $IncEvery = 0 AND a.doc_id != b.doc_id
               |    AND (b.doc_id % $IncEvery != 0 OR a.doc_id < b.doc_id)"""
              .stripMargin)})
       |SELECT least(doc_a, doc_b) AS id_a, greatest(doc_a, doc_b) AS id_b,
       |  jaccard
       |FROM inc""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val isNewAll = col("doc_id") % IncEvery === 0
    val tag = math.abs(dir.hashCode).toString
    val newDir = s"/tmp/graft_stream_dedup_new_$tag"
    val stateDir = s"/tmp/graft_stream_dedup_state_$tag"
    val pairsDir = s"/tmp/graft_stream_dedup_pairs_$tag"
    Seq(newDir, stateDir, pairsDir)
      .foreach(p => graft.sources.Ingest.deletePath(s, p))
    docs.filter(!isNewAll).write.parquet(stateDir)
    docs.filter(col("doc_id") % (IncEvery * 2) === 0)
      .coalesce(1).write.parquet(newDir)
    docs.filter(col("doc_id") % (IncEvery * 2) === IncEvery)
      .coalesce(1).write.mode("append").parquet(newDir)
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1) // one day-file per micro-batch
      .parquet(newDir)
    val ckpt = "/tmp/graft_stream_dedup_ckpt_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = graft.streaming.Streaming.incrementalDedupStream(
      stream, stateDir, pairsDir, ckpt, "doc_id", "text",
      MhShingle, MhHashes, MhBands, MhThreshold)
    q.awaitTermination()
    s.read.parquet(pairsDir)
      .select(least(col("doc_a"), col("doc_b")).as("id_a"),
        greatest(col("doc_a"), col("doc_b")).as("id_b"), col("jaccard"))
  }

  // ------------------------------------------------------------ q24

  private[queries] val TopkEvery = 50
  private val TopkK = 5

  /** DuckDB fragment: strict left-fold cosine between list columns `a`
    * and `b` (matches Spark's `aggregate` fold bit for bit). */
  private[queries] def dCosine(a: String, b: String) =
    s"""list_reduce([$a[i] * $b[i] for i in range(1, len($a) + 1)],
       |      (x, y) -> x + y) /
       |    (sqrt(list_reduce([$a[i] * $a[i] for i in range(1, len($a) + 1)],
       |      (x, y) -> x + y)) *
       |     sqrt(list_reduce([$b[i] * $b[i] for i in range(1, len($b) + 1)],
       |      (x, y) -> x + y)))""".stripMargin

  /** DuckDB oracle for brute-force exact cosine top-k (parameterized so
    * q24 and the q53 recall baseline share one definition). */
  private[queries] def bruteForceOracle(k: Int): String =
    s"""WITH v AS (
       |  SELECT vec_id, [x::DOUBLE for x in embedding] AS e
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id AS query_id, e AS qe FROM v
       |  WHERE vec_id % $TopkEvery = 0),
       |scored AS (
       |  SELECT q.query_id, v.vec_id AS id,
       |    ${dCosine("qe", "e")} AS score
       |  FROM v, q WHERE v.vec_id != q.query_id),
       |r AS (
       |  SELECT query_id, id, score,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, id) AS rk
       |  FROM scored)
       |SELECT query_id, CAST(rk AS BIGINT) AS rank, id AS neighbor_id,
       |  ROUND(score, 6) AS cosine
       |FROM r WHERE rk <= $k""".stripMargin

  /** Brute-force exact cosine top-k: the correctness baseline for
    * similarity search. Query set = every 50th vector (broadcast);
    * top-k per query via the partial-aggregatable TopK Aggregator. */
  /** The exact brute-force top-[[TopkK]] — SHARED: q24 reports it, and
    * q53's recall baseline is its rank-prefix (top-3 ⊂ top-5 under the
    * same (cosine desc, id) order, so the prefix IS the exact top-3). */
  private[queries] def bruteForceShared(s: org.apache.spark.sql.SparkSession,
      dir: String) =
    SharedFrames.getOrBuild(SharedFrames.key(s, dir, "brute_topk",
        s"$TopkK:$TopkEvery")) {
      val v = Tables.embeddings(s, dir)
      val q = v.filter(col("vec_id") % TopkEvery === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(v, "vec_id", "embedding",
        q, "query_id", "qvec", TopkK)
    }

  val q24 = Query(
    "q24_embedding_topk",
    bruteForceOracle(TopkK)) { (s, dir) =>
    bruteForceShared(s, dir)
  }

  // ------------------------------------------------------------ q190

  private val HnK = 3 // hard negatives per query

  /** Hard-negative mining ([[graft.operators.Similarity
    * .hardNegativesTopK]]): per query vector, the [[HnK]] highest-cosine
    * neighbors with a DIFFERENT label — the closest wrong-class
    * examples that contrastive training of retrieval/embedding models
    * mines as negatives. Same query stride and exact-cosine fold as the
    * q24 baseline; the oracle is q24's with the label-mismatch
    * predicate added pre-rank (filtering after rank would be wrong —
    * a same-label neighbor must not consume a rank slot). */
  /** The hard-negative top-[[HnK]] frame — SHARED: q190 reports it,
    * q192's negative leg is its rank-1 prefix (the same (score desc,
    * id) order makes the prefix exact, the q24/q53 sharing argument). */
  private def hardNegativesShared(s: org.apache.spark.sql.SparkSession,
      dir: String) =
    SharedFrames.getOrBuild(SharedFrames.key(s, dir, "hard_negatives",
        s"$HnK:$TopkEvery")) {
      val v = Tables.embeddings(s, dir)
      val q = v.filter(col("vec_id") % TopkEvery === 0)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("qvec"), col("label").as("qlabel"))
      Similarity.hardNegativesTopK(v, "vec_id", "embedding", "label",
        q, "query_id", "qvec", "qlabel", HnK)
    }

  val q190 = Query(
    "q190_hard_negatives",
    s"""WITH v AS (
       |  SELECT vec_id, label, [x::DOUBLE for x in embedding] AS e
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id AS query_id, label AS ql, e AS qe FROM v
       |  WHERE vec_id % $TopkEvery = 0),
       |scored AS (
       |  SELECT q.query_id, v.vec_id AS id,
       |    ${dCosine("qe", "e")} AS score
       |  FROM v, q WHERE v.vec_id != q.query_id AND v.label != q.ql),
       |r AS (
       |  SELECT query_id, id, score,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, id) AS rk
       |  FROM scored)
       |SELECT query_id, CAST(rk AS BIGINT) AS rank, id AS neighbor_id,
       |  ROUND(score, 6) AS cosine
       |FROM r WHERE rk <= $HnK""".stripMargin) { (s, dir) =>
    hardNegativesShared(s, dir)
  }

  // ------------------------------------------------------------ q192

  /** Contrastive triplet export: for each anchor (the q24/q190 query
    * stride), its nearest SAME-label neighbor (the positive), its
    * nearest DIFFERENT-label neighbor (the hardest negative —
    * q190 rank 1), and the margin between the two cosines — the
    * (anchor, positive, negative) rows an embedding-model trainer
    * consumes, with the margin as the curriculum/difficulty signal.
    * Both legs are the same broadcast-queries/one-scan shape; the
    * final join is per-anchor on the tiny query-strided frames. */
  val q192 = Query(
    "q192_contrastive_triplets",
    s"""WITH v AS (
       |  SELECT vec_id, label, [x::DOUBLE for x in embedding] AS e
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id AS query_id, label AS ql, e AS qe FROM v
       |  WHERE vec_id % $TopkEvery = 0),
       |scored AS (
       |  SELECT q.query_id, v.vec_id AS id, v.label = q.ql AS same,
       |    ${dCosine("qe", "e")} AS score
       |  FROM v, q WHERE v.vec_id != q.query_id),
       |r AS (
       |  SELECT query_id, id, same, score,
       |    row_number() OVER (PARTITION BY query_id, same
       |      ORDER BY score DESC, id) AS rk
       |  FROM scored),
       |pos AS (SELECT query_id, id AS positive_id,
       |    ROUND(score, 6) AS positive_cosine
       |  FROM r WHERE same AND rk = 1),
       |neg AS (SELECT query_id, id AS negative_id,
       |    ROUND(score, 6) AS negative_cosine
       |  FROM r WHERE NOT same AND rk = 1)
       |SELECT query_id AS anchor_id, positive_id, positive_cosine,
       |  negative_id, negative_cosine,
       |  ROUND(positive_cosine - negative_cosine, 6) AS margin
       |FROM pos JOIN neg USING (query_id)""".stripMargin) { (s, dir) =>
    val v = Tables.embeddings(s, dir)
    val q = v.filter(col("vec_id") % TopkEvery === 0)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("qvec"), col("label").as("qlabel"))
    val pos = Similarity.labelPositivesTopK(v, "vec_id", "embedding",
        "label", q, "query_id", "qvec", "qlabel", 1)
      .select(col("query_id"), col("neighbor_id").as("positive_id"),
        col("cosine").as("positive_cosine"))
    // the hardest negative is the shared q190 frame's rank-1 prefix —
    // no second brute scan
    val neg = hardNegativesShared(s, dir).filter(col("rank") === 1)
      .select(col("query_id"), col("neighbor_id").as("negative_id"),
        col("cosine").as("negative_cosine"))
    pos.join(neg, "query_id")
      .select(col("query_id").as("anchor_id"),
        col("positive_id"), col("positive_cosine"),
        col("negative_id"), col("negative_cosine"),
        round(col("positive_cosine") - col("negative_cosine"), 6)
          .as("margin"))
  }

  // ------------------------------------------------------------ q194

  private val DeadNorm2Q = 1000L // norm² < 0.001 ⇒ dead/collapsed

  /** Embedding norm QA — the pre-training vector-space health panel:
    * per label, vector count, dead-vector count (quantized squared
    * norm below [[DeadNorm2Q]] ⇒ an all-zeros/collapsed embedding that
    * poisons cosine math downstream), and the min/max/mean squared
    * norm. Row-local strict left fold (`functions.aggregate`, the same
    * fold DuckDB's `list_reduce` replays bit for bit), quantized to
    * integer micros so the per-label sums are exact — the q99 inertia
    * determinism contract applied to QA. One scan, map-side-combinable
    * aggregates, no joins. */
  val q194 = Query(
    "q194_embedding_norm_qa",
    s"""WITH v AS (
       |  SELECT label,
       |    CAST(floor(list_reduce(
       |      [x::DOUBLE * x::DOUBLE for x in embedding],
       |      (a, b) -> a + b) * 1000000) AS BIGINT) AS n2q
       |  FROM embeddings)
       |SELECT CAST(label AS BIGINT) AS label,
       |  CAST(COUNT(*) AS BIGINT) AS n_vectors,
       |  CAST(SUM(CASE WHEN n2q < $DeadNorm2Q THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_dead,
       |  CAST(MIN(n2q) AS BIGINT) AS min_norm2q,
       |  CAST(MAX(n2q) AS BIGINT) AS max_norm2q,
       |  ROUND(CAST(SUM(n2q) AS DOUBLE) / (COUNT(*) * 1000000.0), 6)
       |    AS mean_norm2
       |FROM v GROUP BY 1""".stripMargin) { (s, dir) =>
    val n2 = aggregate(
      transform(col("embedding"),
        x => x.cast("double") * x.cast("double")),
      lit(0.0d), (acc, x) => acc + x)
    Tables.embeddings(s, dir)
      .select(col("label"), floor(n2 * lit(1000000.0d)).cast("long")
        .as("n2q"))
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("n2q") < DeadNorm2Q, 1L).otherwise(0L)).cast("long")
          .as("n_dead"),
        min(col("n2q")).as("min_norm2q"),
        max(col("n2q")).as("max_norm2q"),
        round(sum(col("n2q")).cast("double")
          / (count(lit(1)) * lit(1000000.0d)), 6).as("mean_norm2"))
  }

  // ------------------------------------------------------------ q193

  /** Cross-split near-dup leakage audit: does the content-hash split
    * (q56's train/val assignment) leak near-duplicate pairs across the
    * boundary? A val doc with a train-side near-dup is contaminated —
    * its eval score measures memorization, not generalization. q92
    * PREVENTS this by splitting on dedup clusters; this query AUDITS an
    * arbitrary split against the verified near-dup pair graph and
    * reports the leak rate plus the contaminated-val-doc count (the set
    * to quarantine). Rides [[minhashPairsShared]] — the audit itself is
    * two id-joins and one aggregate over the pair frame; the split
    * column is a projection, never a shuffle of text. */
  val q193 = Query(
    "q193_split_leakage_audit",
    s"""${minhashJacCtes("AND a.doc_id < b.doc_id")},
       |pairs AS (SELECT doc_a, doc_b FROM jac WHERE j >= $MhThreshold),
       |sp AS (
       |  SELECT doc_id, CASE WHEN ${dHash64("text")} % 100 < 90
       |    THEN 'train' ELSE 'val' END AS split
       |  FROM documents),
       |x AS (
       |  SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b
       |  FROM pairs p
       |  JOIN sp sa ON sa.doc_id = p.doc_a
       |  JOIN sp sb ON sb.doc_id = p.doc_b)
       |SELECT
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(SUM(CASE WHEN split_a != split_b THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_leaking,
       |  ROUND(CAST(SUM(CASE WHEN split_a != split_b THEN 1 ELSE 0 END)
       |      AS DOUBLE) / COUNT(*), 6) AS leak_rate,
       |  CAST((SELECT COUNT(*) FROM sp WHERE split = 'val') AS BIGINT)
       |    AS n_val_docs,
       |  CAST(COUNT(DISTINCT CASE WHEN split_a != split_b THEN
       |    CASE WHEN split_a = 'val' THEN doc_a ELSE doc_b END END)
       |    AS BIGINT) AS n_contaminated_val_docs
       |FROM x""".stripMargin) { (s, dir) =>
    // one text-hash scan: the (doc_id, split) projection is consumed
    // three times (two pair joins + the val-count aggregate)
    val sp = graft.operators.InternalCache.persist(
      Tables.documents(s, dir).select(col("doc_id"),
        when(md5Long(col("text")) % 100 < 90, "train").otherwise("val")
          .as("split")))
    val x = minhashPairsShared(s, dir).select(col("doc_a"), col("doc_b"))
      .join(sp.select(col("doc_id").as("doc_a"),
        col("split").as("split_a")), "doc_a")
      .join(sp.select(col("doc_id").as("doc_b"),
        col("split").as("split_b")), "doc_b")
    val leaks = col("split_a") =!= col("split_b")
    val valSide = when(leaks,
      when(col("split_a") === "val", col("doc_a")).otherwise(col("doc_b")))
    val nVal = sp.filter(col("split") === "val")
      .agg(count(lit(1)).as("n_val_docs"))
    x.agg(
        count(lit(1)).as("n_pairs"),
        sum(when(leaks, 1L).otherwise(0L)).cast("long").as("n_leaking"),
        round(sum(when(leaks, 1.0).otherwise(0.0)) / count(lit(1)), 6)
          .as("leak_rate"),
        countDistinct(valSide).as("n_contaminated_val_docs"))
      .crossJoin(broadcast(nVal))
      .select(col("n_pairs"), col("n_leaking"), col("leak_rate"),
        col("n_val_docs"), col("n_contaminated_val_docs"))
  }

  // ------------------------------------------------------------ q25

  private val ShMaxHamming = 3
  // the REMOVAL queries (q54/q57) use a near-exact criterion: the
  // fixture corpus is template-heavy, and hamming<=3 yields a ~100k-pair
  // graph at sf0.1 — a detection threshold, not a deletion one
  private val ShRemoveHamming = 1

  private def simhashOracle: String = simhashOracleH(ShMaxHamming)

  private def simhashOracleH(maxHamming: Int): String = {
    val bitTerms = (0 until 32).map { b =>
      s"""(CASE WHEN 2 * len([h for h in hs if (h >> $b) & 1 = 1])
         |      - len(hs) >= 0 THEN ${1L << b} ELSE 0 END)""".stripMargin
    }.mkString(" +\n    ")
    val bandLegs = (0 until 4).map { j =>
      s"SELECT doc_id, fp, $j AS band_id, (fp >> ${j * 8}) & 255 AS band_key FROM f"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH t AS (
  SELECT doc_id, [${dHash64("x")} for x in $DTokens] AS hs
  FROM documents),
f AS (
  SELECT doc_id,
    $bitTerms AS fp
  FROM t),
bands AS (
  $bandLegs),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
    CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
    AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= $maxHamming"""
  }

  /** SimHash near-dedup: 32-bit token-multiset fingerprints, byte-band
    * candidates (pigeonhole covers Hamming ≤ 3), exact bit_count(xor)
    * verification. */
  val q25 = Query("q25_simhash_near_dedup", simhashOracle) { (s, dir) =>
    simhashPairsShared(s, dir)
  }

  /** Shared verified simhash pair frame (q25 + q134). */
  private[queries] def simhashPairsShared(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    SharedFrames.getOrBuild(SharedFrames.key(s, dir, "simhash_pairs",
        s"$ShMaxHamming")) {
      TextDedup.simhashNearDups(Tables.documents(s, dir), "doc_id",
        "text", ShMaxHamming)
    }

  // ------------------------------------------------------------ q26

  private val NgN = 5
  private val NgMaxDf = 10
  private val NgThreshold = 0.5

  /** Character-n-gram Jaccard near-dups over an inverted index with
    * stop-gram removal (df > maxDf dropped — the quadratic-bucket
    * guard). Jaccard is over the filtered gram sets in both engines. */
  private def ngramOracle: String =
    s"""WITH g AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN length(text) >= $NgN THEN
       |      list_distinct([substr(text, i, $NgN)
       |                     for i in range(1, length(text) - ${NgN - 2})])
       |    ELSE [] END) AS gram
       |  FROM documents),
       |rare AS (
       |  SELECT gram FROM g GROUP BY gram HAVING COUNT(*) <= $NgMaxDf),
       |fg AS (SELECT g.doc_id, g.gram FROM g JOIN rare USING (gram)),
       |sz AS (SELECT doc_id, COUNT(*) AS sz FROM fg GROUP BY doc_id),
       |ovl AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ovl
       |  FROM fg a JOIN fg b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |j AS (
       |  SELECT doc_a, doc_b,
       |    ovl::DOUBLE / (x.sz + y.sz - ovl)::DOUBLE AS j
       |  FROM ovl
       |  JOIN sz x ON x.doc_id = doc_a
       |  JOIN sz y ON y.doc_id = doc_b)
       |SELECT doc_a, doc_b, ROUND(j, 6) AS jaccard
       |FROM j WHERE j >= $NgThreshold""".stripMargin

  val q26 = Query("q26_ngram_jaccard", ngramOracle) { (s, dir) =>
    ngramPairsShared(s, dir)
  }

  /** Shared df-capped n-gram pair frame (q26 + q134). */
  private[queries] def ngramPairsShared(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    SharedFrames.getOrBuild(SharedFrames.key(s, dir, "ngram_pairs",
        s"$NgN:$NgMaxDf:$NgThreshold")) {
      TextDedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id",
        "text", NgN, NgMaxDf, NgThreshold)
    }

  // ------------------------------------------------------------ q27

  private[queries] val StopEn = Seq("the", "a", "and", "of", "to")
  private[queries] val StopDe = Seq("der", "die", "und", "ist")
  private[queries] val StopEs = Seq("el", "la", "que", "y")
  private[queries] val StopFr = Seq("le", "les", "et", "une")

  private[queries] def dHits(set: Seq[String]) = {
    val in = set.map(w => s"'$w'").mkString(", ")
    s"len(list_filter(w, x -> x IN ($in)))"
  }

  /** DuckDB fragment: the four stopword-hit columns (he, hd, hs, hf)
    * over a token-list column `w` — twin of [[langHitCols]]. */
  private[queries] val DLangHits =
    s"${dHits(StopEn)} AS he, ${dHits(StopDe)} AS hd,\n" +
      s"    ${dHits(StopEs)} AS hs, ${dHits(StopFr)} AS hf"

  /** Spark twin of [[DLangHits]]: the four hit columns from a token
    * column. */
  private[queries] def langHitCols(
      w: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] =
    Seq(tokenHits(w, StopEn).as("he"), tokenHits(w, StopDe).as("hd"),
      tokenHits(w, StopEs).as("hs"), tokenHits(w, StopFr).as("hf"))

  /** DuckDB fragment: predicted language over the (he, hd, hs, hf)
    * hit columns — argmax with deterministic tie-break en>de>es>fr,
    * 'und' when nothing hits. Twin of [[langPredCol]]. */
  private[queries] val DLangPred =
    """CASE WHEN greatest(he, hd, hs, hf) = 0 THEN 'und'
      |         WHEN he >= greatest(hd, hs, hf) THEN 'en'
      |         WHEN hd >= greatest(hs, hf) THEN 'de'
      |         WHEN hs >= hf THEN 'es'
      |         ELSE 'fr' END""".stripMargin

  /** Spark twin of [[DLangPred]]. */
  private[queries] def langPredCol: org.apache.spark.sql.Column =
    when(greatest(col("he"), col("hd"), col("hs"), col("hf")) === 0,
      "und")
      .when(col("he") >= greatest(col("hd"), col("hs"), col("hf")), "en")
      .when(col("hd") >= greatest(col("hs"), col("hf")), "de")
      .when(col("hs") >= col("hf"), "es")
      .otherwise("fr")

  /** Heuristic language ID (stopword-hit argmax with deterministic
    * tie-break order en>de>es>fr, 'und' when nothing hits), reported as
    * a labeled-vs-predicted confusion matrix. */
  val q27 = Query(
    "q27_lang_id",
    s"""WITH t AS (
       |  SELECT lang, $DTokens AS w FROM documents),
       |h AS (
       |  SELECT lang, $DLangHits
       |  FROM t),
       |p AS (
       |  SELECT lang,
       |    $DLangPred AS predicted
       |  FROM h)
       |SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
       |FROM p GROUP BY lang, predicted""".stripMargin) { (s, dir) =>
    val w = tokens(col("text"))
    val h = Tables.documents(s, dir)
      .select(col("lang") +: langHitCols(w): _*)
    h.select(col("lang"), langPredCol.as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
  }

  // ------------------------------------------------------------ q28

  /** DuckDB fragment: the quality score over columns
    * (tok, stop_hits, chars, punct) — must match [[qualityScoreCol]]
    * term for term so the double is bit-identical in both engines. */
  private[queries] val DScore =
    """0.3 * least(tok / 50.0, 1.0) +
      |    0.3 * (stop_hits::DOUBLE / tok) +
      |    0.2 * (1.0 - least(10.0 * punct / greatest(chars, 1), 1.0)) +
      |    0.2 * least(chars::DOUBLE / tok / 8.0, 1.0)""".stripMargin

  /** Spark twin of [[DScore]] over columns (tok, stop_hits, chars,
    * punct). */
  private[queries] def qualityScoreCol: org.apache.spark.sql.Column =
    lit(0.3) * least(col("tok") / 50.0, lit(1.0)) +
      lit(0.3) * (col("stop_hits").cast("double") / col("tok")) +
      lit(0.2) * (lit(1.0) -
        least(lit(10.0) * col("punct") / greatest(col("chars"), lit(1)),
          lit(1.0))) +
      lit(0.2) * least(col("chars").cast("double") / col("tok") / 8.0,
        lit(1.0))

  /** DuckDB fragment: the (tok, stop_hits, chars, punct) feature frame
    * keyed by `keyCol`, matching [[qualityFeatures]]. */
  private[queries] def dQualityFeatures(keyCol: String): String =
    s"""SELECT $keyCol, len(w) AS tok, ${dHits(StopEn)} AS stop_hits,
       |    chars, punct
       |  FROM (
       |    SELECT $keyCol, $DTokens AS w, length(text) AS chars,
       |      length(text) -
       |        length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS punct
       |    FROM documents)""".stripMargin

  /** Spark twin of [[dQualityFeatures]]. */
  private[queries] def qualityFeatures(docs: org.apache.spark.sql.DataFrame,
      keyCols: String*): org.apache.spark.sql.DataFrame = {
    val w = tokens(col("text"))
    docs.select(keyCols.map(col) ++ Seq(
      size(w).as("tok"), tokenHits(w, StopEn).as("stop_hits"),
      length(col("text")).as("chars"),
      punctChars(col("text")).as("punct")): _*)
  }

  /** Doc quality scoring (length / stopword density / punctuation /
    * word-length features), bucketed histogram per language. The score
    * formula is evaluated identically in both engines, so the double is
    * bit-stable and the floor-bucket never straddles. */
  val q28 = Query(
    "q28_quality_score",
    s"""WITH f AS (
       |  ${dQualityFeatures("lang")}),
       |sc AS (
       |  SELECT lang,
       |    $DScore AS score
       |  FROM f)
       |SELECT lang, CAST(FLOOR(score * 10) AS BIGINT) AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs
       |FROM sc GROUP BY lang, bucket""".stripMargin) { (s, dir) =>
    qualityFeatures(Tables.documents(s, dir), "lang")
      .select(col("lang"), qualityScoreCol.as("score"))
      .groupBy(col("lang"), floor(col("score") * 10).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"))
  }

  // ------------------------------------------------------------ q29

  private val FpN = 8
  private val FpMod = 16
  private val FpMinShared = 3
  private val FpMaxDf = 20

  /** Content-defined fingerprint sampling (hash ≡ 0 mod 16 over char
    * 8-grams), boilerplate fingerprints (df > maxDf) suppressed, then
    * inverted-index pair counting. */
  val q29 = Query(
    "q29_fingerprint_pairs",
    s"""WITH g AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN length(text) >= $FpN THEN
       |      list_distinct([substr(text, i, $FpN)
       |                     for i in range(1, length(text) - ${FpN - 2})])
       |    ELSE [] END) AS gram
       |  FROM documents),
       |fp AS (
       |  SELECT DISTINCT doc_id, ${dHash64("gram")} AS fp
       |  FROM g WHERE ${dHash64("gram")} % $FpMod = 0),
       |rare AS (
       |  SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) <= $FpMaxDf),
       |kept AS (SELECT fp.doc_id, fp.fp FROM fp JOIN rare USING (fp)),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(COUNT(*) AS BIGINT) AS n_shared
       |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_shared FROM p
       |WHERE n_shared >= $FpMinShared""".stripMargin) { (s, dir) =>
    TextDedup.fingerprintPairs(Tables.documents(s, dir), "doc_id", "text",
      FpN, FpMod, FpMinShared, FpMaxDf)
  }

  // ------------------------------------------------------------ q30

  private val AnnPlanes = 6
  private val AnnDims = 64
  private val AnnK = 3

  private def annOracle: String = {
    val planeDot = (p: Int) =>
      s"""list_reduce([e[i] * (((('0x' || substr(md5('plane:$p:' ||
         |      CAST(i - 1 AS VARCHAR)), 1, 15))::BIGINT % 1001) - 500) / 500.0)
         |      for i in range(1, ${AnnDims + 1})], (x, y) -> x + y)""".stripMargin
    val bucketTerms = (0 until AnnPlanes).map { p =>
      s"(CASE WHEN ${planeDot(p)} >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" +\n    ")
    s"""WITH v AS (
  SELECT vec_id, [x::DOUBLE for x in embedding] AS e FROM embeddings),
b AS (
  SELECT vec_id, e,
    $bucketTerms AS bucket
  FROM v),
q AS (
  SELECT vec_id AS query_id, e AS qe, bucket AS qbucket FROM b
  WHERE vec_id % $TopkEvery = 0),
scored AS (
  SELECT q.query_id, b.vec_id AS id,
    ${dCosine("qe", "e")} AS score
  FROM b JOIN q ON b.bucket = q.qbucket AND b.vec_id != q.query_id),
r AS (
  SELECT query_id, id, score,
    row_number() OVER (PARTITION BY query_id
      ORDER BY score DESC, id) AS rk
  FROM scored)
SELECT query_id, CAST(rk AS BIGINT) AS rank, id AS neighbor_id,
  ROUND(score, 6) AS cosine
FROM r WHERE rk <= $AnnK"""
  }

  /** Hyperplane-LSH approximate nearest neighbors: deterministic
    * hash-derived planes → sign buckets → candidates joined within
    * buckets only → exact cosine top-k. The scale path for q24. */
  /** The LSH search result — SHARED: q30 reports it, q53's lsh recall
    * leg consumes it. */
  private def lshShared(s: org.apache.spark.sql.SparkSession,
      dir: String) =
    SharedFrames.getOrBuild(SharedFrames.key(s, dir, "ann_lsh",
        s"$AnnK:$AnnPlanes:$AnnDims")) {
      val v = Tables.embeddings(s, dir)
      val q = v.filter(col("vec_id") % TopkEvery === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.probeTopK(v, "vec_id", "embedding",
        Similarity.lshBucket(col("embedding"), AnnPlanes, AnnDims),
        q, "query_id", "qvec",
        array(Similarity.lshBucket(col("qvec"), AnnPlanes, AnnDims)), AnnK)
    }

  val q30 = Query("q30_embedding_ann_lsh", annOracle) { (s, dir) =>
    lshShared(s, dir)
  }

  // ------------------------------------------------------------ q45

  private[queries] val NdPlanes = 5
  // the fixture embeddings carry no true duplicates (max pairwise
  // cosine ≈ 0.51), so the "near-dup" cut sits inside the observed
  // range to keep the pipeline exercised end to end
  private[queries] val NdThreshold = 0.4
  private[queries] val NdDims = 64

  private[queries] def embNearDupOracle: String = {
    val bucketTerms = (0 until NdPlanes).map { p =>
      val dot = s"""list_reduce([e[i] * (((('0x' || substr(md5('plane:$p:' ||
        |      CAST(i - 1 AS VARCHAR)), 1, 15))::BIGINT % 1001) - 500) / 500.0)
        |      for i in range(1, ${AnnDims + 1})], (x, y) -> x + y)""".stripMargin
      s"(CASE WHEN $dot >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" +\n    ")
    s"""WITH v AS (
  SELECT vec_id, [x::DOUBLE for x in embedding] AS e FROM embeddings),
b AS (
  SELECT vec_id, e,
    $bucketTerms AS bucket
  FROM v),
p AS (
  SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
    ${dCosine("a.e", "b2.e")} AS c
  FROM b a JOIN b b2
    ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
SELECT id_a, id_b, ROUND(c, 6) AS cosine FROM p WHERE c >= $NdThreshold"""
  }

  /** Embedding-cosine near-dedup: hyperplane sign-buckets bound the
    * candidate pairs, exact cosine verifies — the vector-space twin of
    * q23's minhash pipeline. */
  val q45 = Query("q45_embedding_near_dup", embNearDupOracle) { (s, dir) =>
    Similarity.cosineNearDupPairs(Tables.embeddings(s, dir), "vec_id",
      "embedding", NdPlanes, AnnDims, NdThreshold)
  }

  // ------------------------------------------------------------ q48

  /** DuckDB: connected components (recursive CTE) over a pair query,
    * yielding (doc_id, cluster_id = component min) — shared by q48 and
    * the q54 removal end product. */
  private[queries] def componentsOracle(pairsSql: String): String =
    s"""WITH pairs AS (
       |  SELECT doc_a, doc_b FROM ($pairsSql)),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  WITH RECURSIVE r(a, b) AS (
       |    SELECT src, src FROM edges
       |    UNION
       |    SELECT r.a, e.dst FROM r JOIN edges e ON r.b = e.src)
       |  SELECT a, b FROM r)
       |SELECT a AS doc_id, MIN(b) AS cluster_id
       |FROM reach GROUP BY a""".stripMargin

  /** The minhash near-dup component labels — SHARED like the pair
    * graph itself: q48 reports them, q85's manifest consumes them. */
  private[queries] def minhashClustersShared(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    SharedFrames.getOrBuild(SharedFrames.key(s, dir, "minhash_clusters",
        s"$MhShingle:$MhHashes:$MhBands:$MhThreshold")) {
      TextDedup.dupClusters(minhashPairsShared(s, dir))
    }

  /** Near-dup clustering: connected components over q23's verified
    * minhash pairs, each doc labeled with its component's min doc id.
    * The oracle computes the same components with a recursive CTE over
    * the identical pair pipeline. */
  val q48 = Query(
    "q48_dedup_clusters",
    componentsOracle(minhashOracle)) { (s, dir) =>
    minhashClustersShared(s, dir)
  }

  // ------------------------------------------------------------ q54

  /** The SimHash removal set (non-representative near-dup cluster
    * members at the removal threshold) — a SHARED materialized
    * intermediate consumed by both the dedup end product (q54) and the
    * training-mix curation (q57). */
  private def simhashRemovedShared(s: org.apache.spark.sql.SparkSession,
      dir: String) =
    SharedFrames.getOrBuild(SharedFrames.key(s, dir, "simhash_removed",
        ShRemoveHamming.toString)) {
      TextDedup.dupClusters(
        TextDedup.simhashNearDups(Tables.documents(s, dir), "doc_id",
          "text", ShRemoveHamming).select("doc_a", "doc_b"))
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"))
    }

  /** The dedup END PRODUCT: the corpus with every non-representative
    * near-dup cluster member removed (each cluster keeps its min doc
    * id), summarized per language. Pairs come from the SimHash pipeline
    * (q25), so clustering is exercised over a second pair source beyond
    * q48's minhash graph. At 100 TB this is the shape of a real
    * training-data dedup pass: pair generation is bucket-bounded, the
    * cluster graph holds only near-dup docs, and the removal is one
    * broadcast-or-shuffle anti-join against the doc ids. */
  val q54 = Query(
    "q54_dedup_corpus",
    s"""WITH clusters AS (
       |${componentsOracle(simhashOracleH(ShRemoveHamming))}),
       |removed AS (
       |  SELECT doc_id FROM clusters WHERE doc_id != cluster_id)
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN r.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept,
       |  CAST(SUM(CASE WHEN r.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
       |    AS n_removed
       |FROM documents d LEFT JOIN removed r ON d.doc_id = r.doc_id
       |GROUP BY lang""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val removed = simhashRemovedShared(s, dir)
      .select(col("doc_id"), lit(1).as("__rm"))
    docs.join(removed, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__rm").isNull, 1).otherwise(0)).cast("long")
          .as("n_kept"),
        sum(when(col("__rm").isNull, 0).otherwise(1)).cast("long")
          .as("n_removed"))
  }

  // ------------------------------------------------------------ q49

  private[queries] val IvfCells = 8
  private[queries] val IvfK = 3

  /** DuckDB fragments for the IVF coarse-cell assignment — shared by
    * q49's inverted-file search and q88's IVF+PQ composition. */
  private def dIvfDotCols: String =
    (0 until IvfCells).map { m =>
      s"""list_reduce([e[i] * (((('0x' || substr(md5('centroid:$m:' ||
         |      CAST(i - 1 AS VARCHAR)), 1, 15))::BIGINT % 1001) - 500) / 500.0)
         |      for i in range(1, ${AnnDims + 1})], (x, y) -> x + y) AS d$m""".stripMargin
    }.mkString(",\n    ")

  private def dIvfCellCase: String =
    (0 until IvfCells - 1).map { m =>
      val later = (m + 1 until IvfCells).map(i => s"d$i").mkString(", ")
      val laterMax =
        if (m == IvfCells - 2) later else s"greatest($later)"
      s"WHEN d$m >= $laterMax THEN $m"
    }.mkString("\n         ")

  private[queries] def ivfOracle: String = {
    val dotCols = dIvfDotCols
    val cellCase = dIvfCellCase
    s"""WITH v AS (
  SELECT vec_id, [x::DOUBLE for x in embedding] AS e FROM embeddings),
b AS (
  SELECT vec_id, e,
    $dotCols
  FROM v),
c AS (
  SELECT vec_id, e,
    CASE $cellCase
         ELSE ${IvfCells - 1} END AS cell
  FROM b),
q AS (
  SELECT vec_id AS query_id, e AS qe, cell AS qcell FROM c
  WHERE vec_id % $TopkEvery = 0),
scored AS (
  SELECT q.query_id, c.vec_id AS id,
    ${dCosine("qe", "e")} AS score
  FROM c JOIN q ON c.cell = q.qcell AND c.vec_id != q.query_id),
r AS (
  SELECT query_id, id, score,
    row_number() OVER (PARTITION BY query_id
      ORDER BY score DESC, id) AS rk
  FROM scored)
SELECT query_id, CAST(rk AS BIGINT) AS rank, id AS neighbor_id,
  ROUND(score, 6) AS cosine
FROM r WHERE rk <= $IvfK"""
  }

  /** IVF-style ANN: hash-derived coarse centroids, argmax-dot cell
    * assignment, exact cosine top-k within the probed cell — the
    * inverted-file counterpart to q30's hyperplane LSH. */
  /** The IVF search result — SHARED: q49 reports it, q53's ivf recall
    * leg consumes it. */
  private[queries] def ivfShared(s: org.apache.spark.sql.SparkSession,
      dir: String) =
    SharedFrames.getOrBuild(SharedFrames.key(s, dir, "ann_ivf",
        s"$IvfK:$IvfCells:$AnnDims")) {
      val v = Tables.embeddings(s, dir)
      val q = v.filter(col("vec_id") % TopkEvery === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.ivfTopK(v, "vec_id", "embedding", q, "query_id", "qvec",
        IvfK, IvfCells, AnnDims)
    }

  val q49 = Query("q49_embedding_ann_ivf", ivfOracle) { (s, dir) =>
    ivfShared(s, dir)
  }

  // ------------------------------------------------------------ q87

  private val PqM = 4
  private val PqK = 8

  /** DuckDB fragment: PQ codebook component (subspace s, centroid j,
    * local dim i-1) — must match `Similarity.pqWeights`. */
  private def dPqW(s: Int, j: Int) =
    s"(((('0x' || substr(md5('pq:$s:$j:' || CAST(i - 1 AS VARCHAR)), 1, " +
      s"15))::BIGINT % 1001) - 500) / 500.0)"

  private def PqSub = AnnDims / PqM

  /** The PQ oracle fragments, parameterized by column-name prefixes so
    * q87 (codes per corpus vector) and q88 (corpus codes + query
    * distance tables) share one set of expressions. */
  private def dPqSubCols(vec: String, p: String): String =
    (0 until PqM).map(s =>
      s"list_slice($vec, ${s * PqSub + 1}, ${(s + 1) * PqSub}) AS $p$s")
      .mkString(",\n    ")

  private def dPqVvCols(p: String, o: String): String =
    (0 until PqM).map(s =>
      s"""list_reduce([$p$s[i] * $p$s[i] for i in range(1, ${PqSub + 1})],
         |      (x, y) -> x + y) AS $o$s""".stripMargin)
      .mkString(",\n    ")

  private def dPqDCols(p: String, vvp: String, o: String): String =
    (for (s <- 0 until PqM; j <- 0 until PqK) yield
      s"""$vvp$s - 2 * list_reduce([$p$s[i] * ${dPqW(s, j)}
         |      for i in range(1, ${PqSub + 1})], (x, y) -> x + y)
         |    + list_reduce([${dPqW(s, j)} * ${dPqW(s, j)}
         |      for i in range(1, ${PqSub + 1})], (x, y) -> x + y) AS $o${s}_$j"""
        .stripMargin).mkString(",\n    ")

  private def dPqCodeCols(d: String): String =
    (0 until PqM).map { s =>
      val cases = (0 until PqK - 1).map { j =>
        val later = (j + 1 until PqK).map(x => s"$d${s}_$x")
        val laterMin =
          if (later.size == 1) later.head
          else s"least(${later.mkString(", ")})"
        s"WHEN $d${s}_$j <= $laterMin THEN $j"
      }.mkString("\n         ")
      s"""CAST(CASE $cases
         |         ELSE ${PqK - 1} END AS BIGINT) AS code$s""".stripMargin
    }.mkString(",\n  ")

  /** The PQ quantizer oracle chain ending at CTE
    * `pqc(vec_id, code0..code{m-1}, err)` — shared by q87 (the code
    * dump) and q232 (the codebook-utilization audit). */
  private def dPqCodesChain: String = {
    val errSum = (0 until PqM).map(s =>
      s"least(${(0 until PqK).map(j => s"d${s}_$j").mkString(", ")})")
      .mkString(" + ")
    s"""v AS (
       |  SELECT vec_id, [x::DOUBLE for x in embedding] AS e
       |  FROM embeddings),
       |sv AS (
       |  SELECT vec_id,
       |    ${dPqSubCols("e", "s")}
       |  FROM v),
       |vv AS (
       |  SELECT vec_id, ${(0 until PqM).map(s => s"s$s").mkString(", ")},
       |    ${dPqVvCols("s", "vv")}
       |  FROM sv),
       |dd AS (
       |  SELECT vec_id,
       |    ${dPqDCols("s", "vv", "d")}
       |  FROM vv),
       |pqc AS (
       |  SELECT vec_id,
       |    ${dPqCodeCols("d")},
       |    ROUND($errSum, 6) AS err
       |  FROM dd)""".stripMargin
  }

  private def pqOracle: String =
    s"""WITH $dPqCodesChain
       |SELECT * FROM pqc""".stripMargin

  /** Product quantization codes + reconstruction error
    * (`Similarity.pqCodes`): 64-dim float embeddings compressed to 4
    * codes from 8-entry hash-derived codebooks — the memory step of
    * IVF+PQ, the architecture that fits billion-vector ANN in RAM. The
    * whole quantizer (codes AND per-vector L2² error) is replayed by
    * the oracle, because every distance is a strict-left-fold double
    * expression. */
  /** The PQ code frame — SHARED: quantized once per run for q87 (the
    * dump) and q232 (the utilization audit). */
  private def pqCodesShared(s: SparkSession, dir: String): DataFrame =
    graft.operators.SharedFrames.getOrBuild(
        graft.operators.SharedFrames.key(s, "pqCodes", dir)) {
      Similarity.pqCodes(Tables.embeddings(s, dir), "vec_id",
        "embedding", PqM, PqK, AnnDims)
    }

  val q87 = Query("q87_pq_codes", pqOracle) { (s, dir) =>
    pqCodesShared(s, dir)
  }

  // ------------------------------------------------------------ q232

  /** ln(PqK) as an exact shared double literal (both engines parse
    * the same decimal string to the nearest IEEE double). */
  private val PqLnK: String = math.log(PqK.toDouble).toString

  /** PQ codebook-utilization audit over the SAME shared code frame as
    * q87: per subspace, how many of the k codebook entries are used,
    * the heaviest code's share, and the normalized assignment entropy
    * — a collapsed subquantizer (entropy → 0, one hot code) quantizes
    * everything onto one centroid and silently destroys q88's
    * asymmetric distances, so this is the health gate a vector
    * platform runs after (re)training codebooks. Per-code entropy
    * terms are cnt·round(ln(n/cnt)·1e6) — exact integer products on
    * the 1e-6 grid — and the two divisions (by n·1e6·ln k, by n) are
    * string-parse-pinned fixed trees. */
  val q232 = Query(
    "q232_codebook_balance", {
      val unions = (0 until PqM).map(s =>
        s"  SELECT $s AS subspace, code$s AS code FROM pqc")
        .mkString("\n  UNION ALL\n")
      s"""WITH $dPqCodesChain,
         |u AS (
         |$unions),
         |c AS (
         |  SELECT subspace, code, COUNT(*) AS cnt
         |  FROM u GROUP BY 1, 2),
         |n AS (SELECT subspace, SUM(cnt) AS n FROM c GROUP BY 1),
         |t AS (
         |  SELECT c.subspace, cnt, n.n,
         |    CAST(round(ln(CAST(n.n AS DOUBLE) / CAST(cnt AS DOUBLE))
         |      * 1000000) AS BIGINT) AS lq
         |  FROM c JOIN n USING (subspace)),
         |a AS (
         |  SELECT subspace, MAX(n) AS n, COUNT(*) AS used,
         |    MAX(cnt) AS topc,
         |    CAST(SUM(CAST(cnt AS HUGEINT) * lq) AS HUGEINT) AS se
         |  FROM t GROUP BY 1)
         |SELECT CAST(subspace AS BIGINT) AS subspace,
         |  CAST(used AS BIGINT) AS n_codes_used,
         |  ROUND(CAST(CAST(topc AS VARCHAR) AS DOUBLE)
         |    / CAST(CAST(n AS VARCHAR) AS DOUBLE), 6) AS top_code_share,
         |  ROUND(CAST(CAST(se AS VARCHAR) AS DOUBLE)
         |    / ((CAST(CAST(n AS VARCHAR) AS DOUBLE) * 1000000.0)
         |      * $PqLnK), 6) AS norm_entropy
         |FROM a""".stripMargin
    }) { (s, dir) =>
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    def dd(c: org.apache.spark.sql.Column) =
      c.cast("string").cast("double")
    val pqc = pqCodesShared(s, dir)
    val u = (0 until PqM).map(m =>
        pqc.select(lit(m.toLong).as("subspace"),
          col(s"code$m").as("code")))
      .reduce(_ unionByName _)
    val c = u.groupBy(col("subspace"), col("code"))
      .agg(count(lit(1)).as("cnt"))
    val n = c.groupBy(col("subspace")).agg(sum(col("cnt")).as("n"))
    val t = c.join(broadcast(n), Seq("subspace"))
      .select(col("subspace"), col("cnt"), col("n"),
        round(log(col("n").cast("double") / col("cnt").cast("double"))
          * 1000000L).cast("long").as("lq"))
    val a = t.groupBy(col("subspace"))
      .agg(max(col("n")).as("n"), count(lit(1)).as("used"),
        max(col("cnt")).as("topc"),
        sum(col("cnt").cast(d38) * col("lq").cast(d38)).as("se"))
    a.select(col("subspace").cast("long").as("subspace"),
      col("used").cast("long").as("n_codes_used"),
      round(dd(col("topc")) / dd(col("n")), 6).as("top_code_share"),
      round(dd(col("se")) /
        ((dd(col("n")) * lit(1000000.0d)) * lit(PqLnK.toDouble)), 6)
        .as("norm_entropy"))
  }

  // ------------------------------------------------------------ q88

  private def ivfPqOracle: String = {
    val adistSum = (0 until PqM)
      .map(s => s"qd.qd$s[codes.code$s + 1]").mkString(" + ")
    s"""WITH v AS (
       |  SELECT vec_id, [x::DOUBLE for x in embedding] AS e
       |  FROM embeddings),
       |b AS (
       |  SELECT vec_id, e,
       |    $dIvfDotCols
       |  FROM v),
       |c AS (
       |  SELECT vec_id, e,
       |    CASE $dIvfCellCase
       |         ELSE ${IvfCells - 1} END AS cell
       |  FROM b),
       |sv AS (
       |  SELECT vec_id, cell,
       |    ${dPqSubCols("e", "s")}
       |  FROM c),
       |vv AS (
       |  SELECT vec_id, cell,
       |    ${(0 until PqM).map(s => s"s$s").mkString(", ")},
       |    ${dPqVvCols("s", "vv")}
       |  FROM sv),
       |dd AS (
       |  SELECT vec_id, cell,
       |    ${dPqDCols("s", "vv", "d")}
       |  FROM vv),
       |codes AS (
       |  SELECT vec_id, cell,
       |  ${dPqCodeCols("d")}
       |  FROM dd),
       |q AS (
       |  SELECT vec_id AS query_id, e AS qe, cell AS qcell FROM c
       |  WHERE vec_id % $TopkEvery = 0),
       |qs AS (
       |  SELECT query_id, qcell,
       |    ${dPqSubCols("qe", "p")}
       |  FROM q),
       |qv AS (
       |  SELECT query_id, qcell,
       |    ${(0 until PqM).map(s => s"p$s").mkString(", ")},
       |    ${dPqVvCols("p", "pv")}
       |  FROM qs),
       |qd0 AS (
       |  SELECT query_id, qcell,
       |    ${dPqDCols("p", "pv", "t")}
       |  FROM qv),
       |qd AS (
       |  SELECT query_id, qcell,
       |    ${(0 until PqM).map(s =>
             s"[${(0 until PqK).map(j => s"t${s}_$j").mkString(", ")}]" +
               s" AS qd$s").mkString(",\n    ")}
       |  FROM qd0),
       |scored AS (
       |  SELECT qd.query_id, codes.vec_id AS id,
       |    $adistSum AS adist
       |  FROM codes JOIN qd ON codes.cell = qd.qcell
       |    AND codes.vec_id != qd.query_id),
       |r AS (
       |  SELECT query_id, id, adist,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adist, id) AS rk
       |  FROM scored)
       |SELECT query_id, CAST(rk AS BIGINT) AS rank, id AS neighbor_id,
       |  ROUND(adist, 6) AS adist
       |FROM r WHERE rk <= $IvfK""".stripMargin
  }

  /** The IVF+PQ search result — SHARED: q88 reports it, q53's ivf_pq
    * recall leg consumes it. */
  private def ivfPqShared(s: org.apache.spark.sql.SparkSession,
      dir: String) =
    SharedFrames.getOrBuild(SharedFrames.key(s, dir, "ivfpq",
        s"$IvfK:$IvfCells:$PqM:$PqK:$AnnDims")) {
      val v = Tables.embeddings(s, dir)
      val q = v.filter(col("vec_id") % TopkEvery === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.ivfPqTopK(v, "vec_id", "embedding", q, "query_id",
        "qvec", IvfK, IvfCells, PqM, PqK, AnnDims)
    }

  /** IVF+PQ search end to end (`Similarity.ivfPqTopK`): coarse cells
    * prune candidates, asymmetric distance scores them — `m` table
    * lookups per candidate against the query's precomputed `m × k`
    * distance table, instead of a 64-float scan. The entire compressed
    * search (cells, codes, distance tables, final ranking AND the
    * approximate distances themselves) is replayed by the oracle. */
  val q88 = Query("q88_ivfpq_search", ivfPqOracle) { (s, dir) =>
    ivfPqShared(s, dir)
  }

  // ------------------------------------------------------------ q53

  /** DuckDB: the Hamming-1 multi-probe variant of q30's LSH oracle —
    * each query probes its own bucket plus the `AnnPlanes` one-bit
    * flips. */
  private def annMultiProbeOracle: String = {
    val planeDot = (p: Int) =>
      s"""list_reduce([e[i] * (((('0x' || substr(md5('plane:$p:' ||
         |      CAST(i - 1 AS VARCHAR)), 1, 15))::BIGINT % 1001) - 500) / 500.0)
         |      for i in range(1, ${AnnDims + 1})], (x, y) -> x + y)""".stripMargin
    val bucketTerms = (0 until AnnPlanes).map { p =>
      s"(CASE WHEN ${planeDot(p)} >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" +\n    ")
    val probes = ("qbucket" +: (0 until AnnPlanes).map(p =>
      s"xor(qbucket, ${1L << p})")).mkString(", ")
    s"""WITH v AS (
  SELECT vec_id, [x::DOUBLE for x in embedding] AS e FROM embeddings),
b AS (
  SELECT vec_id, e,
    $bucketTerms AS bucket
  FROM v),
q AS (
  SELECT vec_id AS query_id, e AS qe, bucket AS qbucket FROM b
  WHERE vec_id % $TopkEvery = 0),
qp AS (
  SELECT query_id, qe, unnest([$probes]) AS probe FROM q),
scored AS (
  SELECT qp.query_id, b.vec_id AS id,
    ${dCosine("qe", "e")} AS score
  FROM b JOIN qp ON b.bucket = qp.probe AND b.vec_id != qp.query_id),
r AS (
  SELECT query_id, id, score,
    row_number() OVER (PARTITION BY query_id
      ORDER BY score DESC, id) AS rk
  FROM scored)
SELECT query_id, CAST(rk AS BIGINT) AS rank, id AS neighbor_id,
  ROUND(score, 6) AS cosine
FROM r WHERE rk <= $AnnK"""
  }

  /** DuckDB: first-wins argmax CASE chain over per-cell dot expressions
    * (the cell `Similarity.ivfProbes` picks, as the first-wins argmin
    * over negated dots). */
  private def ivfChainCase(d: Int => String): String =
    (0 until IvfCells - 1).map { m =>
      val later = (m + 1 until IvfCells).map(d).mkString(", ")
      val laterMax = if (m == IvfCells - 2) later else s"greatest($later)"
      s"WHEN ${d(m)} >= $laterMax THEN $m"
    }.mkString("\n         ")

  /** DuckDB: the top-2-cell multi-probe variant of q49's IVF oracle —
    * probe 2 re-runs the argmax with the chosen cell's dot masked to
    * -1e308 — the second probe of `Similarity.ivfProbes`. */
  private def ivfMultiProbeOracle: String = {
    val dotCols = (0 until IvfCells).map { m =>
      s"""list_reduce([e[i] * (((('0x' || substr(md5('centroid:$m:' ||
         |      CAST(i - 1 AS VARCHAR)), 1, 15))::BIGINT % 1001) - 500) / 500.0)
         |      for i in range(1, ${AnnDims + 1})], (x, y) -> x + y) AS d$m""".stripMargin
    }.mkString(",\n    ")
    val p0Case = ivfChainCase(i => s"d$i")
    val dm = (i: Int) => s"(CASE WHEN p0 = $i THEN -1e308 ELSE d$i END)"
    val p1Case = ivfChainCase(dm)
    val dList = (0 until IvfCells).map(i => s"d$i").mkString(", ")
    s"""WITH v AS (
  SELECT vec_id, [x::DOUBLE for x in embedding] AS e FROM embeddings),
b AS (
  SELECT vec_id, e,
    $dotCols
  FROM v),
c AS (
  SELECT vec_id, e, $dList,
    CASE $p0Case
         ELSE ${IvfCells - 1} END AS cell
  FROM b),
q0 AS (
  SELECT query_id, qe, p0,
    CASE $p1Case
         ELSE ${IvfCells - 1} END AS p1
  FROM (SELECT vec_id AS query_id, e AS qe, cell AS p0, $dList
        FROM c WHERE vec_id % $TopkEvery = 0)),
qp AS (
  SELECT query_id, qe, unnest([p0, p1]) AS probe FROM q0),
scored AS (
  SELECT qp.query_id, c.vec_id AS id,
    ${dCosine("qe", "e")} AS score
  FROM c JOIN qp ON c.cell = qp.probe AND c.vec_id != qp.query_id),
r AS (
  SELECT query_id, id, score,
    row_number() OVER (PARTITION BY query_id
      ORDER BY score DESC, id) AS rk
  FROM scored)
SELECT query_id, CAST(rk AS BIGINT) AS rank, id AS neighbor_id,
  ROUND(score, 6) AS cosine
FROM r WHERE rk <= $IvfK"""
  }

  private def recallOracle: String = {
    def rec(method: String, cte: String, lead: String) =
      s"""${lead}SELECT '$method' AS method,
         |    (SELECT COUNT(*) FROM ex) AS n_exact,
         |    (SELECT COUNT(*) FROM ex JOIN $cte
         |       ON ex.query_id = $cte.query_id
         |      AND ex.neighbor_id = $cte.neighbor_id) AS n_hit""".stripMargin
    s"""WITH ex AS (SELECT query_id, neighbor_id FROM (
${bruteForceOracle(IvfK)})),
lsh AS (SELECT query_id, neighbor_id FROM (
$annOracle)),
lshm AS (SELECT query_id, neighbor_id FROM (
$annMultiProbeOracle)),
ivf AS (SELECT query_id, neighbor_id FROM (
$ivfOracle)),
ivfm AS (SELECT query_id, neighbor_id FROM (
$ivfMultiProbeOracle)),
ivfpq AS (SELECT query_id, neighbor_id FROM (
$ivfPqOracle)),
rec AS (
${rec("ivf", "ivf", "  ")}
${rec("ivf_multiprobe", "ivfm", "  UNION ALL ")}
${rec("ivf_pq", "ivfpq", "  UNION ALL ")}
${rec("lsh", "lsh", "  UNION ALL ")}
${rec("lsh_multiprobe", "lshm", "  UNION ALL ")})
SELECT method, CAST(n_exact AS BIGINT) AS n_exact,
  CAST(n_hit AS BIGINT) AS n_hit,
  ROUND(CAST(n_hit AS DOUBLE) / n_exact, 6) AS recall
FROM rec"""
  }

  /** One recall row for an ANN leg: `n_exact` exact top-k pairs,
    * `n_hit` of them the leg's `approx` (query_id, neighbor_id) pairs
    * also return, and `recall` = n_hit / n_exact rounded to 6. */
  private[queries] def recallLeg(exact: DataFrame)(method: String,
      approx: DataFrame): DataFrame = {
    val hit = exact.join(approx.select("query_id", "neighbor_id"),
      Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    exact.agg(count(lit(1)).as("n_exact")).crossJoin(hit)
      .select(lit(method).as("method"), col("n_exact"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_exact"), 6)
          .as("recall"))
  }

  /** ANN retrieval-quality measurement: recall@$IvfK of each
    * approximate method (single- and multi-probe LSH and IVF) against
    * the exact brute-force top-k — the number a production ANN needs
    * before anyone trusts it at scale. Both sides are deterministic
    * hash-verified pipelines, so recall itself is oracle-checkable; the
    * multi-probe rows demonstrate the recall lever (more probes →
    * strictly more candidates → recall never decreases). The ivf_pq row
    * measures the compression cost: with hash-derived (untrained)
    * codebooks it is deliberately the floor — a trained codebook raises
    * recall without changing the plan shape, and the measurement is the
    * point. */
  val q53 = Query("q53_ann_recall", recallOracle) { (s, dir) =>
    import graft.operators.InternalCache
    val v = Tables.embeddings(s, dir)
    val q = v.filter(col("vec_id") % TopkEvery === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val exact = InternalCache.persist(
      bruteForceShared(s, dir)
        .filter(col("rank") <= IvfK)
        .select("query_id", "neighbor_id"))
    val leg = recallLeg(exact) _
    leg("ivf", ivfShared(s, dir))
      .unionByName(leg("ivf_multiprobe",
        Similarity.ivfTopK(v, "vec_id", "embedding",
          q, "query_id", "qvec", IvfK, IvfCells, AnnDims, nProbe = 2)))
      .unionByName(leg("ivf_pq", ivfPqShared(s, dir)))
      .unionByName(leg("lsh", lshShared(s, dir)))
      .unionByName(leg("lsh_multiprobe",
        Similarity.probeTopK(v, "vec_id", "embedding",
          Similarity.lshBucket(col("embedding"), AnnPlanes, AnnDims),
          q.withColumn("__qb",
            Similarity.lshBucket(col("qvec"), AnnPlanes, AnnDims)),
          "query_id", "qvec", array(col("__qb") +: (0 until AnnPlanes)
            .map(p => col("__qb").bitwiseXOR(lit(1L << p))): _*), AnnK)))
  }

  // ------------------------------------------------------------ q254

  /** Filtered-search candidate predicate: labels below this value
    * (≈ 31% of the corpus at the generator's uniform 0-9 labels), so
    * post-filtering visibly starves while the filter is not so narrow
    * that every method collapses to the same tiny candidate set. */
  private[queries] val FannLabelMax = 3

  /** DuckDB: the three filtered-IVF strategies plus the exact filtered
    * baseline, each ending in (query_id, neighbor_id) pairs, folded
    * into the q53 recall shape. `c` carries the full corpus with its
    * argmax cell (q49's assignment, label retained); `f` is the
    * filtered candidate set; probe 2 re-runs the argmax with probe 1
    * masked — the second probe of `Similarity.ivfProbes`. */
  private def filteredRecallOracle: String = {
    val dotCols = dIvfDotCols
    val p0Case = ivfChainCase(i => s"d$i")
    val p1Case = ivfChainCase(i => s"(CASE WHEN p0 = $i THEN -1e308 ELSE d$i END)")
    val dList = (0 until IvfCells).map(i => s"d$i").mkString(", ")
    def topk(from: String) =
      s"""SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, id AS neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, id) AS rk
         |  FROM ($from)) WHERE rk <= $IvfK""".stripMargin
    def rec(method: String, cte: String, lead: String) =
      s"""${lead}SELECT '$method' AS method,
         |    (SELECT COUNT(*) FROM ex) AS n_exact,
         |    (SELECT COUNT(*) FROM ex JOIN $cte
         |       ON ex.query_id = $cte.query_id
         |      AND ex.neighbor_id = $cte.neighbor_id) AS n_hit""".stripMargin
    s"""WITH v AS (
  SELECT vec_id, label, [x::DOUBLE for x in embedding] AS e
  FROM embeddings),
b AS (
  SELECT vec_id, label, e,
    $dotCols
  FROM v),
c AS (
  SELECT vec_id, label, e, $dList,
    CASE $p0Case
         ELSE ${IvfCells - 1} END AS cell
  FROM b),
q0 AS (
  SELECT query_id, qe, p0,
    CASE $p1Case
         ELSE ${IvfCells - 1} END AS p1
  FROM (SELECT vec_id AS query_id, e AS qe, cell AS p0, $dList
        FROM c WHERE vec_id % $TopkEvery = 0)),
f AS (
  SELECT vec_id, e, cell FROM c WHERE label < $FannLabelMax),
ex AS (
${topk(s"""SELECT q0.query_id, f.vec_id AS id, ${dCosine("qe", "e")} AS score
FROM f, q0 WHERE f.vec_id != q0.query_id""")}),
pre1 AS (
${topk(s"""SELECT q0.query_id, f.vec_id AS id, ${dCosine("qe", "e")} AS score
FROM f JOIN q0 ON f.cell = q0.p0 AND f.vec_id != q0.query_id""")}),
pre2 AS (
${topk(s"""SELECT qp.query_id, f.vec_id AS id, ${dCosine("qe", "e")} AS score
FROM f JOIN (SELECT query_id, qe, unnest([p0, p1]) AS probe FROM q0) qp
  ON f.cell = qp.probe AND f.vec_id != qp.query_id""")}),
post AS (
  SELECT r.query_id, r.neighbor_id
  FROM (${topk(s"""SELECT q0.query_id, c.vec_id AS id,
  ${dCosine("qe", "e")} AS score
FROM c JOIN q0 ON c.cell = q0.p0 AND c.vec_id != q0.query_id""")}) r
  JOIN v ON v.vec_id = r.neighbor_id
  WHERE v.label < $FannLabelMax),
rec AS (
${rec("ivf_postfilter", "post", "  ")}
${rec("ivf_prefilter", "pre1", "  UNION ALL ")}
${rec("ivf_prefilter_p2", "pre2", "  UNION ALL ")})
SELECT method, CAST(n_exact AS BIGINT) AS n_exact,
  CAST(n_hit AS BIGINT) AS n_hit,
  ROUND(CAST(n_hit AS DOUBLE) / n_exact, 6) AS recall
FROM rec"""
  }

  /** FILTERED vector search — the metadata-constrained ANN every
    * retrieval deployment eventually needs ("nearest neighbors WHERE
    * lang = X / license = Y"), measured the only way that settles the
    * strategy argument: recall@[[IvfK]] of each filtering strategy
    * against the exact brute-force top-k over the FILTERED candidates.
    *
    *  - `ivf_postfilter`: search the unfiltered index (q49's shared
    *    result), then drop non-matching neighbors — the naive overlay.
    *    Its rank slots were consumed by now-discarded candidates, so
    *    at selectivity s it converges to ≈ s · ivf recall; at 100 TB
    *    this strategy silently returns near-empty result sets for
    *    narrow filters.
    *  - `ivf_prefilter`: restrict candidates BEFORE the cell join
    *    (same hash-derived cells — assignment is data-independent, so
    *    the filtered corpus bins identically). At scale this is a
    *    partition-pruned scan of the filter's postings only.
    *  - `ivf_prefilter_p2`: pre-filter + 2-probe over-probing — the
    *    standard compensation for filter-thinned cells (a filtered
    *    cell holds ~s·|cell| candidates, so a boundary query's true
    *    neighbors sit one cell over more often); recall is never below
    *    single-probe's by construction (strictly more candidates).
    *
    * The three recall rows ARE the capability: they quantify, on the
    * same corpus and filter, why a production filtered-ANN serves
    * pre-filtered partition-pruned postings with an over-probe knob
    * rather than post-filtering a global search. */
  val q254 = Query("q254_filtered_ann_recall", filteredRecallOracle) {
    (s, dir) =>
    import graft.operators.InternalCache
    val v = Tables.embeddings(s, dir)
    val cand = v.filter(col("label") < FannLabelMax)
    val q = v.filter(col("vec_id") % TopkEvery === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val exact = InternalCache.persist(
      Similarity.bruteForceTopK(cand, "vec_id", "embedding",
          q, "query_id", "qvec", IvfK)
        .select("query_id", "neighbor_id"))
    val leg = recallLeg(exact) _
    val post = ivfShared(s, dir)
      .join(v.select(col("vec_id").as("neighbor_id"), col("label")),
        Seq("neighbor_id"))
      .filter(col("label") < FannLabelMax)
    leg("ivf_postfilter", post)
      .unionByName(leg("ivf_prefilter",
        Similarity.ivfTopK(cand, "vec_id", "embedding",
          q, "query_id", "qvec", IvfK, IvfCells, AnnDims)))
      .unionByName(leg("ivf_prefilter_p2",
        Similarity.ivfTopK(cand, "vec_id", "embedding",
          q, "query_id", "qvec", IvfK, IvfCells, AnnDims, nProbe = 2)))
  }

  // ------------------------------------------------------------ q55

  private[queries] val DcN = 3  // decontamination shingle width (words)
  private[queries] val DcMinShared = 2
  private[queries] val DcProbeEvery = 20

  /** DuckDB full query: contamination pairs (corpus doc × probe with
    * ≥ [[DcMinShared]] shared word [[DcN]]-grams) — shared by q55's
    * summary and q85's manifest so the two cannot drift. */
  private[queries] def dContamPairs: String =
    s"""WITH toks AS (
       |  SELECT doc_id, $DTokens AS w FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |    list_distinct([array_to_string(list_slice(w, i, i + ${DcN - 1}), ' ')
       |                   for i in range(1, len(w) - ${DcN - 2})]) AS s
       |  FROM toks WHERE len(w) >= $DcN),
       |pg AS (
       |  SELECT doc_id AS probe_id, unnest(s) AS gram FROM sh
       |  WHERE doc_id % $DcProbeEvery = 0),
       |cg AS (SELECT doc_id, unnest(s) AS gram FROM sh)
       |SELECT cg.doc_id, pg.probe_id, COUNT(*) AS n_shared
       |FROM cg JOIN pg USING (gram) WHERE cg.doc_id != pg.probe_id
       |GROUP BY 1, 2 HAVING COUNT(*) >= $DcMinShared""".stripMargin

  /** Benchmark decontamination (the training-data op that keeps eval
    * sets out of the corpus): docs with doc_id % 20 = 0 stand in for
    * the benchmark set; corpus docs sharing ≥ 3 word 5-grams with any
    * probe are flagged. The probe gram set is BROADCAST — the corpus
    * is scanned once and never shuffled for candidates (asymmetric
    * counterpart to the symmetric inverted-index dedup shapes). */
  /** The verified contamination pair set — SHARED: q55 summarizes it,
    * q85's manifest flags its corpus docs. */
  private[queries] def contamPairsShared(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    SharedFrames.getOrBuild(SharedFrames.key(s, dir, "contam_pairs",
        s"$DcN:$DcMinShared:$DcProbeEvery")) {
      val docs = Tables.documents(s, dir)
      val probes = docs.filter(col("doc_id") % DcProbeEvery === 0)
      TextDedup.contaminationPairs(docs, "doc_id", "text", probes,
        "doc_id", "text", DcN, DcMinShared)
    }

  val q55 = Query(
    "q55_decontamination",
    s"""WITH p AS (
       |$dContamPairs)
       |SELECT
       |  CAST((SELECT COUNT(*) FROM documents
       |         WHERE doc_id % $DcProbeEvery = 0) AS BIGINT) AS n_probes,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_contaminated_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(COALESCE(MAX(n_shared), 0) AS BIGINT) AS max_shared
       |FROM p""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val probes = docs.filter(col("doc_id") % DcProbeEvery === 0)
    val pairs = contamPairsShared(s, dir)
    probes.agg(count(lit(1)).as("n_probes"))
      .crossJoin(pairs.agg(
        countDistinct(col("doc_id")).as("n_contaminated_docs"),
        count(lit(1)).as("n_pairs"),
        coalesce(max(col("n_shared")), lit(0L)).as("max_shared")))
  }

  // ------------------------------------------------------------ q56

  /** Deterministic content-hash train/val split: a doc's split is a
    * pure function of its TEXT (portable md5), so the assignment is
    * reproducible across runs, engines, and ingestion order — the
    * property a production split needs (row-number or rand() splits
    * are neither). 90/10 by hash mod 100. */
  val q56 = Query(
    "q56_hash_split",
    s"""SELECT lang,
       |  CASE WHEN ${dHash64("text")} % 100 < 90
       |       THEN 'train' ELSE 'val' END AS split,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(len(regexp_extract_all(text, '$BpeishPattern')))
       |    AS BIGINT) AS total_bpeish_tokens
       |FROM documents GROUP BY lang, split""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .withColumn("split",
        when(md5Long(col("text")) % 100 < 90, "train").otherwise("val"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(bpeishTokenCount(col("text"))).cast("long")
          .as("total_bpeish_tokens"))
  }

  // ------------------------------------------------------------ q60

  private val MixRates = Seq("en" -> 0.5, "de" -> 1.0, "es" -> 0.25,
    "fr" -> 1.0, "zh" -> 0.1)

  /** Deterministic stratified sampling — the data-MIXING op of a
    * training run (per-language mixture weights): a doc is kept iff
    * `hash(text) mod 10000 < rate·10000`, so the sample is a pure
    * function of content + rate. Unlike `df.sample`/`sampleBy`
    * (RNG-based, partition-order-dependent, not reproducible across
    * engines), this draws the SAME sample on every run, engine, and
    * ingestion order — and the oracle proves it by replaying it. */
  val q60 = Query(
    "q60_mix_sample",
    s"""WITH d AS (
       |  SELECT lang,
       |    (${dHash64("text")} % 10000) <
       |      CASE lang ${MixRates.map { case (l, r) =>
                s"WHEN '$l' THEN ${(r * 10000).toInt}"
              }.mkString(" ")} ELSE 0 END AS kept
       |  FROM documents)
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_sampled
       |FROM d GROUP BY lang""".stripMargin) { (s, dir) =>
    val cut = MixRates.foldLeft(lit(0)) { case (acc, (l, r)) =>
      when(col("lang") === l, lit((r * 10000).toInt)).otherwise(acc)
    }
    Tables.documents(s, dir)
      .withColumn("kept", pmod(md5Long(col("text")), lit(10000)) < cut)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1).otherwise(0)).cast("long")
          .as("n_sampled"))
  }

  // ------------------------------------------------------------ q57

  /** End-to-end training-mix curation — the composed corpus pipeline a
    * real data run executes: near-dup removal (SimHash clusters keep
    * their min-id representative) THEN quality filtering (q28's score,
    * cut at 0.5), reported per language with kept-token totals.
    * Precedence is deterministic: near-dup beats low-quality. */
  val q57 = Query(
    "q57_training_mix",
    s"""WITH t AS (
       |  SELECT doc_id, lang, text, $DTokens AS w, length(text) AS chars,
       |    length(text) -
       |      length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS punct
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, lang, text, len(w) AS tok, ${dHits(StopEn)}
       |    AS stop_hits, chars, punct
       |  FROM t),
       |sc AS (
       |  SELECT doc_id, lang, text,
       |    0.3 * least(tok / 50.0, 1.0) +
       |    0.3 * (stop_hits::DOUBLE / tok) +
       |    0.2 * (1.0 - least(10.0 * punct / greatest(chars, 1), 1.0)) +
       |    0.2 * least(chars::DOUBLE / tok / 8.0, 1.0) AS score
       |  FROM f),
       |clusters AS (
       |${componentsOracle(simhashOracleH(ShRemoveHamming))}),
       |removed AS (
       |  SELECT doc_id FROM clusters WHERE doc_id != cluster_id),
       |cat AS (
       |  SELECT sc.lang, sc.text,
       |    CASE WHEN r.doc_id IS NOT NULL THEN 'near_dup'
       |         WHEN sc.score < 0.5 THEN 'low_quality'
       |         ELSE 'kept' END AS category
       |  FROM sc LEFT JOIN removed r ON sc.doc_id = r.doc_id)
       |SELECT lang,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN category = 'near_dup' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_near_dup,
       |  CAST(SUM(CASE WHEN category = 'low_quality' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_low_quality,
       |  CAST(SUM(CASE WHEN category = 'kept' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN category = 'kept'
       |    THEN len(regexp_extract_all(text, '$BpeishPattern'))
       |    ELSE 0 END) AS BIGINT) AS kept_tokens
       |FROM cat GROUP BY lang""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val w = tokens(col("text"))
    val f = docs.select(col("doc_id"), col("lang"), col("text"),
      size(w).as("tok"), tokenHits(w, StopEn).as("stop_hits"),
      length(col("text")).as("chars"), punctChars(col("text")).as("punct"))
    val sc = f.select(col("doc_id"), col("lang"), col("text"),
      (lit(0.3) * least(col("tok") / 50.0, lit(1.0)) +
        lit(0.3) * (col("stop_hits").cast("double") / col("tok")) +
        lit(0.2) * (lit(1.0) -
          least(lit(10.0) * col("punct") / greatest(col("chars"), lit(1)),
            lit(1.0))) +
        lit(0.2) * least(col("chars").cast("double") / col("tok") / 8.0,
          lit(1.0))).as("score"))
    val removed = simhashRemovedShared(s, dir)
      .select(col("doc_id"), lit(1).as("__rm"))
    sc.join(removed, Seq("doc_id"), "left")
      .withColumn("category",
        when(col("__rm").isNotNull, "near_dup")
          .when(col("score") < 0.5, "low_quality")
          .otherwise("kept"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("category") === "near_dup", 1).otherwise(0))
          .cast("long").as("n_near_dup"),
        sum(when(col("category") === "low_quality", 1).otherwise(0))
          .cast("long").as("n_low_quality"),
        sum(when(col("category") === "kept", 1).otherwise(0))
          .cast("long").as("n_kept"),
        sum(when(col("category") === "kept", bpeishTokenCount(col("text")))
          .otherwise(0)).cast("long").as("kept_tokens"))
  }

  // ------------------------------------------------------------ q96

  /** Signature-only dup-rate estimation: per-band bucket-occupancy
    * statistics of the banded minhash index — the cost/selectivity
    * estimate to run BEFORE committing to the candidate pair join at
    * 100 TB. `collision_pairs` (Σ n·(n−1)/2 over buckets) is exactly
    * the number of within-bucket pairs q23's join would generate in
    * that band (before cross-band dedup), and `max_bucket` exposes hot
    * buckets (the skew guard). Everything is an integer aggregate over
    * the (doc × bands)-row frame — the shingle sets never leave the
    * signature stage and the pair join never runs. */
  val q96 = Query(
    "q96_dup_rate_estimate",
    s"""$minhashBandsCtes,
g AS (
  SELECT band_id, band_key, COUNT(*) AS n FROM bands GROUP BY 1, 2)
SELECT band_id,
  CAST(SUM(n) AS BIGINT) AS n_docs,
  CAST(COUNT(*) AS BIGINT) AS n_buckets,
  CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_multi_buckets,
  CAST(MAX(n) AS BIGINT) AS max_bucket,
  CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS collision_pairs
FROM g GROUP BY band_id""") { (s, dir) =>
    val rows = TextDedup.docShingleRows(Tables.documents(s, dir),
      "doc_id", "text", MhShingle)
    val signed = TextDedup.minhashSignatures(rows, MhHashes)
    val g = TextDedup.lshBandRows(signed, MhBands, MhHashes / MhBands)
      .groupBy(col("band_id"), col("band_key"))
      .agg(count(lit(1)).as("n"))
    g.groupBy(col("band_id"))
      .agg(sum(col("n")).cast("long").as("n_docs"),
        count(lit(1)).as("n_buckets"),
        sum(when(col("n") > 1, 1).otherwise(0)).cast("long")
          .as("n_multi_buckets"),
        max(col("n")).cast("long").as("max_bucket"),
        sum((col("n") * (col("n") - 1) / 2).cast("long")).cast("long")
          .as("collision_pairs"))
  }

  // ------------------------------------------------------------ q97

  /** Verified-Jaccard histogram over ALL candidate pairs (threshold 0):
    * the threshold-tuning table — where q23's 0.5 cutoff actually
    * lands in the candidate similarity distribution. Zero-overlap
    * candidates (possible only via full-band hash collisions) have no
    * shared-gram rows and are excluded on both engines (`j > 0`).
    * Buckets compare the 6-dp ROUNDED Jaccard on both sides, so bucket
    * boundaries are engine-exact. Costs one unthresholded verify pass
    * over the same bucket-bounded candidates as q23 — nothing here is
    * corpus-quadratic. */
  val q97 = Query(
    "q97_jaccard_histogram",
    s"""${minhashJacCtes("AND a.doc_id < b.doc_id")},
h AS (
  SELECT CAST(floor(ROUND(j, 6) * 10) AS BIGINT) AS bucket,
    ROUND(j, 6) AS jr
  FROM jac WHERE j > 0)
SELECT bucket,
  CAST(COUNT(*) AS BIGINT) AS n_pairs,
  ROUND(AVG(jr), 6) AS avg_jaccard,
  ROUND(MIN(jr), 6) AS min_jaccard,
  ROUND(MAX(jr), 6) AS max_jaccard
FROM h GROUP BY bucket""") { (s, dir) =>
    minhashPairsAllShared(s, dir)
      .select(floor(col("jaccard") * 10).cast("long").as("bucket"),
        col("jaccard").as("jr"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col("jr")), 6).as("avg_jaccard"),
        round(min(col("jr")), 6).as("min_jaccard"),
        round(max(col("jr")), 6).as("max_jaccard"))
  }

  // ------------------------------------------------------------ q98

  /** Near-dup cluster-size histogram: how big the duplicate groups
    * are (the dedup-impact profile — `n_removable` per size row is the
    * exact row count q54's keep-one-per-cluster pass deletes). Sizes
    * come from the SHARED component labels (built once, q48/q85/q92
    * reuse them); docs outside the pair graph are the size-1 row via
    * one anti-join against the label set (near-dup docs only, the same
    * bounded shape q85 uses). Pure integer aggregates. */
  val q98 = Query(
    "q98_cluster_size_histogram",
    s"""WITH cl AS (
       |${componentsOracle(minhashOracle)}),
       |s AS (SELECT cluster_id, COUNT(*) AS sz FROM cl GROUP BY 1),
       |h AS (
       |  SELECT sz, COUNT(*) AS n_clusters FROM s GROUP BY 1
       |  UNION ALL
       |  SELECT 1, (SELECT COUNT(*) FROM documents) -
       |    (SELECT COUNT(*) FROM cl))
       |SELECT CAST(sz AS BIGINT) AS cluster_size,
       |  CAST(n_clusters AS BIGINT) AS n_clusters,
       |  CAST(sz * n_clusters AS BIGINT) AS n_docs,
       |  CAST((sz - 1) * n_clusters AS BIGINT) AS n_removable
       |FROM h WHERE n_clusters > 0""".stripMargin) { (s, dir) =>
    val cl = minhashClustersShared(s, dir)
    val multi = cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
    val singles = Tables.documents(s, dir).select(col("doc_id"))
      .join(cl.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_clusters"))
      .select(lit(1L).as("sz"), col("n_clusters"))
    multi.unionByName(singles)
      .filter(col("n_clusters") > 0)
      .select(col("sz").cast("long").as("cluster_size"),
        col("n_clusters").cast("long").as("n_clusters"),
        (col("sz") * col("n_clusters")).cast("long").as("n_docs"),
        ((col("sz") - 1) * col("n_clusters")).cast("long").as("n_removable"))
  }

  // ------------------------------------------------------------ q128

  /** Exact set-similarity self-join via PPJoin-style prefix filtering
    * ([[TextDedup.prefixFilterPairs]]): shingle-set Jaccard ≥ 0.5
    * pairs (q23's EXACT ground truth) found through the LOSSLESS
    * prefix filter — candidates must share a shingle among each doc's
    * rarest-first prefix — then verified exactly. Complements q23
    * (probabilistic LSH recall — q128 ⊇ q23's pairs by construction)
    * and q26 (df-capped index, bounded-but-lossy): this one is exact
    * AND bounded. The oracle replays the identical pipeline — the
    * global (df, shingle) canonical order, the integer prefix length,
    * the posting join, the verify. */
  private def prefixOracle: String =
    s"""WITH tw AS (
       |  SELECT doc_id, $DTokens AS w FROM documents),
       |toks AS (
       |  SELECT doc_id,
       |    list_distinct([${dHash64(
              "array_to_string(list_slice(w, i, i + 2), ' ')")}
       |                   for i in range(1, len(w) - 1)]) AS t
       |  FROM tw WHERE len(w) >= 3),
       |tok_rows AS (SELECT doc_id, UNNEST(t) AS w FROM toks),
       |dfc AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS dfw
       |  FROM tok_rows GROUP BY 1),
       |lists AS (
       |  SELECT doc_id,
       |    list({'dfw': dfw, 'w': w} ORDER BY dfw, w) AS lst
       |  FROM tok_rows JOIN dfc USING (w) GROUP BY doc_id),
       |pr AS (
       |  SELECT doc_id, u.w AS w FROM (
       |    SELECT doc_id,
       |      UNNEST(list_slice(lst, 1,
       |        len(lst) - ((len(lst) + 1) // 2) + 1)) AS u
       |    FROM lists)
       |  WHERE u.dfw >= 2),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM pr a JOIN pr b ON a.w = b.w AND a.doc_id < b.doc_id),
       |sz AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
       |  FROM tok_rows GROUP BY 1),
       |ovl AS (
       |  SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS ovl
       |  FROM cand c
       |  JOIN tok_rows ra ON ra.doc_id = c.doc_a
       |  JOIN tok_rows rb ON rb.doc_id = c.doc_b AND rb.w = ra.w
       |  GROUP BY 1, 2)
       |SELECT o.doc_a, o.doc_b,
       |  ROUND(o.ovl::DOUBLE / (sa.sz + sb.sz - o.ovl)::DOUBLE, 6)
       |    AS jaccard
       |FROM ovl o
       |JOIN sz sa ON sa.doc_id = o.doc_a
       |JOIN sz sb ON sb.doc_id = o.doc_b
       |WHERE o.ovl::DOUBLE / (sa.sz + sb.sz - o.ovl)::DOUBLE
       |  >= 0.5""".stripMargin

  val q128 = Query("q128_prefix_filter_join", prefixOracle) { (s, dir) =>
    prefixPairsShared(s, dir)
  }

  /** Shared EXACT shingle-Jaccard pair frame (q128 + q134's ground
    * truth). */
  private[queries] def prefixPairsShared(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    SharedFrames.getOrBuild(SharedFrames.key(s, dir, "prefix_pairs",
        s"$MhShingle:0.5")) {
      TextDedup.prefixFilterPairs(Tables.documents(s, dir), "doc_id",
        "text", MhShingle, 0.5)
    }

  // ------------------------------------------------------------ q134

  /** The text-dedup quality panel: measured recall AND precision of
    * every approximate near-dup method against the EXACT shingle-set
    * Jaccard ≥ 0.5 ground truth q128 computes (the q53 pattern — the
    * measured-retrieval-quality number — applied to text dedup). `lsh`
    * (q23) verifies true Jaccard on its candidates, so its precision
    * is 1.0 by construction and its row measures pure LSH candidate
    * recall; `simhash` (q25) and `char_ngram` (q26) match on DIFFERENT
    * similarity criteria (fingerprint Hamming, df-capped char-gram
    * Jaccard), so both their recall and precision against the
    * word-shingle truth are informative. All counts ride the SHARED
    * pair frames — the panel adds zero new pipeline builds to a sweep.
    * Each method's oracle pair set is its own already-proven query,
    * composed as nested-WITH CTEs. */
  val q134 = Query(
    "q134_dedup_method_recall", {
      def leg(name: String, cte: String) =
        s"""SELECT '$name' AS method,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $cte) AS n_method,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ex) AS n_exact,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $cte m
           |     JOIN ex ON m.doc_a = ex.doc_a AND m.doc_b = ex.doc_b)
           |    AS n_hit,
           |  round((SELECT COUNT(*) FROM $cte m JOIN ex
           |      ON m.doc_a = ex.doc_a AND m.doc_b = ex.doc_b)::DOUBLE
           |    / (SELECT COUNT(*) FROM ex)::DOUBLE, 6) AS recall,
           |  round((SELECT COUNT(*) FROM $cte m JOIN ex
           |      ON m.doc_a = ex.doc_a AND m.doc_b = ex.doc_b)::DOUBLE
           |    / (SELECT COUNT(*) FROM $cte)::DOUBLE, 6)
           |    AS precision""".stripMargin
      s"""WITH ex AS ($prefixOracle),
         |lsh AS ($minhashOracle),
         |sim AS ($simhashOracle),
         |ng AS ($ngramOracle)
         |${leg("lsh", "lsh")}
         |UNION ALL
         |${leg("simhash", "sim")}
         |UNION ALL
         |${leg("char_ngram", "ng")}""".stripMargin
    }) { (s, dir) =>
    val ex = prefixPairsShared(s, dir).select(col("doc_a"), col("doc_b"))
    def leg(name: String, m: org.apache.spark.sql.DataFrame) = {
      val mm = m.select(col("doc_a"), col("doc_b"))
      val nM = mm.agg(count(lit(1)).as("n_method"))
      val nE = ex.agg(count(lit(1)).as("n_exact"))
      val nH = mm.join(ex, Seq("doc_a", "doc_b"))
        .agg(count(lit(1)).as("n_hit"))
      nM.crossJoin(nE).crossJoin(nH)
        .select(lit(name).as("method"), col("n_method"), col("n_exact"),
          col("n_hit"),
          round(col("n_hit").cast("double") /
            col("n_exact").cast("double"), 6).as("recall"),
          round(col("n_hit").cast("double") /
            col("n_method").cast("double"), 6).as("precision"))
    }
    leg("lsh", minhashPairsShared(s, dir))
      .unionByName(leg("simhash", simhashPairsShared(s, dir)))
      .unionByName(leg("char_ngram", ngramPairsShared(s, dir)))
  }

  // ------------------------------------------------------------ q164

  private val PmiMinCount = 5
  private val PmiTopK = 20

  /** Pointwise-mutual-information collocations — the statistically
    * bound phrases ("new york"-style) a tokenizer or phrase-mining
    * pass wants, beyond q80's raw document-frequency boilerplate.
    * Bigram and unigram counts are exact multiplicity-preserving
    * corpus sums (one shuffle each, map-side combinable); PMI is ONE
    * ln of an explicitly parenthesized double product/quotient of
    * exact integers — identical IEEE tree in both engines, rounded
    * 6 dp. Top-k by (PMI, bigram) through the distributed rank; the
    * min-count floor keeps the rare-pair PMI pathology out. */
  val q164 = Query(
    "q164_pmi_collocations",
    s"""WITH toks AS (SELECT $DTokens AS w FROM documents),
       |bi AS (
       |  SELECT unnest([array_to_string(list_slice(w, i, i + 1), ' ')
       |                 for i in range(1, len(w))]) AS bigram
       |  FROM toks WHERE len(w) >= 2),
       |bc AS (
       |  SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c_ab
       |  FROM bi GROUP BY 1),
       |tb AS (SELECT SUM(c_ab) AS tb FROM bc),
       |un AS (SELECT unnest(w) AS word FROM toks),
       |uc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM un GROUP BY 1),
       |tu AS (SELECT SUM(c) AS tu FROM uc),
       |p AS (
       |  SELECT bigram, c_ab,
       |    round(ln(((CAST(c_ab AS DOUBLE) * tu) * tu)
       |      / ((CAST(tb AS DOUBLE) * ca.c) * cb.c)), 6) AS pmi
       |  FROM bc
       |  JOIN uc ca ON ca.word = string_split(bigram, ' ')[1]
       |  JOIN uc cb ON cb.word = string_split(bigram, ' ')[2]
       |  CROSS JOIN tb CROSS JOIN tu
       |  WHERE c_ab >= $PmiMinCount),
       |r AS (
       |  SELECT *, row_number() OVER (ORDER BY pmi DESC, bigram) AS rnk
       |  FROM p)
       |SELECT CAST(rnk AS BIGINT) AS rnk, bigram, c_ab, pmi
       |FROM r WHERE rnk <= $PmiTopK""".stripMargin) { (s, dir) =>
    import graft.operators.{Ranking, TextDedup}
    val docs = Tables.documents(s, dir)
    val bc = TextDedup
      .docShingleRows(docs, "doc_id", "text", 2, distinctGrams = false)
      .groupBy(col("g").as("bigram"))
      .agg(count(lit(1)).as("c_ab"))
    val uc = TextDedup
      .docShingleRows(docs, "doc_id", "text", 1, distinctGrams = false)
      .groupBy(col("g").as("word"))
      .agg(count(lit(1)).as("c"))
    val tb = bc.agg(sum(col("c_ab")).as("tb"))
    val tu = uc.agg(sum(col("c")).as("tu"))
    val scored = bc.filter(col("c_ab") >= PmiMinCount)
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
      .join(uc.select(col("word").as("w1"), col("c").as("c_a")), Seq("w1"))
      .join(uc.select(col("word").as("w2"), col("c").as("c_b")), Seq("w2"))
      .crossJoin(broadcast(tb)).crossJoin(broadcast(tu))
      .select(col("bigram"), col("c_ab"),
        round(log(((col("c_ab").cast("double") * col("tu")) * col("tu")) /
          ((col("tb").cast("double") * col("c_a")) * col("c_b"))), 6)
          .as("pmi"))
    Ranking.withGlobalRank(scored,
        struct((col("pmi") * -1).as("np"), col("bigram").as("bg")).asc,
        "rnk")
      .filter(col("rnk") <= PmiTopK)
      .select(col("rnk"), col("bigram"), col("c_ab"), col("pmi"))
  }

  // ------------------------------------------------------------ q205

  /** Rank-discount constants for nDCG@[[IvfK]]: `round(1e9 / log2(i+1))`
    * computed ONCE in Scala and embedded as integer literals in both
    * engines — no cross-engine libm at runtime (log2 of a small
    * constant is the only transcendental, and it is frozen here). */
  private val NdcgD: Seq[Long] = (1 to IvfK).map(i =>
    math.round(1.0e9 / (math.log(i + 1.0) / math.log(2.0))))
  private val NdcgP: Seq[Long] = NdcgD.scanLeft(0L)(_ + _).tail

  /** nDCG@[[IvfK]] of the IVF ANN ranking (the q49/q53 shared result)
    * against same-label-as-query graded relevance — the ORDER-aware
    * retrieval-quality metric beside q53's set-based recall: recall
    * asks "did the right things come back", nDCG asks "were they
    * ranked first". Per-query DCG is an exact integer sum (relevance ×
    * the frozen integer discounts), ideal DCG is a prefix-sum lookup
    * on the relevant-count, and the single double division closes at
    * 6 dp. Queries whose probed cell returned nothing are absent in
    * both engines; zero-relevance queries report NULL nDCG (0/0 is
    * pinned, the q138 gcc discipline). */
  val q205 = Query(
    "q205_ndcg_eval", {
      val dCase = (1 to IvfK).map(i =>
        s"WHEN rank = $i THEN ${NdcgD(i - 1)}").mkString(" ")
      val pCase = (IvfK to 1 by -1).map(i =>
        s"WHEN nrel >= $i THEN ${NdcgP(i - 1)}").mkString(" ")
      s"""WITH r AS (
         |  SELECT * FROM (
         |$ivfOracle) t),
         |lab AS (SELECT vec_id, label FROM embeddings),
         |x AS (
         |  SELECT r.query_id, r.rank,
         |    CASE WHEN lq.label = ln.label THEN 1 ELSE 0 END AS rel
         |  FROM r
         |  JOIN lab lq ON lq.vec_id = r.query_id
         |  JOIN lab ln ON ln.vec_id = r.neighbor_id),
         |g AS (
         |  SELECT query_id,
         |    CAST(SUM(rel * CASE $dCase ELSE 0 END) AS BIGINT) AS dcg_p,
         |    CAST(SUM(rel) AS BIGINT) AS nrel
         |  FROM x GROUP BY 1),
         |f AS (
         |  SELECT query_id, nrel, dcg_p,
         |    CAST(CASE $pCase ELSE 0 END AS BIGINT) AS idcg_p
         |  FROM g)
         |SELECT query_id, nrel AS n_rel, dcg_p,
         |  CASE WHEN idcg_p > 0 THEN
         |    ROUND(CAST(dcg_p AS DOUBLE) / CAST(idcg_p AS DOUBLE), 6)
         |  END AS ndcg
         |FROM f""".stripMargin
    }) { (s, dir) =>
    val lab = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
    val x = ivfShared(s, dir)
      .join(broadcast(lab.select(col("vec_id").as("query_id"),
        col("label").as("ql"))), Seq("query_id"))
      .join(broadcast(lab.select(col("vec_id").as("neighbor_id"),
        col("label").as("nl"))), Seq("neighbor_id"))
      .select(col("query_id"), col("rank"),
        when(col("ql") === col("nl"), 1L).otherwise(0L).as("rel"))
    var dCol: org.apache.spark.sql.Column = lit(0L)
    for (i <- 1 to IvfK)
      dCol = when(col("rank") === i, lit(NdcgD(i - 1))).otherwise(dCol)
    val g = x.groupBy(col("query_id"))
      .agg(sum(col("rel") * dCol).as("dcg_p"), sum(col("rel")).as("nrel"))
    var pCol: org.apache.spark.sql.Column = lit(0L)
    for (i <- 1 to IvfK)
      pCol = when(col("nrel") >= i, lit(NdcgP(i - 1))).otherwise(pCol)
    g.select(col("query_id"), col("nrel").as("n_rel"), col("dcg_p"),
      when(pCol > 0, round(col("dcg_p").cast("double") /
        pCol.cast("double"), 6)).as("ndcg"))
  }

  val all: Seq[Query] = Seq(q21, q22, q23, q24, q25, q26, q27, q28, q29,
    q30, q45, q48, q49, q53, q54, q55, q56, q57, q60, q81, q86, q87, q88,
    q96, q97, q98, q128, q134, q164, q190, q192, q193, q194, q205, q232,
    q254)
}
