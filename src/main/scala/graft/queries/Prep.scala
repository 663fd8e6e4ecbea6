package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Functions.{md5Long, tokens}
import graft.operators.Ranking
import graft.sources.Tables

/** Training-prep queries: the passes that turn a curated corpus into
  * model-ready data — span-level boilerplate removal with document
  * reconstruction, tokenizer-vocabulary coverage, and leakage-safe
  * train/val splitting. Like the rest of the LLM extension these are
  * specified by the task brief (the reference repo has no document
  * layer); every query has a full DuckDB oracle over the identical
  * pipeline. */
object Prep {

  import Llm.{DTokens, dHash64}

  // ------------------------------------------------------------ q90

  private val SpanW = 5 // words per (non-overlapping) span
  private val SpanDfMin = 2 // C4's rule: any span occurring in >1 doc

  /** Span-level boilerplate removal WITH document reconstruction (the
    * C4 dedup rule: drop any fixed-width word span that occurs in more
    * than one document). Docs are cut into non-overlapping
    * [[SpanW]]-word spans; a span whose text appears in ≥ [[SpanDfMin]]
    * distinct docs is removed everywhere; each doc is reassembled from
    * its surviving spans IN ORDER and fingerprinted. Reconstruction
    * collects only a doc's own spans (bounded by doc length, never by
    * corpus size) and sorts by span index — deterministic, so the md5
    * of every rebuilt doc hash-matches the oracle's `string_agg`. At
    * 100 TB: span rows are one Generate (no array shuffles), the df
    * count is map-side combinable, and the rebuild groups by doc_id —
    * the same partitioning the span explode already has. */
  val q90 = Query(
    "q90_span_boilerplate_removal",
    s"""WITH toks AS (
       |  SELECT doc_id, source, $DTokens AS w FROM documents),
       |sp AS (
       |  SELECT doc_id, source, unnest(
       |    [struct_pack(s := i,
       |       g := array_to_string(
       |              list_slice(w, i*$SpanW + 1, i*$SpanW + $SpanW), ' '),
       |       stok := len(list_slice(w, i*$SpanW + 1, i*$SpanW + $SpanW)))
       |     for i in range(0, (len(w) - 1) // $SpanW + 1)],
       |    recursive := true)
       |  FROM toks),
       |bp AS (
       |  SELECT g FROM (
       |    SELECT g, COUNT(DISTINCT doc_id) AS df FROM sp GROUP BY g)
       |  WHERE df >= $SpanDfMin)
       |SELECT doc_id, source,
       |  CAST(COUNT(*) AS BIGINT) AS n_spans,
       |  CAST(SUM(CASE WHEN bp.g IS NULL THEN 0 ELSE 1 END) AS BIGINT)
       |    AS n_removed,
       |  CAST(SUM(CASE WHEN bp.g IS NULL THEN stok ELSE 0 END) AS BIGINT)
       |    AS clean_tokens,
       |  md5(COALESCE(string_agg(CASE WHEN bp.g IS NULL THEN sp.g END,
       |    ' ' ORDER BY s), '')) AS clean_md5
       |FROM sp LEFT JOIN bp ON sp.g = bp.g
       |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    val sp = spanRows(Tables.documents(s, dir))
    val bp = sp.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= SpanDfMin)
      .select(col("g"), lit(1).as("__bp"))
    sp.join(bp, Seq("g"), "left")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__bp").isNull, 0).otherwise(1)).cast("long")
          .as("n_removed"),
        sum(when(col("__bp").isNull, col("stok")).otherwise(0))
          .cast("long").as("clean_tokens"),
        md5(array_join(
          transform(
            sort_array(collect_list(
              when(col("__bp").isNull, struct(col("s"), col("g"))))),
            x => x.getField("g")),
          " ")).as("clean_md5"))
  }

  /** Non-overlapping span rows `(doc_id, source, s, g, stok)` — one
    * Generate over the token array; the span text and its token count
    * are codegen row expressions (no HOF lambdas in the hot path). The
    * tail span may be shorter than [[SpanW]] (both engines clamp the
    * slice). */
  private def spanRows(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"), tokens(col("text")).as("__w"))
      .select(col("doc_id"), col("source"), col("__w"),
        explode(sequence(lit(0L),
          floor((size(col("__w")) - 1) / lit(SpanW.toDouble)).cast("long")))
          .as("s"))
      .select(col("doc_id"), col("source"), col("s"),
        array_join(slice(col("__w"), (col("s") * SpanW + 1).cast("int"),
          lit(SpanW)), " ").as("g"),
        size(slice(col("__w"), (col("s") * SpanW + 1).cast("int"),
          lit(SpanW))).cast("long").as("stok"))

  // ------------------------------------------------------------ q91

  private val VocabK = 20 // top-K words form the "tokenizer" vocabulary

  /** Tokenizer-vocabulary coverage: build the top-[[VocabK]] word
    * vocabulary by corpus frequency (total order: count desc, word asc)
    * and report each language's out-of-vocabulary token rate — the
    * audit run before committing a tokenizer to a corpus. The global
    * top-K uses the distributed [[Ranking]] operator (no
    * single-partition window); the vocabulary is broadcast back, so the
    * corpus token stream is scanned once and never shuffled by word.
    * All rates are integer sums with one final division. */
  val q91 = Query(
    "q91_vocab_coverage",
    s"""WITH t AS (
       |  SELECT doc_id, lang, unnest($DTokens) AS word FROM documents),
       |c AS (SELECT word, COUNT(*) AS cnt FROM t GROUP BY 1),
       |v AS (
       |  SELECT word FROM (
       |    SELECT word, row_number() OVER (ORDER BY cnt DESC, word) AS rk
       |    FROM c)
       |  WHERE rk <= $VocabK)
       |SELECT lang,
       |  CAST(COUNT(*) AS BIGINT) AS total_tokens,
       |  CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS oov_tokens,
       |  ROUND(CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)
       |    AS DOUBLE) / COUNT(*), 6) AS oov_rate,
       |  CAST(COUNT(DISTINCT t.word) AS BIGINT) AS distinct_words,
       |  CAST(COUNT(DISTINCT CASE WHEN v.word IS NULL THEN t.word END)
       |    AS BIGINT) AS distinct_oov_words
       |FROM t LEFT JOIN v USING (word)
       |GROUP BY lang""".stripMargin) { (s, dir) =>
    val t = Tables.documents(s, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
    val c = t.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    // (−cnt, word) ascending ≡ (cnt desc, word asc); word uniqueness
    // makes the order total, so rank() ≡ row_number()
    val vocab = Ranking
      .withGlobalRank(c, struct((col("cnt") * -1).as("nc"),
        col("word").as("w")).asc, "rk")
      .filter(col("rk") <= VocabK)
      .select(col("word"), lit(1).as("__v"))
    t.join(broadcast(vocab), Seq("word"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("total_tokens"),
        sum(when(col("__v").isNull, 1).otherwise(0)).cast("long")
          .as("oov_tokens"),
        round(sum(when(col("__v").isNull, 1).otherwise(0)).cast("double") /
          count(lit(1)), 6).as("oov_rate"),
        countDistinct(col("word")).as("distinct_words"),
        countDistinct(when(col("__v").isNull, col("word")))
          .as("distinct_oov_words"))
  }

  // ------------------------------------------------------------ q92

  private val TrainPct = 80 // hash mod 100 < 80 → train

  /** Deterministic md5 split of a key: 'train' / 'val'. */
  private def splitCol(key: Column): Column =
    when(md5Long(concat(lit("split:"), key.cast("string"))) % 100
      < TrainPct, "train").otherwise("val")

  private def dSplit(key: String): String =
    s"""CASE WHEN ${dHash64(s"'split:' || CAST($key AS VARCHAR)")} % 100
       | < $TrainPct THEN 'train' ELSE 'val' END""".stripMargin

  /** Leakage-safe train/val splitting: hashing DOC ids sends the two
    * halves of a near-dup pair to different splits (train/val
    * contamination); hashing the near-dup CLUSTER id keeps every pair
    * together by construction. Both methods are measured side by side —
    * doc counts, token counts, and the number of near-dup pairs that
    * cross the split (the leakage metric; 0 for by_cluster). Clusters
    * come from the SHARED minhash component labels (q48); docs outside
    * the pair graph are their own singleton cluster. At 100 TB the
    * split adds one broadcast-size join (cluster labels cover only
    * near-dup docs) on top of q56's pure hash — no new shuffle of the
    * corpus. */
  val q92 = Query(
    "q92_leakage_safe_split",
    s"""WITH cl AS (
       |${Llm.componentsOracle(Llm.minhashOracle)}),
       |a AS (
       |  SELECT d.doc_id, len($DTokens) AS tok,
       |    COALESCE(c.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN cl c ON d.doc_id = c.doc_id),
       |s AS (
       |  SELECT doc_id, tok,
       |    ${dSplit("doc_id")} AS sd,
       |    ${dSplit("cluster_id")} AS sc
       |  FROM a),
       |m AS (
       |  SELECT 'by_doc' AS method, doc_id, tok, sd AS split FROM s
       |  UNION ALL
       |  SELECT 'by_cluster', doc_id, tok, sc FROM s),
       |agg AS (
       |  SELECT method,
       |    CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_train_docs,
       |    CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_val_docs,
       |    CAST(SUM(CASE WHEN split = 'train' THEN tok ELSE 0 END)
       |      AS BIGINT) AS n_train_tokens,
       |    CAST(SUM(CASE WHEN split = 'val' THEN tok ELSE 0 END) AS BIGINT)
       |      AS n_val_tokens
       |  FROM m GROUP BY method),
       |p AS (SELECT doc_a, doc_b FROM (
       |${Llm.minhashOracle}) mp),
       |leaks AS (
       |  SELECT 'by_doc' AS method,
       |    CAST(SUM(CASE WHEN sa.sd != sb.sd THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_cross_split_pairs
       |  FROM p JOIN s sa ON p.doc_a = sa.doc_id
       |         JOIN s sb ON p.doc_b = sb.doc_id
       |  UNION ALL
       |  SELECT 'by_cluster',
       |    CAST(SUM(CASE WHEN sa.sc != sb.sc THEN 1 ELSE 0 END) AS BIGINT)
       |  FROM p JOIN s sa ON p.doc_a = sa.doc_id
       |         JOIN s sb ON p.doc_b = sb.doc_id)
       |SELECT method, n_train_docs, n_val_docs, n_train_tokens,
       |  n_val_tokens, n_cross_split_pairs
       |FROM agg JOIN leaks USING (method)""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("tok"))
    val clusters = Llm.minhashClustersShared(s, dir)
    val assigned = docs
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), col("tok"),
        splitCol(col("doc_id")).as("sd"),
        splitCol(coalesce(col("cluster_id"), col("doc_id"))).as("sc"))
    val m = assigned
      .select(lit("by_doc").as("method"), col("doc_id"), col("tok"),
        col("sd").as("split"))
      .unionByName(assigned.select(lit("by_cluster").as("method"),
        col("doc_id"), col("tok"), col("sc").as("split")))
    val agg = m.groupBy(col("method"))
      .agg(
        sum(when(col("split") === "train", 1).otherwise(0)).cast("long")
          .as("n_train_docs"),
        sum(when(col("split") === "val", 1).otherwise(0)).cast("long")
          .as("n_val_docs"),
        sum(when(col("split") === "train", col("tok")).otherwise(0))
          .cast("long").as("n_train_tokens"),
        sum(when(col("split") === "val", col("tok")).otherwise(0))
          .cast("long").as("n_val_tokens"))
    val splits = assigned.select(col("doc_id"), col("sd"), col("sc"))
    val pairs = Llm.minhashPairsShared(s, dir)
      .select(col("doc_a"), col("doc_b"))
      .join(splits.select(col("doc_id").as("doc_a"),
        col("sd").as("__sda"), col("sc").as("__sca")), "doc_a")
      .join(splits.select(col("doc_id").as("doc_b"),
        col("sd").as("__sdb"), col("sc").as("__scb")), "doc_b")
    val leaks = pairs
      .select(lit("by_doc").as("method"),
        (col("__sda") =!= col("__sdb")).as("__x"))
      .unionByName(pairs.select(lit("by_cluster").as("method"),
        (col("__sca") =!= col("__scb")).as("__x")))
      .groupBy(col("method"))
      .agg(sum(when(col("__x"), 1).otherwise(0)).cast("long")
        .as("n_cross_split_pairs"))
    agg.join(leaks, "method")
      .select(col("method"), col("n_train_docs"), col("n_val_docs"),
        col("n_train_tokens"), col("n_val_tokens"),
        col("n_cross_split_pairs"))
  }

  // ------------------------------------------------------------ q93

  private val ChunkC = 32 // context window: tokens per chunk
  private val ChunkS = 24 // stride (overlap = ChunkC - ChunkS)

  /** Context-window chunking: cut every document into [[ChunkC]]-token
    * windows advancing by [[ChunkS]] (the long-doc → training-sequence
    * pass; the overlap keeps context across window boundaries). The
    * whole pass is ROW-LOCAL — chunk counts, per-chunk token sums, and
    * the ordered chunk-concat hash are all higher-order functions over
    * the token array, so the only shuffle is the final per-source
    * rollup. The per-doc chunk stream is summarized by an
    * order-independent `bit_xor` of per-doc md5s, which verifies every
    * chunk boundary and every chunk's text without materializing chunk
    * rows. At 100 TB: a map-combinable aggregate over one corpus scan;
    * no joins, no windows. */
  val q93 = Query(
    "q93_context_chunks",
    s"""WITH t AS (
       |  SELECT doc_id, source, $DTokens AS w FROM documents),
       |c AS (
       |  SELECT doc_id, source, len(w) AS tok, w,
       |    CASE WHEN len(w) <= $ChunkC THEN 1
       |         ELSE (len(w) - $ChunkC + $ChunkS - 1) // $ChunkS + 1 END
       |      AS n_chunks
       |  FROM t),
       |x AS (
       |  SELECT doc_id, source, tok, n_chunks,
       |    list_sum([len(list_slice(w, i*$ChunkS + 1, i*$ChunkS + $ChunkC))
       |      for i in range(0, n_chunks)]) AS chunk_tok,
       |    array_to_string(
       |      [array_to_string(
       |         list_slice(w, i*$ChunkS + 1, i*$ChunkS + $ChunkC), ' ')
       |       for i in range(0, n_chunks)], '|') AS cc
       |  FROM c)
       |SELECT source,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(tok) AS BIGINT) AS total_tokens,
       |  CAST(SUM(n_chunks) AS BIGINT) AS total_chunks,
       |  CAST(SUM(chunk_tok) AS BIGINT) AS total_chunk_tokens,
       |  CAST(bit_xor(${dHash64("cc")}) AS BIGINT) AS chunks_checksum
       |FROM x GROUP BY source""".stripMargin) { (s, dir) =>
    val c = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("w"))
      .withColumn("tok", size(col("w")).cast("long"))
      .withColumn("n_chunks",
        when(col("tok") <= ChunkC, lit(1L))
          .otherwise(floor((col("tok") - ChunkC + ChunkS - 1) /
            lit(ChunkS.toDouble)) + 1L).cast("long"))
    val x = c
      .withColumn("__chunks",
        transform(sequence(lit(0L), col("n_chunks") - 1),
          i => slice(col("w"), (i * ChunkS + 1).cast("int"), lit(ChunkC))))
      .select(col("source"), col("tok"), col("n_chunks"),
        aggregate(col("__chunks"), lit(0L),
          (acc, ch) => acc + size(ch)).as("chunk_tok"),
        md5Long(array_join(
          transform(col("__chunks"), ch => array_join(ch, " ")),
          "|")).as("__h"))
    x.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).cast("long").as("total_tokens"),
        sum(col("n_chunks")).cast("long").as("total_chunks"),
        sum(col("chunk_tok")).cast("long").as("total_chunk_tokens"),
        expr("bit_xor(__h)").cast("long").as("chunks_checksum"))
  }

  // ------------------------------------------------------------ q94

  /** Corpus-trained bigram-LM quality bucketing (the CCNet shape: score
    * every document by the perplexity of an in-domain LM, then bucket
    * head/tail around the per-language mean). The LM is add-one-
    * smoothed `p(w2|w1) = (c12+1)/(c1+V)` trained on the corpus itself;
    * a document's score is its mean negative log-likelihood per bigram.
    * Scale shape: the LM tables are vocabulary-sized (broadcast), so
    * the corpus bigram stream is scanned once, joined only against
    * broadcasts, and reduced per doc — no corpus-sized shuffle beyond
    * the per-doc groupBy. Determinism contract: per-doc scores are
    * rounded to 6 dp BEFORE the bucket comparison and the per-language
    * mean is computed over the rounded scores, so both engines compare
    * identical doubles (the raw sums agree to ~1e-13; ln() ulps wash
    * out at 6 dp). */
  val q94 = Query(
    "q94_lm_quality_buckets",
    s"""WITH t AS (
       |  SELECT doc_id, lang, $DTokens AS w FROM documents),
       |r AS (
       |  SELECT doc_id, lang, unnest(
       |    [struct_pack(w1 := w[i], w2 := w[i+1])
       |     for i in range(1, len(w))], recursive := true)
       |  FROM t WHERE len(w) >= 2),
       |bc AS (SELECT lang, w1, w2, COUNT(*) AS c12 FROM r GROUP BY 1,2,3),
       |uc AS (SELECT lang, w1, COUNT(*) AS c1 FROM r GROUP BY 1,2),
       |vc AS (SELECT lang, COUNT(DISTINCT x) AS v FROM (
       |  SELECT lang, unnest(w) AS x FROM t) GROUP BY 1),
       |lp AS (
       |  SELECT lang, w1, w2, ln((c12 + 1.0)/(c1 + v)) AS lp
       |  FROM bc JOIN uc USING (lang, w1) JOIN vc USING (lang)),
       |pd AS (
       |  SELECT doc_id, lang, COUNT(*) AS nb,
       |    ROUND(-SUM(lp)/COUNT(*), 6) AS nll
       |  FROM r JOIN lp USING (lang, w1, w2) GROUP BY 1,2),
       |la AS (SELECT lang, ROUND(AVG(nll), 6) AS a FROM pd GROUP BY 1)
       |SELECT lang,
       |  CASE WHEN nll <= a THEN 'head' ELSE 'tail' END AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(nb) AS BIGINT) AS total_bigrams,
       |  ROUND(AVG(nll), 6) AS avg_nll
       |FROM pd JOIN la USING (lang) GROUP BY 1,2""".stripMargin) { (s, dir) =>
    val t = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("w"))
    val r = t.filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(zip_with(
          slice(col("w"), lit(1), size(col("w")) - 1),
          slice(col("w"), lit(2), size(col("w")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("lang"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bc = r.groupBy(col("lang"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val uc = r.groupBy(col("lang"), col("w1")).agg(count(lit(1)).as("c1"))
    val vc = t.select(col("lang"), explode(col("w")).as("x"))
      .groupBy(col("lang")).agg(countDistinct(col("x")).as("v"))
    val lp = bc.join(uc, Seq("lang", "w1")).join(vc, Seq("lang"))
      .select(col("lang"), col("w1"), col("w2"),
        log((col("c12") + lit(1)).cast("double") / (col("c1") + col("v")))
          .as("lp"))
    val pd = r.join(broadcast(lp), Seq("lang", "w1", "w2"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("nb"),
        round(-sum(col("lp")) / count(lit(1)), 6).as("nll"))
    val la = pd.groupBy(col("lang")).agg(round(avg(col("nll")), 6).as("a"))
    pd.join(broadcast(la), Seq("lang"))
      .groupBy(col("lang"),
        when(col("nll") <= col("a"), "head").otherwise("tail").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nb")).cast("long").as("total_bigrams"),
        round(avg(col("nll")), 6).as("avg_nll"))
  }

  // ------------------------------------------------------------ q95

  private val DsirB = 64 // hashed-feature buckets
  private val DsirTarget = "src0" // the target-domain sample
  private val DsirK = 20 // selection size

  /** DSIR-style importance reweighting (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): model
    * the target domain (here the [[DsirTarget]] source) and the raw
    * pool as smoothed distributions over [[DsirB]] HASHED unigram
    * buckets, weight every raw document by its mean per-token
    * log-likelihood ratio, and select the top [[DsirK]]. The bucket
    * tables are feature-sized (broadcast); the corpus token stream is
    * scanned once; the global top-K runs through the distributed
    * [[Ranking]] operator — no unpartitioned window. Ordering is total
    * (rounded weight desc, doc_id asc), so ranks are engine-exact. */
  val q95 = Query(
    "q95_dsir_weights",
    s"""WITH t AS (
       |  SELECT doc_id, source, lang, unnest($DTokens) AS word
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, source, lang, ${dHash64("word")} % $DsirB AS bk
       |  FROM t),
       |tg AS (SELECT bk, COUNT(*) AS tb FROM b
       |  WHERE source = '$DsirTarget' GROUP BY 1),
       |rw AS (SELECT bk, COUNT(*) AS rb FROM b GROUP BY 1),
       |tot AS (SELECT COUNT(*) AS raw_tot,
       |  SUM(CASE WHEN source = '$DsirTarget' THEN 1 ELSE 0 END) AS tgt_tot
       |  FROM b),
       |lam AS (
       |  SELECT bk,
       |    ln((COALESCE(tb, 0) + 1.0)/(tgt_tot + $DsirB)) -
       |    ln((rb + 1.0)/(raw_tot + $DsirB)) AS lam
       |  FROM rw LEFT JOIN tg USING (bk), tot),
       |pd AS (
       |  SELECT doc_id, source, lang, COUNT(*) AS n_tokens,
       |    ROUND(SUM(lam)/COUNT(*), 6) AS weight
       |  FROM b JOIN lam USING (bk)
       |  WHERE source != '$DsirTarget' GROUP BY 1,2,3)
       |SELECT * FROM (
       |  SELECT CAST(row_number() OVER (ORDER BY weight DESC, doc_id)
       |      AS BIGINT) AS rank,
       |    doc_id, source, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
       |    weight
       |  FROM pd)
       |WHERE rank <= $DsirK""".stripMargin) { (s, dir) =>
    val b = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        explode(tokens(col("text"))).as("word"))
      .select(col("doc_id"), col("source"), col("lang"),
        pmod(md5Long(col("word")), lit(DsirB.toLong)).as("bk"))
    // one pass: per-bucket raw count + conditional target count (the
    // oracle's tg/rw/tot CTEs collapsed — identical values)
    val g = b.groupBy(col("bk"))
      .agg(count(lit(1)).as("rb"),
        sum(when(col("source") === DsirTarget, 1).otherwise(0)).cast("long")
          .as("tb"))
    val tot = g.agg(sum(col("rb")).cast("long").as("raw_tot"),
      sum(col("tb")).cast("long").as("tgt_tot"))
    val lam = g.crossJoin(broadcast(tot))
      .select(col("bk"),
        (log((col("tb") + lit(1)).cast("double") /
          (col("tgt_tot") + DsirB)) -
          log((col("rb") + lit(1)).cast("double") /
            (col("raw_tot") + DsirB))).as("lam"))
    val pd = b.filter(col("source") =!= DsirTarget)
      .join(broadcast(lam), Seq("bk"))
      .groupBy(col("doc_id"), col("source"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("lam")) / count(lit(1)), 6).as("weight"))
    Ranking.withGlobalRank(pd,
      struct((col("weight") * -1).as("nw"), col("doc_id").as("d")).asc,
      "rank")
      .filter(col("rank") <= DsirK)
      .select(col("rank"), col("doc_id"), col("source"), col("lang"),
        col("n_tokens").cast("long").as("n_tokens"), col("weight"))
  }

  // ------------------------------------------------------------ q99

  private val KmK = 8 // clusters
  private val KmDims = 64 // embedding dims
  private val KmIters = 3 // Lloyd's iterations
  private val KmQL = "1000000.0" // the quantization grid, as SQL

  /** Init centroid `m` as a DuckDB list: the same md5 hash family the
    * driver-side [[KMeans.initCentroids]] evaluates numerically. */
  private def dKmInit(m: Int): String =
    s"""[((('0x' || substr(md5('km:$m:' || CAST(i - 1 AS VARCHAR)), 1,
       |  15))::BIGINT % 1001) - 500) / 500.0
       |  for i in range(1, ${KmDims + 1})]""".stripMargin

  /** Strict-left-fold L2² between quantized list `vq` and centroid
    * list `c` — the mirror of [[KMeans.distTo]]. */
  private def dKmDist: String =
    s"""list_reduce([(vq[i] / $KmQL - c.c[i]) * (vq[i] / $KmQL - c.c[i])
       |  for i in range(1, ${KmDims + 1})], (x, y) -> x + y)""".stripMargin

  /** The T-iteration Lloyd's trajectory as a CTE chain (c0, then
    * aT/uT/eT/sT/cT per iteration): assign (first-wins argmin via
    * `row_number ORDER BY dist, cell`), update (exact integer sums →
    * `SUM / (COUNT·Q)` centroids), then the empty-cell RESEED
    * ([[graft.operators.KMeans.fit]]'s farthest-point repair, r14):
    * empty cells ranked ascending meet the distinct (vq, dist) rows
    * ranked by (dist DESC, vq ASC); rank i's cell takes rank i's
    * point as `vq[d]/Q`; leftover empty cells (fewer distinct points
    * than empties) keep the previous centroid. References a CTE
    * `v(vec_id, …, vq)`; the trained centroids are CTE `c$KmIters`.
    * Shared by q99 and q100. */
  private def dKmChain: String = dKmChainP("", "v")

  /** [[dKmChain]] with every emitted CTE name prefixed `p` and the
    * training set read from CTE `vCte` — lets one oracle train TWO
    * centroid tables (q249: frozen-on-base vs retrained-on-all)
    * without CTE-name collisions. The trained centroids land in
    * `${p}c$KmIters`. */
  private def dKmChainP(p: String, vCte: String): String = {
    val init = (0 until KmK).map { m =>
      if (m == 0) s"  SELECT 0 AS cell, ${dKmInit(0)} AS c"
      else s"  UNION ALL SELECT $m, ${dKmInit(m)}"
    }.mkString("\n")
    val meanList = (1 to KmDims)
      .map(i => s"CAST(SUM(vq[$i]) AS DOUBLE) / (COUNT(*) * $KmQL)")
      .mkString(",\n      ")
    val seedList =
      s"[es.vq[i] / $KmQL for i in range(1, ${KmDims + 1})]"
    // MATERIALIZED on every multiply-referenced CTE: the reseed step
    // raises per-level references (aT feeds uT AND sT; cT feeds the
    // next level 2×), and inlining would re-evaluate the whole prefix
    // chain per reference — exponential in the iteration count. The
    // empty-cell list joins the STATIC range(k) against uT instead of
    // re-referencing c{t-1}: emptiness depends only on which cells
    // the assignment occupied, never on the previous centroid values.
    val iters = (1 to KmIters).map { t =>
      s"""${p}a$t AS MATERIALIZED (
         |  SELECT vec_id, vq, cell, dist FROM (
         |    SELECT vec_id, vq, cell, dist,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY dist, cell) AS rk
         |    FROM (SELECT v.vec_id, v.vq, c.cell, $dKmDist AS dist
         |          FROM $vCte v, ${p}c${t - 1} c))
         |  WHERE rk = 1),
         |${p}u$t AS MATERIALIZED (
         |  SELECT cell, [$meanList] AS c
         |  FROM ${p}a$t GROUP BY cell),
         |${p}e$t AS (
         |  SELECT r.cell, row_number() OVER (ORDER BY r.cell) AS ei
         |  FROM (SELECT UNNEST(range(0, $KmK)) AS cell) r
         |  LEFT JOIN ${p}u$t n ON r.cell = n.cell
         |  WHERE n.cell IS NULL),
         |${p}s$t AS (
         |  SELECT vq, row_number() OVER (ORDER BY dist DESC, vq ASC)
         |    AS si
         |  FROM (SELECT DISTINCT vq, dist FROM ${p}a$t)),
         |${p}c$t AS MATERIALIZED (
         |  SELECT p.cell,
         |    CASE WHEN n.cell IS NOT NULL THEN n.c
         |         WHEN es.cell IS NOT NULL THEN $seedList
         |         ELSE p.c END AS c
         |  FROM ${p}c${t - 1} p
         |  LEFT JOIN ${p}u$t n ON p.cell = n.cell
         |  LEFT JOIN (SELECT e.cell, s.vq FROM ${p}e$t e
         |             JOIN ${p}s$t s ON e.ei = s.si) es
         |    ON p.cell = es.cell)""".stripMargin
    }.mkString(",\n")
    s"${p}c0 AS (\n$init),\n$iters"
  }

  /** q99's oracle: the Lloyd's chain, then a final assignment under
    * the trained centroids, summarized per cluster. */
  private def kmOracle: String = {
    s"""WITH v AS (
       |  SELECT vec_id,
       |    [CAST(floor(x::DOUBLE * $KmQL + 0.5) AS BIGINT)
       |     for x in embedding] AS vq
       |  FROM embeddings),
       |$dKmChain,
       |af AS (
       |  SELECT cell, dist FROM (
       |    SELECT cell, dist,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY dist, cell) AS rk
       |    FROM (SELECT v.vec_id, c.cell, $dKmDist AS dist
       |          FROM v, c$KmIters c))
       |  WHERE rk = 1),
       |st AS (
       |  SELECT cell,
       |    ROUND(list_reduce([c[i] * c[i] for i in range(1, ${KmDims + 1})],
       |      (x, y) -> x + y), 6) AS centroid_norm,
       |    CAST(list_reduce([CAST(floor(c[i] * $KmQL) AS BIGINT)
       |      for i in range(1, ${KmDims + 1})], (x, y) -> x + y) AS BIGINT)
       |      AS centroid_checksum
       |  FROM c$KmIters)
       |SELECT CAST(st.cell AS BIGINT) AS cell,
       |  CAST(COALESCE(g.n, 0) AS BIGINT) AS n_vectors,
       |  CAST(COALESCE(g.iq, 0) AS BIGINT) AS inertia_q,
       |  centroid_norm, centroid_checksum
       |FROM st LEFT JOIN (
       |  SELECT cell, COUNT(*) AS n,
       |    SUM(CAST(floor(dist * $KmQL) AS BIGINT)) AS iq
       |  FROM af GROUP BY cell) g ON st.cell = g.cell""".stripMargin
  }

  /** Distributed k-means centroid training ([[graft.operators.KMeans]]):
    * [[KmIters]] Lloyd's iterations over the embedding corpus from a
    * deterministic hash init, reported as per-cluster sizes, quantized
    * inertia, and centroid fingerprints. The ENTIRE iterative
    * trajectory hash-matches the oracle's CTE replay — exact because
    * components are integer-quantized once, so centroid updates are
    * ratios of exact integers and every distance is a strict left fold.
    * At 100 TB: one scan per iteration, centroids broadcast as
    * literals, per-cluster sums map-side combinable; the only driver
    * state is the k×dims table (the same bounded-collect contract as
    * the star-contraction convergence scalar). */
  /** The quantized-embedding frame — SHARED: scanned [[KmIters]] times
    * by the training loop, once more by q99's summary pass. */
  private def kmVqShared(s: SparkSession, dir: String): DataFrame =
    graft.operators.SharedFrames.getOrBuild(
        graft.operators.SharedFrames.key(s, dir, "km_vq", s"$KmDims")) {
      Tables.embeddings(s, dir).select(col("vec_id"),
        graft.operators.KMeans.quantize(col("embedding")).as("vq"))
    }

  /** The trained centroid table — SHARED driver-side value: q99
    * reports it, q100's trained-IVF leg searches with it. */
  private[queries] def kmCentsShared(s: SparkSession,
      dir: String): Array[Array[Double]] =
    graft.operators.SharedFrames.getOrCompute(
        graft.operators.SharedFrames.key(s, dir, "km_cents",
          s"$KmK:$KmDims:$KmIters")) {
      graft.operators.KMeans.fit(kmVqShared(s, dir), "vq",
        KmK, KmDims, KmIters)
    }

  val q99 = Query("q99_kmeans_centroids", kmOracle) { (s, dir) =>
    import graft.operators.KMeans
    val vq = kmVqShared(s, dir)
    val cents = kmCentsShared(s, dir)
    val g = KMeans.nearestCells(vq, "vq", cents, 1)
      .groupBy(col("__probe0").cast("long").as("cell"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("__pdist0") * lit(1e6))).cast("long").as("iq"))
    val stats = s.createDataFrame(cents.zipWithIndex.toIndexedSeq.map {
      case (c, m) =>
        (m.toLong,
          c.foldLeft(0.0)((a, x) => a + x * x),
          c.foldLeft(0L)((a, x) => a + math.floor(x * 1e6).toLong))
    }).toDF("cell", "__norm", "centroid_checksum")
    broadcast(stats).join(g, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n"), lit(0L)).cast("long").as("n_vectors"),
        coalesce(col("iq"), lit(0L)).cast("long").as("inertia_q"),
        round(col("__norm"), 6).as("centroid_norm"),
        col("centroid_checksum"))
  }

  // ------------------------------------------------------------ q191

  /** Cluster↔label purity: each embedding assigned to its trained
    * k-means cell (the q99/q100 centroids, shared), joined to its
    * class label, summarized per cell as size, distinct labels,
    * majority label (ties → smallest label), and purity =
    * n_majority / n_vectors. The curation diagnostic that tells you
    * whether unsupervised clusters line up with the label taxonomy —
    * the gate before trusting cluster-based splits (q92) or semantic
    * dedup (q79) to respect class boundaries.
    *
    * Scale: one assignment scan (centroids are broadcast literals),
    * then aggregation over a bounded k×labels frame; the majority
    * window runs on that bounded frame, never on rows. The oracle
    * replays the SAME Lloyd's chain ([[dKmChain]]) and first-wins
    * argmin, so cell assignment parity is inherited from q99. */
  val q191 = Query(
    "q191_cluster_label_purity",
    s"""WITH v AS (
       |  SELECT vec_id,
       |    [CAST(floor(x::DOUBLE * $KmQL + 0.5) AS BIGINT)
       |     for x in embedding] AS vq
       |  FROM embeddings),
       |$dKmChain,
       |af AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY dist, cell) AS rk
       |    FROM (SELECT v.vec_id, c.cell, $dKmDist AS dist
       |          FROM v, c$KmIters c))
       |  WHERE rk = 1),
       |cl AS (
       |  SELECT af.cell, e.label, COUNT(*) AS n
       |  FROM af JOIN embeddings e USING (vec_id)
       |  GROUP BY 1, 2),
       |mj AS (
       |  SELECT cell, label AS majority_label, n AS n_majority FROM (
       |    SELECT cell, label, n,
       |      row_number() OVER (PARTITION BY cell
       |        ORDER BY n DESC, label) AS rk
       |    FROM cl) WHERE rk = 1)
       |SELECT CAST(cl.cell AS BIGINT) AS cell,
       |  CAST(SUM(cl.n) AS BIGINT) AS n_vectors,
       |  CAST(COUNT(*) AS BIGINT) AS n_labels,
       |  CAST(ANY_VALUE(mj.majority_label) AS BIGINT) AS majority_label,
       |  CAST(ANY_VALUE(mj.n_majority) AS BIGINT) AS n_majority,
       |  ROUND(CAST(ANY_VALUE(mj.n_majority) AS DOUBLE)
       |    / CAST(SUM(cl.n) AS DOUBLE), 6) AS purity
       |FROM cl JOIN mj USING (cell)
       |GROUP BY 1""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val cents = kmCentsShared(s, dir)
    val assigned = graft.operators.KMeans
      .nearestCells(kmVqShared(s, dir), "vq", cents, 1)
      .select(col("vec_id"), col("__probe0").cast("long").as("cell"))
    val lab = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
    val cl = assigned.join(lab, "vec_id")
      .groupBy(col("cell"), col("label"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("n").desc, col("label").asc)
    val mj = cl.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("cell"),
        col("label").cast("long").as("majority_label"),
        col("n").as("n_majority"))
    val per = cl.groupBy(col("cell"))
      .agg(sum(col("n")).cast("long").as("n_vectors"),
        count(lit(1)).cast("long").as("n_labels"))
    per.join(mj, "cell")
      .select(col("cell"), col("n_vectors"), col("n_labels"),
        col("majority_label"), col("n_majority"),
        round(col("n_majority").cast("double")
          / col("n_vectors").cast("double"), 6).as("purity"))
  }

  // ------------------------------------------------------------ q100

  /** q100's oracle: the Lloyd's chain, corpus + query assignment under
    * the trained centroids, in-cell exact-cosine top-k, and recall of
    * BOTH the trained and the hash-derived IVF against the exact
    * brute-force top-k (the latter two nested verbatim from q24/q49's
    * proven oracles — CTE shadowing keeps their scopes separate). */
  private def trainedRecallOracle: String =
    s"""WITH v AS (
       |  SELECT vec_id, [x::DOUBLE for x in embedding] AS e,
       |    [CAST(floor(x::DOUBLE * $KmQL + 0.5) AS BIGINT)
       |     for x in embedding] AS vq
       |  FROM embeddings),
       |$dKmChain,
       |bc AS (
       |  SELECT vec_id, e, cell FROM (
       |    SELECT vec_id, e, cell,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY dist, cell) AS rk
       |    FROM (SELECT v.vec_id, v.e, c.cell, $dKmDist AS dist
       |          FROM v, c$KmIters c))
       |  WHERE rk = 1),
       |qc AS (
       |  SELECT vec_id AS query_id, e AS qe, cell AS qcell FROM bc
       |  WHERE vec_id % ${Llm.TopkEvery} = 0),
       |tr AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, id AS neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY score DESC, id) AS rk
       |    FROM (SELECT qc.query_id, bc.vec_id AS id,
       |            ${Llm.dCosine("qe", "e")} AS score
       |          FROM bc JOIN qc
       |            ON bc.cell = qc.qcell AND bc.vec_id != qc.query_id))
       |  WHERE rk <= ${Llm.IvfK}),
       |ex AS (SELECT query_id, neighbor_id FROM (
       |${Llm.bruteForceOracle(Llm.IvfK)})),
       |hz AS (SELECT query_id, neighbor_id FROM (
       |${Llm.ivfOracle})),
       |rec AS (
       |  SELECT 'ivf_hash' AS method,
       |    (SELECT COUNT(*) FROM ex) AS n_exact,
       |    (SELECT COUNT(*) FROM ex JOIN hz
       |       ON ex.query_id = hz.query_id
       |      AND ex.neighbor_id = hz.neighbor_id) AS n_hit
       |  UNION ALL SELECT 'ivf_trained',
       |    (SELECT COUNT(*) FROM ex),
       |    (SELECT COUNT(*) FROM ex JOIN tr
       |       ON ex.query_id = tr.query_id
       |      AND ex.neighbor_id = tr.neighbor_id))
       |SELECT method, CAST(n_exact AS BIGINT) AS n_exact,
       |  CAST(n_hit AS BIGINT) AS n_hit,
       |  ROUND(CAST(n_hit AS DOUBLE) / n_exact, 6) AS recall
       |FROM rec""".stripMargin

  /** Trained-IVF retrieval quality: recall@k of the IVF search under
    * the k-means-TRAINED centroids vs under the hash-derived ones,
    * both against the exact brute-force top-k — the measurement that
    * justifies the training pass (q53 records the untrained floor;
    * this query shows what [[graft.operators.KMeans]] buys at an
    * identical serve-time plan shape). Training cost is shared with
    * q99 through the run-scoped centroid cache. */
  val q100 = Query("q100_trained_ivf_recall", trainedRecallOracle) { (s, dir) =>
    import graft.operators.{InternalCache, KMeans, Similarity}
    val cents = kmCentsShared(s, dir)
    val v = Tables.embeddings(s, dir)
    val q = v.filter(col("vec_id") % Llm.TopkEvery === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    // trained cells: the same quantized-L2 argmin the training loop
    // used (train and serve agree on boundaries), single probe
    def cell(df: DataFrame, vec: String) = KMeans.nearestCells(
      df.withColumn("__vq", KMeans.quantize(col(vec))), "__vq", cents, 1)
    val trained = Similarity.probeTopK(cell(v, "embedding"), "vec_id",
      "embedding", col("__probe0"), cell(q, "qvec"), "query_id", "qvec",
      KMeans.probeList(1), Llm.IvfK)
    val exact = InternalCache.persist(Llm.bruteForceShared(s, dir)
      .filter(col("rank") <= Llm.IvfK)
      .select("query_id", "neighbor_id"))
    val leg = Llm.recallLeg(exact) _
    leg("ivf_hash", Llm.ivfShared(s, dir))
      .unionByName(leg("ivf_trained", trained))
  }

  // ------------------------------------------------------------ q247

  private val AnnDeltaMod = 5L
  private val AnnDeltaRes = 4L
  private val AnnEraseMod = 31L
  private val AnnEraseRes = 7L

  /** q247's oracle: the Lloyd's chain trained on the BASE subset only
    * (the index is built before the delta arrives), frozen-centroid
    * assignment of the post-append post-erase index content, 2-probe
    * query cells (rk ≤ 2 of the same `ORDER BY dist, cell` window),
    * and in-probed-cell exact-cosine top-k. */
  private def annIndexOracle: String =
    s"""WITH v AS (
       |  SELECT vec_id,
       |    [CAST(floor(x::DOUBLE * $KmQL + 0.5) AS BIGINT)
       |     for x in embedding] AS vq
       |  FROM embeddings WHERE vec_id % $AnnDeltaMod <> $AnnDeltaRes),
       |$dKmChain,
       |va AS (
       |  SELECT vec_id, [x::DOUBLE for x in embedding] AS e,
       |    [CAST(floor(x::DOUBLE * $KmQL + 0.5) AS BIGINT)
       |     for x in embedding] AS vq
       |  FROM embeddings WHERE vec_id % $AnnEraseMod <> $AnnEraseRes),
       |bc AS (
       |  SELECT vec_id, e, cell FROM (
       |    SELECT vec_id, e, cell,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY dist, cell) AS rk
       |    FROM (SELECT va.vec_id, va.e, c.cell, $dKmDist AS dist
       |          FROM va, c$KmIters c))
       |  WHERE rk = 1),
       |qv AS (
       |  SELECT vec_id AS query_id, [x::DOUBLE for x in embedding] AS qe,
       |    [CAST(floor(x::DOUBLE * $KmQL + 0.5) AS BIGINT)
       |     for x in embedding] AS vq
       |  FROM embeddings WHERE vec_id % ${Llm.TopkEvery} = 0),
       |qp AS (
       |  SELECT query_id, qe, cell FROM (
       |    SELECT query_id, qe, cell,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY dist, cell) AS rk
       |    FROM (SELECT q.query_id, q.qe, c.cell, $dKmDist AS dist
       |          FROM qv q, c$KmIters c))
       |  WHERE rk <= 2),
       |res AS (
       |  SELECT query_id, neighbor_id, score, rk FROM (
       |    SELECT query_id, id AS neighbor_id, score,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY score DESC, id) AS rk
       |    FROM (SELECT qp.query_id, bc.vec_id AS id,
       |            ${Llm.dCosine("qe", "e")} AS score
       |          FROM bc JOIN qp
       |            ON bc.cell = qp.cell AND bc.vec_id != qp.query_id))
       |  WHERE rk <= ${Llm.IvfK})
       |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id,
       |  ROUND(score, 6) AS cosine
       |FROM res""".stripMargin

  /** The persisted ANN index lifecycle ([[graft.operators.AnnIndex]])
    * end to end: build on the base subset (trained centroids + postings
    * partitioned by cell, both published tables), incremental append of
    * a delta under the FROZEN centroids, partition-scoped erasure of an
    * opt-out id set, then a 2-probe top-k search whose postings scan
    * reads only the probed cell partitions. The oracle replays the
    * whole lifecycle — base-only training, frozen assignment of the
    * final index content, probe selection, in-cell cosine rank — so the
    * published-index state, not just one search, is value-checked. */
  val q247 = Query("q247_ann_index_lifecycle", annIndexOracle) { (s, dir) =>
    import graft.operators.AnnIndex
    val name = s"ann_idx_${math.abs(dir.hashCode)}"
    val emb = Tables.embeddings(s, dir)
    AnnIndex.build(s,
      emb.filter(col("vec_id") % AnnDeltaMod =!= AnnDeltaRes),
      "vec_id", "embedding", name, KmK, KmDims, KmIters)
    AnnIndex.append(s, name,
      emb.filter(col("vec_id") % AnnDeltaMod === AnnDeltaRes),
      "vec_id", "embedding")
    AnnIndex.erase(s, name,
      emb.select(col("vec_id"))
        .filter(col("vec_id") % AnnEraseMod === AnnEraseRes))
    AnnIndex.topK(s, name,
      emb.filter(col("vec_id") % Llm.TopkEvery === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
      "query_id", "qvec", Llm.IvfK)
  }

  // ------------------------------------------------------------ q255

  /** q255's oracle: one Lloyd's chain trained on the FULL corpus, the
    * frozen assignment of every vector (label kept next to it), 2-probe
    * query cells, and the in-probed-cell exact-cosine top-k over ONLY
    * the candidates matching the attribute predicate — the pre-filter
    * semantics [[graft.operators.AnnIndex.topKWhere]] serves. */
  private def annFilteredOracle: String =
    s"""WITH v AS (
       |  SELECT vec_id,
       |    [CAST(floor(x::DOUBLE * $KmQL + 0.5) AS BIGINT)
       |     for x in embedding] AS vq
       |  FROM embeddings),
       |$dKmChain,
       |va AS (
       |  SELECT vec_id, label, [x::DOUBLE for x in embedding] AS e,
       |    [CAST(floor(x::DOUBLE * $KmQL + 0.5) AS BIGINT)
       |     for x in embedding] AS vq
       |  FROM embeddings),
       |bc AS (
       |  SELECT vec_id, label, e, cell FROM (
       |    SELECT vec_id, label, e, cell,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY dist, cell) AS rk
       |    FROM (SELECT va.vec_id, va.label, va.e, c.cell, $dKmDist AS dist
       |          FROM va, c$KmIters c))
       |  WHERE rk = 1),
       |qv AS (
       |  SELECT vec_id AS query_id, [x::DOUBLE for x in embedding] AS qe,
       |    [CAST(floor(x::DOUBLE * $KmQL + 0.5) AS BIGINT)
       |     for x in embedding] AS vq
       |  FROM embeddings WHERE vec_id % ${Llm.TopkEvery} = 0),
       |qp AS (
       |  SELECT query_id, qe, cell FROM (
       |    SELECT query_id, qe, cell,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY dist, cell) AS rk
       |    FROM (SELECT q.query_id, q.qe, c.cell, $dKmDist AS dist
       |          FROM qv q, c$KmIters c))
       |  WHERE rk <= 2),
       |res AS (
       |  SELECT query_id, neighbor_id, score, rk FROM (
       |    SELECT query_id, id AS neighbor_id, score,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY score DESC, id) AS rk
       |    FROM (SELECT qp.query_id, bc.vec_id AS id,
       |            ${Llm.dCosine("qe", "e")} AS score
       |          FROM bc JOIN qp
       |            ON bc.cell = qp.cell AND bc.vec_id != qp.query_id
       |          WHERE bc.label < ${Llm.FannLabelMax}))
       |  WHERE rk <= ${Llm.IvfK})
       |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id,
       |  ROUND(score, 6) AS cosine
       |FROM res""".stripMargin

  /** FILTERED serving on the PERSISTED index: [[q254]] settled the
    * strategy (pre-filter + over-probe beats post-filtering a global
    * search); this is that strategy as a production surface. The index
    * is built attribute-carrying (`attrCols = label` — the payload
    * lives IN the postings, partitioned by cell), and
    * [[graft.operators.AnnIndex.topKWhere]] serves "top-k WHERE
    * label < [[Llm.FannLabelMax]]" with the predicate pushed into the
    * postings parquet scan UNDER the probed-cell `PartitionFilters`
    * (both spec-locked in AnnIndexSpec): at 100 TB a narrow filter
    * reads the probed cells' matching row groups, not the index, and
    * no rank slot is wasted on a candidate the filter would discard.
    * The oracle replays build-on-all + frozen assignment + 2-probe +
    * pre-filtered in-cell rank, so the published attribute payload
    * itself is value-checked. */
  val q255 = Query("q255_ann_filtered_serve", annFilteredOracle) {
    (s, dir) =>
    import graft.operators.AnnIndex
    val name = s"annf_idx_${math.abs(dir.hashCode)}"
    val emb = Tables.embeddings(s, dir)
    AnnIndex.build(s, emb, "vec_id", "embedding", name, KmK, KmDims,
      KmIters, attrCols = Seq("label"))
    AnnIndex.topKWhere(s, name,
      emb.filter(col("vec_id") % Llm.TopkEvery === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
      "query_id", "qvec", Llm.IvfK, col("label") < Llm.FannLabelMax)
  }

  // ------------------------------------------------------------ q259

  /** q259's oracle: the q255 chain with the probe window kept to
    * rk ≤ 8 (probe lists are prefixes of one another — the spec-pinned
    * [[graft.operators.KMeans.nearestCells]] property), two filtered
    * candidate sets, an exact filtered top-k per selectivity, and one
    * approximate top-k per (selectivity × nProbe) leg; every leg also
    * counts its candidate pairs and the brute-force bill, so the
    * recall AND the cost column are independently recomputed. */
  private def annNprobeCurveOracle: String = {
    def topkCte(sel: Int, p: Int): String =
      s"""ap${sel}_$p AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, id AS neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, id) AS rk2
         |    FROM (SELECT qp.query_id, f.vec_id AS id,
         |            ${Llm.dCosine("qe", "e")} AS score
         |          FROM f$sel f JOIN qp
         |            ON f.cell = qp.cell AND qp.rk <= $p
         |            AND f.vec_id != qp.query_id))
         |  WHERE rk2 <= ${Llm.IvfK})""".stripMargin
    def exCte(sel: Int): String =
      s"""ex$sel AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, id AS neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, id) AS rk2
         |    FROM (SELECT q.query_id, f.vec_id AS id,
         |            ${Llm.dCosine("qe", "e")} AS score
         |          FROM f$sel f, qv q WHERE f.vec_id != q.query_id))
         |  WHERE rk2 <= ${Llm.IvfK})""".stripMargin
    val combos = for { sel <- Seq(1, 3); p <- Seq(1, 2, 4, 8) }
      yield (sel, p)
    val legs = combos.map { case (sel, p) =>
      s"""SELECT CAST($sel AS BIGINT) AS filter_max,
         |  CAST($p AS BIGINT) AS nprobe,
         |  (SELECT COUNT(*) FROM ex$sel) AS n_exact,
         |  (SELECT COUNT(*) FROM ex$sel e JOIN ap${sel}_$p a
         |     ON e.query_id = a.query_id
         |    AND e.neighbor_id = a.neighbor_id) AS n_hit,
         |  (SELECT COUNT(*) FROM f$sel f JOIN qp
         |     ON f.cell = qp.cell AND qp.rk <= $p
         |    AND f.vec_id != qp.query_id) AS n_cand,
         |  (SELECT COUNT(*) FROM f$sel f, qv q
         |   WHERE f.vec_id != q.query_id) AS n_brute"""
        .stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH v AS (
       |  SELECT vec_id,
       |    [CAST(floor(x::DOUBLE * $KmQL + 0.5) AS BIGINT)
       |     for x in embedding] AS vq
       |  FROM embeddings),
       |$dKmChain,
       |va AS (
       |  SELECT vec_id, label, [x::DOUBLE for x in embedding] AS e,
       |    [CAST(floor(x::DOUBLE * $KmQL + 0.5) AS BIGINT)
       |     for x in embedding] AS vq
       |  FROM embeddings),
       |bc AS (
       |  SELECT vec_id, label, e, cell FROM (
       |    SELECT vec_id, label, e, cell,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY dist, cell) AS rk
       |    FROM (SELECT va.vec_id, va.label, va.e, c.cell, $dKmDist AS dist
       |          FROM va, c$KmIters c))
       |  WHERE rk = 1),
       |qv AS (
       |  SELECT vec_id AS query_id, [x::DOUBLE for x in embedding] AS qe,
       |    [CAST(floor(x::DOUBLE * $KmQL + 0.5) AS BIGINT)
       |     for x in embedding] AS vq
       |  FROM embeddings WHERE vec_id % ${Llm.TopkEvery} = 0),
       |qp AS (
       |  SELECT query_id, qe, cell, rk FROM (
       |    SELECT query_id, qe, cell,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY dist, cell) AS rk
       |    FROM (SELECT q.query_id, q.qe, c.cell, $dKmDist AS dist
       |          FROM qv q, c$KmIters c))
       |  WHERE rk <= $KmK),
       |f1 AS (SELECT vec_id, e, cell FROM bc WHERE label < 1),
       |f3 AS (SELECT vec_id, e, cell FROM bc WHERE label < 3),
       |${exCte(1)},
       |${exCte(3)},
       |${combos.map { case (s0, p) => topkCte(s0, p) }.mkString(",\n")}
       |SELECT filter_max, nprobe, n_exact, n_hit,
       |  ROUND(n_hit::DOUBLE / n_exact, 6) AS recall,
       |  n_cand, n_brute,
       |  ROUND(n_cand::DOUBLE / n_brute, 6) AS cand_frac
       |FROM (
       |  $legs)""".stripMargin
  }

  /** The nProbe RECALL/COST CURVE on the persisted filtered index —
    * the q254 strategy panel's missing axis, measured instead of
    * argued: for two filter selectivities (label < 1 ≈ 10% and
    * label < 3 ≈ 31% of the corpus) and nProbe ∈ {1, 2, 4, 8}, the
    * recall@[[Llm.IvfK]] of [[graft.operators.AnnIndex.topKWhere]]
    * against the exact filtered top-k, NEXT TO what each point costs:
    * `n_cand` (candidate pairs actually scored — at scale, the
    * postings rows read from the probed partitions) over `n_brute`
    * (the full filtered bill) as `cand_frac`. The curve is the
    * operating manual for the knob: narrow filters start lower and
    * buy recall back with more probes at cand_frac ≈ nProbe/cells,
    * and nProbe = cells = exact by construction (recall 1.0,
    * cand_frac 1.0) — the endpoint that pins both columns. */
  val q259 = Query("q259_ann_nprobe_curve", annNprobeCurveOracle) {
    (s, dir) =>
    import graft.operators.{AnnIndex, InternalCache, Similarity}
    val name = s"annc_idx_${math.abs(dir.hashCode)}"
    val emb = Tables.embeddings(s, dir)
    AnnIndex.build(s, emb, "vec_id", "embedding", name, KmK, KmDims,
      KmIters, attrCols = Seq("label"))
    val q = emb.filter(col("vec_id") % Llm.TopkEvery === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val posts = s.table(AnnIndex.postingsTable(name))
    // the full 8-probe list per query, rank kept: the p-probe set is
    // its prefix (spec-pinned), so one frame serves every leg's
    // candidate-cost count. Persisted: read by 8 legs in one action.
    val qpr = InternalCache.persist(AnnIndex.rankedProbes(s, name, q, KmK))
    def legsFor(selMax: Int): org.apache.spark.sql.DataFrame = {
      val f = posts.filter(col("label") < selMax)
      val exact = InternalCache.persist(
        Similarity.bruteForceTopK(
            emb.filter(col("label") < selMax), "vec_id", "embedding",
            q, "query_id", "qvec", Llm.IvfK)
          .select(col("query_id"), col("neighbor_id")))
      // brute bill = |f| × |q| minus self-pairs — scalar aggregates,
      // never a materialized cross product
      val brute = f.agg(count(lit(1)).as("__nf"))
        .crossJoin(q.agg(count(lit(1)).as("__nq")))
        .crossJoin(f.join(q.select(col("query_id").as("id")),
            Seq("id"), "left_semi")
          .agg(count(lit(1)).as("__nself")))
        .select((col("__nf") * col("__nq") - col("__nself"))
          .as("n_brute"))
      Seq(1, 2, 4, 8).map { p =>
        val approx = AnnIndex.topKWhere(s, name, q, "query_id", "qvec",
          Llm.IvfK, col("label") < selMax, nProbe = p)
        val hit = exact.join(
            approx.select(col("query_id"), col("neighbor_id")),
            Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hit"))
        val cand = f.join(qpr.filter(col("pidx") < p),
            col("cell") === col("probe") &&
              col("id") =!= col("query_id"))
          .agg(count(lit(1)).as("n_cand"))
        exact.agg(count(lit(1)).as("n_exact"))
          .crossJoin(hit).crossJoin(cand).crossJoin(brute)
          .select(lit(selMax.toLong).as("filter_max"),
            lit(p.toLong).as("nprobe"),
            col("n_exact"), col("n_hit"),
            round(col("n_hit").cast("double") / col("n_exact"), 6)
              .as("recall"),
            col("n_cand"), col("n_brute"),
            round(col("n_cand").cast("double") / col("n_brute"), 6)
              .as("cand_frac"))
      }.reduce(_ unionByName _)
    }
    legsFor(1).unionByName(legsFor(3))
  }

  // ------------------------------------------------------------ q256

  /** q256's oracle: the Lloyd's chain trained on the BASE subset (the
    * corpus the index holds), frozen assignment of the base, 2-probe
    * cells of each DELTA vector, the best in-probed-cell neighbor per
    * delta doc, and the near-dup verdict at the q45 threshold. The
    * verdict compares the ROUNDED cosine (the served value): both
    * engines land on the same 1e-6 grid, so the flag is reproducible
    * where a raw-vs-rounded mix at the boundary would not be. */
  private def annIncDedupOracle: String =
    s"""WITH v AS (
       |  SELECT vec_id,
       |    [CAST(floor(x::DOUBLE * $KmQL + 0.5) AS BIGINT)
       |     for x in embedding] AS vq
       |  FROM embeddings WHERE vec_id % $AnnDeltaMod <> $AnnDeltaRes),
       |$dKmChain,
       |va AS (
       |  SELECT vec_id, [x::DOUBLE for x in embedding] AS e,
       |    [CAST(floor(x::DOUBLE * $KmQL + 0.5) AS BIGINT)
       |     for x in embedding] AS vq
       |  FROM embeddings WHERE vec_id % $AnnDeltaMod <> $AnnDeltaRes),
       |bc AS (
       |  SELECT vec_id, e, cell FROM (
       |    SELECT vec_id, e, cell,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY dist, cell) AS rk
       |    FROM (SELECT va.vec_id, va.e, c.cell, $dKmDist AS dist
       |          FROM va, c$KmIters c))
       |  WHERE rk = 1),
       |qd AS (
       |  SELECT vec_id AS query_id, [x::DOUBLE for x in embedding] AS qe,
       |    [CAST(floor(x::DOUBLE * $KmQL + 0.5) AS BIGINT)
       |     for x in embedding] AS vq
       |  FROM embeddings WHERE vec_id % $AnnDeltaMod = $AnnDeltaRes),
       |qp AS (
       |  SELECT query_id, qe, cell FROM (
       |    SELECT query_id, qe, cell,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY dist, cell) AS rk
       |    FROM (SELECT q.query_id, q.qe, c.cell, $dKmDist AS dist
       |          FROM qd q, c$KmIters c))
       |  WHERE rk <= 2),
       |best AS (
       |  SELECT query_id, neighbor_id, score FROM (
       |    SELECT qp.query_id, bc.vec_id AS neighbor_id,
       |      ${Llm.dCosine("qe", "e")} AS score,
       |      row_number() OVER (PARTITION BY qp.query_id
       |        ORDER BY ${Llm.dCosine("qe", "e")} DESC, bc.vec_id) AS rk
       |    FROM bc JOIN qp ON bc.cell = qp.cell)
       |  WHERE rk = 1)
       |SELECT d.query_id AS vec_id, b.neighbor_id AS dup_of,
       |  ROUND(b.score, 6) AS cosine,
       |  COALESCE(ROUND(b.score, 6) >= ${Llm.NdThreshold}, FALSE)
       |    AS is_dup
       |FROM qd d LEFT JOIN best b ON b.query_id = d.query_id"""
      .stripMargin

  /** INCREMENTAL semantic dedup served from the persisted index — the
    * embedding-space twin of q81's incremental MinHash dedup: a DELTA
    * of new documents is deduplicated against the indexed corpus by
    * querying each delta vector's best 2-probe neighbor
    * ([[graft.operators.AnnIndex.topK]], k = 1) and flagging it at the
    * q45 near-dup threshold. Cost is ∝ delta × probed cells — the
    * corpus is read only through the partition-pruned postings of the
    * cells the delta actually probes, never rescanned or reshuffled,
    * which is the only dedup shape that survives continuous ingest at
    * 100 TB (inline semantic dedup, q79, re-pairs the whole corpus
    * every run). Kept docs are the `is_dup = false` rows; the match
    * column carries the evidence for the drops. */
  val q256 = Query("q256_index_incremental_dedup", annIncDedupOracle) {
    (s, dir) =>
    import graft.operators.AnnIndex
    val name = s"annd_idx_${math.abs(dir.hashCode)}"
    val emb = Tables.embeddings(s, dir)
    AnnIndex.build(s,
      emb.filter(col("vec_id") % AnnDeltaMod =!= AnnDeltaRes),
      "vec_id", "embedding", name, KmK, KmDims, KmIters)
    val delta = emb.filter(col("vec_id") % AnnDeltaMod === AnnDeltaRes)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val best = AnnIndex.topK(s, name, delta, "query_id", "qvec", 1)
      .withColumnRenamed("query_id", "vec_id")
      .select(col("vec_id"), col("neighbor_id"), col("cosine"))
    delta.select(col("query_id").as("vec_id"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("neighbor_id").as("dup_of"),
        col("cosine"),
        coalesce(col("cosine") >= Llm.NdThreshold, lit(false))
          .as("is_dup"))
  }

  // ------------------------------------------------------------ q257

  /** Intra-batch dup fixture for q257: every batch-1 doc with
    * vec_id ≡ 4 (mod [[StreamCloneEvery]]) is re-landed IN THE SAME
    * micro-batch as an exact clone under `vec_id + `[[StreamCloneOff]]
    * — the crawler re-fetch burst shape. Each clone's best candidate
    * is its smaller-id original at cosine exactly 1.0, so the sibling
    * leg of the verdict must drop it; the oracle recomputes every
    * clone verdict alongside the cross-batch ones. */
  private val StreamCloneEvery = 50L
  private val StreamCloneOff = 1000000L

  /** q257's oracle: q256's chain UNROLLED over the two micro-batches.
    * Batch 1 (vec_id ≡ 4 mod 10, PLUS the [[StreamCloneEvery]] clones)
    * verdicts against the base index AND its own smaller-id siblings
    * (assigned-cell ∈ probed cells — the append-then-search shape);
    * its KEPT docs join the corpus (frozen assignment — exactly what
    * [[graft.operators.AnnIndex.append]] publishes); batch 2
    * (vec_id ≡ 9 mod 10) verdicts against base + kept₁ plus ITS
    * siblings, so a batch-2 doc can be dropped against a batch-1 twin
    * — the cross-batch dedup the stream exists for, value-checked. */
  private def annStreamDedupOracle: String = {
    val tau = Llm.NdThreshold
    def assignCte(out: String, in: String): String =
      s"""$out AS (
         |  SELECT vec_id, e, cell FROM (
         |    SELECT vec_id, e, cell,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY dist, cell) AS rk
         |    FROM (SELECT t.vec_id, t.e, c.cell, $dKmDist AS dist
         |          FROM $in t, c$KmIters c))
         |  WHERE rk = 1)""".stripMargin
    def batchCte(out: String, res: Int, clones: Boolean): String = {
      val base =
        s"""SELECT vec_id AS query_id, [x::DOUBLE for x in embedding] AS qe,
           |    [CAST(floor(x::DOUBLE * $KmQL + 0.5) AS BIGINT)
           |     for x in embedding] AS vq
           |  FROM embeddings WHERE vec_id % 10 = $res""".stripMargin
      val cl =
        s"""UNION ALL
           |  SELECT vec_id + $StreamCloneOff AS query_id,
           |    [x::DOUBLE for x in embedding] AS qe,
           |    [CAST(floor(x::DOUBLE * $KmQL + 0.5) AS BIGINT)
           |     for x in embedding] AS vq
           |  FROM embeddings WHERE vec_id % $StreamCloneEvery = $res"""
          .stripMargin
      s"""$out AS (
         |  $base${if (clones) "\n  " + cl else ""})""".stripMargin
    }
    def probeCte(out: String, qCte: String): String =
      s"""$out AS (
         |  SELECT query_id, qe, cell FROM (
         |    SELECT query_id, qe, cell,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY dist, cell) AS rk
         |    FROM (SELECT q.query_id, q.qe, c.cell, $dKmDist AS dist
         |          FROM $qCte q, c$KmIters c))
         |  WHERE rk <= 2)""".stripMargin
    // candidates = index postings of the probed cells UNION smaller-id
    // batch siblings whose assigned cell is probed; the batch's own
    // ids never appear in `corpus` (disjoint residues), mirroring the
    // engine's replay-invariant self-exclusion
    def bestCte(out: String, qpCte: String, corpus: String,
        sib: String): String =
      s"""$out AS (
         |  SELECT query_id, neighbor_id, score FROM (
         |    SELECT query_id, neighbor_id, score,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, neighbor_id) AS rk
         |    FROM (
         |      SELECT qp.query_id, t.vec_id AS neighbor_id,
         |        ${Llm.dCosine("qe", "e")} AS score
         |      FROM $corpus t JOIN $qpCte qp ON t.cell = qp.cell
         |      UNION ALL
         |      SELECT qp.query_id, t.vec_id AS neighbor_id,
         |        ${Llm.dCosine("qe", "e")} AS score
         |      FROM $sib t JOIN $qpCte qp
         |        ON t.cell = qp.cell AND t.vec_id < qp.query_id))
         |  WHERE rk = 1)""".stripMargin
    def verdictCte(out: String, qCte: String, bCte: String): String =
      s"""$out AS (
         |  SELECT d.query_id AS vec_id, b.neighbor_id AS dup_of,
         |    ROUND(b.score, 6) AS cosine,
         |    COALESCE(ROUND(b.score, 6) >= $tau, FALSE) AS is_dup
         |  FROM $qCte d LEFT JOIN $bCte b ON b.query_id = d.query_id)"""
        .stripMargin
    s"""WITH v AS (
       |  SELECT vec_id,
       |    [CAST(floor(x::DOUBLE * $KmQL + 0.5) AS BIGINT)
       |     for x in embedding] AS vq
       |  FROM embeddings WHERE vec_id % $AnnDeltaMod <> $AnnDeltaRes),
       |$dKmChain,
       |va AS (
       |  SELECT vec_id, [x::DOUBLE for x in embedding] AS e,
       |    [CAST(floor(x::DOUBLE * $KmQL + 0.5) AS BIGINT)
       |     for x in embedding] AS vq
       |  FROM embeddings WHERE vec_id % $AnnDeltaMod <> $AnnDeltaRes),
       |${assignCte("bc", "va")},
       |${batchCte("q1", 4, clones = true)},
       |q1c AS (SELECT query_id AS vec_id, qe AS e, vq FROM q1),
       |${assignCte("sb1", "q1c")},
       |${probeCte("qp1", "q1")},
       |${bestCte("b1", "qp1", "bc", "sb1")},
       |${verdictCte("v1", "q1", "b1")},
       |k1 AS (
       |  SELECT q.query_id AS vec_id, q.qe AS e, q.vq
       |  FROM q1 q JOIN v1 ON v1.vec_id = q.query_id
       |  WHERE NOT v1.is_dup),
       |${assignCte("bk1", "k1")},
       |bc2 AS (
       |  SELECT vec_id, e, cell FROM bc
       |  UNION ALL SELECT vec_id, e, cell FROM bk1),
       |${batchCte("q2", 9, clones = false)},
       |q2c AS (SELECT query_id AS vec_id, qe AS e, vq FROM q2),
       |${assignCte("sb2", "q2c")},
       |${probeCte("qp2", "q2")},
       |${bestCte("b2", "qp2", "bc2", "sb2")},
       |${verdictCte("v2", "q2", "b2")}
       |SELECT vec_id, dup_of, cosine, is_dup FROM v1
       |UNION ALL SELECT vec_id, dup_of, cosine, is_dup FROM v2"""
      .stripMargin
  }

  /** q256 AS A STREAM — the production front door
    * ([[graft.operators.AnnIndex.streamIngestDedup]]): the delta
    * arrives as two micro-batch files (vec_id ≡ 4, then ≡ 9, mod 10;
    * landed with strictly ordered mtimes so the file source's batch
    * order is deterministic), each batch is verdict-ed against the
    * CURRENT index, audited idempotently (per-batch-id overwrite),
    * and its kept docs are appended — so batch 2 deduplicates against
    * batch 1's survivors, the cross-batch catch a one-shot delta
    * check cannot make. Batch 1 additionally carries the
    * [[StreamCloneEvery]] intra-batch clone fixture: the verdict's
    * sibling leg (smaller-id batch docs in the probed cells) must
    * drop every clone against its original — a re-fetch burst inside
    * one micro-batch lands exactly one representative. Result = the
    * accumulated audit, which the oracle replays batch-sequentially.
    * Scale posture: per-batch cost ∝ batch × probed cells
    * (partition-pruned postings reads + the delta-proportional
    * append); the corpus is never rescanned. */
  val q257 = Query("q257_stream_ingest_dedup", annStreamDedupOracle) {
    (s, dir) =>
    import graft.operators.AnnIndex
    import org.apache.hadoop.fs.Path
    val tag = math.abs(dir.hashCode).toString
    val name = s"anns_idx_$tag"
    val emb = Tables.embeddings(s, dir)
    AnnIndex.build(s,
      emb.filter(col("vec_id") % AnnDeltaMod =!= AnnDeltaRes),
      "vec_id", "embedding", name, KmK, KmDims, KmIters)
    val landing = s"/tmp/graft_annstream_dedup_land_$tag"
    val audit = s"/tmp/graft_annstream_dedup_audit_$tag"
    Seq(landing, audit).foreach(p => graft.sources.Ingest.deletePath(s, p))
    val conf = s.sparkContext.hadoopConfiguration
    val fs = new Path(landing).getFileSystem(conf)
    fs.mkdirs(new Path(landing))
    // one file per micro-batch, mtimes strictly ordered: the file
    // source processes oldest-first, so the batch sequence (and with
    // it the cross-batch verdicts) is deterministic
    def land(df: org.apache.spark.sql.DataFrame, n: String,
        ageMs: Long): Unit = {
      val tmp = s"${landing}_tmp_$n"
      graft.sources.Ingest.deletePath(s, tmp)
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.globStatus(new Path(s"$tmp/part-*")).head
      val dest = new Path(landing, s"$n.parquet")
      org.apache.hadoop.fs.FileUtil.copy(fs, part.getPath, fs, dest,
        false, true, conf)
      fs.setTimes(dest, System.currentTimeMillis() - ageMs, -1)
    }
    // batch 1 carries the re-fetch-burst fixture: exact clones of a
    // subset of its own docs under shifted ids, landed in the SAME
    // file — the intra-batch sibling leg must drop every clone
    land(emb.filter(col("vec_id") % 10 === 4).unionByName(
      emb.filter(col("vec_id") % StreamCloneEvery === 4)
        .withColumn("vec_id", col("vec_id") + StreamCloneOff)),
      "b0", 60000L)
    land(emb.filter(col("vec_id") % 10 === 9), "b1", 30000L)
    val ckpt = "/tmp/graft_annstream_dedup_ckpt_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    AnnIndex.streamIngestDedup(s, name, landing, ckpt, "vec_id",
      "embedding", Llm.NdThreshold, audit, emb.schema)
    s.read.parquet(s"$audit/b*")
      .select(col("vec_id"), col("dup_of"), col("cosine"), col("is_dup"))
  }

  // ------------------------------------------------------------ q249

  /** q249's oracle: TWO Lloyd's chains — frozen (trained on the base
    * subset, the q247 index state) and retrained (trained on
    * everything, prefix `r`) — then for each: frozen/retrained
    * assignment of the full corpus, 2-probe query cells, in-cell
    * cosine top-k, and recall against the exact brute-force top-k. */
  private def annRetrainOracle: String =
    s"""WITH v AS (
       |  SELECT vec_id,
       |    [CAST(floor(x::DOUBLE * $KmQL + 0.5) AS BIGINT)
       |     for x in embedding] AS vq
       |  FROM embeddings WHERE vec_id % $AnnDeltaMod <> $AnnDeltaRes),
       |$dKmChain,
       |vall AS (
       |  SELECT vec_id, [x::DOUBLE for x in embedding] AS e,
       |    [CAST(floor(x::DOUBLE * $KmQL + 0.5) AS BIGINT)
       |     for x in embedding] AS vq
       |  FROM embeddings),
       |${dKmChainP("r", "vall")},
       |qv AS (
       |  SELECT vec_id AS query_id, [x::DOUBLE for x in embedding] AS qe,
       |    [CAST(floor(x::DOUBLE * $KmQL + 0.5) AS BIGINT)
       |     for x in embedding] AS vq
       |  FROM embeddings WHERE vec_id % ${Llm.TopkEvery} = 0),
       |bcf AS (
       |  SELECT vec_id, e, cell FROM (
       |    SELECT vec_id, e, cell,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY dist, cell) AS rk
       |    FROM (SELECT v.vec_id, v.e, c.cell, $dKmDist AS dist
       |          FROM vall v, c$KmIters c))
       |  WHERE rk = 1),
       |bcr AS (
       |  SELECT vec_id, e, cell FROM (
       |    SELECT vec_id, e, cell,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY dist, cell) AS rk
       |    FROM (SELECT v.vec_id, v.e, c.cell, $dKmDist AS dist
       |          FROM vall v, rc$KmIters c))
       |  WHERE rk = 1),
       |qpf AS (
       |  SELECT query_id, qe, cell FROM (
       |    SELECT query_id, qe, cell,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY dist, cell) AS rk
       |    FROM (SELECT v.query_id, v.qe, c.cell, $dKmDist AS dist
       |          FROM qv v, c$KmIters c))
       |  WHERE rk <= 2),
       |qpr AS (
       |  SELECT query_id, qe, cell FROM (
       |    SELECT query_id, qe, cell,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY dist, cell) AS rk
       |    FROM (SELECT v.query_id, v.qe, c.cell, $dKmDist AS dist
       |          FROM qv v, rc$KmIters c))
       |  WHERE rk <= 2),
       |resf AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, id AS neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY score DESC, id) AS rk
       |    FROM (SELECT qpf.query_id, bcf.vec_id AS id,
       |            ${Llm.dCosine("qe", "e")} AS score
       |          FROM bcf JOIN qpf
       |            ON bcf.cell = qpf.cell AND bcf.vec_id != qpf.query_id))
       |  WHERE rk <= ${Llm.IvfK}),
       |resr AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, id AS neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY score DESC, id) AS rk
       |    FROM (SELECT qpr.query_id, bcr.vec_id AS id,
       |            ${Llm.dCosine("qe", "e")} AS score
       |          FROM bcr JOIN qpr
       |            ON bcr.cell = qpr.cell AND bcr.vec_id != qpr.query_id))
       |  WHERE rk <= ${Llm.IvfK}),
       |ex AS (SELECT query_id, neighbor_id FROM (
       |${Llm.bruteForceOracle(Llm.IvfK)})),
       |rec AS (
       |  SELECT 'ivf_frozen' AS method,
       |    (SELECT COUNT(*) FROM ex) AS n_exact,
       |    (SELECT COUNT(*) FROM ex JOIN resf
       |       ON ex.query_id = resf.query_id
       |      AND ex.neighbor_id = resf.neighbor_id) AS n_hit
       |  UNION ALL SELECT 'ivf_retrained',
       |    (SELECT COUNT(*) FROM ex),
       |    (SELECT COUNT(*) FROM ex JOIN resr
       |       ON ex.query_id = resr.query_id
       |      AND ex.neighbor_id = resr.neighbor_id))
       |SELECT method, CAST(n_exact AS BIGINT) AS n_exact,
       |  CAST(n_hit AS BIGINT) AS n_hit,
       |  ROUND(CAST(n_hit AS DOUBLE) / n_exact, 6) AS recall
       |FROM rec""".stripMargin

  /** The retrain-decision monitor for the PERSISTED index: recall@k of
    * the incrementally maintained index (centroids FROZEN at
    * base-build time, delta appended) vs a freshly retrained index
    * over the same final content, both through the identical 2-probe
    * search, both against the exact brute-force top-k. This is the
    * production "when do appended deltas justify retraining the
    * coarse quantizer" measurement — the recall gap between the two
    * rows IS the staleness cost of the frozen centroids. Training
    * cost: the retrained leg reuses the full-corpus Lloyd's run shape
    * of q99; search and recall legs are probe-bounded. */
  val q249 = Query("q249_ann_retrain_monitor", annRetrainOracle) { (s, dir) =>
    import graft.operators.{AnnIndex, InternalCache}
    val h = math.abs(dir.hashCode)
    val emb = Tables.embeddings(s, dir)
    val base = emb.filter(col("vec_id") % AnnDeltaMod =!= AnnDeltaRes)
    val delta = emb.filter(col("vec_id") % AnnDeltaMod === AnnDeltaRes)
    val nF = s"ann_mon_frozen_$h"
    val nR = s"ann_mon_retr_$h"
    AnnIndex.build(s, base, "vec_id", "embedding", nF, KmK, KmDims,
      KmIters)
    AnnIndex.append(s, nF, delta, "vec_id", "embedding")
    AnnIndex.build(s, emb, "vec_id", "embedding", nR, KmK, KmDims,
      KmIters)
    val q = emb.filter(col("vec_id") % Llm.TopkEvery === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val exact = InternalCache.persist(Llm.bruteForceShared(s, dir)
      .filter(col("rank") <= Llm.IvfK)
      .select("query_id", "neighbor_id"))
    val leg = Llm.recallLeg(exact) _
    leg("ivf_frozen",
        AnnIndex.topK(s, nF, q, "query_id", "qvec", Llm.IvfK))
      .unionByName(leg("ivf_retrained",
        AnnIndex.topK(s, nR, q, "query_id", "qvec", Llm.IvfK)))
  }

  // ------------------------------------------------------------ q120

  private val BpeK = 6

  /** The q120 oracle: the ENTIRE BPE training loop unrolled as CTEs —
    * pair counts, deterministic argmax (freq desc, then pair), and the
    * `list_reduce` merge fold, [[BpeK]] rounds deep. Every round's
    * winning pair must match the distributed trainer's merge-for-merge,
    * so the oracle checks the training TRAJECTORY, not just the final
    * table. */
  private def bpeOracle: String = {
    def pairs(src: String, out: String) =
      s"""$out AS (
         |  SELECT p.x AS x, p.y AS y, CAST(COUNT(*) AS BIGINT) AS f
         |  FROM (SELECT UNNEST([{'x': t[i], 'y': t[i + 1]}
         |      for i in range(1, len(t))]) AS p FROM $src)
         |  GROUP BY 1, 2)""".stripMargin
    def best(src: String, out: String) =
      s"$out AS (SELECT x, y, f FROM $src ORDER BY f DESC, x, y LIMIT 1)"
    def merge(src: String, b: String, out: String) =
      s"""$out AS (
         |  SELECT CASE WHEN len(t) <= 1 THEN t
         |    ELSE string_split(list_reduce(t, (acc, e) -> CASE
         |      WHEN e = $b.y AND acc = $b.x THEN $b.x || chr(1) || $b.y
         |      WHEN e = $b.y AND ends_with(acc, ' ' || $b.x)
         |        THEN left(acc, length(acc) - length($b.x)) ||
         |          $b.x || chr(1) || $b.y
         |      ELSE acc || ' ' || e END), ' ')
         |    END AS t
         |  FROM $src CROSS JOIN $b)""".stripMargin
    val rounds = (1 to BpeK).flatMap { r =>
      Seq(pairs(s"t${r - 1}", s"p$r"), best(s"p$r", s"b$r")) ++
        (if (r < BpeK) Seq(merge(s"t${r - 1}", s"b$r", s"t$r")) else Nil)
    }.mkString(",\n")
    val legs = (1 to BpeK)
      .map(r => s"SELECT CAST($r AS BIGINT) AS merge_rank, x AS left_tok," +
        s" y AS right_tok, f AS freq FROM b$r")
      .mkString("\nUNION ALL\n")
    s"""WITH t0 AS (
       |  SELECT ${Llm.DTokens} AS t FROM documents),
       |$rounds
       |$legs""".stripMargin
  }

  /** Distributed BPE merge-rule training ([[graft.operators.Bpe]]):
    * [[BpeK]] greedy rounds over the documents corpus at word level —
    * the tokenizer-training workload of an LLM data pipeline, run as
    * k map-side-combinable pair counts + k row-local merge folds, with
    * one bounded argmax scalar per round (the k-means action class).
    * The oracle replays the full loop; a single diverging merge or
    * count anywhere in the trajectory fails the hash. */
  /** The trained merge-rule list — SHARED driver-side value (the
    * kmCentsShared pattern): q120 reports the trajectory, q148
    * encodes with it. */
  private def bpeMergesShared(s: SparkSession,
      dir: String): Seq[(Int, String, String, Long)] =
    graft.operators.SharedFrames.getOrCompute(
        graft.operators.SharedFrames.key(s, dir, "bpe_merges",
          s"$BpeK")) {
      graft.operators.Bpe.learnMerges(Tables.documents(s, dir), "text",
        BpeK)
    }

  val q120 = Query("q120_bpe_merges", bpeOracle) { (s, dir) =>
    val merges = bpeMergesShared(s, dir)
    import s.implicits._
    merges.toDF("merge_rank", "left_tok", "right_tok", "freq")
      .select(col("merge_rank").cast("long").as("merge_rank"),
        col("left_tok"), col("right_tok"), col("freq"))
  }

  // ------------------------------------------------------------ q148

  /** BPE ENCODE — the apply step completing q120's train step: the
    * trained merge rules run over the whole corpus as [[BpeK]] chained
    * row-local merge folds (`Bpe.applyMerges` — no shuffle at all for
    * the encode; the only exchange is the final per-language rollup),
    * surfaced as per-language token counts and the compression ratio
    * the tokenizer actually achieves. The oracle replays training AND
    * encoding; any divergence in either phase fails the hash. The
    * trained rule list is a bounded driver value (k rows, the q99
    * centroid pattern). */
  val q148 = Query(
    "q148_bpe_encode", {
      def pairs(src: String, out: String) =
        s"""$out AS (
           |  SELECT p.x AS x, p.y AS y, CAST(COUNT(*) AS BIGINT) AS f
           |  FROM (SELECT UNNEST([{'x': t[i], 'y': t[i + 1]}
           |      for i in range(1, len(t))]) AS p FROM $src)
           |  GROUP BY 1, 2)""".stripMargin
      def best(src: String, out: String) =
        s"$out AS (SELECT x, y, f FROM $src ORDER BY f DESC, x, y LIMIT 1)"
      // carries (lang, n0) through every fold so the rollup can see them
      def merge(src: String, b: String, out: String) =
        s"""$out AS (
           |  SELECT lang, n0, CASE WHEN len(t) <= 1 THEN t
           |    ELSE string_split(list_reduce(t, (acc, e) -> CASE
           |      WHEN e = $b.y AND acc = $b.x THEN $b.x || chr(1) || $b.y
           |      WHEN e = $b.y AND ends_with(acc, ' ' || $b.x)
           |        THEN left(acc, length(acc) - length($b.x)) ||
           |          $b.x || chr(1) || $b.y
           |      ELSE acc || ' ' || e END), ' ')
           |    END AS t
           |  FROM $src CROSS JOIN $b)""".stripMargin
      val rounds = (1 to BpeK).flatMap { r =>
        Seq(pairs(s"t${r - 1}", s"p$r"), best(s"p$r", s"b$r"),
          merge(s"t${r - 1}", s"b$r", s"t$r"))
      }.mkString(",\n")
      s"""WITH t0 AS (
         |  SELECT lang, len(${Llm.DTokens}) AS n0, ${Llm.DTokens} AS t
         |  FROM documents),
         |$rounds
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n0) AS BIGINT) AS word_tokens,
         |  CAST(SUM(len(t)) AS BIGINT) AS bpe_tokens,
         |  round(SUM(n0)::DOUBLE / SUM(len(t))::DOUBLE, 6)
         |    AS compression
         |FROM t$BpeK GROUP BY lang""".stripMargin
    }) { (s, dir) =>
    import graft.operators.Bpe
    import graft.functions.Functions.tokens
    val merges = bpeMergesShared(s, dir).map { case (_, x, y, _) => (x, y) }
    // staged form (one projection per merge): the single-Column fold
    // inlined ~5^k copies of the tokenizer subtree — a measured ~15 s
    // planning bill at k = 6 (`Plans time`, r14); same row semantics
    Bpe.applyMergesStaged(
        Tables.documents(s, dir)
          .select(col("lang"), tokens(col("text")).as("t"))
          .select(col("lang"), size(col("t")).as("n0"), col("t")),
        "t", "enc", merges)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n0")).as("word_tokens"),
        sum(size(col("enc"))).as("bpe_tokens"),
        round(sum(col("n0")).cast("double") /
          sum(size(col("enc"))).cast("double"), 6).as("compression"))
  }

  // ------------------------------------------------------------ q213

  /** Per-cluster silhouette of the trained k-means cells (q99's shared
    * centroids) — the geometric cluster-quality diagnostic beside
    * q191's label purity: purity asks "do clusters respect the
    * taxonomy", silhouette asks "are they SEPARATED at all", and
    * together they gate any downstream use of the clustering (q92
    * splits, q79 semantic dedup, q100 IVF cells). Centroid-based
    * (simplified) silhouette: per point, a = distance to its own
    * centroid, b = distance to the best OTHER centroid —
    * s = (b−a)/max(a,b) ∈ [−1,1]; a negative s is a point literally
    * closer to another cell's centroid (reported as `n_misfit`).
    *
    * Scale: one assignment scan (centroids are broadcast literals,
    * the runner-up distance is the same per-row argmin machinery —
    * O(k) per row, no pairwise anything), then a map-side-combinable
    * per-cell aggregate. Determinism: a and b are IEEE sqrt of the
    * exact strict-fold L2² distances, s is one fixed division, and
    * per-point s quantizes to a 1e-6 integer grid before summing —
    * so per-cell sums are exact and the oracle (same Lloyd's chain,
    * rk ≤ 2 of the same argmin window) replays bit for bit. */
  val q213 = Query(
    "q213_silhouette",
    s"""WITH v AS (
       |  SELECT vec_id,
       |    [CAST(floor(x::DOUBLE * $KmQL + 0.5) AS BIGINT)
       |     for x in embedding] AS vq
       |  FROM embeddings),
       |$dKmChain,
       |nn2 AS (
       |  SELECT vec_id,
       |    MAX(CASE WHEN rk = 1 THEN cell END) AS cell,
       |    MAX(CASE WHEN rk = 1 THEN dist END) AS d1,
       |    MAX(CASE WHEN rk = 2 THEN dist END) AS d2
       |  FROM (
       |    SELECT vec_id, cell, dist,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY dist, cell) AS rk
       |    FROM (SELECT v.vec_id, c.cell, $dKmDist AS dist
       |          FROM v, c$KmIters c))
       |  WHERE rk <= 2 GROUP BY vec_id),
       |sil AS (
       |  SELECT cell,
       |    CASE WHEN greatest(sqrt(d1), sqrt(d2)) > 0 THEN
       |      CAST(floor(((sqrt(d2) - sqrt(d1))
       |        / greatest(sqrt(d1), sqrt(d2))) * $KmQL) AS BIGINT)
       |    ELSE 0 END AS sq
       |  FROM nn2)
       |SELECT CAST(cell AS BIGINT) AS cell,
       |  CAST(COUNT(*) AS BIGINT) AS n_vectors,
       |  CAST(SUM(CASE WHEN sq < 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_misfit,
       |  ROUND(CAST(SUM(sq) AS DOUBLE) / (COUNT(*) * $KmQL), 6)
       |    AS mean_silhouette
       |FROM sil GROUP BY 1""".stripMargin) { (s, dir) =>
    import graft.operators.KMeans
    val cents = kmCentsShared(s, dir)
    val a2 = KMeans.nearestCells(kmVqShared(s, dir), "vq", cents, 2)
    val aD = sqrt(col("__pdist0"))
    val bD = sqrt(col("__pdist1"))
    val sil = a2.select(col("__probe0").cast("long").as("cell"),
      when(greatest(aD, bD) > 0,
        floor(((bD - aD) / greatest(aD, bD)) * lit(KMeans.Q))
          .cast("long"))
        .otherwise(0L).as("sq"))
    sil.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("sq") < 0, 1L).otherwise(0L)).as("n_misfit"),
        round(sum(col("sq")).cast("double") /
          (count(lit(1)) * lit(KMeans.Q)), 6).as("mean_silhouette"))
  }

  // ------------------------------------------------------------ q214

  private val PcaIters = 6

  /** DuckDB fragment: the pca init component for dim `d` (1-based
    * CTE dim), quantized — mirrors `hash60("pca:" + (d-1))`. */
  private def dPcaInit: String =
    s"""CAST(floor((((('0x' || substr(md5('pca:' ||
       |  CAST(d - 1 AS VARCHAR)), 1, 15))::BIGINT % 1001) - 500)
       |  / 500.0) * $KmQL + 0.5) AS BIGINT)""".stripMargin

  /** Top principal component of the embedding corpus (loadings +
    * explained-variance share) — the embedding-space diagnostic run
    * before whitening, ANN indexing, or dimensionality reduction: a
    * dominant component with a high share means the space is
    * anisotropic and cosine scores are inflated along it (the
    * "all-but-the-top" observation for text embeddings).
    *
    * Distributed part: ONE scan builds the exact sufficient
    * statistics — per-dim sums and the 2 080 upper-triangle
    * cross-sums of the 1e-6-quantized components (a per-row Generate
    * of pair products, partial-aggregated map-side; DECIMAL(38) sums).
    * Driver part: the 64×64 n²-scaled integer covariance
    * `Cq = n·Σqq − Σq·Σq` (BigInt, exact) and [[PcaIters]] power
    * iterations — bounded 64²-scalar state, the same bounded-collect
    * contract as [[graft.operators.KMeans.fit]].
    *
    * Determinism: each iteration's matvec is an EXACT integer sum
    * (order-free); the normalization crosses to double via the
    * string route (correctly-rounded parse on both engines), squares
    * and sums in a STRICT ascending-dim fold, and re-quantizes to the
    * 1e-6 grid — so the whole trajectory, and the final
    * Rayleigh-quotient share `vᵀCv / (tr(C)·vᵀv)` (exact integers,
    * one double division chain), replays bit for bit in the oracle's
    * MATERIALIZED CTE chain. Integer headroom: the matvec product
    * peaks ≈ Cq·Q·64 ≈ 10²⁶ at the test scales (int128-safe to
    * ~10⁶ more vectors; beyond that the n²-scaling must move to the
    * mean-centered form — recorded, not hidden). */
  /** The full PCA oracle CTE chain: quantized vectors, exact
    * sufficient statistics, the n²-scaled integer covariance, and the
    * [[PcaIters]]-step power-iteration trajectory ending at CTE
    * `p$PcaIters`. Shared by q214 and q215. */
  private def dPcaChain: String = {
      val iters = (1 to PcaIters).map { t =>
        s"""w$t AS MATERIALIZED (
           |  SELECT cov.d, SUM(cov.c * p${t - 1}.vq) AS w
           |  FROM cov JOIN p${t - 1} ON p${t - 1}.d = cov.e
           |  GROUP BY 1),
           |wd$t AS MATERIALIZED (
           |  SELECT d, CAST(CAST(w AS VARCHAR) AS DOUBLE) AS wd
           |  FROM w$t),
           |nn$t AS (
           |  SELECT list_reduce([x * x for x in l], (a, b) -> a + b)
           |    AS nn
           |  FROM (SELECT list(wd ORDER BY d) AS l FROM wd$t)),
           |p$t AS MATERIALIZED (
           |  SELECT wd$t.d,
           |    CASE WHEN nn.nn > 0 THEN
           |      CAST(floor(wd / sqrt(nn.nn) * $KmQL + 0.5) AS BIGINT)
           |    ELSE pp.vq END AS vq
           |  FROM wd$t CROSS JOIN nn$t nn
           |  JOIN p${t - 1} pp ON pp.d = wd$t.d)""".stripMargin
      }.mkString(",\n")
      s"""v AS (
         |  SELECT [CAST(floor(x::DOUBLE * $KmQL + 0.5) AS BIGINT)
         |    for x in embedding] AS vq
         |  FROM embeddings),
         |dims AS (SELECT unnest(range(1, ${KmDims + 1})) AS d),
         |n AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM v),
         |s1 AS (
         |  SELECT d, SUM(CAST(vq[d] AS HUGEINT)) AS sd
         |  FROM v CROSS JOIN dims GROUP BY 1),
         |pr AS (
         |  SELECT a.d AS di, b.d AS de
         |  FROM dims a JOIN dims b ON b.d >= a.d),
         |s2 AS (
         |  SELECT di, de, SUM(CAST(vq[di] AS HUGEINT) * vq[de]) AS sde
         |  FROM v CROSS JOIN pr GROUP BY 1, 2),
         |cov AS MATERIALIZED (
         |  SELECT di AS d, de AS e,
         |    n.n * sde - x.sd * y.sd AS c
         |  FROM s2 JOIN s1 x ON x.d = s2.di
         |  JOIN s1 y ON y.d = s2.de CROSS JOIN n
         |  UNION ALL
         |  SELECT de AS d, di AS e,
         |    n.n * sde - x.sd * y.sd AS c
         |  FROM s2 JOIN s1 x ON x.d = s2.di
         |  JOIN s1 y ON y.d = s2.de CROSS JOIN n
         |  WHERE di != de),
         |p0 AS MATERIALIZED (SELECT d, $dPcaInit AS vq FROM dims),
         |$iters"""
  }

  /** The trained top component (1e-6-quantized loadings) and the
    * exact n²-scaled integer covariance — SHARED driver-side values
    * (q214 reports them, q215 projects the component out). One corpus
    * scan builds the sufficient statistics: a per-row Generate of the
    * 2080 upper-triangle pair products, partial-aggregated map-side,
    * plus the per-dim sums via posexplode; the driver holds only the
    * bounded 64x64 BigInt matrix and the power-iteration state. */
  private[queries] def pcaTopShared(s: SparkSession,
      dir: String): (Array[Long], Array[Array[BigInt]]) =
    graft.operators.SharedFrames.getOrCompute(
        graft.operators.SharedFrames.key(s, "pcaTop", dir)) {
      import graft.operators.KMeans
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val vq = kmVqShared(s, dir)
      val pairStructs = flatten(transform(
        sequence(lit(1), lit(KmDims)), i =>
          transform(sequence(i, lit(KmDims)), j =>
            struct(i.as("di"), j.as("de"),
              (element_at(col("vq"), i) * element_at(col("vq"), j))
                .as("p")))))
      val s2 = vq.select(explode(pairStructs).as("pe"))
        .select(col("pe.di").as("di"), col("pe.de").as("de"),
          col("pe.p").as("p"))
        .groupBy(col("di"), col("de"))
        .agg(sum(col("p").cast(d38)).as("sde"))
        .collect() // bounded: 2080 rows of scalars
      val s1 = vq.select(posexplode(col("vq")).as(Seq("pos", "q")))
        .groupBy(col("pos")).agg(sum(col("q").cast(d38)).as("sd"))
        .collect() // bounded: 64 rows
      val nRows = vq.count()
      // ---- driver: exact BigInt covariance + power iteration ------
      val Q = KMeans.Q
      val n = BigInt(nRows)
      val sd = Array.fill(KmDims)(BigInt(0))
      s1.foreach(r => sd(r.getAs[Int]("pos")) =
        BigInt(r.getAs[java.math.BigDecimal]("sd").toBigInteger))
      val cov = Array.fill(KmDims, KmDims)(BigInt(0))
      s2.foreach { r =>
        val di = r.getAs[Int]("di") - 1
        val de = r.getAs[Int]("de") - 1
        val sde =
          BigInt(r.getAs[java.math.BigDecimal]("sde").toBigInteger)
        val c = n * sde - sd(di) * sd(de)
        cov(di)(de) = c
        cov(de)(di) = c
      }
      def dd(x: BigInt): Double =
        java.lang.Double.parseDouble(x.toString)
      def matvec(pp: Array[Long]): Array[BigInt] =
        Array.tabulate(KmDims)(d =>
          (0 until KmDims).foldLeft(BigInt(0))((a, e) =>
            a + cov(d)(e) * pp(e)))
      var p = Array.tabulate(KmDims)(d => math.floor(
        ((KMeans.hash60(s"pca:$d") % 1001) - 500) / 500.0 * Q + 0.5)
        .toLong)
      for (_ <- 1 to PcaIters) {
        val w = matvec(p)
        val wd = w.map(dd)
        val nn = wd.map(x => x * x).reduceLeft(_ + _)
        if (nn > 0)
          p = wd.map(x =>
            math.floor(x / math.sqrt(nn) * Q + 0.5).toLong)
      }
      (p, cov)
    }

  val q214 = Query(
    "q214_pca_top_component",
    s"""WITH $dPcaChain,
         |wf AS (
         |  SELECT cov.d, SUM(cov.c * p$PcaIters.vq) AS w
         |  FROM cov JOIN p$PcaIters ON p$PcaIters.d = cov.e
         |  GROUP BY 1),
         |ray AS (
         |  SELECT SUM(p.vq * wf.w) AS r
         |  FROM p$PcaIters p JOIN wf ON wf.d = p.d),
         |tr AS (SELECT SUM(c) AS t FROM cov WHERE d = e),
         |v2 AS (
         |  SELECT SUM(CAST(vq AS HUGEINT) * vq) AS q2 FROM p$PcaIters)
         |SELECT CAST(p.d AS BIGINT) AS dim,
         |  ROUND(CAST(p.vq AS DOUBLE) / $KmQL, 6) AS loading,
         |  CASE WHEN tr.t > 0 AND v2.q2 > 0 THEN
         |    ROUND((CAST(CAST(ray.r AS VARCHAR) AS DOUBLE)
         |      / CAST(CAST(tr.t AS VARCHAR) AS DOUBLE))
         |      / CAST(CAST(v2.q2 AS VARCHAR) AS DOUBLE), 6)
         |  END AS explained_share
         |FROM p$PcaIters p CROSS JOIN ray CROSS JOIN tr
         |CROSS JOIN v2""".stripMargin) { (s, dir) =>
    val (p, cov) = pcaTopShared(s, dir)
    def dd(x: BigInt): Double = java.lang.Double.parseDouble(x.toString)
    def matvec(pp: Array[Long]): Array[BigInt] =
      Array.tabulate(KmDims)(d =>
        (0 until KmDims).foldLeft(BigInt(0))((a, e) =>
          a + cov(d)(e) * pp(e)))
    val wf = matvec(p)
    val ray = (0 until KmDims).foldLeft(BigInt(0))((a, d) =>
      a + BigInt(p(d)) * wf(d))
    val tr = (0 until KmDims).foldLeft(BigInt(0))((a, d) =>
      a + cov(d)(d))
    val v2 = p.foldLeft(BigInt(0))((a, x) => a + BigInt(x) * BigInt(x))
    val share: java.lang.Double =
      if (tr > 0 && v2 > 0)
        BigDecimal((dd(ray) / dd(tr)) / dd(v2))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      else null.asInstanceOf[java.lang.Double]
    import s.implicits._
    p.zipWithIndex.toIndexedSeq
      .map { case (q, d) =>
        ((d + 1).toLong, q / graft.operators.KMeans.Q, share) }
      .toDF("dim", "__raw", "explained_share")
      .select(col("dim"), round(col("__raw"), 6).as("loading"),
        col("explained_share"))
  }

  // ------------------------------------------------------------ q215

  private val IsoStride = 29 // probe sample: vec_id % stride == 0

  /** Embedding isotropy before/after removing the top principal
    * component — the "all-but-the-top" (ABTT) post-processing check:
    * text-embedding spaces concentrate mass on a few dominant
    * directions, inflating every cosine; removing the top component
    * is the standard one-line fix, and THIS query measures whether it
    * actually helps on this corpus (mean |cos| over a deterministic
    * probe sample, raw vs projected). Read with q214's
    * explained_share: high share + large isotropy gain ⇒ apply ABTT
    * before the ANN/semantic-dedup passes (q24-q53, q79).
    *
    * Scale: the component comes from the SHARED [[pcaTopShared]]
    * training (one corpus scan per run); the probe set is
    * stride-bounded, so the pair stage is O(probes²) on a broadcast
    * frame, never corpus-pairwise. Determinism: projections and dot
    * products are strict ascending-dim folds of IEEE doubles
    * (identical trees in the oracle's list comprehensions), per-pair
    * |cos| quantizes to the 1e-6 grid before summing, and the
    * component/v·v cross from the driver bit-equals the oracle's CTE
    * replay of the same power iteration. */
  val q215 = Query(
    "q215_embedding_isotropy",
    s"""WITH $dPcaChain,
       |pv AS MATERIALIZED (
       |  SELECT list(CAST(vq AS DOUBLE) / $KmQL ORDER BY d) AS vl
       |  FROM p$PcaIters),
       |pvv AS MATERIALIZED (
       |  SELECT vl,
       |    list_reduce([x * x for x in vl], (a, b) -> a + b) AS vv
       |  FROM pv),
       |probes AS MATERIALIZED (
       |  SELECT vec_id, [x::DOUBLE for x in embedding] AS xd
       |  FROM embeddings WHERE vec_id % $IsoStride = 0),
       |pj AS MATERIALIZED (
       |  SELECT vec_id, xd,
       |    CASE WHEN vv > 0 THEN
       |      list_reduce([xd[i] * vl[i]
       |        for i in range(1, ${KmDims + 1})], (a, b) -> a + b) / vv
       |    ELSE 0.0 END AS r
       |  FROM probes CROSS JOIN pvv),
       |yv AS MATERIALIZED (
       |  SELECT vec_id, xd,
       |    [xd[i] - r * vl[i] for i in range(1, ${KmDims + 1})] AS yd
       |  FROM pj CROSS JOIN pvv),
       |nrm AS MATERIALIZED (
       |  SELECT vec_id, xd, yd,
       |    list_reduce([x * x for x in xd], (a, b) -> a + b) AS nx,
       |    list_reduce([x * x for x in yd], (a, b) -> a + b) AS ny
       |  FROM yv),
       |pp AS (
       |  SELECT
       |    list_reduce([x.xd[i] * y.xd[i]
       |      for i in range(1, ${KmDims + 1})], (a, b) -> a + b)
       |      AS dotx,
       |    list_reduce([x.yd[i] * y.yd[i]
       |      for i in range(1, ${KmDims + 1})], (a, b) -> a + b)
       |      AS doty,
       |    x.nx AS nxa, y.nx AS nxb, x.ny AS nya, y.ny AS nyb
       |  FROM nrm x JOIN nrm y ON y.vec_id > x.vec_id),
       |qc AS (
       |  SELECT
       |    CASE WHEN nxa > 0 AND nxb > 0 THEN
       |      CAST(floor(abs(dotx / (sqrt(nxa) * sqrt(nxb))) * $KmQL)
       |        AS BIGINT) END AS cb,
       |    CASE WHEN nya > 0 AND nyb > 0 THEN
       |      CAST(floor(abs(doty / (sqrt(nya) * sqrt(nyb))) * $KmQL)
       |        AS BIGINT) END AS ca
       |  FROM pp)
       |SELECT
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM probes) AS n_probes,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CASE WHEN COUNT(cb) > 0 THEN
       |    ROUND(CAST(SUM(cb) AS DOUBLE)
       |      / (CAST(COUNT(cb) AS DOUBLE) * $KmQL), 6)
       |  END AS mean_abs_cos_raw,
       |  CASE WHEN COUNT(ca) > 0 THEN
       |    ROUND(CAST(SUM(ca) AS DOUBLE)
       |      / (CAST(COUNT(ca) AS DOUBLE) * $KmQL), 6)
       |  END AS mean_abs_cos_abtt
       |FROM qc""".stripMargin) { (s, dir) =>
    import graft.operators.KMeans
    val (pTop, _) = pcaTopShared(s, dir)
    val v = pTop.map(x => x.toDouble / KMeans.Q)
    val vv = v.map(x => x * x).reduceLeft(_ + _)
    val vlit = array(v.toIndexedSeq.map(lit): _*)
    def foldSum(arr: Column): Column =
      aggregate(arr, lit(0.0), (acc, x) => acc + x)
    val probes = Tables.embeddings(s, dir)
      .filter(col("vec_id") % IsoStride === 0)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("xd"))
    val pj = probes.withColumn("r",
      if (vv > 0)
        foldSum(zip_with(col("xd"), vlit, (a, b) => a * b)) / lit(vv)
      else lit(0.0))
    val yv = pj.withColumn("yd",
      zip_with(col("xd"), vlit, (x, vd) => x - col("r") * vd))
    val nrm = yv.select(col("vec_id"), col("xd"), col("yd"),
      foldSum(transform(col("xd"), x => x * x)).as("nx"),
      foldSum(transform(col("yd"), x => x * x)).as("ny"))
    val a = nrm.select(col("vec_id").as("ia"), col("xd").as("xa"),
      col("yd").as("ya"), col("nx").as("nxa"), col("ny").as("nya"))
    val b = nrm.select(col("vec_id").as("ib"), col("xd").as("xb"),
      col("yd").as("yb"), col("nx").as("nxb"), col("ny").as("nyb"))
    val pp = a.join(broadcast(b), col("ib") > col("ia"))
      .select(
        foldSum(zip_with(col("xa"), col("xb"), (p, q) => p * q))
          .as("dotx"),
        foldSum(zip_with(col("ya"), col("yb"), (p, q) => p * q))
          .as("doty"),
        col("nxa"), col("nxb"), col("nya"), col("nyb"))
    val qc = pp.select(
      when(col("nxa") > 0 && col("nxb") > 0,
        floor(abs(col("dotx") / (sqrt(col("nxa")) * sqrt(col("nxb"))))
          * lit(KMeans.Q)).cast("long")).as("cb"),
      when(col("nya") > 0 && col("nyb") > 0,
        floor(abs(col("doty") / (sqrt(col("nya")) * sqrt(col("nyb"))))
          * lit(KMeans.Q)).cast("long")).as("ca"))
    val nProbes = probes.agg(count(lit(1)).as("n_probes"))
    qc.agg(count(lit(1)).as("n_pairs"),
        count(col("cb")).as("__ncb"), sum(col("cb")).as("__scb"),
        count(col("ca")).as("__nca"), sum(col("ca")).as("__sca"))
      .crossJoin(broadcast(nProbes))
      .select(col("n_probes"), col("n_pairs"),
        when(col("__ncb") > 0,
          round(col("__scb").cast("double") /
            (col("__ncb").cast("double") * lit(KMeans.Q)), 6))
          .as("mean_abs_cos_raw"),
        when(col("__nca") > 0,
          round(col("__sca").cast("double") /
            (col("__nca").cast("double") * lit(KMeans.Q)), 6))
          .as("mean_abs_cos_abtt"))
  }

  val all: Seq[Query] = Seq(q90, q91, q92, q93, q94, q95, q99, q100,
    q120, q148, q191, q213, q214, q215, q247, q249, q255, q256, q257,
    q259)
}
