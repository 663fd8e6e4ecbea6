package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.functions.Functions._

/** Embedding similarity search (LLM-pipeline north star, SURVEY §7.2
  * step 7): brute-force cosine top-k as the correctness baseline, and a
  * hyperplane-LSH bucketed variant as the 100 TB path.
  *
  * Determinism contract: cosine is a strict left-to-right double fold
  * (`aggregate` higher-order fn), so any engine folding the same way
  * (e.g. DuckDB's `list_reduce`) produces bit-identical doubles — the
  * similarity values themselves are oracle-checkable, not just the ids.
  *
  * Scale notes: the query set is broadcast (it is small by contract);
  * per-candidate scoring streams map-side; top-k per query uses a
  * partial-aggregatable Aggregator, so only `k` rows per (query ×
  * input-partition) ever reach the shuffle — NOT a window over all
  * n×|Q| scored pairs. The ANN variants prune the scored set itself
  * through one candidate-probe kernel ([[probeScores]]): corpus rows
  * keyed by a sign-bucket or coarse cell, candidates joined within the
  * query's probed keys only.
  */
object Similarity {

  /** One scored neighbor. */
  final case class Scored(id: Long, score: Double)

  /** Top-k buffer as parallel sequences (kept sorted by score desc, id
    * asc) — a Product, so the public `Encoders.product` covers it. */
  final case class TopBuf(ids: Seq[Long], scores: Seq[Double])

  /** Partial-aggregatable exact top-k by (score desc, id asc). The
    * buffer never exceeds k elements, so map-side combine bounds both
    * memory and shuffle volume — only k rows per (query × partition)
    * reach the exchange, vs a window over every scored pair. */
  final class TopK(k: Int) extends Aggregator[Scored, TopBuf, TopBuf] {
    private def better(a: Scored, b: Scored): Boolean =
      a.score > b.score || (a.score == b.score && a.id < b.id)
    private def toList(buf: TopBuf): List[Scored] =
      buf.ids.lazyZip(buf.scores).map(Scored.apply).toList
    private def fromList(xs: List[Scored]): TopBuf =
      TopBuf(xs.map(_.id), xs.map(_.score))
    private def insert(buf: List[Scored], x: Scored): List[Scored] =
      if (buf.lengthCompare(k) >= 0 && better(buf.last, x)) buf
      else {
        val (before, after) = buf.span(better(_, x))
        val merged = before ::: (x :: after)
        if (merged.lengthCompare(k) > 0) merged.take(k) else merged
      }
    def zero: TopBuf = TopBuf(Nil, Nil)
    def reduce(buf: TopBuf, x: Scored): TopBuf =
      fromList(insert(toList(buf), x))
    def merge(a: TopBuf, b: TopBuf): TopBuf =
      fromList(toList(b).foldLeft(toList(a))(insert))
    def finish(buf: TopBuf): TopBuf = buf
    def bufferEncoder: Encoder[TopBuf] = Encoders.product[TopBuf]
    def outputEncoder: Encoder[TopBuf] = Encoders.product[TopBuf]
  }

  /** Cosine over float embeddings: the native codegen'd expression
    * ([[graft.expressions.CosineSimilarity]]) — bit-identical to the
    * HOF fold (`Functions.cosine` over double-cast arrays) and to
    * DuckDB's `list_reduce`, but a single fused primitive loop inside
    * whole-stage codegen instead of one interpreted lambda call per
    * element. */
  def cosineF(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ExprColumn.of(
      graft.expressions.CosineSimilarity(
        org.apache.spark.sql.graft.ExprColumn.expr(a),
        org.apache.spark.sql.graft.ExprColumn.expr(b)))

  /** Native codegen'd dot product ([[graft.expressions.DotProduct]]),
    * bit-identical to the `Functions.dot` fold. Used for plane/centroid
    * bucket assignment, which evaluates 6-8 dots per corpus vector —
    * the full-scan part of ANN, so it must stay inside codegen. */
  def dotF(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ExprColumn.of(
      graft.expressions.DotProduct(
        org.apache.spark.sql.graft.ExprColumn.expr(a),
        org.apache.spark.sql.graft.ExprColumn.expr(b)))

  /** Exact top-k cosine neighbors for each query vector.
    *
    * @param vectors (id, vec) corpus; `vec` is `array<float>`
    * @param queries (query_id, qvec) — small, broadcast
    * @return (query_id, rank, neighbor_id, cosine) — rank 1..k by
    *         (cosine desc, neighbor_id asc); self-matches excluded
    */
  def bruteForceTopK(vectors: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int): DataFrame = {
    val scored = vectors.crossJoin(broadcast(queries))
      .filter(col(idCol) =!= col(queryIdCol))
      .select(col(queryIdCol).as("query_id"),
        col(idCol).as("id"),
        cosineF(col(vecCol), col(queryVecCol)).as("score"))
    topKPerQuery(scored, k)
  }

  /** Hard-negative mining (contrastive-training data prep): for each
    * query vector, the exact top-k cosine neighbors whose label DIFFERS
    * from the query's — the semantically-closest wrong-class examples,
    * the standard negatives for training retrieval/embedding models.
    * Same scale shape as [[bruteForceTopK]]: the query set is broadcast,
    * the corpus is scanned once and never shuffled before the map-side-
    * combinable TopK partial aggregation; at 100 TB the per-class ANN
    * index replaces the brute scan, with this as its recall baseline. */
  def hardNegativesTopK(vectors: DataFrame, idCol: String, vecCol: String,
      labelCol: String, queries: DataFrame, queryIdCol: String,
      queryVecCol: String, queryLabelCol: String, k: Int): DataFrame =
    labelFilteredTopK(vectors, idCol, vecCol, labelCol, queries,
      queryIdCol, queryVecCol, queryLabelCol, k, sameLabel = false)

  /** The positive counterpart: exact top-k cosine neighbors SHARING the
    * query's label — the in-class nearest neighbors contrastive
    * training pairs with the anchors (and the other half of a triplet
    * next to [[hardNegativesTopK]]). */
  def labelPositivesTopK(vectors: DataFrame, idCol: String, vecCol: String,
      labelCol: String, queries: DataFrame, queryIdCol: String,
      queryVecCol: String, queryLabelCol: String, k: Int): DataFrame =
    labelFilteredTopK(vectors, idCol, vecCol, labelCol, queries,
      queryIdCol, queryVecCol, queryLabelCol, k, sameLabel = true)

  private def labelFilteredTopK(vectors: DataFrame, idCol: String,
      vecCol: String, labelCol: String, queries: DataFrame,
      queryIdCol: String, queryVecCol: String, queryLabelCol: String,
      k: Int, sameLabel: Boolean): DataFrame = {
    val labelPred =
      if (sameLabel) col(labelCol) === col(queryLabelCol)
      else col(labelCol) =!= col(queryLabelCol)
    val scored = vectors.crossJoin(broadcast(queries))
      .filter(col(idCol) =!= col(queryIdCol) && labelPred)
      .select(col(queryIdCol).as("query_id"),
        col(idCol).as("id"),
        cosineF(col(vecCol), col(queryVecCol)).as("score"))
    topKPerQuery(scored, k)
  }

  /** Shared tail: scored (query_id, id, score) → ranked top-k rows. */
  private[operators] def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new TopK(k))
    scored
      .groupBy(col("query_id"))
      .agg(topk(col("id"), col("score")).as("top"))
      .select(col("query_id"),
        posexplode(arrays_zip(col("top.ids"), col("top.scores")))
          .as(Seq("pos", "n")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("n.ids").as("neighbor_id"),
        round(col("n.scores"), 6).as("cosine"))
  }

  /** The candidate-probe kernel under every ANN search. Each query is
    * exploded over `probes` (an array of DISTINCT long keys, evaluated
    * on `queries`) and broadcast into an equi-join with the corpus rows
    * whose `key` (a long, evaluated on `corpus`) equals a probe,
    * self-matches excluded; candidates are scored with exact
    * [[cosineF]]. A corpus row carries one key, so candidates need no
    * dedup. The searches differ only in key and probes: LSH keys by
    * [[lshBucket]] (multi-probe adds its Hamming-1 flips), hash IVF by
    * [[ivfProbes]], trained IVF by [[KMeans.nearestCells]]. Returns raw
    * (query_id, id, score) — the input of [[topKPerQuery]]. */
  private[operators] def probeScores(corpus: DataFrame, idCol: String,
      vecCol: String, key: Column, queries: DataFrame, queryIdCol: String,
      queryVecCol: String, probes: Column): DataFrame = {
    val qp = probeRows(queries, queryIdCol, queryVecCol, probes)
    corpus.select(col(idCol).as("id"), col(vecCol).as("__vec"),
        key.cast("long").as("__key"))
      .join(broadcast(qp),
        col("__key") === col("__probe") && col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        cosineF(col("__vec"), col("__qvec")).as("score"))
  }

  /** (query_id, __qvec, __probe): each query exploded over its probe
    * keys. `explode_outer`, not `explode`: over an array ATTRIBUTE the
    * optimizer infers `size(probes) > 0` below the generator and pushes
    * it through the projections that define the probes, inlining the
    * staged argmin chain into the filter at every reference — measured
    * 53,777 expression nodes and ~30 s of planning for 2 probes over 8
    * cells, against 632 nodes with the probes exploded in place. A
    * null probe (from an empty list) matches no key, so the outer form
    * changes no result. */
  private[operators] def probeRows(queries: DataFrame, queryIdCol: String,
      queryVecCol: String, probes: Column): DataFrame =
    queries.select(col(queryIdCol).as("query_id"),
      col(queryVecCol).as("__qvec"),
      explode_outer(probes.cast("array<bigint>")).as("__probe"))

  /** Approximate top-k through the candidate-probe kernel
    * ([[probeScores]]): (query_id, rank, neighbor_id, cosine), rank
    * 1..k by (cosine desc, neighbor_id asc) among the probed
    * candidates. */
  def probeTopK(corpus: DataFrame, idCol: String, vecCol: String,
      key: Column, queries: DataFrame, queryIdCol: String,
      queryVecCol: String, probes: Column, k: Int): DataFrame =
    topKPerQuery(probeScores(corpus, idCol, vecCol, key, queries,
      queryIdCol, queryVecCol, probes), k)

  /** Driver-side mirror of the hash-weight formula the SQL oracles
    * inline: `(md5_60bit(tag) mod 1001 − 500) / 500` ∈ [-1, 1].
    * Bit-identical to the old Catalyst form
    * `(md5Long(lit(tag)) % 1001 - 500).cast("double") / 500.0` — long
    * arithmetic is exact, the long→double widening of a value in
    * [-500, 500] is exact, and the division by 500.0 is the same IEEE
    * op — so folding it HERE instead of in ConstantFolding changes
    * nothing downstream. Why it moved (r14, guide §7.3 "very large
    * query plans"): each weight used to enter the plan as a ~8-node
    * md5/conv/cast subtree, and a weights array carries `dims` of
    * them — q53's five ANN legs totalled tens of thousands of
    * expression nodes, 12.6 s of driver-side analysis (`Plans time`,
    * matching JobProfile's 10.3 s driver gap). A precomputed literal
    * array is ONE node. */
  private def hashWeight(tag: String): Double =
    ((KMeans.hash60(tag) % 1001) - 500).toDouble / 500.0

  /** Deterministic hash-derived hyperplane weights: plane `p`, dim `d`
    * gets `(md5_60bit("plane:p:d") mod 1001 - 500) / 500` ∈ [-1, 1],
    * as one literal array (see [[hashWeight]]). */
  def planeWeights(p: Int, dims: Int): Column =
    typedlit((0 until dims).map(d => hashWeight(s"plane:$p:$d")))

  /** Sign-bucket id of a vector under `planes` hyperplanes: bit p is
    * `dot(plane_p, v) >= 0`. */
  def lshBucket(vec: Column, planes: Int, dims: Int): Column =
    (0 until planes).map { p =>
      when(dotF(vec, planeWeights(p, dims)) >= 0,
        lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)

  /** IVF-style coarse quantization: `cells` deterministic centroid
    * vectors (components hash-derived in [-1, 1], like the LSH planes),
    * each vector assigned to the centroid with the max dot product
    * (first-wins on ties). One literal array per centroid (see
    * [[hashWeight]]). */
  def centroidWeights(m: Int, dims: Int): Column =
    typedlit((0 until dims).map(d => hashWeight(s"centroid:$m:$d")))

  /** Appends `__probe0..__probe{n-1}`: the `n` hash centroids with the
    * largest dot product, best first — `n = 1` is the coarse cell
    * assignment, larger `n` the multi-probe list. The argmax is
    * [[argminProbes]] over NEGATED dots: IEEE negation is exact and
    * both chains resolve ties to the lowest cell, so the picks equal
    * the oracles' first-wins argmax CASE chains (chosen cells masked
    * to -1e308). The dots are MATERIALIZED columns, all in ONE
    * projection (a per-centroid `withColumn` fold would re-analyze the
    * growing plan `cells` times — the O(k²) analyzer trap), so each is
    * computed once per row. */
  private[graft] def ivfProbes(df: DataFrame, vecCol: String, cells: Int,
      dims: Int, n: Int): DataFrame = {
    val negDots = df.withColumns(
      (0 until cells).map(m =>
        s"__dot$m" -> -dotF(col(vecCol), centroidWeights(m, dims))).toMap)
    argminProbes(negDots, cells, n, m => col(s"__dot$m"))
      .drop((0 until cells).map(m => s"__dot$m"): _*)
  }

  /** Deterministic hash-derived PQ codebook entry: subspace `s`,
    * centroid `j`, local dim `d` — same [-1, 1] hash family as the
    * planes/centroids (one literal array, see [[hashWeight]]), so the
    * codebook is replayable in plain SQL. */
  private def pqWeightsArr(s: Int, j: Int, subDims: Int): IndexedSeq[Double] =
    (0 until subDims).map(d => hashWeight(s"pq:$s:$j:$d"))

  def pqWeights(s: Int, j: Int, subDims: Int): Column =
    typedlit(pqWeightsArr(s, j, subDims))

  /** The constant codebook self-dot `c·c`, folded driver-side with the
    * exact [[dotF]] accumulation order (strict left-to-right from 0.0)
    * — bit-identical to what ConstantFolding produced from
    * `dotF(pqWeights(s,j,_), pqWeights(s,j,_))`, minus the plan
    * nodes. */
  private def pqSelfDot(s: Int, j: Int, subDims: Int): Double = {
    val c = pqWeightsArr(s, j, subDims)
    var dot = 0.0
    var i = 0
    while (i < subDims) { dot += c(i) * c(i); i += 1 }
    dot
  }

  /** First-wins argmin over `cells` distance columns supplied by `d`. */
  private[operators] def argminCell(cells: Int, d: Int => Column): Column =
    (0 until cells - 1).foldRight(lit(cells - 1): Column) { (m, acc) =>
      val later = (m + 1 until cells).map(d)
      val laterMin =
        if (later.size == 1) later.head else least(later: _*)
      when(d(m) <= laterMin, lit(m)).otherwise(acc)
    }

  /** `d`, with the cells already chosen as `__probe0..__probe{i-1}`
    * masked to MaxValue. */
  private[operators] def maskChosen(i: Int, d: Int => Column)
      : Int => Column = m => {
    val prior = (0 until i).map(j => col(s"__probe$j") === m)
    if (prior.isEmpty) d(m)
    else when(prior.reduce(_ || _), lit(Double.MaxValue)).otherwise(d(m))
  }

  /** Appends `__probe0..__probe{n-1}`: the `n` cells with the lowest
    * `d`, in (value, cell) order — probe i+1 re-runs the first-wins
    * [[argminCell]] with every chosen cell masked, so ties keep
    * resolving to the lowest cell id and the probe lists for
    * different `n` are prefixes of one another. */
  private[operators] def argminProbes(df: DataFrame, cells: Int, n: Int,
      d: Int => Column): DataFrame = {
    require(n >= 1 && n <= cells, "1 <= nProbe <= cells")
    (0 until n).foldLeft(df) { (acc, i) =>
      acc.withColumn(s"__probe$i", argminCell(cells, maskChosen(i, d)))
    }
  }

  /** Product quantization: each vector's `dims` components split into
    * `m` subvectors, each assigned (exact L2², first-wins argmin) to
    * one of `k` hash-derived codebook centroids for its subspace —
    * 64 floats compress to `m` small codes, the memory step that makes
    * billion-vector ANN (IVF+PQ) fit RAM at 100 TB. One codegen'd
    * linear scan, no shuffle: distances expand to
    * `vv - 2·(v·c) + (c·c)` with every term a strict left fold
    * ([[dotF]]), so codes AND reconstruction error are bit-replayable
    * in the SQL oracle. Returns (vec_id, code0..code{m-1}, err) with
    * `err` = Σ per-subspace min L2², rounded to 6. */
  /** Appends `code0..code{m-1}` and `__pqerr` (Σ per-subspace min L2²,
    * unrounded) to `df`, leaving every other column in place. */
  def withPqCodes(df0: DataFrame, vecCol: String, m: Int, k: Int,
      dims: Int): DataFrame = {
    require(dims % m == 0, "dims must divide into m subspaces")
    val sub = dims / m
    // columns in LAYERS of one projection each (same expressions and
    // the same collapsed plan as the old per-column withColumn chain,
    // minus its O(m·k) eager re-analyses — the analyzer trap): subs,
    // their self-dots, all m×k codebook distances, then codes/mins.
    // The codebook self-dot folds driver-side ([[pqSelfDot]]).
    val withSubs = df0.withColumns(
      (0 until m).map(s =>
        s"__sub$s" -> slice(col(vecCol), s * sub + 1, sub)).toMap)
    val withVv = withSubs.withColumns(
      (0 until m).map(s =>
        s"__vv$s" -> dotF(col(s"__sub$s"), col(s"__sub$s"))).toMap)
    val withD = withVv.withColumns(
      (for { s <- 0 until m; j <- 0 until k } yield
        s"__d${s}_$j" ->
          (col(s"__vv$s") -
            lit(2.0) * dotF(col(s"__sub$s"), pqWeights(s, j, sub)) +
            lit(pqSelfDot(s, j, sub)))).toMap)
    val withCodes = withD.withColumns(
      (0 until m).flatMap(s => Seq(
        s"code$s" -> argminCell(k, j => col(s"__d${s}_$j")).cast("long"),
        s"__e$s" -> least((0 until k).map(j => col(s"__d${s}_$j")): _*)))
        .toMap)
    withCodes.withColumn("__pqerr",
        (0 until m).map(s => col(s"__e$s")).reduce(_ + _))
      .drop((0 until m).flatMap(s =>
        Seq(s"__sub$s", s"__vv$s", s"__e$s") ++
          (0 until k).map(j => s"__d${s}_$j")): _*)
  }

  def pqCodes(vectors: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, dims: Int): DataFrame =
    withPqCodes(
        vectors.select(col(idCol).as("vec_id"), col(vecCol).as("__v")),
        "__v", m, k, dims)
      .select(col("vec_id") +:
        (0 until m).map(s => col(s"code$s")) :+
        round(col("__pqerr"), 6).as("err"): _*)

  /** IVF+PQ search — the architecture that makes billion-vector ANN
    * fit memory: coarse IVF cells prune candidates (equi join, never
    * all-pairs), and within a cell every candidate is scored by
    * ASYMMETRIC distance — the query precomputes its `m × k` distance
    * table to the codebooks, and a candidate costs `m` table lookups
    * over its codes instead of a `dims`-long scan of the raw vector.
    * Exact L2² per term (`vv - 2·(v·c) + c·c`, strict left folds), so
    * ranks AND distances replay in the SQL oracle. Returns
    * (query_id, rank, neighbor_id, adist), rank 1..`topK` by
    * (adist asc, id asc), self-matches excluded. */
  def ivfPqTopK(vectors: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      topK: Int, cells: Int, m: Int, codebook: Int, dims: Int)
      : DataFrame = {
    val sub = dims / m
    // compressed index: coarse cell + PQ codes per corpus vector
    val coded = withPqCodes(
      ivfProbes(
        vectors.select(col(idCol).as("vec_id"), col(vecCol).as("__v")),
        "__v", cells, dims, 1),
      "__v", m, codebook, dims)
      .select(col("vec_id") +: col("__probe0").as("__cell") +:
        (0 until m).map(s => col(s"code$s")): _*)
    // query side: cell probe + the m×k distance table, as m arrays —
    // layered withColumns like [[withPqCodes]] (identical expressions,
    // no per-column eager re-analysis)
    val q0 = ivfProbes(
      queries.select(col(queryIdCol).as("query_id"),
        col(queryVecCol).as("__q")),
      "__q", cells, dims, 1)
    val q1 = q0.withColumns(
      (0 until m).map(s =>
        s"__qsub$s" -> slice(col("__q"), s * sub + 1, sub)).toMap)
    val q2 = q1.withColumns(
      (0 until m).map(s =>
        s"__qvv$s" -> dotF(col(s"__qsub$s"), col(s"__qsub$s"))).toMap)
    val q3 = q2.withColumns(
      (for { s <- 0 until m; j <- 0 until codebook } yield
        s"__qd${s}_$j" ->
          (col(s"__qvv$s") -
            lit(2.0) * dotF(col(s"__qsub$s"), pqWeights(s, j, sub)) +
            lit(pqSelfDot(s, j, sub)))).toMap)
    val q = q3.withColumns(
      (0 until m).map(s =>
        s"__qd$s" ->
          array((0 until codebook).map(j => col(s"__qd${s}_$j")): _*))
        .toMap)
    val qSel = q.select(col("query_id") +: col("__probe0").as("__qcell") +:
      (0 until m).map(s => col(s"__qd$s")): _*)
    val adist = (0 until m)
      .map(s => element_at(col(s"__qd$s"), col(s"code$s").cast("int") + 1))
      .reduce(_ + _)
    val scored = coded
      .join(broadcast(qSel),
        col("__cell") === col("__qcell") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("id"),
        (-adist).as("score"))
    topKPerQuery(scored, topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(-col("cosine"), 6).as("adist"))
  }

  /** Hash-IVF approximate top-k: corpus vectors keyed by their coarse
    * cell, each query probing its `nProbe` best cells ([[ivfProbes]]).
    * Single-probe is the classic inverted-file search — at scale cells
    * map to partitions and a probe touches 1/cells of the data; more
    * probes are the standard recall lever (a query near a cell
    * boundary recovers the neighbors that landed just across it) at
    * nProbe/cells of the corpus read. */
  def ivfTopK(vectors: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, cells: Int, dims: Int, nProbe: Int = 1): DataFrame =
    probeTopK(ivfProbes(vectors, vecCol, cells, dims, 1), idCol, vecCol,
      col("__probe0"),
      ivfProbes(queries, queryVecCol, cells, dims, nProbe), queryIdCol,
      queryVecCol, KMeans.probeList(nProbe), k)

  /** Embedding-cosine near-duplicate pairs: vectors in the same
    * hyperplane sign-bucket are paired (a < b) and kept when exact
    * cosine ≥ `threshold`. The bucket join bounds the pair blowup the
    * same way LSH banding does for minhash — never all-pairs. */
  def cosineNearDupPairs(vectors: DataFrame, idCol: String,
      vecCol: String, planes: Int, dims: Int,
      threshold: Double): DataFrame = {
    val b = vectors.select(col(idCol).as("id"), col(vecCol).as("v"),
      lshBucket(col(vecCol), planes, dims).as("__bucket"))
    val left = b.select(col("__bucket"), col("id").as("id_a"),
      col("v").as("va"))
    val right = b.select(col("__bucket").as("__bucket_b"),
      col("id").as("id_b"), col("v").as("vb"))
    left.join(right,
        left("__bucket") === right("__bucket_b") &&
          left("id_a") < right("id_b"))
      .withColumn("__cos", cosineF(col("va"), col("vb")))
      .filter(col("__cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("__cos"), 6).as("cosine"))
  }
}
