package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over embedding vectors — the TRAINED
  * counterpart to the hash-derived IVF coarse centroids and PQ
  * codebooks in [[Similarity]] (reference basis: the ANN/IVF
  * architecture the LLM extension targets; centroid training is the
  * step that lifts IVF recall off the untrained floor).
  *
  * Scale shape (the canonical one): each iteration is ONE scan of the
  * corpus — centroids are a k×dims literal broadcast into the row
  * expression, the assignment is a per-row argmin, and the update is a
  * `groupBy(cell)` with per-dimension sums + a count, all map-side
  * combinable. The only driver-side state is the k×dims centroid table
  * itself (a bounded collect of ≤ k rows per iteration, exactly like
  * the star-contraction convergence scalar in TextDedup).
  *
  * Determinism contract (what makes a fixed-point ITERATIVE algorithm
  * oracle-checkable): vector components are quantized ONCE to the
  * integer grid `floor(x·Q + 0.5)`, so per-cluster component sums are
  * exact integer sums (order-independent), and every updated centroid
  * component is the deterministic double `sum / (n · Q)`. Distances are
  * strict left-to-right folds over the 64 dims, assignments first-wins
  * argmin (ties → lowest cell) — so the entire T-iteration trajectory,
  * not just the final summary, is bit-replayable in plain SQL
  * (DuckDB: the same folds via `list_reduce`, the same argmin via
  * `row_number() ORDER BY dist, cell`).
  */
object KMeans {

  /** Quantization grid: 1e-6 resolution, exact for |x| ≤ ~9e3. */
  val Q: Double = 1e6

  /** `floor(x·Q + 0.5)` per component — round-half-up on an exact
    * integer grid, identical in any engine (floor is exact; the float →
    * double widening and the double product are IEEE-defined). Returns
    * `array<long>`. */
  def quantize(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * lit(Q) + lit(0.5)))

  /** Driver-side mirror of [[graft.functions.Functions.md5Long]]: first
    * 15 hex chars of md5 as a positive 60-bit long. */
  def hash60(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(
      s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.map(b => f"$b%02x").mkString.take(15), 16)
  }

  /** Deterministic init: centroid `m`, dim `d` gets
    * `(hash60("km:m:d") mod 1001 − 500) / 500` ∈ [−1, 1] — the same
    * hash family as the LSH planes / IVF centroids, so the oracle
    * derives the identical values with its inline md5 formula. */
  def initCentroids(k: Int, dims: Int): Array[Array[Double]] =
    Array.tabulate(k)(m => Array.tabulate(dims)(d =>
      ((hash60(s"km:$m:$d") % 1001) - 500) / 500.0))

  /** Strict-left-fold L2² distance between a quantized vector column
    * and a centroid literal: `Σ_d (vq[d]/Q − c[d])²`, seeded at 0.0 —
    * bit-identical to DuckDB's `list_reduce` over the same terms. */
  def distTo(vq: Column, c: Array[Double]): Column =
    aggregate(
      zip_with(vq, lit(c), (q, cc) => {
        val e = q.cast("double") / lit(Q) - cc; e * e
      }),
      lit(0.0), (acc, x) => acc + x)

  /** Assignment-form threshold (VERDICT r12 #4): at k ≤ SmallK the
    * column-per-centroid form below is measurably faster per row
    * and its O(k²) plan-size term is negligible; above it the
    * `typedlit`+HOF array is the only form that stays compilable (the
    * column fold read 54.9× at 10× data with corpus-sized k from plan
    * compilation alone). 16, not 32 (ADVICE r13): [[Similarity
    * .argminCell]]'s O(k²) when-chain at k = 32 exceeded Janino's
    * method limit (observed InternalCompilerException → interpreted
    * fallback — correct but slower than the HOF form it displaced,
    * plus a failed-compile log storm); k = 16 keeps the generated
    * argmin at ~256 branches, well inside the limit, and every
    * production column-form call site is k ≤ 16 (KmK = IvfCells = 8).
    * Distances are bit-identical on both sides — the same [[distTo]]
    * fold term sequence — so every consumer, spec, and oracle is
    * form-agnostic (KMeansSpec pins equality across the threshold). */
  private[graft] val SmallK = 16

  /** TEST-ONLY escape hatch (same class as the publish `crashAfter` fault
    * injection): forces the HOF form below the threshold so the spec
    * can pin bit-equality of BOTH forms at the SAME k. Never set in
    * production paths; leaving it on merely costs speed, never
    * correctness (the equality is the property under test). */
  private[graft] var forceHof: Boolean = false

  private def useCols(k: Int): Boolean = k <= SmallK && !forceHof

  /** Small-k helper: all k distance columns `__kd0..__kd{k-1}` added
    * in ONE projection (a per-centroid `withColumn` fold would
    * re-analyze the growing projection k times — the O(k²) analyzer
    * trap this file already hit once). */
  private def withDistCols(df: DataFrame, vqCol: String,
      cents: Array[Array[Double]]): DataFrame =
    df.withColumns(
      cents.zipWithIndex.map { case (c, m) =>
        s"__kd$m" -> distTo(col(vqCol), c)
      }.toMap)

  /** (distance, cell) structs for every centroid as ONE row-local
    * array expression: the centroid table is a single `typedlit`
    * constant and the fold body appears once inside a `transform`
    * lambda, so plan size is O(1) in k — the ONLY form that stays
    * compilable at corpus-sized k. The per-element fold is the exact
    * [[distTo]] term sequence, so distances are bit-identical to the
    * small-k column form; struct ordering is (d, m), so
    * `array_min`/`array_sort` ARE the oracle's `ORDER BY dist, cell`
    * first-wins ranking. */
  private def distStructs(vq: Column,
      cents: Array[Array[Double]]): Column =
    transform(
      typedlit(cents.map(_.toIndexedSeq).toIndexedSeq),
      (c, m) => struct(
        aggregate(
          zip_with(vq, c, (q, cc) => {
            val e = q.cast("double") / lit(Q) - cc; e * e
          }),
          lit(0.0), (acc, x) => acc + x).as("d"),
        m.as("m")))

  /** Appends `__cell` (first-wins argmin assignment) and `__kdist`
    * (the min distance) for the given centroid table. Form picked by
    * k (see [[SmallK]]); identical output either way. */
  def withCellDist(df: DataFrame, vqCol: String,
      cents: Array[Array[Double]]): DataFrame = {
    val k = cents.length
    if (useCols(k)) {
      withDistCols(df, vqCol, cents)
        .withColumn("__cell",
          Similarity.argminCell(k, m => col(s"__kd$m")))
        .withColumn("__kdist",
          if (k == 1) col("__kd0")
          else least((0 until k).map(m => col(s"__kd$m")): _*))
        .drop((0 until k).map(m => s"__kd$m"): _*)
    } else {
      val best = array_min(distStructs(col(vqCol), cents))
      df.withColumn("__cell", best.getField("m"))
        .withColumn("__kdist", best.getField("d"))
    }
  }

  /** [[withCellDist]] plus `__kdist2`: the distance to the BEST OTHER
    * cell (the runner-up of the same first-wins argmin — on a tie at
    * the minimum the runner-up carries the tied distance, exactly like
    * the rk=2 row of the oracle's `ORDER BY dist, cell` window). The
    * silhouette's b-term. */
  def withCellDist2(df: DataFrame, vqCol: String,
      cents: Array[Array[Double]]): DataFrame = {
    val k = cents.length
    require(k >= 2, "runner-up distance needs k >= 2")
    if (useCols(k)) {
      val withD = withDistCols(df, vqCol, cents)
      val cell = Similarity.argminCell(k, m => col(s"__kd$m"))
      withD
        .withColumn("__cell", cell)
        .withColumn("__kdist",
          least((0 until k).map(m => col(s"__kd$m")): _*))
        .withColumn("__kdist2",
          least((0 until k).map(m =>
            when(col("__cell") === m, lit(Double.MaxValue))
              .otherwise(col(s"__kd$m"))): _*))
        .drop((0 until k).map(m => s"__kd$m"): _*)
    } else {
      val sorted = array_sort(distStructs(col(vqCol), cents))
      df.withColumn("__cell", element_at(sorted, 1).getField("m"))
        .withColumn("__kdist", element_at(sorted, 1).getField("d"))
        .withColumn("__kdist2", element_at(sorted, 2).getField("d"))
    }
  }

  /** [[withCellDist]] plus `__cell2` — the runner-up CELL id (the rk=2
    * row of the oracle's `ORDER BY dist, cell` window: among the cells
    * other than the winner, lowest distance, ties → lowest cell). The
    * second probe of a 2-probe IVF search ([[AnnIndex.topK]]). */
  def withCell2(df: DataFrame, vqCol: String,
      cents: Array[Array[Double]]): DataFrame = {
    val k = cents.length
    require(k >= 2, "a second probe needs k >= 2")
    if (useCols(k)) {
      withDistCols(df, vqCol, cents)
        .withColumn("__cell",
          Similarity.argminCell(k, m => col(s"__kd$m")))
        .withColumn("__cell2",
          Similarity.argminCell(k, m =>
            when(col("__cell") === m, lit(Double.MaxValue))
              .otherwise(col(s"__kd$m"))))
        .drop((0 until k).map(m => s"__kd$m"): _*)
    } else {
      val sorted = array_sort(distStructs(col(vqCol), cents))
      df.withColumn("__cell", element_at(sorted, 1).getField("m"))
        .withColumn("__cell2", element_at(sorted, 2).getField("m"))
    }
  }

  /** [[withCell2]] generalized: appends `__probe0..__probe{n-1}` — the
    * n nearest cells per row, in the oracle's `ORDER BY dist, cell`
    * window order (probe i+1 re-runs the same first-wins argmin with
    * all previously chosen cells masked to MaxValue, so ties keep
    * resolving to the lowest cell id). `withCellN(n = 2)`'s probes are
    * exactly (`__cell`, `__cell2`) of [[withCell2]] — the 2-probe
    * consumers' oracle contracts are unchanged by construction.
    *
    * Form note (the r13 q259 regression, bisected r14): the column
    * form is kept ONLY for n ≤ 2. Probe i's masked argmin references
    * every `__kd` column O(k) times, and after projection collapse
    * each reference inlines the full 64-dim distance fold — the
    * collapsed plan carries O(k² · n) fold copies, which at n = 8
    * measured 14.8 s vs the sorted-array form's 11.6 s on isolated
    * q259 (the HOF form computes the k distances ONCE into one sorted
    * array and serves every probe from it). At n ≤ 2 the column form
    * stays the winner (the q247/q99 paths, flat in r13). */
  def withCellN(df: DataFrame, vqCol: String,
      cents: Array[Array[Double]], n: Int): DataFrame = {
    val k = cents.length
    require(n >= 1 && n <= k, "1 <= nProbe <= cells")
    if (useCols(k) && n <= 2) {
      val withD = withDistCols(df, vqCol, cents)
      val staged = (0 until n).foldLeft(withD) { (d, i) =>
        val masked: Int => Column = m => {
          val prior = (0 until i).map(j => col(s"__probe$j") === m)
          if (prior.isEmpty) col(s"__kd$m")
          else when(prior.reduce(_ || _), lit(Double.MaxValue))
            .otherwise(col(s"__kd$m"))
        }
        d.withColumn(s"__probe$i", Similarity.argminCell(k, masked))
      }
      staged.drop((0 until k).map(m => s"__kd$m"): _*)
    } else {
      val sorted = array_sort(distStructs(col(vqCol), cents))
      (0 until n).foldLeft(df) { (d, i) =>
        d.withColumn(s"__probe$i",
          element_at(sorted, i + 1).getField("m"))
      }
    }
  }

  /** `iters` Lloyd's iterations from the deterministic init; returns
    * the final k×dims centroid table. Each iteration: one distributed
    * scan (assign + per-cluster integer sums), one bounded ≤ k-row
    * collect. `vq` should be persisted by the caller when `iters > 1`
    * (it is scanned `iters` times, plus once more for the caller's
    * final pass).
    *
    * EMPTY-CELL RESEEDING (VERDICT r13 #3): the hash init scatters
    * centroids over [−1, 1]^dims while real corpora occupy a narrow
    * shell of it, so plain Lloyd's strands most cells empty forever —
    * measured 27/160 occupied on the corpus-sized nProbe-curve index,
    * which silently divides an IVF index's pruning power by ~6 (cells
    * that exist but hold nothing are probes wasted by sizing). After
    * each update, every empty cell is reseeded to the FARTHEST
    * distinct point (the classic farthest-point repair): empty cells
    * ranked ascending by id meet the distinct (vq, dist) rows ranked
    * by (dist desc, vq asc) — rank i's cell takes rank i's point,
    * components `vq[d]/Q`. Fully deterministic and engine-portable:
    * distances are the exact [[distTo]] folds both engines share, the
    * vq tie-break is lexicographic array order (identical in Spark
    * and SQL), and a reseeded centroid is an exact ratio of integers
    * — the oracle replays the whole trajectory (Prep.dKmChainP
    * mirrors this step; the two MUST move in lockstep). Fewer
    * distinct points than empty cells leaves the remainder on their
    * previous centroid. Cost: one extra distinct-rank job per
    * iteration, paid only while empties exist (they typically vanish
    * after the first repair — the next assignment gives each seed its
    * own point back at distance 0). */
  def fit(vq: DataFrame, vqCol: String, k: Int, dims: Int,
      iters: Int): Array[Array[Double]] = {
    var cents = initCentroids(k, dims)
    for (_ <- 0 until iters) {
      val assigned = withCellDist(vq, vqCol, cents)
      val aggs = count(lit(1)).as("__n") +:
        (0 until dims).map(d =>
          sum(element_at(col(vqCol), d + 1)).as(s"__s$d"))
      val rows = assigned.groupBy(col("__cell"))
        .agg(aggs.head, aggs.tail: _*)
        .collect() // bounded: ≤ k rows of k×(dims+2) scalars
      val next = cents.map(_.clone())
      rows.foreach { r =>
        val m = r.getInt(0)
        val n = r.getLong(1)
        next(m) = Array.tabulate(dims)(d =>
          r.getLong(2 + d).toDouble / (n * Q))
      }
      val occupied = rows.map(_.getInt(0)).toSet
      val empty = (0 until k).filterNot(occupied) // ascending ids
      if (empty.nonEmpty) {
        // bounded collect: ≤ |empty| ≤ k seed rows. The distinct is
        // the determinism anchor — duplicate vectors collapse to one
        // seed so no two cells ever receive the same reseed (they
        // would tie forever, first-wins starving the higher cell)
        val seeds = assigned
          .select(col(vqCol).as("__v"), col("__kdist").as("__d"))
          .distinct()
          .orderBy(col("__d").desc, col("__v").asc)
          .limit(empty.size)
          .collect()
        empty.zip(seeds.toSeq).foreach { case (m, r) =>
          val v = r.getSeq[Long](0)
          next(m) = Array.tabulate(dims)(d => v(d).toDouble / Q)
        }
      }
      cents = next
    }
    cents
  }
}
