package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE-style tokenizer-merge training, distributed and EXACT.
  *
  * Byte-pair-encoding training (Sennrich et al. 2016, the subword
  * scheme behind every modern LLM tokenizer) is an iterative argmax:
  * count adjacent token-pair frequencies over the corpus, merge the
  * most frequent pair everywhere, repeat. This operator runs the loop
  * relationally at word level (word-internal character BPE is the same
  * algorithm over character tokens):
  *
  *  - pair counting is one map-side-combinable aggregate over exploded
  *    adjacent pairs — the corpus shuffles ≤ distinct-pair rows;
  *  - the argmax is a `TakeOrdered` top-1 (freq desc, then pair — a
  *    total order, so ties are deterministic), ONE driver scalar per
  *    round (the bounded per-round action class of k-means/star
  *    rounds);
  *  - the merge itself is a row-local LEFT FOLD over each doc's token
  *    array (`aggregate` HOF): merge when the accumulator's last token
  *    is `x` and the current token is `y`. Because a merge changes the
  *    last token to `x∙y ≠ x`, the fold is exactly the leftmost
  *    non-overlapping greedy pass of canonical BPE — no approximation.
  *
  * Every step is engine-portable (integer counts, string folds), so a
  * SQL engine replays the whole training run merge-for-merge — the
  * q120 oracle does, with `list_reduce` as the fold.
  *
  * Scale posture: k rounds = k corpus scans + k bounded aggregates. At
  * 100 TB one learns merges from a hash-sampled corpus slice (q56's
  * deterministic cut) and applies them with [[applyMerges]] — the
  * apply path is a pure row-local fold, no driver loop.
  */
object Bpe {

  /** Joiner for merged tokens: U+0001 — never occurs in whitespace-split
    * tokens of the fixtures (and is escaped correctly end to end). */
  val Joiner = "\u0001"

  /** One greedy leftmost merge pass of `(x, y) → x∙y` over a token
    * array, as a row-local string fold. The fold seeds with the first
    * token (matching DuckDB `list_reduce`) and walks the rest: if the
    * accumulator ends with `' '‖x` (or IS exactly `x`) and the element
    * is `y`, the trailing `x` becomes `x∙y`; otherwise the element
    * appends. A merge changes the trailing token to `x∙y ≠ x`, so an
    * immediately following `y` cannot re-merge — exactly canonical
    * BPE's leftmost non-overlapping pass. */
  private def mergeFold(toks: Column, x: Column, y: Column): Column =
    aggregate(
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      element_at(toks, 1),
      (acc, t) =>
        when(t === y && acc === x, concat(x, lit(Joiner), y))
          .when(t === y && acc.endsWith(concat(lit(" "), x)),
            // keep the separator: replace the trailing `x` (only the
            // token, not its leading space) with `x∙y`
            concat(
              acc.substr(lit(1), length(acc) - length(x)),
              x, lit(Joiner), y))
          .otherwise(concat(acc, lit(" "), t)))

  /** Token array after one merge pass (empty arrays stay empty). */
  def mergedTokens(toks: Column, x: Column, y: Column): Column =
    when(size(toks) <= 1, toks)
      .otherwise(split(mergeFold(toks, x, y), " "))

  /** Adjacent-pair rows `(x, y)` of a token-array column (one row per
    * OCCURRENCE — multiplicity is the BPE count). */
  def adjacentPairs(df: DataFrame, toks: Column): DataFrame =
    df.select(explode(when(size(toks) >= 2,
        transform(sequence(lit(0), size(toks) - 2),
          i => struct(element_at(toks, i + 1).as("x"),
            element_at(toks, i + 2).as("y"))))
        .otherwise(array())).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))

  /** Learn `k` merge rules over `docs(textCol)` (whitespace word
    * tokens). Returns (rank, x, y, freq) — freq is the pair's corpus
    * count AT SELECTION TIME, after all earlier merges. One bounded
    * driver scalar (the argmax row) per round. */
  def learnMerges(docs: DataFrame, textCol: String, k: Int)
      : Seq[(Int, String, String, Long)] = {
    import graft.functions.Functions.tokens
    var state = docs.select(tokens(col(textCol)).as("t"))
    val out = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to k) {
      val best = adjacentPairs(state, col("t"))
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("f"))
        .orderBy(col("f").desc, col("x"), col("y"))
        .limit(1).collect()
      if (best.nonEmpty) {
        val row = best.head
        val (x, y, f) = (row.getString(0), row.getString(1), row.getLong(2))
        out += ((r, x, y, f))
        // persist each round's merged state (released with the other
        // operator-internal frames): the cache TRUNCATES the plan, so
        // round r+1 analyzes and codegens ONE fold stage over an
        // in-memory leaf instead of re-planning, re-compiling, and
        // re-executing the whole r-stage chain from the source — the
        // O(k²) round cost `Plans time` billed to the q148/q120 trainer
        // (guide §3.3 "materialising an intermediate truncates the
        // plan"). The last round's winner needs no merged state.
        // At 100 TB the trainer runs on a hash-sampled corpus slice
        // (see the scaladoc above), so the cached state is bounded.
        if (r < k)
          state = InternalCache.persist(state.select(
            mergedTokens(col("t"), lit(x), lit(y)).as("t")))
      }
    }
    out.result()
  }

  /** Apply an already-learned merge table (in rank order) — the pure
    * row-local production path: no driver loop, no actions.
    *
    * Plan-size note (r14, guide §7.3): inlining all k merges into ONE
    * Column multiplies the input subtree at every level —
    * [[mergedTokens]] references its input ~5 times, so k chained
    * merges inline ~5^k copies of the base tokenizer expression
    * (q148 at k = 6: a ~15 s planning bill measured by `Plans time`).
    * Only use this form for k ≤ 2; pipelines apply longer tables with
    * [[applyMergesStaged]]. */
  def applyMerges(toks: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(toks) { case (t, (x, y)) =>
      mergedTokens(t, lit(x), lit(y))
    }

  /** [[applyMerges]] as one projection PER MERGE: each stage rewrites
    * `outCol` from the previous stage's ATTRIBUTE, so the plan holds k
    * small projections instead of one exponentially-inlined
    * expression. CollapseProject leaves the stages alone (the stage
    * output is non-cheap and referenced several times), and each
    * stage's generated code stays small enough for Janino. Row
    * semantics are exactly [[applyMerges]]'s: the same
    * [[mergedTokens]] fold in the same rank order. */
  def applyMergesStaged(df: DataFrame, toksCol: String, outCol: String,
      merges: Seq[(String, String)]): DataFrame =
    merges.foldLeft(df.withColumn(outCol, col(toksCol))) {
      case (d, (x, y)) =>
        d.withColumn(outCol, mergedTokens(col(outCol), lit(x), lit(y)))
    }
}
