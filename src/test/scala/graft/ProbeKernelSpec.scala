package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{KMeans, Similarity}

/** The candidate-probe kernel ([[Similarity.probeTopK]]) under every
  * ANN search: with probes that cover EVERY key, the approximate search
  * must degenerate to the exact one, row for row — for the LSH buckets,
  * the hash-IVF cells and the trained cells alike. */
class ProbeKernelSpec extends SparkSpec {
  import spark.implicits._

  private val Dims = 6
  private val K = 3

  /** 24 deterministic vectors, one an exact duplicate (a cosine tie). */
  private lazy val corpus: DataFrame = {
    val vs = Seq.tabulate(23)(i => (i.toLong,
      Seq.tabulate(Dims)(d => math.sin(i * 1.3 + d * 0.7)))) :+
      ((23L, Seq.tabulate(Dims)(d => math.sin(5 * 1.3 + d * 0.7))))
    vs.toDF("vec_id", "v")
      .select(col("vec_id"), col("v").cast("array<float>").as("embedding"))
  }

  private def queries: DataFrame = corpus.filter(col("vec_id") % 4 === 1)
    .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))

  private def ranked(df: DataFrame): Seq[(Long, Long, Long, Double)] =
    rows(df.orderBy("query_id", "rank")).map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))

  private lazy val exact = ranked(Similarity.bruteForceTopK(corpus,
    "vec_id", "embedding", queries, "query_id", "qvec", K))

  test("with full probe cover the kernel equals the exact top-k: every " +
      "LSH bucket, every hash cell, every trained cell") {
    assert(exact.size == queries.count() * K)
    val planes = 3
    val lsh = Similarity.probeTopK(corpus, "vec_id", "embedding",
      Similarity.lshBucket(col("embedding"), planes, Dims),
      queries, "query_id", "qvec",
      typedlit((0L until (1L << planes)).toSeq), K)
    assert(ranked(lsh) == exact, "LSH, all 2^planes buckets")

    val cells = 4
    val ivf = Similarity.ivfTopK(corpus, "vec_id", "embedding",
      queries, "query_id", "qvec", K, cells, Dims, nProbe = cells)
    assert(ranked(ivf) == exact, "hash IVF, n = cells")

    val cents = KMeans.initCentroids(3, Dims)
    def cellsOf(df: DataFrame, vec: String, n: Int) = KMeans.nearestCells(
      df.withColumn("__vq", KMeans.quantize(col(vec))), "__vq", cents, n)
    val trained = Similarity.probeTopK(cellsOf(corpus, "embedding", 1),
      "vec_id", "embedding", col("__probe0"),
      cellsOf(queries, "qvec", cents.length), "query_id", "qvec",
      KMeans.probeList(cents.length), K)
    assert(ranked(trained) == exact, "trained IVF, n = k")
  }

  test("hash-IVF probes are the cells by (dot desc, cell), and probe 0 " +
      "is the single-probe cell") {
    val cells = 4
    val w = Seq.tabulate(cells, Dims)((m, d) =>
      ((KMeans.hash60(s"centroid:$m:$d") % 1001) - 500).toDouble / 500.0)
    val probed = rows(Similarity.ivfProbes(corpus, "embedding", cells,
        Dims, cells)
      .join(Similarity.ivfProbes(corpus, "embedding", cells, Dims, 1)
        .select(col("vec_id"), col("__probe0").as("single")), "vec_id")
      .select(col("embedding") +: col("single") +:
        (0 until cells).map(i => col(s"__probe$i")): _*))
    assert(probed.size == 24)
    probed.foreach { r =>
      val v = r.getSeq[Float](0).map(_.toDouble)
      // the DotProduct fold: strict left-to-right from 0.0
      val dots = w.map(c => v.zip(c).foldLeft(0.0) { case (a, (x, y)) =>
        a + x * y })
      val want = dots.indices.sortBy(m => (-dots(m), m))
      assert((2 until 2 + cells).map(r.getInt) == want)
      assert(r.getInt(1) == want.head)
    }
  }
}
