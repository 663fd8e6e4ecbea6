package graft

import org.apache.spark.sql.functions._

import graft.operators.KMeans

class KMeansSpec extends SparkSpec {
  import spark.implicits._

  private val dims = 4

  private def vecs(rows: Seq[(Long, Seq[Double])]) =
    rows.toDF("vec_id", "v")
      .select(col("vec_id"),
        KMeans.quantize(transform(col("v"), x => x.cast("float"))).as("vq"))

  test("initCentroids is deterministic, in [-1, 1], and mirrors md5Long") {
    val a = KMeans.initCentroids(3, dims)
    val b = KMeans.initCentroids(3, dims)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    assert(a.flatten.forall(x => x >= -1.0 && x <= 1.0))
    // the driver-side hash must equal the Spark-side md5Long formula
    val sparkHash = spark.range(1)
      .select(graft.functions.Functions.md5Long(lit("km:0:0")))
      .head().getLong(0)
    assert(KMeans.hash60("km:0:0") == sparkHash)
  }

  test("fit recovers exact means of well-separated blobs") {
    // two blobs far apart; every init centroid is in [-1,1]^4, so one
    // iteration separates them and the second fixes the exact means
    val blobA = Seq.tabulate(5)(i =>
      (i.toLong, Seq(10.0 + i, 10.0, 10.0, 10.0)))
    val blobB = Seq.tabulate(5)(i =>
      (100L + i, Seq(-10.0 - i, -10.0, -10.0, -10.0)))
    val df = vecs(blobA ++ blobB).persist()
    val cents = KMeans.fit(df, "vq", 2, dims, 3)
    // exact integer-grid means: (10+11+12+13+14)/5 = 12, etc.
    val got = cents.map(_.toSeq).sortBy(_.head)
    assert(got(0) == Seq(-12.0, -10.0, -10.0, -10.0))
    assert(got(1) == Seq(12.0, 10.0, 10.0, 10.0))
    df.unpersist()
  }

  test("fit is bit-deterministic across repeated runs") {
    val data = Seq.tabulate(20)(i =>
      (i.toLong, Seq(math.sin(i.toDouble), math.cos(i.toDouble),
        math.sin(i * 2.0), math.cos(i * 3.0))))
    val df = vecs(data).persist()
    val a = KMeans.fit(df, "vq", 3, dims, 3)
    val b = KMeans.fit(df, "vq", 3, dims, 3)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    df.unpersist()
  }

  test("nearestCells yields the runner-up distance; ties carry the " +
      "tied distance") {
    val cents = Array(Array(0.0, 0.0, 0.0, 0.0),
      Array(10.0, 0.0, 0.0, 0.0))
    // point at x=1: own cell 0 (d²=1), runner-up cell 1 (d²=81)
    val r = rows(KMeans.nearestCells(
      vecs(Seq((1L, Seq(1.0, 0.0, 0.0, 0.0)))), "vq", cents, 2)).head
    assert(r.getAs[Int]("__probe0") == 0)
    assert(r.getAs[Double]("__pdist0") == 1.0)
    assert(r.getAs[Double]("__pdist1") == 81.0)
    // equidistant point at x=5: first-wins cell 0, runner-up ties at 25
    val t = rows(KMeans.nearestCells(
      vecs(Seq((2L, Seq(5.0, 0.0, 0.0, 0.0)))), "vq", cents, 2)).head
    assert(t.getAs[Int]("__probe0") == 0)
    assert(t.getAs[Int]("__probe1") == 1)
    assert(t.getAs[Double]("__pdist0") == 25.0)
    assert(t.getAs[Double]("__pdist1") == 25.0)
  }

  /** Driver-side replay of [[KMeans.fit]]'s exact trajectory —
    * quantized assignment (first-wins argmin), integer-mean update,
    * and the r14 farthest-point reseed — over a tiny in-memory
    * dataset. The spec's reference model: any drift between the
    * distributed implementation and this 30-line restatement of the
    * contract is a bug in one of them. Returns (centroids, #reseeds
    * performed) so a fixture that never exercised the reseed can be
    * rejected as vacuous. */
  private def refFit(data: Seq[Seq[Double]], k: Int,
      iters: Int): (Seq[Seq[Double]], Int) = {
    import scala.math.Ordering.Implicits._
    val vqs = data.map(_.map(x =>
      math.floor(x.toFloat.toDouble * KMeans.Q + 0.5).toLong))
    var cents: Seq[Seq[Double]] =
      KMeans.initCentroids(k, dims).map(_.toSeq).toSeq
    var reseeds = 0
    for (_ <- 0 until iters) {
      def dist(vq: Seq[Long], c: Seq[Double]): Double =
        vq.zip(c).foldLeft(0.0) { case (a, (q, cc)) =>
          val e = q.toDouble / KMeans.Q - cc; a + e * e }
      val assign = vqs.map { vq =>
        val ds = cents.map(c => dist(vq, c))
        val m = ds.indices.minBy(i => (ds(i), i))
        (vq, m, ds(m))
      }
      val byCell = assign.groupBy(_._2)
      var next = cents.zipWithIndex.map { case (c, m) =>
        byCell.get(m).fold(c) { rows =>
          Seq.tabulate(dims)(d =>
            rows.map(_._1(d)).sum.toDouble / (rows.size * KMeans.Q))
        }
      }
      val empty = (0 until k).filterNot(byCell.keySet)
      val seeds = assign.map(a => (a._1, a._3)).distinct
        .sortBy { case (vq, d) => (-d, vq) } // dist desc, vq asc
        .take(empty.size)
      empty.zip(seeds).foreach { case (m, (vq, _)) =>
        next = next.updated(m, vq.map(_.toDouble / KMeans.Q))
        reseeds += 1
      }
      cents = next
    }
    (cents, reseeds)
  }

  test("empty clusters are reseeded to the farthest distinct points " +
      "(model-replayed trajectory equality)") {
    // three shapes that strand cells empty under the [-1,1]^4 hash
    // init: an all-identical corpus (1 distinct point, 2 empties —
    // fewer seeds than empty cells), a far two-blob corpus with a
    // spare cell, and a blob + outliers mix at k = 5
    val shapes = Seq(
      (Seq.fill(4)(Seq(5.0, 5.0, 5.0, 5.0)), 3, 2),
      (Seq.tabulate(5)(i => Seq(10.0 + i * 0.1, 10.0, 10.0, 10.0)) ++
        Seq.tabulate(5)(i => Seq(-10.0 - i * 0.1, -10.0, -10.0, -10.0)),
        3, 3),
      (Seq.tabulate(6)(i => Seq(1.0 + i * 0.01, 1.0, 1.0, 1.0)) ++
        Seq(Seq(100.0, 0.0, 0.0, 0.0), Seq(-100.0, 0.0, 0.0, 0.0)),
        5, 3))
    var exercised = 0
    for (((data, k, iters), si) <- shapes.zipWithIndex) {
      val df = vecs(data.zipWithIndex.map { case (v, i) =>
        (i.toLong, v) })
      val got = KMeans.fit(df, "vq", k, dims, iters).map(_.toSeq).toSeq
      val (want, reseeds) = refFit(data, k, iters)
      assert(got == want, s"shape $si diverged from the model")
      exercised += reseeds
    }
    // vacuity guard: the fixtures must actually have reseeded
    assert(exercised > 0, "no shape ever exercised the reseed")
  }

  test("both assignment forms are bit-identical at the same k, and " +
      "the form switch at SmallK changes nothing") {
    // the engine picks the assignment form by k (codegen column fold
    // at k <= SmallK, the O(1)-plan typedlit+HOF array above); both
    // compute the exact distTo fold sequence, so distances, cells,
    // runner-ups, and probe lists must be BIT-identical — including
    // on ties (both crafted tie rows below land between centroids)
    val data = Seq.tabulate(40)(i =>
      (i.toLong, Seq(math.sin(i * 1.7), math.cos(i * 0.9),
        math.sin(i * 2.3), math.cos(i * 3.1)))) ++
      Seq((100L, Seq(5.0, 0.0, 0.0, 0.0)),   // tie between cells 0/1
        (101L, Seq(0.0, 5.0, 0.0, 0.0)))
    val df = vecs(data).persist()
    // k on BOTH sides of the threshold: SmallK (column form) and
    // SmallK+1 (HOF form) — and at each k, force the HOF form and
    // require equality with whatever the public pick produced
    for (k <- Seq(2, KMeans.SmallK, KMeans.SmallK + 1)) {
      val cents = KMeans.initCentroids(k, dims)
        .updated(0, Array(5.0, 5.0, 0.0, 0.0)) // makes the ties real
      // n = 1 and 2 take the column form at k <= SmallK; n = 4 is
      // always the sorted-array form
      def all(): Seq[Seq[Any]] =
        Seq(1, 2, math.min(4, k)).flatMap(n =>
          rows(KMeans.nearestCells(df, "vq", cents, n)
            .orderBy(col("vec_id"))).map(_.toSeq))
      val picked = all()
      KMeans.forceHof = true
      val hof = try all() finally KMeans.forceHof = false
      assert(picked == hof, s"forms diverged at k=$k")
      assert(picked.nonEmpty && picked.size == 3 * data.size)
    }
    df.unpersist()
    ()
  }

  test("assignment is the argmin cell with first-wins ties") {
    val df = vecs(Seq((1L, Seq(1.0, 0.0, 0.0, 0.0))))
    val cents = Array(
      Array(9.0, 9.0, 9.0, 9.0),
      Array(1.0, 0.0, 0.0, 0.0), // exact match
      Array(1.0, 0.0, 0.0, 0.0)) // tie → first wins
    val r = KMeans.nearestCells(df, "vq", cents, 1)
      .select("__probe0", "__pdist0").head()
    assert(r.getInt(0) == 1)
    assert(r.getDouble(1) == 0.0)
  }
}
