package graft

import org.apache.spark.sql.functions._

/** The nProbe recall/cost curve measured WHERE IT BITES (VERDICT r12
  * #6): q259's oracle-checked panel runs at fixture scale, where its
  * 8-cell index makes 4 probes cover every occupied cell and the curve
  * degenerates to (1.0, 1.0) by construction. This harness re-measures
  * the same legs on a CORPUS-SIZED index — the 10× embedding replica
  * with ~125 postings per cell (the production sizing the stream-ingest
  * probe uses), so nProbe ∈ {1, 2, 4, 8} covers ≤ 5% of cells and the
  * recall-vs-candidate-fraction trade is real. One JSON line per
  * (selectivity, nProbe) plus a summary; NEVER feeds a correctness
  * oracle (the measurement twin of q259, exactly like ScaleBench vs
  * the qNN queries).
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *        sbt "runMain graft.NprobeCurve"
  */
object NprobeCurve {

  def main(args: Array[String]): Unit = {
    val baseDir = Tool.sfDir("/root/testdata/sf0.1")
    val mult = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULT", "10").toInt
    val spark = Tool.start()

    import graft.operators.{AnnIndex, InternalCache, Similarity}
    val dir = s"/tmp/graft_scale_x$mult"
    ScaleBench.buildReplica(spark, baseDir, mult, dir)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count()
    // production sizing: ~125 postings per cell (the stream-ingest
    // probe's posture) — the index the curve is ABOUT
    val cells = math.max(16, (n / 125L).toInt)
    val dims = 64
    val name = s"nprobe_curve_${math.abs(dir.hashCode)}_$cells"
    if (!spark.catalog.tableExists(AnnIndex.postingsTable(name))) {
      AnnIndex.build(spark, emb, "vec_id", "embedding", name, cells,
        dims, 3, attrCols = Seq("label"))
      ()
    }
    val posts = spark.table(AnnIndex.postingsTable(name))
    val occupied = posts.select(col("cell")).distinct().count()
    val q = emb.filter(col("vec_id") % 40 === 0 &&
        col("vec_id") < 10000000L)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val k = 3
    val maxP = 8
    // full probe list per query once, rank kept: leg p reads its prefix
    val qpr = InternalCache.persist(
      AnnIndex.rankedProbes(spark, name, q, maxP))
    val lines = for (selMax <- Seq(1, 3)) yield {
      val f = posts.filter(col("label") < selMax)
      val exact = InternalCache.persist(
        Similarity.bruteForceTopK(
            emb.filter(col("label") < selMax), "vec_id", "embedding",
            q, "query_id", "qvec", k)
          .select(col("query_id"), col("neighbor_id")))
      val nExact = exact.count()
      val nf = f.count()
      val nq = q.count()
      val nSelf = f.join(q.select(col("query_id").as("id")),
        Seq("id"), "left_semi").count()
      val nBrute = nf * nq - nSelf
      Seq(1, 2, 4, 8).map { p =>
        // serve_sec times the ANN serve ALONE (ADVICE r13): the
        // recall semi-join against the exact panel is measurement
        // apparatus, so it runs OUTSIDE the timer on a persisted copy
        // of the served rows (persist → count inside the clock is the
        // serve action; the recall join then reads the cached result)
        val t0 = System.nanoTime()
        val approx = InternalCache.persist(
          AnnIndex.topKWhere(spark, name, q, "query_id",
            "qvec", k, col("label") < selMax, nProbe = p)
          .select(col("query_id"), col("neighbor_id")))
        approx.count()
        val sec = (System.nanoTime() - t0) / 1e9
        val nHit = exact.join(approx,
          Seq("query_id", "neighbor_id"), "left_semi").count()
        val nCand = f.join(qpr.filter(col("pidx") < p),
          col("cell") === col("probe") &&
            col("id") =!= col("query_id")).count()
        val line =
          f"""{"sel":$selMax,"nprobe":$p,"cells":$cells,""" +
          f""""occupied":$occupied,""" +
          f""""probe_cover":${p.toDouble / occupied}%.4f,""" +
          f""""recall":${nHit.toDouble / nExact}%.4f,""" +
          f""""n_cand":$nCand,"n_brute":$nBrute,""" +
          f""""cand_frac":${nCand.toDouble / nBrute}%.4f,""" +
          f""""serve_sec":$sec%.3f}"""
        println(line)
        line
      }
    }
    InternalCache.release()
    println(s"""{"nprobe_curve_done":true,"rows":${lines.flatten.size},""" +
      s""""cells":$cells,"occupied":$occupied,"n_vectors":$n}""")
    spark.stop()
  }
}
