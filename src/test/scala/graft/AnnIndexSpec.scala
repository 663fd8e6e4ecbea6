package graft

import org.apache.spark.sql.functions._

import graft.operators.AnnIndex

/** The persisted ANN index ([[graft.operators.AnnIndex]], q247):
  * beyond the oracle's value check, the lifecycle contracts —
  * append ≡ one-shot frozen-centroid assignment, replay no-ops,
  * partition-scoped erasure, and the probed-cells partition pruning
  * that makes a search read only its slice of a 100 TB postings
  * table — must hold structurally. */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private val Dir = "/root/testdata/sf0.001"
  private val Dims = 64
  private val K = 8
  private val Iters = 3

  private def emb = graft.sources.Tables.embeddings(spark, Dir)

  private def postings(name: String): Set[(Long, Long)] =
    spark.table(AnnIndex.postingsTable(name))
      .select(col("id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("append under frozen centroids converges to the one-shot " +
      "assignment, and replaying the delta appends nothing") {
    val name = "annspec_inc"
    val base = emb.filter(col("vec_id") % 3 =!= 0)
    val delta = emb.filter(col("vec_id") % 3 === 0)
    AnnIndex.build(spark, base, "vec_id", "embedding", name, K, Dims,
      Iters)
    val appended = AnnIndex.append(spark, name, delta, "vec_id",
      "embedding")
    assert(appended == delta.count())

    // one-shot reference: assign EVERYTHING under the same frozen
    // centroids (the published table round-trips doubles bit-exactly)
    val cents = AnnIndex.loadCentroids(spark, name)
    val ref = graft.operators.KMeans.nearestCells(
        emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
          .withColumn("__vq",
            graft.operators.KMeans.quantize(col("vec"))),
        "__vq", cents, 1)
      .select(col("id"), col("__probe0").cast("long").as("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(postings(name) == ref)

    // replay: every delta id already lives in its (deterministically
    // identical) cell, so the cell-scoped existence probe drops all
    val again = AnnIndex.append(spark, name, delta, "vec_id", "embedding")
    assert(again == 0L)
    assert(postings(name) == ref)
  }

  test("erasure rewrites only the touched cells and replays as a no-op") {
    val name = "annspec_erase"
    AnnIndex.build(spark, emb, "vec_id", "embedding", name, K, Dims,
      Iters)
    val before = postings(name)
    val ids = emb.select(col("vec_id")).filter(col("vec_id") % 17 === 5)
    val idSet = ids.collect().map(_.getLong(0)).toSet
    val touched = AnnIndex.erase(spark, name, ids)
    assert(postings(name) == before.filterNot(p => idSet(p._1)))
    // the touched set is exactly the cells that held a target id
    assert(touched.map(_.asInstanceOf[Long]).toSet ==
      before.filter(p => idSet(p._1)).map(_._2))
    val again = AnnIndex.erase(spark, name, ids)
    assert(again.isEmpty)
    assert(postings(name) == before.filterNot(p => idSet(p._1)))
  }

  test("a search reads ONLY the probed cell partitions") {
    val name = "annspec_prune"
    AnnIndex.build(spark, emb, "vec_id", "embedding", name, K, Dims,
      Iters)
    // one query → exactly 2 probed cells; the postings scan must list
    // only those partitions, both in the plan and in the files touched
    val q = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val res = AnnIndex.topK(spark, name, q, "query_id", "qvec", 3)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      s"no partition filter on the postings scan:\n${plan.take(3000)}")
    val nCellsTotal = spark.table(AnnIndex.postingsTable(name))
      .select(col("cell")).distinct().count()
    assert(nCellsTotal > 2, "fixture degenerate: every vector in 2 cells")
    // candidates touched at most 2 of the >2 cells
    val probedCells = graft.operators.KMeans.nearestCells(
        q.withColumn("__vq",
          graft.operators.KMeans.quantize(col("qvec"))),
        "__vq", AnnIndex.loadCentroids(spark, name), 2)
      .select(col("__probe0").cast("long"), col("__probe1").cast("long"))
      .head()
    val cellsRead = spark.table(AnnIndex.postingsTable(name))
      .filter(col("cell").isin(probedCells.getLong(0),
        probedCells.getLong(1)))
      .select(input_file_name()).distinct().count()
    val filesTotal = spark.table(AnnIndex.postingsTable(name))
      .select(input_file_name()).distinct().count()
    assert(cellsRead < filesTotal,
      "pruned read did not touch fewer files than the full table")
    assert(rows(res).nonEmpty)
  }

  test("landed embedding files stream into the index, a checkpoint " +
      "restart is a no-op, and maintenance compacts without changing " +
      "content") {
    val name = "annspec_stream"
    val ids = emb.select("vec_id").collect().map(_.getLong(0)).sorted
    val (cut1, cut2) = (ids(ids.length / 2), ids(3 * ids.length / 4))
    AnnIndex.build(spark, emb.filter(col("vec_id") < cut1),
      "vec_id", "embedding", name, K, Dims, Iters)

    val landing = "/tmp/graft_test_annstream_landing"
    val chk = "/tmp/graft_test_annstream_chk"
    for (d <- Seq(landing, chk)) graft.sources.Ingest.deletePath(spark, d)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(landing).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(landing))
    def land(df: org.apache.spark.sql.DataFrame, n: String): Unit = {
      val tmp = s"/tmp/graft_test_annstream_tmp_$n"
      graft.sources.Ingest.deletePath(spark, tmp)
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$tmp/part-*")).head
      org.apache.hadoop.fs.FileUtil.copy(fs, part.getPath, fs,
        new org.apache.hadoop.fs.Path(landing, s"$n.parquet"),
        false, true, conf)
    }
    land(emb.filter(col("vec_id") >= cut1 && col("vec_id") < cut2), "d1")
    land(emb.filter(col("vec_id") >= cut2), "d2")
    val counts = AnnIndex.streamAppend(spark, name, landing, chk,
      "vec_id", "embedding", emb.schema)
    assert(counts.size == 2 && counts.map(_._2).sum ==
      emb.filter(col("vec_id") >= cut1).count())

    // streamed state ≡ one-shot frozen assignment of everything
    val cents = AnnIndex.loadCentroids(spark, name)
    val ref = graft.operators.KMeans.nearestCells(
        emb.select(col("vec_id").as("id"), col("embedding").as("vec"))
          .withColumn("__vq",
            graft.operators.KMeans.quantize(col("vec"))),
        "__vq", cents, 1)
      .select(col("id"), col("__probe0").cast("long").as("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(postings(name) == ref)

    // restart with no new files: offsets carry, nothing re-appends
    val counts2 = AnnIndex.streamAppend(spark, name, landing, chk,
      "vec_id", "embedding", emb.schema)
    assert(counts2.isEmpty && postings(name) == ref)

    // the two appends fragmented the touched cells; maintenance
    // compacts them and content stays bit-identical
    val post = spark.table(AnnIndex.postingsTable(name))
    val filesBefore = post.select(input_file_name()).distinct().count()
    val compacted = AnnIndex.maintain(spark, name)
    assert(compacted.nonEmpty)
    val filesAfter = spark.table(AnnIndex.postingsTable(name))
      .select(input_file_name()).distinct().count()
    assert(filesAfter < filesBefore)
    assert(postings(name) == ref, "compaction changed content")
  }

  test("the runner-up probe cell is the rk=2 of (dist, cell)") {
    // closed-form: centroids at 0 and ±1 on dim 0 (k=3); a vector at
    // 0.4 has dists (0.16, 0.36, 1.96) → cell 0, runner-up 1; a vector
    // at -0.6 has dists (0.36, 2.56, 0.16) → cell 2, runner-up 0
    val cents = Array(
      Array.fill(2)(0.0),
      { val a = Array.fill(2)(0.0); a(0) = 1.0; a },
      { val a = Array.fill(2)(0.0); a(0) = -1.0; a })
    val df = Seq((1L, Seq(0.4, 0.0)), (2L, Seq(-0.6, 0.0)))
      .toDF("id", "vec")
      .withColumn("__vq", graft.operators.KMeans.quantize(col("vec")))
    val got = graft.operators.KMeans.nearestCells(df, "__vq", cents, 2)
      .select(col("id"), col("__probe0"), col("__probe1"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .toSet
    assert(got == Set((1L, 0, 1), (2L, 2, 0)))
  }

  /** The retrain fixture: drift members within a GROUP share an exact
    * direction (mutual cosine 1.0 — each group member's true top-k is
    * the rest of its group) but differ in MAGNITUDE. Cosine search is
    * magnitude-invariant; Euclidean cell assignment is not — the
    * frozen base quantizer has a near centroid (~(0,1)) and a far one
    * (~(0,3.5)) along the drift direction, whose Voronoi crossover
    * (m ≈ 2.81) splits every group: low-magnitude members land in the
    * near cell, high-magnitude in the far cell. A low-magnitude query
    * 2-probes its own cell plus the (1,0) blob — never the far cell —
    * so the frozen index structurally misses the high-magnitude half
    * of its true neighbors, while a retrain on the current content
    * dedicates a centroid to the drift region and recovers them. */
  private def retrainFixture = {
    def j(i: Int): Double = ((i * 37) % 21 - 10) / 100.0 // ±0.10, det.
    val base = (
      (0 until 40).map(i => (i.toLong, Seq(1.0, 0.0, j(i), j(i + 1)))) ++
      (0 until 40).map(i => ((100 + i).toLong,
        Seq(5.0, 0.0, j(i), j(i + 1)))) ++
      (0 until 40).map(i => ((300 + i).toLong,
        Seq(0.0, 1.0, j(i), j(i + 1)))) ++
      (0 until 40).map(i => ((400 + i).toLong,
        Seq(0.0, 3.5, j(i), j(i + 1)))))
      .toDF("vec_id", "embedding")
    val mags = Seq(2.0, 2.3, 2.6, 2.9, 3.2, 3.5)
    val delta = (for { g <- 0 until 7; t <- 0 until 6 } yield {
      val m = mags(t)
      val th = 2.0 * math.Pi * g / 7.0
      ((1000 + g * 10 + t).toLong,
        Seq(0.6 * m, 0.8 * m,
          0.2 * m * math.cos(th), 0.2 * m * math.sin(th)))
    }).toDF("vec_id", "embedding")
    (base, delta)
  }

  test("maintainWithRetrain: an injected drift batch trips the " +
      "threshold, the swap is atomic, and recall recovers") {
    val name = "annspec_retrain"
    val dims = 4; val cells = 5; val iters = 8; val k = 5
    val (base, delta) = retrainFixture
    AnnIndex.build(spark, base, "vec_id", "embedding", name, cells,
      dims, iters)
    AnnIndex.append(spark, name, delta, "vec_id", "embedding")
    // queries: the lowest-magnitude member of each drift group
    val q = delta.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    def centFp(): Seq[(Long, Seq[Double])] =
      rows(spark.table(AnnIndex.centroidsTable(name)).orderBy("cell"))
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val fpFrozen = centFp()
    // an impossible threshold: measured but NOT acted on — no-op
    val (f0, r0, sw0) = AnnIndex.maintainWithRetrain(spark, name, q,
      "query_id", "qvec", k, cells, dims, iters, threshold = 1.0)
    assert(!sw0 && centFp() == fpFrozen)
    assert(r0 - f0 > 0.05,
      s"drift fixture shows no staleness gap: frozen $f0 retrained $r0")
    // a real threshold below the measured gap: retrain fires
    val (f1, r1, sw1) = AnnIndex.maintainWithRetrain(spark, name, q,
      "query_id", "qvec", k, cells, dims, iters, threshold = 0.02)
    assert(sw1 && f1 == f0 && r1 == r0)
    assert(centFp() != fpFrozen, "swap published no new centroids")
    // the swap must publish CONTENT, not just metadata: an empty
    // postings table scores recall 1.0 on zero exact rows, which made
    // the post-swap equality below pass VACUOUSLY while the r10
    // partitioned-rename bug served an empty index (fixed r11:
    // Materialize.renameTable repairs partition metadata)
    assert(spark.table(AnnIndex.postingsTable(name)).count() > 0,
      "swap published an empty postings table")
    // postings were re-binned CONSISTENTLY with the new centroids:
    // the live index's recall now equals the retrained measurement
    val (f2, r2, sw2) = AnnIndex.maintainWithRetrain(spark, name, q,
      "query_id", "qvec", k, cells, dims, iters, threshold = 1.0)
    assert(f2 == r1, s"post-swap live recall $f2 != promised $r1")
    assert(r2 == f2 && !sw2) // retraining again buys nothing
  }

  test("a crash mid-retrain-swap is recoverable: recoverSet restores " +
      "a serving index and a retry lands") {
    import graft.sources.Materialize
    val name = "annspec_retrcrash"
    val dims = 4; val cells = 5; val iters = 8; val k = 5
    val (base, delta) = retrainFixture
    AnnIndex.build(spark, base, "vec_id", "embedding", name, cells,
      dims, iters)
    AnnIndex.append(spark, name, delta, "vec_id", "embedding")
    val q = delta.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    def centFp(): Seq[(Long, Seq[Double])] =
      rows(spark.table(AnnIndex.centroidsTable(name)).orderBy("cell"))
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val fpFrozen = centFp()
    val postFrozen = postings(name)
    // crash after the CENTROIDS renamed in but before the postings:
    // the worst state — new centroids over old cell assignments
    // (centroids are member 0 of the two-member set)
    intercept[Materialize.CrashInjected] {
      AnnIndex.maintainWithRetrain(spark, name, q, "query_id", "qvec",
        k, cells, dims, iters, threshold = 0.02,
        crashAfter = PublishSteps.renamedIn(0, 2))
    }
    assert(spark.catalog.tableExists(s"${name}_retrain__swapping"))
    // recovery rolls the whole set back to the frozen generation...
    assert(Materialize.recoverSet(spark, s"${name}_retrain") == "back")
    assert(centFp() == fpFrozen && postings(name) == postFrozen)
    // ...the index serves (centroids and postings are consistent)
    assert(rows(AnnIndex.topK(spark, name, q, "query_id", "qvec", k))
      .nonEmpty)
    // and a retry of the same retrain lands the swap
    val (f1, r1, sw1) = AnnIndex.maintainWithRetrain(spark, name, q,
      "query_id", "qvec", k, cells, dims, iters, threshold = 0.02)
    assert(sw1 && r1 - f1 > 0.05)
    assert(centFp() != fpFrozen)
    val (f2, _, _) = AnnIndex.maintainWithRetrain(spark, name, q,
      "query_id", "qvec", k, cells, dims, iters, threshold = 1.0)
    assert(f2 == r1)
  }

  test("maintainMonitored: the report IS the decision input — no swap " +
      "below threshold, swap above, compaction counted") {
    val name = "annspec_monitored"
    val dims = 4; val cells = 5; val iters = 8; val k = 5
    val (base, delta) = retrainFixture
    AnnIndex.build(spark, base, "vec_id", "embedding", name, cells,
      dims, iters)
    AnnIndex.append(spark, name, delta, "vec_id", "embedding")
    val q = delta.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    def centFp(): Seq[(Long, Seq[Double])] =
      rows(spark.table(AnnIndex.centroidsTable(name)).orderBy("cell"))
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val fpFrozen = centFp()
    def report(threshold: Double) =
      rows(AnnIndex.maintainMonitored(spark, name, q, "query_id",
        "qvec", k, cells, dims, iters, threshold))
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getBoolean(4), r.getLong(5)))
    // impossible threshold: measured, reported, NOT acted on
    val rep0 = report(1.0)
    assert(rep0.map(_._1).sorted == Seq("ivf_frozen", "ivf_retrained"))
    assert(rep0.forall(!_._5) && centFp() == fpFrozen)
    val Seq(f0, r0) = rep0.sortBy(_._1).map(x => x._3.toDouble / x._2)
    assert(r0 - f0 > 0.05,
      s"drift fixture shows no staleness gap: frozen $f0 retrained $r0")
    // build + append fragmented the drift cells; the ONE lifecycle
    // call compacted them before measuring
    assert(rep0.head._6 > 0, "no cells compacted by the lifecycle call")
    // threshold below the measured gap: the SAME call's report records
    // the swap it performed, with the numbers that justified it
    val rep1 = report(0.02)
    assert(rep1.forall(_._5) && centFp() != fpFrozen,
      "swap reported but no new centroids published")
    val Seq(f1, r1) = rep1.sortBy(_._1).map(x => x._3.toDouble / x._2)
    assert(f1 == f0 && r1 == r0)
    // post-swap: the live index serves the retrained recall, and the
    // next monitored run reports no further gap to act on
    val rep2 = report(1.0)
    val Seq(f2, _) = rep2.sortBy(_._1).map(x => x._3.toDouble / x._2)
    assert(f2 == r1, s"post-swap live recall $f2 != promised $r1")
    assert(rep2.forall(!_._5))
  }

  test("a delta carrying the same id twice appends exactly one posting") {
    val name = "annspec_dupdelta"
    val base = emb.filter(col("vec_id") % 3 =!= 0)
    val extra = emb.filter(col("vec_id") % 3 === 0)
    AnnIndex.build(spark, base, "vec_id", "embedding", name, K, Dims,
      Iters)
    // the existence anti-join only guards against ALREADY-indexed ids;
    // an upstream that double-delivers within ONE batch must not be
    // able to break the unique-id invariant topK relies on
    val n = AnnIndex.append(spark, name, extra.unionByName(extra),
      "vec_id", "embedding")
    assert(n == extra.count())
    val dupIds = spark.table(AnnIndex.postingsTable(name))
      .groupBy(col("id")).count().filter(col("count") > 1).count()
    assert(dupIds == 0L)
  }

  test("nProbe: probes replay the (dist, cell) window order, nProbe=2 " +
      "equals the withCell2 contract, and more probes never lower a " +
      "query's scores") {
    import graft.operators.KMeans
    val name = "annspec_nprobe"
    AnnIndex.build(spark, emb, "vec_id", "embedding", name, K, Dims,
      Iters)
    val cents = AnnIndex.loadCentroids(spark, name)
    val q = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      .withColumn("__vq", KMeans.quantize(col("qvec")))
    // the 2-probe contract every 2-probe oracle replays (nearest +
    // rk=2 runner-up) is the same in both assignment forms: the column
    // form (K <= SmallK, n = 2) and the sorted-array form
    def probes2(): Map[Long, (Long, Long)] =
      rows(KMeans.nearestCells(q, "__vq", cents, 2)
        .select(col("query_id"), col("__probe0").cast("long"),
          col("__probe1").cast("long")))
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val two = probes2()
    KMeans.forceHof = true
    val n2 = try probes2() finally KMeans.forceHof = false
    assert(n2 == two)
    // probe lists are prefixes of one another (the same window walked
    // further), and all distinct
    val n4 = rows(KMeans.nearestCells(q, "__vq", cents, 4)
      .select(col("query_id") +: (0 until 4)
        .map(i => col(s"__probe$i").cast("long")): _*))
      .map(r => (r.getLong(0), (0 until 4).map(i => r.getLong(i + 1))))
      .toMap
    assert(n4.forall { case (id, ps) =>
      ps.take(2) == Seq(two(id)._1, two(id)._2) && ps.distinct == ps })
    // a probe superset can never lower any query's best score
    def best(nProbe: Int): Map[Long, Double] =
      rows(AnnIndex.topK(spark, name,
        q.drop("__vq"), "query_id", "qvec", 1, nProbe = nProbe))
        .map(r => r.getAs[Long]("query_id") ->
          r.getAs[Double]("cosine")).toMap
    val b2 = best(2)
    val b4 = best(4)
    assert(b2.keySet == b4.keySet)
    assert(b2.forall { case (id, s) => b4(id) >= s },
      "4-probe best cosine fell below 2-probe for some query")
  }

  test("streamed ingest-dedup: audits are idempotent, dropped docs " +
      "never enter the index, kept docs land, restart is a no-op") {
    import org.apache.hadoop.fs.Path
    val name = "annspec_streamdedup"
    AnnIndex.build(spark, emb.filter(col("vec_id") % 5 =!= 4),
      "vec_id", "embedding", name, K, Dims, Iters)
    val landing = "/tmp/graft_test_annsd_landing"
    val audit = "/tmp/graft_test_annsd_audit"
    val chk = "/tmp/graft_test_annsd_chk"
    for (d <- Seq(landing, audit, chk))
      graft.sources.Ingest.deletePath(spark, d)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(landing).getFileSystem(conf)
    fs.mkdirs(new Path(landing))
    def land(df: org.apache.spark.sql.DataFrame, n: String,
        ageMs: Long): Unit = {
      val tmp = s"${landing}_tmp_$n"
      graft.sources.Ingest.deletePath(spark, tmp)
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.globStatus(new Path(s"$tmp/part-*")).head
      val dest = new Path(landing, s"$n.parquet")
      org.apache.hadoop.fs.FileUtil.copy(fs, part.getPath, fs, dest,
        false, true, conf)
      fs.setTimes(dest, System.currentTimeMillis() - ageMs, -1)
    }
    land(emb.filter(col("vec_id") % 10 === 4), "b0", 60000L)
    land(emb.filter(col("vec_id") % 10 === 9), "b1", 30000L)
    val counts = AnnIndex.streamIngestDedup(spark, name, landing, chk,
      "vec_id", "embedding", 0.4, audit, emb.schema)
    assert(counts.size == 2)
    val deltaIds = emb.filter(col("vec_id") % 5 === 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val aud = spark.read.parquet(s"$audit/b*")
    assert(aud.count() == deltaIds.size.toLong,
      "one verdict row per delta doc")
    // a dropped doc carries evidence at/above the threshold, and the
    // served (rounded) cosine is what the flag compared
    assert(aud.filter(col("is_dup") && col("cosine") < 0.4).count() == 0L)
    val dropped = aud.filter(col("is_dup"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(counts.map(_._2).sum == dropped.size.toLong)
    assert(counts.map(_._3).sum == (deltaIds.size - dropped.size).toLong)
    val indexed = postings(name).map(_._1)
    assert(dropped.forall(id => !indexed.contains(id)),
      "a dropped duplicate entered the index")
    assert((deltaIds -- dropped).forall(indexed.contains),
      "a kept doc is missing from the index")
    // restart with the same checkpoint: no batches, nothing changes
    val before = postings(name)
    val counts2 = AnnIndex.streamIngestDedup(spark, name, landing, chk,
      "vec_id", "embedding", 0.4, audit, emb.schema)
    assert(counts2.isEmpty)
    assert(postings(name) == before)
    assert(spark.read.parquet(s"$audit/b*").count() ==
      deltaIds.size.toLong)
  }

  test("a crash after a batch's audit OR after its append replays " +
      "the batch on restart and converges to the clean run, evidence " +
      "columns included") {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    def landAll(landing: String): Unit = {
      val fs = new Path(landing).getFileSystem(conf)
      fs.mkdirs(new Path(landing))
      def land(df: org.apache.spark.sql.DataFrame, n: String,
          ageMs: Long): Unit = {
        val tmp = s"${landing}_tmp_$n"
        graft.sources.Ingest.deletePath(spark, tmp)
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = fs.globStatus(new Path(s"$tmp/part-*")).head
        val dest = new Path(landing, s"$n.parquet")
        org.apache.hadoop.fs.FileUtil.copy(fs, part.getPath, fs, dest,
          false, true, conf)
        fs.setTimes(dest, System.currentTimeMillis() - ageMs, -1)
      }
      // clones land IN b0 so the crashed/replayed batch carries
      // intra-batch near-dups — the sibling-leg verdicts must also be
      // replay-invariant, evidence columns included
      land(emb.filter(col("vec_id") % 10 === 4).unionByName(
        emb.filter(col("vec_id") % 50 === 4)
          .withColumn("vec_id", col("vec_id") + 1000000L)),
        "b0", 60000L)
      land(emb.filter(col("vec_id") % 10 === 9), "b1", 30000L)
    }
    // full audit rows — dup_of and cosine included: a replayed batch
    // re-verdicting against an index that already holds its own kept
    // docs can flip the EVIDENCE (best neighbor) even where is_dup
    // stays put, which is exactly the divergence self-exclusion closes
    def auditRows(audit: String): Set[(Long, Option[Long], Option[Double],
        Boolean)] =
      spark.read.parquet(s"$audit/b*")
        .select(col("vec_id"), col("dup_of"), col("cosine"),
          col("is_dup"))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          r.getBoolean(3))).toSet
    def run(name: String, tag: String, crashAudit: Long,
        crashAppend: Long)
        : (Set[(Long, Long)],
           Set[(Long, Option[Long], Option[Double], Boolean)]) = {
      val landing = s"/tmp/graft_test_annsdc_${tag}_landing"
      val audit = s"/tmp/graft_test_annsdc_${tag}_audit"
      val chk = s"/tmp/graft_test_annsdc_${tag}_chk"
      for (d <- Seq(landing, audit, chk))
        graft.sources.Ingest.deletePath(spark, d)
      landAll(landing)
      AnnIndex.build(spark, emb.filter(col("vec_id") % 5 =!= 4),
        "vec_id", "embedding", name, K, Dims, Iters)
      if (crashAudit >= 0 || crashAppend >= 0) {
        val e = intercept[Exception] {
          AnnIndex.streamIngestDedup(spark, name, landing, chk,
            "vec_id", "embedding", 0.4, audit, emb.schema,
            crashAfterAudit = crashAudit, crashAfterAppend = crashAppend)
        }
        // the injected failure, not something else, killed the stream
        val injected = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).take(8)
          .exists(_.isInstanceOf[graft.sources.Materialize.CrashInjected])
        assert(injected, s"stream died of something else: $e")
        // both crash points audited batch 0 before dying
        assert(spark.read.parquet(s"$audit/b0").count() > 0)
        val b0Kept = postings(name).map(_._1)
          .intersect(emb.filter(col("vec_id") % 10 === 4)
            .select("vec_id").collect().map(_.getLong(0)).toSet)
        if (crashAudit >= 0)
          assert(b0Kept.isEmpty, "crash landed postings it should not have")
        else
          // the append-then-crash window: postings landed, offset did
          // not commit — the replay must converge anyway
          assert(b0Kept.nonEmpty, "crash-after-append landed nothing")
        // restart with the SAME checkpoint, no injection
        AnnIndex.streamIngestDedup(spark, name, landing, chk,
          "vec_id", "embedding", 0.4, audit, emb.schema)
        ()
      } else {
        AnnIndex.streamIngestDedup(spark, name, landing, chk,
          "vec_id", "embedding", 0.4, audit, emb.schema)
        ()
      }
      (postings(name), auditRows(audit))
    }
    val (cleanPost, cleanAud) = run("annspec_sdc_clean", "clean", -1L, -1L)
    // the fixture must exercise the sibling leg, not pass vacuously
    assert(cleanAud.exists { case (id, dupOf, _, dup) =>
      dup && id >= 1000000L && dupOf.exists(_ == id - 1000000L) },
      "no intra-batch clone was dropped against its original")
    for ((tag, cAud, cApp) <- Seq(("audit", 0L, -1L), ("append", -1L, 0L))) {
      val (crashPost, crashAud) =
        run(s"annspec_sdc_$tag", s"crash_$tag", cAud, cApp)
      assert(crashAud == cleanAud,
        s"replayed verdicts diverged from the clean run (crash-after-$tag)")
      assert(crashPost == cleanPost,
        s"recovered index state diverged from the clean run (crash-after-$tag)")
    }
  }

  test("attribute payload survives append/erase/retrain-swap, and " +
      "topKWhere pre-filters with the predicate PUSHED into the scan") {
    import graft.operators.{KMeans, Similarity}
    val name = "annspec_attrs"
    val base = emb.filter(col("vec_id") % 4 =!= 0)
    val delta = emb.filter(col("vec_id") % 4 === 0)
    AnnIndex.build(spark, base, "vec_id", "embedding", name, K, Dims,
      Iters, attrCols = Seq("label"))
    def labels(): Map[Long, Int] =
      spark.table(AnnIndex.postingsTable(name))
        .select(col("id"), col("label"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val expected = emb.select(col("vec_id"), col("label"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap

    // append derives the attribute list from the published schema —
    // the delta's labels ride along without the caller restating them
    AnnIndex.append(spark, name, delta, "vec_id", "embedding")
    assert(labels() == expected)

    // filtered serving: cell pruning AND a pushed attribute predicate
    val q = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val res = AnnIndex.topKWhere(spark, name, q, "query_id", "qvec", 3,
      col("label") < 3)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      s"no partition filter on the postings scan:\n${plan.take(3000)}")
    assert(plan.contains("LessThan(label,3)"),
      s"label predicate not pushed to the postings scan:\n" +
        plan.take(3000))
    val got = rows(res).map(r => (r.getAs[Long]("rank"),
      r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))
    assert(got.nonEmpty)
    assert(got.forall { case (_, id, _) => expected(id) < 3 })
    // equals pre-filtering the probed cells' candidates exactly
    val pc = KMeans.nearestCells(
        q.withColumn("__vq", KMeans.quantize(col("qvec"))),
        "__vq", AnnIndex.loadCentroids(spark, name), 2)
      .select(col("__probe0").cast("long"), col("__probe1").cast("long"))
      .head()
    val cand = spark.table(AnnIndex.postingsTable(name))
      .filter(col("cell").isin(pc.getLong(0), pc.getLong(1)) &&
        col("label") < 3)
    val ref = rows(Similarity.bruteForceTopK(cand, "id", "vec",
      q, "query_id", "qvec", 3)).map(r => (r.getAs[Long]("rank"),
      r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))
    assert(got == ref)

    // erase keeps the payload on every surviving row
    AnnIndex.erase(spark, name,
      emb.select(col("vec_id")).filter(col("vec_id") % 10 === 1))
    val afterErase = expected.filter { case (id, _) => id % 10 != 1 }
    assert(labels() == afterErase)

    // a forced retrain swap re-bins WITHOUT stripping the payload
    val qs = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val (_, _, swapped) = AnnIndex.maintainWithRetrain(spark, name, qs,
      "query_id", "qvec", 3, K, Dims, Iters, threshold = -1.0)
    assert(swapped)
    assert(labels() == afterErase)
    // and filtered serving still answers on the new generation
    assert(rows(AnnIndex.topKWhere(spark, name, q, "query_id", "qvec",
      3, col("label") < 3)).nonEmpty)
  }
}
