package graft

import org.apache.spark.sql.functions._
import graft.datagen.Generate
import graft.sources.Materialize

/** Materialization semantics (S6/S7) + payments generation (J3/F9). */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  test("view stays lazy, table persists and re-reads from catalog") {
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    Materialize.view(df, "mz_view")
    assert(spark.sql("SELECT COUNT(*) FROM mz_view").head.getLong(0) == 2)
    val t = Materialize.table(df, "mz_table")
    assert(t.count() == 2)
    assert(spark.catalog.tableExists("mz_table"))
    spark.sql("DROP TABLE mz_table")
  }

  test("eraseKeys rewrites only affected partitions, drops emptied ones") {
    spark.sql("DROP TABLE IF EXISTS mz_gdpr")
    graft.sources.Ingest.deletePath(spark,
      "/tmp/graft_test_warehouse/mz_gdpr")
    val src = Seq((1L, "d1", "x"), (2L, "d1", "y"), (3L, "d2", "z"),
      (4L, "d3", "w")).toDF("uid", "d", "v")
    src.write.mode("overwrite").format("parquet")
      .partitionBy("d").saveAsTable("mz_gdpr")
    // erase uid 2 (partial partition) and uid 4 (entire partition d3)
    val affected = Materialize.eraseKeys(spark, "mz_gdpr", "uid",
      Seq(2L, 4L).toDF("uid"), "d")
    assert(affected.toSet == Set("d1", "d3"))
    val left = rows(spark.table("mz_gdpr")).map(_.getLong(0)).sorted
    assert(left == Seq(1L, 3L))
    // the fully-erased partition is gone from the catalog, not stale
    assert(rows(spark.sql("SHOW PARTITIONS mz_gdpr"))
      .map(_.getString(0)).forall(!_.contains("d3")))
    spark.sql("DROP TABLE mz_gdpr")
  }

  test("eraseAggKeys rewrites only the touched (partition, batch) " +
      "slices; untouched batch slices keep their exact files") {
    import org.apache.spark.sql.functions.{col, input_file_name}
    Materialize.dropAggState(spark, "mz_aggslice")
    // two batches: b0 holds keys 1/2 in partition d1; b1 holds key 3
    // in d1 and key 4 in d2. Erasing key 1 touches ONLY (d1, b0) —
    // (d1, b1) is an untouched batch slice of an AFFECTED partition,
    // the write-amplification case: its files must not be rewritten
    def partial(rows: Seq[(Long, String, Long)]) =
      rows.toDF("uid", "d", "n")
    Materialize.aggIncremental(spark, "mz_aggslice",
      partial(Seq((1L, "d1", 10L), (2L, "d1", 20L))),
      Seq("uid", "d"), "d", "b0")
    Materialize.aggIncremental(spark, "mz_aggslice",
      partial(Seq((3L, "d1", 30L), (4L, "d2", 40L))),
      Seq("uid", "d"), "d", "b1")
    def filesOf(b: String): Set[String] =
      rows(spark.table("mz_aggslice__partials")
        .filter(col("__batch") === b)
        .select(input_file_name().as("f")).distinct())
        .map(_.getString(0)).toSet
    val b1Before = filesOf("b1")
    assert(b1Before.nonEmpty)
    val (pubParts, slices) = Materialize.eraseAggKeys(spark,
      "mz_aggslice", "uid", Seq(1L).toDF("uid"), "d")
    assert(slices == 1L, s"expected 1 touched slice, got $slices")
    assert(pubParts == Seq("d1"))
    // untouched batch slice: byte-identical files, not a rewrite
    assert(filesOf("b1") == b1Before,
      "untouched (d1, b1) slice was rewritten")
    // content: key 1 gone everywhere, the rest intact
    assert(rows(spark.table("mz_aggslice__partials").select("uid"))
      .map(_.getLong(0)).sorted == Seq(2L, 3L, 4L))
    assert(rows(spark.table("mz_aggslice").select("uid"))
      .map(_.getLong(0)).sorted == Seq(2L, 3L, 4L))
    Materialize.dropAggState(spark, "mz_aggslice")
  }

  test("compactFiles: content identical, one file per partition after") {
    spark.sql("DROP TABLE IF EXISTS mz_cmp")
    graft.sources.Ingest.deletePath(spark,
      "/tmp/graft_test_warehouse/mz_cmp")
    val df = (1 to 100).map(i => (i.toLong, s"d${i % 3}")).toDF("id", "d")
    df.repartition(8).write.mode("overwrite").format("parquet")
      .partitionBy("d").saveAsTable("mz_cmp")
    def filesPerPart() = rows(spark.table("mz_cmp")
        .withColumn("__f", input_file_name())
        .groupBy($"d").agg(countDistinct($"__f").as("nf")))
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(filesPerPart().values.exists(_ > 1), "fixture not fragmented")
    val before = rows(spark.table("mz_cmp")).map(_.getLong(0)).sorted
    val affected = Materialize.compactFiles(spark, "mz_cmp", "d")
    assert(affected.nonEmpty)
    assert(filesPerPart().values.forall(_ == 1))
    assert(rows(spark.table("mz_cmp")).map(_.getLong(0)).sorted == before)
    // idempotent: second pass finds nothing to do
    assert(Materialize.compactFiles(spark, "mz_cmp", "d").isEmpty)
    spark.sql("DROP TABLE mz_cmp")
  }

  /** A single table publishes as a one-member set named after it. */
  private def publish(df: org.apache.spark.sql.DataFrame, name: String,
      crashAfter: Int = -1)
      : (Boolean, Seq[graft.quality.Quality.Result]) = {
    val (ok, r) = Materialize.publishSetAudited(name,
      Seq(Materialize.Member(df, name, Seq(graft.quality.NotNull("v")))),
      crashAfter = crashAfter)
    (ok, r.head._2)
  }

  private def dropPublishState(name: String): Unit =
    Seq(name, s"${name}__staging", s"${name}__prev", s"${name}__swapping")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("one-member publish set: passing audit swaps, failing audit " +
      "rejects") {
    dropPublishState("mz_wap")
    val v1 = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val (ok1, r1) = publish(v1, "mz_wap")
    assert(ok1 && r1.head.status == "pass")
    assert(rows(spark.table("mz_wap")).map(_.getInt(0)).sorted == Seq(1, 2))
    // poisoned v2: audit fails, published table must stay at v1
    val v2 = Seq((3, null.asInstanceOf[String])).toDF("id", "v")
    val (ok2, r2) = publish(v2, "mz_wap")
    assert(!ok2 && r2.head.status == "error" && r2.head.violations == 1)
    assert(rows(spark.table("mz_wap")).map(_.getInt(0)).sorted == Seq(1, 2))
    // staging never lingers, in either outcome, and the marker is freed
    assert(!spark.catalog.tableExists("mz_wap__staging"))
    assert(!spark.catalog.tableExists("mz_wap__swapping"))
    // a clean v3 replaces v1 (repeatable lifecycle)
    val v3 = Seq((9, "z")).toDF("id", "v")
    val (ok3, _) = publish(v3, "mz_wap")
    assert(ok3 && rows(spark.table("mz_wap")).map(_.getInt(0)) == Seq(9))
    spark.sql("DROP TABLE mz_wap")
  }

  test("publish crash windows: a reader always sees a complete version") {
    def ids(n: String) = rows(spark.table(n)).map(_.getInt(0)).sorted
    // each window is a state the set protocol reaches mid-publish, so
    // the marker is held in all of them
    def holdMarker(): Unit =
      Materialize.takeMarker(spark, "mz_cw", Seq("mz_cw"))
    def recover() = Materialize.recoverSet(spark, "mz_cw")
    dropPublishState("mz_cw")
    val v1 = Seq((1, "a")).toDF("id", "v")
    val v2 = Seq((2, "b")).toDF("id", "v")
    val v3 = Seq((3, "c")).toDF("id", "v")
    assert(publish(v1, "mz_cw")._1)
    // crash window 1: staged, no rename yet — old version serves,
    // recovery restores nothing (it only drops the staging), and a
    // retry completes cleanly
    holdMarker()
    Materialize.table(v2, "mz_cw__staging")
    assert(ids("mz_cw") == Seq(1))
    assert(recover() == "back")
    assert(ids("mz_cw") == Seq(1))
    assert(publish(v2, "mz_cw")._1)
    assert(ids("mz_cw") == Seq(2))
    // crash window 2: rename-aside done, rename-in not — the one gap
    // state; recovery restores the COMPLETE previous version
    holdMarker()
    Materialize.table(v3, "mz_cw__staging")
    spark.sql("ALTER TABLE mz_cw RENAME TO mz_cw__prev")
    assert(!spark.catalog.tableExists("mz_cw"))
    assert(recover() == "back")
    assert(ids("mz_cw") == Seq(2))
    assert(recover() == "noop") // idempotent
    // crash window 3: renamed in, prev not dropped — readers see the
    // new version; the held marker refuses the next publish until
    // recovery rolls forward, which clears the leftover
    holdMarker()
    Materialize.table(v1, "mz_cw__prev")
    assert(ids("mz_cw") == Seq(2))
    intercept[IllegalStateException](publish(v3, "mz_cw"))
    assert(recover() == "forward")
    assert(publish(v3, "mz_cw")._1)
    assert(ids("mz_cw") == Seq(3))
    assert(!spark.catalog.tableExists("mz_cw__prev"))
    spark.sql("DROP TABLE mz_cw")
  }

  test("publish crash injection: every mid-swap crash leaves a " +
      "recoverable complete version") {
    def ids(n: String) = rows(spark.table(n)).map(_.getInt(0)).sorted
    val name = "mz_ci"
    // Unlike the hand-built crash-window test above, this drives the
    // REAL publish path and kills it after each step of its actual
    // sequence — so a reordering of the swap ops is caught here even
    // if every hand-modeled window still passes.
    for (k <- 0 until PublishSteps.count(1)) {
      dropPublishState(name)
      val v1 = Seq((1, "a")).toDF("id", "v")
      val v2 = Seq((2, "b")).toDF("id", "v")
      assert(publish(v1, name)._1)
      intercept[Materialize.CrashInjected] {
        publish(v2, name, crashAfter = k)
      }
      // repair, then the invariant: the published name resolves to a
      // COMPLETE version — all of v1 or all of v2, never a mix/empty
      assert(Materialize.recoverSet(spark, name) != "noop",
        s"step $k: nothing to recover")
      assert(spark.catalog.tableExists(name), s"step $k: published name lost")
      val got = ids(name)
      assert(got == Seq(1) || got == Seq(2), s"step $k: partial state $got")
      // no debris, and a second recovery is a no-op
      Seq("__staging", "__prev", "__swapping").foreach(sfx =>
        assert(!spark.catalog.tableExists(name + sfx), s"step $k: $sfx"))
      assert(Materialize.recoverSet(spark, name) == "noop",
        s"step $k: recovery not idempotent")
      // and a clean retry always lands v2, leftovers notwithstanding
      assert(publish(v2, name)._1, s"step $k: retry failed")
      assert(ids(name) == Seq(2), s"step $k: retry content")
    }
    dropPublishState(name)
  }

  test("tableIncremental merges only touched partitions, deduped at rest") {
    spark.sql("DROP TABLE IF EXISTS mz_inc")
    graft.sources.Ingest.deletePath(spark, "/tmp/graft_test_warehouse/mz_inc")
    def frame(xs: Seq[(String, String, String, String)]) =
      xs.toDF("k", "ts", "v", "d")
        .withColumn("ts", col("ts").cast("timestamp"))
        .withColumn("d", col("d").cast("date"))
    val inc1 = frame(Seq(
      ("k1", "2024-01-01 10:00:00", "v1", "2024-01-01"),
      ("k3", "2024-01-01 11:00:00", "x1", "2024-01-01"),
      ("k4", "2023-12-31 09:00:00", "z1", "2023-12-31")))
    val inc2 = frame(Seq(
      ("k1", "2024-01-01 12:00:00", "v2", "2024-01-01"), // update in d1
      ("k2", "2024-01-02 08:00:00", "w1", "2024-01-02"))) // new partition
    Materialize.tableIncremental(spark, "mz_inc", inc1, Seq("k"), "ts", "d")
    val after = Materialize.tableIncremental(spark, "mz_inc", inc2,
      Seq("k"), "ts", "d")
    val got = rows(after.orderBy("k"))
      .map(r => (r.getString(0), r.getString(2)))
    assert(got ==
      Seq(("k1", "v2"), ("k2", "w1"), ("k3", "x1"), ("k4", "z1")))
    // deduped AT REST: a raw table read (no dedup on the read path)
    // already shows one row per key
    assert(spark.table("mz_inc").count() == 4)
    // the merge's read shape (touched-partition isin filter) is
    // statically pruned: plan carries PartitionFilters and never lists
    // a file from the untouched 2023-12-31 partition
    val pruned = spark.table("mz_inc")
      .filter(col("d").isin(java.sql.Date.valueOf("2024-01-01"),
        java.sql.Date.valueOf("2024-01-02")))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:"),
      s"no partition filter in:\n$plan")
    val files = pruned.select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSeq
    assert(files.nonEmpty && files.forall(!_.contains("d=2023-12-31")),
      s"untouched partition listed: $files")
    spark.sql("DROP TABLE mz_inc")
  }

  test("tableIncremental replay converges: retry after a partial " +
      "partition commit reaches the same state as a clean apply") {
    // The dynamic-partition-overwrite commit replaces each touched
    // partition near-atomically but the SET of touched partitions is
    // not one atomic unit — a crash mid-commit can land some
    // partitions and not others. The recovery contract is REPLAY: the
    // merge is deterministic (dedupLatest of existing ∪ increment),
    // so re-running the same increment from ANY partial state
    // converges to the clean-apply state.
    def frame(xs: Seq[(String, String, String, String)]) =
      xs.toDF("k", "ts", "v", "d")
        .withColumn("ts", col("ts").cast("timestamp"))
        .withColumn("d", col("d").cast("date"))
    val base = frame(Seq(
      ("k1", "2024-01-01 10:00:00", "v1", "2024-01-01"),
      ("k2", "2024-01-02 09:00:00", "w1", "2024-01-02"),
      ("k3", "2024-01-03 08:00:00", "x1", "2024-01-03")))
    val inc = frame(Seq(
      ("k1", "2024-01-01 12:00:00", "v2", "2024-01-01"),
      ("k2", "2024-01-02 11:00:00", "w2", "2024-01-02")))
    def shape(n: String) = rows(spark.table(n).select("k", "v"))
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    // clean apply on one table = the reference final state
    for (n <- Seq("mz_rep_clean", "mz_rep_crash")) {
      spark.sql(s"DROP TABLE IF EXISTS $n")
      graft.sources.Ingest.deletePath(spark,
        s"/tmp/graft_test_warehouse/$n")
      Materialize.tableIncremental(spark, n, base, Seq("k"), "ts", "d")
    }
    Materialize.tableIncremental(spark, "mz_rep_clean", inc,
      Seq("k"), "ts", "d")
    // partial crash state: only the 2024-01-01 slice of the increment
    // committed (the mid-commit mixed state), then the FULL increment
    // replays
    Materialize.tableIncremental(spark, "mz_rep_crash",
      inc.filter(col("d") === "2024-01-01"), Seq("k"), "ts", "d")
    Materialize.tableIncremental(spark, "mz_rep_crash", inc,
      Seq("k"), "ts", "d")
    assert(shape("mz_rep_crash") == shape("mz_rep_clean"))
    assert(shape("mz_rep_clean") ==
      Seq(("k1", "v2"), ("k2", "w2"), ("k3", "x1")))
    // plain same-increment retry is also a no-op on content
    Materialize.tableIncremental(spark, "mz_rep_clean", inc,
      Seq("k"), "ts", "d")
    assert(shape("mz_rep_clean") ==
      Seq(("k1", "v2"), ("k2", "w2"), ("k3", "x1")))
    Seq("mz_rep_clean", "mz_rep_crash")
      .foreach(n => spark.sql(s"DROP TABLE $n"))
  }

  test("aggIncremental replay converges: a replayed batch never " +
      "double-counts, from any partial state") {
    // Additive merging of a replayed partial can never be absorbing,
    // so the operator stores batch-keyed partials and RECOMPUTES
    // touched partitions from storage — replaying the same (batchId,
    // partial) from any crash state must land on the clean-apply
    // state, the same contract as tableIncremental's.
    def frame(xs: Seq[(String, String, Long)]) =
      xs.toDF("d", "k", "v").withColumn("d", col("d").cast("date"))
    val batchA = frame(Seq(("2024-01-01", "k1", 10L),
      ("2024-01-02", "k2", 5L)))
    val batchB = frame(Seq(("2024-01-01", "k1", 7L),
      ("2024-01-03", "k3", 2L)))
    def shape(n: String) = rows(spark.table(n).select("d", "k", "v"))
      .map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2)))
      .sortBy(x => (x._1, x._2))
    val want = Seq(("2024-01-01", "k1", 17L), ("2024-01-02", "k2", 5L),
      ("2024-01-03", "k3", 2L))
    for (n <- Seq("mz_agg_clean", "mz_agg_crash")) {
      Materialize.dropAggState(spark, n)
      Materialize.aggIncremental(spark, n, batchA, Seq("d", "k"), "d",
        "A")
    }
    // clean apply = the reference final state
    Materialize.aggIncremental(spark, "mz_agg_clean", batchB,
      Seq("d", "k"), "d", "B")
    assert(shape("mz_agg_clean") == want)
    // crash state: only the 2024-01-01 slice of batch B committed,
    // then the FULL batch replays under the SAME id — the overlap
    // slice must not double-count (the pre-r9 failure mode: 24)
    Materialize.aggIncremental(spark, "mz_agg_crash",
      batchB.filter(col("d") === "2024-01-01"), Seq("d", "k"), "d", "B")
    Materialize.aggIncremental(spark, "mz_agg_crash", batchB,
      Seq("d", "k"), "d", "B")
    assert(shape("mz_agg_crash") == want)
    // plain duplicate apply of a committed batch is a content no-op
    Materialize.aggIncremental(spark, "mz_agg_clean", batchB,
      Seq("d", "k"), "d", "B")
    assert(shape("mz_agg_clean") == want)
    // and a genuinely NEW batch still merges additively
    Materialize.aggIncremental(spark, "mz_agg_clean",
      frame(Seq(("2024-01-01", "k1", 3L))), Seq("d", "k"), "d", "C")
    assert(shape("mz_agg_clean").head == ("2024-01-01", "k1", 20L))
    Seq("mz_agg_clean", "mz_agg_crash")
      .foreach(n => Materialize.dropAggState(spark, n))
  }

  test("checkpointPartials bounds recompute input: history folds to " +
      "one slice, newer batches survive, content never moves") {
    // the O(#batches) growth path: a streaming ingest that touches
    // today's partition EVERY batch makes the partition's recompute
    // read one stored row-set per batch forever — unless folded
    val n = "mz_agg_ckpt"
    val partials = s"${n}__partials"
    Materialize.dropAggState(spark, n)
    def frame(xs: Seq[(String, String, Long)]) =
      xs.toDF("d", "k", "v").withColumn("d", col("d").cast("date"))
    // VISIBLE slices — what recomputes actually read (the committed
    // generation surfaces as its #ckpt_<wm> id); physical = the
    // table's on-disk slices, which may lag until vacuum
    def slicesOf(d: String): Set[String] =
      Materialize.visiblePartialSlices(spark, n)
        .filter(_._1 == d).map(_._2).toSet
    def physicalOf(d: String): Set[String] =
      rows(spark.table(partials).filter(col("d") === d)
        .select("__batch").distinct()).map(_.getString(0)).toSet
    def agg(): Seq[(String, String, Long)] =
      rows(spark.table(n).select("d", "k", "v"))
        .map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2)))
        .sortBy(x => (x._1, x._2))
    // 5 batches, every one touching 2024-01-01; b000 also seeds -02
    for (i <- 0 until 5)
      Materialize.aggIncremental(spark, n,
        frame(Seq(("2024-01-01", "k1", 10L + i)) ++
          (if (i == 0) Seq(("2024-01-02", "k2", 5L)) else Nil)),
        Seq("d", "k"), "d", f"b$i%03d")
    val want = Seq(("2024-01-01", "k1", 60L), ("2024-01-02", "k2", 5L))
    assert(agg() == want)
    assert(slicesOf("2024-01-01").size == 5)
    // fold everything below b003: the recompute input for -01 is now
    // 1 (generation) + 2 (surviving batches) row-sets, not 5
    val affected = Materialize.checkpointPartials(spark, n,
      Seq("d", "k"), "d", "b003")
    assert(affected.map(_.toString).toSet ==
      Set("2024-01-01", "2024-01-02"))
    assert(slicesOf("2024-01-01") == Set("#ckpt_b003", "b003", "b004"))
    assert(slicesOf("2024-01-02") == Set("#ckpt_b003"))
    // the commit dropped NOTHING (absorbed slices await vacuum) yet
    // readers already see only the converged content
    assert(physicalOf("2024-01-01") ==
      Set("b000", "b001", "b002", "b003", "b004"))
    assert(agg() == want, "checkpoint moved the published aggregate")
    // replaying the same checkpoint is a metadata-only no-op
    assert(Materialize.checkpointPartials(spark, n,
      Seq("d", "k"), "d", "b003").isEmpty)
    assert(slicesOf("2024-01-01") == Set("#ckpt_b003", "b003", "b004"))
    // vacuum reclaims exactly the hidden slices; visibility unchanged
    val (dropped, _) = Materialize.vacuumPartials(spark, n)
    assert(dropped == 4L, s"vacuum dropped $dropped")
    assert(physicalOf("2024-01-01") == Set("b003", "b004"))
    assert(slicesOf("2024-01-01") == Set("#ckpt_b003", "b003", "b004"))
    assert(agg() == want)
    // a post-fold increment recomputes from the folded state correctly
    Materialize.aggIncremental(spark, n,
      frame(Seq(("2024-01-01", "k1", 3L))), Seq("d", "k"), "d", "b005")
    val want2 = Seq(("2024-01-01", "k1", 63L), ("2024-01-02", "k2", 5L))
    assert(agg() == want2)
    // a LATER checkpoint folds the earlier generation in
    Materialize.checkpointPartials(spark, n, Seq("d", "k"), "d", "b006")
    assert(slicesOf("2024-01-01") == Set("#ckpt_b006"))
    assert(agg() == want2)
    // and the folded state still recomputes to the full aggregate
    Materialize.aggIncremental(spark, n,
      frame(Seq(("2024-01-01", "k1", 2L))), Seq("d", "k"), "d", "b007")
    assert(agg() == Seq(("2024-01-01", "k1", 65L),
      ("2024-01-02", "k2", 5L)))
    Materialize.dropAggState(spark, n)
  }

  test("checkpointPartials stages all partitions in one distributed " +
      "write: fold jobs scale 1-per-partition, not stage+merge each") {
    val n = "mz_agg_ckpt_wide"
    Materialize.dropAggState(spark, n)
    def frame(xs: Seq[(String, String, Long)]) =
      xs.toDF("d", "k", "v").withColumn("d", col("d").cast("date"))
    val days = (1 to 8).map(i => f"2024-02-$i%02d")
    for (b <- 0 until 4)
      Materialize.aggIncremental(spark, n,
        frame(days.map(d => (d, "k1", 10L + b))), Seq("d", "k"), "d",
        f"b$b%03d")
    // job-group accounting (thread-local, so only this fold's jobs):
    // the maintenance-window contract (r14) is ONE distributed
    // merge-and-write plus ONE manifest rename — O(1) commands AND
    // O(1) FS operations in the partition count. The bound below
    // still admits a few bookkeeping jobs; the partitions-axis
    // ScaleBench row is the regression signal for the O(1) claim.
    val sc = spark.sparkContext
    sc.setJobGroup("ckpt_job_count", "fold job accounting", false)
    val affected =
      try Materialize.checkpointPartials(spark, n, Seq("d", "k"), "d",
        "b003")
      finally sc.clearJobGroup()
    assert(affected.size == 8)
    val jobs = sc.statusTracker.getJobIdsForGroup("ckpt_job_count").length
    assert(jobs <= affected.size + 8,
      s"fold ran $jobs jobs for ${affected.size} partitions")
    // every partition folded to the generation + the surviving b003
    val slices = Materialize.visiblePartialSlices(spark, n)
    assert(slices.groupBy(_._1).values
      .forall(_.map(_._2).toSet == Set("#ckpt_b003", "b003")))
    // and the published aggregate never moved (10+11+12+13 per day)
    val agg = rows(spark.table(n).select("d", "k", "v"))
      .map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2)))
    assert(agg.toSet == days.map(d => (d, "k1", 46L)).toSet)
    Materialize.dropAggState(spark, n)
  }

  test("checkpointPartials folds any partition value — quotes " +
      "included — and vacuum drops the absorbed slice through the " +
      "batched quoted drop") {
    // pre-r13 the fold interpolated partition values into per-partition
    // INSERT OVERWRITE statements and had to REJECT values outside a
    // safe charset; the fold now interpolates nothing (a parquet write
    // + manifest rename) and vacuum's batched dropPartitions escapes
    // centrally, so a quoted value folds AND reclaims like any other
    val n = "mz_agg_ckpt_badval"
    Materialize.dropAggState(spark, n)
    Materialize.aggIncremental(spark, n,
      Seq(("ok_val", "k1", 1L), ("bad'val", "k1", 2L)).toDF("p", "k", "v"),
      Seq("p", "k"), "p", "b000")
    Materialize.aggIncremental(spark, n,
      Seq(("ok_val", "k1", 3L), ("bad'val", "k1", 5L)).toDF("p", "k", "v"),
      Seq("p", "k"), "p", "b001")
    val affected =
      Materialize.checkpointPartials(spark, n, Seq("p", "k"), "p", "b001")
    assert(affected.toSet == Set("ok_val", "bad'val"))
    // both partitions folded: one generation row-set + surviving b001
    val slices = Materialize.visiblePartialSlices(spark, n)
    assert(slices.groupBy(_._1).values
      .forall(_.map(_._2).toSet == Set("#ckpt_b001", "b001")))
    // vacuum physically drops the quoted partition's absorbed slice
    val (dropped, _) = Materialize.vacuumPartials(spark, n)
    assert(dropped == 2L)
    val physical = rows(spark.table(s"${n}__partials")
      .select("p", "__batch").distinct())
      .map(r => (r.getString(0), r.getString(1)))
    assert(physical.groupBy(_._1).values
      .forall(_.map(_._2).toSet == Set("b001")))
    val out = Materialize.aggIncremental(spark, n,
      Seq(("ok_val", "k1", 4L)).toDF("p", "k", "v"),
      Seq("p", "k"), "p", "b002", foldEvery = 1)
    assert(rows(out.select("p", "k", "v"))
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet ==
      Set(("ok_val", "k1", 8L), ("bad'val", "k1", 7L)))
    Materialize.dropAggState(spark, n)
  }

  test("a fold crash in either manifest window is invisible to " +
      "readers and converges on replay") {
    // the r14 fold protocol: write the generation, then ONE manifest
    // rename commits it; absorbed slices await vacuum. Fault-inject
    // BOTH windows through the real op order (crashAfterStep):
    //   step 0 — generation written, manifest NOT committed: readers
    //   must see the exact pre-fold state; the replayed fold commits.
    //   step 1 — manifest committed, garbage not vacuumed: readers
    //   must see the converged content; the replayed fold no-ops and
    //   vacuum reclaims the absorbed slices.
    val n = "mz_agg_ckpt_crash"
    Materialize.dropAggState(spark, n)
    def frame(xs: Seq[(String, String, Long)]) =
      xs.toDF("d", "k", "v")
    def agg(df: org.apache.spark.sql.DataFrame) =
      rows(df.select("d", "k", "v"))
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    Materialize.aggIncremental(spark, n,
      frame(Seq(("d1", "k1", 10L), ("d2", "k1", 1L))), Seq("d", "k"),
      "d", "b000")
    Materialize.aggIncremental(spark, n,
      frame(Seq(("d1", "k1", 20L))), Seq("d", "k"), "d", "b001")
    // window 0: generation on disk, manifest never renamed
    intercept[Materialize.CrashInjected] {
      Materialize.checkpointPartials(spark, n, Seq("d", "k"), "d",
        "b001", crashAfterStep = 0)
    }
    // readers see the PRE-fold state bit-exactly (b000 still visible)
    assert(Materialize.visiblePartialSlices(spark, n).map(_._2).toSet ==
      Set("b000", "b001"))
    // and an apply in this state is simply a normal apply
    val out0 = Materialize.aggIncremental(spark, n,
      frame(Seq(("d1", "k1", 5L))), Seq("d", "k"), "d", "b002")
    assert(agg(out0) == Set(("d1", "k1", 35L), ("d2", "k1", 1L)))
    // window 1: manifest committed, absorbed slices not vacuumed
    intercept[Materialize.CrashInjected] {
      Materialize.checkpointPartials(spark, n, Seq("d", "k"), "d",
        "b002", crashAfterStep = 1)
    }
    assert(Materialize.visiblePartialSlices(spark, n).toSet ==
      Set(("d1", "#ckpt_b002"), ("d2", "#ckpt_b002"), ("d1", "b002")))
    // the absorbed originals are still on disk — and must not
    // double-count through the apply
    val partials = s"${n}__partials"
    assert(rows(spark.table(partials).select("__batch").distinct())
      .map(_.getString(0)).toSet == Set("b000", "b001", "b002"))
    val out1 = Materialize.aggIncremental(spark, n,
      frame(Seq(("d2", "k1", 2L))), Seq("d", "k"), "d", "b003")
    assert(agg(out1) == Set(("d1", "k1", 35L), ("d2", "k1", 3L)))
    // the replayed fold is a no-op (nothing visible below the
    // watermark); vacuum reclaims the absorbed slices
    assert(Materialize.checkpointPartials(spark, n, Seq("d", "k"), "d",
      "b002").isEmpty)
    Materialize.vacuumPartials(spark, n)
    assert(rows(spark.table(partials).select("__batch").distinct())
      .map(_.getString(0)).toSet == Set("b002", "b003"))
    val recheck = Materialize.aggIncremental(spark, n,
      frame(Seq(("d2", "k1", 4L))), Seq("d", "k"), "d", "b004")
    assert(agg(recheck) == Set(("d1", "k1", 35L), ("d2", "k1", 7L)))
    Materialize.dropAggState(spark, n)
  }

  test("a fold commit that loses the manifest race leaves the " +
      "winner's generation files untouched") {
    import graft.sources.CkptStore
    val t = "mz_ckpt_race"
    CkptStore.delete(spark, t)
    var winner: CkptStore.Manifest = null
    // the second commit runs INSIDE the first one's data write: both
    // read the same next sequence, the nested one lands its files and
    // wins the manifest rename, and only then does the outer one
    // write its own files
    val e = intercept[IllegalStateException] {
      CkptStore.commit(spark, t, "b001") { dir =>
        winner = CkptStore.commit(spark, t, "b002") { d =>
          Seq(("winner", 2L)).toDF("who", "v")
            .write.mode("overwrite").parquet(d)
        }
        Seq(("loser", 1L)).toDF("who", "v")
          .write.mode("overwrite").parquet(dir)
      }
    }
    assert(e.getMessage.contains("lost the rename race"))
    assert(CkptStore.current(spark, t).contains(winner))
    val served = spark.read
      .parquet(CkptStore.genPath(spark, t, winner.dir).toString)
    assert(rows(served).map(r => (r.getString(0), r.getLong(1))) ==
      Seq(("winner", 2L)))
    CkptStore.delete(spark, t)
  }

  test("compact reconciles cross-partition movers to full-rebuild dedup") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def samples[A](g: Gen[A], n: Int): Seq[A] =
      (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))
    // versioned rows: key, unique version ts, value, partition
    val logGen: Gen[List[(String, String)]] =
      Gen.listOfN(40, for {
        key <- Gen.oneOf("k0", "k1", "k2", "k3", "k4", "k5")
        part <- Gen.oneOf("2024-01-01", "2024-01-02", "2024-01-03")
      } yield (key, part))
    for ((log, caseId) <- samples(logGen, 4).zipWithIndex) {
      val name = s"mz_compact_$caseId"
      spark.sql(s"DROP TABLE IF EXISTS $name")
      graft.sources.Ingest.deletePath(spark,
        s"/tmp/graft_test_warehouse/$name")
      val versioned = log.zipWithIndex
        .map { case ((k, d), i) => (k, i.toLong, s"v$i", d) }
      // four incremental batches in version order — later batches that
      // give a key a NEW partition leave the old version stranded
      versioned.grouped(10).foreach { batch =>
        Materialize.tableIncremental(spark, name,
          batch.toDF("k", "ts", "v", "d"), Seq("k"), "ts", "d")
      }
      val affected = Materialize.compact(spark, name, Seq("k"), "ts", "d")
      val full = graft.stage.Staging.dedupLatest(
        versioned.toDF("k", "ts", "v", "d"), Seq("k"), col("ts"))
      def shape(d: org.apache.spark.sql.DataFrame) =
        rows(d.select("k", "ts", "v", "d")).map(_.toSeq)
          .sortBy(_.mkString("|"))
      assert(shape(spark.table(name)) == shape(full),
        s"case $caseId: compacted table != full-rebuild dedup")
      // idempotent: a second pass finds nothing to rewrite
      assert(Materialize.compact(spark, name, Seq("k"), "ts", "d").isEmpty)
      spark.sql(s"DROP TABLE $name")
    }
  }

  test("payments: sampled with replacement, derived money math exact") {
    val orgs = Generate.orgs(spark, 10, 42)
    val users = Generate.users(spark, orgs, 100, 42)
    val products = Generate.products(spark, 20, 42)
    val orders = Generate.orders(spark, users, products, 1000, 42)
    val pays = Generate.payments(orders, 1.5, 42).cache()
    // with-replacement at fraction>1 must produce multi-charge orders
    assert(pays.groupBy("order_id").count().filter($"count" > 1)
      .count() > 0)
    // charge ids remain unique even for repeated orders
    assert(pays.groupBy("charge_id").count().filter($"count" > 1).isEmpty)
    // fee = 3% of amount exactly, in decimal
    val badFee = pays.filter(
      $"fee_amount" =!= ($"amount" * lit(BigDecimal("0.03")))
        .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
    assert(badFee.isEmpty)
    // raw_payload parses and carries the gateway key
    assert(pays.filter(
      get_json_object($"raw_payload", "$.gateway") =!= "Stripe").isEmpty)
  }
}
