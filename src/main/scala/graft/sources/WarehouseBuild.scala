package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Functions.money
import graft.operators.Scd2
import graft.quality.{NotNull, Quality, Unique}

/** The composed `dbt build` lifecycle as ONE product (reference
  * `.github/workflows/dbt-ci.yml:36-42` runs `dbt build` = run + test
  * in dependency order): ingest → staging → SCD2 dim → marts →
  * quality audit → publish, chained as a single pipeline that returns
  * ONE audit report frame — not 242 separate entries.
  *
  * Instrumentation design: staging-layer metrics ride the
  * materialization actions via `Dataset.observe` ([[Quality.observed]])
  * — rows-in, rows-kept, and violation counters cost ZERO extra scans;
  * the one pass that writes each staged table also counts it. Mart
  * publication goes through [[Materialize.publishSetAudited]] (the
  * all-or-nothing WAP gate), so a failing quality suite on EITHER mart
  * leaves BOTH previous versions untouched and the report's
  * `published` metric reads 0 — the audit report IS the gate's
  * evidence, and the driver's oracle recomputes every count
  * independently from the raw tables.
  *
  * Scale posture (100 TB): every layer is a declarative frame —
  * staging filters push into the raw scans, the SCD2 chain is one
  * partitioned window, marts are map-side-combinable aggregates, and
  * the only driver-side values are the report's bounded scalars (one
  * Long per metric, ~20 rows total). Nothing in the chain collects
  * row-level data. The state tables are laid out for the INCREMENTAL
  * run ([[runIncremental]]): staged orders partitioned by order
  * month, the SCD2 dim by a user-hash bucket, the per-(segment,
  * month) mart input by month — so a daily delta touches its own
  * months/buckets and the rest of the warehouse is never read or
  * rewritten.
  */
object WarehouseBuild {

  /** One metric row of the audit report. */
  private type Metric = (String, String, String, Long)

  /** Default SCD2 dim partition buckets (user-hash), sized for the
    * fixtures. A deployment picks bucket count ≈ users / target
    * partition: the incremental merge rewrites every bucket holding an
    * affected user, so the rewrite fraction ≈ affected_users / buckets
    * — too few buckets and a scattered delta touches them all
    * (measured: at 16 buckets a 50-user delta rewrites the whole dim).
    * [[runOn]] and [[runIncremental]] must be called with the SAME
    * value for one state suffix. */
  val DefaultDimBuckets = 16

  /** Adaptive SCD2 maintenance threshold: when an event delta's
    * affected users touch at least this fraction of the dim's buckets,
    * [[runIncremental]] REBUILDS the dim in one pass instead of the
    * bucket-scoped merge. Measured physics (NOTES_r08, version-dense
    * fixture at 40×): a scattered 200-user delta touched 55%+ of the
    * buckets and the merge only reached parity with a rebuild — the
    * semi/anti joins and slice accounting are pure overhead once the
    * rewrite covers most of the table. The merge wins (and is kept)
    * exactly where deltas localize: few users → few buckets →
    * slice-proportional rewrite. Spec-pinned: both paths produce the
    * identical final dim state and report. */
  val DefaultDimRebuildFraction = 0.75

  private def omCol(c: org.apache.spark.sql.Column) =
    date_format(c, "yyyy-MM")

  private def ubCol(buckets: Int) =
    pmod(col("user_id"), lit(buckets)).cast("int").as("ub")

  /** The orders staging gate — ONE definition shared by the full and
    * incremental paths so they cannot drift. */
  private def validOrder = col("o_totalprice") > 0 &&
    col("o_custkey").isNotNull

  /** Run the full build against the fixture at `dir`. Returns the
    * audit report: (step, relation, metric, value BIGINT), one frame
    * summarizing every layer of the single composed run. Tables are
    * suffixed per-`dir` so concurrent scale factors don't collide. */
  def run(spark: SparkSession, dir: String): DataFrame =
    runOn(spark, Tables.orders(spark, dir), Tables.customer(spark, dir),
      Tables.events(spark, dir), math.abs(dir.hashCode).toString)

  /** [[run]] against explicit input frames and an explicit state-table
    * suffix — the full-rebuild entry the incremental path's specs and
    * q250 continue from. */
  def runOn(spark: SparkSession, rawOrders: DataFrame,
      rawCustomer: DataFrame, rawEvents: DataFrame, h: String,
      dimBuckets: Int = DefaultDimBuckets): DataFrame = {

    // ---- staging: orders. Counters ride the materialization action.
    val (ordersIn, ordersInObs) = Quality.observed(rawOrders, Seq(
      "rows_in" -> lit(true),
      "dropped_invalid" -> !validOrder,
      "high_value" -> (col("o_totalprice") > 400000)))
    val (ordersKept, ordersKeptObs) = Quality.observed(
      ordersIn.filter(validOrder),
      Seq("rows_kept" -> lit(true)))
    // ---- staging: customer (q52 soft-delete rule: key ≡ 0 mod 10).
    val rawCust = rawCustomer
      .withColumn("is_deleted", pmod(col("c_custkey"), lit(10)) === 0)
    val (custIn, custInObs) = Quality.observed(rawCust, Seq(
      "rows_in" -> lit(true),
      "soft_deleted" -> col("is_deleted")))
    val (custKept, custKeptObs) = Quality.observed(
      graft.stage.Staging.dropSoftDeleted(custIn),
      Seq("rows_kept" -> lit(true)))
    // the three layer-1 writes read only RAW inputs and land in three
    // DIFFERENT tables — overlapped (guide §2.6; r14: the full build
    // was a serial chain of small writes, job-time sum ≈ wall):
    //  - orders staging, partitioned by order month (the incremental
    //    path's append and mart recompute read only the delta's months)
    //  - customer staging
    //  - the SCD2 user-state dim from the event log (q6 shape),
    //    PARTITIONED BY user bucket (the incremental merge rewrites
    //    only buckets holding changed users), invariant-audited FROM
    //    THE STORED COPY below (the checks prove what readers see)
    graft.operators.Par.run(spark)(
      () => { Materialize.partitionedTable(
        ordersKept.withColumn("om", omCol(col("o_orderdate"))),
        s"e2e_stg_orders_$h", "om"); () },
      () => { Materialize.table(custKept.drop("is_deleted"),
        s"e2e_stg_customer_$h"); () },
      () => { Materialize.partitionedTable(
        Scd2.build(rawEvents, Seq("user_id"), "ts", Seq("event_id"))
          .withColumn("ub", ubCol(dimBuckets)),
        s"e2e_dim_user_scd2_$h", "ub"); () })

    // ---- the per-(segment, month) and per-month partial marts,
    // partitioned by month so the incremental path recomputes only
    // touched slices (absorbing: recompute-from-staged, never a
    // partial-sum merge). Both read the stored staging layer and land
    // in different tables — overlapped like the layer-1 writes.
    graft.operators.Par.run(spark)(
      () => rebuildSegMonth(spark, h, None),
      () => rebuildMonthRev(spark, h, None))

    // ---- marts + publish (one all-or-nothing set), then the report.
    val martRows = publishMarts(spark, h)
    // Quality.obsLong, NEVER a raw map read: on an empty source AQE's
    // empty-relation propagation prunes the CollectMetrics nodes and a
    // strict o.get(k) dies with "key not found" (zero is then exact)
    def obsVal(o: org.apache.spark.sql.Observation, k: String): Long =
      Quality.obsLong(o, k)
    import spark.implicits._
    (stagingMetrics(
        obsVal(ordersInObs, "rows_in"),
        obsVal(ordersKeptObs, "rows_kept"),
        obsVal(ordersInObs, "dropped_invalid"),
        obsVal(ordersInObs, "high_value"),
        obsVal(custInObs, "rows_in"),
        obsVal(custKeptObs, "rows_kept"),
        obsVal(custInObs, "soft_deleted")) ++
      dimMetrics(spark, h))
      .toDF("step", "relation", "metric", "value")
      .unionByName(martRows)
  }

  private def stagingMetrics(oIn: Long, oKept: Long, oDrop: Long,
      oHigh: Long, cIn: Long, cKept: Long, cSoft: Long): Seq[Metric] =
    Seq[Metric](
      ("staging", "stg_orders", "rows_in", oIn),
      ("staging", "stg_orders", "rows_kept", oKept),
      ("staging", "stg_orders", "dropped_invalid", oDrop),
      ("staging", "stg_orders", "high_value", oHigh),
      ("staging", "stg_customer", "rows_in", cIn),
      ("staging", "stg_customer", "rows_kept", cKept),
      ("staging", "stg_customer", "soft_deleted", cSoft))

  private def dimMetrics(spark: SparkSession, h: String): Seq[Metric] = {
    val dim = spark.table(s"e2e_dim_user_scd2_$h")
    def leg(name: String, v: DataFrame) =
      v.agg(count(lit(1)).cast("long").as("value"))
        .select(lit(name).as("metric"), col("value"))
    // all four dim metrics in ONE collected union (one action, not
    // four — the composed build is action-latency-bound)
    val got = leg("versions", dim)
      .unionByName(leg("current_rows", dim.filter(col("is_current"))))
      .unionByName(leg("overlap_violations",
        Scd2.overlapViolations(dim, Seq("user_id"))))
      .unionByName(leg("current_violations",
        Scd2.currentViolations(dim, Seq("user_id"))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq[Metric](
      ("dim", "dim_user_scd2", "versions", got("versions")),
      ("dim", "dim_user_scd2", "current_rows", got("current_rows")),
      ("dim", "dim_user_scd2", "overlap_violations",
        got("overlap_violations")),
      ("dim", "dim_user_scd2", "current_violations",
        got("current_violations")))
  }

  /** (Re)compute a month-partitioned partial-mart table from the
    * stored staged tables. `months = None` rebuilds the whole table
    * (the full run); `Some(ms)` recomputes ONLY those month partitions
    * via dynamic partition overwrite — the pruned scan reads just
    * those slices of the staged orders. Recompute-from-staged is
    * ABSORBING: replaying the same months converges, unlike a
    * partial-sum merge. */
  private def rebuildMonthPartial(spark: SparkSession, name: String,
      source: => DataFrame, months: Option[Seq[String]]): Unit =
    months match {
      case None =>
        Materialize.partitionedTable(source, name, "om")
        ()
      case Some(ms) if ms.isEmpty => ()
      case Some(ms) =>
        val slice = source.filter(col("om").isin(ms: _*))
        val cols = spark.table(name).columns.toSeq
        val PoKey = "spark.sql.sources.partitionOverwriteMode"
        val prev = spark.conf.getOption(PoKey)
        spark.conf.set(PoKey, "dynamic")
        try slice.select(cols.map(col): _*)
          .repartition(col("om"))
          .write.mode("overwrite").insertInto(name)
        finally prev match {
          case Some(v) => spark.conf.set(PoKey, v)
          case None => spark.conf.unset(PoKey)
        }
        spark.catalog.refreshTable(name)
    }

  /** The per-(segment, month) partial mart. The touched-month filter
    * is applied BEFORE the join/aggregate, so a scoped rebuild reads
    * only those staged-order partitions. */
  private def rebuildSegMonth(spark: SparkSession, h: String,
      months: Option[Seq[String]]): Unit =
    rebuildMonthPartial(spark, s"e2e_seg_month_$h", {
      val base = spark.table(s"e2e_stg_orders_$h")
      val scoped = months.fold(base)(ms =>
        if (ms.isEmpty) base else base.filter(col("om").isin(ms: _*)))
      scoped.join(spark.table(s"e2e_stg_customer_$h"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("om"))
        .agg(sum(money(col("o_totalprice"))).as("revenue"))
    }, months)

  /** The per-month revenue partial mart (the published monthly mart is
    * a cheap projection of this table, so an incremental run never
    * re-scans the whole staged-orders table to republish it). */
  private def rebuildMonthRev(spark: SparkSession, h: String,
      months: Option[Seq[String]]): Unit =
    rebuildMonthPartial(spark, s"e2e_month_rev_$h", {
      val base = spark.table(s"e2e_stg_orders_$h")
      val scoped = months.fold(base)(ms =>
        if (ms.isEmpty) base else base.filter(col("om").isin(ms: _*)))
      scoped.groupBy(trunc(col("o_orderdate"), "MM").as("month"),
          col("om"))
        .agg(sum(money(col("o_totalprice"))).as("revenue"))
    }, months)

  /** Recompute both marts from the stored state tables and publish
    * them as ONE all-or-nothing set; returns the mart metric rows.
    * Shared by the full and incremental paths so the mart definitions
    * and the release gate cannot drift. */
  private def publishMarts(spark: SparkSession, h: String): DataFrame = {
    // both marts read the month-partitioned partials (bounded rows),
    // never the staged fact table — the republish cost an incremental
    // run pays is months × segments rows, not a fact scan
    val monthly = spark.table(s"e2e_month_rev_$h")
      .select(col("month"), col("revenue"))
    val segment = spark.table(s"e2e_seg_month_$h")
      .groupBy(col("c_mktsegment"))
      .agg(sum(col("revenue")).cast("decimal(18,2)").as("revenue"))
    val (martsOk, martsAudit) = Materialize.publishSetAudited(
      s"e2e_marts_$h", Seq(
        Materialize.Member(monthly, s"e2e_mart_monthly_$h",
          Seq(NotNull("month"), NotNull("revenue"), Unique(Seq("month")))),
        Materialize.Member(segment, s"e2e_mart_segment_$h",
          Seq(NotNull("c_mktsegment"), Unique(Seq("c_mktsegment"))))))
    // read back from the catalog: the report describes the PUBLISHED
    // artifact (cents stay exact: decimal × 100 → long). On the
    // FIRST-ever publish a failing audit leaves no table at all — the
    // report must still come back (published=0 IS the gate's
    // evidence), so a missing table reads as zeros rather than
    // TABLE_OR_VIEW_NOT_FOUND killing the build. BOTH marts' stats
    // ride one collected union — one action, not one head() per mart.
    val present = Seq(s"e2e_mart_monthly_$h", s"e2e_mart_segment_$h")
      .filter(spark.catalog.tableExists)
    val stats: Map[String, (Long, Long)] =
      if (present.isEmpty) Map.empty
      else present.map { n =>
        spark.table(n).agg(count(lit(1)).as("n"),
          coalesce(sum((col("revenue") * 100).cast("long")), lit(0L))
            .as("cents"))
          .select(lit(n).as("t"), col("n"), col("cents"))
      }.reduce(_ unionByName _)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2)))).toMap
    def metrics(rel: String, name: String): Seq[Metric] = {
      val (nRows, cents) = stats.getOrElse(name, (0L, 0L))
      val viol = martsAudit.find(_._1 == name).map(_._2).getOrElse(Nil)
      Seq(
        ("mart", rel, "rows", nRows),
        ("mart", rel, "revenue_cents", cents),
        ("mart", rel, "published", if (martsOk) 1L else 0L),
        ("mart", rel, "audit_violations", viol.map(_.violations).sum))
    }
    import spark.implicits._
    (metrics("mart_monthly_revenue", s"e2e_mart_monthly_$h") ++
      metrics("mart_segment_revenue", s"e2e_mart_segment_$h"))
      .toDF("step", "relation", "metric", "value")
  }

  /** INCREMENTAL continuation of [[runOn]] — the dbt incremental-run /
    * snapshot semantic at warehouse scale: a delta of new orders and
    * new events is folded into the PUBLISHED state instead of
    * rebuilding the warehouse. Cost is proportional to the delta:
    *
    *  - delta orders pass the SAME staging gate (shared predicate),
    *    are de-duplicated against the staged table by order key WITHIN
    *    the delta's own month partitions only (a resubmitted order is
    *    dropped — the stored copy wins), and append to their month
    *    partitions;
    *  - delta events re-version ONLY the affected users' SCD2 chains
    *    (the q63/Scd2.merge semantic), and only the user-hash buckets
    *    holding affected users are rewritten (dynamic partition
    *    overwrite); the union of each affected user's stored change
    *    rows and the delta is de-duplicated on (user_id, ts, event_id)
    *    before re-versioning, which makes the merge ABSORBING — a
    *    replayed delta rebuilds identical chains. ADAPTIVE: when the
    *    affected users touch ≥ `dimRebuildFraction` of the buckets
    *    the merge degenerates to a full rewrite plus join overhead,
    *    so the dim re-versions in one pass instead (identical final
    *    state and report, spec-pinned — see
    *    [[DefaultDimRebuildFraction]] for the measured physics);
    *  - the per-(segment, month) mart input is RECOMPUTED from the
    *    staged tables for the touched months only (absorbing, pruned
    *    scan), and both marts republish through the same
    *    all-or-nothing set gate as the full build.
    *
    * Replay-safe end to end: every step is absorbing, so re-applying
    * the same delta is a content no-op (spec-pinned, along with
    * set-equality against a full rebuild over base ∪ delta). */
  def runIncremental(spark: SparkSession, h: String,
      ordersDelta: DataFrame, eventsDelta: DataFrame,
      dimBuckets: Int = DefaultDimBuckets,
      dimRebuildFraction: Double = DefaultDimRebuildFraction)
      : DataFrame = {
    val stgT = s"e2e_stg_orders_$h"
    val dimT = s"e2e_dim_user_scd2_$h"
    require(spark.catalog.tableExists(stgT) &&
      spark.catalog.tableExists(dimT) &&
      spark.catalog.tableExists(s"e2e_seg_month_$h"),
      s"runIncremental continues a prior run: state tables for $h missing")

    // ---- delta staging gate (counters ride the one staging action)
    val (oIn, oInObs) = Quality.observed(ordersDelta, Seq(
      "rows_in" -> lit(true),
      "dropped_invalid" -> !validOrder,
      "high_value" -> (col("o_totalprice") > 400000)))
    val (oKept, oKeptObs) = Quality.observed(
      oIn.filter(validOrder), Seq("rows_kept" -> lit(true)))

    // The orders chain (stage → dedup-append → touched-month mart
    // recompute) and the SCD2 merge read DISJOINT inputs and write
    // DISJOINT tables — two branches overlapped (guide §2.6). The
    // whole region is pinned under ONE dynamic-overwrite scope (the
    // eraseDocs discipline): both branches' scoped writes then
    // restore to "dynamic", so neither can yank the mode out from
    // under the sibling's in-flight rewrite.
    var appended = 0L
    var touched: Seq[String] = Nil
    var versionsAdded = 0L
    var nAffected = 0L
    var touchedBuckets: Seq[Int] = Nil
    Materialize.withDynamicOverwrite(spark) {
      graft.operators.Par.run(spark)(
        () => {
          // the delta's month set rides the staging write (bounded by
          // contract: a delta touches a handful of months)
          val mObs = org.apache.spark.sql.Observation()
          val staged = Materialize.table(
            oKept.withColumn("om", omCol(col("o_orderdate")))
              .observe(mObs, collect_set(col("om")).as("delta_months")),
            s"e2e_stg_orders_delta_$h")
          val deltaMonths =
            Quality.obsSeq(mObs, "delta_months").map(_.toString)

          // ---- order-key dedup against the stored months the delta
          // lands in (partition-pruned, one key column read); the
          // stored copy wins. The appended count and the touched-month
          // set ride the append write itself (they describe the rows
          // actually written); the resubmitted count is the staging
          // counter minus them — the whole dedup-and-append step is
          // ONE action.
          val fresh = staged.join(
            spark.table(stgT).filter(col("om").isin(deltaMonths: _*))
              .select(col("o_orderkey")),
            Seq("o_orderkey"), "left_anti")
          val wObs = org.apache.spark.sql.Observation()
          val cols = spark.table(stgT).columns.toSeq // om last
          fresh.observe(wObs, count(lit(1)).as("appended"),
              collect_set(col("om")).as("touched"))
            .select(cols.map(col): _*)
            .repartition(col("om"))
            .write.mode("append").insertInto(stgT)
          spark.catalog.refreshTable(stgT)
          appended = Quality.obsLong(wObs, "appended")
          // touched months = months that actually gained rows
          touched = Quality.obsSeq(wObs, "touched")
            .map(_.toString) // bounded: <= delta months

          // ---- touched-month mart recompute (absorbing, pruned scan;
          // two different tables, overlapped like the full build's)
          graft.operators.Par.run(spark)(
            () => rebuildSegMonth(spark, h, Some(touched)),
            () => rebuildMonthRev(spark, h, Some(touched)))
        },
        () => {
          val (va, na, tb) = mergeDim(spark, h, eventsDelta,
            dimBuckets, dimRebuildFraction)
          versionsAdded = va; nAffected = na; touchedBuckets = tb
        })
    }
    val resubmitted = Quality.obsLong(oKeptObs, "rows_kept") - appended

    // ---- all-or-nothing mart republish from the recomputed partials
    val martRows = publishMarts(spark, h)
    // invariant checks SCOPED to the affected users' chains: rows of
    // unaffected users pass through the bucket rewrite verbatim, so
    // only the rebuilt chains could have been broken by this run —
    // the incremental audit pays a window over the delta's users'
    // versions, not a dim-wide (or even bucket-wide) one
    val checkedSlice =
      if (touchedBuckets.isEmpty) spark.table(dimT).limit(0)
      else spark.table(dimT).filter(col("ub").isin(touchedBuckets: _*))
        .join(eventsDelta.select(col("user_id")).distinct(),
          Seq("user_id"), "left_semi")
    // post-merge dim metrics in one collected union (one action)
    def leg(name: String, v: DataFrame) =
      v.agg(count(lit(1)).cast("long").as("value"))
        .select(lit(name).as("metric"), col("value"))
    val post = leg("versions", spark.table(dimT))
      .unionByName(leg("current_rows",
        spark.table(dimT).filter(col("is_current"))))
      .unionByName(leg("overlap_violations",
        Scd2.overlapViolations(checkedSlice, Seq("user_id"))))
      .unionByName(leg("current_violations",
        Scd2.currentViolations(checkedSlice, Seq("user_id"))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // every consumer of the merge-scoped bucket slice has acted —
    // drop operator-internal frames (was mid-branch pre-r14; a global
    // release from inside a parallel branch could evict the sibling's)
    graft.operators.InternalCache.release()
    // Quality.obsLong, NEVER a raw map read: an all-duplicate replayed
    // delta keeps zero rows, AQE prunes the CollectMetrics node, and a
    // strict o.get(k) dies with "key not found" (zero is then exact)
    def obsVal(o: org.apache.spark.sql.Observation, k: String): Long =
      Quality.obsLong(o, k)
    import spark.implicits._
    Seq[Metric](
      ("staging", "stg_orders_delta", "rows_in", obsVal(oInObs, "rows_in")),
      ("staging", "stg_orders_delta", "rows_kept",
        obsVal(oKeptObs, "rows_kept")),
      ("staging", "stg_orders_delta", "dropped_invalid",
        obsVal(oInObs, "dropped_invalid")),
      ("staging", "stg_orders_delta", "high_value",
        obsVal(oInObs, "high_value")),
      ("staging", "stg_orders_delta", "resubmitted_dropped", resubmitted),
      ("staging", "stg_orders", "rows_appended", appended),
      ("staging", "stg_orders", "months_touched", touched.size.toLong),
      ("dim", "dim_user_scd2", "affected_users", nAffected),
      ("dim", "dim_user_scd2", "versions_added", versionsAdded),
      // the post-merge count: ≡ before + added on both maintenance
      // paths (the merge rewrites only affected chains; the rebuild
      // re-versions the same change set)
      ("dim", "dim_user_scd2", "versions", post("versions")),
      ("dim", "dim_user_scd2", "current_rows", post("current_rows")),
      ("dim", "dim_user_scd2", "overlap_violations",
        post("overlap_violations")),
      ("dim", "dim_user_scd2", "current_violations",
        post("current_violations")))
      .toDF("step", "relation", "metric", "value")
      .unionByName(martRows)
  }

  /** The SCD2 maintenance branch of [[runIncremental]]: re-version
    * ONLY affected users, rewrite ONLY their buckets — or, when the
    * delta scatters past `dimRebuildFraction` of the buckets, rebuild
    * the dim in one pass (see [[DefaultDimRebuildFraction]] for the
    * measured physics; identical final state, spec-pinned). The
    * (stored change rows ∪ delta) union is de-duplicated on the full
    * change identity so replay is absorbing. Runs inside the caller's
    * pinned dynamic-overwrite scope; the scoped set/restore here then
    * always restores "dynamic" (the eraseDocs discipline). Returns
    * (versions added, affected users, touched bucket values). */
  private def mergeDim(spark: SparkSession, h: String,
      eventsDelta: DataFrame, dimBuckets: Int,
      dimRebuildFraction: Double): (Long, Long, Seq[Int]) = {
    val dimT = s"e2e_dim_user_scd2_$h"
    val scdCols = Seq("valid_from", "valid_to", "is_current", "version")
    val affected = eventsDelta.select(col("user_id")).distinct()
    // ONE bounded collect (≤ dimBuckets rows) yields both the affected
    // user count and the touched bucket values
    val bucketCounts = affected.groupBy(ubCol(dimBuckets))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val nAffected = bucketCounts.map(_._2).sum
    val touchedBuckets = bucketCounts.map(_._1)
    val dim = spark.table(dimT)
    val versionsAdded = if (nAffected == 0) 0L
    else if (touchedBuckets.size.toDouble / dimBuckets
        >= dimRebuildFraction) {
      // ADAPTIVE path: the delta scatters across (nearly) every
      // bucket, so the bucket-scoped merge would rewrite the whole
      // dim anyway while paying semi/anti joins and slice accounting
      // on top — re-version everything in one pass instead. Same
      // machinery as the merge's write (dynamic overwrite via
      // insertInto permits the self-read; every existing bucket is
      // present in the output so the whole table rewrites).
      val beforeObs = org.apache.spark.sql.Observation()
      val rebuiltObs = org.apache.spark.sql.Observation()
      val changeLogAll = dim.drop((scdCols :+ "ub").map(c => c): _*)
        .observe(beforeObs, count(lit(1)).as("versions_before"))
      val rebuilt = Scd2.build(
        changeLogAll.unionByName(
          eventsDelta.select(changeLogAll.columns.map(col): _*))
          .dropDuplicates("user_id", "ts", "event_id"),
        Seq("user_id"), "ts", Seq("event_id"))
        .withColumn("ub", ubCol(dimBuckets))
        .observe(rebuiltObs, count(lit(1)).as("versions_rebuilt"))
      val cols = dim.columns.toSeq
      Materialize.withDynamicOverwrite(spark) {
        rebuilt.select(cols.map(col): _*)
          .repartition(col("ub"))
          .write.mode("overwrite").insertInto(dimT)
      }
      spark.catalog.refreshTable(dimT)
      Quality.obsLong(rebuiltObs, "versions_rebuilt") -
        Quality.obsLong(beforeObs, "versions_before")
    } else {
      // the slice feeds the semi-join and the anti-join — one pruned
      // read, cached for the merge's duration (released by the
      // caller's end-of-run release, not here: a global release from
      // this branch could evict a sibling branch's in-flight frames)
      val bucketSlice = graft.operators.InternalCache.persist(
        dim.filter(col("ub").isin(touchedBuckets: _*)))
      val touchedDim = bucketSlice.join(affected, Seq("user_id"),
        "left_semi")
      val untouchedInBuckets = bucketSlice.join(affected, Seq("user_id"),
        "left_anti")
      // version accounting rides the merge write: the before/rebuilt
      // counters observe the rows that actually flow through the
      // rewrite (pre-merge chain rows and rebuilt chain rows), so the
      // whole merge — rebuild, rewrite, delta accounting — is ONE
      // action instead of three
      val beforeObs = org.apache.spark.sql.Observation()
      val rebuiltObs = org.apache.spark.sql.Observation()
      val changeLog = touchedDim.drop((scdCols :+ "ub").map(c => c): _*)
        .observe(beforeObs, count(lit(1)).as("versions_before_slice"))
      val rebuilt = Scd2.build(
        changeLog.unionByName(
          eventsDelta.select(changeLog.columns.map(col): _*))
          .dropDuplicates("user_id", "ts", "event_id"),
        Seq("user_id"), "ts", Seq("event_id"))
        .withColumn("ub", ubCol(dimBuckets))
        .observe(rebuiltObs, count(lit(1)).as("versions_rebuilt"))
      val cols = dim.columns.toSeq
      Materialize.withDynamicOverwrite(spark) {
        untouchedInBuckets.select(cols.map(col): _*)
          .unionByName(rebuilt.select(cols.map(col): _*))
          .repartition(col("ub"))
          .write.mode("overwrite").insertInto(dimT)
      }
      spark.catalog.refreshTable(dimT)
      Quality.obsLong(rebuiltObs, "versions_rebuilt") -
        Quality.obsLong(beforeObs, "versions_before_slice")
    }
    (versionsAdded, nAffected, touchedBuckets)
  }
}
