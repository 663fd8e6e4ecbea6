package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** dbt-style materialization (reference `dbt_project.yml:25-43`:
  * raw/staging/intermediate are VIEWS, marts are TABLES).
  *
  * A view is a registered lazy logical plan — downstream queries fuse
  * with it and Catalyst optimizes across the boundary (filter/column
  * pushdown through the view for free). A table is a persisted parquet
  * relation in the session catalog — downstream reads scan the
  * materialized result instead of recomputing (the mart trade-off the
  * reference makes for its reporting layer). */
object Materialize {

  /** View materialization (S6): name the plan, persist nothing. */
  def view(df: DataFrame, name: String): Unit =
    df.createOrReplaceTempView(name)

  /** Table materialization (S7: `CREATE TABLE AS` parity, reference
    * `example/my_first_dbt_model.sql:10` `materialized='table'`):
    * overwrite-save to the session catalog, return the re-read
    * relation so downstream plans scan the stored copy. */
  def table(df: DataFrame, name: String,
      path: Option[String] = None): DataFrame = {
    if (path.isEmpty) dropOrphanLocation(df.sparkSession, name)
    val w = df.write.mode("overwrite").format("parquet")
    path.foreach(p => w.option("path", p)) // external location when given
    w.saveAsTable(name)
    // refresh through df's OWN session, not the thread's active one:
    // inside a streaming foreachBatch the active session is the
    // micro-batch CLONE, so the write command invalidates the clone's
    // relation cache while the outer session — the one this library
    // reads through — keeps serving the stale pre-write file listing
    // (found live: batch N+1 joined against batch N's gram index)
    refresh(df.sparkSession, name)
    df.sparkSession.table(name)
  }

  /** Partitioned table materialization: like [[table]] but laid out by
    * `partitionCol`, so later partition-scoped merges (the
    * [[tableIncremental]] dynamic-overwrite machinery) rewrite only
    * the touched slices instead of the whole table. Rows are clustered
    * by target partition first — the same files-per-partition bound as
    * every partitioned write in this repo. */
  def partitionedTable(df: DataFrame, name: String, partitionCol: String,
      path: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (path.isEmpty) dropOrphanLocation(df.sparkSession, name)
    val w = df.repartition(col(partitionCol))
      .write.mode("overwrite").format("parquet").partitionBy(partitionCol)
    path.foreach(p => w.option("path", p))
    w.saveAsTable(name)
    refresh(df.sparkSession, name) // see table()
    df.sparkSession.table(name)
  }

  /** A run that dies between writing a managed table's files and
    * committing its catalog entry leaves an orphan directory that
    * `saveAsTable` then refuses (LOCATION_ALREADY_EXISTS) — remove the
    * location iff the catalog has NO entry for the table (a cataloged
    * table's location is never touched; overwrite mode owns that). */
  private[graft] def dropOrphanLocation(spark: SparkSession, name: String): Unit =
    if (!spark.catalog.tableExists(name)) {
      val wh = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"),
        name.toLowerCase(java.util.Locale.ROOT))
      val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(wh)) { fs.delete(wh, true); () }
    }

  /** Bucketed table materialization (reference "clustering" intent,
    * `README.md:12,90`): co-locate a table on its join key so repeated
    * fact⋈fact joins on that key skip the shuffle entirely — the
    * biggest single lever for a join-heavy mart layer at 100 TB (both
    * sides bucketed on the key ⇒ SortMergeJoin with zero Exchange). */
  def bucketedTable(df: DataFrame, name: String, bucketCols: Seq[String],
      numBuckets: Int, path: Option[String] = None): DataFrame = {
    if (path.isEmpty) dropOrphanLocation(df.sparkSession, name)
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
    path.foreach(p => w.option("path", p)) // external location when given
    w.saveAsTable(name)
    refresh(df.sparkSession, name) // see table()
    df.sparkSession.table(name)
  }

  /** Partition-bounded incremental table materialization (the
    * reference's daily `--day` run shape, `README.md:82`, as dbt's
    * `insert_overwrite` incremental strategy): the table is partitioned
    * by `partitionCol`; each run merges the increment with ONLY the
    * partitions it touches (keep-latest dedup per `keys` within them)
    * and rewrites just those partitions via dynamic partition
    * overwrite. The table is therefore always deduplicated AT REST —
    * readers are plain pruned scans, and a daily increment at 100 TB
    * rewrites one day's partition, never the table.
    *
    * Touched partition VALUES are collected to the driver so the
    * merge read is STATICALLY pruned (`PartitionFilters` on the scan);
    * an incremental batch touches a bounded handful of partitions by
    * contract, so this is a list of dates, not data.
    *
    * Contract (same as dbt insert_overwrite): a key's partition value
    * must be stable across its versions — a key that MOVES partitions
    * between runs leaves its old version in the untouched partition
    * (deduplicate cross-partition movers with a compaction pass). */
  /** Compaction pass for cross-partition key movers — the reconciler
    * for [[tableIncremental]]'s documented contract hole: a key whose
    * partition value CHANGES between runs (a restated `updated_at`, a
    * corrected event date) leaves its stale older version behind in the
    * partition the incremental run never touched. `compact` restores
    * the global keep-latest invariant while rewriting ONLY the
    * partitions that actually hold a stale version:
    *
    *  1. one map-side-combinable aggregate over the table finds MOVER
    *     keys (min(partition) != max(partition)) — output is tiny (only
    *     keys that actually moved), nothing else shuffles;
    *  2. the global keep-latest winner per mover key is computed over
    *     mover rows only;
    *  3. partitions holding a non-winner mover row are the AFFECTED set
    *     (collected — a bounded list of partition values, same contract
    *     as tableIncremental's touched-partition list);
    *  4. affected partitions are re-deduplicated (stale mover versions
    *     dropped) and rewritten via dynamic partition overwrite; every
    *     other partition is untouched bytes.
    *
    * Post-condition: table state ≡ full-rebuild
    * `dedupLatest(allRows, keys, orderCol)` (property-tested), at the
    * cost of one aggregate scan plus a rewrite of only the affected
    * partitions. Run it after restatement-bearing loads, the way dbt
    * projects schedule a periodic `--full-refresh` — except this never
    * rewrites the 100 TB table, just the handful of partitions movers
    * landed in. Returns the affected partition values. */
  def compact(spark: SparkSession, name: String, keys: Seq[String],
      orderCol: String, partitionCol: String): Seq[Any] = {
    import org.apache.spark.sql.functions.{broadcast, col, max, min, struct}
    val t = spark.table(name)
    val keyCols = keys.map(col)
    val movers = t.groupBy(keyCols: _*)
      .agg(min(col(partitionCol)).as("__pmin"),
        max(col(partitionCol)).as("__pmax"))
      .filter(col("__pmin") =!= col("__pmax"))
      .select(keyCols: _*)
    // movers are rare by contract — broadcast them through both uses.
    // moverRows (every version of every mover key) is the frame both
    // the winner computation and the stale probe derive from; persisting
    // IT (tiny: versions-per-mover rows) means the table is scanned once
    // here instead of once per consumer
    val moverRows = t.join(broadcast(movers), keys, "left_semi").persist()
    try {
    val winners = graft.stage.Staging
      .dedupLatestAgg(moverRows, keys, col(orderCol))
      .select((keyCols :+ col(partitionCol).as("__pwin")): _*)
    val stale = moverRows.join(broadcast(winners), keys)
      .filter(col(partitionCol) =!= col("__pwin"))
    val affected = stale.select(col(partitionCol)).distinct()
      .collect().map(_.get(0)).toSeq
    if (affected.nonEmpty) {
      val cols = t.columns.toSeq
      val rewritten = t.filter(col(partitionCol).isin(affected: _*))
        .join(broadcast(winners), keys, "left")
        .filter(col("__pwin").isNull || col(partitionCol) === col("__pwin"))
        .select(cols.map(col): _*)
        .persist()
      try {
        // dynamic partition overwrite only touches partitions PRESENT in
        // the output — a partition whose entire content was stale mover
        // versions produces zero rows and would be left as-is, so it
        // must be dropped explicitly
        val kept = rewritten.select(col(partitionCol)).distinct()
          .collect().map(_.get(0)).toSet
        dropPartitions(spark, name,
          affected.filterNot(kept.contains)
            .map(v => Seq(partitionCol -> v)))
        val PoKey = "spark.sql.sources.partitionOverwriteMode"
        val prev = spark.conf.getOption(PoKey)
        spark.conf.set(PoKey, "dynamic")
        try rewritten.repartition(col(partitionCol))
          .write.mode("overwrite").insertInto(name)
        finally prev match {
          case Some(v) => spark.conf.set(PoKey, v)
          case None => spark.conf.unset(PoKey)
        }
      } finally { rewritten.unpersist(blocking = false); () }
    }
    affected
    } finally { moverRows.unpersist(blocking = false); () }
  }

  /** Incremental AGGREGATE materialization — dbt's incremental model
    * for additive marts (vs [[tableIncremental]]'s keep-latest row
    * semantics). `partial` is an already-aggregated increment (group
    * keys + value columns); every NON-key column must be
    * sum-mergeable (sums of sums, counts as sums of partial counts —
    * the associative-merge property that makes a 100 TB mart
    * maintainable without ever re-scanning history).
    *
    * REPLAY-CONVERGENT, same recovery contract as [[tableIncremental]]
    * ("replay converges"). Summing a replayed partial into the live
    * table can never be made absorbing, so this operator never does
    * that; instead the batch-keyed partials are STORED and touched
    * slices of the aggregate are RECOMPUTED from storage:
    *
    *  1. the partial lands in `<name>__partials`, partitioned by
    *     (partitionCol, __batch): a replayed `batchId` dynamic-
    *     overwrites exactly its own slices with identical bytes
    *     (the partial is a deterministic function of its input);
    *  2. every partition value the batch touches (bounded collect —
    *     an increment touches a handful of partitions) is recomputed
    *     by re-aggregating ALL stored partials for that value — a
    *     partition-pruned read of pre-aggregated rows, never a fact
    *     scan; recompute-from-stored is absorbing by construction;
    *  3. only the touched slices of `name` rewrite via dynamic
    *     partition overwrite, value columns cast back to the table
    *     schema so decimal widening from the re-aggregation never
    *     drifts it.
    *
    * Crash anywhere, replay the same (batchId, partial): step 1
    * rewrites identical content and steps 2-3 are deterministic
    * functions of storage, so any partial state converges to the
    * clean-apply state; a duplicate apply is a content no-op (spec:
    * "aggIncremental replay converges").
    *
    * Post-condition: table ≡ the full aggregate over all increments
    * ever merged (the q123 oracle checks exactly this). Cost note: a
    * partition's recompute reads one stored row-set per batch that
    * ever touched it — pre-aggregated rows, so history stays cheap;
    * an ingest that hits the same partition every batch grows that
    * read O(#batches) — fold history with [[checkpointPartials]],
    * which replaces all slices older than a watermark with one merged
    * slice (recompute input then stays bounded, spec-pinned), or pass
    * `foldEvery > 0` to run that fold automatically whenever any
    * partition's slice count exceeds it (the streaming ingest paths
    * default to this cadence). */
  def aggIncremental(spark: SparkSession, name: String,
      partial: DataFrame, keys: Seq[String],
      partitionCol: String, batchId: String,
      foldEvery: Int = 0): DataFrame = {
    import org.apache.spark.sql.functions.{col, collect_set, lit, sum}
    val partials = s"${name}__partials"
    val valCols = partial.columns.filterNot(keys.contains).toSeq
    // the touched-partition set rides the store action as an observe
    // metric: it is read off the rows actually WRITTEN (not a
    // re-evaluation of `partial`, which a nondeterministic input could
    // shift), and costs no extra job. Bounded by contract: an
    // increment touches a handful of partitions.
    val obs = org.apache.spark.sql.Observation()
    val keyed = partial.withColumn("__batch", lit(batchId))
      .observe(obs, collect_set(col(partitionCol)).as("touched"))
    // ---- 1. store this batch's partial, idempotently
    if (!spark.catalog.tableExists(partials)) {
      keyed.repartition(col(partitionCol))
        .write.mode("overwrite").format("parquet")
        .partitionBy(partitionCol, "__batch").saveAsTable(partials)
    } else {
      val pCols = spark.table(partials).columns.toSeq
      withDynamicOverwrite(spark) {
        keyed.select(pCols.map(col): _*)
          .repartition(col(partitionCol))
          .write.mode("overwrite").insertInto(partials)
      }
    }
    refresh(spark, partials)
    val touched = graft.quality.Quality.obsSeq(obs, "touched")
    // watermark guard (ADVICE r13): a batch id sorting below the
    // committed fold watermark is HIDDEN from every recompute. For a
    // replay of an absorbed batch that is the convergent answer; for
    // a genuinely new id it is silent data loss (a wrapped batch
    // counter, a mis-sorted id scheme) — this layer cannot tell the
    // two apart, so it stores idempotently and warns loudly.
    CkptStore.current(spark, partials).foreach { m =>
      if (batchId < m.wm)
        System.err.println(s"[aggIncremental] $name: batch id " +
          s"'$batchId' sorts below the fold watermark '${m.wm}' — " +
          "its content is invisible to recomputes (correct iff this " +
          "is a replay of an already-absorbed batch)")
    }
    // ---- 2. recompute from stored partials. First create of `name`
    // recomputes EVERY partition present in the partials table, not
    // just this batch's — a stored partial whose batch crashed before
    // this step (and is never replayed) must not stay invisible until
    // a later batch happens to touch its partition.
    val firstCreate = !spark.catalog.tableExists(name)
    // visiblePartials: the manifest watermark hides absorbed history
    // (dropped or not), so the recompute is correct in every fold
    // crash window — and the touched-partition predicate prunes the
    // table scan AND the generation's range-clustered files
    val scope = visiblePartials(spark, partials,
      if (firstCreate) None
      else Some(col(partitionCol).isin(touched: _*)))
    val merged = scope
      .drop("__batch")
      .groupBy(keys.map(col): _*)
      .agg(sum(col(valCols.head)).as(valCols.head),
        valCols.tail.map(c => sum(col(c)).as(c)): _*)
    // ---- 3. rewrite only those slices of the published aggregate
    if (firstCreate) {
      merged
        .select(partial.columns.toSeq
          .map(c => col(c).cast(partial.schema(c).dataType)): _*)
        .repartition(col(partitionCol))
        .write.mode("overwrite").format("parquet")
        .partitionBy(partitionCol).saveAsTable(name)
    } else {
      val schema = spark.table(name).schema
      withDynamicOverwrite(spark) {
        merged
          .select(schema.map(f => col(f.name).cast(f.dataType)): _*)
          .repartition(col(partitionCol))
          .write.mode("overwrite").insertInto(name)
      }
    }
    refresh(spark, name)
    // ---- 4. fold cadence: with foldEvery > 0, once any partition's
    // VISIBLE recompute input exceeds foldEvery row-sets, everything
    // strictly below THIS batch id folds into a fresh checkpoint
    // generation ([[checkpointPartials]]) — the knob that keeps a
    // continuously ingesting deployment's recompute input bounded
    // WITHOUT manual maintenance. The check is metadata-only: SHOW
    // PARTITIONS lists one row per (partition, batch) slice; slices
    // below the committed watermark are absorbed garbage awaiting
    // [[vacuumPartials]] and must NOT count (they would re-trigger
    // the fold forever), and a committed generation counts as one
    // row-set for every partition. Sortable batch ids give the fold
    // clean watermark semantics (see the step-1 guard above for ids
    // that sort below an existing watermark).
    if (foldEvery > 0) {
      val wm = CkptStore.current(spark, partials).map(_.wm)
      val slices = spark.sql(s"SHOW PARTITIONS $partials")
        .collect().map(_.getString(0))
        .flatMap { s =>
          val i = s.indexOf("/__batch=")
          if (i < 0) None else Some((s.take(i), s.drop(i + 9)))
        }
        .filter { case (_, b) =>
          !b.startsWith("#") && !b.startsWith("%23") &&
            wm.forall(b >= _)
        }
      val worst = slices.groupBy(_._1)
        .valuesIterator.map(_.length).foldLeft(0)(math.max) +
        (if (wm.isDefined) 1 else 0)
      if (worst > foldEvery)
        try { checkpointPartials(spark, name, keys, partitionCol,
          batchId); () }
        catch { case e: IllegalArgumentException =>
          // a '#'-leading batch id the fold refuses as a watermark:
          // the APPLY already landed and content is correct, so
          // degrade to growth-with-a-warning — failing here would
          // turn a maintenance problem into an ingest outage that
          // replays into the same failure forever
          System.err.println(
            s"[aggIncremental] history fold skipped for $name: " +
              e.getMessage)
        }
    }
    spark.table(name)
  }

  /** History fold for [[aggIncremental]]'s partials table, committed
    * through the MANIFEST-POINTER store ([[CkptStore]], r14): every
    * visible real slice with a batch id strictly below `olderThan`
    * (string-ordered — use sortable batch ids) merges, together with
    * the previous checkpoint generation, into ONE fresh generation of
    * plain range-clustered parquet files, and the fold COMMITS by
    * publishing one manifest naming that generation and the new
    * watermark. After the fold, a partition's recompute input is the
    * generation's rows plus one row-set per unfolded batch —
    * INDEPENDENT of how many batches ever touched it (the one
    * unbounded-growth path in the incremental-aggregate design;
    * [[compactFiles]] cannot do this, it merges files WITHIN a
    * (partition, batch) slice).
    *
    * Scale (the r13 → r14 arc): the r13 fold was O(1) SQL statements
    * but still moved one directory per absorbed (partition, batch)
    * slice through the filesystem — 9.9 → 170.8 s at 24× the
    * partition count, pure FS renames/deletes (SCALEBENCH_r13). The
    * manifest commit is O(1) FS operations in the partition count: a
    * handful of data files (range-clustered on the partition value,
    * so scoped readers skip files by min/max) plus one manifest
    * rename. Absorbed table slices are NOT dropped here — the
    * manifest watermark makes them invisible to every reader
    * ([[visiblePartials]]) the instant it lands, and
    * [[vacuumPartials]] reclaims them OFF the fold's commit path
    * (the expire-snapshots split every snapshot table format makes).
    *
    * Crash/replay: a crash after the generation write but before the
    * manifest rename leaves an unreferenced directory — readers see
    * the pre-fold state bit-exactly, and a replayed fold overwrites
    * it and commits; a crash after the manifest rename IS the
    * committed state (the garbage sweep is vacuum's job, whenever).
    * A replayed fold at the same watermark sees no visible real slice
    * below it and no-ops. Aggregate CONTENT is untouched:
    * fold-then-recompute ≡ recompute (associative sums), spec-pinned.
    * Returns the folded partition values.
    *
    * Contract: `olderThan` must trail the REPLAY FRONTIER — a batch
    * replayed after the fold passed its id would re-add content the
    * fold already absorbed; the watermark HIDES such a slice (the
    * convergent answer for a true replay), and [[aggIncremental]]
    * warns loudly when a batch lands below the watermark (a NEW batch
    * id sorting below it would be silent data loss — the reason
    * streaming batch ids are zero-padded wide). The at-least-once
    * streaming paths fold at the CURRENT batch id, and only the
    * newest batch can be redelivered (earlier offsets are
    * checkpoint-committed).
    *
    * `crashAfterStep` is TEST-ONLY fault injection
    * ([[CkptStore.commit]]): 0 = generation written, manifest not
    * committed; 1 = manifest committed, garbage not vacuumed. */
  def checkpointPartials(spark: SparkSession, name: String,
      keys: Seq[String], partitionCol: String,
      olderThan: String, crashAfterStep: Int = -1): Seq[Any] = {
    import org.apache.spark.sql.functions.{col, lit, sum}
    require(olderThan.nonEmpty && !olderThan.startsWith("#"),
      "olderThan must be a real (alphanumeric-leading) batch id")
    val partials = s"${name}__partials"
    val schema = spark.table(partials).schema
    val valCols = schema.map(_.name)
      .filterNot(c => c == partitionCol || c == "__batch")
      .filterNot(keys.contains)
    val vis = visiblePartials(spark, partials)
    // bounded collect (metadata-sized): the visible REAL slices below
    // the new watermark — the slices this fold absorbs. A replayed
    // fold finds none (they are already behind the manifest) and
    // no-ops without touching storage.
    val sub = vis
      .filter(col("__batch") < lit(olderThan) &&
        !col("__batch").startsWith("#"))
      .select(col(partitionCol), col("__batch")).distinct()
      .collect().map(r => (r.get(0), r.getString(1))).toSeq
    val affected = sub.map(_._1).distinct
    if (affected.isEmpty) return affected
    // ONE distributed merge over everything visible below the new
    // watermark: the previous generation ('#ckpt_*' rows, which sort
    // below every real id) re-merges in, absorbed real slices join it
    val folded = vis.filter(col("__batch") < lit(olderThan))
      .groupBy((partitionCol +: keys).distinct.map(col): _*)
      .agg(sum(col(valCols.head)).as(valCols.head),
        valCols.tail.map(c => sum(col(c)).as(c)): _*)
      .withColumn("__batch", lit(s"#ckpt_$olderThan"))
      .select(schema.map(f => col(f.name).cast(f.dataType)): _*)
    CkptStore.commit(spark, partials, olderThan, crashAfterStep) { dir =>
      folded.repartitionByRange(col(partitionCol))
        .write.mode("overwrite").parquet(dir)
    }
    affected
  }

  /** The crash-window-proof READ of an [[aggIncremental]] partials
    * table — every partials consumer resolves through here. With no
    * committed manifest: the real table slices (any `#`-prefixed
    * debris a manufactured crash state left behind is ignored). With
    * one: the current generation's rows (carrying the synthetic
    * `#ckpt_<wm>` batch id) UNION the real slices at or above the
    * watermark — absorbed slices are invisible whether or not vacuum
    * ever ran, which is what lets the fold commit O(1) FS operations.
    * `pred` (a partition-column predicate) is applied to BOTH legs:
    * it prunes the table scan at partition level and skips generation
    * files by their range-clustered min/max. */
  private[graft] def visiblePartials(spark: SparkSession,
      partials: String,
      pred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val t0 = spark.table(partials)
    val t = pred.foldLeft(t0)(_ filter _)
    CkptStore.current(spark, partials) match {
      case None => t.filter(!col("__batch").startsWith("#"))
      case Some(m) =>
        // explicit schema: a generation emptied by an erasure holds
        // zero data files, which schema inference would refuse; the
        // table schema is the store's schema by construction
        val gen0 = spark.read.schema(t0.schema)
          .parquet(CkptStore.genPath(spark, partials, m.dir).toString)
          .select(t0.columns.map(col): _*)
        val gen = pred.foldLeft(gen0)(_ filter _)
        t.filter(!col("__batch").startsWith("#") &&
            col("__batch") >= org.apache.spark.sql.functions.lit(m.wm))
          .unionByName(gen)
    }
  }

  /** The visible (partition value, batch id) slice list of an
    * [[aggIncremental]] state table — the generation surfaces as its
    * synthetic `#ckpt_<wm>` id. Bounded (metadata-sized) collect;
    * spec instrumentation and maintenance reporting. */
  private[graft] def visiblePartialSlices(spark: SparkSession,
      name: String): Seq[(String, String)] = {
    import org.apache.spark.sql.functions.col
    val partials = s"${name}__partials"
    val pCol = partitionColOf(spark, partials)
    visiblePartials(spark, partials)
      .select(col(pCol), col("__batch")).distinct()
      .collect().map(r => (String.valueOf(r.get(0)), r.getString(1)))
      .toSeq
  }

  /** The non-`__batch` partition column of a partials table, from
    * catalog metadata. */
  private def partitionColOf(spark: SparkSession,
      partials: String): String =
    spark.catalog.listColumns(partials).collect()
      .filter(_.isPartition).map(_.name)
      .filterNot(_ == "__batch").head

  /** GARBAGE COLLECTION for an [[aggIncremental]] state table under
    * the manifest-commit fold: physically drops every table slice the
    * current watermark hides (absorbed history — including any
    * `#`-prefixed debris of the pre-manifest protocol) in one batched
    * statement, and deletes superseded checkpoint generations and
    * manifests. Readers see NO content change (vacuum only removes
    * what [[visiblePartials]] already hides) — this is the
    * reclaim-off-the-commit-path half of the snapshot design, safe to
    * schedule as maintenance. It IS O(#absorbed slices) in FS
    * deletes, which is exactly why the fold itself no longer pays it.
    * [[eraseAggKeys]] runs it first: the right to erasure is about
    * bytes, and absorbed slices still hold them. Returns (table
    * slices dropped, generations deleted). */
  def vacuumPartials(spark: SparkSession, name: String): (Long, Long) = {
    import org.apache.spark.sql.functions.{col, lit}
    val partials = s"${name}__partials"
    if (!spark.catalog.tableExists(partials)) return (0L, 0L)
    CkptStore.current(spark, partials) match {
      case None => (0L, 0L)
      case Some(m) =>
        val pCol = partitionColOf(spark, partials)
        // bounded collect: the hidden slice list (partition metadata
        // via a partition-pruned distinct, typed values — SHOW
        // PARTITIONS would hand back escaped strings)
        val stale = spark.table(partials)
          .filter(col("__batch") < lit(m.wm) ||
            col("__batch").startsWith("#"))
          .select(col(pCol), col("__batch")).distinct()
          .collect().map(r => (r.get(0), r.getString(1))).toSeq
        dropPartitions(spark, partials, stale.map { case (p, b) =>
          Seq(pCol -> p, "__batch" -> (b: Any))
        })
        if (stale.nonEmpty) refresh(spark, partials)
        val gens = CkptStore.deleteStaleGens(spark, partials, m)
        (stale.size.toLong, gens)
    }
  }

  /** Drop an [[aggIncremental]] aggregate AND its `__partials` state
    * table (checkpoint store included), locations too — the reset a
    * fixture-rebuilding caller needs (dropping only the aggregate
    * would leave stored partials that the next run's recompute
    * silently folds back in). */
  def dropAggState(spark: SparkSession, name: String): Unit = {
    Seq(name, s"${name}__partials").foreach { t =>
      dropTable(spark, s"$t")
      dropOrphanLocation(spark, t)
    }
    CkptStore.delete(spark, s"${name}__partials")
  }

  /** The ONE builder for every `ALTER TABLE … DROP PARTITION` in the
    * repo: all `specs` (each a (column → value) list) go into a SINGLE
    * batched statement — the emptied-slice metadata pass is O(1)
    * statements, not O(#partitions) of serial driver round-trips, the
    * shape that made the r12 erasure queries metadata-bound. Values are
    * single-quote-escaped, so a value containing `'` can never break
    * the statement. No-op on an empty spec list. */
  private[graft] def dropPartitions(spark: SparkSession, table: String,
      specs: Seq[Seq[(String, Any)]]): Unit =
    if (specs.nonEmpty) {
      def q(v: Any): String =
        "'" + String.valueOf(v).replace("'", "''") + "'"
      val parts = specs.map(_.map { case (c, v) => s"$c=${q(v)}" }
        .mkString("PARTITION (", ", ", ")")).mkString(", ")
      MetaOps.inc("alter_drop_partitions_stmt")
      MetaOps.add("partitions_dropped", specs.size.toLong)
      spark.sql(s"ALTER TABLE $table DROP IF EXISTS $parts")
      ()
    }

  /** Counted wrapper for every relation-cache invalidation the library
    * issues (each one re-lists table files on the next read — driver
    * metadata work the [[MetaOps]] bill must see). */
  private[graft] def refresh(spark: SparkSession, name: String): Unit = {
    MetaOps.inc("refresh_table")
    spark.catalog.refreshTable(name)
  }

  /** Counted `DROP TABLE IF EXISTS` — every catalog drop in the
    * publish/recover protocols goes through here so the [[MetaOps]]
    * bill sees it. */
  private[graft] def dropTable(spark: SparkSession, name: String): Unit = {
    MetaOps.inc("drop_table")
    spark.sql(s"DROP TABLE IF EXISTS $name")
    ()
  }

  /** Run `body` under dynamic partition-overwrite mode, restoring the
    * previous setting after. */
  private[graft] def withDynamicOverwrite(spark: SparkSession)(
      body: => Unit): Unit = {
    val PoKey = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(PoKey)
    spark.conf.set(PoKey, "dynamic")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(PoKey, v)
      case None => spark.conf.unset(PoKey)
    }
  }

  /** Replace the `touched` partitions (value lists over `partCols`) of
    * `name` with `rows`, clustered by the first partition column, under
    * [[withDynamicOverwrite]]. Dynamic overwrite leaves a partition
    * absent from the output as it was, so the non-empty set rides the
    * write as an observe metric and every other touched partition goes
    * to ONE batched [[dropPartitions]]. With a `keep` predicate (an
    * erasure), only the rows passing it are written back, and only the
    * partitions that held a row failing it can be dropped: `rows` then
    * carries just the partitions to rewrite. The observe sits after the
    * clustering exchange, where AQE's empty-stage pruning cannot remove
    * it. Returns (rows failing `keep`, partitions that held one). */
  private[graft] def overwritePartitions(spark: SparkSession, name: String,
      rows: DataFrame, partCols: Seq[String], touched: Seq[Seq[Any]],
      keepOnly: Option[Column] = None): (Long, Seq[Seq[Any]]) = {
    import org.apache.spark.sql.functions.{col, collect_set, count, lit,
      struct, when}
    val obs = org.apache.spark.sql.Observation()
    val part = struct(partCols.map(col): _*)
    val keep = keepOnly.getOrElse(lit(true))
    withDynamicOverwrite(spark) {
      rows.repartition(col(partCols.head))
        .observe(obs, count(when(!keep, 1)).as("dropped"),
          collect_set(when(!keep, part)).as("hit"),
          collect_set(when(keep, part)).as("kept"))
        .filter(keep)
        .select(spark.table(name).columns.toSeq.map(col): _*)
        .write.mode("overwrite").insertInto(name)
    }
    def parts(k: String) = graft.quality.Quality.obsSeq(obs, k)
      .map(_.asInstanceOf[org.apache.spark.sql.Row].toSeq)
    val (hit, kept) = (parts("hit"), parts("kept").toSet)
    dropPartitions(spark, name, (if (keepOnly.isEmpty) touched else hit)
      .filterNot(kept.contains).map(partCols.zip(_)))
    (graft.quality.Quality.obsLong(obs, "dropped"), hit)
  }

  /** Crash/replay contract (spec: "tableIncremental replay
    * converges"): the dynamic-partition-overwrite commit replaces each
    * touched partition near-atomically, but the SET of touched
    * partitions is not one atomic unit — a crash mid-commit can land
    * some partitions and not others. Recovery is REPLAY, not repair:
    * the merge (keep-latest of existing ∪ increment) is deterministic
    * and absorbing, so re-running the same increment from any partial
    * state converges to the clean-apply state, and a duplicate apply
    * is a content no-op. Publish-grade tables that need an atomic
    * all-or-nothing promotion go through [[publishSetAudited]] instead. */
  def tableIncremental(spark: SparkSession, name: String,
      increment: DataFrame, keys: Seq[String], orderCol: String,
      partitionCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    def dedup(df: DataFrame) =
      graft.stage.Staging.dedupLatest(df, keys, col(orderCol))
    if (!spark.catalog.tableExists(name)) {
      // cluster rows by their target partition before the partitioned
      // write: without it every one of the N shuffle tasks opens a file
      // in every partition it touches (tasks × partitions files); with
      // it the file count tracks the partition count
      dedup(increment).repartition(col(partitionCol))
        .write.mode("overwrite").format("parquet")
        .partitionBy(partitionCol).saveAsTable(name)
    } else {
      val touched = increment.select(col(partitionCol)).distinct()
        .collect().map(_.get(0)).toSeq
      val cols = spark.table(name).columns.toSeq
      val existing = spark.table(name)
        .filter(col(partitionCol).isin(touched: _*))
      val merged = dedup(existing
        .unionByName(increment.select(cols.map(col): _*)))
      overwritePartitions(spark, name, merged, Seq(partitionCol),
        touched.map(Seq(_)))
    }
    spark.table(name)
  }

  /** Retention enforcement: drop every partition of `name` whose
    * `partitionCol` VALUE sorts strictly below `cutoff` — a
    * metadata-only operation (`ALTER TABLE … DROP PARTITION`): retained
    * data is never read or rewritten, which is the whole point of
    * partition-level retention at 100 TB (dropping 3 years of history
    * costs O(partitions dropped), not a table scan). Values compare as
    * strings — ISO dates sort correctly. The partition list is
    * catalog METADATA (one row per partition, the same bounded driver
    * list `tableIncremental` touches), not data. */
  def expirePartitions(spark: SparkSession, name: String,
      partitionCol: String, cutoff: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val expired = spark.sql(s"SHOW PARTITIONS $name")
      .collect()
      .map(_.getString(0))
      .collect { case p if p.startsWith(s"$partitionCol=") =>
        p.stripPrefix(s"$partitionCol=")
      }
      .filter(_ < cutoff)
    dropPartitions(spark, name,
      expired.toSeq.map(v => Seq(partitionCol -> (v: Any))))
    spark.table(name)
  }

  /** Right-to-erasure (GDPR art. 17) for a partitioned table: delete
    * every row whose `keyCol` is in `keys`, rewriting ONLY partitions
    * that actually contain a target key. One pruned-aggregate scan
    * finds the affected partition values (rows matching keys →
    * distinct partition value — a bounded list, same contract as
    * [[tableIncremental]]'s touched set); [[eraseKeysIn]] rewrites
    * those partitions minus the matching rows; untouched partitions
    * are untouched bytes. `keys` is broadcast through both uses — an
    * erasure batch is a bounded request list, not data. Returns the
    * affected partition values (the audit trail a DPO wants). */
  def eraseKeys(spark: SparkSession, name: String, keyCol: String,
      keys: DataFrame, partitionCol: String): Seq[Any] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val k = keys.select(col(keys.columns.head).as(keyCol)).distinct()
    val affected = spark.table(name).join(broadcast(k), Seq(keyCol),
        "left_semi")
      .select(col(partitionCol)).distinct()
      .collect().map(_.get(0)).toSeq
    eraseKeysIn(spark, name, keyCol, k, partitionCol, affected)
    affected
  }

  /** The rewrite half of [[eraseKeys]], as ONE write action: only the
    * CANDIDATE partitions that hold a requested key (a key-column scan
    * of the candidates, broadcast into the rewrite's semi-join) are
    * rewritten, through a broadcast left join that flags the keys'
    * rows; the unflagged rows go back via [[overwritePartitions]], and
    * emptied partitions are dropped in one batched statement. A
    * candidate without a key is never rewritten, so candidates need not
    * hold one — the corpus [[graft.queries.CorpusBuild.eraseDocs]]
    * derives them from the request itself, with no discovery action,
    * and a replayed request writes nothing — and what the erasure found
    * rides the write as observe metrics: returns (rows erased,
    * partitions that held an erased row). `keys` is one DISTINCT
    * `keyCol` column (a repeated key would repeat its rows through the
    * join). Different tables' calls may run in PARALLEL (each has its
    * own committer staging dir; contrast [[checkpointPartials]]'
    * same-table serial commit loop) inside one outer
    * [[withDynamicOverwrite]]. */
  private[graft] def eraseKeysIn(spark: SparkSession, name: String,
      keyCol: String, keys: DataFrame, partitionCol: String,
      candidates: Seq[Any]): (Long, Seq[Any]) =
    if (candidates.isEmpty) (0L, Nil)
    else {
      import org.apache.spark.sql.functions.{broadcast, col, lit}
      val slices =
        spark.table(name).filter(col(partitionCol).isin(candidates: _*))
      val hitSlices = slices.join(broadcast(keys), Seq(keyCol), "left_semi")
        .select(col(partitionCol)).distinct()
      val (n, hit) = overwritePartitions(spark, name,
        slices.join(broadcast(hitSlices), Seq(partitionCol), "left_semi")
          .join(broadcast(keys.withColumn("__erased", lit(true))),
            Seq(keyCol), "left"),
        Seq(partitionCol), candidates.map(Seq(_)),
        keepOnly = Some(col("__erased").isNull))
      (n, hit.map(_.head))
    }

  /** Right-to-erasure for an INCREMENTAL aggregate — the
    * [[aggIncremental]] state pair: deletes every row of the requested
    * keys from BOTH the published table and the stored batch partials,
    * rewriting only the (partition, batch) slices that hold them (a
    * `kept` filtered on the partition value alone would rewrite every
    * batch slice of an affected partition — pure write amplification
    * when a hot partition holds many slices). Erasing only the
    * published table would be an illusion: the next batch touching
    * the partition recomputes from the stored partials and resurrects
    * the key. A partials (partition, batch) slice emptied by the
    * erasure is dropped explicitly — dynamic overwrite rewrites only
    * slices PRESENT in the output, so a fully-erased slice would
    * otherwise keep its stale files and resurrect the key anyway.
    *
    * Composes with the fold cadence in any order (spec: the
    * interleaved fold/erase/apply property). Under the
    * manifest-commit fold (r14) the erasure has THREE stored copies
    * to reach: it VACUUMS first ([[vacuumPartials]] — absorbed table
    * slices and superseded generations still hold the bytes, and the
    * right to erasure is about bytes), rewrites the CURRENT
    * checkpoint generation without the keys when it holds any (a
    * fresh generation committed at the SAME watermark; the erased
    * generation is deleted immediately, not left for a later
    * vacuum), then rewrites the touched live (partition, batch)
    * table slices as before. Replay-safe: a second identical request
    * finds no slices and touches nothing; a crash between legs
    * replays into the remaining legs. Returns (published partitions
    * rewritten, partials slices touched — the generation counts as
    * one when rewritten). */
  def eraseAggKeys(spark: SparkSession, name: String, keyCol: String,
      keys: DataFrame, partitionCol: String): (Seq[Any], Long) = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val partials = s"${name}__partials"
    val k = broadcast(keys.select(col(keys.columns.head).as(keyCol))
      .distinct())
    val nGen =
      if (!spark.catalog.tableExists(partials)) 0L
      else {
        vacuumPartials(spark, name)
        CkptStore.current(spark, partials) match {
          case Some(m) =>
            val gen = spark.read
              .schema(spark.table(partials).schema) // see visiblePartials
              .parquet(
                CkptStore.genPath(spark, partials, m.dir).toString)
            if (gen.join(k, Seq(keyCol), "left_semi").isEmpty) 0L
            else {
              val kept = gen.join(k, Seq(keyCol), "left_anti")
              val next = CkptStore.commit(spark, partials, m.wm) {
                dir =>
                  kept.repartitionByRange(col(partitionCol))
                    .write.mode("overwrite").parquet(dir)
              }
              // the superseded generation holds the erased bytes —
              // delete it NOW, not at the next maintenance vacuum
              CkptStore.deleteStaleGens(spark, partials, next)
              1L
            }
          case None => 0L
        }
      }
    val nSlices =
      if (!spark.catalog.tableExists(partials)) 0L
      else {
        val t = spark.table(partials)
        // bounded collect: the (partition, batch) slice pairs that
        // hold the requested keys
        val slices = t.join(k, Seq(keyCol), "left_semi")
          .select(col(partitionCol), col("__batch")).distinct()
          .collect().map(r => (r.get(0), r.getString(1))).toSeq
        if (slices.nonEmpty) {
          // ONLY the touched slices: untouched batch slices of an
          // affected partition never enter the output, so dynamic
          // overwrite never rewrites them
          val touched = slices.map { case (p, b) =>
            col(partitionCol) === lit(p) && col("__batch") === lit(b)
          }.reduce(_ || _)
          overwritePartitions(spark, partials,
            t.filter(touched).join(k, Seq(keyCol), "left_anti"),
            Seq(partitionCol, "__batch"),
            slices.map { case (p, b) => Seq(p, b) })
          refresh(spark, partials)
        }
        slices.size.toLong
      }
    val published =
      if (spark.catalog.tableExists(name))
        eraseKeys(spark, name, keyCol, keys, partitionCol)
      else Seq.empty[Any]
    (published, nSlices + nGen)
  }

  /** Small-file compaction: rewrite every partition whose FILE COUNT
    * exceeds `maxFiles`, clustering rows by partition value so each
    * rewritten partition lands in few large files (the daily
    * OPTIMIZE/rewrite_data_files maintenance pass — at 100 TB, small
    * files are the silent scan killer: per-file open cost and
    * footer reads dominate once files ≪ the 128 MB split size).
    * Detection is a distributed `input_file_name()` aggregate (never
    * a driver filesystem walk); only the affected partition VALUES
    * (bounded metadata) reach the driver. Content is bit-identical
    * after compaction — only layout changes. Returns affected
    * partition values. */
  def compactFiles(spark: SparkSession, name: String,
      partitionCol: String, maxFiles: Int = 1): Seq[Any] = {
    import org.apache.spark.sql.functions.{col, countDistinct, input_file_name}
    val t = spark.table(name)
    // nondeterministic exprs may be projected but not aggregated —
    // bind the file name to a column first
    val affected = t
      .select(col(partitionCol), input_file_name().as("__f"))
      .groupBy(col(partitionCol))
      .agg(countDistinct(col("__f")).as("__nf"))
      .filter(col("__nf") > maxFiles)
      .select(col(partitionCol)).collect().map(_.get(0)).toSeq
    if (affected.nonEmpty) {
      val schema = t.schema
      val rewritten = t.filter(col(partitionCol).isin(affected: _*))
      val PoKey = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.getOption(PoKey)
      spark.conf.set(PoKey, "dynamic")
      try rewritten
        .select(schema.map(f => col(f.name)): _*)
        .repartition(col(partitionCol))
        .write.mode("overwrite").insertInto(name)
      finally prev match {
        case Some(v) => spark.conf.set(PoKey, v)
        case None => spark.conf.unset(PoKey)
      }
    }
    affected
  }

  /** The injected failure a TEST-ONLY crash parameter throws
    * ([[publishSetAudited]]'s `crashAfter`, [[CkptStore.commit]]'s
    * `crashAfterStep`) — its own type so specs can intercept it
    * without masking real errors from the same code path. */
  final class CrashInjected(step: Int)
    extends RuntimeException(s"injected crash after step $step")

  /** `ALTER TABLE RENAME` plus the partitioned-table repair the
    * catalog does NOT do: renaming a PARTITIONED managed table moves
    * its directory but keeps every registered partition's location
    * pointing at the OLD path, so the renamed table silently reads as
    * EMPTY (found r11 — the retrain swap published an empty postings
    * table, and the r10 spec scored the empty index recall 1.0 ==
    * promised 1.0 vacuously). `MSCK REPAIR` re-registers partitions
    * from the moved directory: one metadata listing of the table dir,
    * paid only on publish/recovery renames. Every rename in the
    * publish/recover protocol must go through here. */
  private[graft] def renameTable(spark: SparkSession, from: String,
      to: String): Boolean = {
    val partitioned = org.apache.spark.sql.graft.CatalogMeta.of(spark, from)
      .partitionColumnNames.nonEmpty
    MetaOps.inc("rename_table")
    spark.sql(s"ALTER TABLE $from RENAME TO $to")
    if (partitioned) { MetaOps.inc("msck_repair")
      spark.sql(s"MSCK REPAIR TABLE $to"); () }
    partitioned
  }

  /** One member of a publish set: the frame to stage, the published
    * table name, its audit suite, and an optional partition column. A
    * `Some(col)` member stages — and therefore publishes, the swap
    * being a metadata rename that keeps layout — PARTITIONED BY that
    * column, for tables their readers partition-prune (e.g. ANN
    * postings cell-partitioned for `PartitionFilters` search). */
  final case class Member(df: DataFrame, name: String,
      checks: Seq[graft.quality.Check], partitionCol: Option[String] = None)

  /** Write-audit-publish (the Iceberg/dbt "WAP" release pattern, the
    * blue-green form of the reference's test-then-promote CI gate,
    * reference `.github/workflows/dbt-ci.yml:36-42`) for a SET of
    * tables — the library's one publish protocol; a single table is a
    * one-member set. Every member is staged under an invisible name,
    * the quality suite runs against the STAGED files, and only if
    * EVERY member passes does any swap happen (the dbt `build`
    * promotion semantic: the whole DAG ships or nothing does — never a
    * new mart beside a stale sibling it was built with). A failing
    * audit drops all stagings and every published table keeps serving
    * its previous version. Publish is a catalog rename (O(1) metadata
    * — data files are written once and never copied).
    *
    * Returns (published?, per-member audit results). `warnAsError`
    * promotes warn-tier checks to blocking, dbt `--warn-error` parity.
    *
    * The swap phase is a sequence of per-table renames (a catalog
    * without multi-op transactions cannot make it one atomic op), so a
    * crash mid-swap can leave a mixed set on disk. The protocol makes
    * every such window RECOVERABLE instead of silent:
    *
    *  1. create the `<setName>__swapping` marker table, naming the
    *     members in publish order — ATOMICALLY (the catalog's
    *     create-if-absent is the mutex): a concurrent publisher, or a
    *     session racing an unrecovered crash, fails loudly HERE,
    *     before it can stage over anything;
    *  2. stage every `<name>__staging` CONCURRENTLY, one
    *     [[graft.operators.Par]] branch per member;
    *  3. audit all in one action (fail → drop stagings + marker,
    *     previous versions serve); on a pass, mark the marker's
    *     `graft.publish.phase` property `swap` — the point of no
    *     return-without-rollback that [[recoverSet]] reads;
    *  4. per member, in order: drop old `__prev`, rename name→prev
    *     (rename-ASIDE, not drop: the previous version exists on disk
    *     until the whole set is in, so rollback stays possible),
    *     rename staging→name;
    *  5. drop all prevs, drop the marker.
    *
    * [[recoverSet]] inspects the states and rolls the set to ONE
    * generation.
    *
    * Writer concurrency contract: ONE publisher per set name at a
    * time, enforced by the marker-as-mutex; losers of the race get an
    * IllegalStateException and must retry after the winner finishes
    * (or after `recoverSet` if the winner crashed). Readers are never
    * blocked — they see the previous generation until step 4 swaps
    * their table.
    *
    * `crashAfter` is TEST-ONLY fault injection: k ≥ 0 throws
    * [[CrashInjected]] at the k-th point of the sequence, numbered
    * from 0 over n members: marker taken (0); member i staged (1 + i —
    * members then stage in order rather than concurrently, so the
    * crash leaves members 0..i staged and the later ones not; the
    * concurrent run reaches any other subset, which [[recoverSet]]
    * handles alike); audit run (n + 1); for member i, prev dropped
    * (n + 2 + 3i), renamed aside (n + 3 + 3i), renamed in (n + 4 + 3i);
    * before cleanup (4n + 2). Any other failure before the swap phase
    * drops this call's stagings and frees the marker: nothing was
    * swapped, so there is nothing to recover. */
  def publishSetAudited(setName: String, members: Seq[Member],
      warnAsError: Boolean = false, crashAfter: Int = -1)
      : (Boolean, Seq[(String, Seq[graft.quality.Quality.Result])]) = {
    require(members.nonEmpty, "empty publish set")
    val spark = members.head.df.sparkSession
    val n = members.size
    def reached(step: Int): Unit =
      if (step == crashAfter) throw new CrashInjected(step)
    def abandon(): Unit = {
      members.foreach(m => dropTable(spark, s"${m.name}__staging"))
      dropTable(spark, markerOf(setName))
    }
    takeMarker(spark, setName, members.map(_.name))
    reached(0)
    val (counts, results) = try {
      val stagings = members.zipWithIndex.map { case (m, i) => () => {
        val staging = s"${m.name}__staging"
        m.partitionCol match {
          case Some(c) => partitionedTable(m.df, staging, c)
          case None => table(m.df, staging)
        }
        reached(1 + i)
      } }
      // a crash injected at a staging point stages in member order, so
      // it leaves exactly members 0..i staged and the rest not started
      if (crashAfter >= 1 && crashAfter <= n) stagings.foreach(_())
      else graft.operators.Par.run(spark)(stagings: _*)
      // ONE action audits every staged table's whole suite (the gate is
      // the action-count hot spot of every composed build that publishes
      // through it). A hidden NonEmpty leg per member rides the same
      // union — zero extra jobs — so the post-swap guard below can tell
      // "rename lost the staged rows" from a legitimately empty publish.
      val counts = graft.quality.Quality.countsOnce(members.map { m =>
        spark.table(s"${m.name}__staging") ->
          (m.checks :+ graft.quality.NonEmpty()) })
      val results = members.zip(counts).map { case (m, cs) =>
        m.name -> graft.quality.Quality.resultsOf(m.checks, cs.init,
          warnAsError)
      }
      reached(n + 1)
      if (results.forall(_._2.forall(_.passed))) {
        MetaOps.inc("mark_swap_phase")
        spark.sql(s"ALTER TABLE ${markerOf(setName)} SET TBLPROPERTIES " +
          s"('$PhaseKey' = 'swap')")
      }
      (counts, results)
    } catch {
      case e: CrashInjected => throw e
      case scala.util.control.NonFatal(e) =>
        try abandon()
        catch { case scala.util.control.NonFatal(s) => e.addSuppressed(s) }
        throw e
    }
    if (!results.forall(_._2.forall(_.passed))) {
      abandon()
      return (false, results)
    }
    members.zip(counts).zipWithIndex.foreach { case ((m, cs), i) =>
      val prev = s"${m.name}__prev"
      dropTable(spark, prev)
      dropOrphanLocation(spark, prev)
      reached(n + 2 + 3 * i)
      if (spark.catalog.tableExists(m.name))
        renameTable(spark, m.name, prev)
      reached(n + 3 + 3 * i)
      // a previous JVM's published table may survive as files with no
      // catalog entry (in-memory catalog died) — clear the orphan or
      // the rename refuses with LOCATION_ALREADY_EXISTS
      dropOrphanLocation(spark, m.name)
      val renamedPartitioned =
        renameTable(spark, s"${m.name}__staging", m.name)
      // a catalog RENAME does not touch the cache manager: any
      // persisted plan over the OLD version canonicalizes to the same
      // relation (same warehouse location) and would keep serving
      // stale blocks to every post-publish reader in this session —
      // found live when runIncremental's manifest read the pre-merge
      // corpus. Publishing must invalidate readers' caches.
      refresh(spark, m.name)
      // the audits ran on the STAGED files; a PARTITIONED rename is
      // the one step that can lose them (partition metadata left at
      // the old path — the class renameTable repairs). One limit-1
      // probe, paid only for partitioned members, turns any residual
      // silent-empty into a loud failure while __prev + marker still
      // exist, so recoverSet rolls the whole set back. An
      // unpartitioned rename moves the whole directory — no probe.
      if (renamedPartitioned && cs.last == 0L)
        require(!spark.table(m.name).isEmpty,
          s"publish of ${m.name}: staged rows lost in the swap")
      reached(n + 4 + 3 * i)
    }
    reached(4 * n + 2)
    members.foreach(m => dropTable(spark, s"${m.name}__prev"))
    dropTable(spark, markerOf(setName))
    (true, results)
  }

  private def markerOf(setName: String) = s"${setName}__swapping"
  private val MembersKey = "graft.publish.members"
  private val PhaseKey = "graft.publish.phase"

  /** Step 1 of [[publishSetAudited]]: create the set's marker table
    * with the members' names, in publish order, as a table property —
    * catalog metadata only, no data write — so [[recoverSet]] learns
    * the in-flight set from the marker itself and publishes of
    * different memberships may share one set name (one mutex). The
    * atomic create-if-absent is the mutex: a held marker throws
    * IllegalStateException. */
  private[graft] def takeMarker(spark: SparkSession, setName: String,
      names: Seq[String]): Unit = {
    val marker = markerOf(setName)
    if (!spark.catalog.tableExists(marker))
      dropOrphanLocation(spark, marker)
    MetaOps.inc("create_marker")
    try spark.sql(s"CREATE TABLE $marker (committed INT) USING parquet " +
      s"TBLPROPERTIES ('$MembersKey' = '${names.mkString(",")}')")
    catch {
      case e: org.apache.spark.sql.catalyst.analysis
          .TableAlreadyExistsException =>
        throw new IllegalStateException(
          s"publish of $setName refused: marker $marker exists - " +
            "either a concurrent publisher holds it or a prior crash " +
            "was never recovered (run recoverSet first)", e)
    }
  }

  /** Crash repair for [[publishSetAudited]]: rolls the WHOLE set to
    * one consistent generation, over the members the held marker
    * names. Marker absent → no publish is in flight: "noop" (a
    * publish drops its stagings before it frees the marker). Marker
    * present and no staging left → every member swapped (or none was
    * staged yet): roll FORWARD, i.e. finish the cleanup. Otherwise
    * roll BACK. The phase is read off the marker, never inferred from
    * which stagings exist (members stage concurrently, so any subset
    * of them may be staged when a crash hits): without the `swap`
    * phase property the audit had not passed, nothing swapped, and
    * only the stagings are dropped; with it, a member without staging
    * has swapped — it gets its new version dropped and the previous
    * one restored (or goes back to unpublished on a first release),
    * and an unswapped member keeps (or gets back from `__prev`) its
    * previous version. Idempotent once it has returned. Returns
    * "forward", "back", or "noop". */
  def recoverSet(spark: SparkSession, setName: String): String = {
    val marker = markerOf(setName)
    if (!spark.catalog.tableExists(marker)) return "noop"
    val props = spark.sql(s"SHOW TBLPROPERTIES $marker").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val names = props.get(MembersKey).map(_.split(",").toSeq)
      .getOrElse(throw new IllegalStateException(
        s"marker $marker names no members"))
    def staging(n: String) = s"${n}__staging"
    def prev(n: String) = s"${n}__prev"
    val staged = names.filter(n => spark.catalog.tableExists(staging(n)))
      .toSet
    if (staged.isEmpty) {
      names.foreach(n => dropTable(spark, prev(n)))
      dropTable(spark, marker)
      "forward"
    } else {
      val swapping = props.get(PhaseKey).contains("swap")
      names.foreach { n =>
        if (staged(n)) {
          // not yet swapped: the previous version either still holds
          // the name or sits aside as __prev (crash between renames)
          if (!spark.catalog.tableExists(n) &&
              spark.catalog.tableExists(prev(n))) {
            dropOrphanLocation(spark, n)
            renameTable(spark, prev(n), n)
          }
          dropTable(spark, staging(n))
        } else if (swapping) {
          // swapped: the name holds the NEW version — roll it back to
          // the kept prev (or to unpublished for a first release)
          dropTable(spark, n)
          dropOrphanLocation(spark, n)
          if (spark.catalog.tableExists(prev(n)))
            renameTable(spark, prev(n), n)
        }
        if (spark.catalog.tableExists(n))
          refresh(spark, n) // publish staleness class
      }
      dropTable(spark, marker)
      "back"
    }
  }
}
