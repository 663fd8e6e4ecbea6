package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.functions.Functions._

/** Structured Streaming surface (SURVEY §2.9): the same event pipeline
  * as the batch path, expressed as `readStream` → windowed aggregate →
  * sink. The reference is batch (dbt), but declares stream-shaped
  * semantics — event-time vs arrival-time, late data, daily rollups
  * (reference `generate_and_load_script.py:155,162`,
  * `pseudo_code_rules.txt:11-19`, `README.md:7,57`).
  *
  * Batch stays primary; these wrappers prove the operators carry over:
  * the aggregation plan (tumbling event-time window + exact decimal
  * sums) is byte-for-byte the batch mart, planned incrementally.
  */
object Streaming {

  /** Normalize an events frame's `ts` to session-zoned TimestampType —
    * delegates to the ONE coercion policy (`Tables.normalizeTs`), so a
    * future fixture-encoding drift is handled in a single place for
    * batch and streaming alike (it is a pure projection, valid on
    * streaming frames). */
  private def normalizeTs(df: DataFrame): DataFrame =
    graft.sources.Tables.normalizeTs(df, "ts")

  /** Streaming daily rollup over a parquet events source, executed to
    * completion with `Trigger.AvailableNow` and returned as a plain
    * DataFrame (memory sink — test/verify harness use; production
    * would `toTable` with a checkpoint).
    *
    * Watermark note: with AvailableNow over a static source the stream
    * terminates, so complete-mode aggregation needs no watermark; the
    * continuous deployment adds `withWatermark("ts", ...)` to bound
    * state — see [[watermarkedDailyRollup]]. */
  def dailyRollupAvailableNow(spark: SparkSession,
      eventsParquet: String): DataFrame = {
    // nanosAsLong is needed for the ns-timestamp fixture, but it is a
    // SESSION-wide setting — save/restore so later parquet reads in the
    // caller's session keep their own interpretation of INT64 nanos
    val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val prevNanos = spark.conf.getOption(NanosKey)
    spark.conf.set(NanosKey, "true")
    try {
      // FileStreamSource requires a DIRECTORY; the fixture is one file —
      // stage it into a per-source temp dir (idempotent overwrite)
      val srcDir = stageIntoDir(spark, eventsParquet)
      val batchSchema = spark.read.parquet(srcDir).schema
      val raw = spark.readStream.schema(batchSchema).parquet(srcDir)
      val ev = normalizeTs(raw)
      val agg = dailyRollup(ev)
      val sink = s"graft_stream_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = agg.writeStream
        .format("memory").queryName(sink)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(sink)
    } finally {
      prevNanos match {
        case Some(v) => spark.conf.set(NanosKey, v)
        case None => spark.conf.unset(NanosKey)
      }
    }
  }

  /** Stream-STATIC enrichment join (the dimension lookup inside a
    * stream): each micro-batch of events joins the static `dim` frame
    * on `joinCol` — Spark re-reads/broadcasts the static side per
    * batch, the standard reference-data pattern — then rolls up
    * `count(*)` + exact-decimal `sum(value)` per `catCol`. Run to
    * completion with AvailableNow so the batch oracle can check the
    * result; the continuous deployment is the same plan with a
    * watermark. 100 TB posture: the dim is dimension-sized
    * (broadcast), the stream never shuffles before the rollup's own
    * keyed exchange. */
  def enrichedRollupAvailableNow(spark: SparkSession, eventsParquet: String,
      dim: DataFrame, joinCol: String, catCol: String): DataFrame = {
    val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val prevNanos = spark.conf.getOption(NanosKey)
    spark.conf.set(NanosKey, "true")
    try {
      val srcDir = stageIntoDir(spark, eventsParquet)
      val batchSchema = spark.read.parquet(srcDir).schema
      val ev = spark.readStream.schema(batchSchema).parquet(srcDir)
      val agg = ev
        .join(broadcast(dim), Seq(joinCol))
        .groupBy(col(catCol))
        .agg(count(lit(1)).as("n_events"),
          sum(graft.functions.Functions.money(col("value")))
            .cast("double").as("total_value"))
      val sink = s"graft_stream_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = agg.writeStream
        .format("memory").queryName(sink)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(sink)
    } finally {
      prevNanos match {
        case Some(v) => spark.conf.set(NanosKey, v)
        case None => spark.conf.unset(NanosKey)
      }
    }
  }

  /** Copy a single parquet file into a stable temp directory so the
    * file stream source (directory-based) can list it. */
  private def stageIntoDir(spark: SparkSession, file: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(file)
    val fs = src.getFileSystem(conf)
    if (fs.getFileStatus(src).isDirectory) file
    else {
      val dir = new org.apache.hadoop.fs.Path(
        s"/tmp/graft_stream_src_${math.abs(file.hashCode)}")
      fs.mkdirs(dir)
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
        new org.apache.hadoop.fs.Path(dir, src.getName), false, true, conf)
      dir.toString
    }
  }

  /** The shared rollup plan: tumbling 1-day event-time window, exact
    * decimal revenue. Identical logic batch or streaming. */
  def dailyRollup(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(money(col("value"))).cast("double").as("total_value"))
      .select(col("w.start").as("day"), col("n_events"), col("total_value"))

  /** Production-shaped variant: watermarked, append-mode-compatible.
    * Late rows beyond the watermark are dropped — the streaming
    * enforcement of the reference's late-arrival threshold
    * (`pseudo_code_rules.txt:11-19`). Returned un-started so callers
    * pick sink/checkpoint/trigger. */
  def watermarkedDailyRollup(events: DataFrame,
      lateness: String = "1 day"): DataFrame =
    dailyRollup(events.withWatermark("ts", lateness))

  /** Run [[sessionizeStream]] over a STATIC events frame to completion
    * (`Trigger.AvailableNow`), producing exactly the sessions the batch
    * operator (`Marts.sessionize`) yields — the stream/batch-parity
    * harness for the oracle check.
    *
    * A far-future sentinel row per user closes each user's final open
    * session through the ordinary gap rule; the sentinel's own
    * single-event session stays in state and is never emitted (append
    * mode emits sessions only as they CLOSE), so the output does not
    * depend on end-of-stream timeout semantics. */
  def sessionizeAvailableNow(spark: SparkSession, events: DataFrame,
      gapMinutes: Int): DataFrame = {
    val rows = events.select(col("user_id").cast("long").as("user_id"),
      col("ts"))
    val sentinels = rows.select(col("user_id")).distinct()
      .withColumn("ts",
        lit(java.sql.Timestamp.valueOf("2100-01-01 00:00:00")))
    val srcDir = s"/tmp/graft_stream_sess_src_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    rows.unionByName(sentinels).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(srcDir).schema).parquet(srcDir)
    val out = sessionizeStream(stream, gapMinutes)
    val sink = s"graft_sess_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(sink)
  }

  /** Stream-STREAM interval join, run to completion over the parquet
    * events fixture: the left stream (`leftType` events, e.g. views)
    * joins the right stream (`rightType`, e.g. purchases) per user when
    * the right event lands within `withinMinutes` AFTER the left one —
    * the attribution-window join (reference
    * `pseudo_code_rules.txt:29-33`'s view→purchase funnel) in its
    * streaming form.
    *
    * Both sides carry watermarks sized to the join window, which is
    * what lets a CONTINUOUS deployment drop buffered state once the
    * other side can no longer match (Spark derives the state horizon
    * from watermark + interval bounds). Inner join + append mode: each
    * matched pair is emitted exactly once; the result equals the batch
    * interval join the oracle runs. Output lag is integer micros
    * divided down to minutes — exact in any engine. */
  def intervalJoinAvailableNow(spark: SparkSession, eventsParquet: String,
      leftType: String, rightType: String, withinMinutes: Int)
      : DataFrame = {
    val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val prevNanos = spark.conf.getOption(NanosKey)
    spark.conf.set(NanosKey, "true")
    try {
      val srcDir = stageIntoDir(spark, eventsParquet)
      val batchSchema = spark.read.parquet(srcDir).schema
      def side(tpe: String, tag: String): DataFrame = {
        val raw = spark.readStream.schema(batchSchema).parquet(srcDir)
        val ev = normalizeTs(raw)
        ev.filter(col("event_type") === tpe)
          .select(col("event_id").as(s"${tag}_id"),
            col("user_id").as(s"${tag}_user"),
            col("ts").as(s"${tag}_ts"))
          .withWatermark(s"${tag}_ts", s"${2 * withinMinutes} minutes")
      }
      val l = side(leftType, "l")
      val r = side(rightType, "r")
      val joined = l.join(r,
        col("l_user") === col("r_user") &&
          col("r_ts") >= col("l_ts") &&
          col("r_ts") <= col("l_ts") +
            expr(s"INTERVAL $withinMinutes MINUTES"))
      val out = joined.select(
        col("l_id"), col("r_id"), col("l_user").as("user_id"),
        expr("(unix_micros(r_ts) - unix_micros(l_ts)) div 60000000")
          .cast("long").as("lag_minutes"))
      val sink = s"graft_sj_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = out.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(sink)
    } finally {
      prevNanos match {
        case Some(v) => spark.conf.set(NanosKey, v)
        case None => spark.conf.unset(NanosKey)
      }
    }
  }

  /** Idempotence guard for `foreachBatch` sinks whose body is NOT
    * idempotent (additive sums, sketch unions, blind appends):
    * `foreachBatch` is at-least-once — a micro-batch whose
    * checkpoint-offset commit failed is replayed on restart, and an
    * unguarded additive merge then double-counts it. The guard records
    * each applied batch id as a zero-byte marker under
    * `<checkpoint>/applied/` and skips the body on replay. Markers are
    * scoped to the CHECKPOINT because that is the unit of replay (a
    * new checkpoint restarts batch ids at 0). The marker is written
    * after the body commits, so the remaining double-apply window is a
    * crash between the body's final write and the marker creation —
    * strictly smaller than the unguarded window (every restart
    * replay), and the standard floor without a transactional sink. */
  private[graft] def oncePerBatch(spark: SparkSession, checkpoint: String,
      batchId: Long)(body: => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(
      s"$checkpoint/applied/batch-$batchId")
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) {
      body
      fs.mkdirs(p.getParent)
      fs.create(p, true).close()
    }
  }

  /** Streaming ADDITIVE mart maintenance: micro-batches of events fold
    * into a partitioned daily aggregate table via `foreachBatch` →
    * [[graft.sources.Materialize.aggIncremental]] — each batch merges
    * partial sums into only the day-partitions it touches. The source
    * is staged as TWO disjoint halves split mid-day
    * (`maxFilesPerTrigger=1` → two micro-batches), so the boundary day
    * receives partial sums from BOTH batches and the additive merge is
    * exercised, not just appends. Post-condition (the q127 oracle):
    * table ≡ the one-shot batch aggregate. */
  /** Stage `eventsParquet` as a dir of exactly `splits` data files —
    * with `maxFilesPerTrigger=1` the stream runs as that many
    * micro-batches, so cross-batch state merging is exercised. Two
    * splits cut at `cutTs` (the mid-day boundary both batches share —
    * the q127/q201 fixture shape); more splits use a deterministic row
    * hash, which spreads EVERY partition across every batch — the
    * worst case for per-partition slice growth and exactly the shape
    * the fold cadence must bound. */
  private def stageSplits(spark: SparkSession, eventsParquet: String,
      cutTs: String, tag: String, splits: Int): (String, DataFrame) = {
    require(splits >= 2, "need at least two micro-batches")
    val batch = spark.read.parquet(eventsParquet)
    val ev0 = normalizeTs(batch)
    val srcDir = s"/tmp/graft_stream_${tag}_src_" +
      s"${math.abs((eventsParquet + cutTs + splits).hashCode)}"
    val cut = lit(cutTs).cast("timestamp")
    val parts: Seq[DataFrame] =
      if (splits == 2)
        Seq(ev0.filter(col("ts") < cut), ev0.filter(col("ts") >= cut))
      else {
        val h = pmod(graft.functions.Functions.md5Long(
          concat_ws("|", col("user_id").cast("string"),
            col("ts").cast("string"), col("event_type"))), lit(splits))
        (0 until splits).map(i => ev0.filter(h === i))
      }
    parts.zipWithIndex.foreach { case (p, i) =>
      p.coalesce(1).write.mode("overwrite").parquet(f"$srcDir/s$i%03d")
    }
    // one staged dir holding exactly `splits` data files
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(s"$srcDir/in")
    val fs = dir.getFileSystem(conf)
    fs.delete(dir, true); fs.mkdirs(dir)
    for (i <- 0 until splits) {
      val part = fs.globStatus(
        new org.apache.hadoop.fs.Path(f"$srcDir/s$i%03d/part-*")).head
      org.apache.hadoop.fs.FileUtil.copy(fs, part.getPath, fs,
        new org.apache.hadoop.fs.Path(dir, f"s$i%03d.parquet"),
        false, true, conf)
    }
    val schema = spark.read.parquet(dir.toString).schema
    (srcDir, spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString))
  }

  /** Shared runner for "stream micro-batches into an additively
    * merged day-partitioned state table": stage the fixture as
    * `splits` files (two cut at `cutTs`; more hash-spread), and per
    * batch apply `partialOf` and
    * [[graft.sources.Materialize.aggIncremental]] (touched partitions
    * only, history folded on the `foldEvery` cadence).
    * No [[oncePerBatch]] marker is needed: aggIncremental is
    * replay-CONVERGENT under a stable batch id (batch-keyed stored
    * partials + recompute-from-stored), so foreachBatch's
    * at-least-once delivery collapses to effectively-once — the same
    * recovery story as the corpus build's streaming front-end. */
  private def streamIntoMergedTable(spark: SparkSession,
      eventsParquet: String, name: String, cutTs: String, tag: String,
      keys: Seq[String], partitionCol: String, splits: Int = 2,
      foldEvery: Int = 8)(
      partialOf: DataFrame => DataFrame): DataFrame = {
    val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val prevNanos = spark.conf.getOption(NanosKey)
    spark.conf.set(NanosKey, "true")
    try {
      val (srcDir, stream) =
        stageSplits(spark, eventsParquet, cutTs, tag, splits)
      // batchId is stable across replays OF ONE RUN (the checkpoint),
      // but only unique per checkpoint — a second run into a surviving
      // aggregate would reuse b0/b1 and silently overwrite the first
      // run's partials. The run prefix makes ids unique across runs,
      // and SORTABLE: checkpointPartials' watermark contract wants
      // string-ordered batch ids, so the prefix is a zero-padded
      // epoch-ms stamp captured at stream start (runs sort
      // chronologically; the random tail keeps two same-ms starts
      // unique) and batch numbers are zero-padded (…-b000002 <
      // …-b000010). Six digits, not four (ADVICE r13): the fold
      // watermark HIDES any slice sorting below it, so a batch number
      // wrapping past the padding (b10000 < b9999) would silently
      // vanish from every recompute — 10^6 micro-batches per run
      // puts that wrap out of reach, and aggIncremental warns loudly
      // if an id ever lands below an existing watermark anyway.
      val runId = f"${System.currentTimeMillis}%013d" +
        java.util.UUID.randomUUID().toString.take(4)
      val ckpt = s"$srcDir/ckpt_$runId"
      val q = stream.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, batchId: Long) =>
          if (!b.isEmpty) {
            graft.sources.Materialize.aggIncremental(
              b.sparkSession, name, partialOf(b), keys, partitionCol,
              f"$runId-b$batchId%06d", foldEvery = foldEvery)
            ()
          }
        }
        .start()
      q.awaitTermination()
      // end-of-run maintenance: the manifest-commit fold leaves
      // absorbed slices invisible-but-present (the O(1)-commit
      // trade); one vacuum per drained run reclaims them so physical
      // state tracks the cadence bound. Off the per-batch path — a
      // continuous deployment schedules this like any snapshot expiry.
      graft.sources.Materialize.vacuumPartials(spark, name)
      spark.table(name)
    } finally {
      prevNanos match {
        case Some(v) => spark.conf.set(NanosKey, v)
        case None => spark.conf.unset(NanosKey)
      }
    }
  }

  /** `foldEvery`: the default cadence keeps a CONTINUOUSLY ingesting
    * deployment bounded without manual maintenance — once any
    * partition holds more than `foldEvery` partials slices, history
    * below the current batch folds into one synthetic slice
    * ([[graft.sources.Materialize.checkpointPartials]]); recompute
    * input per partition then never exceeds foldEvery+1 row-sets
    * regardless of how many batches ever ran (spec: "fold cadence
    * bounds partials slices"). 0 disables. */
  def streamIntoAggIncremental(spark: SparkSession, eventsParquet: String,
      name: String, cutTs: String, splits: Int = 2,
      foldEvery: Int = 8): DataFrame =
    streamIntoMergedTable(spark, eventsParquet, name, cutTs, "agg",
      Seq("day", "event_type"), "day", splits, foldEvery) { b =>
      b.groupBy(col("ts").cast("date").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(money(col("value"))).as("value_sum"))
    }

  /** Streaming HISTOGRAM state maintenance: micro-batches fold into a
    * day-partitioned (day, bucket, count) table — the state a
    * streaming drift monitor (q201) keeps. Fixed data-independent
    * bucket edges (`width`, capped at `nBuckets`), so batches from
    * any worker/replay bucket identically; counts merge additively
    * into only the touched day-partitions. At 100 TB the state is
    * `nBuckets` rows per day — the PSI readout never rescans the
    * fact stream. */
  def streamIntoBucketCounts(spark: SparkSession, eventsParquet: String,
      name: String, cutTs: String, width: Int,
      nBuckets: Int, splits: Int = 2, foldEvery: Int = 8): DataFrame =
    streamIntoMergedTable(spark, eventsParquet, name, cutTs, "psi",
      Seq("day", "b"), "day", splits, foldEvery) { b =>
      b.groupBy(col("ts").cast("date").as("day"),
          least(floor(col("value") / width).cast("long"),
            lit((nBuckets - 1).toLong)).as("b"))
        .agg(count(lit(1)).as("c"))
    }

  /** Streaming MERGEABLE-SKETCH state maintenance: micro-batches fold
    * into a day-partitioned theta-sketch table — per batch, one local
    * sketch build ([[graft.operators.Sketch.thetaBy]]) and a
    * union-merge into only the day-partitions the batch touches
    * (the [[streamIntoAggIncremental]] shape with sketch-union in
    * place of sum — the non-additive aggregate made additive by
    * sketching). The split mid-day forces the boundary day to merge
    * sketches from BOTH batches. At 100 TB the state table is a few
    * KB per day and never rescans the fact; any later rollup
    * (monthly distinct, cross-day overlap) merges sketches. */
  def streamIntoSketchRollup(spark: SparkSession, eventsParquet: String,
      name: String, cutTs: String): DataFrame = {
    import graft.operators.Sketch
    val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val prevNanos = spark.conf.getOption(NanosKey)
    spark.conf.set(NanosKey, "true")
    try {
      val (srcDir, stream) =
        stageSplits(spark, eventsParquet, cutTs, "sketch", 2)
      val ckpt = s"$srcDir/ckpt_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = stream.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, batchId: Long) =>
          // sketch-union merge → guard against at-least-once replay
          if (!b.isEmpty) oncePerBatch(b.sparkSession, ckpt, batchId) {
            val s = b.sparkSession
            val partial = Sketch.thetaBy(
              b.withColumn("day", col("ts").cast("date").cast("string")),
              "day", "user_id")
            if (!s.catalog.tableExists(name)) {
              partial.repartition(col("day"))
                .write.mode("overwrite").format("parquet")
                .partitionBy("day").saveAsTable(name)
            } else {
              val touched = partial.select(col("day")).distinct()
                .collect().map(_.get(0)).toSeq
              val existing = s.table(name)
                .filter(col("day").isin(touched: _*))
              graft.sources.Materialize.overwritePartitions(s, name,
                existing.unionByName(partial)
                  .groupBy(col("day"))
                  .agg(Sketch.thetaUnion(col("sketch")).as("sketch")),
                Seq("day"), touched.map(Seq(_)))
            }
            ()
          }
        }
        .start()
      q.awaitTermination()
      spark.table(name)
    } finally {
      prevNanos match {
        case Some(v) => spark.conf.set(NanosKey, v)
        case None => spark.conf.unset(NanosKey)
      }
    }
  }

  /** SLIDING-window streaming rollup run to completion: overlapping
    * event-time windows (`size` wide, advancing every `slide`), the
    * moving-aggregate form of [[dailyRollupAvailableNow]]'s tumbling
    * day. Each event lands in size/slide windows; Spark's `window()`
    * enumerates them epoch-aligned, which the batch oracle reproduces
    * exactly. Complete-mode memory sink (bounded source). */
  def slidingRollupAvailableNow(spark: SparkSession, eventsParquet: String,
      size: String, slide: String): DataFrame = {
    val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val prevNanos = spark.conf.getOption(NanosKey)
    spark.conf.set(NanosKey, "true")
    try {
      val srcDir = stageIntoDir(spark, eventsParquet)
      val batchSchema = spark.read.parquet(srcDir).schema
      val raw = spark.readStream.schema(batchSchema).parquet(srcDir)
      val ev = normalizeTs(raw)
      val agg = ev
        .groupBy(window(col("ts"), size, slide).as("w"))
        .agg(count(lit(1)).as("n_events"),
          sum(money(col("value"))).cast("double").as("total_value"))
        .select(col("w.start").cast("timestamp_ntz").as("window_start"),
          col("n_events"), col("total_value"))
      val sink = s"graft_sw_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(sink)
    } finally {
      prevNanos match {
        case Some(v) => spark.conf.set(NanosKey, v)
        case None => spark.conf.unset(NanosKey)
      }
    }
  }

  /** Streaming exact-dedup (`dropDuplicatesWithinWatermark`), run to
    * completion: the events fixture is staged TWICE into the source
    * directory — every row arrives as a duplicate — and the stream
    * must emit each `event_id` exactly once. The watermark bounds the
    * dedup state in a continuous deployment (ids older than the
    * watermark horizon are evicted — the production reason to prefer
    * the WithinWatermark variant over unbounded `dropDuplicates`).
    * Returns the deduplicated (event_id, event_type) rows. */
  def streamDedupAvailableNow(spark: SparkSession,
      eventsParquet: String): DataFrame = {
    val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val prevNanos = spark.conf.getOption(NanosKey)
    spark.conf.set(NanosKey, "true")
    try {
      // stage the single fixture file twice → a fully duplicated stream
      val conf = spark.sparkContext.hadoopConfiguration
      val src = new org.apache.hadoop.fs.Path(eventsParquet)
      val fs = src.getFileSystem(conf)
      val dir = new org.apache.hadoop.fs.Path(
        s"/tmp/graft_stream_dup_src_${math.abs(eventsParquet.hashCode)}")
      fs.mkdirs(dir)
      for (copy <- Seq("a.parquet", "b.parquet"))
        org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
          new org.apache.hadoop.fs.Path(dir, copy), false, true, conf)
      val batchSchema = spark.read.parquet(dir.toString).schema
      val raw = spark.readStream.schema(batchSchema).parquet(dir.toString)
      val ev = normalizeTs(raw)
      val out = ev
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"), col("event_type"))
      val sink = s"graft_dd_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = out.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(sink)
    } finally {
      prevNanos match {
        case Some(v) => spark.conf.set(NanosKey, v)
        case None => spark.conf.unset(NanosKey)
      }
    }
  }

  /** Production sink shape tying ST3 to S7: a streaming frame upserted
    * into the partition-bounded incremental table via `foreachBatch` —
    * every micro-batch merges through `Materialize.tableIncremental`
    * (touched partitions only, keep-latest dedup, dynamic partition
    * overwrite), so the table is always deduplicated at rest and a
    * batch only ever rewrites the partitions it touches. Exactly-once
    * per batch comes from the checkpoint (batch ids are replayed, and
    * the merge is idempotent: re-merging the same rows dedups to the
    * same state). Returns the started query; callers pick the
    * trigger. */
  def streamIntoIncremental(events: DataFrame, name: String,
      keys: Seq[String], orderCol: String, partitionCol: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          graft.sources.Materialize.tableIncremental(
            batch.sparkSession, name, batch, keys, orderCol, partitionCol)
          ()
        }
      }
      .start()

  /** Streaming incremental near-dedup — the daily dedup run as a
    * stream. Each micro-batch of new docs is checked against the
    * corpus state at `stateDir` through the banded minhash index
    * (`TextDedup.minhashNearDupsIncremental`'s batch-frame form: no
    * existing×existing pair is ever generated); the verified pairs
    * are appended to `pairsDir` and the batch joins the state. Across
    * batches every unordered near-dup pair touching a new doc is
    * emitted exactly once — a cross-batch pair appears when its
    * later-arriving doc is processed, whatever the batch order. At
    * 100 TB the state is the persisted corpus + band index a daily
    * pipeline maintains; each batch pays |batch bucket rows| ×
    * |bucket peers|, never a corpus self-join. */
  def incrementalDedupStream(newDocs: DataFrame, stateDir: String,
      pairsDir: String, checkpoint: String, idCol: String,
      textCol: String, shingleN: Int, numHashes: Int, bands: Int,
      threshold: Double, trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    newDocs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
          batchId: Long) =>
        // two blind appends (pairs + state) → guard against replay
        if (!batch.isEmpty)
          oncePerBatch(batch.sparkSession, checkpoint, batchId) {
          val sp = batch.sparkSession
          val state = sp.read.parquet(stateDir)
          graft.operators.TextDedup.minhashNearDupsIncremental(
              state, batch, idCol, textCol, shingleN, numHashes, bands,
              threshold)
            .write.mode("append").parquet(pairsDir)
          graft.operators.InternalCache.release()
          batch.select(state.columns.map(org.apache.spark.sql.functions
            .col): _*).write.mode("append").parquet(stateDir)
          ()
        }
      }
      .start()

  // ------------------------------------------------- stateful sessions

  /** Input/output rows for the stateful sessionizer. Event times
    * travel as epoch MICROS longs (`us`) — `java.sql.Timestamp.getTime`
    * is millisecond-precision and would silently truncate the fixture's
    * microsecond event times. The original `ts` column rides along
    * because the event-time-timeout checker requires the WATERMARKED
    * timestamp attribute to reach the stateful operator's input. */
  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp,
      us: Long)
  final case class SessionOut(user_id: Long, session_id: Long,
      n_events: Long, start_us: Long, end_us: Long)
  /** Per-user state: open session + how many sessions closed so far. */
  final case class SessionState(sessionId: Long, n: Long,
      startUs: Long, lastUs: Long)

  /** Custom-state streaming sessionization
    * (`flatMapGroupsWithState`): the streaming twin of
    * `Marts.sessionize` — a session closes when the gap to the user's
    * previous event exceeds `gapMinutes`, emitted as it closes. The
    * still-open session is held as per-key state (bounded: ONE open
    * session per user) and flushed by event-time timeout once the
    * watermark passes its gap horizon — so state, like the output, is
    * bounded on an unbounded stream.
    *
    * Input must carry event-time column `ts`; `lateness` feeds the
    * watermark that both drops stragglers and drives timeouts. */
  def sessionizeStream(events: DataFrame, gapMinutes: Int,
      lateness: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode}
    import org.apache.spark.sql.{Encoders => E}
    implicit val se = E.product[SessionEvent]
    implicit val ss = E.product[SessionState]
    implicit val so = E.product[SessionOut]
    implicit val keyEnc = E.scalaLong
    val gapUs = gapMinutes * 60000000L
    val gapMs = gapMinutes * 60000L
    def flush(user: Long, st: SessionState): SessionOut =
      SessionOut(user, st.sessionId, st.n, st.startUs, st.lastUs)
    events
      .select(col("user_id").cast("long").as("user_id"), col("ts"),
        unix_micros(col("ts")).as("us"))
      .withWatermark("ts", lateness)
      .as[SessionEvent](se)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[SessionEvent],
            state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed the open session's horizon: emit + drop
            val out = state.getOption.map(flush(user, _))
            state.remove()
            out.iterator
          } else {
            // micro-batch rows must be folded in event-time order
            val sorted = rows.toSeq.sortBy(_.us)
            var st = state.getOption.orNull
            val closed = scala.collection.mutable.ArrayBuffer[SessionOut]()
            sorted.foreach { e =>
              val t = e.us
              st match {
                case null =>
                  st = SessionState(1L, 1L, t, t)
                case s if t - s.lastUs > gapUs =>
                  closed += flush(user, s)
                  st = SessionState(s.sessionId + 1, 1L, t, t)
                case s =>
                  st = s.copy(n = s.n + 1, lastUs = math.max(s.lastUs, t))
              }
            }
            if (st != null) {
              state.update(st)
              // timeouts are millisecond-granular; truncation only
              // shifts WHEN the flush fires, never the session content
              state.setTimeoutTimestamp(st.lastUs / 1000L + gapMs)
            }
            closed.iterator
          }
      }.toDF()
      .select(col("user_id"), col("session_id"), col("n_events"),
        timestamp_micros(col("start_us")).as("session_start"),
        timestamp_micros(col("end_us")).as("session_end"))
  }
}
