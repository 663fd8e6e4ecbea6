package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measures the incremental corpus build's value proposition: applying
  * a ~1% delta via [[graft.queries.CorpusBuild.runIncremental]] vs
  * rebuilding the corpus with [[graft.queries.CorpusBuild.run]].
  *
  * Honest accounting: the incremental path is delta-proportional in
  * its gates/dedup/decontamination, but the retro-decontamination
  * scan and the manifest prefix-sum repack remain corpus-proportional
  * (two cheap 2-3 column scans) — the measured ratio, not a claimed
  * asymptote, is the evidence. Prints one JSON line. */
object IncBench {
  def main(args: Array[String]): Unit = {
    val sfDir = Tool.sfDir("/root/testdata/sf0.1")
    val spark = Tool.start()
    if (sys.env.get("SPARK_GRAFT_INC_MODE").contains("warehouse")) {
      warehouse(spark, sfDir); spark.stop(); return
    }
    import graft.queries.CorpusBuild

    // SPARK_GRAFT_INC_MULT=k replicates the corpus k× with id-offset,
    // text-salted copies (salting keeps the replicas from collapsing
    // in the exact-dedup stage) — the lever that separates per-doc
    // cost from the pipeline's fixed action count
    val mult = sys.env.getOrElse("SPARK_GRAFT_INC_MULT", "1").toInt
    val src1 = spark.read.parquet(s"$sfDir/documents.parquet")
    val off = src1.agg(max(col("doc_id"))).head.getLong(0) + 1
    val src =
      if (mult <= 1) src1
      else (0 until mult).map { k =>
        src1.select((col("doc_id") + lit(k * off)).as("doc_id"),
          concat(col("text"), lit(s" r$k")).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
    val cut = src.stat.approxQuantile("doc_id", Array(0.99), 0.0).head.toLong
    val baseDir = "/tmp/graft_incbench_base"
    val fullDir = "/tmp/graft_incbench_full"
    for (d <- Seq(baseDir, fullDir))
      graft.sources.Ingest.deletePath(spark, d)
    src.filter(col("doc_id") < cut)
      .write.mode("overwrite").parquet(s"$baseDir/documents.parquet")
    src.write.mode("overwrite").parquet(s"$fullDir/documents.parquet")
    val delta = src.filter(col("doc_id") >= cut)
    val deltaRows = delta.count()
    val totalRows = src.count()

    import Tool.{r3, secs}
    graft.operators.InternalCache.release()
    val tBase = secs(CorpusBuild.run(spark, baseDir).count())
    graft.operators.InternalCache.release()
    val tInc = secs(CorpusBuild.runIncremental(spark, baseDir, delta).count())
    graft.operators.InternalCache.release()
    val tFull = secs(CorpusBuild.run(spark, fullDir).count())
    println(s"""{"metric":"incremental_corpus_build","rows_total":$totalRows,"rows_delta":$deltaRows,"sec_full_rebuild":${r3(tFull)},"sec_incremental_delta":${r3(tInc)},"sec_base_build":${r3(tBase)},"speedup_vs_rebuild":${r3(tFull / tInc)}}""")
    spark.stop()
  }

  /** The warehouse twin ([[graft.sources.WarehouseBuild]]): apply a
    * ~1% late-arrival delta of orders + events via `runIncremental` vs
    * rebuilding with `runOn`. `SPARK_GRAFT_INC_MULT=k` replicates
    * orders/events k× (order/event/user keys offset so chains and
    * months keep their per-key profile; customers fixed, so replicas
    * join the same dimension). */
  private def warehouse(spark: SparkSession, sfDir: String): Unit = {
    import graft.sources.WarehouseBuild
    val mult = sys.env.getOrElse("SPARK_GRAFT_INC_MULT", "1").toInt
    // bucket count must scale with the user population: the merge
    // rewrites ~affected_users/buckets of the dim (hash scatter), so
    // a fixed small bucket count turns any scattered delta into a
    // full-dim rewrite
    val dimBuckets =
      sys.env.getOrElse("SPARK_GRAFT_INC_DIMBUCKETS", "256").toInt
    def replicate(df: org.apache.spark.sql.DataFrame,
        keys: Seq[String]): org.apache.spark.sql.DataFrame = {
      if (mult <= 1) df
      else {
        val offs = keys.map(k =>
          k -> (df.agg(max(col(k))).head.getLong(0) + 1)).toMap
        (0 until mult).map { r =>
          keys.foldLeft(df) { (d, k) =>
            d.withColumn(k, (col(k) + lit(r * offs(k)))
              .cast(df.schema(k).dataType))
          }
        }.reduce(_ unionByName _)
      }
    }
    val orders = replicate(
      spark.read.parquet(s"$sfDir/orders.parquet"), Seq("o_orderkey"))
    val events = replicate(
      spark.read.parquet(s"$sfDir/events.parquet"),
      Seq("event_id", "user_id"))
    val customer = spark.read.parquet(s"$sfDir/customer.parquet")
    // the REALISTIC late-arrival shape: the delta is date-localized
    // (the newest slice of each stream), not key-random — that is what
    // makes the month-partition append/recompute and the affected-user
    // dim merge touch slices instead of everything. Orders: the last
    // ~30 days (1-2 of ~80 months); events: the last ~2 minutes of the
    // log (a bounded set of affected users).
    val oCut = orders.agg(expr("date_sub(max(o_orderdate), 30)")).head.get(0)
    val eCut = events.agg(expr("max(ts) - INTERVAL 2 MINUTES")).head.get(0)
    // diagnostic: SPARK_GRAFT_INC_SKIP=events|orders empties one delta
    // stream so the two incremental phases can be costed separately
    val skip = sys.env.getOrElse("SPARK_GRAFT_INC_SKIP", "")
    // SPARK_GRAFT_INC_USERS=n thins the event delta to the n smallest
    // affected user ids — the VERSION-SPARSE late-arrival shape (few
    // users → few touched buckets) that is the bucket-scoped merge's
    // win condition; 0 = keep all (the r8 scattered shape)
    val userCap = sys.env.getOrElse("SPARK_GRAFT_INC_USERS", "0").toInt
    val (oBase, oDelta0) = (orders.filter(col("o_orderdate") < lit(oCut)),
      orders.filter(col("o_orderdate") >= lit(oCut)))
    val lateAll = events.filter(col("ts") >= lit(eCut))
    val eDeltaAll =
      if (userCap <= 0) lateAll
      else {
        // bounded collect: ≤ userCap ids (a bench knob, not data)
        val keep = lateAll.select(col("user_id")).distinct()
          .orderBy(col("user_id")).limit(userCap)
          .collect().map(_.getLong(0)).toSeq
        lateAll.filter(col("user_id").isin(keep: _*))
      }
    // the base keeps everything outside the DELTA (not outside the
    // cut): thinned-away late events stay in the base so base ∪ delta
    // is always the full log
    val eBase = events.join(eDeltaAll.select(col("event_id")),
      Seq("event_id"), "left_anti")
    val oDelta = if (skip == "orders") oDelta0.filter(lit(false)) else oDelta0
    val eDelta = if (skip == "events") eDeltaAll.filter(lit(false))
      else eDeltaAll
    val totalRows = orders.count() + events.count()
    val deltaRows = oDelta.count() + eDelta.count()
    val affectedUsers = eDelta.select("user_id").distinct().count()

    import Tool.{r3, secs}
    graft.operators.InternalCache.release()
    val tBase = secs(WarehouseBuild.runOn(spark, oBase, customer, eBase,
      "wib", dimBuckets = dimBuckets).count())
    graft.operators.InternalCache.release()
    val tInc = secs(WarehouseBuild.runIncremental(spark, "wib", oDelta,
      eDelta, dimBuckets = dimBuckets).count())
    graft.operators.InternalCache.release()
    val tFull = secs(WarehouseBuild.runOn(spark, orders, customer, events,
      "wif", dimBuckets = dimBuckets).count())
    println(s"""{"metric":"incremental_warehouse_build","rows_total":$totalRows,"rows_delta":$deltaRows,"affected_users":$affectedUsers,"sec_full_rebuild":${r3(tFull)},"sec_incremental_delta":${r3(tInc)},"sec_base_build":${r3(tBase)},"speedup_vs_rebuild":${r3(tFull / tInc)}}""")
  }
}
