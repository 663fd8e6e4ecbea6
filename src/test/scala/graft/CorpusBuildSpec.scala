package graft

import graft.queries.CorpusBuild

/** The composed corpus-curation lifecycle (q245): beyond the oracle's
  * value-for-value check, the report must be INTERNALLY consistent —
  * the gate counters partition the input scan, the curated count
  * reconciles against the dedup/decontamination removals, the shard
  * manifest clears the WAP gate — and the whole build must be
  * deterministic under replay (every stage is a pure function of the
  * input, so a re-run publishes byte-identical metrics). */
class CorpusBuildSpec extends SparkSpec {

  private def report(dir: String): Map[(String, String, String), Long] =
    rows(CorpusBuild.run(spark, dir))
      .map(r => ((r.getString(0), r.getString(1), r.getString(2)),
        r.getLong(3))).toMap

  test("the composed curation report is internally consistent and " +
      "published") {
    val rep = report("/root/testdata/sf0.001")
    // the three observe counters + the dedup survivor count partition
    // the single input scan exactly
    assert(rep(("quality", "corpus", "rows_in")) ==
      rep(("quality", "corpus", "dropped_low_quality")) +
      rep(("langid", "corpus", "dropped_non_en")) +
      rep(("dedup", "corpus", "dup_rows_removed")) +
      rep(("dedup", "corpus", "rows_kept")))
    // every gate is live on the fixture — the near-dedup stage
    // included (non-vacuous denominator: the counter must move)
    assert(rep(("quality", "corpus", "dropped_low_quality")) > 0)
    assert(rep(("langid", "corpus", "dropped_non_en")) > 0)
    assert(rep(("dedup", "corpus", "near_dup_removed")) > 0)
    assert(rep(("decontam", "corpus", "eval_docs_removed")) > 0)
    assert(rep(("decontam", "corpus", "contaminated_removed")) > 0)
    // the curated count reconciles against the removals
    assert(rep(("corpus", "curated", "rows_final")) ==
      rep(("dedup", "corpus", "rows_kept")) -
      rep(("decontam", "corpus", "eval_docs_removed")) -
      rep(("dedup", "corpus", "near_dup_removed")) -
      rep(("decontam", "corpus", "contaminated_removed")))
    // greedy exclusive-prefix packing: a doc may straddle its shard's
    // tail, so n_shards is within one of the ideal token-budget count
    val shards = rep(("shards", "manifest", "n_shards"))
    val total = rep(("shards", "manifest", "total_tokens"))
    assert(shards >= 1 && shards <= total / 4096L + 1)
    assert(rep(("shards", "manifest", "max_shard_tokens")) <= total)
    // the manifest cleared the WAP audit
    assert(rep(("shards", "manifest", "published")) == 1)
    assert(rep(("shards", "manifest", "audit_violations")) == 0)
  }

  test("an EMPTY corpus builds a zero report, not a crash") {
    // the q224-class degenerate contract: every aggregate in the chain
    // must survive zero input rows — observe counters coalesce to 0
    // (sum over an empty scan is NULL), the manifest read-back
    // coalesces, and the WAP publish still promotes an empty manifest
    import org.apache.spark.sql.types._
    val dir = "/tmp/graft_test_empty_corpus"
    graft.sources.Ingest.deletePath(spark, dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rep = report(dir)
    assert(rep.size == 14)
    assert(rep(("dedup", "corpus", "near_dup_removed")) == 0)
    assert(rep(("quality", "corpus", "rows_in")) == 0)
    assert(rep(("corpus", "curated", "rows_final")) == 0)
    assert(rep(("shards", "manifest", "n_shards")) == 0)
    assert(rep(("shards", "manifest", "total_tokens")) == 0)
    assert(rep(("shards", "manifest", "published")) == 1)
    assert(rep(("shards", "manifest", "audit_violations")) == 0)
  }

  test("incremental continuation converges to the full rebuild, and " +
      "replaying the delta is a no-op") {
    import org.apache.spark.sql.functions._
    val probeEvery = 20L // Llm.DcProbeEvery
    val src = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val ids = src.select("doc_id").collect().map(_.getLong(0)).sorted
    val cut = ids(ids.length / 2)
    val maxId = ids.last
    val base = src.filter(col("doc_id") < cut)
    // a base doc that certainly survives into the curated corpus: the
    // incremental run must drop a later duplicate of it and must
    // retroactively remove it when its text becomes an eval probe
    val curatedBaseText = {
      val dirB = "/tmp/graft_test_inc_base"
      graft.sources.Ingest.deletePath(spark, dirB)
      base.write.mode("overwrite").parquet(s"$dirB/documents.parquet")
      CorpusBuild.run(spark, dirB)
      val h = math.abs(dirB.hashCode).toString
      spark.table(s"e2e_corpus_curated_$h")
        .orderBy(col("doc_id")).select("text").head().getString(0)
    }
    val dirB = "/tmp/graft_test_inc_base"
    val hB = math.abs(dirB.hashCode).toString
    // delta = natural upper half + two crafted rows (append-only ids):
    //  - a non-eval duplicate of a curated base doc (dedup must drop)
    //  - a new EVAL doc duplicating another curated base doc (retro
    //    decontamination must remove the base doc)
    val retroTarget = spark.table(s"e2e_corpus_curated_$hB")
      .orderBy(col("doc_id").desc).select("text").head().getString(0)
    val dupId = (maxId + 1) + (if ((maxId + 1) % probeEvery == 0) 1 else 0)
    val evalId = ((maxId / probeEvery) + 2) * probeEvery
    import spark.implicits._
    // ...and a NEAR-duplicate (same text, short stopword tail): the
    // incremental near-dedup must drop it against the published copy
    val nearText = curatedBaseText + " and then some more of it"
    val nearId = if ((dupId + 1) % probeEvery == 0) dupId + 2 else dupId + 1
    val crafted = Seq(
      (dupId, curatedBaseText, "en", "crafted", curatedBaseText.length.toLong),
      (nearId, nearText, "en", "crafted", nearText.length.toLong),
      (evalId, retroTarget, "en", "crafted", retroTarget.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val delta = src.filter(col("doc_id") >= cut)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
      .unionByName(crafted)

    val rep1 = rows(CorpusBuild.runIncremental(spark, dirB, delta))
      .map(r => ((r.getString(0), r.getString(1), r.getString(2)),
        r.getLong(3))).toMap
    assert(rep1(("decontam", "corpus", "retro_contaminated_removed")) >= 1,
      rep1.toString)
    assert(rep1(("dedup", "delta", "near_dup_removed")) >= 1,
      rep1.toString)
    assert(rep1(("shards", "manifest", "published")) == 1)
    assert(rep1(("shards", "manifest", "audit_violations")) == 0)

    // full rebuild over base ∪ delta must publish the same corpus,
    // probe set, and manifest
    val dirF = "/tmp/graft_test_inc_full"
    graft.sources.Ingest.deletePath(spark, dirF)
    base.select(delta.columns.map(col): _*).unionByName(delta)
      .write.mode("overwrite").parquet(s"$dirF/documents.parquet")
    CorpusBuild.run(spark, dirF)
    val hF = math.abs(dirF.hashCode).toString
    def snap(h: String, t: String): Set[Seq[Any]] =
      spark.table(s"e2e_corpus_${t}_$h").collect()
        .map(_.toSeq).toSet
    for (t <- Seq("curated", "probes", "manifest", "bands", "removed"))
      assert(snap(hB, t) == snap(hF, t), s"$t diverged from full rebuild")

    // replay: applying the identical delta again changes nothing
    val before =
      Seq("curated", "probes", "manifest", "bands", "removed")
        .map(snap(hB, _))
    val rep2 = rows(CorpusBuild.runIncremental(spark, dirB, delta))
      .map(r => ((r.getString(0), r.getString(1), r.getString(2)),
        r.getLong(3))).toMap
    assert(rep2(("corpus", "curated", "rows_added")) == 0, rep2.toString)
    assert(rep2(("decontam", "delta", "eval_docs_added")) == 0)
    val after =
      Seq("curated", "probes", "manifest", "bands", "removed")
        .map(snap(hB, _))
    assert(before == after, "replay mutated the published state")
  }

  test("a fully-duplicate delta stages ZERO rows and still reports " +
      "(the AQE empty-prune crash window)") {
    // the r12 flake: when every delta doc is absorbed by the hash
    // anti-join, zero rows reach the staging write, AQE's
    // empty-relation propagation prunes the CollectMetrics nodes, and
    // a raw Observation.get(k) dies with "key not found: rows_kept".
    // This case FORCES that shape (the convergence test's replay leg
    // only sometimes plans into it): a delta of nothing but exact
    // duplicates of curated docs, under fresh append-only ids.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val probeEvery = 20L // Llm.DcProbeEvery
    val src = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val dirD = "/tmp/graft_test_inc_dupdelta"
    graft.sources.Ingest.deletePath(spark, dirD)
    src.write.mode("overwrite").parquet(s"$dirD/documents.parquet")
    CorpusBuild.run(spark, dirD)
    val h = math.abs(dirD.hashCode).toString
    val maxId = src.agg(max(col("doc_id"))).head().getLong(0)
    // delta = exact copies of the first 5 curated docs, ids appended
    // past the base range and kept off the eval grid (non-vacuous: the
    // delta itself is non-empty, every row is a duplicate)
    val dupTexts = spark.table(s"e2e_corpus_curated_$h")
      .orderBy(col("doc_id")).select("text").limit(5)
      .collect().map(_.getString(0))
    assert(dupTexts.length == 5)
    val delta = dupTexts.zipWithIndex.map { case (t, i) =>
      val id0 = maxId + 1 + i * 2
      val id = if (id0 % probeEvery == 0) id0 + 1 else id0
      (id, t, "en", "crafted", t.length.toLong)
    }.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
    def snap(t: String): Set[Seq[Any]] =
      spark.table(s"e2e_corpus_${t}_$h").collect().map(_.toSeq).toSet
    val before =
      Seq("curated", "probes", "manifest", "bands", "removed")
        .map(snap)
    val rep = rows(CorpusBuild.runIncremental(spark, dirD, delta))
      .map(r => ((r.getString(0), r.getString(1), r.getString(2)),
        r.getLong(3))).toMap
    assert(rep(("quality", "delta", "rows_in")) == 5L)
    assert(rep(("dedup", "delta", "rows_kept")) == 0L)
    assert(rep(("corpus", "curated", "rows_added")) == 0L)
    assert(rep(("shards", "manifest", "published")) == 1L)
    val after =
      Seq("curated", "probes", "manifest", "bands", "removed")
        .map(snap)
    assert(before == after, "an all-duplicate delta mutated state")
  }

  test("continuous curation: landed files stream through the " +
      "incremental build and match the full rebuild") {
    import org.apache.spark.sql.functions._
    val src = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val ids = src.select("doc_id").collect().map(_.getLong(0)).sorted
    val (cut1, cut2) = (ids(ids.length / 2), ids(3 * ids.length / 4))
    val dirB = "/tmp/graft_test_stream_corpus_base"
    graft.sources.Ingest.deletePath(spark, dirB)
    src.filter(col("doc_id") < cut1)
      .write.mode("overwrite").parquet(s"$dirB/documents.parquet")
    CorpusBuild.run(spark, dirB)

    // stage two delta FILES in id order — with maxFilesPerTrigger=1
    // each is its own micro-batch, so two sequential incremental
    // applies are exercised in one availableNow drain
    val landing = "/tmp/graft_test_stream_corpus_landing"
    val chk = "/tmp/graft_test_stream_corpus_chk"
    for (d <- Seq(landing, chk))
      graft.sources.Ingest.deletePath(spark, d)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(landing).getFileSystem(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(landing))
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"/tmp/graft_test_stream_corpus_tmp_$name"
      graft.sources.Ingest.deletePath(spark, tmp)
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$tmp/part-*")).head
      org.apache.hadoop.fs.FileUtil.copy(fs, part.getPath, fs,
        new org.apache.hadoop.fs.Path(landing, s"$name.parquet"),
        false, true, conf)
    }
    land(src.filter(col("doc_id") >= cut1 && col("doc_id") < cut2), "d1")
    land(src.filter(col("doc_id") >= cut2), "d2")
    CorpusBuild.streamIncremental(spark, dirB, landing, chk)

    val dirF = "/tmp/graft_test_stream_corpus_full"
    graft.sources.Ingest.deletePath(spark, dirF)
    src.write.mode("overwrite").parquet(s"$dirF/documents.parquet")
    CorpusBuild.run(spark, dirF)
    val (hB, hF) =
      (math.abs(dirB.hashCode).toString, math.abs(dirF.hashCode).toString)
    def snap(h: String, t: String): Set[Seq[Any]] =
      spark.table(s"e2e_corpus_${t}_$h").collect().map(_.toSeq).toSet
    for (t <- Seq("curated", "probes", "manifest", "bands", "removed"))
      assert(snap(hB, t) == snap(hF, t), s"$t diverged from full rebuild")

    // restart from the same checkpoint with no new files: offsets
    // carry, nothing refolds, the published state is untouched
    val before =
      Seq("curated", "probes", "manifest", "bands", "removed")
        .map(snap(hB, _))
    CorpusBuild.streamIncremental(spark, dirB, landing, chk)
    val after =
      Seq("curated", "probes", "manifest", "bands", "removed")
        .map(snap(hB, _))
    assert(before == after, "checkpoint restart mutated published state")
  }

  test("erasure deletes from every published artifact, repacks the " +
      "manifest, replays as a no-op, and never resurrects a dedup loser") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val probeEvery = 20L // Llm.DcProbeEvery
    val src = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val ids = src.select("doc_id").collect().map(_.getLong(0)).sorted
    val cut = ids(ids.length / 2)
    val maxId = ids.last
    val dirE = "/tmp/graft_test_erase"
    graft.sources.Ingest.deletePath(spark, dirE)
    // base + a crafted NON-EVAL duplicate of a doc that will survive
    // curation: after its winner is erased, the loser must NOT come back
    val base = src.filter(col("doc_id") < cut)
    base.write.mode("overwrite").parquet(s"$dirE/documents.parquet")
    CorpusBuild.run(spark, dirE)
    val h = math.abs(dirE.hashCode).toString
    val winner = spark.table(s"e2e_corpus_curated_$h")
      .orderBy(col("doc_id")).select("doc_id", "text").head()
    val (wId, wText) = (winner.getLong(0), winner.getString(1))
    val dupId = (maxId + 1) + (if ((maxId + 1) % probeEvery == 0) 1 else 0)
    graft.sources.Ingest.deletePath(spark, dirE)
    base.unionByName(Seq((dupId, wText, "en", "crafted",
        wText.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .write.mode("overwrite").parquet(s"$dirE/documents.parquet")
    CorpusBuild.run(spark, dirE)

    def snap(t: String): Set[Seq[Any]] =
      spark.table(s"e2e_corpus_${t}_$h").collect().map(_.toSeq).toSet
    val (cur0, grams0, probes0) = (snap("curated"), snap("grams"),
      snap("probes"))
    val (bands0, removed0) = (snap("bands"), snap("removed"))
    // keep-first admitted the winner, not the crafted duplicate
    assert(cur0.exists(_.head == wId) && !cur0.exists(_.head == dupId))
    val probeId = probes0.head.head.asInstanceOf[Long]
    val wGrams = grams0.count(_.head == wId)
    assert(wGrams > 0)

    val erase = Seq(wId, probeId).toDF("doc_id")
    def repOf(df: org.apache.spark.sql.DataFrame) = rows(df)
      .map(r => ((r.getString(0), r.getString(1), r.getString(2)),
        r.getLong(3))).toMap
    val rep = repOf(CorpusBuild.eraseDocs(spark, dirE, erase))
    assert(rep(("erase", "curated", "docs_erased")) == 1)
    assert(rep(("erase", "grams", "rows_erased")) == wGrams)
    assert(rep(("erase", "probes", "docs_erased")) == 1)
    // the winner's band fingerprints leave too; it was curated, not
    // in the removed archive, so the archive count is the probe's own
    // presence there (eval docs never enter the archive) = 0
    assert(rep(("erase", "bands", "rows_erased")) ==
      bands0.count(_.head == wId).toLong)
    assert(rep(("erase", "removed", "docs_erased")) == 0)
    assert(rep(("shards", "manifest", "published")) == 1)
    assert(rep(("shards", "manifest", "audit_violations")) == 0)
    // every artifact dropped exactly the erased rows; the dedup loser
    // is NOT resurrected (erasure forgets, it does not replay history)
    assert(snap("curated") == cur0.filterNot(_.head == wId))
    assert(snap("grams") == grams0.filterNot(_.head == wId))
    assert(snap("probes") == probes0.filterNot(_.head == probeId))
    assert(snap("bands") == bands0.filterNot(_.head == wId))
    assert(snap("removed") == removed0)
    assert(!snap("curated").exists(_.head == dupId))
    // the repacked manifest accounts the remaining tokens exactly
    val remTok = spark.table(s"e2e_corpus_curated_$h")
      .agg(coalesce(sum(col("tok")), lit(0L))).head().getLong(0)
    assert(rep(("shards", "manifest", "total_tokens")) == remTok)

    // replay: the same request again deletes nothing and moves nothing
    val (cur1, grams1, probes1) = (snap("curated"), snap("grams"),
      snap("probes"))
    val rep2 = repOf(CorpusBuild.eraseDocs(spark, dirE, erase))
    assert(rep2(("erase", "curated", "docs_erased")) == 0)
    assert(rep2(("erase", "grams", "rows_erased")) == 0)
    assert(rep2(("erase", "probes", "docs_erased")) == 0)
    assert(rep2(("erase", "bands", "rows_erased")) == 0)
    assert((snap("curated"), snap("grams"), snap("probes")) ==
      ((cur1, grams1, probes1)))

    // ids no table holds — one inside the tables' partition, one whose
    // partition no table has — report zero and change nothing
    val tables = Seq("curated", "grams", "probes", "bands", "removed")
    val before = tables.map(snap)
    val ghost = (maxId + 2 to maxId + 40)
      .find(i => !before.exists(_.exists(_.head == i))).get
    val farId = CorpusBuild.curatedPartSpan * 1000 + 7
    val rep3 = repOf(CorpusBuild.eraseDocs(spark, dirE,
      Seq(ghost, farId).toDF("doc_id")))
    rep3.collect { case (k @ ("erase", _, _), v) => assert(v == 0, k) }
    assert(rep3(("shards", "manifest", "published")) == 1)
    assert(tables.map(snap) == before)

    // a request that empties a table's partition: every archived doc
    // leaves the removed archive, whose one slice is then dropped —
    // nothing stale reads back, and no other artifact loses a doc it
    // did not hold
    val archived = snap("removed").map(_.head.asInstanceOf[Long]).toSeq
    assert(archived.nonEmpty)
    val bands2 = snap("bands")
    val rep4 = repOf(CorpusBuild.eraseDocs(spark, dirE,
      archived.toDF("doc_id")))
    assert(rep4(("erase", "removed", "docs_erased")) == archived.size)
    assert(rep4(("erase", "curated", "docs_erased")) == 0)
    assert(snap("removed").isEmpty)
    assert(spark.sql(s"SHOW PARTITIONS e2e_corpus_removed_$h").isEmpty)
    assert(snap("bands") ==
      bands2.filterNot(r => archived.contains(r.head)))
    assert(snap("curated") == before.head)
  }

  test("erasure over many slices rewrites only the slices that held a " +
      "requested doc, writes nothing on replay, and addresses the " +
      "slices the tables were built with") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dirP = "/tmp/graft_test_erase_slices"
    graft.sources.Ingest.deletePath(spark, dirP)
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .write.mode("overwrite").parquet(s"$dirP/documents.parquet")
    // built over 100-id slices; the erasure runs under the default span,
    // which would put every one of these ids in slice 0
    val span = 100L
    sys.props("graft.corpus.partSpan") = span.toString
    try CorpusBuild.run(spark, dirP)
    finally { sys.props.remove("graft.corpus.partSpan"); () }
    val h = math.abs(dirP.hashCode).toString
    val tables = Seq("curated", "grams", "bands", "removed")
    def t(n: String) = spark.table(s"e2e_corpus_${n}_$h")
    // slice → its data files (a rewritten slice gets new files)
    def files(n: String): Map[Long, Set[String]] =
      t(n).select(col("pt"), input_file_name()).distinct().collect()
        .groupBy(_.getLong(0)).map { case (p, rs) =>
          p -> rs.map(_.getString(1)).toSet }
    def ids(n: String) =
      t(n).select("doc_id").collect().map(_.getLong(0)).toSet
    val files0 = tables.map(n => n -> files(n)).toMap
    assert(files0("curated").size > 2)
    val cur0 = ids("curated")
    // a curated doc of the LAST slice, and an id of slice 1 that none
    // of the four tables holds
    val doc = cur0.max
    val docPt = doc / span
    assert(docPt > 1)
    val held = tables.flatMap(ids).toSet
    val ghost = (span until 2 * span).find(i => !held.contains(i)).get
    val inProbes = ids("probes").contains(ghost)
    val req = Seq(doc, ghost).toDF("doc_id")
    def repOf(df: org.apache.spark.sql.DataFrame) = rows(df)
      .map(r => ((r.getString(0), r.getString(1), r.getString(2)),
        r.getLong(3))).toMap
    val rep = repOf(CorpusBuild.eraseDocs(spark, dirP, req))
    assert(rep(("erase", "curated", "docs_erased")) == 1)
    assert(rep(("erase", "curated", "partitions_rewritten")) == 1)
    assert(rep(("erase", "probes", "docs_erased")) ==
      (if (inProbes) 1L else 0L))
    assert(ids("curated") == cur0 - doc)
    val files1 = tables.map(n => n -> files(n)).toMap
    // only the erased doc's slice was rewritten, and only where it
    // held rows; slice 1 (the ghost's) kept its files everywhere
    tables.foreach { n =>
      files0(n).foreach { case (p, fs) =>
        if (p != docPt) assert(files1(n).get(p).contains(fs), s"$n pt=$p")
      }
    }
    assert(files1("curated").get(docPt) != files0("curated").get(docPt))
    // replay: nothing erased, nothing written
    val rep2 = repOf(CorpusBuild.eraseDocs(spark, dirP, req))
    rep2.collect { case (k @ ("erase", _, _), v) => assert(v == 0, k) }
    assert(tables.map(n => n -> files(n)).toMap == files1)
  }

  test("the curation build is deterministic under replay") {
    // every stage is a pure function of the input (content hashes,
    // argmax gates, window keyed on unique doc_id), so a second run —
    // overwriting the same staged/curated/manifest tables — must
    // publish the identical report
    val a = report("/root/testdata/sf0.001")
    val b = report("/root/testdata/sf0.001")
    assert(a == b)
  }
}
