package graft

import java.nio.file.{Files, Paths}

/** Benchmark main. Methodology (from r4 on):
  *
  *  - `reps` full SWEEPS over all queries in sorted-name order; the
  *    per-query number is the MEDIAN across sweeps (tames the ±40%
  *    wall-clock swing of a shared machine) and the total is the sum of
  *    medians.
  *  - Between queries, operator-internal caches are released and the
  *    catalog cache cleared — every query starts cold except documented
  *    SHARED materialized intermediates ([[graft.operators.SharedFrames]]:
  *    the minhash pair graph feeding q23+q48, the SimHash removal set
  *    feeding q54+q57), which live for one sweep — exactly the lifetime
  *    a real pipeline run gives a materialized pair table. Shared frames
  *    are dropped at sweep end, so every sweep rebuilds them (and the
  *    building query pays for them) from cold.
  *  - Evidence: the COMPLETE results JSON (full query names) is written
  *    to `target/bench.json`; stdout gets ONE compact line (total
  *    first, qNN-prefix keys, 3-decimal values) small enough that a
  *    tail-limited log capture cannot truncate it — r3's full-name line
  *    exceeded the driver's capture window and beheaded the artifact.
  *
  * `SPARK_GRAFT_ONLY=<q,…>` restricts the sweep (isolated medians);
  * `SPARK_GRAFT_BENCH_REPS` sets the sweep count (default 3).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = Tool.sfDir("/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = Tool.start()
    // q111 joins the warm-up because the iterative-join codegen of the
    // graph family showed residual first-run outliers (r6: 92.7 s vs
    // 21 s median; r7 run B: 31 s vs 8 s)
    Tool.warm(spark, sfDir,
      Seq("q1_pricing_summary", "q12_daily_anomalies", "q111_pagerank"))

    val names = Tool.queryNames
    val times = scala.collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    // a throwing query must surface as a recorded ERROR, never as its
    // ~0.1 s error-exit masquerading as a timing (that is exactly how
    // round 6's six broken queries hid inside a plausible-looking sweep)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    for (_ <- 1 to reps) {
      for (name <- names) {
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true } catch { case e: Throwable =>
            errors(name) = s"${e.getClass.getSimpleName}: " +
              Tool.message(e).take(200)
            false
          }
        val elapsed = (System.nanoTime() - t0) / 1e9
        // operator-internal frames die with the query; shared frames
        // (built inside whichever query first asked) live to sweep end —
        // so NO clearCache here: it would evict them (as it silently did
        // before r5, making every consumer rebuild its "shared" frame)
        graft.operators.InternalCache.release()
        // a 70+-query sweep accumulates generated-class + broadcast
        // debris; collecting between queries keeps late queries from
        // paying the GC bill of earlier ones (observed up to 2.5x)
        System.gc()
        // error-exit elapsed must NOT become a timing: only successful
        // runs enter the medians, so an all-reps-failed query appears in
        // `errors` ONLY (absent from `queries` and the total) instead of
        // contributing a bogus ~0.1 s median
        if (ok) times(name) = elapsed :: times(name)
      }
      Tool.cold(spark)
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    import Tool.r3
    // queries with zero successful runs live in `errors` only
    val medians = names.filter(times(_).nonEmpty)
      .map(n => n -> median(times(n)))
    val total = medians.map(_._2).sum
    val sfShort = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).getOrElse(sfDir)

    // complete evidence file: full names, every sweep's raw timing
    val fullQs = medians.map { case (k, v) =>
      s"""    "$k": {"median": ${r3(v)}, "runs": [${
        times(k).reverse.map(r3).mkString(", ")}]}"""
    }.mkString("{\n", ",\n", "\n  }")
    val errJson = errors
      .map { case (k, v) => s"""    "$k": ${Tool.json(v)}""" }
      .mkString("{\n", ",\n", "\n  }")
    val fullJson =
      s"""{
         |  "metric": "total",
         |  "value": ${r3(total)},
         |  "unit": "sec",
         |  "sf": "$sfShort",
         |  "reps": $reps,
         |  "stat": "median_per_query_across_sorted_sweeps",
         |  "errors": ${if (errors.isEmpty) "{}" else errJson},
         |  "queries": $fullQs
         |}""".stripMargin
    Files.createDirectories(Paths.get("target"))
    Files.writeString(Paths.get("target/bench.json"), fullJson)

    // stdout, two lines. The FINAL line is the one a tail-limited log
    // capture must be able to parse (r8's 250-entry map overflowed the
    // driver's tail buffer mid-line → `parsed: null`), so it carries only
    // the bounded summary: total, count, error count, top-10 medians.
    // The complete per-query map goes on the PRECEDING line (best-effort
    // for humans) and, authoritatively, in target/bench.json.
    val qsAll = medians.map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + r3(v)
    }.mkString("{", ",", "}")
    val top10 = medians.sortBy(-_._2).take(10).map { case (k, v) =>
      "\"" + k + "\":" + r3(v)
    }.mkString("{", ",", "}")
    // stop FIRST so no Spark log line can land after the summary; the
    // final stdout line must be the bare compact JSON (build.sbt's
    // StdoutOutput + showSuccess:=false keep sbt from wrapping or
    // trailing it). A throwing shutdown (hook races) must not discard
    // a completed sweep — the summary still prints.
    try spark.stop()
    catch { case e: Throwable =>
      System.err.println(s"spark.stop() failed; results intact: $e") }
    println(s"""{"metric":"total_allqueries","value":${r3(total)},"unit":"sec","queries":$qsAll}""")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","sf":$sfShort,"reps":$reps,"n":${medians.size},"stat":"median_per_query_across_sorted_sweeps","errors":${errors.size},"full":"target/bench.json","queries":$top10}""")
  }
}
