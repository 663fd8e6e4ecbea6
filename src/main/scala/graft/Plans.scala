package graft

/** Plan dev tools: one registry loop over one session, three modes.
  *
  *  - `audit`: formatted physical plans for plan-quality audits
  *    (pushdown, pruning, join strategy, codegen spans).
  *  - `time`: DRIVER-SIDE planning per query — DataFrame construction
  *    + analysis, then optimization + physical planning
  *    (`executedPlan`), with no execution. JobProfile showed q53-family
  *    walls dominated by a driver-side gap (10.3 s of 19.8 s on q53);
  *    this mode attributes it. Planning happens once per query here vs
  *    once per ACTION in a real run, so the numbers are a lower bound.
  *  - `lint`: scale red flags in each physical plan — windows with no
  *    partition spec (everything lands in one task) and cartesian
  *    products.
  *
  * Usage: runMain graft.Plans audit|time|lint <sfDir> [query…]
  * (sfDir defaults to sf0.001; no queries means every registered one
  * that SPARK_GRAFT_ONLY keeps). */
object Plans {

  /** Global windows accepted because their input frame is BOUNDED BY
    * CONTRACT — the same convention as the repo's bounded `.collect()`
    * calls: the window runs over a post-aggregation frame whose row
    * count is fixed by a constant, a value domain, or calendar time,
    * never by the dataset size. Anything NOT listed here that plans a
    * global window is a flag. */
  private val boundedWindowByContract = Map(
    "q206_conversion_hazard" ->
      "per-day frame, bounded by the calendar span",
    "q216_bootstrap_ci" ->
      "B=40 bootstrap replicate means (constant)",
    "q222_ks_drift" ->
      "distinct n_chars values (value-domain-bounded, q199 rationale)",
    "q225_cusum_changepoint" ->
      "per-day frame, bounded by the calendar span",
    "q240_heaps_fit" ->
      "per-day vocabulary frame, bounded by the calendar span")

  /** Lint findings for query `n`'s executed plan; a contract-bounded
    * global window prints a NOTE instead. */
  private def lint(n: String, plan: String): Seq[String] = {
    // a Window line prints `[fns], [partSpec], [orderSpec]`;
    // partitioned-but-unordered windows print two groups with NO
    // sort direction in the second — a true global window prints
    // one group, or two where the second is an orderSpec
    val globalWindow = plan.linesIterator.exists { l =>
      val t = l.replaceFirst("^[-+:\\s]*", "")
      t.startsWith("Window ") &&
        !t.matches(".*\\], \\[.*\\], \\[.*") &&
        (!t.matches(".*\\], \\[.*") ||
          t.replaceFirst(".*\\], \\[", "").matches(".*(ASC|DESC).*"))
    }
    val windowMsg =
      if (!globalWindow) Nil
      else boundedWindowByContract.get(n) match {
        case Some(bound) =>
          println(s"NOTE $n: global window, bounded by contract ($bound)")
          Nil
        case None => Seq("GLOBAL window (no partition)")
      }
    (if (plan.contains("CartesianProduct")) Seq("cartesian product")
     else Nil) ++ windowMsg
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    require(Set("audit", "time", "lint")(mode),
      "usage: graft.Plans audit|time|lint <sfDir> [query…]")
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 2) args.drop(2).toSeq else Tool.queryNames
    val spark = Tool.start(level = "ERROR")
    def query(n: String) = SparkEntry.queries(n)(spark, dir)
    var flags = 0
    if (mode == "time") {
      // JIT/class-loading of the rule stack lands on no query
      Tool.warm(spark, dir, Seq("q1_pricing_summary"),
        _.queryExecution.executedPlan)
      println(f"${"query"}%-42s ${"build+analyze"}%14s ${"optimize+plan"}%14s")
    }
    names.foreach { n =>
      if (mode == "audit") println(s"==== $n ====")
      try mode match {
        case "audit" => query(n).explain("formatted")
        case "time" =>
          val t0 = System.nanoTime()
          val df = query(n)
          df.queryExecution.analyzed
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan
          val t2 = System.nanoTime()
          println(f"$n%-42s ${(t1 - t0) / 1e9}%13.3fs ${(t2 - t1) / 1e9}%13.3fs")
        case "lint" =>
          val msgs = lint(n, query(n).queryExecution.executedPlan.toString)
          if (msgs.nonEmpty) {
            flags += 1
            println(s"FLAG $n: ${msgs.mkString("; ")}")
          }
      } catch { case e: Throwable => mode match {
        case "audit" => println(s"ERR ${e.getMessage}")
        case "time" => println(f"$n%-42s ERR ${e.getClass.getSimpleName}")
        case "lint" => println(s"ERR $n ${Tool.message(e).take(120)}")
      } }
    }
    if (mode == "lint") println(s"done, $flags flagged")
    spark.stop()
  }
}
