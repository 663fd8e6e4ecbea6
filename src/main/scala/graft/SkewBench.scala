package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Skew

/** Skew-mitigation proof harness (VERDICT r7 #6b): measure, on the
  * reference's org-skew shape (top keys carry ~50% of order volume,
  * reference `data_gen/pseudo_code_rules.txt:2-10`), whether the
  * explicit salted paths ([[Skew.saltedSumCount]], [[Skew.saltedJoin]],
  * [[Skew.saltedJoinAgg]]) beat or match AQE's automatic skew
  * handling — with numbers, not plan-shape prose.
  *
  * Probes (each timed twice, min taken, AQE ON throughout — the
  * comparison is "explicit salt" vs "what Spark does by itself",
  * not "AQE off"):
  *  - agg_plain / agg_salted: groupBy(org).sum on the skewed fact.
  *    Expected: plain WINS or ties — partial (map-side) aggregation
  *    already collapses hot keys to one row per map task, so the salt
  *    only adds an exchange. The salted agg exists for non-collapsing
  *    aggregates; this probe documents that sum/count is NOT the case
  *    for it.
  *  - join_plain / join_salted: bare fact⋈dim shuffle join (broadcast
  *    disabled to force the shuffle path a fact-sized dim would take),
  *    consumed by a partitioning-agnostic count. MEASURED (40M rows,
  *    NOTES_r08): AQE's OptimizeSkewedJoin does NOT fire here — the
  *    split only applies when the join is the terminal stage of the
  *    query (probed: `SortMergeJoin(skew=true)` appears under
  *    `toRdd.count()` on the bare join, but vanishes once ANY operator
  *    sits on top, even a distribution-agnostic global count, tuned
  *    thresholds or not). Salted wins ~2.9×.
  *  - joinagg_plain / joinagg_salted: the same join followed by a
  *    same-key aggregate — splitting the hot join partition would
  *    break the hash-partitioning the downstream agg reuses, so AQE
  *    leaves the straggler whole (probed: no skew read in the final
  *    plan). Salted ([[Skew.saltedJoinAgg]]) wins ~2.5×. Since real
  *    pipelines always consume their joins, this — not the bare
  *    join — is the case that matters, and the salted operators are
  *    the only path that actually balances the hot key.
  *
  * Usage: SPARK_GRAFT_SKEW_ROWS=20000000 sbt "runMain graft.SkewBench"
  * Prints one JSON line per probe and a summary line.
  */
object SkewBench {

  /** Deterministic org-skew fact: ~50% of rows on one hot org, the
    * rest Zipf-ish over 10k orgs (hash-uniform is enough for the
    * reducer-imbalance question — what matters is the hot key's
    * share, not the tail's exact shape). */
  private def buildFact(spark: SparkSession, n: Long, dir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_OK"))) return
    spark.range(n)
      .select(
        when(col("id") % 2 === 0, lit(0L))
          .otherwise(pmod(hash(col("id")), lit(10000)).cast("long") + 1L)
          .as("org_id"),
        (pmod(hash(col("id") * 7), lit(100000)).cast("double") / 100.0)
          .as("amount"))
      .write.mode("overwrite").parquet(s"$dir/fact.parquet")
    spark.range(10001).select(col("id").as("org_id"),
        concat(lit("region_"), pmod(col("id"), lit(5))).as("region"))
      .write.mode("overwrite").parquet(s"$dir/dim.parquet")
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/_OK")).close()
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_SKEW_ROWS", "20000000").toLong
    val spark = Tool.start(Session.builder()
      // force the shuffle-join path: a 10k-row dim would broadcast and
      // make every join probe trivially skew-free, measuring nothing
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"))

    val dir = s"/tmp/graft_skew_$n"
    buildFact(spark, n, dir)
    val fact = spark.read.parquet(s"$dir/fact.parquet")
    val dim = spark.read.parquet(s"$dir/dim.parquet")

    def probe(name: String, df: => DataFrame): (String, Double) = {
      val t = math.min(Tool.secs(df.count()), Tool.secs(df.count()))
      println(f"""{"probe":"$name","sec":$t%.3f}""")
      name -> t
    }
    def join = fact.join(dim, Seq("org_id"))
    def plainAgg(df: DataFrame) = df.groupBy(col("org_id"))
      .agg(sum(col("amount")).as("total"), count(lit(1)).as("n"))

    // untimed warmup
    fact.groupBy(col("org_id")).agg(sum(col("amount"))).count()

    val results = Seq(
      probe("agg_plain", plainAgg(fact)),
      probe("agg_salted", Skew.saltedSumCount(fact, Seq("org_id"),
        col("amount"), "total", "n")),
      probe("join_plain", join),
      probe("join_salted", Skew.saltedJoin(fact, dim, Seq("org_id"))),
      probe("joinagg_plain", plainAgg(join)),
      probe("joinagg_salted", Skew.saltedJoinAgg(fact, dim, Seq("org_id"),
        col("amount"), "total", "n")),
      // hot-targeted: replicates only the hotKeyCount heaviest keys'
      // dim rows instead of the whole dim — the big-dim scale path;
      // pays one extra count pass, so on THIS small dim it should sit
      // near joinagg_salted, not beat it
      probe("joinagg_hot", Skew.saltedJoinAggHot(fact, dim,
        Seq("org_id"), col("amount"), "total", "n"))) ++ {
      // same two plain probes with AQE's skew split tuned AGGRESSIVE
      // (default 256 MB threshold leaves sub-256 MB stragglers whole):
      // does hand-tuned AQE close the gap the salt opens?
      val aqe = Seq(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
          "16m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")
      aqe.foreach { case (k, v) => spark.conf.set(k, v) }
      val tuned = Seq(probe("join_plain_aqe_tuned", join),
        probe("joinagg_plain_aqe_tuned", plainAgg(join)))
      aqe.foreach { case (k, _) => spark.conf.unset(k) }
      tuned
    }

    val body = results
      .map { case (k, v) => f""""$k":$v%.3f""" }.mkString(",")
    println(s"""{"skew_rows":$n,"probes":{$body}}""")
    spark.stop()
  }
}
