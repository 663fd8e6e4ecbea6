package graft
import org.apache.spark.sql.SparkSession
/** Dev tool: time a subset of queries (median of 3) without the full
  * bench sweep. Usage: runMain graft.BenchSub <query...> */
object BenchSub {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // local-mode partition DISCOVERY: listing an 80-partition month
      // table as a distributed job costs ~0.2 s of scheduling per
      // (refresh, read) pair - a composed build pays it dozens of times
      // (measured, JobProfile q250). Up to 256 paths the driver lists
      // in microseconds; beyond that the distributed path is right.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "256")
      // the engine contract (SURVEY §1.2) and the NTZ→Timestamp coercion
      // in Tables both assume UTC wall-clock ≡ instant; an unpinned
      // session on a non-UTC machine would time a shifted workload
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try { SparkEntry.queries("q1_pricing_summary")(spark, sfDir).count(); () }
    catch { case _: Throwable => () }
    graft.operators.InternalCache.release()
    spark.catalog.clearCache()
    args.foreach { name =>
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).count()
        val e = (System.nanoTime() - t0) / 1e9
        graft.operators.InternalCache.release()
        // isolated timing: shared frames must NOT carry across reps
        graft.operators.SharedFrames.release()
        spark.catalog.clearCache()
        e
      }.sorted
      println(s"""{"q":"$name","median":${times(1)}}""")
    }
    spark.stop()
  }
}
