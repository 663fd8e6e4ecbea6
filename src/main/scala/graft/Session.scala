package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession configuration: every tool main and the
  * test session start from [[builder]] and add only their own extras.
  * A later `.master`/`.config` on the same key wins, so an extra
  * overrides the default it names. */
object Session {

  /** Worker threads: `SPARK_GRAFT_CPUS`, else the machine's cores. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.trim.toInt)

  /** The session confs of a `local[n]` run. */
  def conf(n: Int): Map[String, String] = Map(
    // one reducer per worker thread: a local run has no executors to
    // spread over, so a wider shuffle only adds per-task scheduling
    "spark.sql.shuffle.partitions" -> n.toString,
    // local-mode partition DISCOVERY: listing an 80-partition month
    // table as a distributed job costs ~0.2 s of scheduling per
    // (refresh, read) pair - a composed build pays it dozens of times
    // (measured, JobProfile q250). Up to 256 paths the driver lists
    // in microseconds; beyond that the distributed path is right.
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "256",
    // the engine contract (SURVEY §1.2) and the NTZ→Timestamp coercion
    // in Tables both assume UTC wall-clock ≡ instant; an unpinned
    // session on a non-UTC machine would compute and time a shifted
    // workload
    "spark.sql.session.timeZone" -> "UTC",
    // batch tools and tests: nobody browses the UI, and it would cost
    // a port and a listener bus consumer per session
    "spark.ui.enabled" -> "false")

  /** `local[n]` with [[conf]]`(n)`, not yet created. */
  def builder(n: Int = cpus): SparkSession.Builder =
    conf(n).foldLeft(SparkSession.builder().master(s"local[$n]")) {
      case (b, (k, v)) => b.config(k, v)
    }
}
