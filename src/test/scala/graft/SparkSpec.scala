package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for every suite (session startup dominates
  * test wall-clock otherwise). UTC + tiny shuffle width to keep plans
  * deterministic and fast on test-sized data. */
object TestSpark {
  val warehouse = "/tmp/graft_test_warehouse"

  lazy val spark: SparkSession = {
    // the catalog is in-memory, so table directories a stopped run left
    // behind are orphans that would fail the next run's CREATE with
    // LOCATION_ALREADY_EXISTS: start every run from an empty warehouse
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(warehouse))
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      // local-mode partition DISCOVERY: listing an 80-partition month
      // table as a distributed job costs ~0.2 s of scheduling per
      // (refresh, read) pair - a composed build pays it dozens of times
      // (measured, JobProfile q250). Up to 256 paths the driver lists
      // in microseconds; beyond that the distributed path is right.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "256")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Base: FunSuite + the shared session + tiny helpers. */
abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import org.apache.spark.sql.Row

  def rows(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.collect().toSeq

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
}
