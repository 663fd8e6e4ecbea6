package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for every suite (session startup dominates
  * test wall-clock otherwise), built by the same factory as the tool
  * mains. */
object TestSpark {
  val warehouse = "/tmp/graft_test_warehouse"

  lazy val spark: SparkSession = {
    // the catalog is in-memory, so table directories a stopped run left
    // behind are orphans that would fail the next run's CREATE with
    // LOCATION_ALREADY_EXISTS: start every run from an empty warehouse
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(warehouse))
    Tool.start(Session.builder(2)
      .appName("graft-test")
      // extras over the factory: a tiny shuffle width keeps plans fast
      // on test-sized data, and tables land in a throwaway warehouse
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", warehouse))
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
