package graft

/** The session factory every tool main and the test session start
  * from: its defaults are pinned here, because a hand-built session
  * that silently lacked one (UTC, once) timed a different workload. */
class SessionSpec extends SparkSpec {

  test("the factory's confs: n shuffle partitions, UTC, 256-path discovery, no UI") {
    for (n <- Seq(1, 4, 32)) {
      val c = Session.conf(n)
      assert(c("spark.sql.shuffle.partitions") == n.toString)
      assert(c("spark.sql.session.timeZone") == "UTC")
      assert(c("spark.sql.sources.parallelPartitionDiscovery.threshold") ==
        "256")
      assert(c("spark.ui.enabled") == "false")
    }
  }

  test("a factory-built session carries every default") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get(
      "spark.sql.sources.parallelPartitionDiscovery.threshold") == "256")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("caller extras override the defaults they name") {
    // the test session asks for local[2] with 4 shuffle partitions;
    // the factory's own default for n = 2 would be 2
    assert(spark.sparkContext.master == "local[2]")
    assert(Session.conf(2)("spark.sql.shuffle.partitions") == "2")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.warehouse.dir")
      .endsWith(TestSpark.warehouse))
  }
}
