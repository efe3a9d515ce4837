package graft

/** The one session factory carries DEPLOYMENT.md's confs. Expected
  * values are written out from DEPLOYMENT.md, not read back from
  * GraftSession, so a drifted factory fails here. */
class GraftSessionSpec extends SparkSpec {

  test("load-bearing confs: subset co-partitioning allowed, UTC session zone") {
    assert(spark.conf.get("spark.sql.requireAllClusterKeysForCoPartition") == "false")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("the test session runs 4 shuffle partitions with the UI disabled") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("GraftExtensions is active: range-join rule and native functions") {
    assert(spark.sessionState.optimizer.extendedOperatorOptimizationRules
      .contains(graft.plans.BinnedIntervalJoinRule))
    assert(spark.catalog.functionExists("array_dot"))
    assert(spark.catalog.functionExists("bitmap_inter_count"))
  }
}
