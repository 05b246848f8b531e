package graft

import graft.streaming.GraftStream

class SessionProfileSpec extends SparkTestBase {

  test("the shared test session carries the profile's confs") {
    // builder-time confs land in the SparkConf, which specs' runtime
    // spark.conf.set calls leave alone
    val conf = spark.sparkContext.getConf
    Seq(
      "spark.master" -> "local[8]",
      "spark.app.name" -> "graft-test",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1000000",
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "3000",
      "spark.ui.enabled" -> "false",
      "spark.sql.ui.retainedExecutions" -> "8",
      "spark.ui.retainedJobs" -> "50",
      "spark.ui.retainedStages" -> "200",
      "spark.ui.retainedTasks" -> "2000",
      "spark.ui.retainedDeadExecutors" -> "1"
    ).foreach { case (k, v) => assert(conf.getOption(k).contains(v), k) }
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass") ==
      GraftStream.RocksDbProvider)
    assert(spark.conf.get(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled") == "true")
  }
}
