package graft

/** Pins the engine conf that [[GraftSession]] sets, as seen by every
  * suite through [[SparkSpec.session]] (4 cores). */
class GraftSessionSpec extends SparkSpec {

  test("the shared session carries every GraftSession conf") {
    val conf = spark.sparkContext.getConf
    val expected = Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "32",
      "spark.sql.files.maxPartitionBytes" -> "32m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "1500",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    expected.foreach { case (k, v) =>
      assert(conf.getOption(k) === Some(v), s"conf $k")
    }
    assert(!conf.contains("spark.sql.adaptive.coalescePartitions.minPartitionNum"))
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel.toString === "WARN")
  }
}
